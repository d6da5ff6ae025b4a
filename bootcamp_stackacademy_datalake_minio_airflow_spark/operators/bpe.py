"""BPE vocabulary training (extension).

Byte-pair encoding (Sennrich et al., "Neural Machine Translation of
Rare Words with Subword Units", ACL 2016) learns a tokenizer by
repeatedly merging the corpus's most frequent adjacent symbol pair.
The corpus-sized work is ONE distributed aggregation: the weighted
distinct-word vocabulary (``word_vocab``). Its rows are collected
once, and the merge rounds run in driver Python over them, as
reference BPE trainers do — each round recounts the weighted
adjacent pairs in O(sum of word lengths) and takes the argmax, with
no Spark job per round.

Representation: one row per DISTINCT word with its corpus frequency;
the word's current segmentation is a space-joined symbol string
('h e l l o'). A merge rewrites the string through a DOUBLED-
separator form: adjacent pair occurrences share a boundary space
(' a b a b ' — the first ' a b ' match consumes the space the second
needs), so the replace runs on '  '-joined symbols where every
occurrence owns its own boundary chars; left-to-right non-overlapping
replacement then merges every occurrence, exactly BPE's greedy order,
and identically in Spark (``_apply_merge``, which ``bpe_segment``
applies), driver Python (``_merge_word``, which training applies)
and DuckDB — which is what lets the registered oracle re-derive the
whole merge table independently (argmax ties break on (count desc,
pair asc), integer counts, no floats anywhere).

Scale notes: the driver holds |V| (word, count) rows — distinct
words, millions for a 100 TB corpus, not billions — plus one pair
counter per round. Segmenting documents with the learned table stays
a distributed map-only pass.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import fanout_repartition, normalize_text


def word_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """(w, cnt): every distinct word, char-segmented ('h e l l o'),
    with its corpus frequency."""
    # one narrow text-projection exchange ahead of the token explode
    # so the fan-out + partial word counts run one task per core
    # rather than inside the scan stage (one task on a single-
    # row-group parquet; guide §2.5 repartition-after-read). Keyed on
    # a synthetic per-row id, NOT the text value: hashing on the text
    # itself collapses a duplicate-heavy corpus onto a few partitions
    # (ADVICE r12 #4), while keyless round-robin pays a local
    # sort-before-repartition of the FULL document rows (measured
    # ~0.4s at sf0.1). monotonically_increasing_id is deterministic
    # per scan layout and placement is semantics-free — the
    # downstream groupBy("word") re-aggregates regardless.
    words = (
        df.select(
            F.col(text_col).alias("__txt"),
            F.monotonically_increasing_id().alias("__rid"),
        )
        .transform(lambda d: fanout_repartition(d, "__rid"))
        .select(F.explode(F.split(normalize_text("__txt"), " ")).alias("word"))
        .filter(F.length("word") > 0)
    )
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt")).select(
        F.trim(F.regexp_replace("word", "(.)", "$1 ")).alias("w"), "cnt"
    )


def _apply_merge(col, pat: str, merged: str):
    """Merge every occurrence of adjacent pair ``pat`` ('a b') in a
    space-joined symbol string: lift to the doubled-separator form
    (each occurrence owns its boundary chars), replace, collapse."""
    doubled = F.concat(
        F.lit(" "), F.replace(col, F.lit(" "), F.lit("  ")), F.lit(" ")
    )
    l, r = pat.split(" ")
    replaced = F.replace(
        doubled, F.lit(f" {l}  {r} "), F.lit(f" {merged} ")
    )
    return F.replace(F.trim(replaced), F.lit("  "), F.lit(" "))


def _merge_word(w: str, pat: str, merged: str) -> str:
    """Driver twin of ``_apply_merge`` on one symbol string: the same
    doubled-separator replace, ``strip(" ")`` for Spark's ``trim``
    (which strips spaces only) and the same collapse."""
    l, r = pat.split(" ")
    doubled = " " + w.replace(" ", "  ") + " "
    replaced = doubled.replace(f" {l}  {r} ", f" {merged} ")
    return replaced.strip(" ").replace("  ", " ")


def bpe_train(
    df: DataFrame, text_col: str, n_merges: int = 10
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns ``[(rank, pair, merged,
    pair_count)]`` in learned order. One distributed word count,
    collected once; the rounds run on the driver. The argmax takes
    (count desc, pair asc): Python orders strings by code point, the
    same order as the UTF-8 byte comparison of Spark and the oracle."""
    vocab = [(r.w, r.cnt) for r in word_vocab(df, text_col).collect()]
    merges: list[tuple[int, str, str, int]] = []
    for k in range(n_merges):
        counts: Counter[str] = Counter()
        for w, cnt in vocab:
            sym = w.split(" ")
            for a, b in zip(sym, sym[1:]):
                counts[f"{a} {b}"] += cnt
        if not counts:
            break
        pat, best = min(counts.items(), key=lambda pc: (-pc[1], pc[0]))
        merged = pat.replace(" ", "")
        merges.append((k, pat, merged, best))
        vocab = [(_merge_word(w, pat, merged), cnt) for w, cnt in vocab]
    return merges


def bpe_segment(
    df: DataFrame, text_col: str, merges: list[tuple[int, str, str, int]]
) -> DataFrame:
    """Apply a learned merge table to a text column; adds
    ``bpe_tokens`` (per-row subword count) — the map-only inference
    side of the trainer."""
    # char-segment the whole normalized text, keeping word boundaries
    # as a symbol that can never merge (the '␟' separator is not
    # produced by any pair)
    sep = "␟"
    seg = F.trim(
        F.regexp_replace(
            F.regexp_replace(normalize_text(text_col), " ", sep), "(.)", "$1 "
        )
    )
    out = df.withColumn("__seg", seg)
    for _rank, pat, merged, _cnt in merges:
        out = out.withColumn("__seg", _apply_merge(F.col("__seg"), pat, merged))
    return out.withColumn(
        "bpe_tokens",
        # empty/whitespace-only text segments to '' — split('') yields
        # [''] (size 1), so the subtraction formula would report 1
        # token for zero content
        F.when(F.length("__seg") == 0, F.lit(0)).otherwise(
            F.size(F.split("__seg", " ")) - F.size(F.split("__seg", sep)) + 1
        ),
    ).drop("__seg")
