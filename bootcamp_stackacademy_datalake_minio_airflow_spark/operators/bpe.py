"""Distributed BPE vocabulary training (extension).

Byte-pair encoding (Sennrich et al., "Neural Machine Translation of
Rare Words with Subword Units", ACL 2016) learns a tokenizer by
repeatedly merging the corpus's most frequent adjacent symbol pair.
The training loop is the archetypal "iterative algorithm over 100 TB
of text": each round is ONE distributed aggregation (pair counts over
the weighted vocabulary) and one driver-side argmax of a single row —
the corpus/vocab never collects.

Representation: one row per DISTINCT word with its corpus frequency;
the word's current segmentation is a space-joined symbol string
('h e l l o'). A merge rewrites the string through a DOUBLED-
separator form: adjacent pair occurrences share a boundary space
(' a b a b ' — the first ' a b ' match consumes the space the second
needs), so the replace runs on '  '-joined symbols where every
occurrence owns its own boundary chars; left-to-right non-overlapping
replacement then merges every occurrence, exactly BPE's greedy order,
and identically in Spark and DuckDB — which is what lets the
registered oracle re-derive the whole merge table independently
(argmax ties break on (count desc, pair asc), integer counts, no
floats anywhere).

Scale notes: the distributed state is the vocab table (distinct
words — millions of rows for a 100 TB corpus, not billions), rebuilt
lazily per round and truncated with an eager localCheckpoint so round
k's pair-count job does not re-execute rounds 1..k-1's replaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import drop_checkpoint, fanout_repartition, materialize, normalize_text


def word_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """(w, cnt): every distinct word, char-segmented ('h e l l o'),
    with its corpus frequency."""
    # one narrow text-projection exchange ahead of the token explode
    # so the fan-out + partial word counts run at shuffle parallelism
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


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """(p, s): adjacent symbol pairs ('l l') weighted by word count —
    one codegen explode + one partial-aggregated exchange."""
    sym = vocab.select(F.split("w", " ").alias("sym"), "cnt").select(
        "sym",
        "cnt",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("sym") - 1, F.lit(1)))
        ).alias("i"),
    ).filter(F.size("sym") > 1)
    pair = F.concat(
        F.element_at("sym", F.col("i")),
        F.lit(" "),
        F.element_at("sym", F.col("i") + 1),
    )
    return sym.select(pair.alias("p"), "cnt").groupBy("p").agg(
        F.sum("cnt").alias("s")
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


def bpe_train(
    df: DataFrame, text_col: str, n_merges: int = 10
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns ``[(rank, pair, merged,
    pair_count)]`` in learned order. One distributed pair-count
    aggregation + a 1-row argmax collect per round. Each round's
    vocab checkpoint is freed once the next one is materialized, and
    the last one on return."""
    vocab = materialize(word_vocab(df, text_col))
    merges: list[tuple[int, str, str, int]] = []
    for k in range(n_merges):
        best = (
            _pair_counts(vocab)
            .orderBy(F.desc("s"), F.asc("p"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        pat, cnt = best[0].p, int(best[0].s)
        merged = pat.replace(" ", "")
        merges.append((k, pat, merged, cnt))
        merged_vocab = materialize(
            vocab.select(_apply_merge(F.col("w"), pat, merged).alias("w"), "cnt")
        )
        drop_checkpoint(vocab)
        vocab = merged_vocab
    drop_checkpoint(vocab)
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
