"""Benchmark-contamination detection (extension; absent in reference).

The standard eval-decontamination check for pretraining corpora:
a training document is contaminated if it shares at least one word
n-gram with a benchmark/eval document. Implemented as a distributed
hash join on the gram fingerprint:

  1. tokenize (normalized, whitespace) — map-only
  2. per-doc DISTINCT word n-grams, fingerprinted with md5 — map-only;
     the join key is the 32-hex digest, so shuffle rows carry a fixed
     16-byte-ish key instead of the raw n-gram text (the scale knob;
     md5 rather than xxhash64 so the DuckDB oracle can reproduce it)
  3. corpus-grams JOIN benchmark-grams on the fingerprint — benchmark
     sets are eval-suite-sized (thousands of docs), so AQE broadcasts
     the benchmark side and the corpus never shuffles
  4. groupBy(doc) count — partial-aggregated map-side

Never materializes doc x doc pairs; cost is O(corpus tokens) + one
broadcast join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..engine import fanout_repartition, normalize_text


def word_ngrams(toks: Column, n: int) -> Column:
    """Array of space-joined word n-grams of a MATERIALIZED token
    array column. Documents shorter than ``n`` tokens contribute one
    whole-document gram so they still participate.
    """
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


def _gram_table(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(__id, __g): one row per DISTINCT md5-fingerprinted word n-gram
    per document. Tokenization is materialized behind an exchange so
    the per-element gram expressions read a concrete column."""
    base = df.select(
        F.col(id_col).alias("__id"),
        F.split(normalize_text(text_col), " ").alias("__toks"),
    ).transform(lambda d: fanout_repartition(d, "__id"))
    return base.select(
        "__id",
        F.explode(F.array_distinct(word_ngrams(F.col("__toks"), n))).alias("__gram"),
    ).select("__id", F.md5("__gram").alias("__g"))


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Per-document contamination counts: (id_col, n_shared_grams)
    for every corpus document sharing >= 1 word ``n``-gram with any
    benchmark document. Docs with zero overlap are absent (filter
    semantics — the decontaminate step is an anti-join on this).
    """
    bench = _gram_table(benchmark, id_col, text_col, n).select("__g").distinct()
    corp = _gram_table(corpus, id_col, text_col, n)
    return (
        corp.join(bench, "__g")
        .groupBy("__id")
        .agg(F.count("*").alias("n_shared_grams"))
        .select(F.col("__id").alias(id_col), "n_shared_grams")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_shared: int = 0,
) -> DataFrame:
    """Drop corpus documents sharing more than ``max_shared`` word
    n-grams with the benchmark set (left_anti on the contamination
    table — no row of the corpus is widened or shuffled)."""
    hits = ngram_contamination(corpus, benchmark, id_col, text_col, n).filter(
        F.col("n_shared_grams") > max_shared
    )
    return corpus.join(hits.select(id_col), id_col, "left_anti")


def ngram_novelty(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Per-document n-gram NOVELTY against everything that came
    before it (ascending ``id_col`` = ingest order): the fraction of
    a document's distinct word n-grams whose FIRST corpus appearance
    is this document. Freshly-written content scores ~1; a re-crawl
    or near-copy of earlier documents scores ~0 — the incremental-
    curation signal for "is this batch adding anything new".

    Emits ``(id_col, n_grams, n_novel, novelty)`` for every non-NULL-
    text document.

    Shape (the scale knob is that doc x doc comparison never
    happens): one distinct-gram stream (1 row per token, md5
    16-byte keys), ONE aggregation to first-appearance per gram
    (min doc id — partial-aggregated map-side), then two tiny
    per-document count aggregations joined at |docs| cardinality.
    Cost is O(corpus tokens) regardless of duplication structure —
    contrast with pairwise dedup, which this complements as a cheap
    corpus-level screen.
    """
    grams = _gram_table(
        corpus.filter(F.col(text_col).isNotNull()), id_col, text_col, n
    )
    first = grams.groupBy("__g").agg(F.min("__id").alias("__first"))
    novel = first.groupBy("__first").agg(
        F.count(F.lit(1)).cast("long").alias("n_novel")
    )
    totals = grams.groupBy("__id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    return (
        totals.join(
            novel.withColumnRenamed("__first", "__id"), "__id", "left"
        )
        .select(
            F.col("__id").alias(id_col),
            "n_grams",
            F.coalesce("n_novel", F.lit(0).cast("long")).alias("n_novel"),
            (
                F.round(
                    F.coalesce("n_novel", F.lit(0).cast("long"))
                    * F.lit(1.0)
                    / F.col("n_grams"),
                    4,
                )
                + F.lit(0.0)
            ).alias("novelty"),
        )
    )


def semantic_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    round_to: int = 4,
) -> DataFrame:
    """Embedding-level eval-set contamination screen: for every
    corpus vector, the MAX cosine similarity against ANY benchmark
    vector, plus a ``contaminated`` flag at ``threshold`` — the
    semantic complement of ``ngram_contamination`` (paraphrased eval
    questions share no 8-gram but sit next to the eval set in
    embedding space). Emits ``(id_col, max_cos, contaminated)`` for
    every non-NULL-embedding corpus row.

    Shape: the benchmark side is eval-suite-sized, so it broadcasts
    and the corpus NEVER shuffles raw vectors — scoring is map-side
    JVM expressions over the broadcast batch, and the per-id max is
    partial-aggregated before its one |corpus|-row shuffle. At a
    benchmark too big to broadcast, pre-filter candidates with the
    LSH/IVF buckets (similarity.py) and apply the same max within
    buckets.

    Zero-norm rows follow the cosine() NULL convention on BOTH sides:
    a degenerate benchmark vector contributes NULL (never NaN) so it
    cannot poison the max; a corpus row with no defined score emits a
    NULL max_cos and ``contaminated = false``, visibly.
    """
    from .similarity import cosine

    c = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__vc")
    )
    b = benchmark.filter(F.col(vec_col).isNotNull()).select(
        F.col(vec_col).cast("array<double>").alias("__vb")
    )
    scored = c.crossJoin(F.broadcast(b)).select(
        id_col,
        F.round(cosine(F.col("__vc"), F.col("__vb")), round_to).alias("__cs"),
    )
    return (
        scored.groupBy(id_col)
        .agg(F.max("__cs").alias("max_cos"))
        .select(
            id_col,
            "max_cos",
            F.coalesce(F.col("max_cos") >= threshold, F.lit(False)).alias(
                "contaminated"
            ),
        )
    )
