"""Retrieval / corpus-scoring operators for training-data pipelines.

Extension beyond the reference (which has no text analytics at all —
`/root/reference/scripts/silver_to_gold/ingestion_vendas_silver_to_gold.py`
is its only query): ranked keyword retrieval (BM25), statistical
language-model quality scoring (bigram NLL, the CCNet-style
perplexity-filter shape), fixed-window token chunking for training
sequences, and positional phrase search.

Scale design (100 TB posture):
- ``chunk_tokens`` and ``phrase_positions`` are MAP-ONLY — pure array
  expressions inside whole-stage codegen, zero shuffles, zero Python.
  At 1000 executors they scan, transform, and emit with no exchange.
- ``bm25_topk`` and ``bigram_nll_score`` follow the classic two-level
  shape: one token-explode aggregation over the corpus (map-side
  partial + one shuffle on the token/bigram key), then tiny
  corpus-statistics tables (df/idf, bigram probabilities, scalar
  N/avgdl) broadcast back onto the per-doc rows. The model/stat side
  is O(vocab²) at worst, orders of magnitude smaller than the corpus,
  so the broadcast holds at scale; the corpus side is never collected.
- All expressions are pyspark.sql.functions / SQL lambdas (JVM
  codegen); every stage has an exact ANSI-SQL twin for the DuckDB
  oracle (same smoothing constants, same tie-breaks, same rounding).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..engine import fanout_repartition, normalize_text

__all__ = [
    "bm25_topk",
    "bigram_nll_score",
    "chunk_tokens",
    "phrase_positions",
    "tfidf_top_terms",
]


def _toks(text_col: str | Column) -> Column:
    return F.split(normalize_text(text_col), " ")


# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 15,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents for a bag-of-words query under BM25.

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))  (Robertson/Sparck-Jones,
    +1 so it is always positive); score(d) = Σ_t idf(t) · tf·(k1+1) /
    (tf + k1·(1 - b + b·dl/avgdl)). Deterministic output: score is
    ROUNDed to 4 before the sort and ties break on ``id_col``.

    Query terms are normalized driver-side (lowercase + trim) to the
    same canonical form the corpus tokens get from normalize_text —
    a raw uppercase query used to silently match nothing (review
    finding). Duplicate query terms collapse (set semantics; isin has
    no multiplicity) and an empty query raises instead of silently
    returning zero rows.

    Plan: explode tokens → filter to the query terms (the filter lands
    before the aggregation, so only query-term postings shuffle) →
    per-(doc, term) tf with the doc length CARRIED THROUGH the
    aggregation key (dl is functionally dependent on the doc id, so
    grouping on it is free and avoids a corpus-sized dl join — review
    finding); df/idf and the (N, avgdl) scalars are tiny aggregates
    broadcast back. Two scans of the corpus (postings + the length
    aggregate), one real shuffle over query-term postings only.
    """
    terms = sorted({t.strip().lower() for t in terms if t and t.strip()})
    if not terms:
        raise ValueError("terms must contain at least one non-blank term")
    # blank docs must not inflate N/avgdl: split('') is [''] (size 1),
    # so the size guard alone admits them — gate on trimmed length,
    # matching token_count()'s zero-token definition. NULL ids are
    # dropped too: a result row needs an identity, and every DuckDB
    # oracle of this family loses NULL ids at its tf JOIN dls equi-join
    # anyway — keeping them here let a NULL-id doc occupy a top-k slot
    # on the Spark side only (r8 review finding).
    # repartition the narrow (id, tokens) projection before the two
    # consumers (length stats + posting explode): the exchange
    # decouples the token fan-out from scan splits (one task on a
    # single-row-group parquet — guide §2.5), and both consumers
    # reuse the SAME exchange output (ReusedExchange), so the
    # normalize+split pipeline runs once instead of twice.
    base = (
        docs.filter(
            F.col(id_col).isNotNull() & (F.length(F.trim(F.col(text_col))) > 0)
        )
        .select(F.col(id_col), _toks(text_col).alias("toks"))
        .transform(lambda d: fanout_repartition(d, id_col))
    )
    # scalar corpus stats: one row, broadcast
    stats = base.select(F.size("toks").cast("long").alias("dl")).agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        base.select(
            F.col(id_col),
            F.size("toks").cast("long").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .filter(F.col("term").isin(*terms))
        .groupBy(id_col, "dl", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    idf = df_.crossJoin(F.broadcast(stats.select("n_docs"))).select(
        "term",
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        ).alias("idf"),
    )
    scored = (
        tf.join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * (k1 + 1.0))
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("contrib"), 4).alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


# ---------------------------------------------------------------------------
# Bigram language-model quality scoring (perplexity-filter shape)
# ---------------------------------------------------------------------------


def bigram_nll_score(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    add_k: float = 0.5,
) -> DataFrame:
    """Average negative log-likelihood of each document under an
    add-k-smoothed bigram LM trained on the SAME corpus — the standard
    statistical quality-filter (low NLL = fluent/typical text, high =
    outlier/garbage; cf. the CCNet perplexity filter).

    P(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V), with c(w1·) summed
    from the bigram table (so the model is self-consistent) and V the
    corpus-wide distinct-unigram count. Emits one row per document
    with ≥1 bigram: (doc_id, n_bigrams, avg_nll ROUNDed to 4).

    Plan: one bigram-explode aggregation trains the model (vocab² at
    worst — tiny next to the corpus), broadcast-joined back onto the
    per-doc bigram counts. The corpus never leaves the executors.
    """
    # one narrow (id, tokens) exchange shared by BOTH the bigram
    # branch and the vocabulary scalar (ReusedExchange): tokenization
    # runs once, and the bigram explode + vocabulary distinct run at
    # core parallelism instead of inside the (possibly one-task)
    # scan stage — guide §2.5 repartition-after-read.
    base0 = (
        docs.select(F.col(id_col), _toks(text_col).alias("toks"))
        .transform(lambda d: fanout_repartition(d, id_col))
    )
    base = base0.filter(F.size("toks") >= 2)
    # per-doc bigram multiset, as "w1 w2" strings (breadth6 bigram idiom)
    bg = base.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, 2)),
            )
        ).alias("b"),
    )
    doc_bg = bg.groupBy(id_col, "b").agg(F.count("*").cast("double").alias("tf"))
    # corpus bigram counts AGGREGATE the per-doc table (sum of per-doc
    # tf == corpus count) instead of re-deriving from bg: bg is uncached
    # and the two aggregations shuffle on different keys, so the
    # explode used to run twice over the corpus (review finding)
    bcnt = doc_bg.groupBy("b").agg(F.sum("tf").alias("c12"))
    c1 = bcnt.select(
        F.split("b", " ").getItem(0).alias("w1"), F.col("c12")
    ).groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (
        base0.select(F.explode("toks").alias("w"))
        # split('') is [''] — the blank-doc artifact token is not a
        # unigram and must not inflate V (same guard as bm25/chunking)
        .filter(F.col("w") != "")
        .agg(F.countDistinct("w").cast("double").alias("v"))
    )
    probs = (
        bcnt.withColumn("w1", F.split("b", " ").getItem(0))
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "b",
            (-F.log(
                (F.col("c12") + F.lit(add_k))
                / (F.col("c1") + F.lit(add_k) * F.col("v"))
            )).alias("nll"),
        )
    )
    return (
        doc_bg.join(F.broadcast(probs), "b")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.round(F.sum(F.col("tf") * F.col("nll")) / F.sum("tf"), 4).alias(
                "avg_nll"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Fixed-window token chunking (training-sequence windows with stride)
# ---------------------------------------------------------------------------


def chunk_tokens(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Split each document's token stream into overlapping fixed-size
    training windows (window tokens every stride — the standard LM
    pre-training chunking with window-stride overlap).

    Emits (doc_id, chunk_idx, start_tok, chunk_len, first_token) for
    every window start 0, stride, 2·stride, … < n_tokens.

    MAP-ONLY: sequence() + explode inside codegen; no shuffle, no
    Python. At 100 TB this is a pure scan→flatMap, embarrassingly
    parallel.

    The tokenization is bound ONCE per row via the single-element-array
    lambda trick (``transform(array(toks), tk -> ...)``): projection
    collapse otherwise inlines the regex+split into every reference,
    re-tokenizing the document per chunk (transform() re-evaluates its
    target expression per element) — here solved without an exchange,
    keeping the plan map-only.

    Requires ``stride <= window``: a larger stride would silently skip
    the tokens between window and stride ends (found by the coverage
    property test) — every token must land in at least one chunk.
    """
    if stride > window or stride <= 0:
        raise ValueError(
            f"stride ({stride}) must be in [1, window ({window})]: larger "
            "strides leave tokens uncovered"
        )

    def per_doc(tk: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.size(tk) - 1, F.lit(stride)),
            lambda s: F.struct(
                s.alias("start"),
                F.least(F.lit(window), F.size(tk) - s).alias("len"),
                F.get(tk, s).alias("first"),
            ),
        )

    chunks = F.get(F.transform(F.array(_toks(text_col)), per_doc), 0)
    return (
        # blank docs emit NO chunk (split('') is [''], which would
        # otherwise yield a phantom 1-token window of empty string)
        docs.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col), F.explode(chunks).alias("c"))
        .select(
            id_col,
            (F.col("c.start") / stride).cast("long").alias("chunk_idx"),
            F.col("c.start").cast("long").alias("start_tok"),
            F.col("c.len").cast("long").alias("chunk_len"),
            F.col("c.first").alias("first_token"),
        )
    )


# ---------------------------------------------------------------------------
# Positional phrase search
# ---------------------------------------------------------------------------


def phrase_positions(
    docs: DataFrame,
    phrase: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All documents containing ``phrase`` as consecutive tokens, with
    the match count and first match position (0-based token offset).

    MAP-ONLY — the positional scan is a filter(transform(...)) array
    expression per row, no explode, no join, no shuffle; the
    inverted-index alternative (posting-list join) only wins when many
    queries amortize one index build, so for a single phrase the
    scan-side evaluation is the right plan at any scale.

    The token array is bound ONCE per row with the
    single-element-array lambda trick (see chunk_tokens): without it,
    projection collapse re-tokenizes the document for every element
    lookup in the scan — measured 20x slower at sf0.1.
    """
    if not phrase:
        raise ValueError("phrase must be non-empty")
    # canonicalize to the corpus token form (normalize_text lowercases
    # before splitting) — a raw uppercase phrase silently matched
    # nothing (review finding); blank words can never be tokens
    phrase = [w.strip().lower() for w in phrase]
    if any(not w for w in phrase):
        raise ValueError("phrase words must be non-blank")
    span = len(phrase)

    def scan(tk: Column) -> Column:
        def probe(_x: Column, i: Column) -> Column:
            cond = (i + span - 1) < F.size(tk)
            for j, w in enumerate(phrase):
                cond = cond & (F.get(tk, i + j) == F.lit(w))
            return F.when(cond, i).otherwise(F.lit(-1))

        return F.filter(F.transform(tk, probe), lambda p: p >= 0)

    ps = F.get(F.transform(F.array(_toks(text_col)), scan), 0)
    return (
        docs.select(F.col(id_col), ps.alias("ps"))
        .filter(F.size("ps") > 0)
        .select(
            id_col,
            F.size("ps").cast("long").alias("n_matches"),
            F.element_at("ps", 1).cast("long").alias("first_pos"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    id_col: str = "doc_id",
    k: int = 5,
    round_to: int = 4,
) -> DataFrame:
    """Top-k characteristic terms per group by tf-idf (tf = term
    occurrences in the group's docs, idf = ln(N / df) over documents)
    — the classic "what is this source about" curation summary,
    complementing BM25 (per-query ranking) and term-lift (frequency
    ratio).

    Emits ``(group, term, tf, score)``, k rows per group, ties broken
    on term. Shape: explode once, aggregate (group, term) tf and
    per-term doc frequency from the SAME exploded pass via two
    cascaded aggs, join on term (tf table and df table are both
    vocabulary-sized — orders of magnitude smaller than the corpus),
    then one window top-k per group. ln(N/df) divides inside the log
    on both engines; score multiplies tf AFTER, so the double is
    bit-identical before ROUND.
    """
    pairs = (
        df.select(
            F.col(id_col).alias("__id"),
            F.col(group_col).alias("grp"),
            F.explode(_toks(text_col)).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    n_docs = df.select(F.count("*").cast("double").alias("__n"))
    # collapse the corpus ONCE to per-(doc, term) counts; tf and the
    # doc frequency both derive from that vocabulary-scale table
    # (previously each aggregation re-ran the corpus explode under a
    # different shuffle key — review finding). One row per (doc, term)
    # [a doc has one group], so COUNT(*) per term IS the doc frequency.
    per_doc = pairs.groupBy("__id", "grp", "term").agg(
        F.count("*").cast("long").alias("__c")
    )
    tf = per_doc.groupBy("grp", "term").agg(
        F.sum("__c").cast("long").alias("tf")
    )
    dfreq = per_doc.groupBy("term").agg(
        F.count("*").cast("double").alias("__df")
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "grp",
            "term",
            "tf",
            (F.col("tf") * F.log(F.col("__n") / F.col("__df"))).alias("__s"),
        )
    )
    # salted tournament, not one window per group: `scored` is
    # vocabulary-sized per group, and a window partition holding an
    # open-vocab web source's whole term list cannot be AQE-split
    from .sampling import bottom_k_per_group

    topk = bottom_k_per_group(
        scored,
        ["grp"],
        [F.desc("__s"), F.col("term")],
        k,
        F.pmod(F.xxhash64(F.col("term")), F.lit(64)),
    )
    return topk.select(
        "grp", "term", "tf", F.round("__s", round_to).alias("score")
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "doc_id",
    rank_col: str = "rnk",
    k_rrf: int = 60,
    topk: int = 10,
    round_to: int = 4,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked candidate lists (Cormack
    et al. 2009): score(d) = Σ_lists 1/(k + rank_d) — the standard
    hybrid-retrieval combiner for a lexical arm (BM25) and a semantic
    arm (embedding cosine), robust to the arms' incomparable score
    scales because only RANKS enter the sum. Documents present in one
    arm contribute that arm's term alone (full outer join).

    Both inputs carry ``(id_col, rank_col)`` with 1-based ranks. The
    arms are top-k-sized (not corpus-sized) by construction, so the
    fusion join is trivially small whatever the corpus size; output
    is the fused top-``topk`` ordered by (ROUNDed score DESC, id) —
    rounded-then-tie-broken so both engines cut the same boundary.
    """
    a = ranked_a.select(F.col(id_col), F.col(rank_col).alias("__ra"))
    b = ranked_b.select(F.col(id_col), F.col(rank_col).alias("__rb"))
    fused = a.join(b, id_col, "full_outer").select(
        id_col,
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(k_rrf) + F.col("__ra")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(k_rrf) + F.col("__rb")), F.lit(0.0)),
            round_to,
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc(id_col)).limit(topk)


def ndcg_at_k(
    docs: DataFrame,
    terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    round_to: int = 4,
) -> DataFrame:
    """nDCG@k of the BM25 ranking against a deterministic graded
    relevance — the ranking-quality metric the retrieval family was
    missing (classification_report covers label tasks; nothing graded
    ranked lists). Relevance gold: ``rel(d) = |query terms present in
    d|`` (0..|terms|) — the standard term-overlap grade when no human
    judgments exist, and deterministic so an independent engine
    replays it. Emits ONE row ``(k, dcg, idcg, ndcg)`` with
    DCG = Σ_pos (2^rel − 1) / log2(pos + 1).

    Scale shape: the ranked arm is bm25_topk (corpus shuffle only on
    query-term postings, then TakeOrdered k); its relevance join
    broadcasts k rows against the corpus scan. The ideal arm needs
    only the TOP-k relevance grades — orderBy+limit compiles to
    TakeOrderedAndProject, never a global sort — and tie order cannot
    change IDCG (tied grades contribute identical terms whichever doc
    takes the position). An empty corpus yields NULL dcg/idcg/ndcg
    (SUM over nothing) on both engines; idcg = 0 (all-irrelevant
    corpus) guards the division to NULL rather than raising.
    """
    base = docs.filter(
        F.col(id_col).isNotNull()
        & F.col(text_col).isNotNull()
        & (F.length(F.trim(F.col(text_col))) > 0)
    ).select(
        F.col(id_col).alias("__id"),
        F.size(
            F.array_intersect(
                F.array_distinct(F.split(normalize_text(text_col), " ")),
                F.array(*[F.lit(t.strip().lower()) for t in terms]),
            )
        ).alias("__rel"),
    )
    ranked = bm25_topk(docs, terms, id_col=id_col, text_col=text_col, k=k).select(
        F.col(id_col).alias("__id"), "score"
    )
    # position over the k-row (post-limit) result — bounded frame.
    # Tie-breaks are asc_nulls_last: Spark's plain asc sorts NULLS
    # FIRST while the DuckDB oracle's ORDER BY defaults NULLS LAST, so
    # a NULL id landing on a score/rel tie at the k boundary would
    # order differently across engines and flip DCG/IDCG.
    wpos = Window.orderBy(F.desc("score"), F.asc_nulls_last("__id"))
    pos = ranked.select("__id", F.row_number().over(wpos).alias("__pos"))
    # broadcast the k-row ranked side against the corpus scan
    dcg = (
        base.join(F.broadcast(pos), "__id")
        .agg(
            F.sum(
                (F.pow(F.lit(2.0), F.col("__rel")) - 1)
                / F.log2(F.col("__pos") + 1)
            ).alias("__dcg")
        )
    )
    ideal = base.orderBy(F.desc("__rel"), F.asc_nulls_last("__id")).limit(k)
    wideal = Window.orderBy(F.desc("__rel"), F.asc_nulls_last("__id"))
    idcg = (
        ideal.select("__rel", F.row_number().over(wideal).alias("__pos"))
        .agg(
            F.sum(
                (F.pow(F.lit(2.0), F.col("__rel")) - 1)
                / F.log2(F.col("__pos") + 1)
            ).alias("__idcg")
        )
    )
    return (
        dcg.crossJoin(F.broadcast(idcg))
        .select(
            F.lit(k).alias("k"),
            (F.round("__dcg", round_to) + F.lit(0.0)).alias("dcg"),
            (F.round("__idcg", round_to) + F.lit(0.0)).alias("idcg"),
            (
                F.when(
                    F.col("__idcg") > 0,
                    F.round(F.col("__dcg") / F.col("__idcg"), round_to)
                    + F.lit(0.0),
                )
            ).alias("ndcg"),
        )
    )
