r"""Round-5 breadth (third block): asymmetric n-gram containment
join — the partial-duplication detector Jaccard structurally misses.

Oracle discipline (house rules): identical aliases both sides; ROUND
on derived floats with the identical expression applied in the
filter on BOTH engines so boundary pairs land on the same side; the
oracle is the brute-force all-pairs intersection, so it PROVES the
prefix-filter + size-cut candidate generation is lossless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import fanout_repartition, normalize_text

from ..catalog import load_table
from ..queries import register
from .extensions import _hex_fold

# --- asymmetric n-gram containment pairs ------------------------------------

_CONTAINMENT_ORACLE = """
    WITH norm AS (
      SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                                          i -> array_to_string(toks[i:i+2], ' '))) AS s
      FROM (SELECT doc_id, string_split(t, ' ') AS toks FROM norm)
    ), ex AS (
      SELECT doc_id, unnest(s) AS g FROM sh
    ), sizes AS (
      SELECT doc_id, len(s) AS n FROM sh
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(CAST(i AS DOUBLE) / na.n, 4) AS containment
    FROM inter JOIN sizes na ON na.doc_id = id_a
    WHERE CAST(i AS DOUBLE) / na.n >= 0.8
    """


# --- interval-overlap join ---------------------------------------------------

_INTERVAL_ORACLE = """
    WITH e AS (
      SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es
      FROM events
    ), lft AS (
      SELECT user_id, MIN(es) AS l_start, MAX(es) AS l_end
      FROM (SELECT user_id, es, es // 86400 AS d FROM e) GROUP BY user_id, d
    ), rgt AS (
      SELECT event_type, MIN(es) AS r_start, MAX(es) AS r_end
      FROM (SELECT event_type, es, es // 86400 AS d FROM e) GROUP BY event_type, d
    )
    SELECT l.user_id, r.event_type, l.l_start, r.r_start,
           CAST(least(l.l_end, r.r_end) - greatest(l.l_start, r.r_start)
                AS BIGINT) AS overlap
    FROM lft l JOIN rgt r
      ON l.l_start <= r.r_end AND r.r_start <= l.l_end
    """


@register("activity_interval_overlap", _INTERVAL_ORACLE)
def q_activity_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval overlap join (operators/temporal.py:
    interval_overlap_join — the primitive range_join's point-in-band
    shape cannot express): per-user daily activity spans joined to
    per-event-type daily activity spans wherever the spans intersect,
    with the overlap length. The oracle is the brute-force range-
    predicate join, so it PROVES the bucketed equi-join with the
    anchor-bucket exactly-once rule emits precisely the overlapping
    pairs, once each, with no dedup pass."""
    from ..operators.temporal import interval_overlap_join

    ev = load_table(spark, sf_dir, "events")
    es = F.unix_seconds(F.col("ts").cast("timestamp")).alias("es")
    base = ev.select("user_id", "event_type", es)
    lft = (
        base.groupBy("user_id", F.expr("es div 86400").alias("__d"))
        .agg(F.min("es").alias("l_start"), F.max("es").alias("l_end"))
        .drop("__d")
    )
    rgt = (
        base.groupBy("event_type", F.expr("es div 86400").alias("__d"))
        .agg(F.min("es").alias("r_start"), F.max("es").alias("r_end"))
        .drop("__d")
    )
    return interval_overlap_join(lft, rgt, bucket_width=21600).select(
        "user_id", "event_type", "l_start", "r_start", "overlap"
    )


# --- bounded-round k-core peeling -------------------------------------------


def _kcore_oracle(k: int = 110, rounds: int = 4) -> str:
    """Unrolled replay of operators/graph.py:k_core: each round CTE
    recomputes degrees and restricts the edge set to nodes meeting
    the bar — all-integer state, exact comparison."""
    head = """
    WITH e0 AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
    )"""
    parts = [head]
    for r in range(rounds):
        parts.append(
            f""", d{r} AS (
      SELECT src, COUNT(*) AS c FROM e{r} GROUP BY src
    ), k{r} AS (
      SELECT src AS node FROM d{r} WHERE c >= {k}
    ), e{r + 1} AS (
      SELECT e.src, e.dst FROM e{r} e
      JOIN k{r} a ON e.src = a.node JOIN k{r} b ON e.dst = b.node
    )"""
        )
    parts.append(
        f""", df AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS degree FROM e{rounds} GROUP BY src
    ), cv AS (
      SELECT COALESCE(MIN(degree >= {k}), TRUE) AS converged FROM df
    )
    SELECT df.src AS node, df.degree, cv.converged FROM df CROSS JOIN cv"""
    )
    return "".join(parts)


@register("graph_kcore_membership", _kcore_oracle())
def q_graph_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round k-core peeling (k=110, 4 rounds) on the part
    co-purchase graph — the depth-of-embedding quality signal (link
    farms occupy shallow cores). Emits surviving nodes with their
    induced-subgraph degree and a ``converged`` flag that is TRUE iff
    the result is the exact k-core (no further round would delete
    anything). Execution is progressive shrinking state: one degree
    aggregation + two semi-joins per round over an eagerly
    checkpointed, only-ever-smaller edge table."""
    from ..operators.graph import k_core
    from .graph_shared import part_cooccurrence_edges

    edges, _ = part_cooccurrence_edges(spark, sf_dir)
    return k_core(edges, k=110, rounds=4)


# --- synchronous label propagation (community detection) --------------------


def _lpa_oracle(iters: int = 3) -> str:
    """Unrolled replay of operators/graph.py:label_propagation: each
    iteration CTE computes neighbor-label counts and takes the
    (count DESC, label ASC) argmax — all-integer state, so the
    cross-engine comparison is exact with no rounding care."""
    head = """
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
    ), l0 AS (
      SELECT DISTINCT dst AS node, dst AS lab FROM pairs
    )"""
    parts = [head]
    for k in range(iters):
        parts.append(
            f""", c{k} AS (
      SELECT p.dst AS node, l.lab, COUNT(*) AS c
      FROM pairs p JOIN l{k} l ON p.src = l.node GROUP BY 1, 2
    ), l{k + 1} AS (
      SELECT node, lab FROM (
        SELECT node, lab,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
        FROM c{k}
      ) WHERE rn = 1
    )"""
        )
    parts.append(f"\n    SELECT node, lab AS community FROM l{iters}")
    return "".join(parts)


@register("graph_label_propagation", _lpa_oracle())
def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the part co-purchase graph: 3 rounds of
    synchronous label propagation with deterministic (count DESC,
    label ASC) tie-breaks. Completes the graph-algorithm family
    (PageRank = link analysis, triangles = local clustering, LPA =
    community structure); like PageRank, iterations are map-side over
    dst-prepartitioned cached edges with the label vector broadcast
    under budget. The oracle replays every round exactly — integer
    state, no rounding."""
    from ..operators.graph import label_propagation
    from .graph_shared import part_cooccurrence_edges

    edges, _ = part_cooccurrence_edges(spark, sf_dir)
    return label_propagation(edges, iters=3)


# --- Zipf's-law fit of the token frequency spectrum -------------------------

_ZIPF_ORACLE = r"""
    WITH tok AS (
      SELECT unnest(string_split(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
      FROM documents
    ), cnt AS (
      SELECT token, COUNT(*) * 1.0 AS c FROM tok WHERE token <> '' GROUP BY token
    ), rk AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, token) AS r FROM cnt
    ), xy AS (
      SELECT ln(r * 1.0) AS x, ln(c) AS y FROM rk
    ), s AS (
      SELECT COUNT(*) * 1.0 AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n,
           CASE WHEN n * sxx - sx * sx > n * n * 1e-10 THEN
             ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) + 0.0 END AS slope,
           CASE WHEN n * sxx - sx * sx > n * n * 1e-10 THEN
             ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 4)
               + 0.0 END AS intercept,
           CASE WHEN n * sxx - sx * sx > n * n * 1e-10 AND n * syy - sy * sy > n * n * 1e-10 THEN
             ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                   / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) + 0.0 END AS r2
    FROM s
    """


@register("token_zipf_fit", _ZIPF_ORACLE)
def q_token_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus token-frequency spectrum:
    least-squares slope/intercept/r² of ln(freq) against ln(rank) —
    the classic corpus-health diagnostic (natural prose fits slope
    ~ -1; crawl boilerplate, language mix-ups, and template spam bend
    the spectrum). Reuses operators/analytics.py:linear_trend (six
    mergeable sums, one row out). The global rank is a single-
    partition window over the VOCAB table (types, not tokens) — at
    100 TB the token stream aggregates map-side first, so the sorted
    side is ~10M rows, not the corpus."""
    from pyspark.sql import Window

    from ..operators.analytics import linear_trend

    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(F.split(normalize_text("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    rk = cnt.withColumn(
        "r",
        F.row_number().over(Window.orderBy(F.desc("c"), F.asc("token"))),
    )
    xy = rk.select(F.log(F.col("r").cast("double")).alias("x"), F.log("c").alias("y"))
    return linear_trend(xy, "x", "y")


# --- Heaps'-law fit of vocabulary growth ------------------------------------

_HEAPS_ORACLE = r"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
      FROM documents
    ), nz AS (
      SELECT doc_id, token FROM tok WHERE token <> ''
    ), mx AS (
      SELECT CAST(ceil((MAX(doc_id) + 1) / 50.0) AS BIGINT) AS w FROM documents
    ), per_bucket_toks AS (
      SELECT doc_id // mx.w AS b, COUNT(*) AS nt FROM nz, mx GROUP BY 1
    ), first_doc AS (
      SELECT token, MIN(doc_id) AS fd FROM nz GROUP BY token
    ), per_bucket_types AS (
      SELECT fd // mx.w AS b, COUNT(*) AS nv FROM first_doc, mx GROUP BY 1
    ), cum AS (
      SELECT t.b,
             SUM(t.nt) OVER (ORDER BY t.b) AS ct,
             SUM(COALESCE(v.nv, 0)) OVER (ORDER BY t.b) AS cv
      FROM per_bucket_toks t LEFT JOIN per_bucket_types v ON t.b = v.b
    ), xy AS (
      SELECT ln(ct * 1.0) AS x, ln(cv * 1.0) AS y FROM cum WHERE cv > 0 AND ct > 0
    ), s AS (
      SELECT COUNT(*) * 1.0 AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n,
           CASE WHEN n * sxx - sx * sx > n * n * 1e-10 THEN
             ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) + 0.0 END AS slope,
           CASE WHEN n * sxx - sx * sx > n * n * 1e-10 THEN
             ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 4)
               + 0.0 END AS intercept,
           CASE WHEN n * sxx - sx * sx > n * n * 1e-10 AND n * syy - sy * sy > n * n * 1e-10 THEN
             ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                   / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) + 0.0 END AS r2
    FROM s
    """


@register("heaps_law_fit", _HEAPS_ORACLE)
def q_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: V(n) = K·n^β, estimated
    as the ln(cum_types) ~ ln(cum_tokens) least-squares slope over a
    doc-id-ordered sweep of the corpus — the companion diagnostic to
    the Zipf fit (β far off ~0.5 flags template spam or vocabulary
    burn-in). A token's contribution to "new types" is attributed to
    its MIN doc_id.

    Scale shape: the curve is sampled at 50 fixed doc-id BUCKETS, not
    per document — token and first-occurrence counts aggregate
    map-side per bucket, and the cumulative window runs over the
    50-row bucket table (a per-doc cumulative would be a
    single-partition window over the whole corpus). The regression is
    linear_trend's six mergeable sums."""
    from pyspark.sql import Window

    from ..operators.analytics import linear_trend

    docs = load_table(spark, sf_dir, "documents")
    # narrow (id, tokens) exchange shared by BOTH consumers of the
    # token stream (bucket totals + first-occurrence — ReusedExchange,
    # so tokenize runs once) and parallelizing the explode beyond the
    # scan's split count (one task on a single-row-group parquet;
    # guide §2.5 repartition-after-read)
    nz = (
        docs.select(
            "doc_id", F.split(normalize_text("text"), " ").alias("__ts")
        )
        .transform(lambda d: fanout_repartition(d, "doc_id"))
        .select("doc_id", F.explode("__ts").alias("token"))
        .filter(F.col("token") != "")
    )
    w_row = docs.agg(
        F.ceil((F.max("doc_id") + 1) / 50.0).cast("long").alias("w")
    )
    # integer `div`, not double division + cast: a double quotient can
    # round across an integer boundary and mis-bucket (the documented
    # >2^53 trap; ids are small here, the habit is the point)
    per_bucket_toks = (
        nz.crossJoin(F.broadcast(w_row))
        .groupBy(F.expr("doc_id div w").alias("b"))
        .agg(F.count(F.lit(1)).alias("nt"))
    )
    first_doc = nz.groupBy("token").agg(F.min("doc_id").alias("fd"))
    per_bucket_types = (
        first_doc.crossJoin(F.broadcast(w_row))
        .groupBy(F.expr("fd div w").alias("b"))
        .agg(F.count(F.lit(1)).alias("nv"))
    )
    cw = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        per_bucket_toks.join(per_bucket_types, "b", "left")
        .select(
            "b",
            F.sum("nt").over(cw).alias("ct"),
            F.sum(F.coalesce("nv", F.lit(0))).over(cw).alias("cv"),
        )
    )
    xy = cum.filter((F.col("cv") > 0) & (F.col("ct") > 0)).select(
        F.log(F.col("ct").cast("double")).alias("x"),
        F.log(F.col("cv").cast("double")).alias("y"),
    )
    return linear_trend(xy, "x", "y")


# --- content-defined chunking (Rabin/LBFS boundaries) -----------------------

_CDC_FOLD = _hex_fold("md5(toks[i-2] || ' ' || toks[i-1] || ' ' || toks[i])", 8)

_CDC_ORACLE = f"""
    WITH norm AS (
      SELECT doc_id, string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
      FROM documents
    ), bn AS (
      SELECT doc_id, toks, len(toks) AS n,
             list_filter(range(3, len(toks) + 1),
                         i -> ({_CDC_FOLD}) % 16 = 0) AS bnds
      FROM norm
    ), pre AS (
      SELECT doc_id, toks,
             list_concat([1], list_transform(bnds, x -> x + 1)) AS starts,
             list_concat(bnds, [n]) AS ends
      FROM bn
    ), ch AS (
      SELECT doc_id,
             md5(array_to_string(toks[starts[i]:ends[i]], ' ')) AS h
      FROM pre, LATERAL unnest(range(1, len(starts) + 1)) AS u(i)
      WHERE starts[i] <= ends[i]
    ), freq AS (
      SELECT h, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY h
    )
    SELECT ch.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           ROUND(SUM(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
             AS dup_ratio
    FROM ch JOIN freq f USING (h)
    GROUP BY ch.doc_id
    """


@register("cdc_chunk_dedup", _CDC_ORACLE)
def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking over each document's token stream
    (boundary after token i where the trailing-3-gram hash folds to
    0 mod 16 — Rabin/LBFS semantics, expected chunk 16 tokens), then
    the cross-document chunk-duplication profile. Unlike fixed-stride
    windows, CDC boundaries survive insertions, so shared passages
    keep matching after edits — the storage-dedup primitive applied
    to corpus curation. Oracle replays the boundary hash digit by
    digit (engine-portable md5 fold)."""
    from ..operators.dedup import cdc_chunk_stats

    docs = load_table(spark, sf_dir, "documents")
    return cdc_chunk_stats(docs, "doc_id", "text", window=3, mask=16)


@register("dedup_ngram_containment_pairs", _CONTAINMENT_ORACLE)
def q_ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered pairs where >= 80% of A's word-3-grams appear in B —
    quote/boilerplate inclusion detection (a paragraph embedded in a
    much larger page has Jaccard ~0 but containment ~1). The oracle
    brute-forces every pair, proving the asymmetric prefix filter in
    operators/dedup.py:ngram_containment_pairs drops nothing."""
    from ..operators.dedup import ngram_containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ngram_containment_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
