"""Round-6 breadth: skew-join demonstration at bench scale (VERDICT
r5 next-round #8) plus further coverage growth.

The salted-distinct operator (operators/maintenance.py,
``events_salted_distinct_users``) proved the SALTING cure; this suite
adds the planted-hot-key JOIN that exercises the other cure — AQE's
runtime skew split — on a key distribution every warehouse has seen:
a default/unknown foreign key absorbing most of the fact table.

Oracle discipline (house rules): identical aliases both sides; all
emitted aggregates are integer-exact (COUNT, SUM of integral
quantities) so the cross-engine hash cannot be split by double
summation order on a deliberately gigantic hot group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..engine import NORM_SQL
from ..queries import register

# --- planted-hot-key join (AQE skew-split demo) -----------------------------

_HOT_KEY_ORACLE = """
    WITH fact AS (
      SELECT CASE WHEN l_orderkey % 4 <> 0 THEN -1 ELSE l_orderkey END AS hk,
             l_quantity, l_returnflag
      FROM lineitem
    ), dim AS (
      SELECT CASE WHEN o_orderkey % 4 <> 0 THEN -1 ELSE o_orderkey END AS hk,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_li,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
           CAST(SUM(n_orders) AS BIGINT) AS n_orders_sum
    FROM fact JOIN dim USING (hk)
    GROUP BY l_returnflag
    """


@register("lineitem_hot_key_join", _HOT_KEY_ORACLE)
def q_lineitem_hot_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dim join on a PLANTED hot key: 75% of lineitem rows
    collapse onto hk=-1 (a sentinel no real order key can take --
    order keys start at 0) (the "unknown/default foreign key" skew shape
    every 100 TB warehouse hits), the tail keeps its own key. The dim
    side is aggregated orders on the same mapping — unique per hk, so
    the join fans out 1:1 and only the SHUFFLE is skewed, which is
    exactly the case AQE's OptimizeSkewedJoin repairs by splitting
    the hot partition into advisory-sized slices.

    The dim carries an explicit SHUFFLE_MERGE hint: at bench scale the
    ~40k-row dim would broadcast (hiding the skew entirely — the cure
    that stops working when the dim outgrows the driver at 100 TB),
    so the query pins the sort-merge path the big-data regime uses.
    tests/test_plans.py:test_hot_key_join_aqe_skew_split executes this
    exact plan with production-shaped AQE thresholds and pins
    ``skew=true`` in the executed SortMergeJoin; the oracle is the
    plain declarative join-aggregate, so the split is proven
    result-identical.

    Emitted aggregates are integer-exact on purpose — the hot group
    sums hundreds of thousands of values, where double summation
    order could flip a rounded 4th decimal across engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    hk_l = (
        F.when(F.col("l_orderkey") % 4 != 0, F.lit(-1))
        .otherwise(F.col("l_orderkey"))
        .cast("long")
    )
    fact = li.select(
        hk_l.alias("hk"), F.col("l_quantity"), F.col("l_returnflag")
    )
    # dim = one row per hk. Built as tail-union-hot rather than
    # groupBy(hk): an aggregate pre-partitioned on the join key would
    # sit between the shuffle stage and the join, and AQE's
    # OptimizeSkewedJoin only matches a SortMergeJoin whose children
    # are PLAIN shuffle reads — the union leaves both join inputs as
    # fresh exchanges, so the hot partition is actually splittable.
    # Semantics are identical to GROUP BY hk (tail keys are already
    # unique; the hot row carries the collapsed tail's count).
    tail = orders.filter(F.col("o_orderkey") % 4 == 0).select(
        F.col("o_orderkey").alias("hk"), F.lit(1).cast("long").alias("n_orders")
    )
    hot = (
        orders.filter(F.col("o_orderkey") % 4 != 0)
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .select(F.lit(-1).cast("long").alias("hk"), "n_orders")
    )
    dim = tail.unionByName(hot)
    j = fact.join(dim.hint("shuffle_merge"), "hk")
    return j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_li"),
        F.sum("l_quantity").cast("double").alias("sum_qty"),
        F.sum("n_orders").cast("long").alias("n_orders_sum"),
    )


# --- n-gram novelty scoring (incremental-curation signal) -------------------


_NOVELTY_ORACLE = rf"""
    WITH base AS (
      SELECT doc_id, string_split({NORM_SQL}, ' ') AS toks
      FROM documents WHERE text IS NOT NULL
    ), grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 7, 1) + 1),
               i -> array_to_string(toks[i:i+7], ' ')))) AS g
      FROM base
    ), first AS (
      SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY 1
    ), novel AS (
      SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel
      FROM first GROUP BY 1
    ), totals AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM grams GROUP BY 1
    )
    SELECT t.doc_id, t.n_grams,
           COALESCE(n.n_novel, CAST(0 AS BIGINT)) AS n_novel,
           ROUND(COALESCE(n.n_novel, CAST(0 AS BIGINT)) * 1.0 / t.n_grams, 4)
             + 0.0 AS novelty
    FROM totals t LEFT JOIN novel n USING (doc_id)
    """


@register("ngram_novelty_scores", _NOVELTY_ORACLE)
def q_ngram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document word-8-gram novelty vs everything earlier in
    ingest order (operators/contamination.py:ngram_novelty): share of
    a doc's distinct grams first seen in THIS doc. The cheap
    corpus-level "is this batch new content" screen — O(tokens),
    never doc x doc. Oracle replays first-appearance attribution on
    the raw gram strings (Spark side keys on md5 fingerprints —
    count-identical)."""
    from ..operators.contamination import ngram_novelty

    docs = load_table(spark, sf_dir, "documents")
    return ngram_novelty(docs, "doc_id", "text", n=8)


# --- DSIR importance weights (targeted data selection) ----------------------

_DSIR_ORACLE = rf"""
    WITH tok AS (
      SELECT doc_id, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS t, w
      FROM (
        SELECT doc_id, source,
               unnest(string_split({NORM_SQL}, ' ')) AS w
        FROM documents WHERE text IS NOT NULL
      ) WHERE w <> ''
    ), cnt AS (
      SELECT w, CAST(SUM(t) AS BIGINT) AS n_t,
             CAST(COUNT(*) - SUM(t) AS BIGINT) AS n_r
      FROM tok GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(n_t) AS BIGINT) AS tt, CAST(SUM(n_r) AS BIGINT) AS rr,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM cnt
    ), lr AS (
      SELECT w, ln(((n_t + 1.0) * (rr + v)) / ((n_r + 1.0) * (tt + v))) AS lr
      FROM cnt CROSS JOIN tot
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(SUM(lr) / COUNT(*), 4) + 0.0 AS logratio
    FROM tok JOIN lr USING (w)
    GROUP BY doc_id
    """


@register("dsir_importance_weights", _DSIR_ORACLE)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data-selection weights (operators/sampling.py:
    dsir_importance): per-document mean unigram log-ratio
    ln(p_target/p_raw) with add-one smoothing, target = the 'src0'
    slice. The importance-resampling front half of targeted corpus
    construction; compose with weighted_reservoir_topn for the draw.
    Token log-ratios are one integer-exact division on both engines;
    only the per-doc mean carries the house-accepted ROUND
    residual."""
    from ..operators.sampling import dsir_importance

    docs = load_table(spark, sf_dir, "documents")
    return dsir_importance(docs, F.col("source") == "src0", "doc_id", "text")


# --- table profiling (ANALYZE-style column stats) ---------------------------

_PROFILE_ORACLE = """
    WITH w AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COALESCE(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS nn0,
             CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS nd0,
             CAST(MIN(o_orderkey) AS DOUBLE) AS mn0, CAST(MAX(o_orderkey) AS DOUBLE) AS mx0,
             CAST(COALESCE(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS nn1,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd1,
             CAST(MIN(o_custkey) AS DOUBLE) AS mn1, CAST(MAX(o_custkey) AS DOUBLE) AS mx1,
             CAST(COALESCE(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS nn2,
             CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd2,
             CAST(COALESCE(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS nn3,
             CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS nd3,
             CAST(MIN(o_totalprice) AS DOUBLE) AS mn3, CAST(MAX(o_totalprice) AS DOUBLE) AS mx3,
             CAST(COALESCE(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS nn4,
             CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS nd4,
             CAST(floor(epoch(MIN(o_orderdate))) AS DOUBLE) AS mn4,
             CAST(floor(epoch(MAX(o_orderdate))) AS DOUBLE) AS mx4,
             CAST(COALESCE(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS nn5,
             CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd5
      FROM orders
    )
    SELECT 'o_orderkey' AS col_name, n AS n_rows, nn0 AS n_nulls, nd0 AS n_distinct,
           mn0 AS min_num, mx0 AS max_num FROM w
    UNION ALL SELECT 'o_custkey', n, nn1, nd1, mn1, mx1 FROM w
    UNION ALL SELECT 'o_orderstatus', n, nn2, nd2, NULL, NULL FROM w
    UNION ALL SELECT 'o_totalprice', n, nn3, nd3, mn3, mx3 FROM w
    UNION ALL SELECT 'o_orderdate', n, nn4, nd4, mn4, mx4 FROM w
    UNION ALL SELECT 'o_orderpriority', n, nn5, nd5, NULL, NULL FROM w
    """


@register("orders_table_profile", _PROFILE_ORACLE)
def q_orders_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of orders (functions/quality.py:
    profile_table): per-column null count, exact distinct count, and
    numeric/epoch min-max — the catalog-stats pass that feeds CBO
    and contract design. One aggregate scan; the exact multi-column
    distinct is an Expand, swapped for HLL at 100 TB (documented)."""
    from ..functions.quality import profile_table

    orders = load_table(spark, sf_dir, "orders")
    return profile_table(orders)
