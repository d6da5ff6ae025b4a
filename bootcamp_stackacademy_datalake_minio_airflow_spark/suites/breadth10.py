r"""Round-5 breadth (second block): skyline extraction, Bloom-filter
join pruning, embedding-lake profiling (per-dimension moments), a
SQL-replayable power-iteration PCA kernel, and binary-segmentation
change-point detection.

Oracle discipline (house rules): identical aliases both sides; ROUND
+ 0.0 on derived floats with identical expression text; CAST(... AS
BIGINT) on integer aggregates; epoch seconds for timestamps; md5
hash families so both engines replay bit layouts exactly. The
pareto oracle is the O(n^2) NOT EXISTS dominance definition — it
PROVES the sort+prefix-max window plan equals the textbook skyline
semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..queries import register

# --- 2-D skyline -------------------------------------------------------------


@register(
    "parts_pareto_front",
    """
    SELECT p_partkey, p_retailprice, p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice
        AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    """,
)
def q_parts_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto front of parts trading off retail price (minimize)
    against size (maximize) — operators/analytics.py:pareto_front_2d.
    The engine runs sort + prefix-max over DISTINCT prices (one
    shuffle, no pair join); the oracle is the O(n^2) dominance
    definition, so a green hash proves the window plan IS the
    skyline."""
    from ..operators.analytics import pareto_front_2d

    part = load_table(spark, sf_dir, "part")
    return pareto_front_2d(part, "p_retailprice", "p_size").select(
        "p_partkey", "p_retailprice", "p_size"
    )


# --- Bloom-filter join pruning ----------------------------------------------

_BLOOM_M = 8192
_BLOOM_K = 4


def _bloom_oracle(m: int = _BLOOM_M, k: int = _BLOOM_K) -> str:
    pos = (
        "(('0x' || substr(md5('bf' || CAST(h AS VARCHAR) || ':' || "
        "CAST({key} AS VARCHAR)), 1, 15))::BIGINT) % {m}"
    )
    kp = pos.format(key="kk", m=m)
    vp = pos.format(key="v", m=m)
    return f"""
    WITH keyset AS (
      SELECT DISTINCT c_custkey AS kk FROM customer
      WHERE c_mktsegment = 'BUILDING'
    ), kpos AS (
      SELECT {kp} AS p FROM keyset CROSS JOIN range(0, {k}) t(h)
    ), bloom AS (
      SELECT p // 32 AS word,
             bit_or(1::BIGINT << CAST(p % 32 AS INTEGER)) AS bits
      FROM kpos GROUP BY 1
    ), pk AS (SELECT DISTINCT o_custkey AS v FROM orders),
    ppos AS (
      SELECT v, {vp} AS p FROM pk CROSS JOIN range(0, {k}) t(h)
    ), hits AS (
      SELECT v,
             SUM(CASE WHEN (COALESCE(bits, 0)
                            & (1::BIGINT << CAST(p % 32 AS INTEGER))) <> 0
                      THEN 1 ELSE 0 END) AS nh
      FROM ppos LEFT JOIN bloom ON ppos.p // 32 = bloom.word
      GROUP BY v
    ), verd AS (
      SELECT v, CASE WHEN nh = {k} THEN 1 ELSE 0 END AS cand,
             CASE WHEN v IN (SELECT kk FROM keyset) THEN 1 ELSE 0 END AS t
      FROM hits
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM keyset) AS n_keys,
           (SELECT CAST(SUM(bit_count(bits)) AS BIGINT) FROM bloom)
             AS n_set_bits,
           CAST(COUNT(*) AS BIGINT) AS n_probed,
           CAST(SUM(cand) AS BIGINT) AS n_candidates,
           CAST(SUM(t) AS BIGINT) AS n_true_matches,
           CAST(SUM(cand) - SUM(cand * t) AS BIGINT) AS n_false_positives
    FROM verd
    """


@register("orders_bloom_prune", _bloom_oracle())
def q_orders_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning audit
    (operators/sketches.py:bloom_prune_stats): build an 8192-bit
    filter over BUILDING-segment customers, probe the distinct
    o_custkey values of orders, report candidate/true/false-positive
    counts in one row. The 100 TB pattern behind runtime row-group
    pruning: ship a KB bitset, not a key list."""
    from ..operators.sketches import bloom_prune_stats

    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders")
    return bloom_prune_stats(
        cust, "c_custkey", orders, "o_custkey", m_bits=_BLOOM_M, k=_BLOOM_K
    )


# --- embedding-lake profiling ------------------------------------------------


@register(
    "embedding_dim_stats",
    """
    WITH e AS (
      SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN range(1, 65) t(i)
      WHERE embedding IS NOT NULL
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(x) / COUNT(*), 4) + 0.0 AS mean,
           ROUND(SUM(x * x) / COUNT(*)
                 - (SUM(x) / COUNT(*)) * (SUM(x) / COUNT(*)), 4) + 0.0 AS var,
           ROUND(MIN(x), 4) + 0.0 AS mn,
           ROUND(MAX(x), 4) + 0.0 AS mx
    FROM e GROUP BY dim
    """,
)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension moments of the embedding lake
    (operators/similarity.py:dim_stats): posexplode + one 64-group
    agg, variance from SUM/SUM2 with oracle-identical expression
    text. The profiling scan before whitening / quantizer training /
    drift monitors."""
    from ..operators.similarity import dim_stats

    emb = load_table(spark, sf_dir, "embeddings")
    return dim_stats(emb)


def _pi_oracle(dims: int = 64) -> str:
    from ..operators.similarity import _pi_v0

    v0 = _pi_v0(dims)
    inv = abs(v0[0])
    terms = []
    for i, v in enumerate(v0):
        op = "" if (i == 0 and v > 0) else ("- " if v < 0 else "+ ")
        terms.append(f"{op}CAST(embedding[{i + 1}] AS DOUBLE)")
    chain = " ".join(terms)
    sums = ",\n             ".join(
        f"SUM(CAST(embedding[{j + 1}] AS DOUBLE) * dv) AS w{j}"
        for j in range(dims)
    )
    norm = " + ".join(f"w{j} * w{j}" for j in range(dims))
    branches = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({j} AS BIGINT) AS dim,"
        f" ROUND(w{j} / nrm, 4) + 0.0 AS component FROM n"
        for j in range(dims)
    )
    return f"""
    WITH d AS (
      SELECT ({chain}) * CAST('{inv!r}' AS DOUBLE) AS dv, embedding
      FROM embeddings
    ), s AS (
      SELECT {sums}
      FROM d
    ), n AS (SELECT sqrt({norm}) AS nrm, * FROM s)
    {branches}
    """


@register("embedding_power_iteration", _pi_oracle())
def q_embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One seeded power-iteration step toward the top eigenvector of
    X^T X (operators/similarity.py:power_iteration_step): w = S v0
    computed as X^T (X v0) — S never materializes — emitted
    L2-normalized as 64 (dim, component) rows. Full PCA iterates
    this exact kernel; the single step is what SQL can replay, same
    precedent as the unrolled-CTE PageRank."""
    from ..operators.similarity import power_iteration_step

    emb = load_table(spark, sf_dir, "embeddings")
    return power_iteration_step(emb, dims=64)


# --- change-point detection --------------------------------------------------


@register(
    "events_changepoint",
    """
    WITH hourly AS (
      SELECT event_type AS grp, date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), w AS (
      SELECT grp, h, n,
             ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS pre_cnt,
             SUM(n) OVER (PARTITION BY grp ORDER BY h
                          ROWS UNBOUNDED PRECEDING) AS pre_sum,
             COUNT(*) OVER (PARTITION BY grp) AS tot_cnt,
             SUM(n) OVER (PARTITION BY grp) AS tot_sum
      FROM hourly
    ), sc AS (
      SELECT grp, h, pre_cnt, tot_cnt,
             CAST(pre_sum AS DOUBLE) / pre_cnt AS pre_mean,
             CAST(tot_sum - pre_sum AS DOUBLE) / (tot_cnt - pre_cnt)
               AS post_mean
      FROM w WHERE pre_cnt < tot_cnt
    )
    SELECT grp, CAST(floor(epoch(h)) AS BIGINT) AS split_epoch,
           CAST(pre_cnt AS BIGINT) AS n_pre,
           CAST(tot_cnt - pre_cnt AS BIGINT) AS n_post,
           ROUND(pre_mean, 4) + 0.0 AS pre_mean,
           ROUND(post_mean, 4) + 0.0 AS post_mean,
           ROUND(abs(pre_mean - post_mean), 4) + 0.0 AS delta
    FROM sc
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY grp ORDER BY abs(pre_mean - post_mean) DESC, h) = 1
    """,
)
def q_events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation first split per event type over the hourly
    count series (operators/analytics.py:changepoint_binary_split):
    the boundary maximizing |pre-mean - post-mean|, argmax tie-broken
    by earlier hour. Prefix sums are integers divided once, so the
    ranking doubles are bit-identical across engines."""
    from ..operators.analytics import changepoint_binary_split

    ev = load_table(spark, sf_dir, "events")
    return changepoint_binary_split(ev, "event_type")


# --- closed-form regression --------------------------------------------------


@register(
    "orders_revenue_trend",
    """
    WITH daily AS (
      SELECT date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
               AS x,
             SUM(o_totalprice) AS y
      FROM orders GROUP BY 1
    ), s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(CAST(x AS DOUBLE)) AS sx,
             SUM(y) AS sy, SUM(CAST(x AS DOUBLE) * y) AS sxy,
             SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sxx,
             SUM(y * y) AS syy
      FROM daily
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) + 0.0 AS slope,
           ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n,
                 4) + 0.0 AS intercept,
           ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) + 0.0 AS r2
    FROM s
    """,
)
def q_orders_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-revenue linear trend via the normal equations
    (operators/analytics.py:linear_trend): x = day offset from a FIXED
    epoch (1995-01-01 — a literal, not a data-dependent min, both for
    determinism and to keep n*Σxy - Σx*Σy well-conditioned), y = daily
    revenue. Two cascaded aggs; the regression state is six mergeable
    sums."""
    from ..operators.analytics import linear_trend

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01")).alias(
            "x"
        )
    ).agg(F.sum("o_totalprice").alias("y"))
    return linear_trend(daily, "x", "y")


# --- drift + experimentation -------------------------------------------------


@register(
    "doc_length_psi",
    """
    WITH t AS (
      SELECT greatest(least(CAST(floor(n_chars / 100.0) AS BIGINT), 9), 0)
               AS bucket,
             CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS a
      FROM documents
      WHERE n_chars IS NOT NULL
    ), per AS (
      SELECT bucket, CAST(SUM(a) AS BIGINT) AS n_a,
             CAST(COUNT(*) - SUM(a) AS BIGINT) AS n_b
      FROM t GROUP BY bucket
    ), tot AS (
      SELECT CAST(SUM(a) AS BIGINT) AS ta,
             CAST(COUNT(*) - SUM(a) AS BIGINT) AS tb
      FROM t
    )
    SELECT bucket, n_a, n_b,
           ROUND(CAST(n_a + 1 AS DOUBLE) / (ta + 10), 4) + 0.0 AS pa,
           ROUND(CAST(n_b + 1 AS DOUBLE) / (tb + 10), 4) + 0.0 AS pb,
           ROUND((CAST(n_a + 1 AS DOUBLE) / (ta + 10)
                  - CAST(n_b + 1 AS DOUBLE) / (tb + 10))
                 * ln((CAST(n_a + 1 AS DOUBLE) / (ta + 10))
                      / (CAST(n_b + 1 AS DOUBLE) / (tb + 10))), 4) + 0.0
             AS contrib
    FROM per CROSS JOIN tot
    """,
)
def q_doc_length_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift report of document length, src0 (the 'new ingest')
    vs the rest of the corpus (operators/analytics.py:
    population_stability_index): fixed-edge 100-char buckets,
    add-one-smoothed shares, (pa-pb)ln(pa/pb) contributions. The
    drift monitor every continuously-ingesting training pipeline
    needs."""
    from ..operators.analytics import population_stability_index

    docs = load_table(spark, sf_dir, "documents")
    return population_stability_index(
        docs, "n_chars", F.col("source") == "src0"
    )


@register(
    "events_ab_test_z",
    """
    WITH users AS (
      SELECT user_id AS u, CAST(user_id % 2 AS INTEGER) AS v,
             MAX(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN v = 1 THEN converted ELSE 0 END) AS BIGINT)
               AS conv_a,
             CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN v = 0 THEN converted ELSE 0 END) AS BIGINT)
               AS conv_b
      FROM users
    )
    SELECT n_a, conv_a, n_b, conv_b,
           ROUND(CAST(conv_a AS DOUBLE) / n_a, 4) + 0.0 AS p_a,
           ROUND(CAST(conv_b AS DOUBLE) / n_b, 4) + 0.0 AS p_b,
           ROUND((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
                 / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 4) + 0.0 AS z
    FROM s
    """,
)
def q_events_ab_test_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on user-level high-value purchase
    conversion (value > 150 keeps both arms strictly inside (0,1) at
    every test SF — plain 'any purchase' converts 100% of users and
    degenerates the variance) with a deterministic user_id%2 variant
    split (operators/analytics.py:
    ab_test_ztest). Events collapse to users, users to one row of
    exact integers; the z statistic is scalar arithmetic after."""
    from ..operators.analytics import ab_test_ztest

    ev = load_table(spark, sf_dir, "events")
    return ab_test_ztest(
        ev,
        "user_id",
        (F.col("event_type") == "purchase") & (F.col("value") > 150),
        (F.col("user_id") % 2).cast("int"),
    )


# --- model evaluation + skew diagnostics -------------------------------------


#: named so the prose-lake twin (suites/prose_lake.py) can re-target
#: the same SQL at the prose corpus via a FROM-swap
_LANGID_EVAL_ORACLE = r"""
    WITH tok AS (
      SELECT doc_id, lang,
             string_split(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ts
      FROM documents
    ), scores AS (
      SELECT doc_id, lang,
             len(list_filter(ts,
                 x -> x IN ('the','and','of','to','in','is','a'))) AS s_en,
             len(list_filter(ts,
                 x -> x IN ('der','die','und','das','ist','ein'))) AS s_de,
             len(list_filter(ts,
                 x -> x IN ('el','la','de','que','los','es'))) AS s_es,
             len(list_filter(ts,
                 x -> x IN ('le','la','les','des','est','une'))) AS s_fr
      FROM tok
    ), pairs AS (
      SELECT lang AS g,
             CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'unknown'
                  WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
                  WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
                  WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
                  ELSE 'fr' END AS p
      FROM scores
    ), gold AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n_gold,
             CAST(SUM(CASE WHEN p = g THEN 1 ELSE 0 END) AS BIGINT) AS tp
      FROM pairs GROUP BY g
    ), predc AS (
      SELECT p, CAST(COUNT(*) AS BIGINT) AS n_pred FROM pairs GROUP BY p
    ), j AS (
      SELECT COALESCE(g, p) AS clazz,
             COALESCE(n_gold, 0) AS n_gold,
             COALESCE(n_pred, 0) AS n_pred,
             COALESCE(tp, 0) AS tp
      FROM gold FULL OUTER JOIN predc ON g = p
    )
    SELECT clazz, n_gold, n_pred, tp,
           ROUND(CASE WHEN n_pred > 0
                      THEN CAST(tp AS DOUBLE) / n_pred END, 4) + 0.0
             AS precision,
           ROUND(CASE WHEN n_gold > 0
                      THEN CAST(tp AS DOUBLE) / n_gold END, 4) + 0.0
             AS recall,
           ROUND(CASE WHEN n_pred > 0 AND n_gold > 0
                       AND CAST(tp AS DOUBLE) / n_pred
                           + CAST(tp AS DOUBLE) / n_gold > 0
                      THEN 2.0 * (CAST(tp AS DOUBLE) / n_pred)
                           * (CAST(tp AS DOUBLE) / n_gold)
                           / (CAST(tp AS DOUBLE) / n_pred
                              + CAST(tp AS DOUBLE) / n_gold) END, 4) + 0.0
             AS f1
    FROM j
    """


@register("langid_eval_metrics", _LANGID_EVAL_ORACLE)
def q_langid_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 of the stopword language-ID
    against the gold ``lang`` column (operators/analytics.py:
    classification_report over operators/text.py:language_id). Gold
    classes the detector cannot emit (zh) surface with n_pred=0 and
    NULL precision; predicted-only classes (unknown) with n_gold=0 —
    the honest evaluation report, not just an accuracy scalar."""
    from ..operators.analytics import classification_report
    from ..operators.text import language_id

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        F.col("lang").alias("gold"), language_id("text").alias("pred")
    )
    return classification_report(scored, "gold", "pred")


@register(
    "orders_key_skew",
    """
    WITH freq AS (
      SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT n, CAST(ROW_NUMBER() OVER (ORDER BY n, k) AS BIGINT) AS i
      FROM freq
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(n) AS BIGINT) AS n_rows,
             CAST(MAX(n) AS BIGINT) AS max_n,
             quantile_cont(n, 0.5) AS p50,
             quantile_cont(n, 0.99) AS p99,
             CAST(SUM(i * n) AS BIGINT) AS sin
      FROM ranked
    )
    SELECT n_keys, n_rows, max_n,
           ROUND(p50, 4) + 0.0 AS p50_n,
           ROUND(p99, 4) + 0.0 AS p99_n,
           ROUND(CAST(max_n AS DOUBLE) / n_rows, 4) + 0.0 AS top_share,
           ROUND(2.0 * sin / (CAST(n_keys AS DOUBLE) * n_rows)
                 - CAST(n_keys + 1 AS DOUBLE) / n_keys, 4) + 0.0 AS gini
    FROM s
    """,
)
def q_orders_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile of orders.o_custkey
    (operators/analytics.py:key_skew_profile): per-key frequency
    percentiles, hottest-key share, and the exact Gini coefficient —
    the pre-flight diagnostic that decides salting / AQE skew-join
    before a 100 TB join runs."""
    from ..operators.analytics import key_skew_profile

    orders = load_table(spark, sf_dir, "orders")
    return key_skew_profile(orders, "o_custkey")


# --- canonical representative selection --------------------------------------


@register(
    "dedup_canonical_docs",
    r"""
    WITH base AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
             length(text) AS n,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split(
                         regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                         ' '))
             END AS tok,
             len(list_filter(
                   string_split(
                     regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
                   x -> x IN ('the','and','of','to','in','is','a'))) AS stops,
             CASE WHEN length(text) > 0
                  THEN round(length(regexp_replace(
                               text, '[^.,;:!?''"()\[\]{}-]', '', 'g'))
                             * 1.0 / length(text), 4)
                  ELSE 0.0 END AS pr
      FROM documents
    ), q AS (
      SELECT doc_id AS id, fp,
             round(0.4 * (CASE WHEN n BETWEEN 50 AND 10000
                               THEN 1.0 ELSE 0.0 END)
                 + 0.3 * least(CASE WHEN tok > 0
                                    THEN stops * 1.0 / tok
                                    ELSE 0.0 END, 0.3) / 0.3
                 + 0.3 * (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END), 4)
               AS q
      FROM base
    )
    SELECT fp, id, CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS n_dups,
           q + 0.0 AS quality
    FROM q
    QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY q DESC, id) = 1
    """,
)
def q_dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection per exact-duplicate group
    (operators/dedup.py:canonical_docs over text.py:quality_score):
    after detection, keep the highest-quality copy (tie: lowest id) —
    'which copy do we train on'. Quality is ROUNDed before it becomes
    the ranking key, so cross-engine ties resolve on the exact
    integer id, not raw-double noise."""
    from ..operators.dedup import canonical_docs
    from ..operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    return canonical_docs(docs, quality_score("text"))
