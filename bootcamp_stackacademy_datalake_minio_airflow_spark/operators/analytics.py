"""Analytical operators with no reference counterpart (the reference,
DavidSLeite/Bootcamp_StackAcademy_Datalake_Minio_Airflow, is a medallion ETL over Olist CSVs —
src/ingestion_*.py — and has no skyline or change-point support):
2-D Pareto-front (skyline) extraction and binary-segmentation
change-point detection, both expressed as sort + window plans so
Catalyst keeps them in whole-stage codegen with a single shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..engine import cache_scope, fanout_repartition, round_half_away


def pareto_front_2d(df: DataFrame, cost_col: str, gain_col: str) -> DataFrame:
    """Rows NOT dominated in the (minimize ``cost_col``, maximize
    ``gain_col``) sense: a row is dominated iff another row has
    cost <= its cost AND gain >= its gain with at least one strict.
    Ties on both axes survive together (neither dominates).

    Classic skyline operator, reduced to sort + prefix-max instead of
    the O(n^2) dominance test:

    1. per distinct cost keep the max gain (anything below the max at
       the same cost is dominated by it) — a distributed hash agg;
    2. over distinct costs ascending, a point survives iff its max
       gain strictly exceeds the running max over all STRICTLY
       cheaper costs (rows frame ending 1 PRECEDING on the
       one-row-per-cost table = strict prefix);
    3. semi-join the tiny surviving front back to the full table on
       (cost, gain) to recover every tied original row.

    Scale: the only global step is the window over DISTINCT costs,
    which step 1 has already collapsed (and at 100 TB a local
    per-partition skyline would shrink further before the agg); the
    back-join broadcasts the front, which is at most
    |distinct costs| rows.
    """
    # NULL handling follows the dominance definition: a row with NULL
    # cost or gain is never dominated (every comparison is unknown)
    # and dominates nothing, so it passes through untouched — the
    # null-rejecting semi-join below would otherwise silently drop it
    nullish = F.col(cost_col).isNull() | F.col(gain_col).isNull()
    clean = df.filter(~nullish)
    per_cost = clean.groupBy(cost_col).agg(F.max(gain_col).alias("__best"))
    w = (
        Window.orderBy(cost_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    front = (
        per_cost.withColumn("__prev", F.max("__best").over(w))
        .filter(F.col("__prev").isNull() | (F.col("__best") > F.col("__prev")))
        .select(F.col(cost_col), F.col("__best").alias(gain_col))
    )
    survivors = clean.join(F.broadcast(front), [cost_col, gain_col], "left_semi")
    return survivors.unionByName(df.filter(nullish))


def changepoint_binary_split(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    round_to: int = 4,
) -> DataFrame:
    """First-split binary-segmentation change-point per group over the
    HOURLY event-count series: the boundary t maximizing
    |mean(counts[..t]) - mean(counts[t+1..])|. The standard first step
    of binary segmentation (public knowledge; CUSUM's recursive form
    is not window-expressible, this split-score form is).

    Emits one row per group: ``(group, split_epoch, n_pre, n_post,
    pre_mean, post_mean, delta)`` where ``split_epoch`` is the last
    hour of the pre-segment (epoch seconds).

    All inputs to the ranking key are integer prefix sums divided
    once, so the doubles are bit-identical across engines and the
    argmax is deterministic (ties broken by earlier hour). Scale: one
    shuffle to (group, hour) counts, then windows over the per-group
    hourly series — |groups| x |hours| rows, tiny next to the raw
    events.
    """
    g = F.col(group_col)
    hourly = (
        df.groupBy(g.alias("grp"), F.date_trunc("hour", F.col(ts_col)).alias("h"))
        .agg(F.count("*").alias("n"))
    )
    wo = Window.partitionBy("grp").orderBy("h")
    wall = Window.partitionBy("grp")
    scored = (
        hourly.withColumn("pre_cnt", F.row_number().over(wo))
        .withColumn(
            "pre_sum",
            F.sum("n").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("tot_cnt", F.count("*").over(wall))
        .withColumn("tot_sum", F.sum("n").over(wall))
        .filter(F.col("pre_cnt") < F.col("tot_cnt"))
        .withColumn(
            "pre_mean",
            F.col("pre_sum").cast("double") / F.col("pre_cnt"),
        )
        .withColumn(
            "post_mean",
            (F.col("tot_sum") - F.col("pre_sum")).cast("double")
            / (F.col("tot_cnt") - F.col("pre_cnt")),
        )
        .withColumn("delta", F.abs(F.col("pre_mean") - F.col("post_mean")))
    )
    pick = Window.partitionBy("grp").orderBy(F.col("delta").desc(), F.col("h"))
    return (
        scored.withColumn("__rk", F.row_number().over(pick))
        .filter(F.col("__rk") == 1)
        .select(
            F.col("grp"),
            F.col("h").cast("long").alias("split_epoch"),
            F.col("pre_cnt").cast("long").alias("n_pre"),
            (F.col("tot_cnt") - F.col("pre_cnt")).cast("long").alias("n_post"),
            (F.round("pre_mean", round_to) + F.lit(0.0)).alias("pre_mean"),
            (F.round("post_mean", round_to) + F.lit(0.0)).alias("post_mean"),
            (F.round("delta", round_to) + F.lit(0.0)).alias("delta"),
        )
    )


def linear_trend(
    df: DataFrame,
    x_col: str,
    y_col: str,
    round_to: int = 4,
) -> DataFrame:
    """Closed-form simple linear regression y = intercept + slope*x
    via the normal equations — one aggregation pass collecting
    (n, Σx, Σy, Σxy, Σx², Σy²), then slope/intercept/r² as scalar
    arithmetic on the 1-row result. Emits ``(n, slope, intercept,
    r2)``.

    This is the distributed-regression shape that matters at 100 TB:
    the model state IS the aggregation state (six mergeable sums), so
    map-side combine does all the work and nothing but one row crosses
    the final exchange. The formulas are written n*Σxy - Σx*Σy style
    (products before the single divide) identically to the SQL
    oracle, so the doubles agree bit-for-bit up to SUM order."""
    agg = df.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.col(x_col).cast("double")).alias("sx"),
        F.sum(F.col(y_col).cast("double")).alias("sy"),
        F.sum(F.col(x_col).cast("double") * F.col(y_col).cast("double")).alias(
            "sxy"
        ),
        F.sum(F.col(x_col).cast("double") * F.col(x_col).cast("double")).alias(
            "sxx"
        ),
        F.sum(F.col(y_col).cast("double") * F.col(y_col).cast("double")).alias(
            "syy"
        ),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    # degenerate fits report NULL, not an ANSI divide-by-zero: a
    # single distinct x has no slope; constant y has no variance to
    # explain (r2 undefined). The guard is RELATIVE (> n^2 * 1e-10),
    # not > 0: with truly-constant inputs the n*S2 - S1^2 form
    # accumulates O(n^2 * y^2 * ulp) of float noise whose SIGN depends
    # on summation order, so a zero test classified "constant y" as
    # fittable on one engine and degenerate on the other (caught live:
    # heaps_law_fit on a vocabulary that saturates in bucket 0 — Spark
    # deny was +3e-13, DuckDB exactly 0). Any legitimate variance is
    # orders of magnitude above the threshold; both engines apply the
    # identical guard, so the classification agrees.
    eps = F.col("n") * F.col("n") * F.lit(1e-10)
    slope = F.when(denx > eps, num / denx)
    intercept = F.when(denx > eps, (F.col("sy") - slope * F.col("sx")) / F.col("n"))
    r2 = F.when((denx > eps) & (deny > eps), (num * num) / (denx * deny))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        (F.round(slope, round_to) + F.lit(0.0)).alias("slope"),
        (F.round(intercept, round_to) + F.lit(0.0)).alias("intercept"),
        (F.round(r2, round_to) + F.lit(0.0)).alias("r2"),
    )


def population_stability_index(
    df: DataFrame,
    value_col: str,
    split_pred: Column,
    bucket_width: float = 100.0,
    n_buckets: int = 10,
    round_to: int = 4,
) -> DataFrame:
    """PSI drift report between the rows matching ``split_pred``
    (cohort A, e.g. the new ingest) and the rest (cohort B, the
    baseline): fixed-edge buckets of ``value_col``, add-one-smoothed
    shares, per-bucket contribution (pa - pb) * ln(pa / pb). The sum
    over buckets is the PSI (>0.2 = drift, the standard scorecard
    rule). Emits ``(bucket, n_a, n_b, pa, pb, contrib)``.

    Fixed edges (not data-dependent quantiles) keep the report
    deterministic and replayable; add-one smoothing keeps ln defined
    when a bucket is empty on one side ONLY if the other side has it
    — a bucket absent from both sides is absent from the report,
    identically on both engines. One grouped agg (the totals come
    from summing the 10-row bucket table, not a second corpus scan):
    a single pass at any corpus size."""
    return psi_from_counts(
        psi_bucket_counts(df, value_col, split_pred, bucket_width, n_buckets),
        n_buckets=n_buckets,
        round_to=round_to,
    )


def psi_bucket_counts(
    df: DataFrame,
    value_col: str,
    split_pred: Column,
    bucket_width: float = 100.0,
    n_buckets: int = 10,
) -> DataFrame:
    """The PSI aggregation state: ``(bucket, n_a, n_b)`` counts over
    fixed-edge buckets. This IS what a streaming drift monitor
    accumulates (streaming/drift.py) — counts are mergeable, the
    report is a pure function of them (psi_from_counts), so stream
    and batch share both stages."""
    # clamped on BOTH ends: without the greatest() a negative value
    # column would mint one bucket per distinct negative multiple of
    # the width, breaking the <= n_buckets state bound the streaming
    # twin's driver-side accumulator relies on.
    # NULL payloads are EXCLUDED, not bucketed: floor(NULL/width) is
    # NULL and both engines' least/greatest SKIP NULLs, so without the
    # filter a NULL value silently inflated the TOP bucket of the
    # drift report (ADVICE r5) — the repo-wide NULL-payload convention
    # is exclusion, mirrored in the doc_length_psi oracle.
    b = F.greatest(
        F.least(
            F.floor(F.col(value_col) / F.lit(bucket_width)),
            F.lit(n_buckets - 1),
        ),
        F.lit(0),
    ).cast("long")
    tagged = df.filter(F.col(value_col).isNotNull()).select(
        b.alias("bucket"), split_pred.cast("int").alias("__a")
    )
    return tagged.groupBy("bucket").agg(
        F.sum("__a").cast("long").alias("n_a"),
        (F.count("*") - F.sum("__a")).cast("long").alias("n_b"),
    )


def psi_from_counts(
    counts: DataFrame,
    n_buckets: int = 10,
    round_to: int = 4,
) -> DataFrame:
    """PSI report from ``(bucket, n_a, n_b)`` counts: totals are the
    column sums of the (tiny) bucket table, then add-one-smoothed
    shares and (pa - pb) * ln(pa / pb) per bucket."""
    tot = counts.agg(
        F.sum("n_a").cast("long").alias("ta"),
        F.sum("n_b").cast("long").alias("tb"),
    )
    j = counts.crossJoin(F.broadcast(tot))
    pa = (F.col("n_a") + 1).cast("double") / (F.col("ta") + n_buckets)
    pb = (F.col("n_b") + 1).cast("double") / (F.col("tb") + n_buckets)
    return j.select(
        "bucket",
        "n_a",
        "n_b",
        (F.round(pa, round_to) + F.lit(0.0)).alias("pa"),
        (F.round(pb, round_to) + F.lit(0.0)).alias("pb"),
        (F.round((pa - pb) * F.log(pa / pb), round_to) + F.lit(0.0)).alias(
            "contrib"
        ),
    )


def ab_test_ztest(
    df: DataFrame,
    user_col: str,
    convert_pred: Column,
    variant: Column,
    round_to: int = 4,
) -> DataFrame:
    """Two-proportion z-test on USER-level conversion: assign each
    user to A/B via the deterministic ``variant`` expression, mark a
    user converted iff any of their rows satisfies ``convert_pred``,
    and report ``(n_a, conv_a, n_b, conv_b, p_a, p_b, z)`` in one
    row — the standard pooled-variance z = (pa - pb) /
    sqrt(pp (1-pp) (1/na + 1/nb)).

    Two cascaded aggs (events -> users -> 1 row); everything after
    the user collapse is scalar arithmetic on exact integers, so the
    doubles are bit-identical cross-engine before ROUND."""
    users = (
        df.select(
            F.col(user_col).alias("u"),
            variant.cast("int").alias("v"),
            convert_pred.cast("int").alias("c"),
        )
        .groupBy("u", "v")
        .agg(F.max("c").alias("converted"))
    )
    s = users.agg(
        F.sum(F.when(F.col("v") == 1, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("v") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("v") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )
    # every division is reachable only behind a positive-count guard:
    # ANSI mode raises on x/0 even for doubles, and an empty arm
    # (n_a or n_b = 0) or a degenerate experiment (pp = 0 or 1:
    # nobody / everybody converted) must report NULL, not crash.
    # F.when evaluates its value branch lazily (codegen if/else), so
    # nesting the se > 0 test inside the both-arms guard is safe.
    pa = F.when(F.col("n_a") > 0, F.col("conv_a").cast("double") / F.col("n_a"))
    pb = F.when(F.col("n_b") > 0, F.col("conv_b").cast("double") / F.col("n_b"))
    pp = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        pp * (F.lit(1.0) - pp)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    z = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0),
        F.when(se > 0, (pa - pb) / se),
    )
    return s.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        (F.round(pa, round_to) + F.lit(0.0)).alias("p_a"),
        (F.round(pb, round_to) + F.lit(0.0)).alias("p_b"),
        (F.round(z, round_to) + F.lit(0.0)).alias("z"),
    )


def classification_report(
    df: DataFrame,
    gold_col: str,
    pred_col: str,
    round_to: int = 4,
) -> DataFrame:
    """Per-class evaluation of a predictor against gold labels:
    ``(clazz, n_gold, n_pred, tp, precision, recall, f1)`` — one row
    per class seen in EITHER column (a class the model predicts but
    that never occurs in gold shows n_gold=0; a gold class the model
    cannot emit shows n_pred=0 with NULL precision, not a crash).

    Two small aggs over the (gold, pred) pairs joined FULL OUTER on
    the class label; every count is an exact integer and the P/R/F1
    divisions are guarded F.when (ANSI mode raises on /0). Scale: the
    pair table collapses to |classes| rows in one map-side-combined
    shuffle; everything after is dimension-sized."""
    # ONE corpus scan: collapse to the |classes|^2 confusion table
    # first (the pred expression — e.g. language_id's four stopword
    # scans — is evaluated once per row), then derive both margins
    # from it; Catalyst reuses the confusion Exchange for both
    pairs = df.select(
        F.col(gold_col).alias("g"), F.col(pred_col).alias("p")
    )
    conf = pairs.groupBy("g", "p").agg(F.count("*").cast("long").alias("c"))
    gold = conf.groupBy("g").agg(
        F.sum("c").cast("long").alias("n_gold"),
        F.sum(F.when(F.col("p") == F.col("g"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("tp"),
    )
    pred = conf.groupBy("p").agg(F.sum("c").cast("long").alias("n_pred"))
    j = gold.join(pred, gold["g"] == pred["p"], "full_outer").select(
        F.coalesce(F.col("g"), F.col("p")).alias("clazz"),
        F.coalesce(F.col("n_gold"), F.lit(0)).alias("n_gold"),
        F.coalesce(F.col("n_pred"), F.lit(0)).alias("n_pred"),
        F.coalesce(F.col("tp"), F.lit(0)).alias("tp"),
    )
    prec = F.when(
        F.col("n_pred") > 0, F.col("tp").cast("double") / F.col("n_pred")
    )
    rec = F.when(
        F.col("n_gold") > 0, F.col("tp").cast("double") / F.col("n_gold")
    )
    f1 = F.when(
        (F.col("n_pred") > 0)
        & (F.col("n_gold") > 0)
        & (prec + rec > 0),
        F.lit(2.0) * prec * rec / (prec + rec),
    )
    return j.select(
        "clazz",
        "n_gold",
        "n_pred",
        "tp",
        (F.round(prec, round_to) + F.lit(0.0)).alias("precision"),
        (F.round(rec, round_to) + F.lit(0.0)).alias("recall"),
        (F.round(f1, round_to) + F.lit(0.0)).alias("f1"),
    )


def key_skew_profile(
    df: DataFrame,
    key_col: str,
    round_to: int = 4,
) -> DataFrame:
    """Join-key skew diagnostic in one row: ``(n_keys, n_rows, max_n,
    p50_n, p99_n, top_share, gini)`` over the per-key row counts —
    the numbers that decide whether a join needs salting / AQE skew
    splitting before it runs at 100 TB.

    The corpus collapses to |keys| counts in one map-side-combined
    shuffle; the Gini coefficient is the exact sorted form
    G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n, but computed WITHOUT
    ranking the per-key table: keys sharing a count value v occupy a
    CONSECUTIVE rank range (ties break on the key, which doesn't
    change the set of ranks), so their rank-sum is closed-form —
    sum(i over the m_v keys) = m_v*s_v + m_v(m_v+1)/2 where s_v =
    #keys with smaller counts. The only window therefore runs over
    the DISTINCT count-value table (|distinct multiplicities| rows —
    hundreds even when |keys| is billions; the r6 form ranked every
    key in one unpartitioned window, a single-task sort of the whole
    key table at 100 TB). The percentiles use the same weighted
    table via percentile(v, p, m). Integer sums divided once keep
    the doubles bit-identical cross-engine."""
    freq = df.groupBy(F.col(key_col).alias("k")).agg(
        F.count("*").cast("long").alias("n")
    )
    byv = freq.groupBy("n").agg(F.count("*").cast("long").alias("__m"))
    # strict-prefix key count over distinct count values ascending —
    # inherent global order, provably bounded frame (see docstring)
    w = Window.orderBy(F.col("n")).rowsBetween(Window.unboundedPreceding, -1)
    ranked = byv.select(
        "n",
        "__m",
        F.coalesce(F.sum("__m").over(w), F.lit(0)).cast("long").alias("__s"),
    )
    return ranked.agg(
        # coalesce: SUM over zero rows is NULL where the old COUNT(*)
        # form reported 0 — keep the empty-input contract (n_keys = 0)
        F.coalesce(F.sum("__m"), F.lit(0)).cast("long").alias("n_keys"),
        F.sum(F.col("n") * F.col("__m")).cast("long").alias("n_rows"),
        F.max("n").cast("long").alias("max_n"),
        F.expr("percentile(n, 0.5, __m)").alias("__p50"),
        F.expr("percentile(n, 0.99, __m)").alias("__p99"),
        # integer end-to-end: m(m+1) is even, `div` keeps the rank-sum
        # exact past 2^53 where a double intermediate would mis-round
        F.sum(
            F.expr("n * (__m * __s + (__m * (__m + 1L)) div 2)")
        ).cast("long").alias("__in"),
    ).select(
        "n_keys",
        "n_rows",
        "max_n",
        (F.round(F.col("__p50"), round_to) + F.lit(0.0)).alias("p50_n"),
        (F.round(F.col("__p99"), round_to) + F.lit(0.0)).alias("p99_n"),
        (
            F.round(
                F.col("max_n").cast("double") / F.col("n_rows"), round_to
            )
            + F.lit(0.0)
        ).alias("top_share"),
        (
            # empty input: n_keys = 0 (count is non-null) would make
            # (n_keys+1)/n_keys raise under ANSI — report NULL stats
            F.round(
                F.when(
                    F.col("n_keys") > 0,
                    F.lit(2.0) * F.col("__in")
                    / (F.col("n_keys").cast("double") * F.col("n_rows"))
                    - (F.col("n_keys") + 1).cast("double") / F.col("n_keys"),
                ),
                round_to,
            )
            + F.lit(0.0)
        ).alias("gini"),
    )


def chi2_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
    round_to: int = 4,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns — the data-audit answer to "is source correlated with
    language / label / split?" (a curation run that accidentally made
    quality depend on source wants to know loudly). Emits ONE row:
    ``(chi2, dof, n)``.

    Shape: one groupBy over the (a, b) cell space (the only
    corpus-sized shuffle, partial-aggregated), then pure arithmetic on
    the |a|x|b| cell table with row/column totals as windows over it —
    nothing driver-side. NULL categories are excluded (the repo's
    NULL-payload convention).

    Cross-engine float discipline: each cell's term is computed as
    pow(double(o*n - ra*cb), 2) / double(ra*cb*n) — the inner products
    are exact BIGINT arithmetic (bounded by n^2 and n^3, fine under
    2^63 for any corpus whose cell counts fit a table), ONE double
    conversion each, ONE division, so both engines produce
    bit-identical per-cell terms and only the final sum carries the
    house-accepted ROUND residual.
    """
    cells = (
        df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(F.col(col_a).alias("__a"), F.col(col_b).alias("__b"))
        .agg(F.count(F.lit(1)).cast("long").alias("__o"))
    )
    wa = Window.partitionBy("__a")
    wb = Window.partitionBy("__b")
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = (
        cells.withColumn("__ra", F.sum("__o").over(wa).cast("long"))
        .withColumn("__cb", F.sum("__o").over(wb).cast("long"))
        .withColumn("__n", F.sum("__o").over(wall).cast("long"))
    )
    term = (
        F.pow((F.col("__o") * F.col("__n") - F.col("__ra") * F.col("__cb")).cast("double"), F.lit(2.0))
        / (F.col("__ra") * F.col("__cb") * F.col("__n")).cast("double")
    )
    agg = t.agg(
        (F.round(F.sum(term), round_to) + F.lit(0.0)).alias("chi2"),
        F.countDistinct("__a").cast("long").alias("__na"),
        F.countDistinct("__b").cast("long").alias("__nb"),
        F.max("__n").cast("long").alias("n"),
    )
    return agg.select(
        "chi2",
        ((F.col("__na") - 1) * (F.col("__nb") - 1)).cast("long").alias("dof"),
        F.coalesce("n", F.lit(0).cast("long")).alias("n"),
    )


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    split_pred: Column,
    round_to: int = 4,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the rows where
    ``split_pred`` holds (sample A) and the rest (sample B):
    D = max over x of |ECDF_A(x) - ECDF_B(x)| — the distribution-drift
    test that catches shape changes PSI's fixed buckets blur. Emits
    ONE row ``(d_stat, n_a, n_b)``.

    Shape: one groupBy collapses the corpus to per-distinct-value
    counts (partial-aggregated), then cumulative sums run as a window
    over the DISTINCT-VALUE table — tiny by construction (doc lengths,
    scores), so the single-partition window is over cells, never rows.
    The sup is computed on exact integers (|cumA*nB - cumB*nA|, cross-
    multiplied instead of divided) with ONE final division, so both
    engines agree bit-for-bit before ROUND. NULL values are excluded
    (repo convention); an empty side yields NULL d_stat, visibly.
    """
    cells = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("__v"))
        .agg(
            F.sum(split_pred.cast("long")).alias("__ca"),
            F.sum((~split_pred).cast("long")).alias("__cb"),
        )
    )
    wv = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = cells.select(
        F.sum("__ca").over(wv).cast("long").alias("__cuma"),
        F.sum("__cb").over(wv).cast("long").alias("__cumb"),
        F.sum("__ca").over(wall).cast("long").alias("__na"),
        F.sum("__cb").over(wall).cast("long").alias("__nb"),
    )
    gap = F.abs(F.col("__cuma") * F.col("__nb") - F.col("__cumb") * F.col("__na"))
    return cum.agg(
        (
            F.round(
                F.max(gap).cast("double")
                / F.when(
                    (F.max("__na") > 0) & (F.max("__nb") > 0),
                    (F.max("__na") * F.max("__nb")).cast("double"),
                ),
                round_to,
            )
            + F.lit(0.0)
        ).alias("d_stat"),
        F.coalesce(F.max("__na"), F.lit(0).cast("long")).alias("n_a"),
        F.coalesce(F.max("__nb"), F.lit(0).cast("long")).alias("n_b"),
    )


def poisson_bootstrap_mean_ci(
    df,
    key_col: str,
    val_col: str,
    n_reps: int = 100,
    alpha: float = 0.05,
    salt: str = "boot",
):
    """Poisson bootstrap CI for the mean — the single-pass resampling
    scheme that scales (Chamandy et al., "Estimating Uncertainty for
    Massive Data Streams", Google 2012): instead of materializing B
    resamples, each row draws an independent Poisson(1) replication
    weight per replicate, so the whole bootstrap is one map-side
    explode + one partial-aggregable groupBy(rep) — B×|rows| rows
    exist only inside the map stage, and the shuffle carries B rows
    per partition.

    Determinism: the weight comes from an md5 draw on
    ``salt:rep:key`` against PRE-COMPUTED Poisson(1) CDF hex
    thresholds (truncated at k=5, a 0.06% tail both engines cut
    identically), so DuckDB replays every draw. CI bounds are order
    statistics of the ROUND(mean, 4) replicate means with rep-id
    tie-break — no percentile interpolation to diverge on.

    Returns one row: n_reps (surviving replicates), mean, ci_lo,
    ci_hi. The only driver traffic is the B replicate means
    (bounded by ``n_reps``, never by the data).
    """
    import math

    from pyspark.sql import functions as F

    from .sampling import _hex_threshold

    # Poisson(1) CDF, truncated at k=5
    pmf, cum, cdf = math.exp(-1.0), 0.0, []
    for k in range(5):
        cum += pmf
        cdf.append(_hex_threshold(min(cum, 1.0)))
        pmf /= k + 1

    # The block-explode below fans every row out 25x (n_reps/4) and
    # runs one md5 per (block, key) — the operator's dominant compute.
    # Repartition the NARROW (key, value) projection first so that
    # fan-out stage parallelism is decoupled from scan splits (a
    # single-row-group parquet scans as ONE task and would run the
    # whole B x rows hash serially — guide §2.5 repartition-after-
    # read; the exchange itself carries 16 bytes/row, nothing next to
    # the 25x md5 work above it). Weight draws are md5-deterministic
    # per (rep, key), so partitioning cannot change any draw; replicate
    # sums were already order-free (map-side partials).
    vals = (
        df.select(
            F.col(key_col).alias("__k"), F.col(val_col).cast("double").alias("__v")
        )
        .filter(F.col(val_col).isNotNull())
        .transform(lambda d: fanout_repartition(d, "__k"))
    )
    # one md5 yields 32 hex chars = FOUR independent 8-hex draws, so
    # replicates are lane-packed 4-per-hash: rep r reads lane (r-1)%4
    # of md5(salt:block:key), block = (r-1)//4. Crucially the hash is
    # computed BETWEEN a block-explode and a lane-explode — Generate
    # does not collapse into the projection below it, so the md5 runs
    # once per (block, key), not once per replicate row: 4x fewer
    # hashes on the B×rows fan-out (measured 7.9s -> ~4.7s warm at
    # sf0.1, B=100 — the residual is the weight CASE + partial agg
    # over the exploded rows). The draws stay independent uniforms;
    # the oracle replays the identical block/lane arithmetic.
    if n_reps % 4:
        raise ValueError(f"n_reps must be a multiple of 4, got {n_reps}")
    # alpha outside (0, 1) would make lo_idx 0 (Python's negative
    # indexing then silently returns the MAX replicate mean) or index
    # past the replicate list — reject instead (ADVICE r10)
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    blocks = vals.withColumn(
        "__blk", F.explode(F.sequence(F.lit(0), F.lit(int(n_reps) // 4 - 1)))
    ).withColumn(
        "__h",
        F.md5(
            F.concat(
                F.lit(f"{salt}:"),
                F.col("__blk").cast("string"),
                F.lit(":"),
                F.col("__k").cast("string"),
            )
        ),
    )
    # The four lanes fold into EIGHT aggregate expressions per block
    # row instead of a second 4x explode (guide §2.3 aggregate-before-
    # you-shuffle): the weight CASE count is unchanged (4 per block
    # row either way), but the aggregate consumes B/4 x rows instead
    # of B x rows — no Generate, no row materialization, 4x fewer
    # buffer lookups. Each replicate's sum still adds exactly the
    # same multiset of w·v terms, so the ROUND(mean, 4) contract is
    # untouched; the 25-row result unpivots to (rep, mean) driver-side
    # arithmetic identical to the oracle's lane formula.
    def _lane_w(lane: int):
        draw = F.substring(F.col("__h"), 1 + 8 * lane, 8)
        w = F.when(draw < cdf[0], 0)
        for k in range(1, 5):
            w = w.when(draw < cdf[k], k)
        return w.otherwise(5)

    # __sv/__cn piggyback the corpus sum/count onto the SAME aggregate
    # (each block group contains every row once, so any single block's
    # Σ__v / n reproduces avg("__v")): the final mean used to be a
    # second full scan+exchange job only to run one avg — folding it
    # here makes the whole operator ONE distributed action (VERDICT
    # r12 ask #2: fewer actions per query; §5 fewer materializations).
    # Same float discipline as the oracle: one double sum (order
    # already free — both engines sum in their own order under the
    # ROUND(·,4) grid), one divide, SQL-ROUND half-away.
    per_block = blocks.groupBy("__blk").agg(
        *[
            a
            for lane in range(4)
            for a in (
                F.sum(_lane_w(lane) * F.col("__v")).alias(f"__s{lane}"),
                F.sum(_lane_w(lane)).alias(f"__c{lane}"),
            )
        ],
        F.sum("__v").alias("__sv"),
        F.count("*").alias("__cn"),
    )
    lanes = per_block.select(
        "__blk",
        "__sv",
        "__cn",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(lane).alias("__lane"),
                        F.col(f"__s{lane}").alias("__s"),
                        F.col(f"__c{lane}").alias("__c"),
                    )
                    for lane in range(4)
                ]
            )
        ).alias("__x"),
    ).select(
        "__blk",
        "__sv",
        "__cn",
        (F.col("__blk") * 4 + F.col("__x.__lane") + 1).alias("__rep"),
        F.round(F.col("__x.__s") / F.col("__x.__c"), 4).alias("__m"),
        F.col("__x.__c").alias("__sw"),
    )
    rows = lanes.collect()  # bounded by 4*n_reps lane rows, never data
    means = [r for r in rows if r["__sw"] is not None and r["__sw"] > 0]
    ordered = sorted((float(r["__m"]), int(r["__rep"])) for r in means)
    lo_idx = math.ceil(alpha / 2.0 * n_reps)  # 1-based order statistic
    hi_idx = math.ceil((1.0 - alpha / 2.0) * n_reps)
    lo = ordered[lo_idx - 1][0] if len(ordered) >= lo_idx else None
    hi = ordered[hi_idx - 1][0] if len(ordered) >= hi_idx else None
    # corpus mean off any one block's piggybacked (Σ__v, n) — SQL
    # ROUND semantics via engine.round_half_away; empty input
    # (no block rows at all) mirrors avg() over zero rows: NULL
    mean = (
        round_half_away(float(rows[0]["__sv"]) / int(rows[0]["__cn"]), 1e4)
        if rows
        else None
    )

    spark = df.sparkSession
    return spark.range(1).select(
        F.lit(len(ordered)).cast("long").alias("n_reps"),
        F.lit(mean).cast("double").alias("mean"),
        F.lit(lo).cast("double").alias("ci_lo"),
        F.lit(hi).cast("double").alias("ci_hi"),
    )


def split_conformal_coverage(
    df,
    key_col: str,
    group_col: str,
    val_col: str,
    train_frac: float = 0.5,
    calib_frac: float = 0.3,
    alpha: float = 0.1,
    salt: str = "conf",
):
    """Split-conformal prediction intervals (Papadopoulos et al. 2002;
    Lei et al. 2018): md5-split the rows into train/calibration/test,
    fit the simplest group-mean regressor on train, take q_hat = the
    ceil((1−α)(n_calib+1))-th smallest absolute calibration residual
    (the finite-sample-corrected conformal quantile), and report the
    empirical coverage of ±q_hat on test — which the conformal
    guarantee puts at ≥ 1−α regardless of the model.

    Distributed shape: the model is a broadcast-sized per-group mean
    table; the conformal quantile is ONE order statistic, fetched by
    sort+offset (never a global window over data); driver traffic is
    three scalar rows (n_calib, q_hat, then the counts and coverage
    the one-row result is built from). Determinism: draws are the house
    md5-prefix family, residuals ROUND(·, 4) with the row key as the
    sort tie-break, k computed by the identical ceil arithmetic on
    both engines (clamped to n_calib; the unclamped k > n_calib case
    means q_hat = +inf — a degenerate 100%-coverage report nobody
    ships)."""
    import math

    from pyspark.sql import functions as F

    from .sampling import _draw, _hex_threshold

    spark = df.sparkSession
    t_train = _hex_threshold(train_frac)
    t_calib = _hex_threshold(train_frac + calib_frac)

    # explicit-N repartition + persist: the three split slices (train
    # x2 actions, calib, test) each re-ran the scan + per-row md5 draw
    # inside the one-task scan stage; one narrow exchange + cache runs
    # it once, parallel (guide §2.5 / §5; rationale in
    # engine.fanout_repartition). Released when the scope exits, after
    # the last collect.
    with cache_scope() as hold:
        base = hold(
            fanout_repartition(
                df.select(
                    F.col(key_col).alias("__id"),
                    F.col(group_col).alias("__g"),
                    F.col(val_col).cast("double").alias("__v"),
                    _draw(F.col(key_col), f"{salt}:").alias("__d"),
                ).filter(F.col("__v").isNotNull()),
                "__id",
            )
        )
        train = base.filter(F.col("__d") < t_train)
        calib = base.filter((F.col("__d") >= t_train) & (F.col("__d") < t_calib))
        test = base.filter(F.col("__d") >= t_calib)

        model = train.groupBy("__g").agg(
            F.round(F.avg("__v"), 4).alias("__pred"),
            F.count("*").cast("long").alias("__ntr"),
        )
        # res feeds two actions (the count and the order statistic):
        # persist so the split + model + residual join runs once, and
        # release it before the scoring pass — the returned plan never
        # reads res
        with cache_scope() as hold_res:
            res = hold_res(
                calib.join(F.broadcast(model), "__g").select(
                    "__id", F.round(F.abs(F.col("__v") - F.col("__pred")), 4).alias("__r")
                )
            )
            n_calib = res.count()
            if n_calib == 0:
                return spark.createDataFrame(
                    [],
                    "n_train BIGINT, n_calib BIGINT, n_test BIGINT, "
                    "q_hat DOUBLE, coverage DOUBLE",
                )
            k = min(math.ceil((1.0 - alpha) * (n_calib + 1)), n_calib)
            q_hat = float(
                res.orderBy("__r", "__id").offset(k - 1).limit(1).collect()[0]["__r"]
            )

        scored = test.join(F.broadcast(model), "__g").select(
            F.round(F.abs(F.col("__v") - F.col("__pred")), 4).alias("__r")
        )
        row = (
            train.agg(F.count("*").cast("long").alias("n_train"))
            .crossJoin(
                scored.agg(
                    F.count("*").cast("long").alias("n_test"),
                    F.round(
                        F.avg(
                            F.when(F.col("__r") <= q_hat, 1.0).otherwise(0.0)
                        ),
                        4,
                    ).alias("coverage"),
                )
            )
            .collect()[0]
        )
    return spark.range(1).select(
        F.lit(row["n_train"]).cast("long").alias("n_train"),
        F.lit(n_calib).cast("long").alias("n_calib"),
        F.lit(row["n_test"]).cast("long").alias("n_test"),
        F.lit(q_hat).alias("q_hat"),
        F.lit(row["coverage"]).cast("double").alias("coverage"),
    )
