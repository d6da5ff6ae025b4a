"""Temporal join operators: as-of and range joins (extension).

Spark has no built-in as-of join (pandas ``merge_asof`` is the
single-node reference semantics). The distributed form here is the
union-merge pattern: tag both sides, union, sort within key by time,
carry the right side's values forward with a last-non-null window,
keep the left rows. One shuffle on the key, one sort — the same cost
as a sort-merge join, with no per-key loops or UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    value_cols: list[str],
) -> DataFrame:
    """For each left row, attach ``value_cols`` from the latest right
    row with the same key whose time is <= the left time.

    Ties (equal timestamps) resolve to the right row, matching pandas
    ``merge_asof(allow_exact_matches=True)``.

    A value column whose name already exists on the left lands as
    ``<name>_asof`` (pandas' suffix behavior) — emitting two columns
    with one name would make the result unselectable.
    """
    out_names = {
        c: (f"{c}_asof" if c in left.columns else c) for c in value_cols
    }

    # The matched row's values travel as ONE struct (NULL for left
    # rows, non-null for right rows even when its FIELDS are NULL), so
    # last(ignorenulls) returns the as-of ROW — per-column fills used
    # to stitch the most recent non-null value of each column from
    # DIFFERENT right rows, fabricating rows that never existed
    # (review finding; pandas merge_asof returns the matched row's
    # NULLs as NULLs).
    l_tagged = left.select(
        F.col(on).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.lit(None)
        .cast(f"struct<{','.join(f'{c}:{right.schema[c].dataType.simpleString()}' for c in value_cols)}>")
        .alias("__v"),
        F.struct(*left.columns).alias("__row"),
    )
    r_tagged = right.select(
        F.col(on).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__is_left"),
        F.struct(*[F.col(c).alias(c) for c in value_cols]).alias("__v"),
        F.lit(None).cast(l_tagged.schema["__row"].dataType).alias("__row"),
    )
    # A right row with NULL time can never be the as-of match (its
    # position on the time axis is unknown) — without this filter the
    # nulls-first sort made it a universal fallback fill. Left rows
    # with NULL time likewise have no match: they bypass the window
    # entirely and re-enter with NULL fills.
    merged = l_tagged.filter(F.col("__t").isNotNull()).unionByName(
        r_tagged.filter(F.col("__t").isNotNull())
    )

    # right rows sort before left rows at equal time -> exact match
    # allowed. The trailing __v key makes ties among right rows at one
    # timestamp deterministic (last() picks the max value struct):
    # without it the window order among equal keys is whatever
    # survives the shuffle — racy on a real cluster.
    w = (
        Window.partitionBy("__k")
        .orderBy(F.asc("__t"), F.asc("__is_left"), F.asc("__v"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = merged.select(
        "*", F.last("__v", ignorenulls=True).over(w).alias("__f")
    )
    matched = filled.filter(F.col("__is_left") == 1).select(
        "__row.*",
        *[F.col(f"__f.{c}").alias(out_names[c]) for c in value_cols],
    )
    null_time = l_tagged.filter(F.col("__t").isNull()).select(
        "__row.*",
        *[F.col(f"__v.{c}").alias(out_names[c]) for c in value_cols],
    )
    return matched.unionByName(null_time)


def range_join(
    facts: DataFrame,
    ranges: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    how: str = "inner",
    strategy: str = "auto",
    bucket_width: float | None = None,
    broadcast_max_rows: int = 8192,
) -> DataFrame:
    """Join each fact row to the range [lo, hi) containing its value.

    strategy='broadcast': broadcast the ranges side — a broadcast
    nested loop with an interval predicate, no shuffle of the fact
    table. Right for dimension-sized range tables, O(n*m) if the
    ranges side grows.

    strategy='bucketed': the scale path for large range tables —
    bucketize the value domain, explode each range to the buckets it
    overlaps, and equi-join fact.bucket == range.bucket before the
    interval check. The join shuffles hash-partitioned on the bucket
    key (no nested loop, no broadcast); replication is span/width + 1
    rows per range.

    strategy='auto': count the ranges side and pick (<=
    ``broadcast_max_rows`` -> broadcast). Joins that null-extend the
    RANGES side (right/full outer) always use broadcast: the bucketed
    path explodes each range to one row per overlapped bucket, so an
    unmatched range would surface once per bucket instead of once.
    """
    ranges_outer = how.lower().replace("_", "") in (
        "right",
        "rightouter",
        "full",
        "fullouter",
        "outer",
    )
    if strategy == "auto":
        if ranges_outer:
            strategy = "broadcast"
        else:
            # ONE agg answers both auto questions (row count for the
            # strategy pick, average span for the bucket width) — the
            # count()-then-avg() form scanned the ranges twice
            stats = ranges.agg(
                F.count("*").alias("n"),
                F.avg(F.col(hi_col) - F.col(lo_col)).alias("w"),
            ).first()
            if stats["n"] <= broadcast_max_rows:
                strategy = "broadcast"
            else:
                strategy = "bucketed"
                if bucket_width is None:
                    bucket_width = float(stats["w"] or 1.0)
    if strategy == "bucketed" and ranges_outer:
        raise ValueError(
            f"how={how!r} null-extends the exploded ranges side under the "
            "bucketed strategy (unmatched ranges would duplicate per bucket); "
            "use strategy='broadcast'"
        )
    if strategy == "broadcast":
        cond = (facts[value_col] >= ranges[lo_col]) & (
            facts[value_col] < ranges[hi_col]
        )
        return facts.join(F.broadcast(ranges), cond, how)
    if strategy != "bucketed":
        raise ValueError(f"strategy must be auto|broadcast|bucketed, got {strategy!r}")

    if bucket_width is None:
        # one cheap distributed agg: average span keeps replication ~2x
        bucket_width = float(
            ranges.agg(
                F.avg(F.col(hi_col) - F.col(lo_col)).alias("w")
            ).first()["w"]
            or 1.0
        )
    w = float(bucket_width)
    # collision-safe temp name: a caller's own __bkt column must not
    # be clobbered/dropped (same fix class as debounce's __gap)
    bkt = "__bkt"
    while bkt in facts.columns or bkt in ranges.columns:
        bkt += "_"
    f = facts.withColumn(bkt, F.floor(F.col(value_col) / w))
    # a range overlaps buckets floor(lo/w)..floor(hi/w); the possible
    # extra trailing bucket (hi on a boundary) only adds candidates the
    # interval predicate rejects
    r = ranges.withColumn(
        bkt,
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / w), F.floor(F.col(hi_col) / w)
            )
        ),
    )
    cond = (
        (f[bkt] == r[bkt])
        & (f[value_col] >= r[lo_col])
        & (f[value_col] < r[hi_col])
    )
    return f.join(r, cond, how).drop(f[bkt]).drop(r[bkt])


def ewma_user_scores(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tau_seconds: float = 86400.0,
) -> DataFrame:
    """Per-user exponentially time-decayed engagement score: each
    event contributes value · e^(-(t_ref − t)/τ) where t_ref is the
    corpus' newest event — recent activity dominates, stale activity
    decays smoothly (recommendation/engagement freshness signal; the
    reference has no time-weighted analytics at all).

    Plan: timestamps truncate to integer epoch seconds (so the decay
    argument is an exact rational both here and in the SQL oracle),
    t_ref is a 1-row aggregate broadcast back, then one partial-final
    aggregation per user. Two tiny exchanges, no windows, no state —
    at 100 TB this is a plain scan + map-side-combined agg.
    """
    t = F.unix_seconds(F.col(ts_col).cast("timestamp"))
    ref = events.select(t.alias("__t")).agg(F.max("__t").alias("__ref"))
    decayed = (
        events.select(F.col(user_col), t.alias("__t"), F.col(value_col))
        .crossJoin(F.broadcast(ref))
        .select(
            user_col,
            (
                F.col(value_col)
                * F.exp(-(F.col("__ref") - F.col("__t")) / F.lit(tau_seconds))
            ).alias("__c"),
        )
    )
    return decayed.groupBy(user_col).agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("__c"), 4).alias("ewma_score"),
    )


def rate_anomalies(
    events: DataFrame,
    *,
    type_col: str = "event_type",
    ts_col: str = "ts",
    lookback: int = 24,
    z_cutoff: float = 2.5,
) -> DataFrame:
    """Event-rate spike detection: hourly event counts per type, each
    hour compared against the trailing ``lookback`` hours' mean/σ of
    ITS OWN type; hours with z > cutoff (and a full trailing window)
    are anomalies. The batch twin of a streaming rate monitor.

    Plan: one aggregation to hourly counts, then the hour series is
    DENSIFIED per type (sequence over the type's [min, max] hour,
    left-joined onto the counts, missing hours = 0) so the trailing
    window really spans ``lookback`` HOURS — without densification a
    rows-window silently skips zero-event hours and scores a spike
    against a baseline weeks wide (found in review). The corpus
    collapses to |types|·|hours| rows before any window; the expensive
    first aggregation is map-side combined. σ uses the population form
    over a COMPLETE window only (count = lookback), so partial leading
    windows never alarm. Zero-filled hours never alarm themselves
    (n_events = 0 is never > mu + z·σ for non-negative baselines) but
    they DO deflate the baseline, as a real rate monitor must.
    """
    sparse = (
        events.select(
            F.col(type_col), F.date_trunc("hour", F.col(ts_col)).alias("hour_ts")
        )
        .groupBy(type_col, "hour_ts")
        .agg(F.count("*").cast("long").alias("n_events"))
    )
    return score_hourly_rates(
        sparse, type_col=type_col, lookback=lookback, z_cutoff=z_cutoff
    )


def score_hourly_rates(
    sparse: DataFrame,
    *,
    type_col: str = "event_type",
    lookback: int = 24,
    z_cutoff: float = 2.5,
) -> DataFrame:
    """Score a pre-aggregated (type, hour_ts, n_events) table for rate
    spikes — the shared core of the batch detector above and the
    streaming monitor (streaming/monitor.py), which feeds it the
    windowed-aggregation state each micro-batch.

    A spike off a PERFECTLY FLAT baseline (trailing sigma = 0, count
    above the constant mean) alarms with a NULL z_score — no finite z
    exists, but suppressing it entirely made the detector blind to
    the clearest anomalies (review finding)."""
    spans = sparse.groupBy(type_col).agg(
        F.min("hour_ts").alias("__lo"), F.max("hour_ts").alias("__hi")
    )
    dense_hours = spans.select(
        type_col,
        F.explode(
            F.sequence("__lo", "__hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_ts"),
    )
    hourly = dense_hours.join(sparse, [type_col, "hour_ts"], "left").select(
        type_col,
        "hour_ts",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
    )
    w = (
        Window.partitionBy(type_col)
        .orderBy("hour_ts")
        .rowsBetween(-lookback, -1)
    )
    return (
        hourly.withColumn("__mu", F.avg("n_events").over(w))
        .withColumn("__sigma", F.stddev_pop("n_events").over(w))
        .withColumn("__cnt", F.count("n_events").over(w))
        .filter(F.col("__cnt") == lookback)
        .withColumn(
            "z",
            F.when(
                F.col("__sigma") > 0,
                (F.col("n_events") - F.col("__mu")) / F.col("__sigma"),
            ),
        )
        .filter(
            (F.col("z") > z_cutoff)
            | ((F.col("__sigma") == 0) & (F.col("n_events") > F.col("__mu")))
        )
        .select(
            type_col,
            "hour_ts",
            "n_events",
            F.round("z", 4).alias("z_score"),
        )
    )


def debounce_events(
    events: DataFrame,
    *,
    key_cols: tuple[str, ...] = ("user_id", "event_type"),
    ts_col: str = "ts",
    quiet_seconds: int = 300,
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Collapse bursts: keep only the FIRST event of each burst, where
    a burst is a run of same-key events each within ``quiet_seconds``
    of its predecessor (retry storms, double-clicks, at-least-once
    replays — the standard debounce/throttle prep before funnel or
    billing analytics).

    One LAG window per key partition; an event survives iff it has no
    predecessor or the gap to the previous same-key event is >= the
    quiet period. Gap chaining is deliberate (an hour-long machine-gun
    burst still collapses to one row, unlike fixed-window throttles
    that re-emit every window).
    """
    t = F.unix_seconds(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(*key_cols).orderBy(t, F.col(order_tiebreak))
    gap = t - F.lag(t).over(w)
    # window expressions can't sit in a WHERE, so the gap needs a temp
    # column — pick a name no caller column uses instead of clobbering
    # a pre-existing one (review finding)
    tmp = "__gap"
    while tmp in events.columns:
        tmp += "_"
    return (
        events.withColumn(tmp, gap)
        .filter(F.col(tmp).isNull() | (F.col(tmp) >= quiet_seconds))
        .drop(tmp)
    )


def funnel_stage_counts(
    events: DataFrame,
    stages: list[str],
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel analysis: how many users reached stage k — i.e.
    performed stages[0], then STRICTLY LATER stages[1], then strictly
    later stages[2], ... (the classic view -> click -> purchase
    conversion funnel).

    Emits ``(stage_idx, stage, n_users)``, one row per stage.

    Shape: one aggregation per stage, each co-partitioned on the user
    key — after the first groupBy establishes hash(user) partitioning,
    every later join + groupBy reuses that exchange, so k stages cost
    one corpus shuffle plus (k-1) |users|-row joins, not k corpus
    shuffles. Timestamps compare at SECOND granularity ("strictly
    later" = a later epoch second): cross-engine sub-second tie
    semantics differ (parquet ns vs Spark µs truncation), and funnel
    causality below one second is noise anyway.
    """
    ev = events.select(
        F.col(user_col).alias("__u"),
        F.unix_seconds(F.col(ts_col).cast("timestamp")).alias("__s"),
        F.col(type_col).alias("__t"),
    )
    reached = ev.filter(F.col("__t") == stages[0]).groupBy("__u").agg(
        F.min("__s").alias("__prev")
    )

    def stage_row(i: int, stage: str, users: DataFrame) -> DataFrame:
        return users.agg(F.count("*").cast("long").alias("n_users")).select(
            F.lit(i).cast("long").alias("stage_idx"),
            F.lit(stage).alias("stage"),
            "n_users",
        )

    # fully lazy: one plan, no driver-side counting loop. Each stage's
    # branch shares the previous stages' subplan, which Spark
    # deduplicates via exchange reuse (identical child plans -> one
    # shuffle write, k reads).
    out = stage_row(0, stages[0], reached)
    for i, stage in enumerate(stages[1:], start=1):
        reached = (
            ev.filter(F.col("__t") == stage)
            .join(reached, "__u")
            .filter(F.col("__s") > F.col("__prev"))
            .groupBy("__u")
            .agg(F.min("__s").alias("__prev"))
        )
        out = out.unionAll(stage_row(i, stage, reached))
    return out


def hour_of_day_baseline(
    events: DataFrame,
    *,
    type_col: str = "event_type",
    ts_col: str = "ts",
    round_to: int = 4,
) -> DataFrame:
    """Seasonal (hour-of-day) traffic baseline per event type: the
    mean hourly event count for each (type, hour-of-day) cell and its
    lift over the type's all-hours mean — the denominator a
    rate-anomaly monitor needs to avoid paging on the 9am ramp every
    day.

    Emits ``(event_type, hod, n_hours, avg_n, lift)``. Two cascaded
    aggregations (hourly counts -> hod means); the second input is
    |types| x |hours| rows, so everything past the first shuffle is
    trivial. Hours with zero events are absent from the hourly counts
    and therefore from the baseline's denominator — callers needing
    dense baselines should densify first (see rate_anomalies'
    generate_series pattern).
    """
    hourly = events.groupBy(
        F.col(type_col).alias("event_type"),
        F.date_trunc("hour", F.col(ts_col)).alias("__h"),
    ).agg(F.count("*").cast("long").alias("__n"))
    by_hod = hourly.groupBy(
        "event_type", F.hour("__h").cast("long").alias("hod")
    ).agg(
        F.count("*").cast("long").alias("n_hours"),
        F.sum("__n").alias("__tot"),
    )
    # per-type mean hourly volume: the lift denominator. One more agg
    # over the tiny by-hod table, broadcast back.
    overall = by_hod.groupBy("event_type").agg(
        (F.sum("__tot") / F.sum("n_hours")).alias("__mean")
    )
    # multiply-then-single-divide so both engines produce the
    # bit-identical double before ROUND (cross-engine float split)
    return (
        by_hod.join(F.broadcast(overall), "event_type")
        .select(
            "event_type",
            "hod",
            "n_hours",
            F.round(F.col("__tot") / F.col("n_hours"), round_to).alias("avg_n"),
            F.round(
                F.col("__tot") / (F.col("n_hours") * F.col("__mean")), round_to
            ).alias("lift"),
        )
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str = "l_start",
    l_end: str = "l_end",
    r_start: str = "r_start",
    r_end: str = "r_end",
    bucket_width: int = 21600,
) -> DataFrame:
    """Interval-overlap equi-bucketed join: every (left, right) row
    pair whose [start, end] intervals intersect (closed endpoints,
    integer units — epoch seconds in the registered query), each pair
    emitted EXACTLY once, with an ``overlap`` length column appended.

    This is the interval-x-interval primitive Spark's joins lack
    (``range_join`` covers point-in-band): the naive expression is a
    cross join with a range predicate — O(|L| x |R|) at any scale.
    Instead both sides explode to the fixed-width buckets their
    interval covers and equi-join on the bucket id, so the shuffle
    carries span/bucket_width copies of each row and candidates are
    bucket-local. The classic exactly-once trick makes the join
    dedup-FREE: a pair is accepted only in the single bucket
    containing ``greatest(l_start, r_start)`` — the overlap's first
    instant, which both intervals provably cover — so no distinct
    shuffle ever runs. Pick ``bucket_width`` near the median interval
    span: wider buckets cut the explode fan-out, narrower buckets cut
    cross-bucket false candidates (AQE skew-split handles hot
    buckets either way). Bucket ids use integer div (the documented
    double-quotient mis-bucketing trap).
    """
    reserved = {"__b", "overlap"}
    clash = sorted(reserved & (set(left.columns) | set(right.columns)))
    if clash:
        # silently overwriting a caller column is the column-clobber
        # bug class fixed repo-wide in an earlier review round — fail
        # loudly instead
        raise ValueError(
            f"interval_overlap_join reserves column name(s) {clash}; "
            "rename them on the input frames first"
        )
    w = int(bucket_width)
    lb = left.withColumn(
        "__b", F.expr(f"explode(sequence({l_start} div {w}, {l_end} div {w}))")
    )
    rb = right.withColumn(
        "__b", F.expr(f"explode(sequence({r_start} div {w}, {r_end} div {w}))")
    )
    anchor = F.expr(f"greatest({l_start}, {r_start}) div {w}")
    return (
        lb.join(rb, "__b")
        .filter(
            (F.col(l_start) <= F.col(r_end))
            & (F.col(r_start) <= F.col(l_end))
            & (F.col("__b") == anchor)
        )
        .drop("__b")
        .withColumn(
            "overlap",
            F.least(F.col(l_end), F.col(r_end))
            - F.greatest(F.col(l_start), F.col(r_start)),
        )
    )
