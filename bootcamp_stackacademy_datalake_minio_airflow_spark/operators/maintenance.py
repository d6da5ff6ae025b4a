"""Lake maintenance & skew/scale hygiene operators (SURVEY §7 M6).

The reference writes one flat file per table and has no notion of
skew or compaction. These operators are the library pieces a 100 TB
lake needs on top of the declarative plans:

- small-file compaction (object stores degrade badly at
  many-tiny-files: listing cost, per-object request overhead, scan
  task explosion);
- salted distinct counts for keys whose frequency distribution breaks
  a plain shuffle aggregation (one reducer gets the hot key's entire
  value set). Skewed joins need no operator: AQE's skew-join, enabled
  in session.py, splits them at runtime;
- outlier clipping and group-mean imputation for feature columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def compact(
    spark: SparkSession,
    path: str,
    target_partitions: int | None = None,
    target_file_rows: int | None = None,
) -> int:
    """Rewrite a parquet prefix into fewer, scan-sized files, validate
    the row count, and atomically publish the result back AT ``path``
    (stage -> count-check -> rename swap; see fsutil.publish_swap).

    Returns the number of output partitions. Uses coalesce (no
    shuffle) when shrinking; repartition when the target is larger
    than the current layout. On object stores run this on cold
    partitions only (e.g. yesterday's) — rewriting hot prefixes races
    with writers.
    """
    from ..fsutil import delete_path, publish_swap

    df = spark.read.parquet(path)
    n_files = len(df.inputFiles())
    n_rows = df.count()
    target = target_partitions or max(1, n_files // 8)
    out = df.coalesce(target) if target < n_files else df.repartition(target)
    staging = f"{path.rstrip('/')}__compacting"
    writer = out.write.mode("overwrite")
    if target_file_rows:
        writer = writer.option("maxRecordsPerFile", str(target_file_rows))
    writer.parquet(staging)
    staged_rows = spark.read.parquet(staging).count()
    if staged_rows != n_rows:
        delete_path(spark, staging)
        raise ValueError(
            f"compact validation failed: {staged_rows} staged vs {n_rows} source rows"
        )
    publish_swap(spark, staging, path)
    return target


def salted_distinct_count(
    df: DataFrame,
    key: str,
    value_col: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """COUNT(DISTINCT value) per key, skew-safely: the classic two-phase
    salt pattern for the one aggregation partial aggregation can NOT
    fix. A plain ``groupBy(key).agg(countDistinct(v))`` must co-locate
    every distinct value of a hot key on one reducer (distinct is not
    algebraic); salting by ``hash(value) % buckets`` splits each key's
    VALUE SPACE into disjoint shards — per-shard distinct counts are
    then plain longs that sum exactly.

    Phase 1 shuffles on (key, salt) — a hot key spreads over
    ``salt_buckets`` reducers; phase 2 shuffles ``keys x buckets`` tiny
    rows. Exact, not approximate (the shards partition the values), and
    salt derives from the value itself, so the result is independent of
    input partitioning.
    """
    salted = df.select(
        F.col(key),
        F.col(value_col),
        F.pmod(F.xxhash64(F.col(value_col)), F.lit(salt_buckets)).alias("__salt"),
    )
    per_shard = salted.groupBy(key, "__salt").agg(
        F.count_distinct(F.col(value_col)).alias("__d")
    )
    return per_shard.groupBy(key).agg(
        F.sum("__d").cast("long").alias("n_distinct")
    )


def winsorize(
    df: DataFrame,
    col: str,
    *,
    lower_q: float = 0.01,
    upper_q: float = 0.99,
    out_col: str | None = None,
) -> DataFrame:
    """Clip ``col`` to its [lower_q, upper_q] quantile band — the
    standard outlier-taming transform before statistics or model
    features (extreme values saturate at the band edges instead of
    dominating means/sums).

    Plan: one exact-percentile aggregate (two scalars), broadcast
    back, then a map-side clamp. NULLs pass through unclipped.
    """
    out = out_col or f"{col}_winsorized"
    bounds = df.agg(
        F.percentile(col, F.lit(lower_q)).alias("__lo"),
        F.percentile(col, F.lit(upper_q)).alias("__hi"),
    )
    # explicit NULL guard: greatest/least IGNORE nulls (Postgres
    # semantics in both Spark and DuckDB), so an unguarded clamp would
    # turn NULL into the lower bound instead of passing it through
    clamp = F.when(
        F.col(col).isNotNull(),
        F.least(F.greatest(F.col(col), F.col("__lo")), F.col("__hi")),
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(out, clamp)
        .drop("__lo", "__hi")
    )


def impute_group_mean(
    df: DataFrame,
    col: str,
    group_col: str,
    *,
    out_col: str | None = None,
    round_to: int = 4,
) -> DataFrame:
    """Fill NULLs in ``col`` with the MEAN of the row's group (the
    group-aware imputation used in feature engineering; a group whose
    values are all NULL stays NULL — inventing a global fallback is
    the caller's policy decision, not this operator's).

    Plan: per-group means are a tiny aggregate broadcast back; the
    fill is map-side. Means round to ``round_to`` so imputed values
    are reproducible cross-engine.
    """
    out = out_col or f"{col}_imputed"
    means = df.groupBy(group_col).agg(
        F.round(F.avg(col), round_to).alias("__mu")
    )
    return (
        df.join(F.broadcast(means), group_col, "left")
        .withColumn(out, F.coalesce(F.col(col), F.col("__mu")))
        .drop("__mu")
    )
