"""Data-quality checks as DataFrame operators (lake-engine hygiene;
the reference has no validation of any kind).

Each check returns a DataFrame (composable, lazily planned, runs
distributed) rather than driver-side booleans, so a DQ suite over a
100 TB table is one job, not N.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def null_profile(df: DataFrame) -> DataFrame:
    """One row: null count per column (single pass, partial-agg)."""
    return df.agg(
        *[
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(c)
            for c in df.columns
        ]
    )


def orphans(child: DataFrame, parent: DataFrame, fk: str, pk: str) -> DataFrame:
    """Child rows whose foreign key has no parent (referential
    integrity violations) — an anti-join, so the parent side can
    broadcast when dimension-sized."""
    return child.join(parent, child[fk] == parent[pk], "left_anti")


def expectation_report(
    df: DataFrame, expectations: dict[str, "F.Column"]
) -> DataFrame:
    """Declarative data-contract check (the Great-Expectations shape):
    ``expectations`` maps a name to a boolean Column that must hold
    per row; the report emits one row per expectation with total /
    violating / passing counts. NULL predicate results count as
    VIOLATIONS (an unevaluable contract is a broken contract).

    ONE pass over the data: every expectation compiles to a
    SUM(CASE ...) in a single map-side-combined aggregate — adding an
    expectation never adds a scan. The wide 1-row aggregate unpivots
    to the per-expectation report via a literal-array explode (no
    second pass).
    """
    if not expectations:
        # degenerate-but-legal: an empty contract yields an empty
        # report (F.array() of zero structs would fail analysis)
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        return df.sparkSession.createDataFrame(
            [],
            StructType(
                [
                    StructField("expectation", StringType()),
                    StructField("n_rows", LongType()),
                    StructField("n_violations", LongType()),
                    StructField("n_passing", LongType()),
                ]
            ),
        )
    # internal aliases key by INDEX: a free-form expectation name may
    # contain '.'/backticks, which F.col() would parse as nested-field
    # access; the display name rides only as a literal
    names = list(expectations)
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for i, name in enumerate(names):
        cond = expectations[name]
        aggs.append(
            # coalesce: SUM over zero rows is NULL, and an empty table
            # must report 0 violations (a vacuously passing contract),
            # not NULL
            F.coalesce(
                F.sum(F.when(F.coalesce(cond, F.lit(False)), 0).otherwise(1)),
                F.lit(0),
            ).cast("long").alias(f"__v_{i}")
        )
    wide = df.agg(*aggs)
    packed = F.array(
        *[
            F.struct(
                F.lit(name).alias("expectation"),
                F.col("__n").alias("n_rows"),
                F.col(f"__v_{i}").alias("n_violations"),
            )
            for i, name in enumerate(names)
        ]
    )
    return wide.select(F.explode(packed).alias("r")).select(
        F.col("r.expectation").alias("expectation"),
        F.col("r.n_rows").alias("n_rows"),
        F.col("r.n_violations").alias("n_violations"),
        (F.col("r.n_rows") - F.col("r.n_violations")).alias("n_passing"),
    )


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Column-level table profile — the ANALYZE/data-catalog stats
    every lake needs before query planning or contract design: one
    row per column with ``(col_name, n_rows, n_nulls, n_distinct,
    min_num, max_num)``. Numeric columns report min/max as double;
    timestamps as epoch seconds; other types leave them NULL (a
    cross-engine-stable total order for arbitrary strings is not
    worth the collation trap).

    ONE aggregate pass like expectation_report, unpivoted by literal-
    array explode. The exact multi-column COUNT(DISTINCT) compiles to
    an Expand (one duplicated row per profiled column) — the honest
    cost of exactness; at 100 TB swap in approx_count_distinct per
    column (same single pass, no Expand) and keep the rest unchanged.
    """
    from pyspark.sql import functions as F

    names = columns if columns is not None else [f.name for f in df.schema.fields]
    dtypes = dict(df.dtypes)
    numeric = {"tinyint", "smallint", "int", "bigint", "float", "double"}
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for i, c in enumerate(names):
        dt = dtypes[c]
        aggs.append(
            F.coalesce(
                F.sum(F.col(c).isNull().cast("int")), F.lit(0)
            ).cast("long").alias(f"__nn_{i}")
        )
        aggs.append(F.countDistinct(F.col(c)).cast("long").alias(f"__nd_{i}"))
        if dt in numeric or dt.startswith("decimal"):
            mn, mx = F.min(F.col(c)).cast("double"), F.max(F.col(c)).cast("double")
        elif dt.startswith("timestamp"):
            mn = F.unix_seconds(F.min(F.col(c)).cast("timestamp")).cast("double")
            mx = F.unix_seconds(F.max(F.col(c)).cast("timestamp")).cast("double")
        else:
            mn = mx = F.lit(None).cast("double")
        aggs.append(mn.alias(f"__mn_{i}"))
        aggs.append(mx.alias(f"__mx_{i}"))
    wide = df.agg(*aggs)
    packed = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__n").alias("n_rows"),
                F.col(f"__nn_{i}").alias("n_nulls"),
                F.col(f"__nd_{i}").alias("n_distinct"),
                F.col(f"__mn_{i}").alias("min_num"),
                F.col(f"__mx_{i}").alias("max_num"),
            )
            for i, c in enumerate(names)
        ]
    )
    return wide.select(F.explode(packed).alias("r")).select("r.*")
