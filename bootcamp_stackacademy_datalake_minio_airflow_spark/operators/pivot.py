"""Grouped pivot-sum operator (reference A1).

Re-expresses ``pd.pivot_table(index=key, columns=col, aggfunc='sum')``
(reference: scripts/silver_to_gold/ingestion_vendas_silver_to_gold.py:91-92)
as ``groupBy(key).pivot(col, values).sum(value)``.

Scale notes: the value list is pinned, so the pivot is a single hash
aggregation (map-side partial -> one shuffle on the group key) with no
distinct job to discover the output schema (the vendas job pins the 5
payment types, schemas.PAYMENT_TYPES).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pivot_sum(
    df: DataFrame,
    group_key: str | Sequence[str],
    pivot_col: str,
    value_col: str,
    values: Sequence[str],
    round_to: int | None = None,
) -> DataFrame:
    """SUM(value_col) per (group_key, pivot_col), pivot_col spread into
    columns; missing combinations are NULL (callers null-fill, F1).

    ``round_to`` optionally rounds each pivoted sum -- used by oracle-
    checked queries so float summation order cannot flip the last bit.
    """
    keys = [group_key] if isinstance(group_key, str) else list(group_key)
    out = df.groupBy(*keys).pivot(pivot_col, list(values)).agg(F.sum(value_col))
    if round_to is not None:
        for c in out.columns:
            if c not in keys:
                out = out.withColumn(c, F.round(F.col(c), round_to))
    return out
