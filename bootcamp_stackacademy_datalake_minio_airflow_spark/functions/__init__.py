"""Scalar transformation helpers (reference §2.5 parity).

Each helper is a thin, composable wrapper over built-in
``pyspark.sql.functions`` -- JVM-side, codegen-friendly, never a
Python UDF. Reference citations identify the pandas operation each
one re-expresses.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def null_fill(df: DataFrame, value: float, columns: Sequence[str]) -> DataFrame:
    """NaN/NULL -> constant in the given numeric columns.

    Reference F1: ``df['price'].fillna(0, inplace=True)`` x7
    (ingestion_vendas_silver_to_gold.py:114-120).
    """
    return df.na.fill(value, subset=list(columns))


def to_date_col(col: str | Column) -> Column:
    """Timestamp -> calendar date. Reference F3:
    ``pd.to_datetime(col).dt.date`` (ingestion_vendas_silver_to_gold.py:123)."""
    return F.to_date(col if isinstance(col, Column) else F.col(col))


def upper_cols(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Upper-case string columns (null-preserving). Reference F4:
    ``col.str.upper()`` (ingestion_vendas_silver_to_gold.py:126-127)."""
    out = df
    for c in columns:
        out = out.withColumn(c, F.upper(F.col(c)))
    return out


def replace_literal(col: str | Column, find: str, repl: str) -> Column:
    """Replace every occurrence of a literal substring. Reference F5:
    ``col.str.replace('_', ' ')`` (ingestion_vendas_silver_to_gold.py:130).

    Uses ``translate`` for 1-char literals (cheaper than regex),
    ``regexp_replace`` with a quoted pattern otherwise.
    """
    c = col if isinstance(col, Column) else F.col(col)
    if len(find) == 1 and len(repl) <= 1:
        return F.translate(c, find, repl)
    import re

    # the replacement is a Java template string: bare '$1' would be a
    # group reference and bare '\' an escape — quote both so the
    # "literal replace" contract holds (Matcher.quoteReplacement)
    literal_repl = repl.replace("\\", "\\\\").replace("$", r"\$")
    return F.regexp_replace(c, re.escape(find), literal_repl)


def rename_map(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """Bulk column rename. Reference F6: ``df.rename(columns={...})``
    with 14 business names (ingestion_vendas_silver_to_gold.py:133-149).
    """
    return df.withColumnsRenamed(dict(mapping))


def row_hash_cols(df: DataFrame) -> list[Column]:
    """Columns of ``df`` in an xxhash64-compatible form: map-typed
    columns (which xxhash64 rejects) ride as their JSON rendering —
    parquet preserves map entry order, so the rendering is stable per
    stored row; at worst a re-ordered logical duplicate hashes
    differently, which for change DETECTION means a spurious refresh,
    never a missed one. Shared by the CDC layers (streaming tie-break,
    changed_groups) so their hash domains can't drift apart."""
    out: list[Column] = []
    for f in df.schema.fields:
        if "map<" in f.dataType.simpleString():
            out.append(F.to_json(F.col(f.name)))
        else:
            out.append(F.col(f.name))
    return out
