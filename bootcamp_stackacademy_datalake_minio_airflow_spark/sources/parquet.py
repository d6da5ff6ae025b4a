"""Parquet source/sink (reference S5, S7+S8 fused).

The reference writes one flat parquet file per table to /tmp then
uploads it (reference: scripts/bronze_to_silver/
ingestion_orders_bronze_to_silver.py:84-91); reads re-download to /tmp
(scripts/silver_to_gold/ingestion_vendas_silver_to_gold.py:44-51 —
with a last-file-wins bug for multi-object prefixes, SURVEY §3.2).
Here reads scan whole prefixes correctly and writes go straight to the
lake, optionally partitioned — the single-flat-file layout is the #1
thing that would not survive 100 TB (no partition pruning, one writer,
no parallel scan granularity).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_parquet(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
) -> DataFrame:
    """Parquet scan over a file/directory/prefix.

    ``schema`` pins the types of a table whose schema the engine
    declares (the silver tables it writes itself): Spark then skips
    the footer-inference job it otherwise runs at every read.
    """
    # no recursiveFileLookup: it would disable Hive-style partition
    # discovery (MES_VENDA=... directories must surface as a column)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
) -> None:
    """Write parquet to a lake path.

    ``partition_by`` enables partition pruning downstream (e.g. gold
    vendas by month of DATA_VENDA, SURVEY §7 M6).
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
