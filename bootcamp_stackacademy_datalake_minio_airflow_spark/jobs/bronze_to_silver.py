"""Generic bronze->silver ingestion job.

One config-driven job replaces the reference's 8 near-duplicate
scripts (reference: scripts/bronze_to_silver/*.py — each is the same
list/GET/parse/concat/stage/upload chain with a different table name
and column list, e.g. ingestion_customer_bronze_to_silver.py:35-99 vs
ingestion_orders_bronze_to_silver.py:36-120). The whole E/T/L chain is
one lazy plan: typed CSV scan -> (timestamps already typed by the
schema) -> parquet write. No /tmp staging, no per-object driver loop.

The timestamp casts the reference computes and then drops
(ingestion_orders_bronze_to_silver.py:66-75, SURVEY §3.1) are realized
here by typing the columns in the scan schema itself — silver carries
real TimestampType columns, which is what the gold job assumes anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import zone_path
from ..engine import cache_scope
from ..schemas import OLIST_SCHEMAS
from ..sources import read_csv, write_parquet

#: tables whose CSVs contain quoted free text with embedded newlines
#: (SURVEY §7.3) — need multiLine parsing.
MULTILINE_TABLES = {"order_reviews"}


def bronze_to_silver(
    spark: SparkSession,
    table: str,
    base: str | None = None,
    bronze_path: str | None = None,
    silver_path: str | None = None,
    quarantine_path: str | None = None,
) -> DataFrame:
    """Ingest one Olist table bronze -> silver. Returns the DataFrame
    that was written (for chaining / testing).

    ``quarantine_path`` enables reject-table ingestion (SURVEY §7.3:
    the eager pandas reference aborts the whole file on one bad row):
    lines the parser cannot fit to the pinned schema are written —
    raw, uncut — to the quarantine location, and ONLY clean rows reach
    silver. One scan serves both sides (cached, per the read_csv
    corrupt-column pruning note); at lake scale a single undecodable
    line must not sink a multi-TB ingest, but it must also never be
    silently nulled into the clean table.
    """
    if table not in OLIST_SCHEMAS:
        raise ValueError(f"unknown table {table!r}; expected one of {sorted(OLIST_SCHEMAS)}")
    src = bronze_path or zone_path("bronze", table, base)
    dst = silver_path or zone_path("silver", table, base)
    if quarantine_path is None:
        df = read_csv(
            spark,
            src,
            OLIST_SCHEMAS[table],
            multi_line=table in MULTILINE_TABLES,
        )
        write_parquet(df, dst)
        return df

    corrupt = "_corrupt_record"
    with cache_scope() as hold:
        raw = hold(
            read_csv(
                spark,
                src,
                OLIST_SCHEMAS[table],
                multi_line=table in MULTILINE_TABLES,
                corrupt_col=corrupt,
            )
        )
        # materialize the cache FIRST: Spark refuses a raw-CSV query whose
        # pruned schema is only the internal corrupt-record column
        # (QUERY_ONLY_CORRUPT_RECORD_COLUMN); once the parsed rows are in
        # the in-memory relation, the corrupt-only projection is legal —
        # and the scan runs once for both sides anyway
        raw.count()
        write_parquet(
            raw.filter(raw[corrupt].isNotNull()).select(F.col(corrupt).alias("raw_line")),
            quarantine_path,
        )
        clean = raw.filter(raw[corrupt].isNull()).drop(corrupt)
        write_parquet(clean, dst)
    # hand back the WRITTEN table, not the raw-CSV plan: once the
    # cache is released, any re-execution of `clean` would re-trip the
    # corrupt-column query restriction (and re-parse the CSV)
    from ..sources import read_parquet

    return read_parquet(spark, dst, schema=OLIST_SCHEMAS[table])
