"""Silver->gold vendas job + JDBC publish.

Fuses the reference's three-task gold DAG (reference:
scripts/silver_to_gold/ingestion_vendas_silver_to_gold.py:183-203 —
extract_silver_to_gold staging through /tmp, venda_to_mysql re-reading
the /tmp file, a rm-cleanup task) into two independent lake-rooted
jobs: build gold from silver, publish gold to MySQL. Neither couples
through worker-local disk (the reference's cross-task /tmp handoff at
:152->:170 breaks on multi-worker Airflow, SURVEY §7.3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import zone_path
from ..plans.vendas import build_vendas
from ..schemas import OLIST_SCHEMAS
from ..sources import read_parquet, write_jdbc, write_parquet


def vendas_gold(
    spark: SparkSession,
    base: str | None = None,
    gold_path: str | None = None,
) -> DataFrame:
    """Build the vendas gold table from the 5 silver tables and write
    it to the gold zone.

    Unlike the reference's single flat file (reference :152-162), the
    gold write is partitioned by sale month so downstream date-range
    queries prune partitions — the layout that holds at 100 TB.
    The silver reads are typed with the declared ``OLIST_SCHEMAS``
    (this engine wrote them), so no footer-inference job runs.
    """
    items, orders, products, customers, payments = (
        read_parquet(spark, zone_path("silver", t, base), schema=OLIST_SCHEMAS[t])
        for t in ("order_items", "orders", "products", "customers", "order_payments")
    )
    df = build_vendas(items, orders, products, customers, payments)
    dst = gold_path or zone_path("gold", "vendas", base)
    out = df.withColumn("MES_VENDA", F.date_format("DATA_VENDA", "yyyy-MM"))
    write_parquet(out, dst, partition_by=["MES_VENDA"])
    return df


def publish_vendas_jdbc(
    spark: SparkSession,
    base: str | None = None,
    url: str | None = None,
    table: str = "TB_VENDAS",
) -> None:
    """Publish the gold vendas table to MySQL (reference S9,
    drop-and-recreate semantics; reference :173-180). Reads back from
    the lake, never from worker-local staging."""
    df = read_parquet(spark, zone_path("gold", "vendas", base)).drop("MES_VENDA")
    url = url or os.environ.get("MYSQL_JDBC_URL", "jdbc:mysql://localhost:3306/BD_STACK")
    write_jdbc(
        df,
        url,
        table,
        user=os.environ.get("MYSQL_USER"),
        password=os.environ.get("MYSQL_PASSWORD"),
    )
