"""catalog.load_table reads the lake with declared types.

Two gates: a counter gate (a table's first load and the gold job's
silver reads launch no schema-inference job) and a contract gate (the
declared ``TESTDATA_SCHEMAS`` reproduce exactly the schema Spark
infers, on every lake the repo builds, and a drifted lake fails
loudly instead of reading NULLs)."""

from __future__ import annotations

import contextlib
import os
import shutil
import subprocess
import sys
import uuid

import duckdb
import pytest
from pyspark.errors import AnalysisException

from bootcamp_stackacademy_datalake_minio_airflow_spark.catalog import (
    TESTDATA_TABLES,
    load_table,
)
from bootcamp_stackacademy_datalake_minio_airflow_spark.jobs import bronze_to_silver, vendas_gold

# the bronze CSV lake of the end-to-end pipeline tests
from test_pipeline import lake  # noqa: F401

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@contextlib.contextmanager
def spark_jobs(spark):
    """Collect the ids of the Spark jobs launched inside the block."""
    sc = spark.sparkContext
    group = f"test-catalog-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _copy_lake(src: str, dst) -> str:
    os.makedirs(dst, exist_ok=True)
    for t in TESTDATA_TABLES:
        shutil.copy(f"{src}/{t}.parquet", dst)
    return str(dst)


def test_first_load_launches_no_job(spark, sf_dir, tmp_path):
    # a fresh copy: the handle cache of the shared session must miss
    lake_dir = _copy_lake(sf_dir, tmp_path / "lake")
    jobs = {}
    for t in TESTDATA_TABLES:
        with spark_jobs(spark) as ids:
            load_table(spark, lake_dir, t)
        jobs[t] = len(ids)
    assert jobs == {t: 0 for t in TESTDATA_TABLES}


def test_vendas_gold_job_budget(spark, lake):  # noqa: F811
    """The five silver reads are typed with OLIST_SCHEMAS, so the gold
    job runs only its own work: 7 jobs, not 12."""
    for t in ["orders", "order_items", "order_payments", "products", "customers"]:
        bronze_to_silver(spark, t, base=lake)
    with spark_jobs(spark) as ids:
        vendas_gold(spark, base=lake)
    assert len(ids) <= 7


@pytest.fixture(scope="module")
def lakes(sf_dir, tmp_path_factory) -> dict[str, str]:
    """Every lake the repo builds: three scale factors, the two
    degenerate tiers and a LIMIT 0 copy of sf0.001."""
    root = os.path.dirname(sf_dir)
    out = {sf: os.path.join(root, sf) for sf in ("sf0.001", "sf0.01", "sf0.1")}
    base = tmp_path_factory.mktemp("lakes")
    tool = os.path.join(REPO, "tools", "degenerate_data.py")
    for name, extra in (("degenerate", []), ("degenerate_nulls", ["--nulls"])):
        out[name] = str(base / name)
        subprocess.run(
            [sys.executable, tool, out[name], *extra],
            check=True,
            capture_output=True,
        )
    out["empty"] = str(base / "empty")
    os.makedirs(out["empty"])
    for t in TESTDATA_TABLES:
        duckdb.sql(
            f"COPY (SELECT * FROM read_parquet('{sf_dir}/{t}.parquet') LIMIT 0) "
            f"TO '{out['empty']}/{t}.parquet' (FORMAT PARQUET)"
        )
    return out


@pytest.mark.parametrize(
    "lake_name",
    ["sf0.001", "sf0.01", "sf0.1", "degenerate", "degenerate_nulls", "empty"],
)
def test_declared_schema_matches_inferred(spark, lakes, lake_name):
    """Names, order, types and nullability equal Spark's inference."""
    lake_dir = lakes[lake_name]
    for t in TESTDATA_TABLES:
        inferred = spark.read.parquet(f"{lake_dir}/{t}.parquet").schema
        assert load_table(spark, lake_dir, t).schema == inferred, t


def test_subset_columns_load_as_written(spark, tmp_path):
    """A fixture that writes only some declared columns (in its own
    order) loads with exactly those; a query on a missing column fails
    at analysis rather than reading NULL."""
    path = str(tmp_path / "documents.parquet")
    spark.createDataFrame([("a b", 1)], "text string, doc_id long").write.parquet(path)
    df = load_table(spark, str(tmp_path), "documents")
    assert df.schema == spark.read.parquet(path).schema
    assert df.columns == ["text", "doc_id"]
    assert [tuple(r) for r in df.collect()] == [("a b", 1)]
    with pytest.raises(AnalysisException):
        df.select("lang")


def test_undeclared_column_raises(spark, tmp_path):
    spark.createDataFrame(
        [(1, "a", "x")], "doc_id long, text string, extra string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    with pytest.raises(ValueError, match="extra"):
        load_table(spark, str(tmp_path), "documents")


def test_unknown_table_raises(spark, sf_dir):
    with pytest.raises(ValueError, match="unknown lake table"):
        load_table(spark, sf_dir, "no_such_table")


def test_events_load_leaves_nanos_conf_unchanged(spark, sf_dir, tmp_path):
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        shutil.copy(f"{sf_dir}/events.parquet", tmp_path)
        events = load_table(spark, str(tmp_path), "events")
        assert spark.conf.get(key) == "false"
        assert dict(events.dtypes)["ts"] == "timestamp_ntz"
    finally:
        spark.conf.set(key, before)
