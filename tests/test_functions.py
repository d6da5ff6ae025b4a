"""Unit tests for scalar helpers (SURVEY §2.5 parity)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from bootcamp_stackacademy_datalake_minio_airflow_spark.functions import (
    null_fill,
    rename_map,
    replace_literal,
    to_date_col,
    upper_cols,
)


def test_null_fill(spark):
    df = spark.createDataFrame([(1, None), (2, 3.5)], "k int, v double")
    out = {r.k: r.v for r in null_fill(df, 0.0, ["v"]).collect()}
    assert out == {1: 0.0, 2: 3.5}


def test_to_date_col(spark):
    df = spark.createDataFrame([(datetime.datetime(2017, 10, 2, 10, 56),)], "ts timestamp")
    assert df.select(to_date_col("ts").alias("d")).first().d == datetime.date(2017, 10, 2)


def test_upper_cols_null_preserving(spark):
    df = spark.createDataFrame([("moveis_decoracao",), (None,)], "c string")
    vals = [r.c for r in upper_cols(df, ["c"]).collect()]
    assert vals == ["MOVEIS_DECORACAO", None]


def test_replace_literal_all_occurrences(spark):
    df = spark.createDataFrame([("a_b_c",)], "c string")
    assert df.select(replace_literal("c", "_", " ").alias("c")).first().c == "a b c"


def test_replace_literal_multichar(spark):
    df = spark.createDataFrame([("x..y..z",)], "c string")
    assert df.select(replace_literal("c", "..", "-").alias("c")).first().c == "x-y-z"


def test_rename_map(spark):
    df = spark.createDataFrame([(1.0, 2.0)], "price double, freight_value double")
    out = rename_map(df, {"price": "VALOR_VENDA", "freight_value": "FRETE"})
    assert out.columns == ["VALOR_VENDA", "FRETE"]


def test_rename_then_select(spark):
    df = spark.createDataFrame([(1.0,)], "price double")
    out = rename_map(df, {"price": "VALOR_VENDA"}).select(F.col("VALOR_VENDA") * 2)
    assert out.first()[0] == 2.0
