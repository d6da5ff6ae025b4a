"""The driver-side state budgets are ENFORCED, not just documented
(VERDICT r6 ask #6): every foreachBatch accumulator and broadcast
collect must raise past its bound, and the fetch itself must be capped
so the check cannot OOM before firing."""

from __future__ import annotations

import pytest

from bootcamp_stackacademy_datalake_minio_airflow_spark.streaming.bounds import bounded_collect


def test_bounded_collect_within_budget_returns_all_rows(spark):
    df = spark.range(5)
    rows = bounded_collect(df, 5, "test")
    assert len(rows) == 5


def test_bounded_collect_raises_past_budget(spark):
    df = spark.range(10)
    with pytest.raises(RuntimeError, match="documented driver-state budget"):
        bounded_collect(df, 9, "test")


def test_matmul_broadcast_budget_raises_with_shard_hint(spark):
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.similarity import (
        cosine_all_pairs_matmul,
    )

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(RuntimeError, match=r"hyperplane_bucket\b"):
        cosine_all_pairs_matmul(df, threshold=0.5, broadcast_budget_rows=3)
    # and under budget the kernel still works
    out = cosine_all_pairs_matmul(df, threshold=0.99, broadcast_budget_rows=6)
    assert out.count() >= 1
