"""Snapshot isolation / time travel on plain parquet."""

from __future__ import annotations

import pytest

from bootcamp_stackacademy_datalake_minio_airflow_spark.jobs.snapshots import (
    commit_snapshot,
    read_snapshot,
    rollback_snapshot,
    table_versions,
    _manifest_path,
    _write_json_atomic,
)


def _rows(spark, *vals):
    return spark.createDataFrame([(v,) for v in vals], "x long")


def test_append_overwrite_time_travel_rollback(spark, tmp_path):
    root = str(tmp_path / "snap")
    v1 = commit_snapshot(spark, _rows(spark, 1, 2), root)
    v2 = commit_snapshot(spark, _rows(spark, 3), root, mode="append")
    v3 = commit_snapshot(spark, _rows(spark, 9), root, mode="overwrite")
    assert (v1, v2, v3) == (1, 2, 3)
    assert table_versions(spark, root) == [1, 2, 3]

    # latest = overwrite; older versions stay consistent (time travel)
    assert {r.x for r in read_snapshot(spark, root).collect()} == {9}
    assert {r.x for r in read_snapshot(spark, root, 2).collect()} == {1, 2, 3}
    assert {r.x for r in read_snapshot(spark, root, 1).collect()} == {1, 2}

    # rollback preserves history as a new version
    v4 = rollback_snapshot(spark, root, 2)
    assert v4 == 4
    assert {r.x for r in read_snapshot(spark, root).collect()} == {1, 2, 3}
    assert {r.x for r in read_snapshot(spark, root, 3).collect()} == {9}


def test_commit_cas_retries_on_conflict(spark, tmp_path):
    """A writer losing the version race must rebase onto the winner's
    snapshot and land on the next version — simulated by pre-writing
    the manifest the writer will try first."""
    root = str(tmp_path / "snap_cas")
    commit_snapshot(spark, _rows(spark, 1), root)
    # squat on v2 referencing v1's segments (a 'concurrent' append)
    import json

    from bootcamp_stackacademy_datalake_minio_airflow_spark.jobs.snapshots import (
        _read_json,
    )

    cur = _read_json(spark, _manifest_path(root, 1))
    squat = {
        "version": 2,
        "mode": "append",
        "parent": 1,
        "segments": cur["segments"],
    }
    assert _write_json_atomic(spark, _manifest_path(root, 2), squat)
    # this commit tries v2, loses, rebases (append includes the
    # squatter's list = v1 segments), lands on v3
    v = commit_snapshot(spark, _rows(spark, 7), root, mode="append")
    assert v == 3
    assert {r.x for r in read_snapshot(spark, root).collect()} == {1, 7}


def test_read_empty_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, str(tmp_path / "nope"))
