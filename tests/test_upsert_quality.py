"""MERGE/upsert emulation + data-quality checks."""

from __future__ import annotations

from bootcamp_stackacademy_datalake_minio_airflow_spark.functions.quality import null_profile
from bootcamp_stackacademy_datalake_minio_airflow_spark.jobs.upsert import (
    merge_upsert,
    upsert_parquet,
)


def test_merge_upsert_semantics(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, s string, v double"
    )
    updates = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "k long, s string, v double"
    )
    out = {r.k: (r.s, r.v) for r in merge_upsert(target, updates, "k").collect()}
    assert out == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_merge_upsert_tombstones(spark):
    target = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    updates = spark.createDataFrame(
        [(1, "A", False), (2, None, True)], "k long, s string, deleted boolean"
    )
    out = {r.k: r.s for r in merge_upsert(target, updates, "k", "deleted").collect()}
    assert out == {1: "A"}  # 2 tombstoned


def test_upsert_parquet_partition_pruned(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "2024-01", 1.0), (2, "2024-01", 2.0), (3, "2024-02", 3.0)],
        "k long, mes string, v double",
    ).write.partitionBy("mes").parquet(path)

    updates = spark.createDataFrame([(2, "2024-01", 99.0)], "k long, mes string, v double")
    upsert_parquet(spark, path, updates, "k", partition_col="mes")
    out = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert out == {1: 1.0, 2: 99.0, 3: 3.0}  # 2024-02 partition untouched


def test_upsert_parquet_escaped_partition_tombstone(spark, tmp_path):
    """Fully-tombstoned partitions whose values Hive percent-escapes
    (here ':' -> '%3A') must still be deleted — raw string matching of
    directory names would silently keep them."""
    path = str(tmp_path / "t_esc")
    spark.createDataFrame(
        [(1, "a:b", 1.0), (2, "a:b", 2.0), (3, "plain", 3.0)],
        "k long, part string, v double",
    ).write.partitionBy("part").parquet(path)

    updates = spark.createDataFrame(
        [(1, "a:b", 0.0, True), (2, "a:b", 0.0, True)],
        "k long, part string, v double, deleted boolean",
    )
    upsert_parquet(
        spark, path, updates, "k", partition_col="part", tombstone_col="deleted"
    )
    out = {r.k: r.part for r in spark.read.parquet(path).collect()}
    assert out == {3: "plain"}, "tombstoned escaped partition must not resurface"


def test_upsert_parquet_recovers_crashed_swap(spark, tmp_path):
    """If a prior run died between publish_swap's two renames (live
    partition dir moved to the backup root, staging never renamed in),
    a re-run must restore the backup BEFORE reading the target — else
    it merges against an empty partition and silently drops every
    non-updated row."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.fsutil import _fs_for, _jp

    path = str(tmp_path / "t_crash")
    spark.createDataFrame(
        [(1, "2024-01", 1.0), (2, "2024-01", 2.0), (3, "2024-02", 3.0)],
        "k long, mes string, v double",
    ).write.partitionBy("mes").parquet(path)

    # simulate the crash window: mes=2024-01 parked in the backup root
    fs, jvm = _fs_for(spark, path)
    backup_root = f"{path}__backup"
    fs.mkdirs(_jp(jvm, backup_root))
    assert fs.rename(
        _jp(jvm, f"{path}/mes=2024-01"), _jp(jvm, f"{backup_root}/mes=2024-01")
    )

    updates = spark.createDataFrame(
        [(2, "2024-01", 99.0)], "k long, mes string, v double"
    )
    upsert_parquet(spark, path, updates, "k", partition_col="mes")
    out = {r.k: r.v for r in spark.read.parquet(path).collect()}
    # k=1 survives ONLY if recovery ran before the target read
    assert out == {1: 1.0, 2: 99.0, 3: 3.0}
    assert not fs.exists(_jp(jvm, backup_root))


def test_upsert_parquet_empty_string_partition(spark, tmp_path):
    """'' and NULL both write to __HIVE_DEFAULT_PARTITION__ and BOTH
    read back as NULL; an update carrying '' must still pull the whole
    default partition into the merge — isin(['']) alone matches
    nothing, so the merge would run against an empty target and the
    swap would drop every non-updated default-partition row."""
    path = str(tmp_path / "t_empty")
    spark.createDataFrame(
        [(1, "", 1.0), (2, "", 2.0), (3, "real", 3.0)],
        "k long, part string, v double",
    ).write.partitionBy("part").parquet(path)

    updates = spark.createDataFrame(
        [(2, "", 99.0)], "k long, part string, v double"
    )
    upsert_parquet(spark, path, updates, "k", partition_col="part")
    out = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert out == {1: 1.0, 2: 99.0, 3: 3.0}, (
        "non-updated default-partition rows must survive an "
        "empty-string-partition upsert"
    )


def test_upsert_parquet_boolean_partition_tombstone(spark, tmp_path):
    """Spark writes boolean partitions lowercase ('flag=true');
    Python's str(True)='True' would never match the directory, so a
    fully-tombstoned boolean partition would escape deletion."""
    path = str(tmp_path / "t_bool")
    spark.createDataFrame(
        [(1, True, 1.0), (2, True, 2.0), (3, False, 3.0)],
        "k long, flag boolean, v double",
    ).write.partitionBy("flag").parquet(path)

    updates = spark.createDataFrame(
        [(1, True, 0.0, True), (2, True, 0.0, True)],
        "k long, flag boolean, v double, deleted boolean",
    )
    upsert_parquet(
        spark, path, updates, "k", partition_col="flag", tombstone_col="deleted"
    )
    # partition-type inference may return the column as string 'false'
    out = {r.k: str(r.flag).lower() for r in spark.read.parquet(path).collect()}
    assert out == {3: "false"}, "tombstoned boolean partition must not resurface"


def test_null_profile_and_range(spark):
    df = spark.createDataFrame([(1, None), (2, 5.0), (None, 200.0)], "k long, v double")
    prof = null_profile(df).first()
    assert prof.k == 1 and prof.v == 1


def test_merge_upsert_version_conditional(spark):
    """order_col makes the merge CDC-safe: stale revisions (update OR
    tombstone) lose against a newer live row; current-or-newer ones
    win; absent-key tombstones are no-ops."""
    target = spark.createDataFrame(
        [(1, "a", 5), (2, "b", 5), (3, "c", 5), (4, "d", 5)],
        "k long, s string, ver long",
    )
    updates = spark.createDataFrame(
        [
            (1, "A-new", 9, False),   # newer -> wins
            (2, "B-old", 3, False),   # stale -> ignored
            (3, None, 9, True),       # newer tombstone -> deletes
            (4, None, 3, True),       # stale tombstone -> ignored
            (5, "e", 1, False),       # new key -> inserts
            (6, None, 1, True),       # tombstone for absent key -> no-op
        ],
        "k long, s string, ver long, deleted boolean",
    )
    out = {
        r.k: (r.s, r.ver)
        for r in merge_upsert(
            target, updates, "k", tombstone_col="deleted", order_col="ver"
        ).collect()
    }
    assert out == {
        1: ("A-new", 9),
        2: ("b", 5),
        4: ("d", 5),
        5: ("e", 1),
    }


def test_stream_upsert_apply_order_independent(spark, tmp_path):
    """Draining the same change set in 1-file micro-batches under a
    deliberately version-scrambled file layout must produce exactly
    the state of a one-shot latest-revision batch merge."""
    from pyspark.sql import functions as F

    from bootcamp_stackacademy_datalake_minio_airflow_spark.streaming.ingest import (
        stream_upsert_apply,
    )

    target_path = str(tmp_path / "cdc_target")
    spark.createDataFrame(
        [(k, f"base{k}", 0, False) for k in range(1, 21)],
        "k long, s string, ver long, deleted boolean",
    ).write.parquet(target_path)

    # three revision waves; each file holds ONE wave's rows but the
    # file names invert version order so later micro-batches carry
    # OLDER revisions (k % groups: rev for subset of keys)
    changes = {
        # file c0 (applied first) = NEWEST revisions
        "c0": [(k, f"v3_{k}", 3, k == 5) for k in range(1, 21, 2)],
        # file c1 = middle revisions (stale vs c0 for odd keys)
        "c1": [(k, f"v2_{k}", 2, False) for k in range(1, 21)],
        # file c2 = oldest revisions + an insert and a stale tombstone
        "c2": [(k, f"v1_{k}", 1, k == 7) for k in range(1, 21)]
        + [(99, "new", 1, False)],
    }
    src = tmp_path / "cdc_src"
    src.mkdir()
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    for name, rows in changes.items():
        pdf = pd.DataFrame(rows, columns=["k", "s", "ver", "deleted"])
        tbl = pa.table(
            {
                "k": pa.array(pdf.k, "int64"),
                "s": pa.array(pdf.s, "string"),
                "ver": pa.array(pdf.ver, "int64"),
                "deleted": pa.array(pdf.deleted, "bool"),
            }
        )
        pq.write_table(tbl, src / f"{name}.parquet")

    q = stream_upsert_apply(
        spark,
        str(src),
        target_path,
        key="k",
        order_col="ver",
        schema="k long, s string, ver long, deleted boolean",
        tombstone_col="deleted",
        checkpoint_dir=str(tmp_path / "ckpt_cdc"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    # reference: one-shot merge of the latest revision per key, same
    # tombstone-retention semantics
    all_rows = [r for rows in changes.values() for r in rows]
    all_df = spark.createDataFrame(
        all_rows, "k long, s string, ver long, deleted boolean"
    )
    from pyspark.sql import Window

    latest = (
        all_df.withColumn(
            "__rn",
            F.row_number().over(Window.partitionBy("k").orderBy(F.desc("ver"))),
        )
        .filter("__rn = 1")
        .drop("__rn")
    )
    base = spark.createDataFrame(
        [(k, f"base{k}", 0, False) for k in range(1, 21)],
        "k long, s string, ver long, deleted boolean",
    )
    expected = {
        r.k: (r.s, r.ver, r.deleted)
        for r in merge_upsert(
            base,
            latest,
            "k",
            tombstone_col="deleted",
            order_col="ver",
            retain_tombstones=True,
        ).collect()
    }
    got = {
        r.k: (r.s, r.ver, r.deleted)
        for r in spark.read.parquet(target_path).collect()
    }
    assert got == expected
    # key 5's newest revision is a tombstone: retained soft-deleted
    # (so the stale v2 row arriving AFTER it could not resurrect it);
    # key 7's ver-1 tombstone was stale -> ignored, its ver-3
    # revision stays live; even keys never saw v3 -> v2 wins
    assert got[5][2] is True and got[5][1] == 3
    assert got[7] == ("v3_7", 3, False)
    assert got[8] == ("v2_8", 2, False)
    assert got[99] == ("new", 1, False)
    live = {
        r.k for r in spark.read.parquet(target_path).filter("NOT deleted").collect()
    }
    assert 5 not in live and len(live) == 20  # 19 base survivors + key 99


def test_vacuum_tombstones_partitioned(spark, tmp_path):
    """Vacuum hard-drops only tombstones at/below the horizon, leaves
    fresh tombstones as watermarks, and rewrites only partitions that
    contain vacuum-able rows."""
    import os

    from bootcamp_stackacademy_datalake_minio_airflow_spark.jobs.upsert import (
        vacuum_tombstones,
    )

    path = str(tmp_path / "vac")
    spark.createDataFrame(
        [
            (1, "a", 1, False, "p1"),
            (2, "b", 2, True, "p1"),   # old tombstone -> vacuum
            (3, "c", 8, True, "p1"),   # fresh tombstone -> keep
            (4, "d", 1, True, "p2"),   # old tombstone -> vacuum
            (5, "e", 1, False, "p3"),  # untouched partition
        ],
        "k long, s string, ver long, deleted boolean, p string",
    ).write.partitionBy("p").parquet(path)
    p3_files = sorted(os.listdir(f"{path}/p=p3"))

    n = vacuum_tombstones(
        spark, path, "deleted", "ver", horizon=5, partition_col="p"
    )
    assert n == 2
    out = {r.k: (r.deleted, r.p) for r in spark.read.parquet(path).collect()}
    assert out == {
        1: (False, "p1"),
        3: (True, "p1"),
        5: (False, "p3"),
    }
    # p3 had no vacuum-able tombstone: its files must be untouched
    assert sorted(os.listdir(f"{path}/p=p3")) == p3_files
    # idempotent / no-op fast path
    assert (
        vacuum_tombstones(spark, path, "deleted", "ver", 5, partition_col="p")
        == 0
    )


def test_vacuum_tombstones_unpartitioned(spark, tmp_path):
    from bootcamp_stackacademy_datalake_minio_airflow_spark.jobs.upsert import (
        vacuum_tombstones,
    )

    path = str(tmp_path / "vac_flat")
    spark.createDataFrame(
        [(1, 1, False), (2, 2, True), (3, 9, True)],
        "k long, ver long, deleted boolean",
    ).write.parquet(path)
    assert vacuum_tombstones(spark, path, "deleted", "ver", 5) == 1
    out = {r.k: r.deleted for r in spark.read.parquet(path).collect()}
    assert out == {1: False, 3: True}
    assert vacuum_tombstones(spark, path, "deleted", "ver", 5) == 0


def test_merge_upsert_null_version_semantics(spark):
    """NULL order_col values must not silently drop rows through
    three-valued logic: a NULL-version tombstone/update LOSES to any
    versioned live row; a NULL-version target row is beatable by any
    update (NULL = lowest version; NULL vs NULL ties to the update)."""
    target = spark.createDataFrame(
        [(1, "a", 5), (2, "b", None), (3, "c", 5)],
        "k long, s string, ver long",
    )
    updates = spark.createDataFrame(
        [
            (1, None, None, True),    # NULL-ver tombstone vs ver 5 -> ignored
            (2, "B", 2, False),       # versioned update vs NULL target -> wins
            (3, "C", None, False),    # NULL-ver update vs ver 5 -> ignored
        ],
        "k long, s string, ver long, deleted boolean",
    )
    out = {
        r.k: (r.s, r.ver)
        for r in merge_upsert(
            target, updates, "k", tombstone_col="deleted", order_col="ver"
        ).collect()
    }
    assert out == {1: ("a", 5), 2: ("B", 2), 3: ("c", 5)}


def test_versioned_merge_is_idempotent(spark):
    """Re-applying the same update set (a replayed CDC micro-batch)
    must be a no-op: the version condition makes >= re-application
    converge to the same state."""
    target = spark.createDataFrame(
        [(1, "a", 5, False), (2, "b", 5, False)],
        "k long, s string, ver long, deleted boolean",
    )
    updates = spark.createDataFrame(
        [(1, "A", 7, False), (2, None, 7, True), (3, "c", 1, False)],
        "k long, s string, ver long, deleted boolean",
    )
    once = merge_upsert(
        target, updates, "k", tombstone_col="deleted", order_col="ver",
        retain_tombstones=True,
    ).localCheckpoint()
    twice = merge_upsert(
        once, updates, "k", tombstone_col="deleted", order_col="ver",
        retain_tombstones=True,
    )
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_versioned_merge_tombstone_wins_equal_version_any_order(spark):
    """{tombstone(v), live(v)} must converge to deleted regardless of
    application order — the tie rule that makes batching irrelevant."""
    def apply(target, rows):
        updates = spark.createDataFrame(
            rows, "k long, s string, ver long, deleted boolean"
        )
        return merge_upsert(
            target, updates, "k", tombstone_col="deleted", order_col="ver",
            retain_tombstones=True,
        ).localCheckpoint()

    base = spark.createDataFrame(
        [(1, "base", 1, False)], "k long, s string, ver long, deleted boolean"
    )
    tomb = [(1, None, 5, True)]
    live = [(1, "alive", 5, False)]
    a = apply(apply(base, tomb), live)   # tombstone first, live later
    b = apply(apply(base, live), tomb)   # live first, tombstone later
    ra = {r.k: (r.deleted, r.ver) for r in a.collect()}
    rb = {r.k: (r.deleted, r.ver) for r in b.collect()}
    assert ra == rb == {1: (True, 5)}


def test_retain_tombstones_requires_order_col(spark):
    """Review-finding pin: silently ignoring retain_tombstones in the
    non-versioned branch lost the resurrection guard — it must raise."""
    import pytest as _pytest

    from bootcamp_stackacademy_datalake_minio_airflow_spark.jobs.upsert import merge_upsert

    t = spark.createDataFrame([(1, "a", False)], "k long, v string, dead boolean")
    u = spark.createDataFrame([(1, "a", True)], "k long, v string, dead boolean")
    with _pytest.raises(ValueError, match="retain_tombstones requires order_col"):
        merge_upsert(t, u, "k", tombstone_col="dead", retain_tombstones=True)


def test_partition_move_validation_raises(spark, tmp_path):
    """Review-finding pin: an update that moves a key to another
    partition would duplicate it under pruned merge; the opt-in
    validator must refuse loudly."""
    import pytest as _pytest

    from bootcamp_stackacademy_datalake_minio_airflow_spark.jobs.upsert import upsert_parquet

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "2024-01", "a"), (2, "2024-02", "b")], "k long, mes string, v string"
    ).write.partitionBy("mes").parquet(path)
    moved = spark.createDataFrame([(1, "2024-02", "a2")], "k long, mes string, v string")
    with _pytest.raises(ValueError, match="moves key"):
        upsert_parquet(
            spark, path, moved, "k", partition_col="mes",
            validate_immutable_partitions=True,
        )
    # the same update without validation is the documented contract
    # violation: it silently duplicates — pin the hazard so the
    # docstring's claim stays true
    upsert_parquet(spark, path, moved, "k", partition_col="mes")
    assert spark.read.parquet(path).filter("k = 1").count() == 2
