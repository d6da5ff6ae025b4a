"""Manifest-based snapshot isolation for plain-parquet tables
(extension): time travel, rollback and optimistic concurrency — the
Iceberg/Delta capability subset that needs nothing but a filesystem
with create-fails-if-exists rename semantics.

Layout::

    <root>/data/<segment>/part-*.parquet   immutable data segments
    <root>/_manifests/v00001.json          snapshot = list of segments

A writer stages a NEW immutable segment directory, then commits by
renaming a temp manifest to ``v{N+1}``. Hadoop's ``rename`` fails when
the destination exists, which makes the commit a compare-and-swap:
two concurrent writers racing to the same version — one wins, the
other re-reads the new latest snapshot, rebases (append re-lists the
winner's segments; overwrite just bumps), and retries. Readers never
lock: a manifest names only fully-written segments, so any version
reads consistently forever (that is what time travel is).

Scale notes: manifests carry segment DIRECTORY names, not file lists —
metadata stays O(commits), and the segment's parquet footers remain
the source of file-level stats. Commit cost is one rename regardless
of table size. Nothing in the layer deletes data: every manifest's
segments stay on disk, so every version stays readable.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..fsutil import _fs_for, _jp

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"


def _manifest_path(root: str, version: int) -> str:
    return f"{root.rstrip('/')}/{_MANIFEST_DIR}/v{version:05d}.json"


def _read_json(spark: SparkSession, path: str) -> dict:
    fs, jvm = _fs_for(spark, path)
    inp = fs.open(_jp(jvm, path))
    try:
        data = bytes(inp.readAllBytes())
    finally:
        inp.close()
    return json.loads(data.decode("utf-8"))


def _write_json_atomic(spark: SparkSession, final: str, doc: dict) -> bool:
    """Write ``doc`` to a temp file and CAS-rename onto ``final``.
    Returns False when the destination already exists (a concurrent
    writer won the version)."""
    fs, jvm = _fs_for(spark, final)
    tmp = f"{final}.tmp-{uuid.uuid4().hex}"
    out = fs.create(_jp(jvm, tmp), False)
    try:
        out.write(bytearray(json.dumps(doc, sort_keys=True).encode("utf-8")))
    finally:
        out.close()
    ok = fs.rename(_jp(jvm, tmp), _jp(jvm, final))
    if not ok:
        fs.delete(_jp(jvm, tmp), False)
    return bool(ok)


def table_versions(spark: SparkSession, root: str) -> list[int]:
    """Committed snapshot versions, ascending."""
    mdir = f"{root.rstrip('/')}/{_MANIFEST_DIR}"
    fs, jvm = _fs_for(spark, mdir)
    if not fs.exists(_jp(jvm, mdir)):
        return []
    out = []
    for st in fs.listStatus(_jp(jvm, mdir)):
        name = st.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _latest(spark: SparkSession, root: str) -> tuple[int, dict] | None:
    vs = table_versions(spark, root)
    if not vs:
        return None
    v = vs[-1]
    return v, _read_json(spark, _manifest_path(root, v))


def commit_snapshot(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    mode: str = "append",
    max_attempts: int = 10,
    extra: dict | None = None,
) -> int:
    """Write ``df`` as a new immutable segment and commit a new
    snapshot; returns the committed version.

    ``mode='append'`` adds the segment to the current snapshot's list;
    ``'overwrite'`` starts a fresh list. Losing the CAS race re-reads
    the winner's snapshot and rebases — append semantics compose, so
    concurrent appends both land (in some order) without locks.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unknown snapshot mode {mode!r}")
    root = root.rstrip("/")
    segment = f"s-{uuid.uuid4().hex}"
    df.write.mode("overwrite").parquet(f"{root}/{_DATA_DIR}/{segment}")
    for _ in range(max_attempts):
        cur = _latest(spark, root)
        version = (cur[0] if cur else 0) + 1
        base = cur[1]["segments"] if (cur and mode == "append") else []
        doc = {
            "version": version,
            "mode": mode,
            "parent": cur[0] if cur else None,
            "segments": base + [segment],
            **(extra or {}),
        }
        if _write_json_atomic(spark, _manifest_path(root, version), doc):
            return version
    raise RuntimeError(
        f"snapshot commit lost the version race {max_attempts} times"
    )


def read_snapshot(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Read the table at ``version`` (default: latest) — time travel
    is just picking an older manifest; segments are immutable so the
    view is consistent regardless of later commits."""
    root = root.rstrip("/")
    if version is None:
        cur = _latest(spark, root)
        if cur is None:
            raise FileNotFoundError(f"no snapshots at {root}")
        doc = cur[1]
    else:
        doc = _read_json(spark, _manifest_path(root, version))
    paths = [f"{root}/{_DATA_DIR}/{s}" for s in doc["segments"]]
    return spark.read.parquet(*paths)


def rollback_snapshot(spark: SparkSession, root: str, to_version: int) -> int:
    """Commit a NEW version whose segment list equals ``to_version``'s
    — history is preserved (rollback is an entry in the log, not an
    erasure), exactly like Iceberg's rollback."""
    root = root.rstrip("/")
    target = _read_json(spark, _manifest_path(root, to_version))
    for _ in range(10):
        cur = _latest(spark, root)
        version = (cur[0] if cur else 0) + 1
        doc = {
            "version": version,
            "mode": "rollback",
            "parent": cur[0] if cur else None,
            "rolled_back_to": to_version,
            "segments": target["segments"],
        }
        if _write_json_atomic(spark, _manifest_path(root, version), doc):
            # Post-commit segment verification: a retention job outside
            # this layer may have deleted to_version's segments between
            # our manifest read and the CAS. Publishing a latest that
            # points at deleted data would break EVERY subsequent read
            # — un-commit and raise instead.
            fs, jvm = _fs_for(spark, root)
            missing = [
                s
                for s in target["segments"]
                if not fs.exists(_jp(jvm, f"{root}/{_DATA_DIR}/{s}"))
            ]
            if missing:
                fs.delete(_jp(jvm, _manifest_path(root, version)), False)
                raise RuntimeError(
                    f"rollback to v{to_version} aborted: segment(s) "
                    f"{missing} were deleted concurrently; the committed "
                    "manifest was removed to keep the log readable"
                )
            return version
    raise RuntimeError("rollback lost the version race 10 times")


def mirror_to_snapshot(
    spark: SparkSession, source_path: str, root: str
) -> int | None:
    """Bridge a PLAIN-parquet table into the snapshot layer: commit
    the current content as a new overwrite snapshot IFF it changed
    since the last mirrored version. Returns the committed version,
    or None for a no-op.

    Change detection is a whole-table multiset digest (row count +
    decimal sum of row hashes — the same commutative digest
    jobs/incremental_gold.changed_groups uses per key) stored IN the
    manifest, so a no-op costs one aggregation over the source and
    zero snapshot reads. This is the bridge for producers that
    overwrite plain paths in place (the reference's bronze->silver
    jobs); a producer writing through commit_snapshot natively skips
    the copy entirely — prefer that where you control the writer.
    """
    from pyspark.sql import functions as F

    from ..functions import row_hash_cols

    df = spark.read.parquet(source_path)
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64(F.struct(*row_hash_cols(df))).cast("decimal(38,0)")
        ).alias("s"),
    ).collect()[0]
    digest = [int(agg["n"]), str(agg["s"])]
    cur = _latest(spark, root)
    if cur is not None and cur[1].get("digest") == digest:
        return None
    return commit_snapshot(
        spark, df, root, mode="overwrite", extra={"digest": digest}
    )
