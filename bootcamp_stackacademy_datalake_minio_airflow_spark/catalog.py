"""Zone/path catalog.

The reference hard-codes bucket + object paths in every script
(reference: scripts/bronze_to_silver/ingestion_orders_bronze_to_silver.py:39,
:88-90). Here a single resolver maps (zone, table) -> URI so jobs never
embed storage layout, and the synthetic testdata directory is exposed
through the same interface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .schemas import TESTDATA_SCHEMAS

ZONES = ("bronze", "silver", "gold")

#: tables in the driver's synthetic testdata (TESTDATA.md)
TESTDATA_TABLES = tuple(TESTDATA_SCHEMAS)


def zone_path(zone: str, table: str, base: str | None = None) -> str:
    """Resolve a lake URI for (zone, table).

    ``base`` defaults to ``$LAKE_BASE`` (e.g. ``s3a://`` for MinIO) and
    falls back to a local directory for tests. Layout mirrors the
    reference's ``{bucket}/olist/{table}/`` prefixes.
    """
    if zone not in ZONES:
        raise ValueError(f"unknown zone {zone!r}; expected one of {ZONES}")
    base = base if base is not None else os.environ.get("LAKE_BASE", "s3a://")
    if base.endswith("://"):
        # scheme-only base ("s3a://", zone = bucket name): rstrip('/')
        # would eat the authority slashes and emit the malformed
        # 's3a:/bronze/...' (null-authority URI Hadoop rejects)
        return f"{base}{zone}/olist/{table}/"
    return f"{base.rstrip('/')}/{zone}/olist/{table}/"


#: (app_id, abspath, (mtime_ns, size)) -> DataFrame HANDLE cache.
#: This memoizes the LOGICAL PLAN OBJECT (footer read + relation
#: construction + py4j traffic), never data: every action on the
#: returned frame still scans the parquet files. A miss runs no Spark
#: job (the types are declared, see ``_pinned_schema``) but still
#: reads the footer on the driver and builds the relation; across the
#: 214-query bench's ~300+ load_table calls a hit skips that
#: per-query metadata cost. A production engine holds exactly this
#: state in its catalog/metastore. Staleness is handled, not assumed
#: away: the key carries the file's (mtime_ns, size), so a rewritten or
#: re-linked lake (tools/degenerate_data.py, prose-lake builds) misses
#: and re-reads. Bounded at _DF_CACHE_MAX entries with FIFO eviction:
#: a hit does not refresh an entry's position (unlike the LRU in
#: suites/graph_shared), so the oldest insertion is evicted first.
_DF_CACHE: "dict[tuple, DataFrame]" = {}
_DF_CACHE_MAX = 128


def _df_cache_key(spark: SparkSession, path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None  # missing path: let spark.read raise, cache nothing
    return (
        spark.sparkContext.applicationId,
        os.path.abspath(path),
        st.st_mtime_ns,
        st.st_size,
    )


def _pinned_schema(path: str, name: str) -> StructType:
    """The declared schema of lake table ``name`` restricted to the
    columns of the file at ``path``, in file order.

    Only the column names come from the parquet footer, read on the
    driver by pyarrow (no Spark job); the types come from
    ``schemas.TESTDATA_SCHEMAS``. A file column with no declared type
    raises, so a drifted lake fails here instead of reading a guess.
    """
    import pyarrow.dataset as pads

    declared = {f.name: f for f in TESTDATA_SCHEMAS[name].fields}
    names = pads.dataset(path, format="parquet").schema.names
    undeclared = [c for c in names if c not in declared]
    if undeclared:
        raise ValueError(
            f"{path}: column(s) {undeclared} have no declared type in "
            f"schemas.TESTDATA_SCHEMAS[{name!r}]"
        )
    return StructType([declared[c] for c in names])


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic testdata table (parquet).

    The scan is typed with the declared ``TESTDATA_SCHEMAS`` entry,
    restricted to the file's own columns, so a first load runs no
    schema-inference job. A column the file lacks is not in the
    frame: a query that uses it fails at analysis, never reads NULL.
    Timestamps must be microsecond parquet (every producer in the
    repo writes them); a nanosecond file fails when scanned.

    Returns a cached plan handle when the same (session, file
    version) was loaded before — see ``_DF_CACHE`` above. DataFrames
    are immutable, so sharing the object is safe; queries that load
    the same table twice already behaved as self-joins of one
    relation (breadth4's ann_batch filters one handle twice).
    """
    if name not in TESTDATA_SCHEMAS:
        raise ValueError(
            f"unknown lake table {name!r}; expected one of {TESTDATA_TABLES}"
        )
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    key = _df_cache_key(spark, path)
    if key is None:
        return spark.read.parquet(path)  # missing path: Spark raises
    if key in _DF_CACHE:
        return _DF_CACHE[key]
    df = spark.read.schema(_pinned_schema(path, name)).parquet(path)
    while len(_DF_CACHE) >= _DF_CACHE_MAX:
        _DF_CACHE.pop(next(iter(_DF_CACHE)))
    _DF_CACHE[key] = df
    return df


def link_donor_tables(src: str, out_dir: str, exclude: set[str]) -> None:
    """Symlink every ``*.parquet`` in ``src`` into ``out_dir`` except
    the names in ``exclude`` (tables the caller generates itself) —
    the shared donor-linking idiom for derived lakes (the prose lake,
    the scale-probe lakes), so ``load_table`` callers stay satisfied
    for tables the derived lake doesn't rescale.

    Donor changes are handled, not silently ignored (r10 self-review:
    a first-build from a smoke donor left the other nine tables
    pointing at 100x-smaller data for every later caller, and a
    deleted donor left dangling links that the copy fallback wrote
    THROUGH): a ``.donor`` stamp records ``src``; on mismatch every
    non-excluded parquet is unlinked and re-linked from the new
    donor, and stale/dangling symlinks are re-pointed individually.
    """
    import shutil

    os.makedirs(out_dir, exist_ok=True)
    donor_stamp = os.path.join(out_dir, ".donor")
    prev_donor = (
        open(donor_stamp).read().strip()
        if os.path.exists(donor_stamp)
        else None
    )
    if prev_donor != src:
        for f_name in os.listdir(out_dir):
            if f_name.endswith(".parquet") and f_name not in exclude:
                os.unlink(os.path.join(out_dir, f_name))
        with open(donor_stamp, "w") as f:
            f.write(src)
    for f_name in sorted(os.listdir(src)):
        if not f_name.endswith(".parquet") or f_name in exclude:
            continue
        s = os.path.join(src, f_name)
        dst = os.path.join(out_dir, f_name)
        if os.path.islink(dst):
            if os.readlink(dst) == s:
                continue
            os.unlink(dst)  # stale or dangling: re-point below
        elif os.path.exists(dst):
            continue  # real copy from THIS donor (stamp matched above)
        try:
            os.symlink(s, dst)
        except OSError:
            if os.path.lexists(dst):
                os.unlink(dst)
            shutil.copyfile(s, dst)
