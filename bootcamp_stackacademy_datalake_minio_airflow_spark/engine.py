"""Engine primitives shared by the operators and suites.

Three concerns live here so that no operator module hand-codes them:

- **Cache policy.** ``cache_scope`` persists the intermediates an
  operator re-reads in build-time jobs (a count, a per-round collect)
  and releases every one of them when the block exits, normally or by
  exception. An operator returns its lazy plan, which Catalyst plans
  whole with the caller's action, or, when its rounds already ran on
  the driver, a literal frame of the collected result. ``materialize``
  (an eager ``localCheckpoint``) truncates lineage: the
  ``connected_components`` and ``k_core`` rounds and the cross-query
  edge set of ``suites/graph_shared.py``, plus the few operators
  whose lazy plan would recompute an intermediate no exchange can
  share (the allow-list in tests/test_engine.py). ``drop_checkpoint``
  frees a round a loop has superseded.
- **Shared plan helpers.** ``fanout_repartition`` (one-task-per-core
  exchange ahead of fan-out work), ``normalize_text`` (the canonical
  text form every fingerprint/dedup operator hashes; ``NORM_SQL`` is
  its oracle twin) and ``_norm_base`` (that form materialized behind
  an exchange).
- **Driver-side rounding.** ``round_half_away`` rounds a Python float
  exactly as SQL ``ROUND`` does, for operators that feed driver-side
  state back into a plan the oracle replays.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@contextmanager
def cache_scope() -> Iterator[Callable[..., DataFrame]]:
    """Yield ``hold``: ``hold(df)`` or ``hold(df, level)`` persists
    ``df``, records it and returns it. On exit every recorded frame is
    unpersisted (non-blocking), including when the block raises — a
    failed invocation in a long-lived session (a pipeline, the bench
    loop) must not leak executor memory.

    A frame the caller already owns (e.g. suites/graph_shared.py's
    shared edge set) is simply not passed to ``hold``, so the scope
    never releases it.
    """
    held: list[DataFrame] = []

    def hold(
        df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
    ) -> DataFrame:
        held.append(df.persist(level))
        return df

    try:
        yield hold
    finally:
        for df in held:
            df.unpersist(blocking=False)


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` via ``localCheckpoint`` and return
    the checkpointed frame, whose plan no longer references the
    lineage it was computed from.

    For lineage truncation: an iterative loop whose lazy plan would
    grow with every round (the ``connected_components`` and ``k_core``
    rounds), the edge set that ``suites/graph_shared.py`` shares across
    queries, and an operator result whose lazy plan would recompute a
    shared intermediate that ReusedExchange cannot cover (each listed,
    with its measurement, in tests/test_engine.py). Any other operator
    result is returned lazily. The checkpoint is NOT fault tolerant:
    its blocks live in executor-local storage, so losing an executor
    afterwards loses them, where a lazy plan recomputes by lineage.
    ``clearCache()`` does not free it either (``drop_checkpoint``
    does).
    """
    return df.localCheckpoint(eager=True)


def drop_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a frame ``materialize`` returned, once no
    plan still reads it (an iterative loop's superseded round).

    ``DataFrame.unpersist`` cannot: a ``localCheckpoint`` RDD is not in
    the SQL CacheManager, so only the RDD under the analyzed plan drops
    it. Left alone, it stays registered until JVM GC lets ContextCleaner
    see the driver drop it.
    """
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def fanout_repartition(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition a narrow frame on ``cols`` with an EXPLICIT
    partition count — the cores, ``sparkContext.defaultParallelism`` —
    ahead of a CPU-heavy fan-out stage (explode × hash/regex per element).

    Why explicit and not ``repartition(cols)``: AQE's partition
    coalescing sizes post-shuffle partitions by BYTES
    (``minPartitionSize``, 1 MB), so a kilobyte-scale exchange whose
    downstream stage does 25-100x per-row fan-out work is folded back
    to ONE partition — bytes are the proxy AQE trusts, and fan-out
    compute defeats it (measured r12: the keyless form coalesced every
    operator exchange on this lake to 1 partition; the explicit form
    ran the GD feature build 35% faster warm at identical plans
    otherwise). An explicit count is honored by AQE.

    Why the cores and not ``spark.sql.shuffle.partitions``: the stage
    is CPU-bound, so one task per core keeps every core busy, while
    the shuffle conf (2-3x cores) is an upper bound for AQE to
    coalesce; pinned, it runs several short tasks per core.
    Dynamic-allocation deployments, whose cores at plan time are not
    those at run time, set ``spark.default.parallelism``.

    With no ``cols`` this is a round-robin exchange — the right form
    when no near-unique key exists: hash-partitioning on a DATA VALUE
    column (a measure, a raw text) collapses to a handful of
    partitions the moment the value distribution degenerates
    (constant column, duplicate-heavy corpus), recreating the serial
    stage the exchange exists to break (guide §2.5; VERDICT r12 #3).
    Round-robin placement is deterministic (sortBeforeRepartition)
    and callers here feed global/grouped aggregates, so placement
    cannot change any result.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *cols) if cols else df.repartition(n)


def normalize_text(col: str | Column) -> Column:
    """Lowercase + collapse whitespace — the canonical form all
    fingerprint/dedup operators hash."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


#: ``normalize_text`` of a ``text`` column in DuckDB SQL, for the
#: oracles that replay it.
NORM_SQL = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"


def _norm_base(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(__id, __txt) with normalization materialized via an exchange
    boundary so downstream per-element expressions read a concrete
    column instead of re-running the regex per element.

    NULL text is dropped at the scan (pushdown-friendly IsNotNull):
    a NULL document cannot participate in text dedup, and letting it
    through is actively wrong — Spark's NULL-skipping greatest() in
    the gram builders turns a NULL token array into one EMPTY-STRING
    gram, which then spuriously pairs with genuinely-empty documents
    while an independent engine (whose unnest drops NULL lists)
    emits nothing (found by the NULL tier of
    tools/degenerate_data.py)."""
    return fanout_repartition(
        df.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("__id"), normalize_text(text_col).alias("__txt")
        ),
        "__id",
    )


def round_half_away(q: float, scale: float) -> float:
    """Round half away from zero at decimal ``scale`` (1e4 = 4
    decimals, 1e6 = 6) on the float product — bit-identical to SQL
    ROUND (DuckDB: std::round(x * scale) / scale). Python's round() is
    half-EVEN, which disagrees exactly when q lands on a dyadic
    boundary (the sf0.1 sweep hit 17/128 = 0.1328125 → Python 0.132812
    vs SQL 0.132813 → hash mismatch). |p| - floor(|p|) is exact for
    |p| < 2^52, so the .5 comparison never sees an addition rounding
    error. Negative q mirrors through abs: a floor-based form rounds
    -0.1328125 toward zero."""
    p = abs(q) * scale
    fl = math.floor(p)
    r = (fl + 1 if p - fl >= 0.5 else fl) / scale
    # copysign, not a q < 0 branch: SQL ROUND preserves IEEE -0.0
    # (and rounds tiny negatives to -0.0), while -0.0 < 0 is False —
    # a sign-branch returns +0.0 there and a hash that formats floats
    # would split on "0.0" vs "-0.0"
    return math.copysign(r, q)
