"""Shared, per-process part co-occurrence edge set for the graph
query family (VERDICT r5 next-round #1).

The four registered graph queries (``graph_triangle_counts``,
``graph_pagerank_parts``, ``graph_label_propagation``,
``graph_kcore_membership``) all analyse the SAME graph — parts
co-occurring in an order — and each used to rebuild + re-cache that
edge set from lineitem independently (25.1s combined at sf0.1, ~20%
of the whole bench, four times the same groupBy-explode-distinct).
This module builds it ONCE per (application, lake) and hands every
consumer the same materialized table.

Why ``localCheckpoint`` and not ``cache()``: the edge set must
survive ``spark.catalog.clearCache()``, which the bench loop (and any
well-behaved long-lived pipeline) issues between queries to keep
cache pressure from leaking across unrelated stages. ``cache()``
registers in the SQL CacheManager and dies there; an eager
localCheckpoint materializes to executor-local blocks outside the
CacheManager, preserving the dst-hash partitioning/ordering in its
LogicalRDD, so downstream prepartitioned consumers still add no
exchange. The usual localCheckpoint caveat applies (blocks are not
fault-tolerant; on executor loss the consumer re-runs the build —
acceptable for a one-shuffle derivation).

Keyed by (applicationId, sf_dir) with a tiny LRU: the bench
interleaves a sf0.001 warm-up with every sf0.1 timed run, so
single-slot eviction would ping-pong and rebuild every time; >=2
slots make the warm-up free. Eviction only drops the entry: a
localCheckpoint is not in the CacheManager, so ``DataFrame.unpersist``
cannot free it. Spark's ContextCleaner frees the blocks once the
driver no longer references the frame.

At 100 TB this is the standard "build the graph projection once,
query it many times" posture: one groupBy(order)+local explode
shuffle (bounded fan-out — orders hold <=7 items), one distinct
exchange that doubles as the consumers' dst-partitioning, then N
algorithms over the materialized projection.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..engine import materialize
from ..operators.graph import cooccurrence_edges

#: (applicationId, sf_dir) -> (edges, n_directed_rows). Symmetric
#: DISTINCT (src, dst) edges (both directions present), dst-hash
#: partitioned, eagerly materialized. n_directed_rows == 2|E|.
_CACHE: OrderedDict[tuple[str, str], tuple[DataFrame, int]] = OrderedDict()
_MAX_ENTRIES = 4


def part_cooccurrence_edges(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, int]:
    """The distinct symmetric part co-purchase edge set for ``sf_dir``
    plus its exact row count (== 2|E| undirected edges), built at most
    once per Spark application per lake."""
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _CACHE.get(key)
    if hit is not None:
        _CACHE.move_to_end(key)
        return hit
    li = load_table(spark, sf_dir, "lineitem")
    edges = materialize(
        cooccurrence_edges(li, "l_orderkey", "l_partkey", partition_by="dst")
    )
    n = edges.count()
    _CACHE[key] = (edges, n)
    while len(_CACHE) > _MAX_ENTRIES:
        _CACHE.popitem(last=False)
    return edges, n


def evict(spark: SparkSession, sf_dir: str) -> bool:
    """Drop the cached edge set for ``(this application, sf_dir)``;
    returns whether an entry existed. The public seam for callers
    (bench.py's cold reps) that must force a rebuild — reaching into
    ``_CACHE`` with a hand-built key would silently no-op if the key
    shape ever changed, quietly reporting warm numbers as cold
    (ADVICE r8)."""
    return _CACHE.pop((spark.sparkContext.applicationId, sf_dir), None) is not None
