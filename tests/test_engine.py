"""Pins for ``engine``: the one module that owns the cache policy
(persist -> release; checkpoints only at allow-listed sites) and the
plan helpers the operators share.

The structure guards fail when a hand-written cache call, a new
``engine.materialize`` call or a helper import from
``operators/dedup.py`` creeps back in: each such site is a second copy
of the policy, and the copies are where releases went missing (a raise
between ``persist()`` and ``unpersist()`` leaked the cache; see
tests/test_breadth15.py::test_gd_persist_released_on_error). The leak
test checks the same at runtime: a returned frame must not hold a
persisted RDD that ``clearCache()`` cannot free.
"""

from __future__ import annotations

import ast
import contextlib
import pathlib
import re

import pytest
from pyspark import StorageLevel

from bootcamp_stackacademy_datalake_minio_airflow_spark import queries as q
from bootcamp_stackacademy_datalake_minio_airflow_spark.engine import (
    cache_scope,
    fanout_repartition,
)

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "bootcamp_stackacademy_datalake_minio_airflow_spark"

#: The only hand-written persist/cache/unpersist/localCheckpoint calls
#: left under operators/, suites/ and jobs/, as exact per-file counts
#: (engine.materialize is the one eager localCheckpoint). The one left
#: is a cache that outlives a single call, so no scope can own it:
#: - operators/similarity.py: ivf_index's build-once index cache; it
#:   persists each new index and unpersists the evicted one.
#: suites/graph_shared.py's edge cache holds engine.materialize
#: checkpoints, which DataFrame.unpersist cannot free; eviction only
#: drops the reference and Spark's ContextCleaner frees the blocks.
ALLOWED_CACHE_CALLS = {
    "operators/similarity.py": 2,
}

#: The only ``engine.materialize`` calls, as exact per-file counts. An
#: operator returns its lazy plan (or a literal frame of what it
#: collected); a checkpoint truncates lineage that would otherwise grow
#: or be rebuilt:
#: - operators/dedup.py (2): connected_components' initial labels and
#:   each label round of the distributed path;
#: - operators/graph.py: each k_core peeling round;
#: - suites/graph_shared.py: the edge set shared across the graph
#:   queries, which must survive clearCache().
#: Six operator results stay checkpoints because their lazy plan
#: recomputes a shared intermediate that no exchange covers, so
#: ReusedExchange cannot share it (cold medians, lazy vs checkpoint,
#: interleaved in one session at sf0.01 on 4 cores, 5 pairs each
#: unless noted):
#: - operators/dedup.py (+5): minhash_lsh_pairs 2.51 vs 1.73 s and
#:   simhash_pairs 2.35 vs 1.81 s (the band/block self-join is a
#:   broadcast join, and its build and probe sides each build the
#:   signature table); ngram_jaccard_pairs 1.98 vs 1.77 s and
#:   ngram_containment_pairs 1.60 vs 1.04 s (the interpreted gram-set
#:   HOF runs once per consumer); dup_span_stats on the prose lake
#:   6.10 vs 5.38 s, 7 pairs (the occurrence count and the join back
#:   each run the position explode + md5; sf0.01 0.90 vs 0.84 s and
#:   sf0.1 5.21 vs 5.40 s are inside the checkpoint's spread);
#: - operators/text.py: winnow_overlap_pairs 2.75 vs 1.96 s, 14.2 vs
#:   6.3 s on the prose lake (the fingerprint table ends in aggregates
#:   the _norm_base partitioning satisfies, so three consumers each run
#:   the position explode + md5).
ALLOWED_MATERIALIZE_CALLS = {
    "operators/dedup.py": 7,
    "operators/graph.py": 1,
    "operators/text.py": 1,
    "suites/graph_shared.py": 1,
}

MOVED = {"fanout_repartition", "normalize_text", "_norm_base", "_materialize_release"}


def _cache_calls(path: pathlib.Path) -> int:
    tree = ast.parse(path.read_text(), filename=str(path))
    return sum(
        1
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("persist", "cache", "unpersist", "localCheckpoint")
    )


def _materialize_calls(path: pathlib.Path) -> int:
    tree = ast.parse(path.read_text(), filename=str(path))
    return sum(
        1
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and (
            (isinstance(node.func, ast.Name) and node.func.id == "materialize")
            or (isinstance(node.func, ast.Attribute) and node.func.attr == "materialize")
        )
    )


def test_cache_calls_only_in_engine():
    found = {}
    for sub in ("operators", "suites", "jobs"):
        for path in sorted((PKG / sub).rglob("*.py")):
            n = _cache_calls(path)
            if n:
                found[path.relative_to(PKG).as_posix()] = n
    assert found == ALLOWED_CACHE_CALLS, (
        "cache calls outside engine.py: hold the frame in engine.cache_scope()"
    )


def test_materialize_only_truncates_loop_lineage():
    found = {}
    for path in sorted(PKG.rglob("*.py")):
        n = _materialize_calls(path) if path.name != "engine.py" else 0
        if n:
            found[path.relative_to(PKG).as_posix()] = n
    assert found == ALLOWED_MATERIALIZE_CALLS, (
        "engine.materialize outside the loop/shared-cache sites: return the "
        "lazy plan, or a literal frame of a result already collected"
    )


def test_no_engine_helper_imported_from_dedup():
    offenders = []
    for base in (PKG, ROOT / "dags", ROOT / "tests", ROOT / "tools"):
        for path in sorted(base.rglob("*.py")):
            for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
                if (
                    isinstance(node, ast.ImportFrom)
                    and (node.module or "").split(".")[-1] == "dedup"
                    and MOVED & {a.name for a in node.names}
                ):
                    offenders.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert not offenders, f"import these helpers from engine: {offenders}"


def test_cache_scope_keeps_level_and_releases_on_exit(spark):
    owned = spark.range(4).cache()
    with cache_scope() as hold:
        disk = hold(spark.range(3), StorageLevel.DISK_ONLY)
        default = hold(owned.selectExpr("id * 2 AS x"))
        assert disk.storageLevel == StorageLevel.DISK_ONLY
        assert default.storageLevel == StorageLevel.MEMORY_AND_DISK_DESER
    assert not disk.is_cached and not default.is_cached
    # a frame the caller persisted itself is never passed to hold, so
    # the scope leaves it alone
    assert owned.is_cached
    owned.unpersist()


@contextlib.contextmanager
def _shuffle_partitions(spark, n: int):
    """Run the block with ``spark.sql.shuffle.partitions`` at ``n``,
    restoring the session's value afterwards."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_fanout_partitions_follow_the_cores(spark):
    """The fan-out exchange runs one task per core whatever the shuffle
    conf says; the test session runs both at 4, so set it apart."""
    sc = spark.sparkContext
    with _shuffle_partitions(spark, 32):
        df = fanout_repartition(spark.range(100).withColumnRenamed("id", "k"), "k")
        assert df.rdd.getNumPartitions() == sc.defaultParallelism != 32


_EXCHANGE = re.compile(r"(?<![A-Za-z])Exchange\b")


def _exchanges(df) -> int:
    """Shuffle ``Exchange`` nodes in the initial physical plan."""
    return len(_EXCHANGE.findall(df._jdf.queryExecution().executedPlan().toString()))


@pytest.mark.slow
def test_fanout_adds_no_exchange_when_shuffle_partitions_exceed_cores(spark, sf_dir):
    """A fan-out repartition stacked on an aggregate keyed the same
    way is dropped when its count equals the aggregate's
    (``spark.sql.shuffle.partitions``) and is a second exchange when
    it does not. No registry query may plan more exchanges at 32
    shuffle partitions than at 4 (= the cores here)."""
    grown = {}
    for name, fn in q.queries().items():
        with _shuffle_partitions(spark, 4):
            at_cores = _exchanges(fn(spark, sf_dir))
        with _shuffle_partitions(spark, 32):
            at_32 = _exchanges(fn(spark, sf_dir))
        if at_32 > at_cores:
            grown[name] = (at_cores, at_32)
    assert not grown, f"exchanges at 4 -> 32 shuffle partitions: {grown}"


#: One registry query per operator or suite function that returned an
#: ``engine.materialize`` checkpoint before it returned its plan.
LEAK_QUERIES = [
    "token_budget_selection",
    "graph_pagerank_parts",
    "graph_label_propagation",
    "graph_triangle_counts",
    "conformal_interval_coverage",
    "gmm_em_order_values",
    "quality_logreg_gd",
    "logreg_calibration_bins",
    "logreg_auc_roc",
    "token_cms_heavy_hitters",
    "source_overlap_kmv",
    "curation_chunks_v2",
    "basket_association_rules",
]


@pytest.fixture(scope="module")
def primed(spark, sf_dir):
    """Run every leak query once first, so the shared graph edge set
    (a checkpoint that outlives its query by design) already exists."""
    qs = q.queries()
    for name in LEAK_QUERIES:
        qs[name](spark, sf_dir).collect()
    return qs


@pytest.mark.parametrize("name", LEAK_QUERIES)
def test_returned_frame_leaves_no_persisted_rdd(spark, sf_dir, primed, name):
    """Build the query, consume every column, clearCache(): no RDD
    registered meanwhile may stay persisted. A returned localCheckpoint
    fails this, because clearCache() cannot free it."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    primed[name](spark, sf_dir).collect()
    spark.catalog.clearCache()
    leaked = set(sc._jsc.getPersistentRDDs().keySet().toArray()) - before
    assert not leaked, f"{name} left persisted RDDs {leaked}"
