"""PageRank / co-occurrence graph operator tests."""

from __future__ import annotations

from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.graph import (
    cooccurrence_edges,
    pagerank,
)


def test_cooccurrence_edges_symmetric_distinct(spark):
    df = spark.createDataFrame(
        [(10, 1), (10, 2), (10, 3), (11, 2), (11, 3), (12, 7)],
        "okey long, part long",
    )
    edges = {
        (r.src, r.dst) for r in cooccurrence_edges(df, "okey", "part").collect()
    }
    # both directions, no self-loops, multiplicity collapsed (2-3 via
    # two orders appears once), singleton order 12 contributes nothing
    assert edges == {
        (1, 2), (2, 1), (1, 3), (3, 1), (2, 3), (3, 2),
    }


def test_pagerank_path_graph_matches_reference_recurrence(spark):
    """Path graph 1-2-3: the center accumulates rank. Compare against
    an independent Python replay of the exact quantized recurrence."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    out = {r.node: r.pagerank for r in pagerank(edges, iters=5).collect()}

    adj = {(1, 2), (2, 1), (2, 3), (3, 2)}
    outdeg = {1: 1, 2: 2, 3: 1}
    base = (1.0 - 0.85) / 3
    ranks = {v: 1.0 / 3 for v in (1, 2, 3)}
    for _ in range(5):
        ranks = {
            v: round(
                base
                + 0.85 * sum(ranks[u] / outdeg[u] for (u, w) in adj if w == v),
                10,
            )
            for v in (1, 2, 3)
        }
    for v in (1, 2, 3):
        assert abs(out[v] - round(ranks[v], 6)) <= 1e-9
    assert out[2] > out[1] == out[3]
    # symmetric graph, no dangling mass: ranks stay a distribution
    assert abs(sum(out.values()) - 1.0) < 1e-3


def test_pagerank_empty_edges_returns_empty(spark):
    edges = spark.createDataFrame([], "src long, dst long")
    out = pagerank(edges, iters=3)
    assert out.columns == ["node", "pagerank"]
    assert out.count() == 0


def test_label_propagation_two_cliques(spark):
    """Two 4-cliques joined by one bridge edge: after 3 synchronous
    rounds every member of each clique carries its clique's minimum
    id; the bridge does not merge them. Also pins determinism: two
    runs agree exactly."""
    from pyspark.sql import functions as F

    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.graph import label_propagation

    import itertools

    c1, c2 = [1, 2, 3, 4], [10, 11, 12, 13]
    und = [(a, b) for grp in (c1, c2) for a, b in itertools.combinations(grp, 2)]
    und.append((4, 10))  # bridge
    sym = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(sym, "src long, dst long")
    out = {r.node: r.community for r in label_propagation(edges, iters=3).collect()}
    assert all(out[n] == 1 for n in c1)
    assert all(out[n] == 10 for n in (11, 12, 13))
    out2 = {r.node: r.community for r in label_propagation(edges, iters=3).collect()}
    assert out == out2


def test_k_core_peeling_cascade_and_convergence(spark):
    """A 5-clique (4-core) with a pendant chain: peeling at k=3 must
    cascade the chain away round by round and keep exactly the
    clique, reporting converged=True. At k=5 (impossible) the core is
    empty. With rounds too small to finish the cascade,
    converged=False documents the partial peel."""
    import itertools

    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.graph import k_core

    clique = [1, 2, 3, 4, 5]
    und = list(itertools.combinations(clique, 2))
    # node 6 starts at degree 4 (survives round 1) but its leaf
    # neighbors 7, 9, 10 all fall in round 1, leaving it at degree 1
    # — it only falls in round 2 (a genuine cascade)
    und += [(5, 6), (6, 7), (6, 9), (6, 10)]
    sym = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(sym, "src long, dst long")
    out = {r.node: (r.degree, r.converged) for r in k_core(edges, k=3, rounds=4).collect()}
    assert set(out) == set(clique)
    assert all(d == 4 and c for d, c in out.values())
    assert k_core(edges, k=5, rounds=4).count() == 0
    partial = {r.node: (r.degree, r.converged) for r in k_core(edges, k=3, rounds=1).collect()}
    assert 6 in partial and partial[6] == (1, False)  # mid-cascade state


def test_shared_edge_cache_build_once_and_evict(spark, sf_dir):
    """suites/graph_shared.py is load-bearing for all four graph
    queries AND the bench edge-build line: same (app, lake) key must
    return the SAME materialized table (no rebuild), the count must
    equal the co-occurrence build's, edges must be symmetric-distinct,
    and the LRU must evict past its capacity without breaking live
    entries."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.suites import graph_shared as gs

    gs._CACHE.clear()
    e1, n1 = gs.part_cooccurrence_edges(spark, sf_dir)
    e2, n2 = gs.part_cooccurrence_edges(spark, sf_dir)
    assert e1 is e2 and n1 == n2  # build-once per (app, lake)
    assert n1 == e1.count() > 0
    # symmetric-distinct: every (src, dst) has its reverse, no dups
    from pyspark.sql import functions as F

    assert e1.count() == e1.distinct().count()
    fwd = e1.select("src", "dst")
    rev = e1.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    assert fwd.exceptAll(rev).count() == 0
    # LRU: fill past capacity with fake keys; the real entry evicts
    # (insertion order) but a fresh call simply rebuilds — no breakage
    for i in range(gs._MAX_ENTRIES):
        gs._CACHE[("fake-app", f"lake{i}")] = (e1, n1)
        while len(gs._CACHE) > gs._MAX_ENTRIES:
            gs._CACHE.popitem(last=False)
    assert len(gs._CACHE) == gs._MAX_ENTRIES
    e3, n3 = gs.part_cooccurrence_edges(spark, sf_dir)
    assert n3 == n1


def test_shared_edge_cache_public_evict_seam(spark, sf_dir):
    """graph_shared.evict is the seam bench.py's cold reps depend on
    (ADVICE r8: a hand-built private-dict key silently no-ops on a
    key-shape change, turning cold timings into cache hits). The
    return value is the loud signal: True exactly when an entry
    existed for (this app, sf_dir)."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.suites import graph_shared as gs

    gs._CACHE.clear()
    assert gs.evict(spark, sf_dir) is False  # nothing cached yet
    e1, n1 = gs.part_cooccurrence_edges(spark, sf_dir)
    assert gs.evict(spark, sf_dir) is True
    assert gs.evict(spark, sf_dir) is False  # idempotent: gone now
    # post-evict rebuild works and yields the same graph
    _e2, n2 = gs.part_cooccurrence_edges(spark, sf_dir)
    assert n2 == n1


def test_label_propagation_never_holds_caller_edges(spark, monkeypatch):
    """The caller owns the edge set (suites/graph_shared.py's shared
    projection): under the broadcast budget label_propagation persists
    nothing — never a copy of the edges, and not its node table either,
    whose one build-time reader is the regime count (a cache released
    before the caller's action would only be filled, never read)."""
    import itertools

    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.graph import (
        label_propagation,
    )

    und = list(itertools.combinations([1, 2, 3, 4], 2))
    sym = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(sym, "src long, dst long")

    # patch the CONCRETE DataFrame class (pyspark.sql.DataFrame is an
    # abstract facade in Spark 4; instances use the classic subclass)
    cls = type(edges)
    calls = []
    orig_persist = cls.persist

    def counting_persist(self, *args, **kwargs):
        calls.append(self)
        return orig_persist(self, *args, **kwargs)

    monkeypatch.setattr(cls, "persist", counting_persist)

    out = {r.node: r.community for r in label_propagation(edges, iters=2).collect()}
    assert out == {n: 1 for n in (1, 2, 3, 4)}
    assert not calls
