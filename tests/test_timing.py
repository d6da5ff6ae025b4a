"""The shared timing protocol (tools/timing.py) against a fake session
and stub queries — no JVM. Pins the event order bench.py and
tools/probe.py rely on: where the SQL cache is cleared, how failures
are recorded, how bands and the prior-artifact ranking are computed,
and that a broken graph edge eviction aborts the run. Also checks
that the probe's replicated lake (tools/scale_lake.py) keeps every
table's columns, which catalog.load_table reads with declared types."""

from __future__ import annotations

import json
import os
import sys
import types

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))

import timing  # noqa: E402
from scale_lake import SCALE_SQL  # noqa: E402


class _Counted:
    def __init__(self, events, tag):
        self.events, self.tag = events, tag

    def repartition(self, n):
        return self

    def mapInPandas(self, fn, schema):
        return self

    def count(self):
        self.events.append(("count", self.tag))
        return 7


class FakeSpark:
    def __init__(self):
        self.events: list[tuple] = []
        self.sparkContext = types.SimpleNamespace(
            defaultParallelism=2, setLogLevel=lambda lvl: self.events.append(("log", lvl))
        )
        self.catalog = types.SimpleNamespace(clearCache=lambda: self.events.append(("clear",)))

    def range(self, n):
        return _Counted(self.events, "workers")


def stub(name, fail_on=()):
    """A query that logs each run and raises on the listed call numbers."""
    calls = []

    def fn(spark, d):
        calls.append(d)
        spark.events.append(("run", name, d))
        if len(calls) in fail_on:
            raise RuntimeError(f"{name} failed")
        return _Counted(spark.events, name)

    return fn


def runs(spark):
    """The clear/run skeleton of the event log."""
    return [e[:2] if e[0] == "run" else e for e in spark.events if e[0] in ("clear", "run")]


def test_start_warms_first_query_and_workers(monkeypatch):
    spark = FakeSpark()
    qs = {"a": stub("a"), "b": stub("b")}
    monkeypatch.setattr(timing, "get_spark", lambda app: spark)
    monkeypatch.setattr(timing.ep, "queries", lambda: qs)
    got_spark, got_qs = timing.start("t", "/lake/sf0.1")
    assert got_spark is spark and got_qs is qs
    assert spark.events == [
        ("log", "ERROR"),
        ("run", "a", "/lake/sf0.1"),
        ("count", "a"),
        ("count", "workers"),
        ("clear",),
    ]


def test_rep_loop_clears_before_cold_not_before_warm():
    spark = FakeSpark()
    cold, warm, rows = timing.time_query(spark, "q", stub("q"), "/lake", 2)
    assert runs(spark) == [
        ("clear",), ("run", "q"), ("run", "q"),
        ("clear",), ("run", "q"), ("run", "q"),
        ("clear",),
    ]
    assert len(cold) == len(warm) == 2 and min(cold + warm) >= 0
    assert rows == 7


def test_cold_failure_records_both_sides_and_stops():
    spark = FakeSpark()
    cold, warm, _ = timing.time_query(spark, "q", stub("q", fail_on={1}), "/lake", 3)
    assert cold == [-1.0] and warm == [-1.0]
    assert runs(spark) == [("clear",), ("run", "q"), ("clear",)]


def test_warm_failure_records_warm_side_only():
    spark = FakeSpark()
    cold, warm, _ = timing.time_query(spark, "q", stub("q", fail_on={2}), "/lake", 2)
    assert len(cold) == 2 and min(cold) >= 0
    assert warm[0] == -1.0 and warm[1] >= 0


def test_prepass_clears_every_25_queries_and_at_the_end():
    spark = FakeSpark()
    qs = {f"q{i}": stub(f"q{i}", fail_on={1} if i == 3 else ()) for i in range(60)}
    assert timing.prepass(spark, qs, "/warm") == 59
    skeleton = runs(spark)
    clears = [i for i, e in enumerate(skeleton) if e == ("clear",)]
    # after the 25th and 50th query, then once after the 60th
    assert clears == [25, 51, 62]
    assert all(e[2] == "/warm" for e in spark.events if e[0] == "run")


@pytest.mark.parametrize(
    "vals, expected",
    [
        ([4.0, 1.0, -1.0, 3.0, 2.0], (2.5, 1.0, 4.0)),
        ([2.0, 1.0, 3.0], (2.0, 1.0, 3.0)),
        ([-1.0, -1.0], (-1.0, -1.0, -1.0)),
        ([], (-1.0, -1.0, -1.0)),
    ],
)
def test_band(vals, expected):
    assert timing.band(vals) == expected


def _artifact(tmp_path, **over):
    full = {"sf": 0.1, "reps": 3, "queries_cold_med": {"a": 1.0, "b": 3.0, "c": -1.0, "gone": 9.0}}
    full.update(over)
    p = tmp_path / "BENCH_FULL.json"
    p.write_text(json.dumps(full))
    return str(p)


def test_prior_ranking_slowest_first_over_known_queries(tmp_path):
    p = _artifact(tmp_path)
    assert timing.prior_ranking(p, 0.1, {"a", "b", "c"}) == [("b", 3.0), ("a", 1.0)]
    assert timing.prior_ranking(p, timing.sf_of("/lake/sf0.1/"), {"a"}) == [("a", 1.0)]


@pytest.mark.parametrize("over", [{"sf": 0.01}, {"reps": 1}, {"reps": 2}])
def test_prior_ranking_rejects_other_protocols(tmp_path, over):
    assert timing.prior_ranking(_artifact(tmp_path, **over), 0.1, {"a", "b"}) == []


def test_prior_ranking_missing_artifact(tmp_path):
    assert timing.prior_ranking(str(tmp_path / "none.json"), 0.1, {"a"}) == []


class FakeEdges:
    def __init__(self, fail=False):
        self.cache: set[str] = set()
        self.events: list[tuple] = []
        self.fail = fail

    def part_cooccurrence_edges(self, spark, d):
        self.events.append(("edges", d))
        if self.fail and d == "/lake":
            raise RuntimeError("edge build failed")
        self.cache.add(d)

    def evict(self, spark, d):
        self.events.append(("evict", d))
        hit = d in self.cache
        self.cache.discard(d)
        return hit


def test_edge_build_evicts_before_every_cold_rep(monkeypatch):
    fake = FakeEdges()
    monkeypatch.setattr(timing, "graph_shared", fake)
    cold, warm = timing.time_edge_build(FakeSpark(), "/lake", "/warm", 2)
    assert fake.events == [
        ("edges", "/warm"),
        ("evict", "/lake"), ("edges", "/lake"), ("edges", "/lake"),
        ("evict", "/lake"), ("edges", "/lake"), ("edges", "/lake"),
    ]
    assert len(cold) == len(warm) == 2


def test_edge_build_aborts_when_evict_finds_nothing(monkeypatch):
    fake = FakeEdges()
    fake.evict = lambda spark, d: False  # a key-shape change: never hits
    monkeypatch.setattr(timing, "graph_shared", fake)
    with pytest.raises(AssertionError, match="evict"):
        timing.time_edge_build(FakeSpark(), "/lake", "/warm", 2)


def test_edge_build_failure_records_minus_one(monkeypatch):
    monkeypatch.setattr(timing, "graph_shared", FakeEdges(fail=True))
    assert timing.time_edge_build(FakeSpark(), "/lake", "/warm", 3) == ([-1.0], [-1.0])


@pytest.mark.parametrize("table", sorted(SCALE_SQL))
def test_scaled_tables_keep_their_columns(sf_dir, table):
    scaled = duckdb.sql("DESCRIBE " + SCALE_SQL[table].format(base=sf_dir, copies=2))
    base = duckdb.sql(f"DESCRIBE SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')")
    assert scaled.fetchall() == base.fetchall()


STDOUT_KEYS = [
    "band_note", "metric", "n_errors", "n_queries", "queries", "queries_failed_reps",
    "queries_warm", "reps", "reps_top20", "sf", "unit", "value", "warm_total",
    "warmup_sf", "warmups_ok",
]
BAND_KEYS = [f"queries_{side}_{stat}" for side in ("cold", "warm") for stat in ("med", "min", "max")]


def test_bench_keeps_its_stdout_line_and_artifact_schema(monkeypatch, tmp_path, capsys):
    import bench

    qs = {f"q{i}": stub(f"q{i}", fail_on={3} if i == 1 else ()) for i in range(3)}
    artifact = _artifact(tmp_path, queries_cold_med={"q0": 1.0, "q2": 2.0})
    monkeypatch.setattr(timing, "get_spark", lambda app: FakeSpark())
    monkeypatch.setattr(timing.ep, "queries", lambda: qs)
    monkeypatch.setattr(timing, "graph_shared", FakeEdges())
    monkeypatch.setattr(timing, "BENCH_FULL", artifact)
    monkeypatch.setattr(timing, "SF_DIR", "/lake/sf0.1")
    monkeypatch.setattr(timing, "WARM_DIR", "/lake/sf0.001")
    monkeypatch.setenv("SPARK_GRAFT_REPS", "3")
    bench.main()

    (line,) = capsys.readouterr().out.strip().splitlines()
    compact = json.loads(line)
    assert sorted(compact) == STDOUT_KEYS
    with open(artifact) as f:
        full = json.load(f)
    assert sorted(full) == sorted(STDOUT_KEYS + BAND_KEYS + ["reps_effective", "top20_prior"])
    assert full["n_queries"] == 4 and full["sf"] == 0.1 and full["warmup_sf"] == "0.001"
    assert full["top20_prior"] == ["q2", "q0"] and full["reps_top20"] == 5
    # q1's first warm run failed; the prior top queries ran reps+2 reps
    assert full["queries_failed_reps"] == {"q1": 1}
    assert full["reps_effective"] == {"q0": 5, "q1": 3, "q2": 5}
