"""The one timing protocol behind bench.py and tools/probe.py.

A timed run is:

1. ``start``: a session, then process warm-up — the JVM's first scan
   (the first registry query at the timed lake) and the Python workers
   (a tiny ``mapInPandas``) — so one-time start-up cost is not charged
   to whichever query runs first;
2. ``prepass``: every selected query once, untimed, at the warm-up
   lake (trivial data), before ANY timing. An interleaved warm-up
   (warm q_i, time q_i, warm q_{i+1}, ...) leaves Spark's SHARED JIT
   paths cold for early registry slots — the top-of-registry dedup
   heavyweights read 5.3-5.8s in-suite vs 1.3-2.7s after a full
   pre-pass — so the pre-pass makes slot position stop mattering;
3. ``time_edge_build``: the shared graph edge projection
   (suites/graph_shared.py) timed as its own ``graph_edge_build`` row
   and left cached, so the graph queries report their marginal cost;
4. ``time_query`` per query: cold/warm rep pairs. "Cold" runs from a
   cleared SQL cache and pays cache fills, broadcast builds and shared
   projections; "warm" is an immediate second run WITHOUT clearing —
   the steady state a long-lived pipeline sees.

A failed run records ``-1.0``; ``band`` reports median, min and max
over the successful runs.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections.abc import Callable, Mapping

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as ep  # noqa: E402
from bootcamp_stackacademy_datalake_minio_airflow_spark.session import get_spark  # noqa: E402
from bootcamp_stackacademy_datalake_minio_airflow_spark.suites import graph_shared  # noqa: E402

#: the timed lake (default: sf0.1 beside the smoke lake) and the
#: warm-up lake (default: the smoke lake, sf0.001)
SF_DIR = os.environ.get(
    "SPARK_GRAFT_SF_DIR", os.path.join(os.path.dirname(ep.SMOKE_SF_DIR), "sf0.1")
)
WARM_DIR = os.environ.get("SPARK_GRAFT_WARM_DIR", ep.SMOKE_SF_DIR)

#: the committed bench artifact: bench.py's output, and the prior
#: ranking both CLIs read
BENCH_FULL = os.path.join(ROOT, "BENCH_FULL.json")

#: the pre-pass clears the SQL cache after every this-many queries,
#: bounding the cache pressure the pass itself accumulates
PREPASS_CLEAR_EVERY = 25

Query = Callable[..., object]


def sf_of(sf_dir: str) -> float | str:
    """The scale factor a lake directory is named for (``.../sf0.1`` -> 0.1)."""
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return float(sf) if sf.replace(".", "").isdigit() else sf


def start(app: str, sf_dir: str) -> tuple[object, dict[str, Query]]:
    """A warmed session and the query registry (protocol step 1)."""
    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    qs = ep.queries()
    try:
        next(iter(qs.values()))(spark, sf_dir).count()
        n_workers = spark.sparkContext.defaultParallelism * 2
        spark.range(n_workers * 4).repartition(n_workers).mapInPandas(
            lambda it: it, "id long"
        ).count()
    except Exception:  # noqa: BLE001
        pass
    # drop whatever the warm-up persisted so the first timed query
    # (which is also the warm-up query) starts from the same cache
    # state as every other
    spark.catalog.clearCache()
    return spark, qs


def prepass(spark, qs: Mapping[str, Query], warm_dir: str) -> int:
    """Run every query once, untimed, at ``warm_dir`` (protocol step 2);
    returns how many succeeded."""
    ok = 0
    for i, fn in enumerate(qs.values()):
        try:
            fn(spark, warm_dir).count()
            ok += 1
        except Exception:  # noqa: BLE001
            pass
        if i % PREPASS_CLEAR_EVERY == PREPASS_CLEAR_EVERY - 1:
            spark.catalog.clearCache()
    spark.catalog.clearCache()
    return ok


def time_edge_build(spark, sf_dir: str, warm_dir: str, reps: int) -> tuple[list, list]:
    """Cold/warm runs of the shared graph edge build (protocol step 3).

    Each rep evicts the ``sf_dir`` entry first so every cold rep pays
    the real build. After rep 0 the prior warm run MUST have left an
    entry: a miss means eviction is broken and every later "cold" rep
    would silently measure a cache hit, so the AssertionError
    propagates and aborts the run instead of being recorded as -1.0.
    The entries are localCheckpoints, outside the SQL cache manager;
    dropping the dict reference lets the ContextCleaner reclaim them.
    """
    cold: list[float] = []
    warm: list[float] = []
    try:
        graph_shared.part_cooccurrence_edges(spark, warm_dir)  # untimed warm-up
        for rep in range(reps):
            evicted = graph_shared.evict(spark, sf_dir)
            assert rep == 0 or evicted, (
                "graph_shared.evict found no cache entry after a warm "
                "run — cold reps would silently measure cache hits"
            )
            for runs in (cold, warm):
                t0 = time.perf_counter()
                graph_shared.part_cooccurrence_edges(spark, sf_dir)
                runs.append(round(time.perf_counter() - t0, 3))
    except AssertionError:
        raise
    except Exception as e:  # noqa: BLE001
        print(f"bench error in graph_edge_build: {e}", file=sys.stderr)
        cold.append(-1.0)
        warm.append(-1.0)
    return cold, warm


def time_query(spark, name: str, fn: Query, sf_dir: str, reps: int) -> tuple[list, list, int]:
    """``reps`` cold/warm pairs of one query (protocol step 4); returns
    the cold runs, the warm runs and the last counted row total.

    The SQL cache is cleared before each cold run, never before its
    warm run, and once after the query so the next one does not
    inherit its cache pressure. A cold failure records -1.0 on both
    sides and stops the query (it fails every rep); a warm failure
    records -1.0 on the warm side only.
    """
    cold: list[float] = []
    warm: list[float] = []
    rows = -1
    for _ in range(reps):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        try:
            rows = fn(spark, sf_dir).count()
            cold.append(round(time.perf_counter() - t0, 3))
        except Exception as e:  # noqa: BLE001
            print(f"bench error in {name}: {e}", file=sys.stderr)
            cold.append(-1.0)
            warm.append(-1.0)
            break
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).count()
            warm.append(round(time.perf_counter() - t0, 3))
        except Exception as e:  # noqa: BLE001
            print(f"bench warm error in {name}: {e}", file=sys.stderr)
            warm.append(-1.0)
    spark.catalog.clearCache()
    return cold, warm, rows


def band(runs: list[float]) -> tuple[float, float, float]:
    """(median, min, max) of the successful runs; -1.0 each when none
    succeeded. An even count takes the mean of the middle two."""
    ok = sorted(v for v in runs if v >= 0)
    if not ok:
        return -1.0, -1.0, -1.0
    n = len(ok)
    mid = ok[n // 2] if n % 2 else (ok[n // 2 - 1] + ok[n // 2]) / 2
    return round(mid, 3), ok[0], ok[-1]


def prior_ranking(path: str, sf: float | str, names) -> list[tuple[str, float]]:
    """``names`` ranked slowest first by the cold medians of a prior
    BENCH_FULL.json.

    Only a ranking measured at THIS sf with at least 3 reps is trusted:
    a smoke run (reps=1, sf0.01) must not pick the sampling set for an
    official sf0.1 run. A missing, unreadable or rejected artifact
    ranks nothing.
    """
    try:
        with open(path) as f:
            prior = json.load(f)
    except (OSError, ValueError):
        return []
    if str(prior.get("sf")) != str(sf) or prior.get("reps", 0) < 3:
        return []
    meds = prior.get("queries_cold_med", {})
    return sorted(
        ((n, m) for n, m in meds.items() if n in names and m >= 0),
        key=lambda kv: kv[1],
        reverse=True,
    )
