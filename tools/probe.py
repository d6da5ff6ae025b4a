"""Time a subset of registry queries under bench.py's protocol
(tools/timing.py), optionally against an N-times replicated lake.

    python tools/probe.py q1 q2 ...              # cold median/min at --sf
    python tools/probe.py --top=10               # the 10 slowest of BENCH_FULL.json
    python tools/probe.py --top=10 --copies=10   # + a 10x leg; writes BENCH_SCALE.json
    python tools/probe.py --copies=30 --sf=<lake> graph_triangle_counts

``--sf`` is the 1x lake (default $SPARK_GRAFT_SF_DIR, as bench.py) and
the replication source of the ``--copies`` leg (tools/scale_lake.py).
Each leg runs in its OWN SparkSession with bench.py's warm-up,
pre-pass over the selected queries and graph_edge_build row: a leg
sharing a session with the other leg's large runs inherits their
GC/shuffle-cleanup aftermath (a shared-session run measured
graph_pagerank_parts at 0.5x purely from run order). The legs still
share the gateway JVM, so the Nx leg starts JIT-warmer than the 1x
leg. Every query runs ``--reps`` cold/warm pairs; the table reports
the cold median and min.

``--top`` ranks by the committed BENCH_FULL.json cold medians, which
count only when measured at the ``--sf`` scale with at least 3 reps.
Prose-lake queries (proselake_*) are skipped with a recorded reason:
they read the fixed real-prose lake and ignore sf_dir, so a scaled
lake cannot move them. ``--top`` with ``--copies`` writes
BENCH_SCALE.json.

Run probes on a quiet host: an overlapping Spark job inflates ratios
unrecoverably (logreg_calibration_bins read 75.9x at 30x beside a
bench run, 15.0x alone). At 30x and beyond set SPARK_DRIVER_MEMORY=64g
(the dup-span corpus-gram localCheckpoint OOMs an 8g heap at 100x) and
check free space under spark.local.dir (/tmp): the triangle family
spilled ~41 GB at 30x and ~135 GB at 100x.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import timing  # noqa: E402
from scale_lake import build_lake  # noqa: E402


def rank_top(n: int, sf_dir: str, registry) -> tuple[list[str], list[dict]]:
    """The ``n`` slowest registry queries of the prior bench artifact,
    and the prose-lake queries skipped on the way."""
    ranked: list[str] = []
    excluded: list[dict] = []
    for name, t in timing.prior_ranking(timing.BENCH_FULL, timing.sf_of(sf_dir), registry):
        if len(ranked) >= n:
            break
        if name.startswith("proselake_"):
            excluded.append(
                {
                    "query": name,
                    "cold_s": t,
                    "reason": "reads the fixed real-prose lake (ignores "
                    "sf_dir); scaled-lake probe of this plan runs via the "
                    "synthetic documents twin",
                }
            )
            continue
        ranked.append(name)
    return ranked, excluded


def run_leg(label: str, lake: str, names: list[str], reps: int) -> dict[str, dict]:
    """One fresh-session leg: {query: {median_s, min_s, rows}}."""
    spark, qs = timing.start(f"probe-{label}", lake)
    try:
        selected = {n: qs[n] for n in names}
        timing.prepass(spark, selected, timing.WARM_DIR)
        cold, _ = timing.time_edge_build(spark, lake, timing.WARM_DIR, reps)
        out = {"graph_edge_build": _row(cold, -1)}
        for name, fn in selected.items():
            cold, _, rows = timing.time_query(spark, name, fn, lake, reps)
            out[name] = _row(cold, rows)
    finally:
        spark.stop()
    return out


def _row(cold: list[float], rows: int) -> dict:
    med, lo, _ = timing.band(cold)
    return {"median_s": med, "min_s": lo, "rows": rows}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("queries", nargs="*", help="registry query names")
    ap.add_argument("--top", type=int, help="probe the N slowest of BENCH_FULL.json")
    ap.add_argument("--copies", type=int, help="add a leg on an N-times replicated lake")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf", default=timing.SF_DIR, help="the 1x lake")
    args = ap.parse_args()
    if bool(args.queries) == bool(args.top):
        ap.error("name queries or pass --top=N, not both")
    if args.copies is not None and args.copies < 2:
        ap.error("--copies must be >= 2 (the probe compares 1x vs Nx)")

    registry = timing.ep.queries()
    excluded: list[dict] = []
    if args.top:
        names, excluded = rank_top(args.top, args.sf, registry)
        if not names:
            sys.exit(f"BENCH_FULL.json holds no >=3-rep ranking at sf {timing.sf_of(args.sf)}")
    else:
        names = args.queries
        unknown = [n for n in names if n not in registry]
        if unknown:
            ap.error(f"unknown queries: {unknown}")

    lakes = {"1x": args.sf}
    if args.copies:
        big_dir, tables = build_lake(args.copies, args.sf)
        lakes[f"{args.copies}x"] = big_dir
    legs = {label: run_leg(label, lake, names, args.reps) for label, lake in lakes.items()}

    labels = list(legs)
    head = " | ".join(f"{lb} med | {lb} min" for lb in labels)
    print(f"| query | {head} |{' ratio |' if len(labels) > 1 else ''} rows |")
    print("|---" * (2 + 2 * len(labels) + (len(labels) > 1)) + "|")
    results: dict[str, dict] = {}
    for name in ["graph_edge_build"] + names:
        rows = [legs[lb][name] for lb in labels]
        cells = " | ".join(f"{r['median_s']:.3f}s | {r['min_s']:.3f}s" for r in rows)
        line = f"| `{name}` | {cells} |"
        if len(rows) > 1:
            m1, mn = rows[0]["median_s"], rows[1]["median_s"]
            ratio = round(mn / m1, 2) if m1 > 0 and mn >= 0 else -1.0
            results[name] = {labels[0]: rows[0], labels[1]: rows[1], "ratio_median": ratio}
            line += f" {ratio:.2f}x |"
        print(f"{line} {' -> '.join(str(r['rows']) for r in rows)} |")

    if args.top and args.copies:
        artifact = {
            "protocol": "top-N registry queries by BENCH_FULL cold median; "
            "stamped replicated lake (disjoint keys, near-dup perturbation); "
            "one fresh SparkSession per leg, each with bench.py's warm-up "
            "and untimed pre-pass over all selected queries "
            "(tools/timing.py); shared graph edge projection timed as its "
            "own row (evicted per rep) and cached for the graph queries' "
            f"marginal-cost rows; {args.reps} cold/warm rep pairs per leg, "
            "SQL cache cleared before each cold rep; cold median and min; "
            "quiet host",
            "sf_base": args.sf,
            "copies": args.copies,
            "reps": args.reps,
            "scaled_tables": tables,
            "queries": results,
            "excluded": excluded,
        }
        path = os.path.join(timing.ROOT, "BENCH_SCALE.json")
        with open(path, "w") as f:
            json.dump(artifact, f, indent=1)
        print(f"\nwrote {path}")


if __name__ == "__main__":
    main()
