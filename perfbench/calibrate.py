"""Classify every registry query and record its expected digest.

    python3 perfbench/calibrate.py --sf 0.1 --out calib.json [names...]

Each query is built and consumed twice on the seeded lake. The second
invocation decides the class: a query whose DataFrame construction
launches Spark jobs is build-time eager (``iterative_ops``); one that
launches none is a ``short_queries`` candidate. (The first
``load_table`` of a table costs one job, so the first invocation over-
counts.) Both digests are recorded; a query whose two digests differ is
not deterministic enough to be checked and is left out of the
workloads. The output feeds the frozen lists in ``workloads.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
import lake  # noqa: E402

LAKE_SEED = 20240101


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--out", required=True)
    ap.add_argument("--work", default=".perfbench_work/calibrate")
    ap.add_argument("names", nargs="*")
    a = ap.parse_args()
    work = os.path.abspath(a.work)
    harness.prepare_env(work, os.cpu_count() or 1)
    lake_dir = os.path.join(work, f"lake-sf{a.sf}")
    lake.write_lake(lake_dir, LAKE_SEED, a.sf)
    spark = harness.start_spark(work, "perfbench-calibrate")
    sc = spark.sparkContext
    from bootcamp_stackacademy_datalake_minio_airflow_spark.queries import queries

    qs = queries()
    names = a.names or list(qs)
    out = {}
    for name in names:
        rec: dict = {}
        try:
            for i in (1, 2):
                spark.catalog.clearCache()
                sc.setJobGroup(f"b{i}:{name}", name)
                t0 = time.perf_counter()
                df = qs[name](spark, lake_dir)
                rec[f"build{i}_s"] = time.perf_counter() - t0
                rec[f"build{i}_jobs"] = len(sc.statusTracker().getJobIdsForGroup(f"b{i}:{name}"))
                sc.setJobGroup(f"a{i}:{name}", name)
                t0 = time.perf_counter()
                rec[f"digest{i}"] = list(harness.digest(df))
                rec[f"action{i}_s"] = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        out[name] = rec
        print(name, json.dumps(rec), flush=True)
    spark.catalog.clearCache()
    with open(a.out, "w") as f:
        json.dump(out, f, indent=1)
    harness.shutdown()


if __name__ == "__main__":
    main()
