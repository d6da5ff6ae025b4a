"""Dump formatted physical plans for a named subset of registry
queries into per-query files — the plans/r12 before/after evidence.
Usage:

    python tools/explain_queries.py OUTDIR SUFFIX q1 q2 ... [--sf=...]

Writes OUTDIR/<query><SUFFIX>.txt per query. Operators return their
lazy plans, so the recorded plan is the whole query, except where a
loop checkpoints its rounds (``connected_components``, ``k_core``),
a query reads the shared graph edge set (``suites/graph_shared.py``)
or one of the six operator results on the ``engine.materialize``
allow-list (tests/test_engine.py) checkpoints its result: those show
up as ``Scan ExistingRDD`` leaves, and the work before them ran in
build-time jobs this tool does not record.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

import __spark_entry__ as ep  # noqa: E402
from bootcamp_stackacademy_datalake_minio_airflow_spark.session import get_spark  # noqa: E402


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = [a for a in sys.argv[3:] if not a.startswith("--")]
    sf_dir = "/root/testdata/sf0.001"
    for a in sys.argv[3:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("explain-queries")
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    qs = ep.queries()
    for n in names:
        try:
            df = qs[n](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as e:  # noqa: BLE001
            plan = f"(error: {e})"
        with open(os.path.join(outdir, f"{n}{suffix}.txt"), "w") as f:
            f.write(plan.strip() + "\n")
        print(f"wrote {n}{suffix}.txt")


if __name__ == "__main__":
    main()
