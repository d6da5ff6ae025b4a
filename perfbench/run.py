"""Repo benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (frozen in ``workloads.json``):

- ``medallion``  seeded Olist bronze CSV -> 8x jobs.bronze_to_silver
                 -> jobs.vendas_gold (month-partitioned) -> value check
- ``queries``    registry queries over the seeded query lake: short ones
                 (no job while the DataFrame is built) and iterative ones
                 (operators launch jobs while it is built)

Every query is timed with one aggregate that consumes every output
column (see ``harness.digest``) and compared with the digest
``calibrate.py`` recorded in ``workloads.json``. The last stdout line is the result object; the
line before it is provenance. See README.md for every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import lake  # noqa: E402
import olist  # noqa: E402
import spans  # noqa: E402

SETUP_REPS = 5
#: seconds of --seconds per measured pass: one cold pass at the
#: committed run_seconds
PASS_SECONDS = 25.0
OPERATOR_MODULES = (
    "dedup", "similarity", "text", "graph", "bpe", "classifier",
    "clustering", "mixture", "sketches", "sampling", "retrieval", "analytics",
)
COUNTER_LAYERS = ("suites", "operators", "sources", "catalog")


def load_spec() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


# --- workloads ----------------------------------------------------------------


class QueryWorkload:
    """A frozen list of registry queries over the seeded query lake."""

    def __init__(self, spec: dict, seed: int, work: str):
        self.spec = spec
        self.lake_dir = os.path.join(work, "lake")
        self.rng = random.Random(seed)
        self.tracer = None

    def prepare(self) -> dict:
        return lake.write_lake(self.lake_dir, self.spec["lake_seed"], self.spec["sf"])

    def first_loads(self, spark) -> None:
        """The first catalog.load_table of every lake table."""
        from bootcamp_stackacademy_datalake_minio_airflow_spark.catalog import load_table

        self.handles = {(self.lake_dir, t): load_table(spark, self.lake_dir, t) for t in lake.TABLES}

    def pass_ops(self):
        """(name, run) pairs for one pass; the seed permutes the order."""
        from bootcamp_stackacademy_datalake_minio_airflow_spark.queries import queries

        qs = queries()
        order = sorted(self.spec["queries"])
        self.rng.shuffle(order)
        for q in order:
            want = self.spec["queries"][q]["digest"]
            yield q, (lambda spark, q=q, want=want: self._run(spark, qs[q], want))

    def _run(self, spark, fn, want):
        """Build the query's DataFrame and consume every output column."""
        spark.catalog.clearCache()
        tr = self.tracer
        t0 = time.perf_counter()
        if tr is None:
            got = harness.digest(fn(spark, self.lake_dir))
        else:
            with tr.span("suites.build", "suites"):
                df = fn(spark, self.lake_dir)
            with tr.span("suites.action", "suites"):
                got = harness.digest(df)
        return time.perf_counter() - t0, list(got) == want

    def end_pass(self, spark) -> bool:
        spark.catalog.clearCache()
        return True


class MedallionWorkload:
    """Bronze CSV -> silver parquet -> vendas gold, checked by value."""

    TABLES = (
        "customers", "sellers", "geolocation", "products",
        "orders", "order_items", "order_payments", "order_reviews",
    )

    def __init__(self, spec: dict, seed: int, work: str):
        self.spec, self.seed = spec, seed
        self.base = os.path.join(work, "lake")
        self.tracer = None
        self.handles: dict = {}  # never calls catalog.load_table

    def prepare(self) -> dict:
        sizes, self.expected = olist.write_bronze(self.base, self.seed, self.spec["scale"])
        self.input_bytes = sum(v["bytes"] for v in sizes.values())
        return sizes

    def first_loads(self, spark) -> None:
        """The first read_csv of every bronze table (file listing and
        plan; the schema is pinned, so no job)."""
        from bootcamp_stackacademy_datalake_minio_airflow_spark.catalog import zone_path
        from bootcamp_stackacademy_datalake_minio_airflow_spark.schemas import OLIST_SCHEMAS
        from bootcamp_stackacademy_datalake_minio_airflow_spark.sources import read_csv

        for t in self.TABLES:
            read_csv(spark, zone_path("bronze", t, self.base), OLIST_SCHEMAS[t])

    def pass_ops(self):
        """The DAG's order: eight bronze->silver ingests, then gold."""
        from bootcamp_stackacademy_datalake_minio_airflow_spark import jobs

        base = self.base
        for t in self.TABLES:
            yield f"bronze_to_silver.{t}", (
                lambda spark, t=t: _timed(lambda: jobs.bronze_to_silver(spark, t, base=base))
            )
        yield "vendas_gold", (lambda spark: _timed(lambda: jobs.vendas_gold(spark, base=base)))

    def end_pass(self, spark) -> bool:
        return gold_matches(spark, self.base, self.expected)


def _timed(fn) -> tuple[float, bool]:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0, True


def gold_matches(spark, base: str, want: dict) -> bool:
    """Gold values against the generator's own answer: row count,
    non-null DATA_VENDA, per-payment-type sums, month partitions."""
    from pyspark.sql import functions as F

    from bootcamp_stackacademy_datalake_minio_airflow_spark.plans.vendas import VENDAS_RENAMES

    gold_dir = os.path.join(base, "gold", "olist", "vendas")
    gold = spark.read.parquet(gold_dir)
    pay_cols = {t: VENDAS_RENAMES[t] for t in olist.PAYMENT_TYPES}
    row = gold.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count("DATA_VENDA").alias("nonnull"),
        F.sum("VALOR_VENDA").alias("venda"),
        *[F.sum(c).alias(t) for t, c in pay_cols.items()],
    ).collect()[0]
    months = [d for d in os.listdir(gold_dir) if d.startswith("MES_VENDA=")]

    def close(a, b):
        return a is not None and abs(a - b) <= 1e-9 * max(1.0, abs(b))

    return (
        row["rows"] == want["rows"]
        and row["nonnull"] == want["data_venda_nonnull"]
        and close(row["venda"], want["valor_venda_sum"])
        and all(close(row[t], want["payment_sums"][t]) for t in pay_cols)
        and len(months) == want["month_partitions"]
    )


WORKLOADS = {"medallion": MedallionWorkload, "queries": QueryWorkload}


# --- measurement -------------------------------------------------------------


def run_passes(spark, wl, n: int, stats: dict) -> list[float]:
    """``n`` whole passes. Returns per-pass sums of op latencies; the
    latencies themselves go to ``stats``."""
    passes = []
    for _ in range(n):
        total = 0.0
        for name, run in wl.pass_ops():
            stats["attempted"] += 1
            mark = harness.cpu_mark()
            try:
                dt_s, ok = run(spark)
                cpu_s = harness.cpu_since(mark)
            except Exception as e:  # noqa: BLE001 - an exception is a failure
                print(f"perfbench: {name} failed: {type(e).__name__}: {e}"[:500], file=sys.stderr)
                stats["failed"] += 1
                continue
            finally:
                if wl.tracer is not None:
                    wl.tracer.harvest()
            if not ok:
                print(f"perfbench: {name} output mismatch", file=sys.stderr)
                stats["failed"] += 1
            stats["latencies"].append(dt_s)
            stats["per_op"].setdefault(name, []).append(dt_s)
            stats["cpu_per_op"].setdefault(name, []).append(cpu_s)
            total += dt_s
        stats["attempted"] += 1  # the end-of-pass check (medallion gold values)
        try:
            if not wl.end_pass(spark):
                print("perfbench: end-of-pass check failed", file=sys.stderr)
                stats["failed"] += 1
        except Exception as e:  # noqa: BLE001
            print(f"perfbench: end-of-pass check raised {e}"[:500], file=sys.stderr)
            stats["failed"] += 1
        passes.append(total)
    return passes


def provenance(spark, args, sizes: dict, extra: dict) -> dict:
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=harness.ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "git_commit": commit,
        "source_sha1": harness.source_sha1(),
        "input_rows": sum(v["rows"] for v in sizes.values()),
        "input_bytes": sum(v["bytes"] for v in sizes.values()),
        "inputs": sizes,
        **extra,
    }


def traced_passes(spark, wl, n_passes: int, stats: dict):
    """The measured passes run traced, so the per-layer numbers describe
    the same cold passes the end-to-end metrics time. Then one more
    traced pass and one untraced pass, in that order (later passes run
    faster, so this errs towards a higher overhead), give the tracing
    overhead. Returns (tracer, overhead, passes)."""
    def traced(tracer):
        tracer.prime_load_table(wl.handles)
        tracer.install()
        wl.tracer = tracer
        try:
            out = run_passes(spark, wl, 1, stats)
            tracer.harvest()
        finally:
            tracer.uninstall()
            wl.tracer = None
        return out

    tracer = spans.Tracer(spark)
    passes = [p for _ in range(n_passes) for p in traced(tracer)]
    t = traced(spans.Tracer(spark))[0]
    u = run_passes(spark, wl, 1, stats)[0]
    return tracer, t / u - 1.0, passes


def e2e_metrics(setup_s, stats) -> dict:
    """``setup_s`` is the median restart (``setup_s[0]`` is the cold
    start). ``pass_cpu_s`` sums each op's median CPU seconds over the measured
    passes: CPU time, unlike wall time, barely moves when other tenants
    load the host."""
    cpu = stats["cpu_per_op"].values()
    return {
        "setup_s": {"value": statistics.median(setup_s[1:]), "unit": "s"},
        "pass_cpu_s": {"value": sum(statistics.median(v) for v in cpu), "unit": "s"},
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = load_spec()
    if args.workload not in spec:
        print(f"unknown workload {args.workload!r}; have {sorted(spec)}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(harness.ROOT, harness.PKG)):
        print(f"package {harness.PKG} not found under {harness.ROOT}", file=sys.stderr)
        return 2

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    work = os.path.join(harness.ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    harness.prepare_env(work, cpus)
    try:
        return measure(args, spec[args.workload], work)
    finally:
        harness.shutdown()
        shutil.rmtree(work, ignore_errors=True)


def measure(args, spec: dict, work: str) -> int:
    wl = WORKLOADS[args.workload](spec, args.seed, work)
    t0 = time.perf_counter()
    sizes = wl.prepare()
    datagen_s = time.perf_counter() - t0

    # set-up: one cold start that launches the JVM, then SETUP_REPS
    # restarts of the SparkSession inside that JVM (SparkContext.stop()
    # leaves the gateway running), each with the workload's first loads.
    # setup_s is the median restart, so it excludes the JVM launch; the
    # cold start is recorded in info. Index 0 of each list is the cold one.
    setup_s, setup_wall_s, start_s, spark = [], [], [], None
    for _ in range(1 + SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0, mark = time.perf_counter(), harness.cpu_mark()
        spark = harness.start_spark(work)
        start_s.append(time.perf_counter() - t0)
        wl.first_loads(spark)
        setup_s.append(harness.cpu_since(mark))
        setup_wall_s.append(time.perf_counter() - t0)
    stats = {"attempted": 0, "failed": 0, "latencies": [], "per_op": {}, "cpu_per_op": {}}

    # a pass count fixed by --seconds, not by this host's speed: passes
    # get faster as the JIT warms, so a time-bounded loop would let host
    # load change the statistic. There is no warm-up pass: the first pass
    # is measured cold, as each task of the Airflow DAG runs in a fresh
    # Spark application.
    n_passes = max(1, round(args.seconds / PASS_SECONDS))
    with harness.PeakRss() as rss:
        if args.trace:
            tracer, overhead, passes = traced_passes(spark, wl, n_passes, stats)
        else:
            sc = spark.sparkContext
            sc.setJobGroup("perfbench-measured", "measured passes")
            passes = run_passes(spark, wl, n_passes, stats)
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = sc.statusTracker().getJobIdsForGroup("perfbench-measured")
            stats["jobs_per_pass"] = len(jobs) / n_passes
    if args.trace:
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        metrics = layer_metrics(tracer, wl, start_s, overhead, len(passes), cpus)
        metrics["process.peak_rss_mb"] = {"value": rss.peak, "unit": "MB"}
    else:
        metrics = e2e_metrics(setup_s, stats)

    info = provenance(
        spark,
        args,
        sizes,
        {
            "datagen_s": datagen_s,
            "setup_reps_cpu_s": setup_s,
            "setup_reps_wall_s": setup_wall_s,
            "session_start_reps_s": start_s,
            "passes": len(passes),
            "pass_s_all": passes,
            "samples": len(stats["latencies"]),
            "jobs_per_pass": stats.get("jobs_per_pass"),
            "pass_s": sum(statistics.median(v) for v in stats["per_op"].values()),
            "op_p50_s": statistics.median(stats["latencies"]),
            "cpu_per_op_s": stats["cpu_per_op"],
            "op_p90_s": statistics.quantiles(stats["latencies"], n=10, method="inclusive")[8],
            "peak_rss_mb": rss.peak,
            "per_op_s": stats["per_op"],
            "failed_frac": stats["failed"] / max(1, stats["attempted"]),
        },
    )
    print(json.dumps({"info": info}, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": stats["failed"] == 0,
                "attempted": stats["attempted"],
                "failed": stats["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


# --- per-layer metrics ----------------------------------------------------------


def layer_metrics(tr, wl, start_s, overhead, n, cpus) -> dict:
    from spans import COUNTERS, covered, subtree

    all_spans = tr.spans
    out: dict[str, tuple[float, str]] = {}

    def put(name, value, unit):
        out[name] = (value, unit)

    put("session.start_s", statistics.median(start_s[1:]), "s")
    put("trace.overhead_frac", overhead, "ratio")
    put("trace.spans_per_pass", len(all_spans) / n, "count")
    put("trace.unrebound_refs", float(tr.unrebound), "count")
    called = {s.name for s in all_spans} | {s.module for s in all_spans}
    missing = [r for r in wl.spec["required_spans"] if r not in called]
    if missing:
        print(f"perfbench: no span recorded for {missing}", file=sys.stderr)
    put("trace.missing_spans", float(len(missing)), "count")

    # catalog
    lt = [s for s in all_spans if s.name == "catalog.load_table"]
    put("catalog.load_table_calls", len(lt) / n, "count")
    put("catalog.load_table_s", sum(s.wall for s in lt) / n, "s")
    put("catalog.handle_reuse_frac", tr.load_table_reuse / len(lt) if lt else 0.0, "ratio")
    put("catalog.miss_jobs", sum(len(s.jobs) for s in lt) / n, "count")

    # suites: one registry query = a build span and an action span
    roots = [s for s in all_spans if s.name in ("suites.build", "suites.action")]
    qspans = [x for r in roots for x in subtree(all_spans, r)]
    stages = sorted({sid for s in qspans for sid in s.stages})
    recs = [tr.stage(sid) for sid in stages]
    wall = sum(r.wall for r in roots)
    busy = sum(r["executor_run_s"] for r in recs)
    gap = sum(
        r.wall
        - covered(
            [(x["t0"], x["t1"]) for s in subtree(all_spans, r) for x in map(tr.stage, s.stages) if x["t0"]],
            r.t0,
            r.t1,
        )
        for r in roots
    )
    put("suites.build_s", sum(r.wall for r in roots if r.name == "suites.build") / n, "s")
    put("suites.action_s", sum(r.wall for r in roots if r.name == "suites.action") / n, "s")
    put("suites.jobs", sum(len(s.jobs) for s in qspans) / n, "count")
    put("suites.stages", len(stages) / n, "count")
    put("suites.tasks", sum(r["tasks"] for r in recs) / n, "count")
    put("suites.driver_gap_s", gap / n, "s")
    put("suites.core_busy_frac", busy / (wall * cpus) if wall > 0 else 0.0, "ratio")

    # operators.<module>: calls, self time, jobs (innermost attribution)
    for m in OPERATOR_MODULES:
        mine = [s for s in all_spans if s.module == f"operators.{m}"]
        put(f"operators.{m}.calls", len(mine) / n, "count")
        put(f"operators.{m}.s", sum(s.self_s for s in mine) / n, "s")
        put(f"operators.{m}.jobs", sum(len(s.jobs) for s in mine) / n, "count")

    # Spark counters per layer, by the innermost span that owns each job
    for layer in COUNTER_LAYERS:
        mine = [s for s in all_spans if s.module.split(".")[0] == layer]
        recs = [tr.stage(sid) for sid in sorted({sid for s in mine for sid in s.stages})]
        for c in COUNTERS:
            if c == "max_task_skew":
                put(f"{layer}.{c}", max((r[c] for r in recs), default=0.0), "ratio")
            else:
                unit = "s" if c.endswith("_s") else "bytes"
                put(f"{layer}.{c}", sum(r[c] for r in recs) / n, unit)

    # medallion layers
    for t in MedallionWorkload.TABLES:
        mine = [s for s in all_spans if s.name == "jobs.bronze_to_silver" and s.tag == t]
        put(f"jobs.bronze_to_silver.{t}_s", sum(s.wall for s in mine) / n, "s")
    by = lambda name: [s for s in all_spans if s.name == name]  # noqa: E731
    put("sources.read_csv_s", sum(s.wall for s in by("sources.read_csv")) / n, "s")
    writes = by("sources.write_parquet")
    put("sources.write_parquet_s", sum(s.wall for s in writes) / n, "s")
    put("sources.write_parquet_files", sum(s.files for s in writes) / n, "count")
    wbytes = sum(s.bytes for s in writes) / n
    put("sources.write_parquet_bytes", wbytes, "bytes")
    in_bytes = getattr(wl, "input_bytes", 0)
    put("sources.bytes_written_per_input_byte", wbytes / in_bytes if in_bytes else 0.0, "ratio")
    put("plans.build_vendas_s", sum(s.wall for s in by("plans.build_vendas")) / n, "s")
    put("jobs.vendas_gold_s", sum(s.wall for s in by("jobs.vendas_gold")) / n, "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


if __name__ == "__main__":
    sys.exit(main())
