"""Shared benchmark plumbing: launch environment, Spark session, the
full-consumption digest, and the peak-RSS sampler.

Nothing here changes package code; the package is driven only through
its public functions.
"""

from __future__ import annotations

import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "bootcamp_stackacademy_datalake_minio_airflow_spark"


def prepare_env(work_dir: str, cpus: int) -> None:
    """Set the launch environment before the JVM starts.

    PYTHONPATH carries the checkout root so Spark's Python workers can
    import the package whatever the cwd (the multimodal UDF queries
    raise ModuleNotFoundError in the workers otherwise). TMPDIR keeps
    Python- and JVM-side scratch inside the work directory.
    """
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_PROSE_LAKE_DIR"] = os.path.join(work_dir, "prose-lake")
    # below the package's 8g default: the inputs are small, and the
    # host's memory is shared with other processes
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    import tempfile

    tempfile.tempdir = tmp


def start_spark(work_dir: str, app: str = "perfbench"):
    """A fresh SparkSession through the package's own factory."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        app,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown() -> None:
    """Stop the SparkContext, end the JVM, and wait until the JVM and
    every Python worker it started have exited."""
    from pyspark import SparkContext

    pids = _descendants()
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001
            pass
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while pids and time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def source_sha1() -> str:
    """Content hash of the package sources (the checkout may not be a
    git repository)."""
    import hashlib

    h = hashlib.sha1()
    top = os.path.join(ROOT, PKG)
    for d, dirs, files in sorted(os.walk(top)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), top).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


# --- full-consumption digest ------------------------------------------------


def _hashable(field):
    """An expression over ``field`` that xxhash64 accepts and that is
    insensitive to last-bit float noise: maps render to JSON (xxhash64
    rejects maps), doubles hash at float precision."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType, FloatType

    c = F.col(f"`{field.name}`")
    t = field.dataType
    if "map<" in t.simpleString():
        return F.to_json(c)
    if isinstance(t, (DoubleType, FloatType)):
        return c.cast("float")
    if isinstance(t, ArrayType) and isinstance(t.elementType, (DoubleType, FloatType)):
        return F.transform(c, lambda x: x.cast("float"))
    return c


def digest(df) -> tuple[int, int, int]:
    """(rows, xor, sum) over xxhash64 of every output column.

    One aggregate that consumes every column, so Catalyst cannot prune
    any of the query's work away (``count()`` lets it prune unused
    output columns, UDFs included). Order-insensitive: the xor and the
    sum of the low 32 bits of each row hash.
    """
    from pyspark.sql import functions as F

    cols = [_hashable(f) for f in df.schema.fields]
    h = F.xxhash64(*cols) if cols else F.lit(0).cast("long")
    row = (
        df.select(h.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor("h"), F.lit(0)).alias("x"),
            F.coalesce(F.sum(F.col("h").bitwiseAND(0xFFFFFFFF)), F.lit(0)).alias("s"),
        )
        .collect()[0]
    )
    return int(row["n"]), int(row["x"]), int(row["s"])


# --- memory -------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants() -> list[int]:
    kids = _children()
    out, stack = [], list(kids.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of every
    descendant of this process: the Spark JVM and its Python workers."""
    total = 0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return total / os.sysconf("SC_CLK_TCK")


def cpu_mark() -> tuple[float, float]:
    """A starting point for ``cpu_since``."""
    tree = tree_cpu_s()
    return tree, time.thread_time()


def cpu_since(mark: tuple[float, float]) -> float:
    """CPU seconds since ``mark`` of the calling thread (the package's
    own Python: plan construction, operator loops, the py4j client side)
    plus every descendant process (the JVM and its Python workers). The
    /proc walks themselves fall outside the interval; the PeakRss
    sampler thread is not counted."""
    thread = time.thread_time()
    return thread - mark[1] + tree_cpu_s() - mark[0]


def tree_rss_mb() -> float:
    """Resident memory of every descendant of this process (the Spark
    JVM and its Python daemon and workers), read from /proc."""
    return sum(_rss_kb(p) for p in _descendants()) / 1024.0


class PeakRss:
    """Samples the descendant-tree RSS in a background thread."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_mb())
