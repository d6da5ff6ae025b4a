"""SparkSession factory.

Replaces the reference's per-script MinIO client + Airflow-Variable
config block (reference: scripts/bronze_to_silver/
ingestion_orders_bronze_to_silver.py:23-32) with a single Spark-native
S3A configuration point. Tuned for both local testing (``local[N]``)
and large clusters: AQE on (runtime re-planning, skew-join handling),
UTC session timezone (deterministic date math), Arrow enabled for the
Pandas-UDF paths.
"""

from __future__ import annotations

import os
from typing import Mapping

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def s3a_conf(
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    path_style: bool = True,
) -> dict[str, str]:
    """S3A (MinIO-compatible) Hadoop configuration.

    Credentials default to the standard AWS env vars so the same job
    runs against MinIO locally and S3 in production. The magic
    committer makes concurrent writes to object storage safe without
    rename (object stores have no atomic rename).
    """
    endpoint = endpoint or os.environ.get("S3_ENDPOINT", "")
    access_key = access_key or os.environ.get("AWS_ACCESS_KEY_ID", "")
    secret_key = secret_key or os.environ.get("AWS_SECRET_ACCESS_KEY", "")
    conf = {
        "spark.hadoop.fs.s3a.path.style.access": str(path_style).lower(),
        "spark.hadoop.fs.s3a.committer.name": "magic",
        "spark.hadoop.fs.s3a.committer.magic.enabled": "true",
    }
    # The cloud commit protocol classes ship in spark-hadoop-cloud,
    # which pip pyspark does NOT bundle — and these are session-global
    # SQL confs that would break EVERY write (file:// included) with
    # ClassNotFoundException when the jar is absent. Opt in explicitly
    # on clusters that carry the jar.
    if os.environ.get("SPARK_CLOUD_COMMITTER", "").lower() in ("1", "true"):
        conf["spark.sql.sources.commitProtocolClass"] = (
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
        )
        conf["spark.sql.parquet.output.committer.class"] = (
            "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
        )
    if endpoint:
        conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
    if access_key:
        conf["spark.hadoop.fs.s3a.access.key"] = access_key
    if secret_key:
        conf["spark.hadoop.fs.s3a.secret.key"] = secret_key
    return conf


def get_spark(
    app_name: str = "bootcamp-stackacademy-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    with_s3: bool = False,
    extra_conf: Mapping[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Scale posture: AQE coalesces post-shuffle partitions and splits
    skewed ones at runtime, so a fixed ``shuffle_partitions`` is only
    the upper bound for small local runs; on a real cluster set it
    ~2-3x total cores and let AQE shrink. Fan-out exchanges
    (``engine.fanout_repartition``) run one task per core instead; a
    dynamic-allocation deployment sets ``spark.default.parallelism``
    for them. Broadcast threshold stays at Spark's default (10 MB) --
    dimension tables in this engine are explicitly hinted with
    ``broadcast()`` where known-small.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if with_s3:
        for k, v in s3a_conf().items():
            builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
