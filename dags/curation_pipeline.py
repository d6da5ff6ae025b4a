"""Airflow DAG for the LLM training-data curation pipeline (extension;
the reference orchestrates only the Olist medallion, O1-O5).

One DAG, four chained stages over the documents lake — the batch
composition the engine's curation operators were built for:

  funnel_filter  -> null/length/langid/quality kill cascade
                    (operators/funnel.py; report persisted for ops)
  dedup_canonical-> exact-dup groups keep their best member
                    (operators/dedup.py:canonical_docs)
  leakage_split  -> group-keyed train/val/test assignment
                    (operators/sampling.py:group_split — a near-dup
                    can never cross the eval boundary)
  pack_sequences -> token-budget packing of the train split
                    (operators/packing.py)

Stage hand-off is via Datasets on the curated-zone URIs (same
exact-URI discipline as olist_medallion.py — producers and consumers
mint URIs from catalog.zone_path, never literals), so a re-run of any
stage re-triggers exactly its downstream.

Import-guarded: the engine never requires Airflow at runtime; this
module is only imported by an Airflow scheduler (and the DagBag
pytest, which skips when Airflow is absent).
"""

from __future__ import annotations

import datetime

try:
    from airflow import DAG, Dataset
    from airflow.operators.python import PythonOperator
except ImportError:  # pragma: no cover - Airflow not installed in test env
    DAG = Dataset = PythonOperator = None

#: curated-zone tables each stage publishes
STAGES = ["docs_filtered", "docs_canonical", "docs_split", "train_packed"]


def _run_funnel_filter() -> None:
    from pyspark.sql import functions as F

    from bootcamp_stackacademy_datalake_minio_airflow_spark.catalog import zone_path
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.funnel import (
        funnel_attribution,
        funnel_report,
    )
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.text import (
        language_id,
        quality_score,
        token_count,
    )
    from bootcamp_stackacademy_datalake_minio_airflow_spark.session import get_spark

    spark = get_spark("curation_funnel", with_s3=True)
    docs = spark.read.parquet(zone_path("silver", "documents"))
    rules = [
        ("null_text", F.col("text").isNull()),
        ("too_short", token_count("text") < 30),
        ("not_english", language_id("text") != "en"),
        ("low_quality", quality_score("text") < 0.5),
    ]
    att = funnel_attribution(docs, rules, "doc_id")
    kept = docs.join(
        att.filter(F.col("killed_by").isNull()).select("doc_id"), "doc_id"
    )
    kept.write.mode("overwrite").parquet(zone_path("gold", "docs_filtered"))
    funnel_report(docs, rules, "doc_id").write.mode("overwrite").parquet(
        zone_path("gold", "docs_filtered_report")
    )


def _run_dedup_canonical() -> None:
    from bootcamp_stackacademy_datalake_minio_airflow_spark.catalog import zone_path
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.dedup import canonical_docs
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.text import quality_score
    from bootcamp_stackacademy_datalake_minio_airflow_spark.session import get_spark

    spark = get_spark("curation_dedup", with_s3=True)
    docs = spark.read.parquet(zone_path("gold", "docs_filtered"))
    keep = canonical_docs(docs, quality_score("text"))
    docs.join(
        keep.selectExpr("id AS doc_id"), "doc_id"
    ).write.mode("overwrite").parquet(zone_path("gold", "docs_canonical"))


def _run_leakage_split() -> None:
    from pyspark.sql import functions as F

    from bootcamp_stackacademy_datalake_minio_airflow_spark.catalog import zone_path
    from bootcamp_stackacademy_datalake_minio_airflow_spark.engine import normalize_text
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.sampling import group_split
    from bootcamp_stackacademy_datalake_minio_airflow_spark.session import get_spark

    spark = get_spark("curation_split", with_s3=True)
    docs = spark.read.parquet(zone_path("gold", "docs_canonical"))
    group_split(
        docs,
        F.md5(normalize_text("text")),
        {"train": 0.9, "val": 0.05, "test": 0.05},
    ).write.mode("overwrite").partitionBy("split").parquet(
        zone_path("gold", "docs_split")
    )


def _run_pack_sequences() -> None:
    from pyspark.sql import functions as F

    from bootcamp_stackacademy_datalake_minio_airflow_spark.catalog import zone_path
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.packing import pack_sequences
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.text import token_count
    from bootcamp_stackacademy_datalake_minio_airflow_spark.session import get_spark

    spark = get_spark("curation_pack", with_s3=True)
    train = spark.read.parquet(zone_path("gold", "docs_split")).filter(
        F.col("split") == "train"
    )
    pack_sequences(
        train.select("doc_id", token_count("text").alias("n_tokens")),
        "doc_id",
        F.col("n_tokens"),
        budget=2048,
    ).write.mode("overwrite").parquet(zone_path("gold", "train_packed"))


if DAG is not None:  # pragma: no cover
    from bootcamp_stackacademy_datalake_minio_airflow_spark.catalog import zone_path

    default_args = {
        "owner": "data-eng",
        "depends_on_past": False,
        "start_date": datetime.datetime(2024, 1, 1),
        "retries": 1,
    }
    stage_ds = {s: Dataset(zone_path("gold", s)) for s in STAGES}
    _RUNNERS = {
        "docs_filtered": _run_funnel_filter,
        "docs_canonical": _run_dedup_canonical,
        "docs_split": _run_leakage_split,
        "train_packed": _run_pack_sequences,
    }
    _UPSTREAM = {
        "docs_filtered": None,
        "docs_canonical": "docs_filtered",
        "docs_split": "docs_canonical",
        "train_packed": "docs_split",
    }
    for stage in STAGES:
        up = _UPSTREAM[stage]
        with DAG(
            dag_id=f"curation_{stage}",
            default_args=default_args,
            schedule="@once" if up is None else [stage_ds[up]],
            catchup=False,
        ) as dag:
            PythonOperator(
                task_id=stage,
                python_callable=_RUNNERS[stage],
                outlets=[stage_ds[stage]],
            )
        globals()[dag.dag_id] = dag
