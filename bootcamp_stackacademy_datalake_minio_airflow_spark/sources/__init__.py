"""Sources & sinks (SURVEY §2.1 parity, Spark-first).

The reference hand-rolls its scans: list objects, GET each into
memory, parse with pandas, concat (reference: scripts/bronze_to_silver/
ingestion_orders_bronze_to_silver.py:36-59), then stages through /tmp
CSV files between Airflow tasks (:62-64,:68,:81) and uploads with
fput_object (:87-91). All of that collapses into Spark's directory
readers/writers here: one call scans every object under a prefix in
parallel across executors (S1+S2+S3+S4 fused), and sinks write
straight to object storage (S7+S8 fused) with no staging (S6/S10
eliminated).
"""

from .csv import read_csv
from .jdbc import write_jdbc
from .parquet import read_parquet, write_parquet

__all__ = [
    "read_csv",
    "read_parquet",
    "write_parquet",
    "write_jdbc",
]
