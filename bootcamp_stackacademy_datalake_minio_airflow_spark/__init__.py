"""PySpark-native analytics engine with the query & data-processing
capabilities of DavidSLeite/Bootcamp_StackAcademy_Datalake_Minio_Airflow.

The reference is a pandas medallion-architecture ETL (bronze -> silver ->
gold over MinIO, orchestrated by Airflow). This engine re-expresses the
same semantics Spark-first: declarative DataFrame plans optimized by
Catalyst, S3A object-store I/O, and distributed execution -- plus the
large-scale training-data operators (dedup, similarity search, text
analysis, multimodal columns) a 100 TB pipeline needs.

Layout
------
- ``session``    SparkSession factory (S3A/MinIO conf, AQE, UTC)
- ``schemas``    explicit StructTypes for the Olist tables + testdata
- ``catalog``    zone-path resolution (bronze/silver/gold) + table loading
- ``engine``     cache policy (persist -> release; checkpoints only for
                 loop lineage) + shared plan helpers (fan-out exchange,
                 text normalization)
- ``sources``    CSV / parquet / JDBC readers & writers
- ``functions``  scalar helpers (null-fill, rename maps, text normalizers)
- ``operators``  relational + ML-data operators (pivot, dedup, similarity)
- ``plans``      end-to-end jobs (ingestion, vendas gold build)
- ``streaming``  Structured Streaming jobs over the events table
"""

__version__ = "0.1.0"
