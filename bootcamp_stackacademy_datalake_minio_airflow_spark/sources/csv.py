"""CSV source (reference S1-S4 fused).

Replaces the reference's list-objects + per-object GET + pandas parse
+ concat loop (reference: scripts/bronze_to_silver/
ingestion_orders_bronze_to_silver.py:39-59) with one declarative scan:
Spark enumerates every file under the prefix, parses in parallel on
executors, and the pinned schema removes the inference pass (at 100 TB
an inference pass is a full extra read of the data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

#: The pinned Olist CSV parse options, shared by the batch reader
#: below AND streaming/ingest.py's stream_bronze_to_silver — ONE
#: definition so a parsing fix applies to both paths (they feed the
#: same silver zone; duplicated literals had already drifted into
#: review findings once)
CSV_PARSE_OPTIONS: dict[str, str] = {
    "header": "true",
    "timestampFormat": "yyyy-MM-dd HH:mm:ss",
    "recursiveFileLookup": "true",
    "quote": '"',
    "escape": '"',
}


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    multi_line: bool = False,
    corrupt_col: str | None = None,
) -> DataFrame:
    """Typed CSV scan over a file/directory/prefix.

    ``multi_line=True`` is required for tables with quoted free-text
    fields containing embedded newlines (Olist order_reviews — the
    reference relies on pandas' parser handling these; Spark needs the
    option explicitly, SURVEY §7.3). multiLine disables input-split
    parallelism per file, so keep review-like tables in many smaller
    files at scale.

    ``corrupt_col`` enables quarantine ingestion: rows the parser
    cannot fit to the schema land with their raw line in that column
    (and nulls elsewhere) instead of being silently nulled — filter
    ``col(corrupt_col).isNotNull()`` to a reject table and assert the
    clean side. NOTE: ``.cache()`` (or select at least one real
    column) before a filter that references ONLY the corrupt column —
    Spark disallows raw-CSV queries whose pruned schema is just the
    internal corrupt-record field. The eager pandas reference aborts
    the whole file on a bad row; at lake scale a single undecodable
    line must not sink a multi-TB ingest.
    """
    read_schema = schema
    if corrupt_col is not None:
        read_schema = StructType(
            list(schema.fields) + [StructField(corrupt_col, StringType(), True)]
        )
    reader = (
        spark.read.schema(read_schema)
        .options(**CSV_PARSE_OPTIONS)
        .option("mode", "PERMISSIVE")
    )
    if corrupt_col is not None:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    if multi_line:
        reader = reader.option("multiLine", "true")
    return reader.csv(path)
