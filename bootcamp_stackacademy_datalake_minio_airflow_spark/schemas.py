"""Explicit schemas for every table the engine touches.

The reference pins column *names* by seeding empty DataFrames
(e.g. reference: scripts/bronze_to_silver/
ingestion_customer_bronze_to_silver.py:35) but lets pandas infer
*types* from CSV -- and its bronze->silver "transform" steps compute
timestamp casts that are then discarded (reference:
ingestion_orders_bronze_to_silver.py:66-75). Here every table gets a
full StructType with the *intended* types, passed to
``spark.read.schema(...)`` so the scan itself is typed: no inference
job, no string-typed timestamps in silver.

The same contract covers the parquet the engine reads back. The
silver reads of the gold job pass ``OLIST_SCHEMAS``, and
``catalog.load_table`` reads every lake table with
``TESTDATA_SCHEMAS`` -- the types Spark infers from the lake files
(TESTDATA.md) -- so a table's first load runs no footer-inference
job. ``load_table`` takes only the column *names*, in file order,
from the parquet footer on the driver. When a lake drifts from the
declared schema, the failure is loud, never a silent NULL:

* a file column with no declared type raises ``ValueError`` at load
  (add it here first);
* a declared column the file lacks is absent from the loaded frame,
  so a query that uses it fails at analysis;
* a column whose physical type changed fails the scan, because
  Spark's parquet reader refuses the conversion (a widening such as
  int -> bigint, which Spark reads losslessly, is the exception).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)


def _st(*fields: tuple[str, object]) -> StructType:
    """Nullable fields from (name, type class or instance) pairs."""
    return StructType(
        [StructField(n, t() if isinstance(t, type) else t, True) for n, t in fields]
    )


# --- Olist medallion tables (reference parity) -------------------------
# Column lists cited from the reference ingestion scripts (file:line in
# each comment); types are the intended ones per SURVEY.md §1.2/§3.1.

# reference: ingestion_customer_bronze_to_silver.py:35
CUSTOMERS = _st(
    ("customer_id", StringType),
    ("customer_unique_id", StringType),
    ("customer_zip_code_prefix", StringType),  # keep leading zeros
    ("customer_city", StringType),
    ("customer_state", StringType),
)

# reference: ingestion_sellers_bronze_to_silver.py:35
SELLERS = _st(
    ("seller_id", StringType),
    ("seller_zip_code_prefix", StringType),
    ("seller_city", StringType),
    ("seller_state", StringType),
)

# reference: ingestion_geolocation_bronze_to_silver.py:36
GEOLOCATION = _st(
    ("geolocation_zip_code_prefix", StringType),
    ("geolocation_lat", DoubleType),
    ("geolocation_lng", DoubleType),
    ("geolocation_city", StringType),
    ("geolocation_state", StringType),
)

# reference: ingestion_orders_bronze_to_silver.py:36 (timestamps typed
# at ingest -- the casts the reference computes then drops at :71-75)
ORDERS = _st(
    ("order_id", StringType),
    ("customer_id", StringType),
    ("order_status", StringType),
    ("order_purchase_timestamp", TimestampType),
    ("order_approved_at", TimestampType),
    ("order_delivered_carrier_date", TimestampType),
    ("order_delivered_customer_date", TimestampType),
    ("order_estimated_delivery_date", TimestampType),
)

# reference: ingestion_order_items_bronze_to_silver.py:36, cast at :71
ORDER_ITEMS = _st(
    ("order_id", StringType),
    ("order_item_id", IntegerType),
    ("product_id", StringType),
    ("seller_id", StringType),
    ("shipping_limit_date", TimestampType),
    ("price", DoubleType),
    ("freight_value", DoubleType),
)

# reference: ingestion_order_payments_bronze_to_silver.py:35
ORDER_PAYMENTS = _st(
    ("order_id", StringType),
    ("payment_sequential", IntegerType),
    ("payment_type", StringType),
    ("payment_installments", IntegerType),
    ("payment_value", DoubleType),
)

# reference: ingestion_order_reviews_bronze_to_silver.py:36, casts :71-72
ORDER_REVIEWS = _st(
    ("review_id", StringType),
    ("order_id", StringType),
    ("review_score", IntegerType),
    ("review_comment_title", StringType),
    ("review_comment_message", StringType),
    ("review_creation_date", TimestampType),
    ("review_answer_timestamp", TimestampType),
)

# reference: ingestion_products_bronze_to_silver.py:35 (source typo
# "lenght" preserved -- it is the actual column name in the dataset)
PRODUCTS = _st(
    ("product_id", StringType),
    ("product_category_name", StringType),
    ("product_name_lenght", IntegerType),
    ("product_description_lenght", IntegerType),
    ("product_photos_qty", IntegerType),
    ("product_weight_g", DoubleType),
    ("product_length_cm", DoubleType),
    ("product_height_cm", DoubleType),
    ("product_width_cm", DoubleType),
)

OLIST_SCHEMAS: dict[str, StructType] = {
    "customers": CUSTOMERS,
    "sellers": SELLERS,
    "geolocation": GEOLOCATION,
    "orders": ORDERS,
    "order_items": ORDER_ITEMS,
    "order_payments": ORDER_PAYMENTS,
    "order_reviews": ORDER_REVIEWS,
    "products": PRODUCTS,
}

# --- Synthetic testdata lake (TESTDATA.md) ------------------------------
# Exactly the types Spark infers from the lake files, identical across
# the sf0.001/sf0.01/sf0.1 lakes and the degenerate, --nulls and
# all-empty variants: parquet timestamps without a UTC adjustment read
# as timestamp_ntz, the embedding list as array<float>.
TESTDATA_SCHEMAS: dict[str, StructType] = {
    "region": _st(("r_regionkey", IntegerType), ("r_name", StringType)),
    "nation": _st(
        ("n_nationkey", IntegerType),
        ("n_name", StringType),
        ("n_regionkey", IntegerType),
    ),
    "customer": _st(
        ("c_custkey", LongType),
        ("c_name", StringType),
        ("c_nationkey", IntegerType),
        ("c_acctbal", DoubleType),
        ("c_mktsegment", StringType),
    ),
    "supplier": _st(
        ("s_suppkey", LongType),
        ("s_name", StringType),
        ("s_nationkey", IntegerType),
        ("s_acctbal", DoubleType),
    ),
    "part": _st(
        ("p_partkey", LongType),
        ("p_name", StringType),
        ("p_brand", StringType),
        ("p_type", StringType),
        ("p_size", IntegerType),
        ("p_retailprice", DoubleType),
    ),
    "orders": _st(
        ("o_orderkey", LongType),
        ("o_custkey", LongType),
        ("o_orderstatus", StringType),
        ("o_totalprice", DoubleType),
        ("o_orderdate", TimestampNTZType),
        ("o_orderpriority", StringType),
    ),
    "lineitem": _st(
        ("l_orderkey", LongType),
        ("l_partkey", LongType),
        ("l_suppkey", LongType),
        ("l_linenumber", IntegerType),
        ("l_quantity", DoubleType),
        ("l_extendedprice", DoubleType),
        ("l_discount", DoubleType),
        ("l_tax", DoubleType),
        ("l_returnflag", StringType),
        ("l_linestatus", StringType),
        ("l_shipdate", TimestampNTZType),
    ),
    "events": _st(
        ("event_id", LongType),
        ("ts", TimestampNTZType),
        ("user_id", LongType),
        ("event_type", StringType),
        ("value", DoubleType),
        ("props", StringType),
    ),
    "documents": _st(
        ("doc_id", LongType),
        ("text", StringType),
        ("lang", StringType),
        ("source", StringType),
        ("n_chars", LongType),
    ),
    "embeddings": _st(
        ("vec_id", LongType),
        ("embedding", ArrayType(FloatType(), True)),
        ("label", IntegerType),
    ),
}

# Pinned pivot values for the vendas gold job (reference:
# ingestion_vendas_silver_to_gold.py:116-120). Pinning makes the pivot
# schema static and skips Spark's extra distinct-values job.
PAYMENT_TYPES = ["boleto", "credit_card", "debit_card", "not_defined", "voucher"]
