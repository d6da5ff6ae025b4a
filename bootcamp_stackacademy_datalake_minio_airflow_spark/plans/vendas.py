"""The flagship "vendas" gold query (reference parity).

Re-expresses scripts/silver_to_gold/ingestion_vendas_silver_to_gold.py
(reference :38-162) as ONE lazy DataFrame plan:

    pivot payments by type (:91-92)
    -> 4 chained left joins rooted at order_items (:107-111)
    -> null-fill 7 numeric columns (:114-120)
    -> timestamp->date (:123), upper-case (:126-127), '_'->' ' (:130)
    -> rename to business names (:133-149)

The reference runs this eagerly in pandas with /tmp staging between
Airflow tasks; here Catalyst sees the whole plan at once: projections
are pushed into the parquet scans, the small dimensions broadcast
(no fact shuffle), and only fact x payments-pivot shuffles on the
order key -- the plan that survives a 100x scale-up.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import null_fill, replace_literal, rename_map, to_date_col, upper_cols
from ..operators.joins import star_left_join
from ..operators.pivot import pivot_sum
from ..schemas import PAYMENT_TYPES

# reference: ingestion_vendas_silver_to_gold.py:133-149
VENDAS_RENAMES: dict[str, str] = {
    "price": "VALOR_VENDA",
    "freight_value": "FRETE",
    "order_purchase_timestamp": "DATA_VENDA",
    "order_id": "PEDIDO",
    "product_id": "ID_PRODUTO",
    "customer_id": "ID_CLIENTE",
    "product_category_name": "CATEGORIA_PRODUTO",
    "customer_city": "CIDADE_CLIENTE",
    "customer_state": "ESTADO_CLIENTE",
    "boleto": "VALOR_BOLETO",
    "credit_card": "VALOR_CREDITO",
    "debit_card": "VALOR_DEBITO",
    "voucher": "VALOR_VOUCHER",
    "not_defined": "VALOR_NAO_DEFINIDO",
}


def build_vendas(
    order_items: DataFrame,
    orders: DataFrame,
    products: DataFrame,
    customers: DataFrame,
    order_payments: DataFrame,
    payment_types: Sequence[str] = tuple(PAYMENT_TYPES),
    renames: Mapping[str, str] = VENDAS_RENAMES,
    round_payments_to: int | None = None,
) -> DataFrame:
    """Star denormalization with the reference's exact semantics.

    Inputs use Olist column names (see schemas.py); the testdata
    harness maps its TPC-H-ish tables into this shape. Order of
    operations matches the reference: projections, pivot, joins,
    null-fill, scalar transforms, rename (SURVEY §3.2).

    ``round_payments_to`` rounds the pivoted sums (oracle determinism
    across float summation orders); None = raw reference behavior.
    """
    # projections (reference :53,:65,:77,:89,:104) -- declared explicitly
    # though Catalyst would prune anyway; keeps plan shape documented.
    items_p = order_items.select("order_id", "product_id", "price", "freight_value")
    orders_p = orders.select("order_id", "customer_id", "order_purchase_timestamp")
    products_p = products.select("product_id", "product_category_name")
    customers_p = customers.select("customer_id", "customer_city", "customer_state")
    payments_p = order_payments.select("order_id", "payment_type", "payment_value")

    # SURVEY §7.3 "fail loudly on new payment types": a pinned pivot
    # silently DROPS rows whose type isn't in the value list — a new
    # payment method would vanish from revenue totals with no signal.
    # The guard is a lazy poison pill (raise_error in the pivot input
    # expression): zero extra passes, evaluated row-by-row on the
    # executors, so ANY task that meets an unknown (or NULL) type
    # fails the job with the offending value in the message.
    payments_p = payments_p.withColumn(
        "payment_type",
        F.when(
            F.col("payment_type").isin(list(payment_types)),
            F.col("payment_type"),
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "unknown payment_type (not in pinned pivot "
                        "values): "
                    ),
                    F.coalesce(F.col("payment_type"), F.lit("NULL")),
                )
            )
        ),
    )

    # pivot-sum (reference :91-92) with pinned value list
    pay_pivot = pivot_sum(
        payments_p,
        "order_id",
        "payment_type",
        "payment_value",
        values=payment_types,
        round_to=round_payments_to,
    )

    # 4 chained left joins rooted at order_items (reference :107-111);
    # orders/products/customers are dimension-sized -> broadcast; the
    # payments pivot is fact-sized -> shuffled join on order_id.
    df = star_left_join(
        items_p,
        [
            (orders_p, "order_id", True),
            (products_p, "product_id", True),
            (customers_p, "customer_id", True),
            (pay_pivot, "order_id", False),
        ],
    )

    # null-fill 7 numeric columns (reference :114-120)
    df = null_fill(df, 0.0, ["price", "freight_value", *payment_types])

    # scalar transforms (reference :123-130)
    df = df.withColumn("order_purchase_timestamp", to_date_col("order_purchase_timestamp"))
    df = upper_cols(df, ["product_category_name", "customer_city"])
    df = df.withColumn(
        "product_category_name", replace_literal("product_category_name", "_", " ")
    )

    # rename to business names (reference :133-149)
    return rename_map(df, renames)


# --- testdata mapping ---------------------------------------------------
# The driver's synthetic TPC-H-ish star schema plays the Olist roles:
#   lineitem -> order_items (fact),      orders   -> orders
#   part     -> products,                customer -> customers
#   lineitem(returnflag, extendedprice) -> order_payments
TESTDATA_PAYMENT_TYPES = ["A", "N", "R"]
TESTDATA_RENAMES: dict[str, str] = {
    "price": "VALOR_VENDA",
    "freight_value": "FRETE",
    "order_purchase_timestamp": "DATA_VENDA",
    "order_id": "PEDIDO",
    "product_id": "ID_PRODUTO",
    "customer_id": "ID_CLIENTE",
    "product_category_name": "CATEGORIA_PRODUTO",
    "customer_city": "CIDADE_CLIENTE",
    "customer_state": "ESTADO_CLIENTE",
    "A": "VALOR_A",
    "N": "VALOR_N",
    "R": "VALOR_R",
}


def vendas_testdata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query over the driver's testdata tables."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    cust = load_table(spark, sf_dir, "customer")

    order_items = li.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_partkey").alias("product_id"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_tax").alias("freight_value"),
    )
    orders_m = orders.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderdate").alias("order_purchase_timestamp"),
    )
    products_m = part.select(
        F.col("p_partkey").alias("product_id"),
        F.col("p_type").alias("product_category_name"),
    )
    customers_m = cust.select(
        F.col("c_custkey").alias("customer_id"),
        F.col("c_mktsegment").alias("customer_city"),
        F.col("c_name").alias("customer_state"),
    )
    payments_m = li.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_returnflag").alias("payment_type"),
        F.col("l_extendedprice").alias("payment_value"),
    )
    return build_vendas(
        order_items,
        orders_m,
        products_m,
        customers_m,
        payments_m,
        payment_types=TESTDATA_PAYMENT_TYPES,
        renames=TESTDATA_RENAMES,
        round_payments_to=2,
    )


VENDAS_TESTDATA_ORACLE = """
WITH pay AS (
  SELECT l_orderkey AS order_id,
         ROUND(SUM(CASE WHEN l_returnflag = 'A' THEN l_extendedprice END), 2) AS va,
         ROUND(SUM(CASE WHEN l_returnflag = 'N' THEN l_extendedprice END), 2) AS vn,
         ROUND(SUM(CASE WHEN l_returnflag = 'R' THEN l_extendedprice END), 2) AS vr
  FROM lineitem GROUP BY l_orderkey
)
SELECT i.l_extendedprice AS VALOR_VENDA,
       i.l_tax AS FRETE,
       CAST(o.o_orderdate AS DATE) AS DATA_VENDA,
       i.l_orderkey AS PEDIDO,
       i.l_partkey AS ID_PRODUTO,
       o.o_custkey AS ID_CLIENTE,
       REPLACE(UPPER(p.p_type), '_', ' ') AS CATEGORIA_PRODUTO,
       UPPER(c.c_mktsegment) AS CIDADE_CLIENTE,
       c.c_name AS ESTADO_CLIENTE,
       COALESCE(pay.va, 0) AS VALOR_A,
       COALESCE(pay.vn, 0) AS VALOR_N,
       COALESCE(pay.vr, 0) AS VALOR_R
FROM lineitem i
LEFT JOIN orders o ON i.l_orderkey = o.o_orderkey
LEFT JOIN part p ON i.l_partkey = p.p_partkey
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
LEFT JOIN pay ON i.l_orderkey = pay.order_id
"""
