"""End-to-end medallion pipeline on a miniature Olist sample:
bronze CSV -> silver parquet -> gold vendas parquet (local paths)."""

from __future__ import annotations

import datetime
import os

import pytest

from bootcamp_stackacademy_datalake_minio_airflow_spark.jobs import bronze_to_silver, vendas_gold
from bootcamp_stackacademy_datalake_minio_airflow_spark.sources import read_parquet

ORDERS_CSV = """order_id,customer_id,order_status,order_purchase_timestamp,order_approved_at,order_delivered_carrier_date,order_delivered_customer_date,order_estimated_delivery_date
o1,c1,delivered,2017-10-02 10:56:33,2017-10-02 11:07:15,2017-10-04 19:55:00,2017-10-10 21:25:13,2017-10-18 00:00:00
o2,c2,shipped,2018-07-24 20:41:37,2018-07-26 03:24:27,2018-07-26 14:31:00,,2018-08-13 00:00:00
"""

ORDER_ITEMS_CSV = """order_id,order_item_id,product_id,seller_id,shipping_limit_date,price,freight_value
o1,1,p1,s1,2017-10-06 11:07:15,58.9,13.29
o1,2,p2,s1,2017-10-06 11:07:15,239.9,19.93
o2,1,p1,s2,2018-07-30 03:24:27,199.0,17.87
"""

ORDER_PAYMENTS_CSV = """order_id,payment_sequential,payment_type,payment_installments,payment_value
o1,1,credit_card,8,99.33
o1,2,voucher,1,20.0
o2,1,boleto,1,216.87
"""

PRODUCTS_CSV = """product_id,product_category_name,product_name_lenght,product_description_lenght,product_photos_qty,product_weight_g,product_length_cm,product_height_cm,product_width_cm
p1,cool_stuff,58,598,4,650,28,9,14
p2,moveis_decoracao,56,239,2,30000,50,30,40
"""

CUSTOMERS_CSV = """customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state
c1,u1,01409,sao paulo,SP
c2,u2,09790,sao bernardo do campo,SP
"""

SELLERS_CSV = """seller_id,seller_zip_code_prefix,seller_city,seller_state
s1,13023,campinas,SP
s2,87900,loanda,PR
"""

GEOLOCATION_CSV = """geolocation_zip_code_prefix,geolocation_lat,geolocation_lng,geolocation_city,geolocation_state
01409,-23.5505,-46.6333,sao paulo,SP
"""

# quoted free text with embedded newline + comma (SURVEY §7.3 risk)
REVIEWS_CSV = '''review_id,order_id,review_score,review_comment_title,review_comment_message,review_creation_date,review_answer_timestamp
r1,o1,5,"otimo","chegou antes do prazo,
recomendo",2017-10-11 00:00:00,2017-10-12 03:43:48
r2,o2,1,,,2018-08-15 00:00:00,2018-08-15 04:10:00
'''


@pytest.fixture(scope="module")
def lake(tmp_path_factory):
    base = tmp_path_factory.mktemp("lake")
    csvs = {
        "orders": ORDERS_CSV,
        "order_items": ORDER_ITEMS_CSV,
        "order_payments": ORDER_PAYMENTS_CSV,
        "products": PRODUCTS_CSV,
        "customers": CUSTOMERS_CSV,
        "order_reviews": REVIEWS_CSV,
        "sellers": SELLERS_CSV,
        "geolocation": GEOLOCATION_CSV,
    }
    for t, body in csvs.items():
        d = base / "bronze" / "olist" / t
        os.makedirs(d)
        (d / f"{t}.csv").write_text(body)
    return str(base)


def test_bronze_to_silver_typed(spark, lake):
    df = bronze_to_silver(spark, "orders", base=lake)
    silver = read_parquet(spark, f"{lake}/silver/olist/orders/")
    assert silver.count() == 2
    # timestamps are real TimestampType in silver (the fix for SURVEY §3.1)
    assert dict(silver.dtypes)["order_purchase_timestamp"] == "timestamp"
    row = {r.order_id: r for r in silver.collect()}
    assert row["o1"].order_purchase_timestamp == datetime.datetime(2017, 10, 2, 10, 56, 33)
    assert row["o2"].order_delivered_customer_date is None  # empty -> NULL
    assert df.schema == silver.schema


def test_bronze_to_silver_multiline_reviews(spark, lake):
    bronze_to_silver(spark, "order_reviews", base=lake)
    silver = read_parquet(spark, f"{lake}/silver/olist/order_reviews/")
    rows = {r.review_id: r for r in silver.collect()}
    assert len(rows) == 2
    assert "chegou antes do prazo,\nrecomendo" == rows["r1"].review_comment_message
    assert rows["r2"].review_comment_title is None


def test_vendas_gold_end_to_end(spark, lake):
    for t in ["orders", "order_items", "order_payments", "products", "customers"]:
        bronze_to_silver(spark, t, base=lake)
    vendas_gold(spark, base=lake)

    gold = read_parquet(spark, f"{lake}/gold/olist/vendas/")
    rows = {(r.PEDIDO, r.ID_PRODUTO): r for r in gold.collect()}
    assert len(rows) == 3  # one row per order item

    r = rows[("o1", "p1")]
    assert r.VALOR_VENDA == 58.9 and r.FRETE == 13.29
    assert r.DATA_VENDA == datetime.date(2017, 10, 2)
    assert r.CATEGORIA_PRODUTO == "COOL STUFF"
    assert r.CIDADE_CLIENTE == "SAO PAULO" and r.ESTADO_CLIENTE == "SP"
    assert r.VALOR_CREDITO == 99.33 and r.VALOR_VOUCHER == 20.0
    assert r.VALOR_BOLETO == 0.0
    assert rows[("o2", "p1")].VALOR_BOLETO == 216.87
    # partitioned layout on disk (gold by sale month)
    assert r.MES_VENDA == "2017-10"
    part_dirs = os.listdir(f"{lake}/gold/olist/vendas/")
    assert any(p.startswith("MES_VENDA=") for p in part_dirs)


# --- golden end-to-end on an edge-case lake ---------------------------------
# The spot-check tests above pin a few cells; this block compares the
# ENTIRE gold frame against an independent DuckDB replay of the same
# silver parquet — every row, every column, including the joins'
# null paths the happy-path fixture never hits.

EDGE_ORDERS_CSV = """order_id,customer_id,order_status,order_purchase_timestamp,order_approved_at,order_delivered_carrier_date,order_delivered_customer_date,order_estimated_delivery_date
o1,c1,delivered,2017-10-02 10:56:33,2017-10-02 11:07:15,2017-10-04 19:55:00,2017-10-10 21:25:13,2017-10-18 00:00:00
o2,c2,shipped,2018-07-24 20:41:37,2018-07-26 03:24:27,2018-07-26 14:31:00,,2018-08-13 00:00:00
o3,c9,invoiced,2018-01-15 08:00:00,,,,2018-02-01 00:00:00
"""

EDGE_ITEMS_CSV = """order_id,order_item_id,product_id,seller_id,shipping_limit_date,price,freight_value
o1,1,p1,s1,2017-10-06 11:07:15,58.9,13.29
o1,2,p2,s1,2017-10-06 11:07:15,239.9,19.93
o2,1,p1,s2,2018-07-30 03:24:27,199.0,17.87
o3,1,p9,s2,2018-01-20 08:00:00,45.0,5.5
o9,1,p2,s1,2018-03-01 00:00:00,12.34,1.11
"""

EDGE_PAYMENTS_CSV = """order_id,payment_sequential,payment_type,payment_installments,payment_value
o1,1,credit_card,8,99.33
o1,2,credit_card,1,50.0
o1,3,voucher,1,20.0
o2,1,boleto,1,216.87
o2,2,not_defined,1,0.0
"""


@pytest.fixture(scope="module")
def lake_edge(tmp_path_factory):
    base = tmp_path_factory.mktemp("lake_edge")
    csvs = {
        "orders": EDGE_ORDERS_CSV,
        "order_items": EDGE_ITEMS_CSV,
        "order_payments": EDGE_PAYMENTS_CSV,
        "products": PRODUCTS_CSV,
        "customers": CUSTOMERS_CSV,
        "order_reviews": REVIEWS_CSV,
        "sellers": SELLERS_CSV,
        "geolocation": GEOLOCATION_CSV,
    }
    for t, body in csvs.items():
        d = base / "bronze" / "olist" / t
        os.makedirs(d)
        (d / f"{t}.csv").write_text(body)
    return str(base)


# DuckDB replay of build_vendas over the SILVER parquet — the golden
# truth the Spark gold output must equal frame-for-frame. Mirrors the
# reference's semantics (SURVEY §3.2): pivot-sum payments, 4 left
# joins rooted at order_items, numeric null-fill, date cast, upper,
# '_'->' ', business renames.
OLIST_VENDAS_GOLDEN_SQL = """
WITH pay AS (
  SELECT order_id,
         SUM(CASE WHEN payment_type = 'boleto' THEN payment_value END) AS boleto,
         SUM(CASE WHEN payment_type = 'credit_card' THEN payment_value END) AS credit_card,
         SUM(CASE WHEN payment_type = 'debit_card' THEN payment_value END) AS debit_card,
         SUM(CASE WHEN payment_type = 'not_defined' THEN payment_value END) AS not_defined,
         SUM(CASE WHEN payment_type = 'voucher' THEN payment_value END) AS voucher
  FROM order_payments GROUP BY order_id
)
SELECT COALESCE(i.price, 0) AS VALOR_VENDA,
       COALESCE(i.freight_value, 0) AS FRETE,
       CAST(o.order_purchase_timestamp AS DATE) AS DATA_VENDA,
       i.order_id AS PEDIDO,
       i.product_id AS ID_PRODUTO,
       o.customer_id AS ID_CLIENTE,
       REPLACE(UPPER(p.product_category_name), '_', ' ') AS CATEGORIA_PRODUTO,
       UPPER(c.customer_city) AS CIDADE_CLIENTE,
       c.customer_state AS ESTADO_CLIENTE,
       COALESCE(pay.boleto, 0) AS VALOR_BOLETO,
       COALESCE(pay.credit_card, 0) AS VALOR_CREDITO,
       COALESCE(pay.debit_card, 0) AS VALOR_DEBITO,
       COALESCE(pay.voucher, 0) AS VALOR_VOUCHER,
       COALESCE(pay.not_defined, 0) AS VALOR_NAO_DEFINIDO
FROM order_items i
LEFT JOIN orders o USING (order_id)
LEFT JOIN products p USING (product_id)
LEFT JOIN customers c ON o.customer_id = c.customer_id
LEFT JOIN pay USING (order_id)
"""

_GOLD_COLS = [
    "VALOR_VENDA", "FRETE", "DATA_VENDA", "PEDIDO", "ID_PRODUTO",
    "ID_CLIENTE", "CATEGORIA_PRODUTO", "CIDADE_CLIENTE", "ESTADO_CLIENTE",
    "VALOR_BOLETO", "VALOR_CREDITO", "VALOR_DEBITO", "VALOR_VOUCHER",
    "VALOR_NAO_DEFINIDO",
]


def test_vendas_gold_golden_vs_duckdb(spark, lake_edge):
    """Full-frame golden compare on the REAL Olist schema path:
    bronze CSV (8 tables, pinned schemas) -> silver parquet ->
    gold vendas, equal row-for-row to an independent DuckDB replay
    of the same silver data. Covers the null paths: an order with no
    payments (o3: every VALOR_* = 0), an item whose product is
    unknown (p9: NULL category), an order whose customer is unknown
    (c9: NULL city/state — strings are NOT null-filled), and an
    orphan item (o9: no order row, so no date and no customer)."""
    import duckdb

    from bootcamp_stackacademy_datalake_minio_airflow_spark.schemas import OLIST_SCHEMAS

    for t in OLIST_SCHEMAS:
        bronze_to_silver(spark, t, base=lake_edge)
    gold = vendas_gold(spark, base=lake_edge)

    con = duckdb.connect()
    for t in ["order_items", "orders", "products", "customers", "order_payments"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{lake_edge}/silver/olist/{t}/*.parquet'"
        )
    want = con.execute(OLIST_VENDAS_GOLDEN_SQL).fetchall()

    def norm(row):
        return tuple(
            round(v, 6) if isinstance(v, float) else v for v in row
        )

    got = [tuple(r) for r in gold.select(*_GOLD_COLS).collect()]
    assert len(got) == 5  # one row per order item, orphans preserved
    assert sorted(map(norm, got)) == sorted(map(norm, want))
    # the on-disk gold partition layout survives the edge rows: the
    # orphan item has no sale date -> NULL month partition
    part_dirs = os.listdir(f"{lake_edge}/gold/olist/vendas/")
    assert any(p.startswith("MES_VENDA=") for p in part_dirs)


def test_all_eight_tables_ingest(spark, lake):
    """Every Olist table the reference ingests (8 scripts) goes
    through the ONE parameterized job with its pinned schema."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.schemas import OLIST_SCHEMAS

    for t in OLIST_SCHEMAS:
        df = bronze_to_silver(spark, t, base=lake)
        silver = read_parquet(spark, f"{lake}/silver/olist/{t}/")
        assert silver.count() > 0, t
        assert df.schema == OLIST_SCHEMAS[t], t
    # geolocation types survived: lat/lng are doubles
    geo = read_parquet(spark, f"{lake}/silver/olist/geolocation/")
    assert dict(geo.dtypes)["geolocation_lat"] == "double"


# --- negative paths (VERDICT r4 ask #7: pin the loud-failure behavior
# the reference mishandles, SURVEY §7.3) ------------------------------

# r3 has a non-integer review_score: the pinned schema can't parse it,
# so the WHOLE raw line must land in quarantine, not be silently
# nulled into silver. r4 is clean and must survive.
BAD_REVIEWS_CSV = '''review_id,order_id,review_score,review_comment_title,review_comment_message,review_creation_date,review_answer_timestamp
r1,o1,5,"otimo","chegou antes do prazo,
recomendo",2017-10-11 00:00:00,2017-10-12 03:43:48
r3,o2,five stars,,,2018-08-15 00:00:00,2018-08-15 04:10:00
r4,o2,4,,,2018-08-16 00:00:00,2018-08-16 04:10:00
'''


def test_corrupt_review_line_quarantined(spark, tmp_path):
    d = tmp_path / "bronze" / "olist" / "order_reviews"
    os.makedirs(d)
    (d / "order_reviews.csv").write_text(BAD_REVIEWS_CSV)
    qdir = str(tmp_path / "quarantine" / "order_reviews")

    clean = bronze_to_silver(
        spark,
        "order_reviews",
        base=str(tmp_path),
        quarantine_path=qdir,
    )
    silver = read_parquet(spark, f"{tmp_path}/silver/olist/order_reviews/")
    assert {r.review_id for r in silver.collect()} == {"r1", "r4"}
    assert clean.count() == 2
    # the reject table holds exactly the corrupt raw line, uncut
    quarantined = read_parquet(spark, qdir).collect()
    assert len(quarantined) == 1
    assert "five stars" in quarantined[0].raw_line


def test_unknown_payment_type_fails_loudly(spark):
    """A pinned pivot silently drops unlisted types; build_vendas'
    payment-type guard must instead fail the job with the offending value
    in the message (SURVEY §7.3 'fail loudly on new ones')."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.plans.vendas import build_vendas

    items = spark.createDataFrame(
        [("o1", "p1", 10.0, 1.0)],
        "order_id string, product_id string, price double, freight_value double",
    )
    orders = spark.createDataFrame(
        [("o1", "c1", datetime.datetime(2017, 10, 2))],
        "order_id string, customer_id string, order_purchase_timestamp timestamp",
    )
    products = spark.createDataFrame(
        [("p1", "cool_stuff")], "product_id string, product_category_name string"
    )
    customers = spark.createDataFrame(
        [("c1", "sp", "SP")],
        "customer_id string, customer_city string, customer_state string",
    )
    payments = spark.createDataFrame(
        [("o1", "pix", 10.0)],  # 'pix' is not a pinned payment type
        "order_id string, payment_type string, payment_value double",
    )

    df = build_vendas(items, orders, products, customers, payments)
    with pytest.raises(Exception, match="unknown payment_type.*pix"):
        df.collect()


def test_load_table_handle_cache_hits_and_invalidates(spark, tmp_path):
    """r13: load_table memoizes the DataFrame HANDLE (plan object) per
    (session, path, file version) — pure metadata, never results. Pin
    that (a) the same lake file returns the same object, (b) a
    rewritten file (new mtime/size) misses and re-reads fresh data —
    the staleness seam the prose-lake/donor-relink flows depend on."""
    import shutil
    import time as _time

    from bootcamp_stackacademy_datalake_minio_airflow_spark.catalog import (
        _DF_CACHE,
        load_table,
    )

    lake = tmp_path / "lake"
    lake.mkdir()
    src = "/root/testdata/sf0.001/region.parquet"
    dst = lake / "region.parquet"
    shutil.copy(src, dst)

    d1 = load_table(spark, str(lake), "region")
    d2 = load_table(spark, str(lake), "region")
    assert d1 is d2  # handle cache hit
    n1 = d1.count()
    assert n1 > 0

    # rewrite the file with fewer rows: the (mtime_ns, size) key must
    # miss and the reload must see the NEW contents
    _time.sleep(0.01)
    import duckdb

    duckdb.sql(
        f"COPY (SELECT * FROM read_parquet('{src}') LIMIT 1) "
        f"TO '{dst}' (FORMAT PARQUET)"
    )
    d3 = load_table(spark, str(lake), "region")
    assert d3 is not d1
    assert d3.count() == 1
    # cache stays bounded
    from bootcamp_stackacademy_datalake_minio_airflow_spark.catalog import (
        _DF_CACHE_MAX,
    )

    assert len(_DF_CACHE) <= _DF_CACHE_MAX
