"""Seeded synthetic Olist bronze zone for the ``medallion`` workload.

Writes the eight Olist CSV tables under ``<base>/bronze/olist/<table>/``
as multi-file prefixes, with the column lists of ``schemas.OLIST_SCHEMAS``
and the public dataset's relative cardinalities times ``scale``
(scale 1.0 = 99,441 orders, 112,650 order items, 1,000,163
geolocation rows). The data carries the parse hazards the pipeline
must survive:

- review text with embedded quotes, commas and newlines (multiLine
  parsing; quotes escaped by doubling);
- about 3% empty delivery timestamps;
- a few order items whose order is missing (NULL ``DATA_VENDA``, the
  ``__HIVE_DEFAULT_PARTITION__`` month).

``build`` also returns the generator's own answer for the gold checks,
so the benchmark compares values, not only row counts.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv

BASE_ROWS = {
    "customers": 99_441,
    "sellers": 3_095,
    "geolocation": 1_000_163,
    "orders": 99_441,
    "order_items": 112_650,
    "order_payments": 103_886,
    "order_reviews": 99_224,
    "products": 32_951,
}
FILES_PER_TABLE = 4
PAYMENT_TYPES = ["boleto", "credit_card", "debit_card", "not_defined", "voucher"]
PAYMENT_P = [0.19, 0.74, 0.015, 0.005, 0.05]
STATES = (
    "AC AL AM AP BA CE DF ES GO MA MG MS MT PA PB PE PI PR RJ RN RO RR RS SC SE SP TO"
).split()
CITIES = [
    "sao paulo", "rio de janeiro", "belo horizonte", "brasilia", "curitiba",
    "campinas", "porto alegre", "salvador", "guarulhos", "sao bernardo do campo",
    "niteroi", "santo andre", "osasco", "santos", "goiania", "sorocaba",
]
CATEGORIES = [
    "cama_mesa_banho", "beleza_saude", "esporte_lazer", "moveis_decoracao",
    "informatica_acessorios", "utilidades_domesticas", "relogios_presentes",
    "telefonia", "ferramentas_jardim", "automotivo", "brinquedos", "cool_stuff",
    "perfumaria", "bebes", "eletronicos", "papelaria",
]
STATUSES = ["delivered", "shipped", "canceled", "invoiced", "processing"]
STATUS_P = [0.95, 0.02, 0.01, 0.01, 0.01]
REVIEW_TEXT = [
    'chegou antes do prazo, recomendo',
    'produto "original", muito bom',
    'nao recebi o produto,\nja faz 2 semanas',
    'otimo vendedor\n"entrega rapida", nota 10',
    'veio com defeito, "pessimo"',
    'tudo certo',
]
# purchase timestamps span 24 whole months
T0 = np.datetime64("2016-10-01T00:00:00", "s")
T1 = np.datetime64("2018-10-01T00:00:00", "s")
ORPHAN_EVERY = 200  # every 200th order item points at a missing order


def _hex_ids(rng, n: int) -> np.ndarray:
    """n random 32-hex-digit ids (the Olist id shape)."""
    return np.frombuffer(rng.bytes(16 * n).hex().encode(), dtype="S32").astype(str)


def _ts(values: np.ndarray, null_mask: np.ndarray | None = None) -> pa.Array:
    arr = pa.array(values.astype("datetime64[s]"), pa.timestamp("s"), mask=null_mask)
    return pc.strftime(arr, format="%Y-%m-%d %H:%M:%S")


def _zip(rng, n: int) -> np.ndarray:
    return np.char.zfill(rng.integers(1000, 99999, n).astype(str), 5)


def build(seed: int, scale: float) -> tuple[dict[str, pa.Table], dict]:
    """(bronze tables as Arrow string/number columns, expected gold)."""
    rng = np.random.default_rng([seed, int(scale * 1_000_000)])
    n = {t: max(8, int(r * scale)) for t, r in BASE_ROWS.items()}
    t: dict[str, pa.Table] = {}

    cust_ids = _hex_ids(rng, n["customers"])
    t["customers"] = pa.table(
        {
            "customer_id": cust_ids,
            "customer_unique_id": _hex_ids(rng, n["customers"]),
            "customer_zip_code_prefix": _zip(rng, n["customers"]),
            "customer_city": rng.choice(CITIES, n["customers"]),
            "customer_state": rng.choice(STATES, n["customers"]),
        }
    )
    seller_ids = _hex_ids(rng, n["sellers"])
    t["sellers"] = pa.table(
        {
            "seller_id": seller_ids,
            "seller_zip_code_prefix": _zip(rng, n["sellers"]),
            "seller_city": rng.choice(CITIES, n["sellers"]),
            "seller_state": rng.choice(STATES, n["sellers"]),
        }
    )
    g = n["geolocation"]
    t["geolocation"] = pa.table(
        {
            "geolocation_zip_code_prefix": _zip(rng, g),
            "geolocation_lat": np.round(rng.uniform(-33.7, 5.3, g), 6),
            "geolocation_lng": np.round(rng.uniform(-73.9, -34.8, g), 6),
            "geolocation_city": rng.choice(CITIES, g),
            "geolocation_state": rng.choice(STATES, g),
        }
    )
    p = n["products"]
    prod_ids = _hex_ids(rng, p)
    cat = rng.choice(CATEGORIES, p).astype(object)
    cat[rng.random(p) < 0.02] = None
    t["products"] = pa.table(
        {
            "product_id": prod_ids,
            "product_category_name": pa.array(cat, pa.string()),
            "product_name_lenght": rng.integers(5, 76, p),
            "product_description_lenght": rng.integers(4, 3993, p),
            "product_photos_qty": rng.integers(1, 21, p),
            "product_weight_g": rng.integers(0, 40426, p).astype(np.float64),
            "product_length_cm": rng.integers(7, 106, p).astype(np.float64),
            "product_height_cm": rng.integers(2, 106, p).astype(np.float64),
            "product_width_cm": rng.integers(6, 119, p).astype(np.float64),
        }
    )

    o = n["orders"]
    order_ids = _hex_ids(rng, o)
    span = int((T1 - T0) / np.timedelta64(1, "s"))
    purchase = T0 + rng.integers(0, span, o).astype("timedelta64[s]")
    approved = purchase + rng.integers(600, 86_400, o).astype("timedelta64[s]")
    carrier = approved + rng.integers(86_400, 5 * 86_400, o).astype("timedelta64[s]")
    delivered = carrier + rng.integers(86_400, 20 * 86_400, o).astype("timedelta64[s]")
    estimated = (purchase + np.timedelta64(25, "D")).astype("datetime64[D]").astype("datetime64[s]")
    t["orders"] = pa.table(
        {
            "order_id": order_ids,
            "customer_id": cust_ids[rng.integers(0, n["customers"], o)],
            "order_status": rng.choice(STATUSES, o, p=STATUS_P),
            "order_purchase_timestamp": _ts(purchase),
            "order_approved_at": _ts(approved),
            "order_delivered_carrier_date": _ts(carrier),
            "order_delivered_customer_date": _ts(delivered, rng.random(o) < 0.03),
            "order_estimated_delivery_date": _ts(estimated),
        }
    )

    m = n["order_items"]
    item_order = np.sort(rng.integers(0, o, m))
    orphan = np.arange(m) % ORPHAN_EVERY == ORPHAN_EVERY - 1
    item_oid = order_ids[item_order].astype(object)
    item_oid[orphan] = [f"missing{i:025d}" for i in np.flatnonzero(orphan).tolist()]
    seq = np.ones(m, dtype=np.int64)
    same = np.concatenate([[False], item_order[1:] == item_order[:-1]])
    for i in np.flatnonzero(same).tolist():  # order_item_id = 1, 2, ... per order
        seq[i] = seq[i - 1] + 1
    price = np.round(rng.gamma(2.0, 60.0, m) + 0.85, 2)
    freight = np.round(rng.gamma(2.0, 10.0, m), 2)
    t["order_items"] = pa.table(
        {
            "order_id": pa.array(item_oid, pa.string()),
            "order_item_id": seq,
            "product_id": prod_ids[rng.integers(0, p, m)],
            "seller_id": seller_ids[rng.integers(0, n["sellers"], m)],
            "shipping_limit_date": _ts(purchase[item_order] + np.timedelta64(6, "D")),
            "price": price,
            "freight_value": freight,
        }
    )

    q = n["order_payments"]
    pay_order = rng.integers(0, o, q)
    pay_type = rng.choice(len(PAYMENT_TYPES), q, p=PAYMENT_P)
    pay_value = np.round(rng.gamma(2.0, 80.0, q), 2)
    t["order_payments"] = pa.table(
        {
            "order_id": order_ids[pay_order],
            "payment_sequential": rng.integers(1, 4, q),
            "payment_type": np.array(PAYMENT_TYPES)[pay_type],
            "payment_installments": rng.integers(1, 11, q),
            "payment_value": pay_value,
        }
    )

    r = n["order_reviews"]
    created = purchase[rng.integers(0, o, r)] + np.timedelta64(10, "D")
    text = np.array(REVIEW_TEXT, dtype=object)[rng.integers(0, len(REVIEW_TEXT), r)]
    text[rng.random(r) < 0.5] = None
    title = rng.choice(["otimo", "ruim", "recomendo", "bom"], r).astype(object)
    title[rng.random(r) < 0.8] = None
    t["order_reviews"] = pa.table(
        {
            "review_id": _hex_ids(rng, r),
            "order_id": order_ids[rng.integers(0, o, r)],
            "review_score": rng.integers(1, 6, r),
            "review_comment_title": pa.array(title, pa.string()),
            "review_comment_message": pa.array(text, pa.string()),
            "review_creation_date": _ts(created),
            "review_answer_timestamp": _ts(created + rng.integers(3600, 86_400 * 3, r).astype("timedelta64[s]")),
        }
    )

    # generator-side answer for the gold checks
    per_order = np.zeros((o, len(PAYMENT_TYPES)))
    np.add.at(per_order, (pay_order, pay_type), pay_value)
    matched = item_order[~orphan]
    months = purchase[matched].astype("datetime64[M]")
    expected = {
        "rows": int(m),
        "data_venda_nonnull": int((~orphan).sum()),
        "payment_sums": {
            ty: float(per_order[matched, j].sum()) for j, ty in enumerate(PAYMENT_TYPES)
        },
        "valor_venda_sum": float(price.sum()),
        "month_partitions": int(len(np.unique(months)) + (1 if orphan.any() else 0)),
    }
    return t, expected


def write_bronze(base: str, seed: int, scale: float) -> tuple[dict, dict]:
    """Write the bronze zone under ``base``; returns (sizes, expected)."""
    tables, expected = build(seed, scale)
    opts = pacsv.WriteOptions(include_header=True, quoting_style="needed")
    sizes = {}
    for name, table in tables.items():
        d = os.path.join(base, "bronze", "olist", name)
        os.makedirs(d, exist_ok=True)
        step = -(-table.num_rows // FILES_PER_TABLE)
        nbytes = 0
        for i in range(FILES_PER_TABLE):
            path = os.path.join(d, f"part-{i:05d}.csv")
            pacsv.write_csv(table.slice(i * step, step), path, opts)
            nbytes += os.path.getsize(path)
        sizes[name] = {"rows": table.num_rows, "bytes": nbytes}
    return sizes, expected
