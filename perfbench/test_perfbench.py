"""The benchmark's own tests: seeded inputs are reproducible.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import lake  # noqa: E402
import olist  # noqa: E402


def _tree_md5(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.md5(fh.read()).hexdigest()
    return out


def test_bronze_same_seed_is_byte_identical(tmp_path):
    olist.write_bronze(str(tmp_path / "a"), 7, 0.01)
    olist.write_bronze(str(tmp_path / "b"), 7, 0.01)
    a, b = _tree_md5(str(tmp_path / "a")), _tree_md5(str(tmp_path / "b"))
    assert len(a) == 8 * olist.FILES_PER_TABLE
    assert a == b


def test_bronze_other_seed_differs(tmp_path):
    _, e1 = olist.write_bronze(str(tmp_path / "a"), 7, 0.01)
    _, e2 = olist.write_bronze(str(tmp_path / "b"), 8, 0.01)
    a, b = _tree_md5(str(tmp_path / "a")), _tree_md5(str(tmp_path / "b"))
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a)
    assert e1 != e2


def test_bronze_carries_parse_hazards(tmp_path):
    _, expected = olist.write_bronze(str(tmp_path), 7, 0.02)
    reviews = "".join(
        open(os.path.join(tmp_path, "bronze/olist/order_reviews", f)).read()
        for f in os.listdir(os.path.join(tmp_path, "bronze/olist/order_reviews"))
    )
    assert '""' in reviews and "\n" in reviews.split('"', 40)[-1]
    orders = open(os.path.join(tmp_path, "bronze/olist/orders/part-00000.csv")).read()
    assert ",," in orders or orders.rstrip().endswith(",")  # empty delivery dates
    assert "T" not in orders.split("\n")[1].split(",")[3]  # space-separated timestamps
    assert expected["data_venda_nonnull"] < expected["rows"]


def test_query_lake_same_seed_is_byte_identical(tmp_path):
    lake.write_lake(str(tmp_path / "a"), 3, 0.001)
    lake.write_lake(str(tmp_path / "b"), 3, 0.001)
    lake.write_lake(str(tmp_path / "c"), 4, 0.001)
    a, b, c = (_tree_md5(str(tmp_path / x)) for x in "abc")
    assert len(a) == len(lake.TABLES)
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]
