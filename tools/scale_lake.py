"""Replicated lakes for scale probes (tools/probe.py --copies=N).

``build_lake`` copies every table of a base lake that has a rule in
``SCALE_SQL`` N times with disjoint keys — documents replicas are
perturbed by one appended token so copies are near- not exact-dups —
and links every other table in unchanged, so joins stay total and
``load_table`` finds every table. Lakes are cached in the temp dir
($TMPDIR, default /tmp), keyed by copies and base, and a per-table
rule stamp rebuilds a table whose replication SQL changed.
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bootcamp_stackacademy_datalake_minio_airflow_spark.catalog import link_donor_tables  # noqa: E402

#: per-table replication SQL (c = copy index, excluded from the output
#: so the scaled table keeps its declared columns). documents follows the
#: r7 protocol (disjoint ids, one-token perturbation -> near- not
#: exact-dups); lineitem offsets BOTH keys so each copy is a disjoint
#: subgraph — the distinct edge set, nodes, and triangles all scale by
#: `copies`, which is what a graph probe must stress (same-key
#: replication would collapse in the dedup and only stress the
#: pre-distinct aggregate).
SCALE_SQL = {
    "documents": """
        SELECT doc_id + c * 10000000 AS doc_id,
               text || ' zq' || c AS text,
               lang, source,
               CAST(length(text || ' zq' || c) AS BIGINT) AS n_chars
        FROM read_parquet('{base}/documents.parquet'),
             (SELECT unnest(range({copies})) AS c)
    """,
    "lineitem": """
        SELECT * EXCLUDE (c)
               REPLACE (l_orderkey + c * 1000000 AS l_orderkey,
                        l_partkey + c * 100000 AS l_partkey)
        FROM read_parquet('{base}/lineitem.parquet'),
             (SELECT unnest(range({copies})) AS c)
    """,
    # disjoint user AND event ids per copy, timestamps unchanged —
    # each copy is a disjoint user universe over the SAME observation
    # window (the honest shape for survival/funnel probes: the
    # duration-day domain stays fixed while subjects scale)
    "events": """
        SELECT * EXCLUDE (c)
               REPLACE (event_id + c * 100000000 AS event_id,
                        user_id + c * 1000000 AS user_id)
        FROM read_parquet('{base}/events.parquet'),
             (SELECT unnest(range({copies})) AS c)
    """,
    # customer scales in lockstep with orders (same c_custkey offset
    # rule), so order->customer joins stay total on the scaled lake
    "customer": """
        SELECT * EXCLUDE (c)
               REPLACE (c_custkey + c * 1000000 AS c_custkey)
        FROM read_parquet('{base}/customer.parquet'),
             (SELECT unnest(range({copies})) AS c)
    """,
    # disjoint order AND customer keys so each copy is a disjoint
    # group universe — the honest shape for the bootstrap (per-key
    # draws stay distinct) and k-fold (group count scales) families.
    # o_orderkey uses the SAME c*1e6 offset as lineitem's l_orderkey
    # (ADVICE r10): a probe that scales both tables keeps every
    # orders<->lineitem join total instead of dangling for c>0
    "orders": """
        SELECT * EXCLUDE (c)
               REPLACE (o_orderkey + c * 1000000 AS o_orderkey,
                        o_custkey + c * 1000000 AS o_custkey)
        FROM read_parquet('{base}/orders.parquet'),
             (SELECT unnest(range({copies})) AS c)
    """,
    # disjoint ids + a 0.001*c shift on dim 1 so replicas are distinct
    # points (near- not exact-neighbors — the honest perturbation for
    # ANN/quantization probes, same spirit as the documents protocol)
    "embeddings": """
        SELECT vec_id + c * 100000 AS vec_id,
               list_prepend(CAST(embedding[1] + 0.001 * c AS FLOAT),
                            embedding[2:]) AS embedding,
               label
        FROM read_parquet('{base}/embeddings.parquet'),
             (SELECT unnest(range({copies})) AS c)
    """,
}


def build_lake(copies: int, base: str) -> tuple[str, list[str]]:
    """The ``copies``-times lake over ``base`` and the tables it scales."""
    base = base.rstrip("/")
    tables = [t for t in sorted(SCALE_SQL) if os.path.exists(f"{base}/{t}.parquet")]
    tag = hashlib.md5(base.encode()).hexdigest()[:8]
    out_dir = os.path.join(tempfile.gettempdir(), f"probe{copies}x_b{tag}")
    os.makedirs(out_dir, exist_ok=True)
    for t in tables:
        out = os.path.join(out_dir, f"{t}.parquet")
        sql = SCALE_SQL[t].format(base=base, copies=copies)
        stamp = out + ".rule"
        fp = hashlib.md5(sql.encode()).hexdigest()
        fresh = (
            os.path.exists(out)
            and os.path.exists(stamp)
            and open(stamp).read().strip() == fp
        )
        if not fresh:
            if os.path.exists(out):
                os.remove(out)
            duckdb.sql(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")
            with open(stamp, "w") as f:
                f.write(fp)
    link_donor_tables(base, out_dir, exclude={f"{t}.parquet" for t in tables})
    return out_dir, tables
