r"""Round-2 breadth: semantic (embedding-space) dedup clustering with a
fully SQL-checkable connected-components oracle, training-sequence
packing, and bigram PMI collocations.

Oracle notes:
- ``semantic_dedup_clusters`` pins the *labels* of the min-label
  connected components, not just the surviving set — DuckDB replays the
  component computation as a recursive transitive-closure CTE, so the
  iterative Spark algorithm is verified against a declarative ground
  truth (previously CC was only pytest-covered).
- ``sequence_packing``'s greedy resetting running sum is replayed in
  DuckDB with a recursive CTE over the same per-bucket id order.
- Integer outputs CAST to BIGINT on the DuckDB side (bare SUM/len
  would come back HUGEINT -> float64 and break the driver's hash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import NORM_SQL, fanout_repartition, normalize_text

from ..catalog import load_table
from ..operators.packing import pack_sequences
from ..operators.similarity import semantic_clusters
from ..queries import register



@register(
    "semantic_dedup_clusters",
    """
    WITH RECURSIVE pairs AS (
      SELECT a.vec_id AS u, b.vec_id AS v
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                         b.embedding::DOUBLE[]), 4) >= 0.35
    ), edges AS (
      SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs
    ), walk(node, reach) AS (
      SELECT u, u FROM edges
      UNION
      SELECT w.node, e.v FROM walk w JOIN edges e ON w.reach = e.u
    ), cc AS (
      SELECT node, MIN(reach) AS comp FROM walk GROUP BY node
    )
    SELECT e.vec_id, COALESCE(c.comp, e.vec_id) AS cluster_id
    FROM embeddings e LEFT JOIN cc c ON e.vec_id = c.node
    """,
)
def q_semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup clustering (operators/similarity.py:
    semantic_clusters): blocked all-pairs cosine -> connected
    components -> one (vec_id, cluster_id) row per vector. The oracle
    recomputes the components declaratively (transitive closure), so
    both the pair graph and the label propagation are hash-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_clusters(emb, threshold=0.35)


@register(
    "sequence_packing",
    """
    WITH RECURSIVE docs AS (
      -- NULL text is unpackable (mirrors pack_sequences' filter; a
      -- NULL n_tok would poison the recursive accumulator)
      SELECT doc_id, doc_id % 8 AS bucket,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             ROW_NUMBER() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
      FROM documents WHERE text IS NOT NULL
    ), pack(bucket, rn, doc_id, n_tok, pack_id, acc) AS (
      SELECT bucket, rn, doc_id, n_tok, CAST(0 AS BIGINT), n_tok
      FROM docs WHERE rn = 1
      UNION ALL
      SELECT d.bucket, d.rn, d.doc_id, d.n_tok,
             CASE WHEN p.acc + d.n_tok <= 256 THEN p.pack_id ELSE p.pack_id + 1 END,
             CASE WHEN p.acc + d.n_tok <= 256 THEN p.acc + d.n_tok ELSE d.n_tok END
      FROM pack p JOIN docs d ON d.bucket = p.bucket AND d.rn = p.rn + 1
    )
    SELECT bucket, pack_id, doc_id, n_tok FROM pack
    """,
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy first-fit training-window packing (operators/packing.py):
    budget 256 whitespace tokens, 8 deterministic id-hash buckets. The
    sequential recurrence runs per bucket in one Arrow batch; the
    oracle replays it with a recursive CTE in the same order."""
    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(
        docs,
        "doc_id",
        F.size(F.split(F.col("text"), " ")),
        budget=256,
        n_buckets=8,
    )


@register(
    "bigram_pmi",
    rf"""
    WITH base AS (
      SELECT doc_id, string_split({NORM_SQL}, ' ') AS toks FROM documents
    ), uni AS (
      SELECT unnest(toks) AS w FROM base
    ), ucnt AS (
      SELECT w, count(*) AS c FROM uni GROUP BY w
    ), un AS (
      SELECT sum(c) AS n FROM ucnt
    ), bg AS (
      SELECT unnest(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
                                   i -> array_to_string(toks[i:i+1], ' '))) AS b
      FROM base WHERE len(toks) >= 2
    ), bcnt AS (
      SELECT b, count(*) AS c FROM bg GROUP BY b
    ), bn AS (
      SELECT sum(c) AS m FROM bcnt
    )
    SELECT b AS bigram, CAST(x.c AS BIGINT) AS n_pair,
           ROUND(log2((x.c * 1.0 / m) /
                      ((ca.c * 1.0 / n) * (cb.c * 1.0 / n))), 4) + 0.0 AS pmi
    FROM (
      SELECT b, c, string_split(b, ' ')[1] AS wa, string_split(b, ' ')[2] AS wb
      FROM bcnt WHERE c >= 5
    ) x
    JOIN ucnt ca ON x.wa = ca.w
    JOIN ucnt cb ON x.wb = cb.w
    CROSS JOIN un CROSS JOIN bn
    """,
)
def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocations by pointwise mutual information: bigram
    share over the product of unigram shares, min support 5. Two hash
    aggregations over exploded tokens; the unigram count table is tiny
    and broadcasts back onto the bigram counts (collocation mining /
    tokenizer-merge diagnostics)."""
    docs = load_table(spark, sf_dir, "documents")
    # narrow (id, tokens) exchange shared by BOTH explode branches
    # (ReusedExchange — tokenize once) so the unigram/bigram fan-outs
    # run at core parallelism instead of inside the scan stage
    # (one task on a single-row-group parquet; guide §2.5)
    base = docs.select(
        "doc_id", F.split(normalize_text("text"), " ").alias("toks")
    ).transform(lambda d: fanout_repartition(d, "doc_id"))
    uni = base.select(F.explode("toks").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count("*").alias("c"))
    n_tok = ucnt.agg(F.sum("c").alias("n"))
    bigrams = base.filter(F.size("toks") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, 2)),
            )
        ).alias("b")
    )
    bcnt = bigrams.groupBy("b").agg(F.count("*").alias("c"))
    m_tok = bcnt.agg(F.sum("c").alias("m"))
    x = (
        bcnt.filter(F.col("c") >= 5)
        .withColumn("wa", F.split("b", " ").getItem(0))
        .withColumn("wb", F.split("b", " ").getItem(1))
    )
    ca = ucnt.select(F.col("w").alias("wa"), F.col("c").alias("ca"))
    cb = ucnt.select(F.col("w").alias("wb"), F.col("c").alias("cb"))
    return (
        x.join(F.broadcast(ca), "wa")
        .join(F.broadcast(cb), "wb")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(m_tok))
        .select(
            F.col("b").alias("bigram"),
            F.col("c").cast("long").alias("n_pair"),
            # + 0.0 collapses IEEE negative zero after rounding — the
            # value hash renders -0.0 and 0.0 differently
            (
                F.round(
                    F.log2(
                        (F.col("c") / F.col("m"))
                        / ((F.col("ca") / F.col("n")) * (F.col("cb") / F.col("n")))
                    ),
                    4,
                )
                + F.lit(0.0)
            ).alias("pmi"),
        )
    )


# --- z-order layout: engine-portable Morton codes ---------------------------

_Z_BITS = 8


def _zorder_oracle() -> str:
    """DuckDB twin of operators/zorder.py: same min/max bounds, same
    bucketize arithmetic shape (mult-then-divide double math, FLOOR,
    clamp), same bit interleave. Buckets are non-negative, so plain
    >> / << / & / | match Spark's shiftleft/shiftrightunsigned."""
    n = (1 << _Z_BITS) - 1

    def bucket(col: str, lo: str, hi: str) -> str:
        return (
            f"CAST(LEAST({n}, GREATEST(0, "
            f"CAST(FLOOR((CAST({col} AS DOUBLE) - {lo}) * {n}"
            f" / ({hi} - {lo})) AS BIGINT))) AS BIGINT)"
        )

    terms = " | ".join(
        f"(((b{i} >> {j}) & 1) << {j * 2 + i})"
        for i in range(2)
        for j in range(_Z_BITS)
    )
    return f"""
    WITH bounds AS (
      SELECT MIN(CAST(o_custkey AS DOUBLE)) AS lo0,
             MAX(CAST(o_custkey AS DOUBLE)) AS hi0,
             MIN(CAST(o_totalprice AS DOUBLE)) AS lo1,
             MAX(CAST(o_totalprice AS DOUBLE)) AS hi1
      FROM orders
    ), b AS (
      SELECT o_orderkey,
             {bucket('o_custkey', 'lo0', 'hi0')} AS b0,
             {bucket('o_totalprice', 'lo1', 'hi1')} AS b1
      FROM orders, bounds
    )
    SELECT o_orderkey, ({terms}) AS zval FROM b
    """


@register("zorder_orders", _zorder_oracle())
def q_zorder_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-value computation (operators/zorder.py) — the layout
    key behind zorder_write's multi-dimensional data skipping. The
    oracle recomputes the bounds and the bit interleave in DuckDB, so
    the curve itself (not just the write) is hash-verified."""
    from ..operators.zorder import zorder_value

    o = load_table(spark, sf_dir, "orders")
    return zorder_value(
        o, ["o_custkey", "o_totalprice"], bits=_Z_BITS, out_col="zval"
    ).select("o_orderkey", F.col("zval").cast("long").alias("zval"))


# --- nearest-centroid (Rocchio) classification ------------------------------


@register(
    "embedding_centroid_confusion",
    """
    WITH ex AS (
      SELECT vec_id, CAST(label AS BIGINT) AS label,
             generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), cents AS (
      SELECT label AS clbl, dim AS cdim, ROUND(AVG(x), 6) AS m
      FROM ex GROUP BY label, dim
    ), dists AS (
      SELECT e.vec_id, e.label, c.clbl,
             ROUND(SUM((e.x - c.m) * (e.x - c.m)), 4) AS d
      FROM ex e JOIN cents c ON e.dim = c.cdim
      GROUP BY e.vec_id, e.label, c.clbl
    ), pred AS (
      SELECT vec_id, label, clbl AS predicted,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, clbl) AS rk
      FROM dists
    )
    SELECT label, predicted, COUNT(*) AS n
    FROM pred WHERE rk = 1
    GROUP BY label, predicted
    """,
)
def q_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification confusion matrix
    (operators/similarity.py:centroid_classify). The oracle replays
    centroid means, squared-euclidean sums, and the argmin tie-break
    with the same rounding, so the whole classifier — not just its
    output shape — is hash-verified."""
    from ..operators.similarity import centroid_classify

    emb = load_table(spark, sf_dir, "embeddings")
    # the operator preserves caller types; cast here so the emitted
    # label/predicted are bigint like the oracle's CAST(label AS BIGINT)
    out = centroid_classify(emb.withColumn("label", F.col("label").cast("long")))
    return out.groupBy("label", "predicted").agg(F.count(F.lit(1)).alias("n"))
