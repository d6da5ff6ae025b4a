"""Training-data pipeline queries (extension; BASELINE.json north star).

Dedup / similarity / text analysis over the documents & embeddings
tables. Oracle-able ops use functions both engines implement
identically (md5, regexp with explicit 'g' in DuckDB, list lambdas);
hash-family ops (MinHash uses xxhash64, which DuckDB lacks)
register without SQL → the driver records rows-only checks, and
pytest verifies their semantics on planted duplicates instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import fanout_repartition, normalize_text

from ..catalog import load_table
from ..operators.dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from ..operators.similarity import ann_topk_lsh, cosine_topk
from ..operators.text import (
    bpeish_token_count,
    fingerprint,
    language_id,
    punct_ratio,
    quality_score,
    token_count,
)
from ..queries import register
from ..streaming.windows import sliding_user_activity, tumbling_counts

# --- exact dedup ------------------------------------------------------------


@register(
    "dedup_exact_documents",
    """
    SELECT doc_id, text, lang, source, n_chars FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup_exact(docs, ["text"], order_by="doc_id")


# --- fingerprint (md5 of normalized text; identical in DuckDB) --------------


@register(
    "doc_fingerprint",
    r"""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
    FROM documents
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fp"))


# --- token counting ----------------------------------------------------------


@register(
    "text_token_count",
    r"""
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split(
                       regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
           END AS n_tokens,
           len(regexp_extract_all(
                 regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                 '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpeish
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpeish_token_count("text").alias("n_bpeish"),
    )


# --- language id --------------------------------------------------------------

_LANG_ID_ORACLE = r"""
WITH tok AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ts
  FROM documents
), scores AS (
  SELECT doc_id,
         len(list_filter(ts, x -> x IN ('the','and','of','to','in','is','a'))) AS s_en,
         len(list_filter(ts, x -> x IN ('der','die','und','das','ist','ein'))) AS s_de,
         len(list_filter(ts, x -> x IN ('el','la','de','que','los','es'))) AS s_es,
         len(list_filter(ts, x -> x IN ('le','la','les','des','est','une'))) AS s_fr
  FROM tok
)
SELECT doc_id,
       CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'unknown'
            WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
            WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
            WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
            ELSE 'fr' END AS lang_guess
FROM scores
"""


@register("text_language_id", _LANG_ID_ORACLE)
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", language_id("text").alias("lang_guess"))


# --- quality scoring -----------------------------------------------------------

_QUALITY_ORACLE = r"""
WITH base AS (
  SELECT doc_id, text, length(text) AS n,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split(
                     regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
         END AS tok,
         len(list_filter(
               string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
               x -> x IN ('the','and','of','to','in','is','a'))) AS stops,
         CASE WHEN length(text) > 0
              THEN round(length(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g'))
                         * 1.0 / length(text), 4)
              ELSE 0.0 END AS pr
  FROM documents
)
SELECT doc_id, pr AS punct_ratio,
       round(0.4 * (CASE WHEN n BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.0 END)
           + 0.3 * least(CASE WHEN tok > 0 THEN stops * 1.0 / tok ELSE 0.0 END, 0.3) / 0.3
           + 0.3 * (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END), 4) AS quality
FROM base
"""


@register("text_quality_score", _QUALITY_ORACLE)
def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        punct_ratio("text").alias("punct_ratio"),
        quality_score("text").alias("quality"),
    )


# --- embedding similarity -------------------------------------------------------

#: deterministic 64-dim query vector (same literal in Spark + SQL)
QUERY_VEC = [round(((i * 37) % 19 - 9) / 10.0, 1) for i in range(64)]
_VEC_SQL = "[" + ", ".join(str(v) for v in QUERY_VEC) + "]"


@register(
    "embedding_cosine_topk",
    f"""
    SELECT vec_id,
           ROUND(list_cosine_similarity(embedding::DOUBLE[], {_VEC_SQL}::DOUBLE[]), 4)
             AS cos_sim
    FROM embeddings WHERE embedding IS NOT NULL
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, QUERY_VEC, k=10)


def _ann_lsh_oracle() -> str:
    """SQL twin of ann_topk_lsh: the hyperplanes are a deterministic
    LCG (similarity._hyperplanes), so the oracle embeds the same plane
    literals, rebuilds the sign-pattern bucket per vector, and probes
    the same Hamming<=1 bucket set around the query's bucket. Exact
    same candidate set and rerank as the Spark plan."""
    from ..operators.similarity import _hyperplanes

    planes = _hyperplanes(len(QUERY_VEC), 8, 42)
    q_bucket = 0
    for i, p in enumerate(planes):
        if sum(x * y for x, y in zip(QUERY_VEC, p)) > 0:
            q_bucket |= 1 << i
    probe = sorted({q_bucket} | {q_bucket ^ (1 << i) for i in range(8)})
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], "
        f"[{', '.join(repr(v) for v in p)}]::DOUBLE[]) > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
    WITH nn AS MATERIALIZED (
      SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
    ), b AS (SELECT vec_id, embedding, {bucket} AS bucket FROM nn)
    SELECT vec_id,
           ROUND(list_cosine_similarity(embedding::DOUBLE[], {_VEC_SQL}::DOUBLE[]), 4)
             AS cos_sim
    FROM b WHERE bucket IN ({', '.join(map(str, probe))})
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """


@register("embedding_ann_lsh_topk", _ann_lsh_oracle())
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_topk_lsh(emb, QUERY_VEC, k=10, n_planes=8, multiprobe=1)


# --- near-dup families ----------------------------------------------------------
# MinHash+LSH banding is probabilistic candidate generation, but the exact-
# Jaccard verification step makes false positives impossible and recall at
# J >= threshold is ~1 (P[miss] = (1-J^r)^b; observed testdata pairs sit at
# J >= 0.92) — so the brute-force exact shingle-Jaccard join IS its oracle.
# The prefix-filtered ngram join is lossless by construction (Vernica), so
# its oracle is the same brute-force form over word n-grams.


def _shingle_pairs_oracle(threshold: float) -> str:
    """Exact word-5-gram Jaccard >= threshold in DuckDB, replicating
    normalize_text (lower/trim/collapse-ws) and _word_shingles_of
    (distinct space-joined 5-grams, whole-text fallback under 5
    words), round-then-filter like the Spark side.

    Intersections come from an explode + equi-join on the shingle (then
    |A∩B| by GROUP BY pair) rather than per-pair list_intersect over the
    O(n^2) cross join — same exact result, ~20x faster, which keeps the
    driver's DuckDB gate cheap."""
    return f"""
    WITH norm AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                          ' ') AS w
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(w)-4, 1)+1),
                                          i -> array_to_string(w[i:i+4], ' ')))
               AS s
      FROM norm
    ), ex AS (
      SELECT doc_id, unnest(s) AS g FROM sh
    ), sizes AS (
      SELECT doc_id, len(s) AS n FROM sh
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), scored AS (
      SELECT id_a, id_b,
             ROUND(CAST(i AS DOUBLE) / (na.n + nb.n - i), 4) AS jaccard_sim
      FROM inter
      JOIN sizes na ON na.doc_id = id_a
      JOIN sizes nb ON nb.doc_id = id_b
    )
    SELECT id_a, id_b, jaccard_sim FROM scored WHERE jaccard_sim >= {threshold}
    """


@register("dedup_minhash_pairs", _shingle_pairs_oracle(0.7))
def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.7)


# SimHash with the md5 hash family (operators/dedup.py:_simhash_table):
# each token's 60-bit hash is the first 15 hex chars of its md5, so
# DuckDB rebuilds the exact per-bit +/-1 sums, folds the signature,
# and brute-forces all pairs at hamming <= 3 — the banded Spark
# candidates are pigeonhole-lossless, so the sets must match exactly.
_SIMHASH_BITS = ",\n             ".join(
    f"SUM(CASE WHEN ((strpos('0123456789abcdef', substr(m, {15 - b // 4}, 1)) - 1)"
    f" // {1 << (b % 4)}) % 2 = 1 THEN 1 ELSE -1 END) AS b{b}"
    for b in range(60)
)
_SIMHASH_SIG = " + ".join(
    f"(CASE WHEN b{b} > 0 THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)" for b in range(60)
)
_SIMHASH_ORACLE = f"""
    WITH norm AS (
      SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
      FROM documents
    ), tok AS (
      SELECT doc_id, md5(unnest(string_split(t, ' '))) AS m FROM norm
    ), bs AS (
      SELECT doc_id, {_SIMHASH_BITS}
      FROM tok GROUP BY doc_id
    ), sig AS (
      SELECT doc_id, {_SIMHASH_SIG} AS s FROM bs
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.s, b.s)) <= 3
"""


@register("dedup_simhash_pairs", _SIMHASH_ORACLE)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = simhash_pairs(docs, "doc_id", "text", max_hamming=3)
    return out.withColumn("hamming", F.col("hamming").cast("long"))


_NGRAM_ORACLE = """
    WITH norm AS (
      SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(0, greatest(len(toks)-3, 0)+1),
                                          i -> array_to_string(toks[i+1:i+3], ' '))) AS s
      FROM (SELECT doc_id, string_split(t, ' ') AS toks FROM norm)
    ), ex AS (
      SELECT doc_id, unnest(s) AS g FROM sh
    ), sizes AS (
      SELECT doc_id, len(s) AS n FROM sh
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), scored AS (
      SELECT id_a, id_b,
             CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jr
      FROM inter
      JOIN sizes na ON na.doc_id = id_a
      JOIN sizes nb ON nb.doc_id = id_b
    )
    -- filter on the EXACT ratio (identical integer division on both
    -- engines), round only for display — matches the operator, which
    -- must prune candidates and accept pairs by the same boundary
    SELECT id_a, id_b, ROUND(jr, 4) AS jaccard_sim FROM scored WHERE jr >= 0.6
    """


@register("dedup_ngram_jaccard_pairs", _NGRAM_ORACLE)
def q_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.6)


# --- cross-document duplicated-n-gram fraction (passage-level dedup) --------

_CROSS_NGRAM_ORACLE = """
    WITH norm AS (
      SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
      FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(w) - 9, 1) + 1),
                 i -> md5(array_to_string(w[i:i+9], ' ')))) AS g
        FROM (SELECT doc_id, string_split(t, ' ') AS w FROM norm)
      )
    ), freq AS (
      SELECT g, COUNT(*) AS df FROM grams GROUP BY g
    )
    SELECT gr.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN f.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           ROUND(CAST(SUM(CASE WHEN f.df > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS shared_ratio
    FROM grams gr JOIN freq f USING (g)
    GROUP BY gr.doc_id
    """


@register("dedup_cross_doc_ngrams", _CROSS_NGRAM_ORACLE)
def q_cross_doc_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level dedup signal: fraction of each document's distinct
    word-10-grams that appear in at least one other document (Lee et
    al. 2022 ExactSubstr family at n-gram granularity). Reference has
    no dedup at all (SURVEY §2 marks the category absent)."""
    from ..operators.dedup import cross_doc_ngram_stats

    docs = load_table(spark, sf_dir, "documents")
    return cross_doc_ngram_stats(docs, "doc_id", "text", n=10)


# --- PageRank over the part co-purchase graph (iterative algorithm) ---------


def _pagerank_oracle(iters: int = 5) -> str:
    """Unrolled replay of operators/graph.py:pagerank. Each iteration
    CTE performs the SAME double operations in the same written order
    (base + 0.85 * SUM(rank/outdeg), then ROUND to 10 decimals), so
    the per-iteration quantization keeps both engines' states
    bit-identical; unordered SUM drift (~1e-16) never reaches the
    10th decimal."""
    head = """
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
    ), deg AS (
      SELECT src, COUNT(*) AS outdeg FROM pairs GROUP BY src
    ), nodes AS (
      SELECT DISTINCT src AS node FROM pairs
    ), nn AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
    ), r0 AS (
      SELECT node, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes
    )"""
    its = "".join(
        f""", r{t + 1} AS (
      SELECT e.dst AS node,
             ROUND((CAST(1 AS DOUBLE) - CAST('0.85' AS DOUBLE))
                     / (SELECT n FROM nn)
                   + CAST('0.85' AS DOUBLE) * SUM(p.rank / d.outdeg),
                   10) AS rank
      FROM r{t} p
      JOIN pairs e ON e.src = p.node
      JOIN deg d ON d.src = p.node
      GROUP BY e.dst
    )"""
        for t in range(iters)
    )
    return (
        head
        + its
        + f"""
    SELECT node, ROUND(rank, 6) AS pagerank FROM r{iters}
    """
    )


@register("graph_pagerank_parts", _pagerank_oracle(5))
def q_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over parts co-occurring in the same order — the
    link-analysis importance signal (domain authority in a web-corpus
    pipeline) as 5 power-method iterations of pure DataFrame joins."""
    from ..operators.graph import pagerank
    from .graph_shared import part_cooccurrence_edges

    edges, _ = part_cooccurrence_edges(spark, sf_dir)
    return pagerank(edges, iters=5)


# --- event attribution (batch twin of the stream-stream join) ---------------


@register(
    "event_attribution",
    """
    SELECT v.user_id,
           v.event_id AS view_id,
           p.event_id AS purchase_id,
           v.ts AS view_ts,
           p.ts AS purchase_ts,
           CAST(floor(epoch(p.ts)) - floor(epoch(v.ts)) AS BIGINT) AS gap_s
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND v.ts <= p.ts AND p.ts <= v.ts + INTERVAL 6 HOUR
    """,
)
def q_event_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Views attributed to purchases within 6h per user — the batch
    twin of streaming/joins.py's watermarked stream-stream self-join
    (same attribution_join definition, two execution modes)."""
    from ..streaming.joins import batch_attribution

    events = load_table(spark, sf_dir, "events")
    return batch_attribution(events, max_gap="6 hours")


# --- windowed event aggregation (batch twin of the streaming job) ---------------


@register(
    "events_tumbling_window",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def q_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return tumbling_counts(events, "1 hour")


@register(
    "events_sliding_window",
    # The HLL sketch itself has no SQL twin, so the hash-verifiable
    # content is (a) the sliding-window assignment + exact distinct
    # count and (b) an assertion that the sketch lands within a 30%
    # envelope of truth per window (HLL's rsd=0.05 guarantee is
    # asymptotic; sf0.01 windows hold a handful of users, where the
    # observed max deviation is 0.2).
    """
    WITH assigned AS (
      SELECT user_id,
             unnest([
               CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800) AS TIMESTAMP),
               CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800 - 1800) AS TIMESTAMP)
             ]) AS window_start
      FROM events
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           COUNT(DISTINCT user_id) AS n_users,
           TRUE AS sketch_within_tol
    FROM assigned
    GROUP BY window_start
    """,
)
def q_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    approx = sliding_user_activity(events)
    exact = (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_users",
        )
    )
    return approx.join(exact, ["window_start", "window_end"]).select(
        "window_start",
        "window_end",
        "n_users",
        (
            F.abs(F.col("approx_users") - F.col("n_users")) / F.col("n_users") <= 0.3
        ).alias("sketch_within_tol"),
    )


# --- multimodal plumbing (mapInPandas; binary built from text bytes) -------------


def _multimodal_oracle(dim: int = 8) -> str:
    """SQL twin of the multimodal plumbing run: the stub extractor's
    byte-fold (acc[i % dim] += byte; f_k = round(acc_k/total, 6)) is
    deterministic byte math, so DuckDB replays it over the SAME binary
    column — hex-decode each byte position, fold mod ``dim``,
    normalize. This hash-gates the Arrow plumbing, partitioning, and
    fold WITHOUT pretending the media decode is real (the decode stays
    an honest stub; a real codec would replace _fake_features and this
    query would drop back to rows-only)."""
    hexd = "0123456789ABCDEF"
    folds = ", ".join(
        f"SUM(CASE WHEN k = {k} THEN v END) AS s{k}" for k in range(dim)
    )
    total = " + ".join(f"COALESCE(s{k}, 0)" for k in range(dim))
    feats = ", ".join(
        f"ROUND(COALESCE(s{k}, 0) / t, 6) AS f{k}" for k in range(dim)
    )
    zeros = ", ".join(f"0.0 AS f{k}" for k in range(dim))
    return f"""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS n
      FROM documents
    ), ex AS (
      SELECT doc_id, unnest(range(n)) AS i, h FROM b WHERE n > 0
    ), byt AS (
      SELECT doc_id, CAST(i % {dim} AS INTEGER) AS k,
             (strpos('{hexd}', substr(h, CAST(i*2+1 AS INTEGER), 1)) - 1) * 16
             + strpos('{hexd}', substr(h, CAST(i*2+2 AS INTEGER), 1)) - 1 AS v
      FROM ex
    ), acc AS (
      SELECT doc_id, {folds} FROM byt GROUP BY doc_id
    ), normed AS (
      SELECT doc_id, CAST(greatest({total}, 1) AS DOUBLE) AS t, *
      FROM acc
    )
    SELECT b.doc_id AS asset_id,
           CAST(COALESCE(b.n, 0) AS BIGINT) AS n_bytes,
           {feats}
    FROM b JOIN normed USING (doc_id)
    UNION ALL
    SELECT b.doc_id AS asset_id, CAST(COALESCE(b.n, 0) AS BIGINT) AS n_bytes,
           {zeros}
    FROM b WHERE COALESCE(b.n, 0) = 0
    """


@register("multimodal_features", _multimodal_oracle())
def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import FEATURE_DIM, extract_features

    docs = load_table(spark, sf_dir, "documents")
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("data"),
        F.struct(
            F.lit("image/fake").alias("mime"),
            F.lit(64).cast("int").alias("width"),
            F.lit(64).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    # features unpacked to one double column per lane: the driver's
    # value-hash canonicalizer sorts rows and cannot hash a raw list
    # column, and scalar lanes let the oracle compare NUMBERS instead
    # of a formatted string
    feats = extract_features(assets)
    return feats.select(
        "asset_id",
        "n_bytes",
        *[
            F.element_at("features", k + 1).alias(f"f{k}")
            for k in range(FEATURE_DIM)
        ],
    )


# --- MERGE semantics as a pure query (full-outer CASE replay) ----------------


@register(
    "merge_upsert_semantics",
    """
    WITH t AS (
      SELECT o_orderkey AS k, ROUND(o_totalprice, 2) AS val,
             o_orderstatus AS status, 1 AS ver
      FROM orders WHERE o_orderkey % 7 <> 0
    ), u AS (
      SELECT o_orderkey AS k, ROUND(o_totalprice * 2, 2) AS val,
             'U' AS status,
             CASE WHEN o_orderkey % 5 = 0 THEN 0 ELSE 2 END AS ver,
             (o_orderkey % 9 = 0) AS deleted
      FROM orders WHERE o_orderkey % 3 = 0
    ), j AS (
      SELECT COALESCE(u.k, t.k) AS k,
             (u.k IS NOT NULL AND (t.k IS NULL OR u.ver >= t.ver)) AS w,
             COALESCE(u.deleted, FALSE) AS tomb,
             t.val AS tval, t.status AS tstatus, t.ver AS tver,
             u.val AS uval, u.status AS ustatus, u.ver AS uver
      FROM t FULL OUTER JOIN u ON t.k = u.k
    )
    SELECT k,
           CASE WHEN w THEN uval ELSE tval END AS val,
           CASE WHEN w THEN ustatus ELSE tstatus END AS status,
           CASE WHEN w THEN uver ELSE tver END AS ver
    FROM j WHERE NOT (w AND tomb)
    """,
)
def q_merge_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The version-conditional MERGE (jobs/upsert.py) as a pure query
    over deterministically-derived target/update sets, so the CDC
    semantics themselves — stale-loses, tombstone-wins, insert,
    version tie — sit behind the driver's hash gate, not only pytest.
    Exercises: matched newer update (%3, not %5), matched STALE update
    ignored (%15), winning tombstone (%9), stale tombstone ignored
    (%45), insert of a key absent from target (%21)."""
    from ..jobs.upsert import merge_upsert

    orders = load_table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.round("o_totalprice", 2).alias("val"),
        F.col("o_orderstatus").alias("status"),
        F.lit(1).alias("ver"),
    )
    updates = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 2, 2).alias("val"),
        F.lit("U").alias("status"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(0))
        .otherwise(F.lit(2))
        .alias("ver"),
        (F.col("o_orderkey") % 9 == 0).alias("deleted"),
    )
    return merge_upsert(
        target, updates, "k", tombstone_col="deleted", order_col="ver"
    )


# --- count-min sketch heavy hitters (md5 family -> fully replayable) ---------


def _hex_fold(expr: str, nchars: int = 8) -> str:
    """SQL for int(substr(<expr>, 1, nchars), 16) built from digit
    positions — DuckDB's portable stand-in for Spark's conv()."""
    hexd = "0123456789abcdef"
    terms = " + ".join(
        f"(strpos('{hexd}', substr({expr}, {j + 1}, 1)) - 1) * {16 ** (nchars - 1 - j)}"
        for j in range(nchars)
    )
    return f"({terms})"


def _cms_oracle(depth: int = 4, width: int = 256, k: int = 30) -> str:
    h = _hex_fold("md5(CAST(i AS VARCHAR) || ':' || token)")
    return f"""
    WITH norm AS (
      SELECT regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
      FROM documents
    ), tokens AS (
      SELECT unnest(string_split(t, ' ')) AS token FROM norm
    ), true_counts AS (
      SELECT token, COUNT(*) AS true_count FROM tokens GROUP BY token
    ), top AS (
      SELECT token, true_count FROM true_counts
      ORDER BY true_count DESC, token LIMIT {k}
    ), coords AS (
      SELECT token, i, {h} % {width} AS hh
      FROM tokens, (SELECT unnest(range({depth})) AS i)
    ), cells AS (
      SELECT i, hh, COUNT(*) AS cnt FROM coords GROUP BY i, hh
    ), qcoords AS (
      SELECT t.token, q.i,
             {_hex_fold("md5(CAST(q.i AS VARCHAR) || ':' || t.token)")}
               % {width} AS hh
      FROM top t, (SELECT unnest(range({depth})) AS i) q
    ), est AS (
      SELECT qc.token, MIN(COALESCE(c.cnt, 0)) AS cms_est
      FROM qcoords qc LEFT JOIN cells c ON c.i = qc.i AND c.hh = qc.hh
      GROUP BY qc.token
    )
    SELECT t.token, t.true_count, e.cms_est,
           CAST(e.cms_est - t.true_count AS BIGINT) AS overcount
    FROM top t JOIN est e USING (token)
    """


@register("token_cms_heavy_hitters", _cms_oracle())
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates for the corpus's top-30
    tokens, alongside exact counts (the one-sided-error witness:
    overcount is always >= 0). The sketch is the aggregation state —
    mergeable across partitions by construction — and the md5 hash
    family lets DuckDB replay every cell."""
    from ..operators.sketches import cms_build_weighted, cms_estimate

    docs = load_table(spark, sf_dir, "documents")
    # ONE corpus-wide shuffle (map-side partial-aggregated) collapses
    # the token stream to (token, count); both the exact-count branch
    # and the sketch build read the tiny vocab table — the sketch
    # cells are linear in multiplicity, so the weighted build is
    # cell-identical to hashing the raw stream at |vocab|/|stream| of
    # the md5 work (cms_build_weighted docstring)
    counts = (
        docs.select(F.explode(F.split(normalize_text("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    top = counts.orderBy(F.desc("true_count"), F.asc("token")).limit(30)
    cells = cms_build_weighted(counts, "token", "true_count", depth=4, width=256)
    est = cms_estimate(cells, top, "token", depth=4, width=256)
    return top.join(est, "token").select(
        "token",
        "true_count",
        "cms_est",
        (F.col("cms_est") - F.col("true_count")).alias("overcount"),
    )


# --- distributed BPE vocabulary training (unrolled-CTE oracle) ---------------


def _bpe_oracle(n_merges: int = 10) -> str:
    """Replay of operators/bpe.py:bpe_train: each stage recomputes
    weighted adjacent-pair counts over the evolving vocab, takes the
    (count desc, pair asc) argmax, and applies the merge with the same
    left-to-right non-overlapping string replacement Spark uses —
    integer counts and deterministic ties make the whole iterative
    training hash-checkable."""
    parts = [
        """
    WITH w0 AS MATERIALIZED (
      SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS w, cnt FROM (
        SELECT word, COUNT(*) AS cnt FROM (
          SELECT unnest(string_split(
            regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS word
          FROM documents
        ) WHERE length(word) > 0 GROUP BY word
      )
    )"""
    ]
    for k in range(n_merges):
        parts.append(
            f""", p{k} AS MATERIALIZED (
      SELECT sym[i] || ' ' || sym[i+1] AS p, SUM(cnt) AS s FROM (
        SELECT sym, cnt, unnest(range(1, len(sym))) AS i
        FROM (SELECT string_split(w, ' ') AS sym, cnt FROM w{k})
      ) GROUP BY 1
    ), b{k} AS MATERIALIZED (
      SELECT p, s FROM p{k} ORDER BY s DESC, p LIMIT 1
    ), w{k + 1} AS MATERIALIZED (
      -- doubled-separator merge (see operators/bpe.py:_apply_merge):
      -- adjacent pair occurrences share a boundary space in the
      -- single-space form, so replace there misses every second one
      SELECT replace(trim(replace(
               ' ' || replace(w, ' ', '  ') || ' ',
               ' ' || replace((SELECT p FROM b{k}), ' ', '  ') || ' ',
               ' ' || replace((SELECT p FROM b{k}), ' ', '') || ' ')),
             '  ', ' ') AS w,
             cnt
      FROM w{k}
    )"""
        )
    # selecting FROM b{k} (not scalar subqueries) makes an exhausted
    # stage contribute ZERO rows, matching bpe_train's early break on
    # a vocabulary that runs out of pairs before n_merges
    rows = "\n    UNION ALL\n    ".join(
        f"SELECT {k} AS merge_rank, p AS pair,"
        f" replace(p, ' ', '') AS merged,"
        f" CAST(s AS BIGINT) AS pair_count FROM b{k}"
        for k in range(n_merges)
    )
    return "".join(parts) + "\n    " + rows


@register("bpe_merge_table", _bpe_oracle(10))
def q_bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a 10-merge BPE vocabulary on the corpus (Sennrich et al.
    2016) — one distributed distinct-word count, collected once, and
    the merge rounds on the driver. The emitted merge table IS the
    learned tokenizer; the oracle re-derives it from scratch."""
    import pandas as pd

    from ..operators.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", n_merges=10)
    # a pandas frame takes the Arrow path into the JVM; a Python list
    # is parallelized, so every action on it starts Python workers
    cols = ["merge_rank", "pair", "merged", "pair_count"]
    return spark.createDataFrame(
        pd.DataFrame(merges, columns=cols),
        "merge_rank int, pair string, merged string, pair_count long",
    )


# --- KMV bottom-k sketches: cross-source overlap estimation ------------------

_KMV_ORACLE = """
    WITH norm AS (
      SELECT source, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
      FROM documents
    ), grams AS (
      SELECT DISTINCT source, g FROM (
        SELECT source,
               unnest(list_transform(
                 range(1, greatest(len(w) - 3, 1) + 1),
                 i -> array_to_string(w[i:i+3], ' '))) AS g
        FROM (SELECT source, string_split(t, ' ') AS w FROM norm)
      )
    ), hashed AS (
      SELECT source, md5(g) AS h FROM grams
    ), ranked AS (
      SELECT source, h,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
      FROM hashed
    ), sk AS (
      SELECT source, list(h ORDER BY h) AS sk
      FROM ranked WHERE rn <= 32 GROUP BY source
    ), est AS (
      SELECT a.source AS source_a, b.source AS source_b,
             ROUND(
               len(list_intersect(list_intersect(
                     list_sort(list_distinct(list_concat(a.sk, b.sk)))[1:32],
                     a.sk), b.sk))
               / len(list_sort(list_distinct(list_concat(a.sk, b.sk)))[1:32]),
               4) AS kmv_jaccard
      FROM sk a JOIN sk b ON a.source < b.source
    ), sizes AS (
      SELECT source, COUNT(*) AS n FROM grams GROUP BY source
    ), inter AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS i
      FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT e.source_a, e.source_b, e.kmv_jaccard,
           ROUND(COALESCE(x.i, 0)
                 / (na.n + nb.n - COALESCE(x.i, 0)), 4) AS exact_jaccard
    FROM est e
    LEFT JOIN inter x
      ON x.source_a = e.source_a AND x.source_b = e.source_b
    JOIN sizes na ON na.source = e.source_a
    JOIN sizes nb ON nb.source = e.source_b
    """


@register("source_overlap_kmv", _KMV_ORACLE)
def q_source_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content-overlap estimation from KMV bottom-32
    sketches over word-4-gram sets — the way two 100 TB corpora are
    compared WITHOUT joining them (per-source state is 32 hashes).
    Exact Jaccard rides along as the error witness; at this SF the
    oracle replays both sides."""
    from ..operators.sketches import kmv_pair_jaccard, kmv_sketches

    docs = load_table(spark, sf_dir, "documents")
    n = 4
    # narrow (id, source, tokens) exchange before the 4-gram explode
    # so the per-position slice/join + partial distinct run at shuffle
    # parallelism, not inside the scan stage (one task on a
    # single-row-group parquet; guide §2.5 repartition-after-read)
    words = docs.select(
        "doc_id", "source", F.split(normalize_text("text"), " ").alias("__w")
    ).transform(lambda d: fanout_repartition(d, "doc_id")).select("source", "__w")
    grams = (
        words.select(
            "source",
            "__w",
            F.explode(
                F.sequence(
                    F.lit(1), F.greatest(F.size("__w") - F.lit(n - 1), F.lit(1))
                )
            ).alias("__i"),
        )
        .select(
            "source",
            F.array_join(F.slice(F.col("__w"), F.col("__i"), n), " ").alias("g"),
        )
        .distinct()
    )
    # grams is .distinct() output — the sketch can skip its own dedup
    # exchange (assume_distinct), saving a second corpus-wide shuffle.
    sk = kmv_sketches(grams, "source", "g", k=32, assume_distinct=True)
    est = kmv_pair_jaccard(sk, "source", k=32)
    sizes = grams.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    # exact-intersection witness WITHOUT the gram self-join: group each
    # gram's (tiny, bounded-by-#sources) source set once and explode
    # its ordered pairs — one exchange of the gram table instead of a
    # two-sided shuffle join carrying it twice
    bysrc = grams.groupBy("g").agg(F.sort_array(F.collect_set("source")).alias("__ss"))
    pair_of = F.filter(
        F.flatten(
            F.transform(
                F.col("__ss"),
                lambda a: F.transform(
                    F.col("__ss"), lambda b: F.struct(a.alias("sa"), b.alias("sb"))
                ),
            )
        ),
        lambda p: p.sa < p.sb,
    )
    inter = (
        bysrc.filter(F.size("__ss") >= 2)
        .select(F.explode(pair_of).alias("p"))
        .select(F.col("p.sa").alias("sa"), F.col("p.sb").alias("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        est.join(
            inter,
            (est.source_a == inter.sa) & (est.source_b == inter.sb),
            "left",
        )
        .join(sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na")), "source_a")
        .join(sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb")), "source_b")
        .select(
            "source_a",
            "source_b",
            "kmv_jaccard",
            F.round(
                F.coalesce(F.col("i"), F.lit(0))
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("i"), F.lit(0))),
                4,
            ).alias("exact_jaccard"),
        )
    )


# --- from-scratch HyperLogLog (md5 registers -> fully replayable) ------------


def _hll_oracle(p: int = 8) -> str:
    from ..operators.sketches import hll_alpha

    m = 2**p
    wbits = 60 - p
    two_w = 2**wbits
    am2 = repr(hll_alpha(m) * m * m)
    h = _hex_fold("md5(CAST(user_id AS VARCHAR))", 15)
    return f"""
    WITH hh AS (
      SELECT {h} // {two_w} AS bucket,
             {h} % {two_w} AS w
      FROM events
    ), rr AS (
      SELECT bucket,
             MAX(CASE WHEN w = 0 THEN {wbits + 1}
                      ELSE {wbits} - length(bin(w)) + 1 END) AS rho_max
      FROM hh GROUP BY bucket
    ), allb AS (
      SELECT unnest(range({m})) AS bucket
    ), regs AS (
      SELECT COALESCE(rho_max, 0) AS r FROM allb LEFT JOIN rr USING (bucket)
    ), agg AS (
      SELECT SUM(power(CAST(2 AS DOUBLE), -r)) AS z,
             CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
      FROM regs
    ), est AS (
      SELECT CASE WHEN (CAST('{am2}' AS DOUBLE) / z)
                       <= CAST('{2.5 * m}' AS DOUBLE) AND v > 0
                  THEN CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE) / v)
                  ELSE CAST('{am2}' AS DOUBLE) / z END AS e
      FROM agg
    )
    SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_exact,
           ROUND(e, 2) AS hll_est,
           -- NULL rel_err on an empty stream (division by the exact
           -- count of zero is an ANSI task failure on the Spark side)
           CASE WHEN (SELECT COUNT(DISTINCT user_id) FROM events) > 0 THEN
             ROUND(ABS(ROUND(e, 2)
                       - (SELECT COUNT(DISTINCT user_id) FROM events))
                   / (SELECT COUNT(DISTINCT user_id) FROM events), 4) END AS rel_err
    FROM est
    """


@register("events_distinct_users_hll", _hll_oracle())
def q_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch HyperLogLog (Flajolet et al. 2007) distinct-user
    estimate vs the exact count — unlike approx_count_distinct, every
    register and the estimate itself replay in DuckDB (md5 hash, bit
    math, identical correction branch). Registers merge by MAX, the
    mergeable-sketch counterpart to count-min's sums."""
    from ..operators.sketches import hll_estimate, hll_registers

    events = load_table(spark, sf_dir, "events")
    est = hll_estimate(hll_registers(events, "user_id", p=8), p=8)
    exact = events.agg(F.countDistinct("user_id").alias("n_exact"))
    return exact.crossJoin(est).select(
        "n_exact",
        "hll_est",
        # NULL on an empty stream: /0 under ANSI is a task failure
        # (empty-lake tier of the degenerate gate)
        F.when(
            F.col("n_exact") > 0,
            F.round(
                F.abs(F.col("hll_est") - F.col("n_exact")) / F.col("n_exact"), 4
            ),
        ).alias("rel_err"),
    )


# --- snapshot change feed (Delta-CDF shape from plain snapshots) -------------


@register(
    "table_change_feed",
    """
    WITH old AS (
      SELECT o_orderkey AS k, ROUND(o_totalprice, 2) AS val,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 11 <> 0
    ), new AS (
      SELECT o_orderkey AS k,
             ROUND(CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 2
                        ELSE o_totalprice END, 2) AS val,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 13 <> 0
    ), j AS (
      SELECT COALESCE(n.k, o.k) AS k,
             CASE WHEN o.k IS NULL THEN 'insert'
                  WHEN n.k IS NULL THEN 'delete'
                  WHEN NOT (o.val IS NOT DISTINCT FROM n.val
                            AND o.status IS NOT DISTINCT FROM n.status)
                    THEN 'update'
             END AS change_type,
             n.val AS val, n.status AS status
      FROM old o FULL OUTER JOIN new n ON o.k = n.k
    )
    SELECT k, change_type, val, status FROM j
    WHERE change_type IS NOT NULL
    """,
)
def q_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """snapshot_diff (Delta-CDF shape) over two deterministically-
    derived versions of orders: %11 keys are inserts, %13 keys are
    deletes, even keys get a price update, odd non-multiples are
    unchanged and must NOT appear."""
    from ..jobs.incremental_gold import snapshot_diff

    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 11 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.round("o_totalprice", 2).alias("val"),
        F.col("o_orderstatus").alias("status"),
    )
    new = orders.filter(F.col("o_orderkey") % 13 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.round(
            F.when(
                F.col("o_orderkey") % 2 == 0, F.col("o_totalprice") * 2
            ).otherwise(F.col("o_totalprice")),
            2,
        ).alias("val"),
        F.col("o_orderstatus").alias("status"),
    )
    return snapshot_diff(old, new, "k")


# --- real-codec PNG round trip (oracle via the identity property) ------------


def _png_roundtrip_oracle() -> str:
    """The PNG codec itself (zlib) is not SQL-replayable, but the
    ROUND TRIP is oracle-able through the identity decode(encode(x))
    == x: the Spark side builds a 4x4 gray image from the 16 bytes of
    md5(text), pushes it through the REAL encoder+decoder
    (operators/codecs.py), and emits stats OF THE DECODED PIXELS;
    DuckDB computes the same stats directly from the md5 bytes. Any
    corruption anywhere in the codec chain (chunk framing, DEFLATE,
    defiltering, buffer layout) breaks the hash."""
    hexd = "0123456789abcdef"
    return f"""
    WITH h AS (
      -- NULL text has no payload to round-trip (mirrors the Spark
      -- side's seed IS NOT NULL filter)
      SELECT doc_id, md5(text) AS hx FROM documents WHERE text IS NOT NULL
    ), ex AS (
      SELECT doc_id, unnest(range(16)) AS i, hx FROM h
    ), byt AS (
      SELECT doc_id,
             (strpos('{hexd}', substr(hx, CAST(i*2+1 AS INTEGER), 1)) - 1) * 16
             + strpos('{hexd}', substr(hx, CAST(i*2+2 AS INTEGER), 1)) - 1 AS v
      FROM ex
    )
    SELECT doc_id, 4 AS width, 4 AS height,
           CAST(SUM(v) AS BIGINT) AS pixel_sum,
           TRUE AS roundtrip_ok
    FROM byt GROUP BY doc_id
    """


@register("multimodal_png_roundtrip", _png_roundtrip_oracle())
def q_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the REAL pure-stdlib PNG codec through the hash gate:
    encode 16 deterministic bytes per doc as an actual PNG, decode it
    back with the real decoder, report decoded stats."""
    docs = load_table(spark, sf_dir, "documents")
    # NULL text -> NULL seed -> bytes(None) would kill the batch; no
    # payload means nothing to round-trip (degenerate-gate finding)
    src = docs.select("doc_id", F.unhex(F.md5("text")).alias("seed")).filter(
        F.col("seed").isNotNull()
    )

    def _rt(batches):
        import numpy as np

        from ..operators.codecs import decode_png, encode_png

        for pdf in batches:
            out = {
                "doc_id": [],
                "width": [],
                "height": [],
                "pixel_sum": [],
                "roundtrip_ok": [],
            }
            for did, seed in zip(pdf["doc_id"], pdf["seed"]):
                arr = np.frombuffer(bytes(seed), np.uint8).reshape(4, 4, 1)
                dec = decode_png(encode_png(arr))
                out["doc_id"].append(did)
                out["width"].append(dec.shape[1])
                out["height"].append(dec.shape[0])
                out["pixel_sum"].append(int(dec.sum()))
                out["roundtrip_ok"].append(bool(np.array_equal(dec, arr)))
            import pandas as pd

            yield pd.DataFrame(out)

    return src.mapInPandas(
        _rt,
        "doc_id long, width int, height int, pixel_sum long, "
        "roundtrip_ok boolean",
    )


# --- real-codec WAV round trip (same identity-oracle trick) ------------------


def _wav_roundtrip_oracle() -> str:
    """DuckDB predicts the decoded PCM stats from the md5 bytes: the
    16 seed bytes become 8 little-endian int16 samples (v = b0 +
    256*b1, two's-complement signed), and decode(encode(x)) == x
    means the Spark side's REAL RIFF/PCM round trip must report
    exactly these."""
    hexd = "0123456789abcdef"
    byte = (
        "(strpos('{h}', substr(hx, CAST({p}*2+1 AS INTEGER), 1)) - 1) * 16"
        " + strpos('{h}', substr(hx, CAST({p}*2+2 AS INTEGER), 1)) - 1"
    )
    lo = byte.format(h=hexd, p="i*2")
    hi = byte.format(h=hexd, p="(i*2+1)")
    return f"""
    WITH h AS (
      -- NULL text has no payload to round-trip (mirrors the Spark
      -- side's seed IS NOT NULL filter)
      SELECT doc_id, md5(text) AS hx FROM documents WHERE text IS NOT NULL
    ), ex AS (
      SELECT doc_id, unnest(range(8)) AS i, hx FROM h
    ), smp AS (
      SELECT doc_id, ({lo}) + 256 * ({hi}) AS u FROM ex
    )
    SELECT doc_id, 8000 AS sample_rate, CAST(8 AS BIGINT) AS n_samples,
           1 AS channels,
           CAST(SUM(CASE WHEN u >= 32768 THEN u - 65536 ELSE u END) AS BIGINT)
             AS pcm_sum
    FROM smp GROUP BY doc_id
    """


@register("multimodal_wav_roundtrip", _wav_roundtrip_oracle())
def q_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the REAL stdlib WAV codec through the hash gate: 8
    deterministic int16 samples per doc, encoded to RIFF/PCM and
    decoded back; DuckDB predicts the decoded stats."""
    docs = load_table(spark, sf_dir, "documents")
    # NULL text -> NULL seed -> bytes(None) would kill the batch; no
    # payload means nothing to round-trip (degenerate-gate finding)
    src = docs.select("doc_id", F.unhex(F.md5("text")).alias("seed")).filter(
        F.col("seed").isNotNull()
    )

    def _rt(batches):
        import numpy as np
        import pandas as pd

        from ..operators.codecs import decode_wav, encode_wav

        for pdf in batches:
            out = {
                "doc_id": [],
                "sample_rate": [],
                "n_samples": [],
                "channels": [],
                "pcm_sum": [],
            }
            for did, seed in zip(pdf["doc_id"], pdf["seed"]):
                pcm = np.frombuffer(bytes(seed), "<i2")
                samples, sr = decode_wav(encode_wav(pcm, 8000))
                out["doc_id"].append(did)
                out["sample_rate"].append(sr)
                out["n_samples"].append(int(samples.shape[0]))
                out["channels"].append(int(samples.shape[1]))
                out["pcm_sum"].append(int(samples.sum()))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        _rt,
        "doc_id long, sample_rate int, n_samples long, channels int, "
        "pcm_sum long",
    )


# --- sliding window with EXACT distinct users (full SQL oracle) --------------
# Each event of a [1h window, 30min slide] belongs to exactly 2 windows:
# the one starting at its 30-min-floor and the one 30 min before that.
# Spark's window() aligns to the epoch, as does floor(epoch/1800)*1800.


@register(
    "events_sliding_exact",
    """
    WITH assigned AS (
      SELECT user_id,
             unnest([
               CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800) AS TIMESTAMP),
               CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800 - 1800) AS TIMESTAMP)
             ]) AS window_start
      FROM events
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           COUNT(DISTINCT user_id) AS n_users
    FROM assigned
    GROUP BY window_start
    """,
)
def q_sliding_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_users",
        )
    )


# --- IVF ANN (KMeans coarse quantizer) --------------------------------------
# NOT registered (VERDICT r6 ask #3): the KMeans-trained probe is not
# SQL-replayable and its recall on the ~random testdata embeddings sits
# at n_probe/n_lists (measured 0.4-0.8 across SFs), too close to any
# boolean floor for a stable hash gate — so the registry carries only
# the seeded twin (embedding_ivf_recall), which replays the ENTIRE IVF
# pipeline in DuckDB. The trained path stays covered by pytest
# (tests/test_similarity.py: planted-neighbor recall >= 0.8, index
# build-once cache), which asserts on planted structure a hash cannot.


def _ivf_recall_oracle(k: int = 10, n_lists: int = 8, n_probe: int = 3) -> str:
    """SQL twin of ivf_seeded_recall: the seeded coarse quantizer is
    deterministic (seeds = n_lists smallest md5(vec_id); assignment,
    probe, and rerank all argsort round(cos, 4) with index/id ties), so
    DuckDB replays the ENTIRE IVF pipeline — seed selection through
    recall — not just the final top-k. This hash-gates the IVF probe
    mechanics that the KMeans variant (embedding_ivf_topk) can't."""
    q = f"{_VEC_SQL}::DOUBLE[]"
    return f"""
    WITH seeds AS (
      SELECT embedding::DOUBLE[] AS sv,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
               - 1 AS j
      FROM embeddings WHERE embedding IS NOT NULL
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {n_lists}
    ),
    probe AS (
      SELECT j FROM seeds
      ORDER BY ROUND(list_cosine_similarity(sv, {q}), 4) DESC, j
      LIMIT {n_probe}
    ),
    assigned AS (
      SELECT vec_id, v, j FROM (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS v, s.j,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND(list_cosine_similarity(
                            e.embedding::DOUBLE[], s.sv), 4) DESC, s.j
               ) AS rn
        FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL) e CROSS JOIN seeds s
      ) WHERE rn = 1
    ),
    ivf AS (
      SELECT vec_id FROM assigned
      WHERE j IN (SELECT j FROM probe)
      ORDER BY ROUND(list_cosine_similarity(v, {q}), 4) DESC, vec_id
      LIMIT {k}
    ),
    exact AS (
      SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL
      ORDER BY ROUND(list_cosine_similarity(embedding::DOUBLE[], {q}), 4)
        DESC, vec_id
      LIMIT {k}
    )
    SELECT {k} AS k, {n_probe} AS n_probe,
           ROUND((SELECT COUNT(*) FROM ivf
                  WHERE vec_id IN (SELECT vec_id FROM exact)) / {k}.0, 4)
             AS recall
    """


@register("embedding_ivf_recall", _ivf_recall_oracle())
def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_seeded_recall

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_seeded_recall(emb, QUERY_VEC, k=10, n_lists=8, n_probe=3)


# --- product quantization (seeded codebooks -> fully SQL-replayable) --------


def _pq_core_sql(m: int = 4, ks: int = 8, d: int = 64) -> str:
    """Shared CTE chain replaying the seeded-PQ pipeline in DuckDB:
    seed selection -> sub-codebooks -> per-subspace assignment
    (rounded squared-L2, ties to the smaller center) -> ADC with a
    fixed left-to-right sum over the m lanes (matching the Spark
    expression's evaluation order, so the final round sees the same
    double)."""
    d0 = d // m
    q = f"{_VEC_SQL}::DOUBLE[]"
    adc_sum = " + ".join(
        f"MAX(CASE WHEN a.j = {j} THEN t.qd END)" for j in range(m)
    )
    return f"""
    WITH seeds AS (
      SELECT embedding::DOUBLE[] AS sv,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
               - 1 AS c
      FROM embeddings WHERE embedding IS NOT NULL
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {ks}
    ), subs AS (
      SELECT unnest(range(0, {m})) AS j
    ), book AS (
      SELECT s.c, ss.j, s.sv[ss.j*{d0}+1 : (ss.j+1)*{d0}] AS cv
      FROM seeds s CROSS JOIN subs ss
    ), qsub AS (
      SELECT j, ({q})[j*{d0}+1 : (j+1)*{d0}] AS qv FROM subs
    ), dtab AS (
      SELECT b.j, b.c,
             ROUND(list_aggregate(list_transform(range(1, {d0} + 1),
                   i -> (q.qv[i] - b.cv[i]) * (q.qv[i] - b.cv[i])),
                   'sum'), 4) AS qd
      FROM book b JOIN qsub q USING (j)
    ), base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL
    ), assign AS (
      SELECT vec_id, j, c FROM (
        SELECT e.vec_id, b.j, b.c,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id, b.j
                 ORDER BY ROUND(list_aggregate(list_transform(range(1, {d0} + 1),
                       i -> (e.v[b.j*{d0}+i] - b.cv[i])
                          * (e.v[b.j*{d0}+i] - b.cv[i])),
                       'sum'), 4) ASC, b.c ASC) AS rn
        FROM base e CROSS JOIN book b
      ) WHERE rn = 1
    ), adc AS (
      SELECT a.vec_id, ROUND({adc_sum}, 4) AS approx_l2
      FROM assign a JOIN dtab t ON t.j = a.j AND t.c = a.c
      GROUP BY a.vec_id
    )"""


def _pq_topk_oracle(k: int = 10, m: int = 4, ks: int = 8) -> str:
    return (
        _pq_core_sql(m=m, ks=ks)
        + f"""
    SELECT vec_id, approx_l2 FROM adc
    ORDER BY approx_l2 ASC, vec_id ASC LIMIT {k}
    """
    )


def _pq_recall_oracle(k: int = 10, m: int = 4, ks: int = 8) -> str:
    q = f"{_VEC_SQL}::DOUBLE[]"
    return (
        _pq_core_sql(m=m, ks=ks)
        + f""", pq AS (
      SELECT vec_id FROM adc ORDER BY approx_l2 ASC, vec_id ASC LIMIT {k}
    ), exact AS (
      SELECT vec_id FROM base
      ORDER BY ROUND(list_aggregate(list_transform(range(1, 65),
            i -> (v[i] - ({q})[i]) * (v[i] - ({q})[i])), 'sum'), 4)
        ASC, vec_id ASC
      LIMIT {k}
    )
    SELECT {k} AS k, {m} AS m, {ks} AS ks,
           ROUND((SELECT COUNT(*) FROM pq
                  WHERE vec_id IN (SELECT vec_id FROM exact)) / {k}.0, 4)
             AS recall
    """
    )


@register("embedding_pq_topk", _pq_topk_oracle())
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded product-quantization ADC top-k — the memory-bound ANN
    path (m one-byte codes per vector instead of 4*d floats)."""
    from ..operators.similarity import pq_topk_seeded

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk_seeded(emb, QUERY_VEC, k=10, m=4, ks=8)


@register("embedding_pq_recall", _pq_recall_oracle())
def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the seeded-PQ pipeline vs the exact squared-L2 top-k,
    every stage replayed by the DuckDB oracle."""
    from ..operators.similarity import pq_seeded_recall

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_seeded_recall(emb, QUERY_VEC, k=10, m=4, ks=8)


# --- winnowing fingerprints (rolling md5 hash) -------------------------------


@register(
    "doc_winnow_fingerprints",
    # winnowing with the md5 hash family: the window-minima selection is
    # order-based, and lowercase-hex md5 strings compare identically in
    # Spark and DuckDB, so the full fingerprint structure is verifiable
    """
    WITH norm AS (
      -- NULL text dropped (mirrors _norm_base; a NULL doc has no
      -- windows to fingerprint)
      SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
      FROM documents WHERE text IS NOT NULL
    ), grams AS (
      SELECT doc_id,
             list_transform(range(1, greatest(length(t)-4, 1)+1),
                            i -> md5(substr(t, i, 5))) AS hg
      FROM norm
    )
    SELECT doc_id,
           len(list_distinct(list_transform(
                 range(1, greatest(len(hg)-3, 1)+1),
                 i -> list_aggregate(hg[i:i+3], 'min')))) AS n_fingerprints
    FROM grams
    """,
)
def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import winnow_table

    docs = load_table(spark, sf_dir, "documents")
    out = winnow_table(docs, "doc_id", "text")
    return out.select("doc_id", F.size("fingerprints").alias("n_fingerprints"))
