"""Round-6 breadth: curation-operations coverage — leakage-safe
splitting, filter-funnel attribution, and source-level boilerplate
detection.

These are the operational questions a 100 TB curation run answers
daily: "can a near-dup of a training doc leak into eval?" (group-
aware split), "which rule ate 40% of my crawl?" (first-kill funnel),
"is this source mostly template?" (boilerplate grams).

Oracle discipline (house rules): identical aliases both sides; kill
counts and gram counts are integer-exact; the only floats emitted are
final per-doc ratios ROUNDed identically on both engines; the
boilerplate threshold is an integer cross-multiplication so no float
comparison can split engines; NULL sources/splits are preserved as
groups on both sides (GROUP BY keeps NULL; the one join on a nullable
key is null-safe on both sides).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..engine import NORM_SQL, fanout_repartition, normalize_text

from ..catalog import load_table
from ..operators.contamination import semantic_contamination
from ..operators.funnel import funnel_report
from ..operators.sampling import (
    _hex_threshold,
    group_split,
    hash_split,
    token_budget_select,
)
from ..operators.text import (
    boilerplate_ngram_stats,
    language_id,
    quality_score,
    token_count,
    tokens,
)
from ..queries import register
from .breadth4 import _T80, _T90

# --- leakage-safe group split ------------------------------------------------


_GROUP_SPLIT_ORACLE = rf"""
    WITH g AS (
      SELECT doc_id, source, md5({NORM_SQL}) AS fp
      FROM documents
    ), s AS (
      SELECT source, fp,
             CASE WHEN fp IS NULL THEN NULL
                  WHEN substr(md5(fp), 1, 8) < '{_T80}' THEN 'train'
                  WHEN substr(md5(fp), 1, 8) < '{_T90}' THEN 'val'
                  ELSE 'test' END AS split
      FROM g
    )
    SELECT split, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_groups
    FROM s GROUP BY 1, 2
    """


@register("split_leakage_safe", _GROUP_SPLIT_ORACLE)
def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware train/val/test split (operators/sampling.py:
    group_split): the md5 draw is on the exact-duplicate content
    fingerprint, so every copy of a document lands in the SAME split
    and a train→eval near-dup leak is impossible by construction —
    the property a row-keyed split (sample_split_counts) cannot give.
    Reports per (split, source) document and duplicate-group counts;
    NULL-text docs surface as a NULL split, visibly. Pure map-side
    assignment — the one shuffle is the report's groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    tagged = group_split(
        docs.select(
            "doc_id", "source", F.md5(normalize_text("text")).alias("fp")
        ),
        F.col("fp"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    return tagged.groupBy("split", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("fp").cast("long").alias("n_groups"),
    )


# --- filter-funnel first-kill attribution ------------------------------------

_FUNNEL_ORACLE = rf"""
    WITH base AS (
      SELECT doc_id, text, string_split({NORM_SQL}, ' ') AS ts
      FROM documents
    ), sig AS (
      SELECT doc_id, text,
             CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(ts) END AS tok,
             len(list_filter(ts, x -> x IN ('the','and','of','to','in','is','a'))) AS s_en,
             len(list_filter(ts, x -> x IN ('der','die','und','das','ist','ein'))) AS s_de,
             len(list_filter(ts, x -> x IN ('el','la','de','que','los','es'))) AS s_es,
             len(list_filter(ts, x -> x IN ('le','la','les','des','est','une'))) AS s_fr,
             len(list_distinct(ts)) AS nd, len(ts) AS nt,
             CASE WHEN length(text) > 0
                  THEN round(length(regexp_replace(text, '[^.,;:!?''"()\[\]{{}}-]', '', 'g'))
                             * 1.0 / length(text), 4)
                  ELSE 0.0 END AS pr
      FROM base
    ), att AS (
      SELECT doc_id,
             CASE
               WHEN text IS NULL THEN 'null_text'
               WHEN tok < 30 THEN 'too_short'
               WHEN NOT (greatest(s_en, s_de, s_es, s_fr) > 0
                         AND s_en = greatest(s_en, s_de, s_es, s_fr))
                 THEN 'not_english'
               WHEN nd * 2 < nt THEN 'repetitive'
               WHEN round(0.4 * (CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.0 END)
                        + 0.3 * least(CASE WHEN tok > 0 THEN s_en * 1.0 / tok ELSE 0.0 END, 0.3) / 0.3
                        + 0.3 * (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END), 4) < 0.5
                 THEN 'low_quality'
               ELSE NULL
             END AS killed_by
      FROM sig
    ), rules(stage, rule) AS (
      VALUES (1, 'null_text'), (2, 'too_short'), (3, 'not_english'),
             (4, 'repetitive'), (5, 'low_quality')
    ), cnt AS (
      SELECT killed_by AS rule, CAST(COUNT(*) AS BIGINT) AS n_killed
      FROM att WHERE killed_by IS NOT NULL GROUP BY 1
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total FROM att
    )
    SELECT CAST(r.stage AS INT) AS stage, r.rule,
           CAST(total - COALESCE(SUM(COALESCE(c.n_killed, 0)) OVER (
                  ORDER BY r.stage
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS n_in,
           CAST(COALESCE(c.n_killed, 0) AS BIGINT) AS n_killed,
           CAST(total - COALESCE(SUM(COALESCE(c.n_killed, 0)) OVER (
                  ORDER BY r.stage
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                - COALESCE(c.n_killed, 0) AS BIGINT) AS n_out
    FROM rules r LEFT JOIN cnt c USING (rule) CROSS JOIN tot
    """


@register("filter_funnel_report", _FUNNEL_ORACLE)
def q_filter_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-kill funnel over a 5-rule curation cascade (operators/
    funnel.py): NULL text → too short (<30 tokens) → not English
    (stopword langid) → repetitive (distinct-token ratio < 0.5) →
    low quality (composite score < 0.5). Each rejected doc is
    attributed to the FIRST rule that fired; the report is one row
    per rule with in/killed/out counts, zero-kill rules included.
    One map-side CASE pass + one tiny aggregation — same plan at
    100 TB. Rules reuse the registered signal expressions
    (text_language_id / text_quality_score / text_token_count), so
    the funnel is the composition gate over already-proven parts."""
    docs = load_table(spark, sf_dir, "documents")
    rules = [
        ("null_text", F.col("text").isNull()),
        ("too_short", token_count("text") < 30),
        ("not_english", language_id("text") != "en"),
        (
            "repetitive",
            F.size(F.array_distinct(tokens("text"))) * 2
            < F.size(tokens("text")),
        ),
        ("low_quality", quality_score("text") < 0.5),
    ]
    return funnel_report(docs, rules, "doc_id")


# --- source-level boilerplate n-grams ----------------------------------------

_BOILER_ORACLE = rf"""
    WITH base AS (
      SELECT doc_id, source, string_split({NORM_SQL}, ' ') AS toks
      FROM documents WHERE text IS NOT NULL
    ), grams AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 5, 1) + 1),
               i -> array_to_string(toks[i:i+5], ' ')))) AS g
      FROM base
    ), src AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src FROM base GROUP BY 1
    ), gs AS (
      SELECT doc_id, source, g,
             COUNT(*) OVER (PARTITION BY source, g) AS n_with
      FROM grams
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN n_with * 100 >= 20 * s.n_src THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boiler,
           ROUND(SUM(CASE WHEN n_with * 100 >= 20 * s.n_src THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 4) + 0.0 AS boiler_ratio
    FROM gs JOIN src s ON gs.source IS NOT DISTINCT FROM s.source
    GROUP BY doc_id
    """


@register("doc_boilerplate_ratio", _BOILER_ORACLE)
def q_doc_boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate share (operators/text.py:
    boilerplate_ngram_stats): fraction of a doc's distinct word
    6-grams occurring in ≥20% of its source's documents — the
    template/footer signal C4-style cleaning thresholds on. Gram
    document-frequency comes from a window over the gram shuffle
    (grams are per-doc-distinct, so count(*) IS the doc frequency);
    the threshold is an integer cross-multiplication. Oracle replays
    the attribution on raw gram strings (Spark keys on md5
    fingerprints — count-identical)."""
    docs = load_table(spark, sf_dir, "documents")
    return boilerplate_ngram_stats(
        docs, "doc_id", "text", "source", n=6, min_pct=20
    )


# --- semantic eval-set contamination ------------------------------------------

_SEM_CONTAM_ORACLE = """
    WITH c AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id % 20 <> 0 AND embedding IS NOT NULL
    ), b AS (
      SELECT embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id % 20 = 0 AND embedding IS NOT NULL
    ), scored AS (
      SELECT c.vec_id,
             CASE WHEN list_inner_product(c.v, c.v) * list_inner_product(b.v, b.v) <> 0
                  THEN ROUND(list_cosine_similarity(c.v, b.v), 4) END AS cs
      FROM c CROSS JOIN b
    )
    SELECT vec_id, MAX(cs) AS max_cos,
           COALESCE(MAX(cs) >= 0.35, FALSE) AS contaminated
    FROM scored GROUP BY vec_id
    """


@register("contamination_semantic", _SEM_CONTAM_ORACLE)
def q_contamination_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level decontamination (operators/contamination.py:
    semantic_contamination): per corpus vector, max cosine against a
    held-out eval slice (vec_id % 20 == 0) with a contaminated flag
    at 0.35 — catches the paraphrased eval leak ngram screening
    misses. Eval side broadcasts; corpus vectors never shuffle; the
    oracle guards zero norms to NULL exactly like cosine() so a
    degenerate benchmark vector cannot poison the max with NaN."""
    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_contamination(
        emb.filter(F.col("vec_id") % 20 != 0),
        emb.filter(F.col("vec_id") % 20 == 0),
        threshold=0.35,
    )


# --- token-budgeted corpus selection ------------------------------------------

_BUDGET_ORACLE = rf"""
    WITH base AS (
      SELECT doc_id, text, string_split({NORM_SQL}, ' ') AS ts
      FROM documents WHERE text IS NOT NULL
    ), sig AS (
      SELECT doc_id, text,
             CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(ts) END AS tok,
             len(list_filter(ts, x -> x IN ('the','and','of','to','in','is','a'))) AS s_en,
             CASE WHEN length(text) > 0
                  THEN round(length(regexp_replace(text, '[^.,;:!?''"()\[\]{{}}-]', '', 'g'))
                             * 1.0 / length(text), 4)
                  ELSE 0.0 END AS pr
      FROM base
    ), scored AS (
      SELECT doc_id,
             round(0.4 * (CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.0 END)
                 + 0.3 * least(CASE WHEN tok > 0 THEN s_en * 1.0 / tok ELSE 0.0 END, 0.3) / 0.3
                 + 0.3 * (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END), 4) AS q,
             tok AS nt
      FROM sig
    ), c AS (
      SELECT doc_id, q, nt,
             CAST(SUM(nt) OVER (ORDER BY q DESC, doc_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM scored
    )
    SELECT doc_id, q + 0.0 AS quality, CAST(nt AS BIGINT) AS n_tokens,
           cum AS cum_tokens
    FROM c WHERE cum <= 20000
    """


@register("token_budget_selection", _BUDGET_ORACLE)
def q_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill a 20k-token budget with the highest-quality documents
    (operators/sampling.py:token_budget_select). The oracle is the
    textbook single global-order cumsum; the Spark side runs the
    HISTOGRAM two-phase instead — per-quality token totals, boundary
    bucket from a tiny window, per-row ordering confined to the
    boundary bucket — because one reducer owning a 100 TB global sort
    is exactly the plan this operator exists to avoid. Identical
    selection, identical cum_tokens, by construction (the in-bucket
    cumsum resumes from the bucket's global prefix)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    return token_budget_select(
        docs, quality_score("text"), token_count("text"), budget=20000
    )


# --- hybrid retrieval: reciprocal-rank fusion ---------------------------------

_RRF_ORACLE = rf"""
    WITH base AS (
      -- doc_id IS NOT NULL mirrors bm25_topk's base (r8): a NULL-id
      -- doc must neither occupy a top-k slot nor inflate N/avgdl
      SELECT doc_id, string_split({NORM_SQL}, ' ') AS toks
      FROM documents WHERE doc_id IS NOT NULL AND length(trim(text)) > 0
    ), dls AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base
    ), stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dls
    ), tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM base)
      WHERE term IN ('spark', 'hash', 'window', 'merge')
      GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
    ), idf AS (
      SELECT term, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
      FROM dfreq CROSS JOIN stats
    ), bm AS (
      SELECT tf.doc_id,
             ROUND(SUM(idf.idf * (tf.tf * 2.2)
                       / (tf.tf + 1.2 * (0.25 + 0.75 * dls.dl / stats.avgdl))),
                   4) AS score
      FROM tf
      JOIN idf ON tf.term = idf.term
      JOIN dls ON tf.doc_id = dls.doc_id
      CROSS JOIN stats
      GROUP BY tf.doc_id
      ORDER BY score DESC, tf.doc_id
      LIMIT 20
    ), lexr AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rl
      FROM bm
    ), semsc AS (
      SELECT e.vec_id AS doc_id,
             CASE WHEN list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
                       * list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) <> 0
                  THEN ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                                    q.embedding::DOUBLE[]), 4) END AS cs
      FROM embeddings e,
           (SELECT embedding FROM embeddings WHERE vec_id = 7) q
      WHERE e.vec_id <> 7 AND e.embedding IS NOT NULL
    ), semtop AS (
      SELECT doc_id, cs FROM semsc WHERE cs IS NOT NULL
      ORDER BY cs DESC, doc_id LIMIT 20
    ), semr AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cs DESC, doc_id) AS rs
      FROM semtop
    )
    SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
           ROUND(COALESCE(1.0 / (60 + rl), 0.0)
                 + COALESCE(1.0 / (60 + rs), 0.0), 4) AS rrf_score
    FROM lexr l FULL OUTER JOIN semr s ON l.doc_id = s.doc_id
    ORDER BY rrf_score DESC, COALESCE(l.doc_id, s.doc_id)
    LIMIT 10
    """


@register("hybrid_rrf_search", _RRF_ORACLE)
def q_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: BM25 top-20 for a fixed 4-term query fused with
    embedding-cosine top-20 around doc 7's vector via reciprocal-rank
    fusion (operators/retrieval.py:rrf_fuse, k=60) — the standard
    lexical+semantic combiner whose rank-only arithmetic sidesteps the
    arms' incomparable score scales. Both arms reuse already-gated
    operators (bm25_topk, cosine()); the fusion join is top-k-sized
    regardless of corpus size. NULL/zero-norm embeddings are excluded
    from the semantic arm on both engines (cosine()'s NULL convention
    mirrored by the oracle's inner-product guard)."""
    from ..operators.retrieval import bm25_topk, rrf_fuse
    from ..operators.similarity import cosine

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, ["spark", "hash", "window", "merge"], k=20)
    wl = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lex_r = lex.select("doc_id", F.row_number().over(wl).alias("rnk"))
    qv = emb.filter(F.col("vec_id") == 7).select(
        F.col("embedding").cast("array<double>").alias("__qv")
    )
    sem = (
        emb.filter((F.col("vec_id") != 7) & F.col("embedding").isNotNull())
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine(F.col("embedding").cast("array<double>"), F.col("__qv")),
                4,
            ).alias("cs"),
        )
        .filter(F.col("cs").isNotNull())
        .orderBy(F.desc("cs"), F.asc("doc_id"))
        .limit(20)
    )
    ws = Window.orderBy(F.desc("cs"), F.asc("doc_id"))
    sem_r = sem.select("doc_id", F.row_number().over(ws).alias("rnk"))
    return rrf_fuse(lex_r, sem_r, "doc_id", "rnk", k_rrf=60, topk=10)


# --- flagship through the SQL API ---------------------------------------------

#: the flagship as ONE SQL string, runnable verbatim by Spark SQL and
#: (as the oracle) by DuckDB — dialect-shared subset on purpose
_VENDAS_SQL = """
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


@register("vendas_flagship_sqlapi", _VENDAS_SQL)
def q_vendas_flagship_sqlapi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship executed through the ``spark.sql`` SURFACE: the
    tables register as temp views and the exact SQL text the DuckDB
    oracle runs is handed to Spark SQL verbatim (dialect-shared
    subset). Proves a reference user can bring plain SQL — not just
    the DataFrame API — and that Catalyst compiles it to the same
    broadcast-join plan as plans/vendas.py builds declaratively
    (pinned in tests/test_plans.py for the DataFrame twin)."""
    for t in ("lineitem", "orders", "part", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_VENDAS_SQL)


# --- chi-square independence audit ---------------------------------------------

_CHI2_ORACLE = """
    WITH cells AS (
      SELECT source AS a, lang AS b, CAST(COUNT(*) AS BIGINT) AS o
      FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
      GROUP BY 1, 2
    ), t AS (
      SELECT o,
             CAST(SUM(o) OVER (PARTITION BY a) AS BIGINT) AS ra,
             CAST(SUM(o) OVER (PARTITION BY b) AS BIGINT) AS cb,
             CAST(SUM(o) OVER () AS BIGINT) AS n,
             a, b
      FROM cells
    )
    SELECT ROUND(SUM(POW(CAST(o * n - ra * cb AS DOUBLE), 2)
                     / CAST(ra * cb * n AS DOUBLE)), 4) + 0.0 AS chi2,
           CAST((COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) AS BIGINT) AS dof,
           CAST(COALESCE(MAX(n), 0) AS BIGINT) AS n
    FROM t
    """


@register("source_lang_chi2", _CHI2_ORACLE)
def q_source_lang_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence audit of source x lang
    (operators/analytics.py:chi2_independence) — "did curation make
    language depend on source?". One corpus shuffle to the cell
    table, then windowed totals over |sources|x|langs| rows; per-cell
    terms are exact-integer products with ONE double division so both
    engines agree bit-for-bit before the final ROUNDed sum."""
    from ..operators.analytics import chi2_independence

    docs = load_table(spark, sf_dir, "documents")
    return chi2_independence(docs, "source", "lang")


# --- BPE tokenizer APPLY (train -> segment round trip) --------------------------


def _bpe_segment_oracle(n_merges: int = 10) -> str:
    """Training replay (extensions._bpe_oracle's w/b CTE chain) plus
    per-document segmentation: char-split each normalized text with
    '␟' guarding word boundaries, then apply the learned merges in
    order with the same doubled-separator replace as Spark's
    _apply_merge. COALESCE('␟␟') makes an exhausted merge stage a
    no-op ('␟␟' cannot occur — normalization collapses whitespace, so
    separators are never adjacent), mirroring bpe_train's early
    break."""
    parts = [
        r"""
    WITH w0 AS MATERIALIZED (
      SELECT trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS w, cnt FROM (
        SELECT word, COUNT(*) AS cnt FROM (
          SELECT unnest(string_split(
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS word
          FROM documents
        ) WHERE length(word) > 0 GROUP BY word
      )
    ), d0 AS MATERIALIZED (
      SELECT doc_id,
             trim(regexp_replace(
               replace(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                       ' ', '␟'),
               '(.)', '\1 ', 'g')) AS s
      FROM documents WHERE text IS NOT NULL
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
      SELECT replace(trim(replace(
               ' ' || replace(w, ' ', '  ') || ' ',
               ' ' || replace((SELECT p FROM b{k}), ' ', '  ') || ' ',
               ' ' || replace((SELECT p FROM b{k}), ' ', '') || ' ')),
             '  ', ' ') AS w,
             cnt
      FROM w{k}
    ), d{k + 1} AS MATERIALIZED (
      SELECT doc_id, replace(trim(replace(
               ' ' || replace(s, ' ', '  ') || ' ',
               COALESCE(' ' || replace((SELECT p FROM b{k}), ' ', '  ') || ' ',
                        '␟␟'),
               COALESCE(' ' || replace((SELECT p FROM b{k}), ' ', '') || ' ',
                        '␟␟'))),
             '  ', ' ') AS s
      FROM d{k}
    )"""
        )
    parts.append(
        f"""
    SELECT doc_id,
           CASE WHEN length(s) = 0 THEN 0
                ELSE len(string_split(s, ' ')) - len(string_split(s, '␟')) + 1
           END AS bpe_tokens
    FROM d{n_merges}
    """
    )
    return "".join(parts)


@register("bpe_segment_tokens", _bpe_segment_oracle(10))
def q_bpe_segment_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY: train the 10-merge BPE table on the corpus
    (the already-gated bpe_merge_table path) and segment every
    document with it (operators/bpe.py:bpe_segment — map-only chained
    replaces, word boundaries guarded by an unmergeable separator),
    emitting per-doc subword counts. Closes the train->apply loop a
    tokenizer user actually runs; the oracle replays BOTH halves."""
    from ..operators.bpe import bpe_segment, bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", n_merges=10)
    # the segment pass is ~30 chained whole-text replaces per row —
    # repartition first so it runs at core parallelism instead of
    # inside the scan stage (one task on a single-row-group parquet;
    # guide §2.5). The operator itself stays map-only.
    return (
        bpe_segment(
            fanout_repartition(docs.filter(F.col("text").isNotNull()), "doc_id"),
            "text",
            merges,
        )
        .select("doc_id", "bpe_tokens")
    )


# --- two-sample KS drift test ----------------------------------------------------

_KS_ORACLE = r"""
    WITH vals AS (
      SELECT CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split(
                         regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
             END AS v,
             CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS a
      FROM documents WHERE text IS NOT NULL
    ), cells AS (
      SELECT v, CAST(SUM(a) AS BIGINT) AS ca,
             CAST(COUNT(*) - SUM(a) AS BIGINT) AS cb
      FROM vals GROUP BY v
    ), cum AS (
      SELECT CAST(SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cuma,
             CAST(SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumb,
             CAST(SUM(ca) OVER () AS BIGINT) AS na,
             CAST(SUM(cb) OVER () AS BIGINT) AS nb
      FROM cells
    )
    SELECT ROUND(CAST(MAX(ABS(cuma * nb - cumb * na)) AS DOUBLE)
                 / (CASE WHEN MAX(na) > 0 AND MAX(nb) > 0
                         THEN CAST(MAX(na) * MAX(nb) AS DOUBLE) END), 4)
             + 0.0 AS d_stat,
           CAST(COALESCE(MAX(na), 0) AS BIGINT) AS n_a,
           CAST(COALESCE(MAX(nb), 0) AS BIGINT) AS n_b
    FROM cum
    """


@register("doc_length_ks_test", _KS_ORACLE)
def q_doc_length_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test on document token
    counts, src0 vs the rest (operators/analytics.py:ks_two_sample) —
    the shape-sensitive complement of doc_length_psi's fixed buckets.
    The corpus collapses to per-distinct-length cells before any
    window; the sup statistic is exact-integer cross-multiplied with
    one final division."""
    from ..operators.analytics import ks_two_sample
    from ..operators.text import token_count

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    return ks_two_sample(
        docs.select(token_count("text").alias("v"), "source"),
        "v",
        F.col("source") == "src0",
    )


# --- range-frame trailing window -------------------------------------------------

_TRAILING_ORACLE = """
    WITH o AS (
      SELECT o_custkey, o_orderkey,
             CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day,
             o_totalprice
      FROM orders
    )
    SELECT o_custkey, o_orderkey, day,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY day
             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW), 2) AS trailing_30d
    FROM o
    """


@register("orders_trailing_revenue", _TRAILING_ORACLE)
def q_orders_trailing_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-day revenue per customer at every order — the
    RANGE-frame window family (value-based frames over event time,
    distinct from the ROWS frames elsewhere in the registry): ties on
    the same day all see the same frame on both engines by RANGE
    semantics. Per-customer partitions are bounded by customer
    activity; the frame is integer epoch-days so the boundary is
    exact cross-engine."""
    orders = load_table(spark, sf_dir, "orders")
    day = F.floor(
        F.unix_seconds(F.col("o_orderdate").cast("timestamp")) / F.lit(86400)
    ).cast(
        "long"
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(-29, 0)
    )
    return orders.select(
        "o_custkey", "o_orderkey", day.alias("day"), "o_totalprice"
    ).select(
        "o_custkey",
        "o_orderkey",
        "day",
        F.round(F.sum("o_totalprice").over(w), 2).alias("trailing_30d"),
    )


# --- order-insensitive table checksum --------------------------------------------

from .extensions import _hex_fold  # noqa: E402

_CHECKSUM_ORACLE = f"""
    WITH h AS (
      SELECT {_hex_fold(
          "md5(concat_ws(chr(31), CAST(o_orderkey AS VARCHAR),"
          " CAST(o_custkey AS VARCHAR),"
          " COALESCE(o_orderstatus, '␀'), COALESCE(o_orderpriority, '␀'),"
          " CAST(CAST(floor(epoch(o_orderdate)) AS BIGINT) AS VARCHAR)))",
          15,
      )} AS v
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COALESCE(bit_xor(v), 0) AS BIGINT) AS checksum
    FROM h
    """


@register("orders_table_checksum", _CHECKSUM_ORACLE)
def q_orders_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content checksum of orders — the anti-entropy
    primitive for 'are these two replicas/snapshots the same table'
    without sorting or moving rows: per-row md5 folded to a 60-bit
    int, XOR-aggregated (commutative + partial-aggregable, one row
    crosses the wire). Hashed payload sticks to integer/string/epoch
    fields with explicit casts — double-to-string formatting is NOT
    cross-engine-stable, so floats stay out of the hash by design."""
    orders = load_table(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "\x1f",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.coalesce(F.col("o_orderstatus"), F.lit("␀")),
        F.coalesce(F.col("o_orderpriority"), F.lit("␀")),
        F.unix_seconds(F.col("o_orderdate").cast("timestamp"))
        .cast("long")
        .cast("string"),
    )
    v = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("long")
    return orders.select(v.alias("__v")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.coalesce(F.expr("bit_xor(__v)"), F.lit(0)).cast("long").alias("checksum"),
    )


# --- split leakage audit -----------------------------------------------------------

_LEAK_AUDIT_ORACLE = rf"""
    WITH g AS (
      SELECT doc_id,
             md5(array_to_string(
               string_split({NORM_SQL}, ' ')[1:8], ' ')) AS fp
      FROM documents WHERE text IS NOT NULL
    ), labeled AS (
      SELECT fp,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{_T80}' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{_T90}' THEN 'val'
                  ELSE 'test' END AS row_split,
             CASE WHEN substr(md5(fp), 1, 8) < '{_T80}' THEN 'train'
                  WHEN substr(md5(fp), 1, 8) < '{_T90}' THEN 'val'
                  ELSE 'test' END AS grp_split
      FROM g
    ), row_cells AS (
      SELECT fp, row_split AS s, CAST(COUNT(*) AS BIGINT) AS c
      FROM labeled GROUP BY 1, 2
    ), grp_cells AS (
      SELECT fp, grp_split AS s, CAST(COUNT(*) AS BIGINT) AS c
      FROM labeled GROUP BY 1, 2
    ), row_leak AS (
      SELECT CAST(COALESCE(SUM((t * t - sq) / 2), 0) AS BIGINT) AS n_cross_pairs
      FROM (SELECT fp, SUM(c) AS t, SUM(c * c) AS sq FROM row_cells GROUP BY fp)
    ), grp_leak AS (
      SELECT CAST(COALESCE(SUM((t * t - sq) / 2), 0) AS BIGINT) AS n_cross_pairs
      FROM (SELECT fp, SUM(c) AS t, SUM(c * c) AS sq FROM grp_cells GROUP BY fp)
    )
    SELECT 'row_keyed' AS split_mode, n_cross_pairs FROM row_leak
    UNION ALL
    SELECT 'group_keyed', n_cross_pairs FROM grp_leak
    """


@register("split_leak_audit", _LEAK_AUDIT_ORACLE)
def q_split_leak_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The leak audit that justifies group_split: count NEAR-DUP
    PAIRS (8-token-prefix blocking key — the fixture's near-dups share
    prefixes; whole-content md5 finds zero groups here) whose members
    land in different train/val/test splits, under (a) the row-keyed
    hash split and (b) the group-keyed split. Row-keyed leaks pairs
    across the eval boundary; group-keyed is zero BY CONSTRUCTION —
    this query proves it against the oracle rather than asserting it.
    Pair counting is the integer identity (t^2 - sum(c^2))/2 over
    per-(fingerprint, split) cells — never materializes pairs, so a
    million-copy boilerplate cluster costs one cell row per split."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    from ..operators.text import tokens

    base = docs.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(tokens("text"), 1, 8))).alias("fp"),
    )
    both = group_split(
        hash_split(base, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1},
                   split_col="row_split"),
        F.col("fp"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
        split_col="grp_split",
    )

    def leak(label: str, col: str) -> DataFrame:
        cells = both.groupBy("fp", F.col(col).alias("s")).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        per_fp = cells.groupBy("fp").agg(
            F.sum("c").alias("t"), F.sum(F.col("c") * F.col("c")).alias("sq")
        )
        return per_fp.agg(
            F.lit(label).alias("split_mode"),
            F.coalesce(
                F.sum((F.col("t") * F.col("t") - F.col("sq")) / F.lit(2)),
                F.lit(0),
            )
            .cast("long")
            .alias("n_cross_pairs"),
        )

    return leak("row_keyed", "row_split").unionByName(
        leak("group_keyed", "grp_split")
    )


# --- corpus mixture entropy --------------------------------------------------------

_MIX_ENTROPY_ORACLE = r"""
    WITH tok AS (
      SELECT source,
             CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(string_split(
                                  regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                                  ' '))
                      END) AS BIGINT) AS nt
      FROM documents WHERE text IS NOT NULL
      GROUP BY source
    ), tot AS (
      SELECT CAST(SUM(nt) AS BIGINT) AS t FROM tok
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
           CAST(MAX(t) AS BIGINT) AS total_tokens,
           ROUND(COALESCE(SUM(CASE WHEN nt > 0
                  THEN -(nt * 1.0 / t) * ln(nt * 1.0 / t) END), 0.0), 4)
             + 0.0 AS entropy
    FROM tok CROSS JOIN tot
    """


@register("corpus_mixture_entropy", _MIX_ENTROPY_ORACLE)
def q_corpus_mixture_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the corpus's per-source TOKEN shares — the
    one-row mixture-diversity dial a curation run watches while
    rebalancing (max ln(n_sources) = perfectly balanced; falling
    entropy = one source taking over). One aggregation to per-source
    token counts (partial-aggregated), then arithmetic over the
    |sources|-row table with a 1-row broadcast total. Zero-token
    sources contribute no entropy term on either engine (the CASE
    guard keeps ln(0) out); NULL sources form their own group."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    tok = docs.groupBy("source").agg(
        F.sum(token_count("text")).cast("long").alias("nt")
    )
    tot = tok.agg(F.sum("nt").cast("long").alias("t"))
    p = F.col("nt") * F.lit(1.0) / F.col("t")
    return (
        tok.crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sources"),
            F.max("t").cast("long").alias("total_tokens"),
            (
                F.round(
                    F.coalesce(
                        F.sum(F.when(F.col("nt") > 0, -p * F.log(p))),
                        F.lit(0.0),
                    ),
                    4,
                )
                + F.lit(0.0)
            ).alias("entropy"),
        )
    )


# --- duplicate-cluster size histogram -----------------------------------------------

_DUP_HIST_ORACLE = rf"""
    WITH g AS (
      SELECT md5(array_to_string(
               string_split({NORM_SQL}, ' ')[1:8], ' ')) AS fp
      FROM documents WHERE text IS NOT NULL
    ), clusters AS (
      SELECT fp, CAST(COUNT(*) AS BIGINT) AS sz FROM g GROUP BY fp
    )
    SELECT sz AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(sz * COUNT(*) AS BIGINT) AS n_docs
    FROM clusters GROUP BY sz
    """


@register("dup_cluster_histogram", _DUP_HIST_ORACLE)
def q_dup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram over the 8-token-prefix
    blocking key — the dedup-ops dashboard row ("how much of the lake
    is 2x, 10x, 1000x duplicated") that sizes how much a dedup pass
    will remove. Two partial-aggregated groupBys, both with bounded
    key spaces; a million-copy cluster costs one row after the first
    aggregation. Integer-only output."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    from ..operators.text import tokens as _toks

    clusters = docs.select(
        F.md5(F.concat_ws(" ", F.slice(_toks("text"), 1, 8))).alias("fp")
    ).groupBy("fp").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    return clusters.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("long").alias("n_docs"),
    )


# --- packing efficiency report --------------------------------------------------------

_PACK_EFF_ORACLE = """
    WITH RECURSIVE docs AS (
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
    ), per_pack AS (
      SELECT bucket, pack_id, CAST(SUM(n_tok) AS BIGINT) AS used
      FROM pack GROUP BY bucket, pack_id
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_packs,
           CAST(SUM(used) AS BIGINT) AS used_tokens,
           CAST(SUM(greatest(256 - used, 0)) AS BIGINT) AS waste_tokens,
           ROUND(SUM(used) * 1.0 / (COUNT(*) * 256), 4) + 0.0 AS fill_pct
    FROM per_pack GROUP BY bucket
    """


@register("packing_efficiency", _PACK_EFF_ORACLE)
def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste report over the greedy packing (the number a
    training-infra team actually watches: fill_pct IS the fraction of
    paid-for sequence positions carrying real tokens). Composes the
    already-gated pack_sequences output with one per-pack and one
    per-bucket aggregation; waste clamps at zero for oversized
    single-doc packs (they overflow the budget by design, they don't
    pad). fill_pct is one multiply-then-divide so engines agree
    bit-for-bit before ROUND."""
    from ..operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    packed = pack_sequences(
        docs, "doc_id", F.size(F.split(F.col("text"), " ")),
        budget=256, n_buckets=8,
    )
    per_pack = packed.groupBy("bucket", "pack_id").agg(
        F.sum("n_tok").cast("long").alias("used")
    )
    return per_pack.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_packs"),
        F.sum("used").cast("long").alias("used_tokens"),
        F.sum(F.greatest(F.lit(256) - F.col("used"), F.lit(0)))
        .cast("long")
        .alias("waste_tokens"),
        (
            F.round(
                F.sum("used") * F.lit(1.0) / (F.count(F.lit(1)) * F.lit(256)), 4
            )
            + F.lit(0.0)
        ).alias("fill_pct"),
    )


# --- per-group sampled quantiles -------------------------------------------------------


def _grouped_quantile_oracle() -> str:
    thr = _hex_threshold(0.1)
    rows = "\n    UNION ALL\n".join(
        f"""
    SELECT event_type, CAST({q} AS DOUBLE) AS q, ROUND(e{i}, 2) AS est,
           ROUND(x{i}, 2) AS exact,
           ROUND(abs(e{i} - x{i}) / nullif(abs(x{i}), 0), 4) AS rel_err
    FROM j"""
        for i, q in enumerate((0.5, 0.9))
    )
    return f"""
    WITH samp AS (
      SELECT event_type, value FROM events
      WHERE substr(md5('quant' || CAST(event_id AS VARCHAR)), 1, 8) < '{thr}'
    ), e AS (
      SELECT event_type, quantile_cont(value, 0.5) AS e0,
             quantile_cont(value, 0.9) AS e1
      FROM samp GROUP BY event_type
    ), x AS (
      SELECT event_type, quantile_cont(value, 0.5) AS x0,
             quantile_cont(value, 0.9) AS x1
      FROM events GROUP BY event_type
    ), j AS (
      SELECT COALESCE(e.event_type, x.event_type) AS event_type, e0, e1, x0, x1
      FROM e FULL OUTER JOIN x ON e.event_type IS NOT DISTINCT FROM x.event_type
    )
    {rows}
    """


@register("events_value_quantiles_by_type", _grouped_quantile_oracle())
def q_events_value_quantiles_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-event-type p50/p90 of the value column from a 10%
    deterministic hash sample, with the exact quantile and relative
    error alongside (operators/sketches.py:sampled_quantiles_by_group)
    — the per-type latency/value percentile report, and the accuracy
    experiment in one query. The group join is NULL-SAFE so an
    unlabeled (NULL-type) stream keeps its quantiles."""
    from ..operators.sketches import sampled_quantiles_by_group

    ev = load_table(spark, sf_dir, "events")
    return sampled_quantiles_by_group(
        ev, "event_type", "value", "event_id",
        fraction=0.1, quantiles=(0.5, 0.9),
    )
