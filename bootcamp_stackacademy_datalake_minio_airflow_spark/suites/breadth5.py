r"""Round-2 breadth: privacy (PII redaction), Gopher-style repetition
signals, benchmark decontamination, and per-source salient-term lift —
the remaining first-class training-data-pipeline operators.

Oracle notes:
- The synthetic corpus contains no PII, so the PII query first augments
  the text with deterministic doc_id-derived emails/phones/IPs on BOTH
  sides — the regexes are exercised for real, and the redacted output
  is pinned by an md5 signature.
- Contamination defines the "benchmark" set as doc_id % 11 == 0, a
  pure function both engines compute identically.
- All ratios ROUND(4); integer counts CAST to BIGINT on the DuckDB
  side (bare SUM/len would come back HUGEINT -> float64 and break the
  driver's value hash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..engine import NORM_SQL, fanout_repartition, normalize_text

from ..catalog import load_table
from ..operators.contamination import ngram_contamination
from ..operators.privacy import pii_count, redact
from ..operators.text import repetition_signals
from ..queries import register



@register(
    "pii_redaction",
    r"""
    WITH aug AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 3 = 0
                     THEN ' mail user' || CAST(doc_id AS VARCHAR) || '@example.org'
                     ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                     THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                     THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.' || CAST(doc_id % 200 AS VARCHAR)
                     ELSE '' END AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '\b555-[0-9]{4}\b')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
           substr(md5(regexp_replace(regexp_replace(regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b555-[0-9]{4}\b', '<PHONE>', 'g'),
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')), 1, 8) AS red_sig
    FROM aug
    """,
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + redact over the corpus (operators/privacy.py).

    Map-only: augment (deterministic), count matches per kind, redact,
    fingerprint the redacted text. No shuffle anywhere — at 100 TB
    this runs at scan speed with column pruning intact.
    """
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" mail user"), did.cast("string"), F.lit("@example.org")),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" call 555-"), F.lpad((did % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" host 10.0."),
                (did % 256).cast("string"),
                F.lit("."),
                (did % 200).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    base = docs.select("doc_id", aug.alias("__aug"))
    return base.select(
        "doc_id",
        pii_count("__aug", "email").cast("long").alias("n_emails"),
        pii_count("__aug", "phone").cast("long").alias("n_phones"),
        pii_count("__aug", "ipv4").cast("long").alias("n_ips"),
        F.substring(F.md5(redact("__aug")), 1, 8).alias("red_sig"),
    )


@register(
    "text_repetition_signals",
    rf"""
    WITH base AS (
      SELECT doc_id, string_split({NORM_SQL}, ' ') AS toks FROM documents
    ), scalars AS (
      SELECT doc_id,
             round(len(list_distinct(toks)) * 1.0 / len(toks), 4) AS distinct_token_ratio,
             round(list_sum(list_transform(toks, t -> length(t))) * 1.0 / len(toks), 4)
               AS mean_token_len
      FROM base
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
                                   i -> array_to_string(toks[i:i+1], ' '))) AS b
      FROM base
    ), top AS (
      SELECT doc_id, round(max(c) * 1.0 / sum(c), 4) AS top_bigram_frac
      FROM (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2)
      GROUP BY 1
    )
    SELECT s.doc_id, s.distinct_token_ratio, s.mean_token_len, t.top_bigram_frac
    FROM scalars s JOIN top t USING (doc_id)
    """,
)
def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/diversity signals (operators/text.py:
    repetition_signals): distinct-token ratio, mean token length, and
    the fraction of bigrams taken by the modal bigram."""
    docs = load_table(spark, sf_dir, "documents")
    return repetition_signals(docs, "doc_id", "text")


@register(
    "contamination_ngram",
    rf"""
    WITH base AS (
      SELECT doc_id, string_split({NORM_SQL}, ' ') AS toks FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 7, 1) + 1),
               i -> array_to_string(toks[i:i+7], ' ')))) AS g
      FROM base
    ), bench AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 11 = 0
    ), corp AS (
      SELECT doc_id, g FROM grams WHERE doc_id % 11 <> 0
    )
    SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
    FROM corp c JOIN bench b USING (g)
    GROUP BY 1
    """,
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination scan (operators/contamination.py):
    word-8-gram overlap counts between the corpus and a benchmark set
    (doc_id % 11 == 0). The benchmark gram table broadcasts; the
    corpus never joins itself."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 11 == 0)
    corp = docs.filter(F.col("doc_id") % 11 != 0)
    return ngram_contamination(corp, bench, "doc_id", "text", n=8)


@register(
    "source_term_lift",
    rf"""
    WITH tok AS (
      SELECT source, unnest(string_split({NORM_SQL}, ' ')) AS term FROM documents
    ), st AS (
      SELECT source, term, count(*) AS cnt FROM tok GROUP BY 1, 2
    ), stot AS (
      SELECT source, sum(cnt) AS stot FROM st GROUP BY 1
    ), ttot AS (
      SELECT term, sum(cnt) AS ttot FROM st GROUP BY 1
    ), g AS (
      SELECT sum(cnt) AS gtot FROM st
    ), j AS (
      SELECT s.source, s.term,
             round((s.cnt * 1.0 / stot.stot) / (ttot.ttot * 1.0 / g.gtot), 4) AS lift
      FROM st s JOIN stot USING (source) JOIN ttot USING (term) CROSS JOIN g
    )
    SELECT source, term, lift, CAST(rnk AS INT) AS rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY lift DESC, term) AS rnk
      FROM j
    ) WHERE rnk <= 3
    """,
)
def q_source_term_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source salient terms by lift (share-in-source over
    share-in-corpus) — the domain-mixing diagnostic. Three hash
    aggregations + one windowed top-k per source; the term and source
    total tables are tiny and AQE broadcasts them back onto the
    (source, term) counts."""
    docs = load_table(spark, sf_dir, "documents")
    # narrow exchange on the doc id (NOT on source — an enum-sized
    # key would collapse parallelism to |sources| partitions) before
    # the token explode, so the fan-out + partial (source, term)
    # counts run at core parallelism instead of inside the scan
    # stage (one task on a single-row-group parquet; guide §2.5)
    tok = (
        docs.select(
            "doc_id", "source", F.split(normalize_text("text"), " ").alias("__ts")
        )
        .transform(lambda d: fanout_repartition(d, "doc_id"))
        .select("source", F.explode("__ts").alias("term"))
    )
    st = tok.groupBy("source", "term").agg(F.count("*").alias("cnt"))
    stot = st.groupBy("source").agg(F.sum("cnt").alias("stot"))
    ttot = st.groupBy("term").agg(F.sum("cnt").alias("ttot"))
    grand = st.agg(F.sum("cnt").alias("gtot"))
    j = (
        st.join(stot, "source")
        .join(ttot, "term")
        .crossJoin(F.broadcast(grand))
        .select(
            "source",
            "term",
            F.round(
                (F.col("cnt") / F.col("stot")) / (F.col("ttot") / F.col("gtot")), 4
            ).alias("lift"),
        )
    )
    # tournament over the vocabulary-sized (source, term) table, then
    # the emitted rank recomputed on the ≤3-per-source survivors — the
    # only window left runs over a tiny table (r6 window-skew audit)
    from ..operators.sampling import bottom_k_per_group

    top3 = bottom_k_per_group(
        j,
        ["source"],
        [F.desc("lift"), F.asc("term")],
        3,
        F.pmod(F.xxhash64(F.col("term")), F.lit(64)),
    )
    w = Window.partitionBy("source").orderBy(F.desc("lift"), F.asc("term"))
    return top3.withColumn("rnk", F.row_number().over(w)).select(
        "source", "term", "lift", "rnk"
    )
