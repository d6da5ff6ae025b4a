r"""Round-4 breadth: retrieval and LM-scoring operator family —
BM25 ranked keyword search, bigram-LM negative-log-likelihood quality
scoring (the CCNet-style perplexity-filter shape), fixed-window token
chunking for training sequences, and positional phrase search.

Oracle notes:
- Scores are ROUNDed to 4 on both sides before any sort/compare,
  which makes a hash flip from double summation order UNLIKELY, not
  impossible: sums accumulated in different orders can still land on
  opposite sides of a 4dp rounding boundary (ADVICE r4). Accepted
  residual risk — the summand counts here are small (≤ a few hundred
  per group at gate SF) and the gate has never flipped across r1-r5;
  a flip would show as a one-off hash_match=false with rows/schema
  green, and the fix is sorting summands deterministically for that
  query. BM25's LIMIT ties break on doc_id in both engines.
- DuckDB lists are 1-based and ``t[i:j]`` slices are inclusive;
  Spark arrays are 0-based with 1-based ``slice``/``element_at`` —
  each oracle below mirrors the exact offset convention of its Spark
  twin (0-based token positions in the emitted columns).
- ``bigram_nll`` trains and scores on the same corpus with identical
  add-k smoothing constants; the oracle scores bigram *instances*
  (AVG of -ln p), the Spark side scores per-(doc, bigram) counts
  weighted by tf — algebraically the same weighted mean.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (kept for suite parity)

from ..catalog import load_table
from ..engine import NORM_SQL
from ..operators.retrieval import (
    bigram_nll_score,
    bm25_topk,
    chunk_tokens,
    phrase_positions,
)
from ..queries import register


_BM25_TERMS = ["spark", "hash", "window", "merge"]
_PHRASE = ["value", "table", "part"]


@register(
    "bm25_search_topk",
    rf"""
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
    ), df AS (
      SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
    ), idf AS (
      SELECT term, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
      FROM df CROSS JOIN stats
    )
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
    LIMIT 15
    """,
)
def q_bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-15 for a fixed 4-term query (operators/retrieval.py:
    bm25_topk, k1=1.2 b=0.75). The only corpus-sized shuffle is the
    per-(doc, term) tf aggregation over postings already filtered to
    the query terms; df/idf and the N/avgdl scalars broadcast back.
    Extension beyond the reference (no search of any kind there)."""
    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_TERMS, k=15)


@register(
    "lm_bigram_nll",
    rf"""
    WITH base AS (
      SELECT doc_id, string_split({NORM_SQL}, ' ') AS toks FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
                                   i -> array_to_string(toks[i:i+1], ' '))) AS b
      FROM base WHERE len(toks) >= 2
    ), bcnt AS (
      SELECT b, CAST(COUNT(*) AS DOUBLE) AS c12 FROM bg GROUP BY b
    ), c1 AS (
      SELECT string_split(b, ' ')[1] AS w1, SUM(c12) AS c1 FROM bcnt GROUP BY 1
    ), vocab AS (
      SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS v
      FROM (SELECT unnest(toks) AS w FROM base) WHERE w <> ''

    ), probs AS (
      SELECT b, -ln((c12 + 0.5) / (c1.c1 + 0.5 * vocab.v)) AS nll
      FROM bcnt
      JOIN c1 ON string_split(bcnt.b, ' ')[1] = c1.w1
      CROSS JOIN vocab
    )
    SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(probs.nll), 4) AS avg_nll
    FROM bg JOIN probs ON bg.b = probs.b
    GROUP BY bg.doc_id
    """,
)
def q_lm_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average negative log-likelihood under an
    add-0.5-smoothed bigram LM trained on the same corpus
    (operators/retrieval.py:bigram_nll_score) — the statistical
    quality-filter used to drop garbage/outlier text before LM
    training. Model table is vocab-squared at worst and broadcasts;
    the corpus side is one explode-aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    return bigram_nll_score(docs)


@register(
    "token_chunks",
    rf"""
    WITH base AS (
      SELECT doc_id, string_split({NORM_SQL}, ' ') AS toks
      FROM documents WHERE length(trim(text)) > 0
    )
    SELECT doc_id,
           CAST(s // 24 AS BIGINT) AS chunk_idx,
           CAST(s AS BIGINT) AS start_tok,
           CAST(least(32, len(toks) - s) AS BIGINT) AS chunk_len,
           toks[s + 1] AS first_token
    FROM base, LATERAL unnest(range(0, len(toks), 24)) AS u(s)
    """,
)
def q_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-window training-sequence chunking (window 32,
    stride 24; operators/retrieval.py:chunk_tokens). Map-only plan:
    sequence()+explode inside codegen, zero shuffles — the pre-training
    chunking pass stays embarrassingly parallel at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_tokens(docs, window=32, stride=24)


@register(
    "phrase_search",
    rf"""
    WITH base AS (
      SELECT doc_id, string_split({NORM_SQL}, ' ') AS toks FROM documents
    ), hits AS (
      SELECT doc_id,
             list_filter(list_transform(range(1, len(toks) + 1),
                 i -> CASE WHEN i + 2 <= len(toks)
                            AND toks[i] = 'value'
                            AND toks[i + 1] = 'table'
                            AND toks[i + 2] = 'part'
                           THEN i - 1 ELSE -1 END),
                 p -> p >= 0) AS ps
      FROM base
    )
    SELECT doc_id, CAST(len(ps) AS BIGINT) AS n_matches,
           CAST(ps[1] AS BIGINT) AS first_pos
    FROM hits WHERE len(ps) > 0
    """,
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search for the 3-token phrase
    'value table part' (operators/retrieval.py:phrase_positions).
    Map-only array scan — no explode, no join, no shuffle; emits
    (doc_id, n_matches, first_pos) with 0-based token offsets."""
    docs = load_table(spark, sf_dir, "documents")
    return phrase_positions(docs, _PHRASE)


_TOKCOUNT_SQL = r"""CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split(regexp_replace(lower(trim(text)),
                                                     '\s+', ' ', 'g'), ' '))
           END"""


def _wrs_oracle() -> str:
    """SQL twin of sampling.weighted_reservoir_topn on documents with
    weight = n_chars: same md5 draw (salt 'wrs', 8 hex digits), same
    Efraimidis-Spirakis key ln(u)/w, same top-50 with doc_id ties."""
    from .extensions import _hex_fold

    fold = _hex_fold("md5('wrs' || CAST(doc_id AS VARCHAR))")
    return f"""
    WITH keyed AS (
      SELECT doc_id, n_chars AS weight,
             ln(({fold} + 1.0) / 4294967296.0) / n_chars AS k
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, weight, ROUND(k, 4) + 0.0 AS sample_key
    FROM keyed ORDER BY k DESC, doc_id LIMIT 50
    """


@register("sample_weighted_reservoir", _wrs_oracle())
def q_sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis
    keys; operators/sampling.py:weighted_reservoir_topn): top-50 docs
    by ln(u)/n_chars where u is a deterministic md5 draw. Executes as
    TakeOrderedAndProject (partial top-n per partition, single n-row
    merge) — no full sort at any scale."""
    from ..operators.sampling import weighted_reservoir_topn

    docs = load_table(spark, sf_dir, "documents")
    return weighted_reservoir_topn(docs, "n_chars", 50)


@register(
    "events_ewma_scores",
    """
    WITH t AS (
      SELECT user_id, floor(epoch(ts)) AS ts_s, value FROM events
    ), ref AS (
      SELECT MAX(ts_s) AS r FROM t
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value * exp(-(ref.r - t.ts_s) / 86400.0)), 4) AS ewma_score
    FROM t CROSS JOIN ref
    GROUP BY user_id
    """,
)
def q_events_ewma_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially time-decayed engagement
    (operators/temporal.py:ewma_user_scores, tau = 1 day anchored at
    the corpus' newest event). One broadcast scalar + one partial-final
    agg; timestamps truncate to integer epoch seconds so the decay
    argument is an exact rational in both engines."""
    from ..operators.temporal import ewma_user_scores

    ev = load_table(spark, sf_dir, "events")
    return ewma_user_scores(ev)


@register(
    "doc_length_outliers",
    rf"""
    WITH base AS (
      SELECT doc_id, source, {_TOKCOUNT_SQL} AS n_tok FROM documents
    ), stats AS (
      SELECT source, AVG(n_tok) AS mu, STDDEV_POP(n_tok) AS sigma
      FROM base GROUP BY source
    )
    SELECT b.doc_id, b.source, CAST(b.n_tok AS BIGINT) AS n_tok,
           ROUND((b.n_tok - s.mu) / s.sigma, 4) AS z_score
    FROM base b JOIN stats s ON b.source = s.source
    WHERE s.sigma > 0 AND abs((b.n_tok - s.mu) / s.sigma) > 2.0
    """,
)
def q_doc_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-count outliers, |z| > 2 against the source's
    own mean/population-sigma (operators/text.py:length_outliers) —
    the length-anomaly screen of curation pipelines. Source stats are
    a handful of rows broadcast back; the z filter is map-side."""
    from ..operators.text import length_outliers

    docs = load_table(spark, sf_dir, "documents")
    return length_outliers(docs, z_cutoff=2.0)


@register(
    "graph_triangle_counts",
    """
    WITH und AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
    ), tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM und e1
      JOIN und e2 ON e2.u = e1.v
      JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    GROUP BY node
    """,
)
def q_graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the part co-purchase graph
    (operators/graph.py:triangle_counts, degree-ordered orientation so
    wedge generation is bounded O(sqrt(E)) per node — hub-safe at
    scale). The oracle counts the same triangles declaratively via the
    a<b<c triple join; per-node participation must match exactly."""
    from ..operators.graph import triangle_counts
    from .graph_shared import part_cooccurrence_edges

    # Shared co-occurrence projection (graph_shared.py): built and
    # materialized once per process for all four graph queries. The
    # src<dst filter is map-side over the materialized symmetric
    # distinct edges, so edges_canonical + edges_distinct skip both
    # the least/greatest canonicalization AND the dedup exchange;
    # n_sym/2 is the EXACT undirected edge count (each undirected
    # edge appears in both directions), so the regime probe job is
    # skipped too.
    edges, n_sym = part_cooccurrence_edges(spark, sf_dir)
    return triangle_counts(
        edges.filter(F.col("src") < F.col("dst")),
        edges_canonical=True,
        edges_distinct=True,
        edge_count_hint=max(n_sym // 2, 1),
    )


@register(
    "events_rate_anomaly",
    """
    WITH sparse AS (
      SELECT event_type, date_trunc('hour', ts) AS hour_ts,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ), spans AS (
      SELECT event_type, MIN(hour_ts) AS lo, MAX(hour_ts) AS hi
      FROM sparse GROUP BY event_type
    ), dense AS (
      SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts
      FROM spans
    ), hourly AS (
      SELECT d.event_type, d.hour_ts,
             COALESCE(s.n_events, 0) AS n_events
      FROM dense d LEFT JOIN sparse s
        ON d.event_type = s.event_type AND d.hour_ts = s.hour_ts
    ), win AS (
      SELECT event_type, hour_ts, n_events,
             AVG(n_events) OVER w AS mu,
             STDDEV_POP(n_events) OVER w AS sigma,
             COUNT(n_events) OVER w AS cnt
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hour_ts
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, hour_ts, n_events,
           ROUND(CASE WHEN sigma > 0 THEN (n_events - mu) / sigma END, 4)
             AS z_score
    FROM win
    WHERE cnt = 24
      AND ((sigma > 0 AND (n_events - mu) / sigma > 2.5)
           OR (sigma = 0 AND n_events > mu))
    """,
)
def q_events_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event-rate spike detection per type: trailing-24h
    mean/sigma window, alarm at z > 2.5 with a full window only
    (operators/temporal.py:rate_anomalies) — the batch twin of a
    streaming rate monitor. The corpus collapses to |types|*|hours|
    rows before the window, so the window cost is negligible."""
    from ..operators.temporal import rate_anomalies

    ev = load_table(spark, sf_dir, "events")
    return rate_anomalies(ev, lookback=24, z_cutoff=2.5)


def _quantile_oracle() -> str:
    from ..operators.sampling import _hex_threshold

    thr = _hex_threshold(0.1)
    qs = "\n    UNION ALL\n".join(
        f"""
    SELECT CAST({q} AS DOUBLE) AS q, ROUND(e.e{i}, 2) AS est,
           ROUND(x.x{i}, 2) AS exact,
           ROUND(abs(e.e{i} - x.x{i}) / nullif(abs(x.x{i}), 0), 4) AS rel_err
    FROM e CROSS JOIN x"""
        for i, q in enumerate((0.5, 0.9, 0.99))
    )
    return f"""
    WITH samp AS (
      SELECT o_totalprice FROM orders
      WHERE substr(md5('quant' || CAST(o_orderkey AS VARCHAR)), 1, 8) < '{thr}'
    ), e AS (
      SELECT quantile_cont(o_totalprice, 0.5) AS e0,
             quantile_cont(o_totalprice, 0.9) AS e1,
             quantile_cont(o_totalprice, 0.99) AS e2
      FROM samp
    ), x AS (
      SELECT quantile_cont(o_totalprice, 0.5) AS x0,
             quantile_cont(o_totalprice, 0.9) AS x1,
             quantile_cont(o_totalprice, 0.99) AS x2
      FROM orders
    )
    {qs}
    """


@register("orders_sampled_quantiles", _quantile_oracle())
def q_orders_sampled_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles of o_totalprice from a deterministic 10% hash sample
    vs the exact values, with relative error
    (operators/sketches.py:sampled_quantiles). The registered query IS
    the accuracy experiment: estimate, truth, and error all hash-gate
    together, and the md5 draw makes the sample itself replayable."""
    from ..operators.sketches import sampled_quantiles

    orders = load_table(spark, sf_dir, "orders")
    return sampled_quantiles(orders, "o_totalprice", "o_orderkey", fraction=0.1)


@register(
    "unpivot_roundtrip",
    """
    SELECT l_orderkey AS order_id, l_returnflag AS flag,
           ROUND(SUM(l_extendedprice), 2) AS total
    FROM lineitem GROUP BY l_orderkey, l_returnflag
    """,
)
def q_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long inverse of the reference's pivot (A1): pivot
    lineitem by returnflag, then unpivot back and drop the NULL holes
    — proving unpivot(pivot(x)) == the plain grouped aggregate the
    oracle computes directly. DataFrame.unpivot is a zero-shuffle
    map-side expansion over the pivoted rows."""
    from ..operators.pivot import pivot_sum

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("v"),
    )
    wide = pivot_sum(li, "order_id", "flag", "v", values=["A", "N", "R"], round_to=2)
    return (
        wide.unpivot("order_id", ["A", "N", "R"], "flag", "total")
        .filter(F.col("total").isNotNull())
    )


@register(
    "orders_ntile_quartiles",
    """
    WITH q AS (
      SELECT o_orderpriority,
             NTILE(4) OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS quartile,
             o_totalprice
      FROM orders
    )
    SELECT o_orderpriority, quartile,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM q GROUP BY o_orderpriority, quartile
    """,
)
def q_orders_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth quartile buckets of order value within each
    priority (NTILE window, tie-broken deterministically by order
    key) aggregated to per-bucket count and bounds — the binning
    primitive for histogram/percentile reporting."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select(
            "o_orderpriority",
            F.ntile(4).over(w).alias("quartile"),
            "o_totalprice",
        )
        .groupBy("o_orderpriority", "quartile")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "events_salted_distinct_users",
    """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM events GROUP BY event_type
    """,
)
def q_events_salted_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via the two-phase salt pattern
    (operators/maintenance.py:salted_distinct_count): a handful of hot
    event types would otherwise funnel every distinct user through one
    reducer each. The oracle is the PLAIN count-distinct — proving the
    salted plan is semantically transparent is the point of the
    check."""
    from ..operators.maintenance import salted_distinct_count

    ev = load_table(spark, sf_dir, "events")
    return salted_distinct_count(ev, "event_type", "user_id", salt_buckets=16)


@register(
    "curation_chunks_v2",
    rf"""
    WITH base AS (
      SELECT doc_id, string_split({NORM_SQL}, ' ') AS toks FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
                                   i -> array_to_string(toks[i:i+1], ' '))) AS b
      FROM base WHERE len(toks) >= 2
    ), bcnt AS (
      SELECT b, CAST(COUNT(*) AS DOUBLE) AS c12 FROM bg GROUP BY b
    ), c1 AS (
      SELECT string_split(b, ' ')[1] AS w1, SUM(c12) AS c1 FROM bcnt GROUP BY 1
    ), vocab AS (
      SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS v
      FROM (SELECT unnest(toks) AS w FROM base) WHERE w <> ''

    ), probs AS (
      SELECT b, -ln((c12 + 0.5) / (c1.c1 + 0.5 * vocab.v)) AS nll
      FROM bcnt
      JOIN c1 ON string_split(bcnt.b, ' ')[1] = c1.w1
      CROSS JOIN vocab
    ), scores AS (
      SELECT bg.doc_id, ROUND(AVG(probs.nll), 4) AS avg_nll
      FROM bg JOIN probs ON bg.b = probs.b GROUP BY bg.doc_id
    ), cut AS (
      SELECT ROUND(quantile_cont(avg_nll, 0.75), 4) AS c FROM scores
    ), tokstats AS (
      SELECT doc_id, source, {_TOKCOUNT_SQL} AS n_tok FROM documents
    ), srcstats AS (
      SELECT source, AVG(n_tok) AS mu, STDDEV_POP(n_tok) AS sigma
      FROM tokstats GROUP BY source
    ), outliers AS (
      SELECT t.doc_id FROM tokstats t JOIN srcstats s ON t.source = s.source
      WHERE s.sigma > 0 AND abs((t.n_tok - s.mu) / s.sigma) > 2.0
    ), kept AS (
      SELECT d.doc_id, d.text FROM documents d
      JOIN scores sc ON d.doc_id = sc.doc_id
      CROSS JOIN cut
      WHERE sc.avg_nll <= cut.c
        AND d.doc_id NOT IN (SELECT doc_id FROM outliers)
    ), deduped AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM kept
      ) WHERE rn = 1
    ), dtoks AS (
      SELECT doc_id, string_split(regexp_replace(lower(trim(text)),
                                                 '\s+', ' ', 'g'), ' ') AS toks
      FROM deduped WHERE length(trim(text)) > 0
    )
    SELECT doc_id,
           CAST(s // 24 AS BIGINT) AS chunk_idx,
           CAST(s AS BIGINT) AS start_tok,
           CAST(least(32, len(toks) - s) AS BIGINT) AS chunk_len,
           toks[s + 1] AS first_token
    FROM dtoks, LATERAL unnest(range(0, len(toks), 24)) AS u(s)
    """,
)
def q_curation_chunks_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation v2, composing this round's operators into
    the standard pre-training data path: bigram-LM perplexity filter
    (keep docs at or below the corpus' p75 NLL), per-source length
    outlier screen, exact dedup (deterministic victim), then
    stride-window chunking into training sequences. Every stage reuses
    an operator whose oracle is independently proven; this query
    hash-gates their COMPOSITION (filter interactions, join
    semantics, survivor sets)."""
    from ..operators.dedup import dedup_exact
    from ..operators.text import length_outliers

    docs = load_table(spark, sf_dir, "documents")
    scores = bigram_nll_score(docs)
    cutoff = scores.agg(
        F.round(F.percentile("avg_nll", F.lit(0.75)), 4).alias("__cut")
    )
    keep_ids = (
        scores.crossJoin(F.broadcast(cutoff))
        .filter(F.col("avg_nll") <= F.col("__cut"))
        .select("doc_id")
    )
    outlier_ids = length_outliers(docs, z_cutoff=2.0).select("doc_id")
    kept = (
        docs.join(keep_ids, "doc_id", "left_semi")
        .join(outlier_ids, "doc_id", "left_anti")
        .select("doc_id", "text")
    )
    deduped = dedup_exact(kept, ["text"], "doc_id")
    return chunk_tokens(deduped, window=32, stride=24)


@register(
    "doc_char_entropy",
    r"""
    WITH chars AS (
      SELECT doc_id, substr(text, CAST(i AS INTEGER), 1) AS ch
      FROM documents, LATERAL unnest(range(1, length(text) + 1)) AS u(i)
    ), hist AS (
      SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch
    ), tot AS (
      SELECT doc_id, SUM(c) AS n FROM hist GROUP BY doc_id
    ), ent AS (
      SELECT h.doc_id,
             ROUND(SUM(-(h.c * 1.0 / t.n) * ln(h.c * 1.0 / t.n)), 4) AS char_entropy
      FROM hist h JOIN tot t ON h.doc_id = t.doc_id
      GROUP BY h.doc_id
    )
    SELECT d.doc_id,
           CASE WHEN length(d.text) > 0 THEN
             ROUND((length(d.text) -
                    length(regexp_replace(d.text, '[0-9]', '', 'g')))
                   * 1.0 / length(d.text), 4) END AS digit_ratio,
           CASE WHEN length(d.text) > 0 THEN
             ROUND((length(d.text) -
                    length(regexp_replace(d.text, '\s', '', 'g')))
                   * 1.0 / length(d.text), 4) END AS space_ratio,
           ent.char_entropy
    FROM documents d LEFT JOIN ent ON d.doc_id = ent.doc_id
    """,
)
def q_doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level quality signals (operators/text.py:char_stats):
    Shannon entropy of each document's character distribution plus
    digit/whitespace ratios — the degenerate-text drop signals of
    curation pipelines. One explode + windowed total, map-side ratios."""
    from ..operators.text import char_stats

    docs = load_table(spark, sf_dir, "documents")
    return char_stats(docs)


@register(
    "basket_association_rules",
    """
    WITH baskets AS (
      SELECT l_orderkey, l_partkey FROM lineitem GROUP BY l_orderkey, l_partkey
    ), n_orders AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n FROM baskets
    ), item_supp AS (
      SELECT l_partkey, CAST(COUNT(*) AS DOUBLE) AS c FROM baskets GROUP BY l_partkey
    ), pair_supp AS (
      SELECT a.l_partkey AS ante, b.l_partkey AS cons, CAST(COUNT(*) AS DOUBLE) AS c
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY ante, cons
    )
    SELECT p.ante, p.cons, CAST(p.c AS BIGINT) AS n_both,
           ROUND(p.c / ia.c, 4) AS confidence,
           -- products first, ONE division: both engines then produce
           -- the bit-identical double, so 4-dp rounding cannot split
           -- at a boundary (c/ca)/(cc/n) style chains did
           ROUND(p.c * n_orders.n / (ia.c * ic.c), 4) AS lift
    FROM pair_supp p
    JOIN item_supp ia ON p.ante = ia.l_partkey
    JOIN item_supp ic ON p.cons = ic.l_partkey
    CROSS JOIN n_orders
    WHERE p.c >= 3
    ORDER BY lift DESC, ante, cons
    LIMIT 50
    """,
)
def q_basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: for part
    pairs co-bought in >= 3 orders, emit confidence P(cons|ante) and
    lift against the consequent's base rate; top-50 by lift with
    deterministic ties. Classic retail analytics the reference's
    eager-pandas stack never attempts. Plan: ONE shuffle groups each
    order's distinct part set (collect_set, bounded by basket size —
    <=7 in TPC-H shapes, so the local double-explode is O(1) per
    order and skew-free); basket count, item supports, and pair
    supports all read that cached table, so the corpus is exchanged
    once instead of four times (the previous baskets-distinct +
    self-join shape; same trade as graph.cooccurrence_edges).
    Broadcast joins decorate the pair counts with the tiny
    item-support table. Measured ~2.5s -> ~2.0s warm at sf0.1 (the
    remaining cost is the pair-support aggregation itself).

    A-priori pruning (VERDICT r10 ask #4): an item in fewer than
    min_support baskets cannot appear in any pair with pair-support
    >= min_support, so infrequent items can be dropped BEFORE the
    pair explode with zero semantic change (the >= 3 pair filter
    would discard those pairs anyway; oracle unchanged). The prune is
    ADAPTIVE: this lake's part supports are uniform (sf0.1: 0 of
    20,000 parts below support 3 — measured r11), where the two
    broadcast semi-joins would be pure overhead, so a one-scalar
    check on the (persisted, one-row-per-part) support table decides.
    On a long-tail basket lake — the 100 TB retail shape — the prune
    engages and the dominant pair-support shuffle carries only
    frequent-frequent pairs (validated on a synthetic long-tail lake
    in tests/test_breadth8_extras.py)."""
    return _basket_rules(spark, sf_dir, min_support=3)


def _basket_rules(
    spark: SparkSession,
    sf_dir: str,
    min_support: int,
    prune: bool | None = None,
):
    """``prune=None`` (the registry path) decides adaptively from the
    measured infrequent-item count; True/False force the branch so
    tests can assert both paths agree on a long-tail lake."""
    li = load_table(spark, sf_dir, "lineitem")
    # NOTE r13: an explicit-N exchange between this aggregate and its
    # consumers was tried and REVERTED — measured no-op: the
    # aggregate's own shuffle already runs at the full
    # spark.sql.shuffle.partitions count on this path (verified 32/32
    # partitions with and without), so the pair fan-out below never
    # ran coalesced. See OPTIMIZATION_r13.md.
    grouped = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("__items")
    )
    n_orders = grouped.agg(F.count(F.lit(1)).cast("double").alias("n"))
    # one row per part; read by the prune check + 2 joins
    item_supp = (
        grouped.select(F.explode("__items").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").cast("double").alias("c"))
    )
    if prune is None:
        # a-priori prune decision: one bounded scalar off the support table
        prune = bool(item_supp.filter(F.col("c") < min_support).count())
    exploded = grouped.select(F.explode("__items").alias("ante"), "__items")
    if prune:
        freq = item_supp.filter(F.col("c") >= min_support)
        exploded = exploded.join(
            F.broadcast(freq.select(F.col("l_partkey").alias("ante"))),
            "ante",
            "leftsemi",
        )
    pairs = exploded.select(
        "ante", F.explode("__items").alias("cons")
    ).filter(F.col("ante") != F.col("cons"))
    if prune:
        pairs = pairs.join(
            F.broadcast(freq.select(F.col("l_partkey").alias("cons"))),
            "cons",
            "leftsemi",
        )
    pair_supp = (
        pairs.groupBy("ante", "cons")
        .agg(F.count("*").cast("double").alias("c"))
        .filter(F.col("c") >= min_support)
    )
    ia = item_supp.select(F.col("l_partkey").alias("ante"), F.col("c").alias("ca"))
    ic = item_supp.select(F.col("l_partkey").alias("cons"), F.col("c").alias("cc"))
    return (
        pair_supp.join(F.broadcast(ia), "ante")
        .join(F.broadcast(ic), "cons")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "ante",
            "cons",
            F.col("c").cast("long").alias("n_both"),
            F.round(F.col("c") / F.col("ca"), 4).alias("confidence"),
            # products first, one division — see oracle comment
            F.round(
                F.col("c") * F.col("n") / (F.col("ca") * F.col("cc")), 4
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "ante", "cons")
        .limit(50)
    )


@register(
    "event_transition_matrix",
    """
    WITH ordered AS (
      -- integer epoch seconds, not raw ts: Spark reads us-truncated
      -- timestamps while DuckDB sees the parquet's ns values, so a
      -- sub-us collision could order differently; second-level
      -- ordering with the event_id tie-break is identical in both
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY floor(epoch(ts)), event_id) AS next_type
      FROM events
    ), trans AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ordered WHERE next_type IS NOT NULL
      GROUP BY from_type, to_type
    ), tot AS (
      SELECT from_type, SUM(n) AS t FROM trans GROUP BY from_type
    )
    SELECT tr.from_type, tr.to_type, tr.n,
           ROUND(tr.n * 1.0 / tot.t, 4) AS p
    FROM trans tr JOIN tot ON tr.from_type = tot.from_type
    """,
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types per user
    stream (LEAD over each user's time-ordered events, tie-broken by
    event_id), normalized to row-stochastic probabilities — the
    sequence-modeling prep / funnel-discovery primitive. One window
    over user partitions plus two tiny aggregations."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_seconds(F.col("ts").cast("timestamp")), F.col("event_id")
    )
    trans = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = trans.groupBy("from_type").agg(F.sum("n").alias("t"))
    return trans.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.col("t"), 4).alias("p"),
    )


@register(
    "events_debounced",
    """
    WITH g AS (
      SELECT event_id, user_id, event_type,
             floor(epoch(ts)) - LAG(floor(epoch(ts))) OVER (
               PARTITION BY user_id, event_type
               ORDER BY floor(epoch(ts)), event_id) AS gap
      FROM events
    )
    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM g WHERE gap IS NULL OR gap >= 300
    GROUP BY user_id, event_type
    """,
)
def q_events_debounced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst-collapse (debounce) per (user, type) with a 5-minute
    quiet period (operators/temporal.py:debounce_events), aggregated
    to survivor counts per key. One LAG window; gap chaining collapses
    arbitrarily long bursts to one survivor."""
    from ..operators.temporal import debounce_events

    ev = load_table(spark, sf_dir, "events")
    kept = debounce_events(ev, quiet_seconds=300)
    return kept.groupBy("user_id", "event_type").agg(
        F.count("*").cast("long").alias("n_kept")
    )


@register(
    "fuzzy_name_neighbors",
    """
    WITH pairs AS (
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
      FROM customer a JOIN customer b
        ON a.c_custkey < b.c_custkey
       AND levenshtein(a.c_name, b.c_name) <= 1
    )
    SELECT id, CAST(COUNT(*) AS BIGINT) AS n_similar
    FROM (
      SELECT id_a AS id FROM pairs
      UNION ALL SELECT id_b FROM pairs
    )
    GROUP BY id
    """,
)
def q_fuzzy_name_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching on customer names: per-customer count of
    others within 1 Levenshtein edit (operators/fuzzy.py, FastSS
    deletion-neighborhood blocking — candidates come from an equi-join
    on single-deletion variants, never an all-pairs scan). The oracle
    IS the brute-force quadratic join, so a lossy blocking filter
    would hash-mismatch immediately."""
    from ..operators.fuzzy import fuzzy_neighbor_counts

    cust = load_table(spark, sf_dir, "customer")
    return fuzzy_neighbor_counts(cust, "c_custkey", "c_name")


def _fuzzy_k2_oracle() -> str:
    from ..operators.sampling import _hex_threshold

    t10 = _hex_threshold(0.10)
    return f"""
    WITH s AS (
      SELECT c_custkey, c_name FROM customer
      WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8) < '{t10}'
    ), pairs AS (
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
      FROM s a JOIN s b
        ON a.c_custkey < b.c_custkey
       AND levenshtein(a.c_name, b.c_name) <= 2
    )
    SELECT id, CAST(COUNT(*) AS BIGINT) AS n_similar
    FROM (
      SELECT id_a AS id FROM pairs
      UNION ALL SELECT id_b FROM pairs
    )
    GROUP BY id
    """


@register("fuzzy_name_neighbors_k2", _fuzzy_k2_oracle())
def q_fuzzy_name_neighbors_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=2 fuzzy entity matching (VERDICT r4 ask #5): per-customer
    count of others within 2 Levenshtein edits via <=2-deletion FastSS
    neighborhoods (operators/fuzzy.py:deletion_variants_k2). Runs on a
    deterministic 10% md5 sample: the synthetic c_name corpus shares a
    15-char constant prefix, so k=2 neighborhoods on the FULL table
    are near-dense (most digit suffixes are within 2 substitutions) —
    the sample keeps the candidate volume honest while the oracle
    remains the brute-force quadratic join, proving the k=2 blocking
    lossless."""
    from ..operators.fuzzy import fuzzy_neighbor_counts
    from ..operators.sampling import hash_sample

    cust = load_table(spark, sf_dir, "customer")
    return fuzzy_neighbor_counts(
        hash_sample(cust, "c_custkey", 0.10), "c_custkey", "c_name",
        max_distance=2,
    )


def _dp_oracle() -> str:
    from .extensions import _hex_fold

    # mirror dp_noisy_counts' NULL-group sentinel ('\x00null'): a bare
    # md5('dp' || source) is NULL for NULL source, which would emit
    # NULL noisy_n and cross-engine-mismatch the Spark side's sentinel
    # draw (ADVICE r4)
    fold = _hex_fold(
        "md5('dp' || COALESCE(CAST(source AS VARCHAR), chr(0) || 'null'))"
    )
    return f"""
    WITH counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS true_n
      FROM documents GROUP BY source
    ), noise AS (
      SELECT source, true_n, ({fold} + 0.5) / 4294967296.0 AS u FROM counts
    )
    SELECT source, true_n,
           ROUND(true_n + (-1.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))), 4)
             AS noisy_n
    FROM noise
    """


@register("dp_source_counts", _dp_oracle())
def q_dp_source_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism private count release per document source
    (operators/privacy.py:dp_noisy_counts, epsilon = 1). The noise is
    a deterministic md5-seeded inverse-CDF Laplace draw so the oracle
    replays it exactly — an honestly-documented stand-in: the
    mechanism is production shape, the seeded draw is not a real DP
    guarantee."""
    from ..operators.privacy import dp_noisy_counts

    docs = load_table(spark, sf_dir, "documents")
    # include_true=True is the VERIFICATION configuration: the oracle
    # gates noise against the exact count; a real release omits true_n
    return dp_noisy_counts(docs, "source", epsilon=1.0, include_true=True)


@register(
    "k_anonymity_audit",
    """
    SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS group_n
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    HAVING COUNT(*) < 8
    """,
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (nation, market-segment) quasi-
    identifier pair: groups smaller than k = 8 re-identify their
    members and block release
    (operators/privacy.py:k_anonymity_violations). One map-side-
    combined aggregation."""
    from ..operators.privacy import k_anonymity_violations

    cust = load_table(spark, sf_dir, "customer")
    return k_anonymity_violations(
        cust, ["c_nationkey", "c_mktsegment"], k=8
    )


@register(
    "dq_expectations_lineitem",
    """
    WITH wide AS (
      -- COALESCE(..., 0) on every SUM: over ZERO rows SUM is NULL,
      -- but an empty table is a vacuously PASSING contract (0
      -- violations, 0 passing) — mirrors expectation_report's
      -- documented coalesce (empty-lake degenerate tier)
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COALESCE(SUM(CASE WHEN COALESCE(l_extendedprice >= 0, FALSE)
                           THEN 0 ELSE 1 END), 0) AS BIGINT) AS v_price,
             CAST(COALESCE(SUM(CASE WHEN COALESCE(l_discount BETWEEN 0 AND 0.6, FALSE)
                           THEN 0 ELSE 1 END), 0) AS BIGINT) AS v_discount,
             CAST(COALESCE(SUM(CASE WHEN COALESCE(l_quantity BETWEEN 1 AND 50, FALSE)
                           THEN 0 ELSE 1 END), 0) AS BIGINT) AS v_quantity,
             CAST(COALESCE(SUM(CASE WHEN COALESCE(l_shipdate IS NOT NULL, FALSE)
                           THEN 0 ELSE 1 END), 0) AS BIGINT) AS v_dates_known,
             CAST(COALESCE(SUM(CASE WHEN COALESCE(l_returnflag IN ('A','N','R'), FALSE)
                           THEN 0 ELSE 1 END), 0) AS BIGINT) AS v_flag
      FROM lineitem
    )
    SELECT 'price_non_negative' AS expectation, n AS n_rows,
           v_price AS n_violations, n - v_price AS n_passing FROM wide
    UNION ALL
    SELECT 'discount_in_range', n, v_discount, n - v_discount FROM wide
    UNION ALL
    SELECT 'quantity_in_range', n, v_quantity, n - v_quantity FROM wide
    UNION ALL
    SELECT 'shipdate_known', n, v_dates_known, n - v_dates_known FROM wide
    UNION ALL
    SELECT 'returnflag_in_domain', n, v_flag, n - v_flag FROM wide
    """,
)
def q_dq_expectations_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-contract report over lineitem
    (functions/quality.py:expectation_report): five expectations
    compile into ONE map-side-combined aggregate pass (n, violations,
    passing per expectation; NULL predicate = violation). The
    Great-Expectations shape as a single Spark job."""
    from ..functions.quality import expectation_report

    li = load_table(spark, sf_dir, "lineitem")
    return expectation_report(
        li,
        {
            "price_non_negative": F.col("l_extendedprice") >= 0,
            "discount_in_range": F.col("l_discount").between(0, 0.6),
            "quantity_in_range": F.col("l_quantity").between(1, 50),
            "shipdate_known": F.col("l_shipdate").isNotNull(),
            "returnflag_in_domain": F.col("l_returnflag").isin("A", "N", "R"),
        },
    )


@register(
    "orders_winsorized_stats",
    """
    WITH bounds AS (
      SELECT quantile_cont(o_totalprice, 0.01) AS lo,
             quantile_cont(o_totalprice, 0.99) AS hi
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(o_totalprice), 2) AS raw_mean,
           ROUND(AVG(least(greatest(o_totalprice, bounds.lo), bounds.hi)), 2)
             AS winsorized_mean
    FROM orders CROSS JOIN bounds
    GROUP BY o_orderpriority
    """,
)
def q_orders_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized vs raw mean order value per priority
    (operators/maintenance.py:winsorize, p1/p99 band): the outlier-
    taming transform of feature pipelines, as one percentile scalar
    broadcast + map-side clamp + one aggregation."""
    from ..operators.maintenance import winsorize

    orders = load_table(spark, sf_dir, "orders")
    w = winsorize(orders, "o_totalprice", out_col="w_price")
    return w.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.avg("o_totalprice"), 2).alias("raw_mean"),
        F.round(F.avg("w_price"), 2).alias("winsorized_mean"),
    )


def _impute_oracle() -> str:
    from .extensions import _hex_fold

    fold = _hex_fold("md5('mask' || CAST(event_id AS VARCHAR))")
    return f"""
    WITH masked AS (
      SELECT event_type,
             CASE WHEN {fold} < 429496729 THEN NULL ELSE value END AS v
      FROM events
    ), mu AS (
      SELECT event_type, ROUND(AVG(v), 4) AS mu FROM masked GROUP BY event_type
    )
    SELECT m.event_type,
           CAST(SUM(CASE WHEN m.v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
           ROUND(AVG(COALESCE(m.v, mu.mu)), 4) AS mean_imputed
    -- NULL-safe join: a NULL event_type is a GROUP like any other on
    -- the Spark side (window partitioning and GROUP BY both treat
    -- NULL as one key); a plain equi-join silently dropped it
    -- (degenerate-gate NULL-key tier)
    FROM masked m JOIN mu ON m.event_type IS NOT DISTINCT FROM mu.event_type
    GROUP BY m.event_type
    """


@register("events_imputed_values", _impute_oracle())
def q_events_imputed_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-mean imputation hard-gated end to end
    (operators/maintenance.py:impute_group_mean): ~10% of event values
    are masked to NULL by a deterministic md5 draw (replayable in the
    oracle), imputed with their event type's mean, and the per-type
    masked-count + post-imputation mean must hash-match DuckDB's
    replay of the same mask + fill."""
    from ..operators.maintenance import impute_group_mean
    from ..operators.sampling import _draw

    ev = load_table(spark, sf_dir, "events")
    u_int = F.conv(_draw(F.col("event_id"), "mask"), 16, 10).cast("long")
    masked = ev.select(
        "event_type",
        F.when(u_int < 429496729, F.lit(None)).otherwise(F.col("value")).alias("v"),
    )
    imp = impute_group_mean(masked, "v", "event_type")
    return imp.groupBy("event_type").agg(
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_masked"),
        F.round(F.avg("v_imputed"), 4).alias("mean_imputed"),
    )
