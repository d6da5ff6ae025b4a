"""Round-10 breadth: in-engine model estimation + training-split
machinery — seeded Lloyd k-means (the oracle-replayable twin of the
MLlib quantizer behind ``ivf_index``), full-batch-GD logistic
regression (the twin of the MLlib classifier in
``operators/classifier.py``), multinomial Naive Bayes (count-exact
training), a Poisson-bootstrap CI (the one-pass resampling scheme
that scales — Chamandy et al. 2012), Kaplan-Meier time-to-event
survival, group-aware k-fold assignment, leakage-safe out-of-fold
target encoding, and next-token training-example construction.

The reference has none of these (SURVEY §2 marks every analytics /
ML category absent) — they are part of the mandated
training-data-pipeline extension surface.

Oracle discipline (house rules): seeded state via (md5, id)
ordering; every cross-engine float argmin/argsort keys on
ROUND(x, 4) with an id tie-break; iterated state (centroids,
weights) is ROUNDed between steps so both engines enter step t+1
bit-identical; checksums and counts are integer-exact end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import NORM_SQL, fanout_repartition

from ..catalog import load_table
from ..queries import register
from .extensions import _hex_fold


# --- seeded Lloyd k-means over embeddings ------------------------------------


def _kmeans_assign_sql(src_c: str) -> str:
    """Assignment CTE body: nearest centroid from ``src_c`` by
    ROUND(v·v − 2·v·c + c·c, 4) with centroid-id tie-break."""
    d2 = (
        "ROUND(list_inner_product(e.v, e.v)"
        " - 2 * list_inner_product(e.v, c.cv)"
        " + list_inner_product(c.cv, c.cv), 4)"
    )
    return f"""
      SELECT vec_id, v, cid, d2r FROM (
        SELECT e.vec_id, e.v, c.cid, {d2} AS d2r,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id ORDER BY {d2}, c.cid) AS rn
        FROM e CROSS JOIN {src_c} c
      ) WHERE rn = 1"""


def _kmeans_oracle(k: int = 8, n_iter: int = 2, dim: int = 64) -> str:
    parts = [
        f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = {dim}
    ), seeds AS (
      SELECT v AS cv,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
               - 1 AS cid
      FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k}
    ), a0 AS ({_kmeans_assign_sql('seeds')})"""
    ]
    for t in range(n_iter):
        parts.append(f"""
    , m{t} AS (
      SELECT cid, i, ROUND(AVG(v[i]), 6) AS m
      FROM (SELECT cid, v, unnest(range(1, {dim + 1})) AS i FROM a{t})
      GROUP BY cid, i
    ), c{t + 1} AS (
      SELECT cid, list(m ORDER BY i) AS cv FROM m{t} GROUP BY cid
    ), a{t + 1} AS ({_kmeans_assign_sql(f'c{t + 1}')})""")
    parts.append(f"""
    SELECT cid AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(SUM(d2r), 2) AS inertia
    FROM a{n_iter} GROUP BY cid""")
    return "".join(parts)


@register("kmeans_embedding_clusters", _kmeans_oracle())
def q_kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Lloyd k-means (operators/clustering.py): 2 iterations
    from the 8 md5-smallest seed vectors, per-cluster sizes +
    inertia. The oracle replays the ENTIRE descent — seed selection,
    both rounded-argmin assignments, the ROUND(avg, 6) centroid
    updates — so a single flipped assignment anywhere hash-fails.
    The MLlib KMeans path (similarity.ivf_index) stays pytest-covered;
    this is its deterministic twin, the same pattern as
    embedding_ivf_recall. Each iteration is one k×dim partial-mean
    aggregate; centroids ride as literals (never a join)."""
    from ..operators.clustering import kmeans_lloyd_seeded

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_lloyd_seeded(emb, "vec_id", "embedding", k=8, n_iter=2)


# --- full-batch-GD logistic regression (quality classifier twin) -------------

_LR = 0.5
_GD_STEPS = 3

_PUNCT_SQL = (
    "ROUND(length(regexp_replace(text, '[^.,;:!?''\"()\\[\\]{}-]', '', 'g'))"
    " * 1.0 / length(text), 4)"
)


def _logreg_oracle(
    lr: float = _LR, n_steps: int = _GD_STEPS, final: str | None = None
) -> str:
    """The unrolled-GD CTE chain; ``final`` overrides the closing
    SELECT (it sees ``feat`` and ``w{n_steps}``) so the calibration
    twin reuses the identical training replay."""
    parts = [
        f"""
    WITH base AS (
      SELECT string_split({NORM_SQL}, ' ') AS ts, lang, text
      FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
    ), feat AS (
      SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             LEAST(len(ts) / 100.0, 3.0) AS x1,
             ROUND(len(list_filter(ts,
                     t -> t IN ('the','and','of','to','in','is','a')))
                   * 1.0 / len(ts), 4) AS x2,
             {_PUNCT_SQL} AS x3
      FROM base
    ), w0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"""
    ]
    # MATERIALIZED: each w{s} is referenced twice downstream; DuckDB
    # inlines plain CTEs, which re-evaluates the whole gradient chain
    # per reference (2^steps full-corpus scans — measured hang at 12
    # steps). Materializing keeps the replay linear in steps.
    for s in range(1, n_steps + 1):
        parts.append(f"""
    , s{s} AS (
      SELECT y, x1, x2, x3,
             1.0 / (1.0 + exp(-(w.b + w.w1 * x1 + w.w2 * x2 + w.w3 * x3)))
               AS p
      FROM feat CROSS JOIN w{s - 1} w
    ), g{s} AS (
      SELECT SUM(p - y) / COUNT(*) AS gb,
             SUM((p - y) * x1) / COUNT(*) AS g1,
             SUM((p - y) * x2) / COUNT(*) AS g2,
             SUM((p - y) * x3) / COUNT(*) AS g3
      FROM s{s}
    ), w{s} AS MATERIALIZED (
      SELECT ROUND(w.b - {lr} * g.gb, 6) AS b,
             ROUND(w.w1 - {lr} * g.g1, 6) AS w1,
             ROUND(w.w2 - {lr} * g.g2, 6) AS w2,
             ROUND(w.w3 - {lr} * g.g3, 6) AS w3
      FROM w{s - 1} w CROSS JOIN g{s} g
    )""")
    parts.append(
        final
        if final is not None
        else f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           w.b AS w_bias, w.w1 AS w_len, w.w2 AS w_stop, w.w3 AS w_punct,
           ROUND(SUM(CASE WHEN ((w.b + w.w1 * x1 + w.w2 * x2 + w.w3 * x3)
                                >= 0) = (y = 1.0)
                          THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS accuracy
    FROM feat CROSS JOIN w{n_steps} w
    GROUP BY w.b, w.w1, w.w2, w.w3"""
    )
    return "".join(parts)


@register("quality_logreg_gd", _logreg_oracle())
def q_quality_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-batch-GD logistic regression trained IN the engine
    (operators/classifier.py:logreg_gd_train): is-English from three
    exact-provenance features (capped token count / en-stopword ratio
    / punctuation ratio — all integer ratios ROUNDed at construction,
    so both engines see bit-identical x). 3 steps, lr=0.5, weights
    ROUND(·, 6) between steps (half-away, the SQL convention). The
    oracle replays every gradient: each step is one map-side-
    combinable SUM per feature, the driver sees one scalar row per
    step — the MLlib L-BFGS path (train_embedding_classifier) stays
    pytest-covered; this is its hash-gated twin."""
    from ..operators.classifier import logreg_gd_train

    feat = _quality_feat(load_table(spark, sf_dir, "documents"))
    return logreg_gd_train(
        feat, "y", ["len", "stop", "punct"], lr=_LR, n_steps=_GD_STEPS
    )


def _quality_feat(docs: DataFrame) -> DataFrame:
    """The shared exact-provenance feature frame (y, len, stop,
    punct) both GD queries train on — mirrored by the oracle's
    ``feat`` CTE."""
    from ..operators.text import STOPWORDS, punct_ratio, tokens

    # repartition BEFORE the token/stopword/punct projections: all
    # four GD queries materialize this frame through persist(), and
    # without an exchange the tokenize + interpreted stopword filter
    # run inside the scan stage — one task on a single-row-group
    # parquet (guide §2.5 repartition-after-read). The exchange
    # carries (doc_id, lang, text) only.
    base = (
        docs.filter(F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
        .transform(lambda d: fanout_repartition(d, "doc_id"))
        .select("lang", "text", tokens("text").alias("__ts"))
    )
    nt = F.size("__ts")
    stop = F.size(F.filter("__ts", lambda t: t.isin(*STOPWORDS["en"])))
    return base.select(
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        F.least(nt / 100.0, F.lit(3.0)).alias("len"),
        F.round(stop * 1.0 / nt, 4).alias("stop"),
        punct_ratio("text").alias("punct"),
    )


# --- Poisson-bootstrap CI -----------------------------------------------------

_BOOT_REPS = 100
_BOOT_ALPHA = 0.05


def _bootstrap_oracle(n_reps: int = _BOOT_REPS, alpha: float = _BOOT_ALPHA) -> str:
    import math

    from ..operators.sampling import _hex_threshold

    pmf, cum, cdf = math.exp(-1.0), 0.0, []
    for j in range(5):
        cum += pmf
        cdf.append(_hex_threshold(min(cum, 1.0)))
        pmf /= j + 1
    cases = " ".join(
        f"WHEN d < '{cdf[j]}' THEN {j}" for j in range(5)
    )
    lo_off = math.ceil(alpha / 2.0 * n_reps) - 1
    hi_off = math.ceil((1.0 - alpha / 2.0) * n_reps) - 1
    return f"""
    WITH vals AS (
      SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS v FROM orders
      WHERE o_totalprice IS NOT NULL
    ), reps AS (SELECT unnest(range(1, {n_reps + 1})) AS rep),
    -- 4 lane-packed draws per md5 (see poisson_bootstrap_mean_ci):
    -- rep r reads 8 hex chars at lane (r-1)%4 of md5(salt:block:key)
    draws AS (
      SELECT rep, v,
             substr(md5('boot:' || CAST((rep - 1) // 4 AS VARCHAR) || ':'
                        || CAST(k AS VARCHAR)),
                    1 + 8 * CAST((rep - 1) % 4 AS INT), 8) AS d
      FROM vals CROSS JOIN reps
    ), wt AS (
      SELECT rep, v, CASE {cases} ELSE 5 END AS w FROM draws
    ), means AS (
      SELECT rep, ROUND(SUM(w * v) / SUM(w), 4) AS m
      FROM wt GROUP BY rep HAVING SUM(w) > 0
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM means) AS n_reps,
           (SELECT ROUND(AVG(v), 4) FROM vals) AS mean,
           (SELECT m FROM means ORDER BY m, rep LIMIT 1 OFFSET {lo_off})
             AS ci_lo,
           (SELECT m FROM means ORDER BY m, rep LIMIT 1 OFFSET {hi_off})
             AS ci_hi
    """


@register("bootstrap_ci_order_value", _bootstrap_oracle())
def q_bootstrap_ci_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Poisson-bootstrap CI for mean order value
    (operators/analytics.py:poisson_bootstrap_mean_ci): each order
    draws a deterministic Poisson(1) weight per replicate from md5
    CDF thresholds, replicate means are ROUND(·, 4), bounds are the
    3rd/98th order statistics with rep tie-break. One map-side
    explode + one partial-aggregable groupBy(rep) — resamples are
    never materialized, the shuffle carries B rows per partition, the
    driver sees exactly B replicate means. The oracle replays every
    draw, weight, and both order statistics."""
    from ..operators.analytics import poisson_bootstrap_mean_ci

    orders = load_table(spark, sf_dir, "orders")
    return poisson_bootstrap_mean_ci(
        orders, "o_orderkey", "o_totalprice",
        n_reps=_BOOT_REPS, alpha=_BOOT_ALPHA,
    )


# --- next-token training-example construction ---------------------------------

_LM_EXAMPLES_ORACLE = rf"""
    WITH base AS (
      SELECT doc_id, string_split({NORM_SQL}, ' ') AS ts
      FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
    ), ex AS (
      SELECT doc_id, ts[i - 2] || ' ' || ts[i - 1] AS context,
             ts[i] AS target
      FROM (
        SELECT doc_id, ts, unnest(range(3, len(ts) + 1)) AS i
        FROM base WHERE len(ts) >= 3
      )
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_examples,
           CAST(COUNT(DISTINCT context) AS BIGINT) AS n_unique_contexts,
           CAST(SUM({_hex_fold("md5(context || '>' || target)")}) AS BIGINT)
             AS example_checksum
    FROM ex GROUP BY doc_id
    """


@register("lm_training_examples", _LM_EXAMPLES_ORACLE)
def q_lm_training_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autoregressive training-example construction
    (operators/text.py:next_token_examples): per doc, the
    (2-token context, next token) pairs with an order-insensitive
    integer checksum (sum of 8-hex md5 folds), so the gate pins the
    EXACT example set — a wrong window offset or off-by-one stride
    changes the checksum. Map-side explode over an in-row sequence;
    the token array never leaves its row."""
    from ..operators.text import next_token_examples

    docs = load_table(spark, sf_dir, "documents")
    return next_token_examples(docs, "doc_id", "text", ctx_len=2)


# --- group-aware k-fold cross-validation assignment ---------------------------


def _kfold_oracle(k: int = 5) -> str:
    fold = _hex_fold("md5('cv:' || CAST(o_custkey AS VARCHAR))")
    return f"""
    SELECT fold, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_groups,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM (
      SELECT o_custkey, o_totalprice,
             CAST({fold} % {k} AS INT) AS fold
      FROM orders
    ) GROUP BY fold
    """


@register("crossval_fold_assignment", _kfold_oracle())
def q_crossval_fold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware 5-fold CV assignment
    (operators/sampling.py:kfold_group_assign): fold = md5-fold of
    the CUSTOMER key mod 5, so all of a customer's orders share a
    fold — the k-fold analogue of split_leakage_safe's guarantee
    (leakage is zero by construction, not by audit). Pure map-side
    column + one partial-aggregable per-fold rollup."""
    from ..operators.sampling import kfold_group_assign

    orders = load_table(spark, sf_dir, "orders")
    return (
        kfold_group_assign(orders, "o_custkey", k=5, salt="cv")
        .groupBy("fold")
        .agg(
            F.countDistinct("o_custkey").cast("long").alias("n_groups"),
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# --- multinomial Naive Bayes language classifier -------------------------------

_NB_ORACLE = rf"""
    WITH base AS (
      SELECT doc_id, lang, string_split({NORM_SQL}, ' ') AS ts
      FROM documents
      WHERE text IS NOT NULL AND length(trim(text)) > 0 AND lang IS NOT NULL
    ), dw AS (
      SELECT doc_id, lang, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id, lang, unnest(ts) AS w FROM base)
      GROUP BY doc_id, lang, w
    ), docs AS (
      SELECT doc_id, lang, CAST(SUM(c) AS BIGINT) AS nd
      FROM dw GROUP BY doc_id, lang
    ), cw AS (
      SELECT lang AS cls, w, CAST(SUM(c) AS BIGINT) AS cnt
      FROM dw GROUP BY lang, w
    ), nd AS (
      SELECT lang AS cls, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS ndocs
      FROM dw GROUP BY lang
    ), cls AS (
      SELECT cw.cls, CAST(SUM(cnt) AS BIGINT) AS tot, nd.ndocs
      FROM cw JOIN nd USING (cls) GROUP BY cw.cls, nd.ndocs
    ), scal AS (
      SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS v,
             CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n
      FROM dw
    ), s1 AS (
      SELECT dw.doc_id, cw.cls, SUM(dw.c * ln(cw.cnt + 1)) AS s1
      FROM dw JOIN cw USING (w) GROUP BY dw.doc_id, cw.cls
    ), scored AS (
      SELECT d.doc_id, d.lang, c.cls,
             ROUND(COALESCE(s1.s1, 0.0) - d.nd * ln(c.tot + scal.v)
                   + ln(c.ndocs * 1.0 / scal.n), 4) AS score
      FROM docs d CROSS JOIN cls c CROSS JOIN scal
      LEFT JOIN s1 ON s1.doc_id = d.doc_id AND s1.cls = c.cls
    ), pred AS (
      SELECT lang, cls AS predicted FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY score DESC, cls DESC) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY lang, predicted
    """


@register("naive_bayes_langid", _NB_ORACLE)
def q_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier trained in-engine
    (operators/classifier.py:naive_bayes_confusion): add-1-smoothed
    class-word counts (integer-exact training), per-doc log-score via
    a word-keyed inner join (the smoothing term factors out, so
    unseen words never densify), argmax on ROUND(score, 4) with class
    tie-break, reported as a (lang, predicted) confusion matrix. The
    oracle replays the entire train+score+argmax pipeline."""
    from ..operators.classifier import naive_bayes_confusion

    docs = load_table(spark, sf_dir, "documents")
    return naive_bayes_confusion(docs, "doc_id", "text", "lang")


# --- Kaplan-Meier retention curve ----------------------------------------------

_KM_ORACLE = """
    WITH pu AS (
      SELECT user_id,
             CAST(MIN(ts) AS DATE) AS f,
             CAST(MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                  AS DATE) AS tgt,
             CAST(MAX(ts) AS DATE) AS l
      FROM events GROUP BY user_id
    ),
    lt AS (
      SELECT CASE WHEN tgt IS NOT NULL THEN date_diff('day', f, tgt)
                  ELSE date_diff('day', f, l) END AS t,
             CASE WHEN tgt IS NOT NULL THEN 1 ELSE 0 END AS death
      FROM pu
    ), tt AS (
      SELECT t, CAST(SUM(death) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS m
      FROM lt GROUP BY t
    ), staged AS (
      SELECT t, d,
             CAST(SUM(m) OVER ()
                  - SUM(m) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                  + m AS BIGINT) AS n
      FROM tt
    )
    SELECT t AS t_days, n AS n_at_risk, d AS n_deaths,
           CASE WHEN MAX(CASE WHEN d = n THEN 1 ELSE 0 END)
                     OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) = 1
                THEN 0.0
                ELSE ROUND(exp(SUM(CASE WHEN d < n
                                        THEN ln((n - d) * 1.0 / n)
                                        ELSE 0.0 END)
                               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)), 4)
           END AS survival
    FROM staged
    QUALIFY d > 0
    """


@register("retention_kaplan_meier", _KM_ORACLE)
def q_retention_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-first-purchase
    (operators/survival.py:kaplan_meier_time_to_event): duration =
    days from a user's first event to their first 'purchase'; users
    who never purchase are censored at their last observed day (at
    risk, never a death) — the estimator retention_cohorts can't
    provide when the window truncates outcomes. The stream collapses
    to one row per DISTINCT duration day before any window, so the KM
    windows run over a span-bounded table (COVERAGE window-audit
    row); at-risk/death counts are integer-exact and the survival
    product is exp(cum-SUM of ln) in identical ASC order on both
    engines."""
    from ..operators.survival import kaplan_meier_time_to_event

    ev = load_table(spark, sf_dir, "events")
    return kaplan_meier_time_to_event(
        ev, "user_id", "ts", "event_type", target_type="purchase"
    )


# --- out-of-fold target encoding -------------------------------------------------


def _te_oracle(k: int = 5) -> str:
    fold = _hex_fold("md5('cv:' || CAST(o.o_custkey AS VARCHAR))")
    return f"""
    WITH j AS (
      SELECT o.o_totalprice AS v, c.c_mktsegment AS category,
             CAST({fold} % {k} AS INT) AS fold
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), cells AS (
      SELECT category, fold, CAST(COUNT(*) AS BIGINT) AS n_rows, SUM(v) AS s
      FROM j GROUP BY category, fold
    )
    SELECT category, fold, n_rows,
           CASE WHEN SUM(n_rows) OVER (PARTITION BY category) - n_rows > 0
                THEN ROUND((SUM(s) OVER (PARTITION BY category) - s)
                           / (SUM(n_rows) OVER (PARTITION BY category)
                              - n_rows), 4)
           END AS oof_mean
    FROM cells
    """


@register("target_encoding_oof", _te_oracle())
def q_target_encoding_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding of market segment against order
    value (operators/sampling.py:target_encode_oof): encoding for
    (category, fold) is the target mean WITHOUT that fold's rows —
    the leakage-safe categorical encoder, folds group-keyed on the
    customer so the guarantee extends to groups. One rollup to
    (category, fold) cells + per-category window sums (k rows per
    partition — bounded by the fold count)."""
    from ..operators.sampling import target_encode_oof

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == F.col("c_custkey"),
    )
    return target_encode_oof(
        joined, "o_custkey", "c_mktsegment", "o_totalprice", k=5, salt="cv"
    )


# --- GD classifier calibration (reliability bins) -------------------------------

#: the calibration twin trains longer and hotter than the headline
#: GD query (6 steps, lr=8) so the probability mass actually spreads
#: across bins on the fixture corpus — at (3, 0.5) every document
#: lands in one decile and the reliability table is a 1-row gate
_CALIB_LR = 8.0
_CALIB_STEPS = 6

_CALIB_FINAL = f"""
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(p6), 4) AS mean_p, ROUND(AVG(y), 4) AS frac_pos
    FROM (
      SELECT y, LEAST(CAST(FLOOR(p6 * 10) AS INT), 9) AS bin, p6 FROM (
        SELECT y, ROUND(1.0 / (1.0 + exp(-(w.b + w.w1 * x1 + w.w2 * x2
                                           + w.w3 * x3))), 6) AS p6
        FROM feat CROSS JOIN w{_CALIB_STEPS} w
      )
    )
    GROUP BY bin
    """


@register(
    "logreg_calibration_bins",
    _logreg_oracle(lr=_CALIB_LR, n_steps=_CALIB_STEPS, final=_CALIB_FINAL),
)
def q_logreg_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the GD quality classifier
    (operators/classifier.py:logreg_calibration_bins): the identical
    seeded training replay as quality_logreg_gd (shared CTE chain in
    the oracle, shared _gd_fit on the Spark side — here at 6 steps,
    lr=8 so predictions spread across deciles), then decile bins of
    the predicted probability with per-bin (n, mean_p, frac_pos) —
    the table a score threshold gets picked from. Binning keys on
    ROUND(p, 6) before the floor so a last-ulp exp() difference
    cannot flip a bin edge."""
    from ..operators.classifier import logreg_calibration_bins

    feat = _quality_feat(load_table(spark, sf_dir, "documents"))
    return logreg_calibration_bins(
        feat, "y", ["len", "stop", "punct"],
        lr=_CALIB_LR, n_steps=_CALIB_STEPS, n_bins=10,
    )


# --- 2-component 1-D Gaussian mixture via EM -------------------------------------

_GMM_PI = "3.141592653589793"


def _gmm_dens_sql(src_p: str) -> str:
    terms = []
    for k in (1, 2):
        terms.append(
            f"p.w{k} * exp(-((x - p.mu{k}) * (x - p.mu{k}))"
            f" / (2.0 * p.v{k})) / sqrt(2.0 * {_GMM_PI} * p.v{k}) AS d{k}"
        )
    # responsibility guarded identically to operators/mixture._resp:
    # both densities underflowing to 0 splits the point evenly
    # instead of 0/0
    return f"""
      SELECT x, n,
             CASE WHEN d1 + d2 > 0 THEN d1 / (d1 + d2) ELSE 0.5 END AS r1
      FROM (
        SELECT x, p.n, {', '.join(terms)}
        FROM vals CROSS JOIN {src_p} p
      )"""


def _gmm_oracle(n_iter: int = 2) -> str:
    parts = [f"""
    WITH raw AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS r FROM orders
      WHERE o_totalprice IS NOT NULL
    ), st AS (
      SELECT COUNT(*) AS n, ROUND(AVG(r), 2) AS m,
             CASE WHEN ROUND(sqrt(var_pop(r)), 2) > 0
                  THEN ROUND(sqrt(var_pop(r)), 2) ELSE 1.0 END AS s
      FROM raw
    ), vals AS MATERIALIZED (
      SELECT ROUND((r - st.m) / st.s, 4) AS x, st.n
      FROM raw CROSS JOIN st
    ), st2 AS (
      SELECT MAX(n) AS n, MIN(x) AS mn, MAX(x) AS mx,
             CASE WHEN ROUND(var_pop(x), 4) > 0
                  THEN ROUND(var_pop(x), 4) ELSE 1.0 END AS v0
      FROM vals
    ), p0 AS (
      SELECT n,
             0.5 AS w1, ROUND(mn + (mx - mn) / 4.0, 4) AS mu1, v0 AS v1,
             0.5 AS w2, ROUND(mn + 3.0 * (mx - mn) / 4.0, 4) AS mu2, v0 AS v2
      FROM st2
    )"""]
    # p{t} is MATERIALIZED: it is referenced by both e{t+1} and the
    # next p (the logreg 2^steps re-evaluation lesson). The collapse
    # branch (n_k = 0 after a full underflow starvation) keeps the
    # previous parameters, mirroring operators/mixture's nk <= 0 path.
    for t in range(1, n_iter + 1):
        parts.append(f"""
    , e{t} AS ({_gmm_dens_sql(f'p{t - 1}')})
    , m{t} AS (
      SELECT MAX(n) AS n,
             SUM(r1) AS n1, SUM(r1 * x) AS s1, SUM(r1 * x * x) AS q1,
             SUM(1.0 - r1) AS n2, SUM((1.0 - r1) * x) AS s2,
             SUM((1.0 - r1) * x * x) AS q2
      FROM e{t}
    ), p{t} AS MATERIALIZED (
      SELECT n,
             CASE WHEN n1 > 0 THEN ROUND(n1 / n, 6) ELSE pw1 END AS w1,
             CASE WHEN n1 > 0 THEN mu1n ELSE pmu1 END AS mu1,
             CASE WHEN n1 > 0 THEN (CASE WHEN v1n > 0 THEN v1n
                                         ELSE 0.000001 END)
                  ELSE pv1 END AS v1,
             CASE WHEN n2 > 0 THEN ROUND(n2 / n, 6) ELSE pw2 END AS w2,
             CASE WHEN n2 > 0 THEN mu2n ELSE pmu2 END AS mu2,
             CASE WHEN n2 > 0 THEN (CASE WHEN v2n > 0 THEN v2n
                                         ELSE 0.000001 END)
                  ELSE pv2 END AS v2
      FROM (
        SELECT *, ROUND(q1 / n1 - mu1n * mu1n, 6) AS v1n,
               ROUND(q2 / n2 - mu2n * mu2n, 6) AS v2n
        FROM (
          SELECT m.*, ROUND(m.s1 / m.n1, 6) AS mu1n,
                 ROUND(m.s2 / m.n2, 6) AS mu2n,
                 p.w1 AS pw1, p.mu1 AS pmu1, p.v1 AS pv1,
                 p.w2 AS pw2, p.mu2 AS pmu2, p.v2 AS pv2
          FROM m{t} m CROSS JOIN p{t - 1} p
        )
      )
    )""")
    parts.append(f"""
    , ef AS ({_gmm_dens_sql(f'p{n_iter}')})
    SELECT 1 AS component, p.w1 AS weight, p.mu1 AS mu, p.v1 AS sigma2,
           (SELECT ROUND(SUM(r1), 2) FROM ef) AS n_soft
    FROM p{n_iter} p WHERE p.n > 0
    UNION ALL
    SELECT 2, p.w2, p.mu2, p.v2,
           (SELECT ROUND(SUM(1.0 - r1), 2) FROM ef)
    FROM p{n_iter} p WHERE p.n > 0""")
    return "".join(parts)


@register("gmm_em_order_values", _gmm_oracle())
def q_gmm_em_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-component 1-D Gaussian mixture over standardized order
    values (operators/mixture.py:gmm_em_1d): 2 EM iterations from a
    closed-form quartile-point init, parameters ROUND(·, 6) between
    iterations, every iteration one map-side-combinable aggregate.
    The oracle replays the whole descent — standardization, init,
    both E/M rounds, final soft counts. Per-row standardization is a
    numerical requirement: it keeps the M-step variance cancellation
    five orders of magnitude above the cross-engine summation noise
    (module docstring)."""
    from ..operators.mixture import gmm_em_1d

    orders = load_table(spark, sf_dir, "orders")
    return gmm_em_1d(orders, "o_totalprice", n_iter=2)


# --- hashing-trick featurizer ------------------------------------------------------


def _fh_oracle(n_buckets: int = 64) -> str:
    bucket = _hex_fold("md5('fh:' || w)")
    return rf"""
    WITH toks AS (
      SELECT unnest(string_split({NORM_SQL}, ' ')) AS w
      FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
    ), h AS (
      SELECT CAST({bucket} % {n_buckets} AS INT) AS bucket,
             1 - 2 * ((strpos('0123456789abcdef',
                              substr(md5('fh:' || w), 9, 1)) - 1) % 2) AS s
      FROM toks
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(s) AS BIGINT) AS signed_sum
    FROM h GROUP BY bucket
    """


@register("feature_hash_buckets", _fh_oracle())
def q_feature_hash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurizer summary
    (operators/text.py:feature_hash_buckets): tokens hash to 64
    signed buckets (bucket = 8-hex md5 fold mod 64, sign = parity of
    the 9th hex digit — the signed variant that keeps collisions
    unbiased), corpus collapses to (bucket, n_tokens, signed_sum).
    Integer-exact end to end; one partial-aggregable groupBy over a
    fixed 64-key domain — vocabulary-free featurization at any
    scale."""
    from ..operators.text import feature_hash_buckets

    docs = load_table(spark, sf_dir, "documents")
    return feature_hash_buckets(docs, "text", n_buckets=64, salt="fh")


# --- split-conformal prediction intervals ------------------------------------------


def _conformal_oracle(
    train_frac: float = 0.5, calib_frac: float = 0.3, alpha: float = 0.1
) -> str:
    from ..operators.sampling import _hex_threshold

    t1 = _hex_threshold(train_frac)
    t2 = _hex_threshold(train_frac + calib_frac)
    lvl = 1.0 - alpha
    return f"""
    WITH base AS (
      SELECT o_orderkey AS id, o_orderpriority AS g,
             CAST(o_totalprice AS DOUBLE) AS v,
             substr(md5('conf:' || CAST(o_orderkey AS VARCHAR)), 1, 8) AS d
      FROM orders WHERE o_totalprice IS NOT NULL
    ), train AS (SELECT * FROM base WHERE d < '{t1}'),
    calib AS (SELECT * FROM base WHERE d >= '{t1}' AND d < '{t2}'),
    test AS (SELECT * FROM base WHERE d >= '{t2}'),
    model AS (SELECT g, ROUND(AVG(v), 4) AS pred FROM train GROUP BY g),
    cres AS (
      SELECT c.id, ROUND(abs(c.v - m.pred), 4) AS r
      FROM calib c JOIN model m USING (g)
    ), qh AS (
      SELECT r AS q_hat FROM (
        SELECT r, ROW_NUMBER() OVER (ORDER BY r, id) AS rn,
               COUNT(*) OVER () AS nc
        FROM cres
      ) WHERE rn = LEAST(CAST(ceil({lvl} * (nc + 1)) AS BIGINT), nc)
    ), tres AS (
      SELECT ROUND(abs(t.v - m.pred), 4) AS r FROM test t JOIN model m USING (g)
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM train) AS n_train,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cres) AS n_calib,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM tres) AS n_test,
           (SELECT q_hat FROM qh) AS q_hat,
           (SELECT ROUND(AVG(CASE WHEN r <= (SELECT q_hat FROM qh)
                                  THEN 1.0 ELSE 0.0 END), 4) FROM tres)
             AS coverage
    WHERE (SELECT COUNT(*) FROM cres) > 0
    """


@register("conformal_interval_coverage", _conformal_oracle())
def q_conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals on order values
    (operators/analytics.py:split_conformal_coverage): md5-split into
    train/calibration/test, group-mean regressor per order priority,
    q_hat = the finite-sample-corrected conformal quantile of
    calibration residuals (one sort+offset order statistic, never a
    data-sized window), empirical test coverage of ±q_hat — the
    conformal guarantee puts it at >= 1−α model-free. The oracle
    replays splits, model, order statistic, and coverage."""
    from ..operators.analytics import split_conformal_coverage

    orders = load_table(spark, sf_dir, "orders")
    return split_conformal_coverage(
        orders, "o_orderkey", "o_orderpriority", "o_totalprice",
        train_frac=0.5, calib_frac=0.3, alpha=0.1, salt="conf",
    )


# --- ROC-AUC of the GD classifier (tie-aware rank-sum) ------------------------

_AUC_FINAL = f"""
    SELECT n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN ROUND(u2 * 1.0 / (2.0 * n_pos * n_neg), 6) END AS auc
    FROM (
      SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(neg) AS BIGINT) AS n_neg,
             CAST(SUM(pos * (2 * cum_neg + neg)) AS BIGINT) AS u2
      FROM (
        SELECT pos, neg,
               COALESCE(SUM(neg) OVER (ORDER BY p6
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cum_neg
        FROM (
          SELECT p6,
                 CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS pos,
                 CAST(SUM(CASE WHEN y = 1.0 THEN 0 ELSE 1 END) AS BIGINT)
                   AS neg
          FROM (
            SELECT y, ROUND(1.0 / (1.0 + exp(-(w.b + w.w1 * x1 + w.w2 * x2
                                               + w.w3 * x3))), 6) AS p6
            FROM feat CROSS JOIN w{_CALIB_STEPS} w
          )
          GROUP BY p6
        )
      )
      HAVING COUNT(*) > 0
    )
    """


@register(
    "logreg_auc_roc",
    _logreg_oracle(lr=_CALIB_LR, n_steps=_CALIB_STEPS, final=_AUC_FINAL),
)
def q_logreg_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the GD quality classifier
    (operators/classifier.py:logreg_auc_roc): the identical seeded
    training replay as logreg_calibration_bins (shared oracle CTE
    chain at 6 steps / lr=8), then the tie-aware Mann-Whitney AUC
    computed over the ROUND(p, 6) score HISTOGRAM — the one ordered
    window is bounded by the 1e6+1 score grid, never the data (a
    global rank() would single-partition-sort the corpus). The
    numerator stays in LONG arithmetic (pos·(2·cum_neg+neg), halved
    in the single final division) so both engines produce the
    bit-identical double before ROUND."""
    from ..operators.classifier import logreg_auc_roc

    feat = _quality_feat(load_table(spark, sf_dir, "documents"))
    return logreg_auc_roc(
        feat, "y", ["len", "stop", "punct"],
        lr=_CALIB_LR, n_steps=_CALIB_STEPS,
    )


# --- CART root split (depth-1 decision tree) ------------------------------------

_STUMP_WIDTH = 50.0

_STUMP_ORACLE = f"""
    WITH base AS (
      SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             CAST(n_chars AS DOUBLE) AS v
      FROM documents WHERE n_chars IS NOT NULL
    ), hist AS (
      SELECT CAST(FLOOR(v / {_STUMP_WIDTH}) AS BIGINT) AS b,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
      FROM base GROUP BY 1
    ), cum AS (
      SELECT b,
             SUM(n) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS nl,
             SUM(pos) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS pl,
             SUM(n) OVER () AS nt,
             SUM(pos) OVER () AS pt
      FROM hist
    )
    SELECT CAST((b + 1) * {_STUMP_WIDTH} AS DOUBLE) AS threshold,
           CAST(nl AS BIGINT) AS n_left,
           CAST(nt - nl AS BIGINT) AS n_right,
           CAST(pl AS BIGINT) AS pos_left,
           CAST(pt - pl AS BIGINT) AS pos_right,
           ROUND((pl * (nl - pl)) * 1.0 / nl
                 + ((pt - pl) * ((nt - nl) - (pt - pl))) * 1.0
                   / (nt - nl), 6) AS score
    FROM cum WHERE nl < nt
    ORDER BY score, threshold LIMIT 1
    """


@register("stump_doc_length_split", _STUMP_ORACLE)
def q_stump_doc_length_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CART root split of document length against is-English
    (operators/classifier.py:decision_stump_binary): candidate
    thresholds on a 50-char grid, so the split search is one
    histogram aggregate + one cumulative window over the BOUNDED
    bucket table (range/50 rows, never data rows); split quality is
    weighted Gini reduced to integer cross-products with ONE double
    division per side, ROUND(·, 6) before the argmin with threshold
    tie-break (the kmeans argmin convention). The depth-1 tree is
    the in-engine baseline the GD/NB classifiers get compared
    against."""
    from ..operators.classifier import decision_stump_binary

    docs = load_table(spark, sf_dir, "documents")
    feat = docs.select(
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        "n_chars",
    )
    return decision_stump_binary(feat, "y", "n_chars", _STUMP_WIDTH)


# --- isotonic (PAV) calibration --------------------------------------------------

_ISO_BINS = 1000

_ISO_FINAL = f"""
    , scored AS (
      SELECT y, ROUND(1.0 / (1.0 + exp(-(w.b + w.w1 * x1 + w.w2 * x2
                                         + w.w3 * x3))), 6) AS p6
      FROM feat CROSS JOIN w{_CALIB_STEPS} w
    ), hist AS (
      SELECT LEAST(CAST(FLOOR(p6 * {_ISO_BINS}) AS INT), {_ISO_BINS - 1})
               AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
      FROM scored GROUP BY 1
    ), ord AS (
      SELECT bin, n, pos,
             ROW_NUMBER() OVER (ORDER BY bin) AS i,
             SUM(n) OVER (ORDER BY bin) AS cn,
             SUM(pos) OVER (ORDER BY bin) AS cp
      FROM hist
    ), pairs AS (
      -- weighted segment average over bins k..j (inclusive prefixes)
      SELECT k.i AS ki, j.i AS ji,
             (j.cp - k.cp + k.pos) * 1.0 / (j.cn - k.cn + k.n) AS a
      FROM ord k JOIN ord j ON k.i <= j.i
    ), m AS (
      -- min over segments ENDING at or after ji, for each start ki
      SELECT ki, ji,
             MIN(a) OVER (PARTITION BY ki ORDER BY ji DESC
                          ROWS UNBOUNDED PRECEDING) AS minj
      FROM pairs
    ), iso AS (
      -- minimax identity: iso(i) = max over starts k<=i of
      -- min over ends j>=i of wavg(k, j)
      SELECT ji AS i, MAX(minj) AS rate FROM m GROUP BY ji
    )
    SELECT o.bin, o.n AS n_docs,
           ROUND(o.pos * 1.0 / o.n, 6) AS frac_pos_raw,
           ROUND(iso.rate, 6) AS frac_pos_iso
    FROM ord o JOIN iso ON o.i = iso.i
    """


@register(
    "logreg_isotonic_calibration",
    _logreg_oracle(lr=_CALIB_LR, n_steps=_CALIB_STEPS, final=_ISO_FINAL),
)
def q_logreg_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) recalibration of the GD quality classifier
    (operators/classifier.py:isotonic_calibration_bins): the same
    seeded training replay as logreg_calibration_bins/logreg_auc_roc,
    then pool-adjacent-violators over the FIXED 1000-bin score grid —
    the Spark side collects only the grid-bounded histogram and runs
    the integer-exact PAV loop on the driver; the oracle replays the
    fit through the minimax identity (O(bins²) segment averages + one
    running-min window, feasible exactly BECAUSE the domain is
    grid-bounded). Emits (bin, n_docs, frac_pos_raw, frac_pos_iso)
    with frac_pos_iso non-decreasing in bin."""
    from ..operators.classifier import isotonic_calibration_bins

    feat = _quality_feat(load_table(spark, sf_dir, "documents"))
    return isotonic_calibration_bins(
        feat, "y", ["len", "stop", "punct"],
        lr=_CALIB_LR, n_steps=_CALIB_STEPS, n_bins=_ISO_BINS,
    )
