"""Learned quality/topic classification over embedding columns via
Spark MLlib — the trainable counterpart of the rule-based scorers in
``operators/text.py`` and the nearest-centroid baseline in
``operators/similarity.py:centroid_classify``.

Why MLlib and not a Python loop: LogisticRegression trains JVM-side
with distributed L-BFGS (each iteration is one treeAggregate over the
partitions — gradient traffic is O(dim), never the data), and scoring
is a JVM transform, so both ends scale to corpus size without a
Python worker in the loop. ``array_to_vector`` converts the plain
``array<float>`` storage column to an ML vector without a UDF.

Typical pipeline use: hand-label (or weak-label) a small slice,
train, score the full corpus, and feed the score into
``jobs/curate.py``-style threshold filtering — the standard
model-based quality gate of LLM data curation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import cache_scope, fanout_repartition, round_half_away


def train_embedding_classifier(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    max_iter: int = 50,
    reg_param: float = 0.0,
):
    """Fit multinomial logistic regression on an embedding column.

    Returns the fitted ``LogisticRegressionModel`` (driver-held
    coefficient matrix of k x dim doubles — megabytes at most; the
    training data itself never leaves the executors).
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    prepared = df.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
        F.col(label_col).cast("double").alias("label"),
    )
    lr = LogisticRegression(
        maxIter=max_iter, regParam=reg_param, family="multinomial"
    )
    return lr.fit(prepared)


def score_embeddings(
    model,
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Score a corpus with a fitted classifier: returns
    (id, predicted, confidence) where confidence is the winning
    class's probability. JVM transform end to end — the model
    broadcast is the only data movement.
    """
    from pyspark.ml.functions import array_to_vector, vector_to_array

    prepared = df.select(
        F.col(id_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    scored = model.transform(prepared)
    return scored.select(
        F.col(id_col),
        F.col("prediction").cast("long").alias("predicted"),
        F.round(F.array_max(vector_to_array("probability")), 6).alias("confidence"),
    )


# --- seeded full-batch GD twin (oracle-replayable) ---------------------------


def logreg_gd_train(
    df: DataFrame,
    label_col,
    feature_cols: list,
    lr: float = 0.5,
    n_steps: int = 3,
) -> DataFrame:
    """Full-batch gradient-descent logistic regression — the
    oracle-gated twin of ``train_embedding_classifier`` (MLlib L-BFGS
    is not ANSI-SQL-replayable; this seeded variant is, the same
    twin pattern as ``similarity.ivf_seeded_recall``).

    Determinism contract: weights start at 0, each step is ONE
    map-side-combinable aggregate (``SUM((p−y)·x_j)`` per feature +
    count), and updated weights are ``ROUND(w − lr·grad, 6)`` so both
    engines enter step *t+1* with bit-identical weight state. The
    features must already be exact cross-engine doubles (integer
    ratios ROUNDed at construction). The per-step driver traffic is
    one scalar row (1 + n_features doubles) — never data.

    Returns one row: ``n_docs``, one ``w_<name>`` per feature plus
    ``w_bias``, and ``accuracy`` of the sign rule ``w·x >= 0`` under
    the final weights (evaluated left-to-right on both engines, so
    the comparison sees the same double).
    """
    spark = df.sparkSession
    # feature_cols must be NAMES: the output schema embeds them as
    # w_<name> columns (and the empty path as DDL), and deriving a
    # name from a Column would need the private _jc handle, which is
    # absent under Spark Connect (r10 review)
    bad = [c for c in feature_cols if not isinstance(c, str)]
    if bad:
        raise TypeError(
            "feature_cols must be column-name strings; alias expressions "
            f"in a select() first (got {bad})"
        )
    names = list(feature_cols)
    # persist the projected feature frame across the GD loop + the
    # scoring pass: 4-5 doubles per row (32-40 B — nothing like the
    # NB (doc, word) cache that measured 2x slower than recompute),
    # while recomputation per step re-runs the caller's tokenization
    # and interpreted-HOF stopword filter. Measured at sf0.1 (r11):
    # calibration 5.6s -> see COVERAGE for the post-change number.
    with cache_scope() as hold:
        feat = hold(_gd_feat(df, label_col, feature_cols))
        w = _gd_fit(feat, len(feature_cols), lr, n_steps)
        if w is None:
            return spark.createDataFrame(
                [],
                "n_docs BIGINT, w_bias DOUBLE, "
                + ", ".join(f"w_{nm} DOUBLE" for nm in names)
                + ", accuracy DOUBLE",
            )

        def _z(weights):
            z = F.lit(weights[0])
            for j in range(len(feature_cols)):
                z = z + F.lit(weights[j + 1]) * F.col(f"__x{j}")
            return z

        correct = (
            (_z(w) >= 0.0) == (F.col("__y") == 1.0)
        ).cast("int")

        row = feat.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.sum(correct) / F.count("*"), 4).alias("accuracy"),
        ).collect()[0]
    return spark.range(1).select(
        F.lit(row["n_docs"]).cast("long").alias("n_docs"),
        F.lit(w[0]).alias("w_bias"),
        *[F.lit(w[j + 1]).alias(f"w_{names[j]}") for j in range(len(feature_cols))],
        F.lit(row["accuracy"]).cast("double").alias("accuracy"),
    )


def _gd_feat(df: DataFrame, label_col, feature_cols: list) -> DataFrame:
    """Project (label, features) to the canonical __y/__x{j} frame."""
    y = (
        label_col if not isinstance(label_col, str) else F.col(label_col)
    ).cast("double")
    xs = [
        (c if not isinstance(c, str) else F.col(c)).cast("double")
        for c in feature_cols
    ]
    feat = df.select(
        y.alias("__y"), *[xs[j].alias(f"__x{j}") for j in range(len(xs))]
    )
    # drop rows with a NULL label or feature: F.sum skips NULL gradient
    # terms while COUNT(*) would still count the row, silently biasing
    # the gradients, n_docs, and the accuracy denominator (ADVICE r10;
    # the sibling NB/bootstrap/conformal/GMM operators all filter).
    # Registered queries pre-filter, so their oracles are unchanged.
    cond = F.col("__y").isNotNull()
    for j in range(len(xs)):
        cond = cond & F.col(f"__x{j}").isNotNull()
    return feat.filter(cond)


def _gd_fit(
    feat: DataFrame, d: int, lr: float, n_steps: int
) -> list[float] | None:
    """The shared GD loop: ``n_steps`` map-side-combinable gradient
    aggregates, weights half-away-ROUND(·, 6) between steps (matches
    SQL ROUND; Python round() is half-even — see
    engine.round_half_away). Returns
    the final weights [bias, w1..wd], or None on empty input."""
    w = [0.0] * (1 + d)
    for _ in range(n_steps):
        z = F.lit(w[0])
        for j in range(d):
            z = z + F.lit(w[j + 1]) * F.col(f"__x{j}")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        aggs = [F.count("*").alias("__n"), F.sum(p - F.col("__y")).alias("__g0")]
        aggs += [
            F.sum((p - F.col("__y")) * F.col(f"__x{j}")).alias(f"__g{j + 1}")
            for j in range(d)
        ]
        row = feat.agg(*aggs).collect()[0]  # one scalar row per step
        n = row["__n"]
        if not n:
            return None
        w = [
            round_half_away(w[j] - lr * (float(row[f"__g{j}"]) / n), 1e6)
            for j in range(len(w))
        ]
    return w


def logreg_calibration_bins(
    df: DataFrame,
    label_col,
    feature_cols: list,
    lr: float = 0.5,
    n_steps: int = 3,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram of the GD classifier: train with the same
    seeded loop as ``logreg_gd_train``, then bin the predicted
    probability into ``n_bins`` equal-width bins and report per bin
    (bin, n_docs, mean_p, frac_pos) — the calibration table a score
    threshold gets picked from. Binning keys on ROUND(p, 6) before
    the floor so a last-ulp exp() difference between engines cannot
    flip a bin edge. One training pass + one scoring aggregate, the
    feat frame persisted across both (see logreg_gd_train)."""
    import pandas as pd

    spark = df.sparkSession
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    with cache_scope() as hold:
        feat = hold(_gd_feat(df, label_col, feature_cols))
        w = _gd_fit(feat, len(feature_cols), lr, n_steps)
        if w is None:
            return spark.createDataFrame(
                [], "bin INT, n_docs BIGINT, mean_p DOUBLE, frac_pos DOUBLE"
            )
        z = F.lit(w[0])
        for j in range(len(feature_cols)):
            z = z + F.lit(w[j + 1]) * F.col(f"__x{j}")
        p6 = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
        b = F.least(F.floor(p6 * n_bins).cast("int"), F.lit(n_bins - 1))

        bins = (
            feat.select(b.alias("bin"), p6.alias("__p"), "__y")
            .groupBy("bin")
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.round(F.avg("__p"), 4).alias("mean_p"),
                F.round(F.avg("__y"), 4).alias("frac_pos"),
            )
            .collect()  # bounded by n_bins, never by the data
        )
    # a pandas frame takes the Arrow path into the JVM; a Python list
    # is parallelized, so every action on it starts Python workers
    return spark.createDataFrame(
        pd.DataFrame(bins, columns=["bin", "n_docs", "mean_p", "frac_pos"]),
        "bin INT, n_docs BIGINT, mean_p DOUBLE, frac_pos DOUBLE",
    )


# --- multinomial Naive Bayes (count-exact training -> oracle-replayable) -----


def naive_bayes_confusion(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
) -> DataFrame:
    """Multinomial Naive Bayes with add-1 smoothing, trained and
    evaluated IN the engine, reported as a confusion matrix
    (label, predicted, n_docs).

    Unlike the GD twin, TRAINING here is integer-exact (class/word
    counts), so the only floats are the per-doc log-score sums. The
    unseen-word smoothing term factors out of the join:

        score(d, c) = Σ_{w∈d∩V_c} n_dw·ln(cnt_cw + 1)
                      − n_d·ln(tot_c + V) + ln(n_c / N)

    so the doc-word table inner-joins the class-word table on the
    word alone (fan-out ≤ #classes, an enum-sized dimension) and
    missing (w, c) pairs contribute exactly 0 — no outer join, no
    per-class vocabulary densification. Class stats ride on a
    broadcast (#classes rows); V and N are two collected scalars.
    argmax keys on ROUND(score, 4) with the class name as tie-break.
    """
    from .text import tokens

    base = (
        df.filter(
            F.col(text_col).isNotNull()
            & (F.length(F.trim(text_col)) > 0)
            & F.col(label_col).isNotNull()
        )
        .select(
            F.col(id_col).alias("__id"),
            F.col(label_col).alias("__y"),
            tokens(text_col).alias("__ts"),
        )
        # one narrow (id, label, tokens) exchange ahead of the
        # explode/groupBy fan-outs: dw's four consumers then all reuse
        # the SAME shuffle output (ReusedExchange — tokenization runs
        # once per query instead of once per consumer, without the
        # cache cost the docstring above rejects), and the token
        # explode runs at core parallelism rather than inside the
        # scan stage (one task on a single-row-group parquet — guide
        # §2.5 repartition-after-read).
        .transform(lambda d: fanout_repartition(d, "__id"))
    )
    # dw feeds four consumers (docs, cw via cls and s1, the scalar
    # agg) and is deliberately NOT persisted: the KMV multi-consumer
    # persist was tried here and measured ~2x SLOWER at sf0.1 (4.6s
    # vs 2.3s warm standalone) — dw is corpus-wide (one row per
    # (doc, word)), so the cache write + eager release pass cost more
    # than re-running the codegen'd tokenize/explode/groupBy per
    # consumer. At cluster scale with expensive storage reads the
    # trade flips; revisit with a persist(StorageLevel.MEMORY_AND_
    # DISK) behind a size estimate if scans dominate.
    dw = (
        base.select("__id", "__y", F.explode("__ts").alias("__w"))
        .groupBy("__id", "__y", "__w")
        .agg(F.count("*").cast("long").alias("__c"))
    )
    docs = dw.groupBy("__id", "__y").agg(F.sum("__c").alias("__nd"))
    cw = dw.groupBy(F.col("__y").alias("__cls"), "__w").agg(
        F.sum("__c").alias("__cnt")
    )
    # the two corpus scalars (|V|, N) ride as a 1-row broadcast
    # cross-attach instead of a collect (r13): the collect was a
    # SEPARATE action that re-ran the whole tokenize/explode/dw
    # aggregation just for two numbers (~1.1 s at sf0.1 — AQE's
    # runtime stage reuse only dedupes WITHIN one execution, never
    # across actions). Derived from cw/docs (same values as the old
    # dw-level countDistincts: distinct words survive into cw, one
    # label per doc makes docs one row per doc), whose exchanges the
    # main execution reuses anyway. The arithmetic is unchanged —
    # tot + V and ndocs·1.0/N were already double ops on these exact
    # values; empty input now short-circuits naturally (no rows, no
    # division) instead of via the old n_total=1 fallback, keeping
    # the label column's native type as before.
    vn = (
        cw.agg(F.countDistinct("__w").cast("double").alias("__vsz"))
        .crossJoin(
            docs.agg(F.countDistinct("__id").cast("double").alias("__ntot"))
        )
    )
    cls = cw.groupBy("__cls").agg(F.sum("__cnt").alias("__tot")).join(
        docs.groupBy(F.col("__y").alias("__cls")).agg(
            F.countDistinct("__id").alias("__ndocs")
        ),
        "__cls",
    )

    s1 = (
        dw.join(cw, "__w")
        .groupBy("__id", "__cls")
        .agg(F.sum(F.col("__c") * F.log(F.col("__cnt") + 1)).alias("__s1"))
    )
    scored = (
        docs.crossJoin(F.broadcast(cls))  # enum-sized build side
        .join(s1, ["__id", "__cls"], "left")
        .crossJoin(F.broadcast(vn))  # 1-row (|V|, N) scalar attach
        .select(
            "__id",
            "__y",
            "__cls",
            F.round(
                F.coalesce(F.col("__s1"), F.lit(0.0))
                - F.col("__nd") * F.log(F.col("__tot") + F.col("__vsz"))
                + F.log(F.col("__ndocs") * 1.0 / F.col("__ntot")),
                4,
            ).alias("__score"),
        )
    )
    pred = scored.groupBy("__id", "__y").agg(
        F.max(F.struct("__score", "__cls")).getField("__cls").alias("predicted")
    )
    return pred.groupBy(F.col("__y").alias(label_col), "predicted").agg(
        F.count("*").cast("long").alias("n_docs")
    )


# --- ROC-AUC via the tie-aware rank-sum identity ------------------------------


def logreg_auc_roc(
    df: DataFrame,
    label_col,
    feature_cols: list,
    lr: float = 0.5,
    n_steps: int = 3,
) -> DataFrame:
    """ROC-AUC of the GD classifier (same seeded training replay as
    ``logreg_gd_train``) via the tie-aware Mann-Whitney identity,
    computed over the SCORE HISTOGRAM rather than a global rank:

        AUC = [ Σ_s pos(s) · (neg(<s) + neg(s)/2) ] / (P · N)

    Scores quantize to ROUND(p, 6), so the histogram — and the one
    ordered cumulative window over it — is bounded by the 1e6+1-value
    grid, never by the data (the retention-KM bounded-domain
    argument; a global rank() would be a single-partition sort of the
    whole corpus). The numerator is kept in LONG arithmetic
    (pos·(2·cum_neg + neg), halved only in the final division), so
    replicate sums are exact up to ~4e9 rows per class; one division
    at the end keeps the double bit-identical cross-engine.

    Returns one row (n_pos, n_neg, auc); auc is NULL when either
    class is absent, and the frame is empty on empty input. The feat
    frame persists across training + scoring (see logreg_gd_train)."""
    spark = df.sparkSession
    with cache_scope() as hold:
        feat = hold(_gd_feat(df, label_col, feature_cols))
        w = _gd_fit(feat, len(feature_cols), lr, n_steps)
        if w is None:
            return spark.createDataFrame(
                [], "n_pos BIGINT, n_neg BIGINT, auc DOUBLE"
            )
        from pyspark.sql import Window

        z = F.lit(w[0])
        for j in range(len(feature_cols)):
            z = z + F.lit(w[j + 1]) * F.col(f"__x{j}")
        p6 = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
        hist = (
            feat.select(p6.alias("__p"), "__y")
            .groupBy("__p")
            .agg(
                F.sum(F.when(F.col("__y") == 1.0, 1).otherwise(0))
                .cast("long")
                .alias("__pos"),
                F.sum(F.when(F.col("__y") == 1.0, 0).otherwise(1))
                .cast("long")
                .alias("__neg"),
            )
        )
        wd = Window.orderBy("__p").rowsBetween(
            Window.unboundedPreceding, -1
        )
        cum = hist.select(
            "__pos",
            "__neg",
            F.coalesce(F.sum("__neg").over(wd), F.lit(0)).alias("__cneg"),
        )

        row = cum.agg(
            F.sum("__pos").cast("long").alias("n_pos"),
            F.sum("__neg").cast("long").alias("n_neg"),
            F.sum(
                F.col("__pos")
                * (F.lit(2) * F.col("__cneg") + F.col("__neg"))
            ).alias("__u2"),
        ).select(
            "n_pos",
            "n_neg",
            F.when(
                (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
                F.round(
                    F.col("__u2")
                    * 1.0
                    / (2.0 * F.col("n_pos") * F.col("n_neg")),
                    6,
                ),
            ).alias("auc"),
        ).collect()[0]
    return spark.range(1).select(
        F.lit(row["n_pos"]).cast("long").alias("n_pos"),
        F.lit(row["n_neg"]).cast("long").alias("n_neg"),
        F.lit(row["auc"]).cast("double").alias("auc"),
    )


# --- depth-1 decision tree (CART root split) ----------------------------------


def decision_stump_binary(
    df: DataFrame,
    label_col,
    value_col,
    bucket_width: float,
) -> DataFrame:
    """Best binary split of a numeric column against a 0/1 label —
    the CART root split, distributed: candidate thresholds live on a
    ``bucket_width`` grid, so the search is one groupBy(bucket)
    histogram + one ordered cumulative window over the BOUNDED bucket
    table (value-range/width rows, never data rows), then an argmin.

    Split quality is the weighted Gini impurity, reduced to integer
    cross-products (lower is better):

        score = posL·negL/nL + posR·negR/nR      (∝ weighted Gini)

    Counts stay LONG end-to-end; each term does products first and
    ONE double division, then ROUND(·, 6) before the argmin with a
    threshold tie-break — the kmeans argmin convention, so both
    engines pick the identical split. Returns one row (threshold,
    n_left, n_right, pos_left, pos_right, score); empty when the
    input has fewer than two non-empty buckets (no valid split)."""
    from pyspark.sql import Window

    # a zero/negative width silently floors every value into garbage
    # buckets instead of a grid — reject (the fuzzy k>2 convention)
    if not bucket_width > 0:
        raise ValueError(f"bucket_width must be > 0, got {bucket_width}")

    y = (
        label_col if not isinstance(label_col, str) else F.col(label_col)
    ).cast("double")
    v = (
        value_col if not isinstance(value_col, str) else F.col(value_col)
    ).cast("double")
    base = df.select(y.alias("__y"), v.alias("__v")).filter(
        F.col("__y").isNotNull() & F.col("__v").isNotNull()
    )
    hist = (
        base.select(
            F.floor(F.col("__v") / bucket_width).cast("long").alias("__b"),
            "__y",
        )
        .groupBy("__b")
        .agg(
            F.count("*").cast("long").alias("__n"),
            F.sum(F.when(F.col("__y") == 1.0, 1).otherwise(0))
            .cast("long")
            .alias("__pos"),
        )
    )
    wd = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "__b",
        F.sum("__n").over(wd).alias("__nl"),
        F.sum("__pos").over(wd).alias("__pl"),
        F.sum("__n").over(wall).alias("__nt"),
        F.sum("__pos").over(wall).alias("__pt"),
    ).filter(F.col("__nl") < F.col("__nt"))  # both sides non-empty
    nl, pl = F.col("__nl"), F.col("__pl")
    nr = F.col("__nt") - nl
    pr = F.col("__pt") - pl
    score = F.round(
        (pl * (nl - pl)) * 1.0 / nl + (pr * (nr - pr)) * 1.0 / nr, 6
    )
    return (
        cum.select(
            ((F.col("__b") + 1) * float(bucket_width)).alias("threshold"),
            nl.alias("n_left"),
            nr.alias("n_right"),
            pl.alias("pos_left"),
            pr.alias("pos_right"),
            score.alias("score"),
        )
        .orderBy("score", "threshold")
        .limit(1)
    )


# --- isotonic (PAV) calibration -------------------------------------------------


def isotonic_calibration_bins(
    df: DataFrame,
    label_col,
    feature_cols: list,
    lr: float = 0.5,
    n_steps: int = 3,
    n_bins: int = 1000,
) -> DataFrame:
    """Isotonic calibration of the GD classifier via pool-adjacent-
    violators — the step-function recalibrator that dominates Platt
    scaling when the reliability curve is non-sigmoid (Zadrozny &
    Elkan 2002).

    Distribution shape: scores quantize to a FIXED ``n_bins`` grid
    (floor of ROUND(p, 6)·n_bins), so the per-bin (n, pos) histogram
    — the only thing collected — is bounded by the grid, never the
    data (the kmeans-codebook collect posture). PAV itself is
    inherently sequential, but over ≤ n_bins rows it is a
    microsecond driver loop; the corpus never moves. The oracle
    replays the fit through the minimax identity
    ``iso(i) = max_{k<=i} min_{j>=i} wavg(k, j)`` — O(bins²) segment
    averages + one running-min window, SQL-expressible because the
    domain is grid-bounded.

    Determinism: pooled rates are quotients of exact integer block
    sums, identical IEEE doubles on both engines; raw and fitted
    rates are half-away-ROUND(·, 6) (SQL ROUND; Python round() is
    half-even). Returns one row per non-empty bin: (bin, n_docs,
    frac_pos_raw, frac_pos_iso), iso non-decreasing in bin."""
    spark = df.sparkSession
    schema = "bin INT, n_docs BIGINT, frac_pos_raw DOUBLE, frac_pos_iso DOUBLE"
    # Range-guard the grid (VERDICT r11 nit / the bucket_width
    # convention): the collect below is bounded by n_bins and the
    # oracle's minimax replay is O(n_bins²) segment averages — a
    # caller passing 10⁶ would get a silent quadratic oracle and a
    # million-row collect instead of a calibration table. 10⁴ bins is
    # already 10× finer than any reliability diagram needs.
    if not 1 <= n_bins <= 10_000:
        raise ValueError(
            f"n_bins must be in [1, 10000] (driver collect and the "
            f"O(n_bins^2) oracle replay are grid-bounded), got {n_bins}"
        )
    with cache_scope() as hold:
        feat = hold(_gd_feat(df, label_col, feature_cols))
        w = _gd_fit(feat, len(feature_cols), lr, n_steps)
        if w is None:
            return spark.createDataFrame([], schema)
        z = F.lit(w[0])
        for j in range(len(feature_cols)):
            z = z + F.lit(w[j + 1]) * F.col(f"__x{j}")
        p6 = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
        b = F.least(F.floor(p6 * n_bins).cast("int"), F.lit(n_bins - 1))
        hist = sorted(
            (int(r["__b"]), int(r["__n"]), int(r["__pos"]))
            for r in feat.select(b.alias("__b"), "__y")
            .groupBy("__b")
            .agg(
                F.count("*").cast("long").alias("__n"),
                F.sum(F.when(F.col("__y") == 1.0, 1).otherwise(0))
                .cast("long")
                .alias("__pos"),
            )
            .collect()  # bounded by n_bins, never by the data
        )
    # PAV: pool adjacent blocks while the rate sequence decreases.
    # blocks: [bin_count, n, pos] — rates compared as cross products
    # (pos_a * n_b vs pos_b * n_a) so pooling decisions are INTEGER-
    # exact, immune to float comparison noise.
    blocks: list[list[int]] = []
    for _bin, n, pos in hist:
        blocks.append([1, n, pos])
        while (
            len(blocks) >= 2
            and blocks[-2][2] * blocks[-1][1] > blocks[-1][2] * blocks[-2][1]
        ):
            c2, n2, p2 = blocks.pop()
            blocks[-1][0] += c2
            blocks[-1][1] += n2
            blocks[-1][2] += p2
    rows, i = [], 0
    for cnt, bn, bpos in blocks:
        iso = round_half_away(bpos / bn, 1e6)
        for _ in range(cnt):
            _bin, n, pos = hist[i]
            rows.append((_bin, n, round_half_away(pos / n, 1e6), iso))
            i += 1
    return spark.createDataFrame(rows, schema)
