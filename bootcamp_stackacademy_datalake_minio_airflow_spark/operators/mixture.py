"""Two-component 1-D Gaussian mixture via EM — in-engine density
estimation (the unsupervised sibling of the GD/NB classifiers in
``operators/classifier.py``): models a value column as two Gaussians,
the standard shape for separating e.g. organic vs bulk order values
or short vs long document lengths without labels.

Determinism contract (house seeded-twin rules): init is closed-form
from (min, max, var_pop) — quartile-point means, shared variance,
equal weights — all ROUND(·, 4); each EM iteration is ONE map-side-
combinable aggregate (Σr, Σrx, Σrx² per component) and re-estimated
parameters are ROUND(·, 6) between iterations so both engines enter
iteration t+1 bit-identical; the E-step density uses an explicit
left-to-right formula with a literal π so the per-row double is
bit-identical given identical parameters. Per-iteration driver
traffic is one scalar row. The M-step variance uses the single-pass
identity Σrx²/n − μ², so no second data pass is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import cache_scope, fanout_repartition, round_half_away

_PI = 3.141592653589793


def _dens(x, w: float, mu: float, var: float):
    """w · N(x; μ, σ²) with the exact operation order the oracle uses."""
    return (
        F.lit(w)
        * F.exp(-((x - F.lit(mu)) * (x - F.lit(mu))) / (F.lit(2.0) * F.lit(var)))
        / F.sqrt(F.lit(2.0) * F.lit(_PI) * F.lit(var))
    )


def _resp(x, p1, p2):
    """Component-1 responsibility, underflow-guarded IDENTICALLY to
    the oracle: when both densities underflow to 0.0 (a far outlier
    under tight components) the point splits evenly instead of
    producing 0/0 = NaN — which would otherwise crash the driver-side
    rounding and, worse, diverge from any engine that treats the row
    differently."""
    d1 = _dens(x, *p1)
    d2 = _dens(x, *p2)
    return F.when(d1 + d2 > 0, d1 / (d1 + d2)).otherwise(F.lit(0.5))


def gmm_em_1d(
    df: DataFrame, val_col: str, n_iter: int = 2
) -> DataFrame:
    """Fit a 2-component 1-D GMM with ``n_iter`` EM iterations and
    return one row per component: (component, weight, mu, sigma2,
    n_soft) — μ/σ² in STANDARDIZED units (see below). Empty/NULL-only
    input returns an empty frame with the same schema (the oracle's
    guarded final SELECT mirrors this).

    The input is standardized per row — x' = ROUND((x − m̂)/ŝ, 4)
    with m̂/ŝ the ROUND(·, 2) corpus mean/stddev — BEFORE any EM
    arithmetic. This is a cross-engine correctness requirement, not
    cosmetics: on raw 1e5-scale values the M-step variance
    Σrx²/n − μ² cancels two ~1e10-scale doubles whose independent
    engine-summation error (~relative 1e-12) dwarfs the ROUND(·, 6)
    grid that keeps the engines in lock-step. Standardized, every
    aggregate is O(1)-valued and the rounding grid is ~10⁵ coarser
    than the cross-engine noise."""
    spark = df.sparkSession
    x = F.col(val_col).cast("double")
    # explicit-N ROUND-ROBIN repartition + persist: the EM loop
    # re-aggregates this frame 3 + n_iter times, and each pass
    # evaluates two exp()-responsibilities per row — without the
    # exchange all of it re-scans and recomputes inside the one-task
    # scan stage per action (guide §2.5 / §5 persist-on-reuse; the
    # fanout_repartition rationale in engine.py). Keyless on
    # purpose (VERDICT r12 #3): hashing on the value column "__r"
    # serializes the exp() fan-out the moment the value distribution
    # degenerates (constant/low-cardinality lake); every consumer is
    # a global aggregate on a ROUND(·,6) grid, so placement is
    # semantics-free. Released when the scope exits.
    with cache_scope() as hold:
        raw = hold(
            fanout_repartition(
                df.select(x.alias("__r")).filter(F.col("__r").isNotNull())
            )
        )
        stats = raw.agg(
            F.count("*").alias("n"),
            F.round(F.avg("__r"), 2).alias("m"),
            F.round(F.sqrt(F.var_pop("__r")), 2).alias("s"),
        ).collect()[0]
        n = int(stats["n"] or 0)
        empty_schema = (
            "component INT, weight DOUBLE, mu DOUBLE, sigma2 DOUBLE, "
            "n_soft DOUBLE"
        )
        if n == 0:
            return spark.createDataFrame([], empty_schema)
        m_hat = float(stats["m"])
        s_hat = float(stats["s"])
        # constant column: var_pop is summation-order noise of either sign
        # (the heaps_law_fit class of split) — ROUND(·, 2) collapses it to
        # 0 on both engines, and the shared unit-scale branch takes over
        if not s_hat > 0:
            s_hat = 1.0
        vals = raw.select(
            F.round((F.col("__r") - F.lit(m_hat)) / F.lit(s_hat), 4).alias("__x")
        )

        st2 = vals.agg(
            F.min("__x").alias("mn"),
            F.max("__x").alias("mx"),
            F.round(F.var_pop("__x"), 4).alias("vp"),
        ).collect()[0]
        mn, mx = float(st2["mn"]), float(st2["mx"])
        var0 = float(st2["vp"])
        if not var0 > 0:
            var0 = 1.0
        params = [
            # [weight, mu, var] per component — quartile-point init
            [0.5, round_half_away(mn + (mx - mn) / 4.0, 1e4), var0],
            [0.5, round_half_away(mn + 3.0 * (mx - mn) / 4.0, 1e4), var0],
        ]

        for _ in range(n_iter):
            r1 = _resp(F.col("__x"), params[0], params[1])
            r2 = F.lit(1.0) - r1
            row = vals.agg(
                F.sum(r1).alias("n1"),
                F.sum(r1 * F.col("__x")).alias("s1"),
                F.sum(r1 * F.col("__x") * F.col("__x")).alias("q1"),
                F.sum(r2).alias("n2"),
                F.sum(r2 * F.col("__x")).alias("s2"),
                F.sum(r2 * F.col("__x") * F.col("__x")).alias("q2"),
            ).collect()[0]  # one scalar row per iteration
            nxt = []
            for k in (1, 2):
                nk = float(row[f"n{k}"])
                if nk <= 0.0:
                    # component fully starved (every row's responsibility
                    # underflowed to exactly 0): keep its parameters — the
                    # oracle's p{t} CASE WHEN n_k > 0 branch mirrors this
                    nxt.append(params[k - 1])
                    continue
                mu = round_half_away(float(row[f"s{k}"]) / nk, 1e6)
                var = round_half_away(float(row[f"q{k}"]) / nk - mu * mu, 1e6)
                nxt.append(
                    [round_half_away(nk / n, 1e6), mu, var if var > 0 else 1e-06]
                )
            params = nxt

        # final soft counts under the final parameters (one aggregate)
        r1 = _resp(F.col("__x"), params[0], params[1])
        soft = vals.agg(
            F.round(F.sum(r1), 2).alias("__n1"),
            F.round(F.sum(F.lit(1.0) - r1), 2).alias("__n2"),
        ).collect()[0]
    rows = [
        F.struct(
            F.lit(k + 1).alias("component"),
            F.lit(params[k][0]).alias("weight"),
            F.lit(params[k][1]).alias("mu"),
            F.lit(params[k][2]).alias("sigma2"),
            F.lit(soft[f"__n{k + 1}"]).alias("n_soft"),
        )
        for k in (0, 1)
    ]
    return spark.range(1).select(F.inline(F.array(*rows)))
