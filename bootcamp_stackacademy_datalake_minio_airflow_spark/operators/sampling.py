"""Deterministic sampling and quota operators (extension; absent in
reference — the reference pipeline, scripts/silver_to_gold/
ingestion_vendas_silver_to_gold.py, always processes full tables).

A 100 TB training-data pipeline samples constantly: smoke subsets,
ablation splits, per-source quotas to balance a mixture. The operators
here are all *deterministic* — membership is a pure function of the
row key — so a sample is reproducible across runs, engines, and
re-partitioning, and can be audited by any system with md5 (unlike
``df.sample``, whose membership depends on partition layout and seed
plumbing).

Mechanism: md5(key) is uniform in [0, 2^128); comparing a fixed-width
lowercase-hex *prefix* of it against a hex threshold implements a
Bernoulli draw with resolution 16^-width. Everything stays JVM-side
codegen (md5/substr/comparison), filters push into the scan pipeline,
and no shuffle is introduced by ``hash_sample``/``hash_split``;
``stratified_quota`` shuffles once on the group key, which is the
minimum possible for a per-group rank.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..engine import fanout_repartition, normalize_text

#: hex digits of md5 used for the draw; 8 digits = 32-bit resolution
_PREFIX_W = 8
_PREFIX_SPACE = 16**_PREFIX_W


def _draw(key: Column, salt: str) -> Column:
    """Uniform lowercase-hex draw in [0, 16^_PREFIX_W) as a string.

    String comparison of equal-length lowercase hex is identical to
    numeric comparison, and behaves the same in every engine — no
    bigint conversion (and no engine-specific conv()) needed.
    """
    return F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, _PREFIX_W)


def _hex_threshold(fraction: float) -> str:
    """Largest prefix value strictly below the acceptance bound.

    fraction == 1.0 must keep EVERY row: its numeric bound (16^W)
    doesn't fit in W hex digits, and formatting it produces a
    9-character string that lexicographically keeps only '0'-prefixed
    draws (~1/16). 'g' sorts after every hex digit, so 'g' * W is an
    upper bound no 8-hex-char draw reaches.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    bound = int(fraction * _PREFIX_SPACE)
    if bound >= _PREFIX_SPACE:
        return "g" * _PREFIX_W
    return format(bound, f"0{_PREFIX_W}x")


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose md5-draw falls
    under ``fraction``. Same key => same verdict, forever and on any
    engine; changing ``salt`` yields an independent sample.
    """
    return df.filter(_draw(F.col(key_col), salt) < _hex_threshold(fraction))


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test split: assigns each row a split
    label from ``weights`` (label -> fraction, summing to ~1) by
    cutting the md5-draw space into contiguous hex ranges. Pure
    map-side projection — no shuffle, reproducible, and a row can
    never migrate between splits when the corpus grows.
    """
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    draw = _draw(F.col(key_col), salt)
    expr = None
    acc = 0.0
    labels = list(weights.items())
    for label, w in labels[:-1]:
        acc += w
        cond = draw < F.lit(_hex_threshold(acc))
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    last_label = labels[-1][0]
    expr = F.lit(last_label) if expr is None else expr.otherwise(last_label)
    # NULL keys get a NULL split, visibly: md5(NULL) is NULL, every
    # range test is NULL, and the otherwise() branch used to dump ALL
    # null-key rows into the LAST split — silently skewing it (review
    # finding; hash_sample drops the same rows, equally silently)
    return df.withColumn(
        split_col, F.when(F.col(key_col).isNotNull(), expr)
    )


def bottom_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    k: int,
    tournament_salt: "F.Column",
    n_salts: int = 64,
) -> DataFrame:
    """Keep each group's k smallest rows under ``order_cols`` via a
    two-round TOURNAMENT instead of one per-group window: round 1
    ranks within (group, salt) — ``tournament_salt`` must be a
    deterministic hash INDEPENDENT of the order key — and keeps k per
    salt; round 2 ranks the ≤ k*n_salts survivors per group. Any
    global bottom-k row is in its salt's bottom-k, so the result is
    exactly the single-window answer.

    Why: a window partition has no map-side combine and AQE cannot
    split it, so one giant group funnels through one task. The salted
    round bounds round-1 partitions at group/n_salts and round 2 at
    k*n_salts rows — the window-skew analogue of salted aggregation.
    """
    rk, sc = "__bk_rk", "__bk_salt"
    while rk in df.columns:
        rk += "_"
    while sc in df.columns:
        sc += "_"
    w1 = Window.partitionBy(*group_cols, sc).orderBy(*order_cols)
    w2 = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn(sc, tournament_salt)
        .withColumn(rk, F.row_number().over(w1))
        .filter(F.col(rk) <= k)
        .withColumn(rk, F.row_number().over(w2))
        .filter(F.col(rk) <= k)
        .drop(rk, sc)
    )


def stratified_quota(
    df: DataFrame,
    group_col: str,
    key_col: str,
    n_per_group: int,
    salt: str = "",
) -> DataFrame:
    """Cap every group at ``n_per_group`` rows, chosen deterministically
    (the n smallest md5-draws per group — an order-statistic sample,
    uniform within the group).

    The balancing move of mixture building: no source may contribute
    more than its quota. Runs as a salted two-round tournament
    (``bottom_k_per_group``) rather than one window per group: AQE
    cannot split a window partition, so a single web-crawl source
    holding most of the corpus would otherwise rank in one task. The
    tournament salt is an independent hash of the key (salting by a
    prefix of the DRAW would cluster the smallest draws in one salt
    and break the tournament guarantee).
    """
    return bottom_k_per_group(
        df,
        [group_col],
        [_draw(F.col(key_col), salt), F.col(key_col)],
        n_per_group,
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(64)),
    )


def mixture_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Deterministic per-group Bernoulli sampling — the mixture-
    weighting move of training-data curation (e.g. upsample wiki,
    downsample crawl). Each row keeps iff its md5-draw falls under
    its group's rate; groups absent from ``rates`` use
    ``default_rate``.

    Pure map-side projection (one CASE over the group column, one md5
    per row): no shuffle, no group-size precomputation, and verdicts
    are per-key stable, so re-running on a grown corpus never flips a
    previously-kept row. Rates > 1 are capped at 1 (this operator
    thins; use explode-based repetition for true upsampling).
    """
    expr = None
    for g, rate in rates.items():
        thr = F.lit(_hex_threshold(min(1.0, rate)))
        expr = (
            F.when(F.col(group_col) == g, thr)
            if expr is None
            else expr.when(F.col(group_col) == g, thr)
        )
    default_thr = F.lit(_hex_threshold(min(1.0, default_rate)))
    expr = default_thr if expr is None else expr.otherwise(default_thr)
    return df.filter(_draw(F.col(key_col), salt) < expr)


def weighted_reservoir_topn(
    df: DataFrame,
    weight_col: str,
    n: int,
    *,
    key_col: str = "doc_id",
    salt: str = "wrs",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement via the
    Efraimidis–Spirakis key trick: each row draws uniform u ∈ (0, 1]
    from md5(salt ‖ key) and is ranked by ln(u)/w — the global top-n
    of that key IS an exact weight-proportional sample (heavier rows
    draw systematically larger keys).

    Distributed shape: the ranking is a global top-n, which Spark
    executes as TakeOrderedAndProject — per-partition partial top-n,
    then a single n-row merge on the driver; no full sort, no shuffle
    of the corpus. Deterministic across runs/engines because the draw
    is a pure function of the row key (ties break on the key).

    Rows with weight <= 0 are excluded (zero-weight rows cannot be
    sampled; ln(u)/w flips sign for negatives).

    The emitted ``weight`` column keeps the source column's NATIVE
    type (the ranking key uses a double internally) — an earlier
    revision cast it to long, silently truncating fractional weights
    in the output while ranking by the true value (ADVICE r4).
    """
    u_int = F.conv(_draw(F.col(key_col), salt), 16, 10).cast("long")
    u = (u_int + F.lit(1.0)) / F.lit(float(_PREFIX_SPACE))  # (0, 1]
    w = F.col(weight_col).cast("double")
    key = F.log(u) / w
    return (
        df.filter(w > 0)
        .select(
            F.col(key_col),
            F.col(weight_col).alias("weight"),
            key.alias("_k"),
        )
        .orderBy(F.col("_k").desc(), F.col(key_col))
        .limit(n)
        .select(
            key_col,
            "weight",
            # + 0.0 normalizes IEEE negative zero after rounding (keys
            # are <= 0; a key in (-5e-5, 0] rounds to -0.0 vs 0.0
            # depending on engine)
            (F.round(F.col("_k"), 4) + F.lit(0.0)).alias("sample_key"),
        )
    )


def mixture_temperature_rates(
    df: DataFrame,
    group_col: str,
    *,
    alpha: float = 0.5,
    round_to: int = 6,
) -> DataFrame:
    """Temperature-scaled mixture weights per group — the standard
    multilingual/multi-source training-mix recipe (sample source s
    with probability proportional to ``n_s^alpha``; alpha < 1 upweights
    small sources, alpha = 1 is natural sampling).

    Emits ``(group, n_docs, weight)`` with weights summing to 1.
    Shape: one map-side-combined count aggregation, then the
    normalizing constant joins back as a broadcast scalar — the
    |groups|-row table never leaves the executors, no window over the
    full corpus. The downstream consumer pairs this with
    ``hash_sample(df, key, rate_of_group)`` per group for the actual
    draw.
    """
    counts = df.groupBy(group_col).agg(F.count("*").cast("long").alias("n_docs"))
    scaled = counts.withColumn("__s", F.pow(F.col("n_docs").cast("double"), alpha))
    total = scaled.agg(F.sum("__s").alias("__z"))
    return (
        scaled.crossJoin(F.broadcast(total))
        .select(
            group_col,
            "n_docs",
            F.round(F.col("__s") / F.col("__z"), round_to).alias("weight"),
        )
    )


def shuffle_order_topk(
    df: DataFrame,
    key_col: str,
    n: int,
    *,
    salt: str = "shuf",
) -> DataFrame:
    """First ``n`` rows of a deterministic GLOBAL training shuffle:
    every row's epoch position is rank-by-md5(salt ‖ key) — the
    standard "shuffle the corpus once per epoch" operation, but
    reproducible across runs, engines, and partitionings (unlike
    ``df.orderBy(rand())``).

    Emits ``(key, position)`` (1-based) for the first n rows. The
    registered top-n form executes as TakeOrderedAndProject (partial
    top-n per partition, single n-row merge — no full sort); a full
    epoch materialization at scale would instead range-partition on
    the same draw and write sorted-within-partition files, which is
    one total-sort shuffle — still the minimum possible.

    Ties (two keys with equal 8-hex draws) break on the key itself, so
    the order is total on distinct keys.

    Order of operations matters at scale: the LIMIT runs FIRST
    (TakeOrderedAndProject — per-partition partial top-n, one n-row
    merge), and only the n survivors see the global row_number window
    — a row_number over the un-limited order would single-partition
    the whole corpus.
    """
    d = _draw(F.col(key_col), salt)
    top = (
        df.select(F.col(key_col), d.alias("__d"))
        .orderBy("__d", key_col)
        .limit(n)
    )
    w = Window.orderBy("__d", F.col(key_col))
    return (
        top.withColumn("position", F.row_number().over(w).cast("long"))
        .select(key_col, "position")
    )


def group_split(
    df: DataFrame,
    group_key: Column,
    weights: dict[str, float],
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/val/test split: the md5 draw is taken on a
    GROUP key (duplicate-cluster fingerprint, URL domain, author id)
    instead of the row key, so every member of a group lands in the
    SAME split — a near-duplicate of a training document can never
    leak into the eval split, which row-level ``hash_split`` cannot
    guarantee.

    Same contract as ``hash_split`` otherwise: pure map-side
    projection (the group key is an expression over the row — no
    group materialization, no shuffle), deterministic, stable under
    corpus growth. Rows whose group key is NULL get a NULL split,
    visibly, matching the repo-wide NULL-payload convention.
    """
    # collision-safe temp name: a caller's own column of this name
    # must not be clobbered then dropped (stratified_quota's __rk
    # convention)
    gk = "__group_split_key"
    while gk in df.columns:
        gk += "_"
    return hash_split(
        df.withColumn(gk, group_key), gk, weights, salt, split_col
    ).drop(gk)


def dsir_importance(
    df: DataFrame,
    target_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023 — public paper): score every document
    by how target-like its unigram distribution is, as the mean
    log-ratio ln(p_target(w) / p_raw(w)) over its tokens, with
    add-one smoothing over the joint vocabulary. ``target_pred``
    marks the in-domain rows (the small high-quality slice); the
    complement is the raw pool. The resample step is then a
    weighted/top-k draw over these weights (weighted_reservoir_topn /
    shuffle_order_topk compose directly).

    Emits ``(id_col, n_tokens, logratio)`` for every non-NULL-text
    document with >= 1 token.

    Shape: one token explode (map-side), ONE vocabulary aggregation
    (|vocab| rows, partial-aggregated), a 1-row totals broadcast,
    then the corpus token stream joins the |vocab|-row ratio table —
    AQE broadcasts it under threshold; past it (open-vocab web text)
    it degrades to a co-partitioned shuffle join — and re-aggregates
    per document. Cost is O(corpus tokens); nothing driver-side.

    The per-token log-ratio is computed as ONE division of integer-
    exact products, identically ordered on both engines, so only the
    final per-doc mean is float-order-sensitive (house-accepted
    ROUND residual).
    """
    # narrow (id, flag, tokens) exchange before the token explode so
    # the fan-out runs at core parallelism, not inside the scan
    # stage (one task on a single-row-group parquet; guide §2.5)
    tok = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            target_pred.cast("int").alias("__t"),
            F.split(normalize_text(text_col), " ").alias("__ts"),
        )
        .transform(lambda d: fanout_repartition(d, "__id"))
        .select("__id", "__t", F.explode("__ts").alias("__w"))
        .filter(F.col("__w") != "")
    )
    cnt = tok.groupBy("__w").agg(
        F.sum("__t").cast("long").alias("n_t"),
        (F.count(F.lit(1)) - F.sum("__t")).cast("long").alias("n_r"),
    )
    tot = cnt.agg(
        F.sum("n_t").cast("long").alias("tt"),
        F.sum("n_r").cast("long").alias("rr"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    lr = cnt.crossJoin(F.broadcast(tot)).select(
        "__w",
        F.log(
            ((F.col("n_t") + F.lit(1.0)) * (F.col("rr") + F.col("v")))
            / ((F.col("n_r") + F.lit(1.0)) * (F.col("tt") + F.col("v")))
        ).alias("lr"),
    )
    return (
        tok.join(lr, "__w")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            (F.round(F.sum("lr") / F.count(F.lit(1)), 4) + F.lit(0.0)).alias(
                "logratio"
            ),
        )
        .select(F.col("__id").alias(id_col), "n_tokens", "logratio")
    )


def token_budget_select(
    df: DataFrame,
    quality: Column,
    n_tokens: Column,
    budget: int,
    id_col: str = "doc_id",
    round_to: int = 4,
) -> DataFrame:
    """Token-budgeted corpus selection: keep the highest-quality
    documents, in (quality DESC, id ASC) order, until the cumulative
    token count exceeds ``budget`` — "fill a 10B-token training run
    with the best of the lake". Emits ``(id_col, quality, n_tokens,
    cum_tokens)`` for the selected docs, ``cum_tokens`` being the
    GLOBAL running total at that doc.

    The naive form is a single global-order window — one reducer owns
    the whole corpus at 100 TB. This runs the histogram two-phase
    instead: (1) aggregate token totals per ROUNDED quality value
    (bounded key space — the curation score is a round(.,4) in [0,1]),
    cumulate over that tiny table to find each bucket's global
    prefix, then (2) per-row cumsums run WITHIN each admitted quality
    bucket, in parallel across buckets, resuming from the bucket
    prefix. The global sort is gone; what remains is one window
    partition per quality value, so the largest TIE GROUP bounds the
    straggler (a corpus where half the docs share one score would
    need the next refinement: order-preserving id-range sharding
    inside the bucket and a second prefix level — the classic
    distributed-scan tree). Selection order-sensitivity is confined
    to the boundary bucket; fully-admitted buckets only replay their
    internal prefix to emit ``cum_tokens``.

    Everything is integer arithmetic on token counts; ties order by
    ``id_col`` so the selection is a total order both engines agree
    on. NULL quality/token rows are excluded (callers filter NULL
    text upstream; the guard here keeps the boundary algebra NULL-free).
    """
    q = F.round(quality, round_to)
    # explicit-N repartition BEFORE the scoring projection so the
    # regex-heavy quality expressions evaluate at core parallelism,
    # not inside the one-task scan stage (guide §2.5; rationale in
    # engine.fanout_repartition). The scored rows feed three consumers
    # (the per-quality histogram, the shard totals, the final cumsum
    # join); the second, round-robin exchange on the narrow scored rows
    # is the subtree they share by ReusedExchange, so the regexes run
    # once. Without it each consumer re-ran them: 2.72 s vs 2.20 s for
    # held rows at sf0.1 (4 cores), against 2.73 vs 2.65 s with it. A
    # hash exchange on the id would be dropped, as the first one
    # already partitions by it.
    scored = fanout_repartition(
        fanout_repartition(df, id_col)
        .select(
            F.col(id_col),
            q.alias("__q"),
            n_tokens.cast("long").alias("__nt"),
        )
        .filter(F.col("__q").isNotNull() & F.col("__nt").isNotNull())
    )
    per_q = scored.groupBy("__q").agg(
        F.sum("__nt").cast("long").alias("__tot"),
        F.min(id_col).cast("long").alias("__mn"),
        F.max(id_col).cast("long").alias("__mx"),
    )
    wq = Window.orderBy(F.desc("__q")).rowsBetween(Window.unboundedPreceding, -1)
    buckets = per_q.select(
        F.col("__q").alias("__qb"),
        F.coalesce(F.sum("__tot").over(wq), F.lit(0).cast("long")).alias(
            "__before"
        ),
        "__mn",
        "__mx",
    ).filter(F.col("__before") <= budget)
    # buckets: every quality level whose prefix does not already
    # overshoot. <= not <: a bucket whose prefix EQUALS the budget
    # can still admit zero-token docs (cum unchanged, still within
    # budget — hypothesis found the < form dropping exactly those);
    # the in-shard cumsum filter rejects everything else.
    #
    # Distributed-scan tree, level 2: ORDER-PRESERVING id-range shards
    # inside each quality bucket so no tie group owns one window
    # partition. The shard index floor((id - mn) / step) is monotone
    # in id whatever the id distribution, and step = (mx-mn)/S + 1 is
    # integer arithmetic with no overflow; shard totals cumulate over
    # a |q| x S table, and the per-row window runs per (q, shard).
    n_shards = 64
    joined = scored.join(F.broadcast(buckets), F.col("__q") == F.col("__qb"))
    step = (F.col("__mx") - F.col("__mn")) / F.lit(n_shards) + F.lit(1)
    sharded = joined.withColumn(
        "__shard",
        ((F.col(id_col).cast("long") - F.col("__mn")) / step.cast("long"))
        .cast("long"),
    )
    shard_tot = sharded.groupBy("__q", "__shard").agg(
        F.sum("__nt").cast("long").alias("__stot")
    )
    ws = Window.partitionBy("__q").orderBy(F.asc("__shard")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    shard_prefix = shard_tot.select(
        F.col("__q").alias("__qs"),
        F.col("__shard").alias("__shards"),
        F.coalesce(F.sum("__stot").over(ws), F.lit(0).cast("long")).alias(
            "__sbefore"
        ),
    )
    win = Window.partitionBy("__q", "__shard").orderBy(F.asc(id_col))
    cum = (
        F.col("__before") + F.col("__sbefore") + F.sum("__nt").over(win)
    ).cast("long")
    result = (
        sharded.join(
            F.broadcast(shard_prefix),
            (F.col("__q") == F.col("__qs"))
            & (F.col("__shard") == F.col("__shards")),
        )
        .withColumn("__cum", cum)
        .filter(F.col("__cum") <= budget)
        .select(
            id_col,
            (F.col("__q") + F.lit(0.0)).alias("quality"),
            F.col("__nt").alias("n_tokens"),
            F.col("__cum").alias("cum_tokens"),
        )
    )
    return result


def epoch_schedule(
    df: DataFrame,
    group_col: str,
    token_count_col,
    *,
    budget: int,
    max_epochs: float = 4.0,
    alpha: float = 0.5,
    round_to: int = 4,
) -> DataFrame:
    """Capped water-filling epoch scheduler for a token budget — the
    data-constrained-scaling planner (Muennighoff et al. 2023 show
    value decays past ~4 epochs of repetition): allocate ``budget``
    tokens across sources proportionally to temperature weights
    ``n_s^alpha``, but cap every source at ``max_epochs`` repetitions
    and REDISTRIBUTE its unusable share to the uncapped sources.
    Emits ``(group, n_tokens, weight, capped, epochs, alloc_tokens)``.

    The fixpoint has a closed sorted form: a source's uncapped epoch
    count is proportional to ``r_s = w_s / n_s``, so the capped set
    is a PREFIX of sources ordered by r descending; walking that
    order with running sums (cn = capped tokens so far, cw = capped
    weight so far), source s caps iff
    ``(budget - R*cn) * r_s > R * (W - cw)``. cn is integer; the
    float sums fold in the same deterministic sorted order on any
    engine, and BOTH comparison sides are ROUNDed to 6 decimals
    before comparing (house convention) so an engine's last-ulp
    aggregation difference cannot flip the capped flag unless the
    true margin is under 5e-7 — the accepted residual. With exact
    arithmetic the condition is monotone down the r-descending
    order, but the two independent 6-decimal ROUNDs could in
    principle mark a row capped after an uncapped one on a sub-5e-7
    margin, so the final ``capped`` flag is a running prefix-AND of
    the raw per-row condition — the flagged set is a prefix BY
    CONSTRUCTION (matching the greedy walk pinned in
    tests/test_properties.py), not merely by the monotonicity
    argument. The prefix gives the redistribution constants;
    ``alloc_tokens`` floors a 6-rounded product for the same reason.

    Scale shape: the corpus collapses to one (group, token-sum) row
    per source; every window here runs over that |sources| table
    (dozens of rows — inherent-and-bounded global order, same class
    as the COVERAGE window-audit entries), and the scalar totals
    broadcast. Sources with zero tokens are excluded (nothing to
    repeat; also guards the r_s division).
    """
    tc = F.col(token_count_col) if isinstance(token_count_col, str) else token_count_col
    counts = (
        df.groupBy(group_col)
        .agg(F.sum(tc).cast("long").alias("n_tokens"))
        .filter(F.col("n_tokens") > 0)
    )
    scaled = counts.withColumn(
        "__w", F.pow(F.col("n_tokens").cast("double"), alpha)
    ).withColumn("__r", F.col("__w") / F.col("n_tokens"))
    w = Window.orderBy(F.desc_nulls_last("__r"), F.asc_nulls_last(group_col))
    prev = w.rowsBetween(Window.unboundedPreceding, -1)
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = (
        scaled.withColumn("__tot", F.sum("__w").over(wfull))
        .withColumn("__cn", F.coalesce(F.sum("n_tokens").over(prev), F.lit(0)))
        .withColumn("__cw", F.coalesce(F.sum("__w").over(prev), F.lit(0.0)))
        .withColumn(
            "__rawcap",
            F.round(
                (F.lit(float(budget)) - F.lit(max_epochs) * F.col("__cn"))
                * F.col("__r"),
                6,
            )
            > F.round(
                F.lit(max_epochs) * (F.col("__tot") - F.col("__cw")), 6
            ),
        )
        # prefix-AND over the same r-descending order: once any row is
        # uncapped, every later row is uncapped — the capped set is a
        # prefix by construction, immune to a sub-5e-7 rounding flip
        .withColumn(
            "capped",
            F.min(F.col("__rawcap").cast("int")).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            == F.lit(1),
        )
    )
    # redistribution constants as FULL-FRAME ordered windows (not a
    # crossJoin back onto the same lineage, which trips Spark's
    # self-join attribute ambiguity): the frame is the |sources|
    # table and the ordered fold is deterministic on any engine
    full = wfull
    out = (
        ranked.withColumn(
            "__ctoks",
            F.coalesce(
                F.sum(F.when(F.col("capped"), F.col("n_tokens"))).over(full),
                F.lit(0),
            ),
        )
        .withColumn(
            "__cwt",
            F.coalesce(
                F.sum(F.when(F.col("capped"), F.col("__w"))).over(full),
                F.lit(0.0),
            ),
        )
        .withColumn(
            "__e",
            F.when(F.col("capped"), F.lit(max_epochs)).otherwise(
                (F.lit(float(budget)) - F.lit(max_epochs) * F.col("__ctoks"))
                * F.col("__r")
                / (F.col("__tot") - F.col("__cwt"))
            ),
        )
    )
    return out.select(
        group_col,
        "n_tokens",
        (F.round(F.col("__w") / F.col("__tot"), 6) + F.lit(0.0)).alias("weight"),
        "capped",
        (F.round("__e", round_to) + F.lit(0.0)).alias("epochs"),
        F.floor(F.round(F.col("__e") * F.col("n_tokens"), 6))
        .cast("long")
        .alias("alloc_tokens"),
    )


def kfold_group_assign(
    df: DataFrame, group_col: str, k: int = 5, salt: str = "cv"
) -> DataFrame:
    """Group-aware k-fold assignment: fold = md5-fold of the GROUP key
    mod k, so every row of a group lands in the same fold by
    construction — the cross-validation analogue of ``group_split``'s
    leakage guarantee (same-author/same-user rows can never straddle
    a train/test boundary). Pure map-side column, no shuffle; the
    md5-derived fold is engine-portable (DuckDB replays it with the
    digit-position fold, suites/extensions._hex_fold).
    """
    fold = (
        F.conv(_draw(F.col(group_col), f"{salt}:"), 16, 10).cast("long")
        % int(k)
    ).cast("int")
    return df.withColumn("fold", fold)


def target_encode_oof(
    df: DataFrame,
    group_col: str,
    cat_col: str,
    val_col: str,
    k: int = 5,
    salt: str = "cv",
) -> DataFrame:
    """Out-of-fold target encoding — the leakage-safe categorical
    encoder (a category's encoding for fold f is the target mean
    computed WITHOUT fold f's rows, so a row never sees its own
    label): oof_mean(c, f) = (S_c − s_cf) / (N_c − n_cf).

    Folds come from ``kfold_group_assign`` (group-keyed, so the
    leakage guarantee extends to groups). One partial-aggregable
    rollup to (category, fold) cells, then per-category totals via a
    window PARTITIONED BY category (k rows per partition — bounded by
    the fold count, never the data). Returns (category, fold, n_rows,
    oof_mean) with oof_mean NULL when a category exists only in one
    fold (no out-of-fold rows to average)."""
    cells = (
        kfold_group_assign(df, group_col, k=k, salt=salt)
        .groupBy(F.col(cat_col).alias("category"), "fold")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.col(val_col).cast("double")).alias("__s"),
        )
    )
    w = Window.partitionBy("category")
    n_tot = F.sum("n_rows").over(w)
    s_tot = F.sum("__s").over(w)
    oof = F.when(
        n_tot - F.col("n_rows") > 0,
        F.round((s_tot - F.col("__s")) / (n_tot - F.col("n_rows")), 4),
    )
    return cells.select("category", "fold", "n_rows", oof.alias("oof_mean"))
