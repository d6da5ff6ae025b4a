"""Embedding similarity search (extension; absent in reference).

Brute-force cosine top-k is the correctness baseline: one narrow pass,
dot products computed JVM-side with zip_with/aggregate (no Python in
the loop), then a global top-k (TakeOrderedAndProject — no full sort).

The scale path is random-hyperplane LSH: bucket vectors by the sign
pattern of ``n_planes`` fixed hyperplanes, probe only the query's
bucket (plus optional multi-probe neighbors at Hamming distance 1).
At 1000 executors the bucketed table is pre-partitioned by bucket id,
so a query touches one partition instead of the full corpus.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _lit_vec(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity, NULL when either vector has zero norm.

    The guard matters operationally, not just semantically: under
    ANSI mode (Spark 4 default) the unguarded division is a
    DIVIDE_BY_ZERO *task failure*, so ONE zeroed/failed embedding row
    in a corpus kills the whole job — found by the degenerate-data
    gate (tools/degenerate_data.py), which planted a zero vector and
    crashed four cosine queries. NULL scores sort last under the
    operators' cos_sim DESC orderings, so degenerate rows simply
    never rank."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0.0, dot(a, b) / denom)


def cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Exact cosine top-k against a literal query vector.

    orderBy+limit compiles to TakeOrderedAndProject: each partition
    keeps its local k, the driver merges partition winners — no global
    sort, no collect of the corpus. Ties broken by id for determinism.
    """
    q = _lit_vec(query)
    # NULL embeddings (failed embedding jobs) are EXCLUDED, not ranked
    # last: the cross-engine convention, since DuckDB's list_cosine
    # refuses NULL inputs outright (degenerate-gate NULL tier)
    scored = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col).cast("array<double>"), q), round_to).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def cosine_all_pairs_matmul(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    broadcast_budget_rows: int = 500_000,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold via broadcast matmul.

    The expression-based crossJoin form evaluates an interpreted
    lambda per element (O(n^2 * dim) interpreter steps); this variant
    broadcasts the row-normalized corpus matrix (n x dim floats — a
    few MB for dim-scale corpora) and streams the left side through
    numpy matmul in Arrow batches, so the pair scores run at BLAS
    speed. Emits (id_a, id_b, cos_sim) with id_a < id_b.

    At 100 TB corpus scale the matrix no longer broadcasts — shard the
    right side by LSH bucket (hyperplane_bucket) and apply this
    within buckets.
    """
    import numpy as np
    import pandas as pd

    # NULL embeddings (failed embedding jobs) cannot participate and
    # would crash the ragged numpy conversion — dropped at the scan.
    # The broadcast side is budget-ENFORCED (VERDICT r6 ask #6): this
    # operator is the within-bucket kernel, so a caller handing it a
    # whole 100 TB corpus must get a loud shard-your-input error, not a
    # driver OOM — the limit runs distributed, so the check fires
    # before an unbounded corpus ever lands in driver memory.
    nn = df.filter(F.col(vec_col).isNotNull()).select(id_col, vec_col)
    rows = nn.limit(broadcast_budget_rows + 1).collect()
    if len(rows) > broadcast_budget_rows:
        raise RuntimeError(
            "cosine_all_pairs_matmul: corpus exceeds the broadcast "
            f"budget of {broadcast_budget_rows} vectors; shard by LSH "
            "bucket (hyperplane_bucket) and apply within buckets, or "
            "raise broadcast_budget_rows if the driver can hold it"
        )
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    spark = df.sparkSession
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    out_schema = (
        f"id_a long, id_b long, cos_sim double"
    )

    def _pairs(batches):
        r_ids, r_mat = b_ids.value, b_mat.value
        for pdf in batches:
            l_ids = pdf[id_col].to_numpy(dtype=np.int64)
            l_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            l_mat /= np.linalg.norm(l_mat, axis=1, keepdims=True)
            sims = np.round(l_mat @ r_mat.T, round_to)
            li, ri = np.nonzero(sims >= threshold)
            mask = l_ids[li] < r_ids[ri]
            li, ri = li[mask], ri[mask]
            yield pd.DataFrame(
                {"id_a": l_ids[li], "id_b": r_ids[ri], "cos_sim": sims[li, ri]}
            )

    # the streaming side needs the same NULL filter as the broadcast
    # side — a NULL row in any Arrow batch crashes the conversion
    left = df.filter(F.col(vec_col).isNotNull()).select(id_col, vec_col)
    n_parts = spark.sparkContext.defaultParallelism
    return left.repartition(n_parts).mapInPandas(_pairs, out_schema)


def cosine_all_pairs_blocked(
    df: DataFrame,
    threshold: float,
    n_blocks: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold as a distributed blocked
    matrix multiply — the 100 TB path: nothing is collected to the
    driver and no single task ever holds the whole corpus.

    Ids hash into ``n_blocks`` blocks; the pair space is the upper
    triangle of the block grid (B*(B+1)/2 cells). Each row is exploded
    to the <=B cells its block participates in, the grid cell is the
    shuffle key, and one Arrow batch per cell runs a numpy matmul over
    its two blocks. Traffic is O(n*B) rows; per-task memory is
    O((n/B)*dim) — pick B ~ sqrt(corpus/target_block) so a cell's two
    blocks fit an executor. Emits (id_a, id_b, cos_sim), id_a < id_b,
    bit-identical to ``cosine_all_pairs_matmul`` (same round-then-
    filter order).
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    if n_blocks is None:
        n_blocks = max(4, math.isqrt(spark.sparkContext.defaultParallelism * 2))

    # NULL embeddings dropped at the scan — the per-cell numpy
    # conversion would otherwise crash on a ragged batch (found by the
    # NULL-embedding probe of the degenerate gate)
    base = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("__blk"),
    )
    # block b participates in cells {(min(b,o), max(b,o)) : o in 0..B-1}
    cells = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_blocks - 1)),
            lambda o: F.struct(
                F.least(F.col("__blk"), o.cast("long")).alias("ca"),
                F.greatest(F.col("__blk"), o.cast("long")).alias("cb"),
            ),
        )
    )
    exploded = base.select(
        "__id",
        "__vec",
        "__blk",
        F.explode(cells).alias("__cell"),
    ).select(
        "__id",
        "__vec",
        "__blk",
        F.col("__cell.ca").alias("__ca"),
        F.col("__cell.cb").alias("__cb"),
    )

    def _cell_pairs(key, pdf):
        ca, cb = int(key[0]), int(key[1])
        a = pdf[pdf["__blk"] == ca]
        b = pdf[pdf["__blk"] == cb] if cb != ca else a
        if a.empty or b.empty:
            return pd.DataFrame(
                {
                    "id_a": pd.Series(dtype="int64"),
                    "id_b": pd.Series(dtype="int64"),
                    "cos_sim": pd.Series(dtype="float64"),
                }
            )
        a_ids = a["__id"].to_numpy(dtype=np.int64)
        b_ids = b["__id"].to_numpy(dtype=np.int64)
        a_mat = np.array(list(a["__vec"]), dtype=np.float64)
        b_mat = np.array(list(b["__vec"]), dtype=np.float64)
        a_mat /= np.linalg.norm(a_mat, axis=1, keepdims=True)
        b_mat /= np.linalg.norm(b_mat, axis=1, keepdims=True)
        sims = np.round(a_mat @ b_mat.T, round_to)
        ai, bi = np.nonzero(sims >= threshold)
        ia, ib = a_ids[ai], b_ids[bi]
        if ca == cb:
            keep = ia < ib  # dedup the symmetric upper/lower duplicates
        else:
            keep = np.ones(len(ia), dtype=bool)  # disjoint blocks: every pair once
        lo = np.minimum(ia[keep], ib[keep])
        hi = np.maximum(ia[keep], ib[keep])
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "cos_sim": sims[ai[keep], bi[keep]]}
        )

    return exploded.groupBy("__ca", "__cb").applyInPandas(
        _cell_pairs, "id_a long, id_b long, cos_sim double"
    )


def semantic_clusters(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Semantic-dedup cluster labels: connected components over the
    cosine >= threshold pair graph, one (id, cluster_id) row per input
    vector. cluster_id = min id of the component; vectors with no
    near-neighbor are their own singleton cluster.

    Composition is fully distributed end to end: blocked all-pairs
    matmul (never collects), then min-label propagation (join+agg per
    round). Dedup-by-cluster is ``filter(id == cluster_id)`` or a
    groupBy(cluster_id) pick — both one shuffle on the label.
    """
    from .dedup import connected_components

    pairs = cosine_all_pairs_blocked(
        df, threshold, id_col=id_col, vec_col=vec_col, round_to=round_to
    )
    cc = connected_components(pairs, "id_a", "id_b")
    return (
        df.select(F.col(id_col).cast("long").alias(id_col))
        .join(cc, F.col(id_col) == F.col("node"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
        )
    )


# ---------------------------------------------------------------------------
# LSH (random hyperplanes) — the scale path
# ---------------------------------------------------------------------------


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (LCG; no numpy
    needed, reproducible across runs/machines)."""
    state = seed & 0x7FFFFFFF or 1
    planes: list[list[float]] = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            # Park-Miller minimal standard LCG
            state = (state * 48271) % 2147483647
            v.append(state / 2147483647.0 - 0.5)
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def hyperplane_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id: bit i = 1 iff dot(vec, plane_i) > 0."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        bit = F.when(dot(vec_col, _lit_vec(p)) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket.bitwiseOR(F.shiftleft(bit, i))
    return bucket


def ann_topk_lsh(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_planes: int = 8,
    multiprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    round_to: int = 4,
) -> DataFrame:
    """Approximate cosine top-k: probe the query's hyperplane bucket
    (and buckets at Hamming distance <= multiprobe), exact-rerank the
    candidates.

    2^n_planes buckets: n_planes=8 → candidate set ~corpus/256 per
    probe. Recall/speed tradeoff is (n_planes, multiprobe); the test
    suite measures recall against cosine_topk ground truth.
    """
    planes = _hyperplanes(len(query), n_planes, seed)
    q_bucket = 0
    for i, p in enumerate(planes):
        if sum(x * y for x, y in zip(query, p)) > 0:
            q_bucket |= 1 << i

    probe = {q_bucket}
    if multiprobe >= 1:
        for i in range(n_planes):
            probe.add(q_bucket ^ (1 << i))
    if multiprobe >= 2:
        for i in range(n_planes):
            for j in range(i + 1, n_planes):
                probe.add(q_bucket ^ (1 << i) ^ (1 << j))

    # narrow (id, vec) projection + explicit-N exchange ahead of the
    # n_planes x dim bucket fan-out, so the per-row plane dots run at
    # core parallelism instead of inside the scan stage (guide
    # §2.5 repartition-after-read; the engine.fanout_repartition
    # rationale). Measured neutral at sf0.1 (the 2000-row corpus is
    # below where the exchange pays) — the change is the scale
    # posture, same as every other fan-out operator. NOTE r13: a
    # codegen add-chain rewrite of the dots was tried and REVERTED —
    # 8x64-term chains exceed the 64KB generated-method limit, Janino
    # fails per execution and the fallback ran 2-3x slower than the
    # interpreted HOF (see OPTIMIZATION_r13.md).
    from ..engine import fanout_repartition

    bucketed = fanout_repartition(
        df.select(F.col(id_col), F.col(vec_col)), id_col
    ).withColumn(
        "__bucket", hyperplane_bucket(F.col(vec_col).cast("array<double>"), planes)
    )
    cands = bucketed.filter(F.col("__bucket").isin(*[int(b) for b in probe]))
    return cosine_topk(cands, query, k=k, id_col=id_col, vec_col=vec_col, round_to=round_to)


# ---------------------------------------------------------------------------
# IVF (inverted file with KMeans coarse quantizer) — alternative scale path
# ---------------------------------------------------------------------------


def ivf_build(
    df: DataFrame,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_sample_rows: int = 4096,
    max_iter: int = 4,
):
    """Train a KMeans coarse quantizer and assign every vector to its
    nearest centroid ("inverted list").

    The quantizer trains on a bounded sample (``train_sample_rows``)
    with random init and few iterations — the standard IVF recipe: at
    corpus scale you never k-means|| the full table for a coarse
    quantizer whose only job is partitioning; assignment (a broadcast
    of n_lists centroids over one pass) still covers every vector.

    Returns ``(assigned_df, centroids)`` where assigned_df carries a
    ``__list`` column. Persist/write the assigned table partitioned by
    ``__list`` in production so a probe touches only its lists' files.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array  # noqa: F401

    # NULL embeddings excluded BEFORE featurization: MLlib's
    # array_to_vector raises a JVM NullPointerException on NULL arrays
    # (degenerate-gate NULL tier)
    featurized = df.filter(F.col(vec_col).isNotNull()).withColumn(
        "__features", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    # Sample by smallest id-hash, NOT limit(): limit takes whatever
    # partitions answer first — on a corpus written clustered by
    # source/topic that trains every centroid on one region of the
    # space (and is nondeterministic run to run). Hash-order top-k
    # compiles to TakeOrderedAndProject: one pass, no global sort,
    # deterministic, uniformly spread.
    train = (
        featurized.select(F.xxhash64(F.col(id_col)).alias("__r"), "__features")
        .orderBy("__r")
        .limit(train_sample_rows)
        .select("__features")
    )
    if not train.take(1):
        # empty corpus: KMeans.fit raises; an empty index (no lists,
        # no centroids) lets probes return empty instead of crashing
        # on an empty day-partition (empty-lake degenerate tier). The
        # take(1) probe is bounded: train is already LIMITed.
        return (
            featurized.drop("__features").withColumn(
                "__list", F.lit(0).cast("int")
            ),
            [],
        )
    km = KMeans(
        k=n_lists,
        seed=seed,
        maxIter=max_iter,
        initMode="random",
        featuresCol="__features",
        predictionCol="__list",
    )
    model = km.fit(train)
    assigned = model.transform(featurized).drop("__features")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


#: (session id, sf marker, n_lists) -> (assigned_df, centroids): the
#: build-once/probe-many lifecycle. clearCache() may drop the persisted
#: blocks, but re-evaluation only re-applies the frozen model transform
#: — it never re-trains.
_IVF_INDEX_CACHE: dict[tuple, tuple[DataFrame, list[list[float]]]] = {}


def ivf_index(
    df: DataFrame,
    cache_key: tuple,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
):
    """Build-once IVF index: returns the cached (assigned, centroids)
    for ``cache_key`` or builds, persists, and caches it. Probes are
    then centroid ranking (driver, n_lists floats) + a pruned scan."""
    from pyspark import StorageLevel

    # every build input participates in the key — a same-named index
    # over a different column must miss, never alias
    key = (id(df.sparkSession), cache_key, n_lists, id_col, vec_col, seed)
    hit = _IVF_INDEX_CACHE.get(key)
    if hit is not None:
        return hit
    assigned, centroids = ivf_build(
        df, n_lists=n_lists, id_col=id_col, vec_col=vec_col, seed=seed
    )
    assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
    # bounded cache: evict (and unpersist) the oldest entry so a
    # long-lived session sweeping many corpora can't pin unbounded
    # executor storage (dicts iterate in insertion order)
    while len(_IVF_INDEX_CACHE) >= 8:
        oldest_key = next(iter(_IVF_INDEX_CACHE))
        old_df, _ = _IVF_INDEX_CACHE.pop(oldest_key)
        old_df.unpersist(blocking=False)
    _IVF_INDEX_CACHE[key] = (assigned, centroids)
    return assigned, centroids


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    query: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """IVF probe: rank centroids by cosine to the query, exact-search
    only the ``n_probe`` nearest inverted lists.

    With n_lists ~ sqrt(corpus) and n_probe lists scanned, the probe
    reads ~n_probe/n_lists of the corpus; recall follows how cleanly
    the corpus clusters.
    """
    import math

    def cos(a: list[float], b: list[float]) -> float:
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return d / (na * nb)

    ranked = sorted(range(len(centroids)), key=lambda i: -cos(centroids[i], query))
    probe = ranked[:n_probe]
    cands = assigned.filter(F.col("__list").isin(probe))
    return cosine_topk(cands, query, k=k, id_col=id_col, vec_col=vec_col, round_to=round_to)


def ivf_topk_seeded(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_lists: int = 8,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """IVF top-k with a deterministic, SQL-replayable coarse quantizer.

    The KMeans-trained index (``ivf_index``/``ivf_topk``) is the
    production path, but KMeans isn't expressible in ANSI SQL, so its
    correctness check is rows-only. This variant swaps the trained
    centroids for a deterministic seed set — the ``n_lists`` vectors
    with the smallest ``md5(id)`` (md5 is the only cross-engine hash
    family) — so EVERY stage is replayable by an independent engine:

      1. seeds  = top-n_lists by (md5(id), id)        — ORDER BY/LIMIT
      2. assign = argmax_j round(cos(v, seed_j), 4), ties to smaller j
      3. probe  = n_probe seeds nearest the query (same rounding/ties)
      4. rerank = exact cosine top-k within probed lists

    Same IVF mechanics as the trained path (assignment, probe pruning,
    rerank), hash-checkable end to end; recall is lower than KMeans
    (random seeds cluster nothing) but deterministic. Scale shape: the
    seed table is n_lists rows (TakeOrderedAndProject + tiny collect),
    assignment is a map-only pass against n_lists literal vectors, and
    the rerank inherits cosine_topk's TakeOrderedAndProject.
    """
    seeds = (
        df.filter(F.col(vec_col).isNotNull())
        .select(id_col, F.col(vec_col).cast("array<double>").alias("__v"))
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_lists)
        .collect()
    )
    cents = [list(map(float, r["__v"])) for r in seeds]

    def py_cos(a: list[float], b: list[float]) -> float:
        # sequential sums — the exact order Spark's aggregate() and
        # the oracle's list_dot_product fold in, so the rounded value
        # agrees across engines
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return d / (na * nb)

    if not cents:
        # empty corpus: no seeds, no lists to probe (empty-lake tier)
        return df.select(
            F.col(id_col), F.lit(0.0).alias("cos_sim")
        ).limit(0)

    probe = sorted(
        range(len(cents)),
        key=lambda j: (-round(py_cos(cents[j], query), round_to), j),
    )[:n_probe]

    base = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).withColumn(
        "__nv",
        # same `or 1.0` convention as the centroid norms: a zero-norm
        # vector scores cos 0.0 against every seed (dot is 0) instead
        # of raising ANSI DIVIDE_BY_ZERO inside the assignment SQL —
        # one zeroed embedding row must not kill the job (found by
        # tools/degenerate_data.py)
        F.when(l2_norm(F.col("__v")) == 0.0, F.lit(1.0)).otherwise(
            l2_norm(F.col("__v"))
        ),
    )
    # one selectExpr parse instead of n_lists nested Column/lambda
    # builds (py4j round-trips dominate wide expression construction)
    cnorms = [math.sqrt(sum(x * x for x in c)) or 1.0 for c in cents]
    cos_sqls = [
        "round(aggregate(zip_with(__v, CAST(array({lits}) AS array<double>),"
        " (x, y) -> x * y), 0D, (a, x) -> a + x)"
        " / (__nv * CAST('{cn}' AS DOUBLE)), {r})".format(
            lits=", ".join(repr(v) for v in c), cn=repr(cn), r=round_to
        )
        for c, cn in zip(cents, cnorms)
    ]
    # argmax by (cos desc, seed asc): array_max on struct(cos, -j)
    assign_sql = "array_max(array({})).nj".format(
        ", ".join(
            f"named_struct('c', {cs}, 'nj', {-j})" for j, cs in enumerate(cos_sqls)
        )
    )
    cands = base.withColumn("__list", -F.expr(assign_sql)).filter(
        F.col("__list").isin(probe)
    )
    return cosine_topk(
        cands, query, k=k, id_col=id_col, vec_col="__v", round_to=round_to
    )


def ivf_seeded_recall(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_lists: int = 8,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall of the seeded IVF probe against the exact top-k: one row
    ``(k, n_probe, recall)``. Joining the two k-row results is a
    broadcast-sized semi-join regardless of corpus size."""
    ivf = ivf_topk_seeded(
        df, query, k=k, n_lists=n_lists, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col,
    ).select(id_col)
    exact = cosine_topk(df, query, k=k, id_col=id_col, vec_col=vec_col).select(id_col)
    return (
        ivf.join(exact, id_col, "left_semi")
        .agg(F.round(F.count(F.lit(1)) / F.lit(float(k)), 4).alias("recall"))
        .select(F.lit(k).alias("k"), F.lit(n_probe).alias("n_probe"), "recall")
    )


def centroid_classify(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 6,
) -> DataFrame:
    """Nearest-centroid (Rocchio) classification of an embedding
    column: per-label mean vectors, then each vector is assigned the
    label of the closest centroid (squared euclidean; ties break to
    the smaller label). Returns (id, label, predicted).

    Fully distributed, pure codegen — no driver-held vectors, no
    UDFs, no HOFs in the hot path:
      1. posexplode the vectors — (id, label, dim, x) rows;
      2. centroids = groupBy(label, dim).avg — partial-aggregated
         map-side, k x dim rows total;
      3. distances = the exploded rows joined to centroids on dim
         (broadcast: k x dim is tiny), then sum((x - m)^2) grouped by
         (id, candidate label) — shuffle keyed on the id;
      4. argmin via min_by over each id's k candidate rows.

    Centroid means and distances are rounded so any engine replaying
    the same arithmetic (e.g. the DuckDB oracle) lands on identical
    comparisons despite float summation-order differences.

    Ids and labels keep the CALLER's types (no cast): a long cast
    would silently NULL string ids/labels and collapse all affected
    rows into one group. Tie-break is min over the label's natural
    ordering (numeric or lexicographic).
    """
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(label_col).alias("__lbl"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("__dim", "__x"),
    )
    cents = base.groupBy(
        F.col("__lbl").alias("__clbl"), F.col("__dim").alias("__cdim")
    ).agg(F.round(F.avg("__x"), round_to).alias("__m"))
    dists = (
        base.join(F.broadcast(cents), F.col("__dim") == F.col("__cdim"))
        .groupBy("__id", "__lbl", "__clbl")
        # distances round coarser (4) than the means (6): the sum's
        # last-ulp order sensitivity must stay far inside the rounding
        # step or the argmin could disagree across engines
        .agg(F.round(F.sum((F.col("__x") - F.col("__m")) ** 2), 4).alias("__d"))
    )
    return dists.groupBy("__id", "__lbl").agg(
        F.min_by(
            F.col("__clbl"), F.struct(F.col("__d"), F.col("__clbl"))
        ).alias("predicted")
    ).select(
        F.col("__id").alias(id_col),
        F.col("__lbl").alias(label_col),
        "predicted",
    )


# --- product quantization (seeded, SQL-replayable) --------------------------


def _pq_codebooks_seeded(
    df: DataFrame, m: int, ks: int, id_col: str, vec_col: str
) -> list[list[list[float]]]:
    """``[m][ks][d/m]`` sub-codebooks from a deterministic seed set:
    the ``ks`` vectors with the smallest ``(md5(id), id)`` (the same
    cross-engine seed rule as ``ivf_topk_seeded``), split into ``m``
    contiguous subspaces. A trained PQ would KMeans each subspace;
    the seeded variant trades recall for end-to-end replayability."""
    seeds = (
        df.filter(F.col(vec_col).isNotNull())
        .select(id_col, F.col(vec_col).cast("array<double>").alias("__v"))
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(ks)
        .collect()
    )
    vecs = [list(map(float, r["__v"])) for r in seeds]
    if not vecs:
        # empty corpus: no codebooks (callers short-circuit to empty
        # results instead of crashing on vecs[0] — empty-lake tier of
        # the degenerate gate)
        return []
    d = len(vecs[0])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    d0 = d // m
    return [[v[j * d0 : (j + 1) * d0] for v in vecs] for j in range(m)]


def _sq_sql(sub_expr: str, center: list[float], round_to: int) -> str:
    """Rounded squared-L2 between a SQL sub-vector expression and a
    literal center, folded left-to-right (the order Python's sum()
    and DuckDB's list_aggregate('sum') also use)."""
    lits = ", ".join(repr(float(v)) for v in center)
    return (
        f"round(aggregate(zip_with({sub_expr}, CAST(array({lits}) AS"
        f" array<double>), (x, y) -> (x - y) * (x - y)), 0D,"
        f" (a, x) -> a + x), {round_to})"
    )


def pq_encode_seeded(
    df: DataFrame,
    m: int = 4,
    ks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> tuple[DataFrame, list[list[list[float]]]]:
    """Product-quantization encode (Jegou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011) with the
    seeded codebooks: each vector compresses to ``m`` one-byte codes
    (nearest sub-codebook center per contiguous subspace, squared-L2
    rounded to ``round_to``, ties to the smaller center index).

    Returns ``(encoded, codebooks)`` where encoded carries
    ``(id, __v, __c0..__c{m-1})``. Scale shape: the codebook is
    ``m*ks*(d/m)`` driver-side floats (tiny — it rides into the plan
    as literals), encoding is one map-only codegen pass, and the
    compressed representation is ``m`` bytes/vector instead of
    ``4*d`` — the point of PQ at 100 TB is that the CODES fit in
    memory where the vectors don't."""
    books = _pq_codebooks_seeded(df, m, ks, id_col, vec_col)
    if not books:
        return df.select(F.col(id_col)).limit(0), []
    d0 = len(books[0][0])
    out = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    for j, book in enumerate(books):
        sub = f"slice(__v, {j * d0 + 1}, {d0})"
        # argmin by (dist asc, center asc): array_min over structs
        # compares field-lexicographically
        cells = ", ".join(
            f"named_struct('d', {_sq_sql(sub, c, round_to)}, 'c', {ci})"
            for ci, c in enumerate(book)
        )
        out = out.withColumn(f"__c{j}", F.expr(f"array_min(array({cells})).c"))
    return out, books


def pq_topk_seeded(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    m: int = 4,
    ks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over the PQ codes: the query's
    ``m x ks`` table of rounded sub-distances is computed driver-side
    (it depends only on the query and the codebooks), each encoded
    vector's approximate distance is the fixed-order sum
    ``dt[0][c0] + ... + dt[m-1][c_{m-1}]``, and the global top-k is
    TakeOrderedAndProject (ascending distance, id ties).

    Every stage is ANSI-SQL-replayable (seed rule, assignment
    rounding/ties, table lookup, explicit left-to-right sum), so the
    registered query hash-checks against an independent DuckDB replay
    — the same verifiability trade as ``ivf_topk_seeded``. When
    ``ks`` equals the corpus size every vector is its own seed, codes
    are exact, and ADC degenerates to the true distance (pinned in
    pytest)."""
    encoded, books = pq_encode_seeded(
        df, m=m, ks=ks, id_col=id_col, vec_col=vec_col, round_to=round_to
    )
    if not books:
        return df.select(
            F.col(id_col), F.lit(0.0).alias("approx_l2")
        ).limit(0)
    d0 = len(books[0][0])

    def py_sq(a: list[float], b: list[float]) -> float:
        return round(sum((x - y) * (x - y) for x, y in zip(a, b)), round_to)

    dt = [
        [py_sq(query[j * d0 : (j + 1) * d0], c) for c in book]
        for j, book in enumerate(books)
    ]
    lookups = [
        "element_at(CAST(array({lits}) AS array<double>), __c{j} + 1)".format(
            lits=", ".join(repr(v) for v in dt[j]), j=j
        )
        for j in range(m)
    ]
    approx = f"round({' + '.join(lookups)}, {round_to})"
    return (
        encoded.withColumn("approx_l2", F.expr(approx))
        .select(id_col, "approx_l2")
        .orderBy(F.asc("approx_l2"), F.asc(id_col))
        .limit(k)
    )


def l2_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Exact squared-L2 top-k (ascending), the ground truth PQ recall
    is measured against. Same TakeOrderedAndProject shape as
    ``cosine_topk``."""
    v = F.col(vec_col).cast("array<double>")
    q = _lit_vec(query)
    sq = F.aggregate(
        F.zip_with(v, q, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        # NULL embeddings excluded (same convention as cosine_topk)
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col), F.round(sq, round_to).alias("l2_sq"))
        .orderBy(F.asc("l2_sq"), F.asc(id_col))
        .limit(k)
    )


def pq_seeded_recall(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    m: int = 4,
    ks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall of seeded-PQ ADC top-k against the exact squared-L2
    top-k: one row ``(k, m, ks, recall)``. Both sides are k rows, so
    the join is broadcast-sized regardless of corpus size."""
    pq = pq_topk_seeded(
        df, query, k=k, m=m, ks=ks, id_col=id_col, vec_col=vec_col
    ).select(id_col)
    exact = l2_topk(df, query, k=k, id_col=id_col, vec_col=vec_col).select(id_col)
    return (
        pq.join(exact, id_col, "left_semi")
        .agg(F.round(F.count(F.lit(1)) / F.lit(float(k)), 4).alias("recall"))
        .select(
            F.lit(k).alias("k"),
            F.lit(m).alias("m"),
            F.lit(ks).alias("ks"),
            "recall",
        )
    )


def int8_quantize_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-vector symmetric int8 quantization audit — the 4x storage
    reduction step of an embedding lake (float32 -> int8 with one
    fp scale per vector).

    Emits ``(id, scale, q_sum, q_l2)``: the dequantization scale
    (max|x| / 127) and two integer checksums of the quantized codes,
    enough for an independent engine to verify every code path
    bit-for-bit without hashing an array cell. Quantization uses
    floor(x/scale + 0.5) — written EXACTLY that way on both engines so
    the rounding convention is the bit-identical double expression,
    not each engine's round() tie rule. Pure map-side codegen: no
    shuffle, no UDF; zero vectors emit scale 0 with all-zero codes
    (guarded division).
    """
    v = F.col(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = amax / F.lit(127.0)
    q = F.transform(
        v,
        lambda x: F.when(amax == 0, F.lit(0.0)).otherwise(
            F.floor(x.cast("double") / scale + F.lit(0.5))
        ),
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.round(scale, 8).alias("scale"),
        F.aggregate(q, F.lit(0.0), lambda a, x: a + x)
        .cast("long")
        .alias("q_sum"),
        F.aggregate(q, F.lit(0.0), lambda a, x: a + x * x)
        .cast("long")
        .alias("q_l2"),
    )


def _jl_signs(out_dims: int, in_dims: int, seed: str = "jl") -> list[list[int]]:
    """Deterministic ±1 Johnson–Lindenstrauss projection matrix from
    md5 — generated DRIVER-side at plan-build time (hashlib md5 is
    engine-independent), embedded as literals, so any engine replays
    the projection from (seed, dims) alone."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"{seed}:{j}:{i}".encode()).digest()[0] % 2 == 0 else -1
            for i in range(in_dims)
        ]
        for j in range(out_dims)
    ]


def random_projection(
    df: DataFrame,
    in_dims: int,
    out_dims: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = "jl",
    round_to: int = 4,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection to ``out_dims``
    dimensions with a seeded ±1 matrix (Achlioptas' database-friendly
    variant, public knowledge): distances are preserved within
    (1 ± eps) with high probability, and a ±1 matrix needs no float
    matrix storage — the whole transform is add/subtract codegen.

    Emits ``(id, p0..p{out_dims-1})`` as rounded doubles, one flat
    column per output dim (array cells don't cross the value-hash
    gate; columns do). Each p_j is a chained left-to-right ±x_i sum —
    the SAME association order an oracle writes down, so the doubles
    are bit-identical before ROUND. Map-only: no shuffle, no UDF, and
    at 100 TB this is the cheapest way to shrink an embedding lake
    before LSH/IVF indexing.

    The projection is built as ONE selectExpr string, not per-term
    Column objects: out_dims x in_dims py4j round-trips cost ~6s of
    DRIVER time at 8x64 (measured; execution was 0.2s) — Catalyst
    parses the equivalent SQL text in milliseconds. Association
    order, HALF_UP ROUND, and the double literals are identical.
    """
    signs = _jl_signs(out_dims, in_dims, seed)
    inv = 1.0 / math.sqrt(float(out_dims))
    exprs = [f"{id_col} AS id"]
    for j in range(out_dims):
        terms = []
        for i, s in enumerate(signs[j]):
            op = "" if (i == 0 and s > 0) else ("- " if s < 0 else "+ ")
            terms.append(f"{op}CAST(element_at({vec_col}, {i + 1}) AS DOUBLE)")
        chain = " ".join(terms)
        # + 0.0 normalizes IEEE negative zero after rounding (a
        # projection in (-5e-5, 0] rounds to -0.0 vs 0.0 per engine);
        # CAST('0.0' AS DOUBLE) because bare 0.0 parses as DECIMAL
        exprs.append(
            f"ROUND(({chain}) * CAST('{inv!r}' AS DOUBLE), {round_to})"
            f" + CAST('0.0' AS DOUBLE) AS p{j}"
        )
    return df.selectExpr(*exprs)


def dim_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Per-dimension moments of an embedding lake — ``(dim, n, mean,
    var, mn, mx)`` — the profiling pass that precedes whitening,
    quantizer training, or drift monitoring.

    One ``posexplode`` + one hash agg over |dims| groups; the shuffle
    carries |partitions| x |dims| partial rows (map-side combine), so
    the cost at 100 TB is a single scan. Variance is computed from
    SUM(x)/SUM(x^2) with the same expression an oracle writes
    (sum2/n - mean*mean) rather than each engine's internal Welford
    state, so only float summation order is left to the ROUND."""
    e = (
        df.select(F.posexplode(vec_col).alias("dim", "__x"))
        .select("dim", F.col("__x").cast("double").alias("x"))
    )
    agg = e.groupBy("dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
    )
    mean = F.col("s") / F.col("n")
    return agg.select(
        F.col("dim").cast("long").alias("dim"),
        "n",
        (F.round(mean, round_to) + F.lit(0.0)).alias("mean"),
        (
            F.round(F.col("s2") / F.col("n") - mean * mean, round_to)
            + F.lit(0.0)
        ).alias("var"),
        (F.round("mn", round_to) + F.lit(0.0)).alias("mn"),
        (F.round("mx", round_to) + F.lit(0.0)).alias("mx"),
    )


def _pi_v0(dims: int, seed: str = "pi") -> list[float]:
    """Seeded ±1/sqrt(d) start vector for power iteration, md5-derived
    driver-side (engine-independent) like _jl_signs."""
    import hashlib

    inv = 1.0 / math.sqrt(float(dims))
    return [
        inv if hashlib.md5(f"{seed}:{i}".encode()).digest()[0] % 2 == 0 else -inv
        for i in range(dims)
    ]


def power_iteration_step(
    df: DataFrame,
    dims: int,
    vec_col: str = "embedding",
    seed: str = "pi",
    round_to: int = 4,
) -> DataFrame:
    """One power-iteration step toward the top eigenvector of the
    (uncentered) second-moment matrix S = X^T X: w = S v0 for the
    seeded start vector v0, emitted L2-normalized as ``(dim,
    component)`` rows. Full PCA iterates this kernel, feeding the
    normalized w back as v0; this single step is the
    SQL-replayable unit the oracle gates — the dot products never
    materialize S, so the pass is O(rows x dims) with one scalar-ish
    shuffle of |dims| partial sums. 100 TB: exactly one scan per
    iteration, no driver data motion beyond the d-vector itself.

    The dot product x·v0 is a left-to-right ±x_i chain scaled once
    (v0 is ±1/sqrt(d)), written identically in the SQL oracle, so
    per-row doubles are bit-identical and only SUM order is left to
    the ROUND. Built as selectExpr strings (one py4j call per stage,
    not per term) — the Column-object version spent ~3s of driver
    time on plan construction at d=64."""
    v0 = _pi_v0(dims, seed)
    inv = abs(v0[0])
    terms = []
    for i, v in enumerate(v0):
        op = "" if (i == 0 and v > 0) else ("- " if v < 0 else "+ ")
        terms.append(f"{op}CAST(element_at({vec_col}, {i + 1}) AS DOUBLE)")
    chain = " ".join(terms)
    d = df.selectExpr(
        f"({chain}) * CAST('{inv!r}' AS DOUBLE) AS dv", f"{vec_col} AS e"
    )
    sums = d.selectExpr(
        *[
            f"SUM(CAST(element_at(e, {j + 1}) AS DOUBLE) * dv) AS w{j}"
            for j in range(dims)
        ]
    )
    norm = " + ".join(f"w{j} * w{j}" for j in range(dims))
    stack_args = ", ".join(
        f"CAST({j} AS BIGINT), ROUND(w{j} / nrm, {round_to})"
        f" + CAST('0.0' AS DOUBLE)"
        for j in range(dims)
    )
    return sums.selectExpr(f"sqrt({norm}) AS nrm", "*").selectExpr(
        f"stack({dims}, {stack_args}) AS (dim, component)"
    )
