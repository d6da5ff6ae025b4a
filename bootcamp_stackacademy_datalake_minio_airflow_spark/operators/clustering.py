"""Seeded Lloyd k-means over an embedding column — the oracle-gated
twin of the MLlib coarse quantizer in ``operators/similarity.py``
(``ivf_index`` trains ``pyspark.ml.clustering.KMeans``; its iterations
are not ANSI-SQL-replayable, so this module carries the deterministic
Lloyd variant the DuckDB gate CAN replay end to end — the same
seeded-twin pattern as ``similarity.ivf_seeded_recall``).

Determinism contract (house rules, see suites/extensions.py):

- seeds are the ``k`` vectors with the smallest ``(md5(id), id)`` —
  the registry-wide seeded-selection convention;
- assignment argmin keys on ``ROUND(d², 4)`` with the centroid index
  as tie-break, so a last-ulp distance difference between engines
  cannot flip a cluster;
- re-estimated centroids are ``ROUND(avg, 6)`` per dimension BETWEEN
  iterations, so both engines enter iteration *t+1* with bit-identical
  centroid state (the residual risk is an avg landing exactly on a
  half-1e-6 boundary — the registry-wide accepted residual);
- d² is the inner-product expansion ``v·v − 2·v·c + c·c`` on BOTH
  engines (DuckDB: ``list_inner_product``), not sqrt-then-square.

Scale shape: each Lloyd iteration is one map-side-combinable
aggregate — centroids travel TO the executors as literals (k×dim
doubles, kilobytes), and the only shuffle is ``k·dim`` partial means.
The sole ``collect()`` is the codebook (k×dim rows), which is
size-bounded by construction, never by the corpus. The reference has
no clustering at all (SURVEY §2 marks the category absent).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import cache_scope, fanout_repartition, round_half_away

#: hard ceiling on the codebook collect — k*dim rows, not corpus rows
_MAX_CODEBOOK_CELLS = 65536


def _dbl(x: float) -> str:
    """An exact IEEE-double SQL literal: repr() round-trips in Python
    and Double.parseDouble is correctly rounded, so the cast yields
    the identical bit pattern F.lit(float) would. Non-finite values
    are rejected loudly (ADVICE r12): repr renders them 'inf'/'nan',
    which Java's parseDouble (expecting 'Infinity'/'NaN') turns into
    NULL — a degenerate centroid would silently corrupt every
    distance expression instead of failing."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"non-finite centroid coordinate: {x!r}")
    return f"CAST('{x!r}' AS DOUBLE)"


# NOTE r13: the per-centroid assignment used to be emitted here as
# whole-stage-codegen SQL add-chains (r12's _dot_sql/_assign_sql).
# Measured this round: the k·dim·|codebook| chain compiles into ONE
# generated method past HotSpot's huge-method JIT limit, so it ran as
# permanently interpreted bytecode (~0.5 s/pass at sf0.1, flat over
# 10 reps — never JIT-warmed); splitting the projection didn't help
# (CollapseProject re-merges it). The assignment now runs as a numpy
# batch kernel inside mapInArrow — see _lloyd_partials below.


def kmeans_lloyd_seeded(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Run ``n_iter`` Lloyd iterations from md5-seeded centroids and
    return per-cluster ``(cluster_id, n_points, inertia)``.

    inertia = ROUND(SUM(ROUND(d², 4)), 2) over the final assignment —
    both rounds mirrored by the oracle so the big float sum never
    decides the hash.
    """
    if k * dim > _MAX_CODEBOOK_CELLS:
        raise ValueError(
            f"codebook k*dim = {k * dim} exceeds the driver-side budget "
            f"{_MAX_CODEBOOK_CELLS}; shrink k or use MLlib KMeans "
            "(operators/similarity.ivf_index) for large codebooks"
        )
    spark = df.sparkSession
    vec = F.col(vec_col).cast("array<double>")
    # __vv as a codegen'd left-to-right chain (identical fold order —
    # and so identical IEEE doubles — to the interpreted
    # aggregate(zip_with(v, v, *)) form it replaced in r12); at dim
    # terms it stays under the JIT limits that killed the k·dim
    # assignment chain (see the NOTE above).
    # The frame is hash-repartitioned on the id and PERSISTED: the
    # seed pass, every Lloyd assignment/mean pass, and the final
    # report all re-read it (n_iter + 2 passes), and without the
    # exchange all of that per-row distance arithmetic runs inside
    # the scan stage — one task on a single-row-group parquet (guide
    # §2.5 repartition-after-read; §5 persist-on-reuse). Released when
    # the scope exits.
    vv_sql = _dbl(0.0)
    for i in range(dim):
        vv_sql = f"({vv_sql} + (__v[{i}] * __v[{i}]))"
    with cache_scope() as hold:
        base = hold(
            df.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) == dim))
            .select(F.col(id_col).alias("__id"), vec.alias("__v"))
            .transform(lambda d: fanout_repartition(d, "__id"))
            .selectExpr("__id", "__v", f"{vv_sql} AS __vv")
        )
        # seeds: k smallest (md5(id), id) — codebook-sized collect
        seed_rows = (
            base.select(
                "__id", "__v", F.md5(F.col("__id").cast("string")).alias("__h")
            )
            .orderBy("__h", "__id")
            .limit(k)
            .collect()
        )
        if not seed_rows:
            return spark.createDataFrame(
                [], "cluster_id INT, n_points BIGINT, inertia DOUBLE"
            )
        centroids = {i: list(r["__v"]) for i, r in enumerate(seed_rows)}

        for _ in range(n_iter):
            parts = _lloyd_partials(base, centroids, want_inertia=False)
            # driver reduction over <=(partitions x k) partial rows,
            # in collect (= partition) order — deterministic; the
            # ROUND(mean, 6) grid between iterations absorbs sum-order
            # noise exactly as it already absorbed the engine split
            acc: dict[int, tuple[int, list[float]]] = {}
            for r in parts:
                c = int(r["__c"])
                n0, s0 = acc.get(c, (0, [0.0] * dim))
                acc[c] = (n0 + int(r["__n"]), [a + b for a, b in zip(s0, r["__s"])])
            centroids = {
                c: [round_half_away(s_j / n, 1e6) for s_j in s]
                for c, (n, s) in acc.items()
            }  # empty clusters drop out on BOTH engines

        # final pass under the final centroids: per-cluster counts and
        # inertia partials, reduced driver-side; the result is a
        # codebook-sized literal table (bounded by k, never data)
        parts = _lloyd_partials(base, centroids, want_inertia=True)
        acc2: dict[int, tuple[int, float]] = {}
        for r in parts:
            c = int(r["__c"])
            n0, d0 = acc2.get(c, (0, 0.0))
            acc2[c] = (n0 + int(r["__n"]), d0 + float(r["__sd"]))
        rows = [
            (c, n, round_half_away(d, 1e2)) for c, (n, d) in sorted(acc2.items())
        ]
        return spark.createDataFrame(
            rows, "cluster_id INT, n_points BIGINT, inertia DOUBLE"
        )


def _lloyd_partials(base: DataFrame, centroids: dict[int, list[float]], want_inertia: bool):
    """One Lloyd pass as a single job: numpy assignment + per-cluster
    partial sums inside ``mapInArrow`` (guide §4.2 — Spark distributes,
    the batch kernel runs vectorized native code; the same posture as
    similarity's matmul pair kernels), collected as <=(partitions x k)
    tiny rows. Replaces one whole-stage-codegen assignment expression
    (k x dim add-chains in ONE generated method — past HotSpot's huge-
    method limit, so it executed as permanently interpreted bytecode at
    ~0.5 s per pass on 2000 rows) plus a posexplode shuffle per
    iteration with one exchange-free pass.

    Exactness contract (same recurrence the DuckDB oracle replays):
    d² = ROUND(__vv − 2·v·c + c·c, 4) — the half-away round mirrors
    SQL ROUND via the floor(p)+carry formula (engine.round_half_away,
    vectorized); ties at the quantized d² go to the smallest cluster
    id (np.argmin keeps the FIRST minimum over the cid-sorted
    codebook — exactly least(struct(d, c))'s tie rule). Sum orders
    inside a pass differ from the old aggregate's, which is already
    immaterial: every cross-iteration value sits on a ROUND(·,6)/
    ROUND(·,4) grid ~10⁵ coarser than any summation-order noise, and
    the oracle gate re-proves it at 3 SFs + the degenerate lake.
    """
    import numpy as np

    ks = sorted(centroids)
    cm = np.array([centroids[c] for c in ks], dtype=np.float64)
    cc = []
    for c in ks:
        s = 0.0
        for x in centroids[c]:  # left-to-right: mirrors list_inner_product
            s += float(x) * float(x)
        cc.append(s)
    ccv = np.array(cc, dtype=np.float64)
    bc = base.sparkSession.sparkContext.broadcast((ks, cm, ccv, bool(want_inertia)))

    def fn(batches):
        import numpy as _np
        import pyarrow as pa

        ks_, cm_, cc_, want_d = bc.value
        for b in batches:
            if b.num_rows == 0:
                continue
            v = _np.array(b.column("__v").to_pylist(), dtype=_np.float64)
            vv = _np.asarray(b.column("__vv"), dtype=_np.float64)
            # ROUND(x, 4) half-away, vectorized (mirrors SQL ROUND —
            # the house std::round formula from operators/multimodal)
            p = (vv[:, None] - 2.0 * (v @ cm_.T) + cc_[None, :]) * 1e4
            fl = _np.floor(p)
            d2 = _np.where(p - fl >= 0.5, fl + 1.0, fl) / 1e4
            a = d2.argmin(axis=1)  # first min == smallest cid (ks sorted)
            cols: dict[str, list] = {"__c": [], "__n": []}
            cols["__sd" if want_d else "__s"] = []
            for j, c in enumerate(ks_):
                m = a == j
                if not m.any():
                    continue
                cols["__c"].append(int(c))
                cols["__n"].append(int(m.sum()))
                if want_d:
                    cols["__sd"].append(float(d2[m, j].sum()))
                else:
                    cols["__s"].append([float(x) for x in v[m].sum(axis=0)])
            if not cols["__c"]:
                continue
            arrays = [
                pa.array(cols["__c"], pa.int32()),
                pa.array(cols["__n"], pa.int64()),
                pa.array(cols["__sd"], pa.float64())
                if want_d
                else pa.array(cols["__s"], pa.list_(pa.float64())),
            ]
            yield pa.RecordBatch.from_arrays(
                arrays, ["__c", "__n", "__sd" if want_d else "__s"]
            )

    schema = (
        "__c int, __n long, __sd double"
        if want_inertia
        else "__c int, __n long, __s array<double>"
    )
    return base.select("__v", "__vv").mapInArrow(fn, schema).collect()
