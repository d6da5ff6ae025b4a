"""Deduplication operators for large-scale text corpora.

The reference has no dedup of any kind; these are the extension
operators a 100 TB training-data pipeline needs (BASELINE.json north
star). All hot paths are JVM-side expressions (xxhash64 / transform /
aggregate / array_min) — no Python UDFs — so whole-stage codegen
applies and the only shuffles are the candidate-pair joins.

Scale design notes per operator are in each docstring; the common
theme: never materialize the O(n^2) pair space. Exact dedup is one
hash-shuffle; MinHash/SimHash generate candidates by banding (equal
keys collide) so the join fans out only within buckets.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..engine import (
    _norm_base,
    cache_scope,
    drop_checkpoint,
    fanout_repartition,
    materialize,
    normalize_text,
)

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, cols: list[str], order_by: str) -> DataFrame:
    """Keep one row per distinct ``cols`` value (the one with the
    smallest ``order_by``), dropping exact duplicates.

    Implemented as a ``min_by`` AGGREGATE, not a per-group rank
    window: the aggregate partial-combines map-side, so a hot
    duplicate cluster (boilerplate pages repeated millions of times —
    the case dedup exists for) collapses to one row per mapper before
    the shuffle, where a window would funnel the whole cluster
    through one unsplittable task. Deterministic victim choice via
    ``order_by`` makes reruns reproducible.
    """
    survivor = F.min_by(F.struct(*df.columns), F.col(order_by)).alias("__row")
    return (
        df.groupBy(*[F.col(c) for c in cols])
        .agg(survivor)
        .select("__row.*")
    )


# ---------------------------------------------------------------------------
# shingling + MinHash
# ---------------------------------------------------------------------------


def _word_shingles_of(c: Column, n: int) -> Column:
    """Distinct word n-grams (space-joined) of an ALREADY-NORMALIZED
    column — the MinHash shingle unit.

    Word grams over char grams is the standard text-dedup trade
    (RefinedWeb/SlimPajama-style pipelines): ~one shingle per WORD
    instead of one per CHARACTER, so the signature stage processes
    ~6x fewer rows for near-identical pair decisions on prose.
    Documents shorter than ``n`` words collapse to one whole-text
    shingle. The split() inside the lambda re-evaluates per element
    (interpreted HOF) — use only on verification survivors, never the
    corpus; the corpus path is ``_shingle_hashes``.
    """
    w = F.split(c, " ")
    idx = F.sequence(F.lit(1), F.greatest(F.size(w) - F.lit(n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(w, i, n), " "))
    )


def _signed64(x: int) -> int:
    x &= (1 << 64) - 1
    return x - (1 << 64) if x >= 1 << 63 else x


def _perm_sql(base: str, i: int) -> str:
    """SQL expression for hash family i of ``base``: bijective 64-bit
    rotate + XOR of a splitmix-style constant. Rotations/XOR never
    overflow (ANSI mode forbids wrapping long multiplication), and
    bijectivity preserves the min-wise property given a well-mixed
    base hash. Emitted as a SQL string (single parse) — the sole
    definition of the family, consumed by ``_minhash_table``."""
    s = (i * 29 + 17) % 63 + 1
    c = _signed64(0x9E3779B97F4A7C15 * (i + 1) ^ 0xBF58476D1CE4E5B9)
    return f"(shiftleft({base}, {s}) | shiftrightunsigned({base}, {64 - s})) ^ {c}L"


def _shingle_hashes(norm: DataFrame, n: int) -> DataFrame:
    """(__id, __h) — one row per WORD n-gram position of the
    normalized text, hashed to 64 bits.

    Pure codegen: split once per document, explode a position
    sequence, slice+join+xxhash64 per gram. One row per word (~6x
    fewer than the char-gram form this replaced — at corpus scale the
    signature aggregate is the dominant scan, so shingle volume IS
    the cost of the operator). Duplicate shingles are NOT removed:
    the downstream min-aggregate is idempotent to duplicates, so set
    semantics come for free without an array_distinct pass.
    Documents shorter than ``n`` words produce one whole-text shingle
    (same bounds as ``_word_shingles_of``).
    """
    exploded = norm.select(
        "__id",
        F.split(F.col("__txt"), " ").alias("__w"),
    ).select(
        "__id",
        "__w",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("__w") - F.lit(n - 1), F.lit(1)))
        ).alias("__i"),
    )
    return exploded.select(
        "__id",
        F.xxhash64(F.array_join(F.slice(F.col("__w"), F.col("__i"), n), " ")).alias(
            "__h"
        ),
    )


def _minhash_table(hashes: DataFrame, num_hashes: int) -> DataFrame:
    """(__id, h0..h{n-1}) minhash table via min-aggregate over
    ``_shingle_hashes`` rows.

    Each shingle is string-hashed ONCE (xxhash64); the ``num_hashes``
    families are derived as bijective rotate-XOR mixes of that 64-bit
    value — a few integer ops per family instead of re-hashing the
    string bytes per family (~num_hashes x cheaper on the scan).
    All plain codegen'd expressions; groupBy(min) partial-aggregates
    map-side, so the shuffle carries one row of ``num_hashes`` longs
    per document — not the shingle sets.

    The wide column lists are built as SQL strings (one selectExpr
    parse) rather than nested Column operators: composing
    num_hashes x ~6 py4j calls per run costs whole seconds of
    driver time before any task starts.
    """
    hashed = hashes.selectExpr(
        "__id", *[f"{_perm_sql('__h', i)} AS h{i}" for i in range(num_hashes)]
    )
    return hashed.groupBy("__id").agg(
        *[F.expr(f"min(h{i}) AS h{i}") for i in range(num_hashes)]
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two array columns (set semantics).

    |A∪B| is derived as |A|+|B|-|A∩B| instead of materializing the
    union array — halves the per-pair array allocation in the
    verification hot loop. Inputs must already be distinct arrays
    (both call sites build them with array_distinct semantics).
    """
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _max_disagree(num_hashes: int, threshold: float, margin: float) -> int:
    """Largest disagreeing-byte count the estimator prefilter admits.

    agree/n >= threshold-margin with integer agree means
    agree >= ceil(n*(t-m)), i.e. disagree <= n - ceil(n*(t-m)).
    int(n*(1-(t-m))) truncates one tighter whenever n*(t-m) is exactly
    integral (n=100, t-m=0.55: 45 admissible, truncation caps at 44),
    dropping boundary-true pairs before exact verification. The 1e-9
    guards float noise in n*(t-m) itself."""
    return num_hashes - math.ceil(num_hashes * (threshold - margin) - 1e-9)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding, verified with
    exact Jaccard on the shingle sets.

    Shingles are word ``shingle_n``-grams of the normalized text
    (space-joined) — the standard MinHash unit for prose dedup; char
    grams cost ~6x the signature scan for near-identical decisions.

    Plan shape (the part that must survive 100 TB):
      1. per-doc signature (no shuffle, codegen)
      2. explode to (band_id, band_hash) keys — rows x bands, narrow
      3. self-join on the band key == bucket collision (shuffle on
         band_hash; bucket sizes are the skew risk — AQE skew-join
         handles pathological buckets, and the band hash's 64-bit
         range keeps random collisions negligible)
      4. dedupe candidate pairs, re-join the two shingle sets by id,
         verify exact Jaccard >= threshold. Carrying only (id, band)
         through the wide join — not the shingle arrays — keeps
         shuffle bytes proportional to candidates, not corpus size.

    Returns (id_a, id_b, jaccard_sim) with id_a < id_b.
    """
    if num_hashes % bands != 0:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    rows_per_band = num_hashes // bands

    # persist the two tables every later stage re-references: the
    # self-join and the verification join would otherwise recompute
    # the full scan->normalize->hash pipeline once per reference.
    # Both are one row per document — normalized text and a
    # num_hashes-long signature — so the cache is
    # ~corpus-metadata-sized. Shingle SETS are never materialized for
    # the whole corpus: signatures use the duplicate-tolerant explode
    # path, and exact sets are built only for verification survivors.
    with cache_scope() as hold:
        norm = hold(_norm_base(df, id_col, text_col))
        sig = hold(_minhash_table(_shingle_hashes(norm, shingle_n), num_hashes))

        # Stage 3+4a fused: band-collision candidate generation with the
        # estimated-Jaccard prefilter evaluated INSIDE the join condition.
        #
        # The estimator is the fraction of agreeing minhashes, compared
        # BYTE-wise on a packed form (8 hashes -> one long, low byte of
        # each) that rides along in the banded rows. Why this shape:
        #   - Evaluating est in the join condition kills false candidates
        #     (bucket collisions at sim << threshold — millions on a
        #     shared-vocabulary corpus) BEFORE the distinct shuffle, so
        #     the wide exchange carries survivors only.
        #   - Packing keeps the join's field count small; joining the full
        #     64-long signatures would exceed spark.sql.codegen.maxFields
        #     (100) and silently drop the pipeline out of whole-stage
        #     codegen (~3x slower end to end, measured).
        #   - Byte equality is an upward-biased proxy for hash equality
        #     (unequal hashes collide per byte w.p. 1/256, adding <= ~0.004
        #     to the estimate), so it can only ADMIT extra survivors —
        #     recall of the exact verification stage is unaffected.
        # Margin covers estimator variance (std ~= sqrt(s(1-s)/num_hashes)
        # ~= 0.06 at s=0.7, so ~2 sigma) plus that bias. The wide column
        # lists are SQL strings (one parse) — nested Column operators cost
        # seconds of py4j round-trips at this width.
        margin = 0.12
        n_packs = (num_hashes + 7) // 8

        def _pack_sql(k: int) -> str:
            lanes = " | ".join(
                f"shiftleft(h{8 * k + j} & 255, {8 * j})"
                for j in range(min(8, num_hashes - 8 * k))
            )
            return f"({lanes})"

        # xxhash64, not hash(): the 32-bit murmur key would collide
        # bucket-randomly at ~100M docs x bands scale (birthday on 2^32),
        # inflating the compared-pair count; 64 bits keeps random
        # collisions negligible as documented above
        band_structs = ", ".join(
            "named_struct('band', {b}, 'bhash', xxhash64({b}, {cols}))".format(
                b=b,
                cols=", ".join(
                    f"h{i}" for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                ),
            )
            for b in range(bands)
        )
        banded = sig.selectExpr(
            "__id",
            *[f"{_pack_sql(k)} AS p{k}" for k in range(n_packs)],
            f"explode(array({band_structs})) AS __b",
        ).selectExpr(
            "__id",
            *[f"p{k}" for k in range(n_packs)],
            "__b.band AS band",
            "__b.bhash AS bhash",
        )

        # The estimator counts AGREEING bytes via a SWAR fold instead of
        # one CASE WHEN per hash: per pack, fold each byte of the XOR down
        # to its low bit (t |= t>>4; t |= t>>2; t |= t>>1), mask the
        # byte-low-bits, and popcount — that's the number of DISagreeing
        # bytes, 3 shifts/3 ors/1 and/1 bit_count per pack instead of 8
        # shift/mask/compare/CASE chains. Measured 3.3x faster on the
        # collision stream (the estimator runs once per colliding banded
        # row — millions of times on a shared-vocabulary corpus — so its
        # per-row cost dominates the candidate stage). agree/n >= t-margin
        # (agree integral) means agree >= ceil(n*(t-margin)), i.e.
        # disagree <= n - ceil(n*(t-margin)) — NOT floor(n*(1-t+margin)),
        # which is one tighter whenever n*(t-margin) is exactly integral
        # (n=100, t-m=0.55: 45 disagreeing bytes admissible, floor caps at
        # 44 and drops boundary-true pairs before exact verification).
        # Packs beyond num_hashes stay zero-padded: XOR of equal zero
        # lanes contributes no disagreement, so the bound is exact.
        def _swar_disagree(k: int) -> str:
            x = f"(l.p{k} ^ r.p{k})"
            t1 = f"({x} | shiftrightunsigned({x}, 4))"
            t2 = f"({t1} | shiftrightunsigned({t1}, 2))"
            t3 = f"({t2} | shiftrightunsigned({t2}, 1))"
            # 72340172838076673 = 0x0101010101010101 (low bit of each byte)
            return f"bit_count({t3} & 72340172838076673)"

        lanes_used = sum(min(8, num_hashes - 8 * k) for k in range(n_packs))
        assert lanes_used == num_hashes
        disagree_sql = " + ".join(_swar_disagree(k) for k in range(n_packs))
        max_disagree = _max_disagree(num_hashes, threshold, margin)
        left = banded.alias("l")
        right = banded.alias("r")
        prefiltered = (
            left.join(
                right,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.bhash") == F.col("r.bhash"))
                & (F.col("l.__id") < F.col("r.__id"))
                & (F.expr(f"({disagree_sql}) <= {max_disagree}")),
            )
            .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
            .distinct()
        )

        # Stage 4b: exact verification on the (now small) survivor set.
        # Shingle sets are computed HERE, after the candidate joins, so the
        # interpreted transform() runs over candidate rows only — never the
        # corpus. __txt is a concrete shuffled column (norm is behind an
        # exchange), so the HOF reads it without re-evaluating upstream
        # expressions per element.
        verified = (
            prefiltered.join(
                norm.select(F.col("__id").alias("id_a"), F.col("__txt").alias("__ta")), "id_a"
            )
            .join(norm.select(F.col("__id").alias("id_b"), F.col("__txt").alias("__tb")), "id_b")
            .select(
                "id_a",
                "id_b",
                F.round(
                    jaccard(
                        _word_shingles_of(F.col("__ta"), shingle_n),
                        _word_shingles_of(F.col("__tb"), shingle_n),
                    ),
                    4,
                ).alias("jaccard_sim"),
            )
            .filter(F.col("jaccard_sim") >= threshold)
        )
        # kept as a checkpoint (tests/test_engine.py allow-list): the
        # band self-join runs as a broadcast join, so a lazy plan has no
        # exchange to reuse and builds the signature table once per side
        # (cold median 1.45x at sf0.01, 4 cores)
        return materialize(verified)


def dedup_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    **lsh_kwargs,
) -> DataFrame:
    """Drop near-duplicates found by MinHash LSH: for every verified
    pair, the larger id is the victim — one pass, never drops a
    cluster entirely.
    """
    pairs = minhash_lsh_pairs(df, id_col, text_col, **lsh_kwargs)
    victims = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(victims, on=id_col, how="left_anti")


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    driver_budget_edges: int = 2_000_000,
) -> DataFrame:
    """Connected components of an undirected pair graph.

    Near-dup pair graphs are orders of magnitude smaller than the
    corpus that produced them (pairs ~ duplicates, not documents), so
    two paths, gated by measured edge count:

    - **small graph** (<= ``driver_budget_edges`` distinct edges, i.e.
      tens of MB): union-find with path compression on the driver —
      one pass, no iteration, exact same labels. The budget is a hard
      attestation like a broadcast threshold: 2M edges ≈ 32 MB.
    - **large graph**: iterative min-label propagation — every node
      repeatedly adopts the smallest label among itself and its
      neighbors until fixpoint. Each iteration is one join + one
      aggregation (both on the node key); iterations needed ≈ graph
      diameter. The label frontier is localCheckpointed per round to
      cut the lineage — without it the plan doubles every iteration —
      and the superseded round's checkpoint is freed.
      Fully distributed: the driver only coordinates the loop.

    Returns (node, component) with component = min node id of the
    cluster. Pass ``driver_budget_edges=0`` to force the distributed
    path (the property tests assert both paths agree).
    """
    with cache_scope() as hold:
        edges = hold(
            pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .unionByName(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
            .distinct()
        )
        if driver_budget_edges > 0 and edges.count() <= driver_budget_edges:
            # collect ALL rows (self-loops included, so an isolated (x, x)
            # pair still yields node x — matching the distributed path),
            # and preserve the caller's id type: node ids may be strings,
            # and Python's min/< agree with Spark's ordering for both
            # numeric and string types.
            rows = edges.collect()
            parent: dict = {}

            def find(x):
                root = x
                while parent.get(root, root) != root:
                    root = parent[root]
                while parent.get(x, x) != x:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for u, v in rows:
                if u == v:
                    continue
                ru, rv = find(u), find(v)
                if ru != rv:
                    # union by smaller id so the root IS the min label
                    lo, hi = (ru, rv) if ru < rv else (rv, ru)
                    parent[hi] = lo
            nodes = {x for uv in rows for x in uv}
            labels = [(n, find(n)) for n in sorted(nodes)]
            spark = pairs.sparkSession
            id_type = dict(pairs.dtypes)[src]
            schema = f"node {id_type}, component {id_type}"
            return spark.createDataFrame(labels, schema)
        labels = materialize(
            edges.select(F.col("u").alias("node"))
            .distinct()
            .withColumn("component", F.col("node"))
        )
        converged = False
        for _ in range(max_iter):
            neighbor_min = (
                edges.join(labels, edges.v == labels.node)
                .groupBy(edges.u.alias("node"))
                .agg(F.min("component").alias("nbr_min"))
            )
            new_labels = materialize(
                labels.join(neighbor_min, "node", "left")
                .select(
                    "node",
                    F.least(
                        F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                    ).alias("component"),
                )
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.component") != F.col("o.component"))
                .limit(1)
                .count()
            )
            drop_checkpoint(labels)
            labels = new_labels
            if changed == 0:
                converged = True
                break
    if not converged:
        # min-label propagation moves a label one hop per round, so a
        # chain longer than max_iter would exit with one real cluster
        # split into several — silently wrong dedup. Fail loudly.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            "(graph diameter exceeds max_iter); raise max_iter"
        )
    return labels


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(__id, __sim) simhash table via explode + bit-sum aggregation.

    Same scale shape as ``_minhash_table``: token hashes are plain
    codegen'd columns; the 64 per-bit +1/-1 sums partial-aggregate
    map-side, so the shuffle carries 64 ints per document; the final
    projection folds the sums into one 64-bit signature.

    Token hashes are md5's first 15 hex chars parsed as a 60-bit
    integer; bits 60-63 are always 0, which only shrinks the signature
    — any engine with md5 reproduces it bit-for-bit, so the DuckDB
    oracle can verify the pairs.

    The corpus routes through ``_norm_base`` (one narrow exchange on
    the doc id) BEFORE the token explode: the per-token hash + 64
    partial bit-sums are the operator's dominant compute, and running
    them below the first exchange pins the whole stage to however few
    splits the scan produced (one task on an unsplittable single-
    row-group parquet — guide §2.5's repartition-after-read fix).
    NULL texts were already dropped implicitly (split(NULL) explodes
    to nothing), so the _norm_base NULL filter changes no rows.
    """
    toks = _norm_base(df, id_col, text_col).select(
        "__id",
        F.explode(F.split(F.col("__txt"), " ")).alias("__t"),
    )
    token_hash = F.conv(F.substring(F.md5("__t"), 1, 15), 16, 10).cast("long")
    hashed = toks.select("__id", token_hash.alias("__h"))
    # wide column lists as SQL strings (one parse each) — 64 nested
    # Column builds cost seconds of py4j round-trips per invocation
    sums = hashed.groupBy("__id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN shiftright(__h, {b}) & 1 = 1 THEN 1 ELSE -1 END)"
                f" AS b{b}"
            )
            for b in range(64)
        ]
    )
    fold = " | ".join(
        f"(CASE WHEN b{b} > 0 THEN shiftleft(1L, {b}) ELSE 0L END)" for b in range(64)
    )
    return sums.selectExpr("__id", f"({fold}) AS __sim")


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit simhashes (popcount of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Near-duplicate pairs by SimHash: candidates share at least one
    of ``blocks`` 16-bit blocks (pigeonhole: any pair within
    max_hamming <= blocks-1 differing bits must agree on >= 1 block),
    verified by exact Hamming distance.

    Same banding scale-shape as MinHash LSH: candidates come from
    equal-key collisions, never a cross join.
    """
    width = 64 // blocks
    # persisted: the block self-join references this table twice
    with cache_scope() as hold:
        sh = hold(_simhash_table(df, id_col, text_col))
        mask = (1 << width) - 1
        blocked = sh.select(
            "__id",
            "__sim",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("blk"),
                            F.shiftright(F.col("__sim"), b * width)
                            .bitwiseAND(F.lit(mask))
                            .alias("bval"),
                        )
                        for b in range(blocks)
                    ]
                )
            ).alias("__b"),
        ).select("__id", "__sim", "__b.blk", "__b.bval")

        l, r = blocked.alias("l"), blocked.alias("r")
        # exact-hamming check INSIDE the join condition: false block
        # collisions die before the distinct shuffle, which then carries
        # true near-dup pairs only
        pairs = (
            l.join(
                r,
                (F.col("l.blk") == F.col("r.blk"))
                & (F.col("l.bval") == F.col("r.bval"))
                & (F.col("l.__id") < F.col("r.__id"))
                & (hamming64(F.col("l.__sim"), F.col("r.__sim")) <= max_hamming),
            )
            .select(
                F.col("l.__id").alias("id_a"),
                F.col("r.__id").alias("id_b"),
                hamming64(F.col("l.__sim"), F.col("r.__sim")).alias("hamming"),
            )
            .distinct()
        )
        # kept as a checkpoint (tests/test_engine.py allow-list): the
        # block self-join runs as a broadcast join, so a lazy plan has no
        # exchange to reuse and builds the simhash table once per side
        # (cold median 1.30x at sf0.01, 4 cores)
        return materialize(pairs)


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, for candidate pairs or small corpora)
# ---------------------------------------------------------------------------


def _int_div(x: Column, b: int) -> Column:
    """Exact non-negative integer division as a Column expression:
    ``(x - x % b) / b``. Plain ``/`` is IEEE double division, whose
    quotient can round across an integer boundary before a floor/cast
    — the review-confirmed failure was ``floor((1.0-0.8)*5) == 0``,
    which silently under-sized a lossless prefix filter."""
    return ((x - x % b) / b).cast("long")


def _threshold_10k(threshold: float) -> int:
    """The similarity threshold as an exact integer count of
    1/10000ths. Every prefix budget and size cut derives from this
    via integer arithmetic, so boundary documents never lose a prefix
    slot to float representation error (thresholds are supported to 4
    decimal places). Verification then filters on the EXACT
    (unrounded) similarity against the caller's float threshold —
    valid because a rational similarity ratio with any realistic
    denominator cannot fall strictly between the float literal and
    T/10000 (the nearest distinct ratios are >= 1e-7 apart at 1e6-gram
    documents, vs ~5e-17 of representation gap)."""
    return int(round(threshold * 10000))


def _gram_prefix_index(
    hold, df: DataFrame, id_col: str, text_col: str, n: int, threshold: float
):
    """Shared gram-index scaffolding of the set-similarity joins
    (factored out of ngram_jaccard_pairs / ngram_containment_pairs so
    the integer-arithmetic prefix budget is defined exactly once).

    Returns ``(base, inv, prefix)``:
    - ``base``: (__id, __g) distinct word-n-gram arrays, persisted
      through the caller's ``hold`` (``engine.cache_scope``), which
      releases it;
    - ``inv``: (__id, __sz, gram) full inverted index;
    - ``prefix``: (__id, gram, __sz, __rk) limited to each document's
      ``|A| - ceil(t|A|) + 1`` globally-rarest grams (ascending
      document frequency, gram tie-break), the Vernica prefix: any
      pair with overlap >= ceil(t|A|) must collide inside it.
    """
    # ONE materialization exchange, after the split: normalize+split are
    # per-row expressions (safe to inline — no per-element re-eval risk
    # until the transform below references the token array), so routing
    # through _norm_base here would shuffle the corpus twice for nothing.
    # NULL text dropped at the scan — see _norm_base's docstring for
    # the empty-gram failure mode it prevents.
    norm = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            F.split(normalize_text(text_col), " ").alias("__toks"),
        )
        .transform(lambda d: fanout_repartition(d, "__id"))
    )
    toks = F.col("__toks")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )
    # persisted: the inverted-index join and the verification joins
    # re-reference the gram sets
    base = hold(norm.select("__id", grams.alias("__g")))
    inv = base.select("__id", F.size("__g").alias("__sz"), F.explode("__g").alias("gram"))
    # document frequency stays agg + join back, NOT a window over
    # gram partitions: a window count saves one exchange (measured
    # ~15% at sf0.1) but has no partial aggregation and AQE cannot
    # split a window partition — one web-scale boilerplate gram in
    # hundreds of millions of docs becomes an unsplittable straggler.
    # The agg collapses map-side and the join back is skew-splittable.
    dfreq = inv.groupBy("gram").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("__id").orderBy(F.asc("__df"), F.asc("gram"))
    T = _threshold_10k(threshold)
    budget = _int_div(F.col("__sz") * (10000 - T), 10000) + F.lit(1)
    prefix = (
        inv.join(dfreq, "gram")
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= budget)
        .select("__id", "gram", "__sz", "__rk")
    )
    return base, inv, prefix


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-n-gram Jaccard join with prefix filtering.

    Candidate generation uses the prefix-filter principle (Vernica et
    al.'s distributed set-similarity join): order grams globally by
    ascending document frequency; each document indexes only its
    ``|A| - ceil(t|A|) + 1`` rarest grams (integer arithmetic — see
    ``_threshold_10k``). Any pair with Jaccard >= t MUST share one of
    those prefix grams, so recall is preserved while candidate
    fan-out drops from every-shared-gram to rare-prefix collisions —
    the difference between O(sum df^2) and near-linear at corpus
    scale. Verification computes exact Jaccard on the full gram sets
    and filters on the UNROUNDED value (display is rounded), so
    candidate pruning and acceptance agree at every boundary.
    """
    with cache_scope() as hold:
        base, _inv, prefix = _gram_prefix_index(
            hold, df, id_col, text_col, n, threshold
        )
        T = _threshold_10k(threshold)
        l, r = prefix.alias("l"), prefix.alias("r")
        # Two lossless cuts inside the candidate join, BEFORE the distinct
        # + gram-array verification join (at corpus scale that join's
        # shuffle carries the full gram sets, so every candidate killed
        # here halves the operator's dominant traffic):
        #   - size-ratio: J <= min(|A|,|B|)/max(|A|,|B|), so J >= t
        #     requires min >= t*max. Sizes ride along the prefix rows.
        #   - positional (PPJoin): on a match at prefix positions
        #     (rka, rkb), the overlap is bounded by
        #     1 + min(|A|-rka, |B|-rkb) (everything shared beyond this
        #     gram sits after it in both df-sorted prefixes), while
        #     J >= t forces overlap >= ceil(t/(1+t) * (|A|+|B|)). Any
        #     J >= t pair still survives via its FIRST shared prefix
        #     gram, where the bound is tightest-but-sufficient.
        overlap_ub = 1 + F.least(
            F.col("l.__sz") - F.col("l.__rk"), F.col("r.__sz") - F.col("r.__rk")
        )
        # ceil(t/(1+t) * (|A|+|B|)) as exact integers: T*(sa+sb) / (10000+T),
        # rounded up — the float form ceil(0.375 * s) was only safe by the
        # accident of 0.6/1.6 being exactly representable
        overlap_req = _int_div(
            F.lit(T) * (F.col("l.__sz") + F.col("r.__sz")) + F.lit(10000 + T - 1),
            10000 + T,
        )
        cand = (
            l.join(
                r,
                (F.col("l.gram") == F.col("r.gram"))
                & (F.col("l.__id") < F.col("r.__id"))
                & (
                    F.least(F.col("l.__sz"), F.col("r.__sz")) * 10000
                    >= F.lit(T) * F.greatest(F.col("l.__sz"), F.col("r.__sz"))
                )
                & (overlap_ub >= overlap_req),
            )
            .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
            .distinct()
        )
        verified = (
            cand.join(base.withColumnRenamed("__id", "id_a").withColumnRenamed("__g", "g_a"), "id_a")
            .join(base.withColumnRenamed("__id", "id_b").withColumnRenamed("__g", "g_b"), "id_b")
            .select("id_a", "id_b", jaccard(F.col("g_a"), F.col("g_b")).alias("__j"))
            .filter(F.col("__j") >= threshold)
            .select("id_a", "id_b", F.round("__j", 4).alias("jaccard_sim"))
        )
        # kept as a checkpoint (tests/test_engine.py allow-list): lazily,
        # the interpreted gram-set HOF runs once per consumer (document
        # frequency, prefix join, both verification joins) — cold median
        # 1.12x at sf0.01, 4 cores
        return materialize(verified)


def cross_doc_ngram_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 10,
) -> DataFrame:
    """Per-document cross-corpus duplicated-n-gram fraction — the
    passage-level dedup signal of Lee et al., "Deduplicating Training
    Data Makes Language Models Better" (2022), at word-n-gram
    granularity (the RefinedWeb/Gopher "duplicate n-gram fraction"
    family, but measured ACROSS documents, not within one — the
    within-doc variant is ``text.repetition_signals``).

    Emits ``(doc_id, n_grams, n_shared, shared_ratio)`` where
    ``n_grams`` counts the document's DISTINCT word n-grams and
    ``n_shared`` those that also appear in at least one OTHER
    document. Unlike whole-doc MinHash, this catches partial overlap
    (a copied paragraph inside an otherwise-unique page) and is the
    standard pre-filter for substring-level dedup cuts.

    Scale shape (100 TB): one codegen pass explodes ~one row per word
    (md5 per gram), then three partial-aggregated exchanges and ONE doc-level join:
    distinct on (doc, gram); a gram-keyed aggregate producing both the
    document frequency AND — via ``min(doc)`` — the sole owner of each
    df==1 gram; a per-doc gram total. ``n_shared`` falls out as
    ``n_grams - n_unique`` where n_unique comes from the df==1 owners,
    so the only join is per-doc aggregate x per-doc aggregate (≤|docs|
    rows each side) — the corpus-sized (doc, gram) stream is never
    re-shuffled through a join, and every groupBy is map-side
    combinable and AQE-splittable on hot grams (the grams this
    operator exists to find ARE the hot keys; a window over gram has
    neither property — r5's window form; r6's agg+join-back re-shuffled
    the full distinct stream and ran 3.1x slower than necessary).
    No driver collection. md5 is the cross-engine-verifiable family
    the registered oracle replays.
    """
    # NULL text dropped — see _norm_base's docstring. The repartition
    # puts one narrow exchange (id + token array) ahead of the
    # gram explode + per-gram hash + partial distinct — the dominant
    # compute, which otherwise runs inside the scan stage and is
    # bounded by scan splits (one task on a single-row-group parquet;
    # guide §2.5 repartition-after-read).
    norm = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            F.split(normalize_text(text_col), " ").alias("__w"),
        )
        .transform(lambda d: fanout_repartition(d, "__id"))
    )
    exploded = norm.select(
        "__id",
        "__w",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("__w") - F.lit(n - 1), F.lit(1)))
        ).alias("__i"),
    ).select(
        "__id",
        F.md5(F.array_join(F.slice(F.col("__w"), F.col("__i"), n), " ")).alias("__g"),
    )
    g = exploded.distinct()
    # a df==1 gram has exactly one (doc, gram) row, so min(doc) IS its
    # owner — df and ownership come out of one gram-keyed partial
    # aggregate, and n_shared = n_grams - n_unique needs only doc-level
    # rows downstream (no gram-stream join; see docstring)
    per_gram = g.groupBy("__g").agg(
        F.count(F.lit(1)).alias("__df"), F.min("__id").alias("__owner")
    )
    uniq = (
        per_gram.filter(F.col("__df") == 1)
        .groupBy(F.col("__owner").alias("__uid"))
        .agg(F.count(F.lit(1)).alias("__n_uniq"))
    )
    totals = g.groupBy("__id").agg(F.count(F.lit(1)).alias("n_grams"))
    # eqNullSafe: a NULL id is one group to groupBy but an equi-join
    # would drop it, overcounting the NULL-id doc's n_shared
    return (
        totals.join(uniq, totals["__id"].eqNullSafe(uniq["__uid"]), "left")
        .select(
            F.col("__id").alias(id_col),
            "n_grams",
            (F.col("n_grams") - F.coalesce(F.col("__n_uniq"), F.lit(0))).alias(
                "n_shared"
            ),
            F.round(
                (F.col("n_grams") - F.coalesce(F.col("__n_uniq"), F.lit(0)))
                / F.col("n_grams"),
                4,
            ).alias("shared_ratio"),
        )
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric n-gram containment join: ordered pairs ``(id_a,
    id_b)`` where ``|grams(A) ∩ grams(B)| / |grams(A)| >= threshold``
    — "document A is (mostly) contained in document B".

    Jaccard misses exactly this case: a paragraph quoted inside a much
    larger page has tiny Jaccard (union is dominated by B) but
    containment ~1.0, and quote/boilerplate inclusion is the common
    partial-duplication mode in crawled training corpora. The
    reference has no dedup at all (SURVEY §2 marks the category
    absent).

    Candidate generation adapts the prefix-filter principle to the
    asymmetric threshold: containment >= t bounds A's UN-shared grams
    by ``|A| - ceil(t|A|)``, so indexing each document's
    ``|A| - ceil(t|A|) + 1`` globally-rarest grams (ascending
    document frequency; integer arithmetic — see ``_threshold_10k``)
    guarantees every qualifying pair shares a prefix gram of A. The
    CONTAINER side cannot be prefix-pruned (t says nothing about how
    much of B is shared), so B probes with its full gram set — the
    join is prefix(A) x inverted-index(B), still linear in corpus
    size rather than O(n^2). A lossless size cut rides the join:
    overlap <= |B| forces ``|B| >= t*|A|`` (integerized). Both
    engines verify on the EXACT unrounded ratio (display rounded),
    so candidate pruning and acceptance agree at every boundary.
    """
    with cache_scope() as hold:
        base, inv, prefix = _gram_prefix_index(
            hold, df, id_col, text_col, n, threshold
        )
        T = _threshold_10k(threshold)
        a, b = prefix.alias("a"), inv.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.gram") == F.col("b.gram"))
                & (F.col("a.__id") != F.col("b.__id"))
                & (F.col("b.__sz") * 10000 >= F.lit(T) * F.col("a.__sz")),
            )
            .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
            .distinct()
        )
        verified = (
            cand.join(
                base.withColumnRenamed("__id", "id_a").withColumnRenamed("__g", "g_a"),
                "id_a",
            )
            .join(
                base.withColumnRenamed("__id", "id_b").withColumnRenamed("__g", "g_b"),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                (
                    F.size(F.array_intersect("g_a", "g_b"))
                    / F.size("g_a").cast("double")
                ).alias("__c"),
            )
            .filter(F.col("__c") >= threshold)
            .select("id_a", "id_b", F.round("__c", 4).alias("containment"))
        )
        # kept as a checkpoint for the same reason as
        # ngram_jaccard_pairs (cold median 1.54x lazily at sf0.01, 4 cores)
        return materialize(verified)


def cdc_chunk_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 3,
    mask: int = 16,
) -> DataFrame:
    """Content-defined chunking (Rabin/LBFS-style) over the token
    stream, plus the cross-document chunk-duplication signal:
    ``(doc_id, n_chunks, n_dup_chunks, dup_ratio)``.

    A chunk boundary falls after token ``i`` wherever the hash of the
    trailing ``window``-token n-gram satisfies ``h % mask == 0`` —
    the boundary depends only on LOCAL content, so an insertion early
    in a document shifts at most one chunk; every later chunk
    reproduces byte-identically and still matches its duplicates in
    other documents. That shift-resistance is the whole point over
    fixed-stride chunking (``chunk_tokens``), whose windows all move
    after one edit; it is the primitive of dedup storage (LBFS,
    FastCDC) and of variable-width passage dedup in training-data
    pipelines. Expected chunk length is ``mask`` tokens.

    Shape: boundary detection EXPLODES token positions and hashes the
    window in whole-stage codegen (the per-position md5 must not run
    under an interpreted HOF lambda), filters to the ~1/mask boundary
    hits map-side, and re-aggregates positions per document — the
    corpus-sized position stream never shuffles, only boundary hits
    do. Chunk assembly is then per-document array math (~n/mask
    elements); chunk hashes equi-join for the duplication counts.
    The md5+first-8-hex-digit fold is the engine-portable hash family
    (DuckDB replays it digit by digit).
    """
    w = window
    norm = _norm_base(df, id_col, text_col).select(
        "__id", F.split("__txt", " ").alias("__toks")
    )
    toks = F.col("__toks")
    n = F.size(toks)
    positions = norm.select(
        "__id",
        "__toks",
        F.explode(
            F.when(n >= w, F.sequence(F.lit(w), n)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("__i"),
    )
    win = F.concat_ws(" ", F.slice(toks, F.col("__i") - (w - 1), w))
    fold = F.conv(F.substring(F.md5(win), 1, 8), 16, 10).cast("long")
    bnds = (
        positions.filter(fold % mask == 0)
        .groupBy("__id")
        .agg(F.sort_array(F.collect_list("__i")).alias("__bnds"))
    )
    chunked = norm.join(bnds, "__id", "left").select(
        "__id",
        "__toks",
        F.coalesce("__bnds", F.array().cast("array<int>")).alias("__bnds"),
    )
    b = F.col("__bnds")
    starts = F.concat(F.array(F.lit(1)), F.transform(b, lambda x: x + 1))
    ends = F.concat(b, F.array(F.size(F.col("__toks"))))
    # only the LAST range can be empty (boundary exactly at the final
    # token), so dropping it keeps chunk indexes compact
    pairs = F.filter(
        F.zip_with(starts, ends, lambda s, e: F.struct(s.alias("s"), e.alias("e"))),
        lambda c: c.s <= c.e,
    )
    chunks = F.transform(
        pairs,
        lambda c: F.md5(
            F.array_join(F.slice(F.col("__toks"), c.s, c.e - c.s + 1), " ")
        ),
    )
    ch = chunked.select("__id", F.explode(chunks).alias("__h"))
    freq = ch.groupBy("__h").agg(F.countDistinct("__id").alias("__nd"))
    dup = F.when(F.col("__nd") > 1, 1).otherwise(0)
    return (
        ch.join(freq, "__h")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(dup).cast("long").alias("n_dup_chunks"),
            F.round(F.sum(dup) / F.count(F.lit(1)), 4).alias("dup_ratio"),
        )
        .select(
            F.col("__id").alias(id_col), "n_chunks", "n_dup_chunks", "dup_ratio"
        )
    )


def incremental_dedup_new(
    new_df,
    corpus_df,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Incremental ingest dedup: keep only the NEW batch's docs whose
    normalized-content fingerprint does not already exist in the
    corpus — the daily-crawl-vs-lake operation (full-corpus re-dedup
    per ingest is the thing that does NOT survive 100 TB; an anti-join
    of |batch| against a fingerprint index does).

    Emits the surviving new rows as ``(id, fp)``. LEFT ANTI join on
    the md5 fingerprint: the corpus side projects to the single
    fingerprint column (column pruning reaches the scan), and at scale
    the fingerprint index would be a bucketed table so the anti-join
    is exchange-free on the batch side only. Batch-internal
    duplicates are kept (dedup within the batch is exact_dedup's job;
    this operator answers only "is it already in the lake").
    """
    fp = F.md5(normalize_text(text_col)).alias("fp")
    new_fps = new_df.select(F.col(id_col).alias("id"), fp)
    corpus_fps = corpus_df.select(fp)
    return new_fps.join(corpus_fps, "fp", "left_anti").select("id", "fp")


def canonical_docs(
    df,
    quality: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 4,
):
    """Canonical-representative selection: group documents by the
    normalized-content md5 fingerprint and keep the HIGHEST-quality
    member per group (tie: lowest id) — the curation step after
    duplicate DETECTION, answering "which copy do we train on".
    Emits ``(fp, id, n_dups, quality)`` for the surviving docs.

    One shuffle on the fingerprint; the argmax is a ``max_by``
    AGGREGATE (partial-combined map-side — a boilerplate page
    duplicated millions of times collapses per mapper instead of
    funneling through one unsplittable window task), and the quality
    expression is evaluated once per row before the shuffle. The
    ordering key is (quality DESC, id ASC) with quality ROUNDed
    first, so the cross-engine argmax ties break identically on the
    exact integer id rather than on raw-double noise — encoded as
    max_by over the struct (q, -id), whose lexicographic max is
    exactly that ordering."""
    scored = df.select(
        F.md5(normalize_text(text_col)).alias("fp"),
        F.col(id_col).alias("id"),
        F.round(quality, round_to).alias("q"),
    )
    best = F.max_by(
        F.struct("id", "q"),
        F.struct(F.col("q"), (-F.col("id")).alias("nid")),
    ).alias("__best")
    return (
        scored.groupBy("fp")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dups"), best)
        .select(
            "fp",
            F.col("__best.id").alias("id"),
            "n_dups",
            (F.col("__best.q") + F.lit(0.0)).alias("quality"),
        )
    )


def source_copy_matrix(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Exact inter-source duplication matrix: for every unordered
    source pair, how many DISTINCT normalized-text fingerprints occur
    in both sources — the "which sources mirror which" curation
    diagnostic (crawl snapshots, mirrored wikis, re-crawled domains),
    and the exact ground truth that ``source_overlap_kmv``'s bottom-k
    sketch approximates at 100 TB.

    Emits ``(source_a, source_b, n_shared)`` with source_a < source_b,
    pairs with zero overlap omitted. NULL texts and NULL sources are
    excluded (repo-wide NULL-payload convention; a NULL source names
    no corpus to attribute the copy to).

    Scale shape: distinct (fingerprint, source) first (map-side
    combined, the only corpus-sized exchange), then per-fingerprint
    source SETS — bounded by |sources|, dozens not billions — whose
    in-row pair expansion is pure codegen (no self-join of the
    fingerprint stream; the naive fp x fp equi-join squares the hot
    boilerplate fingerprints this operator exists to expose). The
    final pair count aggregates |sources|^2 keys at most.
    """
    fps = (
        df.filter(F.col(text_col).isNotNull() & F.col(source_col).isNotNull())
        .select(
            F.md5(normalize_text(text_col)).alias("__fp"),
            F.col(source_col).alias("__src"),
        )
        .distinct()
    )
    sets = fps.groupBy("__fp").agg(
        F.sort_array(F.collect_set("__src")).alias("__ss")
    )
    # all i<j combos of the (sorted, bounded) per-fingerprint source
    # set, built in-row: __ss is a materialized agg column, so the
    # nested transform cannot re-trigger upstream work (the
    # per-element re-evaluation trap applies to expression chains,
    # not concrete columns)
    pairs = sets.filter(F.size("__ss") > 1).select(
        F.explode(
            F.expr(
                "flatten(transform(__ss, (x, i) ->"
                " transform(slice(__ss, i + 2, size(__ss)),"
                " y -> struct(x AS source_a, y AS source_b))))"
            )
        ).alias("__p")
    )
    return (
        pairs.groupBy(
            F.col("__p.source_a").alias("source_a"),
            F.col("__p.source_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


def dup_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_len: int = 40,
) -> DataFrame:
    """Exact duplicated-substring SPANS per document — the Lee et al.
    2022 ("Deduplicating Training Data Makes Language Models Better")
    signal: a character position is duplicated if its ``gram_len``-char
    substring occurs >= 2 times anywhere in the corpus (another doc OR
    the same doc — self-repetition counts, as in the paper's suffix
    array); overlapping/adjacent duplicated positions merge into
    maximal spans. Emits ``(doc_id, n_spans, dup_chars,
    dup_fraction)`` for documents with >= 1 duplicated span —
    dup_fraction is the fraction of the normalized text inside a
    duplicated region, the number the paper reports per corpus.

    Spark-first shape (the paper builds a monolithic suffix array —
    inherently single-machine): the position-dense-hashing rule
    applies (COVERAGE: winnowing/CDC precedent) — EXPLODE every char
    position and hash the gram in whole-stage codegen, never an
    interpreted HOF lambda. One corpus-wide groupBy counts gram
    occurrences (the inherent exchange — it replaces the suffix
    array); the duplicated-hash set comes back via a shuffle
    equi-join that AQE can skew-split if a boilerplate gram goes
    viral (no per-hash collect_list, whose hot key would be
    unsplittable). Span assembly is a per-DOCUMENT ordered window
    (partitioned — bounded by document length), then two partial-
    aggregable groupBys. The hashed position stream feeds both the
    count and the join, so it is held once in an ``engine.cache_scope``
    and released after the result materializes. md5 family: DuckDB
    replays every stage, so the oracle hash-gates spans, not just
    counts.
    """
    from pyspark import StorageLevel

    with cache_scope() as hold:
        norm = _norm_base(df, id_col, text_col).filter(
            F.length("__txt") >= gram_len
        )
        n_pos = F.length("__txt") - F.lit(gram_len - 1)
        pos = hold(
            norm.select(
                "__id",
                F.length("__txt").alias("__dlen"),
                "__txt",
                F.explode(F.sequence(F.lit(1), n_pos)).alias("__i"),
            )
            .select(
                "__id",
                "__dlen",
                "__i",
                F.md5(F.substr(F.col("__txt"), F.col("__i"), F.lit(gram_len))).alias(
                    "__h"
                ),
            ),
            StorageLevel.MEMORY_AND_DISK,
        )
        dup = (
            pos.groupBy("__h")
            .agg(F.count(F.lit(1)).alias("__c"))
            .filter(F.col("__c") >= 2)
            .select("__h")
        )
        hits = pos.join(dup, "__h").select("__id", "__dlen", "__i")
        wkey = Window.partitionBy("__id").orderBy("__i")
        prev_max = F.max("__i").over(
            wkey.rowsBetween(Window.unboundedPreceding, -1)
        )
        flagged = hits.withColumn(
            "__new",
            F.when(
                prev_max.isNull() | (F.col("__i") > prev_max + F.lit(gram_len)),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        isl = flagged.withColumn(
            "__isl",
            F.sum("__new").over(wkey.rowsBetween(Window.unboundedPreceding, 0)),
        )
        spans = isl.groupBy("__id", "__dlen", "__isl").agg(
            F.min("__i").alias("__s"),
            (F.max("__i") + F.lit(gram_len - 1)).alias("__e"),
        )
        out = (
            spans.groupBy("__id", "__dlen")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_spans"),
                F.sum(F.col("__e") - F.col("__s") + 1).cast("long").alias(
                    "dup_chars"
                ),
            )
            .select(
                F.col("__id").alias(id_col),
                "n_spans",
                "dup_chars",
                (
                    F.round(F.col("dup_chars") / F.col("__dlen"), 4) + F.lit(0.0)
                ).alias("dup_fraction"),
            )
        )
        # kept as a checkpoint (tests/test_engine.py allow-list): lazily,
        # the count and the join each run the position explode + md5,
        # as no exchange covers the Generate (cold median 1.13x on the
        # prose lake, 4 cores); a window count over the hash would read
        # it once but cannot be skew-split on a viral gram
        return materialize(out)
