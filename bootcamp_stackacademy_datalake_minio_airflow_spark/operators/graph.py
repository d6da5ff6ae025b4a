"""Iterative graph algorithms on DataFrames (extension; absent in
reference).

Link-analysis scores are a standard corpus-curation signal (domain
authority for web-crawl filtering, item importance for catalog
ranking). PageRank here is the fixed-iteration power method expressed
as pure DataFrame joins — no GraphX/GraphFrames dependency, no driver
loops over data — so it inherits Spark's shuffle/AQE machinery and,
with every stage deterministic double math, an independent engine can
replay it iteration by iteration (the registered oracle unrolls the
same recurrence in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import drop_checkpoint, fanout_repartition, materialize


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    partition_by: str | None = None,
) -> DataFrame:
    """Symmetric co-occurrence edges ``(src, dst)``: items sharing a
    group, both directions, distinct.

    Shape: ONE shuffle groups items per group key (collect_list is
    bounded by max group size — TPC-H orders hold <= 7 items, so the
    array and its local double-explode are O(1) per group and
    skew-free), then the distinct collapses multiplicity to an
    unweighted simple graph. Measured 1.6x faster than the
    equivalent self-join + distinct at sf0.1 (the join exchanges the
    input twice; this exchanges it once).

    ``partition_by`` ("src" or "dst") fuses a downstream consumer's
    partitioning requirement into the dedup exchange: hash-partitioning
    on a SUBSET of the distinct keys still co-locates identical
    (src, dst) pairs, so the planner satisfies the distinct's
    clustering requirement from the explicit repartition and adds no
    second exchange — an iterative consumer (PageRank) inherits
    dst-partitioning for free instead of re-shuffling |E| rows."""
    # explicit repartition on the group key BEFORE the aggregate: the
    # groupBy needs exactly this clustering, so the plan still has ONE
    # exchange — but the collect_list (whose partial mode reduces
    # nothing: the lists carry every row either way) now builds
    # post-exchange at core parallelism instead of inside the scan
    # stage (one task on a single-row-group parquet; guide §2.5 /
    # §2.4 share-one-exchange). List order within a group was already
    # arrival-nondeterministic; every consumer is set-semantic.
    grouped = (
        df.select(F.col(group_col), F.col(item_col))
        .transform(lambda d: fanout_repartition(d, group_col))
        .groupBy(F.col(group_col))
        .agg(F.collect_list(F.col(item_col)).alias("__items"))
    )
    pairs = (
        grouped.select(F.explode("__items").alias("src"), "__items")
        .select("src", F.explode("__items").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    if partition_by is not None:
        # keyless form ON PURPOSE (not fanout_repartition): the
        # consumers of this partitioning are ITERATIVE algorithms whose
        # per-round work is byte-proportional over the cached edge set
        # — AQE's size-based partition choice is correct for them, and
        # pinning an explicit count (32, the shuffle conf at the time)
        # made the consumers 1.3-1.4x SLOWER at sf0.1 (label-prop
        # 2.18->3.03s, triangles 3.41->4.58s standalone A/B): many
        # small per-round jobs paid 32-task scheduling for no
        # CPU-fan-out gain. Explicit N stays reserved for fan-out
        # stages (see engine.fanout_repartition).
        return pairs.repartition(partition_by).dropDuplicates()
    return pairs.distinct()


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    state_round: int = 10,
    out_round: int = 6,
    broadcast_rank_budget: int = 5_000_000,
) -> DataFrame:
    """Fixed-iteration PageRank by power method over a symmetric edge
    set: ``rank'(v) = (1-d)/N + d * sum_{u->v} rank(u)/outdeg(u)``.

    Returns ``(node, pagerank)``. Each iteration is ONE shuffle (join
    ranks to edges on src, re-aggregate on dst); the edge+degree table
    is one subtree that every iteration reads. Ranks are
    quantized to ``state_round`` decimals per iteration so the state
    an independent replay sees is bit-identical — unordered float
    summation drifts ~1e-16 per step, and without the quantization
    five iterations of compounding would make a cross-engine hash
    check flaky.

    Scale: the caller owns the edge set — materialized and
    dst-partitioned, like the suite-level shared co-occurrence
    projection (suites/graph_shared.py) — and this function never
    caches or releases it, so one edge set serves several graph
    algorithms. When |V| fits ``broadcast_rank_budget`` the rank table
    is broadcast, making each iteration a map-only pass over those
    edges plus one aggregation shuffle; past the budget (a 100M-node
    web graph) the edge+degree table is hash-partitioned by ``src``
    ONCE, one exchange every iteration reuses, so the per-iteration
    shuffle join never re-exchanges the (dominant) edge side — only
    the |V|-row rank table moves. Dangling nodes cannot exist here (a symmetric edge
    set gives every node an out-edge); for general digraphs add the
    dangling-mass redistribution term before reusing this.
    """
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("__outdeg"))
    # the node set IS deg's key set (symmetric edges: every node has an
    # out-edge) — deriving it from the |V|-row degree table instead of
    # a second distinct over the |E|-row edge set saves a full edge
    # shuffle in the build phase
    nodes = deg.select(F.col("src").alias("node"))
    n = deg.count()
    if n == 0:
        # empty edge set (e.g. every group holds a single item):
        # return an empty frame with the output schema instead of a
        # driver-side ZeroDivisionError
        return nodes.select(
            "node", F.lit(0.0).alias("rank")
        ).select("node", F.round("rank", out_round).alias("pagerank"))
    base = (1.0 - damping) / n
    small = n <= broadcast_rank_budget
    hint = F.broadcast if small else (lambda df: df)
    # Partition the edge+degree table by the PER-ITERATION aggregation
    # key. In the broadcast regime the rank join is map-only, so
    # dst-partitioning flows through the project into
    # groupBy("node"=dst) and each iteration exchanges NOTHING but the
    # tiny rank vector — pinning by src (the join key) instead would
    # re-shuffle the full contribution stream every iteration (5
    # shuffles of |E| rows; measured ~2x slower at sf0.1). Past the
    # budget the join itself must shuffle on src, so src-partitioning
    # is the one worth pinning; deg is |V| rows and rides the same
    # broadcast budget. The caller's edges are already partitioned by
    # dst (cooccurrence_edges(partition_by="dst")), so under the budget
    # ce is just a broadcast-degree decoration of them — two map-side
    # ops per iteration, no extra exchange.
    ce = edges.join(hint(deg), "src")
    if not small:
        # keyless on purpose: iterative consumer (see cooccurrence_edges note)
        ce = ce.repartition("src")
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(iters):
        ranks = (
            ce.join(hint(ranks), ce.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("__outdeg")).alias("__c"),
            )
            .groupBy("node")
            .agg(
                F.round(
                    F.lit(base) + F.lit(damping) * F.sum("__c"), state_round
                ).alias("rank")
            )
        )
    return ranks.select("node", F.round("rank", out_round).alias("pagerank"))


def label_propagation(
    edges: DataFrame,
    iters: int = 3,
    broadcast_label_budget: int = 5_000_000,
) -> DataFrame:
    """Synchronous label propagation (community detection) over a
    symmetric, distinct ``(src, dst)`` edge set with NUMERIC node
    ids: every node starts labeled with its own id, and each
    iteration adopts the most frequent label among its neighbors
    (ties to the smallest label — the deterministic stand-in for
    LPA's usual random tie-break, which makes the whole run
    replayable by an independent engine). Returns
    ``(node, community)`` after ``iters`` rounds.

    Shape per iteration: map-side join of the cached dst-partitioned
    edge set against the |V|-row label table (broadcast under
    ``broadcast_label_budget``, exactly the pagerank regime split),
    then ONE per-node aggregation: ``mode(lab, deterministic)`` is
    the argmax-by-frequency with ties to the LOWEST label — the exact
    (count DESC, label ASC) rule — and partial-aggregates its count
    map map-side, where the previous count-then-max(struct) pair cost
    a second exchange every round (r13; guide §2.4). Past the budget
    the label join degrades to a co-partitioned shuffle join, like
    pagerank. As there, the caller owns the edge set (materialized,
    dst-partitioned) and this function never caches or releases it.
    """
    nodes = edges.select(F.col("dst").alias("node")).distinct()
    n = nodes.count()
    small = n <= broadcast_label_budget
    hint = F.broadcast if small else (lambda df: df)
    # under the budget the caller's dst-partitioned edges serve as
    # they are; past it the shuffle join needs them by src, one
    # exchange that every round reuses
    e = edges
    if not small:
        # keyless on purpose: iterative consumer (see cooccurrence_edges note)
        e = edges.repartition("src")
    labels = nodes.select("node", F.col("node").alias("lab"))
    for _ in range(iters):
        votes = e.join(hint(labels), e.src == labels.node).select(
            F.col("dst").alias("n"), "lab"
        )
        # ONE aggregation per round (r13): mode(lab, deterministic) IS
        # the per-node argmax with ties to the LOWEST label — the
        # exact (count DESC, label ASC) rule the old count-then-
        # max(struct) pair computed in TWO exchanges per iteration
        # (hashpartitioning(n,lab) then hashpartitioning(n), verified
        # in the executed plan). mode partial-aggregates its count
        # map map-side, so shuffle bytes stay comparable and the
        # per-round stage count halves (guide §2.4 remove shuffles).
        labels = votes.groupBy("n").agg(
            F.expr("mode(lab, true)").alias("lab")
        ).select(F.col("n").alias("node"), "lab")
    return labels.select("node", F.col("lab").alias("community"))


def k_core(
    edges: DataFrame,
    k: int,
    rounds: int = 4,
) -> DataFrame:
    """Bounded-round k-core peeling over a symmetric, distinct
    ``(src, dst)`` edge set: repeatedly delete nodes of degree < k
    (with their edges) for ``rounds`` synchronous rounds. Returns the
    surviving nodes as ``(node, degree, converged)`` — ``degree`` in
    the surviving induced subgraph, ``converged`` true iff the final
    round deleted nothing (the result then IS the exact k-core;
    otherwise more peeling remained and the caller raises
    ``rounds``). The bounded-round contract is what makes the run
    replayable by an independent engine — a data-dependent fixpoint
    loop isn't a fixed plan.

    k-core membership is the classic graph-shaped spam/quality signal
    (link farms live in shallow cores; authoritative clusters run
    deep). Execution pattern — distinct from pagerank's static cached
    edges — is PROGRESSIVE SHRINKING STATE: each round is one degree
    aggregation plus two semi-joins restricting the edge set, and the
    round's survivor edges are eagerly localCheckpoint'ed so the next
    round reads a materialized table instead of replaying the whole
    peel history (the lazy chain would recompute round r-1 once per
    consumer of round r). Peeling only ever shrinks the data, so
    per-round cost is non-increasing; everything is shuffle-join/agg,
    nothing driver-side. The first round reads the caller's edges
    directly (already materialized, like the shared co-occurrence
    projection); each later round frees the checkpoint it supersedes.
    """
    e = edges
    for r in range(rounds):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
        keep = deg.filter(F.col("__deg") >= k).select(F.col("src").alias("node"))
        peeled = materialize(
            e.join(keep.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("node", "dst"), "dst", "left_semi")
        )
        if r:
            drop_checkpoint(e)
        e = peeled
    deg_final = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    # converged iff the last round deleted nothing: every survivor of
    # the final degree pass still meets the bar
    converged = deg_final.agg(
        F.coalesce(F.min(F.col("degree") >= k), F.lit(True)).alias("converged")
    )
    return (
        deg_final.select(F.col("src").alias("node"), "degree")
        .crossJoin(F.broadcast(converged))
    )


def triangle_counts(
    edges: DataFrame,
    broadcast_edge_budget: int = 5_000_000,
    edges_canonical: bool = False,
    edge_count_hint: int | None = None,
    edges_distinct: bool = False,
) -> DataFrame:
    """Per-node triangle counts over an undirected graph given as a
    (src, dst) edge list (either or both directions; self-loops and
    duplicates are tolerated and collapsed).

    Algorithm: degree-ordered edge orientation — every undirected edge
    points from its lower-(degree, id) endpoint to the higher one, so
    each triangle is generated by exactly ONE wedge at its
    lowest-ranked vertex and out-degrees are bounded by O(sqrt(|E|))
    even on power-law graphs. That bound is the whole point at scale:
    the naive wedge join explodes quadratically on hub nodes; the
    oriented join provably cannot (Suri & Vassilvitskii's MR trick,
    public knowledge). Nothing is collected.

    Two execution regimes on top of the same orientation:

    - |E| ≤ ``broadcast_edge_budget``: ADJACENCY INTERSECTION — the
      out-neighbor lists (total size |E|, entries bounded O(sqrt E))
      are collected per node, broadcast, and each oriented edge (s, t)
      counts |N+(s) ∩ N+(t)| with a codegen array_intersect. The wedge
      stream (sum of C(outdeg, 2) — 41M rows at sf0.1 for 1.2M edges)
      is NEVER materialized or shuffled; measured 4x faster than the
      wedge join on that graph. This is the dense-graph fast path.
    - past the budget: the classic wedge join (o1 ⋈ o2 on apex, then a
      shuffle join against the closing edge) — everything spillable,
      AQE-eligible, no driver state. This is the 100 TB path; the
      orientation bound keeps it hub-safe.

    Returns (node, n_triangles) for every node in ≥1 triangle.
    """
    # und is read by the degree agg AND the orientation join, and
    # oriented by every consumer below: their exchanges (the dedup,
    # the degree agg) are shared by ReusedExchange. Under the budget
    # the degree table is broadcast, so orientation adds no exchange
    # and only map-side work repeats per consumer. Past it the
    # orientation joins are shuffle joins, and each of the three
    # wedge-join consumers (o1, o2, closing) re-runs their join work
    # above the shared exchanges; that still beats holding oriented,
    # whose cache-fill pass cost more (budget 0 on the co-purchase
    # edges, interleaved on 4 cores: 35.3 s held vs 18.0 s lazy at
    # sf0.1, 2.35 vs 1.78 s at sf0.01).
    #
    # ``edges_canonical``: a caller that KNOWS its edge stream already
    # carries each undirected edge in one orientation only (e.g. a
    # src<dst pre-filter on a symmetric co-occurrence stream) skips
    # the least/greatest canonicalization — and, more importantly, has
    # already HALVED the dedup exchange's input map-side. For a
    # both-directions stream the distinct otherwise shuffles 2|E| rows
    # to keep |E|.
    # ``edges_distinct``: the caller's stream is already duplicate-free
    # AND materialized by an external cache (suites/graph_shared.py's
    # shared projection) — skip the dedup exchange; both und
    # consumers (degree agg, orientation join) read the caller's
    # materialized table map-side instead.
    if edges_canonical:
        canon = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    else:
        canon = edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
    und = canon.filter(F.col("u") < F.col("v"))
    if not edges_distinct:
        und = und.distinct()
    # regime decision up front: the broadcast hints — degree table for
    # orientation, adjacency for the intersection — are only legal
    # under the budget. |V| <= 2|E|,
    # so the edge count bounds both. Past the budget NOTHING is
    # broadcast or collected; orientation and closing run as
    # spillable shuffle joins (found in review: the degree broadcast
    # used to be unconditional, collecting |V| rows to the driver on
    # the very graphs the scale path exists for).
    # ``edge_count_hint`` must be a true UPPER bound on |E| (callers
    # can assert one cheaply, e.g. rows-in x max-group-size for a
    # bounded-group co-occurrence build). When the bound already fits
    # the budget the probe job is skipped; an over-estimate merely falls
    # back to the probe, so a conservative bound is always safe.
    if edge_count_hint is not None and edge_count_hint <= broadcast_edge_budget:
        small = True
    else:
        small = und.count() <= broadcast_edge_budget
    hint = F.broadcast if small else (lambda df: df)
    deg = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    # BOTH degree lookups join the SAME deg subtree via alias(), not
    # via two renaming Projects: a Project on top of the exchange
    # child changes its canonical plan, so the old form built (and
    # fully re-aggregated) the degree table twice — once per
    # broadcast. With identical children, ReuseExchange ships ONE
    # build to both joins (and on the past-budget path, one shuffle
    # of deg serves both sides — guide §2.4 share one exchange).
    d1, d2 = deg.alias("d1"), deg.alias("d2")
    e = (
        und.alias("e")
        .join(hint(d1), F.col("e.u") == F.col("d1.n"))
        .join(hint(d2), F.col("e.v") == F.col("d2.n"))
    )
    du, dv = F.col("d1.deg"), F.col("d2.deg")
    u_first = (du < dv) | ((du == dv) & (F.col("e.u") < F.col("e.v")))
    oriented = e.select(
        F.when(u_first, F.col("e.u")).otherwise(F.col("e.v")).alias("s"),
        F.when(u_first, F.col("e.v")).otherwise(F.col("e.u")).alias("t"),
        F.when(u_first, dv).otherwise(du).alias("dt"),
    )
    if small:
        # dense/fast path: broadcast adjacency, intersect per edge.
        # Each triangle (s, t, w) with oriented edges s->t, s->w, t->w
        # is found exactly once, at its base edge (s, t), as
        # w ∈ N+(s) ∩ N+(t).
        adj = oriented.groupBy("s").agg(
            F.sort_array(F.collect_list("t")).alias("nbrs")
        )
        # same alias-not-Project discipline as the degree joins above:
        # the two adjacency lookups (by s and by t) broadcast the SAME
        # subtree, so the collect_list aggregation + driver collect +
        # broadcast build — the dense path's heaviest setup — runs
        # ONCE and ReuseExchange serves the second join from it
        a1, a2 = adj.alias("a1"), adj.alias("a2")
        tri_edges = (
            oriented.select("s", "t")
            .alias("o")
            .join(F.broadcast(a1), F.col("o.s") == F.col("a1.s"))
            .join(
                F.broadcast(a2),
                F.col("o.t") == F.col("a2.s"),
                "left",  # sink nodes have no out-list
            )
            .select(
                F.col("o.s").alias("s"),
                F.col("o.t").alias("t"),
                # empty-of-the-right-type via slice(ns, 1, 0): keeps the
                # operator generic over node id type (bigint, string, ...)
                F.array_intersect(
                    F.col("a1.nbrs"),
                    F.coalesce(F.col("a2.nbrs"), F.slice(F.col("a1.nbrs"), 1, 0)),
                ).alias("__w"),
            )
            .filter(F.size("__w") > 0)
        )
        # ONE pass over the intersect stream (r13): the previous 3-way
        # union referenced tri_edges three times, and with nothing but
        # map-side broadcast joins below it there is no exchange for
        # ReuseExchange to dedupe — the scan + double join + intersect
        # subtree executed THREE times (measured: the probe+agg leg
        # alone ran ~3x the single-pass cost). Each row now emits all
        # of its incidences — (s, |w|), (t, |w|), and (x, 1) per
        # closing vertex — through a single Generate (§2.4 do fewer
        # passes). The transform() lambda is interpreted, but it runs
        # once per TRIANGLE, not once per probe pass.
        return (
            tri_edges.select(
                F.explode(
                    F.concat(
                        F.array(
                            F.struct(
                                F.col("s").alias("node"),
                                F.size("__w").cast("long").alias("c"),
                            ),
                            F.struct(
                                F.col("t").alias("node"),
                                F.size("__w").cast("long").alias("c"),
                            ),
                        ),
                        F.transform(
                            "__w",
                            lambda x: F.struct(
                                x.alias("node"), F.lit(1).cast("long").alias("c")
                            ),
                        ),
                    )
                ).alias("__e")
            )
            .select(F.col("__e.node").alias("node"), F.col("__e.c").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias("n_triangles"))
        )

    # scale path: wedge join; spillable end to end
    o1 = oriented.select(F.col("s"), F.col("t").alias("t1"), F.col("dt").alias("d1"))
    o2 = oriented.select(F.col("s"), F.col("t").alias("t2"), F.col("dt").alias("d2"))
    t1_first = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("t1") < F.col("t2"))
    )
    wedges = (
        o1.join(o2, "s")
        .filter(t1_first)  # each unordered wedge once, rank-ordered
        .select(F.col("s").alias("apex"), F.col("t1").alias("lo"), F.col("t2").alias("hi"))
    )
    closing = oriented.select(F.col("s").alias("lo"), F.col("t").alias("hi"))
    tris = wedges.join(closing, ["lo", "hi"])
    # one pass: each triangle row explodes into its three member nodes
    # instead of the 3-way union re-reading the join output (r13,
    # same rationale as the dense path's single-pass incidence emit)
    return (
        tris.select(
            F.explode(F.array(F.col("apex"), F.col("lo"), F.col("hi"))).alias(
                "node"
            )
        )
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
