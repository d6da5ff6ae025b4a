"""Plan-SHAPE pins for the most expensive bench queries
(VERDICT r7 ask #6, extended to the r8 top-5 per r8 ask #3): the
join strategies the bench numbers depend on
must survive a Spark upgrade or refactor. The iterative operators run
jobs while the DataFrame is built (per-round collects, checkpointed
loop rounds and pair results), so the final plan alone does not show
every join — we
capture every SQL execution the query runs, build-time and final,
from the session's SQLAppStatusStore (the SQL tab's data source —
public API) and scan them all.

Two tiers of pin:
- HARD, scale-independent: no CartesianProduct, and no
  BroadcastNestedLoopJoin with a real join type, anywhere in any
  sub-execution — an accidental non-equi join predicate (e.g. a lost
  alias on a self-join) silently turns a bounded equi-join into an
  all-pairs scan that only explodes at real scale. The one allowed
  BNLJ form is ``Cross``: that is how Spark compiles
  ``crossJoin(broadcast(<one-row totals>))`` — the standard
  scalar-attach idiom (basket rules' total-basket count) whose build
  side is one row by construction.
- STRATEGY, at the test SF: joins hinted/expected to broadcast do.
"""

from __future__ import annotations

import re
import time

import pytest

import __spark_entry__ as ep

#: Hand-kept historical pins: regressions here are the costliest, and
#: the list must survive a BENCH_FULL.json rewrite. RATCHET RULE
#: (r10 self-review): the auto-derived top-N below tracks whatever
#: artifact is on disk, so a band-noise re-rank can silently UN-pin a
#: query within a single round (bpe_segment_tokens entered the top-10
#: on the mid-r10 artifact and fell out on the close-out one) — every
#: query that has EVER entered a recorded top-10 therefore gets
#: promoted here, append-only, at round close.
HISTORICAL = [
    # r7+r8 top-5s
    "graph_triangle_counts",
    "dedup_ngram_jaccard_pairs",
    "basket_association_rules",
    "fuzzy_name_neighbors",
    "winnow_overlap_pairs",
    "graph_label_propagation",
    "dedup_ngram_containment_pairs",
    "curation_chunks_v2",
    "source_overlap_kmv",
    "bpe_merge_table",
    # r9/r10 top-10 entrants (union of the mid-round and close-out
    # artifacts' rankings)
    "bpe_segment_tokens",
    "doc_boilerplate_ratio",
    "fuzzy_name_neighbors_k2",
    "token_budget_selection",
    # r10 second-session close-out top-10 entrants (ratchet)
    "bootstrap_ci_order_value",
    "embedding_ann_lsh_topk",
    "graph_kcore_membership",
    # r11 close-out top-10 entrants (ratchet; the joinless ones are
    # ALSO in JOINLESS below — HISTORICAL makes the pin durable, the
    # shape declaration picks which assertion applies)
    "lm_bigram_nll",
    "doc_dup_span_stats",
    "winnow_quotation_pairs",
    "logreg_auc_roc",
    "kmeans_embedding_clusters",
]


def _bench_top_n(n: int = 10) -> list[str]:
    """Top-N cold-median registry queries from the checked-in bench
    artifact (VERDICT r9 ask #4: hand-rotated TARGETS trailed the
    bench by a round every round — new top-5 entrants like
    bpe_segment_tokens went unpinned). graph_edge_build is bench
    bookkeeping, not a registry query. Tolerant of a missing/smoke
    artifact: pins then fall back to HISTORICAL alone."""
    import json
    import pathlib

    p = pathlib.Path("BENCH_FULL.json")
    if not p.exists():
        return []
    data = json.loads(p.read_text())
    cm = data.get("queries_cold_med") or data.get("queries") or {}
    names = set(ep.queries())
    ranked = sorted(
        ((v, k) for k, v in cm.items() if k in names and v > 0), reverse=True
    )
    return [k for _, k in ranked[:n]]


#: auto-derived entrants tracked separately from the hand-curated pins:
#: the equi-join expectation below is only *asserted* for names whose
#: shape we have declared (HISTORICAL or JOINLESS); an auto-derived
#: entrant of unknown shape gets the HARD pins plus an actionable
#: warning, never a failure on a better-than-required (joinless) plan
#: (r10 VERDICT finding #1: a driver bench re-rank promoted the
#: joinless-by-design kmeans into the derived top-10 and failed the
#: suite).
AUTO = set(_bench_top_n())
TARGETS = sorted(set(HISTORICAL) | AUTO)


def _plans_during(spark, run) -> str:
    """Run ``run()`` and return the concatenated physical-plan
    descriptions of every SQL execution it triggered."""
    store = spark._jsparkSession.sharedState().statusStore()
    lst = store.executionsList()
    before = {lst.apply(i).executionId() for i in range(lst.size())}
    run()
    # the status listener is async; wait for the execution list to
    # stop growing before reading it
    prev = -1
    for _ in range(20):
        time.sleep(0.25)
        cur = store.executionsCount()
        if cur == prev:
            break
        prev = cur
    lst = store.executionsList()
    plans = [
        lst.apply(i).physicalPlanDescription()
        for i in range(lst.size())
        if lst.apply(i).executionId() not in before
    ]
    assert plans, "query triggered no SQL executions (capture broke?)"
    return "\n".join(plans)


@pytest.fixture(scope="module")
def captured(spark, sf_dir):
    qs = ep.queries()
    out = {}
    for name in TARGETS:
        out[name] = _plans_during(spark, lambda: qs[name](spark, sf_dir).count())
    return out


#: queries allowed to contain Cross-type BNLJ (scalar attach). Names
#: outside this set must have NO BroadcastNestedLoopJoin at all.
SCALAR_CROSS_OK = {
    "basket_association_rules",
    # crossJoin(broadcast(<1-row p75 NLL cutoff>)) — the scalar-attach
    # idiom; build side is one row by construction (a global agg)
    "curation_chunks_v2",
    # crossJoin(broadcast(<1-row converged flag>)) — operators/graph.py
    # kcore attaches the convergence verdict (a global MIN aggregate)
    # to every membership row; one-row build by construction
    "graph_kcore_membership",
    # crossJoin(broadcast(<1-row corpus token total>)) —
    # operators/text.py cross-entropy family attaches the global
    # count to every (doc, term) row; one-row build by construction
    "lm_bigram_nll",
    # crossJoin(broadcast(<enum-sized class table>)) — operators/
    # classifier.py scores every doc against each candidate class;
    # the build side is |classes| rows (a handful of languages) by
    # construction, never data-sized. Entered the auto-derived top-10
    # on the r13 bench artifact (the r12 artifact ranked it 7th too —
    # it was only unpinned because AUTO tracked a stale file mid-run).
    "naive_bayes_langid",
}

_JOIN_TYPES = (
    "Inner|LeftOuter|RightOuter|FullOuter|LeftSemi|LeftAnti|Cross"
    "|ExistenceJoin"  # IN/EXISTS compiled to BNLJ must fail the pin too
)


def test_no_cartesian_or_nested_loop_anywhere(captured):
    for name, plans in captured.items():
        assert "CartesianProduct" not in plans, name
        typed = re.findall(rf"BroadcastNestedLoopJoin ({_JOIN_TYPES})", plans)
        # only the Cross scalar-attach form, and only where justified
        bad = [t for t in typed if t != "Cross"]
        assert not bad, f"{name}: non-Cross BroadcastNestedLoopJoin {bad}"
        if name not in SCALAR_CROSS_OK:
            assert "BroadcastNestedLoopJoin" not in plans, name


#: targets with no join at all by design — bpe_merge_table is one
#: distinct-word count whose merges are learned on the driver (its
#: scale shape is the partial-aggregate, pinned separately below);
#: bpe_segment_tokens reuses that training then applies the
#: merge table as a map-only chained replace over the corpus
#: bootstrap_ci_order_value is a block-explode -> lane-explode ->
#: partial-aggregable groupBy(rep): resamples never join anything.
#: embedding_ann_lsh_topk computes the multiprobe bucket set on the
#: driver and applies it as an isin FILTER on the bucketed scan, then
#: TakeOrdered-reranks — the whole point is that no join ever happens
#: kmeans_embedding_clusters is Lloyd iterations where centroids ride
#: as literal arrays in a single aggregate per step — joinless by
#: design (operators/clustering.py), the plan is *better* than an
#: equi-join would be.
#: logreg_auc_roc aggregates the score histogram under a bounded
#: global window — training is collect-per-step aggregates, scoring
#: one hash aggregate; no join anywhere by design.
#: logreg_isotonic_calibration trains with per-step aggregates and
#: returns a createDataFrame over <= n_bins driver-side PAV rows — a
#: join has nothing to pair by design.
JOINLESS = {
    "bpe_merge_table",
    "bpe_segment_tokens",
    "bootstrap_ci_order_value",
    "embedding_ann_lsh_topk",
    "kmeans_embedding_clusters",
    "logreg_auc_roc",
    "logreg_isotonic_calibration",
}


def test_every_target_joins_via_equi_join_operators(captured):
    # each of these queries is built on equi-joins (degree-ordered
    # wedge join, prefix-filter candidate join, basket self-join,
    # deletion-neighborhood join, fingerprint self-join): some
    # hash/merge equi-join node must appear in the executed plans.
    # The assertion applies only to names with a DECLARED equi-join
    # shape (HISTORICAL minus JOINLESS): an auto-derived top-N entrant
    # we have not classified yet may legitimately be joinless
    # (aggregate-only), which is a better plan, not a regression —
    # the HARD pins above already ran on it. Warn so it gets
    # classified at round close instead of failing the suite.
    import warnings

    for name, plans in captured.items():
        if name in JOINLESS:
            continue
        has_equi_join = any(
            j in plans
            for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        )
        if has_equi_join:
            continue
        if name in HISTORICAL:
            pytest.fail(f"{name}: declared equi-join operator lost its join")
        warnings.warn(
            f"{name}: auto-derived bench top-N entrant executed a joinless "
            "plan — classify it (JOINLESS if aggregate-only by design, "
            "HISTORICAL if it should join) at round close",
            stacklevel=0,
        )


def test_bpe_merge_loop_aggregates_map_side(captured):
    # the word count must be a hash aggregate (map-side partial ->
    # final), not a sort-based fallback, and training must never
    # join: a join appearing here would mean it started shipping the
    # corpus instead of the bounded distinct-word table
    plans = captured["bpe_merge_table"]
    assert "HashAggregate" in plans
    for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"):
        assert j not in plans, f"bpe_merge_table grew a {j}"


def test_basket_rules_support_side_broadcasts(captured):
    # the per-item support table is tiny relative to the basket
    # self-join and must broadcast (the shape VERDICT r7 audited);
    # a flip to SortMergeJoin would add a corpus-wide exchange
    assert "BroadcastHashJoin" in captured["basket_association_rules"]


def test_triangle_counts_wedge_joins_stay_equi(captured):
    # degree-ordered orientation: wedge join + closure check are both
    # equi-joins on (src, dst) pairs; the closure check must never
    # degrade to a nested-loop on the pair predicate
    plans = captured["graph_triangle_counts"]
    assert (
        plans.count("BroadcastHashJoin")
        + plans.count("SortMergeJoin")
        + plans.count("ShuffledHashJoin")
        > 0
    )
