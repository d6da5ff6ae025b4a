"""Property-based tests (hypothesis): invariants that must hold for
ANY input, not just the planted fixtures.

Examples are capped low — every example spins Spark jobs, so these
buy breadth-per-example, not volume.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

_EDGES = st.lists(
    st.tuples(st.integers(0, 25), st.integers(0, 25)),  # self-loops allowed
    min_size=0,
    max_size=40,
)


def _reference_components(edges):
    """Driver-side union-find ground truth (independent of the
    implementation under test's own union-find fast path)."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nodes = set()
    for u, v in edges:
        nodes.update((u, v))
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = sorted((ru, rv))
            parent[hi] = lo
    # min-label per component
    comps: dict[int, int] = {}
    for n in nodes:
        root = find(n)
        comps[root] = min(comps.get(root, n), n)
    return {n: comps[find(n)] for n in nodes}


@settings(max_examples=8, deadline=None)
@given(edges=_EDGES)
def test_connected_components_paths_agree(spark, edges):
    """The driver union-find fast path and the distributed min-label
    propagation must label every random graph identically — and match
    an independent reference."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.dedup import (
        connected_components,
    )

    if not edges:
        return
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "id_a long, id_b long"
    )
    via_driver = {
        r.node: r.component for r in connected_components(pairs).collect()
    }
    via_distributed = {
        r.node: r.component
        # max_iter must cover the worst-case diameter (a 26-node path);
        # the loop exits early at the fixpoint anyway
        for r in connected_components(
            pairs, driver_budget_edges=0, max_iter=30
        ).collect()
    }
    assert via_driver == via_distributed == _reference_components(edges)


@settings(max_examples=6, deadline=None)
@given(
    w_train=st.integers(1, 8),
    w_val=st.integers(1, 8),
    w_test=st.integers(1, 8),
)
def test_hash_split_partition_and_stability(spark, w_train, w_val, w_test):
    """Splits partition the keyspace (every row exactly one label) and
    verdicts are per-key stable when the corpus grows."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.sampling import hash_split

    total = w_train + w_val + w_test
    weights = {
        "train": w_train / total,
        "val": w_val / total,
        "test": w_test / total,
    }
    df = spark.range(500).withColumnRenamed("id", "k")
    out = hash_split(df, "k", weights)
    assert out.count() == 500
    assert out.filter(~F.col("split").isin("train", "val", "test")).count() == 0
    small = {(r.k, r.split) for r in out.collect()}
    bigger = hash_split(spark.range(800).withColumnRenamed("id", "k"), "k", weights)
    big = {(r.k, r.split) for r in bigger.collect() if r.k < 500}
    assert small == big


def test_connected_components_string_ids(spark):
    """Node ids need not be numeric: the driver fast path must
    preserve the caller's id type (min-label = lexicographic min for
    strings, same as the distributed path's F.min)."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [("doc_b", "doc_a"), ("doc_b", "doc_c"), ("x9", "x2")],
        "id_a string, id_b string",
    )
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == {
        "doc_a": "doc_a",
        "doc_b": "doc_a",
        "doc_c": "doc_a",
        "x2": "x2",
        "x9": "x2",
    }
    dist = {
        r.node: r.component
        for r in connected_components(pairs, driver_budget_edges=0).collect()
    }
    assert dist == got


_REVISIONS = st.lists(
    st.tuples(
        st.integers(1, 6),            # key
        st.integers(0, 50),           # payload
        st.integers(1, 9),            # version
        st.booleans(),                # tombstone
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda r: (r[0], r[2]),  # one revision per (key, version)
)


def _apply_reference(base: dict, revisions):
    """Driver-side replay of the retained-tombstone version-conditional
    merge: state maps key -> (payload, version, deleted)."""
    state = dict(base)
    for k, p, v, tomb in revisions:
        cur = state.get(k)
        if cur is None or v >= cur[1]:
            state[k] = (p, v, tomb)
    return state


@settings(max_examples=6, deadline=None)
@given(revisions=_REVISIONS, data=st.data())
def test_versioned_merge_is_batching_independent(spark, revisions, data):
    """Splitting ANY revision set into ANY ordered batching and
    merge_upsert-ing them sequentially (version-conditional, retained
    tombstones) must land in the same state as the driver-side
    reference replay — i.e. final state depends only on the SET of
    revisions."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.jobs.upsert import (
        merge_upsert,
    )

    # random ordered partition of the revision list into 1-3 batches
    n_batches = data.draw(st.integers(1, min(3, len(revisions))))
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(1, len(revisions) - 1)
                if len(revisions) > 1
                else st.just(1),
                min_size=n_batches - 1,
                max_size=n_batches - 1,
                unique=True,
            )
        )
    )
    batches, prev = [], 0
    for c in cuts + [len(revisions)]:
        if revisions[prev:c]:
            batches.append(revisions[prev:c])
        prev = c

    base = {1: (100, 0, False), 2: (200, 0, False)}
    target = spark.createDataFrame(
        [(k, p, v, d) for k, (p, v, d) in base.items()],
        "k long, p long, ver long, deleted boolean",
    )
    for batch in batches:
        # within-batch latest-wins (ties broken by payload desc for
        # determinism, mirroring the reference's last-write since
        # unique_by forbids same (key, version) twice)
        updates = spark.createDataFrame(
            batch, "k long, p long, ver long, deleted boolean"
        )
        from pyspark.sql import Window

        latest = (
            updates.withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy("k").orderBy(F.desc("ver"))
                ),
            )
            .filter("__rn = 1")
            .drop("__rn")
        )
        target = merge_upsert(
            target,
            latest,
            "k",
            tombstone_col="deleted",
            order_col="ver",
            retain_tombstones=True,
        ).localCheckpoint()

    got = {r.k: (r.p, r.ver, r.deleted) for r in target.collect()}
    # reference replays revisions in per-key version order (batching
    # cannot matter — that is the property)
    expected = _apply_reference(
        base, sorted(revisions, key=lambda r: (r[0], r[2]))
    )
    assert got == expected


_TABLES = st.lists(
    st.tuples(
        st.integers(1, 8),                       # key
        st.integers(0, 3),                       # payload a
        st.one_of(st.none(), st.integers(0, 2)), # payload b (nullable)
    ),
    min_size=0,
    max_size=10,
    unique_by=lambda r: r[0],
)


@settings(max_examples=8, deadline=None)
@given(old_rows=_TABLES, new_rows=_TABLES)
def test_change_feed_roundtrip_reconstructs_new(spark, old_rows, new_rows):
    """Fundamental CDF property: applying snapshot_diff(old, new) to
    old yields exactly new — for ANY pair of table versions, including
    NULL payloads and empty sides."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.jobs.incremental_gold import (
        snapshot_diff,
    )

    schema = "k long, a long, b long"
    old = spark.createDataFrame(old_rows, schema) if old_rows else (
        spark.createDataFrame([], schema)
    )
    new = spark.createDataFrame(new_rows, schema) if new_rows else (
        spark.createDataFrame([], schema)
    )
    feed = snapshot_diff(old, new, "k").collect()

    state = {r[0]: (r[1], r[2]) for r in old_rows}
    for r in feed:
        if r.change_type == "delete":
            state.pop(r.k)
        else:
            state[r.k] = (r.a, r.b)
    assert state == {r[0]: (r[1], r[2]) for r in new_rows}
    # and the feed is minimal: no row for unchanged keys
    unchanged = {
        r[0] for r in old_rows
    } & {r[0] for r in new_rows if r in old_rows}
    assert all(r.k not in unchanged or True for r in feed)  # sanity
    feed_keys = {r.k for r in feed}
    for r in old_rows:
        if r in new_rows:
            assert r[0] not in feed_keys, "unchanged key must not emit"


_CORPUS = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=12),
    min_size=1,
    max_size=8,
)


@settings(max_examples=6, deadline=None)
@given(texts=_CORPUS)
def test_unigram_cross_entropy_matches_reference(spark, texts):
    """For ANY tiny corpus, the distributed unigram cross-entropy must
    equal a driver-side recomputation from first principles (corpus
    unigram LM, -avg log2 p over token instances), and is always
    >= 0."""
    import math
    from collections import Counter

    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.text import unigram_cross_entropy

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in unigram_cross_entropy(df).collect()}

    def norm_tokens(t):
        t = " ".join(t.lower().strip().split())
        return t.split(" ") if t else None

    docs = {i: norm_tokens(t) for i, t in rows if t is not None}
    docs = {i: tk for i, tk in docs.items() if tk}
    vocab = Counter()
    for tk in docs.values():
        vocab.update(tk)
    n = sum(vocab.values())
    assert set(got) == set(docs)
    for i, tk in docs.items():
        ce = -sum(math.log2(vocab[w] / n) for w in tk) / len(tk)
        assert got[i].n_tokens == len(tk)
        assert abs(got[i].cross_entropy - round(ce, 4)) <= 1e-9 + 5e-5, (
            i, got[i].cross_entropy, ce,
        )
        assert got[i].cross_entropy >= 0.0


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.tuples(st.sampled_from(["s1", "s2", "s3"]), st.sampled_from(["x", "y", "z", "w"])),
        min_size=0,
        max_size=16,
    )
)
def test_source_copy_matrix_matches_reference(spark, docs):
    """For ANY assignment of 4 possible texts to 3 sources, the matrix
    must equal the driver-side set computation: n_shared(a, b) =
    |fingerprints(a) ∩ fingerprints(b)|, zero pairs omitted."""
    from itertools import combinations

    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.dedup import source_copy_matrix

    rows = [(i, text, src) for i, (src, text) in enumerate(docs)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ) if rows else None
    if df is None:
        return
    got = {
        (r.source_a, r.source_b): r.n_shared
        for r in source_copy_matrix(df).collect()
    }
    by_src: dict[str, set] = {}
    for _i, text, src in rows:
        by_src.setdefault(src, set()).add(text)
    want = {}
    for a, b in combinations(sorted(by_src), 2):
        shared = len(by_src[a] & by_src[b])
        if shared:
            want[(a, b)] = shared
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="xy z", min_size=0, max_size=30),
        min_size=1,
        max_size=6,
    )
)
def test_winnow_exploded_path_equals_array_form(spark, texts):
    """winnow_overlap_pairs' codegen explode path (position -> member
    windows -> min per window) must produce EXACTLY the per-doc
    fingerprint sets of winnow_table's array form for ANY text — the
    two formulations implement one spec and a divergence (window
    membership off-by-one, short-doc clamping) would silently change
    which pairs surface."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.text import (
        winnow_fp_exploded,
        winnow_table,
    )

    k, window = 4, 3
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    wt = winnow_table(df, "doc_id", "text", k=k, window=window)
    want = {
        r.doc_id: set(r.fingerprints) for r in wt.collect() if r.fingerprints
    }
    got: dict = {}
    for r in winnow_fp_exploded(df, "doc_id", "text", k=k, window=window).collect():
        got.setdefault(r["__id"], set()).add(r["__fp"])
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    sizes=st.lists(st.integers(1, 500), min_size=1, max_size=8),
    budget=st.integers(10, 5000),
)
def test_epoch_schedule_matches_reference_water_filling(spark, sizes, budget):
    """For ANY source sizes and budget, the distributed capped
    water-filling must match a driver-side greedy reference: epochs
    never exceed the cap, capped sources' unusable share redistributes
    proportionally to w_s among the uncapped, and when anything is
    uncapped the budget is met exactly (allocation identity)."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.sampling import epoch_schedule

    R, a = 4.0, 0.5
    rows = []
    for s, n in enumerate(sizes):
        # one doc of n single-char tokens per source
        rows.append((f"s{s}", "x " * n))
    df = spark.createDataFrame(rows, "source string, text string")
    from pyspark.sql import functions as F

    got = {
        r.source: r
        for r in epoch_schedule(
            df, "source", F.size(F.split(F.col("text"), " ")) - 1,
            budget=budget, max_epochs=R, alpha=a,
        ).collect()
    }

    # driver reference: walk r-descending, cap greedily
    ws = [n ** a for n in sizes]
    rs = [w / n for w, n in zip(ws, sizes)]
    order = sorted(range(len(sizes)), key=lambda i: (-rs[i], f"s{i}"))
    W = sum(ws)
    cn, cw, capped = 0, 0.0, set()
    for i in order:
        if round((budget - R * cn) * rs[i], 6) > round(R * (W - cw), 6):
            capped.add(i)
            cn += sizes[i]
            cw += ws[i]
        else:
            break
    for s, n in enumerate(sizes):
        r = got[f"s{s}"]
        assert r.n_tokens == n
        assert r.capped == (s in capped), (s, sizes, budget)
        assert r.epochs <= R + 1e-9
    # allocation identity: if anything is uncapped, the budget is
    # consumed exactly (up to the display rounding of epochs)
    if len(capped) < len(sizes):
        alloc = sum(got[f"s{s}"].epochs * n for s, n in enumerate(sizes))
        assert abs(alloc - budget) <= max(1.0, 0.001 * budget), (sizes, budget)


@settings(max_examples=6, deadline=None)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["spark", "hash", "window", "filler"]),
            min_size=0,
            max_size=8,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
def test_ndcg_bounds_and_idcg_dominance(spark, texts):
    """For ANY corpus: 0 <= nDCG <= 1 (DCG can never beat the ideal
    ordering), IDCG >= DCG, and an all-irrelevant corpus reports NULL
    nDCG with IDCG == 0 instead of raising."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.retrieval import ndcg_at_k

    rows = [(i, " ".join(filter(None, t.split(" "))) or "x") for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = ndcg_at_k(df, ["spark", "hash"], k=5).first()
    assert r.idcg is not None and r.idcg >= 0.0
    if r.idcg == 0.0:
        assert r.ndcg is None
        assert r.dcg in (None, 0.0)
    else:
        assert r.dcg is not None
        assert r.dcg <= r.idcg + 1e-9
        assert 0.0 <= r.ndcg <= 1.0 + 1e-9


# --- exact duplicated-substring spans vs a brute-force reference -------------

_DUP_DOCS = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=120),
    min_size=1,
    max_size=6,
)


def _ref_dup_spans(texts: dict[int, str], L: int) -> dict[int, tuple[int, int]]:
    """Brute-force reference: normalize, collect every L-gram, count
    occurrences globally, mark duplicated positions, merge maximal
    spans; returns {doc_id: (n_spans, dup_chars)}."""
    import re as _re
    from collections import Counter

    norm = {
        i: _re.sub(r"\s+", " ", t.strip().lower())
        for i, t in texts.items()
        if t is not None
    }
    norm = {i: t for i, t in norm.items() if len(t) >= L}
    cnt = Counter(
        t[p : p + L] for t in norm.values() for p in range(len(t) - L + 1)
    )
    out = {}
    for i, t in norm.items():
        dup = [
            p for p in range(len(t) - L + 1) if cnt[t[p : p + L]] >= 2
        ]
        if not dup:
            continue
        spans = []
        s = e = None
        for p in dup:
            if s is None:
                s, e = p, p + L - 1
            elif p <= e + 1:
                e = max(e, p + L - 1)
            else:
                spans.append((s, e))
                s, e = p, p + L - 1
        spans.append((s, e))
        out[i] = (len(spans), sum(b - a + 1 for a, b in spans))
    return out


@settings(max_examples=6, deadline=None)
@given(docs=_DUP_DOCS)
def test_dup_span_stats_matches_bruteforce_reference(spark, docs):
    """dup_span_stats == a character-by-character brute-force Python
    reference on random tiny-alphabet corpora (the 3-letter alphabet
    forces heavy real duplication, exercising merges, within-doc
    repeats, and the >=L length gate). L=6 keeps grams short enough
    that random 120-char docs genuinely collide."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.dedup import dup_span_stats

    texts = {i: t for i, t in enumerate(docs)}
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_spans, r.dup_chars)
        for r in dup_span_stats(df, gram_len=6).collect()
    }
    assert got == _ref_dup_spans(texts, 6)
