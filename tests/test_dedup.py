"""Dedup operator semantics on planted duplicates (the rows-only
queries' real verification — xxhash-family ops have no SQL oracle)."""

from __future__ import annotations

import pytest

from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.dedup import (
    _max_disagree,
    dedup_exact,
    dedup_minhash,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)


def test_prefilter_disagree_bound_boundary_exact():
    """The prefilter bound must equal n - ceil(n*(t-m)) — int()
    truncation of n*(1-(t-m)) is one tighter at exactly-integral
    n*(t-m) and drops boundary-true pairs before verification."""
    # the ADVICE.md counterexample: n=100, t-m=0.55 -> 45, not 44
    assert _max_disagree(100, 0.67, 0.12) == 45
    # defaults (n=64, t-m=0.68): unchanged vs the old formula
    assert _max_disagree(64, 0.8, 0.12) == 20
    # sweep: bound always admits every pair with agree >= ceil(n*(t-m))
    for n in (48, 64, 100, 128):
        for tm in (0.5, 0.55, 0.64, 0.68, 0.75):
            import math

            want = n - math.ceil(n * tm - 1e-9)
            assert _max_disagree(n, tm + 0.12, 0.12) == want

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
NEAR = BASE.replace("warm", "cold")  # one-word edit -> near-duplicate
OTHER = (
    "completely different content about distributed query engines and "
    "columnar storage formats with vectorized execution pipelines"
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, BASE),
            (2, BASE),  # exact dup of 1
            (3, NEAR),  # near dup of 1
            (4, OTHER),
            (5, "Short text."),
        ],
        "doc_id long, text string",
    )


def test_dedup_exact_keeps_smallest_id(docs):
    kept = sorted(r.doc_id for r in dedup_exact(docs, ["text"], "doc_id").collect())
    assert kept == [1, 3, 4, 5]  # doc 2 dropped, doc 3 differs by one word


def test_minhash_pairs_find_exact_and_near(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert pairs.get((1, 2)) == 1.0  # exact dup
    assert (1, 3) in pairs and pairs[(1, 3)] >= 0.5  # near dup
    assert all(4 not in p and 5 not in p for p in pairs)  # no false pairs


def test_dedup_minhash_drops_victims(docs):
    kept = sorted(
        r.doc_id for r in dedup_minhash(docs, "doc_id", "text", threshold=0.5).collect()
    )
    assert kept == [1, 4, 5]  # 2 and 3 are victims of 1


def test_simhash_pairs(docs):
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(docs, "doc_id", "text").collect()}
    assert pairs.get((1, 2)) == 0  # identical text -> identical simhash
    assert (1, 3) in pairs and pairs[(1, 3)] <= 3  # near dup within hamming budget
    assert all(4 not in p for p in pairs)


def test_ngram_jaccard_pairs(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    assert pairs.get((1, 2)) == 1.0
    assert (1, 3) in pairs
    assert all(4 not in p and 5 not in p for p in pairs)


def test_ngram_containment_quote_inclusion(spark):
    """The case Jaccard misses: a short paragraph quoted verbatim
    inside a much larger page has containment ~1 (small in big) but
    Jaccard << threshold. Also pins asymmetry: the big page is NOT
    contained in the quote."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog again and again"
    page = (
        "completely unrelated preamble about storage engines and query "
        "planners with many extra words padding the page " + quote + " "
        "followed by a long trailing discussion of vectorized execution "
        "and columnar formats that dominates the union of the gram sets"
    )
    docs = spark.createDataFrame(
        [(1, quote), (2, page), (3, OTHER)], "doc_id long, text string"
    )
    pairs = {
        (r.id_a, r.id_b): r.containment
        for r in ngram_containment_pairs(docs, "doc_id", "text", n=3, threshold=0.8).collect()
    }
    assert pairs.get((1, 2)) == 1.0  # quote fully inside page
    assert (2, 1) not in pairs  # asymmetric: page not inside quote
    assert all(3 not in p for p in pairs)
    jacc = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8).collect()
    }
    assert (1, 2) not in jacc  # Jaccard blind to the inclusion


def test_ngram_containment_prefix_filter_lossless(spark):
    """Brute-force oracle on a random corpus: the prefix-filter +
    size-cut candidate generation must emit EXACTLY the pairs the
    all-pairs definition does (losslessness is the operator's whole
    claim)."""
    import itertools
    import random

    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    rows = []
    for i in range(30):
        L = rng.randint(3, 14)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(L))))
    # plant two containments: 30 inside 31, 32 == 33
    rows.append((30, rows[0][1]))
    rows.append((31, rows[1][1] + " " + rows[0][1] + " " + rows[2][1]))
    rows.append((32, rows[3][1]))
    rows.append((33, rows[3][1]))
    t, n = 0.8, 3

    def grams(text):
        toks = text.split()
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    expected = set()
    gsets = {i: grams(txt) for i, txt in rows}
    for a, b in itertools.permutations(gsets, 2):
        c = round(len(gsets[a] & gsets[b]) / len(gsets[a]), 4)
        if c >= t:
            expected.add((a, b, c))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.containment)
        for r in ngram_containment_pairs(docs, "doc_id", "text", n=n, threshold=t).collect()
    }
    assert got == expected


def test_winnowing_local_similarity(spark, docs):
    """Winnowing guarantee: docs sharing a long substring share
    fingerprints; disjoint docs share ~none."""
    from pyspark.sql import functions as F

    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.text import (
        winnow_table,
    )

    fp = {r.doc_id: set(r.fingerprints) for r in winnow_table(spark.createDataFrame(
        [(1, BASE), (2, BASE), (3, NEAR), (4, OTHER)], "doc_id long, text string"
    ), "doc_id", "text").collect()}
    assert fp[1] == fp[2]  # identical text -> identical fingerprint set
    overlap_near = len(fp[1] & fp[3]) / len(fp[1] | fp[3])
    overlap_other = len(fp[1] & fp[4]) / len(fp[1] | fp[4])
    assert overlap_near > 0.6  # one-word edit keeps most local windows
    assert overlap_other < 0.1


def test_connected_components_chain(spark):
    """A-B-C chain + isolated D-E pair: two components, min-id labels."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    comp = {r.node: r.component for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_cross_doc_ngram_stats_planted_passage(spark):
    """A passage copied between two otherwise-distinct docs must be
    flagged in both (and only there); a fully-unique doc scores 0."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.dedup import (
        cross_doc_ngram_stats,
    )

    passage = " ".join(f"shared{i}" for i in range(6))  # 6 words -> 3 grams at n=4
    uniq_a = " ".join(f"alpha{i}" for i in range(8))
    uniq_b = " ".join(f"beta{i}" for i in range(8))
    uniq_c = " ".join(f"gamma{i}" for i in range(12))
    df = spark.createDataFrame(
        [
            (1, f"{uniq_a} {passage}"),
            (2, f"{passage} {uniq_b}"),
            (3, uniq_c),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in cross_doc_ngram_stats(df, n=4).collect()}
    # doc 1: 14 words -> 11 grams, grams fully inside the passage are
    # positions 9..11 (1-based gram starts inside `passage` only) ->
    # exactly the 3 grams made of shared words alone are shared
    assert out[3].n_shared == 0 and out[3].shared_ratio == 0.0
    assert out[1].n_shared == 3 and out[2].n_shared == 3
    assert out[1].n_grams == 11 and out[2].n_grams == 11
    assert abs(out[1].shared_ratio - round(3 / 11, 4)) < 1e-9


def test_cross_doc_ngram_stats_planted_skew_equals_window_form(spark):
    """Adversarial hot-gram fixture (VERDICT r6 ask #2): one boilerplate
    passage planted in 50% of docs — the exact shape that makes a
    count-over-gram-partition window unsplittable at scale. The
    shipped min-owner aggregate form must agree row-for-row with the
    naive window form on it (including a NULL doc id, which an
    equi-join would drop), and every per-doc count must match the
    hand-derived expectation."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from bootcamp_stackacademy_datalake_minio_airflow_spark.engine import normalize_text
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.dedup import (
        cross_doc_ngram_stats,
    )

    boiler = " ".join(f"hot{i}" for i in range(9))  # 9 words -> 6 grams at n=4
    rows = []
    for d in range(40):
        uniq = " ".join(f"u{d}w{i}" for i in range(7))  # 7 words -> 4 grams
        text = f"{boiler} {uniq}" if d % 2 == 0 else uniq
        rows.append((d, text))
    rows.append((None, f"{boiler} null-doc only words here"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {r.doc_id: r for r in cross_doc_ngram_stats(df, n=4).collect()}

    # naive window form (r5's implementation) as the semantics oracle
    n = 4
    norm = df.filter(F.col("text").isNotNull()).select(
        F.col("doc_id").alias("__id"),
        F.split(normalize_text("text"), " ").alias("__w"),
    )
    g = (
        norm.select(
            "__id",
            "__w",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.size("__w") - F.lit(n - 1), F.lit(1)))
            ).alias("__i"),
        )
        .select(
            "__id",
            F.md5(F.array_join(F.slice(F.col("__w"), F.col("__i"), n), " ")).alias("__g"),
        )
        .distinct()
    )
    win = {
        r["__id"]: r
        for r in g.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("__g"))
        )
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("__df") > 1).cast("long")).alias("n_shared"),
        )
        .collect()
    }
    assert set(got) == set(win)
    for k in got:
        assert (got[k].n_grams, got[k].n_shared) == (win[k].n_grams, win[k].n_shared), k
    # hand-derived spot checks: an even doc has 6 boiler grams + 4 uniq
    # grams + 3 straddling grams = 13; only the 6 pure-boiler grams are
    # cross-doc shared. Odd docs are fully unique.
    assert (got[0].n_grams, got[0].n_shared) == (13, 6)
    assert (got[1].n_grams, got[1].n_shared) == (4, 0)
    assert got[None].n_shared == 6  # NULL id survives the doc-level join


def test_source_copy_matrix_planted_overlaps(spark):
    """The sf0.01 gate lake happens to have ZERO cross-source exact
    dups (the registered query hash-matches on an empty result), so
    the pair semantics are pinned here on planted structure: a
    fingerprint in 3 sources yields all 3 unordered pairs, a 2-source
    fingerprint 1 pair, and same-source duplicates yield NONE."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.dedup import source_copy_matrix

    rows = [
        (1, "Shared  Everywhere", "s1"),
        (2, "shared everywhere", "s2"),
        (3, "SHARED EVERYWHERE", "s3"),   # fp X in s1, s2, s3
        (4, "pairwise only", "s1"),
        (5, "Pairwise Only", "s2"),       # fp Y in s1, s2
        (6, "intra dup", "s1"),
        (7, "intra dup", "s1"),           # fp Z twice in s1 -> no pair
        (8, None, "s2"),                  # NULL text excluded
        (9, "orphan", None),              # NULL source excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (r.source_a, r.source_b): r.n_shared
        for r in source_copy_matrix(df).collect()
    }
    assert got == {("s1", "s2"): 2, ("s1", "s3"): 1, ("s2", "s3"): 1}


def test_canonical_docs_picks_best_quality_per_group(spark):
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.dedup import canonical_docs
    from pyspark.sql import functions as F

    # two dup groups (whitespace/case variants normalize together) and
    # one singleton; quality proxy = doc length so the winner is known
    good = "the " * 30  # long + stopwords -> high quality
    rows = [
        (1, good + "alpha"),
        (2, ("the " * 30 + "ALPHA  ")),  # same normalized text, same quality
        (3, "beta"),
        (4, "beta"),
        (5, "unique doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = canonical_docs(df, F.length("text").cast("double")).collect()
    by_id = {r["id"]: r for r in out}
    # group {1,2}: same normalized fp; quality = raw length -> doc 2's
    # trailing spaces make it longer, so 2 wins
    assert set(by_id) == {2, 3, 5}
    assert by_id[2]["n_dups"] == 2
    assert by_id[3]["n_dups"] == 2  # beta group, tie -> lowest id
    assert by_id[5]["n_dups"] == 1


def test_cdc_chunks_survive_prefix_insertion(spark):
    """The CDC property fixed-stride chunking lacks: after inserting
    tokens at the FRONT of a shared passage, the later chunks still
    hash identically, so the shared tail is detected as duplicated.
    Also pins: a unique doc has dup_ratio 0, identical docs 1.0."""
    import random

    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.dedup import cdc_chunk_stats

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(50)]
    shared = " ".join(rng.choice(vocab) for _ in range(400))
    docs = spark.createDataFrame(
        [
            (1, shared),
            (2, "zz yy xx qq pp " + shared),  # prefix-shifted copy
            (3, " ".join(rng.choice(vocab) for _ in range(150))),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in cdc_chunk_stats(docs).collect()}
    # most of doc 1/2's chunks match despite the 5-token prefix shift
    assert out[1].dup_ratio >= 0.8
    assert out[2].n_dup_chunks >= out[1].n_dup_chunks - 2
    assert out[3].n_dup_chunks == 0 and out[3].dup_ratio == 0.0
    # identical docs: every chunk duplicated
    twins = spark.createDataFrame(
        [(1, shared), (2, shared)], "doc_id long, text string"
    )
    t = {r.doc_id: r for r in cdc_chunk_stats(twins).collect()}
    assert t[1].dup_ratio == 1.0 and t[2].dup_ratio == 1.0
    assert t[1].n_chunks == t[2].n_chunks


def test_prefix_budget_integer_arithmetic_boundary(spark):
    """The review-confirmed float bug: with threshold 0.8 and a
    5-gram document, floor((1.0-0.8)*5) evaluates to 0 in IEEE and
    under-sizes the prefix index, silently dropping the exact-
    boundary containment pair (1,2,0.8). The integerized budget must
    emit BOTH directions."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "b c d e f g")], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): r.containment
        for r in ngram_containment_pairs(docs, "doc_id", "text", n=3, threshold=0.8).collect()
    }
    assert got == {(1, 2): 0.8, (2, 1): 1.0}
    # jaccard twin at an exact-boundary threshold: J(1,2) = 4/5 = 0.8
    jp = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8).collect()
    }
    assert jp == {(1, 2): 0.8}


def test_interval_overlap_join_rejects_reserved_columns(spark):
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.temporal import (
        interval_overlap_join,
    )

    left = spark.createDataFrame([(1, 0, 10, 5)], "lid long, l_start long, l_end long, overlap long")
    right = spark.createDataFrame([(2, 5, 15)], "rid long, r_start long, r_end long")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="reserves column"):
        interval_overlap_join(left, right)


def test_prefix_budget_matches_exact_rational_sweep(spark):
    """The integerized prefix budget |A| - ceil(t|A|) + 1 must equal
    exact rational arithmetic for every size x threshold combination
    (the float expression failed at every (1-t)*sz that was an exact
    integer). Evaluated through the same Spark expressions the
    operators use."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.dedup import (
        _int_div,
        _threshold_10k,
    )

    sizes = spark.range(1, 201).select(F.col("id").cast("int").alias("sz"))
    for t in (0.5, 0.6, 0.7, 0.75, 0.8, 0.85, 0.9, 0.95, 0.3333, 0.6667):
        T = _threshold_10k(t)
        budget = _int_div(F.col("sz") * (10000 - T), 10000) + F.lit(1)
        got = {r.sz: r.b for r in sizes.select("sz", budget.alias("b")).collect()}
        frac = Fraction(T, 10000)
        for sz in range(1, 201):
            exact = sz - (-(-frac.numerator * sz // frac.denominator)) + 1
            assert got[sz] == exact, (t, sz, got[sz], exact)


def test_dup_span_stats_recovers_planted_spans_exactly(spark):
    """Lee et al. 2022 span semantics, hand-checkable: a 120-char
    passage shared by two docs (distinct contexts) must surface in
    BOTH as exactly one span of exactly 120 chars; a doc repeating
    its own 60-char string twice is self-duplicated at both sites;
    a unique doc must not appear at all."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.dedup import dup_span_stats

    shared = ("the quick brown fox jumps over the lazy dog while counting "
              "tokens and spans in a deduplication test corpus padded now"
              ).ljust(120, "q")
    assert len(shared) == 120
    rep = "self repeated block of exactly sixty characters for the test!"
    rep = rep[:60].ljust(60, "z")
    # adjacency matters: the maximal span extends through any
    # IDENTICAL character flanking the planted block (including a
    # shared separator space), so every flank char is chosen distinct
    # per occurrence — the expected span is then exactly the plant
    rows = [
        (1, "junkline" + shared + "omegatail"),
        (2, "differentopen" + shared + "endnote"),
        (3, "standalone" + rep + "xfillerwords" + rep + "yfinished"),
        (4, "entirely unique document with no repeated forty char grams "
            "anywhere inside it at all, every substring occurs once only"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dup_span_stats(df, gram_len=40).collect()}

    assert set(out) == {1, 2, 3}
    # docs 1 and 2: one maximal span covering exactly the shared 120
    # chars (contexts differ, so duplication cannot extend past it)
    for d in (1, 2):
        assert out[d].n_spans == 1
        assert out[d].dup_chars == 120
    # doc 3: the 60-char block at two sites; each occurrence is fully
    # duplicated (its grams match the other site), two merged spans
    assert out[3].n_spans == 2
    assert out[3].dup_chars == 120
    # fraction bounded and consistent
    for r in out.values():
        assert 0 < r.dup_fraction <= 1.0
