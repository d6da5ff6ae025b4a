"""Similarity search: brute-force correctness + LSH recall."""

from __future__ import annotations

import math

import pytest

from bootcamp_stackacademy_datalake_minio_airflow_spark.catalog import load_table
from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.similarity import (
    ann_topk_lsh,
    cosine_all_pairs_blocked,
    cosine_all_pairs_matmul,
    cosine_topk,
)
from bootcamp_stackacademy_datalake_minio_airflow_spark.suites.extensions import QUERY_VEC


def _py_cosine(a, b):
    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return d / (na * nb)


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
        (5, [0.7, 0.7, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_matches_python(vecs):
    got = cosine_topk(vecs, [1.0, 0.0, 0.0], k=3).collect()
    assert [r.vec_id for r in got] == [1, 2, 5]
    expected = round(_py_cosine([0.9, 0.1, 0.0], [1.0, 0.0, 0.0]), 4)
    assert abs(got[1].cos_sim - expected) < 1e-9


def test_all_pairs_blocked_equals_matmul(spark, sf_dir):
    """The distributed blocked matmul (no driver collect) must emit the
    exact same pair set and scores as the broadcast matmul baseline,
    for several block counts including B > distinct-blocks-with-data."""
    emb = load_table(spark, sf_dir, "embeddings")
    want = {
        (r.id_a, r.id_b): r.cos_sim
        for r in cosine_all_pairs_matmul(emb, threshold=0.35).collect()
    }
    assert want, "baseline produced no pairs — threshold too high for fixture"
    for n_blocks in (1, 3, 8):
        got = {
            (r.id_a, r.id_b): r.cos_sim
            for r in cosine_all_pairs_blocked(
                emb, threshold=0.35, n_blocks=n_blocks
            ).collect()
        }
        assert got == want, f"n_blocks={n_blocks}: {len(got)} vs {len(want)} pairs"


def test_ivf_recall_on_planted_neighbors(spark, sf_dir):
    """IVF probe must recall planted near-duplicates of the query: the
    plants cluster with the query vector, so the nearest lists contain
    them even with n_probe << n_lists."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.similarity import ivf_build, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = [float(v) for v in emb.filter("vec_id = 0").first().embedding]
    planted = [
        (20_000 + i, [v * (1.0 + 0.01 * ((i + j) % 3)) for j, v in enumerate(q)])
        for i in range(5)
    ]
    corpus = emb.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(planted, "vec_id long, embedding array<float>")
    )
    exact = {r.vec_id for r in cosine_topk(corpus, q, k=6).collect()}
    assigned, centroids = ivf_build(corpus, n_lists=8)
    approx = {
        r.vec_id for r in ivf_topk(assigned, centroids, q, k=6, n_probe=3).collect()
    }
    recall = len(exact & approx) / 6
    assert recall >= 0.8, f"IVF recall {recall}; exact={exact} approx={approx}"


def test_ivf_seeded_full_probe_is_exact(spark, sf_dir):
    """Probing EVERY list makes the seeded IVF scan the whole corpus,
    so its top-k must equal the exact top-k and recall must be 1.0 —
    an absolute assertion the hash gate's parity check can't make."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.similarity import (
        ivf_seeded_recall,
        ivf_topk_seeded,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    exact = [r.vec_id for r in cosine_topk(emb, QUERY_VEC, k=10).collect()]
    full = [
        r.vec_id
        for r in ivf_topk_seeded(
            emb, QUERY_VEC, k=10, n_lists=8, n_probe=8
        ).collect()
    ]
    assert full == exact
    r = ivf_seeded_recall(emb, QUERY_VEC, k=10, n_lists=8, n_probe=8).first()
    assert (r.k, r.n_probe, r.recall) == (10, 8, 1.0)
    # pruned probe: recall is a true fraction of k, never above 1
    pruned = ivf_seeded_recall(emb, QUERY_VEC, k=10, n_lists=8, n_probe=3).first()
    assert 0.0 <= pruned.recall <= 1.0


def test_ivf_index_build_once(spark, sf_dir):
    """Second ivf_index call with the same key returns the cached
    index (no retrain) and the probe still answers."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.similarity import ivf_index, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    a1, c1 = ivf_index(emb, cache_key=("test", sf_dir), n_lists=8)
    a2, c2 = ivf_index(emb, cache_key=("test", sf_dir), n_lists=8)
    assert a1 is a2 and c1 is c2
    got = ivf_topk(a2, c2, QUERY_VEC, k=5, n_probe=3).collect()
    assert len(got) == 5


def test_ann_lsh_recall_on_planted_neighbors(spark, sf_dir):
    """The testdata embeddings are ~random (best non-self cosine ≈0.33),
    where no ANN scheme can beat chance — LSH's guarantee is for
    genuinely-near vectors. Plant high-cosine neighbors of the query
    and require LSH to recall those."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = [float(v) for v in emb.filter("vec_id = 0").first().embedding]
    planted = [
        (10_000 + i, [v * (1.0 + 0.01 * ((i + j) % 3)) for j, v in enumerate(q)])
        for i in range(5)
    ]
    corpus = emb.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(planted, "vec_id long, embedding array<float>")
    )
    exact = [r.vec_id for r in cosine_topk(corpus, q, k=6).collect()]
    assert set(exact) == {0, 10_000, 10_001, 10_002, 10_003, 10_004}

    approx = [
        r.vec_id
        for r in ann_topk_lsh(corpus, q, k=6, n_planes=8, multiprobe=1).collect()
    ]
    recall = len(set(exact) & set(approx)) / 6
    assert recall >= 0.8, f"LSH recall {recall}; exact={exact} approx={approx}"


def test_centroid_classify_separable_clusters(spark):
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.similarity import centroid_classify

    # three tight, well-separated clusters -> classifier must recover
    # every label from the vectors alone
    import random

    rng = random.Random(3)
    centers = {0: [0.0, 0.0, 10.0], 1: [10.0, 0.0, 0.0], 2: [0.0, 10.0, 0.0]}
    rows = []
    for i in range(300):
        lbl = i % 3
        rows.append(
            (i, [c + rng.uniform(-0.5, 0.5) for c in centers[lbl]], lbl)
        )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = centroid_classify(df)
    assert out.filter(F.col("predicted") != F.col("label")).count() == 0
    assert out.count() == 300


def test_embedding_classifier_train_and_score(spark):
    """LR must perfectly separate tight clusters and agree with the
    labels it trained on; scoring emits one row per input with a
    confident winning class."""
    import random

    from pyspark.sql import functions as F

    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.classifier import (
        score_embeddings,
        train_embedding_classifier,
    )

    rng = random.Random(11)
    centers = {0: [0.0, 0.0, 8.0], 1: [8.0, 0.0, 0.0], 2: [0.0, 8.0, 0.0]}
    rows = [
        (i, [c + rng.uniform(-0.5, 0.5) for c in centers[i % 3]], i % 3)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    model = train_embedding_classifier(df)
    out = score_embeddings(model, df)
    assert out.count() == 300
    joined = out.join(df.select("vec_id", "label"), "vec_id")
    assert joined.filter(F.col("predicted") != F.col("label")).count() == 0
    assert out.agg(F.min("confidence")).collect()[0][0] > 0.9


def test_pq_degenerates_to_exact_when_every_vector_is_a_seed(spark, sf_dir):
    """With ks == corpus size every vector is its own seed: each
    subspace assignment has distance 0 to the vector's own sub-codes,
    so ADC reconstructs the true (per-subspace-rounded) squared L2 and
    the PQ top-k equals the exact top-k."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.similarity import (
        l2_topk,
        pq_topk_seeded,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(40).cache()
    n = emb.count()
    pq = pq_topk_seeded(emb, QUERY_VEC, k=10, m=4, ks=n).collect()
    exact = l2_topk(emb, QUERY_VEC, k=10).collect()
    assert [r.vec_id for r in pq] == [r.vec_id for r in exact]
    for p, e in zip(pq, exact):
        # ADC sums four per-subspace roundings vs one whole-vector
        # rounding -> equal within 4 half-ulps of the 4th decimal
        assert abs(p.approx_l2 - e.l2_sq) <= 2e-4
    emb.unpersist()


def test_pq_codes_in_range_and_deterministic(spark, sf_dir):
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.similarity import (
        pq_encode_seeded,
        pq_seeded_recall,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    enc, books = pq_encode_seeded(emb, m=4, ks=8)
    assert len(books) == 4 and len(books[0]) == 8 and len(books[0][0]) == 16
    stats = enc.selectExpr(
        "count(*) AS n",
        *[f"min(__c{j}) AS lo{j}" for j in range(4)],
        *[f"max(__c{j}) AS hi{j}" for j in range(4)],
    ).collect()[0]
    assert stats.n == emb.count()
    for j in range(4):
        assert 0 <= stats[f"lo{j}"] and stats[f"hi{j}"] <= 7
    r1 = pq_seeded_recall(emb, QUERY_VEC, k=10, m=4, ks=8).collect()[0]
    r2 = pq_seeded_recall(emb, QUERY_VEC, k=10, m=4, ks=8).collect()[0]
    assert r1 == r2
    assert 0.0 <= r1.recall <= 1.0


def test_cosine_zero_norm_vector_does_not_crash(spark):
    """ANSI mode turns an unguarded norm division into a TASK FAILURE:
    one zeroed/failed embedding row would kill the whole job. cosine()
    must yield NULL for zero-norm inputs (sorting last in DESC
    rankings) and the seeded-IVF assignment must not raise."""
    from pyspark.sql import functions as F

    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.similarity import (
        cosine,
        cosine_topk,
        ivf_seeded_recall,
    )

    rows = [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.0, 0.0])] + [
        (10 + i, [float(i + 1), 1.0]) for i in range(8)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    scored = df.select(
        "vec_id", cosine(F.col("embedding"), F.array(F.lit(1.0), F.lit(0.0))).alias("c")
    ).collect()
    by_id = {r.vec_id: r.c for r in scored}
    assert by_id[3] is None  # zero-norm -> NULL, not a crash
    assert by_id[1] == 1.0
    top = cosine_topk(df, [1.0, 0.0], k=20).collect()
    assert [r.vec_id for r in top][-1] == 3  # NULL ranks last
    # seeded IVF end-to-end with the zero vector present
    rec = ivf_seeded_recall(df, [1.0, 0.0], k=3, n_lists=4, n_probe=2).collect()
    assert len(rec) == 1 and rec[0].recall is not None


def test_all_pairs_paths_skip_null_embeddings(spark):
    """A NULL embedding row (failed embedding job) must not crash the
    numpy-backed pair paths — it is excluded, and both paths agree."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.similarity import (
        cosine_all_pairs_blocked,
        cosine_all_pairs_matmul,
    )

    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, None), (4, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted((r.id_a, r.id_b) for r in cosine_all_pairs_blocked(df, 0.5).collect())
    b = sorted((r.id_a, r.id_b) for r in cosine_all_pairs_matmul(df, 0.5).collect())
    assert a == b == [(1, 2)]
