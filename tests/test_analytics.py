"""Skyline, Bloom pruning, dimension stats, power-iteration PCA, and
change-point detection — each checked against an independent
reference (brute force / numpy), not against its own SQL twin."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.analytics import (
    changepoint_binary_split,
    pareto_front_2d,
)
from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.sketches import (
    bloom_prune_stats,
)
from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.similarity import (
    dim_stats,
    power_iteration_step,
)


def _brute_pareto(points):
    out = []
    for a in points:
        dominated = any(
            (b[0] <= a[0] and b[1] >= a[1]) and (b[0] < a[0] or b[1] > a[1])
            for b in points
        )
        if not dominated:
            out.append(a)
    return sorted(out)


def test_pareto_front_matches_brute_force(spark):
    rng = random.Random(7)
    pts = [(rng.randint(0, 20) * 0.5, rng.randint(0, 15)) for _ in range(300)]
    # plant exact ties on both axes: all four copies must survive or
    # fall together
    pts += [(3.0, 9), (3.0, 9), (3.0, 9), (3.0, 9)]
    df = spark.createDataFrame(pts, ["cost", "gain"])
    got = sorted(
        (r["cost"], r["gain"])
        for r in pareto_front_2d(df, "cost", "gain").collect()
    )
    assert got == _brute_pareto(pts)


def test_pareto_keeps_duplicate_rows_at_front_points(spark):
    df = spark.createDataFrame(
        [(1.0, 5), (1.0, 5), (2.0, 4), (2.0, 6), (3.0, 6)], ["cost", "gain"]
    )
    got = sorted(
        (r["cost"], r["gain"])
        for r in pareto_front_2d(df, "cost", "gain").collect()
    )
    # (1,5) twice (tied duplicates both survive), (2,6) survives,
    # (3,6) dominated by (2,6); (2,4) dominated by (1,5)
    assert got == [(1.0, 5), (1.0, 5), (2.0, 6)]


def test_bloom_prune_no_false_negatives_and_consistent(spark):
    keys = spark.range(0, 120).select((F.col("id") * 3).alias("k"))
    probe = spark.range(0, 800).select((F.col("id") % 500).alias("v"))
    row = bloom_prune_stats(keys, "k", probe, "v", m_bits=2048, k=3).collect()[0]
    assert row["n_keys"] == 120
    assert row["n_probed"] == 500  # distinct probe values
    true_matches = len({i * 3 for i in range(120)} & set(range(500)))
    assert row["n_true_matches"] == true_matches
    # Bloom guarantee: every true match is a candidate
    assert row["n_candidates"] >= row["n_true_matches"]
    assert (
        row["n_false_positives"] == row["n_candidates"] - row["n_true_matches"]
    )
    assert 0 < row["n_set_bits"] <= min(2048, 120 * 3)


def test_bloom_missing_word_counts_as_miss(spark):
    # 1 key -> at most k set bits; nearly every word row is absent from
    # the bloom table, so a dropped-row bug would promote absent words
    # to hits and explode the candidate count
    keys = spark.range(0, 1).select(F.col("id").alias("k"))
    probe = spark.range(0, 2000).select(F.col("id").alias("v"))
    row = bloom_prune_stats(keys, "k", probe, "v", m_bits=8192, k=4).collect()[0]
    assert row["n_true_matches"] == 1
    # with 4 set bits out of 8192, false positives should be rare
    assert row["n_candidates"] <= 5


def test_dim_stats_matches_numpy(spark, sf_dir):
    from bootcamp_stackacademy_datalake_minio_airflow_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    X = np.array(
        [r["embedding"] for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    got = {r["dim"]: r for r in dim_stats(emb).collect()}
    assert set(got) == set(range(X.shape[1]))
    for j in range(X.shape[1]):
        r = got[j]
        assert r["n"] == X.shape[0]
        assert r["mean"] == pytest.approx(X[:, j].mean(), abs=2e-4)
        assert r["var"] == pytest.approx(X[:, j].var(), abs=2e-4)
        assert r["mn"] == pytest.approx(X[:, j].min(), abs=1e-4)
        assert r["mx"] == pytest.approx(X[:, j].max(), abs=1e-4)


def test_power_iteration_step_matches_numpy(spark, sf_dir):
    from bootcamp_stackacademy_datalake_minio_airflow_spark.catalog import load_table
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.similarity import _pi_v0

    emb = load_table(spark, sf_dir, "embeddings")
    X = np.array(
        [r["embedding"] for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    v0 = np.array(_pi_v0(X.shape[1]))
    w = X.T @ (X @ v0)
    w = w / np.linalg.norm(w)
    got = {r["dim"]: r["component"] for r in power_iteration_step(emb, X.shape[1]).collect()}
    for j in range(X.shape[1]):
        assert got[j] == pytest.approx(w[j], abs=2e-4)


def test_changepoint_finds_planted_shift(spark):
    # 48 hourly buckets: rate 2/hour then 10/hour after hour 23
    rows = []
    eid = 0
    for h in range(48):
        n = 2 if h < 24 else 10
        for i in range(n):
            rows.append((eid, f"2024-01-01 {h % 24:02d}:{i:02d}:00", h // 24))
            eid += 1
    df = spark.createDataFrame(rows, ["event_id", "ts_s", "day"]).select(
        "event_id",
        (F.to_timestamp("ts_s") + F.expr("make_interval(0,0,0,day,0,0,0)")).alias(
            "ts"
        ),
        F.lit("a").alias("event_type"),
    )
    out = changepoint_binary_split(df, "event_type").collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_pre"] == 24 and r["n_post"] == 24
    assert r["pre_mean"] == pytest.approx(2.0)
    assert r["post_mean"] == pytest.approx(10.0)
    assert r["delta"] == pytest.approx(8.0)
    # split lands on the last pre-shift hour
    split_hour = (r["split_epoch"] - 1704067200) // 3600
    assert split_hour == 23


def test_changepoint_deterministic_tie_breaks_earlier_hour(spark):
    # symmetric series: mirrored deltas tie; earlier hour must win
    rows = []
    eid = 0
    for h, n in enumerate([1, 5, 5, 1]):
        for i in range(n):
            rows.append((eid, f"2024-01-01 0{h}:{i:02d}:00"))
            eid += 1
    df = spark.createDataFrame(rows, ["event_id", "ts_s"]).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), F.lit("a").alias("event_type")
    )
    r = changepoint_binary_split(df, "event_type").collect()[0]
    # split after h0 (delta = 8/3) ties exactly with split after h2
    # (mirror, identical IEEE expression) -> earlier hour must win
    assert r["n_pre"] == 1
    r2 = changepoint_binary_split(df, "event_type").collect()[0]
    assert r["split_epoch"] == r2["split_epoch"]


def test_linear_trend_matches_numpy(spark):
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.analytics import linear_trend

    rng = random.Random(11)
    pts = [(float(i), 3.5 * i - 20.0 + rng.gauss(0, 5)) for i in range(200)]
    df = spark.createDataFrame(pts, ["x", "y"])
    r = linear_trend(df, "x", "y").collect()[0]
    xs = np.array([p[0] for p in pts])
    ys = np.array([p[1] for p in pts])
    slope, intercept = np.polyfit(xs, ys, 1)
    corr = np.corrcoef(xs, ys)[0, 1]
    assert r["n"] == 200
    assert r["slope"] == pytest.approx(slope, abs=1e-3)
    assert r["intercept"] == pytest.approx(intercept, abs=1e-3)
    assert r["r2"] == pytest.approx(corr * corr, abs=1e-3)


def test_linear_trend_perfect_fit(spark):
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.analytics import linear_trend

    df = spark.createDataFrame(
        [(float(i), 2.0 * i + 1.0) for i in range(50)], ["x", "y"]
    )
    r = linear_trend(df, "x", "y").collect()[0]
    assert r["slope"] == pytest.approx(2.0)
    assert r["intercept"] == pytest.approx(1.0)
    assert r["r2"] == pytest.approx(1.0)


def test_psi_zero_for_identical_and_positive_for_shifted(spark):
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.analytics import (
        population_stability_index,
    )

    # identical length distributions in both cohorts -> PSI ~ 0
    # (bucket index from i//2 so the cohort bit i%2 is independent of it)
    rows = [(i, 100.0 * ((i // 2) % 10) + 50, i % 2 == 0) for i in range(400)]
    df = spark.createDataFrame(rows, ["id", "len", "is_a"])
    out = population_stability_index(df, "len", F.col("is_a")).collect()
    psi = sum(r["contrib"] for r in out)
    assert abs(psi) < 0.01
    # cohort A shifted two buckets up, CAPPED at the top bucket (a
    # cyclic shift of a uniform distribution would still be uniform
    # and correctly read PSI = 0) -> mass piles into buckets 8-9
    rows2 = [
        (
            i,
            100.0 * min((i // 2) % 10 + (2 if i % 2 == 0 else 0), 9) + 50,
            i % 2 == 0,
        )
        for i in range(400)
    ]
    df2 = spark.createDataFrame(rows2, ["id", "len", "is_a"])
    out2 = population_stability_index(df2, "len", F.col("is_a")).collect()
    psi2 = sum(r["contrib"] for r in out2)
    assert psi2 > 0.05


def test_ab_ztest_matches_manual_formula(spark):
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.analytics import ab_test_ztest

    # 40 users in A (12 convert), 40 in B (24 convert); 3 rows/user so
    # the user-level collapse is exercised
    rows = []
    for u in range(80):
        arm = 1 if u < 40 else 0
        converts = (u % 40) < (12 if arm == 1 else 24)
        for k in range(3):
            rows.append((u, arm, "buy" if (converts and k == 0) else "view"))
    df = spark.createDataFrame(rows, ["uid", "arm", "etype"])
    r = ab_test_ztest(
        df, "uid", F.col("etype") == "buy", F.col("arm")
    ).collect()[0]
    assert (r["n_a"], r["conv_a"], r["n_b"], r["conv_b"]) == (40, 12, 40, 24)
    pa, pb, pp = 12 / 40, 24 / 40, 36 / 80
    z = (pa - pb) / math.sqrt(pp * (1 - pp) * (1 / 40 + 1 / 40))
    assert r["z"] == pytest.approx(z, abs=1e-3)


def test_ab_ztest_degenerate_returns_null(spark):
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.analytics import ab_test_ztest

    df = spark.createDataFrame(
        [(u, u % 2, "buy") for u in range(20)], ["uid", "arm", "etype"]
    )
    r = ab_test_ztest(
        df, "uid", F.col("etype") == "buy", F.col("arm")
    ).collect()[0]
    assert r["p_a"] == 1.0 and r["p_b"] == 1.0
    assert r["z"] is None  # no variance -> NULL, not a crash


def test_classification_report_hand_computed(spark):
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.analytics import (
        classification_report,
    )

    # gold: a,a,a,b,b,c  pred: a,b,a,b,b,a
    # a: tp=2, 3 gold, 3 pred; b: tp=2, 2 gold, 3 pred; c: never predicted
    pairs = [
        ("a", "a"),
        ("a", "b"),
        ("a", "a"),
        ("b", "b"),
        ("b", "b"),
        ("c", "a"),
    ]
    df = spark.createDataFrame(pairs, ["gold", "pred"])
    got = {
        r["clazz"]: r
        for r in classification_report(df, "gold", "pred").collect()
    }
    a, b, c = got["a"], got["b"], got["c"]
    assert (a["n_gold"], a["n_pred"], a["tp"]) == (3, 3, 2)
    assert a["precision"] == pytest.approx(2 / 3, abs=1e-4)
    assert a["recall"] == pytest.approx(2 / 3, abs=1e-4)
    assert a["f1"] == pytest.approx(2 / 3, abs=1e-4)
    assert (b["n_gold"], b["n_pred"], b["tp"]) == (2, 3, 2)
    assert b["precision"] == pytest.approx(2 / 3, abs=1e-4)
    assert b["recall"] == pytest.approx(1.0)
    assert b["f1"] == pytest.approx(2 * (2 / 3) * 1.0 / (2 / 3 + 1.0), abs=1e-4)
    # gold-only class: predictor never emits 'c'
    assert (c["n_gold"], c["n_pred"], c["tp"]) == (1, 0, 0)
    assert c["precision"] is None
    assert c["recall"] == 0.0
    assert c["f1"] is None


def test_classification_report_pred_only_class(spark):
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.analytics import (
        classification_report,
    )

    df = spark.createDataFrame(
        [("x", "x"), ("x", "zz")], ["gold", "pred"]
    )
    got = {
        r["clazz"]: r
        for r in classification_report(df, "gold", "pred").collect()
    }
    assert got["zz"]["n_gold"] == 0 and got["zz"]["n_pred"] == 1
    assert got["zz"]["precision"] == 0.0
    assert got["zz"]["recall"] is None and got["zz"]["f1"] is None


def test_key_skew_profile_uniform_vs_hot(spark):
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.analytics import key_skew_profile

    # uniform: 10 keys x 5 rows -> gini 0, top_share 0.1
    uni = spark.createDataFrame(
        [(i % 10,) for i in range(50)], ["k"]
    )
    r = key_skew_profile(uni, "k").collect()[0]
    assert r["n_keys"] == 10 and r["n_rows"] == 50 and r["max_n"] == 5
    assert r["gini"] == pytest.approx(0.0)
    assert r["top_share"] == pytest.approx(0.1)
    assert r["p50_n"] == pytest.approx(5.0)
    # hot key: one key holds 91 of 100 rows
    hot = spark.createDataFrame(
        [(0,)] * 91 + [(i,) for i in range(1, 10)], ["k"]
    )
    r2 = key_skew_profile(hot, "k").collect()[0]
    assert r2["max_n"] == 91 and r2["top_share"] == pytest.approx(0.91)
    # exact gini for [1]*9 + [91]: 2*(45+10*91)/(10*100) - 11/10
    assert r2["gini"] == pytest.approx(2 * (45 + 910) / 1000 - 1.1, abs=1e-4)


def test_linear_trend_degenerate_inputs_return_null(spark):
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.analytics import linear_trend

    # all x equal: no slope; all y equal: r2 undefined but slope 0
    same_x = spark.createDataFrame(
        [(1.0, float(i)) for i in range(5)], ["x", "y"]
    )
    r = linear_trend(same_x, "x", "y").collect()[0]
    assert r["slope"] is None and r["intercept"] is None and r["r2"] is None
    const_y = spark.createDataFrame(
        [(float(i), 7.0) for i in range(5)], ["x", "y"]
    )
    r2 = linear_trend(const_y, "x", "y").collect()[0]
    assert r2["slope"] == pytest.approx(0.0)
    assert r2["intercept"] == pytest.approx(7.0)
    assert r2["r2"] is None


def test_ab_ztest_empty_arm_returns_null_not_crash(spark):
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.analytics import ab_test_ztest

    # every user lands in arm 1: n_b = 0 must give NULL p_b and z
    df = spark.createDataFrame(
        [(u, "buy" if u % 3 == 0 else "view") for u in range(12)],
        ["uid", "etype"],
    )
    r = ab_test_ztest(
        df, "uid", F.col("etype") == "buy", F.lit(1)
    ).collect()[0]
    assert r["n_b"] == 0 and r["p_b"] is None and r["z"] is None
    assert r["p_a"] is not None


def test_key_skew_profile_empty_input_returns_null_stats(spark):
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.analytics import key_skew_profile

    df = spark.createDataFrame([(1,)], ["k"]).filter(F.lit(False))
    r = key_skew_profile(df, "k").collect()[0]
    assert r["n_keys"] == 0 and r["n_rows"] is None
    assert r["gini"] is None and r["top_share"] is None


def test_psi_negative_values_clamp_to_bucket_zero(spark):
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.analytics import (
        psi_bucket_counts,
    )

    df = spark.createDataFrame(
        [(i, float(v), i % 2 == 0) for i, v in enumerate([-500, -1, 0, 50, 950, 2000])],
        ["id", "val", "is_a"],
    )
    rows = psi_bucket_counts(df, "val", F.col("is_a")).collect()
    buckets = {r["bucket"] for r in rows}
    assert min(buckets) == 0 and max(buckets) == 9
    assert len(buckets) <= 10  # the streaming state bound holds


def test_pareto_keeps_null_keyed_rows(spark):
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [StructField("cost", DoubleType()), StructField("gain", LongType())]
    )
    df = spark.createDataFrame(
        [(1.0, 5), (2.0, 3), (None, 4), (3.0, None)], schema
    )
    got = sorted(
        [
            (r["cost"], r["gain"])
            for r in pareto_front_2d(df, "cost", "gain").collect()
        ],
        key=str,
    )
    # (2.0, 3) is dominated by (1.0, 5); NULL-keyed rows are never
    # dominated under the definition and must survive
    assert sorted([(1.0, 5), (None, 4), (3.0, None)], key=str) == got


def test_zipf_and_heaps_fits_on_synthetic_power_law(spark):
    """Semantic pins beyond the hash gate: a corpus drawn from a
    power-law vocabulary must fit Zipf with NEGATIVE slope and good
    r2, and Heaps with slope in (0, 1) (vocabulary grows sublinearly
    in tokens)."""
    import random

    from bootcamp_stackacademy_datalake_minio_airflow_spark.queries import queries

    rng = random.Random(5)
    # Zipfian draw: token w_k with weight 1/(k+1)
    vocab = [f"w{k}" for k in range(300)]
    weights = [1.0 / (k + 1) for k in range(300)]
    docs = [
        (i, " ".join(rng.choices(vocab, weights=weights, k=120)))
        for i in range(60)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    import tempfile, os

    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    qs = queries()
    z = qs["token_zipf_fit"](spark, d).collect()[0]
    assert z.slope is not None and z.slope < -0.5
    assert z.r2 > 0.7
    h = qs["heaps_law_fit"](spark, d).collect()[0]
    assert h.slope is not None and 0.0 < h.slope < 1.0
    assert h.r2 > 0.8
