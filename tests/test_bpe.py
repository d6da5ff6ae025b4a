"""BPE vocabulary training: hand-derived merge sequence, the driver
merge against Spark's, the argmax tie order, the job budget and
segmentation."""

from __future__ import annotations

import uuid

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.bpe import (
    _apply_merge,
    _merge_word,
    bpe_segment,
    bpe_train,
)


def test_bpe_train_matches_hand_derivation(spark):
    """Corpus 'abab'x3 + 'abc'x2: pair counts are hand-computable —
    ('a b')=8 merges first, then ('ab ab')=3, then ('ab c')=2."""
    df = spark.createDataFrame(
        [("abab abab abab abc abc",)], "text string"
    )
    merges = bpe_train(df, "text", n_merges=3)
    assert merges == [
        (0, "a b", "ab", 8),
        (1, "ab ab", "abab", 3),
        (2, "ab c", "abc", 2),
    ]
    # exhausted vocab: asking for more merges stops at what exists
    assert len(bpe_train(df, "text", n_merges=10)) <= 4


def test_bpe_segment_counts(spark):
    train = spark.createDataFrame([("abab abab abab abc abc",)], "text string")
    merges = bpe_train(train, "text", n_merges=3)
    docs = spark.createDataFrame(
        [(1, "abab abc"), (2, "ba")], "doc_id long, text string"
    )
    out = {r.doc_id: r.bpe_tokens for r in bpe_segment(docs, "text", merges).collect()}
    # doc 1: both words collapse to single learned symbols -> 2 tokens
    assert out[1] == 2
    # doc 2: 'ba' has no learned merge ('b a' never merged) -> 2 chars
    assert out[2] == 2
    # no merges: pure character count (spaces excluded)
    out0 = {r.doc_id: r.bpe_tokens for r in bpe_segment(docs, "text", []).collect()}
    assert out0[1] == 7 and out0[2] == 2


# symbols as training builds them (no spaces), merged ones included,
# with non-ASCII and a supplementary-plane code point
_SYMBOLS = st.sampled_from(["a", "b", "ab", "é", "f", "éf", "𝔸", "ｚ"])
_WORDS = st.lists(
    st.lists(_SYMBOLS, min_size=1, max_size=7).map(" ".join), min_size=1, max_size=6
)


@settings(max_examples=12, deadline=None)
@given(words=_WORDS, l=_SYMBOLS, r=_SYMBOLS)
@example(words=["a b a b a", "a"], l="a", r="b")
@example(words=["é f é f", "ｚ", "𝔸 𝔸 𝔸"], l="𝔸", r="𝔸")
def test_driver_merge_matches_spark(spark, words, l, r):
    """bpe_train merges on the driver (_merge_word); bpe_segment and
    the oracle merge with Spark's _apply_merge semantics. They must
    agree on every symbol string: repeated and overlapping pairs,
    single-symbol words, non-ASCII symbols."""
    pat, merged = f"{l} {r}", l + r
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = [
        row.m
        for row in df.select(_apply_merge(F.col("w"), pat, merged).alias("m")).collect()
    ]
    assert got == [_merge_word(w, pat, merged) for w in words]


def test_bpe_train_tie_takes_smaller_pair_by_code_point(spark):
    """Tied pair counts break on the smaller pair. Code-point order is
    Spark's UTF-8 byte order (and the oracle's), not Java's UTF-16
    order, which puts '𝔸' (a surrogate pair) before 'ｚ' (U+FF5A)."""
    df = spark.createDataFrame([("éf ab 𝔸𝔸 ｚｚ",)], "text string")
    assert bpe_train(df, "text", n_merges=4) == [
        (0, "a b", "ab", 1),
        (1, "é f", "éf", 1),
        (2, "ｚ ｚ", "ｚｚ", 1),
        (3, "𝔸 𝔸", "𝔸𝔸", 1),
    ]
    pairs = spark.createDataFrame([("𝔸 𝔸",), ("ｚ ｚ",)], "p string")
    assert pairs.orderBy("p").first().p == "ｚ ｚ"


def test_bpe_train_job_budget(spark):
    """One distributed word count, collected once: the merge rounds
    run no Spark job and leave no persisted or checkpointed RDD."""
    df = spark.createDataFrame([("abab abab abab abc abc",)], "text string")
    sc = spark.sparkContext
    group = f"test-bpe-{uuid.uuid4().hex}"
    before = sc._jsc.getPersistentRDDs().size()
    sc.setJobGroup(group, group)
    try:
        assert len(bpe_train(df, "text", n_merges=3)) == 3
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 4
    assert sc._jsc.getPersistentRDDs().size() == before
