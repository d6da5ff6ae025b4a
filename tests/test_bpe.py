"""BPE vocabulary training: hand-derived merge sequence + segmentation."""

from __future__ import annotations

from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.bpe import (
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


def test_bpe_train_frees_its_round_checkpoints(spark):
    """Each round's vocab is an engine.materialize checkpoint, which
    DataFrame.unpersist cannot free; bpe_train returns a list, so every
    one of them (the last included) must be dropped before it returns
    instead of waiting for JVM GC in a long-lived session."""
    df = spark.createDataFrame([("abab abab abab abc abc",)], "text string")
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    assert len(bpe_train(df, "text", n_merges=3)) == 3
    assert jsc.getPersistentRDDs().size() <= before
