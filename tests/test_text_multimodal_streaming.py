"""Text-analysis functions, multimodal plumbing, streaming windows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bootcamp_stackacademy_datalake_minio_airflow_spark.catalog import load_table
from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.multimodal import (
    FEATURE_DIM,
    extract_features,
)
from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.text import (
    fingerprint,
    language_id,
    quality_score,
    token_count,
)
from bootcamp_stackacademy_datalake_minio_airflow_spark.streaming.windows import (
    events_stream_tumbling,
    tumbling_counts,
)


def test_token_count_edges(spark):
    df = spark.createDataFrame(
        [("a b  c",), ("",), ("   ",), ("one",)], "t string"
    )
    got = [r.n for r in df.select(token_count("t").alias("n")).collect()]
    assert got == [3, 0, 0, 1]


def test_language_id_deterministic(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog is in a house",),  # en
            ("der hund und die katze ist ein tier",),  # de
            ("xyzzy qwerty",),  # unknown
        ],
        "t string",
    )
    got = [r.lang for r in df.select(language_id("t").alias("lang")).collect()]
    assert got == ["en", "de", "unknown"]


def test_quality_score_bounds(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    mm = docs.select(
        F.min(quality_score("text")).alias("lo"), F.max(quality_score("text")).alias("hi")
    ).first()
    assert 0.0 <= mm.lo <= mm.hi <= 1.0


def test_unigram_cross_entropy_hand_computed(spark):
    """Hand-derived corpus: tf(a)=2, tf(b)=2, tf(c)=1, N=5.
    d1 = 'a a b' -> -(3*log2(2/5))/3 = 1.3219 bits/token;
    d2 = 'b c'  -> -(log2(2/5)+log2(1/5))/2 = 1.8219.
    Blank and NULL docs are excluded rows, not zero rows."""
    import math

    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.text import unigram_cross_entropy

    df = spark.createDataFrame(
        [(1, "A  a b"), (2, "b c"), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in unigram_cross_entropy(df).collect()}
    assert set(got) == {1, 2}
    assert (got[1].n_tokens, got[1].cross_entropy) == (3, 1.3219)
    assert (got[2].n_tokens, got[2].cross_entropy) == (2, 1.8219)
    # single-token corpus: p=1 -> exactly 0.0, and POSITIVE zero (the
    # negated sum lands on -0.0 without the +0.0 normalization)
    one = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    v = unigram_cross_entropy(one).first().cross_entropy
    assert v == 0.0 and math.copysign(1.0, v) > 0


def test_bigram_cross_entropy_hand_computed(spark):
    """Corpus: d1='a b c', d2='a b b' -> cb(a,b)=2, cb(b,c)=1,
    cb(b,b)=1; contexts a=2, b=2. Both docs: -(0 + log2(1/2))/2 = 0.5.
    A one-token doc has no bigrams and NO row. A corpus where every
    bigram has p=1 lands on POSITIVE zero (the +0.0 normalization)."""
    import math

    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.text import bigram_cross_entropy

    df = spark.createDataFrame(
        [(1, "A b  c"), (2, "a b b"), (3, "x"), (4, None)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in bigram_cross_entropy(df).collect()}
    assert set(got) == {1, 2}
    assert (got[1].n_bigrams, got[1].cross_entropy) == (2, 0.5)
    assert (got[2].n_bigrams, got[2].cross_entropy) == (2, 0.5)
    one = spark.createDataFrame([(1, "x y")], "doc_id long, text string")
    v = bigram_cross_entropy(one).first().cross_entropy
    assert v == 0.0 and math.copysign(1.0, v) > 0


def test_fingerprint_normalization_invariance(spark):
    df = spark.createDataFrame([("Hello  World",), ("hello world",)], "t string")
    fps = [r.fp for r in df.select(fingerprint("t").alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_multimodal_feature_extraction(spark):
    assets = spark.createDataFrame(
        [(1, "image", bytearray(b"\x01\x02\x03\x04"), None), (2, "image", None, None)],
        "asset_id long, kind string, data binary, meta string",
    ).drop("meta")
    got = {r.asset_id: r for r in extract_features(assets).collect()}
    assert got[1].n_bytes == 4
    assert len(got[1].features) == FEATURE_DIM
    assert abs(sum(got[1].features) - 1.0) < 1e-3  # normalized histogram
    assert got[2].n_bytes == 0 and got[2].features == [0.0] * FEATURE_DIM


def test_multimodal_strict_raises(spark):
    assets = spark.createDataFrame(
        [(1, "image", bytearray(b"xx"))], "asset_id long, kind string, data binary"
    )
    with pytest.raises(Exception, match="NotImplementedError|media decoding"):
        extract_features(assets, strict=True).collect()


def test_streaming_tumbling_matches_batch(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    batch = tumbling_counts(events, "1 hour")

    # stream the same data from a parquet dir (micro-batched file source)
    src = str(tmp_path / "events_src")
    # time-ranged files: the file source reads them in path order, so
    # triggers see time-ordered data (like a real log) and the
    # watermark never retroactively drops a window's events
    events.repartitionByRange(8, "ts").sortWithinPartitions("ts").write.parquet(src)
    q = events_stream_tumbling(
        spark,
        src,
        window="1 hour",
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_table="t_events_windowed",
        max_files_per_trigger=2,
        output_mode="append",
    )
    q.awaitTermination(120)
    streamed = spark.table("t_events_windowed")
    # append mode: each emitted window appears EXACTLY ONCE and agrees
    # with the batch aggregation; windows the watermark never passed
    # before the source drained stay open (unemitted), so streamed is
    # a subset — but across multiple triggers a real prefix must have
    # closed and emitted.
    b = {(r.window_start, r.event_type): tuple(r) for r in batch.collect()}
    s_rows = streamed.collect()
    keys = [(r.window_start, r.event_type) for r in s_rows]
    assert len(keys) == len(set(keys)), "append sink must not duplicate windows"
    assert len(s_rows) > 0, "multi-trigger run must close some windows"
    for r in s_rows:
        assert tuple(r) == b[(r.window_start, r.event_type)]


def test_streaming_tumbling_update_mode_is_complete(spark, sf_dir, tmp_path):
    """Default (update) mode: a drain-and-stop run must emit EVERY
    window — including ones the watermark never passed — with the
    latest revision per key matching the batch aggregation."""
    events = load_table(spark, sf_dir, "events")
    batch = tumbling_counts(events, "1 hour")
    src = str(tmp_path / "events_src_u")
    events.repartitionByRange(8, "ts").sortWithinPartitions("ts").write.parquet(src)
    q = events_stream_tumbling(
        spark,
        src,
        window="1 hour",
        checkpoint_dir=str(tmp_path / "ckpt_u"),
        output_table="t_events_windowed_u",
        max_files_per_trigger=2,
    )
    q.awaitTermination(120)
    s_rows = spark.table("t_events_windowed_u").collect()
    # the memory sink appends each trigger's revisions; collect() row
    # order is an implementation detail, so identify the final
    # revision per key by max n_events — update mode only re-emits a
    # key when new events landed in it, so each successive revision
    # has a strictly larger count
    latest = {}
    for r in s_rows:
        k = (r.window_start, r.event_type)
        if k not in latest or r.n_events > latest[k].n_events:
            latest[k] = r
    latest = {k: tuple(r) for k, r in latest.items()}
    b = {(r.window_start, r.event_type): tuple(r) for r in batch.collect()}
    assert set(latest) == set(b), "update mode must cover every window"
    assert latest == b


def test_stateful_sessionization_stream(spark, tmp_path):
    """Closed sessions emitted by the stateful streaming operator must
    match the batch gaps-and-islands sessionization (for sessions the
    watermark has closed)."""
    import datetime

    from bootcamp_stackacademy_datalake_minio_airflow_spark.streaming.sessions import (
        sessionize_stream,
    )

    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    rows = [
        # user 1: two sessions separated by a 40-min gap
        (1, ts(0)), (1, ts(10)), (1, ts(20)),
        (1, ts(60)), (1, ts(65)),
        # user 2: one session
        (2, ts(5)), (2, ts(15)),
        # user 3 far in the future: advances watermark past users 1-2
        (3, ts(60 * 24)),
    ]
    src = str(tmp_path / "sess_src")
    events = spark.createDataFrame(rows, "user_id long, ts timestamp")
    events.write.parquet(src)

    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    q = (
        sessionize_stream(stream, watermark="1 minute")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_sessions")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start.minute, r.session_end.minute, r.n_events)
        for r in spark.table("t_sessions").collect()
    }
    # sessions closed by the watermark: user1 session A (0-20, 3 events),
    # user1 session B (60-65, 2), user2 (5-15, 2)
    assert (1, 0, 20, 3) in got
    assert (1, 0, 5, 2) in got  # 60->0, 65->5 (minute-of-hour)
    assert (2, 5, 15, 2) in got


def test_streaming_bronze_to_silver_ingest(spark, tmp_path):
    """File-source streaming ingest: bronze CSVs land in silver as
    typed parquet; a second trigger picks up only NEW files
    (checkpointed, exactly-once)."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.streaming.ingest import (
        stream_bronze_to_silver,
    )

    bronze = tmp_path / "bronze" / "olist" / "order_payments"
    bronze.mkdir(parents=True)
    silver = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    header = "order_id,payment_sequential,payment_type,payment_installments,payment_value\n"
    (bronze / "a.csv").write_text(header + "o1,1,credit_card,1,10.5\n")

    q = stream_bronze_to_silver(
        spark, "order_payments", ckpt, bronze_path=str(bronze), silver_path=silver
    )
    q.awaitTermination(120)
    first = spark.read.parquet(silver)
    assert first.count() == 1
    assert dict(first.dtypes)["payment_value"] == "double"  # typed at ingest

    # new file arrives; resumed stream ingests ONLY the delta
    (bronze / "b.csv").write_text(header + "o2,1,boleto,1,20.0\n")
    q2 = stream_bronze_to_silver(
        spark, "order_payments", ckpt, bronze_path=str(bronze), silver_path=silver
    )
    q2.awaitTermination(120)
    rows = {r.order_id: r.payment_value for r in spark.read.parquet(silver).collect()}
    assert rows == {"o1": 10.5, "o2": 20.0}  # no duplicate of o1


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps one row per doc_id arriving
    inside the horizon; state is watermark-bounded."""
    import datetime

    from bootcamp_stackacademy_datalake_minio_airflow_spark.streaming.dedup import stream_dedup_exact

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    rows = [
        (100, ts(0), "a"),
        (100, ts(1), "a-dup"),      # duplicate within horizon -> dropped
        (200, ts(2), "b"),
        (100, ts(3), "a-dup2"),     # still within horizon -> dropped
        (300, ts(60 * 24), "c"),    # far future: advances watermark
    ]
    src = str(tmp_path / "dedup_src")
    spark.createDataFrame(rows, "doc_id long, ts timestamp, payload string").write.parquet(src)

    stream = spark.readStream.schema("doc_id long, ts timestamp, payload string").parquet(src)
    q = (
        stream_dedup_exact(stream, ["doc_id"], "ts", watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_stream_dedup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("t_stream_dedup").collect()
    # exactly one survivor per key (which duplicate wins within a
    # micro-batch is not ordered — only the cardinality is contracted)
    assert sorted(r.doc_id for r in out) == [100, 200, 300]


def test_stream_enrich_static_broadcast(spark, tmp_path):
    """Stream-static broadcast join enriches each micro-batch without
    shuffling the stream side."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.streaming.dedup import stream_enrich_static

    src = str(tmp_path / "enrich_src")
    spark.createDataFrame(
        [(1, "src0"), (2, "src1"), (3, "srcX")], "doc_id long, source string"
    ).write.parquet(src)
    dim = spark.createDataFrame(
        [("src0", 0.9), ("src1", 0.2)], "source string, quality double"
    )
    stream = spark.readStream.schema("doc_id long, source string").parquet(src)
    q = (
        stream_enrich_static(stream, dim, on="source")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_stream_enrich")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.doc_id, r.quality) for r in spark.table("t_stream_enrich").collect()}
    assert got == {(1, 0.9), (2, 0.2), (3, None)}


def test_stream_stream_attribution_equals_batch(spark, sf_dir, tmp_path):
    """The watermarked stream-stream self-join must emit exactly the
    pairs the batch twin produces: inner-join rows are never withheld
    by the watermark (it only drives state cleanup), so a
    drain-and-stop run over multiple micro-batches is complete."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.streaming.joins import (
        batch_attribution,
        stream_attribution,
    )

    events = load_table(spark, sf_dir, "events")
    batch = batch_attribution(events, max_gap="6 hours")
    src = str(tmp_path / "events_ss")
    # time-ordered multi-file source so the join state actually spans
    # micro-batches (a view buffered in batch 1 matches a purchase
    # arriving in batch 3)
    events.repartitionByRange(8, "ts").sortWithinPartitions("ts").write.parquet(src)
    q = stream_attribution(
        spark,
        src,
        max_gap="6 hours",
        checkpoint_dir=str(tmp_path / "ckpt_ss"),
        output_table="t_attribution",
        max_files_per_trigger=2,
    )
    q.awaitTermination(120)
    streamed = spark.table("t_attribution").collect()
    s = {(r.view_id, r.purchase_id): tuple(r) for r in streamed}
    b = {(r.view_id, r.purchase_id): tuple(r) for r in batch.collect()}
    assert len(streamed) == len(s), "append sink must not duplicate pairs"
    assert s == b


def test_stream_rate_monitor_matches_batch(spark, tmp_path):
    """Drain the streaming rate monitor over the planted-spike series
    and compare its final alerts against the batch detector on the
    same events — stream and batch share the scoring core, so this
    pins the streaming aggregation + accumulator plumbing."""
    import datetime as dt

    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.temporal import rate_anomalies
    from bootcamp_stackacademy_datalake_minio_airflow_spark.streaming.monitor import (
        stream_rate_monitor,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(30):
        n = 50 if h == 28 else (6 if h == 10 else 5)
        for i in range(n):
            rows.append(
                (eid, t0 + dt.timedelta(hours=h, seconds=i), 1, "error", 1.0, "{}")
            )
            eid += 1
    events = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    src = str(tmp_path / "monitor_src")
    events.repartitionByRange(4, "ts").sortWithinPartitions("ts").write.parquet(src)

    q, alerts = stream_rate_monitor(
        spark,
        src,
        lookback=24,
        z_cutoff=2.5,
        max_files_per_trigger=2,
    )
    q.awaitTermination()

    batch = rate_anomalies(events, lookback=24, z_cutoff=2.5).collect()
    assert {(r["event_type"], r["hour_ts"], r["n_events"], r["z_score"]) for r in alerts} == {
        (r["event_type"], r["hour_ts"], r["n_events"], r["z_score"]) for r in batch
    }
    assert alerts and alerts[0]["hour_ts"] == t0 + dt.timedelta(hours=28)


def test_stream_psi_monitor_matches_batch(spark, tmp_path):
    """Drain the streaming PSI drift monitor over the sf0.001
    documents and compare its final report against the batch operator
    on the same rows — stream and batch share psi_from_counts, so
    this pins the streaming aggregation + accumulator plumbing."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.catalog import load_table
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.analytics import (
        population_stability_index,
    )
    from bootcamp_stackacademy_datalake_minio_airflow_spark.streaming.drift import stream_psi_monitor

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    src = str(tmp_path / "psi_src")
    docs.repartition(4).write.parquet(src)

    q, report = stream_psi_monitor(spark, src, max_files_per_trigger=1)
    q.awaitTermination()

    batch = population_stability_index(
        docs, "n_chars", F.col("source") == "src0"
    ).collect()
    key = lambda r: (r["bucket"], r["n_a"], r["n_b"], r["pa"], r["pb"], r["contrib"])  # noqa: E731
    assert sorted(map(key, report)) == sorted(map(key, batch))
    assert len(report) > 0


def test_sessionize_interval_merge_unit():
    """Unit-level pin for the review finding: a late event more than
    one gap BEFORE the open session must form its OWN session, never
    widen the open one across the silence; late events within the gap
    still widen; chains of late events merge among themselves."""
    import pandas as pd

    from bootcamp_stackacademy_datalake_minio_airflow_spark.streaming.sessions import (
        _GAP_MS,
        _sessionize,
    )

    class FakeState:
        def __init__(self, tup):
            self._t = tup
            self.exists = tup is not None
            self.hasTimedOut = False
        @property
        def get(self):
            return self._t
        def update(self, t):
            self._t = t
            self.exists = True
        def setTimeoutTimestamp(self, ts):
            self.timeout = ts
        def remove(self):
            self._t, self.exists = None, False

    MIN = 60_000
    # open session [100min, 110min], 3 events
    st = FakeState((100 * MIN, 110 * MIN, 3))
    # late events at 10min and 15min: 85min before the session start,
    # far beyond the 30-min gap -> their own session, closed
    batch = pd.DataFrame({"ts": [pd.Timestamp(10 * MIN, unit="ms"),
                                 pd.Timestamp(15 * MIN, unit="ms")]})
    out = list(_sessionize((7,), [batch], st))
    assert len(out) == 1
    closed = out[0]
    assert closed["n_events"].tolist() == [2]
    assert closed["session_start"].iloc[0] == pd.Timestamp(10 * MIN, unit="ms")
    assert closed["session_end"].iloc[0] == pd.Timestamp(15 * MIN, unit="ms")
    # the open session is untouched
    assert st.get == (100 * MIN, 110 * MIN, 3)
    # late event WITHIN the gap of the start still widens
    st2 = FakeState((100 * MIN, 110 * MIN, 3))
    batch2 = pd.DataFrame({"ts": [pd.Timestamp(80 * MIN, unit="ms")]})
    assert list(_sessionize((7,), [batch2], st2)) == []
    assert st2.get == (80 * MIN, 110 * MIN, 4)


def test_winnow_textbook_params_recover_every_planted_quotation(spark):
    """VERDICT r7 ask #4: the k+window-1 guarantee at the PUBLISHED
    winnowing parameters (k=5, window=4), end-to-end through the
    registered planted-quotation query: every donor doc's unique
    32-char passage is quoted verbatim by its synthetic twin, so every
    (donor, donor+10M) pair must appear — the 32-char overlap
    guarantees >= 4 shared fingerprints, and passage uniqueness keeps
    their df at exactly 2, under the max_df=8 boilerplate cut."""
    from pyspark.sql import functions as F

    from bootcamp_stackacademy_datalake_minio_airflow_spark.engine import normalize_text
    from bootcamp_stackacademy_datalake_minio_airflow_spark.catalog import load_table
    from bootcamp_stackacademy_datalake_minio_airflow_spark.queries import queries

    sf = "/root/testdata/sf0.01"
    res = queries()["winnow_quotation_pairs"](spark, sf)
    planted = {
        (r.id_a, r.id_b)
        for r in res.filter(F.col("id_b") - F.col("id_a") == 10_000_000).collect()
    }
    donors = {
        r.doc_id
        for r in load_table(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", normalize_text("text").alias("t"))
        .filter((F.col("doc_id") % 7 == 0) & (F.length("t") >= 60))
        .collect()
    }
    assert planted == {(d, d + 10_000_000) for d in donors}
    assert len(donors) > 0
