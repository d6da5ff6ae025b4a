"""As-of and range join semantics on hand-built fixtures."""

from __future__ import annotations

import datetime

from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.temporal import (
    asof_join,
    range_join,
)


def _t(minute):
    return datetime.datetime(2024, 1, 1, 10, minute)


def test_asof_backward_basic(spark):
    trades = spark.createDataFrame(
        [(1, _t(5)), (1, _t(20)), (2, _t(7))], "k long, t timestamp"
    )
    quotes = spark.createDataFrame(
        [(1, _t(0), 100.0), (1, _t(10), 110.0), (2, _t(9), 50.0)],
        "k long, qt timestamp, px double",
    )
    out = {
        (r.k, r.t.minute): r.px
        for r in asof_join(trades, quotes, "k", "t", "qt", ["px"]).collect()
    }
    assert out[(1, 5)] == 100.0  # latest quote at/before 10:05
    assert out[(1, 20)] == 110.0
    assert out[(2, 7)] is None  # quote arrives later -> no match


def test_asof_exact_match_allowed(spark):
    left = spark.createDataFrame([(1, _t(10))], "k long, t timestamp")
    right = spark.createDataFrame([(1, _t(10), 42.0)], "k long, qt timestamp, v double")
    row = asof_join(left, right, "k", "t", "qt", ["v"]).first()
    assert row.v == 42.0  # equal timestamps match (pandas allow_exact_matches)


def test_range_join_boundaries(spark):
    facts = spark.createDataFrame([(1, 0.0), (2, 99.9), (3, 100.0)], "id long, v double")
    ranges = spark.createDataFrame(
        [("a", 0.0, 100.0), ("b", 100.0, 200.0)], "band string, lo double, hi double"
    )
    out = {r.id: r.band for r in range_join(facts, ranges, "v", "lo", "hi").collect()}
    assert out == {1: "a", 2: "a", 3: "b"}  # half-open [lo, hi)


def test_range_join_broadcasts(spark):
    facts = spark.createDataFrame([(1, 5.0)], "id long, v double")
    ranges = spark.createDataFrame([("a", 0.0, 10.0)], "band string, lo double, hi double")
    plan = range_join(facts, ranges, "v", "lo", "hi")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan  # fact side never shuffles


def test_range_join_bucketed_equals_broadcast(spark):
    """The bucketed equi-join fallback must match the BNLJ path exactly,
    including boundary semantics, for widths that do and don't divide
    the range spans."""
    import random

    rng = random.Random(7)
    facts = spark.createDataFrame(
        [(i, rng.uniform(-50.0, 450.0)) for i in range(500)], "id long, v double"
    )
    ranges = spark.createDataFrame(
        [(f"b{i}", i * 40.0, i * 40.0 + 40.0) for i in range(10)],
        "band string, lo double, hi double",
    )
    want = sorted(
        (r.id, r.band)
        for r in range_join(facts, ranges, "v", "lo", "hi", strategy="broadcast").collect()
    )
    for width in (40.0, 25.0, 7.3):
        got = sorted(
            (r.id, r.band)
            for r in range_join(
                facts, ranges, "v", "lo", "hi", strategy="bucketed", bucket_width=width
            ).collect()
        )
        assert got == want, f"width={width}"
    # auto-derived width too
    got_auto = sorted(
        (r.id, r.band)
        for r in range_join(facts, ranges, "v", "lo", "hi", strategy="bucketed").collect()
    )
    assert got_auto == want


def test_range_join_bucketed_plan_no_bnlj(spark):
    facts = spark.createDataFrame([(1, 5.0)], "id long, v double")
    ranges = spark.createDataFrame(
        [("a", 0.0, 10.0)], "band string, lo double, hi double"
    )
    plan = (
        range_join(facts, ranges, "v", "lo", "hi", strategy="bucketed", bucket_width=10.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_null_right_time_never_matches(spark):
    import datetime as dt

    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.temporal import asof_join
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    rschema = StructType(
        [
            StructField("k", LongType()),
            StructField("rt", TimestampType()),
            StructField("price", DoubleType()),
        ]
    )
    left = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1))], ["k", "lt"]
    )
    right = spark.createDataFrame([(1, None, 99.0)], rschema)
    out = asof_join(left, right, "k", "lt", "rt", ["price"]).collect()
    # a right row with unknown time is not an as-of match
    assert len(out) == 1 and out[0]["price"] is None


def test_asof_null_left_time_gets_null_fill(spark):
    import datetime as dt

    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.temporal import asof_join
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    lschema = StructType(
        [StructField("k", LongType()), StructField("lt", TimestampType())]
    )
    left = spark.createDataFrame([(1, None)], lschema)
    right = spark.createDataFrame(
        [(1, dt.datetime(2023, 1, 1), 10.0)], ["k", "rt", "price"]
    )
    out = asof_join(left, right, "k", "lt", "rt", ["price"]).collect()
    assert len(out) == 1 and out[0]["price"] is None


def test_asof_matched_row_nulls_are_returned_not_stitched(spark):
    import datetime as dt

    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.temporal import asof_join
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    rschema = StructType(
        [
            StructField("k", LongType()),
            StructField("rt", TimestampType()),
            StructField("price", DoubleType()),
            StructField("qty", DoubleType()),
        ]
    )
    right = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1), 10.0, 5.0),
            (1, dt.datetime(2024, 1, 2), None, 7.0),
        ],
        rschema,
    )
    left = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 5))], ["k", "lt"]
    )
    out = asof_join(left, right, "k", "lt", "rt", ["price", "qty"]).collect()
    # the as-of row is Jan 2: its NULL price must come through as
    # NULL, not be stitched from the Jan 1 row (pandas merge_asof)
    assert len(out) == 1
    assert out[0]["price"] is None and out[0]["qty"] == 7.0


def test_rate_anomaly_fires_on_flat_baseline_spike(spark):
    import datetime as dt

    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.temporal import rate_anomalies

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for h in range(26):
        n = 500 if h == 25 else 5  # perfectly constant, then a spike
        for i in range(n):
            rows.append(
                (eid, t0 + dt.timedelta(hours=h, seconds=i), 1, "error", 1.0, "{}")
            )
            eid += 1
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = rate_anomalies(ev, lookback=24, z_cutoff=2.5).collect()
    assert len(out) == 1
    r = out[0]
    assert r["hour_ts"] == t0 + dt.timedelta(hours=25)
    assert r["z_score"] is None  # sigma = 0: no finite z, but it alarms


def test_interval_overlap_join_exactly_once_vs_bruteforce(spark):
    """Randomized intervals, many spanning multiple buckets: the
    bucketed join must equal the brute-force range-predicate join
    EXACTLY (losslessness), with each pair appearing exactly once
    (the anchor-bucket rule replaces a distinct), including
    instantaneous single-point overlaps."""
    import random

    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.temporal import (
        interval_overlap_join,
    )

    rng = random.Random(13)
    W = 100
    lrows = []
    for i in range(60):
        s = rng.randint(0, 2000)
        lrows.append((i, s, s + rng.randint(0, 450)))  # spans 0..5 buckets
    rrows = []
    for j in range(60):
        s = rng.randint(0, 2000)
        rrows.append((j, s, s + rng.randint(0, 450)))
    # plant a single-point overlap: l ends exactly where r starts
    lrows.append((100, 500, 700))
    rrows.append((100, 700, 900))
    left = spark.createDataFrame(lrows, "lid long, l_start long, l_end long")
    right = spark.createDataFrame(rrows, "rid long, r_start long, r_end long")
    got = [
        ((r.lid, r.rid), r.overlap)
        for r in interval_overlap_join(left, right, bucket_width=W).collect()
    ]
    assert len(got) == len(dict(got)), "pair emitted more than once"
    expected = {}
    for lid, ls, le in lrows:
        for rid, rs, re in rrows:
            if ls <= re and rs <= le:
                expected[(lid, rid)] = min(le, re) - max(ls, rs)
    assert dict(got) == expected
    assert dict(got)[(100, 100)] == 0  # closed endpoints: touch counts
