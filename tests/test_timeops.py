"""Temporal operators: as-of join and sessionization goldens."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
from conftest import assert_jvm_only

from zhtml_spark.timeops import asof_join, sessionize


def _ts(minute):
    return dt.datetime(2024, 1, 1, 0, minute, 0)


def test_asof_join_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(1, 10, _ts(5)), (2, 10, _ts(20)), (3, 10, _ts(2)), (4, 20, _ts(9))],
        "event_id bigint, user_id bigint, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, _ts(3), 100.0), (10, _ts(5), 200.0), (10, _ts(15), 300.0)],
        "user_id bigint, ts timestamp, score double",
    )
    out = {
        r["event_id"]: r["score_asof"]
        for r in asof_join(left, right, value_cols=["score"]).collect()
    }
    assert out[1] == 200.0  # equal ts: <= includes the right row
    assert out[2] == 300.0  # latest before minute 20 is minute 15
    assert out[3] is None   # earliest right row (minute 3) is later
    assert out[4] is None   # other key entirely


def test_asof_join_is_single_shuffle(spark):
    left = spark.createDataFrame(
        [(1, 10, _ts(5))], "event_id bigint, user_id bigint, ts timestamp"
    )
    right = spark.createDataFrame(
        [(10, _ts(3), 1.0)], "user_id bigint, ts timestamp, score double"
    )
    plan = (
        asof_join(left, right, value_cols=["score"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert_jvm_only(plan)


def test_sessionize_gap_splits(spark):
    rows = [
        (10, _ts(0), 1.0), (10, _ts(10), 1.0),   # session 1
        (10, _ts(50), 2.0),                       # session 2 (40m gap)
        (20, _ts(0), 5.0),                        # other user
    ]
    ev = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, value double"
    )
    out = sessionize(ev, gap_minutes=30).orderBy("user_id", "session_start")
    got = [(r["user_id"], r["n_events"], r["total_value"])
           for r in out.collect()]
    assert got == [(10, 2, 2.0), (10, 1, 2.0), (20, 1, 5.0)]


def test_sessionize_exact_gap_starts_new_session(spark):
    rows = [(10, _ts(0), 1.0), (10, _ts(30), 1.0)]  # gap == threshold
    ev = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, value double"
    )
    assert sessionize(ev, gap_minutes=30).count() == 2


def test_interval_join_bucketed_equals_nested_loop(spark):
    import pyspark.sql.functions as F

    from zhtml_spark.timeops import interval_join

    pts = spark.createDataFrame(
        [(i, _ts(i)) for i in range(0, 60, 7)],
        "event_id bigint, ts timestamp",
    )
    ivs = spark.createDataFrame(
        [("w1", _ts(5), _ts(20)), ("w2", _ts(20), _ts(21)),
         ("wempty", _ts(30), _ts(30))],
        "window_id string, start_ts timestamp, end_ts timestamp",
    )
    got = {
        (r["event_id"], r["window_id"])
        for r in interval_join(pts, ivs, bucket_minutes=10).collect()
    }
    ref = {
        (r["event_id"], r["window_id"])
        for r in pts.crossJoin(ivs)
        .where((F.col("ts") >= F.col("start_ts"))
               & (F.col("ts") < F.col("end_ts")))
        .collect()
    }
    # points step by 7 (0,7,14,21,...): only 7 and 14 fall in [5,20);
    # 21 misses [20,21) — end exclusive
    assert got == ref and got == {(7, "w1"), (14, "w1")}


def test_kmv_estimate_tracks_exact(spark):
    from zhtml_spark.textops import kmv_distinct_estimate

    docs = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("uniq-"), (F.col("id") % 1000).cast("string")).alias(
            "text"
        ),
    )
    est = kmv_distinct_estimate(docs, k=64).collect()[0]["n_estimate"]
    assert abs(est - 1000) / 1000 < 0.4  # ~1/sqrt(64) regime

    # under-k corpus: estimate is exact
    small = spark.range(10).select(
        F.col("id").alias("doc_id"), F.col("id").cast("string").alias("text")
    )
    assert kmv_distinct_estimate(small, k=64).collect()[0]["n_estimate"] == 10


def test_asof_join_null_valued_right_row_supersedes(spark):
    """A right row whose VALUE is null must still supersede earlier
    rows (struct carry, not per-column last-ignorenulls)."""
    left = spark.createDataFrame(
        [(1, 10, _ts(30))], "event_id bigint, user_id bigint, ts timestamp"
    )
    right = spark.createDataFrame(
        [(10, _ts(1), 100.0), (10, _ts(20), None)],
        "user_id bigint, ts timestamp, score double",
    )
    out = asof_join(left, right, value_cols=["score"]).collect()
    assert out[0]["score_asof"] is None  # NOT the stale 100.0


def test_asof_join_duplicate_right_ts_deterministic(spark):
    """Duplicate right rows at one (by, ts): the greatest value struct
    wins, independent of shuffle order (ADVICE r2 #3)."""
    left = spark.createDataFrame(
        [(1, 10, _ts(5))], "event_id bigint, user_id bigint, ts timestamp"
    )
    dup_rows = [(10, _ts(3), float(v)) for v in (7, 3, 9, 1, 5)]
    for nparts in (1, 3, 5):
        right = spark.createDataFrame(
            dup_rows, "user_id bigint, ts timestamp, score double"
        ).repartition(nparts)
        out = asof_join(left, right, value_cols=["score"]).collect()
        assert out[0]["score_asof"] == 9.0  # max struct, every time


def test_interval_join_skew_guard_bounded_and_exact(spark):
    """A year-long interval at 60-min buckets replicates 8,760× on the
    fine-only path; coarse_factor caps it while results stay identical
    (VERDICT r2 next-round #8)."""
    from zhtml_spark.timeops import _explode_intervals, interval_join

    year_start = dt.datetime(2024, 1, 1)
    year_end = dt.datetime(2024, 12, 31)
    intervals = spark.createDataFrame(
        [
            ("long", year_start, year_end),          # pathological
            ("short", _ts(10), _ts(40)),             # sub-bucket
            ("aligned", dt.datetime(2024, 3, 1), dt.datetime(2024, 3, 3)),
        ],
        "window_id string, start_ts timestamp, end_ts timestamp",
    )
    points = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=37 * i))
         for i in range(240)] + [(9000, _ts(25))],
        "event_id bigint, ts timestamp",
    )

    plain = interval_join(points, intervals)
    guarded = interval_join(points, intervals, coarse_factor=48)
    key = lambda r: (r["event_id"], r["window_id"])
    assert sorted(map(key, plain.collect())) == sorted(
        map(key, guarded.collect())
    )

    # replication evidence: exploded interval rows bounded
    bucket_us = 60 * 60 * 1_000_000
    s = F.unix_micros(F.col("start_ts"))
    e = F.unix_micros(F.col("end_ts"))
    fine_all, _ = _explode_intervals(intervals, s, e, bucket_us, None)
    fine, coarse = _explode_intervals(intervals, s, e, bucket_us, 48)
    n_plain = fine_all.count()
    n_guard = fine.count() + coarse.count()
    assert n_plain > 8700  # the year-long interval dominates
    # span/(bucket*48) + 2*48 per interval ≈ 183 + 96 → well under 500
    assert n_guard < 500
