"""Temporal operators: as-of join and sessionization.

The brief names the as-of join as the canonical operator the reference
(and stock Spark) lacks; both ops here are pure DataFrame
compositions — no Python, one shuffle each — and both have exact
DuckDB oracles (scalar-subquery / gaps-and-islands formulations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str = "user_id",
    value_cols: list[str] | None = None,
) -> DataFrame:
    """For every left row, attach the MOST RECENT right row with
    ``right.on <= left.on`` within the same ``by`` key (the financial
    "as-of" / point-in-time join), as ``<value>_asof`` columns.

    Distributed shape — union + per-key ordered window, the
    merge-join formulation: tag both sides, sort each key's rows by
    (ts, side) with right rows first at equal timestamps (<= boundary
    semantics), then ``last(value, ignorenulls)`` over an unbounded
    preceding frame carries each right value forward to the left rows
    it covers.  ONE shuffle on ``by`` + a per-partition sort — no
    range cross join, no per-row lookups; skew on ``by`` is the only
    hazard (salt hot keys upstream if a single entity dominates).

    Duplicate right rows at the same (by, on): deterministic — the
    window also orders by the carried value struct, so the GREATEST
    struct (lexicographic over ``value_cols``) wins, independent of
    shuffle order (ADVICE r2 #3).  Requires orderable value columns
    (Spark rejects map-typed sort keys at analysis time); pre-dedup
    the right side if a different tiebreak is needed.
    """
    value_cols = value_cols or [
        c for c in right.columns if c not in (on, by)
    ]
    # carry the whole right row as ONE struct: the struct is non-null
    # exactly on right rows, so a right row whose VALUE fields are null
    # still supersedes earlier rows (last(ignorenulls) over bare value
    # columns would skip it and resurrect a stale value)
    rstruct_type = (
        "struct<"
        + ",".join(f"{c}:{dict(right.dtypes)[c]}" for c in value_cols)
        + ">"
    )
    lhs = left.withColumn(
        "_rrow", F.lit(None).cast(rstruct_type)
    ).withColumn("_side", F.lit(1))
    rhs = right.select(
        F.col(by),
        F.col(on),
        F.struct(*[F.col(c) for c in value_cols]).alias("_rrow"),
    )
    for c in lhs.columns:
        if c not in rhs.columns and c != "_side":
            rhs = rhs.withColumn(c, F.lit(None).cast(dict(lhs.dtypes)[c]))
    rhs = rhs.withColumn("_side", F.lit(0)).select(*lhs.columns)

    unioned = lhs.unionByName(rhs)
    w = (
        Window.partitionBy(by)
        # _rrow last: right-side duplicates at one (by, ts) sort by
        # value struct, making last(ignorenulls) pick the greatest —
        # deterministic under any shuffle order.  Left rows (null
        # struct) sort first within their (ts, side) group, harmless.
        .orderBy(
            F.col(on).asc(),
            F.col("_side").asc(),
            F.col("_rrow").asc_nulls_first(),
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.withColumn(
        "_rrow", F.last(F.col("_rrow"), ignorenulls=True).over(w)
    )
    out = carried.where(F.col("_side") == 1)
    for c in value_cols:
        out = out.withColumn(f"{c}_asof", F.col(f"_rrow.{c}"))
    return out.drop("_side", "_rrow")


def _explode_intervals(
    intervals: DataFrame,
    s_us,
    e_us,
    bucket_us: int,
    coarse_factor: int | None,
) -> tuple[DataFrame, DataFrame | None]:
    """Interval → bucket-id rows.  Without ``coarse_factor``: one fine
    bucket row per overlapped bucket (replication = span/bucket).  With
    it: coarse rows for the coarse buckets FULLY inside the interval +
    fine rows only for the two edge ranges, so replication per interval
    is ≤ span/(bucket·factor) + 2·factor instead of span/bucket — the
    year-long-interval skew guard (VERDICT r2 next-round #8).  Exposed
    separately so tests can measure the replication directly.

    Empty/inverted intervals are dropped HERE (not only in the public
    join): a descending bound pair would make ``sequence`` count DOWN
    and fabricate buckets for any direct caller (code-review r3)."""
    intervals = intervals.where(e_us > s_us)
    fine_all = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(s_us / bucket_us),
                # end is exclusive: a bucket starting exactly at end
                # never matches
                F.floor((e_us - 1) / bucket_us),
            )
        ),
    )
    if coarse_factor is None or coarse_factor <= 1:
        return fine_all, None
    coarse_us = bucket_us * coarse_factor
    # first/last coarse boundaries inside the interval; full coarse
    # buckets are [cs, ce) — exact because coarse is a multiple of fine
    cs = F.ceil(s_us / F.lit(coarse_us)).cast("long")
    ce = F.floor(e_us / F.lit(coarse_us)).cast("long")
    has_coarse = ce > cs
    coarse = intervals.where(has_coarse).withColumn(
        "_cbucket", F.explode(F.sequence(cs, ce - 1))
    )
    # fine edges: [start, first coarse boundary) and [last coarse
    # boundary, end); without a full coarse bucket the head IS the
    # whole interval.  Edge fine buckets never collide with full
    # coarse buckets (alignment is exact), so each match is produced
    # exactly once across the two tiers.
    head_end = F.when(has_coarse, cs * coarse_us).otherwise(e_us)
    tail_start = ce * coarse_us
    empty = F.array().cast("array<bigint>")
    head_ids = F.when(
        head_end > s_us,
        F.sequence(
            F.floor(s_us / bucket_us), F.floor((head_end - 1) / bucket_us)
        ),
    ).otherwise(empty)
    tail_ids = F.when(
        has_coarse & (e_us > tail_start),
        F.sequence(
            F.floor(tail_start / bucket_us), F.floor((e_us - 1) / bucket_us)
        ),
    ).otherwise(empty)
    fine = intervals.withColumn(
        "_bucket", F.explode(F.concat(head_ids, tail_ids))
    )
    return fine, coarse


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    bucket_minutes: int = 60,
    coarse_factor: int | None = None,
) -> DataFrame:
    """Point-in-interval (range) join — the second operator family the
    brief names that Spark only does as an O(n·m) nested-loop
    BroadcastNestedLoopJoin: each ``points.ts`` matches the intervals
    ``[start_ts, end_ts)`` that contain it.

    Bucketed-equality strategy: intervals explode to the time buckets
    they overlap (``sequence`` — JVM-side), points map to their single
    bucket, the join is a plain EQUALITY join on the bucket id, and
    the exact containment predicate filters the candidates.  Work is
    |points| + Σ interval-spans/bucket instead of |points|·|intervals|;
    ``bucket_minutes`` trades replication (long intervals explode to
    more buckets) against candidate density — size it near the median
    interval length.  Inclusive start, exclusive end.

    Skew guard: pathological long intervals (a year at 60-minute
    buckets = 8,760 replicas) bound-explode with ``coarse_factor=k`` —
    a second coarse tier (bucket·k) carries the interval interior, the
    fine tier only the ≤ 2k edge buckets; the two equality joins union
    and each match is produced exactly once.  Same results, replication
    per interval capped at span/(bucket·k) + 2k.
    """
    bucket_us = bucket_minutes * 60 * 1_000_000
    p_us = F.unix_micros(F.col("ts").cast("timestamp"))
    s_us = F.unix_micros(F.col("start_ts").cast("timestamp"))
    e_us = F.unix_micros(F.col("end_ts").cast("timestamp"))

    # drop empty/inverted intervals: a descending bound pair would make
    # sequence() count DOWN and fabricate buckets
    intervals = intervals.where(e_us > s_us)
    ivs_fine, ivs_coarse = _explode_intervals(
        intervals, s_us, e_us, bucket_us, coarse_factor
    )
    pred = (F.col("ts") >= F.col("start_ts")) & (
        F.col("ts") < F.col("end_ts")
    )
    pts_fine = points.withColumn("_bucket", F.floor(p_us / bucket_us))
    joined = pts_fine.join(ivs_fine, "_bucket").where(pred).drop("_bucket")
    if ivs_coarse is not None:
        coarse_us = bucket_us * coarse_factor
        pts_coarse = points.withColumn(
            "_cbucket", F.floor(p_us / coarse_us)
        )
        joined = joined.unionByName(
            pts_coarse.join(ivs_coarse, "_cbucket")
            .where(pred)
            .drop("_cbucket")
        )
    return joined


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
) -> DataFrame:
    """Gap-based sessionization: per ``user_id``, events whose ``ts``
    are closer than ``gap_minutes`` chain into one session.  Returns
    one row per session: (user_id, session_start, n_events,
    total_value).

    Gaps-and-islands composition (same semantics as Spark's
    ``session_window`` with a fixed gap, but expressed with
    lag + cumulative sum so the DuckDB oracle is exact): new-session
    flag when the gap to the previous event is ≥ the threshold,
    running sum of flags numbers the sessions, then one aggregation.
    One shuffle on ``user_id``.
    """
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc())
    # integer microseconds: exact gap comparison on both engines
    # (TIMESTAMP_NTZ reinterpreted as UTC; differences are tz-free)
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_us = gap_minutes * 60 * 1_000_000
    flagged = events.withColumn(
        "_new",
        F.when(micros - F.lag(micros).over(w) >= gap_us, 1).otherwise(0),
    ).withColumn(
        "_session",
        F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        flagged.groupBy("user_id", "_session")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select("user_id", "session_start", "n_events", "total_value")
    )
