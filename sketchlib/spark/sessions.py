"""Gap-based sessionization — the standard event-stream segmentation
(a session ends when the key goes quiet for more than ``gap``).

Pure Catalyst: one window per key (``lag`` + running sum of the
new-session flag), then an optional per-session aggregation.  The only
shuffle is the per-key hash partitioning; per-key work is bounded by
that key's event count, so the 100-TB shape holds as long as no single
key owns an unbounded share of the stream (a bot key with 10^9 events
serializes its own partition — pre-filter or split such keys upstream;
the operator itself never funnels OTHER keys through it).

Determinism with tied timestamps: session boundaries depend only on
the sorted multiset of timestamps — among equal-``ts`` rows exactly
the first in (arbitrary) tie order can carry the new-session flag and
every tied row accumulates it identically, so ``session_idx`` is
deterministic even though the tie order is not.  Rows with NULL
``ts_col`` are dropped (a null instant belongs to no session; done
with an explicit filter, not silently by the window).

Timestamp columns are compared in exact integer epoch-microseconds
(``unix_micros``), never float seconds — double rounding at ~1.7e9 s
is below microsecond resolution and would make engines disagree.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType
from pyspark.sql.window import Window

from sketchlib.spark.session import local_frame

#: both timestamp flavors (parquet without timezone reads as NTZ)
_TS_TYPES = (TimestampType, TimestampNTZType)

#: default hot-bucket threshold for interval_join(max_bucket_pairs=
#: "auto"): candidate pairs per (by, bucket) key above which the fine
#: sub-split grid beats the coarse single join.  Measured with
#: tools/stress_interval.py on the 32-vCPU reference box (crossover
#: ~5e9 candidates/bucket; 3.1x ahead by 24e9) — set slightly below so
#: the mitigation engages by the time it pays.
AUTO_MAX_BUCKET_PAIRS = 4_000_000_000


def epoch_micros(col_name: str, dtype) -> Column:
    """Exact int64 epoch-microseconds.  TIMESTAMP uses unix_micros;
    TIMESTAMP_NTZ uses wall-clock timestampdiff from the epoch —
    timezone-INDEPENDENT, and bit-equal to DuckDB's ``epoch_us`` on
    naive timestamps (unix_micros can't take NTZ, and casting NTZ ->
    TIMESTAMP would silently reinterpret in the session timezone)."""
    if isinstance(dtype, TimestampNTZType):
        return F.expr(
            "timestampdiff(MICROSECOND, "
            f"TIMESTAMP_NTZ '1970-01-01 00:00:00', `{col_name}`)"
        )
    if isinstance(dtype, TimestampType):
        return F.unix_micros(F.col(col_name))
    raise TypeError(f"not a timestamp type: {dtype}")


def _order_expr(df: DataFrame, ts_col: str, gap):
    """(ordering column in exact units, gap in those units): integer
    epoch-micros for timestamps (gap given in SECONDS), the raw
    numeric column otherwise (gap in column units)."""
    if isinstance(df.schema[ts_col].dataType, _TS_TYPES):
        return (
            epoch_micros(ts_col, df.schema[ts_col].dataType),
            int(round(float(gap) * 1_000_000)),
        )
    return F.col(ts_col), gap


def sessionize(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap=1800.0,
    output: str = "events",
    aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """Assign 1-based per-key session indices (``output="events"``:
    input columns + ``session_idx``) or aggregate one row per session
    (``output="sessions"``: key, session_idx, ts_start, ts_end,
    n_events + any ``aggs``)."""
    if output not in ("events", "sessions"):
        raise ValueError(f"unknown output {output!r}")
    if "session_idx" in events.columns:
        raise ValueError("input already has a session_idx column")
    if "__t" in events.columns:
        raise ValueError("input collides with internal column '__t'")
    clash = sorted(
        set(aggs or {})
        & {key_col, "session_idx", "ts_start", "ts_end", "n_events"}
    )
    if clash:
        raise ValueError(f"aggs names collide with session columns: {clash}")
    ord_expr, gap_u = _order_expr(events, ts_col, gap)
    e = events.filter(F.col(ts_col).isNotNull()).withColumn("__t", ord_expr)
    w = Window.partitionBy(key_col).orderBy("__t")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # lag NULL (first row of the key) -> new session; NULL > gap is
    # NULL -> when() falls through, so the first-row case is explicit
    prev = F.lag("__t").over(w)
    new = F.when(
        prev.isNull() | ((F.col("__t") - prev) > F.lit(gap_u)), 1
    ).otherwise(0)
    with_idx = (
        e.withColumn("session_idx", F.sum(new).over(run).cast("long"))
        .drop("__t")
    )
    if output == "events":
        return with_idx
    return with_idx.groupBy(key_col, "session_idx").agg(
        F.min(ts_col).alias("ts_start"),
        F.max(ts_col).alias("ts_end"),
        F.count("*").alias("n_events"),
        *[c.alias(n) for n, c in (aggs or {}).items()],
    )


def with_rolling_stats(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    window=3600.0,
    aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """Trailing-window rolling aggregates per key: for every event,
    aggregate over the key's events in ``[ts - window, ts]``
    (inclusive both ends).  Appends ``rolling_count`` plus any
    ``aggs`` (each aggregate expression is evaluated over the range
    frame, e.g. ``{"rolling_value": F.sum("value")}``).

    A RANGE frame, not ROWS: all rows tied on ``ts`` share one frame,
    so the result is deterministic under ties (a ROWS frame would
    depend on the engine's tie order).  Timestamp columns order and
    bound in exact integer epoch-micros with ``window`` in SECONDS
    (see ``sessionize``); numeric columns use raw units.  NULL
    ``ts_col`` rows are dropped (same contract as ``sessionize``).

    One shuffle (the per-key hash partitioning); the sliding frame is
    a single O(rows-per-key) pass per key — bounded by each key's own
    event count, never by the corpus."""
    if "rolling_count" in events.columns:
        raise ValueError("input already has a rolling_count column")
    if "__t" in events.columns:
        raise ValueError("input collides with internal column '__t'")
    clash = sorted(
        set(aggs or {}) & (set(events.columns) | {"rolling_count", "__t"})
    )
    if clash:
        # silently overwriting an input column would also feed LATER
        # aggs entries the windowed values instead of the raw ones
        raise ValueError(f"aggs names collide with existing columns: {clash}")
    ord_expr, win_u = _order_expr(events, ts_col, window)
    if not isinstance(win_u, int):
        # rangeBetween bounds must be integral (the py4j call has no
        # float overload); a numeric ts_col passes the window through
        # raw, so coerce integral floats (incl. the 3600.0 default)
        # and fail loud on fractional ones
        if float(win_u).is_integer():
            win_u = int(win_u)
        else:
            raise ValueError(
                f"numeric {ts_col!r} needs an integer window "
                f"(RANGE bounds are integral), got {window!r}"
            )
    e = events.filter(F.col(ts_col).isNotNull()).withColumn("__t", ord_expr)
    w = (
        Window.partitionBy(key_col)
        .orderBy("__t")
        .rangeBetween(-win_u, 0)
    )
    out = e.withColumn("rolling_count", F.count("*").over(w).cast("long"))
    for name, expr in (aggs or {}).items():
        out = out.withColumn(name, expr.over(w))
    return out.drop("__t")


def rollup_time_windows(
    events: DataFrame,
    ts_col: str,
    width: str,
    aggs: dict[str, Column],
    by: list[str] | None = None,
    slide: str | None = None,
    start_time: str | None = None,
) -> DataFrame:
    """Hypertable-style event-time rollup: aggregate into tumbling
    (or, with ``slide``, hopping) windows of ``width`` (a Spark
    interval string, e.g. ``"15 minutes"``), optionally per ``by``
    key.  Output carries ``window_start`` / ``window_end`` as exact
    int64 epoch-microseconds plus one column per ``aggs`` entry.

    Cross-engine bucket parity: for any width that divides 24 hours,
    DuckDB ``time_bucket`` produces IDENTICAL buckets (both origins
    are a midnight).  For multi-day widths the default origins differ
    (Spark epoch 1970-01-01 vs DuckDB 2000-01-03) — pass
    ``start_time`` (Spark's window offset, e.g. ``"4 days"`` for a
    7-day width) to align, or an offset of your own.

    100-TB shape: ONE hash aggregate keyed on (by, window) — map-side
    partial aggregation collapses each task to its distinct windows
    before the shuffle, so the Exchange carries ~windows x keys rows,
    not events.  This is the continuous-aggregate / downsampling
    primitive: compose with write_sharded for materialized rollups."""
    if not aggs:
        raise ValueError("aggs must be non-empty")
    clash = sorted(set(aggs) & {"window_start", "window_end"})
    if clash:
        raise ValueError(f"aggs names collide with outputs: {clash}")
    dtype = events.schema[ts_col].dataType
    if not isinstance(dtype, _TS_TYPES):
        raise TypeError(f"{ts_col!r} is not a timestamp column: {dtype}")
    win = F.window(
        F.col(ts_col), width, slide or width, start_time
    ) if (slide or start_time) else F.window(F.col(ts_col), width)
    grouped = events.groupBy(
        *[F.col(c) for c in (by or [])], win.alias("__w")
    ).agg(*[expr.alias(name) for name, expr in aggs.items()])
    start_t = grouped.schema["__w"].dataType["start"].dataType
    tmp = grouped.withColumn("__ws", F.col("__w.start")).withColumn(
        "__we", F.col("__w.end")
    )
    return (
        tmp.withColumn("window_start", epoch_micros("__ws", start_t))
        .withColumn("window_end", epoch_micros("__we", start_t))
        .drop("__w", "__ws", "__we")
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    ts_col: str,
    lo_col: str,
    hi_col: str,
    by: list[str] | None = None,
    bucket: str = "7 days",
    max_bucket_pairs: int | None | str = "auto",
    max_fine_split: int = 4096,
) -> DataFrame:
    """Range join: every (point, interval) pair with
    ``lo <= ts < hi`` (half-open), optionally also matching ``by``
    keys — the relational shape Spark would otherwise plan as a
    BroadcastNestedLoopJoin (quadratic, or driver-OOM on a big build
    side).

    Plan: both sides bucket the time axis at ``bucket`` granularity —
    points into their single containing bucket, each interval exploded
    into the buckets it overlaps (``sequence`` — bounded by
    interval_length/bucket + 1 rows) — then ONE equi-join on
    (by, bucket) followed by the exact containment filter.  A point
    lies in exactly one bucket, so each qualifying pair appears
    exactly once: no dedup pass.  Size ``bucket`` near the typical
    interval length: larger buckets inflate candidate pairs, smaller
    ones inflate the interval explode.  Degenerate intervals
    (hi <= lo) match nothing, like the SQL predicate.

    Skew: AQE's skew-join split handles a hot bucket's shuffle VOLUME,
    but not the candidate-pair blowup — all points and all intervals
    of one time bucket still cross, the df^2 analogue of the ngram
    hot-gram case (one viral week: 1M short intervals x 10M points =
    10^13 candidates for few true pairs).  ``max_bucket_pairs``
    controls the LSH-style mitigation: a cheap per-bucket count probe
    (two map-side-combinable aggs; only keys whose pts*ivs product
    exceeds the threshold are collected, so the probe result is
    bounded by total_candidates / max_bucket_pairs rows), and every
    hot bucket is
    SUB-SPLIT on a finer time grid (bucket/k, k sized so the worst
    bucket fits the threshold, capped at ``max_fine_split``): points
    land in one fine slot, intervals explode into the fine slots they
    overlap, and the equi-join runs on (by, bucket, fine) — candidate
    pairs shrink by ~(interval_len + bucket/k)/bucket while every
    qualifying pair still appears exactly once.  Cold buckets keep the
    coarse single-join plan verbatim (anti-join against the tiny
    broadcast hot-key list).  Sub-splitting only pays off when
    intervals are SHORT relative to the bucket; intervals genuinely
    spanning the hot bucket cross every point regardless (that output
    is the true result).

    Default ``"auto"`` = the probe runs with the measured crossover
    threshold (:data:`AUTO_MAX_BUCKET_PAIRS`, ~where sub-splitting
    starts beating the coarse join on tools/stress_interval.py), so a
    skewed time axis takes the mitigation WITHOUT a caller flag at the
    cost of one tiny probe job; pass an int to tune the threshold or
    ``None`` to skip the probe entirely (zero extra jobs).  Measured
    crossover: tools/stress_interval.py + BASELINE.md."""
    by = list(by or [])
    if isinstance(max_bucket_pairs, str):
        if max_bucket_pairs != "auto":
            raise ValueError(
                f"max_bucket_pairs must be an int, None or 'auto', "
                f"got {max_bucket_pairs!r}"
            )
        max_bucket_pairs = AUTO_MAX_BUCKET_PAIRS
    for scratch in ("__b", "__f", "__ts", "__lo", "__hi"):
        if scratch in points.columns or scratch in intervals.columns:
            raise ValueError(f"column '{scratch}' already exists")
    overlap = set(points.columns) & set(intervals.columns) - set(by)
    if overlap:
        raise ValueError(
            f"rename overlapping non-key columns: {sorted(overlap)}"
        )
    width_us = _interval_micros(points.sparkSession, bucket)
    # DATE columns (the common range-join input on calendar data) are
    # widened to timestamp_ntz (tz-free, exact midnight); anything
    # else non-timestamp fails upfront NAMING the offending column
    points = _as_timestamp(points, ts_col, "ts_col")
    intervals = _as_timestamp(intervals, lo_col, "lo_col")
    intervals = _as_timestamp(intervals, hi_col, "hi_col")
    p_t = points.schema[ts_col].dataType
    lo_t = intervals.schema[lo_col].dataType
    hi_t = intervals.schema[hi_col].dataType
    # epoch-micros are MATERIALIZED as int64 columns once per input row
    # (guide §2.3/§3: the join condition runs per CANDIDATE pair — with
    # a dense time axis that is points x intervals-per-bucket rows, and
    # re-evaluating timestampdiff-on-cast there dominated the join; two
    # long comparisons per candidate are ~10x cheaper, for +8 bytes/row)
    pts = points.withColumn("__ts", epoch_micros(ts_col, p_t))
    p_us = F.col("__ts")
    intervals = intervals.withColumn(
        "__lo", epoch_micros(lo_col, lo_t)
    ).withColumn("__hi", epoch_micros(hi_col, hi_t))
    lo_us, hi_us = F.col("__lo"), F.col("__hi")
    pts = pts.withColumn("__b", F.floor(p_us / F.lit(width_us)))
    ivs = (
        intervals.filter(lo_us < hi_us)
        .withColumn(
            "__b",
            F.explode(
                F.sequence(
                    F.floor(lo_us / F.lit(width_us)),
                    F.floor((hi_us - F.lit(1)) / F.lit(width_us)),
                )
            ),
        )
    )
    key = by + ["__b"]
    hot_rows = []
    if max_bucket_pairs is not None:
        if max_bucket_pairs < 1:
            raise ValueError("max_bucket_pairs must be >= 1")
        pc = pts.groupBy(*key).agg(F.count(F.lit(1)).alias("__pn"))
        ic = ivs.groupBy(*key).agg(F.count(F.lit(1)).alias("__in"))
        hot_rows = (
            pc.join(ic, key)
            .withColumn("__pairs", F.col("__pn") * F.col("__in"))
            .filter(F.col("__pairs") > max_bucket_pairs)
            .select(*key, "__pairs")
            .collect()
        )
    if not hot_rows:
        joined = pts.join(ivs, on=key, how="inner")
    else:
        spark = points.sparkSession
        max_pairs = max(r["__pairs"] for r in hot_rows)
        # integer ceiling: float true-division loses precision above
        # 2^53 candidate pairs and can undersize the fine grid
        k = min(
            -(-max_pairs // max_bucket_pairs), max_fine_split
        )
        w2 = max(width_us // k, 1)
        hot_keys = F.broadcast(
            local_frame(
                spark,
                [tuple(r[c] for c in key) for r in hot_rows],
                pts.select(*key).schema,
            )
        )
        cold = pts.join(hot_keys, key, "left_anti").join(
            ivs.join(hot_keys, key, "left_anti"), on=key, how="inner"
        )
        # fine grid inside the hot bucket: a point sits in exactly one
        # fine slot; the interval's bucket-clipped span explodes into
        # the slots it overlaps (<= k+1 rows) — each qualifying pair
        # still appears exactly once, now keyed by (by, bucket, fine)
        bs = F.col("__b") * F.lit(width_us)
        pts_h = pts.join(hot_keys, key, "left_semi").withColumn(
            "__f", F.floor((p_us - bs) / F.lit(w2))
        )
        ivs_h = ivs.join(hot_keys, key, "left_semi").withColumn(
            "__f",
            F.explode(
                F.sequence(
                    F.floor((F.greatest(lo_us, bs) - bs) / F.lit(w2)),
                    F.floor(
                        (
                            F.least(hi_us, bs + F.lit(width_us))
                            - F.lit(1)
                            - bs
                        )
                        / F.lit(w2)
                    ),
                )
            ),
        )
        hotj = pts_h.join(ivs_h, on=key + ["__f"], how="inner").drop("__f")
        joined = cold.unionByName(hotj)
    # exact containment on the precomputed int64 bounds (two long
    # compares per candidate), then drop every scratch column
    out = joined.filter(
        (F.col("__ts") >= F.col("__lo")) & (F.col("__ts") < F.col("__hi"))
    )
    return out.drop("__b", "__ts", "__lo", "__hi")


def _as_timestamp(df: DataFrame, col: str, role: str) -> DataFrame:
    """DATE -> TIMESTAMP_NTZ widening for the range-join columns, with
    an upfront error that names the parameter at fault."""
    from pyspark.sql.types import DateType

    dtype = df.schema[col].dataType
    if isinstance(dtype, DateType):
        return df.withColumn(col, F.col(col).cast("timestamp_ntz"))
    if not isinstance(dtype, _TS_TYPES):
        raise TypeError(
            f"{role}={col!r} must be a timestamp or date column, "
            f"got {dtype}"
        )
    return df


def _interval_micros(spark, interval: str) -> int:
    """Resolve a Spark interval string to exact microseconds (one tiny
    driver-side expression eval; rejects month/year intervals, whose
    length is not constant)."""
    low = interval.lower()
    if "month" in low or "year" in low:
        raise ValueError(
            f"bucket interval must be fixed-length (no months/years): "
            f"{interval!r}"
        )
    row = spark.range(1).select(
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP '1970-01-01', "
            f"TIMESTAMP '1970-01-01' + INTERVAL {interval})"
        ).alias("us")
    ).first()
    us = int(row["us"])
    if us <= 0:
        raise ValueError(f"bucket interval must be positive: {interval!r}")
    return us
