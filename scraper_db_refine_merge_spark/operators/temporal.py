"""Temporal joins: as-of (point-in-time) and point-in-interval.

Beyond-reference operators (the reference engine has none): these are the
temporal primitives a training-data pipeline needs — last-touch attribution,
feature-snapshot joins, windowed event correlation. Both are built from
shuffle-minimal DataFrame compositions; no UDFs, no driver loops.

Scale design:

- ``asof_join`` is the union-and-window form: tag both sides, union, one
  window over (key, time). ONE shuffle on the key, no pair explosion — the
  non-equi join form (``l JOIN r ON key AND r.t <= l.t`` + row_number)
  materializes O(|matches|) intermediate rows per key and Spark plans it as
  a broadcast-nested-loop unless the range condition is recognized; the
  union form is linear in input size regardless of time-range density. Hot
  keys cost a larger in-partition sort, not a skewed join.
- ``interval_join`` buckets time: intervals explode to the fixed-width
  buckets they cover, points compute one bucket, and the match is an
  equi-join on (keys…, bucket) + exact range filter. Each interval ships
  ceil(len/width)+1 copies; pick ``bucket_width`` near the typical interval
  length so replication stays O(1) per row. No cartesian, no range theta
  join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["asof_join", "interval_join"]


def _keys(on) -> list[str]:
    return [on] if isinstance(on, str) else list(on)


def _time_expr(df: DataFrame, col: str):
    """Exact ordering/arithmetic form of a time column: integer micros for
    timestamps (no double round-trip — sub-µs exact), the raw column for
    numeric times."""
    t = dict(df.dtypes)[col]
    if t == "timestamp_ntz":
        # unix_micros rejects NTZ; reinterpret in the session zone first
        # (engine pins UTC, so this is the identity instant mapping).
        return F.unix_micros(F.col(col).cast("timestamp"))
    if t.startswith("timestamp"):
        return F.unix_micros(F.col(col))
    return F.col(col)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on,
    left_time: str,
    right_time: str,
    right_tiebreak: str | None = None,
    matched_time_alias: str | None = None,
) -> DataFrame:
    """For each left row, attach the nearest right row per key at-or-before
    the left row's time (a backward as-of join); left rows without a match
    keep NULL right columns (left-join semantics).

    ``right`` must be pre-projected to: key columns, ``right_time``, and the
    payload columns to carry (whose names must not collide with ``left``'s).
    Ties on ``right_time`` resolve to the greatest ``right_tiebreak`` —
    pass a unique column for determinism. ``matched_time_alias``
    additionally exposes the matched right time.
    """
    keys = _keys(on)
    carried = [c for c in right.columns if c not in keys and c != right_time]
    clash = (set(carried) | {matched_time_alias}) & set(left.columns)
    if clash:
        raise ValueError(f"right payload columns collide with left: {sorted(clash)}")

    rtypes = dict(zip(right.schema.names, [f.dataType for f in right.schema.fields]))
    ltypes = dict(zip(left.schema.names, [f.dataType for f in left.schema.fields]))
    lpayload = [c for c in left.columns if c not in keys]
    rt_type = rtypes[right_time]

    lu = left.select(
        *keys,
        _time_expr(left, left_time).alias("__t"),
        F.lit(1).alias("__side"),
        *lpayload,
        *[F.lit(None).cast(rtypes[c]).alias(c) for c in carried],
        F.lit(None).cast(rt_type).alias("__rt"),
    )
    ru = right.select(
        *keys,
        _time_expr(right, right_time).alias("__t"),
        F.lit(0).alias("__side"),
        *[F.lit(None).cast(ltypes[c]).alias(c) for c in lpayload],
        *carried,
        F.col(right_time).alias("__rt"),
    )
    u = lu.unionByName(ru)

    tie_ord = []
    if right_tiebreak is not None:
        # NULL tiebreaks (the left rows) must not sort between right rows
        # and the left rows they should match; side asc already dominates.
        tie_ord = [F.col(right_tiebreak).asc_nulls_first()]
    # right rows (side 0) sort before left rows at equal time, so an
    # exactly-simultaneous right row matches.
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__t").asc(), F.col("__side").asc(), *tie_ord)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = {c: F.last(c, ignorenulls=True).over(w) for c in carried}
    matched["__rt"] = F.last("__rt", ignorenulls=True).over(w)

    out = u.select(*keys, "__t", "__side", *lpayload, *[v.alias(k) for k, v in matched.items()])
    out = out.filter(F.col("__side") == 1)

    if matched_time_alias is not None:
        out = out.withColumnRenamed("__rt", matched_time_alias)
    else:
        out = out.drop("__rt")
    return out.drop("__t", "__side")


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    on,
    point_time: str,
    start_col: str,
    end_col: str,
    bucket_width_us: int,
) -> DataFrame:
    """Inner-join each point to every interval (same keys) containing it:
    ``start <= t <= end`` (inclusive bounds). Equi-bucketed: intervals
    explode to covered fixed-width buckets, points compute one bucket, the
    join is equi on (keys…, bucket) and the exact range filter runs after.
    Each matching (point, interval) pair surfaces exactly once — a point
    lives in a single bucket, and an interval has one replica per bucket.

    ``bucket_width_us`` is microseconds for timestamp columns, the column's
    own units for numeric times. Pick it near the typical interval length:
    replication per interval is ceil(len/width)+1.
    """
    if bucket_width_us <= 0:
        raise ValueError("bucket_width_us must be positive")
    keys = _keys(on)
    clash = (set(intervals.columns) - set(keys)) & set(points.columns)
    if clash:
        raise ValueError(f"interval columns collide with points: {sorted(clash)}")

    def _bucket(df: DataFrame, col: str):
        # floor() on the exact integer micros: correct for negative epochs
        # too (integer `div` would truncate toward zero).
        return F.floor(_time_expr(df, col) / F.lit(bucket_width_us)).cast("long")

    p = points.withColumn("__b", _bucket(points, point_time))
    iv = intervals.withColumn(
        "__b",
        F.explode(
            F.sequence(_bucket(intervals, start_col), _bucket(intervals, end_col))
        ),
    )
    t = _time_expr(p, point_time)
    lo = _time_expr(iv, start_col)
    hi = _time_expr(iv, end_col)
    return (
        p.join(iv, keys + ["__b"])
        .filter((t >= lo) & (t <= hi))
        .drop("__b")
    )
