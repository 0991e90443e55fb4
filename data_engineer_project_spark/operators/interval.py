"""Range (interval) join — match points to time intervals WITHOUT an
equi key, the second classic time-series operator Spark lacks as a
primitive (SURVEY custom-operator tier (a): composition of built-ins).
No counterpart in the reference (SURVEY §2.3: all joins equi/theta);
north-star extension for event analytics.

A bare ``points.join(intervals, (p >= s) & (p < e))`` has no equi
condition, so Spark plans a BroadcastNestedLoopJoin — O(n*m) work and
a single-node build side, which dies at 100 TB. The scale path here is
**bucketed equi-join**: quantize time into fixed-width buckets, explode
each interval to the bucket ids it overlaps (``sequence`` — a handful
per interval when width ~ interval length), tag each point with its
bucket, equi-join on the bucket id (plain shuffled hash/sort-merge
join, AQE-skew-aware), then apply the exact range predicate as a
residual filter. No dedup pass is needed because an interval lists each
overlapped bucket once and a point lives in exactly one bucket.

Interval semantics are half-open ``[start, end)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BUCKET = "__rj_bucket"


def _us(c: Column) -> Column:
    return F.unix_micros(c)


def range_join(
    intervals: DataFrame,
    points: DataFrame,
    start_col: str,
    end_col: str,
    point_ts: str,
    bucket_width: str = "1 hour",
    extra_keys: list[str] | None = None,
    how_points: str = "inner",
) -> DataFrame:
    """Join each ``points`` row to every ``intervals`` row whose
    ``[start_col, end_col)`` timestamp range contains ``point_ts``
    (optionally also matching on ``extra_keys`` equi columns, which
    tighten the shuffle key and shrink the residual). Column sets must
    be disjoint apart from ``extra_keys``. Returns intervals ⋈ points.

    ``bucket_width`` is a Spark interval literal; pick it near the
    typical interval length so each interval explodes to ~2 buckets.

    ``how_points`` is ``"inner"`` (drop points in no interval) or
    ``"left"`` (keep every point; interval columns null when no
    interval contains it). A residual-after-outer-join formulation
    would silently drop both null-extended rows and points whose only
    bucket candidates fail the exact predicate, so the left path is
    built as inner-match ∪ null-safe anti-join of the point side.

    The interval side is usually the probe side (the planner
    broadcasts whichever side is smaller), so its partitioning sets the
    parallelism of explode + probe + residual.
    """
    if how_points not in ("inner", "left"):
        raise ValueError(
            f"how_points must be 'inner' or 'left', got {how_points!r}"
        )
    width_us = F.lit(_interval_to_us(bucket_width))
    keys = extra_keys or []

    iv = intervals.withColumn(
        _BUCKET,
        F.explode(
            F.sequence(
                F.floor(_us(F.col(start_col)) / width_us),
                # end is exclusive: a zero-length or bucket-aligned end
                # never reaches the next bucket
                F.floor((_us(F.col(end_col)) - 1) / width_us),
            )
        ),
    )
    pt = points.withColumn(_BUCKET, F.floor(_us(F.col(point_ts)) / width_us))

    matched = (
        iv.join(pt, on=[_BUCKET, *keys], how="inner")
        .filter(
            (F.col(point_ts) >= F.col(start_col)) & (F.col(point_ts) < F.col(end_col))
        )
        .drop(_BUCKET)
    )
    if how_points == "inner":
        return matched

    # Left-points: identical point rows match identical intervals, so a
    # null-safe equi anti-join on the full point row (still a hash-able
    # shuffle join, no NLJ) recovers exactly the unmatched points —
    # including those whose bucket candidates all failed the residual.
    matched_points = matched.select(*points.columns).distinct()
    cond = None
    for c in points.columns:
        eq = points[c].eqNullSafe(matched_points[c])
        cond = eq if cond is None else (cond & eq)
    unmatched = points.join(matched_points, on=cond, how="left_anti")
    return matched.unionByName(unmatched, allowMissingColumns=True)


def _interval_to_us(spec: str) -> int:
    """Parse '<n> <unit>' into microseconds (seconds/minutes/hours/days)."""
    n_str, unit = spec.strip().split()
    per_us = {
        "second": 1_000_000,
        "seconds": 1_000_000,
        "minute": 60_000_000,
        "minutes": 60_000_000,
        "hour": 3_600_000_000,
        "hours": 3_600_000_000,
        "day": 86_400_000_000,
        "days": 86_400_000_000,
    }[unit.lower()]
    return int(n_str) * per_us
