"""Range (interval) join: rows at time t joined to intervals [start, end].

Spark has no native range join: ``l JOIN r ON l.t BETWEEN r.start AND
r.end`` plans as BroadcastNestedLoopJoin (or CartesianProduct) — an O(N*M)
scan that dies at scale. This operator is the standard bucketized
reformulation: intervals explode into the fixed-width time buckets they
cover, rows carry their single bucket, and the join is EQUI on
(keys..., bucket) with the exact range predicate as a post-filter. A row
occupies exactly one bucket, so a (row, interval) match is produced exactly
once — no dedup pass needed.

Scale: shuffle volume is rows + intervals x (len/bucket + 1); pick
``bucket_ms`` near the median interval length so most intervals explode
into ~2 buckets. Both sides shuffle on short integer keys; AQE handles
residual skew (a hot bucket) as an ordinary skewed equi-join, which is
exactly what AQE can split — unlike a nested-loop range join, which it
cannot. Extension operator (no reference analog; same family as
operators/asof.py)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from liq_stream_spark.pins import pin


def interval_join(
    rows: DataFrame,
    intervals: DataFrame,
    time_col: str,
    start_col: str,
    end_col: str,
    on: list[str] | str | None = None,
    bucket_ms: int = 3_600_000,
    how: str = "inner",
    suffix: str = "_interval",
) -> DataFrame:
    """Join ``rows`` to every interval with start <= t <= end (inclusive,
    matching SQL BETWEEN), optionally also matching equi-keys ``on``.

    Output: all ``rows`` columns plus the interval columns (``on`` keys
    appear once; an interval column whose name clashes with a row column
    gets ``suffix``). ``how`` is 'inner' or 'left' (left keeps rows
    matching no interval with NULL interval columns)."""
    if how not in ("inner", "left"):
        raise ValueError(f"interval_join: unsupported how={how!r}")
    if bucket_ms <= 0:
        raise ValueError("bucket_ms must be positive")
    keys = [on] if isinstance(on, str) else list(on or [])
    for k in keys:
        if k not in rows.columns or k not in intervals.columns:
            raise ValueError(f"equi-key {k!r} must exist on both sides")

    def ms(c: str) -> Column:
        return F.unix_millis(F.col(c).cast("timestamp"))

    b = F.lit(int(bucket_ms))
    ivals = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(F.floor(ms(start_col) / b), F.floor(ms(end_col) / b))
        ),
    )
    pts = rows.withColumn("__bucket", F.floor(ms(time_col) / b))

    if how == "left":
        # row identity for the re-entry of unmatched rows; never exposed
        # in the output. monotonically_increasing_id is only stable
        # within ONE evaluation, and the matched and anti-join branches
        # each evaluate this subtree — materialize it once so both read
        # the SAME id assignment (otherwise a nondeterministically
        # ordered input, e.g. round-robin repartition, gets different
        # ids per branch: unmatched rows lost, matched rows duplicated)
        pts = pin(pts.withColumn("__rid", F.monotonically_increasing_id()))

    cond = [pts["__bucket"] == ivals["__bucket"]] + [
        pts[k] == ivals[k] for k in keys
    ]
    joined = pts.join(ivals, cond, "inner").where(
        (pts[time_col] >= ivals[start_col])
        & (pts[time_col] <= ivals[end_col])
    )
    ival_payload = [c for c in intervals.columns if c not in keys]
    out_names = {
        c: (c + suffix if c in rows.columns else c) for c in ival_payload
    }
    matched = joined.select(
        *[pts[c] for c in rows.columns],
        *[ivals[c].alias(out_names[c]) for c in ival_payload],
        *([pts["__rid"]] if how == "left" else []),
    )
    if how == "inner":
        return matched
    # left: rows whose __rid never matched re-enter with NULL interval cols
    remainder = pts.join(
        matched.select("__rid").distinct(), "__rid", "left_anti"
    ).drop("__bucket")
    itypes = dict(intervals.dtypes)
    for c in ival_payload:
        remainder = remainder.withColumn(
            out_names[c], F.lit(None).cast(itypes[c])
        )
    return matched.unionByName(remainder).drop("__rid")
