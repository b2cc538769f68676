"""Gap-based sessionization, plain and hot-key-safe.

``sessionize`` is the classic lag/flag/cumsum shape (one window per key —
the q15 plan). Its weakness at 100 TB is the same as the as-of join's: AQE
splits skewed JOIN partitions, not window partitions, so one hot key is
one straggler task.

``sessionize_bucketed`` is the two-phase variant (ARCHITECTURE.md "Hot
keys"): events sessionize locally inside (key, floor(ts/bucket)) — the hot
key becomes span/bucket parallel tasks — and only sessions that touch a
bucket edge within ``gap`` can possibly merge across buckets, so the
second, per-key pass runs over that small boundary subset (interior
sessions are provably final: an interior neighbor would have merged
locally). Correct for every bucket width (equivalence-tested); pick
``bucket`` >> gap so the boundary subset stays small.

Value sums accumulate in DECIMAL(25,6) end-to-end and cast to double once
at the end — two-phase summation is exactly associative in decimal, so the
output is bit-identical to the single-pass form (and to the DuckDB
oracle)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from liq_stream_spark.pins import pin

_DEC = "decimal(25,6)"


def _sessions_agg(grouped) -> DataFrame:
    return grouped.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("__ts").alias("session_start"),
        F.max("__ts").alias("session_end"),
        F.sum(F.col("__v").cast(_DEC)).alias("__vdec"),
    )


def _finish(df: DataFrame, keys: list[str]) -> DataFrame:
    w = W.partitionBy(*keys).orderBy("session_start", "session_end")
    return df.select(
        *keys,
        F.row_number().over(w).cast("long").alias("session_id"),
        "n_events",
        "session_start",
        "session_end",
        F.col("__vdec").cast("double").alias("session_value"),
    )


def sessionize(
    df: DataFrame,
    on: list[str] | str,
    ts_col: str,
    gap_seconds: int,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """One session row per (keys, session): ordinal id (by start time),
    event count, start/end, decimal-exact value sum."""
    keys = [on] if isinstance(on, str) else list(on)
    ev = df.select(
        *keys,
        F.col(ts_col).alias("__ts"),
        F.col(value_col).alias("__v"),
        F.col(tiebreak_col).alias("__tb"),
    )
    w = W.partitionBy(*keys).orderBy("__ts", "__tb")
    gap_us = F.unix_micros(F.col("__ts")) - F.unix_micros(
        F.lag("__ts").over(w)
    )
    flagged = ev.withColumn(
        "__new",
        F.when(
            F.lag("__ts").over(w).isNull()
            | (gap_us > gap_seconds * 1_000_000),
            1,
        ).otherwise(0),
    )
    numbered = flagged.withColumn(
        "__sid",
        F.sum("__new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return _finish(
        _sessions_agg(numbered.groupBy(*keys, "__sid")), keys
    )


def sessionize_bucketed(
    df: DataFrame,
    on: list[str] | str,
    ts_col: str,
    gap_seconds: int,
    value_col: str,
    tiebreak_col: str,
    bucket_seconds: int,
) -> DataFrame:
    """Output-equivalent to :func:`sessionize`; the event-level window
    partitions on (keys, time bucket) so a hot key parallelizes."""
    if bucket_seconds <= 0 or gap_seconds <= 0:
        raise ValueError("bucket_seconds and gap_seconds must be positive")
    keys = [on] if isinstance(on, str) else list(on)
    bucket_us = bucket_seconds * 1_000_000
    ev = df.select(
        *keys,
        F.col(ts_col).alias("__ts"),
        F.col(value_col).alias("__v"),
        F.col(tiebreak_col).alias("__tb"),
    ).withColumn("__b", F.floor(F.unix_micros(F.col("__ts")) / bucket_us))

    # phase 1: local sessionization inside each (keys, bucket)
    wl = W.partitionBy(*keys, "__b").orderBy("__ts", "__tb")
    gap_us = F.unix_micros(F.col("__ts")) - F.unix_micros(
        F.lag("__ts").over(wl)
    )
    numbered = ev.withColumn(
        "__new",
        F.when(
            F.lag("__ts").over(wl).isNull()
            | (gap_us > gap_seconds * 1_000_000),
            1,
        ).otherwise(0),
    ).withColumn(
        "__sid",
        F.sum("__new").over(
            wl.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    # the local-session frame feeds TWO consumers (interior + boundary)
    # and DataFrame lineage has no common-subexpression reuse — without
    # materialization the EVENT-level scan + shuffle + window runs twice,
    # which at 100 TB doubles the dominant cost of the operator. persist()
    # (not localCheckpoint) keeps the lineage in the plan: session rows
    # are orders of magnitude smaller than events, both union branches
    # read the same InMemoryRelation (the shared stage runs once), and an
    # executor loss recomputes from lineage instead of failing the query.
    local = pin(
        _sessions_agg(numbered.groupBy(*keys, "__b", "__sid")),
        keep_lineage=True,
    )

    # a session can cross a bucket edge only if it starts within `gap` of
    # its bucket's lower edge or ends within `gap` of the upper edge;
    # everything else is final as-is
    start_us = F.unix_micros(F.col("session_start"))
    end_us = F.unix_micros(F.col("session_end"))
    lower = F.col("__b") * bucket_us
    upper = (F.col("__b") + 1) * bucket_us
    is_boundary = (start_us - lower <= gap_seconds * 1_000_000) | (
        upper - end_us <= gap_seconds * 1_000_000
    )
    interior = local.filter(~is_boundary)
    boundary = local.filter(is_boundary)

    # phase 2: per-key chain merge over the SMALL boundary subset; a
    # false merge across an omitted interior session is impossible (the
    # interior session's neighbors are > gap away by construction)
    wm = W.partitionBy(*keys).orderBy("session_start", "session_end")
    merge_gap_us = F.unix_micros(F.col("session_start")) - F.unix_micros(
        F.lag("session_end").over(wm)
    )
    merged = (
        boundary.withColumn(
            "__new",
            F.when(
                F.lag("session_end").over(wm).isNull()
                | (merge_gap_us > gap_seconds * 1_000_000),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "__mid",
            F.sum("__new").over(
                wm.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .groupBy(*keys, "__mid")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.min("session_start").alias("session_start"),
            F.max("session_end").alias("session_end"),
            F.sum("__vdec").alias("__vdec"),
        )
    )
    cols = [*keys, "n_events", "session_start", "session_end", "__vdec"]
    return _finish(
        interior.select(*cols).unionByName(merged.select(*cols)), keys
    )
