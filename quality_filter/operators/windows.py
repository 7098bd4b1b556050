"""Ordered-stream operators — the video-path analogs (SURVEY §2.5).

The reference's predict_video_frames is a hand-rolled single-threaded
micro-batch engine: decimate frames, buffer aggregation_size scores,
aggregate (MEAN/MEDIAN/MAX/MIN), forward-fill onto every frame
(/root/reference/opennsfw2/_inference.py:155-243).  Here each piece is a
declarative window/group expression — Catalyst plans them, no Python.

All functions take (DataFrame, key/order columns) and are oracle-checkable
ANSI SQL (see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

# dispatch table = the Aggregation enum (/root/reference/opennsfw2/_inference.py:119-139);
# all four are Spark built-ins.
AGG_FNS = {
    "MEAN": F.avg,
    "MEDIAN": F.median,
    "MAX": F.max,
    "MIN": F.min,
}


def _rn(part: str, ts: str, tiebreak: str) -> Column:
    return F.row_number().over(
        W.partitionBy(part).orderBy(F.col(ts).asc(), F.col(tiebreak).asc())
    )


def decimate(df: DataFrame, part: str, ts: str, tiebreak: str, interval: int) -> DataFrame:
    """Keep row 1 and every interval-th row per partition — the frame
    decimation gate `frame_count == 1 or (frame_count + 1) % interval == 0`
    (/root/reference/opennsfw2/_inference.py:205) with frame_count = rn."""
    rn = _rn(part, ts, tiebreak)
    return (
        df.withColumn("rn", rn)
        .filter((F.col("rn") == 1) | (((F.col("rn") + 1) % interval) == 0))
        .drop("rn")
    )


def tumbling_count_agg(
    df: DataFrame, part: str, ts: str, tiebreak: str, value: str,
    size: int, aggregation: str = "MEAN",
) -> DataFrame:
    """Tumbling count-window aggregate: buffer `size` rows per partition,
    aggregate their values, emit one row per bucket — the
    aggregation_size buffer + reset (/root/reference/opennsfw2/_inference.py:210-216),
    stateless via bucket = floor((rn-1)/size)."""
    agg_fn = AGG_FNS[aggregation]
    rn = _rn(part, ts, tiebreak)
    return (
        df.withColumn("rn", rn)
        .withColumn("bucket", F.floor((F.col("rn") - 1) / size))
        .groupBy(part, "bucket")
        .agg(
            agg_fn(value).alias("agg_value"),
            F.count(F.lit(1)).alias("n_rows"),
            F.min(ts).alias("bucket_start"),
        )
    )


def tumbling_time_agg(df: DataFrame, ts: str, key: str, value: str, duration: str = "1 hour") -> DataFrame:
    """Event-time tumbling window (streaming-compatible groupBy(window))."""
    return (
        df.groupBy(F.window(F.col(ts), duration).alias("w"), F.col(key))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), key, "n_events", "sum_value")
    )


def hopping_time_agg(
    df: DataFrame, ts: str, value: str,
    window: str = "2 hours", slide: str = "1 hour",
) -> DataFrame:
    """Hopping (sliding) event-time window: each row contributes to
    window/slide overlapping windows.  F.window with a slide is the
    streaming-compatible form; the expansion happens inside the window
    operator, and the aggregate is still partial-then-final (shuffle is
    O(windows), not O(rows x overlap))."""
    return (
        df.groupBy(F.window(F.col(ts), window, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


def forward_fill(df: DataFrame, part: str, ts: str, tiebreak: str, value: Column, out: str = "filled") -> DataFrame:
    """Every row inherits the most recent non-null value, initial 0.0 —
    `last(ignorenulls) over rowsBetween(unboundedPreceding, 0)` +
    coalesce(0.0); the sparse-score forward fill
    (/root/reference/opennsfw2/_inference.py:178,218)."""
    w = (
        W.partitionBy(part)
        .orderBy(F.col(ts).asc(), F.col(tiebreak).asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return df.withColumn(out, F.coalesce(F.last(value, ignorenulls=True).over(w), F.lit(0.0)))


def sessionize(df: DataFrame, part: str, ts: str, tiebreak: str, gap_seconds: int) -> DataFrame:
    """Gap-based session ids: a new session starts when the time since the
    previous event exceeds the gap.  lag + cumulative sum of boundaries."""
    w = W.partitionBy(part).orderBy(F.col(ts).asc(), F.col(tiebreak).asc())
    prev_ts = F.lag(ts).over(w)
    new_sess = F.when(
        prev_ts.isNull()
        | (F.unix_timestamp(F.col(ts)) - F.unix_timestamp(prev_ts) > gap_seconds),
        1,
    ).otherwise(0)
    return df.withColumn("session_id", F.sum(new_sess).over(
        w.rowsBetween(W.unboundedPreceding, W.currentRow)
    ))


def topk_per_group(df: DataFrame, part: str, order: Column, tiebreak: str, k: int) -> DataFrame:
    """Top-k rows per group via row_number (SURVEY §2.10)."""
    w = W.partitionBy(part).orderBy(order, F.col(tiebreak).asc())
    return df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def asof_last_value(
    left: DataFrame, right: DataFrame, key: str, ts: str, tiebreak: str,
    value: str, out: str = "asof_value",
) -> DataFrame:
    """As-of join: for each left row, the latest right-row ``value`` with
    strictly earlier ``ts`` on the same key (no native asof in Spark —
    composed as union + ordered forward-fill, one shuffle on the key;
    at scale this beats a range join because state is a single value).

    Strictness: at equal ts, left rows sort BEFORE right rows, so a
    same-timestamp right row is not visible to the left row."""
    l_tag = left.select(
        F.col(key), F.col(ts), F.col(tiebreak),
        F.lit(None).cast("double").alias("_rv"), F.lit(1).alias("_is_left"),
    )
    r_tag = right.select(
        F.col(key), F.col(ts), F.col(tiebreak),
        F.col(value).cast("double").alias("_rv"), F.lit(0).alias("_is_left"),
    )
    merged = l_tag.unionByName(r_tag)
    w = (
        W.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("_is_left").desc(), F.col(tiebreak).asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = merged.withColumn(out, F.last("_rv", ignorenulls=True).over(w))
    return (
        filled.filter(F.col("_is_left") == 1)
        .select(key, ts, tiebreak, F.coalesce(out, F.lit(0.0)).alias(out))
    )


def global_order_positions(
    df: DataFrame, tier_col: str, key_col: str, tie_col: str
) -> DataFrame:
    """Exact 1-based global positions under ``ORDER BY (tier, key, tie)``
    WITHOUT a global sort — the curriculum-ordering primitive (a total
    training order over the corpus is a global sort by definition; this
    is the shape that survives it at 100 TB).

    Two-level rank: the first hex nibble of ``key_col`` (a hex digest)
    RANGE-partitions each tier into 16 ordered subshards — a prefix of
    the sort key, so ordering by (tier, nibble, key) equals ordering by
    (tier, key).  Level 1: row_number within (tier, nibble), every
    window bounded by a tier-sixteenth, all running in parallel.
    Level 2: subshard offsets from a map-side-combined count on the
    O(tiers x 16) DIMENSION (one tiny-task running sum), broadcast back.
    position = offset + within-rank.  Nothing corpus-sized ever sorts
    in one task; finer sharding is one more nibble."""
    from quality_filter.operators.dedup import _truncate_lineage

    nib = F.substring(F.col(key_col), 1, 1)
    # `base` feeds TWO branches (the rank window and the size agg).
    # Column pruning gives each branch a different exchange subtree, so
    # ReusedExchange never fires and the caller's upstream (e.g.
    # curriculum_order's regex-heavy feature scoring) would run twice —
    # truncate lineage once so both branches read the materialized slim
    # relation (review finding).  reliable=False is REQUIRED here, not
    # the dedup loops' auto-select: a lazy RELIABLE checkpoint does not
    # persist, so with a checkpoint dir set both branches would still
    # recompute upstream AND a third recompute would write the
    # checkpoint files — only localCheckpoint's MEMORY_AND_DISK persist
    # actually deduplicates the two consumers (second review pass).
    base = _truncate_lineage(
        df.withColumn("_nib", nib), eager=False, reliable=False
    )
    w_in = W.partitionBy(tier_col, "_nib").orderBy(
        F.col(key_col).asc(), F.col(tie_col).asc()
    )
    ranked = base.withColumn("_rn", F.row_number().over(w_in))
    sizes = base.groupBy(tier_col, "_nib").agg(
        F.count(F.lit(1)).cast("long").alias("_cnt")
    )
    # unpartitioned on purpose: one row per (tier, nibble), tiers x 16
    w_off = (
        W.orderBy(F.col(tier_col).asc(), F.col("_nib").asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = sizes.select(
        tier_col, "_nib",
        F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_off"),
    )
    return (
        ranked.join(F.broadcast(offsets), [tier_col, "_nib"])
        .withColumn("pos", (F.col("_off") + F.col("_rn")).cast("long"))
        .drop("_nib", "_rn", "_off")
    )
