"""Structured Streaming over the events table (beyond-reference surface —
the reference is pure batch; SURVEY §1.1 notes "no streams").

Each transformation is written once as a DataFrame->DataFrame function and
applied identically to a batch frame or a ``readStream`` frame — Spark's
unified API makes the batch twin the natural correctness oracle for the
streaming path (and the DuckDB oracle checks the batch twin).

Scale notes: watermarks bound state (late rows beyond the watermark are
dropped); the windowed aggregate state is partitioned by (window, key) so it
scales horizontally.  ``availableNow`` triggers give batch-like runs over a
growing directory without keeping a cluster hot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.readers import normalize_timestamps

# Every streaming operator here holds state for a 2-hour watermark on
# event time; the windowed aggregates count per hour.
_WATERMARK, _WINDOW = "2 hours", "1 hour"


def tumbling_counts(df: DataFrame) -> DataFrame:
    """Per-(hour, event_type) count + value sum.  Works batch or streaming."""
    if df.isStreaming:
        df = df.withWatermark("ts", _WATERMARK)
    return (
        df.groupBy(F.window("ts", _WINDOW).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            # decimal-cast sum: exact, order-independent (a parallel double
            # sum is nondeterministic in the last ulps) — then back to double
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_user_activity(df: DataFrame) -> DataFrame:
    """Distinct-user activity per hour window, sliding by 30 minutes
    (batch or streaming).

    Streaming mode uses ``approx_count_distinct`` (exact distinct over
    sliding state doesn't exist in streaming); batch mode is exact.
    """
    if df.isStreaming:
        df = df.withWatermark("ts", _WATERMARK)
        cnt = F.approx_count_distinct("user_id")
    else:
        cnt = F.countDistinct("user_id")
    return (
        df.groupBy(F.window("ts", _WINDOW, "30 minutes").alias("w"))
        .agg(cnt.alias("n_users"))
        .select(F.col("w.start").alias("window_start"), "n_users")
    )


def session_counts(df: DataFrame) -> DataFrame:
    """Per-user session windows (gap-merged), batch or streaming.

    ``F.session_window`` merges an event into the open session while it
    starts strictly before the previous event's ts+30 minutes; a gap of
    30 minutes or more closes the session.  State is keyed (session,
    user) so it scales horizontally; the watermark bounds open-session
    state in streaming.  The batch twin is the gaps-and-islands SQL the
    DuckDB oracle runs.
    """
    if df.isStreaming:
        df = df.withWatermark("ts", _WATERMARK)
    return (
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("user_id"),
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def click_purchase_join(
    df: DataFrame, watermark: str = _WATERMARK, how: str = "inner"
) -> DataFrame:
    """Stream-stream INNER INTERVAL JOIN: each purchase matched to the same
    user's clicks in the preceding 60 minutes — the canonical
    attribution join of an event pipeline.

    Batch and streaming share the code path; in streaming, BOTH sides carry
    a watermark and the join condition bounds event time on both sides, so
    Spark can evict click state once the watermark passes
    ``click_ts + 60 minutes`` (bounded state — without the time bound a
    stream-stream join would buffer both sides forever).  Inner-join
    matches emit in the micro-batch where they're found; the watermark
    governs state eviction and late-input drop, not emission latency.

    ``how="left_outer"`` keeps unmatched clicks: in streaming they emit
    (with NULL purchase columns) only once the watermark proves no
    in-window purchase can still arrive — the state-closure semantics
    unique to outer stream-stream joins.

    The BATCH twin routes through the binned ``interval_join``
    (``operators/rangejoin.py``) instead of a raw equi-join with a range
    conjunct: the raw form hash-partitions on ``user_id`` but degenerates
    to a per-user nested loop on hot users; the binned plan is a pure
    equi-join on ``(user_id, time-bin)`` that AQE can split like any
    other.  Streaming keeps the range conjunct — Spark's stream-stream
    join needs it verbatim to derive the state-eviction bound.

    Output: (click_id, purchase_id, user_id, delay_us).
    """
    if how not in ("inner", "left_outer"):
        # left_semi would drop the purchase columns this join projects
        raise ValueError(f"how must be inner or left_outer, got {how!r}")
    max_delay_minutes = 60
    df = normalize_timestamps(df)
    c = df.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    delay = (
        F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
    ).alias("delay_us")
    if not df.isStreaming:
        from ..operators.rangejoin import interval_join

        p_b = df.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        return interval_join(
            c,
            p_b,
            key="user_id",
            left_ts="click_ts",
            right_ts="purchase_ts",
            lower_s=0.0,
            upper_s=max_delay_minutes * 60.0,
            how=how,
            left_id="click_id",
        ).select("click_id", "purchase_id", "user_id", delay)
    p = df.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    c = c.withWatermark("click_ts", watermark)
    p = p.withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {max_delay_minutes} MINUTES")
        )
    )
    return c.join(p, cond, how).select(
        "click_id",
        "purchase_id",
        "user_id",
        delay,
    )


def enrich_with_dim(
    df: DataFrame,
    dim: DataFrame,
    stream_key,
    dim_key: str,
) -> DataFrame:
    """Stream-static enrichment join: each (micro-batch of) events joined
    to a slowly-changing dimension table.

    The canonical streaming-enrichment pattern: a stream-static equi-join
    is stateless (no watermark, no join state — the static side is simply
    re-joined per micro-batch, picking up dimension updates between
    triggers).  The dimension is broadcast (bounded by definition — a
    dimension that scales with the fact stream isn't a dimension), so each
    micro-batch is a map-only probe, no shuffle of the stream.  Works
    identically on a batch frame, which is the correctness oracle.

    ``stream_key`` is a Column expression (e.g. a derived foreign key);
    ``dim_key`` the dimension's key column name.
    """
    return df.join(
        F.broadcast(dim), stream_key == F.col(dim_key), "left_outer"
    ).drop(dim_key)


def dedup_events(df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Streaming-safe exact dedup on a key set (default: event_id).

    Streaming: ``dropDuplicatesWithinWatermark`` — the seen-key state is
    evicted once the watermark passes, so memory is bounded by the
    watermark horizon (a plain ``dropDuplicates`` on a stream would keep
    every key forever).  Batch: ordinary ``dropDuplicates``.  This is the
    streaming half of the dedup family in ``operators/dedup.py``.
    """
    keys = keys or ["event_id"]
    if df.isStreaming:
        return df.withWatermark("ts", _WATERMARK).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)
