"""Stream-stream interval join — watermarked join of two live streams.

[EXT] completes the Structured Streaming surface (send stream: M6;
windowed agg + sessionization: windows.py): correlate two UNBOUNDED
inputs — each click with the same user's errors within the following
5 minutes — where neither side can be staged as a static table.

State design (what makes this safe on an unbounded stream): both sides
are watermarked and the join condition bounds the event-time distance, so
Spark can evict buffered rows once the other side's watermark passes
``ts + interval`` — state is O(rate × interval), not O(stream length).
An unbounded-condition stream-stream join would grow state forever and is
the #1 streaming-join production mistake; the time-bound predicate here is
load-bearing, not decoration.

The batch twin of this exact semantics is ``rel_range_join`` (oracle-
gated); the streaming form is verified in tests as emitted ⊆ batch-result
with near-total coverage (late-beyond-watermark rows legitimately drop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

INTERVAL_S = 300
# both sides' watermark delay; the stream_outer_join oracle's final
# watermark is max event time minus this
JOIN_WATERMARK_S = 600
ENRICH_WINDOW_HOURS = 1
ENRICH_WATERMARK_HOURS = 2


def clicks_errors_join(events: DataFrame, how: str) -> DataFrame:
    """(click_id, user_id, click_ts, error_id, error_ts): each click
    paired with the same user's errors in [click_ts, click_ts+interval].

    ``how="inner"`` emits the matches only. ``how="left_outer"`` also
    emits every unmatched click, null-padded once the error-side
    watermark passes ``click_ts + interval`` and eviction proves no match
    can still arrive. The null-emission-on-eviction is the outer join's
    whole mechanism: it cannot emit earlier (a match might still come)
    and must emit on state timeout (else unmatched rows are lost)."""
    delay = f"{JOIN_WATERMARK_S} seconds"
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", delay)
    )
    errors = (
        events.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("error_ts"),
        )
        .withWatermark("error_ts", delay)
    )
    return clicks.join(
        errors,
        (F.col("c_user") == F.col("e_user"))
        & (F.col("error_ts") >= F.col("click_ts"))
        & (
            F.col("error_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {INTERVAL_S} SECOND")
        ),
        how,
    ).select(
        "click_id",
        F.col("c_user").alias("user_id"),
        "click_ts",
        "error_id",
        "error_ts",
    )


def enrich_with_segment(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-STATIC enrichment: join the live event stream to a static
    dimension (user → market segment), then a watermarked tumbling
    rollup per (window, segment).

    This is the other canonical streaming join: the static side is
    STATELESS — no buffering, no watermark on the dim, re-planned per
    micro-batch with the dim broadcast to every task (the forced
    ``F.broadcast`` is what a 1000-executor cluster wants for a dim that
    fits in memory; a huge dim would drop the hint and shuffle each
    micro-batch instead). Only the post-join aggregation keeps state,
    bounded by the watermark exactly as in windowed_event_counts.
    """
    dim = customers.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = events.withWatermark(
        "ts", f"{ENRICH_WATERMARK_HOURS} hours"
    ).join(F.broadcast(dim), "user_id")
    return (
        joined.groupBy(
            F.window("ts", f"{ENRICH_WINDOW_HOURS} hour").alias("win"),
            "c_mktsegment",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"),
                6,
            ).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "c_mktsegment",
            "n_events",
            "sum_value",
        )
    )
