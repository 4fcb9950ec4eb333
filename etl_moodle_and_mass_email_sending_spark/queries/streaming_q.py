"""Registered streaming queries (M6) + the batch sessionization twin.

The ``stream_*`` entries replay the events parquet through a real
Structured Streaming plan (availableNow) and return the memory-sink table.
For a BOUNDED single-file replay the incremental execution is
deterministic, so two of them carry exact SQL oracles after all:

- ``stream_windowed_counts``: the whole file lands in micro-batch 1 while
  the watermark is still 0 (nothing is late), and the final flush emits
  exactly the windows with ``window_end <= max(ts) - delay`` — expressible
  as a HAVING clause over the batch rollup (validated empirically at
  sf0.001 and sf0.01; the untestable edge is a window ending within 1 ms
  of the watermark, which hour-aligned windows never do).
- ``stream_interval_join``: an inner join whose inputs all arrive in
  batch 1 emits every matching pair — the plain batch interval join.

- ``stream_sessionize``: batch 1 closes-and-emits every gap-separated
  session except each user's final open one; the final watermark
  (``max(ts) − delay``, millisecond-truncated like Spark's event-time
  stats) then times out exactly the open sessions with
  ``session_end + gap < watermark``. Both sets are expressible over the
  batch gaps-and-islands CTE, so the streaming emission itself is
  hash-gated (validated empirically at sf0.001 and sf0.01; the untestable
  edge is a timeout landing within 1 ms of the watermark).
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.text import SQL_WORDS, sql_word_grams
from ..operators.util import scratch_dir
from ..registry import register
from ..streaming import joins
from ..streaming import windows as sw
from ..streaming.replay import drain, land_batch, replay, staged_chunks

GAP_SECONDS = 1800


def rel_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user gap-based sessions (30 min), batch form: a break flag via
    lag(), a running sum to number islands, then one aggregation. Two
    window passes + one groupBy, all on the same user_id partitioning —
    a single shuffle at scale."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", F.coalesce("value", F.lit(0.0)).alias("value")
    )
    byu = Window.partitionBy("user_id").orderBy("ts")
    marked = ev.withColumn(
        "brk",
        F.when(
            F.lag("ts").over(byu).isNull()
            | (
                F.col("ts").cast("double")
                - F.lag("ts").over(byu).cast("double")
                > GAP_SECONDS
            ),
            1,
        ).otherwise(0),
    )
    grp = marked.withColumn(
        "g", F.sum("brk").over(byu.rowsBetween(Window.unboundedPreceding, 0))
    )
    return grp.groupBy("user_id", "g").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    ).drop("g")


REL_SESSIONIZE_SQL = """
WITH base AS (
  -- ns→µs truncation BEFORE the window math, matching the engine's
  -- `ts DIV 1000` read path (testbed timestamps are not micro-aligned)
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, coalesce(value, 0) AS value
  FROM events
), marked AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS brk
  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), grp AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS g
  FROM marked
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events, round(sum(value), 6) AS sum_value
FROM grp GROUP BY user_id, g
"""


# The window rollups' durations (streaming/windows.py), as Spark
# duration strings and as DuckDB INTERVAL literals.
_WIN_SPARK = f"{sw.WINDOW_HOURS} hour"
_WM_SPARK = f"{sw.WATERMARK_HOURS} hours"
_WIN = f"INTERVAL {sw.WINDOW_HOURS} HOUR"
_WM = f"INTERVAL {sw.WATERMARK_HOURS} HOUR"


def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window rollup executed as a real stream."""
    ev = sw.stream_events(spark, sf_dir)
    agg = sw.windowed_event_counts(ev, _WIN_SPARK, _WM_SPARK)
    return sw.run_to_memory_sink(agg)


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful sessionization (applyInPandasWithState) as a real stream.
    ``sum_value`` is reported rounded to 6 decimals (like the batch twin):
    the raw total is a float accumulation in event order, and rounding
    makes the cross-engine hash independent of accumulation order."""
    ev = sw.stream_events(spark, sf_dir)
    sess = sw.sessionize(ev, gap_seconds=GAP_SECONDS)
    out = sw.run_to_memory_sink(sess)
    return out.withColumn("sum_value", F.round("sum_value", 6))


STREAM_WINDOWED_COUNTS_SQL = f"""
WITH base AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
), agg AS (
  SELECT time_bucket({_WIN}, ts) AS window_start,
         time_bucket({_WIN}, ts) + {_WIN} AS window_end,
         event_type, count(*) AS n_events,
         round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6)
           AS sum_value
  FROM base GROUP BY 1, 2, 3
)
-- append-mode emission for a bounded replay: only windows the final
-- watermark (max event time - {sw.WATERMARK_HOURS} h delay) has closed
SELECT * FROM agg
WHERE window_end <= (SELECT max(ts) - {_WM} FROM base)
"""

register("rel_sessionize", rel_sessionize, REL_SESSIONIZE_SQL)
register(
    "stream_windowed_counts", stream_windowed_counts,
    STREAM_WINDOWED_COUNTS_SQL,
)
# Emission model for the bounded replay (validated empirically at sf0.001
# and sf0.01): batch 1 emits all gap-closed sessions (rn > 1); the final
# watermark = max(ts) − 2 h (ms-truncated, matching Spark's event-time
# stats) times out open sessions whose end + gap precedes it. The ms
# arithmetic mirrors GroupState.setTimeoutTimestamp((end_us + gap_us) //
# 1000) — gap_us is a multiple of 1000, so epoch_ms(end) + gap_ms is
# exact, not an approximation.
STREAM_SESSIONIZE_SQL = f"""
WITH base AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, coalesce(value, 0) AS value
  FROM events
), marked AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch(ts) - epoch(lag(ts) OVER w) > {GAP_SECONDS}
              THEN 1 ELSE 0 END AS brk
  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), grp AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS g
  FROM marked
), sess AS (
  SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
         count(*) AS n_events, round(sum(value), 6) AS sum_value,
         row_number() OVER (PARTITION BY user_id ORDER BY max(ts) DESC) AS rn
  FROM grp GROUP BY user_id, g
), wm AS (SELECT epoch_ms(max(ts)) - {sw.SESSIONIZE_WATERMARK_SECONDS * 1000} AS w_ms
          FROM base)
SELECT user_id, session_start, session_end, n_events, sum_value
FROM sess, wm
WHERE rn > 1 OR epoch_ms(session_end) + {GAP_SECONDS * 1000} < w_ms
"""

register("stream_sessionize", stream_sessionize, STREAM_SESSIONIZE_SQL)


def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join executed as a real stream
    (batch twin with exact oracle: rel_range_join)."""
    ev = sw.stream_events(spark, sf_dir)
    joined = joins.clicks_errors_join(ev, "inner")
    # run_to_memory_sink sizes state partitions (VERDICT r11 item 5)
    return sw.run_to_memory_sink(joined)


STREAM_INTERVAL_JOIN_SQL = f"""
WITH c AS (
  SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS click_ts
  FROM events WHERE event_type = 'click'
), e AS (
  SELECT event_id AS error_id, user_id, CAST(ts AS TIMESTAMP) AS error_ts
  FROM events WHERE event_type = 'error'
)
SELECT c.click_id, c.user_id, c.click_ts, e.error_id, e.error_ts
FROM c JOIN e ON c.user_id = e.user_id
 AND e.error_ts >= c.click_ts
 AND e.error_ts <= c.click_ts + INTERVAL {joins.INTERVAL_S} SECOND
"""

register("stream_interval_join", stream_interval_join, STREAM_INTERVAL_JOIN_SQL)


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup (one emission per user/type/minute) as
    a real stream. Bounded single-batch replay ⇒ the emitted set is
    exactly the distinct keys — the SQL oracle below."""
    ev = sw.stream_events(spark, sf_dir)
    ded = sw.deduplicate_stream(ev)
    return sw.run_to_memory_sink(ded)


STREAM_DEDUP_SQL = """
SELECT DISTINCT user_id, event_type,
       CAST(date_trunc('minute', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS minute
FROM events
"""

register("stream_dedup", stream_dedup, STREAM_DEDUP_SQL)


def stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment (events ⋈ broadcast customer
    segment) + watermarked rollup, executed as a real stream. Bounded
    single-batch replay ⇒ append-mode emits exactly the windows the
    final watermark closed — the same emission rule stream_windowed_counts
    certifies, post-join."""
    ev = sw.stream_events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    enriched = joins.enrich_with_segment(ev, cust)
    return sw.run_to_memory_sink(enriched)


_ENRICH_WIN = f"INTERVAL {joins.ENRICH_WINDOW_HOURS} HOUR"
_ENRICH_WM = f"INTERVAL {joins.ENRICH_WATERMARK_HOURS} HOUR"
STREAM_ENRICH_SQL = f"""
WITH base AS (
  SELECT e.user_id, CAST(e.ts AS TIMESTAMP) AS ts, e.value, c.c_mktsegment
  FROM events e JOIN customer c ON e.user_id = c.c_custkey
), agg AS (
  SELECT time_bucket({_ENRICH_WIN}, ts) AS window_start,
         time_bucket({_ENRICH_WIN}, ts) + {_ENRICH_WIN} AS window_end,
         c_mktsegment, count(*) AS n_events,
         round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6)
           AS sum_value
  FROM base GROUP BY 1, 2, 3
)
SELECT * FROM agg
WHERE window_end <= (SELECT max(CAST(ts AS TIMESTAMP)) - {_ENRICH_WM}
                     FROM events)
"""

register("stream_enrich", stream_enrich, STREAM_ENRICH_SQL)


def stream_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE-output-mode streaming rollup — the dashboard/trending
    pattern: the whole aggregate table re-emits each micro-batch, so the
    memory sink always holds current totals (no watermark: complete mode
    retains all groups; fine for a bounded-cardinality key like
    event_type, wrong for unbounded keys — that's what the append-mode
    windowed rollups are for). Bounded replay ⇒ the final table is
    exactly the batch rollup."""
    ev = sw.stream_events(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 6
        ).alias("sum_value"),
    )
    return sw.run_to_memory_sink(agg, output_mode="complete")


STREAM_TRENDING_SQL = """
SELECT event_type, count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6)
         AS sum_value
FROM events GROUP BY event_type
"""

register("stream_trending", stream_trending, STREAM_TRENDING_SQL)


def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-window rollup (2 h window / 1 h slide) as a real stream —
    each event contributes to two overlapping panes; append-mode emits
    the panes the final watermark closed (same bounded-replay emission
    rule stream_windowed_counts certifies)."""
    ev = sw.stream_events(spark, sf_dir)
    agg = sw.windowed_event_counts(
        ev, _WM_SPARK, _WM_SPARK, slide_duration=_WIN_SPARK
    )
    return sw.run_to_memory_sink(agg)


STREAM_SLIDING_COUNTS_SQL = f"""
WITH base AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
), expanded AS (
  -- a 2h/1h sliding window assigns each event to exactly two panes:
  -- starts at floor_1h(ts) - 1h and floor_1h(ts)
  SELECT w.window_start, event_type, value
  FROM base,
       LATERAL (SELECT unnest([
         time_bucket({_WIN}, ts) - {_WIN},
         time_bucket({_WIN}, ts)
       ]) AS window_start) w
), agg AS (
  SELECT window_start, window_start + {_WM} AS window_end,
         event_type, count(*) AS n_events,
         round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6)
           AS sum_value
  FROM expanded GROUP BY 1, 2, 3
)
SELECT * FROM agg
WHERE window_end <= (SELECT max(ts) - {_WM} FROM base)
"""

register("stream_sliding_counts", stream_sliding_counts, STREAM_SLIDING_COUNTS_SQL)


def stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER watermarked stream-stream interval join as a real
    stream. Bounded-replay emission: inner matches land in batch 1;
    null-padded clicks emit in the final watermark-advance batch for
    every click whose join window the global watermark closed."""
    ev = sw.stream_events(spark, sf_dir)
    joined = joins.clicks_errors_join(ev, "left_outer")
    # run_to_memory_sink sizes state partitions (VERDICT r11 item 5)
    return sw.run_to_memory_sink(joined)


# Emission model for the bounded replay: the global watermark after the
# single data batch is min(max click_ts, max error_ts) − JOIN_WATERMARK_S
# (ms-truncated, matching Spark's event-time stats); a left row
# null-emits iff it has no match AND its join window closed:
# click_ts + INTERVAL_S < watermark.
STREAM_OUTER_JOIN_SQL = f"""
WITH c AS (
  SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS click_ts
  FROM events WHERE event_type = 'click'
), e AS (
  SELECT event_id AS error_id, user_id, CAST(ts AS TIMESTAMP) AS error_ts
  FROM events WHERE event_type = 'error'
), wm AS (
  SELECT least(
    (SELECT epoch_ms(max(click_ts)) FROM c),
    (SELECT epoch_ms(max(error_ts)) FROM e)
  ) - {joins.JOIN_WATERMARK_S * 1000} AS w_ms
), matched AS (
  SELECT c.click_id, c.user_id, c.click_ts, e.error_id, e.error_ts
  FROM c JOIN e ON c.user_id = e.user_id
   AND e.error_ts >= c.click_ts
   AND e.error_ts <= c.click_ts + INTERVAL {joins.INTERVAL_S} SECOND
)
SELECT * FROM matched
UNION ALL
SELECT c.click_id, c.user_id, c.click_ts,
       CAST(NULL AS BIGINT) AS error_id,
       CAST(NULL AS TIMESTAMP) AS error_ts
FROM c, wm
WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.click_id = c.click_id)
  AND epoch_ms(c.click_ts) + {joins.INTERVAL_S * 1000} < wm.w_ms
"""

register("stream_outer_join", stream_outer_join, STREAM_OUTER_JOIN_SQL)


def stream_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The foreachBatch lakehouse-MERGE pattern run as a real stream:
    drain the event stream through streaming/upsert_stream.py (per-batch
    latest-per-key reduction → idempotent snapshot merge) and return the
    final snapshot. For the bounded single-file replay every event lands
    in micro-batch 1, so the snapshot is exactly the batch latest-per-key
    — the SQL oracle (µs-truncated ts ordering, event_id tie-break, the
    same ordering the sink applies)."""
    from ..streaming import upsert_stream

    base = scratch_dir("ups_q_")
    snap = os.path.join(base, "snapshot")
    drain(
        sw.stream_events(spark, sf_dir),
        partial(upsert_stream.on_batch, snap),
        os.path.join(base, "ck"),
    )
    return spark.read.parquet(snap).select(
        "user_id", "event_id", "event_type", "value"
    )


STREAM_UPSERT_LATEST_SQL = """
SELECT user_id, event_id, event_type, value FROM (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
              ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""

register("stream_upsert_latest", stream_upsert_latest, STREAM_UPSERT_LATEST_SQL)


def stream_near_dup_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online MinHash-LSH near-dedup run as a REAL multi-batch stream:
    the dup corpus is staged as four arrival chunks (doc_id ranges,
    increasing mtimes) and replayed one file per trigger, so the
    band/signature index genuinely accumulates across micro-batches in
    streaming/neardup_stream.py. The admit/drop semantics are
    order-independent (dropped iff ANY smaller-doc_id near-dup exists,
    kept-or-dropped), so the exact batch oracle below holds regardless
    of how the replay batches — the staging only exercises the
    stateful-index path. The global-sort ntile here is staging harness,
    not operator: a production stream arrives pre-ordered by time."""
    from ..operators import dedup
    from ..streaming import neardup_stream

    base = scratch_dir("ndf_")
    corpus = dedup.dup_corpus(spark, sf_dir).select("doc_id", "text")
    # 2 arrival chunks (round 12, VERDICT r11 item 5): the minimum
    # that still exercises cross-batch index accumulation (batch 2
    # joins the stored index batch 1 appended). The 3rd/4th chunks of
    # the round-10 staging only re-paid checkpoint orchestration plus
    # ever-larger index re-reads (~5.5 s of the 9.7 s sweep entry)
    # without exercising anything new — the admit/drop semantics are
    # batch-count-independent (docstring above), and the pytest
    # equivalence-vs-batch test covers the multi-batch path.
    docs = replay(spark, corpus, "doc_id", 2, ("stage_ndf2", sf_dir))
    # 8 shuffle partitions for the per-batch LSH joins — the batches
    # are small slices; see state_shuffle (VERDICT r11 item 5)
    with sw.state_shuffle(spark, 8):
        drain(
            docs,
            partial(
                neardup_stream.on_batch,
                os.path.join(base, "store"),
                os.path.join(base, "out"),
            ),
            os.path.join(base, "ck"),
        )
    # drop the idempotency partition column (one per micro-batch)
    return spark.read.parquet(os.path.join(base, "out")).drop("batch_id")


def _near_dup_filter_sql() -> str:
    from ..operators import dedup

    pairs = dedup.sql_minhash_lsh_pairs(dedup.sql_dup_corpus())
    return f"""
    WITH pairs AS ({pairs}),
    agg AS (
      SELECT doc_b AS doc_id, count(*) AS n FROM pairs GROUP BY 1
    )
    SELECT c.doc_id,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n_earlier_dups,
           coalesce(a.n, 0) > 0 AS dropped
    FROM ({dedup.sql_dup_corpus()}) c LEFT JOIN agg a USING (doc_id)
    """


register(
    "stream_near_dup_filter",
    stream_near_dup_filter,
    _near_dup_filter_sql(),
)


def stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-count via HLL register max-merge
    (streaming/hll_stream.py), replayed as two real micro-batches
    (event_id-range chunks, increasing mtimes; round 12 — two is the
    minimum exercising the cross-batch merge). Register merge is
    order-independent, so the streamed sketch state — and therefore the
    estimate — is bit-identical to the batch sketch, which is what lets
    this approximate STREAMING aggregate hash-gate against the batch
    oracle exactly."""
    from ..streaming import hll_stream
    from ..operators import sketches

    base = scratch_dir("hll_q_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id"
    )
    stream = replay(spark, ev, "event_id", 2, ("stage_events", sf_dir))
    store = os.path.join(base, "store")
    drain(
        stream, partial(hll_stream.on_batch, store), os.path.join(base, "ck")
    )
    regs = spark.read.parquet(os.path.join(store, "regs"))
    return sketches.hll_estimate(regs, "event_type")


def _stream_hll_sql() -> str:
    from ..operators import sketches

    inner = sketches.sql_hll_distinct(
        "SELECT event_type, event_id FROM events", "event_type", "event_id"
    )
    return f"SELECT event_type, hll_estimate FROM ({inner})"


register("stream_hll_distinct", stream_hll_distinct, _stream_hll_sql())


def stream_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CMS frequency tracking (streaming/cms_stream.py):
    per-user event counts sketched into 1024 sum-merged counter cells
    across two real micro-batches (round 12), then point-queried for the fixed
    user_id 0..99 probe spine. Counter addition is order-independent,
    so the streamed table — and every probe — is bit-identical to the
    batch sketch (the additive sibling of stream_hll_distinct)."""
    from ..operators import sketches
    from ..streaming import cms_stream

    base = scratch_dir("cms_q_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id"
    )
    stream = replay(spark, ev, "event_id", 2, ("stage_events", sf_dir))
    store = os.path.join(base, "store")
    drain(
        stream, partial(cms_stream.on_batch, store), os.path.join(base, "ck")
    )
    counters = spark.read.parquet(os.path.join(store, "counters"))
    spine = spark.range(100).select(F.col("id").alias("user_id"))
    return sketches.cms_probe(counters, spine, "user_id")


def _stream_cms_sql() -> str:
    from ..functions.hashing import SEED_SEP
    from ..operators.sketches import CMS_ROWS, CMS_WIDTH

    bucket = (
        f"CAST('0x' || substr(md5(CAST(t.r AS VARCHAR) || '{SEED_SEP}' || "
        f"CAST(key AS VARCHAR)), 1, 8) AS BIGINT) % {CMS_WIDTH}"
    )
    return f"""
    WITH keyed AS (SELECT user_id AS key FROM events),
    cells AS (
      SELECT t.r, {bucket} AS bucket
      FROM keyed CROSS JOIN range({CMS_ROWS}) t(r)
    ),
    counters AS (
      SELECT r, bucket, count(*) AS cnt FROM cells GROUP BY 1, 2
    ),
    spine AS (SELECT unnest(generate_series(0, 99)) AS key),
    probe_cells AS (
      SELECT key, t.r, {bucket} AS bucket
      FROM spine CROSS JOIN range({CMS_ROWS}) t(r)
    ),
    est AS (
      SELECT p.key, min(coalesce(c.cnt, 0)) AS cms_estimate
      FROM probe_cells p
      LEFT JOIN counters c ON p.r = c.r AND p.bucket = c.bucket
      GROUP BY 1
    )
    SELECT key AS user_id, CAST(cms_estimate AS BIGINT) AS cms_estimate
    FROM est
    """


register("stream_cms_counts", stream_cms_counts, _stream_cms_sql())


def stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantile estimation from the bottom-k hash sample
    (streaming/sample_stream.py — the RANK-merge member of the
    mergeable-sketch trio): four real micro-batches maintain per-group
    samples + exact row counts, then nearest-rank p50/p90 come off the
    drained sample. The hash fraction is a pure key function, so the
    streamed sample equals the batch sample bit-for-bit and the batch
    oracle applies unchanged (minus its exact-quantile twin columns,
    which would need every value retained — the thing the sketch
    exists to avoid)."""
    from ..streaming import sample_stream

    base = scratch_dir("bks_q_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    # 2 chunks (round 12): the bottom-k sample is rank-mergeable and
    # bit-for-bit batch-count-independent (docstring above); two
    # batches still exercise the cross-batch store merge
    stream = replay(spark, ev, "event_id", 2, ("stage_events", sf_dir))
    store = os.path.join(base, "store")
    # 8 shuffle partitions for the light per-batch sample maintenance
    # (hash + filter + per-group bottom-k; state_shuffle rationale)
    with sw.state_shuffle(spark, 8):
        drain(
            stream,
            partial(sample_stream.on_batch, store),
            os.path.join(base, "ck"),
        )
    sample = spark.read.parquet(os.path.join(store, "sample"))
    counts = spark.read.parquet(os.path.join(store, "counts"))
    wr = Window.partitionBy("g").orderBy("_v", "_k")
    wn = Window.partitionBy("g")
    r = sample.withColumn("_r", F.row_number().over(wr)).withColumn(
        "_n", F.count("*").over(wn)
    )
    est = r.groupBy("g").agg(
        *[
            F.max(
                F.when(
                    F.col("_r")
                    == F.ceil(F.lit(qq) * F.col("_n")).cast("int"),
                    F.col("_v"),
                )
            ).alias(f"est_p{int(qq * 100)}")
            for qq in (0.5, 0.9)
        ]
    )
    return counts.join(est, on="g").select(
        F.col("g").alias("event_type"), "n_rows", "est_p50", "est_p90"
    )


def _stream_quantile_sql() -> str:
    from ..operators import sketches

    inner = sketches.sql_sample_quantiles(
        "SELECT event_type, event_id, value FROM events",
        "event_type", "event_id", "value",
    )
    return (
        "SELECT event_type, n_rows, est_p50, est_p90 "
        f"FROM ({inner})"
    )


register(
    "stream_quantile_sketch", stream_quantile_sketch, _stream_quantile_sql()
)


def stream_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming bloom watchlist (streaming/bloom_stream.py — the
    OR-merge member of the sketch-stream family): user_id bloom bucket
    ids union-distinct across two real micro-batches (round 12), then a fixed
    user_id 0..199 spine probes membership. Set union is idempotent and
    order-independent, so the streamed bitset — and every probe —
    matches the batch bloom exactly, no false negatives included."""
    from ..operators.sketches import _bloom_buckets
    from ..streaming import bloom_stream

    base = scratch_dir("blm_q_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id"
    )
    stream = replay(spark, ev, "event_id", 2, ("stage_events", sf_dir))
    store = os.path.join(base, "store")
    drain(
        stream, partial(bloom_stream.on_batch, store), os.path.join(base, "ck")
    )
    bits = spark.read.parquet(os.path.join(store, "bits"))
    spine = spark.range(200).select(F.col("id").alias("user_id"))
    probe = spine.select(
        "user_id",
        F.explode(_bloom_buckets(F.col("user_id"))).alias("bit"),
        F.size(_bloom_buckets(F.col("user_id"))).alias("_need"),
    )
    return (
        probe.join(
            bits.withColumn("_hit", F.lit(1)), on="bit", how="left"
        )
        .groupBy("user_id")
        .agg(
            F.max("_need").alias("_need"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("_got"),
        )
        .select(
            "user_id",
            F.col("_got").cast("int").alias("n_buckets_hit"),
            (F.col("_got") == F.col("_need")).alias("bloom_hit"),
        )
    )


def _stream_bloom_sql() -> str:
    from ..functions.hashing import SEED_SEP
    from ..operators.sketches import BLOOM_BITS, BLOOM_HASHES

    def bucket(r: int, key: str) -> str:
        return (
            f"CAST('0x' || substr(md5('{r}{SEED_SEP}' || "
            f"CAST({key} AS VARCHAR)), 1, 8) AS BIGINT) % {BLOOM_BITS}"
        )

    seen_arms = " UNION ALL ".join(
        f"SELECT {bucket(r, 'user_id')} AS bit FROM events "
        f"WHERE user_id IS NOT NULL"
        for r in range(BLOOM_HASHES)
    )
    probe_arms = " UNION ALL ".join(
        f"SELECT key, {bucket(r, 'key')} AS bit FROM spine"
        for r in range(BLOOM_HASHES)
    )
    return f"""
    WITH bits AS (SELECT DISTINCT bit FROM ({seen_arms})),
    spine AS (SELECT unnest(generate_series(0, 199)) AS key),
    probe AS (SELECT DISTINCT key, bit FROM ({probe_arms})),
    need AS (SELECT key, count(*) AS need FROM probe GROUP BY 1),
    got AS (
      SELECT p.key, count(b.bit) AS got
      FROM probe p LEFT JOIN bits b USING (bit)
      GROUP BY 1
    )
    SELECT n.key AS user_id,
           CAST(g.got AS INTEGER) AS n_buckets_hit,
           g.got = n.need AS bloom_hit
    FROM need n JOIN got g USING (key)
    """


register(
    "stream_bloom_membership", stream_bloom_membership, _stream_bloom_sql()
)


def stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online benchmark decontamination (round 8): the training docs
    replay as two arrival chunks (one file per trigger; round 12) through
    streaming/decon_stream.py's stateless foreachBatch filter; the
    benchmark slice's distinct n-gram set is the STATIC broadcast side.
    Docs arrive whole, so every verdict is complete within its batch
    and the exact batch oracle holds regardless of batching."""
    from ..operators import text_analysis
    from ..streaming import decon_stream

    base = scratch_dir("decon_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = (
        text_analysis.gram_stream(
            docs.filter(F.col("doc_id") % text_analysis.DECON_BENCH_MOD == 0)
        )
        .select("gram")
        .distinct()
    )
    train = docs.filter(
        F.col("doc_id") % text_analysis.DECON_BENCH_MOD != 0
    )
    drain(
        replay(spark, train, "doc_id", 2, ("stage_decon", sf_dir)),
        partial(decon_stream.on_batch, bench, os.path.join(base, "out")),
        os.path.join(base, "ck"),
    )
    # drop the idempotency partition column (decon_stream.py writes
    # one batch_id partition per micro-batch)
    return spark.read.parquet(os.path.join(base, "out")).drop(
        "batch_id"
    )


def _stream_decontaminate_sql() -> str:
    from ..operators import text_analysis as ta

    n, mod = ta.DECON_NGRAM, ta.DECON_BENCH_MOD
    grams = sql_word_grams("w", n)
    return f"""
    WITH tok AS (
      SELECT doc_id, {SQL_WORDS} AS w FROM documents
    ),
    e AS (SELECT doc_id, unnest({grams}) AS gram FROM tok),
    bench AS (SELECT DISTINCT gram FROM e WHERE doc_id % {mod} = 0),
    hits AS (
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS c
      FROM e t JOIN bench b USING (gram)
      WHERE t.doc_id % {mod} <> 0
      GROUP BY 1
    )
    SELECT t.doc_id,
           coalesce(h.c, 0) AS n_hit_ngrams,
           CAST(greatest(len(t.w) - {n - 1}, 0) AS BIGINT) AS n_grams,
           coalesce(h.c, 0) > 0 AS contaminated
    FROM tok t LEFT JOIN hits h USING (doc_id)
    WHERE t.doc_id % {mod} <> 0
    """


register(
    "stream_decontaminate",
    stream_decontaminate,
    _stream_decontaminate_sql(),
)


def stream_crawl_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online incremental crawl dedup (round 9): the synthetic new-crawl
    batch replays as four arrival chunks through
    streaming/crawl_dedup_stream.py's stateless foreachBatch scorer;
    the frozen snapshot's MinHash signature index is the STATIC side
    (session-staged — the same index the batch dedup_incremental
    uses). Verdicts are per-doc and depend only on (doc, index), so
    the exact batch oracle holds regardless of chunking."""
    from ..operators import dedup
    from ..streaming import crawl_dedup_stream
    from .llmdata import _staged_frozen_index

    base = scratch_dir("crawl_dedup_")
    incoming = dedup.new_crawl(spark, sf_dir).select("doc_id", "text")
    # 2 chunks (round 12, VERDICT r11 item 5): verdicts are per-doc vs
    # the STATIC index (docstring above — oracle batch-count-
    # independent); two batches keep the multi-batch streaming shape,
    # chunks 3/4 only re-paid checkpoint orchestration
    stream = replay(spark, incoming, "doc_id", 2, ("stage_crawl", sf_dir))
    # 8 shuffle partitions for the per-batch LSH scoring joins — each
    # batch is a quarter-slice vs the broadcast-sized static index
    # (state_shuffle rationale, VERDICT r11 item 5)
    with sw.state_shuffle(spark, 8):
        drain(
            stream,
            partial(
                crawl_dedup_stream.on_batch,
                _staged_frozen_index(spark, sf_dir),
                os.path.join(base, "out"),
            ),
            os.path.join(base, "ck"),
        )
    # drop the idempotency partition column
    return spark.read.parquet(os.path.join(base, "out")).drop("batch_id")


def _stream_crawl_dedup_sql() -> str:
    from ..operators import dedup

    return dedup.sql_incremental_dedup(
        "SELECT doc_id, text, lang FROM documents", dedup.sql_new_crawl()
    )


register(
    "stream_crawl_dedup",
    stream_crawl_dedup,
    _stream_crawl_dedup_sql(),
)


def stream_pii_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online PII scrubbing (round 9): the documents table replays as
    two arrival chunks (round 12) through streaming/pii_stream.py's stateless
    foreachBatch scrubber. Verdicts are per-doc (pure scan-transform),
    so the exact batch oracle holds regardless of chunking."""
    from ..streaming import pii_stream

    base = scratch_dir("pii_filter_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    drain(
        replay(spark, docs, "doc_id", 2, ("stage_pii_docs", sf_dir)),
        partial(pii_stream.on_batch, os.path.join(base, "out")),
        os.path.join(base, "ck"),
    )
    return spark.read.parquet(os.path.join(base, "out")).drop("batch_id")


def _stream_pii_filter_sql() -> str:
    from ..operators import text_analysis as ta

    scrub = ta.sql_scrub_pii("SELECT doc_id, text FROM documents")
    return f"""
    SELECT doc_id, n_emails, n_phones,
           (n_emails + n_phones) > 0 AS has_pii
    FROM ({scrub})
    """


register(
    "stream_pii_filter",
    stream_pii_filter,
    _stream_pii_filter_sql(),
)


def stream_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental table profiling (round 9): the events
    table replays as four arrival chunks; each micro-batch lands an
    algebraic partial profile (streaming/profile_stream.py), and the
    registered result is the merge — equal to the batch profile
    because every statistic is algebraic."""
    from ..streaming import profile_stream

    base = scratch_dir("profile_stream_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "props"
    )
    drain(
        replay(spark, ev, "event_id", 4, ("stage_profile_events", sf_dir)),
        partial(profile_stream.on_batch, os.path.join(base, "out")),
        os.path.join(base, "ck"),
    )
    partials = spark.read.parquet(os.path.join(base, "out")).drop(
        "batch_id"
    )
    return profile_stream.merge_partials(partials)


def _stream_profile_sql() -> str:
    from ..streaming.profile_stream import PROFILE_NUM, PROFILE_STR

    parts = []
    for c in PROFILE_NUM:
        parts.append(f"""
        SELECT '{c}' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) - count({c}) AS BIGINT) AS n_null,
               round(CAST(min({c}) AS DOUBLE), 6) AS min_val,
               round(CAST(max({c}) AS DOUBLE), 6) AS max_val,
               round(CAST(sum(CAST(round(CAST({c} AS DOUBLE), 6)
                                   AS DECIMAL(18,6))) AS DOUBLE)
                     / count({c}), 6) AS mean_val
        FROM events""")
    for c in PROFILE_STR:
        parts.append(f"""
        SELECT '{c}', CAST(count(*) AS BIGINT),
               CAST(count(*) - count({c}) AS BIGINT),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
               CAST(NULL AS DOUBLE)
        FROM events""")
    return " UNION ALL ".join(parts)


register("stream_profile", stream_profile, _stream_profile_sql())


def stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-arrival-batch drift readout (round 9): each of the four
    event chunks lands its per-event_type sufficient statistics
    (streaming/drift_stream.py); the report keeps chunks separate —
    per-chunk mean value next to its deviation from the all-time mean.
    The replay chunks by event_id ntile with increasing mtimes, so
    batch b IS chunk b+1 and the oracle reproduces the batching."""
    from ..streaming import drift_stream

    base = scratch_dir("drift_stream_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    drain(
        replay(spark, ev, "event_id", 4, ("stage_drift_events", sf_dir)),
        partial(drift_stream.on_batch, os.path.join(base, "out")),
        os.path.join(base, "ck"),
    )
    partials = spark.read.parquet(os.path.join(base, "out"))
    return drift_stream.drift_report(partials)


STREAM_DRIFT_MONITOR_SQL = """
WITH chunked AS (
  SELECT event_type, value,
         ntile(4) OVER (ORDER BY event_id) AS chunk
  FROM events
),
per AS (
  SELECT chunk, event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(value) AS BIGINT) AS nn,
         sum(CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)))
           AS sv
  FROM chunked GROUP BY 1, 2
)
SELECT CAST(chunk AS INTEGER) AS chunk, event_type, n_events,
       round(CAST(sv AS DOUBLE) / nn, 6) AS mean_value,
       round(CAST(sv AS DOUBLE) / nn
             - CAST(sum(sv) OVER (PARTITION BY event_type) AS DOUBLE)
               / sum(nn) OVER (PARTITION BY event_type), 6)
         AS delta_vs_global
FROM per
"""

register(
    "stream_drift_monitor",
    stream_drift_monitor,
    STREAM_DRIFT_MONITOR_SQL,
)


def stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming 3σ anomaly screen (round 9): each of the four event
    chunks scores its values against the accumulated prior chunks'
    sufficient statistics, then appends its own
    (streaming/anomaly_stream.py — the read-prior-then-append loop).
    Chunk 1 has no prior and carries NULL anomaly counts. The replay
    chunks by event_id ntile (same staged chunks as the drift
    monitor), so batch b IS chunk b+1 and the oracle reproduces the
    batching with windowed prior sums."""
    from ..streaming import anomaly_stream

    base = scratch_dir("anomaly_stream_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    drain(
        replay(spark, ev, "event_id", 4, ("stage_drift_events", sf_dir)),
        partial(
            anomaly_stream.on_batch,
            os.path.join(base, "store"),
            os.path.join(base, "flags"),
        ),
        os.path.join(base, "ck"),
    )
    flags = spark.read.parquet(os.path.join(base, "flags"))
    return anomaly_stream.anomaly_report(flags)


STREAM_ANOMALY_SQL = """
WITH chunked AS (
  SELECT event_type,
         round(CAST(value AS DOUBLE), 6) AS r,
         ntile(4) OVER (ORDER BY event_id) AS chunk
  FROM events
),
per AS (
  SELECT chunk, event_type,
         CAST(count(r) AS BIGINT) AS n,
         CAST(sum(CAST(r AS DECIMAL(15,6))) AS DECIMAL(28,6)) AS s,
         CAST(sum(CAST(r AS DECIMAL(15,6)) * CAST(r AS DECIMAL(15,6)))
              AS DECIMAL(38,12)) AS ss
  FROM chunked GROUP BY 1, 2
),
pri AS (
  SELECT chunk, event_type,
         sum(n) OVER w AS pn,
         CAST(sum(s) OVER w AS DECIMAL(28,6)) AS ps,
         CAST(sum(ss) OVER w AS DECIMAL(38,12)) AS pss
  FROM per
  WINDOW w AS (PARTITION BY event_type ORDER BY chunk
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
fl AS (
  SELECT c.chunk, c.event_type,
         CAST(count(c.r) AS BIGINT) AS n_events,
         CASE WHEN max(p.pn) IS NULL THEN NULL ELSE
           CAST(sum(CASE WHEN abs(c.r - CAST(p.ps AS DOUBLE) / p.pn)
                > 3e0 * sqrt(greatest(
                    CAST(p.pss AS DOUBLE) / p.pn
                    - (CAST(p.ps AS DOUBLE) / p.pn)
                      * (CAST(p.ps AS DOUBLE) / p.pn), 0e0))
                THEN 1 ELSE 0 END) AS BIGINT) END AS n_anomalies
  FROM chunked c JOIN pri p USING (chunk, event_type)
  GROUP BY 1, 2
)
SELECT CAST(chunk AS INTEGER) AS chunk, event_type, n_events,
       n_anomalies,
       round(CAST(n_anomalies AS DOUBLE) / n_events, 6)
         AS anomaly_rate
FROM fl
"""

register("stream_anomaly", stream_anomaly, STREAM_ANOMALY_SQL)


def stream_split_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming fan-out router (round 9): one document stream lands in
    a single Hive-partitioned sink partitioned by (source, batch_id) —
    per-source subdirectories a downstream per-source consumer can read
    with partition pruning, batch_id making every batch's write
    idempotent (retry overwrites its own partitions only). The report
    reads the sink back: per source, rows landed and how many distinct
    micro-batches contributed — the receipt a router publishes so
    consumers know both volume and arrival spread. The replay chunks by
    doc_id ntile, so batch b IS chunk b+1 and the oracle reproduces the
    batching."""
    base = scratch_dir("split_sink_")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    out = os.path.join(base, "routed")
    drain(
        replay(spark, docs, "doc_id", 4, ("stage_split_docs", sf_dir)),
        lambda batch_df, batch_id: land_batch(
            batch_df, batch_id, out, "source"
        ),
        os.path.join(base, "ck"),
    )
    routed = spark.read.parquet(out)
    return routed.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("batch_id").cast("bigint").alias("n_batches"),
    )


STREAM_SPLIT_SINK_SQL = """
WITH chunked AS (
  SELECT source, ntile(4) OVER (ORDER BY doc_id) AS chunk
  FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT chunk) AS BIGINT) AS n_batches
FROM chunked GROUP BY 1
"""

register("stream_split_sink", stream_split_sink, STREAM_SPLIT_SINK_SQL)


def stream_manifest_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental manifest maintenance (round 10, VERDICT r9 item 7c):
    the write-side twin of src_manifest_scan. The orders table replays
    as four arrival chunks; each micro-batch writes its per-month
    (min, max, count) PARTIALS into its own batch_id partition
    (idempotent under replay — counts never merge in place), and the
    live manifest is the associative read-time rollup
    (streaming/manifest_stream.py has the full contract). The replay
    chunks by (o_orderdate, o_orderkey) ntile — a total order — so
    batch b IS chunk b+1 and the oracle reproduces n_batches exactly."""
    from ..streaming import manifest_stream

    base = scratch_dir("mfing_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    stream = replay(
        spark,
        orders,
        F.struct("o_orderdate", "o_orderkey"),
        4,
        ("stage_manifest_ingest", sf_dir),
    )
    drain(
        stream,
        partial(manifest_stream.on_batch, os.path.join(base, "partials")),
        os.path.join(base, "ck"),
    )
    return manifest_stream.read_manifest(
        spark, os.path.join(base, "partials")
    )


STREAM_MANIFEST_INGEST_SQL = """
WITH chunked AS (
  SELECT o_orderdate,
         ntile(4) OVER (ORDER BY o_orderdate, o_orderkey) AS chunk
  FROM orders
)
SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER)
         AS file_mo,
       CAST(min(o_orderdate) AS TIMESTAMP) AS lo,
       CAST(max(o_orderdate) AS TIMESTAMP) AS hi,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT chunk) AS BIGINT) AS n_batches
FROM chunked GROUP BY 1
"""

register(
    "stream_manifest_ingest",
    stream_manifest_ingest,
    STREAM_MANIFEST_INGEST_SQL,
)


def stream_mixture_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture telemetry at ingest time (round 10): as document batches
    arrive, does the arriving token mix still match the temperature
    plan the mixture executor will sample to? Each micro-batch lands
    its per-source token partials in an idempotent batch_id partition;
    the report compares every batch's per-source token SHARE against
    the plan's capped achieved share — the alarm that fires when one
    crawl source floods an arrival window (the drift_monitor pattern
    pointed at mixture targets instead of value means). The replay
    chunks by doc_id ntile, so batch b IS chunk b+1 and the oracle
    reproduces the batching exactly."""
    from ..operators import text_analysis as ta

    base = scratch_dir("mixmon_")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    out = os.path.join(base, "partials")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        part = batch_df.groupBy("source").agg(
            F.sum(F.expr(ta._N_TOKS_SPARK)).cast("bigint").alias("toks")
        )
        land_batch(part, batch_id, out)

    drain(
        replay(spark, docs, "doc_id", 4, ("stage_mixmon_docs", sf_dir)),
        handle,
        os.path.join(base, "ck"),
    )
    partials = spark.read.parquet(out)
    # The temperature plan needs only per-source n_tokens, and every
    # document lands in exactly one micro-batch — so the plan arm
    # assembles from the landed partials' token sums instead of
    # re-running the token-split expression over the whole corpus a
    # second time (round 14, guide §1.2; the arithmetic below is
    # _mixture_plan's, fed by the identical integer token totals).
    per_src = partials.groupBy("source").agg(
        F.sum("toks").cast("bigint").alias("n_tokens")
    )
    powed = per_src.withColumn(
        "_p",
        F.pow(
            F.col("n_tokens").cast("double"),
            F.lit(1.0 / ta.MIX_TEMPERATURE),
        ),
    )
    totals = powed.agg(
        F.sum("n_tokens").alias("_tot"), F.sum("_p").alias("_ptot")
    )
    epochs = F.least(
        F.try_divide(
            (F.col("_p") / F.col("_ptot")) * F.col("_tot"),
            F.col("n_tokens"),
        ),
        F.lit(float(ta.MIX_MAX_EPOCHS)),
    )
    ach = powed.crossJoin(F.broadcast(totals)).withColumn(
        "_a", epochs * F.col("n_tokens")
    )
    atot = ach.agg(F.sum("_a").alias("_at"))
    target = ach.crossJoin(F.broadcast(atot)).select(
        "source", (F.col("_a") / F.col("_at")).alias("_ts")
    )
    btot = partials.groupBy("batch_id").agg(F.sum("toks").alias("_bt"))
    return (
        partials.join(btot, "batch_id")
        .join(F.broadcast(target), "source")
        .select(
            (F.col("batch_id") + 1).cast("int").alias("chunk"),
            "source",
            F.col("toks").cast("bigint").alias("batch_tokens"),
            F.round(F.col("toks") / F.col("_bt"), 6).alias("batch_share"),
            F.round(F.col("_ts"), 6).alias("target_share"),
            F.round(
                F.col("toks") / F.col("_bt") - F.col("_ts"), 6
            ).alias("deviation"),
        )
    )


def _stream_mixture_monitor_sql() -> str:
    from ..operators import text_analysis as ta

    inv_t = repr(1.0 / ta.MIX_TEMPERATURE)
    cap = repr(float(ta.MIX_MAX_EPOCHS))
    return f"""
    WITH chunked AS (
      SELECT source, CAST({ta._N_TOKS_DUCK} AS BIGINT) AS t,
             ntile(4) OVER (ORDER BY doc_id) AS chunk
      FROM documents
    ),
    per AS (
      SELECT chunk, source, CAST(sum(t) AS BIGINT) AS batch_tokens
      FROM chunked GROUP BY 1, 2
    ),
    btot AS (
      SELECT chunk, CAST(sum(batch_tokens) AS DOUBLE) AS bt
      FROM per GROUP BY 1
    ),
    agg AS (
      SELECT source, CAST(sum(t) AS BIGINT) AS n_tokens
      FROM chunked GROUP BY 1
    ),
    powed AS (
      SELECT *, pow(CAST(n_tokens AS DOUBLE), {inv_t}) AS p FROM agg
    ),
    tot AS (
      SELECT CAST(sum(n_tokens) AS DOUBLE) AS tt, sum(p) AS ptot
      FROM powed
    ),
    plan AS (
      SELECT source,
             least((p / ptot) * tt / n_tokens, {cap}) * n_tokens AS a
      FROM powed CROSS JOIN tot
    ),
    target AS (
      SELECT source, a / (SELECT sum(a) FROM plan) AS ts FROM plan
    )
    SELECT CAST(p.chunk AS INTEGER) AS chunk, p.source, p.batch_tokens,
           round(p.batch_tokens / b.bt, 6) AS batch_share,
           round(g.ts, 6) AS target_share,
           round(p.batch_tokens / b.bt - g.ts, 6) AS deviation
    FROM per p JOIN btot b USING (chunk) JOIN target g USING (source)
    """


register(
    "stream_mixture_monitor",
    stream_mixture_monitor,
    _stream_mixture_monitor_sql(),
)


def stream_fk_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming referential-integrity gate (round 10): each arriving
    order batch anti-joins the static customer dimension; rows whose
    FK resolves land, orphans are counted and quarantined — the ingest
    gate that keeps a broken upstream feed out of the fact table. The
    dimension is deliberately DEGRADED (c_custkey % 10 == 0 dropped)
    so the guard path actually fires on the testbed — a guard that
    never rejects demonstrates nothing. Per-batch receipts land in
    idempotent batch_id partitions; the replay chunks by o_orderkey
    ntile, so batch b IS chunk b+1 and the oracle reproduces the
    batching."""
    base = scratch_dir("fkg_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 != 0)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    out = os.path.join(base, "receipts")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        orphans = batch_df.join(dim, "o_custkey", "left_anti")
        receipt = batch_df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows")
        ).crossJoin(
            orphans.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orphan")
            )
        )
        land_batch(receipt, batch_id, out)

    drain(
        replay(spark, orders, "o_orderkey", 4, ("stage_fk_orders", sf_dir)),
        handle,
        os.path.join(base, "ck"),
    )
    r = spark.read.parquet(out)
    return r.select(
        (F.col("batch_id") + 1).cast("int").alias("chunk"),
        (F.col("n_rows") - F.col("n_orphan"))
        .cast("bigint")
        .alias("n_ok"),
        F.col("n_orphan").cast("bigint").alias("n_orphan"),
        F.round(F.col("n_orphan") / F.col("n_rows"), 6).alias(
            "orphan_rate"
        ),
    )


STREAM_FK_GUARD_SQL = """
WITH chunked AS (
  SELECT o_custkey, ntile(4) OVER (ORDER BY o_orderkey) AS chunk
  FROM orders
),
dim AS (SELECT c_custkey FROM customer WHERE c_custkey % 10 <> 0)
SELECT CAST(chunk AS INTEGER) AS chunk,
       CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM dim d
                                  WHERE d.c_custkey = o_custkey)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
       CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM dim d
                                  WHERE d.c_custkey = o_custkey)
                     THEN 0 ELSE 1 END) AS BIGINT) AS n_orphan,
       round(CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM dim d
                                        WHERE d.c_custkey = o_custkey)
                           THEN 0 ELSE 1 END) AS DOUBLE)
             / count(*), 6) AS orphan_rate
FROM chunked GROUP BY 1
"""

register("stream_fk_guard", stream_fk_guard, STREAM_FK_GUARD_SQL)


def stream_quarantine_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest quarantine (round 11): the staged JSONL drop
    (full documents table + 2 planted corrupt lines) arrives as a file
    stream, one file per micro-batch, each batch PERMISSIVE-parsed
    under the explicit contract schema; per-batch partial health rows
    (corrupt lines under __corrupt__) are summed into the whole-drop
    health report. Counts are additive, so the result is independent
    of how the files batch — the exact batch oracle
    (streaming/quarantine_stream.py has the architecture)."""
    from ..queries.llmdata import _staged_jsonl_drop
    from ..sources.jsonl import DOCUMENTS_JSONL_SCHEMA
    from ..streaming import quarantine_stream

    drop = _staged_jsonl_drop(spark, sf_dir)
    base = scratch_dir("quarantine_feed_")
    # ~4 micro-batches at ANY drop size: one-file-per-trigger would
    # scale batch COUNT (and its fixed checkpoint orchestration cost)
    # with the file count — measured 3.4x at 8x data — while an
    # autoloader in production batches many files per trigger. Counts
    # are additive, so the result is batching-independent either way.
    n_files = sum(
        1 for f in os.listdir(drop) if not f.startswith((".", "_"))
    )
    stream = (
        spark.readStream.schema(DOCUMENTS_JSONL_SCHEMA)
        .option("maxFilesPerTrigger", max(1, n_files // 4))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(drop)
    )
    drain(
        stream,
        partial(quarantine_stream.on_batch, os.path.join(base, "out")),
        os.path.join(base, "ck"),
    )
    return (
        spark.read.parquet(os.path.join(base, "out"))
        .groupBy("source")
        .agg(F.sum("n_docs").cast("bigint").alias("n_docs"))
    )


def _stream_quarantine_feed_sql() -> str:
    from ..queries.llmdata import N_PLANTED_CORRUPT

    return f"""
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY 1
    UNION ALL
    SELECT '__corrupt__' AS source,
           CAST({N_PLANTED_CORRUPT} AS BIGINT) AS n_docs
    """


register(
    "stream_quarantine_feed",
    stream_quarantine_feed,
    _stream_quarantine_feed_sql(),
)


def stream_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming IVF index maintenance (round 11): the incoming vector
    slice (vec_id % APPEND_MOD == 0, the ivf_append contract) replays
    as four arrival chunks; each micro-batch routes into the FROZEN
    index's centroids and lands its per-list partial counts in its own
    batch_id partition (streaming/ivf_stream.py). The receipt — old
    size, appended count, growth, post-ingest share, hot flag per
    list — is assembled from the summed partials and equals the batch
    ivf_append exactly (assignment is per-vector independent and
    counts are additive), so sql_ivf_append is the oracle verbatim."""
    from ..operators import similarity
    from ..operators.similarity import APPEND_MOD, append_receipt
    from ..streaming import ivf_stream

    v = similarity._vectors(spark, sf_dir).select("vec_id", "vec")
    frozen = v.filter(F.col("vec_id") % APPEND_MOD != 0)
    incoming = v.filter(F.col("vec_id") % APPEND_MOD == 0)
    cent = similarity._centroids(frozen).localCheckpoint()
    stream = replay(
        spark, incoming, "vec_id", 4, ("stage_ivf_incoming", sf_dir)
    )
    base = scratch_dir("ivf_append_feed_")
    drain(
        stream,
        partial(ivf_stream.on_batch, cent, os.path.join(base, "out")),
        os.path.join(base, "ck"),
    )
    new = (
        spark.read.parquet(os.path.join(base, "out"))
        .groupBy("cid")
        .agg(F.sum("n_new").cast("bigint").alias("n_new"))
    )
    old = (
        similarity.ivf_assign(frozen, cent, n_best=1)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_old"))
    )
    return append_receipt(old, new)


from ..operators.similarity import sql_ivf_append as _sql_ivf_append

register("stream_ivf_append", stream_ivf_append, _sql_ivf_append())


def _enriched_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The schema-drift feed: events with a CONSTRUCTED props JSON
    document — base keys (k, t, u) on every row, a 'legacy' key only
    on the oldest fifth of the stream (event_id·5 < max) and an 'exp'
    key only on the newest fifth (event_id·5 > max·4). The planted
    drift makes the monitor's new-key and missing-key paths actually
    fire on the testbed (the stream_fk_guard degraded-dimension
    lesson: a monitor that never alarms demonstrates nothing); the
    thresholds are event_id ranges, so the 2-chunk event_id-ntile
    replay puts 'legacy' only in batch 1 and 'exp' only in batch 2."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    mx = ev.agg(F.max("event_id").alias("_mx"))
    return (
        ev.crossJoin(F.broadcast(mx))
        .select(
            "event_id",
            F.concat(
                F.lit('{"k": 1, "t": "'),
                F.col("event_type"),
                F.lit('", "u": '),
                F.col("user_id").cast("string"),
                F.when(
                    F.col("event_id") * 5 < F.col("_mx"),
                    F.lit(', "legacy": 1'),
                ).otherwise(F.lit("")),
                F.when(
                    F.col("event_id") * 5 > F.col("_mx") * 4,
                    F.lit(', "exp": 1'),
                ).otherwise(F.lit("")),
                F.lit("}"),
            ).alias("props"),
        )
    )


def stream_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming JSON schema-drift monitor (round 12): each arriving
    batch's props documents are introspected (json_object_keys — the
    schema-registry primitive for opaque JSON columns) into a per-key
    prevalence partial; the readout compares every batch's key set
    against the FIRST batch's baseline — 'new' keys (appeared after
    the baseline: the upstream added a field without telling anyone)
    and 'missing' keys (a baseline key absent from this batch: the
    upstream dropped or renamed one). Per-batch partials land in
    idempotent batch_id partitions; batches are event_id-ntile chunks,
    so the oracle reproduces the batching exactly.

    100 TB shape: the per-batch work is explode(keys) → hash agg to a
    VOCABULARY-sized (key, count) frame — map-side partial, bounded by
    the JSON schema not the stream; the readout joins bounded key
    frames only. A production deployment points the same readout at a
    schema-registry table instead of batch 0."""
    base = scratch_dir("schdrift_")
    feed = _enriched_props(spark, sf_dir)
    out = os.path.join(base, "partials")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        part = (
            batch_df.select(
                F.explode(F.expr("json_object_keys(props)")).alias("key")
            )
            .groupBy("key")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        )
        land_batch(part, batch_id, out)

    drain(
        replay(spark, feed, "event_id", 2, ("stage_schema_drift", sf_dir)),
        handle,
        os.path.join(base, "ck"),
    )
    present = spark.read.parquet(out).select("batch_id", "key", "n_rows")
    baseline = (
        present.filter(F.col("batch_id") == 0)
        .select("key")
        .withColumn("_base", F.lit(1))
    )
    spine = (
        present.select("batch_id").distinct()
        .crossJoin(F.broadcast(baseline))
    )
    merged = spine.join(present, ["batch_id", "key"], "full_outer")
    status = (
        F.when(F.col("_base").isNull(), F.lit("new"))
        .when(F.col("n_rows").isNull(), F.lit("missing"))
        .otherwise(F.lit("ok"))
    )
    return merged.select(
        (F.col("batch_id") + 1).cast("int").alias("chunk"),
        "key",
        status.alias("status"),
        F.coalesce("n_rows", F.lit(0)).cast("bigint").alias("n_rows"),
    )


STREAM_SCHEMA_DRIFT_SQL = """
WITH mx AS (SELECT max(event_id) AS m FROM events),
feed AS (
  SELECT event_id,
         '{"k": 1, "t": "' || event_type || '", "u": ' ||
         CAST(user_id AS VARCHAR) ||
         CASE WHEN event_id * 5 < m THEN ', "legacy": 1' ELSE '' END ||
         CASE WHEN event_id * 5 > m * 4 THEN ', "exp": 1' ELSE '' END ||
         '}' AS props,
         ntile(2) OVER (ORDER BY event_id) AS chunk
  FROM events CROSS JOIN mx
),
keyed AS (
  SELECT chunk, unnest(json_keys(props)) AS key FROM feed
),
present AS (
  SELECT chunk, key, CAST(count(*) AS BIGINT) AS n_rows
  FROM keyed GROUP BY 1, 2
),
baseline AS (SELECT key FROM present WHERE chunk = 1),
spine AS (
  SELECT c.chunk, b.key
  FROM (SELECT DISTINCT chunk FROM present) c CROSS JOIN baseline b
),
merged AS (
  SELECT coalesce(s.chunk, p.chunk) AS chunk,
         coalesce(s.key, p.key) AS key,
         s.key IS NOT NULL AS in_base, p.n_rows
  FROM spine s FULL OUTER JOIN present p
    ON s.chunk = p.chunk AND s.key = p.key
)
SELECT CAST(chunk AS INTEGER) AS chunk, key,
       CASE WHEN NOT in_base THEN 'new'
            WHEN n_rows IS NULL THEN 'missing'
            ELSE 'ok' END AS status,
       CAST(coalesce(n_rows, 0) AS BIGINT) AS n_rows
FROM merged
"""

register("stream_schema_drift", stream_schema_drift, STREAM_SCHEMA_DRIFT_SQL)


def stream_backfill_handoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-backfill → streaming-tail handoff (round 12) — the
    lambda/kappa cutover every re-ingestion runs: a batch job owns
    history (arrival chunks 1–3), the stream starts from a checkpoint
    BEFORE the batch high-water mark (chunks 3–4, so chunk 3 arrives
    on BOTH paths — the deliberate overlap that makes the cutover safe
    against a gap), and the serving union must still be exactly-once:
    stream rows whose event_id the batch already owns are dropped by
    an anti-join (batch wins). The receipt proves it per event_type:
    batch rows, stream arrivals, overlap dropped, net stream rows, and
    the exactly-once verdict (total == batch + net == the table).

    100 TB shape: the streamed tail lands append-only in idempotent
    batch_id partitions; the anti-join keys on event_id — in
    production both sides are bucketed/partitioned on the same key so
    the anti-join is co-located, and the batch side prunes to the
    overlap window (here the overlap chunk) rather than scanning
    history. Receipts are |event_type| rows."""
    base = scratch_dir("handoff_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type"
    )
    key = ("stage_backfill", sf_dir)
    batch_side = spark.read.parquet(
        *staged_chunks(ev, "event_id", 4, key)[:3]
    )
    out = os.path.join(base, "tail")
    drain(
        replay(spark, ev, "event_id", 4, key, first_chunk=3),
        partial(land_batch, path=out),
        os.path.join(base, "ck"),
    )
    tail = spark.read.parquet(out).select("event_id", "event_type")
    batch_keys = batch_side.select("event_id")
    net = tail.join(batch_keys, "event_id", "left_anti")
    dropped = tail.join(batch_keys, "event_id", "left_semi")
    b = batch_side.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batch")
    )
    arr = tail.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_stream_arrived")
    )
    dr = dropped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_overlap_dropped")
    )
    nt = net.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_stream_net")
    )
    expect = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("_expected")
    )
    return (
        b.join(arr, "event_type", "full_outer")
        .join(dr, "event_type", "full_outer")
        .join(nt, "event_type", "full_outer")
        .join(expect, "event_type", "full_outer")
        .select(
            "event_type",
            F.coalesce("n_batch", F.lit(0)).cast("bigint").alias(
                "n_batch"
            ),
            F.coalesce("n_stream_arrived", F.lit(0))
            .cast("bigint")
            .alias("n_stream_arrived"),
            F.coalesce("n_overlap_dropped", F.lit(0))
            .cast("bigint")
            .alias("n_overlap_dropped"),
            F.coalesce("n_stream_net", F.lit(0)).cast("bigint").alias(
                "n_stream_net"
            ),
            (
                F.coalesce("n_batch", F.lit(0))
                + F.coalesce("n_stream_net", F.lit(0))
            )
            .cast("bigint")
            .alias("n_total"),
            (
                F.coalesce("n_batch", F.lit(0))
                + F.coalesce("n_stream_net", F.lit(0))
                == F.coalesce("_expected", F.lit(0))
            ).alias("exactly_once"),
        )
    )


STREAM_BACKFILL_HANDOFF_SQL = """
WITH chunked AS (
  SELECT event_type,
         ntile(4) OVER (ORDER BY event_id) AS chunk
  FROM events
)
SELECT event_type,
       CAST(coalesce(sum(CASE WHEN chunk <= 3 THEN 1 END), 0) AS BIGINT)
         AS n_batch,
       CAST(coalesce(sum(CASE WHEN chunk >= 3 THEN 1 END), 0) AS BIGINT)
         AS n_stream_arrived,
       CAST(coalesce(sum(CASE WHEN chunk = 3 THEN 1 END), 0) AS BIGINT)
         AS n_overlap_dropped,
       CAST(coalesce(sum(CASE WHEN chunk = 4 THEN 1 END), 0) AS BIGINT)
         AS n_stream_net,
       CAST(count(*) AS BIGINT) AS n_total,
       coalesce(sum(CASE WHEN chunk <= 3 THEN 1 END), 0)
         + coalesce(sum(CASE WHEN chunk = 4 THEN 1 END), 0)
         = count(*) AS exactly_once
FROM chunked GROUP BY 1
"""

register(
    "stream_backfill_handoff",
    stream_backfill_handoff,
    STREAM_BACKFILL_HANDOFF_SQL,
)


# --------------------------------------------------------------------------
# stream_state_ttl (round 13) — keyed-state TTL eviction audit, the
# state-hygiene twin of stream_upsert_latest: a stream keeping per-key
# state (here: each user's last-seen timestamp) must EVICT keys idle
# longer than the TTL or the state store grows without bound — the
# single most common production streaming-job death. Each micro-batch
# merges arrivals into the state, drops every key whose last_ts has
# fallen more than TTL behind the batch high-water mark, and emits the
# audit row operations actually watches: arrivals, genuinely-new keys
# (an evicted key that returns counts as NEW again — the state forgot
# it, exactly like a real TTL'd store), active keys after eviction,
# and keys evicted this batch.
#
# 100 TB shape: state is O(live keys), bounded by the TTL x arrival
# rate regardless of stream length; the per-batch work is one
# hash-agg of the batch + one key-join against the state table (both
# sides keyed on user_id — co-located in production). The audit is a
# 1-row aggregate per batch. The oracle unrolls the 4-batch recursion
# exactly (state_k depends on state_{k-1}), so the replay chunk count
# is part of the contract, not incidental.
# --------------------------------------------------------------------------

STATE_TTL_HOURS = 36
STATE_TTL_CHUNKS = 4


def stream_state_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("state_ttl_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    out = os.path.join(base, "audit")
    prev_state: list[str | None] = [None]  # driver-side: batches run sequentially

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # one full-outer join carries per-row provenance (_p = was in
        # the prior state, _a = arrived this batch), so the state write
        # AND every audit count read the one checkpointed frame — the
        # union+groupBy form re-scanned the batch twice more for
        # n_arrived / n_new (round 14, guide §1.2: don't recompute what
        # one pass already knows). max(prev, arriv) == greatest(): the
        # full-outer join leaves at most one side NULL and both engines'
        # greatest() skips NULLs.
        arriv = batch_df.groupBy("user_id").agg(
            F.max("ts").alias("_a_ts"),
            F.max(F.lit(True)).alias("_am"),
        )
        if prev_state[0] is None:
            prev = spark.createDataFrame(
                [], schema="user_id bigint, last_ts timestamp"
            )
        else:
            prev = spark.read.parquet(prev_state[0])
        bmax = batch_df.agg(F.max("ts").alias("_bmax"))
        flagged = (
            prev.withColumn("_pm", F.lit(True))
            .join(arriv, "user_id", "full_outer")
            .select(
                "user_id",
                F.greatest("last_ts", "_a_ts").alias("_lt"),
                F.coalesce("_pm", F.lit(False)).alias("_p"),
                F.coalesce("_am", F.lit(False)).alias("_a"),
            )
            .crossJoin(F.broadcast(bmax))
            .withColumn(
                "_active",
                # Empty batch => _bmax is NULL: the high-water mark did
                # not advance, so nothing can newly expire — carry the
                # whole state forward instead of letting the NULL
                # comparison drop every row (ADVICE r13). The oracle's
                # coalesce mirrors this.
                F.col("_bmax").isNull()
                | (
                    F.col("_lt")
                    >= F.expr(f"_bmax - INTERVAL {STATE_TTL_HOURS} HOURS")
                ),
            )
            .localCheckpoint()  # one evaluation feeds state write + audit
        )
        state_path = os.path.join(base, f"state_v{batch_id}")
        flagged.filter(F.col("_active")).select(
            "user_id", F.col("_lt").alias("last_ts")
        ).write.mode("overwrite").parquet(state_path)
        audit = flagged.agg(
            F.coalesce(F.sum(F.col("_a").cast("long")), F.lit(0))
            .cast("bigint")
            .alias("n_arrived"),
            F.coalesce(
                F.sum((F.col("_a") & ~F.col("_p")).cast("long")), F.lit(0)
            )
            .cast("bigint")
            .alias("n_new"),
            F.coalesce(F.sum(F.col("_active").cast("long")), F.lit(0))
            .cast("bigint")
            .alias("n_active"),
            F.coalesce(F.sum((~F.col("_active")).cast("long")), F.lit(0))
            .cast("bigint")
            .alias("n_evicted"),
        ).withColumn("chunk", F.lit(batch_id + 1).cast("int"))
        land_batch(audit, batch_id, out)
        prev_state[0] = state_path

    stream = replay(
        spark,
        ev,
        F.struct("ts", "event_id"),
        STATE_TTL_CHUNKS,
        ("stage_state_ttl", sf_dir),
    )
    drain(stream, handle, os.path.join(base, "ck"))
    return spark.read.parquet(out).select(
        "chunk", "n_arrived", "n_new", "n_active", "n_evicted"
    )


def _stream_state_ttl_sql() -> str:
    """Exact 4-batch unroll of the TTL-state recursion: state_k =
    TTL-filtered merge of state_{k-1} and chunk k's arrivals."""
    n, ttl = STATE_TTL_CHUNKS, STATE_TTL_HOURS
    ctes = [
        f"""e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             ntile({n}) OVER (ORDER BY CAST(ts AS TIMESTAMP), event_id)
               AS chunk
      FROM events
    ),
    arr AS (SELECT chunk, user_id, max(ts) AS last_ts
            FROM e GROUP BY 1, 2),
    b AS (SELECT chunk, max(ts) AS bmax FROM e GROUP BY 1),
    s0 AS (SELECT CAST(NULL AS BIGINT) AS user_id,
                  CAST(NULL AS TIMESTAMP) AS last_ts
           WHERE false)"""
    ]
    rows = []
    for k in range(1, n + 1):
        ctes.append(
            f"""c{k} AS (
      SELECT user_id, max(last_ts) AS last_ts FROM (
        SELECT user_id, last_ts FROM s{k - 1}
        UNION ALL
        SELECT user_id, last_ts FROM arr WHERE chunk = {k}
      ) GROUP BY 1
    ),
    s{k} AS (
      -- empty chunk => no b row => coalesce to last_ts: carry the
      -- state forward (matches the Spark side's NULL-bmax guard)
      SELECT c.user_id, c.last_ts FROM c{k} c
      WHERE c.last_ts >= coalesce(
        (SELECT bmax FROM b WHERE chunk = {k}) - INTERVAL {ttl} HOUR,
        c.last_ts)
    )"""
        )
        rows.append(
            f"""SELECT {k} AS chunk,
           (SELECT count(*) FROM arr WHERE chunk = {k}) AS n_arrived,
           (SELECT count(*) FROM arr a WHERE a.chunk = {k}
              AND NOT EXISTS (SELECT 1 FROM s{k - 1} p
                              WHERE p.user_id = a.user_id)) AS n_new,
           (SELECT count(*) FROM s{k}) AS n_active,
           (SELECT count(*) FROM c{k}) - (SELECT count(*) FROM s{k})
             AS n_evicted"""
        )
    body = "\n    UNION ALL\n    ".join(rows)
    return f"""
    WITH {", ".join(ctes)}
    SELECT CAST(chunk AS INTEGER) AS chunk,
           CAST(n_arrived AS BIGINT) AS n_arrived,
           CAST(n_new AS BIGINT) AS n_new,
           CAST(n_active AS BIGINT) AS n_active,
           CAST(n_evicted AS BIGINT) AS n_evicted
    FROM ({body})
    """


register("stream_state_ttl", stream_state_ttl, _stream_state_ttl_sql())


# --------------------------------------------------------------------------
# stream_rate_limit (round 14) — token-bucket admission audit, the
# distributed generalization of the reference's send throttle
# (app.py:972-976 sleeps 1s per message, SURVEY §2 K4): a downstream
# sink that accepts at most `tokens` rows per micro-batch forces the
# stream to admit FIFO and carry the overflow as a backlog. Each batch:
# the bucket refills (capped), the batch's arrivals join the carried
# backlog, the first `admitted` rows in (ts, event_id) order pass, the
# rest persist as the new backlog. The audit row per batch is what a
# rate-limited pipeline actually alarms on: arrivals, admissions,
# deferred backlog depth, and the admitted value mass.
#
# 100 TB shape: the backlog is bounded by (arrival rate − admit rate) ×
# replay horizon — the audit EXISTS to show when that bound is
# violated; per batch the work is one union + a top-`admitted`
# sort-limit (admitted ≤ RATE_CAP, a small constant, so
# TakeOrderedAndProject runs per-partition top-K + a driver merge of
# |partitions|·cap rows — NO exchange, no data-sized sort) and one
# boundary-filtered pass that writes the carry-over backlog. Chunks
# arrive as ts-ordered ranges, so FIFO across the backlog equals the
# global (ts, event_id) order — which is what makes the exact 4-chunk
# oracle below expressible as a rank-slice per chunk. The per-batch
# `.count()` is a bounded scalar the bucket arithmetic needs on the
# driver (same class as state_ttl's sequential-orchestration scalars).
# --------------------------------------------------------------------------

RATE_CAP = 300  # bucket capacity (max admissions in one batch)
RATE_REFILL = 200  # tokens added per batch (binds at every testbed sf)
RATE_CHUNKS = 4


def stream_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from decimal import Decimal as _Dec

    base = scratch_dir("rate_limit_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    out = os.path.join(base, "audit")
    # Round 15 (VERDICT r14 item 6, guide §1.2/§2.4): the per-batch
    # backlog parquet write+read cycle is GONE. Admission is FIFO over
    # the global (ts, event_id) order and the staged chunks are ordered
    # RANGES of that same key (every backlog row precedes every newly
    # arrived row), so the rows ever admitted form a PREFIX of the
    # global stream; the token bucket admits <= RATE_CAP per batch, so
    # across the whole replay at most RATE_CHUNKS * RATE_CAP rows
    # (1200 — a driver-bounded constant, not data-sized) ever
    # contribute to admitted_value. The driver therefore carries the
    # still-unadmitted head of that prefix as a bounded buffer of
    # exact integer cents: each batch appends its own smallest
    # (total_cap - seen) rows (one TakeOrderedAndProject collect of a
    # narrow column — no exchange), admission slices the buffer, and
    # backlog/deferred counts stay pure arithmetic. Per batch the
    # Spark work is one count + one bounded top-K collect + the 1-row
    # audit write; the previous form additionally wrote and re-read a
    # DATA-SIZED backlog parquet every batch. admitted_value stays
    # bit-identical: DECIMAL(18,2) -> cents is lossless, Python
    # big-int addition is exact like Spark's decimal Sum, and both
    # paths round exactly once in the final decimal->double
    # conversion. (events.ts is non-null by the staged contract; the
    # buffer rows arrive pre-ordered by the same (ts, event_id) sort
    # the chunk staging used, so no boundary comparison exists to
    # desync on a NULL — ADVICE r14's boundary-filter hazard is
    # structurally gone.)
    total_cap = RATE_CHUNKS * RATE_CAP
    state = {"left": 0, "seen": 0, "cum_adm": 0, "buf": []}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        n_arrived = batch_df.count()
        n_backlog = state["seen"] - state["cum_adm"]
        take = max(0, total_cap - state["seen"])
        if take > 0 and n_arrived > 0:
            rows = (
                batch_df.orderBy("ts", "event_id")
                .limit(take)
                .select("v")
                .collect()
            )
            # DECIMAL(18,2) -> exact integer cents (scaleb(2) of a
            # 2-dp decimal is integral)
            state["buf"].extend(
                0 if r["v"] is None else int(r["v"].scaleb(2))
                for r in rows
            )
        state["seen"] += n_arrived
        tokens = min(RATE_CAP, state["left"] + RATE_REFILL)
        admitted = min(n_backlog + n_arrived, tokens)
        state["left"] = tokens - admitted
        # the admitted slice lives entirely in the buffer: cumulative
        # admissions never exceed total_cap, and the buffer holds
        # every still-unadmitted row of the first total_cap global
        # rows seen so far
        if admitted > len(state["buf"]):
            raise RuntimeError(
                "rate-limit head buffer underflow: staged replay produced "
                "more batches than RATE_CHUNKS"
            )
        n_admitted = admitted
        cents = sum(state["buf"][:admitted])
        del state["buf"][:admitted]
        state["cum_adm"] += admitted
        # exact cents -> Decimal -> double: one correctly-rounded
        # conversion, identical to Spark's Sum(decimal) cast to double
        admitted_value = float(_Dec(cents).scaleb(-2))
        audit = spark.createDataFrame(
            [
                (
                    batch_id + 1,
                    n_arrived,
                    n_admitted,
                    n_backlog + n_arrived - admitted,
                    admitted_value,
                )
            ],
            schema=(
                "chunk int, n_arrived bigint, n_admitted bigint, "
                "n_deferred bigint, admitted_value double"
            ),
        )
        land_batch(audit, batch_id, out)

    stream = replay(
        spark,
        ev,
        F.struct("ts", "event_id"),
        RATE_CHUNKS,
        ("stage_rate_limit", sf_dir),
    )
    drain(stream, handle, os.path.join(base, "ck"))
    return spark.read.parquet(out).select(
        "chunk", "n_arrived", "n_admitted", "n_deferred", "admitted_value"
    )


def _stream_rate_limit_sql() -> str:
    """Exact 4-chunk unroll of the token-bucket recursion; admitted
    rows per chunk are a global-rank slice because chunks are
    ts-ordered ranges (backlog rows always precede arrivals)."""
    n, cap, refill = RATE_CHUNKS, RATE_CAP, RATE_REFILL
    ctes = [
        f"""e AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
             CAST(value AS DECIMAL(18,2)) AS v,
             ntile({n}) OVER (ORDER BY CAST(ts AS TIMESTAMP), event_id)
               AS chunk,
             row_number() OVER (ORDER BY CAST(ts AS TIMESTAMP), event_id)
               AS rk
      FROM events
    ),
    cn AS (SELECT chunk, CAST(count(*) AS BIGINT) AS n_k
           FROM e GROUP BY 1)""",
        "t0 AS (SELECT 0 AS left_over, 0 AS backlog, 0 AS cum_adm)",
    ]
    rows = []
    for k in range(1, n + 1):
        ctes.append(
            f"""t{k} AS (
      SELECT nk.n_k,
             tk.tokens - least(p.backlog + nk.n_k, tk.tokens)
               AS left_over,
             p.backlog + nk.n_k
               - least(p.backlog + nk.n_k, tk.tokens) AS backlog,
             p.cum_adm + least(p.backlog + nk.n_k, tk.tokens)
               AS cum_adm,
             p.cum_adm AS prev_cum
      FROM t{k - 1} p,
           (SELECT coalesce((SELECT n_k FROM cn WHERE chunk = {k}), 0)
              AS n_k) nk,
           LATERAL (SELECT least({cap}, p.left_over + {refill})
                      AS tokens) tk
    )"""
        )
        rows.append(
            f"""SELECT CAST({k} AS INTEGER) AS chunk,
           CAST(t.n_k AS BIGINT) AS n_arrived,
           CAST(t.cum_adm - t.prev_cum AS BIGINT) AS n_admitted,
           CAST(t.backlog AS BIGINT) AS n_deferred,
           CAST(coalesce((SELECT sum(v) FROM e
                  WHERE rk > t.prev_cum AND rk <= t.cum_adm), 0)
                AS DOUBLE) AS admitted_value
    FROM t{k} t"""
        )
    body = "\n    UNION ALL\n    ".join(rows)
    return f"""
    WITH {", ".join(ctes)}
    {body}
    """


register("stream_rate_limit", stream_rate_limit, _stream_rate_limit_sql())


# --------------------------------------------------------------------------
# stream_cdc_apply (round 14) — the streaming twin of rel_cdc_merge
# (the pattern every batch/stream pair in the registry follows:
# dedup/stream_dedup, ivf_append/stream_ivf_append): the changelog
# arrives in (key, seq)-ordered chunks, the snapshot is carried as
# keyed state across micro-batches, and each batch applies a MERGE —
# batch-final-op-per-key wins (struct-max on seq, same contract as the
# batch twin), classification is against the state AS OF the batch
# start (an UPSERT landing in batch k makes a later DELETE in batch
# k+1 a real delete; a same-batch U,D pair compresses to a noop on an
# absent key). The audit row per batch is the CDC lag dashboard's
# input: op volume, per-action counts, and the post-batch table
# size/value mass.
#
# 100 TB shape: per batch one hash-agg on the key + one keyed join
# against the state table (co-located in production; the full-state
# parquet swap here is the bounded-chunk replay stand-in, as in
# stream_state_ttl); the audit is a 1-row aggregate. The oracle needs
# no recursion: present/current-value after chunk k is a closed-form
# predicate over (in_base, u_chunk, d_chunk) because a key sees at
# most one UPSERT then at most one DELETE.
# --------------------------------------------------------------------------

CDC_STREAM_CHUNKS = 4


def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .windows import CDC_BASE_MOD, CDC_CHG_MOD, CDC_DEL_MOD

    base_dir = scratch_dir("cdc_apply_")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
    )
    chg_src = o.filter(F.col("o_orderkey") % CDC_CHG_MOD != 4)
    ops = (
        chg_src.select(
            "o_orderkey",
            F.explode(
                F.array(
                    F.struct(
                        F.lit(1).alias("seq"),
                        F.lit("UPSERT").alias("op"),
                        (F.col("v") + F.lit(10)).alias("val"),
                    ),
                    F.struct(
                        F.lit(2).alias("seq"),
                        F.when(
                            F.col("o_orderkey") % CDC_DEL_MOD == 0,
                            F.lit("DELETE"),
                        ).alias("op"),
                        F.lit(None).cast("decimal(19,2)").alias("val"),
                    ),
                )
            ).alias("_op"),
        )
        .filter(F.col("_op.op").isNotNull())
        .select("o_orderkey", "_op.seq", "_op.op", "_op.val")
    )
    out = os.path.join(base_dir, "audit")
    # seed state: the base snapshot, staged once per session
    from ..operators.util import staged_path

    def _seed(d: str) -> None:
        o.filter(F.col("o_orderkey") % CDC_BASE_MOD != 3).select(
            "o_orderkey", F.col("v").cast("decimal(19,2)").alias("val")
        ).write.parquet(os.path.join(d, "state"))

    seed_dir = staged_path(spark, ("cdc_seed_state", sf_dir), _seed)
    state = {"path": os.path.join(seed_dir, "state")}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        prev = spark.read.parquet(state["path"])
        # per-key op count rides the MERGE dedup agg and survives the
        # state join, so the audit's n_ops needs no separate count()
        # job per batch
        fin = batch_df.groupBy("o_orderkey").agg(
            F.max(F.struct("seq", "op", "val")).alias("_f"),
            F.count(F.lit(1)).alias("_n"),
        ).select(
            "o_orderkey",
            F.col("_f.op").alias("op"),
            F.col("_f.val").alias("nval"),
            "_n",
        )
        joined = prev.join(fin, "o_orderkey", "full_outer").select(
            "o_orderkey",
            "val",
            "op",
            "nval",
            F.coalesce("_n", F.lit(0)).alias("_n"),
            F.when(F.col("op").isNull(), F.lit("keep"))
            .when(
                F.col("val").isNotNull() & (F.col("op") == "DELETE"),
                F.lit("delete"),
            )
            .when(F.col("val").isNotNull(), F.lit("update"))
            .when(F.col("op") == "DELETE", F.lit("noop_delete"))
            .otherwise(F.lit("insert"))
            .alias("action"),
        ).localCheckpoint()  # one evaluation feeds counts + state write
        new_state = joined.filter(
            F.col("action").isin("keep", "update", "insert")
        ).select(
            "o_orderkey",
            F.when(
                F.col("action") == "keep", F.col("val")
            ).otherwise(F.col("nval")).alias("val"),
        )
        state_path = os.path.join(base_dir, f"state_v{batch_id}")
        new_state.write.mode("overwrite").parquet(state_path)
        state["path"] = state_path
        # ONE aggregate over the checkpointed join computes the op
        # counts AND the post-batch table size/value mass — `keep` rows
        # contribute _n = 0 and match no action bucket, and the
        # post-state rows/values are exactly the keep/update/insert
        # rows' carried-or-new val, so the former read-back aggregate
        # over the just-written state parquet was a second full scan of
        # state-sized data per batch computing already-known sums
        # (round 14, guide §1.2).
        surviving = F.col("action").isin("keep", "update", "insert")
        new_val = F.when(F.col("action") == "keep", F.col("val")).when(
            F.col("action").isin("update", "insert"), F.col("nval")
        )
        audit = joined.agg(
            F.coalesce(F.sum("_n"), F.lit(0)).cast("bigint").alias("n_ops"),
            *[
                F.coalesce(
                    F.sum((F.col("action") == a).cast("long")), F.lit(0)
                )
                .cast("bigint")
                .alias(f"n_{a}")
                for a in ("insert", "update", "delete", "noop_delete")
            ],
            F.coalesce(F.sum(surviving.cast("long")), F.lit(0))
            .cast("bigint")
            .alias("rows_after"),
            F.coalesce(F.sum(new_val), F.lit(0))
            .cast("double")
            .alias("value_after"),
        ).select(
            F.lit(batch_id + 1).cast("int").alias("chunk"),
            "n_ops",
            "n_insert",
            "n_update",
            "n_delete",
            F.col("n_noop_delete").alias("n_noop"),
            "rows_after",
            "value_after",
        )
        land_batch(audit, batch_id, out)

    stream = replay(
        spark,
        ops,
        F.struct("o_orderkey", "seq"),
        CDC_STREAM_CHUNKS,
        ("stage_cdc_apply", sf_dir),
    )
    drain(stream, handle, os.path.join(base_dir, "ck"))
    return spark.read.parquet(out).select(
        "chunk",
        "n_ops",
        "n_insert",
        "n_update",
        "n_delete",
        "n_noop",
        "rows_after",
        "value_after",
    )


def _stream_cdc_apply_sql() -> str:
    from .windows import CDC_BASE_MOD, CDC_CHG_MOD, CDC_DEL_MOD

    n = CDC_STREAM_CHUNKS
    return f"""
    WITH o AS (
      SELECT o_orderkey AS k,
             CAST(o_totalprice AS DECIMAL(18,2)) AS v
      FROM orders
    ),
    base AS (SELECT k, v FROM o WHERE k % {CDC_BASE_MOD} <> 3),
    chg AS (
      SELECT k, 1 AS seq, 'UPSERT' AS op, v + 10 AS val
      FROM o WHERE k % {CDC_CHG_MOD} <> 4
      UNION ALL
      SELECT k, 2, 'DELETE', NULL
      FROM o WHERE k % {CDC_CHG_MOD} <> 4 AND k % {CDC_DEL_MOD} = 0
    ),
    co AS (SELECT *, ntile({n}) OVER (ORDER BY k, seq) AS chunk
           FROM chg),
    keyops AS (
      SELECT k,
             min(CASE WHEN op = 'UPSERT' THEN chunk END) AS u_chunk,
             min(CASE WHEN op = 'DELETE' THEN chunk END) AS d_chunk,
             max(CASE WHEN op = 'UPSERT' THEN val END) AS uval
      FROM co GROUP BY 1
    ),
    kb AS (
      SELECT ko.k, ko.u_chunk, ko.d_chunk, ko.uval,
             b.k IS NOT NULL AS in_base
      FROM keyops ko LEFT JOIN base b USING (k)
    ),
    cls AS (
      SELECT c.chunk, kb.k,
             CASE WHEN kb.d_chunk = c.chunk THEN 'D' ELSE 'U' END
               AS fin,
             (kb.in_base OR coalesce(kb.u_chunk < c.chunk, FALSE))
               AND NOT coalesce(kb.d_chunk < c.chunk, FALSE)
               AS present
      FROM (SELECT DISTINCT chunk, k FROM co) c JOIN kb USING (k)
    ),
    percls AS (
      SELECT chunk,
        CAST(coalesce(sum(CASE WHEN fin = 'U' AND NOT present
                           THEN 1 END), 0) AS BIGINT) AS n_insert,
        CAST(coalesce(sum(CASE WHEN fin = 'U' AND present
                           THEN 1 END), 0) AS BIGINT) AS n_update,
        CAST(coalesce(sum(CASE WHEN fin = 'D' AND present
                           THEN 1 END), 0) AS BIGINT) AS n_delete,
        CAST(coalesce(sum(CASE WHEN fin = 'D' AND NOT present
                           THEN 1 END), 0) AS BIGINT) AS n_noop
      FROM cls GROUP BY 1
    ),
    allkeys AS (
      SELECT b.k, TRUE AS in_base, b.v AS bv,
             ko.u_chunk, ko.d_chunk, ko.uval
      FROM base b LEFT JOIN keyops ko USING (k)
      UNION ALL
      SELECT ko.k, FALSE, NULL, ko.u_chunk, ko.d_chunk, ko.uval
      FROM keyops ko LEFT JOIN base b USING (k) WHERE b.k IS NULL
    ),
    spine AS (SELECT unnest(generate_series(1, {n})) AS chunk),
    after AS (
      SELECT g.chunk,
             CAST(count(*) FILTER (WHERE
               (x.in_base OR coalesce(x.u_chunk <= g.chunk, FALSE))
               AND NOT coalesce(x.d_chunk <= g.chunk, FALSE))
               AS BIGINT) AS rows_after,
             CAST(coalesce(sum(CASE
               WHEN (x.in_base
                     OR coalesce(x.u_chunk <= g.chunk, FALSE))
                    AND NOT coalesce(x.d_chunk <= g.chunk, FALSE)
               THEN CASE WHEN coalesce(x.u_chunk <= g.chunk, FALSE)
                         THEN x.uval ELSE x.bv END
               END), 0) AS DOUBLE) AS value_after
      FROM spine g, allkeys x GROUP BY 1
    ),
    nops AS (SELECT chunk, CAST(count(*) AS BIGINT) AS n_ops
             FROM co GROUP BY 1)
    SELECT CAST(s.chunk AS INTEGER) AS chunk,
           coalesce(n.n_ops, 0) AS n_ops,
           coalesce(p.n_insert, 0) AS n_insert,
           coalesce(p.n_update, 0) AS n_update,
           coalesce(p.n_delete, 0) AS n_delete,
           coalesce(p.n_noop, 0) AS n_noop,
           a.rows_after, a.value_after
    FROM spine s
    LEFT JOIN nops n USING (chunk)
    LEFT JOIN percls p USING (chunk)
    JOIN after a USING (chunk)
    """


register("stream_cdc_apply", stream_cdc_apply, _stream_cdc_apply_sql())
