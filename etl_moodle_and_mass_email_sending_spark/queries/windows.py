"""[EXT] M5 — relational completeness, windows / sessions / event-time family (SURVEY.md §7),
each query oracle-checked. Formerly part of queries/relational.py; split
by family in round 8 (VERDICT r7 item 6) with zero behavior change. The
shared numeric-parity policy (exact DECIMAL internals, DOUBLE output
projections) is documented in queries/tpch.py, which also owns _dec.
Scale notes per query are inline (broadcast choices, shuffle keys, AQE).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, load_tables
from ..operators.util import sql_top_k, top_k
from ..registry import register
from .tpch import _dec

# --------------------------------------------------------------------------
# rel_top_orders_per_customer — window row_number per partition key (the
# generalization of the reference's running counter A2). Partition-local
# sort, no global ordering → scales linearly.
# --------------------------------------------------------------------------


def _top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return top_k(
        o.select(
            "o_custkey",
            "o_orderkey",
            _dec(F.col("o_totalprice")).cast("double").alias("totalprice"),
            "o_totalprice",
        ),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        3,
    ).drop("o_totalprice")


register(
    "rel_top_orders_per_customer",
    _top_orders,
    f"""
    SELECT o_custkey, o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice, rank
    FROM ({sql_top_k(
        "SELECT o_custkey, o_orderkey, o_totalprice FROM orders",
        ["o_custkey"], ["o_totalprice DESC", "o_orderkey"], 3)})
    """,
)

# --------------------------------------------------------------------------
# rel_running_total — cumulative window sum per customer over order time
# (explicit ROWS frame so Spark and the oracle agree on tie handling).
# --------------------------------------------------------------------------


def _running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec(F.col("o_totalprice"))).over(w).cast("double").alias("running_spend"),
    )


register(
    "rel_running_total",
    _running_total,
    """
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_spend
    FROM orders
    """,
)

# --------------------------------------------------------------------------
# rel_events_hourly — time-bucketed aggregation (the batch shape of the
# streaming windowed agg in streaming/): tumbling 1h windows via
# date_trunc.
# --------------------------------------------------------------------------


def _events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(_dec(F.col("value"))).cast("double").alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


register(
    "rel_events_hourly",
    _events_hourly,
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1, 2
    """,
)

# --------------------------------------------------------------------------
# rel_events_json — semi-structured extraction from the props JSON column.
# --------------------------------------------------------------------------


def _events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
        F.count(k).alias("n_with_k"),
    )


register(
    "rel_events_json",
    _events_json,
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
           count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k
    FROM events GROUP BY event_type
    """,
)


# --------------------------------------------------------------------------
# rel_latest_per_key — "current record per key" (SCD-style dedup): the most
# recent event per user.  Implemented as ONE hash aggregation with
# max_by(payload, (ts, event_id)) — partial map-side combine reduces every
# partition to ≤|users| rows BEFORE the shuffle, unlike the textbook
# row_number()-window form, which must shuffle every row and sort each
# group.  At 100 TB of events the difference is the whole job.  The
# (ts, event_id) ordering struct makes ties deterministic.
# --------------------------------------------------------------------------


def _latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    payload = F.struct(
        F.col("event_id"), F.col("ts"), F.col("event_type"), F.col("value")
    )
    order = F.struct(F.col("ts"), F.col("event_id"))
    return (
        e.groupBy("user_id")
        .agg(F.max_by(payload, order).alias("_last"))
        .select(
            "user_id",
            F.col("_last.event_id").alias("last_event_id"),
            F.col("_last.ts").alias("last_ts"),
            F.col("_last.event_type").alias("last_event_type"),
            _dec(F.col("_last.value")).cast("double").alias("last_value"),
        )
    )


register(
    "rel_latest_per_key",
    _latest_per_key,
    # oracle = the textbook window form; equivalent because the
    # (ts, event_id) tie-break is a total order per user
    f"""
    SELECT user_id,
           event_id AS last_event_id,
           CAST(ts AS TIMESTAMP) AS last_ts,
           event_type AS last_event_type,
           CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS last_value
    FROM ({sql_top_k(
        "events", ["user_id"], ["ts DESC", "event_id DESC"], 1)})
    """,
)


# --------------------------------------------------------------------------
# rel_pivot_events — pivot event_type into measure columns, one row per
# day.  The value list is EXPLICIT: pivot without one runs a hidden
# distinct job over the full table first (an extra scan + shuffle at
# 100 TB) and makes the output schema data-dependent — a schema drift
# hazard for downstream consumers.  With literal values Catalyst compiles
# straight to one scan + conditional aggregation.
# --------------------------------------------------------------------------

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .select(
            "day",
            *[
                F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}")
                for t in EVENT_TYPES
            ],
        )
    )


register(
    "rel_pivot_events",
    _pivot_events,
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
           CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_error,
           CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
           CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
           CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n_view
    FROM events GROUP BY 1
    """,
)


# --------------------------------------------------------------------------
# rel_rolling_window — time-RANGE window frame (distinct from the
# rows-frame running total): per-user rolling 1-hour event count and
# value average. The frame is defined on event-time MICROSECONDS on both
# engines (Spark rangeBetween needs a numeric ordering key; epoch-seconds
# would truncate differently than DuckDB's interval frame). One shuffle
# on user_id; the range frame is evaluated in a single ordered pass per
# partition — no self-join rewrite, which is the O(n·w) trap at scale.
# --------------------------------------------------------------------------

_HOUR_US = 3_600_000_000


def _rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-_HOUR_US, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        "ts",
        F.count("*").over(w).alias("n_1h"),
        F.round(
            F.sum(_dec(F.col("value"))).over(w).cast("double")
            / F.count("*").over(w),
            6,
        ).alias("avg_value_1h"),
    )


register(
    "rel_rolling_window",
    _rolling_window,
    """
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
           count(*) OVER w AS n_1h,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
                 / count(*) OVER w, 6) AS avg_value_1h
    FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
          FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)


# --------------------------------------------------------------------------
# rel_new_vs_returning — daily growth accounting: per event date,
# active users split into first-ever-seen (new) and returning. The
# first-seen date is one min-aggregate per user; the daily split is
# one distinct (date, user) rollup joined against it — the DAU/new/
# returning panel every activation dashboard starts from.
# --------------------------------------------------------------------------


def _new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    # day as a STRING — pandas date vs datetime64 dtypes diverge
    # between the two engines' conversions, strings cannot
    e = load_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    )
    daily = e.distinct()
    first = daily.groupBy("user_id").agg(F.min("day").alias("_first"))
    return (
        daily.join(first, on="user_id")
        .groupBy("day")
        .agg(
            F.count("*").alias("n_active"),
            F.coalesce(
                F.sum(F.when(F.col("day") == F.col("_first"), 1)),
                F.lit(0),
            ).cast("bigint").alias("n_new"),
        )
        .select(
            "day",
            "n_active",
            "n_new",
            (F.col("n_active") - F.col("n_new")).alias("n_returning"),
        )
    )


register(
    "rel_new_vs_returning",
    _new_vs_returning,
    """
    WITH daily AS (
      SELECT DISTINCT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
             user_id
      FROM events
    ),
    first AS (
      SELECT user_id, min(day) AS first_day FROM daily GROUP BY 1
    )
    SELECT d.day, count(*) AS n_active,
           CAST(coalesce(sum(CASE WHEN d.day = f.first_day THEN 1 END),
                         0) AS BIGINT) AS n_new,
           count(*) - CAST(coalesce(sum(CASE WHEN d.day = f.first_day
                                         THEN 1 END), 0) AS BIGINT)
             AS n_returning
    FROM daily d JOIN first f USING (user_id)
    GROUP BY d.day
    """,
)


# --------------------------------------------------------------------------
# rel_dow_hour_profile — the weekly traffic heatmap: events per
# (day-of-week, hour) cell with each cell's share of total — seasonal
# capacity planning and anomaly baselining in one rollup. dayofweek is
# computed in UTC on the µs-truncated event time, identical in both
# engines (DuckDB dow: 0=Sunday; Spark dayofweek: 1=Sunday — aligned
# by the -1 shift).
# --------------------------------------------------------------------------


def _dow_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        (F.dayofweek(F.col("ts")) - 1).cast("int").alias("dow"),
        F.hour(F.col("ts")).cast("int").alias("hour"),
    ).agg(F.count("*").alias("n_events"))
    tot = cells.agg(F.sum("n_events").alias("_t"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "dow",
        "hour",
        "n_events",
        F.round(F.col("n_events") / F.col("_t"), 6).alias("share"),
    )


register(
    "rel_dow_hour_profile",
    _dow_hour_profile,
    """
    WITH cells AS (
      SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS INTEGER) AS dow,
             CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS hour,
             count(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT sum(n_events) AS t FROM cells)
    SELECT dow, hour, n_events,
           round(CAST(n_events AS DOUBLE) / t, 6) AS share
    FROM cells CROSS JOIN tot
    """,
)


# --------------------------------------------------------------------------
# rel_arrival_disorder — how out-of-order is the event feed: per
# event_type, adjacent-pair inversions in ARRIVAL order (event_id)
# where event TIME goes backwards, plus the maximum backwards jump.
# This is the measurement that picks a streaming watermark delay — the
# watermark must cover the observed lateness, and this op reads it off
# the data instead of guessing. One lag() window in event_id order;
# microsecond integer arithmetic.
# --------------------------------------------------------------------------


def _arrival_disorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    prev = F.lag(F.unix_micros(F.col("ts"))).over(w)
    d = (
        e.select("event_type", "event_id", "ts")
        .withColumn("_late", prev - F.unix_micros(F.col("ts")))
    )
    return d.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.coalesce(
            F.sum(F.when(F.col("_late") > 0, 1)), F.lit(0)
        ).cast("bigint").alias("n_inversions"),
        F.round(
            F.coalesce(F.sum(F.when(F.col("_late") > 0, 1)), F.lit(0))
            / F.count("*"),
            6,
        ).alias("inversion_rate"),
        F.coalesce(
            F.max(F.when(F.col("_late") > 0, F.col("_late"))), F.lit(0)
        ).alias("max_lateness_micros"),
    )


register(
    "rel_arrival_disorder",
    _arrival_disorder,
    """
    WITH src AS (
      SELECT event_type, event_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events
    ),
    lagged AS (
      SELECT event_type,
             lag(epoch_us(ts)) OVER (PARTITION BY event_type
                  ORDER BY event_id) - epoch_us(ts) AS late
      FROM src
    )
    SELECT event_type, count(*) AS n_events,
           CAST(coalesce(sum(CASE WHEN late > 0 THEN 1 END), 0)
                AS BIGINT) AS n_inversions,
           round(CAST(coalesce(sum(CASE WHEN late > 0 THEN 1 END), 0)
                      AS DOUBLE) / count(*), 6) AS inversion_rate,
           coalesce(max(CASE WHEN late > 0 THEN late END), 0)
             AS max_lateness_micros
    FROM lagged GROUP BY event_type
    """,
)


# --------------------------------------------------------------------------
# rel_gap_detection — ingest-completeness monitor: per event_type, the
# inter-arrival gaps longer than GAP_THRESHOLD (lead over event time).
# A pipeline that silently stops delivering a source shows up here
# before any downstream metric moves. Same one-window shape as the
# TWAP below; microsecond integer arithmetic, no float risk.
# --------------------------------------------------------------------------

GAP_THRESHOLD_MICROS = 3_600_000_000  # 1 hour


def _gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    nxt = F.lead(F.unix_micros(F.col("ts"))).over(w)
    return (
        e.select("event_type", "ts", "event_id")
        .withColumn("_next", nxt)
        .withColumn(
            "gap_micros", F.col("_next") - F.unix_micros(F.col("ts"))
        )
        .filter(F.col("gap_micros") > GAP_THRESHOLD_MICROS)
        .select(
            "event_type",
            F.unix_micros(F.col("ts")).alias("gap_start_micros"),
            F.col("_next").alias("gap_end_micros"),
            "gap_micros",
        )
    )


register(
    "rel_gap_detection",
    _gap_detection,
    f"""
    WITH src AS (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events
    ),
    gaps AS (
      SELECT event_type, epoch_us(ts) AS gap_start_micros,
             lead(epoch_us(ts)) OVER (PARTITION BY event_type
                  ORDER BY ts, event_id) AS gap_end_micros
      FROM src
    )
    SELECT event_type, gap_start_micros, gap_end_micros,
           gap_end_micros - gap_start_micros AS gap_micros
    FROM gaps
    WHERE gap_end_micros - gap_start_micros > {GAP_THRESHOLD_MICROS}
    """,
)


# --------------------------------------------------------------------------
# rel_time_weighted_avg — TWAP of event values per event_type: each
# reading holds until the next one (lead over (ts, event_id)), so its
# weight is that holding duration in microseconds; the final row of a
# series carries no weight. The weighted sum accumulates as
# DECIMAL(18,6)-value x bigint-micros products (exact, order-
# independent — the rel_trend_slope recipe), so the average is
# deterministic cross-engine. The timeseries-analytics answer to "what
# was the average PRICE, not the average of the readings" when
# readings are irregular. One window pass + one partial-aggregated
# groupBy.
# --------------------------------------------------------------------------


def _time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    nxt = F.lead(F.unix_micros(F.col("ts"))).over(w)
    span = (
        e.select("event_type", "ts", "event_id", "value")
        .withColumn("_w", nxt - F.unix_micros(F.col("ts")))
        .filter(F.col("_w").isNotNull())
    )
    wsum = F.sum(
        F.round(F.col("value"), 6).cast("decimal(18,6)") * F.col("_w")
    )
    return span.groupBy("event_type").agg(
        F.count("*").alias("n_obs"),
        F.sum("_w").alias("total_micros"),
        F.round(
            wsum.cast("double") / F.sum("_w").cast("double"), 6
        ).alias("twap"),
    )


register(
    "rel_time_weighted_avg",
    _time_weighted_avg,
    """
    WITH src AS (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value
      FROM events WHERE value IS NOT NULL
    ),
    span AS (
      SELECT event_type,
             CAST(round(value, 6) AS DECIMAL(18,6)) AS v,
             lead(epoch_us(ts)) OVER (PARTITION BY event_type
                  ORDER BY ts, event_id) - epoch_us(ts) AS w
      FROM src
    )
    SELECT event_type, count(*) AS n_obs,
           CAST(sum(w) AS BIGINT) AS total_micros,
           round(CAST(sum(v * w) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 6)
             AS twap
    FROM span WHERE w IS NOT NULL
    GROUP BY event_type
    """,
)


# --------------------------------------------------------------------------
# rel_funnel_stages — ordered conversion funnel (view → later click →
# later purchase) per user. The stage chain is three aggregations ALL
# keyed on user_id: after the first groupBy the data is partitioned by
# user_id, and the two join-then-regroup rounds reuse that partitioning
# (no new exchange of the big side at scale — same-key joins are
# co-partitioned). A window/self-join encoding would carry every event
# pair; this carries one row per user between stages.
# --------------------------------------------------------------------------


def _funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v1 = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("first_view")
    )
    c1 = (
        e.filter(F.col("event_type") == "click")
        .join(v1, "user_id")
        .filter(F.col("ts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    p1 = (
        e.filter(F.col("event_type") == "purchase")
        .join(c1, "user_id")
        .filter(F.col("ts") > F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return (
        v1.join(c1, "user_id", "left")
        .join(p1, "user_id", "left")
        .select(
            "user_id",
            "first_view",
            "first_click",
            "first_purchase",
            (
                F.lit(1)
                + F.col("first_click").isNotNull().cast("int")
                + F.col("first_purchase").isNotNull().cast("int")
            ).alias("stage"),
        )
    )


register(
    "rel_funnel_stages",
    _funnel_stages,
    """
    WITH base AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    v1 AS (
      SELECT user_id, min(ts) AS first_view FROM base
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c1 AS (
      SELECT b.user_id, min(b.ts) AS first_click
      FROM base b JOIN v1 USING (user_id)
      WHERE b.event_type = 'click' AND b.ts > v1.first_view
      GROUP BY b.user_id
    ),
    p1 AS (
      SELECT b.user_id, min(b.ts) AS first_purchase
      FROM base b JOIN c1 USING (user_id)
      WHERE b.event_type = 'purchase' AND b.ts > c1.first_click
      GROUP BY b.user_id
    )
    SELECT v1.user_id, v1.first_view, c1.first_click, p1.first_purchase,
           1 + CAST(c1.first_click IS NOT NULL AS INTEGER)
             + CAST(p1.first_purchase IS NOT NULL AS INTEGER) AS stage
    FROM v1 LEFT JOIN c1 USING (user_id) LEFT JOIN p1 USING (user_id)
    """,
)


# --------------------------------------------------------------------------
# rel_retention — day-over-day cohort retention: of the users active on
# day d, the fraction also active on d+1. One distinct (user, day) pass
# (map-side combining shuffle), then a self-join keyed (user, day+1) —
# both sides are the POST-distinct frame (one row per user-day), so the
# join input is orders of magnitude smaller than the event stream; the
# final per-day rollup is tiny.
# --------------------------------------------------------------------------


def _retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # day as a TIMESTAMP (midnight), not DATE: both engines' pandas
    # conversions agree on timestamps, while DATE reprs diverge
    active = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    nxt = active.select(
        "user_id", (F.col("day") - F.expr("INTERVAL 1 DAY")).alias("day")
    )
    joined = active.join(nxt, ["user_id", "day"], "left_semi")
    per_day = active.groupBy("day").agg(F.count("*").alias("n_active"))
    retained = joined.groupBy("day").agg(F.count("*").alias("n_retained"))
    return (
        per_day.join(retained, "day", "left")
        .select(
            "day",
            "n_active",
            F.coalesce("n_retained", F.lit(0)).alias("n_retained"),
            F.round(
                F.coalesce("n_retained", F.lit(0)) / F.col("n_active"), 6
            ).alias("retention_rate"),
        )
    )


register(
    "rel_retention",
    _retention,
    """
    WITH active AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS day
      FROM events
    ),
    retained AS (
      SELECT a.day, count(*) AS n_retained
      FROM active a
      WHERE EXISTS (
        SELECT 1 FROM active b
        WHERE b.user_id = a.user_id AND b.day = a.day + INTERVAL 1 DAY
      )
      GROUP BY a.day
    )
    SELECT p.day, p.n_active,
           coalesce(r.n_retained, 0) AS n_retained,
           round(coalesce(r.n_retained, 0) / p.n_active, 6)
             AS retention_rate
    FROM (SELECT day, count(*) AS n_active FROM active GROUP BY day) p
    LEFT JOIN retained r USING (day)
    """,
)


# --------------------------------------------------------------------------
# rel_scd2_history — slowly-changing-dimension type-2 build: collapse each
# user's event-type stream into change intervals [effective_from,
# effective_to) with NULL for the open current row. One shuffle on
# user_id; both window passes (change detection via lag, interval close
# via lead) reuse that single partitioning. The batch sibling of
# rel_latest_per_key (SCD1 latest-wins).
# --------------------------------------------------------------------------


def _scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    byu = Window.partitionBy("user_id").orderBy("ts", "event_type")
    changes = (
        e.withColumn("_prev", F.lag("event_type").over(byu))
        .filter(
            F.col("_prev").isNull() | (F.col("event_type") != F.col("_prev"))
        )
    )
    # same (ts, event_type) tie-break as the change-detection window so
    # effective_to is deterministic if a user has two changes in one µs
    byu2 = Window.partitionBy("user_id").orderBy("ts", "event_type")
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts").alias("effective_from"),
        F.lead("ts").over(byu2).alias("effective_to"),
    )


register(
    "rel_scd2_history",
    _scd2_history,
    """
    WITH base AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    changes AS (
      SELECT user_id, event_type, ts,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_type) AS prev
      FROM base
    )
    SELECT user_id, event_type, ts AS effective_from,
           lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_type) AS effective_to
    FROM changes
    WHERE prev IS NULL OR event_type <> prev
    """,
)


# --------------------------------------------------------------------------
# rel_session_concurrency — max concurrent sessions per day via the
# sweep-line encoding: sessions → (+1 at start, −1 one µs past end — closed
# intervals, so instantaneous sessions still count), deltas
# pre-aggregated PER TIMESTAMP (what makes the running sum deterministic
# under ties), a TWO-PASS global running sum (range-partition on t,
# per-partition cumulative sum, broadcast earlier-partition totals — no
# unpartitioned window anywhere: the change-point frame is
# O(distinct event timestamps), fact-sized at 100 TB), then a per-day max.
# VERDICT r5 item 2: same pattern as sinks/smtp.py's send-order stamp,
# now shared via operators/util.two_pass_running_sum.
# --------------------------------------------------------------------------


def _session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.util import two_pass_running_sum
    from .streaming_q import rel_sessionize

    sess = rel_sessionize(spark, sf_dir)
    deltas = (
        sess.select(F.col("session_start").alias("t"), F.lit(1).alias("d"))
        .unionByName(
            # closed intervals: release one µs PAST the end, so a
            # single-event session (start == end) still counts as active
            sess.select(
                (
                    F.col("session_end") + F.expr("INTERVAL 1 MICROSECOND")
                ).alias("t"),
                F.lit(-1).alias("d"),
            )
        )
        .groupBy("t")
        .agg(F.sum("d").alias("delta"))
    )
    swept = two_pass_running_sum(
        deltas, [F.col("t")], "delta", out_col="concurrent"
    )
    return (
        swept.groupBy(F.date_trunc("day", F.col("t")).alias("day"))
        .agg(F.max("concurrent").alias("max_concurrent"))
    )


register(
    "rel_session_concurrency",
    _session_concurrency,
    """
    WITH base AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS brk
      FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), grp AS (
      SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS g
      FROM marked
    ), sess AS (
      SELECT user_id, min(ts) AS session_start, max(ts) AS session_end
      FROM grp GROUP BY user_id, g
    ), deltas AS (
      SELECT t, CAST(sum(d) AS BIGINT) AS delta FROM (
        SELECT session_start AS t, 1 AS d FROM sess
        UNION ALL
        SELECT session_end + INTERVAL 1 MICROSECOND AS t, -1 AS d FROM sess
      ) GROUP BY t
    ), swept AS (
      SELECT t, CAST(sum(delta) OVER (ORDER BY t ROWS UNBOUNDED
               PRECEDING) AS BIGINT) AS concurrent
      FROM deltas
    )
    SELECT CAST(date_trunc('day', t) AS TIMESTAMP) AS day,
           CAST(max(concurrent) AS BIGINT) AS max_concurrent
    FROM swept GROUP BY 1
    """,
)


# --------------------------------------------------------------------------
# rel_value_deciles — ntile decile assignment per event_type over value
# (tie-broken by event_id so both engines bucket identically), rolled up
# to per-decile stats. The ntile window and the rollup share the
# event_type shuffle key; within-partition sorts are the only extra cost
# — the standard "distribution profile" shape for monitoring a metric's
# spread per segment.
# --------------------------------------------------------------------------


def _value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        e.withColumn("decile", F.ntile(10).over(w))
        .groupBy("event_type", "decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
            F.round(
                F.sum(_dec(F.col("value"))).cast("double") / F.count("*"), 6
            ).alias("avg_value"),
        )
    )


register(
    "rel_value_deciles",
    _value_deciles,
    """
    SELECT event_type, decile, count(*) AS n,
           round(min(value), 2) AS lo, round(max(value), 2) AS hi,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*), 6) AS avg_value
    FROM (
      SELECT event_type, value, event_id,
             CAST(ntile(10) OVER (PARTITION BY event_type
                  ORDER BY value, event_id) AS INTEGER) AS decile
      FROM events WHERE value IS NOT NULL
    )
    GROUP BY event_type, decile
    """,
)


# --------------------------------------------------------------------------
# rel_event_pmi — pointwise mutual information between event types
# co-occurring in the same (user, day) basket — the association-mining
# shape (market-basket lift). The pair join is a self-join of the
# DISTINCT basket-membership frame on the basket key: with a bounded
# type vocabulary each basket contributes ≤ C(5,2) pairs, so the join
# fan-out is bounded per key regardless of event volume — the raw event
# stream never self-joins. PMI = ln(n_ab·N / (n_a·n_b)) stays in integer
# counts until one final ln, rounded to 6 — deterministic cross-engine.
# --------------------------------------------------------------------------


def _event_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    member = e.select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_type",
    ).distinct()
    n_baskets = member.select("user_id", "day").distinct().agg(
        F.count("*").alias("_nb")
    )
    singles = member.groupBy("event_type").agg(F.count("*").alias("n_single"))
    a = member.select(
        "user_id", "day", F.col("event_type").alias("type_a")
    )
    b = member.select(
        "user_id", "day", F.col("event_type").alias("type_b")
    )
    pairs = (
        a.join(b, ["user_id", "day"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_ab"))
    )
    sa = singles.select(
        F.col("event_type").alias("type_a"), F.col("n_single").alias("n_a")
    )
    sb = singles.select(
        F.col("event_type").alias("type_b"), F.col("n_single").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.round(
                F.log(
                    F.col("n_ab").cast("double") * F.col("_nb")
                    / (F.col("n_a").cast("double") * F.col("n_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )


register(
    "rel_event_pmi",
    _event_pmi,
    """
    WITH member AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS day,
             event_type
      FROM events
    ),
    nb AS (SELECT count(*) AS n FROM (SELECT DISTINCT user_id, day FROM member)),
    singles AS (
      SELECT event_type, count(*) AS n_single FROM member GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_ab
      FROM member a JOIN member b
        ON a.user_id = b.user_id AND a.day = b.day
       AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_ab,
           round(ln(CAST(p.n_ab AS DOUBLE) * nb.n
                 / (CAST(sa.n_single AS DOUBLE) * sb.n_single)), 6) AS pmi
    FROM pairs p
    JOIN singles sa ON p.type_a = sa.event_type
    JOIN singles sb ON p.type_b = sb.event_type
    CROSS JOIN nb
    """,
)


# --------------------------------------------------------------------------
# rel_event_transitions — first-order transition matrix over each user's
# event sequence: P(next_type | type) from lag pairs. One shuffle on
# user_id for the ordered lag pass; the pair rollup and the per-source
# normalizing join are vocabulary-sized. Ties in ts are broken by
# event_id so both engines see the same sequence.
# --------------------------------------------------------------------------


def _event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    byu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("from_type", F.lag("event_type").over(byu))
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count("*").alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("_t"))
    return pairs.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.col("_t"), 6).alias("p"),
    )


register(
    "rel_event_transitions",
    _event_transitions,
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS from_type
      FROM events
    ),
    pairs AS (
      SELECT from_type, event_type AS to_type, count(*) AS n
      FROM seq WHERE from_type IS NOT NULL
      GROUP BY from_type, event_type
    ),
    totals AS (
      SELECT from_type, CAST(sum(n) AS BIGINT) AS t
      FROM pairs GROUP BY from_type
    )
    SELECT p.from_type, p.to_type, p.n, round(p.n / t.t, 6) AS p
    FROM pairs p JOIN totals t USING (from_type)
    """,
)


# --------------------------------------------------------------------------
# rel_trend_slope — per-segment least-squares trend of value over time,
# from the closed-form sums (n, Σx, Σy, Σxy, Σx²) — one partial-
# aggregated groupBy, no iteration. x is HOURS since the window start so
# the sums stay small enough for exact DECIMAL accumulation → the slope
# is deterministic cross-engine after rounding. The same five sums are
# mergeable (rel_incremental_agg pattern), so the trend updates
# incrementally at scale.
# --------------------------------------------------------------------------


def _trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    x = (
        (F.unix_micros(F.col("ts")) - F.lit(1_704_067_200_000_000))
        / F.lit(3_600_000_000.0)
    )  # hours since 2024-01-01 UTC
    sums = e.select(
        "event_type",
        _dec(x, "18,6").alias("x"),
        _dec(F.col("value")).alias("y"),
    ).groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (
        F.col("n").cast("double"),
        F.col("sx").cast("double"),
        F.col("sy").cast("double"),
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
    )
    denom = n * sxx - sx * sx
    # try_divide: a degenerate group (all x equal) has denom exactly 0 —
    # ANSI mode would throw on plain division; NULL slope matches DuckDB
    slope = F.try_divide(n * sxy - sx * sy, denom)
    return sums.select(
        "event_type",
        F.col("n"),
        F.round(slope, 6).alias("slope_per_hour"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


register(
    "rel_trend_slope",
    _trend_slope,
    """
    WITH s AS (
      SELECT event_type, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM (
        SELECT event_type,
               CAST((epoch_us(CAST(ts AS TIMESTAMP)) - 1704067200000000)
                    / 3600000000.0 AS DECIMAL(18,6)) AS x,
               CAST(value AS DECIMAL(18,2)) AS y
        FROM events WHERE value IS NOT NULL
      ) GROUP BY event_type
    )
    SELECT event_type, n,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             AS slope_per_hour,
           round((CAST(sy AS DOUBLE)
                  - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE)) / n, 6) AS intercept
    FROM s
    """,
)


# --------------------------------------------------------------------------
# rel_event_lateness — watermark-delay planning from arrival data: at
# each candidate watermark W, how many events would arrive LATER than
# the watermark (running max of event time over ARRIVAL order, minus
# the event's own time). The global running max is the exact quantity
# a streaming source's watermark tracks; this batch sweep is how the
# delay is chosen before deploying the stream (the companion to
# rel_arrival_disorder's per-key inversion profile).
#
# Scale: the running max runs through two_pass_running_max (range-
# partition on arrival order, per-partition cummax + broadcast carry of
# earlier partitions' maxima) — NEVER an unpartitioned ordered window
# over the event log; the per-W tally is one conditional-aggregation
# pass unpivoted with a constant-size stack().
# --------------------------------------------------------------------------

LATENESS_WATERMARKS_SEC = (60, 300, 900)


def _event_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.util import two_pass_running_max

    e = load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros(F.col("ts")).alias("_us")
    )
    rm = two_pass_running_max(
        e, [F.col("event_id")], "_us", out_col="_wm"
    ).withColumn("_late_us", F.col("_wm") - F.col("_us"))
    aggs = [F.count("*").cast("bigint").alias("_n")]
    for w in LATENESS_WATERMARKS_SEC:
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col("_late_us") > w * 1_000_000, 1)),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"_l_{w}")
        )
    wide = rm.agg(*aggs)
    stack = ", ".join(f"{w}, _l_{w}" for w in LATENESS_WATERMARKS_SEC)
    return wide.selectExpr(
        f"stack({len(LATENESS_WATERMARKS_SEC)}, {stack})"
        " AS (watermark_sec, n_late)",
        "_n",
    ).select(
        F.col("watermark_sec").cast("int").alias("watermark_sec"),
        "n_late",
        F.round(F.col("n_late") / F.col("_n"), 6).alias("late_share"),
    )


register(
    "rel_event_lateness",
    _event_lateness,
    f"""
    WITH lat AS (
      SELECT epoch_us(ts) AS us,
             max(epoch_us(ts)) OVER (ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - epoch_us(ts) AS late_us
      FROM events
    ),
    spine AS (SELECT CAST(unnest([{", ".join(str(w) for w in LATENESS_WATERMARKS_SEC)}]) AS INTEGER) AS watermark_sec)
    SELECT s.watermark_sec,
           CAST(coalesce(sum(CASE WHEN late_us > s.watermark_sec * 1000000
                                  THEN 1 END), 0) AS BIGINT) AS n_late,
           round(CAST(coalesce(sum(CASE WHEN late_us >
                                        s.watermark_sec * 1000000
                                   THEN 1 END), 0) AS DOUBLE)
                 / count(*), 6) AS late_share
    FROM spine s CROSS JOIN lat
    GROUP BY 1
    """,
)



# --------------------------------------------------------------------------
# rel_interval_coverage (round 9) — union-of-intervals time coverage per
# user: each event opens an interval [ts, ts + value seconds]; the report
# merges overlapping intervals (classic sweep: running max of interval
# ends over the start-ordered stream, an island break where a start
# clears everything seen before) and totals the covered time. The
# relational shape rel_session_concurrency (max overlap) and
# rel_sessionize (gap islands) don't cover: interval UNION length —
# machine-utilization, incident-duration, on-air time.
# Scale: one shuffle (user_id), two window passes and one aggregation on
# that same partitioning; arithmetic is exact integer microseconds
# (unix_micros), so island detection has no float-compare hazard.
# --------------------------------------------------------------------------


def _interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s_us"),
        (
            F.unix_micros("ts")
            + F.round(F.coalesce("value", F.lit(0.0)) * 1e6).cast("long")
        ).alias("e_us"),
    )
    order = Window.partitionBy("user_id").orderBy("s_us", "e_us", "event_id")
    prev_max = F.max("e_us").over(
        order.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = e.withColumn(
        "brk",
        F.when(prev_max.isNull() | (F.col("s_us") > prev_max), 1).otherwise(0),
    )
    grp = marked.withColumn(
        "isl",
        F.sum("brk").over(order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    islands = grp.groupBy("user_id", "isl").agg(
        F.min("s_us").alias("i_s"), F.max("e_us").alias("i_e")
    )
    return islands.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_islands"),
        F.round((F.sum(F.col("i_e") - F.col("i_s")) / 1e6), 6).alias(
            "covered_sec"
        ),
        F.round(
            (F.max("i_e") - F.min("i_s")) / 1e6,
            6,
        ).alias("span_sec"),
        F.round(
            F.try_divide(
                F.sum(F.col("i_e") - F.col("i_s")),
                F.max("i_e") - F.min("i_s"),
            ),
            6,
        ).alias("coverage_ratio"),
    )


register(
    "rel_interval_coverage",
    _interval_coverage,
    """
    WITH iv AS (
      SELECT user_id, event_id, epoch_us(ts) AS s_us,
             epoch_us(ts)
               + CAST(round(coalesce(value, 0) * 1e6) AS BIGINT) AS e_us
      FROM events
    ), marked AS (
      SELECT user_id, s_us, e_us,
             CASE WHEN max(e_us) OVER (PARTITION BY user_id
                    ORDER BY s_us, e_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL
                  OR s_us > max(e_us) OVER (PARTITION BY user_id
                    ORDER BY s_us, e_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             THEN 1 ELSE 0 END AS brk,
             event_id
      FROM iv
    ), grp AS (
      SELECT *, sum(brk) OVER (PARTITION BY user_id
                 ORDER BY s_us, e_us, event_id
                 ROWS UNBOUNDED PRECEDING) AS isl
      FROM marked
    ), islands AS (
      SELECT user_id, isl, min(s_us) AS i_s, max(e_us) AS i_e
      FROM grp GROUP BY 1, 2
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
           round(sum(i_e - i_s) / 1e6, 6) AS covered_sec,
           round((max(i_e) - min(i_s)) / 1e6, 6) AS span_sec,
           round(CAST(sum(i_e - i_s) AS DOUBLE)
                 / nullif(max(i_e) - min(i_s), 0), 6) AS coverage_ratio
    FROM islands GROUP BY user_id
    """,
)


# --------------------------------------------------------------------------
# rel_attribution (round 9) — first-touch / last-touch revenue
# attribution: every purchase credits its value to the user's FIRST
# non-purchase touch ever seen and to the LAST touch strictly before the
# purchase; purchases with no prior touch fall into '(direct)'. The
# marketing-analytics shape rel_funnel_stages (ordered reach) and
# rel_event_transitions (Markov hops) don't cover: credit assignment.
# Scale: no self-join — both attributions are IGNORE NULLS window
# lookups over the same user_id/ts ordering (one shuffle), then a tiny
# hash aggregation on event_type.
# --------------------------------------------------------------------------


def _attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        # 6-decimal DECIMAL revenue: exact sums, so the attributed
        # totals hash identically regardless of partial-sum order
        F.round(F.coalesce("value", F.lit(0.0)), 6)
        .cast("decimal(18,6)")
        .alias("value"),
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prior = w.rowsBetween(Window.unboundedPreceding, -1)
    attributed = e.select(
        "event_type",
        "value",
        F.first(touch, ignorenulls=True).over(prior).alias("first_touch"),
        F.last(touch, ignorenulls=True).over(prior).alias("last_touch"),
    ).filter(F.col("event_type") == "purchase")
    unpiv = attributed.select(
        "value",
        F.explode(
            F.array(
                F.struct(
                    F.lit("first_touch").alias("model"),
                    F.coalesce("first_touch", F.lit("(direct)")).alias(
                        "touch_type"
                    ),
                ),
                F.struct(
                    F.lit("last_touch").alias("model"),
                    F.coalesce("last_touch", F.lit("(direct)")).alias(
                        "touch_type"
                    ),
                ),
            )
        ).alias("u"),
    )
    return unpiv.groupBy(
        F.col("u.model").alias("model"),
        F.col("u.touch_type").alias("touch_type"),
    ).agg(
        F.count("*").cast("bigint").alias("n_conversions"),
        F.round(F.sum("value").cast("double"), 6).alias(
            "attributed_revenue"
        ),
    )


register(
    "rel_attribution",
    _attribution,
    """
    WITH base AS (
      SELECT user_id, event_id, ts, event_type,
             CAST(round(coalesce(value, 0), 6) AS DECIMAL(18,6)) AS value,
             CASE WHEN event_type <> 'purchase' THEN event_type END AS touch
      FROM events
    ), attributed AS (
      SELECT event_type, value,
             first_value(touch IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS first_touch,
             last_value(touch IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch
      FROM base
    ), conv AS (
      SELECT * FROM attributed WHERE event_type = 'purchase'
    ), unpiv AS (
      SELECT 'first_touch' AS model,
             coalesce(first_touch, '(direct)') AS touch_type, value
      FROM conv
      UNION ALL
      SELECT 'last_touch', coalesce(last_touch, '(direct)'), value
      FROM conv
    )
    SELECT model, touch_type, CAST(count(*) AS BIGINT) AS n_conversions,
           round(CAST(sum(value) AS DOUBLE), 6) AS attributed_revenue
    FROM unpiv GROUP BY 1, 2
    """,
)


# --------------------------------------------------------------------------
# rel_event_paths (round 9) — top user journeys: every length-3 window
# of a user's ordered event stream, counted corpus-wide with each
# path's share and distinct-user reach. rel_event_transitions models
# single hops (Markov); this mines the actual 3-step paths product
# analytics reads ("view → click → error" is a rage path, "view →
# click → purchase" is the funnel working).
# Scale: two lead() lookups on one user_id/ts window (single shuffle),
# then a hash aggregation on the path triple — no self-joins, no
# explode; output is ≤ |event_types|³ rows.
# --------------------------------------------------------------------------


def _event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"),
    ).filter(F.col("step3").isNotNull())
    # bounded rollup (≤ |event_type|³ rows), lazily checkpointed so
    # the share's total comes from a broadcast 1-row aggregate without
    # re-running the path fan-out — no unpartitioned WindowExec
    # (round 14)
    counted = (
        seq.groupBy("step1", "step2", "step3")
        .agg(
            F.count("*").cast("bigint").alias("n_paths"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
        )
        .localCheckpoint(eager=False)
    )
    tot = counted.agg(F.sum("n_paths").alias("_tot"))
    return counted.crossJoin(F.broadcast(tot)).select(
        "step1",
        "step2",
        "step3",
        "n_paths",
        "n_users",
        F.round(F.col("n_paths") / F.col("_tot"), 6).alias("path_share"),
    )


register(
    "rel_event_paths",
    _event_paths,
    """
    WITH seq AS (
      SELECT user_id, event_type AS step1,
             lead(event_type, 1) OVER w AS step2,
             lead(event_type, 2) OVER w AS step3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), counted AS (
      SELECT step1, step2, step3,
             CAST(count(*) AS BIGINT) AS n_paths,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM seq WHERE step3 IS NOT NULL
      GROUP BY 1, 2, 3
    )
    SELECT step1, step2, step3, n_paths, n_users,
           round(CAST(n_paths AS DOUBLE) / sum(n_paths) OVER (), 6)
             AS path_share
    FROM counted
    """,
)


# --------------------------------------------------------------------------
# rel_gap_fill — forward-fill an hourly series onto a generated time
# spine: rel_gap_detection finds the holes, this REPAIRS them — the
# continuity pass a time-series training set needs before windowed
# featurization. Per event_type: hourly rollup, dense hour spine via
# sequence/explode between that type's min and max hour, left join,
# last-non-null forward fill. Scale shape: the heavy input collapses to
# |hours|·|types| rows at the first rollup (map-side combined); the
# spine explode and the fill window run on that bounded frame, windows
# partitioned per type. Gap hours carry n_events = 0, was_gap = true,
# and the carried-forward value.
# --------------------------------------------------------------------------


def _gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.col("event_type"),
        F.date_trunc("hour", F.col("ts")).alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec(F.col("value"))).cast("double").alias("v"),
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("hour").alias("mn"), F.max("hour").alias("mx"))
        .select(
            "event_type",
            F.explode(
                F.sequence(
                    F.col("mn"), F.col("mx"), F.expr("interval 1 hour")
                )
            ).alias("hour"),
        )
    )
    j = spine.join(hourly, ["event_type", "hour"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "event_type",
        "hour",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        F.last("v", ignorenulls=True).over(w).alias("value_filled"),
        F.col("n").isNull().alias("was_gap"),
    )


register(
    "rel_gap_fill",
    _gap_fill,
    """
    WITH hourly AS (
      SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2
    ),
    spine AS (
      SELECT event_type,
             unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour
      FROM (SELECT event_type, min(hour) AS mn, max(hour) AS mx
            FROM hourly GROUP BY 1)
    ),
    j AS (
      SELECT s.event_type, s.hour, h.n, h.v
      FROM spine s LEFT JOIN hourly h USING (event_type, hour)
    )
    SELECT event_type, hour,
           CAST(coalesce(n, 0) AS BIGINT) AS n_events,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS value_filled,
           n IS NULL AS was_gap
    FROM j
    """,
)


# --------------------------------------------------------------------------
# rel_unpivot_metrics — UNPIVOT/melt, the inverse of rel_pivot_events:
# a wide per-source metrics row turns into (source, metric, value) long
# form — the shape metric stores and report layers ingest.  Spark's
# native DataFrame.unpivot (Expand under the hood: one scan, rows×k
# output, no shuffle beyond the feeding aggregate) vs DuckDB's UNPIVOT
# clause.  The wide frame is the |sources|-row rollup, so the Expand
# multiplies a bounded frame, never the corpus.  All four metrics are
# exact BIGINTs — no float parity surface.
# --------------------------------------------------------------------------


def _unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    wide = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("n_chars").cast("bigint").alias("chars_total"),
        F.max("n_chars").cast("bigint").alias("chars_max"),
    )
    return wide.unpivot(
        ids=["source"],
        values=["n_docs", "n_langs", "chars_total", "chars_max"],
        variableColumnName="metric",
        valueColumnName="value",
    )


register(
    "rel_unpivot_metrics",
    _unpivot_metrics,
    """
    WITH wide AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(sum(n_chars) AS BIGINT) AS chars_total,
             CAST(max(n_chars) AS BIGINT) AS chars_max
      FROM documents GROUP BY source
    )
    SELECT source, metric, value
    FROM wide UNPIVOT (value FOR metric IN
                       (n_docs, n_langs, chars_total, chars_max))
    """,
)


# --------------------------------------------------------------------------
# rel_scd2_asof (round 13) — the POINT-IN-TIME read over an SCD2
# dimension, the consumer rel_scd2_history builds for: each user's
# events are a mutation log of their "current value"; lead(ts) per
# user turns the log into validity intervals [ts, next_ts) (the
# scd2_history shape, keyed on value instead of event_type), and a
# midnight probe spine reads the dimension as-of each day — the
# backbone of every point-in-time-correct feature-store and
# training-label join (no future leakage: a probe sees only the
# interval that CONTAINS it).
#
# 100 TB shape: the interval build is one partition-local window per
# user (hash-partitioned on user_id — never global); the as-of read
# broadcasts the |days|-row probe spine against the interval stream
# (BroadcastNestedLoopJoin on a bounded build side: each interval row
# tests ≤|days| probes, linear in the log). Mean is computed as
# exact-decimal sum / count, cast once — the documented parity recipe.
# --------------------------------------------------------------------------


def _scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    intervals = e.select(
        "user_id",
        "ts",
        _dec(F.col("value")).alias("_v"),
        F.lead("ts").over(w).alias("nxt"),
    )
    spine = (
        e.agg(
            F.date_trunc("day", F.min("ts")).alias("mn"),
            F.date_trunc("day", F.max("ts")).alias("mx"),
        )
        .select(
            F.explode(
                F.sequence(
                    F.expr("mn + INTERVAL 1 DAY"),
                    F.col("mx"),
                    F.expr("INTERVAL 1 DAY"),
                )
            ).alias("day")
        )
    )
    asof = intervals.join(
        F.broadcast(spine),
        (F.col("ts") <= F.col("day"))
        & (F.col("nxt").isNull() | (F.col("nxt") > F.col("day"))),
    )
    return (
        asof.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tracked"),
            F.sum("_v").alias("_s"),
        )
        .select(
            "day",
            "n_tracked",
            F.round(
                F.col("_s").cast("double") / F.col("n_tracked"), 6
            ).alias("mean_current_value"),
        )
    )


register(
    "rel_scd2_asof",
    _scd2_asof,
    """
    WITH e AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM events
    ),
    intervals AS (
      SELECT user_id, ts, v,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS nxt
      FROM e
    ),
    spine AS (
      SELECT unnest(generate_series(
               mn + INTERVAL 1 DAY, mx, INTERVAL 1 DAY)) AS day
      FROM (SELECT CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS mn,
                   CAST(date_trunc('day', max(ts)) AS TIMESTAMP) AS mx
            FROM e)
    )
    SELECT s.day,
           CAST(count(*) AS BIGINT) AS n_tracked,
           round(CAST(sum(i.v) AS DOUBLE) / count(*), 6)
             AS mean_current_value
    FROM spine s JOIN intervals i
      ON i.ts <= s.day AND (i.nxt IS NULL OR i.nxt > s.day)
    GROUP BY 1
    """,
)


# --------------------------------------------------------------------------
# rel_cdc_merge (round 14) — changelog MERGE-apply receipt: the batch
# half of every CDC ingestion path (Debezium/branch-merge style). A
# base snapshot meets an ordered changelog of UPSERT/DELETE ops;
# last-op-per-key wins (seq order), and the receipt classifies every
# touched key the way a MERGE INTO summary does: insert (new key
# upserted), update (existing key upserted), delete (existing key
# deleted), noop_delete (delete of a key the snapshot never had — the
# MERGE no-op branch), unchanged (snapshot key the changelog never
# touched), plus a `final` reconciliation row (rows + value of the
# post-merge table).
#
# 100 TB shape: one hash-agg on the key dedups the changelog to its
# final op (struct-max on seq — no window, map-side partial), one
# co-keyed full outer join classifies against the snapshot, and the
# receipt is a ≤6-row rollup. The changelog synthesis (explode of ≤2
# ops per key) is map-side. Value sums run in exact DECIMAL and cast
# to double only in the output projection (tpch.py policy).
# --------------------------------------------------------------------------

CDC_BASE_MOD = 4  # snapshot = keys % 4 != 3
CDC_CHG_MOD = 5  # changelog touches keys % 5 != 4
CDC_DEL_MOD = 11  # keys % 11 == 0 get a trailing DELETE op


def _cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", _dec(F.col("o_totalprice")).alias("v")
    )
    base = o.filter(F.col("o_orderkey") % CDC_BASE_MOD != 3)
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
    # last op per key wins: struct-max on seq (seqs are distinct per
    # key), one hash-agg — no window, no sort
    fin = ops.groupBy("o_orderkey").agg(
        F.max(F.struct("seq", "op", "val")).alias("_f")
    ).select(
        F.col("o_orderkey").alias("_fk"),
        F.col("_f.op").alias("op"),
        F.col("_f.val").alias("val"),
    )
    cls = base.join(
        fin, F.col("o_orderkey") == F.col("_fk"), "full_outer"
    ).select(
        F.when(F.col("_fk").isNull(), F.lit("unchanged"))
        .when(
            F.col("o_orderkey").isNull() & (F.col("op") == "UPSERT"),
            F.lit("insert"),
        )
        .when(F.col("o_orderkey").isNull(), F.lit("noop_delete"))
        .when(F.col("op") == "DELETE", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("action"),
        F.col("v").alias("base_v"),
        "val",
    )
    contrib = (
        F.when(
            F.col("action").isin("insert", "update"), F.col("val")
        ).when(
            F.col("action").isin("delete", "unchanged"),
            F.col("base_v"),
        )
    )
    # the ≤5-row rollup is checkpointed once (lazily): the `final`
    # reconciliation row derives from it — post-merge rows/value =
    # the unchanged + update + insert classes, whose contrib is
    # already coalesce(val, base_v) — so the data-sized cls join is
    # evaluated exactly once (the r12 lineage-blowup lesson)
    per_dec = (
        cls.groupBy("action")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.coalesce(
                F.sum(contrib), F.lit(0).cast("decimal(19,2)")
            ).alias("_sv"),
        )
        .localCheckpoint(eager=False)
    )
    per = per_dec.select(
        "action", "n_rows", F.col("_sv").cast("double").alias("sum_value")
    )
    final = per_dec.filter(
        F.col("action").isin("unchanged", "update", "insert")
    ).agg(
        F.lit("final").alias("action"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum("_sv").cast("double").alias("sum_value"),
    )
    return per.unionByName(final)


register(
    "rel_cdc_merge",
    _cdc_merge,
    f"""
    WITH o AS (
      SELECT o_orderkey AS k,
             CAST(o_totalprice AS DECIMAL(18,2)) AS v
      FROM orders
    ),
    base AS (SELECT k, v FROM o WHERE k % {CDC_BASE_MOD} <> 3),
    chg AS (
      SELECT k, 1 AS seq, 'UPSERT' AS op,
             v + 10 AS val
      FROM o WHERE k % {CDC_CHG_MOD} <> 4
      UNION ALL
      SELECT k, 2, 'DELETE', NULL
      FROM o WHERE k % {CDC_CHG_MOD} <> 4 AND k % {CDC_DEL_MOD} = 0
    ),
    mx AS (SELECT k, max(seq) AS seq FROM chg GROUP BY 1),
    fin AS (SELECT c.k, c.op, c.val FROM chg c JOIN mx USING (k, seq)),
    cls AS (
      SELECT CASE WHEN f.k IS NULL THEN 'unchanged'
                  WHEN b.k IS NULL AND f.op = 'UPSERT' THEN 'insert'
                  WHEN b.k IS NULL THEN 'noop_delete'
                  WHEN f.op = 'DELETE' THEN 'delete'
                  ELSE 'update' END AS action,
             b.v AS base_v, f.val
      FROM base b FULL JOIN fin f ON b.k = f.k
    )
    SELECT action, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(coalesce(sum(CASE
                 WHEN action IN ('insert', 'update') THEN val
                 WHEN action IN ('delete', 'unchanged') THEN base_v
               END), 0) AS DOUBLE) AS sum_value
    FROM cls GROUP BY 1
    UNION ALL
    SELECT 'final', CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(coalesce(val, base_v)), 0) AS DOUBLE)
    FROM cls WHERE action IN ('unchanged', 'update', 'insert')
    """,
)


# --------------------------------------------------------------------------
# rel_bitemporal_asof (round 14) — bitemporal point-in-time reads
# (Snodgrass, "Developing Time-Oriented Database Applications in SQL";
# the SQL:2011 system-time + application-time table pair). Every
# warehouse with corrections needs BOTH axes: valid time (when the fact
# was true in the world) and transaction time (when the warehouse knew
# it). A report "AS OF system time T, valid at V" must see retroactive
# corrections only once their transaction lands, and must reconstruct
# yesterday's (wrong) report exactly — the audit-reproducibility
# contract rel_scd2_asof (valid-time-only) cannot express.
#
# The version store derives deterministically from orders: every order
# lands in the warehouse 2 days after its order date (v1); a correction
# cohort (key % 7 == 0) gets a retroactive value fix landing at d+10
# (closes v1's transaction interval, opens v2 over the SAME validity);
# a revision cohort (key % 5 == 0) opens a NEW validity period at d+90
# landing at d+91 (v3). Each snapshot row counts the versions current
# in both dimensions and how many are corrections.
#
# 100 TB shape: the version store is built map-side (explode of <= 3
# interval rows per key, no shuffle); the 4-row snapshot spec joins as
# a broadcast nested loop whose range predicates evaluate inside the
# scan stage, so the store is never shuffled; the rollup is a 4-group
# partial aggregate. Interval predicates are half-open ([from, to)),
# the standard bitemporal convention.
# --------------------------------------------------------------------------

BT_CORR_MOD = 7  # key % 7 == 0 -> retroactive correction at d+10
BT_NEWV_MOD = 5  # key % 5 == 0 -> new validity period opening at d+90
# (snap, tx_asof, valid_asof): system-time / valid-time probe pairs
BT_SNAPSHOTS = (
    ("s1_early", "1995-06-01", "1995-06-01"),
    ("s2_tx_behind", "1997-01-01", "1996-01-01"),
    ("s3_mid", "1999-06-01", "1999-06-01"),
    ("s4_late_retro", "2001-12-01", "1997-06-01"),
)


def bitemporal_snapshot(store: DataFrame, snaps: DataFrame) -> DataFrame:
    """Rollup of the versions current in BOTH time dimensions per
    snapshot probe. store: (val DECIMAL, vt_from, vt_to, tt_from,
    tt_to DATE — NULL to = open interval, half-open [from, to) —
    is_corr BOOLEAN); snaps: (snap, tx_asof, valid_asof) — broadcast
    against the store scan, which never shuffles."""
    current = store.join(
        F.broadcast(snaps),
        (F.col("tt_from") <= F.col("tx_asof"))
        & (F.col("tt_to").isNull() | (F.col("tt_to") > F.col("tx_asof")))
        & (F.col("vt_from") <= F.col("valid_asof"))
        & (F.col("vt_to").isNull() | (F.col("vt_to") > F.col("valid_asof"))),
    )
    return (
        current.groupBy("snap", "tx_asof", "valid_asof")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.coalesce(
                F.sum(F.col("is_corr").cast("int")), F.lit(0)
            ).cast("bigint").alias("n_corrected"),
            F.coalesce(F.sum("val"), F.lit(0).cast("decimal(19,2)"))
            .cast("double")
            .alias("sum_val"),
        )
        # dates leave as strings: DuckDB's DATE fetches as datetime64
        # while Spark's DateType fetches as object — string output is
        # the repo-wide date-column parity convention
        .select(
            "snap",
            F.date_format("tx_asof", "yyyy-MM-dd").alias("tx_asof"),
            F.date_format("valid_asof", "yyyy-MM-dd").alias("valid_asof"),
            "n_rows",
            "n_corrected",
            "sum_val",
        )
    )


def _bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderdate").cast("date").alias("d"),
        _dec(F.col("o_totalprice")).alias("v"),
    )
    is_corr = F.col("k") % BT_CORR_MOD == 0
    is_newv = F.col("k") % BT_NEWV_MOD == 0
    vt_to_1 = F.when(is_newv, F.date_add("d", 90)).cast("date")
    none_date = F.lit(None).cast("date")
    none_dec = F.lit(None).cast("decimal(19,2)")

    def ver(val: Column, vf: Column, vt: Column, tf: Column, tt: Column,
            corr: Column, keep: Column) -> Column:
        return F.struct(
            F.when(keep, val).otherwise(none_dec).alias("val"),
            vf.alias("vt_from"),
            vt.alias("vt_to"),
            tf.alias("tt_from"),
            tt.alias("tt_to"),
            corr.alias("is_corr"),
            keep.alias("_keep"),
        )

    store = (
        o.select(
            "k",
            F.explode(
                F.array(
                    ver(
                        F.col("v").cast("decimal(19,2)"),
                        F.col("d"),
                        vt_to_1,
                        F.date_add("d", 2),
                        F.when(is_corr, F.date_add("d", 10)).cast("date"),
                        F.lit(False),
                        F.lit(True),
                    ),
                    ver(
                        (F.col("v") + F.lit(5)).cast("decimal(19,2)"),
                        F.col("d"),
                        vt_to_1,
                        F.date_add("d", 10),
                        none_date,
                        F.lit(True),
                        is_corr,
                    ),
                    ver(
                        (F.col("v") + F.lit(9)).cast("decimal(19,2)"),
                        F.date_add("d", 90),
                        none_date,
                        F.date_add("d", 91),
                        none_date,
                        F.lit(False),
                        is_newv,
                    ),
                )
            ).alias("_v"),
        )
        .filter(F.col("_v._keep"))
        .select("k", "_v.*")
        .drop("_keep")
    )
    snaps = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("snap"),
                        F.lit(t).cast("date").alias("tx_asof"),
                        F.lit(va).cast("date").alias("valid_asof"),
                    )
                    for s, t, va in BT_SNAPSHOTS
                ]
            )
        ).alias("_s")
    ).select("_s.*")
    return bitemporal_snapshot(store, snaps)


def _sql_bitemporal_asof() -> str:
    snaps = ",\n      ".join(
        f"('{s}', DATE '{t}', DATE '{va}')" for s, t, va in BT_SNAPSHOTS
    )
    return f"""
    WITH o AS (
      SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d,
             CAST(o_totalprice AS DECIMAL(18,2)) AS v
      FROM orders
    ),
    store AS (
      SELECT k, CAST(v AS DECIMAL(19,2)) AS val,
             d AS vt_from,
             CASE WHEN k % {BT_NEWV_MOD} = 0 THEN d + 90 END AS vt_to,
             d + 2 AS tt_from,
             CASE WHEN k % {BT_CORR_MOD} = 0 THEN d + 10 END AS tt_to,
             FALSE AS is_corr
      FROM o
      UNION ALL
      SELECT k, CAST(v + 5 AS DECIMAL(19,2)),
             d,
             CASE WHEN k % {BT_NEWV_MOD} = 0 THEN d + 90 END,
             d + 10, CAST(NULL AS DATE), TRUE
      FROM o WHERE k % {BT_CORR_MOD} = 0
      UNION ALL
      SELECT k, CAST(v + 9 AS DECIMAL(19,2)),
             d + 90, CAST(NULL AS DATE),
             d + 91, CAST(NULL AS DATE), FALSE
      FROM o WHERE k % {BT_NEWV_MOD} = 0
    ),
    snaps(snap, tx_asof, valid_asof) AS (VALUES
      {snaps}
    )
    SELECT snap, strftime(tx_asof, '%Y-%m-%d') AS tx_asof,
           strftime(valid_asof, '%Y-%m-%d') AS valid_asof,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(coalesce(sum(CASE WHEN is_corr THEN 1 END), 0) AS BIGINT)
             AS n_corrected,
           CAST(coalesce(sum(val), 0) AS DOUBLE) AS sum_val
    FROM store JOIN snaps
      ON tt_from <= tx_asof
     AND (tt_to IS NULL OR tt_to > tx_asof)
     AND vt_from <= valid_asof
     AND (vt_to IS NULL OR vt_to > valid_asof)
    GROUP BY 1, 2, 3
    """


register("rel_bitemporal_asof", _bitemporal_asof, _sql_bitemporal_asof())
