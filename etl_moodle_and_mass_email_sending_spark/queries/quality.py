"""[EXT] M5 — relational completeness, data-quality / statistics / audit family (SURVEY.md §7),
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
from ..registry import register
from .tpch import _dec
from ..operators import quality_checks as _qc
from ..operators import sketches as _sketches

# --------------------------------------------------------------------------
# rel_distinct_parts — distinct + exact count-distinct (the dedup primitive
# the reference lacks; README.md:72–74 lists it as unimplemented roadmap).
# --------------------------------------------------------------------------


def _distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.select("l_returnflag", "l_linestatus", "l_partkey")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.countDistinct("l_partkey").alias("n_parts"))
    )


register(
    "rel_distinct_parts",
    _distinct_parts,
    """
    SELECT l_returnflag, l_linestatus,
           count(DISTINCT l_partkey) AS n_parts
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)

# --------------------------------------------------------------------------
# rel_semi_anti — semi/anti join coverage: per market segment, how many
# customers have an URGENT order (semi) and how many have no orders at all
# (anti). At scale: both are shuffle joins on custkey that never widen the
# row (semi/anti keep only the left side); Catalyst plans ExistenceJoin.
# --------------------------------------------------------------------------


def _semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o = load_tables(spark, sf_dir, "customer", "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    with_urgent = (
        c.join(urgent, c.c_custkey == urgent.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_with_urgent"))
    )
    without_orders = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_without_orders"))
    )
    return (
        c.groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
        .join(with_urgent, on="c_mktsegment", how="left")
        .join(without_orders, on="c_mktsegment", how="left")
        .select(
            "c_mktsegment",
            "n_customers",
            F.coalesce("n_with_urgent", F.lit(0)).alias("n_with_urgent"),
            F.coalesce("n_without_orders", F.lit(0)).alias(
                "n_without_orders"
            ),
        )
    )


register(
    "rel_semi_anti",
    _semi_anti,
    """
    SELECT c_mktsegment,
           count(*) AS n_customers,
           CAST(coalesce(sum(CASE WHEN EXISTS (
               SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                 AND o.o_orderpriority = '1-URGENT') THEN 1 END), 0)
             AS BIGINT) AS n_with_urgent,
           CAST(coalesce(sum(CASE WHEN NOT EXISTS (
               SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
             THEN 1 END), 0) AS BIGINT) AS n_without_orders
    FROM customer c GROUP BY c_mktsegment
    """,
)


# --------------------------------------------------------------------------
# rel_scalar_subquery — big spenders: customers whose total order value
# exceeds 2× the global average customer total. Catalyst plans the scalar
# as a single-row broadcast (one extra agg pass, no per-row subquery
# execution) — the textbook decorrelation the optimizer does for free.
# --------------------------------------------------------------------------


def _scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    totals = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend")
    )
    avg_spend = totals.agg(
        F.avg(F.col("spend").cast("double")).alias("avg_spend")
    )
    return (
        totals.crossJoin(F.broadcast(avg_spend))
        .filter(F.col("spend").cast("double") > 2 * F.col("avg_spend"))
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("spend").cast("double").alias("total_spend"),
        )
    )


register(
    "rel_scalar_subquery",
    _scalar_subquery,
    """
    WITH totals AS (
      SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey AS custkey, CAST(spend AS DOUBLE) AS total_spend
    FROM totals
    WHERE CAST(spend AS DOUBLE) >
          2 * (SELECT avg(CAST(spend AS DOUBLE)) FROM totals)
    """,
)


# --------------------------------------------------------------------------
# rel_percentiles — exact interpolated percentiles (Spark `percentile` ↔
# DuckDB `quantile_cont`, same linear-interpolation definition). At 100 TB
# exact percentiles need a full sort per group — the scale path swaps in
# `percentile_approx` (t-digest) at the cost of oracle exactness; both are
# one expression swap in this plan shape.
# --------------------------------------------------------------------------


def _percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.coalesce(F.col("value"), F.lit(0.0))
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(coalesce(value, 0.0), 0.5)"), 6).alias(
            "p50"
        ),
        F.round(F.expr("percentile(coalesce(value, 0.0), 0.95)"), 6).alias(
            "p95"
        ),
        F.round(F.min(v), 6).alias("vmin"),
        F.round(F.max(v), 6).alias("vmax"),
        F.count("*").alias("n"),
    )


register(
    "rel_percentiles",
    _percentiles,
    """
    SELECT event_type,
           round(quantile_cont(coalesce(value, 0.0), 0.5), 6) AS p50,
           round(quantile_cont(coalesce(value, 0.0), 0.95), 6) AS p95,
           round(min(coalesce(value, 0.0)), 6) AS vmin,
           round(max(coalesce(value, 0.0)), 6) AS vmax,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)


# --------------------------------------------------------------------------
# rel_data_quality — declarative ingest-gate checks over lineitem, all
# evaluated in one scan (operators/quality_checks.py).
# --------------------------------------------------------------------------


def _data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality_checks import validate

    l = load_table(spark, sf_dir, "lineitem")
    return validate(
        l,
        {
            "orderkey_not_null": F.col("l_orderkey").isNotNull(),
            "quantity_in_range": F.col("l_quantity").between(1, 50),
            "discount_in_range": F.col("l_discount").between(0.0, 0.1),
            "price_positive": F.col("l_extendedprice") > 0,
            "shipdate_not_null": F.col("l_shipdate").isNotNull(),
            "tax_in_range": F.col("l_tax").between(0.0, 0.08),
        },
    )


def _data_quality_sql() -> str:
    from ..operators.quality_checks import sql_validate

    return sql_validate(
        "SELECT * FROM lineitem",
        {
            "orderkey_not_null": "l_orderkey IS NOT NULL",
            "quantity_in_range": "l_quantity BETWEEN 1 AND 50",
            "discount_in_range": "l_discount BETWEEN 0.0 AND 0.1",
            "price_positive": "l_extendedprice > 0",
            "shipdate_not_null": "l_shipdate IS NOT NULL",
            "tax_in_range": "l_tax BETWEEN 0.0 AND 0.08",
        },
    )


register("rel_data_quality", _data_quality, _data_quality_sql())


# --------------------------------------------------------------------------
# rel_order_reconciliation — the classic cross-table financial audit:
# per order, o_totalprice vs the recomputed
# sum(extendedprice * (1 - discount) * (1 + tax)) over its lineitems,
# bucketed into exact / within-1% / mismatched / no-lineitems counts.
# All money math in DECIMAL (exact, order-independent); the join is
# fact-to-fact on orderkey (shuffle, never broadcast — the q12
# posture). On real ingest this is the reconciliation gate between an
# order header feed and a line-level feed.
# --------------------------------------------------------------------------


def _order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (
            _dec(F.col("l_extendedprice"))
            * (F.lit(1).cast("decimal(3,2)") - _dec(F.col("l_discount"), "4,2"))
            * (F.lit(1).cast("decimal(3,2)") + _dec(F.col("l_tax"), "4,2"))
        ).alias("_line_total"),
    )
    recomputed = li.groupBy("l_orderkey").agg(
        F.sum("_line_total").alias("_computed")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", _dec(F.col("o_totalprice")).alias("_stated")
    )
    joined = o.join(
        recomputed, o.o_orderkey == recomputed.l_orderkey, "left"
    ).select(
        "_stated",
        "_computed",
        F.when(F.col("_computed").isNull(), F.lit("no_lineitems"))
        .when(F.col("_computed") == F.col("_stated"), F.lit("exact"))
        .when(
            F.abs(
                F.col("_computed").cast("double")
                - F.col("_stated").cast("double")
            )
            <= F.col("_stated").cast("double") * 0.01,
            F.lit("within_1pct"),
        )
        .otherwise(F.lit("mismatch"))
        .alias("status"),
    )
    tot = joined.groupBy().agg(F.count("*").alias("_t"))
    return (
        joined.groupBy("status")
        .agg(F.count("*").alias("n_orders"))
        .crossJoin(F.broadcast(tot))
        .select(
            "status",
            "n_orders",
            F.round(F.col("n_orders") / F.col("_t"), 6).alias("share"),
        )
    )


register(
    "rel_order_reconciliation",
    _order_reconciliation,
    """
    WITH recomputed AS (
      SELECT l_orderkey,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(3,2))
                    - CAST(l_discount AS DECIMAL(4,2)))
                 * (CAST(1 AS DECIMAL(3,2))
                    + CAST(l_tax AS DECIMAL(4,2)))) AS computed
      FROM lineitem GROUP BY 1
    ),
    joined AS (
      SELECT CASE
               WHEN r.computed IS NULL THEN 'no_lineitems'
               WHEN r.computed = CAST(o.o_totalprice AS DECIMAL(18,2))
                 THEN 'exact'
               WHEN abs(CAST(r.computed AS DOUBLE)
                        - CAST(CAST(o.o_totalprice AS DECIMAL(18,2))
                               AS DOUBLE))
                    <= CAST(CAST(o.o_totalprice AS DECIMAL(18,2))
                            AS DOUBLE) * 0.01
                 THEN 'within_1pct'
               ELSE 'mismatch'
             END AS status
      FROM orders o LEFT JOIN recomputed r ON o.o_orderkey = r.l_orderkey
    ),
    tot AS (SELECT count(*) AS t FROM joined)
    SELECT status, count(*) AS n_orders,
           round(CAST(count(*) AS DOUBLE) / t, 6) AS share
    FROM joined CROSS JOIN tot
    GROUP BY status, t
    """,
)


# --------------------------------------------------------------------------
# rel_k_anonymity — privacy audit over customer quasi-identifiers
# (nation, market segment): per k threshold, equivalence classes and
# rows below it (operators/quality_checks.py).
# --------------------------------------------------------------------------




register(
    "rel_k_anonymity",
    lambda spark, sf_dir: _qc.k_anonymity(
        load_table(spark, sf_dir, "customer"),
        ["c_nationkey", "c_mktsegment"],
    ),
    _qc.sql_k_anonymity(
        "SELECT * FROM customer", ["c_nationkey", "c_mktsegment"]
    ),
)


# --------------------------------------------------------------------------
# rel_psi_drift — population-stability-index drift of event values
# between the even/odd event-id cohorts (a deterministic stand-in for
# week-over-week snapshots): 10 global equal-width bins, per-bin
# (p − q)·ln(p/q) with the conventional 1e-4 floor.
# --------------------------------------------------------------------------


def _psi(spark, sf_dir):
    from pyspark.sql import functions as F

    return _qc.psi_drift(
        load_table(spark, sf_dir, "events"),
        "value",
        (F.col("event_id") % 2).cast("int"),
    )


register(
    "rel_psi_drift",
    _psi,
    _qc.sql_psi_drift(
        "SELECT * FROM events", "value",
        "CAST(event_id % 2 AS INTEGER)",
    ),
)


# --------------------------------------------------------------------------
# rel_quantile_sketch — mergeable bottom-k-sample quantile estimation
# (operators/sketches.py): nearest-rank p50/p90 of event values from a
# deterministic 64-row hash sample, exact twins alongside.
# --------------------------------------------------------------------------


register(
    "rel_quantile_sketch",
    lambda spark, sf_dir: _sketches.sample_quantiles(
        load_table(spark, sf_dir, "events"),
        "event_type", "event_id", "value",
    ),
    _sketches.sql_sample_quantiles(
        "SELECT event_type, event_id, value FROM events",
        "event_type", "event_id", "value",
    ),
)


# --------------------------------------------------------------------------
# rel_benford_check — first-significant-digit Benford audit over order
# totals (operators/quality_checks.py): the data-quality screen for
# amount columns, 9 spine rows with per-digit chi-square terms.
# --------------------------------------------------------------------------


register(
    "rel_benford_check",
    lambda spark, sf_dir: _qc.benford_check(
        load_table(spark, sf_dir, "orders"), "o_totalprice"
    ),
    _qc.sql_benford_check("SELECT * FROM orders", "o_totalprice"),
)


# --------------------------------------------------------------------------
# rel_value_outliers — per-user z-score anomaly flags: events whose value
# deviates > 2σ from that user's own mean. Two passes over the same
# user_id partitioning: one agg for per-user moments (exact DECIMAL sums
# → deterministic mean/variance), one broadcast-join back to flag rows.
# Variance uses the E[x²]−E[x]² form off the same exact sums, rounded
# before the sqrt so both engines branch identically at the threshold.
# --------------------------------------------------------------------------


def _value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    sums = e.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(_dec(F.col("value"))).alias("_s"),
        F.sum(_dec(F.col("value")) * _dec(F.col("value"))).alias("_s2"),
    )
    stats = sums.select(
        "user_id",
        "n",
        (F.col("_s").cast("double") / F.col("n")).alias("mean"),
        F.sqrt(
            F.round(
                F.col("_s2").cast("double") / F.col("n")
                - F.pow(F.col("_s").cast("double") / F.col("n"), 2),
                9,
            )
        ).alias("sd"),
    ).filter(F.col("n") >= 10).filter(F.col("sd") > 0)
    flagged = e.join(F.broadcast(stats), "user_id").filter(
        F.abs(F.col("value") - F.col("mean")) > 2 * F.col("sd")
    )
    return flagged.select(
        "event_id",
        "user_id",
        "value",
        F.round("mean", 6).alias("mean"),
        F.round("sd", 6).alias("sd"),
        F.round(
            (F.col("value") - F.col("mean")) / F.col("sd"), 4
        ).alias("z"),
    )


register(
    "rel_value_outliers",
    _value_outliers,
    """
    WITH base AS (
      SELECT event_id, user_id, value FROM events WHERE value IS NOT NULL
    ),
    sums AS (
      SELECT user_id, count(*) AS n,
             sum(CAST(value AS DECIMAL(18,2))) AS s,
             sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
               AS s2
      FROM base GROUP BY user_id
    ),
    stats AS (
      SELECT user_id, n,
             CAST(s AS DOUBLE) / n AS mean,
             sqrt(round(CAST(s2 AS DOUBLE) / n
                  - pow(CAST(s AS DOUBLE) / n, 2), 9)) AS sd
      FROM sums WHERE n >= 10
    ),
    stats2 AS (
      SELECT * FROM stats WHERE sd > 0
    )
    SELECT b.event_id, b.user_id, b.value,
           round(t.mean, 6) AS mean, round(t.sd, 6) AS sd,
           round((b.value - t.mean) / t.sd, 4) AS z
    FROM base b JOIN stats2 t USING (user_id)
    WHERE abs(b.value - t.mean) > 2 * t.sd
    """,
)


# --------------------------------------------------------------------------
# rel_incremental_agg — snapshot ⊎ delta aggregate merge: the pattern an
# incremental 100 TB pipeline lives on. The per-(user, type) rollup is
# built twice — once over history (days 1-20), once over the new arrivals
# (day > 20) — and MERGED by summing the algebraic pieces (sum, count),
# with avg derived only after the merge (avg itself is not mergeable;
# its sum/count decomposition is). The oracle is the one-shot rollup
# over everything: merging partials must be indistinguishable from
# recomputing — that equivalence is exactly what lets a production
# pipeline process only the delta each day. Counts use
# sum(count)::BIGINT on both sides so the merged dtypes match.
# --------------------------------------------------------------------------

_INCR_CUTOFF = "2024-01-21"


def _incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cut = F.lit(_INCR_CUTOFF).cast("timestamp")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id", "event_type").agg(
            F.sum(_dec(F.col("value"))).alias("s"),
            F.count("*").alias("n"),
        )

    snapshot = rollup(e.filter(F.col("ts") < cut))
    delta = rollup(e.filter(F.col("ts") >= cut))
    merged = (
        snapshot.unionByName(delta)
        .groupBy("user_id", "event_type")
        .agg(F.sum("s").alias("s"), F.sum("n").cast("bigint").alias("n"))
    )
    return merged.select(
        "user_id",
        "event_type",
        F.col("s").cast("double").alias("sum_value"),
        F.col("n").alias("n_events"),
        F.round(F.col("s").cast("double") / F.col("n"), 6).alias("avg_value"),
    )


register(
    "rel_incremental_agg",
    _incremental_agg,
    f"""
    SELECT user_id, event_type,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*), 6) AS avg_value
    FROM events
    WHERE value IS NOT NULL
    GROUP BY user_id, event_type
    """,
)


# --------------------------------------------------------------------------
# rel_snapshot_diff — table-version reconciliation: FULL OUTER join two
# snapshots on the key and classify every row as added / removed /
# modified / unchanged-excluded, comparing payloads by md5 so the join
# carries an 8-byte digest per side instead of the document text (the
# same shuffle-the-digest-not-the-payload rule as dedup_exact). v2 is a
# deterministic mutation of the documents table (drop every 11th doc,
# rewrite every 13th) so all three classes are exercised; in production
# the two sides are yesterday's and today's snapshot of the same table.
# --------------------------------------------------------------------------


def _snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    v1 = d.select("doc_id", F.md5("text").alias("h"))
    v2 = (
        d.filter(F.col("doc_id") % 11 != 0)
        .select(
            "doc_id",
            F.md5(
                F.when(
                    F.col("doc_id") % 13 == 0, F.upper(F.col("text"))
                ).otherwise(F.col("text"))
            ).alias("h"),
        )
        # new arrivals, so the 'added' class is exercised too
        .unionByName(
            d.filter(F.col("doc_id") % 17 == 0).select(
                (F.col("doc_id") + 500_000).alias("doc_id"),
                F.md5("text").alias("h"),
            )
        )
    )
    j = v1.select(F.col("doc_id"), F.col("h").alias("h1")).join(
        v2.select(F.col("doc_id"), F.col("h").alias("h2")),
        "doc_id",
        "full_outer",
    )
    return (
        j.select(
            "doc_id",
            F.when(F.col("h1").isNull(), F.lit("added"))
            .when(F.col("h2").isNull(), F.lit("removed"))
            .when(F.col("h1") != F.col("h2"), F.lit("modified"))
            .otherwise(F.lit("unchanged"))
            .alias("change_type"),
        )
        .filter(F.col("change_type") != "unchanged")
    )


register(
    "rel_snapshot_diff",
    _snapshot_diff,
    """
    WITH v1 AS (
      SELECT doc_id, md5(text) AS h FROM documents
    ),
    v2 AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 13 = 0 THEN upper(text) ELSE text END)
               AS h
      FROM documents WHERE doc_id % 11 <> 0
      UNION ALL
      SELECT doc_id + 500000 AS doc_id, md5(text) AS h
      FROM documents WHERE doc_id % 17 = 0
    )
    SELECT doc_id, change_type FROM (
      SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
             CASE WHEN v1.h IS NULL THEN 'added'
                  WHEN v2.h IS NULL THEN 'removed'
                  WHEN v1.h <> v2.h THEN 'modified'
                  ELSE 'unchanged' END AS change_type
      FROM v1 FULL OUTER JOIN v2 USING (doc_id)
    ) WHERE change_type <> 'unchanged'
    """,
)


# --------------------------------------------------------------------------
# rel_winsorize — percentile capping: clamp each value to its segment's
# [p05, p95] band and report the shift. Two stages sharing the
# event_type key: the per-segment percentile agg (tiny result —
# broadcast back over the stream) and the clamp + rollup. Rounding the
# band BEFORE clamping keeps the boundary branch identical across
# engines (percentile/quantile_cont share the linear-interpolation
# definition). The scale note from rel_percentiles applies: exact
# percentiles sort per group; the approx swap is one expression.
# --------------------------------------------------------------------------


def _winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bands = e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.05)"), 6).alias("p05"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
    )
    clamped = e.join(F.broadcast(bands), "event_type").select(
        "event_type",
        "value",
        F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")).alias(
            "w"
        ),
    )
    return clamped.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum((F.col("value") < F.col("w")).cast("bigint")).alias(
            "n_capped_low"
        ),
        F.sum((F.col("value") > F.col("w")).cast("bigint")).alias(
            "n_capped_high"
        ),
        F.round(
            F.sum(_dec(F.col("value"))).cast("double") / F.count("*"), 6
        ).alias("mean_raw"),
        F.round(
            F.sum(_dec(F.col("w"), "18,6")).cast("double") / F.count("*"), 6
        ).alias("mean_winsorized"),
    )


register(
    "rel_winsorize",
    _winsorize,
    """
    WITH base AS (
      SELECT event_type, value FROM events WHERE value IS NOT NULL
    ),
    bands AS (
      SELECT event_type,
             round(quantile_cont(value, 0.05), 6) AS p05,
             round(quantile_cont(value, 0.95), 6) AS p95
      FROM base GROUP BY event_type
    ),
    clamped AS (
      SELECT b.event_type, b.value,
             least(greatest(b.value, d.p05), d.p95) AS w
      FROM base b JOIN bands d USING (event_type)
    )
    SELECT event_type, count(*) AS n,
           CAST(sum(CASE WHEN value < w THEN 1 ELSE 0 END) AS BIGINT)
             AS n_capped_low,
           CAST(sum(CASE WHEN value > w THEN 1 ELSE 0 END) AS BIGINT)
             AS n_capped_high,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*), 6) AS mean_raw,
           round(CAST(sum(CAST(w AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 6) AS mean_winsorized
    FROM clamped GROUP BY event_type
    """,
)


# --------------------------------------------------------------------------
# rel_chi_square — independence test between market segment and event
# type: chi² = Σ (observed − expected)² / expected over the contingency
# table. The observed table is one groupBy; marginals are two tiny
# rollups broadcast back; everything downstream of the first aggregation
# moves vocabulary-sized frames. All counts are integers until the final
# ratio, rounded to 6 — deterministic cross-engine.
# --------------------------------------------------------------------------


def _chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    obs = (
        e.join(F.broadcast(c), "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("o"))
    )
    row_m = obs.groupBy("c_mktsegment").agg(F.sum("o").alias("_r"))
    col_m = obs.groupBy("event_type").agg(F.sum("o").alias("_c"))
    total = obs.agg(F.sum("o").alias("_t"))
    cell = (
        obs.join(F.broadcast(row_m), "c_mktsegment")
        .join(F.broadcast(col_m), "event_type")
        .crossJoin(F.broadcast(total))
        .select(
            "c_mktsegment",
            "event_type",
            "o",
            (
                F.col("_r").cast("double")
                * F.col("_c")
                / F.col("_t")
            ).alias("exp"),
        )
    )
    return (
        cell.withColumn(
            "chi2_term",
            F.round(
                F.pow(F.col("o") - F.col("exp"), 2) / F.col("exp"), 6
            ),
        )
        .select(
            "c_mktsegment",
            "event_type",
            "o",
            F.round("exp", 6).alias("expected"),
            "chi2_term",
        )
    )


register(
    "rel_chi_square",
    _chi_square,
    """
    WITH obs AS (
      SELECT c_mktsegment, event_type, count(*) AS o
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY 1, 2
    ),
    rm AS (SELECT c_mktsegment, CAST(sum(o) AS BIGINT) AS r FROM obs GROUP BY 1),
    cm AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY 1),
    t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs)
    SELECT obs.c_mktsegment, obs.event_type, obs.o,
           round(CAST(rm.r AS DOUBLE) * cm.c / t.n, 6) AS expected,
           round(pow(obs.o - CAST(rm.r AS DOUBLE) * cm.c / t.n, 2)
                 / (CAST(rm.r AS DOUBLE) * cm.c / t.n), 6) AS chi2_term
    FROM obs JOIN rm USING (c_mktsegment) JOIN cm USING (event_type)
    CROSS JOIN t
    """,
)


# --------------------------------------------------------------------------
# rel_correlation_matrix — pairwise Pearson correlations between the four
# lineitem measures in ONE scan: all sums (x, x², xy) accumulate as
# exact DECIMALs (order-independent, so the result is deterministic
# under any partitioning), the corr formula runs as double arithmetic on
# the final 1-row aggregate, and the 6 pairs unpivot with a stack().
# The feature-screening pass a model pipeline runs before training —
# never a per-pair rescan, never a float accumulation race.
# --------------------------------------------------------------------------

_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.util import spread_for_compute

    # exact-DECIMAL product sums run in BigDecimal (not a codegen
    # primitive), so the 3-partition testbed scan gates the pass —
    # spread first (measured 2.44 → 1.77 s at sf0.1)
    li = spread_for_compute(
        load_table(spark, sf_dir, "lineitem").select(
            *[
                F.col(c).cast("decimal(18,4)").alias(c)
                for c in _CORR_COLS
            ]
        )
    )
    aggs = [F.count("*").alias("_n")]
    for c in _CORR_COLS:
        aggs.append(F.sum(F.col(c)).alias(f"_s_{c}"))
        aggs.append(F.sum(F.col(c) * F.col(c)).alias(f"_q_{c}"))
    pairs = [
        (a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1 :]
    ]
    for a, b in pairs:
        aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"_p_{a}_{b}"))
    wide = li.agg(*aggs)

    def corr(a: str, b: str):
        n = F.col("_n").cast("double")
        sa = F.col(f"_s_{a}").cast("double")
        sb = F.col(f"_s_{b}").cast("double")
        qa = F.col(f"_q_{a}").cast("double")
        qb = F.col(f"_q_{b}").cast("double")
        p = F.col(f"_p_{a}_{b}").cast("double")
        return F.round(
            (n * p - sa * sb)
            / (F.sqrt(n * qa - sa * sa) * F.sqrt(n * qb - sb * sb)),
            6,
        )

    cells = wide.select(
        *[corr(a, b).alias(f"_c{i}") for i, (a, b) in enumerate(pairs)]
    )
    stack = ", ".join(
        f"'{a}', '{b}', _c{i}" for i, (a, b) in enumerate(pairs)
    )
    return cells.selectExpr(
        f"stack({len(pairs)}, {stack}) AS (col_a, col_b, pearson_corr)"
    )


def _sql_correlation_matrix() -> str:
    sums = ["count(*) AS n"]
    for c in _CORR_COLS:
        sums.append(f"sum(CAST({c} AS DECIMAL(18,4))) AS s_{c}")
        sums.append(
            # DECIMAL(19,4): forces DuckDB's int128 multiply (the 18,4
            # product overflows its int64 fast path); values identical
            f"sum(CAST({c} AS DECIMAL(19,4)) * CAST({c} AS DECIMAL(19,4)))"
            f" AS q_{c}"
        )
    pairs = [
        (a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1 :]
    ]
    for a, b in pairs:
        sums.append(
            f"sum(CAST({a} AS DECIMAL(19,4)) * CAST({b} AS DECIMAL(19,4)))"
            f" AS p_{a}_{b}"
        )
    arms = []
    for a, b in pairs:
        expr = (
            f"(CAST(n AS DOUBLE) * CAST(p_{a}_{b} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
            f" / (sqrt(CAST(n AS DOUBLE) * CAST(q_{a} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
            f" * sqrt(CAST(n AS DOUBLE) * CAST(q_{b} AS DOUBLE)"
            f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))"
        )
        arms.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b,"
            f" round({expr}, 6) AS pearson_corr FROM s"
        )
    union = "\n    UNION ALL\n    ".join(arms)
    return f"""
    WITH s AS (SELECT {", ".join(sums)} FROM lineitem)
    {union}
    """


register(
    "rel_correlation_matrix", _correlation_matrix, _sql_correlation_matrix()
)


# --------------------------------------------------------------------------
# rel_duplicate_orders — possible-duplicate-invoice detection (the
# reconciliation screen finance teams run): order pairs from the SAME
# customer whose totals differ by <= 5000.00 and whose order dates fall
# within 60 days. Self-join keyed on o_custkey — per-customer order
# counts are bounded (TPC-H ~10), so the equi-join fan-out is tiny and
# the inequality predicates evaluate post-join; no cartesian, no range
# explosion. Price deltas compare as exact DECIMAL(18,2).
# --------------------------------------------------------------------------


def _duplicate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.to_date("o_orderdate").alias("_d"),
        _dec(F.col("o_totalprice")).alias("_p"),
    )
    a, b = o.alias("a"), o.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .withColumn(
            "day_gap",
            F.abs(F.datediff(F.col("b._d"), F.col("a._d"))).cast("int"),
        )
        .withColumn(
            "price_gap",
            F.abs(F.col("b._p") - F.col("a._p")).cast("double"),
        )
        .filter((F.col("day_gap") <= 60) & (F.col("price_gap") <= 5000.0))
        .select(
            F.col("a.o_custkey").alias("custkey"),
            F.col("a.o_orderkey").alias("order_a"),
            F.col("b.o_orderkey").alias("order_b"),
            "day_gap",
            "price_gap",
        )
    )


register(
    "rel_duplicate_orders",
    _duplicate_orders,
    """
    SELECT a.o_custkey AS custkey,
           a.o_orderkey AS order_a,
           b.o_orderkey AS order_b,
           CAST(abs(date_diff('day', CAST(a.o_orderdate AS DATE),
                              CAST(b.o_orderdate AS DATE))) AS INTEGER)
             AS day_gap,
           CAST(abs(CAST(b.o_totalprice AS DECIMAL(18,2))
                    - CAST(a.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS price_gap
    FROM orders a JOIN orders b
      ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
    WHERE abs(date_diff('day', CAST(a.o_orderdate AS DATE),
                        CAST(b.o_orderdate AS DATE))) <= 60
      AND abs(CAST(b.o_totalprice AS DECIMAL(18,2))
              - CAST(a.o_totalprice AS DECIMAL(18,2))) <= 5000.00
    """,
)


# --------------------------------------------------------------------------
# rel_mad_outliers — robust dispersion screen per return-flag class:
# exact median, median absolute deviation, and the count of rows
# outside the 3-sigma-equivalent robust fence (3 · 1.4826 · MAD).
# MAD-based fences are the outlier rule that survives the outliers
# themselves (unlike mean/stddev — rel_value_outliers' z-scores).
#
# Scale: BOTH exact medians run as bucket-histogram medians (the
# classic two-round exact quantile): round 1 is a plain hash
# aggregation into a bounded (class, bucket) histogram — map-side
# partial, shuffle O(buckets × partitions) instead of O(rows) — whose
# cumulative counts locate the middle bucket(s); round 2 ranks ONLY
# the rows of those buckets (~1/|buckets| of the table) through
# two_pass_rank_in_groups and reads the median off the global
# position arithmetic. The return-flag groups are FEW and HUGE
# (3 classes × billions of rows at 100 TB) — exactly the case where
# Window.partitionBy(flag).orderBy would funnel each class through one
# task, and where even the two-pass grouped rank's O(rows) range
# shuffle (the round-7 shape, 3.85 s at sf0.1) is dominated by this
# histogram screen (~2 s). A (class, price, count) value-domain rollup
# was prescribed and MEASURED WORSE (6.5 s): l_extendedprice is
# quantity × part price, so the domain is ~as large as the row count
# (594k distinct / 600k rows at sf0.1) and the rollup only adds a
# full-width shuffle. See SCALE.md "mad_outliers weighted-median
# episode".
# --------------------------------------------------------------------------

MAD_FENCE_K = 3.0 * 1.4826


MAD_HIST_WIDTH = 100  # bucket width for the histogram median screen


def _hist_median(
    df: DataFrame, group: str, value: str, out: str, width: int
) -> DataFrame:
    """Exact per-group median via the two-round bucket-histogram
    screen. Round 1: hash-aggregate a (group, floor(value/width))
    histogram — map-side partial, so the shuffle carries
    O(buckets × partitions) rows — and read the middle positions
    floor((n+1)/2) / floor(n/2)+1 off its per-group cumulative counts
    (the window runs over the HISTOGRAM, bounded by the value domain /
    width, never the data). Round 2: re-scan only the rows of the
    bucket(s) covering those positions (~1/|buckets| of the table),
    collapse them to their exact (group, value) rollup — values here
    are discrete decimals, so the rollup is bounded by
    selected_buckets × width / value_resolution rows per group,
    independent of data size — and read the median off the rollup's
    cumulative counts; the 1-2 surviving values' average =
    quantile_cont(0.5).

    Every window below is partitionBy(group) over a BOUNDED frame (the
    histogram: ≤ domain/width rows per group; the round-2 rollup: the
    per-bucket value domain) — never over the data rows."""
    bkt = F.floor(F.col(value) / width).cast("long")
    hist = df.groupBy(F.col(group), bkt.alias("_bkt")).agg(
        F.count("*").alias("_hc")
    )
    wcum = (
        Window.partitionBy(group)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy(group)
    cum = hist.select(
        group,
        "_bkt",
        "_hc",
        F.sum("_hc").over(wcum).alias("_cumh"),
        F.sum("_hc").over(wall).alias("_n"),
    )
    p1 = F.floor((F.col("_n") + 1) / 2)
    p2 = F.floor(F.col("_n") / 2) + 1
    before = F.col("_cumh") - F.col("_hc")
    targets = (
        cum.filter(
            ((before < p1) & (p1 <= F.col("_cumh")))
            | ((before < p2) & (p2 <= F.col("_cumh")))
        )
        .groupBy(group)
        .agg(
            # p2 <= p1 + 1, so target buckets are value-adjacent: the
            # selected rows are contiguous in global order starting at
            # the first target bucket's offset
            F.min(before).alias("_off0"),
            F.max("_n").alias("_n"),
            F.collect_set("_bkt").alias("_bkts"),
        )
    )
    sel = df.join(F.broadcast(targets), group).filter(
        F.array_contains(F.col("_bkts"), bkt)
    )
    roll = sel.groupBy(group, value).agg(
        F.count("*").alias("_c"),
        F.first("_off0").alias("_off0"),
        F.first("_n").alias("_n"),
    )
    wv = (
        Window.partitionBy(group)
        .orderBy(value)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cumv = roll.withColumn("_cum", F.col("_off0") + F.sum("_c").over(wv))
    lo = F.col("_cum") - F.col("_c")
    return (
        cumv.filter(
            ((lo < p1) & (p1 <= F.col("_cum")))
            | ((lo < p2) & (p2 <= F.col("_cum")))
        )
        .groupBy(group)
        .agg(F.avg(value).alias(out))
    )


def _mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    # 3-row result, checkpointed: dev has THREE consumers (the dev
    # histogram, its round-2 rollup, and the fence tally) — without the
    # barrier each would replay the entire median-1 subtree
    med = _hist_median(
        li, "l_returnflag", "l_extendedprice", "median_price",
        MAD_HIST_WIDTH,
    ).localCheckpoint()
    # deviation = |price - class median|, derived from the 2-column
    # columnar scan + a broadcast of the 3-row median frame wherever
    # consumed — deliberately NOT checkpointed: at scale re-deriving
    # from the pruned scan is cheaper than materializing an O(rows)
    # checkpoint (the r7 finding), and each consumer's scan stays
    # pushed down
    dev = li.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag",
        F.abs(F.col("l_extendedprice") - F.col("median_price")).alias(
            "_dev"
        ),
        "median_price",
    )
    mad = _hist_median(dev, "l_returnflag", "_dev", "_mad", MAD_HIST_WIDTH)
    return (
        dev.join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.round(F.max("median_price"), 6).alias("median_price"),
            F.round(F.max("_mad"), 6).alias("mad"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("_dev") > F.lit(MAD_FENCE_K) * F.col("_mad"),
                        1,
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


register(
    "rel_mad_outliers",
    _mad_outliers,
    f"""
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS m
      FROM lineitem GROUP BY 1
    ),
    dev AS (
      SELECT l.l_returnflag, abs(l.l_extendedprice - md.m) AS dv, md.m
      FROM lineitem l JOIN med md USING (l_returnflag)
    ),
    mad AS (
      SELECT l_returnflag, quantile_cont(dv, 0.5) AS md FROM dev
      GROUP BY 1
    )
    SELECT d.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(max(d.m), 6) AS median_price,
           round(max(a.md), 6) AS mad,
           CAST(coalesce(sum(CASE WHEN d.dv > {MAD_FENCE_K!r} * a.md
                                  THEN 1 END), 0) AS BIGINT)
             AS n_outliers
    FROM dev d JOIN mad a USING (l_returnflag)
    GROUP BY 1
    """,
)




# --------------------------------------------------------------------------
# rel_profile_table (round 9) — one-scan, many-column table profiling:
# the "DESCRIBE at scale" a pipeline runs on an unfamiliar drop before
# writing any real query. One row per profiled lineitem column with
# count / nulls / exact distinct / min / max / mean (numeric only).
# Scale: a single aggregation computes every metric in one pass; the
# multi-column COUNT(DISTINCT) lowers to Spark's Expand (one row copy
# per distinct-column, partially aggregated map-side before the single
# shuffle) — the same plan DuckDB picks. At 100 TB the exact distincts
# are the knob to relax: swap count_distinct for approx_count_distinct
# and the scan count halves; the report contract is unchanged. A
# two-level (col, value) distinct plan was 2.1x faster on a 20M-row
# near-unique shape and slower at testbed cardinalities; no workload runs
# the wide shape, so only the Expand plan is kept (A/B in
# OPTIMIZATION_r15.md).
# --------------------------------------------------------------------------

_PROFILE_NUM = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_PROFILE_STR = ["l_returnflag", "l_linestatus", "l_shipdate"]


def _profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.util import spread_for_compute

    # spread the 3-partition testbed scan before the ×8 Expand the
    # multi-column COUNT(DISTINCT) lowers to — the Expand multiplies
    # rows BEFORE the partial agg, so input parallelism gates the whole
    # plan (measured 6.8 → 3.5 s at sf0.1; a real 100 TB scan is
    # already thousands of partitions and would skip this)
    li = spread_for_compute(
        load_table(spark, sf_dir, "lineitem").select(
            *_PROFILE_NUM, *_PROFILE_STR
        )
    )
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in _PROFILE_NUM + _PROFILE_STR:
        aggs.append(F.count(c).alias(f"_nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"_nd_{c}"))
    for c in _PROFILE_NUM:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"_mn_{c}"),
            F.max(F.col(c).cast("double")).alias(f"_mx_{c}"),
            # 6-decimal DECIMAL sum: exact, so the mean hashes
            # identically regardless of partial-sum order
            F.sum(
                F.round(F.col(c).cast("double"), 6).cast(
                    "decimal(18,6)"
                )
            ).alias(f"_sv_{c}"),
        ]
    wide = li.agg(*aggs)
    rows = []
    for c in _PROFILE_NUM:
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("_rows").cast("bigint").alias("n_rows"),
                (F.col("_rows") - F.col(f"_nn_{c}"))
                .cast("bigint")
                .alias("n_null"),
                F.col(f"_nd_{c}").cast("bigint").alias("n_distinct"),
                F.round(F.col(f"_mn_{c}"), 6).alias("min_val"),
                F.round(F.col(f"_mx_{c}"), 6).alias("max_val"),
                F.round(
                    F.col(f"_sv_{c}").cast("double")
                    / F.col(f"_nn_{c}"),
                    6,
                ).alias("mean_val"),
            )
        )
    for c in _PROFILE_STR:
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("_rows").cast("bigint").alias("n_rows"),
                (F.col("_rows") - F.col(f"_nn_{c}"))
                .cast("bigint")
                .alias("n_null"),
                F.col(f"_nd_{c}").cast("bigint").alias("n_distinct"),
                F.lit(None).cast("double").alias("min_val"),
                F.lit(None).cast("double").alias("max_val"),
                F.lit(None).cast("double").alias("mean_val"),
            )
        )
    return wide.select(F.explode(F.array(*rows)).alias("u")).select("u.*")


def _profile_table_sql() -> str:
    parts = []
    for c in _PROFILE_NUM:
        parts.append(f"""
        SELECT '{c}' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) - count({c}) AS BIGINT) AS n_null,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               round(CAST(min({c}) AS DOUBLE), 6) AS min_val,
               round(CAST(max({c}) AS DOUBLE), 6) AS max_val,
               round(CAST(sum(CAST(round(CAST({c} AS DOUBLE), 6)
                                   AS DECIMAL(18,6))) AS DOUBLE)
                     / count({c}), 6) AS mean_val
        FROM lineitem""")
    for c in _PROFILE_STR:
        parts.append(f"""
        SELECT '{c}', CAST(count(*) AS BIGINT),
               CAST(count(*) - count({c}) AS BIGINT),
               CAST(count(DISTINCT {c}) AS BIGINT),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
               CAST(NULL AS DOUBLE)
        FROM lineitem""")
    return " UNION ALL ".join(parts)


register("rel_profile_table", _profile_table, _profile_table_sql())


# --------------------------------------------------------------------------
# rel_compaction_plan (round 10) — the lakehouse maintenance planner
# behind OPTIMIZE / rewrite_data_files: a continuously-ingested table
# accumulates small files (here: the per-month drop src_manifest_scan
# plans over, one "file" per order-month), and the compactor must group
# consecutive files into ~equal-row outputs WITHOUT scanning data —
# only the manifest's per-file row counts. Grouping rule: files in
# layout (month) order, cut at multiples of target = ceil(total/8) in
# the cumulative-row domain — bin(file) = floor(rows_before / target).
# Boundaries land inside at most one file per bin, so outputs deviate
# from target by less than one input file; consecutive months stay
# together, preserving the sort-column clustering that makes the
# manifest's min/max pruning effective AFTER compaction (a hash-based
# grouping would destroy it).
#
# 100 TB shape: the plan runs ENTIRELY on the manifest rollup (one
# map-side-combined groupBy to |months| rows, KBs at any corpus size);
# the cumulative cut is a window over that bounded frame (whitelisted
# bound: the calendar), and the receipt is ≤ 8 rows. The actual
# rewrite job then reads exactly the files of each bin — the plan is
# the only step that needs to exist at query time.
# --------------------------------------------------------------------------

COMPACT_BINS = 8


def _compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    files = o.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("int")
        .alias("file_mo")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    # exclusive prefix sum over the calendar-bounded (~80-row) month
    # rollup, window-free (round 14): broadcast triangular self-join
    # on STRICTLY earlier months (left join: the first month has no
    # earlier rows) — no WindowExec node, no range shuffle on a frame
    # this small
    tot = files.agg(F.sum("n_rows").alias("_t"))
    target = F.ceil(F.col("_t") / F.lit(COMPACT_BINS)).cast("bigint")
    tri = files.select(
        F.col("file_mo").alias("_m2"), F.col("n_rows").alias("_n2")
    )
    binned = (
        files.join(F.broadcast(tri), F.col("_m2") < F.col("file_mo"), "left")
        .groupBy("file_mo", "n_rows")
        .agg(F.coalesce(F.sum("_n2"), F.lit(0)).alias("_cex"))
        .crossJoin(F.broadcast(tot))
        .withColumn("_target", target)
        .withColumn(
            "bin",
            F.floor(F.col("_cex") / F.col("_target")).cast("int"),
        )
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_input_files"),
        F.min("file_mo").alias("mo_first"),
        F.max("file_mo").alias("mo_last"),
        F.sum("n_rows").cast("bigint").alias("rows_total"),
        F.round(
            F.sum("n_rows") / F.first("_target").cast("double"), 4
        ).alias("fill_rate"),
    )


_COMPACTION_PLAN_SQL = f"""
WITH files AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER)
           AS file_mo,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM orders GROUP BY 1
),
tot AS (
  SELECT CAST(ceil(CAST(sum(n_rows) AS DOUBLE) / {COMPACT_BINS})
              AS BIGINT) AS target
  FROM files
),
binned AS (
  SELECT file_mo, n_rows, target,
         coalesce(sum(n_rows) OVER (ORDER BY file_mo
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS cex
  FROM files CROSS JOIN tot
)
SELECT CAST(floor(CAST(cex AS DOUBLE) / target) AS INTEGER) AS bin,
       CAST(count(*) AS BIGINT) AS n_input_files,
       min(file_mo) AS mo_first,
       max(file_mo) AS mo_last,
       CAST(sum(n_rows) AS BIGINT) AS rows_total,
       round(CAST(sum(n_rows) AS DOUBLE) / target, 4) AS fill_rate
FROM binned
GROUP BY 1, target
"""

register("rel_compaction_plan", _compaction_plan, _COMPACTION_PLAN_SQL)


# --------------------------------------------------------------------------
# rel_compaction_execute (round 10) — the rewrite job that CARRIES OUT
# rel_compaction_plan: read the month-partitioned small-file drop
# (the same staged layout src_manifest_scan plans over), attach each
# month's bin from the broadcast plan mapping, and rewrite into
# bin-partitioned parquet — then read the compacted table back and
# report per output bin what actually landed: rows, months spanned,
# and the sort-column [lo, hi] envelope. The envelope is the point:
# consecutive-month bins keep o_orderdate ranges disjoint, so the
# manifest's min/max pruning works on the COMPACTED files too — the
# property the plan promised, verified on the rewritten data.
#
# 100 TB shape: the mapping is a KB-sized broadcast (month → bin); the
# rewrite is one scan + a partitioned write with no shuffle beyond the
# partitioning; the receipt is ≤ |bins| rows. The compacted output is
# session-staged (staged_path), so repeated invocations measure the
# read-back, not a re-write — matching how a real OPTIMIZE runs once.
# --------------------------------------------------------------------------


def _compaction_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators.util import staged_path
    from ..sources.manifest import _build_drop

    base = _build_drop(spark, sf_dir)

    def build(path: str) -> None:
        files = (
            spark.read.parquet(os.path.join(base, "orders_by_mo"))
            .groupBy("file_mo")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        )
        tot = files.agg(F.sum("n_rows").alias("_t"))
        target = F.ceil(F.col("_t") / F.lit(COMPACT_BINS)).cast("bigint")
        tri = files.select(
            F.col("file_mo").alias("_m2"), F.col("n_rows").alias("_n2")
        )
        mapping = (
            files.join(
                F.broadcast(tri), F.col("_m2") < F.col("file_mo"), "left"
            )
            .groupBy("file_mo", "n_rows")
            .agg(F.coalesce(F.sum("_n2"), F.lit(0)).alias("_cex"))
            .crossJoin(F.broadcast(tot))
            .select(
                "file_mo",
                F.floor(F.col("_cex") / target).cast("int").alias("bin"),
            )
        )
        (
            spark.read.parquet(os.path.join(base, "orders_by_mo"))
            .join(F.broadcast(mapping), "file_mo")
            .write.partitionBy("bin")
            .parquet(os.path.join(path, "compacted"))
        )

    out = staged_path(spark, ("compaction_exec", sf_dir), build)
    compacted = spark.read.parquet(os.path.join(out, "compacted"))
    return compacted.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_written"),
        F.countDistinct("file_mo").cast("bigint").alias("n_months"),
        F.min("o_orderdate").alias("lo"),
        F.max("o_orderdate").alias("hi"),
    )


_COMPACTION_EXECUTE_SQL = f"""
WITH files AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER)
           AS file_mo,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM orders GROUP BY 1
),
tot AS (
  SELECT CAST(ceil(CAST(sum(n_rows) AS DOUBLE) / {COMPACT_BINS})
              AS BIGINT) AS target
  FROM files
),
mapping AS (
  SELECT file_mo,
         CAST(floor(CAST(coalesce(sum(n_rows) OVER (ORDER BY file_mo
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS DOUBLE) / target) AS INTEGER) AS bin
  FROM files CROSS JOIN tot
)
SELECT m.bin,
       CAST(count(*) AS BIGINT) AS rows_written,
       CAST(count(DISTINCT m.file_mo) AS BIGINT) AS n_months,
       CAST(min(o.o_orderdate) AS TIMESTAMP) AS lo,
       CAST(max(o.o_orderdate) AS TIMESTAMP) AS hi
FROM orders o
JOIN mapping m
  ON CAST(year(o.o_orderdate) * 100 + month(o.o_orderdate) AS INTEGER)
     = m.file_mo
GROUP BY 1
"""

register(
    "rel_compaction_execute",
    _compaction_execute,
    _COMPACTION_EXECUTE_SQL,
)


# --------------------------------------------------------------------------
# rel_fk_integrity (round 10) — referential-integrity gate over the
# star schema, BOTH directions per relationship: child rows whose
# foreign key resolves to no parent (orphans — a broken ingest feed),
# and parent rows no child references (unreferenced dimension members
# — archival candidates, and the population a dimension-only rollup
# silently includes that fact-joined reports won't). One row per FK
# relationship: row counts, orphan count, unreferenced-parent count,
# both rates.
#
# 100 TB shape: each direction is ONE anti-join on the key — the child
# side shuffles on its FK (the unavoidable key-reconciliation cost;
# rel_bloom_prejoin documents the pushdown that cheapens it when the
# miss rate is low), the parent side anti-joins against the child's
# DISTINCT keys (map-side-combined to |keys| first, never the fact's
# row count). AQE turns the dim side into a broadcast where it fits.
# The receipt is 4 rows.
#
# The synthetic testbed is referentially perfect in BOTH directions at
# every sf, so two relationships audit deliberately DEGRADED snapshots
# (documented below) — a gate whose failure paths never fire on its
# own testbed demonstrates nothing (the stream_fk_guard posture):
#   orders.custkey       — parent degraded (c_custkey % 10 == 0
#                          dropped): the ORPHAN path fires;
#   lineitem.orderkey    — child degraded (l_orderkey % 3 == 0
#                          dropped): the UNREFERENCED-parent path
#                          fires (orders whose lineitems all fell out);
#   lineitem.partkey / lineitem.suppkey — audited as-is: the clean
#                          path must report exact zeros.
# --------------------------------------------------------------------------


# (name, child_t, ck, child_mod, parent_t, pk, parent_mod): *_mod k
# means "drop key % k == 0 rows from that side". Shared with round 11's
# rel_quarantine_rollup, which re-emits these audits in the unified
# governance receipt schema.
FK_RELS = [
    ("orders.custkey", "orders", "o_custkey", None, "customer", "c_custkey", 10),
    ("lineitem.orderkey", "lineitem", "l_orderkey", 3, "orders", "o_orderkey", None),
    ("lineitem.partkey", "lineitem", "l_partkey", None, "part", "p_partkey", None),
    ("lineitem.suppkey", "lineitem", "l_suppkey", None, "supplier", "s_suppkey", None),
]


def _fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for name, child_t, ck, cmod, parent_t, pk, pmod in FK_RELS:
        child = load_table(spark, sf_dir, child_t).select(
            F.col(ck).alias("_k")
        )
        if cmod:
            child = child.filter(F.col("_k") % cmod != 0)
        parent = load_table(spark, sf_dir, parent_t).select(
            F.col(pk).alias("_k")
        )
        if pmod:
            parent = parent.filter(F.col("_k") % pmod != 0)
        child_keys = child.distinct()
        orphans = child.join(parent, "_k", "left_anti")
        unref = parent.join(child_keys, "_k", "left_anti")
        row = (
            child.agg(F.count(F.lit(1)).alias("_nc"))
            .crossJoin(orphans.agg(F.count(F.lit(1)).alias("_no")))
            .crossJoin(parent.agg(F.count(F.lit(1)).alias("_np")))
            .crossJoin(unref.agg(F.count(F.lit(1)).alias("_nu")))
            .select(
                F.lit(name).alias("relationship"),
                F.col("_nc").cast("bigint").alias("n_child_rows"),
                F.col("_no").cast("bigint").alias("n_orphans"),
                F.round(F.col("_no") / F.col("_nc"), 6).alias(
                    "orphan_rate"
                ),
                F.col("_np").cast("bigint").alias("n_parents"),
                F.col("_nu").cast("bigint").alias("n_unreferenced"),
                F.round(F.col("_nu") / F.col("_np"), 6).alias(
                    "unreferenced_rate"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def _fk_integrity_sql() -> str:
    def side(table, key, mod):
        base = f"SELECT {key} AS k FROM {table}"
        return base + (f" WHERE {key} % {mod} <> 0" if mod else "")

    def arm(name, child_t, ck, cmod, parent_t, pk, pmod):
        c = side(child_t, ck, cmod)
        p = side(parent_t, pk, pmod)
        return f"""
        SELECT '{name}' AS relationship,
               (SELECT CAST(count(*) AS BIGINT) FROM ({c}))
                 AS n_child_rows,
               (SELECT CAST(count(*) AS BIGINT) FROM ({c}) c
                WHERE NOT EXISTS (SELECT 1 FROM ({p}) p
                                  WHERE p.k = c.k)) AS n_orphans,
               round((SELECT CAST(count(*) AS DOUBLE) FROM ({c}) c
                      WHERE NOT EXISTS (SELECT 1 FROM ({p}) p
                                        WHERE p.k = c.k))
                     / (SELECT count(*) FROM ({c})), 6)
                 AS orphan_rate,
               (SELECT CAST(count(*) AS BIGINT) FROM ({p}))
                 AS n_parents,
               (SELECT CAST(count(*) AS BIGINT) FROM ({p}) p
                WHERE NOT EXISTS (SELECT 1 FROM ({c}) c
                                  WHERE c.k = p.k))
                 AS n_unreferenced,
               round((SELECT CAST(count(*) AS DOUBLE) FROM ({p}) p
                      WHERE NOT EXISTS (SELECT 1 FROM ({c}) c
                                        WHERE c.k = p.k))
                     / (SELECT count(*) FROM ({p})), 6)
                 AS unreferenced_rate
        """

    arms = " UNION ALL ".join(arm(*r) for r in FK_RELS)
    return arms


register("rel_fk_integrity", _fk_integrity, _fk_integrity_sql())


# --------------------------------------------------------------------------
# rel_salt_plan (round 10) — the pre-shuffle skew prescription: for a
# grouping/join key with FEW HUGE groups, per-key row counts against a
# target-rows-per-task budget recommend the salt factor each hot key
# needs (salt = ceil(rows / target)) and show the max task size before
# vs after salting. AQE's skew-join split handles the JOIN-side case
# at runtime; salting is the plan-side fix for aggregations and for
# engines/stages AQE can't re-plan — this report is the config a
# salted two-stage rollout reads. The event_type key is the testbed's
# honest few-huge-groups case (5 keys over 32 tasks).
#
# 100 TB shape: one map-side-combined groupBy to |keys| counters, one
# 1-row total broadcast back over the |keys|-row frame; the report is
# |keys| rows. Nothing fact-sized shuffles twice.
# --------------------------------------------------------------------------

SALT_TARGET_TASKS = 16


def _salt_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    per_key = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    tot = per_key.agg(F.sum("n_rows").alias("_t"))
    target = F.ceil(F.col("_t") / F.lit(SALT_TARGET_TASKS)).cast(
        "bigint"
    )
    salt = F.greatest(
        F.ceil(F.col("n_rows") / F.col("_target")).cast("bigint"),
        F.lit(1).cast("bigint"),
    )
    return (
        per_key.crossJoin(F.broadcast(tot))
        .withColumn("_target", target)
        .withColumn("salt_factor", salt)
        .select(
            "event_type",
            "n_rows",
            F.round(F.col("n_rows") / F.col("_t"), 6).alias("row_share"),
            "_target",
            "salt_factor",
            F.ceil(F.col("n_rows") / F.col("salt_factor"))
            .cast("bigint")
            .alias("max_task_rows_after"),
        )
        .withColumnRenamed("_target", "target_task_rows")
    )


_SALT_PLAN_SQL = f"""
WITH per_key AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows
  FROM events GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_rows) AS BIGINT) AS t,
         CAST(ceil(CAST(sum(n_rows) AS DOUBLE) / {SALT_TARGET_TASKS})
              AS BIGINT) AS target
  FROM per_key
)
SELECT event_type, n_rows,
       round(CAST(n_rows AS DOUBLE) / t, 6) AS row_share,
       target AS target_task_rows,
       greatest(CAST(ceil(CAST(n_rows AS DOUBLE) / target) AS BIGINT),
                1) AS salt_factor,
       CAST(ceil(CAST(n_rows AS DOUBLE) /
            greatest(CAST(ceil(CAST(n_rows AS DOUBLE) / target)
                          AS BIGINT), 1)) AS BIGINT)
         AS max_task_rows_after
FROM per_key CROSS JOIN tot
"""

register("rel_salt_plan", _salt_plan, _SALT_PLAN_SQL)


# --------------------------------------------------------------------------
# rel_ingest_freshness (round 12) — per-feed freshness/volume SLO
# receipt, the batch readout an ingest pager alerts from: for each
# event_type (≈ upstream feed), how long has it been silent relative
# to the global high-water mark, and is that silence anomalous FOR
# THAT FEED? A fixed minutes threshold can't serve feeds whose natural
# cadence differs by 10× (and is density-dependent across test
# scales), so the SLO is adaptive: `lagging` = the feed's lag exceeds
# its OWN mean inter-arrival gap (span/(n−1); for a Poisson feed the
# last gap exceeds the mean ~1/e of the time, so the flag names the
# laggard tail, not a fixed wall). Volume health: last calendar day's
# count vs the feed's mean daily volume, dip flagged under 50%.
#
# Scale: one hash aggregation per feed (map-side partials carry max/
# min/count and the conditional last-day count against a broadcast
# 1-row high-water mark); |event_type| receipt rows. At 100 TB the
# same plan reads the partition-pruned tail (last N days), not
# history — the receipt needs max/min/counts, all partition-prunable.
# --------------------------------------------------------------------------

VOLUME_DIP_FACTOR = 0.5


def _ingest_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    g = ev.agg(F.max("ts").alias("_gmax"))
    e = ev.crossJoin(F.broadcast(g))
    per = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("ts").alias("last_ts"),
        F.min("ts").alias("_first"),
        F.first("_gmax").alias("_gmax"),
        F.countDistinct(F.date_trunc("day", F.col("ts")))
        .cast("bigint")
        .alias("n_days"),
        F.coalesce(
            F.sum(
                F.when(
                    F.date_trunc("day", F.col("ts"))
                    == F.date_trunc("day", F.col("_gmax")),
                    1,
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("last_day_n"),
    )
    lag_min = F.round(
        (F.unix_micros("_gmax") - F.unix_micros("last_ts")) / 6e7, 3
    )
    gap_min = F.round(
        F.try_divide(
            (F.unix_micros("last_ts") - F.unix_micros("_first")) / 6e7,
            F.col("n_events") - 1,
        ),
        3,
    )
    mean_daily = F.round(
        F.col("n_events") / F.col("n_days").cast("double"), 3
    )
    ratio = F.round(
        F.col("last_day_n")
        / (F.col("n_events") / F.col("n_days").cast("double")),
        6,
    )
    return per.select(
        "event_type",
        "n_events",
        "last_ts",
        lag_min.alias("lag_minutes"),
        gap_min.alias("mean_gap_minutes"),
        (lag_min > gap_min).alias("lagging"),
        "n_days",
        mean_daily.alias("mean_daily"),
        "last_day_n",
        ratio.alias("volume_ratio"),
        (ratio < VOLUME_DIP_FACTOR).alias("volume_dip"),
    )


INGEST_FRESHNESS_SQL = f"""
    WITH g AS (
      SELECT max(CAST(ts AS TIMESTAMP)) AS gmax FROM events
    ),
    -- events.ts is TIMESTAMP(NANOS) in the parquet (catalog.py); cast
    -- to us-precision up front so last_ts/first_ts/gmax match Spark's
    -- us-truncated values on any DuckDB (>=1.1 preserves TIMESTAMP_NS).
    e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, g.gmax
          FROM events CROSS JOIN g),
    per AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             max(ts) AS last_ts, min(ts) AS first_ts,
             max(gmax) AS gmax,
             CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT)
               AS n_days,
             CAST(coalesce(sum(CASE WHEN date_trunc('day', ts)
                                         = date_trunc('day', gmax)
                                    THEN 1 END), 0) AS BIGINT)
               AS last_day_n
      FROM e GROUP BY 1
    )
    SELECT event_type, n_events, last_ts,
           round((epoch_us(gmax) - epoch_us(last_ts)) / 6e7, 3)
             AS lag_minutes,
           round(CASE WHEN n_events = 1 THEN NULL
                 ELSE (epoch_us(last_ts) - epoch_us(first_ts)) / 6e7
                      / (n_events - 1) END, 3) AS mean_gap_minutes,
           round((epoch_us(gmax) - epoch_us(last_ts)) / 6e7, 3)
             > round(CASE WHEN n_events = 1 THEN NULL
                     ELSE (epoch_us(last_ts) - epoch_us(first_ts)) / 6e7
                          / (n_events - 1) END, 3) AS lagging,
           n_days,
           round(CAST(n_events AS DOUBLE) / n_days, 3) AS mean_daily,
           last_day_n,
           round(last_day_n / (CAST(n_events AS DOUBLE) / n_days), 6)
             AS volume_ratio,
           round(last_day_n / (CAST(n_events AS DOUBLE) / n_days), 6)
             < {VOLUME_DIP_FACTOR!r} AS volume_dip
    FROM per
    """

register("rel_ingest_freshness", _ingest_freshness, INGEST_FRESHNESS_SQL)
