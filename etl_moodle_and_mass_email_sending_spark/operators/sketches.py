"""[EXT] Sketch-based approximate aggregates — the cardinality
estimators a 100 TB pipeline uses where exact distinct counts would
shuffle every key.

The KMV (k-minimum-values) distinct sketch here is DETERMINISTIC on both
engines: the value hash is ``hashing.hash_frac`` of the key's decimal
string (md5's top 60 bits over 2^60, the same double in Spark and
DuckDB), and the estimator
is the textbook unbiased (k-1)/h_(k) (Beyer et al., "On Synopses for
Distinct-Value Estimation Under Multiset Operations", SIGMOD'07), with
the exact count substituted when a group holds fewer than k keys. That
determinism is what lets an *approximate* operator hash-gate against the
DuckDB oracle exactly.

Scale design: the k smallest hashes are found with the exact
``util.salted_top_k``, so no single task ever sorts a whole group's
distinct set, over a shuffle whose payload is (group, 8-byte hash), not
the raw keys. Spark's own
approx_count_distinct (HLL++) is the zero-extra-shuffle alternative but
is not bit-reproducible across engines, so it cannot be oracle-gated;
the KMV form trades one bounded shuffle for a verifiable answer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    SEED_SEP,
    hash32,
    hash60,
    hash_frac,
    sql_hash32,
    sql_hash60,
    sql_hash_frac,
)
from .util import salt, salted_top_k, sql_top_k

KMV_K = 64


def kmv_distinct(df: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """Per-group exact distinct count alongside the KMV estimate —
    (group, n_exact, kmv_estimate).

    The pre-distinct on (group, key) is a map-side-combining shuffle of
    key pairs; everything after ranks 8-byte hash fractions only.
    """
    pairs = df.select(group_col, key_col).distinct()
    hashed = pairs.select(
        group_col,
        F.expr(hash_frac(f"cast({key_col} as string)")).alias("_frac"),
        salt(key_col),
    )
    topk = salted_top_k(hashed, [group_col], ["_frac"], KMV_K)
    exact = pairs.groupBy(group_col).agg(F.count("*").alias("n_exact"))
    kth = topk.groupBy(group_col).agg(F.max("_frac").alias("_hk"))
    return (
        exact.join(kth, on=group_col)
        .select(
            group_col,
            "n_exact",
            F.when(
                F.col("n_exact") < KMV_K, F.col("n_exact").cast("double")
            )
            .otherwise(F.round((F.lit(KMV_K) - F.lit(1)) / F.col("_hk"), 6))
            .alias("kmv_estimate"),
        )
    )


def sql_kmv_distinct(table_sql: str, group_col: str, key_col: str) -> str:
    """DuckDB oracle: same hash, same estimator, single-stage top-k (the
    two-stage Spark form computes the identical exact top-k)."""
    return f"""
    WITH pairs AS (
      SELECT DISTINCT {group_col}, {key_col} FROM ({table_sql})
    ),
    hashed AS (
      SELECT {group_col},
             {sql_hash_frac(f"CAST({key_col} AS VARCHAR)")} AS frac
      FROM pairs
    ),
    exact AS (
      SELECT {group_col}, count(*) AS n_exact FROM pairs GROUP BY 1
    ),
    kth AS (
      SELECT {group_col}, max(frac) AS hk
      FROM ({sql_top_k("hashed", [group_col], ["frac"], KMV_K)}) GROUP BY 1
    )
    SELECT e.{group_col}, e.n_exact,
           CASE WHEN e.n_exact < {KMV_K} THEN CAST(e.n_exact AS DOUBLE)
                ELSE round(({KMV_K} - 1) / kth.hk, 6) END AS kmv_estimate
    FROM exact e JOIN kth USING ({group_col})
    """


# --------------------------------------------------------------------------
# Z-order (Morton) interleave — the layout key behind multi-dimensional
# data clustering (Delta OPTIMIZE ZORDER, Iceberg sort orders): rows
# sorted by the bit-interleave of two keys land in files whose min/max
# ranges are tight in BOTH dimensions, so scans filtering on EITHER key
# prune files. Pure integer shift/mask arithmetic — identical on both
# engines — and the downstream move is repartitionByRange(zvalue) before
# the write, which needs no new machinery here.
# --------------------------------------------------------------------------

ZORDER_BITS = 16


def _interleave_terms(a: str, b: str, bits: int, shift_op: str) -> str:
    """Sum-of-terms bit interleave: a's bit i → position 2i, b's bit i →
    2i+1. Rendered as plain arithmetic (portable across engines)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} {shift_op} {i}) & 1) * {1 << (2 * i)})")
        terms.append(f"((({b} {shift_op} {i}) & 1) * {1 << (2 * i + 1)})")
    return " + ".join(terms)


def zorder_value(col_a: str, col_b: str):
    """Spark Column: Morton interleave of the two columns' low bits."""
    from pyspark.sql import functions as F

    expr = _interleave_terms(
        f"CAST({col_a} AS BIGINT)",
        f"CAST({col_b} AS BIGINT)",
        ZORDER_BITS,
        ">>",
    )
    return F.expr(expr)


def sql_zorder_value(col_a: str, col_b: str) -> str:
    return _interleave_terms(
        f"CAST({col_a} AS BIGINT)",
        f"CAST({col_b} AS BIGINT)",
        ZORDER_BITS,
        ">>",
    )


# --------------------------------------------------------------------------
# Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005): CMS_ROWS
# independent hash rows × CMS_WIDTH counters; a key's frequency estimate
# is the MIN of its counters (always ≥ the true count). Like the KMV
# sketch above, the hashes are portable md5 seeds, the counters are exact
# integers, and the estimate is a min over integers — so the whole
# *approximate* operator is bit-deterministic and hash-gates against the
# DuckDB oracle.
#
# Scale design: building the sketch is one map-side-combining shuffle
# onto ≤ CMS_ROWS×CMS_WIDTH (1024) cells regardless of input size — the
# whole point of CMS at 100 TB. The counter table is then BROADCAST back
# over the candidate keys; nothing key-cardinality-sized ever sorts in
# one task (top-k is TakeOrdered over per-partition heads).
# --------------------------------------------------------------------------

CMS_ROWS = 4
CMS_WIDTH = 256
CMS_TOP_K = 20


def _seeded_hash32(r: int, key: str) -> Column:
    """hash32 of seed row ``r`` and the key column named ``key``, as the
    CMS and Bloom oracles spell it (``r§key``)."""
    return F.expr(hash32(f"concat('{r}{SEED_SEP}', cast({key} as string))"))


def _cms_bucket_structs() -> Column:
    """Array of (r, bucket) structs for the key column, one per hash row."""
    return F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                F.pmod(_seeded_hash32(r, "key"), F.lit(CMS_WIDTH)).alias(
                    "bucket"
                ),
            )
            for r in range(CMS_ROWS)
        ]
    )


def cms_heavy_hitters(df: DataFrame, key_col: str) -> DataFrame:
    """(key, n_exact, cms_estimate) for the top-``CMS_TOP_K`` keys by CMS
    estimate (ties broken by key). ``n_exact`` rides along to expose the
    sketch's one-sided error (estimate ≥ exact, always)."""
    keyed = df.select(F.col(key_col).alias("key"))
    counters = cms_counters(df, key_col)
    keys = keyed.groupBy("key").agg(F.count("*").alias("n_exact"))
    key_cells = keys.select(
        "key", "n_exact", F.explode(_cms_bucket_structs()).alias("c")
    ).select("key", "n_exact", "c.r", "c.bucket")
    est = (
        key_cells.join(F.broadcast(counters), ["r", "bucket"])
        .groupBy("key", "n_exact")
        .agg(F.min("_cnt").alias("cms_estimate"))
    )
    return (
        est.orderBy(F.col("cms_estimate").desc(), F.col("key"))
        .limit(CMS_TOP_K)
        .select(
            F.col("key").alias(key_col), "n_exact", "cms_estimate"
        )
    )


def sql_cms_heavy_hitters(table_sql: str, key_col: str) -> str:
    bucket = sql_hash32(
        f"CAST(t.r AS VARCHAR) || '{SEED_SEP}' || CAST(key AS VARCHAR)"
    ) + f" % {CMS_WIDTH}"
    return f"""
    WITH keyed AS (SELECT {key_col} AS key FROM ({table_sql})),
    cells AS (
      SELECT t.r, {bucket} AS bucket
      FROM keyed CROSS JOIN range({CMS_ROWS}) t(r)
    ),
    counters AS (
      SELECT r, bucket, count(*) AS cnt FROM cells GROUP BY 1, 2
    ),
    keys AS (SELECT key, count(*) AS n_exact FROM keyed GROUP BY 1),
    key_cells AS (
      SELECT key, n_exact, t.r, {bucket} AS bucket
      FROM keys CROSS JOIN range({CMS_ROWS}) t(r)
    ),
    est AS (
      SELECT key, n_exact, min(cnt) AS cms_estimate
      FROM key_cells JOIN counters USING (r, bucket)
      GROUP BY 1, 2
    )
    SELECT key AS {key_col}, n_exact, cms_estimate
    FROM est ORDER BY cms_estimate DESC, key LIMIT {CMS_TOP_K}
    """


# --------------------------------------------------------------------------
# Bloom-filter pre-join pruning — the standard 100 TB shuffle reducer
# (Spark's own runtime bloom-join, Iceberg/Delta bloom indexes): hash the
# SMALL join side's keys into a bit set, pre-filter the BIG side at the
# scan with k membership probes, and only then run the exact join on the
# survivors. Bloom filters have no false negatives, so the exact result
# is unchanged; the win is that the big side's shuffle carries only
# bloom-passing rows.
#
# Determinism: the "bitset" is a distinct bucket-id frame (≤ BLOOM_BITS
# rows — semantically the set bits, broadcastable on any engine), buckets
# come from the portable md5 seed hashes, and every output is an integer
# count — the operator hash-gates exactly, false positives included.
# --------------------------------------------------------------------------

BLOOM_BITS = 1024
BLOOM_HASHES = 3


def _bloom_buckets(key: str) -> Column:
    """Distinct bucket ids for the key column named ``key`` (k seed
    hashes; duplicates collapse so the all-bits-present probe can count
    matches = size)."""
    return F.array_distinct(
        F.array(
            *[
                F.pmod(_seeded_hash32(r, key), F.lit(BLOOM_BITS))
                for r in range(BLOOM_HASHES)
            ]
        )
    )


def bloom_prejoin_stats(
    probe: DataFrame,
    probe_key: str,
    group_col: str,
    build: DataFrame,
    build_key: str,
) -> DataFrame:
    """(group, n_probe, n_bloom_pass, n_true_match, n_false_pos): how the
    bloom pre-filter performs per group — bloom-passing probe rows, rows
    whose key truly exists in the build side, and the false-positive gap.
    ``n_true_match`` uses an exact semi-join, so the stats also verify
    the no-false-negative contract (n_bloom_pass ≥ n_true_match).

    NULL probe keys are excluded from all three counts: a NULL key can
    never equi-join (SQL null semantics), so it is not a probe the filter
    will ever see. Without the explicit filter the two engines disagreed —
    Spark's bucket-explode drops NULL-bucket rows (never passes) while the
    oracle's count(DISTINCT bit) ignores NULLs giving need=0=hit (always
    passes); see sql_bloom_prejoin_stats for the mirrored predicate."""
    bits = (
        build.select(F.explode(_bloom_buckets(build_key)).alias("bit"))
        .distinct()
    )
    # probe each DISTINCT (key, group) once, weighted by its row count —
    # repeated keys share one membership verdict (and at 100 TB the probe
    # table is the pre-aggregated scan, not the raw fact)
    # localCheckpoint: three consumers (bucket probe, true-match semi
    # join, n_probe fold) — the barrier stops the probe scan + distinct
    # aggregate re-executing per consumer
    key_groups = (
        probe.filter(F.col(probe_key).isNotNull())
        .groupBy(F.col(probe_key).alias("_k"), F.col(group_col))
        .agg(F.count("*").alias("_n"))
        # lazy: materializes (and caches) inside the consuming job itself
        # instead of an extra eager job — measured faster at both scales
        .localCheckpoint(eager=False)
    )
    pb = key_groups.select(
        "_k",
        group_col,
        "_n",
        _bloom_buckets("_k").alias("_buckets"),
    ).select(
        "_k",
        group_col,
        "_n",
        F.size("_buckets").alias("_need"),
        F.explode("_buckets").alias("bit"),
    )
    passed = (
        pb.join(F.broadcast(bits), "bit")
        .groupBy("_k", group_col, "_n", "_need")
        .agg(F.count("*").alias("_hit"))
        .filter(F.col("_hit") == F.col("_need"))
    )
    build_keys = build.select(F.col(build_key).alias("_k")).distinct()
    # n_probe folds from key_groups (no second scan of the probe table)
    n_probe = key_groups.groupBy(group_col).agg(
        F.sum("_n").alias("n_probe")
    )
    n_pass = passed.groupBy(group_col).agg(
        F.sum("_n").alias("n_bloom_pass")
    )
    n_true = (
        key_groups.join(F.broadcast(build_keys), "_k", "left_semi")
        .groupBy(group_col)
        .agg(F.sum("_n").alias("n_true_match"))
    )
    return (
        n_probe.join(n_pass, group_col, "left")
        .join(n_true, group_col, "left")
        .select(
            group_col,
            "n_probe",
            F.coalesce("n_bloom_pass", F.lit(0)).alias("n_bloom_pass"),
            F.coalesce("n_true_match", F.lit(0)).alias("n_true_match"),
            (
                F.coalesce("n_bloom_pass", F.lit(0))
                - F.coalesce("n_true_match", F.lit(0))
            ).alias("n_false_pos"),
        )
    )


def sql_bloom_prejoin_stats(
    probe_sql: str,
    probe_key: str,
    group_col: str,
    build_sql: str,
    build_key: str,
) -> str:
    def bucket(key: str) -> str:
        return sql_hash32(
            f"CAST(t.r AS VARCHAR) || '{SEED_SEP}' || CAST({key} AS VARCHAR)"
        ) + f" % {BLOOM_BITS}"

    return f"""
    WITH bits AS (
      SELECT DISTINCT {bucket(build_key)} AS bit
      FROM ({build_sql}) CROSS JOIN range({BLOOM_HASHES}) t(r)
    ),
    key_groups AS (
      SELECT {probe_key} AS key, {group_col}, count(*) AS n
      FROM ({probe_sql}) WHERE {probe_key} IS NOT NULL GROUP BY 1, 2
    ),
    per_key AS (
      SELECT key, {group_col}, n,
             count(DISTINCT bit) AS need,
             count(DISTINCT bit) FILTER (WHERE bit IN (SELECT bit FROM bits))
               AS hit
      FROM (
        SELECT key, {group_col}, n, {bucket("key")} AS bit
        FROM key_groups CROSS JOIN range({BLOOM_HASHES}) t(r)
      ) GROUP BY 1, 2, 3
    ),
    n_probe AS (
      SELECT {group_col}, CAST(sum(n) AS BIGINT) AS n_probe
      FROM key_groups GROUP BY 1
    ),
    n_pass AS (
      SELECT {group_col}, CAST(sum(n) AS BIGINT) AS n_bloom_pass
      FROM per_key WHERE hit = need GROUP BY 1
    ),
    n_true AS (
      SELECT {group_col}, CAST(sum(n) AS BIGINT) AS n_true_match
      FROM key_groups kg
      WHERE EXISTS (SELECT 1 FROM ({build_sql}) b
                    WHERE b.{build_key} = kg.key)
      GROUP BY 1
    )
    SELECT np.{group_col}, np.n_probe,
           coalesce(n_bloom_pass, 0) AS n_bloom_pass,
           coalesce(n_true_match, 0) AS n_true_match,
           coalesce(n_bloom_pass, 0) - coalesce(n_true_match, 0)
             AS n_false_pos
    FROM n_probe np
    LEFT JOIN n_pass USING ({group_col})
    LEFT JOIN n_true USING ({group_col})
    """


# --------------------------------------------------------------------------
# KMV set operations — union/intersection cardinality from mergeable
# synopses, the actual subject of Beyer et al. SIGMOD'07 ("...Under
# Multiset Operations"): two KMV sketches merge by keeping the k
# smallest of the combined hash sets (union estimate (k-1)/h_k), and
# the intersection estimate is ρ·Û where ρ is the fraction of the
# merged top-k present in BOTH input sketches. This is what replaces
# "count distinct users in A∪B / A∩B" when A and B each have billions
# of members: the only full-data work is one distinct-pair shuffle and
# the salted top-k; the merge/ρ algebra runs on ≤2k 8-byte hashes.
#
# Determinism: same md5-top-60-bit hash fraction as kmv_distinct, exact
# top-k both engines, exact-count substitution when the union holds
# fewer than k keys — so the approximate answer hash-gates exactly.
# --------------------------------------------------------------------------


def kmv_setops(
    df: DataFrame, part_col: str, key_col: str, a: str, b: str
) -> DataFrame:
    """One row: exact and KMV-estimated |A|, |B|, |A∪B|, |A∩B| where
    A/B are the distinct ``key_col`` populations with ``part_col`` = a/b."""
    pairs = (
        df.filter(F.col(part_col).isin(a, b))
        .select(part_col, key_col)
        .distinct()
        # consumed by the sketch path AND the exact path
        .localCheckpoint(eager=False)
    )
    hashed = pairs.select(
        part_col,
        F.expr(hash_frac(f"cast({key_col} as string)")).alias("_frac"),
        salt(key_col),
    )
    topk = salted_top_k(hashed, [part_col], ["_frac"], KMV_K).select(
        part_col, "_frac"
    )
    # per-hash membership flags, then the merged top-k (≤ 2k rows — the
    # single-partition window is over the SKETCH, never the data)
    flags = topk.groupBy("_frac").agg(
        F.max(F.when(F.col(part_col) == a, 1).otherwise(0)).alias("_in_a"),
        F.max(F.when(F.col(part_col) == b, 1).otherwise(0)).alias("_in_b"),
    )
    # merged top-k of the ≤2k-row union sketch via orderBy+limit
    # (TakeOrderedAndProject) — round 14: the former
    # partitionBy(lit(1)) window folds to an empty partition spec
    # after constant pruning and was the engine's last WindowExec
    # warning source
    merged = flags.orderBy("_frac").limit(KMV_K)
    sketch = merged.agg(
        F.max("_frac").alias("_hk"),
        F.count("*").alias("_n_merged"),
        F.sum(F.col("_in_a") * F.col("_in_b")).alias("_n_both"),
    )
    per_key = pairs.groupBy(key_col).agg(
        F.max(F.when(F.col(part_col) == a, 1).otherwise(0)).alias("_ha"),
        F.max(F.when(F.col(part_col) == b, 1).otherwise(0)).alias("_hb"),
    )
    exact = per_key.agg(
        F.sum("_ha").alias("n_exact_a"),
        F.sum("_hb").alias("n_exact_b"),
        F.count("*").alias("n_exact_union"),
        F.sum(F.col("_ha") * F.col("_hb")).alias("n_exact_intersection"),
    )
    union_est = F.when(
        F.col("n_exact_union") < KMV_K, F.col("n_exact_union").cast("double")
    ).otherwise(F.round((F.lit(KMV_K) - F.lit(1)) / F.col("_hk"), 6))
    return (
        exact.crossJoin(F.broadcast(sketch))
        .withColumn("kmv_union", union_est)
        .select(
            "n_exact_a",
            "n_exact_b",
            "n_exact_union",
            "n_exact_intersection",
            "kmv_union",
            F.round(
                F.col("_n_both") / F.col("_n_merged") * F.col("kmv_union"),
                6,
            ).alias("kmv_intersection"),
        )
    )


def sql_kmv_setops(
    table_sql: str, part_col: str, key_col: str, a: str, b: str
) -> str:
    """DuckDB twin: identical hash, merge, ρ algebra."""
    frac = sql_hash_frac(f"CAST({key_col} AS VARCHAR)")
    return f"""
    WITH pairs AS (
      SELECT DISTINCT {part_col} AS part, {key_col} FROM ({table_sql})
      WHERE {part_col} IN ('{a}', '{b}')
    ),
    hashed AS (SELECT part, {frac} AS frac FROM pairs),
    topk AS (
      SELECT part, frac
      FROM ({sql_top_k("hashed", ["part"], ["frac"], KMV_K)})
    ),
    flags AS (
      SELECT frac,
             max(CASE WHEN part = '{a}' THEN 1 ELSE 0 END) AS in_a,
             max(CASE WHEN part = '{b}' THEN 1 ELSE 0 END) AS in_b
      FROM topk GROUP BY 1
    ),
    merged AS ({sql_top_k("flags", [], ["frac"], KMV_K)}),
    sketch AS (
      SELECT max(frac) AS hk, count(*) AS n_merged,
             sum(in_a * in_b) AS n_both
      FROM merged
    ),
    per_key AS (
      SELECT {key_col},
             max(CASE WHEN part = '{a}' THEN 1 ELSE 0 END) AS ha,
             max(CASE WHEN part = '{b}' THEN 1 ELSE 0 END) AS hb
      FROM pairs GROUP BY 1
    ),
    exact AS (
      SELECT CAST(sum(ha) AS BIGINT) AS n_exact_a,
             CAST(sum(hb) AS BIGINT) AS n_exact_b,
             count(*) AS n_exact_union,
             CAST(sum(ha * hb) AS BIGINT) AS n_exact_intersection
      FROM per_key
    )
    SELECT n_exact_a, n_exact_b, n_exact_union, n_exact_intersection,
           CASE WHEN n_exact_union < {KMV_K}
                THEN CAST(n_exact_union AS DOUBLE)
                ELSE round(({KMV_K} - 1) / hk, 6) END AS kmv_union,
           round(CAST(n_both AS DOUBLE) / n_merged *
                 (CASE WHEN n_exact_union < {KMV_K}
                       THEN CAST(n_exact_union AS DOUBLE)
                       ELSE round(({KMV_K} - 1) / hk, 6) END), 6)
             AS kmv_intersection
    FROM exact CROSS JOIN sketch
    """


# --------------------------------------------------------------------------
# HyperLogLog distinct sketch — the register-based counterpart to the
# KMV sketch above (Flajolet et al., "HyperLogLog: the analysis of a
# near-optimal cardinality estimation algorithm", AofA'07; the HLL++
# variant backs Spark's own approx_count_distinct, which is not
# bit-reproducible across engines and therefore cannot hash-gate).
#
# Determinism strategy (same spirit as KMV): the key hash is md5's top
# 60 bits; the low p bits pick the register, the remaining 60-p bits w
# give rho = (leading zeros of w) + 1 = (60 - p) + 1 - bitlength(w).
# The harmonic sum Σ 2^-M_j is computed EXACTLY in integers by scaling
# by 2^(60-p+1): each register contributes 2^(61-p-M_j) and each empty
# register 2^(61-p), a bigint sum (≤ m·2^55 < 2^62 at p=6) immune to
# float addition order — the one place a naive HLL would diverge
# between engines. Only the final α·m²·2^(61-p)/S division is floating
# point, a single deterministic IEEE op on both sides.
#
# Scale: one map-side-combining shuffle of (group, register) pairs
# (≤ m rows per group survive the partial max), then a tiny final agg.
# Unlike KMV's top-k there is no window sort at all, so this is the
# cheaper sketch at very high cardinality; KMV stays the choice when
# set operations (union/intersection) must compose.
# --------------------------------------------------------------------------

HLL_P = 6  # m = 64 registers; alpha_64 per the HLL paper
_HLL_M = 1 << HLL_P
_HLL_ALPHA = 0.709
_HLL_WBITS = 60 - HLL_P  # bits left after the register index
_HLL_SCALE_POW = _HLL_WBITS + 1  # 2^-rho scaled exactly, rho in [1, 55]


def hll_registers(
    df: DataFrame, group_col: str, key_col: str
) -> DataFrame:
    """(group, _idx, _mj): the per-group register state — max-merged,
    so registers from separate partitions/batches/streams combine with
    a plain groupBy-max into the identical state (the property the
    streaming variant exploits)."""
    m = _HLL_M
    pairs = df.select(group_col, key_col).distinct()
    v = F.expr(hash60(f"cast({key_col} as string)"))
    # integer division, NOT `/` (double's 53-bit mantissa would corrupt
    # the 60-bit hash)
    hashed = pairs.select(
        group_col,
        F.pmod(v, F.lit(m)).alias("_idx"),
        v.alias("_v"),
    ).withColumn("_w", F.expr(f"_v DIV {m}"))
    rho = F.when(
        F.col("_w") > 0,
        F.lit(_HLL_WBITS + 1) - F.length(F.bin(F.col("_w"))),
    ).otherwise(F.lit(_HLL_WBITS + 1))
    return (
        hashed.withColumn("_rho", rho)
        .groupBy(group_col, "_idx")
        .agg(F.max("_rho").alias("_mj"))
    )


def hll_estimate(regs: DataFrame, group_col: str) -> DataFrame:
    """(group, hll_estimate) from a register-state frame."""
    m = _HLL_M
    sums = regs.groupBy(group_col).agg(
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST({_HLL_SCALE_POW} - _mj AS INT))"
            )
        ).alias("_s_used"),
        F.count("*").alias("_n_regs"),
    )
    scale = float(1 << _HLL_SCALE_POW)
    s_total = F.col("_s_used") + (F.lit(m) - F.col("_n_regs")) * F.lit(
        1 << _HLL_SCALE_POW
    )
    e_raw = F.lit(_HLL_ALPHA * m * m) * F.lit(scale) / s_total.cast(
        "double"
    )
    zeros = F.lit(m) - F.col("_n_regs")
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(e_raw)
    return sums.select(group_col, F.round(est, 4).alias("hll_estimate"))


def hll_distinct(df: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """Per-group exact distinct count alongside the deterministic HLL
    estimate — (group, n_exact, hll_estimate)."""
    est = hll_estimate(hll_registers(df, group_col, key_col), group_col)
    exact = (
        df.select(group_col, key_col)
        .distinct()
        .groupBy(group_col)
        .agg(F.count("*").alias("n_exact"))
    )
    return exact.join(est, on=group_col).select(
        group_col, "n_exact", "hll_estimate"
    )


def sql_hll_distinct(table_sql: str, group_col: str, key_col: str) -> str:
    """DuckDB oracle: identical hash, register math, exact integer
    harmonic sum, and correction branch."""
    m, sp = _HLL_M, _HLL_SCALE_POW
    return f"""
    WITH pairs AS (
      SELECT DISTINCT {group_col}, {key_col} FROM ({table_sql})
    ),
    hashed AS (
      SELECT {group_col},
             {sql_hash60(f"CAST({key_col} AS VARCHAR)")} AS v
      FROM pairs
    ),
    rhos AS (
      SELECT {group_col}, v % {m} AS idx,
             CASE WHEN v // {m} > 0
                  THEN {sp} - length(bin(v // {m}))
                  ELSE {sp} END AS rho
      FROM hashed
    ),
    regs AS (
      SELECT {group_col}, idx, max(rho) AS mj FROM rhos GROUP BY 1, 2
    ),
    sums AS (
      SELECT {group_col},
             sum(1::BIGINT << CAST({sp} - mj AS INT))::BIGINT AS s_used,
             count(*) AS n_regs
      FROM regs GROUP BY 1
    ),
    exact AS (
      SELECT {group_col}, count(*) AS n_exact FROM pairs GROUP BY 1
    ),
    est AS (
      SELECT s.{group_col}, e.n_exact,
             {_HLL_ALPHA * m * m!r} * {float(1 << sp)!r} /
               CAST(s.s_used + ({m} - s.n_regs) * (1::BIGINT << {sp})
                    AS DOUBLE) AS e_raw,
             {m} - s.n_regs AS zeros
      FROM sums s JOIN exact e USING ({group_col})
    )
    SELECT {group_col}, n_exact,
           round(CASE WHEN e_raw <= {2.5 * m!r} AND zeros > 0
                      THEN {float(m)!r} * ln({float(m)!r} / zeros)
                      ELSE e_raw END, 4) AS hll_estimate
    FROM est
    """


# --------------------------------------------------------------------------
# Bottom-k-sample quantile sketch — mergeable quantile estimation from
# a DETERMINISTIC uniform sample: the k rows whose md5 hash fractions
# (the KMV hash) are smallest form a uniform random sample of the
# group, decided by arithmetic both engines share; the quantile
# estimate is the nearest-rank quantile OF THE SAMPLE (pure row
# selection — no interpolation arithmetic, so the estimate is a value
# that literally occurs in the data and compares bit-exactly).
# Bottom-k samples merge like KMV sketches (bottom-k of a union = merge
# of bottom-ks), which is what a 1000-executor tree-aggregation or a
# streaming store needs. The exact nearest-rank quantiles ship
# alongside for error measurement — that side is the expensive full
# per-group sort, the thing the sketch exists to avoid at scale.
# NULL values are excluded (no order position).
# --------------------------------------------------------------------------

QSK_K = 64
QSK_QS = (0.5, 0.9)


def sample_quantiles(
    df: DataFrame, group_col: str, key_col: str, value_col: str
) -> DataFrame:
    """(group, n_rows, exact_p50, exact_p90, est_p50, est_p90):
    nearest-rank quantiles, exact and from the bottom-k hash sample."""
    src = df.filter(F.col(value_col).isNotNull()).select(
        group_col, key_col, value_col
    )
    hashed = src.select(
        group_col,
        F.col(key_col).alias("_k"),
        F.col(value_col).alias("_v"),
        F.expr(hash_frac(f"cast({key_col} as string)")).alias("_frac"),
        salt(key_col),
    )
    sample = salted_top_k(
        hashed, [group_col], ["_frac", "_k"], QSK_K
    ).select(group_col, "_k", "_v")

    def ranked(frame: DataFrame, tag: str) -> DataFrame:
        w = Window.partitionBy(group_col).orderBy("_v", "_k")
        n = Window.partitionBy(group_col)
        r = frame.withColumn("_r", F.row_number().over(w)).withColumn(
            "_n", F.count("*").over(n)
        )
        aggs = [
            F.max(
                F.when(
                    F.col("_r")
                    == F.ceil(F.lit(q) * F.col("_n")).cast("int"),
                    F.col("_v"),
                )
            ).alias(f"{tag}_p{int(q * 100)}")
            for q in QSK_QS
        ]
        return r.groupBy(group_col).agg(*aggs)

    n_rows = src.groupBy(group_col).agg(F.count("*").alias("n_rows"))
    exact = ranked(
        hashed.select(group_col, "_k", "_v"), "exact"
    )
    est = ranked(sample, "est")
    return (
        n_rows.join(exact, on=group_col)
        .join(est, on=group_col)
        .select(
            group_col, "n_rows",
            "exact_p50", "exact_p90", "est_p50", "est_p90",
        )
    )


def sql_sample_quantiles(
    table_sql: str, group_col: str, key_col: str, value_col: str
) -> str:
    """DuckDB oracle: identical hash sample (single-stage bottom-k —
    the two-stage Spark form computes the identical set) and identical
    nearest-rank selection."""
    return f"""
    WITH src AS (
      SELECT {group_col} AS g, {key_col} AS k, {value_col} AS v,
             {sql_hash_frac(f"CAST({key_col} AS VARCHAR)")} AS frac
      FROM ({table_sql}) WHERE {value_col} IS NOT NULL
    ),
    sample AS (
      SELECT g, k, v FROM ({sql_top_k("src", ["g"], ["frac", "k"], QSK_K)})
    ),
    exact_r AS (
      SELECT g, v,
             row_number() OVER (PARTITION BY g ORDER BY v, k) AS r,
             count(*) OVER (PARTITION BY g) AS n
      FROM src
    ),
    est_r AS (
      SELECT g, v,
             row_number() OVER (PARTITION BY g ORDER BY v, k) AS r,
             count(*) OVER (PARTITION BY g) AS n
      FROM sample
    ),
    exact AS (
      SELECT g,
             max(CASE WHEN r = CAST(ceil(0.5 * n) AS INTEGER)
                      THEN v END) AS exact_p50,
             max(CASE WHEN r = CAST(ceil(0.9 * n) AS INTEGER)
                      THEN v END) AS exact_p90
      FROM exact_r GROUP BY g
    ),
    est AS (
      SELECT g,
             max(CASE WHEN r = CAST(ceil(0.5 * n) AS INTEGER)
                      THEN v END) AS est_p50,
             max(CASE WHEN r = CAST(ceil(0.9 * n) AS INTEGER)
                      THEN v END) AS est_p90
      FROM est_r GROUP BY g
    ),
    nn AS (SELECT g, count(*) AS n_rows FROM src GROUP BY g)
    SELECT nn.g AS {group_col}, nn.n_rows,
           exact.exact_p50, exact.exact_p90, est.est_p50, est.est_p90
    FROM nn JOIN exact USING (g) JOIN est USING (g)
    """


def cms_counters(df: DataFrame, key_col: str) -> DataFrame:
    """(r, bucket, _cnt): the CMS counter table for a key column — the
    sum-mergeable state (counters from separate batches/partitions ADD;
    the streaming variant exploits exactly that)."""
    keyed = df.select(F.col(key_col).alias("key"))
    cells = keyed.select(
        F.explode(_cms_bucket_structs()).alias("c")
    ).select("c.r", "c.bucket")
    return cells.groupBy("r", "bucket").agg(F.count("*").alias("_cnt"))


def cms_probe(
    counters: DataFrame, keys: DataFrame, key_col: str
) -> DataFrame:
    """(key, cms_estimate): the CMS frequency estimate for an external
    probe key set. Cells the data never touched count 0 (left join) —
    the estimate for an absent key is its collision mass, possibly 0."""
    probe_cells = keys.select(F.col(key_col).alias("key")).select(
        "key", F.explode(_cms_bucket_structs()).alias("c")
    ).select("key", "c.r", "c.bucket")
    return (
        probe_cells.join(F.broadcast(counters), ["r", "bucket"], "left")
        .groupBy("key")
        .agg(
            F.min(F.coalesce("_cnt", F.lit(0)))
            .cast("bigint")
            .alias("cms_estimate")
        )
        .select(F.col("key").alias(key_col), "cms_estimate")
    )
