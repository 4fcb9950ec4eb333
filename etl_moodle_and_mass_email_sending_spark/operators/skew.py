"""Skew-resistant aggregation: explicit two-stage salted groupBy.

[EXT] scale utility (SCALE.md "Global execution posture"). AQE's skew-join
splitting handles skewed JOINS, but a heavily skewed GROUP BY key (one key
owning most rows — e.g. event_type over a clickstream, language over a web
corpus) still funnels one hash partition to one reducer. The classic fix:
append a salt to the key, pre-aggregate (key, salt) — spreading the hot
key over N reducers — then aggregate the partials by key alone.

The salt must be DETERMINISTIC data (here: a hash of a row identity
column, not ``rand()``) so re-runs, retries, and the DuckDB oracle agree;
the result is salt-invariant anyway because sum/count re-aggregate
associatively. Only algebraic aggregates (sum/count/min/max, and avg via
sum+count) can be salted this way — holistic ones (median, exact distinct)
need different machinery (approx sketches).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT_BUCKETS = 16


def salted_agg_sum_count(
    df: DataFrame, key: str, value: Column, salt_source: str
) -> DataFrame:
    """Two-stage skew-safe (key → sum(value), count) aggregation.

    Stage 1 groups by (key, salt) where ``salt = pmod(hash(salt_source),
    DEFAULT_SALT_BUCKETS)`` — the hot key's rows spread over that many
    reducers; stage 2 re-aggregates the ≤ DEFAULT_SALT_BUCKETS partial
    rows per key. Both stages
    are map-side-combinable; total shuffle volume is *smaller* than the
    naive plan on skewed data because stage 1 combiners compact the hot
    key within every map task."""
    salt = F.pmod(
        F.xxhash64(F.col(salt_source)), F.lit(DEFAULT_SALT_BUCKETS)
    ).alias("_salt")
    partial = (
        df.select(F.col(key), value.alias("_v"), salt)
        .groupBy(key, "_salt")
        .agg(F.sum("_v").alias("_ps"), F.count("*").alias("_pc"))
    )
    return partial.groupBy(key).agg(
        F.sum("_ps").alias("sum_value"),
        F.sum("_pc").alias("n_rows"),
    )


def salted_join(
    big: DataFrame, small: DataFrame, key: str, salt_source: str
) -> DataFrame:
    """Skew-safe inner equi-join: replicate the small side across
    DEFAULT_SALT_BUCKETS salt values and join on (key, salt), so a hot
    key's rows — which one hash partition would otherwise own entirely —
    spread over that many reducers.

    This is the technique AQE's skew-join split automates for sort-merge
    joins; the explicit form works in any plan (including when the small
    side is too big to broadcast but small enough to replicate
    DEFAULT_SALT_BUCKETS×), keeps the partitioning deterministic (salt hashes a
    row-identity column, never rand()), and composes with a downstream
    same-key aggregation. Result is salt-invariant: every big row meets
    exactly one replica of its key's small row.
    """
    salt = F.pmod(F.xxhash64(F.col(salt_source)), F.lit(DEFAULT_SALT_BUCKETS))
    big_s = big.withColumn("_salt", salt)
    small_r = small.crossJoin(
        F.broadcast(
            big.sparkSession.range(DEFAULT_SALT_BUCKETS).select(
                F.col("id").cast("bigint").alias("_salt")
            )
        )
    )
    return big_s.join(small_r, on=[key, "_salt"], how="inner").drop("_salt")
