"""As-of join — for each left row, the most recent right row with
``right.ts <= left.ts`` per key.

[EXT] custom operator (build brief: "an operator Spark lacks"). Spark has
no ASOF JOIN; the naive encoding — an inequality range join — explodes to
O(|L|·|R|) per key. The scalable composition used here is the
union + last-value window trick:

1. tag right rows side=0, left rows side=1, union on (key, ts, side);
2. one window pass per key ordered by (ts, side):
   ``last(payload, ignorenulls=True)`` over rows unbounded-preceding
   carries the latest right payload forward (side ordering makes a
   same-timestamp right row visible to the left row — inclusive asof);
3. keep side=1 rows.

Cost: ONE shuffle on the key + one ordered window pass — linear, no
range-join blowup; the same shape Flink/kdb temporal joins lower to.
The DuckDB oracle uses its native ``ASOF LEFT JOIN``.

Right rows must be unique per (key, ts) for determinism — pre-aggregate
duplicates (the oracle's ASOF picks one arbitrarily otherwise).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Left as-of join on both sides' ``ts``: every left column, plus
    each non-key right column renamed ``<col>_asof`` (nullable — null when
    no right row precedes the left row). The right ``ts`` itself is
    carried as ``ts_asof``.

    ``direction='backward'`` (default) matches the most recent right row
    with ``right.ts <= left.ts``; ``'forward'`` the nearest with
    ``right.ts >= left.ts`` (both inclusive). Either way it is the same
    single-shuffle union+window pass — forward just orders the window
    scan descending. ``tolerance_seconds`` (pandas merge_asof semantics)
    nulls the carried payload when the matched row is farther than the
    tolerance: any OTHER candidate is farther still, so the post-window
    null-out is exact, costing one comparison, not a second join.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction!r}")
    payload = [c for c in right.columns if c != key]
    # The right payload travels as ONE struct, carried atomically by a
    # single last(ignorenulls) — carrying columns independently would let
    # a NULL in one payload column fall back to an OLDER right row's value,
    # yielding a composite row that matches no actual right row.
    r_tmp = right.select(
        F.col(key).alias("_k"),
        F.col("ts").alias("_ts"),
        F.lit(0).alias("_side"),
        F.struct(*[F.col(c) for c in payload]).alias("_p"),
    )
    p_type = r_tmp.schema["_p"].dataType
    lrow = F.struct(*[F.col(c) for c in left.columns]).alias("_lrow")
    l2 = left.select(
        F.col(key).alias("_k"),
        F.col("ts").alias("_ts"),
        F.lit(1).alias("_side"),
        lrow,
        F.lit(None).cast(p_type).alias("_p"),
    )
    lrow_type = l2.schema["_lrow"].dataType
    r2 = r_tmp.withColumn("_lrow", F.lit(None).cast(lrow_type))
    order = (
        [F.col("_ts"), F.col("_side")]
        if direction == "backward"
        else [F.col("_ts").desc(), F.col("_side")]
    )
    w = (
        Window.partitionBy("_k")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carry = [
        F.last("_p", ignorenulls=True).over(w).alias("_p"),
    ]
    if tolerance_seconds is not None:
        # the matched right row's OWN timestamp, needed only to apply
        # the tolerance — don't pay for the extra window aggregate and
        # carried column otherwise
        carry.append(
            F.last(
                F.when(F.col("_side") == 0, F.col("_ts")), ignorenulls=True
            ).over(w).alias("_rts")
        )
    carried = l2.unionByName(r2).select("_side", "_ts", "_lrow", *carry)
    matched = carried.filter(F.col("_side") == 1)
    if tolerance_seconds is not None:
        dist = (
            F.col("_ts").cast("double") - F.col("_rts").cast("double")
            if direction == "backward"
            else F.col("_rts").cast("double") - F.col("_ts").cast("double")
        )
        within = F.col("_rts").isNotNull() & (dist <= tolerance_seconds)
        matched = matched.withColumn(
            "_p", F.when(within, F.col("_p"))
        )
    return matched.select(
        F.col("_lrow.*"),
        *[F.col(f"_p.{c}").alias(f"{c}_asof") for c in payload],
    )
