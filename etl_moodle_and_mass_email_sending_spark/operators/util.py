"""Shared operator plumbing."""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

# ---------------------------------------------------------------------------
# Session staging: expensive derived artifacts that several registered
# queries — and repeated invocations of one query — consume are built
# once per (applicationId, *key) and reused. Two shapes share ONE store:
# frames (LSH pairs, dedup clusters, PQ codebooks, receipts; pinned by an
# eager localCheckpoint — the cluster's "train once, score many") and
# on-disk paths (replay chunks, JSONL/CSV/ORC drops, seeded state; built
# into a scratch dir). Keyed by applicationId so a new session rebuilds;
# entries whose session has stopped are evicted on every access, and a
# pruned path's dir is deleted with it (ADVICE r6/r8).
# ---------------------------------------------------------------------------

# (applicationId, *key) -> (frame or path, session)
_STAGE: dict[tuple, tuple[object, SparkSession]] = {}

# Per-key build locks (round 15): staged builds may be reached from
# driver thread pools (guide §2.6 — e.g. the ingest-receipts producers),
# so check-then-build must be atomic PER KEY: two threads asking for one
# key serialize (one builds, the other reuses), while builds of
# different keys stay concurrent.
_STAGE_LOCKS: dict[tuple, threading.Lock] = {}
_STAGE_LOCKS_GUARD = threading.Lock()

# Staging ledger (round 13, VERDICT r12 item 2): session-staging makes
# the FIRST invocation pay the staged compute and every later one a
# near-free warm read — so a regression inside a staged build is
# invisible in its consumers' own bench entries. Every build records its
# OWN wall seconds here (keyed by the staging key, appId stripped): a
# build that stages another key inside it (clusters -> pairs ->
# minhash_index) excludes the nested build's seconds, so the ledger's
# values sum to the staging time. bench.py ships the map as
# `staging_seconds` in BENCH_DETAIL/FULLBENCH.
_STAGING_LEDGER: dict[str, float] = {}

# Per thread, the seconds spent in nested staged builds, one slot per
# build in progress on that thread. A build nested on ANOTHER thread (a
# producer in a build's thread pool) overlaps its parent in wall time,
# so it is not subtracted from the parent.
_NESTED = threading.local()


def _stage_lock(full_key: tuple) -> threading.Lock:
    with _STAGE_LOCKS_GUARD:
        return _STAGE_LOCKS.setdefault(full_key, threading.Lock())


def _prune_stopped() -> None:
    """Drop the entries whose session has stopped, with their build
    locks, and delete the dirs of dropped paths. Runs under the lock
    guard, so concurrent prunes cannot both drop the same key."""
    import shutil

    with _STAGE_LOCKS_GUARD:
        for k, (value, session) in list(_STAGE.items()):
            try:
                stopped = session.sparkContext._jsc is None
            except Exception:
                stopped = True
            if stopped:
                _STAGE.pop(k, None)
                _STAGE_LOCKS.pop(k, None)
                if isinstance(value, str):
                    shutil.rmtree(value, ignore_errors=True)


def _staged(
    spark: SparkSession, key: tuple, build: Callable[[], object]
) -> object:
    """Return ``build()``'s result for ``key``, building it once per
    session under the key's lock and recording the build's own seconds,
    without those of staged builds nested in it, in the ledger."""
    import time

    _prune_stopped()
    full_key = (spark.sparkContext.applicationId, *key)
    with _stage_lock(full_key):
        hit = _STAGE.get(full_key)
        if hit is None:
            nested = _NESTED.__dict__.setdefault("stack", [])
            nested.append(0.0)
            t0 = time.perf_counter()
            try:
                hit = _STAGE[full_key] = (build(), spark)
            finally:
                took = time.perf_counter() - t0
                inner = nested.pop()
                if nested:
                    nested[-1] += took
            _STAGING_LEDGER[_ledger_key(key)] = round(took - inner, 3)
    return hit[0]


def _ledger_key(key: tuple) -> str:
    return "/".join(str(p) for p in key)


def staging_ledger() -> dict[str, float]:
    """Build-cost ledger for this process: staging key -> own wall
    seconds of the FIRST (only) build per session, nested staged builds
    excluded. Cumulative across sessions in one process; bench
    snapshots it after the sweep."""
    return dict(_STAGING_LEDGER)


def staged_frame(
    spark: SparkSession, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """Return the checkpointed frame for ``key``, building it on first
    use in this session. ``key`` must include every input the build
    depends on (e.g. the sf_dir)."""
    return _staged(spark, key, lambda: build().localCheckpoint())


# Every throwaway dir the engine writes (stream checkpoints, replay
# chunks, JSONL drops) lives under ONE process-scoped root removed at
# interpreter exit (ADVICE r8).
_SCRATCH_ROOT: str | None = None


def scratch_root() -> str:
    """The process-scoped, atexit-removed root under which every
    `scratch_dir` lives. Exposed so tests can locate engine scratch
    artifacts (e.g. streaming checkpoints) without hardcoding paths."""
    import atexit
    import shutil
    import tempfile

    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="spark_engine_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return _SCRATCH_ROOT


def scratch_dir(prefix: str) -> str:
    """A fresh temp dir under the process-scoped, atexit-removed root."""
    import tempfile

    return tempfile.mkdtemp(prefix=prefix, dir=scratch_root())


def staged_path(
    spark: SparkSession, key: tuple, build: Callable[[str], None]
) -> str:
    """Return the on-disk staged artifact for ``key``, building it into
    a scratch dir named after ``key[0]`` on first use in this session
    (so bench re-invocations reuse one staged copy instead of writing a
    fresh full copy per run). ``key`` must include every input the build
    depends on (e.g. the sf_dir); the build must be deterministic, since
    later invocations read the first copy."""

    def _build() -> str:
        path = scratch_dir(f"{key[0]}_")
        build(path)
        return path

    return _staged(spark, key, _build)


def spread_for_compute(df: DataFrame) -> DataFrame:
    """Round-robin repartition to cluster parallelism before a heavy
    per-row expression stage.

    Higher-order-function lambdas (transform/filter/aggregate) run OUTSIDE
    whole-stage codegen — interpreted, per element — so for
    shingle/minhash/gram/chunk fan-outs the per-row CPU dwarfs the scan.
    The testbed's single-file parquet scans give 1-3 input partitions,
    pinning that work to 1-3 of 32 cores; on a real cluster the scan is
    already thousands of splits and this exchange is a cheap rebalance of
    raw rows. Measured at sf0.1: minhash_lsh_pairs 1.38→0.92 s,
    chunk_documents 1.07→0.41 s, decontaminate gram stage 5.7→0.36 s.

    Use ONLY before genuinely heavy per-row stages: for cheap codegen'd
    expressions the exchange costs more than it buys. (The old example
    here — fingerprints — stopped being cheap when the rolling hash
    added a second interpreted md5 pass; round 5 re-measured it at
    0.73 s → 0.20 s WITH the spread and switched it over.)
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def prefix_offsets(per_part: DataFrame, kind: str) -> DataFrame:
    """(_pid, _v) -> (_pid, _off) where ``_off`` aggregates ``_v`` over
    all EARLIER partitions (sum: 0 for the first; max: NULL for the
    first). Computed as a broadcast triangular self-join over the
    |partitions|-row carry frame instead of an unpartitioned window —
    same result, with no unpartitioned WindowExec node in any consumer
    plan. The invariant this buys: every plan the engine emits
    partitions its window operators, so "WindowExec == data-sized
    single-task risk" holds uniformly and plan audits need no
    per-site allowlist of known-tiny frames. The cost is an O(P²)
    nested-loop join — deliberate and safe because P is the shuffle
    partition count (tens), never data-sized; if that trade ever feels
    wrong, the bounded window this replaced (round 13) is equivalent.
    The
    localCheckpoint materializes the tiny frame once so the self-join's
    two sides don't each rescan the data-sized input; LAZY (eager=False)
    so no extra blocking job runs before the consumer's own action —
    the first action materializes it and the second side reads cached."""
    small = per_part.localCheckpoint(eager=False)
    right = small.select(
        F.col("_pid").alias("_pid2"), F.col("_v").alias("_v2")
    )
    joined = small.select("_pid").join(
        F.broadcast(right), F.col("_pid2") < F.col("_pid"), "left"
    )
    if kind == "sum":
        off = F.coalesce(F.sum("_v2"), F.lit(0))
    elif kind == "max":
        off = F.max("_v2")
    else:  # pragma: no cover - internal contract
        raise ValueError(f"unknown prefix kind {kind!r}")
    return joined.groupBy("_pid").agg(off.alias("_off"))


def _two_pass(
    df: DataFrame,
    group_col: str | None,
    order_by: list[Column],
    num_partitions: int | None,
    carry: Column,
    local: Callable[[WindowSpec], Column],
    combine: Callable[[Column, Column], Column],
    out_col: str,
    kind: str = "sum",
) -> DataFrame:
    """The one two-pass (zipWithIndex-style) prefix computation behind
    every ``two_pass_*`` helper. Range-partition on (``group_col``,
    ``order_by``) and stamp ``_pid``; aggregate ``carry`` per
    (group,) partition; offset each partition by the ``kind`` (sum/max)
    of the carries of EARLIER partitions (of the same group); evaluate
    ``local(window)`` over the partition-local ordered window; and emit
    ``out_col = combine(_off, _local)``. The only data-sized steps are
    the range shuffle and a partition-local sort; the cross-partition
    carry lives in a |groups|·|partitions|-row frame that is broadcast.

    localCheckpoint: both passes consume the ranged frame; the barrier
    guarantees ONE evaluation of the range shuffle so the sampled
    partition boundaries (and thus ``_pid``) cannot diverge between jobs.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    keys = [group_col] if group_col else []
    ranged = (
        df.repartitionByRange(n, *map(F.col, keys), *order_by)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    per_part = ranged.groupBy(*keys, "_pid").agg(carry.alias("_v"))
    if group_col:  # grouped carries are sums (counts or running sums)
        woff = (
            Window.partitionBy(group_col)
            .orderBy("_pid")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = per_part.select(
            group_col,
            "_pid",
            F.coalesce(F.sum("_v").over(woff), F.lit(0)).alias("_off"),
        )
    else:
        offsets = prefix_offsets(per_part, kind)
    wlocal = Window.partitionBy("_pid", *keys).orderBy(*order_by)
    return (
        ranged.withColumn("_local", local(wlocal))
        .join(F.broadcast(offsets), on=[*keys, "_pid"])
        .withColumn(out_col, combine(F.col("_off"), F.col("_local")))
        .drop("_pid", "_local", "_off")
    )


def _row_number(w: WindowSpec) -> Column:
    return F.row_number().over(w)


def _running(agg: Column) -> Callable[[WindowSpec], Column]:
    return lambda w: agg.over(w.rowsBetween(Window.unboundedPreceding, 0))


def _add_long(off: Column, local: Column) -> Column:
    return (off + local).cast("long")


def two_pass_rank(
    df: DataFrame,
    order_by: list[Column],
    out_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global 1-based dense row rank by ``order_by`` WITHOUT a single-task
    sort: rank = (count of rows in earlier range partitions) +
    per-partition row_number. ``order_by`` must be a total order (include
    a tiebreaker column) for the result to be deterministic."""
    return _two_pass(
        df, None, order_by, num_partitions,
        F.count(F.lit(1)), _row_number, _add_long, out_col,
    )


def two_pass_running_sum(
    df: DataFrame,
    order_by: list[Column],
    value_col: str,
    out_col: str = "running_sum",
) -> DataFrame:
    """Global running sum of ``value_col`` in ``order_by`` order WITHOUT an
    unpartitioned window: per-partition cumulative sum + the broadcast sum
    of earlier partitions' totals. Exact when ``value_col`` is integral or
    decimal (partial sums reassociate); ``order_by`` must be a total
    order for determinism."""
    return _two_pass(
        df, None, order_by, None,
        F.sum(value_col), _running(F.sum(value_col)), Column.__add__, out_col,
    )


def two_pass_rank_in_groups(
    df: DataFrame,
    group_col: str,
    order_by: list[Column],
    out_col: str = "rank",
) -> DataFrame:
    """Per-group 1-based rank by ``order_by`` WITHOUT per-group global
    sorts: range-partition on (group, order), count rows per
    (group, partition), carry each group's earlier-partition counts via a
    broadcast |groups|·|partitions|-row offsets frame, add a
    partition-local row_number. The grouped variant of two_pass_rank —
    the scale-safe replacement for ``Window.partitionBy(group)
    .orderBy(...)`` when groups are FEW and HUGE (e.g. per-language doc
    ranking: 30 languages × billions of docs would funnel each language
    through one task). ``order_by`` must totally order rows within a
    group."""
    return _two_pass(
        df, group_col, order_by, None,
        F.count(F.lit(1)), _row_number, _add_long, out_col,
    )


def two_pass_running_max(
    df: DataFrame,
    order_by: list[Column],
    value_col: str,
    out_col: str = "running_max",
) -> DataFrame:
    """Global running max of ``value_col`` in ``order_by`` order WITHOUT
    an unpartitioned window: per-partition cumulative max + the max of
    earlier partitions' maxima via the broadcast offsets frame (NULL for
    the first partition; greatest() skips nulls). Exact for any orderable
    type (max reassociates). Use it for watermark simulation and skyline
    prefix-dominance, where the carried statistic is an extremum."""
    return _two_pass(
        df, None, order_by, None,
        F.max(value_col), _running(F.max(value_col)),
        lambda off, local: F.greatest(local, off), out_col, kind="max",
    )


def two_pass_running_sum_in_groups(
    df: DataFrame,
    group_col: str,
    order_by: list[Column],
    value_col: str,
    out_col: str = "running_sum",
) -> DataFrame:
    """Per-group running sum of ``value_col`` in ``order_by`` order
    WITHOUT per-group global sorts — the grouped twin of
    ``two_pass_running_sum``, built like ``two_pass_rank_in_groups``.
    For FEW-and-HUGE groups (e.g. per-class weighted medians over a
    value-domain rollup) where ``Window.partitionBy(group)`` would
    funnel each group through one task. ``order_by`` must totally order
    rows within a group; exact for integral / decimal ``value_col``."""
    return _two_pass(
        df, group_col, order_by, None,
        F.sum(value_col), _running(F.sum(value_col)), Column.__add__, out_col,
    )


def top_k(
    frame: DataFrame,
    by: list,
    order: list,
    k: int,
    col: str = "rank",
) -> DataFrame:
    """The ``k`` first rows of each ``by`` group in ``order``, numbered
    1..k in ``col``. ``order`` must totally order rows within a group
    for the cut to be deterministic. The ``col <= k`` cut is the shape
    Spark's InferWindowGroupLimit turns into a pre-shuffle
    WindowGroupLimit, so only ``k`` rows per group and map task cross
    the exchange."""
    w = Window.partitionBy(*by).orderBy(*order)
    return frame.withColumn(col, F.row_number().over(w)).filter(
        F.col(col) <= k
    )


def sql_top_k(rel: str, by: list, order: list, k: int | str) -> str:
    """DuckDB twin of ``top_k``: a query over ``rel`` (a relation name or
    a query) keeping the ``k`` first rows of each ``by`` group in
    ``order``, numbered 1..k as INTEGER in ``rank`` after ``rel``'s
    columns. ``by`` and ``order`` are SQL terms over ``rel``'s columns;
    an empty ``by`` ranks globally, and ``k`` may be a SQL expression."""
    part = f"PARTITION BY {', '.join(by)} " if by else ""
    src = rel if rel.isidentifier() else f"({rel})"
    return (
        f"SELECT *, CAST(row_number() OVER ({part}ORDER BY "
        f"{', '.join(order)}) AS INTEGER) AS rank "
        f"FROM {src} QUALIFY rank <= {k}"
    )


TOP_K_SALTS = 16


def salt(key: str) -> Column:
    """The ``_salt`` shard column ``salted_top_k`` ranks within: a hash of
    ``key`` into TOP_K_SALTS shards."""
    return F.pmod(F.xxhash64(F.col(key)), F.lit(TOP_K_SALTS)).alias("_salt")


def salted_top_k(
    frame: DataFrame, by: list, order: list, k: int
) -> DataFrame:
    """``top_k`` into ``rank`` for FEW and HUGE ``by`` groups
    (per-language vocabularies, per-group distinct sets), where one
    window partition per group would sort a whole group in one task.
    ``frame`` must carry a ``salt(key)`` column. Stage 1 keeps the top
    ``k`` per (group, salt) shard, so no task sorts more than one shard;
    stage 2 ranks the at most k·TOP_K_SALTS survivors per group. Every
    member of a group's global top k is in its shard's local top k, so
    the answer is exact — the local-then-global split REPOSE (ICDE 2021)
    uses to distribute top-k. Callers add ``salt(key)`` in their own
    projection, so a key column the rest of the plan does not need
    never travels into the shuffle."""
    local = top_k(frame, [*by, "_salt"], order, k)
    return top_k(local, by, order, k)


def ntile_from_rank(
    rank: Column, total: Column, n_buckets: int
) -> Column:
    """Reproduce SQL ``ntile(n) OVER (ORDER BY ...)`` from a global
    1-based rank and the total row count — the piece that lets a
    two-pass rank replace a global-window ntile. ntile semantics: the
    first ``total % n`` buckets get ``total div n + 1`` rows, the rest
    get ``total div n``."""
    q = (total / n_buckets).cast("long")
    r = total % n_buckets
    big = r * (q + 1)  # rows living in the (q+1)-sized buckets
    return (
        F.when(rank <= big, ((rank - 1) / (q + 1)).cast("long") + 1)
        .otherwise(
            # greatest(q, 1): when total < n_buckets, q = 0 and every row
            # takes the first branch; the guard only keeps the unevaluated
            # division well-defined.
            r + ((rank - 1 - big) / F.greatest(q, F.lit(1))).cast("long") + 1
        )
        .cast("int")
    )


def ntile(
    frame: DataFrame, by: str | None, order: list, n: int, col: str
) -> DataFrame:
    """Spark twin of ``ntile(n) OVER ([PARTITION BY by] ORDER BY order)``
    into ``col``, without a single-task sort: a two-pass rank (per ``by``
    group when given), each group's row count, broadcast back, and
    ``ntile_from_rank``. ``order`` must totally order rows within a
    group."""
    if by:
        ranked = two_pass_rank_in_groups(frame, by, order, out_col="_rank")
        totals = ranked.groupBy(by).agg(F.count(F.lit(1)).alias("_n"))
        counted = ranked.join(F.broadcast(totals), by)
    else:
        ranked = two_pass_rank(frame, order, out_col="_rank")
        totals = ranked.agg(F.count(F.lit(1)).alias("_n"))
        counted = ranked.crossJoin(F.broadcast(totals))
    return counted.withColumn(
        col, ntile_from_rank(F.col("_rank"), F.col("_n"), n)
    ).drop("_rank", "_n")
