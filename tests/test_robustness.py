"""Fast robustness checks that run in the default (non-slow) suite:
crash recovery of the stream stores' swap commit, thread safety of the
session-staging cache, and numeric guards that must fail loudly."""

from __future__ import annotations

import os
import threading
import types
from concurrent.futures import ThreadPoolExecutor

import pytest


class _Crash(Exception):
    """Stands in for the process dying at an injected point."""


def _crash_on_rename(monkeypatch, src: str) -> None:
    """Make the next ``os.rename`` whose source is ``src`` die."""
    real = os.rename

    def rename(a, b):
        if os.fspath(a).rstrip("/") == src:
            raise _Crash(a)
        real(a, b)

    monkeypatch.setattr(os, "rename", rename)


def _rows(spark, path: str) -> set:
    return {tuple(r) for r in spark.read.parquet(path).collect()}


# The two crash points of swap_store: between its two renames (no live
# dir; the pre-batch version sits in .old, the new one in .staging), and
# before the first rename (live intact, a complete but stale .staging).
CRASH_POINTS = {
    "between_renames": lambda live: live + ".staging",
    "before_first_rename": lambda live: live,
}


@pytest.mark.parametrize("point", sorted(CRASH_POINTS))
def test_merge_upsert_rerun_after_crash_matches_uninterrupted(
    spark, tmp_path, monkeypatch, point
):
    from etl_moodle_and_mass_email_sending_spark.sinks.upsert import (
        merge_upsert,
    )

    schema = "k long, v string"
    base = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    upd = spark.createDataFrame([(2, "B"), (3, "c")], schema)
    # the crashed attempt carries DIFFERENT rows, so a recovery that
    # promoted its leftover staging instead of redoing the merge shows
    crashed = spark.createDataFrame([(1, "X"), (4, "x")], schema)

    want_dir = str(tmp_path / "want")
    merge_upsert(spark, want_dir, base, key="k")
    merge_upsert(spark, want_dir, upd, key="k")

    snap = str(tmp_path / "snap")
    merge_upsert(spark, snap, base, key="k")
    _crash_on_rename(monkeypatch, CRASH_POINTS[point](snap))
    with pytest.raises(_Crash):
        merge_upsert(spark, snap, crashed, key="k")
    monkeypatch.undo()
    if point == "between_renames":
        assert not os.path.isdir(snap) and os.path.isdir(snap + ".old")
    assert os.path.isdir(snap + ".staging")

    merge_upsert(spark, snap, upd, key="k")
    assert _rows(spark, snap) == _rows(spark, want_dir)
    assert not os.path.exists(snap + ".old")
    assert not os.path.exists(snap + ".staging")


@pytest.mark.parametrize("point", sorted(CRASH_POINTS))
def test_sketch_merge_rerun_after_crash_matches_uninterrupted(
    spark, tmp_path, monkeypatch, point
):
    """The CMS store sum-merges, so re-applying a batch on top of its own
    leftover output would double its counts: the rerun must start from
    the pre-batch version, as the stream's checkpoint replay assumes."""
    from etl_moodle_and_mass_email_sending_spark.streaming import cms_stream

    b1 = spark.range(0, 60).selectExpr("id % 17 AS user_id")
    b2 = spark.range(60, 150).selectExpr("id % 23 AS user_id")

    want = str(tmp_path / "want")
    cms_stream.on_batch(want, b1, 0)
    cms_stream.on_batch(want, b2, 1)

    store = str(tmp_path / "store")
    live = os.path.join(store, "counters")
    cms_stream.on_batch(store, b1, 0)
    _crash_on_rename(monkeypatch, CRASH_POINTS[point](live))
    with pytest.raises(_Crash):
        cms_stream.on_batch(store, b2, 1)
    monkeypatch.undo()

    cms_stream.on_batch(store, b2, 1)  # the checkpoint replays batch 1
    assert _rows(spark, live) == _rows(
        spark, os.path.join(want, "counters")
    )
    assert sorted(os.listdir(store)) == ["counters"]


def _stopped_session(barrier: threading.Barrier):
    """A session stub that reports stopped once two pruners are both
    looking at it (or after a short wait, when a lock keeps the second
    one out)."""

    class _Session:
        @property
        def sparkContext(self):
            try:
                barrier.wait(timeout=1)
            except threading.BrokenBarrierError:
                pass
            return types.SimpleNamespace(_jsc=None)

    return _Session()


@pytest.mark.parametrize("store", ["frames", "paths"])
def test_concurrent_prunes_of_a_stopped_session(tmp_path, store):
    """Two threads pruning the same stopped session's entry from the one
    staging store must not both drop it (the unguarded lookup-then-del
    raised KeyError), the entry's build lock goes with it, and a pruned
    path's dir is deleted."""
    from etl_moodle_and_mass_email_sending_spark.operators import util

    key = ("app-stopped-prune-test", store)
    sess = _stopped_session(threading.Barrier(2))
    staged = tmp_path / "staged"
    staged.mkdir()
    value = object() if store == "frames" else str(staged)
    util._STAGE[key] = (value, sess)
    util._stage_lock(key)
    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            for f in [pool.submit(util._prune_stopped) for _ in range(2)]:
                f.result()
        assert key not in util._STAGE
        assert key not in util._STAGE_LOCKS
        assert staged.exists() == (store == "frames")
    finally:
        util._STAGE.pop(key, None)
        util._STAGE_LOCKS.pop(key, None)


def test_lsh_pairs_build_once_and_ledgered(spark, tmp_path, monkeypatch):
    """The MinHash-LSH pairs eleven queries share are staged in the one
    store: four concurrent ``dedup_minhash_lsh`` calls build them once,
    and the build is on the staging ledger."""
    from conftest import SF_SMALL

    from etl_moodle_and_mass_email_sending_spark import registry
    from etl_moodle_and_mass_email_sending_spark.operators import dedup, util

    # a fresh sf_dir (same files) so pairs staged by earlier tests in
    # this session do not count as a hit
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    for name in os.listdir(SF_SMALL):
        os.symlink(os.path.join(SF_SMALL, name), sf_dir / name)
    calls = []
    real = dedup.minhash_lsh_pairs

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(dedup, "minhash_lsh_pairs", counting)
    query = registry.queries()["dedup_minhash_lsh"]
    with ThreadPoolExecutor(max_workers=4) as pool:
        frames = [
            f.result()
            for f in [pool.submit(query, spark, str(sf_dir)) for _ in range(4)]
        ]
    assert len(calls) == 1
    assert len({id(f._jdf) for f in frames}) == 1
    assert f"pairs/{sf_dir}" in util.staging_ledger()



def test_minhash_index_built_once_per_corpus(spark, tmp_path, monkeypatch):
    """The six shingle-set queries over the dup corpus read one staged
    MinHash index: it is built once per (session, sf_dir), and it and the
    pairs on top of it are that corpus's only staged builds."""
    from conftest import SF_SMALL

    from etl_moodle_and_mass_email_sending_spark import registry
    from etl_moodle_and_mass_email_sending_spark.operators import dedup, util

    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    for name in os.listdir(SF_SMALL):
        os.symlink(os.path.join(SF_SMALL, name), sf_dir / name)
    calls = []
    real = dedup.minhash_index

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(dedup, "minhash_index", counting)
    queries = registry.queries()
    for name in (
        "dedup_minhash_lsh",
        "dedup_threshold_sweep",
        "dedup_minhash_calibration",
        "dedup_jaccard_lsh_verified",
        "dedup_containment",
        "dedup_ngram_jaccard",
    ):
        queries[name](spark, str(sf_dir))
    assert len(calls) == 1
    ledger = util.staging_ledger()
    assert {k for k in ledger if k.endswith(f"/{sf_dir}")} == {
        f"minhash_index/{sf_dir}",
        f"pairs/{sf_dir}",
    }


def test_near_dup_stream_rerun_batch_keeps_one_decision_per_doc(
    spark, tmp_path
):
    """A micro-batch re-run after its decisions were written but before
    its offset commit must replace those decisions, not add a second
    copy: the re-run lands in the same batch_id partition."""
    from etl_moodle_and_mass_email_sending_spark.streaming import (
        neardup_stream,
    )

    batch = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "an entirely different sentence about nothing much"),
        ],
        "doc_id long, text string",
    )
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    for _ in range(2):
        neardup_stream.on_batch(store, out, batch, 0)
    rows = spark.read.parquet(out).drop("batch_id").collect()
    assert sorted((r.doc_id, r.dropped) for r in rows) == [
        (1, False),
        (2, True),
        (3, False),
    ]


def test_staging_ledger_records_each_build_own_seconds(monkeypatch):
    """A staged build that stages another key inside it records only its
    own seconds: the nested build's seconds go to the nested key alone,
    so the ledger's values sum to the time spent staging."""
    import time

    from etl_moodle_and_mass_email_sending_spark.operators import util

    clock = [100.0]
    monkeypatch.setattr(time, "perf_counter", lambda: clock[0])
    session = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(
            applicationId="app-ledger-test", _jsc=object()
        )
    )

    def inner():
        clock[0] += 2.0
        return "inner"

    def outer():
        clock[0] += 1.0
        util._staged(session, ("ledger_inner",), inner)
        util._staged(session, ("ledger_inner",), inner)  # a hit
        clock[0] += 0.5
        return "outer"

    try:
        assert util._staged(session, ("ledger_outer",), outer) == "outer"
        ledger = util.staging_ledger()
        assert ledger["ledger_outer"] == 1.5
        assert ledger["ledger_inner"] == 2.0
    finally:
        for key in ("ledger_outer", "ledger_inner"):
            util._STAGE.pop(("app-ledger-test", key), None)
            util._STAGE_LOCKS.pop(("app-ledger-test", key), None)
            util._STAGING_LEDGER.pop(key, None)


def test_staged_frame_builds_once_under_concurrency(spark):
    """Staged builds are reached from driver thread pools (the
    ingest-receipt producers overlap), so the check-then-build sequence
    must be atomic PER KEY — concurrent requests for one key build once
    and share the frame; distinct keys stay concurrent."""
    from etl_moodle_and_mass_email_sending_spark.operators import util

    calls = {"a": 0, "b": 0}
    lock = threading.Lock()

    def build(tag):
        def _b():
            with lock:
                calls[tag] += 1
            return spark.range(5).toDF("n")

        return _b

    key_a = ("stage_lock_test_a", "x")
    key_b = ("stage_lock_test_b", "x")
    with ThreadPoolExecutor(max_workers=8) as pool:
        futs = [
            pool.submit(
                util.staged_frame,
                spark,
                key_a if i % 2 == 0 else key_b,
                build("a" if i % 2 == 0 else "b"),
            )
            for i in range(8)
        ]
        frames = [f.result() for f in futs]
    assert calls == {"a": 1, "b": 1}  # one build per key, ever
    a_ids = {id(frames[i]._jdf) for i in range(0, 8, 2)}
    assert all(f.count() == 5 for f in frames)
    assert len(a_ids) == 1  # same shared frame object per key


def test_poisson_bootstrap_overflow_guard_fires(spark):
    """A group whose 5x value mass could breach the exact integer-cents
    window (2^53) must FAIL LOUDLY, not return a silently
    wrapped/rounded replica sum."""
    from decimal import Decimal

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from etl_moodle_and_mass_email_sending_spark.functions.hashing import (
        hash32,
    )
    from etl_moodle_and_mass_email_sending_spark.queries.finance import (
        BOOT_SEED0,
        poisson_bootstrap_ci,
    )

    # 20 rows of 1e12 -> sum |v| = 2e13; 500 * 2e13 = 1e16 >= 2^53
    df = spark.createDataFrame(
        [(k, "hot", Decimal(10) ** 12) for k in range(20)],
        schema=T.StructType(
            [
                T.StructField("key", T.LongType()),
                T.StructField("grp", T.StringType()),
                T.StructField("v", T.DecimalType(18, 2)),
            ]
        ),
    )
    prepared = df.select(
        "grp",
        "v",
        hash32(F.col("key"), seed=BOOT_SEED0).alias("_ha"),
        hash32(F.col("key"), seed=BOOT_SEED0 + 1).alias("_hb"),
    )
    with pytest.raises(Exception, match="integer-cents bound"):
        poisson_bootstrap_ci(prepared, group_col="grp").collect()
