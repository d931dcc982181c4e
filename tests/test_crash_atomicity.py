"""Fault-injection suite for the serving-dir protocols (VERDICT r5 #1).

The one remaining silent-data-loss class lives in the swap/compact/sweep
seams: r4's high-severity ADVICE bug (seed marker wiped by swaps ->
serving+checkpoint reset -> merged RT ops silently lost) and r5's crash
window (process death between atomic_swap_dir's two renames leaves the
serving dir ABSENT) were both found by review, not tests. These tests
simulate the crash by making the rename/move syscall raise mid-sequence
(the exception aborts the sequence exactly where a SIGKILL would), then
assert the recovery contract: the serving dir is readable again, the
_seeded_version marker is intact, content is exactly the old or the new
state (never a mix), and no row is served twice.

Reference discipline being matched: the crash-recovery semantics RocksDB
gives the reference for free (RocksDBStoragePartition.java:146-150 —
deferred write + atomic SST ingest)."""

import os
import shutil

import pyspark.sql.functions as F
import pytest

from _crash_schedule import hide_late_slots
from venice_spark.catalog import StoreCatalog
from venice_spark.streaming.hybrid import (
    HybridReplay,
    atomic_swap_dir,
    mark_seeded_version,
    recover_swap_dir,
    reset_serving_if_stale,
    seeded_version,
)

# Release-gate battery: every test is marked slow (run with
# SPARK_GRAFT_SLOW=1) except the cheap canaries that keep swap-crash
# recovery (test_swap_crash_between_renames_promotes_completed_tmp) and
# the eager push's staged fold
# (test_eager_push_crash_in_fold_leaves_the_store_as_it_was) in the
# default tier.

SCHEMA = "key string, val double, ts long"


class SimulatedCrash(Exception):
    """Stands in for process death: aborts the protocol mid-sequence."""


class _CrashOnNthMove:
    """Replace shutil.move with a wrapper that raises on the n-th call.
    atomic_swap_dir's sequence is move(target->old) = #1,
    move(tmp->target) = #2 (recover_swap_dir's healthy-path early return
    consumes no call)."""

    def __init__(self, n: int):
        self.n = n
        self.calls = 0
        self._real = shutil.move

    def __enter__(self):
        def crashing(src, dst, *a, **k):
            self.calls += 1
            if self.calls == self.n:
                raise SimulatedCrash(f"crash at move #{self.n}: {src} -> {dst}")
            return self._real(src, dst, *a, **k)

        shutil.move = crashing
        return self

    def __exit__(self, *exc):
        shutil.move = self._real
        return False


def _mk_serving(spark, tmp_path, rows, version=3):
    serving = str(tmp_path / "serving")
    spark.createDataFrame(rows, schema=SCHEMA).write.parquet(serving)
    mark_seeded_version(serving, version)
    return serving


def _vals(spark, serving):
    return {r["key"]: r["val"] for r in spark.read.parquet(serving).collect()}


@pytest.mark.slow
@pytest.mark.parametrize("fail_move", [1, 2])
def test_swap_crash_at_each_rename_recovers_old_or_new_never_mixed(
    spark, tmp_path, fail_move
):
    """Kill the swap at each of its two renames; after recovery the dir is
    readable, the seed marker survives, and content is EXACTLY the old or
    the new state."""
    old_rows = [("a", 1.0, 10), ("b", 2.0, 10)]
    serving = _mk_serving(spark, tmp_path, old_rows)
    new_df = spark.createDataFrame([("a", 9.0, 20), ("c", 3.0, 20)], schema=SCHEMA)

    with _CrashOnNthMove(fail_move):
        with pytest.raises(SimulatedCrash):
            atomic_swap_dir(new_df, serving, tag="stream")

    recover_swap_dir(serving)
    assert os.path.isdir(serving), "serving dir lost after crash"
    assert seeded_version(serving) == 3, "seed marker lost after crash"
    got = _vals(spark, serving)
    assert got in (
        {"a": 1.0, "b": 2.0},  # crash before the swap took: old state
        {"a": 9.0, "c": 3.0},  # crash after tmp was complete: new state
    ), f"mixed/partial state served: {got}"


def test_swap_crash_between_renames_promotes_completed_tmp(spark, tmp_path):
    """The r5 ADVICE window specifically: death between move(target->old)
    and move(tmp->target). tmp was fully written (parquet _SUCCESS + the
    carried marker land before any rename starts), so recovery finishes the
    swap with the NEW state rather than rolling back."""
    serving = _mk_serving(spark, tmp_path, [("a", 1.0, 10)])
    new_df = spark.createDataFrame([("a", 9.0, 20)], schema=SCHEMA)

    with _CrashOnNthMove(2):
        with pytest.raises(SimulatedCrash):
            atomic_swap_dir(new_df, serving, tag="stream")
    assert not os.path.isdir(serving), "precondition: crash left target absent"

    assert recover_swap_dir(serving) is True
    assert _vals(spark, serving) == {"a": 9.0}
    assert seeded_version(serving) == 3


@pytest.mark.slow
def test_swap_crash_with_incomplete_tmp_restores_old_state(spark, tmp_path):
    """When the leftover tmp is NOT complete (no _SUCCESS — the crash hit
    during the parquet write of a previous attempt and a later partial
    sequence moved the target aside), recovery restores the old dir instead
    of promoting garbage."""
    serving = _mk_serving(spark, tmp_path, [("a", 1.0, 10)])
    shutil.move(serving, f"{serving}__stream_old")
    os.makedirs(f"{serving}__stream_tmp")
    with open(f"{serving}__stream_tmp/part-garbage.parquet", "w") as f:
        f.write("not parquet")

    assert recover_swap_dir(serving) is True
    assert _vals(spark, serving) == {"a": 1.0}
    assert seeded_version(serving) == 3


@pytest.mark.slow
def test_next_swap_self_heals_and_keeps_marker(spark, tmp_path):
    """A swap attempted AFTER an unrecovered crash must first heal the
    leftover state — the pre-fix entry sequence rmtree'd the .old dir
    (deleting the only intact copy) and then read seeded_version() from the
    absent target, dropping the marker from the new dir."""
    serving = _mk_serving(spark, tmp_path, [("a", 1.0, 10)])
    with _CrashOnNthMove(2):
        with pytest.raises(SimulatedCrash):
            atomic_swap_dir(
                spark.createDataFrame([("a", 5.0, 15)], schema=SCHEMA),
                serving,
                tag="stream",
            )

    atomic_swap_dir(
        spark.createDataFrame([("a", 9.0, 20)], schema=SCHEMA), serving, tag="stream"
    )
    assert _vals(spark, serving) == {"a": 9.0}
    assert seeded_version(serving) == 3, "marker dropped by the healing swap"
    assert not os.path.isdir(f"{serving}__stream_old")
    assert not os.path.isdir(f"{serving}__stream_tmp")


@pytest.mark.slow
def test_reset_serving_if_stale_recovers_instead_of_reseeding(spark, tmp_path):
    """The serve facades decide seed-vs-resume through
    reset_serving_if_stale; after a mid-swap crash it must recover the dir
    (marker intact -> no reset) instead of treating the absence as
    'never seeded'."""
    serving = _mk_serving(spark, tmp_path, [("a", 1.0, 10)], version=7)
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(ckpt)
    with _CrashOnNthMove(2):
        with pytest.raises(SimulatedCrash):
            atomic_swap_dir(
                spark.createDataFrame([("a", 5.0, 15)], schema=SCHEMA),
                serving,
                tag="stream",
            )

    assert reset_serving_if_stale(serving, ckpt, current_version=7) is False
    assert os.path.isdir(serving) and os.path.isdir(ckpt)
    assert seeded_version(serving) == 7
    assert _vals(spark, serving) == {"a": 5.0}


@pytest.mark.slow
@pytest.mark.parametrize("crash_at", ["first_move", "before_manifest", "mid_gc"])
def test_append_compact_crash_then_read_serves_exact_content(
    spark, tmp_path, monkeypatch, crash_at
):
    """Kill compact() at each seam of the r7 append+deferred-GC protocol
    (compaction appends the folded fileset and defers deleting the
    superseded files one cycle — reader isolation, VERDICT r6 #3). Every
    window is content-safe BY CONSTRUCTION: a partial compacted fileset
    resolves identically (its rows outrank their own old copies and
    nothing else), a missing manifest just skips one GC cycle, and a
    crash mid-GC resumes. The next read must serve EXACTLY the
    pre-compact resolved content with no duplicate rows, and the next
    compact must complete and physically fold the log."""
    import venice_spark.streaming.hybrid as hyb

    catalog = StoreCatalog(str(tmp_path / "cat"))
    catalog.create_store("h", key_fields=["key"], hybrid=True, rewind_seconds=0)
    serving = str(tmp_path / "serving")
    spark.createDataFrame([("a", 1.0, 10), ("b", 1.0, 10)], schema=SCHEMA).write.parquet(serving)
    mark_seeded_version(serving, 1)

    rt_dir = str(tmp_path / "rt")
    os.makedirs(rt_dir)
    replay = HybridReplay(spark, catalog, "h", serving, compact_every=0)
    for i, rows in enumerate(
        [[("a", 5.0, 20, "PUT")], [("b", 0.0, 30, "DELETE")], [("c", 7.0, 25, "PUT")]]
    ):
        spark.createDataFrame(rows, schema=SCHEMA + ", op string").write.mode(
            "append"
        ).parquet(rt_dir)
        stream = spark.readStream.schema(SCHEMA + ", op string").parquet(rt_dir)
        replay.start(stream, str(tmp_path / "ckpt")).awaitTermination(120)

    before = {r["key"]: r["val"] for r in replay.read().collect()}
    assert before == {"a": 5.0, "c": 7.0}

    if crash_at == "first_move":
        real_rename = os.rename
        state = {"n": 0}

        def crashing(src, dst, *a, **k):
            if "__compact_" in str(src):
                state["n"] += 1
                if state["n"] == 1:
                    raise SimulatedCrash("crash at first compacted-file move")
            return real_rename(src, dst, *a, **k)

        monkeypatch.setattr(os, "rename", crashing)
        with pytest.raises(SimulatedCrash):
            replay.compact()
        monkeypatch.undo()
    elif crash_at == "before_manifest":
        monkeypatch.setattr(
            hyb, "record_gc_pending",
            lambda *a, **k: (_ for _ in ()).throw(SimulatedCrash("pre-manifest")),
        )
        with pytest.raises(SimulatedCrash):
            replay.compact()
        monkeypatch.undo()
    else:  # mid_gc: a full compact, then a crash during the NEXT one's GC
        replay.compact()
        real_unlink = os.unlink
        state = {"n": 0}

        def crashing_unlink(p, *a, **k):
            if str(p).endswith(".parquet"):
                state["n"] += 1
                if state["n"] == 1:
                    raise SimulatedCrash("crash mid-GC")
            return real_unlink(p, *a, **k)

        monkeypatch.setattr(os, "unlink", crashing_unlink)
        with pytest.raises(SimulatedCrash):
            replay.compact()
        monkeypatch.undo()

    # content identical, one row per key from read() (resolution dedups)
    after_rows = replay.read().collect()
    assert {r["key"]: r["val"] for r in after_rows} == before
    assert len(after_rows) == len(before), "half-compacted log double-served"
    assert seeded_version(serving) == 1
    # a later trigger's stamp source is sane (no restart-from-0)
    nxt, n = hyb.log_stamp_pressure(spark, serving, "__batch")
    assert nxt >= 1 and n >= 1

    # recovery: the next compact completes, and after its deferred-GC
    # grace expires the log is physically one row per key
    replay.compact()
    assert {r["key"]: r["val"] for r in replay.read().collect()} == before
    hyb.run_deferred_gc(serving)
    raw = spark.read.option("mergeSchema", "true").parquet(serving)
    assert raw.count() == raw.select("key").distinct().count()
    assert {r["key"]: r["val"] for r in replay.read().collect()} == before


@pytest.mark.slow
def test_crashed_compact_staging_swept_by_next_compact(
    spark, tmp_path, monkeypatch
):
    """ADVICE r7 (low): a crash between the compact staging write and
    merge_fileset_in used to leak the `<serving>__compact_<hex>` sibling
    dir forever (referenced by no swap-recovery glob and no GC manifest) —
    repeated crash-compacts accumulated full-table copies. The next
    compact must sweep the orphan, complete, and serve exact content."""
    import glob

    import venice_spark.streaming.hybrid as hyb

    catalog = StoreCatalog(str(tmp_path / "cat"))
    catalog.create_store("h", key_fields=["key"], hybrid=True, rewind_seconds=0)
    serving = str(tmp_path / "serving")
    spark.createDataFrame(
        [("a", 1.0, 10), ("b", 2.0, 10)], schema=SCHEMA
    ).write.parquet(serving)
    mark_seeded_version(serving, 1)

    rt_dir = str(tmp_path / "rt")
    os.makedirs(rt_dir)
    replay = HybridReplay(spark, catalog, "h", serving, compact_every=0)
    spark.createDataFrame(
        [("a", 5.0, 20, "PUT")], schema=SCHEMA + ", op string"
    ).write.mode("append").parquet(rt_dir)
    stream = spark.readStream.schema(SCHEMA + ", op string").parquet(rt_dir)
    replay.start(stream, str(tmp_path / "ckpt")).awaitTermination(120)
    before = {r["key"]: r["val"] for r in replay.read().collect()}
    assert before == {"a": 5.0, "b": 2.0}

    # crash BEFORE any staged file moves: the whole staging dir orphans
    monkeypatch.setattr(
        hyb,
        "merge_fileset_in",
        lambda *a, **k: (_ for _ in ()).throw(SimulatedCrash("pre-merge")),
    )
    with pytest.raises(SimulatedCrash):
        replay.compact()
    monkeypatch.undo()
    orphans = glob.glob(serving + "__compact_*")
    assert len(orphans) == 1, "expected the crashed compact's staging dir"

    # the next compact sweeps it, completes, and content is unchanged
    replay.compact()
    assert glob.glob(serving + "__compact_*") == []
    assert {r["key"]: r["val"] for r in replay.read().collect()} == before
    hyb.run_deferred_gc(serving)
    raw = spark.read.option("mergeSchema", "true").parquet(serving)
    assert raw.count() == raw.select("key").distinct().count()
    assert {r["key"]: r["val"] for r in replay.read().collect()} == before


@pytest.mark.slow
def test_sweep_late_deltas_crash_midway_is_resumable(spark, tmp_path):
    """Kill the late-delta sweep between slot renames: every slot must be
    either fully on the old or fully on the new version (os.rename is
    atomic), and re-running the sweep carries the remainder in the original
    arrival order."""
    from venice_spark.push import BatchPushJob, incremental_push, sweep_late_deltas

    catalog = StoreCatalog(str(tmp_path / "cat"))
    catalog.create_store("s", key_fields=["k"], partition_count=2)
    BatchPushJob(catalog).run(
        spark, "s", spark.createDataFrame([(1, 0)], "k long, v long")
    )
    for i in (1, 2, 3):
        incremental_push(
            spark,
            catalog,
            "s",
            spark.createDataFrame([(1, i)], "k long, v long"),
            eager=False,
        )
    assert len(catalog.list_delta_dirs("s", 1)) == 3

    # a new version commits without having resolved any of the slots
    v2 = catalog.begin_version("s")
    base = spark.read.parquet(catalog.version_dir("s", 1))
    base.write.mode("overwrite").partitionBy("partition_id").parquet(
        catalog.version_dir("s", v2)
    )
    catalog.commit_version(
        "s", v2, manifest={"partition_count": 2, "partitioner": "xxhash64"}
    )

    real_rename = os.rename
    calls = {"n": 0}

    def crashing(src, dst, *a, **k):
        if "_deltas" in str(dst):
            calls["n"] += 1
            if calls["n"] == 2:
                raise SimulatedCrash("crash mid-sweep")
        return real_rename(src, dst, *a, **k)

    os.rename = crashing
    try:
        with pytest.raises(SimulatedCrash):
            sweep_late_deltas(spark, catalog, "s", 1, set(), v2, ["k"], 2, False)
    finally:
        os.rename = real_rename

    carried = catalog.list_delta_dirs("s", v2)
    left = catalog.list_delta_dirs("s", 1)
    assert len(carried) + len(left) == 3, "a slot vanished mid-sweep"

    # resume: the remaining late slots carry over, arrival order preserved
    sweep_late_deltas(spark, catalog, "s", 1, set(), v2, ["k"], 2, False)
    assert len(catalog.list_delta_dirs("s", v2)) == 3
    assert catalog.list_delta_dirs("s", 1) == []
    out = catalog.read_current(spark, "s").collect()
    assert {r["k"]: r["v"] for r in out} == {1: 3}, "slot precedence broken"


@pytest.mark.slow
def test_hybrid_serve_e2e_crash_midswap_preserves_merged_rt_ops(spark, tmp_path):
    """End-to-end replica of the loss mode both review findings circled:
    RT ops merge into serving, a later swap of the serving dir (`compact
    --cast`, the serving log's remaining whole-dir swap) crashes between
    its renames, and the NEXT serve call runs with every op now outside
    the rewind window. Pre-fix: the facade saw no serving dir, re-seeded
    from the batch base, and the rewind filter dropped the ops on replay
    — silently lost. Post-fix: recovery restores the serving state
    (marker intact), so nothing replays and nothing is lost."""
    from pyspark.sql import types as T

    from venice_spark.engine import VeniceSparkEngine
    from venice_spark.streaming.hybrid import compact_cast

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.catalog.create_store(
        "h",
        key_fields=["k"],
        partition_count=2,
        hybrid=True,
        value_schema=T.StructType([T.StructField("v", T.IntegerType())]),
        schema_compat="backward",
    )
    eng.push("h", spark.createDataFrame([(1, 1)], "k long, v int"))
    st = eng.store("h")
    flush_schema = "k long, op string, ts long, colo int, v int"

    p = st.producer()
    p.put(10, {"v": 10}, ts=1_000)
    p.flush(schema=flush_schema)
    st.hybrid_serve(rewind_seconds=10, now_ts=5_000)
    p.put(11, {"v": 11}, ts=2_000_000)
    p.flush(schema=flush_schema)
    st.hybrid_serve(rewind_seconds=10, now_ts=2_000_500)

    # an int→long registry evolution gives `compact --cast` a column to
    # migrate; kill its swap between the two renames
    eng.catalog.add_value_schema("h", T.StructType([T.StructField("v", T.LongType())]))
    serving = os.path.join(eng.catalog.store_dir("h"), "serving")
    with _CrashOnNthMove(2):
        with pytest.raises(SimulatedCrash):
            compact_cast(spark, eng.catalog, "h", serving)
    assert not os.path.isdir(serving), "precondition: crash left target absent"

    # both ops are now older than the rewind window: anything the recovery
    # loses cannot be replayed back
    replay = st.hybrid_serve(rewind_seconds=10, now_ts=3_000_000)
    out = {r["k"]: r["v"] for r in replay.read().collect()}
    assert out.get(10) == 10, f"merged RT op lost across the crash: {out}"
    assert out.get(11) == 11, f"merged RT op lost across the crash: {out}"
    assert out.get(1) == 1


@pytest.mark.slow
def test_aa_compact_crash_then_merge_heals_and_serves_exact_content(
    spark, tmp_path, monkeypatch
):
    """AA edition of the compact-crash test: kill the AA log's compaction
    mid-protocol (r7: compact is an append + deferred GC, so the crash
    leaves a partial compacted fileset alongside the full old one — never
    a vanished dir); the next micro-batch merge must keep serving the DCR
    kernel's exact answer."""
    from venice_spark.engine import VeniceSparkEngine

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("aa", key_fields=["k"], partition_count=2, active_active=True)
    eng.push(
        "aa",
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0)], "k long, name string, score double"
        ),
    )
    st = eng.store("aa")
    p = st.producer()
    fs = "k long, op string, ts long, colo int, name string, score double"
    p._buffer.append({"k": 1, "op": "PUT", "ts": 100, "colo": 0, "name": "a2", "score": 9.0})
    p._buffer.append({"k": 2, "op": "DELETE", "ts": 100, "colo": 0})
    p.flush(schema=fs)
    replay = st.aa_serve(["name", "score"])

    real_rename = os.rename
    state = {"n": 0}

    def crashing(src, dst, *a, **k):
        if "__compact_" in str(src):
            state["n"] += 1
            if state["n"] == 1:
                raise SimulatedCrash("crash at first compacted-file move")
        return real_rename(src, dst, *a, **k)

    monkeypatch.setattr(os, "rename", crashing)
    with pytest.raises(SimulatedCrash):
        replay.compact()
    monkeypatch.undo()

    # next serve call (fresh handle, checkpoint resume) heals and merges
    p._buffer.append({"k": 3, "op": "PUT", "ts": 110, "colo": 1, "name": "c", "score": 3.0})
    p.flush(schema=fs)
    replay2 = st.aa_serve(["name", "score"])
    out = {r["k"]: (r["name"], r["score"]) for r in replay2.read().collect()}
    assert out == {1: ("a2", 9.0), 3: ("c", 3.0)}, out
    # tombstone register still stops a stale resurrection after the crash
    p._buffer.append({"k": 2, "op": "PUT", "ts": 50, "colo": 2, "name": "zombie", "score": 0.0})
    p.flush(schema=fs)
    out = {
        r["k"]: r["name"]
        for r in st.aa_serve(["name", "score"]).read().collect()
    }
    assert 2 not in out, f"stale PUT resurrected a deleted key across the crash: {out}"


def test_eager_push_crash_in_fold_leaves_the_store_as_it_was(spark, tmp_path, monkeypatch):
    """An eager incremental push folds its staged delta without appending
    it to the serving version's log: a process death inside the fold
    leaves the pointer, the log and the content as they were (so a
    rollback over a completed eager push undoes it), and a retry lands
    the delta."""
    import venice_spark.push as push_mod
    from venice_spark.push import BatchPushJob, incremental_push

    catalog = StoreCatalog(str(tmp_path / "cat"))
    catalog.create_store("s", key_fields=["k"], partition_count=2)
    BatchPushJob(catalog).run(
        spark, "s", spark.createDataFrame([(1, "base"), (2, "base")], "k long, v string")
    )
    delta = spark.createDataFrame([(2, "eager"), (3, "new")], "k long, v string")

    def dying_write(*a, **k):
        raise SimulatedCrash("died in the fold")

    monkeypatch.setattr(push_mod, "_write_version", dying_write)
    with pytest.raises(SimulatedCrash):
        incremental_push(spark, catalog, "s", delta)
    monkeypatch.undo()

    assert catalog.current_version("s") == 1
    assert catalog.list_delta_dirs("s", 1) == []
    assert not [d for d in os.listdir(catalog.store_dir("s")) if "staging" in d]
    got = {r["k"]: r["v"] for r in catalog.read_current(spark, "s").collect()}
    assert got == {1: "base", 2: "base"}, got

    res = incremental_push(spark, catalog, "s", delta)
    assert catalog.current_version("s") == res.version == 2
    assert catalog.list_delta_dirs("s", 1) == catalog.list_delta_dirs("s", 2) == []
    got = {r["k"]: r["v"] for r in catalog.read_current(spark, "s").collect()}
    assert got == {1: "base", 2: "eager", 3: "new"}, got


@pytest.mark.slow
def test_crash_between_commit_and_sweep_heals_on_next_committer(
    spark, tmp_path, monkeypatch
):
    """A process death AFTER commit_version but BEFORE sweep_late_deltas
    used to strand late lazy slots on the retired version forever (retired
    versions are never read, and nothing re-ran the sweep). Committers now
    record their resolved-slot snapshot in the version manifest, and every
    version-producing operation heals stranded slots first
    (recover_stranded_deltas)."""
    import venice_spark.push as push_mod
    from venice_spark.push import (
        BatchPushJob,
        incremental_push,
        recover_stranded_deltas,
    )

    catalog = StoreCatalog(str(tmp_path / "cat"))
    catalog.create_store("s", key_fields=["k"], partition_count=2)
    BatchPushJob(catalog).run(
        spark, "s", spark.createDataFrame([(1, "base"), (2, "base")], "k long, v string")
    )
    # a lazy slot that the eager push below will NOT see (hidden from its
    # fold's snapshot — the standard late-arrival interleaving)
    late = incremental_push(
        spark, catalog, "s",
        spark.createDataFrame([(2, "late")], "k long, v string"), eager=False,
    ).path
    hide_late_slots(monkeypatch, catalog, [late])
    # the push dies right after its commit: its sweep never runs
    real_sweep = push_mod.sweep_late_deltas
    state = {"calls": 0}

    def dying_sweep(*a, **k):
        state["calls"] += 1
        if state["calls"] == 1:
            raise SimulatedCrash("died post-commit pre-sweep")
        return real_sweep(*a, **k)

    monkeypatch.setattr(push_mod, "sweep_late_deltas", dying_sweep)
    with pytest.raises(SimulatedCrash):
        incremental_push(
            spark, catalog, "s",
            spark.createDataFrame([(1, "eager")], "k long, v string"),
        )

    # loss state: v2 is current and serves WITHOUT the late slot
    assert catalog.current_version("s") == 2
    assert late in catalog.list_delta_dirs("s", 1), "precondition: slot stranded on v1"
    got = {r["k"]: r["v"] for r in catalog.read_current(spark, "s").collect()}
    assert got == {1: "eager", 2: "base"}, got

    # the next committer heals: the stranded slot carries to the current
    # version's log before the new push snapshots
    incremental_push(
        spark, catalog, "s",
        spark.createDataFrame([(3, "next")], "k long, v string"),
    )
    got = {r["k"]: r["v"] for r in catalog.read_current(spark, "s").collect()}
    assert got[2] == "late", f"stranded slot never recovered: {got}"
    assert got[1] == "eager" and got[3] == "next"
    assert catalog.list_delta_dirs("s", 1) == [], "slot left behind on v1"
    # idempotent: nothing more to heal
    assert recover_stranded_deltas(spark, catalog, "s") == 0


@pytest.mark.slow
def test_stacked_commit_sweep_crashes_heal_along_the_lineage(
    spark, tmp_path, monkeypatch
):
    """Two concurrent-ish pushes both die post-commit pre-sweep (each with
    a late slot it never saw): the slots strand TWO generations back.
    Recovery walks the swept_from lineage oldest-first, so one healthy
    committer heals both — and the older generation's slot takes lower
    precedence than the newer one's."""
    import venice_spark.push as push_mod
    from venice_spark.push import BatchPushJob, incremental_push

    catalog = StoreCatalog(str(tmp_path / "cat"))
    catalog.create_store("s", key_fields=["k"], partition_count=2)
    BatchPushJob(catalog).run(
        spark, "s", spark.createDataFrame([(1, "base"), (2, "base")], "k long, v string")
    )

    real_sweep = push_mod.sweep_late_deltas
    real_recover = push_mod.recover_stranded_deltas
    monkeypatch.setattr(push_mod, "recover_stranded_deltas", lambda *a, **k: 0)

    def crash_push(value, late_value):
        # the late slot lands while the push runs: hide it from the push's
        # fold snapshot, then let the push die at its sweep
        late = incremental_push(
            spark, catalog, "s",
            spark.createDataFrame([(2, late_value)], "k long, v string"),
            eager=False,
        ).path
        hide_late_slots(monkeypatch, catalog, [late])
        monkeypatch.setattr(
            push_mod, "sweep_late_deltas",
            lambda *a, **k: (_ for _ in ()).throw(SimulatedCrash("post-commit")),
        )
        with pytest.raises(SimulatedCrash):
            incremental_push(
                spark, catalog, "s",
                spark.createDataFrame([(1, value)], "k long, v string"),
            )
        monkeypatch.setattr(push_mod, "sweep_late_deltas", real_sweep)
        return late

    late_a = crash_push("eager1", "lateA")   # strands lateA on v1
    late_b = crash_push("eager2", "lateB")   # strands lateB on v2
    monkeypatch.setattr(push_mod, "recover_stranded_deltas", real_recover)

    assert late_a in catalog.list_delta_dirs("s", 1)
    assert late_b in catalog.list_delta_dirs("s", 2)
    got = {r["k"]: r["v"] for r in catalog.read_current(spark, "s").collect()}
    assert got[2] == "base", f"precondition: both slots stranded, got {got}"

    incremental_push(
        spark, catalog, "s",
        spark.createDataFrame([(3, "next")], "k long, v string"),
    )
    got = {r["k"]: r["v"] for r in catalog.read_current(spark, "s").collect()}
    # lateB (newer generation) outranks lateA after the oldest-first carry
    assert got[2] == "lateB", f"lineage healing broken: {got}"
    assert got[1] == "eager2" and got[3] == "next"
    assert catalog.list_delta_dirs("s", 1) == []
    assert catalog.list_delta_dirs("s", 2) == []


@pytest.mark.slow
def test_carried_stranded_slot_never_outranks_fresher_arrivals(
    spark, tmp_path, monkeypatch
):
    """ADVICE r6 (medium): a slot stranded by a commit→sweep crash used to
    be carried onto the current version at the HIGHEST slot index, so lazy
    slots that genuinely arrived AFTER the crash — possibly days later —
    were overridden by the stale carried values. Precedence is now the
    per-slot arrival sequence (`_slot_meta.json`, monotonic store-wide),
    which the carry preserves, so the stranded slot resolves below every
    later arrival regardless of the d{K} name it lands under."""
    import venice_spark.push as push_mod
    from venice_spark.push import (
        BatchPushJob,
        incremental_push,
        recover_stranded_deltas,
    )

    real_sweep = push_mod.sweep_late_deltas
    real_recover = push_mod.recover_stranded_deltas
    catalog = StoreCatalog(str(tmp_path / "cat"))
    catalog.create_store("s", key_fields=["k"], partition_count=2)
    BatchPushJob(catalog).run(
        spark, "s", spark.createDataFrame([(1, "base"), (2, "base")], "k long, v string")
    )
    # the slot that will strand on v1 (arrival #1)
    stranded = incremental_push(
        spark, catalog, "s",
        spark.createDataFrame([(2, "stranded")], "k long, v string"), eager=False,
    ).path
    hide_late_slots(monkeypatch, catalog, [stranded])
    monkeypatch.setattr(
        push_mod, "sweep_late_deltas",
        lambda *a, **k: (_ for _ in ()).throw(SimulatedCrash("post-commit")),
    )
    with pytest.raises(SimulatedCrash):
        incremental_push(
            spark, catalog, "s",
            spark.createDataFrame([(1, "eager")], "k long, v string"),
        )
    monkeypatch.setattr(push_mod, "sweep_late_deltas", real_sweep)

    assert catalog.current_version("s") == 2
    assert stranded in catalog.list_delta_dirs("s", 1), "precondition: slot stranded on v1"

    # a FRESH lazy slot lands on the current version after the crash
    # (arrival #2 — newer than the stranded slot in wall-clock order). It
    # comes from a push that was already past its own heal-at-entry when
    # the crash happened (the staging write takes minutes), so its slot
    # lands WITHOUT carrying the stranded one first — the exact
    # interleaving where index-order precedence inverted arrival order.
    monkeypatch.setattr(push_mod, "recover_stranded_deltas", lambda *a, **k: 0)
    incremental_push(
        spark, catalog, "s",
        spark.createDataFrame([(2, "fresh")], "k long, v string"), eager=False,
    )
    monkeypatch.setattr(push_mod, "recover_stranded_deltas", real_recover)

    # healing carries the stranded slot onto v2's log...
    assert recover_stranded_deltas(spark, catalog, "s") == 1
    assert catalog.list_delta_dirs("s", 1) == []
    slots = catalog.list_delta_dirs("s", 2)
    assert len(slots) == 2
    # ...BELOW the fresher arrival: seq order, not slot-index order
    seqs = [catalog.slot_seq(s) for s in slots]
    assert seqs == sorted(seqs) and seqs[0] < seqs[1], seqs
    got = {r["k"]: r["v"] for r in catalog.read_current(spark, "s").collect()}
    assert got[2] == "fresh", f"carried slot outranked a fresher arrival: {got}"
    assert got[1] == "eager"

    # and the inversion stays fixed through compaction
    from venice_spark.push import compact_store

    compact_store(spark, catalog, "s")
    got = {r["k"]: r["v"] for r in catalog.read_current(spark, "s").collect()}
    assert got[2] == "fresh" and got[1] == "eager"


@pytest.mark.slow
def test_aa_layout_check_heals_swap_crash_before_probing(spark, tmp_path):
    """ADVICE r6 (low): ActiveActiveReplay.__init__'s layout probe must
    heal a crashed swap BEFORE listing the serving dir. After a crash
    between atomic_swap_dir's two renames the dir is absent, so an
    unhealed probe sees no entries and lets a dir of the retired bucketed
    (`__kb=`) layout through, to be mis-read once a later read heals it.
    The probe must heal, then refuse with the re-seed fix."""
    from venice_spark.engine import VeniceSparkEngine
    from venice_spark.streaming.aa import ActiveActiveReplay

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("aa", key_fields=["k"], partition_count=2, active_active=True)
    eng.push(
        "aa",
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0)], "k long, name string, score double"
        ),
    )
    st = eng.store("aa")

    # a serving dir in the retired bucketed layout (partitionBy __kb),
    # stranded mid-swap: target ABSENT, old intact
    serving = str(tmp_path / "srv")
    ActiveActiveReplay(
        spark, eng.catalog, "aa", str(tmp_path / "flat"), ["name", "score"]
    ).seed(st.df().drop("partition_id"))
    spark.read.parquet(str(tmp_path / "flat")).withColumn(
        "__kb", F.lit(0)
    ).write.partitionBy("__kb").parquet(f"{serving}__aa_old")
    assert not os.path.isdir(serving)

    with pytest.raises(ValueError, match="re-seeds"):
        ActiveActiveReplay(spark, eng.catalog, "aa", serving, ["name", "score"])
    assert os.path.isdir(serving), "the probe refused without healing first"

    # the fix the message names: drop the dir, and a fresh handle re-seeds
    shutil.rmtree(serving)
    good = ActiveActiveReplay(
        spark, eng.catalog, "aa", serving, ["name", "score"], compact_every=0
    )
    good.seed(st.df().drop("partition_id"))
    out = {r["k"]: (r["name"], r["score"]) for r in good.read().collect()}
    assert out == {1: ("a", 1.0), 2: ("b", 2.0)}, out


@pytest.mark.slow
def test_reader_isolation_across_compaction_one_generation_grace(
    spark, tmp_path
):
    """VERDICT r6 #3 (reader-vs-swap isolation): a serve DataFrame whose
    plan was resolved BEFORE a compaction must still execute correctly
    after it — Venice serves the old version until the swap completes and
    retains a backup version (meta/Version.java lifecycle); on a real
    cluster this maps to Delta/Iceberg snapshot isolation (SCALE.md).
    Local contract: compaction appends the folded fileset and defers
    deleting the superseded files until the NEXT compaction, so a held
    reader stays valid for exactly one compaction cycle."""
    from venice_spark.engine import VeniceSparkEngine
    from venice_spark.producer import read_rt_log
    from venice_spark.streaming.aa import ActiveActiveReplay

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("aa", key_fields=["k"], partition_count=2, active_active=True)
    eng.push(
        "aa",
        spark.createDataFrame(
            [(i, f"n{i}", float(i)) for i in range(20)],
            "k long, name string, score double",
        ),
    )
    st = eng.store("aa")
    p = st.producer()
    fs = "k long, op string, ts long, colo int, name string, score double"
    p._buffer.append({"k": 1, "op": "PUT", "ts": 100, "colo": 0, "name": "x", "score": 9.0})
    p.flush(schema=fs)

    serving = str(tmp_path / "srv")
    rt_dir = eng.catalog.update_log_dir("aa")
    schema = read_rt_log(spark, eng.catalog, "aa").schema
    replay = ActiveActiveReplay(
        spark, eng.catalog, "aa", serving, ["name", "score"], compact_every=0
    )
    replay.seed(st.df().drop("partition_id"))
    replay.start(
        spark.readStream.schema(schema).parquet(rt_dir), str(tmp_path / "ck")
    ).awaitTermination(120)

    expected = {r["k"]: r["name"] for r in replay.read().collect()}
    assert expected[1] == "x" and len(expected) == 20

    held = replay.read()          # plan resolved now (files listed)
    replay.compact()              # generation N+1 lands; N retained
    got = {r["k"]: r["name"] for r in held.collect()}
    assert got == expected, "pre-compact reader broke across one compaction"
    # a fresh reader sees the same content through the compacted files
    assert {r["k"]: r["name"] for r in replay.read().collect()} == expected

    # grace boundary: the SECOND compaction garbage-collects generation N;
    # a reader held across TWO compactions is out of contract
    held2 = replay.read()
    replay.compact()
    replay.compact()
    with pytest.raises(Exception):
        held2.collect()
    assert {r["k"]: r["name"] for r in replay.read().collect()} == expected
