"""End-to-end store lifecycle — the reference's golden read-back test shape
(integrationTest endToEnd/TestBatch.java:149-791, TestHybrid, merging-batch-
and-rt docs): push data, then after EVERY subsequent lifecycle step read
every key back and compare against an independently-maintained expectation
dict. One store travels: full push → incremental push → lazy delta push →
RT replay (puts + deletes) → TTL repush → compaction → version retirement."""

import os

import pyspark.sql.functions as F
import pytest

from venice_spark.catalog import StoreCatalog
from venice_spark.engine import VeniceSparkEngine
from venice_spark.streaming.hybrid import HybridReplay

SCHEMA = "k long, name string, score double, _rmd_ts long"


def _read_all(engine, store):
    return {
        r["k"]: (r["name"], r["score"], r["_rmd_ts"])
        for r in engine.store(store).df().drop("partition_id").collect()
    }


@pytest.mark.slow
def test_full_lifecycle_golden_readback(spark, tmp_path):
    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("life", key_fields=["k"], partition_count=4, hybrid=True)

    # step 1: full batch push
    expect = {i: (f"n{i}", float(i), 100) for i in range(40)}
    eng.push("life", spark.createDataFrame([(k, *v) for k, v in expect.items()], SCHEMA))
    assert _read_all(eng, "life") == expect

    # step 2: eager incremental push — overrides + inserts
    delta = {5: ("n5b", 55.0, 200), 40: ("n40", 40.0, 200)}
    eng.incremental_push(
        "life", spark.createDataFrame([(k, *v) for k, v in delta.items()], SCHEMA)
    )
    expect.update(delta)
    assert _read_all(eng, "life") == expect

    # step 3: lazy delta push — read-time resolution, base untouched
    delta2 = {6: ("n6b", 66.0, 300)}
    eng.incremental_push(
        "life", spark.createDataFrame([(k, *v) for k, v in delta2.items()], SCHEMA),
        eager=False,
    )
    expect.update(delta2)
    assert _read_all(eng, "life") == expect

    # step 4: point + batch reads agree with the golden dict through the log
    st = eng.store("life")
    assert tuple(st.get(6))[1:] == expect[6]
    got = {r["k"] for r in st.batch_get([0, 6, 40, 999]).collect()}
    assert got == {0, 6, 40}  # missing key absent, not an error

    # step 5: compact the delta log — content must not change
    eng.compact("life")
    assert _read_all(eng, "life") == expect

    # step 6: RT replay on top of the current version (hybrid store):
    # fresh puts win, deletes tombstone, stale put loses
    serving = str(tmp_path / "serving")
    eng.store("life").df().drop("partition_id").withColumnRenamed(
        "_rmd_ts", "ts"
    ).write.parquet(serving)
    rt = str(tmp_path / "rt")
    os.makedirs(rt)
    spark.createDataFrame(
        [
            (1, "n1-rt", 1.5, 500, "PUT"),     # fresh put wins
            (2, None, None, 500, "DELETE"),    # delete
            (3, "n3-stale", 0.0, 50, "PUT"),   # stale: loses to ts=100
        ],
        "k long, name string, score double, ts long, op string",
    ).write.mode("append").parquet(rt)
    replay = HybridReplay(spark, eng.catalog, "life", serving, ts_col="ts")
    replay.start(
        spark.readStream.schema("k long, name string, score double, ts long, op string").parquet(rt),
        str(tmp_path / "ckpt"),
    ).awaitTermination(120)
    expect[1] = ("n1-rt", 1.5, 500)
    del expect[2]
    hybrid_state = {
        r["k"]: (r["name"], r["score"], r["ts"]) for r in replay.read().collect()
    }
    assert hybrid_state == {k: (n, s, t) for k, (n, s, t) in expect.items()}

    # step 7: TTL repush drops records older than now - ttl (W11): keep ts>=200
    eng.push(
        "life",
        replay.read().withColumnRenamed("ts", "_rmd_ts"),
        allow_duplicate_key=True,
    )
    eng.repush("life", ttl_seconds=300, now_ts=500)
    expect = {k: v for k, v in expect.items() if v[2] >= 200}
    assert _read_all(eng, "life") == expect

    # step 8: version retirement never touches the current version
    versions_before = eng.catalog.list_versions("life")
    retired = eng.catalog.retire_old_versions("life", keep=1)
    assert eng.catalog.current_version("life") not in retired
    assert _read_all(eng, "life") == expect
    assert len(eng.catalog.list_versions("life")) < len(versions_before)


def test_crashed_push_leaves_readers_on_old_version(spark, tmp_path):
    """Crash-safety of the swap protocol: a push that dies after writing its
    version dir but before the pointer flip is invisible to readers, and
    the next push proceeds normally past the orphaned version."""
    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("c", key_fields=["k"], partition_count=2)
    eng.push("c", spark.createDataFrame([(1, "a")], "k long, v string"))
    v_ok = eng.catalog.current_version("c")

    # simulate the crash: reserve a version and write data, never commit
    dead = eng.catalog.begin_version("c")
    spark.createDataFrame([(9, "never-visible")], "k long, v string").write.parquet(
        eng.catalog.version_dir("c", dead)
    )
    assert eng.catalog.current_version("c") == v_ok
    assert {r["k"] for r in eng.store("c").df().collect()} == {1}

    # a later successful push skips past the orphan and swaps normally
    res = eng.push("c", spark.createDataFrame([(2, "b")], "k long, v string"))
    assert res.version > dead
    assert eng.catalog.current_version("c") == res.version
    assert {r["k"] for r in eng.store("c").df().collect()} == {2}


def test_commit_requires_existing_version_dir(spark, tmp_path):
    catalog = StoreCatalog(str(tmp_path / "root"))
    catalog.create_store("x", key_fields=["k"])
    v = catalog.begin_version("x")
    with pytest.raises(ValueError, match="does not exist"):
        catalog.commit_version("x", v)


def test_engine_hybrid_serve_one_call(spark, tmp_path):
    """The facade hybrid loop: push → producer writes → hybrid_serve() gives
    the merged live view; a second round of writes + hybrid_serve resumes
    from the streaming checkpoint and picks up only the new log files."""
    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("h", key_fields=["k"], partition_count=2, hybrid=True)
    eng.push("h", spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    st = eng.store("h")

    p = st.producer()
    p.put(1, {"v": "a2"}, ts=100)
    p.put(3, {"v": "c"}, ts=100)
    p.delete(2, ts=100)
    p.flush(schema="k long, op string, ts long, colo int, v string")

    replay = st.hybrid_serve()
    out = {r["k"]: r["v"] for r in replay.read().collect()}
    assert out == {1: "a2", 3: "c"}

    # round 2: checkpoint resume — only the new file replays
    p.put(4, {"v": "d"}, ts=200)
    p.put(2, {"v": "b2"}, ts=200)  # fresh put resurrects past the tombstone
    p.flush(schema="k long, op string, ts long, colo int, v string")
    replay2 = st.hybrid_serve()
    out2 = {r["k"]: r["v"] for r in replay2.read().collect()}
    assert out2 == {1: "a2", 2: "b2", 3: "c", 4: "d"}
    # lag gate: serving has caught up with the log
    rt = spark.read.parquet(eng.catalog.update_log_dir("h"))
    assert replay2.ready_to_serve(rt, lag_threshold_seconds=0)


def test_hybrid_serve_reseeds_on_new_batch_version(spark, tmp_path):
    """code-review r4: a batch push AFTER the serve loop started must be
    served — the serving table re-seeds from the new version (checkpoint
    reset included) and the RT log replays on top, reference per-version
    buffer-replay semantics."""
    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("h2", key_fields=["k"], partition_count=2, hybrid=True)
    eng.push("h2", spark.createDataFrame([(1, "v1")], "k long, v string"))
    st = eng.store("h2")

    p = st.producer()
    p.put(2, {"v": "rt"}, ts=100)
    p.flush(schema="k long, op string, ts long, colo int, v string")
    out1 = {r["k"]: r["v"] for r in st.hybrid_serve().read().collect()}
    assert out1 == {1: "v1", 2: "rt"}

    # new batch version: key 1 updated, key 3 added — without the re-seed
    # the old serving table keeps serving v1 forever
    eng.push("h2", spark.createDataFrame([(1, "v2"), (3, "new")], "k long, v string"))
    out2 = {r["k"]: r["v"] for r in st.hybrid_serve().read().collect()}
    assert out2 == {1: "v2", 2: "rt", 3: "new"}  # RT replayed onto the new base


def test_hybrid_serve_merges_heterogeneous_flush_schemas(spark, tmp_path):
    """code-review r4: a delete-only flush writes no value columns; the
    stream schema must merge ALL flush footers or PUT values from other
    flushes silently replay as nulls."""
    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("h3", key_fields=["k"], partition_count=2, hybrid=True)
    eng.push("h3", spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    st = eng.store("h3")

    p = st.producer()
    p.delete(2, ts=100)
    p.flush()  # delete-only: columns (k, op, ts, colo) — no v
    p.put(3, {"v": "c"}, ts=200)
    p.flush()  # put flush: carries v
    out = {r["k"]: r["v"] for r in st.hybrid_serve().read().collect()}
    assert out == {1: "a", 3: "c"}  # v survives; 2 deleted


def test_hybrid_serve_rewind_is_seconds_against_ms_timestamps(spark, tmp_path):
    """code-review r4: the producer stamps epoch MILLISECONDS; store
    rewind_seconds is seconds — the engine path must scale by 1000 (a raw
    subtraction rewound 1/1000th of the window)."""
    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store(
        "h4", key_fields=["k"], partition_count=2, hybrid=True, rewind_seconds=600
    )
    eng.push("h4", spark.createDataFrame([(1, "a")], "k long, v string"))
    st = eng.store("h4")

    now_ms = 1_000_000_000_000
    p = st.producer()
    # 300s old: inside the 600s rewind; 900s old: outside it
    p.put(2, {"v": "inside"}, ts=now_ms - 300_000)
    p.put(3, {"v": "outside"}, ts=now_ms - 900_000)
    p.flush(schema="k long, op string, ts long, colo int, v string")
    out = {
        r["k"]: r["v"]
        for r in st.hybrid_serve(now_ts=now_ms).read().collect()
    }
    assert out == {1: "a", 2: "inside"}  # 3 rewound away; with raw units
    # both rows would have survived (cutoff would be now - 600 ms)


def test_hybrid_serve_marker_survives_swaps_rewind_safe(spark, tmp_path):
    """ADVICE r4 (high): the _seeded_version marker lives inside the serving
    dir, and every rewrite-mode micro-batch swap replaces that dir. If the
    swap drops the marker, the NEXT hybrid_serve call mistakes the table
    for stale, wipes serving + checkpoint, and re-replays the RT log — with
    rewind_seconds set, already-merged ops older than the window are
    silently LOST. The marker must survive the swap."""
    import os

    from venice_spark.streaming.hybrid import seeded_version

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store(
        "h5", key_fields=["k"], partition_count=2, hybrid=True, rewind_seconds=600
    )
    eng.push("h5", spark.createDataFrame([(1, "a")], "k long, v string"))
    st = eng.store("h5")
    now_ms = 1_000_000_000_000

    # round 1: an op 100s old — inside the 600s rewind window, merges fine
    p = st.producer()
    p.put(2, {"v": "old-op"}, ts=now_ms - 100_000)
    p.flush(schema="k long, op string, ts long, colo int, v string")
    out1 = {r["k"]: r["v"] for r in st.hybrid_serve(now_ts=now_ms).read().collect()}
    assert out1 == {1: "a", 2: "old-op"}

    # marker must still be present after the micro-batch swap
    serving = os.path.join(eng.catalog.store_dir("h5"), "serving")
    assert seeded_version(serving) == eng.catalog.current_version("h5")

    # round 2: 1000s later the old op is OUTSIDE the rewind window. No new
    # version landed, so serving must NOT reset — the merged op survives.
    later_ms = now_ms + 1_000_000
    p.put(3, {"v": "new-op"}, ts=later_ms)
    p.flush(schema="k long, op string, ts long, colo int, v string")
    out2 = {
        r["k"]: r["v"] for r in st.hybrid_serve(now_ts=later_ms).read().collect()
    }
    assert out2 == {1: "a", 2: "old-op", 3: "new-op"}


def test_aa_serve_marker_survives_swaps(spark, tmp_path):
    """AA twin of the marker-survival test: the seed marker must survive
    the trigger's append and compact()'s fold so the next aa_serve
    resumes from the checkpoint instead of wiping state."""
    import os

    from venice_spark.streaming.hybrid import seeded_version

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("h7", key_fields=["k"], partition_count=2, hybrid=True)
    eng.push("h7", spark.createDataFrame([(1, "a")], "k long, v string"))
    st7 = eng.store("h7")
    p7 = st7.producer()
    p7.put(2, {"v": "b"}, ts=100)
    p7.flush(schema="k long, op string, ts long, colo int, v string")
    serving7 = os.path.join(eng.catalog.store_dir("h7"), "aa_serving")
    replay = st7.aa_serve(value_cols=["v"])
    assert seeded_version(serving7) == eng.catalog.current_version("h7")
    replay.compact()
    assert seeded_version(serving7) == eng.catalog.current_version("h7")


def test_producer_flush_with_all_null_field(spark, tmp_path):
    """code-review r4: a field that is None in every buffered op has no
    inferable type; flush must fall back to an explicit schema instead of
    failing and leaving the buffer stuck."""
    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("p1", key_fields=["k"], partition_count=2, hybrid=True)
    st = eng.store("p1")
    p = st.producer()
    p.put(1, {"name": None, "score": 1.5}, ts=10)
    p.put(2, {"name": None, "score": 2.5}, ts=10)
    rt_dir = p.flush()
    df = spark.read.option("mergeSchema", "true").parquet(rt_dir)
    rows = {r["k"]: (r["name"], r["score"]) for r in df.collect()}
    assert rows == {"1": (None, 1.5), "2": (None, 2.5)} or rows == {
        1: (None, 1.5), 2: (None, 2.5)
    }
