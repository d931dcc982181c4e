"""Push-pipeline features: incremental push (W9), TTL repush (W11), storage
quota (I7), materialized views (W15), record transformer (W14)."""

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st_

from _crash_schedule import hide_late_slots
from venice_spark.engine import VeniceSparkEngine
from venice_spark.push import MaterializedViewDef, QuotaExceededError, RecordTransformer


@pytest.fixture()
def engine(spark, tmp_root):
    eng = VeniceSparkEngine(spark, tmp_root)
    eng.create_store("s", key_fields=["key"], partition_count=2)
    base = spark.createDataFrame(
        [("a", 1.0, 10), ("b", 2.0, 10), ("c", 3.0, 10)], "key string, val double, _rmd_ts long"
    )
    eng.push("s", base)
    return eng


def test_incremental_push_overrides_and_inserts(engine, spark):
    delta = spark.createDataFrame(
        [("b", 99.0, 20), ("d", 4.0, 20)], "key string, val double, _rmd_ts long"
    )
    res = engine.incremental_push("s", delta)
    out = {r["key"]: r["val"] for r in engine.store("s").df().collect()}
    assert out == {"a": 1.0, "b": 99.0, "c": 3.0, "d": 4.0}
    # no version swap: still the same current version
    assert engine.catalog.current_version("s") == res.version


def test_ttl_repush_drops_old_records(engine):
    # ttl=5s at now=20: rows with _rmd_ts < 15 dropped
    res = engine.repush("s", ttl_seconds=5, now_ts=20)
    assert engine.store("s").df().count() == 0 or res.rows == 0


def test_ttl_repush_keeps_fresh(engine, spark):
    delta = spark.createDataFrame([("z", 9.0, 100)], "key string, val double, _rmd_ts long")
    engine.incremental_push("s", delta)
    engine.repush("s", ttl_seconds=95, now_ts=105)  # cutoff=10: keeps ts>=10
    assert engine.store("s").df().count() == 4


def test_storage_quota(engine, spark):
    big = spark.createDataFrame(
        [(f"k{i}", "x" * 1000, 0) for i in range(1000)], "key string, val string, _rmd_ts long"
    )
    with pytest.raises(QuotaExceededError):
        engine.push("s", big, storage_quota_bytes=10_000, allow_duplicate_key=True)
    # generous quota passes
    engine.push("s", big, storage_quota_bytes=10**9, allow_duplicate_key=True)


def test_materialized_view_cowritten(engine, spark):
    view = MaterializedViewDef("by_val", partition_count=1, key_fields=["key"], projection=["val"])
    df = spark.createDataFrame([("a", 1.0, 5, "extra")], "key string, val double, _rmd_ts long, other string")
    res = engine.push("s", df, views=[view], allow_duplicate_key=True)
    vdir = view.view_dir(engine.catalog, "s", res.version)
    vdf = spark.read.parquet(vdir)
    assert set(vdf.columns) == {"key", "val", "partition_id"}
    assert vdf.count() == 1


def test_record_transformer_dataframe(engine, spark):
    class Doubler(RecordTransformer):
        def transform(self, df):
            return df.withColumn("val", F.col("val") * 2).filter(F.col("key") != "drop")

    df = spark.createDataFrame(
        [("a", 1.0, 0), ("drop", 9.0, 0)], "key string, val double, _rmd_ts long"
    )
    engine.push("s", df, record_transformer=Doubler(), allow_duplicate_key=True)
    out = {r["key"]: r["val"] for r in engine.store("s").df().collect()}
    assert out == {"a": 2.0}


def test_record_transformer_pandas_batches(engine, spark):
    class Upper(RecordTransformer):
        output_schema = "key string, val double"

        def transform_record_batches(self, batches):
            for pdf in batches:
                pdf = pdf[["key", "val"]].copy()
                pdf["key"] = pdf["key"].str.upper()
                yield pdf

    df = spark.createDataFrame([("a", 1.0, 0)], "key string, val double, _rmd_ts long")
    engine.push("s", df, record_transformer=Upper(), allow_duplicate_key=True)
    assert [r["key"] for r in engine.store("s").df().collect()] == ["A"]


def test_incremental_push_nulls_as_deletes(engine, spark):
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], "k long, name string, v double"
    )
    engine.create_store("etl", key_fields=["k"])
    engine.push("etl", base)
    delta = spark.createDataFrame(
        [(2, None, None), (3, "c2", 30.0), (4, "d", 4.0)], "k long, name string, v double"
    )
    engine.incremental_push("etl", delta, nulls_as_deletes=True)
    out = {r["k"]: r["name"] for r in engine.store("etl").df().collect()}
    # key 2 tombstoned by all-null delta row; 3 updated; 4 inserted
    assert out == {1: "a", 3: "c2", 4: "d"}


def test_lazy_incremental_push_delta_log(engine, spark):
    """eager=False: the delta lands in the version's delta log (LSM shape —
    delta-sized write, base untouched); reads resolve latest-delta-wins;
    compaction folds the log into a new version."""
    v0 = engine.catalog.current_version("s")
    delta = spark.createDataFrame(
        [("b", 99.0, 20), ("d", 4.0, 20)], "key string, val double, _rmd_ts long"
    )
    engine.incremental_push("s", delta, eager=False)
    assert engine.catalog.current_version("s") == v0  # base untouched
    assert len(engine.catalog.list_delta_dirs("s", v0)) == 1
    out = {r["key"]: r["val"] for r in engine.store("s").df().collect()}
    assert out == {"a": 1.0, "b": 99.0, "c": 3.0, "d": 4.0}

    # a second delta overrides the first for overlapping keys
    delta2 = spark.createDataFrame([("b", 100.0, 30)], "key string, val double, _rmd_ts long")
    engine.incremental_push("s", delta2, eager=False)
    st = engine.store("s")
    assert st.get("b")["val"] == 100.0  # point get resolves through the log
    got = {r["key"]: r["val"] for r in st.batch_get(["b", "d"]).collect()}
    assert got == {"b": 100.0, "d": 4.0}

    # compaction: content identical, delta log folded away, pointer flipped
    res = engine.compact("s")
    assert engine.catalog.current_version("s") == res.version > v0
    assert engine.catalog.list_delta_dirs("s", res.version) == []
    out2 = {r["key"]: r["val"] for r in engine.store("s").df().collect()}
    assert out2 == {"a": 1.0, "b": 100.0, "c": 3.0, "d": 4.0}


def test_lazy_incremental_push_tombstones(engine, spark):
    """A nulls-as-deletes tombstone in a later delta hides a put in an
    earlier one, and survives compaction as an absent key."""
    d1 = spark.createDataFrame([("x", 8.0, 20)], "key string, val double, _rmd_ts long")
    engine.incremental_push("s", d1, eager=False)
    d2 = spark.createDataFrame([("x", None, None), ("a", None, None)],
                               "key string, val double, _rmd_ts long")
    engine.incremental_push("s", d2, eager=False, nulls_as_deletes=True)
    keys = {r["key"] for r in engine.store("s").df().collect()}
    assert keys == {"b", "c"}  # 'x' put hidden by tombstone, 'a' deleted
    engine.compact("s")
    assert {r["key"] for r in engine.store("s").df().collect()} == {"b", "c"}


def test_lazy_push_auto_compacts_at_threshold(spark, tmp_root):
    eng = VeniceSparkEngine(spark, tmp_root)
    eng.create_store("t", key_fields=["key"], partition_count=2, delta_compact_threshold=2)
    eng.push("t", spark.createDataFrame([("a", 1.0)], "key string, val double"))
    v0 = eng.catalog.current_version("t")
    eng.incremental_push("t", spark.createDataFrame([("b", 2.0)], "key string, val double"), eager=False)
    assert eng.catalog.current_version("t") == v0
    # second lazy push hits the threshold -> auto-compaction flips the version
    eng.incremental_push("t", spark.createDataFrame([("c", 3.0)], "key string, val double"), eager=False)
    v1 = eng.catalog.current_version("t")
    assert v1 > v0
    assert eng.catalog.list_delta_dirs("t", v1) == []
    out = {r["key"]: r["val"] for r in eng.store("t").df().collect()}
    assert out == {"a": 1.0, "b": 2.0, "c": 3.0}


def test_large_value_round_trip(spark, tmp_root):
    """§1.4 chunking semantic: values of arbitrary size round-trip losslessly.

    The reference splits >1MB values into chunks + ChunkedValueManifest
    (VeniceWriter.java:1980 putLargeValue, reassembly ChunkAssembler.java:1,
    docs/contributing/architecture/write-path.md:47-63); parquet has no cell
    limit so the machinery is a non-goal — but the SEMANTIC (multi-MB values
    survive push -> get byte-identical) must hold and is pinned here with
    values well past the 1MB chunking threshold."""
    import hashlib

    def blob(seed: str, mb: int) -> bytes:
        # deterministic pseudo-random bytes, incompressible enough to be real
        out = bytearray()
        h = seed.encode()
        while len(out) < mb * 1024 * 1024:
            h = hashlib.sha256(h).digest()
            out += h * 4096
        return bytes(out[: mb * 1024 * 1024])

    values = {"k1": blob("one", 2), "k2": blob("two", 4), "k3": b"small"}
    eng = VeniceSparkEngine(spark, tmp_root)
    eng.create_store("big", key_fields=["key"], partition_count=2)
    df = spark.createDataFrame(
        [(k, v) for k, v in values.items()], "key string, payload binary"
    )
    eng.push("big", df)

    st = eng.store("big")
    for k, v in values.items():
        row = st.get(k)
        assert row is not None and bytes(row["payload"]) == v, f"{k} corrupted"
    got = {r["key"]: bytes(r["payload"]) for r in st.batch_get(list(values)).collect()}
    assert got == values
    # large values also survive an incremental-push merge + repush rewrite
    delta = spark.createDataFrame([("k1", blob("one-v2", 3))], "key string, payload binary")
    eng.incremental_push("big", delta)
    eng.repush("big")
    assert bytes(st.get("k1")["payload"]) == blob("one-v2", 3)
    assert bytes(st.get("k2")["payload"]) == values["k2"]


def test_partial_key_lookup_prefix_validation(spark, sf_dir):
    import pytest as _pytest
    from venice_spark.compute import ComputeRequestBuilder

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    b = ComputeRequestBuilder(li, ["l_orderkey", "l_linenumber"])
    b.project("l_quantity")
    out = b.partial_key_lookup(l_orderkey=100)
    rows = out.collect()
    assert rows and all(True for _ in rows)
    # full key works too
    b2 = ComputeRequestBuilder(li, ["l_orderkey", "l_linenumber"])
    b2.project("l_quantity")
    assert b2.partial_key_lookup(l_orderkey=100, l_linenumber=1).count() <= len(rows)
    # non-leading field -> error (reference: prefix must cover leading fields)
    b3 = ComputeRequestBuilder(li, ["l_orderkey", "l_linenumber"])
    with _pytest.raises(ValueError, match="leading prefix"):
        b3.partial_key_lookup(l_linenumber=1)


@pytest.mark.slow
@pytest.mark.parametrize("seed", [3, 11])
def test_lazy_and_eager_push_sequences_equivalent(spark, tmp_path, seed):
    """Semantic pin for the LSM path: any sequence of keyed deltas (upserts +
    null-tombstones) applied as lazy delta-log pushes — read mid-log, and
    read after compaction — must equal the same sequence applied as eager
    compacting pushes. The materialization strategy must never change
    observable content."""
    import random

    rng = random.Random(seed)
    seq = []
    for _ in range(4):  # 4 deltas of 6 ops over 8 keys, one op per key
        ops = []
        for k in rng.sample(range(8), 6):
            if rng.random() < 0.25:
                ops.append((k, None, None))  # tombstone
            else:
                ops.append((k, f"n{rng.randrange(100)}", float(rng.randrange(100))))
        seq.append(ops)

    def run(mode):
        eng = VeniceSparkEngine(spark, str(tmp_path / f"root_{mode}_{seed}"))
        eng.create_store("s", key_fields=["k"], partition_count=4)
        eng.push("s", spark.createDataFrame([(99, "base", 0.0)], "k long, name string, v double"))
        for ops in seq:
            delta = spark.createDataFrame(ops, "k long, name string, v double")
            eng.incremental_push(
                "s", delta, eager=(mode == "eager"), nulls_as_deletes=True
            )
        state = {r["k"]: (r["name"], r["v"]) for r in eng.store("s").df().collect()}
        if mode == "lazy":
            eng.compact("s")
            compacted = {r["k"]: (r["name"], r["v"]) for r in eng.store("s").df().collect()}
            assert compacted == state, "compaction changed content"
        return state

    assert run("eager") == run("lazy")


def test_concurrent_lazy_incremental_pushes_get_distinct_slots(engine, spark):
    """Two lazy incremental pushes racing must each land in their own delta
    slot (stage-then-rename under the store lock) and the resolved view
    must contain both deltas' rows."""
    import concurrent.futures

    d1 = spark.createDataFrame([("a", 100.0, 20)], "key string, val double, _rmd_ts long")
    d2 = spark.createDataFrame([("b", 200.0, 20)], "key string, val double, _rmd_ts long")

    with concurrent.futures.ThreadPoolExecutor(max_workers=2) as ex:
        futs = [
            ex.submit(engine.incremental_push, "s", d, eager=False) for d in (d1, d2)
        ]
        results = [f.result() for f in futs]

    slots = sorted(r.path.rsplit("/", 1)[-1] for r in results)
    assert slots == ["d1", "d2"], slots

    resolved = {
        r["key"]: r["val"] for r in engine.catalog.read_current(spark, "s").collect()
    }
    assert resolved == {"a": 100.0, "b": 200.0, "c": 3.0}


def test_bloom_filter_store_config_writes_parquet_blooms(spark, tmp_path):
    """bloom_filter=True store config writes parquet bloom filters on key
    columns (the RocksDB point-get bloom parity). This container's pyarrow
    does not expose bloom offsets in the footer API, so verify by the bytes
    the bloom bitsets add: identical data pushed with and without the
    config must differ in on-disk size by the bloom payload."""
    import glob
    import os

    from venice_spark import VeniceSparkEngine

    eng = VeniceSparkEngine(spark, str(tmp_path))
    rows = spark.createDataFrame([(i, f"v{i}") for i in range(5000)], ["k", "val"])
    eng.create_store("plain", key_fields=["k"], partition_count=2)
    eng.create_store("bloomy", key_fields=["k"], partition_count=2, bloom_filter=True)
    eng.push("plain", rows)
    eng.push("bloomy", rows)

    def total_bytes(store, version=1):
        path = eng.catalog.version_dir(store, version)
        return sum(
            os.path.getsize(f) for f in glob.glob(f"{path}/partition_id=*/*.parquet")
        )

    plain, bloomy = total_bytes("plain"), total_bytes("bloomy")
    # parquet bloom bitsets default to 1MB NDV sizing per rowgroup column;
    # anything clearly beyond footer jitter proves the option reached the
    # writer (observed delta ~2x for this data)
    assert bloomy > plain + 10_000, (plain, bloomy)
    # and the bloomed store still serves correctly
    assert eng.store("bloomy").get(7)["val"] == "v7"

    # a compaction writes the store's blooms too
    for store in ("plain", "bloomy"):
        eng.incremental_push(
            store, spark.createDataFrame([(7, "w7")], ["k", "val"]), eager=False
        )
        eng.compact(store)
    plain, bloomy = total_bytes("plain", 2), total_bytes("bloomy", 2)
    assert bloomy > plain + 10_000, (plain, bloomy)
    assert eng.store("bloomy").get(7)["val"] == "w7"


def test_repush_applies_updated_partition_count(spark, tmp_path):
    """update_store(partition_count=N) takes effect on the NEXT push/repush;
    the old version keeps its layout (manifest records it)."""
    import glob

    from venice_spark import VeniceSparkEngine

    eng = VeniceSparkEngine(spark, str(tmp_path))
    eng.create_store("r", key_fields=["k"], partition_count=2)
    eng.push("r", spark.createDataFrame([(i, i * 1.0) for i in range(100)], ["k", "v"]))
    assert eng.catalog.version_manifest("r", 1)["partition_count"] == 2
    assert len(glob.glob(f"{eng.catalog.version_dir('r', 1)}/partition_id=*")) == 2

    eng.catalog.update_store("r", partition_count=8)
    eng.repush("r")
    assert eng.catalog.current_version("r") == 2
    assert eng.catalog.version_manifest("r", 2)["partition_count"] == 8
    assert len(glob.glob(f"{eng.catalog.version_dir('r', 2)}/partition_id=*")) == 8
    # reads route with the new layout
    assert eng.store("r").get(42)["v"] == 42.0


def test_view_df_and_get_by_secondary_index(spark, tmp_path):
    """Materialized views are readable through the engine (W15 consumer
    side): view_df returns the re-keyed projection, get_by serves
    secondary-index equality lookups against it."""
    import pytest as _pt

    from venice_spark import VeniceSparkEngine
    from venice_spark.push import MaterializedViewDef

    eng = VeniceSparkEngine(spark, str(tmp_path))
    eng.create_store("m", key_fields=["id"], partition_count=4)
    rows = spark.createDataFrame(
        [(i, f"user{i}", i % 7) for i in range(200)], ["id", "name", "team"]
    )
    view = MaterializedViewDef(
        name="by_team", partition_count=2, key_fields=["team"], projection=["name"]
    )
    eng.push("m", rows, views=[view])

    st = eng.store("m")
    vdf = st.view_df("by_team")
    # views carry their own partition_id (their re-keyed routing column)
    # AND the store key (view records stay addressable by original key —
    # what incremental maintenance and delta-aware reads key on)
    assert set(vdf.columns) == {"team", "name", "partition_id", "id"}
    assert vdf.count() == 200

    got = st.get_by("by_team", team=3)
    names = {r["name"] for r in got.collect()}
    assert names == {f"user{i}" for i in range(200) if i % 7 == 3}

    with _pt.raises(ValueError, match="no materialized view"):
        st.view_df("nope")

    # a new push rewrites the view alongside the version; reads follow
    eng.push("m", rows.filter("id < 50"), views=[view])
    assert st.view_df("by_team").count() == 50


def test_defer_swap_push_then_activate(spark, tmp_path):
    """defer_swap lands the new version fully (data + manifest) without
    flipping the serving pointer (DEFER_VERSION_SWAP parity); set_version
    activates it later, and rollback still works after activation."""
    from venice_spark import VeniceSparkEngine

    eng = VeniceSparkEngine(spark, str(tmp_path))
    eng.create_store("d", key_fields=["k"], partition_count=2)
    eng.push("d", spark.createDataFrame([(1, "old")], ["k", "v"]))
    res = eng.push(
        "d", spark.createDataFrame([(1, "new")], ["k", "v"]), defer_swap=True
    )
    # still serving v1; v2 exists on disk with its manifest
    assert eng.catalog.current_version("d") == 1
    assert eng.store("d").get(1)["v"] == "old"
    assert res.version == 2
    assert eng.catalog.version_manifest("d", 2)["rows"] == 1

    eng.set_version("d", 2)
    assert eng.store("d").get(1)["v"] == "new"
    eng.rollback("d")
    assert eng.store("d").get(1)["v"] == "old"


def test_ttl_repush_start_timestamp_flavor(engine, spark):
    """repush.ttl.start.timestamp parity: records written BEFORE the given
    timestamp expire; mutually exclusive with ttl_seconds."""
    delta = spark.createDataFrame(
        [("z", 9.0, 100)], "key string, val double, _rmd_ts long"
    )
    engine.incremental_push("s", delta)
    engine.repush("s", ttl_start_timestamp=50)  # base rows (ts=10) expire
    out = {r["key"] for r in engine.store("s").df().collect()}
    assert out == {"z"}
    with pytest.raises(ValueError, match="not both"):
        engine.repush("s", ttl_seconds=5, now_ts=20, ttl_start_timestamp=50)


def test_empty_push_lands_zero_row_version(engine):
    """Empty-push TTL pattern: a new zero-row version with the same schema
    swaps in atomically; the previous version stays retained for rollback."""
    v_before = engine.catalog.current_version("s")
    res = engine.empty_push("s")
    assert res.rows == 0
    assert engine.catalog.current_version("s") == res.version > v_before
    df = engine.store("s").df()
    assert df.count() == 0
    assert {"key", "val", "_rmd_ts"} <= set(df.columns)
    # schema intact: a follow-up get misses cleanly rather than erroring
    assert engine.store("s").get("a") is None
    # rollback restores the data (compliance escape hatch)
    engine.rollback("s")
    assert engine.store("s").df().count() == 3


def test_lazy_delta_survives_concurrent_compaction(engine, spark):
    """Review regression: a lazy delta staged against version V must land on
    whatever version is CURRENT when it claims its slot (a compact/eager
    push in between must not strand it on the retired version), and
    compact_store sweeps any not-yet-resolved delta slots onto the new
    version instead of dropping them."""
    import os

    from venice_spark.push import compact_store

    # delta 1 lands lazily on v1
    d1 = spark.createDataFrame([("x", 50.0, 30)], "key string, val double, _rmd_ts long")
    engine.incremental_push("s", d1, eager=False)
    v_before = engine.catalog.current_version("s")
    # compaction folds it and commits v2
    compact_store(spark, engine.catalog, "s")
    v_after = engine.catalog.current_version("s")
    assert v_after > v_before
    # a second lazy delta written AFTER the compaction: must target v_after
    d2 = spark.createDataFrame([("y", 60.0, 40)], "key string, val double, _rmd_ts long")
    engine.incremental_push("s", d2, eager=False)
    assert engine.catalog.list_delta_dirs("s", v_after), "delta landed on retired version"
    # the retired version keeps the deltas it already resolved (rollback to
    # it must still see them) — exactly one, never the new one
    assert len(engine.catalog.list_delta_dirs("s", v_before)) == 1
    out = {r["key"]: r["val"] for r in engine.store("s").df().collect()}
    assert out["x"] == 50.0 and out["y"] == 60.0
    # compact again: d2 folds into the new base and the new version starts
    # with an empty delta log
    compact_store(spark, engine.catalog, "s")
    v3 = engine.catalog.current_version("s")
    assert not engine.catalog.list_delta_dirs("s", v3)
    out = {r["key"]: r["val"] for r in engine.store("s").df().collect()}
    assert out["x"] == 50.0 and out["y"] == 60.0
    # one more lazy-push + compact cycle end-to-end
    d3 = spark.createDataFrame([("z", 70.0, 50)], "key string, val double, _rmd_ts long")
    engine.incremental_push("s", d3, eager=False)
    compact_store(spark, engine.catalog, "s")
    v4 = engine.catalog.current_version("s")
    out = {r["key"]: r["val"] for r in engine.store("s").df().collect()}
    assert out == {"a": 1.0, "b": 2.0, "c": 3.0, "x": 50.0, "y": 60.0, "z": 70.0}


def test_compact_restamps_late_delta_after_layout_change(engine, spark, monkeypatch):
    """ADVICE r3: a late delta carried across a compaction must be restamped
    when update_store changed the partition modulus between the old and new
    versions — a bare rename keeps the old partition_id, and the resolve
    view's (partition_id, key) grouping then serves BOTH the stale base row
    and the delta row for any key whose routing differs between moduli."""
    from venice_spark.push import compact_store

    cat = engine.catalog
    delta = spark.createDataFrame(
        [("a", 9.0, 99), ("b", 8.0, 99), ("c", 7.0, 99)],
        "key string, val double, _rmd_ts long",
    )
    engine.incremental_push("s", delta, eager=False)
    old_v = cat.current_version("s")
    cat.update_store("s", partition_count=5)  # layout change before compaction

    # Simulate the race: the delta lands between compaction's resolve
    # snapshot and its sweep. Hide the slot from the first lookup (the
    # snapshot the fold reads) so the sweep sees it as late.
    real = cat.list_delta_dirs
    hidden = {"left": 1}
    def fake(store, version):
        out = real(store, version)
        if version == old_v and hidden["left"] > 0:
            hidden["left"] -= 1
            return []
        return out
    monkeypatch.setattr(cat, "list_delta_dirs", fake)
    compact_store(spark, cat, "s")
    monkeypatch.setattr(cat, "list_delta_dirs", real)

    new_v = cat.current_version("s")
    carried = cat.list_delta_dirs("s", new_v)
    assert len(carried) == 1, "late delta was dropped by the sweep"
    # carried slot must be stamped with the NEW modulus
    pids = {
        r["partition_id"] for r in spark.read.parquet(carried[0]).select("partition_id").collect()
    }
    assert pids <= set(range(5))
    from venice_spark.partitioner import partition_id_py

    for r in spark.read.parquet(carried[0]).collect():
        assert r["partition_id"] == partition_id_py([r["key"]], 5)
    # and the resolve view serves exactly one (updated) row per key
    rows = engine.store("s").df().collect()
    out = {r["key"]: r["val"] for r in rows}
    assert len(rows) == 3 and out == {"a": 9.0, "b": 8.0, "c": 7.0}


def test_quota_persist_released_on_duplicate_key_abort(engine, spark):
    """Review regression: a push aborted by DuplicateKeyError must not leave
    the quota-persisted input pinned in the session cache."""
    import pytest as _pt

    from venice_spark.push import DuplicateKeyError

    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.cachedData().size()
    bad = spark.createDataFrame(
        [("k1", 1.0, 1), ("k1", 2.0, 1)], "key string, val double, _rmd_ts long"
    )
    with _pt.raises(DuplicateKeyError):
        engine.push("s", bad, storage_quota_bytes=10**9)
    assert cm.cachedData().size() == before


def test_reads_route_with_served_layout_after_partition_count_change(engine, spark):
    """update_store(partition_count=...) applies from the NEXT push; reads
    against the still-serving version must route with the layout it was
    written with (the manifest), or every get silently misses."""
    engine.catalog.update_store("s", partition_count=7)
    st = engine.store("s")
    assert st.get("a") is not None and st.get("a")["val"] == 1.0
    got = {r["key"] for r in st.batch_get(["a", "b", "c"]).collect()}
    assert got == {"a", "b", "c"}
    # a lazy delta against the old-layout base must stamp with the OLD
    # modulus so the resolve view groups base+delta rows of one key
    delta = spark.createDataFrame([("a", 9.0, 99)], "key string, val double, _rmd_ts long")
    engine.incremental_push("s", delta, eager=False)
    out = {r["key"]: r["val"] for r in st.df().collect()}
    assert out == {"a": 9.0, "b": 2.0, "c": 3.0}  # no duplicate 'a' rows
    # the next full push adopts the new layout and reads follow it
    engine.push("s", spark.createDataFrame(
        [("z", 1.0, 1)], "key string, val double, _rmd_ts long"))
    assert engine.store("s").get("z")["val"] == 1.0


def test_retire_removes_view_dirs(spark, tmp_root):
    """Retiring a version must also remove its sibling __view_* dirs."""
    import os

    from venice_spark.engine import VeniceSparkEngine
    from venice_spark.push import MaterializedViewDef

    eng = VeniceSparkEngine(spark, tmp_root)
    eng.create_store("v", key_fields=["k"], partition_count=2)
    view = MaterializedViewDef(name="byv", partition_count=2, key_fields=["x"])
    df = spark.createDataFrame([(1, 10.0)], "k long, x double")
    eng.push("v", df, views=[view])
    eng.push("v", df, views=[view])
    eng.push("v", df, views=[view])
    eng.catalog.retire_old_versions("v", keep=1)
    sdir = eng.catalog.store_dir("v")
    leftovers = [d for d in os.listdir(sdir) if "__view_" in d]
    # only the kept (current) version's view remains
    assert len(leftovers) == 1, leftovers


# -------------------------------------------- r4 review regressions (push/catalog)


def test_partitioner_flip_never_splits_keys(engine, spark):
    """code-review r4: changing md5_parity via update_store must not mix
    partitioner hashes — deltas stamp with the BASE version's manifest
    partitioner and reads route with the served manifest, so gets hit and
    the resolve view never serves duplicate rows."""
    engine.catalog.update_store("s", md5_parity=True)  # applies NEXT push
    st = engine.store("s")
    # served version was written with xxhash64: reads must still route
    assert st.get("a")["val"] == 1.0
    # a lazy delta against the xxhash64 base must stamp xxhash64 too
    delta = spark.createDataFrame([("a", 7.0, 99)], "key string, val double, _rmd_ts long")
    engine.incremental_push("s", delta, eager=False)
    rows = st.df().collect()
    out = {r["key"]: r["val"] for r in rows}
    assert len(rows) == 3 and out["a"] == 7.0  # no duplicate 'a'
    # next full push adopts md5 and reads follow the new manifest
    engine.push("s", spark.createDataFrame(
        [("z", 1.0, 1)], "key string, val double, _rmd_ts long"))
    assert engine.store("s").get("z")["val"] == 1.0


def test_eager_push_carries_concurrent_lazy_delta(engine, spark, monkeypatch):
    """code-review r4: a lazy delta landing between an eager push's fold
    snapshot and its commit must be swept onto the new version, not
    silently dropped with the retired one."""
    cat = engine.catalog
    lazy = spark.createDataFrame([("late", 5.0, 50)], "key string, val double, _rmd_ts long")
    late = engine.incremental_push("s", lazy, eager=False).path

    # the slot "lands" after the eager fold's snapshot; the sweep sees it
    hide_late_slots(monkeypatch, cat, [late])
    eager = spark.createDataFrame([("b", 99.0, 60)], "key string, val double, _rmd_ts long")
    engine.incremental_push("s", eager)

    new_v = cat.current_version("s")
    assert cat.list_delta_dirs("s", new_v), "concurrent lazy delta dropped"
    out = {r["key"]: r["val"] for r in engine.store("s").df().collect()}
    assert out["late"] == 5.0 and out["b"] == 99.0


def _commit_after(cat, monkeypatch, state, winner):
    """A commit_version stand-in: before the first commit it sees, the real
    committer `winner()` runs to completion and commits a newer version."""
    real_commit = cat.commit_version

    def racing_commit(store, version, manifest=None, make_current=True):
        if state.get("winner") is None:
            monkeypatch.setattr(cat, "commit_version", real_commit)
            state["winner"] = winner().version
        return real_commit(store, version, manifest=manifest, make_current=make_current)

    monkeypatch.setattr(cat, "commit_version", racing_commit)


def test_sweep_targets_actual_current_version_after_lost_race(engine, spark, monkeypatch):
    """ADVICE r4 (medium): when a concurrent push commits a NEWER version
    first, the loser's commit early-returns — but its late-delta sweep must
    then target the winning (current) version, not the loser's never-served
    one, or those upserts are stranded forever."""
    cat = engine.catalog
    schema = "key string, val double, _rmd_ts long"
    lazy = spark.createDataFrame([("late", 5.0, 50)], schema)
    late = engine.incremental_push("s", lazy, eager=False).path
    # the lazy slot lands after the eager push's fold snapshot (so its
    # sweep sees it as late) and before the winner's
    hide_late_slots(monkeypatch, cat, [late])
    state = {}
    _commit_after(cat, monkeypatch, state, lambda: engine.incremental_push(
        "s", spark.createDataFrame([("winner", 7.0, 70)], schema)
    ))

    eager = spark.createDataFrame([("b", 99.0, 60)], schema)
    res = engine.incremental_push("s", eager)  # loses the commit race
    monkeypatch.undo()

    cur = cat.current_version("s")
    assert res.superseded_by == state["winner"] == cur
    # the late delta must be on the CURRENT version's log, not the loser's
    assert cat.list_delta_dirs("s", res.version) == []
    assert cat.list_delta_dirs("s", cur), "late delta stranded off-current"
    out = {r["key"]: r["val"] for r in engine.store("s").df().collect()}
    assert out["late"] == 5.0 and out["winner"] == 7.0
    # ADVICE r5: the losing push's OWN upserts serve too — its staged slot
    # is appended to the winner's log, not left in the orphan version
    assert out["b"] == 99.0, "loser's upserts stranded in the orphan version"


@pytest.mark.parametrize("winner", ["compaction", "eager_push"])
def test_eager_push_losing_to_a_fold_serves_its_upserts_and_tombstones(
    engine, spark, monkeypatch, winner
):
    """An eager push whose fold loses the commit race to a compaction or
    another eager push appends its staged slot to the winner's log:
    upserts and nulls_as_deletes tombstones both serve over the winning
    version."""
    from venice_spark.push import compact_store

    cat = engine.catalog
    schema = "key string, val double, _rmd_ts long"
    state = {}
    _commit_after(cat, monkeypatch, state, (
        (lambda: compact_store(spark, cat, "s")) if winner == "compaction"
        else lambda: engine.incremental_push(
            "s", spark.createDataFrame([("w", 7.0, 70)], schema)
        )
    ))
    delta = spark.createDataFrame(
        [("a", None, None), ("b", 20.0, 60)], schema  # 'a' tombstoned
    )
    res = engine.incremental_push("s", delta, nulls_as_deletes=True)
    monkeypatch.undo()

    assert res.superseded_by == state["winner"] == cat.current_version("s")
    assert len(cat.list_delta_dirs("s", state["winner"])) == 1
    want = {"b": 20.0, "c": 3.0} | ({"w": 7.0} if winner == "eager_push" else {})
    assert {r["key"]: r["val"] for r in engine.store("s").df().collect()} == want


def test_lost_race_restages_tombstones_too(engine, spark, monkeypatch):
    """ADVICE r5 companion: an eager push that loses its commit to a full
    batch push and whose delta DELETED a key (nulls_as_deletes) deletes it
    on the winning version too — the slot appended to the winner's log
    carries the __del tombstone through the resolve view, not just the
    upsert rows."""
    cat = engine.catalog
    schema = "key string, val double, _rmd_ts long"
    state = {}
    _commit_after(cat, monkeypatch, state, lambda: engine.push(
        "s", spark.createDataFrame([("a", 100.0, 70), ("winner", 7.0, 70)], schema)
    ))
    # all value columns NULL == tombstone (ETL union[null, T] convention)
    tomb = spark.createDataFrame([("a", None, None)], schema)
    res = engine.incremental_push("s", tomb, nulls_as_deletes=True)
    monkeypatch.undo()

    assert res.superseded_by == state["winner"]
    # winner's FULL snapshot replaced the base (only a+winner rows); the
    # appended tombstone must then delete 'a' from the served view
    out = {r["key"]: r["val"] for r in engine.store("s").df().collect()}
    assert out == {"winner": 7.0}, "loser's tombstone did not reach the winner"


def test_lost_race_restage_keeps_null_order_rows(engine, spark, monkeypatch):
    """ADVICE r7 (low): a losing eager push's delta row whose order_col
    value is NULL, on a key the winning batch push also wrote, still
    serves: the slot appended to the winner's log outranks the winner's
    base, as an unordered upsert outranks the base on the non-racing
    path."""
    cat = engine.catalog
    schema = "key string, val double, _rmd_ts long"
    state = {}
    _commit_after(cat, monkeypatch, state, lambda: engine.push(
        "s", spark.createDataFrame([("a", 100.0, 70), ("c", 300.0, 70)], schema)
    ))
    # 'a' has NO order value but is contested by the winner; 'b' is
    # uncontested control
    delta = spark.createDataFrame([("a", 1.0, None), ("b", 2.0, None)], schema)
    res = engine.incremental_push("s", delta, order_col="_rmd_ts")
    monkeypatch.undo()

    assert res.superseded_by == state["winner"]
    out = {r["key"]: r["val"] for r in engine.store("s").df().collect()}
    assert out == {"a": 1.0, "b": 2.0, "c": 300.0}, out


def test_batch_push_committing_before_an_eager_fold_keeps_the_delta(
    engine, spark, monkeypatch
):
    """A full batch push that commits after an eager push staged its delta
    and before the fold snapshots the log: the fold starts from the batch
    push's version, so the delta applies over the batch data and the
    eager push wins its commit."""
    import venice_spark.push as push_mod

    cat = engine.catalog
    schema = "key string, val double, _rmd_ts long"
    real_fold = push_mod._fold_version
    state = {}

    def batch_then_fold(*a, **k):
        batch = spark.createDataFrame([("a", 100.0, 70), ("w", 7.0, 70)], schema)
        state["batch"] = engine.push("s", batch)
        return real_fold(*a, **k)

    monkeypatch.setattr(push_mod, "_fold_version", batch_then_fold)
    delta = spark.createDataFrame([("a", 1.0, 60), ("b", 2.0, 80)], schema)
    res = engine.incremental_push("s", delta)
    monkeypatch.undo()

    assert state["batch"].superseded_by is None and res.superseded_by is None
    assert cat.current_version("s") == res.version > state["batch"].version
    assert cat.list_delta_dirs("s", state["batch"].version) == []
    out = {r["key"]: r["val"] for r in engine.store("s").df().collect()}
    assert out == {"a": 1.0, "b": 2.0, "w": 7.0}


def test_rollback_over_an_eager_push_undoes_it(engine, spark):
    """The eager push folds its staged delta without appending it to the
    pre-push version's log: a rollback to that version serves the
    pre-push content (the bad-push escape hatch), and the pushed version
    stays for roll-forward."""
    cat = engine.catalog
    delta = spark.createDataFrame(
        [("a", 9.0, 90), ("d", 4.0, 90)], "key string, val double, _rmd_ts long"
    )
    res = engine.incremental_push("s", delta)
    assert res.version == 2 and cat.list_delta_dirs("s", 1) == []
    cat.rollback("s")
    assert cat.current_version("s") == 1
    out = {r["key"]: r["val"] for r in engine.store("s").df().collect()}
    assert out == {"a": 1.0, "b": 2.0, "c": 3.0}


def test_lost_compaction_reports_superseded_by(engine, spark, monkeypatch):
    """Every committer reports a lost commit: a compaction beaten by an
    eager incremental push (which folded the same slot) names the winner
    in superseded_by instead of returning its orphan as if it served, and
    the slot it folded still serves through the winner."""
    from venice_spark.push import compact_store

    cat = engine.catalog
    schema = "key string, val double, _rmd_ts long"
    engine.incremental_push("s", spark.createDataFrame([("a", 9.0, 90)], schema), eager=False)
    state = {}
    _commit_after(cat, monkeypatch, state, lambda: engine.incremental_push(
        "s", spark.createDataFrame([("z", 1.0, 1)], schema)
    ))
    res = compact_store(spark, cat, "s")

    assert res.superseded_by == state["winner"] == cat.current_version("s")
    assert res.version < state["winner"]
    out = {r["key"]: r["val"] for r in engine.store("s").df().collect()}
    assert out == {"a": 9.0, "b": 2.0, "c": 3.0, "z": 1.0}


def test_lost_batch_push_reports_superseded_by_and_defer_swap_does_not(
    engine, spark, monkeypatch
):
    """The batch push reports a lost commit too; a defer_swap push never
    asked to serve, so it is not a loss."""
    cat = engine.catalog
    df = spark.createDataFrame([("x", 5.0, 50)], "key string, val double, _rmd_ts long")
    deferred = engine.push("s", df, defer_swap=True)
    assert deferred.superseded_by is None
    assert cat.current_version("s") == 1

    state = {}
    _commit_after(cat, monkeypatch, state, lambda: engine.push(
        "s", spark.createDataFrame([("w", 7.0, 70)], "key string, val double, _rmd_ts long")
    ))
    res = engine.push("s", df)
    assert res.superseded_by == state["winner"] == cat.current_version("s")
    assert {r["key"] for r in engine.store("s").df().collect()} == {"w"}


@pytest.mark.parametrize("eager", [True, False], ids=["eager", "lazy"])
def test_incremental_push_refuses_conflicting_duplicate_keys(engine, spark, eager):
    """Without order_col a delta holding one key with two values is refused
    like a batch push (DuplicateKeyError), before anything lands; identical
    duplicates are one upsert."""
    from venice_spark.push import DuplicateKeyError

    cat = engine.catalog
    schema = "key string, val double, _rmd_ts long"
    bad = spark.createDataFrame([("k7", 1.0, 5), ("k7", 2.0, 5)], schema)
    with pytest.raises(DuplicateKeyError, match="k7"):
        engine.incremental_push("s", bad, eager=eager)
    assert cat.current_version("s") == 1 and cat.list_delta_dirs("s", 1) == []

    same = spark.createDataFrame([("k7", 1.0, 5), ("k7", 1.0, 5)], schema)
    res = engine.incremental_push("s", same, eager=eager)
    assert engine.store("s").get("k7")["val"] == 1.0
    if not eager:
        assert res.rows == 1


@pytest.mark.parametrize("first", [1.0, 2.0])
def test_incremental_push_order_col_ties_break_by_value_json(engine, spark, first):
    """With order_col, two rows of one key at the same order value resolve
    by resolve_latest's rule — the larger canonical value JSON wins — in
    whichever order they arrive."""
    rows = [("k7", first, 5), ("k7", 3.0 - first, 5)]
    delta = spark.createDataFrame(rows, "key string, val double, _rmd_ts long")
    engine.incremental_push("s", delta, order_col="_rmd_ts", eager=False)
    assert engine.store("s").get("k7")["val"] == 2.0


@pytest.mark.parametrize("eager", [True, False], ids=["eager", "lazy"])
def test_incremental_push_order_col_op_and_colo_are_plain_values(spark, tmp_root, eager):
    """With order_col, a delta's `op` and `colo` columns are plain value
    columns of the slot's pick, as for the batch push's dedup_order_col:
    an order tie goes to the larger canonical value JSON over every
    non-order column — a PUT beats a DELETE ('PUT' > 'DELETE'), and colo
    orders the JSON with the values rather than breaking a value tie."""
    eng = VeniceSparkEngine(spark, tmp_root)
    schema = "key string, v string, op string, colo string, ts long"
    eng.create_store("o", key_fields=["key"], partition_count=2)
    eng.push("o", spark.createDataFrame([("k0", "base", "PUT", "a", 1)], schema))
    delta = spark.createDataFrame(
        [
            ("k1", "x", "DELETE", "a", 5), ("k1", "x", "PUT", "a", 5),
            ("k2", "y", "PUT", "a", 5), ("k2", "x", "PUT", "b", 5),
        ],
        schema,
    )
    eng.incremental_push("o", delta, order_col="ts", eager=eager)
    got = {
        r["key"]: (r["v"], r["op"], r["colo"])
        for r in eng.store("o").df().collect()
    }
    assert got == {
        "k0": ("base", "PUT", "a"), "k1": ("x", "PUT", "a"), "k2": ("x", "PUT", "b"),
    }, got


@pytest.mark.parametrize("eager", [True, False], ids=["eager", "lazy"])
def test_nulls_as_deletes_refuses_a_key_only_delta(spark, tmp_root, eager):
    """A key-only delta has no value column to test for NULL, so
    nulls_as_deletes would tombstone every key it names: the push is
    refused before anything lands."""
    eng = VeniceSparkEngine(spark, tmp_root)
    eng.create_store("k", key_fields=["key"], partition_count=2)
    eng.push("k", spark.createDataFrame([("a",), ("b",)], "key string"))
    delta = spark.createDataFrame([("c",)], "key string")
    with pytest.raises(ValueError, match="nulls_as_deletes"):
        eng.incremental_push("k", delta, nulls_as_deletes=True, eager=eager)
    assert eng.catalog.current_version("k") == 1
    assert eng.catalog.list_delta_dirs("k", 1) == []
    eng.incremental_push("k", delta, eager=eager)
    assert sorted(r["key"] for r in eng.store("k").df().collect()) == ["a", "b", "c"]


@pytest.fixture(scope="module")
def pick_catalog(spark, tmp_path_factory):
    from venice_spark.catalog import StoreCatalog

    cat = StoreCatalog(str(tmp_path_factory.mktemp("pick")))
    cat.create_store("p", key_fields=["k1", "k2"], partition_count=4)
    return cat


_PICK_ROW = st_.tuples(
    st_.integers(0, 2),  # composite key (k1, k2)
    st_.sampled_from(["x", "y"]),
    st_.one_of(st_.none(), st_.integers(0, 2)),  # order: NULLs and ties
    st_.one_of(st_.none(), st_.sampled_from(["a", "b"])),
    st_.sampled_from([0.5, 1.5]),
    st_.booleans(),  # __del tombstone
)


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(rows=st_.lists(_PICK_ROW, min_size=1, max_size=12))
def test_slot_order_col_pick_matches_resolve_latest(spark, pick_catalog, rows):
    """The slot write's latest-wins pick (`_dedup_frame` with order_col,
    inside the slot's one shuffle) keeps, per key, the row
    streaming.hybrid.resolve_latest keeps: highest order, NULL orders
    below every value, an order tie broken by the larger value JSON —
    tombstones and composite keys included."""
    import shutil

    from venice_spark.push import _stage_slot
    from venice_spark.streaming.hybrid import resolve_latest

    cols = ["k1", "k2", "ord", "v", "w", "__del"]
    delta = spark.createDataFrame(
        rows, "k1 long, k2 string, ord long, v string, w double, __del boolean"
    )
    staging, n = _stage_slot(
        pick_catalog, "p", delta, ["k1", "k2"], (4, False), order_col="ord"
    )
    try:
        slot = sorted(tuple(r) for r in spark.read.parquet(staging).select(*cols).collect())
    finally:
        shutil.rmtree(staging)
    want = resolve_latest(delta, ["k1", "k2"], "ord").select(*cols).collect()
    assert slot == sorted(tuple(r) for r in want)
    assert n == len(slot)


@pytest.mark.parametrize("order_col", [None, "_rmd_ts"], ids=["unordered", "order_col"])
def test_eager_push_runs_at_most_five_jobs(spark, tmp_root, order_col):
    """An eager push is the slot write (the partition_id shuffle's map
    stage and the write, the duplicate-key verdict or the order_col pick
    inside it) plus compaction's fold (touched-key broadcast, version
    shuffle, write): at most five Spark jobs — no duplicate-key pass and
    no latest-wins window of its own."""
    eng = VeniceSparkEngine(spark, tmp_root)
    eng.create_store("j", key_fields=["key"], partition_count=32)
    schema = "key string, val double, _rmd_ts long"
    eng.push("j", spark.createDataFrame([(f"k{i}", float(i), 1) for i in range(5000)], schema))
    delta = spark.createDataFrame([(f"k{i}", -1.0, 2) for i in range(0, 5000, 10)], schema)
    res, jobs = _spark_jobs(
        spark, lambda: eng.incremental_push("j", delta, order_col=order_col)
    )
    assert res.rows == 5000 and jobs <= 5, jobs
    assert eng.store("j").get("k10")["val"] == -1.0


def test_batch_push_accepts_partition_id_input(engine, spark):
    """code-review r4: re-pushing store-read data (which carries the
    partition_id directory column) must not fail on ambiguous references."""
    current = engine.store("s").df()  # includes partition_id
    res = engine.push("s", current, allow_duplicate_key=True)
    assert res.rows == 3
    assert engine.store("s").get("a")["val"] == 1.0


def test_commit_version_never_regresses_pointer(engine, spark):
    """code-review r4: a slower push that reserved an earlier version
    number must not flip the pointer backward when it finishes last."""
    cat = engine.catalog
    v_lo = cat.begin_version("s")
    v_hi = cat.begin_version("s")
    df = spark.createDataFrame([("x", 1.0, 1)], "key string, val double, _rmd_ts long")
    from venice_spark.partitioner import repartition_and_sort

    for v in (v_hi, v_lo):  # hi commits FIRST, lo finishes last
        out = repartition_and_sort(df, ["key"], 2, False)
        out.write.mode("overwrite").partitionBy("partition_id").parquet(
            cat.version_dir("s", v)
        )
        cat.commit_version("s", v, manifest={"partition_count": 2, "partitioner": "xxhash64"})
    assert cat.current_version("s") == v_hi


def test_check_duplicate_keys_standalone(spark):
    """code-review r4: the standalone checker crashed on key-only tables
    (F.struct with zero columns)."""
    from venice_spark.push import check_duplicate_keys

    dup = spark.createDataFrame(
        [("k1", 1.0), ("k1", 2.0), ("k2", 3.0)], "key string, val double"
    )
    assert [r["key"] for r in check_duplicate_keys(dup, ["key"]).collect()] == ["k1"]
    key_only = spark.createDataFrame([("k1",), ("k1",)], "key string")
    assert check_duplicate_keys(key_only, ["key"]).count() == 0


def test_bucketed_view_read_uses_written_spec(spark, tmp_path):
    """code-review r4: re-registration must trust the spec the files were
    WRITTEN with, not a drifted definition — wrong bucket metadata silently
    drops join matches."""
    import warnings

    from venice_spark.engine import VeniceSparkEngine
    from venice_spark.push import BucketedViewDef, read_bucketed_view

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("b1", key_fields=["k"], partition_count=2)
    bv4 = BucketedViewDef(name="bk", n_buckets=4, key_fields=["k"])
    eng.push("b1", spark.createDataFrame([(i, float(i)) for i in range(50)], ["k", "v"]),
             views=[bv4])
    spark.sql(f"DROP TABLE IF EXISTS {bv4.table_name('b1', 1)}")  # fresh session
    drifted = BucketedViewDef(name="bk", n_buckets=8, key_fields=["k"])
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        df = read_bucketed_view(spark, eng.catalog, "b1", drifted)
        assert any("written with" in str(x.message) for x in w)
    assert df.count() == 50  # correct data under the written 4-bucket spec


@pytest.mark.parametrize("d_first", [False, True], ids=["a_first", "d_first"])
def test_batch_push_order_ties_break_like_incremental_push(spark, tmp_root, d_first):
    """Two rows for one key with an equal dedup_order_col value: the batch
    push keeps the row an incremental push with the same order_col keeps
    (resolve_latest's larger value JSON, so 'd' over 'a'), whichever row
    reaches the aggregation first."""
    fs = "key string, val string, _rmd_ts long"
    rows = [("k", "a", 5), ("k", "d", 5)]
    dup = spark.createDataFrame(rows[::-1] if d_first else rows, fs).coalesce(1)
    eng = VeniceSparkEngine(spark, tmp_root)
    eng.create_store("b", key_fields=["key"], partition_count=2)
    eng.push("b", dup, dedup_order_col="_rmd_ts")
    eng.create_store("i", key_fields=["key"], partition_count=2)
    eng.push("i", spark.createDataFrame([("z", "base", 0)], fs))
    eng.incremental_push("i", dup, order_col="_rmd_ts")
    assert eng.store("b").get("k")["val"] == eng.store("i").get("k")["val"] == "d"


def _spark_jobs(spark, fn):
    """(result, Spark jobs launched while fn ran)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = fn()
    return out, len(set(tracker.getJobIdsForGroup(None)) - before)


def test_refused_batch_push_changes_nothing(engine, spark):
    """The I6 verdict is observed on the version write and taken before
    the views, the manifest and the commit: a refused push leaves the
    versions, the pointer, the view declaration and the session cache as
    they were, and removes its version dir. Its reserved version number
    stays burnt."""
    import os

    from venice_spark.push import DuplicateKeyError

    cat = engine.catalog
    schema = "key string, val double, _rmd_ts long"
    view = MaterializedViewDef("by_val", partition_count=1, key_fields=["val"])
    engine.push("s", engine.store("s").df(), allow_duplicate_key=True, views=[view])
    cm = spark._jsparkSession.sharedState().cacheManager()

    def state():
        meta = cat.get_store("s")
        return (
            cat.list_versions("s"), meta.current_version,
            meta.config.get("views"), cm.cachedData().size(),
        )

    before = state()
    refused = cat.get_store("s").largest_used_version + 1
    bad = spark.createDataFrame(
        [("k1", 1.0, 1), ("k1", 2.0, 1), ("k2", 3.0, 1)], schema
    )
    other = MaterializedViewDef("other", partition_count=1, key_fields=["val"])
    with pytest.raises(DuplicateKeyError, match="k1"):
        engine.push("s", bad, views=[other], storage_quota_bytes=10**9)
    assert state() == before
    assert not [
        n for n in os.listdir(cat.store_dir("s")) if n.startswith(f"v{refused}")
    ]
    res = engine.push("s", bad.filter("key = 'k2'"))
    assert res.version == refused + 1
    assert engine.store("s").get("k2")["val"] == 3.0


def test_refused_lazy_push_leaves_no_slot_or_staging(engine, spark):
    """A lazy push's verdict is observed on its staging write and taken
    before the rename: no d{K} slot, and the staging dir is removed."""
    import os

    from venice_spark.push import DuplicateKeyError

    cat = engine.catalog
    bad = spark.createDataFrame(
        [("k7", 1.0, 5), ("k7", 2.0, 5), ("k8", 1.0, 5)],
        "key string, val double, _rmd_ts long",
    )
    with pytest.raises(DuplicateKeyError, match="k7"):
        engine.incremental_push("s", bad, eager=False)
    assert cat.list_delta_dirs("s", 1) == []
    assert not os.path.exists(cat.deltas_dir("s", 1))
    assert not [
        n for n in os.listdir(cat.store_dir("s")) if n.startswith("_delta_staging-")
    ]


def test_clean_pushes_run_one_shuffle_and_one_write(engine, spark):
    """A clean batch push and a clean lazy push (both with the duplicate-key
    check on) run two jobs: the partition_id shuffle's map stage and the
    write, the check observed on the write — no persist, no separate
    conflict collect, no aggregation exchange of its own."""
    schema = "key string, val double, _rmd_ts long"
    full = spark.createDataFrame([(f"k{i}", float(i), 1) for i in range(200)], schema)
    _, jobs = _spark_jobs(spark, lambda: engine.push("s", full))
    assert jobs <= 2
    delta = spark.createDataFrame(
        [(f"k{i}", -1.0, 2) for i in range(0, 200, 4)] * 2, schema
    )
    res, jobs = _spark_jobs(
        spark, lambda: engine.incremental_push("s", delta, eager=False)
    )
    assert res.rows == 50 and jobs <= 2
    assert engine.store("s").get("k8")["val"] == -1.0


@pytest.mark.parametrize("shuffle_partitions", [3, 64])
def test_writes_leave_one_key_sorted_file_per_partition_id(
    spark, tmp_path, shuffle_partitions
):
    """The layout the Arrow reads depend on, whatever the shuffle's task
    count (spark.sql.shuffle.partitions below and above the store's
    partition count): a full push, a lazy slot and a compaction each leave
    exactly one data file per partition_id=P dir, key-sorted, holding only
    keys that route to P."""
    import pyarrow.parquet as pq

    from venice_spark.catalog import _data_files, _partition_dirs
    from venice_spark.partitioner import partition_id_py

    schema = "k long, v double"
    full = [(i, i * 1.0) for i in range(400)]
    upserts = [(i, -1.0) for i in range(0, 400, 3)]
    conf = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, str(shuffle_partitions))
    try:
        eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
        eng.create_store("L", key_fields=["k"], partition_count=8)
        eng.push("L", spark.createDataFrame(full, schema))
        eng.incremental_push("L", spark.createDataFrame(upserts, schema), eager=False)
        (slot,) = eng.catalog.list_delta_dirs("L", 1)
        compacted = eng.compact("L").version
    finally:
        spark.conf.set(conf, prev)
    written = {
        "push": (eng.catalog.version_dir("L", 1), full),
        "slot": (slot, upserts),
        "compaction": (eng.catalog.version_dir("L", compacted), full),
    }
    for what, (d, rows) in written.items():
        dirs = {int(p.rsplit("=", 1)[1]): p for p in _partition_dirs(d)}
        assert set(dirs) == {partition_id_py((k,), 8) for k, _ in rows}, what
        for pid, p in dirs.items():
            files = _data_files(p)
            assert len(files) == 1, (what, p, files)
            keys = pq.read_table(files[0]).column("k").to_pylist()
            assert keys == sorted(keys), (what, p)
            assert {partition_id_py((k,), 8) for k in keys} == {pid}, (what, p)
    assert eng.store("L").get(3)["v"] == -1.0 and eng.store("L").get(4)["v"] == 4.0
