"""One served-version snapshot per request (served.ServedVersion): a read
routes and reads through the version it resolved when it began, whatever
the pointer does meanwhile; each read resolves that version from one
store.json read and at most one manifest read; and the SQL temp views read
the same frame as df()."""

import pyspark.sql.types as T
import pytest

from venice_spark import VeniceSparkEngine
from venice_spark.catalog import StoreCatalog
from venice_spark.served import ARROW_BATCH_MAX_KEYS


def test_a_pointer_flip_mid_read_never_mixes_versions(spark, tmp_path, monkeypatch):
    """v1 is written with 2 partitions and v2 with 7 plus a live lazy slot;
    the pointer flips back to v1 inside each call's data read. Each get,
    batch_get and store_stats still serves v2, the version current when
    the call began: routing with v2's layout against v1's files would miss
    most keys."""
    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    cat = eng.catalog
    eng.create_store("s", key_fields=["k"], partition_count=2)
    eng.push("s", spark.createDataFrame([(k, f"v1-{k}") for k in range(20)], "k long, v string"))
    cat.update_store("s", partition_count=7)
    eng.push("s", spark.createDataFrame([(k, f"v2-{k}") for k in range(30)], "k long, v string"))
    eng.incremental_push("s", spark.createDataFrame([(0, "slot")], "k long, v string"), eager=False)
    want = {k: f"v2-{k}" for k in range(30)} | {0: "slot"}
    st = eng.store("s")

    armed = []

    def flip_first(read):
        def flipping_read(*args, **kwargs):
            if armed:
                armed.clear()
                cat.set_version("s", 1)
            return read(*args, **kwargs)

        return flipping_read

    for name in ("read_current", "read_version"):
        monkeypatch.setattr(cat, name, flip_first(getattr(cat, name)))

    def during_flip(call):
        cat.set_version("s", 2)
        armed.append(True)
        out = call()
        assert not armed, "the call read no data"
        return out

    keys = list(range(20))
    got = {k: during_flip(lambda: st.get(k)) for k in keys}
    assert {k: r and r["v"] for k, r in got.items()} == {k: want[k] for k in keys}
    rows = during_flip(lambda: st.batch_get(keys).collect())
    assert sorted((r["k"], r["v"]) for r in rows) == sorted((k, want[k]) for k in keys)
    stats = during_flip(lambda: eng.store_stats("s"))
    assert (stats["version"], stats["partitions"], stats["rows"]) == (2, 7, 30)


@pytest.fixture(scope="module")
def counted_stores(spark, tmp_path_factory):
    eng = VeniceSparkEngine(spark, str(tmp_path_factory.mktemp("served_reads")))
    ddl = "k long, v int, vec array<double>"
    rows = [(k, k % 5, [float(k), 1.0]) for k in range(ARROW_BATCH_MAX_KEYS + 100)]
    for name, slot in (("plain", False), ("slot", True)):
        eng.create_store(name, key_fields=["k"], partition_count=4)
        eng.push(name, spark.createDataFrame(rows, ddl))
        if slot:
            eng.incremental_push(
                name, spark.createDataFrame([(1, 9, [0.0, 0.0])], ddl), eager=False
            )
    return eng


_CALLS = {
    "get": lambda st: st.get(1),
    "batch_get_10": lambda st: st.batch_get(list(range(10))),
    "batch_get_over_bound": lambda st: st.batch_get(list(range(ARROW_BATCH_MAX_KEYS + 1))),
    "compute_10": lambda st: st.compute().dot_product("vec", [1.0, 1.0], "d").execute(
        list(range(10))
    ),
    "compute_over_bound": lambda st: st.compute()
    .dot_product("vec", [1.0, 1.0], "d")
    .execute(list(range(ARROW_BATCH_MAX_KEYS + 1))),
    "facets": lambda st: st.aggregate().count_group_by_value(3, "v"),
}


@pytest.mark.parametrize("store", ["plain", "slot"])
@pytest.mark.parametrize("call", list(_CALLS))
def test_each_read_resolves_its_version_once(counted_stores, monkeypatch, store, call):
    """After one warm-up call (which fills the superset-schema memo), a
    read takes store.json once and the version manifest at most once, on
    either side of ARROW_BATCH_MAX_KEYS and with or without a delta slot."""
    st = counted_stores.store(store)
    _CALLS[call](st)
    counts = {"get_store": 0, "version_manifest": 0}

    def counting(name):
        real = StoreCatalog.__dict__[name]

        def counted(*args, **kwargs):
            counts[name] += 1
            return real(*args, **kwargs)

        return counted

    for name in counts:
        monkeypatch.setattr(StoreCatalog, name, counting(name))
    _CALLS[call](st)
    assert counts["get_store"] == 1 and counts["version_manifest"] <= 1, counts


def test_temp_views_read_the_reader_schema(spark, tmp_path):
    """create_temp_views registers the same frame df() reads: after a
    registry promotion (count int -> long, score float -> double) and an
    added field, the SQL view has df()'s types and the added column."""
    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.catalog.create_store(
        "tv",
        key_fields=["k"],
        partition_count=2,
        value_schema=T.StructType(
            [T.StructField("count", T.IntegerType()), T.StructField("score", T.FloatType())]
        ),
        schema_compat="backward",
    )
    eng.push("tv", spark.createDataFrame([(1, 5, 1.5)], "k long, count int, score float"))
    eng.catalog.add_value_schema(
        "tv",
        T.StructType(
            [
                T.StructField("count", T.LongType()),
                T.StructField("score", T.DoubleType()),
                T.StructField("tag", T.StringType()),
            ]
        ),
    )
    assert eng.create_temp_views(prefix="tv_") == ["tv_tv"]
    st = eng.store("tv")
    assert spark.table("tv_tv").dtypes == st.df().dtypes
    assert dict(spark.table("tv_tv").dtypes)["tag"] == "string"
    assert [tuple(r) for r in spark.sql("SELECT k, count, tag FROM tv_tv").collect()] == [
        (1, 5, None)
    ]
