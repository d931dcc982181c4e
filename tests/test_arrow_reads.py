"""Parity of the Arrow point-read path (StoreHandle.get / batch_get on a
version with no delta slot) with the Spark read it replaces: for every key
the rows must equal `df().filter(key)` exactly — values, Python types,
field names and order — whether the call took Arrow or fell back to Spark
(a live delta slot, a key Arrow cannot compare exactly, a column type whose
Python value Arrow cannot reproduce)."""

import datetime as dt
import os
import time
from decimal import Decimal

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st_

from venice_spark import VeniceSparkEngine

N_EVO = 40
N_COMP = 12


def _key_tuple(st, key):
    return (key,) if len(st.key_fields) == 1 else tuple(key)


def _reference(st, key):
    """The Spark read the Arrow path must reproduce: df() filtered on the
    key, partition_id dropped."""
    cond = F.lit(True)
    for k, v in zip(st.key_fields, _key_tuple(st, key)):
        cond = cond & (F.col(k) == F.lit(v))
    return st.df().filter(cond).drop("partition_id").collect()


def _check_get(st, key, ref):
    got = st.get(key)
    if not ref:
        assert got is None, (key, got)
        return
    assert got == ref[0], (key, got, ref[0])
    assert got.__fields__ == ref[0].__fields__
    assert [type(v) for v in got] == [type(v) for v in ref[0]]


def _check_batch(st, keys, refs):
    """batch_get: one row per requested key occurrence that exists, the key
    fields first, then the rest in df() order, with df()'s types."""
    kf = st.key_fields
    ref_df = st.df().drop("partition_id")
    cols = [*kf, *(c for c in ref_df.columns if c not in kf)]
    out = st.batch_get(keys)
    assert out.columns == cols
    assert out.schema == ref_df.select(*cols).schema
    rows = out.collect()
    assert all(r.__fields__ == cols for r in rows)
    want = [repr(tuple(r[c] for c in cols)) for ref in refs for r in ref]
    assert sorted(repr(tuple(r)) for r in rows) == sorted(want)


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    """evo: the reader-schema store of test_schema_evolution's
    test_batch_read_resolves_reader_schema (k long; count int and score
    float promoted by the registry to long/double; tag added), grown to
    N_EVO rows plus a long→double promotion, whose Python type changes. comp: a composite (string, int) key over every value type
    the Arrow path serves."""
    eng = VeniceSparkEngine(spark, str(tmp_path_factory.mktemp("arrow_reads")))
    eng.catalog.create_store(
        "evo",
        key_fields=["k"],
        partition_count=4,
        value_schema=T.StructType(
            [
                T.StructField("count", T.IntegerType()),
                T.StructField("score", T.FloatType()),
                T.StructField("total", T.LongType()),
            ]
        ),
        schema_compat="backward",
    )
    eng.push(
        "evo",
        spark.createDataFrame(
            [(k, k * 3, k + 0.5, k * 1000) for k in range(N_EVO)],
            "k long, count int, score float, total long",
        ),
    )
    eng.catalog.add_value_schema(
        "evo",
        T.StructType(
            [
                T.StructField("count", T.LongType()),
                T.StructField("score", T.DoubleType()),
                T.StructField("total", T.DoubleType()),
                T.StructField("tag", T.StringType()),
            ]
        ),
    )
    comp_rows = [
        (
            f"a{i % 3}",
            i,
            None if i == 4 else f"v{i}",
            i % 2 == 0,
            i - 6,
            i * 0.25,
            Decimal(f"{i}.{i:02d}"),
            dt.date(2020, 1, 1 + i),
            dt.datetime(2021, 3, 1, i, 30, 15, 250),
            [float(i), -1.5] if i != 5 else None,
            bytearray(f"b{i}".encode()),
            [bytearray(b"x"), None] if i % 4 else [],
            i * 1.5,
        )
        for i in range(N_COMP)
    ]
    eng.create_store("comp", key_fields=["a", "b"], partition_count=8)
    eng.push(
        "comp",
        spark.createDataFrame(
            comp_rows,
            "a string, b int, s string, flag boolean, sh short, d double, "
            "dec decimal(10,2), day date, ntz timestamp_ntz, arr array<double>, "
            "blob binary, blobs array<binary>, f float",
        ),
    )
    return eng


def test_arrow_path_serves_plain_versions(stores, monkeypatch):
    """The stores above really take the Arrow path (so the property test
    below compares two different read paths), and every read through
    batch_get — streaming_batch_get, compute().execute — agrees with the
    forced Spark fallback."""
    import venice_spark.served as served_mod

    for name, keys in (("evo", [3, 7]), ("comp", [("a0", 0), ["a1", 4]])):
        st = stores.store(name)
        served = st._served()
        assert served.plain
        assert served.arrow_rows([_key_tuple(st, k) for k in keys]).num_rows == 2
        arrow = sorted(map(repr, st.batch_get(keys).collect()))
        assert sorted(map(repr, st.streaming_batch_get(keys))) == arrow
        with monkeypatch.context() as m:  # force the Spark broadcast join
            m.setattr(served_mod, "ARROW_BATCH_MAX_KEYS", 0)
            assert sorted(map(repr, st.batch_get(keys).collect())) == arrow
            spark_schema = st.batch_get(keys).schema
        assert st.batch_get(keys).schema == spark_schema
    ev = stores.store("evo")
    assert ev.get(3).asDict() == {
        "k": 3, "count": 9, "score": 3.5, "total": 3000.0, "tag": None
    }
    got = ev.compute().project("count", "tag").execute([1, 2, 99]).collect()
    assert sorted(map(tuple, got)) == [(1, 3, None), (2, 6, None)]


# (key, batchable): a str component on an integral column and an int past
# the column's range are compared by Spark's get filter, but batch_get's
# typed key frame refuses them (as it always has), so they join gets only
_evo_key = st_.one_of(
    st_.integers(0, N_EVO - 1).map(lambda i: (i, True)),  # present
    st_.integers(N_EVO, N_EVO + 20).map(lambda i: (i, True)),  # missing
    st_.integers(0, N_EVO - 1).map(lambda i: (str(i), False)),  # str on long
)
_comp_key = st_.one_of(
    st_.integers(0, N_COMP - 1).map(lambda i: ((f"a{i % 3}", i), True)),  # present
    st_.tuples(
        st_.sampled_from(["a0", "a1", "zz"]), st_.integers(N_COMP, N_COMP + 5)
    ).map(lambda k: (k, True)),  # missing
    st_.integers(0, N_COMP - 1).map(lambda i: ([f"a{i % 3}", i], True)),  # list form
    st_.integers(2**31, 2**31 + 3).map(lambda i: (("a0", i), False)),  # past int
    st_.integers(0, N_COMP - 1).map(lambda i: ((f"a{i % 3}", str(i)), False)),
)


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st_.one_of(
        st_.tuples(st_.just("evo"), st_.lists(_evo_key, max_size=4)),
        st_.tuples(st_.just("comp"), st_.lists(_comp_key, max_size=4)),
    )
)
def test_get_and_batch_get_match_spark_read(stores, case):
    name, tagged = case
    st = stores.store(name)
    refs = [_reference(st, k) for k, _ in tagged]
    for (k, _), ref in zip(tagged, refs):
        _check_get(st, k, ref)
    batch = [i for i, (_, ok) in enumerate(tagged) if ok]
    _check_batch(st, [tagged[i][0] for i in batch], [refs[i] for i in batch])


def test_live_delta_slot_reads_through_spark(stores, spark):
    """A lazy-delta slot keeps get/batch_get on the Spark path, which
    resolves the slot (the delta's value wins)."""
    eng = stores
    eng.catalog.create_store("lazy", key_fields=["k"], partition_count=4)
    eng.push("lazy", spark.createDataFrame([(k, k * 3) for k in range(10)], "k long, count int"))
    eng.incremental_push("lazy", spark.createDataFrame([(2, 100)], "k long, count int"), eager=False)
    st = eng.store("lazy")
    assert not st._served().plain
    keys = [2, 3, 50, 2]
    refs = [_reference(st, k) for k in keys]
    assert refs[0][0]["count"] == 100
    for k, ref in zip(keys, refs):
        _check_get(st, k, ref)
    _check_batch(st, keys, refs)


@pytest.fixture()
def non_utc_tz():
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/Los_Angeles"
    time.tzset()
    yield
    if old is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old
    time.tzset()


@pytest.mark.parametrize(
    "ddl, value",
    [
        ("t timestamp", dt.datetime(2021, 3, 1, 12, 30, 15)),
        ("m map<string,int>", {"x": 1, "y": 2}),
        ("s struct<x:int,y:string>", (1, "one")),
    ],
    ids=["timestamp", "map", "struct"],
)
def test_types_arrow_cannot_reproduce_fall_back(stores, spark, non_utc_tz, ddl, value):
    """TimestampType (Arrow gives a UTC instant, Spark a naive local-time
    datetime — a different wall clock under a non-UTC TZ), map (Arrow: list
    of tuples) and struct (Arrow: dict) stores read through Spark and still
    match it."""
    name = "fb_" + ddl.split()[0]
    stores.catalog.create_store(name, key_fields=["k"], partition_count=2)
    stores.push(name, spark.createDataFrame([(1, value), (2, None)], f"k long, {ddl}"))
    st = stores.store(name)
    served = st._served()
    assert served.plain and served.arrow_rows([(1,)]) is None
    keys = [1, 2, 3]
    refs = [_reference(st, k) for k in keys]
    for k, ref in zip(keys, refs):
        _check_get(st, k, ref)
    _check_batch(st, keys, refs)
