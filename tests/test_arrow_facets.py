"""Parity of the Arrow facet counts (StoreHandle.aggregate()
.count_group_by_value on a small plain-file version) with the Spark
groupBy they replace — rows and schema exactly, nulls, NaN, -0.0, count
ties and non-ASCII strings included — and of the one-call vector literal
with the per-element form it replaced."""

import datetime as dt
import itertools
import math
import struct

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st_

from venice_spark import VeniceSparkEngine
from venice_spark.compute import ComputeAggregationBuilder

FACET_DDL = (
    "k long, flag boolean, sh short, i int, l long, f float, d double, "
    "s string, day date"
)
_names = itertools.count()


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    return VeniceSparkEngine(spark, str(tmp_path_factory.mktemp("arrow_facets")))


def _spark_counts(st, top_k, fields):
    """The Spark groupBy path over the store frame."""
    return ComputeAggregationBuilder(st.df(), st.key_fields).count_group_by_value(
        top_k, *fields
    )


def _check_parity(st, top_k, fields, arrow_served):
    assert (st._served().value_counts(top_k, fields) is not None) == arrow_served
    got = st.aggregate().count_group_by_value(top_k, *fields)
    want = _spark_counts(st, top_k, fields)
    assert list(got) == list(want)
    for f in fields:
        assert got[f].schema == want[f].schema, f
        # repr: NaN rows compare equal, and -0.0 is told from 0.0
        assert repr(got[f].collect()) == repr(want[f].collect()), f


_nan_neg = struct.unpack(">d", bytes.fromhex("fff8000000000000"))[0]
_nan_payload = struct.unpack(">d", bytes.fromhex("7ff8000000000123"))[0]
_float = st_.one_of(
    st_.none(),
    st_.sampled_from(
        [0.0, -0.0, math.nan, _nan_neg, _nan_payload, 1.5, -2.25, math.inf, -math.inf]
    ),
    st_.floats(width=32),
)
_row = st_.tuples(
    st_.one_of(st_.none(), st_.booleans()),
    st_.one_of(st_.none(), st_.integers(-3, 3)),
    st_.one_of(st_.none(), st_.integers(-3, 3)),
    st_.one_of(st_.none(), st_.sampled_from([-(2**63), 2**63 - 1, 0, 7])),
    _float,
    _float,
    st_.one_of(
        st_.none(),
        st_.sampled_from(["a", "b", "B", "é", "日本", "ü", "", "á"]),
        st_.text(max_size=3),
    ),
    st_.one_of(st_.none(), st_.sampled_from([dt.date(1970, 1, 1), dt.date(2024, 2, 29)])),
)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st_.lists(_row, min_size=0, max_size=30), st_.integers(0, 12))
def test_arrow_counts_match_spark_group_by(spark, eng, rows, top_k):
    name = f"facet{next(_names)}"
    eng.create_store(name, key_fields=["k"], partition_count=4)
    eng.push(name, spark.createDataFrame([(i, *r) for i, r in enumerate(rows)], FACET_DDL))
    st = eng.store(name)
    fields = ["flag", "sh", "i", "l", "f", "d", "s", "day"]
    # an empty push writes no partition_id= dirs: Spark counts it
    _check_parity(st, top_k, fields, arrow_served=bool(rows))


@pytest.mark.parametrize("arrow_type", ["float64", "float32"])
def test_top_values_folds_every_nan_and_signed_zero(arrow_type):
    """Spark writes one NaN and groups -0.0 with 0.0; files from elsewhere
    may hold NaN payloads and negative NaNs, which _top_values folds into
    one group as Spark's float normalisation does."""
    import pyarrow as pa

    from venice_spark.served import _top_values

    col = pa.array(
        [_nan_neg, math.nan, _nan_payload, -0.0, 0.0, None, None, 1.0], type=arrow_type
    )
    got = _top_values(col, 10).to_pylist()
    assert repr([(r["value"], r["count"]) for r in got]) == repr(
        [(math.nan, 3), (None, 2), (0.0, 2), (1.0, 1)]
    )


def test_registry_promoted_and_added_columns(spark, eng):
    """count int and score float promoted by the registry to long/double,
    tag added: the Arrow counts cast and null-fill as df() does."""
    eng.catalog.create_store(
        "facet_evo",
        key_fields=["k"],
        partition_count=4,
        value_schema=T.StructType(
            [T.StructField("count", T.IntegerType()), T.StructField("score", T.FloatType())]
        ),
        schema_compat="backward",
    )
    eng.push(
        "facet_evo",
        spark.createDataFrame(
            [(k, k % 3, [0.5, -0.0, 0.0, None][k % 4]) for k in range(20)],
            "k long, count int, score float",
        ),
    )
    eng.catalog.add_value_schema(
        "facet_evo",
        T.StructType(
            [
                T.StructField("count", T.LongType()),
                T.StructField("score", T.DoubleType()),
                T.StructField("tag", T.StringType()),
            ]
        ),
    )
    st = eng.store("facet_evo")
    out = st.aggregate().count_group_by_value(5, "count", "score", "tag")
    assert out["count"].schema["value"].dataType == T.LongType()
    assert out["score"].schema["value"].dataType == T.DoubleType()
    assert [tuple(r) for r in out["tag"].collect()] == [(None, 20)]
    _check_parity(st, 5, ["count", "score", "tag"], arrow_served=True)


def test_live_delta_slot_counts_through_spark(spark, eng):
    eng.catalog.create_store("facet_lazy", key_fields=["k"], partition_count=4)
    eng.push("facet_lazy", spark.createDataFrame([(k, k % 2) for k in range(10)], "k long, v int"))
    eng.incremental_push(
        "facet_lazy", spark.createDataFrame([(1, 0), (3, 0)], "k long, v int"), eager=False
    )
    st = eng.store("facet_lazy")
    _check_parity(st, 3, ["v"], arrow_served=False)
    assert [tuple(r) for r in st.aggregate().count_group_by_value(3, "v")["v"].collect()] == [
        (0, 7),
        (1, 3),
    ]


def test_store_over_the_bound_counts_through_spark(spark, eng, monkeypatch):
    import venice_spark.served as served_mod

    eng.create_store("facet_big", key_fields=["k"], partition_count=4)
    eng.push("facet_big", spark.createDataFrame([(k, k % 3) for k in range(12)], "k long, v int"))
    st = eng.store("facet_big")
    _check_parity(st, 2, ["v"], arrow_served=True)
    monkeypatch.setattr(served_mod, "ARROW_SCAN_MAX_ROWS", 11)
    _check_parity(st, 2, ["v"], arrow_served=False)
    monkeypatch.setattr(served_mod, "ARROW_SCAN_MAX_ROWS", 12)
    _check_parity(st, 2, ["v"], arrow_served=True)


@pytest.mark.parametrize(
    "ddl, value, field",
    [
        ("t timestamp", dt.datetime(2021, 3, 1, 12, 30, 15), "t"),
        ("a array<int>", [1, 2], "a"),
    ],
    ids=["timestamp", "array"],
)
def test_types_arrow_does_not_group_fall_back(spark, eng, ddl, value, field):
    name = "facet_fb_" + field
    eng.create_store(name, key_fields=["k"], partition_count=2)
    eng.push(name, spark.createDataFrame([(1, value), (2, None), (3, value)], f"k long, {ddl}"))
    st = eng.store(name)
    assert st._served().plain
    # one unsupported field sends the whole call to Spark
    _check_parity(st, 3, ["k", field], arrow_served=False)


def _per_element(values):
    """The per-element form _lit_array replaced: a lit and a cast each."""
    return F.array(*[F.lit(float(v)).cast("double") for v in values])


_EDGES = [-0.0, 0.0, 5e-324, -5e-324, 2.2250738585072009e-308, math.inf, -math.inf,
          math.nan, 1e308, -1e308, 1.7976931348623157e308, 0.1, -1.5, 1e-05, 1e16]


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st_.lists(st_.floats(allow_nan=False), max_size=12))
def test_lit_array_bit_identical_to_per_element_form(spark, values):
    from venice_spark.functions.vectors import _lit_array

    for vals in (values, values + _EDGES, []):
        row = spark.range(1).select(
            _lit_array(vals).alias("new"), _per_element(vals).alias("old")
        )
        assert row.schema["new"].dataType == row.schema["old"].dataType
        got = row.first()
        assert [struct.pack(">d", x) for x in got["new"]] == [
            struct.pack(">d", x) for x in got["old"]
        ]
