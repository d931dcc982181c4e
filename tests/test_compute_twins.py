"""Parity of keyed read-compute's driver form with the Spark Column plan.

StoreHandle.compute().execute(keys) computes a key batch that batch_get
reads through Arrow with the numpy twins of functions/vectors, building no
Column tree. Each twin must equal its Spark kernel bit for bit, and the
driver form's frame must equal the Column plan over the same fetched rows
— schema (nullability included), row order, every float's bits (NaN as
NaN) and every error-channel entry."""

import math
import random
import struct
from unittest import mock

import pyspark.sql.types as T
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st_

from venice_spark import VeniceSparkEngine
from venice_spark.compute import ERROR_FIELD, ComputeRequestBuilder
from venice_spark.functions import vectors

DIM = 16  # past numpy's 8-way unrolled sums, so any reordering of the fold shows
N_ROWS = 40
NAN, INF = float("nan"), float("inf")


def _bits(v):
    """A value with every float as its IEEE-754 bytes (any NaN as 'nan')."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else struct.pack(">d", v)
    if isinstance(v, (list, tuple)):
        return [_bits(x) for x in v]
    if isinstance(v, dict):
        return {k: _bits(x) for k, x in v.items()}
    return v


def _vector(rng: random.Random, k: int, ints: bool):
    """Row k's vector: every tenth row of each kind is an edge case."""
    case = k % 10
    if case == 1:
        return None
    if case == 2:
        return []
    if case == 3:
        return [1] * (DIM - 1) if ints else [0.5] * (DIM + 1)
    if case == 4:
        return [None if i == 2 else (i if ints else i + 0.25) for i in range(DIM)]
    if ints:
        big = [2**62 + 1, -(2**53) - 1, 0, -1, 2**31 - 1, 7]
        return (big * DIM)[:DIM] if case == 5 else [rng.randrange(-1000, 1000) for _ in range(DIM)]
    if case == 5:
        return [-0.0] * DIM
    if case == 6:
        return [NAN if i == 1 else 1.0 for i in range(DIM)]
    if case == 7:
        return [INF, -INF] + [1.0] * (DIM - 2)
    if case == 8:
        return [0.0] * DIM
    if case == 9:
        return [1e16, 1.0, -1e16, 1.0] * (DIM // 4)  # cancels only in fold order
    scale = 10.0 ** rng.uniform(-6, 5)
    return [rng.gauss(0, 1) * scale for _ in range(DIM)]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """A plain-files store over every vector element type the twins read,
    plus `tags` (a count-only array) and `extra`, a registry-added vector
    field the version's files predate (all NULL on read)."""
    eng = VeniceSparkEngine(spark, str(tmp_path_factory.mktemp("compute_twins")))
    value_fields = [
        T.StructField("label", T.StringType()),
        T.StructField("f", T.ArrayType(T.FloatType())),
        T.StructField("d", T.ArrayType(T.DoubleType())),
        T.StructField("i", T.ArrayType(T.IntegerType())),
        T.StructField("l", T.ArrayType(T.LongType())),
        T.StructField("tags", T.ArrayType(T.StringType())),
    ]
    eng.catalog.create_store(
        "vec",
        key_fields=["k"],
        partition_count=4,
        value_schema=T.StructType(value_fields),
        schema_compat="backward",
    )
    rng = random.Random(7)
    rows = []
    for k in range(N_ROWS):
        ints = _vector(rng, k + 3, True)
        rows.append(
            (
                k,
                None if k % 7 == 0 else f"L{k % 3}",
                _vector(rng, k, False),
                _vector(rng, k + 5, False),
                None if ints is None else [None if v is None else v % 2**32 - 2**31 for v in ints],
                ints,
                None if k % 9 == 0 else [f"t{j}" for j in range(k % 4)],
            )
        )
    eng.push(
        "vec",
        spark.createDataFrame(
            rows,
            "k long, label string, f array<float>, d array<double>, i array<int>, "
            "l array<bigint>, tags array<string>",
        ),
    )
    eng.catalog.add_value_schema(
        "vec",
        T.StructType([*value_fields, T.StructField("extra", T.ArrayType(T.DoubleType()))]),
    )
    return eng.store("vec")


def _spark_form(store, builder: ComputeRequestBuilder):
    """The same request evaluated by the Column plan over batch_get's rows."""
    return ComputeRequestBuilder(
        builder.df,
        builder.key_fields,
        builder.projections,
        builder.ops,
        builder.with_error_channel,
        key_rows_source=store.batch_get,
    )


def _assert_same(got, want):
    assert got.schema == want.schema, (got.schema, want.schema)
    assert [f.nullable for f in got.schema.fields] == [f.nullable for f in want.schema.fields]
    g, w = got.collect(), want.collect()
    assert [_bits(tuple(r)) for r in g] == [_bits(tuple(r)) for r in w], (g, w)


def test_store_is_served_by_arrow(store):
    served = store._served()
    assert served.plain and served.arrow_rows([(0,)]).num_rows == 1
    assert store.get(0)["extra"] is None


@pytest.mark.parametrize("field", ["f", "d", "i", "l"])
def test_each_twin_matches_its_kernel(spark, store, field):
    """Each twin over an Arrow column equals its Spark kernel over the same
    column, for params of the right length, a short one and an empty one."""
    rows = store._served().key_rows(list(range(N_ROWS)))
    frame = spark.createDataFrame(rows.table, rows.schema)
    vec = rows.table.column(field)
    for param in ([0.5, -2.0, 1e-6, 3e5, -0.0, 1.0] * 2 + [1.0] * 4, [1.0, 2.0], []):
        cols = [
            vectors.dot_product(field, param).alias("dot"),
            vectors.cosine_similarity(field, param).alias("cos"),
            vectors.hadamard_product(field, param).alias("had"),
            vectors.collection_count(field).alias("n"),
            vectors.compute_error_entries(field, field, len(param), key_name="e").alias("err"),
        ]
        spark_rows = [tuple(r) for r in frame.select(*cols).collect()]
        twins = [
            vectors.dot_product_py(vec, param),
            vectors.cosine_similarity_py(vec, param),
            vectors.hadamard_product_py(vec, param),
            vectors.collection_count_py(vec),
            vectors.compute_error_entries_py(field, vec, len(param), key_name="e"),
        ]
        driver_rows = list(zip(*(t.to_pylist() for t in twins)))
        driver_rows = [(*r[:4], dict(r[4])) for r in driver_rows]
        assert _bits(driver_rows) == _bits(spark_rows), (field, param)


_element = st_.one_of(
    st_.sampled_from([0.0, -0.0, 1.0, NAN, INF, -INF]),
    st_.tuples(st_.floats(-1, 1), st_.integers(-6, 5)).map(lambda t: t[0] * 10.0 ** t[1]),
    st_.floats(allow_nan=True, allow_infinity=True),
)


def _dense(seed: int) -> list[float]:
    rng = random.Random(seed)
    scale = 10.0 ** rng.randint(-6, 5)
    return [rng.gauss(0, 1) * scale for _ in range(DIM)]


_param = st_.one_of(
    st_.integers(0, 2**32).map(_dense),  # every element significant
    st_.lists(_element, min_size=DIM, max_size=DIM),
    st_.lists(_element, max_size=DIM + 1),
)
_op = st_.one_of(
    st_.tuples(
        st_.sampled_from(["dot_product", "cosine_similarity", "hadamard_product"]),
        st_.sampled_from(["f", "d", "i", "l", "extra"]),
        _param,
    ),
    st_.tuples(st_.just("count"), st_.sampled_from(["f", "i", "tags", "extra"]), st_.none()),
)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    ops=st_.lists(_op, min_size=1, max_size=4),
    projections=st_.lists(st_.sampled_from(["label", "f", "tags", "extra", "k"]), unique=True),
    errors=st_.booleans(),
    keys=st_.lists(st_.integers(0, N_ROWS + 5), max_size=8),
)
def test_driver_form_matches_column_plan(store, ops, projections, errors, keys):
    """Every op, with and without the error channel, over null, empty and
    mismatched vectors, -0.0/NaN/±inf elements and params at scales
    1e-6..1e5, a registry-added field, duplicate and absent keys: the
    driver form builds no Column tree and equals the Column plan."""
    b = store.compute().project(*projections).error_channel(errors)
    for i, (kind, field, param) in enumerate(ops):
        if kind == "count":
            b.count(field, f"r{i}")
        else:
            getattr(b, kind)(field, param, f"r{i}")
    with mock.patch.object(
        ComputeRequestBuilder, "_result_columns", side_effect=AssertionError("Column tree")
    ):
        got = b.execute(keys)
    _assert_same(got, _spark_form(store, b).execute(keys))
    if errors:
        assert got.schema[ERROR_FIELD].nullable is False


def test_uncovered_requests_take_the_column_plan(store):
    """Requests the twins do not cover fall back to the Column plan with the
    same result as before: a repeated output name, a vector op over string
    elements is Spark's to evaluate (and refuse), and an absent field is
    Spark's analysis error."""
    rows = store._served().key_rows([1, 2])
    dup = store.compute().project("label").count("f", "label")
    assert dup._driver_schema(rows.schema) is None
    assert dup.execute([1, 2]).columns == ["k", "label", "label"]
    strings = store.compute().dot_product("tags", [1.0], "x")
    assert strings._driver_schema(rows.schema) is None
    absent = store.compute().count("nope", "n")
    assert absent._driver_schema(rows.schema) is None
    with pytest.raises(Exception, match="nope"):
        absent.execute([1, 2]).collect()


def test_error_channel_messages(store):
    """The error channel's entries are the Column plan's messages, keyed by
    result name, for a null field, a length mismatch and an empty vector."""
    out = (
        store.compute()
        .dot_product("f", [1.0] * DIM, "dot")
        .count("extra", "n")
        .error_channel()
        .execute([1, 2, 3, 0])
    )
    errs = {r["k"]: r[ERROR_FIELD] for r in out.collect()}
    assert errs[1] == {"dot": "field f is null", "n": "field extra is null"}
    assert errs[2] == {"dot": f"field f length 0 != param length {DIM}", "n": "field extra is null"}
    assert errs[3] == {"dot": f"field f length {DIM + 1} != param length {DIM}", "n": "field extra is null"}
    assert errs[0] == {"n": "field extra is null"}


def test_param_norm_and_zero_vectors(store):
    """Cosine is NULL on a zero vector (0/0 is not evaluated), NaN where the
    norm product is NaN (Spark orders NaN above 0), and a vector with a null
    element folds to NULL while its hadamard keeps the null in place."""
    out = {
        r["k"]: r
        for r in store.compute()
        .cosine_similarity("f", [1.0] * DIM, "c")
        .hadamard_product("f", [2.0] * DIM, "h")
        .dot_product("f", [1.0] * DIM, "d")
        .execute([4, 5, 6, 8])
        .collect()
    }
    assert out[8]["c"] is None and out[5]["c"] is None  # zero and -0.0 vectors
    assert math.isnan(out[6]["c"])
    assert out[4]["d"] is None and out[4]["c"] is None and out[4]["h"][2] is None
    assert struct.pack(">d", out[5]["d"]) == struct.pack(">d", 0.0)  # seed folds -0.0


def test_empty_batch(store):
    out = store.compute().project("label").dot_product("f", [1.0] * DIM, "d").error_channel()
    got = out.execute([])
    assert got.collect() == [] and got.schema == _spark_form(store, out).execute([]).schema
