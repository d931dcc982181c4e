"""F2 schema-evolution shapes under read-compute
(DaVinciComputeTest.java:87-125): missing field, nullable list, swapped
field order — parquet mergeSchema + by-name resolution give Avro
reader/writer semantics; compute on absent/null vectors yields NULL plus
an error-channel entry instead of failing."""

import os

import pyspark.sql.functions as F

from venice_spark.compute import ERROR_FIELD, ComputeRequestBuilder

W4 = [1.0, 2.0, 3.0, 4.0]


def _write_evolved(spark, tmp_path):
    d = str(tmp_path / "store")
    spark.createDataFrame(
        [("a", [1.0, 0.0, 0.0, 0.0], "n1")],
        "id string, member_feature array<float>, name string",
    ).write.mode("append").parquet(d)
    # evolved writer: no member_feature column (missing field), columns in
    # different order (swapped) — resolution is by name, as Avro reader schema
    spark.createDataFrame(
        [("n2", "b")], "name string, id string"
    ).write.mode("append").parquet(d)
    return spark.read.option("mergeSchema", "true").parquet(d)


def test_missing_field_compute_null_plus_error(spark, tmp_path):
    df = _write_evolved(spark, tmp_path)
    out = (
        ComputeRequestBuilder(df, ["id"])
        .project("name")
        .dot_product("member_feature", W4, "score")
        .error_channel()
        .plan()
    )
    rows = {r["id"]: r for r in out.collect()}
    assert rows["a"]["score"] is not None
    assert rows["b"]["score"] is None  # missing field -> NULL result, no crash
    errs = rows["b"][ERROR_FIELD] or {}
    assert "score" in errs  # keyed by the COMPUTED field (no dup-key abort)
    assert "member_feature" in errs["score"]  # message names the input field
    assert rows["b"]["name"] == "n2"  # swapped order resolved by name


def test_nullable_list_compute(spark):
    df = spark.createDataFrame(
        [("a", [1.0, 2.0, 3.0, 4.0]), ("b", None)],
        "id string, member_feature array<float>",
    )
    out = (
        ComputeRequestBuilder(df, ["id"])
        .dot_product("member_feature", W4, "score")
        .cosine_similarity("member_feature", W4, "cos")
        .plan()
    )
    rows = {r["id"]: r for r in out.collect()}
    assert rows["b"]["score"] is None and rows["b"]["cos"] is None
    assert abs(rows["a"]["score"] - sum(x * w for x, w in zip([1, 2, 3, 4], W4))) < 1e-6


def test_length_mismatch_error_entry(spark):
    df = spark.createDataFrame(
        [("a", [1.0, 2.0])], "id string, member_feature array<float>"
    )
    out = (
        ComputeRequestBuilder(df, ["id"])
        .dot_product("member_feature", W4, "score")
        .error_channel()
        .plan()
    ).first()
    assert out["score"] is None
    assert "score" in out[ERROR_FIELD]
    assert "member_feature" in out[ERROR_FIELD]["score"]


# ---------------------------------------------------------------------------
# Serving-LSM evolution (VERDICT r6 #2): a live hybrid/AA store must keep
# serving across a value-schema ADDITION — the reference's value schemas are
# a versioned evolvable list (schema/SchemaEntry.java:1, SchemaData.java) and
# hybrid stores serve through additions. The serving-log read schema comes
# from the writers' sidecar + the registry (hybrid.log_schema), never from a
# sampled footer (which silently dropped the added column whenever the sample
# predated it) and never from mergeSchema in the hot path (footer-bound: the
# r6 20M probe showed 8.9s vs 2.9s flat per trigger).
# ---------------------------------------------------------------------------

import pyspark.sql.types as T
import pytest


def _no_merge_schema(monkeypatch):
    """Fail the test if anything turns on mergeSchema while patched."""
    import pyspark.sql.readwriter as rw

    real = rw.DataFrameReader.option

    def guard(self, key, value=None):
        assert str(key).lower() != "mergeschema", (
            "mergeSchema used in the serving hot path"
        )
        return real(self, key, value)

    monkeypatch.setattr(rw.DataFrameReader, "option", guard)


def _one_shot_hybrid(st) -> dict:
    """The reseeded-rewrite oracle for a hybrid store: resolve_latest over
    the seed ∪ the whole RT log in ONE batch, read through the registry
    like every serving surface. Rows keyed by k."""
    from venice_spark.producer import read_rt_log
    from venice_spark.streaming.hybrid import (
        latest_wins,
        registered_value_types,
        resolve_registry_reader,
    )

    seed = st.df().drop("partition_id").withColumn("ts", F.lit(0).cast("long"))
    log = read_rt_log(st.spark, st.catalog, st.name)
    out = latest_wins(
        seed.unionByName(log, allowMissingColumns=True), ["k"], "ts"
    )
    out = resolve_registry_reader(out, registered_value_types(st.catalog, st.name))
    return {r["k"]: r for r in out.collect()}


def _one_shot_aa(st, value_schema: str) -> dict:
    """The reseeded-rewrite oracle for an AA store: base ∪ every RT op
    folded through merge_op_log in ONE batch (the kernel the replay
    shares). Rows keyed by k."""
    from venice_spark.merge.dcr import merge_op_log
    from venice_spark.producer import read_rt_log

    base = st.df().drop("partition_id")
    value_cols = [c for c in base.columns if c != "k" and not c.startswith("_")]
    base_ops = base.select(
        "k", F.lit("PUT").alias("op"), F.lit(0).cast("long").alias("ts"),
        F.lit(0).alias("colo"), *value_cols,
    )
    ops = base_ops.unionByName(
        read_rt_log(st.spark, st.catalog, st.name), allowMissingColumns=True
    )
    return {r["k"]: r for r in merge_op_log(ops, ["k"], value_schema).collect()}


def _evolved_hybrid(spark, tmp_path, monkeypatch):
    from venice_spark.engine import VeniceSparkEngine

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.catalog.create_store(
        "h",
        key_fields=["k"],
        partition_count=2,
        hybrid=True,
        value_schema=T.StructType([T.StructField("v", T.StringType())]),
    )
    eng.push("h", spark.createDataFrame([(1, "base"), (2, "base")], "k long, v string"))
    st = eng.store("h")
    p = st.producer()
    p.put(1, {"v": "v1"}, ts=100)
    p.flush(schema="k long, op string, ts long, colo int, v string")
    live = st.hybrid_serve()
    got = {r["k"]: r["v"] for r in live.read().collect()}
    assert got == {1: "v1", 2: "base"}, got

    # live evolution: register the addition FIRST (the reference's write
    # discipline), then write records carrying the new field
    eng.catalog.add_value_schema(
        "h",
        T.StructType(
            [T.StructField("v", T.StringType()), T.StructField("rank", T.LongType())]
        ),
    )
    p.put(3, {"v": "v3", "rank": 7}, ts=200)
    p.put(1, {"v": "v1b", "rank": 9}, ts=300)
    p.flush(schema="k long, op string, ts long, colo int, v string, rank long")
    live = st.hybrid_serve()
    _no_merge_schema(monkeypatch)
    rows = {r["k"]: (r["v"], r["rank"]) for r in live.read().collect()}
    monkeypatch.undo()
    # compaction folds the log AFTER the evolution: the evolved column
    # must survive the fold (the compact output is written with the
    # sidecar-derived read schema)
    live.compact()
    after = {r["k"]: (r["v"], r["rank"]) for r in live.read().collect()}
    assert after == rows, f"compaction dropped evolved data: {after}"
    return rows, st


def test_hybrid_store_serves_across_value_schema_addition(spark, tmp_path, monkeypatch):
    rows, _ = _evolved_hybrid(spark, tmp_path, monkeypatch)
    assert rows == {
        1: ("v1b", 9),   # touched after evolution: new field present
        2: ("base", None),  # untouched pre-evolution row: null-filled
        3: ("v3", 7),    # new key written with the evolved schema
    }, rows


def test_hybrid_append_evolution_matches_reseeded_rewrite(
    spark, tmp_path, monkeypatch
):
    """Parity: the evolved serving LSM serves exactly what a reseeded
    one-shot rewrite (seed ∪ the whole RT log, resolved in one batch)
    serves over the same op stream."""
    a, st = _evolved_hybrid(spark, tmp_path, monkeypatch)
    b = {k: (r["v"], r["rank"]) for k, r in _one_shot_hybrid(st).items()}
    assert a == b


def _evolved_aa(spark, tmp_path, monkeypatch):
    from venice_spark.engine import VeniceSparkEngine

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.catalog.create_store(
        "aa",
        key_fields=["k"],
        partition_count=2,
        active_active=True,
        value_schema=T.StructType(
            [T.StructField("name", T.StringType()), T.StructField("score", T.DoubleType())]
        ),
    )
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
    p.flush(schema=fs)
    live = st.aa_serve(["name", "score"])
    got = {r["k"]: r["name"] for r in live.read().collect()}
    assert got == {1: "a2", 2: "b"}, got

    eng.catalog.add_value_schema(
        "aa",
        T.StructType(
            [
                T.StructField("name", T.StringType()),
                T.StructField("score", T.DoubleType()),
                T.StructField("rank", T.LongType()),
            ]
        ),
    )
    fs2 = fs + ", rank long"
    p._buffer.append({"k": 3, "op": "PUT", "ts": 200, "colo": 1, "name": "c", "score": 3.0, "rank": 7})
    p._buffer.append({"k": 1, "op": "UPDATE", "ts": 300, "colo": 0, "set_rank": 9})
    p.flush(schema=fs2.replace("rank long", "rank long, set_rank long"))
    live = st.aa_serve(["name", "score", "rank"])
    _no_merge_schema(monkeypatch)
    rows = {r["k"]: (r["name"], r["score"], r["rank"]) for r in live.read().collect()}
    monkeypatch.undo()
    live.compact()
    after = {
        r["k"]: (r["name"], r["score"], r["rank"]) for r in live.read().collect()
    }
    assert after == rows, f"compaction dropped evolved data: {after}"
    return rows, st


def test_aa_store_serves_across_value_schema_addition(spark, tmp_path, monkeypatch):
    rows, _ = _evolved_aa(spark, tmp_path, monkeypatch)
    assert rows == {
        1: ("a2", 9.0, 9),    # set_rank UPDATE landed on the evolved field
        2: ("b", 2.0, None),  # untouched pre-evolution row: null-filled
        3: ("c", 3.0, 7),     # new key written with the evolved schema
    }, rows


@pytest.mark.slow
def test_aa_append_evolution_matches_reseeded_rewrite(spark, tmp_path, monkeypatch):
    """Parity: the evolved AA serving LSM serves exactly what a reseeded
    one-shot rewrite (base ∪ every op through merge_op_log) serves."""
    a, st = _evolved_aa(spark, tmp_path, monkeypatch)
    b = _one_shot_aa(st, "k long, name string, score double, rank long")
    assert a == {k: (r["name"], r["score"], r["rank"]) for k, r in b.items()}


def _promoted_hybrid(spark, tmp_path, monkeypatch):
    """int->long and float->double promotion on a LIVE hybrid store: the
    registry evolves mid-serve, old log/RT files keep their narrow
    physical types, and every read widens (VERDICT r7 #2 — the reference
    accepts these promotions, SchemaCompatibility.java)."""
    from venice_spark.engine import VeniceSparkEngine

    eng = VeniceSparkEngine(spark, str(tmp_path / "proot"))
    eng.catalog.create_store(
        "h",
        key_fields=["k"],
        partition_count=2,
        hybrid=True,
        value_schema=T.StructType(
            [T.StructField("count", T.IntegerType()), T.StructField("score", T.FloatType())]
        ),
        schema_compat="backward",  # promotions are backward-, not forward-legal
    )
    eng.push(
        "h",
        spark.createDataFrame([(1, 5, 1.5), (2, 6, 2.5)], "k long, count int, score float"),
    )
    st = eng.store("h")
    p = st.producer()
    p.put(1, {"count": 10, "score": 1.25}, ts=100)
    p.flush(schema="k long, op string, ts long, colo int, count int, score float")
    live = st.hybrid_serve()
    got = {r["k"]: (r["count"], r["score"]) for r in live.read().collect()}
    assert got == {1: (10, 1.25), 2: (6, 2.5)}, got

    # live widening — pre-fix this bricked every read/write with the
    # retype error even though the evolution is reference-legal
    eng.catalog.add_value_schema(
        "h",
        T.StructType(
            [T.StructField("count", T.LongType()), T.StructField("score", T.DoubleType())]
        ),
    )
    big = 1 << 40  # does not fit int32: proves the log really reads long
    p.put(3, {"count": big, "score": 3.5}, ts=200)
    p.put(1, {"count": big + 1, "score": 0.25}, ts=300)
    p.flush(schema="k long, op string, ts long, colo int, count long, score double")
    live = st.hybrid_serve()
    _no_merge_schema(monkeypatch)
    rows = {r["k"]: (r["count"], r["score"]) for r in live.read().collect()}
    monkeypatch.undo()
    # compaction folds a log whose files mix int32 and int64 physical
    # types; the fold must write the widened type and lose nothing
    live.compact()
    after = {r["k"]: (r["count"], r["score"]) for r in live.read().collect()}
    assert after == rows, f"compaction corrupted promoted data: {after}"
    return rows, st


def test_hybrid_store_serves_across_type_promotion(spark, tmp_path, monkeypatch):
    rows, _ = _promoted_hybrid(spark, tmp_path, monkeypatch)
    assert rows == {
        1: ((1 << 40) + 1, 0.25),  # re-put post-promotion: wide value
        2: (6, 2.5),               # untouched narrow row reads widened
        3: (1 << 40, 3.5),         # new key, > int32
    }, rows


def test_hybrid_promotion_append_matches_reseeded_rewrite(spark, tmp_path, monkeypatch):
    """Parity: the promoted serving LSM serves exactly what a reseeded
    one-shot rewrite (seed ∪ the whole RT log, resolved in one batch and
    read through the registry) serves over the same op stream."""
    a, st = _promoted_hybrid(spark, tmp_path, monkeypatch)
    b = {k: (r["count"], r["score"]) for k, r in _one_shot_hybrid(st).items()}
    assert a == b


def _promoted_aa(spark, tmp_path, monkeypatch):
    from venice_spark.engine import VeniceSparkEngine

    eng = VeniceSparkEngine(spark, str(tmp_path / "paroot"))
    eng.catalog.create_store(
        "aa",
        key_fields=["k"],
        partition_count=2,
        active_active=True,
        value_schema=T.StructType(
            [T.StructField("count", T.IntegerType()), T.StructField("score", T.FloatType())]
        ),
        schema_compat="backward",
    )
    eng.push(
        "aa",
        spark.createDataFrame([(1, 5, 1.5), (2, 6, 2.5)], "k long, count int, score float"),
    )
    st = eng.store("aa")
    p = st.producer()
    fs = "k long, op string, ts long, colo int, count int, score float"
    p._buffer.append({"k": 1, "op": "PUT", "ts": 100, "colo": 0, "count": 10, "score": 1.25})
    p.flush(schema=fs)
    live = st.aa_serve(["count", "score"])
    got = {r["k"]: r["count"] for r in live.read().collect()}
    assert got == {1: 10, 2: 6}, got

    eng.catalog.add_value_schema(
        "aa",
        T.StructType(
            [T.StructField("count", T.LongType()), T.StructField("score", T.DoubleType())]
        ),
    )
    big = 1 << 40
    fs2 = "k long, op string, ts long, colo int, count long, score double"
    p._buffer.append({"k": 3, "op": "PUT", "ts": 200, "colo": 1, "count": big, "score": 3.5})
    # UPDATE touching only count: the untouched score must carry through
    # the fold with the widened declared type (narrow would Arrow-error)
    p._buffer.append({"k": 1, "op": "UPDATE", "ts": 300, "colo": 0, "set_count": big + 1})
    p.flush(schema=fs2.replace("count long", "count long, set_count long"))
    live = st.aa_serve(["count", "score"])
    _no_merge_schema(monkeypatch)
    rows = {r["k"]: (r["count"], r["score"]) for r in live.read().collect()}
    monkeypatch.undo()
    live.compact()
    after = {r["k"]: (r["count"], r["score"]) for r in live.read().collect()}
    assert after == rows, f"compaction corrupted promoted data: {after}"
    return rows, st


def test_aa_store_serves_across_type_promotion(spark, tmp_path, monkeypatch):
    rows, _ = _promoted_aa(spark, tmp_path, monkeypatch)
    assert rows == {
        1: ((1 << 40) + 1, 1.25),  # UPDATE widened count; score carried
        2: (6, 2.5),               # untouched narrow row reads widened
        3: (1 << 40, 3.5),
    }, rows


def test_hybrid_store_serves_across_string_bytes_promotion(
    spark, tmp_path, monkeypatch
):
    """string↔bytes is Avro-promotable BOTH ways, so the registry accepts
    it even under the default `full` compat level; the log resolves the
    conflict to binary (lossless, monotone) and old string-typed files
    read back as their UTF-8 bytes."""
    from venice_spark.engine import VeniceSparkEngine
    from venice_spark.streaming.hybrid import log_schema

    eng = VeniceSparkEngine(spark, str(tmp_path / "sbroot"))
    eng.catalog.create_store(
        "h",
        key_fields=["k"],
        partition_count=2,
        hybrid=True,
        value_schema=T.StructType([T.StructField("v", T.StringType())]),
    )
    eng.push("h", spark.createDataFrame([(1, "abc")], "k long, v string"))
    st = eng.store("h")
    p = st.producer()
    p.put(2, {"v": "xy"}, ts=100)
    p.flush(schema="k long, op string, ts long, colo int, v string")
    st.hybrid_serve()

    eng.catalog.add_value_schema(
        "h", T.StructType([T.StructField("v", T.BinaryType())])
    )  # default full compat accepts: string<->bytes promotes both ways
    p.put(3, {"v": b"zz"}, ts=200)
    p.flush(schema="k long, op string, ts long, colo int, v binary")
    live = st.hybrid_serve()
    _no_merge_schema(monkeypatch)
    rows = {r["k"]: r["v"] for r in live.read().collect()}
    monkeypatch.undo()
    assert rows == {1: b"abc", 2: b"xy", 3: b"zz"}, rows
    live.compact()
    assert {r["k"]: r["v"] for r in live.read().collect()} == rows
    serving = os.path.join(eng.catalog.store_dir("h"), "serving")
    side = log_schema(serving)
    assert {f.name: f.dataType.simpleString() for f in side.fields}["v"] == "binary"


@pytest.mark.slow
def test_aa_promotion_append_matches_reseeded_rewrite(spark, tmp_path, monkeypatch):
    """Parity: the promoted AA serving LSM serves exactly what a reseeded
    one-shot rewrite (base ∪ every op through merge_op_log) serves."""
    a, st = _promoted_aa(spark, tmp_path, monkeypatch)
    b = _one_shot_aa(st, "k long, count long, score double")
    assert a == {k: (r["count"], r["score"]) for k, r in b.items()}


def test_log_schema_sidecar_refuses_silent_retype(tmp_path):
    """Serving-log columns may be added, never silently retyped — a quiet
    type swap would corrupt every pre-existing file's reads."""
    from venice_spark.streaming.hybrid import union_log_fields

    with pytest.raises(ValueError, match="retyped"):
        union_log_fields(
            [T.StructField("v", T.StringType(), True)],
            [T.StructField("v", T.LongType(), True)],
        )


def test_batch_read_resolves_reader_schema(spark, tmp_path):
    """Reader-schema resolution on the BATCH read surface (r8): the
    reference deserializes reads with the LATEST registered value schema
    (SchemaEntry), so after a promotion registers, df()/get()/batch_get
    return the widened type for old data, and a registry-added column
    null-fills without a re-push."""
    from venice_spark.engine import VeniceSparkEngine

    eng = VeniceSparkEngine(spark, str(tmp_path / "rr"))
    eng.catalog.create_store(
        "s",
        key_fields=["k"],
        partition_count=2,
        value_schema=T.StructType(
            [T.StructField("count", T.IntegerType()), T.StructField("score", T.FloatType())]
        ),
        schema_compat="backward",
    )
    eng.push("s", spark.createDataFrame([(1, 5, 1.5)], "k long, count int, score float"))
    st = eng.store("s")
    assert dict(st.df().dtypes)["count"] == "int"

    eng.catalog.add_value_schema(
        "s",
        T.StructType(
            [
                T.StructField("count", T.LongType()),
                T.StructField("score", T.DoubleType()),
                T.StructField("tag", T.StringType()),
            ]
        ),
    )
    types = dict(st.df().dtypes)
    assert types["count"] == "bigint" and types["score"] == "double"
    assert types["tag"] == "string"  # registry-added, null-filled
    row = st.get(1)
    assert row["count"] == 5 and row["score"] == 1.5 and row["tag"] is None
    got = st.batch_get([1]).collect()[0]
    assert got["count"] == 5 and got["tag"] is None


def test_promotion_target_algebra():
    """Lattice laws the serving-log union depends on, property-tested over
    every primitive pair and one nesting level: commutativity (the union
    must not depend on which writer appends first), idempotence at the
    target (a log already widened to the target never re-widens — the
    sidecar is monotone), and absorption (the target can hold each input:
    promotion_target(target, x) == target)."""
    import itertools

    from hypothesis import given, settings
    from hypothesis import strategies as st_

    from venice_spark.schema_compat import promotion_target

    prim = [
        T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType(),
        T.FloatType(), T.DoubleType(), T.StringType(), T.BinaryType(),
        T.BooleanType(), T.DateType(), T.TimestampType(),
    ]
    pool = prim + [T.ArrayType(p, True) for p in prim] + [
        T.MapType(T.StringType(), p, True) for p in prim
    ] + [
        # asymmetric nullability: resolution normalizes to containsNull=True
        T.ArrayType(T.IntegerType(), False),
        T.ArrayType(T.LongType(), False),
        T.MapType(T.StringType(), T.FloatType(), False),
    ]

    @settings(max_examples=200, deadline=None)
    @given(st_.sampled_from(pool), st_.sampled_from(pool))
    def laws(a, b):
        ab = promotion_target(a, b)
        ba = promotion_target(b, a)
        # commutative (modulo array/map nullability defaults, which the
        # lattice normalizes to containsNull=True on resolution)
        assert ab == ba, (a, b, ab, ba)
        if ab is not None:
            # absorption: the target holds each input
            assert promotion_target(ab, a) == ab, (a, ab)
            assert promotion_target(ab, b) == ab, (b, ab)
            # idempotence at the target
            assert promotion_target(ab, ab) == ab

    laws()
    # exhaustive over primitives too (hypothesis sampling could miss pairs)
    for a, b in itertools.product(prim, prim):
        assert promotion_target(a, b) == promotion_target(b, a), (a, b)


@pytest.mark.slow
def test_every_promotion_target_is_parquet_readable(spark, tmp_path):
    """The lattice's load-bearing CONTRACT: whatever promotion_target
    returns must natively read parquet files of BOTH input types — the
    serving-log sidecar carries the target over mixed-physical-type
    filesets. Enumerate every resolvable primitive pair, write one file
    per input type into one dir, read with the target schema."""
    import itertools

    from venice_spark.schema_compat import promotion_target

    prim = [
        T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType(),
        T.FloatType(), T.DoubleType(), T.StringType(), T.BinaryType(),
    ]

    def sample(t):
        if isinstance(t, T.BinaryType):
            return b"x"
        if isinstance(t, T.StringType):
            return "x"
        if isinstance(t, (T.FloatType, T.DoubleType)):
            return 1.5
        return 1

    n = 0
    resolvable = 0
    for a, b in itertools.combinations(prim, 2):
        t = promotion_target(a, b)
        if t is None:
            continue
        resolvable += 1
        d = str(tmp_path / f"pair{n}")
        n += 1
        for src in (a, b):
            spark.createDataFrame(
                [(sample(src),)], T.StructType([T.StructField("x", src, True)])
            ).write.mode("append").parquet(d)
        rows = (
            spark.read.schema(T.StructType([T.StructField("x", t, True)]))
            .parquet(d)
            .collect()
        )
        assert len(rows) == 2, f"{a} + {b} -> {t}: read lost rows"
        assert all(r["x"] is not None for r in rows), f"{a} + {b} -> {t}"
    assert resolvable >= 10  # the lattice did not silently collapse


def test_superset_value_schema_unions_all_registered_schemas(spark, tmp_path):
    """SupersetSchemaGenerator semantics: the reader-side registry view is
    the union of EVERY registered value schema — a field dropped by a
    later schema stays readable, promotions resolve to the target, and on
    a true retype (compat=none) the latest schema's type is authoritative."""
    from venice_spark.catalog import StoreCatalog

    cat = StoreCatalog(str(tmp_path / "ss"))
    cat.create_store(
        "s",
        key_fields=["k"],
        value_schema=T.StructType(
            [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
        ),
        schema_compat="backward",
    )
    # v2 widens a and DROPS b (backward-legal: a reader without b just
    # projects it away)
    cat.add_value_schema("s", T.StructType([T.StructField("a", T.LongType())]))
    sup = {f.name: f.dataType.simpleString() for f in cat.get_superset_value_schema("s").fields}
    assert sup == {"a": "bigint", "b": "string"}

    # reader surface: a registry field only OLD schemas carry still
    # null-fills on reads of data that predates it entirely
    from venice_spark.engine import VeniceSparkEngine

    eng = VeniceSparkEngine(spark, str(tmp_path / "ss2"))
    eng.catalog.create_store(
        "t",
        key_fields=["k"],
        partition_count=2,
        value_schema=T.StructType([T.StructField("a", T.IntegerType())]),
        schema_compat="backward",
    )
    eng.push("t", spark.createDataFrame([(1, 5)], "k long, a int"))
    eng.catalog.add_value_schema(
        "t",
        T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]),
    )
    eng.catalog.add_value_schema(
        "t", T.StructType([T.StructField("a", T.LongType())])
    )  # v3 drops b again
    types = dict(eng.store("t").df().dtypes)
    assert types["a"] == "bigint"
    assert types["b"] == "string"  # superset retains the dropped field


def test_union_log_fields_resolves_avro_promotions():
    """VERDICT r7 #2: same-name fields whose types differ by a LEGAL Avro
    promotion resolve to the promotion target instead of raising — in
    BOTH directions (a narrow writer appending into an already-widened log
    keeps the wide type), for string<->bytes (binary wins: lossless and
    monotone), and element-wise inside arrays."""
    from venice_spark.streaming.hybrid import union_log_fields

    def one(base_t, extra_t):
        out = union_log_fields(
            [T.StructField("v", base_t, True)], [T.StructField("v", extra_t, True)]
        )
        assert len(out) == 1
        return out[0].dataType

    assert one(T.IntegerType(), T.LongType()) == T.LongType()
    assert one(T.LongType(), T.IntegerType()) == T.LongType()  # keep wide
    assert one(T.FloatType(), T.DoubleType()) == T.DoubleType()
    assert one(T.IntegerType(), T.DoubleType()) == T.DoubleType()
    assert one(T.StringType(), T.BinaryType()) == T.BinaryType()
    assert one(T.BinaryType(), T.StringType()) == T.BinaryType()
    assert one(
        T.ArrayType(T.FloatType()), T.ArrayType(T.DoubleType())
    ) == T.ArrayType(T.DoubleType(), True)
    # the keep-base reader mode also widens (a registry promotion must
    # take effect on reads immediately)
    out = union_log_fields(
        [T.StructField("v", T.IntegerType(), True)],
        [T.StructField("v", T.LongType(), True)],
        on_conflict="keep-base",
    )
    assert out[0].dataType == T.LongType()


def test_promotion_target_rejects_illegal_pairs():
    from venice_spark.schema_compat import promotion_target

    assert promotion_target(T.StringType(), T.LongType()) is None
    assert promotion_target(T.BooleanType(), T.IntegerType()) is None
    # Avro-LEGAL but not natively parquet-readable (probed: int64->float/
    # double reads fail PARQUET_COLUMN_DATA_TYPE_MISMATCH) — the log union
    # must refuse these rather than brick every read of old int64 files
    # (code-review r8 critical finding)
    assert promotion_target(T.LongType(), T.DoubleType()) is None
    assert promotion_target(T.LongType(), T.FloatType()) is None
    # float is never a TARGET (int->float unreadable); int-family + float
    # resolves to double, which BOTH sides widen to natively
    assert promotion_target(T.IntegerType(), T.FloatType()) == T.DoubleType()
    assert promotion_target(T.ShortType(), T.FloatType()) == T.DoubleType()
    assert (
        promotion_target(
            T.MapType(T.StringType(), T.IntegerType()),
            T.MapType(T.LongType(), T.IntegerType()),
        )
        is None
    )  # map KEY types must match exactly
    assert promotion_target(
        T.MapType(T.StringType(), T.IntegerType()),
        T.MapType(T.StringType(), T.LongType()),
    ) == T.MapType(T.StringType(), T.LongType(), True)


def test_avro_promotion_target_full_matrix():
    """VERDICT r8 missing #1: the FULL-Avro lattice (avro_promotion_target)
    obeys the same laws as the native one (commutative, absorbing,
    idempotent), is a SUPER-lattice of it (agrees wherever the native one
    resolves), and additionally resolves exactly the cast-on-read pairs —
    long↔double, long↔float and int-family↔float (all to double). Parity
    spec: SchemaCompatibility.java:1 (long is promotable to float/double),
    RowToAvroConverter.java:69-483 maps the same pairs."""
    import itertools

    from venice_spark.schema_compat import avro_promotion_target, promotion_target

    prim = [
        T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType(),
        T.FloatType(), T.DoubleType(), T.StringType(), T.BinaryType(),
        T.BooleanType(), T.DateType(), T.TimestampType(),
    ]
    pool = prim + [T.ArrayType(p, True) for p in prim] + [
        T.MapType(T.StringType(), p, True) for p in prim
    ]
    for a, b in itertools.product(pool, pool):
        ab = avro_promotion_target(a, b)
        assert ab == avro_promotion_target(b, a), (a, b)
        native = promotion_target(a, b)
        if native is not None:
            assert ab == native, (a, b, ab, native)  # super-lattice
        if ab is not None:
            assert avro_promotion_target(ab, a) == ab, (a, ab)  # absorbing
            assert avro_promotion_target(ab, b) == ab, (b, ab)
            assert avro_promotion_target(ab, ab) == ab

    # the pairs the native lattice refuses but full Avro accepts
    assert promotion_target(T.LongType(), T.DoubleType()) is None
    assert avro_promotion_target(T.LongType(), T.DoubleType()) == T.DoubleType()
    assert avro_promotion_target(T.LongType(), T.FloatType()) == T.DoubleType()
    assert avro_promotion_target(T.IntegerType(), T.FloatType()) == T.DoubleType()
    assert avro_promotion_target(
        T.ArrayType(T.LongType()), T.ArrayType(T.DoubleType())
    ) == T.ArrayType(T.DoubleType(), True)
    # true retypes stay refused in BOTH lattices
    assert avro_promotion_target(T.StringType(), T.LongType()) is None
    assert avro_promotion_target(T.BooleanType(), T.IntegerType()) is None
    assert (
        avro_promotion_target(
            T.MapType(T.StringType(), T.LongType()),
            T.MapType(T.LongType(), T.LongType()),
        )
        is None
    )


def _cast_promoted_hybrid(spark, tmp_path):
    """Drive a long→double registry evolution on a LIVE hybrid store —
    the promotion the r8 lattice refused because the vectorized parquet
    reader cannot widen int64 on scan. Cast-on-read (VERDICT r8 missing
    #1): old int64 files scan with their file type and cast to double as
    a projection; zero rewrites. Returns {k: n} after ops, a compact
    (which materializes DOUBLE files beside the long ones — the legacy
    fileset split), and more ops."""
    from venice_spark.engine import VeniceSparkEngine

    eng = VeniceSparkEngine(spark, str(tmp_path / "croot"))
    eng.catalog.create_store(
        "h",
        key_fields=["k"],
        partition_count=2,
        hybrid=True,
        value_schema=T.StructType([T.StructField("n", T.LongType())]),
        schema_compat="backward",
    )
    big = (1 << 40) + 3  # > int32: the pre-evolution rows are really long
    eng.push("h", spark.createDataFrame([(1, big), (2, 6)], "k long, n long"))
    st = eng.store("h")
    p = st.producer()
    p.put(3, {"n": 7}, ts=100)
    p.flush(schema="k long, op string, ts long, colo int, n long")
    live = st.hybrid_serve()
    assert {r["k"]: r["n"] for r in live.read().collect()} == {1: big, 2: 6, 3: 7}

    # the evolution the r8 lattice refused — must now serve, not raise
    eng.catalog.add_value_schema(
        "h", T.StructType([T.StructField("n", T.DoubleType())])
    )
    live = st.hybrid_serve()
    assert dict(live.read().dtypes)["n"] == "double"

    # keep writing (narrow producer) and serving across a compact
    p.put(4, {"n": 8}, ts=200)
    p.flush(schema="k long, op string, ts long, colo int, n long")
    live = st.hybrid_serve()
    live.compact()  # double files land beside int64 files
    p.put(2, {"n": 9}, ts=300)
    p.flush(schema="k long, op string, ts long, colo int, n long")
    live = st.hybrid_serve()
    return {r["k"]: r["n"] for r in live.read().collect()}


def test_hybrid_store_serves_across_long_double_promotion(spark, tmp_path):
    rows = _cast_promoted_hybrid(spark, tmp_path)
    big = (1 << 40) + 3
    assert rows == {1: float(big), 2: 9.0, 3: 7.0, 4: 8.0}, rows


def test_hybrid_cast_promotion_append_matches_reseeded_rewrite(spark, tmp_path):
    """Parity: the cast-promoted serving LSM (legacy int64 files +
    compacted double files under one sidecar) serves exactly what a fresh
    store typed double from birth serves for the same final state."""
    from venice_spark.engine import VeniceSparkEngine

    a = _cast_promoted_hybrid(spark, tmp_path / "a")
    # reseed: replay the identical final state through a plain push on a
    # new store typed double from birth
    eng = VeniceSparkEngine(spark, str(tmp_path / "fresh"))
    eng.catalog.create_store("f", key_fields=["k"])
    eng.push(
        "f",
        spark.createDataFrame(sorted(a.items()), "k long, n double"),
    )
    b = {r["k"]: r["n"] for r in eng.store("f").df().select("k", "n").collect()}
    assert a == b


@pytest.mark.slow
def test_aa_store_serves_across_long_double_promotion(spark, tmp_path):
    """AA flavor: the DCR replay's serving log takes the same cast-on-read
    promotion (shared sidecar/read_log machinery)."""
    from venice_spark.engine import VeniceSparkEngine

    eng = VeniceSparkEngine(spark, str(tmp_path / "aab"))
    eng.catalog.create_store(
        "h",
        key_fields=["k"],
        partition_count=2,
        hybrid=True,
        active_active=True,
        value_schema=T.StructType([T.StructField("n", T.LongType())]),
        schema_compat="backward",
    )
    big = (1 << 40) + 5
    eng.push("h", spark.createDataFrame([(1, big), (2, 6)], "k long, n long"))
    st = eng.store("h")
    p = st.producer()
    p.put(3, {"n": 7}, ts=100)
    p.flush(schema="k long, op string, ts long, colo int, n long")
    live = st.aa_serve(["n"])
    got = {r["k"]: r["n"] for r in live.read().collect()}
    assert got == {1: big, 2: 6, 3: 7}, got

    eng.catalog.add_value_schema(
        "h", T.StructType([T.StructField("n", T.DoubleType())])
    )
    live = st.aa_serve(["n"])
    assert dict(live.read().dtypes)["n"] == "double"
    live.compact()  # double fileset beside int64 under one sidecar
    p.put(4, {"n": 8}, ts=200)
    p.flush(schema="k long, op string, ts long, colo int, n long")
    live = st.aa_serve(["n"])
    got = {r["k"]: r["n"] for r in live.read().collect()}
    assert got == {1: float(big), 2: 6.0, 3: 7.0, 4: 8.0}, got


def test_rt_flush_auto_migrates_nonnative_widening(spark, tmp_path):
    """VERDICT r9 #3 closed: a live long→double RT evolution needs NO
    operator step. The flush that first carries the wide type detects the
    non-native sidecar widening and migrates the rt log in place under
    the flock it already holds (atomic swap, lossless casts) — matching
    the reference, which accepts the same evolution on its RT topic with
    no admin action (schema/avro/SchemaCompatibility.java:1). The old
    `admin compact --cast` pointer is demoted to true retypes, which
    still refuse loudly."""
    import pyarrow.parquet as pq

    from venice_spark.engine import VeniceSparkEngine
    from venice_spark.streaming.hybrid import list_log_data_files, log_schema

    eng = VeniceSparkEngine(spark, str(tmp_path / "rtc"))
    eng.catalog.create_store(
        "m",
        key_fields=["k"],
        hybrid=True,
        value_schema=T.StructType([T.StructField("n", T.LongType())]),
        schema_compat="backward",
    )
    eng.push("m", spark.createDataFrame([(1, 10)], "k long, n long"))
    st = eng.store("m")
    p = st.producer()
    p.put(2, {"n": 20}, ts=10)
    p.flush(schema="k long, op string, ts long, colo int, n long")
    # the narrow flush is already part of a served state: migration must
    # not lose or double what a consumer checkpoint has folded
    live = st.hybrid_serve()
    assert {r["k"]: r["n"] for r in live.read().collect()} == {1: 10, 2: 20}
    eng.catalog.add_value_schema(
        "m", T.StructType([T.StructField("n", T.DoubleType())])
    )

    p.put(3, {"n": 3.5}, ts=20)
    p.flush(schema="k long, op string, ts long, colo int, n double")  # no raise

    rt_dir = eng.catalog.update_log_dir("m")
    side = log_schema(rt_dir)
    assert dict((f.name, f.dataType.simpleString()) for f in side.fields)["n"] == "double"
    # EVERY rt file is physically wide — the invariant the stream scan needs
    for rel in list_log_data_files(rt_dir):
        phys = pq.ParquetFile(os.path.join(rt_dir, rel)).schema_arrow
        assert str(phys.field("n").type) == "double", rel

    p.put(4, {"n": 40}, ts=30)  # narrow flush into the double sidecar
    p.flush(schema="k long, op string, ts long, colo int, n long")

    # the serve's file-stream checkpoint predates the migration (re-keyed
    # files replay in full) — the fold must stay content-exact
    live = st.hybrid_serve()
    rows = sorted((r["k"], r["n"]) for r in live.read().collect())
    assert rows == [(1, 10.0), (2, 20.0), (3, 3.5), (4, 40.0)], rows
    live = st.hybrid_serve()  # and stable across another serve
    rows = sorted((r["k"], r["n"]) for r in live.read().collect())
    assert rows == [(1, 10.0), (2, 20.0), (3, 3.5), (4, 40.0)], rows

    # a TRUE retype still refuses loudly (the remaining compact --cast case)
    p.put(5, {"n": "oops"}, ts=40)
    with pytest.raises(ValueError, match="retyped"):
        p.flush(schema="k long, op string, ts long, colo int, n string")
    p._buffer.clear()


def test_rt_auto_migration_mid_aa_serve_stays_dcr_exact(spark, tmp_path):
    """AA flavor of the r10 RT auto-migration: the rt rewrite re-keys the
    log's files, so the AA serve's file-stream checkpoint replays the
    WHOLE log through the DCR kernel — replayed ops keep their original
    (ts, colo), so the fold must be value-identical to before plus the
    new wide ops, across both cross-colo writers."""
    from venice_spark.engine import VeniceSparkEngine

    eng = VeniceSparkEngine(spark, str(tmp_path / "aart"))
    eng.catalog.create_store(
        "aa",
        key_fields=["k"],
        partition_count=2,
        active_active=True,
        value_schema=T.StructType(
            [T.StructField("name", T.StringType()), T.StructField("n", T.LongType())]
        ),
        schema_compat="backward",
    )
    eng.push(
        "aa", spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "k long, name string, n long")
    )
    st = eng.store("aa")
    p0 = st.producer()  # colo 0
    from venice_spark.producer import VeniceProducer

    p1 = VeniceProducer(spark, eng.catalog, "aa", colo=1)
    OPS_L = "k long, op string, ts long, colo int, name string, n long"
    OPS_D = "k long, op string, ts long, colo int, name string, n double"
    p0.put(1, {"name": "a1", "n": 11}, ts=100)
    p0.flush(schema=OPS_L)
    p1.put(3, {"name": "c", "n": 30}, ts=150)
    p1.flush(schema=OPS_L)
    live = st.aa_serve(["name", "n"])
    got = {r["k"]: (r["name"], r["n"]) for r in live.read().collect()}
    assert got == {1: ("a1", 11), 2: ("b", 20), 3: ("c", 30)}, got

    eng.catalog.add_value_schema(
        "aa",
        T.StructType(
            [T.StructField("name", T.StringType()), T.StructField("n", T.DoubleType())]
        ),
    )
    p1.put(4, {"name": "d", "n": 4.5}, ts=200)
    p1.flush(schema=OPS_D)  # auto-migrates the rt log in place
    p0.put(1, {"name": "a2", "n": 1.5}, ts=250)
    p0.flush(schema=OPS_D)  # wide flush lands on the migrated sidecar
    live = st.aa_serve(["name", "n"])
    got = {r["k"]: (r["name"], r["n"]) for r in live.read().collect()}
    assert got == {
        1: ("a2", 1.5),
        2: ("b", 20.0),
        3: ("c", 30.0),
        4: ("d", 4.5),
    }, got


def test_serving_reads_resolve_registry_like_every_other_surface(spark, tmp_path):
    """Code-review r9: the serving-log reads (hybrid AND AA) must resolve
    the registry exactly like the batch surface — a registry evolution
    that lands with no new data (long→double plus an ADDED column) must
    still answer `double`/null on the next read, not `long` or an
    AnalysisException on the added column. One shared helper serves
    every surface (hybrid.resolve_registry_reader)."""
    from venice_spark.engine import VeniceSparkEngine

    # hybrid: long→double promotion + added column null-fills
    eng = VeniceSparkEngine(spark, str(tmp_path / "hr"))
    eng.catalog.create_store(
        "h",
        key_fields=["k"],
        hybrid=True,
        value_schema=T.StructType([T.StructField("n", T.LongType())]),
        schema_compat="backward",
    )
    eng.push("h", spark.createDataFrame([(1, 6)], "k long, n long"))
    st = eng.store("h")
    p = st.producer()
    p.put(2, {"n": 7}, ts=10)
    p.flush(schema="k long, op string, ts long, colo int, n long")
    st.hybrid_serve()
    eng.catalog.add_value_schema(
        "h",
        T.StructType(
            [T.StructField("n", T.DoubleType()), T.StructField("extra", T.StringType())]
        ),
    )
    live = st.hybrid_serve()
    dt = dict(live.read().dtypes)
    assert dt["n"] == "double", dt
    got = {r["k"]: (r["n"], r["extra"]) for r in live.read().collect()}
    assert got == {1: (6.0, None), 2: (7.0, None)}, got

    # AA: same contract through the DCR replay
    eng2 = VeniceSparkEngine(spark, str(tmp_path / "ar"))
    eng2.catalog.create_store(
        "a",
        key_fields=["k"],
        hybrid=True,
        active_active=True,
        value_schema=T.StructType([T.StructField("n", T.LongType())]),
        schema_compat="backward",
    )
    eng2.push("a", spark.createDataFrame([(1, 6)], "k long, n long"))
    st2 = eng2.store("a")
    p2 = st2.producer()
    p2.put(2, {"n": 7}, ts=10)
    p2.flush(schema="k long, op string, ts long, colo int, n long")
    st2.aa_serve(["n"])
    eng2.catalog.add_value_schema(
        "a", T.StructType([T.StructField("n", T.DoubleType())])
    )
    live2 = st2.aa_serve(["n"])
    dt2 = dict(live2.read().dtypes)
    assert dt2["n"] == "double", dt2
    got2 = {r["k"]: r["n"] for r in live2.read().collect()}
    assert got2 == {1: 6.0, 2: 7.0}, got2


@pytest.mark.slow
def test_successive_promotions_claim_files_by_oldest_group(spark, tmp_path):
    """Two promotions in sequence — int→long (native, no group) then
    long→double (cast-on-read, group) then another value column promoted
    later (second group) — exercise read_log's oldest-group-first file
    claiming: a file written under generation G must scan with G's
    schema even when later groups also list it, and files appended
    between the promotions scan with the schema they were aligned to at
    write time. Values prove it: ints beyond int32 and fractional
    doubles survive every step."""
    from venice_spark.engine import VeniceSparkEngine
    from venice_spark.streaming.hybrid import log_legacy_groups

    eng = VeniceSparkEngine(spark, str(tmp_path / "sp"))
    eng.catalog.create_store(
        "h",
        key_fields=["k"],
        hybrid=True,
        value_schema=T.StructType(
            [T.StructField("a", T.IntegerType()), T.StructField("b", T.LongType())]
        ),
        schema_compat="backward",
    )
    eng.push("h", spark.createDataFrame([(1, 5, 50)], "k long, a int, b long"))
    st = eng.store("h")
    p = st.producer()
    p.put(2, {"a": 6, "b": 60}, ts=100)
    p.flush(schema="k long, op string, ts long, colo int, a int, b long")
    live = st.hybrid_serve()

    # promotion 1: a int→long — NATIVE, must not create a legacy group
    eng.catalog.add_value_schema(
        "h",
        T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.LongType())]),
    )
    p.put(3, {"a": (1 << 40), "b": 70}, ts=200)
    p.flush(schema="k long, op string, ts long, colo int, a long, b long")
    live = st.hybrid_serve()
    serving = os.path.join(eng.catalog.store_dir("h"), "serving")
    assert log_legacy_groups(serving) == [], "native promotion made a group"

    # promotion 2: a long→double — cast-on-read; compact materializes it
    eng.catalog.add_value_schema(
        "h",
        T.StructType([T.StructField("a", T.DoubleType()), T.StructField("b", T.LongType())]),
    )
    live = st.hybrid_serve()
    live.compact()
    g1 = log_legacy_groups(serving)
    assert len(g1) == 1, g1

    # ops between the promotions land at the new sidecar types; the RT
    # dir needs its one-time cast migration before a double flush (the
    # refusal is the rt contract — see
    # test_rt_flush_refuses_widening_until_cast_migration)
    from venice_spark.streaming.hybrid import compact_cast

    compact_cast(spark, eng.catalog, "h", eng.catalog.update_log_dir("h"))
    p.put(4, {"a": 0.25, "b": 80}, ts=300)
    p.flush(schema="k long, op string, ts long, colo int, a double, b long")
    live = st.hybrid_serve()

    # promotion 3: b long→double — a SECOND group while the first lives
    eng.catalog.add_value_schema(
        "h",
        T.StructType([T.StructField("a", T.DoubleType()), T.StructField("b", T.DoubleType())]),
    )
    live = st.hybrid_serve()
    live.compact()
    groups = log_legacy_groups(serving)
    assert 1 <= len(groups) <= 2, groups

    got = {r["k"]: (r["a"], r["b"]) for r in live.read().collect()}
    assert got == {
        1: (5.0, 50.0),
        2: (6.0, 60.0),
        3: (float(1 << 40), 70.0),
        4: (0.25, 80.0),
    }, got
    dt = dict(live.read().dtypes)
    assert dt["a"] == "double" and dt["b"] == "double", dt

    # compactions retire the legacy files; the groups drain to zero
    live.compact()
    compact_cast(spark, eng.catalog, "h", eng.catalog.update_log_dir("h"))
    p.put(5, {"a": 1.5, "b": 2.5}, ts=400)
    p.flush(schema="k long, op string, ts long, colo int, a double, b double")
    live = st.hybrid_serve()
    assert log_legacy_groups(serving) == [], log_legacy_groups(serving)
    got = {r["k"]: (r["a"], r["b"]) for r in live.read().collect()}
    assert got[5] == (1.5, 2.5) and got[3] == (float(1 << 40), 70.0), got


def test_cast_on_read_promotes_array_columns(spark, tmp_path):
    """Element-wise cast-on-read: an array<long> serving column promoted
    to array<double> by the registry — the Avro lattice resolves items
    recursively and the legacy-group projection casts the whole array in
    one JVM expression."""
    from venice_spark.engine import VeniceSparkEngine

    eng = VeniceSparkEngine(spark, str(tmp_path / "arr"))
    eng.catalog.create_store(
        "h",
        key_fields=["k"],
        hybrid=True,
        value_schema=T.StructType(
            [T.StructField("v", T.ArrayType(T.LongType()))]
        ),
        schema_compat="backward",
    )
    eng.push(
        "h",
        spark.createDataFrame([(1, [1, 2])], "k long, v array<long>"),
    )
    st = eng.store("h")
    p = st.producer()
    p.put(2, {"v": [3, 1 << 40]}, ts=10)
    p.flush(schema="k long, op string, ts long, colo int, v array<long>")
    st.hybrid_serve()

    eng.catalog.add_value_schema(
        "h", T.StructType([T.StructField("v", T.ArrayType(T.DoubleType()))])
    )
    live = st.hybrid_serve()
    live.compact()  # double-array fileset beside long-array files
    got = {r["k"]: r["v"] for r in live.read().collect()}
    assert got == {1: [1.0, 2.0], 2: [3.0, float(1 << 40)]}, got
    assert dict(live.read().dtypes)["v"] == "array<double>"


def test_rt_migration_crash_window_heals_on_next_touch(spark, tmp_path):
    """code-review r10: a kill inside the auto-migration's two-rename
    swap window leaves the rt dir ABSENT with rt__cast_old intact.
    Nothing used to heal that path — the next flush's sidecar write
    recreated a FRESH rt dir and the old log was stranded forever (and
    recover_swap_dir no-ops once the target exists). flush and
    read_rt_log now call recover_swap_dir(rt_dir) at entry."""
    import shutil

    from venice_spark.engine import VeniceSparkEngine
    from venice_spark.producer import read_rt_log

    for touch in ("flush", "read"):
        eng = VeniceSparkEngine(spark, str(tmp_path / f"crash_{touch}"))
        eng.catalog.create_store(
            "m",
            key_fields=["k"],
            hybrid=True,
            value_schema=T.StructType([T.StructField("n", T.LongType())]),
            schema_compat="backward",
        )
        eng.push("m", spark.createDataFrame([(1, 10)], "k long, n long"))
        st = eng.store("m")
        p = st.producer()
        p.put(2, {"n": 20}, ts=10)
        p.flush(schema="k long, op string, ts long, colo int, n long")
        rt = eng.catalog.update_log_dir("m")

        # the crash window: target moved aside, no completed tmp
        shutil.move(rt, rt + "__cast_old")
        assert not os.path.isdir(rt)

        if touch == "flush":
            p.put(3, {"n": 30}, ts=20)
            p.flush(schema="k long, op string, ts long, colo int, n long")
            got = {r["k"] for r in read_rt_log(spark, eng.catalog, "m").collect()}
            assert got == {2, 3}, f"old log stranded: {got}"
        else:
            got = {r["k"] for r in read_rt_log(spark, eng.catalog, "m").collect()}
            assert got == {2}, f"old log stranded: {got}"
        assert not os.path.isdir(rt + "__cast_old"), "leftover not cleared"


def test_rt_migration_presidecar_log_migrates_from_mergeschema(spark, tmp_path):
    """code-review r10: a PRE-SIDECAR rt log (supported: upgrades on its
    next flush) holding narrow files used to make the auto-migration a
    no-op ('no sidecar, nothing to widen') while extend_log_schema kept
    deriving the widening from a mergeSchema read — the retry re-raised
    and the flush failed. The migration now derives its base the same
    way the refusal did."""
    from venice_spark.engine import VeniceSparkEngine
    from venice_spark.streaming.hybrid import log_schema

    eng = VeniceSparkEngine(spark, str(tmp_path / "presc"))
    eng.catalog.create_store(
        "m",
        key_fields=["k"],
        hybrid=True,
        value_schema=T.StructType([T.StructField("n", T.LongType())]),
        schema_compat="backward",
    )
    eng.push("m", spark.createDataFrame([(1, 10)], "k long, n long"))
    st = eng.store("m")
    rt = eng.catalog.update_log_dir("m")
    # a pre-sidecar generation: narrow op rows written straight to the dir
    spark.createDataFrame(
        [(2, "PUT", 10, 0, 20)], "k long, op string, ts long, colo int, n long"
    ).write.mode("append").parquet(rt)
    assert log_schema(rt) is None, "premise: no sidecar yet"

    eng.catalog.add_value_schema("m", T.StructType([T.StructField("n", T.DoubleType())]))
    p = st.producer()
    p.put(3, {"n": 3.5}, ts=20)
    p.flush(schema="k long, op string, ts long, colo int, n double")  # no raise

    live = st.hybrid_serve()
    rows = sorted((r["k"], r["n"]) for r in live.read().collect())
    assert rows == [(1, 10.0), (2, 20.0), (3, 3.5)], rows


@pytest.mark.parametrize("nth", [1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
def test_rt_migration_crash_sweep_every_mutation_point(spark, tmp_path, nth):
    """Hard-crash (SIGKILL model) sweep over the RT auto-migration: kill
    at the nth intercepted filesystem mutation inside the migrating
    flush — sidecar tmp replaces, the swap's two renames, staging moves —
    with no cleanup effects after the kill. Contract: the rt log must
    afterwards hold EITHER the full pre-flush op set (narrow or widened —
    the migration itself is content-neutral) or the post-flush set, and a
    retried flush must land and serve exactly the model. Covers the
    stranded-__cast_old window (code-review r10) at every seam instead of
    the one hand-built scenario."""
    from _crash_schedule import run_with_crash

    from venice_spark.engine import VeniceSparkEngine
    from venice_spark.producer import read_rt_log

    eng = VeniceSparkEngine(spark, str(tmp_path / f"mcr{nth}"))
    eng.catalog.create_store(
        "m",
        key_fields=["k"],
        hybrid=True,
        value_schema=T.StructType([T.StructField("n", T.LongType())]),
        schema_compat="backward",
    )
    eng.push("m", spark.createDataFrame([(1, 10)], "k long, n long"))
    st = eng.store("m")
    p = st.producer()
    p.put(2, {"n": 20}, ts=10)
    p.flush(schema="k long, op string, ts long, colo int, n long")
    eng.catalog.add_value_schema(
        "m", T.StructType([T.StructField("n", T.DoubleType())])
    )

    p.put(3, {"n": 3.5}, ts=20)
    res = run_with_crash(
        lambda: p.flush(schema="k long, op string, ts long, colo int, n double"),
        nth=nth,
        path_filter="rt",
        hard=True,
    )
    if nth >= 10:
        # the op has ~9 python-side mutations; the sweep must also show
        # its COMPLETED tail or it silently stopped covering the op
        assert res == "completed", res
    # crashed mid-flush: the producer buffer retains the op for retry
    if res == "crashed":
        # reads heal the swap window and lose nothing
        got = {r["k"] for r in read_rt_log(spark, eng.catalog, "m").collect()}
        assert {2} <= got <= {2, 3}, f"nth={nth}: torn rt state {got}"
        p._buffer.clear()
        p.put(3, {"n": 3.5}, ts=20)
        p.flush(schema="k long, op string, ts long, colo int, n double")

    live = st.hybrid_serve()
    rows = sorted((r["k"], r["n"]) for r in live.read().collect())
    assert rows == [(1, 10.0), (2, 20.0), (3, 3.5)], f"nth={nth}: {rows}"
