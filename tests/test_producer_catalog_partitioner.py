"""Producer (W12/W13), catalog schema registry (R14), MD5 partitioner parity."""

import hashlib

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from venice_spark.catalog import SchemaIncompatibleError, StoreCatalog
from venice_spark.merge.dcr import merge_op_log
from venice_spark.partitioner import key_bytes_col, md5_partition_id, repartition_and_sort
from venice_spark.producer import VeniceProducer, read_rt_log


def test_producer_put_update_delete_roundtrip(spark, tmp_root):
    catalog = StoreCatalog(tmp_root)
    catalog.create_store("s", key_fields=["key"])
    prod = VeniceProducer(spark, catalog, "s", colo=1)
    prod.put("a", {"first": "A", "score": 1}, ts=10)
    prod.put("b", {"first": "B", "score": 2}, ts=10)
    prod.update("a", ts=20).set_field("first", "A2").produce()
    prod.delete("b", ts=30)
    prod.flush(
        schema="key string, op string, ts long, colo int, first string, score long, set_first string"
    )

    log = read_rt_log(spark, catalog, "s")
    assert log.count() == 4
    merged = merge_op_log(log, ["key"], "key string, first string, score long")
    rows = {r["key"]: r for r in merged.collect()}
    assert set(rows) == {"a"}
    assert rows["a"]["first"] == "A2" and rows["a"]["score"] == 1


def test_schema_registry_compat(tmp_root):
    catalog = StoreCatalog(tmp_root)
    v1 = T.StructType([T.StructField("name", T.StringType()), T.StructField("age", T.IntegerType())])
    catalog.create_store("s", key_fields=["key"], value_schema=v1)
    # adding a field is backward compatible
    v2 = T.StructType(v1.fields + [T.StructField("email", T.StringType())])
    assert catalog.add_value_schema("s", v2) == 2
    assert catalog.get_value_schema("s", 1) == v1
    assert catalog.get_value_schema("s") == v2
    # dropping/retyping a field is rejected
    bad = T.StructType([T.StructField("name", T.IntegerType())])
    with pytest.raises(SchemaIncompatibleError):
        catalog.add_value_schema("s", bad)


def test_md5_partition_parity(spark):
    """Column-expression MD5 partitioner == reference math:
    int(md5(keyBytes)) mod N (DefaultVenicePartitioner.java:56-88 reduces
    the digest byte-by-byte mod N, which equals big-endian-int mod N)."""
    n = 7
    df = spark.createDataFrame([(f"key-{i}",) for i in range(200)], "k string")
    got = {
        r["k"]: r["pid"]
        for r in df.select("k", md5_partition_id(key_bytes_col("k"), n).alias("pid")).collect()
    }
    for k, pid in got.items():
        expected = int.from_bytes(hashlib.md5(k.encode()).digest(), "big") % n
        assert pid == expected, f"{k}: {pid} != {expected}"


def test_repartition_and_sort_layout(spark):
    """The Spark partition count follows the shuffle settings, not the
    store's partition count; each partition id lands in exactly one Spark
    partition, and within it rows come grouped by id and key-sorted (one
    key-sorted file per id on a partitionBy write)."""
    df = spark.createDataFrame([(i, f"v{i}") for i in range(100)], "k long, v string")
    out = repartition_and_sort(df, ["k"], 4)

    def check(it):
        rows = [(r["partition_id"], r["k"]) for r in it]
        assert rows == sorted(rows)
        return iter([(pid, sum(p == pid for p, _ in rows)) for pid in {p for p, _ in rows}])

    counts = out.rdd.mapPartitions(check).collect()
    pids = [pid for pid, _ in counts]
    assert sorted(pids) == sorted(set(pids)) == [0, 1, 2, 3]
    assert sum(n for _, n in counts) == 100


def test_version_manifest_written_and_readable(spark, tmp_path):
    from venice_spark import VeniceSparkEngine

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("m", key_fields=["k"])
    eng.push("m", spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    man = eng.catalog.version_manifest("m")
    assert man["rows"] == 2
    assert man["push_type"] == "full"
    assert man["partitioner"] == "xxhash64"
    assert man["version"] == eng.catalog.current_version("m")


def test_partition_id_py_parity(spark):
    """Driver-side partition id must equal the column expression for both
    partitioners — gets route with the Python twin, pushes with the column."""
    from venice_spark.partitioner import partition_id_py, with_partition_id

    rows = [(1,), (42,), (999999,), (123456789012,)]
    for md5p in (False, True):
        kdf = spark.createDataFrame(rows, "k long")
        got = {
            r["k"]: r["partition_id"]
            for r in with_partition_id(kdf, ["k"], 32, md5p).collect()
        }
        for (k,) in rows:
            assert partition_id_py((k,), 32, md5p) == got[k], (md5p, k)
    comp = [("a", 7), ("hello world", 123), ("", 0)]
    kdf2 = spark.createDataFrame(comp, "a string, b long")
    got2 = {
        (r["a"], r["b"]): r["partition_id"]
        for r in with_partition_id(kdf2, ["a", "b"], 16).collect()
    }
    for kt in comp:
        assert partition_id_py(kt, 16) == got2[kt], kt


def test_concurrent_begin_version_reserves_distinct_numbers(tmp_root):
    """Two push jobs racing begin_version must get distinct versions — the
    catalog lock is the file-system stand-in for the reference controller's
    serialized createNewStoreVersion (VenicePushJob.java:885)."""
    import concurrent.futures

    from venice_spark.catalog import StoreCatalog

    cat = StoreCatalog(tmp_root)
    cat.create_store("race", key_fields=["k"])

    def reserve(_):
        # each worker uses its own catalog instance (own lock fd), as two
        # separate driver processes would
        return StoreCatalog(tmp_root).begin_version("race")

    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
        got = sorted(ex.map(reserve, range(16)))
    assert got == list(range(1, 17))
    assert StoreCatalog(tmp_root).get_store("race").largest_used_version == 16


def test_concurrent_schema_registration_serializes(tmp_root):
    import concurrent.futures

    from pyspark.sql import types as T

    from venice_spark.catalog import StoreCatalog

    cat = StoreCatalog(tmp_root)
    cat.create_store("sreg", key_fields=["k"], schema_compat="none")

    def add(i):
        schema = T.StructType(
            [T.StructField("k", T.LongType()), T.StructField(f"f{i}", T.LongType())]
        )
        return StoreCatalog(tmp_root).add_value_schema("sreg", schema)

    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
        ids = sorted(ex.map(add, range(12)))
    # every registration got a unique, dense schema id
    assert ids == list(range(1, 13))
    assert len(StoreCatalog(tmp_root).get_store("sreg").value_schemas) == 12


def test_float_keys_route_via_expression_fallback(spark, tmp_root):
    """Review regression: Python str(float) differs from Spark's
    cast-to-string (1e8 -> '1.0E8' in Java), so float keys must route
    through the column-expression fallback — gets would otherwise silently
    miss existing rows."""
    from venice_spark.engine import VeniceSparkEngine

    eng = VeniceSparkEngine(spark, tmp_root)
    eng.create_store("f", key_fields=["k"], partition_count=8)
    df = spark.createDataFrame(
        [(1e8, "big"), (0.5, "half"), (1.0e-4, "tiny"), (3.0, "three")],
        "k double, v string",
    )
    eng.push("f", df)
    st = eng.store("f")
    for k, v in [(1e8, "big"), (0.5, "half"), (1.0e-4, "tiny"), (3.0, "three")]:
        row = st.get(k)
        assert row is not None and row["v"] == v, k
    got = {r["k"]: r["v"] for r in st.batch_get([1e8, 0.5, 123.0]).collect()}
    assert got == {1e8: "big", 0.5: "half"}


def test_producer_flush_merges_mixed_numeric_types(spark, tmp_root):
    """A buffer mixing int and float in one column must flush (Spark's row
    inference raises CANNOT_MERGE_TYPE, a TypeError the old fallback never
    caught) and type the column double across all rows."""
    catalog = StoreCatalog(tmp_root)
    catalog.create_store("mx", key_fields=["key"])
    prod = VeniceProducer(spark, catalog, "mx")
    prod.put("a", {"x": 1}, ts=1)
    prod.put("b", {"x": 2.5}, ts=2)
    prod.flush()
    log = read_rt_log(spark, catalog, "mx")
    got = {r["key"]: r["x"] for r in log.collect()}
    assert got == {"a": 1.0, "b": 2.5}
    assert dict(log.dtypes)["x"] == "double"


def test_producer_rejects_reserved_value_fields(spark, tmp_root):
    """A value field named ts/op/colo or a key field would silently
    overwrite op metadata (breaking latest-wins replay) — reject loudly."""
    import pytest

    catalog = StoreCatalog(tmp_root)
    catalog.create_store("rs", key_fields=["key"])
    prod = VeniceProducer(spark, catalog, "rs")
    with pytest.raises(ValueError, match="reserved"):
        prod.put("a", {"ts": 0, "v": 1})
    with pytest.raises(ValueError, match="reserved"):
        prod.put("a", {"op": "DELETE"})
    with pytest.raises(ValueError, match="reserved"):
        prod.put("a", {"key": "b", "v": 1})


def test_flush_schema_types_update_op_columns_as_collections(spark, tmp_root):
    """An all-None add_<list-field> column in a first flush must type as the
    list's ARRAY type, not the scalar base type — a scalar parquet column
    would make every later real element-op flush unmergeable."""
    catalog = StoreCatalog(tmp_root)
    catalog.create_store("oc", key_fields=["key"])
    import pyspark.sql.types as T

    catalog.add_value_schema(
        "oc",
        T.StructType.fromDDL("key string, tags array<string>, meta map<string,string>"),
    )
    prod = VeniceProducer(spark, catalog, "oc")
    prod._buffer.append(
        {"key": "a", "op": "UPDATE", "ts": 1, "colo": 0,
         "add_tags": None, "mapadd_meta": None, "maprem_meta": None}
    )
    prod.flush()
    dt = dict(read_rt_log(spark, catalog, "oc").dtypes)
    assert dt["add_tags"] == "array<string>"
    assert dt["mapadd_meta"] == "map<string,string>"
    assert dt["maprem_meta"] == "array<string>"
    # and a later REAL element op merges cleanly
    prod.update("a", ts=2).add_to_list("tags", "t1").produce()
    prod.flush()
    assert read_rt_log(spark, catalog, "oc").count() == 2
