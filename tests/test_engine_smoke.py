"""End-to-end smoke: create store -> push -> get/batchGet/compute."""

import pyspark.sql.functions as F
import pytest

from venice_spark.engine import VeniceSparkEngine
from venice_spark.push import DuplicateKeyError


@pytest.fixture()
def engine(spark, tmp_root, sf_dir):
    eng = VeniceSparkEngine(spark, tmp_root)
    eng.create_store("customers", key_fields=["c_custkey"], partition_count=4)
    df = spark.read.parquet(f"{sf_dir}/customer.parquet")
    eng.push("customers", df)
    return eng


def test_push_and_get(engine, spark, sf_dir):
    store = engine.store("customers")
    src = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = src.count()
    assert store.df().count() == n

    any_key = src.select("c_custkey").first()[0]
    row = store.get(any_key)
    assert row is not None and row["c_custkey"] == any_key
    assert store.get(-999999) is None


def test_batch_get_missing_keys_absent(engine, spark, sf_dir):
    store = engine.store("customers")
    src = spark.read.parquet(f"{sf_dir}/customer.parquet")
    keys = [r[0] for r in src.select("c_custkey").limit(5).collect()]
    got = store.batch_get(keys + [-1, -2])
    assert got.count() == len(keys)
    assert set(r["c_custkey"] for r in got.collect()) == set(keys)


def test_streaming_batch_get(engine, spark, sf_dir):
    store = engine.store("customers")
    src = spark.read.parquet(f"{sf_dir}/customer.parquet")
    keys = [r[0] for r in src.select("c_custkey").limit(3).collect()]
    it = store.streaming_batch_get(keys)
    first = next(it)
    assert first["c_custkey"] in keys


def test_duplicate_key_policy(engine, spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "b")], schema=["c_custkey", "c_name"]
    )
    with pytest.raises(DuplicateKeyError):
        engine.push("customers", df)
    # identical duplicates are deduped silently
    df2 = spark.createDataFrame([(1, "a"), (1, "a")], schema=["c_custkey", "c_name"])
    res = engine.push("customers", df2)
    assert res.rows == 1


def test_version_swap_and_repush(engine, spark, sf_dir):
    store = engine.store("customers")
    v1 = engine.catalog.current_version("customers")
    res = engine.repush("customers")
    assert res.version == v1 + 1
    assert engine.catalog.current_version("customers") == res.version
    assert store.df().count() == store.df(v1).count()


def test_compute_over_keys(spark, tmp_root, sf_dir):
    eng = VeniceSparkEngine(spark, tmp_root)
    eng.create_store("emb", key_fields=["vec_id"], partition_count=4)
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    eng.push("emb", df)
    store = eng.store("emb")
    dim = len(df.select("embedding").first()[0])
    w = [0.1] * dim
    keys = [r[0] for r in df.select("vec_id").limit(4).collect()]
    out = (
        store.compute()
        .project("label")
        .dot_product("embedding", w, "score")
        .cosine_similarity("embedding", w, "cos")
        .count("embedding", "dim")
        .error_channel()
        .execute(keys)  # documented shape; spark derived, batch routed
    )
    rows = out.collect()
    assert len(rows) == len(keys)
    for r in rows:
        assert r["dim"] == dim
        assert r["score"] is not None
        assert -1.0001 <= r["cos"] <= 1.0001
        assert r["__veniceComputationError__"] == {}


def test_dot_fold_matches_numpy_and_null_edges(spark, sf_dir):
    """The codegen fold dot product must agree with a float64 numpy dot
    on every corpus row and keep its NULL semantics: null vector, empty
    vector and length mismatch all yield SQL NULL."""
    import numpy as np

    from venice_spark.functions.vectors import dot_product

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    edge = spark.createDataFrame(
        [(900001, None), (900002, []), (900003, [1.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    p = [0.1 * (i % 7 - 3) for i in range(64)]
    rows = (
        emb.unionByName(edge)
        .select("vec_id", "embedding", dot_product("embedding", p).alias("f"))
        .collect()
    )
    for r in rows:
        if r["vec_id"] >= 900000:
            assert r["f"] is None
        else:
            want = float(np.asarray(r["embedding"], dtype=np.float64) @ np.asarray(p))
            assert r["f"] is not None
            assert abs(want - r["f"]) < 1e-9


def test_compression_strategy_config(engine, spark, tmp_path):
    import glob

    for codec, ext in (("no_op", ""), ("gzip", ".gz.parquet"), ("zstd", ".zstd.parquet")):
        name = f"comp_{codec}"
        engine.create_store(name, key_fields=["k"], compression=codec)
        row = spark.createDataFrame([(1, "a" * 100)], "k long, v string")
        engine.push(name, row)
        # every committer writes the store's codec: v2 is an eager
        # incremental push, v3 a compaction of a lazy slot
        engine.incremental_push(name, row)
        engine.incremental_push(name, row, eager=False)
        engine.compact(name)
        for version in (1, 2, 3):
            files = glob.glob(
                f"{engine.catalog.version_dir(name, version)}/partition_id=*/*.parquet"
            )
            assert files
            if ext:
                assert any(f.endswith(ext) for f in files), (codec, files)
            else:
                assert all(".gz." not in f and ".zstd." not in f for f in files), files


def test_partial_subscribe(engine, spark, sf_dir):
    engine.create_store("sub", key_fields=["c_custkey"], partition_count=8)
    engine.push("sub", spark.read.parquet(f"{sf_dir}/customer.parquet"))
    st = engine.store("sub")
    part = st.subscribe([0, 1])
    pids = {r["partition_id"] for r in part.select("partition_id").distinct().collect()}
    assert pids <= {0, 1} and pids
    assert part.count() < st.df().count()
    part.unpersist()


def test_subscribe_all_materializes_the_whole_current_version(spark, tmp_root):
    eng = VeniceSparkEngine(spark, tmp_root)
    eng.create_store("all", key_fields=["k"], partition_count=4)
    rows = [(i, f"v{i}") for i in range(40)]
    eng.push("all", spark.createDataFrame(rows, "k long, v string"))
    local = eng.store("all").subscribe_all()
    try:
        assert local.is_cached
        assert {r["partition_id"] for r in local.collect()} == {0, 1, 2, 3}
        assert sorted((r["k"], r["v"]) for r in local.collect()) == rows
    finally:
        local.unpersist()


def test_approx_unique_keys_counts_whole_composite_keys(spark, tmp_root):
    """The HLL estimate counts distinct KEYS: on a composite-key store
    that is the (a, b) pairs, not the distinct values of either field."""
    eng = VeniceSparkEngine(spark, tmp_root)
    eng.create_store("one", key_fields=["k"], partition_count=4)
    eng.push("one", spark.range(1000).select(F.col("id").alias("k"), F.lit(1).alias("v")))
    eng.create_store("two", key_fields=["a", "b"], partition_count=4)
    pairs = spark.range(1000).select(
        (F.col("id") % 20).alias("a"),
        (F.col("id") / 20).cast("long").cast("string").alias("b"),
        F.lit(1).alias("v"),
    )
    eng.push("two", pairs)
    for store in ("one", "two"):
        est = eng.store(store).approx_unique_keys(rsd=0.05)
        assert abs(est - 1000) <= 150, (store, est)
    # a separator inside a string field, and a NULL field, keep keys apart
    eng.create_store("sep", key_fields=["a", "b"], partition_count=2)
    eng.push("sep", spark.createDataFrame([("x\x00y", "z", 1), ("x", "y\x00z", 2)], "a string, b string, v int"))
    eng.create_store("nul", key_fields=["a", "b"], partition_count=2)
    eng.push("nul", spark.createDataFrame([("x", None, 1), (None, "x", 2)], "a string, b string, v int"))
    for store in ("sep", "nul"):
        assert eng.store(store).approx_unique_keys() == 2, store


def test_compute_dsl_over_delta_resolved_store(spark, tmp_path):
    """Read-compute must see through the LSM delta log: a dot product over a
    store with pending deltas uses the delta-resolved values."""
    import pyspark.sql.functions as F

    from venice_spark import VeniceSparkEngine

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("v", key_fields=["vec_id"], partition_count=4)
    base = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, emb array<float>"
    )
    eng.push("v", base)
    delta = spark.createDataFrame([(1, [0.0, 2.0])], "vec_id long, emb array<float>")
    eng.incremental_push("v", delta, eager=False)

    out = (
        eng.store("v").compute().project("vec_id").dot_product("emb", [10.0, 1.0], "score").plan()
    )
    scores = {r["vec_id"]: r["score"] for r in out.collect()}
    assert scores == {1: 2.0, 2: 1.0}  # vec 1 reflects the delta, not the base


def test_store_builders_build_the_frame_for_whole_store_plans(engine):
    """StoreHandle's builders pass the store frame unbuilt; the
    whole-store plans (execute_with_filter, the bucket count) build it and
    match builders over the built frame."""
    from venice_spark.compute import ComputeAggregationBuilder, ComputeRequestBuilder

    st = engine.store("customers")
    pred = F.col("c_custkey") <= 5
    got = st.compute().project("c_name").execute_with_filter(pred)
    want = ComputeRequestBuilder(st.df(), st.key_fields).project("c_name").execute_with_filter(pred)
    assert sorted(got.collect()) == sorted(want.collect()) and len(want.collect()) == 6  # keys 0-5
    buckets = {"low": F.col("c_acctbal") < 0, "high": F.col("c_acctbal") >= 5000}
    got = st.aggregate().count_group_by_bucket(buckets).collect()
    assert got == ComputeAggregationBuilder(st.df(), st.key_fields).count_group_by_bucket(buckets).collect()


def test_create_temp_views_sql_over_stores(spark, tmp_root):
    """Stores become ordinary Spark SQL tables: cross-store SQL (a join the
    reference cannot express, SURVEY §2.7) works directly."""
    eng = VeniceSparkEngine(spark, tmp_root)
    eng.create_store("members", key_fields=["id"], partition_count=2)
    eng.create_store("orders2", key_fields=["oid"], partition_count=2)
    eng.push("members", spark.createDataFrame([(1, "ann"), (2, "bo")], ["id", "name"]))
    eng.push("orders2", spark.createDataFrame([(10, 1), (11, 1), (12, 2)], ["oid", "member_id"]))
    views = eng.create_temp_views()
    assert set(views) >= {"members", "orders2"}
    out = spark.sql(
        "SELECT m.name, count(*) AS n FROM members m "
        "JOIN orders2 o ON m.id = o.member_id GROUP BY m.name ORDER BY n DESC"
    ).collect()
    assert [(r["name"], r["n"]) for r in out] == [("ann", 2), ("bo", 1)]


def test_store_stats_reports_skew(spark, tmp_root):
    eng = VeniceSparkEngine(spark, tmp_root)
    eng.create_store("st", key_fields=["k"], partition_count=4)
    eng.push("st", spark.createDataFrame([(i, i * 1.0) for i in range(1000)], ["k", "v"]))
    stats = eng.store_stats("st")
    assert stats["rows"] == 1000
    assert stats["partitions"] == 4
    assert stats["bytes"] > 0
    assert stats["version"] == 1
    # uniform keys hash close to evenly; skew stays near 1
    assert 1.0 <= stats["partition_skew"] < 1.5


def test_error_channel_two_ops_same_field(spark, sf_dir):
    """Review regression: two compute ops on the SAME input field must not
    produce duplicate error-map keys (DUPLICATED_MAP_KEY abort) — entries
    are keyed by the computed result name."""
    from venice_spark.compute import ERROR_FIELD, ComputeRequestBuilder

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None)], "vec_id long, embedding array<double>"
    )
    out = (
        ComputeRequestBuilder(df, ["vec_id"])
        .dot_product("embedding", [1.0, 2.0], "score")
        .cosine_similarity("embedding", [1.0, 2.0], "cos")
        .error_channel()
        .plan()
    ).collect()
    rows = {r["vec_id"]: r for r in out}
    assert rows[1][ERROR_FIELD] == {}
    errs = rows[2][ERROR_FIELD]
    assert set(errs) == {"score", "cos"}  # one entry per computed field
    assert "embedding is null" in errs["score"]


# -------------------------------------------- r4 review regressions


def test_count_feeds_error_channel(spark, sf_dir):
    """code-review r4: the reference's CountOperator emits an error entry
    for a null collection; the error loop skipped count ops so a count of
    null was indistinguishable from a clean result."""
    from venice_spark.compute import ERROR_FIELD, ComputeRequestBuilder

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None)], "k long, arr array<double>"
    )
    out = {
        r["k"]: (r["n"], dict(r[ERROR_FIELD]))
        for r in ComputeRequestBuilder(df, ["k"])
        .count("arr", "n")
        .error_channel()
        .plan()
        .collect()
    }
    assert out[1] == (2, {})
    assert out[2][0] is None and "null" in out[2][1]["n"]


def test_execute_with_empty_key_batch(spark, sf_dir):
    """code-review r4: an empty batchGet must return an empty frame, not
    crash with CANNOT_INFER_EMPTY_SCHEMA."""
    from venice_spark.compute import ComputeRequestBuilder

    df = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = (
        ComputeRequestBuilder(df, ["c_custkey"])
        .project("c_name")
        .execute(spark, [])
    )
    assert out.count() == 0
    assert set(out.columns) == {"c_custkey", "c_name"}


def test_partial_key_lookup_accepts_any_kwargs_order(spark, sf_dir):
    """code-review r4: the prefix contract is about WHICH fields are
    constrained, not Python kwargs ordering."""
    from venice_spark.compute import ComputeRequestBuilder

    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    b = ComputeRequestBuilder(df, ["l_orderkey", "l_linenumber"]).project("l_quantity")
    fwd = b.partial_key_lookup(l_orderkey=1, l_linenumber=1).collect()
    rev = b.partial_key_lookup(l_linenumber=1, l_orderkey=1).collect()
    assert fwd == rev
    import pytest

    with pytest.raises(ValueError, match="leading prefix"):
        b.partial_key_lookup(l_linenumber=1)  # non-leading field alone


def test_sampling_stages_compose_independently(spark):
    """code-review r4: importance_sample, stratified_sample, and the
    Pareto quality rule each salt their hash — composed stages must retain
    ~p1*p2, not min(p1,p2) (an unsalted shared hash made every survivor of
    the stricter stage deterministically survive the looser one)."""
    import pyspark.sql.functions as F

    from venice_spark.pipeline import importance_sample, stratified_sample

    df = spark.range(20_000).select(
        F.col("id").alias("doc_id"), F.lit("web").alias("domain"),
        F.lit(0.5).alias("w"),
    )
    a = importance_sample(df, "w", "doc_id")
    b = stratified_sample(df, "domain", {"web": 0.5}, "doc_id")
    na, nb = a.count(), b.count()
    nboth = a.select("doc_id").join(b.select("doc_id"), "doc_id").count()
    assert abs(na - 10_000) < 600 and abs(nb - 10_000) < 600
    # independent composition: ~5000; correlated would be ~10000
    assert abs(nboth - 5_000) < 600, f"correlated sampling stages: {nboth}"


def test_stratified_sample_null_stratum_rate(spark):
    """code-review r4: a None-keyed rate must match NULL-stratum rows
    (plain == evaluates NULL and fell through to default_rate)."""
    import pyspark.sql.functions as F

    from venice_spark.pipeline import stratified_sample

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.lit("web")).alias("domain"),
    )
    kept = stratified_sample(df, "domain", {None: 1.0, "web": 0.0}, "doc_id")
    rows = kept.collect()
    assert len(rows) == 500 and all(r["domain"] is None for r in rows)


def test_predicates_match_null_fields(spark):
    """equal_to(f, None) and any_of(f, ..., None) select NULL rows —
    Objects.equals-style semantics from the reference predicate tree, not
    Spark three-valued logic (which silently returns zero rows)."""
    from venice_spark import predicates as P

    df = spark.createDataFrame(
        [("a", "x"), ("b", None), ("c", "y")], "k string, region string"
    )
    assert [r["k"] for r in df.filter(P.equal_to("region", None)).collect()] == ["b"]
    got = sorted(r["k"] for r in df.filter(P.any_of("region", "x", None)).collect())
    assert got == ["a", "b"]
    # non-null comparisons unchanged
    assert [r["k"] for r in df.filter(P.equal_to("region", "y")).collect()] == ["c"]


def test_compute_execute_routes_through_partition_pruning(spark, tmp_root, sf_dir):
    """StoreHandle.compute().execute(keys) rides batch_get's routing: the
    scan is filtered to the key batch's partition ids instead of reading
    every directory of the store. Pinned on the Spark batch_get (a lazy
    delta slot keeps the read off the Arrow path, which routes the same
    way but reads the owning dirs outside Spark)."""
    from venice_spark.engine import VeniceSparkEngine

    eng = VeniceSparkEngine(spark, tmp_root)
    eng.create_store("emb", key_fields=["vec_id"], partition_count=8)
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    eng.push("emb", df)
    eng.incremental_push("emb", df.orderBy("vec_id").limit(1), eager=False)
    h = eng.store("emb")
    keys = [r[0] for r in df.select("vec_id").limit(3).collect()]
    out = h.compute().project("label").execute(keys)
    assert out.count() == 3
    plan = out._jdf.queryExecution().executedPlan().toString()
    # directory pruning is visible as a partition_id partition filter
    assert "partition_id" in plan


def test_store_stats_skew_uses_layout_partition_count(spark, tmp_root):
    """A hot key that lands every row in one directory must read as maximal
    skew, not as 'one partition, perfectly balanced'."""
    from venice_spark.engine import VeniceSparkEngine

    eng = VeniceSparkEngine(spark, tmp_root)
    eng.create_store("hot", key_fields=["k"], partition_count=8)
    df = spark.createDataFrame([("same", i) for i in range(64)], "k string, v long")
    eng.push("hot", df, allow_duplicate_key=True, dedup_order_col="v")
    stats = eng.store_stats("hot")
    assert stats["partitions"] == 8
    assert stats["nonempty_partitions"] == 1
    assert stats["partition_skew"] == 8.0
