"""Declared IVF index views: the ANN layout maintained at write time like
any W15 view — partition-pruned probes, a codebook pinned at first write
so list assignment never shifts under serving readers, and delta-aware
search after lazy pushes."""

import json
import os

import pyspark.sql.functions as F
import pytest

from venice_spark.engine import VeniceSparkEngine
from venice_spark.push import IvfIndexViewDef, view_from_spec

DIM = 8


def _vec(i, shift=0.0):
    # deterministic spread-out unit-ish vectors
    import math

    return [math.sin(0.7 * i + d + shift) for d in range(DIM)]


@pytest.fixture()
def engine(spark, tmp_root):
    eng = VeniceSparkEngine(spark, tmp_root)
    eng.create_store("emb", key_fields=["vid"], partition_count=2)
    rows = [(i, _vec(i)) for i in range(200)]
    df = spark.createDataFrame(rows, "vid long, vec array<double>")
    eng.push(
        "emb",
        df,
        views=[IvfIndexViewDef("ann", vec_col="vec", n_centroids=8, sample_fraction=1.0)],
    )
    return eng


def _brute(eng, spark, query, k=10):
    from venice_spark.functions import vectors as VX

    df = eng.store("emb").df()
    cos = VX.cosine_similarity("vec", list(query))
    return [
        r["vid"]
        for r in df.select("vid", cos.alias("c"))
        .orderBy(F.col("c").desc(), F.col("vid"))
        .limit(k)
        .collect()
    ]


def test_ann_topk_recall_and_codebook_registration(engine, spark):
    q = _vec(42)
    exact = _brute(engine, spark, q)
    got = [r["vid"] for r in engine.store("emb").ann_topk("ann", q, k=10, nprobe=4).collect()]
    assert len(set(exact) & set(got)) >= 6  # nprobe=4 of 8 lists
    # full probe = exact
    full = [r["vid"] for r in engine.store("emb").ann_topk("ann", q, k=10, nprobe=8).collect()]
    assert full == exact
    # the learned codebook was registered on the store declaration
    specs = engine.catalog.get_store("emb").config["views"]
    assert specs[0]["kind"] == "ivf" and specs[0]["centroids"]


def test_codebook_stable_across_incremental_push(engine, spark):
    v1 = engine.catalog.current_version("emb")
    p1 = f"{engine.catalog.version_dir('emb', v1)}__view_ann"
    with open(os.path.join(p1, "_view_spec.json")) as f:
        cents1 = json.load(f)["centroids"]
    delta = spark.createDataFrame([(500, _vec(500))], "vid long, vec array<double>")
    engine.incremental_push("emb", delta)
    v2 = engine.catalog.current_version("emb")
    assert v2 != v1
    p2 = f"{engine.catalog.version_dir('emb', v2)}__view_ann"
    with open(os.path.join(p2, "_view_spec.json")) as f:
        cents2 = json.load(f)["centroids"]
    assert cents1 == cents2  # assignment layout never shifts
    # and the new vector is searchable
    got = [r["vid"] for r in engine.store("emb").ann_topk("ann", _vec(500), k=3, nprobe=8).collect()]
    assert got[0] == 500


def test_lazy_delta_vectors_are_searchable_and_override(engine, spark):
    q = _vec(77)
    # a brand-new vector exactly at the query + an existing key moved AWAY
    delta = spark.createDataFrame(
        [(900, q), (77, _vec(77, shift=2.5))], "vid long, vec array<double>"
    )
    engine.incremental_push("emb", delta, eager=False)
    got = engine.store("emb").ann_topk("ann", q, k=3, nprobe=8).collect()
    ids = [r["vid"] for r in got]
    assert ids[0] == 900  # the lazy-pushed vector wins
    # key 77's OLD vector (cos=1 with q) must not serve from its stale list
    row77 = [r for r in got if r["vid"] == 77]
    assert not row77 or row77[0]["cos"] < 0.999


def test_probe_scan_prunes_partitions(engine, spark):
    q = _vec(5)
    df = engine.store("emb").ann_topk("ann", q, k=5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_list" in plan.split("PartitionFilters")[1][:200], plan


def test_knn_join_vs_matches_raw_join_and_prunes_candidate_scan(engine, spark):
    """The batch kNN-join endpoint over the IVF layout (r11): results are
    EXACTLY ivf_knn_join against the raw corpus with the sidecar codebook,
    and the candidate side reads NO vectors — ivf_list comes from the
    partition directories, so the assignment fold never runs on the store
    side and vectors are scanned once (by the rescore projection)."""
    from venice_spark.push import read_view_spec
    from venice_spark.similarity import ivf_knn_join

    st = engine.store("emb")
    left = spark.createDataFrame(
        [(1000 + i, _vec(i, shift=0.01)) for i in range(10)], "qid long, v array<double>"
    )
    got = st.knn_join_vs("ann", left, "qid", vec_col="v", k=3, nprobe=4)
    path = f"{engine.catalog.version_dir('emb', engine.catalog.current_version('emb'))}__view_ann"
    cents = read_view_spec(path).centroids
    raw = ivf_knn_join(
        left.select(F.col("qid").alias("__qid"), F.col("v").alias("vec")),
        st.df().select("vid", "vec"),
        "vec",
        "__qid",
        "vid",
        cents,
        k=3,
        nprobe=4,
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, raw.collect()))
    # candidate-side scan of the view dir must be vector-free: at least one
    # view scan whose ReadSchema has no vec column (ivf_list is a partition
    # column, vid the only data column)
    plan = got._jdf.queryExecution().executedPlan().toString()
    view_scans = [
        seg.split("\n", 1)[0]
        for seg in plan.split("ReadSchema: ")[1:]
    ]
    assert any("vec" not in s for s in view_scans), plan


def test_knn_join_vs_folds_lazy_deltas(engine, spark):
    """Delta discipline parity with ann_topk: a lazy push that moves an
    existing key's vector and adds a new one must join against the
    RESOLVED rows — the stale index row never produces a candidate."""
    from venice_spark.push import read_view_spec
    from venice_spark.similarity import ivf_knn_join

    delta = spark.createDataFrame(
        [(900, _vec(900)), (77, _vec(77, shift=2.5))], "vid long, vec array<double>"
    )
    engine.incremental_push("emb", delta, eager=False)
    st = engine.store("emb")
    left = spark.createDataFrame(
        [(5000, _vec(900, shift=0.001)), (5001, _vec(77))], "qid long, v array<double>"
    )
    got = st.knn_join_vs("ann", left, "qid", vec_col="v", k=4, nprobe=8)
    path = f"{engine.catalog.version_dir('emb', engine.catalog.current_version('emb'))}__view_ann"
    cents = read_view_spec(path).centroids
    raw = ivf_knn_join(
        left.select(F.col("qid").alias("__qid"), F.col("v").alias("vec")),
        st.df().select("vid", "vec"),  # df() resolves the delta log
        "vec",
        "__qid",
        "vid",
        cents,
        k=4,
        nprobe=8,
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, raw.collect()))


def test_spec_roundtrip():
    v = IvfIndexViewDef("a", vec_col="v", n_centroids=4, centroids=[[1.0, 0.0]])
    w = view_from_spec(v.spec())
    assert isinstance(w, IvfIndexViewDef)
    assert (w.name, w.vec_col, w.n_centroids, w.centroids) == ("a", "v", 4, [[1.0, 0.0]])


def test_compaction_folds_deltas_into_index(engine, spark):
    q = _vec(33, shift=1.3)  # not an existing corpus vector
    delta = spark.createDataFrame([(901, q)], "vid long, vec array<double>")
    engine.incremental_push("emb", delta, eager=False)
    engine.compact("emb")
    assert engine.catalog.list_delta_dirs("emb", engine.catalog.current_version("emb")) == []
    got = [r["vid"] for r in engine.store("emb").ann_topk("ann", q, k=3, nprobe=8).collect()]
    assert got[0] == 901
    # full-probe search still equals brute force post-compaction
    assert got == _brute(engine, spark, q, k=3)


def test_empty_push_keeps_index_readable(engine, spark):
    engine.empty_push("emb")
    out = engine.store("emb").ann_topk("ann", _vec(1), k=5, nprobe=8).collect()
    assert out == []


def test_def_object_not_mutated_and_reusable_across_stores(spark, tmp_root):
    ivf = IvfIndexViewDef("ann", vec_col="vec", n_centroids=4, sample_fraction=1.0)
    eng = VeniceSparkEngine(spark, tmp_root)
    for store, base in (("sa", 0), ("sb", 1000)):
        eng.create_store(store, key_fields=["vid"], partition_count=2)
        df = spark.createDataFrame(
            [(base + i, _vec(base + i)) for i in range(50)], "vid long, vec array<double>"
        )
        eng.push(store, df, views=[ivf])
    assert ivf.centroids is None  # caller's def untouched
    ca = eng.catalog.get_store("sa").config["views"][0]["centroids"]
    cb = eng.catalog.get_store("sb").config["views"][0]["centroids"]
    assert ca and cb and ca != cb  # each store trained on its own corpus


def test_schema_narrow_lazy_delta_does_not_crash_search(engine, spark):
    # delta updates only the key (vector column absent): full-value upsert
    # semantics -> the key's vector becomes NULL and it leaves the results
    delta = spark.createDataFrame([(5,)], "vid long")
    engine.incremental_push("emb", delta, eager=False)
    got = [r["vid"] for r in engine.store("emb").ann_topk("ann", _vec(5), k=5, nprobe=8).collect()]
    assert 5 not in got


def test_view_df_rejects_ivf_views(engine):
    with pytest.raises(ValueError, match="ann_topk"):
        engine.store("emb").view_df("ann")


def test_ann_topk_matches_on_the_fly_ivf_topk(engine, spark):
    """The index view is the IVF layout written once: a partial probe over
    its list directories returns exactly what on-the-fly assignment with
    the same codebook returns over the store."""
    from venice_spark.push import open_view
    from venice_spark.similarity import ivf_topk

    st = engine.store("emb")
    cents = open_view(engine.catalog, "emb", "ann", IvfIndexViewDef).spec.centroids
    q = _vec(42)
    got = [r["vid"] for r in st.ann_topk("ann", q, k=10, nprobe=4).collect()]
    fly = ivf_topk(st.df(), q, "vec", "vid", cents, k=10, nprobe=4)
    assert got == [r["vid"] for r in fly.collect()]


def test_composite_key_store_folds_deltas_and_refuses_knn_join(spark, tmp_root):
    """Index endpoints carry the FULL store key: a lazy delta on (5, 1)
    masks only that row — its sibling (5, 0) keeps serving from the index —
    and knn_join_vs, whose [lid, rid, cos, rank] contract has one rid,
    refuses a composite key instead of returning rows keyed on `a` alone."""
    from venice_spark.functions import vectors as VX

    eng = VeniceSparkEngine(spark, tmp_root)
    eng.create_store("ck", key_fields=["a", "b"], partition_count=2)
    rows = [(i // 2, i % 2, _vec(i)) for i in range(200)]
    eng.push(
        "ck",
        spark.createDataFrame(rows, "a long, b long, vec array<double>"),
        views=[IvfIndexViewDef("ann", vec_col="vec", n_centroids=8, sample_fraction=1.0)],
    )
    q = _vec(10)  # row (5, 0)
    delta = spark.createDataFrame(
        [(5, 1, _vec(10, shift=0.001))], "a long, b long, vec array<double>"
    )
    eng.incremental_push("ck", delta, eager=False)
    st = eng.store("ck")

    got = [
        (r["a"], r["b"])
        for r in st.ann_topk("ann", q, k=5, nprobe=8).collect()
    ]
    cos = VX.cosine_similarity("vec", list(q))
    brute = [
        (r["a"], r["b"])
        for r in st.df()
        .select("a", "b", cos.alias("c"))
        .orderBy(F.col("c").desc(), "a", "b")
        .limit(5)
        .collect()
    ]
    assert got == brute
    assert got[:2] == [(5, 0), (5, 1)]  # untouched sibling + moved row

    left = spark.createDataFrame([(1, q)], "qid long, v array<double>")
    with pytest.raises(ValueError, match="single-field store key"):
        st.knn_join_vs("ann", left, "qid", vec_col="v", k=3)
