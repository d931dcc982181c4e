"""Physical-plan regression tests: the optimizations SCALE.md claims must
actually appear in the executed plans — pushdown reaching the scan,
broadcast joins for key lookups, rank-limit pushdown for latest-wins,
column pruning for projections. If a refactor silently de-optimizes a
plan, these fail before any benchmark notices."""

import dataclasses

import pyspark.sql.functions as F
import pytest

from venice_spark.plans.reference_queries import QUERIES


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_single_get_pushes_filter_to_scan(spark, sf_dir):
    df = QUERIES["r1_single_get"](spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "c_custkey" in plan.split("PushedFilters")[1][:200], plan


def test_batch_get_is_broadcast_join(spark, sf_dir):
    df = QUERIES["r2_batch_get"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_projection_prunes_scan_columns(spark, sf_dir):
    df = QUERIES["r4_project"](spark, sf_dir)
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "p_name" in read_schema and "p_comment" not in read_schema, read_schema


def test_latest_wins_has_rank_limit_pushdown(spark, sf_dir):
    df = QUERIES["w1_put_latest_wins"](spark, sf_dir)
    plan = _plan(df)
    # WindowGroupLimit computes per-partition top-1 before the shuffle
    assert "WindowGroupLimit" in plan, plan


def test_ann_topk_avoids_global_sort(spark, sf_dir):
    df = QUERIES["x_ann_topk"](spark, sf_dir)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_vector_compute_has_no_python_stage(spark, sf_dir):
    for q in ("r5_dot_product", "r6_cosine_similarity", "x_token_count"):
        plan = _plan(QUERIES[q](spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (q, plan)


def test_filter_compute_prunes_partitions_of_sorted_store(spark, sf_dir):
    df = QUERIES["r10_filter_compute"](spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:300]
    assert "GreaterThanOrEqual(l_orderkey" in pushed or "l_orderkey" in pushed, pushed


def test_knn_join_lsh_has_no_cartesian_product(spark, sf_dir):
    """The blocked k-NN join must plan hash joins on (table, bucket) and id —
    never a cartesian/nested-loop product (that is exactly what it exists to
    replace)."""
    df = QUERIES["x_knn_join_lsh"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_batch_push_dedup_is_single_shuffle(spark):
    """The frame every batch push and slot write runs (push._dedup_frame):
    partition + dedup (+ the I6 distinct count) + sort plan exactly ONE
    exchange, the partition_id shuffle — the groupBy(partition_id, key)
    dedup reuses its hash partitioning (partition_id is a function of the
    key). A second exchange here doubles the dominant cost of every 100 TB
    push. Cases: dedup_order_col, the conflict check, allow_duplicate_key."""
    from venice_spark.push import _dedup_frame

    df = spark.createDataFrame(
        [(i % 50, float(i), i) for i in range(200)], "k long, v double, ts long"
    )
    for order_col, check in (("ts", False), (None, True), (None, False)):
        plan = _plan(_dedup_frame(df, ["k"], 8, False, order_col, check))
        assert plan.count("Exchange") == 1, plan
        assert "REPARTITION_BY_COL" in plan, plan
        # the output sort must be ELIMINATED: the SortAggregate already
        # emits (partition_id, key) order, so only the aggregation's own
        # input sorts remain — a Sort above the aggregate would re-sort
        # every partition
        lines = plan.splitlines()
        first_sort = next(i for i, line in enumerate(lines) if "Sort [" in line)
        first_agg = next(i for i, line in enumerate(lines) if "SortAggregate" in line)
        assert first_agg < first_sort, plan


def test_incremental_push_merge_never_shuffles_base(spark, sf_dir):
    """W9's delta-wins merge must be a broadcast anti-join — no exchange,
    sort, or window touching the base side (at 100 TB a windowed merge
    would shuffle+sort the whole store to override 0.01% of keys)."""
    plan = _plan(QUERIES["w9_incremental_push"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan and "Window" not in plan, plan


def _ancestry(plan: str, marker: str) -> list[str]:
    """The operator lines from the one scan whose line holds `marker` up to
    the plan root, scan first (tree-string depth = the `:+- ` prefix)."""
    lines = plan.splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    (i,) = [n for n, line in enumerate(lines) if "Scan parquet" in line and marker in line]
    path, d = [lines[i]], depth(lines[i])
    for line in reversed(lines[:i]):
        if depth(line) < d:
            path.append(line)
            d = depth(line)
    return path


@pytest.mark.parametrize("fold", ["compact", "eager_push"])
def test_engine_fold_never_shuffles_base(spark, tmp_path, monkeypatch, fold):
    """The folds the engine builds itself — compaction, and an eager push
    over a pending lazy slot — meet the base with a broadcast left-anti
    join only: from the base scan to the version repartition there is no
    Window and no other Exchange (a window fold hashes the whole base on
    (partition_id, key), sorts it, then repartitions it again)."""
    import venice_spark.push as push_mod
    from venice_spark import VeniceSparkEngine

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("f", key_fields=["k"], partition_count=4)
    schema = "k long, v double"
    eng.push("f", spark.createDataFrame([(i, i * 1.0) for i in range(100)], schema))
    for k in (1, 2):
        eng.incremental_push("f", spark.createDataFrame([(k, 9.0)], schema), eager=False)

    folds = []
    real = push_mod.repartition_and_sort

    def capture(df, *a, **k):
        folds.append(real(df, *a, **k))
        return folds[-1]

    monkeypatch.setattr(push_mod, "repartition_and_sort", capture)
    if fold == "compact":
        eng.compact("f")
    else:
        eng.incremental_push("f", spark.createDataFrame([(3, 7.0)], schema))
    assert eng.store("f").get(1)["v"] == 9.0 and eng.store("f").get(50)["v"] == 50.0

    key = "spark.sql.maxMetadataStringLength"  # full scan paths in the plan
    prev = spark.conf.get(key)
    spark.conf.set(key, "100000")
    try:
        plan = _plan(folds[0])
    finally:
        spark.conf.set(key, prev)
    path = _ancestry(plan, f"{eng.catalog.version_dir('f', 1)}]")
    first_exchange = next(i for i, line in enumerate(path) if "Exchange" in line)
    assert "REPARTITION_BY_COL" in path[first_exchange], plan
    below = path[:first_exchange]
    assert any("BroadcastHashJoin" in op and "LeftAnti" in op for op in below), plan
    assert not any("Window" in op for op in below), plan


def test_delta_resolved_get_still_prunes_partitions(spark, tmp_path):
    """Point reads through the LSM delta-log view: the partition_id filter
    must push through the resolve window to BOTH the base and delta scans
    (the window partitions by (partition_id, key) precisely so this
    pruning survives)."""
    from venice_spark import VeniceSparkEngine

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("d", key_fields=["k"], partition_count=8)
    eng.push("d", spark.createDataFrame([(i, i * 1.0) for i in range(100)], "k long, v double"))
    eng.incremental_push(
        "d", spark.createDataFrame([(1, 99.0)], "k long, v double"), eager=False
    )
    st = eng.store("d")
    from venice_spark.partitioner import partition_id_py

    pid = partition_id_py((1,), 8, False)
    view = st.df().filter(F.col("partition_id") == pid)
    plan = _plan(view)
    scans = [seg for seg in plan.split("Scan parquet") if "PartitionFilters" in seg]
    assert len(scans) >= 2, plan  # base + delta scans
    for seg in scans:
        pf = seg.split("PartitionFilters")[1][:200]
        assert "partition_id" in pf, plan
    assert st.get(1)["v"] == 99.0


def test_store_get_prunes_partition_dirs(spark, sf_dir, tmp_path):
    """The Spark batch_get (here: under a lazy delta slot, which keeps a
    read off the Arrow path) prunes version directories."""
    from venice_spark import VeniceSparkEngine

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("c", key_fields=["c_custkey"], partition_count=8)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    eng.push("c", cust)
    eng.incremental_push("c", cust.filter("c_custkey = 5"), eager=False)
    st = eng.store("c")
    assert not st._served().plain  # the live slot routes reads to Spark
    out = st.batch_get([1, 2, 3])
    plan = out._jdf.queryExecution().executedPlan().toString()
    # version layout is partitioned by partition_id -> the scan must carry
    # partition filters (directory pruning), not just data filters
    assert "PartitionFilters: [" in plan and "partition_id" in plan.split("PartitionFilters")[1][:200], plan
    assert st.get(1) is not None
    assert st.get(10**9) is None


def _spark_jobs(spark, fn):
    """(result, Spark jobs launched while fn ran)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = fn()
    return out, len(set(tracker.getJobIdsForGroup(None)) - before)


def test_plain_version_get_and_batch_get_launch_no_spark_job(spark, sf_dir, tmp_path):
    """With no delta slot, get and a collected batch_get read the owning
    partition dirs through Arrow: zero Spark jobs."""
    from venice_spark import VeniceSparkEngine

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("c", key_fields=["c_custkey"], partition_count=8)
    eng.push("c", spark.read.parquet(f"{sf_dir}/customer.parquet"))
    st = eng.store("c")
    row, jobs = _spark_jobs(spark, lambda: st.get(1))
    assert row["c_custkey"] == 1 and jobs == 0
    missing, jobs = _spark_jobs(spark, lambda: st.get(10**9))
    assert missing is None and jobs == 0
    rows, jobs = _spark_jobs(spark, lambda: st.batch_get([1, 2, 3, 10**9]).collect())
    assert sorted(r["c_custkey"] for r in rows) == [1, 2, 3] and jobs == 0


def test_batch_over_arrow_bound_plans_broadcast_join(spark, sf_dir, tmp_path):
    """ARROW_BATCH_MAX_KEYS bounds the driver-side Arrow read: a batch at
    the bound is a local scan, one key over it is the broadcast join."""
    from venice_spark import VeniceSparkEngine
    from venice_spark.served import ARROW_BATCH_MAX_KEYS

    assert ARROW_BATCH_MAX_KEYS >= 200  # bench.py's r2_store_batch_get batch
    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("c", key_fields=["c_custkey"], partition_count=8)
    eng.push("c", spark.read.parquet(f"{sf_dir}/customer.parquet"))
    st = eng.store("c")
    keys = list(range(1, ARROW_BATCH_MAX_KEYS + 2))
    at_bound = _plan(st.batch_get(keys[:-1]))
    assert "LocalTableScan" in at_bound and "BroadcastHashJoin" not in at_bound, at_bound
    over = _plan(st.batch_get(keys))
    assert "BroadcastHashJoin" in over, over


def test_plain_version_frame_takes_footer_schema_without_a_job(spark, tmp_path):
    """df() of a plain version reads with the files' footer schema: the
    schema (nullability and field metadata included) and rows of an
    inferred spark.read.parquet, and no schema-inference job. A live
    delta slot is read the same way: the resolved frame still builds with
    no job and matches the resolve over inferred reads."""
    from venice_spark import VeniceSparkEngine
    from venice_spark.catalog import StoreCatalog

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("p", key_fields=["k"], partition_count=4)
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("s", T.StringType(), True, {"comment": "kept"}),
            T.StructField("v", T.ArrayType(T.DoubleType(), False), True),
            T.StructField("b", T.BooleanType(), False),
        ]
    )
    src = spark.createDataFrame(
        [(k, f"s{k}" if k % 3 else None, [k * 0.5], k % 2 == 0) for k in range(40)], schema
    )
    eng.push("p", src)
    st = eng.store("p")
    inferred = spark.read.parquet(eng.catalog.version_dir("p", 1))
    df, jobs = _spark_jobs(spark, st.df)
    assert jobs == 0
    assert df.schema == inferred.schema
    assert [f.nullable for f in df.schema.fields] == [f.nullable for f in inferred.schema.fields]
    assert df.schema["s"].metadata == inferred.schema["s"].metadata
    assert sorted(map(repr, df.collect())) == sorted(map(repr, inferred.collect()))

    slot = src.filter("k < 5").withColumn("s", F.lit("new"))
    eng.incremental_push("p", slot, eager=False)
    (slot_dir,) = eng.catalog.list_delta_dirs("p", 1)
    want = StoreCatalog._resolve_delta_view(
        spark, inferred, [spark.read.parquet(slot_dir)], ["k"]
    )
    df, jobs = _spark_jobs(spark, st.df)
    assert jobs == 0
    assert df.schema == want.schema
    assert sorted(map(repr, df.collect())) == sorted(map(repr, want.collect()))
    # the get under the slot: the resolve's shuffle map stage and its
    # result, and no inference job for the slot
    row, jobs = _spark_jobs(spark, lambda: st.get(3))
    assert row["s"] == "new" and jobs <= 2


def test_keyed_compute_and_facet_counts_launch_no_spark_job(spark, sf_dir, tmp_path):
    """On a small plain version, compute().execute(keys) never builds the
    store frame and the facet counts are counted through Arrow: zero
    Spark jobs, collects included."""
    from venice_spark import VeniceSparkEngine

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("e", key_fields=["vec_id"], partition_count=8)
    eng.push("e", spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    st = eng.store("e")
    dim = len(st.get(0)["embedding"])
    p = [0.1 * (i % 5 - 2) for i in range(dim)]
    rows, jobs = _spark_jobs(
        spark,
        lambda: st.compute()
        .project("label")
        .dot_product("embedding", p, "dot")
        .cosine_similarity("embedding", p, "cos")
        .hadamard_product("embedding", p, "had")
        .count("embedding", "n")
        .error_channel()
        .execute([0, 1, 2, 10**9])
        .collect(),
    )
    assert sorted(r["vec_id"] for r in rows) == [0, 1, 2] and jobs == 0
    assert all(r["n"] == dim and len(r["had"]) == dim for r in rows)
    out, jobs = _spark_jobs(spark, lambda: st.aggregate().count_group_by_value(3, "label", "vec_id"))
    assert jobs == 0
    for f, frame in out.items():
        counted, jobs = _spark_jobs(spark, frame.collect)
        assert 0 < len(counted) <= 3 and jobs == 0, f


def _keyed_compute(st, p):
    return (
        st.compute()
        .project("label")
        .dot_product("embedding", p, "dot")
        .cosine_similarity("embedding", p, "cos")
        .hadamard_product("embedding", p, "had")
        .count("embedding", "n")
        .error_channel()
    )


def test_keyed_compute_arrow_bound(spark, sf_dir, tmp_path):
    """ARROW_BATCH_MAX_KEYS bounds the driver-side compute: a batch at the
    bound is a LocalTableScan computed with no Spark job; one key more
    takes batch_get's broadcast join and the Column plan, with the same
    rows (the extra key is absent)."""
    from venice_spark import VeniceSparkEngine
    from venice_spark.served import ARROW_BATCH_MAX_KEYS

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("e", key_fields=["vec_id"], partition_count=8)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    eng.push("e", emb)
    st = eng.store("e")
    n_rows = emb.count()
    assert n_rows < ARROW_BATCH_MAX_KEYS
    p = [0.1 * (i % 5 - 2) for i in range(len(st.get(0)["embedding"]))]
    keys = list(range(ARROW_BATCH_MAX_KEYS + 1))
    at_bound = _keyed_compute(st, p).execute(keys[:-1])
    plan = _plan(at_bound)
    assert plan.startswith("LocalTableScan") and "Project" not in plan, plan
    rows, jobs = _spark_jobs(spark, at_bound.collect)
    assert len(rows) == n_rows and jobs == 0
    over = _keyed_compute(st, p).execute(keys)
    assert "BroadcastHashJoin" in _plan(over), _plan(over)
    assert over.schema == at_bound.schema
    assert sorted(over.collect()) == sorted(rows)


def test_arrow_keyed_compute_builds_no_column_tree(spark, sf_dir, tmp_path, monkeypatch):
    """The driver form never lowers the request to Column expressions; a
    whole-store plan still does."""
    from venice_spark import VeniceSparkEngine
    from venice_spark.compute import ComputeRequestBuilder

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("e", key_fields=["vec_id"], partition_count=8)
    eng.push("e", spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    st = eng.store("e")
    p = [0.5] * len(st.get(0)["embedding"])

    def no_tree(self):
        raise AssertionError("built a Column tree")

    monkeypatch.setattr(ComputeRequestBuilder, "_result_columns", no_tree)
    assert len(_keyed_compute(st, p).execute([0, 1, 2]).collect()) == 3
    with pytest.raises(AssertionError, match="Column tree"):
        _keyed_compute(st, p).plan()


def test_facet_count_over_arrow_bound_plans_hash_aggregate(spark, tmp_path):
    """ARROW_SCAN_MAX_ROWS bounds the driver-side facet count: a version
    one row over it is counted by Spark's HashAggregate, and the bound
    itself would still be counted through Arrow."""
    from venice_spark import VeniceSparkEngine
    from venice_spark.served import ARROW_SCAN_MAX_ROWS

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("big", key_fields=["k"], partition_count=4)
    eng.push("big", spark.range(ARROW_SCAN_MAX_ROWS + 1).select(
        F.col("id").alias("k"), (F.col("id") % 7).cast("int").alias("v")
    ))
    st = eng.store("big")
    assert eng.catalog.version_manifest("big")["rows"] == ARROW_SCAN_MAX_ROWS + 1
    plan = _plan(st.aggregate().count_group_by_value(3, "v")["v"])
    assert "HashAggregate" in plan and "LocalTableScan" not in plan, plan
    at_bound = dataclasses.replace(st._served(), rows=ARROW_SCAN_MAX_ROWS)
    assert at_bound.value_counts(3, ["v"]) is not None


def test_per_row_corpus_metrics_have_no_shuffle_and_no_python(spark, sf_dir):
    """repetition metrics and PII scrub are pure per-row expression chains:
    one scan, zero Exchange, zero Python stage — the shape that stays
    embarrassingly parallel at 100 TB."""
    for q in ("x_repetition_filter", "x_pii_scrub"):
        plan = _plan(QUERIES[q](spark, sf_dir))
        assert "Exchange" not in plan, (q, plan)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (q, plan)


def test_ngram_counts_partial_aggregates_and_heap_topk(spark, sf_dir):
    """The explode fan-out must be absorbed by a map-side partial aggregate
    (two HashAggregates around one Exchange) and the top-K must be
    TakeOrderedAndProject, never a global Sort."""
    plan = _plan(QUERIES["x_ngram_counts"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
    assert "Sort " not in plan or "SortAggregate" not in plan


def test_pq_adc_search_is_python_free_heap_topk(spark, sf_dir):
    """PQ's query path must stay JVM-only: the ADC distance is m table
    lookups over literal arrays (no Python, no join) and the top-k is
    TakeOrderedAndProject. Only the ingest-time encode is an Arrow UDF."""
    from venice_spark.similarity import pq_topk, pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = pq_train(emb, "embedding", m=8, k=16, sample_fraction=1.0, seed=7)
    # stand-in coded frame: any array<int> column works for the plan shape
    coded = emb.selectExpr(
        "vec_id", "transform(sequence(1, 8), i -> 0) AS code"
    )
    plan = _plan(pq_topk(coded, [0.0] * 64, "code", "vec_id", books, k=10))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "Join" not in plan, plan


def test_tokenizer_word_counts_is_heap_topk(spark, sf_dir):
    """bpe_learn's word-frequency table is the tokenizer's one bounded
    collect; its orderBy+limit must plan as TakeOrderedAndProject
    (per-partition heaps), never a global Sort — an accidental global sort
    here would be the only driver-side scale risk in the package
    (VERDICT r3 'What's wrong' #2)."""
    from venice_spark.tokenizer import _word_counts_df

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(_word_counts_df(docs, "text", 20_000))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # map-side partial count


def test_inverted_index_bounded_shuffles(spark, sf_dir):
    """Two shuffles on the token key, both bounded: the df-count aggregate
    (longs only) runs and FILTERS the band BEFORE any posting list is
    collected — collecting first would buffer a stopword-scale token's
    full doc-id list in one reducer row. The plan must show the df filter
    upstream of the collect_set aggregate."""
    plan = _plan(QUERIES["x_inverted_index"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    # the band filter must appear below (executed before) the collect_set
    collect_pos = plan.find("collect_set")
    assert collect_pos > 0, plan
    assert "df#" in plan[collect_pos:] or "(df" in plan[collect_pos:], plan


def test_topk_per_group_has_rank_limit_pushdown(spark, sf_dir):
    plan = _plan(QUERIES["x_topk_per_group"](spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan


def test_random_projection_is_pure_codegen(spark, sf_dir):
    """The JL projection must plan with zero shuffle and zero Python — it is
    a row-local expression; and the parsed-expr form must stay inside
    whole-stage codegen (the fold form drops out of it)."""
    df = QUERIES["x_random_projection"](spark, sf_dir)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    # "*(1) Project" is executedPlan().toString()'s whole-stage-codegen marker
    assert "*(1) Project" in plan or "WholeStageCodegen" in plan, plan[:500]


def test_unigram_logprob_has_partial_agg_and_no_python(spark, sf_dir):
    """tf counting must partial-aggregate map-side before its shuffle (the
    token fan-out never crosses the wire raw), and no Python appears."""
    df = QUERIES["x_unigram_logprob"](spark, sf_dir)
    plan = _plan(df)
    assert "partial_count" in plan or "HashAggregate" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_dup_ngram_spans_no_python_no_cartesian(spark, sf_dir):
    """Window-dedup must stay JVM-side (explode + hash join + fold) and must
    never plan a cartesian product for the dup-set join-back."""
    df = QUERIES["x_dup_ngram_spans"](spark, sf_dir)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_decontaminate_spans_broadcasts_eval_windows(spark, sf_dir):
    """The eval window set must BROADCAST into the train-side semi join —
    a SortMergeJoin here would shuffle ~one row per corpus token at scale
    (code-review r4-continuation finding). Python stays out of the span
    math; the only Arrow stage would be none at all."""
    df = QUERIES["x_decontaminate_spans"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_brute_knn_join_has_no_cartesian_product(spark, sf_dir):
    """Even the brute-force baseline no longer plans a cross join: the query
    side broadcasts into a mapInPandas scan, so the only join machinery left
    is the final window rank over the partial top-k stream."""
    df = QUERIES["x_knn_join"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "WindowGroupLimit" in plan or "Window" in plan, plan


def test_sampling_ops_are_zero_shuffle_scans(spark, sf_dir):
    """shard_plan / oversample / split_assign are pure per-row expression
    queries: no Exchange, no Python stage — the scan is the whole plan."""
    for q in ("x_shard_plan", "x_oversample", "x_split_assign"):
        plan = _plan(QUERIES[q](spark, sf_dir))
        assert "Exchange" not in plan, (q, plan)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (q, plan)


def test_fuzzy_key_pairs_blocks_on_hashed_key(spark, sf_dir):
    """Candidate generation must hash-join on the 64-bit blocking key over
    DISTINCT keys — no cartesian/nested-loop stage anywhere."""
    df = QUERIES["x_fuzzy_key_pairs"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    # r11: the xxhash64 block key is computed once inside the eager
    # localCheckpoint of the exploded block table, so the FINAL plan shows
    # the hashed __block column read back from the RDD, not the hash call.
    assert "__block" in plan, plan


def test_recall_gates_join_bounded_topk_without_cartesian(spark, sf_dir):
    """The certification gates overlap two k-row TakeOrdered frames; the
    verdict join must stay a hash/broadcast join of bounded inputs — no
    cartesian stage, no global sort, and the exact side's top-k must plan
    as TakeOrderedAndProject (per-partition heaps), the shape that keeps
    the gate runnable at any corpus scale."""
    for q in ("x_ann_lsh_recall", "x_ann_ivf_recall", "x_pq_recall"):
        plan = _plan(QUERIES[q](spark, sf_dir))
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, (q, plan)
        assert "TakeOrderedAndProject" in plan, (q, plan)


def test_hll_gate_is_single_pass_single_scan(spark, sf_dir):
    """Exact count + HLL estimate compute in ONE aggregation over ONE scan
    (expand for the distinct), never two reads of the store."""
    plan = _plan(QUERIES["x_hll_error_gate"](spark, sf_dir))
    assert plan.count("FileScan") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_version_diff_prunes_columns_and_stays_jvm(spark, sf_dir):
    """The version-swap CDC diff must read only (key, value) columns from
    both snapshot scans (a swap diff that reads all columns re-reads the
    whole store) and run as a single JVM merge join — no Python stage, no
    cartesian/nested-loop."""
    df = QUERIES["x_version_diff"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    for seg in plan.split("ReadSchema: ")[1:]:
        schema = seg.split("\n", 1)[0]
        assert "o_orderkey" in schema and "o_totalprice" in schema, schema
        assert "o_orderstatus" not in schema and "o_comment" not in schema, schema


def test_evolved_serve_rank_limits_and_prunes_columns(spark, sf_dir):
    """The schema-evolution serving resolution must rank-limit both
    windows (WindowGroupLimit: the shuffle carries ~1 row per key, not
    every version of every key), prune both scans to the query's columns,
    and stay JVM-only — the same shape the serving LSM read pays."""
    df = QUERIES["x_evolved_serve"](spark, sf_dir)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    for seg in plan.split("ReadSchema: ")[1:]:
        schema = seg.split("\n", 1)[0]
        assert "o_comment" not in schema and "c_comment" not in schema, schema


def test_promoted_serve_rank_limits_and_prunes_columns(spark, sf_dir):
    """The type-promotion serving resolution (x_promoted_serve) keeps the
    evolved-serve plan shape: rank-limited windows, pruned scans, widening
    casts folded into the JVM projection — no Python stage."""
    df = QUERIES["x_promoted_serve"](spark, sf_dir)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    for seg in plan.split("ReadSchema: ")[1:]:
        schema = seg.split("\n", 1)[0]
        assert "o_comment" not in schema and "c_comment" not in schema, schema


def test_cast_promoted_serve_rank_limits_and_prunes_columns(spark, sf_dir):
    """The cast-on-read promotion resolution (x_cast_promoted_serve, r9:
    long→double) keeps the promoted-serve plan shape: rank-limited
    windows, pruned scans, and the Avro-target cast folded into the JVM
    projection — no Python stage, no extra shuffle over x_promoted_serve."""
    df = QUERIES["x_cast_promoted_serve"](spark, sf_dir)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    for seg in plan.split("ReadSchema: ")[1:]:
        schema = seg.split("\n", 1)[0]
        assert "o_comment" not in schema and "c_comment" not in schema, schema


def test_rt_migrated_serve_rank_limits_and_prunes_columns(spark, sf_dir):
    """The RT auto-migration fold (x_rt_migrated_serve, r10: narrow gen
    migrated-cast + native wide gen + narrow gen aligned up) keeps the
    promoted-serve plan shape: rank-limited window, partial-agg count
    generation, all three casts folded into JVM projections — no Python
    stage, no cartesian blowup, comment columns pruned from every scan."""
    df = QUERIES["x_rt_migrated_serve"](spark, sf_dir)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    for seg in plan.split("ReadSchema: ")[1:]:
        schema = seg.split("\n", 1)[0]
        assert "o_comment" not in schema and "c_comment" not in schema, schema


def test_corpus_gate_tokenizes_once(spark, sf_dir):
    """The stage-1 quality gate must tokenize ONCE per row (r10): the
    (n, hits) struct rides a gate_metrics Generate barrier and the
    predicate + n_tokens projection read its fields — the composed
    token_count/stopword_ratio form ran split()+filter() 3x per row
    (_bind fuses within one expression, not across the filter/project
    boundary). Pin: exactly one split() in the whole default-config plan
    (the gate's own, inside its Generate) for BOTH the batch and the
    nearline edition; fingerprint/dedup contribute none."""
    from venice_spark.pipeline import prepare_corpus
    from venice_spark.streaming.corpus import streaming_corpus_prep

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (prepare_corpus(docs), streaming_corpus_prep(docs, dedup=False)):
        plan = _plan(df)
        assert plan.count("split(") == 1, plan
        assert "Generate" in plan, plan
