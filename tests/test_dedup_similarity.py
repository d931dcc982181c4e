"""Dedup + similarity operators: planted-duplicate detection and LSH recall."""

import pyspark.sql.functions as F
import pytest

from venice_spark.dedup import (
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    simhash_buckets,
)
from venice_spark.plans.reference_queries import W64
from venice_spark.similarity import brute_force_topk, knn_join, lsh_topk


@pytest.fixture(scope="module")
def docs_with_dups(spark, sf_dir):
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    # plant: 1000/1001 exact dup of doc 0; 1002 near-dup of doc 1 (one word changed)
    rows = base.filter(F.col("doc_id").isin([0, 1])).collect()
    t0, t1 = rows[0]["text"], rows[1]["text"]
    near = t1.split(" ")
    near[len(near) // 2] = "XWORDX"
    extra = spark.createDataFrame(
        [(1000, t0), (1001, "  " + t0.upper() + "  "), (1002, " ".join(near))],
        schema="doc_id bigint, text string",
    )
    return base.unionByName(extra)


def test_exact_dedup_finds_planted(docs_with_dups):
    groups = exact_dedup(docs_with_dups, "text", "doc_id")
    dup_groups = groups.filter(F.col("dup_count") > 1).collect()
    assert len(dup_groups) == 1
    # canonical is the smallest id; normalization folds case + whitespace
    assert dup_groups[0]["canonical_id"] == 0
    assert dup_groups[0]["dup_count"] == 3


def test_minhash_lsh_finds_near_dup(docs_with_dups):
    pairs = minhash_lsh_pairs(
        docs_with_dups, "text", "doc_id", num_hashes=16, bands=4, threshold=0.5
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 1002) in found  # near-dup pair survives banding + jaccard
    assert all(j["jaccard"] >= 0.5 for j in pairs)


def test_simhash_identical_docs_same_hash(docs_with_dups):
    sh = simhash_buckets(docs_with_dups, "text", "doc_id", bits=16)
    vals = {r["doc_id"]: r["simhash"] for r in sh.filter(F.col("doc_id").isin([0, 1000])).collect()}
    assert vals[0] == vals[1000]


def test_embedding_near_dup_detects_identical(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    clone = emb.filter(F.col("vec_id") == 0).withColumn("vec_id", F.lit(99999).cast("long"))
    df = emb.unionByName(clone)
    pairs = embedding_near_dup_pairs(df, "embedding", "vec_id", "label", threshold=0.999)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 99999) in got


def test_lsh_topk_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = [r["vec_id"] for r in brute_force_topk(emb, W64, "embedding", "vec_id", 10).collect()]
    approx = [r["vec_id"] for r in lsh_topk(emb, W64, "embedding", "vec_id", 10).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.7, f"LSH recall too low: {recall} (exact={exact}, approx={approx})"


def test_knn_join_self_neighbor(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(F.col("vec_id") < 30)
    out = knn_join(emb, emb, "embedding", "vec_id", "vec_id", k=1).collect()
    # every vector's nearest neighbor (including self) is itself, cos=1
    for r in out:
        assert r["lid"] == r["rid"]
        assert abs(r["cos"] - 1.0) < 1e-9


def test_knn_join_lsh_recall_on_clustered_corpus(spark):
    """Planted clusters: 20 centers x 10 jittered members (cos ~0.95+ within
    a cluster). knn_join_lsh must recover >=0.9 of the exact top-3 neighbor
    pairs — the near-duplicate regime the blocked join targets."""
    import math
    import random

    from venice_spark.similarity import knn_join_lsh

    rng = random.Random(7)
    rows = []
    vid = 0
    for _c in range(20):
        center = [rng.gauss(0, 1) for _ in range(64)]
        for _m in range(10):
            v = [x + rng.gauss(0, 0.12) for x in center]
            n = math.sqrt(sum(y * y for y in v))
            rows.append((vid, [y / n for y in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r["lid"], r["rid"])
        for r in knn_join(emb, emb, "embedding", "vec_id", "vec_id", k=3).collect()
    }
    approx_rows = knn_join_lsh(
        emb, emb, "embedding", "vec_id", "vec_id", k=3, dim=64
    ).collect()
    approx = {(r["lid"], r["rid"]) for r in approx_rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"LSH knn-join recall too low: {recall:.3f}"
    # every returned cos must be exact (rescoring is not approximated):
    # approx pairs are a subset of all-pairs cosine, dominated by exact top-k
    exact_cos = {
        (r["lid"], r["rid"]): r["cos"]
        for r in knn_join(emb, emb, "embedding", "vec_id", "vec_id", k=200).collect()
    }
    for r in approx_rows:
        assert abs(exact_cos[(r["lid"], r["rid"])] - r["cos"]) < 1e-12


def test_lsh_gemm_buckets_match_fold_and_null_edges(spark, sf_dir):
    """r10: knn_join_lsh's Arrow GEMM bucket kernel must emit the SAME
    bucket ids as the oracle-portable JVM fold (lsh_table_buckets) on the
    real corpus AND the degenerate rows: null vector / wrong length map
    to bucket 0, while a NaN element sets every bit (Spark orders NaN
    above all numbers, so the fold's IF(dot > 0) passes) — a silent
    drift here silently changes the candidate set."""
    from venice_spark.similarity import _lsh_gemm_buckets, lsh_table_buckets

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    edges = spark.createDataFrame(
        [
            (100001, None),
            (100002, [1.0, 2.0]),  # wrong length
            (100003, [float("nan")] * 64),
            (100004, [0.0] * 64),
        ],
        "vec_id long, embedding array<double>",
    )
    df = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")).unionByName(edges)
    old = df.select("vec_id", lsh_table_buckets("embedding", 64, 8, 8, 42).alias("bk"))
    new = df.select("vec_id", _lsh_gemm_buckets("embedding", 64, 8, 8, 42).alias("bk"))
    j = old.join(new.withColumnRenamed("bk", "b2"), "vec_id")
    assert j.filter(F.expr("bk != b2")).count() == 0
    edge = {r["vec_id"]: r["b2"] for r in j.filter("vec_id > 100000").collect()}
    assert edge[100001] == [0] * 8 and edge[100002] == [0] * 8
    assert edge[100003] == [255] * 8  # NaN dot: Spark's NaN > 0 is TRUE


def test_knn_join_lsh_subset_of_candidates(spark, sf_dir):
    """On the sf corpus: rank/cos are internally consistent and no left id
    exceeds k rows."""
    from venice_spark.similarity import knn_join_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(F.col("vec_id") < 40)
    out = knn_join_lsh(emb, emb, "embedding", "vec_id", "vec_id", k=3, dim=64).collect()
    per_left = {}
    for r in out:
        per_left.setdefault(r["lid"], []).append((r["rank"], r["cos"], r["rid"]))
    for lid, rs in per_left.items():
        rs.sort()
        assert len(rs) <= 3
        assert rs[0][2] == lid and abs(rs[0][1] - 1.0) < 1e-9  # self is rank 1
        cosines = [c for _, c, _ in rs]
        assert cosines == sorted(cosines, reverse=True)


def test_ivf_topk_recall(spark, sf_dir):
    from venice_spark.similarity import ivf_assign, ivf_topk, train_ivf_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = train_ivf_centroids(emb, "embedding", n_centroids=8, sample_fraction=1.0)
    assert len(cents) == 8 and len(cents[0]) == 64
    exact = [r["vec_id"] for r in brute_force_topk(emb, W64, "embedding", "vec_id", 10).collect()]
    approx = [r["vec_id"] for r in ivf_topk(emb, W64, "embedding", "vec_id", cents, 10, nprobe=4).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.7, f"IVF recall too low: {recall}"
    # precomputed list column path (the at-scale layout) gives identical results
    with_list = emb.withColumn("ivf_list", ivf_assign("embedding", cents))
    approx2 = [r["vec_id"] for r in ivf_topk(with_list, W64, "embedding", "vec_id", cents, 10, nprobe=4, list_col="ivf_list").collect()]
    assert approx2 == approx


def test_quantize_roundtrip_cosine(spark, sf_dir):
    from venice_spark.functions.vectors import (
        cosine_similarity,
        dequantize_int8,
        quantize_int8,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    rt = emb.withColumn("__q", quantize_int8("embedding")).withColumn(
        "deq", dequantize_int8("__q")
    )
    orig = rt.select(cosine_similarity("embedding", W64).alias("c")).collect()
    deq = rt.select(cosine_similarity("deq", W64).alias("c")).collect()
    errs = [abs(a["c"] - b["c"]) for a, b in zip(orig, deq) if a["c"] is not None]
    assert errs and max(errs) < 0.02, f"quantization cosine drift too high: {max(errs)}"


def test_pack_sequences_budget_semantics(spark):
    from venice_spark.dedup import pack_sequences

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate([4, 4, 4, 25, 3])], "doc_id long, n long"
    )
    out = pack_sequences(df, "n", "doc_id", budget=10, n_shards=1).collect()
    packs = {r["doc_id"]: r["pack_id"] for r in out}
    # greedy close-on-overflow: [4,4] fills pack 0 (adding the next 4 would
    # hit 12 > 10), [4] alone in pack 1 (25 won't fit), the oversized 25 is
    # pack 2 BY ITSELF, and 3 starts pack 3 — no pack over budget except
    # the lone oversized document
    assert packs == {0: 0, 1: 0, 2: 1, 3: 2, 4: 3}
    assert all(r["shard"] == out[0]["shard"] for r in out)
    # budget invariant on a random-ish mix: no multi-doc pack exceeds budget
    import random
    rng = random.Random(5)
    big = spark.createDataFrame(
        [(i, rng.randint(1, 12)) for i in range(200)], "doc_id long, n long"
    )
    rows = pack_sequences(big, "n", "doc_id", budget=16, n_shards=4).collect()
    fills = {}
    for r in rows:
        key = (r["shard"], r["pack_id"])
        fills.setdefault(key, []).append(r["n"])
    for key, ns in fills.items():
        assert sum(ns) <= 16 or len(ns) == 1, (key, ns)


def test_bpe_ish_token_count(spark):
    from venice_spark.functions.text import bpe_ish_token_count

    df = spark.createDataFrame([("Hello, world 42!",)], "text string")
    # tokens: Hello , world 4 2 !  -> 6
    assert df.select(bpe_ish_token_count("text").alias("n")).first()["n"] == 6


def test_ngram_jaccard_on_candidate_pairs(spark, docs_with_dups):
    from venice_spark.dedup import ngram_jaccard

    pairs = spark.createDataFrame([(0, 1000), (1, 1002)], "id_a long, id_b long")
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           ngram_jaccard(pairs, docs_with_dups, "text", "doc_id").collect()}
    assert out[(0, 1000)] == 1.0          # exact duplicate
    assert 0.5 < out[(1, 1002)] < 1.0     # one word changed


def test_prepare_corpus_pipeline(spark, docs_with_dups):
    from venice_spark.pipeline import CorpusPrepConfig, prepare_corpus

    out = prepare_corpus(
        docs_with_dups,
        config=CorpusPrepConfig(
            min_tokens=1, min_stopword_ratio=0.0, near_dup_jaccard=0.8, pack_budget=512
        ),
    )
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    # exact dups (1000=copy of 0, 1001=case/space variant) deduped to doc 0;
    # near-dup 1002 (1 word changed vs doc 1) removed by the LSH stage
    assert 0 in ids and 1000 not in ids and 1001 not in ids
    assert 1 in ids and 1002 not in ids
    cols = out.columns
    assert "n_tokens" in cols and "pack_id" in cols and "shard" in cols


def test_dup_clusters_transitive(spark):
    from venice_spark.dedup import dup_clusters

    # chain 1~2~3 plus pair 10~11: two components
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    out = {r["id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_canonical_docs_keeps_best_quality_per_cluster(spark):
    from venice_spark.dedup import canonical_docs

    docs = spark.createDataFrame(
        [(1, 0.2, "a"), (2, 0.9, "b"), (3, 0.9, "c"), (10, 0.1, "d"),
         (11, 0.5, "e"), (42, 0.0, "singleton")],
        "doc_id long, quality double, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    out = {r["doc_id"]: r for r in canonical_docs(docs, pairs, "doc_id", "quality").collect()}
    # chain 1~2~3: quality tie 2 vs 3 -> lowest id (2) survives
    assert [out[i]["keep"] for i in (1, 2, 3)] == [False, True, False]
    assert all(out[i]["cluster_id"] == 1 for i in (1, 2, 3))
    # pair 10~11: 11 wins on quality
    assert (out[10]["keep"], out[11]["keep"]) == (False, True)
    # singleton: own cluster, kept, payload columns intact
    assert out[42]["keep"] and out[42]["cluster_id"] == 42 and out[42]["text"] == "singleton"


def test_canonical_docs_no_quality_keeps_min_id(spark):
    from venice_spark.dedup import canonical_docs

    docs = spark.createDataFrame([(5,), (6,), (7,)], "doc_id long")
    pairs = spark.createDataFrame([(6, 7)], "id_a long, id_b long")
    out = {r["doc_id"]: r["keep"] for r in canonical_docs(docs, pairs, "doc_id").collect()}
    assert out == {5: True, 6: True, 7: False}


def test_decontaminate_removes_ngram_overlap(spark):
    from venice_spark.pipeline import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated content about spark engines"),
            (3, "another clean document with no leakage at all"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "we observed the quick brown fox in the wild")],
        "doc_id long, text string",
    )
    out = {r["doc_id"] for r in decontaminate(train, ev, ngram_n=3).collect()}
    # doc 1 shares the 3-gram "the quick brown" (and more) with the eval doc
    assert out == {2, 3}


def test_decontaminate_spans_cuts_only_the_overlap(spark):
    from venice_spark.pipeline import decontaminate_spans

    train = spark.createDataFrame(
        [
            # tokens 2-5 ("alpha beta gamma delta") appear in the eval doc;
            # the prefix and suffix must survive the cut
            (1, "keep this alpha beta gamma delta and keep that"),
            (2, "totally clean document nothing shared here at all"),
        ],
        "doc_id long, text string",
    )
    # text-only benchmark frame (no id column) must work — only the eval
    # window set is used (code-review r4-continuation finding)
    ev = spark.createDataFrame(
        [("benchmark question alpha beta gamma delta answer choice",)],
        "text string",
    )
    out = {
        r["doc_id"]: r
        for r in decontaminate_spans(train, ev, window=4).collect()
    }
    r1 = out[1]
    assert list(r1["contam_starts"]) == [2]
    assert r1["covered"] == 4 and r1["n_tokens"] == 9
    assert r1["clean_text"] == "keep this and keep that"
    r2 = out[2]
    assert r2["covered"] == 0 and list(r2["contam_starts"]) == []
    assert r2["clean_text"] == r2["text"]


def test_decontaminate_spans_merges_overlapping_windows(spark):
    from venice_spark.pipeline import decontaminate_spans

    # eval contains a 5-token run -> two overlapping 4-token train windows
    # (starts 1 and 2) must merge into one 5-token covered interval
    train = spark.createDataFrame(
        [(1, "x a b c d e y")], "doc_id long, text string"
    )
    ev = spark.createDataFrame(
        [(9, "a b c d e")], "doc_id long, text string"
    )
    r = decontaminate_spans(train, ev, window=4).collect()[0]
    assert list(r["contam_starts"]) == [1, 2]
    assert r["covered"] == 5
    assert r["clean_text"] == "x y"


def test_decontaminate_no_overlap_keeps_all(spark):
    from venice_spark.pipeline import decontaminate

    train = spark.createDataFrame([(1, "alpha beta gamma delta")], "doc_id long, text string")
    ev = spark.createDataFrame([(9, "epsilon zeta eta theta")], "doc_id long, text string")
    assert decontaminate(train, ev, ngram_n=3).count() == 1


def test_stratified_sample_deterministic_and_rate_shaped(spark):
    from venice_spark.pipeline import stratified_sample

    df = spark.createDataFrame(
        [(i, "rare" if i % 10 == 0 else "common") for i in range(2000)],
        "id long, domain string",
    )
    out = stratified_sample(df, "domain", {"rare": 1.0, "common": 0.25}, "id")
    counts = {r["domain"]: r["n"] for r in out.groupBy("domain").agg(F.count("*").alias("n")).collect()}
    assert counts["rare"] == 200  # rate 1.0 keeps every row
    assert 350 < counts["common"] < 550  # ~25% of 1800, hash-binomial spread
    # deterministic: the same call returns the identical id set
    a = {r["id"] for r in out.collect()}
    b = {r["id"] for r in stratified_sample(df, "domain", {"rare": 1.0, "common": 0.25}, "id").collect()}
    assert a == b
    # monotone under rate increase: the 25% sample is a subset of the 50% one
    c = {r["id"] for r in stratified_sample(df, "domain", {"rare": 1.0, "common": 0.5}, "id").collect()}
    assert a <= c


def test_stratified_sample_default_rate_zero_drops_unlisted(spark):
    from venice_spark.pipeline import stratified_sample

    df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, domain string")
    out = stratified_sample(df, "domain", {"x": 1.0}, "id")
    assert [r["domain"] for r in out.collect()] == ["x"]


def test_minhash_bucket_cap_bounds_degenerate_corpus(spark):
    """A corpus with a large block of identical boilerplate must not blow up
    candidate generation: with max_bucket_size the boilerplate bucket is
    dropped (its members belong to exact dedup), while genuinely near-dup
    pairs outside it still surface."""
    from venice_spark.dedup import minhash_lsh_pairs

    boiler = "the same boilerplate text repeated in every single document here"
    rows = [(i, boiler) for i in range(50)]
    rows += [
        (100, "a unique document about spark engines and data pipelines ok"),
        (101, "a unique document about spark engines and data pipelines yes"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = minhash_lsh_pairs(df, "text", "doc_id", max_bucket_size=10)
    pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in pairs  # real near-dups still found
    assert not any(a < 100 and b < 100 for a, b in pairs)  # boilerplate capped out

    # uncapped: the boilerplate block floods the pair set (50*49/2 pairs)
    full = minhash_lsh_pairs(df, "text", "doc_id")
    assert full.count() >= 50 * 49 / 2


def test_simhash_bucket_cap(spark):
    from venice_spark.dedup import simhash_pairs

    boiler = "identical boilerplate text for every row of this block indeed"
    rows = [(i, boiler) for i in range(40)] + [
        (100, "something entirely different lives here with other words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = simhash_pairs(df, "text", "doc_id", max_bucket_size=10)
    assert capped.count() == 0  # the boilerplate block is the only dup source
    full = simhash_pairs(df, "text", "doc_id")
    assert full.count() >= 40 * 39 / 2


def test_kmeans_fit_recovers_separated_clusters(spark):
    """Distributed Lloyd refinement on three well-separated directions:
    every point must land with its own cluster's members, and the learned
    centroids must align (cosine > 0.95) with the true directions."""
    import random

    from venice_spark.similarity import ivf_assign, kmeans_fit

    rng = random.Random(7)
    dims = 8
    axes = [[0.0] * dims for _ in range(3)]
    for i in range(3):
        axes[i][i] = 1.0
    rows = []
    for gid, ax in enumerate(axes):
        for j in range(60):
            v = [a + rng.gauss(0, 0.05) for a in ax]
            rows.append((gid * 1000 + j, gid, v))
    df = spark.createDataFrame(rows, "vec_id long, true_c int, embedding array<float>")

    cents = kmeans_fit(df, "embedding", n_clusters=3, iters=4, max_sample=60)
    assert len(cents) == 3

    got = df.withColumn("c", ivf_assign("embedding", cents)).collect()
    # every true cluster maps to exactly one learned cluster, bijectively
    mapping = {}
    for r in got:
        mapping.setdefault(r["true_c"], set()).add(r["c"])
    assert all(len(v) == 1 for v in mapping.values()), mapping
    assert len({next(iter(v)) for v in mapping.values()}) == 3

    # centroid alignment with the true axes
    import math

    for ax in axes:
        best = max(
            sum(a * c for a, c in zip(ax, cent))
            / (math.sqrt(sum(c * c for c in cent)) or 1.0)
            for cent in cents
        )
        assert best > 0.95, (ax, cents)


def test_kmeans_fit_one_shuffle_per_iteration_mstep(spark):
    """The M-step aggregation must be a partial-agg shuffle on (cluster,
    pos), never a collect of vectors: assert the plan of the M-step frame
    has exactly one hash-partitioning exchange."""
    import pyspark.sql.functions as F

    from venice_spark.functions import vectors as VX
    from venice_spark.similarity import ivf_assign, train_ivf_centroids

    df = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    cents = train_ivf_centroids(df, "embedding", 2, 1.0, 50, iters=1)
    nrm = F.sqrt(VX.squared_l2_norm("embedding"))
    unit = F.transform(F.col("embedding"), lambda x: x / nrm)
    mstep = (
        df.withColumn("__c", ivf_assign("embedding", cents))
        .select("__c", F.posexplode(unit).alias("pos", "x"))
        .groupBy("__c", "pos")
        .agg(F.sum("x").alias("s"))
    )
    plan = mstep._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "HashAggregate" in plan and "partial_sum" in plan, plan


def test_semantic_dedup_drops_planted_near_dups(spark):
    """Plant embedding-space near-duplicates (tiny perturbations of base
    vectors); semantic_dedup must drop exactly the higher-id copies and
    keep everything else."""
    import random

    from venice_spark.dedup import semantic_dedup

    rng = random.Random(11)
    dims = 8
    rows = []
    for i in range(40):
        base = [rng.gauss(0, 1) for _ in range(dims)]
        rows.append((i, base))
        if i < 5:  # plant a near-dup of the first five
            rows.append((1000 + i, [x + rng.gauss(0, 1e-3) for x in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    kept = {
        r["vec_id"]
        for r in semantic_dedup(
            df, "embedding", "vec_id", n_clusters=8, threshold=0.999
        ).collect()
    }
    assert kept.issuperset(set(range(40)))
    assert kept.isdisjoint({1000 + i for i in range(5)})
    assert len(kept) == 40


def test_dup_ngram_spans_planted(spark):
    from venice_spark.dedup import dup_ngram_spans

    boiler = "please subscribe to our newsletter for updates every single day"  # 10 tokens
    rows = [
        (1, f"alpha beta gamma {boiler} delta epsilon"),
        (2, f"zeta eta theta iota {boiler} kappa"),
        (3, "totally unique words nothing repeated here at all"),
        # in-document repetition also counts (total occurrences >= 2)
        (4, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dup_ngram_spans(df, window=10, hash_windows=False).collect()
    }
    # boilerplate window appears in docs 1 and 2 at the right offsets
    assert 3 in out[1]["dup_starts"] and out[1]["covered"] >= 10
    assert 4 in out[2]["dup_starts"] and out[2]["covered"] >= 10
    assert out[3]["covered"] == 0 and out[3]["dup_starts"] == []
    # doc 4: "x1..x10" occurs twice -> windows at 0 and 10 both duplicated,
    # merged coverage is the whole 20-token doc
    assert out[4]["covered"] == 20
    assert out[4]["dup_ngram_frac"] == 1.0
    # hashed fast path gives the identical answer
    hashed = {
        r["doc_id"]: r["covered"]
        for r in dup_ngram_spans(df, window=10, hash_windows=True).collect()
    }
    assert hashed == {k: v["covered"] for k, v in out.items()}


def test_drop_dup_ngram_spans_cleans_covered_tokens(spark):
    from venice_spark.dedup import drop_dup_ngram_spans

    boiler = " ".join(f"b{i}" for i in range(10))
    rows = [
        (1, f"keep1 keep2 {boiler} keep3"),
        (2, f"{boiler} other words"),
        (3, "all original content stays intact"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r["clean_text"]
        for r in drop_dup_ngram_spans(df, window=10, hash_windows=False).collect()
    }
    assert out[1] == "keep1 keep2 keep3"
    assert out[2] == "other words"
    assert out[3] == "all original content stays intact"


def test_knn_classify_blocked_agrees_with_brute_on_clusters(spark):
    """On well-separated clusters the LSH-blocked classifier reproduces the
    exact brute-force labels (the scale path loses nothing when structure
    is real)."""
    import numpy as np

    from venice_spark.similarity import knn_classify

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(3, 16)) * 5
    labeled, unlabeled = [], []
    for i in range(120):
        c = i % 3
        v = centers[c] + rng.normal(size=16) * 0.3
        labeled.append((i, [float(x) for x in v], c))
    for j in range(30):
        c = j % 3
        v = centers[c] + rng.normal(size=16) * 0.3
        unlabeled.append((1000 + j, [float(x) for x in v]))
    ldf = spark.createDataFrame(labeled, ["vec_id", "embedding", "label"])
    udf_ = spark.createDataFrame(unlabeled, ["vec_id", "embedding"])

    brute = {
        r["vec_id"]: r["predicted"]
        for r in knn_classify(udf_, ldf, "embedding", "vec_id", "label", k=5, blocked=False).collect()
    }
    blocked = {
        r["vec_id"]: r["predicted"]
        for r in knn_classify(udf_, ldf, "embedding", "vec_id", "label", k=5, blocked=True, dim=16).collect()
    }
    # every point classified to its true cluster by both editions
    for j in range(30):
        assert brute[1000 + j] == j % 3
    agree = sum(1 for v in brute if blocked.get(v) == brute[v])
    assert agree >= 28  # LSH recall may drop a boundary point, never many


def test_chunk_documents_disjoint_and_strided(spark):
    from venice_spark.dedup import chunk_documents

    text = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([(1, text), (2, "a b c")], ["doc_id", "text"])

    # disjoint: 10 tokens / 4 -> chunks of 4,4,2
    out = chunk_documents(df, max_tokens=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk_text"], r["chunk_tokens"]))
    c1 = sorted(by_doc[1])
    assert [c[1] for c in c1] == ["t0 t1 t2 t3", "t4 t5 t6 t7", "t8 t9"]
    assert [c[2] for c in c1] == [4, 4, 2]
    assert by_doc[2] == [(0, "a b c", 3)]

    # strided overlap: window 4, stride 2 -> starts 0,2,4,6,8
    out2 = chunk_documents(df.filter("doc_id = 1"), max_tokens=4, stride=2).collect()
    texts = [r["chunk_text"] for r in sorted(out2, key=lambda r: r["chunk_idx"])]
    assert texts == ["t0 t1 t2 t3", "t2 t3 t4 t5", "t4 t5 t6 t7", "t6 t7 t8 t9", "t8 t9"]

    # min_chunk_tokens drops the trailing stub
    out3 = chunk_documents(df.filter("doc_id = 1"), max_tokens=4, min_chunk_tokens=3).collect()
    assert [r["chunk_tokens"] for r in sorted(out3, key=lambda r: r["chunk_idx"])] == [4, 4]


def test_fuzzy_key_pairs_pigeonhole_complete(spark):
    """Planted typo pairs at every segment position are all found (the
    pigeonhole must not depend on WHERE the substitution lands), plus a
    distance-2 pair is excluded at max_subs=1 and found at 2."""
    from venice_spark.dedup import fuzzy_key_pairs

    rows = [
        (1, "alphabet"),
        (2, "alphabex"),   # sub in 2nd half
        (3, "xlphabet"),   # sub in 1st half (first char!)
        (4, "alPhabet"),   # sub mid
        (5, "alphabyx"),   # distance 2 from 1
        (6, "different"),  # different length: never a candidate
    ]
    df = spark.createDataFrame(rows, ["id", "k"])
    d1 = {(r["id_a"], r["id_b"]): r["dist"]
          for r in fuzzy_key_pairs(df, "k", "id", max_subs=1).collect()}
    assert (1, 2) in d1 and (1, 3) in d1 and (1, 4) in d1
    assert (1, 5) not in d1
    assert all(v <= 1 for v in d1.values())
    d2 = {(r["id_a"], r["id_b"]): r["dist"]
          for r in fuzzy_key_pairs(df, "k", "id", max_subs=2).collect()}
    assert d2[(1, 5)] == 2
    assert (2, 5) in d2  # "alphabex" vs "alphabyx" distance 1


def test_knn_join_query_side_guard_and_edges(spark):
    """The brute join raises past max_query_rows (the answer at that scale
    is knn_join_lsh), returns empty for an empty query side, and resolves
    equal-cosine boundary ties by ascending neighbor id — the per-batch
    partial top-k must keep tied contenders for the global rank to see."""
    import pytest as _pt

    from venice_spark.similarity import knn_join

    right = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(10)], "rid long, v array<double>"
    )
    left = spark.createDataFrame([(100, [1.0, 0.0])], "lid long, v array<double>")
    with _pt.raises(ValueError, match="max_query_rows"):
        knn_join(left, right, "v", "lid", "rid", k=2, max_query_rows=0)
    empty = left.filter("lid < 0")
    assert knn_join(empty, right, "v", "lid", "rid", k=2).count() == 0
    # all 10 right rows tie at cos=1.0 -> top-3 must be rids 0,1,2 in rank order
    out = knn_join(left, right, "v", "lid", "rid", k=3).collect()
    assert [(r["rid"], r["rank"]) for r in sorted(out, key=lambda r: r["rank"])] == [
        (0, 1), (1, 2), (2, 3)
    ]


def test_knn_join_zero_norm_vectors_never_displace_candidates(spark):
    """A zero-norm vector yields NaN cosine; the partial top-k must exclude
    it WITHOUT losing real candidates (np.partition ranks NaN largest, which
    would silently displace true neighbors)."""
    from venice_spark.similarity import knn_join

    right = spark.createDataFrame(
        [(0, [0.9, 0.1]), (1, [0.8, 0.2]), (2, [0.0, 0.0]),  # zero-norm
         (3, [0.7, 0.3]), (4, [0.6, 0.4])],
        "rid long, v array<double>",
    )
    left = spark.createDataFrame([(100, [1.0, 0.0])], "lid long, v array<double>")
    out = sorted(
        (r["rank"], r["rid"]) for r in knn_join(left, right, "v", "lid", "rid", k=3).collect()
    )
    assert [rid for _, rid in out] == [0, 1, 3]  # 0.7-vec kept, zero-norm absent
    # zero-norm QUERY returns no rows rather than NaN garbage
    zq = spark.createDataFrame([(200, [0.0, 0.0])], "lid long, v array<double>")
    assert knn_join(zq, right, "v", "lid", "rid", k=3).count() == 0
    # ragged query vectors: minority-length rows are excluded, not a crash
    ragged = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.5, 0.5]), (3, [1.0, 0.0, 0.0])],
        "lid long, v array<double>",
    )
    got = {r["lid"] for r in knn_join(ragged, right, "v", "lid", "rid", k=1).collect()}
    assert got == {1, 2}


def test_fuzzy_key_pairs_nonunique_ids_and_duplicate_rows(spark):
    """Self-pairs (one id holding both keys of a fuzzy pair) are excluded
    and exact duplicate input rows do not duplicate output pairs."""
    from venice_spark.dedup import fuzzy_key_pairs

    df = spark.createDataFrame(
        [(1, "alpha"), (1, "alphb"),       # same id, fuzzy-matching keys
         (2, "gamma"), (2, "gamma"),       # exact duplicate row
         (3, "gamme")],
        "id long, k string",
    )
    out = sorted(tuple(r) for r in fuzzy_key_pairs(df, "k", "id", max_subs=1).collect())
    assert out == [(2, 3, 1)]  # no (1,1) self-pair; (2,3) emitted exactly once


def test_minhash_rejects_bad_band_config(spark):
    from venice_spark.dedup import minhash_lsh_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bands must divide"):
        minhash_lsh_pairs(df, "text", "doc_id", num_hashes=16, bands=32)
    with pytest.raises(ValueError, match="bands must divide"):
        minhash_lsh_pairs(df, "text", "doc_id", num_hashes=10, bands=4)


def test_embedding_near_dup_nan_vectors_do_not_pair(spark):
    """NaN components make cos NaN, which Spark orders above every number —
    the filter must exclude it instead of pairing the bad row with its
    whole block."""
    rows = [(0, [1.0, 0.0], 1), (1, [1.0, 0.001], 1),
            (2, [float("nan"), 1.0], 1)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    pairs = embedding_near_dup_pairs(df, "embedding", "vec_id", "label", threshold=0.99)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(0, 1)}  # the NaN row pairs with nothing


# ------------------------------------------------------------------- PQ


def test_pq_train_shapes_and_determinism(spark, sf_dir):
    from venice_spark.similarity import pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b1 = pq_train(emb, "embedding", m=8, k=16, sample_fraction=1.0, seed=7)
    b2 = pq_train(emb, "embedding", m=8, k=16, sample_fraction=1.0, seed=7)
    assert b1 == b2  # seeded: bit-identical across runs
    assert len(b1) == 8 and all(len(b) == 16 for b in b1)
    assert all(len(c) == 8 for b in b1 for c in b)  # 64/8 dims per subspace
    import pytest as _pt

    with _pt.raises(ValueError, match="divisible"):
        pq_train(emb, "embedding", m=7)


def test_pq_encode_and_adc_match_numpy(spark, sf_dir):
    """Codes are valid argmins and the JVM ADC distance equals the numpy
    asymmetric distance to ~1e-9 — the table-lookup expression re-derives
    exactly what the literature defines."""
    import numpy as np

    from venice_spark.similarity import pq_adc_dist, pq_encode, pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = pq_train(emb, "embedding", m=8, k=16, sample_fraction=1.0, seed=7)
    coded = emb.withColumn("code", pq_encode("embedding", books))
    rows = coded.select("vec_id", "embedding", "code").limit(20).collect()
    nb = [np.array(b) for b in books]
    q = [float(np.sin(i + 1)) for i in range(64)]
    got = {
        r["vec_id"]: r["d"]
        for r in coded.select(
            "vec_id", pq_adc_dist("code", q, books).alias("d")
        ).limit(0).union(
            coded.select("vec_id", pq_adc_dist("code", q, books).alias("d"))
        ).collect()
    }
    qa = np.array(q)
    for r in rows:
        a = np.array(r["embedding"], dtype=np.float64)
        # codes are true per-subspace argmins
        for s in range(8):
            xs = a[s * 8 : (s + 1) * 8]
            d2 = ((nb[s] - xs) ** 2).sum(axis=1)
            assert r["code"][s] == int(d2.argmin())
        # ADC = sum of query-to-assigned-centroid subdistances
        expect = sum(
            ((qa[s * 8 : (s + 1) * 8] - nb[s][r["code"][s]]) ** 2).sum()
            for s in range(8)
        )
        assert abs(got[r["vec_id"]] - expect) < 1e-9
    # null vectors encode to null, never a task failure
    one = spark.createDataFrame([(1, None)], "vec_id long, embedding array<float>")
    assert one.select(pq_encode("embedding", books).alias("c")).first()["c"] is None


def test_pq_topk_recall_and_refine(spark, sf_dir):
    """The testdata embeddings are near-random (the hardest case for PQ:
    L2 distances live in a tight band), so raw-ADC recall is inherently
    modest at small m — m=16/k=64 measures 0.7 here; ADC + exact L2 re-rank
    over the top-50 candidates (the production recipe) must recover the
    exact top-10 almost completely (candidate coverage measured 1.0)."""
    import numpy as np

    from venice_spark.similarity import pq_encode, pq_topk, pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = pq_train(emb, "embedding", m=16, k=64, sample_fraction=1.0, seed=7)
    coded = emb.withColumn("code", pq_encode("embedding", books)).persist()
    try:
        q = [float(np.sin(i + 1)) for i in range(64)]
        all_rows = emb.select("vec_id", "embedding").collect()
        x = np.array([r["embedding"] for r in all_rows], dtype=np.float64)
        ids = np.array([r["vec_id"] for r in all_rows])
        l2 = ((x - np.array(q)) ** 2).sum(axis=1)
        exact_l2 = set(ids[np.argsort(l2, kind="stable")[:10]].tolist())
        adc = [r["vec_id"] for r in pq_topk(coded, q, "code", "vec_id", books, k=10).collect()]
        recall = len(exact_l2 & set(adc)) / 10
        assert recall >= 0.5, f"raw ADC recall too low: {recall} ({adc} vs {exact_l2})"

        refined = {
            r["vec_id"]
            for r in pq_topk(
                coded, q, "code", "vec_id", books, k=10, refine=50, vec_col="embedding"
            ).collect()
        }
        rr = len(exact_l2 & refined) / 10
        assert rr >= 0.9, f"refined recall too low: {rr}"
    finally:
        coded.unpersist()


def test_ivf_pq_topk_prunes_and_recalls(spark, sf_dir, tmp_path):
    """IVF-PQ: search a corpus materialized partitioned-by-list with PQ
    codes; the probe filter lands on the partition column (pruned scan) and
    refined recall within the probed lists matches plain PQ refine on the
    same candidate pool."""
    import numpy as np

    from venice_spark.similarity import (
        ivf_assign,
        ivf_pq_topk,
        pq_encode,
        pq_train,
        train_ivf_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = train_ivf_centroids(emb, "embedding", n_centroids=8, sample_fraction=1.0)
    books = pq_train(emb, "embedding", m=16, k=64, sample_fraction=1.0, seed=7)
    path = str(tmp_path / "ivfpq")
    (
        emb.withColumn("ivf_list", ivf_assign("embedding", cents))
        .withColumn("code", pq_encode("embedding", books))
        .write.partitionBy("ivf_list")
        .parquet(path)
    )
    idx = spark.read.parquet(path)
    q = [float(np.sin(i + 1)) for i in range(64)]
    out = ivf_pq_topk(
        idx, q, "code", "vec_id", cents, books,
        k=10, nprobe=6, refine=50, vec_col="embedding",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "ivf_list" in plan.split("PartitionFilters")[1][:200], plan
    got = {r["vec_id"] for r in out.collect()}
    assert len(got) == 10
    # probed-list ground truth: exact L2 top-10 restricted to those lists
    probe = sorted(
        range(len(cents)),
        key=lambda i: -float(
            np.dot(
                np.array(q) / np.linalg.norm(q),
                np.array(cents[i]) / np.linalg.norm(cents[i]),
            )
        ),
    )[:6]
    rows = idx.filter(F.col("ivf_list").isin(probe)).select(
        "vec_id", "embedding"
    ).collect()
    x = np.array([r["embedding"] for r in rows]); ids = np.array([r["vec_id"] for r in rows])
    l2 = ((x - np.array(q)) ** 2).sum(axis=1)
    exact = set(ids[np.argsort(l2, kind="stable")[:10]].tolist())
    assert len(exact & got) / 10 >= 0.9


def test_cdc_chunk_dedup_is_shift_robust(spark):
    """The CDC property fixed windows lack: inserting one token at the
    FRONT of a copied document must still leave most chunk content shared
    (boundaries depend on local token content, not offsets); exact copies
    share everything; unique docs share nothing."""
    from venice_spark.dedup import cdc_chunk_stats

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
        "nu xi omicron pi rho sigma tau upsilon phi chi psi omega one two "
        "three four five six seven eight nine ten eleven twelve"
    )
    rows = [
        (1, base),
        (2, base),                      # exact copy
        (3, "INSERTED " + base),        # shifted copy
        (4, "totally different words with no shared passages whatsoever here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in cdc_chunk_stats(df, "text", "doc_id").collect()}
    assert out[1]["dup_chunk_frac"] == 1.0 and out[2]["dup_chunk_frac"] == 1.0
    # the shifted copy still shares all chunks after its first boundary
    assert out[3]["dup_chunks"] >= out[3]["n_chunks"] - 1 > 0
    assert out[4]["dup_chunks"] == 0 and out[4]["n_chunks"] >= 1
    # degenerate rows never error: empty text yields >= 0 chunks, 0 dups
    e = cdc_chunk_stats(
        spark.createDataFrame([(9, "")], "doc_id long, text string"),
        "text", "doc_id",
    ).collect()[0]
    assert e["dup_chunks"] == 0


def test_pq_encode_batch_matches_row_loop(spark, sf_dir):
    """The r10 whole-batch-GEMM encode (one (n,sub)@(sub,k) matmul per
    subspace per Arrow batch, guide §4.2) emits codes IDENTICAL to the
    per-row matvec form it replaced: np.argmin(axis=1) takes the FIRST
    minimum exactly like the row-local argmin, over the same
    ||c||² - 2x·c doubles. Pinned on the real corpus with the exact
    codebooks the declared queries train (verified 0/6000 drift across
    all three SFs at optimization time; dgemm-vs-dgemv rounding can
    diverge only on adversarial near-tie grids no embedding corpus
    produces — and there the older squared-difference pytest reference
    drifts identically)."""
    import numpy as np

    from venice_spark.similarity import pq_encode, pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = pq_train(emb, "embedding", m=16, k=16, sample_fraction=1.0, seed=7)
    got = {
        r["vec_id"]: r["c"]
        for r in emb.select(
            "vec_id", pq_encode("embedding", books).alias("c")
        ).collect()
    }
    nb = [np.array(b, dtype=np.float64) for b in books]
    sub = nb[0].shape[1]
    for r in emb.select("vec_id", "embedding").collect():
        a = np.asarray(r["embedding"], dtype=np.float64)
        want = [
            int(((cb * cb).sum(axis=1) - 2.0 * (cb @ a[s * sub : (s + 1) * sub])).argmin())
            for s, cb in enumerate(nb)
        ]
        assert got[r["vec_id"]] == want


def test_pq_topk_never_returns_null_coded_rows(spark, sf_dir):
    """Null embeddings encode to null codes and NULL ADC distances;
    ascending sort is NULLS FIRST in Spark, so without the explicit guard
    the junk rows would BE the top-k (code-review r4)."""
    from venice_spark.similarity import pq_encode, pq_topk, pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = pq_train(emb, "embedding", m=8, k=16, sample_fraction=1.0, seed=7)
    nulls = spark.createDataFrame(
        [(900000 + i, None, 0) for i in range(5)],
        "vec_id long, embedding array<float>, label int",
    )
    coded = emb.unionByName(nulls).withColumn(
        "code", pq_encode("embedding", books)
    )
    q = [0.1] * 64
    got = {r["vec_id"] for r in pq_topk(coded, q, "code", "vec_id", books, k=10).collect()}
    assert got and all(v < 900000 for v in got)
    refined = {
        r["vec_id"]
        for r in pq_topk(
            coded, q, "code", "vec_id", books, k=10, refine=50, vec_col="embedding"
        ).collect()
    }
    assert refined and all(v < 900000 for v in refined)


# -------------------------------------------- r4 review regressions (batch 2)


def test_zero_norm_vectors_never_crash_similarity_paths(spark):
    """code-review r4: under default ANSI mode, a zero-norm vector made
    0/0 a job-aborting DIVIDE_BY_ZERO in embedding_near_dup_pairs,
    ivf_assign (hence kmeans/semantic_dedup), and knn_join_lsh."""
    from venice_spark.dedup import embedding_near_dup_pairs
    from venice_spark.similarity import ivf_assign, knn_join_lsh

    rows = [(0, [0.0] * 8, 0), (1, [1.0] + [0.0] * 7, 0), (2, [1.0] + [0.0] * 7, 0)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    pairs = embedding_near_dup_pairs(df, "embedding", "vec_id", "label", threshold=0.9)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(1, 2)}  # zero vector pairs with nothing, job survives

    assigned = df.withColumn(
        "c", ivf_assign("embedding", [[1.0] + [0.0] * 7, [0.0] * 7 + [1.0]])
    ).collect()
    # all-tie sims resolve to the FIRST index (array_position returns the
    # first occurrence of the max) — deterministic is what matters here
    assert {r["vec_id"]: r["c"] for r in assigned}[0] == 0

    out = knn_join_lsh(df, df, "embedding", "vec_id", "vec_id", k=2, dim=8).collect()
    assert out  # completes; no crash


def test_dup_clusters_raises_on_non_convergence(spark):
    """code-review r4: a component wider than max_iter hops must FAIL
    loudly, not silently report split clusters."""
    import pytest

    from venice_spark.dedup import dup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(chain, max_iter=3)
    out = {r["id"]: r["cluster_id"] for r in dup_clusters(chain, max_iter=20).collect()}
    assert set(out.values()) == {0}  # one component once iterations suffice


def test_fuzzy_key_pairs_unique_pairs_with_shared_ids(spark):
    """code-review r4: with a non-unique id column one (id_a, id_b) pair
    could surface from several key pairs at different distances; the output
    must carry ONE row per pair at the minimum distance."""
    from venice_spark.dedup import fuzzy_key_pairs

    rows = [(1, "ab"), (2, "ab"), (2, "ac")]
    df = spark.createDataFrame(rows, "id long, k string")
    out = fuzzy_key_pairs(df, "k", "id", max_subs=1).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["id_a"], r["id_b"], r["dist"]) == (1, 2, 0)  # min over {0, 1}


def test_pq_encode_rejects_mismatched_dims(spark, sf_dir):
    """code-review r4: a vector shorter than the trained dim crashed the
    encode task; a longer one silently truncated — both must yield null
    codes like null vectors do."""
    from venice_spark.similarity import pq_encode, pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = pq_train(emb, "embedding", m=8, k=16, sample_fraction=1.0, seed=7)
    odd = spark.createDataFrame(
        [(1, [0.1] * 48), (2, [0.1] * 80), (3, [0.1] * 64)],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r["c"] for r in odd.select(
        "vec_id", pq_encode("embedding", books).alias("c")
    ).collect()}
    assert out[1] is None and out[2] is None
    assert out[3] is not None and len(out[3]) == 8


def test_ivf_knn_join_recall_and_exactness_at_full_probe(spark):
    """IVF-blocked kNN join: at nprobe == n_centroids every candidate pair
    exists, so the result must EQUAL the brute-force join; at partial
    probe, recall on a clustered corpus stays high."""
    import math

    from venice_spark.similarity import ivf_knn_join, knn_join, train_ivf_centroids

    rows = []
    for c in range(4):  # 4 well-separated clusters
        for i in range(30):
            base = [1.0 if d == 2 * c else 0.0 for d in range(8)]
            rows.append((c * 100 + i, [b + 0.01 * math.sin(i + d) for d, b in enumerate(base)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = train_ivf_centroids(df, "embedding", n_centroids=4, sample_fraction=1.0)
    left = df.filter(F.col("vec_id") % 100 < 3)

    exact = {
        (r["lid"], r["rid"])
        for r in knn_join(left, df, "embedding", "vec_id", "vec_id", k=3).collect()
    }
    full = {
        (r["lid"], r["rid"])
        for r in ivf_knn_join(
            left, df, "embedding", "vec_id", "vec_id", cents, k=3, nprobe=4
        ).collect()
    }
    assert full == exact
    part = {
        (r["lid"], r["rid"])
        for r in ivf_knn_join(
            left, df, "embedding", "vec_id", "vec_id", cents, k=3, nprobe=1
        ).collect()
    }
    recall = len(part & exact) / len(exact)
    assert recall >= 0.9, recall  # clustered corpus: the home list has the neighbors


def test_ivf_knn_join_plans_without_cartesian(spark, sf_dir):
    from venice_spark.plans.reference_queries import QUERIES

    plan = QUERIES["x_ivf_knn_join"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_ivf_probe_first_list_is_assigned_list_on_ties(spark):
    """code-review r4 continuation (reproduced): a vector equidistant from
    two centroids must probe its ASSIGNED list first — the original
    desc-sort tie order picked the highest id and, at nprobe=1, an exact
    duplicate of the query could be missed entirely."""
    from venice_spark.similarity import ivf_assign, ivf_knn_join, ivf_probe_lists_col

    cents = [[1.0, 0.0], [0.0, 1.0]]
    df = spark.createDataFrame([(1, [0.5, 0.5]), (2, [0.5, 0.5])], "vec_id long, embedding array<double>")
    row = df.select(
        ivf_assign("embedding", cents).alias("a"),
        ivf_probe_lists_col("embedding", cents, 1).alias("p"),
    ).first()
    assert row["p"][0] == row["a"] == 0
    out = ivf_knn_join(
        df.filter(F.col("vec_id") == 1), df, "embedding", "vec_id", "vec_id",
        cents, k=2, nprobe=1,
    ).collect()
    assert {r["rid"] for r in out} == {1, 2}  # the identical twin is found


def test_ivf_join_excludes_unindexable_left_rows(spark):
    """code-review r4 continuation (reproduced): a NULL/ragged left vector
    has all-NULL sims; it must be excluded from blocking (NULL probe array
    -> explode emits nothing), never fabricate phantom NULL-cos neighbors
    fanned onto lists 0..nprobe-1."""
    from venice_spark.similarity import ivf_knn_join

    cents = [[1.0, 0.0], [0.0, 1.0]]
    df = spark.createDataFrame(
        [(1, None), (2, [0.9, 0.1]), (3, [0.1, 0.9]), (4, [0.5, 0.4, 0.3])],
        "vec_id long, embedding array<double>",
    )
    out = ivf_knn_join(df, df, "embedding", "vec_id", "vec_id", cents, k=2, nprobe=1)
    lids = {r["lid"] for r in out.collect()}
    assert 1 not in lids and 4 not in lids  # null + ragged excluded
    assert {2, 3} <= lids


def test_sql_string_builders_accept_reserved_and_spaced_names(spark):
    """The SQL-string expression builders quote the column NAME, so a
    vector column called 'order' (reserved) or 'my vec' (spaced) works the
    same as 'embedding' (code-review r4 continuation)."""
    from venice_spark.similarity import ivf_assign, ivf_probe_lists_col, lsh_bucket_col

    cents = [[1.0, 0.0], [0.0, 1.0]]
    for name in ("order", "my vec"):
        df = spark.createDataFrame([(1, [0.9, 0.1])], ["vec_id", name])
        got = df.select(
            ivf_assign(name, cents).alias("a"),
            ivf_probe_lists_col(name, cents, 1).alias("p"),
            lsh_bucket_col(name, 2, n_planes=2),
        ).first()
        assert got["a"] == 0 and got["p"] == [0]
