"""Query registry: every implemented operator from SURVEY.md §2 as a
(spark_fn, oracle_sql) pair over the driver testdata tables.

Each spark_fn takes (spark, sf_dir) and returns a DataFrame; the oracle is
ANSI SQL DuckDB runs on the same parquet (views pre-registered). Column
names are aliased identically on both sides; float math is written with
identical association so doubles match bit-for-bit.

Operator numbering (R*/W*/I*) follows SURVEY.md §2 which cites the
reference implementation file:line for each.
"""

from __future__ import annotations

import math
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from venice_spark.compute import ComputeAggregationBuilder, ComputeRequestBuilder
from venice_spark.functions import vectors

# deterministic 64-dim weight vector used by all vector-compute queries
DIM = 64
W64 = [round(math.sin(i + 1), 6) for i in range(DIM)]
_W64_SQL_LIST = "list_value(" + ", ".join(repr(float(v)) for v in W64) + ")"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return _events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table with `ts` normalized to LONG nanoseconds.

    Every events query (and its DuckDB oracle via `epoch_ns(ts)`) treats ts
    as epoch nanos. The parquet logical type of ts has varied across testdata
    generations — TIMESTAMP(NANOS) in round 1, TIMESTAMP(MICROS,
    isAdjustedToUTC=false) now — so normalize whatever we get:

    - already LONG (nanosAsLong applied to a NANOS file): pass through;
    - TIMESTAMP_NTZ (MICROS, not UTC-adjusted): `timestampdiff(MICROSECOND,
      NTZ-epoch, ts) * 1000` — wall-clock micros since epoch with NO session
      timezone dependence, exactly DuckDB's `epoch_ns` on naive timestamps;
    - TIMESTAMP (UTC-adjusted): `unix_micros(ts) * 1000`.
    """
    # keep the NANOS shim for NANOS-typed files (conf is read-time, and the
    # driver owns the SparkSession, so set it before the read)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df
    if isinstance(ts_type, TimestampNTZType):
        nanos = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ) * F.lit(1000)
    else:  # TimestampType
        nanos = F.unix_micros(F.col("ts")) * F.lit(1000)
    return df.withColumn("ts", nanos.cast("long"))


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


# ---------------------------------------------------------------- read path

@register(
    "r1_single_get",
    "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
    "FROM customer WHERE c_custkey = 42",
)
def r1_single_get(spark, sf_dir):
    """R1: point lookup (AvroGenericStoreClient.get; StorageReadRequestHandler.java:539)."""
    return _t(spark, sf_dir, "customer").filter(F.col("c_custkey") == 42)


_R2_KEYS = [1, 2, 3, 5, 8, 13, 21, 34, 55, 89, 10**9]  # last one missing

@register(
    "r2_batch_get",
    "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer "
    f"WHERE c_custkey IN ({', '.join(map(str, _R2_KEYS))})",
)
def r2_batch_get(spark, sf_dir):
    """R2: multi-key lookup; missing keys absent (AvroGenericStoreClient.java:58).
    Broadcast hash join — at 100 TB the key set is still tiny, so this stays
    a broadcast, no shuffle of the big side."""
    df = _t(spark, sf_dir, "customer")
    keys = spark.createDataFrame([(k,) for k in _R2_KEYS], "c_custkey bigint")
    return df.join(F.broadcast(keys), "c_custkey", "inner")


@register(
    "r4_project",
    "SELECT p_partkey, p_name, p_retailprice FROM part",
)
def r4_project(spark, sf_dir):
    """R4: projection (ComputeRequestBuilder.project) — column pruning reaches
    the parquet scan (check ReadSchema in .explain)."""
    return _t(spark, sf_dir, "part").select("p_partkey", "p_name", "p_retailprice")


@register(
    "r5_dot_product",
    f"SELECT vec_id, {vectors.oracle_dot_sql('embedding', W64)} AS dot FROM embeddings",
)
def r5_dot_product(spark, sf_dir):
    """R5: dot product over array<float> (DotProductOperator.java:11-74).
    JVM-side fold expression — no Python in the plan."""
    df = _t(spark, sf_dir, "embeddings")
    return df.select("vec_id", vectors.dot_product("embedding", W64).alias("dot"))


_B_NORM = vectors.param_l2_norm(W64)

@register(
    "r6_cosine_similarity",
    f"SELECT vec_id, ({vectors.oracle_dot_sql('embedding', W64)}) / "
    f"(sqrt({vectors.oracle_sq_norm_sql('embedding', DIM)}) * {_B_NORM!r}) AS cos "
    "FROM embeddings",
)
def r6_cosine_similarity(spark, sf_dir):
    """R6: cosine similarity; param L2 norm precomputed driver-side once —
    the same per-request caching as CosineSimilarityOperator.java:46-62."""
    df = _t(spark, sf_dir, "embeddings")
    return df.select("vec_id", vectors.cosine_similarity("embedding", W64).alias("cos"))


@register(
    "r7_hadamard_product",
    "SELECT vec_id, r.range - 1 AS pos, "
    f"CAST(embedding[r.range] AS DOUBLE) * {_W64_SQL_LIST}[r.range] AS val "
    f"FROM embeddings, range(1, {DIM + 1}) r",
)
def r7_hadamard_product(spark, sf_dir):
    """R7: element-wise product (HadamardProductOperator.java:1-70), exploded
    to rows for order-insensitive comparison."""
    df = _t(spark, sf_dir, "embeddings")
    had = vectors.hadamard_product("embedding", W64)
    return df.select("vec_id", F.posexplode(had).alias("pos", "val"))


@register(
    "r8_count_array",
    "SELECT vec_id, len(embedding) AS n FROM embeddings",
)
def r8_count_array(spark, sf_dir):
    """R8: collection size (CountOperator.java:12-68)."""
    df = _t(spark, sf_dir, "embeddings")
    return df.select("vec_id", vectors.collection_count("embedding").alias("n"))


@register(
    "r8_count_map",
    "SELECT event_id, len(json_keys(props)) AS n FROM events",
)
def r8_count_map(spark, sf_dir):
    """R8 on a map field: count of events.props JSON entries. The count
    needs only the KEYS, so parse with json_object_keys instead of
    materializing the full map via from_json — same values, ~30% cheaper
    (measured 0.36s -> 0.27s at sf0.1); a natively-typed parquet MAP store
    would make this a pure size(). Null/size semantics match
    collection_count (-1 sentinel on null, CountOperator.java:12-68)."""
    df = _t(spark, sf_dir, "events")
    return df.select(
        "event_id", vectors.collection_count(F.json_object_keys("props")).alias("n")
    )


@register(
    "r9_error_channel",
    "SELECT vec_id, CAST(NULL AS DOUBLE) AS score, "
    "'field embedding length ' || CAST(len(embedding) AS VARCHAR) || "
    "' != param length 2' AS err FROM embeddings",
)
def r9_error_channel(spark, sf_dir):
    """R9: per-field compute errors land in __veniceComputationError__ instead
    of failing the request (ComputeUtils.java:69-143): length-mismatched dot
    product -> NULL result + error entry."""
    from venice_spark.compute import ERROR_FIELD, ComputeRequestBuilder

    df = _t(spark, sf_dir, "embeddings")
    out = (
        ComputeRequestBuilder(df, ["vec_id"])
        .dot_product("embedding", [1.0, 2.0], "score")
        .error_channel()
        .plan()
    )
    return out.select(
        "vec_id", "score", F.element_at(F.col(ERROR_FIELD), "score").alias("err")
    )


@register(
    "r10_filter_compute",
    "SELECT l_orderkey, l_linenumber, l_quantity, "
    "l_extendedprice * (1.0 - l_discount) AS revenue "
    "FROM lineitem WHERE l_orderkey >= 100 AND l_orderkey <= 120",
)
def r10_filter_compute(spark, sf_dir):
    """R10: executeWithFilter — compute over rows whose leading key fields
    match a predicate (AvroComputeRequestBuilderV4.java:33-75). Predicate
    pushdown + sorted-by-key rowgroups replace RocksDB prefix iteration."""
    df = _t(spark, sf_dir, "lineitem")
    builder = ComputeRequestBuilder(df, ["l_orderkey", "l_linenumber"])
    builder.project("l_quantity", "l_extendedprice", "l_discount")
    out = builder.execute_with_filter(
        (F.col("l_orderkey") >= 100) & (F.col("l_orderkey") <= 120)
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("revenue"),
    )


@register(
    "r11_count_group_by_value",
    "SELECT value, count FROM (SELECT c_mktsegment AS value, count(*) AS count "
    "FROM customer GROUP BY 1 ORDER BY count DESC, value ASC LIMIT 3)",
)
def r11_count_group_by_value(spark, sf_dir):
    """R11: top-K facet counting (ComputeAggregationRequestBuilder.countGroupByValue;
    client-side counting in FacetCountingUtils.java:30 becomes a distributed
    partial-agg groupBy)."""
    df = _t(spark, sf_dir, "customer")
    agg = ComputeAggregationBuilder(df, ["c_custkey"])
    return agg.count_group_by_value(3, "c_mktsegment")["c_mktsegment"]


@register(
    "r12_count_group_by_bucket",
    "SELECT count(CASE WHEN o_totalprice < 10000 THEN 1 END) AS low, "
    "count(CASE WHEN o_totalprice >= 10000 AND o_totalprice < 100000 THEN 1 END) AS mid, "
    "count(CASE WHEN o_totalprice >= 100000 THEN 1 END) AS high FROM orders",
)
def r12_count_group_by_bucket(spark, sf_dir):
    """R12: named predicate buckets (AvroComputeAggregationRequestBuilder.java:109)."""
    df = _t(spark, sf_dir, "orders")
    agg = ComputeAggregationBuilder(df, ["o_orderkey"])
    return agg.count_group_by_bucket(
        {
            "low": F.col("o_totalprice") < 10000,
            "mid": (F.col("o_totalprice") >= 10000) & (F.col("o_totalprice") < 100000),
            "high": F.col("o_totalprice") >= 100000,
        }
    )


@register(
    "r13_predicate_algebra",
    "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part "
    "WHERE (p_size >= 25 AND p_brand IN ('Brand#1', 'Brand#2')) OR p_retailprice < 1000",
)
def r13_predicate_algebra(spark, sf_dir):
    """R13: and/or/anyOf/comparisons lower 1:1 to Column expressions
    (client/store/predicate/*.java)."""
    from venice_spark import predicates as P

    df = _t(spark, sf_dir, "part")
    pred = P.or_(
        P.and_(P.greater_or_equals("p_size", 25), P.any_of("p_brand", "Brand#1", "Brand#2")),
        P.lower_than("p_retailprice", 1000),
    )
    return df.filter(pred)


@register(
    "r16_unique_keys",
    "SELECT count(DISTINCT c_custkey) AS uniq FROM customer",
)
def r16_unique_keys(spark, sf_dir):
    """R16 exact twin: distinct ingested keys. (HLL variant below is
    rows-only — sketch estimates differ across implementations.)"""
    df = _t(spark, sf_dir, "customer")
    return df.agg(F.countDistinct("c_custkey").alias("uniq"))


@register("r16_hll_approx")  # rows-only: HLL++ estimate is impl-specific
def r16_hll_approx(spark, sf_dir):
    """R16: HLL distinct-key estimate (StoreIngestionTask.java:2901-2907 uses
    datasketches; Spark uses HLL++ — same sketch family, impl-specific value)."""
    df = _t(spark, sf_dir, "customer")
    return df.agg(F.approx_count_distinct("c_custkey", 0.02).alias("uniq_approx"))


# ---------------------------------------------------------------- write path

@register(
    "w1_put_latest_wins",
    "SELECT user_id, event_type, event_id, value FROM ("
    "  SELECT user_id, event_type, event_id, value, "
    "  row_number() OVER (PARTITION BY user_id, event_type "
    "                     ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn FROM events"
    ") WHERE rn = 1",
)
def w1_put_latest_wins(spark, sf_dir):
    """W1: put = full-value upsert; replay of an update log keeps the
    highest-timestamp write per key (VeniceWriter put + latest-wins,
    docs/getting-started/learn-venice/merging-batch-and-rt-data.md:57-66).
    Single shuffle on the key; at scale this is the compaction pattern."""
    df = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "value")
    )


@register(
    "w3_partial_update_set_field",
    "SELECT c.c_custkey, c.c_name, "
    "coalesce(u.new_bal, c.c_acctbal) AS acctbal FROM customer c LEFT JOIN ("
    "  SELECT o_custkey, o_totalprice AS new_bal FROM ("
    "    SELECT o_custkey, o_totalprice, row_number() OVER ("
    "      PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn "
    "    FROM orders) WHERE rn = 1"
    ") u ON c.c_custkey = u.o_custkey",
)
def w3_partial_update_set_field(spark, sf_dir):
    """W3: partial update setNewFieldValue — update rows override one field,
    others keep old values: coalesce(update.f, old.f)
    (UpdateBuilder.java:33, WriteComputeHandlerV1.java:27)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    updates = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", F.col("o_totalprice").alias("new_bal"))
    )
    return cust.join(updates, cust.c_custkey == updates.o_custkey, "left").select(
        "c_custkey",
        "c_name",
        F.coalesce("new_bal", "c_acctbal").alias("acctbal"),
    )


@register(
    "w11_ttl_filter",
    "SELECT event_id, user_id, event_type, value, epoch_ns(ts) // 1000 AS ts_us "
    "FROM events WHERE epoch_ns(ts) >= 1705276800000000000",
)
def w11_ttl_filter(spark, sf_dir):
    """W11: TTL repush filter — drop records older than now-ttl
    (SparkKafkaInputTTLFilter, wiring AbstractDataWriterSparkJob.java:523-530).
    ts is long nanos; cutoff = 2024-01-15T00:00:00Z."""
    df = _t(spark, sf_dir, "events")
    return df.filter(F.col("ts") >= F.lit(1705276800000000000)).select(
        "event_id", "user_id", "event_type", "value",
        F.expr("ts div 1000").alias("ts_us"),
    )


@register(
    "w15_materialized_view",
    "SELECT c_custkey, c_name, c_mktsegment FROM customer",
)
def w15_materialized_view(spark, sf_dir):
    """W15: materialized view = re-partitioned projection co-written at push
    time (MaterializedView.java:33-70). Content equals the projection; the
    repartition is physical only."""
    df = _t(spark, sf_dir, "customer")
    return df.select("c_custkey", "c_name", "c_mktsegment").repartition(8, "c_custkey")


@register(
    "w2_delete_tombstone",
    "SELECT user_id, event_type, value FROM ("
    "  SELECT user_id, event_type, value, "
    "  CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'PUT' END AS op, "
    "  row_number() OVER (PARTITION BY user_id, event_type "
    "                     ORDER BY event_id DESC) AS rn FROM events"
    ") WHERE rn = 1 AND op <> 'DELETE'",
)
def w2_delete_tombstone(spark, sf_dir):
    """W2: delete = tombstone row filtered at compaction; latest op per key
    wins and a winning DELETE removes the key
    (VeniceProducer.delete; AbstractMerge.java:48-66)."""
    df = _t(spark, sf_dir, "events")
    ops = df.withColumn(
        "op", F.when(F.col("event_type") == "error", F.lit("DELETE")).otherwise(F.lit("PUT"))
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(F.col("event_id").desc())
    return (
        ops.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "DELETE"))
        .select("user_id", "event_type", "value")
    )


@register(
    "w4_w5_list_ops",
    "SELECT c_custkey, unnest(list_sort(list_distinct(list_filter("
    "  list_concat("
    "    [c_mktsegment, 'T' || CAST(c_custkey % 3 AS VARCHAR)], "
    "    ['NEW' || CAST(c_custkey % 2 AS VARCHAR)]), "
    "  x -> x <> 'T1')))) AS tag "
    "FROM customer",
)
def w4_w5_list_ops(spark, sf_dir):
    """W4/W5: list setUnion + setDiff as sorted-set expressions
    (UpdateBuilder.setElementsToAddToListField/...RemoveFromListField,
    WriteComputeOperation.java:41-48)."""
    from venice_spark.updates import merged_list

    df = _t(spark, sf_dir, "customer")
    old = F.array(
        F.col("c_mktsegment"),
        F.concat(F.lit("T"), (F.col("c_custkey") % 3).cast("string")),
    )
    add = F.array(F.concat(F.lit("NEW"), (F.col("c_custkey") % 2).cast("string")))
    rem = F.array(F.lit("T1"))
    return df.select("c_custkey", F.explode(merged_list(old, add, rem)).alias("tag"))


@register(
    "w6_map_ops",
    "SELECT c_custkey, c_mktsegment AS mk, 'base' AS mv FROM customer "
    "UNION ALL "
    "SELECT c_custkey, 'K' || CAST(c_custkey % 5 AS VARCHAR), 'old' FROM customer "
    "WHERE (c_custkey % 5) NOT IN (0, 1) "
    "UNION ALL "
    "SELECT c_custkey, 'K0', 'newv' FROM customer",
)
def w6_map_ops(spark, sf_dir):
    """W6: mapUnion (update wins per key) + mapDiff (drop keys)
    (UpdateBuilder.java:69,81; WriteComputeOperation.java:50-66). Result
    exploded to entry rows; oracle derives the surviving entries directly."""
    from venice_spark.updates import merged_map

    df = _t(spark, sf_dir, "customer")
    old = F.create_map(
        F.col("c_mktsegment"), F.lit("base"),
        F.concat(F.lit("K"), (F.col("c_custkey") % 5).cast("string")), F.lit("old"),
    )
    mapadd = F.create_map(F.lit("K0"), F.lit("newv"))
    maprem = F.array(F.lit("K1"))
    merged = merged_map(old, mapadd, maprem)
    return df.select("c_custkey", F.explode(merged).alias("mk", "mv"))


@register(
    "w7_dcr_merge",
    "SELECT user_id, value FROM ("
    "  SELECT user_id, value, event_type, "
    "  row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn "
    "  FROM events"
    ") WHERE rn = 1 AND event_type <> 'error'",
)
def w7_dcr_merge(spark, sf_dir):
    """W7: timestamp conflict resolution through the commutative merge kernel
    (MergeConflictResolver.java:45-751 semantics; see venice_spark/merge/dcr.py).
    Op log: every event is a PUT of {value}, 'error' events are DELETEs;
    logical ts = event_id (unique total order). The kernel folds per key in
    an applyInPandas stage; the oracle is an independent SQL latest-wins
    formulation — agreement validates the kernel's record-level path."""
    from venice_spark.merge.dcr import merge_op_log

    df = _t(spark, sf_dir, "events")
    op_log = df.select(
        "user_id",
        F.when(F.col("event_type") == "error", F.lit("DELETE"))
        .otherwise(F.lit("PUT"))
        .alias("op"),
        F.col("event_id").alias("ts"),
        F.lit(0).alias("colo"),
        "value",
    )
    # explicit fold width: AQE would coalesce this shuffle by bytes and
    # under-parallelize the CPU-bound Python kernel (see merge_op_log doc)
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return merge_op_log(
        op_log, ["user_id"], "user_id bigint, value double", num_partitions=n
    )


# ----------------------------------------------------- ingestion dataflow

# ------------------------------------------------ north-star extensions
# Training-data pipeline operators over documents/embeddings (BASELINE.json
# north_star). Oracles re-derive the same math independently in DuckDB.

# matches functions/text.tokens after the r4 empty-token fix: split the
# UNtrimmed text and drop boundary empties (trim() only strips spaces, so
# non-space boundary whitespace used to emit phantom '' tokens)
_TOKS = "list_filter(regexp_split_to_array(text, '\\s+'), __t -> __t <> '')"
_SHINGLES_CTE = (
    f"WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents), "
    "sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1), "
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM toks)"
)


@register(
    "x_token_count",
    f"SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents",
)
def x_token_count(spark, sf_dir):
    """Token counting (whitespace tokenizer) — per-row expression, no shuffle."""
    from venice_spark.functions import text as TX

    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id", TX.token_count("text").alias("n_tokens"))


_SW_IN = "('the','a','and','of','to','in','is','it')"

@register(
    "x_text_quality",
    f"SELECT doc_id, length(text) AS n_chars, len({_TOKS}) AS n_tokens, "
    f"CAST(len(list_filter({_TOKS}, tk -> lower(tk) IN {_SW_IN})) AS DOUBLE) "
    f"/ CAST(len({_TOKS}) AS DOUBLE) AS stop_ratio "
    "FROM documents",
)
def x_text_quality(spark, sf_dir):
    """Quality metrics: length, token count, stopword ratio."""
    from venice_spark.functions import text as TX

    df = _t(spark, sf_dir, "documents")
    # tokenize ONCE per row (r10): token_count and stopword_ratio each ran
    # their own split()+filter() chain; the 1-element explode is a Generate
    # barrier, so both outputs read fields of the same materialized struct
    from venice_spark.functions.text import STOPWORDS

    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    metrics = F.explode(
        F.transform(
            F.array(TX.tokens("text")),
            lambda t: F.struct(
                F.size(t).alias("n"),
                F.size(
                    F.filter(t, lambda tk: F.array_contains(sw, F.lower(tk)))
                ).alias("hits"),
            ),
        )
    )
    return df.select(
        "doc_id", TX.char_count("text").alias("n_chars"), metrics.alias("__m")
    ).select(
        "doc_id",
        "n_chars",
        F.col("__m.n").alias("n_tokens"),
        F.when(
            F.col("__m.n") > 0,
            F.col("__m.hits").cast("double") / F.col("__m.n").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("stop_ratio"),
    )


@register(
    "x_lang_id",
    f"SELECT doc_id, CASE WHEN len(list_filter({_TOKS}, tk -> lower(tk) IN {_SW_IN})) >= 1 "
    "THEN 'en' ELSE 'unk' END AS lang_pred FROM documents",
)
def x_lang_id(spark, sf_dir):
    """Language-ID n-gram/stopword heuristic."""
    from venice_spark.functions import text as TX

    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id", TX.lang_id("text").alias("lang_pred"))


@register(
    "x_fingerprint",
    "SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint "
    "FROM documents",
)
def x_fingerprint(spark, sf_dir):
    """Document fingerprinting (normalized md5 — rolling-hash stand-in)."""
    from venice_spark.functions import text as TX

    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id", TX.fingerprint("text").alias("fingerprint"))


@register(
    "x_dedup_exact",
    "SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint, "
    "min(doc_id) AS canonical_id, count(*) AS dup_count FROM documents GROUP BY 1",
)
def x_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on normalized fingerprint — one shuffle."""
    from venice_spark.dedup import exact_dedup

    df = _t(spark, sf_dir, "documents")
    return exact_dedup(df, "text", "doc_id")


@register(
    "x_dedup_ngram_jaccard",
    _SHINGLES_CTE + " "
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / "
    "CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard "
    "FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1",
)
def x_dedup_ngram_jaccard(spark, sf_dir):
    """N-gram jaccard similarity between adjacent doc pairs (pairing is the
    caller's concern — LSH supplies candidates at scale; this validates the
    jaccard kernel itself)."""
    from venice_spark.functions import text as TX

    df = _t(spark, sf_dir, "documents")
    sh = df.select("doc_id", TX.shingles("text", 3).alias("sh"))
    a = sh.alias("a")
    b = sh.select((F.col("doc_id") - 1).alias("join_id"), F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.join(b, F.col("a.doc_id") == F.col("join_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            "id_b",
            (
                F.size(F.array_intersect("a.sh", "sh_b")).cast("double")
                / F.size(F.array_union("a.sh", "sh_b")).cast("double")
            ).alias("jaccard"),
        )
    )


def _minhash_oracle_sql(num_hashes: int = 16, bands: int = 4, threshold: float = 0.02) -> str:
    rows = num_hashes // bands
    n_md5 = (num_hashes + 3) // 4
    big = " || ".join(
        "md5(s_sh)" if m == 0 else f"md5('{m}:' || s_sh)" for m in range(n_md5)
    )
    # same windowed construction as functions/text.shingle_hashes: 32-bit
    # windows substr'd out of concatenated seeded digests
    mins = ", ".join(
        f"min(('0x' || substr({big}, {1 + 8 * s}, 8))::BIGINT) AS mh{s}"
        for s in range(num_hashes)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        + " || ':' || ".join(f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows))
        + " AS h FROM sigs"
        for b in range(bands)
    )
    return (
        _SHINGLES_CTE + ", "
        f"sigs AS (SELECT doc_id, {mins} FROM (SELECT doc_id, unnest(sh) AS s_sh FROM sh) GROUP BY doc_id), "
        f"bands AS ({band_selects}), "
        "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bands a "
        "JOIN bands b ON a.band_idx = b.band_idx AND a.h = b.h AND a.doc_id < b.doc_id) "
        "SELECT * FROM ("
        "  SELECT id_a, id_b, CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / "
        "  CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS DOUBLE) AS jaccard "
        "  FROM cand JOIN sh x ON x.doc_id = cand.id_a JOIN sh y ON y.doc_id = cand.id_b"
        f") WHERE jaccard >= {threshold}"
    )


@register("x_minhash_near_dup", _minhash_oracle_sql())
def x_minhash_near_dup(spark, sf_dir):
    """MinHash+LSH near-dup pairs: shingle → 16 minhashes → 4 band buckets →
    bucket join → exact-jaccard verify. Candidate generation is O(n·bands)
    shuffle, never O(n²)."""
    from venice_spark.dedup import minhash_lsh_pairs

    df = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(df, "text", "doc_id", num_hashes=16, bands=4, threshold=0.02)


def _simhash_oracle_sql(bits: int = 16) -> str:
    terms = " + ".join(
        f"CASE WHEN 2 * len(list_filter(h, x -> ((x >> {b}) & 1) = 1)) - len(h) >= 0 "
        f"THEN {2**b} ELSE 0 END"
        for b in range(bits)
    )
    return (
        f"WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents), "
        "hs AS (SELECT doc_id, list_transform(t, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS h FROM toks) "
        f"SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM hs"
    )


@register("x_simhash", _simhash_oracle_sql())
def x_simhash(spark, sf_dir):
    """SimHash fingerprints (16-bit): per-bit majority vote of token hashes.
    Identical values = hamming-0 near-dup bucket key."""
    from venice_spark.dedup import simhash_buckets

    df = _t(spark, sf_dir, "documents")
    return simhash_buckets(df, "text", "doc_id", bits=16)


@register(
    "x_ann_topk",
    "SELECT vec_id, cos FROM ("
    f"  SELECT vec_id, ({vectors.oracle_dot_sql('embedding', W64)}) / "
    f"  (sqrt({vectors.oracle_sq_norm_sql('embedding', DIM)}) * {_B_NORM!r}) AS cos "
    "  FROM embeddings) ORDER BY cos DESC, vec_id ASC LIMIT 10",
)
def x_ann_topk(spark, sf_dir):
    """Brute-force cosine top-k (the ANN correctness baseline) —
    TakeOrderedAndProject, no global sort."""
    from venice_spark.similarity import brute_force_topk

    df = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(df, W64, "embedding", "vec_id", k=10)


@register("x_ann_lsh")  # rows-only: approximate by design
def x_ann_lsh(spark, sf_dir):
    """LSH-bucketed approximate top-k (the 100 TB scale path: probe a few
    buckets instead of scanning the corpus). Recall vs brute force is
    asserted in tests/test_similarity.py."""
    from venice_spark.similarity import lsh_topk

    df = _t(spark, sf_dir, "embeddings")
    return lsh_topk(df, W64, "embedding", "vec_id", k=10)


def _knn_oracle_sql() -> str:
    dot = " + ".join(
        f"CAST(lv[{i}] AS DOUBLE) * CAST(rv[{i}] AS DOUBLE)" for i in range(1, DIM + 1)
    )
    nl = " + ".join(f"CAST(lv[{i}] AS DOUBLE) * CAST(lv[{i}] AS DOUBLE)" for i in range(1, DIM + 1))
    nr = " + ".join(f"CAST(rv[{i}] AS DOUBLE) * CAST(rv[{i}] AS DOUBLE)" for i in range(1, DIM + 1))
    return (
        "WITH l AS (SELECT vec_id AS lid, embedding AS lv FROM embeddings WHERE vec_id < 50), "
        "r AS (SELECT vec_id AS rid, embedding AS rv FROM embeddings), "
        f"s AS (SELECT lid, rid, ({dot}) / (sqrt({nl}) * sqrt({nr})) AS cos FROM l, r) "
        "SELECT lid, rid, cos, rank FROM (SELECT lid, rid, cos, "
        "row_number() OVER (PARTITION BY lid ORDER BY cos DESC, rid ASC) AS rank FROM s) "
        "WHERE rank <= 3"
    )


@register("x_knn_join", _knn_oracle_sql())
def x_knn_join(spark, sf_dir):
    """k-NN join: each probe vector's top-3 neighbors (brute-force verified
    variant; LSH blocking bounds the candidate set at scale)."""
    from venice_spark.similarity import knn_join

    emb = _t(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") < 50)
    return knn_join(left, emb, "embedding", "vec_id", "vec_id", k=3)


def _lsh_knn_oracle_sql(k: int = 3, n_planes: int = 8, tables: int = 8, seed: int = 42) -> str:
    """Re-derive the full hyperplane-LSH candidate join in DuckDB SQL (the
    x_minhash_near_dup oracle pattern): bucket bit = sign of an explicit
    left-to-right dot-product sum, bit-identical to the Spark fold
    (vectors.oracle_dot_sql), so the oracle checks the implementation
    EXACTLY — candidate generation, dedup, rescoring and ranking."""
    from venice_spark.functions.vectors import oracle_dot_sql
    from venice_spark.similarity import _hyperplanes

    buckets = []
    for t in range(tables):
        bits = " + ".join(
            f"CASE WHEN {oracle_dot_sql('embedding', plane)} > 0 THEN {2**i} ELSE 0 END"
            for i, plane in enumerate(_hyperplanes(DIM, n_planes, seed + 1000 * t))
        )
        buckets.append(f"({bits})")
    dot = " + ".join(
        f"CAST(lv.embedding[{i}] AS DOUBLE) * CAST(rv.embedding[{i}] AS DOUBLE)"
        for i in range(1, DIM + 1)
    )
    nl = " + ".join(
        f"CAST(lv.embedding[{i}] AS DOUBLE) * CAST(lv.embedding[{i}] AS DOUBLE)"
        for i in range(1, DIM + 1)
    )
    nr = " + ".join(
        f"CAST(rv.embedding[{i}] AS DOUBLE) * CAST(rv.embedding[{i}] AS DOUBLE)"
        for i in range(1, DIM + 1)
    )
    return (
        f"WITH b AS (SELECT vec_id, embedding, [{', '.join(buckets)}] AS bks FROM embeddings), "
        "l AS (SELECT * FROM b WHERE vec_id < 50), "
        f"cand AS (SELECT DISTINCT l.vec_id AS lid, r.vec_id AS rid "
        f"  FROM l, b r, range(1, {tables + 1}) t WHERE l.bks[t.range] = r.bks[t.range]), "
        f"s AS (SELECT c.lid, c.rid, ({dot}) / (sqrt({nl}) * sqrt({nr})) AS cos "
        "  FROM cand c JOIN b lv ON c.lid = lv.vec_id JOIN b rv ON c.rid = rv.vec_id) "
        "SELECT lid, rid, cos, rank FROM (SELECT lid, rid, cos, "
        "row_number() OVER (PARTITION BY lid ORDER BY cos DESC, rid ASC) AS rank FROM s) "
        f"WHERE rank <= {k}"
    )


@register("x_knn_join_lsh", _lsh_knn_oracle_sql())
def x_knn_join_lsh(spark, sf_dir):
    """Blocked k-NN join (similarity.knn_join_lsh): LSH-bucket candidate
    generation -> exact rescoring -> window rank. The scale path that
    replaces x_knn_join's cartesian product; oracle re-derives the full
    hyperplane math in SQL so the match is exact, not approximate."""
    from venice_spark.similarity import knn_join_lsh

    emb = _t(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") < 50)
    return knn_join_lsh(left, emb, "embedding", "vec_id", "vec_id", k=3, dim=DIM)


def _ivf_knn_oracle_sql(k: int = 3, nprobe: int = 3, n_lists: int = 8, seed: int = 4242) -> str:
    """Re-derive the full IVF-blocked k-NN join in DuckDB: list assignment
    is argmax over explicit dot-product sums against the SAME normalized
    literal centroids (first-max tie = row_number ORDER BY sim DESC, i ASC,
    matching Spark's array_position), per-left probe ranking uses the SAME
    lowest-id tie order (so a row's first probed list is its assigned
    list), null-sim rows are excluded from blocking on both sides, and the
    rescore uses the element-chain cosine the other kNN oracles use — the
    candidate generation, assignment, probing, rescoring and ranking are
    all checked EXACTLY."""
    from venice_spark.functions.vectors import oracle_dot_sql, oracle_sq_norm_sql
    from venice_spark.similarity import _hyperplanes, ivf_normalized

    cents = ivf_normalized(_hyperplanes(DIM, n_lists, seed))
    sq = oracle_sq_norm_sql("embedding", DIM)
    branches = " UNION ALL ".join(
        f"SELECT vec_id, {i} AS i, {oracle_dot_sql('embedding', c)} / nv AS sim FROM nrm"
        for i, c in enumerate(cents)
    )
    dotlr = " + ".join(
        f"CAST(lv[{i}] AS DOUBLE) * CAST(rv[{i}] AS DOUBLE)" for i in range(1, DIM + 1)
    )
    nl = oracle_sq_norm_sql("lv", DIM)
    nr = oracle_sq_norm_sql("rv", DIM)
    return (
        "WITH nrm AS (SELECT vec_id, embedding, "
        f"CASE WHEN sqrt({sq}) > 0 THEN sqrt({sq}) ELSE 1.0 END AS nv FROM embeddings), "
        f"s AS ({branches}), "
        "ra AS (SELECT vec_id AS rid, i AS list FROM ("
        "  SELECT vec_id, i, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, i ASC) AS rn "
        "  FROM s WHERE sim IS NOT NULL"
        ") WHERE rn = 1), "
        "lp AS (SELECT vec_id AS lid, i AS list FROM ("
        "  SELECT vec_id, i, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, i ASC) AS rn "
        "  FROM s WHERE vec_id < 30 AND sim IS NOT NULL"
        f") WHERE rn <= {nprobe}), "
        "l AS (SELECT vec_id AS lid, embedding AS lv FROM embeddings WHERE vec_id < 30), "
        "r AS (SELECT vec_id AS rid, embedding AS rv FROM embeddings), "
        "cand AS (SELECT lp.lid, ra.rid FROM lp JOIN ra ON lp.list = ra.list), "
        "sc AS (SELECT c.lid, c.rid, "
        f"CASE WHEN sqrt({nl}) * sqrt({nr}) > 0 "
        f"THEN ({dotlr}) / (sqrt({nl}) * sqrt({nr})) END AS cos "
        "FROM cand c JOIN l ON c.lid = l.lid JOIN r ON c.rid = r.rid) "
        "SELECT lid, rid, cos, rank FROM ("
        "  SELECT lid, rid, cos, row_number() OVER (PARTITION BY lid ORDER BY cos DESC NULLS LAST, rid ASC) AS rank FROM sc"
        f") WHERE rank <= {k}"
    )


@register("x_ivf_knn_join", _ivf_knn_oracle_sql())
def x_ivf_knn_join(spark, sf_dir):
    """IVF-blocked k-NN join (similarity.ivf_knn_join): each left row
    probes its nprobe nearest inverted lists and competes only against
    right rows assigned there — the coarse-quantizer twin of
    x_knn_join_lsh, and the batch-join use of the IvfIndexViewDef layout.
    Registered with FIXED deterministic centroids (the LCG generator, no
    k-means training) so the oracle can re-derive assignment and probing
    exactly; production uses trained centroids for recall, which changes
    none of the plan shapes being certified."""
    from venice_spark.similarity import _hyperplanes, ivf_knn_join

    emb = _t(spark, sf_dir, "embeddings")
    cents = _hyperplanes(DIM, 8, 4242)
    left = emb.filter(F.col("vec_id") < 30)
    return ivf_knn_join(left, emb, "embedding", "vec_id", "vec_id", cents, k=3, nprobe=3)


@register(
    "x_embedding_near_dup",
    "SELECT * FROM (SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
    + "("
    + " + ".join(
        f"CAST(a.embedding[{i}] AS DOUBLE) * CAST(b.embedding[{i}] AS DOUBLE)"
        for i in range(1, DIM + 1)
    )
    + ") / (sqrt("
    + " + ".join(
        f"CAST(a.embedding[{i}] AS DOUBLE) * CAST(a.embedding[{i}] AS DOUBLE)"
        for i in range(1, DIM + 1)
    )
    + ") * sqrt("
    + " + ".join(
        f"CAST(b.embedding[{i}] AS DOUBLE) * CAST(b.embedding[{i}] AS DOUBLE)"
        for i in range(1, DIM + 1)
    )
    + ")) AS cos FROM embeddings a JOIN embeddings b "
    "ON a.label = b.label AND a.vec_id < b.vec_id) WHERE cos >= 0.4",
)
def x_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, blocked by label (the blocking key is
    an LSH bucket at scale). Threshold tuned so the synthetic corpus yields a
    non-trivial but small result."""
    from venice_spark.dedup import embedding_near_dup_pairs

    df = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(df, "embedding", "vec_id", "label", threshold=0.4)


def _multimodal_oracle_sql(dim: int = 16) -> str:
    # mirrors multimodal._fake_features: byte i of md5(payload) -> ((b*(i+7))%255)/255*2-1
    # exploded to one row per (media, pos) — order-insensitive scalar rows for
    # the driver's comparator (array columns are not canonicalizable)
    return (
        "SELECT doc_id AS media_id, 'text/plain' AS mime, "
        "CAST(octet_length(encode(text)) AS INT) AS payload_bytes, "
        "r.range - 1 AS pos, "
        "CAST(CAST((('0x' || substr(md5(text), 2 * ((r.range - 1) % 16) + 1, 2))::INT "
        "* (r.range + 6)) % 255 AS DOUBLE) / 255.0 * 2.0 - 1.0 AS FLOAT) AS feature "
        f"FROM documents, range(1, {dim + 1}) r"
    )


@register("x_multimodal_features", _multimodal_oracle_sql())
def x_multimodal_features(spark, sf_dir):
    """Multimodal plumbing: binary payload column + Arrow-batched feature
    extraction via mapInPandas (codec stubbed — see venice_spark/multimodal.py;
    batch shape, schema and partitioning are the real contract). Features
    posexplode to scalar rows, like r7, so the oracle can canonicalize."""
    from venice_spark.multimodal import attach_media_columns, extract_features

    docs = _t(spark, sf_dir, "documents")
    media = attach_media_columns(
        docs.select("doc_id", F.encode("text", "UTF-8").alias("payload")),
        "doc_id",
        "payload",
        "text/plain",
    )
    return extract_features(media).select(
        "media_id", "mime", "payload_bytes", F.posexplode("features").alias("pos", "feature")
    )


@register(
    "cdc_change_events",
    "SELECT user_id, event_type, event_id, value AS after, "
    "lag(value) OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS before "
    "FROM events",
)
def cdc_change_events(spark, sf_dir):
    """CDC: ChangeEvent{before, after} per key mutation
    (VeniceChangelogConsumer.java:19-209, ChangeEvent). Batch formulation:
    lag() over the per-key op sequence; streaming twin lives in
    venice_spark/streaming/cdc.py."""
    df = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("event_id")
    return df.select(
        "user_id",
        "event_type",
        "event_id",
        F.col("value").alias("after"),
        F.lag("value").over(w).alias("before"),
    )


@register(
    "x_version_diff",
    "WITH old AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 7 <> 0), "
    "new AS (SELECT o_orderkey, "
    "CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice "
    "FROM orders WHERE o_orderkey % 5 <> 0) "
    "SELECT coalesce(old.o_orderkey, new.o_orderkey) AS o_orderkey, "
    "CASE WHEN new.o_orderkey IS NULL THEN 'DELETE' ELSE 'PUT' END AS op, "
    "old.o_totalprice AS before_price, new.o_totalprice AS after_price "
    "FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey "
    "WHERE old.o_totalprice IS DISTINCT FROM new.o_totalprice",
)
def x_version_diff(spark, sf_dir):
    """CDC across a version swap (cdc.snapshot_diff — the dataflow
    version_diff_events runs between two immutable store versions;
    VeniceChangelogConsumer's VersionSwap handling,
    VeniceChangelogConsumer.java:19-209): full-outer join on the key,
    null-safe struct comparison drops unchanged keys, op=DELETE for keys
    absent after the swap, PUT for adds/changes. Two derived snapshots of
    `orders` stand in for the versions (keys %7 deleted before, %5 deleted
    after = adds in reverse, %3 rewritten); before/after structs flatten
    to scalar columns for the driver canonicalizer. The doubling is exact
    in IEEE754 so the change rows compare bit-identically. At scale both
    versions share the store partitioner and key-sorted files, so the
    full-outer join is a co-partitioned merge (no Python, one shuffle at
    most)."""
    from venice_spark.streaming.cdc import snapshot_diff

    df = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    old = df.filter(F.col("o_orderkey") % 7 != 0)
    new = df.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") * 2
        ).otherwise(F.col("o_totalprice")),
    )
    ev = snapshot_diff(old, new, ["o_orderkey"], ["o_totalprice"])
    return ev.select(
        "o_orderkey",
        "op",
        F.col("before.o_totalprice").alias("before_price"),
        F.col("after.o_totalprice").alias("after_price"),
    )


@register(
    "x_evolved_serve",
    "WITH u AS (SELECT o_custkey, o_orderkey, o_totalprice, o_orderpriority, "
    "  row_number() OVER (PARTITION BY o_custkey "
    "    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders) "
    "SELECT c_custkey, name, acctbal, priority FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY ts DESC) AS rn2 "
    "  FROM ("
    "    SELECT c_custkey, c_name AS name, c_acctbal AS acctbal, "
    "      CAST(NULL AS VARCHAR) AS priority, 0 AS ts FROM customer "
    "    UNION ALL "
    "    SELECT o_custkey AS c_custkey, 'order-' || CAST(o_orderkey AS VARCHAR), "
    "      o_totalprice, o_orderpriority, 1 FROM u WHERE rn = 1)"
    ") WHERE rn2 = 1",
)
def x_evolved_serve(spark, sf_dir):
    """Serving across a value-schema ADDITION: the pre-evolution snapshot
    lacks the added column (reads null-fill it) while post-evolution puts
    carry it; latest-wins per key through the SAME resolve kernel the
    hybrid serving LSM uses (streaming/hybrid.resolve_latest — reference
    contract: value schemas are a versioned evolvable list,
    schema/SchemaEntry.java:1, and hybrid stores keep serving across
    additions). customer stands in for the pre-evolution base (no
    `priority` column); each customer's latest order is the evolved PUT.
    unionByName(allowMissingColumns) is exactly what the LSM read does to
    pre-evolution files; one window shuffle, no Python."""
    from venice_spark.streaming.hybrid import resolve_latest

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit(0).alias("ts"),
    )
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    upd = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.concat(F.lit("order-"), F.col("o_orderkey").cast("string")).alias("name"),
            F.col("o_totalprice").alias("acctbal"),
            F.col("o_orderpriority").alias("priority"),
            F.lit(1).alias("ts"),
        )
    )
    merged = cust.unionByName(upd, allowMissingColumns=True)
    return resolve_latest(merged, ["c_custkey"], "ts").select(
        "c_custkey", "name", "acctbal", "priority"
    )


@register(
    "x_promoted_serve",
    "WITH u AS (SELECT o_custkey, o_orderkey, o_totalprice, "
    "  row_number() OVER (PARTITION BY o_custkey "
    "    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders) "
    "SELECT c_custkey, balance, score FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY ts DESC) AS rn2 "
    "  FROM ("
    "    SELECT c_custkey, CAST(CAST(FLOOR(c_acctbal) AS INT) AS BIGINT) AS balance, "
    "      CAST(CAST(c_acctbal AS REAL) AS DOUBLE) AS score, 0 AS ts FROM customer "
    "    UNION ALL "
    "    SELECT o_custkey AS c_custkey, CAST(FLOOR(o_totalprice * 1000000) AS BIGINT), "
    "      CAST(o_totalprice AS DOUBLE), 1 FROM u WHERE rn = 1)"
    ") WHERE rn2 = 1",
)
def x_promoted_serve(spark, sf_dir):
    """Serving across a value-schema PROMOTION (VERDICT r7 #2): the
    pre-evolution snapshot wrote `balance` as INT and `score` as FLOAT;
    post-evolution puts carry BIGINT (values beyond int32) and DOUBLE.
    The read resolves each conflicted column to its Avro promotion target
    (schema_compat.promotion_target — int→long, float→double; reference:
    schema/avro/SchemaCompatibility.java resolver) and widens the narrow
    side on scan, exactly what the serving LSM's sidecar-union read does
    over mixed-physical-type files (Spark's parquet reader performs the
    widening natively, SPARK-40876). Latest-wins through the same
    resolve kernel; one window shuffle, no Python."""
    from pyspark.sql import types as T

    from venice_spark.schema_compat import promotion_target
    from venice_spark.streaming.hybrid import resolve_latest

    bal_t = promotion_target(T.IntegerType(), T.LongType())
    score_t = promotion_target(T.FloatType(), T.DoubleType())
    base = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        # FLOOR before the int cast: DuckDB CAST(double AS INT) ROUNDS
        # while Spark truncates — divergent on any .5+ cents balance the
        # moment a customer has no orders (latent at sf0.01, where every
        # customer has one; code-review r8). floor is exact in both.
        F.floor(F.col("c_acctbal")).cast("int").cast(bal_t).alias("balance"),
        F.col("c_acctbal").cast("float").cast(score_t).alias("score"),
        F.lit(0).alias("ts"),
    )
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    upd = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.floor(F.col("o_totalprice") * 1000000).alias("balance"),
            F.col("o_totalprice").cast("double").alias("score"),
            F.lit(1).alias("ts"),
        )
    )
    merged = base.unionByName(upd)
    return resolve_latest(merged, ["c_custkey"], "ts").select(
        "c_custkey", "balance", "score"
    )


@register(
    "x_cast_promoted_serve",
    "WITH u AS (SELECT o_custkey, o_orderkey, o_totalprice, "
    "  row_number() OVER (PARTITION BY o_custkey "
    "    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders) "
    "SELECT c_custkey, metric FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY ts DESC) AS rn2 "
    "  FROM ("
    "    SELECT c_custkey, CAST(CAST(FLOOR(c_acctbal) AS BIGINT) AS DOUBLE) "
    "      AS metric, 0 AS ts FROM customer "
    "    UNION ALL "
    "    SELECT o_custkey AS c_custkey, CAST(o_totalprice AS DOUBLE), 1 "
    "    FROM u WHERE rn = 1)"
    ") WHERE rn2 = 1",
)
def x_cast_promoted_serve(spark, sf_dir):
    """Serving across a CAST-ON-READ promotion (VERDICT r8 missing #1):
    the pre-evolution snapshot wrote `metric` as BIGINT; post-evolution
    puts carry DOUBLE. long→double is Avro-legal
    (SchemaCompatibility.java: long is promotable to float/double;
    RowToAvroConverter.java:69-483 maps the same pairs) but the
    vectorized parquet reader cannot widen int64 on scan — the serving
    LSM resolves it with avro_promotion_target and reads the old int64
    filesets with their FILE type, casting to double as a projection
    (hybrid.read_log legacy groups; live-store edition certified by
    test_hybrid_store_serves_across_long_double_promotion). This dataflow
    twin pins the resolution math against the DuckDB oracle: same
    latest-wins kernel, the long side cast to the Avro target exactly
    where read_log's projection does it. One window shuffle, no Python."""
    from pyspark.sql import types as T

    from venice_spark.schema_compat import avro_promotion_target
    from venice_spark.streaming.hybrid import resolve_latest

    metric_t = avro_promotion_target(T.LongType(), T.DoubleType())
    assert metric_t == T.DoubleType()
    base = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        # FLOOR first: DuckDB CAST(double AS INT/BIGINT) rounds, Spark
        # truncates (see x_promoted_serve) — floor is exact in both
        F.floor(F.col("c_acctbal")).cast("long").cast(metric_t).alias("metric"),
        F.lit(0).alias("ts"),
    )
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    upd = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_totalprice").cast("double").alias("metric"),
            F.lit(1).alias("ts"),
        )
    )
    merged = base.unionByName(upd)
    return resolve_latest(merged, ["c_custkey"], "ts").select("c_custkey", "metric")


@register(
    "x_rt_migrated_serve",
    "WITH u1 AS (SELECT o_custkey, o_totalprice, row_number() OVER ("
    "  PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn "
    "  FROM orders WHERE o_custkey % 3 <> 0), "
    "u2 AS (SELECT o_custkey, COUNT(*) AS cnt FROM orders "
    "  WHERE o_custkey % 7 = 0 GROUP BY 1) "
    "SELECT c_custkey, metric FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY ts DESC) AS rn2 "
    "  FROM ("
    "    SELECT c_custkey, CAST(CAST(FLOOR(c_acctbal) AS BIGINT) AS DOUBLE) "
    "      AS metric, 0 AS ts FROM customer "
    "    UNION ALL "
    "    SELECT o_custkey AS c_custkey, CAST(o_totalprice AS DOUBLE), 1 "
    "    FROM u1 WHERE rn = 1 "
    "    UNION ALL "
    "    SELECT o_custkey AS c_custkey, CAST(cnt AS DOUBLE), 2 FROM u2)"
    ") WHERE rn2 = 1",
)
def x_rt_migrated_serve(spark, sf_dir):
    """Serving across an RT-log AUTO-MIGRATION (r10, VERDICT r9 #3): the
    RT log holds a narrow BIGINT generation when a DOUBLE flush arrives;
    producer.flush migrates the log in place (migrate_rt_widening_locked
    casts every narrow op to the Avro target — SchemaCompatibility.java:1
    long→double), the wide generation lands natively, and a LATER narrow
    flush aligns UP at write (align_to_log_schema). This dataflow twin
    pins the three cast points against the DuckDB oracle in one
    latest-wins fold: gen0 narrow→migrated-cast, gen1 native wide, gen2
    narrow aligned up — each generation deliberately PARTIAL over the key
    domain so every cast path survives into the result (the live-store
    edition is certified by
    test_rt_flush_auto_migrates_nonnative_widening /
    test_rt_auto_migration_mid_aa_serve_stays_dcr_exact). Window shuffle
    + one partial agg, no Python."""
    from pyspark.sql import types as T

    from venice_spark.schema_compat import avro_promotion_target
    from venice_spark.streaming.hybrid import resolve_latest

    metric_t = avro_promotion_target(T.LongType(), T.DoubleType())
    assert metric_t == T.DoubleType()
    # gen0: the pre-migration narrow generation — written long, then the
    # in-place migration casts it to the Avro target (FLOOR first: DuckDB
    # CAST(double AS BIGINT) rounds where Spark truncates)
    base = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal")).cast("long").cast(metric_t).alias("metric"),
        F.lit(0).alias("ts"),
    )
    orders = _t(spark, sf_dir, "orders")
    # gen1: the wide flush that triggered the migration (native double)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    upd1 = (
        orders.filter(F.col("o_custkey") % 3 != 0)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_totalprice").cast("double").alias("metric"),
            F.lit(1).alias("ts"),
        )
    )
    # gen2: a post-migration NARROW flush — align_to_log_schema casts it
    # up to the widened sidecar before it lands
    upd2 = (
        orders.filter(F.col("o_custkey") % 7 == 0)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("cnt").cast("long").cast(metric_t).alias("metric"),
            F.lit(2).alias("ts"),
        )
    )
    merged = base.unionByName(upd1).unionByName(upd2)
    return resolve_latest(merged, ["c_custkey"], "ts").select("c_custkey", "metric")


@register(
    "i6_duplicate_key_check",
    "SELECT user_id, event_type, distinct_values FROM ("
    "  SELECT user_id, event_type, count(DISTINCT (event_id, value)) AS distinct_values "
    "  FROM events GROUP BY 1, 2) WHERE distinct_values > 1",
)
def i6_duplicate_key_check(spark, sf_dir):
    """I6: duplicate-key conflict report — keys that appear with more than one
    distinct value row (AbstractPartitionWriter 'allow.duplicate.key')."""
    df = _t(spark, sf_dir, "events")
    return (
        df.groupBy("user_id", "event_type")
        .agg(F.countDistinct(F.struct("event_id", "value")).alias("distinct_values"))
        .filter(F.col("distinct_values") > 1)
    )


@register(
    "i9_consistency_check",
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice >= 2000 "
    "EXCEPT ALL "
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderstatus <> 'X'",
)
def i9_consistency_check(spark, sf_dir):
    """I9: cross-region consistency diff — exceptAll between two replicas
    (spark/consistency/VTConsistencyCheckerJob.java:1). Here: two derived
    frames of the same table; result = rows only in replica A."""
    df = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    a = df.filter(F.col("o_totalprice") >= 2000).drop("o_orderstatus")
    b = df.filter(F.col("o_orderstatus") != "X").drop("o_orderstatus")
    return a.exceptAll(b)


@register(
    "r3_streaming_batch_get",
    "SELECT c_custkey, c_name, c_acctbal FROM customer "
    f"WHERE c_custkey IN ({', '.join(map(str, _R2_KEYS))})",
)
def r3_streaming_batch_get(spark, sf_dir):
    """R3: streaming batch get — same result set as R2, delivered
    per-record (AvroGenericStoreClient.java:91,133; chunked decode
    MultiGetRecordStreamDecoder). Engine surface:
    StoreHandle.streaming_batch_get drives this plan through
    toLocalIterator, streaming partitions as they complete — the
    partial-response semantics of the reference's footer."""
    df = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    keys = spark.createDataFrame([(k,) for k in _R2_KEYS], "c_custkey bigint")
    return df.join(F.broadcast(keys), "c_custkey", "inner")


@register(
    "w9_incremental_push",
    "SELECT o_orderkey, totalprice, src FROM ("
    "  SELECT o_orderkey, totalprice, src, row_number() OVER ("
    "    PARTITION BY o_orderkey ORDER BY ts DESC) AS rn FROM ("
    "    SELECT o_orderkey, o_totalprice AS totalprice, 'base' AS src, 0 AS ts FROM orders "
    "    UNION ALL "
    "    SELECT o_orderkey, o_totalprice * 2, 'delta', 1 FROM orders "
    "    WHERE o_orderkey % 10 = 0)"
    ") WHERE rn = 1",
)
def w9_incremental_push(spark, sf_dir):
    """W9: incremental push — keyed delta appended onto the current version
    without a swap; reads see base ∪ delta with delta winning per key
    (VenicePushJob.java:919-931). Broadcast LEFT-ANTI join + union: the
    delta is small relative to the base, so the base is never shuffled or
    sorted for the merge — the shape the engine's incremental_push
    persists (a windowed row_number here would shuffle+sort 100 TB of base
    to override 0.01% of keys)."""
    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.col("o_totalprice").alias("totalprice"),
        F.lit("base").alias("src"),
    )
    delta = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            (F.col("o_totalprice") * 2).alias("totalprice"),
            F.lit("delta").alias("src"),
        )
    )
    survivors = base.join(
        F.broadcast(delta.select("o_orderkey")), "o_orderkey", "left_anti"
    )
    return survivors.unionByName(delta).select("o_orderkey", "totalprice", "src")


@register(
    "w10_repush_offset_dedup",
    "SELECT user_id, event_id, event_type, value FROM ("
    "  SELECT user_id, event_id, event_type, value, row_number() OVER ("
    "    PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events"
    ") WHERE rn = 1",
)
def w10_repush_offset_dedup(spark, sf_dir):
    """W10: Kafka-input repush — re-materialize a store from its own topic,
    keeping the highest-offset record per key
    (VeniceKafkaInputReducer.java:1; spark/input/kafka/). events stands in
    for the topic with event_id as the offset. Rank-limit pushdown
    (WindowGroupLimit) makes the shuffle carry ~1 row per key."""
    df = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


_TP_TOKS = _TOKS
_TP_QUAL = (
    f"len({_TP_TOKS}) BETWEEN 5 AND 100000 AND "
    f"CAST(len(list_filter({_TP_TOKS}, tk -> lower(tk) IN {_SW_IN})) AS DOUBLE) "
    f"/ CAST(len({_TP_TOKS}) AS DOUBLE) >= 0.05"
)

@register(
    "x_training_pipeline",
    "SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM ("
    "  SELECT lang, n_tokens, row_number() OVER ("
    "    PARTITION BY fingerprint ORDER BY doc_id) AS rn FROM ("
    f"    SELECT doc_id, lang, len({_TP_TOKS}) AS n_tokens, "
    "     md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint "
    f"    FROM documents WHERE {_TP_QUAL})"
    ") WHERE rn = 1 GROUP BY lang",
)
def x_training_pipeline(spark, sf_dir):
    """Composite training-data prep pipeline: quality filter → exact dedup
    (keep lowest doc_id per fingerprint) → per-language token accounting.
    The shape of a real 100 TB corpus job: one narrow filter stage, one
    dedup shuffle, one partial-agg shuffle."""
    from venice_spark.functions import text as TX

    df = _t(spark, sf_dir, "documents")
    # Tokenize ONCE per row (r10): filter + select evaluated the
    # split()+filter() tokenizer three times per row (token_count in the
    # predicate, stopword_ratio's own pass, token_count again in the
    # projection). The explode of a 1-element struct array is a Generate
    # barrier Catalyst cannot collapse, so the quality gate and the
    # n_tokens projection read attribute fields instead of re-deriving
    # the chain; the fingerprint md5 stays AFTER the filter (survivors
    # only). Same predicate on the same values — oracle-checked.
    from venice_spark.functions.text import STOPWORDS

    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    metrics = F.explode(
        F.transform(
            F.array(TX.tokens("text")),
            lambda t: F.struct(
                F.size(t).alias("n"),
                F.size(
                    F.filter(t, lambda tk: F.array_contains(sw, F.lower(tk)))
                ).alias("hits"),
            ),
        )
    )
    stop_ratio = F.when(
        F.col("__m.n") > 0,
        F.col("__m.hits").cast("double") / F.col("__m.n").cast("double"),
    ).otherwise(F.lit(0.0))
    qual = (
        df.select("doc_id", "lang", "text", metrics.alias("__m"))
        .filter(F.col("__m.n").between(5, 100000) & (stop_ratio >= 0.05))
        .select(
            "doc_id",
            "lang",
            F.col("__m.n").alias("n_tokens"),
            TX.fingerprint("text").alias("fingerprint"),
        )
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        qual.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("total_tokens"))
    )


@register(
    "x_crawl_ingest",
    # two-day crawl ingest, exact math twin: gate -> per-day in-batch dedup
    # (lowest id per fingerprint) -> day-2 fingerprint anti-join vs the
    # day-1 survivors (= the ingested history). Day 2 = odd doc_ids PLUS
    # re-crawls of every even doc's CONTENT under doc_id + 1000000.
    "WITH gated AS ("
    f"  SELECT doc_id, lang, "
    "   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp "
    f"  FROM documents WHERE {_TP_QUAL}), "
    "day1 AS ("
    "  SELECT doc_id, lang, fp FROM ("
    "    SELECT doc_id, lang, fp, row_number() OVER ("
    "      PARTITION BY fp ORDER BY doc_id) AS rn "
    "    FROM gated WHERE doc_id % 2 = 0) WHERE rn = 1), "
    "day2 AS ("
    "  SELECT doc_id, lang, fp FROM ("
    "    SELECT doc_id, lang, fp, row_number() OVER ("
    "      PARTITION BY fp ORDER BY doc_id) AS rn FROM ("
    "      SELECT doc_id, lang, fp FROM gated WHERE doc_id % 2 = 1 "
    "      UNION ALL "
    "      SELECT doc_id + 1000000, lang, fp FROM gated WHERE doc_id % 2 = 0)"
    "  ) WHERE rn = 1) "
    "SELECT doc_id, lang FROM day1 "
    "UNION ALL "
    "SELECT d2.doc_id, d2.lang FROM day2 d2 "
    "WHERE d2.fp NOT IN (SELECT fp FROM day1)",
)
def x_crawl_ingest(spark, sf_dir):
    """Two-day crawl ingest (pipeline.ingest_crawl_batch's dataflow): day 1
    is gated and in-batch-deduped; day 2 — new docs plus re-crawls of day-1
    content under fresh ids — is gated, in-batch-deduped, then
    fingerprint-anti-joined against the ingested HISTORY
    (dedup.exact_dedup_incremental: the anti-join probes a 16-byte digest,
    batch-sized, history never re-scanned). Result = final corpus content.
    The store-backed edition (band-index near-dup stage, fp-store digest
    probe, incremental push) is exercised in
    tests/test_ingest_crawl_batch.py — this query certifies the dedup
    math the composition rides on."""
    from venice_spark.dedup import exact_dedup_incremental
    from venice_spark.pipeline import CorpusPrepConfig, prepare_corpus

    df = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    cfg = CorpusPrepConfig()
    day1_in = df.filter(F.col("doc_id") % 2 == 0)
    day1 = prepare_corpus(day1_in, config=cfg).select("doc_id", "lang", "text")
    day2_in = df.filter(F.col("doc_id") % 2 == 1).unionByName(
        day1_in.withColumn("doc_id", F.col("doc_id") + F.lit(1000000))
    )
    day2 = prepare_corpus(day2_in, config=cfg).select("doc_id", "lang", "text")
    survivors = exact_dedup_incremental(day2, day1.select("text"), "text", "doc_id")
    return day1.unionByName(survivors).select("doc_id", "lang")


@register("x_ann_ivf")  # rows-only: approximate by design (probe subset)
def x_ann_ivf(spark, sf_dir):
    """IVF ANN: driver-trained coarse k-means quantizer, nprobe nearest
    inverted lists scanned with exact cosine. At 100 TB the corpus is
    written partitioned by list id -> probes are partition pruning.
    Recall vs brute force asserted in tests/test_dedup_similarity.py."""
    from venice_spark.similarity import ivf_topk, train_ivf_centroids

    emb = _t(spark, sf_dir, "embeddings")
    cents = train_ivf_centroids(emb, "embedding", n_centroids=8, sample_fraction=0.5)
    return ivf_topk(emb, W64, "embedding", "vec_id", cents, k=10, nprobe=4)


@register(
    "x_event_rollup",
    "SELECT epoch_ns(ts) // 3600000000000 * 3600000000000 AS bucket, event_type, "
    "count(*) AS n, sum(value) AS total, min(value) AS vmin, max(value) AS vmax "
    "FROM events GROUP BY 1, 2",
)
def x_event_rollup(spark, sf_dir):
    """Time-bucketed rollup over the event stream (the batch twin of a
    windowed streaming aggregation — Venice itself has no windowing, §2.5;
    this is north-star surface). Partial-agg before the single shuffle;
    the same expression runs under readStream + watermark unchanged.
    Buckets are hour-truncated epoch nanoseconds (events.ts reads as long
    nanos — see _t)."""
    df = _t(spark, sf_dir, "events")
    hour_ns = 3600 * 1_000_000_000
    return (
        df.groupBy(
            (F.col("ts") - F.col("ts") % hour_ns).alias("bucket"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("total"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
    )


@register(
    "x_embed_quantize",
    "WITH t AS (SELECT vec_id, embedding, "
    "  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS am "
    "  FROM embeddings) "
    "SELECT vec_id, CAST(am AS FLOAT) AS amax, r.range - 1 AS pos, "
    "CAST(least(127.0, greatest(-127.0, "
    "round(CAST(embedding[r.range] AS DOUBLE) / (CASE WHEN am > 0 THEN am ELSE 1.0 END) * 127.0, 0)"
    f")) AS TINYINT) AS qv FROM t, range(1, {DIM + 1}) r",
)
def x_embed_quantize(spark, sf_dir):
    """int8 symmetric quantization of the embedding column — the 4x storage
    lever for 100 TB corpora; dequantized cosine stays within ~1% (asserted
    in tests). Pure JVM expressions, no shuffle. Quantized vector posexplodes
    to (pos, qv) rows so the oracle comparator can canonicalize."""
    from venice_spark.functions import vectors as VX

    df = _t(spark, sf_dir, "embeddings")
    return df.withColumn("__q", VX.quantize_int8("embedding")).select(
        "vec_id",
        F.col("__q.amax").alias("amax"),
        F.posexplode("__q.q").alias("pos", "qv"),
    )


@register(
    "x_bpe_token_count",
    "SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) "
    "AS n_bpe_tokens FROM documents",
)
def x_bpe_token_count(spark, sf_dir):
    """Sub-word-ish (BPE-flavored regex) token counting — the budget unit for
    sequence packing; per-row expression, no shuffle."""
    from venice_spark.functions import text as TX

    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id", TX.bpe_ish_token_count("text").alias("n_bpe_tokens"))


@register(
    "x_sequence_packing",
    "WITH RECURSIVE t AS (SELECT doc_id, "
    f"  len({_TOKS}) AS n, "
    "  (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 32) AS shard "
    "  FROM documents), "
    "seq AS (SELECT shard, n, "
    "  row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS i FROM t), "
    # the greedy close-on-overflow recurrence, identical to the engine's
    # per-shard fold: a pack closes when the next doc would push it past
    # the 512-token budget
    "walk(shard, i, n, pack_id, fill) AS ("
    "  SELECT shard, i, n, CAST(0 AS BIGINT), n FROM seq WHERE i = 1 "
    "  UNION ALL "
    "  SELECT s.shard, s.i, s.n, "
    "    CASE WHEN w.fill + s.n > 512 THEN w.pack_id + 1 ELSE w.pack_id END, "
    "    CASE WHEN w.fill + s.n > 512 THEN s.n ELSE w.fill + s.n END "
    "  FROM walk w JOIN seq s ON s.shard = w.shard AND s.i = w.i + 1"
    ") "
    "SELECT shard, pack_id, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens "
    "FROM walk GROUP BY shard, pack_id",
)
def x_sequence_packing(spark, sf_dir):
    """Sequence packing: shard by id hash, then the greedy
    close-on-overflow fold per shard (packs never exceed 512 tokens unless
    one document alone does). The recurrence is data-dependent — not a
    window fold — so the engine runs it in an Arrow-batched applyInPandas
    per shard and the oracle re-derives it with a recursive CTE."""
    from venice_spark.dedup import pack_sequences
    from venice_spark.functions import text as TX

    df = _t(spark, sf_dir, "documents").select(
        "doc_id", TX.token_count("text").alias("n")
    )
    packed = pack_sequences(df, "n", "doc_id", budget=512, n_shards=32)
    return packed.groupBy("shard", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n").cast("bigint").alias("total_tokens"),
    )


@register(
    "x_decontaminate",
    _SHINGLES_CTE + ", "
    "ev AS (SELECT DISTINCT ng FROM sh, UNNEST(sh.sh) AS t(ng) WHERE doc_id % 97 = 0), "
    "bad AS (SELECT DISTINCT s.doc_id FROM sh s, UNNEST(s.sh) AS t(ng) "
    "  WHERE s.doc_id % 97 <> 0 AND ng IN (SELECT ng FROM ev)) "
    "SELECT doc_id FROM documents WHERE doc_id % 97 <> 0 "
    "AND doc_id NOT IN (SELECT doc_id FROM bad)",
)
def x_decontaminate(spark, sf_dir):
    """Benchmark decontamination: drop training docs sharing any token
    3-gram with the eval corpus (doc_id % 97 == 0 plays the benchmark set).
    Eval n-gram set broadcasts; the training corpus is never shuffled
    (pipeline.decontaminate)."""
    from venice_spark.pipeline import decontaminate

    df = _t(spark, sf_dir, "documents")
    ev = df.filter(F.col("doc_id") % 97 == 0)
    train = df.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(train, ev, "text", "doc_id", ngram_n=3).select("doc_id")


@register(
    "x_stratified_sample",
    "SELECT event_id, event_type FROM events "
    "WHERE (('0x' || substr(md5('12:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 1000000) < "
    "CASE WHEN event_type = 'error' THEN 1000000 "
    "WHEN event_type = 'view' THEN 200000 ELSE 500000 END",
)
def x_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling by event_type (domain mixing: keep
    all errors, 20% of views, 50% otherwise): hash64(event_id) mod 1e6
    under a per-stratum threshold. No RNG — the oracle re-derives the
    identical md5 hash math (pipeline.stratified_sample)."""
    from venice_spark.pipeline import stratified_sample

    df = _t(spark, sf_dir, "events")
    out = stratified_sample(
        df, "event_type", {"error": 1.0, "view": 0.2}, "event_id", default_rate=0.5
    )
    return out.select("event_id", "event_type")


def _simhash_pairs_oracle_sql(bits: int = 16, max_hamming: int = 3) -> str:
    # independent construction: brute-force all-pairs verify (fine at sf0.01);
    # the engine's pigeonhole blocking must find exactly the same pairs
    base = _simhash_oracle_sql(bits)
    return (
        f"WITH sh AS ({base}) "
        "SELECT * FROM ("
        "  SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming "
        "  FROM sh a JOIN sh b ON a.doc_id < b.doc_id"
        f") WHERE hamming <= {max_hamming}"
    )


@register("x_simhash_pairs", _simhash_pairs_oracle_sql())
def x_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs within hamming ≤ 3 via pigeonhole bit-group
    blocking (4 groups of 4 bits: any pair ≤ 3 bits apart shares a group) —
    candidates from 4 hash-joins, never O(n²); the oracle IS the O(n²)
    brute force, so blocking completeness is exactly what's checked."""
    from venice_spark.dedup import simhash_pairs

    df = _t(spark, sf_dir, "documents")
    return simhash_pairs(df, "text", "doc_id", bits=16, max_hamming=3, groups=4)


@register(
    "x_skew_salted_count",
    "SELECT l_returnflag, count(*) AS count FROM lineitem GROUP BY 1",
)
def x_skew_salted_count(spark, sf_dir):
    """Skew-safe two-level aggregation (skew.salted_count): salt spreads
    each hot key over 64 reducers, combine sums the partials. The oracle is
    the plain GROUP BY — equivalence is exactly the property to check."""
    from venice_spark.skew import salted_count

    df = _t(spark, sf_dir, "lineitem")
    return salted_count(df, ["l_returnflag"], salt_buckets=64)


_Q_N = f"len({_TOKS})"
_Q_SW = (
    f"CAST(len(list_filter({_TOKS}, tk -> lower(tk) IN {_SW_IN})) AS DOUBLE) "
    f"/ CAST(len({_TOKS}) AS DOUBLE)"
)
_Q_AVG = (
    f"CAST(list_sum(list_transform({_TOKS}, tk -> length(tk))) AS DOUBLE) "
    f"/ CAST(len({_TOKS}) AS DOUBLE)"
)

_Q_SCORE = (
    "("
    f"  (CASE WHEN {_Q_N} >= 20 THEN 1.0 ELSE CAST({_Q_N} AS DOUBLE) / 20.0 END) * 0.4"
    f"  + least({_Q_SW} * 4.0, 1.0) * 0.4"
    f"  + (CASE WHEN {_Q_AVG} >= 2.0 AND {_Q_AVG} <= 12.0 THEN 1.0 ELSE 0.5 END) * 0.2"
    ")"
)

@register(
    "x_quality_score",
    f"SELECT doc_id, {_Q_SCORE} AS quality FROM documents",
)
def x_quality_score(spark, sf_dir):
    """Composite quality heuristic in [0,1] (functions/text.quality_score):
    length, stopword-presence, and token-shape terms — the cheap pre-filter
    for corpus cleaning, mirrored term-for-term in the oracle."""
    from venice_spark.functions import text as TX

    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id", TX.quality_score("text").alias("quality"))


@register(
    "r11_multi_field_facets",
    "SELECT 'c_mktsegment' AS field, value, count FROM ("
    "  SELECT c_mktsegment AS value, count(*) AS count FROM customer"
    "  GROUP BY 1 ORDER BY count DESC, value ASC LIMIT 3) "
    "UNION ALL "
    "SELECT 'c_nationkey', value, count FROM ("
    "  SELECT CAST(c_nationkey AS VARCHAR) AS value, count(*) AS count FROM customer"
    "  GROUP BY 1 ORDER BY count DESC, value ASC LIMIT 3)",
)
def r11_multi_field_facets(spark, sf_dir):
    """R11 multi-field form: countGroupByValue(topK, field...) returns an
    independent top-K per requested field
    (ComputeAggregationRequestBuilder.java:16). Values stringified so the
    per-field frames union into one result."""
    from venice_spark.compute import ComputeAggregationBuilder

    df = _t(spark, sf_dir, "customer").withColumn(
        "c_nationkey", F.col("c_nationkey").cast("string")
    )
    per_field = ComputeAggregationBuilder(df, ["c_custkey"]).count_group_by_value(
        3, "c_mktsegment", "c_nationkey"
    )
    out = None
    for fname, frame in per_field.items():
        tagged = frame.select(
            F.lit(fname).alias("field"), F.col("value").cast("string").alias("value"), "count"
        )
        out = tagged if out is None else out.unionByName(tagged)
    return out


_GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap, in microseconds

@register(
    "x_sessionize",
    # microsecond precision on both sides: DuckDB reads TIMESTAMP(NANOS)
    # parquet at us precision, Spark reads exact ns -> truncate to us
    "WITH s AS (SELECT user_id, epoch_us(ts) AS tus, "
    "  CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > "
    f"  {_GAP_US} THEN 1 ELSE 0 END AS new_s FROM events "
    "  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))), "
    "t AS (SELECT user_id, tus, CAST(sum(new_s) OVER ("
    "  PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING) AS BIGINT)"
    "  AS session_seq FROM s) "
    "SELECT user_id, session_seq, count(*) AS n_events, "
    "min(tus) AS start_ts, max(tus) AS end_ts, max(tus) - min(tus) AS duration "
    "FROM t GROUP BY user_id, session_seq",
)
def x_sessionize(spark, sf_dir):
    """Gap-based sessionization of the event log (30-min gap): lag + running
    sum per user, then per-session rollup. One shuffle on the user key; the
    batch twin of F.session_window, oracle-checkable."""
    from venice_spark.sessions import session_stats

    df = _t(spark, sf_dir, "events").select(
        "user_id", F.expr("ts div 1000").alias("tus")
    )
    return session_stats(df, "user_id", "tus", _GAP_US)


@register(
    "x_distinct_users",
    "SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events "
    "FROM events GROUP BY 1",
)
def x_distinct_users(spark, sf_dir):
    """Exact distinct-user rollup per event type (partial-agg friendly:
    Spark expands countDistinct into a two-phase aggregate). The HLL
    variant is r16_hll_approx; this is its exact oracle-checked twin."""
    df = _t(spark, sf_dir, "events")
    return df.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


def _dup_clusters_oracle_sql() -> str:
    # the engine's iterative min-label propagation has a DuckDB twin:
    # transitive closure via WITH RECURSIVE, then min reachable id per node
    pairs_sql = _minhash_oracle_sql()
    return (
        f"WITH RECURSIVE pairs AS ({pairs_sql}), "
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs "
        "UNION SELECT id_b, id_a FROM pairs), "
        "reach(id, r) AS ("
        "  SELECT DISTINCT src, src FROM edges "
        "  UNION "
        "  SELECT e.src, t.r FROM edges e JOIN reach t ON e.dst = t.id"
        ") "
        "SELECT id, min(r) AS cluster_id FROM reach GROUP BY id"
    )


@register("x_dup_clusters", _dup_clusters_oracle_sql())
def x_dup_clusters(spark, sf_dir):
    """Transitive near-dup clusters: MinHash pairs -> connected components
    by min-label propagation (dedup.dup_clusters), cluster_id = minimum
    member id. The engine runs an iterative join dataflow with a
    convergence check (no driver-side graph state); the oracle re-derives
    the same components as a WITH RECURSIVE transitive closure + min
    reachable id — exact, so chain semantics (A~B~C collapses to one
    cluster) are driver-checked, not just pytest-pinned."""
    from venice_spark.dedup import dup_clusters, minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.02)
    return dup_clusters(pairs)


def _canonical_docs_oracle_sql() -> str:
    # clusters via the same recursive closure as x_dup_clusters, then keep
    # the highest-quality member per cluster (ties -> lowest id); singleton
    # docs are their own cluster and always kept
    pairs_sql = _minhash_oracle_sql()
    return (
        f"WITH RECURSIVE pairs AS ({pairs_sql}), "
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs "
        "UNION SELECT id_b, id_a FROM pairs), "
        "reach(id, r) AS ("
        "  SELECT DISTINCT src, src FROM edges "
        "  UNION "
        "  SELECT e.src, t.r FROM edges e JOIN reach t ON e.dst = t.id"
        "), "
        "clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id), "
        f"scored AS (SELECT doc_id, round({_Q_SCORE}, 5) AS quality FROM documents), "
        "lab AS (SELECT s.doc_id, coalesce(c.cluster_id, s.doc_id) AS cluster_id, "
        "  s.quality FROM scored s LEFT JOIN clusters c ON s.doc_id = c.id) "
        "SELECT doc_id, cluster_id, quality, "
        "row_number() OVER (PARTITION BY cluster_id ORDER BY quality DESC, doc_id ASC) = 1 "
        "AS keep FROM lab"
    )


@register("x_canonical_docs", _canonical_docs_oracle_sql())
def x_canonical_docs(spark, sf_dir):
    """Survivor selection (dedup.canonical_docs): MinHash near-dup pairs →
    transitive clusters → keep the highest-quality member per cluster
    (ties → lowest doc_id); singletons always kept. The step that turns
    pair detection into an actual deduplicated corpus — filter("keep") is
    the output a curation pipeline ships. The rank window runs over a
    narrow (id, cluster, quality) frame of in-cluster docs only; payloads
    join the keep flag back by id. Quality is rounded to 5 decimals BEFORE
    ranking so both engines order the same doubles (the
    importance-sample discipline). Oracle: recursive transitive closure +
    the same window rank."""
    from venice_spark.dedup import canonical_docs, minhash_lsh_pairs
    from venice_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.02)
    scored = docs.select(
        "doc_id", F.round(TX.quality_score("text"), 5).alias("quality")
    )
    return canonical_docs(scored, pairs, "doc_id", "quality")


@register(
    "x_event_percentiles",
    "SELECT event_type, quantile_cont(value, 0.5) AS p50, "
    "quantile_cont(value, 0.95) AS p95, quantile_cont(value, 0.99) AS p99 "
    "FROM events GROUP BY 1",
)
def x_event_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per event type (the serving-latency
    rollup shape). Spark `percentile` and DuckDB `quantile_cont` share the
    linear-interpolation definition -> bit-comparable."""
    df = _t(spark, sf_dir, "events")
    return df.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("p50"),
        F.percentile("value", 0.95).alias("p95"),
        F.percentile("value", 0.99).alias("p99"),
    )


@register(
    "x_event_histogram",
    "SELECT event_type, "
    "CAST(least(20.0, greatest(0.0, floor(value / 50.0))) AS BIGINT) AS bucket, "
    "count(*) AS n FROM events GROUP BY 1, 2",
)
def x_event_histogram(spark, sf_dir):
    """Fixed-width value histogram per event type (bucket width 50, clamped
    to [0, 20]) — the profile/quality-dashboard shape; pure partial-agg,
    one shuffle."""
    df = _t(spark, sf_dir, "events")
    bucket = F.least(
        F.lit(20.0), F.greatest(F.lit(0.0), F.floor(F.col("value") / 50.0))
    ).cast("bigint")
    return df.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count("*").alias("n")
    )


@register(
    "x_asof_join",
    "WITH r AS (SELECT o_custkey AS user_id, epoch_us(o_orderdate) AS ots, "
    "  arg_max(o_orderkey, o_orderkey) AS o_orderkey, "
    "  arg_max(o_totalprice, o_orderkey) AS o_totalprice "
    "  FROM orders GROUP BY 1, 2), "
    "e AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events) "
    "SELECT e.event_id, e.user_id, e.tus, r.o_orderkey, r.o_totalprice "
    "FROM e ASOF LEFT JOIN r ON e.user_id = r.user_id AND e.tus >= r.ots",
)
def x_asof_join(spark, sf_dir):
    """As-of join (operators/asof.py): each event picks the customer's most
    recent order at event time. DuckDB's native ASOF JOIN is the oracle;
    the Spark side is the union-tag + last(ignorenulls) linear formulation
    (one shuffle, no range-join blowup). Right side pre-aggregated to one
    row per (key, ts) so the as-of target is unambiguous."""
    from venice_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.expr("ts div 1000").alias("tus")
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("ots"),
        "o_orderkey",
        "o_totalprice",
    )
    r = orders.groupBy("user_id", "ots").agg(
        F.max_by("o_orderkey", "o_orderkey").alias("o_orderkey"),
        F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
    )
    return asof_join(
        ev, r, ["user_id"], "tus", "ots", ["o_orderkey", "o_totalprice"]
    )


_DAY_US = 86_400_000_000
_HOUR_US = 3_600_000_000

@register(
    "x_range_join",
    "WITH i AS (SELECT user_id, event_id AS iv_id, epoch_us(ts) AS s, "
    f"  epoch_us(ts) + {_HOUR_US} AS e FROM events WHERE event_type = 'purchase'), "
    "p AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events) "
    "SELECT p.event_id, p.user_id, p.tus, i.iv_id, i.s, i.e "
    "FROM p JOIN i ON p.user_id = i.user_id AND p.tus >= i.s AND p.tus <= i.e",
)
def x_range_join(spark, sf_dir):
    """Range (interval) join: all events falling within one hour after each
    purchase event of the same user (attribution window). Bucketized
    formulation (operators/asof.range_join): hash join on (key, time bucket)
    + exact predicate — never the per-key cross join a naive BETWEEN join
    plans. Oracle is the naive BETWEEN join."""
    from venice_spark.operators.asof import range_join

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.expr("ts div 1000").alias("tus")
    )
    iv = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("iv_id"),
            F.expr("ts div 1000").alias("s"),
            (F.expr("ts div 1000") + _HOUR_US).alias("e"),
        )
    )
    return range_join(ev, iv, ["user_id"], "tus", "s", "e", bucket_width=_HOUR_US)


@register(
    "x_rollup_agg",
    "SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars "
    "FROM documents GROUP BY ROLLUP(lang, source)",
)
def x_rollup_agg(spark, sf_dir):
    """Hierarchical rollup (lang -> source -> grand total) — the multi-level
    accounting query over a corpus; subtotal rows carry NULL group keys in
    both engines. Partial-agg per grouping set, one shuffle."""
    df = _t(spark, sf_dir, "documents")
    return df.rollup("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )


from venice_spark.functions.text import EMAIL_PATTERN as _EMAIL_P
from venice_spark.functions.text import PHONE_PATTERN as _PHONE_P

_LINES_SQL = (
    "list_filter(list_transform(str_split(text, chr(10)), ln -> trim(ln)), "
    "ln -> length(ln) > 0)"
)
_BIGRAMS_SQL = (
    f"CASE WHEN len({_TOKS}) >= 2 THEN "
    f"list_transform(range(1, len({_TOKS})), i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1]) "
    "ELSE [] END"
)


@register(
    "x_repetition_filter",
    # independent construction: the oracle computes the top-bigram share by
    # explode + GROUP BY; the engine uses a zero-shuffle sorted-run fold —
    # agreement is exactly the property checked
    f"WITH l AS (SELECT doc_id, {_LINES_SQL} AS ls, {_BIGRAMS_SQL} AS grams "
    "FROM documents), "
    "tb AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS tbf "
    "FROM (SELECT b.doc_id, t.g, count(*) AS c FROM l b, UNNEST(b.grams) AS t(g) "
    "GROUP BY 1, 2) GROUP BY 1) "
    "SELECT b.doc_id, "
    "CASE WHEN len(b.ls) >= 2 "
    "THEN 1.0 - CAST(len(list_distinct(b.ls)) AS DOUBLE) / CAST(len(b.ls) AS DOUBLE) "
    "ELSE 0.0 END AS dup_line_frac, "
    "coalesce(tb.tbf, 0.0) AS top_bigram_frac "
    "FROM l b LEFT JOIN tb USING (doc_id)",
)
def x_repetition_filter(spark, sf_dir):
    """Gopher-style repetition quality metrics (pipeline.repetition_metrics):
    duplicate-line fraction + top-bigram share, both pure per-row
    expressions (no shuffle, no Python)."""
    from venice_spark.pipeline import repetition_metrics

    df = _t(spark, sf_dir, "documents")
    return repetition_metrics(df, "text", "doc_id")


@register(
    "x_pii_scrub",
    "SELECT doc_id, "
    f"CAST(len(regexp_extract_all(text, '{_EMAIL_P}')) AS INT) AS emails, "
    f"CAST(len(regexp_extract_all(text, '{_PHONE_P}')) AS INT) AS phones, "
    f"md5(regexp_replace(regexp_replace(text, '{_EMAIL_P}', '<EMAIL>', 'g'), "
    f"'{_PHONE_P}', '<PHONE>', 'g')) AS redacted_md5 "
    "FROM documents",
)
def x_pii_scrub(spark, sf_dir):
    """PII count + redaction (pipeline.pii_scrub): email/phone patterns in
    the Java-regex ∩ RE2 subset run VERBATIM in both engines; the redacted
    text is md5'd for compact value comparison. Per-row regexp only."""
    from venice_spark.pipeline import pii_scrub

    df = _t(spark, sf_dir, "documents")
    out = pii_scrub(df, "text", "doc_id")
    return out.select(
        "doc_id", "emails", "phones", F.md5("redacted").alias("redacted_md5")
    )


@register(
    "x_ngram_counts",
    f"WITH g AS (SELECT t.g AS gram FROM (SELECT {_BIGRAMS_SQL} AS grams "
    "FROM documents) b, UNNEST(b.grams) AS t(g)) "
    "SELECT gram, count(*) AS n FROM g GROUP BY 1 ORDER BY n DESC, gram LIMIT 50",
)
def x_ngram_counts(spark, sf_dir):
    """Corpus bigram frequency top-50 (pipeline.ngram_counts): explode →
    partial-agg count → TakeOrderedAndProject; tie-broken by gram so the
    limit boundary is deterministic in both engines."""
    from venice_spark.pipeline import ngram_counts

    df = _t(spark, sf_dir, "documents")
    return ngram_counts(df, "text", n=2, top_k=50)


@register(
    "x_topk_per_group",
    "SELECT lang, doc_id, n_chars, rk FROM ("
    "  SELECT lang, doc_id, n_chars, ROW_NUMBER() OVER ("
    "    PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rk FROM documents"
    ") WHERE rk <= 3",
)
def x_topk_per_group(spark, sf_dir):
    """Best-K documents per language (pipeline.topk_per_group) — the
    'select the best docs per bucket' curation step. Plans as
    WindowGroupLimit: per-group top-K heaps before the shuffle."""
    from venice_spark.pipeline import topk_per_group

    df = _t(spark, sf_dir, "documents")
    out = topk_per_group(df, ["lang"], "n_chars", "doc_id", k=3)
    return out.select("lang", "doc_id", "n_chars", "rk")


@register(
    "x_inverted_index",
    f"WITH p AS (SELECT DISTINCT doc_id, t.tok AS token FROM (SELECT doc_id, "
    f"{_TOKS} AS toks FROM documents) d, UNNEST(d.toks) AS t(tok)), "
    "agg AS (SELECT token, count(*) AS df, list_sort(list(doc_id)) AS postings "
    "FROM p GROUP BY 1) "
    "SELECT token, df, array_to_string(postings, ',') AS postings "
    "FROM agg WHERE df BETWEEN 2 AND 1000",
)
def x_inverted_index(spark, sf_dir):
    """Token → sorted posting-list index (pipeline.inverted_index). One
    shuffle on token. The df band is the 100 TB guard (stopword-scale terms
    never materialize a list); the testdata vocabulary is 31 near-universal
    tokens, so the registered query opens the band wide enough to build
    real posting lists rather than filtering everything out. Registered
    with the posting list serialized to a comma string — the driver
    canonicalizer cannot sort raw list values (r5 window rotation);
    inverted_index itself still returns the array column."""
    from venice_spark.pipeline import inverted_index

    df = _t(spark, sf_dir, "documents")
    out = inverted_index(df, "text", "doc_id", min_df=2, max_df=1000)
    return out.withColumn(
        "postings",
        F.array_join(F.transform("postings", lambda x: x.cast("string")), ","),
    )


@register(
    "x_embed_centroids",
    "WITH p AS (SELECT label, u.pos - 1 AS dim, CAST(u.x AS DECIMAL(27,10)) AS x "
    "FROM embeddings, "
    "LATERAL (SELECT unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos) u) "
    "SELECT label, dim, "
    "CAST(floor(CAST(sum(x) AS DOUBLE) / count(x) * 10000 + 0.5) AS BIGINT) AS m_e4 "
    "FROM p GROUP BY 1, 2",
)
def x_embed_centroids(spark, sf_dir):
    """Per-label embedding centroids: posexplode → per-(label, dim)
    partial agg, mean quantized to 1e-4 units as an INTEGER. Two
    float-determinism traps are closed here, both found by the r5 sf0.1
    oracle sweep (the driver checks sf0.01, where the old form passed):
    (1) `avg(double)` accumulates in engine/partition order, so four
    means at sf0.1 landed on opposite sides of a rounding edge — fixed by
    an exact DECIMAL sum (associative; float→decimal(27,10) agrees across
    engines because both round the float's shortest decimal form, and a
    true tie at scale 10 would need a 5^10 denominator no binary float
    has); (2) `round(x, 4)` of the IDENTICAL double still differed —
    library rounding (BigDecimal HALF_UP vs scaled-multiply) is not IEEE
    arithmetic — fixed by quantizing with pure IEEE ops
    (floor(x*10000 + 0.5)) that evaluate bit-identically from identical
    inputs on any 754 engine. label_centroids (vectors.py) keeps the
    production double-avg path — this is the cross-engine-comparable
    edition."""
    df = _t(spark, sf_dir, "embeddings")
    e = df.select("label", F.posexplode("embedding").alias("dim", "x"))
    agg = e.groupBy("label", "dim").agg(
        F.sum(F.col("x").cast("decimal(27,10)")).alias("s"),
        F.count("x").alias("n"),
    )
    return agg.select(
        "label",
        "dim",
        F.floor(F.col("s").cast("double") / F.col("n") * 10000 + 0.5)
        .cast("long")
        .alias("m_e4"),
    )


_TOKS_CTE = (
    f"WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents), "
    "vocab AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok), "
    "tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS n_total FROM vocab)"
)


@register(
    "x_unigram_logprob",
    f"{_TOKS_CTE} "
    "SELECT doc_id, round(avg(ln(CAST(tf AS DOUBLE) / n_total)), 5) AS lm_logprob, "
    "count(*) AS n_tokens "
    "FROM toks JOIN vocab USING (tok) CROSS JOIN tot GROUP BY doc_id",
)
def x_unigram_logprob(spark, sf_dir):
    """CCNet-style unigram-LM quality score (pipeline.unigram_logprob):
    per-doc mean token log-probability under the corpus's own unigram LM —
    the cheap stand-in for the KenLM perplexity filter in pretraining data
    pipelines. Explode → partial-agg tf (map-side combine) → 1-row
    broadcast total → token join (AQE broadcasts the vocab when small) →
    per-doc avg. Scores rounded to 5 decimals on both sides (distributed
    float accumulation is not bit-order-stable)."""
    from venice_spark.pipeline import unigram_logprob

    df = _t(spark, sf_dir, "documents")
    return unigram_logprob(df, "text", "doc_id")


_RP_MATRIX = vectors.rademacher_matrix(DIM, 16, seed=7)


@register(
    "x_random_projection",
    "SELECT vec_id, "
    + vectors.oracle_projection_cols_sql("embedding", _RP_MATRIX)
    + " FROM embeddings",
)
def x_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss random projection 64 → 16 dims
    (vectors.random_projection): Rademacher matrix scaled 1/sqrt(k);
    pairwise distances preserved within (1±ε) so downstream ANN/dedup scans
    1/4 of the embedding bytes. Row-local JVM fold per output dim — no
    shuffle, no Python; oracle is the explicit per-dim sum (bit-identical
    IEEE754 fold order). Registered with one SCALAR column per dim
    (p0..p15) — the driver's pandas canonicalizer cannot sort raw list
    values (CORRECTNESS_r03 err), and an exploded shape pushes the
    unrolled expression into an interpreted Generate (4x slower); the
    engine function still returns the array<double> column."""
    df = _t(spark, sf_dir, "embeddings")
    return df.select(
        "vec_id", *vectors.random_projection_cols("embedding", _RP_MATRIX)
    )


@register(
    "x_drop_common_lines",
    "WITH lx AS (SELECT doc_id, u.pos, u.line FROM "
    f"(SELECT doc_id, {_LINES_SQL} AS ls FROM documents) d, "
    "LATERAL (SELECT unnest(ls) AS line, generate_subscripts(ls, 1) AS pos) u), "
    "common AS (SELECT line FROM lx WHERE length(line) >= 6 "
    "GROUP BY line HAVING count(DISTINCT doc_id) >= 2), "
    "kept AS (SELECT doc_id, pos, line FROM lx WHERE line NOT IN (SELECT line FROM common)), "
    "reb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text "
    "FROM kept GROUP BY doc_id) "
    "SELECT d.doc_id, coalesce(reb.clean_text, '') AS clean_text "
    "FROM documents d LEFT JOIN reb USING (doc_id)",
)
def x_drop_common_lines(spark, sf_dir):
    """Corpus-level boilerplate-line removal (pipeline.drop_common_lines):
    lines appearing in >= 2 distinct documents removed everywhere, survivors
    reassembled in order. On the driver's single-line corpus this reduces to
    emptying cross-document exact dups — the oracle re-derives the general
    construction either way."""
    from venice_spark.pipeline import drop_common_lines

    df = _t(spark, sf_dir, "documents")
    return drop_common_lines(df, "text", "doc_id").select("doc_id", "clean_text")


_FH_DIM = 32

@register(
    "x_feature_hash",
    "WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), __t -> __t <> '') AS t "
    "FROM documents), "
    "b AS (SELECT doc_id, list_transform(t, tok -> "
    f"(('0x' || substr(md5(tok), 1, 15))::BIGINT % {_FH_DIM})) AS bk FROM toks) "
    "SELECT doc_id, array_to_string(list_transform(range(0, " + str(_FH_DIM) + "), "
    "i -> len(list_filter(bk, x -> x = i))), ',') AS fvec FROM b",
)
def x_feature_hash(spark, sf_dir):
    """Hashing-trick featurization (functions/text.feature_hash_vector):
    text -> 32-dim integer count vector via the portable md5 hash64 —
    vocabulary-free content vectors, integer-exact on both engines. Pure
    per-row expressions, zero shuffle. Registered with the vector
    serialized to a comma string — the driver canonicalizer cannot sort
    raw list values (r5 window rotation); feature_hash_vector itself still
    returns the array column."""
    from venice_spark.functions.text import feature_hash_vector

    df = _t(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        F.array_join(
            F.transform(
                feature_hash_vector("text", dim=_FH_DIM),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("fvec"),
    )


@register(
    "x_tfidf_terms",
    "WITH toks AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\\s+'), __t -> __t <> '')) AS tok "
    "FROM documents), "
    "tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2), "
    "dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1), "
    "n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents), "
    "s AS (SELECT doc_id, tok, tf, df, "
    "round(tf * ln(n_docs / CAST(df AS DOUBLE)), 5) AS score "
    "FROM tf JOIN dfreq USING (tok) CROSS JOIN n) "
    "SELECT doc_id, tok, tf, df, score, rank FROM "
    "(SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok ASC) AS rank FROM s) "
    "WHERE rank <= 3",
)
def x_tfidf_terms(spark, sf_dir):
    """Per-doc top-3 TF-IDF keywords (pipeline.tfidf_top_terms): tf
    partial-agg → df agg → broadcast N → score join → rank-limited window
    (WindowGroupLimit per-doc heaps). Deterministic ties (alphabetical);
    scores rounded to 5 decimals on both sides."""
    from venice_spark.pipeline import tfidf_top_terms

    df = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(df, "text", "doc_id", k=3)


@register(
    "x_fuzzy_key_pairs",
    "WITH c AS (SELECT c_custkey AS id, c_name AS k FROM customer) "
    "SELECT a.id AS id_a, b.id AS id_b, mismatches(a.k, b.k) AS dist "
    "FROM c a JOIN c b ON a.id < b.id AND len(a.k) = len(b.k) "
    "AND mismatches(a.k, b.k) <= 1",
)
def x_fuzzy_key_pairs(spark, sf_dir):
    """Entity-resolution pairs (dedup.fuzzy_key_pairs): equal-length keys
    within 1 character substitution, found via wildcard position-mask
    blocking (d masked variants per key — a true pair shares a variant with
    the mismatch position wildcarded; segment blocking was rejected for
    degenerating on shared prefixes, see dedup.py), never the O(n²) cross
    join the brute-force oracle runs. Completeness is exactly what the
    oracle checks."""
    from venice_spark.dedup import fuzzy_key_pairs

    df = _t(spark, sf_dir, "customer")
    return fuzzy_key_pairs(df, "c_name", "c_custkey", max_subs=1)


_CHUNK_W = 32

@register(
    "x_chunk_documents",
    "WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), __t -> __t <> '') AS t "
    "FROM documents) "
    "SELECT doc_id, r.i AS chunk_idx, "
    f"array_to_string(t[r.i * {_CHUNK_W} + 1 : r.i * {_CHUNK_W} + {_CHUNK_W}], ' ') AS chunk_text, "
    f"least({_CHUNK_W}, len(t) - r.i * {_CHUNK_W}) AS chunk_tokens "
    f"FROM toks, UNNEST(range(0, ((len(t) - 1) // {_CHUNK_W}) + 1)) AS r(i)",
)
def x_chunk_documents(spark, sf_dir):
    """Document chunking into fixed-budget training sequences
    (dedup.chunk_documents): disjoint 32-token windows, last partial chunk
    kept. Pure per-row expressions — zero shuffle, chunks at scan speed;
    the splitting complement of x_sequence_packing's batching."""
    from venice_spark.dedup import chunk_documents

    df = _t(spark, sf_dir, "documents")
    return chunk_documents(df, "text", "doc_id", max_tokens=_CHUNK_W)


def _knn_classify_oracle_sql(k: int = 5) -> str:
    dot = " + ".join(
        f"CAST(lv[{i}] AS DOUBLE) * CAST(rv[{i}] AS DOUBLE)" for i in range(1, DIM + 1)
    )
    nl = " + ".join(f"CAST(lv[{i}] AS DOUBLE) * CAST(lv[{i}] AS DOUBLE)" for i in range(1, DIM + 1))
    nr = " + ".join(f"CAST(rv[{i}] AS DOUBLE) * CAST(rv[{i}] AS DOUBLE)" for i in range(1, DIM + 1))
    return (
        "WITH l AS (SELECT vec_id AS lid, embedding AS lv FROM embeddings WHERE vec_id < 50), "
        "r AS (SELECT vec_id AS rid, embedding AS rv, label FROM embeddings WHERE vec_id >= 50), "
        f"s AS (SELECT lid, rid, label, ({dot}) / (sqrt({nl}) * sqrt({nr})) AS cos FROM l, r), "
        "nn AS (SELECT * FROM (SELECT lid, rid, label, "
        "row_number() OVER (PARTITION BY lid ORDER BY cos DESC, rid ASC) AS rank FROM s) "
        f"WHERE rank <= {k}), "
        "v AS (SELECT lid, label, count(*) AS votes FROM nn GROUP BY 1, 2) "
        "SELECT lid AS vec_id, label AS predicted, votes FROM "
        "(SELECT lid, label, votes, row_number() OVER "
        "(PARTITION BY lid ORDER BY votes DESC, label ASC) AS rn FROM v) WHERE rn = 1"
    )


@register("x_knn_classify", _knn_classify_oracle_sql())
def x_knn_classify(spark, sf_dir):
    """k-NN auto-labeling (similarity.knn_classify): majority label of the
    5 nearest labeled neighbors, ties to the smallest label — the label-
    propagation step for growing a training set from a seed set. Registered
    in the exact brute-force edition the oracle re-derives; the LSH-blocked
    edition (blocked=True, no cross join) is the scale path, agreement
    pinned in tests."""
    from venice_spark.similarity import knn_classify

    emb = _t(spark, sf_dir, "embeddings")
    unlabeled = emb.filter(F.col("vec_id") < 50).drop("label")
    labeled = emb.filter(F.col("vec_id") >= 50)
    return knn_classify(
        unlabeled, labeled, "embedding", "vec_id", "label", k=5, blocked=False
    )


@register(
    "x_importance_sample",
    f"{_TOKS_CTE}, "
    "lm AS (SELECT doc_id, round(avg(ln(CAST(tf AS DOUBLE) / n_total)), 5) AS lp "
    "FROM toks JOIN vocab USING (tok) CROSS JOIN tot GROUP BY doc_id), "
    "w AS (SELECT doc_id, round(least(1.0, greatest(0.0, (lp + 3.6) / 0.3)), 5) AS weight FROM lm) "
    "SELECT doc_id, weight FROM w "
    "WHERE (('0x' || substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000) < "
    "round(weight * 1000000)",
)
def x_importance_sample(spark, sf_dir):
    """DSIR/CCNet-style quality-weighted resampling
    (pipeline.importance_sample): per-doc acceptance probability from the
    normalized unigram-LM score (high-quality docs kept preferentially),
    thresholded against the deterministic md5 hash — no RNG, identical
    output on every engine/run, monotone under weight changes. The weight
    is rounded to 5 decimals BEFORE thresholding so both engines compare
    the same double."""
    from venice_spark.pipeline import importance_sample, unigram_logprob

    df = _t(spark, sf_dir, "documents")
    lm = unigram_logprob(df, "text", "doc_id")
    weighted = lm.withColumn(
        "weight",
        F.round(
            F.least(
                F.lit(1.0),
                F.greatest(F.lit(0.0), (F.col("lm_logprob") + 3.6) / 0.3),
            ),
            5,
        ),
    )
    return importance_sample(weighted, "weight", "doc_id").select("doc_id", "weight")


_DNS_W = 20

_DNS_SQL = (
    "WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), __t -> __t <> '') AS t "
    "FROM documents), "
    "w AS (SELECT doc_id, r.i - 1 AS pos, "
    f"array_to_string(t[r.i:r.i + {_DNS_W - 1}], ' ') AS win "
    f"FROM toks, UNNEST(range(1, greatest(len(t) - {_DNS_W} + 2, 1))) AS r(i)), "
    "dup AS (SELECT win FROM w GROUP BY win HAVING count(*) >= 2), "
    "m AS (SELECT doc_id, pos FROM w JOIN dup USING (win)), "
    "g AS (SELECT doc_id, pos, CASE WHEN pos > coalesce(max(pos) OVER "
    "(PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), "
    f"-1000000000) + {_DNS_W - 1} THEN 1 ELSE 0 END AS brk FROM m), "
    "isl AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM g), "
    f"cov AS (SELECT doc_id, CAST(sum(maxp + {_DNS_W} - minp) AS BIGINT) AS covered FROM "
    "(SELECT doc_id, grp, min(pos) AS minp, max(pos) AS maxp FROM isl GROUP BY 1, 2) GROUP BY 1), "
    "st AS (SELECT doc_id, list(pos ORDER BY pos) AS dup_starts FROM m GROUP BY 1) "
    "SELECT toks.doc_id, len(t) AS n_tokens, "
    "coalesce(array_to_string(st.dup_starts, ','), '') AS dup_starts, "
    "coalesce(cov.covered, 0) AS covered, "
    "round(coalesce(cov.covered, 0) / greatest(len(t), 1), 5) AS dup_ngram_frac "
    "FROM toks LEFT JOIN st USING (doc_id) LEFT JOIN cov USING (doc_id)"
)


@register("x_dup_ngram_spans", _DNS_SQL)
def x_dup_ngram_spans(spark, sf_dir):
    """ExactSubstr-style dedup signal (dedup.dup_ngram_spans, after Lee et
    al. "Deduplicating Training Data Makes Language Models Better"): every
    20-token window occurring >= 2 times corpus-wide, reported per doc as
    sorted span starts + merged-interval token coverage. The window explode
    partial-aggs map-side before one shuffle on the window key; interval
    merging is a row-local sorted fold. Registered on the hashed scale
    path (each window shuffles as ONE xxhash64 long): the oracle groups on
    window TEXT, which yields identical doc/pos output because the
    comparison never sees the key — a hash collision would have to occur
    inside this corpus (~n²/2^65) to differ, and the gate would flag it.
    `dup_starts` is registered serialized ('3,17,...') — the driver's pandas
    canonicalizer cannot sort raw list values (CORRECTNESS_r03 err); the
    engine function still returns the array<int> column."""
    from venice_spark.dedup import dup_ngram_spans

    df = _t(spark, sf_dir, "documents")
    out = dup_ngram_spans(
        df, "text", "doc_id", window=_DNS_W, min_count=2, hash_windows=True
    )
    return out.withColumn(
        "dup_starts", F.array_join(F.col("dup_starts").cast("array<string>"), ",")
    )


_DCS_W = 13  # GPT-3's decontamination n-gram length

_DCS_TOKS = "list_filter(regexp_split_to_array(text, '\\s+'), __t -> __t <> '')"

_DCS_SQL = (
    f"WITH toks AS (SELECT doc_id, {_DCS_TOKS} AS t FROM documents WHERE doc_id % 20 <> 0), "
    f"etoks AS (SELECT doc_id, {_DCS_TOKS} AS t FROM documents WHERE doc_id % 20 = 0), "
    "w AS (SELECT doc_id, r.i - 1 AS pos, "
    f"array_to_string(t[r.i:r.i + {_DCS_W - 1}], ' ') AS win "
    f"FROM toks, UNNEST(range(1, greatest(len(t) - {_DCS_W} + 2, 1))) AS r(i)), "
    "ew AS (SELECT DISTINCT "
    f"array_to_string(t[r.i:r.i + {_DCS_W - 1}], ' ') AS win "
    f"FROM etoks, UNNEST(range(1, greatest(len(t) - {_DCS_W} + 2, 1))) AS r(i)), "
    "m AS (SELECT doc_id, pos FROM w JOIN ew USING (win)), "
    "g AS (SELECT doc_id, pos, CASE WHEN pos > coalesce(max(pos) OVER "
    "(PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), "
    f"-1000000000) + {_DCS_W - 1} THEN 1 ELSE 0 END AS brk FROM m), "
    "isl AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM g), "
    f"cov AS (SELECT doc_id, CAST(sum(maxp + {_DCS_W} - minp) AS BIGINT) AS covered FROM "
    "(SELECT doc_id, grp, min(pos) AS minp, max(pos) AS maxp FROM isl GROUP BY 1, 2) GROUP BY 1), "
    "st AS (SELECT doc_id, list(pos ORDER BY pos) AS starts FROM m GROUP BY 1), "
    "tokpos AS (SELECT doc_id, r.i - 1 AS p, t[r.i] AS tok "
    "FROM toks, UNNEST(range(1, len(t) + 1)) AS r(i)), "
    f"covpos AS (SELECT DISTINCT m.doc_id, r2.x AS p FROM m, UNNEST(range(m.pos, m.pos + {_DCS_W})) AS r2(x)), "
    "cl AS (SELECT tp.doc_id, string_agg(CASE WHEN cp.p IS NULL THEN tp.tok END, ' ' ORDER BY tp.p) "
    "AS clean_text FROM tokpos tp LEFT JOIN covpos cp ON tp.doc_id = cp.doc_id AND tp.p = cp.p "
    "GROUP BY 1) "
    "SELECT toks.doc_id, len(t) AS n_tokens, "
    "coalesce(array_to_string(st.starts, ','), '') AS contam_starts, "
    "coalesce(cov.covered, 0) AS covered, "
    "round(coalesce(cov.covered, 0) / greatest(len(t), 1), 5) AS contam_frac, "
    "coalesce(cl.clean_text, '') AS clean_text "
    "FROM toks LEFT JOIN st USING (doc_id) LEFT JOIN cov USING (doc_id) "
    "LEFT JOIN cl USING (doc_id)"
)


@register("x_decontaminate_spans", _DCS_SQL)
def x_decontaminate_spans(spark, sf_dir):
    """Span-level decontamination (pipeline.decontaminate_spans, the GPT-3
    appendix-C treatment): training docs sharing a 13-token window with the
    benchmark split keep the document but lose the overlapping span —
    contrast x_decontaminate, which drops whole docs. Benchmark = every
    20th doc_id of the same corpus (deterministic, oracle-expressible);
    both sides window-explode on xxhash64 keys, the eval window set
    distinct-collapses, coverage merge and span cutting are row-local
    folds. The oracle re-derives spans on window TEXT (hash-free) plus the
    cleaned text via a position anti-join — value-exact including the
    rebuilt strings."""
    from venice_spark.pipeline import decontaminate_spans

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 20 != 0)
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    out = decontaminate_spans(train, ev, "text", "doc_id", window=_DCS_W)
    return out.select(
        "doc_id",
        "n_tokens",
        F.array_join(F.col("contam_starts").cast("array<string>"), ",").alias(
            "contam_starts"
        ),
        "covered",
        "contam_frac",
        "clean_text",
    )


@register(
    "x_shard_plan",
    "SELECT doc_id, "
    "('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 16 "
    "AS shard, "
    "('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT "
    "AS shuffle_key "
    "FROM documents",
)
def x_shard_plan(spark, sf_dir):
    """Seeded training-shard assignment (pipeline.shard_plan): the logical
    global shuffle before writing training shards — shuffle_key =
    hash64(seed:doc_id), shard = key mod n. Pure per-row md5 expressions
    (the oracle re-derives them); the physical export adds one hash shuffle
    + per-shard local sort, never a global orderBy(rand())."""
    from venice_spark.pipeline import shard_plan

    df = _t(spark, sf_dir, "documents")
    return shard_plan(df, "doc_id", seed=7, n_shards=16).select(
        "doc_id", "shard", "shuffle_key"
    )


@register(
    "x_oversample",
    # rates: error -> 2.5x, view -> 0.2x, default 1.0x; precision 1e6.
    # copy c survives iff (c+1)*1e6 <= rate, or c is the fractional slot and
    # hash64(14:c:id) mod 1e6 < rate mod 1e6 — same math as the Spark side
    # (seed=14 is the resample purpose salt; see stratified_resample).
    "WITH rated AS (SELECT event_id, event_type, "
    "CASE WHEN event_type = 'error' THEN 2500000 "
    "WHEN event_type = 'view' THEN 200000 ELSE 1000000 END AS rate "
    "FROM events) "
    "SELECT event_id, event_type, gs.c AS copy FROM rated, "
    "generate_series(0, 2) AS gs(c) "
    "WHERE (c + 1) * 1000000 <= rate "
    "OR (c * 1000000 < rate AND (c + 1) * 1000000 > rate AND "
    "(('0x' || substr(md5('14:' || CAST(c AS VARCHAR) || ':' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT "
    "% 1000000) < rate % 1000000)",
)
def x_oversample(spark, sf_dir):
    """Deterministic stratified RESAMPLING with rates above 1.0 — the
    upsampling half of a data recipe (repeat errors 2.5x, keep 20% of
    views): floor(rate) full copies + a hash-thresholded fractional copy,
    `copy` index in the output (pipeline.stratified_resample). One narrow
    explode, no shuffle; the oracle re-derives the identical md5 math."""
    from venice_spark.pipeline import stratified_resample

    df = _t(spark, sf_dir, "events")
    out = stratified_resample(
        df, "event_type", {"error": 2.5, "view": 0.2}, "event_id", default_rate=1.0
    )
    return out.select("event_id", "event_type", "copy")


@register(
    "x_split_assign",
    "SELECT doc_id, source, CASE "
    "WHEN ('0x' || substr(md5('9:' || source), 1, 15))::BIGINT % 1000000 < 980000 THEN 'train' "
    "WHEN ('0x' || substr(md5('9:' || source), 1, 15))::BIGINT % 1000000 < 990000 THEN 'val' "
    "ELSE 'test' END AS split FROM documents",
)
def x_split_assign(spark, sf_dir):
    """Leakage-safe train/val/test assignment (pipeline.assign_splits):
    hash-range split keyed on `source` (stand-in for a near-dup cluster /
    domain key), so correlated documents land on the same side of the
    boundary. Pure per-row expression; 98/1/1 default weights."""
    from venice_spark.pipeline import assign_splits

    df = _t(spark, sf_dir, "documents")
    out = assign_splits(df, "doc_id", by_col="source", seed=9)
    return out.select("doc_id", "source", "split")


@register(
    "x_corpus_report",
    "WITH m AS (SELECT lang AS grp, "
    "len(list_filter(regexp_split_to_array(text, '\\s+'), __t -> __t <> '')) AS nt, "
    "length(text) AS nc, "
    f"CASE WHEN len(regexp_extract_all(text, '{_EMAIL_P}')) "
    f"+ len(regexp_extract_all(text, '{_PHONE_P}')) > 0 THEN 1 ELSE 0 END AS pii "
    "FROM documents) "
    "SELECT grp, CAST(GROUPING(grp) AS INT) AS is_total, "
    "count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS total_tokens, "
    "quantile_cont(nt, 0.5) AS p50_tokens, quantile_cont(nt, 0.95) AS p95_tokens, "
    "round(avg(nc), 4) AS avg_chars, CAST(sum(pii) AS BIGINT) AS pii_docs "
    "FROM m GROUP BY ROLLUP(grp)",
)
def x_corpus_report(spark, sf_dir):
    """One-pass corpus data card (pipeline.corpus_report): per-language and
    corpus-total document/token counts, token quantiles, average length,
    PII-bearing docs — one scan, one partial-agg shuffle bounded by the
    group count. Spark `percentile` and DuckDB `quantile_cont` share the
    linear-interpolation definition over exact ints -> bit-comparable."""
    from venice_spark.pipeline import corpus_report

    df = _t(spark, sf_dir, "documents")
    return corpus_report(df, "text", group_col="lang")


_BLOCK_TERMS = ["slow", "legacy", "error"]

@register(
    "x_blocklist_hits",
    "SELECT doc_id, CAST(len(list_filter(list_filter(regexp_split_to_array(text, '\\s+'), __t -> __t <> ''), "
    f"t -> list_contains({_BLOCK_TERMS!r}, lower(t)))) AS INT) AS hits "
    "FROM documents",
)
def x_blocklist_hits(spark, sf_dir):
    """C4-style bad-words gate signal (functions/text.blocklist_hits): per
    document, how many lower-cased tokens fall in the blocklist. One filter
    lambda over the token array — no shuffle, no Python, no N-way regex
    alternation; the prep pipeline folds `hits <= max` into its stage-1
    narrow predicate (CorpusPrepConfig.blocklist_terms)."""
    from venice_spark.functions import text as TX

    df = _t(spark, sf_dir, "documents")
    return df.select(
        "doc_id", TX.blocklist_hits("text", _BLOCK_TERMS).alias("hits")
    )


@register(
    "x_bigram_logprob",
    "WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), __t -> __t <> '') AS t "
    "FROM documents), "
    "bg AS (SELECT doc_id, t[r.i] AS w1, t[r.i + 1] AS w2 "
    "FROM toks, UNNEST(range(1, greatest(len(t), 1))) AS r(i)), "
    "c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2), "
    "c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1), "
    "v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM "
    "(SELECT unnest(t) AS tok FROM toks)), "
    "s AS (SELECT doc_id, "
    "round(avg(ln((c12 + 1.0) / (c1 + 1.0 * v))), 5) AS lm2_logprob, "
    "count(*) AS n_bigrams "
    "FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v "
    "GROUP BY doc_id) "
    "SELECT toks.doc_id, s.lm2_logprob, coalesce(s.n_bigrams, 0) AS n_bigrams "
    "FROM toks LEFT JOIN s USING (doc_id)",
)
def x_bigram_logprob(spark, sf_dir):
    """Add-1-smoothed bigram-LM quality score (pipeline.bigram_logprob):
    one conditioning order above x_unigram_logprob — word-ORDER salad now
    scores low even with a normal unigram mix. Bigrams form row-locally
    from the token array (no window shuffle); counts partial-agg map-side;
    V broadcasts as one row. Scores rounded to 5 decimals on both sides."""
    from venice_spark.pipeline import bigram_logprob

    df = _t(spark, sf_dir, "documents")
    return bigram_logprob(df, "text", "doc_id")


_CDC_D = 8

@register(
    "x_cdc_chunk_dedup",
    "WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), __t -> __t <> '') AS t "
    "FROM documents), "
    "b AS (SELECT doc_id, t, list_filter(range(1, len(t) + 1), "
    f"i -> ('0x' || substr(md5(t[i]), 1, 15))::BIGINT % {_CDC_D} = 0) AS bp FROM toks), "
    "c AS (SELECT doc_id, list_filter(list_transform("
    "range(1, len(bp) + 2), j -> CASE WHEN "
    "(CASE WHEN j = 1 THEN 1 ELSE bp[j - 1] + 1 END) <= "
    "(CASE WHEN j = len(bp) + 1 THEN len(t) ELSE bp[j] END) THEN "
    "array_to_string(t[(CASE WHEN j = 1 THEN 1 ELSE bp[j - 1] + 1 END):"
    "(CASE WHEN j = len(bp) + 1 THEN len(t) ELSE bp[j] END)], ' ') END), "
    "x -> x IS NOT NULL) AS chunks FROM b), "
    "h AS (SELECT doc_id, ('0x' || substr(md5(unnest(chunks)), 1, 15))::BIGINT AS h FROM c), "
    "dup AS (SELECT h FROM h GROUP BY h HAVING count(*) >= 2), "
    "tot AS (SELECT doc_id, count(*) AS n_chunks FROM h GROUP BY 1), "
    "dd AS (SELECT doc_id, count(*) AS dup_chunks FROM h JOIN dup USING (h) GROUP BY 1) "
    "SELECT toks.doc_id, coalesce(tot.n_chunks, 0) AS n_chunks, "
    "coalesce(dd.dup_chunks, 0) AS dup_chunks, "
    "round(coalesce(dd.dup_chunks, 0) / greatest(coalesce(tot.n_chunks, 0), 1), 5) "
    "AS dup_chunk_frac "
    "FROM toks LEFT JOIN tot USING (doc_id) LEFT JOIN dd USING (doc_id)",
)
def x_cdc_chunk_dedup(spark, sf_dir):
    """Content-defined chunking dedup (dedup.cdc_chunk_stats): token-level
    CDC boundaries (cut after tokens whose portable md5-hash64 ≡ 0 mod 8),
    duplicate chunk CONTENT counted corpus-wide — the shift-robust
    complement of x_dup_ngram_spans (an insertion only perturbs its own
    chunk, not every later window). Chunking is fully row-local array
    expressions; the only shuffle moves one 60-bit hash per chunk. The
    oracle re-derives boundaries, chunks, and hashes from the same md5
    construction."""
    from venice_spark.dedup import cdc_chunk_stats

    df = _t(spark, sf_dir, "documents")
    return cdc_chunk_stats(df, "text", "doc_id", divisor=_CDC_D, min_count=2)


@register("x_pq_topk")  # rows-only: k-means codebook training is iterative
def x_pq_topk(spark, sf_dir):
    """Product-quantized ANN (similarity.pq_train/pq_encode/pq_topk, after
    Jégou et al. 2011): 64-dim float embeddings compress to 16 one-byte
    codes (16x), search is ADC table lookups + exact L2 re-rank over the
    candidate set. Arrow-batched encode at ingest, pure-JVM heap top-k at
    query time (plan-pinned in test_plan_shapes). Exactness of the ADC
    math and recall vs brute force are pytest-pinned — the codebooks come
    from iterative k-means, so no single-SQL oracle exists."""
    from venice_spark.similarity import pq_encode, pq_topk, pq_train

    emb = _t(spark, sf_dir, "embeddings")
    books = pq_train(emb, "embedding", m=16, k=16, sample_fraction=1.0, seed=7)
    coded = emb.withColumn("code", pq_encode("embedding", books))
    return pq_topk(
        coded, W64, "code", "vec_id", books, k=10, refine=50, vec_col="embedding"
    )


@register("x_quality_classifier")  # rows-only: LBFGS training is iterative
def x_quality_classifier(spark, sf_dir):
    """FastText-style seed quality classifier (quality.py, the GPT-3/LLaMA
    crawl-filtering recipe): train LogisticRegression on hashed token
    features over a high/low-quality split, then score every document with
    a pure zip_with dot-product + sigmoid expression (no Python, no MLlib
    in the scoring pass — plan-pinned in test_quality_classifier)."""
    from venice_spark.quality import score_quality, train_quality_classifier

    docs = _t(spark, sf_dir, "documents")
    pos = docs.filter(F.col("doc_id") % 10 < 5)
    neg = docs.filter(F.col("doc_id") % 10 >= 5).withColumn(
        "text", F.upper(F.col("text"))
    )
    model = train_quality_classifier(pos, neg, dim=64, max_iter=10)
    return score_quality(docs, model).select("doc_id", "quality_prob")


@register("x_bpe_vocab")  # rows-only: iterative merge learning is not SQL
def x_bpe_vocab(spark, sf_dir):
    """BPE vocabulary learning (tokenizer.bpe_learn, after Sennrich et al.
    2016): one distributed explode+count shuffle produces the word-type
    frequency table; the bounded top types collect to the driver where the
    merge loop runs — exact BPE over the captured types, deterministic
    (lexicographic tie-break). Returns the learned merge list with ranks."""
    from venice_spark.tokenizer import bpe_learn

    df = _t(spark, sf_dir, "documents")
    merges = bpe_learn(df, "text", num_merges=60, max_word_types=20_000)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string",
    )


# ------------------------------------------------------- certification gates
#
# The approximate / iterative operators (sketches, ANN, learned vocab and
# classifiers) have no value-exact SQL twin, so their plain queries sit in
# the rows-only tail. These gates make the FAMILIES driver-certifiable
# anyway: each one computes the approximation AND its exact baseline in the
# same query and returns a scalar verdict (recall / error-bound / exact
# property) the driver can hash against a constant-truth oracle. Thresholds
# carry measured margin at sf0.001/sf0.01/sf0.1 (probed this round:
# LSH 10/9/9, IVF 8/9/9, PQ 10/8/8 hits of 10; HLL err <= 0.6%; BPE
# round-trip exact; classifier train accuracy 1.0).


@register(
    "x_hll_error_gate",
    "SELECT count(DISTINCT c_custkey) AS exact_uniq, TRUE AS within_tol FROM customer",
)
def x_hll_error_gate(spark, sf_dir):
    """R16 HLL certification: the HLL++ estimate (rsd=0.02) must land within
    3x rsd of the EXACT distinct count computed in the same pass, and the
    exact count itself is oracle-checked (strictly stronger than the retired
    r16_unique_keys window slot). Sketch estimates are impl-specific
    (StoreIngestionTask.java:2901-2907 uses datasketches), but the error
    envelope is the contract both implementations share."""
    df = _t(spark, sf_dir, "customer")
    agg = df.agg(
        F.countDistinct("c_custkey").alias("exact_uniq"),
        F.approx_count_distinct("c_custkey", 0.02).alias("approx"),
    )
    return agg.select(
        "exact_uniq",
        (
            F.abs(F.col("approx") - F.col("exact_uniq"))
            <= F.col("exact_uniq") * F.lit(0.06)
        ).alias("within_tol"),
    )


@register(
    "x_frame_dedup_gate",
    # data-derived truth: 2 frames per doc, frame content keyed by
    # (doc_id % 8, frame_idx) -> per-group hash collision and cross-group
    # separation are both certified when n_hashes == n_groups
    "SELECT count(*) * 2 AS n_frames, "
    "count(DISTINCT doc_id % 8) * 2 AS n_groups, "
    "count(DISTINCT doc_id % 8) * 2 AS n_hashes, "
    "TRUE AS one_hash_per_group FROM documents",
)
def x_frame_dedup_gate(spark, sf_dir):
    """Frame-level video dedup certification (multimodal.frame_ahash):
    synthesize a 2-frame concatenated-PPM stream per document whose frame
    content is a deterministic md5-derived 8x8 bit pattern keyed by
    (doc_id % 8, frame_idx) — upscaled 4x so the decode → downsample →
    mean-threshold aHash pipeline must recover the planted pattern
    exactly. The gate certifies both dedup directions in one query:
    every content group collapses to ONE hash (one_hash_per_group — the
    recall side: identical frames are found) and distinct groups stay
    distinct (n_hashes == n_groups — the precision side: no false
    merges). The hash extraction is Arrow-batched mapInPandas with zero
    shuffle; dedup itself is the one groupBy("ahash") hash shuffle."""
    from venice_spark.multimodal import frame_ahash

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        from venice_spark.multimodal import encode_ppm

        # the stream is a pure function of doc_id % 8 — synthesize each of
        # the 8 distinct 2-frame streams ONCE per task and look the rest up
        # (measured: 92 µs/doc unmemoized vs ~0 — byte-identical output;
        # guide §1.2 per-task work). The DECODE side below is untouched:
        # frame_ahash still splits/decodes/hashes every stream, which is
        # what the gate certifies.
        def build(g):
            stream = b""
            for fi in range(2):
                dig = hashlib.md5(f"frame:{g}:{fi}".encode()).digest()
                bits = np.unpackbits(
                    np.frombuffer(dig[:8], dtype=np.uint8)
                ).reshape(8, 8)
                img = np.kron(
                    (bits * 255).astype(np.uint8), np.ones((4, 4), dtype=np.uint8)
                )[:, :, None]
                stream += encode_ppm(img)
            return stream

        memo = {}
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                g = int(did) % 8
                if g not in memo:
                    memo[g] = build(g)
                rows.append({"media_id": int(did), "payload": memo[g]})
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = docs.mapInPandas(synth, "media_id long, payload binary")
    hashes = frame_ahash(media, "payload", "media_id")
    # ONE pass over the Python synth+decode chain: the former
    # totals.crossJoin(groups) evaluated the mapInPandas subtree TWICE
    # (once per aggregate branch — r10 measure-first finding). Aggregate
    # to the tiny (g, frame_idx, ahash, cnt) base eagerly (≤ groups ×
    # frames rows), then both aggregates read the checkpointed base:
    # n_frames = Σcnt, n_hashes = distinct ahash, nh per (g, frame_idx) =
    # base row count — identical values by construction.
    base = (
        hashes.groupBy(
            (F.col("media_id") % 8).alias("g"), "frame_idx", "ahash"
        )
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    per_group = base.groupBy("g", "frame_idx").agg(F.count("*").alias("nh"))
    totals = base.agg(
        # coalesce: sum over an EMPTY base is NULL where count(*) was 0
        F.coalesce(F.sum("cnt"), F.lit(0).cast("bigint")).alias("n_frames"),
        F.countDistinct("ahash").alias("n_hashes"),
    )
    groups = per_group.agg(
        F.count("*").alias("n_groups"), F.max("nh").alias("max_per_group")
    )
    return totals.crossJoin(groups).select(
        "n_frames",
        "n_groups",
        "n_hashes",
        (F.col("max_per_group") == 1).alias("one_hash_per_group"),
    )


@register(
    "x_audio_tone_gate",
    "SELECT count(*) AS n_audio, TRUE AS all_bands_ok FROM documents",
)
def x_audio_tone_gate(spark, sf_dir):
    """Audio DSP certification (multimodal.decode_wav + audio_features):
    synthesize one 16-bit PCM WAV per document containing a pure sine at
    an exact FFT bin centered in spectral band (doc_id % 8), then run the
    REAL decode → rFFT → 8-band energy pipeline and require the dominant
    band to equal the planted one for EVERY row. Integer-cycle tones leak
    no energy across bins, so the property is exact, not statistical —
    the gate is all-or-nothing. Closes the certification gap where the
    audio path (unlike the PPM/video path, x_frame_dedup_gate) was only
    pytest-covered. Synthesis and extraction are Arrow-batched
    mapInPandas, zero shuffle; the verdict is one partial-agg fold."""
    from venice_spark.dedup import _spread
    from venice_spark.multimodal import extract_audio_features

    # _spread the pruned id frame (r11): the single-file corpus plans ONE
    # scan task, so the synth + rFFT decode chain serialized on one core;
    # the shuffle moves 8 bytes/row. Interleaved A/B: 0.65x (min 1.28 ->
    # 0.83 s), verdict row identical. The frame gate measured the
    # OPPOSITE (its synth is memoized per task, decode is cheap — 1.13x)
    # and keeps its zero-shuffle shape.
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id"), "doc_id")
    rate, n = 8000, 2048
    n_bins = n // 2 + 1  # rfft length; np.array_split(spec, 8) band layout

    def synth(batches):
        import numpy as np
        import pandas as pd

        from venice_spark.multimodal import encode_wav

        t = np.arange(n) / rate
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                b = int(did) % 8
                kb = int(round((b + 0.5) * n_bins / 8))  # bin inside band b
                payloads.append(
                    encode_wav(0.5 * np.sin(2 * np.pi * (kb * rate / n) * t), rate)
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    wav = docs.mapInPandas(synth, "doc_id long, payload binary")
    feats = extract_audio_features(wav, n_bands=8)
    # spectral energies are features[4:12]; array_position is 1-based
    band = (
        F.array_position(
            F.slice("features", 5, 8), F.array_max(F.slice("features", 5, 8))
        )
        - 1
    )
    ok = F.coalesce(band == (F.col("doc_id") % 8), F.lit(False))
    return feats.agg(
        F.count("*").alias("n_audio"), F.bool_and(ok).alias("all_bands_ok")
    )


def _recall_verdict(exact: DataFrame, approx: DataFrame, k: int, min_hits: int):
    """Overlap of two bounded top-k id frames -> (k, recall_ok) verdict row.
    Both inputs are TakeOrdered plans of k rows, so the join is trivially
    broadcast-sized at any corpus scale."""
    hits = exact.join(approx, "vec_id").agg(F.count("*").alias("hits"))
    return hits.select(
        F.lit(k).cast("long").alias("k"),
        (F.col("hits") >= min_hits).alias("recall_ok"),
    )


@register("x_ann_lsh_recall", "SELECT CAST(10 AS BIGINT) AS k, TRUE AS recall_ok")
def x_ann_lsh_recall(spark, sf_dir):
    """LSH ANN certification: recall@10 of multi-probe hyperplane LSH
    (8 tables, 8 planes, hamming<=2 probes) vs the exact brute-force top-10
    for the same query vector, gated at 0.6 (measured 0.9-1.0 across SFs).
    The candidate filter is the 100 TB path — bucket pruning instead of a
    corpus scan — so this certifies the approximation the scale plan ships."""
    from venice_spark.similarity import brute_force_topk, lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    exact = brute_force_topk(emb, W64, "embedding", "vec_id", k=10).select("vec_id")
    approx = lsh_topk(
        emb, W64, "embedding", "vec_id", k=10, n_planes=8, tables=8, probe_hamming=2
    ).select("vec_id")
    return _recall_verdict(exact, approx, k=10, min_hits=6)


@register("x_ann_ivf_recall", "SELECT CAST(10 AS BIGINT) AS k, TRUE AS recall_ok")
def x_ann_ivf_recall(spark, sf_dir):
    """IVF ANN certification: recall@10 of nprobe=5-of-8 inverted-list search
    vs brute force, gated at 0.6 (measured 0.8-0.9 across SFs). At scale the
    list filter is partition pruning on the IVF layout (push.IvfIndexViewDef
    + StoreHandle.ann_topk)."""
    from venice_spark.similarity import brute_force_topk, ivf_topk, train_ivf_centroids

    emb = _t(spark, sf_dir, "embeddings")
    exact = brute_force_topk(emb, W64, "embedding", "vec_id", k=10).select("vec_id")
    cents = train_ivf_centroids(emb, "embedding", n_centroids=8, sample_fraction=1.0)
    approx = ivf_topk(emb, W64, "embedding", "vec_id", cents, k=10, nprobe=5).select(
        "vec_id"
    )
    return _recall_verdict(exact, approx, k=10, min_hits=6)


@register("x_pq_recall", "SELECT CAST(10 AS BIGINT) AS k, TRUE AS recall_ok")
def x_pq_recall(spark, sf_dir):
    """PQ-ADC certification: recall@10 of the 16-byte product-quantized scan
    + exact cosine re-rank of the ADC top-50 vs brute force, gated at 0.6
    (measured 0.8-1.0 across SFs). Certifies the 16x-compressed scan path."""
    from venice_spark.similarity import brute_force_topk, pq_encode, pq_topk, pq_train

    emb = _t(spark, sf_dir, "embeddings")
    exact = brute_force_topk(emb, W64, "embedding", "vec_id", k=10).select("vec_id")
    books = pq_train(emb, "embedding", m=16, k=16, sample_fraction=1.0, seed=7)
    coded = emb.withColumn("code", pq_encode("embedding", books))
    approx = pq_topk(
        coded,
        W64,
        "code",
        "vec_id",
        books,
        k=10,
        refine=50,
        vec_col="embedding",
        refine_metric="cosine",
    ).select("vec_id")
    return _recall_verdict(exact, approx, k=10, min_hits=6)


@register("x_ivfpq_recall", "SELECT CAST(10 AS BIGINT) AS k, TRUE AS recall_ok")
def x_ivfpq_recall(spark, sf_dir):
    """IVF-PQ composed certification (VERDICT r4 #8): recall@10 of the full
    production vector-search composition — coarse quantizer prunes to
    nprobe=5-of-8 inverted lists, PQ codes shrink what those lists read,
    ADC ranks, exact cosine re-ranks the top-50 — vs brute force, gated at
    0.6. x_ann_ivf_recall and x_pq_recall certify the two stages alone;
    this certifies their composition (`similarity.ivf_pq_topk`, the FAISS
    IVFPQ shape), since list pruning and code quantization LOSE recall
    independently and their product is what production ships."""
    from venice_spark.similarity import (
        brute_force_topk,
        ivf_assign,
        ivf_pq_topk,
        pq_encode,
        pq_train,
        train_ivf_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    exact = brute_force_topk(emb, W64, "embedding", "vec_id", k=10).select("vec_id")
    cents = train_ivf_centroids(emb, "embedding", n_centroids=8, sample_fraction=1.0)
    books = pq_train(emb, "embedding", m=16, k=16, sample_fraction=1.0, seed=7)
    coded = emb.withColumn("ivf_list", ivf_assign("embedding", cents)).withColumn(
        "code", pq_encode("embedding", books)
    )
    approx = ivf_pq_topk(
        coded,
        W64,
        "code",
        "vec_id",
        cents,
        books,
        k=10,
        nprobe=5,
        refine=50,
        vec_col="embedding",
        refine_metric="cosine",
    ).select("vec_id")
    return _recall_verdict(exact, approx, k=10, min_hits=6)


@register(
    "x_bpe_roundtrip",
    "SELECT count(*) AS n_docs, TRUE AS all_roundtrip FROM documents",
)
def x_bpe_roundtrip(spark, sf_dir):
    """BPE tokenizer certification: learning a merge list from the corpus and
    encoding every document must be lossless — concatenating the subword
    tokens (word-end markers stripped) reproduces the document with its
    ASCII-whitespace runs removed, for EVERY row. An exact property of a
    correct encoder (Sennrich et al. 2016), so the gate is all-or-nothing."""
    from venice_spark.tokenizer import END, bpe_encode, bpe_learn

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_learn(docs, "text", num_merges=40, max_word_types=20_000)
    enc = bpe_encode(docs, "text", merges, out_col="__toks")
    # Compare WITH the word-end sentinels in place (each word contributes
    # its characters + one END): stripping END from the joined tokens would
    # also delete a literal '</w>' occurring in the text itself and
    # false-fail the gate on HTML-ish corpora (code-review r4 continuation).
    # The whitespace class is the tokenizer's ONE regime: ASCII \s only
    # (tokenizer._WS).
    ws = "[ \\t\\n\\u000B\\f\\r]"
    joined = F.array_join(F.col("__toks"), "")
    trimmed = F.regexp_replace(F.col("text"), f"^{ws}+|{ws}+$", "")
    expected = F.when(F.length(trimmed) == 0, F.lit("")).otherwise(
        F.concat(F.regexp_replace(trimmed, f"{ws}+", END), F.lit(END))
    )
    ok = F.col("text").isNull() | (joined == expected)
    return enc.agg(
        F.count("*").alias("n_docs"), F.min(ok).alias("all_roundtrip")
    )


@register(
    "x_quality_classifier_acc",
    "SELECT count(*) AS n_docs, TRUE AS acc_ok FROM documents",
)
def x_quality_classifier_acc(spark, sf_dir):
    """Quality-classifier certification: train the FastText-style seed
    classifier on the deterministic high/low split (x_quality_classifier's
    setup) and gate its training-set accuracy at 0.9 (measured 1.0 — the
    uppercased negatives are linearly separable in hashed-token space).
    Certifies train + the pure-JVM scoring expression end to end."""
    from venice_spark.quality import score_quality, train_quality_classifier

    docs = _t(spark, sf_dir, "documents")
    pos = docs.filter(F.col("doc_id") % 10 < 5)
    neg = docs.filter(F.col("doc_id") % 10 >= 5).withColumn(
        "text", F.upper(F.col("text"))
    )
    model = train_quality_classifier(pos, neg, dim=64, max_iter=10)
    labeled = pos.withColumn("y", F.lit(1)).unionByName(neg.withColumn("y", F.lit(0)))
    scored = score_quality(labeled, model)
    correct = ((F.col("quality_prob") >= 0.5) == (F.col("y") == 1)).cast("double")
    return scored.agg(
        F.count("*").alias("n_docs"),
        (F.avg(correct) >= 0.9).alias("acc_ok"),
    )


# ---------------------------------------------------------------- ordering
#
# The driver's correctness gate checks the FIRST 50 registered queries in
# registration order; everything after runs but is not certified that round.
# Window membership ROTATES OLDEST-GREEN-FIRST (VERDICT r5 #5): LAST_GREEN
# records, per oracle-bearing query, the most recent round whose driver
# correctness file showed all three checks green (rows + schema + value
# hash vs DuckDB); each round the window takes the certification gates
# (pinned — they carry the no-oracle approximate/iterative families) plus
# the stalest-green queries, so no green ages more than a few rounds while
# the code under it keeps changing. A brand-new query has no LAST_GREEN
# entry and sorts stalest of all, i.e. new operators are automatically
# in-window. Rows-only queries (no oracle) stay in the tail: a window slot
# without a value-hash check is a wasted slot (VERDICT r2 "What's wrong
# #3"); their families are certified by the pinned gates.
#
# Maintenance contract (enforced by tests/test_registry.py): after each
# round, fold the new CORRECTNESS_r{N}.json into LAST_GREEN — the test
# recomputes the dict from the files on disk and fails on drift.
DRIVER_WINDOW = 50

# Self-verifying certification gates: each computes an approximation AND
# its exact baseline in one query and returns a verdict row; sensitivity
# tests (tests/test_gate_sensitivity.py) prove a broken implementation
# flips each verdict. Pinned in-window every round: they are the only
# driver-checkable evidence for the rows-only families (HLL, ANN, PQ,
# BPE, the quality classifier, frame/audio recovery).
PINNED_GATES = {
    "x_hll_error_gate",
    "x_ann_lsh_recall",
    "x_ann_ivf_recall",
    "x_pq_recall",
    "x_ivfpq_recall",
    "x_bpe_roundtrip",
    "x_quality_classifier_acc",
    "x_frame_dedup_gate",
    "x_audio_tone_gate",
}

# query -> most recent round with a fully-green driver row (derived from
# CORRECTNESS_r{01..06}.json; tests recompute and diff this)
LAST_GREEN = {
    # round 7
    "x_chunk_documents": 7,
    "x_decontaminate_spans": 7,
    "x_drop_common_lines": 7,
    "x_dup_ngram_spans": 7,
    "x_feature_hash": 7,
    "x_fuzzy_key_pairs": 7,
    "x_importance_sample": 7,
    "x_knn_classify": 7,
    "x_tfidf_terms": 7,
    # round 8
    "r11_count_group_by_value": 8,
    "r12_count_group_by_bucket": 8,
    "r13_predicate_algebra": 8,
    "r16_unique_keys": 8,
    "r1_single_get": 8,
    "r3_streaming_batch_get": 8,
    "r4_project": 8,
    "r5_dot_product": 8,
    "r6_cosine_similarity": 8,
    "r7_hadamard_product": 8,
    "r8_count_array": 8,
    "w15_materialized_view": 8,
    "w1_put_latest_wins": 8,
    "w2_delete_tombstone": 8,
    "w3_partial_update_set_field": 8,
    "w4_w5_list_ops": 8,
    "w6_map_ops": 8,
    "x_ann_topk": 8,
    "x_bigram_logprob": 8,
    "x_blocklist_hits": 8,
    "x_bpe_token_count": 8,
    "x_cdc_chunk_dedup": 8,
    "x_corpus_report": 8,
    "x_decontaminate": 8,
    "x_dedup_ngram_jaccard": 8,
    "x_embed_quantize": 8,
    "x_embedding_near_dup": 8,
    "x_fingerprint": 8,
    "x_knn_join": 8,
    "x_lang_id": 8,
    "x_oversample": 8,
    "x_promoted_serve": 8,
    "x_sessionize": 8,
    "x_shard_plan": 8,
    "x_simhash": 8,
    "x_simhash_pairs": 8,
    "x_skew_salted_count": 8,
    "x_split_assign": 8,
    "x_token_count": 8,
    "x_training_pipeline": 8,
    "x_version_diff": 8,
    # round 9
    "cdc_change_events": 9,
    "i6_duplicate_key_check": 9,
    "i9_consistency_check": 9,
    "r10_filter_compute": 9,
    "r11_multi_field_facets": 9,
    "r2_batch_get": 9,
    "r8_count_map": 9,
    "r9_error_channel": 9,
    "w10_repush_offset_dedup": 9,
    "w11_ttl_filter": 9,
    "w7_dcr_merge": 9,
    "w9_incremental_push": 9,
    "x_ann_ivf_recall": 9,
    "x_ann_lsh_recall": 9,
    "x_asof_join": 9,
    "x_audio_tone_gate": 9,
    "x_bpe_roundtrip": 9,
    "x_canonical_docs": 9,
    "x_cast_promoted_serve": 9,
    "x_crawl_ingest": 9,
    "x_dedup_exact": 9,
    "x_distinct_users": 9,
    "x_dup_clusters": 9,
    "x_embed_centroids": 9,
    "x_event_histogram": 9,
    "x_event_percentiles": 9,
    "x_event_rollup": 9,
    "x_evolved_serve": 9,
    "x_frame_dedup_gate": 9,
    "x_hll_error_gate": 9,
    "x_inverted_index": 9,
    "x_ivf_knn_join": 9,
    "x_ivfpq_recall": 9,
    "x_knn_join_lsh": 9,
    "x_minhash_near_dup": 9,
    "x_multimodal_features": 9,
    "x_ngram_counts": 9,
    "x_pii_scrub": 9,
    "x_pq_recall": 9,
    "x_quality_classifier_acc": 9,
    "x_quality_score": 9,
    "x_random_projection": 9,
    "x_range_join": 9,
    "x_repetition_filter": 9,
    "x_rollup_agg": 9,
    "x_sequence_packing": 9,
    "x_stratified_sample": 9,
    "x_text_quality": 9,
    "x_topk_per_group": 9,
    "x_unigram_logprob": 9,
}


def _reorder_registry() -> None:
    """Reorder QUERIES/ORACLES so the first DRIVER_WINDOW entries are the
    pinned gates plus the stalest-green oracle queries (registration order
    preserved within the window and within the tail)."""
    reg_idx = {n: i for i, n in enumerate(QUERIES)}
    oracle = [n for n in QUERIES if n in ORACLES]
    pinned = [n for n in oracle if n in PINNED_GATES]
    rest = sorted(
        (n for n in oracle if n not in PINNED_GATES),
        key=lambda n: (LAST_GREEN.get(n, 0), reg_idx[n]),
    )
    window = set(pinned) | set(rest[: DRIVER_WINDOW - len(pinned)])
    ordered = [n for n in QUERIES if n in window] + [
        n for n in QUERIES if n not in window
    ]
    q = {n: QUERIES[n] for n in ordered}
    QUERIES.clear()
    QUERIES.update(q)
    o = {n: ORACLES[n] for n in ordered if n in ORACLES}
    ORACLES.clear()
    ORACLES.update(o)


_reorder_registry()
