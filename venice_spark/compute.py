"""Read-compute DSL: the engine's query-builder API (R4-R13).

Mirrors the reference's client builder 1:1
(clients/venice-thin-client/src/main/java/com/linkedin/venice/client/store/ComputeRequestBuilder.java:22-106,
impl AbstractAvroComputeRequestBuilder.java:123-520) but has two
evaluators instead of an Avro ComputeRequest:

    store.compute()
         .project("name")
         .dot_product("embedding", weights, "score")
         .cosine_similarity("embedding", weights, "cos")
         .count("tags", "tag_count")
         .execute(keys)                       # batchGet + compute (R2+R4-8)
         .execute_with_filter(pred)           # partial-key prefix scan (R10)

Every computed field also feeds the __veniceComputationError__ map channel
(R9, ComputeUtils.java:69-143).

Keyed compute runs per record next to the fetched rows, as the
reference's ReadComputeOperator does: when StoreHandle.compute()'s key
batch is read through Arrow (batch_get's conditions, at most
served.ARROW_BATCH_MAX_KEYS keys), execute(keys) evaluates every op on the
driver with the numpy twins of functions/vectors and returns a local frame
with the Spark plan's exact schema — no Column tree, no Spark job. Any
other key batch, an op the twins do not cover (a vector whose elements are
not float or integral, a field not in the frame, a repeated output name)
and every whole-store plan (plan, execute_with_filter, partial_key_lookup,
a builder over a bare frame) lower to Catalyst Column expressions. The
Spark form joins the key set: batch_get's partition-pruned broadcast join
from a store, a broadcast key join over a bare frame.
execute_with_filter relies on predicate pushdown + sorted-by-key parquet
for rowgroup pruning, the moral equivalent of RocksDB prefix iteration
(RocksDBStoragePartition.java:808).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field as dc_field
from typing import Any, NamedTuple

import pyarrow as pa
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame, SparkSession

from venice_spark.functions import vectors

ERROR_FIELD = "__veniceComputationError__"
_ERROR_TYPE = T.MapType(T.StringType(), T.StringType(), True)

# op kind -> (Spark kernel, driver twin); a count takes no param
_KERNELS = {
    "dot_product": (vectors.dot_product, vectors.dot_product_py),
    "cosine_similarity": (vectors.cosine_similarity, vectors.cosine_similarity_py),
    "hadamard_product": (vectors.hadamard_product, vectors.hadamard_product_py),
    "count": (vectors.collection_count, vectors.collection_count_py),
}

# result type of each op kind, as the Spark kernels type it
_RESULT_TYPES = {
    "dot_product": T.DoubleType(),
    "cosine_similarity": T.DoubleType(),
    "hadamard_product": T.ArrayType(T.DoubleType(), True),
    "count": T.IntegerType(),
}


@dataclass
class _Op:
    kind: str
    field: str
    result_name: str
    param: Sequence[float] | None = None

    def apply(self, kernel, vec):
        return kernel(vec) if self.param is None else kernel(vec, self.param)

    @property
    def param_len(self) -> int | None:
        # `is not None`, not truthiness: an explicit empty param list must
        # still produce the length entries of the error channel
        return len(self.param) if self.param is not None else None


class KeyRows(NamedTuple):
    """A key batch read on the driver: `table` holds the rows in
    batch_get's column order, `schema` is their df() schema, and `spark`
    turns a table into a local frame."""

    spark: SparkSession
    table: pa.Table
    schema: T.StructType


class _StoreFrame:
    """`df` is the frame a builder plans over, or a zero-arg function
    building it. StoreHandle passes its snapshot's unbuilt frame so that a
    keyed execute (served by batch_get's rows) or an Arrow facet count
    never lists the version: the frame is built on the first whole-store
    plan."""

    df: DataFrame | Callable[[], DataFrame]

    def frame(self) -> DataFrame:
        if not isinstance(self.df, DataFrame):
            self.df = self.df()
        return self.df


@dataclass
class ComputeRequestBuilder(_StoreFrame):
    df: DataFrame | Callable[[], DataFrame]
    key_fields: list[str]
    projections: list[str] = dc_field(default_factory=list)
    ops: list[_Op] = dc_field(default_factory=list)
    with_error_channel: bool = False
    # StoreHandle.compute() plugs in batch_get's rows here: keys -> KeyRows
    # read through Arrow, or the (partition_id, key) join frame, so
    # execute(keys) prunes directories instead of scanning the whole store
    key_rows_source: Any = None

    # ---- builder surface (ComputeRequestBuilder.java:22-106) ----
    def project(self, *fields: str) -> "ComputeRequestBuilder":
        self.projections.extend(fields)
        return self

    def dot_product(self, field: str, param: Sequence[float], result_name: str):
        self.ops.append(_Op("dot_product", field, result_name, list(param)))
        return self

    def cosine_similarity(self, field: str, param: Sequence[float], result_name: str):
        self.ops.append(_Op("cosine_similarity", field, result_name, list(param)))
        return self

    def hadamard_product(self, field: str, param: Sequence[float], result_name: str):
        self.ops.append(_Op("hadamard_product", field, result_name, list(param)))
        return self

    def count(self, field: str, result_name: str):
        self.ops.append(_Op("count", field, result_name))
        return self

    def error_channel(self, enabled: bool = True) -> "ComputeRequestBuilder":
        self.with_error_channel = enabled
        return self

    # ---- lowering ----
    def _passed_through(self) -> list[str]:
        return [*self.key_fields, *(p for p in self.projections if p not in self.key_fields)]

    def _output_names(self) -> list[str]:
        names = [*self._passed_through(), *(op.result_name for op in self.ops)]
        return [*names, ERROR_FIELD] if self.with_error_channel else names

    def _result_columns(self) -> list[Column]:
        cols: list[Column] = [F.col(n) for n in self._passed_through()]
        for op in self.ops:
            cols.append(op.apply(_KERNELS[op.kind][0], op.field).alias(op.result_name))
        if self.with_error_channel:
            err = F.create_map().cast("map<string,string>")
            for op in self.ops:
                # EVERY computed field feeds the error channel, count
                # included — the reference's CountOperator emits -1 + an
                # error entry for a null collection (code-review r4: the
                # old vector-ops-only loop made count-of-null silently
                # indistinguishable from a clean 0).
                entry = vectors.compute_error_entries(
                    op.field, op.field, op.param_len, key_name=op.result_name
                )
                err = F.map_concat(err, entry)
            cols.append(err.alias(ERROR_FIELD))
        return cols

    def plan(self) -> DataFrame:
        """Lower to a DataFrame over the whole store (no key restriction)."""
        return self.frame().select(*self._result_columns())

    # ---- driver form: the twins over rows the driver holds ----
    def _driver_schema(self, schema: T.StructType) -> T.StructType | None:
        """The schema plan() gives over a frame of `schema` when the driver
        twins cover the request; None when Spark must evaluate it: a name
        F.col would not resolve to exactly that column (absent, or holding
        a dot or backtick), an output name given twice, a vector op over
        anything but an array of TWIN_ELEMENTS, or a count over a
        non-array."""
        by = {f.name: f for f in schema.fields}
        names = self._output_names()
        fields = [*self._passed_through(), *(op.field for op in self.ops)]
        if (
            len({n.lower() for n in names}) < len(names)
            or not all(f in by and "." not in f and "`" not in f for f in fields)
        ):
            return None
        for op in self.ops:
            t = by[op.field].dataType
            if not isinstance(t, T.ArrayType) or (
                op.kind != "count" and not isinstance(t.elementType, vectors.TWIN_ELEMENTS)
            ):
                return None
        out = T.StructType([by[n] for n in self._passed_through()])
        for op in self.ops:
            out.add(op.result_name, _RESULT_TYPES[op.kind], True)
        if self.with_error_channel:
            out.add(ERROR_FIELD, _ERROR_TYPE, False)
        return out

    def _driver_rows(self, table: pa.Table) -> pa.Table:
        """plan()'s rows computed by the twins over `table`, a frame's rows
        that _driver_schema accepted."""
        cols = [table.column(n) for n in self._passed_through()]
        cols += [op.apply(_KERNELS[op.kind][1], table.column(op.field)) for op in self.ops]
        if self.with_error_channel:
            maps: list[list] = [[] for _ in range(table.num_rows)]
            for op in self.ops:  # map_concat, op by op
                entries = vectors.compute_error_entries_py(
                    op.field, table.column(op.field), op.param_len, key_name=op.result_name
                )
                for row, more in zip(maps, entries.to_pylist()):
                    row.extend(more)
            cols.append(pa.array(maps, pa.map_(pa.string(), pa.string())))
        return pa.table(cols, names=self._output_names())

    def execute(
        self,
        spark_or_keys: "SparkSession | Sequence[Any] | None" = None,
        keys: Sequence[Any] | None = None,
    ) -> DataFrame:
        """Compute over a batch of keys (R2 join + compute). Missing keys are
        absent from the result, matching batchGet semantics
        (AvroGenericStoreClient.java:58).

        Call as .execute(keys) — the documented builder shape; the session
        comes from the frame. The legacy .execute(spark, keys) still works.

        Built via StoreHandle.compute(), a key batch batch_get reads
        through Arrow is computed on the driver by the twins
        (_driver_schema/_driver_rows) into a local frame; any other batch
        is batch_get's join, whose partition ids prune version
        directories. A builder constructed over a bare frame takes a
        broadcast key join."""
        if keys is None:
            keys = spark_or_keys  # .execute(keys) shape
        if self.key_rows_source is None:
            df = self.frame()
            spark = df.sparkSession
            # explicit schema from the store frame: with only field NAMES an
            # empty key batch has nothing to infer types from and
            # createDataFrame raises CANNOT_INFER_EMPTY_SCHEMA — batchGet
            # semantics say an empty batch is an empty result, not a crash
            # (code-review r4)
            key_schema = df.select(*self.key_fields).schema
            if len(self.key_fields) == 1:
                kdf = spark.createDataFrame([(k,) for k in keys], schema=key_schema)
            else:
                kdf = spark.createDataFrame(list(keys), schema=key_schema)
            joined = df.join(F.broadcast(kdf), on=self.key_fields, how="inner")
        else:
            joined = self.key_rows_source(keys)
            if isinstance(joined, KeyRows):
                schema = self._driver_schema(joined.schema)
                if schema is not None:
                    return joined.spark.createDataFrame(self._driver_rows(joined.table), schema)
                joined = joined.spark.createDataFrame(joined.table, joined.schema)
        return ComputeRequestBuilder(
            joined, self.key_fields, self.projections, self.ops, self.with_error_channel
        ).plan()

    def execute_with_filter(self, predicate: Column) -> DataFrame:
        """R10: compute over all rows whose leading key fields satisfy the
        predicate (AvroComputeRequestBuilderV4.java:33-75). Pushdown replaces
        RocksDB prefix iteration."""
        return ComputeRequestBuilder(
            self.frame().filter(predicate),
            self.key_fields,
            self.projections,
            self.ops,
            self.with_error_channel,
        ).plan()

    def partial_key_lookup(self, **field_values: Any) -> DataFrame:
        """R10 with the reference's key-prefix contract: equality on a
        *leading prefix* of the composite key's fields; anything else is an
        error, mirroring the client-side validation
        (AvroComputeRequestBuilderV4.java:33-75 — prefix serialization only
        works for leading fields; DaVinciComputeTest exercises the failure).
        Leading-prefix equality + key-sorted rowgroups = the RocksDB prefix
        iteration access path."""
        # set comparison: the prefix contract is about WHICH fields are
        # constrained, not Python kwargs ordering — passing a complete key
        # as (second=, first=) is still a valid leading prefix
        # (code-review r4)
        given = set(field_values)
        prefix = self.key_fields[: len(given)]
        if given != set(prefix):
            raise ValueError(
                f"partial-key lookup must specify a leading prefix of the key "
                f"fields {self.key_fields}; got {sorted(given)}"
            )
        pred = F.lit(True)
        for name, v in field_values.items():
            pred = pred & (F.col(name) == F.lit(v))
        return self.execute_with_filter(pred)


@dataclass
class ComputeAggregationBuilder(_StoreFrame):
    """Facet aggregations (R11/R12) —
    clients/venice-thin-client/.../ComputeAggregationRequestBuilder.java:16-31.
    The reference counts client-side over returned records
    (FacetCountingUtils.java:30). A store's small plain-file version is
    counted the same way, on the driver through Arrow
    (`value_counts_source`, plugged in by StoreHandle.aggregate); anything
    else is a groupBy/count with map-side partial aggregation."""

    df: DataFrame | Callable[[], DataFrame]
    key_fields: list[str]
    # (top_k, fields) -> {field: frame}, or None when Spark must count
    value_counts_source: Any = None

    def count_group_by_value(self, top_k: int, *fields: str) -> dict[str, DataFrame]:
        """Top-K most frequent values per field. Deterministic order:
        count desc, then value asc (ties, nulls first). Columns: value
        (the field's type), count (long, not null)."""
        if self.value_counts_source is not None:
            counted = self.value_counts_source(top_k, fields)
            if counted is not None:
                return counted
        df = self.frame()
        out = {}
        for f_name in fields:
            out[f_name] = (
                df.groupBy(F.col(f_name).alias("value"))
                .agg(F.count("*").alias("count"))
                .orderBy(F.col("count").desc(), F.col("value").asc())
                .limit(top_k)
            )
        return out

    def count_group_by_bucket(self, buckets: dict[str, Column]) -> DataFrame:
        """Named predicate buckets -> one row of counts
        (AvroComputeAggregationRequestBuilder.java:109)."""
        aggs = [
            F.count(F.when(pred, F.lit(1))).alias(name) for name, pred in buckets.items()
        ]
        return self.frame().agg(*aggs)
