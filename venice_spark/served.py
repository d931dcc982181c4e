"""The served version of a store, resolved once per request.

The reference's router resolves store -> current version -> partition once
and carries that version in the request (VenicePathParser.java:193,
VeniceDelegateMode.java:191). `ServedVersion.take` is that step: one
store.json read and one manifest read fix the version, its key fields, the
layout it was written with, its lazy-delta slots, its footer schema and the
reader-schema plan. Every StoreHandle read then routes and reads through
that one snapshot, so a pointer flip mid-call can never route with one
version's layout and read another version's files.

A version whose content is exactly its partition_id=P parquet files (no
delta slot, a footer schema) is read on the driver through Arrow, the Fast
Client's one partition-aware hop with no Spark job: point and batch gets
read only the owning partition dirs, and facet counts over a small version
are counted as the reference's client counts them
(FacetCountingUtils.java:30). Anything else is served by `frame()`, the one
builder of a store's Spark frame.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from dataclasses import dataclass
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.pandas.types import to_arrow_type

from venice_spark import partitioner
from venice_spark.catalog import StoreCatalog, _data_files, _footer_schema, _partition_dirs
from venice_spark.compute import KeyRows
from venice_spark.push import manifest_layout
from venice_spark.streaming import hybrid

# ---- Arrow point reads ----

# Largest key batch get/batch_get serve through Arrow; past it the batch
# takes the Spark broadcast join. Measured on a 600k-row, 32-partition
# lineitem store (sf0.1, 4 cores, median of 5 collected batch_gets): Arrow
# vs Spark 55 vs 574 ms at 100 keys, 118 vs 604 ms at 2,000, 899 vs
# 1,118 ms at 30,000, and the crossover at about 45,000 (1,361 vs
# 1,350 ms). The bound sits well under it because the Arrow read runs on
# the driver alone and holds its result there: this is the size bound of
# that driver-side collect.
ARROW_BATCH_MAX_KEYS = 2000

# Spark types whose Python value Arrow reproduces exactly. Left out, so a
# store carrying them reads through Spark: TimestampType (Arrow returns a
# UTC instant — an aware datetime, or a naive UTC pandas.Timestamp from an
# INT96 file — where Spark returns a naive local-time datetime), MapType
# (Arrow: list of tuples, Spark: dict), StructType (Arrow: dict, Spark:
# Row), and every type not listed.
_ARROW_EXACT = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.StringType, T.BinaryType, T.DateType,
    T.TimestampNTZType, T.DecimalType,
)

_INT_RANGE = {
    T.ByteType: 7, T.ShortType: 15, T.IntegerType: 31, T.LongType: 63,
}


def _arrow_exact(t: T.DataType) -> bool:
    if isinstance(t, T.ArrayType):
        return _arrow_exact(t.elementType)
    return isinstance(t, _ARROW_EXACT)


def _key_fits(v: Any, t: T.DataType) -> bool:
    """The key component compares exactly against a column of type `t`:
    a non-bool int in range for an integral column, a str for a
    (default-collation) string column, a bool for a boolean column."""
    if isinstance(t, T.BooleanType):
        return isinstance(v, bool)
    if t == T.StringType():
        return isinstance(v, str)
    bits = _INT_RANGE.get(type(t))
    return (
        bits is not None
        and isinstance(v, int)
        and not isinstance(v, bool)
        and -(1 << bits) <= v < (1 << bits)
    )


# ---- Arrow facet counts ----

# Largest version, by its manifest `rows`, whose count_group_by_value the
# driver counts through Arrow; past it the count is Spark's groupBy.
# Measured on lineitem stores (32 partitions, 4 cores, median of 5
# collected two-field counts, Arrow vs Spark): sf0.1's 457k rows 102 vs
# 572 ms (two near-unique fields: 279 vs 680 ms); replicated 4x (1.8M
# rows) 173 vs 533 ms, 16x (7.3M) 376 vs 669 ms, 32x (14.6M) 895 vs
# 1,087 ms, so the crossover lies near 20M rows. The bound sits far under
# it because the count holds the read columns in driver memory: this is
# the size bound of that driver-side read.
ARROW_SCAN_MAX_ROWS = 1_000_000

# Reader types whose Arrow grouping and ordering are Spark's: integral,
# boolean and date values, floats once -0.0 folds into 0.0 and every NaN
# into one NaN (Spark's float normalisation, done in _top_values), and
# default-collation strings, which both order by unsigned UTF-8 bytes.
# Every other type counts through Spark.
_ARROW_GROUPABLE = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DateType,
)


def _arrow_groupable(t: T.DataType) -> bool:
    return isinstance(t, _ARROW_GROUPABLE) or t == T.StringType()


def _top_values(col: pa.ChunkedArray | pa.Array, top_k: int) -> pa.Table:
    """The top_k (value, count) rows of `col` in the order of Spark's
    groupBy/orderBy(count desc, value asc): ties by value with nulls first
    and NaN above every number."""
    if pa.types.is_floating(col.type):
        col = pc.add(col, pa.scalar(0.0, col.type))  # -0.0 + 0.0 == +0.0
        col = pc.if_else(pc.is_nan(col), pa.scalar(float("nan"), col.type), col)
    counted = pc.value_counts(col)
    values = counted.field("values")
    # explicit null / number / NaN ranks, so Arrow's own null and NaN
    # placement never decides an order
    special = (
        pc.if_else(pc.is_nan(values), 2, 1)
        if pa.types.is_floating(values.type)
        else pa.repeat(1, len(values))
    )
    table = pa.table(
        {
            "value": values,
            "count": counted.field("counts"),
            "rank": pc.if_else(pc.is_null(values), 0, special),
        }
    )
    order = pc.sort_indices(
        table,
        sort_keys=[("count", "descending"), ("rank", "ascending"), ("value", "ascending")],
    )
    return table.take(order[:top_k]).select(["value", "count"])


def _as_nullable(t: T.DataType) -> T.DataType:
    """`t` as Spark's parquet reader reports it: array elements nullable
    (the other nested types never leave Spark)."""
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_as_nullable(t.elementType), True)
    return t


def _arrow_row(table: pa.Table, i: int) -> Row:
    """Row i built the way collect() builds its Rows."""
    row = Row(*(col[i].as_py() for col in table.columns))
    row.__fields__ = table.column_names
    return row


@dataclass(frozen=True)
class ServedVersion:
    """One version of a store as one request sees it. `slots` are its
    lazy-delta slot dirs in resolution order; `file_schema` and `plan` (the
    reader-schema plan over it) are None when the version has no
    partition_id=P files with a footer schema; `rows` is the manifest's row
    count."""

    spark: SparkSession
    catalog: StoreCatalog
    store: str
    version: int
    version_dir: str
    key_fields: list[str]
    n_parts: int
    md5p: bool
    slots: list[str]
    file_schema: T.StructType | None
    registry: dict  # registered value types, streaming.hybrid.registered_value_types
    plan: list | None  # [streaming.hybrid.ReaderColumn]
    rows: int | None

    @classmethod
    def take(
        cls, spark: SparkSession, catalog: StoreCatalog, store: str, version: int | None = None
    ) -> "ServedVersion":
        """The current version (or a pinned one) from one store.json read
        and one manifest read. The layout is the one the version was
        WRITTEN with (push._version_layout's rule): update_store changes
        apply from the next push, so routing with the live config against
        data stamped with the old modulus or hash would miss every key."""
        meta = catalog.get_store(store)
        v = meta.current_version if version is None else version
        manifest = catalog.version_manifest(store, v) or {}
        vdir = catalog.version_dir(store, v)
        file_schema = _footer_schema(vdir)
        registry = hybrid.registered_value_types(catalog, store)
        return cls(
            spark, catalog, store, v, vdir, meta.key_fields, *manifest_layout(manifest, meta),
            catalog.list_delta_dirs(store, v), file_schema, registry,
            None if file_schema is None else hybrid.reader_plan(file_schema.fields, registry),
            manifest.get("rows"),
        )

    @property
    def plain(self) -> bool:
        """The content is exactly the partition_id=P files: no lazy-delta
        slot to resolve, and a footer schema to read them with."""
        return self.version > 0 and not self.slots and self.plan is not None

    # ---- the Spark frame ----
    def frame(self) -> DataFrame:
        """The version's content: its files, with its delta slots resolved
        latest-slot-wins (the one LSM kernel, catalog._resolve_delta_view),
        read against the latest registered value schema — the reference
        deserializes every read with it (schema/SchemaEntry.java), so
        registry-promoted columns widen and registry-added columns the
        files predate null-fill. Pure projection: the casts fold into the
        scan, no rewrite."""
        if self.version <= 0:
            raise ValueError(f"store {self.store!r} has no current version")
        out = self.catalog.read_version(self.spark, self.store, self.version)
        if self.slots:
            out = self.catalog._resolve_delta_view(self.spark, out, self.slots, self.key_fields)
        return hybrid.resolve_registry_reader(out, self.registry)

    def schema(self, names: list[str]) -> T.StructType:
        """frame()'s schema of the named columns, in that order (plan only)."""
        by = {c.name: _as_nullable(c.type) for c in self.plan}
        return T.StructType([T.StructField(n, by[n], True) for n in names])

    # ---- routing ----
    def _key_tuples(self, keys: Sequence[Any]) -> list[tuple]:
        kf = self.key_fields
        return [((k,) if len(kf) == 1 else tuple(k)) for k in keys]

    def _key_schema(self, frame: DataFrame) -> T.StructType:
        kf = self.key_fields
        return self.schema(kf) if self.plain else frame.select(*kf).schema

    def _route(self, kts: list[tuple], frame: DataFrame) -> list[int]:
        """Each key's partition id, the router's key->partition math. For
        int/str components, whose Python str() is byte-identical to Spark's
        cast to string, the driver-side twin partitioner.partition_id_py
        computes it with no Spark job. Any other component (a float's Java
        repr differs, concat_ws skips a null) is stamped by the column
        expression itself, one small local job over the key rows."""
        if all(isinstance(c, (int, str)) for kt in kts for c in kt):
            return [partitioner.partition_id_py(kt, self.n_parts, self.md5p) for kt in kts]
        keys = self.spark.createDataFrame(kts, schema=self._key_schema(frame))
        stamped = partitioner.with_partition_id(keys, self.key_fields, self.n_parts, self.md5p)
        return [r[0] for r in stamped.select("partition_id").collect()]

    # ---- Arrow reads ----
    def arrow_rows(self, kts: list[tuple]) -> pa.Table | None:
        """Rows of the requested keys read with pyarrow from the owning
        partition_id=P dirs only: one row per requested key occurrence
        that exists (a key asked twice comes back twice, as from the
        broadcast join), in request order, resolved through the reader
        plan. None when Spark must serve the batch: a version that is not
        plain, too many keys, a column type Arrow cannot reproduce, or a
        key component that does not match its column's type family."""
        if not self.plain:
            return None
        kf = self.key_fields
        ftypes = {f.name: f.dataType for f in self.file_schema.fields}
        if (
            len(kts) > ARROW_BATCH_MAX_KEYS
            or not all(_arrow_exact(c.type) for c in self.plan)
            or not all(
                len(kt) == len(kf)
                and all(_key_fits(v, ftypes.get(k)) for k, v in zip(kf, kt))
                for kt in kts
            )
        ):
            return None
        pids = sorted({partitioner.partition_id_py(kt, self.n_parts, self.md5p) for kt in kts})
        files = [
            f
            for p in pids
            for f in _data_files(os.path.join(self.version_dir, f"partition_id={p}"))
        ]
        found = None
        if files:  # a missing partition dir owns no rows: its keys are absent
            cond = None
            for i, k in enumerate(kf):
                c = pc.field(k).isin(sorted({kt[i] for kt in kts}))
                cond = c if cond is None else cond & c
            found = ds.dataset(files, format="parquet").to_table(
                columns=[f.name for f in self.file_schema.fields], filter=cond
            )
            rows_of: dict[tuple, list[int]] = {}
            for i, kt in enumerate(zip(*(found.column(k).to_pylist() for k in kf))):
                rows_of.setdefault(kt, []).append(i)
            take = [i for kt in kts for i in rows_of.get(kt, ())]
            found = found.take(pa.array(take, pa.int64()))
        n = 0 if found is None else found.num_rows
        cols = [
            pa.nulls(n, to_arrow_type(c.type))
            if found is None or c.action == "null"
            else pc.cast(found.column(c.name), to_arrow_type(c.type), safe=False)
            for c in self.plan
        ]
        return pa.table(cols, names=[c.name for c in self.plan])

    def value_counts(self, top_k: int, fields: Sequence[str]) -> dict[str, DataFrame] | None:
        """R11 counted on the driver: each field's top_k (value, count)
        rows counted with pyarrow over the version's files through the
        reader plan (promoted columns cast, registry-added ones all null)
        into a local frame with the Spark groupBy's exact schema, no Spark
        job. None when Spark must count: a version that is not plain, no
        manifest row count or more than ARROW_SCAN_MAX_ROWS rows, a
        negative top_k, or a field that is not a plain column of a type
        Arrow groups and orders as Spark does."""
        if not self.plain:
            return None
        by = {c.name: c for c in self.plan}
        described = {f.name for f in self.file_schema.fields if f.metadata}
        if (
            self.rows is None
            or self.rows > ARROW_SCAN_MAX_ROWS
            or top_k < 0
            or not all(
                f in by and f not in described and _arrow_groupable(by[f].type)
                for f in fields
            )
        ):
            return None
        files = [f for d in _partition_dirs(self.version_dir) for f in _data_files(d)]
        read = ds.dataset(files, format="parquet").to_table(
            columns=sorted({f for f in fields if by[f].action != "null"})
        )
        out = {}
        for f in fields:
            t = to_arrow_type(by[f].type)
            col = (
                pa.nulls(read.num_rows, t)
                if by[f].action == "null"
                else pc.cast(read.column(f), t, safe=False)
            )
            schema = T.StructType(
                [T.StructField("value", by[f].type, True), T.StructField("count", T.LongType(), False)]
            )
            out[f] = self.spark.createDataFrame(_top_values(col, top_k), schema)
        return out

    # ---- requests ----
    def get(self, key: Any) -> Row | None:
        """R1: through Arrow when arrow_rows takes the key; otherwise a
        partition-pruned Spark read of frame()."""
        kt = self._key_tuples([key])[0]
        found = self.arrow_rows([kt])
        if found is not None:
            return _arrow_row(found, 0) if found.num_rows else None
        frame = self.frame()
        cond = F.col("partition_id") == F.lit(self._route([kt], frame)[0])
        for k, v in zip(self.key_fields, kt):
            cond = cond & (F.col(k) == F.lit(v))
        rows = frame.filter(cond).drop("partition_id").limit(1).collect()
        return rows[0] if rows else None

    def key_rows(self, keys: Sequence[Any]) -> KeyRows | DataFrame:
        """R2's rows of a key batch, the key fields first, then the rest in
        frame() order: KeyRows when arrow_rows takes the batch, otherwise a
        broadcast hash join on (partition_id, key) whose partition ids
        prune version directories (key-sorted files then prune rowgroups
        by min/max)."""
        kts = self._key_tuples(keys)
        kf = self.key_fields
        found = self.arrow_rows(kts)
        if found is not None:
            order = [*kf, *(n for n in found.column_names if n not in kf)]
            return KeyRows(self.spark, found.select(order), self.schema(order))
        frame = self.frame()
        pids = self._route(kts, frame)
        pid = T.StructField("partition_id", T.IntegerType(), False)
        kdf = self.spark.createDataFrame(
            [(*kt, p) for kt, p in zip(kts, pids)],
            schema=T.StructType([*self._key_schema(frame), pid]),
        )
        return (
            frame.filter(F.col("partition_id").isin(sorted(set(pids))))
            .join(F.broadcast(kdf), on=["partition_id", *kf], how="inner")
            .drop("partition_id")
        )

    def batch_get(self, keys: Sequence[Any]) -> DataFrame:
        rows = self.key_rows(keys)
        if isinstance(rows, KeyRows):
            return self.spark.createDataFrame(rows.table, rows.schema)
        return rows
