"""Partitioning: MD5-parity partition id + fast xxhash64 internal path.

Reference: DefaultVenicePartitioner computes MD5(keyBytes) and reduces it
mod numPartitions byte-by-byte
(internal/venice-client-common/src/main/java/com/linkedin/venice/partitioner/DefaultVenicePartitioner.java:56-88).
Byte-wise Horner reduction of the digest mod N is mathematically identical to
interpreting the 16-byte digest as a big-endian unsigned integer mod N, so we
compute exactly that — parity without porting the loop.

At scale: the partition id is computed as a *column*, so the shuffle on it
(`partition_shuffle`) stays in the DataFrame API (no RDD escape hatch like
the reference's spark/utils/SparkPartitionUtils.java:22-28 needs) and
AQE can coalesce it.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def key_bytes_col(*key_cols: str | Column) -> Column:
    """Serialize key fields to bytes: single field -> utf8 of its string form;
    composite keys join with a 0x00 separator. (We do not replicate Avro binary
    encoding — parity tests compare partition *distribution*, not raw bytes.)
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in key_cols]
    joined = F.concat_ws("\x00", *[c.cast("string") for c in cols])
    return F.encode(joined, "UTF-8")


def md5_partition_id(key: Column, num_partitions: int) -> Column:
    """MD5(key) mod n, matching the reference partitioner's math.

    md5 hex -> take as 128-bit unsigned int mod n. conv() overflows on 128-bit,
    so reduce in two 64-bit halves: (hi * 2^64 + lo) % n computed with modular
    arithmetic. All JVM-side (whole-stage codegen), no Python UDF.
    """
    hex_ = F.md5(key)
    n = F.lit(num_partitions).cast("decimal(38,0)")
    hi = F.conv(F.substring(hex_, 1, 16), 16, 10).cast("decimal(38,0)")
    lo = F.conv(F.substring(hex_, 17, 16), 16, 10).cast("decimal(38,0)")
    two64 = F.lit("18446744073709551616").cast("decimal(38,0)")  # 2^64 (> long, via string)
    # ((hi % n) * (2^64 % n) + lo % n) % n  — every intermediate fits decimal38
    pid = ((hi % n) * (two64 % n) + (lo % n)) % n
    return pid.cast("int").alias("partition_id")


def fast_partition_id(key: Column, num_partitions: int) -> Column:
    """Internal default: xxhash64-based pmod — cheaper than MD5, same spread."""
    return F.pmod(F.xxhash64(key), F.lit(num_partitions)).cast("int").alias("partition_id")


def with_partition_id(
    df: DataFrame,
    key_fields: list[str],
    num_partitions: int,
    md5_parity: bool = False,
) -> DataFrame:
    key = key_bytes_col(*key_fields)
    pid = md5_partition_id(key, num_partitions) if md5_parity else fast_partition_id(key, num_partitions)
    return df.withColumn("partition_id", pid)


def partition_shuffle(
    df: DataFrame, key_fields: list[str], num_partitions: int, md5_parity: bool = False
) -> DataFrame:
    """Stamp `partition_id` and shuffle on it: the one partition_id
    exchange every version, slot and view write plans. The shuffle is
    REPARTITION_BY_COL, so its task count follows
    `spark.sql.shuffle.partitions` and AQE coalesces it to the data's size
    — a 500-row slot of a 32-partition store runs a task or two, not 32
    with a dozen empty. A partition id still hashes to exactly one reducer
    and coalescing only merges whole adjacent reducers, so each id's rows
    stay in one task and a partitionBy("partition_id") write leaves one
    file per id. A groupBy(partition_id, key) above reuses this exchange
    (partition_id is a pure function of the key)."""
    with_pid = with_partition_id(df, key_fields, num_partitions, md5_parity)
    return with_pid.repartition(F.col("partition_id"))


def repartition_and_sort(
    df: DataFrame, key_fields: list[str], num_partitions: int, md5_parity: bool = False
) -> DataFrame:
    """Stage I4 of the reference push pipeline: custom hash partition + sort
    within partition by key (AbstractDataWriterSparkJob.java:942-947,
    PartitionSorter.java:17-21). Sorted-by-key parquet gives rowgroup min/max
    pruning on key lookups — the same win as RocksDB SST bulk ingest. The
    sort leads with partition_id: a task may hold several ids, and the
    partitioned write needs its input grouped by id, so each id's file
    comes out key-sorted with no second sort."""
    return partition_shuffle(df, key_fields, num_partitions, md5_parity).sortWithinPartitions(
        "partition_id", *key_fields
    )


# ---- driver-side partition id (no Spark job per lookup) ----

_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
)
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def xxhash64_py(data: bytes, seed: int = 42) -> int:
    """Pure-Python XXH64 (same algorithm Spark's `xxhash64` uses; Spark's
    default seed is 42). Lets the driver compute a key's partition id
    without launching a job — the router's key→partition math in-process."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i <= n - 32:
            for vi, off in ((1, 0), (2, 8), (3, 16), (4, 24)):
                lane = int.from_bytes(data[i + off : i + off + 8], "little")
                v = (v1, v2, v3, v4)[vi - 1]
                v = (v + lane * _P2) & _M
                v = _rotl(v, 31)
                v = (v * _P1) & _M
                if vi == 1:
                    v1 = v
                elif vi == 2:
                    v2 = v
                elif vi == 3:
                    v3 = v
                else:
                    v4 = v
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            v = (v * _P2) & _M
            v = _rotl(v, 31)
            v = (v * _P1) & _M
            h = ((h ^ v) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        lane = int.from_bytes(data[i : i + 8], "little")
        k = (lane * _P2) & _M
        k = _rotl(k, 31)
        k = (k * _P1) & _M
        h = (_rotl(h ^ k, 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        lane = int.from_bytes(data[i : i + 4], "little")
        h = (_rotl(h ^ ((lane * _P1) & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def partition_id_py(key_values, num_partitions: int, md5_parity: bool = False) -> int:
    """Driver-side twin of `with_partition_id`: same key serialization
    (string forms joined with 0x00, utf-8), same hash, same mod."""
    import hashlib

    data = "\x00".join(_str_form(v) for v in key_values).encode("utf-8")
    if md5_parity:
        return int.from_bytes(hashlib.md5(data).digest(), "big") % num_partitions
    h = xxhash64_py(data)
    signed = h - (1 << 64) if h >= (1 << 63) else h
    return signed % num_partitions  # Python % is pmod for negative values


def _str_form(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if v is None or isinstance(v, float):
        # Python str() of a float does not match Spark's cast-to-string
        # (1e8 -> '100000000.0' vs Java '1.0E8'), and concat_ws SKIPS null
        # components while a driver-side 'None' would hash them — either
        # would silently route to the wrong partition. The engine detects
        # these types and falls back to stamping with the actual column
        # expression instead.
        raise TypeError(
            "partition_id_py supports int/str/bool key components; "
            "float/null keys route via the column expression"
        )
    return str(v)
