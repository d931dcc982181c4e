"""Change-data-capture stream (R15/§2.5).

Reference: VeniceChangelogConsumer polls ChangeEvent{currentValue,
previousValue} per key with seekable coordinates (beginning / end-of-push /
tail / checkpoint / timestamp)
(clients/da-vinci-client/src/main/java/com/linkedin/davinci/consumer/VeniceChangelogConsumer.java:19-209).

Spark-first: the change stream is a DataFrame of
(key..., before, after, op, ts) rows.
  - Batch edition: lag() window over the op log (cdc_change_events query).
  - Streaming edition: readStream over the update log; each micro-batch
    joins against the serving snapshot to supply `before`, then the snapshot
    advances. Seek-to-timestamp/offset = predicate on ts/offset columns —
    with the log stored ts-partitioned, seeks become partition pruning.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window


def change_events_batch(
    op_log: DataFrame, key_fields: list[str], value_col: str, ts_col: str
) -> DataFrame:
    """Batch CDC: before = previous op's value per key (None for first).
    NULL-op rows are PUTs (hybrid._is_delete convention)."""
    w = Window.partitionBy(*key_fields).orderBy(ts_col)
    if "op" in op_log.columns:
        from venice_spark.streaming.hybrid import _is_delete

        op = F.when(_is_delete(), F.lit("DELETE")).otherwise(F.lit("PUT"))
    else:
        op = F.lit("PUT")
    return op_log.select(
        *key_fields,
        F.col(ts_col),
        op.alias("op"),
        F.when(op != "DELETE", F.col(value_col)).alias("after"),
        F.lag(value_col).over(w).alias("before"),
    )


def version_diff_events(
    spark: SparkSession,
    catalog,
    store: str,
    from_version: int,
    to_version: int,
    value_cols: list[str] | None = None,
) -> DataFrame:
    """CDC across a version swap: change events between two immutable store
    versions — the batch twin of the changelog consumer's VersionSwap
    handling (VeniceChangelogConsumer seeks across swaps and replays the
    post-swap state; docs/.../VeniceChangelogConsumer.java:19-209).

    Returns (key..., op, before, after) where before/after are structs of
    the value columns: op=PUT for keys added or changed in `to_version`
    (before NULL for adds), op=DELETE for keys present in `from_version`
    but absent after the swap. Unchanged keys emit nothing.

    Plan: one full-outer join on the key. Both versions are written with
    the same partitioner and key-sorted files, so at scale this is a
    co-partitioned merge; the null-safe struct comparison is a single JVM
    expression (no Python)."""
    old = catalog.read_version(spark, store, from_version).drop("partition_id")
    new = catalog.read_version(spark, store, to_version).drop("partition_id")
    kf = catalog.get_key_fields(store)
    if value_cols is None:
        value_cols = [c for c in new.columns if c not in kf]
    return snapshot_diff(old, new, kf, value_cols)


def snapshot_diff(
    old: DataFrame, new: DataFrame, key_fields: list[str], value_cols: list[str]
) -> DataFrame:
    """The version-swap diff's dataflow on two arbitrary snapshots (the
    pure core version_diff_events drives against store versions; factored
    out so the registry can certify the math against a SQL oracle —
    x_version_diff)."""
    kf = key_fields
    o = old.select(*kf, F.struct(*value_cols).alias("__old"))
    n = new.select(*kf, F.struct(*value_cols).alias("__new"))
    joined = o.join(n, on=kf, how="full_outer")
    return (
        joined.filter(~F.col("__old").eqNullSafe(F.col("__new")))
        .select(
            *kf,
            F.when(F.col("__new").isNull(), F.lit("DELETE"))
            .otherwise(F.lit("PUT"))
            .alias("op"),
            F.col("__old").alias("before"),
            F.col("__new").alias("after"),
        )
    )


def seek_to_timestamp(change_stream: DataFrame, ts_col: str, start_ts: int) -> DataFrame:
    """seekToTimestamp: only events at/after start_ts."""
    return change_stream.filter(F.col(ts_col) >= F.lit(start_ts))


def seek_to_tail(change_stream: DataFrame, ts_col: str, after_ts: int) -> DataFrame:
    """seekToTail: strictly new events."""
    return change_stream.filter(F.col(ts_col) > F.lit(after_ts))


def seek_to_timestamps(
    change_stream: DataFrame,
    ts_col: str,
    partition_col: str,
    timestamps: dict[int, int],
) -> DataFrame:
    """seekToTimestamps(Map<partition, ts>): per-partition resume points —
    the checkpoint-restart shape (VeniceChangelogConsumer.java:141-149; in
    this engine the event timestamp IS the changelog coordinate, so
    seekToCheckpoint and seekToTimestamps coincide). Partitions not in the
    map are left unfiltered (they continue from wherever the stream is).
    Pure per-row predicate — with a ts- or partition-laid-out log it
    becomes partition pruning."""
    cond = F.lit(True)
    for p, ts in timestamps.items():
        cond = F.when(
            F.col(partition_col) == F.lit(p), F.col(ts_col) >= F.lit(ts)
        ).otherwise(cond)
    return change_stream.filter(cond)


def seek_to_beginning_of_push(
    change_stream: DataFrame,
    ts_col: str,
    catalog,
    store: str,
    ts_scale: float = 1.0,
) -> DataFrame:
    """seekToBeginningOfPush: events at/after the current version's swap
    time — replay everything since the last full push landed
    (VeniceChangelogConsumer.java:113-116). The swap instant comes from the
    version manifest (catalog.commit_version records committed_at epoch
    seconds); `ts_scale` converts to the log's ts unit (1e3 ms, 1e6 µs,
    1e9 ns)."""
    manifest = catalog.version_manifest(store) or {}
    committed = manifest.get("committed_at")
    if committed is None:
        committed = catalog.get_store(store).config.get("version_committed_at")
    if committed is None:
        raise ValueError(
            f"store {store!r} has no recorded version swap time "
            "(no manifest and no version_committed_at config)"
        )
    # compare in LONG space: a float cutoff at nanosecond scale has ~256 ns
    # ulp and would promote the whole ts column to double
    return change_stream.filter(
        F.col(ts_col) >= F.lit(int(float(committed) * ts_scale))
    )


class ChangeCaptureStream:
    """Streaming CDC: emits (key, before, after, op, ts) per micro-batch into
    an output dir, maintaining a snapshot of each key's winning row
    (tombstones kept, as op DELETE) for `before` resolution and for
    dropping rows that arrive stale."""

    def __init__(
        self,
        spark: SparkSession,
        snapshot_dir: str,
        out_dir: str,
        key_fields: list[str],
        value_col: str,
        ts_col: str = "ts",
    ):
        self.spark = spark
        self.snapshot_dir = snapshot_dir
        self.out_dir = out_dir
        self.key_fields = key_fields
        self.value_col = value_col
        self.ts_col = ts_col

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = self.spark
        kf = self.key_fields
        vc, tc = self.value_col, self.ts_col

        # resolve `before` against the current snapshot. Heal a snapshot
        # swap that died between its renames first — the bare except below
        # would otherwise read the absent dir as "no snapshot yet" and emit
        # NULL `before` values for every key (ADVICE r5)
        from venice_spark.streaming.hybrid import (
            _is_delete,
            atomic_swap_dir,
            recover_swap_dir,
            resolve_latest,
        )

        recover_swap_dir(self.snapshot_dir)
        try:
            snap = spark.read.parquet(self.snapshot_dir)
        except Exception:
            snap = None

        batch = batch_df
        if "op" not in batch.columns:
            batch = batch.withColumn("op", F.lit("PUT"))
        # NULL-op rows are PUTs (project convention; a bare op != 'DELETE'
        # filter silently treats them as deletes — hybrid._is_delete)
        batch = batch.withColumn(
            "op", F.when(_is_delete(), F.lit("DELETE")).otherwise(F.lit("PUT"))
        )
        vtype = batch.schema[vc].dataType
        # the snapshot keeps each key's winning row, tombstones included,
        # and a batch row that loses to it by resolve_latest's order (ts,
        # then DELETE wins a tie; an equal-ts pair of one kind goes to the
        # later arrival, as HybridReplay's batch stamp orders it) is stale:
        # it emits no event and leaves the snapshot alone, as the
        # reference's DCR never writes a stale update to the version topic
        if snap is not None:
            if "op" not in snap.columns:  # a snapshot written before tombstones
                snap = snap.withColumn("op", F.lit("PUT"))
            snap = snap.select(*kf, vc, tc, "op")
            prev = snap.select(
                *kf,
                F.when(~_is_delete(), F.col(vc)).alias("__snap_val"),
                F.col(tc).alias("__snap_ts"),
                _is_delete().alias("__snap_del"),
            )
            stale = (F.col("__snap_ts") > F.col(tc)) | (
                (F.col("__snap_ts") == F.col(tc)) & F.col("__snap_del") & ~_is_delete()
            )
            batch = batch.join(prev, on=kf, how="left")
            batch = batch.filter(~F.coalesce(stale, F.lit(False))).drop("__snap_ts", "__snap_del")
        else:
            batch = batch.withColumn("__snap_val", F.lit(None).cast(vtype))

        # within-batch ordering: apply ops per key in ts order. `before` is
        # the PREVIOUS row's post-op state: NULL when the previous op was a
        # delete (the key was absent then — a bare lag(value) would fall
        # through to the snapshot and resurrect the pre-delete value), the
        # snapshot value when there is no previous row at all.
        w = Window.partitionBy(*kf).orderBy(tc)
        seq = batch.withColumn("__prev_op", F.lag("op").over(w)).withColumn(
            "__prev_in_batch", F.lag(vc).over(w)
        )
        before = (
            F.when(F.col("__prev_op").isNull(), F.col("__snap_val"))
            .when(F.col("__prev_op") == "DELETE", F.lit(None).cast(vtype))
            .otherwise(F.col("__prev_in_batch"))
        )
        events = seq.select(
            *kf,
            F.col(tc),
            F.col("op"),
            F.when(F.col("op") != "DELETE", F.col(vc)).alias("after"),
            before.alias("before"),
        )
        events.write.mode("append").parquet(self.out_dir)

        # advance the snapshot: latest op per key by the serving replays'
        # one latest-wins rule (resolve_latest: DELETE beats PUT on an equal
        # ts, then the larger value JSON) — so an equal-ts PUT pair leaves
        # the snapshot holding the value HybridReplay.read() serves. Every
        # row left beats its key's snapshot row, so the winner replaces it.
        latest = resolve_latest(batch.drop("__snap_val"), kf, tc)
        new_rows = latest.select(*kf, F.when(~_is_delete(), F.col(vc)).alias(vc), tc, "op")
        if snap is not None:
            kept = snap.join(latest.select(*kf), on=kf, how="left_anti")
            new_rows = kept.unionByName(new_rows)
        atomic_swap_dir(new_rows, self.snapshot_dir, tag="cdc")

    def start(
        self,
        update_stream: DataFrame,
        checkpoint_dir: str,
        catalog=None,
        store: str | None = None,
    ):
        """Start the change-capture stream. Pass `catalog` + `store` when
        the update stream reads a managed store's RT log: the checkpoint
        dir is then registered as a consumer of that store, so RT
        retention (producer.truncate_rt_log) will not delete files this
        stream has not committed (ADVICE r8 — an unregistered CDC
        checkpoint was invisible to the retention guard)."""
        if catalog is not None and store is not None:
            catalog.register_consumer_checkpoint(store, checkpoint_dir)
        return (
            update_stream.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
