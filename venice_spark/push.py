"""Batch push job: full-version write with atomic swap, plus incremental
push, compaction, repush and TTL repush.

Mirrors the reference's own Spark data-writer pipeline stage-for-stage
(clients/venice-push-job/src/main/java/com/linkedin/venice/spark/datawriter/jobs/AbstractDataWriterSparkJob.java:886-1000):

  I1 input read            -> spark.read.parquet/avro + select
  I3 record processing     -> values stay native columns (no serialization)
  I7 storage quota         -> persist + size accounting before write
  I4 partition + sort      -> partition_shuffle (shuffle on partition_id)
                              + sortWithinPartitions(partition_id, key)
  I6 duplicate-key policy  -> groupBy(partition_id, key) dedup inside the
                              I4 shuffle; the conflict verdict observed on
                              the I5 write job (no pass of its own)
  I5 partition write       -> write.parquet(version_dir), counts observed
  W8 atomic swap           -> catalog.commit_version (pointer flip)

Scale notes: the only shuffle is the one on the partition id, and its task
count follows spark.sql.shuffle.partitions and AQE coalescing, not the
store's partition count — each id still lands in one task, so each
partition_id=P dir holds one key-sorted file. Dedup happens INSIDE it
(groupBy(partition_id, key) — the shuffle's hash partitioning satisfies
the grouping distribution because partition_id is a pure function of the
key, so Catalyst plans exactly one exchange). A version or slot write is
that shuffle plus one write job. Values are never funneled through
Python.

One version writer: the batch push, compaction and the eager incremental
push all land and commit a version through `_write_version` (the store's
codec and key blooms, declared views, manifest, commit, late-slot sweep,
lost-race report). Compaction and the eager merge fold the slot log the
way the index readers do (`_fold_slots`): base ⟕anti touched keys ∪ the
slots resolved among themselves, so the base crosses one exchange — the
version repartition. Every slot write goes through `_stage_slot`.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import uuid
from collections.abc import Callable
from dataclasses import dataclass
from typing import NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from venice_spark.catalog import (
    StoreCatalog,
    _slot_index,
    bucketed_view_dir,
    drop_tombstones,
    read_partitioned,
)
from venice_spark.catalog import view_dir as _plain_view_dir
from venice_spark.partitioner import partition_shuffle, repartition_and_sort


class DuplicateKeyError(ValueError):
    """Same key pushed with differing values and allow_duplicate_key=False
    (reference: hadoop/task/datawriter/AbstractPartitionWriter.java,
    'allow.duplicate.key' policy)."""


class QuotaExceededError(ValueError):
    """Estimated storage footprint exceeds the store quota
    (reference: AbstractDataWriterSparkJob.java:1022-1052)."""


@dataclass
class PushResult:
    store: str
    version: int
    rows: int
    partitions: int
    path: str
    # set when this push's version lost a concurrent commit race and never
    # became current: the winning (serving) version number. Every
    # committer reports it (batch push, compaction, eager incremental
    # push — the one version writer); a defer_swap push never asked to
    # serve, so it is not a loss. A lost compaction's slots stay on the
    # log it folded. For an eager incremental push the delta was restaged
    # as a lazy slot on the winner
    # (reference semantics: incremental data applies to current and future
    # versions — VenicePushJob.java:919-931; ADVICE r5), so the upserts ARE
    # served; the orphan version stays addressable via set_version.
    # Overlapping-key semantics of the restage: with order_col given, only
    # delta rows at least as fresh as the winner's value for the key are
    # restaged (record-order resolution, matching the reference's
    # timestamp/offset discipline). WITHOUT order_col the restaged slot
    # outranks the winner's base wholesale — i.e. on keys both pushes
    # wrote, the push that lost the commit race wins resolution. Callers
    # racing concurrent pushes over overlapping keys should pass order_col.
    superseded_by: int | None = None


def _fix_empty_partitioned_dir(out: DataFrame, path: str, col: str = "partition_id") -> None:
    """A partitionBy write of an empty frame leaves a dir with no partition
    subdirs (unreadable — no schema anywhere); rewrite plain so the parquet
    footer carries the schema. Post-write directory check instead of a
    pre-write take(1), which would recompute the pipeline's first partition."""
    if not any(e.startswith(f"{col}=") for e in os.listdir(path)):
        out.write.mode("overwrite").parquet(path)


# A dedup aggregation's per-key count of distinct value rows, carried to
# the write that observes it (stage I6) and dropped before the files land.
_DISTINCT = "__distinct_values"


def _observe_write(out: DataFrame, key_fields: list[str]) -> tuple[DataFrame, Observation]:
    """`out` observed on its own write job: the row count and, when `out`
    carries `_DISTINCT`, the I6 verdict — the least key with more than one
    distinct value row, NULL when every key is clean — with the column
    dropped. The check costs no pass of its own: no persist, no separate
    conflict collect (the reference's partition writer applies the policy
    while it writes, AbstractPartitionWriter.java)."""
    obs = Observation()
    metrics = [F.count(F.lit(1)).alias("rows")]
    if _DISTINCT in out.columns:
        conflict = F.when(F.col(_DISTINCT) > 1, F.struct(*key_fields))
        metrics.append(F.min(conflict).alias("conflict"))
    return out.observe(obs, *metrics).drop(_DISTINCT), obs


_DELTA_HINT = " in the delta — pass order_col to resolve them latest-wins"


def _refuse_conflict(conflict, written: str | None = None, hint: str = "") -> None:
    """Raise DuplicateKeyError when an I6 verdict names a conflicting key
    (a Row of the key fields), after removing what a refused write left at
    `written`."""
    if conflict is not None:
        if written is not None:
            shutil.rmtree(written, ignore_errors=True)
        raise DuplicateKeyError(f"key {tuple(conflict)} has conflicting values{hint}")


def _dedup_frame(
    df: DataFrame,
    key_fields: list[str],
    partition_count: int,
    md5p: bool,
    dedup_order_col: str | None,
    check_conflicts: bool,
) -> DataFrame:
    """A batch push's or slot's write frame: I4 partition + I6 dedup +
    sort, fused into ONE shuffle. `partition_shuffle` exchanges on
    partition_id, then the dedup's grouping on (partition_id, key) reuses
    that hash partitioning (partition_id is a pure function of the key),
    so Catalyst plans no second exchange, and first/max_by
    partial-aggregate map-side. This is the reference's own shape: the
    partition writer dedups while iterating the already-partitioned
    sorted reducer stream (AbstractPartitionWriter.java, after
    repartitionAndSortWithinPartitions). With `check_conflicts` the frame
    carries `_DISTINCT` for the write to observe (`_observe_write`)."""
    parted = partition_shuffle(df, key_fields, partition_count, md5p)
    value_cols = [c for c in df.columns if c not in key_fields]
    if not value_cols:
        out = parted.dropDuplicates(["partition_id", *key_fields])  # key-only table
    else:
        if dedup_order_col is not None:
            # an order tie breaks by resolve_latest's value-JSON rule,
            # as an incremental push with order_col does — never by
            # the order rows reach the aggregation
            from venice_spark.streaming.hybrid import value_json

            rest = [c for c in value_cols if c != dedup_order_col]
            order = [F.col(dedup_order_col)] + ([value_json(rest)] if rest else [])
            picked = F.max_by(F.struct(*value_cols), F.struct(*order))
        else:
            picked = F.first(F.struct(*value_cols))
        aggs = [picked.alias("__v")]
        if check_conflicts:
            aggs.append(F.countDistinct(F.struct(*value_cols)).alias(_DISTINCT))
        carried = [_DISTINCT] if check_conflicts else []
        out = parted.groupBy("partition_id", *key_fields).agg(*aggs).select(
            "partition_id", *key_fields, "__v.*", *carried
        )
    # Sort on (partition_id, key): each written file holds ONE pid, so
    # per-file key order is identical to a bare key sort — but this
    # ordering matches what the SortAggregate above already emits, so
    # EliminateSorts removes the node entirely (a bare key sort re-sorts
    # the full partition; pinned by the single-Sort plan test).
    return out.sortWithinPartitions("partition_id", *key_fields)


def check_duplicate_keys(df: DataFrame, key_fields: list[str]) -> DataFrame:
    """Return keys that appear with >1 distinct value row (stage I6 conflict
    check; the standalone consistency-checker surface — MIGRATION.md). Empty
    result == clean input. Key-only tables can never conflict (code-review
    r4: F.struct() with zero columns raised instead)."""
    value_cols = [c for c in df.columns if c not in key_fields]
    if not value_cols:
        return df.groupBy(*key_fields).count().filter(F.lit(False)).drop("count")
    return (
        df.groupBy(*key_fields)
        .agg(F.countDistinct(F.struct(*value_cols)).alias("distinct_values"))
        .filter(F.col("distinct_values") > 1)
    )


def _version_layout(catalog, store: str, version: int, meta) -> tuple[int, bool]:
    """(partition_count, md5_parity) a version was WRITTEN with, from its
    manifest — never the live config: update_store can change either between
    pushes, and mixing layouts silently splits/misses keys (code-review r4
    extended the ADVICE-r3 count check to the partitioner hash)."""
    return manifest_layout(catalog.version_manifest(store, version) or {}, meta)


def manifest_layout(manifest: dict, meta) -> tuple[int, bool]:
    """_version_layout's rule over an already-read manifest: its recorded
    partition count and partitioner, the store config for a manifest that
    predates them."""
    count = int(manifest.get("partition_count", meta.partition_count))
    if "partitioner" in manifest:
        md5p = manifest["partitioner"] == "md5"
    else:
        md5p = bool(meta.config.get("md5_parity", False))
    return count, md5p


def sweep_late_deltas(
    spark: SparkSession,
    catalog: StoreCatalog,
    store: str,
    old_version: int,
    resolved_deltas: set,
    new_version: int,
    key_fields: list[str],
    new_parts: int,
    new_md5p: bool,
) -> None:
    """Carry delta slots that landed on `old_version` after our resolve
    snapshot over to `new_version`'s log (arrival order preserved) — a lazy
    push racing ANY version-producing operation (compaction, eager
    incremental, full batch push) would otherwise be silently lost, because
    retired versions are never read again (code-review r4 generalized
    compact_store's private sweep to every committer). A carried slot is
    restamped when the old and new layouts disagree on EITHER the modulus
    or the partitioner hash; a bare rename is used only when both match.

    Sweep target = whatever version is ACTUALLY current under the store
    lock, not the locally reserved one: when a concurrent push commits a
    newer version first, commit_version early-returns for the loser, and
    sweeping onto the loser's never-served version would strand those
    upserts — the winning (current) version never receives them and the
    old version is no longer read (ADVICE r4, medium)."""
    meta = catalog.get_store(store)
    old_parts, old_md5p = _version_layout(catalog, store, old_version, meta)
    with catalog._locked(store):
        meta = catalog.get_store(store)
        if meta.current_version > new_version:
            new_version = meta.current_version
            new_parts, new_md5p = _version_layout(
                catalog, store, new_version, meta
            )
        late = [
            d
            for d in catalog.list_delta_dirs(store, old_version)
            if d not in resolved_deltas
        ]
        if not late:
            return
        os.makedirs(catalog.deltas_dir(store, new_version), exist_ok=True)
        k = _next_slot_index(catalog.list_delta_dirs(store, new_version))
        # `late` comes back from list_delta_dirs in ARRIVAL order; the
        # carried slots keep their original `_slot_meta.json` arrival
        # sequence (the rename moves it with the dir; the restage copies it
        # before the target becomes visible), so a stranded slot that
        # predates slots already on the target version resolves BELOW them
        # no matter what d{K} name it lands under (ADVICE r6, medium).
        for d in late:
            target = os.path.join(catalog.deltas_dir(store, new_version), f"d{k}")
            if (old_parts, old_md5p) == (new_parts, new_md5p):
                os.rename(d, target)
            else:
                staging, _ = _stage_slot(
                    catalog, store, read_partitioned(spark, d).drop("partition_id"),
                    key_fields, (new_parts, new_md5p),
                )
                side = os.path.join(d, "_slot_meta.json")
                if os.path.exists(side):
                    shutil.copy2(side, os.path.join(staging, "_slot_meta.json"))
                os.rename(staging, target)
                shutil.rmtree(d, ignore_errors=True)
            k += 1


def _next_slot_index(slots: list[str]) -> int:
    """K of the next `d{K}` slot dir on a log holding `slots`."""
    return max((_slot_index(d) for d in slots), default=0) + 1


def _stage_slot(
    catalog: StoreCatalog,
    store: str,
    rows: DataFrame,
    key_fields: list[str],
    layout: tuple[int, bool],
    check_conflicts: bool = False,
) -> tuple[str, int]:
    """Write `rows` (store-shaped, no partition_id) as a slot stamped with
    `layout` — the (partition count, md5 parity) of the version whose log
    it joins — into a fresh staging dir under the store; returns (staging
    dir, rows written). The write dedups `rows` to one per key inside its
    one partition shuffle (`_dedup_frame`); with `check_conflicts` (a lazy
    push without order_col) a key with differing rows is refused on the
    write's observed verdict: the staging dir is removed and
    DuplicateKeyError raised before anything is renamed. Every slot write
    (a lazy push's append, the sweep's restamp) goes through here, and the
    caller renames the dir into its log under the store lock: a crash
    mid-write never leaves a half-written d{K} visible to list_delta_dirs. The stamp MUST match the base's full
    layout (modulus AND hash — code-review r4): the read-side resolve
    groups on (partition_id, key), so a mismatched stamp would split one
    key's base and slot rows (duplicate served rows)."""
    n_parts, md5p = layout
    staging = os.path.join(
        catalog.store_dir(store), f"_delta_staging-{uuid.uuid4().hex}"
    )
    out, obs = _observe_write(
        _dedup_frame(rows, key_fields, n_parts, md5p, None, check_conflicts),
        key_fields,
    )
    out.write.mode("overwrite").partitionBy("partition_id").parquet(staging)
    _fix_empty_partitioned_dir(out, staging)
    # row count and verdict observed on the write job itself — no re-read pass
    metrics = obs.get
    _refuse_conflict(metrics.get("conflict"), staging, _DELTA_HINT)
    return staging, int(metrics["rows"])


def recover_stranded_deltas(
    spark: SparkSession, catalog: StoreCatalog, store: str
) -> int:
    """Heal the crash window between commit_version and sweep_late_deltas:
    a process death there leaves late lazy slots stranded on the retired
    version FOREVER (retired versions are never read, and nothing re-runs
    the sweep). Post-hoc, a leftover slot on the old version is ambiguous
    — resolved slots legitimately remain there for rollback — so every
    committer records its resolved-slot snapshot in the version manifest
    (`swept_from` + `resolved_deltas`), and this function, run at the
    START of every version-producing operation, carries exactly the slots
    NOT in that snapshot. Idempotent: carried slots move off the old
    version, so a second run finds nothing. Also closes the defer_swap
    gap: a deferred version activated later via set_version never ran a
    sweep at all — its manifest makes the late slots recoverable here.
    Returns the number of slots carried."""
    meta = catalog.get_store(store)
    cur = meta.current_version
    if cur <= 0:
        return 0
    # Walk the swept_from lineage from the current version: two stacked
    # crashes strand slots two generations back (the middle version's own
    # sweep never ran, and the current version was built from it without
    # them). Only the LINEAGE manifests are authoritative — an orphan
    # lost-race version's (smaller) resolved set must never trigger a
    # re-carry of slots the winner already folded in, which would regress
    # newer values. Hops process oldest-first so older generations' slots
    # take lower precedence in the target log.
    hops = []
    v, seen = cur, set()
    while v and v > 0 and v not in seen:
        seen.add(v)
        m = catalog.version_manifest(store, v) or {}
        old = m.get("swept_from")
        if not old or old <= 0:
            break
        hops.append((old, set(m.get("resolved_deltas", []))))
        v = old
    carried = 0
    parts, md5p = _version_layout(catalog, store, cur, meta)
    for old, resolved_names in reversed(hops):
        all_slots = catalog.list_delta_dirs(store, old)
        resolved = {
            d for d in all_slots if os.path.basename(d) in resolved_names
        }
        n_late = len(all_slots) - len(resolved)
        if n_late <= 0:
            continue
        sweep_late_deltas(
            spark, catalog, store, old, resolved, cur, meta.key_fields, parts, md5p
        )
        carried += n_late
    return carried


def _write_version(
    spark: SparkSession,
    catalog: StoreCatalog,
    store: str,
    meta,
    out: DataFrame,
    *,
    md5p: bool,
    push_type: str,
    swept_from: int,
    resolved_deltas: list[str],
    views: list | None = None,
    defer_swap: bool = False,
) -> PushResult:
    """Write `out` as a new version of `store` and commit it: the ONE
    version writer behind the batch push, compaction and the eager
    incremental push. `out` carries `partition_id` stamped with the
    store's partition count and `md5p`, already repartitioned on it and
    sorted within partitions. An `out` carrying `_DISTINCT` (the batch
    push's I6 check) is refused on the write's observed verdict before
    the views, the manifest and the commit: the version dir is removed,
    its reserved number stays burnt (as a failed push burns it in the
    reference), and DuplicateKeyError is raised.

    `swept_from` is the version whose slot log the caller snapshotted
    (`resolved_deltas` — folded into `out`, or superseded by a full push);
    the manifest records both so recover_stranded_deltas can tell resolved
    slots from late ones, and after the commit every later slot carries
    over (sweep_late_deltas). `views` default to the store's declared
    views. defer_swap lands the version without flipping the pointer
    (DEFER_VERSION_SWAP, VenicePushJob.java:436 — activate later via
    engine.set_version; the next committer's recovery sweeps for it). The
    result's superseded_by names the serving version when the commit lost
    to a newer one."""
    version = catalog.begin_version(store)
    path = catalog.version_dir(store, version)
    # partition_id as a *directory* partition: point/batch gets prune to
    # one dir (the Spark twin of routing a key to its owning partition),
    # and each dir holds one key-sorted file for rowgroup min/max pruning.
    # Compression strategy is store-level (CompressionStrategy.java:11-13
    # NO_OP/GZIP/ZSTD_WITH_DICT): parquet codec none/gzip/zstd — zstd's
    # trained dictionary is parquet dictionary encoding, built in.
    codec = {"no_op": "none", "gzip": "gzip", "zstd": "zstd"}[
        str(meta.config.get("compression", "zstd")).lower()
    ]
    # manifest row count and I6 verdict observed ON the write job
    # (CollectMetrics) instead of a post-write `written.count()` pass and
    # a pre-write conflict pass — at scale each would be one more sweep
    # of the data (guide §1.4 territory: don't re-run a pass to learn what
    # the pass you just ran already knew)
    out, obs = _observe_write(out, meta.key_fields)
    writer = out.write.mode("overwrite").option("compression", codec)
    # Store config `bloom_filter=True`: write parquet bloom filters on
    # the key columns — the RocksDB-bloom parity for point-get-heavy
    # stores (RocksDBStoragePartition uses block-based bloom filters to
    # skip SSTs; parquet blooms skip rowgroups the min/max stats can't,
    # e.g. high-cardinality string keys where sorted ranges still
    # overlap). Costs ~1 bit-array per rowgroup per key column at write.
    if meta.config.get("bloom_filter"):
        for k in meta.key_fields:
            writer = writer.option(f"parquet.bloom.filter.enabled#{k}", "true")
    writer.partitionBy("partition_id").parquet(path)
    _fix_empty_partitioned_dir(out, path)
    metrics = obs.get
    _refuse_conflict(metrics.get("conflict"), path)

    # W15 views are rebuilt in full from the FILES just written, never
    # from the in-flight `out` (that would re-run the write's shuffle once
    # per view). The read-back is only paid when views exist (guide §6 —
    # metadata passes are real I/O at scale). Measured (SCALE.md, 2M rows
    # / 1k delta): an "incremental" variant — old view minus delta-touched
    # store keys plus projected inserts — was 2x SLOWER than this rebuild:
    # both rewrite the complete view file set, the rebuild's re-projection
    # is already view-sized (column pruning), and the anti-join adds a
    # join stage. A delta that should not pay a view rewrite belongs in
    # the lazy eager=False mode, where view readers fold the slot log.
    views = declared_views(meta) if views is None else views
    if views:
        written = read_partitioned(spark, path)
        for view in views:
            view.write(catalog, store, version, written)
    rows = int(metrics["rows"])

    # W8 atomic swap (+ Version-record manifest, meta/Version.java:1)
    won = catalog.commit_version(
        store,
        version,
        manifest={
            "rows": rows,
            "partition_count": meta.partition_count,
            "partitioner": "md5" if md5p else "xxhash64",
            "push_type": push_type,
            "swept_from": swept_from,
            "resolved_deltas": sorted(os.path.basename(d) for d in resolved_deltas),
        },
        make_current=not defer_swap,
    )
    superseded_by = None
    if not defer_swap:
        if swept_from > 0:
            sweep_late_deltas(
                spark, catalog, store, swept_from, set(resolved_deltas),
                version, meta.key_fields, meta.partition_count, md5p,
            )
        if not won:
            superseded_by = catalog.current_version(store)
    return PushResult(store, version, rows, meta.partition_count, path, superseded_by)


class BatchPushJob:
    """W8: write a DataFrame as a new immutable store version and swap."""

    def __init__(self, catalog: StoreCatalog):
        self.catalog = catalog

    def run(
        self,
        spark: SparkSession,
        store: str,
        df: DataFrame,
        allow_duplicate_key: bool = False,
        dedup_order_col: str | None = None,
        storage_quota_bytes: int | None = None,
        md5_parity: bool | None = None,
        views: list["MaterializedViewDef"] | None = None,
        record_transformer: "RecordTransformer | None" = None,
        validations: list | None = None,
        defer_swap: bool = False,
    ) -> PushResult:
        # heal a predecessor that died between its commit and its sweep
        # (or a defer_swap activation that never swept) BEFORE snapshotting
        recover_stranded_deltas(spark, self.catalog, store)
        meta = self.catalog.get_store(store)
        key_fields = meta.key_fields
        if md5_parity is None:
            # partitioner choice is store-level config (VenicePartitioner is
            # configured per store) so reads recompute the same ids
            md5_parity = bool(meta.config.get("md5_parity", False))

        # W15 view lifecycle: views passed to a push are REGISTERED on the
        # store (the reference keeps viewConfigs on the Store itself), and
        # a push without an explicit list maintains whatever is declared —
        # so incremental pushes, compactions and repushes carry the views
        # forward instead of dropping them with the version swap. An
        # explicit EMPTY list deregisters every view. Registration is
        # deferred until the version's data and view files have landed: a
        # push that fails validation/quota/duplicate-key must not mutate
        # the store's declaration (code-review r4 continuation).
        register_views = None if views is None else list(views)

        # W14: per-record transform/filter during ingestion
        # (DaVinciRecordTransformer.java:44-154)
        if record_transformer is not None:
            df = record_transformer.apply(df)

        if "partition_id" in df.columns:
            # a re-push of store-read data carries the directory column;
            # keeping it would both clobber and duplicate the stamped id
            # (ambiguous-reference failure at the sort — code-review r4)
            df = df.drop("partition_id")

        missing = [k for k in key_fields if k not in df.columns]
        if missing:
            raise ValueError(f"input is missing key fields {missing}")

        # snapshot the serving version's delta log: a lazy push landing a
        # NEW slot while this push runs must be carried onto the new
        # version after the swap, or it is silently lost (code-review r4)
        pre_version = meta.current_version
        pre_deltas = self.catalog.list_delta_dirs(store, pre_version)

        # declarative pre-write quality gate (validation.py): all scalar
        # rules evaluate in ONE aggregation pass; a failed rule aborts the
        # push before any version bytes land — cheaper than the operational
        # answer (rollback) after a garbage push
        if validations:
            from venice_spark.validation import enforce

            enforce(df, validations)

        # I7 storage quota: persist once so the count/size pass is reused by
        # the write; released after the write lands (never leaks into the
        # caller's long-lived session)
        quota_persisted = None
        if storage_quota_bytes is not None:
            df = quota_persisted = df.persist()
            rows = df.count()
            # cheap estimate: sampled avg row width * rows
            sample = df.limit(1000).toPandas()
            est_row_bytes = max(1, int(sample.memory_usage(deep=True).sum() / max(1, len(sample))))
            if est_row_bytes * rows > storage_quota_bytes:
                df.unpersist()
                raise QuotaExceededError(
                    f"~{est_row_bytes * rows} bytes exceeds quota {storage_quota_bytes}"
                )

        out = _dedup_frame(
            df, key_fields, meta.partition_count, md5_parity, dedup_order_col,
            check_conflicts=not allow_duplicate_key and dedup_order_col is None,
        )
        try:
            res = _write_version(
                spark, self.catalog, store, meta, out,
                md5p=md5_parity, push_type="full", swept_from=pre_version,
                resolved_deltas=pre_deltas, views=register_views,
                defer_swap=defer_swap,
            )
        finally:
            # the quota persist must never outlive the push — a
            # DuplicateKeyError/write failure above would otherwise pin
            # data in the caller's session
            if quota_persisted is not None:
                quota_persisted.unpersist()

        # registration lands only after the version COMMITTED: a failure in
        # the count/commit steps above must leave the declaration untouched
        # (code-review r4 continuation — the pre-commit placement still had
        # a mutation window). Each spec is read back from the WRITTEN
        # sidecar so write-time state (e.g. a freshly trained IVF codebook)
        # registers exactly as materialized, without def-object mutation.
        if register_views is not None:
            specs = []
            for v in register_views:
                written_spec = read_view_spec(v.view_dir(self.catalog, store, res.version))
                specs.append((written_spec or v).spec())
            self.catalog.update_store(store, views=specs)
        return res


class RecordTransformer:
    """W14: user hook transforming/filtering each record during ingestion,
    optionally to a different output schema or an external side sink
    (reference: clients/da-vinci-client/.../DaVinciRecordTransformer.java:44,
    123,139,154; DuckDB side-sink example integrations/venice-duckdb/.../
    DuckDBDaVinciRecordTransformer.java).

    Subclass and override `transform` (whole-DataFrame, keeps Catalyst in
    play — preferred) or `transform_record_batches` (Arrow pandas batches for
    imperative logic). Returning fewer rows = filtering.

    Override `sink` to mirror the transformed records into an external side
    store during the push — the DuckDB transformer's processPut writes each
    record into a SQL table as it ingests
    (DuckDBDaVinciRecordTransformer.java processPut/onStartVersionIngestion);
    here the hook receives the whole transformed DataFrame once per push, so
    the side write is a distributed `df.write` (or any client the user
    drives), not a per-record driver loop."""

    output_schema: str | None = None  # required for transform_record_batches

    def transform(self, df: DataFrame) -> DataFrame:  # pragma: no cover - default
        return df

    def transform_record_batches(self, batches):
        raise NotImplementedError

    def sink(self, df: DataFrame) -> None:  # pragma: no cover - default no-op
        """Optional side-sink: called with the transformed DataFrame before
        the version write; exceptions fail the push (the reference aborts
        ingestion when the transformer throws)."""

    def apply(self, df: DataFrame) -> DataFrame:
        try:
            self.transform_record_batches  # overridden?
            has_batches = type(self).transform_record_batches is not RecordTransformer.transform_record_batches
        except AttributeError:  # pragma: no cover
            has_batches = False
        if has_batches:
            if not self.output_schema:
                raise ValueError("transform_record_batches requires output_schema")
            out = df.mapInPandas(self.transform_record_batches, schema=self.output_schema)
        else:
            out = self.transform(df)
        if type(self).sink is not RecordTransformer.sink:
            self.sink(out)
        return out


VIEW_SPEC_FILE = "_view_spec.json"


def _write_view_spec(view_dir: str, spec: dict) -> None:
    """Atomic sidecar write (tmp + os.replace — catalog._write_meta's
    pattern): a crash mid-write must never leave truncated JSON that
    poisons every later spec read of the version. Underscore/dot-prefixed
    names are invisible to Spark's data discovery (like _SUCCESS)."""
    import json as _json
    import os as _os
    import tempfile as _tempfile

    fd, tmp = _tempfile.mkstemp(dir=view_dir, prefix="._spec", suffix=".tmp")
    try:
        with _os.fdopen(fd, "w") as f:
            _json.dump(spec, f)
        _os.replace(tmp, _os.path.join(view_dir, VIEW_SPEC_FILE))
    except BaseException:
        try:
            _os.unlink(tmp)
        except OSError:
            pass
        raise


def read_view_spec(view_dir: str):
    """The WRITTEN view spec of a version's view dir (beats the store-level
    declaration, which can drift after the files land), or None for
    pre-sidecar versions."""
    import json as _json
    import os as _os

    p = _os.path.join(view_dir, VIEW_SPEC_FILE)
    if not _os.path.exists(p):
        return None
    with open(p) as f:
        return view_from_spec(_json.load(f))


class _ViewDef:
    """What every view def shares: the dir a version's view files land in.
    Each def also names its kind (`_label`) and its read endpoint
    (`_reader`) for open_view's errors."""

    _dir = staticmethod(_plain_view_dir)

    def view_dir(self, catalog: StoreCatalog, store: str, version: int) -> str:
        return self._dir(catalog.version_dir(store, version), self.name)


@dataclass
class MaterializedViewDef(_ViewDef):
    """W15: re-partitioned / projected copy maintained at write time
    (internal/venice-common/.../views/MaterializedView.java:22-70,
    projection fields meta/MaterializedViewParameters.java:34).

    View rows always retain the STORE key columns, even under a projection
    — the reference's view records are still full Venice records addressed
    by their original key (the view only re-partitions/projects the value),
    and store-key addressability is what makes incremental maintenance and
    delta-aware view reads possible."""

    name: str
    partition_count: int
    key_fields: list[str]
    projection: list[str] | None = None  # None = all columns

    _label = "materialized view"
    _reader = "store.view_df(...)"

    def spec(self) -> dict:
        """JSON-serializable registration record for the store catalog
        (the reference keeps viewConfigs on the Store — ZKStore)."""
        return {
            "kind": "repartition",
            "name": self.name,
            "partition_count": self.partition_count,
            "key_fields": list(self.key_fields),
            "projection": list(self.projection) if self.projection is not None else None,
        }

    def project(self, df: DataFrame, store_key_fields: list[str]) -> DataFrame:
        """Store-shaped rows -> view-shaped rows (store keys retained)."""
        out = df.drop("partition_id") if "partition_id" in df.columns else df
        if self.projection is not None:
            keep = list(
                dict.fromkeys(
                    self.key_fields + list(store_key_fields) + self.projection
                )
            )
            out = out.select(*keep)
        return out

    def _write_frame(
        self, catalog: StoreCatalog, store: str, version: int, frame: DataFrame
    ) -> None:
        path = self.view_dir(catalog, store, version)
        out = repartition_and_sort(frame, self.key_fields, self.partition_count)
        out.write.mode("overwrite").parquet(path)
        # delta-aware readers need the layout the files ACTUALLY have; the
        # store-level declaration can change after this version lands
        # (deregistration, re-declare) without old versions being rewritten
        _write_view_spec(path, self.spec())

    def write(self, catalog: StoreCatalog, store: str, version: int, df: DataFrame) -> None:
        store_keys = catalog.get_store(store).key_fields
        self._write_frame(catalog, store, version, self.project(df, store_keys))


@dataclass
class BucketedViewDef(_ViewDef):
    """Bucket-table edition of a materialized view (W15): written with
    bucketBy(key) + sortBy(key), so any join or aggregation on the key
    between stores sharing the bucket spec plans with ZERO Exchange on the
    bucketed sides — the Spark-native form of the reference's co-located
    materialized views (MaterializedView.java re-partitions precisely so
    consumers read partition-aligned data; VeniceDelegateMode.java:191
    groups requests by the shared partitioning the same way).

    At 100 TB this is the difference between shuffling both fact tables for
    every store-to-store join and shuffling neither: the bucket files ARE
    the shuffle output, paid once at write time and reused by every
    downstream join/groupBy on the key. The pre-repartition on the key
    hash-aligns tasks with buckets (Spark's bucket id is pmod(murmur3, n),
    identical to repartition(n, key)), so each task writes exactly one
    bucket file instead of up to n_buckets small files per task.

    Registered in the session catalog via saveAsTable with an external
    LOCATION inside the version dir; `read_bucketed_view` re-registers the
    table (CREATE TABLE ... CLUSTERED BY ... LOCATION) in a fresh session,
    so the bucket metadata survives session restarts — on a cluster this is
    a real metastore entry."""

    name: str
    n_buckets: int
    key_fields: list[str]
    projection: list[str] | None = None

    _label = "bucketed view"
    _reader = "push.read_bucketed_view(...)"
    _dir = staticmethod(bucketed_view_dir)

    def spec(self) -> dict:
        return {
            "kind": "bucketed",
            "name": self.name,
            "n_buckets": self.n_buckets,
            "key_fields": list(self.key_fields),
            "projection": list(self.projection) if self.projection is not None else None,
        }

    def table_name(self, store: str, version: int) -> str:
        from venice_spark.catalog import bucketed_view_table_name

        return bucketed_view_table_name(store, self.name, version)

    def write(self, catalog: StoreCatalog, store: str, version: int, df: DataFrame) -> None:
        out = df.drop("partition_id")
        if self.projection is not None:
            # store keys retained for the same addressability reason as
            # MaterializedViewDef.project
            store_keys = catalog.get_store(store).key_fields
            keep = list(
                dict.fromkeys(self.key_fields + list(store_keys) + self.projection)
            )
            out = out.select(*keep)
        spark = out.sparkSession
        tn = self.table_name(store, version)
        spark.sql(f"DROP TABLE IF EXISTS {tn}")
        (
            out.repartition(self.n_buckets, *[F.col(k) for k in self.key_fields])
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(self.n_buckets, *self.key_fields)
            .sortBy(*self.key_fields)
            .option("path", self.view_dir(catalog, store, version))
            .saveAsTable(tn)
        )
        # record the WRITTEN bucket spec: re-registration in a fresh session
        # must use the layout the files actually have, not whatever the
        # caller's (possibly drifted) def now says — Spark trusts the
        # metadata and a mismatch silently drops join matches
        # (code-review r4). Same sidecar format/codec as repartition views.
        _write_view_spec(self.view_dir(catalog, store, version), self.spec())


def read_bucketed_view(
    spark: SparkSession,
    catalog: StoreCatalog,
    store: str,
    view: "BucketedViewDef",
    version: int | None = None,
) -> DataFrame:
    """Read a bucketed view, re-registering its table (with bucket metadata)
    if this session has not seen it — bucketing only takes effect through
    the catalog, a plain parquet read of the same files loses it."""
    import os

    if version is None:
        version = catalog.current_version(store)
    tn = view.table_name(store, version)
    try:
        opened = open_view(catalog, store, view.name, BucketedViewDef, version)
    except ValueError:
        # a catalog entry may survive retirement (retire_old_versions
        # without spark=...) — never trust tableExists over the LOCATION
        spark.sql(f"DROP TABLE IF EXISTS {tn}")
        raise
    path = opened.path
    # validate (and prefer) the WRITTEN spec over the caller's def: a def
    # that drifted since the write would register wrong bucket metadata and
    # silently break co-located joins (code-review r4)
    n_buckets, key_fields = view.n_buckets, view.key_fields
    written_spec = opened.written
    if written_spec is None and os.path.exists(os.path.join(path, "_bucket_spec.json")):
        # legacy pre-unification sidecar
        import json as _json

        with open(os.path.join(path, "_bucket_spec.json")) as f:
            legacy = _json.load(f)
        written_spec = BucketedViewDef(
            name=view.name,
            n_buckets=legacy["n_buckets"],
            key_fields=legacy["key_fields"],
        )
    if written_spec is not None:
        n_buckets, key_fields = written_spec.n_buckets, written_spec.key_fields
        if (n_buckets, key_fields) != (view.n_buckets, view.key_fields):
            import warnings

            warnings.warn(
                f"bucketed view {tn!r}: definition says "
                f"({view.n_buckets}, {view.key_fields}) but the files were "
                f"written with ({n_buckets}, {key_fields}); using the "
                "written spec",
                stacklevel=2,
            )
    if not spark.catalog.tableExists(tn):
        ddl = spark.read.parquet(path).schema.toDDL()
        cols = ", ".join(key_fields)
        sort_cols = ", ".join(key_fields)
        spark.sql(
            f"CREATE TABLE {tn} ({ddl}) USING parquet "
            f"CLUSTERED BY ({cols}) SORTED BY ({sort_cols}) "
            f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
        )
    # Lazy incremental pushes leave bucketed view files stale exactly like
    # materialized views. Resolve the delta log through the view so the
    # data is CORRECT; the union necessarily forfeits the zero-exchange
    # bucketed-join property until compact_store folds the log (documented
    # trade: correctness always, co-location when compacted).
    return fold_view_deltas(
        spark, catalog, store, version, spark.table(tn), f"bucketed view {tn!r}"
    )


@dataclass
class IvfIndexViewDef(_ViewDef):
    """ANN-index edition of a materialized view (W15 shape, north-star
    content): the store's vector column written PARTITIONED BY its IVF
    list id, maintained on every write path like any declared view — the
    100 TB vector-store recipe, where a probe with nprobe lists opens
    nprobe/n_centroids of the directories before reading a single row.

    The coarse quantizer is trained ONCE (on the first write) and then
    persisted inside the spec, so list assignment is STABLE across
    versions: an incremental push or repush re-partitions new data into
    the same lists instead of shifting the layout under serving readers.
    Retrain by re-declaring the view (push with views=[...] and
    centroids=None) when corpus drift degrades recall."""

    name: str
    vec_col: str
    n_centroids: int = 16
    sample_fraction: float = 0.25
    seed: int = 42
    centroids: list | None = None  # learned at first write, then pinned

    _label = "IVF index view"
    _reader = "store.ann_topk(...)"

    def spec(self) -> dict:
        return {
            "kind": "ivf",
            "name": self.name,
            "vec_col": self.vec_col,
            "n_centroids": self.n_centroids,
            "sample_fraction": self.sample_fraction,
            "seed": self.seed,
            "centroids": self.centroids,
        }

    def write(self, catalog: StoreCatalog, store: str, version: int, df: DataFrame) -> None:
        from venice_spark.similarity import ivf_assign, train_ivf_centroids

        out = df.drop("partition_id") if "partition_id" in df.columns else df
        # codebook resolution WITHOUT mutating the caller's def (one def
        # object reused across stores must not pin store A's codebook on
        # store B — code-review r4 continuation): train locally, persist
        # through the sidecar; registration reads the sidecar back.
        cents = self.centroids
        if cents is None:
            cents = train_ivf_centroids(
                out,
                self.vec_col,
                n_centroids=self.n_centroids,
                sample_fraction=self.sample_fraction,
                seed=self.seed,
            )
        out = out.withColumn("ivf_list", ivf_assign(self.vec_col, cents))
        path = self.view_dir(catalog, store, version)
        out.write.mode("overwrite").partitionBy("ivf_list").parquet(path)
        # zero-row write (empty push / TTL repush dropping everything) must
        # stay readable — same guard the base version write uses
        _fix_empty_partitioned_dir(out, path, col="ivf_list")
        spec = self.spec()
        spec["centroids"] = cents
        _write_view_spec(path, spec)


@dataclass
class BandIndexViewDef(_ViewDef):
    """Near-dup-index edition of a materialized view (W15 shape, dedup
    content): the store's text column digested to the persistent MinHash
    LSH band table (dedup.minhash_band_table — (key, band_idx, band_hash)
    rows, `bands` per document) and maintained on every write path. An
    ingest batch then probes the CURRENT version's index
    (store.near_dups_vs) without re-shingling history: the md5/minhash
    chain runs once per document EVER, and the candidate join shuffles
    batch-sized band rows while the index is probed in place — the 100 TB
    incremental-dedup recipe as a first-class store feature.

    Index parameters are pinned in the spec AND written as constant
    columns (minhash_band_table), so probes assert parity before joining —
    a probe digested with different parameters yields disjoint band hashes
    and would otherwise silently report zero near-duplicates. Rows carry
    the store key, which keeps the index delta-resolvable (near_dups_vs
    drops delta-touched keys and re-bands their current text on the fly)."""

    name: str
    text_col: str
    num_hashes: int = 16
    bands: int = 4
    shingle_n: int = 3

    _label = "band index view"
    _reader = "store.near_dups_vs(...)"

    def spec(self) -> dict:
        return {
            "kind": "band_index",
            "name": self.name,
            "text_col": self.text_col,
            "num_hashes": self.num_hashes,
            "bands": self.bands,
            "shingle_n": self.shingle_n,
        }

    def write(self, catalog: StoreCatalog, store: str, version: int, df: DataFrame) -> None:
        from venice_spark.dedup import minhash_band_table

        meta = catalog.get_store(store)
        if len(meta.key_fields) != 1:
            raise ValueError(
                "band index views need a single-field store key "
                f"(store {store!r} has {meta.key_fields})"
            )
        kid = meta.key_fields[0]
        out = df.drop("partition_id") if "partition_id" in df.columns else df
        if self.text_col not in out.columns:
            raise ValueError(
                f"band index view {self.name!r}: store {store!r} has no "
                f"column {self.text_col!r}"
            )
        bands_df = minhash_band_table(
            out, self.text_col, kid,
            num_hashes=self.num_hashes, bands=self.bands, shingle_n=self.shingle_n,
        )
        path = self.view_dir(catalog, store, version)
        bands_df.write.mode("overwrite").parquet(path)
        _write_view_spec(path, self.spec())


def view_from_spec(spec: dict) -> "MaterializedViewDef | BucketedViewDef | IvfIndexViewDef | BandIndexViewDef":
    """Inverse of the view defs' spec() methods."""
    kind = spec.get("kind", "repartition")
    if kind == "band_index":
        return BandIndexViewDef(
            name=spec["name"],
            text_col=spec["text_col"],
            num_hashes=int(spec["num_hashes"]),
            bands=int(spec["bands"]),
            shingle_n=int(spec["shingle_n"]),
        )
    if kind == "ivf":
        return IvfIndexViewDef(
            name=spec["name"],
            vec_col=spec["vec_col"],
            n_centroids=int(spec["n_centroids"]),
            sample_fraction=float(spec["sample_fraction"]),
            seed=int(spec["seed"]),
            centroids=spec.get("centroids"),
        )
    if kind == "repartition":
        return MaterializedViewDef(
            name=spec["name"],
            partition_count=int(spec["partition_count"]),
            key_fields=list(spec["key_fields"]),
            projection=list(spec["projection"]) if spec.get("projection") is not None else None,
        )
    if kind == "bucketed":
        return BucketedViewDef(
            name=spec["name"],
            n_buckets=int(spec["n_buckets"]),
            key_fields=list(spec["key_fields"]),
            projection=list(spec["projection"]) if spec.get("projection") is not None else None,
        )
    raise ValueError(f"unknown view kind {kind!r}")


def declared_views(meta) -> "list[MaterializedViewDef | BucketedViewDef]":
    """Views registered on the store (config['views'] — the Spark twin of
    the reference's store-level viewConfigs, ZKStore). Every write path
    that lands a version maintains these, so views survive incremental
    pushes, compactions and repushes instead of silently vanishing with
    the version swap."""
    return [view_from_spec(s) for s in meta.config.get("views", [])]


def declared_view(meta, name: str, kind: type) -> "_ViewDef | None":
    """The store-level declaration of view `name` as a `kind`, or None."""
    return next(
        (d for d in declared_views(meta) if d.name == name and isinstance(d, kind)),
        None,
    )


class OpenView(NamedTuple):
    version: int
    path: str
    written: "_ViewDef | None"  # the sidecar; None on pre-sidecar versions
    spec: "_ViewDef | None"  # effective spec of the wanted kind


def open_view(
    catalog: StoreCatalog,
    store: str,
    name: str,
    kind: type,
    version: int | None = None,
) -> OpenView:
    """The ONE way a reader opens a version's (default: current) view:
    the dir, its existence, the WRITTEN sidecar and the effective spec.
    The sidecar matches the FILES and beats the store-level declaration,
    which can change after a version landed (deregistration, re-declare,
    retraining) without its files being rewritten; on a pre-sidecar
    version the declared view of the wanted kind stands in, and the spec
    is None when neither exists (the view was since deregistered). A view
    written as another kind is refused and pointed at its own reader —
    e.g. an IVF layout served through the generic reader would hand out
    delta rows with a NULL/stale ivf_list, and a band table's `bands` rows
    per key would collapse under latest-wins."""
    import os

    v = version if version is not None else catalog.current_version(store)
    path = kind._dir(catalog.version_dir(store, v), name)
    if not os.path.isdir(path):
        raise ValueError(
            f"store {store} v{v} has no {kind._label} {name!r}: the version "
            "was retired or never wrote this view"
        )
    written = read_view_spec(path)
    if written is not None and not isinstance(written, kind):
        raise ValueError(
            f"view {name!r} of store {store} was written as a "
            f"{written._label!r}, not a {kind._label!r} — query it with "
            f"{written._reader}"
        )
    spec = (
        written if written is not None
        else declared_view(catalog.get_store(store), name, kind)
    )
    return OpenView(v, path, written, spec)


def fold_view_deltas(
    spark: SparkSession,
    catalog: StoreCatalog,
    store: str,
    version: int,
    view: DataFrame,
    what: str,
) -> DataFrame:
    """Whole-view latest-wins: resolve the version's lazy-delta log (lazy
    incremental pushes append to it without touching view files) through
    `view` with the one slot fold (`_fold_slots`), keyed per STORE key —
    view rows retain the store keys precisely for this — and the latest
    store-shaped slot rows projected down to the view's columns. The
    view's own routing column (partition_id) does not survive a fold;
    without deltas `view` comes back as is."""
    deltas = catalog.list_delta_dirs(store, version)
    if not deltas:
        return view
    keys = list(catalog.get_store(store).key_fields)
    if any(k not in view.columns for k in keys):
        raise ValueError(
            f"{what} of store {store} predates store-key retention and cannot "
            "resolve a delta log — run push.compact_store to fold the deltas "
            "and rewrite the view"
        )
    cols = [c for c in view.columns if c != "partition_id"]
    kept, latest = _fold_slots(spark, view.select(*cols), deltas, keys)
    return kept.unionByName(
        latest.select(*[c for c in cols if c in latest.columns]),
        allowMissingColumns=True,
    )


def _fold_slots(
    spark: SparkSession,
    base: DataFrame,
    slots: list[str],
    keys: list[str],
    top: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The one slot fold — compaction, the eager merge and the index
    readers all resolve a slot log here. Returns (kept, latest): `base`
    minus every key a slot (or `top`, an in-flight prepared delta that
    outranks them all) touched, and each touched key's latest row with
    tombstones dropped. For a touched key the latest slot row IS its
    current row (slots outrank the base), so latest-wins resolves among
    the slots alone — a delta-sized window, never a corpus rescan — and
    the base meets only a broadcast left-anti join: no exchange, sort or
    window touches it (a windowed merge would shuffle AND sort 100 TB to
    override 0.01% of its keys). A slot holds one row per key, so a lone
    log needs no window. Schema-narrow slots are full-value upserts:
    their missing columns null-fill. Keys are the full store key list."""
    # one read PER SLOT DIR: a multi-path read over partition_id-
    # partitioned sibling dirs raises CONFLICTING_DIRECTORY_STRUCTURES
    logs = [read_partitioned(spark, d).drop("partition_id") for d in slots]
    if top is not None:
        logs.append(top)
    touched = functools.reduce(
        DataFrame.unionByName, [log.select(*keys) for log in logs]
    )
    kept = base.join(F.broadcast(touched), on=keys, how="left_anti")
    if len(logs) == 1:
        return kept, drop_tombstones(logs[0])
    latest = StoreCatalog._resolve_delta_view(
        spark, logs[0].limit(0), logs, keys, window_keys=keys
    )
    return kept, latest


def fold_index_deltas(
    spark: SparkSession,
    catalog: StoreCatalog,
    store: str,
    version: int,
    index: DataFrame,
    value_col: str,
    rederive: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Index fold (`_fold_slots`): every delta-touched store key leaves
    `index` (its value may have moved lists, changed or been deleted — a
    stale row must never serve), and the touched keys' CURRENT rows come
    back re-derived by `rederive` (store-shaped rows in, index-shaped rows
    out; columns it does not produce null-fill). A NULL or absent
    `value_col` only masks its base rows. Without deltas `index` comes
    back as is."""
    deltas = catalog.list_delta_dirs(store, version)
    if not deltas:
        return index
    keys = list(catalog.get_store(store).key_fields)
    out, latest = _fold_slots(spark, index, deltas, keys)
    if value_col not in latest.columns:
        return out
    fresh = rederive(latest.filter(F.col(value_col).isNotNull()))
    return out.unionByName(
        fresh.select(
            *[
                F.col(f.name) if f.name in fresh.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in index.schema.fields
            ]
        )
    )


def _prepare_delta(
    delta: DataFrame,
    key_fields: list[str],
    order_col: str | None,
    nulls_as_deletes: bool,
    lazy: bool,
) -> DataFrame:
    """One row per key, tombstones marked: the canonical delta shape.

    nulls_as_deletes: ETL-shaped inputs encode deletes as null values
    (union[null, T] — etl/UnionValueWithNull.avsc, TestBatch.java:768-791);
    a delta row whose value columns are all NULL tombstones its key.

    With `order_col` the highest value wins per key and equal values break
    ties by streaming.hybrid.resolve_latest's rule (the larger canonical
    JSON of the value columns), so one delta always resolves the same way.
    Without it a key's rows must be identical: conflicting values raise
    DuplicateKeyError, the batch push's I6 policy. For a `lazy` push that
    dedup and check are left to the slot write, which runs them inside
    its partition shuffle and observes the verdict on its own job
    (`_stage_slot`); the eager merge, whose delta feeds its fold twice,
    runs them here as one delta-sized aggregation and a check collect.
    The base is never read."""
    if nulls_as_deletes:
        vcols = [c for c in delta.columns if c not in key_fields and c != order_col]
        is_del = F.lit(True)
        for c in vcols:
            is_del = is_del & F.col(c).isNull()
        delta = delta.withColumn("__del", is_del)
    if order_col is not None:
        from venice_spark.streaming.hybrid import resolve_latest

        return resolve_latest(delta, key_fields, order_col)
    if lazy:
        return delta
    value_cols = [c for c in delta.columns if c not in key_fields]
    if not value_cols:
        return delta.dropDuplicates(key_fields)  # key-only rows never conflict
    grouped = delta.groupBy(*key_fields).agg(
        F.first(F.struct(*value_cols)).alias("__v"),
        F.countDistinct(F.struct(*value_cols)).alias(_DISTINCT),
    )
    conflict = (
        grouped.filter(F.col(_DISTINCT) > 1)
        .select(*key_fields)
        .limit(1)
        .collect()
    )
    _refuse_conflict(conflict[0] if conflict else None, hint=_DELTA_HINT)
    return grouped.select(*key_fields, "__v.*")


def _append_delta_slot(
    spark: SparkSession,
    catalog: StoreCatalog,
    store: str,
    delta: DataFrame,
    key_fields: list[str],
    check_conflicts: bool = False,
) -> tuple[int, str, int, int]:
    """Append a delta (`__del` tombstones marked) as the next lazy slot on
    the store's CURRENT version; returns (version, slot_path, rows,
    total_slots_on_version). The staging write dedups it to one row per
    key; with `check_conflicts` a key with differing rows is refused
    before the slot is renamed into the log.

    Staged by `_stage_slot`, then renamed to its log slot while holding
    the store lock: readers (list_delta_dirs matches only complete d{K}
    names) never observe a half-written delta, and two concurrent lazy
    pushes never claim the same K — each appends its own slot, ordered by
    whoever locks first (the reference serializes incremental pushes per
    store through the controller the same way). Shared by the lazy push
    mode and the eager push's lost-race restage (ADVICE r5)."""
    meta = catalog.get_store(store)
    cur = meta.current_version
    if cur <= 0:
        raise ValueError(f"store {store!r} has no current version to delta onto")
    staged_layout = _version_layout(catalog, store, cur, meta)
    staging, rows = _stage_slot(
        catalog, store, delta, key_fields, staged_layout, check_conflicts
    )
    with catalog._locked(store):
        # re-resolve the CURRENT version under the lock: the staging
        # write can take minutes, and a concurrent compact/eager/batch
        # push may have committed a new version since `cur` was read —
        # renaming into the old version's delta log would silently lose
        # this push (retired versions are never read again). A delta is
        # pure upsert data, so landing it on whatever is current now
        # preserves the caller's intent exactly.
        cur = catalog.get_store(store).current_version
        target_layout = _version_layout(catalog, store, cur, meta)
        if target_layout != staged_layout:
            # rare: the new current version was written with a
            # different layout — restage to match it (the first staging
            # write already passed the I6 verdict)
            shutil.rmtree(staging, ignore_errors=True)
            staging, rows = _stage_slot(
                catalog, store, delta, key_fields, target_layout
            )
        existing = catalog.list_delta_dirs(store, cur)
        # Arrival sequence sidecar: precedence metadata rides INSIDE the
        # slot (written before the rename, so it is atomic with the slot's
        # visibility) and survives a carry to a later version unchanged —
        # see StoreCatalog.list_delta_dirs for why index order is not
        # precedence (ADVICE r6, medium).
        seq = catalog.next_arrival_seq(store)
        with open(os.path.join(staging, "_slot_meta.json"), "w") as f:
            json.dump({"seq": seq}, f)
        os.makedirs(catalog.deltas_dir(store, cur), exist_ok=True)
        dpath = os.path.join(
            catalog.deltas_dir(store, cur), f"d{_next_slot_index(existing)}"
        )
        os.rename(staging, dpath)
    return cur, dpath, rows, len(existing) + 1


def incremental_push(
    spark: SparkSession,
    catalog: StoreCatalog,
    store: str,
    delta: DataFrame,
    order_col: str | None = None,
    nulls_as_deletes: bool = False,
    eager: bool = True,
) -> PushResult:
    """W9: apply a keyed delta onto the current version's content.

    The reference applies incremental-push records in place on the current
    version (VenicePushJob.java:919-931). Two Spark-first materializations:

    eager=True (default): fold the current version — base, pending lazy
    slots, and the delta on top — into a NEW version dir (compact_store's
    fold, `_fold_slots`) and flip the catalog pointer — atomic (os.replace
    of store.json), a crash mid-push never loses the previous snapshot.
    The base meets only a BROADCAST LEFT-ANTI join on the touched keys +
    union: the delta is tiny relative to the base, so the base side is
    never shuffled or sorted for the merge — only the unavoidable
    repartition for the version write remains.

    eager=False: LSM shape — append the delta to the current version's
    delta log (catalog.deltas_dir) WITHOUT touching the base; reads resolve
    base ∪ deltas latest-wins (StoreCatalog._resolve_delta_view) and
    compaction is deferred to compact_store / the `delta_compact_threshold`
    store config (default 8). At 100 TB an incremental push then costs
    delta-sized I/O, not a full rewrite.

    A delta holding one key with conflicting values needs `order_col`
    (see _prepare_delta); without it the push raises DuplicateKeyError."""
    # heal a predecessor that died between commit and sweep first — the
    # eager path's slot snapshot must include recovered slots
    recover_stranded_deltas(spark, catalog, store)
    meta = catalog.get_store(store)
    key_fields = meta.key_fields
    delta = _prepare_delta(delta, key_fields, order_col, nulls_as_deletes, lazy=not eager)

    if not eager:
        cur, dpath, rows, n_slots = _append_delta_slot(
            spark, catalog, store, delta, key_fields, check_conflicts=order_col is None
        )
        threshold = int(meta.config.get("delta_compact_threshold", 8))
        if n_slots >= threshold:
            return compact_store(spark, catalog, store)
        return PushResult(store, cur, rows, meta.partition_count, dpath)

    res = _fold_version(spark, catalog, store, "incremental", top=delta)
    if res.superseded_by is None:
        return res
    # Lost the commit race: a concurrent push committed a newer version
    # first, so this push's merged snapshot never serves and its upserts
    # lived only in the orphan version (reachable via set_version).
    # Reference semantics apply incremental data to current AND future
    # versions (VenicePushJob.java:919-931), so restage the delta —
    # tombstones included — as a lazy slot on the version actually serving
    # (ADVICE r5). The restage only fires on a commit-time LOSS: after a
    # won commit, a later winner's base already contains these rows, and
    # re-appending them could regress the later push's fresher values.
    #
    # Freshness on overlapping keys (ADVICE r6, low): a restaged slot
    # outranks the winner's base unconditionally, which would let the race
    # LOSER override the winner regardless of record order. When the
    # caller supplied order_col (the reference's record timestamp/offset —
    # ActiveActiveStoreIngestionTask resolves concurrent writes by it,
    # never by commit order), the restage keeps only delta rows at least as
    # fresh as the winner's current value for that key (>= : the
    # incremental write wins ties, same as put's last-writer-wins). Without
    # order_col there is nothing to compare, and the restage keeps the
    # documented last-RESTAGED-wins semantics (see PushResult.superseded_by).
    restage = delta
    if order_col is not None and order_col in restage.columns:
        winner = catalog.read_current(spark, store)
        if order_col in winner.columns:
            cur_ord = (
                winner.join(
                    F.broadcast(restage.select(*key_fields).distinct()),
                    on=key_fields,
                    how="left_semi",
                ).select(
                    *key_fields, F.col(order_col).alias("__winner_ord")
                )
            )
            # NULL-order delta rows stay restageable (ADVICE r7, low): the
            # non-racing path applies an unordered upsert unconditionally
            # (the slot outranks the base by arrival), so losing the commit
            # race must not silently drop it — NULL >= __winner_ord would
            # evaluate to NULL and fail the filter. An unordered row
            # therefore restages even on a contested key, keeping racing
            # and non-racing outcomes identical for writers that never
            # supplied order_col values.
            restage = (
                restage.join(F.broadcast(cur_ord), on=key_fields, how="left")
                .filter(
                    F.col("__winner_ord").isNull()
                    | F.col(order_col).isNull()
                    | (F.col(order_col) >= F.col("__winner_ord"))
                )
                .drop("__winner_ord")
            )
    if restage.limit(1).count() > 0:
        _append_delta_slot(spark, catalog, store, restage, key_fields)
    return res


def compact_store(spark: SparkSession, catalog: StoreCatalog, store: str) -> PushResult:
    """Fold the current version's delta log into a new compacted version and
    flip the pointer (the lazy half of eager=False incremental pushes —
    RocksDB compaction's role in the reference's storage tier). The fold
    (`_fold_slots`) resolves latest-wins exactly as readers do, so
    compaction never changes observable content, only read cost. A
    compaction that loses its commit to a newer version reports it in
    superseded_by; the slots it folded stay on their log."""
    recover_stranded_deltas(spark, catalog, store)
    return _fold_version(spark, catalog, store, "compaction")


def _fold_version(
    spark: SparkSession,
    catalog: StoreCatalog,
    store: str,
    push_type: str,
    top: DataFrame | None = None,
) -> PushResult:
    """Compaction and the eager merge: the serving version's base with its
    slot log — and `top`, the eager push's prepared delta, over it — folded
    by `_fold_slots` into a new version (`_write_version`). The slots listed
    here are exactly the ones folded, so the manifest's resolved set
    matches the content and every later slot carries over."""
    meta = catalog.get_store(store)
    old = meta.current_version
    if old <= 0:
        raise ValueError(f"store {store!r} has no current version")
    slots = catalog.list_delta_dirs(store, old)
    merged = catalog.read_version(spark, store, old).drop("partition_id")
    if slots or top is not None:
        kept, latest = _fold_slots(spark, merged, slots, meta.key_fields, top)
        merged = kept.unionByName(latest, allowMissingColumns=True)
    md5p = bool(meta.config.get("md5_parity", False))
    out = repartition_and_sort(merged, meta.key_fields, meta.partition_count, md5p)
    return _write_version(
        spark, catalog, store, meta, out, md5p=md5p, push_type=push_type,
        swept_from=old, resolved_deltas=slots,
    )


def repush(
    spark: SparkSession,
    catalog: StoreCatalog,
    store: str,
    ttl_seconds: int | None = None,
    now_ts: int | None = None,
    ts_col: str = "_rmd_ts",
    ttl_start_timestamp: int | None = None,
) -> PushResult:
    """W10/W11: re-materialize a store from its own current version
    (compaction / cluster migration), optionally dropping expired records
    (hadoop/input/kafka/ttl/VeniceKafkaInputTTLFilter.java,
    spark/input/kafka/ttl/SparkKafkaInputTTLFilter.java). TTL comes in the
    reference's two flavors (docs/operations/data-management/ttl.md):
    `ttl_seconds` (repush.ttl.seconds — records older than now - ttl
    expire) or `ttl_start_timestamp` (repush.ttl.start.timestamp — records
    written before the timestamp expire)."""
    # read_current materializes the slot list NOW, so stranded late slots
    # must be recovered before the snapshot (job.run's own recovery would
    # run after this frame was built and mark them resolved — lost)
    recover_stranded_deltas(spark, catalog, store)
    meta = catalog.get_store(store)
    df = catalog.read_current(spark, store)
    if ttl_seconds is not None and ttl_start_timestamp is not None:
        raise ValueError("set ttl_seconds or ttl_start_timestamp, not both")
    cutoff = None
    if ttl_seconds is not None:
        if now_ts is None:
            raise ValueError("TTL repush requires explicit now_ts for determinism")
        cutoff = now_ts - ttl_seconds
    elif ttl_start_timestamp is not None:
        cutoff = ttl_start_timestamp
    if cutoff is not None:
        if ts_col not in df.columns:
            raise ValueError(f"TTL repush requires timestamp column {ts_col!r}")
        df = df.filter(F.col(ts_col) >= F.lit(cutoff))
    job = BatchPushJob(catalog)
    return job.run(spark, store, df.drop("partition_id"), allow_duplicate_key=True)


def empty_push(
    spark: SparkSession,
    catalog: StoreCatalog,
    store: str,
) -> PushResult:
    """The reference's "empty push" TTL/compliance pattern
    (docs/operations/data-management/ttl.md: a new version with NO batch
    data; for hybrid stores the real-time buffer then replays with the
    store's rewind window, so everything older than the rewind ages out).
    Lands a zero-row version with the current schema and swaps — O(1)
    data work; follow with `hybrid_serve`/`aa_serve` to refill from the
    RT log."""
    df = catalog.read_current(spark, store).drop("partition_id").limit(0)
    job = BatchPushJob(catalog)
    return job.run(spark, store, df, allow_duplicate_key=True)
