"""Active-active hybrid replay: the RT log merged through the full DCR
kernel with per-key state persisted in the serving table.

Reference: AA ingestion's leader loop reads the stored value + replication
metadata for each incoming RT record, runs MergeConflictResolver.put/
update/delete against it, and writes the resolved record back
(clients/da-vinci-client/.../consumer/ActiveActiveStoreIngestionTask.java:
615,640; resolver MergeConflictResolver.java:45-751). The stored RMD is
what makes late/out-of-order/cross-colo writes deterministic.

Spark-first: the serving table carries (key, __state__, value columns,
__deleted) where __state__ is the serialized RecordState — exactly the
role of the reference's RMD: per-field/per-element timestamp registers
plus the record tombstone. Each micro-batch:

  1. ops join against the prior state of the keys they touch (the log
     resolved for just those keys — untouched keys are never read beyond
     the semi-join);
  2. one applyInPandas fold per touched key: rebuild RecordState from
     JSON, apply the batch's ops through the SAME kernel the batch path
     uses (apply_pdf), re-serialize;
  3. the refreshed rows append to the serving log, stamped above every
     earlier append.

Because every register is a pointwise max, the fold is commutative —
arrival order across micro-batches, colos, or replays cannot change the
final state (Merge.java:27-31), and tombstone registers persist in
__state__ so a stale PUT arriving later cannot resurrect a deleted key.

Reads filter __deleted and drop the state column. UPDATE rows (set_* /
add_* / rem_* / mapadd_* / maprem_* columns from UpdateBuilder) get full
field-level semantics on the streaming path — the same columns
merge_op_log accepts in batch mode.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from venice_spark.catalog import StoreCatalog
from venice_spark.streaming.hybrid import (
    AppendLogReplay,
    recover_swap_dir,
    set_log_schema,
    sweep_leaked_tmps,
)


class ActiveActiveReplay(AppendLogReplay):
    """The AA serving log: hybrid.AppendLogReplay's protocol with a DCR
    fold. Each micro-batch appends ONLY its touched keys' refreshed rows;
    reads resolve latest-`__aa_batch`-wins per key. Unlike the raw hybrid
    log (where stamp order would let a stale PUT beat a fresher row),
    stamp order IS correct here: every refreshed row was folded FROM the
    prior state through the commutative DCR kernel, so a later batch's row
    is authoritative by construction — the registers inside __state__
    carry the cross-batch timestamp truth. Compaction keeps tombstone
    rows: their registers are what stop stale resurrections."""

    stamp_col = "__aa_batch"

    def __init__(
        self,
        spark: SparkSession,
        catalog: StoreCatalog,
        store: str,
        serving_dir: str,
        value_cols: list[str],
        list_fields: set[str] | None = None,
        map_fields: set[str] | None = None,
        ts_col: str = "ts",
        compact_every: int = 16,
    ):
        super().__init__(spark, catalog, store, serving_dir, ts_col, compact_every)
        self.value_cols = list(value_cols)
        self.list_fields = set(list_fields or set())
        self.map_fields = set(map_fields or set())
        # Heal a crash-stranded swap BEFORE probing the layout: between
        # atomic_swap_dir's two renames the serving dir is ABSENT, so an
        # unhealed probe would see no entries and let a retired layout
        # through once a later read heals the dir (ADVICE r6).
        recover_swap_dir(serving_dir)
        sweep_leaked_tmps(serving_dir)
        entries = os.listdir(serving_dir) if os.path.isdir(serving_dir) else []
        if any(e.startswith("__kb=") for e in entries):
            # the retired bucketed layout (partitionBy __kb = key hash %
            # buckets): measured slower than the flat log at every size
            # (SCALE.md round 7) and no longer read or written
            raise ValueError(
                f"serving dir {serving_dir!r} holds the retired bucketed "
                "(__kb=) AA log layout; drop the serving dir and its replay "
                "checkpoint (aa_serve: `aa_serving` and `_aa_checkpoint` in "
                "the store dir) so aa_serve re-seeds it from the current "
                "version and replays the RT log"
            )

    def _registry_types(self) -> dict:
        # the fold writes only this replay's value columns
        reg = super()._registry_types()
        return {c: reg[c] for c in self.value_cols if c in reg}

    # ---- serving-table schema helpers ----
    def _fold_schema(self, ops: DataFrame, snap: DataFrame | None = None) -> "object":
        from pyspark.sql import types as T

        key_schema = ops.select(*self.key_fields).schema
        # a value column absent from THIS micro-batch (e.g. an UPDATE-only
        # batch carrying set_<field> columns) must keep the serving
        # snapshot's real type — a StringType default would Arrow-error or
        # silently widen the serving column on the union-back. _fold_batch
        # passes its already-read snapshot so the footers are not re-listed
        # every trigger (code-review r4).
        snap_types = {}
        try:
            if snap is None:
                snap = self.spark.read.parquet(self.serving_dir)
            snap_types = {f.name: f.dataType for f in snap.schema.fields}
        except Exception:
            pass
        reg = self._registry_types()
        from venice_spark.schema_compat import promotion_target

        value_types = {}
        for c in self.value_cols:
            if c in ops.columns:
                value_types[c] = ops.schema[c].dataType
            elif c in snap_types:
                value_types[c] = snap_types[c]
            else:
                # a value column in neither this batch nor the snapshot —
                # e.g. a just-registered field no op has touched yet: the
                # registry knows its true type (StringType would poison the
                # serving column the moment a real value arrives)
                value_types[c] = reg.get(c, T.StringType())
            # Avro promotion (VERDICT r7 #2): an evolved store can have a
            # WIDER snapshot/registry type than this batch's ops (registry
            # int->long while the RT flushes still carry int). The fold's
            # declared output must hold the prior state's wide values — a
            # narrow ops type would overflow or Arrow-error on the carry-
            # through of an untouched wide value. Widen to the promotion
            # target; genuinely incompatible pairs keep the priority pick
            # (the write-side union raises on those).
            for other in (snap_types.get(c), reg.get(c)):
                if other is not None:
                    wider = promotion_target(value_types[c], other)
                    if wider is not None:
                        value_types[c] = wider
        return T.StructType(
            list(key_schema.fields)
            + [T.StructField("__state__", T.StringType(), True)]
            + [T.StructField(c, value_types[c], True) for c in self.value_cols]
            + [T.StructField("__deleted", T.BooleanType(), False)]
        )

    def seed(self, base: DataFrame, base_ts: int = 0) -> None:
        """Initialize the serving table from a batch version: every row
        becomes a PUT at `base_ts` folded through the kernel, so RT writes
        with higher timestamps win exactly as the reference's batch-then-RT
        precedence dictates."""
        ops = base.select(
            *self.key_fields,
            F.lit("PUT").alias("op"),
            F.lit(base_ts).cast("long").alias(self.ts_col),
            F.lit(0).alias("colo"),
            *[F.col(c) for c in self.value_cols if c in base.columns],
        )
        folded = self._fold_new(ops)
        folded.write.mode("overwrite").parquet(self.serving_dir)
        set_log_schema(self.serving_dir, folded.schema)

    def _fold_new(
        self,
        ops: DataFrame,
        prior: DataFrame | None = None,
        snap: DataFrame | None = None,
    ) -> DataFrame:
        """Fold op rows (optionally carrying a prior __state__ per key) into
        one serving row per key."""
        import pandas as pd

        from venice_spark.merge.dcr import (
            RecordState,
            apply_pdf,
            merge_states,
            record_state_from_json,
            record_state_to_json,
        )

        kf = self.key_fields
        vc = self.value_cols
        lf, mf = self.list_fields, self.map_fields
        ts_col = self.ts_col
        non_key = [c for c in ops.columns if c not in kf + ["op", ts_col, "colo", "__state__"]]
        value_cols = [c for c in non_key if not c.startswith(("set_", "add_", "rem_", "mapadd_", "maprem_"))]
        update_cols = [c for c in non_key if c.startswith(("set_", "add_", "rem_", "mapadd_", "maprem_"))]

        if prior is not None:
            ops = ops.join(
                prior.select(*kf, "__state__"), on=kf, how="left"
            )
        elif "__state__" not in ops.columns:
            ops = ops.withColumn("__state__", F.lit(None).cast("string"))
        out_schema = self._fold_schema(ops, snap=snap)

        def fold(pdf: pd.DataFrame) -> pd.DataFrame:
            keys = {k: pdf[k].iloc[0] for k in kf}
            st = RecordState()
            prior_json = next((s for s in pdf["__state__"] if isinstance(s, str)), None)
            if prior_json is not None:
                merge_states(st, record_state_from_json(prior_json))
            batch = pdf.rename(columns={ts_col: "ts"}) if ts_col != "ts" else pdf
            apply_pdf(st, batch, value_cols, update_cols, lf, mf)
            merged = st.finalize(lf, mf)
            row = {**keys, "__state__": record_state_to_json(st)}
            if merged is None:
                row.update({c: None for c in vc})
                row["__deleted"] = True
            else:
                row.update({c: merged.get(c) for c in vc})
                row["__deleted"] = False
            return pd.DataFrame([row])

        return ops.groupBy(*kf).applyInPandas(fold, schema=out_schema)

    def _fold_batch(self, batch_df: DataFrame) -> DataFrame:
        """The touched keys' refreshed rows. Prior state = the resolved
        log pruned to the batch's keys BEFORE the window (resolution is
        per-key independent, so this is equivalent) — without it the
        window would shuffle the ENTIRE log for a batch-sized probe
        (code-review r5); scanning the log's files is the read
        amplification compact() bounds. One `_raw()` serves the prior
        state and the fold schema — each read re-lists the log dir."""
        raw = self._raw()
        touched = batch_df.select(*self.key_fields).distinct()
        prior = self._resolve(
            raw.join(F.broadcast(touched), on=self.key_fields, how="left_semi")
        )
        return self._fold_new(batch_df, prior=prior, snap=raw)

    def _resolve(self, df: DataFrame) -> DataFrame:
        """One row per key: the latest stamp's refreshed row wins (the fold
        merged prior state, so it is authoritative — see class docstring);
        the stampless seed row sorts oldest."""
        w = Window.partitionBy(*self.key_fields).orderBy(
            F.col(self.stamp_col).desc_nulls_last()
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def read(self) -> DataFrame:
        """Live view: deleted keys filtered, state column dropped."""
        df = self._resolve_log()
        return df.filter(~F.col("__deleted")).select(*self.key_fields, *self.value_cols)
