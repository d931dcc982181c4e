"""VeniceSparkEngine — the top-level facade tying catalog, push, and reads.

Usage:
    engine = VeniceSparkEngine(spark, root="/data/venice")
    engine.create_store("members", key_fields=["id"])
    engine.push("members", df)                       # W8 batch push + swap
    store = engine.store("members")
    store.get("42")                                  # R1
    store.batch_get(["1", "2"])                      # R2
    store.compute().project("name").dot_product(...).execute(keys)  # R4-R10
    store.aggregate().count_group_by_value(5, "field")              # R11

The router/server tier of the reference collapses away: a "get" is a
broadcast semi-join against the current version's sorted parquet, served by
the cluster (reference lifecycle: docs/contributing/architecture/read-path;
StorageReadRequestHandler.java:539,699).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Row, SparkSession

from venice_spark.catalog import StoreCatalog
from venice_spark.compute import ComputeAggregationBuilder, ComputeRequestBuilder
from venice_spark.push import (
    BandIndexViewDef,
    BatchPushJob,
    IvfIndexViewDef,
    MaterializedViewDef,
    PushResult,
    compact_store,
    declared_view,
    fold_index_deltas,
    fold_view_deltas,
    incremental_push,
    open_view,
    repush,
)


class StoreHandle:
    def __init__(self, engine: "VeniceSparkEngine", name: str):
        self.engine = engine
        self.name = name
        self.spark = engine.spark
        self.catalog = engine.catalog

    # ---- raw frames ----
    def df(self, version: int | None = None) -> DataFrame:
        """The store's content — delta-resolved for BOTH the current and a
        pinned version: a version's content includes its lazy-delta log
        (caught by the ingest lifecycle fuzzer: df(current_version) used to
        take the raw read_version path and silently drop/stale every
        delta-touched row, e.g. in an export). Raw file access is
        catalog.read_version.

        Reader-schema resolution (r8): the reference deserializes every
        read with the LATEST registered value schema
        (schema/SchemaEntry.java — a client sees `count long` the moment
        the promotion registers, old data included), so this surface
        widens registry-promoted columns on read and null-fills
        registry-added columns the version's files predate. Pure
        projection: the casts fold into the scan, no rewrite."""
        if version is None:
            out = self.catalog.read_current(self.spark, self.name)
        else:
            base = self.catalog.read_version(self.spark, self.name, version)
            deltas = self.catalog.list_delta_dirs(self.name, version)
            if deltas:
                base = self.catalog._resolve_delta_view(
                    self.spark, base, deltas, self.key_fields
                )
            out = base
        return self._resolve_reader_schema(out)

    def _resolve_reader_schema(self, df: DataFrame) -> DataFrame:
        """Resolve a batch read against the latest registered value schema:
        a column whose registry type is an Avro PROMOTION of the file type
        widens (int→long, float→double, string↔bytes — the same lattice
        union_log_fields resolves on the serving logs); a registry column
        absent from the files null-fills (defaulted add). Genuinely
        incompatible registry types leave the file type untouched — the
        files are ground truth on read, and a true retype migrates through
        `admin compact --cast` / the next push."""
        from venice_spark.streaming.hybrid import (
            registered_value_types,
            resolve_registry_reader,
        )

        return resolve_registry_reader(
            df, registered_value_types(self.catalog, self.name)
        )

    @property
    def key_fields(self) -> list[str]:
        return self.catalog.get_key_fields(self.name)

    def _served_partition_count(self) -> int:
        return self._served_layout()[0]

    def _served_layout(self) -> tuple[int, bool]:
        """(partition_count, md5_parity) of the version BEING SERVED (its
        manifest), not the live store config: update_store changes apply
        from the next push, so routing reads with the new modulus — or the
        new partitioner hash (code-review r4) — against data stamped with
        the old one would silently miss every key."""
        from venice_spark.push import _version_layout

        meta = self.engine.catalog.get_store(self.name)
        return _version_layout(
            self.engine.catalog,
            self.name,
            self.engine.catalog.current_version(self.name),
            meta,
        )

    @staticmethod
    def _py_routable(key_tuples) -> bool:
        """True when every key component is int/str/bool — the types whose
        Python str() is byte-identical to Spark's cast-to-string, so the
        driver-side hash twin is exact. Floats (Java '1.0E8' vs Python
        '100000000.0') and nulls (concat_ws skips them) must route through
        the real column expression instead."""
        return all(
            isinstance(c, (int, str)) for kt in key_tuples for c in kt
        )

    def _keys_with_pid(self, keys: Sequence[Any]) -> tuple[DataFrame, list[int]]:
        """Key DataFrame stamped with each key's partition id — the router's
        key→partition math (VeniceDelegateMode.java:191). For int/str keys
        this is computed DRIVER-side with the pure-Python twin of the
        partitioner (partition_id_py, parity-tested against the column
        expression) so no Spark job is spent on routing; other key types
        fall back to stamping with the actual column expression (one tiny
        local job over the key rows). The ids drive directory pruning."""
        from venice_spark.partitioner import partition_id_py, with_partition_id

        n_parts, md5p = self._served_layout()
        kf = self.key_fields
        kts = [((k,) if len(kf) == 1 else tuple(k)) for k in keys]
        import pyspark.sql.types as T

        if self._py_routable(kts):
            rows = [(*kt, partition_id_py(kt, n_parts, md5p)) for kt in kts]
            schema = self.df().select(*kf).schema.add(
                "partition_id", T.IntegerType(), False
            )
            kdf = self.spark.createDataFrame(rows, schema=schema)
            return kdf, sorted({r[-1] for r in rows})
        base = self.spark.createDataFrame(kts, schema=self.df().select(*kf).schema)
        kdf = with_partition_id(base, kf, n_parts, md5p)
        pids = sorted(
            r[0] for r in kdf.select("partition_id").distinct().collect()
        )
        return kdf, pids

    # ---- R1 single get ----
    def get(self, key: Any) -> Row | None:
        from venice_spark.partitioner import partition_id_py

        kf = self.key_fields
        key_tuple = (key,) if len(kf) == 1 else tuple(key)
        if self._py_routable([key_tuple]):
            n_parts, md5p = self._served_layout()
            pid = partition_id_py(key_tuple, n_parts, md5p)
        else:
            _, pids = self._keys_with_pid([key])
            pid = pids[0]
        cond = F.col("partition_id") == F.lit(pid)
        for k, v in zip(kf, key_tuple):
            cond = cond & (F.col(k) == F.lit(v))
        rows = self.df().filter(cond).drop("partition_id").limit(1).collect()
        return rows[0] if rows else None

    # ---- R2 batch get ----
    def batch_get(self, keys: Sequence[Any]) -> DataFrame:
        """Missing keys are simply absent (AvroGenericStoreClient.java:58).
        Broadcast hash join on (partition_id, key): the partition ids prune
        version directories (only dirs owning requested keys are scanned),
        key-sorted files prune rowgroups via min/max."""
        kf = self.key_fields
        kdf, pids = self._keys_with_pid(keys)
        return (
            self.df()
            .filter(F.col("partition_id").isin(pids))
            .join(F.broadcast(kdf), on=["partition_id", *kf], how="inner")
            .drop("partition_id")
        )

    # ---- R3 streaming batch get ----
    def streaming_batch_get(self, keys: Sequence[Any]) -> Iterator[Row]:
        """Results stream back per-record (toLocalIterator) instead of one
        collected blob — partial consumption stops the job early, the moral of
        MultiGetRecordStreamDecoder's incremental delivery."""
        return self.batch_get(keys).toLocalIterator()

    # ---- W15 view reads ----
    def view_df(self, view_name: str, version: int | None = None) -> DataFrame:
        """Read a materialized view co-written with the given (default:
        current) version — the consumer side of W15 (reference:
        MaterializedView.java consumers subscribe to the view's re-keyed
        topics). The view is re-partitioned/projected by its own key fields,
        so filters on those fields prune like a store's own key. Lazy-push
        deltas resolve through the view (push.fold_view_deltas); without
        deltas this is the plain parquet read."""
        view = open_view(
            self.catalog, self.name, view_name, MaterializedViewDef, version
        )
        out = fold_view_deltas(
            self.spark, self.catalog, self.name, view.version,
            self.spark.read.parquet(view.path), f"view {view_name!r}",
        )
        if "partition_id" in out.columns or view.spec is None:
            # no delta folded, or a pre-sidecar version whose view was
            # since deregistered: the data still resolves correctly (store
            # keys are in the files); only the re-stamp needs a spec
            return out
        # re-stamp the VIEW's routing column so the schema never flaps with
        # delta-log state (the plain-parquet path carries partition_id)
        from venice_spark.partitioner import with_partition_id

        return with_partition_id(out, view.spec.key_fields, view.spec.partition_count)

    def get_by(self, view_name: str, **field_values: Any) -> DataFrame:
        """Secondary-index lookup: equality filters on a materialized view's
        key fields (the GSI read the reference serves by routing to the
        view's partitioning). Filters push down to the view's sorted
        parquet."""
        df = self.view_df(view_name)
        for k, v in field_values.items():
            df = df.filter(F.col(k) == F.lit(v))
        return df

    def ann_topk(
        self,
        view_name: str,
        query: "Sequence[float]",
        k: int = 10,
        nprobe: int | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Partition-pruned ANN search against a declared IVF index view
        (push.IvfIndexViewDef): rank the persisted codebook's centroids
        against the query driver-side, scan ONLY the nprobe nearest lists'
        directories (PartitionFilters on ivf_list), exact cosine within
        them, bounded top-k. Lazy-push deltas fold in
        (push.fold_index_deltas): rows whose store key a delta touches
        leave the index scan, so an overridden vector can never serve from
        its stale list, and the touched keys' current rows are assigned on
        the fly."""
        from venice_spark.functions import vectors as VX
        from venice_spark.similarity import ivf_assign, ivf_probe_lists

        view, spec = self._ivf_view(view_name, version)
        nprobe = nprobe if nprobe is not None else max(1, len(spec.centroids) // 4)
        # probe selection shares ivf_assign's normalization (similarity.py)
        probe = ivf_probe_lists(list(query), spec.centroids, nprobe)
        base = fold_index_deltas(
            self.spark, self.catalog, self.name, view.version,
            self.spark.read.parquet(view.path).filter(F.col("ivf_list").isin(probe)),
            spec.vec_col,
            lambda cur: cur.withColumn(
                "ivf_list", ivf_assign(spec.vec_col, spec.centroids)
            ).filter(F.col("ivf_list").isin(probe)),
        )
        keys = self.key_fields
        cos = VX.cosine_similarity(spec.vec_col, list(query))
        return (
            base.select(*keys, cos.alias("cos"))
            .orderBy(F.col("cos").desc_nulls_last(), *[F.col(c).asc() for c in keys])
            .limit(k)
        )

    def _ivf_view(self, view_name: str, version: int | None):
        """(opened view, effective spec) of an IVF index view with a codebook."""
        view = open_view(self.catalog, self.name, view_name, IvfIndexViewDef, version)
        if view.spec is None or not view.spec.centroids:
            raise ValueError(
                f"view {view_name!r} of store {self.name} carries no IVF codebook"
            )
        return view, view.spec

    def knn_join_vs(
        self,
        view_name: str,
        left_df: DataFrame,
        left_id: str,
        vec_col: str | None = None,
        k: int = 5,
        nprobe: int | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Batch k-NN JOIN of a query frame against this store's IVF index
        view — the join edition of ann_topk, and the bucketed-layout path
        for similarity.ivf_knn_join (guide §3.4/§6.3): the store side
        arrives PRE-ASSIGNED (ivf_list read back from the partition
        directories), so the per-row centroid-assignment fold never runs
        at query time and the candidate side scans only (key, ivf_list) —
        vectors are read once, by the rescore projection, instead of the
        raw-corpus path's assign-scan + rescore-scan. Lazy-push deltas
        fold in exactly like ann_topk — a delta-sized digest, never a
        corpus rescan. Returns [lid, rid, cos, rank] (ivf_knn_join's
        contract): one `rid` column, so a composite-key store is refused
        (query it per vector with ann_topk)."""
        from venice_spark.similarity import ivf_assign, ivf_knn_join

        keys = self.key_fields
        if len(keys) != 1:
            raise ValueError(
                "knn_join_vs needs a single-field store key: its [lid, rid, "
                f"cos, rank] contract carries one rid (store {self.name!r} "
                f"has {keys}) — use ann_topk per query vector"
            )
        view, spec = self._ivf_view(view_name, version)
        nprobe = nprobe if nprobe is not None else max(1, len(spec.centroids) // 4)
        base = fold_index_deltas(
            self.spark, self.catalog, self.name, view.version,
            self.spark.read.parquet(view.path),
            spec.vec_col,
            lambda cur: cur.withColumn(
                "ivf_list", ivf_assign(spec.vec_col, spec.centroids)
            ),
        )
        probe = left_df.select(
            F.col(left_id).alias("__qid"),
            F.col(vec_col or spec.vec_col).alias(spec.vec_col),
        )
        return ivf_knn_join(
            probe,
            base.select(keys[0], spec.vec_col, "ivf_list"),
            spec.vec_col,
            "__qid",
            keys[0],
            spec.centroids,
            k=k,
            nprobe=nprobe,
            right_list_col="ivf_list",
        )

    def near_dups_vs(
        self,
        view_name: str,
        new_df: DataFrame,
        id_col: str,
        text_col: str | None = None,
        threshold: float = 0.5,
        version: int | None = None,
    ) -> DataFrame:
        """Near-duplicate pairs of an ingest batch against this store's
        indexed corpus (push.BandIndexViewDef): candidates come from the
        batch's band rows joined to the PERSISTED band table — history is
        probed, never re-shingled — then exact-jaccard verification
        touches only the matched store docs
        (dedup.minhash_pairs_vs_history, probe/index parameter parity
        asserted from the sidecar spec). Lazy-push deltas fold in
        (push.fold_index_deltas): delta-touched keys leave the index
        (their text may have changed; deleted keys simply vanish) and
        their CURRENT resolved rows re-band on the fly — a batch-sized
        digest, never a corpus rescan.

        Returns [new_id, hist_id, jaccard]. If the batch shares the
        store's id space (a re-ingest), identical docs pair with
        themselves — filter new_id != hist_id when that is noise."""
        from venice_spark.dedup import minhash_band_table, minhash_pairs_vs_history

        view = open_view(self.catalog, self.name, view_name, BandIndexViewDef, version)
        spec = view.spec
        if spec is None:
            raise ValueError(
                f"view {view_name!r} of store {self.name} has neither a "
                "written nor a declared band index spec"
            )
        kid = self.key_fields[0]

        def fold(index: DataFrame, rederive) -> DataFrame:
            return fold_index_deltas(
                self.spark, self.catalog, self.name, view.version,
                index, spec.text_col, rederive,
            )

        hist_bands = fold(
            self.spark.read.parquet(view.path),
            lambda cur: minhash_band_table(
                cur.select(kid, spec.text_col), spec.text_col, kid,
                num_hashes=spec.num_hashes, bands=spec.bands,
                shingle_n=spec.shingle_n,
            ),
        )
        # verification texts: untouched keys read straight from the base
        # files (broadcast anti — no corpus-wide window), touched keys read
        # their resolved current rows
        hist_docs = fold(
            self.catalog.read_version(self.spark, self.name, view.version)
            .select(kid, spec.text_col),
            lambda cur: cur,
        )
        probe = new_df.select(
            F.col(id_col).alias(kid),
            F.col(text_col or spec.text_col).alias(spec.text_col),
        )
        return minhash_pairs_vs_history(
            probe,
            hist_bands,
            hist_docs,
            spec.text_col,
            kid,
            num_hashes=spec.num_hashes,
            bands=spec.bands,
            threshold=threshold,
            shingle_n=spec.shingle_n,
            # the per-call parity .first() job is redundant ONLY when the
            # params were read from the WRITTEN sidecar (parity with the
            # files by construction; ADVICE r4). On the pre-sidecar
            # fallback they come from the live declaration — which may have
            # been re-declared since the files landed — so the check is the
            # only guard against silently-zero results (code-review r5).
            check_params=view.written is None,
        )

    def hybrid_view_df(self, view_name: str, replay) -> DataFrame:
        """Materialized view over LIVE hybrid state: the reference maintains
        views on nearline writes too (the leader's view writers wrap every
        RT produce — MaterializedView.java consumers see hybrid stores).
        Spark twin: project the hybrid replay's resolved serving table
        (batch base + RT log, latest-wins already applied by HybridReplay)
        through the declared view spec — a narrow projection Catalyst
        prunes, no second maintenance pipeline to keep consistent. Any
        handle with .read() works, so aa_serve's DCR-resolved replay
        serves views the same way."""
        meta = self.catalog.get_store(self.name)
        view = declared_view(meta, view_name, MaterializedViewDef)
        if view is None:
            raise ValueError(
                f"store {self.name} declares no repartition view {view_name!r}"
            )
        return view.project(replay.read(), meta.key_fields)

    # ---- R4-R10 compute ----
    def compute(self) -> ComputeRequestBuilder:
        # R4-R8 key batches ride R2's routing: execute(keys) goes through
        # batch_get, so partition ids prune version directories instead of
        # the compute join scanning every partition for a handful of keys
        return ComputeRequestBuilder(
            self.df(), self.key_fields, key_batch_source=self.batch_get
        )

    # ---- R11/R12 ----
    def aggregate(self) -> ComputeAggregationBuilder:
        return ComputeAggregationBuilder(self.df(), self.key_fields)

    # ---- R16 ----
    def approx_unique_keys(self, rsd: float = 0.05) -> int:
        """HLL distinct-key estimate (StoreIngestionTask.java:2901-2907 uses
        datasketches HLL; Spark's approx_count_distinct is HLL++)."""
        kf = self.key_fields
        row = self.df().select(
            F.approx_count_distinct(F.concat_ws("\x00", *[F.col(k).cast("string") for k in kf]), rsd).alias("n")
        ).collect()[0]
        return int(row["n"])

    # ---- W12/W13 + §2.5: hybrid store serving loop ----
    def producer(self, colo: int = 0):
        """Online producer into this store's RT update log (W12/W13 —
        VeniceProducer.asyncPut/asyncDelete/asyncUpdate)."""
        from venice_spark.producer import VeniceProducer

        return VeniceProducer(self.spark, self.catalog, self.name, colo=colo)

    def truncate_rt(
        self, before_ts: int, ts_col: str = "ts", force: bool = False
    ) -> int:
        """RT-log retention (the reference's RT topic retention time):
        delete log files whose every record is older than `before_ts`.
        Raises RtTruncateBlockedError when an existing consumer checkpoint
        has not committed a to-be-deleted file (force=True overrides); pick
        a cutoff no later than now - rewind. See producer.truncate_rt_log."""
        from venice_spark.producer import truncate_rt_log

        return truncate_rt_log(
            self.spark, self.catalog, self.name, before_ts, ts_col, force=force
        )

    def hybrid_serve(
        self,
        ts_col: str = "ts",
        mode: str = "append",
        compact_every: int = 16,
        rewind_seconds: int | None = None,
        now_ts: int | None = None,
    ):
        """One-call hybrid serving loop (§2.5, merging-batch-and-rt-data.md):
        seed the serving table from the current batch version (batch rows get
        logical ts 0, so any RT write wins its key — the reference's RT-over-
        batch precedence), replay the store's RT log into it via Structured
        Streaming with a persistent checkpoint (each call resumes where the
        last stopped — only NEW log files are processed), and return the
        HybridReplay handle (.read() for the live view, .ready_to_serve()
        for the lag gate, .compact() in append mode).

        A NEW batch push re-seeds: the serving table remembers which
        version seeded it, and a version change drops table + checkpoint so
        the new base replays the RT window on top (the reference's
        per-version buffer replay; code-review r4). `ts` defaults to the
        producer's epoch-millisecond stamp, so rewind/lag seconds scale
        accordingly and now_ts is in ms; store config `rt_ts_unit` ("s",
        "raw") switches the unit for both the rewind window and the
        retention cutoff (ADVICE r8 — one knob so they cannot disagree).

        Default mode is "append" — the serving table is an LSM log (the
        same write-amplification trade the store's lazy delta slots make):
        each micro-batch costs O(batch) writes regardless of store size,
        with compaction amortized every `compact_every` triggers (VERDICT
        r4 #3; cost contract pinned by
        test_streaming.test_hybrid_append_per_batch_bytes_scale_with_batch).
        mode="rewrite" keeps the always-one-resolved-fileset table for
        small stores where read simplicity beats write cost."""
        import os

        from venice_spark.producer import read_rt_log
        from venice_spark.streaming.hybrid import (
            HybridReplay,
            mark_seeded_version,
            reset_serving_if_stale,
        )

        # misconfig fails before replay work (per-call rewind honored)
        self._rt_retention_seconds(rewind_seconds)
        store_dir = self.catalog.store_dir(self.name)
        serving = os.path.join(store_dir, "serving")
        ckpt = os.path.join(store_dir, "_rt_checkpoint")
        cur = self.catalog.current_version(self.name)
        reset_serving_if_stale(serving, ckpt, cur)
        if not os.path.isdir(serving):
            base = self.df().drop("partition_id")
            if ts_col not in base.columns:
                base = base.withColumn(ts_col, F.lit(0).cast("long"))
            base.write.parquet(serving)
            mark_seeded_version(serving, cur)
            # seed the schema sidecar so append-mode reads never need
            # mergeSchema (after the write: the dir must exist, and a crash
            # in between just leaves a pre-sidecar log that upgrades on its
            # first append). set, not extend: the seed owns the whole
            # fileset, so no merge pass over the just-written files
            from venice_spark.streaming.hybrid import set_log_schema

            set_log_schema(serving, base.schema)
        replay = HybridReplay(
            self.spark,
            self.catalog,
            self.name,
            serving,
            ts_col=ts_col,
            rewind_seconds=rewind_seconds,
            now_ts=now_ts,
            mode=mode,
            compact_every=compact_every,
            ts_unit=self._rt_ts_unit(),
        )
        rt_dir = self.catalog.update_log_dir(self.name)
        if os.path.isdir(rt_dir) and any(
            f.endswith(".parquet") for f in os.listdir(rt_dir)
        ):
            from venice_spark.streaming.hybrid import run_replay_query

            def _start():
                # mergeSchema union via the sidecar: each flush writes only
                # the columns its ops carried; a bare read samples one
                # footer and would silently drop the other flushes' value
                # columns. Rebuilt per attempt: a concurrent rt migration
                # (run_replay_query's restart case) changes both the
                # fileset and the schema.
                schema = read_rt_log(self.spark, self.catalog, self.name).schema
                stream = self.spark.readStream.schema(schema).parquet(rt_dir)
                return replay.start(stream, ckpt)

            run_replay_query(_start)
        self._apply_rt_retention(now_ts, ts_col=ts_col, rewind=rewind_seconds)
        return replay

    def _rt_ts_unit(self) -> str:
        """Unit of the store's RT ts column on the engine serving path
        (store config `rt_ts_unit`): "ms" (default — the producer's
        time.time()*1000 stamp), "s", or "raw" (ts is a logical counter;
        rewind_seconds then counts ts units, and wall-clock retention is
        refused). One knob feeds both HybridReplay's rewind scaling and
        _apply_rt_retention's cutoff, so they cannot disagree (ADVICE r8)."""
        unit = str(
            self.catalog.get_store(self.name).config.get("rt_ts_unit", "ms")
        ).lower()
        if unit not in ("ms", "s", "raw"):
            raise ValueError(
                f"store {self.name!r}: unknown rt_ts_unit {unit!r} "
                "(supported: 'ms', 's', 'raw')"
            )
        return unit

    def _rt_retention_seconds(self, rewind: int | None = None) -> int:
        """Validated `rt_retention_seconds` config (0 = unconfigured).
        Checked at SERVE ENTRY (before any replay work runs) as well as at
        truncation time, so a misconfigured store fails fast instead of
        doing a full replay and then throwing away the handle. `rewind`
        is the serve's EFFECTIVE window (a per-call override beats the
        store config — code-review r8). Two refusals:

        - retention < rewind: a re-seed replays the rewind window from the
          RT log, so retention must keep at least that much history
          (reference: StoreUtils.getExpectedRetentionTimeInMs floors
          retention at rewind + safety margin).
        - rewind == 0 (or unset): in THIS engine rewind=0 means a re-seed
          replays the FULL RT log, so any truncation would silently revert
          older RT wins to the batch values on the next push — retention
          requires a finite rewind window (code-review r8)."""
        meta = self.catalog.get_store(self.name)
        retention = int(meta.config.get("rt_retention_seconds", 0) or 0)
        if retention <= 0:
            return 0
        eff_rewind = meta.rewind_seconds if rewind is None else int(rewind)
        if eff_rewind <= 0:
            raise ValueError(
                f"rt_retention_seconds ({retention}) requires a finite "
                "rewind window: with rewind_seconds=0 a re-seed replays the "
                "FULL RT log, so any truncation silently loses older RT "
                "wins on the next push — set rewind_seconds on the store "
                "or pass it to the serve call"
            )
        if retention < eff_rewind:
            raise ValueError(
                f"rt_retention_seconds ({retention}) must be >= the "
                f"effective rewind window ({eff_rewind}): a re-seed replays "
                "the rewind window from the RT log, so retention must keep "
                "at least that much history (reference: "
                "StoreUtils.getExpectedRetentionTimeInMs floors retention "
                "at rewind + safety margin)"
            )
        if self._rt_ts_unit() not in ("ms", "s"):
            raise ValueError(
                f"rt_retention_seconds needs an epoch-based ts column: "
                f"store {self.name!r} declares rt_ts_unit="
                f"{self._rt_ts_unit()!r}. A raw/logical ts cannot be "
                "compared against wall-clock retention — clear "
                "rt_retention_seconds or set rt_ts_unit to 'ms'/'s'"
            )
        return retention

    def _apply_rt_retention(
        self,
        now_ts: int | None = None,
        ts_col: str = "ts",
        rewind: int | None = None,
    ) -> int:
        """File-edition RT topic retention (the reference derives the RT
        topic's broker-enforced retention from the hybrid config —
        ZKStore.getRetentionTime → StoreUtils.getExpectedRetentionTimeInMs:
        rewind + margin, floor-bounded — and Kafka deletes the tail):
        when the store config sets `rt_retention_seconds`, every completed
        serve truncates RT log files whose every record is older than
        now - retention. Retention outside the rewind contract is refused
        loudly (see _rt_retention_seconds), and the consumer-safety guard
        stays ON: a lagging consumer keeps its unread files alive —
        skipped with a warning, retried on the next serve. Protected
        consumers are the built-in hybrid/AA checkpoints, checkpoints
        registered via catalog.register_consumer_checkpoint (a CDC reader
        must register — ChangeCaptureStream.start does it when given its
        store), and checkpoint dirs inside the store dir; an unregistered
        external checkpoint is NOT protected (ADVICE r8). Returns files
        removed; 0 when retention is unconfigured.

        The ts domain must be epoch-based: store config `rt_ts_unit`
        ("ms" default, "s", or "raw") drives BOTH the serving replay's
        rewind scaling (hybrid_serve passes it to HybridReplay) and this
        cutoff's scale, so the two can never disagree. "raw" (a logical
        counter, a non-epoch ts) makes "older than now - retention"
        meaningless and is refused loudly (ADVICE r8 — the old fixed
        *1000 silently treated second-scaled logs as all-expired).

        Serve-path cost (code-review r8): the ts scan is SKIPPED when the
        RT fileset is unchanged since the last retention pass (signature
        marker `_rt_retention_sig` inside the rt dir). A file that only
        becomes eligible as the clock advances is then deleted on the pass
        after the NEXT flush — the dir cannot grow without a flush, so
        growth stays bounded and a hot serve loop pays zero extra Spark
        jobs between flushes."""
        import hashlib
        import os
        import time
        import warnings

        retention = self._rt_retention_seconds(rewind)
        if retention <= 0:
            return 0
        rt_dir = self.catalog.update_log_dir(self.name)
        if not os.path.isdir(rt_dir):
            return 0

        def _sig() -> str:
            names = sorted(
                f for f in os.listdir(rt_dir) if f.endswith(".parquet")
            )
            return hashlib.md5("\n".join(names).encode()).hexdigest()

        marker = os.path.join(rt_dir, "_rt_retention_sig")
        sig = _sig()
        try:
            with open(marker) as f:
                if f.read().strip() == sig:
                    return 0
        except OSError:
            pass
        unit = self._rt_ts_unit()
        scales = {"ms": 1000, "s": 1}
        if unit not in scales:
            raise ValueError(
                f"rt_retention_seconds needs an epoch-based ts column: store "
                f"{self.name!r} declares rt_ts_unit={unit!r} (retention "
                f"supports {sorted(scales)}). A raw/logical ts cannot be "
                "compared against wall-clock retention — clear "
                "rt_retention_seconds or set rt_ts_unit"
            )
        scale = scales[unit]
        now_val = int(now_ts) if now_ts is not None else int(time.time() * scale)
        cutoff = now_val - retention * scale
        from venice_spark.producer import RtTruncateBlockedError

        try:
            removed = self.truncate_rt(before_ts=cutoff, ts_col=ts_col)
        except RtTruncateBlockedError as e:
            # Blocked is a stable outcome of this fileset + roster state:
            # write the marker anyway so a persistently lagging (or
            # registered-but-not-yet-committed) consumer costs ONE warn +
            # ts scan per flush, not per serve — pre-r10 every serve
            # re-ran the store-sized read_rt_log scan the marker exists
            # to elide (code-review r10). Deletion then happens on the
            # pass after the NEXT flush, the same deferral the
            # clock-advance case already accepts (the dir cannot grow
            # without a flush).
            warnings.warn(
                f"rt retention deferred to the next flush (lagging "
                f"consumer): {e}",
                RuntimeWarning,
                stacklevel=2,
            )
            removed = 0
        import tempfile

        # dot-prefix: a crash-leaked tmp must stay invisible to Spark's
        # file listing (a bare-named non-parquet file would be read as data)
        fd, tmp = tempfile.mkstemp(prefix=".rt_sig_", dir=rt_dir)
        try:
            with os.fdopen(fd, "w") as f:
                f.write(_sig())
            os.replace(tmp, marker)  # torn marker would force rescans forever
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise
        return removed

    def aa_serve(
        self,
        value_cols: list[str],
        list_fields: set[str] | None = None,
        map_fields: set[str] | None = None,
        ts_col: str = "ts",
        mode: str = "append",
        compact_every: int = 16,
        buckets: int = 0,
        now_ts: int | None = None,
    ):
        """Active-active twin of hybrid_serve: the RT log replays through
        the full DCR kernel with per-key register state persisted in the
        serving table (the leader's MergeConflictResolver loop —
        ActiveActiveStoreIngestionTask.java:615,640). Field-level UPDATE
        ops get true per-field timestamps; cross-colo ties resolve
        deterministically. Default mode="append": per-trigger write cost
        O(touched keys) with amortized compaction (see ActiveActiveReplay);
        mode="rewrite" keeps the one-resolved-fileset table."""
        from venice_spark.streaming.aa import aa_serve

        return aa_serve(
            self, value_cols, list_fields, map_fields, ts_col,
            mode=mode, compact_every=compact_every, buckets=buckets,
            now_ts=now_ts,
        )

    # ---- R15 DaVinci-style local materialization ----
    def subscribe_all(self) -> DataFrame:
        """Eagerly materialize the current version into executor memory —
        the DaVinci 'subscribe all partitions, serve with 0 hops' mode
        (clients/da-vinci-client/.../DaVinciClient.java:14-58)."""
        df = self.df().cache()
        df.count()
        return df

    def subscribe(self, partitions: Sequence[int]) -> DataFrame:
        """Partial subscription: materialize only the given partitions
        (DaVinciClient.subscribe(Set<Integer>) — DaVinciClient.java:33-44).
        Directory pruning means only those partitions' files are ever read."""
        df = self.df().filter(F.col("partition_id").isin(list(partitions))).cache()
        df.count()
        return df


class VeniceSparkEngine:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.catalog = StoreCatalog(root)
        self._push_job = BatchPushJob(self.catalog)

    def create_store(self, name: str, key_fields: list[str], **kwargs) -> None:
        self.catalog.create_store(name, key_fields, **kwargs)

    def store(self, name: str) -> StoreHandle:
        return StoreHandle(self, name)

    def push(
        self,
        store: str,
        df: DataFrame,
        views: list[MaterializedViewDef] | None = None,
        **kwargs,
    ) -> PushResult:
        return self._push_job.run(self.spark, store, df, views=views, **kwargs)

    def incremental_push(self, store: str, delta: DataFrame, **kwargs) -> PushResult:
        return incremental_push(self.spark, self.catalog, store, delta, **kwargs)

    def compact(self, store: str) -> PushResult:
        """Fold accumulated lazy-push deltas into a new compacted version."""
        return compact_store(self.spark, self.catalog, store)

    def create_temp_views(self, prefix: str = "") -> list[str]:
        """Expose every store's CURRENT version as a Spark SQL temp view
        (`prefix + store_name`) — the engine's stores become ordinary SQL
        tables: `spark.sql("SELECT ... FROM members JOIN orders ...")`.
        Venice has no SQL surface (SURVEY §2.7); on Spark it is free, and
        the views read through the same delta-resolved, partition-pruned
        path as the API. Re-call after pushes to pick up new versions."""
        names = []
        for s in self.catalog.list_stores():
            if self.catalog.current_version(s) > 0:
                name = f"{prefix}{s}"
                self.catalog.read_current(self.spark, s).createOrReplaceTempView(name)
                names.append(name)
        return names

    def store_stats(self, store: str) -> dict:
        """Operational statistics for the current version: rows, on-disk
        bytes, partition count, and per-partition row skew (max/mean — the
        signal that a hot key needs the salting escalation). One scan with
        a partial-agg groupBy on partition_id."""
        import os

        df = self.catalog.read_current(self.spark, store)
        by_part = (
            df.groupBy("partition_id").count().collect()
            if "partition_id" in df.columns
            else []
        )
        rows = sum(r["count"] for r in by_part) if by_part else df.count()
        counts = [r["count"] for r in by_part]
        v = self.catalog.current_version(store)
        vdir = self.catalog.version_dir(store, v)
        size = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(vdir)
            for f in fs
        )
        # skew denominator is the LAYOUT's partition count, not the count of
        # non-empty partitions — a hot key that lands everything in one
        # directory must read as skew = n_parts, not as perfectly balanced
        from venice_spark.push import _version_layout

        meta = self.catalog.get_store(store)
        n_parts = _version_layout(self.catalog, store, v, meta)[0]
        mean = rows / n_parts if n_parts else float(rows)
        return {
            "store": store,
            "version": v,
            "rows": rows,
            "bytes": size,
            "partitions": n_parts,
            "nonempty_partitions": len(counts),
            "max_partition_rows": max(counts) if counts else rows,
            "partition_skew": (max(counts) / mean) if counts and mean else 1.0,
        }

    def rollback(self, store: str, to_version: int | None = None) -> int:
        """Roll the serving pointer back to the previous retained version
        (reference admin-tool `set-version`, Command.java:259). O(1) pointer
        flip — both versions' files are immutable."""
        return self.catalog.rollback(store, to_version)

    def set_version(self, store: str, version: int) -> None:
        """Serve an explicit retained version (roll back or forward)."""
        self.catalog.set_version(store, version)

    def repush(self, store: str, **kwargs) -> PushResult:
        return repush(self.spark, self.catalog, store, **kwargs)

    def empty_push(self, store: str) -> PushResult:
        """Land a zero-row version (empty-push TTL pattern): for hybrid
        stores, follow with hybrid_serve/aa_serve so the RT replay's rewind
        window becomes the effective TTL."""
        from venice_spark.push import empty_push

        return empty_push(self.spark, self.catalog, store)
