"""Streaming corpus ingestion — the nearline edition of
pipeline.prepare_corpus's narrow stages.

A 100 TB training-data pipeline ingests continuously; the quality gates
(token/stopword/repetition) are pure per-row expressions and therefore
stream-unchanged, and exact dedup maps to Structured Streaming's
`dropDuplicatesWithinWatermark` keyed on the content fingerprint: per-key
state holds one 16-byte md5 per distinct document seen inside the watermark
horizon, evicted as event time advances — bounded state, no reprocessing.

The reference has no streaming document path (Venice streams KV writes);
this is north-star surface, built on the same RT-log machinery as
streaming/hybrid.py. Batch/stream parity: the same gate expressions run in
pipeline.prepare_corpus, and the dedup semantic (first arrival wins inside
the horizon) is pinned by tests against the batch exact_dedup of the same
log.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from venice_spark.functions import text as TX


def streaming_corpus_prep(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark_delay: str = "1 hour",
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    min_stopword_ratio: float = 0.0,
    max_dup_line_frac: float | None = None,
    max_top_bigram_frac: float | None = None,
    dedup: bool = True,
    extra_gate=None,
) -> DataFrame:
    """Gate + dedup a (streaming or batch) document frame.

    Stage 1 — quality gates: identical expressions to prepare_corpus
    (narrow, stateless, stream-safe). `extra_gate` folds any caller-built
    per-row boolean Column into the same stage — e.g. a seed-classifier
    score (quality.score_quality is pure expressions, so it is
    stream-safe) or a blocklist budget (text.blocklist_hits).
    Stage 2 — exact dedup on the content fingerprint:
      * streaming with `ts_col`: `dropDuplicatesWithinWatermark` — state is
        one fingerprint per distinct doc within the watermark horizon,
        evicted automatically (the ONLY bounded-state streaming dedup;
        plain dropDuplicates on a stream grows state forever). NOTE:
        Structured Streaming's initial watermark is epoch 0, so rows whose
        event time is AT epoch 0 are dropped as late before the first
        batch advances it — feed real event times, not placeholder zeros;
      * streaming without `ts_col`: plain dropDuplicates — documented
        unbounded state, only for bounded replays;
      * batch: dropDuplicates (one shuffle), matching exact_dedup's set.

    Adds `n_tokens`. Returns the surviving rows with input columns.
    """
    # tokenize ONCE per row (r10, same shape as prepare_corpus): the
    # (n, hits) struct rides a gate_metrics Generate barrier (explode is
    # stateless, so it is stream-safe) and the predicate + n_tokens
    # projection read its fields instead of re-running the tokenizer 3x
    gated = stream.select("*", TX.gate_metrics(text_col).alias("__gate_m"))
    m = F.col("__gate_m")
    pred = m["n"].between(min_tokens, max_tokens) & (
        TX.gate_stop_ratio(m) >= min_stopword_ratio
    )
    if max_dup_line_frac is not None:
        pred = pred & (TX.dup_line_fraction(text_col) <= max_dup_line_frac)
    if max_top_bigram_frac is not None:
        pred = pred & (TX.top_bigram_fraction(text_col) <= max_top_bigram_frac)
    if extra_gate is not None:
        pred = pred & extra_gate
    out = gated.filter(pred).withColumn("n_tokens", m["n"]).drop("__gate_m")

    if not dedup:
        return out

    out = out.withColumn("__fp", TX.fingerprint(F.col(text_col)))
    if stream.isStreaming and ts_col is not None:
        from venice_spark.streaming.joins import _event_time

        out = (
            _event_time(out, ts_col, "_event_time")
            .withWatermark("_event_time", watermark_delay)
            .dropDuplicatesWithinWatermark(["__fp"])
            .drop("_event_time")
        )
    else:
        out = out.dropDuplicates(["__fp"])
    return out.drop("__fp")


def run_corpus_ingest_to_store(
    stream: DataFrame,
    engine,
    store: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str | None = None,
    dedup_against_store: bool = True,
    fp_store: str | None = None,
    band_view: str | None = None,
    near_dup_threshold: float = 0.5,
    available_now: bool = True,
    **prep_kwargs,
):
    """The full nearline ingest loop: gate + in-stream dedup
    (streaming_corpus_prep), then per micro-batch dedup AGAINST THE
    CORPUS'S OWN HISTORY (exact_dedup_incremental — catches content
    re-crawled after the watermark horizon closed) and incremental-push the
    survivors into the serving store. crawl firehose -> cleaned,
    deduplicated, versioned corpus, exactly-once per checkpointed batch.

    `fp_store` is the 100 TB path for the history side: a companion store
    keyed by `fingerprint` that this loop maintains alongside the corpus —
    16 bytes per historical doc, so the anti-join probes a digest table
    instead of re-fingerprinting the full corpus text every batch (the
    store's partition-by-fingerprint layout co-locates the anti-join).
    Without it the corpus frame itself is used — correct at any scale,
    cheap below it. The corpus store's key fields must include `id_col`;
    the fp store's must be ["fingerprint"].

    `band_view` names a declared push.BandIndexViewDef on the corpus
    store: each micro-batch additionally probes the persisted MinHash
    band index for NEAR-duplicates of history at `near_dup_threshold`
    jaccard (store.near_dups_vs — history is never re-shingled; ids
    already in the store are upserts and bypass the probe, matching
    pipeline.ingest_crawl_batch). The view is maintained by the push
    paths this loop already uses, so it stays current between batches.

    Upsert semantics: ids already in the store bypass BOTH history-dedup
    stages (their content replaces). One documented limitation: the
    IN-STREAM watermark dedup is content-keyed and cannot consult the
    store, so an update whose new text matches content seen within the
    live watermark horizon is deduped there; once the horizon passes, the
    history stages treat it as the upsert it is."""
    if band_view is not None:
        # fail before the stream starts, not inside micro-batch N. The view
        # must be DECLARED — every push this loop lands rebuilds only
        # declared views, so an undeclared dir would vanish at the first
        # eager write — and, when a version is already serving, it must be
        # MATERIALIZED as a band index on that version (a declared-but-
        # unbuilt view would fail the first probe mid-stream)
        from venice_spark.push import BandIndexViewDef, declared_view, open_view

        meta = engine.catalog.get_store(store)
        if declared_view(meta, band_view, BandIndexViewDef) is None:
            raise ValueError(
                f"store {store!r} declares no band index view {band_view!r} "
                "— register it in the store config so every push maintains it"
            )
        if engine.catalog.current_version(store) > 0:
            open_view(engine.catalog, store, band_view, BandIndexViewDef)

    prepped = streaming_corpus_prep(
        stream, text_col=text_col, ts_col=ts_col, **prep_kwargs
    )

    def _push(target: str, frame: DataFrame) -> None:
        if engine.catalog.current_version(target) > 0:
            engine.incremental_push(target, frame)
        else:
            # first batch bootstraps the store (the reference's hybrid
            # lifecycle: a batch push precedes RT consumption); duplicate
            # keys keep one row deterministically — the incremental path
            # resolves key collisions latest-wins, so the bootstrap must
            # not fail the whole stream on the same input shape
            engine.push(target, frame, allow_duplicate_key=True)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # fp_store enabled on a corpus that ALREADY has content: bootstrap
        # the digest table from the EXISTING corpus first, or every
        # pre-existing document's fingerprint is simply absent and re-crawls
        # of old content sail through the anti-join forever (code-review
        # r4). One full-corpus fingerprint pass, once.
        if (
            fp_store is not None
            and engine.catalog.current_version(fp_store) <= 0
            and engine.catalog.current_version(store) > 0
        ):
            _push(
                fp_store,
                engine.store(store)
                .df()
                .select(TX.fingerprint(F.col(text_col)).alias("fingerprint")),
            )
        # fingerprint the batch ONCE and reuse it for the anti-join probe
        # and the fp_store push (it was being recomputed over full text up
        # to three times per batch — code-review r4)
        out = batch_df.withColumn("__fp", TX.fingerprint(F.col(text_col)))
        have_history = engine.catalog.current_version(store) > 0
        persisted: list = []
        existing = None
        if have_history and (dedup_against_store or band_view is not None):
            # the upsert split (pipeline.split_upserts): ids already in the
            # store bypass BOTH history-dedup stages — their content
            # REPLACES, and an update whose new text matches some OTHER
            # historical doc must not be dropped (stale row forever)
            from venice_spark.pipeline import band_near_dup_filter, split_upserts

            existing = split_upserts(engine.store(store), out, id_col)
            existing.persist()
            persisted.append(existing)
        if dedup_against_store and have_history:
            ups = out.join(F.broadcast(existing), on=id_col, how="left_semi")
            fresh = out.join(F.broadcast(existing), on=id_col, how="left_anti")
            # same two stages as exact_dedup_incremental, reusing the
            # already-computed __fp: in-batch lowest-id-per-fingerprint,
            # then the anti-join against the history digest — the fp STORE
            # when it serves (16 B/doc), else fingerprints derived from the
            # corpus text on the fly
            from pyspark.sql import Window

            w = Window.partitionBy("__fp").orderBy(id_col)
            fresh = (
                fresh.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
            if fp_store is not None and engine.catalog.current_version(fp_store) > 0:
                history = engine.store(fp_store).df().select(
                    F.col("fingerprint").alias("__hfp")
                )
            else:
                history = engine.store(store).df().select(
                    TX.fingerprint(F.col(text_col)).alias("__hfp")
                )
            fresh = fresh.join(
                history, fresh["__fp"] == history["__hfp"], "left_anti"
            )
            out = fresh.unionByName(ups)
        if band_view is not None and have_history:
            out = band_near_dup_filter(
                engine.store(store), out, existing, id_col, text_col,
                band_view, near_dup_threshold,
            )
        # one materialization serves the emptiness check and both pushes
        # (the band-probe lineage is expensive; unpersisted it would run
        # up to three times per micro-batch)
        out.persist()
        persisted.append(out)
        try:
            if not out.isEmpty():
                _push(store, out.drop("__fp"))
                if fp_store is not None:
                    _push(fp_store, out.select(F.col("__fp").alias("fingerprint")))
        finally:
            for d in persisted:
                d.unpersist()

    writer = (
        prepped.writeStream.outputMode("append")
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
