"""Composable corpus-preparation pipeline (north-star surface).

The canonical 100 TB training-data prep job as a reusable library call:

    quality filter -> exact dedup -> (optional) near-dup removal ->
    token accounting -> sequence packing

Each stage is the operator defined elsewhere in the package (functions/
text.py, dedup.py); this module only wires them with the right barriers.
Plan shape: narrow filter -> one dedup shuffle -> optional LSH stage ->
one Arrow-batched greedy fold per shard for packing (the one Python stage,
justified: greedy packing is a data-dependent recurrence no window fold
expresses; everything else stays in whole-stage codegen).
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from venice_spark import dedup as DD
from venice_spark.functions import text as TX


@dataclass
class CorpusPrepConfig:
    min_tokens: int = 5
    max_tokens: int = 100_000
    min_stopword_ratio: float = 0.05
    # Gopher-style repetition gates (None = skip); both are zero-shuffle
    # per-row expressions so enabling them keeps stage 1 narrow
    max_dup_line_frac: float | None = None
    max_top_bigram_frac: float | None = None
    near_dup_jaccard: float | None = None  # None = skip the MinHash stage
    # which member of a near-dup group survives: "min_id" drops the higher
    # id of every LSH pair (cheap, deterministic); "best_quality" clusters
    # the pairs transitively and keeps the highest-quality member
    # (dedup.canonical_docs — adds the label-propagation rounds)
    near_dup_keep: str = "min_id"
    # label-propagation rounds for best_quality's transitive clustering —
    # raise for dup graphs with chains deeper than 10 hops (templated web
    # pages) instead of abandoning the policy when dup_clusters gives up
    near_dup_max_iter: int = 10
    # C4-style bad-words gate: drop docs with more than blocklist_max_hits
    # lower-cased token matches against the list (None/empty = skip) — a
    # per-row expression folded into the stage-1 quality predicate
    blocklist_terms: list[str] | None = None
    blocklist_max_hits: int = 0
    # Stage 0: corpus-level boilerplate-line removal BEFORE the gates (None
    # = skip) — lines in >= this many distinct docs are cut from every doc
    # (drop_common_lines), so quality metrics score the real content
    drop_common_lines_min_docs: int | None = None
    # ExactSubstr-style gate: drop docs whose corpus-duplicated 20-token
    # window coverage exceeds the fraction (None = skip; adds one shuffle
    # on the hashed window key — dedup.dup_ngram_spans)
    max_dup_ngram_frac: float | None = None
    dup_ngram_window: int = 20
    # LM-quality-weighted downsampling: map the corpus unigram-LM score
    # linearly from lm_weight_lo -> weight 0 to lm_weight_hi -> weight 1
    # and keep docs by deterministic hash threshold (None = skip;
    # pipeline.unigram_logprob + importance_sample)
    lm_weight_lo: float | None = None
    lm_weight_hi: float | None = None
    pack_budget: int | None = None         # None = skip sequence packing
    n_shards: int = 32


def prepare_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    config: CorpusPrepConfig | None = None,
) -> DataFrame:
    """Run the prep pipeline; returns surviving documents with `n_tokens`
    (and `shard`/`pack_id` when packing is enabled). Deterministic: the
    lowest id in each duplicate group survives."""
    cfg = config or CorpusPrepConfig()
    # fail a misconfig in milliseconds, not after the corpus-wide jobs
    if cfg.near_dup_keep not in ("min_id", "best_quality"):
        raise ValueError(
            f"near_dup_keep must be 'min_id' or 'best_quality', "
            f"got {cfg.near_dup_keep!r}"
        )
    if (cfg.lm_weight_lo is None) != (cfg.lm_weight_hi is None):
        raise ValueError(
            "lm_weight_lo and lm_weight_hi must be set together "
            f"(got lo={cfg.lm_weight_lo!r}, hi={cfg.lm_weight_hi!r}) — "
            "one alone silently skips the LM-downsampling stage"
        )
    if cfg.lm_weight_lo is not None and cfg.lm_weight_lo > cfg.lm_weight_hi:
        # lo == hi is legal (documented hard-threshold degenerate); swapped
        # bounds are always a mistake
        raise ValueError(
            f"lm_weight_lo must be <= lm_weight_hi "
            f"(got {cfg.lm_weight_lo!r} > {cfg.lm_weight_hi!r})"
        )

    # 0. optional cross-document boilerplate-line removal — rewrite text
    # first so every downstream gate scores the real content
    if cfg.drop_common_lines_min_docs is not None:
        df = (
            drop_common_lines(
                df, text_col, id_col, min_doc_count=cfg.drop_common_lines_min_docs
            )
            .drop(text_col)
            .withColumnRenamed("clean_text", text_col)
        )

    # 1. quality filter — narrow, no shuffle; tokenize ONCE per row: the
    # (n, hits) struct rides a gate_metrics Generate barrier so the
    # token_count/stopword_ratio predicate AND the n_tokens projection
    # share one tokenizer pass (the composed form ran split()+filter() 3x
    # per row — r10, guide §1.2)
    gated = df.select("*", TX.gate_metrics(text_col).alias("__gate_m"))
    m = F.col("__gate_m")
    pred = m["n"].between(cfg.min_tokens, cfg.max_tokens) & (
        TX.gate_stop_ratio(m) >= cfg.min_stopword_ratio
    )
    if cfg.max_dup_line_frac is not None:
        pred = pred & (TX.dup_line_fraction(text_col) <= cfg.max_dup_line_frac)
    if cfg.max_top_bigram_frac is not None:
        pred = pred & (TX.top_bigram_fraction(text_col) <= cfg.max_top_bigram_frac)
    if cfg.blocklist_terms:
        pred = pred & (
            TX.blocklist_hits(text_col, cfg.blocklist_terms) <= cfg.blocklist_max_hits
        )
    qual = gated.filter(pred).withColumn("n_tokens", m["n"]).drop("__gate_m")

    # 2. exact dedup — keep lowest id per fingerprint (one shuffle)
    from pyspark.sql import Window

    w = Window.partitionBy(TX.fingerprint(text_col)).orderBy(id_col)
    kept = (
        qual.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    # 3. optional near-dup removal
    if cfg.near_dup_jaccard is not None:
        pairs = DD.minhash_lsh_pairs(
            kept, text_col, id_col, threshold=cfg.near_dup_jaccard
        )
        if cfg.near_dup_keep == "best_quality":
            # transitive clusters -> keep the highest-quality member
            # (ties -> lowest id); the rank runs over a narrow
            # (id, quality) frame, payloads semi-join the survivors
            scored = kept.select(
                F.col(id_col), F.round(TX.quality_score(text_col), 5).alias("__q")
            )
            survivors = (
                DD.canonical_docs(
                    scored, pairs, id_col, "__q", max_iter=cfg.near_dup_max_iter
                )
                .filter("keep")
                .select(id_col)
            )
            kept = kept.join(survivors, on=id_col, how="left_semi")
        else:
            # drop the higher id of each LSH pair (cheap, deterministic);
            # the config was validated to 'min_id'/'best_quality' at entry
            losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
            kept = kept.join(losers, on=id_col, how="left_anti")

    # 3b. optional ExactSubstr-style gate: drop boilerplate-dominated docs
    # (corpus-duplicated window coverage over the threshold) — one shuffle
    # on the hashed window key, survivors join back by id
    if cfg.max_dup_ngram_frac is not None:
        spans = DD.dup_ngram_spans(
            kept, text_col, id_col, window=cfg.dup_ngram_window
        )
        over = spans.filter(
            F.col("dup_ngram_frac") > cfg.max_dup_ngram_frac
        ).select(id_col)
        kept = kept.join(over, on=id_col, how="left_anti")

    # 3c. optional LM-quality-weighted downsampling: deterministic hash
    # threshold against the normalized corpus unigram-LM score
    if cfg.lm_weight_lo is not None and cfg.lm_weight_hi is not None:
        span = cfg.lm_weight_hi - cfg.lm_weight_lo
        if span > 0:
            weight = F.round(
                F.least(
                    F.lit(1.0),
                    F.greatest(
                        F.lit(0.0),
                        (F.col("lm_logprob") - cfg.lm_weight_lo) / span,
                    ),
                ),
                5,
            )
        else:
            # lo == hi degenerates to a hard threshold; the division form
            # would be 0/0 -> NULL -> weight 0 for EVERY doc (empty corpus)
            weight = F.when(
                F.col("lm_logprob") >= cfg.lm_weight_hi, F.lit(1.0)
            ).otherwise(F.lit(0.0))
        lm = unigram_logprob(kept, text_col, id_col).select(
            id_col, weight.alias("__lm_weight")
        )
        sampled = importance_sample(lm, "__lm_weight", id_col).select(id_col)
        kept = kept.join(sampled, on=id_col, how="left_semi")

    # 4. optional sequence packing
    if cfg.pack_budget is not None:
        kept = DD.pack_sequences(
            kept, "n_tokens", id_col, cfg.pack_budget, cfg.n_shards
        )
    return kept


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: drop training documents sharing ANY token
    n-gram with an evaluation corpus (the standard guard against test-set
    leakage in pretraining data).

    Scale shape: the eval side (benchmark suites — thousands of docs, not
    billions) collapses to a distinct n-gram set and BROADCASTS, so the
    training corpus is never shuffled: explode (narrow) → broadcast hash
    join → distinct contaminated ids (small) → broadcast left-anti. At
    100 TB the only shuffle is over the contaminated-id set. Both sides
    key on TX.shingle_hash_keys (8-byte token-hash n-gram keys, same
    equivalence classes as the n-gram strings): no n-gram string is ever
    built and the broadcast set is longs — 0.64x at sf0.1, and at scale
    the per-row explode payload shrinks ~an order of magnitude."""
    ev = (
        eval_df.select(F.explode(TX.shingle_hash_keys(text_col, ngram_n)).alias("__ng"))
        .distinct()
    )
    tr = train.select(
        F.col(id_col), F.explode(TX.shingle_hash_keys(text_col, ngram_n)).alias("__ng")
    )
    contaminated = tr.join(F.broadcast(ev), "__ng").select(id_col).distinct()
    return train.join(F.broadcast(contaminated), id_col, "left_anti")


def decontaminate_spans(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str | None = None,
    window: int = 13,
    hash_windows: bool = True,
) -> DataFrame:
    """Span-level decontamination (the GPT-3 appendix-C / PaLM treatment):
    instead of dropping every training document that shares an n-gram with
    the benchmark (`decontaminate` — which at window=13 can delete most of
    a corpus over boilerplate), CUT only the overlapping token spans and
    keep the rest of the document.

    A training doc's `window`-token span is contaminated when its content
    appears as any window of any eval doc. Returns per train doc:
    [id_col, n_tokens, contam_starts (sorted 0-based window starts),
    covered, contam_frac, clean_text (the doc with covered tokens removed,
    space-rejoined)]. Docs with no overlap keep all tokens (clean_text is
    the whitespace-normalized original).

    Scale shape: both sides explode to (pos, window) rows keyed by xxhash64
    of the token-hash slice (8-byte shuffle keys); the eval window set is
    distinct-collapsed and typically broadcast-small (benchmarks are
    thousands of docs), so the train side joins without shuffling payloads;
    coverage merging and span cutting are row-local folds.

    FUSED shape (r10): the per-doc starts join LEFT onto train directly
    and n_tokens + clean_text read ONE tokenize pass behind a Generate
    barrier (the gate_metrics trick) — versus the old
    train ⋈ (toks ⋈ per_doc) chain that scanned the corpus three times,
    tokenized it three times (toks' n, the window explode, _cut_spans) and
    shuffled the text payload through an extra id join. Measured 0.84x at
    sf0.1 with exact output parity; at scale it removes one full corpus
    scan + tokenize and one payload shuffle. When train already carries a
    `contam_starts` column (re-decontamination of a report frame) the
    historical join path is kept verbatim — its keep-train's-columns
    semantics, including cutting on TRAIN's starts, are contract."""
    w = int(window)
    # the eval id is never used (only its window set) — synthesize one so
    # text-only benchmark frames work, like sibling decontaminate
    ev = eval_df.select(
        F.col(eval_text_col or text_col).alias("__etext")
    ).withColumn("__eid", F.monotonically_increasing_id())
    _, ewins = DD._token_windows(ev, "__etext", "__eid", w, hash_windows)
    bad = ewins.select("win").distinct()
    if "contam_starts" in train.columns:
        toks, wins = DD._token_windows(train, text_col, id_col, w, hash_windows)
        hits = wins.join(F.broadcast(bad), "win", "left_semi")
        report = DD._span_report(toks, hits, id_col, w, "contam_starts", "contam_frac")
        # keep train's columns on name collision — a duplicate column would
        # make every later select AMBIGUOUS_REFERENCE
        rep_cols = [c for c in report.columns if c == id_col or c not in train.columns]
        out = train.join(report.select(*rep_cols), id_col)
        return out.withColumn("clean_text", DD._cut_spans(text_col, "contam_starts", w))
    _, wins = DD._token_windows(train, text_col, id_col, w, hash_windows)
    hits = wins.join(F.broadcast(bad), "win", "left_semi")
    per_doc = hits.groupBy(id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("contam_starts")
    )
    merged = train.join(per_doc, id_col, "left").withColumn(
        "contam_starts",
        F.coalesce(F.col("contam_starts"), F.array().cast("array<int>")),
    )
    # ONE tokenize per row: (n, clean) struct behind the explode's Generate
    # barrier; the interval-membership cut is _cut_spans' exists form with
    # the token array now a bound lambda variable instead of a re-split
    tc = F.explode(
        F.transform(
            F.array(TX.tokens(F.col(text_col))),
            lambda t: F.struct(
                F.size(t).alias("n"),
                F.concat_ws(
                    " ",
                    F.filter(
                        t,
                        lambda tok, i: ~F.exists(
                            F.col("contam_starts"),
                            lambda s: (i >= s) & (i < s + F.lit(w)),
                        ),
                    ),
                ).alias("clean"),
            ),
        )
    )
    withm = merged.select("*", tc.alias("__tc"))
    # same merged-interval fold as dedup._span_report (identical math/order)
    cov = F.aggregate(
        "contam_starts",
        F.struct(
            F.lit(-(10**9)).cast("long").alias("end"),
            F.lit(0).cast("long").alias("cov"),
        ),
        lambda acc, s: F.struct(
            F.greatest(acc["end"], s.cast("long") + w).alias("end"),
            (
                acc["cov"]
                + w
                - F.greatest(F.lit(0).cast("long"), acc["end"] - s.cast("long"))
            ).alias("cov"),
        ),
        lambda acc: acc["cov"],
    )
    withm = withm.withColumn("__cov", cov).withColumn(
        "__frac",
        F.round(F.col("__cov") / F.greatest(F.col("__tc")["n"], F.lit(1)), 5),
    )
    proj = [F.col(c) for c in train.columns]
    if "n_tokens" not in train.columns:
        proj.append(F.col("__tc")["n"].alias("n_tokens"))
    proj.append(F.col("contam_starts"))
    if "covered" not in train.columns:
        proj.append(F.col("__cov").alias("covered"))
    if "contam_frac" not in train.columns:
        proj.append(F.col("__frac").alias("contam_frac"))
    out = withm.select(*proj, F.col("__tc")["clean"].alias("__clean"))
    return out.withColumn("clean_text", F.col("__clean")).drop("__clean")


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    rates: dict[str, float],
    id_col: str,
    default_rate: float = 0.0,
    precision: int = 1_000_000,
) -> DataFrame:
    """Deterministic per-stratum hash sampling — the domain-mixing primitive
    (e.g. keep 100% of a rare domain, 20% of web crawl). A row survives iff
    hash64(id) mod precision < rate(stratum) * precision: no RNG, identical
    output on every run and engine (md5-based hash64 reruns in any SQL
    dialect — the oracle re-derives it), and rows never move between strata
    samples when rates change, only in or out. Pure per-row expression: no
    shuffle, no Python.

    The hash carries a per-purpose salt (seed=12): an unsalted hash64(id)
    would be the SAME uniform every hash-threshold stage uses, making
    composed sampling stages perfectly correlated — combined retention
    min(p1, p2) instead of p1*p2 (code-review r4)."""
    bucket = F.pmod(
        TX.hash64(F.col(id_col).cast("string"), seed=12), F.lit(precision)
    )
    threshold = F.lit(int(round(default_rate * precision)))
    # eqNullSafe: a plain == with a None-keyed rate (or a NULL stratum row)
    # evaluates NULL and silently falls through to default_rate
    # (code-review r4)
    for s, r in rates.items():
        threshold = F.when(
            F.col(stratum_col).eqNullSafe(F.lit(s)), F.lit(int(round(r * precision)))
        ).otherwise(threshold)
    return df.filter(bucket < threshold)


def stratified_resample(
    df: DataFrame,
    stratum_col: str,
    rates: dict[str, float],
    id_col: str,
    default_rate: float = 1.0,
    precision: int = 1_000_000,
) -> DataFrame:
    """stratified_sample generalized to rates > 1.0 — the upsampling half of
    a training-data recipe (e.g. repeat a high-quality rare domain 2.5x
    while keeping 20% of web crawl). A row with rate r yields floor(r) full
    copies plus one extra copy kept iff hash64(14:copy:id) mod precision <
    frac(r)*precision; output adds `copy` (0-based) so downstream shuffling
    treats repeats as distinct examples. Deterministic (hash, no RNG; the
    per-copy seed makes copy decisions independent), and a row's copies for
    a given stratum never change when OTHER strata's rates move. One narrow
    explode sized to each ROW's own ceil(rate) — no shuffle, no Python.

    The hash carries the purpose salt seed=14: unsalted, copy 0's hash
    md5('0:'+id) is bit-identical to assign_splits/shard_plan at their
    default seed=0, which would perfectly correlate survival with split
    assignment (downsampled strata would drain val/test entirely)."""
    rate_scaled = F.lit(int(round(default_rate * precision)))
    for s, r in rates.items():
        rate_scaled = F.when(
            F.col(stratum_col).eqNullSafe(F.lit(s)), F.lit(int(round(r * precision)))
        ).otherwise(rate_scaled)
    # explode only the copies each row's own rate needs (ceil(rate)), not
    # the global max: a 0.2x stratum next to a 10x stratum must not
    # materialize 10 copies per row just to filter 9 away
    n_copies = F.greatest(
        F.floor((F.col("__rate") + F.lit(precision - 1)) / F.lit(precision)).cast("int"),
        F.lit(1),
    )
    out = df.withColumn("__rate", rate_scaled).withColumn(
        "copy", F.explode(F.sequence(F.lit(0), n_copies - F.lit(1)))
    )
    # keep copy c iff (c+1)*precision <= rate (full copy), or c is the
    # fractional slot and the seeded per-copy hash clears the remainder
    full = (F.col("copy") + 1) * F.lit(precision) <= F.col("__rate")
    frac_slot = (F.col("copy") * F.lit(precision) < F.col("__rate")) & ~full
    bucket = F.pmod(
        TX.hash64(
            F.concat(F.col("copy").cast("string"), F.lit(":"), F.col(id_col).cast("string")),
            seed=14,
        ),
        F.lit(precision),
    )
    frac_keep = frac_slot & (
        bucket < F.pmod(F.col("__rate"), F.lit(precision))
    )
    return out.filter(full | frac_keep).drop("__rate")


def assign_splits(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float] | None = None,
    by_col: str | None = None,
    seed: int = 0,
    split_col: str = "split",
    precision: int = 1_000_000,
) -> DataFrame:
    """Deterministic train/val/test assignment by hash range. `weights` maps
    split name -> fraction (default 98/1/1); ranges are cumulative in dict
    order so adding a split never reshuffles earlier ones' low buckets.

    Pass `by_col` (e.g. a near-duplicate cluster id from dedup.dup_clusters,
    or a domain/url key) to hash THAT instead of the row id: every member of
    a cluster lands on the same side of the split, closing the train/test
    leakage path where near-duplicate documents straddle the boundary.
    Pure per-row expression — no shuffle, no RNG, stable across runs and
    engines (same md5 hash64 construction the oracle re-derives)."""
    weights = weights or _DEFAULT_SPLIT_WEIGHTS
    total = sum(weights.values())
    key = by_col or id_col
    bucket = F.pmod(
        TX.hash64(F.col(key).cast("string"), seed=seed), F.lit(precision)
    )
    expr = F.lit(None).cast("string")
    acc = 0.0
    # build the when-chain from the last range backward so the first range
    # is the outermost (otherwise() must be the final fallback)
    cuts = []
    for name, w in weights.items():
        acc += w / total
        cuts.append((name, int(round(acc * precision))))
    for name, hi in reversed(cuts):
        expr = F.when(bucket < F.lit(hi), F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def repetition_metrics(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: fraction of
    non-empty lines that repeat an earlier line, and the share of the most
    frequent token bigram among all bigrams. Both are zero-shuffle per-row
    expressions (the bigram mode is a sorted-array longest-equal-run fold,
    not an explode -> two-groupBy round trip), so the stage stays narrow
    and embarrassingly parallel at 100 TB."""
    return df.select(
        id_col,
        TX.dup_line_fraction(text_col).alias("dup_line_frac"),
        TX.top_bigram_fraction(text_col).alias("top_bigram_frac"),
    )


def pii_scrub(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Count and redact email/phone-shaped spans (typed placeholder tokens).
    Patterns live in functions/text.py and are restricted to the Java-regex
    ∩ RE2 subset so the identical strings run in any SQL oracle. Pure
    per-row regexp expressions — no shuffle, no Python."""
    return df.select(
        id_col,
        TX.email_count(text_col).alias("emails"),
        TX.phone_count(text_col).alias("phones"),
        TX.redact_pii(text_col).alias("redacted"),
    )


def ngram_counts(
    df: DataFrame, text_col: str, n: int = 2, top_k: int = 50
) -> DataFrame:
    """Corpus-level token n-gram frequencies, top-K by count (ties broken
    by gram for determinism) — the vocabulary/phrase-statistics pass of a
    corpus audit. Explode -> partial-agg count -> TakeOrderedAndProject:
    the map-side combine absorbs the explode fan-out and the top-K never
    performs a global sort."""
    exploded = df.select(F.explode(TX.ngrams(text_col, n)).alias("gram"))
    counted = exploded.groupBy("gram").agg(F.count("*").alias("n"))
    return counted.orderBy(F.desc("n"), F.asc("gram")).limit(top_k)


def inverted_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_df: int = 2,
    max_df: int = 40,
) -> DataFrame:
    """Token -> sorted posting-list index over the corpus, keeping terms
    whose document frequency lies in [min_df, max_df] (drops hapaxes and
    stopword-scale terms whose lists would be unbounded).

    The df band must be enforced BEFORE any posting list materializes: a
    count aggregate first (cheap partial-agg longs), then collect_set only
    for tokens inside the band — collecting first and filtering after
    would buffer a stopword-scale token's full doc-id list in one reducer
    row (the exact OOM the band exists to prevent). Two shuffles on the
    token key instead of one, both bounded."""
    pairs = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(TX.tokens(text_col))).alias("token"),
    )
    dfreq = (
        pairs.groupBy("token")
        .agg(F.count("*").alias("df"))  # tokens are distinct per doc already
        .filter((F.col("df") >= min_df) & (F.col("df") <= max_df))
    )
    kept = pairs.join(dfreq, "token")
    return kept.groupBy("token").agg(
        F.first("df").cast("bigint").alias("df"),
        F.sort_array(F.collect_set("doc_id")).alias("postings"),
    )


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    tiebreak_col: str,
    k: int = 3,
    descending: bool = True,
) -> DataFrame:
    """Best-K rows per group (e.g. highest-quality documents per language
    bucket) via ROW_NUMBER with a deterministic tiebreak. Spark plans this
    as WindowGroupLimit: each map task keeps a per-group top-K heap BEFORE
    the shuffle, so shuffle volume is ~K rows per (group, input partition),
    not the full table — the same rank-limit pushdown the push pipeline's
    latest-wins dedup relies on."""
    from pyspark.sql import Window

    ordering = [
        F.desc(order_col) if descending else F.asc(order_col),
        F.asc(tiebreak_col),
    ]
    w = Window.partitionBy(*group_cols).orderBy(*ordering)
    return (
        df.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    decimals: int = 5,
) -> DataFrame:
    """Per-document top-k TF-IDF terms — keyword extraction for corpus
    exploration/labeling: score(t, d) = tf(t, d) · ln(N / df(t)), ties
    broken alphabetically for determinism.

    Plan: one explode → (doc, token) partial-agg tf (map-side combine) →
    token-keyed df agg (input already distinct per doc, so df is a count)
    → 1-row broadcast N → score join on token → per-doc top-k via a
    rank-limited window (WindowGroupLimit: per-partition heaps, shuffle
    volume ≈ k rows per doc per input partition). Scores rounded so the
    distributed float product is engine/order-independent."""
    # _spread (r11): a single-file corpus plans ONE scan task, and tf's
    # LAZY subtree below evaluates twice (dfreq + the score join's left
    # side) — both tokenize+explode+partial-agg passes serialized on one
    # core. Interleaved A/B at sf0.1: 0.89x with the spread; unigram/
    # bigram measured the OPPOSITE (their single evaluation doesn't repay
    # the text shuffle — declined there). No-op at real scale.
    toks = DD._spread(df, id_col).select(
        F.col(id_col), F.explode(TX.tokens(text_col)).alias("tok")
    )
    # tf stays LAZY although it feeds three consumers (dfreq, the score
    # join's left side, and dfreq's probe): the r10 pass A/B-tested an
    # eager localCheckpoint of tf and it was ~10% SLOWER at sf0.1 — the
    # blocking materialization serializes a pipeline whose redundant
    # subtree evaluations otherwise overlap on idle cores, and unlike
    # bigram_logprob's frames (which sit behind a join) tf is one cheap
    # partial-agg off the scan. Measured, reverted (guide §1.1).
    tf = toks.groupBy(id_col, "tok").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n_docs = df.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs") / F.col("df").cast("double")),
                decimals,
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("tok").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(id_col, "tok", "tf", "df", "score", F.col("__rn").alias("rank"))
    )


def drop_common_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_doc_count: int = 2,
    min_line_chars: int = 6,
) -> DataFrame:
    """Corpus-level boilerplate-line removal (the cross-document C4 move,
    complementing the within-document `functions/text.clean_lines`): any
    line at least `min_line_chars` long that appears in >= `min_doc_count`
    DISTINCT documents (cookie banners, nav text, license headers) is
    removed from every document; remaining lines rejoin in original order
    as `clean_text`.

    Plan: posexplode lines -> countDistinct(doc) per xxhash64(line)
    (partial-agg before one shuffle of 8-byte keys — the dup_ngram_spans
    trade, realized here in r10: the count-distinct's TWO exchanges
    carried full line text; line strings now never shuffle, only the
    rebuild's own per-doc reassembly moves text) -> anti-join survivors
    on the hash (broadcast; a collision can only drop an extra line,
    ~n²/2^65 like every hashed key in this module) -> per-doc positional
    reassembly (sort_array over (pos, line) structs — row-local).
    Local wash at sf0.1 (scan-bound, 0.99x interleaved); exact output
    parity verified."""
    lx = df.select(
        F.col(id_col), F.posexplode(TX.lines(text_col)).alias("pos", "line")
    )
    common = (
        lx.filter(F.length("line") >= min_line_chars)
        .select(F.xxhash64("line").alias("__lh"), id_col)
        .groupBy("__lh")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_doc_count)
        .select("__lh")
    )
    rebuilt = (
        lx.withColumn("__lh", F.xxhash64("line"))
        .join(common, "__lh", "left_anti")
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("clean_text")
        )
    )
    return df.join(rebuilt, id_col, "left").withColumn(
        "clean_text", F.coalesce(F.col("clean_text"), F.lit(""))
    )


def importance_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    precision: int = 1_000_000,
) -> DataFrame:
    """Per-row weighted deterministic sampling — the DSIR/CCNet-style
    quality-weighted resampling primitive: a row survives iff
    hash64(id) mod precision < weight * precision, where `weight_col` is a
    per-row acceptance probability in [0, 1] (e.g. a normalized LM-quality
    score, so high-quality documents are kept preferentially). Generalizes
    stratified_sample from per-stratum constants to a weight COLUMN.

    Same guarantees: no RNG (identical output every run and engine — the
    md5-based hash64 re-derives in any SQL dialect), monotone (raising a
    row's weight can only keep it, never evict others), pure per-row
    expression — no shuffle, no Python. Salted (seed=11) so it composes
    independently with the other hash-threshold stages (code-review r4)."""
    bucket = F.pmod(
        TX.hash64(F.col(id_col).cast("string"), seed=11), F.lit(precision)
    )
    thr = F.least(
        F.lit(precision).cast("long"),
        F.greatest(
            F.lit(0).cast("long"),
            F.round(F.col(weight_col) * precision, 0).cast("long"),
        ),
    )
    return df.filter(bucket < thr)


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    decimals: int = 5,
) -> DataFrame:
    """CCNet-style language-model quality score: per-document mean unigram
    log-probability under a unigram LM estimated from the corpus itself.
    Documents full of rare/garbage tokens score far below the corpus mode —
    the cheap stand-in for the KenLM perplexity filter used by CCNet/
    RefinedWeb pretraining pipelines.

    Plan shape (scales to 100 TB): explode -> partial-agg term frequencies
    (map-side combine absorbs the token fan-out before the shuffle on
    token) -> the corpus total is a 1-row broadcast -> score join shuffles
    on token (AQE broadcasts the vocab side when it fits) -> final per-doc
    avg shuffles once on the doc id. No Python anywhere; `round()` pins the
    last double ulp so the score is engine- and order-independent.

    Deliberately NOT persisted (unlike bigram_logprob): the multi-consumer
    frame here is a cheap split/explode straight off the scan — caching a
    token-exploded frame materializes MORE than the corpus, while the
    recompute costs one extra narrow scan; bigram's frames sit behind a
    join and earn the barrier. A plan-shape test also pins this query's
    live (non-checkpointed) physical plan.
    """
    toks = df.select(F.col(id_col), F.explode(TX.tokens(text_col)).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("tf"))
    total = vocab.agg(F.sum("tf").cast("double").alias("n_total"))
    scored = toks.join(vocab, "tok").crossJoin(F.broadcast(total))
    return scored.groupBy(id_col).agg(
        F.round(
            F.avg(F.log(F.col("tf").cast("double") / F.col("n_total"))), decimals
        ).alias("lm_logprob"),
        F.count("*").alias("n_tokens"),
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 1.0,
    decimals: int = 5,
) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    add-k-smoothed bigram LM — one conditioning order up from
    unigram_logprob, so templated/boilerplate word SEQUENCES score high and
    shuffled-word salad scores low even when its unigram mix looks normal
    (the signal KenLM-style filters actually use).

    P(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V): c(w1·) is w1's count as a
    bigram context and V the corpus unigram vocabulary size.

    Plan shape (scales to 100 TB): bigrams form ROW-LOCALLY from the token
    array (no window shuffle) → explode → partial-agg pair counts
    (map-side combine) → context counts aggregate FROM the pair table
    (never a second corpus pass) → V is a 1-row broadcast → score join on
    the pair key (AQE broadcasts the count side when it fits) → per-doc
    avg, rounded so distributed float accumulation is order-independent.
    Documents with fewer than 2 tokens return a null score (no bigrams).

    The tokenized and bigram frames each feed multiple consumers (toks →
    bigrams + vocab + final join; bigrams → pair counts + score probe), so
    both persist function-locally and unpersist after the small per-doc
    result is eagerly checkpointed — without the barrier every consumer
    re-tokenizes the corpus (the minhash persist discipline).

    Returns [id_col, lm2_logprob, n_bigrams]."""
    toks = df.select(
        F.col(id_col), TX.tokens(text_col).alias("t")
    ).withColumn("n", F.size("t")).persist()
    bg = toks.select(
        F.col(id_col),
        F.explode(
            # CASE guard: Spark's sequence(1, 0) yields the DESCENDING [1, 0]
            F.expr(
                "CASE WHEN n >= 2 THEN transform(sequence(1, n - 1), "
                "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2)) "
                "ELSE array() END"
            )
        ).alias("b"),
    ).select(id_col, "b.w1", "b.w2").persist()
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (
        toks.select(F.explode("t").alias("tok"))
        .agg(F.countDistinct("tok").cast("double").alias("v"))
    )
    scored = (
        bg.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.round(
                F.avg(
                    F.log(
                        (F.col("c12").cast("double") + F.lit(add_k))
                        / (F.col("c1").cast("double") + F.lit(add_k) * F.col("v"))
                    )
                ),
                decimals,
            ).alias("lm2_logprob"),
            F.count("*").alias("n_bigrams"),
        )
    )
    out = (
        toks.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            "lm2_logprob",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        )
        .localCheckpoint(eager=True)
    )
    bg.unpersist()
    toks.unpersist()
    return out


def shard_plan(
    df: DataFrame,
    id_col: str,
    seed: int = 0,
    n_shards: int = 32,
) -> DataFrame:
    """Assign every row a deterministic training shard and intra-shard order
    from a seeded hash — the logical "global shuffle" that precedes writing
    training shards, expressed as pure per-row expressions.

    `shuffle_key = hash64(seed:id)`; `shard = shuffle_key mod n_shards`.
    Sorting each shard by `shuffle_key` yields a seeded pseudo-random
    permutation of the corpus WITHOUT a global sort: at 100 TB a global
    `orderBy(rand)` is a range-partitioned total sort (sampling pass + skew
    risk), while hash-sharding + in-shard sort is one hash shuffle and a
    local sort per shard — the same training-shuffle semantics (any fixed
    hash of a unique id is order-uniform) at a fraction of the cost. Same
    md5 construction as stratified_sample, so an oracle re-derives it."""
    key = TX.hash64(F.col(id_col).cast("string"), seed=seed)
    return df.withColumn("shuffle_key", key).withColumn(
        "shard", F.pmod(F.col("shuffle_key"), F.lit(n_shards)).cast("int")
    )


def export_training_shards(
    df: DataFrame,
    out_path: str,
    id_col: str = "doc_id",
    seed: int = 0,
    n_shards: int = 32,
    max_records_per_file: int | None = None,
) -> None:
    """Write the corpus as seeded-shuffled training shards:
    `out_path/shard=N/*.parquet`, rows within each shard stored in
    `shuffle_key` order (parquet preserves intra-file row order, and the
    single sorted task per shard writes one ordered file sequence).

    Plan: one hash shuffle (`repartition(n_shards, shard)`) + per-partition
    sort — no global sort, no driver collection, shards written fully in
    parallel. `max_records_per_file` bounds file sizes for the loader
    without changing order (Spark splits the sorted stream sequentially).
    Re-running with the same seed reproduces byte-identical shard contents
    and order; a new seed is a fresh permutation (epoch reshuffle)."""
    planned = shard_plan(df, id_col, seed=seed, n_shards=n_shards)
    writer = (
        planned.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "shuffle_key", id_col)
        .write.mode("overwrite")
        .partitionBy("shard")
    )
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(out_path)


def domain_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-domain URL and document counts from in-text URLs — the signal
    for URL/domain-level curation (dedupe by URL, rebalance by domain).
    One narrow explode of extracted hosts, then a partial-agg count: the
    shuffle carries (domain, partial counts), bounded by distinct domains."""
    d = df.select(
        F.col(id_col), F.explode(TX.extract_domains(text_col)).alias("domain")
    )
    return d.groupBy("domain").agg(
        F.count("*").alias("n_urls"),
        F.countDistinct(id_col).alias("n_docs"),
    )


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    group_col: str | None = None,
) -> DataFrame:
    """One-pass corpus "data card": document/token counts, token-count
    quantiles, average length, and PII-bearing document counts — global
    plus per-group when `group_col` is given (ROLLUP; the corpus-total row
    is flagged is_total=1, because a grp of NULL alone cannot distinguish
    the total from a genuine NULL-valued group). Single aggregation over
    one scan, partial-agg shuffle bounded by the group count; the report
    for 100 TB costs one pass. All inputs are exact integers per row, so
    the distributed aggregates are order-independent (quantiles
    interpolate over exact ints; the one true average is rounded)."""
    nt = TX.token_count(text_col)
    pii = (
        (TX.email_count(text_col) + TX.phone_count(text_col)) > 0
    ).cast("int")
    metrics = df.select(
        *( [F.col(group_col).alias("grp")] if group_col else [] ),
        nt.alias("__nt"),
        TX.char_count(text_col).alias("__nc"),
        pii.alias("__pii"),
    )
    grouped = metrics.rollup("grp") if group_col else metrics.groupBy()
    flag = [F.grouping("grp").cast("int").alias("is_total")] if group_col else []
    return grouped.agg(
        *flag,
        F.count("*").alias("n_docs"),
        F.sum("__nt").alias("total_tokens"),
        F.expr("percentile(__nt, 0.5)").alias("p50_tokens"),
        F.expr("percentile(__nt, 0.95)").alias("p95_tokens"),
        F.round(F.avg("__nc"), 4).alias("avg_chars"),
        F.sum("__pii").alias("pii_docs"),
    )


def rebalance_corpus(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    alpha: float = 0.7,
    max_rate: float = 1.0,
) -> DataFrame:
    """One-call domain rebalancing: temperature rates (count^alpha) realized
    through stratified_resample, so rates below 1 downsample by hash
    threshold and — when `max_rate` allows — rates above 1 upsample with
    full + fractional copies (the standard multilingual/domain recipe).
    Output adds `copy`. One bounded per-stratum count collect + one narrow
    explode; deterministic end to end."""
    rates = temperature_rates(df, stratum_col, alpha=alpha, max_rate=max_rate)
    return stratified_resample(df, stratum_col, rates, id_col)


def temperature_rates(
    df: DataFrame, stratum_col: str, alpha: float = 0.7, max_rate: float = 1.0
) -> dict[str, float]:
    """Temperature-based sampling rates per stratum: p_s ∝ count_s^alpha
    rescaled so the largest stratum's relative up/down-weight maps to
    `max_rate` for the most boosted stratum — the standard multilingual /
    domain rebalancing rule (alpha=1 keeps natural proportions, alpha→0
    approaches uniform). Collects one row per stratum (bounded by the
    domain count, never the corpus); feed the result to stratified_sample
    for the deterministic per-row filter."""
    counts = {
        r[0]: r[1]
        for r in df.groupBy(stratum_col).count().collect()
    }
    total = sum(counts.values()) or 1
    # target share ∝ count^alpha; rate = target_share / natural_share
    powed = {s: c**alpha for s, c in counts.items()}
    z = sum(powed.values()) or 1.0
    raw = {
        s: (powed[s] / z) / (counts[s] / total) for s in counts
    }
    if not raw:  # empty corpus: no strata, no rates (max() would raise)
        return {}
    top = max(raw.values()) or 1.0
    return {s: min(max_rate, r * max_rate / top) for s, r in raw.items()}


def split_upserts(handle, frame: DataFrame, id_col: str) -> DataFrame:
    """Ids of `frame` rows already present in the store — UPSERTS. Their
    content REPLACES the stored row, so they must bypass every
    history-dedup stage: dropping an update because its new text matches
    some OTHER historical doc would serve the stale row forever. The store
    side scans only the id column under a broadcast semi-join of the batch
    ids (rowgroup-pruned on sorted key parquet — the batch_get shape).
    Shared by ingest_crawl_batch and the streaming ingest loop so the
    upsert semantics can never drift between them."""
    ids = frame.select(id_col)
    return (
        handle.df().select(id_col).join(F.broadcast(ids), on=id_col, how="left_semi")
    )


def band_near_dup_filter(
    handle,
    frame: DataFrame,
    existing_ids: DataFrame,
    id_col: str,
    text_col: str,
    band_view: str,
    threshold: float,
) -> DataFrame:
    """Drop `frame` rows that NEAR-duplicate the store's persisted MinHash
    band index (store.near_dups_vs — history probed, never re-shingled).
    Rows whose id is in `existing_ids` are upserts and bypass the probe.
    Shared by ingest_crawl_batch and the streaming ingest loop."""
    fresh = frame.join(F.broadcast(existing_ids), on=id_col, how="left_anti")
    pairs = handle.near_dups_vs(
        band_view, fresh, id_col, text_col, threshold=threshold
    )
    dup_ids = pairs.select(F.col("new_id").alias(id_col)).distinct()
    return frame.join(dup_ids, on=id_col, how="left_anti")


def ingest_crawl_batch(
    engine,
    store: str,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    config: CorpusPrepConfig | None = None,
    band_view: str | None = None,
    near_dup_threshold: float = 0.5,
    eval_df: DataFrame | None = None,
    fp_store: str | None = None,
    eager: bool = False,
    views: list | None = None,
) -> dict:
    """The BATCH edition of the daily-crawl ingest loop — one call from a
    raw crawl batch to a new corpus version, with per-stage accounting:

      1. in-batch prep (prepare_corpus: quality gates, in-batch exact +
         optional near-dup removal);
      2. exact dedup AGAINST the store's history (anti-join on the 16-byte
         fingerprint — dedup.exact_dedup_incremental; pass `fp_store` to
         probe a companion fingerprint store instead of re-fingerprinting
         the corpus, the 100 TB path). Note the fp store is an
         EVER-INGESTED digest: it only grows, so after a corpus rollback
         re-crawls of rolled-back content stay deduplicated — dedup
         against ingestion history, not against the currently-served
         version (rebuild the fp store from the corpus if you need the
         latter after a rollback);
      3. near-dup dedup AGAINST the store's persisted MinHash band index
         (store.near_dups_vs over a declared push.BandIndexViewDef — the
         batch probes the index, history is never re-shingled; skipped
         unless `band_view` names one);
      4. optional benchmark decontamination (shingle anti-join vs eval_df);
      5. incremental_push of the survivors (first batch bootstraps the
         store with a full push and registers `views` — declare the band
         index here; all declared views are maintained by the write path).

    Batch rows whose id ALREADY EXISTS in the store are UPSERTS: they
    bypass both history-dedup stages entirely (prep gates still apply).
    Dropping a content update because its new text matches some OTHER
    historical doc would serve the stale row forever — worse than keeping
    a resolvable in-store duplicate.

    Every probe is batch-sized: history is touched only through its
    fingerprint index, band index, the id-column scan for the upsert split
    (broadcast semi-join on sorted key parquet — the batch_get shape), and
    (for a lazy push) the delta log. The survivors keep the BATCH's
    original columns — prep-derived columns (n_tokens, ...) gate
    membership but don't widen the store schema.

    Returns {"received", "after_prep", "after_history_exact",
    "after_history_near_dup", "after_decontaminate", "pushed", "version"}.

    Streaming twin: streaming/corpus.run_corpus_ingest_to_store (exact
    history dedup per micro-batch); this adds the near-dup stage, which
    wants the versioned band index a micro-batch loop maintains between
    pushes anyway.

    Reference: the VenicePushJob + Samza-producer split
    (clients/venice-push-job/src/main/java/com/linkedin/venice/hadoop/VenicePushJob.java:1)
    has no dedup-against-history notion — this is the training-corpus
    extension of W9 incremental push."""
    cfg = config or CorpusPrepConfig()
    # fail every misconfig before any corpus-scale job runs
    if cfg.pack_budget is not None:
        raise ValueError(
            "pack_budget packs documents into training sequences — pack at "
            "EXPORT time, not at ingest (the store keeps documents)"
        )
    handle = engine.store(store)
    have_history = engine.catalog.current_version(store) > 0
    if views is not None and have_history:
        raise ValueError(
            "views are registered at store bootstrap (first batch); this "
            f"store already serves v{engine.catalog.current_version(store)} "
            "— declare views via the store config or a full push"
        )
    if fp_store is not None:
        engine.catalog.get_store(fp_store)  # raises before anything runs
    if band_view is not None:
        if not have_history:
            band_view = None  # nothing to probe yet; the view lands with v1
        else:
            from venice_spark.push import BandIndexViewDef, open_view

            open_view(engine.catalog, store, band_view, BandIndexViewDef)

    in_cols = list(batch.columns)
    stats: dict = {"received": batch.count()}
    last_count = stats["received"]

    persisted: list = []

    def _persist(df: DataFrame) -> DataFrame:
        df.persist()
        persisted.append(df)
        return df

    try:
        kept = _persist(prepare_corpus(batch, text_col, id_col, cfg).select(*in_cols))
        stats["after_prep"] = last_count = kept.count()

        upserts = None
        if have_history:
            # the upsert split: ids already in the store bypass history
            # dedup (split_upserts; existing_ids is batch-bounded)
            existing_ids = _persist(split_upserts(handle, kept, id_col))
            upserts = kept.join(F.broadcast(existing_ids), on=id_col, how="left_semi")
            fresh = kept.join(F.broadcast(existing_ids), on=id_col, how="left_anti")

            if fp_store is not None and engine.catalog.current_version(fp_store) > 0:
                survivors = DD.exact_dedup_incremental(
                    fresh, engine.store(fp_store).df(), text_col, id_col,
                    history_fp_col="fingerprint",
                )
            else:
                survivors = DD.exact_dedup_incremental(
                    fresh, handle.df().select(text_col), text_col, id_col
                )
            kept = _persist(survivors.unionByName(upserts))
            stats["after_history_exact"] = last_count = kept.count()

            if band_view is not None:
                kept = _persist(
                    band_near_dup_filter(
                        handle, kept, existing_ids, id_col, text_col,
                        band_view, near_dup_threshold,
                    )
                )
                stats["after_history_near_dup"] = last_count = kept.count()

        if eval_df is not None:
            kept = _persist(decontaminate(kept, eval_df, text_col, id_col))
            stats["after_decontaminate"] = last_count = kept.count()

        stats["pushed"] = last_count
        if last_count > 0:
            if have_history:
                res = engine.incremental_push(store, kept, eager=eager)
            else:
                res = engine.push(store, kept, views=views)
            stats["version"] = res.version
        else:
            stats["version"] = engine.catalog.current_version(store)

        if fp_store is not None and engine.catalog.current_version(store) > 0:
            # maintain the companion fingerprint index alongside the corpus;
            # runs even on an all-duplicates batch, or a pre-existing corpus
            # would pay the full re-fingerprint fallback on EVERY batch
            # until one happened to survive
            if engine.catalog.current_version(fp_store) > 0:
                if last_count > 0:
                    fps = kept.select(
                        TX.fingerprint(F.col(text_col)).alias("fingerprint")
                    ).dropDuplicates(["fingerprint"])
                    engine.incremental_push(fp_store, fps, eager=eager)
            else:
                # bootstrap the digest table from the WHOLE corpus (which
                # now includes this batch): seeding from the batch alone
                # would leave every pre-existing document unfingerprinted
                # and re-crawls of old content would sail through the
                # anti-join forever (the streaming loop's fp bootstrap
                # closes the same gap). One full-corpus pass, once.
                fps = (
                    engine.store(store)
                    .df()
                    .select(TX.fingerprint(F.col(text_col)).alias("fingerprint"))
                    .dropDuplicates(["fingerprint"])
                )
                engine.push(fp_store, fps, allow_duplicate_key=True)
        return stats
    finally:
        for d in persisted:
            d.unpersist()


_DEFAULT_SPLIT_WEIGHTS = {"train": 0.98, "val": 0.01, "test": 0.01}


def export_training_data(
    engine,
    store: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    version: int | None = None,
    eval_df: DataFrame | None = None,
    rates: dict[str, float] | None = None,
    stratum_col: str | None = None,
    split_weights: dict[str, float] | None = None,
    split_by_col: str | None = None,
    pack_budget: int | None = None,
    n_shards: int = 32,
    split_seed: int = 0,
    shard_seed: int = 1,
    max_records_per_file: int | None = None,
) -> dict:
    """The EXPORT side of the corpus lifecycle — one call from a versioned
    store to training-ready sharded parquet, the mirror of
    ingest_crawl_batch:

      1. read the serving (or a pinned `version`) corpus; rows with NULL
         text are excluded up front (nothing to train on, and the packed
         and unpacked exports must agree on row accounting);
      2. optional benchmark decontamination (eval n-gram set broadcast);
      3. optional domain mixing (stratified_resample over `rates` keyed by
         `stratum_col` — upsampling adds `copy`, and the SHARD key becomes
         id:copy so repeats shuffle as distinct examples, while the SPLIT
         key stays the bare id so every copy of a document lands on the
         same side of the train/val boundary);
      4. train/val/test assignment (assign_splits; pass `split_by_col` —
         e.g. a dup-cluster id or domain — as the leakage guard so
         near-duplicates never straddle the boundary; NULL guard values
         fall back to the row's own id, never to a NULL split);
      5. the training shuffle: hash-shard + in-shard sort by the seeded
         shuffle key (shard_plan — no global orderBy(rand)); with
         `pack_budget`, greedy sequence packing runs PER SPLIT instead
         (packs never mix splits), keyed (shard, pack_id), shard hash
         salted with `shard_seed` for epoch reshuffles;
      6. one partitioned write: out_dir/split=<s>/shard=<n>/ with one
         sorted file sequence per (split, shard) — the layout trainers
         stream (`max_records_per_file` bounds file sizes without
         changing order).

    `split_seed` and `shard_seed` default to DIFFERENT values: both hashes
    share the md5 construction, so equal seeds would correlate shard
    placement with the split thresholds (the resample purpose-salt lesson).

    Writes `_export_manifest.json` (store version, seeds, config, per-split
    rows/tokens) into out_dir when it is a local path — a URI destination
    (s3a://, hdfs://) gets manifest_written=False in the returned dict
    instead of a driver-side crash after the parquet landed. Deterministic:
    re-running the same export reproduces identical content and order."""
    import json
    import os

    if (rates is None) != (stratum_col is None):
        raise ValueError("rates and stratum_col must be passed together")
    v = version if version is not None else engine.catalog.current_version(store)
    if v <= 0:
        raise ValueError(f"store {store!r} has no version to export")
    if split_seed == shard_seed:
        raise ValueError(
            "split_seed and shard_seed must differ — equal seeds correlate "
            "shard placement with the split thresholds (same hash family)"
        )
    weights = split_weights or _DEFAULT_SPLIT_WEIGHTS
    df = engine.store(store).df(v)
    if "partition_id" in df.columns:
        df = df.drop("partition_id")
    df = df.filter(F.col(text_col).isNotNull())

    if eval_df is not None:
        df = decontaminate(df, eval_df, text_col, id_col)

    shard_key = F.col(id_col).cast("string")
    if rates is not None:
        df = stratified_resample(df, stratum_col, rates, id_col)
        # copies are distinct examples for the SHUFFLE only; the split key
        # stays the bare id (independent per-copy split hashes would leak
        # identical text across the train/val boundary)
        shard_key = F.concat(shard_key, F.lit(":"), F.col("copy").cast("string"))
    df = df.withColumn("__xid", shard_key)

    # leakage-guard key: NULL guard values fall back to the row id — a row
    # with no cluster/domain is unconstrained, never a NULL split
    guard = "__skey"
    if split_by_col is not None:
        df = df.withColumn(
            guard,
            F.coalesce(F.col(split_by_col).cast("string"), F.col(id_col).cast("string")),
        )
    else:
        df = df.withColumn(guard, F.col(id_col).cast("string"))
    df = assign_splits(df, guard, weights, seed=split_seed).drop(guard)

    persisted: list = []
    try:
        if pack_budget is not None:
            df = df.withColumn("__nt", TX.token_count(text_col))
            df.persist()
            persisted.append(df)
            # pack PER SPLIT: pack_sequences shards by a hash of the id, so
            # packing the whole frame would build packs mixing train and val
            parts = [
                DD.pack_sequences(
                    df.filter(F.col("split") == s), "__nt", "__xid",
                    budget=pack_budget, n_shards=n_shards, seed=shard_seed,
                )
                for s in weights
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            out = out.drop("__nt")
            order_cols = ["pack_id", "__xid"]  # deterministic in-pack order
        else:
            out = shard_plan(df, "__xid", seed=shard_seed, n_shards=n_shards)
            order_cols = ["shuffle_key", "__xid"]
        out.persist()
        persisted.append(out)

        per_split = {
            r["split"]: {"rows": r["rows"], "tokens": r["tokens"]}
            for r in out.groupBy("split")
            .agg(
                F.count("*").alias("rows"),
                F.sum(TX.token_count(text_col)).alias("tokens"),
            )
            .collect()
        }
        writer = (
            out.repartition(F.col("split"), F.col("shard"))
            .sortWithinPartitions("split", "shard", *order_cols)
            .drop("__xid")
            .write.mode("overwrite")
            .partitionBy("split", "shard")
        )
        if max_records_per_file is not None:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        writer.parquet(out_dir)
    finally:
        for d in persisted:
            d.unpersist()

    manifest = {
        "store": store,
        "version": v,
        "splits": per_split,
        "n_shards": n_shards,
        "pack_budget": pack_budget,
        "split_seed": split_seed,
        "shard_seed": shard_seed,
        "split_by_col": split_by_col,
        "rates": rates,
        "stratum_col": stratum_col,
        "manifest_written": "://" not in out_dir,
    }
    if manifest["manifest_written"]:
        with open(os.path.join(out_dir, "_export_manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def mixture_rates(
    df: DataFrame,
    stratum_col: str,
    weights: dict[str, float],
    token_budget: int | None = None,
    text_col: str = "text",
    max_rate: float | None = None,
) -> dict[str, float]:
    """Per-stratum sampling rates realizing a TARGET MIXTURE under a token
    budget — the data-recipe solver that turns "40% web, 40% code, 20%
    wiki, 300B tokens" into stratified_resample rates:

        rate_s = (weight_s / Σweights) * budget / available_tokens_s

    With token_budget=None the budget is the LARGEST total achievable
    without upsampling anything: the binding stratum (smallest
    available/weight ratio) gets rate 1.0 and everything else downsamples
    to match the mixture. Rates above 1 mean repetition (upsampling —
    stratified_resample emits full + fractional copies); pass `max_rate`
    to cap repetition, accepting that capped strata fall short of their
    target share (the returned rate shows exactly by how much).

    One partial-agg count/sum per stratum collected to the driver (bounded
    by the stratum count, never the corpus) — the same footprint as
    temperature_rates. Strata outside `weights` get rate 0 (dropped by
    stratified_resample's default_rate=0 convention is NOT automatic —
    pass default_rate=0.0 explicitly when exporting a strict mixture).
    Raises if a requested stratum has no tokens: the mixture is
    unrealizable and silently renormalizing would misstate every share."""
    if not weights:
        raise ValueError("weights must name at least one stratum")
    if any(w < 0 for w in weights.values()) or sum(weights.values()) <= 0:
        raise ValueError(f"weights must be non-negative and sum > 0: {weights}")
    avail = {
        # a stratum whose every text is NULL sums to NULL — count it as 0
        # (it may not even be requested; int(None) would crash here)
        r["s"]: int(r["toks"] or 0)
        for r in df.groupBy(F.col(stratum_col).alias("s"))
        .agg(F.sum(TX.token_count(text_col)).alias("toks"))
        .collect()
    }
    missing = [s for s, w in weights.items() if w > 0 and not avail.get(s)]
    if missing:
        raise ValueError(
            f"strata {missing} have no tokens in the corpus — the requested "
            "mixture is unrealizable"
        )
    z = sum(weights.values())
    shares = {s: w / z for s, w in weights.items()}
    if token_budget is None:
        # binding stratum caps the budget at no-upsampling; keep the float
        # (int truncation would push the binding rate below the documented
        # exact 1.0 whenever avail/share is fractional)
        token_budget = min(avail[s] / shares[s] for s in shares if shares[s] > 0)
    rates = {}
    for s, share in shares.items():
        r = (share * token_budget) / avail[s] if share > 0 else 0.0
        if max_rate is not None:
            r = min(r, max_rate)
        rates[s] = round(r, 9)
    return rates
