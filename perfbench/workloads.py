"""The benchmark's two workloads against `venice_spark`'s public API.

Each workload is a closed loop with one client: the next op is sent only
after the previous one returned and its result was checked. The loop runs
whole rounds of a fixed op composition (keys and order seeded), as many as
the run's seconds fit, so every run has the same mix whatever its length.

  serve   read-only: get / batch_get on lineitem, compute on embeddings,
          aggregate on lineitem; no delta log, no writes
  ingest  every write path: a full BatchPushJob push, lazy incremental
          pushes (one compaction per round) with gets of the written keys,
          producer -> hybrid_serve -> read-back, then operator queries from
          plans.reference_queries checked against golden digests
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from perfbench import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN_PATH = os.path.join(HERE, "golden.json")

BULK_QUERIES = [
    "x_fuzzy_key_pairs",
    "x_knn_join_lsh",
    "x_tfidf_terms",
    "x_frame_dedup_gate",
    "w7_dcr_merge",
]
CORPUS_SEED = 42  # the operator corpus is fixed so golden digests apply
LI_KEY = ["l_orderkey", "l_linenumber"]


@dataclass
class Sizes:
    """Input sizes; `scale` 1.0 is the engine's sf0.1 test-table size."""

    scale: float
    orders: int = 0
    vectors: int = 0
    hybrid_rows: int = 0

    def __post_init__(self):
        self.orders = max(200, int(150_000 * self.scale))
        self.vectors = max(100, int(2_000 * self.scale))
        self.hybrid_rows = max(500, int(100_000 * self.scale))


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    seconds: float
    sizes: Sizes
    tmp: str
    setup_reps: int
    lat: dict = field(default_factory=lambda: defaultdict(list))
    attempted: int = 0
    failed: int = 0
    setup_s: list = field(default_factory=list)
    warmup_s: float = 0.0
    loop_s: float = 0.0
    loop_cpu_s: float = 0.0
    rounds_run: int = 0
    facts: dict = field(default_factory=dict)  # per-layer numbers read from disk

    def jvm_gc(self) -> None:
        self.spark.sparkContext._jvm.System.gc()

    def op(self, kind: str, fn, check) -> None:
        """One closed-loop op: time `fn`, then check its result outside the
        timed region. A raise or a failed check counts against `failed`;
        the loop carries on either way."""
        self.attempted += 1
        try:
            with self.tracer.span(f"op.{kind}"):
                t0 = time.perf_counter()
                result = fn()
                dt = time.perf_counter() - t0
            self.lat[kind].append(dt)
            problem = check(result)
        except Exception:
            problem = traceback.format_exc(limit=3)
        if problem:
            self.failed += 1
            print(f"perfbench: {kind} failed: {problem}", flush=True)

    def timed_setup(self, build):
        """Run `build(root)` `setup_reps` times, each into a fresh engine
        root, recording each wall, and keep the last one's result. The
        first copy pays the JVM's first-touch JIT and codegen; the median
        wall is that of a warm copy."""
        kept = None
        for _ in range(self.setup_reps):
            if kept is not None:
                shutil.rmtree(kept[0], ignore_errors=True)
            root = tempfile.mkdtemp(prefix="setup-", dir=self.tmp)
            with self.tracer.span("setup"):
                t0 = time.perf_counter()
                result = build(root)
                os.sync()  # push writeback lands here, not under timed reads
                self.setup_s.append(time.perf_counter() - t0)
            kept = (root, result)
        time.sleep(0.5)
        return kept[1]

    def warmup(self, fn) -> None:
        """Run `fn` on the kept copy before the timed loop, dropping the
        latencies of any ops it runs, so JIT, codegen, the Python workers
        and each store's first-touch reads are paid before timing starts
        (a single pass per op kind left the first timed round 1.5-2x
        slower than the rounds after it)."""
        self.tracer.phase = "warmup"
        t0 = time.perf_counter()
        fn()
        self.warmup_s = time.perf_counter() - t0
        self.lat.clear()
        self.tracer.phase = "loop"

    def rounds(self, one_round, round_s: float) -> None:
        """The timed loop: as many whole rounds as fit in `seconds` at a
        round's typical wall `round_s`, at least one. The count depends on
        `seconds` alone, so a run does the same work however busy the host
        is (stopping on the clock let a busy host cut a run from two rounds
        to one, and the per-op figures moved with it)."""
        self.tracer.phase = "loop"
        self.rounds_run = max(1, round(self.seconds / round_s))
        t0, cpu0 = time.perf_counter(), tree_cpu_s()
        for _ in range(self.rounds_run):
            self.jvm_gc()
            one_round()
        self.loop_s = time.perf_counter() - t0
        self.loop_cpu_s = tree_cpu_s() - cpu0


def _stat(path: str) -> tuple[str, int, int]:
    """(name, parent pid, CPU clock ticks incl. reaped children) of a
    /proc stat file."""
    with open(path) as fh:
        raw = fh.read()
    name, rest = raw[raw.index("(") + 1 : raw.rindex(")")], raw[raw.rindex(")") + 2 :].split()
    return name, int(rest[1]), sum(int(x) for x in rest[11:15])  # utime stime cutime cstime


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    Spark JVM, the Python daemon and workers), less the JVM's JIT compiler
    threads: compiling is the JVM's warm-up, not work done per op, and how
    much of it is still pending varies from run to run."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                procs[int(d)] = _stat(f"/proc/{d}/stat")
            except OSError:  # exited meanwhile
                pass
    tree, grew = {os.getpid()}, True
    while grew:
        kids = {p for p, (_, ppid, _) in procs.items() if ppid in tree} - tree
        tree |= kids
        grew = bool(kids)
    ticks = sum(procs[p][2] for p in tree if p in procs)
    for p in tree:
        if procs.get(p, ("",))[0] != "java":
            continue
        for t in os.listdir(f"/proc/{p}/task"):
            try:
                name, _, t_ticks = _stat(f"/proc/{p}/task/{t}/stat")
            except OSError:
                continue
            if "CompilerThre" in name:  # "C1/C2 CompilerThread<n>", cut to 15 chars
                ticks -= t_ticks
    return ticks / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- checks


def _row_matches(row, expected: dict) -> str | None:
    if row is None:
        return f"missing row for {expected['l_orderkey'], expected['l_linenumber']}"
    got = row.asDict()
    bad = {k: (got.get(k), v) for k, v in expected.items() if got.get(k) != v}
    return f"row mismatch {bad}" if bad else None


class Lineitem:
    """The generated lineitem table held by the driver, plus the overrides
    written since; it answers what any key should read as."""

    def __init__(self, path: str, seed: int, orders: int):
        self.path = path
        self.table = datagen.lineitem(seed, orders)
        pq.write_table(self.table, path)
        self.orders = orders
        keys = self.table.column("l_orderkey").to_numpy()
        self.lines = np.bincount(keys, minlength=orders)
        self.starts = np.cumsum(self.lines) - self.lines
        self.cols = self.table.column_names
        self.overrides: dict[tuple, dict] = {}

    def row(self, key) -> dict | None:
        o, ln = key
        if o >= self.orders or not 1 <= ln <= self.lines[o]:
            return None
        if key in self.overrides:
            return self.overrides[key]
        i = int(self.starts[o] + ln - 1)
        return {c: self.table.column(c)[i].as_py() for c in self.cols}

    def sample_keys(self, rng, n: int, zipf: bool = False, absent: float = 0.0) -> list[tuple]:
        """`n` keys; Zipf-skewed over orders when `zipf`, with about
        `absent` of them missing from the store."""
        out = []
        for _ in range(n):
            if rng.random() < absent:
                out.append((int(self.orders + rng.integers(0, self.orders)), 1))
                continue
            o = int((rng.zipf(1.3) - 1) % self.orders) if zipf else int(rng.integers(0, self.orders))
            out.append((o, int(rng.integers(1, self.lines[o] + 1))))
        return out


def _check_get(li: Lineitem, key):
    def check(row):
        want = li.row(key)
        if want is None:
            return None if row is None else f"absent key {key} returned {row}"
        return _row_matches(row, want)

    return check


def _check_batch(li: Lineitem, keys):
    def check(rows):
        want = {k for k in keys if li.row(k) is not None}
        got = {(r["l_orderkey"], r["l_linenumber"]): r for r in rows}
        if set(got) != want or len(rows) != len(want):
            return f"batch_get returned {len(rows)} rows for {len(want)} existing keys"
        for k, r in got.items():
            problem = _row_matches(r, li.row(k))
            if problem:
                return problem
        return None

    return check


# ---------------------------------------------------------------- serve


def serve(ctx: Ctx) -> None:
    from venice_spark import VeniceSparkEngine

    spark, sizes = ctx.spark, ctx.sizes
    li = Lineitem(os.path.join(ctx.tmp, "lineitem.parquet"), ctx.seed, sizes.orders)
    emb_table = datagen.embeddings(ctx.seed + 7, sizes.vectors)
    emb_path = os.path.join(ctx.tmp, "embeddings.parquet")
    pq.write_table(emb_table, emb_path)
    vectors = np.stack(emb_table.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    labels = emb_table.column("label").to_numpy()

    def build(root):
        eng = VeniceSparkEngine(spark, root)
        eng.create_store("lineitem", key_fields=LI_KEY, partition_count=32)
        eng.push("lineitem", spark.read.parquet(li.path))
        eng.create_store("embeddings", key_fields=["vec_id"], partition_count=8)
        eng.push("embeddings", spark.read.parquet(emb_path))
        return eng

    eng = ctx.timed_setup(build)
    store, vstore = eng.store("lineitem"), eng.store("embeddings")
    rng = np.random.default_rng(ctx.seed)
    agg_fields = ["l_returnflag", "l_linestatus", "l_linenumber", "l_discount", "l_tax"]
    agg_truth = {
        f: sorted(
            zip(*np.unique(li.table.column(f).to_numpy(zero_copy_only=False), return_counts=True)),
            key=lambda vc: (-vc[1], vc[0]),
        )
        for f in agg_fields
    }

    def do_get(key):
        ctx.op("get", lambda: store.get(key), _check_get(li, key))

    def do_batch(keys):
        ctx.op("batch_get", lambda: store.batch_get(keys).collect(), _check_batch(li, keys))

    def do_compute(ids, q):
        def run():
            return (
                vstore.compute()
                .project("label")
                .dot_product("embedding", q, "dot")
                .cosine_similarity("embedding", q, "cos")
                .execute(ids)
                .collect()
            )

        def check(rows):
            want = {i for i in ids if i < sizes.vectors}
            if {r["vec_id"] for r in rows} != want or len(rows) != len(want):
                return f"compute returned {len(rows)} rows for {len(want)} keys"
            qv = np.asarray(q)
            for r in rows:
                x = vectors[r["vec_id"]]
                dot = float(x @ qv)
                cos = dot / (np.linalg.norm(x) * np.linalg.norm(qv))
                if r["label"] != labels[r["vec_id"]] or not (
                    np.isclose(r["dot"], dot, rtol=1e-5, atol=1e-5)
                    and np.isclose(r["cos"], cos, rtol=1e-5, atol=1e-5)
                ):
                    return f"compute mismatch at {r['vec_id']}: {r['dot']} vs {dot}, {r['cos']} vs {cos}"
            return None

        ctx.op("compute", run, check)

    def do_aggregate(fields, top_k):
        def run():
            out = store.aggregate().count_group_by_value(top_k, *fields)
            return {f: [(r["value"], r["count"]) for r in df.collect()] for f, df in out.items()}

        def check(got):
            for f in fields:
                want = [(v.item() if hasattr(v, "item") else v, int(c)) for v, c in agg_truth[f][:top_k]]
                if got[f] != want:
                    return f"aggregate {f}: {got[f]} != {want}"
            return None

        ctx.op("aggregate", run, check)

    def one_round(gets=20, batches=2):
        plan = (
            [("get", k) for k in li.sample_keys(rng, gets, zipf=True, absent=0.05)]
            + [("batch_get", li.sample_keys(rng, 100, absent=0.05)) for _ in range(batches)]
            + [("compute", None), ("aggregate", None)]
        )
        for i in rng.permutation(len(plan)):
            kind, arg = plan[i]
            if kind == "get":
                do_get(arg)
            elif kind == "batch_get":
                do_batch(list(dict.fromkeys(arg)))
            elif kind == "compute":
                ids = [int(i) for i in rng.choice(sizes.vectors + 5, 50, replace=False)]
                do_compute(ids, [float(v) for v in rng.normal(size=datagen.DIM)])
            else:
                picks = rng.choice(len(agg_fields), 2, replace=False)
                do_aggregate([agg_fields[i] for i in picks], 3)

    ctx.warmup(lambda: one_round(gets=10, batches=1))  # every op kind, half the gets
    ctx.rounds(one_round, round_s=6.5)


# ---------------------------------------------------------------- ingest


def digest(df):
    """(rows, order-insensitive hash) of a frame: the sum of per-row
    xxhash64 over every column, floats rounded to 6 places (+0.0 folds -0.0
    into 0.0). Computing it forces every output column, as a noop write
    does. The queries' outputs are flat rows of scalars."""
    import pyspark.sql.functions as F
    import pyspark.sql.types as T

    cols = [
        F.round(F.col(f"`{f.name}`").cast("double"), 6) + F.lit(0.0)
        if isinstance(f.dataType, (T.FloatType, T.DoubleType))
        else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), str(row["h"] or 0)


def load_golden(scale: float) -> dict:
    with open(GOLDEN_PATH) as fh:
        return json.load(fh)[repr(scale)]


def ingest(ctx: Ctx, golden: dict) -> None:
    import pyspark.sql.functions as F

    from venice_spark import VeniceSparkEngine
    from venice_spark.plans.reference_queries import QUERIES

    spark, sizes = ctx.spark, ctx.sizes
    li = Lineitem(os.path.join(ctx.tmp, "lineitem.parquet"), ctx.seed, sizes.orders)
    in_bytes = os.path.getsize(li.path)
    schema = spark.read.parquet(li.path).schema
    corpus = datagen.write_corpus(os.path.join(ctx.tmp, "corpus"), CORPUS_SEED, sizes.scale)
    n_h = sizes.hybrid_rows
    hyb_path = os.path.join(ctx.tmp, "hybrid.parquet")
    hrng = np.random.default_rng(ctx.seed + 11)
    pq.write_table(
        datagen.pa.table({"k": np.arange(n_h, dtype=np.int64), "v": np.round(hrng.uniform(0, 1000, n_h), 3)}),
        hyb_path,
    )
    threshold = 2  # every second lazy push compacts, inside the loop
    rt_schema = "k long, op string, ts long, colo int, v double"

    def build(root):
        # what the loop's writes start from: an empty lineitem store (the
        # round's first op is its full push) and the hybrid store pushed
        # with its serving log seeded
        eng = VeniceSparkEngine(spark, root)
        eng.create_store(
            "lineitem", key_fields=LI_KEY, partition_count=32, delta_compact_threshold=threshold
        )
        eng.create_store("hyb", key_fields=["k"], partition_count=8, hybrid=True)
        eng.push("hyb", spark.read.parquet(hyb_path))
        eng.store("hyb").hybrid_serve(compact_every=2)
        return eng

    eng = ctx.timed_setup(build)
    store, hstore = eng.store("lineitem"), eng.store("hyb")
    rng = np.random.default_rng(ctx.seed)
    tick = [0]

    def push():
        def check(res):
            li.overrides.clear()  # a full push replaces every value
            if res.rows != li.table.num_rows:
                return f"push wrote {res.rows} rows, want {li.table.num_rows}"
            vdir = eng.catalog.version_dir("lineitem", res.version)
            out_bytes = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(vdir) for f in fs)
            ctx.facts.setdefault("push.write_amp", []).append(out_bytes / in_bytes)
            keys = li.sample_keys(rng, 20, absent=0.1)
            return _check_batch(li, keys)(store.batch_get(keys).collect())

        ctx.op("push", lambda: eng.push("lineitem", spark.read.parquet(li.path)), check)
        os.sync()

    def incr_push():
        keys = list(dict.fromkeys(li.sample_keys(rng, 500)))
        rows = []
        for k in keys:
            row = dict(li.row(k))
            tick[0] += 1
            row["l_extendedprice"] = round(float(rng.uniform(900, 105_000)), 2) + tick[0] * 1e-6
            row["l_quantity"] = float(rng.integers(1, 51))
            rows.append(row)
        delta = spark.createDataFrame([tuple(r[c] for c in schema.names) for r in rows], schema)

        def check(res):
            for r in rows:
                li.overrides[(r["l_orderkey"], r["l_linenumber"])] = r
            # a compacting push reports the whole store's rows
            ok = res.rows in (len(rows), li.table.num_rows)
            return None if ok else f"incremental push wrote {res.rows} rows"

        ctx.op("incr_push", lambda: eng.incremental_push("lineitem", delta, eager=False), check)
        return keys

    def rt_visible():
        keys = [int(k) for k in rng.choice(n_h, 100, replace=False)]
        new = {k: round(float(rng.uniform(0, 1000)), 3) + 2000.0 for k in keys}
        p = hstore.producer()
        for k in keys:
            p.put(k, {"v": new[k]})

        def run():
            p.flush(schema=rt_schema)
            replay = hstore.hybrid_serve(compact_every=2)
            with ctx.tracer.span("rt.read_back"):
                return replay.read().filter(F.col("k").isin(keys)).collect()

        def check(rows):
            got = {r["k"]: r["v"] for r in rows}
            stale = sum(got.get(k) != v for k, v in new.items())
            return None if got == new else f"hybrid read-back: {len(got)} rows, {stale} stale"

        ctx.op("rt_visible", run, check)

    def plan(q):
        def run():
            with ctx.tracer.span(f"plans.{q}.build"):
                df = QUERIES[q](spark, corpus)
            return digest(df)

        def check(got):
            want = golden[q]
            if got[0] != want["rows"] or (want["hash"] is not None and got[1] != want["hash"]):
                return f"{q}: got {got}, golden {want}"
            return None

        ctx.jvm_gc()
        ctx.op(f"plan.{q}", run, check)

    def one_round():
        # full push; then lazy pushes: the first leaves a live delta slot
        # under its gets, the second compacts; the second hybrid trigger
        # compacts the serving log; then the operator pipeline
        push()
        for _ in range(threshold):
            written = incr_push()
            for j in rng.choice(len(written), 2, replace=False):
                key = written[j]
                ctx.op("get", lambda key=key: store.get(key), _check_get(li, key))
            rt_visible()
        for q in BULK_QUERIES:
            plan(q)

    def warm():
        # every write and read path once at a small size, the corpus
        # tables read once, and the Python workers the queries'
        # mapInPandas stages use
        for name in ("documents", "embeddings", "events", "customer", "orders"):
            spark.read.parquet(os.path.join(corpus, f"{name}.parquet")).count()
        eng.push("lineitem", spark.read.parquet(li.path).limit(20_000))
        row = li.row((0, 1))
        delta = spark.createDataFrame([tuple(row[c] for c in schema.names)], schema)
        eng.incremental_push("lineitem", delta, eager=False)
        store.get((0, 1))
        p = hstore.producer()
        p.put(0, {"v": 1.0})
        p.flush(schema=rt_schema)
        hstore.hybrid_serve(compact_every=2).read().filter(F.col("k") == 0).collect()
        spark.range(10_000).repartition(4).mapInPandas(lambda it: it, schema="id long").collect()

    ctx.warmup(warm)
    ctx.rounds(one_round, round_s=25.0)
    rt_dir = eng.catalog.update_log_dir("hyb")
    ctx.facts["producer.rt_log_files"] = sum(f.endswith(".parquet") for _, _, fs in os.walk(rt_dir) for f in fs)
    from venice_spark.streaming.hybrid import list_log_data_files

    ctx.facts["streaming.hybrid.log_files"] = len(
        list_log_data_files(os.path.join(eng.catalog.store_dir("hyb"), "serving"))
    )
