"""Model-based fuzz of the AA serving lifecycle: random op streams
(PUT / field-level UPDATE / DELETE with random keys, timestamps, colos)
split at random flush boundaries, served through aa_serve's append-LSM
default (checkpoint resume per call, occasional explicit compaction), and
compared after every serve against folding base ∪ all-ops-so-far through
`merge_op_log` in ONE batch. The batch kernel IS the model — the DCR
contract (Merge.java:27-31) says materialization strategy and batching
must never change the result, so any divergence is a real bug in the
stateful path (register persistence, LSM resolution, stamp ordering,
prior-state lookup)."""

import random

import pyspark.sql.functions as F
import pytest

from venice_spark.engine import VeniceSparkEngine

from _crash_schedule import assert_seed_coverage, fuzz_seeds  # noqa: E402

pytestmark = pytest.mark.slow  # release-gate battery: run with SPARK_GRAFT_SLOW=1


OPS_SCHEMA = "k long, op string, ts long, colo int, name string, score double, set_name string, set_score double"
COLS = ["k", "op", "ts", "colo", "name", "score", "set_name", "set_score"]


def _rand_op(rng, next_ts):
    k = rng.randrange(0, 8)
    colo = rng.randrange(0, 3)
    kind = rng.choice(["PUT", "PUT", "UPDATE", "DELETE"])
    op = {"k": k, "op": kind, "ts": next_ts, "colo": colo}
    if kind == "PUT":
        op["name"] = f"n{next_ts}"
        op["score"] = float(next_ts % 13)
    elif kind == "UPDATE":
        if rng.random() < 0.5:
            op["set_name"] = f"u{next_ts}"
        else:
            op["set_score"] = float(next_ts % 7)
    return op


@pytest.mark.parametrize("seed", fuzz_seeds([9, 27]))
def test_aa_serve_fuzz_matches_batch_kernel(spark, tmp_path, seed):
    from venice_spark.merge.dcr import merge_op_log

    rng = random.Random(seed)
    eng = VeniceSparkEngine(spark, str(tmp_path / f"root{seed}"))
    eng.create_store("aa", key_fields=["k"], partition_count=2, active_active=True)
    base_rows = [(i, f"b{i}", float(i)) for i in range(5)]
    eng.push(
        "aa", spark.createDataFrame(base_rows, "k long, name string, score double")
    )
    st = eng.store("aa")
    p = st.producer()

    def batch_expected(all_ops):
        base_ops = st.df().drop("partition_id").select(
            "k", F.lit("PUT").alias("op"), F.lit(0).cast("long").alias("ts"),
            F.lit(0).alias("colo"), "name", "score",
        )
        log = spark.createDataFrame(
            [tuple(o.get(c) for c in COLS) for o in all_ops], OPS_SCHEMA
        )
        out = merge_op_log(
            base_ops.unionByName(log, allowMissingColumns=True),
            ["k"],
            "k long, name string, score double",
        )
        return {r["k"]: (r["name"], r["score"]) for r in out.collect()}

    all_ops, next_ts = [], 100
    # ts assignment decouples from arrival: draw a batch of ops, then
    # shuffle which flush carries them (stale cross-batch arrivals)
    pending = []
    replay = None
    for step in range(10):
        action = rng.choice(["op", "op", "op", "flush_serve", "flush_serve", "compact"])
        if action == "op":
            pending.append(_rand_op(rng, next_ts))
            next_ts += rng.randrange(1, 5)
            rng.shuffle(pending)
        elif action == "flush_serve":
            cut = rng.randint(0, len(pending))
            batch, pending = pending[:cut], pending[cut:]
            for o in batch:
                p._buffer.append(o)
            if batch:
                p.flush(schema=OPS_SCHEMA)
            all_ops.extend(batch)
            replay = st.aa_serve(["name", "score"], compact_every=3)
            got = {
                r["k"]: (r["name"], r["score"]) for r in replay.read().collect()
            }
            assert got == batch_expected(all_ops), f"seed {seed} step {step}"
        elif action == "compact" and replay is not None:
            replay.compact()
            got = {
                r["k"]: (r["name"], r["score"]) for r in replay.read().collect()
            }
            assert got == batch_expected(all_ops), f"seed {seed} step {step} compact"

    for o in pending:
        p._buffer.append(o)
    if pending:
        p.flush(schema=OPS_SCHEMA)
        all_ops.extend(pending)
    final = {
        r["k"]: (r["name"], r["score"])
        for r in st.aa_serve(["name", "score"], compact_every=3).read().collect()
    }
    assert final == batch_expected(all_ops), f"seed {seed} final"


@pytest.mark.parametrize("seed", fuzz_seeds([17]))
def test_aa_serve_fuzz_with_crash_schedule(spark, tmp_path, seed):
    """VERDICT r6 #4: the AA lifecycle fuzz with compactions killed at a
    SCHEDULED filesystem mutation (nth rename/replace/move/unlink, swept
    by the seed) instead of hand-picked points. Compaction is
    content-neutral under the r7 append+deferred-GC protocol, so after
    every crashed-or-completed compact the served view must still equal
    the one-batch DCR kernel over base ∪ all ops."""
    from _crash_schedule import run_with_crash

    from venice_spark.merge.dcr import merge_op_log

    rng = random.Random(seed)
    eng = VeniceSparkEngine(spark, str(tmp_path / f"rootc{seed}"))
    eng.create_store("aa", key_fields=["k"], partition_count=2, active_active=True)
    base_rows = [(i, f"b{i}", float(i)) for i in range(5)]
    eng.push(
        "aa", spark.createDataFrame(base_rows, "k long, name string, score double")
    )
    st = eng.store("aa")
    p = st.producer()

    def batch_expected(all_ops):
        base_ops = st.df().drop("partition_id").select(
            "k", F.lit("PUT").alias("op"), F.lit(0).cast("long").alias("ts"),
            F.lit(0).alias("colo"), "name", "score",
        )
        log = spark.createDataFrame(
            [tuple(o.get(c) for c in COLS) for o in all_ops], OPS_SCHEMA
        )
        out = merge_op_log(
            base_ops.unionByName(log, allowMissingColumns=True),
            ["k"],
            "k long, name string, score double",
        )
        return {r["k"]: (r["name"], r["score"]) for r in out.collect()}

    all_ops, next_ts = [], 100
    pending = []
    replay = None
    outcomes = set()
    for step in range(12):
        action = rng.choice(
            ["op", "op", "flush_serve", "flush_serve", "crash_compact", "crash_compact"]
        )
        if action == "op":
            pending.append(_rand_op(rng, next_ts))
            next_ts += rng.randrange(1, 5)
            rng.shuffle(pending)
        elif action == "flush_serve":
            cut = rng.randint(0, len(pending))
            batch, pending = pending[:cut], pending[cut:]
            for o in batch:
                p._buffer.append(o)
            if batch:
                p.flush(schema=OPS_SCHEMA)
            all_ops.extend(batch)
            replay = st.aa_serve(["name", "score"], compact_every=3)
            got = {r["k"]: (r["name"], r["score"]) for r in replay.read().collect()}
            assert got == batch_expected(all_ops), f"seed {seed} step {step}"
        elif action == "crash_compact" and replay is not None:
            outcomes.add(
                run_with_crash(
                    replay.compact, nth=rng.randint(1, 14), path_filter="aa_serving"
                )
            )
            # a fresh handle (checkpoint resume path) must self-serve the
            # exact kernel answer whether the compact crashed or landed
            replay = st.aa_serve(["name", "score"], compact_every=3)
            got = {r["k"]: (r["name"], r["score"]) for r in replay.read().collect()}
            assert got == batch_expected(all_ops), (
                f"seed {seed} step {step} post-crash-compact"
            )

    for o in pending:
        p._buffer.append(o)
    if pending:
        p.flush(schema=OPS_SCHEMA)
        all_ops.extend(pending)
    final = {
        r["k"]: (r["name"], r["score"])
        for r in st.aa_serve(["name", "score"], compact_every=3).read().collect()
    }
    assert final == batch_expected(all_ops), f"seed {seed} final"
    # accounting: the committed seed must cover both schedule outcomes
    assert_seed_coverage(
        outcomes == {"crashed", "completed"},
        f"seed {seed} stopped covering both schedule outcomes: {outcomes}",
    )
