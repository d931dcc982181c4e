"""Seed-swept CROSS-PROCESS SIGKILL fuzz battery (VERDICT r9 next #2).

Round 9's two scripted cross-process tests (test_writer_lock_multiprocess,
test_real_sigkill) found two real bugs eight in-process fuzzers had missed
for three rounds — the flush `_temporary` staging race and dead-staging
resurrection. This generalizes them: a CHILD process (own JVM, own
SparkSession) runs a seed-chosen loop of producer flushes and serving-LSM
compacts; the PARENT concurrently serves, compacts, reads, and runs
`admin recover --clean-staging` (which now waits on the store lock), then
SIGKILLs the child at a seed-chosen progress point plus a sub-second
jitter — so the kill lands inside arbitrary protocol windows (parquet job
commit, sidecar replace, compact staging merge, GC-manifest update).

Seams swept per iteration:
  - cross-process compact-vs-flush-vs-trigger on the store flock,
  - GC-vs-reader (parent's pure reads race the child's deferred GC),
  - `admin recover --clean-staging` vs a live writer (lock wait),
  - SIGKILL at an arbitrary instant (no cleanup handler, kernel stop).

Model: child flushes are single-row PUTs to UNIQUE keys in a reserved
band with deterministic values (k = BAND+j -> v = f(j)), each flush one
atomic file, so the keys present after the kill identify EXACTLY which
flushes landed; compact kills are content-invisible by protocol. The
final served view must equal the batch kernel over
base + parent ops + landed child flushes — anything else is a real bug.

Reference analogue: the integration suite runs real multi-process
clusters and kills participants
(internal/venice-test-common/src/integrationTest/.../utils/
VeniceClusterWrapper.java).

Swept under SPARK_GRAFT_FUZZ_SEEDS like the in-process batteries.
"""

import os
import random
import signal
import subprocess
import sys
import time

import pytest

from venice_spark.engine import VeniceSparkEngine

from _crash_schedule import assert_seed_coverage, fuzz_seeds  # noqa: E402

pytestmark = pytest.mark.slow  # release-gate battery: run with SPARK_GRAFT_SLOW=1

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_HYBRID_CHILD = r'''
import os, random, sys
sys.path.insert(0, {repo!r})
from venice_spark.session import get_spark
from venice_spark.catalog import StoreCatalog
from venice_spark.producer import VeniceProducer
from venice_spark.streaming.hybrid import HybridReplay

root, ready, progress, seed = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
rng = random.Random(seed)
spark = get_spark("xkill_hybrid_child")
cat = StoreCatalog(root)
serving = os.path.join(cat.store_dir("s"), "serving")
replay = HybridReplay(spark, cat, "s", serving)
p = VeniceProducer(spark, cat, "s", colo=1)
open(ready, "w").write("up")
i = j = 0
while True:  # killed from outside; never exits on its own
    kind = rng.choice(["flush", "flush", "compact"])
    if kind == "flush":
        p.put(1000 + j, {{"v": float(j)}}, ts=50000 + j)
        p.flush(schema="k long, op string, ts long, colo int, v double")
        j += 1
    elif os.path.isdir(serving):
        replay.compact()
    with open(progress, "a") as f:
        f.write(f"{{i}} {{kind}}\n")
        f.flush()
    i += 1
'''

_AA_CHILD = r'''
import os, random, sys
sys.path.insert(0, {repo!r})
from venice_spark.session import get_spark
from venice_spark.catalog import StoreCatalog
from venice_spark.producer import VeniceProducer
from venice_spark.streaming.aa import ActiveActiveReplay

root, ready, progress, seed = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
rng = random.Random(seed)
spark = get_spark("xkill_aa_child")
cat = StoreCatalog(root)
serving = os.path.join(cat.store_dir("aa"), "aa_serving")
replay = ActiveActiveReplay(spark, cat, "aa", serving, ["name", "score"])
p = VeniceProducer(spark, cat, "aa", colo=2)
open(ready, "w").write("up")
i = j = 0
while True:  # killed from outside
    kind = rng.choice(["flush", "flush", "compact"])
    if kind == "flush":
        p.put(2000 + j, {{"name": f"c{{j}}", "score": float(j)}}, ts=50000 + j)
        p.flush(schema="k long, op string, ts long, colo int, name string, score double")
        j += 1
    elif os.path.isdir(serving):
        replay.compact()
    with open(progress, "a") as f:
        f.write(f"{{i}} {{kind}}\n")
        f.flush()
    i += 1
'''


def _launch_child(tmp_path, script_body, root, seed):
    ready = str(tmp_path / "child_ready")
    progress = str(tmp_path / "child_progress")
    script = str(tmp_path / "child.py")
    with open(script, "w") as f:
        f.write(script_body.format(repo=REPO))
    # file, not pipe: an undrained 64KB pipe can block a chatty child JVM
    # mid-write while it holds the store flock (code-review r9)
    log = open(str(tmp_path / "child.log"), "w")
    child = subprocess.Popen(
        [sys.executable, script, root, ready, progress, str(seed)],
        stdout=log,
        stderr=subprocess.STDOUT,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4", "PYTHONPATH": REPO},
    )
    return child, ready, progress, log


def _await_ready(child, ready):
    deadline = time.time() + 180
    while not os.path.exists(ready):
        assert child.poll() is None, "child died before ready"
        assert time.time() < deadline, "child spark never came up"
        time.sleep(0.2)


def _progress_count(progress):
    try:
        with open(progress) as f:
            return sum(1 for _ in f)
    except OSError:
        return 0


def _kill_at(child, progress, kill_after, jitter):
    """Block until the child has completed `kill_after` ops, then SIGKILL
    it `jitter` seconds later — inside the NEXT op's protocol window."""
    deadline = time.time() + 300
    while _progress_count(progress) < kill_after:
        assert child.poll() is None, "child died before the kill point"
        assert time.time() < deadline, "child never reached the kill point"
        time.sleep(0.05)
    time.sleep(jitter)
    os.kill(child.pid, signal.SIGKILL)
    child.wait(timeout=30)
    assert child.returncode == -signal.SIGKILL


def _admin():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "admin_xkill", os.path.join(REPO, "tools", "admin.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("seed", fuzz_seeds([11, 23]))
def test_cross_process_kill_hybrid_fuzz(spark, tmp_path, seed):
    from venice_spark.streaming.hybrid import HybridReplay

    rng = random.Random(seed)
    root = str(tmp_path / "cat")
    eng = VeniceSparkEngine(spark, root)
    eng.create_store("s", key_fields=["k"], hybrid=True)
    eng.push("s", spark.createDataFrame([(1, -1.0), (2, -2.0)], "k long, v double"))
    st = eng.store("s")
    p = st.producer()
    p.put(3, {"v": -3.0}, ts=10)
    p.flush(schema="k long, op string, ts long, colo int, v double")
    st.hybrid_serve()
    serving = os.path.join(eng.catalog.store_dir("s"), "serving")

    child, ready, progress, log = _launch_child(
        tmp_path, _HYBRID_CHILD, root, seed + 1000
    )
    parent_ops = {}  # k -> (ts, v), parent ts band strictly increasing
    try:
        _await_ready(child, ready)
        kill_after = rng.randrange(2, 7)
        t = 0
        # parent works WHILE waiting for the child to reach the kill point
        while _progress_count(progress) < kill_after:
            assert child.poll() is None, "child died early"
            act = rng.choice(["flush", "serve", "read", "compact", "recover"])
            if act == "flush":
                k = 1 + (t % 5)
                p.put(k, {"v": float(100 + t)}, ts=1000 + t)
                parent_ops[k] = (1000 + t, float(100 + t))
                p.flush(schema="k long, op string, ts long, colo int, v double")
                t += 1
            elif act == "serve":
                st.hybrid_serve()
            elif act == "read":
                # GC-vs-reader seam: a pure read racing the child's
                # compact + deferred GC must neither throw nor lose base
                rows = {
                    r["k"]: r["v"]
                    for r in HybridReplay(spark, eng.catalog, "s", serving)
                    .read()
                    .collect()
                }
                assert 1 in rows and 2 in rows, rows
            elif act == "compact":
                st.hybrid_serve().compact()
            else:
                # recover vs LIVE writer: must wait on the lock, not
                # delete the child's in-flight staging (ADVICE r10 fix)
                assert _admin().main([root, "recover", "s", "--clean-staging"]) == 0
        _kill_at(child, progress, kill_after, rng.uniform(0, 0.5))
    finally:
        if child.poll() is None:
            child.kill()
        log.close()

    # 1. reads survive the kill
    rows = {r["k"]: r["v"] for r in st.hybrid_serve().read().collect()}

    # 2. ops healing exits clean and leaves content untouched
    assert _admin().main([root, "recover", "s", "--clean-staging"]) == 0
    rows2 = {r["k"]: r["v"] for r in st.hybrid_serve().read().collect()}
    assert rows2 == rows, "recovery changed served content"

    # 3. model consistency: latest-wins over base + parent ops + exactly
    # the child flushes that landed (unique key band identifies them)
    expect = {1: -1.0, 2: -2.0, 3: -3.0}
    for k, (_ts, v) in parent_ops.items():
        expect[k] = v
    child_keys = sorted(k for k in rows if k >= 1000)
    for k in child_keys:
        expect[k] = float(k - 1000)
    assert rows == expect, {
        k: (rows.get(k), expect.get(k))
        for k in set(rows) | set(expect)
        if rows.get(k) != expect.get(k)
    }

    # 4. the store keeps working after the kill
    p.put(7, {"v": -7.0}, ts=99999)
    p.flush(schema="k long, op string, ts long, colo int, v double")
    final = {r["k"]: r["v"] for r in st.hybrid_serve().read().collect()}
    assert final[7] == -7.0
    assert {k: v for k, v in final.items() if k != 7} == {
        k: v for k, v in rows.items() if k != 7
    }
    assert_seed_coverage(
        len(child_keys) >= 1,
        f"seed {seed}: kill landed before any child flush",
    )


@pytest.mark.parametrize("seed", fuzz_seeds([7, 40]))
def test_cross_process_kill_aa_fuzz(spark, tmp_path, seed):
    """Two AA writers in separate processes (the last un-swept seam the
    r9 verdict named): the parent runs the only streaming AA serve while
    the child flushes cross-colo PUTs and compacts the same AA log, then
    dies by SIGKILL. The DCR contract says batching and materialization
    must never change the result, so the final view must equal the batch
    kernel over base + parent ops + landed child PUTs."""
    import pyspark.sql.functions as F

    from venice_spark.merge.dcr import merge_op_log

    rng = random.Random(seed)
    root = str(tmp_path / "cat")
    eng = VeniceSparkEngine(spark, root)
    eng.create_store("aa", key_fields=["k"], partition_count=2, active_active=True)
    eng.push(
        "aa",
        spark.createDataFrame(
            [(i, f"b{i}", float(i)) for i in range(5)],
            "k long, name string, score double",
        ),
    )
    st = eng.store("aa")
    p = st.producer()  # parent producer: colo 0 (default)
    st.aa_serve(["name", "score"], compact_every=3)

    child, ready, progress, log = _launch_child(tmp_path, _AA_CHILD, root, seed + 1000)
    OPS = "k long, op string, ts long, colo int, name string, score double"
    parent_ops = []
    try:
        _await_ready(child, ready)
        kill_after = rng.randrange(2, 6)
        t = 0
        while _progress_count(progress) < kill_after:
            assert child.poll() is None, "child died early"
            act = rng.choice(["flush", "serve", "compact"])
            if act == "flush":
                k = t % 6
                kind = rng.choice(["PUT", "PUT", "DELETE"])
                if kind == "PUT":
                    p.put(k, {"name": f"p{t}", "score": float(t)}, ts=1000 + t)
                    parent_ops.append((k, "PUT", 1000 + t, 0, f"p{t}", float(t)))
                else:
                    p.delete(k, ts=1000 + t)
                    parent_ops.append((k, "DELETE", 1000 + t, 0, None, None))
                p.flush(schema=OPS)
                t += 1
            elif act == "serve":
                st.aa_serve(["name", "score"], compact_every=3)
            else:
                st.aa_serve(["name", "score"], compact_every=3).compact()
        _kill_at(child, progress, kill_after, rng.uniform(0, 0.5))
    finally:
        if child.poll() is None:
            child.kill()
        log.close()

    # final serve folds everything that landed; healing is content-neutral
    replay = st.aa_serve(["name", "score"], compact_every=3)
    rows = {r["k"]: (r["name"], r["score"]) for r in replay.read().collect()}
    assert _admin().main([root, "recover", "aa", "--clean-staging"]) == 0
    rows2 = {
        r["k"]: (r["name"], r["score"])
        for r in st.aa_serve(["name", "score"]).read().collect()
    }
    assert rows2 == rows, "recovery changed served content"

    # batch kernel over base + parent ops + the child PUTs that landed
    child_keys = sorted(k for k in rows if k >= 2000)
    child_ops = [
        (k, "PUT", 50000 + (k - 2000), 2, f"c{k - 2000}", float(k - 2000))
        for k in child_keys
    ]
    base_ops = st.df().drop("partition_id").select(
        "k",
        F.lit("PUT").alias("op"),
        F.lit(0).cast("long").alias("ts"),
        F.lit(0).alias("colo"),
        "name",
        "score",
    )
    log_df = spark.createDataFrame(parent_ops + child_ops, OPS)
    expect_df = merge_op_log(
        base_ops.unionByName(log_df, allowMissingColumns=True),
        ["k"],
        "k long, name string, score double",
    )
    expect = {r["k"]: (r["name"], r["score"]) for r in expect_df.collect()}
    assert rows == expect, {
        k: (rows.get(k), expect.get(k))
        for k in set(rows) | set(expect)
        if rows.get(k) != expect.get(k)
    }
    assert_seed_coverage(
        len(child_keys) >= 1,
        f"seed {seed}: kill landed before any child flush",
    )


_MIGRATION_CHILD = r'''
import os, random, sys
sys.path.insert(0, {repo!r})
from venice_spark.session import get_spark
from venice_spark.catalog import StoreCatalog
from venice_spark.producer import VeniceProducer

root, ready, progress, seed = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
rng = random.Random(seed)
spark = get_spark("xkill_mig_child")
cat = StoreCatalog(root)
p = VeniceProducer(spark, cat, "s", colo=1)
open(ready, "w").write("up")
NARROW = "k long, op string, ts long, colo int, v long"
WIDE = "k long, op string, ts long, colo int, v double"
i = j = 0
wide = False
while True:  # killed from outside
    if not wide and j >= 2 and rng.random() < 0.5:
        wide = True  # this flush carries the widening -> in-place migration
    if wide:
        p.put(1000 + j, {{"v": float(j) + 0.5}}, ts=50000 + j)
        p.flush(schema=WIDE)
    else:
        p.put(1000 + j, {{"v": j}}, ts=50000 + j)
        p.flush(schema=NARROW)
    j += 1
    with open(progress, "a") as f:
        f.write(f"{{i}} flush wide={{wide}}\n")
        f.flush()
    i += 1
'''


@pytest.mark.parametrize("seed", fuzz_seeds([15, 34]))
def test_cross_process_kill_during_rt_migration_fuzz(spark, tmp_path, seed):
    """r10 seam: the RT widening AUTO-MIGRATION (an atomic-swap rewrite
    of the rt log inside flush) racing a parent that serves and reads,
    with the child SIGKILLed at a seed-chosen point — possibly inside
    the migration's two-rename window. The heal-at-entry fix
    (code-review r10) plus checkpoint full-replay must keep the final
    view model-exact: base + parent narrow ops + exactly the child
    flushes that landed, each value long-or-double by its generation."""
    rng = random.Random(seed)
    root = str(tmp_path / "cat")
    eng = VeniceSparkEngine(spark, root)
    import pyspark.sql.types as T

    eng.catalog.create_store(
        "s",
        key_fields=["k"],
        hybrid=True,
        value_schema=T.StructType([T.StructField("v", T.LongType())]),
        schema_compat="backward",
    )
    eng.push("s", spark.createDataFrame([(1, -1), (2, -2)], "k long, v long"))
    st = eng.store("s")
    p = st.producer()
    NARROW = "k long, op string, ts long, colo int, v long"
    p.put(3, {"v": -3}, ts=10)
    p.flush(schema=NARROW)
    st.hybrid_serve()
    # register the wide schema up front (the reference's write discipline)
    eng.catalog.add_value_schema(
        "s", T.StructType([T.StructField("v", T.DoubleType())])
    )

    child, ready, progress, log = _launch_child(
        tmp_path, _MIGRATION_CHILD, root, seed + 1000
    )
    parent_ops = {}
    try:
        _await_ready(child, ready)
        kill_after = rng.randrange(3, 8)
        t = 0
        while _progress_count(progress) < kill_after:
            assert child.poll() is None, "child died early"
            act = rng.choice(["flush", "serve", "read"])
            if act == "flush":
                k = 1 + (t % 3)
                p.put(k, {"v": 100 + t}, ts=1000 + t)
                parent_ops[k] = 100 + t
                p.flush(schema=NARROW)
                t += 1
            elif act == "serve":
                st.hybrid_serve()
            else:
                from venice_spark.producer import read_rt_log

                # rt reads race the child's in-place migration swap; the
                # heal-at-entry + atomic swap must keep them working
                read_rt_log(spark, eng.catalog, "s").count()
        _kill_at(child, progress, kill_after, rng.uniform(0, 0.5))
    finally:
        if child.poll() is None:
            child.kill()
        log.close()

    rows = {r["k"]: r["v"] for r in st.hybrid_serve().read().collect()}
    assert _admin().main([root, "recover", "s", "--clean-staging"]) == 0
    rows2 = {r["k"]: r["v"] for r in st.hybrid_serve().read().collect()}
    assert rows2 == rows, "recovery changed served content"

    expect = {1: -1.0, 2: -2.0, 3: -3.0}
    for k, v in parent_ops.items():
        expect[k] = float(v)
    child_keys = sorted(k for k in rows if k >= 1000)
    migrated = False
    for k in child_keys:
        j = k - 1000
        # narrow-generation value j (reads widened) or wide-generation
        # j + 0.5 — both legal depending on where the child flipped
        assert rows[k] in (float(j), j + 0.5), (k, rows[k])
        if rows[k] == j + 0.5:
            migrated = True
        expect[k] = rows[k]
    assert rows == {k: float(v) for k, v in expect.items()}, rows

    # the store keeps working, still wide
    p.put(9, {"v": 9.25}, ts=99999)
    p.flush(schema="k long, op string, ts long, colo int, v double")
    final = {r["k"]: r["v"] for r in st.hybrid_serve().read().collect()}
    assert final[9] == 9.25
    assert_seed_coverage(
        len(child_keys) >= 1 and migrated,
        f"seed {seed}: no migrated (wide) child flush landed before the kill",
    )
