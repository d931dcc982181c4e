"""Two-PROCESS writer-lock proof (VERDICT r8 next #5).

The r8 concurrency tests ran two/three replay handles in ONE process, so
the fcntl store lock's cross-process behavior — the actual deployment
story (AppendLogReplay._serialized_writer brackets every serving-LSM write in
catalog._locked, an advisory flock next to store.json) — was exercised
only implicitly. Here a REAL subprocess (its own JVM, its own
SparkSession) runs a loop of producer flushes and serving-LSM compacts
against the same store while the parent runs the streaming replay and its
own flushes. The parent stays the only streaming consumer (one streaming
query per checkpoint is the documented contract); the contention under
test is trigger-merge vs compact vs flush across process boundaries.

Pass criteria: the final served view is model-exact over BOTH processes'
ops (no lost or doubled fold), and the serving sidecar kept both
processes' value columns (the interleaved read-union-replace drop is
exactly what the lock exists to prevent).
"""

import os
import subprocess
import sys
import time

from venice_spark.engine import VeniceSparkEngine

# The writer-lock family's default-tier canary: left unmarked so a green
# default run still covers cross-process writer serialization.

_CHILD = r'''
import os, sys, time
sys.path.insert(0, {repo!r})
from venice_spark.session import get_spark
from venice_spark.catalog import StoreCatalog
from venice_spark.producer import VeniceProducer
from venice_spark.streaming.hybrid import HybridReplay

root, ready, rounds = sys.argv[1], sys.argv[2], int(sys.argv[3])
spark = get_spark("wl_child")
cat = StoreCatalog(root)
serving = os.path.join(cat.store_dir("s"), "serving")
replay = HybridReplay(spark, cat, "s", serving)
p = VeniceProducer(spark, cat, "s", colo=1)
open(ready, "w").write("up")
for i in range(rounds):
    # child ops: keys 10..13, column vb, ts in the child's band
    p.put(10 + (i % 4), {{"vb": float(100 + i)}}, ts=5000 + i)
    p.flush(schema="k long, op string, ts long, colo int, vb double")
    replay.compact()   # contends with the parent's triggers on the flock
    time.sleep(0.05)
print("CHILD DONE")
'''


def _model(base, ops):
    best = {}
    for k, ts, col, v in ops:
        cur = best.get(k)
        if cur is None or ts > cur[0]:
            best[k] = (ts, col, v)
    out = {k: dict(v) for k, v in base.items()}
    for k, (_ts, col, v) in best.items():
        out.setdefault(k, {"va": None, "vb": None})
        out[k] = {"va": None, "vb": None, **{col: v}}
    return out


def test_cross_process_writers_serialize_on_the_store_lock(spark, tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = str(tmp_path / "cat")
    eng = VeniceSparkEngine(spark, root)
    eng.create_store("s", key_fields=["k"], hybrid=True)
    base = {1: {"va": 1.0, "vb": None}, 2: {"va": 2.0, "vb": None}}
    eng.push(
        "s",
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, va double"),
    )
    st = eng.store("s")
    p = st.producer()
    p.put(3, {"va": 3.0}, ts=10)
    p.flush(schema="k long, op string, ts long, colo int, va double")
    st.hybrid_serve()

    ready = str(tmp_path / "child_ready")
    rounds = 6
    script = str(tmp_path / "child.py")
    with open(script, "w") as f:
        f.write(_CHILD.format(repo=repo))
    # child output goes to a FILE, not a pipe: an undrained 64KB pipe can
    # block a chatty child JVM mid-write while it holds the store flock,
    # deadlocking the parent's own flush/serve loop (code-review r9)
    child_log = open(str(tmp_path / "child.log"), "w+")
    child = subprocess.Popen(
        [sys.executable, script, root, ready, str(rounds)],
        stdout=child_log,
        stderr=subprocess.STDOUT,
        text=True,
        env={
            **os.environ,
            "SPARK_GRAFT_CPUS": "4",
            # the parent fixture owns the default UI port; keep the child
            # quiet and small
            "PYTHONPATH": repo,
        },
    )
    try:
        deadline = time.time() + 120
        while not os.path.exists(ready):
            assert child.poll() is None, "child died before ready"
            assert time.time() < deadline, "child spark never came up"
            time.sleep(0.2)

        parent_ops = []
        live = None
        for i in range(rounds):
            k = 1 + (i % 3)
            p.put(k, {"va": float(10 + i)}, ts=1000 + i)
            parent_ops.append((k, 1000 + i, "va", float(10 + i)))
            p.flush(schema="k long, op string, ts long, colo int, va double")
            live = st.hybrid_serve()  # merges BOTH processes' flushes
            if i % 2 == 1:
                live.compact()  # contends with the child's compacts
        child.wait(timeout=180)
        child_log.seek(0)
        out = child_log.read()
        assert child.returncode == 0 and "CHILD DONE" in out, out[-2000:]
    finally:
        if child.poll() is None:
            child.kill()
        child_log.close()

    # one final serve folds any child flush the last parent serve predated
    live = st.hybrid_serve()
    rows = {
        r["k"]: {"va": r["va"], "vb": r["vb"]} for r in live.read().collect()
    }
    child_ops = [
        (10 + (i % 4), 5000 + i, "vb", float(100 + i)) for i in range(rounds)
    ]
    expect = _model({**base, 3: {"va": 3.0, "vb": None}}, parent_ops + child_ops)
    assert rows == expect, (rows, expect)

    # sidecar survived the cross-process interleave: both value columns
    from venice_spark.streaming.hybrid import log_schema

    side = log_schema(os.path.join(eng.catalog.store_dir("s"), "serving"))
    names = {f.name for f in side.fields}
    assert {"va", "vb"} <= names, names
