"""Ops entries for the crash healers (VERDICT r6 #5): `admin.py recover`
and `admin.py inspect-log`. The library recovery functions themselves are
fault-injection-tested in test_crash_atomicity.py; these tests pin the CLI
contract (exit codes, JSON shape) end-to-end against real stranded state.
Lives apart from test_admin.py, which stays Spark-free by design — these
commands legitimately need a session (stranded-slot restage, stamp aggs).
"""

import importlib.util
import json
import os
import shutil
import sys

import pytest

_SPEC = importlib.util.spec_from_file_location(
    "admin_cli",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "admin.py",
    ),
)
admin = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(admin)

from _crash_schedule import hide_late_slots  # noqa: E402
from venice_spark.engine import VeniceSparkEngine  # noqa: E402


def test_recover_heals_stranded_swap_and_slots(spark, tmp_path, capsys, monkeypatch):
    import venice_spark.push as push_mod
    from venice_spark.push import incremental_push

    root = str(tmp_path / "cat")
    eng = VeniceSparkEngine(spark, root)
    eng.create_store("s", key_fields=["k"], partition_count=2, hybrid=True)
    eng.push("s", spark.createDataFrame([(1, "base"), (2, "base")], "k long, v string"))
    cat = eng.catalog

    # strand a lazy slot on v1 exactly like the crash-atomicity suite:
    # hide it from an eager push's fold that then dies before its sweep
    late = incremental_push(
        spark, cat, "s",
        spark.createDataFrame([(2, "late")], "k long, v string"), eager=False,
    ).path
    hide_late_slots(monkeypatch, cat, [late])
    monkeypatch.setattr(
        push_mod, "sweep_late_deltas",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("died post-commit")),
    )
    with pytest.raises(RuntimeError):
        incremental_push(
            spark, cat, "s",
            spark.createDataFrame([(1, "eager")], "k long, v string"),
        )
    monkeypatch.undo()
    assert late in cat.list_delta_dirs("s", 1), "precondition: slot stranded on v1"

    # and strand a serving-dir swap (process died between the two renames)
    p = eng.store("s").producer()
    p.put(1, {"v": "rt"}, ts=100)
    p.flush(schema="k long, op string, ts long, colo int, v string")
    eng.store("s").hybrid_serve()
    serving = os.path.join(cat.store_dir("s"), "serving")
    shutil.move(serving, f"{serving}__stream_old")

    assert admin.main([root, "recover", "s"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["carried_slots"] == 1
    assert out["healed_swaps"] == ["serving"]
    assert os.path.isdir(serving)
    assert cat.list_delta_dirs("s", 1) == []
    got = {r["k"]: r["v"] for r in cat.read_current(spark, "s").collect()}
    assert got[2] == "late"

    # idempotent: a second recover finds nothing
    assert admin.main([root, "recover", "s"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["carried_slots"] == 0 and out["healed_swaps"] == []

    # unknown store exits 1 (before any recovery side effects)
    assert admin.main([root, "recover", "nope"]) == 1


def test_inspect_log_reports_stamps_gc_and_slots(spark, tmp_path, capsys):
    from venice_spark.streaming.hybrid import gc_pending

    root = str(tmp_path / "cat")
    eng = VeniceSparkEngine(spark, root)
    eng.create_store("h", key_fields=["k"], partition_count=2, hybrid=True)
    eng.push("h", spark.createDataFrame([(1, "a")], "k long, v string"))
    st = eng.store("h")
    p = st.producer()
    for i in range(2):
        p.put(10 + i, {"v": f"v{i}"}, ts=100 + i)
        p.flush(schema="k long, op string, ts long, colo int, v string")
        st.hybrid_serve()
    live = st.hybrid_serve()
    live.compact()
    eng.incremental_push(
        "h", spark.createDataFrame([(3, "d")], "k long, v string"), eager=False
    )

    assert admin.main([root, "inspect-log", "h"]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["store"] == "h" and rep["current_version"] == 1
    assert [s["arrival_seq"] for s in rep["delta_slots"]] == [1]
    log = rep["serving_logs"]["serving"]
    assert log["seeded_version"] == 1
    assert log["schema_sidecar"] is True
    assert log["next_stamp"] >= 1 and log["live_stamps"] >= 1
    serving = os.path.join(eng.catalog.store_dir("h"), "serving")
    assert log["gc_pending_files"] == len(gc_pending(serving)["files"])
    assert log["compact_stamp"] is not None

    # recover --gc ends the reader grace: pending files deleted
    assert admin.main([root, "recover", "h", "--gc"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["gc_removed"].get("serving", 0) >= 1
    assert gc_pending(serving) is None
    got = {r["k"]: r["v"] for r in st.hybrid_serve().read().collect()}
    assert got == {1: "a", 10: "v0", 11: "v1"}


def test_recover_clean_staging_removes_orphans_only_on_request(
    spark, tmp_path, capsys
):
    """A push crashed before its slot rename leaves a _delta_staging-*
    orphan forever; `recover --clean-staging` removes them (explicitly
    opt-in: a live push's staging dir looks identical)."""
    import json as _json

    root = str(tmp_path / "cat")
    eng = VeniceSparkEngine(spark, root)
    eng.create_store("s", key_fields=["k"], partition_count=2)
    eng.push("s", spark.createDataFrame([(1, "a")], "k long, v string"))
    orphan = os.path.join(eng.catalog.store_dir("s"), "_delta_staging-deadbeef")
    os.makedirs(orphan)
    # crashed-compact staging sibling of a serving log (ADVICE r7)
    serving = os.path.join(eng.catalog.store_dir("s"), "serving")
    os.makedirs(serving)
    compact_orphan = serving + "__compact_deadbeef"
    os.makedirs(compact_orphan)

    assert admin.main([root, "recover", "s"]) == 0
    out = _json.loads(capsys.readouterr().out)
    assert out["staging_removed"] == 0 and os.path.isdir(orphan)
    assert os.path.isdir(compact_orphan)

    assert admin.main([root, "recover", "s", "--clean-staging"]) == 0
    out = _json.loads(capsys.readouterr().out)
    assert out["staging_removed"] == 2 and not os.path.isdir(orphan)
    assert not os.path.isdir(compact_orphan)



def test_lag_reports_replay_lag_with_threshold_gate(spark, tmp_path, capsys):
    """`admin lag`: max RT ts - max served ts per serving log (the
    reference's ready-to-serve lag gate as a scriptable command); exit 1
    only when --threshold is exceeded."""
    root = str(tmp_path / "cat")
    eng = VeniceSparkEngine(spark, root)
    eng.create_store("s", key_fields=["k"], hybrid=True)
    eng.push("s", spark.createDataFrame([(9, 9.0)], "k long, v double"))
    st = eng.store("s")
    p = st.producer()
    p.put(1, {"v": 1.0}, ts=100)
    p.flush()
    st.hybrid_serve()  # caught up: served max ts == rt max ts

    assert admin.main([root, "lag", "s", "--threshold", "0"]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["rt_max_ts"] == 100
    assert rep["serving"]["serving"]["lag"] == 0

    p.put(2, {"v": 2.0}, ts=250)
    p.flush()  # unserved: lag 150
    assert admin.main([root, "lag", "s"]) == 0  # no threshold: report only
    rep = json.loads(capsys.readouterr().out)
    assert rep["serving"]["serving"]["lag"] == 150
    assert admin.main([root, "lag", "s", "--threshold", "100"]) == 1
    capsys.readouterr()
    assert admin.main([root, "lag", "s", "--threshold", "200"]) == 0
    capsys.readouterr()


def test_compact_cast_migrates_true_retype(spark, tmp_path, capsys):
    """VERDICT r7 #2 escape hatch: a GENUINELY incompatible registry
    retype (string -> long, schema_compat=none) bricks serving-log writes
    with the retype refusal; `admin compact --cast` rewrites the log with
    the registry's type (unrepresentable values -> NULL, reported), after
    which serving works again."""
    from pyspark.sql import types as T

    from venice_spark.streaming.hybrid import log_schema

    root = str(tmp_path / "cat")
    eng = VeniceSparkEngine(spark, root)
    eng.catalog.create_store(
        "s",
        key_fields=["k"],
        partition_count=2,
        hybrid=True,
        value_schema=T.StructType([T.StructField("v", T.StringType())]),
        schema_compat="none",  # a true retype is never Avro-legal
    )
    eng.push("s", spark.createDataFrame([(1, "5"), (2, "abc")], "k long, v string"))
    st = eng.store("s")
    p = st.producer()
    p.put(3, {"v": "7"}, ts=100)
    p.flush(schema="k long, op string, ts long, colo int, v string")
    st.hybrid_serve()  # serving log now holds v as string

    eng.catalog.add_value_schema(
        "s", T.StructType([T.StructField("v", T.LongType())])
    )
    # the write path refuses the silent retype
    p.put(4, {"v": 9}, ts=200)
    with pytest.raises(Exception, match="retyped"):
        p.flush(schema="k long, op string, ts long, colo int, v long")

    # --cast is required (usage error, exit 2)
    assert admin.main([root, "compact", "s"]) == 2
    capsys.readouterr()

    assert admin.main([root, "compact", "s", "--cast"]) == 0
    rep = json.loads(capsys.readouterr().out)
    serving_rep = rep["cast_report"]["serving"]
    assert serving_rep["cast"] == ["v"]
    assert serving_rep["nulled"]["v"] == 1  # 'abc' is unrepresentable

    serving_dir = os.path.join(eng.catalog.store_dir("s"), "serving")
    side = log_schema(serving_dir)
    assert dict((f.name, f.dataType.simpleString()) for f in side.fields)["v"] == "bigint"

    # the blocked write now lands, and the serve reads longs
    p.flush(schema="k long, op string, ts long, colo int, v long")
    out = {r["k"]: r["v"] for r in st.hybrid_serve().read().collect()}
    assert out == {1: 5, 2: None, 3: 7, 4: 9}


def test_compact_cast_narrowing_retype_uses_latest_schema(spark, tmp_path, capsys):
    """code-review r8: the migration authority is the LATEST registered
    schema, not the superset — a deliberate narrowing retype (bigint->int
    under compat=none) resolves back to bigint in the superset, which
    would make compact --cast a silent no-op and hide the drift from
    inspect-log. The cast must narrow, reporting overflow rows as NULL."""
    from pyspark.sql import types as T

    root = str(tmp_path / "cat")
    eng = VeniceSparkEngine(spark, root)
    eng.catalog.create_store(
        "s",
        key_fields=["k"],
        partition_count=2,
        hybrid=True,
        value_schema=T.StructType([T.StructField("n", T.LongType())]),
        schema_compat="none",
    )
    big = 1 << 40  # does not fit int32: nulled by the narrowing cast
    eng.push("s", spark.createDataFrame([(1, 5), (2, big)], "k long, n long"))
    st = eng.store("s")
    p = st.producer()
    p.put(3, {"n": 7}, ts=100)
    p.flush(schema="k long, op string, ts long, colo int, n long")
    st.hybrid_serve()  # serving log: n bigint

    eng.catalog.add_value_schema("s", T.StructType([T.StructField("n", T.IntegerType())]))

    # drift visible against the LATEST schema
    assert admin.main([root, "inspect-log", "s"]) == 0
    rep = json.loads(capsys.readouterr().out)
    drift = rep["serving_logs"]["serving"]["type_drift"]
    assert drift["n"]["registry"] == "int"

    assert admin.main([root, "compact", "s", "--cast"]) == 0
    rep = json.loads(capsys.readouterr().out)
    serving_rep = rep["cast_report"]["serving"]
    assert serving_rep["cast"] == ["n"], "narrowing retype was a silent no-op"
    assert serving_rep["nulled"]["n"] == 1  # the 2**40 row overflows int32


def test_inspect_log_reports_type_drift(spark, tmp_path, capsys):
    """inspect-log classifies registry-vs-log type drift: a promotable
    drift reports the read-side widening, an incompatible one points the
    operator at compact --cast."""
    from pyspark.sql import types as T

    root = str(tmp_path / "cat")
    eng = VeniceSparkEngine(spark, root)
    eng.catalog.create_store(
        "s",
        key_fields=["k"],
        partition_count=2,
        hybrid=True,
        value_schema=T.StructType(
            [T.StructField("n", T.IntegerType()), T.StructField("v", T.StringType())]
        ),
        schema_compat="none",
    )
    eng.push(
        "s", spark.createDataFrame([(1, 5, "a")], "k long, n int, v string")
    )
    st = eng.store("s")
    p = st.producer()
    p.put(2, {"n": 6, "v": "b"}, ts=100)
    p.flush(schema="k long, op string, ts long, colo int, n int, v string")
    st.hybrid_serve()  # serving sidecar: n int, v string

    eng.catalog.add_value_schema(
        "s",
        T.StructType(
            [T.StructField("n", T.LongType()), T.StructField("v", T.LongType())]
        ),
    )
    assert admin.main([root, "inspect-log", "s"]) == 0
    rep = json.loads(capsys.readouterr().out)
    drift = rep["serving_logs"]["serving"]["type_drift"]
    assert drift["n"]["resolution"] == "reads widen to bigint"
    assert drift["v"]["resolution"] == "needs compact --cast"


def test_inspect_log_reports_rt_log(spark, tmp_path, capsys):
    root = str(tmp_path / "cat")
    eng = VeniceSparkEngine(spark, root)
    eng.create_store("s", key_fields=["k"], hybrid=True)
    p = eng.store("s").producer()
    p.put(1, {"v": 1.0}, ts=10)
    p.flush()

    assert admin.main([root, "inspect-log", "s"]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["rt_log"]["files"] >= 1
    assert rep["rt_log"]["schema_sidecar"] is True



def test_truncate_rt_cli_refuses_lagging_consumer_then_forces(
    spark, tmp_path, capsys
):
    """VERDICT r7 #3 CLI surface: truncate-rt exits 1 (operational error)
    and deletes nothing when a consumer checkpoint lags, and --force
    completes with the JSON report."""
    root = str(tmp_path / "cat")
    eng = VeniceSparkEngine(spark, root)
    eng.create_store("s", key_fields=["k"], hybrid=True)
    eng.push("s", spark.createDataFrame([(9, 9.0)], "k long, v double"))
    st = eng.store("s")
    p = st.producer()
    p.put(1, {"v": 1.0}, ts=10)
    p.flush()
    st.hybrid_serve()  # checkpoint commits the first file
    p.put(2, {"v": 2.0}, ts=20)
    p.flush()  # unread by the (now stopped) consumer

    assert admin.main([root, "truncate-rt", "s", "--before-ts", "100"]) == 1
    err = capsys.readouterr().err
    assert "has not committed" in err

    assert (
        admin.main([root, "truncate-rt", "s", "--before-ts", "100", "--force"])
        == 0
    )
    rep = json.loads(capsys.readouterr().out)
    assert rep["removed_files"] >= 2  # the refusal deleted nothing


def test_inspect_log_reports_crashed_swap_without_healing(spark, tmp_path, capsys):
    """inspect-log is read-only: a swap that died between its renames is
    REPORTED (crashed_swaps), not silently shown as zeros and not healed
    (that is recover's job)."""
    root = str(tmp_path / "cat")
    eng = VeniceSparkEngine(spark, root)
    eng.create_store("h", key_fields=["k"], hybrid=True)
    eng.push("h", spark.createDataFrame([(1, "a")], "k long, v string"))
    st = eng.store("h")
    p = st.producer()
    p.put(2, {"v": "b"}, ts=10)
    p.flush()
    st.hybrid_serve()
    serving = os.path.join(eng.catalog.store_dir("h"), "serving")
    shutil.move(serving, f"{serving}__stream_old")

    assert admin.main([root, "inspect-log", "h"]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["crashed_swaps"] == ["serving"]
    assert not os.path.isdir(serving), "inspect-log must not mutate"

    assert admin.main([root, "recover", "h"]) == 0
    capsys.readouterr()
    assert admin.main([root, "inspect-log", "h"]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert "crashed_swaps" not in rep and os.path.isdir(serving)



def test_lag_missing_ts_col_exits_2(spark, tmp_path, capsys):
    """ADVICE r8 (low): `admin lag` guarded the serving side with a
    column check but read the RT max unconditionally — a wrong --ts-col
    escaped as a raw AnalysisException traceback instead of the
    documented 0/1/2 exit contract. A missing ts column is a usage error:
    exit 2 with a pointed message."""
    root = str(tmp_path / "cat")
    eng = VeniceSparkEngine(spark, root)
    eng.create_store("s", key_fields=["k"], hybrid=True)
    st = eng.store("s")
    p = st.producer()
    p.put(1, {"v": 1.0}, ts=100)
    p.flush()

    assert admin.main([root, "lag", "s", "--ts-col", "bogus"]) == 2
    err = capsys.readouterr().err
    assert "bogus" in err and "--ts-col" in err


def test_crash_leaked_tmps_swept_from_serving_dir(spark, tmp_path, capsys):
    """VERDICT r8 #1/#2: a hard crash (kill -9) between mkstemp and
    os.replace in record_gc_pending/extend_log_schema/set_log_schema used
    to leave a VISIBLE tmpXXXX.tmp inside the serving parquet dir — Spark
    lists it as data and every subsequent read of the store fails ("not a
    Parquet file") until someone deletes it by hand. Writers now
    dot-prefix their tmps; reads sweep pre-fix visible leftovers; `admin
    recover` sweeps visible always and dot-orphans with --clean-staging.

    ADVICE r9/r10: read-path sweeps are age-guarded (60s) so a
    mixed-version pre-r9 writer's IN-FLIGHT visible tmp is never
    matched — the planted leak is backdated to model a real crash
    artifact; a fresh one must survive the read sweep (the read itself
    then fails until the age passes or recover runs — the documented
    trade)."""
    import json as _json
    import time as _time

    root = str(tmp_path / "cat")
    eng = VeniceSparkEngine(spark, root)
    eng.create_store("s", key_fields=["k"], hybrid=True)
    eng.push("s", spark.createDataFrame([(9, 9.0)], "k long, v double"))
    st = eng.store("s")
    p = st.producer()
    p.put(1, {"v": 1.0}, ts=10)
    p.flush()
    live = st.hybrid_serve()

    serving = os.path.join(eng.catalog.store_dir("s"), "serving")
    visible = os.path.join(serving, "tmpa1b2c3d4.tmp")  # pre-fix artifact
    hidden = os.path.join(serving, "._gc_dead1234.tmp")
    for f in (visible, hidden):
        with open(f, "w") as fh:
            fh.write('{"files": []}')
    # a crash leak is minutes old by the time a read meets it; a FRESH
    # visible tmp (mixed-version writer in flight) must NOT be swept
    os.utime(visible, (_time.time() - 300, _time.time() - 300))

    # the read path heals itself: aged visible leak swept, read succeeds
    out = {r["k"]: r["v"] for r in live.read().collect()}
    assert out == {1: 1.0, 9: 9.0}, out
    assert not os.path.exists(visible), "read path left the bricking tmp"
    assert os.path.exists(hidden), "read path must not race hidden tmps"

    # operator sweep: --clean-staging removes the dot-orphan too
    with open(visible, "w") as fh:  # replant for the admin path
        fh.write("junk")
    assert admin.main([root, "recover", "s"]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["leaked_tmps_removed"] >= 1
    assert not os.path.exists(visible) and os.path.exists(hidden)
    assert admin.main([root, "recover", "s", "--clean-staging"]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["leaked_tmps_removed"] >= 1
    assert not os.path.exists(hidden)

    # the store still round-trips after all sweeps
    assert {r["k"] for r in st.hybrid_serve().read().collect()} == {1, 9}
