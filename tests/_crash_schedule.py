"""Shared crash-schedule harness for the lifecycle fuzzers (VERDICT r6 #4).

The r6 fault-injection suite crashed at HAND-PICKED protocol points; this
harness generalizes that to a schedule parameter: kill the process stand-in
at the N-th intercepted filesystem mutation (os.rename / os.replace /
shutil.move / os.unlink of data files) during one lifecycle operation, with
N swept by the fuzzer's seeded RNG. Every python-level protocol seam —
slot renames, store.json pointer flips, arrival-counter and sidecar
replaces, swap renames, compacted-file moves, GC manifest writes, GC
unlinks — becomes a crash site without anyone having to think of it.

The model check after a scheduled crash is the either/or contract: the
observed state must equal the model state from BEFORE the op or AFTER it
(the op's effect is atomic at its commit point; anything else is a torn
write the recovery machinery failed to hide), and the model then adopts
whichever the engine observed.
"""

import os
import shutil


class ScheduledCrash(Exception):
    """Process-death stand-in: aborts the protocol at the scheduled point."""


class CrashSchedule:
    """Context manager: raise ScheduledCrash at the nth intercepted
    filesystem mutation whose destination path contains `path_filter`
    (filter out of tree mutations, e.g. pytest tmp bookkeeping).

    hard=True is the SIGKILL model (VERDICT r8 missing #2): a real process
    death runs no cleanup, but the exception-based crash stand-in DOES run
    every `except BaseException` handler on its way out — so state a
    handler would have cleaned (a crash-leaked tmp file, a half-done
    compensating unlink) was structurally invisible to every soft-mode
    sweep. In hard mode, once the schedule fires, every subsequent
    intercepted mutation (rename/replace/move/ALL unlinks — not just data
    files) silently no-ops: the handlers still execute Python-side, but
    their filesystem effects vanish, exactly as if the process had died at
    the crash point. (Writes through plain open() are not intercepted;
    the protocol seams' cleanup is unlink/rename-based.)"""

    def __init__(self, nth: int, path_filter: str = "", hard: bool = False):
        self.nth = nth
        self.path_filter = path_filter
        self.hard = hard
        self.count = 0
        self.fired = False

    def _hit(self, path) -> bool:
        if self.path_filter and self.path_filter not in str(path):
            return False
        self.count += 1
        if self.count == self.nth:
            self.fired = True
            return True
        return False

    def __enter__(self):
        self._real = (os.rename, os.replace, shutil.move, os.unlink)

        def mk2(real):
            def wrapped(src, dst, *a, **k):
                if self.hard and self.fired:
                    return None  # post-kill: the dead process mutates nothing
                if self._hit(dst):
                    raise ScheduledCrash(f"scheduled crash #{self.nth}: {dst}")
                return real(src, dst, *a, **k)

            return wrapped

        def unlink(p, *a, **k):
            if self.hard and self.fired:
                return None  # post-kill: cleanup handlers' unlinks vanish
            # only data files count as crash sites for unlink (GC); tmp
            # cleanup unlinks in error paths would double-fire
            if str(p).endswith(".parquet") and self._hit(p):
                raise ScheduledCrash(f"scheduled crash #{self.nth}: unlink {p}")
            return self._real[3](p, *a, **k)

        os.rename = mk2(self._real[0])
        os.replace = mk2(self._real[1])
        shutil.move = mk2(self._real[2])
        os.unlink = unlink
        return self

    def __exit__(self, *exc):
        os.rename, os.replace, shutil.move, os.unlink = self._real
        return False


def run_with_crash(op, nth: int, path_filter: str = "", hard: bool = False) -> str:
    """Run `op` under a crash schedule; 'crashed' | 'completed'. A
    completed run means nth exceeded the op's mutation count — that
    outcome must appear in a sweep too, or the sweep silently stopped
    covering the op's tail. hard=True uses the SIGKILL model (no cleanup
    effects after the crash point — see CrashSchedule)."""
    sched = CrashSchedule(nth, path_filter, hard=hard)
    try:
        with sched:
            op()
    except ScheduledCrash:
        return "crashed"
    except Exception:
        # a scheduled crash inside a streaming foreachBatch surfaces as
        # StreamingQueryException; treat any failure while the schedule
        # FIRED as the crash (the engine must still recover), re-raise
        # genuine failures
        if sched.fired:
            return "crashed"
        raise
    return "completed"


def fuzz_seeds(default):
    """Seed list for a model-based fuzzer's @parametrize: the committed
    regression seeds by default, or a fresh battery from
    SPARK_GRAFT_FUZZ_SEEDS="101,102,..." (the per-round deep-fuzz battery
    — SCALE.md r8 — without editing committed seed lists). When the
    committed entry is a (seed, param) tuple, the extra params are kept
    and crossed with every battery seed."""
    import os

    env = os.environ.get("SPARK_GRAFT_FUZZ_SEEDS")
    if not env:
        return default
    seeds = [int(x) for x in env.split(",") if x.strip()]
    if default and isinstance(default[0], tuple):
        extras = sorted({d[1:] for d in default})
        return [(s, *e) for s in seeds for e in extras]
    return seeds


def assert_seed_coverage(cond, msg):
    """Coverage-accounting assertion: for the COMMITTED regression seeds
    it must hold (a committed seed that stops exercising an outcome has
    silently lost coverage — fail loudly so it gets re-tuned). Under a
    fresh-seed battery (SPARK_GRAFT_FUZZ_SEEDS) a random seed owes no
    particular outcome mix, so a miss is a SKIP, not a failure — the r9
    battery's only 'failures' were exactly these (11/105, zero model
    mismatches)."""
    import os

    if cond:
        return
    if os.environ.get("SPARK_GRAFT_FUZZ_SEEDS"):
        import pytest

        pytest.skip(f"battery seed without coverage: {msg}")
    raise AssertionError(msg)


def hide_late_slots(monkeypatch, catalog, slots, target=None):
    """Make `slots` arrive just after a delta-log snapshot: the first
    `catalog.list_delta_dirs` call inside the next call of `target` — by
    default `push._fold_version`, whose first listing is the fold's
    snapshot; `(push.BatchPushJob, "run")` hides them from a batch push's
    — misses them, and every other listing (an append's, a sweep's, a
    reader's) sees them. The slots are hidden by path, never by call
    count, so the listing a lazy push's own append makes is left alone."""
    import venice_spark.push as push_mod

    owner, name = target or (push_mod, "_fold_version")
    real_call, real_list = getattr(owner, name), catalog.list_delta_dirs
    hidden = set(slots)
    state = {"calls": 0, "snapshot": False}

    def listing(store, version):
        out = real_list(store, version)
        if state["snapshot"]:
            state["snapshot"] = False
            out = [d for d in out if d not in hidden]
        return out

    def call(*a, **k):
        state["calls"] += 1
        state["snapshot"] = state["calls"] == 1
        return real_call(*a, **k)

    monkeypatch.setattr(catalog, "list_delta_dirs", listing)
    monkeypatch.setattr(owner, name, call)
