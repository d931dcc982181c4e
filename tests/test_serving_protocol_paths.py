"""One append-log serving protocol: the serving-log helpers in
streaming/hybrid.py are called only by the protocol's one owner — the
AppendLogReplay base class that both replays (hybrid, active-active)
subclass — and the seed/reset/replay step only by the one facade step
that hybrid_serve and aa_serve share. A second copy of the protocol (the
way the two replays drifted before) shows up here as a second caller."""

import ast
import pathlib

import venice_spark
from venice_spark.streaming import hybrid

BASE = "streaming/hybrid.py:AppendLogReplay"
TRIGGER_AND_COMPACT = {f"{BASE}._merge_batch", f"{BASE}.compact"}

EXPECTED_CALLERS = {
    "log_stamp_pressure": TRIGGER_AND_COMPACT,
    "record_stamp_after_append": TRIGGER_AND_COMPACT,
    "merge_fileset_in": {f"{BASE}.compact"},
    "record_gc_pending": {f"{BASE}.compact"},
    "run_deferred_gc": {f"{BASE}.compact"},
    "sweep_compact_orphans": {f"{BASE}.compact"},
    "reset_serving_if_stale": {"engine.py:StoreHandle._serve_replay"},
    "run_replay_query": {"engine.py:StoreHandle._serve_replay"},
}


def _callers(names: set[str]) -> dict[str, set[str]]:
    """name -> `module:Class.function` of every innermost function under
    venice_spark/ that calls `name` (as a bare name or an attribute)."""
    root = pathlib.Path(venice_spark.__file__).parent
    found: dict[str, set[str]] = {n: set() for n in names}
    for path in root.rglob("*.py"):
        stack: list[str] = []

        def visit(node, stack=stack, path=path):
            scoped = isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            )
            if scoped:
                stack.append(node.name)
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name in found:
                    found[name].add(f"{path.relative_to(root)}:{'.'.join(stack)}")
            for child in ast.iter_child_nodes(node):
                visit(child)
            if scoped:
                stack.pop()

        visit(ast.parse(path.read_text()))
    return found


def test_serving_log_helpers_have_one_owner():
    assert _callers(set(EXPECTED_CALLERS)) == EXPECTED_CALLERS


def test_writer_lock_lives_in_the_base_class():
    assert not hasattr(hybrid, "_writer_lock")
    assert _callers({"_writer_lock"}) == {"_writer_lock": set()}
    assert "_serialized_writer" in vars(hybrid.AppendLogReplay)
