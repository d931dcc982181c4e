"""One version writer: outside the catalog, exactly one function commits a
version, and that same function is the only one that writes the
manifest's resolved-slot record — so every committer (batch push,
compaction, eager incremental push) gets the store's codec, key blooms,
views, late-slot sweep and lost-race report from one place. Likewise
one function plans the partition_id shuffle every write runs, and an
incremental push lands by one path: the staged slot, then its append or
the fold."""

import ast
import pathlib

import venice_spark


def _enclosing_functions(pred) -> set[str]:
    """`module:function` of every innermost function under venice_spark/
    (catalog.py aside) holding a node that satisfies `pred`."""
    root = pathlib.Path(venice_spark.__file__).parent
    found = set()
    for path in root.rglob("*.py"):
        if path.name == "catalog.py" and path.parent == root:
            continue
        stack: list[str] = []

        def visit(node, stack=stack, path=path):
            is_fn = isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            if is_fn:
                stack.append(node.name)
            if pred(node):
                found.add(f"{path.relative_to(root)}:{stack[-1] if stack else '<module>'}")
            for child in ast.iter_child_nodes(node):
                visit(child)
            if is_fn:
                stack.pop()

        visit(ast.parse(path.read_text()))
    return found


def test_commit_version_called_from_one_function():
    calls = _enclosing_functions(
        lambda n: isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "commit_version"
    )
    assert calls == {"push.py:_write_version"}, calls


def test_resolved_deltas_manifest_written_in_one_function():
    writes = _enclosing_functions(
        lambda n: isinstance(n, ast.Dict)
        and any(isinstance(k, ast.Constant) and k.value == "resolved_deltas" for k in n.keys)
    )
    assert writes == {"push.py:_write_version"}, writes


def _is_partition_id_shuffle(node) -> bool:
    """A `.repartition(...)` call naming partition_id: the bare string, or
    `F.col("partition_id")`."""
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("repartition", "repartitionByRange")
    ):
        return False
    for arg in node.args:
        if isinstance(arg, ast.Call) and arg.args:
            arg = arg.args[0]
        if isinstance(arg, ast.Constant) and arg.value == "partition_id":
            return True
    return False


def test_partition_id_shuffle_planned_in_one_function():
    """Every version, slot and view write shuffles on partition_id through
    partitioner.partition_shuffle: one place decides the exchange's shape
    (REPARTITION_BY_COL, task count sized by the data), and the
    one-file-per-partition_id layout the Arrow reads depend on."""
    shuffles = _enclosing_functions(_is_partition_id_shuffle)
    assert shuffles == {"partitioner.py:partition_shuffle"}, shuffles


def _calls(fn: str) -> set[str]:
    """Source text of every callee inside push.py's function `fn`."""
    tree = ast.parse((pathlib.Path(venice_spark.__file__).parent / "push.py").read_text())
    node = next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == fn
    )
    return {ast.unparse(n.func) for n in ast.walk(node) if isinstance(n, ast.Call)}


def test_incremental_push_lands_through_the_staged_slot_and_the_fold():
    """One landing path for incremental data: an incremental push reaches
    data only through the staged slot write, its append to a log and
    compaction's fold — no merge, duplicate-key pass, freshness filter or
    store read of its own — and the tombstone marking reads nothing. The
    latest-wins pick with order_col is the slot write's (`_dedup_frame`),
    so push.py never calls resolve_latest."""
    assert _calls("incremental_push") == {
        "catalog.get_store", "_prepare_delta", "recover_stranded_deltas",
        "_stage_delta", "_append_delta_slot", "_fold_version", "shutil.rmtree",
        "int", "meta.config.get", "compact_store", "PushResult",
    }
    assert not {
        c for c in _calls("_prepare_delta")
        if c.rsplit(".", 1)[-1] in ("groupBy", "agg", "collect", "count", "limit")
    }
    callers = _enclosing_functions(
        lambda n: isinstance(n, ast.Call)
        and getattr(n.func, "id", getattr(n.func, "attr", None)) == "resolve_latest"
    )
    assert not {c for c in callers if c.startswith("push.py:")}, callers
