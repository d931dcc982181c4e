"""One version writer: outside the catalog, exactly one function commits a
version, and that same function is the only one that writes the
manifest's resolved-slot record — so every committer (batch push,
compaction, eager incremental push) gets the store's codec, key blooms,
views, late-slot sweep and lost-race report from one place. Likewise
one function plans the partition_id shuffle every write runs."""

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
