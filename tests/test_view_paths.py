"""Every view reader opens a version's view through push.open_view, and the
view-dir naming lives in one module: a second spelling of the `__view_`
infix would let a reader's path decision drift from the writers'."""

import pathlib

import venice_spark


def test_view_infix_spelled_in_one_module():
    root = pathlib.Path(venice_spark.__file__).parent
    holders = sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if "__view_" in p.read_text()
    )
    assert holders == ["catalog.py"], holders
