"""Both serving replays have one log layout: the flat append LSM. No
replay or facade signature offers another merge mode or a bucketed
layout, and the retired bucketed AA layout's `__kb=` directory naming
lives in one module — the place that refuses it."""

import inspect
import pathlib

import pytest

import venice_spark
from venice_spark.engine import StoreHandle
from venice_spark.streaming import aa, hybrid


def test_bucket_dir_prefix_spelled_in_one_module():
    root = pathlib.Path(venice_spark.__file__).parent
    holders = sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if "__kb=" in p.read_text()
    )
    assert holders == ["streaming/aa.py"], holders


@pytest.mark.parametrize(
    "fn",
    [
        hybrid.HybridReplay.__init__,
        aa.ActiveActiveReplay.__init__,
        StoreHandle.hybrid_serve,
        StoreHandle.aa_serve,
    ],
    ids=lambda fn: fn.__qualname__,
)
def test_no_layout_options_on_replays_or_facades(fn):
    params = inspect.signature(fn).parameters
    assert not {"mode", "buckets"} & set(params), list(params)
    assert not any(p.kind is p.VAR_KEYWORD for p in params.values())


def test_bucketed_aa_dir_is_refused_with_the_reseed_fix(spark, tmp_path):
    from venice_spark.catalog import StoreCatalog

    catalog = StoreCatalog(str(tmp_path / "cat"))
    catalog.create_store("aa", key_fields=["k"], active_active=True)
    serving = tmp_path / "aa_serving"
    (serving / "__kb=3").mkdir(parents=True)
    with pytest.raises(ValueError, match="drop the serving dir and its replay checkpoint"):
        aa.ActiveActiveReplay(spark, catalog, "aa", str(serving), ["v"])
