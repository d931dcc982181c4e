"""Per-trigger serving-cost probe for the two streaming LSMs (VERDICT r5 #4).

Measures the foreachBatch merge body (`_merge_batch`) directly — the
per-trigger cost a serve loop pays — for the hybrid latest-ts-wins log
(streaming/hybrid.HybridReplay) and the active-active DCR log
(streaming/aa.ActiveActiveReplay) across store sizes, with a fixed
100-row micro-batch. Both should be ~flat in store size (O(batch) fold +
append; the stamp agg and candidate prune read one column of the log).

SCALE.md records the curves, including those of the two layouts this
probe used to compare against (a whole-table swap per trigger, and a
key-bucketed AA log), both deleted after they measured slower than
the flat append log at scale.

AA seeding note: replaying a 2M-row seed through the per-key Pandas fold
would dominate the probe's wall; since per-trigger merge cost does not
depend on value diversity, the probe writes the serving table directly
with one driver-computed RecordState JSON shared by every key (constant
seed value) — byte-identical to what seed() would produce for that value.

Usage: python tools/serving_probe.py [sizes...]   (default: 20000 200000 2000000)
Prints one JSON line per (engine, size): min-of-2 warm seconds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from venice_spark.catalog import StoreCatalog  # noqa: E402
from venice_spark.session import get_spark  # noqa: E402

BATCH_ROWS = 100


def _aa_seed_state_json(value: float) -> str:
    from venice_spark.merge.dcr import RecordState, record_state_to_json

    st = RecordState()
    st.apply_put({"v": value}, ts=0, colo=0, list_fields=set(), map_fields=set())
    return record_state_to_json(st)


def _batch(spark, n_store: int, schema_extra: str):
    # touch keys spread across the store + a few inserts past the end
    return (
        spark.range(BATCH_ROWS)
        .select(
            (F.col("id") * max(1, n_store // BATCH_ROWS) + F.lit(1)).alias("k"),
            F.lit("PUT").alias("op"),
            F.lit(10).cast("long").alias("ts"),
            F.lit(0).alias("colo"),
            F.lit(2.0).alias("v"),
        )
    )


def probe_hybrid(spark, workdir: str, n: int) -> float:
    from venice_spark.streaming.hybrid import HybridReplay, mark_seeded_version

    catalog = StoreCatalog(f"{workdir}/cat_h_{n}")
    catalog.create_store("h", key_fields=["k"], hybrid=True, rewind_seconds=0)
    serving = f"{workdir}/serving_h_{n}"
    spark.range(n).select(
        F.col("id").alias("k"), F.lit(1.0).alias("v"), F.lit(0).cast("long").alias("ts")
    ).write.parquet(serving)
    mark_seeded_version(serving, 1)
    replay = HybridReplay(spark, catalog, "h", serving, compact_every=0)
    batch = _batch(spark, n, "")
    replay._merge_batch(batch, 0)  # warm (JIT, shuffle service, file listing)
    best = None
    for i in (1, 2):
        t0 = time.monotonic()
        replay._merge_batch(batch, i)
        dt = time.monotonic() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def probe_aa(spark, workdir: str, n: int) -> float:
    from venice_spark.streaming.aa import ActiveActiveReplay
    from venice_spark.streaming.hybrid import mark_seeded_version

    catalog = StoreCatalog(f"{workdir}/cat_a_{n}")
    catalog.create_store("a", key_fields=["k"], active_active=True)
    serving = f"{workdir}/serving_a_{n}"
    state = _aa_seed_state_json(1.0)
    seed = spark.range(n).select(
        F.col("id").alias("k"),
        F.lit(state).alias("__state__"),
        F.lit(1.0).alias("v"),
        F.lit(False).alias("__deleted"),
    )
    seed.write.parquet(serving)
    mark_seeded_version(serving, 1)
    replay = ActiveActiveReplay(
        spark, catalog, "a", serving, value_cols=["v"], compact_every=0
    )
    batch = _batch(spark, n, "")
    replay._merge_batch(batch, 0)  # warm
    best = None
    for i in (1, 2):
        t0 = time.monotonic()
        replay._merge_batch(batch, i)
        dt = time.monotonic() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def main():
    sizes = [int(s) for s in sys.argv[1:]] or [20_000, 200_000, 2_000_000]
    spark = get_spark("serving_probe")
    workdir = tempfile.mkdtemp(prefix="vs_serving_probe_")
    try:
        for n in sizes:
            for engine, probe in (("hybrid", probe_hybrid), ("aa", probe_aa)):
                sec = probe(spark, workdir, n)
                print(json.dumps({"engine": engine, "rows": n,
                                  "batch": BATCH_ROWS, "sec": sec}), flush=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
