"""Per-layer instrumentation and metrics for the traced run.

`instrument` wraps the public entry points of each `venice_spark` layer;
`per_layer` folds the recorded spans into the per-layer metrics that
BENCHMARK.json names. Every metric is reported on every workload: a layer
a workload leaves idle reads 0 there.

Op spans ("op.<kind>") are the benchmark's own closed-loop ops; the
engine's figures for an op (self time, Spark jobs, tasks) are taken over
the op span, because a lazily built DataFrame runs its jobs when the
benchmark consumes it, not inside the engine call.
"""

from __future__ import annotations

from perfbench.trace import Span, Tracer, median
from perfbench.workloads import BULK_QUERIES


def instrument(tracer: Tracer) -> None:
    from venice_spark import compute, engine, partitioner, producer, push
    from venice_spark.catalog import StoreCatalog
    from venice_spark.streaming import hybrid

    w = tracer.wrap
    # every public catalog method: metadata reads and writes, pure Python
    # apart from read_current, which builds the store's DataFrame
    for m, fn in list(vars(StoreCatalog).items()):
        if m.startswith("_") or not callable(fn) or m in ("read_current", "list_delta_dirs"):
            continue
        w(StoreCatalog, m, f"catalog.{m}", jobs=False)
    w(StoreCatalog, "list_delta_dirs", "catalog.list_delta_dirs", note=lambda r: {"slots": len(r)}, jobs=False)
    w(StoreCatalog, "read_current", "catalog.read_current")
    w(partitioner, "partition_id_py", "partitioner.partition_id_py", jobs=False)
    w(partitioner, "with_partition_id", "partitioner.with_partition_id")
    w(hybrid, "registered_value_types", "streaming.hybrid.reader_schema.registered_value_types", jobs=False)
    w(hybrid, "resolve_registry_reader", "streaming.hybrid.reader_schema.resolve_registry_reader")
    w(hybrid, "run_replay_query", "streaming.hybrid.replay")
    w(hybrid.HybridReplay, "read", "streaming.hybrid.read")
    w(hybrid.HybridReplay, "compact", "streaming.hybrid.compact")
    for m in ("get", "batch_get", "compute", "aggregate", "hybrid_serve", "producer"):
        w(engine.StoreHandle, m, f"engine.{m}")
    w(push.BatchPushJob, "run", "push.run")
    w(engine.VeniceSparkEngine, "incremental_push", "push.incremental")
    w(push, "compact_store", "push.compact")
    w(compute.ComputeRequestBuilder, "execute", "compute.execute")
    w(compute.ComputeAggregationBuilder, "count_group_by_value", "compute.count_group_by_value")
    w(producer.VeniceProducer, "flush", "producer.flush")


def _ms(seconds: float) -> float:
    return 1e3 * seconds


def _op_figures(ops: list[Span], prefix: str) -> dict:
    return {
        f"{prefix}.self_ms": _ms(median(s.dur - s.time_in("catalog.") - s.time_in("partitioner.") - s.time_in("streaming.hybrid.reader_schema") for s in ops)),
        f"{prefix}.spark_jobs": median(s.total("jobs") for s in ops),
        f"{prefix}.tasks": median(s.total("tasks") for s in ops),
    }


def per_layer(tracer: Tracer, ctx, session_s: float, ops_per_s: float, cpu_ms_per_op: float) -> dict:
    gets, batches = tracer.ops("op.get"), tracer.ops("op.batch_get")
    computes, aggs = tracer.ops("op.compute"), tracer.ops("op.aggregate")
    rt_ops = tracer.ops("op.rt_visible")
    m: dict[str, float] = {
        "session.start_s": session_s,
        "session.warmup_s": ctx.warmup_s,
        "partitioner.route_ms": _ms(median(s.time_in("partitioner.") for s in gets)),
        "catalog.read_current_ms": _ms(median(s.dur for s in tracer.spans("catalog.read_current"))),
        "catalog.calls_per_get": median(len(s.find("catalog.")) for s in gets),
        "catalog.delta_slots": median(
            max([c.notes.get("slots", 0) for c in s.find("catalog.list_delta_dirs")] or [0]) for s in gets
        ),
        "streaming.hybrid.reader_schema_ms": _ms(median(s.time_in("streaming.hybrid.reader_schema") for s in gets)),
        **_op_figures(gets, "engine.get"),
        **_op_figures(batches, "engine.batch_get"),
        "engine.hybrid_serve.self_ms": _ms(median(s.self_time() for s in tracer.spans("engine.hybrid_serve"))),
    }
    build = [s.time_in("engine.compute") + s.time_in("compute.execute") for s in computes]
    m["compute.execute.build_ms"] = _ms(median(build))
    m["compute.execute.exec_ms"] = _ms(median(s.dur - b for s, b in zip(computes, build)))
    m["compute.execute.spark_jobs"] = median(s.total("jobs") for s in computes)
    m["compute.aggregate.exec_ms"] = _ms(
        median(s.dur - s.time_in("engine.aggregate") - s.time_in("compute.count_group_by_value") for s in aggs)
    )
    m["compute.aggregate.tasks"] = median(s.total("tasks") for s in aggs)

    runs = tracer.spans("push.run")
    incr = tracer.spans("push.incremental")
    m["push.run_s"] = median(s.dur for s in runs)
    m["push.run.spark_jobs"] = median(s.total("jobs") for s in runs)
    m["push.run.tasks"] = median(s.total("tasks") for s in runs)
    m["push.write_amp"] = median(ctx.facts.get("push.write_amp", []))
    m["push.incremental_ms"] = _ms(median(s.dur - s.time_in("push.compact") for s in incr))
    m["push.incremental.spark_jobs"] = median(
        s.total("jobs") - sum(c.total("jobs") for c in s.find("push.compact")) for s in incr
    )
    m["push.compact_s"] = median(s.dur for s in tracer.spans("push.compact"))
    m["push.compactions"] = len([s for r in tracer.roots if r.name.startswith("op.") for s in r.find("push.compact")])

    flushes = tracer.spans("producer.flush")
    m["producer.flush_ms"] = _ms(median(s.dur for s in flushes))
    m["producer.flush.spark_jobs"] = median(s.total("jobs") for s in flushes)
    m["producer.rt_log_files"] = ctx.facts.get("producer.rt_log_files", 0)
    m["streaming.hybrid.replay_ms"] = _ms(median(s.time_in("streaming.hybrid.replay") for s in rt_ops))
    m["streaming.hybrid.read_ms"] = _ms(median(s.time_in("rt.read_back") for s in rt_ops))
    m["streaming.hybrid.log_files"] = ctx.facts.get("streaming.hybrid.log_files", 0)
    m["streaming.hybrid.compact_ms"] = _ms(median(s.dur for s in tracer.spans("streaming.hybrid.compact")))

    for q in BULK_QUERIES:
        ops = tracer.ops(f"op.plan.{q}")
        m[f"plans.{q}.build_ms"] = _ms(median(s.time_in(f"plans.{q}.build") for s in ops))
        m[f"plans.{q}.exec_s"] = median(s.dur - s.time_in(f"plans.{q}.build") for s in ops)
        m[f"plans.{q}.spark_jobs"] = median(s.total("jobs") for s in ops)
        m[f"plans.{q}.tasks"] = median(s.total("tasks") for s in ops)

    m["spark.failed_tasks"] = sum(s.total("failed_tasks") for s in tracer.roots)
    m["trace.overhead_ms"] = _ms(median(tracer.overhead_s))
    m["trace.ops_per_s"] = ops_per_s
    m["trace.cpu_ms_per_op"] = cpu_ms_per_op
    return {k: {"value": float(v), "unit": unit(k)} for k, v in m.items()}


def unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_ms") or name.endswith("_ms_per_op"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("write_amp"):
        return "ratio"
    return "count"
