"""Minimal store-admin CLI — the ops slice of the reference's admin tool
(clients/venice-admin-tool/.../Command.java lists ~100 lifecycle commands;
the query-relevant ones are store creation/listing/describe/version
management).

Usage:
  python tools/admin.py <root> create <store> --keys k1[,k2...] [--partitions N] [--hybrid]
  python tools/admin.py <root> list
  python tools/admin.py <root> describe <store>
  python tools/admin.py <root> versions <store>
  python tools/admin.py <root> update-store <store> key=value [...]
  python tools/admin.py <root> rollback <store> [version]
  python tools/admin.py <root> set-version <store> <version>
  python tools/admin.py <root> retire <store> [--keep N]
  python tools/admin.py <root> delete <store>
  python tools/admin.py <root> recover <store> [--gc]
  python tools/admin.py <root> inspect-log <store>
  python tools/admin.py <root> truncate-rt <store> --before-ts N [--force]
  python tools/admin.py <root> compact <store> --cast
  python tools/admin.py <root> lag <store> [--threshold N] [--ts-col ts]
  python tools/admin.py <root> consumers <store> [--unregister NAME]

Exit codes: 0 ok; 1 catalog error (unknown store, illegal transition);
2 usage error (unknown command, missing/malformed arguments).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from venice_spark.catalog import StoreCatalog, StoreNotFoundError  # noqa: E402


class _UsageError(Exception):
    pass


def _build_parser() -> argparse.ArgumentParser:
    # argparse owns positional/flag parsing (typed ints, flags-cannot-eat-
    # flags, generated usage, exit 2 on bad input); semantic validation
    # beyond its reach (key=value shapes) raises _UsageError below.
    p = argparse.ArgumentParser(prog="admin.py", description="venice_spark store admin")
    p.add_argument("root", help="catalog root directory")
    sub = p.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("create", help="create a store")
    c.add_argument("store")
    c.add_argument("--keys", required=True, help="comma-separated key fields")
    c.add_argument("--partitions", type=int, default=None)
    c.add_argument("--hybrid", action="store_true")
    sub.add_parser("list", help="list stores")
    for name in ("describe", "versions", "delete"):
        sp = sub.add_parser(name)
        sp.add_argument("store")
    u = sub.add_parser("update-store", help="change store settings")
    u.add_argument("store")
    u.add_argument("changes", nargs="*", metavar="key=value")
    r = sub.add_parser("rollback")
    r.add_argument("store")
    r.add_argument("version", nargs="?", type=int, default=None)
    s = sub.add_parser("set-version")
    s.add_argument("store")
    s.add_argument("version", type=int)
    t = sub.add_parser("retire")
    t.add_argument("store")
    t.add_argument("--keep", type=int, default=2)
    rec = sub.add_parser(
        "recover",
        help="heal crash-stranded state: carry stranded delta slots onto "
        "the current version, finish/roll back interrupted serving-dir "
        "swaps (recover_swap_dir), optionally run the deferred GC",
    )
    rec.add_argument("store")
    rec.add_argument(
        "--gc",
        action="store_true",
        help="also delete GC-pending serving files (ends the current "
        "reader-isolation grace — only when no readers are in flight)",
    )
    rec.add_argument(
        "--clean-staging",
        action="store_true",
        help="also remove _delta_staging-* orphans left by crashed "
        "pushes and *__compact_* staging left by crashed compactions "
        "(only when no pushes/compactions are in flight — a live "
        "writer's staging dir is indistinguishable from an orphan)",
    )
    tr = sub.add_parser(
        "truncate-rt",
        help="RT-log retention: delete update-log files whose every "
        "record is older than --before-ts (the reference's RT topic "
        "retention). Refuses (exit 1) when an existing consumer "
        "checkpoint has not committed a to-be-deleted file; pick a "
        "cutoff no later than now - rewind.",
    )
    tr.add_argument("store")
    tr.add_argument("--before-ts", type=int, required=True)
    tr.add_argument(
        "--force",
        action="store_true",
        help="delete even files a consumer checkpoint has not committed "
        "(accepts data loss for that consumer — only when the checkpoint "
        "is known dead)",
    )
    cp = sub.add_parser(
        "compact",
        help="serving-log type migration: with --cast, rewrite the "
        "store's serving logs with every registry-typed column cast to "
        "the registry's CURRENT type (the escape hatch for genuinely "
        "incompatible retypes the write path refuses — every Avro "
        "promotion incl. long->double is zero-rewrite on serving logs "
        "since r9, and the rt dir auto-migrates non-native widenings at "
        "flush since r10, so this is needed only for true retypes). "
        "Values the target type cannot represent become NULL, reported "
        "per column.",
    )
    cp.add_argument("store")
    cp.add_argument(
        "--cast",
        action="store_true",
        help="perform the cast rewrite (required — inline folding "
        "compaction runs in the serving triggers, not here)",
    )
    lg = sub.add_parser(
        "lag",
        help="hybrid replay lag per serving log: max RT ts minus max "
        "served ts (the reference's ready-to-serve gate — offset/"
        "producer-timestamp lag thresholds, HybridStoreConfigImpl). "
        "With --threshold, exits 1 when any serving log lags more — a "
        "scriptable health gate.",
    )
    lg.add_argument("store")
    lg.add_argument("--threshold", type=int, default=None)
    lg.add_argument("--ts-col", default="ts")
    il = sub.add_parser(
        "inspect-log",
        help="serving-log health: stamp pressure, GC-pending files, "
        "schema sidecar, seed marker, delta-slot arrival order",
    )
    il.add_argument("store")
    co = sub.add_parser(
        "consumers",
        help="consumer-checkpoint roster hygiene (the reference's "
        "consumer/offset inspection slice, Command.java:206-746): list "
        "every checkpoint the RT retention guard protects — built-in "
        "replay checkpoints, registered entries, discovered in-store-dir "
        "checkpoints — with commit state, last-commit age, and how many "
        "current rt files each has NOT committed (a consumer blocks "
        "truncate-rt only when the cutoff covers such a file; healthy "
        "consumers lag the newest flush between triggers). A registered "
        "checkpoint whose consumer died blocks "
        "truncate-rt and serve-path retention forever; clear it with "
        "--unregister NAME (exit 1 when NAME is not registered).",
    )
    co.add_argument("store")
    co.add_argument(
        "--unregister",
        metavar="NAME",
        default=None,
        help="drop a dead consumer from the registered roster (NAME as "
        "shown without the 'registered:' prefix)",
    )
    return p


def _serving_dirs(cat: StoreCatalog, store: str) -> list[tuple[str, str]]:
    """(path, stamp_col) of the store's serving logs that exist on disk."""
    out = []
    for name, stamp in (("serving", "__batch"), ("aa_serving", "__aa_batch")):
        d = os.path.join(cat.store_dir(store), name)
        if os.path.isdir(d):
            out.append((d, stamp))
    return out


def _cmd_consumers(cat: StoreCatalog, args: argparse.Namespace) -> int:
    """Operator view of the RT retention guard's roster (VERDICT r9 #6):
    a registered checkpoint whose consumer died blocks truncate-rt and
    serve-path retention with no remedy short of force=True; this lists
    each protected checkpoint's commit state so the operator can see WHO
    would block, and --unregister clears the dead entry. Shares the
    PROBE SET with truncate_rt_log (the same roster the guard walks);
    whether an uncommitted file actually blocks depends on the
    operator's cutoff, so committed-but-lagging consumers report
    `lagging`, not `blocks_truncation`."""
    import time

    from venice_spark.producer import (
        _checkpoint_committed_files,
        consumer_checkpoint_probes,
    )

    cat.get_store(args.store)
    if args.unregister is not None:
        existed = cat.unregister_consumer_checkpoint(args.store, args.unregister)
        print(
            json.dumps(
                {"store": args.store, "unregistered": args.unregister, "existed": existed}
            )
        )
        return 0 if existed else 1

    rt_dir = cat.update_log_dir(args.store)
    rt_files = set()
    if os.path.isdir(rt_dir):
        rt_files = {
            os.path.realpath(os.path.join(rt_dir, f))
            for f in os.listdir(rt_dir)
            if f.endswith(".parquet")
        }
    report = []
    now = time.time()
    for name, path in sorted(consumer_checkpoint_probes(cat, args.store).items()):
        committed = _checkpoint_committed_files(path)
        kind = (
            "registered"
            if name.startswith("registered:")
            else ("builtin" if name in ("_rt_checkpoint", "_aa_checkpoint") else "discovered")
        )
        entry = {"name": name, "path": path, "kind": kind}
        if committed is None:
            entry["state"] = "no checkpoint dir"
            # the guard's semantics (ADVICE r9): a registered entry with
            # no dir yet means committed-nothing — every rt file blocks
            entry["blocks_truncation"] = kind == "registered" and bool(rt_files)
            entry["uncommitted_rt_files"] = len(rt_files) if kind == "registered" else 0
        else:
            entry["state"] = "committed"
            uncommitted = sorted(
                os.path.basename(p) for p in rt_files if p not in committed
            )
            # `lagging`, not `blocks_truncation`: the guard only blocks on
            # files BELOW the operator's cutoff, and a healthy consumer is
            # expected to lag the newest flush between triggers — naming
            # this a blocker invited unregistering LIVE consumers
            # (code-review r10). It blocks a truncate-rt only when the
            # cutoff covers one of these files.
            entry["lagging"] = bool(uncommitted)
            entry["uncommitted_rt_files"] = len(uncommitted)
            if uncommitted:
                entry["first_uncommitted"] = uncommitted[0]
            commits = os.path.join(path, "commits")
            try:
                ages = [
                    now - os.path.getmtime(os.path.join(commits, f))
                    for f in os.listdir(commits)
                    if f.isdigit()
                ]
                if ages:
                    entry["last_commit_age_seconds"] = int(min(ages))
            except OSError:
                pass
        report.append(entry)
    print(json.dumps({"store": args.store, "consumers": report}, indent=2))
    return 0


def _cmd_recover(cat: StoreCatalog, args: argparse.Namespace) -> int:
    """Ops entry for the library healers (VERDICT r6 #5 — the reference's
    admin tool carries the ops slice of store health, Command.java:206-746).
    recover_swap_dir is pure filesystem; the stranded-delta carry needs a
    SparkSession (a layout-mismatched slot is restaged through a
    repartition), created lazily so every other admin command stays
    JVM-free."""
    import glob

    cat.get_store(args.store)  # unknown store exits 1 before any JVM spinup
    from venice_spark.streaming.hybrid import (
        clear_dead_job_staging,
        recover_swap_dir,
        run_deferred_gc,
        sweep_leaked_tmps,
    )

    healed = []
    tmps_removed = 0
    staging_cleared = 0
    gc_removed = {}
    staging_removed = 0
    # EVERY filesystem mutation below runs under the per-store flock
    # (ADVICE r9 + code-review r10): clear_dead_job_staging's contract
    # requires the writer lock; sweep_compact_orphans racing a LIVE
    # compact (which holds the flock between staging its `__compact_*`
    # fileset and merging it in) would delete the staged fileset and let
    # record_gc_pending queue the only copy of the serving rows for
    # deletion; a swap-heal racing a live `compact --cast` or RT
    # migration mid-swap could mis-heal. Under the lock, recover against a still-running
    # writer is a safe WAIT instead of silent corruption. Only the
    # stranded-delta carry stays outside (it is version-level state
    # guarded by its own lineage-manifest protocol and needs a
    # SparkSession).
    with cat._locked(args.store):
        # every `<target>__<tag>_old` sibling marks a swap that may have
        # died between its two renames; recover each target (no-op when
        # healthy)
        roots = {
            d[: d.rindex("__")]
            for pat in ("*__*_old", "*__*_tmp")
            for d in glob.glob(os.path.join(cat.store_dir(args.store), pat))
        }
        for name in ("serving", "aa_serving"):
            roots.add(os.path.join(cat.store_dir(args.store), name))
        for target in sorted(roots):
            if recover_swap_dir(target):
                healed.append(os.path.basename(target))
        # crash-leaked tmp files: VISIBLE pre-r9-style tmpXXXX.tmp in a
        # parquet dir bricks every read, so recover always sweeps those
        # (age 0 — under the lock nothing can be in flight); dot-prefixed
        # orphans are invisible to Spark and swept only with
        # --clean-staging.
        for d, _stamp in _serving_dirs(cat, args.store):
            tmps_removed += sweep_leaked_tmps(
                d, include_hidden=args.clean_staging, min_age_seconds=0
            )
            # a killed job's `_temporary` staging would be merged into the
            # NEXT writer's commit on the same dir (resurrecting un-acked
            # rows); writers clear it under the lock, recover clears it
            # here under the same lock (code-review r9, ADVICE r9)
            if args.clean_staging and clear_dead_job_staging(d):
                staging_cleared += 1
        rt_dir = cat.update_log_dir(args.store)
        if os.path.isdir(rt_dir):
            tmps_removed += sweep_leaked_tmps(
                rt_dir, include_hidden=args.clean_staging, min_age_seconds=0
            )
            if args.clean_staging and clear_dead_job_staging(rt_dir):
                staging_cleared += 1
        if args.gc:
            for d, _stamp in _serving_dirs(cat, args.store):
                n = run_deferred_gc(d)
                if n:
                    gc_removed[os.path.basename(d)] = n
        if args.clean_staging:
            import shutil

            from venice_spark.streaming.hybrid import sweep_compact_orphans

            for d in glob.glob(
                os.path.join(cat.store_dir(args.store), "_delta_staging-*")
            ):
                shutil.rmtree(d, ignore_errors=True)
                staging_removed += 1
            # crashed-compact staging siblings (ADVICE r7):
            # `<serving>__compact_*` dirs are referenced by no manifest
            # and re-built by any re-run
            for d, _stamp in _serving_dirs(cat, args.store):
                staging_removed += sweep_compact_orphans(d)
    carried = 0
    if cat.current_version(args.store) > 0:
        # the stranded-delta walk needs a session (a layout-mismatched
        # slot restages through a repartition); skip the JVM entirely for
        # versionless stores
        from venice_spark.push import recover_stranded_deltas
        from venice_spark.session import get_spark

        carried = recover_stranded_deltas(get_spark("admin_recover"), cat, args.store)
    print(
        json.dumps(
            {
                "store": args.store,
                "carried_slots": carried,
                "healed_swaps": healed,
                "gc_removed": gc_removed,
                "staging_removed": staging_removed,
                "leaked_tmps_removed": tmps_removed,
                "dead_job_staging_cleared": staging_cleared,
            },
            indent=2,
        )
    )
    return 0


def _cmd_lag(cat: StoreCatalog, args: argparse.Namespace) -> int:
    """Replay-lag report (the reference's ready-to-serve gate:
    offsetLagThresholdToGoOnline / producerTimestampLagThresholdToGoOnline,
    meta/HybridStoreConfigImpl.java — HybridReplay.ready_to_serve computes
    the same formula inside a serve loop; this is the ops-side, no-handle
    edition). lag = max RT ts - max served ts per serving log, in the ts
    column's own unit. Exit 1 when --threshold is given and any serving
    log lags more; a serving log with NO served ts yet reports the full RT
    max as its lag."""
    cat.get_store(args.store)
    import pyspark.sql.functions as F

    from venice_spark.producer import read_rt_log
    from venice_spark.session import get_spark
    from venice_spark.streaming.hybrid import log_schema

    spark = get_spark("admin_lag")
    rt_dir = cat.update_log_dir(args.store)
    rt_max = None
    if os.path.isdir(rt_dir) and any(
        f.endswith(".parquet") for f in os.listdir(rt_dir)
    ):
        rt_df = read_rt_log(spark, cat, args.store)
        # mirror the serving-side guard: a missing --ts-col must honor the
        # 0/1/2 exit contract, not escape as a raw AnalysisException
        # traceback (ADVICE r8)
        if args.ts_col not in rt_df.columns:
            print(
                f"admin lag: rt log of store {args.store!r} has no column "
                f"{args.ts_col!r} (columns: {rt_df.columns}) — pass the "
                "right --ts-col",
                file=sys.stderr,
            )
            return 2
        rt_max = rt_df.agg(F.max(args.ts_col)).collect()[0][0]
    report: dict = {"store": args.store, "rt_max_ts": rt_max, "serving": {}}
    lagging = False
    for d, _stamp in _serving_dirs(cat, args.store):
        from venice_spark.streaming.hybrid import read_log

        df = read_log(spark, d, log_schema(d))
        srv_max = (
            df.agg(F.max(args.ts_col)).collect()[0][0]
            if args.ts_col in df.columns
            else None
        )
        if rt_max is None:
            lag = 0  # nothing to replay: caught up by definition
        elif srv_max is None:
            lag = rt_max  # nothing served yet: the whole log is lag
        else:
            lag = max(0, rt_max - srv_max)
        report["serving"][os.path.basename(d)] = {
            "serving_max_ts": srv_max,
            "lag": lag,
        }
        if args.threshold is not None and lag > args.threshold:
            lagging = True
    print(json.dumps(report, indent=2))
    return 1 if lagging else 0


def _cmd_inspect_log(cat: StoreCatalog, args: argparse.Namespace) -> int:
    """Read-only serving-log health report (pairs with `recover`)."""
    meta = cat.get_store(args.store)
    from venice_spark.streaming.hybrid import (
        gc_pending,
        log_schema,
        log_stamp_pressure,
        seeded_version,
    )

    report: dict = {
        "store": args.store,
        "current_version": meta.current_version,
        "delta_slots": [
            {
                "slot": os.path.basename(d),
                "arrival_seq": cat.slot_seq(d),
            }
            for d in cat.list_delta_dirs(args.store, meta.current_version)
        ]
        if meta.current_version > 0
        else [],
        "serving_logs": {},
    }
    rt_dir = cat.update_log_dir(args.store)
    if os.path.isdir(rt_dir):
        report["rt_log"] = {
            "files": sum(
                1 for f in os.listdir(rt_dir) if f.endswith(".parquet")
            ),
            "schema_sidecar": log_schema(rt_dir) is not None,
        }
    # a serving dir ABSENT with a __*_old/__*_tmp sibling is a swap that
    # died between its renames — inspect is read-only, so REPORT it
    # (recover heals it) instead of showing an absent dir as zeros
    import glob as _glob

    stranded = sorted(
        {
            os.path.basename(d[: d.rindex("__")])
            for pat in ("*__*_old", "*__*_tmp")
            for d in _glob.glob(os.path.join(cat.store_dir(args.store), pat))
            if not os.path.isdir(d[: d.rindex("__")])
        }
    )
    if stranded:
        report["crashed_swaps"] = stranded
    dirs = _serving_dirs(cat, args.store)
    if dirs:
        from venice_spark.session import get_spark

        from venice_spark.schema_compat import avro_promotion_target
        from venice_spark.streaming.hybrid import latest_value_types

        spark = get_spark("admin_inspect")
        # drift vs the LATEST schema, not the superset: a narrowing retype
        # resolves away in the superset and would be invisible here
        reg = latest_value_types(cat, args.store)
        for d, stamp_col in dirs:
            nxt, live = log_stamp_pressure(spark, d, stamp_col)
            pending = gc_pending(d)
            entry = {
                "seeded_version": seeded_version(d),
                "schema_sidecar": log_schema(d) is not None,
                "next_stamp": nxt,
                "live_stamps": live,
                "gc_pending_files": len(pending["files"]) if pending else 0,
                "compact_stamp": pending["compact_stamp"] if pending else None,
            }
            # registry-vs-log type drift (r8): a PROMOTABLE drift widens
            # on every read — since r9 via the FULL Avro lattice (native
            # scan widening or cast-on-read legacy groups), so long→double
            # no longer sends the operator to a full-table compact --cast
            # (code-review r9); only a true retype bricks the next write
            # until the migration runs
            side = log_schema(d)
            if side is not None and reg:
                drift = {}
                for f in side.fields:
                    t = reg.get(f.name)
                    if t is None or t == f.dataType:
                        continue
                    target = avro_promotion_target(f.dataType, t)
                    drift[f.name] = {
                        "log": f.dataType.simpleString(),
                        "registry": t.simpleString(),
                        "resolution": (
                            f"reads widen to {target.simpleString()}"
                            if target is not None
                            else "needs compact --cast"
                        ),
                    }
                if drift:
                    entry["type_drift"] = drift
            report["serving_logs"][os.path.basename(d)] = entry
    print(json.dumps(report, indent=2))
    return 0


def _run(args: argparse.Namespace) -> int:
    cat = StoreCatalog(args.root)
    if args.cmd == "create":
        kwargs = {}
        if args.partitions is not None:
            kwargs["partition_count"] = args.partitions
        if args.hybrid:
            kwargs["hybrid"] = True
        meta = cat.create_store(args.store, key_fields=args.keys.split(","), **kwargs)
        print(json.dumps(json.loads(meta.to_json()), indent=2))
    elif args.cmd == "list":
        for s in cat.list_stores():
            meta = cat.get_store(s)
            print(f"{s}\tcurrent=v{meta.current_version}\tpartitions={meta.partition_count}")
    elif args.cmd == "describe":
        meta = cat.get_store(args.store)
        print(json.dumps(json.loads(meta.to_json()), indent=2))
        man = cat.version_manifest(args.store)
        if man:
            print("current version manifest:", json.dumps(man, indent=2))
    elif args.cmd == "versions":
        cur = cat.current_version(args.store)
        for v in cat.list_versions(args.store):
            man = cat.version_manifest(args.store, v) or {}
            marker = " *current*" if v == cur else ""
            print(f"v{v}{marker}\trows={man.get('rows', '?')}\ttype={man.get('push_type', '?')}")
    elif args.cmd == "update-store":
        changes = {}
        for kv in args.changes:
            k, sep, v = kv.partition("=")
            if not sep or not k:
                raise _UsageError(f"update-store arguments are key=value, got {kv!r}")
            if v.lower() in ("true", "false"):
                changes[k] = v.lower() == "true"
            elif v.lstrip("-").isdigit():
                changes[k] = int(v)
            else:
                changes[k] = v
        meta = cat.update_store(args.store, **changes)
        print(json.dumps(json.loads(meta.to_json()), indent=2))
    elif args.cmd == "rollback":
        v = cat.rollback(args.store, args.version)
        print(f"{args.store} now serving v{v}")
    elif args.cmd == "set-version":
        cat.set_version(args.store, args.version)
        print(f"{args.store} now serving v{args.version}")
    elif args.cmd == "retire":
        gone = cat.retire_old_versions(args.store, keep=args.keep)
        print(f"retired versions: {gone or 'none'}")
    elif args.cmd == "delete":
        cat.get_store(args.store)  # unknown store is exit 1, not silent rmtree
        cat.delete_store(args.store)
        print(f"deleted store {args.store}")
    elif args.cmd == "recover":
        return _cmd_recover(cat, args)
    elif args.cmd == "truncate-rt":
        cat.get_store(args.store)
        from venice_spark.producer import truncate_rt_log
        from venice_spark.session import get_spark

        n = truncate_rt_log(
            get_spark("admin_truncate"), cat, args.store, args.before_ts,
            force=args.force,
        )
        print(json.dumps({"store": args.store, "removed_files": n}))
    elif args.cmd == "compact":
        cat.get_store(args.store)
        if not args.cast:
            raise _UsageError(
                "compact requires --cast: folding compaction runs inline "
                "in the serving triggers; this command is the explicit "
                "type-migration rewrite"
            )
        from venice_spark.session import get_spark
        from venice_spark.streaming.hybrid import compact_cast

        spark = get_spark("admin_compact")
        report = {}
        for d, _stamp in _serving_dirs(cat, args.store):
            report[os.path.basename(d)] = compact_cast(spark, cat, args.store, d)
        # the RT log's write-ahead sidecar refuses the retype on every
        # future flush too — migrate it alongside the serving logs. Note:
        # batch VERSION dirs are not rewritten (push the next version with
        # the new schema); a post-cast RESEED therefore still carries the
        # old type until that push lands.
        rt_dir = cat.update_log_dir(args.store)
        if os.path.isdir(rt_dir):
            report["rt"] = compact_cast(spark, cat, args.store, rt_dir)
        print(json.dumps({"store": args.store, "cast_report": report}, indent=2))
    elif args.cmd == "lag":
        return _cmd_lag(cat, args)
    elif args.cmd == "inspect-log":
        return _cmd_inspect_log(cat, args)
    elif args.cmd == "consumers":
        return _cmd_consumers(cat, args)
    return 0


def main(argv: list[str]) -> int:
    try:
        args = _build_parser().parse_args(argv)
    except SystemExit as e:  # argparse already printed usage/error
        return int(e.code or 0)
    try:
        return _run(args)
    except _UsageError as e:
        print(f"error: {e}", file=sys.stderr)
        print(__doc__)
        return 2
    except StoreNotFoundError as e:
        # KeyError str() quotes its arg; spell the situation out
        print(f"error: no such store: {e.args[0]}", file=sys.stderr)
        return 1
    except (ValueError, TypeError) as e:
        # catalog-level refusals (illegal update field, nonexistent
        # version) are operational errors, not usage errors
        print(f"error: {e}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
