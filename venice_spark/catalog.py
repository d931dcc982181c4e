"""Store catalog: named stores, versioned parquet data, atomic version swap.

Reference semantics:
  - Store: key schema + versioned value schemas + config
    (internal/venice-common/src/main/java/com/linkedin/venice/meta/Store.java:1).
  - Version: immutable snapshot produced by one batch push; the controller
    swaps a "current version" pointer atomically on push completion
    (meta/Version.java:1, hadoop/VenicePushJob.java:759-1010).
  - Value schemas form a versioned, compatibility-checked list
    (internal/venice-client-common/.../schema/SchemaEntry.java:1).

Spark-first mapping: a store is a directory `<root>/<store>/` containing
`v<N>/` parquet version dirs plus a `store.json` metadata file. The atomic
swap is an os.replace() of the metadata file pointing at the new version —
readers resolving the store always see a complete version. On a real
deployment `<root>` is an object-store prefix and the pointer flip is a
conditional PUT; the engine code is identical.
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import json
import os
import shutil
import tempfile
import time
from dataclasses import dataclass, field
from typing import Any

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _slot_index(slot_dir: str) -> int:
    """Numeric index of a `d{K}` delta-slot dir (naming only, not precedence)."""
    return int(os.path.basename(slot_dir)[1:])


def drop_tombstones(df: DataFrame) -> DataFrame:
    """Resolved slot rows minus their `__del` tombstones (nulls_as_deletes)."""
    if "__del" not in df.columns:
        return df
    import pyspark.sql.functions as F

    return df.filter(~F.coalesce(F.col("__del"), F.lit(False))).drop("__del")


class StoreNotFoundError(KeyError):
    pass


class SchemaIncompatibleError(ValueError):
    pass


@dataclass
class StoreMeta:
    name: str
    key_fields: list[str]
    key_schema_json: str | None = None
    # versioned value schemas: list of StructType JSON strings, 1-indexed ids
    value_schemas: list[str] = field(default_factory=list)
    current_version: int = 0
    largest_used_version: int = 0
    partition_count: int = 32
    # hybrid-store config (reference: meta/HybridStoreConfigImpl.java:17-44)
    hybrid: bool = False
    rewind_seconds: int = 0
    # active-active / timestamp conflict resolution enabled
    active_active: bool = False
    config: dict[str, Any] = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(self.__dict__, indent=2, default=str)

    @staticmethod
    def from_json(s: str) -> "StoreMeta":
        d = json.loads(s)
        return StoreMeta(**d)


# View naming, shared by the push view defs (writes), push.open_view
# (reads) and retire_old_versions (drops): ONE encoding of dir suffix and
# table name, so retirement can never silently stop matching what write
# registered (code-review r4).
VIEW_INFIX = "__view_"
BUCKETED_VIEW_INFIX = "__bucketed_"


def bucketed_view_table_name(store: str, view_name: str, version: int) -> str:
    return f"{store}__{view_name}_v{version}"


def view_dir(version_dir: str, view_name: str) -> str:
    return f"{version_dir}{VIEW_INFIX}{view_name}"


def bucketed_view_dir(version_dir: str, view_name: str) -> str:
    return f"{version_dir}{BUCKETED_VIEW_INFIX}{view_name}"


def _struct_from_json(s: str) -> T.StructType:
    return T.StructType.fromJson(json.loads(s))


_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _data_files(d: str) -> list[str]:
    """The data files Spark would read in `d` (hidden `.`/`_` names
    skipped); [] for a missing dir."""
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return []
    return sorted(os.path.join(d, n) for n in names if not n.startswith((".", "_")))


def _partition_dirs(version_dir: str) -> list[str]:
    """A version's partition_id=P subdirs; [] when it has none (an empty
    version is written plain) or is missing."""
    try:
        names = os.listdir(version_dir)
    except FileNotFoundError:
        return []
    return [os.path.join(version_dir, n) for n in names if n.startswith("partition_id=")]


def _footer_schema(version_dir: str) -> T.StructType | None:
    """The Spark schema of a version's data files, read from one file's
    footer (`org.apache.spark.sql.parquet.row.metadata` — the schema
    Spark's own reader takes, so column order and types match an inferred
    read without its listing or inference job). None when the dir has no
    partition_id=P subdirs or no footer schema."""
    for p in _partition_dirs(version_dir):
        files = _data_files(p)
        if files:
            raw = (pq.read_schema(files[0]).metadata or {}).get(_SPARK_ROW_METADATA)
            return None if raw is None else T.StructType.fromJson(json.loads(raw))
    return None


def read_partitioned(spark: SparkSession, d: str) -> DataFrame:
    """A partition_id=P-partitioned dir (a version or a delta slot). With a
    footer schema the read takes it (plus the int partition column)
    instead of running Spark's schema-inference job; otherwise (an empty
    dir written plain) Spark infers."""
    schema = _footer_schema(d)
    if schema is None:
        return spark.read.parquet(d)
    pid = T.StructField("partition_id", T.IntegerType(), True)
    return spark.read.schema(T.StructType([*schema.fields, pid])).parquet(d)


class StoreCatalog:
    """Filesystem-backed catalog of versioned stores."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        # superset-schema memo keyed on store.json (mtime_ns, size): the
        # superset only changes when a schema registers (a meta rewrite),
        # and recomputing it — N StructType parses + N-1 unions — on every
        # df()/get()/inspect call would tax the point-read hot path
        # (code-review r8)
        self._superset_cache: dict = {}

    # ---- paths ----
    def store_dir(self, store: str) -> str:
        return os.path.join(self.root, store)

    def _meta_path(self, store: str) -> str:
        return os.path.join(self.store_dir(store), "store.json")

    def version_dir(self, store: str, version: int) -> str:
        return os.path.join(self.store_dir(store), f"v{version}")

    def update_log_dir(self, store: str) -> str:
        """Directory of appended put/delete/update rows (the 'real-time topic')."""
        return os.path.join(self.store_dir(store), "rt")

    @contextlib.contextmanager
    def _locked(self, store: str):
        """Exclusive advisory lock serializing metadata read-modify-write.

        The reference serializes version creation/swap through the
        controller (VenicePushJob asks the controller for the next version
        — hadoop/VenicePushJob.java:885); with a file catalog the
        equivalent is an fcntl lock next to store.json, so two concurrent
        push jobs can never reserve the same version number or lose each
        other's metadata updates. Lock scope is one store — pushes to
        different stores never contend."""
        os.makedirs(self.store_dir(store), exist_ok=True)
        fd = os.open(os.path.join(self.store_dir(store), ".lock"), os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    # ---- store lifecycle ----
    def create_store(
        self,
        name: str,
        key_fields: list[str],
        value_schema: T.StructType | None = None,
        partition_count: int = 32,
        hybrid: bool = False,
        rewind_seconds: int = 0,
        active_active: bool = False,
        **config: Any,
    ) -> StoreMeta:
        if os.path.exists(self._meta_path(name)):
            raise ValueError(f"store {name!r} already exists")
        if config.get("views"):
            # accept view OBJECTS (MaterializedViewDef & friends) as well as
            # spec dicts: the meta stores JSON-able specs, and a raw object
            # here would crash declared_views on the first later read
            config = dict(config)
            config["views"] = [
                v.spec() if hasattr(v, "spec") and callable(v.spec) else v
                for v in config["views"]
            ]
        meta = StoreMeta(
            name=name,
            key_fields=list(key_fields),
            value_schemas=[json.dumps(value_schema.jsonValue())] if value_schema else [],
            partition_count=partition_count,
            hybrid=hybrid,
            rewind_seconds=rewind_seconds,
            active_active=active_active,
            config=config,
        )
        os.makedirs(self.store_dir(name), exist_ok=True)
        self._write_meta(meta)
        return meta

    def get_store(self, name: str) -> StoreMeta:
        try:
            with open(self._meta_path(name)) as f:
                return StoreMeta.from_json(f.read())
        except FileNotFoundError:
            raise StoreNotFoundError(name) from None

    _MUTABLE_FIELDS = {"partition_count", "hybrid", "rewind_seconds", "active_active"}
    _IMMUTABLE_FIELDS = {
        "name",
        "key_fields",
        "key_schema_json",
        "value_schemas",
        "current_version",
        "largest_used_version",
    }

    def update_store(self, name: str, **changes: Any) -> StoreMeta:
        """Admin-tool `update-store` parity: change store-level settings
        (hybrid/rewind/partition count/free-form config like compression,
        quota, schema_compat) under the store lock. Key fields and schemas
        are immutable (the reference rejects key-schema changes outright;
        value schemas evolve only through add_value_schema's compat check),
        and version pointers move only through commit/rollback/set_version.
        A partition_count change applies from the NEXT push — existing
        versions keep the layout they were written with (their manifests
        record it)."""
        with self._locked(name):
            meta = self.get_store(name)
            for k, v in changes.items():
                if k in self._IMMUTABLE_FIELDS or k == "config":
                    raise ValueError(f"store field {k!r} cannot be changed via update_store")
                if k in self._MUTABLE_FIELDS:
                    setattr(meta, k, v)
                else:
                    if k == "views" and v:
                        # normalize view objects to JSON-able specs, same as
                        # create_store
                        v = [
                            x.spec() if hasattr(x, "spec") and callable(x.spec) else x
                            for x in v
                        ]
                    meta.config[k] = v
            self._write_meta(meta)
            return meta

    def list_stores(self) -> list[str]:
        out = []
        if os.path.isdir(self.root):
            for d in sorted(os.listdir(self.root)):
                if os.path.exists(self._meta_path(d)):
                    out.append(d)
        return out

    def delete_store(self, name: str) -> None:
        shutil.rmtree(self.store_dir(name), ignore_errors=True)

    # ---- consumer checkpoint registry (RT retention safety) ----
    # The reference's RT topic retention is Kafka-side: a lagging consumer
    # keeps its committed offsets and Kafka's deletion is coordinated with
    # them structurally. The file edition needs an explicit roster: every
    # consumer that replays the RT log from its own Spark checkpoint
    # registers that checkpoint here, and truncate_rt_log refuses to delete
    # files any registered (or built-in) checkpoint has not committed
    # (ADVICE r8: a CDC reader with a caller-chosen checkpoint dir was
    # invisible to the guard — silent data loss for exactly the consumer
    # the contract named).
    def _consumer_ckpt_path(self, store: str) -> str:
        return os.path.join(self.store_dir(store), "consumer_checkpoints.json")

    def consumer_checkpoints(self, store: str) -> dict:
        """Registered consumer checkpoints: {name: abs_checkpoint_dir}."""
        try:
            with open(self._consumer_ckpt_path(store)) as f:
                d = json.load(f)
            return d if isinstance(d, dict) else {}
        except (OSError, ValueError):
            return {}

    def register_consumer_checkpoint(
        self, store: str, checkpoint_dir: str, name: str | None = None
    ) -> str:
        """Register a consumer's Spark checkpoint dir so RT retention
        (producer.truncate_rt_log) protects its unread files. Returns the
        roster name (derived from the path when not given). Idempotent."""
        self.get_store(store)
        path = os.path.abspath(checkpoint_dir)
        if name is None:
            name = "consumer_" + hashlib.md5(path.encode()).hexdigest()[:12]
        with self._locked(store):
            roster = self.consumer_checkpoints(store)
            roster[name] = path
            self._write_consumer_checkpoints(store, roster)
        return name

    def unregister_consumer_checkpoint(self, store: str, name: str) -> bool:
        """Drop a dead consumer from the roster (its checkpoint no longer
        blocks retention). Returns whether the name was registered."""
        with self._locked(store):
            roster = self.consumer_checkpoints(store)
            existed = name in roster
            if existed:
                del roster[name]
                self._write_consumer_checkpoints(store, roster)
        return existed

    def _write_consumer_checkpoints(self, store: str, roster: dict) -> None:
        path = self._consumer_ckpt_path(store)
        fd, tmp = tempfile.mkstemp(
            prefix=".consumer_ckpt_", dir=os.path.dirname(path)
        )
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(roster, f, indent=2, sort_keys=True)
            os.replace(tmp, path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    # ---- schema registry (R14) ----
    def add_value_schema(self, store: str, schema: T.StructType) -> int:
        """Register a new value schema after an Avro-style reader/writer
        resolution check (schema/avro/SchemaCompatibility.java:1 semantics;
        see venice_spark/schema_compat.py): by-name field resolution,
        numeric/string-bytes promotions, defaulted adds, null-branch
        coverage. The store config key `schema_compat` picks the level —
        backward / forward / full / none, each with a `_transitive` variant
        checking every prior schema; default `full` (the reference's
        default for value schemas)."""
        from venice_spark.schema_compat import incompatibilities_for_level

        with self._locked(store):
            meta = self.get_store(store)
            level = str(meta.config.get("schema_compat", "full")).lower()
            previous = [_struct_from_json(s) for s in meta.value_schemas]
            problems = incompatibilities_for_level(level, previous, schema)
            if problems:
                detail = "; ".join(str(p) for p in problems[:5])
                raise SchemaIncompatibleError(
                    f"value schema for {store!r} fails {level} compatibility: {detail}"
                )
            meta.value_schemas.append(json.dumps(schema.jsonValue()))
            self._write_meta(meta)
            return len(meta.value_schemas)

    def get_value_schema(self, store: str, schema_id: int = -1) -> T.StructType:
        meta = self.get_store(store)
        if not meta.value_schemas:
            raise SchemaIncompatibleError(f"store {store!r} has no value schemas")
        return _struct_from_json(meta.value_schemas[schema_id - 1 if schema_id > 0 else -1])

    def get_superset_value_schema(self, store: str) -> T.StructType:
        """The union of EVERY registered value schema — the reference
        controller's superset schema (controller/supersetschema/
        DefaultSupersetSchemaGenerator.java:12 delegating to
        utils/AvroSupersetSchemaUtils.java:44 generateSupersetSchema):
        readers resolve against the superset, so a field present in ANY
        registered schema stays readable even after a later schema drops
        it. Same-name fields resolve to the Avro promotion target; on a
        genuinely incompatible retype (only reachable with
        schema_compat='none') the LATEST schema's type is authoritative
        and older occurrences only contribute missing fields."""
        try:
            st = os.stat(self._meta_path(store))
            cache_key = (st.st_mtime_ns, st.st_size)
        except OSError:
            cache_key = None
        cached = self._superset_cache.get(store)
        if cached is not None and cache_key is not None and cached[0] == cache_key:
            out = cached[1]
        else:
            from venice_spark.streaming.hybrid import union_log_fields

            fields: list | None = None  # None: no schema registered
            for s in reversed(self.get_store(store).value_schemas):  # latest first = authority
                fields = union_log_fields(
                    fields or [], list(_struct_from_json(s).fields), on_conflict="keep-base"
                )
            out = None if fields is None else T.StructType(fields)
            if cache_key is not None:
                self._superset_cache[store] = (cache_key, out)
        if out is None:
            raise SchemaIncompatibleError(f"store {store!r} has no value schemas")
        return out

    def get_key_fields(self, store: str) -> list[str]:
        return self.get_store(store).key_fields

    # ---- version lifecycle ----
    def begin_version(self, store: str) -> int:
        """Reserve the next version number (reference: createNewStoreVersion,
        VenicePushJob.java:885). Serialized per store — concurrent pushes
        get distinct version numbers."""
        with self._locked(store):
            meta = self.get_store(store)
            meta.largest_used_version += 1
            self._write_meta(meta)
            return meta.largest_used_version

    def commit_version(
        self, store: str, version: int, manifest: dict | None = None,
        make_current: bool = True,
    ) -> bool:
        """Atomically make `version` current (pointer flip == os.replace).
        Returns True when the pointer now serves `version`; False when the
        commit was superseded (a concurrent push committed a newer version
        first — see below) or make_current=False. Committers use the False
        return to restage their payload onto the winner (push.py lost-race
        handling, ADVICE r5).

        `manifest` records push metadata alongside the version dir (row
        count, partitioner, push type, timestamps) — the role of the
        reference's Version record (meta/Version.java:1), queryable without
        touching the data files.

        make_current=False records the manifest but leaves the pointer
        alone — the deferred-version-swap push (reference:
        VenicePushJobConstants.DEFER_VERSION_SWAP, VenicePushJob.java:436):
        data lands and validates fully, serving flips later via
        set_version, e.g. on an operator's schedule or after external
        checks."""
        if not os.path.isdir(self.version_dir(store, version)):
            raise ValueError(f"version dir for {store} v{version} does not exist")
        if manifest is not None:
            with open(
                os.path.join(self.version_dir(store, version), "_version_manifest.json"),
                "w",
            ) as f:
                json.dump({**manifest, "version": version, "committed_at": time.time()}, f, indent=2)
        if not make_current:
            return False
        with self._locked(store):
            meta = self.get_store(store)
            if version < meta.current_version:
                # a slower concurrent push finishing LAST with an earlier
                # reserved version number must not regress the pointer to
                # the older snapshot (code-review r4) — its data stays
                # landed and addressable via set_version, but serving keeps
                # the newest committed version (explicit rollback remains
                # set_version's job)
                return False
            meta.current_version = version
            meta.config["version_committed_at"] = time.time()
            self._write_meta(meta)
            return True

    def version_manifest(self, store: str, version: int | None = None) -> dict | None:
        if version is None:
            version = self.current_version(store)
        p = os.path.join(self.version_dir(store, version), "_version_manifest.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def current_version(self, store: str) -> int:
        return self.get_store(store).current_version

    def list_versions(self, store: str) -> list[int]:
        d = self.store_dir(store)
        out = []
        for name in os.listdir(d):
            if name.startswith("v") and name[1:].isdigit():
                out.append(int(name[1:]))
        return sorted(out)

    def set_version(self, store: str, version: int) -> None:
        """Point the store at an existing version (reference admin-tool
        `set-version`, Command.java:259 — "Set the version that will be
        served"). Unlike commit_version this never writes a manifest; it is
        the operator-facing pointer move for rollback/forward between
        retained versions."""
        with self._locked(store):
            if version not in self.list_versions(store):
                raise ValueError(
                    f"store {store} has no version v{version}; "
                    f"available: {self.list_versions(store)}"
                )
            meta = self.get_store(store)
            meta.current_version = version
            meta.config["version_committed_at"] = time.time()
            self._write_meta(meta)

    def rollback(self, store: str, to_version: int | None = None) -> int:
        """Roll the current-version pointer back to the newest retained
        version older than current (or an explicit `to_version`) — the
        bad-push escape hatch the reference serves via set-version to the
        backup version. Pure pointer flip: the data files of both versions
        are immutable, so rollback is O(1) regardless of store size and the
        rolled-back-from version stays on disk for roll-forward."""
        with self._locked(store):
            meta = self.get_store(store)
            versions = self.list_versions(store)
            if to_version is None:
                older = [v for v in versions if v < meta.current_version]
                if not older:
                    raise ValueError(
                        f"store {store} has no version older than the current "
                        f"v{meta.current_version} to roll back to"
                    )
                to_version = max(older)
            if to_version not in versions:
                raise ValueError(
                    f"store {store} has no version v{to_version}; available: {versions}"
                )
            meta.current_version = to_version
            meta.config["version_committed_at"] = time.time()
            self._write_meta(meta)
            return to_version

    def retire_old_versions(
        self, store: str, keep: int = 2, spark: "SparkSession | None" = None
    ) -> list[int]:
        """Drop all but the newest `keep` versions (never the current one).
        Locked so a concurrent commit's pointer flip can't interleave with
        the current-version read here.

        Pass `spark` to also DROP the session-catalog tables that
        BucketedViewDef.write registered for retired versions — without it
        the metastore keeps entries pointing at deleted LOCATIONs (ADVICE
        r3). read_bucketed_view additionally verifies the location exists,
        so a sparkless retirement still fails loudly rather than serving a
        broken table."""
        with self._locked(store):
            meta = self.get_store(store)
            versions = self.list_versions(store)
            retired = []
            for v in versions[:-keep] if keep else versions:
                if v != meta.current_version:
                    vdir = self.version_dir(store, v)
                    shutil.rmtree(vdir, ignore_errors=True)
                    # views live in SIBLING dirs (view_dir /
                    # bucketed_view_dir above); retire them with their
                    # base or they leak forever
                    base = os.path.basename(vdir)
                    parent = os.path.dirname(vdir)
                    for name in os.listdir(parent):
                        if name.startswith(f"{base}__"):
                            bucket_prefix = f"{base}{BUCKETED_VIEW_INFIX}"
                            if spark is not None and name.startswith(bucket_prefix):
                                view = name[len(bucket_prefix):]
                                spark.sql(
                                    "DROP TABLE IF EXISTS "
                                    + bucketed_view_table_name(store, view, v)
                                )
                            shutil.rmtree(
                                os.path.join(parent, name), ignore_errors=True
                            )
                    retired.append(v)
            return retired

    # ---- delta log (lazy incremental push) ----
    def deltas_dir(self, store: str, version: int) -> str:
        """Delta-log root for a version: `v{N}/_deltas/d{K}` dirs, each one
        incremental push. Living inside the version dir means version
        retirement cleans them up with the base."""
        return os.path.join(self.version_dir(store, version), "_deltas")

    def list_delta_dirs(self, store: str, version: int) -> list[str]:
        """Slots in RESOLUTION order (lowest precedence first).

        Precedence is ARRIVAL order, not slot-index order: each slot carries
        a store-level monotonic arrival sequence in its `_slot_meta.json`
        sidecar (written atomically with the slot by push._append_delta_slot).
        A slot stranded on a retired version by a crash and later carried
        forward by recover_stranded_deltas keeps its original sequence, so it
        resolves BELOW slots that genuinely arrived after it on the target
        version — the carry can never make days-old data outrank fresh writes
        (ADVICE r6, medium). Slots without a sidecar (pre-sequence layouts)
        sort as sequence 0 with the slot index as tiebreak, which preserves
        their historical index-order semantics among themselves and is
        correct against sequenced slots: any sidecar-less slot predates every
        sequenced one."""
        root = self.deltas_dir(store, version)
        if not os.path.isdir(root):
            return []
        ks = sorted(
            int(d[1:]) for d in os.listdir(root) if d.startswith("d") and d[1:].isdigit()
        )
        paths = [os.path.join(root, f"d{k}") for k in ks]
        return sorted(paths, key=lambda p: (self.slot_seq(p), _slot_index(p)))

    @staticmethod
    def slot_seq(slot_dir: str) -> int:
        """Arrival sequence of a delta slot (0 when the sidecar is absent)."""
        p = os.path.join(slot_dir, "_slot_meta.json")
        try:
            with open(p) as f:
                return int(json.load(f).get("seq", 0))
        except (OSError, ValueError):
            return 0

    def next_arrival_seq(self, store: str) -> int:
        """Allocate the next store-wide arrival sequence number.

        Monotonic across versions (a store-level counter file, not per-log):
        slot precedence must survive a carry between versions, so the
        ordering key cannot restart per version. Caller MUST hold the store
        lock (_locked) — this is a read-increment-write. Crash between the
        counter write and the slot rename burns a number, which is harmless
        (gaps never reorder)."""
        p = os.path.join(self.store_dir(store), "_arrival_seq")
        n = 0
        if os.path.exists(p):
            with open(p) as f:
                raw = f.read().strip()
            n = int(raw) if raw else 0
        n += 1
        fd, tmp = tempfile.mkstemp(dir=self.store_dir(store), suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as f:
                f.write(str(n))
            os.replace(tmp, p)
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise
        return n

    # ---- reading ----
    def read_current(self, spark: SparkSession, store: str) -> DataFrame:
        """The store's current content. With a delta log present (lazy
        incremental pushes, see push.incremental_push eager=False) the view
        is base ∪ deltas resolved latest-delta-wins — the LSM read path:
        writes stay delta-sized, reads pay one merge until compaction folds
        the log into the next version."""
        meta = self.get_store(store)
        if meta.current_version <= 0:
            raise ValueError(f"store {store!r} has no current version")
        base = self.read_version(spark, store, meta.current_version)
        deltas = self.list_delta_dirs(store, meta.current_version)
        if not deltas:
            return base
        return self._resolve_delta_view(spark, base, deltas, meta.key_fields)

    @staticmethod
    def _resolve_delta_view(
        spark: SparkSession,
        base: DataFrame,
        delta_dirs: list,
        key_fields: list[str],
        window_keys: list[str] | None = None,
    ) -> DataFrame:
        """base ∪ d1 ∪ ... ∪ dk with per-key precedence dk > ... > d1 > base.
        Each d is a slot dir, or an already-read frame (the eager push's
        in-flight delta rides on top of the slots this way).

        Each delta is already one-row-per-key (deduped at push time), so
        precedence is purely the delta index. By default the window
        partitions by (partition_id, *key) — partition_id is a pure
        function of the key, so the grouping is identical to per-key, and
        crucially a reader's `partition_id = P` filter now pushes THROUGH
        the window to both scans: point gets on a delta-backed store still
        prune directories. Tombstones (`__del` from nulls_as_deletes)
        survive resolution until filtered at the end, so a delete in d2
        hides a put in d1.

        This is the ONE latest-wins LSM kernel. Folds that must not window
        their base (compaction, the eager merge, every view reader) reach
        it through push._fold_slots, which resolves the slots among
        themselves over an empty base with `window_keys` = the store key
        (slot reads carry no base partition_id there)."""
        import pyspark.sql.functions as F
        from pyspark.sql import Window

        wkeys = window_keys if window_keys is not None else ["partition_id"] + list(key_fields)
        parts = [base.withColumn("__src", F.lit(0))]
        for i, d in enumerate(delta_dirs, start=1):
            dd = read_partitioned(spark, d) if isinstance(d, str) else d
            parts.append(dd.withColumn("__src", F.lit(i)))
        allp = parts[0]
        for p in parts[1:]:
            allp = allp.unionByName(p, allowMissingColumns=True)
        w = Window.partitionBy(*wkeys).orderBy(F.col("__src").desc())
        out = (
            allp.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__src")
        )
        return drop_tombstones(out)

    def read_version(self, spark: SparkSession, store: str, version: int) -> DataFrame:
        """A version's files (`read_partitioned`)."""
        return read_partitioned(spark, self.version_dir(store, version))

    # ---- internals ----
    def _write_meta(self, meta: StoreMeta) -> None:
        """Atomic metadata write: tmp file + os.replace."""
        path = self._meta_path(meta.name)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as f:
                f.write(meta.to_json())
            os.replace(tmp, path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
