"""DirectoryNamespace: a warehouse-directory-backed namespace backend.

Plays the role the reference's six catalog servers play (Glue/Hive/Iceberg/
Polaris/Unity) but self-contained: namespace and table metadata live in one
JSON state file under the warehouse root, table data lives at each table's
``location`` as parquet (or Lance when the ``lance`` package is importable).

State-file contract, shared with the JVM plugin (DirectoryTableCatalog.java):
* a writer holds a POSIX record lock on ``<root>/_namespace_catalog.lock``
  (``fcntl.lockf`` here, ``FileChannel.lock`` in the JVM; both are fcntl
  locks on Linux) from its read through its rename, so read-modify-write
  cycles of every process, in either plane, are serialized;
* a write replaces the file by rename only, never in place: compact JSON to
  a temp file in the root, fsync it, rename it over the state file, fsync
  the root directory.  Each rename is atomic, so readers take no lock;
* within one process every instance over a root shares one store, which
  serves reads from the parsed state while the file is still the inode it
  parsed (see ``_StateStore``).

Semantics ported from the reference (citations per method):
* declared-vs-materialized tables with a storage probe
  (table_utils.py:22-45, LanceTableUtil.java:44-60);
* creation modes create/exist_ok/overwrite (glue.py:152-165,
  hive3.py:355-367);
* RESTRICT-only drops — cascade rejected, emptiness pre-checked
  (glue.py:283-301, Hive3Namespace.java:736-745);
* drop mode=skip tolerates missing targets (Hive3Namespace.java:683-688);
* Lance-table filtering on listings (glue.py:504-520);
* required property merge table_type=lance / managed_by=storage
  (hive2.py:511-518, Hive3Util.java:171-179);
* offset-token pagination (PageUtil.java:19-70);
* register-then-write-data ordering for create_table, preserving the
  reference's observable non-atomicity (Hive3Namespace.java:526-578);
* pickle-safety: pure-path state, no live handles (glue.py:522-532).

Scale note: this backend is a *driver-side* metadata plane — catalog ops never
touch executors.  Data-plane reads resolve a location and hand it to
``spark.read``; at 100 TB the state file should be swapped for a real
metastore profile, which is exactly the reference's pluggable-backend shape.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import re
import tempfile
import threading
import weakref
from typing import Any
from urllib.parse import unquote, urlparse

from lance_namespace_impls_spark.catalog import models as m
from lance_namespace_impls_spark.catalog.errors import (
    InternalError,
    InvalidInput,
    NamespaceAlreadyExists,
    NamespaceNotEmpty,
    NamespaceNotFound,
    TableAlreadyExists,
    TableNotFound,
)
from lance_namespace_impls_spark.catalog.namespace import LanceNamespace

# Identifier levels are joined with the unit separator in state-file keys, the
# same encoding the reference uses for REST paths (iceberg.py:56).
_SEP = "\x1f"

_STATE_FILE = "_namespace_catalog.json"
_LOCK_FILE = "_namespace_catalog.lock"

_URI_SCHEME = re.compile(r"[A-Za-z][A-Za-z0-9+.-]*:")


def local_path(location: str) -> str | None:
    """The local path ``location`` names, or None when it is remote.

    Spark qualifies an explicit LOCATION as ``file:/x``, so a ``file:`` URI
    is its path; any other scheme (s3:, hdfs:, ...) belongs to the storage
    layer and is never probed or deleted here.  The JVM plugins apply the
    same rule (AbstractLanceTableCatalog.localPath).
    """
    if location.startswith("file:"):
        path = unquote(urlparse(location).path)
        return path if path.startswith("/") else None
    return None if _URI_SCHEME.match(location) else location


def has_storage_components(location: str) -> bool:
    """Storage probe: does ``location`` hold an opened-able dataset?

    Reference: table_utils.py:22-45 literally attempts ``lance.dataset`` and
    catches failure.  We do the same when the lance package is present;
    otherwise a parquet-presence check (any ``*.parquet`` under the location)
    is the probe — same observable contract: declared-only tables have a
    location that does not open.
    """
    try:
        import lance  # type: ignore

        try:
            lance.dataset(location)
            return True
        except Exception:
            pass  # fall through to the parquet probe
    except ImportError:
        pass
    path = local_path(location)
    if path is None:
        return False
    if os.path.isfile(path):
        return path.endswith(".parquet")
    if not os.path.isdir(path):
        return False
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _stat_key(st: os.stat_result) -> tuple[int, int, int, int]:
    return st.st_ino, st.st_dev, st.st_size, st.st_mtime_ns


def _parse(data: bytes, path: str) -> dict[str, Any]:
    try:
        state = json.loads(data)
    except ValueError as exc:  # JSONDecodeError, UnicodeDecodeError
        raise InternalError(f"corrupt catalog state file {path}: {exc}") from exc
    if not (
        isinstance(state, dict)
        and isinstance(state.get("namespaces"), dict)
        and isinstance(state.get("tables"), dict)
    ):
        raise InternalError(f"corrupt catalog state file {path}: not a catalog state object")
    return state


class _StateStore:
    """The parsed state file of one root, shared by every instance over it.

    A parse is reused while ``os.stat`` of the state file still matches the
    ``(st_ino, st_dev, st_size, st_mtime_ns)`` of the inode it was read from.
    The store keeps that inode open, so its number cannot be freed and given
    to a newer file, and writers only ever rename a new file into place: a
    matching key is therefore the same bytes, whatever the file system's
    mtime resolution.  ``lock`` guards the cache; callers hold it while they
    use the state, which they must not mutate outside ``writing()``.
    """

    def __init__(self, root: str):
        self.root = root
        self.path = os.path.join(root, _STATE_FILE)
        self.lock = threading.Lock()
        self._state: dict[str, Any] | None = None
        self._held = None  # open file on the inode ``_state`` was read from
        self._key: tuple[int, int, int, int] | None = None

    def close(self) -> None:
        """Forget the cached state and release its inode."""
        if self._held is not None:
            self._held.close()
        self._state = self._held = self._key = None

    __del__ = close

    def _cache(self, state: dict[str, Any], held, key) -> None:
        self.close()
        self._state, self._held, self._key = state, held, key

    def _current(self) -> dict[str, Any]:
        try:
            st = os.stat(self.path)
        except FileNotFoundError:
            self.close()
            return {"namespaces": {}, "tables": {}}
        if self._state is not None and _stat_key(st) == self._key:
            return self._state
        self.close()
        f = open(self.path, "rb")
        try:
            key = _stat_key(os.fstat(f.fileno()))
            state = _parse(f.read(), self.path)
        except BaseException:
            f.close()
            raise
        self._cache(state, f, key)
        return state

    @contextlib.contextmanager
    def reading(self):
        """The current state, read-only, under the in-process lock."""
        with self.lock:
            yield self._current()

    @contextlib.contextmanager
    def writing(self):
        """The current state under both locks, for a read-modify-write.

        The block mutates the state in place and calls ``save`` to publish
        it; if the block raises, the possibly half-mutated cache is dropped.
        """
        with self.lock:
            lock_fd = os.open(os.path.join(self.root, _LOCK_FILE), os.O_RDWR | os.O_CREAT, 0o644)
            try:
                fcntl.lockf(lock_fd, fcntl.LOCK_EX)
                try:
                    yield self._current()
                except BaseException:
                    self.close()
                    raise
            finally:
                os.close(lock_fd)  # releases the record lock

    def save(self, state: dict[str, Any]) -> None:
        """Publish ``state``: temp file, fsync, rename, fsync the root."""
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".json.tmp")
        f = os.fdopen(fd, "w")
        try:
            f.write(json.dumps(state, separators=(",", ":")))
            f.flush()
            os.fsync(fd)
            key = _stat_key(os.fstat(fd))
            os.replace(tmp, self.path)
        except BaseException:
            try:
                f.close()
            finally:
                os.unlink(tmp)
            raise
        self._cache(state, f, key)
        dir_fd = os.open(self.root, os.O_RDONLY)
        try:
            os.fsync(dir_fd)
        finally:
            os.close(dir_fd)


# One store per root per process, so instances over one root share its lock
# and cache (POSIX record locks exclude other processes, not other threads).
# Weak values: a store, its parse and its open inode live as long as some
# instance over that root does.
_STORES: weakref.WeakValueDictionary[str, _StateStore] = weakref.WeakValueDictionary()
_STORES_LOCK = threading.Lock()


def _store_for(root: str) -> _StateStore:
    key = os.path.realpath(root)
    with _STORES_LOCK:
        store = _STORES.get(key)
        if store is None:
            store = _STORES[key] = _StateStore(key)
        return store


class DirectoryNamespace(LanceNamespace):
    """properties: root (required) — warehouse directory; created if absent."""

    def __init__(self, properties: dict[str, str] | None = None):
        properties = properties or {}
        root = properties.get("root")
        if not root:
            raise InvalidInput("DirectoryNamespace requires a 'root' property")
        self._root = os.path.abspath(root)
        os.makedirs(self._root, exist_ok=True)
        self._store = _store_for(self._root)

    # -- pickle safety (reference: glue.py:522-532) -------------------------

    def __getstate__(self):
        state = self.__dict__.copy()
        del state["_store"]
        return state

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._store = _store_for(self._root)

    # -- helpers ------------------------------------------------------------

    @staticmethod
    def _ns_key(levels: list[str]) -> str:
        return _SEP.join(levels)

    @staticmethod
    def _validate_levels(levels: list[str]) -> None:
        for lv in levels:
            if not lv:
                raise InvalidInput(f"identifier levels must be non-empty: {levels!r}")

    def _require_namespace(self, state: dict, levels: list[str]) -> dict:
        if not levels:
            return {"properties": {}}  # root always exists
        entry = state["namespaces"].get(self._ns_key(levels))
        if entry is None:
            raise NamespaceNotFound(f"namespace not found: {'.'.join(levels)}")
        return entry

    def _table_key(self, table_id: list[str]) -> str:
        return _SEP.join(table_id)

    def _require_table(self, state: dict, table_id: list[str]) -> dict:
        entry = state["tables"].get(self._table_key(table_id))
        if entry is None:
            raise TableNotFound(f"table not found: {'.'.join(table_id)}")
        # Lance-table validation (reference: describe validates table_type,
        # glue.py:353-395).
        props = entry.get("properties", {})
        if props.get(m.PROP_TABLE_TYPE, "").lower() != m.LANCE_TABLE_TYPE:
            raise TableNotFound(f"not a lance table: {'.'.join(table_id)}")
        return entry

    def _default_location(self, table_id: list[str]) -> str:
        # Mirrors Glue's `{dbLocationUri}/{table}.lance` shape
        # (glue.py:404-413, GlueNamespace.java:602-617).
        return os.path.join(self._root, *table_id[:-1], f"{table_id[-1]}.lance")

    # -- namespace ops ------------------------------------------------------

    def namespace_id(self) -> str:
        return f"DirectoryNamespace({self._root})"

    def list_namespaces(self, req: m.ListNamespacesRequest) -> m.ListNamespacesResponse:
        self._validate_levels(req.id)
        with self._store.reading() as state:
            self._require_namespace(state, req.id)
            depth = len(req.id)
            children = sorted(
                {
                    key.split(_SEP)[depth]
                    for key in state["namespaces"]
                    if key.split(_SEP)[:depth] == req.id and len(key.split(_SEP)) > depth
                }
            )
        page, token = m.split_page(children, req.page_token, req.limit)
        return m.ListNamespacesResponse(namespaces=page, page_token=token)

    def describe_namespace(self, req: m.DescribeNamespaceRequest) -> m.DescribeNamespaceResponse:
        with self._store.reading() as state:
            entry = self._require_namespace(state, req.id)
            props = dict(entry.get("properties", {}))
        return m.DescribeNamespaceResponse(properties=props)

    def create_namespace(self, req: m.CreateNamespaceRequest) -> m.CreateNamespaceResponse:
        if not req.id:
            raise InvalidInput("cannot create the root namespace")
        self._validate_levels(req.id)
        if req.mode not in (m.MODE_CREATE, m.MODE_EXIST_OK, m.MODE_OVERWRITE):
            raise InvalidInput(f"unknown creation mode: {req.mode}")
        key = self._ns_key(req.id)
        with self._store.writing() as state:
            self._require_namespace(state, req.id[:-1])  # parent must exist
            existing = state["namespaces"].get(key)
            if existing is not None:
                if req.mode == m.MODE_CREATE:
                    raise NamespaceAlreadyExists(f"namespace exists: {'.'.join(req.id)}")
                if req.mode == m.MODE_EXIST_OK:
                    return m.CreateNamespaceResponse(
                        properties=dict(existing.get("properties", {}))
                    )
                # overwrite: drop the whole subtree then recreate (Glue's
                # delete_database+create_database shape, glue.py:246-279).
                self._drop_subtree(state, req.id)
            state["namespaces"][key] = {"properties": dict(req.properties)}
            self._store.save(state)
        return m.CreateNamespaceResponse(properties=dict(req.properties))

    def _drop_subtree(self, state: dict, levels: list[str]) -> None:
        prefix = self._ns_key(levels)
        state["namespaces"] = {
            k: v
            for k, v in state["namespaces"].items()
            if not (k == prefix or k.startswith(prefix + _SEP))
        }
        state["tables"] = {
            k: v for k, v in state["tables"].items() if not k.startswith(prefix + _SEP)
        }

    def drop_namespace(self, req: m.DropNamespaceRequest) -> m.DropNamespaceResponse:
        if req.behavior == m.BEHAVIOR_CASCADE:
            # Cascade rejected by every reference backend (glue.py:283-286,
            # hive2.py:303-306, iceberg.py:322-325, ...).
            raise InvalidInput("cascade drop is not supported; drop contents first")
        if not req.id:
            raise InvalidInput("cannot drop the root namespace")
        key = self._ns_key(req.id)
        with self._store.writing() as state:
            entry = state["namespaces"].get(key)
            if entry is None:
                if req.mode == m.DROP_MODE_SKIP:
                    return m.DropNamespaceResponse(properties={})
                raise NamespaceNotFound(f"namespace not found: {'.'.join(req.id)}")
            # Emptiness pre-check (glue.py:298-301, Hive3Namespace.java:736-745).
            has_children = any(
                k.startswith(key + _SEP) for k in state["namespaces"] if k != key
            )
            has_tables = any(
                k.split(_SEP)[:-1] == req.id for k in state["tables"]
            )
            if has_children or has_tables:
                raise NamespaceNotEmpty(f"namespace not empty: {'.'.join(req.id)}")
            props = dict(entry.get("properties", {}))
            del state["namespaces"][key]
            self._store.save(state)
        return m.DropNamespaceResponse(properties=props)

    def namespace_exists(self, req: m.NamespaceExistsRequest) -> None:
        with self._store.reading() as state:
            self._require_namespace(state, req.id)

    # -- table ops ----------------------------------------------------------

    def list_tables(self, req: m.ListTablesRequest) -> m.ListTablesResponse:
        with self._store.reading() as state:
            self._require_namespace(state, req.id)
            names: list[str] = []
            for key, entry in state["tables"].items():
                levels = key.split(_SEP)
                if levels[:-1] != req.id:
                    continue
                # Lance-only filter, case-insensitive (glue.py:511-520).
                props = entry.get("properties", {})
                if props.get(m.PROP_TABLE_TYPE, "").lower() != m.LANCE_TABLE_TYPE:
                    continue
                if not m.include_declared_default(req.include_declared):
                    # Storage-probe short-circuit: only probe when asked
                    # (polaris.py:493-494, LanceTableUtil.java:40-42).
                    if not has_storage_components(entry["location"]):
                        continue
                names.append(levels[-1])
        names.sort()
        page, token = m.split_page(names, req.page_token, req.limit)
        return m.ListTablesResponse(tables=page, page_token=token)

    def table_exists(self, req: m.TableExistsRequest) -> None:
        with self._store.reading() as state:
            self._require_table(state, req.id)

    def describe_table(self, req: m.DescribeTableRequest) -> m.DescribeTableResponse:
        if req.load_detailed_metadata:
            # Rejected by all reference backends (glue.py:355-358,
            # hive2.py:381-384, iceberg.py:486-489).
            raise InvalidInput("load_detailed_metadata is not supported")
        with self._store.reading() as state:
            entry = self._require_table(state, req.id)
            location, props = entry["location"], dict(entry.get("properties", {}))
        is_only_declared = None
        if req.check_declared:
            is_only_declared = not has_storage_components(location)
        return m.DescribeTableResponse(
            location=location,
            properties=props,
            managed_versioning=False,
            is_only_declared=is_only_declared,
        )

    def declare_table(self, req: m.DeclareTableRequest) -> m.DeclareTableResponse:
        if len(req.id) < 2:
            raise InvalidInput("table id needs at least [namespace, table]")
        self._validate_levels(req.id)
        location = req.location or self._default_location(req.id)
        properties = m.merge_table_properties(req.properties)
        key = self._table_key(req.id)
        with self._store.writing() as state:
            self._require_namespace(state, req.id[:-1])
            if key in state["tables"]:
                raise TableAlreadyExists(f"table exists: {'.'.join(req.id)}")
            state["tables"][key] = {"location": location, "properties": dict(properties)}
            self._store.save(state)
        return m.DeclareTableResponse(
            location=location, properties=properties, managed_versioning=False
        )

    def create_table(self, req: m.CreateTableRequest, data=None) -> m.CreateTableResponse:
        """Register the catalog entry, then write data to the location.

        ``data`` may be a Spark DataFrame, a pyarrow Table, or Arrow IPC
        stream bytes (the reference's payload shape, TestHelper.java:38-47).
        The register-then-write order deliberately preserves the reference's
        non-atomicity (Hive3Namespace.java:526-578): a failure after
        registration leaves a declared-only table, which is exactly what the
        is_only_declared machinery surfaces.
        """
        declared = self.declare_table(
            m.DeclareTableRequest(id=req.id, location=req.location, properties=req.properties)
        )
        if data is not None:
            self._write_data(declared.location, data)
        return m.CreateTableResponse(
            location=declared.location,
            properties=declared.properties,
            managed_versioning=False,
        )

    @staticmethod
    def _write_data(location: str, data) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        if isinstance(data, (bytes, bytearray)):
            with pa.ipc.open_stream(bytes(data)) as reader:
                data = reader.read_all()
        if isinstance(data, pa.Table):
            os.makedirs(location, exist_ok=True)
            pq.write_table(data, os.path.join(location, "part-00000.parquet"))
            return
        # Spark DataFrame: distributed write through the executors — the one
        # catalog entry point where executors participate (SURVEY.md §3.3).
        data.write.mode("overwrite").parquet(location)

    def update_table_properties(
        self,
        table_id: list[str],
        updates: dict[str, str],
        removals: tuple[str, ...] = (),
    ) -> dict[str, str]:
        """ALTER TABLE SET/UNSET TBLPROPERTIES — engine extension.

        The reference's surface carries properties only at declare time;
        Spark's stats plane (catalog/stats.py) needs to write them after
        profiling, so the directory backend exposes the same merge-update
        the JVM catalog already performs for namespace dbproperties.
        Runs under the state lock like every other mutation.
        """
        with self._store.writing() as state:
            entry = self._require_table(state, table_id)
            props = dict(entry.get("properties", {}))
            props.update(updates)
            for name in removals:
                props.pop(name, None)
            entry["properties"] = props
            self._store.save(state)
        return dict(props)

    def vacuum(self, dry_run: bool = False) -> list[str]:
        """Delete warehouse data that no catalog entry references.

        ``create_table``'s register-then-write order is deliberately
        non-atomic (reference parity; Hive3Namespace.java:526-578) and
        ``deregister_table`` keeps data by contract — both leave bytes on
        disk the catalog no longer tracks.  Vacuum reconciles: any
        ``*.lance`` payload under the root whose path is not some table's
        registered location is removed (returned instead when
        ``dry_run``).  Locations OUTSIDE the root are never touched — the
        catalog does not own them.
        """
        import shutil

        # Walk AND delete under the write lock: with the snapshot taken
        # outside it, a create_table that registers (register-then-write)
        # after the snapshot has its in-flight .lance payload classified as
        # an orphan and destroyed (ADVICE.md r3).  Holding the lock from
        # load through delete means no registration, from this process or
        # another, can interleave with the reconciliation; the walk is
        # metadata-only (directory names), so the critical section stays
        # cheap.
        with self._store.writing() as state:
            referenced = {
                os.path.abspath(path)
                for entry in state["tables"].values()
                if (path := local_path(entry["location"])) is not None
            }
            orphans: list[str] = []
            for dirpath, dirnames, filenames in os.walk(self._root):
                for name in list(dirnames) + filenames:
                    full = os.path.abspath(os.path.join(dirpath, name))
                    if name.endswith(".lance") and full not in referenced:
                        orphans.append(full)
                        if name in dirnames:
                            dirnames.remove(name)  # don't descend into it
            if not dry_run:
                for path in orphans:
                    try:
                        if os.path.isdir(path):
                            shutil.rmtree(path)
                        else:
                            os.unlink(path)
                    except OSError:
                        pass
        return sorted(orphans)

    def drop_table(self, req: m.DropTableRequest) -> m.DropTableResponse:
        """Remove the entry AND delete data (deleteData=True, hive2.py:434)."""
        key = self._table_key(req.id)
        with self._store.writing() as state:
            entry = self._require_table(state, req.id)
            del state["tables"][key]
            self._store.save(state)
        # Best-effort data deletion outside the metadata lock
        # (GlueNamespace.java:312-342 + safeDropDataset 668-674).
        location = entry["location"]
        path = local_path(location)
        try:
            import shutil

            if path is not None and os.path.isdir(path):
                shutil.rmtree(path)
        except OSError:
            pass
        return m.DropTableResponse(
            id=list(req.id), location=location, properties=dict(entry.get("properties", {}))
        )

    def deregister_table(self, req: m.DeregisterTableRequest) -> m.DeregisterTableResponse:
        """Remove the entry, KEEP data (deleteData=False, hive2.py:464)."""
        key = self._table_key(req.id)
        with self._store.writing() as state:
            entry = self._require_table(state, req.id)
            del state["tables"][key]
            self._store.save(state)
        return m.DeregisterTableResponse(
            id=list(req.id),
            location=entry["location"],
            properties=dict(entry.get("properties", {})),
        )

    # -- Spark data-plane bridge -------------------------------------------

    def read_table(self, spark, table_id: list[str]):
        """Resolve a table to a DataFrame: the catalog-resolved scan path.

        Declared-only tables raise TableNotFound-flavored InvalidInput — the
        caller can pre-check with describe_table(check_declared=True).
        """
        from lance_namespace_impls_spark.sources.lance_io import read_dataset

        desc = self.describe_table(m.DescribeTableRequest(id=table_id))
        return read_dataset(spark, desc.location)
