"""DirectoryNamespace: a warehouse-directory-backed namespace backend.

Plays the role the reference's six catalog servers play (Glue/Hive/Iceberg/
Polaris/Unity) but self-contained: namespace and table metadata live in one
JSON state file under the warehouse root (atomic tmp+rename writes), table
data lives at each table's ``location`` as parquet (or Lance when the
``lance`` package is importable).

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

import json
import os
import re
import tempfile
import threading
from typing import Any
from urllib.parse import unquote, urlparse

from lance_namespace_impls_spark.catalog import models as m
from lance_namespace_impls_spark.catalog.errors import (
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


class DirectoryNamespace(LanceNamespace):
    """properties: root (required) — warehouse directory; created if absent."""

    def __init__(self, properties: dict[str, str] | None = None):
        properties = properties or {}
        root = properties.get("root")
        if not root:
            raise InvalidInput("DirectoryNamespace requires a 'root' property")
        self._root = os.path.abspath(root)
        os.makedirs(self._root, exist_ok=True)
        self._lock = threading.Lock()

    # -- state I/O ----------------------------------------------------------

    @property
    def _state_path(self) -> str:
        return os.path.join(self._root, _STATE_FILE)

    def _load(self) -> dict[str, Any]:
        if not os.path.exists(self._state_path):
            return {"namespaces": {}, "tables": {}}
        with open(self._state_path) as f:
            return json.load(f)

    def _save(self, state: dict[str, Any]) -> None:
        fd, tmp = tempfile.mkstemp(dir=self._root, suffix=".json.tmp")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(state, f, indent=1, sort_keys=True)
            os.replace(tmp, self._state_path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    # -- pickle safety (reference: glue.py:522-532) -------------------------

    def __getstate__(self):
        state = self.__dict__.copy()
        del state["_lock"]
        return state

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._lock = threading.Lock()

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
        with self._lock:
            state = self._load()
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
        with self._lock:
            state = self._load()
            entry = self._require_namespace(state, req.id)
        return m.DescribeNamespaceResponse(properties=dict(entry.get("properties", {})))

    def create_namespace(self, req: m.CreateNamespaceRequest) -> m.CreateNamespaceResponse:
        if not req.id:
            raise InvalidInput("cannot create the root namespace")
        self._validate_levels(req.id)
        if req.mode not in (m.MODE_CREATE, m.MODE_EXIST_OK, m.MODE_OVERWRITE):
            raise InvalidInput(f"unknown creation mode: {req.mode}")
        key = self._ns_key(req.id)
        with self._lock:
            state = self._load()
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
            self._save(state)
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
        with self._lock:
            state = self._load()
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
            self._save(state)
        return m.DropNamespaceResponse(properties=props)

    def namespace_exists(self, req: m.NamespaceExistsRequest) -> None:
        with self._lock:
            state = self._load()
            self._require_namespace(state, req.id)

    # -- table ops ----------------------------------------------------------

    def list_tables(self, req: m.ListTablesRequest) -> m.ListTablesResponse:
        with self._lock:
            state = self._load()
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
        with self._lock:
            state = self._load()
            self._require_table(state, req.id)

    def describe_table(self, req: m.DescribeTableRequest) -> m.DescribeTableResponse:
        if req.load_detailed_metadata:
            # Rejected by all reference backends (glue.py:355-358,
            # hive2.py:381-384, iceberg.py:486-489).
            raise InvalidInput("load_detailed_metadata is not supported")
        with self._lock:
            state = self._load()
            entry = self._require_table(state, req.id)
        is_only_declared = None
        if req.check_declared:
            is_only_declared = not has_storage_components(entry["location"])
        return m.DescribeTableResponse(
            location=entry["location"],
            properties=dict(entry.get("properties", {})),
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
        with self._lock:
            state = self._load()
            self._require_namespace(state, req.id[:-1])
            if key in state["tables"]:
                raise TableAlreadyExists(f"table exists: {'.'.join(req.id)}")
            state["tables"][key] = {"location": location, "properties": properties}
            self._save(state)
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
        with self._lock:
            state = self._load()
            entry = self._require_table(state, table_id)
            props = dict(entry.get("properties", {}))
            props.update(updates)
            for name in removals:
                props.pop(name, None)
            entry["properties"] = props
            self._save(state)
        return props

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

        # Walk AND delete under the state lock: with the snapshot taken
        # outside it, a create_table that registers (register-then-write)
        # after the snapshot has its in-flight .lance payload classified as
        # an orphan and destroyed (ADVICE.md r3).  Holding the lock from
        # load through delete means no registration can interleave with the
        # reconciliation; the walk is metadata-only (directory names), so
        # the critical section stays cheap.
        with self._lock:
            state = self._load()
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
        with self._lock:
            state = self._load()
            entry = self._require_table(state, req.id)
            del state["tables"][key]
            self._save(state)
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
        with self._lock:
            state = self._load()
            entry = self._require_table(state, req.id)
            del state["tables"][key]
            self._save(state)
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
