"""Catalog-plane tests: semantics ported from the reference's unit suites
(creation modes, RESTRICT drops, include_declared, Lance-table filtering,
pagination, pickling — SURVEY.md §5 layer 1)."""

from __future__ import annotations

import os
import pickle
import subprocess
import sys
import threading
import time

import pytest

from lance_namespace_impls_spark.catalog import (
    DirectoryNamespace,
    InternalError,
    InvalidInput,
    NamespaceAlreadyExists,
    NamespaceNotEmpty,
    NamespaceNotFound,
    ObjectIdentifier,
    TableAlreadyExists,
    TableNotFound,
    UnsupportedOperation,
    connect,
    models as m,
)
from lance_namespace_impls_spark.catalog.namespace import LanceNamespace


@pytest.fixture
def ns(tmp_path):
    return DirectoryNamespace({"root": str(tmp_path / "warehouse")})


# -- connect registry (reference: tests/test_namespace.py:15-66) -------------


def test_connect_short_name(tmp_path):
    ns = connect("dir", {"root": str(tmp_path / "w")})
    assert isinstance(ns, DirectoryNamespace)


def test_connect_class_path(tmp_path):
    ns = connect(
        "lance_namespace_impls_spark.catalog.directory.DirectoryNamespace",
        {"root": str(tmp_path / "w")},
    )
    assert isinstance(ns, DirectoryNamespace)


def test_connect_rejects_non_namespace():
    with pytest.raises(InvalidInput):
        connect("lance_namespace_impls_spark.catalog.errors.InvalidInput", {})


def test_default_methods_raise():
    base = LanceNamespace()
    with pytest.raises(UnsupportedOperation):
        base.list_namespaces(m.ListNamespacesRequest())
    with pytest.raises(UnsupportedOperation):
        base.declare_table(m.DeclareTableRequest(id=["a", "t"]))


# -- identifier --------------------------------------------------------------


def test_identifier_semantics():
    root = ObjectIdentifier.root()
    assert root.is_root and len(root) == 0
    tid = ObjectIdentifier.parse("cat.db.tbl")
    assert tid.levels == ("cat", "db", "tbl")
    assert tid.name == "tbl" and tid.parent.levels == ("cat", "db")
    assert ObjectIdentifier.parse("db$tbl", table_style=True).levels == ("db", "tbl")
    with pytest.raises(InvalidInput):
        ObjectIdentifier.of(["", "x"])


# -- namespace CRUD ----------------------------------------------------------


def test_namespace_crud(ns):
    ns.create_namespace(m.CreateNamespaceRequest(id=["db1"], properties={"owner": "me"}))
    assert ns.describe_namespace(m.DescribeNamespaceRequest(id=["db1"])).properties == {
        "owner": "me"
    }
    assert ns.list_namespaces(m.ListNamespacesRequest()).namespaces == ["db1"]
    ns.namespace_exists(m.NamespaceExistsRequest(id=["db1"]))
    ns.drop_namespace(m.DropNamespaceRequest(id=["db1"]))
    with pytest.raises(NamespaceNotFound):
        ns.describe_namespace(m.DescribeNamespaceRequest(id=["db1"]))


def test_create_modes(ns):
    ns.create_namespace(m.CreateNamespaceRequest(id=["db"], properties={"a": "1"}))
    with pytest.raises(NamespaceAlreadyExists):
        ns.create_namespace(m.CreateNamespaceRequest(id=["db"]))
    resp = ns.create_namespace(m.CreateNamespaceRequest(id=["db"], mode="exist_ok"))
    assert resp.properties == {"a": "1"}  # exist_ok returns existing props
    resp = ns.create_namespace(
        m.CreateNamespaceRequest(id=["db"], mode="overwrite", properties={"b": "2"})
    )
    assert resp.properties == {"b": "2"}
    assert ns.describe_namespace(m.DescribeNamespaceRequest(id=["db"])).properties == {
        "b": "2"
    }
    with pytest.raises(InvalidInput):
        ns.create_namespace(m.CreateNamespaceRequest(id=["x"], mode="bogus"))


def test_nested_namespaces(ns):
    ns.create_namespace(m.CreateNamespaceRequest(id=["a"]))
    ns.create_namespace(m.CreateNamespaceRequest(id=["a", "b"]))
    with pytest.raises(NamespaceNotFound):  # parent must exist
        ns.create_namespace(m.CreateNamespaceRequest(id=["zz", "c"]))
    assert ns.list_namespaces(m.ListNamespacesRequest(id=["a"])).namespaces == ["b"]
    with pytest.raises(NamespaceNotEmpty):  # restrict: child blocks drop
        ns.drop_namespace(m.DropNamespaceRequest(id=["a"]))


def test_cascade_rejected_everywhere(ns):
    ns.create_namespace(m.CreateNamespaceRequest(id=["db"]))
    with pytest.raises(InvalidInput):
        ns.drop_namespace(m.DropNamespaceRequest(id=["db"], behavior="cascade"))


def test_drop_mode_skip(ns):
    resp = ns.drop_namespace(m.DropNamespaceRequest(id=["ghost"], mode="skip"))
    assert resp.properties == {}
    with pytest.raises(NamespaceNotFound):
        ns.drop_namespace(m.DropNamespaceRequest(id=["ghost"]))


# -- table lifecycle ---------------------------------------------------------


def test_declare_describe_deregister(ns, tmp_path):
    ns.create_namespace(m.CreateNamespaceRequest(id=["db"]))
    resp = ns.declare_table(m.DeclareTableRequest(id=["db", "t1"], properties={"k": "v"}))
    # Required props merged, required keys win (table_utils.py:8-14)
    assert resp.properties["table_type"] == "lance"
    assert resp.properties["managed_by"] == "storage"
    assert resp.properties["k"] == "v"
    assert resp.location.endswith("t1.lance")
    assert not resp.managed_versioning

    desc = ns.describe_table(m.DescribeTableRequest(id=["db", "t1"], check_declared=True))
    assert desc.is_only_declared is True  # no data written yet
    with pytest.raises(InvalidInput):
        ns.describe_table(
            m.DescribeTableRequest(id=["db", "t1"], load_detailed_metadata=True)
        )
    with pytest.raises(TableAlreadyExists):
        ns.declare_table(m.DeclareTableRequest(id=["db", "t1"]))

    dereg = ns.deregister_table(m.DeregisterTableRequest(id=["db", "t1"]))
    assert dereg.location == resp.location
    with pytest.raises(TableNotFound):
        ns.describe_table(m.DescribeTableRequest(id=["db", "t1"]))


def test_create_table_with_arrow_data(ns):
    import pyarrow as pa

    ns.create_namespace(m.CreateNamespaceRequest(id=["db"]))
    # Arrow IPC payload shape from the reference (TestHelper.java:38-47)
    table = pa.table({"id": pa.array([1, 2], pa.int32()), "name": ["a", "b"]})
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    resp = ns.create_table(
        m.CreateTableRequest(id=["db", "t2"]), data=sink.getvalue().to_pybytes()
    )
    desc = ns.describe_table(m.DescribeTableRequest(id=["db", "t2"], check_declared=True))
    assert desc.is_only_declared is False  # materialized now
    assert resp.location == desc.location

    # include_declared=False filters declared-only tables (storage probe)
    ns.declare_table(m.DeclareTableRequest(id=["db", "t3"]))
    all_tables = ns.list_tables(m.ListTablesRequest(id=["db"])).tables
    materialized = ns.list_tables(
        m.ListTablesRequest(id=["db"], include_declared=False)
    ).tables
    assert all_tables == ["t2", "t3"]
    assert materialized == ["t2"]

    # namespace with tables refuses RESTRICT drop
    with pytest.raises(NamespaceNotEmpty):
        ns.drop_namespace(m.DropNamespaceRequest(id=["db"]))

    # drop_table removes data; deregister keeps it
    import os

    loc = desc.location
    ns.drop_table(m.DropTableRequest(id=["db", "t2"]))
    assert not os.path.exists(loc)
    with pytest.raises(TableNotFound):
        ns.table_exists(m.TableExistsRequest(id=["db", "t2"]))


def test_pagination(ns):
    ns.create_namespace(m.CreateNamespaceRequest(id=["db"]))
    for i in range(7):
        ns.declare_table(m.DeclareTableRequest(id=["db", f"t{i:02d}"]))
    page1 = ns.list_tables(m.ListTablesRequest(id=["db"], limit=3))
    assert page1.tables == ["t00", "t01", "t02"] and page1.page_token == "3"
    page2 = ns.list_tables(
        m.ListTablesRequest(id=["db"], limit=3, page_token=page1.page_token)
    )
    assert page2.tables == ["t03", "t04", "t05"] and page2.page_token == "6"
    page3 = ns.list_tables(
        m.ListTablesRequest(id=["db"], limit=3, page_token=page2.page_token)
    )
    assert page3.tables == ["t06"] and page3.page_token is None


def test_pickle_roundtrip(ns):
    """Serialization-safety contract (reference: test_glue.py:346-383)."""
    ns.create_namespace(m.CreateNamespaceRequest(id=["db"]))
    clone = pickle.loads(pickle.dumps(ns))
    assert clone.list_namespaces(m.ListNamespacesRequest()).namespaces == ["db"]
    clone.declare_table(m.DeclareTableRequest(id=["db", "t"]))
    assert ns.list_tables(m.ListTablesRequest(id=["db"])).tables == ["t"]


# -- shared state store: locking, caching, corruption ------------------------

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# argv: root, worker id, go-file path.  Signals ready, waits for the go file
# so both workers' declares overlap, then declares 100 tables.
_DECLARE_SCRIPT = """
import os, sys, time
from lance_namespace_impls_spark.catalog import DirectoryNamespace, models as m
root, worker, go = sys.argv[1:]
ns = DirectoryNamespace({"root": root})
open(go + "." + worker, "w").close()
while not os.path.exists(go):
    time.sleep(0.001)
for i in range(100):
    ns.declare_table(m.DeclareTableRequest(id=["db", f"w{worker}_{i}"]))
"""

# argv: root, then property values written one after another.
_UPDATE_SCRIPT = """
import sys
from lance_namespace_impls_spark.catalog import DirectoryNamespace
ns = DirectoryNamespace({"root": sys.argv[1]})
for rev in sys.argv[2:]:
    ns.update_table_properties(["db", "t"], {"rev": rev})
"""


def _python(script, *args):
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [_REPO, env.get("PYTHONPATH")]))
    return subprocess.Popen(
        [sys.executable, "-c", script, *map(str, args)],
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )


def _table_count(root):
    fresh = DirectoryNamespace({"root": str(root)})
    return len(fresh.list_tables(m.ListTablesRequest(id=["db"], limit=1000)).tables)


def test_two_processes_lose_no_declare(ns, tmp_path):
    """Two processes x 100 declare_table on one root: the lock file
    serializes their read-modify-writes, so all 200 tables survive."""
    ns.create_namespace(m.CreateNamespaceRequest(id=["db"]))
    go = tmp_path / "go"
    procs = [_python(_DECLARE_SCRIPT, ns._root, w, go) for w in (0, 1)]
    try:
        deadline = time.monotonic() + 120
        while not all(os.path.exists(f"{go}.{w}") for w in (0, 1)):
            assert time.monotonic() < deadline, "workers never became ready"
            dead = [p for p in procs if p.poll() is not None]
            assert not dead, dead[0].stderr.read()[-4000:]
            time.sleep(0.01)
        go.touch()
        for p in procs:
            _, err = p.communicate(timeout=120)
            assert p.returncode == 0, err[-4000:]
    finally:
        for p in procs:
            p.kill()
    assert _table_count(ns._root) == 200


def test_two_instances_in_one_process_lose_no_declare(tmp_path):
    """Two DirectoryNamespace instances over one root, one thread each: they
    share the root's store and its lock (POSIX record locks exclude other
    processes, not other threads of this one)."""
    root = str(tmp_path / "w")
    a, b = DirectoryNamespace({"root": root}), DirectoryNamespace({"root": root})
    a.create_namespace(m.CreateNamespaceRequest(id=["db"]))
    errors = []

    def declare(ns, worker):
        try:
            for i in range(100):
                ns.declare_table(m.DeclareTableRequest(id=["db", f"w{worker}_{i}"]))
        except Exception as exc:  # reported by the assertion below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=declare, args=(x, w)) for w, x in enumerate((a, b))]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and errors == []
    assert _table_count(root) == 200


def test_warm_reader_sees_equal_size_rewrites_by_another_process(ns):
    """A child process rewrites one property twice, back to back, with
    values of equal length, so every state file has the same size.  A warm
    reader must see the last one each round.

    The second rewrite's file may land on the inode number the reader's
    file had, and on a file system with coarse timestamps it would carry the
    same mtime too; the test forces that mtime, so a cache validated by the
    stat tuple alone, without holding its inode, would serve stale state."""
    ns.create_namespace(m.CreateNamespaceRequest(id=["db"]))
    ns.declare_table(m.DeclareTableRequest(id=["db", "t"], properties={"rev": "0"}))
    table = m.DescribeTableRequest(id=["db", "t"])
    path = os.path.join(ns._root, "_namespace_catalog.json")
    for first, second in (("1", "2"), ("3", "4"), ("5", "6")):
        ns.describe_table(table)  # warm
        warm_mtime = os.stat(path).st_mtime_ns
        child = _python(_UPDATE_SCRIPT, ns._root, first, second)
        _, err = child.communicate(timeout=120)
        assert child.returncode == 0, err[-4000:]
        os.utime(path, ns=(warm_mtime, warm_mtime))
        assert ns.describe_table(table).properties["rev"] == second


def test_returned_properties_are_copies(ns):
    """Mutating any returned mapping leaves the cached state untouched."""
    ns.create_namespace(m.CreateNamespaceRequest(id=["db"], properties={"owner": "a"}))
    ns.declare_table(m.DeclareTableRequest(id=["db", "t"], properties={"k": "v"})).properties[
        "k"
    ] = "mutated"
    ns.update_table_properties(["db", "t"], {"rev": "1"})["rev"] = "mutated"
    table = m.DescribeTableRequest(id=["db", "t"])
    ns.describe_table(table).properties["k"] = "mutated"
    ns.describe_namespace(m.DescribeNamespaceRequest(id=["db"])).properties["owner"] = "x"
    assert ns.describe_table(table).properties == m.merge_table_properties(
        {"k": "v", "rev": "1"}
    )
    assert ns.describe_namespace(m.DescribeNamespaceRequest(id=["db"])).properties == {
        "owner": "a"
    }


def test_corrupt_state_file_raises_internal_error(ns, tmp_path):
    """A truncated state file is an InternalError naming the file, for reads
    and writes alike, and nothing of it is cached: once a valid state file
    is renamed into place, the same instance serves it."""
    ns.create_namespace(m.CreateNamespaceRequest(id=["db"]))  # warm
    path = os.path.join(ns._root, "_namespace_catalog.json")
    with open(path, "w") as f:
        f.write('{"namespaces": {"db"')
    for _ in range(2):
        with pytest.raises(InternalError, match=path) as err:
            ns.list_namespaces(m.ListNamespacesRequest())
        assert err.value.code == 18
    with pytest.raises(InternalError, match=path):
        ns.declare_table(m.DeclareTableRequest(id=["db", "t"]))
    with open(path) as f:
        assert f.read() == '{"namespaces": {"db"'  # a failed write replaced nothing
    other = DirectoryNamespace({"root": str(tmp_path / "other")})
    other.create_namespace(m.CreateNamespaceRequest(id=["fresh"]))
    os.replace(os.path.join(other._root, "_namespace_catalog.json"), path)
    assert ns.list_namespaces(m.ListNamespacesRequest()).namespaces == ["fresh"]
