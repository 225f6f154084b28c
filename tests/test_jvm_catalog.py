"""Contract tests for the JVM DataSource V2 catalog plugin.

Mirrors the reference's catalog CRUD story (GlueNamespace.java:117-393,
docs/src/*.md operation tables) through *native Spark SQL* — the surface the
reference exists to serve — plus the cross-plane guarantee: the JVM plugin
and the Python DirectoryNamespace share one warehouse state file, so each
plane sees the other's writes immediately.
"""

from __future__ import annotations

import shutil

import pytest

from lance_namespace_impls_spark.catalog import DirectoryNamespace
from lance_namespace_impls_spark.catalog import models as m

javac_missing = shutil.which("javac") is None
pytestmark = pytest.mark.skipif(javac_missing, reason="no JDK compiler in PATH")

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    """A JVM catalog named per-module over a fresh warehouse root."""
    from lance_namespace_impls_spark.catalog.jvm_catalog import install_catalog

    root = str(tmp_path_factory.mktemp("jvm_warehouse"))
    install_catalog(spark, "jvmlake", root)
    ns = DirectoryNamespace({"root": root})
    ns.create_namespace(m.CreateNamespaceRequest(id=["main"], properties={"owner": "ci"}))
    ns.declare_table(
        m.DeclareTableRequest(id=["main", "region"], location=f"{SF}/region.parquet")
    )
    return ns


def test_show_namespaces_and_tables(spark, lake):
    assert [r.namespace for r in spark.sql("SHOW NAMESPACES IN jvmlake").collect()] == ["main"]
    rows = spark.sql("SHOW TABLES IN jvmlake.main").collect()
    assert [(r.namespace, r.tableName) for r in rows] == [("main", "region")]


def test_native_read_and_pushdown(spark, lake):
    assert spark.table("jvmlake.main.region").count() == 5
    plan = (
        spark.sql("SELECT r_name FROM jvmlake.main.region WHERE r_regionkey = 1")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # Catalog-resolved scans keep full parquet pushdown (FileTable path).
    assert "EqualTo(r_regionkey,1)" in plan


def test_create_insert_ctas_roundtrip(spark, lake):
    spark.sql("CREATE NAMESPACE jvmlake.stage WITH DBPROPERTIES ('env'='dev')")
    spark.sql("CREATE TABLE jvmlake.stage.t1 (id BIGINT, name STRING)")
    spark.sql("INSERT INTO jvmlake.stage.t1 VALUES (2, 'b'), (1, 'a')")
    assert [(r.id, r.name) for r in spark.sql(
        "SELECT * FROM jvmlake.stage.t1 ORDER BY id").collect()] == [(1, "a"), (2, "b")]
    spark.sql(
        "CREATE TABLE jvmlake.stage.t2 AS SELECT r_regionkey, r_name FROM jvmlake.main.region"
    )
    assert spark.table("jvmlake.stage.t2").count() == 5


def test_cross_plane_visibility(spark, lake):
    # JVM-created tables carry the required property merge and are listed by
    # the Python plane (hive2.py:511-518 required props; glue.py:504-520 filter).
    tables = lake.list_tables(m.ListTablesRequest(id=["stage"])).tables
    assert tables == ["t1", "t2"]
    desc = lake.describe_table(m.DescribeTableRequest(id=["stage", "t1"]))
    assert desc.properties["table_type"] == "lance"
    assert desc.properties["managed_by"] == "storage"
    # Python-declared table resolved natively: seen in test_show_* above; and
    # a Python declare after catalog installation is immediately visible.
    lake.declare_table(
        m.DeclareTableRequest(id=["stage", "late"], location=f"{SF}/nation.parquet")
    )
    assert spark.table("jvmlake.stage.late").count() == 25
    lake.deregister_table(m.DeregisterTableRequest(id=["stage", "late"]))


def test_restrict_only_drops(spark, lake):
    # Non-empty namespace drop fails (glue.py:298-301); cascade is rejected
    # (glue.py:283-286).
    with pytest.raises(Exception, match="(?i)non-empty|not empty|SCHEMA_NOT_EMPTY"):
        spark.sql("DROP NAMESPACE jvmlake.stage")
    with pytest.raises(Exception, match="(?i)cascade"):
        spark.sql("DROP NAMESPACE jvmlake.stage CASCADE")
    spark.sql("DROP TABLE jvmlake.stage.t1")
    spark.sql("DROP TABLE jvmlake.stage.t2")
    spark.sql("DROP NAMESPACE jvmlake.stage")
    assert [r.namespace for r in spark.sql("SHOW NAMESPACES IN jvmlake").collect()] == ["main"]


def test_drop_table_purges_data(spark, lake):
    spark.sql("CREATE NAMESPACE jvmlake.purge")
    spark.sql("CREATE TABLE jvmlake.purge.t AS SELECT 1 AS x")
    loc = lake.describe_table(m.DescribeTableRequest(id=["purge", "t"])).location
    import os

    assert os.path.isdir(loc)
    spark.sql("DROP TABLE jvmlake.purge.t")
    # deleteData=True drop semantics (hive2.py:434)
    assert not os.path.exists(loc)
    spark.sql("DROP NAMESPACE jvmlake.purge")


def _file_location_table(spark, lake, name):
    """CREATE TABLE ... LOCATION '<root>/fileloc/<name>.lance' + INSERT;
    Spark stores the location as its qualified file: URI."""
    import os

    spark.sql("CREATE NAMESPACE IF NOT EXISTS jvmlake.fileloc")
    path = os.path.join(lake._root, "fileloc", f"{name}.lance")
    spark.sql(f"CREATE TABLE jvmlake.fileloc.{name} (id BIGINT) LOCATION '{path}'")
    spark.sql(f"INSERT INTO jvmlake.fileloc.{name} VALUES (1), (2)")
    desc = lake.describe_table(
        m.DescribeTableRequest(id=["fileloc", name], check_declared=True)
    )
    assert desc.location.startswith("file:")
    assert os.listdir(path)
    return path, desc


def test_file_location_is_live_data_for_the_python_plane(spark, lake):
    import os

    path, desc = _file_location_table(spark, lake, "pyside")
    assert desc.is_only_declared is False
    assert path not in lake.vacuum(dry_run=True)
    lake.drop_table(m.DropTableRequest(id=["fileloc", "pyside"]))
    assert not os.path.exists(path)


def test_drop_table_purges_file_location(spark, lake):
    import os

    path, _ = _file_location_table(spark, lake, "jvmside")
    spark.sql("DROP TABLE jvmlake.fileloc.jvmside")
    assert not os.path.exists(path)
    spark.sql("DROP NAMESPACE jvmlake.fileloc")


def test_q100_runs(spark):
    import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
    from lance_namespace_impls_spark.plans.registry import QUERIES

    rows = QUERIES["q100_jvm_dsv2_catalog"].builder(spark, SF).collect()
    assert len(rows) == 5
    assert rows[0].n_nations == 5


def test_alter_namespace_properties(spark, lake):
    spark.sql("ALTER NAMESPACE jvmlake.main SET DBPROPERTIES ('tier'='gold', 'team'='ops')")
    props = lake.describe_namespace(
        m.DescribeNamespaceRequest(id=["main"])
    ).properties
    assert props["tier"] == "gold" and props["team"] == "ops"
    spark.sql("ALTER NAMESPACE jvmlake.main UNSET DBPROPERTIES ('tier')")
    props = lake.describe_namespace(
        m.DescribeNamespaceRequest(id=["main"])
    ).properties
    assert "tier" not in props and props["team"] == "ops"


def test_concurrent_creates_lose_no_table(spark, tmp_path):
    """Eight threads each CREATE 25 tables through one catalog instance: every
    create must survive in the state file (one lock spans each mutator's
    load -> modify -> save, not just the load and the save separately)."""
    import json
    from concurrent.futures import ThreadPoolExecutor

    from lance_namespace_impls_spark.catalog.jvm_catalog import install_catalog

    root = tmp_path / "race"
    install_catalog(spark, "racelake", str(root))
    spark.sql("CREATE NAMESPACE racelake.main")

    def create(worker):
        for i in range(25):
            spark.sql(f"CREATE TABLE racelake.main.t{worker}_{i} (id BIGINT)")

    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(create, range(8)))
    state = json.loads((root / "_namespace_catalog.json").read_text())
    assert len(state["tables"]) == 200
    assert len(spark.sql("SHOW TABLES IN racelake.main").collect()) == 200


def test_python_and_jvm_writers_lose_no_table(spark, tmp_path):
    """One thread CREATEs 60 tables through the JVM plugin while another
    declares 300 from Python: both planes take the same lock file across
    their read-modify-write, so all 360 survive."""
    from concurrent.futures import ThreadPoolExecutor

    from lance_namespace_impls_spark.catalog.jvm_catalog import install_catalog

    root = str(tmp_path / "xrace")
    install_catalog(spark, "xracelake", root)
    spark.sql("CREATE NAMESPACE xracelake.main")  # loads the plugin on this thread
    ns = DirectoryNamespace({"root": root})

    def jvm_creates():
        for i in range(60):
            spark.sql(f"CREATE TABLE xracelake.main.j{i} (id BIGINT)")

    def python_declares():
        for i in range(300):
            ns.declare_table(m.DeclareTableRequest(id=["main", f"p{i}"]))

    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [pool.submit(jvm_creates), pool.submit(python_declares)]
        for future in futures:
            future.result(timeout=600)
    listed = ns.list_tables(m.ListTablesRequest(id=["main"], limit=1000)).tables
    assert len(listed) == 360


def test_jvm_writes_invalidate_the_python_cache(spark, tmp_path):
    """Warm Python reads, then a JVM CREATE TABLE and ALTER NAMESPACE: the
    next Python list/describe sees both writes."""
    from lance_namespace_impls_spark.catalog.jvm_catalog import install_catalog

    root = str(tmp_path / "cache")
    install_catalog(spark, "cachelake", root)
    ns = DirectoryNamespace({"root": root})
    ns.create_namespace(m.CreateNamespaceRequest(id=["main"], properties={"owner": "ci"}))
    ns.declare_table(m.DeclareTableRequest(id=["main", "a"]))
    listing = m.ListTablesRequest(id=["main"])
    namespace = m.DescribeNamespaceRequest(id=["main"])
    assert ns.list_tables(listing).tables == ["a"]
    assert ns.describe_namespace(namespace).properties == {"owner": "ci"}
    spark.sql("CREATE TABLE cachelake.main.b (id BIGINT)")
    spark.sql("ALTER NAMESPACE cachelake.main SET DBPROPERTIES ('tier'='gold')")
    assert ns.list_tables(listing).tables == ["a", "b"]
    assert ns.describe_table(m.DescribeTableRequest(id=["main", "b"])).properties[
        "table_type"
    ] == "lance"
    assert ns.describe_namespace(namespace).properties == {"owner": "ci", "tier": "gold"}


def test_corrupt_state_file_error_names_the_file(spark, tmp_path):
    import os

    from lance_namespace_impls_spark.catalog.jvm_catalog import install_catalog

    root = str(tmp_path / "corrupt")
    install_catalog(spark, "corruptlake", root)
    spark.sql("CREATE NAMESPACE corruptlake.main")
    path = os.path.join(root, "_namespace_catalog.json")
    with open(path, "w") as f:
        f.write('{"namespaces": {"main"')
    with pytest.raises(Exception, match="catalog state file " + path):
        spark.sql("SHOW TABLES IN corruptlake.main").collect()


_REMOTE_LOCATION_SCRIPT = """
import sys

from pyspark.sql import SparkSession

from lance_namespace_impls_spark.catalog.jvm_catalog import install_catalog

spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "512m")
    .getOrCreate()
)
install_catalog(spark, "lake", sys.argv[1])
spark.sql("CREATE NAMESPACE lake.main")
spark.sql("CREATE TABLE lake.main.s3t (id BIGINT) LOCATION 's3://bucket/x'")
spark.sql("CREATE TABLE lake.main.hdfst (id BIGINT) LOCATION 'hdfs://nn:8020/y'")
spark.stop()
"""


def test_remote_locations_create_no_local_directories(tmp_path):
    """CREATE TABLE ... LOCATION 's3://...' / 'hdfs://...' registers the
    location without creating a literal 's3:' or 'hdfs:' directory under the
    driver's working directory.  Runs in its own driver process so the JVM's
    working directory is a fresh tmp_path."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [repo, env.get("PYTHONPATH")]))
    proc = subprocess.run(
        [sys.executable, "-c", _REMOTE_LOCATION_SCRIPT, str(tmp_path / "warehouse")],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lake = DirectoryNamespace({"root": str(tmp_path / "warehouse")})
    locations = {
        t: lake.describe_table(m.DescribeTableRequest(id=["main", t])).location
        for t in ("s3t", "hdfst")
    }
    assert locations == {"s3t": "s3://bucket/x", "hdfst": "hdfs://nn:8020/y"}
    assert [p for p in os.listdir(cwd) if p.endswith(":")] == []
