"""The Lance-table contract every JVM DSv2 catalog plugin shares.

One parametrized module over all six plugins (directory, Iceberg-REST, Unity,
Glue, Polaris, Hive), each driven through native Spark SQL against its
in-process fixture service.  It pins the behaviour the plugins' common base
class owns:

- ALTER TABLE (properties or rename) and CREATE TABLE ... PARTITIONED BY are
  rejected, and leave the backend untouched;
- user TBLPROPERTIES are stored under the required-property merge: the
  plugin's own lance marker overrides a user ``table_type``, other user keys
  pass through (hive2.py:511-518);
- Spark's reserved keys (``location``, ``provider``, ``owner``, ``external``,
  ``is_managed_location``) are catalog directives and never reach the
  backend.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

javac_missing = shutil.which("javac") is None
pytestmark = pytest.mark.skipif(javac_missing, reason="no JDK compiler in PATH")

RESERVED = {"location", "provider", "owner", "external", "is_managed_location"}
NOT_RESERVE = "spark.sql.legacy.notReserveProperties"


class Backend:
    """One installed plugin: its catalog name, its marker, and a view of what
    its service stored for a table."""

    def __init__(self, catalog, marker, extra_keys, stored, close):
        self.catalog = catalog
        self.marker = marker  # required properties the plugin merges in
        self.extra_keys = extra_keys  # plugin-specific keys beyond the marker
        self._stored = stored
        self.close = close

    def props(self, table: str) -> dict | None:
        return self._stored(table)


def _directory(spark, tmp):
    from lance_namespace_impls_spark.catalog.jvm_catalog import install_catalog

    root = str(tmp / "warehouse")
    install_catalog(spark, "ct_dir", root)

    def stored(table):
        with open(os.path.join(root, "_namespace_catalog.json")) as f:
            entry = json.load(f)["tables"].get(f"ct\x1f{table}")
        return None if entry is None else entry["properties"]

    marker = {"table_type": "lance", "managed_by": "storage"}
    return Backend("ct_dir", marker, set(), stored, lambda: None)


def _rest(spark, tmp):
    from lance_namespace_impls_spark.catalog.jvm_catalog import install_rest_catalog
    from lance_namespace_impls_spark.catalog.rest_fixture import CatalogState, serve

    state = CatalogState(prefix="wh")
    server, url = serve(state)
    install_rest_catalog(spark, "ct_rest", uri=url, warehouse="wh")

    def stored(table):
        with state.lock:
            entry = state.tables.get(("ct", table))
        return None if entry is None else dict(entry["properties"])

    marker = {"table_type": "lance", "managed_by": "storage"}
    return Backend("ct_rest", marker, {"lance_location"}, stored, server.shutdown)


def _unity(spark, tmp):
    from lance_namespace_impls_spark.catalog.jvm_catalog import install_unity_catalog
    from lance_namespace_impls_spark.catalog.unity_fixture import UnityState, serve

    state = UnityState(catalogs=("corp",))
    server, url = serve(state)
    install_unity_catalog(spark, "ct_unity", uri=url, catalog="corp")

    def stored(table):
        with state.lock:
            entry = state.tables.get(("corp", "ct", table))
        return None if entry is None else dict(entry["properties"])

    marker = {"table_type": "lance", "managed_by": "catalog"}
    return Backend("ct_unity", marker, set(), stored, server.shutdown)


def _glue(spark, tmp):
    from lance_namespace_impls_spark.catalog.glue_fixture import GlueState, serve
    from lance_namespace_impls_spark.catalog.jvm_catalog import install_glue_catalog

    state = GlueState()
    server, url = serve(state)
    install_glue_catalog(spark, "ct_glue", uri=url)

    def stored(table):
        with state.lock:
            entry = state.tables.get(("ct", table))
        return None if entry is None else dict(entry["Parameters"])

    marker = {"table_type": "LANCE", "managed_by": "storage"}
    return Backend("ct_glue", marker, set(), stored, server.shutdown)


def _polaris(spark, tmp):
    from lance_namespace_impls_spark.catalog.jvm_catalog import install_polaris_catalog
    from lance_namespace_impls_spark.catalog.polaris_fixture import PolarisState, serve

    state = PolarisState(catalogs=("lakehouse",))
    server, url = serve(state)
    install_polaris_catalog(spark, "ct_polaris", uri=url, catalog="lakehouse")

    def stored(table):
        with state.lock:
            entry = state.tables.get(("lakehouse", "ct", table))
        return None if entry is None else dict(entry["properties"])

    marker = {"table_type": "lance"}
    return Backend("ct_polaris", marker, set(), stored, server.shutdown)


def _hive(spark, tmp):
    from lance_namespace_impls_spark.catalog.hms_fixture import FakeMetastore
    from lance_namespace_impls_spark.catalog.jvm_catalog import install_hive_catalog

    hms = FakeMetastore()
    install_hive_catalog(spark, "ct_hive", uri=f"thrift://127.0.0.1:{hms.port}")

    def stored(table):
        entry = hms.tables.get(("ct", table))
        return None if entry is None else dict(entry.parameters)

    marker = {"table_type": "lance", "managed_by": "storage"}
    return Backend("ct_hive", marker, set(), stored, hms.close)


@pytest.fixture(
    scope="module",
    params=[_directory, _rest, _unity, _glue, _polaris, _hive],
    ids=["directory", "rest", "unity", "glue", "polaris", "hive"],
)
def backend(request, spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp(request.param.__name__.strip("_"))
    b = request.param(spark, tmp)
    b.location = str(tmp / "t.lance")
    spark.sql(f"CREATE NAMESPACE {b.catalog}.ct")
    # Spark 4 reserves table_type in TBLPROPERTIES; the legacy switch lets a
    # user value reach the plugin, whose required merge must override it.
    spark.conf.set(NOT_RESERVE, "true")
    try:
        spark.sql(
            f"CREATE TABLE {b.catalog}.ct.t (id BIGINT) USING parquet "
            f"LOCATION '{b.location}' "
            "TBLPROPERTIES ('table_type'='hive', 'k'='v')"
        )
    finally:
        spark.conf.unset(NOT_RESERVE)
    yield b
    b.close()


def test_tblproperties_stored_under_required_merge(backend):
    props = backend.props("t")
    for key, value in backend.marker.items():
        assert props[key] == value  # the plugin's marker beats 'hive'
    assert props["k"] == "v"
    assert "schema_json" in props
    expected = set(backend.marker) | {"k", "schema_json"} | backend.extra_keys
    assert set(props) == expected


def test_reserved_keys_never_reach_backend(backend):
    assert not RESERVED & set(backend.props("t"))


def test_alter_table_properties_rejected(spark, backend):
    with pytest.raises(Exception, match="ALTER TABLE is not part"):
        spark.sql(f"ALTER TABLE {backend.catalog}.ct.t SET TBLPROPERTIES ('x'='y')")
    assert "x" not in backend.props("t")


def test_rename_rejected(spark, backend):
    with pytest.raises(Exception, match="rename is not part"):
        spark.sql(f"ALTER TABLE {backend.catalog}.ct.t RENAME TO ct.t2")
    assert backend.props("t") is not None
    assert backend.props("t2") is None


def test_partitioned_create_rejected(spark, backend, tmp_path):
    with pytest.raises(Exception, match="partitioned tables are not part"):
        spark.sql(
            f"CREATE TABLE {backend.catalog}.ct.p (id BIGINT, d STRING) USING parquet "
            f"PARTITIONED BY (d) LOCATION '{tmp_path / 'p.lance'}'"
        )
    assert backend.props("p") is None


def test_table_still_resolves(spark, backend):
    assert spark.table(f"{backend.catalog}.ct.t").columns == ["id"]
