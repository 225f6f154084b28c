/*
 * PolarisTableCatalog: the DSv2 plugin over an Apache-Polaris-shaped catalog
 * service — the pure-JVM twin of the Python PolarisNamespace dialect
 * (lance_namespace_impls_spark/catalog/polaris.py).
 *
 * Reference parity: the reference ships per-backend Java catalog impls; this
 * covers the Polaris backend's operation surface (reference polaris.py —
 * Iceberg-REST-style namespace tree + the generic-tables family where Lance
 * tables live).  Configure:
 *   spark.sql.catalog.<name>          = lance_namespace_impls_spark.jvm.PolarisTableCatalog
 *   spark.sql.catalog.<name>.uri      = http://host:port
 *   spark.sql.catalog.<name>.catalog  = lakehouse   (Polaris catalog name)
 *   spark.sql.catalog.<name>.header.X = Y           (optional request headers)
 * and a multi-part SQL name resolves through the Polaris dialect with ZERO
 * Python in the session path:
 *   SHOW NAMESPACES IN pol; SELECT ... FROM pol.main.t;
 *   CREATE NAMESPACE pol.stage; CREATE TABLE pol.stage.t (...) LOCATION '...';
 *
 * Protocol contract (identical to polaris.py and catalog/polaris_fixture.py):
 *   - namespaces ride the Iceberg-REST shape /v1/{cat}/namespaces[...] with
 *     DOTTED namespace paths in item URLs (arbitrary nesting allowed — Spark
 *     namespaces map 1:1 to Polaris namespace level arrays);
 *   - tables ride /polaris/v1/{cat}/namespaces/{ns}/generic-tables with
 *     format="lance" (the lance marker) and the Lance location on
 *     "base-location"; the required merge adds table_type=lance only;
 *     CREATE TABLE requires LOCATION;
 *   - the generic-tables listing carries identifiers only, so lance-only
 *     visibility does a per-table fetch (polaris.py list_tables);
 *   - listings drain the next-page-token loop;
 *   - DROP TABLE deregisters only — the Polaris dialect never purges data;
 *   - HTTP error taxonomy: 404->NoSuch*, 409->AlreadyExists/NonEmpty,
 *     400->IllegalArgument.
 */
package lance_namespace_impls_spark.jvm;

import static lance_namespace_impls_spark.jvm.JsonHttpTransport.check;
import static lance_namespace_impls_spark.jvm.JsonHttpTransport.enc;

import com.fasterxml.jackson.databind.JsonNode;
import com.fasterxml.jackson.databind.node.ArrayNode;
import com.fasterxml.jackson.databind.node.ObjectNode;

import java.util.ArrayList;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;

import org.apache.spark.sql.catalyst.analysis.NamespaceAlreadyExistsException;
import org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException;
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException;
import org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException;
import org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException;
import org.apache.spark.sql.connector.catalog.Identifier;
import org.apache.spark.sql.util.CaseInsensitiveStringMap;

import lance_namespace_impls_spark.jvm.JsonHttpTransport.Resp;

public class PolarisTableCatalog extends AbstractLanceTableCatalog {

  private static final String API = "/api/catalog";

  private JsonHttpTransport http;
  private String polarisCatalog;

  @Override
  public void initialize(String name, CaseInsensitiveStringMap options) {
    super.initialize(name, options);
    // Idempotent suffix handling (polaris.py _api_base).
    this.http = new JsonHttpTransport(
        requireOption(options, "uri"), API, "application/json", options);
    this.polarisCatalog = options.getOrDefault("catalog", "lakehouse");
  }

  /** Dotted namespace path in item URLs (polaris.py _ns_path). */
  private static String nsPath(String[] namespace) {
    List<String> parts = new ArrayList<>();
    for (String level : namespace) {
      parts.add(enc(level));
    }
    return String.join(".", parts);
  }

  private String nsBase() {
    return "/v1/" + enc(polarisCatalog) + "/namespaces";
  }

  private String genericBase(String[] namespace) {
    return "/polaris/v1/" + enc(polarisCatalog) + "/namespaces/" + nsPath(namespace)
        + "/generic-tables";
  }

  private String tablePath(Identifier ident) {
    return genericBase(ident.namespace()) + "/" + enc(ident.name());
  }

  // -- SupportsNamespaces ---------------------------------------------------

  @Override
  protected List<String[]> childNamespaces(String[] parent) throws NoSuchNamespaceException {
    String path = parent.length == 0 ? nsBase() : nsBase() + "/" + nsPath(parent) + "/namespaces";
    String[] errNs = parent.length == 0 ? new String[] {polarisCatalog} : parent;
    List<String[]> out = new ArrayList<>();
    for (JsonNode page : http.drainPages(path, "next-page-token", "pageToken", errNs)) {
      for (JsonNode levels : page.path("namespaces")) {
        List<String> ns = new ArrayList<>();
        for (JsonNode level : levels) {
          ns.add(level.asText());
        }
        if (!ns.isEmpty()) {
          out.add(ns.toArray(new String[0]));
        }
      }
    }
    return out;
  }

  @Override
  public Map<String, String> loadNamespaceMetadata(String[] namespace)
      throws NoSuchNamespaceException {
    String path = nsBase() + "/" + nsPath(namespace);
    Resp r = http.call("GET", path, null);
    if (r.status == 404) {
      throw new NoSuchNamespaceException(namespace);
    }
    return stringMap(check("GET " + path, r).path("properties"));
  }

  @Override
  public void createNamespace(String[] namespace, Map<String, String> metadata)
      throws NamespaceAlreadyExistsException {
    ObjectNode body = MAPPER.createObjectNode();
    ArrayNode levels = body.putArray("namespace");
    for (String level : namespace) {
      levels.add(level);
    }
    body.set("properties", MAPPER.valueToTree(metadata));
    Resp r = http.call("POST", nsBase(), body);
    if (r.status == 409) {
      throw new NamespaceAlreadyExistsException(namespace);
    }
    check("POST " + nsBase(), r);
  }

  @Override
  protected boolean dropEmptyNamespace(String[] namespace)
      throws NoSuchNamespaceException, NonEmptyNamespaceException {
    String path = nsBase() + "/" + nsPath(namespace);
    Resp r = http.call("DELETE", path, null);
    if (r.status == 404) {
      throw new NoSuchNamespaceException(namespace);
    }
    if (r.status == 409) {
      throw new NonEmptyNamespaceException(namespace);
    }
    check("DELETE " + path, r);
    return true;
  }

  // -- TableCatalog ---------------------------------------------------------

  @Override
  protected List<String> tableNames(String[] namespace) throws NoSuchNamespaceException {
    List<String> names = new ArrayList<>();
    for (JsonNode page : http.drainPages(
        genericBase(namespace), "next-page-token", "pageToken", namespace)) {
      for (JsonNode ident : page.path("identifiers")) {
        String table = ident.path("name").asText("");
        if (!table.isEmpty()) {
          names.add(table);
        }
      }
    }
    return lanceOnly(namespace, names);
  }

  @Override
  protected Entry fetchEntry(Identifier ident) throws NoSuchTableException {
    String path = tablePath(ident);
    Resp r = http.call("GET", path, null);
    if (r.status == 404) {
      throw new NoSuchTableException(ident);
    }
    JsonNode info = check("GET " + path, r).path("table");
    return new Entry(
        info.path("base-location").asText(""),
        info.path("format").asText(""),
        text(info.path("properties").get(SCHEMA_PROP)));
  }

  @Override
  protected Map<String, String> requiredProperties(String location) {
    // polaris.py declare_table merges the type only; format carries the marker.
    Map<String, String> required = new LinkedHashMap<>();
    required.put(PROP_TABLE_TYPE, LANCE);
    return required;
  }

  @Override
  protected void registerEntry(Identifier ident, String location, Map<String, String> properties)
      throws TableAlreadyExistsException, NoSuchNamespaceException {
    ObjectNode body = MAPPER.createObjectNode();
    body.put("name", ident.name());
    body.put("format", LANCE);
    body.put("base-location", location);
    body.set("properties", MAPPER.valueToTree(properties));
    String path = genericBase(ident.namespace());
    Resp r = http.call("POST", path, body);
    if (r.status == 404) {
      throw new NoSuchNamespaceException(ident.namespace());
    }
    if (r.status == 409) {
      throw new TableAlreadyExistsException(ident);
    }
    check("POST " + path, r);
  }

  @Override
  public boolean dropTable(Identifier ident) {
    // Deregister-only: the Polaris dialect never purges data
    // (polaris.py deregister_table is the single removal op).
    String path = tablePath(ident);
    Resp r = http.call("DELETE", path, null);
    if (r.status == 404) {
      return false;
    }
    check("DELETE " + path, r);
    return true;
  }
}
