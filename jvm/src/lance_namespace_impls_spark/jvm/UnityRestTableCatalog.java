/*
 * UnityRestTableCatalog: the DSv2 plugin over a Unity-Catalog-shaped REST
 * service — the pure-JVM twin of the Python UnityNamespace dialect
 * (lance_namespace_impls_spark/catalog/unity.py).
 *
 * Reference parity: the reference ships per-backend Java catalog impls; this
 * covers the Unity backend's operation surface (reference unity.py:234-300,
 * 437-479 — fixed catalogs > schemas hierarchy, dotted full-name item paths,
 * EXTERNAL/TEXT registration with the Lance location on storage_location).
 * With this plugin on the classpath and
 *   spark.sql.catalog.<name>          = lance_namespace_impls_spark.jvm.UnityRestTableCatalog
 *   spark.sql.catalog.<name>.uri      = http://host:port
 *   spark.sql.catalog.<name>.catalog  = main        (Unity catalog name)
 *   spark.sql.catalog.<name>.header.X = Y           (optional request headers)
 * a three-part SQL name resolves through the Unity dialect with ZERO Python in
 * the session path:
 *   SHOW NAMESPACES IN uc; SELECT ... FROM uc.main_schema.t;
 *   CREATE NAMESPACE uc.stage; CREATE TABLE uc.stage.t (...) LOCATION '...';
 *
 * Protocol contract (identical to unity.py / the reference Unity backend):
 *   - Spark namespaces are Unity SCHEMAS under the configured catalog — the
 *     hierarchy is fixed at exactly one level (unity.py:126-140);
 *   - table registration: table_type=EXTERNAL + data_source_format=TEXT with
 *     a single __placeholder_id LONG column; the Lance location rides
 *     storage_location; required props merge table_type=lance +
 *     managed_by=catalog over user values (unity.py:451-479, hive2.py:511-518);
 *     CREATE TABLE requires LOCATION;
 *   - listings drain the next_page_token loop;
 *   - DROP TABLE deregisters only — the Unity backend never purges data
 *     (unity.py:371-384: deregister_table is the only removal op);
 *   - HTTP error taxonomy: 404->NoSuch*, 409->AlreadyExists/NonEmpty,
 *     400->IllegalArgument (http.py error-code mapping).
 */
package lance_namespace_impls_spark.jvm;

import static lance_namespace_impls_spark.jvm.JsonHttpTransport.check;
import static lance_namespace_impls_spark.jvm.JsonHttpTransport.enc;

import com.fasterxml.jackson.databind.JsonNode;
import com.fasterxml.jackson.databind.node.ObjectNode;

import java.util.ArrayList;
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

public class UnityRestTableCatalog extends AbstractLanceTableCatalog {

  private static final String API = "/api/2.1/unity-catalog";

  private JsonHttpTransport http;
  private String unityCatalog;

  @Override
  public void initialize(String name, CaseInsensitiveStringMap options) {
    super.initialize(name, options);
    // Idempotent suffix handling (unity.py:116-122).
    this.http = new JsonHttpTransport(
        requireOption(options, "uri"), API, "application/json", options);
    this.unityCatalog = options.getOrDefault("catalog", "main");
  }

  /** Spark namespaces are single-level Unity schemas (unity.py:126-132). */
  private String schemaOf(String[] namespace) {
    if (namespace.length != 1) {
      throw new IllegalArgumentException(
          "Unity namespaces are exactly one schema level under catalog '"
              + unityCatalog + "', got " + String.join(".", namespace));
    }
    return namespace[0];
  }

  private String schemaPath(String[] namespace) {
    return "/schemas/" + enc(unityCatalog + "." + schemaOf(namespace));
  }

  private String tablePath(Identifier ident) {
    return "/tables/" + enc(unityCatalog + "." + schemaOf(ident.namespace()) + "." + ident.name());
  }

  // -- SupportsNamespaces ---------------------------------------------------

  @Override
  protected List<String[]> childNamespaces(String[] parent) throws NoSuchNamespaceException {
    if (parent.length > 0) {
      // Schemas are leaves: a valid schema has no children; anything else is
      // unknown (the fixed 2-level hierarchy, unity.py:126-140).
      loadNamespaceMetadata(parent);
      return List.of();
    }
    String path = "/schemas?catalog_name=" + enc(unityCatalog);
    List<String[]> out = new ArrayList<>();
    for (JsonNode page : http.drainPages(
        path, "next_page_token", "page_token", new String[] {unityCatalog})) {
      for (JsonNode s : page.path("schemas")) {
        out.add(new String[] {s.path("name").asText()});
      }
    }
    return out;
  }

  @Override
  public Map<String, String> loadNamespaceMetadata(String[] namespace)
      throws NoSuchNamespaceException {
    String path = schemaPath(namespace);
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
    body.put("name", schemaOf(namespace));
    body.put("catalog_name", unityCatalog);
    body.set("properties", MAPPER.valueToTree(metadata));
    Resp r = http.call("POST", "/schemas", body);
    if (r.status == 409) {
      throw new NamespaceAlreadyExistsException(namespace);
    }
    check("POST /schemas", r);
  }

  @Override
  protected boolean dropEmptyNamespace(String[] namespace)
      throws NoSuchNamespaceException, NonEmptyNamespaceException {
    String path = schemaPath(namespace);
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
    String path =
        "/tables?catalog_name=" + enc(unityCatalog)
            + "&schema_name=" + enc(schemaOf(namespace));
    List<String> names = new ArrayList<>();
    for (JsonNode page : http.drainPages(path, "next_page_token", "page_token", namespace)) {
      for (JsonNode t : page.path("tables")) {
        if (isLance(t.path("properties").path(PROP_TABLE_TYPE).asText(""))) {
          names.add(t.path("name").asText());
        }
      }
    }
    return names;
  }

  @Override
  protected Entry fetchEntry(Identifier ident) throws NoSuchTableException {
    String path = tablePath(ident);
    Resp r = http.call("GET", path, null);
    if (r.status == 404) {
      throw new NoSuchTableException(ident);
    }
    JsonNode table = check("GET " + path, r);
    JsonNode props = table.path("properties");
    return new Entry(
        table.path("storage_location").asText(""),
        props.path(PROP_TABLE_TYPE).asText(""),
        text(props.get(SCHEMA_PROP)));
  }

  @Override
  protected Map<String, String> requiredProperties(String location) {
    // Unity marks catalog-managed registrations (unity.py:292-294).
    Map<String, String> required = super.requiredProperties(location);
    required.put(PROP_MANAGED_BY, "catalog");
    return required;
  }

  @Override
  protected void registerEntry(Identifier ident, String location, Map<String, String> properties)
      throws TableAlreadyExistsException, NoSuchNamespaceException {
    ObjectNode body = MAPPER.createObjectNode();
    body.put("name", ident.name());
    body.put("catalog_name", unityCatalog);
    body.put("schema_name", schemaOf(ident.namespace()));
    body.put("table_type", "EXTERNAL");
    body.put("data_source_format", "TEXT");
    // Single __placeholder_id LONG column; the engine-readable schema rides
    // properties.schema_json (unity.py:95-104, 451-479).
    ObjectNode c = body.putArray("columns").addObject();
    c.put("name", "__placeholder_id");
    c.put("type_text", "LONG");
    c.put("type_json", "{\"type\":\"long\"}");
    c.put("type_name", "LONG");
    c.put("position", 0);
    c.put("nullable", true);
    body.put("storage_location", location);
    body.set("properties", MAPPER.valueToTree(properties));
    Resp r = http.call("POST", "/tables", body);
    if (r.status == 404) {
      throw new NoSuchNamespaceException(ident.namespace());
    }
    if (r.status == 409) {
      throw new TableAlreadyExistsException(ident);
    }
    check("POST /tables", r);
  }

  @Override
  public boolean dropTable(Identifier ident) {
    // Deregister-only: the Unity backend never purges data — deregistration
    // is the single removal operation the reference exposes (unity.py:371-384).
    String path = tablePath(ident);
    Resp r = http.call("DELETE", path, null);
    if (r.status == 404) {
      return false;
    }
    check("DELETE " + path, r);
    return true;
  }
}
