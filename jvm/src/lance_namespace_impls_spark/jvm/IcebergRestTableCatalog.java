/*
 * IcebergRestTableCatalog: the DSv2 plugin over an Iceberg-REST-shaped catalog
 * service — the pure-JVM twin of the Python RestNamespace dialect
 * (lance_namespace_impls_spark/catalog/rest.py).
 *
 * Reference parity: the reference ships per-backend Java catalog impls
 * (IcebergNamespace.java:148-202 maps the namespace op set onto the Iceberg
 * REST HTTP surface; RestClient.java:73-120 is the transport).  With this
 * plugin on the classpath and
 *   spark.sql.catalog.<name>           = lance_namespace_impls_spark.jvm.IcebergRestTableCatalog
 *   spark.sql.catalog.<name>.uri       = http://host:port
 *   spark.sql.catalog.<name>.warehouse = wh            (optional)
 *   spark.sql.catalog.<name>.header.X  = Y             (optional request headers)
 * a three-part SQL name resolves through the REST dialect with ZERO Python in
 * the session path:
 *   SHOW NAMESPACES IN icelake; SELECT ... FROM icelake.main.t;
 *   CREATE NAMESPACE icelake.main; CREATE TABLE icelake.main.t (...);
 *
 * Protocol contract (identical to rest.py / reference iceberg.py):
 *   - warehouse -> prefix via one cached GET /v1/config?warehouse=
 *     (overrides.prefix || defaults.prefix || warehouse; tolerant fallback)
 *     [iceberg.py:154-180, IcebergNamespace.java:117-141];
 *   - namespace path levels joined with the %1F unit separator
 *     [iceberg.py:56, 148-152];
 *   - tables registered with the dummy single-string-column schema, the real
 *     location under properties.lance_location [iceberg.py:98-104];
 *     CREATE TABLE requires LOCATION;
 *   - listings drain the next-page-token loop;
 *   - drop purges (purgeRequested=true) [iceberg.py:585-588];
 *   - HTTP error taxonomy: 404->NoSuch*, 409->AlreadyExists/NonEmpty,
 *     400->IllegalArgument [iceberg.py:461-470, rest_client.py:254-294].
 */
package lance_namespace_impls_spark.jvm;

import static lance_namespace_impls_spark.jvm.JsonHttpTransport.check;
import static lance_namespace_impls_spark.jvm.JsonHttpTransport.enc;

import com.fasterxml.jackson.databind.JsonNode;
import com.fasterxml.jackson.databind.node.ArrayNode;
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

public class IcebergRestTableCatalog extends AbstractLanceTableCatalog {

  private static final String SEP = "\u001F";
  private static final String PROP_LANCE_LOCATION = "lance_location";

  private JsonHttpTransport http;
  private String warehouse;
  private String cachedPrefix; // null until resolved

  @Override
  public void initialize(String name, CaseInsensitiveStringMap options) {
    super.initialize(name, options);
    this.http = new JsonHttpTransport(
        requireOption(options, "uri"), "", "application/json", options);
    this.warehouse = options.getOrDefault("warehouse", "");
  }

  /** warehouse -> prefix, one tolerant config round trip, cached (iceberg.py:154-180). */
  private String prefix() {
    if (cachedPrefix != null) {
      return cachedPrefix;
    }
    String resolved = warehouse;
    boolean cacheable = true;
    try {
      Resp r = http.call("GET", "/v1/config?warehouse=" + enc(warehouse), null);
      if (r.status >= 200 && r.status < 300 && r.body != null) {
        String fromOverrides = r.body.path("overrides").path("prefix").asText("");
        String fromDefaults = r.body.path("defaults").path("prefix").asText("");
        resolved = !fromOverrides.isEmpty() ? fromOverrides
            : !fromDefaults.isEmpty() ? fromDefaults : warehouse;
      }
    } catch (RuntimeException e) {
      cacheable = false; // transient failure must not pin the fallback forever
    }
    String encoded = enc(resolved);
    if (cacheable) {
      cachedPrefix = encoded;
    }
    return encoded;
  }

  /** /v1/{prefix}/namespaces; the prefix segment is omitted when empty. */
  private String namespacesPath() {
    String p = prefix();
    return (p.isEmpty() ? "/v1" : "/v1/" + p) + "/namespaces";
  }

  private String namespacePath(String[] levels) {
    return namespacesPath() + "/" + enc(String.join(SEP, levels));
  }

  private String tablePath(Identifier ident) {
    return namespacePath(ident.namespace()) + "/tables/" + enc(ident.name());
  }

  // -- SupportsNamespaces ---------------------------------------------------

  @Override
  protected List<String[]> childNamespaces(String[] parent) throws NoSuchNamespaceException {
    String path = namespacesPath();
    if (parent.length > 0) {
      path += "?parent=" + enc(String.join(SEP, parent));
    }
    List<String[]> out = new ArrayList<>();
    for (JsonNode page : http.drainPages(path, "next-page-token", "pageToken", parent)) {
      for (JsonNode ns : page.path("namespaces")) {
        String[] levels = new String[ns.size()];
        for (int i = 0; i < ns.size(); i++) {
          levels[i] = ns.get(i).asText();
        }
        out.add(levels);
      }
    }
    return out;
  }

  @Override
  public Map<String, String> loadNamespaceMetadata(String[] namespace)
      throws NoSuchNamespaceException {
    String path = namespacePath(namespace);
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
    ArrayNode ns = body.putArray("namespace");
    for (String level : namespace) {
      ns.add(level);
    }
    body.set("properties", MAPPER.valueToTree(metadata));
    String path = namespacesPath();
    Resp r = http.call("POST", path, body);
    if (r.status == 409) {
      throw new NamespaceAlreadyExistsException(namespace);
    }
    check("POST " + path, r);
  }

  @Override
  protected boolean dropEmptyNamespace(String[] namespace)
      throws NoSuchNamespaceException, NonEmptyNamespaceException {
    String path = namespacePath(namespace);
    Resp r = http.call("DELETE", path, null);
    if (r.status == 404) {
      throw new NoSuchNamespaceException(namespace);
    }
    if (r.status == 409) {
      // server-side emptiness check (rest.py drop_namespace conflict mapping)
      throw new NonEmptyNamespaceException(namespace);
    }
    check("DELETE " + path, r);
    return true;
  }

  // -- TableCatalog ---------------------------------------------------------

  @Override
  protected List<String> tableNames(String[] namespace) throws NoSuchNamespaceException {
    String path = namespacePath(namespace) + "/tables";
    List<String> names = new ArrayList<>();
    for (JsonNode page : http.drainPages(path, "next-page-token", "pageToken", namespace)) {
      for (JsonNode ident : page.path("identifiers")) {
        names.add(ident.path("name").asText());
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
    JsonNode meta = check("GET " + path, r).path("metadata");
    JsonNode props = meta.path("properties");
    String location = props.path(PROP_LANCE_LOCATION).asText("");
    if (location.isEmpty()) {
      location = meta.path("location").asText("");
    }
    return new Entry(
        location, props.path(PROP_TABLE_TYPE).asText(""), text(props.get(SCHEMA_PROP)));
  }

  @Override
  protected Map<String, String> requiredProperties(String location) {
    Map<String, String> required = super.requiredProperties(location);
    required.put(PROP_LANCE_LOCATION, location);
    return required;
  }

  @Override
  protected void registerEntry(Identifier ident, String location, Map<String, String> properties)
      throws TableAlreadyExistsException, NoSuchNamespaceException {
    ObjectNode body = MAPPER.createObjectNode();
    body.put("name", ident.name());
    body.put("location", location);
    // Dummy single-string-column schema; the engine-readable schema rides in
    // properties.schema_json (iceberg.py:98-104, docs/src/iceberg.md:43-47).
    ObjectNode dummy = body.putObject("schema");
    dummy.put("type", "struct");
    dummy.put("schema-id", 0);
    ObjectNode f = dummy.putArray("fields").addObject();
    f.put("id", 1);
    f.put("name", "__placeholder");
    f.put("type", "string");
    f.put("required", false);
    dummy.putArray("identifier-field-ids");
    body.put("stage-create", false);
    body.set("properties", MAPPER.valueToTree(properties));
    String path = namespacePath(ident.namespace()) + "/tables";
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
    // Purge on drop (purgeRequested=true, iceberg.py:585-588); the service
    // owns data deletion — the driver never touches storage here.
    String path = tablePath(ident) + "?purgeRequested=true";
    Resp r = http.call("DELETE", path, null);
    if (r.status == 404) {
      return false;
    }
    check("DELETE " + path, r);
    return true;
  }
}
