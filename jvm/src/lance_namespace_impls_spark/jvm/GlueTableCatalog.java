/*
 * GlueTableCatalog: the DSv2 plugin over an AWS-Glue-shaped catalog service
 * (AWS JSON 1.1 wire) — the pure-JVM twin of the Python GlueNamespace dialect
 * (lance_namespace_impls_spark/catalog/glue.py).
 *
 * Reference parity: the reference ships GlueNamespace.java (117-393) against
 * the AWS SDK; this plugin speaks the same operation set over the raw
 * x-amz-json-1.1 protocol (POST / with X-Amz-Target: AWSGlue.<Op>), which is
 * what the SDK itself emits.  With
 *   spark.sql.catalog.<name>          = lance_namespace_impls_spark.jvm.GlueTableCatalog
 *   spark.sql.catalog.<name>.uri      = http://host:port  (endpoint override)
 *   spark.sql.catalog.<name>.header.X = Y                 (optional headers)
 * a three-part SQL name resolves through the Glue dialect with ZERO Python
 * in the session path.  SigV4 signing is out of scope for the endpoint-
 * override path (the fixture verifies protocol shape, not credentials).
 *
 * Protocol contract (identical to glue.py / the reference Glue backend):
 *   - flat 1-level hierarchy: Glue databases only (glue.py:183-188);
 *   - table registration: TableType=EXTERNAL_TABLE, __placeholder_id bigint
 *     column, TextInputFormat/LazySimpleSerDe storage descriptor,
 *     Parameters carry table_type=LANCE (UPPERCASE — Glue's convention,
 *     glue.py:45) + managed_by=storage; the Lance location rides
 *     StorageDescriptor.Location (glue.py:415-447);
 *   - CREATE TABLE requires LOCATION: the service cannot allocate storage;
 *   - DROP TABLE deregisters only — the Glue surface has no purge path;
 *   - DROP NAMESPACE is RESTRICT with a client-side emptiness check
 *     (glue.py drop_namespace: GetTables first), matching the Python plane;
 *   - listings drain the NextToken loop (GetDatabases/GetTables page at 100);
 *   - errors arrive as HTTP 400 with {"__type": "...Exception"}; the type
 *     NAME is the stable contract (glue.py:240-244).
 */
package lance_namespace_impls_spark.jvm;

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

public class GlueTableCatalog extends AbstractLanceTableCatalog {

  private static final String NOT_FOUND = "EntityNotFoundException";
  private static final String EXISTS = "AlreadyExistsException";

  private JsonHttpTransport http;

  @Override
  public void initialize(String name, CaseInsensitiveStringMap options) {
    super.initialize(name, options);
    this.http = new JsonHttpTransport(
        requireOption(options, "uri"), "", "application/x-amz-json-1.1", options);
  }

  // -- transport ------------------------------------------------------------

  /** POST / with X-Amz-Target: AWSGlue.<op> (the AWS JSON 1.1 wire shape). */
  private Resp call(String op, JsonNode body) {
    return http.call("POST", "/", body, "X-Amz-Target", "AWSGlue." + op);
  }

  private static JsonNode check(String op, Resp r) {
    return JsonHttpTransport.check("AWSGlue." + op, r);
  }

  /** The service error-type NAME is the contract (glue.py:240-244). */
  private static String errType(Resp r) {
    if (r.body == null) {
      return "";
    }
    String t = r.body.path("__type").asText("");
    int hash = t.lastIndexOf('#');
    if (hash >= 0) {
      t = t.substring(hash + 1);
    }
    int colon = t.indexOf(':');
    return colon >= 0 ? t.substring(0, colon) : t;
  }

  /** NextToken drain of a paged Get* call (reference GlueNamespace.java:217-233). */
  private List<JsonNode> drain(String op, ObjectNode request, String[] namespace)
      throws NoSuchNamespaceException {
    return JsonHttpTransport.drainPages("AWSGlue." + op, "NextToken", token -> {
      ObjectNode body = request.deepCopy();
      if (token != null) {
        body.put("NextToken", token);
      }
      Resp r = call(op, body);
      if (errType(r).equals(NOT_FOUND)) {
        throw new NoSuchNamespaceException(namespace);
      }
      return check(op, r);
    });
  }

  private static String oneLevel(String[] namespace) {
    if (namespace.length != 1) {
      throw new IllegalArgumentException(
          "Glue namespaces are exactly one database level, got "
              + String.join(".", namespace));
    }
    return namespace[0];
  }

  private static ObjectNode tableRequest(Identifier ident) {
    ObjectNode body = MAPPER.createObjectNode();
    body.put("DatabaseName", oneLevel(ident.namespace()));
    body.put("Name", ident.name());
    return body;
  }

  // -- SupportsNamespaces ---------------------------------------------------

  @Override
  protected List<String[]> childNamespaces(String[] parent) throws NoSuchNamespaceException {
    if (parent.length > 0) {
      // Databases are leaves (flat hierarchy, glue.py:183-188).
      loadNamespaceMetadata(parent);
      return List.of();
    }
    List<String[]> out = new ArrayList<>();
    for (JsonNode page : drain("GetDatabases", MAPPER.createObjectNode(), parent)) {
      for (JsonNode db : page.path("DatabaseList")) {
        out.add(new String[] {db.path("Name").asText()});
      }
    }
    return out;
  }

  @Override
  public Map<String, String> loadNamespaceMetadata(String[] namespace)
      throws NoSuchNamespaceException {
    ObjectNode body = MAPPER.createObjectNode();
    body.put("Name", oneLevel(namespace));
    Resp r = call("GetDatabase", body);
    if (errType(r).equals(NOT_FOUND)) {
      throw new NoSuchNamespaceException(namespace);
    }
    JsonNode db = check("GetDatabase", r).path("Database");
    Map<String, String> out = stringMap(db.path("Parameters"));
    if (db.hasNonNull("LocationUri")) {
      out.put("location", db.path("LocationUri").asText());
    }
    if (db.hasNonNull("Description")) {
      out.put("description", db.path("Description").asText());
    }
    return out;
  }

  @Override
  public void createNamespace(String[] namespace, Map<String, String> metadata)
      throws NamespaceAlreadyExistsException {
    ObjectNode di = MAPPER.createObjectNode();
    di.put("Name", oneLevel(namespace));
    ObjectNode params = MAPPER.createObjectNode();
    for (Map.Entry<String, String> e : metadata.entrySet()) {
      // description/location map to dedicated DatabaseInput fields
      // (glue.py create_namespace); the rest ride Parameters.
      if (e.getKey().equals("description")) {
        di.put("Description", e.getValue());
      } else if (e.getKey().equals("location")) {
        di.put("LocationUri", e.getValue());
      } else {
        params.put(e.getKey(), e.getValue());
      }
    }
    if (params.size() > 0) {
      di.set("Parameters", params);
    }
    ObjectNode body = MAPPER.createObjectNode();
    body.set("DatabaseInput", di);
    Resp r = call("CreateDatabase", body);
    if (errType(r).equals(EXISTS)) {
      throw new NamespaceAlreadyExistsException(namespace);
    }
    check("CreateDatabase", r);
  }

  @Override
  protected boolean dropEmptyNamespace(String[] namespace)
      throws NoSuchNamespaceException, NonEmptyNamespaceException {
    String db = oneLevel(namespace);
    // Client-side RESTRICT check, the Python plane's contract
    // (glue.py drop_namespace: GetTables first).
    ObjectNode listBody = MAPPER.createObjectNode();
    listBody.put("DatabaseName", db);
    Resp tables = call("GetTables", listBody);
    if (errType(tables).equals(NOT_FOUND)) {
      throw new NoSuchNamespaceException(namespace);
    }
    if (tables.status >= 200 && tables.status < 300
        && tables.body.path("TableList").size() > 0) {
      throw new NonEmptyNamespaceException(namespace);
    }
    ObjectNode body = MAPPER.createObjectNode();
    body.put("Name", db);
    Resp r = call("DeleteDatabase", body);
    if (errType(r).equals(NOT_FOUND)) {
      throw new NoSuchNamespaceException(namespace);
    }
    check("DeleteDatabase", r);
    return true;
  }

  // -- TableCatalog ---------------------------------------------------------

  @Override
  protected List<String> tableNames(String[] namespace) throws NoSuchNamespaceException {
    ObjectNode request = MAPPER.createObjectNode();
    request.put("DatabaseName", oneLevel(namespace));
    List<String> names = new ArrayList<>();
    for (JsonNode page : drain("GetTables", request, namespace)) {
      for (JsonNode t : page.path("TableList")) {
        if (isLance(t.path("Parameters").path(PROP_TABLE_TYPE).asText(""))) {
          names.add(t.path("Name").asText());
        }
      }
    }
    return names;
  }

  @Override
  protected Entry fetchEntry(Identifier ident) throws NoSuchTableException {
    Resp r = call("GetTable", tableRequest(ident));
    if (errType(r).equals(NOT_FOUND)) {
      throw new NoSuchTableException(ident);
    }
    JsonNode table = check("GetTable", r).path("Table");
    JsonNode params = table.path("Parameters");
    return new Entry(
        table.path("StorageDescriptor").path("Location").asText(""),
        params.path(PROP_TABLE_TYPE).asText(""),
        text(params.get(SCHEMA_PROP)));
  }

  @Override
  protected Map<String, String> requiredProperties(String location) {
    // UPPERCASE marker is Glue's convention (glue.py:45, 504-509).
    Map<String, String> required = super.requiredProperties(location);
    required.put(PROP_TABLE_TYPE, "LANCE");
    return required;
  }

  @Override
  protected void registerEntry(Identifier ident, String location, Map<String, String> properties)
      throws TableAlreadyExistsException, NoSuchNamespaceException {
    // EXTERNAL_TABLE + placeholder column + Text/LazySimpleSerDe descriptor:
    // the exact registration shape the reference writes (glue.py:415-447).
    ObjectNode ti = MAPPER.createObjectNode();
    ti.put("Name", ident.name());
    ti.put("TableType", "EXTERNAL_TABLE");
    ti.set("Parameters", MAPPER.valueToTree(properties));
    ObjectNode sd = ti.putObject("StorageDescriptor");
    sd.put("Location", location);
    ArrayNode cols = sd.putArray("Columns");
    ObjectNode c = cols.addObject();
    c.put("Name", "__placeholder_id");
    c.put("Type", "bigint");
    c.put("Comment", "Placeholder column for empty table");
    sd.put("InputFormat", "org.apache.hadoop.mapred.TextInputFormat");
    sd.put("OutputFormat", "org.apache.hadoop.hive.ql.io.HiveIgnoreKeyTextOutputFormat");
    sd.putObject("SerdeInfo")
        .put("SerializationLibrary", "org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe");
    ObjectNode body = MAPPER.createObjectNode();
    body.put("DatabaseName", oneLevel(ident.namespace()));
    body.set("TableInput", ti);
    Resp r = call("CreateTable", body);
    if (errType(r).equals(NOT_FOUND)) {
      throw new NoSuchNamespaceException(ident.namespace());
    }
    if (errType(r).equals(EXISTS)) {
      throw new TableAlreadyExistsException(ident);
    }
    check("CreateTable", r);
  }

  @Override
  public boolean dropTable(Identifier ident) {
    // Deregister-only: the Glue surface has no purge path (glue.py:370-384).
    Resp r = call("DeleteTable", tableRequest(ident));
    if (errType(r).equals(NOT_FOUND)) {
      return false;
    }
    check("DeleteTable", r);
    return true;
  }
}
