/*
 * AbstractLanceTableCatalog: the Lance-table contract every DSv2 plugin in
 * this package shares, written once (the role of the reference's
 * java/lance-namespace-impls-core: ObjectIdentifier, PageUtil,
 * LanceTableUtil).  A plugin only maps a small backend interface onto its
 * own transport:
 *   fetchEntry       one table's location, lance marker and schema sidecar;
 *   registerEntry    store a new table;
 *   dropTable        deregister, purging data where the backend does;
 *   tableNames       the lance tables of a namespace;
 *   childNamespaces, loadNamespaceMetadata, createNamespace,
 *   dropEmptyNamespace (and optionally alterNamespace).
 *
 * The base owns the rest:
 *   - scans and writes delegate to Spark's ParquetTable (FileTable), so a
 *     catalog-resolved table plans exactly like spark.read.parquet — filter
 *     pushdown, column pruning, vectorized reader, AQE.  The catalog is
 *     driver-side metadata; executors never talk to the backend;
 *   - CREATE TABLE rejects PARTITIONED BY, drops Spark's reserved keys (they
 *     are catalog directives, not table properties), merges the required
 *     properties over the user's (hive2.py:511-518), records the declared
 *     schema under "schema_json" so declared-only tables — entries whose
 *     location holds no data yet, table_utils.py:22-45 — still resolve and
 *     accept INSERTs, and materializes a local location;
 *   - non-lance entries are invisible to loadTable/tableExists
 *     (glue.py:504-520), compared case-insensitively;
 *   - listings come back sorted;
 *   - ALTER TABLE, RENAME and cascading namespace drops are outside the Lance
 *     namespace operation set and are rejected.
 */
package lance_namespace_impls_spark.jvm;

import com.fasterxml.jackson.databind.JsonNode;
import com.fasterxml.jackson.databind.ObjectMapper;

import java.io.IOException;
import java.net.URI;
import java.nio.file.Files;
import java.nio.file.Path;
import java.nio.file.Paths;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.HashMap;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;
import java.util.Set;
import java.util.regex.Pattern;

import org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException;
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException;
import org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException;
import org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException;
import org.apache.spark.sql.connector.catalog.Identifier;
import org.apache.spark.sql.connector.catalog.NamespaceChange;
import org.apache.spark.sql.connector.catalog.SupportsNamespaces;
import org.apache.spark.sql.connector.catalog.Table;
import org.apache.spark.sql.connector.catalog.TableCatalog;
import org.apache.spark.sql.connector.catalog.TableChange;
import org.apache.spark.sql.connector.expressions.Transform;
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat;
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.sql.util.CaseInsensitiveStringMap;

public abstract class AbstractLanceTableCatalog implements TableCatalog, SupportsNamespaces {

  static final String PROP_TABLE_TYPE = "table_type";
  static final String PROP_MANAGED_BY = "managed_by";
  static final String SCHEMA_PROP = "schema_json";
  static final String LANCE = "lance";
  static final ObjectMapper MAPPER = new ObjectMapper();

  // Spark-reserved keys are catalog directives, not table properties.
  private static final Set<String> RESERVED = Set.of(
      TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_OWNER,
      TableCatalog.PROP_EXTERNAL,
      TableCatalog.PROP_IS_MANAGED_LOCATION);
  private static final Pattern URI_SCHEME = Pattern.compile("^[A-Za-z][A-Za-z0-9+.-]*:");

  private String catalogName;

  /** One table as the backend stores it; tableType is the raw lance marker. */
  protected record Entry(String location, String tableType, String schemaJson) {}

  // -- backend interface ----------------------------------------------------

  /** The stored entry, lance or not; NoSuchTableException when absent. */
  protected abstract Entry fetchEntry(Identifier ident) throws NoSuchTableException;

  /** Store a new entry; properties are already filtered and merged. */
  protected abstract void registerEntry(
      Identifier ident, String location, Map<String, String> properties)
      throws TableAlreadyExistsException, NoSuchNamespaceException;

  /** Names of the lance tables in a namespace, in any order. */
  protected abstract List<String> tableNames(String[] namespace)
      throws NoSuchNamespaceException;

  /** Child namespaces of parent (the root when empty), in any order. */
  protected abstract List<String[]> childNamespaces(String[] parent)
      throws NoSuchNamespaceException;

  /** RESTRICT drop: NonEmptyNamespaceException while tables or children remain. */
  protected abstract boolean dropEmptyNamespace(String[] namespace)
      throws NoSuchNamespaceException, NonEmptyNamespaceException;

  /** Location for CREATE TABLE without LOCATION. */
  protected String defaultLocation(Identifier ident) {
    throw new IllegalArgumentException(
        "CREATE TABLE through " + getClass().getSimpleName() + " requires LOCATION — "
            + "the catalog stores metadata only, it cannot allocate storage");
  }

  /** Properties merged over the user's; a plugin overrides its marker values. */
  protected Map<String, String> requiredProperties(String location) {
    Map<String, String> required = new LinkedHashMap<>();
    required.put(PROP_TABLE_TYPE, LANCE);
    required.put(PROP_MANAGED_BY, "storage");
    return required;
  }

  // -- CatalogPlugin --------------------------------------------------------

  @Override
  public void initialize(String name, CaseInsensitiveStringMap options) {
    this.catalogName = name;
  }

  @Override
  public String name() {
    return catalogName;
  }

  /** A required option, or IllegalArgumentException naming its conf key. */
  protected String requireOption(CaseInsensitiveStringMap options, String key) {
    String value = options.get(key);
    if (value == null || value.isEmpty()) {
      throw new IllegalArgumentException(
          getClass().getSimpleName() + " requires option '" + key + "' "
              + "(spark.sql.catalog." + catalogName + "." + key + ")");
    }
    return value;
  }

  // -- SupportsNamespaces ---------------------------------------------------

  @Override
  public String[][] listNamespaces() throws NoSuchNamespaceException {
    return listNamespaces(new String[0]);
  }

  @Override
  public String[][] listNamespaces(String[] parent) throws NoSuchNamespaceException {
    List<String[]> out = new ArrayList<>(childNamespaces(parent));
    out.sort(Arrays::compare);
    return out.toArray(new String[0][]);
  }

  @Override
  public void alterNamespace(String[] namespace, NamespaceChange... changes)
      throws NoSuchNamespaceException {
    throw new UnsupportedOperationException(
        "namespace property updates are not supported by " + getClass().getSimpleName());
  }

  @Override
  public boolean dropNamespace(String[] namespace, boolean cascade)
      throws NoSuchNamespaceException, NonEmptyNamespaceException {
    if (cascade) {
      // Cascade rejected by every reference backend (glue.py:283-286,
      // hive2.py:303-306, iceberg.py:322-325).
      throw new UnsupportedOperationException(
          "cascade drop is not supported; drop contents first");
    }
    return dropEmptyNamespace(namespace);
  }

  // -- TableCatalog ---------------------------------------------------------

  @Override
  public Identifier[] listTables(String[] namespace) throws NoSuchNamespaceException {
    List<String> names = new ArrayList<>(tableNames(namespace));
    names.sort(null);
    Identifier[] out = new Identifier[names.size()];
    for (int i = 0; i < out.length; i++) {
      out[i] = Identifier.of(namespace, names.get(i));
    }
    return out;
  }

  /** Lance-only visibility for listings that carry names only: one fetch per
   * name; an entry dropped meanwhile is skipped, any other failure propagates
   * so SHOW TABLES never silently shrinks. */
  protected List<String> lanceOnly(String[] namespace, List<String> names) {
    List<String> out = new ArrayList<>();
    for (String name : names) {
      try {
        if (isLance(fetchEntry(Identifier.of(namespace, name)).tableType())) {
          out.add(name);
        }
      } catch (NoSuchTableException e) {
        // dropped concurrently: invisible
      }
    }
    return out;
  }

  /** Lance-only visibility (glue.py:504-520): the marker, any case. */
  static boolean isLance(String tableType) {
    return LANCE.equalsIgnoreCase(tableType);
  }

  @Override
  public boolean tableExists(Identifier ident) {
    try {
      return isLance(fetchEntry(ident).tableType());
    } catch (NoSuchTableException e) {
      return false;
    }
  }

  @Override
  public Table loadTable(Identifier ident) throws NoSuchTableException {
    Entry entry = fetchEntry(ident);
    if (!isLance(entry.tableType())) {
      throw new NoSuchTableException(ident);
    }
    String schemaJson = entry.schemaJson();
    StructType stored = schemaJson == null || schemaJson.isEmpty()
        ? null
        : (StructType) DataType.fromJson(schemaJson);
    return parquetTable(ident, entry.location(), stored);
  }

  @Override
  public Table createTable(
      Identifier ident, StructType schema, Transform[] partitions, Map<String, String> properties)
      throws TableAlreadyExistsException, NoSuchNamespaceException {
    if (partitions.length > 0) {
      throw new UnsupportedOperationException(
          "partitioned tables are not part of the Lance namespace contract");
    }
    String location = properties.get(TableCatalog.PROP_LOCATION);
    if (location == null || location.isEmpty()) {
      location = defaultLocation(ident);
    }
    Map<String, String> props = new LinkedHashMap<>();
    for (Map.Entry<String, String> e : properties.entrySet()) {
      if (!RESERVED.contains(e.getKey())) {
        props.put(e.getKey(), e.getValue());
      }
    }
    props.putAll(requiredProperties(location));
    props.put(SCHEMA_PROP, schema.json());
    registerEntry(ident, location, props);
    materialize(location);
    return parquetTable(ident, location, schema);
  }

  /**
   * Create a local location's directory so the FileTable index resolves for
   * INSERT INTO before any data lands; an empty directory holds no parquet,
   * so the storage probe still reports declared-only (table_utils.py:22-45).
   * Best-effort: the entry is already registered, and the writer creates
   * the directory on the first INSERT anyway.
   */
  private static void materialize(String location) {
    Path local = localPath(location);
    if (local == null) {
      return;
    }
    try {
      Files.createDirectories(local);
    } catch (IOException | RuntimeException ignored) {
      // not creatable here: leave materialization to the writer
    }
  }

  /**
   * The local path a location names, or null when it is remote.  Spark
   * qualifies an explicit LOCATION ("file:/x"), so a file: URI is its path;
   * any other scheme (s3:, hdfs:, ...) is the storage layer's concern —
   * Paths.get would turn it into a literal "s3:" directory under the working
   * directory.  A location that does not parse is not touched either.  The
   * Python plane applies the same rule (catalog/directory.py local_path).
   */
  static Path localPath(String location) {
    try {
      if (location.startsWith("file:")) {
        String path = URI.create(location).getPath();
        return path == null ? null : Paths.get(path);
      }
      return URI_SCHEME.matcher(location).find() ? null : Paths.get(location);
    } catch (IllegalArgumentException malformed) {
      return null;
    }
  }

  private static Table parquetTable(Identifier ident, String location, StructType schema) {
    org.apache.spark.sql.classic.SparkSession spark =
        org.apache.spark.sql.classic.SparkSession.active();
    scala.collection.immutable.Seq<String> paths =
        scala.jdk.javaapi.CollectionConverters.asScala(List.of(location)).toSeq();
    Map<String, String> opts = new HashMap<>();
    opts.put("path", location);
    scala.Option<StructType> schemaOpt =
        schema == null ? scala.Option.empty() : scala.Option.apply(schema);
    return new ParquetTable(
        ident.toString(),
        spark,
        new CaseInsensitiveStringMap(opts),
        paths,
        schemaOpt,
        ParquetFileFormat.class);
  }

  @Override
  public Table alterTable(Identifier ident, TableChange... changes) {
    throw new UnsupportedOperationException(
        "ALTER TABLE is not part of the Lance namespace operation set");
  }

  @Override
  public void renameTable(Identifier oldIdent, Identifier newIdent) {
    throw new UnsupportedOperationException(
        "rename is not part of the Lance namespace operation set");
  }

  // -- JSON helpers for the JSON-backed plugins ----------------------------

  /** A JSON string's text; null for anything else, including absence. */
  static String text(JsonNode node) {
    return node != null && node.isTextual() ? node.asText() : null;
  }

  /** A JSON object's fields as strings (empty for a non-object). */
  static Map<String, String> stringMap(JsonNode node) {
    Map<String, String> out = new HashMap<>();
    if (node != null && node.isObject()) {
      node.fields().forEachRemaining(e -> out.put(e.getKey(), e.getValue().asText()));
    }
    return out;
  }
}
