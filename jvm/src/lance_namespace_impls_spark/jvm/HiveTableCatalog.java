/*
 * HiveTableCatalog: the DSv2 plugin over a Hive metastore, speaking REAL
 * Thrift through Apache's own HiveMetaStoreClient (the libthrift stack Spark
 * bundles) — the pure-JVM twin of the Python Hive2Namespace dialect
 * (lance_namespace_impls_spark/catalog/hive.py) and the direct architectural
 * parallel of the reference's Hive3Namespace.java (pooled IMetaStoreClient +
 * Thrift metastore API).
 *
 * Because the embedded HMS fixture (catalog/hms_fixture.py) speaks
 * byte-level TBinaryProtocol, the contract tests drive Apache's generated
 * client against the SAME service the Python dialect's vendored codec talks
 * to: two independent Thrift implementations, one wire.
 *
 * Configure:
 *   spark.sql.catalog.<name>     = lance_namespace_impls_spark.jvm.HiveTableCatalog
 *   spark.sql.catalog.<name>.uri = thrift://host:port
 *   spark.sql.catalog.<name>.root = /warehouse   (default database location root)
 * then:
 *   SHOW NAMESPACES IN hive; SELECT ... FROM hive.db.t;
 *   CREATE NAMESPACE hive.db; CREATE TABLE hive.db.t (...) LOCATION '...';
 *
 * Contract (identical to hive.py / reference hive2.py):
 *   - Spark namespaces are single-level Hive databases; with
 *     spark.sql.catalog.<name>.hierarchy = catalog the plugin speaks the
 *     Hive3 2-level catalog > database shape instead (reference
 *     Hive3Namespace.java:107-123, 389-405; Python Hive3Namespace):
 *     SHOW NAMESPACES lists catalogs via a raw-Thrift get_catalogs probe
 *     (the bundled Hive 2.3.10 client predates the call, so the plugin
 *     speaks the message itself over libthrift, degrading to the default
 *     'hive' catalog when the server doesn't answer — hive3.py:218-230),
 *     databases remain catalog-agnostic (pre-3.x Thrift API,
 *     hive3.py:232-236), and tables resolve as <cat>.<catalog>.<db>.<t>;
 *   - Lance tables are EXTERNAL_TABLE entries whose parameters carry
 *     table_type=lance + managed_by=storage; the Lance location rides
 *     sd.location; CREATE TABLE requires LOCATION;
 *   - get_all_tables carries names only, so SHOW TABLES fetches each entry;
 *     only the metastore's typed NoSuchObjectException reads as absence;
 *   - DROP TABLE deregisters only (deleteData=false);
 *   - DROP NAMESPACE is RESTRICT-only.
 */
package lance_namespace_impls_spark.jvm;

import java.net.URI;
import java.util.ArrayList;
import java.util.HashMap;
import java.util.List;
import java.util.Map;

import org.apache.hadoop.hive.conf.HiveConf;
import org.apache.hadoop.hive.metastore.HiveMetaStoreClient;
import org.apache.hadoop.hive.metastore.api.Database;
import org.apache.hadoop.hive.metastore.api.FieldSchema;
import org.apache.hadoop.hive.metastore.api.SerDeInfo;
import org.apache.hadoop.hive.metastore.api.StorageDescriptor;

import org.apache.spark.sql.catalyst.analysis.NamespaceAlreadyExistsException;
import org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException;
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException;
import org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException;
import org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException;
import org.apache.spark.sql.connector.catalog.Identifier;
import org.apache.spark.sql.util.CaseInsensitiveStringMap;

public class HiveTableCatalog extends AbstractLanceTableCatalog {

  private static final String DEFAULT_CATALOG = "hive";

  private String root;
  private String uri;
  private boolean catalogScoped; // hierarchy=catalog: Hive3 [catalog, db]
  // One Thrift connection, guarded by synchronizing every metastore-touching
  // method: libthrift's TSocket is NOT thread-safe (interleaved frames
  // desynchronize the reply stream), unlike the sibling plugins'
  // java.net.http.HttpClient.  Catalog calls are driver-side metadata ops,
  // so the coarse lock costs nothing measurable; a high-concurrency
  // deployment swaps in a client pool (the reference's ClientPoolImpl).
  private HiveMetaStoreClient client;

  // -- CatalogPlugin --------------------------------------------------------

  @Override
  public void initialize(String name, CaseInsensitiveStringMap options) {
    super.initialize(name, options);
    this.uri = requireOption(options, "uri");
    this.root = options.getOrDefault("root", "/tmp/lance-hive-warehouse");
    this.catalogScoped =
        "catalog".equalsIgnoreCase(options.getOrDefault("hierarchy", "database"));
    HiveConf conf = new HiveConf();
    conf.set("hive.metastore.uris", uri);
    // Single connection, no retry storms against the embedded fixture.
    conf.set("hive.metastore.failure.retries", "1");
    conf.set("hive.metastore.connect.retries", "1");
    try {
      this.client = new HiveMetaStoreClient(conf);
    } catch (Exception e) {
      throw new RuntimeException("cannot connect to metastore at " + uri, e);
    }
  }

  /** Spark namespaces are single-level Hive databases (hive2.py), or
   * [catalog, database] in the Hive3 hierarchy (hive3.py:186-195). */
  private String dbOf(String[] namespace) {
    if (catalogScoped) {
      if (namespace.length != 2) {
        throw new IllegalArgumentException(
            "Hive3 namespaces are [catalog, database], got "
                + String.join(".", namespace));
      }
      return namespace[1];
    }
    if (namespace.length != 1) {
      throw new IllegalArgumentException(
          "Hive namespaces are exactly one database level, got "
              + String.join(".", namespace));
    }
    return namespace[0];
  }

  /**
   * Raw-Thrift get_catalogs probe (Hive 3 root listing).  The Hive 2.3.10
   * client pyspark bundles predates the call, so the plugin writes the
   * message itself through the same libthrift stack over a short-lived
   * second socket: get_catalogs_result {0: GetCatalogsResponse {1:
   * list<string> names}}.  Servers without the method answer a framework
   * MSG_EXCEPTION (UNKNOWN_METHOD) and the listing degrades to the default
   * 'hive' catalog, matching the Python dialect (hive3.py:218-230) and the
   * reference's capability fallback (Hive3Namespace.java:107-123).
   */
  private List<String> getCatalogsRaw() {
    String host;
    int port;
    try {
      URI parsed = URI.create(uri.replaceFirst("^thrift://", "tcp://"));
      host = parsed.getHost();
      port = parsed.getPort();
    } catch (RuntimeException e) {
      return List.of(DEFAULT_CATALOG);
    }
    org.apache.thrift.transport.TSocket sock = null;
    try {
      sock = new org.apache.thrift.transport.TSocket(host, port);
      sock.open();
      org.apache.thrift.protocol.TBinaryProtocol prot =
          new org.apache.thrift.protocol.TBinaryProtocol(sock);
      prot.writeMessageBegin(
          new org.apache.thrift.protocol.TMessage(
              "get_catalogs", org.apache.thrift.protocol.TMessageType.CALL, 1));
      prot.writeStructBegin(
          new org.apache.thrift.protocol.TStruct("get_catalogs_args"));
      prot.writeFieldStop();
      prot.writeStructEnd();
      prot.writeMessageEnd();
      sock.flush();
      org.apache.thrift.protocol.TMessage msg = prot.readMessageBegin();
      if (msg.type == org.apache.thrift.protocol.TMessageType.EXCEPTION) {
        // pre-Hive3 server: no catalog support
        return List.of(DEFAULT_CATALOG);
      }
      List<String> names = new ArrayList<>();
      prot.readStructBegin();
      while (true) {
        org.apache.thrift.protocol.TField f = prot.readFieldBegin();
        if (f.type == org.apache.thrift.protocol.TType.STOP) {
          break;
        }
        if (f.id == 0 && f.type == org.apache.thrift.protocol.TType.STRUCT) {
          prot.readStructBegin();
          while (true) {
            org.apache.thrift.protocol.TField g = prot.readFieldBegin();
            if (g.type == org.apache.thrift.protocol.TType.STOP) {
              break;
            }
            if (g.id == 1 && g.type == org.apache.thrift.protocol.TType.LIST) {
              org.apache.thrift.protocol.TList l = prot.readListBegin();
              for (int i = 0; i < l.size; i++) {
                names.add(prot.readString());
              }
              prot.readListEnd();
            } else {
              org.apache.thrift.protocol.TProtocolUtil.skip(prot, g.type);
            }
            prot.readFieldEnd();
          }
          prot.readStructEnd();
        } else {
          org.apache.thrift.protocol.TProtocolUtil.skip(prot, f.type);
        }
        prot.readFieldEnd();
      }
      prot.readStructEnd();
      prot.readMessageEnd();
      return names.isEmpty() ? List.of(DEFAULT_CATALOG) : names;
    } catch (Exception e) {
      // capability degrade, not failure: the connected HMS answered the
      // Hive2 surface already (hive3.py:218-230)
      return List.of(DEFAULT_CATALOG);
    } finally {
      if (sock != null) {
        sock.close();
      }
    }
  }

  /** Not-found vs failure taxonomy: only the metastore's TYPED "no such
   * object" answer may read as absence (every get_/drop_ method in the
   * Thrift IDL declares NoSuchObjectException); transport or protocol
   * failures must propagate, or tableExists() would report a connectivity
   * outage as a missing table (and CREATE IF NOT EXISTS would charge
   * ahead).  No message-substring matching (ADVICE r4). */
  private static boolean isNotFound(Exception e) {
    return e instanceof org.apache.hadoop.hive.metastore.api.NoSuchObjectException;
  }

  // -- SupportsNamespaces ---------------------------------------------------

  private synchronized List<String> allDatabases() {
    try {
      return client.getAllDatabases();
    } catch (Exception e) {
      throw new RuntimeException("getAllDatabases failed", e);
    }
  }

  @Override
  protected synchronized List<String[]> childNamespaces(String[] parent)
      throws NoSuchNamespaceException {
    List<String[]> out = new ArrayList<>();
    if (parent.length == 0) {
      // Root listing: catalogs in the Hive3 hierarchy (Hive3Namespace.java:
      // 107-123), databases in the flat hive2 shape.
      for (String n : catalogScoped ? getCatalogsRaw() : allDatabases()) {
        out.add(new String[] {n});
      }
      return out;
    }
    loadNamespaceMetadata(parent); // NoSuchNamespaceException when unknown
    if (catalogScoped && parent.length == 1) {
      // Databases of a catalog; the HMS database list is catalog-agnostic
      // on the pre-3.x Thrift API (hive3.py:232-236).
      for (String db : allDatabases()) {
        out.add(new String[] {parent[0], db});
      }
    }
    return out;
  }

  @Override
  public synchronized Map<String, String> loadNamespaceMetadata(String[] namespace)
      throws NoSuchNamespaceException {
    if (catalogScoped && namespace.length == 1) {
      // Catalog level (hive3.py describe_namespace single-level branch).
      String cat = namespace[0].toLowerCase();
      boolean known =
          getCatalogsRaw().stream().anyMatch(c -> c.toLowerCase().equals(cat));
      if (!known) {
        throw new NoSuchNamespaceException(namespace);
      }
      Map<String, String> out = new HashMap<>();
      out.put("description", "Catalog: " + cat);
      out.put("catalog.location.uri", root + "/" + cat);
      return out;
    }
    try {
      Database db = client.getDatabase(dbOf(namespace));
      Map<String, String> out = new HashMap<>();
      if (db.getParameters() != null) {
        out.putAll(db.getParameters());
      }
      if (db.getLocationUri() != null) {
        out.put("location", db.getLocationUri());
      }
      return out;
    } catch (Exception e) {
      if (isNotFound(e)) {
        throw new NoSuchNamespaceException(namespace);
      }
      throw new RuntimeException("get_database failed", e);
    }
  }

  @Override
  public synchronized void createNamespace(String[] namespace, Map<String, String> metadata)
      throws NamespaceAlreadyExistsException {
    if (catalogScoped && namespace.length == 1) {
      throw new UnsupportedOperationException(
          "catalog creation is not supported through the Thrift API");
    }
    String db = dbOf(namespace);
    Database d =
        new Database(db, "", root + "/" + db + ".db", new HashMap<>(metadata));
    try {
      client.createDatabase(d);
    } catch (org.apache.hadoop.hive.metastore.api.AlreadyExistsException e) {
      // Typed Thrift exception only — the metastore IDL declares
      // AlreadyExistsException on create_database, so substring-matching
      // arbitrary messages would misclassify unrelated failures whose text
      // happens to contain "exists" (ADVICE r4).
      throw new NamespaceAlreadyExistsException(namespace);
    } catch (Exception e) {
      throw new RuntimeException(
          "create_database failed: " + e.getMessage(), e);
    }
  }

  @Override
  protected synchronized boolean dropEmptyNamespace(String[] namespace)
      throws NoSuchNamespaceException, NonEmptyNamespaceException {
    if (catalogScoped && namespace.length == 1) {
      throw new UnsupportedOperationException(
          "catalog drop is not supported through the Thrift API");
    }
    String db = dbOf(namespace);
    try {
      if (!client.getAllTables(db).isEmpty()) {
        throw new NonEmptyNamespaceException(namespace);
      }
      client.dropDatabase(db, false, false, false);
      return true;
    } catch (NonEmptyNamespaceException e) {
      throw e;
    } catch (Exception e) {
      if (isNotFound(e)) {
        throw new NoSuchNamespaceException(namespace);
      }
      throw new RuntimeException("drop_database failed", e);
    }
  }

  // -- TableCatalog ---------------------------------------------------------

  @Override
  protected synchronized Entry fetchEntry(Identifier ident) throws NoSuchTableException {
    org.apache.hadoop.hive.metastore.api.Table t;
    try {
      t = client.getTable(dbOf(ident.namespace()), ident.name());
    } catch (Exception e) {
      if (isNotFound(e)) {
        throw new NoSuchTableException(ident);
      }
      throw new RuntimeException("get_table " + ident + " failed", e);
    }
    Map<String, String> params = t.getParameters() == null ? Map.of() : t.getParameters();
    return new Entry(
        t.getSd() == null ? "" : t.getSd().getLocation(),
        params.get(PROP_TABLE_TYPE),
        params.get(SCHEMA_PROP));
  }

  @Override
  protected synchronized List<String> tableNames(String[] namespace)
      throws NoSuchNamespaceException {
    String db = dbOf(namespace);
    List<String> names;
    try {
      names = client.getAllTables(db);
    } catch (Exception e) {
      if (isNotFound(e)) {
        throw new NoSuchNamespaceException(namespace);
      }
      throw new RuntimeException("get_all_tables failed", e);
    }
    return lanceOnly(namespace, names);
  }

  @Override
  protected synchronized void registerEntry(
      Identifier ident, String location, Map<String, String> properties)
      throws TableAlreadyExistsException, NoSuchNamespaceException {
    org.apache.hadoop.hive.metastore.api.Table t =
        new org.apache.hadoop.hive.metastore.api.Table();
    t.setDbName(dbOf(ident.namespace()));
    t.setTableName(ident.name());
    t.setTableType("EXTERNAL_TABLE");
    // The TextInputFormat/LazySimpleSerDe descriptor the Python dialect and
    // the reference both register (hive2.py; Hive3Util.java).
    StorageDescriptor sd = new StorageDescriptor();
    sd.setLocation(location);
    sd.setCols(new ArrayList<FieldSchema>());
    sd.setInputFormat("org.apache.hadoop.mapred.TextInputFormat");
    sd.setOutputFormat("org.apache.hadoop.hive.ql.io.HiveIgnoreKeyTextOutputFormat");
    SerDeInfo serde = new SerDeInfo();
    serde.setSerializationLib("org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe");
    serde.setParameters(new HashMap<>());
    sd.setSerdeInfo(serde);
    sd.setParameters(new HashMap<>());
    sd.setBucketCols(new ArrayList<>());
    sd.setSortCols(new ArrayList<>());
    t.setSd(sd);
    t.setParameters(new HashMap<>(properties));
    try {
      client.createTable(t);
    } catch (org.apache.hadoop.hive.metastore.api.AlreadyExistsException e) {
      throw new TableAlreadyExistsException(ident);
    } catch (org.apache.hadoop.hive.metastore.api.NoSuchObjectException
        | org.apache.hadoop.hive.metastore.api.InvalidObjectException e) {
      // Typed Thrift exceptions only (ADVICE r4): the create_table IDL
      // declares NoSuchObjectException for a missing database, and real
      // HMS servers report it as InvalidObjectException — both mean the
      // namespace, never the table.
      throw new NoSuchNamespaceException(ident.namespace());
    } catch (Exception e) {
      throw new RuntimeException("create_table failed: " + e.getMessage(), e);
    }
  }

  @Override
  public synchronized boolean dropTable(Identifier ident) {
    try {
      // Deregister-only: deleteData=false (hive.py deregister_table).
      client.dropTable(dbOf(ident.namespace()), ident.name(), false, false);
      return true;
    } catch (Exception e) {
      if (isNotFound(e)) {
        return false;
      }
      throw new RuntimeException("drop_table failed", e);
    }
  }
}
