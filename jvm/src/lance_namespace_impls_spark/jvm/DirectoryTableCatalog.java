/*
 * DirectoryTableCatalog: the DSv2 plugin over the same warehouse-directory
 * state file the Python DirectoryNamespace backend uses
 * (lance_namespace_impls_spark/catalog/directory.py).
 *
 * This is the JVM half of the reference's core promise — engines resolve Lance
 * tables through the catalog natively (reference: GlueNamespace.java:117-393
 * maps the namespace operation set onto catalog CRUD; ObjectIdentifier.java:23-34
 * for the level model).  With this plugin on the driver classpath and
 *   spark.sql.catalog.<name>       = lance_namespace_impls_spark.jvm.DirectoryTableCatalog
 *   spark.sql.catalog.<name>.root  = /path/to/warehouse
 * every native SQL surface works with zero Python in the resolution path:
 *   SHOW NAMESPACES IN lake; SHOW TABLES IN lake.main;
 *   SELECT ... FROM lake.main.region;  CREATE TABLE lake.main.t ...;
 *   INSERT INTO lake.main.t ...;  CREATE TABLE ... AS SELECT ...
 *
 * Shared state contract (must stay byte-compatible with directory.py):
 *   <root>/_namespace_catalog.json =
 *     {"namespaces": {"a\u001Fb": {"properties": {...}}},
 *      "tables":     {"a\u001Ft": {"location": "...", "properties": {...}}}}
 *   - identifier levels joined with the  unit separator (the encoding the
 *     reference uses for REST paths, iceberg.py:56);
 *   - every mutator holds, across its whole load -> modify -> save, the
 *     root's in-JVM lock and then a FileChannel.lock on
 *     <root>/_namespace_catalog.lock.  On Linux that is an fcntl record lock,
 *     so it also excludes directory.py's fcntl.lockf writers; it is held per
 *     process, which is why the in-JVM lock stays;
 *   - a write replaces the file by rename only, never in place: compact JSON
 *     to a temp file in the root, force it, atomically rename it over the
 *     state file, force the root directory.  A read never sees a torn file
 *     and takes no lock, and directory.py's cache (valid while the file is
 *     the inode it parsed) depends on the rename-only rule;
 *   - tables carry required properties table_type=lance / managed_by=storage
 *     (reference: hive2.py:511-518, Hive3Util.java:171-179);
 *   - drops are RESTRICT-only: emptiness pre-checked
 *     (glue.py:298-301, Hive3Namespace.java:736-745);
 *   - CREATE TABLE without LOCATION places the table at
 *     <root>/<ns...>/<name>.lance;
 *   - dropTable purges data, matching the reference's deleteData=true drop
 *     (hive2.py:434, GlueNamespace.java:312-342).
 */
package lance_namespace_impls_spark.jvm;

import com.fasterxml.jackson.databind.JsonNode;
import com.fasterxml.jackson.databind.node.ObjectNode;

import java.io.IOException;
import java.io.UncheckedIOException;
import java.nio.ByteBuffer;
import java.nio.channels.FileChannel;
import java.nio.file.Files;
import java.nio.file.Path;
import java.nio.file.Paths;
import java.nio.file.StandardCopyOption;
import java.nio.file.StandardOpenOption;
import java.util.ArrayList;
import java.util.Comparator;
import java.util.HashMap;
import java.util.Iterator;
import java.util.LinkedHashSet;
import java.util.List;
import java.util.Map;
import java.util.Set;
import java.util.concurrent.ConcurrentHashMap;
import java.util.concurrent.locks.ReentrantLock;

import org.apache.spark.sql.catalyst.analysis.NamespaceAlreadyExistsException;
import org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException;
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException;
import org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException;
import org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException;
import org.apache.spark.sql.connector.catalog.Identifier;
import org.apache.spark.sql.connector.catalog.NamespaceChange;
import org.apache.spark.sql.util.CaseInsensitiveStringMap;

public class DirectoryTableCatalog extends AbstractLanceTableCatalog {

  // Identifier levels join with the unit separator in state keys, the same
  // encoding the reference uses for REST paths (iceberg.py:56).
  private static final String SEP = "\u001F";
  private static final String STATE_FILE = "_namespace_catalog.json";
  private static final String LOCK_FILE = "_namespace_catalog.lock";
  // Catalog instances over one root (one per session and catalog name)
  // share its lock.
  private static final Map<Path, ReentrantLock> ROOT_LOCKS = new ConcurrentHashMap<>();

  private Path root;
  private ReentrantLock lock;

  // -- CatalogPlugin --------------------------------------------------------

  @Override
  public void initialize(String name, CaseInsensitiveStringMap options) {
    super.initialize(name, options);
    this.root = Paths.get(requireOption(options, "root")).toAbsolutePath().normalize();
    this.lock = ROOT_LOCKS.computeIfAbsent(root, r -> new ReentrantLock());
    try {
      Files.createDirectories(this.root);
    } catch (IOException e) {
      throw new UncheckedIOException(e);
    }
  }

  // -- state I/O (same contract as directory.py:_StateStore) ---------------

  private ObjectNode load() {
    Path p = root.resolve(STATE_FILE);
    if (!Files.exists(p)) {
      ObjectNode s = MAPPER.createObjectNode();
      s.putObject("namespaces");
      s.putObject("tables");
      return s;
    }
    JsonNode state;
    try {
      state = MAPPER.readTree(Files.readAllBytes(p));
    } catch (IOException e) {
      throw new UncheckedIOException("cannot read catalog state file " + p + ": " + e.getMessage(), e);
    }
    if (!state.path("namespaces").isObject() || !state.path("tables").isObject()) {
      throw new IllegalStateException("corrupt catalog state file " + p);
    }
    return (ObjectNode) state;
  }

  /** A held write lock; close() releases it. */
  private interface StateLock extends AutoCloseable {
    @Override
    void close();
  }

  /** Takes the root's in-JVM lock, then the cross-process lock file. */
  private StateLock lockState() {
    lock.lock();
    boolean held = false;
    try {
      FileChannel channel = FileChannel.open(root.resolve(LOCK_FILE),
          StandardOpenOption.CREATE, StandardOpenOption.WRITE);
      try {
        channel.lock();
        held = true;
      } finally {
        if (!held) {
          channel.close();
        }
      }
      return () -> {
        try {
          channel.close(); // releases the file lock
        } catch (IOException e) {
          throw new UncheckedIOException(e);
        } finally {
          lock.unlock();
        }
      };
    } catch (IOException e) {
      throw new UncheckedIOException(e);
    } finally {
      if (!held) {
        lock.unlock();
      }
    }
  }

  /** Callers hold lockState() from the load() this state came from. */
  private void save(ObjectNode state) {
    try {
      Path tmp = Files.createTempFile(root, "_state", ".json.tmp");
      try {
        try (FileChannel out = FileChannel.open(tmp, StandardOpenOption.WRITE)) {
          ByteBuffer bytes = ByteBuffer.wrap(MAPPER.writeValueAsBytes(state));
          while (bytes.hasRemaining()) {
            out.write(bytes);
          }
          out.force(true);
        }
        Files.move(tmp, root.resolve(STATE_FILE),
            StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE);
      } finally {
        Files.deleteIfExists(tmp); // a failed write leaves no temp file
      }
      try (FileChannel dir = FileChannel.open(root, StandardOpenOption.READ)) {
        dir.force(true);
      }
    } catch (IOException e) {
      throw new UncheckedIOException(e);
    }
  }

  private static String key(String[] levels) {
    return String.join(SEP, levels);
  }

  private static String key(String[] namespace, String name) {
    String ns = String.join(SEP, namespace);
    return ns.isEmpty() ? name : ns + SEP + name;
  }

  private static boolean isLanceEntry(JsonNode entry) {
    return isLance(text(entry.path("properties").path(PROP_TABLE_TYPE)));
  }

  private static boolean nsExists(ObjectNode state, String[] levels) {
    if (levels.length == 0) {
      return true; // root always exists (directory.py:_require_namespace)
    }
    return state.path("namespaces").has(key(levels));
  }

  /** levels lies below parent, at any depth. */
  private static boolean under(String[] levels, String[] parent) {
    if (levels.length <= parent.length) {
      return false;
    }
    for (int i = 0; i < parent.length; i++) {
      if (!levels[i].equals(parent[i])) {
        return false;
      }
    }
    return true;
  }

  /** A table key's levels name a table directly in namespace. */
  private static boolean tableIn(String[] levels, String[] namespace) {
    return levels.length == namespace.length + 1 && under(levels, namespace);
  }

  // -- SupportsNamespaces ---------------------------------------------------

  @Override
  protected List<String[]> childNamespaces(String[] parent) throws NoSuchNamespaceException {
    ObjectNode state = load();
    if (!nsExists(state, parent)) {
      throw new NoSuchNamespaceException(parent);
    }
    Set<String> children = new LinkedHashSet<>();
    Iterator<String> it = state.path("namespaces").fieldNames();
    while (it.hasNext()) {
      String[] levels = it.next().split(SEP, -1);
      if (under(levels, parent)) {
        children.add(levels[parent.length]);
      }
    }
    List<String[]> out = new ArrayList<>();
    for (String child : children) {
      String[] levels = new String[parent.length + 1];
      System.arraycopy(parent, 0, levels, 0, parent.length);
      levels[parent.length] = child;
      out.add(levels);
    }
    return out;
  }

  @Override
  public Map<String, String> loadNamespaceMetadata(String[] namespace)
      throws NoSuchNamespaceException {
    ObjectNode state = load();
    if (namespace.length == 0) {
      return new HashMap<>();
    }
    JsonNode entry = state.path("namespaces").get(key(namespace));
    if (entry == null) {
      throw new NoSuchNamespaceException(namespace);
    }
    return stringMap(entry.path("properties"));
  }

  @Override
  public void createNamespace(String[] namespace, Map<String, String> metadata)
      throws NamespaceAlreadyExistsException {
    if (namespace.length == 0) {
      throw new IllegalArgumentException("cannot create the root namespace");
    }
    try (StateLock held = lockState()) {
      ObjectNode state = load();
      String[] parent = new String[namespace.length - 1];
      System.arraycopy(namespace, 0, parent, 0, parent.length);
      if (!nsExists(state, parent)) {
        // parent-must-exist, as directory.py:create_namespace; createNamespace's
        // checked-exception list has no NoSuchNamespaceException slot.
        throw new IllegalArgumentException(
            "parent namespace not found: " + String.join(".", parent));
      }
      String k = key(namespace);
      if (state.path("namespaces").has(k)) {
        throw new NamespaceAlreadyExistsException(namespace);
      }
      ((ObjectNode) state.get("namespaces")).putObject(k)
          .set("properties", MAPPER.valueToTree(metadata));
      save(state);
    }
  }

  @Override
  public void alterNamespace(String[] namespace, NamespaceChange... changes)
      throws NoSuchNamespaceException {
    try (StateLock held = lockState()) {
      ObjectNode state = load();
      JsonNode entry = state.path("namespaces").get(key(namespace));
      if (entry == null) {
        throw new NoSuchNamespaceException(namespace);
      }
      ObjectNode props = (ObjectNode) entry.get("properties");
      for (NamespaceChange change : changes) {
        if (change instanceof NamespaceChange.SetProperty set) {
          props.put(set.property(), set.value());
        } else if (change instanceof NamespaceChange.RemoveProperty remove) {
          props.remove(remove.property());
        } else {
          throw new UnsupportedOperationException(
              "unsupported namespace change: " + change);
        }
      }
      save(state);
    }
  }

  @Override
  protected boolean dropEmptyNamespace(String[] namespace)
      throws NoSuchNamespaceException, NonEmptyNamespaceException {
    if (namespace.length == 0) {
      throw new IllegalArgumentException("cannot drop the root namespace");
    }
    try (StateLock held = lockState()) {
      ObjectNode state = load();
      String k = key(namespace);
      if (!state.path("namespaces").has(k)) {
        throw new NoSuchNamespaceException(namespace);
      }
      // Emptiness pre-check (glue.py:298-301, Hive3Namespace.java:736-745).
      Iterator<String> nsIt = state.path("namespaces").fieldNames();
      while (nsIt.hasNext()) {
        if (nsIt.next().startsWith(k + SEP)) {
          throw new NonEmptyNamespaceException(namespace);
        }
      }
      Iterator<String> tIt = state.path("tables").fieldNames();
      while (tIt.hasNext()) {
        if (tableIn(tIt.next().split(SEP, -1), namespace)) {
          throw new NonEmptyNamespaceException(namespace);
        }
      }
      ((ObjectNode) state.get("namespaces")).remove(k);
      save(state);
      return true;
    }
  }

  // -- TableCatalog ---------------------------------------------------------

  @Override
  protected List<String> tableNames(String[] namespace) throws NoSuchNamespaceException {
    ObjectNode state = load();
    if (!nsExists(state, namespace)) {
      throw new NoSuchNamespaceException(namespace);
    }
    List<String> names = new ArrayList<>();
    Iterator<Map.Entry<String, JsonNode>> it = state.path("tables").fields();
    while (it.hasNext()) {
      Map.Entry<String, JsonNode> e = it.next();
      String[] levels = e.getKey().split(SEP, -1);
      if (tableIn(levels, namespace) && isLanceEntry(e.getValue())) {
        names.add(levels[levels.length - 1]);
      }
    }
    return names;
  }

  @Override
  protected Entry fetchEntry(Identifier ident) throws NoSuchTableException {
    JsonNode entry = load().path("tables").get(key(ident.namespace(), ident.name()));
    if (entry == null) {
      throw new NoSuchTableException(ident);
    }
    JsonNode props = entry.path("properties");
    return new Entry(
        entry.path("location").asText(),
        text(props.path(PROP_TABLE_TYPE)),
        text(props.path(SCHEMA_PROP)));
  }

  @Override
  protected String defaultLocation(Identifier ident) {
    // Glue's `{dbLocationUri}/{table}.lance` default shape (glue.py:404-413).
    Path loc = root;
    for (String level : ident.namespace()) {
      loc = loc.resolve(level);
    }
    return loc.resolve(ident.name() + ".lance").toString();
  }

  @Override
  protected void registerEntry(Identifier ident, String location, Map<String, String> properties)
      throws TableAlreadyExistsException, NoSuchNamespaceException {
    try (StateLock held = lockState()) {
      ObjectNode state = load();
      if (!nsExists(state, ident.namespace())) {
        throw new NoSuchNamespaceException(ident.namespace());
      }
      String k = key(ident.namespace(), ident.name());
      if (state.path("tables").has(k)) {
        // Deliberate asymmetry with tableExists(): a non-lance entry is
        // invisible to reads/listings (glue.py:504-520) yet still occupies the
        // name in the underlying store, so creation must fail — the same
        // contract as the Python plane's declare_table (directory.py:325-326)
        // and what a real backend (Glue/HMS) would return server-side.
        throw new TableAlreadyExistsException(ident);
      }
      ObjectNode entry = ((ObjectNode) state.get("tables")).putObject(k);
      entry.put("location", location);
      entry.set("properties", MAPPER.valueToTree(properties));
      save(state);
    }
  }

  @Override
  public boolean dropTable(Identifier ident) {
    JsonNode entry;
    try (StateLock held = lockState()) {
      ObjectNode state = load();
      String k = key(ident.namespace(), ident.name());
      entry = state.path("tables").get(k);
      if (entry == null || !isLanceEntry(entry)) {
        return false;
      }
      ((ObjectNode) state.get("tables")).remove(k);
      save(state);
    }
    // Purge data best-effort outside the metadata write, matching
    // deleteData=true drops (hive2.py:434, GlueNamespace.java:668-674).
    // A remote location (s3:, hdfs:, ...) is never touched.
    Path loc = localPath(entry.path("location").asText());
    if (loc != null && Files.isDirectory(loc)) {
      try (var walk = Files.walk(loc)) {
        walk.sorted(Comparator.reverseOrder()).forEach(p -> {
          try {
            Files.delete(p);
          } catch (IOException ignored) {
            // best-effort, as the reference's safeDropDataset
          }
        });
      } catch (IOException ignored) {
        // best-effort
      }
    }
    return true;
  }

  // -- statistics seeding (catalog/stats.py companion) ----------------------

  /**
   * Inject externally computed table statistics into the active session's
   * catalog so Catalyst plans from them (sizeInBytes drives broadcast
   * decisions; rowCount feeds CBO) without re-scanning the data.
   *
   * Needed because the in-memory session catalog only populates
   * CatalogStatistics via ANALYZE (the Hive statsFromProperties translation
   * of spark.sql.statistics.* table properties does not apply), and
   * scala.math.BigInt cannot cross the Py4J boundary (it extends
   * java.lang.Number and auto-converts).  Python side:
   * lance_namespace_impls_spark/catalog/stats.py seed_session_stats.
   */
  public static void seedStats(String db, String table, String sizeBytes, String rows) {
    // String-typed numerics: Py4J boxes Python ints unpredictably
    // (Integer vs Long), which breaks reflective primitive matching.
    org.apache.spark.sql.SparkSession spark =
        org.apache.spark.sql.SparkSession.active();
    org.apache.spark.sql.catalyst.catalog.CatalogStatistics stats =
        new org.apache.spark.sql.catalyst.catalog.CatalogStatistics(
            scala.math.BigInt.apply(Long.parseLong(sizeBytes)),
            scala.Option.apply(scala.math.BigInt.apply(Long.parseLong(rows))),
            scala.collection.immutable.Map$.MODULE$.empty());
    spark
        .sessionState()
        .catalog()
        .externalCatalog()
        .alterTableStats(db, table, scala.Option.apply(stats));
    spark.sessionState().catalog().refreshTable(
        org.apache.spark.sql.catalyst.TableIdentifier.apply(
            table, scala.Option.apply(db)));
  }
}
