/*
 * A DSv2 TableCatalog for incubator_paimon_spark tables, so plain
 * `spark.sql("SELECT ... FROM <cat>.<db>.<table>")` works with no
 * attach()/register-view step (the reference's SparkCatalog surface:
 * paimon-spark/paimon-spark-common/.../SparkCatalog.java:61).
 *
 * Design: the ENGINE stays in Python. loadTable resolves the identifier
 * to the table directory, asks the session to build the Python
 * DataSource relation for it (spark.read.format("paimon")), and unwraps
 * Spark's own connector Table from the analyzed plan -- so scans,
 * filter pushdown, merge-on-read and streaming all run through exactly
 * the code the format("paimon") path uses. DDL is delegated the same
 * way: each CREATE/ALTER/DROP/RENAME is one PaimonPyBridge call into the
 * Python Catalog / SchemaManager, which own every schema rule, so a
 * table created by SQL `CREATE TABLE` is the one Catalog.create_table
 * would create.
 *
 * The Python side compiles this lazily with the JDK's javac when a
 * caller asks for SQL catalog installation (jvm_catalog.py); no build
 * system or bundled jar is involved.
 */
package org.apache.paimon.pyspark;

import java.io.File;
import java.util.ArrayList;
import java.util.Collections;
import java.util.List;
import java.util.Map;

import com.fasterxml.jackson.databind.JsonNode;
import com.fasterxml.jackson.databind.ObjectMapper;

import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.catalyst.analysis.NamespaceAlreadyExistsException;
import org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException;
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException;
import org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException;
import org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException;
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan;
import org.apache.spark.sql.connector.catalog.Identifier;
import org.apache.spark.sql.connector.catalog.NamespaceChange;
import org.apache.spark.sql.connector.catalog.SupportsNamespaces;
import org.apache.spark.sql.connector.catalog.Table;
import org.apache.spark.sql.connector.catalog.TableCatalog;
import org.apache.spark.sql.connector.catalog.TableChange;
import org.apache.spark.sql.connector.expressions.Transform;
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.sql.util.CaseInsensitiveStringMap;

public class PaimonSparkCatalog
        implements TableCatalog, SupportsNamespaces,
                org.apache.spark.sql.connector.catalog.StagingTableCatalog,
                org.apache.spark.sql.connector.catalog.ProcedureCatalog {

    private String name;
    private String warehouse;

    @Override
    public void initialize(String name, CaseInsensitiveStringMap options) {
        this.name = name;
        this.warehouse = options.get("warehouse");
        if (this.warehouse == null) {
            throw new IllegalArgumentException(
                    "spark.sql.catalog." + name + ".warehouse is required");
        }
    }

    @Override
    public String name() {
        return name;
    }

    public String warehouse() {
        return warehouse;
    }

    File dbDir(String db) {
        return new File(warehouse, db + ".db");
    }

    File tableDir(Identifier ident) {
        // `t$branch_<name>` resolves to the branch's own table dir
        // (branches are copy-on-write metadata forks living under
        // <table>/branch/<name> -- the reference's $branch_ SQL suffix)
        String name = ident.name();
        int i = name.indexOf("$branch_");
        if (i > 0) {
            return new File(
                    new File(dbDir(ident.namespace()[0]),
                            name.substring(0, i)),
                    "branch/" + name.substring(i + "$branch_".length()));
        }
        return new File(dbDir(ident.namespace()[0]), name);
    }

    static boolean isTableDir(File dir) {
        return new File(dir, "schema").isDirectory();
    }

    // ------------------------------------------------------------------
    // tables
    @Override
    public Identifier[] listTables(String[] namespace)
            throws NoSuchNamespaceException {
        if (namespace.length != 1 || !dbDir(namespace[0]).isDirectory()) {
            throw new NoSuchNamespaceException(namespace);
        }
        List<Identifier> out = new ArrayList<>();
        File[] children = dbDir(namespace[0]).listFiles();
        if (children != null) {
            for (File c : children) {
                if (c.isDirectory() && isTableDir(c)) {
                    out.add(Identifier.of(namespace, c.getName()));
                }
            }
        }
        Collections.sort(out, (a, b) -> a.name().compareTo(b.name()));
        return out.toArray(new Identifier[0]);
    }

    @Override
    public Table loadTable(Identifier ident) throws NoSuchTableException {
        return loadWith(ident, null, null);
    }

    @Override
    public Table loadTable(Identifier ident, String version)
            throws NoSuchTableException {
        // VERSION AS OF: a number is a snapshot id, anything else a tag
        // (the same resolution the reference's SparkCatalog applies)
        if (version.chars().allMatch(Character::isDigit)) {
            return loadWith(ident, "snapshot-id", version);
        }
        return loadWith(ident, "scan.tag-name", version);
    }

    @Override
    public Table loadTable(Identifier ident, long timestampMicros)
            throws NoSuchTableException {
        // Spark hands TIMESTAMP AS OF in MICROseconds
        return loadWith(
                ident,
                "scan.timestamp-millis",
                String.valueOf(timestampMicros / 1000L));
    }

    // loadTable cache keyed by (path, options, schema stamp, SNAPSHOT
    // stamp). Building the format("paimon") relation costs a Python
    // planning process (~2 s), and one INSERT resolves its target
    // several times during analysis -- without this, first-touch DML
    // pays that cost per resolution. The snapshot stamp is load-bearing:
    // Spark's python-source object memoizes its planned read, so a
    // cached Table would keep serving the file list of the first query
    // after a commit -- every commit (snapshot dir/LATEST hint mtime)
    // rotates the key instead. Schema changes rotate it too (new
    // schema-N id/mtime; DDL here also invalidates explicitly).
    private static final java.util.concurrent.ConcurrentHashMap<String, Table>
            TABLE_CACHE = new java.util.concurrent.ConcurrentHashMap<>();

    /** The highest schema/schema-N file, or null; a leaked
     *  `schema-N.tmp-*` from a failed create is not a schema. */
    static File latestSchemaFile(File tableDir) {
        File best = null;
        long bestId = -1;
        File[] children = new File(tableDir, "schema").listFiles();
        if (children != null) {
            for (File f : children) {
                if (f.getName().matches("schema-\\d+")) {
                    long id = Long.parseLong(f.getName().substring(7));
                    if (id > bestId) {
                        bestId = id;
                        best = f;
                    }
                }
            }
        }
        return best;
    }

    private static String schemaStamp(File tableDir) {
        File best = latestSchemaFile(tableDir);
        return best == null ? "none"
                : best.getName() + ":" + best.lastModified() + ":"
                        + best.length();
    }

    private static String snapshotStamp(File tableDir) {
        File sd = new File(tableDir, "snapshot");
        File hint = new File(sd, "LATEST");
        return sd.lastModified() + ":" + hint.lastModified() + ":"
                + hint.length();
    }

    private void uncache(Identifier ident) {
        String prefix = tableDir(ident).getAbsolutePath() + "|";
        TABLE_CACHE.keySet().removeIf(k -> k.startsWith(prefix));
    }

    @Override
    public void invalidateTable(Identifier ident) {
        uncache(ident);
    }

    Table loadWith(Identifier ident, String key, String value)
            throws NoSuchTableException {
        if (ident.namespace().length == 1
                && "sys".equalsIgnoreCase(ident.namespace()[0])
                && !dbDir("sys").isDirectory()) {
            // catalog-scope system tables: SELECT * FROM <cat>.sys.metrics
            // (SystemTableLoader.loadGlobal parity); a real `sys` database
            // in the warehouse shadows them, like the reference
            checkNoTimeTravel(ident, key);
            return systemTable(ident, null, ident.name());
        }
        if (ident.namespace().length != 1 || !isTableDir(tableDir(ident))) {
            // `t$<system>` suffix (docs/maintenance/system-tables.md):
            // resolve the BASE table, serve the named system relation
            String nm = ident.name();
            int d = nm.indexOf('$');
            if (ident.namespace().length == 1 && d > 0
                    && !nm.startsWith("$branch_", d)) {
                Identifier base = Identifier.of(
                        ident.namespace(), nm.substring(0, d));
                if (isTableDir(tableDir(base))) {
                    checkNoTimeTravel(ident, key);
                    return systemTable(ident, tableDir(base),
                            nm.substring(d + 1));
                }
            }
            throw new NoSuchTableException(ident);
        }
        // key includes the SNAPSHOT stamp: the python source object
        // caches its planned read, so a commit must rotate the key or
        // repeated identical queries would serve the old file list
        String cacheKey = tableDir(ident).getAbsolutePath() + "|" + key
                + "=" + value + "|" + schemaStamp(tableDir(ident))
                + "|" + snapshotStamp(tableDir(ident));
        Table cached = TABLE_CACHE.get(cacheKey);
        if (cached != null) {
            return cached;
        }
        java.util.HashMap<String, String> extra = new java.util.HashMap<>();
        extra.put("path", tableDir(ident).getAbsolutePath());
        if (key != null) {
            extra.put(key, value);
        }
        SparkSession spark = SparkSession.active();
        org.apache.spark.sql.DataFrameReader reader =
                spark.read().format("paimon").options(extra);
        Dataset<Row> df = reader.load();
        // the analyzed plan's single leaf is the DataSourceV2Relation
        // Spark built for the registered Python data source; its Table
        // carries schema + scan builder + pushdown -- reuse it verbatim,
        // wrapped so WRITE builders also receive the path (Spark
        // constructs a fresh python source for writes from the write
        // info's options, which would otherwise be empty)
        scala.collection.Iterator<LogicalPlan> leaves =
                df.queryExecution().analyzed().collectLeaves().iterator();
        while (leaves.hasNext()) {
            LogicalPlan leaf = leaves.next();
            if (leaf instanceof DataSourceV2Relation) {
                Table t = new OptionsTable(
                        ((DataSourceV2Relation) leaf).table(), extra,
                        TableMeta.read(tableDir(ident)));
                TABLE_CACHE.put(cacheKey, t);
                return t;
            }
        }
        throw new IllegalStateException(
                "format(\"paimon\") did not resolve to a DSv2 relation -- "
                        + "call incubator_paimon_spark.datasource.register("
                        + "spark) before using the SQL catalog");
    }

    private static void checkNoTimeTravel(Identifier ident, String key) {
        if (key != null) {
            // reference parity (sql.py applies the same rule): system
            // relations reflect CURRENT metadata, not a travelled state
            throw new UnsupportedOperationException(
                    "time travel is not supported on system table "
                            + ident);
        }
    }

    /**
     * System tables (`t$files`, `t$snapshots`, ..., plus catalog-scope
     * `sys.metrics` etc.): the Python engine builds the DataFrame
     * (system_tables.py — including the distributed $files/$partitions
     * serving path above the cache bound) and the bridge returns the
     * live Dataset by reference; this catalog wraps it as a DSv2 table
     * whose scan collects that Dataset. Metadata-scale by design — the
     * Python `t.system(spark, name)` API is the same rows without the
     * collect.
     */
    private Table systemTable(Identifier ident, File baseDir, String sys)
            throws NoSuchTableException {
        String cacheKey = baseDir == null
                ? null
                : baseDir.getAbsolutePath() + "|$" + sys + "|"
                        + schemaStamp(baseDir) + "|" + snapshotStamp(baseDir);
        if (cacheKey != null) {
            Table cached = TABLE_CACHE.get(cacheKey);
            if (cached != null) {
                return cached;
            }
        }
        Object ds;
        try {
            if (baseDir == null) {
                ds = PaimonPyBridge.call("global_system_table_df",
                        warehouse, sys, SparkSession.active());
            } else {
                ds = PaimonPyBridge.call("system_table_df",
                        baseDir.getAbsolutePath(), sys,
                        SparkSession.active());
            }
        } catch (RuntimeException e) {
            // the bridge marks a missing system table with a structured
            // sentinel (bridge.py NO_SUCH_SYSTEM_TABLE), so unrelated
            // Python failures whose message merely contains "unknown"
            // surface as real errors instead of NoSuchTableException
            String m = e.getMessage();
            if (m != null && m.contains("NO_SUCH_SYSTEM_TABLE:")) {
                throw new NoSuchTableException(ident);
            }
            throw e;
        }
        Table t = new DatasetBackedTable(
                ident.toString(),
                (org.apache.spark.sql.classic.Dataset<?>) ds);
        if (cacheKey != null) {
            TABLE_CACHE.put(cacheKey, t);
        }
        return t;
    }

    private static final class DatasetBackedTable
            implements Table,
                    org.apache.spark.sql.connector.catalog.SupportsRead {

        private final String name;
        private final org.apache.spark.sql.classic.Dataset<?> ds;

        DatasetBackedTable(String name,
                           org.apache.spark.sql.classic.Dataset<?> ds) {
            this.name = name;
            this.ds = ds;
        }

        @Override
        public String name() {
            return name;
        }

        @Override
        @SuppressWarnings("deprecation")
        public StructType schema() {
            return ds.schema();
        }

        @Override
        public java.util.Set<org.apache.spark.sql.connector.catalog.TableCapability>
                capabilities() {
            return Collections.singleton(
                    org.apache.spark.sql.connector.catalog.TableCapability
                            .BATCH_READ);
        }

        @Override
        public org.apache.spark.sql.connector.read.ScanBuilder newScanBuilder(
                CaseInsensitiveStringMap options) {
            // Lazy + distributed (r14 verdict #2): the scan rides Spark's
            // DSv2->V1 fallback (V1Scan -> V1ScanWrapper ->
            // RowDataSourceScanExec over the live Dataset's RDD), so
            // `SELECT ... FROM cat.db.`t$files` WHERE ...` never collects
            // the full relation through the driver — filters and
            // aggregates execute on executors above the RDD, and the
            // distributed serving paths ($files/$partitions above the
            // cache bound, system_tables.py) stay distributed end to end.
            // The reference serves system tables as real scans too
            // (paimon-core/.../table/system/FilesTable.java:82).
            return () -> new org.apache.spark.sql.connector.read.V1Scan() {
                @Override
                public StructType readSchema() {
                    return ds.schema();
                }

                @Override
                @SuppressWarnings("unchecked")
                public <T extends org.apache.spark.sql.sources.BaseRelation
                                & org.apache.spark.sql.sources.TableScan>
                        T toV1TableScan(org.apache.spark.sql.SQLContext ctx) {
                    return (T) new DatasetRelation(ctx,
                            (org.apache.spark.sql.classic.Dataset<Row>) ds);
                }
            };
        }
    }

    /** V1 relation over a live Dataset: schema + lazily-built RDD. */
    private static final class DatasetRelation
            extends org.apache.spark.sql.sources.BaseRelation
            implements org.apache.spark.sql.sources.TableScan {

        private final org.apache.spark.sql.SQLContext ctx;
        private final org.apache.spark.sql.classic.Dataset<Row> ds;

        DatasetRelation(org.apache.spark.sql.SQLContext ctx,
                        org.apache.spark.sql.classic.Dataset<Row> ds) {
            this.ctx = ctx;
            this.ds = ds;
        }

        @Override
        public org.apache.spark.sql.SQLContext sqlContext() {
            return ctx;
        }

        @Override
        @SuppressWarnings("deprecation")
        public StructType schema() {
            return ds.schema();
        }

        @Override
        public org.apache.spark.rdd.RDD<Row> buildScan() {
            return ds.rdd();
        }
    }

    /**
     * Bucket layout of a table, parsed from its latest schema-N JSON (the
     * same contract the Python SchemaManager writes): the catalog needs it
     * to request the write distribution. The reference's Spark writer does
     * the equivalent repartition itself (PaimonSparkWriter.scala:322-325);
     * in DSv2 the table REQUESTS clustering and Spark plans the shuffle.
     */
    static final class TableMeta {
        final int numBuckets;
        final String[] clusterKeys; // bucket-key cols (trimmed PK default)
        final String[] orderKeys;   // partition cols + trimmed PK cols
        final String[] partitionKeys;
        final java.util.LinkedHashMap<String, String> options;
        final String comment;
        final String primaryKeys; // comma-joined, "" when none

        private TableMeta(int numBuckets, String[] clusterKeys,
                          String[] orderKeys, String[] partitionKeys,
                          java.util.LinkedHashMap<String, String> options,
                          String comment, String primaryKeys) {
            this.numBuckets = numBuckets;
            this.clusterKeys = clusterKeys;
            this.orderKeys = orderKeys;
            this.partitionKeys = partitionKeys;
            this.options = options;
            this.comment = comment;
            this.primaryKeys = primaryKeys;
        }

        static TableMeta read(File tableDir) {
            try {
                File best = latestSchemaFile(tableDir);
                if (best == null) {
                    return null;
                }
                JsonNode node = new ObjectMapper().readTree(best);
                List<String> pks = strings(node.path("primaryKeys"));
                List<String> parts = strings(node.path("partitionKeys"));
                JsonNode opts = node.path("options");
                int bucket = Integer.parseInt(
                        opts.path("bucket").asText("-1"));
                List<String> cluster = new ArrayList<>();
                String bk = opts.path("bucket-key").asText("");
                if (!bk.isEmpty()) {
                    for (String k : bk.split(",")) {
                        cluster.add(k.trim());
                    }
                }
                List<String> trimmed = new ArrayList<>(pks);
                trimmed.removeAll(parts);
                if (trimmed.isEmpty()) {
                    trimmed = pks; // TableSchema.trimmedPrimaryKeys fallback
                }
                if (cluster.isEmpty()) {
                    cluster = trimmed;
                }
                List<String> order = new ArrayList<>(parts);
                order.addAll(trimmed);
                java.util.LinkedHashMap<String, String> optMap =
                        new java.util.LinkedHashMap<>();
                java.util.Iterator<String> it = opts.fieldNames();
                while (it.hasNext()) {
                    String k = it.next();
                    optMap.put(k, opts.path(k).asText());
                }
                String comment = node.path("comment").isNull() ? null
                        : node.path("comment").asText(null);
                return new TableMeta(bucket,
                        cluster.toArray(new String[0]),
                        order.toArray(new String[0]),
                        parts.toArray(new String[0]),
                        optMap, comment, String.join(",", pks));
            } catch (Exception e) {
                return null; // unreadable schema: no distribution request
            }
        }

        private static List<String> strings(JsonNode arr) {
            List<String> out = new ArrayList<>();
            for (JsonNode n : arr) {
                out.add(n.asText());
            }
            return out;
        }
    }

    /**
     * Delegates to the python source's Table while pinning the catalog's
     * options (path + time travel) into every scan/write builder.
     */
    private static final class OptionsTable
            implements Table,
                    org.apache.spark.sql.connector.catalog.SupportsRead,
                    org.apache.spark.sql.connector.catalog.SupportsWrite,
                    org.apache.spark.sql.connector.catalog.SupportsDelete,
                    org.apache.spark.sql.connector.catalog
                            .SupportsPartitionManagement {

        private final Table inner;
        private final Map<String, String> extra;
        private final TableMeta meta;

        OptionsTable(Table inner, Map<String, String> extra, TableMeta meta) {
            this.inner = inner;
            this.extra = extra;
            this.meta = meta;
        }

        private CaseInsensitiveStringMap merged(CaseInsensitiveStringMap o) {
            java.util.HashMap<String, String> m =
                    new java.util.HashMap<>(o.asCaseSensitiveMap());
            m.putAll(extra);
            return new CaseInsensitiveStringMap(m);
        }

        @Override
        public String name() {
            return inner.name();
        }

        @Override
        @SuppressWarnings("deprecation")
        public StructType schema() {
            return inner.schema();
        }

        @Override
        public java.util.Set<org.apache.spark.sql.connector.catalog.TableCapability>
                capabilities() {
            // the python source reports BATCH_READ/WRITE + TRUNCATE;
            // this wrapper adds the overwrite modes its write builder
            // implements (static PARTITION spec + dynamic)
            java.util.HashSet<org.apache.spark.sql.connector.catalog.TableCapability>
                    caps = new java.util.HashSet<>(inner.capabilities());
            caps.add(org.apache.spark.sql.connector.catalog
                    .TableCapability.OVERWRITE_BY_FILTER);
            caps.add(org.apache.spark.sql.connector.catalog
                    .TableCapability.OVERWRITE_DYNAMIC);
            return caps;
        }

        @Override
        public Transform[] partitioning() {
            // the Python DataSource API has no transform surface, so the
            // inner table reports none; surface the schema's partition
            // keys as identity transforms (PARTITION-clause validation,
            // DESCRIBE, and Spark's overwrite modes all consult this)
            if (meta == null || meta.partitionKeys.length == 0) {
                return inner.partitioning();
            }
            Transform[] out = new Transform[meta.partitionKeys.length];
            for (int i = 0; i < meta.partitionKeys.length; i++) {
                out[i] = org.apache.spark.sql.connector.expressions
                        .Expressions.identity(meta.partitionKeys[i]);
            }
            return out;
        }

        @Override
        public Map<String, String> properties() {
            // DESCRIBE EXTENDED / SHOW TBLPROPERTIES surface: the
            // table's own options + primary key + comment (the python
            // source exposes none)
            java.util.LinkedHashMap<String, String> props =
                    new java.util.LinkedHashMap<>(inner.properties());
            if (meta != null) {
                props.putAll(meta.options);
                if (!meta.primaryKeys.isEmpty()) {
                    props.put("primary-key", meta.primaryKeys);
                }
                if (meta.comment != null) {
                    props.put(TableCatalog.PROP_COMMENT, meta.comment);
                }
                props.put(TableCatalog.PROP_PROVIDER, "paimon");
            }
            return props;
        }

        @Override
        public org.apache.spark.sql.connector.read.ScanBuilder newScanBuilder(
                CaseInsensitiveStringMap options) {
            // Every SCAN gets its own PythonDataSourceV2. pyspark's
            // python-source read plan is a ONE-SHOT memo on the ds
            // instance (PythonDataSourceV2.readInfo): pushFilters plans
            // eagerly and setReadInfo overwrites, planInputPartitions
            // blindly getOrCreate's — so scans sharing a ds serve each
            // other's pruned file lists (a filtered query poisoning the
            // next unfiltered one; two filters in one query serving one
            // side's files to both). A fresh ds per scan isolates every
            // scan's pushdown at the cost of one extra python
            // create-roundtrip per query (r14 wrong-answer fix, pinned
            // by test_sql_catalog_filtered_then_unfiltered).
            org.apache.spark.sql.execution.datasources.v2.python
                    .PythonDataSourceV2 nds =
                    new org.apache.spark.sql.execution.datasources.v2
                            .python.PythonDataSourceV2();
            nds.setShortName("paimon");
            Table fresh = new org.apache.spark.sql.execution.datasources
                    .v2.python.PythonTable(nds, "paimon", inner.schema());
            return ((org.apache.spark.sql.connector.catalog.SupportsRead)
                    fresh).newScanBuilder(merged(options));
        }

        @Override
        public org.apache.spark.sql.connector.write.WriteBuilder newWriteBuilder(
                org.apache.spark.sql.connector.write.LogicalWriteInfo info) {
            return new PaimonWriteBuilder(
                    (org.apache.spark.sql.connector.catalog.SupportsWrite)
                            inner,
                    info, extra, meta);
        }

        // ------------------------------------------------------------
        // SupportsPartitionManagement (PaimonPartitionManagement.scala
        // parity): SHOW PARTITIONS lists the live manifest partitions
        // via the bridge; ALTER TABLE ... DROP PARTITION commits the
        // engine's partition drop. Partitions are DEFINED by data
        // files, so ADD PARTITION is unsupported like the reference.
        @Override
        public StructType partitionSchema() {
            StructType full = inner.schema();
            org.apache.spark.sql.types.StructField[] out =
                    new org.apache.spark.sql.types.StructField
                            [meta == null ? 0 : meta.partitionKeys.length];
            for (int i = 0; i < out.length; i++) {
                out[i] = full.apply(meta.partitionKeys[i]);
            }
            return new StructType(out);
        }

        @Override
        public void createPartition(
                org.apache.spark.sql.catalyst.InternalRow ident,
                Map<String, String> properties) {
            throw new UnsupportedOperationException(
                    "partitions are defined by data files; INSERT data "
                            + "instead of ADD PARTITION");
        }

        @Override
        public void replacePartitionMetadata(
                org.apache.spark.sql.catalyst.InternalRow ident,
                Map<String, String> properties) {
            throw new UnsupportedOperationException(
                    "partition metadata is not supported");
        }

        @Override
        public Map<String, String> loadPartitionMetadata(
                org.apache.spark.sql.catalyst.InternalRow ident) {
            return Collections.emptyMap();
        }

        @Override
        public boolean dropPartition(
                org.apache.spark.sql.catalyst.InternalRow ident) {
            StructType ps = partitionSchema();
            StringBuilder spec = new StringBuilder();
            for (int i = 0; i < ps.fields().length; i++) {
                if (spec.length() > 0) {
                    spec.append(',');
                }
                spec.append(ps.fields()[i].name()).append('=')
                        .append(partitionValueString(
                                ident, i, ps.fields()[i].dataType()));
            }
            PaimonPyBridge.call("drop_partition", extra.get("path"),
                    spec.toString(), SparkSession.active());
            return true;
        }

        @Override
        public org.apache.spark.sql.catalyst.InternalRow[]
                listPartitionIdentifiers(
                        String[] names,
                        org.apache.spark.sql.catalyst.InternalRow ident) {
            StructType ps = partitionSchema();
            Object res = PaimonPyBridge.call("list_partitions",
                    extra.get("path"));
            List<org.apache.spark.sql.catalyst.InternalRow> out =
                    new ArrayList<>();
            try {
                JsonNode arr = new ObjectMapper()
                        .readTree(String.valueOf(res));
                for (JsonNode row : arr) {
                    Object[] vals = new Object[ps.fields().length];
                    for (int i = 0; i < vals.length; i++) {
                        vals[i] = jsonToCatalyst(row.get(i),
                                ps.fields()[i].dataType());
                    }
                    org.apache.spark.sql.catalyst.InternalRow r =
                            new org.apache.spark.sql.catalyst.expressions
                                    .GenericInternalRow(vals);
                    if (matchesPrefix(r, names, ident, ps)) {
                        out.add(r);
                    }
                }
            } catch (java.io.IOException e) {
                throw new RuntimeException(e);
            }
            return out.toArray(
                    new org.apache.spark.sql.catalyst.InternalRow[0]);
        }

        private boolean matchesPrefix(
                org.apache.spark.sql.catalyst.InternalRow row,
                String[] names,
                org.apache.spark.sql.catalyst.InternalRow ident,
                StructType ps) {
            for (int i = 0; i < names.length; i++) {
                int col = ps.fieldIndex(names[i]);
                org.apache.spark.sql.types.DataType dt =
                        ps.fields()[col].dataType();
                Object want = ident.get(i, dt);
                Object got = row.get(col, dt);
                if (want == null ? got != null : !want.equals(got)) {
                    return false;
                }
            }
            return true;
        }

        private static String partitionValueString(
                org.apache.spark.sql.catalyst.InternalRow row, int i,
                org.apache.spark.sql.types.DataType dt) {
            if (row.isNullAt(i)) {
                return "__HIVE_DEFAULT_PARTITION__";
            }
            if (dt instanceof org.apache.spark.sql.types.DateType) {
                return java.time.LocalDate.ofEpochDay(row.getInt(i))
                        .toString();
            }
            return String.valueOf(row.get(i, dt));
        }

        /** JSON partition value -> catalyst internal value. */
        private static Object jsonToCatalyst(
                JsonNode v, org.apache.spark.sql.types.DataType dt) {
            if (v == null || v.isNull()) {
                return null;
            }
            if (dt instanceof org.apache.spark.sql.types.StringType) {
                return org.apache.spark.unsafe.types.UTF8String
                        .fromString(v.asText());
            }
            if (dt instanceof org.apache.spark.sql.types.IntegerType) {
                return v.asInt();
            }
            if (dt instanceof org.apache.spark.sql.types.LongType) {
                return v.asLong();
            }
            if (dt instanceof org.apache.spark.sql.types.ShortType) {
                return (short) v.asInt();
            }
            if (dt instanceof org.apache.spark.sql.types.ByteType) {
                return (byte) v.asInt();
            }
            if (dt instanceof org.apache.spark.sql.types.BooleanType) {
                return v.asBoolean();
            }
            if (dt instanceof org.apache.spark.sql.types.DoubleType) {
                return v.asDouble();
            }
            if (dt instanceof org.apache.spark.sql.types.FloatType) {
                return (float) v.asDouble();
            }
            if (dt instanceof org.apache.spark.sql.types.DateType) {
                return (int) java.time.LocalDate.parse(v.asText())
                        .toEpochDay();
            }
            throw new UnsupportedOperationException(
                    "partition column type " + dt.simpleString()
                            + " not supported by SHOW PARTITIONS; use "
                            + "t.system(spark, 'partitions')");
        }

        // ------------------------------------------------------------
        // SupportsDelete: `DELETE FROM <cat>.<db>.<t> WHERE <pushable>`
        // plans DeleteFromTableExec, which hands the condition here as
        // v1 source filters; they serialize to a small JSON IR the
        // Python engine rebuilds into its own Predicate and executes
        // through row_ops.delete_where (PK -D append / DV / copy-on-
        // write — DeleteFromPaimonTableCommand.scala parity). TRUNCATE
        // TABLE rides the inherited truncateTable() default
        // (deleteWhere(AlwaysTrue)).
        @Override
        public boolean canDeleteWhere(
                org.apache.spark.sql.sources.Filter[] filters) {
            return filtersJson(filters) != null;
        }

        @Override
        public void deleteWhere(
                org.apache.spark.sql.sources.Filter[] filters) {
            String json = filtersJson(filters);
            if (json == null) {
                throw new UnsupportedOperationException(
                        "DELETE condition not pushable: "
                                + java.util.Arrays.toString(filters));
            }
            PaimonPyBridge.call("delete_where", extra.get("path"), json,
                    SparkSession.active());
        }

        /** JSON form of the v1 filter conjunction, or null when any
         * member has no Python-predicate equivalent. */
        private String filtersJson(
                org.apache.spark.sql.sources.Filter[] filters) {
            ObjectMapper om = new ObjectMapper();
            com.fasterxml.jackson.databind.node.ArrayNode arr =
                    om.createArrayNode();
            for (org.apache.spark.sql.sources.Filter f : filters) {
                JsonNode n = filterJson(om, f);
                if (n == null) {
                    return null;
                }
                arr.add(n);
            }
            return arr.toString();
        }

        private JsonNode filterJson(
                ObjectMapper om, org.apache.spark.sql.sources.Filter f) {
            com.fasterxml.jackson.databind.node.ObjectNode o =
                    om.createObjectNode();
            if (f instanceof org.apache.spark.sql.sources.AlwaysTrue) {
                o.put("op", "true");
            } else if (f instanceof org.apache.spark.sql.sources.AlwaysFalse) {
                o.put("op", "false");
            } else if (f instanceof org.apache.spark.sql.sources.EqualTo) {
                org.apache.spark.sql.sources.EqualTo x =
                        (org.apache.spark.sql.sources.EqualTo) f;
                cmp(o, "eq", x.attribute(), x.value());
            } else if (f instanceof
                    org.apache.spark.sql.sources.EqualNullSafe) {
                org.apache.spark.sql.sources.EqualNullSafe x =
                        (org.apache.spark.sql.sources.EqualNullSafe) f;
                if (x.value() == null) {
                    o.put("op", "is_null");
                    o.put("col", x.attribute());
                } else {
                    cmp(o, "eq", x.attribute(), x.value());
                }
            } else if (f instanceof org.apache.spark.sql.sources.GreaterThan) {
                org.apache.spark.sql.sources.GreaterThan x =
                        (org.apache.spark.sql.sources.GreaterThan) f;
                cmp(o, "gt", x.attribute(), x.value());
            } else if (f instanceof
                    org.apache.spark.sql.sources.GreaterThanOrEqual) {
                org.apache.spark.sql.sources.GreaterThanOrEqual x =
                        (org.apache.spark.sql.sources.GreaterThanOrEqual) f;
                cmp(o, "ge", x.attribute(), x.value());
            } else if (f instanceof org.apache.spark.sql.sources.LessThan) {
                org.apache.spark.sql.sources.LessThan x =
                        (org.apache.spark.sql.sources.LessThan) f;
                cmp(o, "lt", x.attribute(), x.value());
            } else if (f instanceof
                    org.apache.spark.sql.sources.LessThanOrEqual) {
                org.apache.spark.sql.sources.LessThanOrEqual x =
                        (org.apache.spark.sql.sources.LessThanOrEqual) f;
                cmp(o, "le", x.attribute(), x.value());
            } else if (f instanceof org.apache.spark.sql.sources.In) {
                org.apache.spark.sql.sources.In x =
                        (org.apache.spark.sql.sources.In) f;
                o.put("op", "in");
                o.put("col", x.attribute());
                com.fasterxml.jackson.databind.node.ArrayNode vs =
                        om.createArrayNode();
                for (Object v : x.values()) {
                    if (v == null) {
                        vs.addNull();
                    } else {
                        vs.add(valueNode(om, v));
                    }
                }
                o.set("vs", vs);
            } else if (f instanceof org.apache.spark.sql.sources.IsNull) {
                o.put("op", "is_null");
                o.put("col", ((org.apache.spark.sql.sources.IsNull) f)
                        .attribute());
            } else if (f instanceof org.apache.spark.sql.sources.IsNotNull) {
                o.put("op", "is_not_null");
                o.put("col", ((org.apache.spark.sql.sources.IsNotNull) f)
                        .attribute());
            } else if (f instanceof
                    org.apache.spark.sql.sources.StringStartsWith) {
                org.apache.spark.sql.sources.StringStartsWith x =
                        (org.apache.spark.sql.sources.StringStartsWith) f;
                o.put("op", "starts_with");
                o.put("col", x.attribute());
                o.put("v", x.value());
            } else if (f instanceof org.apache.spark.sql.sources.And) {
                org.apache.spark.sql.sources.And x =
                        (org.apache.spark.sql.sources.And) f;
                JsonNode l = filterJson(om, x.left());
                JsonNode r = filterJson(om, x.right());
                if (l == null || r == null) {
                    return null;
                }
                o.put("op", "and");
                o.set("l", l);
                o.set("r", r);
            } else if (f instanceof org.apache.spark.sql.sources.Or) {
                org.apache.spark.sql.sources.Or x =
                        (org.apache.spark.sql.sources.Or) f;
                JsonNode l = filterJson(om, x.left());
                JsonNode r = filterJson(om, x.right());
                if (l == null || r == null) {
                    return null;
                }
                o.put("op", "or");
                o.set("l", l);
                o.set("r", r);
            } else if (f instanceof org.apache.spark.sql.sources.Not) {
                // only negations the Python IR expresses directly
                // (ne / not_in / is_not_null / flipped comparisons)
                org.apache.spark.sql.sources.Filter c =
                        ((org.apache.spark.sql.sources.Not) f).child();
                JsonNode inner = filterJson(om, c);
                if (inner == null || !inner.has("op")) {
                    return null;
                }
                String op = inner.get("op").asText();
                java.util.Set<String> negatable = new java.util.HashSet<>(
                        java.util.Arrays.asList("eq", "in", "is_null",
                                "is_not_null", "gt", "ge", "lt", "le"));
                if (!negatable.contains(op)) {
                    return null;
                }
                o.put("op", "not");
                o.set("c", inner);
            } else {
                return null;
            }
            return o;
        }

        private void cmp(com.fasterxml.jackson.databind.node.ObjectNode o,
                         String op, String col, Object v) {
            o.put("op", op);
            o.put("col", col);
            if (v == null) {
                o.putNull("v");
            } else {
                o.set("v", valueNode(new ObjectMapper(), v));
            }
        }

        /** Literal -> JSON: numbers/booleans natively, everything else
         * (dates, timestamps, decimals, strings) as its string form —
         * the Python side re-types it from the table schema. */
        private static JsonNode valueNode(ObjectMapper om, Object v) {
            if (v instanceof Boolean) {
                return om.getNodeFactory().booleanNode((Boolean) v);
            }
            if (v instanceof Byte || v instanceof Short
                    || v instanceof Integer || v instanceof Long) {
                return om.getNodeFactory().numberNode(
                        ((Number) v).longValue());
            }
            if (v instanceof Float || v instanceof Double) {
                return om.getNodeFactory().numberNode(
                        ((Number) v).doubleValue());
            }
            if (v instanceof java.math.BigDecimal) {
                return om.getNodeFactory().textNode(
                        ((java.math.BigDecimal) v).toPlainString());
            }
            return om.getNodeFactory().textNode(String.valueOf(v));
        }
    }

    /**
     * One write builder for every table shape. Builds the Python
     * source's write lazily at build() time so overwrite modes can add
     * options the Python writer reads:
     * - SupportsTruncate: whole-table INSERT OVERWRITE
     * - SupportsOverwrite: `INSERT OVERWRITE ... PARTITION (k=v)` --
     *   the static spec (EqualTo filters on partition columns) rides in
     *   option `paimon.overwrite-spec` as a hive-style URL-encoded
     *   `k=v/k=v` string the Python commit decodes with the table's
     *   column types
     * - SupportsDynamicOverwrite: touched-partitions-only overwrite via
     *   option `paimon.dynamic-overwrite`
     * Fixed-bucket tables additionally get the BucketedWrite
     * distribution: clustering by the bucket-key columns with EXACTLY
     * numBuckets partitions -- Spark plans the shuffle as
     * pmod(murmur3(keys), numBuckets), the engine's own bucket function
     * (write.bucket_expr), so each writer task receives one complete
     * bucket; same net layout as the reference's explicit
     * repartition(partitionCols, bucket)
     * (PaimonSparkWriter.scala:322-325).
     */
    private static final class PaimonWriteBuilder
            implements org.apache.spark.sql.connector.write.WriteBuilder,
                    org.apache.spark.sql.connector.write.SupportsTruncate,
                    org.apache.spark.sql.connector.write.SupportsOverwrite,
                    org.apache.spark.sql.connector.write
                            .SupportsDynamicOverwrite {

        private final org.apache.spark.sql.connector.catalog.SupportsWrite
                table;
        private final org.apache.spark.sql.connector.write.LogicalWriteInfo
                info;
        private final Map<String, String> extra;
        private final TableMeta meta;
        private final java.util.HashMap<String, String> writeOpts =
                new java.util.HashMap<>();
        private boolean truncate;

        PaimonWriteBuilder(
                org.apache.spark.sql.connector.catalog.SupportsWrite table,
                org.apache.spark.sql.connector.write.LogicalWriteInfo info,
                Map<String, String> extra, TableMeta meta) {
            this.table = table;
            this.info = info;
            this.extra = extra;
            this.meta = meta;
        }

        @Override
        public org.apache.spark.sql.connector.write.WriteBuilder truncate() {
            truncate = true;
            return this;
        }

        @Override
        public org.apache.spark.sql.connector.write.WriteBuilder overwrite(
                org.apache.spark.sql.sources.Filter[] filters) {
            StringBuilder spec = new StringBuilder();
            java.util.Set<String> parts = new java.util.HashSet<>(
                    java.util.Arrays.asList(
                            meta == null ? new String[0]
                                    : meta.partitionKeys));
            for (org.apache.spark.sql.sources.Filter f : filters) {
                if (f instanceof org.apache.spark.sql.sources.AlwaysTrue) {
                    continue;
                }
                String col;
                Object value;
                if (f instanceof org.apache.spark.sql.sources.EqualTo) {
                    org.apache.spark.sql.sources.EqualTo eq =
                            (org.apache.spark.sql.sources.EqualTo) f;
                    col = eq.attribute();
                    value = eq.value();
                } else if (f instanceof
                        org.apache.spark.sql.sources.EqualNullSafe) {
                    org.apache.spark.sql.sources.EqualNullSafe eq =
                            (org.apache.spark.sql.sources.EqualNullSafe) f;
                    col = eq.attribute();
                    value = eq.value();
                } else {
                    throw new UnsupportedOperationException(
                            "INSERT OVERWRITE supports a static partition "
                                    + "spec (col = value) or the full "
                                    + "table, got filter " + f);
                }
                if (!parts.contains(col)) {
                    throw new UnsupportedOperationException(
                            "overwrite filter on non-partition column "
                                    + col);
                }
                if (spec.length() > 0) {
                    spec.append('/');
                }
                String enc;
                try {
                    enc = value == null ? "__HIVE_DEFAULT_PARTITION__"
                            : java.net.URLEncoder.encode(
                                    String.valueOf(value), "UTF-8")
                                    .replace("+", "%20");
                } catch (java.io.UnsupportedEncodingException e) {
                    throw new RuntimeException(e);
                }
                spec.append(col).append('=').append(enc);
            }
            if (spec.length() > 0) {
                writeOpts.put("paimon.overwrite-spec", spec.toString());
            }
            truncate = true;
            return this;
        }

        @Override
        public org.apache.spark.sql.connector.write.WriteBuilder
                overwriteDynamicPartitions() {
            writeOpts.put("paimon.dynamic-overwrite", "true");
            truncate = true;
            return this;
        }

        @Override
        public org.apache.spark.sql.connector.write.Write build() {
            java.util.HashMap<String, String> m = new java.util.HashMap<>(
                    info.options().asCaseSensitiveMap());
            m.putAll(extra);
            m.putAll(writeOpts);
            final CaseInsensitiveStringMap opts =
                    new CaseInsensitiveStringMap(m);
            org.apache.spark.sql.connector.write.LogicalWriteInfo pinned =
                    new org.apache.spark.sql.connector.write.LogicalWriteInfo() {
                        @Override
                        public CaseInsensitiveStringMap options() {
                            return opts;
                        }

                        @Override
                        public String queryId() {
                            return info.queryId();
                        }

                        @Override
                        public StructType schema() {
                            return info.schema();
                        }
                    };
            org.apache.spark.sql.connector.write.WriteBuilder wb =
                    table.newWriteBuilder(pinned);
            if (truncate) {
                wb = ((org.apache.spark.sql.connector.write.SupportsTruncate)
                        wb).truncate();
            }
            org.apache.spark.sql.connector.write.Write w = wb.build();
            if (meta != null && meta.numBuckets > 0
                    && meta.clusterKeys.length > 0) {
                return new BucketedWrite(w, meta);
            }
            return w;
        }
    }

    private static final class BucketedWrite
            implements org.apache.spark.sql.connector.write.Write,
                    org.apache.spark.sql.connector.write
                            .RequiresDistributionAndOrdering {

        private final org.apache.spark.sql.connector.write.Write inner;
        private final TableMeta meta;

        BucketedWrite(org.apache.spark.sql.connector.write.Write inner,
                      TableMeta meta) {
            this.inner = inner;
            this.meta = meta;
        }

        @Override
        public org.apache.spark.sql.connector.distributions.Distribution
                requiredDistribution() {
            org.apache.spark.sql.connector.expressions.Expression[] cluster =
                    new org.apache.spark.sql.connector.expressions
                            .Expression[meta.clusterKeys.length];
            for (int i = 0; i < meta.clusterKeys.length; i++) {
                cluster[i] = org.apache.spark.sql.connector.expressions
                        .Expressions.column(meta.clusterKeys[i]);
            }
            return org.apache.spark.sql.connector.distributions.Distributions
                    .clustered(cluster);
        }

        @Override
        public int requiredNumPartitions() {
            return meta.numBuckets;
        }

        @Override
        public org.apache.spark.sql.connector.expressions.SortOrder[]
                requiredOrdering() {
            // task-local sort by (partition cols, key cols): groups arrive
            // contiguous and near-sorted, so the writer's per-file
            // key+sequence sort is a cheap pass over mostly-ordered data
            org.apache.spark.sql.connector.expressions.SortOrder[] order =
                    new org.apache.spark.sql.connector.expressions
                            .SortOrder[meta.orderKeys.length];
            for (int i = 0; i < meta.orderKeys.length; i++) {
                order[i] = org.apache.spark.sql.connector.expressions
                        .Expressions.sort(
                                org.apache.spark.sql.connector.expressions
                                        .Expressions.column(meta.orderKeys[i]),
                                org.apache.spark.sql.connector.expressions
                                        .SortDirection.ASCENDING);
            }
            return order;
        }

        @Override
        public org.apache.spark.sql.connector.write.BatchWrite toBatch() {
            return inner.toBatch();
        }

        @Override
        public org.apache.spark.sql.connector.write.streaming.StreamingWrite
                toStreaming() {
            return inner.toStreaming();
        }

        @Override
        public String description() {
            return inner.description();
        }
    }

    @Override
    public boolean tableExists(Identifier ident) {
        return ident.namespace().length == 1 && isTableDir(tableDir(ident));
    }

    private static UnsupportedOperationException pythonDdl(String op) {
        return new UnsupportedOperationException(
                op + " is served by the Python API (incubator_paimon_spark"
                        + ".Catalog / SchemaManager), not by this SQL "
                        + "catalog");
    }

    // ------------------------------------------------------------------
    // DDL. Every mutation is ONE bridge call into the Python engine's
    // Catalog / SchemaManager (bridge.py create_table, alter_table,
    // drop_table, rename_table, create_namespace, drop_namespace), which
    // own every schema rule -- the same ones Catalog.create_table,
    // catalog.sql and the Jdbc catalog apply (the reference's
    // SparkCatalog likewise only turns Spark TableChanges into
    // SchemaChanges for its core catalog). This side keeps the Spark-API
    // contract only: existence checks with Spark's exception types,
    // identity-only partition transforms, reserved-property filtering,
    // and the loadTable cache.

    private static final java.util.Set<String> RESERVED_PROPS =
            new java.util.HashSet<>(java.util.Arrays.asList(
                    "provider", "location", "comment", "owner", "external",
                    "path", "primary-key", "option.primary-key"));

    private static String identifier(Identifier ident) {
        return ident.namespace()[0] + "." + ident.name();
    }

    @Override
    public Table createTable(
            Identifier ident,
            StructType schema,
            Transform[] partitions,
            Map<String, String> properties)
            throws TableAlreadyExistsException, NoSuchNamespaceException {
        if (ident.namespace().length != 1
                || !dbDir(ident.namespace()[0]).isDirectory()) {
            throw new NoSuchNamespaceException(ident.namespace());
        }
        if (tableExists(ident)) {
            throw new TableAlreadyExistsException(ident);
        }
        List<String> partitionKeys = new ArrayList<>();
        for (Transform t : partitions) {
            if (!"identity".equals(t.name()) || t.references().length != 1) {
                throw new UnsupportedOperationException(
                        "only identity partitioning is supported, got " + t);
            }
            partitionKeys.add(String.join(".",
                    t.references()[0].fieldNames()));
        }
        java.util.LinkedHashMap<String, String> options =
                new java.util.LinkedHashMap<>();
        for (Map.Entry<String, String> e : properties.entrySet()) {
            if (!RESERVED_PROPS.contains(e.getKey())) {
                options.put(e.getKey(), e.getValue());
            }
        }
        uncache(ident); // a re-created identifier must not serve stale
        try {
            ObjectMapper om = new ObjectMapper();
            java.util.LinkedHashMap<String, Object> spec =
                    new java.util.LinkedHashMap<>();
            spec.put("schema", om.readTree(schema.json()));
            spec.put("partition_keys", partitionKeys);
            spec.put("primary_key", properties.get("primary-key"));
            spec.put("options", options);
            spec.put("comment", properties.get("comment"));
            PaimonPyBridge.call("create_table", warehouse,
                    identifier(ident), om.writeValueAsString(spec));
            return loadWith(ident, null, null);
        } catch (com.fasterxml.jackson.core.JsonProcessingException
                | NoSuchTableException e) {
            throw new IllegalStateException(e);
        } catch (RuntimeException e) {
            // the bridge marks a lost create race with a structured
            // sentinel (bridge.py TABLE_ALREADY_EXISTS)
            String m = e.getMessage();
            if (m != null && m.contains("TABLE_ALREADY_EXISTS:")) {
                throw new TableAlreadyExistsException(ident);
            }
            throw e;
        }
    }

    @Override
    public Table alterTable(Identifier ident, TableChange... changes)
            throws NoSuchTableException {
        if (!tableExists(ident)) {
            throw new NoSuchTableException(ident);
        }
        // the whole statement is one SchemaManager.commit_changes call:
        // one schema-N, or nothing when any change is refused
        ObjectMapper om = new ObjectMapper();
        com.fasterxml.jackson.databind.node.ArrayNode arr =
                om.createArrayNode();
        for (TableChange c : changes) {
            arr.add(changeJson(om, c));
        }
        PaimonPyBridge.call("alter_table",
                tableDir(ident).getAbsolutePath(), arr.toString());
        uncache(ident);
        return loadWith(ident, null, null);
    }

    /** One TableChange as the change dict SchemaManager.commit_changes takes. */
    private static com.fasterxml.jackson.databind.node.ObjectNode changeJson(
            ObjectMapper om, TableChange c) {
        com.fasterxml.jackson.databind.node.ObjectNode o =
                om.createObjectNode();
        try {
            if (c instanceof TableChange.SetProperty) {
                TableChange.SetProperty sp = (TableChange.SetProperty) c;
                o.put("op", "set_option");
                o.put("key", sp.property());
                o.put("value", sp.value());
            } else if (c instanceof TableChange.RemoveProperty) {
                o.put("op", "remove_option");
                o.put("key", ((TableChange.RemoveProperty) c).property());
            } else if (c instanceof TableChange.AddColumn) {
                TableChange.AddColumn ac = (TableChange.AddColumn) c;
                o.put("op", "add_column");
                o.put("name", singleName(ac.fieldNames()));
                o.set("dtype", om.readTree(ac.dataType().json()));
                o.put("nullable", ac.isNullable());
                o.put("description", ac.comment());
                o.put("first", ac.position() instanceof TableChange.First);
                o.put("after", afterColumn(ac.position()));
            } else if (c instanceof TableChange.RenameColumn) {
                TableChange.RenameColumn rc = (TableChange.RenameColumn) c;
                o.put("op", "rename_column");
                o.put("name", singleName(rc.fieldNames()));
                o.put("new_name", rc.newName());
            } else if (c instanceof TableChange.DeleteColumn) {
                o.put("op", "drop_column");
                o.put("name", singleName(
                        ((TableChange.DeleteColumn) c).fieldNames()));
            } else if (c instanceof TableChange.UpdateColumnComment) {
                TableChange.UpdateColumnComment uc =
                        (TableChange.UpdateColumnComment) c;
                o.put("op", "update_column_comment");
                o.put("name", singleName(uc.fieldNames()));
                o.put("comment", uc.newComment());
            } else if (c instanceof TableChange.UpdateColumnType) {
                TableChange.UpdateColumnType uc =
                        (TableChange.UpdateColumnType) c;
                o.put("op", "update_column_type");
                o.put("name", singleName(uc.fieldNames()));
                o.set("new_type", om.readTree(uc.newDataType().json()));
            } else if (c instanceof TableChange.UpdateColumnNullability) {
                TableChange.UpdateColumnNullability un =
                        (TableChange.UpdateColumnNullability) c;
                o.put("op", "update_column_nullability");
                o.put("name", singleName(un.fieldNames()));
                o.put("nullable", un.nullable());
            } else if (c instanceof TableChange.UpdateColumnPosition) {
                TableChange.UpdateColumnPosition up =
                        (TableChange.UpdateColumnPosition) c;
                o.put("op", "move_column");
                o.put("name", singleName(up.fieldNames()));
                o.put("after", afterColumn(up.position())); // null = FIRST
            } else {
                throw pythonDdl(c.getClass().getSimpleName());
            }
        } catch (com.fasterxml.jackson.core.JsonProcessingException e) {
            throw new IllegalStateException(e);
        }
        return o;
    }

    private static String afterColumn(TableChange.ColumnPosition p) {
        return p instanceof TableChange.After
                ? ((TableChange.After) p).column() : null;
    }

    private static String singleName(String[] fieldNames) {
        if (fieldNames.length != 1) {
            throw new UnsupportedOperationException(
                    "nested column DDL is served by the Python API");
        }
        return fieldNames[0];
    }

    @Override
    public boolean dropTable(Identifier ident) {
        if (!tableExists(ident)) {
            return false;
        }
        uncache(ident);
        PaimonPyBridge.call("drop_table", warehouse, identifier(ident));
        return true;
    }

    @Override
    public void renameTable(Identifier oldIdent, Identifier newIdent)
            throws NoSuchTableException, TableAlreadyExistsException {
        // `RENAME TO <cat>.<db>.<t>` reaches the catalog with the catalog
        // name still in the target namespace -- strip it
        if (newIdent.namespace().length == 2
                && newIdent.namespace()[0].equals(name)) {
            newIdent = Identifier.of(
                    new String[] {newIdent.namespace()[1]}, newIdent.name());
        }
        if (!tableExists(oldIdent)) {
            throw new NoSuchTableException(oldIdent);
        }
        if (tableExists(newIdent)) {
            throw new TableAlreadyExistsException(newIdent);
        }
        if (!namespaceExists(newIdent.namespace())) {
            throw new IllegalArgumentException(
                    "target namespace does not exist: "
                            + String.join(".", newIdent.namespace()));
        }
        uncache(oldIdent);
        uncache(newIdent);
        PaimonPyBridge.call("rename_table", warehouse,
                identifier(oldIdent), identifier(newIdent));
    }

    // ------------------------------------------------------------------
    // staged DDL (StagingTableCatalog): enables CREATE OR REPLACE TABLE
    // ... AS SELECT, df.writeTo(t).createOrReplace(), and
    // saveAsTable(mode="overwrite"). Non-atomic like Spark's own
    // non-staging CTAS exec (and like the reference's SparkCatalog,
    // which does not implement staging at all): create/replace happens
    // at stage time, commit is a no-op, abort drops the staged table.
    // A REPLACE whose write later fails therefore leaves the new empty
    // table rather than restoring the old one -- the documented
    // non-atomic tradeoff of a filesystem catalog.
    @Override
    public org.apache.spark.sql.connector.catalog.StagedTable stageCreate(
            Identifier ident, StructType schema, Transform[] partitions,
            Map<String, String> properties)
            throws TableAlreadyExistsException, NoSuchNamespaceException {
        return new NonAtomicStaged(
                createTable(ident, schema, partitions, properties),
                this, ident);
    }

    @Override
    public org.apache.spark.sql.connector.catalog.StagedTable stageReplace(
            Identifier ident, StructType schema, Transform[] partitions,
            Map<String, String> properties)
            throws NoSuchNamespaceException, NoSuchTableException {
        if (!tableExists(ident)) {
            throw new NoSuchTableException(ident);
        }
        dropTable(ident);
        try {
            return stageCreate(ident, schema, partitions, properties);
        } catch (TableAlreadyExistsException e) {
            throw new IllegalStateException(e); // just dropped it
        }
    }

    @Override
    public org.apache.spark.sql.connector.catalog.StagedTable
            stageCreateOrReplace(
                    Identifier ident, StructType schema,
                    Transform[] partitions, Map<String, String> properties)
            throws NoSuchNamespaceException {
        if (tableExists(ident)) {
            dropTable(ident);
        }
        try {
            return stageCreate(ident, schema, partitions, properties);
        } catch (TableAlreadyExistsException e) {
            throw new IllegalStateException(e);
        }
    }

    private static final class NonAtomicStaged
            implements org.apache.spark.sql.connector.catalog.StagedTable,
                    org.apache.spark.sql.connector.catalog.SupportsRead,
                    org.apache.spark.sql.connector.catalog.SupportsWrite {

        private final Table inner; // the freshly created OptionsTable
        private final PaimonSparkCatalog catalog;
        private final Identifier ident;

        NonAtomicStaged(Table inner, PaimonSparkCatalog catalog,
                        Identifier ident) {
            this.inner = inner;
            this.catalog = catalog;
            this.ident = ident;
        }

        @Override
        public void commitStagedChanges() {
            // the table exists and its data write already committed
        }

        @Override
        public void abortStagedChanges() {
            catalog.dropTable(ident);
        }

        @Override
        public String name() {
            return inner.name();
        }

        @Override
        @SuppressWarnings("deprecation")
        public StructType schema() {
            return inner.schema();
        }

        @Override
        public java.util.Set<org.apache.spark.sql.connector.catalog.TableCapability>
                capabilities() {
            return inner.capabilities();
        }

        @Override
        public Transform[] partitioning() {
            return inner.partitioning();
        }

        @Override
        public Map<String, String> properties() {
            return inner.properties();
        }

        @Override
        public org.apache.spark.sql.connector.read.ScanBuilder newScanBuilder(
                CaseInsensitiveStringMap options) {
            return ((org.apache.spark.sql.connector.catalog.SupportsRead)
                    inner).newScanBuilder(options);
        }

        @Override
        public org.apache.spark.sql.connector.write.WriteBuilder newWriteBuilder(
                org.apache.spark.sql.connector.write.LogicalWriteInfo info) {
            return ((org.apache.spark.sql.connector.catalog.SupportsWrite)
                    inner).newWriteBuilder(info);
        }
    }

    // ------------------------------------------------------------------
    // procedures: Spark 4's native `CALL <cat>.sys.<proc>(...)` surface
    // (ProcedureCatalog). The reference parses CALL with its own ANTLR
    // extension (PaimonSqlExtensions.g4 + SparkProcedures.java:59-72);
    // Spark 4 ships the grammar, so this catalog only has to expose the
    // procedures — each call crosses the bridge into the Python
    // dispatcher (procedures.call), which owns the registry, argument
    // semantics and the library APIs. bind() mirrors whatever argument
    // shape Spark derived from the statement (named args carry BY_NAME
    // metadata; positionals arrive as param0..N and are matched to the
    // Python function's declared parameter order).

    @Override
    public org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
            loadProcedure(Identifier ident) {
        // unknown names fail at call time with the Python registry's
        // error (which lists the known procedures)
        String ns = String.join(".", ident.namespace());
        if (!ns.isEmpty() && !"sys".equalsIgnoreCase(ns)) {
            throw new RuntimeException(
                    "procedures live in the sys namespace: CALL "
                            + name + ".sys." + ident.name() + "(...)");
        }
        return new PyProcedure(ident.name(), name, warehouse);
    }

    @Override
    public Identifier[] listProcedures(String[] namespace) {
        String ns = String.join(".", namespace);
        if (!ns.isEmpty() && !"sys".equalsIgnoreCase(ns)) {
            return new Identifier[0];
        }
        Object res = PaimonPyBridge.call("list_procedures");
        List<Identifier> out = new ArrayList<>();
        try {
            JsonNode arr = new ObjectMapper().readTree(String.valueOf(res));
            for (JsonNode n : arr) {
                out.add(Identifier.of(new String[] {"sys"}, n.asText()));
            }
        } catch (java.io.IOException e) {
            throw new RuntimeException(e);
        }
        return out.toArray(new Identifier[0]);
    }

    private static final class PyProcedure
            implements org.apache.spark.sql.connector.catalog.procedures
                    .UnboundProcedure {

        private final String proc;
        private final String catalogName;
        private final String warehouse;

        PyProcedure(String proc, String catalogName, String warehouse) {
            this.proc = proc;
            this.catalogName = catalogName;
            this.warehouse = warehouse;
        }

        @Override
        public String name() {
            return proc;
        }

        @Override
        public String description() {
            return "paimon procedure sys." + proc
                    + " (python engine: procedures.py)";
        }

        @Override
        public org.apache.spark.sql.connector.catalog.procedures.BoundProcedure
                bind(StructType inputType) {
            return new BoundPyProcedure(this, inputType);
        }
    }

    private static final class BoundPyProcedure
            implements org.apache.spark.sql.connector.catalog.procedures
                    .BoundProcedure {

        private final PyProcedure unbound;
        private final StructType input;

        BoundPyProcedure(PyProcedure unbound, StructType input) {
            this.unbound = unbound;
            this.input = input;
        }

        @Override
        public String name() {
            return unbound.name();
        }

        @Override
        public String description() {
            return unbound.description();
        }

        @Override
        public boolean isDeterministic() {
            return false; // maintenance procedures mutate table state
        }

        @Override
        public org.apache.spark.sql.connector.catalog.procedures
                .ProcedureParameter[] parameters() {
            org.apache.spark.sql.types.StructField[] fs = input.fields();
            org.apache.spark.sql.connector.catalog.procedures
                    .ProcedureParameter[] ps =
                    new org.apache.spark.sql.connector.catalog.procedures
                            .ProcedureParameter[fs.length];
            for (int i = 0; i < fs.length; i++) {
                ps[i] = org.apache.spark.sql.connector.catalog.procedures
                        .ProcedureParameter.in(fs[i].name(),
                                fs[i].dataType()).build();
            }
            return ps;
        }

        @Override
        public java.util.Iterator<org.apache.spark.sql.connector.read.Scan>
                call(org.apache.spark.sql.catalyst.InternalRow args) {
            ObjectMapper om = new ObjectMapper();
            com.fasterxml.jackson.databind.node.ObjectNode payload =
                    om.createObjectNode();
            payload.put("name", unbound.name());
            com.fasterxml.jackson.databind.node.ArrayNode arr =
                    om.createArrayNode();
            org.apache.spark.sql.types.StructField[] fs = input.fields();
            for (int i = 0; i < fs.length; i++) {
                com.fasterxml.jackson.databind.node.ObjectNode a =
                        om.createObjectNode();
                a.put("name", fs[i].name());
                a.put("by_name", fs[i].metadata().contains("BY_NAME"));
                if (args.isNullAt(i)) {
                    a.putNull("v");
                } else {
                    org.apache.spark.sql.types.DataType dt =
                            fs[i].dataType();
                    Object v = args.get(i, dt);
                    if (dt instanceof org.apache.spark.sql.types.StringType) {
                        a.put("v", v.toString());
                    } else if (v instanceof Boolean) {
                        a.put("v", (Boolean) v);
                    } else if (v instanceof Byte || v instanceof Short
                            || v instanceof Integer || v instanceof Long) {
                        a.put("v", ((Number) v).longValue());
                    } else if (v instanceof Float || v instanceof Double) {
                        a.put("v", ((Number) v).doubleValue());
                    } else if (v instanceof
                            org.apache.spark.sql.types.Decimal) {
                        a.put("v", ((org.apache.spark.sql.types.Decimal) v)
                                .toJavaBigDecimal().toPlainString());
                    } else {
                        a.put("v", String.valueOf(v));
                    }
                }
                arr.add(a);
            }
            payload.set("args", arr);
            Object res = PaimonPyBridge.call("call_procedure",
                    payload.toString(), unbound.catalogName,
                    unbound.warehouse, SparkSession.active());
            final org.apache.spark.sql.catalyst.InternalRow[] rows =
                    parseRows(String.valueOf(res));
            org.apache.spark.sql.connector.read.Scan scan =
                    new org.apache.spark.sql.connector.read.LocalScan() {
                        @Override
                        public org.apache.spark.sql.catalyst.InternalRow[]
                                rows() {
                            return rows;
                        }

                        @Override
                        public StructType readSchema() {
                            return CALL_OUTPUT;
                        }
                    };
            return Collections.singletonList(scan).iterator();
        }

        private static final StructType CALL_OUTPUT = new StructType(
                new org.apache.spark.sql.types.StructField[] {
                        org.apache.spark.sql.types.DataTypes
                                .createStructField(
                                        "result",
                                        org.apache.spark.sql.types.DataTypes
                                                .StringType,
                                        false)});

        private static org.apache.spark.sql.catalyst.InternalRow[] parseRows(
                String json) {
            try {
                JsonNode arr = new ObjectMapper().readTree(json);
                org.apache.spark.sql.catalyst.InternalRow[] rows =
                        new org.apache.spark.sql.catalyst
                                .InternalRow[arr.size()];
                for (int i = 0; i < arr.size(); i++) {
                    rows[i] = new org.apache.spark.sql.catalyst.expressions
                            .GenericInternalRow(new Object[] {
                                    org.apache.spark.unsafe.types.UTF8String
                                            .fromString(
                                                    arr.get(i).get(0)
                                                            .asText())});
                }
                return rows;
            } catch (java.io.IOException e) {
                throw new RuntimeException(e);
            }
        }
    }

    // ------------------------------------------------------------------
    // namespaces
    @Override
    public String[][] listNamespaces() {
        List<String[]> out = new ArrayList<>();
        File[] children = new File(warehouse).listFiles();
        if (children != null) {
            for (File c : children) {
                if (c.isDirectory() && c.getName().endsWith(".db")) {
                    String db = c.getName();
                    out.add(new String[] {db.substring(0, db.length() - 3)});
                }
            }
        }
        Collections.sort(out, (a, b) -> a[0].compareTo(b[0]));
        return out.toArray(new String[0][]);
    }

    @Override
    public String[][] listNamespaces(String[] namespace)
            throws NoSuchNamespaceException {
        if (namespace.length == 0) {
            return listNamespaces();
        }
        if (namespaceExists(namespace)) {
            return new String[0][];
        }
        throw new NoSuchNamespaceException(namespace);
    }

    @Override
    public boolean namespaceExists(String[] namespace) {
        return namespace.length == 1 && dbDir(namespace[0]).isDirectory();
    }

    @Override
    public Map<String, String> loadNamespaceMetadata(String[] namespace)
            throws NoSuchNamespaceException {
        if (!namespaceExists(namespace)) {
            throw new NoSuchNamespaceException(namespace);
        }
        return Collections.emptyMap();
    }

    @Override
    public void createNamespace(String[] namespace, Map<String, String> metadata)
            throws NamespaceAlreadyExistsException {
        if (namespace.length != 1) {
            throw new UnsupportedOperationException(
                    "only single-level namespaces are supported");
        }
        if (namespaceExists(namespace)) {
            throw new NamespaceAlreadyExistsException(namespace);
        }
        PaimonPyBridge.call("create_namespace", warehouse, namespace[0]);
    }

    @Override
    public void alterNamespace(String[] namespace, NamespaceChange... changes)
            throws NoSuchNamespaceException {
        throw pythonDdl("ALTER NAMESPACE");
    }

    @Override
    public boolean dropNamespace(String[] namespace, boolean cascade)
            throws NoSuchNamespaceException, NonEmptyNamespaceException {
        if (!namespaceExists(namespace)) {
            throw new NoSuchNamespaceException(namespace);
        }
        if (listTables(namespace).length > 0 && !cascade) {
            throw new NonEmptyNamespaceException(namespace);
        }
        PaimonPyBridge.call("drop_namespace", warehouse, namespace[0],
                cascade);
        return true;
    }
}
