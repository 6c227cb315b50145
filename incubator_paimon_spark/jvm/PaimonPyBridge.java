/*
 * JVM -> Python engine bridge. The catalog's row-level SQL surface
 * (DELETE/UPDATE/MERGE INTO/CALL) and all of its DDL (CREATE/ALTER/
 * DROP/RENAME TABLE, CREATE/DROP NAMESPACE) delegate to the Python
 * engine (row_ops.py, sql.execute_sql, procedures.call, Catalog,
 * SchemaManager) instead of replicating it in Java -- the reference
 * wires the same operations through catalyst rules and its SparkCatalog
 * into its JVM core (paimon-spark/.../catalyst/analysis/
 * PaimonDeleteTable.scala, PaimonMergeIntoBase.scala, SparkCatalog.java);
 * here the core IS Python, so each operation is one callback.
 *
 * Mechanics: the owning Python session registers a py4j callback object
 * implementing java.util.function.BiFunction (a JDK interface, so py4j's
 * root classloader can build the proxy even though THIS class arrives
 * via ADD JAR). apply(verb, Object[] args) runs in the Python driver
 * process; args may carry live JVM objects (the SparkSession) that
 * Python re-wraps. Reentrancy is py4j's bread and butter: the Python
 * main thread blocks in spark.sql() while the callback thread issues
 * new Spark jobs over its own gateway connection (the same pattern
 * foreachBatch uses).
 */
package org.apache.paimon.pyspark;

import java.util.function.BiFunction;

public final class PaimonPyBridge {

    private static volatile BiFunction<Object, Object, Object> handler;

    private PaimonPyBridge() {}

    public static void set(BiFunction<Object, Object, Object> h) {
        handler = h;
    }

    public static boolean isSet() {
        return handler != null;
    }

    public static Object call(String verb, Object... args) {
        BiFunction<Object, Object, Object> h = handler;
        if (h == null) {
            throw new UnsupportedOperationException(
                    "operation '" + verb + "' is served by the Python "
                            + "engine over the session bridge, which is "
                            + "not installed — call incubator_paimon_spark"
                            + ".jvm_catalog.install_sql_catalog(spark, ...)"
                            + " from the owning Python session first");
        }
        try {
            return h.apply(verb, args);
        } catch (RuntimeException e) {
            // py4j wraps Python exceptions; surface the Python error text
            throw new RuntimeException(
                    "python engine failed on '" + verb + "': "
                            + e.getMessage(), e);
        }
    }
}
