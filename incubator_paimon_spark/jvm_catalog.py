"""Native Spark SQL catalog: ``SELECT ... FROM <cat>.<db>.<table>``.

Closes the longest-carried limitation of a pure-Python engine: SQL over
catalog-qualified names with NO ``attach()``/temp-view step. The piece
Spark requires on the JVM is only a ``TableCatalog`` *name resolver*
(``jvm/PaimonSparkCatalog.java``): its ``loadTable`` asks the session to
build the ``format("paimon")`` relation for the table's path and returns
Spark's own connector Table unwrapped from the analyzed plan — so scans,
filter pushdown, merge-on-read, time travel (``VERSION AS OF`` snapshot
id or tag, ``TIMESTAMP AS OF``) and writes all run through exactly the
Python DataSource code path. The ENGINE stays in Python; the reference's
``SparkCatalog.java:61`` is the surface anchor.

No build system: the single Java file compiles lazily with the JDK's
``javac`` (present wherever Spark runs on a JDK) into a content-hashed
jar under the user cache, added to the LIVE session via ``ADD JAR`` —
``install_sql_catalog(spark, "pa", warehouse)`` is the whole setup.

r13 surface: writes (``INSERT INTO``/``OVERWRITE``, incl. fixed-bucket
PK tables via a clustered write distribution) and DDL (``CREATE/DROP/
RENAME TABLE``, ``CREATE/DROP NAMESPACE``, every ``ALTER TABLE`` column
and property change). The catalog delegates all DDL to the Python
engine over the bridge: one call per statement into ``Catalog`` or
``SchemaManager.commit_changes``, so SQL DDL applies exactly the rules
the Python API and ``catalog.sql`` apply.

r14 surface: row-level SQL. ``DELETE FROM`` (DSv2 ``SupportsDelete``)
plus ``CALL <cat>.sys.<proc>(...)`` (Spark 4 ``ProcedureCatalog``) work
on any session with the catalog installed — they reach the Python
engine over the ``PaimonPyBridge`` py4j callback registered here. ``UPDATE`` / ``MERGE INTO`` / subquery ``DELETE`` need
the injected analyzer rule: ``install_row_level_sql(spark)`` returns a
cloned session carrying it.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile

CATALOG_CLASS = "org.apache.paimon.pyspark.PaimonSparkCatalog"
GENERIC_CATALOG_CLASS = "org.apache.paimon.pyspark.PaimonSparkGenericCatalog"
EXTENSIONS_CLASS = "org.apache.paimon.pyspark.PaimonSqlExtensions"

_SRCS = [os.path.join(os.path.dirname(__file__), "jvm", n)
         for n in ("PaimonSparkCatalog.java",
                   "PaimonSparkGenericCatalog.java",
                   "PaimonPyBridge.java",
                   "PaimonSqlExtensions.java")]


def _spark_jars_dir() -> str:
    import pyspark
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def _cache_dir() -> str:
    """Per-user cache dir, created 0700. NOT the shared tempdir: a
    predictable name in a world-writable directory would let another
    local user pre-plant a jar that ADD JAR then loads into the JVM."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache")
    d = os.path.join(base, "paimon-pyspark")
    os.makedirs(d, mode=0o700, exist_ok=True)
    if os.stat(d).st_uid != os.getuid():
        raise RuntimeError(f"jar cache dir {d} is not owned by this user")
    return d


def ensure_jar() -> str:
    """Compile the catalog classes into a content-addressed cached jar
    (one javac run per source version per user). Raises RuntimeError
    when no JDK compiler is available."""
    h = hashlib.md5()
    for s in _SRCS:
        with open(s, "rb") as f:
            h.update(f.read())
    tag = h.hexdigest()[:12]
    cache = os.path.join(_cache_dir(), f"paimon-pyspark-catalog-{tag}.jar")
    if os.path.exists(cache):
        return cache
    javac = shutil.which("javac")
    if javac is None:
        raise RuntimeError(
            "the SQL catalog needs the JDK compiler (javac) to build its "
            "two-class jar; none found on PATH. Use catalog.attach(spark) "
            "for the view-based SQL surface instead.")
    with tempfile.TemporaryDirectory(prefix="pmn_jvmcat_") as work:
        subprocess.run(
            [javac, "-encoding", "UTF-8",
             "-cp", os.path.join(_spark_jars_dir(), "*"),
             "-d", work, *_SRCS],
            check=True, capture_output=True)
        tmp_jar = os.path.join(work, "catalog.jar")
        subprocess.run([shutil.which("jar") or "jar", "cf", tmp_jar, "org"],
                       cwd=work, check=True, capture_output=True)
        # atomic publish via a same-directory rename (os.replace across
        # filesystems would fail EXDEV now that the cache is under ~):
        # concurrent sessions racing to the same content-hashed name
        # overwrite with identical bytes
        stage = cache + f".tmp{os.getpid()}"
        shutil.copyfile(tmp_jar, stage)
        os.replace(stage, cache)
    return cache


def install_sql_catalog(spark, name: str, warehouse: str) -> str:
    """Wire ``spark.sql("... FROM <name>.<db>.<table>")`` into a LIVE
    session: register the Python data source, add the (lazily compiled)
    catalog jar, set the catalog confs, and register the JVM->Python
    engine bridge (serves DDL, SupportsDelete and CALL procedures
    without any further setup). Catalogs instantiate
    on first reference, so no session restart is needed. Returns
    `name`."""
    from .bridge import install_bridge
    from .datasource import register
    register(spark)
    jar = ensure_jar()
    spark.sql(f"ADD JAR '{jar}'")
    install_bridge(spark)
    spark.conf.set(f"spark.sql.catalog.{name}", CATALOG_CLASS)
    spark.conf.set(f"spark.sql.catalog.{name}.warehouse", warehouse)
    return name


def install_row_level_sql(spark):
    """Row-level SQL (``UPDATE`` / ``MERGE INTO`` / subquery ``DELETE``)
    against native-catalog identifiers: inject the PaimonSqlExtensions
    analyzer rule and RETURN A NEW SESSION (cloneSession) whose rebuilt
    analyzer carries it — extensions are read when a SessionState is
    built, so the calling session keeps its stock analyzer (the same
    contract as install_generic_catalog; the reference likewise requires
    ``spark.sql.extensions=...PaimonSparkSessionExtensions`` at session
    build). Plain ``DELETE FROM`` with a pushable condition needs no
    extension at all — OptionsTable implements SupportsDelete.

    Call AFTER install_sql_catalog (the clone inherits the catalog confs
    and the data-source registration)."""
    from pyspark.sql import SparkSession

    from .bridge import install_bridge
    from .datasource import register
    register(spark)
    spark.sql(f"ADD JAR '{ensure_jar()}'")
    install_bridge(spark)
    jvm = spark.sparkContext._jvm
    jvm.org.apache.paimon.pyspark.PaimonSqlExtensions.install(
        spark._jsparkSession)
    return SparkSession(spark.sparkContext,
                        spark._jsparkSession.cloneSession())


def ensure_thread_classloader(spark) -> None:
    """Call once at the top of any NEW python thread that will run SQL
    against the catalog. pyspark's pinned-thread mode gives each python
    thread its own JVM peer thread, created with the LAUNCHER context
    classloader — which cannot see ADD JAR classes, so catalog
    resolution fails with `Cannot find catalog plugin class`. The main
    thread works because executing ADD JAR set ITS context loader. This
    pins the session's jar classloader onto the calling thread's JVM
    peer (idempotent, cheap)."""
    jvm = spark.sparkContext._jvm
    cl = spark._jsparkSession.sharedState().jarClassLoader()
    jvm.java.lang.Thread.currentThread().setContextClassLoader(cl)


def install_generic_catalog(spark, warehouse: str):
    """Make ``spark_catalog`` ITSELF Paimon-aware (the reference's
    SparkGenericCatalog, ``SparkGenericCatalog.java:79``): identifiers
    under `warehouse` serve through the Paimon engine, everything else
    falls through to the built-in session catalog — one ``spark.sql``
    can mix Paimon and plain tables with NO catalog prefix.

    The session-catalog plugin is resolved when a session's
    CatalogManager first touches ``spark_catalog``, so this RETURNS A
    NEW SESSION (cloneSession of `spark`) with the confs set — the
    caller's session keeps its stock session catalog. cloneSession, not
    newSession: Spark's Python data source duplicate-check is global
    while its lookup is session-local, so a fresh session could never
    re-register format("paimon"); the clone inherits the registration
    (DataSourceManager.clone) and a fresh CatalogManager that resolves
    spark_catalog from the cloned conf."""
    from pyspark.sql import SparkSession

    from .bridge import install_bridge
    from .datasource import register
    register(spark)
    jar = ensure_jar()
    spark.sql(f"ADD JAR '{jar}'")
    install_bridge(spark)  # DDL/DELETE/CALL on warehouse tables
    s = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    s.conf.set("spark.sql.catalog.spark_catalog", GENERIC_CATALOG_CLASS)
    s.conf.set("spark.sql.catalog.spark_catalog.warehouse", warehouse)
    return s
