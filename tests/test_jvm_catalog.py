"""Native Spark SQL catalog (jvm_catalog.py + jvm/PaimonSparkCatalog.java
— SparkCatalog.java:61 surface parity): catalog-qualified SQL with no
attach()/view step, resolved through the Python DataSource engine."""

import shutil

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.skipif(shutil.which("javac") is None,
                                reason="needs a JDK compiler")


@pytest.fixture(scope="module")
def sqlcat(spark, tmp_path_factory):
    import tempfile

    from incubator_paimon_spark import Catalog
    from incubator_paimon_spark.jvm_catalog import install_sql_catalog
    wh = tempfile.mkdtemp(prefix="pmn_jvmcat_wh_")
    cat = Catalog(wh)
    install_sql_catalog(spark, "pa", wh)
    yield cat
    shutil.rmtree(wh, ignore_errors=True)


def test_sql_catalog_merged_reads_and_listing(spark, sqlcat, customer):
    t = sqlcat.create_table("db.cust", customer.schema,
                            primary_keys=["c_custkey"],
                            options={"bucket": "2"})
    t.write(spark, customer)
    t.write(spark, customer.limit(25).withColumn("c_acctbal", F.lit(5.5)))

    # merge-on-read through plain catalog-qualified SQL
    n = spark.sql("SELECT count(*) n FROM pa.db.cust").collect()[0].n
    assert n == customer.count()
    upd = spark.sql(
        "SELECT count(*) n FROM pa.db.cust WHERE c_acctbal = 5.5"
    ).collect()[0].n
    assert upd == 25

    # joins against non-catalog relations
    customer.limit(10).select("c_custkey").createOrReplaceTempView("probe")
    j = spark.sql("SELECT count(*) n FROM pa.db.cust c JOIN probe p "
                  "ON c.c_custkey = p.c_custkey").collect()[0].n
    assert j == 10

    assert [r.tableName for r in
            spark.sql("SHOW TABLES IN pa.db").collect()] == ["cust"]
    assert ["db"] == [r.namespace for r in
                      spark.sql("SHOW NAMESPACES IN pa").collect()]


def test_sql_catalog_time_travel(spark, sqlcat, customer):
    import time

    t = sqlcat.create_table("db.tt", customer.select("c_custkey").schema)
    t.write(spark, customer.select("c_custkey").limit(10))
    time.sleep(1.1)  # TIMESTAMP AS OF +0.5s must land between snapshots
    t.write(spark, customer.select("c_custkey").limit(20))
    t.create_tag("v1", snapshot_id=1)

    assert spark.sql("SELECT count(*) n FROM pa.db.tt").collect()[0].n == 30
    assert spark.sql("SELECT count(*) n FROM pa.db.tt VERSION AS OF 1"
                     ).collect()[0].n == 10
    assert spark.sql("SELECT count(*) n FROM pa.db.tt VERSION AS OF 'v1'"
                     ).collect()[0].n == 10
    ts = t.snapshots.read(1).time_millis
    got = spark.sql(
        f"SELECT count(*) n FROM pa.db.tt TIMESTAMP AS OF "
        f"{ts / 1000.0 + 0.5}").collect()[0].n
    assert got == 10


def test_sql_catalog_insert_and_ddl_guard(spark, sqlcat, customer):
    t = sqlcat.create_table("db.w", customer.select("c_custkey",
                                                    "c_name").schema)
    t.write(spark, customer.select("c_custkey", "c_name").limit(5))
    # writes route through the Python DataSource writer
    spark.sql("INSERT INTO pa.db.w VALUES (111111, 'via-sql')")
    assert spark.sql("SELECT count(*) n FROM pa.db.w").collect()[0].n == 6
    assert sqlcat.get_table("db.w").read(spark) \
                 .filter("c_name = 'via-sql'").count() == 1

    # r13: DROP TABLE is native DDL now — the dir is gone afterwards
    spark.sql("DROP TABLE pa.db.w")
    with pytest.raises(Exception):
        sqlcat.get_table("db.w")
    # missing table/namespace resolve to the right errors
    with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND|cannot be found"):
        spark.sql("SELECT * FROM pa.db.nope").collect()


def test_sql_catalog_streaming_follows_commits(spark, sqlcat, customer):
    """readStream.table('pa.db.t') streams commits made AFTER the
    stream initializes (initial offset = latest; scan.mode control
    stays on format('paimon'), whose options construct the source)."""
    import tempfile
    import time

    t = sqlcat.create_table("db.st", customer.select("c_custkey").schema)
    t.write(spark, customer.select("c_custkey").limit(10))
    chk = tempfile.mkdtemp(prefix="pmn_jvmcat_chk_")
    q = (spark.readStream.table("pa.db.st")
         .writeStream.format("memory").queryName("jc_stream")
         .option("checkpointLocation", chk)
         .trigger(processingTime="500 milliseconds").start())
    try:
        time.sleep(6)  # let the stream pin its initial (latest) offset
        t.write(spark, customer.select("c_custkey").limit(4))
        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) n FROM jc_stream").collect()[0].n
            if n >= 4:
                break
            time.sleep(1)
        assert q.exception() is None
        assert n == 4
    finally:
        q.stop()
        shutil.rmtree(chk, ignore_errors=True)


def test_sql_catalog_branch_suffix(spark, sqlcat, customer):
    """`pa.db.`t$branch_x`` reads a branch's own state through the SQL
    catalog (branches are copy-on-write table dirs under
    <table>/branch/<name> — the reference's $branch_ suffix)."""
    t = sqlcat.create_table("db.br", customer.select("c_custkey").schema)
    t.write(spark, customer.select("c_custkey").limit(10))
    t.create_branch("dev")
    b = t.branch_table("dev")
    b.write(spark, customer.select("c_custkey").limit(30))
    assert spark.sql("SELECT count(*) n FROM pa.db.br").collect()[0].n == 10
    assert spark.sql("SELECT count(*) n FROM pa.db.`br$branch_dev`"
                     ).collect()[0].n == 40


def test_sql_insert_into_pk_table(spark, sqlcat, customer):
    """SQL INSERT INTO a fixed-bucket PK table through the catalog: the
    BucketedWrite requests clustering by the bucket keys with exactly
    `bucket` partitions (PaimonSparkWriter.scala:322-325 parity), so each
    task emits ONE level-0 file per bucket and merge-on-read returns the
    upserted state."""
    import pandas as pd
    from pyspark.sql import functions as F

    t = sqlcat.create_table("db.ins_pk", customer.schema,
                            primary_keys=["c_custkey"],
                            options={"bucket": "4"})
    customer.createOrReplaceTempView("ins_src")
    cols = ", ".join(customer.columns)
    upd_cols = ", ".join("c_acctbal + 100 AS c_acctbal" if c == "c_acctbal"
                         else c for c in customer.columns)
    spark.sql(f"INSERT INTO pa.db.ins_pk SELECT {cols} FROM ins_src")
    spark.sql(f"INSERT INTO pa.db.ins_pk SELECT {upd_cols} FROM ins_src "
              "WHERE c_custkey % 10 = 0")

    # one file per bucket per commit: 4 buckets x 2 commits
    files = [r.file_path for r in t.system(spark, "files").collect()]
    assert len(files) == 8
    assert {f.split("/")[0] for f in files} == {
        f"bucket-{b}" for b in range(4)}

    # merged state == the Table.write reference result
    from incubator_paimon_spark import Catalog
    import tempfile
    wh2 = tempfile.mkdtemp(prefix="pmn_insref_")
    try:
        t2 = Catalog(wh2).create_table(
            "db.ref", customer.schema, primary_keys=["c_custkey"],
            options={"bucket": "4"})
        t2.write(spark, customer)
        t2.write(spark, customer.filter("c_custkey % 10 = 0")
                 .withColumn("c_acctbal", F.col("c_acctbal") + 100))
        a = (spark.sql("SELECT * FROM pa.db.ins_pk").toPandas()
             .sort_values("c_custkey").reset_index(drop=True))
        b = (t2.read(spark).toPandas()
             .sort_values("c_custkey").reset_index(drop=True))
        pd.testing.assert_frame_equal(a[sorted(a.columns)],
                                      b[sorted(b.columns)])
    finally:
        shutil.rmtree(wh2, ignore_errors=True)


def test_sql_insert_overwrite_pk(spark, sqlcat, customer):
    t = sqlcat.create_table("db.ow_pk", customer.schema,
                            primary_keys=["c_custkey"],
                            options={"bucket": "2"})
    customer.createOrReplaceTempView("ow_src")
    spark.sql("INSERT INTO pa.db.ow_pk SELECT * FROM ow_src")
    spark.sql("INSERT OVERWRITE pa.db.ow_pk SELECT * FROM ow_src "
              "WHERE c_custkey <= 50")
    n = spark.sql("SELECT count(*) n FROM pa.db.ow_pk").collect()[0].n
    assert n == customer.filter("c_custkey <= 50").count()


def test_sql_insert_partitioned_pk(spark, sqlcat, orders):
    """Partitioned PK table: files land under <part>/bucket-<n>/ and the
    upsert merges within each (partition, bucket)."""
    t = sqlcat.create_table(
        "db.ins_part", orders.schema,
        partition_keys=["o_orderstatus"],
        primary_keys=["o_orderstatus", "o_orderkey"],
        options={"bucket": "2"})
    orders.createOrReplaceTempView("ins_osrc")
    cols = ", ".join(orders.columns)
    spark.sql(f"INSERT INTO pa.db.ins_part SELECT {cols} FROM ins_osrc")
    n = spark.sql("SELECT count(*) n FROM pa.db.ins_part").collect()[0].n
    assert n == orders.count()
    files = [r.file_path for r in t.system(spark, "files").collect()]
    assert all("/bucket-" in f and f.split("=", 1)[0] == "o_orderstatus"
               for f in files)


def test_sql_insert_dynamic_bucket(spark, sqlcat, customer):
    """r13: SQL INSERT INTO a DYNAMIC-bucket PK table works — tasks
    stage raw rows and the commit feeds them through Table.write's own
    HASH_DYNAMIC assigner (index joins + index-dir commit), so mixed
    SQL/Table.write writers route every key to one bucket."""
    t = sqlcat.create_table("db.ins_dyn", customer.schema,
                            primary_keys=["c_custkey"])
    customer.createOrReplaceTempView("dyn_src")
    spark.sql("INSERT INTO pa.db.ins_dyn SELECT * FROM dyn_src")
    cols = ", ".join("'D' AS c_name" if c == "c_name" else c
                     for c in customer.columns)
    spark.sql(f"INSERT INTO pa.db.ins_dyn SELECT {cols} FROM dyn_src "
              "WHERE c_custkey % 6 = 0")
    n = spark.sql("SELECT count(*) n FROM pa.db.ins_dyn").collect()[0].n
    d = spark.sql("SELECT count(*) n FROM pa.db.ins_dyn "
                  "WHERE c_name = 'D'").collect()[0].n
    assert n == customer.count()
    assert d == customer.filter("c_custkey % 6 = 0").count()
    # a follow-up Table.write upsert stays key-consistent
    from pyspark.sql import functions as F
    t.write(spark, customer.filter("c_custkey % 6 = 0")
            .withColumn("c_name", F.lit("E")))
    assert t.read(spark).count() == customer.count()


def test_sql_ddl_roundtrip(spark, sqlcat):
    """CREATE NAMESPACE / CREATE TABLE (PK + partitioned) / INSERT /
    ALTER ADD-RENAME-DROP COLUMN + SET TBLPROPERTIES / CTAS / RENAME /
    DROP — all in pure spark.sql. The catalog delegates every DDL
    statement to the Python Catalog / SchemaManager over the bridge, so
    SQL DDL applies the Python API's rules and the engine serves every
    read/write."""
    spark.sql("CREATE NAMESPACE pa.ddl")
    spark.sql("CREATE TABLE pa.ddl.t (id BIGINT, name STRING, region INT) "
              "PARTITIONED BY (region) "
              "TBLPROPERTIES ('primary-key'='region,id', 'bucket'='2')")
    spark.sql("INSERT INTO pa.ddl.t VALUES (1,'a',10), (2,'b',20), "
              "(1,'a2',10)")
    assert spark.sql("SELECT count(*) n FROM pa.ddl.t").collect()[0].n == 2

    # the python engine sees the identical schema contract
    t = sqlcat.get_table("ddl.t")
    assert t.schema.primary_keys == ["region", "id"]
    assert t.schema.partition_keys == ["region"]
    assert not t.schema.field_by_name("id").nullable
    assert t.schema.core_options.bucket == 2

    # evolution: add column -> old files null-fill, new files carry it
    spark.sql("ALTER TABLE pa.ddl.t ADD COLUMN note STRING")
    spark.sql("INSERT INTO pa.ddl.t VALUES (3,'c',10,'hi')")
    got = {r.id: r.note
           for r in spark.sql("SELECT id, note FROM pa.ddl.t").collect()}
    assert got == {1: None, 2: None, 3: "hi"}
    spark.sql("ALTER TABLE pa.ddl.t RENAME COLUMN note TO remark")
    assert "remark" in sqlcat.get_table("ddl.t").schema.field_names()
    spark.sql("ALTER TABLE pa.ddl.t DROP COLUMN remark")
    assert "remark" not in sqlcat.get_table("ddl.t").schema.field_names()
    spark.sql("ALTER TABLE pa.ddl.t SET TBLPROPERTIES "
              "('snapshot.expire.limit'='7')")
    assert sqlcat.get_table("ddl.t").schema.options[
        "snapshot.expire.limit"] == "7"

    # immutable options refuse (SchemaManager.checkAlterTableOption)
    with pytest.raises(Exception, match="not supported"):
        spark.sql("ALTER TABLE pa.ddl.t SET TBLPROPERTIES "
                  "('merge-engine'='aggregation')")
    # r14: widening delegates over the bridge to the Python
    # SchemaManager (the widening matrix stays single-sourced) —
    # dedicated coverage in tests/test_row_level_sql.py
    spark.sql("ALTER TABLE pa.ddl.t ALTER COLUMN region TYPE BIGINT")
    assert sqlcat.get_table("ddl.t").schema.field_by_name(
        "region").type.simpleString() == "bigint"

    spark.sql("CREATE TABLE pa.ddl.c AS SELECT id, name FROM pa.ddl.t")
    assert spark.sql("SELECT count(*) n FROM pa.ddl.c").collect()[0].n == 3
    spark.sql("ALTER TABLE pa.ddl.c RENAME TO pa.ddl.c2")
    assert sorted(r.tableName for r in
                  spark.sql("SHOW TABLES IN pa.ddl").collect()) == ["c2", "t"]
    spark.sql("DROP TABLE pa.ddl.c2")
    spark.sql("DROP NAMESPACE pa.ddl CASCADE")
    assert "ddl" not in [r.namespace for r in
                         spark.sql("SHOW NAMESPACES IN pa").collect()]


def test_sql_create_table_validations(spark, sqlcat):
    spark.sql("CREATE NAMESPACE pa.ddlv")
    # pk == only partition key refused (table.py _validate parity)
    with pytest.raises(Exception, match="partition key"):
        spark.sql("CREATE TABLE pa.ddlv.bad (id BIGINT, v STRING) "
                  "PARTITIONED BY (id) TBLPROPERTIES ('primary-key'='id')")
    # merge-engine without pk refused
    with pytest.raises(Exception, match="primary keys"):
        spark.sql("CREATE TABLE pa.ddlv.bad2 (id BIGINT) "
                  "TBLPROPERTIES ('merge-engine'='aggregation')")
    # duplicate create refused, IF NOT EXISTS tolerated
    spark.sql("CREATE TABLE pa.ddlv.ok (id BIGINT)")
    with pytest.raises(Exception, match="already exists|TABLE_OR_VIEW"):
        spark.sql("CREATE TABLE pa.ddlv.ok (id BIGINT)")
    spark.sql("CREATE TABLE IF NOT EXISTS pa.ddlv.ok (id BIGINT)")
    # a column COMMENT is the field's description (TableSchema.create)
    spark.sql("CREATE TABLE pa.ddlv.cm (id BIGINT COMMENT 'the id', v INT)")
    assert sqlcat.get_table("ddlv.cm").schema.field_by_name(
        "id").description == "the id"
    # the engine's _validate refuses a schema it could not read or write
    for props, msg in (
            ("'file.format'='csv'", "file.format"),
            ("'deletion-vectors.enabled'='true', 'file.format'='orc'",
             "deletion vectors"),
            ("'merge-engine'='bogus'", "merge-engine"),
            ("'changelog-producer'='bogus'", "changelog-producer")):
        with pytest.raises(Exception, match=msg):
            spark.sql("CREATE TABLE pa.ddlv.bad3 (id BIGINT) TBLPROPERTIES "
                      f"('primary-key'='id', {props})")
        assert "bad3" not in sqlcat.list_tables("ddlv")
    # one ALTER statement, one schema-N (SchemaManager.commit_changes)
    sid = sqlcat.get_table("ddlv.ok").schema.id
    spark.sql("ALTER TABLE pa.ddlv.ok ADD COLUMNS (x INT FIRST, y INT)")
    t = sqlcat.get_table("ddlv.ok")
    assert t.schemas.latest_id() == sid + 1
    assert t.schema.field_names() == ["x", "id", "y"]
    spark.sql("DROP NAMESPACE pa.ddlv CASCADE")


def test_generic_session_catalog_mixes_paimon_and_plain(spark, customer):
    """SparkGenericCatalog parity (SparkGenericCatalog.java:79): with
    spark_catalog set to PaimonSparkGenericCatalog, one spark.sql joins
    a Paimon PK table with a plain parquet table with NO catalog prefix;
    CREATE TABLE ... USING paimon routes to the engine, everything else
    to the built-in session catalog."""
    import tempfile

    from incubator_paimon_spark import Catalog
    from incubator_paimon_spark.datasource import register
    from incubator_paimon_spark.jvm_catalog import install_generic_catalog

    wh = tempfile.mkdtemp(prefix="pmn_gen_wh_")
    cat = Catalog(wh)
    # install_generic_catalog returns a cloned session with
    # spark_catalog swapped; the shared fixture session stays untouched
    s = install_generic_catalog(spark, wh)
    try:
        s.sql("CREATE DATABASE IF NOT EXISTS mixdb")
        # clear leftovers from a prior aborted run (managed-table
        # locations survive a crashed session)
        for t in ("np", "cust_pk", "plain_t"):
            s.sql(f"DROP TABLE IF EXISTS mixdb.{t}")
        import os
        shutil.rmtree(os.path.join("spark-warehouse", "mixdb.db"),
                      ignore_errors=True)
        s.sql("CREATE TABLE mixdb.plain_t USING parquet AS "
              "SELECT id AS c_custkey, id % 5 AS seg FROM range(0, 50)")

        t = cat.create_table("mixdb.cust_pk", customer.schema,
                             primary_keys=["c_custkey"],
                             options={"bucket": "2"})
        t.write(spark, customer)

        n = s.sql("SELECT count(*) n FROM mixdb.cust_pk c "
                  "JOIN mixdb.plain_t p ON c.c_custkey = p.c_custkey"
                  ).collect()[0].n
        assert n == customer.filter("c_custkey < 50").count()

        # paimon DDL + upsert through the unprefixed session catalog
        s.sql("CREATE TABLE mixdb.np (id BIGINT, v STRING) USING paimon "
              "TBLPROPERTIES ('primary-key'='id','bucket'='2')")
        s.sql("INSERT INTO mixdb.np VALUES (1,'a'),(1,'b'),(2,'c')")
        assert s.sql("SELECT count(*) n FROM mixdb.np").collect()[0].n == 2
        assert "np" in cat.list_tables("mixdb")

        # plain-table ops keep working through the delegate
        s.sql("INSERT INTO mixdb.plain_t VALUES (999, 9)")
        assert s.sql("SELECT count(*) n FROM mixdb.plain_t"
                     ).collect()[0].n == 51
        tabs = {r.tableName for r in
                s.sql("SHOW TABLES IN mixdb").collect()}
        assert {"plain_t", "cust_pk", "np"} <= tabs
    finally:
        s.sql("DROP TABLE IF EXISTS mixdb.np")
        s.sql("DROP TABLE IF EXISTS mixdb.cust_pk")
        s.sql("DROP TABLE IF EXISTS mixdb.plain_t")
        s.sql("DROP DATABASE IF EXISTS mixdb CASCADE")
        shutil.rmtree(wh, ignore_errors=True)


def test_sql_insert_pk_plan_shape(spark, sqlcat, customer):
    """Plan pin for the catalog's BucketedWrite: INSERT INTO a
    fixed-bucket PK table plans exactly ONE Exchange —
    hashpartitioning(bucket_key, bucket) with REPARTITION_BY_NUM (Spark's
    HashPartitioning IS the engine's pmod(murmur3, n) bucket function) —
    plus a task-local Sort, and nothing else between scan and
    AppendData."""
    sqlcat.create_table("db.pin_pk", customer.schema,
                        primary_keys=["c_custkey"],
                        options={"bucket": "4"})
    customer.createOrReplaceTempView("pin_src")
    plan = spark.sql("EXPLAIN FORMATTED INSERT INTO pa.db.pin_pk "
                     "SELECT * FROM pin_src").collect()[0][0]
    assert "hashpartitioning(c_custkey" in plan and ", 4)" in plan
    assert "REPARTITION_BY_NUM" in plan
    assert plan.count("Exchange") >= 1
    # one exchange only: the write requests clustering, nothing reshuffles
    assert plan.split("(3) Exchange")[0].count("Exchange") <= 1
    assert "Sort" in plan
    assert "BucketedWrite" in plan


def test_sql_insert_overwrite_partition_modes(spark, sqlcat, orders):
    """r13: the catalog's write builder implements SupportsOverwrite /
    SupportsDynamicOverwrite — `INSERT OVERWRITE ... PARTITION (k=v)`
    replaces exactly that partition (spec rides in the write options,
    decoded with the table's column types), and a spec-less OVERWRITE of
    a partitioned table is DYNAMIC by default (CoreOptions parity)."""
    t = sqlcat.create_table("db.owp", orders.schema,
                            partition_keys=["o_orderstatus"])
    orders.createOrReplaceTempView("ow_src")
    cols = ", ".join(orders.columns)
    data_cols = ", ".join(c for c in orders.columns
                          if c != "o_orderstatus")
    spark.sql(f"INSERT INTO pa.db.owp SELECT {cols} FROM ow_src")
    by = lambda: {r.s: r.n for r in spark.sql(
        "SELECT o_orderstatus s, count(*) n FROM pa.db.owp GROUP BY 1"
    ).collect()}
    t0 = by()

    spark.sql(f"INSERT OVERWRITE pa.db.owp PARTITION (o_orderstatus='F') "
              f"SELECT {data_cols} FROM ow_src "
              "WHERE o_orderstatus = 'F' LIMIT 5")
    t1 = by()
    assert t1["F"] == 5 and t1["O"] == t0["O"] and t1["P"] == t0["P"]

    spark.sql(f"INSERT OVERWRITE pa.db.owp SELECT {cols} FROM ow_src "
              "WHERE o_orderstatus = 'O' LIMIT 7")
    t2 = by()
    assert t2 == {"F": 5, "O": 7, "P": t0["P"]}, t2


def test_sql_catalog_reads_track_commits(spark, sqlcat, customer):
    """Freshness pin for the loadTable cache: repeated IDENTICAL SQL
    must reflect every commit (the cache key carries the snapshot stamp
    because Spark's python-source object memoizes its planned read)."""
    t = sqlcat.create_table("db.fresh", customer.select("c_custkey").schema)
    q = "SELECT count(*) n FROM pa.db.fresh"
    t.write(spark, customer.select("c_custkey").limit(10))
    assert spark.sql(q).collect()[0].n == 10
    t.write(spark, customer.select("c_custkey").limit(5))
    assert spark.sql(q).collect()[0].n == 15
    spark.sql("INSERT INTO pa.db.fresh VALUES (999999)")
    assert spark.sql(q).collect()[0].n == 16


def test_sql_create_or_replace_and_save_as_table(spark, sqlcat, customer):
    """r13 StagingTableCatalog: CREATE OR REPLACE TABLE ... AS SELECT,
    df.writeTo(...).createOrReplace(), and saveAsTable(mode='overwrite')
    all work on the named catalog (non-atomic staging — create/replace
    at stage time, abort drops; the reference's SparkCatalog implements
    no staging at all)."""
    spark.sql("CREATE NAMESPACE IF NOT EXISTS pa.stg")
    customer.createOrReplaceTempView("stg_src")

    spark.sql("CREATE OR REPLACE TABLE pa.stg.cr AS "
              "SELECT c_custkey, c_name FROM stg_src")
    assert spark.sql("SELECT count(*) n FROM pa.stg.cr"
                     ).collect()[0].n == customer.count()
    spark.sql("CREATE OR REPLACE TABLE pa.stg.cr AS "
              "SELECT c_custkey FROM stg_src WHERE c_custkey < 10")
    assert spark.sql("SELECT count(*) n FROM pa.stg.cr"
                     ).collect()[0].n == customer.filter(
                         "c_custkey < 10").count()
    assert sqlcat.get_table("stg.cr").schema.field_names() == ["c_custkey"]

    customer.select("c_custkey").writeTo("pa.stg.wt").createOrReplace()
    customer.select("c_custkey").limit(3).writeTo("pa.stg.wt") \
        .createOrReplace()
    assert spark.sql("SELECT count(*) n FROM pa.stg.wt").collect()[0].n == 3

    (customer.select("c_custkey", "c_name").write.format("paimon")
     .mode("overwrite").saveAsTable("pa.stg.sat"))
    (customer.select("c_custkey", "c_name").limit(7).write.format("paimon")
     .mode("overwrite").saveAsTable("pa.stg.sat"))
    assert spark.sql("SELECT count(*) n FROM pa.stg.sat").collect()[0].n == 7

    # RTAS carries TBLPROPERTIES: a PK table via CREATE OR REPLACE
    spark.sql("CREATE OR REPLACE TABLE pa.stg.pkr "
              "TBLPROPERTIES ('primary-key'='c_custkey','bucket'='2') AS "
              "SELECT c_custkey, c_name FROM stg_src")
    assert sqlcat.get_table("stg.pkr").schema.primary_keys == ["c_custkey"]
    spark.sql("DROP NAMESPACE pa.stg CASCADE")


def test_sql_insert_string_bucket_key_prunes_exactly(spark, sqlcat):
    """e2e write/read contract for a STRING bucket key (the per-row
    hash_bytes lane): rows SQL-INSERTed through the catalog's clustered
    write must land in the bucket the read-side pruner computes — a
    divergence makes PK-equality reads skip the row's bucket entirely."""
    from incubator_paimon_spark import P

    spark.sql("CREATE NAMESPACE pa.mmk")
    spark.sql("CREATE TABLE pa.mmk.s (k string, v int) "
              "TBLPROPERTIES ('primary-key'='k', 'bucket'='8')")
    keys = ["", "a", "ab", "abc", "abcd", "日本語テキスト", "naïve café",
            "x" * 37, "key-%d"] + [f"key-{i}" for i in range(40)]
    keys = sorted(set(keys))
    spark.sql("INSERT INTO pa.mmk.s " + " UNION ALL ".join(
        f"SELECT '{k}' AS k, {i} AS v" for i, k in enumerate(keys)
        if "'" not in k))
    t = sqlcat.get_table("mmk.s")
    all_entries = t.new_scan().plan().entries
    assert len({e.bucket for e in all_entries}) > 1
    for i, k in enumerate(keys):
        if "'" in k:
            continue
        plan = t.new_scan().plan(P.eq("k", k))
        assert len({e.bucket for e in plan.entries}) == 1, k
        assert len(plan.entries) < len(all_entries)
        got = spark.sql(
            "SELECT v FROM pa.mmk.s WHERE k = '%s'" % k).collect()
        assert [r.v for r in got] == [i], k


def test_sql_insert_timestamp_bucket_key_reads_back(spark, sqlcat):
    """e2e for a TIMESTAMP bucket key (the vectorized long lane over epoch
    micros): every SQL-INSERTed row must be found again under PK equality
    (the scalar pruner skips pruning for timestamps, so this pins routing
    + merge correctness, not pruning)."""
    spark.sql("CREATE TABLE pa.mmk.t (ts timestamp, v int) "
              "TBLPROPERTIES ('primary-key'='ts', 'bucket'='4')")
    spark.sql("INSERT INTO pa.mmk.t SELECT "
              "timestampadd(SECOND, id * 40000, timestamp'2021-01-02 03:04:05.123456'), "
              "cast(id as int) FROM range(0, 50)")
    # upsert half the keys through SQL again: merge must pair them
    spark.sql("INSERT INTO pa.mmk.t SELECT "
              "timestampadd(SECOND, id * 40000, timestamp'2021-01-02 03:04:05.123456'), "
              "cast(id + 1000 as int) FROM range(0, 50, 2)")
    rows = spark.sql("SELECT v FROM pa.mmk.t ORDER BY ts").collect()
    assert [r.v for r in rows] == [i + 1000 if i % 2 == 0 else i
                                   for i in range(50)]
    one = spark.sql(
        "SELECT v FROM pa.mmk.t WHERE ts = "
        "timestampadd(SECOND, 7 * 40000, timestamp'2021-01-02 03:04:05.123456')"
    ).collect()
    assert [r.v for r in one] == [7]
    t = sqlcat.get_table("mmk.t")
    files = [r.file_path for r in t.system(spark, "files").collect()]
    assert {f.split("/")[0] for f in files} >= {"bucket-0", "bucket-1"}
    spark.sql("DROP NAMESPACE pa.mmk CASCADE")


def test_sql_system_tables_through_catalog(spark, sqlcat, customer):
    """r14: `SELECT * FROM <cat>.db.`t$<sys>`` serves the Python
    engine's system tables through the native catalog (the bridge
    returns the live Dataset; the catalog wraps it as a DSv2 scan), and
    commits rotate the cache so the rows stay fresh."""
    t = sqlcat.create_table("db.sysx", customer.schema,
                            primary_keys=["c_custkey"],
                            options={"bucket": "2"})
    t.write(spark, customer)
    t.write(spark, customer.limit(20))

    snaps = spark.sql("SELECT snapshot_id, commit_kind FROM "
                      "pa.db.`sysx$snapshots` ORDER BY snapshot_id"
                      ).collect()
    assert [(r.snapshot_id, r.commit_kind) for r in snaps] == \
        [(1, "APPEND"), (2, "APPEND")]
    nfiles = spark.sql("SELECT count(*) n FROM pa.db.`sysx$files`"
                       ).collect()[0].n
    assert nfiles == len(t.entries_at())
    opts = {r.key: r.value for r in
            spark.sql("SELECT * FROM pa.db.`sysx$options`").collect()}
    assert opts == {"bucket": "2"}
    # joins with data tables in ONE statement
    j = spark.sql(
        "SELECT count(*) n FROM pa.db.sysx x "
        "JOIN pa.db.`sysx$snapshots` s ON s.snapshot_id = 2"
    ).collect()[0].n
    assert j == customer.count()
    # freshness: new commit -> new snapshot row (cache keyed by stamp)
    t.write(spark, customer.limit(5))
    assert spark.sql("SELECT count(*) n FROM pa.db.`sysx$snapshots`"
                     ).collect()[0].n == 3
    # audit_log carries row kinds
    kinds = {r._row_kind for r in spark.sql(
        "SELECT DISTINCT _row_kind FROM pa.db.`sysx$audit_log`").collect()}
    assert "+I" in kinds
    # catalog-scope system table under the sys namespace
    rows = spark.sql("SELECT * FROM pa.sys.all_table_options "
                     "WHERE table_name = 'sysx'").collect()
    assert any(r.key == "bucket" and r.value == "2" for r in rows)
    # unknown system suffix -> Spark's own TABLE_OR_VIEW_NOT_FOUND
    with pytest.raises(Exception, match="cannot be found|NOT_FOUND"):
        spark.sql("SELECT * FROM pa.db.`sysx$nope`").collect()


def test_write_stream_to_table_via_catalog(spark, sqlcat):
    """r14 pin: `writeStream.toTable("pa.db.t")` routes the streaming
    write through the catalog's write builder into the engine's
    exactly-once streaming sink (PK merge across micro-batch commits)."""
    import tempfile
    import time

    from pyspark.sql import types as T
    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("v", T.LongType())])
    t = sqlcat.create_table("db.wst", sch, primary_keys=["k"],
                            options={"bucket": "2"})
    chk = tempfile.mkdtemp(prefix="pmn_jvmcat_wst_")
    src = (spark.readStream.format("rate").option("rowsPerSecond", 50)
           .load().selectExpr("value % 20 AS k", "value AS v"))
    q = (src.writeStream.option("checkpointLocation", chk)
         .trigger(processingTime="500 milliseconds").outputMode("append")
         .toTable("pa.db.wst"))
    try:
        deadline, n = time.time() + 60, 0
        while time.time() < deadline:
            time.sleep(2)
            assert q.exception() is None
            n = spark.sql("SELECT count(*) n FROM pa.db.wst"
                          ).collect()[0].n
            if n >= 20:
                break
        assert n == 20  # 20 distinct keys, PK-merged across commits
        assert t.snapshots.latest_id() >= 1
    finally:
        q.stop()
        shutil.rmtree(chk, ignore_errors=True)


def test_sql_show_and_drop_partition(spark, sqlcat, orders):
    """r14 (PaimonPartitionManagement.scala parity): SHOW PARTITIONS
    lists live manifest partitions, ALTER TABLE DROP PARTITION commits
    the engine's partition drop, ADD PARTITION refuses (partitions are
    defined by data files)."""
    t = sqlcat.create_table("db.pm", orders.schema,
                            partition_keys=["o_orderstatus"])
    t.write(spark, orders)
    stats = sorted(r.o_orderstatus for r in
                   orders.select("o_orderstatus").distinct().collect())
    rows = sorted(r.partition for r in
                  spark.sql("SHOW PARTITIONS pa.db.pm").collect())
    assert rows == [f"o_orderstatus={s}" for s in stats]
    # prefix-filtered listing
    one = spark.sql("SHOW PARTITIONS pa.db.pm "
                    "PARTITION (o_orderstatus = 'F')").collect()
    assert [r.partition for r in one] == ["o_orderstatus=F"]

    spark.sql("ALTER TABLE pa.db.pm DROP PARTITION (o_orderstatus = 'F')")
    assert spark.sql("SELECT count(*) n FROM pa.db.pm "
                     "WHERE o_orderstatus = 'F'").collect()[0].n == 0
    n_left = spark.sql("SELECT count(*) n FROM pa.db.pm").collect()[0].n
    assert n_left == orders.filter("o_orderstatus <> 'F'").count()
    rows2 = sorted(r.partition for r in
                   spark.sql("SHOW PARTITIONS pa.db.pm").collect())
    assert rows2 == [f"o_orderstatus={s}" for s in stats if s != "F"]

    with pytest.raises(Exception, match="defined by data files"):
        spark.sql("ALTER TABLE pa.db.pm ADD PARTITION "
                  "(o_orderstatus = 'Z')")


def test_sql_catalog_filtered_then_unfiltered(spark, sqlcat):
    """r14 wrong-answer fix: pyspark's python-source read plan is a
    one-shot memo on the PythonDataSourceV2 instance (readInfo), so a
    cached catalog Table would serve one scan's PRUNED file list to
    every later scan — a filtered query poisoning the next unfiltered
    one, and a union of two filters in ONE query serving one side's
    files to both. Every scan now gets its own fresh ds instance."""
    spark.sql("CREATE NAMESPACE IF NOT EXISTS pa.mm")
    spark.sql("CREATE TABLE pa.mm.t (k int, p string) PARTITIONED BY (p)")
    spark.sql("INSERT INTO pa.mm.t VALUES (1, 'a'), (2, 'b'), (3, 'b')")
    # filtered FIRST (this is the poisoning order)
    assert spark.sql("SELECT count(*) n FROM pa.mm.t WHERE p = 'a'"
                     ).collect()[0].n == 1
    assert spark.sql("SELECT count(*) n FROM pa.mm.t").collect()[0].n == 3
    # two different filters inside ONE query
    u = spark.sql(
        "SELECT count(*) n FROM (SELECT * FROM pa.mm.t WHERE p = 'a' "
        "UNION ALL SELECT * FROM pa.mm.t WHERE p = 'b')").collect()[0].n
    assert u == 3
    # self-join with a one-sided filter
    j = spark.sql("SELECT count(*) n FROM pa.mm.t a JOIN pa.mm.t b "
                  "ON a.k = b.k WHERE a.p = 'b'").collect()[0].n
    assert j == 2
    spark.sql("DROP TABLE pa.mm.t")


def test_sql_system_table_scan_is_lazy_not_collected(spark, sqlcat,
                                                     customer):
    """r15 (r14 verdict #2): system tables served through the SQL
    catalog must plan as a REAL distributed scan (DSv2 V1Scan fallback
    over the live Dataset's RDD), not a driver-collected LocalScan —
    `SELECT ... FROM `t$files` WHERE ...` on a 10^6-file table must
    filter on executors, reference FilesTable.java:82."""
    t = sqlcat.create_table("db.lazysys", customer.schema,
                            primary_keys=["c_custkey"],
                            options={"bucket": "2"})
    t.write(spark, customer)

    df = spark.sql("SELECT file_path, record_count FROM "
                   "pa.db.`lazysys$files` WHERE record_count > 0")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan, plan
    assert "DatasetRelation" in plan, plan
    assert df.count() == len(t.entries_at())

    # aggregates over the scan stay distributed too
    agg = spark.sql("SELECT sum(record_count) s FROM pa.db.`lazysys$files`")
    aplan = agg._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in aplan, aplan
    assert agg.collect()[0].s == customer.count()

    # catalog-scope sys tables ride the same scan
    m = spark.sql("SELECT * FROM pa.sys.all_table_options "
                  "WHERE table_name = 'lazysys'")
    mplan = m._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in mplan, mplan
    assert any(r.key == "bucket" for r in m.collect())


def test_sql_drop_null_partition(spark, sqlcat):
    """r15 (r14 advice): `ALTER TABLE ... DROP PARTITION (p = null)` —
    the JVM renders null as __HIVE_DEFAULT_PARTITION__ and the bridge
    maps it back to None so the engine's partition match fires instead
    of silently dropping nothing."""
    from pyspark.sql import types as T
    sch = T.StructType([T.StructField("k", T.IntegerType()),
                        T.StructField("p", T.StringType())])
    t = sqlcat.create_table("db.nullpart", sch, partition_keys=["p"])
    t.write(spark, spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (4, None)], sch))
    assert spark.sql("SELECT count(*) n FROM pa.db.nullpart"
                     ).collect()[0].n == 4

    spark.sql("ALTER TABLE pa.db.nullpart DROP PARTITION (p = null)")
    got = sorted(r.k for r in
                 spark.sql("SELECT k FROM pa.db.nullpart").collect())
    assert got == [1, 3], got
    # named partitions still drop fine after the null drop
    spark.sql("ALTER TABLE pa.db.nullpart DROP PARTITION (p = 'a')")
    assert [r.k for r in
            spark.sql("SELECT k FROM pa.db.nullpart").collect()] == [3]
