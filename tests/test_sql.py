"""SQL DML surface (sql.py) — statement parity with the row_ops APIs,
mirroring the reference's MergeIntoTableTestBase / DeleteFromTableTestBase
/ UpdateTableTestBase SQL shapes."""

import pytest
from pyspark.sql import types as T

from incubator_paimon_spark.predicate import And, Leaf, Or
from incubator_paimon_spark.sql import SqlPredicate, where_to_predicate


def _schema(ddl):
    return T.StructType.fromDDL(ddl)


# ---------------------------------------------------------------- parser
def test_where_parser_comparisons():
    p = where_to_predicate("a = 1 AND b < 2.5 OR c IS NOT NULL")
    assert isinstance(p, Or)
    left, right = p.children
    assert isinstance(left, And)
    assert [type(x) for x in left.children] == [Leaf, Leaf]
    assert (left.children[0].op, left.children[0].field,
            left.children[0].literal) == ("eq", "a", 1)
    assert right.op == "is_not_null"


def test_where_parser_in_between_like():
    p = where_to_predicate("x IN (1, 2, 3)")
    assert p.op == "in" and p.literal == [1, 2, 3]
    p = where_to_predicate("x BETWEEN 5 AND 9")
    assert isinstance(p, And)
    p = where_to_predicate("s LIKE 'pre%'")
    assert p.op == "starts_with" and p.literal == "pre"
    p = where_to_predicate("s = 'it''s'")
    assert p.literal == "it's"


def test_where_parser_opaque_fallback():
    p = where_to_predicate("length(s) > 3")
    assert isinstance(p, SqlPredicate)
    assert p.test_stats({}) and p.test_value({})


# ---------------------------------------------------------------- DML
@pytest.fixture()
def pk_table(spark, catalog):
    t = catalog.create_table(
        "db.sqlpk", _schema("k bigint, v string, n int"),
        primary_keys=["k"], options={"bucket": "2"})
    t.write(spark, spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, v string, n int"))
    return t


def test_sql_delete_where(spark, catalog, pk_table):
    catalog.sql(spark, "DELETE FROM db.sqlpk WHERE k = 2")
    assert {r["k"] for r in pk_table.read(spark).collect()} == {1, 3}


def test_sql_delete_all_truncates(spark, catalog, pk_table):
    catalog.sql(spark, "DELETE FROM db.sqlpk")
    assert pk_table.read(spark).count() == 0


def test_sql_update(spark, catalog, pk_table):
    catalog.sql(spark,
                "UPDATE db.sqlpk SET v = upper(v), n = n + 1 WHERE k >= 2")
    got = {r["k"]: (r["v"], r["n"]) for r in pk_table.read(spark).collect()}
    assert got == {1: ("a", 10), 2: ("B", 21), 3: ("C", 31)}


def test_sql_merge_into(spark, catalog, pk_table):
    src = spark.createDataFrame(
        [(2, "b2", 200), (9, "i", 90)], "k long, v string, n int")
    src.createOrReplaceTempView("sql_merge_src")
    catalog.sql(spark, """
        MERGE INTO db.sqlpk AS tgt USING sql_merge_src AS src
        ON tgt.k = src.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    got = {r["k"]: (r["v"], r["n"]) for r in pk_table.read(spark).collect()}
    assert got == {1: ("a", 10), 2: ("b2", 200), 3: ("c", 30), 9: ("i", 90)}


def test_sql_merge_clauses(spark, catalog, pk_table):
    src = spark.createDataFrame(
        [(1, "x", 0), (2, "y", 5), (7, "new", 70)], "k long, v string, n int")
    src.createOrReplaceTempView("sql_merge_src2")
    catalog.sql(spark, """
        MERGE INTO db.sqlpk t2 USING sql_merge_src2 s2 ON t2.k = s2.k
        WHEN MATCHED AND s2.n = 0 THEN UPDATE SET v = concat(t2.v, '!'), n = s2.n
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED AND s2.n > 50 THEN INSERT (k, v, n) VALUES (s2.k, s2.v, s2.n)
    """)
    got = {r["k"]: (r["v"], r["n"]) for r in pk_table.read(spark).collect()}
    # k=1 updated (n=0 branch), k=2 deleted, k=3 untouched, k=7 inserted
    assert got == {1: ("a!", 0), 3: ("c", 30), 7: ("new", 70)}


def test_sql_merge_subquery_source_and_by_source(spark, catalog):
    t = catalog.create_table(
        "db.sqlbs", _schema("k bigint, v string"),
        primary_keys=["k"], options={"bucket": "1"})
    t.write(spark, spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"))
    catalog.sql(spark, """
        MERGE INTO db.sqlbs t USING (SELECT CAST(1 AS BIGINT) AS k, 'a2' AS v) s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED BY SOURCE THEN DELETE
    """)
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: "a2"}


def test_sql_update_opaque_where(spark, catalog, pk_table):
    catalog.sql(spark, "UPDATE db.sqlpk SET n = 0 WHERE v IN ('a') OR length(v) = 9")
    got = {r["k"]: r["n"] for r in pk_table.read(spark).collect()}
    assert got == {1: 0, 2: 20, 3: 30}


def test_sql_delete_prunes_partitions(spark, catalog):
    t = catalog.create_table(
        "db.sqlpart", _schema("k bigint, p string, v int"),
        partition_keys=["p"])
    t.write(spark, spark.createDataFrame(
        [(1, "x", 1), (2, "y", 2), (3, "y", 3)], "k long, p string, v int"))
    catalog.sql(spark, "DELETE FROM db.sqlpart WHERE p = 'y' AND v = 2")
    got = sorted((r["k"], r["p"]) for r in t.read(spark).collect())
    assert got == [(1, "x"), (3, "y")]


def test_call_compact_where_string(spark, catalog, orders):
    """CALL sys.compact(where => '<sql>') compiles the WHERE into the
    predicate IR (CompactProcedure where-filter parity)."""
    from pyspark.sql import functions as F

    from incubator_paimon_spark.procedures import call_sql

    o = orders.withColumn("dt", F.to_date(F.date_trunc("month", "o_orderdate")))
    t = catalog.create_table("db.cw", o.schema, partition_keys=["dt"],
                             primary_keys=["o_orderkey", "dt"],
                             options={"bucket": "2"})
    t.write(spark, o.filter("o_orderkey % 2 = 0"))
    t.write(spark, o.filter("o_orderkey % 2 = 1"))
    d = str(o.select("dt").distinct().orderBy("dt").limit(1).collect()[0][0])
    call_sql(spark, catalog,
             f"CALL sys.compact(table => 'db.cw', full => true, "
             f"where => 'dt = \"{d}\"')")
    t2 = catalog.get_table("db.cw")
    assert t2.read(spark).count() == o.count()
    assert t2.snapshots.latest().commit_kind == "COMPACT"


def test_sql_merge_multiple_when_matched_ordered(spark, catalog):
    """First-match-wins across MULTIPLE clauses of the same kind — the
    reference's multi-WHEN semantics (MergeIntoTableTestBase 'multiple
    clauses'), previously rejected loudly."""
    t = catalog.create_table(
        "db.sqlmw", _schema("k bigint, v string, n int"),
        primary_keys=["k"], options={"bucket": "1"})
    t.write(spark, spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
        "k long, v string, n int"))
    src = spark.createDataFrame(
        [(1, "s1", 1), (2, "s2", 2), (3, "s3", 3),
         (8, "s8", 8), (9, "s9", 99)],
        "k long, v string, n int")
    src.createOrReplaceTempView("sql_mw_src")
    catalog.sql(spark, """
        MERGE INTO db.sqlmw t USING sql_mw_src s ON t.k = s.k
        WHEN MATCHED AND t.n <= 10 THEN UPDATE SET v = 'low', n = s.n
        WHEN MATCHED AND t.n <= 20 THEN UPDATE SET v = 'mid', n = s.n
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED AND s.n > 50 THEN INSERT (k, v, n) VALUES (s.k, 'big', s.n)
        WHEN NOT MATCHED THEN INSERT *
    """)
    got = {r["k"]: (r["v"], r["n"]) for r in t.read(spark).collect()}
    # k=1 hits clause 1 (not clause 2, though its condition also holds);
    # k=2 hits clause 2; k=3 falls through to DELETE; k=4 untouched;
    # k=8 second INSERT clause; k=9 first INSERT clause
    assert got == {1: ("low", 1), 2: ("mid", 2), 4: ("d", 40),
                   8: ("s8", 8), 9: ("big", 99)}


def test_sql_merge_by_source_update_and_conditional(spark, catalog):
    t = catalog.create_table(
        "db.sqlbs2", _schema("k bigint, v string, n int"),
        primary_keys=["k"], options={"bucket": "1"})
    t.write(spark, spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, v string, n int"))
    catalog.sql(spark, """
        MERGE INTO db.sqlbs2 t
        USING (SELECT CAST(1 AS BIGINT) AS k, 'a2' AS v, 0 AS n) s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED BY SOURCE AND t.n >= 30 THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'stale'
    """)
    got = {r["k"]: (r["v"], r["n"]) for r in t.read(spark).collect()}
    # k=1 updated from source; k=3 deleted (n>=30); k=2 marked stale
    assert got == {1: ("a2", 0), 2: ("stale", 20)}


def test_sql_select_time_travel(spark, catalog):
    """SELECT with VERSION AS OF / TIMESTAMP AS OF / tag over catalog tables
    (docs/content/spark/sql-query.md:41-57); plain SELECT reads latest."""
    t = catalog.create_table(
        "db.sqltt", _schema("k bigint, v string"))
    t.write(spark, spark.createDataFrame([(1, "a")], "k long, v string"))
    t.write(spark, spark.createDataFrame([(2, "b")], "k long, v string"))
    t.create_tag("first", 1)

    assert catalog.sql(spark, "SELECT count(*) c FROM db.sqltt").first()["c"] == 2
    assert catalog.sql(
        spark, "SELECT count(*) c FROM db.sqltt VERSION AS OF 1").first()["c"] == 1
    assert catalog.sql(
        spark, "SELECT count(*) c FROM db.sqltt VERSION AS OF 'first'").first()["c"] == 1
    snap1 = t.snapshots.read(1)
    ts = (snap1.time_millis + 1) / 1000.0
    assert catalog.sql(
        spark, f"SELECT count(*) c FROM db.sqltt TIMESTAMP AS OF {ts}").first()["c"] == 1
    # join of two travel points in one statement
    got = catalog.sql(spark, """
        SELECT a.k FROM db.sqltt VERSION AS OF 2 a
        LEFT ANTI JOIN db.sqltt VERSION AS OF 1 b ON a.k = b.k
    """).collect()
    assert [r["k"] for r in got] == [2]


def test_sql_ddl_surface(spark, catalog):
    """CREATE/ALTER/DROP TABLE, INSERT INTO/OVERWRITE, SHOW, DESCRIBE —
    the reference's Spark DDL shapes (docs/content/spark/sql-ddl.md),
    primary keys via TBLPROPERTIES ('primary-key'='...')."""
    catalog.sql(spark, """
        CREATE TABLE db.ddl1 (
            k BIGINT NOT NULL,
            v STRING COMMENT 'the value',
            amt DECIMAL(10,2),
            p STRING
        ) PARTITIONED BY (p)
        TBLPROPERTIES ('primary-key' = 'k,p', 'bucket' = '2')
    """)
    t = catalog.get_table("db.ddl1")
    assert t.schema.primary_keys == ["k", "p"]
    assert t.schema.partition_keys == ["p"]
    assert t.schema.options["bucket"] == "2"

    catalog.sql(spark,
                "INSERT INTO db.ddl1 VALUES (1,'a',10.5,'x'), (2,'b',20.0,'y')")
    catalog.sql(spark,
                "INSERT INTO db.ddl1 PARTITION (p='x') VALUES (3,'c',1.0)")
    assert catalog.sql(
        spark, "SELECT count(*) c FROM db.ddl1 WHERE p='x'").first()["c"] == 2
    catalog.sql(spark,
                "INSERT OVERWRITE db.ddl1 PARTITION (p='x') VALUES (9,'z',0.0)")
    rows = {(r["k"], r["p"])
            for r in catalog.sql(spark, "SELECT k, p FROM db.ddl1").collect()}
    assert rows == {(9, "x"), (2, "y")}

    catalog.sql(spark, "ALTER TABLE db.ddl1 ADD COLUMNS (extra INT, note STRING)")
    catalog.sql(spark, "ALTER TABLE db.ddl1 RENAME COLUMN note TO memo")
    catalog.sql(spark, "ALTER TABLE db.ddl1 ALTER COLUMN extra TYPE BIGINT")
    catalog.sql(spark,
                "ALTER TABLE db.ddl1 SET TBLPROPERTIES ('write-only'='true')")
    catalog.sql(spark, "ALTER TABLE db.ddl1 DROP COLUMN memo")
    sc = catalog.get_table("db.ddl1").schema
    assert "extra" in sc.field_names() and "memo" not in sc.field_names()
    assert sc.options["write-only"] == "true"
    # evolved reads still work: old files lack 'extra' -> null
    assert catalog.sql(
        spark, "SELECT count(*) c FROM db.ddl1 WHERE extra IS NULL").first()["c"] == 2

    assert len(catalog.sql(spark, "DESCRIBE db.ddl1").collect()) == 5
    names = {r["tableName"] for r in catalog.sql(spark, "SHOW TABLES").collect()}
    assert "ddl1" in names
    assert catalog.sql(spark, "SHOW PARTITIONS db.ddl1").count() >= 2
    catalog.sql(spark, "CREATE TABLE IF NOT EXISTS db.ddl1 (k INT)")  # no-op
    catalog.sql(spark, "DROP TABLE db.ddl1")
    assert "ddl1" not in set(catalog.list_tables("db"))
    catalog.sql(spark, "DROP TABLE IF EXISTS db.never_there")


def test_sql_insert_overwrite_typed_partition(spark, catalog):
    """Static PARTITION values are parsed to the column's type — a string
    '5' would never match the manifests' typed int 5 and the overwrite
    would silently append instead of replacing (r5 review)."""
    t = catalog.create_table("db.sqltp", _schema("k bigint, pt int"),
                             partition_keys=["pt"])
    catalog.sql(spark, "INSERT INTO db.sqltp VALUES (1, 5), (2, 6)")
    catalog.sql(spark, "INSERT OVERWRITE db.sqltp PARTITION (pt=5) VALUES (9)")
    rows = {(r["k"], r["pt"]) for r in catalog.sql(
        spark, "SELECT k, pt FROM db.sqltp").collect()}
    assert rows == {(9, 5), (2, 6)}


def test_sql_time_travel_trailing_punctuation(spark, catalog):
    t = catalog.create_table("db.sqltt2", _schema("k bigint"))
    t.write(spark, spark.createDataFrame([(1,)], "k long"))
    t.write(spark, spark.createDataFrame([(2,)], "k long"))
    assert catalog.sql(
        spark, "SELECT count(*) c FROM db.sqltt2 VERSION AS OF 1;").first()["c"] == 1
    assert catalog.sql(spark, """
        SELECT count(*) c FROM (SELECT * FROM db.sqltt2 VERSION AS OF 1)
    """).first()["c"] == 1


def test_sql_partition_literal_with_percent(spark, catalog):
    """Static PARTITION string literals are NOT URL-unquoted: 'a%20b' stays
    'a%20b' (r5 review — the dir-name decoder was the wrong layer)."""
    t = catalog.create_table("db.sqlpct", _schema("k bigint, p string"),
                             partition_keys=["p"])
    catalog.sql(spark, "INSERT INTO db.sqlpct PARTITION (p='a%20b') VALUES (1)")
    rows = [(r["k"], r["p"]) for r in
            catalog.sql(spark, "SELECT k, p FROM db.sqlpct").collect()]
    assert rows == [(1, "a%20b")]
    catalog.sql(spark,
                "INSERT OVERWRITE db.sqlpct PARTITION (p='a%20b') VALUES (2)")
    rows = [(r["k"], r["p"]) for r in
            catalog.sql(spark, "SELECT k, p FROM db.sqlpct").collect()]
    assert rows == [(2, "a%20b")]


def test_sql_drop_columns_plural(spark, catalog):
    t = catalog.create_table("db.sqldc", _schema("k bigint, a int, b int"))
    catalog.sql(spark, "ALTER TABLE db.sqldc DROP COLUMNS (a, b)")
    assert catalog.get_table("db.sqldc").schema.field_names() == ["k"]


def test_sql_alter_is_one_schema_per_statement(spark, catalog):
    """One ALTER TABLE statement commits one schema-N: multi-column ADD
    and ADD ... AFTER land together, and a refused change commits none
    of the statement's changes."""
    t = catalog.create_table("db.alt_one", _schema("k bigint, v int"),
                             primary_keys=["k"])
    catalog.sql(spark, "ALTER TABLE db.alt_one ADD COLUMNS (a INT, b INT)")
    assert t.schemas.latest_id() == 1
    catalog.sql(spark, "ALTER TABLE db.alt_one ADD COLUMN c INT AFTER a")
    assert t.schemas.latest_id() == 2
    assert t.schema.field_names() == ["k", "v", "a", "c", "b"]
    with pytest.raises(ValueError, match="key column"):
        catalog.sql(spark, "ALTER TABLE db.alt_one DROP COLUMNS (v, k)")
    assert t.schemas.latest_id() == 2
    assert t.schema.field_names() == ["k", "v", "a", "c", "b"]


def test_delete_update_with_subqueries(spark, catalog):
    """DELETE/UPDATE WHERE evaluates scalar and IN subqueries to literals
    (reference: EvalSubqueriesForDeleteTable,
    PaimonOptimizationTestBase 'eval subqueries for delete table')."""
    import pyspark.sql.types as T
    t = catalog.create_table(
        "db.subq", T.StructType.fromDDL("k bigint, v bigint"),
        primary_keys=["k"], options={"bucket": "1"})
    t.write(spark, spark.createDataFrame(
        [(i, i * 10) for i in range(10)], "k long, v long"))
    s = catalog.create_table(
        "db.src", T.StructType.fromDDL("k bigint"), primary_keys=["k"],
        options={"bucket": "1"})
    s.write(spark, spark.createDataFrame([(2,), (3,)], "k long"))

    from incubator_paimon_spark.sql import execute_sql
    execute_sql(spark, catalog, "DELETE FROM db.subq WHERE k IN "
                                "(SELECT k FROM db.src)")
    assert sorted(r["k"] for r in t.read(spark).collect()) == \
        [0, 1, 4, 5, 6, 7, 8, 9]
    execute_sql(spark, catalog,
                "DELETE FROM db.subq WHERE k = (SELECT max(k) FROM db.subq)")
    assert max(r["k"] for r in t.read(spark).collect()) == 8
    execute_sql(spark, catalog,
                "UPDATE db.subq SET v = 0 WHERE k > "
                "(SELECT min(k) + 5 FROM db.subq)")
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got[8] == 0 and got[7] == 0 and got[5] == 50
    # empty IN subquery deletes nothing
    execute_sql(spark, catalog, "DELETE FROM db.subq WHERE k IN "
                                "(SELECT k FROM db.src WHERE k > 100)")
    assert t.read(spark).count() == 7  # [0,1,4,5,6,7,8] — nothing deleted


def test_show_create_table_roundtrip(spark, catalog):
    """SHOW CREATE TABLE output parses back through our CREATE executor
    into an equivalent table (schema, partitioning, pks, options)."""
    from incubator_paimon_spark.sql import execute_sql
    execute_sql(spark, catalog, """
        CREATE TABLE db.sct (k BIGINT NOT NULL, v STRING, dt STRING)
        PARTITIONED BY (dt)
        TBLPROPERTIES ('primary-key' = 'k,dt', 'bucket' = '4')
    """)
    ddl = execute_sql(spark, catalog,
                      "SHOW CREATE TABLE db.sct").collect()[0][0]
    ddl2 = ddl.replace("db.sct", "db.sct2")
    execute_sql(spark, catalog, ddl2)
    a, b = catalog.get_table("db.sct").schema, catalog.get_table("db.sct2").schema
    assert [(f.name, f.type, f.nullable) for f in a.fields] == \
        [(f.name, f.type, f.nullable) for f in b.fields]
    assert a.partition_keys == b.partition_keys
    assert a.primary_keys == b.primary_keys
    assert a.options.get("bucket") == b.options.get("bucket") == "4"


def test_alter_column_type_and_drop_partition(spark, catalog):
    from incubator_paimon_spark.sql import execute_sql
    t = catalog.create_table(
        "db.alt", _schema("k bigint, v int, p string"),
        partition_keys=["p"])
    t.write(spark, spark.createDataFrame(
        [(1, 1, "x"), (2, 2, "y"), (3, 3, "y")], "k long, v int, p string"))
    execute_sql(spark, catalog, "ALTER TABLE db.alt ALTER COLUMN v TYPE BIGINT")
    t2 = catalog.get_table("db.alt")
    assert t2.schema.field_by_name("v").type.simpleString() == "bigint"
    assert t2.read(spark).count() == 3
    with pytest.raises(ValueError, match="cannot change"):
        execute_sql(spark, catalog,
                    "ALTER TABLE db.alt ALTER COLUMN v TYPE INT")
    execute_sql(spark, catalog, "ALTER TABLE db.alt DROP PARTITION (p = 'y')")
    assert [r["p"] for r in catalog.get_table("db.alt").read(spark).collect()] \
        == ["x"]


def test_subquery_empty_edge_cases(spark, catalog):
    """Empty subqueries follow SQL semantics: NOT IN () keeps (matches)
    every row, IN () matches none, and a zero-row scalar subquery
    evaluates to NULL (comparison matches nothing, no error)."""
    from incubator_paimon_spark.sql import execute_sql
    t = catalog.create_table(
        "db.sqe", _schema("k bigint, v bigint"), primary_keys=["k"],
        options={"bucket": "1"})
    t.write(spark, spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "k long, v long"))
    s = catalog.create_table(
        "db.sqe_src", _schema("k bigint"), primary_keys=["k"],
        options={"bucket": "1"})
    s.write(spark, spark.createDataFrame([(99,)], "k long"))

    # zero-row scalar: matches nothing, statement succeeds
    execute_sql(spark, catalog, "DELETE FROM db.sqe WHERE k = "
                                "(SELECT max(k) FROM db.sqe_src WHERE k < 0)")
    assert t.read(spark).count() == 3
    # empty IN: matches nothing
    execute_sql(spark, catalog, "DELETE FROM db.sqe WHERE k IN "
                                "(SELECT k FROM db.sqe_src WHERE k < 0)")
    assert t.read(spark).count() == 3
    # empty NOT IN: matches EVERYTHING (deletes all) — the '(NULL)'
    # substitution would silently invert this
    execute_sql(spark, catalog, "DELETE FROM db.sqe WHERE k NOT IN "
                                "(SELECT k FROM db.sqe_src WHERE k < 0)")
    assert t.read(spark).count() == 0


def test_subquery_row_cap_guards_driver(spark, catalog, monkeypatch):
    """A WHERE subquery yielding more rows than SUBQUERY_ROW_CAP fails
    with the documented join-rewrite message instead of materializing the
    whole key set on the driver; the collect itself is bounded (limit
    cap+1), so even a 10 M-key subquery never OOMs. Cap shrunk via
    monkeypatch so the test stays cheap."""
    import incubator_paimon_spark.sql as sqlmod
    from incubator_paimon_spark.sql import execute_sql
    t = catalog.create_table(
        "db.sqcap", _schema("k bigint, v bigint"), primary_keys=["k"],
        options={"bucket": "1"})
    t.write(spark, spark.createDataFrame(
        [(i, i) for i in range(300)], "k long, v long"))
    monkeypatch.setattr(sqlmod, "SUBQUERY_ROW_CAP", 100)
    with pytest.raises(ValueError, match="join"):
        execute_sql(spark, catalog, "DELETE FROM db.sqcap WHERE k IN "
                                    "(SELECT k FROM db.sqcap WHERE k >= 0)")
    assert t.read(spark).count() == 300  # nothing deleted on failure
    # under the cap, the same shape still executes
    execute_sql(spark, catalog, "DELETE FROM db.sqcap WHERE k IN "
                                "(SELECT k FROM db.sqcap WHERE k < 50)")
    assert t.read(spark).count() == 250


def test_show_create_table_nested_types(spark, catalog):
    """nested struct field names survive the DDL round-trip (no blanket
    uppercasing of the type string)."""
    from incubator_paimon_spark.sql import execute_sql
    t = catalog.create_table(
        "db.sctn", _schema("k bigint, nested array<struct<id:int,v:string>>"))
    ddl = execute_sql(spark, catalog,
                      "SHOW CREATE TABLE db.sctn").collect()[0][0]
    execute_sql(spark, catalog, ddl.replace("db.sctn", "db.sctn2"))
    b = catalog.get_table("db.sctn2").schema
    assert b.field_by_name("nested").type.simpleString() == \
        t.schema.field_by_name("nested").type.simpleString()


# -------------------------------------------------- literal-safe scanning
def test_mask_literals_shapes():
    from incubator_paimon_spark.sql import _mask_literals
    s = "WHERE a = 'x (SELECT ''b'') y' AND b = 2"
    m = _mask_literals(s)
    assert len(m) == len(s)
    assert "SELECT" not in m and m.startswith("WHERE a = '") \
        and m.endswith("' AND b = 2")
    # doubled-quote escape stays inside ONE masked literal
    assert m.count("'") == 2
    # double quotes and backticks masked too; unterminated masked to end
    assert "VERSION" not in _mask_literals('SELECT "VERSION AS OF 1" FROM t')
    assert "SELECT" not in _mask_literals("WHERE a = '(SELECT unterminated")


def test_sql_literal_containing_time_travel_clause(spark, catalog, pk_table):
    """A string literal that LOOKS like a travel-annotated table reference
    must ride through untouched (VERDICT r5 'What's wrong' #2)."""
    out = catalog.sql(
        spark,
        "SELECT v, 'FROM db.sqlpk VERSION AS OF 99' AS trap "
        "FROM db.sqlpk WHERE k = 1").collect()
    assert out[0]["v"] == "a"
    assert out[0]["trap"] == "FROM db.sqlpk VERSION AS OF 99"


def test_sql_delete_literal_containing_select_and_paren(spark, catalog, pk_table):
    # '(SELECT' inside a literal is data, not a subquery; the unbalanced
    # '(' inside it must not break the paren-depth scan either
    catalog.sql(spark,
                "DELETE FROM db.sqlpk WHERE v = 'a (SELECT ( trap'")
    assert pk_table.read(spark).count() == 3  # nothing matched, nothing broke
    catalog.sql(spark,
                "DELETE FROM db.sqlpk WHERE k IN (SELECT k FROM db.sqlpk "
                "WHERE v = 'b' AND ') (SELECT' = ') (SELECT')")
    assert {r["k"] for r in pk_table.read(spark).collect()} == {1, 3}


def test_sql_update_literal_containing_where(spark, catalog, pk_table):
    # ' WHERE ' inside the SET value must not be taken as the WHERE split
    catalog.sql(spark,
                "UPDATE db.sqlpk SET v = 'x WHERE y' WHERE k = 1")
    rows = {r["k"]: r["v"] for r in pk_table.read(spark).collect()}
    assert rows == {1: "x WHERE y", 2: "b", 3: "c"}


def test_sql_merge_literal_containing_when_clause(spark, catalog, pk_table):
    src = spark.createDataFrame([(3, "z", 1), (9, "n", 2)],
                                "k long, v string, n int")
    src.createOrReplaceTempView("merge_trap_src")
    catalog.sql(spark, """
        MERGE INTO db.sqlpk AS t USING merge_trap_src AS s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = 'hit WHEN MATCHED THEN DELETE'
        WHEN NOT MATCHED THEN INSERT (k, v, n)
            VALUES (s.k, 'new WHEN MATCHED AND USING', s.n)
    """)
    rows = {r["k"]: r["v"] for r in pk_table.read(spark).collect()}
    assert rows[3] == "hit WHEN MATCHED THEN DELETE"
    assert rows[9] == "new WHEN MATCHED AND USING"
    assert rows[1] == "a" and rows[2] == "b"


# ------------------------------------------------------------------ CTAS
def test_create_table_as_select(spark, catalog, pk_table):
    """CTAS (sql-ddl.md:155-183 parity): plain, partitioned, with
    TBLPROPERTIES + primary-key, and IF NOT EXISTS no-op."""
    t = catalog.sql(spark,
                    "CREATE TABLE db.ctas1 AS SELECT k, v FROM db.sqlpk")
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}

    t2 = catalog.sql(spark, """
        CREATE TABLE db.ctas2 PARTITIONED BY (v)
        TBLPROPERTIES ('primary-key' = 'k,v', 'bucket' = '2')
        AS SELECT k, v FROM db.sqlpk WHERE k < 3
    """)
    assert t2.schema.partition_keys == ["v"]
    assert t2.schema.primary_keys == ["k", "v"]
    assert t2.read(spark).count() == 2

    # IF NOT EXISTS on an existing table: no write happens
    catalog.sql(spark, "CREATE TABLE IF NOT EXISTS db.ctas1 "
                       "AS SELECT k, v FROM db.sqlpk")
    assert catalog.get_table("db.ctas1").read(spark).count() == 3

    # literal trap: 'AS SELECT' inside a string in a normal CREATE
    t3 = catalog.sql(spark, """
        CREATE TABLE db.ctas3 (k bigint, v string)
        TBLPROPERTIES ('comment' = 'not AS SELECT anything')
    """)
    assert t3.read(spark).count() == 0


def test_ctas_from_values_and_time_travel(spark, catalog, pk_table):
    t = catalog.sql(spark,
                    "CREATE TABLE db.ctasv AS VALUES (1, 'x'), (2, 'y') "
                    "AS t(k, v)")
    assert t.read(spark).count() == 2
    # CTAS over a time-travel read
    catalog.sql(spark, "UPDATE db.sqlpk SET v = 'zz' WHERE k = 1")
    t2 = catalog.sql(spark, "CREATE TABLE db.ctast AS "
                            "SELECT v FROM db.sqlpk VERSION AS OF 1 "
                            "WHERE k = 1")
    assert t2.read(spark).collect()[0]["v"] == "a"


def test_alter_column_comment_and_position(spark, catalog):
    """sql-alter.md:104-126 parity: column comment, column move
    (FIRST/AFTER), and ADD COLUMN with a position. Moves are
    metadata-only — data written before the move still reads correctly
    (field ids anchor the bytes)."""
    t = catalog.create_table("db.alt_pos", _schema("a bigint, b string, c int"))
    t.write(spark, spark.createDataFrame([(1, "x", 10)],
                                         "a long, b string, c int"))
    catalog.sql(spark, "ALTER TABLE db.alt_pos ALTER COLUMN b COMMENT 'it''s b'")
    assert catalog.get_table("db.alt_pos").schema \
        .field_by_name("b").description == "it's b"

    catalog.sql(spark, "ALTER TABLE db.alt_pos ALTER COLUMN c FIRST")
    assert catalog.get_table("db.alt_pos").schema.field_names() == ["c", "a", "b"]
    catalog.sql(spark, "ALTER TABLE db.alt_pos ALTER COLUMN c AFTER a")
    assert catalog.get_table("db.alt_pos").schema.field_names() == ["a", "c", "b"]

    catalog.sql(spark, "ALTER TABLE db.alt_pos ADD COLUMN d double AFTER a")
    assert catalog.get_table("db.alt_pos").schema.field_names() == \
        ["a", "d", "c", "b"]

    # pre-move data still reads correctly after all the reordering
    got = catalog.get_table("db.alt_pos").read(spark).collect()[0]
    assert (got["a"], got["b"], got["c"], got["d"]) == (1, "x", 10, None)
    # and new writes in the new order round-trip
    t2 = catalog.get_table("db.alt_pos")
    t2.write(spark, spark.createDataFrame([(2, 2.5, 20, "y")],
                                          "a long, d double, c int, b string"))
    rows = {r["a"]: (r["d"], r["c"], r["b"])
            for r in t2.read(spark).collect()}
    assert rows == {1: (None, 10, "x"), 2: (2.5, 20, "y")}


def test_column_comments_roundtrip_show_create(spark, catalog):
    """Column comments: stored from CREATE, updatable via ALTER COLUMN
    COMMENT (with '' escapes), emitted by SHOW CREATE TABLE, and the
    emitted DDL re-creates them (round-trip parity)."""
    catalog.sql(spark, "CREATE TABLE db.cc (a bigint COMMENT 'ident', b string)")
    catalog.sql(spark, "ALTER TABLE db.cc ALTER COLUMN b COMMENT 'it''s bee'")
    sct = catalog.sql(spark, "SHOW CREATE TABLE db.cc").collect()[0][0]
    assert "COMMENT 'ident'" in sct and "COMMENT 'it''s bee'" in sct
    catalog.sql(spark, sct.replace("db.cc", "db.cc2"))
    rt = [(f.name, f.description)
          for f in catalog.get_table("db.cc2").schema.fields]
    assert rt == [("a", "ident"), ("b", "it's bee")]


def test_sql_incremental_tvf_tag_bounds(spark, catalog):
    """paimon_incremental_query accepts tag names as bounds too
    ('TAG1','TAG3' form from sql-query.md:67-73)."""
    sch = _schema("k bigint, v string")
    t = catalog.create_table("db.tvft", sch)
    t.write(spark, spark.createDataFrame([(1, "a")], schema=sch))
    t.create_tag("t1", 1)
    t.write(spark, spark.createDataFrame([(2, "b")], schema=sch))
    t.write(spark, spark.createDataFrame([(3, "c")], schema=sch))
    t.create_tag("t3", 3)
    got = catalog.sql(
        spark, "SELECT k FROM paimon_incremental_query('db.tvft', 't1', 't3') "
               "ORDER BY k").collect()
    assert [r["k"] for r in got] == [2, 3]


def test_select_system_tables_in_sql(spark, catalog):
    """Reference parity (system-tables.md): FROM db.t$snapshots / $files /
    $tags resolve through the SQL surface; travel on them is rejected."""
    from incubator_paimon_spark.sql import execute_sql
    t = catalog.create_table("db.syst", _schema("k bigint, v string"))
    t.write(spark, spark.createDataFrame([(1, "a")], "k long, v string"))
    t.write(spark, spark.createDataFrame([(2, "b")], "k long, v string"))
    t.create_tag("rel1", snapshot_id=1)

    snaps = execute_sql(spark, catalog,
                        "SELECT snapshot_id FROM db.syst$snapshots "
                        "ORDER BY snapshot_id").collect()
    assert [r["snapshot_id"] for r in snaps] == [1, 2]
    nfiles = execute_sql(spark, catalog,
                         "SELECT count(*) AS c FROM db.syst$files").first()["c"]
    assert nfiles >= 2
    tags = execute_sql(spark, catalog,
                       "SELECT tag_name FROM db.syst$tags").collect()
    assert [r["tag_name"] for r in tags] == ["rel1"]
    # joinable against the data table in one statement
    j = execute_sql(spark, catalog, """
        SELECT count(*) AS c FROM db.syst d
        JOIN db.syst$snapshots s ON s.snapshot_id = 2
    """).first()["c"]
    assert j == 2
    with pytest.raises(ValueError, match="system table"):
        execute_sql(spark, catalog,
                    "SELECT * FROM db.syst$snapshots VERSION AS OF 1")


def test_analyze_stats_inject_broadcast_hint(spark, catalog):
    """VERDICT r7 #6: ANALYZE statistics feed join planning. A
    merge-on-read dim accumulates raw delta files (Spark's file-size
    estimate grows per commit) while its MERGED row count stays fixed;
    after ANALYZE, the SQL surface binds the dim's view with a
    broadcast() hint, so a fact⋈dim join plans a BroadcastHashJoin with
    AQE OFF even when the file-size estimate alone would refuse —
    the PySpark analogue of the reference's DSv2 estimateStatistics
    (PaimonBaseScan → PaimonStatistics.scala)."""
    from incubator_paimon_spark.analyze import (analyze_table,
                                                estimated_size_bytes)
    from pyspark.sql import functions as F

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")

    def build_dim(name):
        # merge-on-read dim whose MERGED state is tiny vs its raw
        # files: 6 overwriting commits, then a commit retracting all
        # but ~1/15 of the keys — file-size estimates stay commits×full
        # while ANALYZE sees the 10 surviving rows
        t = catalog.create_table(name, cust.schema,
                                 primary_keys=["c_custkey"],
                                 options={"bucket": "1"})
        for _ in range(6):
            t.write(spark, cust)
        t.write(spark, cust.filter(F.col("c_custkey") % 15 != 0)
                           .withColumn("_row_kind", F.lit("-D")))
        return t

    dim = build_dim("db.dim_cust")
    fact = catalog.create_table("db.fact_orders", orders.schema)
    for _ in range(4):
        fact.write(spark, orders)

    def pruned_est(t, *cols):
        """what the optimizer sees for the column-pruned scan"""
        return int(t.read(spark).select(*cols)._jdf.queryExecution()
                   .optimizedPlan().stats().sizeInBytes())

    raw_est = min(pruned_est(dim, "c_custkey", "c_name"),
                  pruned_est(fact, "o_orderkey", "o_custkey"))
    assert estimated_size_bytes(dim) is None  # never analyzed
    analyze_table(spark, dim)
    ours = estimated_size_bytes(dim)
    assert ours is not None and ours < raw_est, (ours, raw_est)

    q = ("SELECT f.o_orderkey, d.c_name FROM db.fact_orders f "
         "JOIN db.dim_cust d ON f.o_custkey = d.c_custkey")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        # threshold between OUR estimate and the file-size estimate:
        # only the stats-driven hint can produce a broadcast here
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str((ours + raw_est) // 2))
        plan = catalog.sql(spark, q)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan
        # negative control: same shape, un-analyzed dim → no broadcast
        dim2 = build_dim("db.dim2")
        q2 = ("SELECT f.o_orderkey, d.c_name FROM db.fact_orders f "
              "JOIN db.dim2 d ON f.o_custkey = d.c_custkey")
        plan2 = catalog.sql(spark, q2)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BroadcastHashJoin" not in plan2, plan2
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)


def test_global_system_tables(spark, catalog):
    """Catalog-scope system tables (SystemTableLoader.loadGlobal,
    AllTableOptionsTable.java:55-88, CatalogOptionsTable.java:51-76):
    sys.all_table_options / sys.catalog_options via API and SQL."""
    from incubator_paimon_spark.sql import execute_sql
    t1 = catalog.create_table("db.gsys1", _schema("k bigint, v string"),
                              primary_keys=["k"], options={"bucket": "2"})
    catalog.create_table("db2.gsys2", _schema("k bigint"),
                         options={"custom.flag": "on"})
    rows = catalog.system(spark, "all_table_options").collect()
    by_table = {(r["database_name"], r["table_name"], r["key"]): r["value"]
                for r in rows}
    assert by_table[("db", "gsys1", "bucket")] == "2"
    assert by_table[("db2", "gsys2", "custom.flag")] == "on"

    got = execute_sql(spark, catalog, """
        SELECT table_name, value FROM sys.all_table_options
        WHERE key = 'bucket' ORDER BY table_name
    """).collect()
    assert [(r["table_name"], r["value"]) for r in got] == [("gsys1", "2")]

    co = {r["key"]: r["value"]
          for r in execute_sql(spark, catalog,
                               "SELECT * FROM sys.catalog_options").collect()}
    assert co["warehouse"] == catalog.warehouse
    with pytest.raises(ValueError, match="global system table"):
        catalog.system(spark, "nope")
    # the data path is untouched: db.gsys1 still resolves as a table
    t1.write(spark, spark.createDataFrame([(1, "a")], "k long, v string"))
    assert execute_sql(spark, catalog,
                       "SELECT count(*) AS c FROM db.gsys1").first()["c"] == 1


def test_create_drop_database_sql(spark, catalog):
    """CREATE/DROP DATABASE [IF (NOT) EXISTS] [CASCADE] through the SQL
    surface (sql-ddl parity: dropping a non-empty database needs
    CASCADE; bare re-create / re-drop raise without the IF guard)."""
    import pytest
    catalog.sql(spark, "CREATE DATABASE dbx")
    assert "dbx" in catalog.list_databases()
    with pytest.raises(ValueError, match="exists"):
        catalog.sql(spark, "CREATE DATABASE dbx")
    catalog.sql(spark, "CREATE DATABASE IF NOT EXISTS dbx")

    catalog.sql(spark, "CREATE TABLE dbx.t (id BIGINT, v STRING)")
    with pytest.raises(ValueError, match="not empty"):
        catalog.sql(spark, "DROP DATABASE dbx")
    catalog.sql(spark, "DROP DATABASE dbx CASCADE")
    assert "dbx" not in catalog.list_databases()
    with pytest.raises(ValueError, match="does not exist"):
        catalog.sql(spark, "DROP DATABASE dbx")
    catalog.sql(spark, "DROP DATABASE IF EXISTS dbx")


def test_drop_database_cascade_unhooks_mv_sync(spark, catalog):
    """DROP DATABASE ... CASCADE over a database holding a materialized
    view must unregister the view's auto-sync commit listener from its
    (surviving) source — otherwise every later source commit fires a
    doomed sync against the deleted view path."""
    import os

    from incubator_paimon_spark.metadata.commit import _COMMIT_LISTENERS
    catalog.sql(spark, "CREATE TABLE src.docs (id BIGINT, s STRING, "
                       "n BIGINT) TBLPROPERTIES ('primary-key'='id', "
                       "'bucket'='1', 'changelog-producer'='lookup')")
    catalog.sql(spark, "INSERT INTO src.docs VALUES (1, 'a', 10)")
    catalog.sql(spark, "CREATE DATABASE views")
    catalog.sql(spark, "CREATE MATERIALIZED VIEW views.mv AS "
                       "SELECT s, count(*) AS n FROM src.docs GROUP BY s")
    src_path = os.path.normpath(catalog.get_table("src.docs").path)
    assert any(k.startswith("index-sync:mv")
               for k in _COMMIT_LISTENERS.get(src_path, {}))
    catalog.sql(spark, "DROP DATABASE views CASCADE")
    assert not any(k.startswith("index-sync:mv")
                   for k in _COMMIT_LISTENERS.get(src_path, {}))
    # the source keeps working with no dangling hook
    catalog.sql(spark, "INSERT INTO src.docs VALUES (2, 'b', 20)")


def test_branch_read_via_dollar_suffix(spark, catalog):
    """SELECT ... FROM db.t$branch_<name> reads the BRANCH's data
    (manage-branches.md parity): the branch pins its creation point
    while main moves on."""
    catalog.sql(spark, "CREATE TABLE bb.t (id BIGINT, v STRING) "
                       "TBLPROPERTIES ('primary-key'='id', 'bucket'='1')")
    catalog.sql(spark, "INSERT INTO bb.t VALUES (1, 'a'), (2, 'b')")
    t = catalog.get_table("bb.t")
    t.create_branch("dev")
    catalog.sql(spark, "INSERT INTO bb.t VALUES (3, 'c')")
    main = catalog.sql(
        spark, "SELECT count(*) AS n FROM bb.t").collect()[0]["n"]
    dev = catalog.sql(
        spark, "SELECT count(*) AS n FROM bb.t$branch_dev").collect()[0]["n"]
    assert (main, dev) == (3, 2)


def test_branch_write_via_dollar_suffix(spark, catalog):
    """INSERT INTO db.t$branch_<name> commits to the branch's own
    snapshot chain; main is untouched until fast_forward merges."""
    catalog.sql(spark, "CREATE TABLE bw.t (id BIGINT, v STRING) "
                       "TBLPROPERTIES ('primary-key'='id', 'bucket'='1')")
    catalog.sql(spark, "INSERT INTO bw.t VALUES (1, 'a')")
    t = catalog.get_table("bw.t")
    t.create_branch("dev")
    catalog.sql(spark, "INSERT INTO bw.t$branch_dev VALUES (2, 'b')")
    assert catalog.sql(spark, "SELECT count(*) AS n FROM bw.t") \
        .collect()[0]["n"] == 1
    assert catalog.sql(
        spark, "SELECT count(*) AS n FROM bw.t$branch_dev") \
        .collect()[0]["n"] == 2
    t.fast_forward("dev")
    assert catalog.sql(spark, "SELECT count(*) AS n FROM bw.t") \
        .collect()[0]["n"] == 2


def test_insert_overwrite_dynamic_default_and_opt_out(spark, catalog):
    """INSERT OVERWRITE without a static spec on a partitioned table
    replaces only the TOUCHED partitions by default
    (dynamic-partition-overwrite=true, CoreOptions parity); setting the
    option false restores whole-table overwrite. Table-option time
    travel (scan.snapshot-id) reads an older state without reader args."""
    catalog.sql(spark, """
        CREATE TABLE db.dynow (k BIGINT, p STRING)
        PARTITIONED BY (p)""")
    catalog.sql(spark, "INSERT INTO db.dynow VALUES (1,'a'),(2,'b'),(3,'c')")
    # dynamic default: only partition 'a' is replaced
    catalog.sql(spark, "INSERT OVERWRITE db.dynow VALUES (10,'a')")
    t = catalog.get_table("db.dynow")
    got = sorted((r.k, r.p) for r in t.read(spark).collect())
    assert got == [(2, "b"), (3, "c"), (10, "a")]

    # scan.snapshot-id as a TABLE OPTION time-travels without args
    catalog.sql(spark, "ALTER TABLE db.dynow SET TBLPROPERTIES "
                       "('scan.snapshot-id'='1')")
    t_old = catalog.get_table("db.dynow")
    assert sorted((r.k, r.p) for r in t_old.read(spark).collect()) \
        == [(1, "a"), (2, "b"), (3, "c")]
    catalog.sql(spark, "ALTER TABLE db.dynow UNSET TBLPROPERTIES "
                       "('scan.snapshot-id')")

    # opt out: whole-table overwrite
    catalog.sql(spark, "ALTER TABLE db.dynow SET TBLPROPERTIES "
                       "('dynamic-partition-overwrite'='false')")
    catalog.sql(spark, "INSERT OVERWRITE db.dynow VALUES (7,'z')")
    t2 = catalog.get_table("db.dynow")
    assert sorted((r.k, r.p) for r in t2.read(spark).collect()) == [(7, "z")]


def test_scan_snapshot_option_never_time_travels_mutations(spark, catalog):
    """A persistent scan.snapshot-id TABLE option time-travels reads —
    but DELETE/UPDATE/MERGE must read-modify-write the LATEST state, or
    a rewrite would resurrect rows from the pinned snapshot."""
    catalog.sql(spark, "CREATE TABLE db.pin (k BIGINT, v BIGINT) "
                       "TBLPROPERTIES ('primary-key'='k', 'bucket'='1')")
    catalog.sql(spark, "INSERT INTO db.pin VALUES (1, 10), (2, 20)")
    catalog.sql(spark, "INSERT INTO db.pin VALUES (3, 30)")
    catalog.sql(spark, "ALTER TABLE db.pin SET TBLPROPERTIES "
                       "('scan.snapshot-id'='1')")
    t = catalog.get_table("db.pin")
    # reads honor the pin
    assert t.read(spark).count() == 2
    # mutations act on LATEST (k=3 exists there)
    catalog.sql(spark, "UPDATE db.pin SET v = 99 WHERE k = 3")
    catalog.sql(spark, "DELETE FROM db.pin WHERE k = 1")
    catalog.sql(spark, "ALTER TABLE db.pin UNSET TBLPROPERTIES "
                       "('scan.snapshot-id')")
    t2 = catalog.get_table("db.pin")
    got = sorted((r.k, r.v) for r in t2.read(spark).collect())
    assert got == [(2, 20), (3, 99)]


# ------------------------------------------------- r15 widened DML grammar
def test_sql_delete_correlated_exists(spark, catalog, pk_table):
    """DELETE ... WHERE EXISTS with one equality correlation rewrites to
    the IN machinery (EvalSubqueriesForDeleteTable parity for the shape
    the reference plans through Spark)."""
    src = catalog.create_table("db.exsrc", _schema("k bigint, tag string"))
    src.write(spark, spark.createDataFrame(
        [(1, "kill"), (3, "keep")], "k long, tag string"))
    catalog.sql(spark, "DELETE FROM db.sqlpk WHERE EXISTS "
                       "(SELECT 1 FROM db.exsrc s "
                       "WHERE s.k = sqlpk.k AND s.tag = 'kill')")
    assert {r["k"] for r in pk_table.read(spark).collect()} == {2, 3}


def test_sql_delete_not_exists_null_semantics(spark, catalog):
    """NOT EXISTS passes rows whose correlation key is NULL (a bare
    NOT IN rewrite would drop them) and rows without a match."""
    t = catalog.create_table("db.nx", _schema("k bigint, v string"))
    t.write(spark, spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "c")], "k long, v string"))
    src = catalog.create_table("db.nxsrc", _schema("k bigint"))
    src.write(spark, spark.createDataFrame([(1,)], "k long"))
    catalog.sql(spark, "DELETE FROM db.nx WHERE NOT EXISTS "
                       "(SELECT 1 FROM db.nxsrc s WHERE s.k = nx.k)")
    # rows 2 (no match) and NULL are deleted; row 1 (matched) survives
    assert [r["v"] for r in t.read(spark).collect()] == ["a"]


def test_sql_update_correlated_exists_and_scalar_set(spark, catalog,
                                                     pk_table):
    src = catalog.create_table("db.upsrc", _schema("k bigint, bump int"))
    src.write(spark, spark.createDataFrame(
        [(1, 100), (2, 200)], "k long, bump int"))
    catalog.sql(spark,
                "UPDATE db.sqlpk SET n = (SELECT max(bump) FROM db.upsrc) "
                "WHERE EXISTS (SELECT 1 FROM db.upsrc u "
                "WHERE u.k = sqlpk.k)")
    got = {r["k"]: r["n"] for r in pk_table.read(spark).collect()}
    assert got == {1: 200, 2: 200, 3: 30}


def test_sql_uncorrelated_exists_constant(spark, catalog, pk_table):
    # non-empty source: EXISTS is TRUE for every row
    src = catalog.create_table("db.uex", _schema("x int"))
    src.write(spark, spark.createDataFrame([(1,)], "x int"))
    catalog.sql(spark, "UPDATE db.sqlpk SET n = 0 WHERE EXISTS "
                       "(SELECT 1 FROM db.uex)")
    assert all(r["n"] == 0 for r in pk_table.read(spark).collect())
    # empty source: NOT EXISTS TRUE -> delete everything
    catalog.sql(spark, "DELETE FROM db.sqlpk WHERE NOT EXISTS "
                       "(SELECT 1 FROM db.uex WHERE x > 5)")
    assert pk_table.read(spark).count() == 0


def test_sql_merge_deeply_nested_using_source(spark, catalog, pk_table):
    """USING (subquery) may nest parens arbitrarily deep — the old head
    regex capped at two levels."""
    catalog.sql(spark, """
        MERGE INTO db.sqlpk t
        USING (SELECT k, v FROM (SELECT k, upper(v) v FROM
                  (SELECT 1 k, 'zz' v) base
               WHERE k IN (SELECT max(1)))) s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, s.v, 0)
    """)
    got = {r["k"]: r["v"] for r in pk_table.read(spark).collect()}
    assert got[1] == "ZZ"


def test_sql_merge_not_matched_by_target(spark, catalog, pk_table):
    """Spark's explicit `WHEN NOT MATCHED BY TARGET` spelling of plain
    NOT MATCHED."""
    catalog.sql(spark, """
        MERGE INTO db.sqlpk t USING (SELECT 9 k, 'new' v, 90 n) s
        ON t.k = s.k
        WHEN NOT MATCHED BY TARGET THEN INSERT (k, v, n)
            VALUES (s.k, s.v, s.n)
    """)
    got = {r["k"]: r["v"] for r in pk_table.read(spark).collect()}
    assert got[9] == "new"
    with pytest.raises(ValueError, match="MATCHED BY TARGET"):
        catalog.sql(spark, """
            MERGE INTO db.sqlpk t USING (SELECT 1 k) s ON t.k = s.k
            WHEN MATCHED BY TARGET THEN DELETE
        """)


def test_sql_exists_unsupported_shapes_fail_loud(spark, catalog, pk_table):
    catalog.create_table("db.exf", _schema("k bigint, w bigint"))
    # two correlations: loud error, not a wrong answer
    with pytest.raises(ValueError, match="exactly one correlated"):
        catalog.sql(spark, "DELETE FROM db.sqlpk WHERE EXISTS "
                           "(SELECT 1 FROM db.exf s WHERE s.k = sqlpk.k "
                           "AND s.w = sqlpk.n)")
    # non-equality correlation: loud error
    with pytest.raises(ValueError, match="equality correlation"):
        catalog.sql(spark, "DELETE FROM db.sqlpk WHERE EXISTS "
                           "(SELECT 1 FROM db.exf s WHERE s.k > sqlpk.k)")
