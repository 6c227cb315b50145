"""Pins for the task-side data-file writer (formats/avro_direct.py): every
avro data file, and every file the DataSource writers write in any format.

Its correctness surface is (a) identical read-back rows and (b) manifest
stats equal to the parquet-footer numbers Spark's parquet writer produces
for the same rows wherever a footer carries statistics — min/max/null_count
feed file pruning, `_SEQUENCE_NUMBER` ordering and the `_VALUE_KIND`
delete-row proof. Every pin compares against a table written from the same
input with the same layout (coalesce(1) / trigger=1 / bucket count), so
each is a true A/B on identical rows."""

import json
import math
import os
import shutil
from datetime import date, datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incubator_paimon_spark import P
from incubator_paimon_spark.metadata.util import _Enc
from incubator_paimon_spark.types import SEQUENCE_NUMBER

ONE_FILE = {"num-sorted-run.compaction-trigger": "1"}


def _sig(obj) -> str:
    return json.dumps(obj, cls=_Enc, sort_keys=True)


def _file_sigs(t, drop_cols=(), with_seq=True):
    """Order-insensitive per-file signature multiset (names carry uuids):
    row count, stats, seq bounds, delete-row proof, layout, bloom index."""
    sigs = []
    for e in t.entries_at(t.snapshots.latest()):
        stats = {c: s for c, s in e.file.stats.items() if c not in drop_cols}
        sig = {"rc": e.file.row_count, "stats": stats,
               "dr": e.file.delete_row_count, "fi": e.file.file_index,
               "part": sorted(e.partition.items()), "bucket": e.bucket}
        if with_seq:
            sig["seq"] = [e.file.min_seq, e.file.max_seq]
        sigs.append(_sig(sig))
    return sorted(sigs)


def _same_rows(a, b):
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


EDGE_SCHEMA = T.StructType([
    T.StructField("i", T.IntegerType()),
    T.StructField("l", T.LongType()),
    T.StructField("d_nan", T.DoubleType()),
    T.StructField("d_zero", T.DoubleType()),
    T.StructField("f32", T.FloatType()),
    T.StructField("all_null", T.StringType()),
    T.StructField("s", T.StringType()),
    T.StructField("s_long", T.StringType()),
    T.StructField("s17", T.StringType()),
    T.StructField("b", T.BooleanType()),
    T.StructField("dt", T.DateType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("tsn", T.TimestampNTZType()),
    T.StructField("bin", T.BinaryType()),
    T.StructField("dec", T.DecimalType(10, 2)),
    T.StructField("arr", T.ArrayType(T.IntegerType())),
])


def _edge_rows():
    return [
        (1, 10, float("nan"), -0.0, float("-0.0"), None, "mid",
         "x" * 5000, "a_string_longer_than_sixteen_chars", True,
         date(2020, 1, 2), datetime(2021, 3, 4, 5, 6, 7),
         datetime(2021, 3, 4, 5, 6, 7), bytearray(b"ab"),
         Decimal("12.34"), [1, 2]),
        (2, -5, 1.5, 0.0, 0.0, None, "zzz",
         "y" * 5000, "b_string_longer_than_sixteen_chars", False,
         date(2019, 5, 6), datetime(2022, 1, 1), datetime(2022, 1, 1),
         bytearray(b"zz"), Decimal("-5.00"), [3]),
        (3, 7, -2.0, 2.5, float("nan"), None, "aaa",
         "w" * 10, "shorty", None, None, None, None, None, None, None),
    ]


def _merged_stats(t) -> dict:
    """Per-column stats merged over the latest snapshot's files."""
    stats = {}
    for e in t.entries_at(t.snapshots.latest()):
        for c, st in e.file.stats.items():
            cur = stats.setdefault(c, {"null_count": 0})
            cur["null_count"] += st["null_count"]
            if "min" in st and ("min" not in cur or st["min"] < cur["min"]):
                cur["min"] = st["min"]
            if "max" in st:
                mx = st["max"]
                if "max" not in cur:
                    cur["max"] = mx
                elif isinstance(mx, float) and math.isnan(mx):
                    cur["max"] = mx
                elif not (isinstance(cur["max"], float)
                          and math.isnan(cur["max"])) and mx > cur["max"]:
                    cur["max"] = mx
    return stats


def test_direct_stats_parity_edge_types(spark, catalog):
    """Byte-level stats parity with parquet footers on every edge: NaN
    max (Java total order), -0.0 min, NTZ full stats, decimal
    null-count-only, >4096 string stats drop, truncate(16) prefix-min /
    dropped-max, nested column skipped, all-null column. TimestampType is
    INT96 in Spark's parquet, whose footer has no statistics: the parquet
    table has no `ts` entry, the avro table real bounds and null count.
    coalesce(1) + trigger=1 keep all rows in ONE file (the avro write
    otherwise spreads small appends to `min(cores, trigger)` tasks): the
    4096-byte stats-drop rule is per-file, so the spot-checks below only
    read cleanly when the edge rows share a footer."""
    df = spark.createDataFrame(_edge_rows(), EDGE_SCHEMA).coalesce(1)
    ta = catalog.create_table("db.dx_a", df.schema,
                              options={"file.format": "avro", **ONE_FILE})
    ta.write(spark, df)
    tp = catalog.create_table("db.dx_p", df.schema, options=ONE_FILE)
    tp.write(spark, df)
    assert (_file_sigs(ta, drop_cols=("ts",))
            == _file_sigs(tp, drop_cols=("ts",)))
    _same_rows(ta.read(spark), tp.read(spark))
    assert "ts" not in _merged_stats(tp)            # INT96: no footer stats
    # spot-check the semantics themselves on the avro table
    stats = _merged_stats(ta)
    assert "arr" not in stats                       # nested: no entry
    assert stats["ts"] == {"null_count": 1,         # real bounds + nulls
                           "min": datetime(2021, 3, 4, 5, 6, 7),
                           "max": datetime(2022, 1, 1)}
    assert "min" in stats["tsn"]                    # NTZ: real stats
    assert stats["dec"] == {"null_count": 1}        # decimal: counts only
    assert "s_long" not in stats                    # >4096: dropped whole
    assert stats["all_null"] == {"null_count": 3}
    assert math.isnan(stats["d_nan"]["max"])        # Java order: NaN is max
    assert stats["d_nan"]["min"] == -2.0
    import struct as _st
    assert _st.pack("<d", stats["d_zero"]["min"]) == _st.pack("<d", -0.0)
    assert stats["s17"]["min"] == "a_string_longer_"  # truncate(16) prefix
    assert "max" not in stats["s17"] or len(stats["s17"]["max"]) <= 16


def test_direct_readback_identical_and_pk_system_cols(spark, catalog,
                                                      customer):
    """PK avro table vs PK parquet table from the same commits: read-back
    rows identical, and the _SEQUENCE_NUMBER min/max + _VALUE_KIND delete
    proof in the manifests agree (delete_row_count 0 on '+'-only files,
    None when a -D row is in the file)."""
    from incubator_paimon_spark.types import ROW_KIND

    upd = (customer.limit(20)
           .withColumn(ROW_KIND, F.when(F.col("c_custkey") % 2 == 0,
                                        F.lit("-D")).otherwise(F.lit("+I"))))
    tabs = {}
    for fmt in ("avro", "parquet"):
        t = catalog.create_table(f"db.dxpk_{fmt}", customer.schema,
                                 primary_keys=["c_custkey"],
                                 options={"file.format": fmt, "bucket": "2"})
        t.write(spark, customer)
        t.write(spark, upd)
        tabs[fmt] = t
    _same_rows(tabs["avro"].read(spark), tabs["parquet"].read(spark))
    assert _file_sigs(tabs["avro"]) == _file_sigs(tabs["parquet"])
    # the second commit carries -D rows: at least one file must prove it
    drs = [e.file.delete_row_count
           for e in tabs["avro"].entries_at(tabs["avro"].snapshots.latest())]
    assert None in drs and 0 in drs


def test_direct_rolls_at_max_records_per_file(spark, catalog, customer):
    t = catalog.create_table("db.dx_roll", customer.schema,
                             options={"file.format": "avro",
                                      "write.max-records-per-file": "40"})
    t.write(spark, customer.limit(100))
    entries = t.new_scan().plan().entries
    assert all(e.file.row_count <= 40 for e in entries)
    assert sum(e.file.row_count for e in entries) == 100
    assert t.read(spark).count() == 100


def test_direct_rolls_at_target_file_size_on_first_commit(spark, catalog,
                                                          customer):
    """A fresh table has no bytes/row history, so no row cap: the writer
    still rolls its files at target-file-size of encoded bytes, so a task
    never holds its whole output."""
    df = customer.coalesce(1)
    t = catalog.create_table("db.dx_tfs", customer.schema,
                             options={"file.format": "avro",
                                      "target-file-size": "2kb",
                                      "write-only": "true", **ONE_FILE})
    t.write(spark, df)
    entries = t.entries_at(t.snapshots.read(1))
    assert len(entries) > 1
    assert sum(e.file.row_count for e in entries) == customer.count()
    _same_rows(t.read(spark), customer)


def test_direct_partitioned_layout_roundtrip(spark, catalog):
    """Partition values reported by the task must be the typed values —
    including booleans, dates and NULL."""
    df = spark.createDataFrame(
        [(1, True, date(2020, 1, 1), "x"),
         (2, False, date(2020, 1, 2), "y"),
         (3, None, None, "z"),
         (4, True, date(2020, 1, 1), "w")],
        "id long, flag boolean, d date, v string")
    t = catalog.create_table("db.dx_part", df.schema,
                             partition_keys=["flag", "d"],
                             options={"file.format": "avro"})
    t.write(spark, df)
    got = sorted(map(tuple, t.read(spark).collect()))
    assert got == sorted(map(tuple, df.collect()))
    parts = {tuple(sorted(e.partition.items()))
             for e in t.entries_at(t.snapshots.latest())}
    assert (("d", date(2020, 1, 1)), ("flag", True)) in parts
    assert (("d", None), ("flag", None)) in parts
    # partition pruning by typed value still works
    assert t.read(spark).filter("flag = true").count() == 2


def _header_schema(t):
    from incubator_paimon_spark.formats.avro_codec import MAGIC

    e = t.new_scan().plan().entries[0]
    path = os.path.join(t.path, e.file.file_name)
    with open(path, "rb") as f:
        blob = f.read(1 << 16)
    assert blob[:4] == MAGIC
    i = blob.index(b'{"type": "record"')
    obj, _ = json.JSONDecoder().raw_decode(
        blob[i:i + 60000].decode("utf-8", "replace"))
    return obj


def test_container_header_schema_golden(spark, catalog):
    """The avro writer schema embedded in the container header is pinned,
    union nullability and logical types included, so any avro reader keeps
    seeing the same files."""
    df = spark.createDataFrame(
        [(1, "a", 1.5, date(2020, 1, 1), Decimal("1.25"))],
        "id bigint not null, s string, x double, d date, dec decimal(10,2)")
    t = catalog.create_table("db.dx_hdr", df.schema,
                             primary_keys=["id"],
                             options={"file.format": "avro", "bucket": "1"})
    t.write(spark, df)
    assert _header_schema(t) == {
        "type": "record", "name": "row", "fields": [
            {"name": "id", "type": "long"},
            {"name": "s", "type": ["null", "string"]},
            {"name": "x", "type": ["null", "double"]},
            {"name": "d", "type": ["null", {"type": "int",
                                            "logicalType": "date"}]},
            {"name": "dec", "type": ["null", {
                "type": "bytes", "logicalType": "decimal", "precision": 10,
                "scale": 2}]},
            {"name": "_VALUE_KIND", "type": "string"},
            {"name": "_SEQUENCE_NUMBER", "type": "long"}]}


def test_nested_map_avro_append(spark, catalog):
    """A map nested in an array or struct cannot be hashed by Spark; the
    single-partition avro append's spread key must skip such columns."""
    df = spark.createDataFrame(
        [(1, [{"a": 1}], {"m": {"k": 2}}), (2, [], {"m": None}),
         (3, None, None)],
        "id int, am array<map<string,int>>, sm struct<m: map<string,int>>"
    ).coalesce(1)
    t = catalog.create_table("db.dx_nmap", df.schema,
                             options={"file.format": "avro"})
    t.write(spark, df)
    assert (sorted(t.read(spark).collect(), key=lambda r: r.id)
            == sorted(df.collect(), key=lambda r: r.id))


def test_avro_bloom_index_equals_parquet(spark, catalog):
    """The bloom index the avro task computes from Arrow values equals the
    one the parquet path's Spark scan derives, on every probeable type
    (integral, string, date), including an all-NULL column (no entry) and
    a saturated one (None)."""
    n = 1200
    df = (spark.range(n).coalesce(1)
          .select(F.col("id").cast("int").alias("i"),
                  (F.col("id") % 7).cast("smallint").alias("sm"),
                  (F.col("id") * 1000).alias("big"),
                  F.concat(F.lit("s"), (F.col("id") % 13).cast("string"))
                   .alias("s"),
                  F.date_add(F.lit("2020-01-01").cast("date"),
                             (F.col("id") % 5).cast("int")).alias("d"),
                  F.lit(None).cast("string").alias("nul")))
    cols = "i,sm,big,s,d,nul"
    ta = catalog.create_table("db.dx_bl_a", df.schema, options={
        "file.format": "avro", "file-index.bloom-filter.columns": cols,
        **ONE_FILE})
    tp = catalog.create_table("db.dx_bl_p", df.schema, options={
        "file-index.bloom-filter.columns": cols, **ONE_FILE})
    ta.write(spark, df)
    tp.write(spark, df)
    assert _file_sigs(ta) == _file_sigs(tp)
    fi = ta.entries_at(ta.snapshots.latest())[0].file.file_index
    assert fi["i"] is None and fi["big"] is None      # saturated
    assert "nul" not in fi                             # all NULL
    assert all(fi[c] for c in ("sm", "s", "d"))
    # the index prunes: an absent in-range value skips the file
    assert len(ta.new_scan().plan(P.eq("s", "s55")).entries) == 0
    assert len(ta.new_scan().plan(P.eq("s", "s3")).entries) == 1


@pytest.mark.parametrize("fmt", ["parquet", "avro"])
def test_bloom_never_prunes_unprobeable_types(spark, catalog, fmt):
    """The writer hashes Spark's cast(string), the planner str(literal);
    for boolean, double, decimal and timestamp those differ, so the
    planner must not probe their blooms: every pruned read equals the
    unpruned filter."""
    ts = datetime(2021, 3, 4, 5, 6, 7, 123456)
    df = spark.createDataFrame(
        [(1, True, 1e20, Decimal("12.3"), ts),
         (5, False, 2.5, Decimal("1.00"), datetime(2020, 1, 1))],
        "id int, b boolean, x double, dec decimal(10,2), tsn timestamp_ntz")
    t = catalog.create_table(f"db.dx_blt_{fmt}", df.schema, options={
        "file.format": fmt, **ONE_FILE,
        "file-index.bloom-filter.columns": "id,b,x,dec,tsn"})
    t.write(spark, df.coalesce(1))
    full = t.read(spark)
    for col, lit in (("b", True), ("x", 1e20), ("dec", Decimal("12.3")),
                     ("tsn", ts)):
        got = t.read(spark, predicate=P.eq(col, lit)).collect()
        want = full.filter(F.col(col) == F.lit(lit)).collect()
        assert len(want) == 1 and got == want, (col, got)
    # probeable column: an absent in-range value (stats keep it) is still
    # pruned by the bloom
    assert len(t.new_scan().plan(P.eq("id", 3)).entries) == 0
    assert len(t.new_scan().plan(P.eq("id", 5)).entries) == 1


def _dsv2_pairs(spark, catalog, src, tag, **table_kw):
    """(DataSource-written avro table, Table.write avro table) from the
    same rows: one input partition, so both write one file per bucket."""
    from incubator_paimon_spark.datasource import register

    register(spark)
    opts = {"file.format": "avro", **table_kw.pop("options", {})}
    tw = catalog.create_table(f"db.{tag}_tw", src.schema, options=opts,
                              **table_kw)
    tw.write(spark, src)
    ds = catalog.create_table(f"db.{tag}_ds", src.schema, options=opts,
                              **table_kw)
    src.write.format("paimon").mode("append").option("path", ds.path).save()
    return ds, tw


@pytest.mark.parametrize("bloom", [False, True])
@pytest.mark.parametrize("pk", [False, True])
def test_dsv2_avro_matches_table_write(spark, catalog, customer, pk, bloom):
    """df.write.format("paimon") on an avro table encodes in the write task
    with the same encoder, stats rules and bloom hash as Table.write: the
    files' stats, seq bounds and bloom index are equal."""
    src = customer.coalesce(1)
    kw = {"options": {"bucket": "2"} if pk else dict(ONE_FILE)}
    if bloom:
        kw["options"]["file-index.bloom-filter.columns"] = \
            "c_name,c_nationkey"
    if pk:
        kw["primary_keys"] = ["c_custkey"]
    ds, tw = _dsv2_pairs(spark, catalog, src,
                         f"dsa_{int(pk)}{int(bloom)}", **kw)
    files = [e.file.file_name for e in ds.entries_at(ds.snapshots.latest())]
    assert files and all(f.endswith(".avro") for f in files)
    assert _file_sigs(ds) == _file_sigs(tw)
    _same_rows(ds.read(spark), tw.read(spark))


@pytest.mark.skipif(shutil.which("javac") is None,
                    reason="needs a JDK compiler")
@pytest.mark.parametrize("bloom", [False, True])
@pytest.mark.parametrize("pk", [False, True])
def test_sql_insert_avro_matches_table_write(spark, catalog, customer, pk,
                                             bloom):
    """SQL INSERT through the native catalog on an avro table: data-column
    stats and bloom index equal a Table.write avro table from the same
    rows (the clustered write numbers _SEQUENCE_NUMBER per task, so seq
    bounds are not compared)."""
    from incubator_paimon_spark.jvm_catalog import install_sql_catalog

    tag = f"{int(pk)}{int(bloom)}"
    install_sql_catalog(spark, f"pdx{tag}", catalog.warehouse)
    opts = {"file.format": "avro"}
    if bloom:
        opts["file-index.bloom-filter.columns"] = "c_name"
    kw = {}
    if pk:
        opts["bucket"] = "2"
        kw["primary_keys"] = ["c_custkey"]
    else:
        opts.update(ONE_FILE)
    tw = catalog.create_table(f"db.sqa_{tag}_tw", customer.schema,
                              options=opts, **kw)
    tw.write(spark, customer.coalesce(1))
    ds = catalog.create_table(f"db.sqa_{tag}_ds", customer.schema,
                              options=opts, **kw)
    customer.coalesce(1).createOrReplaceTempView("sqa_src")
    spark.sql(f"INSERT INTO pdx{tag}.db.sqa_{tag}_ds SELECT * FROM sqa_src")
    assert (_file_sigs(ds, drop_cols=(SEQUENCE_NUMBER,), with_seq=False)
            == _file_sigs(tw, drop_cols=(SEQUENCE_NUMBER,), with_seq=False))
    _same_rows(ds.read(spark), tw.read(spark))


# (pk, bloom, via) of the DataSource writes each format makes: together
# they cover PK and append tables, bloom on and off, df.write and SQL
# INSERT, against Table.write avro tables of the same rows and options
_EDGE_CONFIGS = [(False, False, "df"), (True, True, "df"),
                 (False, True, "sql"), (True, False, "sql")]


def _edge_table(catalog, name, fmt, pk, bloom):
    opts = {"file.format": fmt, **({"bucket": "2"} if pk else ONE_FILE)}
    if bloom:
        opts["file-index.bloom-filter.columns"] = "i,l,s,dt"
    return catalog.create_table(name, EDGE_SCHEMA, options=opts,
                                primary_keys=["i"] if pk else None)


@pytest.fixture(scope="module")
def edge_refs(spark, tmp_path_factory):
    """One Table.write avro table of the edge rows per config, shared by
    the per-format DataSource writer tests."""
    from incubator_paimon_spark import Catalog

    catalog = Catalog(str(tmp_path_factory.mktemp("edge_wh")))
    df = spark.createDataFrame(_edge_rows(), EDGE_SCHEMA).coalesce(1)
    refs = {}
    for pk, bloom, _ in _EDGE_CONFIGS:
        t = _edge_table(catalog, f"db.edge_ref_{int(pk)}{int(bloom)}",
                        "avro", pk, bloom)
        t.write(spark, df)
        refs[pk, bloom] = t
    return catalog, df, refs


@pytest.mark.parametrize("fmt", ["parquet", "orc", "avro"])
def test_datasource_writer_matches_table_write_avro(spark, edge_refs, fmt):
    """The DataSource writers encode every format through the layout
    writer, stats rule and bloom hash of Table.write's avro: on the edge
    rows each file's stats and bloom index are equal (seq bounds too for
    df.write; SQL INSERT's clustered write numbers _SEQUENCE_NUMBER per
    task), and the rows read back equal."""
    from incubator_paimon_spark.datasource import register

    catalog, df, refs = edge_refs
    register(spark)
    sql = shutil.which("javac") is not None
    if sql:
        from incubator_paimon_spark.jvm_catalog import install_sql_catalog
        install_sql_catalog(spark, f"pedge_{fmt}", catalog.warehouse)
        df.createOrReplaceTempView("edge_src")
    for pk, bloom, via in _EDGE_CONFIGS:
        if via == "sql" and not sql:
            continue
        name = f"edge_{fmt}_{int(pk)}{int(bloom)}"
        ds = _edge_table(catalog, f"db.{name}", fmt, pk, bloom)
        if via == "df":
            df.write.format("paimon").mode("append").option(
                "path", ds.path).save()
        else:
            spark.sql(f"INSERT INTO pedge_{fmt}.db.{name} "
                      "SELECT * FROM edge_src")
        files = [e.file.file_name
                 for e in ds.entries_at(ds.snapshots.latest())]
        assert files and all(f.endswith(f".{fmt}") for f in files)
        drop = (SEQUENCE_NUMBER,) if via == "sql" else ()
        ref = refs[pk, bloom]
        assert (_file_sigs(ds, drop, via == "df")
                == _file_sigs(ref, drop, via == "df")), (pk, bloom, via)
        _same_rows(ds.read(spark), ref.read(spark))


def test_is_null_keeps_files_without_footer_stats(spark, catalog):
    """A column whose footer has no statistics (Spark's INT96 timestamps,
    parquet-mr's ≥4096-byte string drop) has no stats entry, and the
    writers' own rule matches: IS NULL never prunes the file holding the
    NULL, on Table.write parquet and avro and on DataSource avro."""
    from incubator_paimon_spark.datasource import register

    register(spark)
    df = spark.createDataFrame(
        [(1, datetime(2021, 3, 4), "x" * 5000), (2, None, None)],
        "id int, ts timestamp, s string").coalesce(1)
    for fmt, via in (("parquet", "tw"), ("avro", "tw"), ("avro", "ds")):
        t = catalog.create_table(f"db.isn_{fmt}_{via}", df.schema,
                                 options={"file.format": fmt, **ONE_FILE})
        if via == "tw":
            t.write(spark, df)
        else:
            df.write.format("paimon").mode("append").option(
                "path", t.path).save()
        for col in ("ts", "s"):
            got = t.read(spark, predicate=P.is_null(col)).collect()
            assert [r.id for r in got] == [2], (fmt, via, col)
        assert spark.read.format("paimon").load(t.path).filter(
            "ts IS NULL").count() == 1, (fmt, via)


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_datasource_nan_rows_survive_filters(spark, catalog, fmt):
    """A double holding NaN: the file's max is NaN (Spark orders NaN above
    every value), and a parquet footer carries no double statistics for
    Spark's row-group pushdown to trust, so `d > 2.0` finds the NaN row
    through Table.read and format("paimon") — whose PK merge read keeps
    the NaN a NaN, not a NULL."""
    import pyarrow.parquet as pq

    from incubator_paimon_spark.datasource import register

    register(spark)
    df = spark.createDataFrame([(1, 1.0), (2, float("nan"))],
                               "id int, d double").coalesce(1)
    for pk in (False, True):
        t = catalog.create_table(
            f"db.nan_{fmt}_{int(pk)}", df.schema,
            primary_keys=["id"] if pk else None,
            options={"file.format": fmt, **({"bucket": "1"} if pk else {})})
        df.write.format("paimon").mode("append").option(
            "path", t.path).save()
        assert math.isnan(_merged_stats(t)["d"]["max"])
        if fmt == "parquet":
            for e in t.entries_at(t.snapshots.latest()):
                md = pq.ParquetFile(os.path.join(t.path, e.file.file_name)
                                    ).metadata
                assert md.row_group(0).column(1).statistics is None
        for got in (t.read(spark), spark.read.format("paimon").load(t.path)):
            assert [r.id for r in got.filter("d > 2.0").collect()] == [2], pk


def test_datasource_orc_timestamp_roundtrip_non_utc(spark, catalog):
    """DataSource ORC files store timestamps the way Spark's ORC writer
    does (TimestampType a plain ORC timestamp of the UTC wall clock, NTZ a
    tagged bigint): under a non-UTC session zone the values read back
    unchanged through Table.read, the DataSource reader (append and PK
    merge reads) and the stream reader."""
    from incubator_paimon_spark.datasource import register

    register(spark)
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        rows = [(1, datetime(2021, 3, 4, 5, 6, 7), datetime(2021, 3, 4)),
                (2, datetime(2022, 7, 1, 23, 30), None), (3, None, None)]
        df = spark.createDataFrame(rows,
                                   "id int, ts timestamp, tsn timestamp_ntz")
        for pk in (False, True):
            t = catalog.create_table(
                f"db.orc_ts_{int(pk)}", df.schema,
                primary_keys=["id"] if pk else None,
                options={"file.format": "orc",
                         **({"bucket": "1"} if pk else {})})
            df.write.format("paimon").mode("append").option(
                "path", t.path).save()
            q = (spark.readStream.format("paimon")
                 .option("scan.mode", "earliest").load(t.path)
                 .writeStream.format("memory")
                 .queryName(f"orc_ts_stream_{int(pk)}")
                 .trigger(availableNow=True).start())
            q.awaitTermination(180)
            for got in (t.read(spark),
                        spark.read.format("paimon").load(t.path),
                        spark.table(f"orc_ts_stream_{int(pk)}")):
                assert sorted(map(tuple, got.select(
                    "id", "ts", "tsn").collect())) == rows, pk
    finally:
        spark.conf.set(key, prev)


def test_datasource_parquet_append_rolls_at_target_file_size(spark, catalog,
                                                             customer):
    """A single-task DataSource parquet append streams its batches into
    files that roll at target-file-size; every row is intact."""
    from incubator_paimon_spark.datasource import register

    register(spark)
    t = catalog.create_table("db.ds_roll", customer.schema,
                             options={"target-file-size": "2kb",
                                      "write-only": "true"})
    customer.coalesce(1).write.format("paimon").mode("append").option(
        "path", t.path).save()
    entries = t.entries_at(t.snapshots.read(1))
    assert len(entries) > 1
    assert sum(e.file.row_count for e in entries) == customer.count()
    _same_rows(t.read(spark), customer)


def test_migrate_orc_stats_match_writers(spark, catalog, tmp_path):
    """CALL sys.migrate_table on an ORC source applies the writers' stats
    rule: NaN is a double's max, NTZ and TimestampType bounds are
    datetimes — equal to Table.write's avro and orc stats of the rows."""
    from incubator_paimon_spark.procedures import call_sql

    df = spark.createDataFrame(
        [(1, 1.0, datetime(2021, 3, 4, 5, 6, 7), datetime(2021, 3, 4)),
         (2, float("nan"), None, datetime(2022, 1, 1, 0, 0, 0, 5))],
        "id int, d double, ts timestamp, tsn timestamp_ntz").coalesce(1)
    df.write.orc(str(tmp_path / "src"))
    tm = call_sql(spark, catalog,
                  f"CALL sys.migrate_table(table => 'db.mig_nan', "
                  f"source_dir => '{tmp_path / 'src'}')")
    got = _sig(_merged_stats(tm))
    assert math.isnan(_merged_stats(tm)["d"]["max"])
    for fmt in ("avro", "orc"):
        t = catalog.create_table(f"db.mig_ref_{fmt}", df.schema,
                                 options={"file.format": fmt, **ONE_FILE})
        t.write(spark, df)
        assert got == _sig(_merged_stats(t)), fmt
