"""file.format=avro: pure-Python Object Container codec (Avro 1.11 spec) +
engine integration — direct Arrow→avro write task, mapInArrow decode
on read (AvroFileFormat.java:50 parity without the spark-avro jar)."""

from datetime import date, datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incubator_paimon_spark.formats import avro_codec as A


def test_codec_roundtrip_all_types():
    schema = T.StructType([
        T.StructField("a", T.LongType()), T.StructField("b", T.StringType()),
        T.StructField("c", T.DoubleType()), T.StructField("d", T.DateType()),
        T.StructField("e", T.TimestampNTZType()),
        T.StructField("f", T.BooleanType()),
        T.StructField("g", T.ArrayType(T.IntegerType())),
        T.StructField("h", T.MapType(T.StringType(), T.DoubleType())),
        T.StructField("i", T.DecimalType(10, 2)),
        T.StructField("j", T.BinaryType()),
        T.StructField("k", T.StructType([T.StructField("x", T.IntegerType()),
                                         T.StructField("y", T.StringType())])),
    ])
    avs = A.spark_schema_to_avro(schema)
    rows = [
        {"a": 1, "b": "héllo", "c": 2.5, "d": date(2024, 3, 1),
         "e": datetime(2024, 3, 1, 12, 30, 15, 123456), "f": True,
         "g": [1, None, -3], "h": {"p": 1.5, "q": -2.0},
         "i": Decimal("12.34"), "j": b"\x00\xff", "k": {"x": 7, "y": "z"}},
        {"a": -(2 ** 62), "b": None, "c": None, "d": None, "e": None,
         "f": False, "g": None, "h": None, "i": None, "j": None, "k": None},
    ] * 50
    for codec in ("deflate", "null"):
        data = A.write_container(avs, rows, codec=codec)
        got_schema, it = A.read_container(data)
        got = list(it)
        assert got == rows
        assert got_schema == avs


def test_codec_multi_block():
    avs = A.spark_schema_to_avro(
        T.StructType([T.StructField("n", T.LongType())]))
    rows = [{"n": i} for i in range(10_000)]
    data = A.write_container(avs, rows, block_rows=256)
    assert [r["n"] for r in A.read_container(data)[1]] == list(range(10_000))


def test_avro_table_append_and_pk_merge(spark, catalog, customer):
    t = catalog.create_table("db.avro_app", customer.schema,
                             options={"file.format": "avro"})
    t.write(spark, customer)
    assert t.read(spark).count() == customer.count()
    names = [e.file.file_name for e in t.new_scan().plan().entries]
    assert names and all(n.endswith(".avro") for n in names)
    # values survive the parquet->avro->spark round trip exactly
    a = sorted(t.read(spark).select("c_custkey", "c_acctbal").collect())
    b = sorted(customer.select("c_custkey", "c_acctbal").collect())
    assert a == b

    tp = catalog.create_table("db.avro_pk", customer.schema,
                              primary_keys=["c_custkey"],
                              options={"file.format": "avro", "bucket": "2"})
    tp.write(spark, customer)
    tp.write(spark, customer.limit(10).withColumn("c_acctbal", F.lit(9.5)))
    assert tp.read(spark).count() == customer.count()
    assert tp.read(spark).filter("c_acctbal = 9.5").count() == 10
    tp.compact(spark, full=True)
    assert tp.read(spark).filter("c_acctbal = 9.5").count() == 10


def test_avro_rejects_deletion_vectors(catalog, customer):
    with pytest.raises(ValueError, match="parquet"):
        catalog.create_table("db.avro_dv", customer.schema,
                             options={"file.format": "avro",
                                      "deletion-vectors.enabled": "true"})


def test_codec_map_from_arrow_tuples_and_aware_timestamp():
    """pyarrow to_pylist yields maps as (k,v) tuple lists, and TIMESTAMP
    (tz-aware) columns must round-trip as tz-aware UTC — a naive datetime
    would be re-interpreted in the session timezone (r5 review)."""
    from datetime import timezone
    schema = T.StructType([
        T.StructField("m", T.MapType(T.StringType(), T.LongType())),
        T.StructField("ts", T.TimestampType()),
    ])
    avs = A.spark_schema_to_avro(schema)
    aware = datetime(2026, 1, 1, 12, 0, 0, tzinfo=timezone.utc)
    rows = [{"m": [("a", 1), ("b", 2)], "ts": aware}]   # arrow-shaped map
    got = list(A.read_container(A.write_container(avs, rows))[1])[0]
    assert got["m"] == {"a": 1, "b": 2}
    assert got["ts"] == aware and got["ts"].tzinfo is not None


def test_avro_table_with_map_column(spark, catalog):
    df = spark.createDataFrame([(1, {"x": 1.5}), (2, {"y": -2.0})],
                               "k long, m map<string,double>")
    t = catalog.create_table("db.avro_map", df.schema,
                             options={"file.format": "avro"})
    t.write(spark, df)
    got = {r["k"]: dict(r["m"]) for r in t.read(spark).collect()}
    assert got == {1: {"x": 1.5}, 2: {"y": -2.0}}


def test_columnar_decoder_matches_row_decoder():
    """avro_decode's schema-compiled block decoder must agree cell-for-cell
    with the generic row decoder on every supported type, including the
    bug classes found in review: a nullable union whose inner type needs
    the generic fallback (tag must be consumed exactly once) and decimal
    (logicalType must not ride the plain-bytes fast path)."""
    from incubator_paimon_spark.formats import avro_decode as D
    schema = T.StructType([
        T.StructField("a", T.LongType()), T.StructField("b", T.StringType()),
        T.StructField("c", T.DoubleType()), T.StructField("d", T.DateType()),
        T.StructField("e", T.TimestampNTZType()),
        T.StructField("f", T.BooleanType()),
        T.StructField("g", T.ArrayType(T.IntegerType())),
        T.StructField("h", T.MapType(T.StringType(), T.DoubleType())),
        T.StructField("i", T.DecimalType(10, 2)),
        T.StructField("j", T.BinaryType()),
        T.StructField("k", T.StructType([T.StructField("x", T.IntegerType()),
                                         T.StructField("y", T.StringType())])),
        T.StructField("nn", T.FloatType(), nullable=False),
    ])
    avs = A.spark_schema_to_avro(schema)
    rows = [
        {"a": 1, "b": "héllo", "c": 2.5, "d": date(2024, 3, 1),
         "e": datetime(2024, 3, 1, 12, 30, 15, 123456), "f": True,
         "g": [1, None, -3], "h": {"p": 1.5, "q": -2.0},
         "i": Decimal("12.34"), "j": b"\x00\xff", "k": {"x": 7, "y": "z"},
         "nn": 1.5},
        {"a": -(2 ** 62), "b": None, "c": None, "d": None, "e": None,
         "f": False, "g": None, "h": None, "i": None, "j": None, "k": None,
         "nn": -0.25},
    ] * 37
    for codec in ("deflate", "null"):
        data = A.write_container(avs, rows, codec=codec, block_rows=16)
        old = list(A.read_container(data)[1])
        tbl = D.read_container_arrow(data)
        assert tbl.num_rows == len(old)
        for col in ("a", "b", "c", "d", "f", "g", "i", "j", "nn"):
            assert tbl.column(col).to_pylist() == [r[col] for r in old], col
        # map comes back as arrow tuple-pairs; struct as dict
        assert [None if v is None else dict(v)
                for v in tbl.column("h").to_pylist()] == [r["h"] for r in old]
        assert tbl.column("k").to_pylist() == [r["k"] for r in old]
        # ntz timestamp: arrow naive == codec naive
        assert tbl.column("e").to_pylist() == [r["e"] for r in old]


def test_columnar_decoder_target_schema_evolution():
    """A target arrow schema narrows/extends the result like the old row
    path: missing fields read as nulls, int32 widens to int64."""
    import pyarrow as pa
    from incubator_paimon_spark.formats import avro_decode as D
    avs = A.spark_schema_to_avro(T.StructType([
        T.StructField("k", T.IntegerType()), T.StructField("v", T.StringType())]))
    data = A.write_container(avs, [{"k": i, "v": f"s{i}"} for i in range(100)])
    target = pa.schema([pa.field("k", pa.int64()),
                        pa.field("added", pa.string())])
    tbl = D.read_container_arrow(data, target)
    assert tbl.schema == target
    assert tbl.column("k").to_pylist() == list(range(100))
    assert tbl.column("added").null_count == 100


def test_columnar_encoder_byte_identical_to_row_encoder():
    """avro_encode's compiled block encoder must produce BYTE-identical
    containers to the row encoder for the same rows (same framing, same
    varints), across both codecs and multi-block files, including union
    fallback cells (decimal) and temporal int-cast columns."""
    import pyarrow as pa
    from incubator_paimon_spark.formats import avro_encode as E
    from datetime import timezone
    schema = T.StructType([
        T.StructField("a", T.LongType()), T.StructField("b", T.StringType()),
        T.StructField("d", T.DateType()),
        T.StructField("e", T.TimestampNTZType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("g", T.ArrayType(T.IntegerType())),
        T.StructField("i", T.DecimalType(10, 2)),
        T.StructField("nn", T.DoubleType(), nullable=False),
    ])
    avs = A.spark_schema_to_avro(schema)
    rows = [{"a": i - 50, "b": None if i % 3 == 0 else f"x{i}",
             "d": None if i % 5 == 0 else date(2024, 1, 1 + i % 28),
             "e": None if i % 7 == 0 else datetime(2024, 2, 3, 4, 5, 6, i),
             "ts": None if i % 4 == 0 else datetime(2024, 2, 3, 4, 5, 6, i,
                                                    tzinfo=timezone.utc),
             "g": [i, None] if i % 2 else None,
             "i": None if i % 6 == 0 else Decimal(i).scaleb(-2),
             "nn": i / 3} for i in range(300)]
    arrow_schema = pa.schema([
        pa.field("a", pa.int64(), False), pa.field("b", pa.string()),
        pa.field("d", pa.date32()), pa.field("e", pa.timestamp("us")),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
        pa.field("g", pa.list_(pa.int32())),
        pa.field("i", pa.decimal128(10, 2)),
        pa.field("nn", pa.float64(), False)])
    tbl = pa.Table.from_pydict({k: [r[k] for r in rows] for r in rows[:1]
                                for k in r}, schema=arrow_schema)
    for codec in ("deflate", "null"):
        a = A.write_container(avs, [dict(r) for r in rows], codec=codec,
                              block_rows=64)
        b = E.write_container_arrow(tbl, avs, codec=codec, block_rows=64)
        assert a == b, codec


def test_avro_table_schema_evolution(spark, catalog):
    """Engine-level: an avro table written before ALTER ADD COLUMN reads
    old files with nulls for the new column, and mixed-era files coexist
    in one scan (the same evolve pass parquet takes)."""
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    t = catalog.create_table("db.avro_evo", df1.schema,
                             options={"file.format": "avro"})
    t.write(spark, df1)
    t.schemas.add_column("extra", T.IntegerType())
    df2 = spark.createDataFrame([(3, "c", 30)], "k long, v string, extra int")
    t.write(spark, df2)
    got = {r["k"]: (r["v"], r["extra"])
           for r in t.read(spark).collect()}
    assert got == {1: ("a", None), 2: ("b", None), 3: ("c", 30)}


def test_pack_files_by_size():
    """Small files group to >=min_bytes tasks; big files go one per task
    (task count scales with data, never capped); all files kept once."""
    from incubator_paimon_spark.formats.avro_spark import pack_files_by_size

    small = [f"/w/f{i:02d}.avro" for i in range(6)]
    g = pack_files_by_size(small, [400_000] * 6, min_bytes=1_000_000)
    assert g == [small[0:3], small[3:6]]  # 3 x 0.4 MB crosses 1 MB

    big = [f"/w/b{i}.avro" for i in range(3)]
    g = pack_files_by_size(big, [128_000_000] * 3, min_bytes=1_000_000)
    assert g == [[p] for p in big]  # one task per large container

    mixed_p = ["/w/a.avro", "/w/b.avro", "/w/c.avro"]
    g = pack_files_by_size(mixed_p, [5_000_000, 100, 100],
                           min_bytes=1_000_000)
    flat = [p for grp in g for p in grp]
    assert sorted(flat) == mixed_p and all(grp for grp in g)
    # leftover small tail still lands in a (final, undersized) group
    g = pack_files_by_size(small[:1], [10], min_bytes=1_000_000)
    assert g == [small[:1]]


def test_split_reader_matches_whole_file():
    """read_container_arrow_split over ANY consecutive partition of the
    byte range must decode exactly the whole file's rows, each block
    exactly once (Hadoop sync-marker ownership: a split owns blocks
    STARTING in [start, end), a straddling block reads past end). Cuts
    are exercised inside the header, on exact block boundaries, mid-block
    and mid-sync, for both codecs."""
    import io

    from incubator_paimon_spark.formats import avro_decode as D

    schema = T.StructType([T.StructField("n", T.LongType()),
                           T.StructField("s", T.StringType())])
    avs = A.spark_schema_to_avro(schema)
    rows = [{"n": i, "s": None if i % 7 == 0 else f"v{i}" * (i % 5)}
            for i in range(5_000)]
    for codec in ("deflate", "null"):
        data = A.write_container(avs, rows, codec=codec, block_rows=128)
        size = len(data)
        whole = D.read_container_arrow(data).to_pydict()
        cut_sets = [
            [0, size],                       # one split = whole file
            [0, 3, size],                    # cut inside MAGIC/header
            [0, size // 3, 2 * size // 3, size],
            list(range(0, size, 97)) + [size],   # many tiny ragged splits
            [0, size - 1, size],             # last split owns no block
        ]
        for cuts in cut_sets:
            ns, ss, counts = [], [], []
            for a, b in zip(cuts[:-1], cuts[1:]):
                t = D.read_container_arrow_split(io.BytesIO(data), a, b)
                counts.append(t.num_rows)
                ns += t.column("n").to_pylist()
                ss += t.column("s").to_pylist()
            assert sum(counts) == len(rows), (codec, cuts[:4])
            assert ns == whole["n"] and ss == whole["s"], (codec, cuts[:4])
    # target-schema projection applies on the split path too
    import pyarrow as pa
    target = pa.schema([pa.field("n", pa.int64()),
                        pa.field("missing", pa.string())])
    t = D.read_container_arrow_split(io.BytesIO(data), 0, len(data), target)
    assert t.schema == target and t.column("missing").null_count == 5_000


def test_avro_read_splits_units_and_packing():
    """Large files cut into ~split_bytes ranges that tile the file exactly;
    small files ride whole; units pack into >=min_bytes task groups."""
    from incubator_paimon_spark.formats.avro_spark import avro_read_splits

    groups = avro_read_splits(["/w/big.avro", "/w/tiny1.avro",
                               "/w/tiny2.avro"],
                              [10_000_000, 300_000, 300_000],
                              split_bytes=4_000_000, min_bytes=1_000_000)
    units = [u for g in groups for u in g]
    big = sorted(u for u in units if u[0] == "/w/big.avro")
    # 10 MB / 4 MB -> 3 ranges tiling [0, size) without gap or overlap
    assert [u[1] for u in big] == [0, 3_333_333, 6_666_666]
    assert [u[2] for u in big] == [3_333_333, 6_666_666, 10_000_000]
    assert ("/w/tiny1.avro", 0, 300_000) in units
    assert ("/w/tiny2.avro", 0, 300_000) in units
    # a file at 1.5x split_bytes is NOT split (not worth two tasks)
    g2 = avro_read_splits(["/w/mid.avro"], [5_900_000],
                          split_bytes=4_000_000, min_bytes=1_000_000)
    assert g2 == [[("/w/mid.avro", 0, 5_900_000)]]
    # small units pack to >= min_bytes per task group
    g3 = avro_read_splits([f"/w/s{i}.avro" for i in range(6)],
                          [400_000] * 6,
                          split_bytes=4_000_000, min_bytes=1_000_000)
    assert [len(g) for g in g3] == [3, 3]


def test_columnar_encoder_extreme_values_byte_identical():
    """Vectorized varint/fixed/string cell producers vs the row encoder at
    the edges: int64 min/max, every varint byte-length boundary, NaN/inf
    floats, empty and multi-byte strings, binary, booleans — plus both
    the dictionary route (few distincts) and the vector route (all
    distinct), with and without nulls."""
    import math

    import pyarrow as pa

    from incubator_paimon_spark.formats import avro_encode as E

    lo, hi = -(2 ** 63), 2 ** 63 - 1
    boundaries = []
    for k in range(1, 10):
        for base in ((1 << (7 * k)) // 2, 1 << (7 * k)):
            boundaries += [v for v in (base - 1, base, base + 1,
                                       -base, -base + 1) if lo <= v <= hi]
    longs = ([0, 1, -1, hi, lo] + boundaries)
    n = len(longs)
    rows = [{
        "lng": longs[i],
        "lng_n": None if i % 3 == 0 else longs[i],
        "dbl": [math.nan, math.inf, -math.inf, 0.0, -0.0, 1e-308][i % 6],
        "flt": [math.nan, math.inf, -0.0, 3.5][i % 4],
        "bl": i % 2 == 0,
        "s_hi": f"{i}-" + "x" * (i % 37),          # all distinct -> vector
        "s_lo": ["a", "", "c"][i % 3],             # 3 distinct -> dict LUT
        "bin": None if i % 5 == 0 else bytes([i % 256]) * (i % 9),
    } for i in range(n)]
    schema = T.StructType([
        T.StructField("lng", T.LongType(), nullable=False),
        T.StructField("lng_n", T.LongType()),
        T.StructField("dbl", T.DoubleType(), nullable=False),
        T.StructField("flt", T.FloatType(), nullable=False),
        T.StructField("bl", T.BooleanType(), nullable=False),
        T.StructField("s_hi", T.StringType(), nullable=False),
        T.StructField("s_lo", T.StringType(), nullable=False),
        T.StructField("bin", T.BinaryType()),
    ])
    avs = A.spark_schema_to_avro(schema)
    arrow_schema = pa.schema([
        pa.field("lng", pa.int64(), False),
        pa.field("lng_n", pa.int64()),
        pa.field("dbl", pa.float64(), False),
        pa.field("flt", pa.float32(), False),
        pa.field("bl", pa.bool_(), False),
        pa.field("s_hi", pa.string(), False),
        pa.field("s_lo", pa.string(), False),
        pa.field("bin", pa.binary())])
    tbl = pa.Table.from_pydict(
        {k: [r[k] for r in rows] for k in rows[0]}, schema=arrow_schema)
    for codec in ("deflate", "null"):
        a = A.write_container(avs, [dict(r) for r in rows], codec=codec,
                              block_rows=32)
        b = E.write_container_arrow(tbl, avs, codec=codec, block_rows=32)
        assert a == b, codec


def test_native_decoder_differential_vs_python(monkeypatch):
    """The C block decoder must produce tables EQUAL to the pure-Python
    compiled decoder across every supported kind, null pattern, codec,
    block split, and the numeric edges (int64 min/max, varint byte
    boundaries, NaN/±inf bit patterns). NaN compared bit-exactly."""
    import math
    import struct

    from incubator_paimon_spark.formats import avro_decode as D
    from incubator_paimon_spark.formats import avro_native as N

    sch = T.StructType([
        T.StructField("l", T.LongType(), nullable=False),
        T.StructField("ln", T.LongType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("f", T.FloatType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("s", T.StringType()),
        T.StructField("bin", T.BinaryType()),
        T.StructField("dt", T.DateType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("tz", T.TimestampType()),
        T.StructField("alln", T.LongType()),   # all-null column
        T.StructField("non", T.LongType()),    # nullable, never null
    ])
    avs = A.spark_schema_to_avro(sch)
    assert N.native_block_decoder(avs) is not None, "schema must qualify"
    from datetime import timezone
    lv = [0, 1, -1, 2**63 - 1, -(2**63), 63, -64, 64, -65, 8191, 8192,
          2**31 - 1, -(2**31), 300]
    rows = [{
        "l": lv[i % len(lv)],
        "ln": None if i % 3 == 0 else lv[(i + 5) % len(lv)],
        "i": None if i % 7 == 0 else (i * 9973) % (2**31) - 2**30,
        "d": [math.nan, math.inf, -math.inf, -0.0, 5e-324, 1.5][i % 6]
        if i % 4 else None,
        "f": None if i % 5 == 0 else [math.nan, math.inf, 0.5][i % 3],
        "b": None if i % 11 == 0 else (i % 2 == 0),
        "s": None if i % 2 == 0 else ("日本" * (i % 9) + f"x{i}" * (i % 23)),
        "bin": None if i % 6 == 0 else bytes([i % 256]) * (i % 17),
        "dt": None if i % 3 == 1 else date(1970 + i % 80, 1 + i % 12, 28),
        "ts": None if i % 9 == 0 else datetime(2024, 2, 3, 4, 5, 6, i % 999),
        "tz": None if i % 8 == 0 else datetime(1999, 12, 31, 23, 59, 59,
                                               i % 999, tzinfo=timezone.utc),
        "alln": None,
        "non": lv[(i + 7) % len(lv)],
    } for i in range(731)]

    def bits(v):
        if isinstance(v, float):
            return struct.pack("<d", v)
        return v

    for codec in ("deflate", "null"):
        data = A.write_container(avs, [dict(r) for r in rows], codec=codec,
                                 block_rows=100)  # ragged last block
        with monkeypatch.context() as m:  # force the Python decoder
            m.setattr(N, "native_block_decoder", lambda schema: None)
            py = D.read_container_arrow(data)
        nat = D.read_container_arrow(data)
        assert nat.schema == py.schema, codec
        for name in py.column_names:
            a = [bits(v) for v in nat.column(name).to_pylist()]
            b = [bits(v) for v in py.column(name).to_pylist()]
            assert a == b, (codec, name)

    # split reader parity on the native path
    import io
    whole = D.read_container_arrow(data)
    size = len(data)
    got = []
    for a, b in ((0, size // 2), (size // 2, size)):
        t = D.read_container_arrow_split(io.BytesIO(data), a, b)
        got += t.column("l").to_pylist()
    assert got == whole.column("l").to_pylist()


def test_native_decoder_fallback():
    """Schemas outside the flat-scalar set (decimal / array / record)
    must return None from native_block_decoder (Python path serves
    them)."""
    from incubator_paimon_spark.formats import avro_decode as D
    from incubator_paimon_spark.formats import avro_native as N

    dec = A.spark_schema_to_avro(T.StructType([
        T.StructField("x", T.DecimalType(10, 2))]))
    arr = A.spark_schema_to_avro(T.StructType([
        T.StructField("g", T.ArrayType(T.IntegerType()))]))
    flat = A.spark_schema_to_avro(T.StructType([
        T.StructField("k", T.LongType())]))
    assert N.native_block_decoder(dec) is None
    assert N.native_block_decoder(arr) is None
    assert N.native_block_decoder(flat) is not None
    # complex schema decodes correctly through the fallback
    rows = [{"x": Decimal("1.25")}, {"x": None}]
    data = A.write_container(dec, rows)
    assert D.read_container_arrow(data).column("x").to_pylist() == \
        [Decimal("1.25"), None]


def test_avro_append_spread_capped_at_compaction_trigger(spark, catalog,
                                                         customer):
    """The avro encode-parallelism repartition must not manufacture more
    sub-target-size files than the append small-file compaction trigger:
    a fresh single-commit append stays ONE snapshot (no self-inflicted
    write-time rewrite) with at most `trigger` data files."""
    t = catalog.create_table("db.av_spread", customer.schema,
                             options={"file.format": "avro"})
    t.write(spark, customer)
    snaps = t.snapshots.list_all()
    assert [s.commit_kind for s in snaps] == ["APPEND"]
    trigger = t.schema.core_options.num_sorted_run_compaction_trigger
    entries = t.new_scan().plan().entries
    assert 1 <= len(entries) <= trigger, len(entries)
    assert t.read(spark).count() == customer.count()


def test_avro_append_compaction_consolidates_small_files(spark, catalog,
                                                         customer):
    """Append small-file compaction must CONSOLIDATE: rewrite tasks mirror
    read units (one per small avro file), so without explicit sizing a
    sweep of N small files emitted ~N small files again. After the r15
    coalesce the surviving layout is ceil(bytes / target-file-size) files
    — one, at this scale."""
    t = catalog.create_table("db.av_consol", customer.schema,
                             options={"file.format": "avro"})
    trigger = t.schema.core_options.num_sorted_run_compaction_trigger
    # accumulate > trigger small files WITHOUT tripping the write-time
    # sweep mid-loop masking the layout under test: write-only mode off,
    # so each commit may compact; what matters is the FINAL state
    for i in range(trigger + 2):
        t.write(spark, customer.limit(30))
    t.compact(spark)
    entries = t.new_scan().plan().entries
    assert len(entries) == 1, [e.file.file_size for e in entries]
    assert t.read(spark).count() == 30 * (trigger + 2)
