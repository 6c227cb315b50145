"""Point-lookup (LocalTableQuery parity) tests.

Every case cross-checks the lookup against the DataFrame scan path — the
scan's merge (merge_engines._dedup) is the oracle-gated ground truth, so
lookup ≡ scan-filtered-to-key proves the driver-side path returns exactly
the merged row the distributed path would."""

import pyspark.sql.functions as F
import pytest

from incubator_paimon_spark.predicate import P


@pytest.fixture(scope="session")
def events(spark):
    from tests.conftest import SF_DIR
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


def _scan_rows(spark, t, keycols, projection=None):
    df = t.read(spark, projection=projection)
    return {tuple(r[c] for c in keycols): r.asDict() for r in df.collect()}


def test_lookup_basic_upsert(spark, catalog, customer):
    t = catalog.create_table("db.q_basic", customer.schema,
                             primary_keys=["c_custkey"], options={"bucket": "4"})
    t.write(spark, customer.withColumn("c_acctbal", F.lit(-1.0)))
    t.write(spark, customer.filter(F.col("c_custkey") % 3 == 0))
    q = t.new_query()
    truth = _scan_rows(spark, t, ["c_custkey"])
    for k in [1, 2, 3, 30, 99, 100]:
        got = q.lookup(k)
        assert got == truth[(k,)], k
    # absent key
    max_key = max(k for (k,) in truth)
    assert q.lookup(max_key + 10_000) is None


def test_lookup_requires_pk_and_dedup(spark, catalog, customer):
    t = catalog.create_table("db.q_append", customer.schema)
    t.write(spark, customer)
    with pytest.raises(ValueError, match="primary-key"):
        t.new_query()
    t2 = catalog.create_table(
        "db.q_pu", customer.schema, primary_keys=["c_custkey"],
        options={"bucket": "2", "merge-engine": "partial-update"})
    with pytest.raises(ValueError, match="merge-engine"):
        t2.new_query()


def test_lookup_delete_erases_key(spark, catalog, customer):
    t = catalog.create_table("db.q_del", customer.schema,
                             primary_keys=["c_custkey"], options={"bucket": "4"})
    t.write(spark, customer)
    t.delete_where(spark, P.eq("c_custkey", 7))
    q = t.new_query()
    assert q.lookup(7) is None
    assert q.lookup(8) is not None


def test_lookup_sequence_field_wins_over_commit_order(spark, catalog, events):
    t = catalog.create_table("db.q_seq", events.schema,
                             primary_keys=["user_id", "event_type"],
                             options={"bucket": "4", "sequence.field": "event_id"})
    mid = events.agg(F.max("event_id")).first()[0] // 2
    t.write(spark, events.filter(F.col("event_id") > mid))  # newest data FIRST
    t.write(spark, events.filter(F.col("event_id") <= mid))
    q = t.new_query()
    truth = _scan_rows(spark, t, ["user_id", "event_type"])
    checked = 0
    for k in list(truth)[:20]:
        assert q.lookup({"user_id": k[0], "event_type": k[1]}) == truth[k]
        checked += 1
    assert checked == 20


def test_lookup_first_row_engine(spark, catalog, events):
    t = catalog.create_table("db.q_first", events.schema,
                             primary_keys=["user_id", "event_type"],
                             options={"bucket": "4", "sequence.field": "event_id",
                                      "merge-engine": "first-row"})
    mid = events.agg(F.max("event_id")).first()[0] // 2
    t.write(spark, events.filter(F.col("event_id") > mid))
    t.write(spark, events.filter(F.col("event_id") <= mid))
    q = t.new_query()
    truth = _scan_rows(spark, t, ["user_id", "event_type"])
    for k in list(truth)[:20]:
        assert q.lookup({"user_id": k[0], "event_type": k[1]}) == truth[k]


def test_lookup_partitioned_table(spark, catalog, orders):
    df = orders.withColumn("bucket_col", F.col("o_orderkey") % 3)
    t = catalog.create_table("db.q_part", df.schema,
                             primary_keys=["bucket_col", "o_orderkey"],
                             partition_keys=["bucket_col"],
                             options={"bucket": "2"})
    t.write(spark, df)
    q = t.new_query()
    some = df.limit(5).collect()
    for r in some:
        got = q.lookup({"o_orderkey": r["o_orderkey"]},
                       partition={"bucket_col": r["bucket_col"]})
        assert got is not None and got["o_totalprice"] == r["o_totalprice"]
    with pytest.raises(ValueError, match="partition"):
        q.lookup({"o_orderkey": some[0]["o_orderkey"]})


def test_lookup_after_compaction_and_refresh(spark, catalog, customer):
    t = catalog.create_table("db.q_compact", customer.schema,
                             primary_keys=["c_custkey"], options={"bucket": "2"})
    t.write(spark, customer.withColumn("c_acctbal", F.lit(-1.0)))
    t.compact(spark, full=True)
    q = t.new_query()
    assert q.lookup(5)["c_acctbal"] == -1.0
    # new commit after the query view was pinned: stale until refresh
    t.write(spark, customer.filter(F.col("c_custkey") == 5))
    assert q.lookup(5)["c_acctbal"] == -1.0
    q.refresh()
    truth = _scan_rows(spark, t, ["c_custkey"])
    assert q.lookup(5) == truth[(5,)]
    assert q.lookup(5)["c_acctbal"] != -1.0


def test_lookup_honors_deletion_vectors(spark, catalog, customer):
    t = catalog.create_table("db.q_dv", customer.schema,
                             primary_keys=["c_custkey"],
                             options={"bucket": "2",
                                      "deletion-vectors.enabled": "true"})
    t.write(spark, customer)
    t.delete_where(spark, P.eq("c_custkey", 11))
    q = t.new_query()
    assert q.lookup(11) is None
    assert q.lookup(12) is not None


def test_lookup_projection_and_many(spark, catalog, customer):
    t = catalog.create_table("db.q_proj", customer.schema,
                             primary_keys=["c_custkey"], options={"bucket": "2"})
    t.write(spark, customer)
    q = t.new_query(projection=["c_custkey", "c_name"])
    row = q.lookup(3)
    assert set(row) == {"c_custkey", "c_name"}
    out = q.lookup_many([1, 2, 10 ** 9])
    assert out[0]["c_custkey"] == 1 and out[1]["c_custkey"] == 2
    assert out[2] is None
    with pytest.raises(KeyError):
        t.new_query(projection=["nope"])


def test_lookup_schema_evolution_rename(spark, catalog, customer):
    t = catalog.create_table("db.q_evo", customer.schema,
                             primary_keys=["c_custkey"], options={"bucket": "2"})
    t.write(spark, customer)
    t.schemas.rename_column("c_acctbal", "balance")
    q = t.new_query()
    truth = _scan_rows(spark, t, ["c_custkey"])
    assert q.lookup(9) == truth[(9,)]
    assert "balance" in q.lookup(9)


def test_lookup_casts_defaults_and_widened_types_like_scan(spark, catalog,
                                                           customer):
    """r8 advice: a column added later with fields.X.default-value must
    come back from lookup as the RUNTIME type (bigint 7, not the raw
    option string '7'), and a column widened after old files were
    written must cast old-file values — both exactly as the scan path's
    evolve() does, so lookup == scan under schema evolution."""
    import pyspark.sql.types as T
    t = catalog.create_table("db.q_cast", customer.schema,
                             primary_keys=["c_custkey"],
                             options={"bucket": "2"})
    t.write(spark, customer)
    t.schemas.add_column("loyalty_tier", T.LongType())
    t.schemas.update_options({"fields.loyalty_tier.default-value": "7"})
    t.schemas.update_column_type("c_nationkey", T.LongType())

    q = t.new_query()
    truth = _scan_rows(spark, t, ["c_custkey"])
    for k in (1, 5, 9):
        got = q.lookup(k)
        want = truth[(k,)]
        assert got == want
        # same VALUES is not enough — same TYPES (7 == '7' is False,
        # but 7 == 7.0 is True; pin the classes)
        assert type(got["loyalty_tier"]) is type(want["loyalty_tier"]), \
            (got["loyalty_tier"], want["loyalty_tier"])
        assert type(got["c_nationkey"]) is type(want["c_nationkey"])
    q.close()


def test_lookup_cache_eviction_still_correct(spark, catalog, customer):
    t = catalog.create_table("db.q_lru", customer.schema,
                             primary_keys=["c_custkey"], options={"bucket": "4"})
    t.write(spark, customer.withColumn("c_acctbal", F.lit(-1.0)))
    t.write(spark, customer.filter(F.col("c_custkey") % 3 == 0))
    q = t.new_query(max_cached_rows=10)  # forces eviction on every probe
    truth = _scan_rows(spark, t, ["c_custkey"])
    for k in [1, 3, 6, 9, 2, 1, 3]:
        assert q.lookup(k) == truth[(k,)]
    assert q._cached_rows <= max(n for n, _ in q._file_cache.values())
    q.close()
    assert q._cached_rows == 0


@pytest.mark.parametrize("fmt", ["parquet", "orc", "avro"])
def test_lookup_values_equal_scan_values_every_format(spark, catalog, fmt):
    """TimestampType, TimestampNTZType and a NaN double come back from
    lookup_many as the values and Python types `Table.read().collect()`
    gives, on every data-file format (NaN matches NaN)."""
    import math
    from datetime import datetime

    import pyspark.sql.types as T

    schema = T.StructType([
        T.StructField("k", T.IntegerType(), False),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ntz", T.TimestampNTZType()),
        T.StructField("d", T.DoubleType())])
    rows = [(1, datetime(2024, 1, 2, 3, 4, 5, 6), datetime(2024, 1, 2, 3, 4, 5),
             float("nan")),
            (2, None, None, None),
            (3, datetime(1999, 12, 31, 23, 59, 59, 999999),
             datetime(1970, 1, 1), -0.5)]
    t = catalog.create_table(f"db.q_types_{fmt}", schema, primary_keys=["k"],
                             options={"bucket": "1", "file.format": fmt})
    t.write(spark, spark.createDataFrame(rows, schema))
    scan = sorted(tuple(r) for r in t.read(spark).collect())
    got = t.new_query().lookup_many([r[0] for r in scan])

    def same(a, b):
        if isinstance(a, float) and isinstance(b, float) \
                and math.isnan(a) and math.isnan(b):
            return True
        return type(a) is type(b) and a == b

    for want, row in zip(scan, got):
        have = tuple(row[c] for c in schema.names)
        assert all(map(same, have, want)), (fmt, have, want)
