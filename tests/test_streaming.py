"""Streaming semantics: incremental reads, changelog, micro-batch source,
consumer progress, exactly-once sink (mirrors PaimonSourceTest /
PaimonCDCSourceTest shapes, SURVEY §5.3)."""

from pyspark.sql import functions as F

from incubator_paimon_spark.streaming.source import (MicroBatchStream,
                                                     changelog_between,
                                                     stream_changes)
from incubator_paimon_spark.types import ROW_KIND


def _mk(catalog, spark, customer, name="db.s", **opts):
    t = catalog.create_table(name, customer.schema, primary_keys=["c_custkey"],
                             options={"bucket": "2", **opts})
    return t


def test_incremental_equals_full_scan(spark, catalog, customer):
    """Union of incremental reads over all snapshots == final full scan
    (the PaimonCDCSourceTest equivalence)."""
    t = _mk(catalog, spark, customer)
    t.write(spark, customer.filter("c_custkey % 3 = 0"))
    t.write(spark, customer.filter("c_custkey % 3 = 1"))
    t.write(spark, customer.filter("c_custkey % 3 = 2"))
    parts = [t.incremental(spark, i, i + 1) for i in range(3)]
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    assert sorted(r["c_custkey"] for r in merged.collect()) == \
        sorted(r["c_custkey"] for r in t.read(spark).collect())


def test_changelog_input_producer(spark, catalog, customer):
    t = _mk(catalog, spark, customer, name="db.cli",
            **{"changelog-producer": "input"})
    t.write(spark, customer.limit(10))
    upd = customer.limit(3).withColumn("c_acctbal", F.lit(1.0)) \
                  .withColumn(ROW_KIND, F.lit("+U"))
    t.write(spark, upd)
    cl = changelog_between(spark, t, 1, 2)
    kinds = {r[ROW_KIND] for r in cl.select(ROW_KIND).distinct().collect()}
    assert kinds == {"+U"}
    assert cl.count() == 3


def test_changelog_state_diff(spark, catalog, customer):
    t = _mk(catalog, spark, customer, name="db.cld")
    t.write(spark, customer.limit(10))
    t.write(spark, customer.limit(4).withColumn("c_acctbal", F.lit(42.0)))
    cl = changelog_between(spark, t, 1, 2)
    by_kind = {r[ROW_KIND]: r["cnt"] for r in
               cl.groupBy(ROW_KIND).agg(F.count("*").alias("cnt")).collect()}
    assert by_kind == {"-U": 4, "+U": 4}

    # row values: the diff of the two merged states, row for row, with
    # every kind (inserts, updates and deletes across 1 → 3)
    ins = customer.filter("c_custkey > 140")
    t.write(spark, ins.unionByName(customer.limit(2))
            .withColumn(ROW_KIND, F.when(F.col("c_custkey") > 140, "+I")
                        .otherwise("-D")))
    cl = changelog_between(spark, t, 1, 3)
    cols = [f.name for f in t.schema.fields]
    assert cl.columns == cols + [ROW_KIND]
    old = {r["c_custkey"]: tuple(r) for r in t.read(spark, snapshot_id=1).collect()}
    new = {r["c_custkey"]: tuple(r) for r in t.read(spark, snapshot_id=3).collect()}
    want = []
    for k in old.keys() | new.keys():
        if k not in old:
            want.append(new[k] + ("+I",))
        elif k not in new:
            want.append(old[k] + ("-D",))
        elif old[k] != new[k]:
            want += [old[k] + ("-U",), new[k] + ("+U",)]
    got = [tuple(r) for r in cl.collect()]
    assert sorted(got) == sorted(want)
    assert {w[-1] for w in want} == {"+I", "-U", "+U", "-D"}


def test_microbatch_stream_and_consumer(spark, catalog, customer):
    t = _mk(catalog, spark, customer, name="db.mb")
    t.write(spark, customer.filter("c_custkey % 2 = 0"))
    t.write(spark, customer.filter("c_custkey % 2 = 1"))

    stream = MicroBatchStream(t, spark, consumer_id="ci",
                              max_snapshots_per_trigger=1)
    b1 = stream.next_batch()
    assert b1 is not None and b1[0] == 1
    assert t.read_consumer("ci") == 2
    b2 = stream.next_batch()
    assert b2[0] == 2
    assert stream.next_batch() is None

    # resume from the persisted consumer offset
    resumed = MicroBatchStream(t, spark, consumer_id="ci")
    assert resumed.next_batch() is None
    t.write(spark, customer.limit(1))
    end, df = resumed.next_batch()
    assert end == 3 and df.count() == 1


def test_stream_changes_bounded(spark, catalog, customer):
    t = _mk(catalog, spark, customer, name="db.sc")
    t.write(spark, customer.limit(5))
    t.write(spark, customer.limit(10))
    batches = list(stream_changes(t, spark, bounded=True))
    assert len(batches) >= 1
    assert sum(df.count() for _sid, df in batches) >= 10


def test_exactly_once_commit_identifier(spark, catalog, customer):
    t = _mk(catalog, spark, customer, name="db.eo")
    t.write(spark, customer.limit(5), commit_identifier=1)
    t.write(spark, customer.limit(7), commit_identifier=1)  # replay: no-op
    assert len(t.snapshots.list_all()) == 1
    assert t.read(spark).count() == 5


def test_stream_changes_bounded_watermark(spark, catalog, customer):
    """scan.bounded.watermark: the stream ends after consuming the first
    snapshot whose watermark passes the bound (BoundedChecker.java:30)."""
    from incubator_paimon_spark.streaming.source import stream_changes

    t = catalog.create_table("db.bw", customer.schema,
                             primary_keys=["c_custkey"])
    for i, wm in enumerate([100, 200, 300]):
        t.write(spark, customer.filter(f"c_custkey % 3 = {i}"), watermark=wm)
    seen = [sid for sid, _df in stream_changes(t, spark, bounded=False,
                                               bounded_watermark=200,
                                               max_snapshots_per_trigger=1)]
    assert seen == [1, 2]  # wm 100, 200 consumed; wm 300 > bound → stop
