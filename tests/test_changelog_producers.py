"""Materialized changelog producers (lookup / full-compaction) and the
follow-up scanner choice: lookup changelog rides every APPEND commit,
full-compaction changelog rides the COMPACT commit, and delta-mode streams
never re-emit a compaction's rewritten files
(LookupChangelogProducer / FullChangelogMergeTreeCompactRewriter /
DeltaFollowUpScanner vs ChangelogFollowUpScanner)."""

import pytest
from pyspark.sql import functions as F

from incubator_paimon_spark.streaming.source import (changelog_between,
                                                     incremental_between)


def _kinds(df):
    return {r["_row_kind"]: r["count"]
            for r in df.groupBy("_row_kind").count().collect()}


def test_lookup_producer_materializes_per_commit(spark, catalog, customer):
    t = catalog.create_table("db.clk", customer.schema,
                             primary_keys=["c_custkey"],
                             options={"bucket": "2",
                                      "changelog-producer": "lookup"})
    t.write(spark, customer)
    t.write(spark, customer.limit(10).withColumn("c_acctbal", F.lit(7.0)))
    t.write(spark, customer.limit(3).withColumn("_row_kind", F.lit("-D")))
    s = t.snapshots.list_all()
    assert [x.changelog_record_count for x in s] == [customer.count(), 20, 3]
    assert all(x.changelog_manifest_list for x in s)
    # files are read directly (no state-diff recompute) and carry the kinds
    assert _kinds(changelog_between(spark, t, 1, 2)) == {"-U": 10, "+U": 10}
    assert _kinds(changelog_between(spark, t, 2, 3)) == {"-D": 3}
    # update values in the changelog are the POST-merge values
    ua = (changelog_between(spark, t, 1, 2)
          .filter("_row_kind = '+U'").select("c_acctbal").distinct().collect())
    assert [r[0] for r in ua] == [7.0]


def test_lookup_first_commit_shortcut_matches_diff_formula(spark, catalog,
                                                           customer):
    """The first commit's changelog takes the all-+I fast path (r15); its
    row multiset must equal state_diff_kinds(empty, merged delta) — pinned
    against an inline reconstruction of the general formula, with
    in-commit duplicate keys (later sequence wins) and a -D rowkind row
    (key must NOT appear in the changelog at all)."""
    from incubator_paimon_spark.write import state_diff_kinds

    t = catalog.create_table("db.clk_first", customer.schema,
                             primary_keys=["c_custkey"],
                             options={"bucket": "2",
                                      "changelog-producer": "lookup"})
    dup = customer.limit(5).withColumn("c_acctbal", F.lit(99.0))
    dels = (customer.orderBy("c_custkey").limit(1)
            .withColumn("_row_kind", F.lit("-D")))
    first = (customer.withColumn("_row_kind", F.lit("+I"))
             .unionByName(dup.withColumn("_row_kind", F.lit("+I")))
             .unionByName(dels))
    t.write(spark, first)

    got = changelog_between(spark, t, 0, 1)
    # general formula over the same post-merge state (read() IS the
    # merged state of snapshot 1)
    merged = t.read(spark, snapshot_id=1)
    empty = spark.createDataFrame([], t.schema.spark_schema())
    want = state_diff_kinds(empty, merged, t.schema)

    cols = sorted(c for c in got.columns if c in want.columns)
    canon = lambda df: sorted(map(tuple, df.select(*cols).collect()))
    assert canon(got) == canon(want)
    # semantics spot-checks: all +I, dup keys carry the merged value,
    # the deleted key is absent
    assert got.filter("_row_kind <> '+I'").count() == 0
    dk = dels.collect()[0]["c_custkey"]
    assert got.filter(F.col("c_custkey") == dk).count() == 0
    assert (got.join(dup.select("c_custkey"), "c_custkey")
               .filter("c_acctbal <> 99.0").count() == 0)


def test_full_compaction_producer_and_stream_skip(spark, catalog, customer):
    t = catalog.create_table("db.cfc", customer.schema,
                             primary_keys=["c_custkey"],
                             options={"bucket": "2",
                                      "changelog-producer": "full-compaction"})
    t.write(spark, customer.withColumn("c_acctbal", F.lit(-1.0)))
    t.write(spark, customer.limit(10))
    t.compact(spark, full=True)
    snaps = t.snapshots.list_all()
    assert snaps[-1].commit_kind == "COMPACT"
    # the compact commit carries the consolidated +I changelog
    assert snaps[-1].changelog_record_count == customer.count()
    assert _kinds(changelog_between(spark, t, 2, 3)) == {"+I": customer.count()}
    # second cycle: only the changed keys appear
    t.write(spark, customer.limit(5).withColumn("c_acctbal", F.lit(9.0)))
    t.compact(spark, full=True)
    assert _kinds(changelog_between(spark, t, 3, 5)) == {"-U": 5, "+U": 5}

    # delta-mode incremental read must NOT re-emit compacted files
    assert incremental_between(spark, t, 2, 3).count() == 0
    assert incremental_between(spark, t, 3, 4).count() == 5


def test_stream_delta_mode_skips_compact_and_changelog_files(
        spark, catalog, customer):
    """A plain (non-changelog) stream over a lookup-producer table reads
    data deltas only — never the -U/+U changelog files — and a mid-stream
    compaction contributes nothing."""
    from incubator_paimon_spark.datasource import PaimonStreamReader

    t = catalog.create_table("db.clks", customer.schema,
                             primary_keys=["c_custkey"],
                             options={"bucket": "2",
                                      "changelog-producer": "lookup"})
    t.write(spark, customer)
    t.write(spark, customer.limit(10).withColumn("c_acctbal", F.lit(7.0)))
    t.compact(spark, full=True)

    def read_all(changelog):
        """initialOffset → latestOffset → partitions → read, as the engine
        drives the reader; returns (end offset, [kind per row])."""
        r = PaimonStreamReader({"path": t.path, "scan.mode": "earliest"},
                               changelog)
        start = r.initialOffset()
        end = r.latestOffset()
        kinds = []
        for p in r.partitions(start, end):
            for b in r.read(p):
                kinds += (b.column("_row_kind").to_pylist() if changelog
                          else [None] * b.num_rows)
        return end, kinds

    end, rows = read_all(False)
    assert end["snapshot_id"] == 3
    # 150 + 10 delta rows; nothing from changelog files or the compaction
    assert len(rows) == customer.count() + 10

    _, kinds = read_all(True)
    assert kinds.count("-U") == 10 and kinds.count("+U") == 10
    assert kinds.count("+I") == customer.count()


def test_stream_restart_with_limits_no_duplicates(spark, catalog, customer):
    """Read limits + checkpoint restart: the engine replays the last logged
    batch's partitions() before calling latestOffset, so the limit window
    resumes from the checkpoint and never rewinds offsets (r5 review)."""
    import glob
    import tempfile
    import shutil
    from incubator_paimon_spark.datasource import register
    register(spark)

    t = catalog.create_table("db.rlim", customer.schema)
    for i in range(3):
        t.write(spark, customer.filter(f"c_custkey % 3 = {i}"))
    out = tempfile.mkdtemp(prefix="pmn_rl_o_")
    ck = tempfile.mkdtemp(prefix="pmn_rl_ck_")
    try:
        import time as _time

        def run_until(target):
            # processingTime, not availableNow: availableNow locks its end
            # target to the FIRST latestOffset, which a per-trigger cap
            # deliberately keeps small
            q = (spark.readStream.format("paimon")
                 .option("scan.mode", "earliest")
                 .option("read.stream.maxSnapshotsPerTrigger", "1")
                 .load(t.path)
                 .writeStream.format("parquet").option("path", out)
                 .option("checkpointLocation", ck)
                 .trigger(processingTime="1 second").start())
            deadline = _time.time() + 90
            n = -1
            while _time.time() < deadline:
                try:
                    n = spark.read.parquet(out).count()
                except Exception:
                    n = -1
                if n >= target:
                    break
                _time.sleep(2)
            # settle one extra trigger to catch over-delivery (duplicates)
            _time.sleep(3)
            q.stop()
            return spark.read.parquet(out).count()

        assert run_until(customer.count()) == customer.count()
        assert len(glob.glob(ck + "/offsets/*")) >= 3  # one snapshot each
        # two more commits, restart from checkpoint: only the delta, once
        t.write(spark, customer.limit(7))
        t.write(spark, customer.limit(5))
        assert run_until(customer.count() + 12) == customer.count() + 12
        assert run_until(customer.count() + 12) == customer.count() + 12
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)
