"""Streaming / incremental reads.

Reference:
- incremental scan between snapshots/tags/timestamps:
  IncrementalStartingScanner.java:50, options CoreOptions.java:916-931
- micro-batch stream over snapshots: PaimonMicroBatchStream.scala:32 with
  offsets (snapshotId, splitIdx) and read limits (PaimonReadLimits.scala)
- follow-up scanners choosing delta vs changelog per snapshot:
  DataTableStreamScan.java:51, DeltaFollowUpScanner.java:29,
  InputChangelogFollowUpScanner.java:29
- changelog derivation for `lookup`/`full-compaction` producers: realized
  here as a state-diff DataFrame join (old snapshot vs new snapshot) —
  equal output, different mechanism (no per-key RocksDB lookup), per
  SURVEY §7.4.

Spark integration: ``MicroBatchStream`` is a driver-side generator of
incremental DataFrames (offset = next snapshot id, persisted per consumer-id
like ConsumerManager.java:40); ``stream_changes`` adapts it to a polling
loop for foreachBatch-style pipelines.
"""

from __future__ import annotations

import time as _time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..merge_engines import apply_merge
from ..read import read_files_df, plan_to_df
from ..types import INSERT, ROW_KIND, SEQUENCE_NUMBER, VALUE_KIND
from ..write import state_diff_kinds


def _resolve_bound(table, ref) -> int:
    """snapshot id from int / tag name / 'earliest' / 'latest'."""
    if isinstance(ref, int):
        return ref
    if ref == "earliest":
        return table.snapshots.earliest_id() or 0
    if ref in (None, "latest"):
        return table.snapshots.latest_id() or 0
    if isinstance(ref, str) and ref in table.list_tags():
        return table.tag_snapshot(ref).id
    raise ValueError(f"cannot resolve snapshot reference {ref!r}")


def incremental_between(spark: SparkSession, table, start, end=None,
                        changelog: bool = False) -> DataFrame:
    """Rows added in snapshot range (start, end]. With changelog=True reads
    changelog files (input producer) / derives a diff instead.
    Mirrors paimon_incremental_query TVF (PaimonTableValuedFunctions.scala:39-113)."""
    s1 = _resolve_bound(table, start)
    s2 = _resolve_bound(table, end)
    if s2 <= s1:
        schema = table.schema
        from ..read import _with_system_cols
        base = spark.createDataFrame([], _with_system_cols(
            schema.spark_schema(), bool(schema.primary_keys)))
        return base.withColumn(ROW_KIND, F.lit(INSERT)) if changelog else base

    if changelog:
        return changelog_between(spark, table, s1, s2)

    schema = table.schema
    entries = []
    for sid in range(s1 + 1, s2 + 1):
        snap = table.snapshots.read(sid)
        if snap.commit_kind == "COMPACT":
            continue  # compaction adds no new data (DeltaFollowUpScanner)
        entries.extend(table.delta_entries(snap))
    if not entries:
        from ..read import _with_system_cols
        return spark.createDataFrame([], _with_system_cols(
            schema.spark_schema(), bool(schema.primary_keys)))
    df = read_files_df(spark, table, entries, schema,
                       with_level=schema.core_options.merge_engine == "aggregation")
    if schema.primary_keys:
        df = apply_merge(df, schema)
        df = df.drop(SEQUENCE_NUMBER, VALUE_KIND)
    return df


def changelog_between(spark: SparkSession, table, start, end=None) -> DataFrame:
    """Changelog rows (+I/-U/+U/-D) between two snapshots.

    If every snapshot in range carries changelog files (`input` producer),
    read them directly. Otherwise derive the diff of merged states — the
    `lookup` / `full-compaction` equivalence (-U/+U pairs for changed keys).
    """
    s1 = _resolve_bound(table, start)
    s2 = _resolve_bound(table, end)
    schema = table.schema

    cl_entries, have_all = [], True
    for sid in range(s1 + 1, s2 + 1):
        snap = table.snapshots.read(sid)
        es = table.changelog_entries(snap)
        if es:
            # materialized changelog rides APPEND commits (input/lookup
            # producers) AND COMPACT commits (full-compaction producer)
            cl_entries.extend(es)
        elif snap.commit_kind != "COMPACT" and snap.delta_record_count != 0:
            have_all = False
    if have_all and cl_entries:
        df = read_files_df(spark, table, cl_entries, schema)
        return df.withColumn(ROW_KIND, F.col(VALUE_KIND))

    if not schema.primary_keys:
        df = incremental_between(spark, table, s1, s2)
        return df.withColumn(ROW_KIND, F.lit(INSERT))

    # state diff of the merged old vs new state (the producers' rule)
    old = plan_to_df(spark, table, table.new_scan(snapshot_id=s1).plan()) if s1 > 0 \
        else spark.createDataFrame([], schema.spark_schema())
    new = plan_to_df(spark, table, table.new_scan(snapshot_id=s2).plan())
    return state_diff_kinds(old, new, schema).withColumnRenamed(
        VALUE_KIND, ROW_KIND)


class MicroBatchStream:
    """Micro-batch source: each call to next_batch() returns (end_snapshot,
    DataFrame of new rows) or None. Offset state = next snapshot id,
    optionally persisted under a consumer-id (survives restarts + protects
    those snapshots from expiration).

    Read limits mirror PaimonReadLimits: max_snapshots_per_trigger bounds how
    far one batch advances."""

    def __init__(self, table, spark: SparkSession, consumer_id: str | None = None,
                 starting_snapshot=None, changelog: bool = False,
                 max_snapshots_per_trigger: int | None = None):
        self.table = table
        self.spark = spark
        self.consumer_id = consumer_id
        self.changelog = changelog
        self.max_snapshots = max_snapshots_per_trigger
        if consumer_id is not None and table.read_consumer(consumer_id) is not None:
            self.next_snapshot = table.read_consumer(consumer_id)
        elif starting_snapshot == "latest":
            self.next_snapshot = (table.snapshots.latest_id() or 0) + 1
        elif isinstance(starting_snapshot, int):
            self.next_snapshot = starting_snapshot
        else:  # from earliest (scan.mode=from-snapshot default)
            self.next_snapshot = table.snapshots.earliest_id() or 1

    def next_batch(self):
        latest = self.table.snapshots.latest_id()
        if latest is None or self.next_snapshot > latest:
            return None
        end = latest
        if self.max_snapshots is not None:
            end = min(latest, self.next_snapshot - 1 + self.max_snapshots)
        start = self.next_snapshot - 1
        if self.changelog:
            df = changelog_between(self.spark, self.table, start, end)
        else:
            df = incremental_between(self.spark, self.table, start, end)
        self.next_snapshot = end + 1
        if self.consumer_id is not None:
            self.table.write_consumer(self.consumer_id, self.next_snapshot)
        return end, df


def stream_changes(table, spark, poll_interval_s: float = 1.0, bounded: bool = True,
                   bounded_watermark: int | None = None, **kw):
    """Generator of (snapshot_id, DataFrame) batches; bounded=True stops at
    the current latest; bounded_watermark stops after the first consumed
    snapshot whose watermark passes it (BoundedChecker.java:30
    watermark(long) — scan.bounded.watermark end condition)."""
    stream = MicroBatchStream(table, spark, **kw)
    bound = table.snapshots.latest_id() or 0
    user_max = stream.max_snapshots
    while True:
        if bounded_watermark is not None:
            # end BEFORE the first snapshot whose watermark passes the bound
            # (shouldEndInput), and cap the batch at that boundary
            allowed, sid = 0, stream.next_snapshot
            while table.snapshots.exists(sid):
                wm = table.snapshots.read(sid).watermark
                if wm is not None and wm > bounded_watermark:
                    break
                allowed += 1
                sid += 1
            if allowed == 0 and table.snapshots.exists(stream.next_snapshot):
                return
            stream.max_snapshots = (allowed if user_max is None
                                    else min(allowed, user_max)) or None
        batch = stream.next_batch()
        if batch is None:
            if bounded and bounded_watermark is None:
                return
            _time.sleep(poll_interval_s)
            continue
        yield batch
        if bounded_watermark is None and bounded and stream.next_snapshot > bound:
            return
