"""Scan planning + merge-on-read DataFrame construction.

Reference flow (SURVEY §3.1): snapshot → manifest entries → partition/stats
prune → splits (DataTableBatchScan.java:34, SnapshotReaderImpl.java:66,
AbstractFileStoreScan stats skipping, MergeTreeSplitGenerator.java:38) →
per-split merge readers (MergeFileSplitRead.java:73-286).

Spark-first: planning stays a driver-side Python pass over manifest JSON
(same as the reference's driver planning); *execution* is one declarative
DataFrame — `spark.read.parquet(raw files) UNION merge(grouped files)` — so
Catalyst/Tungsten own pushdown, codegen and shuffle. The planner's output is
just file lists, which keeps the 100 TB story: executors never list or plan,
they read exactly the pruned files.

Merge avoidance parity: buckets whose files all sit at the max LSM level are
"rawConvertible" (DataSplit.java:66) and bypass the merge aggregation
entirely; `read_optimized=True` reads only max-level files
(ReadOptimizedTable.java:53).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field as dc_field
from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .merge_engines import LEVEL_COL, apply_merge
from .metadata.manifest import ManifestEntry, live_entries
from .metadata.schema import TableSchema
from .metadata.snapshot import Snapshot
from .predicate import Predicate, split_by_fields
from .types import ROW_KIND, SEQUENCE_NUMBER, VALUE_KIND


@dataclass
class ScanPlan:
    snapshot: Snapshot | None
    entries: list[ManifestEntry] = dc_field(default_factory=list)
    residual: Predicate | None = None
    # schema the scan resolved against: the table's CURRENT schema for
    # ordinary scans (files evolve forward even when the latest snapshot
    # predates a schema change), the snapshot's write-time schema under
    # explicit time travel (Spark VERSION AS OF semantics).
    schema: "TableSchema | None" = None

    @property
    def total_rows(self) -> int:
        return sum(e.file.row_count for e in self.entries)


class TableScan:
    """Batch scan planner with time travel + pruning."""

    def __init__(self, table, snapshot_id=None, tag=None, timestamp_ms=None,
                 read_optimized=False, scan_mode=None, watermark=None):
        self.table = table
        self.snapshot_id = snapshot_id
        self.tag = tag
        self.timestamp_ms = timestamp_ms
        self.read_optimized = read_optimized
        self.scan_mode = scan_mode
        self.watermark = watermark

    # -- snapshot resolution (startup scanners, §2.1 scan modes) --
    def resolve_snapshot(self) -> Snapshot | None:
        t = self.table
        if self.tag is not None:
            return t.tag_snapshot(self.tag)
        if self.snapshot_id is not None:
            return t.snapshots.read(self.snapshot_id)
        if self.timestamp_ms is not None:
            return t.snapshots.snapshot_for_timestamp(self.timestamp_ms)
        if self.watermark is not None or self.scan_mode == "from-watermark":
            # StaticFromWatermarkStartingScanner: earliest snapshot whose
            # watermark >= T
            for s in t.snapshots.list_all():
                if s.watermark is not None and s.watermark >= self.watermark:
                    return s
            return None
        if self.scan_mode == "compacted-full":
            # StaticFromCompactedStartingScanner: latest COMPACT snapshot,
            # else fall back to latest
            latest = None
            for s in t.snapshots.list_all():
                if s.commit_kind == "COMPACT":
                    latest = s
            return latest if latest is not None else t.snapshots.latest()
        return t.snapshots.latest()

    def plan(self, predicate: Predicate | None = None, limit: int | None = None,
             planner: str = "auto") -> ScanPlan:
        """planner: "auto" (DataFrame pruning when the manifest set is large
        and a SparkSession is active, else the driver pass), "python"
        (force the driver pass), "dataframe" (force executor-side pruning;
        falls back to the driver pass only when a gate fails — see
        plan_distributed.py)."""
        import time as _time
        t = self.table
        _t0 = _time.time()
        snapshot = self.resolve_snapshot()
        if snapshot is None:
            return ScanPlan(None, [], predicate)

        time_travel = (self.tag is not None or self.snapshot_id is not None
                       or self.timestamp_ms is not None)
        schema = t.schema_at(snapshot.schema_id) if time_travel else t.schema

        # auto only engages with a predicate (an unpredicated full plan
        # would collect every entry through the executor pass — slower
        # than the driver parse); an explicit planner="dataframe" runs it
        # regardless, as documented
        if planner == "dataframe" or (planner == "auto"
                                      and predicate is not None):
            plan = self._plan_dataframe(snapshot, schema, predicate, limit,
                                        force=(planner == "dataframe"),
                                        t0=_t0)
            if plan is not None:
                return plan

        raw = (t.manifests.read_all_entries(snapshot.base_manifest_list)
               + t.manifests.read_all_entries(snapshot.delta_manifest_list))
        entries = live_entries(raw)
        _n_live = len(entries)
        _n_part = _n_bucket = _n_stats = None

        if self.read_optimized and schema.primary_keys:
            max_level = schema.core_options.num_levels - 1
            entries = [e for e in entries if e.file.level == max_level]
            _n_live = len(entries)  # count pruning from the RO base

        residual = predicate
        if predicate is not None:
            part_pred, rest = split_by_fields(predicate, set(schema.partition_keys))
            if part_pred is not None:
                entries = [e for e in entries if part_pred.test_value(e.partition)]
            _n_part = len(entries)
            # bucket pruning: equality on every bucket key pins the single
            # bucket a fixed-hash write placed the row in
            # (ScanBucketFilter / ReadBuilder.withBucketFilter :111)
            h = _bucket_key_hash(schema, predicate)
            if h is not None:
                # per-entry layout: after a rescale (rescale-bucket.md)
                # partitions may carry different bucket counts — each file's
                # recorded (or write-time-schema-derived) layout decides
                # which bucket the key hashes to in THAT layout; a
                # non-fixed layout (<= 0: legacy dynamic/unaware file)
                # is unprunable, keep it
                memo: dict = {}
                entries = [e for e in entries
                           if (_lb := file_layout_buckets(t, e, memo)) <= 0
                           or e.bucket == h % _lb]
            _n_bucket = len(entries)
            # stats-based file skipping (AbstractFileStoreScan.java:519) +
            # bloom-filter file index (BloomFilterFileIndex.java:48).
            # On PK tables, per-file value-column pruning is NOT merge-safe:
            # a file holding the newest version of a key may fail the value
            # predicate while an older file's stale version passes, so pruning
            # the new file resurrects the stale row. Mirror KeyValueFileStoreScan
            # (filterByStats keys-only; filterWholeBucketByStats for values):
            # prune per-file only with key/partition fields, and apply value
            # fields per whole bucket (every file in the bucket must fail).
            # predicates devolve to each file's write-time schema by field id
            # so renamed columns keep pruning (SchemaEvolutionUtil.java:78)
            bt = per_schema_bloom_types(t)
            if schema.primary_keys:
                safe = set(schema.trimmed_primary_keys()) | set(schema.partition_keys)
                key_pred, value_pred = split_by_fields(predicate, safe)
                if key_pred is not None:
                    kp = per_schema_predicate(t, schema, key_pred)
                    entries = [e for e in entries
                               if (q := kp(e)) is None
                               or (_stats_keep(e, q)
                                   and _bloom_keep(e, q, bt(e)))]
                if (value_pred is not None and
                        schema.core_options.merge_engine in ("deduplicate", "first-row")):
                    # For these engines the merged row IS one input row, so if
                    # every file in a bucket fails, no merged row can match.
                    # partial-update/aggregation combine fields across files —
                    # value pruning there is unsafe even per-bucket; skip it.
                    entries = _prune_whole_buckets(
                        entries, per_schema_predicate(t, schema, value_pred),
                        bt)
            else:
                pp = per_schema_predicate(t, schema, predicate)
                entries = [e for e in entries
                           if (q := pp(e)) is None
                           or (_stats_keep(e, q)
                               and _bloom_keep(e, q, bt(e)))]
            _n_stats = len(entries)
            residual = predicate  # keep full predicate as residual (cheap, exact)

        if limit is not None and not schema.primary_keys:
            # limit pushdown: stop listing once enough raw rows (append only,
            # PaimonScanBuilder.scala:29-35). Planner parity: the distributed
            # path returns entries sorted by file name, so pick the prefix in
            # the same order — crossing PLAN_DF_MIN_MANIFESTS must never
            # change which files a limited scan reads (cheap: pruned set)
            entries = sorted(entries, key=lambda e: e.file.file_name)
            picked, total = [], 0
            for e in entries:
                picked.append(e)
                total += e.file.row_count
                if total >= limit:
                    break
            entries = picked

        # ScanMetrics parity: skipped-per-stage counters make pruning
        # efficacy observable instead of plan-inferred (sys.metrics)
        from .metrics import record
        _np = _n_part if _n_part is not None else _n_live
        _nb = _n_bucket if _n_bucket is not None else _np
        _ns = _n_stats if _n_stats is not None else _nb
        record(t.path, "scan",
               duration_ms=(_time.time() - _t0) * 1000,
               manifest_entries=len(raw),
               live_files=_n_live,
               skipped_by_partition=_n_live - _np,
               skipped_by_bucket=_np - _nb,
               skipped_by_stats=_nb - _ns,
               skipped_by_limit=_ns - len(entries),
               resulted_files=len(entries),
               resulted_rows=sum(e.file.row_count for e in entries))
        return ScanPlan(snapshot, entries, residual, schema)

    def _plan_dataframe(self, snapshot, schema, predicate, limit,
                        force: bool, t0: float) -> ScanPlan | None:
        """Executor-side pruning path (plan_distributed.py). Returns None
        when not applicable (caller runs the driver pass): no active
        SparkSession, manifest set under the size threshold (unless
        forced), or a plan_distributed gate fails."""
        import time as _time

        from pyspark.sql import SparkSession

        from .plan_distributed import (PLAN_DF_MIN_MANIFESTS,
                                       plan_entries_distributed)
        t = self.table
        spark = SparkSession.getActiveSession()
        if spark is None:
            return None
        manifests = (
            t.manifests.read_manifest_list(snapshot.base_manifest_list)
            + t.manifests.read_manifest_list(snapshot.delta_manifest_list))
        if not force and len(manifests) < PLAN_DF_MIN_MANIFESTS:
            return None
        entries = plan_entries_distributed(
            spark, t, snapshot, schema, predicate, self.read_optimized,
            manifests=manifests)
        if entries is None:
            return None
        # stage 6: whole-bucket value pruning (not row-local — needs every
        # surviving file of a bucket; survivor set is small by now)
        if schema.primary_keys:
            safe = set(schema.trimmed_primary_keys()) | set(schema.partition_keys)
            _, value_pred = split_by_fields(predicate, safe)
            if (value_pred is not None and
                    schema.core_options.merge_engine in ("deduplicate", "first-row")):
                entries = _prune_whole_buckets(
                    entries, per_schema_predicate(t, schema, value_pred),
                    per_schema_bloom_types(t))
        if limit is not None and not schema.primary_keys:
            picked, total = [], 0
            for e in entries:
                picked.append(e)
                total += e.file.row_count
                if total >= limit:
                    break
            entries = picked
        from .metrics import record
        record(t.path, "scan",
               duration_ms=(_time.time() - t0) * 1000,
               distributed_plan=1,
               resulted_files=len(entries),
               resulted_rows=sum(e.file.row_count for e in entries))
        return ScanPlan(snapshot, entries, predicate, schema)


def _top_level_equalities(pred: Predicate) -> dict:
    """field → literal from the top-level AND of eq leaves (conservative:
    an OR anywhere at the top defeats extraction)."""
    from .predicate import And, Leaf

    out: dict = {}
    def walk(p):
        if isinstance(p, And):
            for c in p.children:
                walk(c)
        elif isinstance(p, Leaf) and p.op == "eq":
            out[p.field] = p.literal
    walk(pred)
    return out


def file_layout_buckets(table, entry, memo: dict | None = None) -> int:
    """The bucket count `entry`'s file was hashed with. Recorded files
    carry it (manifest totalBuckets); legacy files predate the recording,
    and their layout is the parsed 'bucket' CORE option of their
    WRITE-TIME schema with its OWN default (-1) — never the current
    option, which an ALTER may have changed since, and never the current
    count as a fallback (a legacy dynamic/bucket-unaware file resolved
    against the current fixed count would be silently mis-pruned).
    A return <= 0 means the file was NOT written with a fixed hash
    layout: callers must treat it as unprunable (reads) or as a layout
    conflict (fixed-layout writes). Pass a dict as `memo` when resolving
    many entries: schema lookups collapse to O(schemas)."""
    tb = entry.file.total_buckets
    if tb is not None:
        return tb
    sid = entry.file.schema_id
    if memo is not None and sid in memo:
        return memo[sid]
    try:
        out = table.schema_at(sid).core_options.bucket
    except Exception:
        out = -1  # unknown layout → unprunable, never assume the current one
    if memo is not None:
        memo[sid] = out
    return out


def _bucket_key_hash(schema: TableSchema, pred: Predicate) -> int | None:
    """Bucket-key hash when the predicate pins every bucket key by equality,
    else None. The caller maps it to a bucket per file via the file's
    recorded layout (`h % total_buckets`; Python % is already non-negative),
    so pruning stays exact across rescaled partitions."""
    keys = schema.bucket_keys()
    if not keys or schema.core_options.bucket <= 0:
        return None
    eqs = _top_level_equalities(pred)
    if not all(k in eqs and eqs[k] is not None for k in keys):
        return None
    from .murmur import spark_hash
    types = [schema.field_by_name(k).type.simpleString() for k in keys]
    return spark_hash([eqs[k] for k in keys], types)


def _prune_whole_buckets(entries: list[ManifestEntry], pred_of,
                         bloom_types_of) -> list[ManifestEntry]:
    """Drop a (partition, bucket) only when EVERY file in it fails the
    value-column predicate — merge-safe because dropping all versions of
    every key in the bucket cannot resurrect a stale version
    (KeyValueFileStoreScan.filterWholeBucketByStats / filterByValueFilter).
    `pred_of(entry)` yields the per-write-schema devolved predicate,
    `bloom_types_of(entry)` its schema's bloom_probe_types."""
    by_bucket: dict = {}
    for e in entries:
        key = (tuple(sorted((k, str(v)) for k, v in e.partition.items())), e.bucket)
        by_bucket.setdefault(key, []).append(e)
    out = []
    for es in by_bucket.values():
        if any((q := pred_of(e)) is None
               or (_stats_keep(e, q) and _bloom_keep(e, q, bloom_types_of(e)))
               for e in es):
            out.extend(es)
    return out


def devolve_predicate(pred: Predicate, target_schema: TableSchema,
                      file_schema: TableSchema) -> Predicate | None:
    """Rewrite a current-schema predicate against a file's write-time schema
    by field id (SchemaEvolutionUtil.java:78 createDataFilters), so renamed
    columns keep their stats/bloom pruning. Conservative drops: a leaf whose
    field was added later or retyped vanishes (inside AND the remaining
    leaves still prune; an OR with any untranslatable child abandons the
    branch). None = nothing testable → keep the file."""
    from .predicate import And, Leaf, Or

    by_id = {f.id: f for f in file_schema.fields}
    tgt = {f.name: f for f in target_schema.fields}

    def walk(p):
        if isinstance(p, And):
            kids = [k for k in (walk(c) for c in p.children) if k is not None]
            if not kids:
                return None
            return kids[0] if len(kids) == 1 else And(kids)
        if isinstance(p, Or):
            kids = [walk(c) for c in p.children]
            if any(k is None for k in kids):
                return None
            return Or(kids)
        if isinstance(p, Leaf):
            f = tgt.get(p.field)
            old = by_id.get(f.id) if f is not None else None
            if old is None:
                return None
            if old.type.simpleString() != f.type.simpleString():
                return None  # retyped: literal comparison vs old stats unsafe
            return p if old.name == p.field else Leaf(p.op, old.name, p.literal)
        return None  # opaque predicate (e.g. sql.SqlPredicate)

    return walk(pred)


def per_schema_predicate(table, target_schema: TableSchema,
                         pred: Predicate | None):
    """entry → predicate devolved to that entry's write-time schema,
    memoized per schema id."""
    cache: dict[int, Predicate | None] = {}

    def get(e: ManifestEntry) -> Predicate | None:
        if pred is None:
            return None
        sid = e.file.schema_id
        if sid == target_schema.id:
            return pred
        if sid not in cache:
            cache[sid] = devolve_predicate(pred, target_schema,
                                           table.schema_at(sid))
        return cache[sid]

    return get


def _stats_keep(e: ManifestEntry, pred: Predicate) -> bool:
    stats = dict(e.file.stats)
    stats["_row_count"] = e.file.row_count
    flat = {c: s for c, s in stats.items() if isinstance(s, dict)}
    flat["_row_count"] = e.file.row_count
    try:
        return pred.test_stats(flat)
    except TypeError:
        return True  # incomparable stats (e.g. truncated) — keep file


def _bloom_pos(value, i: int, m: int) -> int:
    import hashlib
    return int(hashlib.md5(f"{i}:{value}".encode()).hexdigest()[:8], 16) % m


# Column types whose bloom the planner probes, with the one literal class
# each accepts: the writer hashes each value's Spark cast(string), the
# planner str() of the literal, and the two agree only here (bool is an
# int subclass and datetime a date subclass — neither matches)
_BLOOM_PROBE = {"tinyint": int, "smallint": int, "int": int, "bigint": int,
                "string": str, "date": date}


def bloom_probe_types(schema: TableSchema) -> dict:
    """{column: literal class} of `schema`'s bloom-probeable columns."""
    return {f.name: _BLOOM_PROBE[f.type.simpleString()]
            for f in schema.fields if f.type.simpleString() in _BLOOM_PROBE}


def per_schema_bloom_types(table):
    """entry → bloom_probe_types of that entry's write-time schema,
    memoized per schema id."""
    cache: dict[int, dict] = {}

    def get(e: ManifestEntry) -> dict:
        sid = e.file.schema_id
        if sid not in cache:
            cache[sid] = bloom_probe_types(table.schema_at(sid))
        return cache[sid]

    return get


def _bloom_keep(e: ManifestEntry, pred: Predicate, probe_types: dict) -> bool:
    """False = the file's bloom index proves no row can match. Only
    columns in `probe_types` (bloom_probe_types of the file's schema) are
    probed, and only with a literal of the matching class; anything else
    keeps the file."""
    fi = e.file.file_index
    if not fi:
        return True
    from .predicate import And, Leaf, Or
    from .write import BLOOM_K, BLOOM_M

    def contains(ps, value, cls) -> bool:
        return (type(value) is not cls
                or all(_bloom_pos(value, i, BLOOM_M) in ps
                       for i in range(BLOOM_K)))

    def check(p) -> bool:
        if isinstance(p, And):
            return all(check(c) for c in p.children)
        if isinstance(p, Or):
            return any(check(c) for c in p.children)
        if isinstance(p, Leaf) and fi.get(p.field) is not None:
            ps, cls = set(fi[p.field]), probe_types.get(p.field)
            if p.op == "eq":
                return contains(ps, p.literal, cls)
            if p.op == "in":
                return any(contains(ps, v, cls) for v in p.literal)
        return True

    return check(pred)


def _with_system_cols(schema: T.StructType, pk: bool) -> T.StructType:
    fields = list(schema.fields)
    if pk:
        fields.append(T.StructField(SEQUENCE_NUMBER, T.LongType(), True))
        fields.append(T.StructField(VALUE_KIND, T.StringType(), True))
    return T.StructType(fields)


METADATA_FILE = "__meta_file"
METADATA_POS = "__meta_pos"


def read_files_df(spark: SparkSession, table, entries: list[ManifestEntry],
                  target_schema: TableSchema, with_level: bool = False,
                  with_metadata: bool = False) -> DataFrame | None:
    """Union of data files, evolved to `target_schema` by field id
    (SchemaEvolutionUtil.createIndexMapping :78 / createDataProjection :266).
    Files are grouped by (schemaId, level); each group gets one parquet scan
    with an explicit schema, then a cast/rename/reorder projection.

    with_metadata adds (__meta_file, __meta_pos): table-relative file name +
    parquet row index — the deletion-vector application key and the
    `__paimon_file_path`/`__paimon_row_index` metadata columns."""
    if not entries:
        return None
    is_pk = bool(target_schema.primary_keys)
    from .metadata.util import dumps as _mdumps
    groups: dict[tuple[int, int, str, str], list[tuple[str, int]]] = {}
    inject: dict[str, dict] = {}
    for e in entries:
        n = e.file.file_name
        fmt = ("orc" if n.endswith(".orc")
               else "avro" if n.endswith(".avro") else "parquet")
        # hive-style migrated files lack the partition columns in their
        # bytes: group them per partition so the reader can inject the
        # values as literals (group count = touched partitions, which
        # planning already pruned)
        pkey = "" if e.file.partition_in_data else _mdumps(e.partition)
        key = (e.file.schema_id, e.file.level if with_level else 0, fmt,
               pkey)
        groups.setdefault(key, []).append((os.path.join(table.path, n),
                                           e.file.file_size))
        if pkey:
            inject[pkey] = e.partition

    prefix = "file:" + table.path.rstrip("/") + "/"
    out = None
    for (schema_id, level, fmt, pkey), sized in sorted(groups.items()):
        paths = [p for p, _ in sized]
        file_schema = table.schema_at(schema_id)
        read_schema = _with_system_cols(file_schema.spark_schema(), is_pk)
        if fmt == "avro":
            if with_metadata:
                raise ValueError(
                    "metadata columns / deletion vectors need parquet row "
                    "indexes; avro files have none (use file.format=parquet)")
            from .formats.avro_spark import read_avro_files_df
            df = read_avro_files_df(spark, paths, read_schema,
                                    sizes=[s for _, s in sized])
        else:
            df = spark.read.schema(read_schema).format(fmt).load(paths)
        if pkey:
            # partition columns absent from the file bytes read as NULL
            # under the explicit schema; overwrite them with the
            # entry-recorded partition values (reference migrate parity:
            # hive files stay zero-copy, PartitionInfo fills the fields)
            for k, v in inject[pkey].items():
                if k in read_schema.fieldNames():
                    df = df.withColumn(
                        k, F.lit(v).cast(read_schema[k].dataType))
        if with_metadata:
            df = (df.withColumn(
                METADATA_FILE,
                F.replace(F.col("_metadata.file_path"), F.lit(prefix), F.lit("")))
                .withColumn(METADATA_POS, F.col("_metadata.row_index")))
        df = evolve(df, file_schema, target_schema, is_pk)
        if with_level:
            df = df.withColumn(LEVEL_COL, F.lit(level))
        out = df if out is None else out.unionByName(df)
    return out


def evolve(df: DataFrame, file_schema: TableSchema, target: TableSchema, is_pk: bool) -> DataFrame:
    if file_schema.id == target.id:
        return df
    from .metadata.schema import _runtime_type
    by_id = {f.id: f for f in file_schema.fields}
    cols = []
    for f in target.fields:
        rt = _runtime_type(f.type)
        old = by_id.get(f.id)
        if old is not None:
            cols.append(F.col(old.name).cast(rt).alias(f.name))
        else:
            default = target.core_options.field_default_value(f.name)
            base = F.lit(default) if default is not None else F.lit(None)
            cols.append(base.cast(rt).alias(f.name))
    if is_pk:
        cols.append(F.col(SEQUENCE_NUMBER))
        cols.append(F.col(VALUE_KIND))
    for extra in (METADATA_FILE, METADATA_POS):
        if extra in df.columns:
            cols.append(F.col(extra))
    return df.select(*cols)


def plan_to_df(
    spark: SparkSession,
    table,
    plan: ScanPlan,
    projection: list[str] | None = None,
    with_system_cols: bool = False,
    audit_log: bool = False,
    file_metadata: bool = False,
) -> DataFrame:
    """Build the result DataFrame for a plan: raw-convertible buckets read
    directly; others go through the merge engine; union both."""
    schema = plan.schema
    if schema is None:
        schema = (table.schema if plan.snapshot is None
                  else table.schema_at(plan.snapshot.schema_id))
    is_pk = bool(schema.primary_keys)

    if not plan.entries:
        out = spark.createDataFrame([], _with_system_cols(schema.spark_schema(), is_pk))
    elif not is_pk:
        out = read_append_entries(spark, table, plan.entries, schema,
                                  plan.snapshot, keep_metadata=file_metadata)
        if file_metadata and out is not None:
            # __paimon_file_path / __paimon_row_index metadata columns
            # (PaimonMetadataColumn.scala:42-48)
            out = (out.withColumnRenamed(METADATA_FILE, "__paimon_file_path")
                      .withColumnRenamed(METADATA_POS, "__paimon_row_index"))
    elif audit_log:
        # $audit_log: no merge, expose rowkind (AuditLogTable.java:79-105)
        out = read_files_df(spark, table, plan.entries, schema)
    else:
        max_level = schema.core_options.num_levels - 1
        needs_agg_level = schema.core_options.merge_engine == "aggregation"
        raw_buckets, merge_buckets = _split_raw_buckets(
            plan.entries, max_level, table=table, schema=schema)
        keep = _merge_projection(schema, projection, plan.residual)
        parts = []
        if merge_buckets:
            df = read_files_df(spark, table, merge_buckets, schema,
                               with_level=needs_agg_level)
            if keep is not None:
                df = df.select(*keep, SEQUENCE_NUMBER, VALUE_KIND,
                               *([LEVEL_COL] if needs_agg_level else []))
            merged = apply_merge(df, schema)
            parts.append(merged)
        if raw_buckets:
            raw = read_files_df(spark, table, raw_buckets, schema)
            parts.append(raw.select(*(keep if keep is not None
                                      else [f.name for f in schema.fields]),
                                    SEQUENCE_NUMBER, VALUE_KIND))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)

    if audit_log and is_pk:
        out = out.withColumn(ROW_KIND, F.col(VALUE_KIND))

    if plan.residual is not None:
        out = out.filter(plan.residual.to_column())

    if not with_system_cols and not audit_log and is_pk:
        out = out.drop(SEQUENCE_NUMBER, VALUE_KIND)
    if projection:
        keep = list(projection) + ([ROW_KIND] if audit_log and is_pk else [])
        if file_metadata and "__paimon_file_path" in out.columns:
            keep += ["__paimon_file_path", "__paimon_row_index"]
        out = out.select(*keep)
    return out


def read_append_entries(spark: SparkSession, table, entries, schema,
                        snapshot, keep_metadata: bool = False) -> DataFrame | None:
    """Append-table read with deletion vectors applied: only DV-covered
    files pay the anti-join; clean files take the plain vectorized path.
    keep_metadata keeps (__meta_file, __meta_pos) on every row."""
    covered = table.dv.covered_files(snapshot)
    if not covered and not keep_metadata:
        return read_files_df(spark, table, entries, schema)
    from .metadata.deletion import apply_dv_filter
    dv_entries = [e for e in entries if e.file.file_name in covered]
    clean = [e for e in entries if e.file.file_name not in covered]
    parts = []
    if dv_entries:
        df = read_files_df(spark, table, dv_entries, schema, with_metadata=True)
        df = apply_dv_filter(spark, table, df, snapshot)
        if not keep_metadata:
            df = df.drop(METADATA_FILE, METADATA_POS)
        parts.append(df)
    if clean:
        parts.append(read_files_df(spark, table, clean, schema,
                                   with_metadata=keep_metadata))
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out


def _merge_projection(schema: TableSchema, projection, residual) -> list[str] | None:
    """Columns the merge actually needs for a projected read, in schema
    order — pushes column pruning *through* the merge aggregation. Without
    this, max_by(struct(all columns)) forces the parquet scan to read every
    column even for a 2-column projection. Must keep: the projection, the
    group keys, the fold-order fields (sequence.field + sequence-group
    sequence fields), and any residual-filter fields."""
    if not projection:
        return None
    opts = schema.core_options
    needed = set(projection)
    needed.update(schema.partition_keys)
    needed.update(schema.trimmed_primary_keys())
    needed.update(opts.sequence_field)
    for seq_fields, cols in opts.sequence_groups().items():
        needed.update(seq_fields)
    if residual is not None:
        needed.update(residual.fields())
    return [c for c in schema.field_names() if c in needed]


def _split_raw_buckets(entries, max_level, table=None, schema=None):
    """rawConvertible split (MergeTreeSplitGenerator.java:38 via
    IntervalPartition.java:33): a (partition,bucket) whose files all sit at
    max level holds exactly one sorted run → no merge needed. Otherwise,
    interval-partition the bucket's files by primary-key range: sections
    whose key ranges don't overlap are key-disjoint, so a single-file
    section with no delete rows reads raw while only genuinely overlapping
    sections pay the merge. Per-column min/max tuples bound the
    lexicographic key range conservatively (every key in a file is >= the
    columnwise-min tuple and <= the columnwise-max tuple), so over-reported
    overlap only costs a merge, never correctness."""
    by_bucket: dict = {}
    for e in entries:
        key = (tuple(sorted((k, str(v)) for k, v in e.partition.items())), e.bucket)
        by_bucket.setdefault(key, []).append(e)
    key_cols = schema.trimmed_primary_keys() if schema is not None else []
    raw, merge = [], []
    for _key, es in by_bucket.items():
        if all(e.file.level == max_level for e in es):
            # one sorted run of compaction outputs: unique keys, deletes
            # already dropped by the merge that produced them
            raw.extend(es)
        elif table is not None and key_cols:
            ranges = [_key_range(table, schema, key_cols, e) for e in es]
            if any(r is None for r in ranges):
                merge.extend(es)  # a file without key stats may overlap any
                continue
            try:
                sections = _interval_sections(sorted(zip(ranges, es),
                                                     key=lambda t: t[0]))
            except TypeError:  # incomparable stats (json round-trip types)
                merge.extend(es)
                continue
            for section in sections:
                # level>0 files are compaction outputs (unique keys); a
                # level-0 flush may hold several versions of one key, so it
                # always merges. delete_row_count==0 proves no -D/-U rows.
                if (len(section) == 1 and section[0].file.level > 0
                        and section[0].file.delete_row_count == 0):
                    raw.append(section[0])
                else:
                    merge.extend(section)
        else:
            merge.extend(es)
    return raw, merge


def _key_range(table, schema, key_cols, e):
    """((min...), (max...)) tuple bounds of the file's primary-key range from
    its per-column stats, mapped by field id to the file's write-time column
    names; None when any key column lacks stats."""
    names = key_cols
    if e.file.schema_id != schema.id:
        by_id = {f.id: f for f in table.schema_at(e.file.schema_id).fields}
        cur = {f.name: f for f in schema.fields}
        names = []
        for c in key_cols:
            old = by_id.get(cur[c].id) if c in cur else None
            if old is None:
                return None
            names.append(old.name)
    stats = dict(e.file.stats)
    mins, maxs = [], []
    for c in names:
        s = stats.get(c)
        if not isinstance(s, dict) or s.get("min") is None or s.get("max") is None:
            return None
        mins.append(s["min"])
        maxs.append(s["max"])
    return tuple(mins), tuple(maxs)


def _interval_sections(ranged):
    """Sweep sorted ((min,max), entry) pairs into transitively-overlapping
    sections (IntervalPartition.java:33 partition())."""
    sections, current, bound = [], [], None
    for (mn, mx), e in ranged:
        if current and mn > bound:
            sections.append(current)
            current, bound = [], None
        current.append(e)
        bound = mx if bound is None or mx > bound else bound
    if current:
        sections.append(current)
    return sections


def tag_partition_names(table) -> list[tuple[str, dict]]:
    """The (partition name, read kwargs) rows a tag-to-partition table
    exposes: one per tag, plus the process-time preview partition (latest
    snapshot under today's date, until its tag is cut). Shared by
    read_tag_partitioned and SHOW PARTITIONS so the listing can never
    drift from what the reads actually serve."""
    from datetime import datetime

    parts: list[tuple[str, dict]] = [(name, {"tag": name})
                                     for name in table.list_tags()]
    preview = table.schema.options.get("metastore.tag-to-partition.preview")
    # the documented (and only) preview mode; any other value stays off
    if preview == "process-time" and table.snapshots.latest() is not None:
        today = datetime.now().strftime("%Y-%m-%d")
        if today not in {n for n, _ in parts}:
            parts.append((today, {}))  # latest snapshot, tag not cut yet
    return parts


def read_tag_partitioned(spark, table, predicate=None, projection=None,
                         tag_pattern: "str | list[str] | None" = None):
    """Upsert-to-partitioned reads (upsert-to-partitioned.md): a
    (typically non-partitioned) PK table whose options carry
    `metastore.tag-to-partition = <col>` is exposed as if partitioned by
    <col>, one partition per tag, each holding the merged state AT that
    tag. With `metastore.tag-to-partition.preview = process-time` the
    LATEST snapshot additionally appears under today's date before its
    tag exists (the reference maps the same thing into the Hive
    metastore; we build the partitioned view directly).

    Scale shape: an equality/IN predicate on <col> prunes driver-side to
    the named tags before any plan is built, and every leg reuses the
    full stats/bucket pruning of a normal tag read; the synthetic column
    is a per-leg literal, so Catalyst constant-folds residual filters on
    it to prune legs even when the pruning happens post-hoc in SQL."""
    from pyspark.sql import functions as F

    col = table.schema.options.get("metastore.tag-to-partition")
    if not col:
        raise ValueError("table has no metastore.tag-to-partition option")
    if col in table.schema.field_names():
        raise ValueError(f"tag-to-partition column {col!r} collides with a "
                         f"table field")

    parts = tag_partition_names(table)

    if tag_pattern is not None:
        # SQL-LIKE pattern(s) over tag NAMES, pruned before any leg is
        # built: each leg costs ~70 ms of DataFrame planning, so a year of
        # daily tags pays ~25 s just to construct the union — the pattern
        # keeps the TVF O(matching tags) when the caller knows the slice.
        # A list means EVERY pattern must match (the SQL rewrite lifts
        # multiple LIKE conjuncts from one WHERE).
        # LIKE semantics exactly: %/_ are the only wildcards; regex/glob
        # metacharacters in the pattern or tag names stay literal
        import re as _re
        pats = ([tag_pattern] if isinstance(tag_pattern, str)
                else list(tag_pattern))
        for pat in pats:
            rx = "".join(".*" if ch == "%" else "." if ch == "_"
                         else _re.escape(ch) for ch in pat)
            parts = [(n, k) for n, k in parts if _re.fullmatch(rx, n)]

    residual = predicate
    post_filter = None
    if predicate is not None:
        part_pred, residual = split_by_fields(predicate, {col})
        if part_pred is not None:
            parts = [(n, k) for n, k in parts
                     if part_pred.test_value({col: n})]
        if residual is not None and col in residual.fields():
            # non-AND shapes (e.g. OR over the tag column) don't split:
            # the table itself has no tag column, so apply the whole
            # residual AFTER the union, where the per-leg literal exists —
            # Catalyst still constant-folds it into per-leg pruning
            post_filter, residual = residual, None

    legs = []
    for name, kw in parts:
        df = table.read(spark, predicate=residual, projection=projection,
                        **kw)
        legs.append(df.withColumn(col, F.lit(name)))
    if not legs:
        empty = table.read(spark, projection=projection).limit(0)
        return empty.withColumn(col, F.lit(None).cast("string"))
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    if post_filter is not None:
        out = out.filter(post_filter.to_column())
    return out
