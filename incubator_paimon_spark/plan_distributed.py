"""Executor-side manifest pruning for very large tables.

The default planner (read.py plan()) is a driver-side Python pass over every
live manifest entry — exactly the reference's driver planning
(AbstractFileStoreScan.java:519 runs the same filters, parallelized over
manifests with an ExecutorService). At 100 TB a table holds O(10^6) data
files and the driver pass costs tens of seconds per plan (§6 probe), so this
module moves stages 1-5 of the plan to Spark executors: manifests are
parquet, so `spark.read.parquet(manifest files)` + one mapInPandas pass runs
the SAME per-entry filters (partition, bucket layout, key-stats, bloom) in
parallel and collects only the survivors. The driver then finishes the two
non-row-local stages (whole-bucket value pruning, limit) on the small
survivor set, guaranteeing output equality with the Python path (pinned by
tests/test_plan_distributed.py).

Cancellation without a shuffle: live files are surviving ADD entries whose
(partition, bucket, fileName) identifier has no DELETE anywhere in the
snapshot. DELETE rows are never filtered (their DataFileMeta may differ from
the matched ADD's, e.g. stats dropped by a rewriter), so the driver can
cancel exactly; an unmatched DELETE is simply discarded, same as
live_entries(). Per-entry filters are identifier-consistent for ADDs, so
filtering ADDs before cancellation is safe.

Applicability gates (fall back to the Python planner otherwise): an active
SparkSession, parquet-only manifests, a local-filesystem table path, and a
predicate built from the Leaf/And/Or IR (opaque host-SQL predicates cannot
be shipped to executors).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F
from pyspark.sql import types as T

from .metadata.manifest import DataFileMeta, ManifestEntry
from .metadata.util import dumps, loads
from .predicate import And, Leaf, Or, Predicate, split_by_fields

# engage the DataFrame planner above this many manifests under planner="auto".
# Manifests roll at 10k entries, so 50 manifests ~ 500k entries — exactly the
# ManifestStore cache bound: below it the driver pass plans warm from cached
# objects in ~1-2 s (§6 probe: 1.2 s at 300k entries); above it every plan is
# a cold re-parse (~40 s at 1M) while the executor pass holds at ~2.4 s.
PLAN_DF_MIN_MANIFESTS = 50

# derived from the manifest writer's single source of truth so a new
# column lands in both the parquet layout and this read schema at once;
# _entry_from_row below must then decode it (it handles the pandas-side
# NaN form of nullable ints, which metadata.manifest._row_entry — the
# pydict decoder — never sees)
from .metadata.manifest import _MANIFEST_COLS

_MANIFEST_READ_SCHEMA = T.StructType([
    T.StructField(c, T.LongType() if t == "int" else T.StringType())
    for c, t in _MANIFEST_COLS])

_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _is_shippable(pred: Predicate | None) -> bool:
    """Only the plain Leaf/And/Or IR pickles to executors; host-SQL wrappers
    (sql.SqlPredicate holds Column objects) do not."""
    if pred is None:
        return True
    if isinstance(pred, Leaf):
        return True
    if isinstance(pred, (And, Or)):
        return all(_is_shippable(c) for c in pred.children)
    return False


def _native_prefilter(part_pred: Predicate | None):
    """A JVM-side SUPERSET filter from top-level partition equalities:
    get_json_object(partition, '$.k') == literal, STRING literals only —
    a numeric literal's text need not match the stored JSON's (an int 5
    against a double partition serialized as 5.0 would drop rows the
    Python `==` test keeps, and a dropped row can never be re-tested).
    Sound because string equality implies JSON-text equality, the pandas
    pass re-tests exactly, and the condition is identifier-consistent (a
    function of partition only); DELETE rows always pass so cancellation
    stays exact."""
    if part_pred is None:
        return None
    conds = []

    def walk(p):
        if isinstance(p, And):
            for c in p.children:
                walk(c)
        elif (isinstance(p, Leaf) and p.op == "eq" and _IDENT_RE.match(p.field)
              and isinstance(p.literal, str)):
            conds.append(
                F.get_json_object(F.col("partition"), f"$.{p.field}")
                == p.literal)
    walk(part_pred)
    if not conds:
        return None
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    return (F.col("kind") == "DELETE") | cond


def _opt_int(v) -> int | None:
    """Nullable int64 columns surface as float NaN in pandas batches."""
    if v is None or (isinstance(v, float) and v != v):
        return None
    return int(v)


def _entry_from_row(kind, row) -> ManifestEntry:
    meta = DataFileMeta(
        file_name=row.fileName,
        file_size=int(row.fileSize),
        row_count=int(row.rowCount),
        min_seq=int(row.minSequenceNumber),
        max_seq=int(row.maxSequenceNumber),
        schema_id=int(row.schemaId),
        level=int(row.level),
        stats=loads(row.stats),
        creation_time_millis=int(row.creationTimeMillis),
        delete_row_count=_opt_int(row.deleteRowCount),
        row_kind_counts=loads(row.rowKindCounts),
        file_index=loads(row.fileIndex),
        total_buckets=_opt_int(row.totalBuckets),
        partition_in_data=_opt_int(row.partitionInData) != 0,
    )
    return ManifestEntry(kind, loads(row.partition), int(row.bucket), meta)


def files_df_distributed(spark, table, manifests: list[str] | None = None):
    """`$files` rows as a DataFrame READ FROM the manifests (no driver
    materialization): live set = ADD rows anti-joined against DELETE
    identifiers — at 10^6 files the driver path (parse + createDataFrame
    of every entry) is tens of seconds, this is one Spark job whose
    output STAYS distributed. Returns None when a gate fails (caller
    uses the driver path). Partition strings pass through verbatim
    (metadata.util.dumps form, e.g. datetimes as {"__dt__": iso}) — the
    driver path serializes with the same codec, so the column format is
    identical on both paths."""
    snapshot = table.snapshots.latest()
    if snapshot is None or "://" in table.path:
        return None
    if manifests is None:
        manifests = (
            table.manifests.read_manifest_list(snapshot.base_manifest_list)
            + table.manifests.read_manifest_list(snapshot.delta_manifest_list))
    if not manifests or any(m.endswith(".json") for m in manifests):
        return None
    paths = [os.path.join(table.path, "manifest", m) for m in manifests]
    df = spark.read.schema(_MANIFEST_READ_SCHEMA).parquet(*paths)
    # cancellation keys on fileName ALONE: file names embed partition dir
    # + bucket and a uuid basename, so they are globally unique within a
    # table — matching on the raw partition JSON text would let a DELETE
    # whose partition serialization differs from its ADD's (foreign or
    # re-serializing writer) miss, making a dead file look live in $files
    dels = df.where(F.col("kind") == "DELETE").select("fileName")
    live = df.where(F.col("kind") == "ADD").join(dels, "fileName", "left_anti")
    return live.select(
        F.col("partition"), F.col("bucket").cast("int"),
        F.col("fileName").alias("file_path"),
        # format from the extension, not a constant: migrate commits .orc
        # files and avro tables carry .avro — readers dispatch on the
        # extension, so $files must label them the same way
        F.when(F.col("fileName").endswith(".orc"), F.lit("orc"))
         .when(F.col("fileName").endswith(".avro"), F.lit("avro"))
         .otherwise(F.lit("parquet")).alias("file_format"),
        F.col("schemaId").alias("schema_id"),
        F.col("level").cast("int"),
        F.col("rowCount").alias("record_count"),
        F.col("fileSize").alias("file_size_in_bytes"),
        F.col("minSequenceNumber").alias("min_sequence_number"),
        F.col("maxSequenceNumber").alias("max_sequence_number"),
        F.col("creationTimeMillis").alias("creation_time"),
        F.col("stats"))


def plan_entries_distributed(spark, table, snapshot, schema,
                             predicate: Predicate | None,
                             read_optimized: bool,
                             manifests: list[str] | None = None
                             ) -> list[ManifestEntry] | None:
    """Stages 1-5 of plan() (cancellation, RO level, partition, bucket,
    per-file key-stats+bloom) on executors. Returns the pruned LIVE entry
    set sorted by file name, or None when a gate fails (caller falls back
    to the Python planner). Pass `manifests` when the caller already read
    the snapshot's manifest lists (avoids a second list read per plan)."""
    from .read import _bucket_key_hash, bloom_probe_types, devolve_predicate

    if "://" in table.path:
        return None  # manifest paths not readable by this Spark session
    if not _is_shippable(predicate):
        return None
    if manifests is None:
        manifests = (
            table.manifests.read_manifest_list(snapshot.base_manifest_list)
            + table.manifests.read_manifest_list(snapshot.delta_manifest_list))
    if not manifests or any(m.endswith(".json") for m in manifests):
        return None
    paths = [os.path.join(table.path, "manifest", m) for m in manifests]

    # ---- driver-side context, all picklable plain data ----
    schemas = {s.id: s for s in table.schemas.list_all()}
    pk = bool(schema.primary_keys)
    ro_level = (schema.core_options.num_levels - 1) if (read_optimized and pk) else None

    part_pred = file_pred = None
    bucket_hash = None
    if predicate is not None:
        part_pred, _ = split_by_fields(predicate, set(schema.partition_keys))
        bucket_hash = _bucket_key_hash(schema, predicate)
        if pk:
            safe = set(schema.trimmed_primary_keys()) | set(schema.partition_keys)
            file_pred, _ = split_by_fields(predicate, safe)
        else:
            file_pred = predicate
    # per-write-schema devolution resolved up front (every schema id a file
    # can carry is known here), so executors never see TableSchema objects
    per_sid_pred = {
        sid: (file_pred if sid == schema.id
              else devolve_predicate(file_pred, schema, s))
        for sid, s in schemas.items()
    } if file_pred is not None else {}
    per_sid_bloom = {sid: bloom_probe_types(s) for sid, s in schemas.items()}
    # legacy-file bucket layout by write-time schema (file_layout_buckets)
    per_sid_layout = {sid: s.core_options.bucket for sid, s in schemas.items()}

    def filter_rows(batches):
        import pandas as pd
        from .read import _bloom_keep, _stats_keep
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                if row.kind != "ADD":
                    out.append(dumps({"k": "D", "p": row.partition,
                                      "b": int(row.bucket), "f": row.fileName}))
                    continue
                if ro_level is not None and row.level != ro_level:
                    continue
                e = None
                if part_pred is not None:
                    e = _entry_from_row("ADD", row)
                    if not part_pred.test_value(e.partition):
                        continue
                if bucket_hash is not None:
                    tb = _opt_int(row.totalBuckets)
                    lb = (tb if tb is not None
                          else per_sid_layout.get(int(row.schemaId), -1))
                    if lb > 0 and row.bucket != bucket_hash % lb:
                        continue
                q = per_sid_pred.get(int(row.schemaId)) if per_sid_pred else None
                if q is not None:
                    e = e if e is not None else _entry_from_row("ADD", row)
                    if not (_stats_keep(e, q) and _bloom_keep(
                            e, q, per_sid_bloom.get(int(row.schemaId), {}))):
                        continue
                e = e if e is not None else _entry_from_row("ADD", row)
                out.append(dumps(e.to_json()))
            yield pd.DataFrame({"e": pd.Series(out, dtype="object")})

    df = spark.read.schema(_MANIFEST_READ_SCHEMA).parquet(*paths)
    pre = _native_prefilter(part_pred)
    if pre is not None:
        df = df.where(pre)
    rows = df.mapInPandas(filter_rows, "e string").collect()

    deleted: set = set()
    adds: dict = {}
    for r in rows:
        j = loads(r.e)
        if j.get("k") == "D":
            deleted.add((tuple(sorted(loads(j["p"]).items())), j["b"], j["f"]))
        else:
            e = ManifestEntry("ADD", j["partition"], j["bucket"],
                              DataFileMeta.from_json(j["file"]))
            adds[e.identifier()] = e
    live = [adds[i] for i in sorted(adds.keys() - deleted,
                                    key=lambda i: i[2])]
    return live
