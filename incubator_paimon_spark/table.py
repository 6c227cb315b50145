"""Table abstraction: metadata managers + read/write builders.

Mirrors paimon-core/src/main/java/org/apache/paimon/table/Table.java:41
(read/write builders, tags, branches, rollback) with the two concrete kinds
folded into one class switched on `primary_keys`:
- AppendOnlyFileStoreTable.java:50 (no pk, no merge)
- PrimaryKeyFileStoreTable.java:52 (LSM merge-on-read)

All reads return Spark DataFrames; all metadata stays JSON under the table
path (schema/, snapshot/, manifest/, tag/, branch/, consumer/).
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .metadata.commit import FileStoreCommit
from .metadata.manifest import ManifestStore, live_entries
from .metadata.schema import SchemaManager, TableSchema
from .metadata.snapshot import Snapshot, SnapshotManager
from .metadata.util import atomic_write_json, read_json
from .predicate import Predicate
from .read import ScanPlan, TableScan, plan_to_df
from .write import BatchTableWrite

BRANCH_DIR = "branch"
TAG_DIR = "tag"


class Table:
    def __init__(self, path: str, branch: str | None = None):
        from .fileio import for_path
        self.root_path = path
        self.branch = branch
        self.path = path if branch is None else os.path.join(path, BRANCH_DIR, branch)
        self.io = for_path(self.path)
        self.schemas = SchemaManager(self.path)
        self.snapshots = SnapshotManager(self.path)
        self.manifests = ManifestStore(self.path)
        self.commit = FileStoreCommit(self.path)
        from .metadata.index import IndexStore
        self.index = IndexStore(self.path)
        from .metadata.deletion import DvStore
        self.dv = DvStore(self.path)
        self._schema_cache: dict[int, TableSchema] = {}

    # ------------------------------------------------------------------
    @property
    def name(self) -> str:
        return os.path.basename(self.root_path)

    @property
    def schema(self) -> TableSchema:
        s = self.schemas.latest()
        if s is None:
            raise FileNotFoundError(f"no schema at {self.path}")
        return s

    def schema_at(self, schema_id: int) -> TableSchema:
        if schema_id not in self._schema_cache:
            self._schema_cache[schema_id] = self.schemas.read(schema_id)
        return self._schema_cache[schema_id]

    @property
    def options(self):
        return self.schema.core_options

    def is_primary_key_table(self) -> bool:
        return bool(self.schema.primary_keys)

    # ------------------------------------------------------------------
    # write / read builders
    def new_write(self) -> BatchTableWrite:
        return BatchTableWrite(self)

    def write(self, spark: SparkSession, df: DataFrame, **kw):
        """Append/upsert `df` as one commit. kw: overwrite, dynamic_overwrite,
        commit_identifier, watermark."""
        return self.new_write().write(spark, df, **kw)

    def new_query(self, projection: list[str] | None = None,
                  max_cached_rows: int = 2_000_000,
                  snapshot_id: int | None = None):
        """PK point lookup (TableQuery / LocalTableQuery.java:71)."""
        from .query import LocalTableQuery
        return LocalTableQuery(self, projection=projection,
                               max_cached_rows=max_cached_rows,
                               snapshot_id=snapshot_id)

    def new_scan(self, snapshot_id=None, tag=None, timestamp_ms=None,
                 read_optimized=False, scan_mode=None, watermark=None) -> TableScan:
        if (snapshot_id is None and tag is None and timestamp_ms is None
                and scan_mode is None and watermark is None):
            # table-level time travel: scan.snapshot-id /
            # scan.timestamp-millis as OPTIONS (the reference reads them
            # from CoreOptions when no explicit scanner args are given —
            # the `/*+ OPTIONS(...) */` and attach-time form)
            opts = self.options
            snapshot_id = opts.scan_snapshot_id
            if snapshot_id is None:
                timestamp_ms = opts.scan_timestamp_millis
        return TableScan(self, snapshot_id=snapshot_id, tag=tag,
                         timestamp_ms=timestamp_ms, read_optimized=read_optimized,
                         scan_mode=scan_mode, watermark=watermark)

    def read(
        self,
        spark: SparkSession,
        predicate: Predicate | None = None,
        projection: list[str] | None = None,
        snapshot_id: int | None = None,
        tag: str | None = None,
        timestamp_ms: int | None = None,
        read_optimized: bool = False,
        limit: int | None = None,
        with_system_cols: bool = False,
        file_metadata: bool = False,
        scan_mode: str | None = None,
        watermark: int | None = None,
        planner: str = "auto",
    ) -> DataFrame:
        scan = self.new_scan(snapshot_id, tag, timestamp_ms, read_optimized,
                             scan_mode=scan_mode, watermark=watermark)
        plan = scan.plan(predicate, limit, planner=planner)
        df = plan_to_df(spark, self, plan, projection, with_system_cols,
                        file_metadata=file_metadata)
        if limit is not None:
            df = df.limit(limit)
        return df

    def analyze(self, spark: SparkSession, cols: list[str] | None = None):
        """ANALYZE TABLE (PaimonAnalyzeTableColumnCommand parity)."""
        from .analyze import analyze_table
        return analyze_table(spark, self, cols)

    def to_view(self, spark: SparkSession, view_name: str | None = None, **kw) -> str:
        """Register a temp view so plain spark.sql() can query the table."""
        name = view_name or self.name
        self.read(spark, **kw).createOrReplaceTempView(name)
        return name

    # ------------------------------------------------------------------
    # live file entries of a snapshot
    def entries_at(self, snapshot: Snapshot | None = None):
        s = snapshot or self.snapshots.latest()
        if s is None:
            return []
        return live_entries(
            self.manifests.read_all_entries(s.base_manifest_list)
            + self.manifests.read_all_entries(s.delta_manifest_list))

    def delta_entries(self, snapshot: Snapshot):
        """ADD entries introduced by exactly this snapshot."""
        return [e for e in self.manifests.read_all_entries(snapshot.delta_manifest_list)
                if e.kind == "ADD"]

    def changelog_entries(self, snapshot: Snapshot):
        return self.manifests.read_all_entries(snapshot.changelog_manifest_list)

    def stream_entries(self, snapshot: Snapshot, changelog: bool):
        """Entries one micro-batch reads for this snapshot — the follow-up
        scanner choice (DeltaFollowUpScanner vs ChangelogFollowUpScanner):
        delta mode skips COMPACT snapshots entirely (a compaction re-adds
        rewritten files but no new data, and lookup-producer changelog files
        are NOT data); changelog mode reads materialized changelog files
        from ANY snapshot kind (lookup changelog rides APPEND commits,
        full-compaction changelog rides COMPACT commits), falling back to
        labeling plain deltas +I only for non-COMPACT snapshots."""
        if changelog:
            es = self.changelog_entries(snapshot)
            if es:
                return es
            if snapshot.commit_kind == "COMPACT":
                return []
            return self.delta_entries(snapshot)
        if snapshot.commit_kind == "COMPACT":
            return []
        return self.delta_entries(snapshot)

    # ------------------------------------------------------------------
    # tags (TagAutoCreation.java:48, Table.java:78-116): full snapshot copy
    def create_tag(self, name: str, snapshot_id: int | None = None,
                   time_retained: str | None = None):
        """`time_retained` ('1 d' style) gives THIS tag its own expiry
        window (manage-tags.md CALL sys.create_tag time_retained),
        overriding the table's tag.default-time-retained; the tag file
        additionally records its creation time so retention measures tag
        age, not the tagged snapshot's commit age."""
        sid = snapshot_id if snapshot_id is not None else self.snapshots.latest_id()
        if sid is None:
            raise RuntimeError("cannot tag an empty table")
        j = self.snapshots.read(sid).to_json()
        j["tagCreateTime"] = int(time.time() * 1000)
        if time_retained is not None:
            from .options import parse_duration_ms
            j["tagTimeRetained"] = parse_duration_ms(time_retained)
        ok = atomic_write_json(os.path.join(self.path, TAG_DIR, f"tag-{name}"), j)
        if not ok:
            raise ValueError(f"tag {name!r} already exists")
        if time_retained is not None:
            # marker lets expire_tags_by_time find TTL-carrying tags from
            # one directory listing instead of reading every tag file
            atomic_write_json(
                os.path.join(self.path, TAG_DIR, f"ttl-{name}"), {})

    def delete_tag(self, name: str):
        self.io.delete(os.path.join(self.path, TAG_DIR, f"tag-{name}"))
        try:
            self.io.delete(os.path.join(self.path, TAG_DIR, f"ttl-{name}"))
        except FileNotFoundError:
            pass

    def list_tags(self) -> list[str]:
        d = os.path.join(self.path, TAG_DIR)
        return sorted(n[len("tag-"):] for n in self.io.list_names(d)
                      if n.startswith("tag-") and ".tmp-" not in n)

    def tag_snapshot(self, name: str) -> Snapshot:
        return Snapshot.from_json(read_json(os.path.join(self.path, TAG_DIR, f"tag-{name}")))

    # ------------------------------------------------------------------
    # branches: copy-on-write fork of metadata; data files are shared with the
    # main table via relative-path reads against the branch dir, so we
    # materialize links for referenced files (metadata copy, zero data copy).
    def create_branch(self, name: str, tag: str | None = None, snapshot_id: int | None = None):
        if self.branch is not None:
            raise ValueError("create branches from the main table")
        if tag is not None:
            snap = self.tag_snapshot(tag)
        else:
            sid = snapshot_id if snapshot_id is not None else self.snapshots.latest_id()
            snap = self.snapshots.read(sid) if sid is not None else None
        bdir = os.path.join(self.path, BRANCH_DIR, name)
        if self.io.exists(bdir):
            raise ValueError(f"branch {name!r} already exists")
        self.io.mkdirs(os.path.join(bdir, "schema"))
        # copy schemas up to branch point
        for s in self.schemas.list_all():
            if snap is None or s.id <= snap.schema_id:
                self.io.copy(os.path.join(self.path, "schema", f"schema-{s.id}"),
                             os.path.join(bdir, "schema", f"schema-{s.id}"))
        if snap is not None:
            # copy the snapshot + its manifests; share referenced data files
            self.io.mkdirs(os.path.join(bdir, "snapshot"))
            self.io.mkdirs(os.path.join(bdir, "manifest"))
            names = (self.manifests.read_manifest_list(snap.base_manifest_list)
                     + self.manifests.read_manifest_list(snap.delta_manifest_list))
            for m in names + [snap.base_manifest_list, snap.delta_manifest_list]:
                if m:
                    self.io.copy(os.path.join(self.path, "manifest", m),
                                 os.path.join(bdir, "manifest", m))
            for e in self.entries_at(snap):
                src = os.path.join(self.path, e.file.file_name)
                dst = os.path.join(bdir, e.file.file_name)
                if not self.io.exists(dst):
                    self.io.link_or_copy(src, dst)
            branch_snap = Snapshot.from_json(snap.to_json())
            branch_snap.id = snap.id
            SnapshotManager(bdir).try_commit(branch_snap)
        return Table(self.root_path, branch=name)

    def branch_table(self, name: str) -> "Table":
        return Table(self.root_path, branch=name)

    def list_branches(self) -> list[str]:
        d = os.path.join(self.path, BRANCH_DIR)
        return sorted(n for n in self.io.list_names(d)
                      if self.io.is_dir(os.path.join(d, n)))

    def fast_forward(self, branch: str):
        """Replace main metadata with the branch's (FastForwardProcedure)."""
        bt = self.branch_table(branch)
        b_latest = bt.snapshots.latest()
        if b_latest is None:
            raise RuntimeError(f"branch {branch!r} has no snapshots")
        for sub in ("snapshot", "manifest", "schema"):
            src_dir = os.path.join(bt.path, sub)
            dst_dir = os.path.join(self.path, sub)
            for n in self.io.list_names(src_dir):
                src, dst = os.path.join(src_dir, n), os.path.join(dst_dir, n)
                if n == "LATEST" or not self.io.exists(dst):
                    self.io.copy(src, dst)
        for e in bt.entries_at(b_latest):
            src = os.path.join(bt.path, e.file.file_name)
            dst = os.path.join(self.path, e.file.file_name)
            if not self.io.exists(dst):
                self.io.link_or_copy(src, dst)
        # drop main snapshots newer than the branch head
        for sid in [s.id for s in self.snapshots.list_all() if s.id > b_latest.id]:
            self.snapshots.delete(sid)
        from .metadata.util import write_text
        write_text(os.path.join(self.path, "snapshot", "LATEST"), str(b_latest.id))

    # ------------------------------------------------------------------
    def rollback_to(self, snapshot_id: int | None = None, tag: str | None = None):
        """Delete snapshots newer than the target (RollbackHelper)."""
        if tag is not None:
            target = self.tag_snapshot(tag)
            if not self.snapshots.exists(target.id):
                self.snapshots.try_commit(target)
            snapshot_id = target.id
        assert snapshot_id is not None
        for s in self.snapshots.list_all():
            if s.id > snapshot_id:
                self.snapshots.delete(s.id)
        from .metadata.util import write_text
        write_text(os.path.join(self.path, "snapshot", "LATEST"), str(snapshot_id))

    # ------------------------------------------------------------------
    # consumers (ConsumerManager.java:40)
    def consumer_path(self, consumer_id: str) -> str:
        return os.path.join(self.path, "consumer", f"consumer-{consumer_id}")

    def read_consumer(self, consumer_id: str) -> int | None:
        try:
            return read_json(self.consumer_path(consumer_id))["nextSnapshot"]
        except FileNotFoundError:
            return None

    def write_consumer(self, consumer_id: str, next_snapshot: int):
        from .metadata.util import write_text, dumps
        write_text(self.consumer_path(consumer_id), dumps({"nextSnapshot": next_snapshot}))

    def list_consumers(self) -> dict[str, int]:
        d = os.path.join(self.path, "consumer")
        out = {}
        for n in self.io.list_names(d):
            if n.startswith("consumer-"):
                out[n[len("consumer-"):]] = read_json(os.path.join(d, n))["nextSnapshot"]
        return out

    # ------------------------------------------------------------------
    def run_post_commit_hooks(self, spark: SparkSession, snapshot: Snapshot):
        """Inline maintenance triggered by commits, like the reference's
        write-time compaction + expiration piggyback."""
        opts = self.options
        if opts.write_only:
            return
        # full-compaction.delta-commits (CoreOptions.java:833)
        fc = opts.full_compaction_delta_commits
        if fc and self.is_primary_key_table() and snapshot.commit_kind == "APPEND":
            appends_since = 0
            for s in reversed(self.snapshots.list_all()):
                if s.commit_kind == "COMPACT":
                    break
                if s.commit_kind in ("APPEND", "OVERWRITE"):
                    appends_since += 1
            if appends_since >= fc:
                from .compact import compact_table
                compact_table(spark, self, full=True)
        # write-time universal compaction: every non-write-only writer owns
        # a CompactManager that picks once a bucket's sorted runs reach
        # num-sorted-run.compaction-trigger (MergeTreeWriter.java
        # flushWriteBuffer → compactManager.triggerCompaction;
        # UniversalCompaction.pick). Without this, an unbounded commit
        # stream (streaming sink, nightly ingests) accumulates level-0
        # runs and read amplification grows without user action. Only
        # buckets touched by THIS commit are counted (the others could not
        # have crossed the trigger since their last write).
        if snapshot.commit_kind in ("APPEND", "OVERWRITE"):
            trigger = opts.num_sorted_run_compaction_trigger
            _delta = self.delta_entries(snapshot)
            touched = {(tuple(sorted(e.partition.items())), e.bucket)
                       for e in _delta}
            if touched:
                from .compact import (_group_by_bucket, bucket_sorted_runs,
                                      compact_table, pick_compaction)
                from .metadata.manifest import live_entries as _live
                from .metadata.util import dumps as _dumps
                # read ONLY the touched buckets' entries (object-parsed
                # selectively from the columnar manifests): the hook runs
                # on EVERY commit, so at 10^6 live files a full manifest
                # parse here would tax every write by tens of seconds
                touched_raw = {(_dumps(e.partition), e.bucket)
                               for e in _delta}
                metas = (self.manifests.read_manifest_list_meta(
                             snapshot.base_manifest_list)
                         + self.manifests.read_manifest_list_meta(
                             snapshot.delta_manifest_list))
                # list-level counts prove a delete-free chain for free —
                # the raw-identity filter then needs no ident-read
                # verification (a DELETE that doesn't exist can't split)
                entries = _live(self.manifests.read_entries_filtered(
                    [m["name"] for m in metas], touched_raw,
                    delete_free=all(m["numDeleted"] == 0 for m in metas)))
                by_bucket = _group_by_bucket(entries)
                # run the ACTUAL picker per touched bucket (no looser
                # proxy threshold — r8 advice: `runs >= trigger` fired
                # whole-table compactions that picked nothing), then
                # scope the rewrite to exactly those buckets, reusing
                # the (touched-scoped) entries already read here.
                if self.is_primary_key_table():
                    # num-sorted-run.stop-trigger (CoreOptions:133): the
                    # reference STALLS writers at this run count until
                    # compaction catches up; the sync-hook equivalent is
                    # an unconditional pick once a bucket crosses the bar
                    # (covers run buildup from lost advisory races and
                    # write-only histories the universal heuristics may
                    # keep declining)
                    stop = opts.num_sorted_run_stop_trigger
                    eligible = set()
                    for k in touched:
                        runs = bucket_sorted_runs(by_bucket.get(k, []))
                        if len(runs) >= stop or pick_compaction(
                                runs, opts.num_levels - 1,
                                opts.compaction_max_size_amplification_percent,
                                opts.compaction_size_ratio,
                                trigger) is not None:
                            eligible.add(k)
                else:
                    # append tables: small-file accumulation in a touched
                    # partition (AppendOnlyWriter.java:70 owns a
                    # CompactManager the same way; same threshold
                    # _compact_append applies)
                    tfs = opts.target_file_size
                    eligible = {
                        k for k in touched
                        if sum(1 for e in by_bucket.get(k, ())
                               if e.file.file_size < tfs) > trigger}
                if eligible:
                    from .metadata.commit import ConflictError
                    try:
                        compact_table(spark, self, buckets=eligible,
                                      entries=entries)
                    except ConflictError:
                        # advisory compaction: a concurrent committer won
                        # the race — the user's write already succeeded,
                        # and the next commit's hook re-picks these buckets
                        pass
        # tag.automatic-creation (TagAutoCreation.java:48)
        from .maintenance import auto_create_tags
        auto_create_tags(self, snapshot)
        # snapshot expiration runs on EVERY commit like the reference
        # (TableCommitImpl.java:77 expireSnapshots; SYNC default mode),
        # bounded by snapshot.expire.limit so commit latency stays flat —
        # without this a long-lived writer grows history without user
        # action. Defaults (min 10 kept, 1 h time-retained, max INT_MAX)
        # expire nothing on short-lived tables.
        from .maintenance import expire_snapshots
        expire_snapshots(self, limit=opts.snapshot_expire_limit)

    # ------------------------------------------------------------------
    # convenience dispatchers into sibling modules
    def compact(self, spark, full=False, predicate=None, order_by=None, strategy=None):
        from .compact import compact_table
        return compact_table(spark, self, full=full, predicate=predicate,
                             order_by=order_by, strategy=strategy)

    def expire_snapshots(self, retain_max=None, retain_min=None, older_than_ms=None):
        from .maintenance import expire_snapshots
        return expire_snapshots(self, retain_max=retain_max, retain_min=retain_min,
                                older_than_ms=older_than_ms)

    def remove_orphan_files(self, older_than_ms=None, dry_run=False):
        from .maintenance import remove_orphan_files
        return remove_orphan_files(self, older_than_ms=older_than_ms, dry_run=dry_run)

    def system(self, spark: SparkSession, name: str,
               planner: str | None = None) -> DataFrame:
        from .system_tables import system_table
        return system_table(spark, self, name, planner=planner)

    def delete_where(self, spark, predicate, **kw):
        from .row_ops import delete_where
        return delete_where(spark, self, predicate, **kw)

    def update_where(self, spark, predicate, assignments, **kw):
        from .row_ops import update_where
        return update_where(spark, self, predicate, assignments, **kw)

    def merge_into(self, spark, source_df, on, **kw):
        from .row_ops import merge_into
        return merge_into(spark, self, source_df, on, **kw)

    def truncate(self, spark=None):
        from .row_ops import truncate
        return truncate(self)

    def drop_partition(self, *specs: dict):
        from .maintenance import drop_partition
        return drop_partition(self, *specs)

    def incremental(self, spark, start, end=None, changelog=False) -> DataFrame:
        from .streaming.source import incremental_between
        return incremental_between(spark, self, start, end, changelog=changelog)


# ----------------------------------------------------------------------
class Catalog:
    """Filesystem catalog: <warehouse>/<db>.db/<table> (FileSystemCatalog)."""

    def __init__(self, warehouse: str, options: dict | None = None):
        from .fileio import for_path
        self.warehouse = warehouse
        # catalog construction options, surfaced verbatim through
        # sys.catalog_options (CatalogOptionsTable exposes the real
        # option map, not a hardcoded pair — r8 advice)
        self.options = dict(options or {})
        self.options.setdefault("metastore", "filesystem")
        self.io = for_path(warehouse)
        self.io.mkdirs(warehouse)

    def _db_path(self, db: str) -> str:
        return os.path.join(self.warehouse, f"{db}.db")

    def system(self, spark: SparkSession, name: str) -> DataFrame:
        """Catalog-scope system tables (sys.all_table_options /
        sys.catalog_options — SystemTableLoader.loadGlobal)."""
        from .system_tables import catalog_system_table
        return catalog_system_table(spark, self, name)

    def create_database(self, db: str, ignore_if_exists: bool = True):
        p = self._db_path(db)
        if self.io.exists(p) and not ignore_if_exists:
            raise ValueError(f"database {db} exists")
        self.io.mkdirs(p)

    def list_databases(self) -> list[str]:
        return sorted(n[:-3] for n in self.io.list_names(self.warehouse)
                      if n.endswith(".db"))

    def drop_database(self, db: str, cascade: bool = False,
                      ignore_if_not_exists: bool = True):
        """DROP DATABASE [CASCADE] (FileSystemCatalog.dropDatabase:
        refuses a non-empty database unless cascade)."""
        p = self._db_path(db)
        if not self.io.is_dir(p):
            if not ignore_if_not_exists:
                raise ValueError(f"database {db} does not exist")
            return
        tables = self.list_tables(db)
        if tables and not cascade:
            raise ValueError(f"database {db} is not empty: {tables}")
        self.io.delete_dir(p)

    def list_tables(self, db: str) -> list[str]:
        p = self._db_path(db)
        return sorted(n for n in self.io.list_names(p)
                      if self.io.is_dir(os.path.join(p, n, "schema")))

    def create_table(
        self,
        identifier: str,  # "db.table"
        schema: T.StructType,
        partition_keys=None,
        primary_keys=None,
        options=None,
        comment=None,
        ignore_if_exists: bool = False,
    ) -> Table:
        db, name = identifier.split(".", 1)
        self.create_database(db)
        path = os.path.join(self._db_path(db), name)
        if SchemaManager(path).latest_id() is not None:
            if ignore_if_exists:
                return Table(path)
            raise ValueError(f"table {identifier} already exists")
        return self._create_new_table(db, name, schema, partition_keys,
                                      primary_keys, options, comment)

    def _create_new_table(self, db, name, schema, partition_keys,
                          primary_keys, options, comment) -> Table:
        """The create body every catalog shares: build and validate
        schema-0, commit it (exclusive create, so a lost race raises), and
        bind the new table's view in each attached session."""
        path = os.path.join(self._db_path(db), name)
        ts = TableSchema.create(schema, partition_keys, primary_keys, options, comment)
        _validate(ts)
        SchemaManager(path).commit_new(ts)
        t = Table(path)
        for ref, database in getattr(self, "_attached", []):
            s = ref()
            if s is not None and (database is None or database == db):
                self._bind_view(s, t, f"{db}_{name}")
        return t

    def get_table(self, identifier: str) -> Table:
        db, name = identifier.split(".", 1)
        path = os.path.join(self._db_path(db), name)
        t = Table(path)
        _ = t.schema  # raises if missing
        return t

    def drop_table(self, identifier: str, ignore_if_not_exists: bool = True):
        db, name = identifier.split(".", 1)
        path = os.path.join(self._db_path(db), name)
        if self.io.is_dir(path):
            self.io.delete_dir(path)
        elif not ignore_if_not_exists:
            raise ValueError(f"table {identifier} does not exist")

    def rename_table(self, old: str, new: str):
        db1, n1 = old.split(".", 1)
        db2, n2 = new.split(".", 1)
        self.io.rename(os.path.join(self._db_path(db1), n1),
                       os.path.join(self._db_path(db2), n2))

    def sql(self, spark, statement: str):
        """Execute a DML / CALL SQL string against this catalog's tables
        (MERGE INTO / DELETE FROM / UPDATE / TRUNCATE / CALL)."""
        from .sql import execute_sql
        return execute_sql(spark, self, statement)

    def attach(self, spark, database: str | None = None,
               watch_interval: float | None = 2.0) -> list[str]:
        """Register every catalog table as a session temp view named
        ``<db>_<table>`` so plain ``spark.sql("SELECT … FROM db_t")``
        works for reads — the ergonomic slice of the reference's DSv2
        session catalog (paimon-spark/.../SparkCatalog.java,
        PaimonSparkSessionExtensions.scala:34-60) that the Python
        DataSource API can express (it has no catalog plugin point, so
        ``paimon.db.t`` identifiers are out of reach upstream).

        Freshness, two mechanisms:
        - commits made through THIS process (write / compact / row-level
          ops / streaming sink) re-bind the view synchronously via the
          commit-listener hook — a reader never sees a stale file list;
        - a daemon watcher polls each table's LATEST snapshot pointer
          every ``watch_interval`` seconds and re-binds any view another
          PROCESS moved, and binds tables that appeared in the watched
          scope. The poll is one hint-file read per table per tick
          (control-plane sized); ``watch_interval=None`` disables it,
          ``refresh_views()`` forces the same sweep synchronously.

        Tables created through this catalog object after attach() are
        bound automatically. Returns the view names registered.
        """
        import weakref
        self._attached = getattr(self, "_attached", [])
        self._attached.append((weakref.ref(spark), database))
        views = []
        for db in self.list_databases():
            if database is not None and db != database:
                continue
            for name in self.list_tables(db):
                t = self.get_table(f"{db}.{name}")
                view = f"{db}_{name}"
                self._bind_view(spark, t, view)
                views.append(view)
        if watch_interval is not None:
            self._start_view_watcher(spark, watch_interval)
        return views

    def refresh_views(self) -> int:
        """Re-bind every attached view whose LATEST snapshot pointer no
        longer matches the snapshot it was bound at (i.e. a commit from
        ANOTHER process moved the table), and bind tables that appeared
        in an attached scope since. Returns how many views changed."""
        changed = 0
        for key, st in list(getattr(self, "_view_states", {}).items()):
            s = st["ref"]()
            if s is None:
                self._view_states.pop(key, None)
                continue
            try:
                latest = st["table"].snapshots.latest_id()
            except Exception:  # noqa: BLE001 — table dropped mid-sweep
                continue
            if latest != st["snapshot"]:
                st["bind"]()
                changed += 1
        # new tables from other processes land in the watched scope
        for ref, database in list(getattr(self, "_attached", [])):
            s = ref()
            if s is None:
                continue
            for db in self.list_databases():
                if database is not None and db != database:
                    continue
                for name in self.list_tables(db):
                    if (f"{db}_{name}", id(s)) not in self._view_states:
                        self._bind_view(s, self.get_table(f"{db}.{name}"),
                                        f"{db}_{name}")
                        changed += 1
        return changed

    def _bind_view(self, spark, table: "Table", view: str) -> None:
        import weakref

        from .metadata.commit import on_commit
        ref = weakref.ref(spark)  # never pin a session past its lifetime
        states = self._view_states = getattr(self, "_view_states", {})
        key = (view, id(spark))

        def bind(_t=table, _view=view, _ref=ref):
            s = _ref()
            if s is None:
                return
            # read LATEST before planning: a commit racing in between
            # leaves a stale-looking pointer, so the next sweep re-binds
            sid = _t.snapshots.latest_id()
            from .analyze import broadcast_if_small
            broadcast_if_small(s, _t, _t.read(s)) \
                .createOrReplaceTempView(_view)
            st = states.get(key)
            if st is not None:
                st["snapshot"] = sid

        states[key] = {"table": table, "ref": ref, "bind": bind,
                       "snapshot": None}
        bind()

        def refresh(_snapshot, _bind=bind):
            _bind()

        # key = (view, session) so re-attach replaces, two sessions coexist
        on_commit(table.path, f"view:{view}:{id(spark)}", refresh)

    def _start_view_watcher(self, spark, interval: float) -> None:
        """One daemon thread per (catalog, session): sweeps
        refresh_views() every `interval` s; exits when the session or the
        catalog is collected. Re-attach with a new interval replaces the
        thread. Temp-view registration is session-thread-safe."""
        import threading
        import weakref
        self._watchers = getattr(self, "_watchers", {})
        old = self._watchers.get(id(spark))
        if old is not None:
            old.set()
        stop = threading.Event()
        self._watchers[id(spark)] = stop
        cat_ref, s_ref = weakref.ref(self), weakref.ref(spark)

        def loop():
            while not stop.wait(interval):
                cat = cat_ref()
                if cat is None or s_ref() is None:
                    return
                try:
                    cat.refresh_views()
                except Exception:  # noqa: BLE001 — keep the sweep alive
                    pass

        threading.Thread(target=loop, daemon=True,
                         name=f"paimon-view-watch-{id(spark)}").start()


def _validate(ts: TableSchema):
    opts = ts.core_options
    _ = opts.merge_engine
    _ = opts.changelog_producer
    if opts.merge_engine != "deduplicate" and not ts.primary_keys:
        raise ValueError("merge-engine requires primary keys")
    for pk in ts.primary_keys:
        if pk in ts.partition_keys and len(ts.primary_keys) == 1:
            raise ValueError("primary key must not equal partition key only")
    fmt = opts.file_format
    if fmt not in ("parquet", "orc", "avro"):
        raise ValueError(f"unsupported file.format {fmt!r}")
    if fmt != "parquet" and opts.deletion_vectors_enabled:
        raise ValueError("deletion vectors need parquet row indexes "
                         "(_metadata.row_index); use file.format=parquet")
