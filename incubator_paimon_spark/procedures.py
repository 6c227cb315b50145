"""CALL-style procedure dispatcher.

Mirrors paimon-spark SparkProcedures.java:59-72 (the `CALL sys.<name>(...)`
surface). SQL-less equivalent: ``call(spark, catalog, "sys.compact",
table="db.t", ...)``; each procedure maps onto the library APIs.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def call_sql(spark: SparkSession, catalog, statement: str):
    """Parse + dispatch a `CALL sys.<proc>(k => v, ...)` SQL string
    (PaimonSqlExtensions.g4 CALL surface without a parser dependency)."""
    import re

    m = re.match(r"\s*CALL\s+([\w.]+)\s*\((.*)\)\s*$", statement,
                 re.IGNORECASE | re.DOTALL)
    if not m:
        raise ValueError(f"not a CALL statement: {statement!r}")
    name, arg_src = m.group(1), m.group(2).strip()
    args = {}
    if arg_src:
        for part in re.split(r",(?=(?:[^']*'[^']*')*[^']*$)", arg_src):
            k, v = part.split("=>")
            k, v = k.strip(), v.strip()
            if v.startswith("'") and v.endswith("'"):
                args[k] = v[1:-1]
            elif v.lower() in ("true", "false"):
                args[k] = v.lower() == "true"
            else:
                args[k] = int(v) if v.lstrip("-").isdigit() else v
    return call(spark, catalog, name, **args)


def call(spark: SparkSession, catalog, name: str, **args):
    proc = name.split(".")[-1].lower()
    fn = _PROCEDURES.get(proc)
    if fn is None:
        raise ValueError(f"unknown procedure {name!r}; have {sorted(_PROCEDURES)}")
    return fn(spark, catalog, **args)


def _t(catalog, table):
    return catalog.get_table(table) if isinstance(table, str) else table


def _compact(spark, catalog, table, full=False, order_strategy=None,
             order_by=None, where=None, **_):
    if isinstance(order_by, str):
        order_by = [c.strip() for c in order_by.split(",")]
    if isinstance(where, str):
        from .sql import where_to_predicate
        where = where_to_predicate(where)
    return _t(catalog, table).compact(spark, full=full, predicate=where,
                                      order_by=order_by, strategy=order_strategy)


def _expire_snapshots(spark, catalog, table, retain_max=None, retain_min=None,
                      older_than=None, **_):
    return _t(catalog, table).expire_snapshots(retain_max=retain_max,
                                               retain_min=retain_min,
                                               older_than_ms=older_than)


def _expire_partitions(spark, catalog, table, expiration_time=None,
                       timestamp_formatter=None, timestamp_pattern=None, **_):
    from .maintenance import expire_partitions
    from .options import parse_duration_ms
    ms = parse_duration_ms(expiration_time) if expiration_time else None
    return expire_partitions(_t(catalog, table), expiration_time_ms=ms,
                             timestamp_formatter=timestamp_formatter,
                             timestamp_pattern=timestamp_pattern)


def _create_tag(spark, catalog, table, tag, snapshot=None,
                time_retained=None, **_):
    return _t(catalog, table).create_tag(tag, snapshot_id=snapshot,
                                         time_retained=time_retained)


def _delete_tag(spark, catalog, table, tag, **_):
    return _t(catalog, table).delete_tag(tag)


def _rollback(spark, catalog, table, version=None, tag=None, **_):
    return _t(catalog, table).rollback_to(snapshot_id=version, tag=tag)


def _compact_database(spark, catalog, including_databases=None,
                      including_tables=None, excluding_tables=None,
                      full=False, mode=None, **_):
    """CALL sys.compact_database([includingDatabases][,
    includingTables][, excludingTables]) — compact every matching table
    (CompactDatabaseProcedure; 'db1|db2' and table regexes as in the
    reference). Tables with nothing to compact are skipped by the picker.
    `mode` ('divided'/'combined') shapes the FLINK job topology in the
    reference; here every table is its own Spark job either way, so it is
    accepted for signature parity and has no effect. Returns
    {'db.table': snapshot_id | None}."""
    import re as _re

    dbs = catalog.list_databases()
    if including_databases:
        pat = _re.compile(f"^(?:{including_databases})$")
        dbs = [d for d in dbs if pat.match(d)]
    inc = _re.compile(f"^(?:{including_tables})$") if including_tables else None
    exc = _re.compile(f"^(?:{excluding_tables})$") if excluding_tables else None
    out = {}
    for db in dbs:
        for name in catalog.list_tables(db):
            if inc and not inc.match(name):
                continue
            if exc and exc.match(name):
                continue
            snap = catalog.get_table(f"{db}.{name}").compact(spark, full=full)
            out[f"{db}.{name}"] = snap.id if snap is not None else None
    return out


def _create_branch(spark, catalog, table, branch, tag=None, snapshot=None, **_):
    return _t(catalog, table).create_branch(branch, tag=tag, snapshot_id=snapshot)


def _delete_branch(spark, catalog, table, branch, **_):
    import shutil, os
    t = _t(catalog, table)
    t.io.delete_dir(os.path.join(t.path, "branch", branch))


def _fast_forward(spark, catalog, table, branch, **_):
    return _t(catalog, table).fast_forward(branch)


def _remove_orphan_files(spark, catalog, table, older_than=None, dry_run=False, **_):
    from .options import parse_duration_ms
    ms = parse_duration_ms(older_than) if older_than else None
    return _t(catalog, table).remove_orphan_files(older_than_ms=ms, dry_run=dry_run)


def _reset_consumer(spark, catalog, table, consumer_id, next_snapshot_id=None, **_):
    t = _t(catalog, table)
    if next_snapshot_id is None:
        import os
        try:
            t.io.delete(t.consumer_path(consumer_id))
        except FileNotFoundError:
            pass
    else:
        t.write_consumer(consumer_id, next_snapshot_id)


def _hive_partition_of(rel_path: str, spark_schema, partition_keys) -> dict:
    """Partition values from hive-style ``k=v`` path segments, cast per
    the table schema's column types (hive %-encodes special characters;
    ``__HIVE_DEFAULT_PARTITION__`` means NULL). Raises when a declared
    partition key is missing from the path — a silently-empty partition
    would break pruning for every query on the migrated table."""
    import datetime
    from urllib.parse import unquote

    from pyspark.sql import types as T
    found: dict = {}
    for seg in rel_path.replace("\\", "/").split("/")[:-1]:
        if "=" not in seg:
            continue
        k, v = seg.split("=", 1)
        if k not in partition_keys:
            continue
        v = unquote(v)
        if v == "__HIVE_DEFAULT_PARTITION__":
            found[k] = None
            continue
        dt = spark_schema[k].dataType
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                           T.LongType)):
            found[k] = int(v)
        elif isinstance(dt, (T.FloatType, T.DoubleType)):
            found[k] = float(v)
        elif isinstance(dt, T.BooleanType):
            found[k] = v.lower() == "true"
        elif isinstance(dt, T.DateType):
            found[k] = datetime.date.fromisoformat(v)
        elif isinstance(dt, T.TimestampType):
            found[k] = datetime.datetime.fromisoformat(v)
        else:
            found[k] = v
    missing = [k for k in partition_keys if k not in found]
    if missing:
        raise ValueError(f"partition keys {missing} not found in hive "
                         f"path {rel_path!r}")
    return {k: found[k] for k in partition_keys}  # schema order


def _migrate_table(spark, catalog, table, source_dir, partition_keys=None,
                   options=None, **_):
    """Import an existing Parquet directory as snapshot 1 without rewriting
    data (MigrateTableProcedure / migrate/). Files are hard-linked into the
    table layout; stats come from their footers. With `partition_keys`,
    hive-style `k=v` directories become the files' partitions: the bytes
    are linked AS-IS (they lack the partition columns — the reader injects
    them from the manifest entry, `partitionInData=false`), so partitioned
    hive tables migrate zero-copy with pruning intact."""
    import os

    if isinstance(partition_keys, str):  # CALL surface: 'a,b'
        partition_keys = [c.strip() for c in partition_keys.split(",")]
    from .fileio import for_path
    src_io = for_path(source_dir)
    sizes, fmt = _walk_data_files(src_io, source_dir)
    sample = spark.read.format(fmt).load(source_dir)
    files = sorted(sizes)
    if partition_keys is None and files:
        # auto-detect a hive layout (the reference's migrate reads the
        # partition spec from the hive metastore; path-sniffing is the
        # library equivalent): k=v path segments of the first file, in
        # depth order — non-hive layouts have none and stay unpartitioned
        partition_keys = [
            seg.split("=", 1)[0]
            for seg in os.path.relpath(files[0], source_dir)
                         .replace("\\", "/").split("/")[:-1]
            if "=" in seg] or None
    t = catalog.create_table(table, sample.schema, partition_keys=partition_keys,
                             options=options)
    _link_files(t, source_dir, sizes, sample.schema)
    return t


def _link_files(t, source_dir, sizes: dict, source_schema):
    """Share a migrate source's files into `t`'s layout (hard link, else
    copy) and commit them as one snapshot through the shared ADD-entry
    builder; stats come from their footers. Hive `k=v` dirs bind the
    table's partition keys: the bytes lack those columns, so the reader
    injects them from the entry (partitionInData=false)."""
    import os

    from .metadata.commit import CommitMessage
    from .metadata.stats import collect_file_stats
    from .write import build_add_entries

    schema = t.schema
    keys = schema.partition_keys
    files = [(p, sz, _hive_partition_of(os.path.relpath(p, source_dir),
                                        source_schema, keys) if keys else {},
              0, collect_file_stats(p), {})
             for p, sz in sizes.items()]
    adds = build_add_entries(schema, files)
    for e in adds:
        e.file.partition_in_data = not keys
        t.io.link_or_copy(e.staging_path,
                          os.path.join(t.path, e.file.file_name))
    return t.commit.commit(CommitMessage(add=adds), schema_id=schema.id)


def _walk_data_files(src_io, source_dir) -> tuple[dict, str]:
    """({path: size}, format) for a migrate source dir — parquet or ORC
    (the reference's migrate accepts both hive formats); mixed-format
    dirs are rejected rather than half-imported."""
    sizes = {p: sz for p, sz in src_io.walk_files(source_dir)
             if p.endswith((".parquet", ".orc"))}
    fmts = {"orc" if p.endswith(".orc") else "parquet" for p in sizes}
    if len(fmts) > 1:
        raise ValueError(f"mixed parquet/orc files under {source_dir}; "
                         f"migrate one format per table")
    return sizes, (fmts.pop() if fmts else "parquet")


def _migrate_file(spark, catalog, source_dir, target_table, **_):
    """Append an existing Parquet dir's files into an EXISTING table without
    rewriting data (MigrateFileProcedure): same zero-copy link/commit as
    migrate_table, but against the target's current schema + a new
    snapshot on top of its history. Schemas must match by name. A
    hive-layout source binds the target's partition keys from its k=v
    paths (raises when absent — a file in an empty partition spec would
    hide from pruning/DROP PARTITION)."""
    from .fileio import for_path

    t = _t(catalog, target_table)
    schema = t.schema
    if schema.primary_keys:
        raise ValueError("migrate_file targets append tables only "
                         "(PK tables need the bucket shuffle: use INSERT)")
    src_io = for_path(source_dir)
    sizes, fmt = _walk_data_files(src_io, source_dir)
    sample = spark.read.format(fmt).load(source_dir)
    if set(sample.columns) != set(schema.field_names()):
        raise ValueError(f"schema mismatch: source {sorted(sample.columns)} "
                         f"vs table {sorted(schema.field_names())}")
    return _link_files(t, source_dir, sizes, sample.schema)


def _expire_changelogs(spark, catalog, table, older_than=None, retain_max=None, **_):
    from .maintenance import expire_changelogs
    return expire_changelogs(_t(catalog, table), older_than_ms=older_than,
                             retain_max=retain_max)


def _expire_lineage(spark, catalog, older_than, **_):
    """CALL sys.expire_lineage(older_than => <epoch ms>) — drop lineage
    events/segments past the cutoff (lineage.expire_lineage)."""
    from .lineage import expire_lineage
    return expire_lineage(catalog.warehouse, older_than_ms=int(older_than))


def _compact_lineage(spark, catalog, **_):
    """CALL sys.compact_lineage() — roll the loose event tail into a
    parquet segment now (record() also does this automatically past the
    threshold)."""
    from .lineage import compact_events
    return compact_events(catalog.warehouse)


def _create_tag_from_timestamp(spark, catalog, table, tag, timestamp, **_):
    t = _t(catalog, table)
    snap = t.snapshots.earliest_snapshot_after(timestamp)
    if snap is None:
        raise ValueError(f"no snapshot at or after {timestamp}")
    return t.create_tag(tag, snapshot_id=snap.id)


def _analyze(spark, catalog, table, cols=None, **_):
    if isinstance(cols, str):
        cols = [c.strip() for c in cols.split(",")]
    return _t(catalog, table).analyze(spark, cols)


def _drop_partition(spark, catalog, table, partitions, **_):
    """ALTER TABLE DROP PARTITION surface (spec string shape as in
    _parse_partition_specs)."""
    return _t(catalog, table).drop_partition(
        *_parse_partition_specs(partitions))


def _parse_partition_specs(partitions) -> list[dict]:
    """'k=v[,k2=v2][;k=v...]' — commas bind keys in one spec, semicolons
    separate specs (the reference procedures' partition string shape)."""
    specs = []
    for spec_src in str(partitions).split(";"):
        spec = {}
        for kv in spec_src.split(","):
            k, v = kv.split("=", 1)
            spec[k.strip()] = v.strip()
        specs.append(spec)
    return specs


def _mark_partition_done(spark, catalog, table, partitions, **_):
    """CALL sys.mark_partition_done(table => 'db.t', partitions =>
    'dt=20240101[;dt=...]') — success-file markers downstream schedulers
    poll (MarkPartitionDoneProcedure.java:46); visible as the `done`
    column of t$partitions."""
    from .maintenance import mark_partition_done
    return mark_partition_done(_t(catalog, table),
                               *_parse_partition_specs(partitions))


def _migrate_database(spark, catalog, database, source_dir, options=None, **_):
    """Import every Parquet table directory under `source_dir` as
    `<database>.<dirname>` (MigrateDatabaseProcedure.java:31 — one loop
    over the migrate_table core; zero-copy link + footer stats)."""
    import os

    from .fileio import for_path
    io = for_path(source_dir)
    migrated = []
    for name in sorted(io.list_names(source_dir)):
        p = os.path.join(source_dir, name)
        if not io.is_dir(p):
            continue
        if not any(f.endswith((".parquet", ".orc"))
                   for f, _ in io.walk_files(p)):
            continue
        _migrate_table(spark, catalog, f"{database}.{name}", p,
                       options=options)
        migrated.append(f"{database}.{name}")
    return migrated


def _repair(spark, catalog, database_or_table=None, **_):
    """Re-sync filesystem state (RepairProcedure.java): validate each table's
    schema is readable, rewrite stale LATEST snapshot hints from the actual
    listing, and drop abandoned .staging dirs older than an hour. Returns the
    repaired identifiers. Scope: one table ('db.t'), one database ('db'), or
    everything (no arg) — same argument shape as the reference."""
    import os
    import shutil
    import time

    from .metadata.util import write_text

    if database_or_table and "." in database_or_table:
        idents = [database_or_table]
    elif database_or_table:
        idents = [f"{database_or_table}.{n}"
                  for n in catalog.list_tables(database_or_table)]
    else:
        idents = [f"{db}.{n}" for db in catalog.list_databases()
                  for n in catalog.list_tables(db)]
    repaired = []
    now = time.time()
    for ident in idents:
        t = catalog.get_table(ident)  # raises on unreadable schema
        fixed = False
        mgr = t.snapshots
        ids = mgr._ids()
        hint = os.path.join(mgr.dir, "LATEST")
        if ids:
            try:
                stale = int(t.io.read_text(hint).strip()) != ids[-1]
            except (OSError, ValueError):
                stale = True
            if stale:
                write_text(hint, str(ids[-1]))
                fixed = True
        staging = os.path.join(t.path, ".staging")
        for d in t.io.list_names(staging):
            p = os.path.join(staging, d)
            try:
                old = now - t.io.mtime(p) > 3600
            except OSError:
                old = False
            if old:
                t.io.delete_dir(p)
                fixed = True
        if fixed:
            repaired.append(ident)
    return repaired


def _privilege_manager(spark, catalog):
    """The catalog's manager if privileged, else an anonymous one over
    its warehouse (sufficient for init; mutations then require admin)."""
    from .privilege import PrivilegedCatalog, PrivilegeManager
    if isinstance(catalog, PrivilegedCatalog):
        return catalog.privileges
    return PrivilegeManager(spark, catalog.warehouse)


def _priv_ident(database=None, table=None):
    if table:
        return f"{database}.{table}" if database else table
    return database or ""


def _init_privilege(spark, catalog, root_password, **_):
    _privilege_manager(spark, catalog).initialize(root_password)
    return "privilege system initialized"


def _create_privileged_user(spark, catalog, username, password, **_):
    _privilege_manager(spark, catalog).create_user(username, password)
    return f"user {username} created"


def _drop_privileged_user(spark, catalog, username, **_):
    _privilege_manager(spark, catalog).drop_user(username)
    return f"user {username} dropped"


def _grant_privilege_to_user(spark, catalog, username, privilege,
                             database=None, table=None, **_):
    _privilege_manager(spark, catalog).grant(
        username, _priv_ident(database, table), privilege)
    return f"granted {privilege} to {username}"


def _revoke_privilege_from_user(spark, catalog, username, privilege,
                                database=None, table=None, **_):
    n = _privilege_manager(spark, catalog).revoke(
        username, _priv_ident(database, table), privilege)
    return f"revoked {n} grant(s)"


def _recluster_ivf(spark, catalog, index_table, centroids_table=None,
                   vec_col="embedding", id_col="vec_id",
                   num_centroids=None, iters=1, **_):
    """CALL sys.recluster_ivf(index_table => 'db.idx', ...): rebuild a
    drifted IVF index's centroids and reassign in place (the compaction
    analog for vector-search structure; see similarity.ivf_drift)."""
    from .operators.similarity import recluster_ivf_table
    t_idx = _t(catalog, index_table)
    t_c = _t(catalog, centroids_table if centroids_table is not None
             else f"{index_table}_centroids")
    out = recluster_ivf_table(spark, t_idx, t_c, vec_col, id_col=id_col,
                              num_centroids=num_centroids, iters=iters)
    return (f"reclustered {index_table}: mean assignment cosine "
            f"{out['before_mean_cosine']:.4f} -> "
            f"{out['after_mean_cosine']:.4f}")


def _check_mv(spark, catalog, view, **_):
    """CALL sys.check_mv(view => 'db.mv'): audit an incremental
    materialized view against a from-scratch recompute over its
    source's current state (operators/matview.check_materialized)."""
    from .operators.matview import check_materialized
    out = check_materialized(spark, catalog, _t(catalog, view))
    if out["consistent"]:
        return f"{view} is consistent with a from-scratch recompute"
    return (f"{view} INCONSISTENT: {out['view_only']} view-only rows, "
            f"{out['recompute_only']} recompute-only rows")


def _rewrite_file_index(spark, catalog, table, **_):
    """CALL sys.rewrite_file_index(table => 'db.t') — add the embedded
    bloom file index to EXISTING data files without rewriting them
    (file-index.md Procedure / RewriteFileIndexProcedure): first ALTER the
    table's `file-index.bloom-filter.columns`, then this computes blooms
    for every live file missing one (one distributed pass) and commits a
    metadata-only snapshot (empty delta; kind COMPACT so stream readers
    see no data change). Returns the number of files indexed."""
    import dataclasses
    import os

    from .write import compute_bloom_positions, _path_key

    t = _t(catalog, table)
    schema = t.schema
    cols = [c for c in schema.core_options.bloom_filter_columns
            if c in schema.field_names()]
    if not cols:
        raise ValueError(
            "set 'file-index.bloom-filter.columns' via ALTER TABLE first")
    fmt = schema.core_options.file_format
    if fmt == "avro":
        raise ValueError("rewrite_file_index reads parquet/orc files; avro "
                         "tables get their index at write time")
    todo = [e for e in t.entries_at()
            if any(c not in e.file.file_index for c in cols)]
    if not todo:
        return {"files_indexed": 0}
    paths = {e.file.file_name: os.path.join(t.path, e.file.file_name)
             for e in todo}
    by_file = compute_bloom_positions(spark, sorted(paths.values()), fmt,
                                      cols)
    # a column yielding no positions (all-NULL in that file) gets an EMPTY
    # bloom: nothing was inserted, so equality probes prune the file —
    # correct, and it keeps the procedure convergent (the column can never
    # re-enter `todo`)
    new_idx = {rel: {c: by_file.get(_path_key(p), {}).get(c, [])
                     for c in cols}
               for rel, p in paths.items()}

    n_changed = [0]

    def patch(live):
        out, changed = [], 0
        for e in live:
            idx = new_idx.get(e.file.file_name)
            merged = {**e.file.file_index, **idx} if idx is not None else None
            if merged is not None and merged != e.file.file_index:
                # copy — never mutate entries owned by the manifest cache
                out.append(dataclasses.replace(
                    e, file=dataclasses.replace(e.file, file_index=merged)))
                changed += 1
            else:
                out.append(e)
        n_changed[0] = changed
        return out if changed else None

    snap = t.commit.rewrite_metadata(patch)
    return {"files_indexed": n_changed[0] if snap is not None else 0}


def _clone(spark, catalog, table, target_table, target_warehouse=None,
           target_metastore_uri=None, parallelism=None, **_):
    """CALL sys.clone(table => 'db.t', target_table => 'db2.t'[,
    target_warehouse => '/other/wh'][, target_metastore_uri => '...'][,
    parallelism => N]) — the reference's clone action (clone-tables.md)
    as a procedure: latest-snapshot files copied by one distributed job
    into a fresh table."""
    from .maintenance import clone_table
    src = _t(catalog, table)
    dst_cat = catalog
    if target_metastore_uri and not target_warehouse:
        raise ValueError("target_metastore_uri requires target_warehouse "
                         "(it names the metastore OF that warehouse)")
    if target_warehouse:
        # a JDBC-metastore-managed warehouse stores its listing in a
        # metastore — cloning through a plain filesystem Catalog would
        # leave the new table invisible to it (no paimon_tables row)
        # until register_existing() runs. Route DDL through JdbcCatalog
        # when the caller names the store (target_metastore_uri — needed
        # for a shared/custom-uri store, which leaves no trace in the
        # warehouse) or when the default store file is present.
        import os
        from .table import Catalog
        default_store = os.path.join(target_warehouse,
                                     "paimon_catalog.sqlite")
        if target_metastore_uri or os.path.exists(default_store):
            from .jdbc_catalog import JdbcCatalog
            dst_cat = JdbcCatalog(target_warehouse,
                                  uri=target_metastore_uri or None)
        else:
            dst_cat = Catalog(target_warehouse)
    out = clone_table(spark, src, dst_cat, target_table,
                      parallelism=int(parallelism) if parallelism else None)
    return {"files": out["files"], "bytes": out["bytes"]}


_PROCEDURES = {
    "compact": _compact,
    "recluster_ivf": _recluster_ivf,
    "check_mv": _check_mv,
    "expire_snapshots": _expire_snapshots,
    "expire_partitions": _expire_partitions,
    "create_tag": _create_tag,
    "delete_tag": _delete_tag,
    "rollback": _rollback,
    "rollback_to": _rollback,  # the Flink surface's name for the same op
    "compact_database": _compact_database,
    "create_branch": _create_branch,
    "delete_branch": _delete_branch,
    "fast_forward": _fast_forward,
    "remove_orphan_files": _remove_orphan_files,
    "reset_consumer": _reset_consumer,
    "expire_changelogs": _expire_changelogs,
    "expire_lineage": _expire_lineage,
    "compact_lineage": _compact_lineage,
    "create_tag_from_timestamp": _create_tag_from_timestamp,
    "analyze": _analyze,
    "migrate_table": _migrate_table,
    "migrate_file": _migrate_file,
    "migrate_database": _migrate_database,
    "mark_partition_done": _mark_partition_done,
    "clone": _clone,
    "rewrite_file_index": _rewrite_file_index,
    "repair": _repair,
    "drop_partition": _drop_partition,
    # privilege procedures (reference: paimon-flink/.../procedure/privilege/)
    "init_file_based_privilege": _init_privilege,
    "create_privileged_user": _create_privileged_user,
    "drop_privileged_user": _drop_privileged_user,
    "grant_privilege_to_user": _grant_privilege_to_user,
    "revoke_privilege_from_user": _revoke_privilege_from_user,
}
