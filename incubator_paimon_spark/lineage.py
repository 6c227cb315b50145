"""Table and data lineage, exposed as catalog system tables.

Mirrors the reference's lineage surface (paimon-core/.../table/system/
TableLineageTable.java:59, SourceTableLineageTable.java /
SinkTableLineageTable.java, DataLineageTable — populated through the
catalog's LineageMeta at commit time): which jobs read/wrote which tables,
and at which snapshots.

Storage follows the manifest pattern, at lineage scale. Each event is
first one immutable JSON file under ``<warehouse>/_lineage/`` (uuid-named,
atomic create — contention-free for any number of concurrent producers;
a JDBC LineageMeta would plug in at the same two functions). A streaming
matview daemon at 30 s batches emits ~3k events/day though, so the loose
tail must not grow forever: once it passes ``LINEAGE_SEGMENT_THRESHOLD``
events, :func:`compact_events` rolls it into one immutable uuid-named
parquet SEGMENT of flattened endpoint rows and deletes the rolled files
(guarded by a short lease lock so concurrent compactors never double-roll;
losing the lease skips — compaction is advisory and the next record
retries). Readers serve segments columnar — ``sys.table_lineage`` /
``sys.data_lineage`` become a Spark parquet scan over the segments plus a
bounded loose tail — and every row carries its event id, so a crash
between segment-write and loose-delete can only duplicate rows that
read-side dedupe removes, never lose one. :func:`expire_lineage` bounds
history: it drops loose events older than a cutoff and segments WHOLLY
older (segment granularity, like snapshot expiry keeping its tail).

Producers wired in-engine: MERGE INTO (sink + the USING table when it is a
catalog table), materialized-view sync (source table + covered snapshot →
view), and clone (source → target). Plain writes carry no job identity in
a library API, so they are not auto-recorded; call `record` explicitly to
tag a pipeline's writes.
"""

from __future__ import annotations

import os
import time

from .metadata.util import atomic_write_json, new_uuid, read_json

# roll the loose ev-*.json tail into a parquet segment past this many
# events
LINEAGE_SEGMENT_THRESHOLD = 1000

# flattened endpoint rows: one row per (event, direction, endpoint).
# (event_id, direction, ord) is the dedupe key for crash-replayed rows.
_SEG_FIELDS = [("event_id", "string"), ("ord", "int"),
               ("direction", "string"), ("database_name", "string"),
               ("table_name", "string"), ("path", "string"),
               ("snapshot_id", "int"), ("job_name", "string"),
               ("create_time_ms", "int")]


def _warehouse_of(table_path: str) -> str:
    # <warehouse>/<db>/<table>
    return os.path.dirname(os.path.dirname(table_path))


def _ident_of(table_path: str) -> tuple[str, str]:
    db = os.path.basename(os.path.dirname(table_path))
    if db.endswith(".db"):  # filesystem-catalog layout <wh>/<db>.db/<t>
        db = db[:-3]
    return db, os.path.basename(table_path)


def _endpoint(table, snapshot_id=None) -> dict:
    db, name = _ident_of(table.root_path)
    return {"database": db, "table": name, "path": table.root_path,
            "snapshot_id": snapshot_id}


# ----------------------------------------------------------------------
# pluggable store (the reference's catalog LineageMeta seam: file-based
# by default, a JDBC LineageMeta plugs in per warehouse). Registered
# stores receive the flattened rows; unregistered warehouses use the
# file store below (loose JSON + parquet segments).
_STORES: dict[str, "JdbcLineageStore"] = {}


def set_lineage_store(warehouse: str, store) -> None:
    """Route `warehouse`'s lineage through `store` (None resets to the
    file store). The store must provide append_rows / all_rows /
    expire — see JdbcLineageStore."""
    if store is None:
        _STORES.pop(warehouse, None)
    else:
        _STORES[warehouse] = store


class JdbcLineageStore:
    """Lineage rows in a metastore database over any DB-API 2.0 driver —
    the reference's JDBC LineageMeta (the catalog populates lineage
    through a pluggable LineageMeta; TableLineageTable.java:59 serves
    it). One relation of flattened endpoint rows, (event_id, direction,
    ord) primary key so a replayed producer write is idempotent (the
    same dedupe rule the file store's crash contract uses). PARAMSTYLE
    follows the driver ('format' = %s for pymysql/psycopg2; 'qmark' for
    sqlite3), like jdbc_catalog.DbApiDialect."""

    TYPE_TEXT = "VARCHAR(255)"
    PARAMSTYLE = "format"

    def __init__(self, connect, paramstyle: str | None = None,
                 integrity_error: type | None = None):
        self._connect = connect
        if paramstyle is not None:
            self.PARAMSTYLE = paramstyle
        if integrity_error is None:
            import importlib
            probe = connect()
            try:
                root = type(probe).__module__.split(".")[0]
                integrity_error = importlib.import_module(root).IntegrityError
            finally:
                probe.close()
        self._integrity = integrity_error
        with self._tx() as cur:
            cur.execute(f"""CREATE TABLE IF NOT EXISTS paimon_lineage(
                event_id {self.TYPE_TEXT} NOT NULL,
                ord BIGINT NOT NULL,
                direction {self.TYPE_TEXT} NOT NULL,
                database_name {self.TYPE_TEXT} NOT NULL,
                table_name {self.TYPE_TEXT} NOT NULL,
                path {self.TYPE_TEXT},
                snapshot_id BIGINT,
                job_name {self.TYPE_TEXT} NOT NULL,
                create_time_ms BIGINT NOT NULL,
                PRIMARY KEY (event_id, direction, ord))""")

    def _tx(self):
        from contextlib import contextmanager

        @contextmanager
        def tx():
            con = self._connect()
            try:
                cur = con.cursor()
                yield cur
                con.commit()
            except BaseException:
                con.rollback()
                raise
            finally:
                con.close()
        return tx()

    def _sql(self, s: str) -> str:
        return s if self.PARAMSTYLE == "format" else s.replace("%s", "?")

    def append_rows(self, rows: list[tuple]) -> None:
        sql = self._sql("INSERT INTO paimon_lineage VALUES "
                        "(%s, %s, %s, %s, %s, %s, %s, %s, %s)")
        try:  # fast path: one executemany round trip
            with self._tx() as cur:
                cur.executemany(sql, rows)
            return
        except self._integrity:
            pass  # replayed rows in the batch: redo tolerantly
        # one transaction per row: a conflict must not poison the rest
        # (PostgreSQL aborts the whole tx on the first unique violation)
        for r in rows:
            try:
                with self._tx() as cur:
                    cur.execute(sql, r)
            except self._integrity:
                pass  # replayed event: idempotent

    def all_rows(self) -> list[tuple]:
        with self._tx() as cur:
            cur.execute("SELECT event_id, ord, direction, database_name, "
                        "table_name, path, snapshot_id, job_name, "
                        "create_time_ms FROM paimon_lineage "
                        "ORDER BY create_time_ms, event_id, direction, ord")
            return [tuple(r) for r in cur.fetchall()]

    def expire(self, older_than_ms: int) -> dict:
        with self._tx() as cur:
            cur.execute(self._sql(
                "DELETE FROM paimon_lineage WHERE create_time_ms < %s"),
                (older_than_ms,))
            return {"expired_events": cur.rowcount, "expired_segments": 0}


def record(job: str, sources=(), sinks=()) -> None:
    """One lineage event. `sources` / `sinks` are (table, snapshot_id)
    pairs (snapshot_id None when the event is not snapshot-specific).
    The event is written to every distinct warehouse involved so both
    sides' catalogs can serve it (clone across warehouses) — through the
    warehouse's registered store, or the file store, whose writes
    opportunistically roll the loose tail when it crossed the segment
    threshold (one listdir of a BOUNDED directory)."""
    ev = {
        "job": job,
        "created_at_ms": int(time.time() * 1000),
        "sources": [_endpoint(t, s) for t, s in sources],
        "sinks": [_endpoint(t, s) for t, s in sinks],
    }
    warehouses = {_warehouse_of(t.root_path) for t, _ in (*sources, *sinks)}
    for wh in warehouses:
        store = _STORES.get(wh)
        if store is not None:
            store.append_rows(_flatten(new_uuid(), ev))
            continue
        path = os.path.join(wh, "_lineage", f"ev-{new_uuid()}.json")
        atomic_write_json(path, ev)
        maybe_compact(wh)


# ----------------------------------------------------------------------
# store layout helpers
def _dir(warehouse: str) -> str:
    return os.path.join(warehouse, "_lineage")


def _split_names(io, d: str) -> tuple[list[str], list[str]]:
    """(loose event names, segment names), one listdir."""
    loose, segs = [], []
    for n in io.list_names(d):
        if n.startswith("ev-") and n.endswith(".json"):
            loose.append(n)
        elif n.startswith("seg-") and n.endswith(".parquet"):
            segs.append(n)
    return sorted(loose), sorted(segs)


def _flatten(event_id: str, ev: dict) -> list[tuple]:
    rows = []
    for direction, key in (("source", "sources"), ("sink", "sinks")):
        for i, ep in enumerate(ev.get(key, ())):
            rows.append((event_id, i, direction, ep["database"],
                         ep["table"], ep.get("path"), ep["snapshot_id"],
                         ev["job"], ev["created_at_ms"]))
    return rows


def maybe_compact(warehouse: str, threshold: int | None = None) -> str | None:
    """Roll the loose tail into a segment when it crossed the threshold.
    Returns the new segment name, or None (below threshold / another
    compactor holds the lease — both mean 'nothing to do here')."""
    from .fileio import for_path
    thr = threshold if threshold is not None else LINEAGE_SEGMENT_THRESHOLD
    d = _dir(warehouse)
    io = for_path(warehouse)
    loose, _segs = _split_names(io, d)
    if len(loose) < thr:
        return None
    return compact_events(warehouse)


def compact_events(warehouse: str) -> str | None:
    """Roll ALL current loose events into one immutable parquet segment,
    then delete them. Lease-locked: concurrent compactors resolve to one
    roller per window (the loser skips — the events it saw are either in
    the winner's segment or still loose for the next pass). Durability
    order makes loss impossible: the segment is fully written before any
    loose file is deleted; a crash in between leaves duplicates that
    read-side (event_id, direction, ord) dedupe removes."""
    import pyarrow as pa

    from .fileio import LeaseFileLock, for_path
    d = _dir(warehouse)
    io = for_path(warehouse)
    lock = LeaseFileLock(io, os.path.join(d, "compact.lock"),
                         lease_ms=60_000, timeout_s=2.0)
    try:
        lock.__enter__()
    except TimeoutError:
        return None  # another compactor is rolling this warehouse
    try:
        loose, _ = _split_names(io, d)  # re-list under the lock
        if not loose:
            return None
        # roll in bounded slices so an enormous backlog (e.g. first
        # compaction of a pre-segment deployment) never materializes
        # every event in driver memory at once
        last = None
        for i in range(0, len(loose), 100_000):
            chunk = loose[i:i + 100_000]
            rows: list[tuple] = []
            rolled: list[str] = []
            for n in chunk:
                try:
                    ev = read_json(os.path.join(d, n))
                except Exception:  # noqa: BLE001 — half-written foreign file
                    continue
                rows.extend(_flatten(n[3:-5], ev))
                rolled.append(n)
            if not rolled:
                continue
            cols = list(zip(*rows)) if rows else [[] for _ in _SEG_FIELDS]
            tbl = pa.table({f: pa.array(list(v), type=pa.int64()
                                        if t == "int" else pa.string())
                            for (f, t), v in zip(_SEG_FIELDS, cols)})
            name = f"seg-{new_uuid()}.parquet"
            io.write_parquet(tbl, os.path.join(d, name))
            for n in rolled:  # only after the segment is durable
                io.delete(os.path.join(d, n))
            last = name
        return last
    finally:
        lock.__exit__(None, None, None)


def expire_lineage(warehouse: str, older_than_ms: int) -> dict:
    """Drop lineage older than the epoch-ms cutoff: loose events by their
    created_at_ms, segments only when their NEWEST row is past the cutoff
    (segment granularity — a straddling segment stays whole, the same
    keep-the-tail rule snapshot expiry applies). A registered JDBC
    store expires row-exact instead. Holds the compactor's lease while
    deleting loose events: an unlocked expiry racing compact_events
    could delete an event the compactor had already read, and the
    segment write would RESURRECT it past its expiry. Returns counts."""
    import pyarrow.parquet as pq

    from .fileio import LeaseFileLock, for_path
    store = _STORES.get(warehouse)
    if store is not None:
        return store.expire(older_than_ms)
    d = _dir(warehouse)
    io = for_path(warehouse)
    n_events = n_segs = 0
    with LeaseFileLock(io, os.path.join(d, "compact.lock"),
                       lease_ms=60_000):
        loose, segs = _split_names(io, d)
        for n in loose:
            p = os.path.join(d, n)
            try:
                ev = read_json(p)
            except Exception:  # noqa: BLE001
                continue
            if ev.get("created_at_ms", 0) < older_than_ms:
                io.delete(p)
                n_events += 1
        # segment deletes stay INSIDE the lease too: a compactor never
        # touches existing segments, but readers re-list under no lock —
        # serializing expiry keeps at most one deleter per window so two
        # concurrent expiries can't double-count or half-delete
        for n in segs:
            p = os.path.join(d, n)
            # newest row from footer stats — no row reads
            with io.open_input(p) as f:
                md = pq.ParquetFile(f).metadata
            idx = [md.schema.column(i).name
                   for i in range(md.num_columns)].index("create_time_ms")
            mx = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or st.max is None:
                    mx = None
                    break
                mx = st.max if mx is None else max(mx, st.max)
            if mx is not None and mx < older_than_ms:
                io.delete(p)
                n_segs += 1
    return {"expired_events": n_events, "expired_segments": n_segs}


# ----------------------------------------------------------------------
# readers
def read_rows(warehouse: str, limit: int | None = None,
              since_ms: int | None = None) -> list[tuple]:
    """All flattened endpoint rows (_SEG_FIELDS order), deduped: loose
    tail first, then segments RE-LISTED — a compactor racing this read
    can delete a loose file we already listed, but its segment is durable
    before any delete, so the second listing is guaranteed to contain it.
    A registered JDBC store serves its relation directly (PK-deduped).

    This is the DRIVER-side convenience reader: without `limit` it
    materializes O(history) rows on the driver, so long-history callers
    should pass `limit` (segments stop being read once satisfied; rows
    within a segment are predicate-filtered by `since_ms` at the parquet
    read, so an old straddling segment costs its footer + matching rows
    only) or use `lineage_df` for a distributed read."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from .fileio import for_path
    store = _STORES.get(warehouse)
    if store is not None:
        rows0 = store.all_rows()
        if since_ms is not None:
            rows0 = [r for r in rows0 if r[8] >= since_ms]
        return rows0 if limit is None else rows0[:limit]
    d = _dir(warehouse)
    io = for_path(warehouse)
    loose, _ = _split_names(io, d)
    rows: list[tuple] = []
    for n in loose:
        try:
            ev = read_json(os.path.join(d, n))
        except Exception:  # noqa: BLE001 — half-written or just-rolled
            continue
        if since_ms is not None and ev.get("created_at_ms", 0) < since_ms:
            continue
        rows.extend(_flatten(n[3:-5], ev))
    _, segs = _split_names(io, d)
    flt = (pc.field("create_time_ms") >= since_ms) if since_ms is not None \
        else None
    seen: set = set()
    out: list[tuple] = []

    def take(batch) -> bool:
        for r in batch:
            k = (r[0], r[2], r[1])  # (event_id, direction, ord)
            if k not in seen:
                seen.add(k)
                out.append(r)
            if limit is not None and len(out) >= limit:
                return True
        return False

    if take(rows):
        return out
    for n in segs:
        try:
            with io.open_input(os.path.join(d, n)) as f:
                t = pq.read_table(f, filters=flt)
        except (FileNotFoundError, OSError):
            continue  # a racing expire_lineage deleted a whole segment
        if take(zip(*(t.column(f0).to_pylist() for f0, _ in _SEG_FIELDS))):
            break
    return out


def lineage_df(spark, warehouse: str):
    """The flattened rows as a DataFrame: segments via spark.read.parquet
    (stays distributed at any history size), loose tail via
    createDataFrame (bounded by the segment threshold), deduped on the
    (event_id, direction, ord) key. Same race-ordering as read_rows.
    A registered JDBC store's relation loads via createDataFrame (a
    metastore database is a control-plane volume, not a data lake)."""
    from pyspark.sql import types as T

    from .fileio import for_path
    schema = T.StructType([
        T.StructField(f, T.LongType() if t == "int" else T.StringType())
        for f, t in _SEG_FIELDS])
    store = _STORES.get(warehouse)
    if store is not None:
        return (spark.createDataFrame(store.all_rows(), schema)
                     .drop("event_id", "ord", "path"))
    d = _dir(warehouse)
    io = for_path(warehouse)
    loose, _ = _split_names(io, d)
    tail_rows = []
    for n in loose:
        try:
            ev = read_json(os.path.join(d, n))
        except Exception:  # noqa: BLE001
            continue
        tail_rows.extend(_flatten(n[3:-5], ev))
    _, segs = _split_names(io, d)
    df = spark.createDataFrame(tail_rows, schema)
    if segs:
        # ignoreMissingFiles: a racing expire_lineage may delete a wholly-
        # expired segment between this listing and the task read — skip it
        # (the same guard read_rows applies driver-side)
        seg_df = (spark.read.schema(schema)
                  .option("ignoreMissingFiles", "true")
                  .parquet(*[os.path.join(d, n) for n in segs]))
        df = df.unionByName(seg_df)
    # no global orderBy: a system-table read must not pay a sort shuffle
    # at segment scale (consumers order explicitly when they need it)
    return df.dropDuplicates(["event_id", "direction", "ord"]) \
             .drop("event_id", "ord", "path")


def read_events(warehouse: str) -> list[dict]:
    """Events reconstructed from the flattened store (loose + segments),
    insertion-ordered endpoints, sorted by create time."""
    evs: dict[str, dict] = {}
    for (eid, _ord, direction, db, tbl, path, sid, job, ts) in read_rows(warehouse):
        ev = evs.setdefault(eid, {"job": job, "created_at_ms": ts,
                                  "sources": [], "sinks": []})
        ev["sources" if direction == "source" else "sinks"].append(
            {"database": db, "table": tbl, "path": path, "snapshot_id": sid})
    return sorted(evs.values(), key=lambda e: (e["created_at_ms"], e["job"]))


def table_lineage_rows(warehouse: str) -> list[tuple]:
    """(direction, database_name, table_name, job_name, create_time_ms) —
    the Source/SinkTableLineageTable row shape with a direction column."""
    return [(direction, db, tbl, job, ts)
            for (_e, _o, direction, db, tbl, _p, _s, job, ts)
            in read_rows(warehouse)]


def data_lineage_rows(warehouse: str) -> list[tuple]:
    """(direction, database_name, table_name, snapshot_id, job_name,
    create_time_ms) — snapshot-level lineage (DataLineageTable's
    barrier-to-snapshot relation); endpoints without a snapshot id are
    table-level only and don't appear here."""
    return [(direction, db, tbl, sid, job, ts)
            for (_e, _o, direction, db, tbl, _p, sid, job, ts)
            in read_rows(warehouse) if sid is not None]
