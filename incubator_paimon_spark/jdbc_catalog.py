"""JDBC-backed metastore catalog, with distributed DDL locks.

The filesystem catalog (`table.Catalog`) derives its listing from the
directory tree and its DDL atomicity from the filesystem — fine for a
single-tenant warehouse, but a shared metastore needs (a) listings that
are transactional with DDL, (b) a create/rename race decided by ONE
arbiter, and (c) a catalog-scope lock for multi-step DDL. The reference
ships exactly this as its JDBC catalog:

- `paimon-core/src/main/java/org/apache/paimon/jdbc/JdbcUtils.java:41-130`
  — a `paimon_tables(catalog_key, database_name, table_name)` relation
  with a composite primary key (the INSERT's uniqueness violation IS
  the create-race arbiter), plus database and properties relations;
- `JdbcCatalogLock.java:52-86` — `runWithLock(db, table, body)`
  acquiring `catalog_key.db.table` in a `paimon_distributed_locks`
  relation, exponential-backoff retry capped by an acquire timeout;
- `AbstractDistributedLockDialect.java` with per-database
  implementations (`SqlLiteDistributedLockDialect`,
  `MysqlDistributedLockDialect`...) — acquire = INSERT of the lock id
  (conflict = held), release = DELETE, plus timed-out-lock cleanup so a
  crashed holder cannot wedge the catalog forever.

The dialect seam mirrors that structure: `MetastoreDialect` is the
operation-level contract (atomic claim / rename arbiters + the three
lock verbs), `SqliteDialect` implements it on stdlib sqlite3 (the
reference itself ships a SQLite dialect; WAL journal + BEGIN IMMEDIATE
short-lived connections give cross-PROCESS safety), and
`InMemoryDialect` is a second, trivially-auditable implementation (one
shared store per uri, a single RLock per store) that proves the catalog
logic is dialect-independent — the thread-race tests run against both.
A MySQL/Postgres dialect would implement the same dozen verbs.

Data files stay exactly where the filesystem catalog puts them
(`<warehouse>/<db>.db/<table>`), so `Table` and every engine path work
unchanged — only listing/DDL go through the metastore.
"""

from __future__ import annotations

import os
import sqlite3
import threading
import time
from contextlib import contextmanager

from .table import Catalog, Table

_SCHEMA = (
    # JdbcUtils.CREATE_CATALOG_TABLE (catalog_key scopes multiple
    # logical catalogs onto one store)
    """CREATE TABLE IF NOT EXISTS paimon_tables(
        catalog_key TEXT NOT NULL,
        database_name TEXT NOT NULL,
        table_name TEXT NOT NULL,
        PRIMARY KEY (catalog_key, database_name, table_name))""",
    """CREATE TABLE IF NOT EXISTS paimon_databases(
        catalog_key TEXT NOT NULL,
        database_name TEXT NOT NULL,
        properties TEXT NOT NULL DEFAULT '{}',
        PRIMARY KEY (catalog_key, database_name))""",
    # AbstractDistributedLockDialect.getCreateTableSql — plus the
    # holder's own lease duration, so a reaper judges expiry by the
    # HOLDER's declared lease, not its own
    """CREATE TABLE IF NOT EXISTS paimon_distributed_locks(
        lock_id TEXT NOT NULL PRIMARY KEY,
        acquired_at REAL NOT NULL,
        lease_s REAL NOT NULL DEFAULT 60.0)""",
)


class LockNotAcquiredError(RuntimeError):
    """Catalog lock could not be acquired within the timeout."""


# ----------------------------------------------------------------------
# dialect contract
# ----------------------------------------------------------------------
class MetastoreDialect:
    """Operation-level metastore contract. Multi-step verbs (claim,
    rename, purge) are ATOMIC in every implementation — that atomicity
    is what the catalog's race-correctness proofs rest on."""

    # --- locks (AbstractDistributedLockDialect: acquire-INSERT,
    #     lease reap, fenced release) ---
    def lock_acquire(self, lock_id: str, lease_s: float):
        """Reap a holder that outlived its OWN declared lease, then try
        to insert the lock row. Returns a fencing token (truthy) on
        success, None when someone holds it."""
        raise NotImplementedError

    def lock_release(self, lock_id: str, token) -> None:
        """Fenced release: only delete the row carrying `token`."""
        raise NotImplementedError

    # --- catalog relations (JdbcUtils statement set) ---
    def insert_database(self, key: str, db: str) -> bool: ...
    def list_databases(self, key: str) -> list[str]: ...
    def database_exists(self, key: str, db: str) -> bool: ...
    def purge_database(self, key: str, db: str) -> None:
        """Delete the database row AND its table rows, atomically."""
    def claim_table(self, key: str, db: str, name: str) -> bool:
        """Atomically: verify the database row exists (ValueError
        otherwise) and insert the table row; False = already claimed."""
    def release_table(self, key: str, db: str, name: str) -> bool: ...
    def list_tables(self, key: str, db: str) -> list[str]: ...
    def table_exists(self, key: str, db: str, name: str) -> bool: ...
    def rename_table(self, key: str, db1: str, n1: str,
                     db2: str, n2: str) -> None:
        """Atomically: verify db2 exists (cross-db), UPDATE the row.
        ValueError on missing source/target-db or existing target."""


class SqliteDialect(MetastoreDialect):
    """stdlib sqlite3: WAL + BEGIN IMMEDIATE short-lived connections —
    cross-process correct on one host (the reference's SQLite dialect
    has the same single-host scope; MySQL/Postgres widen it)."""

    def __init__(self, uri: str):
        self.uri = uri
        with self._connect() as con:
            for ddl in _SCHEMA:
                con.execute(ddl)

    @contextmanager
    def _connect(self):
        """One short-lived connection per operation: the inner `with
        con` scopes the transaction (commit on success, rollback on
        error) and the finally CLOSES the handle — `with
        sqlite3.connect(...)` alone commits but leaks the connection to
        GC, pinning WAL/-shm files."""
        con = sqlite3.connect(self.uri, timeout=30.0,
                              isolation_level="IMMEDIATE")
        try:
            con.execute("PRAGMA journal_mode=WAL")
            con.execute("PRAGMA busy_timeout=30000")
            with con:
                yield con
        finally:
            con.close()

    # --- locks ---
    def lock_acquire(self, lock_id, lease_s):
        with self._connect() as con:
            con.execute(
                "DELETE FROM paimon_distributed_locks "
                "WHERE lock_id = ? AND acquired_at + lease_s < ?",
                (lock_id, time.time()))
            try:
                token = time.time()
                con.execute("INSERT INTO paimon_distributed_locks "
                            "VALUES (?, ?, ?)", (lock_id, token, lease_s))
                return token
            except sqlite3.IntegrityError:
                return None

    def lock_release(self, lock_id, token):
        with self._connect() as con:
            con.execute("DELETE FROM paimon_distributed_locks "
                        "WHERE lock_id = ? AND acquired_at = ?",
                        (lock_id, token))

    # --- relations ---
    def insert_database(self, key, db):
        with self._connect() as con:
            try:
                con.execute(
                    "INSERT INTO paimon_databases(catalog_key, "
                    "database_name) VALUES (?, ?)", (key, db))
                return True
            except sqlite3.IntegrityError:
                return False

    def list_databases(self, key):
        with self._connect() as con:
            rows = con.execute(
                "SELECT database_name FROM paimon_databases "
                "WHERE catalog_key = ? ORDER BY database_name",
                (key,)).fetchall()
        return [r[0] for r in rows]

    def database_exists(self, key, db):
        with self._connect() as con:
            return con.execute(
                "SELECT 1 FROM paimon_databases WHERE catalog_key = ? "
                "AND database_name = ?", (key, db)).fetchone() is not None

    def purge_database(self, key, db):
        with self._connect() as con:
            con.execute("DELETE FROM paimon_tables WHERE catalog_key = ? "
                        "AND database_name = ?", (key, db))
            con.execute("DELETE FROM paimon_databases WHERE catalog_key = ?"
                        " AND database_name = ?", (key, db))

    def claim_table(self, key, db, name):
        with self._connect() as con:
            if con.execute(
                    "SELECT 1 FROM paimon_databases WHERE catalog_key = ?"
                    " AND database_name = ?", (key, db)).fetchone() is None:
                raise ValueError(f"database {db} does not exist")
            try:
                con.execute("INSERT INTO paimon_tables VALUES (?, ?, ?)",
                            (key, db, name))
                return True
            except sqlite3.IntegrityError:
                return False

    def release_table(self, key, db, name):
        with self._connect() as con:
            cur = con.execute(
                "DELETE FROM paimon_tables WHERE catalog_key = ? AND "
                "database_name = ? AND table_name = ?", (key, db, name))
            return cur.rowcount > 0

    def list_tables(self, key, db):
        with self._connect() as con:
            rows = con.execute(
                "SELECT table_name FROM paimon_tables WHERE "
                "catalog_key = ? AND database_name = ? ORDER BY table_name",
                (key, db)).fetchall()
        return [r[0] for r in rows]

    def table_exists(self, key, db, name):
        with self._connect() as con:
            return con.execute(
                "SELECT 1 FROM paimon_tables WHERE catalog_key = ? AND "
                "database_name = ? AND table_name = ?",
                (key, db, name)).fetchone() is not None

    def rename_table(self, key, db1, n1, db2, n2):
        with self._connect() as con:
            # the UPDATE has no FK: verify the target database row
            # exists (same check claim_table does) — the reference's
            # JdbcCatalog rejects renames into an unknown database
            if db2 != db1 and con.execute(
                    "SELECT 1 FROM paimon_databases WHERE catalog_key = ?"
                    " AND database_name = ?",
                    (key, db2)).fetchone() is None:
                raise ValueError(
                    f"target database {db2} does not exist in metastore")
            try:
                cur = con.execute(
                    "UPDATE paimon_tables SET database_name = ?, "
                    "table_name = ? WHERE catalog_key = ? AND "
                    "database_name = ? AND table_name = ?",
                    (db2, n2, key, db1, n1))
            except sqlite3.IntegrityError:
                raise ValueError(
                    f"rename target {db2}.{n2} already exists") from None
            if cur.rowcount == 0:
                raise ValueError(f"table {db1}.{n1} does not exist")


# ----------------------------------------------------------------------
# networked SQL dialects (DB-API 2.0) — the reference's MySQL/Postgres
# metastore reach (JdbcUtils.java:41-130 statement set;
# MysqlDistributedLockDialect / AbstractDistributedLockDialect)
# ----------------------------------------------------------------------
class DbApiDialect(MetastoreDialect):
    """MetastoreDialect over any DB-API 2.0 driver. The verb logic is
    shared — one transaction per verb, the INSERT's uniqueness violation
    as the create-race arbiter, ``SELECT ... FOR UPDATE`` pinning the
    database row inside claim/rename so a concurrent DROP DATABASE
    cannot interleave on MVCC servers — and subclasses pin the SQL
    flavor (column types, paramstyle, row-lock clause).

    No database SERVICE exists in this sandbox, so in-repo certification
    runs the dialect CONTRACT suite (test_jdbc_catalog.py: 32-thread
    create races, rename races, the three lock verbs with lease reap and
    fenced release) over these exact statements against a sqlite DB-API
    connection (paramstyle translated to qmark; FOR UPDATE elided —
    sqlite serializes whole write transactions instead, giving the same
    guarantee the row lock gives an MVCC server). Against a live server,
    pass the driver's connect as ``connect`` (e.g.
    ``functools.partial(pymysql.connect, host=..., db=...)``) and run
    the same suite — it is the certification bar.
    """

    TYPE_TEXT = "VARCHAR(255)"
    TYPE_REAL = "DOUBLE PRECISION"
    TYPE_PROPS = "VARCHAR(4000) NOT NULL DEFAULT '{}'"
    FOR_UPDATE = " FOR UPDATE"
    PARAMSTYLE = "format"  # %s — pymysql and psycopg2 both use it

    def __init__(self, connect, uri: str = "dbapi://",
                 integrity_error: type | None = None):
        self._connect = connect
        self.uri = uri
        if integrity_error is None:
            # DB-API hangs the exception classes off the driver MODULE:
            # resolve it from the connection's root package
            # (pymysql.IntegrityError, psycopg2.IntegrityError,
            # sqlite3.IntegrityError)
            import importlib
            probe = connect()
            try:
                root = type(probe).__module__.split(".")[0]
                integrity_error = importlib.import_module(root).IntegrityError
            finally:
                probe.close()
        self._integrity = integrity_error
        with self._tx() as cur:
            for ddl in (
                f"""CREATE TABLE IF NOT EXISTS paimon_tables(
                    catalog_key {self.TYPE_TEXT} NOT NULL,
                    database_name {self.TYPE_TEXT} NOT NULL,
                    table_name {self.TYPE_TEXT} NOT NULL,
                    PRIMARY KEY (catalog_key, database_name, table_name))""",
                f"""CREATE TABLE IF NOT EXISTS paimon_databases(
                    catalog_key {self.TYPE_TEXT} NOT NULL,
                    database_name {self.TYPE_TEXT} NOT NULL,
                    properties {self.TYPE_PROPS},
                    PRIMARY KEY (catalog_key, database_name))""",
                f"""CREATE TABLE IF NOT EXISTS paimon_distributed_locks(
                    lock_id {self.TYPE_TEXT} NOT NULL PRIMARY KEY,
                    acquired_at {self.TYPE_REAL} NOT NULL,
                    lease_s {self.TYPE_REAL} NOT NULL)""",
            ):
                cur.execute(ddl)

    @contextmanager
    def _tx(self):
        """One short-lived connection per verb: commit on success,
        rollback on error, always closed (the sqlite dialect's
        discipline, which the contract races depend on)."""
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

    def _sql(self, s: str) -> str:
        return s if self.PARAMSTYLE == "format" else s.replace("%s", "?")

    # --- locks (AbstractDistributedLockDialect verb set) ---
    def lock_acquire(self, lock_id, lease_s):
        with self._tx() as cur:
            cur.execute(self._sql(
                "DELETE FROM paimon_distributed_locks "
                "WHERE lock_id = %s AND acquired_at + lease_s < %s"),
                (lock_id, time.time()))
            try:
                token = time.time()
                cur.execute(self._sql(
                    "INSERT INTO paimon_distributed_locks "
                    "VALUES (%s, %s, %s)"), (lock_id, token, lease_s))
                return token
            except self._integrity:
                return None

    def lock_release(self, lock_id, token):
        with self._tx() as cur:
            cur.execute(self._sql(
                "DELETE FROM paimon_distributed_locks "
                "WHERE lock_id = %s AND acquired_at = %s"),
                (lock_id, token))

    # --- relations (JdbcUtils statement set) ---
    def insert_database(self, key, db):
        with self._tx() as cur:
            try:
                cur.execute(self._sql(
                    "INSERT INTO paimon_databases(catalog_key, "
                    "database_name) VALUES (%s, %s)"), (key, db))
                return True
            except self._integrity:
                return False

    def list_databases(self, key):
        with self._tx() as cur:
            cur.execute(self._sql(
                "SELECT database_name FROM paimon_databases "
                "WHERE catalog_key = %s ORDER BY database_name"), (key,))
            return [r[0] for r in cur.fetchall()]

    def database_exists(self, key, db):
        with self._tx() as cur:
            cur.execute(self._sql(
                "SELECT 1 FROM paimon_databases WHERE catalog_key = %s "
                "AND database_name = %s"), (key, db))
            return cur.fetchone() is not None

    def purge_database(self, key, db):
        with self._tx() as cur:
            cur.execute(self._sql(
                "DELETE FROM paimon_tables WHERE catalog_key = %s "
                "AND database_name = %s"), (key, db))
            cur.execute(self._sql(
                "DELETE FROM paimon_databases WHERE catalog_key = %s "
                "AND database_name = %s"), (key, db))

    def claim_table(self, key, db, name):
        with self._tx() as cur:
            cur.execute(self._sql(
                "SELECT 1 FROM paimon_databases WHERE catalog_key = %s "
                "AND database_name = %s") + self.FOR_UPDATE, (key, db))
            if cur.fetchone() is None:
                raise ValueError(f"database {db} does not exist")
            try:
                cur.execute(self._sql(
                    "INSERT INTO paimon_tables VALUES (%s, %s, %s)"),
                    (key, db, name))
                return True
            except self._integrity:
                return False

    def release_table(self, key, db, name):
        with self._tx() as cur:
            cur.execute(self._sql(
                "DELETE FROM paimon_tables WHERE catalog_key = %s AND "
                "database_name = %s AND table_name = %s"), (key, db, name))
            return cur.rowcount > 0

    def list_tables(self, key, db):
        with self._tx() as cur:
            cur.execute(self._sql(
                "SELECT table_name FROM paimon_tables WHERE "
                "catalog_key = %s AND database_name = %s "
                "ORDER BY table_name"), (key, db))
            return [r[0] for r in cur.fetchall()]

    def table_exists(self, key, db, name):
        with self._tx() as cur:
            cur.execute(self._sql(
                "SELECT 1 FROM paimon_tables WHERE catalog_key = %s AND "
                "database_name = %s AND table_name = %s"), (key, db, name))
            return cur.fetchone() is not None

    def rename_table(self, key, db1, n1, db2, n2):
        with self._tx() as cur:
            if db2 != db1:
                cur.execute(self._sql(
                    "SELECT 1 FROM paimon_databases WHERE catalog_key = %s"
                    " AND database_name = %s") + self.FOR_UPDATE, (key, db2))
                if cur.fetchone() is None:
                    raise ValueError(
                        f"target database {db2} does not exist in metastore")
            try:
                cur.execute(self._sql(
                    "UPDATE paimon_tables SET database_name = %s, "
                    "table_name = %s WHERE catalog_key = %s AND "
                    "database_name = %s AND table_name = %s"),
                    (db2, n2, key, db1, n1))
            except self._integrity:
                raise ValueError(
                    f"rename target {db2}.{n2} already exists") from None
            if cur.rowcount == 0:
                raise ValueError(f"table {db1}.{n1} does not exist")


class MysqlDialect(DbApiDialect):
    """MySQL flavor (MysqlDistributedLockDialect.java's statement shapes
    over the JdbcUtils relations): %s paramstyle (pymysql/mysqlclient),
    DOUBLE columns, InnoDB row locks via FOR UPDATE. Construct with the
    driver's connect factory, e.g.
    ``MysqlDialect(functools.partial(pymysql.connect, host=..., db=...),
    uri="mysql://host/db")``."""

    TYPE_REAL = "DOUBLE"

    def __init__(self, connect, uri: str = "mysql://", **kw):
        super().__init__(connect, uri=uri, **kw)


class PostgresDialect(DbApiDialect):
    """PostgreSQL flavor: %s paramstyle (psycopg2/psycopg), DOUBLE
    PRECISION columns, MVCC row locks via FOR UPDATE. Construct with
    ``PostgresDialect(functools.partial(psycopg2.connect, dsn),
    uri="postgresql://host/db")``."""

    def __init__(self, connect, uri: str = "postgresql://", **kw):
        super().__init__(connect, uri=uri, **kw)


class HmsDialect(MetastoreDialect):
    """Hive Metastore flavor of the verb contract (the reference's
    HiveCatalog, paimon-hive/.../HiveCatalog.java:98, reduced to the
    dozen metastore verbs this engine needs — table DATA and schemas
    stay on the filesystem exactly as with every other dialect; HMS
    holds only the existence rows, like the reference's
    `metastore.client` usage for databases/tables).

    Construct with (client_factory, types):
    - ``client_factory()`` returns a thrift
      ``ThriftHiveMetastore.Client`` (e.g. from the `hmsclient`
      package); each verb runs as ONE thrift call, whose server-side
      atomicity (HMS backs them with single metastore-DB transactions)
      is what the contract's race proofs rest on.
    - ``types`` is the ``hive_metastore.ttypes`` module (Database,
      Table, StorageDescriptor, LockRequest/LockComponent/LockLevel/
      LockType/LockState/UnlockRequest), so the dialect builds the
      exact thrift structs.

    Catalog scoping: `key` lands in Database.parameters["paimon_key"]
    and tables carry parameters={"paimon_table": "true"}; listings
    filter on them, so a paimon catalog coexists with plain Hive
    objects in one metastore.

    Locks map to the HMS lock API: one EXCLUSIVE db-level LockComponent
    per lock id; a non-ACQUIRED response is unlocked immediately
    (try-acquire semantics). Lease reaping is the SERVER's
    (hive.txn.timeout heartbeat expiry), so lease_s is advisory here.

    Certification bar: the dialect contract suite runs these exact
    calls against a fake in tests/test_jdbc_catalog.py (the same
    pattern that certifies MysqlDialect/PostgresDialect over a sqlite
    DB-API connection); a LIVE HMS service — absent in this sandbox —
    is required to certify end-to-end, by swapping only
    ``client_factory``."""

    def __init__(self, client_factory, types, uri: str = "hms://"):
        self.uri = uri
        self._client = client_factory()
        self._types = types

    @staticmethod
    def _is(e, name: str) -> bool:
        return type(e).__name__ == name

    def _db_name(self, key: str, db: str) -> str:
        # HMS namespace is flat; one paimon catalog key maps db 1:1 and
        # stamps ownership in parameters (reference HiveCatalog also
        # uses the HMS database directly)
        return db

    # --- locks ---
    def lock_acquire(self, lock_id, lease_s):
        t = self._types
        comp = t.LockComponent(
            type=t.LockType.EXCLUSIVE, level=t.LockLevel.DB,
            dbname=f"paimon_lock_{lock_id}")
        # HMS expiry is server-side (hive.txn.timeout heartbeat reap);
        # the declared lease rides in the free-form agentInfo so
        # operators (and the contract suite's fake server) can see the
        # client's intent
        rsp = self._client.lock(t.LockRequest(
            component=[comp], user="paimon", hostname="client",
            agentInfo=f"paimon-lease-s={lease_s}"))
        if rsp.state == t.LockState.ACQUIRED:
            return rsp.lockid
        # WAITING: try-acquire semantics — give the slot back now
        try:
            self._client.unlock(t.UnlockRequest(lockid=rsp.lockid))
        except Exception:  # noqa: BLE001 — server may have reaped it
            pass
        return None

    def lock_release(self, lock_id, token):
        try:
            self._client.unlock(self._types.UnlockRequest(lockid=token))
        except Exception as e:  # noqa: BLE001
            if not self._is(e, "NoSuchLockException"):
                raise

    # --- catalog relations ---
    def insert_database(self, key, db):
        t = self._types
        try:
            self._client.create_database(t.Database(
                name=self._db_name(key, db),
                parameters={"paimon_key": key}))
            return True
        except Exception as e:  # noqa: BLE001
            if self._is(e, "AlreadyExistsException"):
                return False
            raise

    def list_databases(self, key):
        out = []
        for name in self._client.get_all_databases():
            try:
                d = self._client.get_database(name)
            except Exception:  # noqa: BLE001 — dropped mid-listing
                continue
            if (getattr(d, "parameters", None) or {}) \
                    .get("paimon_key") == key:
                out.append(name)
        return sorted(out)

    def database_exists(self, key, db):
        try:
            d = self._client.get_database(self._db_name(key, db))
        except Exception as e:  # noqa: BLE001
            if self._is(e, "NoSuchObjectException"):
                return False
            raise
        return (getattr(d, "parameters", None) or {}) \
            .get("paimon_key") == key

    def purge_database(self, key, db):
        try:
            # deleteData=False (the warehouse dirs are the engine's),
            # cascade=True drops the table rows in the same server tx
            self._client.drop_database(self._db_name(key, db),
                                       False, True)
        except Exception as e:  # noqa: BLE001
            if not self._is(e, "NoSuchObjectException"):
                raise

    def claim_table(self, key, db, name):
        t = self._types
        tbl = t.Table(tableName=name, dbName=self._db_name(key, db),
                      parameters={"paimon_table": "true"},
                      sd=t.StorageDescriptor())
        try:
            self._client.create_table(tbl)
            return True
        except Exception as e:  # noqa: BLE001
            if self._is(e, "AlreadyExistsException"):
                return False
            if self._is(e, "NoSuchObjectException") \
                    or self._is(e, "InvalidObjectException"):
                raise ValueError(f"database {db} does not exist")
            raise

    def release_table(self, key, db, name):
        try:
            self._client.drop_table(self._db_name(key, db), name, False)
            return True
        except Exception as e:  # noqa: BLE001
            if self._is(e, "NoSuchObjectException"):
                return False
            raise

    def list_tables(self, key, db):
        try:
            return sorted(
                self._client.get_tables(self._db_name(key, db), "*"))
        except Exception as e:  # noqa: BLE001
            if self._is(e, "NoSuchObjectException"):
                return []
            raise

    def table_exists(self, key, db, name):
        try:
            self._client.get_table(self._db_name(key, db), name)
            return True
        except Exception as e:  # noqa: BLE001
            if self._is(e, "NoSuchObjectException"):
                return False
            raise

    def rename_table(self, key, db1, n1, db2, n2):
        t = self._types
        # target-db existence is verified HERE (one get_database) and
        # again server-side by alter_table's own transaction — the
        # verb's ValueError contract needs the explicit check
        if not self.database_exists(key, db2):
            raise ValueError(f"database {db2} does not exist")
        new = t.Table(tableName=n2, dbName=self._db_name(key, db2),
                      parameters={"paimon_table": "true"},
                      sd=t.StorageDescriptor())
        try:
            self._client.alter_table(self._db_name(key, db1), n1, new)
        except Exception as e:  # noqa: BLE001
            if self._is(e, "NoSuchObjectException"):
                raise ValueError(f"table {db1}.{n1} does not exist") \
                    from None
            if self._is(e, "AlreadyExistsException") \
                    or self._is(e, "InvalidOperationException"):
                raise ValueError(f"table {db2}.{n2} exists") from None
            raise


# one shared store per uri — two InMemoryDialect("mem://x") instances
# are two "connections" to the same server state, which is what makes
# the thread-race tests meaningful against this dialect
_MEM_STORES: dict[str, dict] = {}
_MEM_GUARD = threading.Lock()


class InMemoryDialect(MetastoreDialect):
    """Dict-backed second dialect: every verb holds the store's single
    RLock, so the contract's atomicity is trivially satisfied — the
    auditable reference implementation the seam is proven against."""

    def __init__(self, uri: str = "memory://default"):
        self.uri = uri
        with _MEM_GUARD:
            self._s = _MEM_STORES.setdefault(uri, {
                "lock": threading.RLock(),
                "databases": set(),   # (key, db)
                "tables": set(),      # (key, db, name)
                "locks": {},          # lock_id -> (token, lease_s)
            })

    def lock_acquire(self, lock_id, lease_s):
        with self._s["lock"]:
            held = self._s["locks"].get(lock_id)
            if held is not None and held[0] + held[1] < time.time():
                del self._s["locks"][lock_id]  # lease reap
                held = None
            if held is not None:
                return None
            token = time.time()
            self._s["locks"][lock_id] = (token, lease_s)
            return token

    def lock_release(self, lock_id, token):
        with self._s["lock"]:
            held = self._s["locks"].get(lock_id)
            # a double release / release-after-failed-acquire is a no-op,
            # same as the sqlite dialect's fenced DELETE matching nothing
            if held is not None and token is not None and held[0] == token:
                del self._s["locks"][lock_id]

    def insert_database(self, key, db):
        with self._s["lock"]:
            if (key, db) in self._s["databases"]:
                return False
            self._s["databases"].add((key, db))
            return True

    def list_databases(self, key):
        with self._s["lock"]:
            return sorted(d for k, d in self._s["databases"] if k == key)

    def database_exists(self, key, db):
        with self._s["lock"]:
            return (key, db) in self._s["databases"]

    def purge_database(self, key, db):
        with self._s["lock"]:
            self._s["tables"] = {t for t in self._s["tables"]
                                 if t[:2] != (key, db)}
            self._s["databases"].discard((key, db))

    def claim_table(self, key, db, name):
        with self._s["lock"]:
            if (key, db) not in self._s["databases"]:
                raise ValueError(f"database {db} does not exist")
            if (key, db, name) in self._s["tables"]:
                return False
            self._s["tables"].add((key, db, name))
            return True

    def release_table(self, key, db, name):
        with self._s["lock"]:
            had = (key, db, name) in self._s["tables"]
            self._s["tables"].discard((key, db, name))
            return had

    def list_tables(self, key, db):
        with self._s["lock"]:
            return sorted(n for k, d, n in self._s["tables"]
                          if (k, d) == (key, db))

    def table_exists(self, key, db, name):
        with self._s["lock"]:
            return (key, db, name) in self._s["tables"]

    def rename_table(self, key, db1, n1, db2, n2):
        with self._s["lock"]:
            if db2 != db1 and (key, db2) not in self._s["databases"]:
                raise ValueError(
                    f"target database {db2} does not exist in metastore")
            if (key, db1, n1) not in self._s["tables"]:
                raise ValueError(f"table {db1}.{n1} does not exist")
            if (key, db2, n2) in self._s["tables"]:
                raise ValueError(f"rename target {db2}.{n2} already exists")
            self._s["tables"].remove((key, db1, n1))
            self._s["tables"].add((key, db2, n2))


def _as_dialect(dialect_or_uri) -> MetastoreDialect:
    if isinstance(dialect_or_uri, MetastoreDialect):
        return dialect_or_uri
    return SqliteDialect(dialect_or_uri)


# ----------------------------------------------------------------------
class JdbcCatalogLock:
    """`JdbcCatalogLock.runWithLock` parity: acquire = INSERT of the
    lock id (a conflict means someone holds it), release = fenced
    DELETE of the token this acquire inserted (a holder that outlived
    its lease must not release the lock a reaping process has since
    re-acquired), a lock older than `lease_ms` is reaped before
    retrying (a crashed holder can't wedge the catalog), and
    acquisition retries with doubling sleeps capped at
    `check_max_sleep_ms` until `acquire_timeout_ms` elapses."""

    def __init__(self, dialect, lock_id: str,
                 acquire_timeout_ms: int = 10_000,
                 check_max_sleep_ms: int = 500,
                 lease_ms: int = 60_000):
        self.dialect = _as_dialect(dialect)
        self.lock_id = lock_id
        self.acquire_timeout_ms = acquire_timeout_ms
        self.check_max_sleep_ms = check_max_sleep_ms
        self.lease_ms = lease_ms
        self._token = None

    def _try_acquire(self) -> bool:
        self._token = self.dialect.lock_acquire(self.lock_id,
                                                self.lease_ms / 1000.0)
        return self._token is not None

    def __enter__(self):
        start, sleep = time.time(), 0.05
        while True:
            if self._try_acquire():
                return self
            if (time.time() - start) * 1000 > self.acquire_timeout_ms:
                raise LockNotAcquiredError(
                    f"could not acquire catalog lock {self.lock_id!r} "
                    f"within {self.acquire_timeout_ms} ms")
            time.sleep(sleep)
            sleep = min(sleep * 2, self.check_max_sleep_ms / 1000.0)

    def __exit__(self, *exc):
        self.dialect.lock_release(self.lock_id, self._token)
        self._token = None
        return False


class JdbcCatalog(Catalog):
    """Metastore-backed catalog: listings and DDL arbitration live in a
    metastore dialect (default: sqlite at
    ``<warehouse>/paimon_catalog.sqlite``; pass ``uri=`` to share one
    store across warehouses/processes, or ``dialect=`` for a custom
    MetastoreDialect), table data stays on the warehouse filesystem in
    the same layout the filesystem catalog uses. Every inherited
    surface — `attach`, `sql`, system tables, privilege checks — works
    unchanged, because only the listing/DDL primitives are overridden."""

    def __init__(self, warehouse: str, uri: str | None = None,
                 options: dict | None = None, catalog_key: str = "paimon",
                 dialect: MetastoreDialect | None = None,
                 lineage_store=None):
        super().__init__(warehouse, options)
        self.uri = uri or os.path.join(warehouse, "paimon_catalog.sqlite")
        self.catalog_key = catalog_key
        self.dialect = dialect or SqliteDialect(self.uri)
        if dialect is not None:
            self.uri = getattr(dialect, "uri", self.uri)
        self.options["metastore"] = "jdbc"
        self.options.setdefault("uri", self.uri)
        if lineage_store is not None:
            # route this warehouse's lineage through the metastore
            # database instead of _lineage/ files (the reference's JDBC
            # LineageMeta wiring — lineage.JdbcLineageStore)
            from .lineage import set_lineage_store
            set_lineage_store(warehouse, lineage_store)

    # -- lock surface (JdbcCatalogLock.runWithLock) --------------------
    def lock(self, database: str, table: str = "",
             **kw) -> JdbcCatalogLock:
        """DATABASE-scoped lock id (the `table` arg is accepted for
        call-site readability but does not narrow the scope): every
        DDL on one database serializes against every other — required
        so a create_table cannot interleave with drop_database
        CASCADE's multi-step metastore+filesystem teardown (review
        finding). DDL rates make the coarser scope free."""
        return JdbcCatalogLock(
            self.dialect, f"{self.catalog_key}.{database}", **kw)

    # -- databases ------------------------------------------------------
    def create_database(self, db: str, ignore_if_exists: bool = True):
        if not self.dialect.insert_database(self.catalog_key, db) \
                and not ignore_if_exists:
            raise ValueError(f"database {db} exists")
        self.io.mkdirs(self._db_path(db))

    def list_databases(self) -> list[str]:
        return self.dialect.list_databases(self.catalog_key)

    def drop_database(self, db: str, cascade: bool = False,
                      ignore_if_not_exists: bool = True):
        with self.lock(db):
            if not self.dialect.database_exists(self.catalog_key, db):
                if not ignore_if_not_exists:
                    raise ValueError(f"database {db} does not exist")
                return
            tables = self.list_tables(db)
            if tables and not cascade:
                raise ValueError(f"database {db} is not empty: {tables}")
            self.dialect.purge_database(self.catalog_key, db)
            if self.io.is_dir(self._db_path(db)):
                self.io.delete_dir(self._db_path(db))

    # -- tables ---------------------------------------------------------
    def list_tables(self, db: str) -> list[str]:
        return self.dialect.list_tables(self.catalog_key, db)

    def _claim(self, db: str, name: str) -> bool:
        """One metastore insert claims the identifier; the dialect's
        atomic claim is the create-race arbiter (JdbcUtils: the
        insert's uniqueness violation, not a filesystem check). The
        database row is verified in the SAME transaction so a claim
        cannot land in a database a concurrent DROP DATABASE is
        tearing down."""
        return self.dialect.claim_table(self.catalog_key, db, name)

    def create_table(self, identifier: str, schema, partition_keys=None,
                     primary_keys=None, options=None, comment=None,
                     ignore_if_exists: bool = False) -> Table:
        db, name = identifier.split(".", 1)
        self.create_database(db)
        path = os.path.join(self._db_path(db), name)
        # the db-scoped catalog lock serializes the claim+schema-write
        # against drop_database CASCADE's teardown (review finding: an
        # unlocked create could write schema files into a directory the
        # cascade was about to delete)
        with self.lock(db):
            if not self._claim(db, name):
                if ignore_if_exists:
                    return Table(path)
                raise ValueError(f"table {identifier} already exists")
            try:
                return self._create_new_table(db, name, schema,
                                              partition_keys, primary_keys,
                                              options, comment)
            except Exception:
                # a claim without a schema is a phantom: release it so
                # the failed create doesn't poison the identifier
                from .metadata.schema import SchemaManager
                if SchemaManager(path).latest_id() is None:
                    self.dialect.release_table(self.catalog_key, db, name)
                raise

    def get_table(self, identifier: str) -> Table:
        db, name = identifier.split(".", 1)
        if not self.dialect.table_exists(self.catalog_key, db, name):
            raise ValueError(f"table {identifier} not found in metastore")
        return super().get_table(identifier)

    def drop_table(self, identifier: str, ignore_if_not_exists: bool = True):
        db, name = identifier.split(".", 1)
        with self.lock(db, name):
            existed = self.dialect.release_table(self.catalog_key, db, name)
            if not existed and not ignore_if_not_exists:
                raise ValueError(f"table {identifier} does not exist")
            path = os.path.join(self._db_path(db), name)
            if existed and self.io.is_dir(path):
                self.io.delete_dir(path)

    def rename_table(self, old: str, new: str):
        db1, n1 = old.split(".", 1)
        db2, n2 = new.split(".", 1)
        # db-scoped source lock (reference locks the fromTable) so two
        # racing renames of one table serialize; a cross-db rename also
        # locks the target database — in sorted order so two opposed
        # renames cannot deadlock. The dialect's atomic UPDATE is the
        # arbiter for the target identifier.
        import contextlib
        locks = contextlib.ExitStack()
        for db in sorted({db1, db2}):
            locks.enter_context(self.lock(db))
        with locks:
            self.dialect.rename_table(self.catalog_key, db1, n1, db2, n2)
            try:
                self.io.mkdirs(self._db_path(db2))
                self.io.rename(os.path.join(self._db_path(db1), n1),
                               os.path.join(self._db_path(db2), n2))
            except Exception:
                # filesystem move failed: revert the metastore row so
                # the catalog and the data agree again
                self.dialect.rename_table(self.catalog_key, db2, n2,
                                          db1, n1)
                raise

    # -- migration ------------------------------------------------------
    def register_existing(self) -> int:
        """Adopt tables a FILESYSTEM catalog already created under this
        warehouse into the metastore (the migrate seam): scans the
        directory layout once and inserts missing rows. Returns how
        many identifiers were added."""
        added = 0
        fs = Catalog(self.warehouse)
        for db in fs.list_databases():
            self.create_database(db)
            for name in fs.list_tables(db):
                if self._claim(db, name):
                    added += 1
        return added
