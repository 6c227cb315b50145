"""Python side of the JVM->Python engine bridge (PaimonPyBridge.java).

Row-level SQL against native-catalog identifiers — ``DELETE FROM`` /
``UPDATE`` / ``MERGE INTO`` / ``CALL`` — and all DDL (``CREATE`` /
``ALTER`` / ``DROP`` / ``RENAME TABLE``, ``CREATE`` / ``DROP
NAMESPACE``) keep ONE implementation: the engine's Python executors
(`row_ops.py`, `sql.execute_sql`, `procedures.call`) and its `Catalog`
/ `SchemaManager`. The JVM catalog
and the injected analyzer rule (PaimonSqlExtensions.java) forward over a
py4j callback implemented here; the reference routes the same verbs
through catalyst rules into its JVM core
(paimon-spark/.../catalyst/analysis/PaimonDeleteTable.scala:1,
PaimonMergeIntoBase.scala:1) — here the core is Python.

The handler implements ``java.util.function.BiFunction`` (a JDK
interface py4j's root classloader can proxy even though the bridge class
itself arrives via ADD JAR): ``apply(verb, args)`` where ``args`` is a
Java Object[] that may carry the live JVM SparkSession of whichever
session issued the statement — re-wrapped here so temp views and confs
resolve in THAT session.
"""

from __future__ import annotations

import datetime
import json
from decimal import Decimal

from pyspark.sql.types import _parse_datatype_json_value

from .metadata.schema import SchemaManager
from .predicate import And, Or, P, Predicate
from .table import Catalog

__all__ = ["install_bridge", "PaimonBridgeHandler"]


class _PrefixCatalog:
    """Catalog facade that strips a known SQL-catalog prefix from
    identifiers (`pa.db.t` -> `db.t`) so statement text written against
    the native catalog resolves through the Python Catalog."""

    def __init__(self, inner, prefix: str):
        self._inner = inner
        self._prefix = prefix + "."

    def get_table(self, identifier: str):
        if identifier.startswith(self._prefix):
            identifier = identifier[len(self._prefix):]
        return self._inner.get_table(identifier)

    def __getattr__(self, name):
        return getattr(self._inner, name)


def _coerce(v, dtype):
    """JSON literal -> python value of the column's Spark type (the JVM
    serializes dates/timestamps/decimals as strings)."""
    if v is None:
        return None
    s = dtype.simpleString()
    if s in ("tinyint", "smallint", "int", "integer", "bigint", "long"):
        return int(v)
    if s in ("float", "double"):
        return float(v)
    if s == "boolean":
        return v if isinstance(v, bool) else str(v).lower() == "true"
    if s.startswith("decimal"):
        return Decimal(str(v))
    if s == "date":
        return datetime.date.fromisoformat(str(v))
    if s.startswith("timestamp"):
        txt = str(v).replace("Z", "+00:00")
        try:
            dt = datetime.datetime.fromisoformat(txt)
        except ValueError:
            dt = datetime.datetime.fromisoformat(txt.replace(" ", "T"))
        if dt.tzinfo is not None:
            dt = dt.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return dt
    return str(v)


_NEGATED = {"eq": "ne", "is_null": "is_not_null", "is_not_null": "is_null",
            "gt": "le", "ge": "lt", "lt": "ge", "le": "gt", "in": "not_in"}


def filters_to_predicate(nodes: list[dict], schema) -> Predicate | None:
    """Spark v1 source filters (serialized by OptionsTable.filtersJson)
    -> the engine Predicate IR. The conjunction of `nodes`; None for an
    empty list (DELETE with no condition / TRUNCATE path)."""

    def one(n: dict) -> Predicate:
        op = n["op"]
        if op in ("true", "false"):
            # constants only appear top-level (AlwaysTrue from the
            # truncate default, AlwaysFalse from constant folding) and
            # are handled by the caller
            raise ValueError("unexpected nested constant filter")
        if op in ("and", "or"):
            l, r = one(n["l"]), one(n["r"])
            return And([l, r]) if op == "and" else Or([l, r])
        if op == "not":
            c = dict(n["c"])
            inner_op = c["op"]
            if inner_op not in _NEGATED:
                raise ValueError(f"cannot negate {inner_op}")
            c["op"] = _NEGATED[inner_op]
            return one(c)
        col = n["col"]
        if op == "is_null":
            return P.is_null(col)
        if op == "is_not_null":
            return P.is_not_null(col)
        dtype = schema.field_by_name(col).type
        if op == "in":
            return P.isin(col, [_coerce(v, dtype) for v in n["vs"]])
        if op == "not_in":
            return P.not_in(col, [_coerce(v, dtype) for v in n["vs"]])
        if op == "starts_with":
            return P.starts_with(col, str(n["v"]))
        v = _coerce(n["v"], dtype)
        return {"eq": P.eq, "ne": P.ne, "gt": P.gt, "ge": P.ge,
                "lt": P.lt, "le": P.le}[op](col, v)

    # AlwaysTrue conjuncts (whole-table DELETE / the truncateTable
    # default) contribute nothing
    nodes = [n for n in nodes if n["op"] != "true"]
    if not nodes:
        return None
    pred = one(nodes[0])
    for n in nodes[1:]:
        pred = pred & one(n)
    return pred


def _mark_no_such_system_table(exc: ValueError) -> str:
    """Prefix the structured sentinel the JVM catalog matches on
    (PaimonSparkCatalog.systemTable) when — and only when — the error is
    the system-table registry's unknown-name rejection. Other failures
    keep their message and surface as real errors instead of being
    masked as NoSuchTableException (r14 advice: the old substring match
    on 'unknown' swallowed unrelated Python failures)."""
    msg = str(exc)
    if msg.startswith("unknown system table") \
            or msg.startswith("unknown global system table"):
        return "NO_SUCH_SYSTEM_TABLE: " + msg
    return msg


# bridge verb -> PaimonBridgeHandler._<verb>; a trailing session argument
# is optional (the handler falls back to its installing session)
_VERBS = frozenset({
    "sql", "delete_where", "call_procedure", "list_procedures",
    "is_warehouse_table", "list_partitions", "drop_partition",
    "system_table_df", "global_system_table_df", "create_table",
    "alter_table", "drop_table", "rename_table", "create_namespace",
    "drop_namespace"})


class PaimonBridgeHandler:
    """The py4j callback object. One per installing Python session; the
    statement's own session rides in the args so execution sees its temp
    views."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._spark = spark  # fallback when no session is passed

    # -- verb implementations ------------------------------------------

    def _wrap(self, jsession):
        if jsession is None:
            return self._spark
        from pyspark.sql import SparkSession
        return SparkSession(self._sc, jsession)

    def _sql(self, statement, cat_name, warehouse, jsession=None):
        from .sql import execute_sql
        spark = self._wrap(jsession)
        cat = _PrefixCatalog(Catalog(warehouse), cat_name)
        execute_sql(spark, cat, statement)
        return "ok"

    def _delete_where(self, path, filters_json, jsession=None):
        from .datasource import _load_table
        from .row_ops import delete_where, truncate
        spark = self._wrap(jsession)
        table = _load_table({"path": path})
        nodes = json.loads(filters_json)
        if any(n["op"] == "false" for n in nodes):
            return "ok"  # constant-false condition: delete nothing
        pred = filters_to_predicate(nodes, table.schema)
        if pred is None:
            truncate(table)
        else:
            delete_where(spark, table, pred)
        return "ok"

    # -- DDL: one verb per mutation, each one call into the Catalog or
    # SchemaManager that owns the rule (PaimonSparkCatalog keeps only the
    # Spark-API checks) -------------------------------------------------

    def _create_table(self, warehouse, identifier, spec_json):
        spec = json.loads(spec_json)
        pk = spec["primary_key"]
        cat = Catalog(warehouse)
        try:
            cat.create_table(
                identifier, _parse_datatype_json_value(spec["schema"]),
                partition_keys=spec["partition_keys"],
                primary_keys=[k.strip() for k in pk.split(",")] if pk else None,
                options=spec["options"], comment=spec["comment"])
        except (ValueError, RuntimeError) as exc:
            # PaimonSparkCatalog checked the table was absent, so if it
            # exists now another writer won the race (to the existence
            # check or to schema-0's exclusive create): mark it with the
            # structured sentinel the catalog turns into
            # TableAlreadyExistsException. A refused schema writes
            # nothing, so its error surfaces as itself.
            db, name = identifier.split(".", 1)
            if name in cat.list_tables(db):
                raise ValueError("TABLE_ALREADY_EXISTS: " + str(exc)) from exc
            raise
        return "ok"

    def _alter_table(self, path, changes_json):
        """All of one ALTER TABLE statement's changes (encoded by
        PaimonSparkCatalog.changeJson) in ONE schema commit."""
        changes = json.loads(changes_json)
        for c in changes:
            for k in ("dtype", "new_type"):
                if k in c:
                    c[k] = _parse_datatype_json_value(c[k])
        SchemaManager(path).commit_changes(changes)
        return "ok"

    def _drop_table(self, warehouse, identifier):
        Catalog(warehouse).drop_table(identifier, ignore_if_not_exists=False)
        return "ok"

    def _rename_table(self, warehouse, old, new):
        Catalog(warehouse).rename_table(old, new)
        return "ok"

    def _create_namespace(self, warehouse, db):
        Catalog(warehouse).create_database(db)
        return "ok"

    def _drop_namespace(self, warehouse, db, cascade):
        Catalog(warehouse).drop_database(db, cascade=bool(cascade))
        return "ok"

    def _is_warehouse_table(self, warehouse, db, tbl):
        """Existence probe for the analyzer rule's generic-catalog
        branch when the warehouse is a REMOTE URI the JVM cannot
        java.io.File-probe: the engine's FileIO (pyarrow.fs for
        s3/gs/hdfs/abfs) answers whether `<wh>/<db>.db/<tbl>/schema`
        exists — the same layout contract the local probe checks."""
        from .fileio import for_path
        p = warehouse.rstrip("/") + f"/{db}.db/{tbl}/schema"
        try:
            return "true" if for_path(p).exists(p) else "false"
        except Exception:  # noqa: BLE001 — unreachable FS == not a table
            return "false"

    def _list_partitions(self, path):
        """Distinct live partition specs, values in partition-key order
        (dates ISO-rendered; the JVM re-types from the partition
        schema)."""
        from .datasource import _load_table
        table = _load_table({"path": path})
        keys = table.schema.partition_keys
        seen, out = set(), []
        for e in table.entries_at():
            vals = tuple(e.partition.get(k) for k in keys)
            if vals in seen:
                continue
            seen.add(vals)
            out.append([v.isoformat() if isinstance(v, datetime.date)
                        else v for v in vals])
        out.sort(key=lambda r: tuple(str(x) for x in r))
        return json.dumps(out)

    def _drop_partition(self, path, spec_str, jsession=None):
        from .datasource import _load_table
        spec = {}
        for kv in spec_str.split(","):
            k, v = kv.split("=", 1)
            # the JVM renders a null partition value with Hive's default
            # marker; map it back so drop_partition's string-compare
            # matches the engine's None partition values (r14 advice:
            # the marker itself matched nothing and silently dropped
            # nothing while reporting success)
            spec[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
        _load_table({"path": path}).drop_partition(spec)
        return "ok"

    def _call_procedure(self, payload_json, cat_name, warehouse, jsession=None):
        """CALL through Spark 4's ProcedureCatalog: named args arrive
        with by_name=True; positionals are matched against the Python
        procedure's declared parameter order (the registry is the one
        source of signatures)."""
        import inspect

        from .procedures import _PROCEDURES, call
        p = json.loads(payload_json)
        proc = p["name"].split(".")[-1].lower()
        kwargs, positional = {}, []
        for a in p["args"]:
            if a.get("by_name"):
                kwargs[a["name"]] = a["v"]
            else:
                positional.append(a["v"])
        if positional:
            fn = _PROCEDURES.get(proc)
            if fn is None:
                raise ValueError(f"unknown procedure {proc!r}; "
                                 f"have {sorted(_PROCEDURES)}")
            names = [n for n, q in inspect.signature(fn).parameters.items()
                     if q.kind == q.POSITIONAL_OR_KEYWORD
                     and n not in ("spark", "catalog")]
            if len(positional) > len(names):
                raise ValueError(
                    f"too many positional arguments for sys.{proc}: "
                    f"takes {names}")
            for n, v in zip(names, positional):
                kwargs.setdefault(n, v)
        spark = self._wrap(jsession)
        cat = _PrefixCatalog(Catalog(warehouse), cat_name)
        result = call(spark, cat, proc, **kwargs)
        return json.dumps([[_render(result)]])

    def _list_procedures(self):
        from .procedures import _PROCEDURES
        return json.dumps(sorted(_PROCEDURES))

    def _system_table_df(self, path, name, jsession=None):
        """`SELECT * FROM <cat>.db.`t$<sys>``: build the system-table
        DataFrame in the statement's session and return the LIVE JVM
        Dataset by reference — the catalog wraps it as a DSv2 scan, so
        types stay exact with zero serialization."""
        from .datasource import _load_table
        from .system_tables import system_table
        spark = self._wrap(jsession)
        try:
            df = system_table(spark, _load_table({"path": path}), name)
        except ValueError as exc:
            raise ValueError(_mark_no_such_system_table(exc)) from exc
        return df._jdf

    def _global_system_table_df(self, warehouse, name, jsession=None):
        from .system_tables import catalog_system_table
        spark = self._wrap(jsession)
        try:
            df = catalog_system_table(spark, Catalog(warehouse), name)
        except ValueError as exc:
            raise ValueError(_mark_no_such_system_table(exc)) from exc
        return df._jdf

    # -- BiFunction ----------------------------------------------------

    def apply(self, verb, args):
        if verb not in _VERBS:
            raise ValueError(f"unknown bridge verb {verb!r}")
        return getattr(self, "_" + verb)(*list(args or []))

    class Java:  # py4j proxy declaration
        implements = ["java.util.function.BiFunction"]


def _render(result) -> str:
    """One-cell summary of a procedure result (the reference's CALL
    output is a small status row)."""
    if result is None:
        return "ok"
    try:
        if type(result).__name__ == "Snapshot":
            return f"snapshot {result.id} ({result.commit_kind})"
        s = str(getattr(result, "path", result))  # Table -> its path
        return s if len(s) <= 120 else s[:117] + "..."
    except Exception:  # noqa: BLE001 — display only
        return "ok"


_HANDLERS: dict = {}


def install_bridge(spark) -> PaimonBridgeHandler:
    """Register this session's handler with the JVM-wide bridge. Starts
    py4j's callback server on first use (same machinery foreachBatch
    uses). Idempotent per SparkContext; the LAST installed handler wins,
    which is correct because handlers only differ in their fallback
    session."""
    from pyspark.java_gateway import ensure_callback_server_started
    gw = spark.sparkContext._gateway
    key = id(spark.sparkContext)
    if key in _HANDLERS:
        return _HANDLERS[key]
    ensure_callback_server_started(gw)
    handler = PaimonBridgeHandler(spark)
    spark._jvm.org.apache.paimon.pyspark.PaimonPyBridge.set(handler)
    _HANDLERS[key] = handler
    return handler
