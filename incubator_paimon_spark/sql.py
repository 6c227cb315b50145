"""SQL DML surface: MERGE INTO / DELETE FROM / UPDATE / CALL strings.

The reference exposes row-level ops as Spark SQL commands
(paimon-spark/.../commands/MergeIntoPaimonTable.scala:41-257,
DeleteFromPaimonTableCommand.scala:45, UpdatePaimonTableCommand.scala:38,
PaimonSqlExtensions.g4). Without a Catalyst extension point in pure Python,
this module parses the same statements and rewrites them onto the library's
row_ops APIs — the SQL text a reference user already has keeps working.

WHERE clauses compile into the Predicate IR when expressible (comparisons,
IN, BETWEEN, IS NULL, LIKE 'prefix%', AND/OR of those), so manifest-level
partition/stats pruning applies exactly as with the programmatic API. A
clause the IR can't express falls back to an opaque Spark-expression
predicate — still correct, just unpruned (the conservative contract of
LeafFunction.test).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from datetime import date, datetime

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from .predicate import And, Leaf, Or, P, Predicate

# WHERE-subquery results are materialized on the driver (reference
# parity: EvalSubqueriesForDeleteTable pre-evaluates too); this bounds
# that materialization — see _eval_subqueries.
SUBQUERY_ROW_CAP = 100_000


def _mask_literals(sql: str) -> str:
    """Length-preserving copy of `sql` with the CONTENT of quoted regions
    ('…' strings with '' escapes, "…" strings, `…` identifiers) replaced
    by \\x01. The statement-level regex scans (time-travel clauses,
    subquery detection, WHERE/WHEN splitting, paren depth) run on the
    masked text so a literal containing `(SELECT`, `VERSION AS OF` or
    ` WHERE ` can't fool them — and because lengths are identical, every
    match span indexes straight back into the original statement, which
    is where captured values are sliced from."""
    out = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch in ("'", '"', "`"):
            j = i + 1
            while j < n:
                if sql[j] == ch:
                    if j + 1 < n and sql[j + 1] == ch:  # doubled escape
                        j += 2
                        continue
                    break
                j += 1
            if j < n:  # terminated: keep both quotes, mask the inside
                out.append(ch + "\x01" * (j - i - 1) + ch)
                i = j + 1
            else:  # unterminated: mask to end, let spark.sql report it
                out.append(ch + "\x01" * (n - i - 1))
                i = n
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _g(m: re.Match, src: str, i: int):
    """Group i of a match made on MASKED text, sliced from the original."""
    s, e = m.span(i)
    return None if s == -1 else src[s:e]


@dataclass
class SqlPredicate(Predicate):
    """Opaque fallback: carries the raw SQL; never prunes, always correct."""
    sql: str

    def fields(self):
        return {"__opaque_sql__"}

    def test_value(self, row):
        return True

    def test_stats(self, stats):
        return True

    def to_column(self):
        return F.expr(self.sql)


# ----------------------------------------------------------------------
# tokenizer + recursive-descent WHERE parser → Predicate IR
# ----------------------------------------------------------------------
_TOKEN = re.compile(r"""
    \s*(
        '(?:[^']|'')*'            # string literal (with '' escape)
      | \d+\.\d+ | \.\d+ | \d+    # number
      | [A-Za-z_][\w.]*           # identifier / keyword
      | <= | >= | <> | != | = | < | > | \( | \) | ,
    )""", re.VERBOSE)


class _Unsupported(Exception):
    pass


def _tokenize(s: str) -> list[str]:
    out, pos = [], 0
    while pos < len(s):
        m = _TOKEN.match(s, pos)
        if not m:
            if s[pos:].strip():
                raise _Unsupported(s[pos:])
            break
        out.append(m.group(1))
        pos = m.end()
    return out


class _WhereParser:
    def __init__(self, tokens: list[str]):
        self.toks = tokens
        self.i = 0

    def peek(self, k=0):
        return self.toks[self.i + k] if self.i + k < len(self.toks) else None

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect_kw(self, kw: str):
        t = self.next()
        if t is None or t.upper() != kw:
            raise _Unsupported(f"expected {kw}, got {t}")

    def parse(self) -> Predicate:
        p = self.or_expr()
        if self.peek() is not None:
            raise _Unsupported(f"trailing tokens: {self.toks[self.i:]}")
        return p

    def or_expr(self) -> Predicate:
        parts = [self.and_expr()]
        while self.peek() and self.peek().upper() == "OR":
            self.next()
            parts.append(self.and_expr())
        return parts[0] if len(parts) == 1 else Or(parts)

    def and_expr(self) -> Predicate:
        parts = [self.primary()]
        while self.peek() and self.peek().upper() == "AND":
            self.next()
            parts.append(self.primary())
        return parts[0] if len(parts) == 1 else And(parts)

    def primary(self) -> Predicate:
        t = self.peek()
        if t == "(":
            self.next()
            p = self.or_expr()
            if self.next() != ")":
                raise _Unsupported("unbalanced parens")
            return p
        return self.comparison()

    def literal(self):
        t = self.next()
        if t is None:
            raise _Unsupported("eof in literal")
        if t.startswith("'"):
            return t[1:-1].replace("''", "'")
        if re.fullmatch(r"\d+", t):
            return int(t)
        if re.fullmatch(r"\d*\.\d+|\d+\.\d*", t):
            return float(t)
        u = t.upper()
        if u in ("TRUE", "FALSE"):
            return u == "TRUE"
        if u == "NULL":
            # only reachable from IN-lists (an evaluated empty subquery
            # substitutes "(NULL)"); x IN (NULL) matches nothing
            return None
        if u == "DATE":
            return date.fromisoformat(self.literal())
        if u == "TIMESTAMP":
            return datetime.fromisoformat(self.literal())
        if u == "-":
            raise _Unsupported("unary minus")
        raise _Unsupported(f"literal {t}")

    def comparison(self) -> Predicate:
        field = self.next()
        if field is None or not re.fullmatch(r"[A-Za-z_][\w.]*", field):
            raise _Unsupported(f"field {field}")
        op = self.next()
        if op is None:
            raise _Unsupported("eof after field")
        u = op.upper()
        if u == "IS":
            neg = False
            if self.peek() and self.peek().upper() == "NOT":
                self.next()
                neg = True
            self.expect_kw("NULL")
            return Leaf("is_not_null" if neg else "is_null", field)
        if u == "NOT":
            self.expect_kw("IN")
            return Leaf("not_in", field, self._in_list())
        if u == "IN":
            return Leaf("in", field, self._in_list())
        if u == "BETWEEN":
            lo = self.literal()
            self.expect_kw("AND")
            hi = self.literal()
            return And([Leaf("ge", field, lo), Leaf("le", field, hi)])
        if u == "LIKE":
            pat = self.literal()
            if (isinstance(pat, str) and pat.endswith("%")
                    and not re.search(r"[%_]", pat[:-1])):
                return Leaf("starts_with", field, pat[:-1])
            raise _Unsupported(f"LIKE {pat!r}")
        ops = {"=": "eq", "!=": "ne", "<>": "ne", "<": "lt", "<=": "le",
               ">": "gt", ">=": "ge"}
        if op in ops:
            return Leaf(ops[op], field, self.literal())
        raise _Unsupported(f"op {op}")

    def _in_list(self):
        if self.next() != "(":
            raise _Unsupported("IN needs (")
        vals = [self.literal()]
        while self.peek() == ",":
            self.next()
            vals.append(self.literal())
        if self.next() != ")":
            raise _Unsupported("IN needs )")
        return vals


def where_to_predicate(where: str | None) -> Predicate | None:
    """Compile a SQL boolean expression to the pruning IR; opaque fallback
    (correct, unpruned) when the grammar can't express it."""
    if where is None or not where.strip():
        return None
    try:
        return _WhereParser(_tokenize(where)).parse()
    except _Unsupported:
        return SqlPredicate(where)


# ----------------------------------------------------------------------
# statement execution
# ----------------------------------------------------------------------
def _unhook_mv_listener(catalog, ident: str) -> None:
    """Unhook a materialized view's auto-sync from its source before
    the view table goes away (a swallowed hook error would hide bugs).
    No-op for non-views / already-dropped tables."""
    try:
        t = catalog.get_table(ident)
        src = catalog.get_table(t.schema.options["mv.source"])
        from .metadata.commit import unregister_commit_listener
        unregister_commit_listener(src.path, f"index-sync:{t.name}")
    except Exception:  # noqa: BLE001 — IF EXISTS / never hooked
        pass


def execute_sql(spark: SparkSession, catalog, statement: str):
    """Execute one DML/procedure statement against catalog tables."""
    head = statement.lstrip().split(None, 1)
    if not head:
        raise ValueError("empty statement")
    kw = head[0].upper()
    if kw == "CALL":
        from .procedures import call_sql
        return call_sql(spark, catalog, statement)
    if kw == "DELETE":
        return _exec_delete(spark, catalog, statement)
    if kw == "UPDATE":
        return _exec_update(spark, catalog, statement)
    if kw == "MERGE":
        return _exec_merge(spark, catalog, statement)
    if kw == "TRUNCATE":
        m = re.match(r"\s*TRUNCATE\s+TABLE\s+([\w.]+)\s*$", statement,
                     re.IGNORECASE)
        if not m:
            raise ValueError(f"bad TRUNCATE: {statement!r}")
        return catalog.get_table(m.group(1)).truncate()
    if kw in ("SELECT", "WITH", "VALUES"):
        return _exec_select(spark, catalog, statement)
    if kw == "CREATE":
        return _exec_create(spark, catalog, statement)
    if kw == "ALTER":
        return _exec_alter(spark, catalog, statement)
    if kw == "INSERT":
        return _exec_insert(spark, catalog, statement)
    if kw == "DROP":
        dm = re.match(r"\s*DROP\s+DATABASE\s+(IF\s+EXISTS\s+)?([\w]+)"
                      r"\s*(CASCADE)?\s*;?\s*$", statement, re.IGNORECASE)
        if dm:
            if dm.group(3):
                # CASCADE drops materialized views too: unhook each
                # view's auto-sync from its (possibly surviving) source
                # first, or every later source commit would fire a
                # doomed sync against the deleted view path (review)
                try:
                    for tn in catalog.list_tables(dm.group(2)):
                        _unhook_mv_listener(catalog, f"{dm.group(2)}.{tn}")
                except Exception:  # noqa: BLE001 — db may not exist
                    pass
            return catalog.drop_database(
                dm.group(2), cascade=bool(dm.group(3)),
                ignore_if_not_exists=bool(dm.group(1)))
        m = re.match(r"\s*DROP\s+(TABLE|MATERIALIZED\s+VIEW)\s+"
                     r"(IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*$",
                     statement, re.IGNORECASE)
        if not m:
            raise ValueError(f"bad DROP: {statement!r}")
        ident = m.group(3)
        if "VIEW" in m.group(1).upper():
            _unhook_mv_listener(catalog, ident)
        return catalog.drop_table(ident,
                                  ignore_if_not_exists=bool(m.group(2)))
    if kw == "REFRESH":
        m = re.match(
            r"\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s*;?\s*$",
            statement, re.IGNORECASE)
        if not m:
            raise ValueError(f"bad REFRESH MATERIALIZED VIEW: {statement!r}")
        from .operators.matview import refresh_materialized
        return refresh_materialized(spark, catalog,
                                    catalog.get_table(m.group(1)))
    if kw == "SHOW":
        return _exec_show(spark, catalog, statement)
    if kw in ("DESC", "DESCRIBE"):
        return _exec_describe(spark, catalog, statement)
    raise ValueError(f"unsupported statement: {statement!r}")


# SQL time travel (docs/content/spark/sql-query.md:41-57): VERSION AS OF
# <snapshot|'tag'> and TIMESTAMP AS OF <'ts'|epoch-seconds>, plus the
# FOR SYSTEM_VERSION/SYSTEM_TIME spellings. The Python DataSource API can't
# intercept these clauses inside Spark's parser, so the catalog's SQL
# surface rewrites each travel-annotated table reference to a temp view
# bound to the right snapshot before handing the statement to spark.sql.
_TT_REF = re.compile(
    r"\b(FROM|JOIN)\s+([A-Za-z_][\w]*\.[\w]+(?:\$\w+)?)"
    r"(?:"
    r"\s+(?:VERSION|FOR\s+SYSTEM_VERSION)\s+AS\s+OF\s+('[^']*'|\w+)"
    r"|\s+(?:TIMESTAMP|FOR\s+SYSTEM_TIME)\s+AS\s+OF\s+('[^']*'|[\d.][\d.:\-]*)"
    r")?",
    re.IGNORECASE)


# Table-valued function parity (PaimonTableValuedFunctions.scala:39-113):
# paimon_incremental_query('db.t', startSnapshot, endSnapshot) reads the
# delta between two snapshots. Spark's Python API can't register SQL TVFs
# over distributed reads, so the SQL surface rewrites each call site to a
# temp view bound to the incremental DataFrame.
_INC_TVF = re.compile(
    r"\bpaimon_incremental_query\s*\(\s*('[^']*')\s*,"
    r"\s*('[^']*'|\d+)\s*,\s*('[^']*'|\d+)\s*\)",
    re.IGNORECASE)


def _rewrite_incremental_tvf(spark, catalog, statement: str) -> str:
    def bound(tok: str):
        tok = tok.strip()
        return tok[1:-1] if tok.startswith("'") else int(tok)  # tag | id

    out, last = [], 0
    for m in _INC_TVF.finditer(_mask_literals(statement)):
        ident = _g(m, statement, 1).strip()[1:-1]
        start = bound(_g(m, statement, 2))
        end = bound(_g(m, statement, 3))
        table = catalog.get_table(ident)
        from .streaming.source import incremental_between
        view = re.sub(r"\W", "_", f"pmn_inc_{ident}_{start}_{end}")
        incremental_between(spark, table, start, end) \
            .createOrReplaceTempView(view)
        out.append(statement[last:m.start()])
        out.append(view)
        last = m.end()
    out.append(statement[last:])
    return "".join(out)


# paimon_tag_partitioned('db.t') exposes a tag-to-partition table
# (upsert-to-partitioned.md) as the partitioned view Hive would see: one
# partition per tag (+ the process-time preview partition). Residual
# filters on the tag column constant-fold per leg, so Catalyst prunes
# unnamed tags' scans even though the rewrite binds all of them.
_TAGPART_TVF = re.compile(
    r"\bpaimon_tag_partitioned\s*\(\s*('[^']*')"
    r"(?:\s*,\s*('[^']*'))?\s*\)", re.IGNORECASE)


def _mask_comments(masked: str) -> str:
    """Length-preserving mask of SQL comments (`-- …\\n`, `/* … */`) over
    ALREADY literal-masked text (so '--' inside a string can't start one).
    Newlines survive; everything else becomes \\x01 — a WHERE or TVF call
    inside a comment must be invisible to the statement scanners."""
    out, i, n = [], 0, len(masked)
    while i < n:
        if masked.startswith("--", i):
            j = masked.find("\n", i)
            j = n if j == -1 else j
            out.append("\x01" * (j - i))
            i = j
        elif masked.startswith("/*", i):
            j = masked.find("*/", i + 2)
            j = n if j == -1 else j + 2
            out.append("\x01" * (j - i))
            i = j
        else:
            out.append(masked[i])
            i += 1
    return "".join(out)


_SQL_STOPPERS = re.compile(
    r"\b(WHERE|GROUP|ORDER|HAVING|LIMIT|WINDOW|UNION|INTERSECT|EXCEPT)\b",
    re.IGNORECASE)
_NOT_ALIASES = {
    "WHERE", "JOIN", "ON", "GROUP", "ORDER", "HAVING", "LIMIT", "WINDOW",
    "UNION", "INTERSECT", "EXCEPT", "LEFT", "RIGHT", "INNER", "FULL",
    "CROSS", "USING", "NATURAL", "SEMI", "ANTI", "LATERAL", "AS"}


def _tvf_alias(masked: str, pos: int) -> str | None:
    m = re.match(r"\s+(?:AS\s+)?([A-Za-z_]\w*)", masked[pos:], re.IGNORECASE)
    if m and m.group(1).upper() not in _NOT_ALIASES:
        return m.group(1)
    return None


def _block_where_span(masked: str, pos: int) -> tuple[int, int] | None:
    """Span of the WHERE expression belonging to the SELECT block whose
    FROM contains position `pos`: scan forward at the same paren depth;
    the first WHERE before the block closes (')' below start depth) or a
    set-operator/GROUP/ORDER keyword is the block's own."""
    depth, i, n = 0, pos, len(masked)
    while i < n:
        ch = masked[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                return None
        elif depth == 0:
            mm = _SQL_STOPPERS.match(masked, i)
            if mm:
                if mm.group(1).upper() != "WHERE":
                    return None
                start = j = mm.end()
                d2 = 0
                while j < n:
                    c2 = masked[j]
                    if c2 == "(":
                        d2 += 1
                    elif c2 == ")":
                        d2 -= 1
                        if d2 < 0:
                            break
                    elif d2 == 0 and _SQL_STOPPERS.match(masked, j):
                        break
                    j += 1
                return (start, j)
        i += 1
    return None


def _tag_constraints(masked: str, statement: str, pos: int,
                     col: str, alias: str | None):
    """Lift `col = '…'` / `col IN ('…', …)` / `col LIKE '…'` conjuncts of
    the TVF block's own WHERE (VERDICT r10 #4). Only top-level AND
    conjuncts in exactly those shapes count — an OR / NOT / function /
    subquery conjunct simply doesn't match and nothing is pruned, which
    is always sound (pruning is a superset: the WHERE still filters the
    unioned rows). Qualified references must use the TVF's own alias;
    an unqualified reference to a DIFFERENT table's same-named column
    would be ambiguous against the view and fail anyway.
    Returns (eq_value_sets, like_patterns)."""
    span = _block_where_span(masked, pos)
    if span is None:
        return [], []
    s, e = span
    # split the expression on top-level ANDs
    cuts, depth, i = [s], 0, s
    while i < e:
        ch = masked[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            mm = re.compile(r"\bAND\b", re.IGNORECASE).match(masked, i)
            if mm:
                cuts.append(i)
                i = mm.end()
                cuts.append(i)
                continue
        i += 1
    cuts.append(e)
    spans = [(cuts[k], cuts[k + 1]) for k in range(0, len(cuts), 2)]

    c = re.escape(col)
    q = r"(?:([A-Za-z_]\w*)\s*\.\s*)?"
    rx_eq = re.compile(rf"^\s*{q}{c}\s*=\s*'[^']*'\s*$", re.IGNORECASE)
    rx_in = re.compile(rf"^\s*{q}{c}\s+IN\s*\(\s*'[^']*'"
                       rf"(?:\s*,\s*'[^']*')*\s*\)\s*$", re.IGNORECASE)
    rx_like = re.compile(rf"^\s*{q}{c}\s+LIKE\s*'[^']*'\s*$", re.IGNORECASE)
    lit = re.compile(r"'([^']*)'")

    value_sets, likes = [], []
    for cs, ce in spans:
        frag = masked[cs:ce]
        for rx in (rx_eq, rx_in, rx_like):
            mm = rx.match(frag)
            if mm is None:
                continue
            if mm.group(1) is not None and mm.group(1) != alias:
                break  # qualified with some other table's alias
            # slice ORIGINAL text, then undo the SQL '' quote escape —
            # Spark compares against the unescaped literal
            vals = [statement[cs + lm.start(1):cs + lm.end(1)]
                    .replace("''", "'")
                    for lm in lit.finditer(frag)]
            if rx is rx_like:
                # Spark LIKE treats backslash as an escape; the tag
                # matcher treats it literally — lifting such a pattern
                # could prune legs Spark's own LIKE would keep, so skip
                # (no pruning is always sound, the WHERE still filters)
                if "\\" not in vals[0]:
                    likes.append(vals[0])
            else:
                value_sets.append(set(vals))
            break
    return value_sets, likes


def _rewrite_tag_partitioned_tvf(spark, catalog, statement: str) -> str:
    out, last = [], 0
    masked = _mask_comments(_mask_literals(statement))
    for m in _TAGPART_TVF.finditer(masked):
        ident = _g(m, statement, 1).strip()[1:-1]
        pattern = None
        if m.group(2):
            pattern = _g(m, statement, 2).strip()[1:-1]
        from .read import read_tag_partitioned
        table = catalog.get_table(ident)
        # bare-TVF leg pruning: tag-equality/IN/LIKE conjuncts of the
        # block's own WHERE prune legs BEFORE they are built — the same
        # driver pruning the Python API and the explicit pattern argument
        # get, so `WHERE dt = '…'` costs O(1 leg), not O(tags) plan-build
        pred = None
        vals = None
        col = table.schema.options.get("metastore.tag-to-partition")
        eq_sets, likes = ([], []) if not col else _tag_constraints(
            masked, statement, m.end(), col, _tvf_alias(masked, m.end()))
        if eq_sets:
            vals = set.intersection(*eq_sets)
            pred = P.isin(col, sorted(vals))
        patterns = ([pattern] if pattern is not None else []) + likes
        # hash keeps distinct (table, pattern, constraint) triples in
        # distinct views — the EFFECTIVE constraint (the intersection)
        # is hashed, not the raw value union: two occurrences with equal
        # unions but different intersections must not share a view
        import hashlib
        sig = hashlib.md5(
            f"{ident}|{patterns}|{sorted(vals) if vals is not None else None}"
            .encode()).hexdigest()[:8]
        view = re.sub(r"\W", "_", f"pmn_tagpart_{ident}_{sig}")
        read_tag_partitioned(spark, table, predicate=pred,
                             tag_pattern=patterns or None) \
            .createOrReplaceTempView(view)
        out.append(statement[last:m.start()])
        out.append(view)
        last = m.end()
    out.append(statement[last:])
    return "".join(out)


def _exec_select(spark, catalog, statement):
    statement = _rewrite_incremental_tvf(spark, catalog, statement)
    statement = _rewrite_tag_partitioned_tvf(spark, catalog, statement)
    out = []
    last = 0
    for m in _TT_REF.finditer(_mask_literals(statement)):
        ident = m.group(2)  # identifier chars — never masked
        base, _, sysname = ident.partition("$")
        try:
            table = catalog.get_table(base)
        except Exception:
            db, _, rest = ident.partition(".")
            from .system_tables import GLOBAL_SYSTEM_TABLES
            if (db.lower() == "sys" and rest
                    and rest.lstrip("$").lower() in GLOBAL_SYSTEM_TABLES):
                # global system tables: FROM sys.all_table_options etc.
                # (SystemTableLoader.loadGlobal); an UNKNOWN sys.<x>
                # falls through to Spark resolution so a host-session
                # database actually named `sys` stays queryable
                from .system_tables import catalog_system_table
                view = re.sub(r"\W", "_", f"pmn_sysg_{rest.lower()}")
                catalog_system_table(spark, catalog, rest) \
                    .createOrReplaceTempView(view)
                out.append(statement[last:m.start()])
                out.append(f"{m.group(1)} {view}")
                last = m.end()
            continue  # not a catalog table (temp view etc.): leave as-is
        ver, ts = _g(m, statement, 3), _g(m, statement, 4)
        if sysname and sysname.lower().startswith("branch_"):
            # branch read: SELECT ... FROM db.t$branch_<name> reads the
            # BRANCH's data (docs/content/maintenance/manage-branches.md
            # "Read / Write branch" — reference resolves the $branch_
            # suffix to the branch's own snapshot chain)
            bt = table.branch_table(sysname[len("branch_"):])
            import hashlib
            ph = hashlib.md5(bt.path.encode()).hexdigest()[:6]
            view = re.sub(r"\W", "_",
                          f"pmn_br_{ident}_{ph}"
                          f"_{bt.snapshots.latest_id() or 0}")
            bt.read(spark).createOrReplaceTempView(view)
            out.append(statement[last:m.start()])
            out.append(f"{m.group(1)} {view}")
            last = m.end()
            continue
        if sysname:
            # reference parity: SELECT ... FROM db.t$snapshots etc.
            # (docs/content/maintenance/system-tables.md); bound at the
            # statement's latest snapshot, travel clauses rejected
            if ver is not None or ts is not None:
                raise ValueError(
                    f"time travel is not supported on system table "
                    f"{ident!r}")
            from .system_tables import system_table
            import hashlib
            ph = hashlib.md5(table.path.encode()).hexdigest()[:6]
            view = re.sub(r"\W", "_",
                          f"pmn_sys_{ident}_{ph}"
                          f"_{table.snapshots.latest_id() or 0}")
            system_table(spark, table, sysname) \
                .createOrReplaceTempView(view)
            out.append(statement[last:m.start()])
            out.append(f"{m.group(1)} {view}")
            last = m.end()
            continue
        kw = {}
        if ver is not None:
            v = ver.strip()
            if v.startswith("'"):
                kw["tag"] = v[1:-1]
            else:
                kw["snapshot_id"] = int(v)
        elif ts is not None:
            v = ts.strip()
            if v.startswith("'"):
                from datetime import datetime
                dt = datetime.fromisoformat(v[1:-1])
                kw["timestamp_ms"] = int(dt.timestamp() * 1000)
            else:
                kw["timestamp_ms"] = int(float(v) * 1000)
        # deterministic name per (table, travel point): repeated statements
        # reuse ONE view instead of leaking a uuid-named view per reference.
        # The "latest" name embeds the RESOLVED (snapshot, schema) ids, so a
        # concurrent statement re-creating the view binds identical content
        # (r5 review #3) — but the READ stays a plain latest read: pinning
        # snapshot_id would freeze the snapshot's old schema_id and hide
        # columns added by a later ALTER. Path hash keeps two catalogs'
        # same-named tables apart.
        import hashlib
        ph = hashlib.md5(table.path.encode()).hexdigest()[:6]
        if kw:
            suffix = "_".join(f"{k}_{v}" for k, v in sorted(kw.items()))
        else:
            suffix = (f"latest_{table.snapshots.latest_id() or 0}"
                      f"_{table.schemas.latest_id() or 0}")
        view = re.sub(r"\W", "_", f"pmn_tt_{ident}_{ph}_{suffix}")
        from .analyze import broadcast_if_small
        broadcast_if_small(spark, table, table.read(spark, **kw)) \
            .createOrReplaceTempView(view)
        out.append(statement[last:m.start()])
        out.append(f"{m.group(1)} {view}")
        last = m.end()
    out.append(statement[last:])
    return spark.sql("".join(out))


def _eval_subqueries(spark, catalog, where: str) -> str:
    """Evaluate (SELECT ...) subqueries in a DELETE/UPDATE WHERE down to
    literals — a scalar subquery becomes one literal (must return exactly
    one row/column), an IN-subquery becomes an IN list. The reference does
    the same rewrite as a Catalyst rule (EvalSubqueriesForDeleteTable,
    PaimonOptimizationTestBase 'eval subqueries ... ScalarSubquery /
    InSubquery') so row-level ops can stay predicate-driven.

    The rewrite materializes each subquery's result on the driver (the
    reference pre-evaluates the same way, EvalSubqueriesForDeleteTable
    .scala:43), so results are capped at SUBQUERY_ROW_CAP rows — a 10 M-
    key subquery must not OOM the driver. Above the cap, raises with a
    pointer to the equivalent driver-safe DataFrame join/anti-join."""
    out, i = [], 0
    masked = _mask_literals(where)
    while True:
        m = re.search(r"\(\s*SELECT\b", masked[i:], re.IGNORECASE)
        if not m:
            out.append(where[i:])
            break
        start = i + m.start()
        out.append(where[i:start])
        depth, j = 0, start
        while j < len(masked):  # paren depth on masked: ()'s in literals don't count
            if masked[j] == "(":
                depth += 1
            elif masked[j] == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if depth != 0:
            raise ValueError(f"unbalanced subquery in WHERE: {where!r}")
        sub = where[start + 1:j]
        rows = _exec_select(spark, catalog, sub) \
            .limit(SUBQUERY_ROW_CAP + 1).collect()
        if len(rows) > SUBQUERY_ROW_CAP:
            raise ValueError(
                f"WHERE subquery returned more than {SUBQUERY_ROW_CAP:,} "
                f"rows; evaluating it would materialize the whole key set "
                f"on the driver. Rewrite as a DataFrame join instead, "
                f"e.g. table.delete_where on a pre-joined key set or an "
                f"anti-join: df.join(keys, 'k', 'left_anti'). Subquery: "
                f"({sub.strip()[:200]})")
        acc = "".join(out)
        acc_m = _mask_literals(acc)
        in_m = re.search(r"([\w.]+)\s+(NOT\s+)?IN\s*$", acc_m, re.IGNORECASE)
        cmp_m = re.search(r"([\w.]+)\s*(=|!=|<>|<=|>=|<|>)\s*$", acc_m)

        def lit(v):
            import datetime as _dt
            if v is None:
                return "NULL"
            if isinstance(v, bool):
                return "TRUE" if v else "FALSE"
            if isinstance(v, str):
                return "'" + v.replace("'", "''") + "'"
            if isinstance(v, _dt.datetime):
                return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
            if isinstance(v, _dt.date):
                return f"DATE '{v.isoformat()}'"
            if isinstance(v, (int, float)):
                return repr(v)
            raise ValueError(f"unsupported subquery literal type {type(v)}")

        def rewrite_atom(match, always: bool):
            # replace the whole `col [NOT] IN` / `col <op>` atom with a
            # constant predicate: TRUE = (c IS NULL OR c IS NOT NULL),
            # FALSE = (c IS NULL AND c IS NOT NULL)
            c = match.group(1)
            word = "OR" if always else "AND"
            out.clear()
            out.append(acc[:match.start()])
            out.append(f"({c} IS NULL {word} {c} IS NOT NULL)")

        if in_m:
            if rows and len(rows[0]) != 1:
                raise ValueError("IN subquery must return one column")
            if not rows:
                # empty set: IN () is FALSE for every row, NOT IN () TRUE —
                # substituting "(NULL)" would invert NOT IN (NULL semantics)
                rewrite_atom(in_m, always=bool(in_m.group(2)))
            else:
                out.append("(" + ", ".join(lit(r[0]) for r in rows) + ")")
        elif cmp_m and not rows:
            # empty scalar subquery evaluates to NULL (ScalarSubquery
            # semantics): any comparison with NULL matches nothing
            rewrite_atom(cmp_m, always=False)
        else:
            if len(rows) != 1 or len(rows[0]) != 1:
                raise ValueError(
                    f"scalar subquery must return exactly one value, "
                    f"got {len(rows)} row(s)")
            out.append(lit(rows[0][0]))
        i = j + 1
    return "".join(out)


def _split_top_level_and(s: str) -> list[str]:
    """Split on AND outside parens/strings (case-insensitive)."""
    parts, depth, in_str, start = [], 0, False, 0
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if in_str:
            if ch == "'":
                in_str = False
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif (depth == 0 and ch in "aA" and s[i:i + 3].upper() == "AND"
                and (i == 0 or not (s[i - 1].isalnum() or s[i - 1] in "_."))
                and (i + 3 >= n
                     or not (s[i + 3].isalnum() or s[i + 3] in "_."))):
            parts.append(s[start:i])
            start = i + 3
            i += 3
            continue
        i += 1
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]


def _rewrite_exists(spark, catalog, table, table_name: str,
                    where: str) -> str:
    """Rewrite `[NOT] EXISTS (SELECT ...)` atoms in a DELETE/UPDATE
    WHERE so the predicate-driven row ops can run them (the reference
    handles the same shapes through Spark's own subquery planning since
    its DeleteFromPaimonTableCommand executes a real Spark plan):

    - single-equality-correlated EXISTS (`EXISTS (SELECT ... FROM s
      WHERE s.k = t.k AND <uncorrelated>)`) becomes `t.k IN (SELECT k
      FROM s WHERE <uncorrelated>)`, which the existing
      _eval_subqueries machinery materializes under its row cap;
      NOT EXISTS becomes `(t.k IS NULL OR t.k NOT IN (... AND k IS NOT
      NULL))` — the NULL guards keep NOT EXISTS semantics (an outer
      NULL key matches nothing, so NOT EXISTS passes it, while a bare
      NOT IN would drop it);
    - uncorrelated [NOT] EXISTS evaluates eagerly to a constant
      predicate (same eager contract as _eval_subqueries).
    """
    outer_q = table_name.split(".")[-1].lower()
    out, i = [], 0
    while True:
        masked = _mask_literals(where)
        m = re.search(r"\b(NOT\s+)?EXISTS\s*\(", masked[i:], re.IGNORECASE)
        if not m:
            out.append(where[i:])
            return "".join(out)
        start = i + m.start()
        out.append(where[i:start])
        negated = bool(m.group(1))
        open_paren = i + m.end() - 1
        inner, after = _balanced(where, open_paren)
        sm = re.match(
            r"\s*SELECT\s+.*?\s+FROM\s+([\w.]+)"
            r"(?:\s+(?:AS\s+)?(?!WHERE\b)(\w+))?"
            r"(?:\s+WHERE\s+(.*))?\s*$",
            _mask_literals(inner), re.IGNORECASE | re.DOTALL)
        if not sm:
            raise ValueError(f"bad EXISTS subquery: ({inner.strip()!r})")
        src = sm.group(1)
        src_alias = sm.group(2)
        inner_where = inner[sm.start(3):sm.end(3)] if sm.group(3) else None
        inner_qs = {q for q in (src_alias, src.split(".")[-1]) if q}
        inner_qs = {q.lower() for q in inner_qs}

        corr = None
        rest: list[str] = []
        for conj in (_split_top_level_and(inner_where)
                     if inner_where else []):
            cm = re.match(r"\s*([\w.]+)\s*=\s*([\w.]+)\s*$", conj)
            sides = (cm.group(1), cm.group(2)) if cm else ()
            quals = [s.rsplit(".", 1)[0].lower() if "." in s else None
                     for s in sides]
            if cm and outer_q in quals:
                if corr is not None:
                    raise ValueError(
                        "EXISTS supports exactly one correlated equality; "
                        f"got a second in: {conj!r}")
                oi = quals.index(outer_q)
                outer_col = sides[oi].split(".", 1)[1]
                inner_side = sides[1 - oi]
                iq = quals[1 - oi]
                if iq is not None and iq not in inner_qs:
                    raise ValueError(
                        f"EXISTS correlation must join the subquery "
                        f"source, got {conj!r}")
                corr = (outer_col, inner_side)
            else:
                if re.search(rf"\b{re.escape(outer_q)}\s*\.", conj,
                             re.IGNORECASE):
                    raise ValueError(
                        "only equality correlation is supported in "
                        f"EXISTS, got {conj!r}")
                rest.append(conj)

        if corr is None:
            # uncorrelated: evaluate emptiness eagerly
            nonempty = bool(
                _exec_select(spark, catalog, inner).limit(1).collect())
            c = table.schema.fields[0].name
            truth = nonempty != negated
            word = "OR" if truth else "AND"
            out.append(f"({c} IS NULL {word} {c} IS NOT NULL)")
        else:
            outer_col, inner_col = corr
            sub_from = src + (f" {src_alias}" if src_alias else "")
            conds = list(rest)
            if negated:
                conds.append(f"{inner_col} IS NOT NULL")
            sub_where = f" WHERE {' AND '.join(conds)}" if conds else ""
            sub = f"(SELECT {inner_col} FROM {sub_from}{sub_where})"
            if negated:
                out.append(f"({outer_q}.{outer_col} IS NULL OR "
                           f"{outer_q}.{outer_col} NOT IN {sub})")
            else:
                out.append(f"{outer_q}.{outer_col} IN {sub}")
        i = after


def _strip_outer_qualifier(where: str, table_name: str) -> str:
    """Drop `t.`/`db.t.` qualifiers on the target's own columns so the
    predicate parser (column-name based) accepts them."""
    last = table_name.split(".")[-1]
    pat = re.compile(
        rf"('(?:[^']|'')*')|\b{re.escape(table_name)}\s*\.\s*"
        rf"|\b{re.escape(last)}\s*\.\s*",
        re.IGNORECASE)
    return pat.sub(lambda m: m.group(1) if m.group(1) is not None else "",
                   where)


def _exec_delete(spark, catalog, statement):
    m = re.match(r"\s*DELETE\s+FROM\s+([\w.]+)(?:\s+WHERE\s+(.*?))?\s*;?\s*$",
                 _mask_literals(statement), re.IGNORECASE | re.DOTALL)
    if not m:
        raise ValueError(f"bad DELETE: {statement!r}")
    table = catalog.get_table(m.group(1))
    if m.group(2) is None:
        return table.truncate()
    where = _rewrite_exists(spark, catalog, table, m.group(1),
                            _g(m, statement, 2))
    where = _eval_subqueries(spark, catalog, where)
    where = _strip_outer_qualifier(where, m.group(1))
    return table.delete_where(spark, where_to_predicate(where))


def _split_top_level(s: str) -> list[str]:
    """Split on commas outside parens/strings."""
    parts, depth, in_str, start = [], 0, False, 0
    i = 0
    while i < len(s):
        ch = s[i]
        if in_str:
            if ch == "'":
                in_str = False
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
        i += 1
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]


def _parse_assignments(src: str) -> dict[str, str]:
    out = {}
    for part in _split_top_level(src):
        k, v = part.split("=", 1)
        out[k.strip()] = v.strip()
    return out


def _exec_update(spark, catalog, statement):
    m = re.match(r"\s*UPDATE\s+([\w.]+)\s+SET\s+(.*?)"
                 r"(?:\s+WHERE\s+(.*?))?\s*;?\s*$",
                 _mask_literals(statement), re.IGNORECASE | re.DOTALL)
    if not m:
        raise ValueError(f"bad UPDATE: {statement!r}")
    table = catalog.get_table(m.group(1))
    # scalar subqueries in SET evaluate eagerly to literals (same
    # contract as WHERE subqueries — EvalSubqueriesForDeleteTable parity)
    assigns = {k: F.expr(_eval_subqueries(spark, catalog, v)
                         if re.search(r"\(\s*SELECT\b", v, re.IGNORECASE)
                         else v)
               for k, v in _parse_assignments(_g(m, statement, 2)).items()}
    where = _g(m, statement, 3)
    if where is not None:
        where = _rewrite_exists(spark, catalog, table, m.group(1), where)
        where = _eval_subqueries(spark, catalog, where)
        where = _strip_outer_qualifier(where, m.group(1))
    return table.update_where(spark, where_to_predicate(where), assigns)


def _parse_merge_head(masked: str, statement: str):
    """MERGE INTO <tbl> [AS] [alias] USING <src> [AS] [alias] ON <cond>
    up to the first WHEN clause. Procedural (not one regex) so a USING
    subquery may nest parentheses arbitrarily deep — the r14 regex
    alternation capped nesting at two levels. Returns
    (tbl, t_alias, src_text, s_alias, on_text, when_start)."""
    m = re.match(r"\s*MERGE\s+INTO\s+([\w.]+)(?:\s+AS)?"
                 r"(?:\s+(?!USING\b)(\w+))?\s+USING\s*",
                 masked, re.IGNORECASE)
    if not m:
        raise ValueError(f"bad MERGE INTO: {statement!r}")
    tbl, t_alias = m.group(1), m.group(2)
    i = m.end()
    if i < len(statement) and statement[i] == "(":
        inner, j = _balanced(statement, i)
        src = "(" + inner + ")"
    else:
        sm = re.match(r"[\w.]+", masked[i:])
        if not sm:
            raise ValueError(f"bad MERGE INTO: {statement!r}")
        src = statement[i:i + sm.end()]
        j = i + sm.end()
    am = re.match(r"(?:\s+AS)?(?:\s+(?!ON\b)(\w+))?\s+ON\s+",
                  masked[j:], re.IGNORECASE)
    if not am:
        raise ValueError(f"bad MERGE INTO: {statement!r}")
    s_alias = am.group(1)
    k = j + am.end()
    wm = re.search(r"\s+WHEN\s+(?:NOT\s+)?MATCHED\b", masked[k:],
                   re.IGNORECASE)
    if not wm:
        raise ValueError("MERGE INTO needs at least one WHEN clause")
    return (tbl, t_alias, src, s_alias,
            statement[k:k + wm.start()], k + wm.start())


_MERGE_WHEN = re.compile(
    r"WHEN\s+(?:(NOT)\s+)?MATCHED(?:\s+BY\s+(SOURCE|TARGET))?"
    r"(?:\s+AND\s+(.*?))?\s+THEN\s+"
    r"(UPDATE\s+SET\s+.*?|DELETE|INSERT\s+.*?)"
    r"(?=\s+WHEN\s+(?:NOT\s+)?MATCHED|\s*;?\s*$)",
    re.IGNORECASE | re.DOTALL)


def _rewrite_aliases(expr: str, t_alias: str | None, s_alias: str | None) -> str:
    """Map the statement's aliases onto row_ops.merge_into's fixed t/s.

    Single-pass: one regex alternating both aliases, so a target aliased `s`
    and source aliased `t` swap cleanly instead of the first substitution's
    output being re-rewritten by the second. Single-quoted string literals
    are matched first and passed through untouched."""
    mapping: dict[str, str] = {}
    if t_alias and t_alias.lower() != "t":
        mapping[t_alias.lower()] = "t."
    if s_alias and s_alias.lower() != "s":
        mapping[s_alias.lower()] = "s."
    if not mapping:
        return expr
    if len(mapping) < (t_alias is not None and t_alias.lower() != "t") + (
            s_alias is not None and s_alias.lower() != "s"):
        raise ValueError("MERGE target and source aliases must differ")
    alts = "|".join(re.escape(a) for a in mapping)
    pat = re.compile(rf"('(?:[^']|'')*')|\b({alts})\s*\.", re.IGNORECASE | re.DOTALL)
    return pat.sub(
        lambda m: m.group(1) if m.group(1) is not None else mapping[m.group(2).lower()],
        expr)


def _exec_merge(spark, catalog, statement):
    masked = _mask_literals(statement)
    tbl_name, t_alias, src, s_alias, on_src, when_start = \
        _parse_merge_head(masked, statement)
    table = catalog.get_table(tbl_name)

    lineage_source = None
    if src.startswith("("):
        source = spark.sql(src[1:-1])
    else:
        try:
            source = spark.table(src)
        except Exception:
            lineage_source = catalog.get_table(src)
            source = lineage_source.read(spark)

    rw = lambda e: _rewrite_aliases(e, t_alias, s_alias)
    on = F.expr(rw(on_src))

    # ordered clause lists, first-match-wins per category — the reference
    # evaluates multiple WHEN clauses of one kind in source order
    # (MergeIntoPaimonTable.scala:41-257, MergeIntoTableTestBase "multiple
    # clauses"); clause order in the statement IS the evaluation order.
    matched: list = []
    not_matched: list = []
    by_source: list = []
    any_clause = False

    def _update_spec(a: str):
        body = a[a.upper().index("SET") + 3:].strip().rstrip(";").strip()
        if body == "*":
            return "*"
        return {k.split(".")[-1]: F.expr(rw(v))
                for k, v in _parse_assignments(rw(body)).items()}

    for wm in _MERGE_WHEN.finditer(masked, when_start):
        any_clause = True
        neg = wm.group(1)
        by = (wm.group(2) or "").upper()
        # `NOT MATCHED BY TARGET` is Spark's explicit spelling of plain
        # NOT MATCHED (MergeIntoTableTestBase covers both spellings)
        if by == "TARGET" and not neg:
            raise ValueError("MATCHED BY TARGET is not valid; "
                             "did you mean WHEN NOT MATCHED [BY TARGET]?")
        is_by_source = by == "SOURCE"
        cond_src = _g(wm, statement, 3)
        action = _g(wm, statement, 4)
        cond = F.expr(rw(cond_src)) if cond_src else None
        a = action.strip()
        au = a.upper()
        if au.startswith("UPDATE"):
            if neg and not is_by_source:
                raise ValueError("WHEN NOT MATCHED cannot UPDATE")
            (by_source if is_by_source else matched).append(
                ("update", _update_spec(a), cond))
        elif au == "DELETE":
            if neg and not is_by_source:
                raise ValueError("WHEN NOT MATCHED cannot DELETE")
            (by_source if is_by_source else matched).append(
                ("delete", None, cond))
        elif au.startswith("INSERT"):
            if not neg or is_by_source:
                raise ValueError("INSERT requires WHEN NOT MATCHED")
            body = a[6:].strip().rstrip(";").strip()
            if body == "*":
                spec = "*"
            else:
                im = re.match(r"\(([^)]*)\)\s*VALUES\s*\((.*)\)\s*$", body,
                              re.IGNORECASE | re.DOTALL)
                if not im:
                    raise ValueError(f"bad INSERT clause: {a!r}")
                cols = [c.strip().split(".")[-1]
                        for c in im.group(1).split(",")]
                vals = _split_top_level(im.group(2))
                if len(cols) != len(vals):
                    raise ValueError("INSERT column/value count mismatch")
                spec = {c: F.expr(rw(v)) for c, v in zip(cols, vals)}
            not_matched.append(("insert", spec, cond))
        else:
            raise ValueError(f"bad WHEN action: {a!r}")

    if not any_clause:
        raise ValueError("MERGE INTO needs at least one WHEN clause")
    return table.merge_into(spark, source, on, matched=matched,
                            not_matched=not_matched,
                            not_matched_by_source=by_source,
                            lineage_source=lineage_source)


# ---------------------------------------------------------------- DDL + DML
# SQL DDL surface (docs/content/spark/sql-ddl.md): CREATE/ALTER/DROP TABLE,
# SHOW, DESCRIBE, INSERT INTO/OVERWRITE. Primary keys follow the reference's
# Spark DDL convention: TBLPROPERTIES ('primary-key' = 'a,b').

def _balanced(s: str, start: int) -> tuple[str, int]:
    """Content of the paren block opening at s[start]=='('; returns
    (inner, index_after_close). Handles nesting and quoted strings."""
    depth, i, in_str = 0, start, False
    while i < len(s):
        ch = s[i]
        if in_str:
            if ch == "'":
                in_str = False
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return s[start + 1:i], i + 1
        i += 1
    raise ValueError("unbalanced parentheses in statement")


def _parse_props(block: str) -> dict:
    props = {}
    for part in _split_top_level(block):
        pm = re.match(r"\s*'([^']*)'\s*=\s*'([^']*)'\s*$", part)
        if not pm:
            raise ValueError(f"bad property {part!r}")
        props[pm.group(1)] = pm.group(2)
    return props


_MV_QUERY = re.compile(
    r"SELECT\s+(?P<items>.+?)\s+FROM\s+(?P<src>[\w.]+)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"\s+GROUP\s+BY\s+(?P<grp>[\w\s,.]+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)
_MV_AGG = re.compile(
    r"(?P<fn>sum|count|min|max|avg|approx_distinct)\s*"
    r"\(\s*(?P<col>\*|[\w.]+)\s*\)\s+"
    r"AS\s+(?P<alias>\w+)\s*$", re.IGNORECASE)


def _exec_create_mv(spark, catalog, statement, head_match):
    """CREATE MATERIALIZED VIEW <name> AS SELECT <group cols and
    fn(col) AS alias ...> FROM <table> GROUP BY <cols> — the restricted
    declarative surface over operators/matview.py: the view is created
    as an aggregation-merge-engine table, registered on the source's
    post-commit hook (auto_sync), and immediately synced to the
    source's current state. fn ∈ sum|count|min|max|avg; every
    non-aggregate SELECT item must be a GROUP BY column."""
    from .operators.matview import (create_materialized_agg,
                                    sync_materialized_agg)
    from .operators.sync import auto_sync

    ident = head_match.group(1)
    # locate clauses on the MASKED statement (length-preserving), then
    # slice captured values from the original: a WHERE predicate whose
    # string literal contains 'GROUP BY' can no longer mis-split the
    # statement (r9 advice)
    off = head_match.end()
    qm = _MV_QUERY.match(_mask_literals(statement)[off:])
    if not qm:
        raise ValueError(
            f"bad CREATE MATERIALIZED VIEW (expected SELECT ... FROM "
            f"<table> GROUP BY <cols>): {statement!r}")

    def orig(group):
        s, e = qm.span(group)
        return statement[off + s:off + e]

    group_by = [c.strip() for c in qm.group("grp").split(",")]
    src = catalog.get_table(qm.group("src"))
    where = orig("where") if qm.group("where") else None
    if where:
        try:  # validate the pinned predicate NOW, not at first sync
            F.expr(where)
        except Exception as e:
            raise ValueError(
                f"bad materialized-view WHERE predicate {where!r}: {e}"
            ) from None
    aggs, depth, spans, seg = {}, 0, [], 0
    items_masked, istart = qm.group("items"), qm.start("items")
    for i, ch in enumerate(items_masked):
        if ch == "," and depth == 0:
            spans.append((seg, i))
            seg = i + 1
            continue
        depth += ch == "("
        depth -= ch == ")"
    spans.append((seg, len(items_masked)))
    items = [statement[off + istart + s:off + istart + e].strip()
             for s, e in spans]
    for it in items:
        am = _MV_AGG.match(it)
        if am:
            col, fn = am.group("col"), am.group("fn").lower()
            if col == "*" and fn != "count":
                raise ValueError(f"{fn}(*) is not a valid aggregate")
            # "*" flows through: COUNT(*) counts rows, COUNT(col)
            # counts non-NULL values (matview COUNT semantics)
            aggs[am.group("alias")] = (fn, col)
        elif it not in group_by:
            raise ValueError(
                f"materialized-view SELECT item {it!r} is neither "
                f"fn(col) AS alias nor a GROUP BY column")
    mv = create_materialized_agg(catalog, ident, src, group_by, aggs,
                                 where=where)
    auto_sync(spark, src, mv.name,
              lambda s: sync_materialized_agg(s, src, mv))
    sync_materialized_agg(spark, src, mv)
    return mv


def _parse_create_tail(tail: str):
    """PARTITIONED BY / TBLPROPERTIES / primary-key out of the clause
    section of a CREATE TABLE statement."""
    part_keys, props = [], {}
    pm = re.search(r"PARTITIONED\s+BY\s*\(([^)]*)\)", tail, re.IGNORECASE)
    if pm:
        part_keys = [c.strip() for c in pm.group(1).split(",") if c.strip()]
    tm = re.search(r"TBLPROPERTIES\s*\(", tail, re.IGNORECASE)
    if tm:
        block, _ = _balanced(tail, tm.end() - 1)
        props = _parse_props(block)
    pks = [k.strip() for k in props.pop("primary-key", "").split(",")
           if k.strip()]
    return part_keys, pks, props


def _exec_create(spark, catalog, statement):
    masked = _mask_literals(statement)
    mv = re.match(r"\s*CREATE\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s+AS\s+",
                  masked, re.IGNORECASE)
    if mv:
        return _exec_create_mv(spark, catalog, statement, mv)
    dm = re.match(r"\s*CREATE\s+DATABASE\s+(IF\s+NOT\s+EXISTS\s+)?([\w]+)"
                  r"\s*;?\s*$", masked, re.IGNORECASE)
    if dm:
        return catalog.create_database(
            dm.group(2), ignore_if_exists=bool(dm.group(1)))
    m = re.match(r"\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*",
                 masked, re.IGNORECASE)
    if not m:
        raise ValueError(f"bad CREATE TABLE: {statement!r}")
    if_not_exists, ident = bool(m.group(1)), m.group(2)

    # CTAS (docs/content/spark/sql-ddl.md:155-183): CREATE TABLE …
    # [PARTITIONED BY …] [TBLPROPERTIES …] AS SELECT … — schema comes
    # from the query, clauses sit between the name and AS. Detected on
    # the MASKED text so a literal containing "AS SELECT" can't trigger.
    am = re.search(r"\bAS\s+(SELECT|WITH|VALUES)\b", masked[m.end():],
                   re.IGNORECASE)
    if am:
        clause_src = statement[m.end():m.end() + am.start()]
        query = statement[m.end() + am.start(1):]
        df = _exec_select(spark, catalog, query)
        part_keys, pks, props = _parse_create_tail(clause_src)
        exists_before = True
        try:
            catalog.get_table(ident)
        except Exception:
            exists_before = False
        t = catalog.create_table(ident, df.schema, partition_keys=part_keys,
                                 primary_keys=pks, options=props,
                                 ignore_if_exists=if_not_exists)
        if not (if_not_exists and exists_before):
            # IF NOT EXISTS on an existing table creates nothing and
            # must not write either (reference CTAS semantics)
            t.write(spark, df)
        return t

    i = statement.find("(", m.end() - 1)
    if i < 0:
        raise ValueError("CREATE TABLE needs a column list or AS SELECT")
    cols_block, after = _balanced(statement, i)
    from pyspark.sql import types as T
    schema = T.StructType.fromDDL(cols_block)
    part_keys, pks, props = _parse_create_tail(statement[after:])
    return catalog.create_table(ident, schema, partition_keys=part_keys,
                                primary_keys=pks, options=props,
                                ignore_if_exists=if_not_exists)


def _exec_alter(spark, catalog, statement):
    m = re.match(r"\s*ALTER\s+TABLE\s+([\w.]+)\s+(.*?);?\s*$",
                 statement, re.IGNORECASE | re.DOTALL)
    if not m:
        raise ValueError(f"bad ALTER TABLE: {statement!r}")
    ident, action = m.group(1), m.group(2).strip()
    au = action.upper()
    from pyspark.sql import types as T

    if au.startswith("RENAME TO"):
        return catalog.rename_table(ident, action[len("RENAME TO"):].strip())
    t = catalog.get_table(ident)
    # one statement, one schema-N: a refused change commits nothing
    mgr = t.schemas
    if au.startswith("ADD COLUMN"):
        body = action[len("ADD COLUMNS") if au.startswith("ADD COLUMNS")
                      else len("ADD COLUMN"):].strip()
        first, after = False, None
        if body.startswith("("):
            body, _ = _balanced(body, 0)
        else:
            # single-column form may carry a position (sql-alter.md:112)
            posm = re.search(r"\s+(?:(FIRST)|AFTER\s+(\w+))\s*$", body,
                             re.IGNORECASE)
            if posm:
                first, after = bool(posm.group(1)), posm.group(2)
                body = body[:posm.start()]
        return mgr.commit_changes([
            dict(op="add_column", name=f.name, dtype=f.dataType,
                 nullable=f.nullable, description=f.metadata.get("comment"),
                 first=first, after=after)
            for f in T.StructType.fromDDL(body).fields])
    if au.startswith("RENAME COLUMN"):
        rm = re.match(r"RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*$", action,
                      re.IGNORECASE)
        if not rm:
            raise ValueError(f"bad RENAME COLUMN: {action!r}")
        return mgr.rename_column(rm.group(1), rm.group(2))
    if au.startswith("DROP COLUMN"):
        body = action[len("DROP COLUMNS") if au.startswith("DROP COLUMNS")
                      else len("DROP COLUMN"):].strip()
        if body.startswith("("):
            body, _ = _balanced(body, 0)
        names = [c.strip() for c in body.split(",")]
        for c in names:
            if not re.fullmatch(r"\w+", c):
                raise ValueError(f"bad DROP COLUMN name {c!r}")
        return mgr.commit_changes([dict(op="drop_column", name=c)
                                   for c in names])
    # column comment / position (sql-alter.md:104-126) before the TYPE
    # fallback — "COMMENT 'x'" and "AFTER b" are not parseable as types
    com = re.match(r"(?:ALTER|CHANGE)\s+COLUMN\s+(\w+)\s+COMMENT\s+"
                   r"'((?:[^']|'')*)'\s*$", action, re.IGNORECASE)
    if com:
        return mgr.update_column_comment(com.group(1),
                                         com.group(2).replace("''", "'"))
    pos = re.match(r"(?:ALTER|CHANGE)\s+COLUMN\s+(\w+)\s+"
                   r"(?:(FIRST)|AFTER\s+(\w+))\s*$", action, re.IGNORECASE)
    if pos:
        return mgr.move_column(pos.group(1),
                               None if pos.group(2) else pos.group(3))
    cm = re.match(r"(?:ALTER|CHANGE)\s+COLUMN\s+(\w+)\s+(?:TYPE\s+)?(.+?)\s*$",
                  action, re.IGNORECASE)
    if cm:
        new_t = T.StructType.fromDDL(f"x {cm.group(2)}").fields[0].dataType
        return mgr.update_column_type(cm.group(1), new_t)
    if au.startswith("SET TBLPROPERTIES"):
        i = action.find("(")
        block, _ = _balanced(action, i)
        return mgr.update_options(set_options=_parse_props(block))
    if au.startswith("UNSET TBLPROPERTIES"):
        i = action.find("(")
        block, _ = _balanced(action, i)
        keys = [p.strip().strip("'") for p in _split_top_level(block)]
        return mgr.update_options(remove=keys)
    m2 = re.match(r"DROP\s+(?:IF\s+EXISTS\s+)?PARTITION\s*\(",
                  action, re.IGNORECASE)
    if m2:
        block, after = _balanced(action, action.find("("))
        specs = [_parse_partition_spec(block)]
        rest = action[after:]
        for pm2 in re.finditer(r"(?:,\s*)?PARTITION\s*(\([^)]*\))", rest,
                               re.IGNORECASE):
            specs.append(_parse_partition_spec(pm2.group(1).strip("()")))
        return t.drop_partition(*specs)
    raise ValueError(f"unsupported ALTER TABLE action: {action!r}")


def _parse_partition_spec(block: str) -> dict:
    """`p = 'v', q = 3` → {'p': 'v', 'q': '3'} (values kept as strings —
    drop_partition compares against the manifest's partition strings)."""
    spec = {}
    for part in _split_top_level(block):
        k, _, v = part.partition("=")
        if not _:
            raise ValueError(f"bad partition spec: {block!r}")
        spec[k.strip()] = v.strip().strip("'\"")
    return spec


def _exec_insert(spark, catalog, statement):
    m = re.match(r"\s*INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?"
                 r"([\w.]+(?:\$\w+)?)\s*"
                 r"(?:PARTITION\s*\(([^)]*)\)\s*)?(.*?);?\s*$",
                 statement, re.IGNORECASE | re.DOTALL)
    if not m:
        raise ValueError(f"bad INSERT: {statement!r}")
    mode, ident, part_spec, query = m.groups()
    ident, _, sysname = ident.partition("$")
    table = catalog.get_table(ident)
    if sysname:
        # branch write: INSERT INTO db.t$branch_<name> ... commits to
        # the branch's own snapshot chain (manage-branches.md parity)
        if not sysname.lower().startswith("branch_"):
            raise ValueError(f"cannot INSERT into system table "
                             f"{ident}${sysname}")
        table = table.branch_table(sysname[len("branch_"):])
    schema = table.schema
    df = _exec_select(spark, catalog, query.strip())

    static = {}
    if part_spec:
        for p in _split_top_level(part_spec):
            k, v = p.split("=", 1)
            k = k.strip()
            f = schema.field_by_name(k)
            # typed, not string: manifest partition values are typed, and a
            # string '5' would never match int 5 in _overwrite_deletes —
            # the overwrite would silently degrade to an append (r5 review).
            # Parsed directly by column type — the dir-name decoder would
            # URL-unquote literals like 'a%20b' (r5 review #2).
            static[k] = _typed_literal(v.strip(), f.type)
    # positional mapping: VALUES / positional SELECTs produce col1..colN
    target = [c for c in schema.field_names() if c not in static]
    if list(df.columns) != schema.field_names():
        if len(df.columns) != len(target):
            raise ValueError(
                f"INSERT column count {len(df.columns)} != expected "
                f"{len(target)} (table cols minus static partition)")
        df = df.toDF(*target)
    for k, v in static.items():
        f = schema.field_by_name(k)
        df = df.withColumn(k, F.lit(v).cast(f.type))
    if mode.upper() == "OVERWRITE":
        if static:
            return table.write(spark, df, overwrite=static)
        if schema.partition_keys and table.options.dynamic_partition_overwrite:
            # reference default (CoreOptions DYNAMIC_PARTITION_OVERWRITE
            # = true): INSERT OVERWRITE without a static spec replaces
            # only the partitions the new rows TOUCH; set the option
            # false for whole-table truncation semantics
            return table.write(spark, df, dynamic_overwrite=True)
        return table.write(spark, df, overwrite=True)
    return table.write(spark, df)


def _typed_literal(v: str, dtype):
    """One SQL literal -> a typed python value for the given column type."""
    if v.startswith("'") and v.endswith("'"):
        v = v[1:-1].replace("''", "'")
    t = dtype.typeName()
    if t in ("byte", "short", "integer", "long"):
        return int(v)
    if t in ("float", "double"):
        return float(v)
    if t == "boolean":
        return v.lower() == "true"
    if t == "date":
        return date.fromisoformat(v)
    if t in ("timestamp", "timestamp_ntz"):
        return datetime.fromisoformat(v)
    return v


def _exec_show(spark, catalog, statement):
    s = statement.strip().rstrip(";")
    su = s.upper()
    if su.startswith("SHOW DATABASES"):
        return spark.createDataFrame(
            [(d,) for d in catalog.list_databases()], "namespace string")
    m = re.match(r"SHOW\s+TABLES(?:\s+(?:IN|FROM)\s+(\w+))?\s*$", s,
                 re.IGNORECASE)
    if m:
        dbs = [m.group(1)] if m.group(1) else catalog.list_databases()
        rows = [(db, t) for db in dbs for t in catalog.list_tables(db)]
        return spark.createDataFrame(rows or [], "namespace string, tableName string")
    m = re.match(r"SHOW\s+PARTITIONS\s+([\w.]+)\s*$", s, re.IGNORECASE)
    if m:
        t = catalog.get_table(m.group(1))
        tag_col = t.schema.options.get("metastore.tag-to-partition")
        if tag_col:
            # tag-to-partition tables list their TAGS as partitions, the
            # exact rows Hive shows in upsert-to-partitioned.md — through
            # the SAME enumeration the reads serve, so the listing and
            # the TVF can never drift
            from .read import tag_partition_names
            return spark.createDataFrame(
                [(f"{tag_col}={n}",)
                 for n, _kw in sorted(tag_partition_names(t),
                                      key=lambda p: p[0])],
                "partition string")
        from .system_tables import system_table
        return system_table(spark, t, "partitions")
    m = re.match(r"SHOW\s+CREATE\s+TABLE\s+([\w.]+)\s*$", s, re.IGNORECASE)
    if m:
        # DDL that round-trips through our own CREATE parser (DDLTestBase
        # 'show create table' parity): columns, PARTITIONED BY, and every
        # table option (+ primary-key) as TBLPROPERTIES
        sc = catalog.get_table(m.group(1)).schema
        # simpleString stays lowercase: uppercasing would corrupt nested
        # field names inside struct/map types and break the round-trip
        cols = ",\n  ".join(
            f"{f.name} {f.type.simpleString()}"
            + ("" if f.nullable else " NOT NULL")
            + ("" if not f.description
               else " COMMENT '" + f.description.replace("'", "''") + "'")
            for f in sc.fields)
        ddl = f"CREATE TABLE {m.group(1)} (\n  {cols})\n"
        if sc.partition_keys:
            ddl += f"PARTITIONED BY ({', '.join(sc.partition_keys)})\n"
        props = dict(sc.options)
        if sc.primary_keys:
            props["primary-key"] = ",".join(sc.primary_keys)
        if props:
            kv = ",\n  ".join(f"'{k}' = '{v}'"
                              for k, v in sorted(props.items()))
            ddl += f"TBLPROPERTIES (\n  {kv})\n"
        return spark.createDataFrame([(ddl,)], "createtab_stmt string")
    raise ValueError(f"unsupported SHOW: {statement!r}")


def _exec_describe(spark, catalog, statement):
    m = re.match(r"\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?([\w.]+)\s*;?\s*$",
                 statement, re.IGNORECASE)
    if not m:
        raise ValueError(f"bad DESCRIBE: {statement!r}")
    sc = catalog.get_table(m.group(1)).schema
    rows = [(f.name, f.type.simpleString(), f.description) for f in sc.fields]
    return spark.createDataFrame(
        rows, "col_name string, data_type string, comment string")
