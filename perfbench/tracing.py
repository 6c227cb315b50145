"""Spans around the engine's public calls, and Spark's status store per op.

The tracer replaces module and class attributes that callers resolve at
call time (`BatchTableWrite.write`, `compact.compact_table`, ...) with
wrappers that record a span in memory: name, layer, start, end, parent span
and op id. A span that can launch Spark jobs also sets the job group
``bench:<op>:<span>``, so each job lands on the innermost span. After every
op the tracer drains Spark's listener bus and reads the new jobs and their
stages from ``sc._jsc.sc().statusStore()``, which works with the UI off.

Installing raises when a wrapped name no longer exists,
and the workloads check that every layer they expect fired, so a renamed
engine function fails loudly instead of zeroing a layer.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import time
from dataclasses import asdict, dataclass, field

# (module, attribute path, layer, sets a job group, attrs hook)
WRAP_POINTS = [
    ("incubator_paimon_spark.write", "BatchTableWrite.write", "write", True, "write"),
    ("incubator_paimon_spark.write", "write_changelog_files", "changelog", True, None),
    ("incubator_paimon_spark.metadata.commit", "FileStoreCommit.commit", "commit", True,
     "commit"),
    ("incubator_paimon_spark.metadata.manifest", "ManifestStore.read_manifest",
     "manifest.read", False, "entries"),
    ("incubator_paimon_spark.metadata.manifest", "ManifestStore.read_all_entries",
     "manifest.read", False, None),
    ("incubator_paimon_spark.metadata.manifest", "ManifestStore.read_entries_filtered",
     "manifest.read", False, None),
    ("incubator_paimon_spark.metadata.manifest", "ManifestStore.write_manifests",
     "manifest.write", False, None),
    ("incubator_paimon_spark.metadata.manifest", "ManifestStore.write_manifests_meta",
     "manifest.write", False, None),
    ("incubator_paimon_spark.metadata.manifest", "ManifestStore.write_manifest_list",
     "manifest.write", False, None),
    ("incubator_paimon_spark.read", "TableScan.plan", "plan", True, None),
    ("incubator_paimon_spark.compact", "compact_table", "compact", True, "compact"),
    ("incubator_paimon_spark.table", "Table.new_query", "query.pin", True, None),
    ("incubator_paimon_spark.query", "LocalTableQuery.refresh", "query.pin", True, None),
    ("incubator_paimon_spark.query", "LocalTableQuery.lookup_many", "query.lookup", True,
     "lookup"),
    ("incubator_paimon_spark.streaming.source", "incremental_between", "incremental",
     True, None),
    ("incubator_paimon_spark.formats.avro_direct", "write_avro_staging", "avro.write",
     True, "avro"),
    ("incubator_paimon_spark.fileio", "LocalFileIO.write_overwrite", "fileio.meta",
     False, "bytes"),
    ("incubator_paimon_spark.fileio", "LocalFileIO.try_create", "fileio.meta", False,
     "bytes"),
]

# private calls counted, not timed, into the innermost span's attrs: the
# manifest cache's misses, and the point-lookup index's file accesses
# (distinct files per span) and file reads
COUNT_POINTS = [
    ("incubator_paimon_spark.metadata.manifest", "ManifestStore._read_uncached",
     "misses", None),
    ("incubator_paimon_spark.query", "LocalTableQuery._file_index", "files",
     lambda args, kwargs: args[1].file.file_name),
    ("incubator_paimon_spark.query", "LocalTableQuery._read_arrow", "file_reads", None),
]


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


@dataclass
class Stage:
    stage_id: int
    tasks: int
    executor_run_s: float
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    skew: float | None


@dataclass
class Job:
    job_id: int
    group: str
    start: float
    end: float
    stages: list


@dataclass
class Op:
    op: int
    kind: str
    in_loop: bool
    start: float
    end: float = 0.0
    jobs: list = field(default_factory=list)


def _resolve(module: str, path: str):
    """(owner, attribute, its current value); raises when renamed."""
    owner = importlib.import_module(module)
    *outer, attr = path.split(".")
    for p in outer:
        owner = getattr(owner, p)
    return owner, attr, vars(owner)[attr]


def _attrs(hook, args, kwargs, result) -> dict:
    if hook == "write":
        return {"rows": result.delta_record_count if result is not None else 0}
    if hook == "commit":
        msg = args[1] if len(args) > 1 else kwargs["message"]
        return {"files_added": len(msg.add), "files_deleted": len(msg.delete),
                "bytes_added": sum(e.file.file_size for e in msg.add)}
    if hook == "entries":
        return {"entries": len(result)}
    if hook == "compact":
        return {"performed": int(result is not None)}
    if hook == "lookup":
        return {"keys": len(args[1] if len(args) > 1 else kwargs["keys"])}
    if hook == "avro":
        return {"bytes": sum(v[0] for v in result.values())}
    if hook == "bytes":
        return {"bytes": len(args[2] if len(args) > 2 else kwargs["data"])}
    return {}


class Tracer:
    """Times ops always; records spans and Spark jobs only when enabled."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self._stack: list[Span] = []
        self._op: Op | None = None
        self._undo = []
        self._last_job = -1
        self._store = self.sc._jsc.sc().statusStore() if enabled else None

    # -- installation ----------------------------------------------------
    def install(self) -> None:
        if not self.enabled:
            return
        for module, path, layer, grouped, hook in WRAP_POINTS:
            owner, attr, orig = _resolve(module, path)
            self._undo.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, path, layer, grouped, hook))
        for module, path, key, distinct in COUNT_POINTS:
            owner, attr, orig = _resolve(module, path)
            self._undo.append((owner, attr, orig))
            setattr(owner, attr, self._counter(orig, key, distinct))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def _wrap(self, fn, name, layer, grouped, hook):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self._op is None:
                return fn(*args, **kwargs)
            with self.span(name, layer, grouped) as sp:
                result = fn(*args, **kwargs)
                if hook:
                    sp.attrs.update(_attrs(hook, args, kwargs, result))
                return result
        return wrapper

    def _counter(self, fn, key, distinct):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self._stack:
                attrs = self._stack[-1].attrs
                if distinct is None:
                    attrs[key] = attrs.get(key, 0) + 1
                else:
                    attrs.setdefault(key, set()).add(distinct(args, kwargs))
            return fn(*args, **kwargs)
        return wrapper

    # -- spans and ops -----------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None, grouped: bool = True):
        """One span of the current op; yields None when tracing is off."""
        if not self.enabled or self._op is None:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, layer or name, self._op.op,
                  parent.sid if parent else None, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        if grouped:
            self.sc.setJobGroup(f"bench:{sp.op}:{sp.sid}", name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            for k, v in sp.attrs.items():
                if isinstance(v, set):
                    sp.attrs[k] = len(v)
            if grouped:
                outer = self._stack[-1] if self._stack else None
                if outer is None:
                    self.sc._jsc.clearJobGroup()
                else:
                    self.sc.setJobGroup(f"bench:{outer.op}:{outer.sid}", outer.name)

    @contextlib.contextmanager
    def op(self, kind: str, in_loop: bool = True):
        """One closed-loop operation; yields its Op, whose `end - start`
        is the op's latency once the block exits."""
        o = Op(len(self.ops), kind, in_loop, time.time())
        self.ops.append(o)
        self._op = o
        t0 = time.perf_counter()
        try:
            with self.span(f"op.{kind}", "op"):
                yield o
        finally:
            o.end = o.start + (time.perf_counter() - t0)
            self._op = None
            if self.enabled:
                self._harvest(o)

    # -- status store --------------------------------------------------------
    def _harvest(self, o: Op) -> None:
        """Attach the jobs that finished since the last harvest to `o`."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        jobs = self._store.jobsList(None)
        new = [jobs.apply(i) for i in range(jobs.size())]
        new = sorted((j for j in new if j.jobId() > self._last_job),
                     key=lambda j: j.jobId())
        for j in new:
            g, sub, comp, sids = (j.jobGroup(), j.submissionTime(),
                                  j.completionTime(), j.stageIds())
            stages = [self._stage(sids.apply(k)) for k in range(sids.size())]
            o.jobs.append(Job(
                j.jobId(), g.get() if g.isDefined() else "",
                sub.get().getTime() / 1000.0 if sub.isDefined() else o.start,
                comp.get().getTime() / 1000.0 if comp.isDefined() else o.end,
                [s for s in stages if s is not None]))
            self._last_job = j.jobId()

    def _stage(self, stage_id: int) -> Stage | None:
        from py4j.protocol import Py4JJavaError
        try:
            s = self._store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # never submitted (skipped): nothing stored
            return None
        if s.status().toString() == "SKIPPED":
            return None
        skew = None
        if s.numCompleteTasks() >= 2:
            gw = self.sc._gateway
            q = gw.new_array(gw.jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            summary = self._store.taskSummary(stage_id, s.attemptId(), q)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                if run.apply(0) > 0:
                    skew = run.apply(1) / run.apply(0)
        return Stage(stage_id, s.numCompleteTasks(), s.executorRunTime() / 1000.0,
                     s.shuffleWriteBytes(), s.shuffleReadBytes(), skew)

    def write(self, path) -> None:
        """Ops (with their Spark jobs) and spans as JSON lines."""
        with open(path, "w") as f:
            for o in self.ops:
                f.write(json.dumps({"op": asdict(o)}) + "\n")
            for s in self.spans:
                f.write(json.dumps({"span": asdict(s)}) + "\n")


# ---------------------------------------------------------------------------
# per-layer metrics


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SpanTree:
    """The loop ops' spans, with parent links resolved."""

    def __init__(self, tracer: Tracer):
        loop = {o.op for o in tracer.ops if o.in_loop}
        self.ops = [o for o in tracer.ops if o.in_loop]
        self.spans = [s for s in tracer.spans if s.op in loop]
        self.by_id = {s.sid: s for s in tracer.spans}
        self.children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)

    def ancestors(self, s: Span):
        while s.parent is not None:
            s = self.by_id[s.parent]
            yield s

    def under(self, s: Span, layer: str) -> bool:
        return any(a.layer == layer for a in self.ancestors(s))

    def outermost(self, layer: str, foreground: bool = False) -> list[Span]:
        """Spans of `layer` with no ancestor of the same layer; with
        `foreground`, also none inside a compaction."""
        return [s for s in self.spans if s.layer == layer
                and not self.under(s, layer)
                and not (foreground and self.under(s, "compact"))]

    def self_time(self, s: Span) -> float:
        kids = [(c.start, c.end) for c in self.children.get(s.sid, [])]
        return (s.end - s.start) - _union(kids)

    def busy(self, layer: str, foreground: bool = False) -> float:
        return sum(s.end - s.start for s in self.outermost(layer, foreground))

    def attr(self, layer: str, key: str, spans=None) -> float:
        spans = self.spans if spans is None else spans
        return sum(s.attrs.get(key, 0) for s in spans if s.layer == layer)


def layer_metrics(tracer: Tracer, registry: dict, session_s: float,
                  extra: dict) -> dict:
    """Every per-layer metric over the loop's ops. `registry` holds the
    deltas of the engine's metrics registry over the loop; `extra` the
    workload's own readings (fileio bytes, dedup stage results)."""
    t = SpanTree(tracer)
    writes = t.outermost("write", foreground=True)
    compacts = t.outermost("compact")
    commits_in_compact = [s for s in t.spans if s.layer == "commit" and t.under(s, "compact")]
    reads = t.outermost("read")
    read_calls = [s for s in t.spans if s.name == "ManifestStore.read_manifest"]
    lookups = t.outermost("query.lookup")
    probes = sum(s.attrs.get("files", 0) for s in lookups)
    file_reads = sum(s.attrs.get("file_reads", 0) for s in lookups)
    misses = sum(s.attrs.get("misses", 0) for s in read_calls)
    live = registry.get("scan.total_live_files", 0.0)

    stages = [st for o in t.ops for j in o.jobs for st in j.stages]
    skewed = [(st.skew, st.executor_run_s) for st in stages if st.skew is not None]
    weight = sum(w for _, w in skewed)
    driver_only = 0.0
    for o in t.ops:
        busy = _union((max(j.start, o.start), min(j.end, o.end))
                      for j in o.jobs if j.end > o.start and j.start < o.end)
        driver_only += (o.end - o.start) - busy

    m = {
        "session.start_s": session_s,
        "write.calls": len(writes),
        "write.rows": sum(s.attrs.get("rows", 0) for s in writes),
        "write.self_s": sum(t.self_time(s) for s in writes),
        "changelog.calls": len(t.outermost("changelog", foreground=True)),
        "changelog.busy_s": t.busy("changelog", foreground=True),
        "commit.busy_s": t.busy("commit", foreground=True),
        "commit.attempts": registry.get("commit.total_attempts", 0.0),
        "commit.retries": registry.get("commit.total_retries", 0.0),
        "commit.files_added": t.attr("commit", "files_added"),
        "commit.files_deleted": t.attr("commit", "files_deleted"),
        "manifest.read_calls": len(read_calls),
        "manifest.cache_hit_ratio": 1.0 - misses / len(read_calls) if read_calls else 0.0,
        "manifest.read_s": t.busy("manifest.read"),
        "manifest.write_s": t.busy("manifest.write"),
        "manifest.entries_read": sum(s.attrs.get("entries", 0) for s in read_calls),
        "plan.calls": len(t.outermost("plan")),
        "plan.busy_s": t.busy("plan"),
        "scan.manifest_entries": registry.get("scan.total_manifest_entries", 0.0),
        "scan.resulted_files": registry.get("scan.total_resulted_files", 0.0),
        "scan.skip_ratio": (1.0 - registry.get("scan.total_resulted_files", 0.0) / live
                            if live else 0.0),
        "read.exec_s": sum((s.end - s.start)
                           - _union((p.start, p.end) for p in t.spans
                                    if p.layer == "plan" and p.op == s.op
                                    and s.start <= p.start and p.end <= s.end)
                           for s in reads),
        "compact.calls": len(compacts),
        "compact.performed_ratio": (sum(s.attrs.get("performed", 0) for s in compacts)
                                    / len(compacts) if compacts else 0.0),
        "compact.busy_s": t.busy("compact"),
        "compact.bytes_rewritten": sum(s.attrs.get("bytes_added", 0)
                                       for s in commits_in_compact),
        "compact.stall_s": sum(s.end - s.start for s in compacts if t.under(s, "write")),
        "lookup.pin_s": t.busy("query.pin"),
        "lookup.busy_s": t.busy("query.lookup"),
        "lookup.keys": sum(s.attrs.get("keys", 0) for s in lookups),
        "lookup.hit_ratio": 1.0 - file_reads / probes if probes else 0.0,
        "incremental.busy_s": t.busy("incremental"),
        "avro.write_s": t.busy("avro.write"),
        "avro.bytes": t.attr("avro.write", "bytes"),
        "dedup.exact_s": t.busy("dedup.exact"),
        "dedup.clusters_s": t.busy("dedup.clusters"),
        "dedup.segments_s": t.busy("dedup.segments"),
        "fileio.meta_writes": sum(1 for s in t.spans if s.layer == "fileio.meta"),
        "fileio.meta_bytes": t.attr("fileio.meta", "bytes"),
        "spark.jobs": sum(len(o.jobs) for o in t.ops),
        "spark.tasks": sum(st.tasks for st in stages),
        "spark.executor_run_s": sum(st.executor_run_s for st in stages),
        "spark.shuffle_write_bytes": sum(st.shuffle_write_bytes for st in stages),
        "spark.shuffle_read_bytes": sum(st.shuffle_read_bytes for st in stages),
        "spark.driver_only_s": driver_only,
        "spark.task_skew": (sum(k * w for k, w in skewed) / weight if weight else 0.0),
    }
    m.update(extra)
    return m


def write_split(tracer: Tracer) -> dict:
    """Where the foreground writes' wall time went, in seconds: self time,
    the changelog, commit and compaction children, every other child, and
    the part of it with no Spark job running."""
    t = SpanTree(tracer)
    out = {"wall": 0.0, "write.self": 0.0, "changelog": 0.0, "commit": 0.0,
           "compact": 0.0, "other": 0.0, "driver_only": 0.0}
    jobs = [j for o in t.ops for j in o.jobs]
    for w in t.outermost("write", foreground=True):
        out["wall"] += w.end - w.start
        out["write.self"] += t.self_time(w)
        for c in t.children.get(w.sid, []):
            key = c.layer if c.layer in ("changelog", "commit", "compact") else "other"
            out[key] += c.end - c.start
        busy = _union((max(j.start, w.start), min(j.end, w.end))
                      for j in jobs if j.end > w.start and j.start < w.end)
        out["driver_only"] += (w.end - w.start) - busy
    return out
