"""The three closed-loop workloads: one client, public engine API only.

Each workload builds its inputs (`build`), warms the code paths its loop
uses (`warmup`), runs one closed-loop unit per `step`, and checks the
engine's outputs against `perfbench.oracle` (per op inside `step`, and at
the end in `check`). `step` records op latencies in `self.lat`; a failed
per-op check raises `CheckFailed`, which the runner counts as a failed op.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

from perfbench import gen, oracle
from perfbench.harness import Latencies, p50


class CheckFailed(AssertionError):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _schema(fields, keys=()):
    from pyspark.sql import types as T
    kinds = {"long": T.LongType(), "int": T.IntegerType(), "double": T.DoubleType(),
             "string": T.StringType(), "timestamp": T.TimestampType()}
    return T.StructType([T.StructField(n, kinds[k], n not in keys) for n, k in fields])


ORDERS_COLUMNS = [("o_orderkey", "long"), ("o_custkey", "long"),
                  ("o_orderstatus", "string"), ("o_totalprice", "double"),
                  ("o_orderdate", "timestamp"), ("o_orderpriority", "string")]
ORDERS_SCHEMA = _schema(ORDERS_COLUMNS, keys=("o_orderkey",))
CDC_SCHEMA = _schema(ORDERS_COLUMNS + [(gen.ROW_KIND, "string")], keys=("o_orderkey",))
LINEITEM_SCHEMA = _schema(
    [("l_orderkey", "long"), ("l_linenumber", "int"), ("l_partkey", "long"),
     ("l_suppkey", "long"), ("l_quantity", "double"), ("l_extendedprice", "double"),
     ("l_discount", "double"), ("l_tax", "double"), ("l_returnflag", "string"),
     ("l_linestatus", "string"), ("l_shipdate", "timestamp")],
    keys=("l_orderkey", "l_linenumber"))
CORPUS_SCHEMA = _schema([("doc_id", "long"), ("text", "string")], keys=("doc_id",))
CLEAN_SCHEMA = _schema([("id", "long"), ("clean_text", "string"),
                        ("kept_segments", "long"), ("removed_segments", "long")])

DATA_SUFFIXES = (".parquet", ".avro", ".orc")
METADATA_DIRS = {"manifest", "snapshot", "schema", "index", "tag", "branch",
                 "consumer", "statistics", ".staging"}


class FileLedger:
    """Data and changelog files ever seen under a table directory, found
    by walking it after each op."""

    def __init__(self, table_path: str):
        self.root = table_path
        self.seen: dict[str, int] = {}

    def scan(self) -> int:
        """Bytes of data files that appeared since the last scan."""
        new = 0
        for d, dirs, files in os.walk(self.root):
            if d == self.root:
                dirs[:] = [x for x in dirs if x not in METADATA_DIRS]
            for f in files:
                p = os.path.join(d, f)
                if f.endswith(DATA_SUFFIXES) and p not in self.seen:
                    self.seen[p] = os.path.getsize(p)
                    new += self.seen[p]
        return new

    def dir_bytes(self) -> int:
        return sum(os.path.getsize(os.path.join(d, f))
                   for d, _, files in os.walk(self.root) for f in files)


class Workload:
    name = ""
    layers: set[str] = set()   # layers the loop must fire in a traced run
    min_ops = 1                # closed-loop units per run, at least

    def __init__(self, spark, seed: int, root: Path, tracer):
        self.spark = spark
        self.seed = seed
        self.root = root
        self.tracer = tracer
        self.lat = Latencies()
        self.units = 0          # closed-loop units completed
        self.failed = 0
        self.errors: list[str] = []
        self.extra: dict = {}   # workload-specific per-layer readings

    def timed(self, kind: str, fn, in_loop: bool = True):
        """Run `fn` as one op; record its latency when in the loop."""
        with self.tracer.op(kind, in_loop) as o:
            out = fn()
        if in_loop:
            self.lat.add(kind, o.end - o.start)
        return out

    def _read(self, fn):
        """`fn` (a read and its action) as a span of the read layer."""
        with self.tracer.span("read"):
            return fn()

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def check(self) -> list[tuple[str, str | None]]:
        """Checks after the loop: (name, None or the failure). Workloads
        that check every op in the loop have none."""
        return []


# ---------------------------------------------------------------------------


class CdcUpsert(Workload):
    """A CDC pipeline on one primary-key `orders` table with the lookup
    changelog producer. Each closed-loop unit commits one seeded upsert
    batch (one `Table.write`, one snapshot), has a downstream consumer read
    that commit's changelog, and has a lookup service re-pin the table and
    serve a batch of hot keys."""

    name = "cdc_upsert"
    layers = {"write", "changelog", "commit", "manifest.read", "manifest.write",
              "compact", "fileio.meta", "incremental", "query.pin", "query.lookup"}
    min_ops = 5
    warmup_units = 2
    lookup_batches = 5
    options = {"bucket": "4", "changelog-producer": "lookup", "file.format": "parquet"}
    columns = [c for c, _ in ORDERS_COLUMNS]

    def build(self):
        from incubator_paimon_spark import Catalog
        self.gen = gen.CdcGenerator(self.seed)
        self.base = self.gen.base()
        self.state = oracle.OrdersState(self.base)
        self.consumer = oracle.OrdersState(self.base)
        self.warehouse = str(self.root / "cdc")
        self.table = Catalog(self.warehouse).create_table(
            "db.orders", ORDERS_SCHEMA, primary_keys=["o_orderkey"],
            options=self.options)
        self.table.write(self.spark, self.spark.createDataFrame(self.base, ORDERS_SCHEMA))
        self.ledger = FileLedger(self.table.path)
        self.ledger.scan()
        self.query = self.table.new_query()
        self.rows = 0
        self.commit_s = 0.0
        self.deleted: list[int] = []

    def _unit(self, in_loop: bool):
        t, spark = self.table, self.spark
        batch = self.gen.next_batch()
        df = spark.createDataFrame(batch, CDC_SCHEMA)
        before = t.snapshots.latest().id
        self.timed("commit", lambda: t.write(spark, df), in_loop)
        self.state.apply(batch)
        self.deleted.extend(batch.loc[batch[gen.ROW_KIND] == "-D", "o_orderkey"])
        new_bytes = self.ledger.scan()

        after = t.snapshots.latest().id
        changes = self.timed("changelog_read", lambda: self._read(
            lambda: t.incremental(spark, before, after, changelog=True)
            .select(*self.columns, gen.ROW_KIND).toPandas()), in_loop)
        self.consumer.apply_changelog(changes)

        # the service re-pins once per commit, then serves several batches:
        # the first reads the commit's new files, the rest hit the cache
        with self.tracer.op("lookup_pin", in_loop):
            self.query.refresh()
        bad = []
        live = self.state.rows
        for _ in range(self.lookup_batches):
            keys = self.gen.lookup_keys()
            rows = self.timed("lookup", lambda: self.query.lookup_many(keys), in_loop)
            bad += [k for k, r in zip(keys, rows)
                    if r is None or r["o_totalprice"] != live.at[k, "o_totalprice"]]
        if in_loop:
            self.rows += len(batch)
            self.commit_s += self.lat.by_kind["commit"][-1]
            self.units += 1
            self.extra["fileio.data_bytes_written"] = (
                self.extra.get("fileio.data_bytes_written", 0) + new_bytes)
        check(not bad, f"lookups after snapshot {after}: {len(bad)} hot keys "
                       f"differ, first {bad[:1]}")

    def warmup(self):
        # commit latency keeps falling over the first few commits (JIT)
        for _ in range(self.warmup_units):
            self._unit(in_loop=False)

    def step(self):
        try:
            self._unit(in_loop=True)
        except CheckFailed as e:
            self.fail(str(e))

    def check(self) -> list[tuple[str, str | None]]:
        """Final-state checks: (name, None or the failure)."""
        from incubator_paimon_spark import Catalog
        from incubator_paimon_spark.metadata.manifest import ManifestStore
        for attr in ("_CACHE", "_IDENT_CACHE", "_PB_CACHE"):
            getattr(ManifestStore, attr).clear()
        t = Catalog(self.warehouse).get_table("db.orders")
        want = self.state.frame()
        results = [
            ("final_state", oracle.frames_equal(
                t.read(self.spark).toPandas(), want, "o_orderkey")),
            ("snapshot_1", oracle.frames_equal(
                t.read(self.spark, snapshot_id=1).toPandas(), self.base, "o_orderkey")),
            # the consumer started from snapshot 1 and applied every
            # commit's lookup changelog in order
            ("changelog_replay", oracle.frames_equal(
                self.consumer.frame(), want, "o_orderkey")),
        ]
        # point lookups of deleted keys and of a spread of live keys
        live = want["o_orderkey"].to_numpy()
        keys = self.deleted[:100] + [int(k) for k in live[:: max(1, len(live) // 100)]]
        got = t.new_query().lookup_many(keys)
        rows = want.set_index("o_orderkey")
        bad = [k for k, g in zip(keys, got)
               if (g is None) != (k not in rows.index)
               or (g is not None and g["o_totalprice"] != rows.at[k, "o_totalprice"])]
        results.append(("point_lookups", f"{len(bad)} of {len(keys)} keys differ, "
                        f"first {bad[0]}" if bad else None))

        live_bytes = sum(e.file.file_size for e in t.entries_at())
        self.write_amp = sum(self.ledger.seen.values()) / live_bytes
        self.space_amp = self.ledger.dir_bytes() / live_bytes
        self.extra["fileio.write_amp"] = self.write_amp
        self.extra["fileio.space_amp"] = self.space_amp
        return results

    def work_per_s(self, loop_s: float) -> float:
        """Rows per second of the median commit. The mean over the loop
        (`ingest_rows_per_s`) moves with how many compactions fell inside
        it and spread twice as much over seeds."""
        return self.gen.plan.batch_rows / p50(self.lat.by_kind["commit"])

    def report(self, loop_s: float) -> list[tuple]:
        p = self.gen.plan
        return [
            *self.lat.describe("commit", "s"),
            ("ingest_rows_per_s", self.rows / self.commit_s, "rows/s",
             f"batch={p.batch_rows} rows, {self.units} commits"),
            ("write_amp", self.write_amp, "ratio", "data+changelog bytes created / live"),
            ("space_amp", self.space_amp, "ratio", "table dir bytes / live"),
            *self.lat.describe("changelog_read", "s")[:1],
            *self.lat.describe("lookup", "ms"),
            ("planted", None, "", f"hot={len(p.hot_keys)} keys, shares "
             f"+U={p.update_share} +I={p.insert_share} -D={p.delete_share}, "
             f"kinds={p.kinds}"),
        ]


# ---------------------------------------------------------------------------

SCAN_KINDS = ("full_count", "projected_agg", "time_travel", "incremental")


class LakeRead(Workload):
    """A seeded mix of scans and point lookups over a merge-on-read
    `lineitem` table larger than the lookup cache; nothing is written in
    the loop."""

    name = "lake_read"
    layers = {"plan", "read", "manifest.read", "query.pin", "query.lookup",
              "incremental"}
    min_ops = 2
    options = {"bucket": "8", "write-only": "true", "file.format": "parquet"}
    cache_fraction = 1 / 1.2   # the table is 1.2x the lookup cache

    def build(self):
        from incubator_paimon_spark import Catalog
        self.gen = gen.LakeGenerator(self.seed)
        self.table = Catalog(str(self.root / "lake")).create_table(
            "db.lineitem", LINEITEM_SCHEMA,
            primary_keys=["l_orderkey", "l_linenumber"], options=self.options)
        for frame in self.gen.commits():
            self.table.write(self.spark, self.spark.createDataFrame(frame, LINEITEM_SCHEMA))
        self.answers = oracle.LakeAnswers(self.gen.commits(), self.gen.replicas)
        self.max_cached_rows = int(self.gen.total_rows * self.cache_fraction)
        self.ops_done = 0

    def warmup(self):
        self.query = self.timed("pin", lambda: self.table.new_query(
            max_cached_rows=self.max_cached_rows), in_loop=False)
        for op in self.gen.next_round():
            if op.kind in SCAN_KINDS or op.kind == "pruned" or op.kind == "lookup_hot":
                self._run(op, in_loop=False)

    def step(self):
        # a lookup service re-pins its view once per round (traced as a
        # loop op, not counted in the latencies)
        with self.tracer.op("pin"):
            self.query.refresh()
        for op in self.gen.next_round():
            self._run(op, in_loop=True)
        self.units += 1

    def _agg(self, df):
        from pyspark.sql import functions as F
        r = df.agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q")).collect()[0]
        return int(r["n"]), float(r["q"] or 0.0)

    def _run(self, op: gen.LakeOp, in_loop: bool):
        from pyspark.sql import functions as F

        from incubator_paimon_spark import P
        t, spark, a = self.table, self.spark, self.answers
        k = op.kind
        if in_loop:
            self.ops_done += 1
        try:
            if k == "full_count":
                got = self.timed(k, lambda: self._read(lambda: t.read(spark).count()), in_loop)
                check(got == a.full_count(), f"full_count {got} != {a.full_count()}")
            elif k == "projected_agg":
                got = self.timed(k, lambda: self._read(lambda: {
                    r[0]: float(r[1]) for r in t.read(spark, projection=["l_returnflag",
                                                                        "l_quantity"])
                    .groupBy("l_returnflag").agg(F.sum("l_quantity")).collect()}), in_loop)
                check(got == a.projected, f"projected_agg {got} != {a.projected}")
            elif k == "time_travel":
                got = self.timed(k, lambda: self._read(
                    lambda: self._agg(t.read(spark, snapshot_id=1))), in_loop)
                want = a.count_and_sum(a.snapshot1)
                check(got == want, f"time_travel {got} != {want}")
            elif k == "incremental":
                r = self.gen.replicas
                got = self.timed(k, lambda: self._read(
                    lambda: self._agg(t.incremental(spark, r, r + 2))), in_loop)
                want = a.count_and_sum(a.incremental)
                check(got == want, f"incremental {got} != {want}")
            elif k == "pruned":
                if op.eq_key is not None:
                    pred = P.eq("l_orderkey", op.eq_key[0]) & P.eq("l_linenumber", op.eq_key[1])
                else:
                    pred = P.between("l_orderkey", op.key_range[0], op.key_range[1] - 1)
                got = self.timed(k, lambda: self._read(
                    lambda: self._agg(t.read(spark, predicate=pred))), in_loop)
                want = a.pruned(op.eq_key, op.key_range)
                check(got == want, f"pruned {op.eq_key or op.key_range}: {got} != {want}")
            else:
                rows = self.timed(k, lambda: self.query.lookup_many(op.keys), in_loop)
                got = [None if r is None else
                       (float(r["l_quantity"]), float(r["l_extendedprice"]), r["l_returnflag"])
                       for r in rows]
                want = a.lookup(op.keys)
                bad = sum(g != w for g, w in zip(got, want))
                check(bad == 0, f"{k}: {bad} of {len(want)} keys differ")
        except CheckFailed as e:
            if not in_loop:
                raise
            self.fail(str(e))

    def work_per_s(self, loop_s: float) -> float:
        return self.ops_done / loop_s

    def report(self, loop_s: float) -> list[tuple]:
        scans = Latencies()
        for kind in SCAN_KINDS:
            for v in self.lat.by_kind.get(kind, []):
                scans.add("scan", v)
        pruned = Latencies()
        pruned.by_kind["pruned_scan"] = self.lat.by_kind.get("pruned", [])
        lk = Latencies()
        lk.by_kind["lookup_hot"] = self.lat.by_kind.get("lookup_hot", [])
        lk.by_kind["lookup_uniform"] = self.lat.by_kind.get("lookup_uniform", [])
        return [
            *scans.describe("scan", "s"),
            *pruned.describe("pruned_scan", "s")[:1],
            *lk.describe("lookup_hot", "ms")[:1],
            *lk.describe("lookup_uniform", "ms"),
            ("ops_per_s", self.ops_done / loop_s, "1/s", f"{self.units} rounds"),
            ("sizes", None, "", f"{self.gen.total_rows} rows in "
             f"{len(self.gen.commits())} commits, lookup cache {self.max_cached_rows} "
             f"rows, batch {self.gen.lookup_batch} keys"),
        ]


# ---------------------------------------------------------------------------


# MinHash LSH settings for `dedup_clusters`: with 32 hashes in 8 bands a
# planted one-word-drop copy (Jaccard ~0.96) misses its source with
# probability ~1e-7, where the 16/4 default missed ~2.5e-4 per copy (one
# corpus in ten lost a copy). Siblings look like the source, so their edges
# miss together and a bigger clique does not help; more bands do.
NUM_HASHES, BANDS = 32, 8


class DedupPipeline(Workload):
    """Per pass: append the corpus to a fresh avro table, read it back,
    exact then near-duplicate dedup keeping canonical docs, boilerplate
    segment removal, and a parquet write of the survivors."""

    name = "dedup_pipeline"
    layers = {"write", "commit", "avro.write", "read", "plan", "dedup.exact",
              "dedup.clusters", "dedup.segments"}
    min_ops = 3

    def build(self):
        self.gen = gen.CorpusGenerator(self.seed)
        frame = self.gen.frame
        self.want_exact = oracle.exact_groups(frame)
        self.want_survivors = oracle.survivors(self.gen.plan.groups)
        self.want_clean = oracle.clean_segments(
            frame[frame["doc_id"].isin(self.want_survivors)])
        self.corpus = self.spark.createDataFrame(frame, CORPUS_SCHEMA).persist()
        self.corpus.count()
        self.passes = 0
        self.pass_docs_per_s: list[float] = []

    def warmup(self):
        # one cold pass; the first loop pass after it still runs ~1.2x
        # slower than later ones, which the median over >= 3 passes absorbs
        self._pass(self.corpus, in_loop=False)

    def step(self):
        self._pass(self.corpus, in_loop=True)

    def _pass(self, corpus, in_loop: bool):
        from pyspark.sql import functions as F

        from incubator_paimon_spark import Catalog
        from incubator_paimon_spark.operators import dedup
        wh = self.root / f"dedup-{self.passes}"
        self.passes += 1
        cat = Catalog(str(wh))
        span = self.tracer.span
        held = []

        def run():
            src = cat.create_table("db.corpus", CORPUS_SCHEMA, options={"file.format": "avro"})
            src.write(self.spark, corpus)
            with span("read"):
                df = src.read(self.spark).persist()
                held.append(df)
                n = df.count()
            with span("dedup.exact"):
                ex = dedup.exact_duplicates(df, "text", "doc_id").persist()
                held.append(ex)
                exact = ex.toPandas()
            kept = (df.join(ex, F.md5(df["text"]) == ex["text_hash"], "left")
                      .filter(F.col("keep_id").isNull() | (F.col("doc_id") == F.col("keep_id")))
                      .select("doc_id", "text"))
            with span("dedup.clusters"):
                cl = dedup.dedup_clusters(kept, "text", "doc_id", num_hashes=NUM_HASHES,
                                          bands=BANDS).persist()
                held.append(cl)
                clusters = cl.toPandas()
            survivors = kept.join(cl.filter(~F.col("is_canonical"))
                                    .select(F.col("id").alias("doc_id")),
                                  "doc_id", "left_anti")
            with span("dedup.segments"):
                seg = dedup.remove_frequent_segments(survivors, "text", "doc_id").persist()
                held.append(seg)
                seg.count()
            out = cat.create_table("db.clean", CLEAN_SCHEMA)
            out.write(self.spark, seg)
            return n, exact, clusters, out

        try:
            n, exact, clusters, out = self.timed("pass", run, in_loop)
            if in_loop:
                lat = self.lat.by_kind["pass"][-1]
                self.pass_docs_per_s.append(n / lat)
                self._check(n, exact, out)
                self.units += 1
        finally:
            for df in held:
                df.unpersist()
            shutil.rmtree(wh, ignore_errors=True)

    def _check(self, n, exact, out):
        try:
            check(n == self.gen.plan.docs, f"read back {n} of {self.gen.plan.docs} docs")
            got_exact = {int(k): int(c) for k, c in zip(exact["keep_id"], exact["dup_count"])}
            check(got_exact == self.want_exact,
                  f"exact groups: {len(got_exact)} != {len(self.want_exact)} planted")
            clean = out.read(self.spark).toPandas()
            got = set(map(int, clean["id"]))
            check(got == self.want_survivors,
                  f"survivors: {len(got - self.want_survivors)} unplanted, "
                  f"{len(self.want_survivors - got)} missing")
            diff = oracle.frames_equal(clean, self.want_clean, "id")
            check(diff is None, f"segments: {diff}")
            self.extra["dedup.kept_ratio"] = len(got) / n
        except CheckFailed as e:
            self.fail(str(e))

    def work_per_s(self, loop_s: float) -> float:
        return p50(self.pass_docs_per_s)

    def report(self, loop_s: float) -> list[tuple]:
        p = self.gen.plan
        return [
            ("pipeline_docs_per_s", p50(self.pass_docs_per_s), "docs/s",
             f"median of {len(self.pass_docs_per_s)} passes"),
            *self.lat.describe("pass", "s")[:1],
            ("planted", None, "", f"{p.docs} docs: {p.base_docs} sources, "
             f"{p.exact_copies} exact copies, {p.near_copies} near-copies, "
             f"{p.boilerplate_docs} with boilerplate"),
        ]


WORKLOADS = {w.name: w for w in (CdcUpsert, LakeRead, DedupPipeline)}
