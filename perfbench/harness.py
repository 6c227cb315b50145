"""Run hygiene and measurement helpers shared by the workloads.

`configure` must run before pyspark launches its JVM: it points every
scratch directory Spark, the JVM and Python use at a run root inside the
checkout, fixes the driver heap, and raises the status store's retention so
the traced run can read every job back.
"""

from __future__ import annotations

import math
import os
import shlex
import signal
import statistics
import subprocess
import tempfile
import time
from pathlib import Path

DRIVER_HEAP = "2g"
TAIL_MIN_BEYOND = 10
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure(run_root: Path, checkout: Path) -> None:
    tmp = run_root / "tmp"
    for d in (tmp, run_root / "spark-local", run_root / "spark-warehouse"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    # Spark's Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(checkout), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = str(run_root / "spark-local")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's launcher JVM
    conf = {
        "spark.local.dir": run_root / "spark-local",
        "spark.sql.warehouse.dir": run_root / "spark-warehouse",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": 1_000_000,
        "spark.ui.retainedStages": 1_000_000,
        "spark.sql.ui.retainedExecutions": 100,
    }
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    args += ["--driver-java-options", java_opts, "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)


def start_session(cpus: int):
    """`get_spark` on local[cpus]; returns (session, seconds)."""
    t0 = time.perf_counter()
    from incubator_paimon_spark import get_spark
    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, then the JVM and every process under it, and wait for
    each to end."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = gateway.proc
    pids = descendants(os.getpid())
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        # the JVM exits when its stdin closes; kill it if it does not
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while True:
        alive = [p for p in pids if Path(f"/proc/{p}").exists()
                 and _state(p) != "Z"]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout_s
        time.sleep(0.05)


def _state(pid: int) -> str:
    try:
        return Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return "Z"


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                kids = Path(f"/proc/{p}/task/{t}/children").read_text().split()
            except OSError:
                continue
            for k in map(int, kids):
                out.append(k)
                todo.append(k)
    return out


def peak_rss_mb() -> tuple[float, float]:
    """VmHWM in MB of the Python driver and of the JVM it launched."""
    from pyspark import SparkContext
    out = []
    for pid in (os.getpid(), SparkContext._gateway.proc.pid):
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                out.append(int(line.split()[1]) / 1024.0)
    return out[0], out[1]


def loadavg() -> str:
    return " ".join(Path("/proc/loadavg").read_text().split()[:3])


# ---------------------------------------------------------------------------
# statistics


def p50(values) -> float:
    return statistics.median(values)


def tail(values):
    """(percentile, value, samples beyond it) for the highest percentile
    with at least TAIL_MIN_BEYOND samples beyond it, or None when there
    are too few samples for any."""
    xs = sorted(values)
    n = len(xs)
    for pct in TAIL_PERCENTILES:
        rank = max(1, math.ceil(pct / 100.0 * n))
        if n - rank >= TAIL_MIN_BEYOND:
            return pct, xs[rank - 1], n - rank
    return None


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


class Latencies:
    """Per-kind operation latencies in seconds."""

    def __init__(self):
        self.by_kind: dict[str, list[float]] = {}

    def add(self, kind: str, seconds: float) -> None:
        self.by_kind.setdefault(kind, []).append(seconds)

    def count(self) -> int:
        return sum(map(len, self.by_kind.values()))

    def p50_geomean_ms(self) -> float:
        """Geometric mean over op kinds of each kind's median latency, in
        ms (TPC-H's power metric summarises mixed query sets the same way)."""
        return geomean([p50(v) * 1000.0 for v in self.by_kind.values()])

    def describe(self, kind: str, unit: str = "s") -> list[tuple]:
        """Report rows (name, value, unit, note) for one kind."""
        scale = 1000.0 if unit == "ms" else 1.0
        v = self.by_kind.get(kind, [])
        if not v:
            return [(f"{kind}_p50_{unit}", None, unit, "n=0")]
        rows = [(f"{kind}_p50_{unit}", p50(v) * scale, unit, f"n={len(v)}")]
        t = tail(v)
        if t is None:
            rows.append((f"{kind}_tail_{unit}", None, unit,
                         f"n={len(v)}, needs >= {2 * TAIL_MIN_BEYOND} samples"))
        else:
            pct, val, beyond = t
            rows.append((f"{kind}_tail_{unit}", val * scale, unit,
                         f"p{pct:g}, {beyond} of n={len(v)} beyond"))
        return rows


class Deadline:
    """A closed loop's stop rule: run until `seconds` have passed and at
    least `min_ops` operations have completed."""

    def __init__(self, seconds: float, min_ops: int):
        self.t0 = time.perf_counter()
        self.end = self.t0 + seconds
        self.min_ops = min_ops

    def done(self, ops: int) -> bool:
        return ops >= self.min_ops and time.perf_counter() >= self.end

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0
