"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_upsert --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the root of a checkout. One workload per process: it starts Spark
on local[nproc], builds its inputs from the seed, warms up, runs its closed
loop for `--seconds` (and at least the workload's minimum op count), checks
every output against the pandas oracle, and prints a report followed by one
JSON line. `--trace 0` reports the end-to-end metrics; `--trace 1` installs
the tracer and reports the per-layer metrics instead. `--workload all` runs
every workload untraced and traced in child processes and also prints the
tracing overhead. The exit code is nonzero when any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "work_per_s": "1/s", "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "session.start_s": "s",
    "write.calls": "count", "write.rows": "count", "write.self_s": "s",
    "changelog.calls": "count", "changelog.busy_s": "s",
    "commit.busy_s": "s", "commit.attempts": "count", "commit.retries": "count",
    "commit.files_added": "count", "commit.files_deleted": "count",
    "manifest.read_calls": "count", "manifest.cache_hit_ratio": "ratio",
    "manifest.read_s": "s", "manifest.write_s": "s", "manifest.entries_read": "count",
    "plan.calls": "count", "plan.busy_s": "s", "scan.manifest_entries": "count",
    "scan.resulted_files": "count", "scan.skip_ratio": "ratio", "read.exec_s": "s",
    "compact.calls": "count", "compact.performed_ratio": "ratio", "compact.busy_s": "s",
    "compact.bytes_rewritten": "bytes", "compact.stall_s": "s",
    "lookup.pin_s": "s", "lookup.busy_s": "s", "lookup.keys": "count",
    "lookup.hit_ratio": "ratio",
    "incremental.busy_s": "s",
    "avro.write_s": "s", "avro.bytes": "bytes",
    "dedup.exact_s": "s", "dedup.clusters_s": "s", "dedup.segments_s": "s",
    "dedup.kept_ratio": "ratio",
    "fileio.meta_writes": "count", "fileio.meta_bytes": "bytes",
    "fileio.data_bytes_written": "bytes", "fileio.write_amp": "ratio",
    "fileio.space_amp": "ratio",
    "spark.jobs": "count", "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.driver_only_s": "s", "spark.task_skew": "ratio",
    "trace.op_p50_ms": "ms",
}
WORKLOAD_NAMES = ("cdc_upsert", "lake_read", "dedup_pipeline")


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def registry_totals() -> dict:
    """The engine's metrics registry, summed over tables per group.metric."""
    from incubator_paimon_spark import metrics
    out: dict = {}
    for _, group, metric, value in metrics.rows():
        out[f"{group}.{metric}"] = out.get(f"{group}.{metric}", 0.0) + value
    return out


def run_one(args, checkout: Path) -> tuple[dict, list[str]]:
    """One workload in this process; returns (result, report lines)."""
    from perfbench import harness
    from perfbench.tracing import SpanTree, Tracer, layer_metrics, write_split
    from perfbench.workloads import WORKLOADS

    out_dir = checkout / ".perfbench"
    run_root = out_dir / f"run-{os.getpid()}"
    harness.configure(run_root, checkout)
    load_start = harness.loadavg()
    cpus = harness.nproc()
    spark = None
    try:
        spark, session_s = harness.start_session(cpus)
        tracer = Tracer(spark, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, args.seed, run_root / "tables", tracer)
        t0 = time.perf_counter()
        wl.build()
        build_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t0

        tracer.install()
        reg0 = registry_totals()
        deadline = harness.Deadline(args.seconds, wl.min_ops)
        try:
            while not deadline.done(wl.units):
                wl.step()
        except Exception as e:  # the loop stops at the first op that raises
            wl.fail(f"{type(e).__name__}: {e}")
        loop_s = deadline.elapsed()
        reg1 = registry_totals()
        tracer.uninstall()
        registry = {k: reg1.get(k, 0.0) - reg0.get(k, 0.0) for k in reg1}

        checks = []
        if not wl.errors:
            try:
                checks = wl.check()
            except Exception as e:
                checks = [("final_checks", f"{type(e).__name__}: {e}")]
        missing = (sorted(wl.layers - {s.layer for s in SpanTree(tracer).spans})
                   if args.trace else [])
        rss_py, rss_jvm = harness.peak_rss_mb()
        rss = rss_py + rss_jvm
        split = write_split(tracer) if args.trace else None
        if args.trace:
            (out_dir / "spans").mkdir(parents=True, exist_ok=True)
            tracer.write(out_dir / "spans" / f"{args.workload}-seed{args.seed}.jsonl")
    finally:
        try:
            if spark is not None:
                harness.stop_session(spark)
        finally:
            shutil.rmtree(run_root, ignore_errors=True)

    failed_checks = [(n, why) for n, why in checks if why is not None]
    failed = wl.failed + len(failed_checks) + len(missing)
    attempted = wl.lat.count() + len(checks) + len(missing)
    setup_s = session_s + build_s + warmup_s
    op_p50_ms = wl.lat.p50_geomean_ms() if wl.lat.count() else 0.0
    if args.trace:
        values = layer_metrics(tracer, registry, session_s,
                               {**wl.extra, "trace.op_p50_ms": op_p50_ms})
        units = LAYER_UNITS
    else:
        values = {"setup_s": setup_s, "op_p50_ms": op_p50_ms,
                  "work_per_s": wl.work_per_s(loop_s) if wl.units else 0.0,
                  "peak_rss_mb": rss}
        units = E2E_UNITS
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}

    lines = [f"perfbench workload={args.workload} seed={args.seed} "
             f"seconds={args.seconds:g} trace={args.trace} cpus={cpus} "
             f"driver_heap={harness.DRIVER_HEAP} loadavg_start={load_start} "
             f"loadavg_end={harness.loadavg()}",
             _row("setup_s", setup_s, "s", f"session {session_s:.3f} + build "
                  f"{build_s:.3f} + warmup {warmup_s:.3f}"),
             _row("op_fail_ratio", failed / max(attempted, 1), "ratio",
                  f"{failed} of {attempted}"),
             _row("peak_rss_mb", rss, "MB", f"VmHWM, Python driver {rss_py:.0f} + JVM {rss_jvm:.0f}"),
             _row("loop_s", loop_s, "s", f"{wl.units} closed-loop units")]
    if wl.units and not wl.errors:
        lines += [_row(*r) for r in wl.report(loop_s)]
    for kind, v in sorted(wl.lat.by_kind.items()):
        lines.append(f"  latency {kind}: n={len(v)} " + " ".join(f"{x:.3f}" for x in v))
    if split and split["wall"]:
        lines.append("  write split (s): " + " ".join(f"{k}={v:.3f}" for k, v in split.items()))
    for k in sorted(registry):
        if k.startswith(("commit.total_", "scan.total_", "compaction.total_")):
            lines.append(f"  registry {k} {registry[k]:g}")
    for e in wl.errors:
        lines.append(f"  FAILED op: {e}")
    for n, why in failed_checks:
        lines.append(f"  FAILED check {n}: {why}")
    for layer in missing:
        lines.append(f"  FAILED: layer {layer} never fired in the traced loop")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return result, lines


def _row(name, value, unit, note="") -> str:
    v = "n/a" if value is None else f"{value:.6g}"
    return f"  {name} {v} {unit}" + (f"  ({note})" if note else "")


def run_all(args) -> tuple[dict, list[str]]:
    """Every workload untraced then traced, each in a child process."""
    lines, metrics = [], {}
    attempted = failed = 0
    correct = True
    for name in WORKLOAD_NAMES:
        results = {}
        for trace in (0, 1):
            cmd = [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            out = proc.stdout.strip().splitlines()
            lines += out[:-1]
            if proc.returncode != 0 or not out:
                correct = False
                lines.append(f"  FAILED: {name} trace={trace} exited {proc.returncode}")
                if not out:
                    continue
            r = json.loads(out[-1])
            results[trace] = r
            correct &= r["correct"]
            attempted += r["attempted"]
            failed += r["failed"]
            for k, v in r["metrics"].items():
                metrics[f"{name}.{k}"] = v
        if 0 in results and 1 in results:
            base = results[0]["metrics"]["op_p50_ms"]["value"]
            traced = results[1]["metrics"]["trace.op_p50_ms"]["value"]
            lines.append(_row(f"{name}.trace_overhead_ms", traced - base, "ms",
                              f"traced op_p50 {traced:.1f} - untraced {base:.1f}"))
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}, lines


def main(argv=None) -> int:
    args = parse(argv)
    # on SIGTERM unwind through the `finally` that stops Spark and removes
    # the run root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    checkout = Path.cwd()
    if not (checkout / "incubator_paimon_spark" / "__init__.py").is_file():
        print("perfbench: run from the root of a checkout of the engine "
              "(no incubator_paimon_spark/ here)", file=sys.stderr)
        return 2
    sys.path.insert(0, str(checkout))
    if args.workload == "all":
        result, lines = run_all(args)
    else:
        result, lines = run_one(args, checkout)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
