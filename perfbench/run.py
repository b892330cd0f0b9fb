"""Repository benchmark: one workload per run, one JSON line of results.

    python3 perfbench/run.py --workload sheet_scan --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads: ``sheet_scan``,
``sheet_publish`` and ``corpus_ops`` (see ``manifest.json``). The run
sets up, performs one checked warm-up operation, then issues operations
in a closed loop for ``--seconds`` seconds, checking each output outside
the clock. It prints a table of every metric by name and unit, then, as
its last line, ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. ``--fault drop_row`` makes the emulator lose a row, which
must show up as failed operations.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("sheet_scan", "sheet_publish", "corpus_ops")

#: End-to-end metrics in the JSON line (BENCHMARK.json's end_to_end); the
#: table also prints op_tail_s, cells_per_s and error_rate.
END_TO_END = (("setup_s", "s"), ("op_p50_s", "s"), ("peak_rss_mb", "MB"))


def per_layer_metrics(manifest: dict) -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric in the manifest's map that a
    listed workload produces, with query.<name>.* expanded for each corpus
    query: the traced run's JSON line and BENCHMARK.json's per_layer. A
    workload that does not run a layer reports 0 for it."""
    listed = {w for w, cfg in manifest["workloads"].items() if cfg["listed"]}
    out = []
    for name, (_, workloads, _) in manifest["per_layer"].items():
        if workloads != "all" and not listed & set(workloads.split(", ")):
            continue
        for query in manifest["workloads"]["corpus_ops"]["queries"] if "<name>" in name else [None]:
            full = name.replace("<name>", query) if query else name
            unit = ("s" if any(part.endswith("_s") for part in full.split(".")) else "bytes" if "bytes" in full
                    else "ratio" if full.endswith(("_share", "_fill")) else "count")
            out.append((full, unit))
    return out


@dataclass
class Context:
    manifest: dict
    seed: int
    nproc: int
    work: str
    cache: str
    spark: object = None
    emulator: object = None


@dataclass
class Samples:
    times: list[float] = field(default_factory=list)
    traced_times: list[float] = field(default_factory=list)
    layers: list[dict[str, float]] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0


def parse_args(argv):
    p = argparse.ArgumentParser(description="Run one benchmark workload.")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--fault", choices=("none", "drop_row"), default="none",
                   help="make the Sheets emulator lose a row (sheet workloads only)")
    args = p.parse_args(argv)
    if args.fault != "none" and args.workload == "corpus_ops":
        p.error("--fault needs the Sheets emulator; corpus_ops does not use it")
    return args


def prepare_environment(work: str, nproc: int, manifest: dict) -> None:
    """Keep every file the run writes inside the checkout and put the
    package on the path of this process and of Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": manifest["driver_memory"],
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # spark-submit's helper JVM: no /tmp/hsperfdata file, no /tmp use.
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "NO_PROXY": "127.0.0.1,localhost",
    })
    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))


def start_spark(work: str):
    from duckdb_gsheets_spark.plans.session import get_spark

    spark = get_spark("perfbench", extra_conf={
        # bench.py's file-split sizing, so small parquet scans use every core.
        "spark.sql.files.maxPartitionBytes": "2097152",
        "spark.sql.files.openCostInBytes": "262144",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # A fixed young generation keeps the set of heap pages the JVM
        # touches, and so its peak RSS, from following GC timing.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData -Xmn512m",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def reset_vm_hwm(pid: int | str) -> None:
    """Start VmHWM again from the current RSS (clear_refs mode 5)."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def spark_counts(spark, group: str) -> dict[str, float]:
    tracker = spark.sparkContext.statusTracker()
    stages = tasks = 0
    jobs = tracker.getJobIdsForGroup(group)
    for job in jobs:
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info else ():
            sinfo = tracker.getStageInfo(stage)
            if sinfo and sinfo.numCompletedTasks:
                stages += 1
                tasks += sinfo.numCompletedTasks
    return {"spark.jobs": len(jobs), "spark.stages": stages, "spark.tasks": tasks}


def tail(times: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile with at least 10
    samples beyond it; the maximum when there are fewer than 11."""
    ordered = sorted(times)
    n = len(ordered)
    if n < 11:
        return ordered[-1], 100.0
    return ordered[n - 11], 100.0 * (n - 10) / n


def make_workload(name: str, ctx: Context):
    if name == "corpus_ops":
        from corpus import CorpusOps

        return CorpusOps(ctx)
    from emulator import EmulatorProcess
    from sheets import SheetPublish, SheetScan

    ctx.emulator = EmulatorProcess(ctx.manifest["modeled_rtt_ms"])
    return (SheetScan if name == "sheet_scan" else SheetPublish)(ctx)


def run_workload(args, ctx: Context, tracer, report: dict) -> Samples:
    """Set up, warm up, then run checked operations for ``args.seconds``."""
    workload = make_workload(args.workload, ctx)
    # Benchmark-only work inside set-up: building cached inputs, the
    # expected results and the output checks.
    excluded = report["build_s"] = workload.prepare()
    t0 = time.perf_counter()
    ctx.spark = start_spark(ctx.work)
    report["session.start_s"] = time.perf_counter() - t0
    workload.setup()
    t0 = time.perf_counter()
    expected = workload.expected()
    excluded += time.perf_counter() - t0
    samples = Samples()

    # The warm-up operation: untimed, but checked and counted.
    t_warm = time.perf_counter()
    samples.attempted += 1
    try:
        excluded_warm, problems = workload.warm_up(tracer, expected)
    except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
        traceback.print_exc()
        excluded_warm, problems = 0.0, ["warm-up raised"]
    report_problems(report, "warm-up", problems)
    samples.failed += bool(problems)
    report["session.warm_s"] = time.perf_counter() - t_warm - excluded_warm
    excluded += excluded_warm
    if args.fault != "none":
        ctx.emulator.set_fault(args.fault)
    report["setup_s"] = process_age_s() - excluded
    # Peak RSS covers the measured operations: set-up, the reference
    # results and the warm-up check end here.
    gc.collect()
    jvm_pid = ctx.spark.sparkContext._jvm.ProcessHandle.current().pid()
    reset_vm_hwm("self")
    reset_vm_hwm(jvm_pid)

    t_measure = time.perf_counter()
    op = 0
    # A run holds at least the workload's min_ops operations, so that a
    # slow phase of the machine does not change which operations the
    # median picks. The traced run alternates untraced and traced
    # operations, at least two of each, so the difference of their
    # medians is the tracing overhead.
    min_ops = max(ctx.manifest["workloads"][args.workload]["min_ops"], 4 * args.trace)
    while time.perf_counter() - t_measure < args.seconds or op < min_ops:
        traced = bool(args.trace) and op % 2 == 1
        tracer.enabled, tracer.op = traced, op
        group = f"perfbench-op-{op}"
        ctx.spark.sparkContext.setJobGroup(group, group)
        samples.attempted += 1
        t_op = time.perf_counter()
        try:
            with workload.instrument(tracer) if traced else nullcontext():
                with tracer.span("op"):
                    seconds, result = workload.op(tracer)
            problems, layer = workload.check(result, expected)
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            traceback.print_exc()
            seconds, problems, layer = time.perf_counter() - t_op, ["operation raised"], {}
        (samples.traced_times if traced else samples.times).append(seconds)
        report_problems(report, f"op {op}", problems)
        samples.failed += bool(problems)
        if traced and not problems:
            if "emulator.busy_s" in layer:
                layer["emulator.busy_share"] = layer["emulator.busy_s"] / seconds
            layer.update(spark_counts(ctx.spark, group))
            layer.update(workload.probe(tracer))
            layer.update({name: total for name, (total, _) in tracer.per_op(op).items()})
            layer.update(workload.derived(layer))
            samples.layers.append(layer)
        op += 1
    report["peak_rss_mb.python"] = vm_hwm_mb("self")
    report["peak_rss_mb.jvm"] = vm_hwm_mb(jvm_pid)
    report["peak_rss_mb"] = report["peak_rss_mb.python"] + report["peak_rss_mb.jvm"]
    report["cells"] = workload.cells
    return samples


def report_problems(report: dict, what: str, problems: list[str]) -> None:
    if problems:
        report.setdefault("problems", []).append(f"{what}: " + "; ".join(problems))
        print(f"check failed, {what}: " + "; ".join(problems), file=sys.stderr)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def summarize(args, samples: Samples, report: dict, tracer, manifest: dict) -> dict:
    times = samples.times + samples.traced_times if args.trace else samples.times
    tail_s, tail_pct = tail(times)
    e2e = {
        "setup_s": report["setup_s"],
        "op_p50_s": statistics.median(times),
        "peak_rss_mb": report["peak_rss_mb"],
    }
    print(f"\n{args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
    print(f"  {'setup_s':28} {e2e['setup_s']:14.4f} s")
    print(f"  {'op_p50_s':28} {e2e['op_p50_s']:14.4f} s      n={len(times)}")
    print(f"  {'op_tail_s':28} {tail_s:14.4f} s      p{tail_pct:.1f}, n={len(times)}")
    if report["cells"]:
        print(f"  {'cells_per_s':28} {report['cells'] * len(times) / sum(times):14.1f} cells/s")
    print(f"  {'error_rate':28} {samples.failed / samples.attempted:14.4f} ratio  "
          f"{samples.failed}/{samples.attempted}")
    print(f"  {'peak_rss_mb':28} {e2e['peak_rss_mb']:14.1f} MB")
    if not args.trace:
        return {name: metric(e2e[name], unit) for name, unit in END_TO_END}

    layer = {name: [s[name] for s in samples.layers if name in s]
             for name in sorted({k for s in samples.layers for k in s})}
    per_layer = {name: statistics.median(v) for name, v in layer.items()}
    self_times: dict[str, list[float]] = {}
    for op in sorted({s.op for s in tracer.spans}):
        for name, (_, self_t) in tracer.per_op(op).items():
            self_times.setdefault(name, []).append(self_t)
    per_layer["session.start_s"] = report["session.start_s"]
    per_layer["session.warm_s"] = report["session.warm_s"]
    untraced_p50 = statistics.median(samples.times)
    traced_p50 = statistics.median(samples.traced_times)
    per_layer["trace.overhead_s"] = traced_p50 - untraced_p50
    print(f"  tracing overhead: traced op_p50 {traced_p50:.4f} s (n={len(samples.traced_times)})"
          f" - untraced op_p50 {untraced_p50:.4f} s (n={len(samples.times)})"
          f" = {per_layer['trace.overhead_s']:.4f} s")
    print(f"  {'per-layer metric':40} {'median':>14} {'self median':>14}  n")
    for name in sorted(per_layer):
        selfs = self_times.get(name)
        self_col = f"{statistics.median(selfs):14.6f}" if selfs else f"{'':14}"
        print(f"  {name:40} {per_layer[name]:14.6f} {self_col}  {len(layer.get(name, [1]))}")
    report["per_layer"] = {
        name: {"median": per_layer[name], "samples": len(layer.get(name, [1])),
               "self_median": statistics.median(self_times[name]) if name in self_times else None}
        for name in per_layer
    }
    report["tracing_overhead"] = {"traced_op_p50_s": traced_p50, "untraced_op_p50_s": untraced_p50,
                                  "traced_n": len(samples.traced_times), "untraced_n": len(samples.times)}
    return {name: metric(per_layer.get(name, 0.0), unit) for name, unit in per_layer_metrics(manifest)}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "duckdb_gsheets_spark").is_dir():
        print(f"perfbench: no duckdb_gsheets_spark package under {ROOT}; run it from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    manifest = json.loads((HERE / "manifest.json").read_text())
    nproc = len(os.sched_getaffinity(0))
    state = ROOT / ".perfbench"
    work = str(state / f"work-{os.getpid()}")
    prepare_environment(work, nproc, manifest)
    from tracing import Tracer

    ctx = Context(manifest, args.seed, nproc, work, str(state / "cache"))
    tracer = Tracer(enabled=False)
    report: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "nproc": nproc}
    try:
        samples = run_workload(args, ctx, tracer, report)
    finally:
        if ctx.emulator is not None:
            ctx.emulator.close()
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    metrics = summarize(args, samples, report, tracer, manifest)
    out = state / "out"
    out.mkdir(parents=True, exist_ok=True)
    stem = out / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    report.update({"attempted": samples.attempted, "failed": samples.failed,
                   "op_times_s": samples.times, "traced_op_times_s": samples.traced_times,
                   "metrics": metrics})
    stem.with_suffix(".json").write_text(json.dumps(report, indent=1))
    if args.trace:
        tracer.dump(str(stem) + ".spans.jsonl")
    print(json.dumps({"correct": samples.failed == 0, "attempted": samples.attempted,
                      "failed": samples.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
