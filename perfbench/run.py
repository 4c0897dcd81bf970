"""Seeded closed-loop benchmark of whylogs_spark.

One client thread calls the public API back to back, with no think time,
on ``local[min(4, nproc)]``. Run from the root of a checkout:

    python3 perfbench/run.py --workload monitor_store --seed 1 \\
        --seconds 15 --trace 0

With ``--trace 0`` the last line of standard output is a JSON object
holding every end-to-end metric of BENCHMARK.json; with ``--trace 1`` it
holds every per-layer metric instead, and the spans are written to
``.perfbench/spans/``. Names and units of both sets are read from
BENCHMARK.json.

Which end-to-end metric each layer should move, and on which workload
(``write`` is profile() on profile_* and ingest on monitor_store;
``query`` is to_pandas() on profile_* and drift_between on
monitor_store):

- planner.plan_s, planner.plan_warm_s -> write_p50_s on
  profile_wide_seg; about zero on the narrow path.
- sketches.* -> write_p50_s and cpu_s_per_op on monitor_store; no
  change on profile_wide_seg, which never calls them.
- profiler.jobs/stages/tasks/python_tasks -> write_p50_s on
  profile_wide_seg and monitor_store, where per-task fixed cost rules.
- profiler.executor_run_s/executor_cpu_s/gc_s -> cpu_s_per_op and
  rows_per_s.
- profiler.driver_s, shuffle_write_bytes, spill_bytes, wide.native_rows_s
  -> write_p50_s on profile_wide_seg.
- profiler.result_rows, cached_rdds_delta -> peak_rss_mb everywhere.
- store.write_s/files_written/bytes_written -> write_p50_s and
  stored_bytes_per_profile on monitor_store.
- store.get_*, drift.score_s -> query_p50_s on monitor_store.
- trace.overhead_frac: traced against untraced loop iterations.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def units() -> dict:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"]
            for kind in ("end_to_end", "per_layer") for m in spec[kind]}


PROFILER_KEYS = ("jobs", "stages", "tasks", "python_tasks", "executor_run_s",
                 "executor_cpu_s", "gc_s", "driver_s", "shuffle_write_bytes",
                 "spill_bytes")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare(work: Path) -> None:
    """Keep temporary files under ``work``; make the package importable
    by this process and by the Python workers Spark starts."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    for path in (str(HERE), str(ROOT)):
        if path not in sys.path:
            sys.path.insert(0, path)


def start_session(work: Path):
    """A local session with the status UI on, writing only under ``work``."""
    from pyspark.sql import SparkSession

    cores = min(4, len(os.sched_getaffinity(0)))
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "5000")
        .config("spark.ui.retainedStages", "10000")
        .config("spark.sql.ui.retainedExecutions", "5000")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData")
        # profile() sets these two on the caller's session; pinning them
        # makes every commit run with the same settings
        .config("spark.sql.codegen.maxFields", "2048")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and the Python workers it
    started have exited."""
    from pyspark import SparkContext

    from ledger import process_tree

    started = set(process_tree()) - {os.getpid()}
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on end of input
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while started and time.monotonic() < deadline:
        started = {p for p in started if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for pid in started:  # still running after 30 s
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def session_conf(spark) -> dict:
    return dict(sorted(spark.conf.getAll.items()))


def bench(spark, workload: str, seed: int, seconds: float, trace: bool,
          size: str, work: Path) -> dict:
    """Run one workload; return the result object and a summary."""
    from ledger import Ledger, Tracer, cpu_seconds, peak_rss_mb, steal_ticks
    from workloads import SIZES, WORKLOADS, layer_probes

    unit = units()
    ledger = Ledger(spark) if trace else None
    plain, traced = Tracer(), Tracer(ledger)
    wl = WORKLOADS[workload](spark, seed, SIZES[size], str(work))
    conf_before = session_conf(spark)
    setup = wl.setup()
    wl.forget_cached()
    wl.iterate(plain)  # warm-up: the first query of a process runs cold
    wl.forget_cached()
    conf = session_conf(spark)
    changed = sorted(k for k in conf if conf_before.get(k) != conf[k])

    samples = {"write": [], "query": [], "profile": []}
    per_call = []   # traced iterations: profiler ledger + side counters
    overhead = {True: [], False: []}
    cpu0, t_end, i = cpu_seconds(), time.perf_counter() + seconds, 0
    steal0 = steal_ticks()
    ops0 = wl.attempted
    while i < 2 or time.perf_counter() < t_end:
        on = trace and i % 2 == 1   # traced runs alternate, for overhead
        t0 = time.perf_counter()
        rdds0 = ledger.cached_rdds() if on else 0
        out = wl.iterate(traced if on else plain)
        if on and out is not None:
            prof = [s for s in traced.spans if s["name"] == "profile"][-1]
            per_call.append(dict(
                prof["ledger"],
                result_rows=wl.views[-1].df.count(),
                cached_rdds_delta=ledger.cached_rdds() - rdds0))
        wl.forget_cached()
        overhead[on].append(time.perf_counter() - t0)
        i += 1
        if out is None:
            continue
        for k in ("write", "query", "profile"):
            samples[k].append(out[k])
    ops = max(wl.attempted - ops0, 1)
    cpu = (cpu_seconds() - cpu0) / ops
    steal = [b - a for a, b in zip(steal0, steal_ticks())]

    notes = [f"set-up repetitions: {len(setup)} "
             f"({', '.join(f'{t:.2f}' for t in setup)} s)",
             f"loop iterations: {len(samples['write'])} "
             f"(closed loop, one client)",
             f"session conf after warm-up: {json.dumps(conf)}",
             f"conf keys changed by the program during set-up: {changed}",
             f"host CPU steal during the loop: "
             f"{100.0 * steal[0] / max(steal[1], 1):.1f}%"]
    if trace:
        layer = layer_probes(wl, traced)
        for key in PROFILER_KEYS + ("result_rows", "cached_rdds_delta"):
            vals = [c[key] for c in per_call]
            layer[f"profiler.{key}"] = statistics.median(vals) if vals else 0
        layer["trace.overhead_frac"] = (
            statistics.median(overhead[True])
            / statistics.median(overhead[False]) - 1.0)
        spans = ROOT / ".perfbench" / "spans" / f"{workload}-seed{seed}.json"
        traced.dump(str(spans))
        notes.append(f"spans written to {spans.relative_to(ROOT)}")
        metrics = {k: {"value": v, "unit": unit[k]}
                   for k, v in sorted(layer.items())}
    else:
        metrics = {}

        def put(name, value, note=""):
            metrics[name] = {"value": value, "unit": unit[name]}
            if note:
                notes.append(f"{name}: {note}")

        put("setup_s", statistics.median(setup))
        for k in ("write", "query"):
            xs = samples[k]
            put(f"{k}_p50_s", statistics.median(xs),
                f"n={len(xs)}: {', '.join(f'{x:.3f}' for x in xs)}")
        put("rows_per_s", wl.rows / statistics.median(samples["profile"]),
            f"{wl.rows} rows per profile")
        put("cpu_s_per_op", cpu, f"over {ops} operations")
        put("stored_bytes_per_profile", wl.stored_bytes)
        put("peak_rss_mb", peak_rss_mb())
        put("ok_frac", 1.0 - wl.failed / max(wl.attempted, 1),
            f"{wl.failed} of {wl.attempted} operations failed")
    for e in wl.errors[:10]:
        notes.append(f"failure: {e}")
    result = {"correct": wl.failed == 0, "attempted": wl.attempted,
              "failed": wl.failed, "metrics": metrics}
    return {"result": result, "notes": notes}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "whylogs_spark" / "__init__.py").is_file():
        print(f"no whylogs_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    prepare(work)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    spark = start_session(work)
    try:
        out = bench(spark, args.workload, args.seed, args.seconds,
                    bool(args.trace), "full", work)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    for line in out["notes"]:
        print(line)
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
