"""The repo's benchmark: one workload per invocation, from a checkout root.

    python3 perfbench/run.py --workload olap_sf0.01 --seed 1 --seconds 5 --trace 0

It makes its inputs (once per checkout, under ``.perfbench/data``), sets
the session up several times, checks every operation's output, runs an
untimed warm-up pass and then whole timed passes of the workload's
operations in a seed-set order on ``local[nproc]``, and prints the
metrics: a readable table, then the environment stamp as a JSON line,
then the result as the last line::

    {"correct": true, "attempted": 24, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
loop with spans and status-store counters and reports the per-layer
metrics (spans go to ``.perfbench/trace/``).  Any failed or wrong
operation makes the exit code 1; a checkout without the program exits 2
before printing a result.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_FILES = ("oracle_parquet_dumper_spark/__init__.py", "bench.py", "scripts/gen_sf.py")

E2E_UNITS = {
    "setup_s": "s",
    "op_gmean_s": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
    "cpu_s_per_op": "s",
}
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.warm_scan_s": "s",
    "plans.build_s": "s",
    "plans.build_driver_s": "s",
    "plans.build_exec_s": "s",
    "plans.build_executions": "count",
    "plans.py4j_calls": "count",
    "operators.exec_s": "s",
    "operators.catalyst_s": "s",
    "operators.checkpoint_bytes": "bytes",
    "operators.task_run_s": "s",
    "operators.task_cpu_s": "s",
    "operators.task_wait_s": "s",
    "operators.gc_s": "s",
    "operators.stages": "count",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "sources.input_bytes": "bytes",
    "sources.rows_read_per_row_out": "ratio",
    "exporter.export_table_s": "s",
    "exporter.jobs_per_table": "count",
    "exporter.write_task_cpu_s": "s",
    "exporter.bytes_written": "bytes",
    "exporter.files_written": "count",
    "exporter.stored_bytes_per_source_byte": "ratio",
    "exporter.validate_s": "s",
    "catalog.list_tables_s": "s",
    "catalog.read_table_s": "s",
    "trace.op_self_share": "ratio",
}
# Set-up layers are medians over the set-up repetitions; pass-level
# export layers are means per pass; every other layer is a mean per
# operation.
SETUP_LAYERS = ("session.get_spark_s", "sources.warm_scan_s")
SPAN_LAYERS = {"catalog.list_tables_s": "catalog.list_tables",
               "catalog.read_table_s": "catalog.read_table"}


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(out) -> dict[str, float]:
    """Operation latency is the geometric mean of the operations' own
    median latencies, as in TPC-H's power metric: every operation weighs
    the same, and a change of one operation's latency by a factor moves
    it by that factor to the power 1/n.  A median over about ten distinct
    operations falls between two of them and jumps with either one's
    noise, and no higher percentile has ten samples beyond it."""
    if not out.latencies:  # every operation failed: nothing to time
        return {k: 0.0 for k in E2E_UNITS}
    op_s = [statistics.median(xs) for xs in out.latencies.values()]
    return {
        "setup_s": statistics.median(out.setup_s),
        "op_gmean_s": statistics.geometric_mean(op_s),
        "ops_per_s": out.samples / out.busy_s,
        "rows_per_s": out.rows / out.busy_s,
        "cpu_s_per_op": out.cpu_s / out.samples,
    }


def per_layer(out, tracer, peak_rss_mb: float) -> dict[str, float]:
    L = out.layers
    vals: dict[str, float] = {"session.peak_rss_mb": peak_rss_mb}
    for name in LAYER_UNITS:
        xs = L.get(name, [])
        vals.setdefault(name, statistics.median(xs) if name in SETUP_LAYERS and xs else _mean(xs))

    def measured(span) -> bool:  # spans of the untimed passes are left out
        return span.op is None or not re.search(r"(#|pass)-\d+$", span.op)

    for metric, span_name in SPAN_LAYERS.items():
        vals[metric] = _mean([s.end - s.start for s in tracer.spans
                              if s.name == span_name and measured(s)])
    ops = [s for s in tracer.spans if s.name == "op" and measured(s)]
    wall = sum(s.end - s.start for s in ops)
    vals["trace.op_self_share"] = sum(tracer.self_time(s) for s in ops) / wall if wall else 0.0
    rows_out = sum(L.get("rows_out", []))
    vals["sources.rows_read_per_row_out"] = (
        sum(L.get("input_records", [])) / rows_out if rows_out else 0.0)
    return {k: vals[k] for k in LAYER_UNITS}


def shutdown(spark) -> None:
    """Stop the session and the JVM, then wait for every process this
    run started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    from perfbench.probes import descendants

    procs = descendants(os.getpid())
    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while procs and time.monotonic() < deadline:
        procs = [p for p in procs if os.path.exists(f"/proc/{p}")]
        if procs:
            time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _print_table(title: str, vals: dict[str, float], units: dict[str, str]) -> None:
    print(title)
    for k, v in vals.items():
        print(f"  {k:40s} {v:>16.6g} {units[k]}")


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import SCALES, WORKLOADS

    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="bench",
                    help="'smoke' runs the same workloads on a tenth of the data (self-tests)")
    args = ap.parse_args(argv)

    missing = [p for p in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the program is not in {ROOT} (missing {', '.join(missing)})",
              file=sys.stderr)
        return 2

    # Everything the run writes stays under the checkout's .perfbench/.
    work = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    shutil.rmtree(tmp, ignore_errors=True)
    for d in (tmp, local, os.path.join(work, "trace")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # Half the cores run Spark's tasks; the rest are left to the JVM's JIT
    # and GC threads and the Python driver, so that a shared host's
    # neighbours slow the run less.  Operations at this scale are bound
    # by the driver, not by task slots.
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    tempfile.tempdir = None
    spark_conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }

    from bench import box_state
    from perfbench import datagen
    from perfbench.probes import cpu_probe, cpu_ticks, io_probe, vm_hwm_mb
    from perfbench.tracing import Tracer
    from perfbench.workloads import Runner

    t_start = time.perf_counter()
    box = box_state()  # sampled before this run's JVM starts
    scale = SCALES[args.scale]
    fx = datagen.ensure_fixtures(ROOT, os.path.join(work, "data"),
                                 scale.query_sf, scale.export_mult)
    fx["export"]["roll_bytes"] = scale.roll_bytes
    t_inputs = time.perf_counter()
    cpu_s = cpu_probe()
    io = io_probe([os.path.join(fx["query"]["dir"], f"{t}.parquet") for t in datagen.TABLES], local)

    ticks0 = cpu_ticks()
    tracer = Tracer(args.trace == 1)
    runner = Runner(args.workload, args.seed, args.seconds, tracer, fx, work, spark_conf)
    env: dict = {}
    try:
        out = runner.run()
        sc = runner.spark.sparkContext
        jvm = sc._gateway.proc.pid
        peak = vm_hwm_mb(jvm)
        ticks1 = cpu_ticks()
        env = {
            "workload": args.workload, "seed": args.seed, "scale": args.scale,
            "nproc": os.cpu_count(), "affinity_cpus": len(os.sched_getaffinity(0)),
            "master": sc.master, "defaultParallelism": sc.defaultParallelism,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "load1": box["load1"], "other_jvms": box["other_jvms"], "box_clean": box["clean"],
            "io_probe": io, "cpu_probe_s": round(cpu_s, 3),
            "steal_share": round((ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]), 4),
            "samples": out.samples,
            "pass_busy_s": [round(b, 3) for b in out.pass_busy_s],
            "op_median_s": {k: round(statistics.median(v), 3) for k, v in out.latencies.items()},
            "setup_runs_s": [round(s, 3) for s in out.setup_s],
        }
    finally:
        t_stop = time.perf_counter()
        shutdown(runner.spark)
    env["phases_s"] = {k: round(v, 2) for k, v in {
        "inputs": t_inputs - t_start, **out.phases, "shutdown": time.perf_counter() - t_stop,
        "total": time.perf_counter() - t_start}.items()}

    e2e = end_to_end(out)
    _print_table(f"{args.workload} end to end{' (traced)' if tracer.enabled else ''}"
                 f" over {out.samples} operations:", e2e, E2E_UNITS)
    # Not in the result line: a ratio that reads 0 takes no relative
    # bound, and VmHWM follows the JVM's heap sizing more than the work.
    print(f"  {'peak_rss_mb':40s} {peak:>16.6g} MB (driver JVM VmHWM)")
    print(f"  {'failed_ratio':40s} {out.failed / max(1, out.attempted):>16.6g} ratio"
          f" ({out.failed} of {out.attempted})")
    for f in out.failures:
        print(f"  FAILED {f}")
    if tracer.enabled:
        layers = per_layer(out, tracer, peak)
        _print_table("per layer:", layers, LAYER_UNITS)
        path = os.path.join(work, "trace", f"{args.workload}-seed{args.seed}.jsonl")
        tracer.write(path)
        print(f"  spans: {len(tracer.spans)} -> {os.path.relpath(path, ROOT)}")
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"env": env}))
    correct = out.failed == 0
    print(json.dumps({"correct": correct, "attempted": max(1, out.attempted),
                      "failed": out.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    # Import from the checkout root: ``perfbench.*`` and the program.
    sys.path[0] = ROOT
    sys.exit(main())
