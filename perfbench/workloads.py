"""The benchmark's workloads, each a closed loop with one client.

- ``queries_sf0.01``: the OLAP and the LLM-pipeline queries below in one
  run, so that both kinds fit the benchmark's run budget.
  ``BENCHMARK.json`` lists this workload and ``export_sf0.1``; the two
  halves also run alone, for a per-kind layer split.
- ``olap_sf0.01``: seven of the short analyst queries of the bench set
  (TPC-H q1/q3/q6, a window, regexp functions, the event stream and a
  pandas UDF).  Driver-side build and Catalyst planning are a large share
  of each; every join broadcasts and everything fits in memory.
- ``llm_pipeline_sf0.01``: three of the LLM-pipeline bench queries (graph,
  dedup and text).  Most of their time is spent inside the registry call:
  eager iterations, ``localCheckpoint`` and higher-order-function builds.
  None of them reads stored state, so setup builds none.
- ``export_sf0.1``: ``exporter()`` over ten tables, then
  ``validate_export``.  It is the only write path and bypasses the query
  registry; tiny dimension tables sit next to a ``lineitem`` that rolls
  into several files.

A query operation is one registry call plus its no-op sink write; an
export operation is one ``SparkParquetExporter.export_table`` call.
A query run checks each operation's output against its oracle in an
untimed pass, then runs more untimed passes while the JIT settles
(``WARMUP_PASSES``), and only then times whole passes.  An export run
checks every pass, its untimed warm-up pass too.
"""

from __future__ import annotations

import gc
import os
import random
import re
import shutil
import tempfile
import time
from dataclasses import dataclass, field

from perfbench import datagen
from perfbench.probes import tree_cpu_s
from perfbench.tracing import SparkCounters, Tracer

SETUP_REPS = 3
# The query workloads run subsets of the bench queries, chosen so that
# every workload, with its set-ups and its untimed check pass, fits the
# benchmark's run budget while each layer stays covered (README.md).
OLAP_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q6_forecast_revenue",
    "window_sessionize_30min", "fn_regexp_family", "stream_tumbling_counts",
    "udf_scalar_pandas",
)
LLM_QUERIES = (
    "graph_pagerank",  # eager, checkpointed iterations built in the call
    "dedup_exact",  # the dedup operators; the stored-index variant needs an 8 s build a run
    "text_tfidf_topterms",  # lambda higher-order functions over tokens
)
# Untimed passes before the timed ones, by workload kind.  The JIT keeps
# compiling through the first two passes after a query run's check pass
# (their CPU falls by a fifth each); with one warm-up pass, the first
# timed query pass read 10-35% slower than the second.  Two export
# passes after one warm-up pass read within 10% of each other.
WARMUP_PASSES = {"queries": 2, "olap": 2, "llm": 2, "export": 1}
# Timed passes a run takes at least; more follow only while the busy
# time is under --seconds.  A fixed count keeps every run's timed passes
# at the same point of the JIT's warm-up, which a count set by the
# host's speed would not.  What the warm-up leaves of the run budget
# pays for one timed query pass or two export passes.
MIN_PASSES = {"queries": 1, "olap": 1, "llm": 1, "export": 2}


@dataclass(frozen=True)
class Scale:
    query_sf: float  # fixture scale of the query workloads
    export_mult: int  # the export source is the query fixture x this
    roll_bytes: int  # export rolling target: lineitem spans several files


SCALES = {
    "bench": Scale(0.01, 10, 20_000_000),
    # self-test scale: same code paths, a tenth of the data
    "smoke": Scale(0.001, 10, 2_000_000),
}
WORKLOADS = ("queries_sf0.01", "olap_sf0.01", "llm_pipeline_sf0.01", "export_sf0.1")


@dataclass
class Outcome:
    """What one workload run measured."""

    setup_s: list[float] = field(default_factory=list)  # per repetition
    latencies: dict[str, list[float]] = field(default_factory=dict)  # per operation
    busy_s: float = 0.0  # time the client waited on the program
    cpu_s: float = 0.0  # process-tree CPU during busy time
    rows: int = 0  # source rows of the operations timed (fixed per operation)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    layers: dict[str, list[float]] = field(default_factory=dict)
    phases: dict[str, float] = field(default_factory=dict)  # wall seconds per phase
    pass_busy_s: list[float] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def add(self, layer: str, value: float) -> None:
        self.layers.setdefault(layer, []).append(value)

    def timed(self, op: str, seconds: float) -> None:
        self.latencies.setdefault(op, []).append(seconds)

    @property
    def samples(self) -> int:
        return sum(len(xs) for xs in self.latencies.values())


class FixtureReads:
    """Which fixture tables an operation reads, and the file bytes of
    every table it opens.  Tables are seen where a path is made
    (``sources.tables.table_path``, under ``load_table`` and the events
    stream) or opened (``read_parquet_robust``, under ``load_table`` and
    the parquet catalog).  Installed in every run: one dictionary lookup
    per table read."""

    def __init__(self, size_by_path: dict[str, tuple[int, int]]):
        self.size_by_path = size_by_path  # path -> (rows, file bytes)
        self.bytes = 0  # file bytes of every table opened
        self.seen: set[str] = set()  # tables read since the last reset
        self._undo: list = []

    def source_rows(self) -> int:
        """Rows of the distinct tables read since ``seen`` was reset."""
        return sum(self.size_by_path[p][0] for p in self.seen)

    def _see(self, path: str) -> str | None:
        path = os.path.abspath(path)
        if path in self.size_by_path:
            self.seen.add(path)
            return path
        return None

    def install(self) -> None:
        from oracle_parquet_dumper_spark.sources import tables

        read, make_path = tables.read_parquet_robust, tables.table_path

        def counted_read(spark, path):
            known = self._see(path)
            if known:
                self.bytes += self.size_by_path[known][1]
            return read(spark, path)

        def seen_path(sf_dir, name):
            path = make_path(sf_dir, name)
            self._see(path)
            return path

        tables.read_parquet_robust = counted_read
        tables.table_path = seen_path
        self._undo = [(tables, "read_parquet_robust", read), (tables, "table_path", make_path)]

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


def query_ops(workload: str) -> list[tuple[str, object, str]]:
    """(name, registry function, DuckDB oracle SQL) per operation."""
    from oracle_parquet_dumper_spark import plans

    kind = workload.split("_")[0]
    names = {"olap": OLAP_QUERIES, "llm": LLM_QUERIES}.get(kind, OLAP_QUERIES + LLM_QUERIES)
    return [(n, plans.REGISTRY[n].fn, plans.REGISTRY[n].oracle) for n in names]


class Runner:
    """Runs one workload: set-up repetitions, then whole passes of its
    operations in a seed-set order for about ``seconds`` of busy time."""

    def __init__(self, workload: str, seed: int, seconds: float, tracer: Tracer,
                 fixtures: dict, work: str, spark_conf: dict[str, str]):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.fx = fixtures
        self.work = work
        self.spark_conf = spark_conf
        self.out = Outcome()
        self.spark = None
        self.pid = os.getpid()
        self.is_export = workload.startswith("export")
        kind = workload.split("_")[0]
        self.warmup_passes, self.min_passes = WARMUP_PASSES[kind], MIN_PASSES[kind]
        self.data_dir = fixtures["export" if self.is_export else "query"]["dir"]
        sizes = {}
        for f in fixtures.values():
            for t, n in f["rows"].items():
                path = os.path.abspath(os.path.join(f["dir"], f"{t}.parquet"))
                sizes[path] = (n, os.path.getsize(path))
        self.reader = FixtureReads(sizes)

    # -- setup ------------------------------------------------------------
    def _setup_once(self, rep: int) -> None:
        from oracle_parquet_dumper_spark.session import get_spark
        from oracle_parquet_dumper_spark.sources import tables

        # Each repetition gets an empty temp root, so no repetition (and no
        # later run) finds files the program left in the previous one.
        tempfile.tempdir = os.path.join(self.work, "tmp", f"setup{rep}")
        os.makedirs(tempfile.tempdir)
        t = {}
        t0 = time.perf_counter()
        with self.tracer.span("setup", f"setup{rep}"):
            with self.tracer.span("session.get_spark"):
                self.spark = get_spark("perfbench", extra_conf=self.spark_conf)
            t["session.get_spark_s"] = time.perf_counter() - t0
            t1 = time.perf_counter()
            with self.tracer.span("sources.warm_scan"):
                for name in datagen.TABLES:
                    tables.load_table(self.spark, self.data_dir, name).count()
            t["sources.warm_scan_s"] = time.perf_counter() - t1
        self.out.setup_s.append(time.perf_counter() - t0)
        for k, v in t.items():
            self.out.add(k, v)

    def setup(self) -> None:
        """Set up ``SETUP_REPS`` times: the first launches the JVM; the
        others stop the session and build it again in the same JVM.  The
        passes use the last session."""
        for rep in range(SETUP_REPS):
            if rep:
                self.spark.stop()
                shutil.rmtree(os.path.join(self.work, "tmp", f"setup{rep - 1}"))
            self._setup_once(rep)
            if rep == 0:
                self.tracer.install(self.spark)

    # -- passes -----------------------------------------------------------
    def _passes(self, run_pass) -> None:
        """``warmup_passes`` untimed passes (``p < 0``), then
        ``min_passes`` timed whole passes, and more while the busy time
        is under ``seconds``; none after a pass in which every operation
        failed."""
        t0 = time.perf_counter()
        for p in range(-self.warmup_passes, 0):
            run_pass(p)
        self.out.phases["warmup"] = time.perf_counter() - t0
        p = 0
        while p < self.min_passes or self.out.busy_s < self.seconds:
            before = self.out.busy_s
            run_pass(p)
            p += 1
            added = self.out.busy_s - before
            self.out.pass_busy_s.append(added)
            if added == 0:
                return

    def run(self) -> Outcome:
        # Load every operator module before the tracer rebinds their globals.
        import oracle_parquet_dumper_spark.plans  # noqa: F401

        self.reader.install()
        try:
            t0 = time.perf_counter()
            self.setup()
            t1 = time.perf_counter()
            if self.is_export:
                self._export_passes()
            else:
                self._query_passes()
            # "passes" includes the untimed check and warm-up passes, also
            # reported alone
            self.out.phases.update(setup=t1 - t0, passes=time.perf_counter() - t1)
        finally:
            self.reader.uninstall()
            self.tracer.uninstall()
        return self.out

    # -- query workloads ----------------------------------------------------
    def _query_passes(self) -> None:
        import duckdb

        from oracle_parquet_dumper_spark.testing import compare

        spark, tr, out = self.spark, self.tracer, self.out
        ops = query_ops(self.workload)
        duck = duckdb.connect()
        for t in datagen.TABLES:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        counters = SparkCounters(spark) if tr.enabled else None
        rows_out: dict[str, int] = {}
        source_rows: dict[str, int] = {}

        def check(name, fn, oracle) -> bool:
            """First execution of an operation in this run: compare its
            output with the DuckDB oracle, and record the rows of the
            fixture tables it reads.  Untimed; the check pass also warms
            the JVM for the timed passes that follow it."""
            out.attempted += 1
            _settle(spark)
            self.reader.seen.clear()
            try:
                pdf = fn(spark, self.data_dir).toPandas()
                rep = compare(name, _Collected(pdf), duck, oracle)
            except Exception as e:  # counted, reported, and the loop goes on
                out.fail(f"{name}: check raised {type(e).__name__}: {e}")
                return False
            if not rep.match:
                out.fail(f"{name}: output differs from the oracle: {rep.detail[:300]}")
                return False
            rows_out[name] = len(pdf)
            source_rows[name] = self.reader.source_rows()
            return True

        def one_pass(p: int) -> None:
            order = list(timed_ops)
            random.Random(f"{self.seed}/{p}").shuffle(order)
            for name, fn, oracle in order:
                out.attempted += 1
                _settle(spark)
                if counters:
                    counters.take()
                py4j0 = tr.py4j_calls
                bytes0 = self.reader.bytes
                cpu0 = tree_cpu_s(self.pid)
                t0 = time.perf_counter()
                try:
                    with tr.span("op", f"{name}#{p}"):
                        with tr.span("plans.build"), tr.counting_py4j():
                            df = fn(spark, self.data_dir)
                        t_build = time.perf_counter()
                        split_ms = time.time() * 1000
                        with tr.span("operators.sink"):
                            df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # counted, reported, and the loop goes on
                    out.fail(f"{name}#{p}: {type(e).__name__}: {e}")
                    continue
                t1 = time.perf_counter()
                if p < 0:  # the warm-up pass: checked for errors, never timed
                    continue
                out.busy_s += t1 - t0
                out.cpu_s += tree_cpu_s(self.pid) - cpu0
                out.rows += source_rows[name]
                out.timed(name, t1 - t0)
                if counters:
                    self._query_layers(counters, df, t_build - t0, t1 - t_build,
                                       tr.py4j_calls - py4j0, split_ms)
                    out.add("rows_out", rows_out.get(name, 0))
                    out.add("sources.input_bytes", self.reader.bytes - bytes0)
                del df

        try:
            order = list(ops)
            random.Random(f"{self.seed}/check").shuffle(order)
            t0 = time.perf_counter()
            # an operation whose check fails is counted once and not timed
            timed_ops = [op for op in order if check(*op)]
            self.out.phases["check"] = time.perf_counter() - t0
            self._passes(one_pass)
        finally:
            duck.close()

    def _query_layers(self, counters: SparkCounters, df, build_s: float, sink_s: float,
                      py4j: int, split_ms: float) -> None:
        c = counters.take(split_ms)
        add = self.out.add
        add("plans.build_s", build_s)
        add("plans.build_exec_s", c["pre_exec_ms"] / 1000)
        add("plans.build_driver_s", max(0.0, build_s - c["pre_exec_ms"] / 1000))
        add("plans.build_executions", c["pre_executions"])
        add("plans.py4j_calls", py4j)
        add("operators.exec_s", sink_s)
        add("operators.checkpoint_bytes", counters.storage_bytes())
        # The sink optimized and planned its own copy of this logical plan.
        # Re-plan the DataFrame's plan (analyzed when ``fn`` built it) and
        # time the same two phases; analysis is already in plans.build_s.
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        ms = 0
        for phase in ("optimization", "planning"):
            summary = phases.get(phase)
            if summary.isDefined():
                ms += int(summary.get().durationMs())
        add("operators.catalyst_s", ms / 1000)
        self._stage_layers(c, "operators")

    def _stage_layers(self, c: dict, layer: str) -> None:
        add = self.out.add
        run_s, cpu_s = c["task_run_ms"] / 1000, c["task_cpu_ns"] / 1e9
        if layer == "operators":
            add("operators.task_run_s", run_s)
            add("operators.task_cpu_s", cpu_s)
            add("operators.task_wait_s", max(0.0, run_s - cpu_s))
            add("operators.gc_s", c["gc_ms"] / 1000)
            add("operators.stages", c["stages"])
            add("operators.shuffle_write_bytes", c["shuffle_write_bytes"])
            add("operators.spill_bytes", c["spill_bytes"])
        else:
            add("exporter.write_task_cpu_s", cpu_s)
            add("exporter.jobs_per_table", c["jobs"])
        add("input_records", c["input_records"])

    # -- export workload ------------------------------------------------------
    def _export_passes(self) -> None:
        from oracle_parquet_dumper_spark.exporter import (
            SparkParquetExporter,
            exporter,
            validate_export,
        )

        spark, tr, out = self.spark, self.tracer, self.out
        out_dir = os.path.join(self.work, "export_out")
        fx = self.fx["export"]
        counters = SparkCounters(spark) if tr.enabled else None
        orig = SparkParquetExporter.export_table
        current = {"pass": -1}

        # Every export_table call is timed by wrapping the method, so a
        # change to the export_tables loop around it still shows.
        def export_table(exp, schema, table):
            p = current["pass"]
            out.attempted += 1
            if counters:
                counters.take()
            bytes0 = self.reader.bytes
            t0 = time.perf_counter()
            with tr.span("op", f"{table}#{p}"):
                with tr.span("exporter.export_table"):
                    res = orig(exp, schema, table)
            dt = time.perf_counter() - t0
            if p >= 0:
                out.timed(table, dt)
                if counters:
                    out.add("exporter.export_table_s", dt)
                    out.add("rows_out", res.rows)
                    out.add("sources.input_bytes", self.reader.bytes - bytes0)
                    self._stage_layers(counters.take(), "exporter")
            return res

        def one_pass(p: int) -> None:
            current["pass"] = p
            if os.path.exists(out_dir):
                shutil.rmtree(out_dir)
            _settle(spark)
            failed0 = out.failed
            cpu0 = tree_cpu_s(self.pid)
            t0 = time.perf_counter()
            try:
                with tr.span("pass", f"pass{p}"):
                    results = exporter(spark, self.data_dir, out_dir,
                                       parquet_max_file_size=fx["roll_bytes"])
                    t1 = time.perf_counter()
                    with tr.span("exporter.validate_export"):
                        checks = validate_export(spark, out_dir, results)
            except Exception as e:  # counted, reported, and the loop goes on
                out.fail(f"export pass {p}: {type(e).__name__}: {e}")
                return
            t2 = time.perf_counter()
            if p >= 0:
                out.busy_s += t2 - t0
                out.cpu_s += tree_cpu_s(self.pid) - cpu0
                out.rows += sum(fx["rows"].values())
            for v in checks:
                if not v.ok:
                    out.fail(f"validate_export {v.table}: {v.issues}")
            got = {r.table: r.rows for r in results if not r.skipped}
            if got != fx["rows"]:
                out.fail(f"exported rows {got} != source rows {fx['rows']}")
            for r in results:
                names = sorted(os.listdir(r.target)) if r.target else []
                pattern = re.escape(r.table) + r"_\d+\.parquet"
                if not names or sorted(r.files) != names or not all(
                        re.fullmatch(pattern, n) for n in names):
                    out.fail(f"{r.table}: files {names} are not <table>_<n>.parquet")
            if counters and p >= 0 and out.failed == failed0:
                nbytes = sum(os.path.getsize(os.path.join(r.target, f))
                             for r in results for f in r.files)
                out.add("exporter.validate_s", t2 - t1)
                out.add("exporter.bytes_written", nbytes)
                out.add("exporter.files_written", sum(len(r.files) for r in results))
                out.add("exporter.stored_bytes_per_source_byte", nbytes / fx["bytes"])

        SparkParquetExporter.export_table = export_table
        try:
            # every pass is checked, the warm-up pass too
            self._passes(one_pass)
        finally:
            SparkParquetExporter.export_table = orig


def _settle(spark) -> None:
    """Outside the timed region, drop the previous execution's
    checkpoints and cached blocks, as bench.py does: left alone, their
    asynchronous cleanup lands inside later timings."""
    gc.collect()
    spark.catalog.clearCache()


class _Collected:
    """An already-collected result in the shape ``testing.compare`` reads."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf
