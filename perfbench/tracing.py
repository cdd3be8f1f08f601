"""Tracing for the benchmark's ``--trace 1`` runs.

Spans are recorded from the benchmark's own code, around the calls it
makes into each package module; a few package functions that are only
reached from inside other calls (``sources.tables.load_table``, the
parquet-directory catalog) are wrapped in place for the traced run and
restored afterwards.  Counts come from Spark's status stores
(:class:`SparkCounters`), read after each operation, outside its spans.
"""

from __future__ import annotations

import contextlib
import json
import sys
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None  # operation id shared by every span of one operation


class Tracer:
    """In-memory span recorder.  Disabled tracers record nothing and
    install no wrappers, so untraced runs pay one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.py4j_calls = 0
        self._stack: list[Span] = []
        self._undo: list = []
        self._count_py4j = False

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), 0.0,
                 parent.id if parent else None,
                 op if op is not None else (parent.op if parent else None))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def counting_py4j(self):
        """Count py4j round-trips made while the block runs."""
        self._count_py4j = True
        try:
            yield
        finally:
            self._count_py4j = False

    # -- wrappers -------------------------------------------------------
    def _wrap(self, owner, attr: str, span_name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*a, **k):
            with tracer.span(span_name):
                return orig(*a, **k)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self, spark) -> None:
        """Wrap the package boundaries that the benchmark does not call
        directly.  ``load_table`` is imported by name into each operator
        module, so every module global bound to it is rebound."""
        if not self.enabled:
            return
        from oracle_parquet_dumper_spark.catalog import ParquetDirectoryCatalog
        from oracle_parquet_dumper_spark.sources import tables

        orig_load = tables.load_table
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("oracle_parquet_dumper_spark")
                    and getattr(mod, "load_table", None) is orig_load):
                self._wrap(mod, "load_table", "sources.load_table")
        self._wrap(ParquetDirectoryCatalog, "list_tables", "catalog.list_tables")
        self._wrap(ParquetDirectoryCatalog, "read_table", "catalog.read_table")

        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        tracer = self

        def counted(*a, **k):
            if tracer._count_py4j:
                tracer.py4j_calls += 1
            return send(*a, **k)

        client.send_command = counted
        self._undo.append((client, "send_command", send))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- analysis -------------------------------------------------------
    def self_time(self, span: Span) -> float:
        """``span``'s duration minus the part its direct children cover."""
        covered = sum(c.end - c.start for c in self.spans if c.parent == span.id)
        return (span.end - span.start) - covered

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


STAGE_FIELDS = {
    # StageData accessor -> counter name
    "executorRunTime": "task_run_ms",
    "executorCpuTime": "task_cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputRecords": "input_records",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
}


class SparkCounters:
    """Deltas of Spark's status stores between two marks: SQL executions
    submitted before a wall-clock instant (count and time) from the SQL
    store, and jobs plus per-stage task metrics from the core store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.core = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.drain()
        self.mark = self._tops()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.jsc.listenerBus().waitUntilEmpty()

    def _tops(self) -> tuple[int, int, int]:
        tracker = self.sc.statusTracker()
        top_job = max(tracker.getJobIdsForGroup(None), default=-1)
        info = tracker.getJobInfo(top_job) if top_job >= 0 else None
        # stage ids are allocated in increasing order, so the newest
        # job holds the highest stage id allocated so far
        top_stage = max(info.stageIds, default=-1) if info else -1
        n = int(self.sql.executionsCount())
        top_exec = int(self.sql.executionsList(n - 1, 1).apply(0).executionId()) if n else -1
        return top_job, top_exec, top_stage

    def _executions_after(self, exec_id: int) -> list[tuple]:
        """(id, submitted epoch ms, completed epoch ms or None) of every
        SQL execution newer than ``exec_id``, oldest first."""
        out: list[tuple] = []
        hi = int(self.sql.executionsCount())
        while hi > 0:
            lo = max(0, hi - 16)
            batch = self.sql.executionsList(lo, hi - lo)
            rows = []
            for i in range(batch.size()):
                e = batch.apply(i)
                done = e.completionTime()
                rows.append((int(e.executionId()), int(e.submissionTime()),
                             int(done.get().getTime()) if done.isDefined() else None))
            out = rows + out
            if not rows or rows[0][0] <= exec_id:
                break
            hi = lo
        return [r for r in out if r[0] > exec_id]

    def take(self, split_epoch_ms: float = 0.0) -> dict:
        """Counters accumulated since the previous ``take`` (or
        construction); ``pre_*`` count the SQL executions submitted
        before ``split_epoch_ms``."""
        from py4j.protocol import Py4JJavaError

        self.drain()
        top_job, top_exec, top_stage = self.mark
        out = {k: 0 for k in set(STAGE_FIELDS.values())}
        out.update(jobs=0, stages=0, pre_executions=0, pre_exec_ms=0)
        execs = self._executions_after(top_exec)
        for _, sub, done in execs:
            if sub < split_epoch_ms:
                out["pre_executions"] += 1
                out["pre_exec_ms"] += (done - sub) if done is not None else 0
        tracker = self.sc.statusTracker()
        new_jobs = sorted(j for j in tracker.getJobIdsForGroup(None) if j > top_job)
        seen: set[int] = set()
        for j in new_jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            out["jobs"] += 1
            seen.update(s for s in info.stageIds if s > top_stage)
        for sid in sorted(seen):
            try:
                st = self.core.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage the store has already evicted
                continue
            if str(st.status()) != "COMPLETE":
                continue
            out["stages"] += 1
            for acc, key in STAGE_FIELDS.items():
                out[key] += int(getattr(st, acc)())
        self.mark = (
            max(new_jobs, default=top_job),
            max((e[0] for e in execs), default=top_exec),
            max(seen, default=top_stage),
        )
        return out

    def storage_bytes(self) -> int:
        """Memory plus disk bytes of every cached or checkpointed RDD."""
        return sum(int(r.memSize()) + int(r.diskSize()) for r in self.jsc.getRDDStorageInfo())
