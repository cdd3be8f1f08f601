"""Self-tests of the benchmark.  Most run Spark and take a few minutes:

    python -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The smoke runs use ``--scale smoke`` (the same workloads on a tenth of
the data) and ``--seconds 1`` (one pass).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import datagen, run, workloads  # noqa: E402

# Spans each workload must write: one per layer it passes through.
SETUP_SPANS = {"setup", "session.get_spark", "sources.warm_scan"}
QUERY_SPANS = SETUP_SPANS | {"op", "plans.build", "operators.sink", "sources.load_table"}
EXPECTED_SPANS = {
    "queries_sf0.01": QUERY_SPANS,
    "olap_sf0.01": QUERY_SPANS,
    "llm_pipeline_sf0.01": QUERY_SPANS,
    "export_sf0.1": SETUP_SPANS | {
        "op", "pass", "exporter.export_table", "exporter.validate_export",
        "catalog.list_tables", "catalog.read_table",
    },
}


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_emits_every_metric(workload, trace):
    p = _run(workload, trace)
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    units = run.LAYER_UNITS if trace else run.E2E_UNITS
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in values.values()), values
        return
    assert values["trace.op_self_share"] < 0.05
    spans = [json.loads(line) for line in open(
        os.path.join(ROOT, ".perfbench", "trace", f"{workload}-seed7.jsonl"))]
    assert EXPECTED_SPANS[workload] <= {s["name"] for s in spans}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        # an "op" span starts an operation; every span below it shares its id
        if s["parent"] is not None and s["name"] != "op":
            assert s["op"] == by_id[s["parent"]]["op"]
        assert s["end"] >= s["start"]
    ops = {s["op"] for s in spans if s["name"] == "op"}
    assert ops and all(op is not None for op in ops)


def test_failed_operations_are_counted(monkeypatch, capsys):
    """An operation that raises and one whose output disagrees with its
    oracle are both counted, and the run exits non-zero."""
    real = workloads.query_ops

    def ops(workload):
        name, fn, oracle = next(o for o in real(workload) if o[0] == "q6_forecast_revenue")

        def raises(spark, sf_dir):
            raise RuntimeError("injected failure")

        def wrong(spark, sf_dir):
            return fn(spark, sf_dir).limit(0)

        return [(name, fn, oracle), ("injected_raise", raises, oracle),
                ("injected_wrong", wrong, oracle)]

    monkeypatch.setattr(workloads, "query_ops", ops)
    code = run.main(["--workload", "olap_sf0.01", "--seed", "1", "--seconds", "1",
                     "--scale", "smoke"])
    lines = capsys.readouterr().out.strip().splitlines()
    result = json.loads(lines[-1])
    assert code == 1 and result["correct"] is False
    # each injected op fails its check once and is then left out; q6 runs
    # its check and then timed passes
    assert result["failed"] == 2 and result["attempted"] >= 4
    ratio = f"{2 / result['attempted']:.6g}"
    assert any(line.split()[:2] == ["failed_ratio", ratio] for line in lines), lines


def test_without_the_program_exits_nonzero(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "olap_sf0.01", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_generated_fixture_matches_the_recorded_profile(tmp_path):
    """datagen at sf0.01 has the stored types, row counts, row groups and
    column statistics recorded from the test suite's sf0.01 fixture."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    want = json.load(open(datagen.PROFILE_PATH))
    datagen.write_fixture(str(tmp_path), 0.01)
    assert datagen.compare_profile(datagen.profile(str(tmp_path)), want) == []

    # the comparison sees a change of stored timestamp unit
    path = tmp_path / "events.parquet"
    t = pq.read_table(path)
    i = t.schema.get_field_index("ts")
    pq.write_table(t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("ns"))), path,
                   row_group_size=t.num_rows)
    diffs = datagen.compare_profile(datagen.profile(str(tmp_path)), want)
    assert any(d.startswith("events.schema") for d in diffs), diffs
