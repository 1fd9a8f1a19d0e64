"""The benchmark's own tests, at a tiny input size.

    python3 -m pytest perfbench/tests -q

The Spark-backed tests start the real benchmark (perfbench/run.py) on
a few thousand documents with a one-second measuring window; each
takes well under a minute. The others exercise the trace rollup and
the compare command on synthetic data.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
PERFBENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(PERFBENCH)
sys.path.insert(0, PERFBENCH)

import compare  # noqa: E402
import tracing  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    BENCH = json.load(_f)
TINY_DOCS = {"validate_gate": 2000, "prepare_corpus": 1000, "ingest_drain": 100}


def run_bench(tmp_path, workload: str, trace: int, *extra: str) -> dict:
    result = tmp_path / f"{workload}-{trace}.json"
    proc = subprocess.run(
        [sys.executable, os.path.join(PERFBENCH, "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--docs", str(TINY_DOCS[workload]),
         "--result", str(result), *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    return line


@pytest.mark.parametrize("workload", list(TINY_DOCS))
def test_every_end_to_end_metric_printed_with_unit(tmp_path, workload):
    line = run_bench(tmp_path, workload, 0)
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    assert {k: v["unit"] for k, v in line["metrics"].items()} == {
        m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert all(v["value"] > 0 for v in line["metrics"].values())


def test_planted_wrong_count_is_a_failed_operation(tmp_path):
    planted = tmp_path / "expected.json"
    planted.write_text(json.dumps({"validate_gate": {
        "seed": 3, "docs": TINY_DOCS["validate_gate"],
        "counts": {"n_docs": TINY_DOCS["validate_gate"], "gate_pass": True,
                   "n_violations": {"R-SPAN-KIND-ENUM": 1},
                   "violation_rows": {}}}}))
    line = run_bench(tmp_path, "validate_gate", 0, "--expected", str(planted))
    assert not line["correct"]
    assert line["failed"] == line["attempted"] >= 1


@pytest.mark.parametrize("workload", list(TINY_DOCS))
def test_traced_run_emits_every_per_layer_metric(tmp_path, workload):
    line = run_bench(tmp_path, workload, 1)
    assert line["correct"]
    assert {k: v["unit"] for k, v in line["metrics"].items()} == {
        m["name"]: m["unit"] for m in BENCH["per_layer"]}
    job = {"validate_gate": "jobs.validate.run",
           "prepare_corpus": "jobs.prepare_corpus.run",
           "ingest_drain": "streaming.validate_stream.run_ingest_dedup",
           }[workload]
    assert line["metrics"][f"{job}.wall_s"]["value"] > 0
    assert line["metrics"]["spark.jobs"]["value"] > 0
    # only the drains grow the persisted indexes
    assert (line["metrics"]["index.files"]["value"] > 0) == (
        workload == "ingest_drain")


def test_no_program_sources_exits_nonzero(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for name in ("run.py", "worker.py", "workloads.py", "tracing.py"):
        (tmp_path / "perfbench" / name).write_bytes(
            open(os.path.join(PERFBENCH, name), "rb").read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(BENCH))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "validate_gate",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_rollup_self_time_and_exclusive_jobs():
    calls = [
        {"id": 0, "name": "op", "op": 1, "parent": None, "group": "pb0",
         "wall_s": 10.0, "child_s": 6.0, "files": 5, "bytes": 50},
        {"id": 1, "name": "a", "op": 1, "parent": 0, "group": "pb1",
         "wall_s": 6.0, "child_s": 2.0, "files": 3, "bytes": 30},
        {"id": 2, "name": "b", "op": 1, "parent": 1, "group": "pb2",
         "wall_s": 2.0, "child_s": 0.0, "files": 0, "bytes": 0},
        # a call in an operation that is not rolled up
        {"id": 3, "name": "a", "op": 0, "parent": None, "group": "pb3",
         "wall_s": 99.0, "child_s": 0.0, "files": 0, "bytes": 0},
    ]
    groups = {"pb0": {"jobs": 1, "tasks": 4}, "pb1": {"jobs": 2, "tasks": 8},
              "pb2": {"jobs": 3, "tasks": 3}, "pb3": {"jobs": 50}}
    out = tracing.rollup(calls, groups, [1], ["a", "b", "c"])
    assert out["a"]["wall_s"] == 6.0 and out["a"]["self_s"] == 4.0
    assert out["a"]["jobs"] == 2 and out["b"]["jobs"] == 3
    assert out["c"]["wall_s"] == 0.0
    assert out["op"]["jobs"] == 6 and out["op"]["tasks"] == 15
    assert out["op"]["wall_s"] == 10.0 and out["op"]["files"] == 5


def test_event_log_rollup(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    plan = {"metrics": [], "children": [{"metrics": [
        {"name": "time to start Python workers", "accumulatorId": 7,
         "metricType": "nsTiming"},
        {"name": "data sent to Python workers", "accumulatorId": 8,
         "metricType": "size"}]}]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "pb4"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Accumulables": [{"ID": 7, "Update": "2000000000"},
                                        {"ID": 8, "Update": 100}]},
         "Task Metrics": {"Executor Run Time": 1500, "Memory Bytes Spilled": 3,
                          "Disk Bytes Spilled": 4,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 9}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 999}},
    ]
    (app / "events_1_local-1").write_text(
        "".join(json.dumps(e) + "\n" for e in events))
    (app / "appstatus_local-1").write_text("")
    g = tracing.read_event_log(str(tmp_path))
    assert set(g) == {"pb4"}
    assert g["pb4"] == {"jobs": 1, "tasks": 1, "task_s": 1.5,
                        "shuffle_bytes": 9, "spill_bytes": 7,
                        "py_bytes": 100, "py_boot_s": 2.0}


def _records(workload: str, setup_s: list[float]) -> list[dict]:
    return [{"context": {"workload": workload, "trace": 0},
             "attempted": 3, "failed": 0,
             "metrics": {"docs_per_s": {"value": 100.0},
                         "setup_s": {"value": v}}} for v in setup_s]


@pytest.mark.parametrize("before,after,want", [
    ([30, 31, 29, 30], [29, 30, 31, 30], "ok"),
    ([30, 31, 29, 30], [50, 51, 49, 50], "regressed"),
    # setup_s is held to its bound like every other metric
    ([30, 45, 18, 30], [28, 42, 15, 29], "unresolved"),
    ([30, 31, 29, 30], [20, 21, 19, 22], "improved"),
])
def test_compare_verdicts(before, after, want):
    bench = {"workloads": [{"name": "w"}], "end_to_end": [
        {"name": "docs_per_s", "better": "higher", "bound": 0.1},
        {"name": "setup_s", "better": "lower", "bound": 0.25}]}
    rows = compare.compare(_records("w", before), _records("w", after), bench)
    assert rows["w"]["setup_s"]["verdict"] == want
    assert rows["w"]["docs_per_s"]["verdict"] == "ok"
