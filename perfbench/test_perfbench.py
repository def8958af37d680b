"""Smoke tests for the benchmark itself.

    python3 -m pytest perfbench -q

The end-to-end cases run every workload once for one second at the
benchmark's own scale (sf 0.001) and take several minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import eventlog  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_query_resolves_with_an_oracle_and_a_family():
    from mathorcup_spark import registry

    fns, oracles = registry.queries(), registry.oracles()
    for names in workloads.BATCH.values():
        for name in names:
            assert name in fns, name
            assert name in oracles, name
            assert name in workloads.FAMILY, name


def test_benchmark_json_names_the_gated_workloads_and_metrics():
    bench = _benchmark_json()
    assert [w["name"] for w in bench["workloads"]] == list(workloads.GATED)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER


def test_datagen_is_deterministic():
    a, b = datagen.tables(0.001, 7), datagen.tables(0.001, 7)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(datagen.tables(0.001, 8)["lineitem"])


def test_eventlog_reduce_sums_per_job_group(tmp_path):
    task = {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": 0,
        "Task End Reason": {"Reason": "Success"},
        "Task Info": {
            "Launch Time": 1000,
            "Finish Time": 1500,
            "Getting Result Time": 0,
            "Accumulables": [{"Name": "data sent to Python workers", "Update": "2000000"}],
        },
        "Task Metrics": {
            "Executor Run Time": 300,
            "Executor Deserialize Time": 100,
            "Result Serialization Time": 0,
            "Executor CPU Time": 250_000_000,
            "JVM GC Time": 20,
            "Result Size": 1_000_000,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 3_000_000},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 4_000_000},
        },
    }
    events = [
        {
            "Event": "SparkListenerJobStart",
            "Stage IDs": [0],
            "Properties": {"spark.jobGroup.id": "q", "spark.sql.execution.id": "5"},
        },
        task,
        task,
        {
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {
                "Stage ID": 0,
                "Stage Name": "count",
                "Number of Tasks": 2,
                "Submission Time": 1000,
                "Completion Time": 1600,
            },
        },
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 5},
    ]
    log = tmp_path / "app"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    groups, stages = eventlog.reduce([str(log)])
    g = groups["q"]
    assert (g["jobs"], g["stages"], g["tasks"], g["aqe_replans"]) == (1, 1, 2, 1)
    assert g["executor_cpu_s"] == pytest.approx(0.5)
    assert g["sched_delay_s"] == pytest.approx(0.2)
    assert g["shuffle_read_mb"] == pytest.approx(6.0)
    assert g["shuffle_write_mb"] == pytest.approx(8.0)
    assert g["python_mb"] == pytest.approx(4.0)
    assert g["result_mb"] == pytest.approx(2.0)
    assert stages[0]["wall_s"] == pytest.approx(0.6)


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "workload,trace",
    [(w, t) for w in workloads.WORKLOADS for t in ((0, 1) if w in workloads.GATED else (1,))],
)
def test_workload_runs_correct_and_prints_exactly_the_benchmark_metrics(workload, trace):
    key = ("end_to_end", "per_layer")[trace]
    res = _run(workload, trace)
    assert res["correct"] and res["failed"] == 0, res
    assert res["attempted"] >= 1
    assert list(res["metrics"]) == [m["name"] for m in _benchmark_json()[key]]
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values()), res


def test_fails_without_the_engine(tmp_path):
    os.mkdir(tmp_path / "perfbench")
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            with open(os.path.join(HERE, name)) as src:
                (tmp_path / "perfbench" / name).write_text(src.read())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "olap_short", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout == ""
