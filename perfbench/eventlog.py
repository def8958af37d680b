"""Reduce a Spark event log to per-job-group layer metrics.

The traced benchmark run attaches Spark's own event-log listener and
sets a job group named after every call it makes, so each job, stage
and task in the log belongs to one call. This module sums the log per
job group; the benchmark then rolls groups up per module family.

As a command it answers "where did query X's wall time go":

    python3 perfbench/eventlog.py LOG_FILE... [--group GROUP]

prints one line per job group (or, given GROUP, that group's totals and
its stages, slowest first).
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict

METRICS = (
    "jobs",
    "stages",
    "tasks",
    "sched_delay_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "python_mb",
    "aqe_replans",
    "result_mb",
    "failed_tasks",
)

_PYTHON_ACCUMS = ("data sent to Python workers", "data returned from Python workers")
_MB = 1e6


def _events(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                yield json.loads(line)


def _operators(stage_info: dict) -> str:
    """The physical operators a stage ran, from its RDDs' scopes."""
    names = []
    for rdd in stage_info.get("RDD Info", ()):
        if rdd.get("Scope"):
            name = json.loads(rdd["Scope"])["name"]
            if name not in names:
                names.append(name)
    return ", ".join(names) or stage_info["Stage Name"]


def reduce(paths: list[str]) -> tuple[dict[str, dict[str, float]], dict[int, dict]]:
    """Return ``({group: {metric: value}}, {stage_id: stage record})``
    summed over the logs in ``paths`` (one application's logs, so job
    and stage ids are unique across them).

    Jobs without a job group fall under ``""``.
    """
    groups: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(METRICS, 0.0))
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    stages: dict[int, dict] = {}
    replans: dict[int, int] = defaultdict(int)
    for e in _events(paths):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            groups[group]["jobs"] += 1
            for sid in e["Stage IDs"]:
                stage_group[sid] = group
            if "spark.sql.execution.id" in props:
                exec_group[int(props["spark.sql.execution.id"])] = group
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            group = stage_group.get(info["Stage ID"], "")
            groups[group]["stages"] += 1
            stages[info["Stage ID"]] = {
                "group": group,
                "name": _operators(info),
                "tasks": info["Number of Tasks"],
                "wall_s": (info.get("Completion Time", 0) - info.get("Submission Time", 0)) / 1e3,
            }
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(e["Stage ID"], "")]
            g["tasks"] += 1
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            if e["Task End Reason"]["Reason"] != "Success":
                g["failed_tasks"] += 1
            if not m:
                continue
            duration = info["Finish Time"] - info["Launch Time"]
            busy = (
                m["Executor Run Time"]
                + m["Executor Deserialize Time"]
                + m["Result Serialization Time"]
                + info.get("Getting Result Time", 0)
            )
            g["sched_delay_s"] += max(0, duration - busy) / 1e3
            g["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
            g["gc_s"] += m["JVM GC Time"] / 1e3
            r = m["Shuffle Read Metrics"]
            g["shuffle_read_mb"] += (r["Remote Bytes Read"] + r["Local Bytes Read"]) / _MB
            g["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / _MB
            g["spill_mb"] += m["Disk Bytes Spilled"] / _MB
            g["result_mb"] += m["Result Size"] / _MB
            g["python_mb"] += sum(
                int(a.get("Update") or 0)
                for a in info.get("Accumulables", ())
                if a.get("Name") in _PYTHON_ACCUMS
            ) / _MB
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            replans[e["executionId"]] += 1
    for exec_id, n in replans.items():
        if exec_id in exec_group:
            groups[exec_group[exec_id]]["aqe_replans"] += n
    return dict(groups), stages


def _main(argv: list[str]) -> int:
    want = None
    if "--group" in argv:
        i = argv.index("--group")
        want = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    groups, stages = reduce(argv)
    if want is None:
        print("group", *METRICS, sep="\t")
        for name, g in sorted(groups.items(), key=lambda kv: -kv[1]["executor_cpu_s"]):
            print(name or "-", *(f"{g[k]:.3f}" for k in METRICS), sep="\t")
        return 0
    if want not in groups:
        print(f"no job group {want!r}; groups: {sorted(groups)}", file=sys.stderr)
        return 1
    g = groups[want]
    print(" ".join(f"{k}={g[k]:.3f}" for k in METRICS))
    mine = sorted((s for s in stages.values() if s["group"] == want), key=lambda s: -s["wall_s"])
    for s in mine:
        print(f"{s['wall_s']:8.3f}s  {s['tasks']:4d} tasks  {s['name']}")
    return 0


if __name__ == "__main__":
    raise SystemExit(_main(sys.argv[1:]))
