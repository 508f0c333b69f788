"""Reduce Spark's built-in event log to per-phase stage numbers.

Traced runs start the session with ``spark.eventLog.enabled`` and tag
each phase's jobs with ``setJobGroup``. After ``spark.stop()`` the log
is complete; :func:`reduce_event_log` groups task metrics by the job
group of the job that ran each stage.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

#: stats reported per phase, in output order
STATS = (
    "tasks", "run_s", "cpu_s", "gc_s", "task_p50_s", "task_max_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "peak_exec_mem_bytes", "input_bytes", "python_tasks",
)


def session_conf(log_dir: Path) -> dict[str, str]:
    """Extra session conf for a traced run: one plain JSON-lines file
    (no rolling, no compression; the zstd codec is not importable here)."""

    log_dir.mkdir(parents=True, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.resolve().as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _is_python_stage(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        scope = json.loads(rdd.get("Scope") or "{}").get("name", "")
        if "Python" in scope or "Pandas" in scope or "Arrow" in scope:
            return True
    return False


def read_tasks(log_dir: Path) -> list[dict]:
    """One record per finished task: its job group, whether its stage
    ran a Python operator, and its metrics."""

    group_of_stage: dict[int, str] = {}
    python_stage: dict[int, bool] = {}
    tasks: list[tuple[int, dict]] = []
    for path in sorted(p for p in log_dir.iterdir() if p.is_file() and not p.name.startswith(".")):
        with open(path) as fh:
            for line in fh:
                event = json.loads(line)
                kind = event["Event"]
                if kind == "SparkListenerJobStart":
                    group = (event.get("Properties") or {}).get("spark.jobGroup.id", "")
                    for sid in event["Stage IDs"]:
                        group_of_stage[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    info = event["Stage Info"]
                    python_stage[info["Stage ID"]] = _is_python_stage(info)
                elif kind == "SparkListenerTaskEnd" and event.get("Task Metrics"):
                    tasks.append((event["Stage ID"], event["Task Metrics"]))
    return [
        {"group": group_of_stage.get(sid, ""), "python": python_stage.get(sid, False), "m": m}
        for sid, m in tasks
    ]


def summarize(tasks: list[dict]) -> dict[str, float]:
    runs = [t["m"]["Executor Run Time"] / 1000.0 for t in tasks]
    out = dict.fromkeys(STATS, 0.0)
    if not tasks:
        return out
    for t in tasks:
        m = t["m"]
        shuffle_read = m.get("Shuffle Read Metrics", {})
        out["cpu_s"] += m["Executor CPU Time"] / 1e9
        out["gc_s"] += m["JVM GC Time"] / 1000.0
        out["shuffle_read_bytes"] += shuffle_read.get("Remote Bytes Read", 0) + shuffle_read.get(
            "Local Bytes Read", 0)
        out["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        out["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
        out["peak_exec_mem_bytes"] = max(out["peak_exec_mem_bytes"], m["Peak Execution Memory"])
        out["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        out["python_tasks"] += 1 if t["python"] else 0
    out["tasks"] = len(tasks)
    out["run_s"] = sum(runs)
    out["task_p50_s"] = statistics.median(runs)
    out["task_max_s"] = max(runs)
    return out
