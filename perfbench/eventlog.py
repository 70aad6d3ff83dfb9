"""Per-layer Spark metrics from a Spark event log.

The benchmark tags the jobs it times with the local property
``perfbench.phase=timed``; ``summarize`` keeps only those jobs' stages
and tasks.  Spark is configured to write one uncompressed, non-rolling
JSON-lines file (``spark.eventLog.compress=false``,
``spark.eventLog.rolling.enabled=false``).
"""

from __future__ import annotations

import json
import os
import statistics

PHASE_KEY = "perfbench.phase"


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def load(log_dir: str) -> list[dict]:
    """Events of the single application log under ``log_dir``."""
    (name,) = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    with open(os.path.join(log_dir, name)) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _python_ran(task: dict) -> bool:
    """True when the task ran the Python side of a MapInArrow (its
    'time to run Python workers' SQL metric was updated)."""
    return any(
        a.get("Name") == "time to run Python workers"
        for a in task["Task Info"].get("Accumulables", ())
    )


def _acc(task: dict, name: str) -> float:
    return sum(
        float(a["Update"])
        for a in task["Task Info"].get("Accumulables", ())
        if a.get("Name") == name and "Update" in a
    )


def summarize(events: list[dict], *, wall_s: float, cores: int, phase: str = "timed") -> dict:
    """Totals over the jobs tagged ``phase``.

    Returns counts (jobs, stages, tasks), executor run/CPU/GC seconds,
    shuffle/spill/input/output volumes, the heaviest stage's max/median
    task run time, core busy fraction over ``wall_s``, and the
    MapInArrow tasks' run time and Arrow bytes in and out.
    """
    job_stages: set[int] = set()
    n_jobs = 0
    for e in events:
        if e["Event"] == "SparkListenerJobStart" and (
            (e.get("Properties") or {}).get(PHASE_KEY) == phase
        ):
            n_jobs += 1
            job_stages.update(e["Stage IDs"])
    tasks = [
        e for e in events
        if e["Event"] == "SparkListenerTaskEnd"
        and e["Stage ID"] in job_stages
        and e.get("Task Metrics")
    ]
    by_stage: dict[int, list[float]] = {}
    tot = dict.fromkeys(
        ("run_ms", "cpu_ns", "gc_ms", "sw", "sr", "fw", "spm", "spd", "in", "out", "out_rec",
         "py_run_ms", "py_tasks_ms", "py_in", "py_out"),
        0.0,
    )
    for t in tasks:
        m = t["Task Metrics"]
        run = m["Executor Run Time"]
        by_stage.setdefault(t["Stage ID"], []).append(run)
        tot["run_ms"] += run
        tot["cpu_ns"] += m["Executor CPU Time"]
        tot["gc_ms"] += m["JVM GC Time"]
        sw = m.get("Shuffle Write Metrics", {})
        sr = m.get("Shuffle Read Metrics", {})
        tot["sw"] += sw.get("Shuffle Bytes Written", 0)
        tot["sr"] += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
        tot["fw"] += sr.get("Fetch Wait Time", 0)
        tot["spm"] += m.get("Memory Bytes Spilled", 0)
        tot["spd"] += m.get("Disk Bytes Spilled", 0)
        tot["in"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        tot["out"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
        tot["out_rec"] += m.get("Output Metrics", {}).get("Records Written", 0)
        if _python_ran(t):
            tot["py_tasks_ms"] += run
            tot["py_run_ms"] += _acc(t, "time to run Python workers")
            tot["py_in"] += _acc(t, "data sent to Python workers")
            tot["py_out"] += _acc(t, "data returned from Python workers")
    skew = 1.0
    if by_stage:
        heaviest = max(by_stage.values(), key=sum)
        skew = max(heaviest) / max(statistics.median(heaviest), 1.0)
    return {
        "jobs": n_jobs,
        "stages": len(by_stage),
        "tasks": len(tasks),
        "task_max_over_median": skew,
        "core_busy_frac": tot["run_ms"] / 1e3 / (wall_s * cores) if wall_s > 0 else 0.0,
        "run_s": tot["run_ms"] / 1e3,
        "cpu_s": tot["cpu_ns"] / 1e9,
        "gc_frac": tot["gc_ms"] / tot["run_ms"] if tot["run_ms"] else 0.0,
        "shuffle_write_mb": tot["sw"] / 1e6,
        "shuffle_read_mb": tot["sr"] / 1e6,
        "fetch_wait_s": tot["fw"] / 1e3,
        "spill_memory_mb": tot["spm"] / 1e6,
        "spill_disk_mb": tot["spd"] / 1e6,
        "input_mb": tot["in"] / 1e6,
        "output_mb": tot["out"] / 1e6,
        "output_records": tot["out_rec"],
        "mapinarrow_task_s": tot["py_tasks_ms"] / 1e3,
        "python_run_s": tot["py_run_ms"] / 1e3,
        "arrow_to_python_mb": tot["py_in"] / 1e6,
        "arrow_from_python_mb": tot["py_out"] / 1e6,
    }
