"""Spark event-log totals per job group.

The traced run enables ``spark.eventLog`` (uncompressed, not rolled) and
sets a job group around each layer; this module reads the JSON-lines log
and attributes every finished task to the job group of its stage.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from typing import Dict, List

PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_SENT = "data sent to Python workers"


def _tasks_by_group(path: str) -> Dict[str, Dict[int, List[dict]]]:
    """job group -> stage id -> list of finished-task records."""
    stage_group: Dict[int, str] = {}
    out: Dict[str, Dict[int, List[dict]]] = defaultdict(lambda: defaultdict(list))
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in e["Stage IDs"]:
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(e["Stage ID"])
                if group is None or "Task Metrics" not in e:
                    continue
                m = e["Task Metrics"]
                acc = {a["Name"]: a.get("Update", 0)
                       for a in e["Task Info"].get("Accumulables", [])}
                out[group][e["Stage ID"]].append({
                    "run_ms": m["Executor Run Time"],
                    "shuffle_write": m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                    "spill": m["Disk Bytes Spilled"],
                    "py_run_ms": int(acc.get(PY_RUN, 0) or 0),
                    "py_boot_ms": int(acc.get(PY_BOOT, 0) or 0),
                    "py_sent": int(acc.get(PY_SENT, 0) or 0),
                })
    return out


def group_totals(path: str) -> Dict[str, dict]:
    """Per job group: shuffle bytes written, bytes spilled to disk, task seconds,
    task skew (max / median task time in the stage with the most task
    time) and the Python-worker run time, start time and bytes sent."""
    totals = {}
    for group, stages in _tasks_by_group(path).items():
        tasks = [t for ts in stages.values() for t in ts]
        largest = max(stages.values(), key=lambda ts: sum(t["run_ms"] for t in ts))
        times = [t["run_ms"] for t in largest]
        median = statistics.median(times)
        totals[group] = {
            "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "spark.spill_bytes": sum(t["spill"] for t in tasks),
            "spark.task_s": sum(t["run_ms"] for t in tasks) / 1e3,
            "spark.task_skew": max(times) / median if median > 0 else 1.0,
            "python.run_s": sum(t["py_run_ms"] for t in tasks) / 1e3,
            "python.boot_s": sum(t["py_boot_ms"] for t in tasks) / 1e3,
            "python.bytes_sent": sum(t["py_sent"] for t in tasks),
        }
    return totals


def only_log(log_dir: str) -> str:
    """The single application log the traced session wrote into ``log_dir``."""
    logs = [os.path.join(log_dir, n) for n in os.listdir(log_dir)
            if not n.startswith(".") and not n.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return logs[0]
