"""Stage metrics from Spark's event log.

The benchmark switches the event log on for its traced pass, tags every
job with a job group, and reads the log back here after the session stops. Per job it sums task metrics and the
Python-UDF SQL metrics of the job's stages.
"""

from __future__ import annotations

import glob
import json
import os
import statistics


def _walk(node: dict, acc_names: dict) -> None:
    """Map the accumulator ids of every pandas-UDF plan node's metrics to
    their names."""
    if node.get("nodeName") == "ArrowEvalPython":
        for m in node.get("metrics", ()):
            acc_names[m["accumulatorId"]] = m["name"]
    for child in node.get("children", ()):
        _walk(child, acc_names)


def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path) and not os.path.basename(path).startswith((".", "appstatus")):
            with open(path) as f:
                for line in f:
                    yield json.loads(line)


def read_jobs(log_dir: str) -> list[dict]:
    """One dict per job: ``group``, and per stage the task run times plus
    summed CPU, GC, shuffle, spill and Python-UDF metrics."""
    events = list(_events(log_dir))
    acc_names: dict[int, str] = {}
    for e in events:
        if "sparkPlanInfo" in e:
            _walk(e["sparkPlanInfo"], acc_names)

    stages: dict[int, dict] = {}
    jobs: list[dict] = []
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs.append(
                {
                    "job": e["Job ID"],
                    "group": props.get("spark.jobGroup.id"),
                    "stages": e["Stage IDs"],
                }
            )
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(
                e["Stage ID"],
                {
                    "task_s": [],
                    "cpu_s": 0.0,
                    "gc_s": 0.0,
                    "shuffle_write_b": 0,
                    "shuffle_read_b": 0,
                    "spill_b": 0,
                    "py_in_b": 0,
                    "py_out_b": 0,
                    "py_rows": 0,
                },
            )
            tm = e.get("Task Metrics") or {}
            st["task_s"].append(tm.get("Executor Run Time", 0) / 1e3)
            st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            st["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sw = tm.get("Shuffle Write Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            st["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
            st["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["spill_b"] += tm.get("Disk Bytes Spilled", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", ()):
                name = acc_names.get(a.get("ID"))
                if name is None:
                    continue
                v = int(a.get("Update") or 0)
                if name == "data sent to Python workers":
                    st["py_in_b"] += v
                elif name == "data returned from Python workers":
                    st["py_out_b"] += v
                elif name == "number of output rows":
                    st["py_rows"] += v
    for j in jobs:
        j["stage_metrics"] = [stages[s] for s in j["stages"] if s in stages]
    return jobs


def group_totals(jobs: list[dict], group: str) -> dict:
    """Sums over every stage of every job in ``group``, plus the job count
    and the task count and max/median task time of the heaviest stage."""
    sel = [s for j in jobs if j["group"] == group for s in j["stage_metrics"]]
    out = {
        k: sum(s[k] for s in sel)
        for k in ("cpu_s", "gc_s", "shuffle_write_b", "shuffle_read_b", "spill_b",
                  "py_in_b", "py_out_b", "py_rows")
    }
    out["jobs"] = sum(1 for j in jobs if j["group"] == group)
    heavy = max(sel, key=lambda s: sum(s["task_s"]), default=None)
    out["tasks"] = len(heavy["task_s"]) if heavy else 0
    out["task_skew"] = skew(heavy["task_s"]) if heavy else 0.0
    return out


def skew(task_s: list[float]) -> float:
    med = statistics.median(task_s) if task_s else 0.0
    return max(task_s) / med if med > 0 else 1.0
