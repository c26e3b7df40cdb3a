"""Pure-Python reader of Spark's JSON event log.

Jobs are attributed to benchmark operations by the job group the
benchmark set around each operation; stages and tasks follow their
job. SQL executions that write under the staging root give the
staging layer's write time; Python SQL metrics give the Arrow worker
layer.
"""

from __future__ import annotations

import json
import os
import statistics

# SQL metrics of the Python (Arrow) worker operators, in ms or bytes.
# Starting and initializing a worker both count as boot time.
PYTHON_METRICS = {
    "time to run python workers": "python.run_ms",
    "time to start python workers": "python.boot_ms",
    "time to initialize python workers": "python.boot_ms",
    "data sent to python workers": "python.bytes_sent",
    "data returned from python workers": "python.bytes_received",
}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _log_files(log_dir: str) -> list[str]:
    """Event files in write order: plain logs, or the ``events_<n>_*``
    parts of a rolling log directory."""
    out = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isdir(path):
            out.append(path)
            continue
        parts = [p for p in os.listdir(path) if p.startswith("events_")]
        parts.sort(key=lambda p: int(p.split("_")[1]))
        out += [os.path.join(path, p) for p in parts]
    return out


def read_events(log_dir: str):
    for path in _log_files(log_dir):
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def summarize(log_dir: str, groups: set[str], staging_root: str,
              window: tuple[float, float]) -> dict:
    """Totals over the jobs whose group is in ``groups``; staging
    writes are the SQL executions under ``staging_root`` that start
    inside ``window`` (epoch milliseconds)."""
    stage_group: dict[int, str] = {}
    sql_start: dict[int, tuple[float, bool]] = {}
    sql_metrics: dict[int, tuple[str, float]] = {}
    jobs = 0
    stages: dict[int, list[float]] = {}  # stage -> task durations (ms)
    t = {k: 0.0 for k in (
        "run_ms", "cpu_ns", "gc_ms", "input_bytes", "input_rows",
        "shuffle_write", "shuffle_read", "spill",
        "staging_write_ms", *set(PYTHON_METRICS.values()))}
    for ev in read_events(log_dir):
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g in groups:
                jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            if sid not in stage_group:
                continue
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            stages.setdefault(sid, []).append(
                _num(info.get("Finish Time")) - _num(info.get("Launch Time")))
            t["run_ms"] += _num(m.get("Executor Run Time"))
            t["cpu_ns"] += _num(m.get("Executor CPU Time"))
            t["gc_ms"] += _num(m.get("JVM GC Time"))
            t["spill"] += _num(m.get("Memory Bytes Spilled")) + _num(
                m.get("Disk Bytes Spilled"))
            inp = m.get("Input Metrics") or {}
            t["input_bytes"] += _num(inp.get("Bytes Read"))
            t["input_rows"] += _num(inp.get("Records Read"))
            sr = m.get("Shuffle Read Metrics") or {}
            t["shuffle_read"] += _num(sr.get("Remote Bytes Read")) + _num(
                sr.get("Local Bytes Read"))
            t["shuffle_write"] += _num(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info", {})
            if info.get("Stage ID") not in stage_group:
                continue
            # a SQL metric is one accumulator per plan node, shared by
            # the node's stages: keep its latest (cumulative) value
            for acc in info.get("Accumulables", []):
                name = str(acc.get("Name", "")).lower()
                if name in PYTHON_METRICS:
                    sql_metrics[acc.get("ID")] = (
                        PYTHON_METRICS[name], _num(acc.get("Value")))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            plan = ev.get("physicalPlanDescription", "") + ev.get("description", "")
            start = _num(ev.get("time"))
            writes = (staging_root in plan and "InsertIntoHadoopFsRelation" in plan
                      and window[0] <= start <= window[1])
            sql_start[ev.get("executionId")] = (start, writes)
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            start, writes = sql_start.pop(ev.get("executionId"), (0.0, False))
            if writes:
                t["staging_write_ms"] += _num(ev.get("time")) - start
    for key, value in sql_metrics.values():
        t[key] += value
    skews = [max(d) / statistics.median(d) for d in stages.values()
             if len(d) > 1 and statistics.median(d) > 0]
    return {
        "jobs": jobs,
        "stages": len(stages),
        "tasks": sum(len(d) for d in stages.values()),
        "skew": statistics.median(skews) if skews else 1.0,
        **t,
    }
