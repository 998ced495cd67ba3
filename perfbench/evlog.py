"""Read Spark's own event log (``spark.eventLog``) from outside the
program: streaming trigger phases, broadcast exchanges, jobs, stages,
shuffle bytes and observed metrics."""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

PHASES = (
    "latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
    "commitOffsets", "triggerExecution",
)


def events(log_dir: str) -> list[dict]:
    """All events of every application logged under ``log_dir``
    (plain or rolling ``eventlog_v2_*`` layout)."""
    out = []
    for p in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(p):  # rolling log: events_<n>_<app id>
            files = sorted(
                glob.glob(os.path.join(p, "events_*")),
                key=lambda f: int(os.path.basename(f).split("_")[1]),
            )
        else:
            files = [p]
        for f in files:
            with open(f, encoding="utf-8") as fh:
                out.extend(json.loads(line) for line in fh if line.strip())
    return out


def progress(evs: list[dict]) -> list[dict]:
    """Streaming progress reports, in batch order."""
    return [
        e["progress"] for e in evs
        if e["Event"].endswith("StreamingQueryListener$QueryProgressEvent")
    ]


def observed(report: dict, name: str) -> dict:
    """A named ``observe()`` row of a progress report, as a dict (the
    event log stores it as ``{"values": [...], "schema": {...}}``)."""
    row = (report.get("observedMetrics") or {}).get(name)
    if not row:
        return {}
    return {f["name"]: v for f, v in zip(row["schema"]["fields"], row["values"])}


def _walk(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


def broadcasts(evs: list[dict]) -> list[dict]:
    """One record per executed BroadcastExchange: SQL execution id,
    ``time to build`` (ms) and ``data size`` (bytes)."""
    acc_of = {}  # accumulator id -> (execution id, node serial, metric name)
    serial = 0
    for e in evs:
        if e["Event"].endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
            for node in _walk(e["sparkPlanInfo"]):
                if node["nodeName"] == "BroadcastExchange":
                    serial += 1
                    for m in node["metrics"]:
                        acc_of[m["accumulatorId"]] = (e["executionId"], serial, m["name"])
    values: dict[tuple, dict] = defaultdict(dict)
    for e in evs:
        if e["Event"].endswith("SparkListenerDriverAccumUpdates"):
            for acc, value in e["accumUpdates"]:
                if acc in acc_of:
                    ex, node, name = acc_of[acc]
                    values[(ex, node)][name] = value
    return [
        {"execution": ex, "build_ms": v.get("time to build", 0), "bytes": v.get("data size", 0)}
        for (ex, _), v in sorted(values.items())
        if "time to build" in v
    ]


def jobs_stages_shuffle(evs: list[dict], windows: list[tuple[float, float]]) -> tuple[int, int, int]:
    """Jobs submitted, stages completed and shuffle bytes written inside
    the given wall-clock windows (seconds)."""

    def inside(ms: float) -> bool:
        s = ms / 1000.0
        return any(a <= s <= b for a, b in windows)

    jobs = sum(1 for e in evs if e["Event"] == "SparkListenerJobStart" and inside(e["Submission Time"]))
    stages = sum(
        1 for e in evs
        if e["Event"] == "SparkListenerStageCompleted"
        and inside(e["Stage Info"].get("Completion Time", 0))
    )
    shuffle = 0
    for e in evs:
        if e["Event"] == "SparkListenerTaskEnd" and inside(e["Task Info"]["Finish Time"]):
            m = e.get("Task Metrics") or {}
            shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return jobs, stages, shuffle
