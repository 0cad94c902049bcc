"""Per-job-group totals from a Spark event log (uncompressed JSON lines).

Each benchmark query runs under its own ``setJobGroup``; this folds the
log's job, stage and task events into one :class:`GroupStats` per group.
Events the totals do not need are skipped by a prefix test before any
JSON parsing. Plans (the initial one and every adaptive re-plan) are read
only to find the accumulator ids of their ``BroadcastExchange`` nodes.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

_WANTED = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
    "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
)
_PREFIXES = tuple(f'{{"Event":"{e}"'.encode() for e in _WANTED)

PYTHON_RUN_METRIC = "time to run Python workers"  # ms, per stage


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_spans_ms: list[tuple[int, int]] = field(default_factory=list)
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    python_udf_ms: int = 0
    broadcast_bytes: int = 0

    def busy_ms(self, start_ms: float, end_ms: float) -> float:
        """Length of ``[start, end]`` covered by at least one running job."""
        spans = sorted(
            (max(s, start_ms), min(e, end_ms)) for s, e in self.job_spans_ms
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return covered


def log_files(path: str) -> list[str]:
    """``path`` itself if it is a file, else the numbered ``events_<n>_*``
    parts of the rolling ``eventlog_v2_*`` directories under it (Spark 4's
    default layout), in order."""
    if os.path.isfile(path):
        return [path]
    out = []
    for root, _dirs, files in os.walk(path):
        parts = [f for f in files if f.startswith("events_")]
        parts.sort(key=lambda f: int(f.split("_")[1]))
        out += [os.path.join(root, f) for f in parts]
    return out


def _broadcast_accums(plan: dict) -> set[int]:
    """Accumulator ids of the "data size" metric of every BroadcastExchange."""
    ids, stack = set(), [plan]
    while stack:
        node = stack.pop()
        if node.get("nodeName") == "BroadcastExchange":
            ids |= {m["accumulatorId"] for m in node.get("metrics", []) if m["name"] == "data size"}
        stack += node.get("children", [])
    return ids


def parse(path: str) -> dict[str, GroupStats]:
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}  # SQL execution id -> job group
    bcast_group: dict[int, str] = {}  # accumulator id -> job group
    for fname in log_files(path):
        with open(fname, "rb") as f:
            for raw in f:
                if not raw.startswith(_PREFIXES):
                    continue
                ev = json.loads(raw)
                kind = ev["Event"].rsplit(".", 1)[-1]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = g
                    job_start[jid] = ev["Submission Time"]
                    groups[g].jobs += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = g
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        groups[job_group[jid]].job_spans_ms.append(
                            (job_start[jid], ev["Completion Time"])
                        )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = stage_group.get(info["Stage ID"])
                    if g is None:
                        continue
                    groups[g].stages += 1
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") == PYTHON_RUN_METRIC:
                            groups[g].python_udf_ms += int(acc["Value"])
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    st = groups[g]
                    st.tasks += 1
                    m = ev.get("Task Metrics") or {}
                    st.executor_run_ms += m.get("Executor Run Time", 0)
                    st.executor_cpu_ns += m.get("Executor CPU Time", 0)
                    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    w = m.get("Shuffle Write Metrics") or {}
                    r = m.get("Shuffle Read Metrics") or {}
                    st.shuffle_write_bytes += w.get("Shuffle Bytes Written", 0)
                    st.shuffle_read_bytes += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
                    if ev.get("jobGroupId") is not None:
                        exec_group[ev["executionId"]] = ev["jobGroupId"]
                    g = exec_group.get(ev["executionId"])
                    if g is not None:
                        for acc in _broadcast_accums(ev.get("sparkPlanInfo") or {}):
                            bcast_group[acc] = g
                elif kind == "SparkListenerDriverAccumUpdates":
                    for acc, value in ev.get("accumUpdates", []):
                        if acc in bcast_group:
                            groups[bcast_group[acc]].broadcast_bytes += value
    return dict(groups)
