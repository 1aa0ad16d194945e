"""Read a Spark event log (uncompressed, rolling or single-file) with stdlib json.

Produces, per job group: the jobs with their submit/end times, and task
metrics summed over every task those jobs ran (run, CPU and GC time,
shuffle read/write bytes, spill, peak execution memory). Produces, per SQL
execution: the operators of its *final* adaptive plan with their SQL
metrics, summed over tasks (plus driver-side updates).

Layout handled: ``<dir>/eventlog_v2_<app>/events_<n>_<app>`` (rolling, the
Spark 4 default) and ``<dir>/<app>`` (one file). Compressed logs are
refused: set ``spark.eventLog.compress=false``.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

TASK_FIELDS = (
    "tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "memory_spill_bytes", "peak_memory_bytes",
)


@dataclass
class Job:
    id: int
    group: str | None
    submit: float  # seconds since the epoch
    end: float | None = None
    stages: list[int] = field(default_factory=list)
    sql_id: int | None = None
    succeeded: bool | None = None


@dataclass
class Operator:
    sql_id: int
    name: str
    simple: str
    metrics: dict[str, float]  # metric name → value in s / bytes / count


def log_files(path: str) -> list[str]:
    """The event-log files under ``path`` (a log file, a rolling log
    directory, or the ``spark.eventLog.dir`` holding exactly one app)."""
    if os.path.isfile(path):
        return [path]
    names = os.listdir(path)
    events = [n for n in names if n.startswith("events_")]
    if events:
        def index(n: str) -> int:
            return int(n.split("_")[1])

        return [os.path.join(path, n) for n in sorted(events, key=index)]
    apps = [n for n in names if not n.startswith(".")]
    if len(apps) != 1:
        raise ValueError(f"expected one application log in {path}, found {apps}")
    return log_files(os.path.join(path, apps[0]))


def _read_events(path: str):
    for fname in log_files(path):
        if re.search(r"\.(zstd|lz4|snappy|lzf)$", fname):
            raise ValueError(f"{fname} is compressed; set spark.eventLog.compress=false")
        with open(fname, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _plan_metrics(info: dict, out: list[tuple[str, str, list[dict]]]) -> None:
    out.append((info.get("nodeName", ""), info.get("simpleString", ""), info.get("metrics", [])))
    for child in info.get("children", []):
        _plan_metrics(child, out)


_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


class EventLog:
    def __init__(self, path: str):
        self.jobs: dict[int, Job] = {}
        self.stage_job: dict[int, int] = {}
        self.task_totals: dict[str | None, dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(TASK_FIELDS, 0.0)
        )
        self._plans: dict[int, dict] = {}  # sql id → final plan info
        self._accum: dict[int, float] = defaultdict(float)  # accumulator id → sum
        for ev in _read_events(path):
            self._consume(ev)

    # -- event handling -----------------------------------------------------
    def _consume(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            sql_id = props.get("spark.sql.execution.id")
            job = Job(
                ev["Job ID"], props.get("spark.jobGroup.id"),
                ev["Submission Time"] / 1000.0, stages=list(ev.get("Stage IDs", [])),
                sql_id=int(sql_id) if sql_id is not None else None,
            )
            self.jobs[job.id] = job
            for s in job.stages:
                self.stage_job.setdefault(s, job.id)
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
                job.succeeded = ev.get("Job Result", {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerTaskEnd":
            self._task_end(ev)
        elif kind in (SQL_START, SQL_AQE):
            self._plans[ev["executionId"]] = ev["sparkPlanInfo"]
        elif kind == SQL_DRIVER_ACCUM:
            for acc_id, value in ev.get("accumUpdates", []):
                self._accum[acc_id] += value

    def _task_end(self, ev: dict) -> None:
        job_id = self.stage_job.get(ev["Stage ID"])
        group = self.jobs[job_id].group if job_id is not None else None
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            update = acc.get("Update")
            if isinstance(update, (int, float)):
                self._accum[acc["ID"]] += update
            elif isinstance(update, str) and update.lstrip("-").isdigit():
                self._accum[acc["ID"]] += int(update)
        m = ev.get("Task Metrics")
        if not m:
            return
        t = self.task_totals[group]
        t["tasks"] += 1
        t["run_s"] += m.get("Executor Run Time", 0) / 1e3
        t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sr = m.get("Shuffle Read Metrics") or {}
        t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        t["memory_spill_bytes"] += m.get("Memory Bytes Spilled", 0)
        t["peak_memory_bytes"] = max(t["peak_memory_bytes"], m.get("Peak Execution Memory", 0))

    # -- queries ------------------------------------------------------------
    def jobs_in(self, groups: set[str | None]) -> list[Job]:
        return [j for j in self.jobs.values() if j.group in groups]

    def task_metrics(self, groups: set[str | None]) -> dict[str, float]:
        out = dict.fromkeys(TASK_FIELDS, 0.0)
        for g in groups:
            t = self.task_totals.get(g)
            if t is None:
                continue
            for k in TASK_FIELDS:
                out[k] = max(out[k], t[k]) if k == "peak_memory_bytes" else out[k] + t[k]
        return out

    def operators(self) -> list[Operator]:
        """Every operator of every execution's final plan, with its SQL
        metrics converted to seconds (timing metrics) or left as counted."""
        out, seen = [], set()
        for sql_id, info in sorted(self._plans.items()):
            nodes: list[tuple[str, str, list[dict]]] = []
            _plan_metrics(info, nodes)
            for name, simple, metrics in nodes:
                # a cached plan shows up in every execution that scans it,
                # with the same accumulators: count it once
                ids = frozenset(m["accumulatorId"] for m in metrics)
                if ids and ids in seen:
                    continue
                seen.add(ids)
                values = {
                    m["name"]: self._accum.get(m["accumulatorId"], 0.0)
                    * _SCALE.get(m.get("metricType"), 1.0)
                    for m in metrics
                }
                out.append(Operator(sql_id, name, simple, values))
        return out
