"""Per-layer metrics of a traced run: spans joined with Spark's event log.

Each span's Spark work is the jobs of its own job group plus those of its
descendants. Per-call metrics are medians over the calls of the run (an
epoch's ``step``, each ``add_keys`` or ``commit``); a layer this workload
never calls reports 0. ``functions.extract.*`` are run totals, read from the
SQL metrics of the ArrowEvalPython operators that evaluate ``extract_udf``.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from eventlog import EventLog
from spans import Span, covered, self_time

# spans whose wall time is reported as a per-call median, as <name>_s
CALLS = (
    "plans.crawler.init", "plans.crawler.start", "plans.crawler.resume",
    "plans.crawler.step", "plans.epoch.run_epoch", "operators.seen.add_keys",
    "operators.seen.filter_unseen", "operators.sequence.global_sequence",
    "sources.tableio.commit", "sources.tableio.read_table",
)
# spans whose Spark-side work (jobs, executor CPU, GC, shuffle, spill) is reported
SPARK_SIDE = ("plans.crawler.step", "operators.seen.add_keys", "sources.tableio.commit")


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def span_table(spans: list[Span], log: EventLog) -> list[dict]:
    """One row per span: wall, self time, and the Spark work it caused."""
    children: dict[int | None, list[Span]] = defaultdict(list)
    for s in spans:
        children[s.parent].append(s)

    def groups(s: Span) -> set[str]:
        out = {s.group}
        for c in children[s.id]:
            out |= groups(c)
        return out

    rows = []
    for s in spans:
        g = groups(s)
        jobs = log.jobs_in(g)
        busy = covered([(max(j.submit, s.start), min(j.end or s.end, s.end)) for j in jobs])
        rows.append({
            "id": s.id, "name": s.name, "parent": s.parent,
            "wall_s": s.duration,
            "self_s": self_time(s, children[s.id]),
            "children_s": sum(c.duration for c in children[s.id]),
            "jobs": len(jobs),
            "driver_s": s.duration - busy,
            **log.task_metrics(g),
            **s.attrs,
        })
    return rows


def per_layer(spans: list[Span], log: EventLog, res) -> dict[str, tuple[float, str]]:
    """The per-layer metrics named in BENCHMARK.json, as name → (value, unit)."""
    rows = span_table(spans, log)
    by_name: dict[str, list[dict]] = defaultdict(list)
    for r in rows:
        by_name[r["name"]].append(r)

    out: dict[str, tuple[float, str]] = {}
    setup = by_name["session.get_spark"][0]
    setup_end = setup["wall_s"] + spans[setup["id"]].start
    out["session.get_spark_s"] = (setup["wall_s"], "s")
    out["session.jobs"] = (
        float(sum(1 for j in log.jobs.values() if j.group is None and j.submit <= setup_end)),
        "count",
    )
    for name in CALLS:
        out[f"{name}_s"] = (_median([r["wall_s"] for r in by_name.get(name, [])]), "s")
    steps = by_name.get("plans.crawler.step", [])
    out["plans.crawler.step.self_s"] = (_median([r["self_s"] for r in steps]), "s")
    out["plans.crawler.step.driver_s"] = (_median([r["driver_s"] for r in steps]), "s")
    out["plans.crawler.steps"] = (float(len(steps)), "count")
    for name in SPARK_SIDE:
        calls = by_name.get(name, [])
        out[f"{name}.jobs"] = (_median([r["jobs"] for r in calls]), "count")
        out[f"{name}.executor_cpu_s"] = (_median([r["cpu_s"] for r in calls]), "s")
        out[f"{name}.gc_s"] = (_median([r["gc_s"] for r in calls]), "s")
        out[f"{name}.shuffle_bytes"] = (
            _median([r["shuffle_write_bytes"] for r in calls]), "B")
        out[f"{name}.spill_bytes"] = (_median([r["spill_bytes"] for r in calls]), "B")
    commits = by_name.get("sources.tableio.commit", [])
    out["sources.tableio.commit.bytes"] = (_median([r.get("bytes", 0) for r in commits]), "B")
    out["sources.tableio.store_bytes_per_url"] = (res.store_bytes_per_url, "B/URL")
    out["plans.crawler.resume_leg_s"] = (res.resume_s, "s")
    out["plans.crawler.urls_attempted"] = (float(res.urls_attempted), "count")
    out["operators.seen.fill"] = (res.bloom_fill, "ratio")
    out["operators.seen.bytes"] = (float(res.bloom_bytes), "B")

    worker_s, rows_out = extraction(log)
    out["functions.extract.python_worker_s"] = (worker_s, "s")
    out["functions.extract.rows"] = (rows_out, "count")
    return out


def extraction(log: EventLog) -> tuple[float, float]:
    """Python-worker time and rows of the extraction UDF, over the run."""
    worker_s = rows = 0.0
    for op in log.operators():
        if op.name == "ArrowEvalPython" and "extract_udf" in op.simple:
            worker_s += op.metrics.get("time to run Python workers", 0.0)
            rows += op.metrics.get("number of output rows", 0.0)
    return worker_s, rows
