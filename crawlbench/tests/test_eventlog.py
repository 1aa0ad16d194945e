"""The event-log reader and the span arithmetic, on a tiny recorded log
(two job groups: a shuffle aggregate, a pandas-UDF select; then jobs with
no group) and on synthetic span trees."""

from __future__ import annotations

import os

import pytest

from eventlog import EventLog, log_files
from layers import span_table
from spans import Span, Tracer, covered, self_time

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog")


@pytest.fixture(scope="module")
def log():
    return EventLog(LOG)


def test_rolling_files_are_read_in_index_order():
    files = [os.path.basename(f) for f in log_files(LOG)]
    assert files == ["events_1_local-tiny", "events_2_local-tiny"]


def test_jobs_carry_their_group_and_interval(log):
    groups = [j.group for j in sorted(log.jobs.values(), key=lambda j: j.id)]
    assert groups == ["span-0", "span-0", "span-1", "span-1", None, None]
    assert all(j.end >= j.submit and j.succeeded for j in log.jobs.values())
    assert {j.sql_id for j in log.jobs_in({"span-1"})} == {1}


def test_task_metrics_are_summed_per_group(log):
    agg = log.task_metrics({"span-0"})
    assert agg["tasks"] == 3
    assert agg["shuffle_write_bytes"] == 364 == agg["shuffle_read_bytes"]
    assert 0 < agg["cpu_s"] < agg["run_s"]
    assert agg["peak_memory_bytes"] == 8650736
    both = log.task_metrics({"span-0", "span-1"})
    assert both["tasks"] == 6
    assert both["shuffle_write_bytes"] == 364 + 118


def test_operator_metrics_come_from_the_final_plan(log):
    ops = log.operators()
    udf = [o for o in ops if o.name == "ArrowEvalPython"]
    assert len(udf) == 1 and "plus_one" in udf[0].simple
    assert udf[0].metrics["number of output rows"] == 100
    assert udf[0].metrics["time to run Python workers"] == pytest.approx(4.731)
    ranges = sorted(o.metrics["number of output rows"] for o in ops if o.name == "Range")
    assert ranges == [10, 100, 1000]
    # the adaptive plan of execution 0 reads the shuffle through AQEShuffleRead
    assert any(o.sql_id == 0 and o.name == "AQEShuffleRead" for o in ops)


def test_covered_is_the_union_of_intervals():
    assert covered([]) == 0
    assert covered([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert covered([(0, 10), (2, 3)]) == pytest.approx(10)
    assert covered([(3, 3), (4, 2)]) == 0


def _tree():
    # root [0, 10] with children [1, 4] and [3, 6] (overlapping) and [8, 9];
    # the first child has a grandchild [1, 2]
    spans = [Span(0, "root", None, 0.0, 10.0), Span(1, "a", 0, 1.0, 4.0),
             Span(2, "a.x", 1, 1.0, 2.0), Span(3, "b", 0, 3.0, 6.0),
             Span(4, "c", 0, 8.0, 9.0)]
    return spans


def test_self_time_subtracts_the_children_union_only():
    s = _tree()
    assert self_time(s[0], [s[1], s[3], s[4]]) == pytest.approx(10 - 6)
    assert self_time(s[1], [s[2]]) == pytest.approx(2)
    assert self_time(s[4], []) == pytest.approx(1)


def test_span_table_attributes_descendant_jobs(log):
    """Spans named after the recorded log's groups: span 0 ran the
    aggregate's jobs, span 1 (its child) the UDF's; span 0 counts both."""
    j = {jb.id: jb for jb in log.jobs.values()}
    t0, t1 = j[0].submit - 1, j[3].end + 1
    spans = [Span(0, "outer", None, t0, t1), Span(1, "inner", 0, j[2].submit, j[3].end)]
    rows = {r["name"]: r for r in span_table(spans, log)}
    assert rows["outer"]["jobs"] == 4 and rows["inner"]["jobs"] == 2
    assert rows["outer"]["tasks"] == 6
    assert rows["outer"]["self_s"] + rows["outer"]["children_s"] == pytest.approx(
        rows["outer"]["wall_s"])
    busy = covered([(jb.submit, jb.end) for jb in j.values() if jb.id < 4])
    assert rows["outer"]["driver_s"] == pytest.approx(t1 - t0 - busy)


def test_tracer_nests_spans_and_restores_the_job_group():
    class FakeSC:
        def __init__(self):
            self.props = {"spark.jobGroup.id": "outer-group"}

        def getLocalProperty(self, k):
            return self.props.get(k)

        def setLocalProperty(self, k, v):
            if v is None:
                self.props.pop(k, None)
            else:
                self.props[k] = v

        def setJobGroup(self, g, desc):
            self.props["spark.jobGroup.id"] = g
            self.props["spark.job.description"] = desc

    sc = FakeSC()
    t = Tracer(sc)
    with t.span("a") as a:
        assert sc.props["spark.jobGroup.id"] == a.group
        with t.span("b") as b:
            assert sc.props["spark.jobGroup.id"] == b.group
        assert sc.props["spark.jobGroup.id"] == a.group
    assert sc.props == {"spark.jobGroup.id": "outer-group"}
    assert [(s.name, s.parent) for s in t.spans] == [("a", None), ("b", 0)]
    assert {r["run"] for r in t.to_records()} == {t.run_id}
