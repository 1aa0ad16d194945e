"""The benchmark end to end at tiny sizes: a 600-page crawl of each
workload untraced, and one traced run. Every metric BENCHMARK.json names
is printed with its unit, and no operation fails on a correct engine."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

import pytest

pytest.importorskip("pyspark")

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int) -> dict:
    # output to files, not pipes: a child that inherited a pipe would keep
    # it open, and waiting for the pipe's end would hide that the child lives on
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", "7", "--seconds", "1", "--trace", str(trace), "--pages", "600"],
            cwd=ROOT, stdout=out, stderr=err, timeout=600,
        )
        assert not _left_running(), "the run left processes running"
        out.seek(0), err.seek(0)
        assert p.returncode == 0, err.read()[-4000:]
        return json.loads(out.read().strip().splitlines()[-1])


def _left_running() -> list[int]:
    """Processes that still carry the run's Spark scratch dir in their
    environment: the driver JVM and its Python workers inherit it."""
    mark = ("SPARK_LOCAL_DIRS=" + os.path.join(BENCH, "_work", "spark-local")).encode()
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/environ", "rb") as f:
                    if mark in f.read().split(b"\0"):
                        out.append(int(d))
            except OSError:
                continue
    return out


def _check(out: dict, names: list[dict]) -> None:
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in names
    }
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_untraced_run_prints_every_end_to_end_metric(workload):
    out = _run(workload, 0)
    _check(out, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    out = _run("crawl_durable", 1)
    _check(out, SPEC["per_layer"])
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["plans.crawler.steps"] >= 1 and m["plans.crawler.step.jobs"] > 0
    assert m["sources.tableio.commit_s"] > 0 and m["functions.extract.rows"] > 0
    with open(os.path.join(BENCH, "_out", "trace-crawl_durable-s7.json")) as f:
        trace = json.load(f)
    # the step's children plus its self time account for its wall time
    for row in trace["span_table"]:
        if row["name"] == "plans.crawler.step":
            assert row["self_s"] + row["children_s"] == pytest.approx(row["wall_s"], rel=1e-6)
