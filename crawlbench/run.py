"""Crawl-engine benchmark: one fresh driver process runs one workload.

    python3 crawlbench/run.py --workload crawl_durable --seed 1 --seconds 10 --trace 0

Run from the repository root. Setup (process start until ``get_spark``
returns, at ``local[<cpus>]`` with the engine's default session config) is
timed, then the generated inputs are built or loaded from the cache, then
the workload runs for ``--seconds`` (at least one operation), then every
output is checked against the pure-Python oracle, then every process the
run started (the Spark JVM, its Python workers) is stopped and waited for,
whichever way the run ends. The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` (operations are
epochs and resumes) and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. A traced run also writes its span
table, per-layer metrics and its own end-to-end figures to
``crawlbench/_out/trace-<workload>-s<seed>.json``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
OUT = os.path.join(HERE, "_out")


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--pages", type=int, default=None,
                   help="corpus size (default: the workload's)")
    return p.parse_args(argv)


def prepare_env() -> None:
    """Keep Spark's and Python's scratch files inside the benchmark's own
    directory, and let the Python workers import the engine."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(WORK, d))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
    )


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so Python
    workers that outlive their parent are re-parented here, not to init."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # the fields after the parenthesised command: state, ppid, ...
            if int(stat.rsplit(")", 1)[1].split()[1]) == me:
                out.append(int(d))
    return out


def stop_processes(grace_s: float = 20.0) -> None:
    """Stop every process the run started and wait until each has ended:
    the Spark JVM (it exits when its stdin closes), then any child left,
    with SIGTERM and after ``grace_s`` SIGKILL, reaping each."""
    import signal
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + grace_s
    while kids := _children():
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in kids:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        time.sleep(0.1)
        for pid in kids:
            with contextlib.suppress(ChildProcessError):
                os.waitpid(pid, os.WNOHANG)


def steal_s() -> float:
    """CPU seconds the host has taken from this machine's virtual CPUs, all
    CPUs together (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    try:
        import nlnieuwscrawler_spark  # noqa: F401
    except ImportError as e:
        print(f"crawlbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    adopt_orphans()
    try:
        result = run(args)
    finally:
        stop_processes()
    print(json.dumps(result))
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


def run(args) -> dict:
    """Set up, run the workload, check it; returns the result line."""
    prepare_env()
    import spans
    import workloads

    tracer = spans.Tracer() if args.trace else None
    conf = None
    if tracer:
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
            # the standard library cannot read the default zstd codec
            "spark.eventLog.compress": "false",
        }
    from nlnieuwscrawler_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    with tracer.span("session.get_spark") if tracer else contextlib.nullcontext():
        spark = get_spark(f"crawlbench-{args.workload}", master=f"local[{cpus}]",
                          extra_conf=conf)
    setup_s = time.perf_counter() - T0

    undo = None
    if tracer:
        tracer.sc = spark.sparkContext
        undo = spans.instrument(tracer)
    t_work, steal0 = time.perf_counter(), steal_s()
    try:
        res = workloads.WORKLOADS[args.workload](
            spark, args.seed, args.seconds, args.pages, WORK
        )
        peak_rss_mb = jvm_peak_rss_mb(spark) if tracer else None
    finally:
        if undo:
            undo()
        spark.stop()

    print(f"crawlbench: setup {setup_s:.1f}s, inputs+crawl+checks "
          f"{time.perf_counter() - t_work:.1f}s, CPU time stolen by the host "
          f"{steal_s() - steal0:.1f}s", file=sys.stderr)
    epochs = [op for op in res.ops if op.epoch]
    e2e = {
        "setup_s": (setup_s, "s"),
        "crawl_cpu_ms_per_url": (res.crawl_cpu_ms_per_url, "ms/URL"),
        "epoch_cpu_s_p50": (_median([op.cpu_s for op in epochs]), "s"),
    }
    failed = sum(1 for op in res.ops if not op.ok)
    metrics = e2e
    if tracer:
        import layers
        from eventlog import EventLog

        log = EventLog(os.path.join(WORK, "eventlog"))
        metrics = layers.per_layer(tracer.spans, log, res)
        metrics["driver.peak_rss_mb"] = (peak_rss_mb, "MB")
        # wall-clock figures: they follow the host's load, see README.md
        metrics["crawl_urls_per_s"] = (res.crawl_urls_per_s, "URL/s")
        metrics["epoch_s_p50"] = (_median([op.seconds for op in epochs]), "s")
        stem = os.path.join(OUT, f"trace-{args.workload}-s{args.seed}")
        shutil.rmtree(stem + "-eventlog", ignore_errors=True)
        shutil.copytree(os.path.join(WORK, "eventlog"), stem + "-eventlog")
        with open(stem + ".json", "w") as f:
            json.dump({
                "workload": args.workload, "seed": args.seed, "inputs": res.inputs,
                "end_to_end": {k: v for k, (v, _) in e2e.items()},
                "per_layer": {k: v for k, (v, _) in metrics.items()},
                "ops": [vars(op) for op in res.ops],
                "spans": tracer.to_records(),
                "span_table": layers.span_table(tracer.spans, log),
                "operators": [vars(op) for op in log.operators()],
            }, f, indent=1)
    for op in res.ops:
        print(f"crawlbench: {op.name} {op.seconds:.3f}s cpu={op.cpu_s:.2f}s urls={op.urls} "
              f"{'ok' if op.ok else 'FAILED ' + op.why.splitlines()[-1]}", file=sys.stderr)
    return {
        "correct": failed == 0 and bool(res.ops),
        "attempted": max(1, len(res.ops)),
        "failed": failed if res.ops else 1,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
