"""The benchmark's workloads: generated inputs, the timed crawl, and the checks.

The corpus is ``fixtures.gen_pages_spark(n)`` at a fixed size per workload,
generated once per checkout into ``_cache`` under the benchmark's own
directory. The seed varies the frames the engine is handed, never their
size, so every seed gives a run of the same shape (and the same spread of
timings):

* ``crawl_durable`` seeds the crawl with the fixture seed list plus
  ``n // 2`` corpus pages drawn with ``random.Random(seed)``. The seed
  changes which URLs are crawled and in what order. The extra seeds fill
  every host's politeness budget from epoch 0 on, so each epoch is a
  production-sized one (~230 URLs, a count that does not move with the
  seed) and one epoch is enough to measure. With the fixture seeds alone
  epoch 0 crawls 7 URLs and epoch 1 a seed-dependent ~110.
* ``recrawl_bulk`` pre-seeds the frontier with every corpus URL, in an
  order the seed permutes. The crawl's result must not depend on that
  order, so the oracle's digests are the same for every seed.

Seed frames are written with pyarrow, outside the timed region and without
Spark jobs, so the driver JVM starts every timed region in the same state;
the engine receives only the frames. The oracle's expected digests are
computed once per input and cached next to the frames.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, "_cache")

# corpus size per workload. recrawl_bulk's is twice crawl_durable's so that
# per-URL work outweighs the cold JVM's compile time, which varies from run
# to run: at 3,000 pages its epoch CPU time spread 0.12-0.13 over ten seeds
PAGES = {"crawl_durable": 3000, "recrawl_bulk": 6000}
MAX_DURABLE_EPOCHS = 40  # cap on the uninterrupted leg, however fast it runs
LOG_COLS = ["epoch", "seq", "url", "url_fp", "host", "depth", "fetch_ts", "status"]


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it: the driver JVM and its Python workers, with the
    children each has reaped.

    The kernel leaves out of a task's CPU time the time its virtual CPU was
    stolen by the host, and it counts only this run's processes, so the
    figure does not grow when other work slows the machine down. A child
    that exits unreaped between two readings takes its time with it; the
    Python workers live for the whole run."""
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    # the fields after the parenthesised command: state, ppid, ...
                    stats[int(d)] = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            # utime, stime, cutime, cstime
            ticks += sum(int(x) for x in stats[pid][11:15])
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


@dataclass
class Op:
    """One operation (an epoch, or a resume): its wall and CPU time and
    whether it held."""

    name: str
    seconds: float
    urls: int = 0
    epoch: bool = True  # an epoch, or the resume
    ok: bool = True
    why: str = ""
    cpu_s: float = 0.0


@dataclass
class Result:
    ops: list[Op] = field(default_factory=list)
    crawl_urls_per_s: float = 0.0
    crawl_cpu_ms_per_url: float = 0.0
    resume_s: float = 0.0
    store_bytes_per_url: float = 0.0
    urls_attempted: int = 0
    bloom_fill: float = 0.0
    bloom_bytes: int = 0
    inputs: dict = field(default_factory=dict)

    def fail(self, why: str) -> None:
        """Count an operation that raised (an epoch, or a check that could
        not run) as attempted and failed."""
        print(f"crawlbench: {why}", file=sys.stderr)
        self.ops.append(Op("raised", 0.0, epoch=False, ok=False, why=why))


# -- generated inputs ----------------------------------------------------------

def _atomic_parquet(path: str, write) -> str:
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        write(tmp)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    return path


def _write_seed_frame(urls: list[str], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nlnieuwscrawler_spark import spec

    os.makedirs(path)
    pq.write_table(pa.table({
        "url": pa.array(urls, pa.string()),
        "host": pa.array([None] * len(urls), pa.string()),
        "priority": pa.array([spec.SEED_PRIORITY] * len(urls), pa.float64()),
        "depth": pa.array([0] * len(urls), pa.int32()),
    }), os.path.join(path, "part-0.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()


def corpus_path(spark, n: int) -> str:
    from nlnieuwscrawler_spark.sources import fixtures

    return _atomic_parquet(
        os.path.join(CACHE, f"pages-n{n}"),
        lambda p: fixtures.gen_pages_spark(spark, n).write.parquet(p),
    )


def seed_urls(workload: str, n: int, seed: int) -> list[str]:
    from nlnieuwscrawler_spark import spec
    from nlnieuwscrawler_spark.sources import fixtures

    if workload == "crawl_durable":
        ids = random.Random(seed).sample(range(len(spec.SEED_URLS), n), n // 2)
        return list(spec.SEED_URLS) + [fixtures.page_url(i) for i in ids]
    urls = [fixtures.page_url(i) for i in range(n)]
    random.Random(seed).shuffle(urls)
    return urls


def seeds_path(workload: str, n: int, seed: int) -> str:
    """The seed/frontier frame: (url, host, priority, depth) rows."""
    return _atomic_parquet(
        os.path.join(CACHE, f"seeds-{workload}-n{n}-s{seed}"),
        lambda p: _write_seed_frame(seed_urls(workload, n, seed), p),
    )


# -- digests and the oracle ------------------------------------------------------

def log_digest(log: pd.DataFrame) -> str:
    rows = log.sort_values("seq")[LOG_COLS].itertuples(index=False)
    h = hashlib.sha256()
    for r in rows:
        h.update(
            f"{int(r.epoch)}|{int(r.seq)}|{r.url}|{int(r.url_fp)}|{r.host}|"
            f"{int(r.depth)}|{pd.Timestamp(r.fetch_ts).isoformat()}|{r.status}\n".encode()
        )
    return h.hexdigest()


def frontier_digest(rows) -> str:
    """Digest of (url_fp, url, depth, discovered_epoch, parent_fp) rows."""
    return hashlib.sha256("\n".join(
        f"{int(fp)}|{url}|{int(d)}|{int(e)}|{p}" for fp, url, d, e, p in sorted(
            rows, key=lambda r: int(r[0]))
    ).encode()).hexdigest()


def seen_digest(fps) -> str:
    return hashlib.sha256(
        "\n".join(str(int(f)) for f in sorted(int(x) for x in fps)).encode()
    ).hexdigest()


def _cached_json(key: str, compute) -> dict:
    path = os.path.join(CACHE, f"{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    out = compute()
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def _oracle(pages_dir: str, epoch_seconds: float | None = None):
    from nlnieuwscrawler_spark import spec
    from nlnieuwscrawler_spark.oracle.pycrawler import OracleCrawler

    pages = pd.read_parquet(pages_dir, columns=["url", "warc_ts", "html", "lang"])
    return OracleCrawler(pages, epoch_seconds=epoch_seconds or spec.EPOCH_SECONDS)


def oracle_durable(pages_dir: str, n: int, seed: int, epochs: int) -> dict:
    """Per-epoch crawl-log digests, and the seen set and frontier after each
    epoch."""
    def compute() -> dict:
        o = _oracle(pages_dir)
        o.seed(seed_urls("crawl_durable", n, seed))
        out = {"log": [], "seen": [], "frontier": [], "urls": []}
        for _ in range(epochs):
            start = len(o.log)
            o.run_epoch()
            part = pd.DataFrame(o.log[start:], columns=LOG_COLS)
            out["log"].append(log_digest(part))
            out["seen"].append(seen_digest(o.visited))
            out["frontier"].append(frontier_digest(
                (e.fp, e.url, e.depth, e.discovered_epoch,
                 None if e.parent_fp is None else str(e.parent_fp))
                for e in o.frontier.values()
            ))
            out["urls"].append(len(part))
        return out

    return _cached_json(f"oracle-crawl_durable-n{n}-s{seed}-e{epochs}", compute)


def oracle_recrawl(pages_dir: str, n: int) -> dict:
    from nlnieuwscrawler_spark.sources import fixtures

    def compute() -> dict:
        o = _oracle(pages_dir, epoch_seconds=n * 4.0)
        o.seed([fixtures.page_url(i) for i in range(n)])
        o.run(2)
        return {"log": log_digest(o.crawl_log_df()), "seen": seen_digest(o.visited),
                "urls": len(o.log)}

    return _cached_json(f"oracle-recrawl_bulk-n{n}", compute)


def engine_log(df) -> pd.DataFrame:
    return df.select(*LOG_COLS).toPandas()


def engine_frontier(df) -> list[tuple]:
    # parent_fp as a string: a nullable long would come back as a float
    return [tuple(r) for r in df.select(
        "url_fp", "url", "depth", "discovered_epoch", F.col("parent_fp").cast("string")
    ).collect()]


def engine_seen(df) -> list[int]:
    return [r[0] for r in df.select("url_fp").collect()]


# -- workloads -------------------------------------------------------------------

def crawl_durable(spark, seed: int, seconds: float, pages_n: int | None, work: str) -> Result:
    """Epochs through ``Crawler.run(max_epochs=1)`` until ``seconds`` have
    passed (at least one), each committing a snapshot; then a simulated
    crash: a new Crawler resumes from the store. The resumed state must be
    the oracle's after the same epochs."""
    from nlnieuwscrawler_spark.plans.crawler import Crawler, CrawlConfig
    from nlnieuwscrawler_spark.sources import fixtures
    from nlnieuwscrawler_spark.sources.tableio import SnapshotStore
    from spans import dir_bytes

    n = pages_n or PAGES["crawl_durable"]
    pages = spark.read.parquet(corpus_path(spark, n))
    seeds = spark.read.parquet(seeds_path("crawl_durable", n, seed))
    robots = fixtures.robots_df(spark)
    store_dir = os.path.join(work, "store")
    store = SnapshotStore(store_dir)
    cfg = CrawlConfig(salt=4, use_bloom=True, checkpoint=True)
    res = Result(inputs={"pages": n, "seeds": len(seed_urls("crawl_durable", n, seed))})
    try:
        t0, cpu0 = time.perf_counter(), tree_cpu_s()
        c1 = Crawler(spark, pages, robots, store, cfg)
        c1.start(seeds)
        while True:
            te, ce = time.perf_counter(), tree_cpu_s()
            before = c1.epoch
            c1.run(max_epochs=1)
            if c1.epoch == before:
                break
            res.ops.append(Op(f"epoch{before}", time.perf_counter() - te,
                              c1.metrics_rows[-1]["attempted"], cpu_s=tree_cpu_s() - ce))
            if time.perf_counter() - t0 >= seconds or c1.epoch >= MAX_DURABLE_EPOCHS:
                break
        crawl_wall, crawl_cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
        # simulated crash: c1 is abandoned; a new Crawler resumes from the store
        tr = time.perf_counter()
        c2 = Crawler(spark, pages, robots, store, cfg)
        c2.resume()
        res.resume_s = time.perf_counter() - tr
        res.ops.append(Op("resume", res.resume_s, epoch=False))
    except Exception:  # the run still reports; the operation counts as failed
        res.fail(traceback.format_exc())
        return res

    res.urls_attempted = c1.seq_base
    res.crawl_urls_per_s = c1.seq_base / crawl_wall
    res.crawl_cpu_ms_per_url = 1000.0 * crawl_cpu / max(1, c1.seq_base)
    res.store_bytes_per_url = dir_bytes(store_dir) / max(1, c1.seq_base)
    res.bloom_fill = c2.bloom.n_items / (c2.bloom.n_bits * c2.bloom.n_partitions)
    res.bloom_bytes = c2.bloom.total_bytes

    # checks: every epoch's log and the seen set equal the oracle's after the
    # same epochs; the resumed frontier and seen set equal them too
    try:
        k = c1.epoch
        want = oracle_durable(corpus_path(spark, n), n, seed, k)
        for i, part in enumerate(c1.crawl_log_parts):
            if log_digest(engine_log(part)) != want["log"][i]:
                res.ops[i].ok, res.ops[i].why = False, "crawl log differs from the oracle"
        if seen_digest(engine_seen(c1.seen())) != want["seen"][k - 1]:
            res.ops[k - 1].ok, res.ops[k - 1].why = False, "seen set differs from the oracle"
        resumed = res.ops[-1]
        if (c2.epoch, c2.seq_base, c2.bloom.n_items) != (c1.epoch, c1.seq_base, c1.bloom.n_items):
            resumed.ok, resumed.why = False, "resumed counters differ from the crashed crawler's"
        elif frontier_digest(engine_frontier(c2.frontier)) != want["frontier"][k - 1]:
            resumed.ok, resumed.why = False, "resumed frontier differs from the oracle"
        elif seen_digest(engine_seen(c2.seen())) != want["seen"][k - 1]:
            resumed.ok, resumed.why = False, "resumed seen set differs from the oracle"
    except Exception:
        res.fail(traceback.format_exc())
    return res


def recrawl_bulk(spark, seed: int, seconds: float, pages_n: int | None, work: str) -> Result:
    """Recrawls of the whole corpus (one giant epoch plus a drain epoch when
    links leave anything unseen), each with a fresh Crawler, until
    ``seconds`` have passed (at least one)."""
    from nlnieuwscrawler_spark.plans.crawler import Crawler, CrawlConfig
    from nlnieuwscrawler_spark.sources import fixtures

    n = pages_n or PAGES["recrawl_bulk"]
    pages = spark.read.parquet(corpus_path(spark, n))
    frontier = spark.read.parquet(seeds_path("recrawl_bulk", n, seed))
    robots = fixtures.robots_df(spark)
    cfg = CrawlConfig(
        max_epochs=2, salt=32, use_bloom=True, bloom_partitions=32,
        bloom_expected_keys=max(1 << 18, n * 4), checkpoint=False,
        epoch_seconds=n * 4.0, distributed_trace=True,
    )
    res = Result(inputs={"pages": n, "seeds": n})
    rates, cpu_per_url, crawls = [], [], []
    try:
        t_start = time.perf_counter()
        while True:
            t0, cpu0 = time.perf_counter(), tree_cpu_s()
            c = Crawler(spark, pages, robots, None, cfg)
            c.start(frontier)
            first_op = len(res.ops)
            for _ in range(cfg.max_epochs):
                te, ce = time.perf_counter(), tree_cpu_s()
                before = c.epoch
                c.run(max_epochs=1)
                if c.epoch == before:
                    break
                res.ops.append(Op(f"rep{len(crawls)}-epoch{before}",
                                  time.perf_counter() - te,
                                  c.metrics_rows[-1]["attempted"], cpu_s=tree_cpu_s() - ce))
            rates.append(c.seq_base / (time.perf_counter() - t0))
            cpu_per_url.append(1000.0 * (tree_cpu_s() - cpu0) / max(1, c.seq_base))
            crawls.append((c, first_op, len(res.ops)))
            res.urls_attempted += c.seq_base
            if time.perf_counter() - t_start >= seconds:
                break
            c.pages_latest.unpersist()
    except Exception:
        res.fail(traceback.format_exc())
        return res

    res.crawl_urls_per_s = statistics.median(rates)
    res.crawl_cpu_ms_per_url = statistics.median(cpu_per_url)
    last = crawls[-1][0]
    res.bloom_fill = last.bloom.n_items / (last.bloom.n_bits * last.bloom.n_partitions)
    res.bloom_bytes = last.bloom.total_bytes
    try:
        want = oracle_recrawl(corpus_path(spark, n), n)
        for c, lo, hi in crawls:
            why = ""
            if log_digest(engine_log(c.crawl_log())) != want["log"]:
                why = "crawl log differs from the oracle"
            elif seen_digest(engine_seen(c.seen())) != want["seen"]:
                why = "seen set differs from the oracle"
            for op in res.ops[lo:hi]:
                op.ok, op.why = not why, why
    except Exception:
        res.fail(traceback.format_exc())
    return res


WORKLOADS = {"crawl_durable": crawl_durable, "recrawl_bulk": recrawl_bulk}
