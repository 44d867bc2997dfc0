"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same configs are the
ones we would ship to a 1000-executor cluster (AQE on, skew-join handling,
partition coalescing). Nothing here is local-mode-specific except the master.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "cassandra-sstable-tools-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # Local mode: one shuffle partition per core. On a real cluster this
        # would be ~2-3x total cores; AQE coalesces small partitions anyway.
        shuffle_partitions = cpus
    # Local mode runs all 32 executor threads inside the driver JVM; the
    # default 1g heap GC-thrashes (and can OOM) under windowed plans at
    # sf0.1 while the machine has 128 GiB. On a real cluster this maps to
    # ordinary executor memory sizing.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    # Shuffle/spill files belong on the fastest local storage (guide S2.1:
    # local disk bandwidth can be the shuffle's tighter limit). On this
    # box /tmp is spinning-image-backed while /dev/shm is tmpfs; a real
    # cluster sets SPARK_LOCAL_DIRS to its NVMe array, which (like any
    # explicit spark.local.dir) takes precedence over this default.
    local_dir = None
    if (
        "SPARK_LOCAL_DIRS" not in os.environ
        and os.environ.get("SPARK_GRAFT_LOCAL_DIR", "auto") == "auto"
        and os.path.isdir("/dev/shm")
    ):
        local_dir = "/dev/shm/spark-graft-local"
    elif os.environ.get("SPARK_GRAFT_LOCAL_DIR", "auto") != "auto":
        local_dir = os.environ["SPARK_GRAFT_LOCAL_DIR"] or None
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.memory", driver_mem)
        # AQE: runtime re-planning, small-partition coalescing, skew-join split.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE rewrite a planned sort-merge join to a shuffled-hash
        # join at RUNTIME when every post-shuffle partition of the build
        # side is under this bound (default 0 = never). Decided from
        # ACTUAL shuffle sizes, so unlike preferSortMergeJoin=false there
        # is no estimate-driven OOM gamble at scale: an oversized build
        # partition keeps the spilling sort-merge path. 64m matches one
        # task's comfortable hash-map budget under the default memory
        # sizing (guide S3.1).
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "64m")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic timestamps in reports.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for any pandas-UDF path (LLM extensions, multimodal stubs).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Driver testdata has shipped `events.ts` as TIMESTAMP(NANOS) in some
        # rounds (Spark rejects that by default; this reads it as bigint
        # nanos) and as timestamp[us] in others -- the adapter dispatches on
        # the loaded dtype (sources/tpch_adapter.ts_seconds_col). The conf
        # only affects NANOS columns; harmless otherwise.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Long sessions (bench loops, the embedded registry run) accumulate
        # shuffle files / broadcast blocks whose cleanup piggybacks on
        # driver GC; with a 24g heap, full GCs are rare and cleanup lags,
        # showing up as multi-second jitter spikes on cache-heavy queries.
        # A periodic context-cleaner GC bounds that lag -- but a FORCED
        # full GC is itself a pause: measured on the 5-round pagerank,
        # a 2min interval cost ~35% (6.2-7.4s vs 4.5-5.2s at 30min;
        # 4.4-6.0s at 10min). 10min keeps cleanup 3x ahead of the default
        # without landing mid-chain on every iterative query.
        .config("spark.cleaner.periodicGC.interval", "10min")
        # Cap the IDLE Python-worker pool at the core count (r12 verdict
        # "Next round" #3): a sharded decode stage (e.g. 36+ one-wave
        # splits) otherwise leaves every reused daemon worker resident
        # after the stage ends, and neighboring small queries in the same
        # process inherit that memory/scheduler pressure (measured r12: a
        # 65-shard scan inflated ds_pointread_batch 1.0->2.9s). The daemon
        # keeps at most this many idle workers warm -- one per concurrent
        # task slot, the steady-state need -- and destroys the excess at
        # task end instead of never. Cluster posture: the same bound is
        # per-executor, where cores-per-executor is the matching value.
        .config(
            "spark.python.factory.idleWorkerMaxPoolSize",
            os.environ.get("SPARK_GRAFT_PY_IDLE_WORKERS", str(cpus)),
        )
        # One Python worker pool per session. Spark keys its worker
        # daemons on the workers' env map, and SQL Python tasks
        # (mapInArrow, the V2 read) add SPARK_SIMPLIFIED_TRACEBACK=1
        # where RDD tasks do not, so each kind started its own daemon and
        # idle workers. With the variable set for every task, both kinds
        # share one daemon (measured on 4 cores, purge then a V2 read in
        # one process: peak process-tree RSS 2.1 -> 1.7 GiB).
        .config("spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK", "1")
        # Quieter local runs.
        .config("spark.ui.showConsoleProgress", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
