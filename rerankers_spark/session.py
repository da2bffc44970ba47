"""SparkSession factory tuned for this engine.

Centralizes the scale-relevant settings so every entry point (tests,
bench.py, __spark_entry__.py) runs the same plan-shaping config:

* AQE on (runtime coalescing + skew-join splitting),
* Arrow on with bounded record batches (pandas-UDF transport),
* shuffle partitions sized to the local core count (on a real cluster
  this is set per-job to ~2-3x total cores; AQE coalesces down).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "rerankers_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", max(cpus, 8))
    )
    # Python workers fork from the daemon process: preloading
    # numpy/pandas/pyarrow THERE (rerankers_spark/spark_daemon.py) makes
    # every forked worker inherit them copy-on-write instead of paying
    # its own ~0.5-1 s import — measured as a multi-second tax on the
    # first Arrow stage at local[32]. PYTHONPATH must carry the package
    # root so worker processes (whose sys.path does not inherit the
    # driver's) can import the daemon module from any cwd.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # cached plans (Engine's termstats persist, bench's corpus cache)
        # otherwise pin their pre-AQE shuffle width: every downstream job
        # re-reads the cache with `shuffle_partitions` tasks however tiny
        # the data is (measured: 64-task InMemoryTableScan stages over a
        # few KB of termstats on every query). Letting AQE re-plan cached
        # output is size-adaptive at every scale (guide §2.2).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        # limit+collect starts its partition scan at 1 and escalates by
        # 4× per round — a bounded collect over a 32-partition input runs
        # up to 4 sequential mini-jobs (measured ~0.5 s of pure job floor
        # per query call). Starting wider costs nothing material on a
        # scan with an early-exit limit and removes the escalation rounds.
        .config("spark.sql.limit.initialNumPartitions", "64")
        # AQE coalescing targets BYTES, but this engine's post-shuffle
        # stages are Python kernels whose cost per byte dwarfs shuffle
        # IO: with the 1m default the per-shard kernel stage collapses
        # to ONE task on compressed-KB inputs and the shard kernel runs
        # serially. 64k keeps small-input kernels parallel while leaving
        # sizeable shuffles governed by totalBytes/parallelism as before.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                "64k")
        .config("spark.python.daemon.module",
                "rerankers_spark.spark_daemon")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.local.dir",
                os.environ.get("SPARK_LOCAL_DIR", "/tmp"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # Diagnostics hook (scripts/bench_jobs.py): extra conf as a JSON dict
    # in $SPARK_EXTRA_CONF — e.g. event-log settings for job attribution.
    # Unset (the normal case, incl. the frozen bench.py path) = no-op.
    extra = os.environ.get("SPARK_EXTRA_CONF")
    if extra:
        import json

        for k, v in json.loads(extra).items():
            builder = builder.config(k, str(v))
    return builder.getOrCreate()
