"""SparkSession factory with the scale-oriented defaults this engine
assumes everywhere (SURVEY.md §4.2/§4.3).

AQE on (skew-join splitting + partition coalescing), Arrow transfer for
every pandas UDF, and shuffle partitions sized to the parallelism level.
On a real cluster the same settings apply with ``spark.sql.shuffle.
partitions`` sized ~2-4x total executor cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_master() -> str:
    """``local[n]`` over the cores this process may run on;
    ``SPARK_GRAFT_CPUS`` overrides n."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    return f"local[{cpus}]"


def get_spark(
    master: str | None = None,
    app_name: str = "driftmind-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or default_master()
    if shuffle_partitions is None:
        # 2x the local core count; on a cluster pass this in explicitly.
        cores = master[master.find("[") + 1:master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if cores == "*" else max(8, 2 * int(cores))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce the partitions of CACHED plans too (default
        # false).  The KG nodes stage caches dictionary-sized frames
        # (mentions, link edges); without this, a cached aggregate keeps
        # the full spark.sql.shuffle.partitions fanout, and every
        # downstream pandas-UDF action pays per-task Python/Arrow channel
        # setup on ~128 near-empty partitions — measured 5.3 s -> 1.2 s
        # on candidate_pairs over a 74-surface dictionary at 100k pages.
        # AQE still sizes by bytes, so a genuinely large cached frame
        # keeps its parallelism at crawl scale.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # 128 MiB is right for petabyte tables; sandbox test files are
        # single-digit MiB, so local runs override via env to keep all
        # cores busy on small scans (bench.py sets 4 MiB).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728"),
        )
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST_BYTES", "4194304"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
