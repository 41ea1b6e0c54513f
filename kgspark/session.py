"""SparkSession factory with scale-oriented defaults.

Designed for multi-executor clusters (AQE, skew-join handling, Arrow
transfers); tested on local[N]. Shuffle partitions default to 2x cores
locally — on a real cluster set `spark.sql.shuffle.partitions` ~2-3x
total executor cores (or rely on AQE coalescing, which is enabled).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "kgspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        n = master.split("[")[-1].rstrip("]") if "[" in master else "32"
        try:
            cores = int(n) if n != "*" else (os.cpu_count() or 8)
        except ValueError:
            cores = 32
        shuffle_partitions = max(8, 2 * cores)

    b = (
        SparkSession.builder.appName(app)
        .master(master)
        # Adaptive execution: runtime re-plan, skew-join splitting, partition
        # coalescing — belt-and-braces on top of our explicit salting.
        .config("spark.sql.adaptive.enabled", "true")
        # Coalescing trims small-partition overhead in steady state, but for
        # core-count scaling comparisons (bench --scaling) it must be off so
        # parallelism tracks the configured 2x-cores shuffle partitions.
        .config("spark.sql.adaptive.coalescePartitions.enabled",
                os.environ.get("SPARK_GRAFT_COALESCE", "true"))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                os.environ.get("SPARK_GRAFT_ADVISORY_PART", "64m"))
        # Arrow for every pandas UDF boundary (mention extraction, model fit).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Dims (entities/relations/domains/ranges) are broadcast-joined.
        .config("spark.sql.autoBroadcastJoinThreshold",
                os.environ.get("SPARK_GRAFT_BCAST", str(16 * 1024 * 1024)))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # only effective when this call creates the JVM (tests, bench)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Python workers import kgspark from where the driver did (any cwd)
        .config("spark.executorEnv.PYTHONPATH",
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
