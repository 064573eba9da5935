"""SparkSession construction with engine-appropriate defaults.

Replaces the reference's per-connection pragma/extension wiring
(/root/reference/internal/letarette/db.go:369-424) with Spark conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Engine defaults every session of this package starts with: get_spark and
# the spark-submit jobs (jobs/*.py) apply the same mapping.
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    "spark.sql.parquet.compression.codec": "zstd",
    # A read lists a dir level with more sub-dirs than this threshold
    # (Spark's default: 32) through a parallel Spark job of up to 64 tasks.
    # The index's own levels hold 64 dirs at default sizes (postings
    # bucket=, prefix-tail pb=) or 16 (docs rb=), so every read of the
    # postings, of the prefix tail or of a delta segment paid that job.
    # Creating a read of a 600-doc index's postings tree (local[2] on a
    # 4-CPU host) took 0.66-1.0 s wall and 1.3-3.3 s process-tree CPU
    # through the listing job, 0.03-0.04 s of each listed serially.
    # Levels wider than this still list in parallel, where an object
    # store's per-call latency pays for it.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "64",
}


def get_spark(
    app_name: str = "letarette_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Python workers don't inherit the driver's sys.path: make the package
    # importable on executors (production path: spark-submit --py-files).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pythonpath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pythonpath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pythonpath if pythonpath else "")
        )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: ~cores; on a real cluster this should be sized to
        # executors*cores (or left to AQE coalescing, which is enabled).
        shuffle_partitions = cpus
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config(map={**ENGINE_CONF, **(extra_conf or {})})
    )
    return b.getOrCreate()
