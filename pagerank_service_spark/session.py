"""SparkSession factory.

One place to set every config that matters at 100 TB:

* Arrow enabled — all Python<->JVM traffic is Arrow-batched; the engine
  has no row-at-a-time Python UDFs anywhere.
* AQE on by default (skew-join splitting, dynamic coalesce) for the
  relational operators; the iterative graph loops *disable* AQE locally
  (runtime conf toggle) because re-planning every iteration flaps the
  partitioning (SURVEY.md §4 note 2).
* ``spark.sql.shuffle.partitions`` parameterized: on a real cluster this
  is sized to ~2-3x total cores; tests use a small value so 200-partition
  shuffles don't dominate 500-row fixtures. ``spark.default.parallelism``
  is set to the same value, so it is not the cluster's task-slot count
  (``sc.defaultParallelism`` reads it back); graph layouts read the
  slots from the scheduler (graph/loop.py ``graph_partitions``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def get_session(
    app_name: str = "pagerank-service-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox;
    on a cluster leave it None and let spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet scans: keep splits big enough that task overhead doesn't
        # dominate, small enough that a partition fits executor memory.
        .config("spark.sql.files.maxPartitionBytes", str(256 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
