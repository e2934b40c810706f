"""SparkSession factory tuned for this engine.

Defaults are written for a real multi-executor cluster (AQE on, skew-join
handling, broadcast threshold sized for dimension tables) but work unchanged
on ``local[*]`` where the test-suite and bench run.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "osm-pg-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE enabled: runtime coalescing of shuffle partitions, skew-join
      splitting, and dynamic join-strategy demotion replace the hand-tuned
      planner statistics the reference sets in PostgreSQL
      (``etl/pgsnapshot_schema_0.6.sql:146-170``).
    - Arrow enabled for any pandas hop (block-local graph fixpoints, PBF
      decode, kNN join).
    - ``spark.sql.shuffle.partitions`` defaults to the local core count for
      local mode; on a cluster leave it to AQE's coalescing by setting a
      high initial value.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # UI off by default (bench/test noise); SPARK_GRAFT_UI=true turns
        # it on so harnesses can read stage shuffle metrics from the
        # /api/v1 REST endpoint (scripts/scale_stress.py flagship mode)
        .config("spark.ui.enabled",
                "true" if os.environ.get("SPARK_GRAFT_UI", "false")
                .lower() in ("true", "1", "yes") else "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    # extra driver/executor jars (e.g. the org.postgresql JDBC driver from
    # vendor/jars/, exported by tests/conftest.py) — only effective for the
    # FIRST session in the process, like every spark.jars setting
    extra_jars = os.environ.get("SPARK_GRAFT_EXTRA_JARS")
    if extra_jars:
        builder = builder.config("spark.jars", extra_jars)
    return builder.getOrCreate()
