"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point, scaled down for local
testing:

- AQE on (runtime coalesce + skew-join splitting) — the engine's skew
  story for mega-conversations combines AQE with explicit salting
  (see ``operators.skew``).
- Arrow execution on for the pandas-UDF tier with a bounded batch size
  so one conversation batch never blows executor memory.
- Session timezone pinned to UTC so timestamp arithmetic is
  deterministic across engines (DuckDB oracle parity).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "pymfe_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the engine.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or 32.
    On a real cluster these settings ship unchanged via
    ``spark-submit --py-files``; only ``master`` differs.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # config surface for cluster-scale runs (round-2 verdict nit):
        # at 100 TB this should track input volume (e.g. bytes/128MB),
        # not core count — AQE coalesces the excess at runtime
        env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        shuffle_partitions = (
            int(env) if env else max(DEFAULT_SHUFFLE_PARTITIONS, cpus)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's parallelismFirst targets bytes/defaultParallelism but
        # floors at minPartitionSize (1 MB default). Our window/agg
        # shuffles carry few bytes yet real CPU per row, so the 1 MB
        # floor coalesces them onto 1-2 threads. 64 KB keeps small
        # shuffles spread across all cores; at cluster scale
        # bytes/parallelism dominates and behavior is unchanged.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # UI off by default (driver contract); bench.py --skew and
        # perfbench/run.py --trace 1 set SPARK_GRAFT_UI=true to read
        # per-stage task metrics over REST.
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # bucketed tables (sources/bucketed.py) live outside the repo;
        # on a cluster this is the Iceberg/Hive warehouse location
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/pymfe_spark_warehouse"),
        )
    )
    return builder.getOrCreate()
