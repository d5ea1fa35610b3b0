"""SparkSession factory tuned for the CDC engine.

The reference delegates all execution to Postgres/Snowflake; we delegate to
Catalyst + Tungsten. Everything here is plain public Spark configuration:

- AQE on (runtime coalescing + skew-join splitting) — replaces the manual
  physical-design choices catalogued in SURVEY.md §4.
- Arrow on — the schema-normalization UDF and any pandas interchange are
  Arrow-vectorized (north rule: "no per-row Python anywhere").
- Session timezone pinned to UTC so timestamp semantics are stable across
  the N-core and 4N-core benchmark runs (the reference pins America/Bogota
  at extraction time, /root/reference/scripts/export_to_s3.py:17-18; we pin
  once at the session).
- parallelPartitionDiscovery.threshold pinned to the lake's
  driver-vs-distributed cutoff (``LakeTable.STATS_DRIVER_THRESHOLD``):
  at Spark's default of 32, every scan of more than 32 explicit paths
  (a bucketed table with unfolded deltas) launches a one-task-per-path
  listing job while the DataFrame is built.
- shuffle.partitions sized to the local core count rather than the 200
  default; on a real cluster this (and AQE) sizes reduce tasks so that
  100 TB / partitions fits executor memory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from postgres_to_snowflake_data_pipeline_spark.lake.table import LakeTable

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def get_spark(
    app_name: str = "postgres_to_snowflake_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    the same entry point serves tests (local) and ``spark-submit --py-files``
    on a real cluster (where ``master`` is supplied by the submitter and we
    leave it untouched).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cpus}]")

    sp = shuffle_partitions if shuffle_partitions is not None else DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(LakeTable.STATS_DRIVER_THRESHOLD),
        )
        .config("spark.sql.caseSensitive", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
