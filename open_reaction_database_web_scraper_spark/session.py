"""SparkSession factory tuned for the engine.

Defaults follow SURVEY.md §4: AQE on, Arrow on for pandas UDFs,
shuffle partitions sized to the session's cores (see
``shuffle_width``). Session timezone pinned to UTC so timestamp
semantics are deterministic and match the DuckDB oracle's naive
timestamps.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"

DEFAULT_CONFS: dict[str, str] = {
    # Adaptive execution: runtime re-plan, skew-join splitting,
    # partition coalescing — the 100 TB story relies on these.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for every pandas UDF / applyInPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics (oracle parity).
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    # Console progress bars write \r-frames to stdout mid-job; any
    # harness that parses a JSON result line from stdout (bench.py,
    # the driver) gets them interleaved with the payload. Nothing in
    # this repo reads them — off everywhere.
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # The custom ORD connector (sources/ord_datasource.py) implements
    # pushFilters(); Spark 4.1 refuses to plan such a reader unless
    # Python-source filter pushdown is explicitly enabled.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Checkpoint through FileSystem.rename, not FileContext. Without
    # the native Hadoop library, FileContext's rename stats each path
    # by spawning `readlink` (RawLocalFileSystem's link-status check):
    # one EWMA drain, one micro-batch at width 4, spawned 155
    # processes, 112 of them `readlink`, for its offset, commit and
    # state-delta renames; with this manager 43, none `readlink`.
    # File.renameTo is atomic on POSIX and FileSystem.rename on HDFS,
    # and Spark already uses this manager for any scheme without a
    # FileContext binding.
    "spark.sql.streaming.checkpointFileManagerClass":
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager",
}


def shuffle_width(extra_conf: Mapping[str, str] | None,
                  env: Mapping[str, str], current: str | None,
                  cores: int) -> str:
    """The ``spark.sql.shuffle.partitions`` a session runs at.

    An explicit width wins, in this order: ``extra_conf``, then
    ``SPARK_GRAFT_SHUFFLE``, then a width already set on the session
    (``current``; ``getOrCreate`` may return an existing one).
    Otherwise one partition per core: ``cores`` is
    ``defaultParallelism`` (N on ``local[N]``, the registered executor
    cores on a cluster). AQE only coalesces batch shuffles down, and
    a stateful stream fixes its state-store width from this conf at
    its first start, so a width above the core count is paid on
    every micro-batch.
    """
    return ((extra_conf or {}).get(SHUFFLE_PARTITIONS)
            or env.get("SPARK_GRAFT_SHUFFLE") or current or str(cores))


def get_session(app_name: str = "ord-spark-engine", master: str | None = None,
                extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the engine SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]")
    for k, v in {**DEFAULT_CONFS, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.conf.set(SHUFFLE_PARTITIONS, shuffle_width(
        extra_conf, os.environ, spark.conf.get(SHUFFLE_PARTITIONS, None),
        spark.sparkContext.defaultParallelism))
    return spark
