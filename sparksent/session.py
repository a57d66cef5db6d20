"""SparkSession construction tuned for this repo.

Local mode is single-JVM (``local[N]``); the settings below are chosen so
the *same* logical plans scale to a real cluster:

- AQE on (runtime partition coalescing, skew-join splitting) — at 100 TB
  the static shuffle-partition guess is always wrong; AQE fixes it.
- ``spark.sql.shuffle.partitions`` sized to local cores; on a cluster this
  is the *initial* number only because AQE coalesces.
- Arrow enabled for the few Pandas-UDF paths (ext.multimodal, streaming
  count-window state) — batch transfer, never per-row pickling.
- Session timezone pinned UTC so event-time window arithmetic matches the
  DuckDB oracle bit-for-bit.
- Streaming checkpoints go through the FileSystem-based checkpoint file
  manager. The default FileContext manager, without Hadoop's native
  library, forks a ``readlink`` process for every checkpoint rename —
  several per stream per trigger (offsets, commits, state deltas); those
  forks dominated the per-trigger commit cost of the streaming topology.
  Spark itself falls back to this manager on filesystems without
  FileContext support, and a POSIX rename on local disk is atomic. It is
  set here, at construction, and never by a library call.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "sparksent", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the session. ``cpus`` defaults to $SPARK_GRAFT_CPUS
    or '*'; the shuffle partitions follow the same value, or 32 for '*'."""
    n = cpus or os.environ.get("SPARK_GRAFT_CPUS")
    builder = (
        SparkSession.builder.master(f"local[{n or '*'}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n or 32))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/sparksent-warehouse"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
