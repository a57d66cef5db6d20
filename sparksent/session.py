"""SparkSession construction tuned for this repo.

Local mode is single-JVM (``local[N]``); the settings below are chosen so
the *same* logical plans scale to a real cluster:

- AQE on (runtime partition coalescing, skew-join splitting) — at 100 TB
  the static shuffle-partition guess is always wrong; AQE fixes it.
- ``spark.sql.shuffle.partitions`` sized to local cores; on a cluster this
  is the *initial* number only because AQE coalesces.
- Streaming state runs in ``STATE_PARTITIONS`` partitions per stateful
  operator, whatever the core count; see below.
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
- Parquet ``TIMESTAMP(NANOS)`` columns read as raw int64 nanoseconds
  (``nanosAsLong``), which Spark 4 reads no other way;
  ``tables.load_table`` converts them. Set here once, like the
  checkpoint manager, rather than by every ``events`` load.

Streaming state partitions
--------------------------
Spark 4.1 sizes every stateful operator of a new streaming query from
``spark.sql.streaming.internal.stateStore.partitions``; when that is
unset, the query copies ``spark.sql.shuffle.partitions`` into it at
start. Each state partition costs a state-store load and commit, delta
files (each with its Hadoop ``chmod`` forks) and a task, per operator
per trigger, whether or not it holds data. So this session sets the
streaming count apart from the batch one. Batch is unchanged: the conf
is read only by streaming queries.

- **The rule is the constant 1.** Swept with ``perfbench/run.py
  --workload topology_drain`` (the eight topology streams, 2,000-line
  triggers, ``--seconds 5``) on a 4-core box, ``nproc`` 4: at
  ``SPARK_GRAFT_CPUS`` 4 over 1, 2 and 4 partitions, and at 8
  (oversubscribed) over 1, 2, 4 and 8. One partition had the lowest
  ``pass_s`` and ``cpu_per_pass_s`` in every round of both sweeps
  (SCALE.md, "Streaming topology: state partitions per operator"). The
  eight concurrent queries already fill the cores, so per-operator
  parallelism buys nothing and each extra partition adds fixed work.
- **An existing checkpoint keeps its count.** Spark stores the count in
  the checkpoint's offset log and restores it on restart, so a query
  restarted from a checkpoint written with another count keeps that
  count and its state; only new checkpoints get ``STATE_PARTITIONS``.
- **Routes ruled out.**
  - A child ``spark.newSession()`` with its own shuffle partitions for
    the streams: a memory sink registers its temp view in the
    DataFrame's own session, so a caller's ``spark.table("<queryName>")``
    would stop finding the results, and it needs a new entry point.
  - A lower ``spark.sql.shuffle.partitions`` with
    ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` kept
    high for batch: ``tables.pinned`` compiles with AQE off, so every pin
    would read the small count, and ``ext.probe`` reads the conf itself.
- **Guarded.** Spark documents the conf as internal. The tests assert
  that every state operator of the topology reports ``STATE_PARTITIONS``
  in its progress (``test_streaming_topology_equivalence``), that a
  checkpoint keeps its count across a session with another
  (``test_state_partitions_kept_by_checkpoint``), and that a fresh
  session holds both counts (``tests/test_session.py``). A PySpark that
  drops the conf fails those tests instead of going back to the core
  count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

STATE_PARTITIONS = 1


def get_spark(app_name: str = "sparksent", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the session. ``cpus`` defaults to $SPARK_GRAFT_CPUS
    or '*'; the shuffle partitions follow the same value, or 32 for '*'.
    Streaming state gets ``STATE_PARTITIONS`` partitions per operator."""
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
            "spark.sql.streaming.internal.stateStore.partitions", str(STATE_PARTITIONS)
        )
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
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
