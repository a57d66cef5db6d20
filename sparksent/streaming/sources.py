"""Streaming sources.

The reference's only source is a TCP socket of newline text
(SentimentAnalysis.scala:41). We keep that for parity demos, and add a
deterministic file-replay source for tests: a directory of ordered
parquet files consumed one per micro-batch, which is how the
batch≡stream equivalence suite (SURVEY.md §5.2.3) drives a streaming
query to a known final state.

At production scale the source would be Kafka (same API surface:
``readStream.format("kafka")``); nothing downstream changes — that is
the point of the unified model.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def socket_lines(spark: SparkSession, host: str = "localhost", port: int = 9001) -> DataFrame:
    """The reference's ingest (SA.scala:36-41): newline text from TCP.
    Adds ingest processing time as ``ts`` + an id surrogate — the
    reference's implicit processing-time/arrival-order made explicit.

    The surrogate is a content+arrival-time hash, not
    ``monotonically_increasing_id()``: Spark rejects that expression on
    streaming DataFrames at analysis time (caught by the round-6 socket
    smoke test — a strictly monotonic pre-shuffle id is not expressible
    in Structured Streaming). Downstream uses of ``event_id`` on this
    surface are tie-breaks, where a stable hash serves."""
    lines = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
        .withColumnRenamed("value", "line")
    )
    return lines.withColumn("ts", F.current_timestamp()).withColumn(
        "event_id", F.xxhash64("line", "ts")
    )


def kafka_lines(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """The production ingest swap the module docstring names, made
    concrete (round 12): a Kafka topic of newline-free text records,
    projected to the SAME (line, ts, event_id) surface as
    :func:`socket_lines` — every downstream operator is source-agnostic
    past this projection, which is the point of the unified model.

    ``ts`` is the broker-assigned record timestamp (a real event-time
    column, unlike the socket's processing-time stamp), so watermarks
    downstream bound genuine lateness.  The id surrogate is the same
    content+time hash contract as socket_lines.

    Requires the spark-sql-kafka package on the session's classpath
    (``--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>``);
    this sandbox does not ship it, so the builder raises a clear
    RuntimeError naming the package instead of Spark's generic
    DATA_SOURCE_NOT_FOUND at a surprising distance from the call site
    (pinned by test).  No other code path imports this function."""
    try:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
        )
    except Exception as e:  # analysis-time failure
        # Substitute the missing-package diagnosis ONLY when the error
        # actually is source resolution (ADVICE r12: wrapping every
        # load-time exception — bad option, auth/config — misdiagnosed
        # unrelated failures as a classpath problem).
        msg = str(e)
        if "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find data source" in msg:
            raise RuntimeError(
                "kafka_lines needs the spark-sql-kafka package on the "
                "classpath (org.apache.spark:spark-sql-kafka-0-10_2.13); "
                f"source resolution failed: {e}"
            ) from e
        raise
    return raw.select(
        F.col("value").cast("string").alias("line"),
        F.col("timestamp").alias("ts"),
    ).withColumn("event_id", F.xxhash64("line", "ts"))


EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def write_replay_chunks(df: DataFrame, out_dir: str, n_chunks: int, order_col: str = "event_id") -> list[str]:
    """Split a batch DataFrame into n ordered parquet files for replay
    (one file = one micro-batch with maxFilesPerTrigger=1). Chunks are
    contiguous ranges of ``order_col`` so replay preserves event order."""
    import glob as _glob
    import shutil

    os.makedirs(out_dir, exist_ok=True)
    bounds = df.selectExpr(
        f"min({order_col}) AS lo", f"max({order_col}) AS hi"
    ).collect()[0]
    lo, hi = bounds.lo, bounds.hi
    step = (hi - lo + n_chunks) // n_chunks
    paths = []
    staging = os.path.join(out_dir, "_staging")
    for i in range(n_chunks):
        a, b = lo + i * step, lo + (i + 1) * step
        chunk = df.filter((F.col(order_col) >= a) & (F.col(order_col) < b))
        chunk.coalesce(1).write.mode("overwrite").parquet(staging)
        # the file stream source lists plain files, not Spark's output
        # directories — promote the single part file to a flat chunk file
        part = _glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        path = os.path.join(out_dir, f"chunk_{i:04d}.parquet")
        shutil.move(part, path)
        paths.append(path)
    shutil.rmtree(staging, ignore_errors=True)
    return paths


def append_flat_file(df: DataFrame, out_dir: str, name: str) -> str:
    """Write one more flat parquet file into a replay directory (e.g. a
    watermark-advancing sentinel batch)."""
    import glob as _glob
    import shutil

    staging = os.path.join(out_dir, "_staging_append")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = _glob.glob(os.path.join(staging, "part-*.parquet"))[0]
    path = os.path.join(out_dir, name)
    shutil.move(part, path)
    shutil.rmtree(staging, ignore_errors=True)
    return path


def file_replay_source(
    spark: SparkSession, dir_glob: str, schema: T.StructType = EVENT_SCHEMA
) -> DataFrame:
    """Read the replay directory as a stream, one file per trigger."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir_glob)
    )
