"""Fixture table loaders.

The driver provides deterministic parquet tables at
``/root/testdata/sf{0.001,0.01,0.1}/`` (TESTDATA.md). ``events`` plays the
reference's chat-message stream (SentimentAnalysis.scala:315 ``Message``):
``channel <- event_type``, ``user <- user_id``, ``text <- props``; ``ts``
is the explicit event-time column the reference left implicit
(processing time, SURVEY.md §2.6).

At 100 TB these would be partitioned tables (e.g. events partitioned by
date); the loaders stay the same — ``spark.read.parquet`` on a directory
prunes partitions from pushed-down ``ts`` predicates.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def rebalance(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition a narrow input up to the session's default
    parallelism before CPU-heavy per-row work (hashing, shingling, decode).

    The small local fixtures arrive as a single parquet split, which would
    serialize an expression-heavy map stage onto one core; on a real
    cluster the scan of a large table already yields >= cores splits and
    this returns the input unchanged. The round-robin shuffle moves only
    the narrow projected input once, before the expensive stage.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    # Estimate the scan's split count from file metadata only — converting
    # to .rdd to ask getNumPartitions() would build a deserialized-RDD plan
    # on the driver for every call. One file may still split into several
    # partitions (maxPartitionBytes), so this can repartition when it need
    # not; that moves only the narrow input once and is the safe direction.
    try:
        n_splits = len(df.inputFiles())
    except Exception:
        n_splits = 0
    if n_splits >= target:
        return df
    return df.repartition(target)


# pinned() toggles the session-global AQE conf around plan compilation;
# interleaved pinned() calls from two driver threads could capture each
# other's prev='false' and leave AQE off permanently, so the toggle is
# serialized.  The lock does NOT protect unrelated queries compiled
# concurrently on the same SparkSession during the pin window — they
# would silently plan with AQE disabled.  This library assumes the
# single-threaded driver the bench/oracle contract uses; if you submit
# queries from multiple driver threads, build pins on a separate
# SparkSession.newSession() or accept that concurrent compilations may
# lose AQE (ADVICE r16).
_PIN_LOCK = threading.Lock()


def pinned(df: DataFrame, eager: bool = True) -> DataFrame:
    """``localCheckpoint`` that KEEPS the frame's output partitioning.

    ``Dataset.localCheckpoint`` copies the physical plan's
    ``outputPartitioning`` onto the LogicalRDD — but only when that plan
    is not an ``AdaptiveSparkPlan``, whose partitioning reads
    ``UnknownPartitioning(0)`` before execution.  Measured on this
    session's Spark 4.1: an aggregate over ``repartition("id")
    .localCheckpoint()`` re-Exchanges with AQE on and is exchange-free
    with AQE off.  So the pin's own compilation runs with AQE disabled
    (restored immediately; consumer queries still plan under AQE).

    The trade (ADVICE r16): the pin subtree's physical plan is FROZEN
    without an AdaptiveSparkPlan node, so the ENTIRE build job — not
    just its final exchange — runs without AQE partition coalescing and
    without AQE skew-join splitting, whether it materializes eagerly
    here or lazily at the first action (the plan is fixed at call time
    either way; restoring the conf before the action cannot bring
    adaptivity back into an already-compiled plan).  That lost skew
    handling is the measured mechanism of the round-16
    connected-components 2.4x regression.  Use this for frames whose
    downstream consumers join/aggregate on the frame's existing key
    (guide §2.4: operations keyed the same way share one exchange) AND
    whose pin subtree has no skew-prone wide shuffle; keep plain
    ``localCheckpoint()`` elsewhere.

    ``eager=False`` works too: the RDD (and thus the physical plan and
    its partitioning) is built at call time, materialization happens on
    first action."""
    spark = df.sparkSession
    with _PIN_LOCK:
        prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            return df.localCheckpoint(eager=eager)
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev)


def pinned_by(df: DataFrame, *cols: str, eager: bool = True) -> DataFrame:
    """Hash-partition ``df`` by ``cols`` and :func:`pinned`-checkpoint it,
    so every downstream join/aggregate keyed on the same columns reads
    the RDD co-partitioned and inserts NO Exchange.  One shuffle at pin
    time replaces one shuffle per consumer — the §2.4 shape for frames
    an iterative loop re-joins every round in SEPARATE jobs (eager
    per-round checkpoints mean cross-round exchange reuse never fires).

    SKEW CAVEAT (round-16 A/B): a pre-partitioned RDD side cannot be
    AQE skew-split — on a skewed key this loses to the per-round
    Exchange it replaces (dedup_multimodal_keep_set measured 2x slower
    with its dup-graph edges pinned by src).  Use only where the key's
    per-value load is bounded by construction (unique ids, capped
    cluster/basket sizes); leave skew-prone frames on plain
    ``localCheckpoint`` + per-round AQE."""
    return pinned(df.repartition(*[F.col(c) for c in cols]), eager=eager)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # The events fixture's physical `ts` type has varied across driver
        # generations: parquet TIMESTAMP(NANOS) (which Spark 4 only reads
        # via the nanosAsLong legacy conf, as raw int64 ns — session.get_spark
        # sets it; a session without it cannot read such a file) and
        # TIMESTAMP_MICROS isAdjustedToUTC=0 (which Spark reads as
        # TIMESTAMP_NTZ). Branch on the *read* schema so either works:
        #   - LongType      -> exact integer ns->us truncation, matching
        #                      DuckDB's truncation so ordering ties agree.
        #   - timestamp_ntz -> TIMESTAMP whose instant IS the wall clock
        #                      (downstream unix_micros()/session_window()
        #                      require TIMESTAMP, not NTZ).  A plain
        #                      cast("timestamp") would interpret the wall
        #                      time in the DRIVER's session TZ — off by the
        #                      UTC offset under a non-UTC session — so the
        #                      epoch is computed with pure NTZ wall-clock
        #                      arithmetic (timestampdiff between two NTZ
        #                      values), timezone-proof by construction and
        #                      identical to DuckDB's epoch_us(ts).
        df = spark.read.parquet(path)
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type == "long":
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if ts_type != "timestamp":
            df = df.withColumn(
                "ts",
                F.timestamp_micros(
                    F.expr(
                        "timestampdiff(MICROSECOND, "
                        "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                    )
                ),
            )
        return df
    return spark.read.parquet(path)


_COUNT_CACHE: dict[tuple[str, str], int] = {}


def cached_row_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of a fixture table, memoized per (sf_dir, table).

    Several self-scaling operators (plane/cell/cluster counts) size
    themselves from the corpus row count before the plan builds; the
    count is a parquet metadata-only job, but paying it at every query
    CONSTRUCTION (bench loops, harnesses that build all queries up
    front) is pure waste — the fixture is immutable for a process
    lifetime (ADVICE r8). Cache key is the resolved path, so distinct
    SFs never collide."""
    key = (os.path.abspath(sf_dir), name)
    if key not in _COUNT_CACHE:
        _COUNT_CACHE[key] = load_table(spark, sf_dir, name).count()
    return _COUNT_CACHE[key]


def messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference-shaped message stream derived from ``events``.

    Columns: channel, user, text, ts, event_id — the reference's
    ``Message(channel, user, text)`` (SentimentAnalysis.scala:315) plus
    explicit event time and a monotone arrival-order tie-breaker
    (FIXTURES.md §B2).
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_type").alias("channel"),
        F.col("user_id").cast("string").alias("user"),
        F.col("props").alias("text"),
        F.col("ts"),
        F.col("event_id"),
    )
