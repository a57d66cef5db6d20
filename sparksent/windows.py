"""Window regimes of the reference, Spark-first.

The reference's entire "planner" is a 19-line dispatcher
(``processChatStream``, SentimentAnalysis.scala:269-287) choosing between
three physical window operators over a keyed stream, plus a count-window
alerting path (SentimentAnalysis.scala:304-311):

1. tumbling time window  — ``timeWindow(size)``          (SA.scala:283)
2. sliding time window   — ``timeWindow(size, slide)``   (SA.scala:284)
3. unbounded running reduce — keyed ``reduce`` no window (SA.scala:285)
4. count window          — ``countWindow(n).sum``        (SA.scala:309)

This module reproduces them as DataFrame transformations over an
explicit event-time column (the reference used implicit processing time —
SURVEY.md §2.6; event time is the deterministic, testable superset).
The time windows (``window_agg``) and session windows (``session_agg``)
run unchanged on a batch or a streaming DataFrame; a streaming caller
only adds ``withWatermark``. The per-record cumulative and count-window
forms are batch-only here: their streaming versions are arbitrary
stateful operators (``sparksent.streaming.count_window``).
The timing dispatch among the first three is ``pipeline.mood_stream``.

Scale notes (100 TB posture):
- Tumbling/sliding aggregation is a single hash-aggregate with map-side
  partial aggregation — one shuffle on (window, keys), no buffering of
  window contents (same incremental-reduce property the reference got
  from Flink's ReducingState).
- Sliding windows replicate each row into ceil(size/slide) windows
  *before* the partial aggregate — for our 90s/60s case that's ≤2×,
  bounded and map-local.
- The cumulative and count-window forms need a per-key sort
  (``Window.partitionBy(key).orderBy(ts, id)``). That is one shuffle +
  per-partition sort; keys are assumed to have bounded per-key history
  (users, channels). For truly unbounded keys you'd bucket by time first.
- Window identity is exposed as ``window_start_s`` / ``bucket`` BIGINT
  epoch seconds rather than a timestamp struct: smaller shuffle keys,
  timezone-proof comparisons.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# exact float aggregation
# ---------------------------------------------------------------------------


def exact_sum(col: Column | str, scale: int = 6) -> Column:
    """Shuffle-order-independent sum of a float column.

    Doubles summed in parallel are non-associative; accumulating in
    decimal makes the result exact and deterministic (then one cast back
    to double). Costs a few % over native double sum — worth it for a
    reproducible engine; drop to F.sum for throughput-only paths.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(28,{scale})")).cast("double")


# ---------------------------------------------------------------------------
# window-key expressions
# ---------------------------------------------------------------------------


def count_bucket(keys: Sequence[str], n: int, order_cols: Sequence[str]) -> Column:
    """0-based bucket index: every n-th observation of a key starts a new
    bucket (the reference's ``countWindow(n)``, SA.scala:309). Arrival
    order is pinned to (ts, event_id) — event-time order with a monotone
    tie-breaker (SURVEY.md §7.3.1)."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order_cols])
    return F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(n)).cast("long")


# ---------------------------------------------------------------------------
# the four regimes
# ---------------------------------------------------------------------------


def window_agg(
    df: DataFrame,
    keys: Sequence[str],
    size_s: int,
    aggs: Sequence[Column],
    ts_col: str = "ts",
    slide_s: int | None = None,
) -> DataFrame:
    """Keyed tumbling (SA.scala:283) or, with ``slide_s``, sliding
    (SA.scala:284) event-time window aggregation, batch or streaming.
    Output: window_start_s BIGINT + keys + aggs.

    Groups on ``F.window`` (epoch-0 aligned), the only window key
    Structured Streaming accepts for append-mode aggregation; a
    streaming caller sets ``withWatermark`` on ``ts_col`` first, this
    function never does. One hash-aggregate: partial map-side combine,
    shuffle on (window, keys), final combine; a sliding window first
    assigns each row to the ceil(size/slide) windows covering it.

    A row whose ``ts_col`` is NULL falls in no window and is dropped,
    batch and streaming alike.
    """
    slide = None if slide_s is None else f"{slide_s} seconds"
    return (
        df.groupBy(F.window(F.col(ts_col), f"{size_s} seconds", slide).alias("w"), *keys)
        .agg(*aggs)
        .select(F.unix_timestamp(F.col("w.start")).alias("window_start_s"), "*")
        .drop("w")
    )


def cumulative_agg(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    order_cols: Sequence[str] = ("ts", "event_id"),
    out_col: str = "value",
) -> DataFrame:
    """Unbounded keyed running sum — one output row per input row carrying
    the cumulative per-key value, exactly Flink's unwindowed keyed reduce
    (SA.scala:285; emitted per arriving record).

    Batch form: analytic window ROWS UNBOUNDED PRECEDING. One shuffle on
    keys + per-partition sort. Streaming form: update-mode groupBy agg
    (per-trigger granularity — documented delta, SURVEY.md §2.6.3).

    Decimal accumulation keeps the prefix sums bit-exact vs the oracle.
    """
    w = (
        Window.partitionBy(*keys)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum(F.col(value_col).cast("decimal(28,6)")).over(w).cast("double")
    return df.withColumn(out_col, running)


def count_window_agg(
    df: DataFrame,
    keys: Sequence[str],
    n: int,
    aggs: Sequence[Column],
    order_cols: Sequence[str] = ("ts", "event_id"),
) -> DataFrame:
    """Count-tumbling window per key (SA.scala:308-310): group every run
    of n observations of a key, in (ts, id) order, and aggregate.

    row_number -> floor((rn-1)/n) bucketing, then hash-aggregate on
    (keys, bucket). Matches Flink's arrival-order semantics given the
    total order column (SURVEY.md §2.6.4).
    """
    return (
        df.withColumn("bucket", count_bucket(keys, n, order_cols))
        .groupBy(*keys, "bucket")
        .agg(*aggs)
    )


def session_agg(
    df: DataFrame,
    keys: Sequence[str],
    gap_s: int,
    aggs: Sequence[Column],
    ts_col: str = "ts",
) -> DataFrame:
    """Keyed session windows with a ``gap_s``-second inactivity timeout
    (``F.session_window`` — identical semantics batch and streaming; a
    new session starts when the gap to the previous event reaches the
    timeout). Output: keys + aggs + session_start_us BIGINT.

    A streaming caller sets ``withWatermark`` on ``ts_col`` first; in
    append mode a session emits once the watermark passes its close, and
    its state (open sessions per key) expires with the watermark."""
    return (
        df.groupBy(
            F.session_window(F.col(ts_col), f"{gap_s} seconds").alias("sw"), *keys
        )
        .agg(*aggs)
        .withColumn("session_start_us", F.unix_micros(F.col("sw.start")))
        .drop("sw")
    )
