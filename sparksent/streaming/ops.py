"""Streaming aggregation wrappers.

Same logical shapes as :mod:`sparksent.windows`, with the two
streaming-specific concerns the reference never had (processing time ⇒
no lateness concept, SURVEY.md §2.6):

- a watermark bounds state for append-mode windowed aggregation;
- the reference's per-record running reduce (SA.scala:285) becomes an
  update-mode ``groupBy().agg()`` — Spark emits per *trigger* rather
  than per record; the batch cumulative form reproduces the per-record
  history exactly (documented delta, SURVEY.md §2.6.3).

State sizing at scale: windowed-agg state is O(open windows × keys) and
the watermark expires it; update-mode running sums are O(keys). Both are
per-key hash state in the state store, partitioned by the same keys as
the shuffle — no skew beyond the data's own key skew.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def streaming_tumbling_agg(
    df: DataFrame,
    keys: Sequence[str],
    size_s: int,
    aggs: Sequence[Column],
    ts_col: str = "ts",
    watermark: str | None = "10 seconds",
    slide_s: int | None = None,
) -> DataFrame:
    """Watermarked keyed tumbling/sliding window aggregation — the
    streaming twin of windows.tumbling_agg/sliding_agg with the same
    output shape (window_start_s BIGINT + keys + aggs).

    ``watermark=None`` means ``df`` already carries a watermark on
    ``ts_col`` (e.g. for an upstream ``dropDuplicates``): Spark rejects a
    second ``withWatermark`` on the same column with "Redefining
    watermark is disallowed"."""
    size = f"{size_s} seconds"
    win = (
        F.window(F.col(ts_col), size)
        if slide_s is None
        else F.window(F.col(ts_col), size, f"{slide_s} seconds")
    )
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(win.alias("w"), *keys)
        .agg(*aggs)
        .withColumn("window_start_s", F.unix_timestamp(F.col("w.start")))
        .drop("w")
    )


def streaming_cumulative_sum(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    out_col: str = "value",
) -> DataFrame:
    """The unwindowed keyed running reduce (SA.scala:285) for streams:
    unbounded per-key sum, to be run with outputMode('update') — one
    updated row per key per trigger (vs Flink's per record)."""
    return df.groupBy(*keys).agg(
        F.sum(F.col(value_col).cast("decimal(28,6)")).cast("double").alias(out_col)
    )


def streaming_session_agg(
    df: DataFrame,
    keys: Sequence[str],
    gap: str,
    aggs: Sequence[Column],
    ts_col: str = "ts",
    watermark: str = "10 seconds",
) -> DataFrame:
    """Watermarked keyed session-window aggregation (append mode): the
    streaming twin of the batch ``F.session_window`` form — identical
    merge semantics (a new session starts when the inactivity gap
    reaches ``gap``), identical output shape (session_start_us BIGINT +
    keys + aggs). A session emits once the watermark passes its close.

    State at scale: O(open sessions) per key, expired by the watermark —
    the same state-store partitioning as the group-by shuffle."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sw"), *keys)
        .agg(*aggs)
        .withColumn("session_start_us", F.unix_micros(F.col("sw.start")))
        .drop("sw")
    )


def streaming_exact_dedup(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming first-wins exact deduplication on ``key_cols`` — the
    streaming twin of the batch md5-fingerprint dedup (ext/dedup.py).

    Two state regimes:
    - ``watermark=None``: global dedup; state is one entry per distinct
      key, forever. Correct, but only affordable when the distinct-key
      cardinality is bounded (or the run is).
    - with ``ts_col`` + ``watermark``: ``dropDuplicatesWithinWatermark``
      — state expires once the watermark passes a key's event time, so
      memory is bounded by the duplicate-arrival horizon. The right
      form for re-delivered/replayed feeds where dupes cluster in time.

    Either way the state store partitions by the dedup key — the same
    hash distribution as a batch groupBy, no extra skew.
    """
    if watermark is not None:
        if ts_col is None:
            raise ValueError("watermarked dedup needs ts_col")
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(key_cols)
        )
    return df.dropDuplicates(list(key_cols))


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    within: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "1 minute",
) -> DataFrame:
    """Stream-stream inner interval join: pair each left row with the
    right rows of the same key whose timestamp falls in
    ``[left_ts - within, left_ts]``. Timestamp columns must be named
    differently on the two sides (both survive into the output).

    Matches emit as soon as both rows have arrived; the time bound plus
    the two watermarks let the state store drop buffered rows once they
    can no longer match — the condition Structured Streaming requires
    for bounded stream-stream join state."""
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (l[on] == r[on])
        & (r[right_ts] >= l[left_ts] - F.expr(f"INTERVAL {within}"))
        & (r[right_ts] <= l[left_ts])
    )
    return l.join(r, cond).drop(r[on])


def streaming_hll_registers(
    df: DataFrame,
    keys: Sequence[str],
    size_s: int,
    value_col: str,
    ts_col: str = "ts",
    watermark: str = "10 seconds",
) -> DataFrame:
    """Streaming HLL: the stream maintains the SKETCH REGISTERS as its
    only state — a watermarked (window, keys, bucket) -> max(rho)
    aggregation, i.e. exactly the sketch-merge operation, bounded at
    256 rows per (window, key) and expired by the watermark. Estimates
    are finalized from stored registers at read time
    (``sketches.hll_finalize``) — the production layout, since register
    tables also merge across windows/streams losslessly. Equivalence to
    the batch register computation is exact (integer state, associative
    merge): tests/test_streaming_equivalence.py."""
    from ..ext.hashing import h60
    from ..ext.sketches import HLL_M, HLL_P, _rho

    h = h60(F.col(value_col).cast("string"))
    return (
        df.withColumn("bucket", h % HLL_M)
        .withColumn("rho", _rho(F.shiftright(h, HLL_P)))
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), f"{size_s} seconds").alias("w"), *keys, "bucket")
        .agg(F.max("rho").alias("mj"))
        .withColumn("window_start_s", F.unix_timestamp(F.col("w.start")))
        .drop("w")
    )
