"""Streaming-only aggregation operators.

Windowed aggregation needs no wrapper here: ``windows.window_agg`` and
``windows.session_agg`` run unchanged on a stream whose ``ts`` carries a
``withWatermark`` — the watermark bounds their append-mode state, the
one streaming concern the reference never had (processing time ⇒ no
lateness concept, SURVEY.md §2.6). This module holds the shapes that do
differ from batch:

- the reference's per-record running reduce (SA.scala:285) becomes an
  update-mode ``groupBy().agg()`` — Spark emits per *trigger* rather
  than per record; the batch cumulative form reproduces the per-record
  history exactly (documented delta, SURVEY.md §2.6.3);
- exact dedup, the stream-stream interval join and the HLL register
  table, each with watermark-bounded state. As with ``window_agg``, the
  join and the register table never set a watermark themselves: the
  caller's ``withWatermark`` bounds their state.

State sizing at scale: windowed-agg state is O(open windows × keys) and
the watermark expires it; update-mode running sums are O(keys). Both are
per-key hash state in the state store, partitioned by the same keys as
the shuffle — no skew beyond the data's own key skew.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..windows import window_agg


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
) -> DataFrame:
    """Stream-stream inner interval join: pair each left row with the
    right rows of the same key whose timestamp falls in
    ``[left_ts - within, left_ts]``. Timestamp columns must be named
    differently on the two sides (both survive into the output).

    Matches emit as soon as both rows have arrived; the time bound plus
    a caller's ``withWatermark`` on each side let the state store drop
    buffered rows once they can no longer match — the condition
    Structured Streaming requires for bounded stream-stream join
    state."""
    cond = (
        (left[on] == right[on])
        & (right[right_ts] >= left[left_ts] - F.expr(f"INTERVAL {within}"))
        & (right[right_ts] <= left[left_ts])
    )
    return left.join(right, cond).drop(right[on])


def streaming_hll_registers(
    df: DataFrame,
    keys: Sequence[str],
    size_s: int,
    value_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming HLL: the stream maintains the SKETCH REGISTERS as its
    only state — a (window, keys, bucket) -> max(rho) aggregation over
    a stream whose ``ts_col`` carries the caller's ``withWatermark``,
    i.e. exactly the sketch-merge operation, bounded at 256 rows per
    (window, key) and expired by the watermark. Estimates
    are finalized from stored registers at read time
    (``sketches.hll_finalize``) — the production layout, since register
    tables also merge across windows/streams losslessly. Equivalence to
    the batch register computation is exact (integer state, associative
    merge): tests/test_streaming_equivalence.py."""
    from ..ext.hashing import h60
    from ..ext.sketches import HLL_M, HLL_P, _rho

    h = h60(F.col(value_col).cast("string"))
    regs = df.withColumn("bucket", h % HLL_M).withColumn(
        "rho", _rho(F.shiftright(h, HLL_P))
    )
    return window_agg(regs, [*keys, "bucket"], size_s, [F.max("rho").alias("mj")], ts_col)
