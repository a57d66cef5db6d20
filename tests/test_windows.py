"""Time-window aggregation rules of ``windows.window_agg`` that the
fixtures cannot show, on small in-memory frames."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparksent import windows


def test_window_agg_null_ts_falls_in_no_window(spark):
    """A row with a NULL event time is in no tumbling or sliding window,
    as in streaming; every other row lands in the epoch-aligned window
    ``floor(epoch_s / size) * size``, fractional and negative seconds
    included."""
    rows = [(1, 12.5), (2, 19.999), (3, 20.0), (4, -0.5), (5, None), (6, None)]
    df = spark.createDataFrame(rows, "event_id long, t double").select(
        "event_id", F.timestamp_micros((F.col("t") * 1e6).cast("long")).alias("ts")
    )
    count = [F.count("*").alias("n")]
    tumbling = {
        r.window_start_s: r.n for r in windows.window_agg(df, [], 10, count).collect()
    }
    assert tumbling == {10: 2, 20: 1, -10: 1}
    sliding = windows.window_agg(df, [], 10, count, slide_s=5).collect()
    assert {r.window_start_s: r.n for r in sliding} == {
        5: 1, 10: 2, 15: 2, 20: 1, -10: 1, -5: 1,
    }
