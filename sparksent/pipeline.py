"""The reference's derived-analytic query templates, Spark-first.

``buildMoodStream`` / ``buildToxicityStream`` / the topic-count path
(SentimentAnalysis.scala:243-255, 304-311, 95-104) are parameterized
query templates over a keyed stream; here they are plain functions over
DataFrames delegating to :mod:`sparksent.windows`.

``trending_stream`` is the share-of-conversation query the reference
author attempted and abandoned (dead code at SA.scala:106-123 — a stream
nested inside a flatMap, impossible in Flink's model). In Spark it is a
two-level aggregation: per-(window, key) counts, then a per-window total
via either an analytic window or a self-aggregation join. We use the
single-shuffle analytic form.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .windows import count_window_agg, cumulative_agg, exact_sum, window_agg

# ---------------------------------------------------------------------------
# windowed text concatenation (SA.scala:44-52, 289-302)
# ---------------------------------------------------------------------------


def window_concat_text() -> Column:
    """parsedStream / aggregateStream's window aggregate: the window's
    texts in (ts, event_id) order, joined by newlines, as ``text``."""
    return F.array_join(
        F.transform(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "text"))),
            lambda x: x["text"],
        ),
        "\n",
    ).alias("text")


# ---------------------------------------------------------------------------
# mood (SA.scala:243-267)
# ---------------------------------------------------------------------------


def mood_projection(
    df: DataFrame, key_col: Column | str, mood_type: str, value_col: Column | str = None
) -> DataFrame:
    """``buildMoodStream``'s projection step (SA.scala:249-255):
    key = extractor(row), value = sentiment.score * sentiment.magnitude,
    moodType = label. ``value_col`` defaults to the score*magnitude
    product over a ``sentiment`` struct column."""
    k = F.col(key_col) if isinstance(key_col, str) else key_col
    if value_col is None:
        v = F.col("sentiment.score") * F.col("sentiment.magnitude")
    else:
        v = F.col(value_col) if isinstance(value_col, str) else value_col
    keep = [c for c in ("ts", "event_id") if c in df.columns]
    return df.select(
        k.alias("key"),
        v.alias("value"),
        F.lit(mood_type).alias("moodType"),
        *[F.col(c) for c in keep],
    )


def mood_stream(
    df: DataFrame,
    key_col: Column | str,
    mood_type: str,
    timings: tuple[int, int],
    value_col: Column | str = None,
) -> DataFrame:
    """Full ``buildMoodStream`` (SA.scala:243-255): project to
    (key, value, moodType) then aggregate per the timing dispatch —
    ``(t,0)`` tumbling sum, ``(t1,t2)`` sliding sum, ``(0,0)`` unbounded
    running sum emitted per record (the Flink keyed-reduce semantics)."""
    moods = mood_projection(df, key_col, mood_type, value_col)
    t1, t2 = timings
    agg = [exact_sum("value").alias("value"), F.first("moodType").alias("moodType")]
    if t1 == 0 and t2 == 0:
        return cumulative_agg(moods, ["key"], "value").select(
            "key", "value", "moodType", "ts", "event_id"
        )
    return window_agg(moods, ["key"], t1, agg, slide_s=t2 or None)


# ---------------------------------------------------------------------------
# toxicity (SA.scala:304-311)
# ---------------------------------------------------------------------------


def toxicity_stream(
    df: DataFrame,
    sample_size: int,
    threshold: float,
    keys: Sequence[str] = ("key",),
    value_col: str = "value",
    order_cols: Sequence[str] = ("ts", "event_id"),
) -> DataFrame:
    """``buildToxicityStream`` (SA.scala:304-311): per key, sum ``value``
    over count windows of ``sample_size`` rows and keep windows with
    sum <= threshold (the alert condition).

    The filter runs after the aggregate by necessity (it tests the
    aggregated value) — but Catalyst still prunes every unused column
    down to the parquet scan.
    """
    agg = [exact_sum(value_col).alias("value"), F.count("*").alias("n")]
    out = count_window_agg(df, keys, sample_size, agg, order_cols)
    return out.filter(F.col("value") <= F.lit(threshold))


# ---------------------------------------------------------------------------
# topic counts & trending (SA.scala:95-123)
# ---------------------------------------------------------------------------


def topic_counts(
    df: DataFrame, key_col: str, size_s: int, ts_col: str = "ts"
) -> DataFrame:
    """``topicStream`` (SA.scala:95-104): per key, tumbling count.

    The reference maps to ``EntityCount(key, 1)`` then ``sum("count")``;
    in Spark that is literally ``groupBy(window, key).count()`` — the
    partial/final hash aggregate does the map-side pre-sum the Flink
    reduce did."""
    return window_agg(
        df, [key_col], size_s, [F.count("*").alias("count")], ts_col
    ).withColumnRenamed(key_col, "key")


def trending_stream(
    df: DataFrame, key_col: str, size_s: int, ts_col: str = "ts"
) -> DataFrame:
    """The dead-code trending query (SA.scala:106-123), done right:
    per tumbling window, each key's share of all observations.

    Plan shape: one shuffle for the (window, key) hash-aggregate, then an
    analytic total over the window partition — the per-window partition
    count is tiny (distinct keys), so the second exchange moves only
    aggregated rows. At 100 TB the raw-row shuffle happens once.
    """
    counts = topic_counts(df, key_col, size_s, ts_col)
    total = Window.partitionBy("window_start_s")
    return counts.select(
        "window_start_s",
        "key",
        "count",
        F.sum("count").over(total).alias("window_total"),
        (F.col("count") / F.sum("count").over(total)).alias("share"),
    )
