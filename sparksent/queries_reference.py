"""Reference-parity queries (SURVEY.md §2.0 rows 3-5, 9, 10, 16-24)
over the ``events`` fixture, with DuckDB oracles.

Role mapping (FIXTURES.md §A): channel <- event_type, user <- user_id,
text <- props, mood value <- value, event time <- ts, arrival order <-
event_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import parse, pipeline, tables, windows
from .registry import register

# ---------------------------------------------------------------------------
# §2.0 #3 — CSV line parse (SA.scala:45-48)
# ---------------------------------------------------------------------------


@register(
    "parse_lines",
    oracle="""
    SELECT event_type AS channel,
           user_id::VARCHAR AS "user",
           props || ',' || event_type AS text,
           event_id
    FROM events
    """,
    tags=("reference", "parse"),
)
def q_parse_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build wire-format lines ``channel,user,text`` from events (text
    contains a comma to pin the tail-rejoin semantics of
    SA.scala:47 ``drop(2).mkString(",")``), then parse them back.
    The oracle computes the expected fields independently."""
    msgs = tables.messages(spark, sf_dir).withColumn(
        "text", F.concat_ws(",", F.col("text"), F.col("channel"))
    )
    lines = parse.to_raw_lines(msgs).select("line", "event_id")
    return parse.parse_lines(lines).select("channel", "user", "text", "event_id")


# ---------------------------------------------------------------------------
# §2.0 #4/#5 — keyed tumbling window text concatenation (SA.scala:289-302)
# ---------------------------------------------------------------------------


def _window_concat(spark: SparkSession, sf_dir: str, size_s: int) -> DataFrame:
    msgs = tables.messages(spark, sf_dir)
    concat = pipeline.window_concat_text()
    return windows.window_agg(msgs, ["channel", "user"], size_s, [concat])


def _window_concat_oracle(size_s: int) -> str:
    return f"""
    SELECT (floor(epoch(ts))::BIGINT // {size_s}) * {size_s} AS window_start_s,
           event_type AS channel,
           user_id::VARCHAR AS "user",
           string_agg(props, chr(10) ORDER BY ts, event_id) AS text
    FROM events
    GROUP BY 1, 2, 3
    """


@register("window_concat_1s", oracle=_window_concat_oracle(1), tags=("reference", "window"))
def q_window_concat_1s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parsedStream (SA.scala:44-48): per (channel,user), 1s tumbling
    window, concatenate texts with newline in arrival order (pinned to
    (ts, event_id) — SURVEY.md §7.3.5)."""
    return _window_concat(spark, sf_dir, 1)


@register("window_concat_100s", oracle=_window_concat_oracle(100), tags=("reference", "window"))
def q_window_concat_100s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregateStream (SA.scala:51-52): 100s tumbling re-aggregation."""
    return _window_concat(spark, sf_dir, 100)


# ---------------------------------------------------------------------------
# §2.0 #9 — topicStream: keyed tumbling count (SA.scala:95-104)
# ---------------------------------------------------------------------------


@register(
    "topic_count_10s",
    oracle="""
    SELECT (floor(epoch(ts))::BIGINT // 10) * 10 AS window_start_s,
           event_type AS key,
           count(*) AS "count"
    FROM events
    GROUP BY 1, 2
    """,
    tags=("reference", "window"),
)
def q_topic_count_10s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """topicStream (SA.scala:95-104): per key, 10s tumbling count. The
    reference's map-to-(key,1) + sum('count') collapses to a hash
    aggregate with map-side partial counts."""
    ev = tables.load_table(spark, sf_dir, "events")
    return pipeline.topic_counts(ev, "event_type", 10)


# ---------------------------------------------------------------------------
# §2.0 #10 — trendingStream (dead code SA.scala:106-123), the flagship
# ---------------------------------------------------------------------------


@register(
    "trending_10s",
    oracle="""
    WITH c AS (
      SELECT (floor(epoch(ts))::BIGINT // 10) * 10 AS window_start_s,
             event_type AS key, count(*) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT window_start_s, key, cnt AS "count",
           (sum(cnt) OVER (PARTITION BY window_start_s))::BIGINT AS window_total,
           cnt / (sum(cnt) OVER (PARTITION BY window_start_s))::BIGINT AS share
    FROM c
    """,
    tags=("reference", "flagship"),
)
def q_trending_10s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-conversation per 10s window — the query the reference
    author couldn't express in Flink (commented out, SA.scala:106-123).
    Two-level agg: (window,key) counts, analytic per-window total."""
    ev = tables.load_table(spark, sf_dir, "events")
    return pipeline.trending_stream(ev, "event_type", 10)


# ---------------------------------------------------------------------------
# §2.0 #16-18 — mood windows: sliding & cumulative (SA.scala:162-192)
# ---------------------------------------------------------------------------


@register(
    "channel_mood_sliding_90_60",
    oracle="""
    SELECT s AS window_start_s,
           key,
           sum(value::DECIMAL(28,6))::DOUBLE AS value,
           'Channel' AS moodType
    FROM (
      SELECT event_type AS key, value, epoch(ts) AS ep,
             unnest([(floor(epoch(ts) / 60)::BIGINT) * 60,
                     (floor(epoch(ts) / 60)::BIGINT) * 60 - 60]) AS s
      FROM events
    )
    WHERE ep >= s AND ep - s < 90
    GROUP BY 1, 2
    """,
    tags=("reference", "window"),
)
def q_channel_mood_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """channelMoodStream (SA.scala:170-176): mood per channel over a 90s
    window sliding every 60s. Spark's F.window replicates each row into
    the <=2 covering windows map-side, then one hash aggregate. The
    oracle enumerates candidate window starts per row and range-filters."""
    ev = tables.load_table(spark, sf_dir, "events")
    return pipeline.mood_stream(ev, "event_type", "Channel", (90, 60), value_col="value")


@register(
    "user_mood_cumulative",
    oracle="""
    SELECT user_id::VARCHAR AS key,
           sum(value::DECIMAL(28,6))
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)::DOUBLE AS value,
           'User' AS moodType,
           event_id
    FROM events
    """,
    tags=("reference", "window"),
)
def q_user_mood_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """userMoodStream (SA.scala:162-168): timings (0,0) -> Flink's
    unwindowed keyed running reduce, one output per input record with the
    cumulative per-user sum. Batch-exact via ROWS UNBOUNDED PRECEDING
    over (ts, event_id) order (SURVEY.md §2.6.3)."""
    ev = tables.load_table(spark, sf_dir, "events")
    return pipeline.mood_stream(ev, F.col("user_id").cast("string"), "User", (0, 0),
                                value_col="value").select("key", "value", "moodType", "event_id")


# ---------------------------------------------------------------------------
# §2.0 #21-24 — toxicity: count windows + threshold (SA.scala:304-311)
# ---------------------------------------------------------------------------


def _toxicity_oracle(key_sql: str, n: int, threshold: float) -> str:
    return f"""
    WITH b AS (
      SELECT {key_sql} AS key, value, ts, event_id,
             ((row_number() OVER (PARTITION BY {key_sql} ORDER BY ts, event_id)) - 1) // {n}
               AS bucket
      FROM events
    )
    SELECT key, bucket,
           sum(value::DECIMAL(28,6))::DOUBLE AS value,
           count(*) AS n
    FROM b GROUP BY 1, 2
    HAVING sum(value::DECIMAL(28,6))::DOUBLE <= {threshold}
    """


def _toxicity(spark: SparkSession, sf_dir: str, key_col, n: int, threshold: float) -> DataFrame:
    ev = tables.load_table(spark, sf_dir, "events")
    keyed = ev.select(
        key_col.alias("key"), F.col("value"), F.col("ts"), F.col("event_id")
    )
    return pipeline.toxicity_stream(keyed, n, threshold)


@register(
    "toxic_user_cw10",
    oracle=_toxicity_oracle("user_id::VARCHAR", 10, 450.0),
    tags=("reference", "count_window"),
)
def q_toxic_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """toxicUserStream (SA.scala:201-206), EVIDENT-INTENT form: count
    windows of 10 RAW per-event mood values per user, sum, alert (keep)
    windows with sum <= threshold. The reference literally feeds the
    cumulative userMoodStream emissions instead — that wiring is
    ``toxic_user_literal_cw10`` below. The reference's threshold (-10)
    assumes signed sentiment moods; over the all-positive events.value
    fixture we use an in-range threshold (450) so the filter is
    exercised — the NLP-mood variant in queries_nlp.py uses the
    reference's own parameters."""
    return _toxicity(spark, sf_dir, F.col("user_id").cast("string"), 10, 450.0)


@register(
    "toxic_topic_cw25",
    oracle=_toxicity_oracle("event_type", 25, 1300.0),
    tags=("reference", "count_window"),
)
def q_toxic_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """toxicTopicStream (SA.scala:194-199), EVIDENT-INTENT form: count
    windows of 25 raw per-event moods per entity key (threshold adapted
    as in toxic_user_cw10). The reference literally consumes the
    30s-windowed entityOpinionStream emissions —
    ``toxic_topic_literal_cw25`` below."""
    return _toxicity(spark, sf_dir, F.col("event_type"), 25, 1300.0)


@register(
    "toxic_channel_cw50",
    oracle=_toxicity_oracle("user_id::VARCHAR", 50, 2600.0),
    tags=("reference", "count_window"),
)
def q_toxic_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """toxicChannelStream (SA.scala:208-213), keyed by USER because the
    reference consumes userMoodStream here, not channelMoodStream
    (apparent bug, SURVEY.md §2.0 #24) — but over raw per-event moods;
    the reference's full literal wiring (cumulative emissions) is
    ``toxic_channel_literal_cw50`` below."""
    return _toxicity(spark, sf_dir, F.col("user_id").cast("string"), 50, 2600.0)


# --- literal wiring (SA.scala:194-213): count windows over the
# cumulative userMoodStream / 30s entityOpinionStream EMISSIONS, exactly
# as the reference composes its streams (summing N running totals is
# semantically odd, which is why the evident-intent forms above exist —
# but the literal behavior is what a reference user observes, so it is
# implemented and oracle-verified too; topology.py wires these names).


def _cumulative_toxicity_oracle(n: int, threshold: float) -> str:
    return f"""
    WITH c AS (
      SELECT user_id::VARCHAR AS key,
             sum(value::DECIMAL(28,6))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)::DOUBLE AS value,
             ts, event_id
      FROM events
    ),
    b AS (
      SELECT key, value,
             ((row_number() OVER (PARTITION BY key ORDER BY ts, event_id)) - 1) // {n}
               AS bucket
      FROM c
    )
    SELECT key, bucket,
           sum(value::DECIMAL(28,6))::DOUBLE AS value,
           count(*) AS n
    FROM b GROUP BY 1, 2
    HAVING sum(value::DECIMAL(28,6))::DOUBLE <= {threshold}
    """


def _cumulative_toxicity(spark: SparkSession, sf_dir: str, n: int, threshold: float) -> DataFrame:
    ev = tables.load_table(spark, sf_dir, "events")
    moods = pipeline.mood_stream(
        ev, F.col("user_id").cast("string"), "User", (0, 0), value_col="value"
    )
    return pipeline.toxicity_stream(
        moods.select("key", "value", "ts", "event_id"), n, threshold
    )


@register(
    "toxic_user_literal_cw10",
    oracle=_cumulative_toxicity_oracle(10, 7800.0),
    tags=("reference", "count_window"),
)
def q_toxic_user_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """toxicUserStream LITERAL (SA.scala:201-206): the count window
    consumes userMoodStream's cumulative per-record emissions — each
    window of 10 sums ten consecutive RUNNING totals. One extra shuffle
    vs the intent form (the cumulative analytic), same (key, bucket)
    aggregate after. Threshold at ~P25 of the window sums so the alert
    filter keeps a nontrivial subset."""
    return _cumulative_toxicity(spark, sf_dir, 10, 7800.0)


@register(
    "toxic_channel_literal_cw50",
    oracle=_cumulative_toxicity_oracle(50, 45000.0),
    tags=("reference", "count_window"),
)
def q_toxic_channel_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """toxicChannelStream LITERAL (SA.scala:208-213): same cumulative
    userMoodStream input (the reference's channel-vs-user bug), N=50."""
    return _cumulative_toxicity(spark, sf_dir, 50, 45000.0)


@register(
    "toxic_topic_literal_cw25",
    oracle="""
    WITH e AS (
      SELECT event_type AS key,
             (floor(epoch(ts))::BIGINT // 30) * 30 AS window_start_s,
             sum(value::DECIMAL(28,6))::DOUBLE AS value
      FROM events GROUP BY 1, 2
    ),
    b AS (
      SELECT key, value,
             ((row_number() OVER (PARTITION BY key ORDER BY window_start_s)) - 1) // 25
               AS bucket
      FROM e
    )
    SELECT key, bucket,
           sum(value::DECIMAL(28,6))::DOUBLE AS value,
           count(*) AS n
    FROM b GROUP BY 1, 2
    HAVING sum(value::DECIMAL(28,6))::DOUBLE <= 1070.0
    """,
    tags=("reference", "count_window"),
)
def q_toxic_topic_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """toxicTopicStream LITERAL (SA.scala:194-199): the count window
    consumes the 30s-tumbling entityOpinionStream emissions, ordered by
    window start — each window of 25 sums 25 consecutive 30s-window
    sums per key."""
    ev = tables.load_table(spark, sf_dir, "events")
    opinion = pipeline.mood_stream(ev, "event_type", "Entity", (30, 0), value_col="value")
    return pipeline.toxicity_stream(
        opinion.select("key", "value", "window_start_s"),
        25,
        1070.0,
        order_cols=("window_start_s",),
    )
