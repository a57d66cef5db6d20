"""The full reference topology as one declarative DAG.

``SentimentAnalysis.scala:34-228`` declares 13 named streams off one
socket source; this module builds the same dataflow over any message
DataFrame (batch or streaming — the transformations are identical, which
is the point of Structured Streaming's unified model):

    lines ──parse──> parsedStream(1s concat) ──> aggregateStream(100s)
    parsed ──sentiment──> sentimentStream ──> userMoodStream (cumulative)
                                         └──> channelMoodStream (90s/60s)
    userMoodStream ──> toxicUserStream (cw 10 ≤ -10)      [literal:
                  └──> toxicChannelStream (cw 50 ≤ -30)    SA.scala:201-213
                                                           feeds USER moods]
    parsed ──entities──> entityStream ──> topicStream (10s counts)
                                     ├──> entityOpinionStream (30s)
                                     └──> trendingStream (share — dead code
                                           in the reference, SA.scala:106-123)
    entityOpinionStream ──> toxicTopicStream (cw 25 ≤ -20, SA.scala:194-199)
    aggregate ──classify──> categoryStream ──> categorySentimentStream
                                          └──> categoryOpinionStream (cumulative)

    The toxicity streams follow the reference LITERALLY: count windows
    consume the cumulative userMoodStream emissions (toxicUser/
    toxicChannel) and the 30s entityOpinionStream emissions (toxicTopic)
    — summing N running totals, not N raw moods. The evident-intent
    forms (raw per-message/per-entity moods; channel toxicity keyed by
    channel) are the ``*StreamIntent`` nodes.

Every node is a lazily-composed DataFrame; "execute" is whatever action
the caller runs — Catalyst sees the whole DAG and shares the scan.
Fan-out reuses the parent plan by reference exactly like the reference's
val-reuse of streams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import nlp, windows
from .parse import parse_lines
from .pipeline import topic_counts, toxicity_stream, trending_stream, window_concat_text

# Reference parameters (SA.scala:48,52,103,167,175,183,191,194-213)
PARSED_WINDOW_S = 1
AGGREGATE_WINDOW_S = 100
TOPIC_WINDOW_S = 10
ENTITY_OPINION_WINDOW_S = 30
CHANNEL_MOOD_SIZE_S, CHANNEL_MOOD_SLIDE_S = 90, 60
TOXIC_TOPIC = (25, -20.0)
TOXIC_USER = (10, -10.0)
TOXIC_CHANNEL = (50, -30.0)


def _mood_value() -> F.Column:
    # score * magnitude == score_raw / 10 exactly (nlp.py header)
    return (F.col("score_raw") / F.lit(10.0)).alias("value")


def build_topology(lines: DataFrame) -> dict[str, DataFrame]:
    """lines(line, ts, event_id) -> every named stream of the reference.

    Returns the full dict; callers materialize whichever sinks they
    attach (the reference printed sentimentStream and toxicUserStream;
    tests materialize all of them).
    """
    msgs = parse_lines(lines)

    # parsedStream / aggregateStream (SA.scala:44-52): windowed concat
    concat = window_concat_text()
    parsed = windows.tumbling_agg(msgs, ["channel", "user"], PARSED_WINDOW_S, [concat])
    aggregate = windows.tumbling_agg(
        msgs, ["channel", "user"], AGGREGATE_WINDOW_S, [concat]
    )

    # sentimentStream (SA.scala:55-59)
    sentiment = nlp.with_sentiment(msgs)

    # entityStream (SA.scala:62-93): one row per (message, entity)
    entities = (
        sentiment.select(
            "channel", "user", "ts", "event_id", "score_raw",
            F.explode(nlp.tokens("text")).alias("key"),
        )
        .filter(F.col("key").isin(*nlp.ENTITIES))
        .distinct()
    )

    # topicStream (SA.scala:95-104) + the dead trendingStream done right
    topics = topic_counts(entities, "key", TOPIC_WINDOW_S)
    trending = trending_stream(entities, "key", TOPIC_WINDOW_S)

    # mood streams (SA.scala:162-192)
    user_mood = _cumulative_mood(sentiment, "user", "User")
    channel_mood = windows.sliding_agg(
        sentiment.select(F.col("channel").alias("key"), "ts", "score_raw"),
        ["key"],
        CHANNEL_MOOD_SIZE_S,
        CHANNEL_MOOD_SLIDE_S,
        [(F.sum("score_raw") / F.lit(10.0)).alias("value"),
         F.first(F.lit("Channel")).alias("moodType")],
    )
    entity_opinion = windows.tumbling_agg(
        entities,
        ["key"],
        ENTITY_OPINION_WINDOW_S,
        [(F.sum("score_raw") / F.lit(10.0)).alias("value"),
         F.first(F.lit("Entity")).alias("moodType")],
    )

    # categoryStream / categorySentimentStream / categoryOpinionStream
    # (SA.scala:126-160, 178-184) — over the 100s aggregate, as in the
    # reference (the >=25-word guard needs the longer concatenation)
    agg_msgs = aggregate.withColumn(
        "event_id", F.col("window_start_s")  # window identity is the order key
    ).withColumn("ts", F.timestamp_seconds(F.col("window_start_s")))
    category_sentiment = nlp.category_rows(agg_msgs)
    category_opinion = _cumulative_mood(
        category_sentiment.withColumnRenamed("category", "cat"), "cat", "Category"
    )

    # toxicity (SA.scala:194-213) — LITERAL reference wiring:
    # toxicUserStream and toxicChannelStream both consume
    # userMoodStream's cumulative per-record emissions (SA.scala:201-213
    # — including the apparent channel-vs-user bug), and toxicTopicStream
    # consumes the 30s-windowed entityOpinionStream emissions
    # (SA.scala:194-199). Count windows therefore sum N consecutive
    # *running totals* / *window sums*, not N raw moods.
    toxic_user = toxicity_stream(user_mood, *TOXIC_USER)
    toxic_channel = toxicity_stream(user_mood, *TOXIC_CHANNEL)
    toxic_topic = toxicity_stream(
        entity_opinion, *TOXIC_TOPIC, order_cols=("window_start_s",)
    )

    # Evident-intent variants (the semantics the reference author likely
    # wanted: count windows over the raw per-message / per-entity moods,
    # channel toxicity keyed by channel) — kept as first-class nodes so
    # both interpretations are queryable (SURVEY.md §2.0 rows 21-24).
    per_msg_user_mood = sentiment.select(
        F.col("user").alias("key"), _mood_value(), "ts", "event_id"
    )
    per_msg_channel_mood = sentiment.select(
        F.col("channel").alias("key"), _mood_value(), "ts", "event_id"
    )
    per_entity_mood = entities.select("key", _mood_value(), "ts", "event_id")
    toxic_user_intent = toxicity_stream(per_msg_user_mood, *TOXIC_USER)
    toxic_channel_intent = toxicity_stream(per_msg_channel_mood, *TOXIC_CHANNEL)
    toxic_topic_intent = toxicity_stream(per_entity_mood, *TOXIC_TOPIC)

    return {
        "parsedStream": parsed,
        "aggregateStream": aggregate,
        "sentimentStream": sentiment,
        "entityStream": entities,
        "topicStream": topics,
        "trendingStream": trending,
        "userMoodStream": user_mood,
        "channelMoodStream": channel_mood,
        "entityOpinionStream": entity_opinion,
        "categorySentimentStream": category_sentiment,
        "categoryOpinionStream": category_opinion,
        "toxicTopicStream": toxic_topic,
        "toxicUserStream": toxic_user,
        "toxicChannelStream": toxic_channel,
        "toxicTopicStreamIntent": toxic_topic_intent,
        "toxicUserStreamIntent": toxic_user_intent,
        "toxicChannelStreamIntent": toxic_channel_intent,
    }


def _cumulative_mood(df: DataFrame, key_col: str, mood_type: str) -> DataFrame:
    order = [c for c in ("ts", "event_id") if c in df.columns]
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.select(
        F.col(key_col).alias("key"),
        (F.sum("score_raw").over(w) / F.lit(10.0)).alias("value"),
        F.lit(mood_type).alias("moodType"),
        *[F.col(c) for c in order],
    )


def build_streaming_topology(lines: DataFrame, watermark: str = "10 seconds") -> dict[str, DataFrame]:
    """The reference topology over a STREAMING lines DataFrame — the
    same transformation functions as :func:`build_topology` wherever
    Structured Streaming expresses them directly (the unified-model
    claim, verified end-to-end by tests/test_streaming_equivalence.py):

    - sentimentStream: stateless enrichment, identical code;
    - parsedStream / topicStream / entityOpinionStream /
      channelMoodStream: watermarked windowed aggs (append mode);
    - entityStream: the explode + per-(message, entity) dedup uses
      ``dropDuplicates`` keyed on (event_id, key) — watermark-bounded
      state instead of the batch ``distinct()``;
    - toxicUserStream: the literal cumulative-mood count window fused
      into ONE applyInPandasWithState operator (two chained arbitrary
      stateful operators are unsupported — streaming/count_window.py);
      toxicUserStreamIntent is the raw-mood count window.

    Deliberately absent (documented deltas, SURVEY.md §2.6):
    userMood/categoryOpinion cumulative streams run in update mode via
    streaming_cumulative_sum (per-trigger emission, not per-record);
    trendingStream's agg-to-agg ratio join runs in foreachBatch.
    """
    from .streaming import streaming_count_window, streaming_tumbling_agg
    from .streaming.count_window import streaming_toxicity_literal

    msgs = parse_lines(lines)
    sentiment = nlp.with_sentiment(msgs)

    entities = (
        sentiment.select(
            "channel", "user", "ts", "event_id", "score_raw",
            F.explode(nlp.tokens("text")).alias("key"),
        )
        .filter(F.col("key").isin(*nlp.ENTITIES))
        .withWatermark("ts", watermark)
        .dropDuplicates(["event_id", "key"])
    )

    concat = window_concat_text()
    parsed = streaming_tumbling_agg(
        msgs, ["channel", "user"], PARSED_WINDOW_S, [concat], watermark=watermark
    )

    # entities is already watermarked (for its dropDuplicates)
    topics = streaming_tumbling_agg(
        entities, ["key"], TOPIC_WINDOW_S,
        [F.count("*").alias("count")], watermark=None,
    )
    entity_opinion = streaming_tumbling_agg(
        entities, ["key"], ENTITY_OPINION_WINDOW_S,
        [(F.sum("score_raw") / F.lit(10.0)).alias("value"),
         F.first(F.lit("Entity")).alias("moodType")],
        watermark=None,
    )
    channel_mood = streaming_tumbling_agg(
        sentiment.select(F.col("channel").alias("key"), "ts", "score_raw"),
        ["key"], CHANNEL_MOOD_SIZE_S,
        [(F.sum("score_raw") / F.lit(10.0)).alias("value"),
         F.first(F.lit("Channel")).alias("moodType")],
        watermark=watermark, slide_s=CHANNEL_MOOD_SLIDE_S,
    )

    user_moods = sentiment.select(
        F.col("user").alias("key"), _mood_value(), "ts", "event_id"
    )
    toxic_user = streaming_toxicity_literal(user_moods, *TOXIC_USER)
    toxic_user_intent = streaming_count_window(user_moods, TOXIC_USER[0]).filter(
        F.col("value") <= TOXIC_USER[1]
    )

    return {
        "sentimentStream": sentiment,
        "parsedStream": parsed,
        "entityStream": entities,
        "topicStream": topics,
        "entityOpinionStream": entity_opinion,
        "channelMoodStream": channel_mood,
        "toxicUserStream": toxic_user,
        "toxicUserStreamIntent": toxic_user_intent,
    }
