"""The full reference topology as one declarative DAG.

``SentimentAnalysis.scala:34-228`` declares 13 named streams off one
socket source; this module builds the same dataflow over a DataFrame of
wire lines. ``build_topology`` builds every node over a batch frame;
``build_streaming_topology`` builds the eight that run as append-mode
streaming queries. The five streams both need (parsed, entity, topic,
entity-opinion and channel-mood) are defined once, in
``_shared_streams``, and run unchanged as batch or stream — the point of
Structured Streaming's unified model:

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

    entityStream is stateless, like the reference's per-message
    ``flatMap``: a message emits one row per DISTINCT entity token.

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
# event-time lateness bound of every windowed stream (a no-op in batch)
WATERMARK = "10 seconds"


def _moods(df: DataFrame, key_col: str) -> DataFrame:
    # per-message mood; score * magnitude == score_raw / 10 exactly (nlp.py header)
    return df.select(
        F.col(key_col).alias("key"), (F.col("score_raw") / F.lit(10.0)).alias("value"),
        "ts", "event_id",
    )


def _window_mood(mood_type: str) -> list[F.Column]:
    return [(F.sum("score_raw") / F.lit(10.0)).alias("value"),
            F.first(F.lit(mood_type)).alias("moodType")]


def _shared_streams(msgs: DataFrame, sentiment: DataFrame) -> dict[str, DataFrame]:
    """parsedStream, entityStream, topicStream, entityOpinionStream and
    channelMoodStream: the streams both builders define identically.

    Each windowed stream watermarks its input, as append-mode streaming
    requires; on a batch frame Spark removes ``withWatermark`` from the
    plan. entityStream's watermark follows the entity filter, so
    the entity streams' event time advances only on entity-bearing
    lines.

    entityStream explodes each message's distinct tokens, so an entity
    counts once per message without state, as in the reference's
    per-message ``flatMap``. Being stateless, it drops no row behind the
    watermark (the windowed aggregates over it still do), and two
    identical lines in one socket or Kafka micro-batch, which share
    ``event_id = xxhash64(line, ts)``, each emit their own entity rows.
    Entity-stream checkpoints written when an (event_id, key) dedup ran
    here do not restore: that state operator is gone.
    """
    # parsedStream (SA.scala:44-48): 1s windowed concat
    parsed = windows.window_agg(
        msgs.withWatermark("ts", WATERMARK), ["channel", "user"], PARSED_WINDOW_S,
        [window_concat_text()],
    )
    # entityStream (SA.scala:62-93): one row per (message, entity)
    entities = (
        sentiment.select(
            "channel", "user", "ts", "event_id", "score_raw",
            F.explode(F.array_distinct(nlp.tokens("text"))).alias("key"),
        )
        .filter(F.col("key").isin(*nlp.ENTITIES))
        .withWatermark("ts", WATERMARK)
    )
    channels = sentiment.select(F.col("channel").alias("key"), "ts", "score_raw")
    return {
        "parsedStream": parsed,
        "entityStream": entities,
        # topicStream (SA.scala:95-104)
        "topicStream": topic_counts(entities, "key", TOPIC_WINDOW_S),
        # entityOpinionStream / channelMoodStream (SA.scala:175-192)
        "entityOpinionStream": windows.window_agg(
            entities, ["key"], ENTITY_OPINION_WINDOW_S, _window_mood("Entity")
        ),
        "channelMoodStream": windows.window_agg(
            channels.withWatermark("ts", WATERMARK), ["key"], CHANNEL_MOOD_SIZE_S,
            _window_mood("Channel"), slide_s=CHANNEL_MOOD_SLIDE_S,
        ),
    }


def build_topology(lines: DataFrame) -> dict[str, DataFrame]:
    """lines(line, ts, event_id) -> every named stream of the reference.

    Returns the full dict; callers materialize whichever sinks they
    attach (the reference printed sentimentStream and toxicUserStream;
    tests materialize all of them).
    """
    msgs = parse_lines(lines)
    # sentimentStream (SA.scala:55-59)
    sentiment = nlp.with_sentiment(msgs)
    shared = _shared_streams(msgs, sentiment)
    entities = shared["entityStream"]

    # aggregateStream (SA.scala:49-52): 100s windowed concat
    aggregate = windows.window_agg(
        msgs, ["channel", "user"], AGGREGATE_WINDOW_S, [window_concat_text()]
    )
    # the dead trendingStream done right (SA.scala:106-123)
    trending = trending_stream(entities, "key", TOPIC_WINDOW_S)
    # userMoodStream (SA.scala:162-168)
    user_mood = _cumulative_mood(sentiment, "user", "User")

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
        shared["entityOpinionStream"], *TOXIC_TOPIC, order_cols=("window_start_s",)
    )

    # Evident-intent variants (the semantics the reference author likely
    # wanted: count windows over the raw per-message / per-entity moods,
    # channel toxicity keyed by channel) — kept as first-class nodes so
    # both interpretations are queryable (SURVEY.md §2.0 rows 21-24).
    toxic_user_intent = toxicity_stream(_moods(sentiment, "user"), *TOXIC_USER)
    toxic_channel_intent = toxicity_stream(_moods(sentiment, "channel"), *TOXIC_CHANNEL)
    toxic_topic_intent = toxicity_stream(_moods(entities, "key"), *TOXIC_TOPIC)

    return {
        **shared,
        "aggregateStream": aggregate,
        "sentimentStream": sentiment,
        "trendingStream": trending,
        "userMoodStream": user_mood,
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


def build_streaming_topology(lines: DataFrame) -> dict[str, DataFrame]:
    """The reference topology over a STREAMING lines DataFrame: the
    streams Structured Streaming runs in append mode, built by the same
    code as :func:`build_topology` (the unified-model claim, verified
    end-to-end by tests/test_streaming_equivalence.py):

    - sentimentStream: stateless enrichment;
    - parsedStream / entityStream / topicStream / entityOpinionStream /
      channelMoodStream: :func:`_shared_streams`, watermarked windowed
      aggs over a stateless per-message entity explode;
    - toxicUserStream: the literal cumulative-mood count window fused
      into ONE applyInPandasWithState operator (two chained arbitrary
      stateful operators are unsupported — streaming/count_window.py);
      toxicUserStreamIntent is the raw-mood count window.

    Deliberately absent (documented deltas, SURVEY.md §2.6):
    userMood/categoryOpinion cumulative streams run in update mode via
    streaming_cumulative_sum (per-trigger emission, not per-record);
    trendingStream's agg-to-agg ratio join runs in foreachBatch.
    """
    from .streaming import streaming_count_window
    from .streaming.count_window import streaming_toxicity_literal

    msgs = parse_lines(lines)
    sentiment = nlp.with_sentiment(msgs)
    user_moods = _moods(sentiment, "user")
    return {
        "sentimentStream": sentiment,
        **_shared_streams(msgs, sentiment),
        "toxicUserStream": streaming_toxicity_literal(user_moods, *TOXIC_USER),
        "toxicUserStreamIntent": streaming_count_window(user_moods, TOXIC_USER[0]).filter(
            F.col("value") <= TOXIC_USER[1]
        ),
    }
