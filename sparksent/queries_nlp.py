"""NLP-enrichment queries (SURVEY.md §2.0 rows 6, 7, 11-13, 17, 19, 20,
23) over ``documents`` and the events-joined message stream, with DuckDB
oracles generated from the same lexicons (sparksent.nlp).

The message stream joins ``events`` to ``documents`` on
``doc_id = event_id % 500`` (FIXTURES.md §B2 — doc_ids 0..499 exist at
every scale factor). ``documents`` is dimension-sized, so the join is a
broadcast hash join: no shuffle of the event stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import nlp, tables, windows
from .pipeline import toxicity_stream
from .registry import register

# ---------------------------------------------------------------------------
# shared builders
# ---------------------------------------------------------------------------


def _events_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load_table(spark, sf_dir, "events").select(
        "event_id", "ts", F.col("user_id").cast("string").alias("user"),
        F.col("event_type").alias("channel"),
        (F.col("event_id") % 500).alias("doc_id"),
    )


def scored_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentiment-scored documents DIMENSION. Scoring runs once per
    distinct document (500 per SF unit) instead of once per event (the
    fact side re-references each document ~200x) — enrich the dimension,
    broadcast the scores. The expensive lexicon aggregation never
    touches the fact stream."""
    docs = tables.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return nlp.with_sentiment(nlp.with_token_count(docs))


def nlp_messages_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's message stream with real text — events (channel
    <- event_type, user <- user_id) broadcast-joined to sentiment-scored
    documents on ``doc_id = event_id % 500``. Scoring runs on the
    dimension, once per document, not once per event."""
    ev = _events_keyed(spark, sf_dir)
    return ev.join(F.broadcast(scored_docs(spark, sf_dir)), "doc_id").drop("doc_id")


_MSGS_SQL = """
    msgs AS (
      SELECT e.event_id, e.ts, e.user_id::VARCHAR AS "user",
             e.event_type AS channel, d.text
      FROM events e JOIN documents d ON d.doc_id = e.event_id % 500
    )
"""


# ---------------------------------------------------------------------------
# §2.0 #6 — document sentiment (SA.scala:55-59, 231-240)
# ---------------------------------------------------------------------------


@register(
    "doc_sentiment",
    oracle=f"""
    SELECT doc_id,
           {nlp.score_raw_sql()} AS score_raw,
           {nlp.magnitude_raw_sql()} AS mag_raw,
           {nlp.score_raw_sql()} / greatest({nlp.magnitude_raw_sql()}, 1) AS score,
           {nlp.magnitude_raw_sql()} / 10.0 AS magnitude
    FROM documents
    """,
    tags=("nlp",),
)
def q_doc_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sentimentStream (SA.scala:55-59): per-document sentiment via the
    deterministic lexicon — a pure projection, no shuffle, fully inside
    whole-stage codegen (vs the reference's blocking RPC per record)."""
    docs = tables.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return nlp.with_sentiment(docs).drop("text")


# ---------------------------------------------------------------------------
# §2.0 #7 — entity extraction flatMap (SA.scala:62-93)
# ---------------------------------------------------------------------------


@register(
    "doc_entities",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             {nlp.score_raw_sql()} AS score_raw,
             len(string_split(text, ' ')) AS n_tokens,
             text
      FROM documents
    )
    SELECT doc_id, tok AS key, count(*)::BIGINT AS mentions,
           count(*) / any_value(n_tokens) AS salience,
           any_value(score_raw) / 10.0 AS value
    FROM (SELECT doc_id, score_raw, n_tokens,
                 unnest(string_split(text, ' ')) AS tok FROM d)
    WHERE tok IN {nlp.entity_list_sql()}
    GROUP BY doc_id, tok
    """,
    tags=("nlp", "explode"),
)
def q_doc_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entityStream (SA.scala:62-93): flatMap each document to 0..n
    entity rows with salience and a mood value (score*magnitude =
    score_raw/10 — see nlp.py header)."""
    docs = tables.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rows = nlp.entity_rows(docs)
    return rows.select(
        "doc_id",
        F.col("entity_key").alias("key"),
        "mentions",
        "salience",
        (F.col("score_raw") / F.lit(10.0)).alias("value"),
    )


# ---------------------------------------------------------------------------
# §2.0 #11/#12 — classify + category sentiment explode (SA.scala:126-160)
# ---------------------------------------------------------------------------


@register(
    "doc_categories",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             {nlp.score_raw_sql()} AS score_raw,
             {nlp.magnitude_raw_sql()} AS mag_raw,
             len(string_split(text, ' ')) AS n_tokens,
             text
      FROM documents
    )
    SELECT doc_id, cat AS category, count(*)::BIGINT AS hits,
           count(*) / any_value(n_tokens) AS confidence,
           any_value(score_raw) / greatest(any_value(mag_raw), 1) AS score
    FROM (SELECT doc_id, score_raw, mag_raw, n_tokens,
                 {nlp.category_case_sql('tok')} AS cat
          FROM (SELECT doc_id, score_raw, mag_raw, n_tokens,
                       unnest(string_split(text, ' ')) AS tok FROM d))
    WHERE cat IS NOT NULL AND n_tokens >= {nlp.MIN_CLASSIFY_TOKENS}
    GROUP BY doc_id, cat
    """,
    tags=("nlp", "explode"),
)
def q_doc_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """categoryStream + categorySentimentStream (SA.scala:126-160):
    >=25-token documents classified by the keyword->category table, one
    row per matched category with confidence and document sentiment —
    the reference's MessageCategories explode."""
    docs = tables.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rows = nlp.category_rows(docs)
    return rows.select("doc_id", "category", "hits", "confidence", "score")


# ---------------------------------------------------------------------------
# §2.0 #17 — userMoodStream with real sentiment, cumulative (SA.scala:162-168)
# ---------------------------------------------------------------------------


@register(
    "user_mood_nlp_cumulative",
    oracle=f"""
    WITH {_MSGS_SQL},
    scored AS (
      SELECT "user", event_id, ts, {nlp.score_raw_sql()} AS score_raw FROM msgs
    )
    SELECT "user" AS key,
           (sum(score_raw) OVER (PARTITION BY "user" ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING)) / 10.0 AS value,
           'User' AS moodType,
           event_id
    FROM scored
    """,
    tags=("nlp", "window"),
)
def q_user_mood_nlp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """userMoodStream (SA.scala:162-168) with lexicon sentiment: running
    per-user mood emitted per record. Sums BIGINT score_raw and divides
    once — exact under any partitioning. Scores come pre-computed off
    the broadcast documents dimension (scored_docs)."""
    msgs = nlp_messages_scored(spark, sf_dir)
    w = (
        Window.partitionBy("user")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return msgs.select(
        F.col("user").alias("key"),
        (F.sum("score_raw").over(w) / F.lit(10.0)).alias("value"),
        F.lit("User").alias("moodType"),
        "event_id",
    )


# ---------------------------------------------------------------------------
# §2.0 #20 — entityOpinionStream: 30s tumbling entity mood (SA.scala:186-192)
# ---------------------------------------------------------------------------


@register(
    "entity_opinion_30s",
    oracle=f"""
    WITH {_MSGS_SQL},
    ent AS (
      SELECT DISTINCT event_id, ts, {nlp.score_raw_sql()} AS score_raw, tok AS key
      FROM (SELECT event_id, ts, text, unnest(string_split(text, ' ')) AS tok
            FROM msgs)
      WHERE tok IN {nlp.entity_list_sql()}
    )
    SELECT (floor(epoch(ts))::BIGINT // 30) * 30 AS window_start_s,
           key,
           sum(score_raw) / 10.0 AS value,
           'Entity' AS moodType
    FROM ent GROUP BY 1, 2
    """,
    tags=("nlp", "window"),
)
def q_entity_opinion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entityOpinionStream (SA.scala:186-192): one mood row per distinct
    (message, entity), summed per entity over 30s tumbling windows. The
    token explode + entity filter run on the 500-row documents dimension
    and ride the broadcast join — never on the event stream."""
    d_ents = (
        scored_docs(spark, sf_dir)
        .select(
            "doc_id", "score_raw",
            F.explode(F.array_distinct(nlp.tokens("text"))).alias("key"),
        )
        .filter(F.col("key").isin(*nlp.ENTITIES))
    )
    ents = (
        _events_keyed(spark, sf_dir)
        .join(F.broadcast(d_ents), "doc_id")
        .select("event_id", "ts", "score_raw", "key")
    )
    agg = [
        (F.sum("score_raw") / F.lit(10.0)).alias("value"),
        F.first(F.lit("Entity")).alias("moodType"),
    ]
    return windows.window_agg(ents, ["key"], 30, agg)


# ---------------------------------------------------------------------------
# §2.0 #19 — categoryOpinionStream: cumulative category mood (SA.scala:178-184)
# ---------------------------------------------------------------------------


@register(
    "category_opinion_cumulative",
    oracle=f"""
    WITH {_MSGS_SQL},
    cs AS (
      SELECT DISTINCT event_id, ts, {nlp.score_raw_sql()} AS score_raw,
             {nlp.category_case_sql('tok')} AS key
      FROM (SELECT event_id, ts, text, unnest(string_split(text, ' ')) AS tok
            FROM msgs
            WHERE len(string_split(text, ' ')) >= {nlp.MIN_CLASSIFY_TOKENS})
      WHERE {nlp.category_case_sql('tok')} IS NOT NULL
    )
    SELECT key,
           (sum(score_raw) OVER (PARTITION BY key ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING)) / 10.0 AS value,
           'Category' AS moodType,
           event_id
    FROM cs
    """,
    tags=("nlp", "window"),
)
def q_category_opinion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """categoryOpinionStream (SA.scala:178-184): per-category running
    mood over the categorySentiment explode (guarded at >=25 tokens),
    one output per (message, category) arrival. Classification explodes
    the 500-row documents dimension, not the event stream."""
    cmap = F.create_map(*[F.lit(x) for kv in nlp.CATEGORIES.items() for x in kv])
    d_cats = (
        scored_docs(spark, sf_dir)
        .filter(F.col("n_tokens") >= nlp.MIN_CLASSIFY_TOKENS)
        .select("doc_id", "score_raw", F.explode(nlp.tokens("text")).alias("tok"))
        .select(
            "doc_id", "score_raw", F.try_element_at(cmap, F.col("tok")).alias("key")
        )
        .filter(F.col("key").isNotNull())
        .distinct()
    )
    cats = (
        _events_keyed(spark, sf_dir)
        .join(F.broadcast(d_cats), "doc_id")
        .select("event_id", "ts", "score_raw", "key")
    )
    w = (
        Window.partitionBy("key")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cats.select(
        "key",
        (F.sum("score_raw").over(w) / F.lit(10.0)).alias("value"),
        F.lit("Category").alias("moodType"),
        "event_id",
    )


# ---------------------------------------------------------------------------
# §2.0 #23 — toxicUserStream with the reference's own parameters
# ---------------------------------------------------------------------------


@register(
    "toxic_user_nlp_cw10",
    oracle=f"""
    WITH {_MSGS_SQL},
    scored AS (
      SELECT "user" AS key, ts, event_id, {nlp.score_raw_sql()} AS score_raw
      FROM msgs
    ),
    b AS (
      SELECT key, score_raw, ts, event_id,
             ((row_number() OVER (PARTITION BY key ORDER BY ts, event_id)) - 1) // 10
               AS bucket
      FROM scored
    )
    SELECT key, bucket, sum(score_raw) / 10.0 AS value, count(*) AS n
    FROM b GROUP BY 1, 2
    HAVING sum(score_raw) / 10.0 <= -10.0
    """,
    tags=("nlp", "count_window"),
)
def q_toxic_user_nlp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """toxicUserStream (SA.scala:201-206) with real signed moods and the
    reference's own parameters: count windows of 10 messages per user,
    alert when the summed mood <= -10. Scores come pre-computed off the
    broadcast documents dimension (scored_docs)."""
    msgs = nlp_messages_scored(spark, sf_dir)
    keyed = msgs.select(
        F.col("user").alias("key"), "score_raw", "ts", "event_id"
    )
    agg = [
        (F.sum("score_raw") / F.lit(10.0)).alias("value"),
        F.count("*").alias("n"),
    ]
    out = windows.count_window_agg(keyed, ["key"], 10, agg)
    return out.filter(F.col("value") <= F.lit(-10.0))


# ---------------------------------------------------------------------------
# MLlib sentiment (BASELINE.json approach: "Structured Streaming + MLlib
# sentiment") — learned scorer. The model perfectly separates its
# training labels with >0.999999 margins (see nlp.mllib_sentiment), so
# prediction == lexicon label deterministically and the oracle can
# assert the full (doc_id, label, prediction) surface in SQL.
# ---------------------------------------------------------------------------


@register(
    "doc_sentiment_mllib",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN {nlp.score_raw_sql()} > 0 THEN 1.0 ELSE 0.0 END AS label,
           CASE WHEN {nlp.score_raw_sql()} > 0 THEN 1.0 ELSE 0.0 END AS prediction
    FROM documents
    """,
    # capability: bench.py times it outside the headline sum — in-query
    # LBFGS training
    tags=("nlp", "mllib", "capability"),
)
def q_doc_sentiment_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer -> HashingTF -> LogisticRegression pipeline trained on
    the lexicon labels and applied to the corpus (sparksent.nlp
    .mllib_sentiment). Inference broadcasts the coefficient vector —
    per-row, shuffle-free. The oracle asserts the model reproduces the
    lexicon labeling exactly (it separates the training set with wide
    margins); live-trained p_positive is measurably impossible to
    hash-check cross-engine (LBFGS treeAggregate summation order +
    Math.exp vs libm exp — see the note above nlp.frozen_sentiment_margin),
    so the margin surface is covered by doc_sentiment_frozen_margin
    instead."""
    docs = tables.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return nlp.mllib_sentiment(docs).drop("p_positive")


@register(
    "doc_sentiment_frozen_margin",
    oracle=nlp.frozen_sentiment_margin_sql(),
    tags=("nlp", "mllib", "inference"),
)
def q_doc_sentiment_frozen_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-model sentiment scoring: the committed integer weight
    table (ext/frozen_sentiment.py, trained once by
    tools/freeze_sentiment_model.py) broadcast-joined onto the token
    stream, per-doc margin summed in exact BIGINT micro-units —
    sigmoid is strictly monotone in the margin, so this is the
    hash-checkable form of p_positive that the live-training query
    cannot provide (measured impossibility documented in nlp.py).
    Scale: broadcast join + one map-side-combinable doc_id sum; the
    only data-sized stage is the token explode."""
    docs = tables.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return nlp.frozen_sentiment_margin(docs)
