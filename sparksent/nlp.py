"""Deterministic NLP enrichment — the public-knowledge replacement for
the reference's Google Cloud Natural Language calls (SURVEY.md §2.8).

The reference calls three external APIs per message (SentimentAnalysis
.scala:231-240 sentiment, :62-93 entity sentiment, :126-148 classify),
creating a new API client per record — the dominant cost by construction
(BASELINE.md). Here each becomes a *pure expression pipeline* over a
closed lexicon (AFINN-style word->integer weights):

- JVM-side only: map-literal lookup + ``F.aggregate`` over the token
  array — stays inside whole-stage codegen, no Python UDF, no shuffle,
  no per-record client;
- integer arithmetic until a final division (SURVEY.md §7.3.4), so the
  DuckDB oracle (generated from the same tables below) reproduces every
  value bit-for-bit;
- trivially scalable: per-row expressions with a broadcast-free constant
  lexicon folded into the plan.

Semantics mapping:
- ``score_raw``  = sum of token weights          (document "polarity")
- ``mag_raw``    = sum of |token weights|        (document "intensity")
- ``score``      = score_raw / max(mag_raw, 1)   in [-1, 1] like the API
- ``magnitude``  = mag_raw / 10.0                >= 0 like the API
- mood value (score * magnitude) simplifies to ``score_raw / 10`` — so
  mood aggregation sums BIGINT ``score_raw`` and divides once at the
  end: exact, associative, shuffle-order-independent.

Entity extraction (SA.scala:62-93): entities are the closed ENTITY set;
salience = mentions / n_tokens. Per-entity sentiment uses the document
sentiment (the reference's per-entity token-window sentiment is an
external-API behavior we replace; the operator shape — flatMap to
0..n entity rows — is preserved).

Classification (SA.scala:126-148): the >=25-word guard, then per
category confidence = matching-token count / n_tokens, emitting one row
per matched category (the reference's List[Category] explode).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# the closed lexicons (the fixture vocabulary is 31 tokens — FIXTURES.md)
# ---------------------------------------------------------------------------

LEXICON: dict[str, int] = {
    # positive
    "fast": 2,
    "spark": 1,
    "merge": 1,
    "vector": 1,
    "big": 1,
    "join": 1,
    "query": 1,
    "stream": 1,
    "batch": 1,
    "group": 1,
    # negative (weighted so document moods are signed with a negative
    # tilt — the reference's toxicity thresholds assume mood sums that
    # can actually go negative, SA.scala:194-213)
    "slow": -4,
    "dup": -4,
    "scan": -3,
    "small": -2,
    "hash": -1,
    "sort": -2,
    "filter": -1,
    "part": -1,
}

ENTITIES: tuple[str, ...] = (
    "spark",
    "customer",
    "table",
    "vector",
    "window",
    "hash",
    "stream",
    "query",
)

# token -> category (single membership)
CATEGORIES: dict[str, str] = {
    "table": "storage",
    "row": "storage",
    "column": "storage",
    "scan": "storage",
    "part": "storage",
    "join": "execution",
    "sort": "execution",
    "merge": "execution",
    "agg": "execution",
    "group": "execution",
    "filter": "execution",
    "order": "execution",
    "hash": "execution",
    "stream": "streaming",
    "batch": "streaming",
    "window": "streaming",
    "line": "streaming",
    "vector": "vector_search",
    "key": "vector_search",
    "query": "vector_search",
}

MIN_CLASSIFY_TOKENS = 25  # the reference's word-count guard (SA.scala:129)


# ---------------------------------------------------------------------------
# Spark expression builders (all JVM-side, codegen-friendly)
# ---------------------------------------------------------------------------


def _weight_map_expr() -> str:
    """Spark-SQL text of the lexicon map literal, as ONE parseable
    string.  Column-object construction of the map + the aggregate
    lambda costs ~100 py4j round trips per call site (~0.1 s of driver
    plan-build time per consumer query, measured by cProfile: the time
    is socket.recv_into); a single F.expr is one round trip and yields
    the same Catalyst expression (guide §7.3: plan-construction time
    is driver-side, single-threaded work)."""
    return "map(" + ", ".join(f"'{w}', {k}" for w, k in LEXICON.items()) + ")"


def tokens(text: str) -> Column:
    return F.split(F.col(text), " ")


def score_raw(text: str) -> Column:
    """Sum of lexicon weights over the tokens of column ``text`` (BIGINT)."""
    return F.expr(
        f"aggregate(split(`{text}`, ' '), CAST(0 AS BIGINT), "
        f"(acc, w) -> acc + coalesce("
        f"try_element_at({_weight_map_expr()}, w), 0))"
    )


def magnitude_raw(text: str) -> Column:
    """Sum of |lexicon weights| over the tokens of column ``text`` (BIGINT)."""
    return F.expr(
        f"aggregate(split(`{text}`, ' '), CAST(0 AS BIGINT), "
        f"(acc, w) -> acc + abs(coalesce("
        f"try_element_at({_weight_map_expr()}, w), 0)))"
    )


def with_sentiment(df: DataFrame, text_col: str = "text") -> DataFrame:
    """sentimentStream's enrichment (SA.scala:55-59): adds score_raw,
    mag_raw (exact ints) and score, magnitude (API-shaped floats)."""
    return (
        df.withColumn("score_raw", score_raw(text_col))
        .withColumn("mag_raw", magnitude_raw(text_col))
        .withColumn(
            "score", F.col("score_raw") / F.greatest(F.col("mag_raw"), F.lit(1))
        )
        .withColumn("magnitude", F.col("mag_raw") / F.lit(10.0))
    )


def with_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("n_tokens", F.size(tokens(text_col)))


def entity_rows(df: DataFrame, text_col: str = "text") -> DataFrame:
    """entityStream (SA.scala:62-93): flatMap each document into 0..n
    entity rows (key, mentions, salience) + the document sentiment.

    Plan: per-row token explode -> filter to the entity set -> one hash
    aggregate on (doc keys, entity). The sentiment/n_tokens columns are
    computed before the explode and ride along as grouping keys, so no
    second join is needed.
    """
    base = with_token_count(with_sentiment(df, text_col), text_col)
    carried = [c for c in base.columns if c != text_col]
    exploded = base.select(
        *carried, F.explode(tokens(text_col)).alias("entity_key")
    ).filter(F.col("entity_key").isin(*ENTITIES))
    return (
        exploded.groupBy(*carried, "entity_key")
        .agg(F.count("*").alias("mentions"))
        .withColumn("salience", F.col("mentions") / F.col("n_tokens"))
    )


def category_rows(df: DataFrame, text_col: str = "text") -> DataFrame:
    """categoryStream + explode (SA.scala:126-160): documents with >=25
    tokens, one row per matched category with confidence = hits/n_tokens.
    Same explode-aggregate shape as entity_rows with the token->category
    map applied before grouping."""
    # one-expr map literal, same rationale as _weight_map_expr
    cmap_expr = (
        "map(" + ", ".join(f"'{w}', '{c}'" for w, c in CATEGORIES.items()) + ")"
    )
    base = with_token_count(with_sentiment(df, text_col), text_col).filter(
        F.col("n_tokens") >= MIN_CLASSIFY_TOKENS
    )
    carried = [c for c in base.columns if c != text_col]
    exploded = (
        base.select(*carried, F.explode(tokens(text_col)).alias("tok"))
        .select(
            *carried,
            F.expr(f"try_element_at({cmap_expr}, tok)").alias("category"),
        )
        .filter(F.col("category").isNotNull())
    )
    return (
        exploded.groupBy(*carried, "category")
        .agg(F.count("*").alias("hits"))
        .withColumn("confidence", F.col("hits") / F.col("n_tokens"))
    )


# ---------------------------------------------------------------------------
# DuckDB SQL mirrors (generated from the same tables — single source)
# ---------------------------------------------------------------------------


def lexicon_case_sql(var: str = "tok", absolute: bool = False) -> str:
    """CASE expression mapping a token to its (|weight| if absolute)."""
    arms = " ".join(
        f"WHEN '{w}' THEN {abs(k) if absolute else k}" for w, k in LEXICON.items()
    )
    return f"CASE {var} {arms} ELSE 0 END"


def score_raw_sql(text: str = "text") -> str:
    return (
        f"coalesce(list_sum([{lexicon_case_sql('tok')} "
        f"FOR tok IN string_split({text}, ' ')]), 0)::BIGINT"
    )


def magnitude_raw_sql(text: str = "text") -> str:
    return (
        f"coalesce(list_sum([{lexicon_case_sql('tok', absolute=True)} "
        f"FOR tok IN string_split({text}, ' ')]), 0)::BIGINT"
    )


def entity_list_sql() -> str:
    return "(" + ", ".join(f"'{e}'" for e in ENTITIES) + ")"


def category_case_sql(var: str = "tok") -> str:
    arms = " ".join(f"WHEN '{t}' THEN '{c}'" for t, c in CATEGORIES.items())
    return f"CASE {var} {arms} ELSE NULL END"


# ---------------------------------------------------------------------------
# MLlib sentiment (the learned alternative to the lexicon scorer)
# ---------------------------------------------------------------------------


def mllib_sentiment(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Learned sentiment via an MLlib pipeline (Tokenizer -> HashingTF ->
    LogisticRegression), trained on the deterministic lexicon labels
    (score_raw > 0) and applied back to the corpus — the BASELINE.json
    "MLlib sentiment" path. Inference is a pure per-row model transform
    (broadcast coefficients, no shuffle); training is one treeAggregate
    pass per LBFGS iteration.

    Oracle strategy: model internals aren't SQL-mirrorable, but the
    model is sized to SEPARATE the training set perfectly (4096 hash
    features, no regularization, 30 LBFGS iterations over ~10-word
    docs) with a min correct-class probability > 0.9998 at every
    fixture SF — so ``prediction == label`` deterministically, with a
    margin far beyond partition-order float noise. The DuckDB oracle
    therefore asserts (doc_id, label, prediction=label): a real check
    that the learned pipeline reproduces the lexicon labeling exactly.
    ``p_positive`` is model-internal and stays out of the oracle-checked
    column set (pytest covers its range/margin instead).
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF, Tokenizer
    from pyspark.ml.functions import vector_to_array

    labeled = with_sentiment(df, text_col).withColumn(
        "label", (F.col("score_raw") > 0).cast("double")
    )
    pipe = Pipeline(
        stages=[
            Tokenizer(inputCol=text_col, outputCol="toks"),
            HashingTF(inputCol="toks", outputCol="features", numFeatures=4096),
            LogisticRegression(maxIter=30, regParam=0.0),
        ]
    )
    model = pipe.fit(labeled)
    return model.transform(labeled).select(
        F.col(id_col),
        "label",
        "prediction",
        vector_to_array("probability").getItem(1).alias("p_positive"),
    )


# ---------------------------------------------------------------------------
# Frozen-model sentiment inference (the hash-checkable margin surface)
# ---------------------------------------------------------------------------
#
# Why the LIVE-trained model's p_positive cannot be hash-checked
# cross-engine (measured, round 6):
#  1. The LBFGS gradient is a ``treeAggregate`` whose double-summation
#     order depends on the partition layout, so the learned
#     coefficients differ between driver session configs — measured
#     max |Δcoef| ≈ 4.5e-10 (repartition(4) vs repartition(13),
#     identical data).  Quantizing in-query cannot fix it: ~2 of 4096
#     coefficients would land within jitter of any 1e-6 boundary.
#  2. Even with fixed weights, p = sigmoid(margin) needs exp(), and
#     JVM Math.exp is not bit-identical to DuckDB's libm exp.
# The frozen path removes both: weights are a committed integer table
# (ext/frozen_sentiment.py — the freeze tool documents the training
# run), and the emitted statistic is the raw BIGINT margin, of which
# sigmoid is a strictly monotone function — same information, exact
# arithmetic.


def frozen_sentiment_margin(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Batch inference of the frozen sentiment LR: per-document margin
    in integer micro-units via a broadcast join of the committed
    token->weight table — the realistic 100-TB scoring shape (model
    trains once, then scores petabytes with zero shuffles beyond the
    per-doc sum, which is map-side combinable on doc_id)."""
    from .ext.frozen_sentiment import INTERCEPT_E6, WEIGHTS_E6

    spark = df.sparkSession
    wdf = spark.createDataFrame(
        sorted(WEIGHTS_E6.items()), "tok string, w_e6 long"
    )
    toks = (
        df.select(id_col, F.explode(F.split(F.lower(text_col), " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    summed = (
        toks.join(F.broadcast(wdf), "tok")
        .groupBy(id_col)
        .agg(F.sum("w_e6").alias("s"))
    )
    return (
        df.select(id_col)
        .join(summed, id_col, "left")
        .select(
            id_col,
            (F.coalesce("s", F.lit(0)) + F.lit(INTERCEPT_E6))
            .cast("long")
            .alias("margin_e6"),
        )
        .withColumn("prediction", (F.col("margin_e6") > 0).cast("double"))
    )


def frozen_sentiment_margin_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB mirror of :func:`frozen_sentiment_margin`: the same
    committed weights inlined as a VALUES join table, the same
    whitespace tokenization, the same exact BIGINT margin sum."""
    from .ext.frozen_sentiment import INTERCEPT_E6, WEIGHTS_E6

    values = ",\n      ".join(
        f"({tok!r}, {w})" for tok, w in sorted(WEIGHTS_E6.items())
    )
    return f"""
    WITH w(tok, w_e6) AS (VALUES
      {values}
    ),
    toks AS (
      SELECT {id_col}, unnest(string_split(lower({text_col}), ' ')) AS tok
      FROM {table}
    ),
    s AS (
      SELECT t.{id_col}, sum(w.w_e6)::BIGINT AS s
      FROM toks t JOIN w ON t.tok = w.tok
      WHERE t.tok <> ''
      GROUP BY 1
    )
    SELECT d.{id_col},
           (coalesce(s.s, 0) + ({INTERCEPT_E6}))::BIGINT AS margin_e6,
           CASE WHEN coalesce(s.s, 0) + ({INTERCEPT_E6}) > 0
                THEN 1.0 ELSE 0.0 END AS prediction
    FROM {table} d LEFT JOIN s USING ({id_col})
    """
