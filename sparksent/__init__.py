"""sparksent — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference system
``traubad/FlinkSentimentAnalysis`` (a Flink 1.6 DataStream topology over
chat messages; see SURVEY.md), re-designed Spark-first:

- batch DataFrame implementations are the source of truth (testable
  against a DuckDB oracle);
- the time and session windows and the topology's shared streams run
  unchanged as Structured Streaming queries; ``sparksent.streaming``
  holds only what differs (stateful operators, sources, sinks);
- the reference's external-NLP enrichment is replaced by deterministic,
  SQL-mirrorable lexicon pipelines built from JVM-side expressions
  (``sparksent.nlp``) — no row-at-a-time Python UDFs anywhere in the
  hot path;
- beyond reference parity, ``sparksent.ext`` adds the LLM-data-pipeline
  operators (dedup, similarity search, text analytics, JSON, multimodal
  plumbing) designed for 100 TB scale.

Package map (SURVEY.md §7.0):
    session.py    SparkSession builder tuned for local[N] testing
    tables.py     fixture table loaders (/root/testdata/sf*/ parquet)
    schemas.py    the reference's record types as StructTypes
    parse.py      wire-format line -> Message parsing (SA.scala:45-48)
    windows.py    time (tumbling/sliding), session, cumulative and count windows
    nlp.py        deterministic sentiment/entity/classify pipelines
    pipeline.py   mood_stream, toxicity_stream, topic/trending queries
    streaming/    Structured Streaming wrappers + stateful count-window
    ext/          dedup, similarity, text analysis, JSON ops, multimodal
"""

__version__ = "0.1.0"
