"""Wire-format parsing (SentimentAnalysis.scala:41-48).

The reference reads newline text lines from a TCP socket and parses each
line as naive CSV: field 0 = channel, field 1 = user, fields 2..n
re-joined with "," as the message text (``msg.drop(2).mkString(",")`` —
commas inside the text body are preserved; no quoting). This module
reproduces that parse as JVM-side expressions usable identically on a
batch DataFrame of lines or a streaming socket source.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def parse_line(line: Column) -> list[Column]:
    """line -> [channel, user, text] per SA.scala:45-48 (split on ",",
    take 0/1, rejoin the tail with ",").

    ``try_element_at`` (not ``element_at``): under Spark's default ANSI
    mode a line with fewer than 2 commas would otherwise abort the whole
    job — the reference crashes the same way (ArrayIndexOutOfBounds on
    ``msg(1)``), but a single bad record must not kill a 100 TB run.
    Malformed fields come back NULL (text: empty string).

    The tail's length is ``size(parts)``, not Int.MaxValue: Spark's
    interpreted ``slice`` adds start and length in 32-bit ints, so a
    MaxValue length wraps negative and returns an EMPTY tail. That path
    runs whenever the text expression is inlined into a higher-order
    function (the lexicon ``aggregate`` of a collapsed projection such
    as ``score_raw / 10``), which silently scored every such message 0."""
    parts = F.split(line, ",")
    return [
        F.try_element_at(parts, F.lit(1)).alias("channel"),
        F.try_element_at(parts, F.lit(2)).alias("user"),
        F.array_join(F.slice(parts, 3, F.size(parts)), ",").alias("text"),
    ]


def parse_lines(df: DataFrame, line_col: str = "line") -> DataFrame:
    """DataFrame of raw lines -> Message rows (channel, user, text),
    keeping any other columns (ts, event_id) for event-time processing."""
    others = [c for c in df.columns if c != line_col]
    return df.select(*parse_line(F.col(line_col)), *[F.col(c) for c in others])


def to_raw_lines(messages: DataFrame) -> DataFrame:
    """Inverse: message rows -> the socket wire format
    ``channel,user,text`` (FIXTURES.md §B1). Used to build parse-parity
    fixtures from the events table without inventing new data.

    channel/user are coalesced to '' first: concat_ws silently SKIPS
    NULLs, which would shift the text into the user/channel slots on the
    round trip. A NULL key field serializes as the empty field — the
    closest representable inverse (the wire format has no NULL token)."""
    others = [c for c in messages.columns if c not in ("channel", "user", "text")]
    return messages.select(
        F.concat_ws(
            ",",
            F.coalesce(F.col("channel"), F.lit("")),
            F.coalesce(F.col("user"), F.lit("")),
            F.col("text"),
        ).alias("line"),
        *[F.col(c) for c in others],
    )
