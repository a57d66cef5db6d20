"""Batch ≡ stream equivalence (SURVEY.md §5.2.3): replay the same fixture
rows through Structured Streaming (file source, one file per
micro-batch) into a memory sink; assert the final state equals the batch
answer computed by the same transformation functions."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from sparksent import windows
from sparksent.session import STATE_PARTITIONS
from sparksent.streaming import (
    file_replay_source,
    streaming_count_window,
    streaming_cumulative_sum,
)
from sparksent.streaming.sources import write_replay_chunks
from sparksent.tables import load_table

from conftest import SF_DIR_SMALL

N_CHUNKS = 5
SENTINEL_TS = "2030-01-01 00:00:00"


@pytest.fixture(scope="module")
def replay_dir(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("replay")
    ev = load_table(spark, SF_DIR_SMALL, "events")
    write_replay_chunks(ev, str(base), N_CHUNKS)
    return str(base)


def _add_sentinels(spark, replay_dir):
    """Two far-future rows in two separate files: the first raises the
    max event time, the second's batch runs with the advanced watermark
    so every real window is closed and emitted in append mode."""
    from sparksent.streaming.sources import append_flat_file

    for i, off in enumerate((0, 1)):
        row = (
            spark.createDataFrame(
                [(10**9 + i, -1, "__sentinel__", 0.0, "{}")],
                "event_id long, user_id long, event_type string, value double, props string",
            )
            .withColumn(
                "ts",
                F.lit(SENTINEL_TS).cast("timestamp") + F.expr(f"INTERVAL {off} SECONDS"),
            )
            .select("event_id", "ts", "user_id", "event_type", "value", "props")
        )
        append_flat_file(row, replay_dir, f"zz_sentinel_{i}.parquet")


def _run_to_memory(df, name, mode):
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_tumbling_window_equivalence(spark, replay_dir, tmp_path):
    stream = file_replay_source(spark, replay_dir).withWatermark("ts", "10 seconds")
    agg = windows.window_agg(stream, ["event_type"], 10, [F.count("*").alias("count")])
    _add_sentinels(spark, replay_dir)
    _run_to_memory(agg, "t_tumble", "append")
    got = (
        spark.table("t_tumble")
        .filter(F.col("event_type") != "__sentinel__")
        .select("window_start_s", "event_type", "count")
    )
    ev = load_table(spark, SF_DIR_SMALL, "events")
    want = windows.window_agg(ev, ["event_type"], 10, [F.count("*").alias("count")])
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_cumulative_sum_equivalence(spark, replay_dir):
    """Update-mode running sum: the last update per key equals the batch
    total (per-trigger emission granularity is the documented delta vs
    the reference's per-record emission, SURVEY.md §2.6.3)."""
    stream = file_replay_source(spark, replay_dir).filter(
        F.col("event_type") != "__sentinel__"
    )
    agg = streaming_cumulative_sum(stream, ["user_id"], "value")
    _run_to_memory(agg, "t_cumsum", "complete")
    got = spark.table("t_cumsum").select("user_id", "value")
    ev = load_table(spark, SF_DIR_SMALL, "events")
    want = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("value")
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_count_window_equivalence(spark, replay_dir, tmp_path):
    """Streaming count windows emit exactly the batch form's complete
    buckets, in the same (key, bucket) identity."""
    stream = file_replay_source(spark, replay_dir).filter(
        F.col("event_type") != "__sentinel__"
    )
    keyed = stream.select(
        F.col("user_id").cast("string").alias("key"), "value", "ts", "event_id"
    )
    out = streaming_count_window(keyed, 10, value_col="value")
    _run_to_memory(out, "t_cw", "append")
    got = _buckets(spark.table("t_cw"))

    ev = load_table(spark, SF_DIR_SMALL, "events")
    batch_keyed = ev.select(
        F.col("user_id").cast("string").alias("key"), "value", "ts", "event_id"
    )
    want = _buckets(
        windows.count_window_agg(
            batch_keyed, ["key"], 10,
            [windows.exact_sum("value").alias("value"), F.count("*").alias("n")],
        ).filter(F.col("n") == 10)
    )
    _assert_same_buckets(got, want)

    # Edge inputs of the hash-group state layout, as BIGINT keys: one
    # key whose rows span several Arrow chunks of its group (stored in
    # reverse event order, so a per-chunk sort would bucket them wrong),
    # and 40 keys sharing the hash group of a NULL key (a NULL widens
    # the group's BIGINT key column to float in pandas).
    from sparksent.streaming.count_window import N_GROUPS

    def group(c):
        return F.pmod(F.xxhash64(c), F.lit(N_GROUPS))

    cand = spark.range(5000).select(F.col("id").alias("k"), group("id").alias("g"))
    shared = [
        r.k for r in cand.filter(F.col("g") == group(F.lit(None).cast("long")))
        .orderBy("k").limit(40).collect()
    ]
    keys = [-7] * 57 + [None] * 23
    keys += [k for i, k in enumerate(shared) for _ in range(10 + i % 13)]
    rows = [
        (eid, k, float((eid * 7919) % 1000) / 8.0)
        for eid, k in enumerate(np.random.default_rng(5).permutation(keys).tolist())
    ]
    edge = (
        spark.createDataFrame(rows[::-1], "event_id long, user_id long, value double")
        .withColumn("ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.col("event_id")))
    )
    edge_dir = str(tmp_path / "cw_edge_replay")
    write_replay_chunks(edge, edge_dir, 3)
    stream = file_replay_source(spark, edge_dir).select(
        F.col("user_id").alias("key"), "value", "ts", "event_id"
    )
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        _run_to_memory(streaming_count_window(stream, 10), "t_cw_edge", "append")
    finally:
        spark.conf.set(conf, old)
    got = _buckets(spark.table("t_cw_edge"))
    want = _buckets(
        windows.count_window_agg(
            edge.select(F.col("user_id").alias("key"), "value", "ts", "event_id"),
            ["key"], 10,
            [windows.exact_sum("value").alias("value"), F.count("*").alias("n")],
        ).filter(F.col("n") == 10)
    )
    assert got["key"].isna().sum() == 2 and (got["key"] == -7).sum() == 5
    _assert_same_buckets(got, want)


def _buckets(df):
    return df.select("key", "bucket", "value").toPandas().sort_values(
        ["key", "bucket"]).reset_index(drop=True)


def _assert_same_buckets(got, want):
    assert len(got) == len(want) > 0
    assert got["key"].equals(want["key"])
    assert (got["bucket"].to_numpy() == want["bucket"].to_numpy()).all()
    # streaming sums doubles sequentially; batch accumulates in decimal —
    # equal up to float associativity
    assert np.allclose(got["value"].to_numpy(), want["value"].to_numpy(), rtol=1e-9)


def test_session_window_equivalence(spark, tmp_path):
    """Streaming session windows == batch F.session_window over the same
    rows, after a watermark-advancing sentinel closes every session."""
    replay = str(tmp_path / "session_replay")
    ev = load_table(spark, SF_DIR_SMALL, "events")
    write_replay_chunks(ev, replay, N_CHUNKS)

    aggs = [
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
    ]
    stream = file_replay_source(spark, replay).withWatermark("ts", "10 seconds")
    out = windows.session_agg(stream, ["user_id"], 1800, aggs)
    _add_sentinels(spark, replay)
    _run_to_memory(out, "t_session", "append")
    got = spark.table("t_session").filter(F.col("user_id") != -1)

    want = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(*aggs)
        .withColumn("session_start_us", F.unix_micros(F.col("sw.start")))
        .drop("sw")
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_session_window_matches_oracle_sf001(spark, ducks, tmp_path):
    """The streaming session agg against the DuckDB gaps-and-islands
    oracle at sf0.01 — the SAME hard gate (rows + schema + exact values)
    the driver applies to the batch ``session_agg_30m`` query, so the
    streaming surface gets the oracle-grade signal too (VERDICT r1 #8)."""
    from sparksent.registry import REGISTRY, _ensure_loaded

    from conftest import SF_DIR, assert_oracle_match

    _ensure_loaded()
    replay = str(tmp_path / "session_oracle_replay")
    ev = load_table(spark, SF_DIR, "events")
    write_replay_chunks(ev, replay, N_CHUNKS)

    aggs = [
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
    ]
    stream = file_replay_source(spark, replay).withWatermark("ts", "10 seconds")
    out = windows.session_agg(stream, ["user_id"], 1800, aggs)
    _add_sentinels(spark, replay)
    _run_to_memory(out, "t_session_oracle", "append")
    got = spark.table("t_session_oracle").filter(F.col("user_id") != -1).select(
        "user_id", "session_start_us", "n_events", "sum_value"
    )
    assert_oracle_match(got, ducks, REGISTRY["session_agg_30m"].oracle)


def test_toxicity_literal_matches_oracle_sf001(spark, ducks, tmp_path):
    """Streaming literal toxicity (fused cumulative+count-window state)
    against the DuckDB oracle at sf0.01 — the same hard gate the driver
    applies to the batch ``toxic_user_literal_cw10`` query, restricted
    to complete buckets (streaming emits a window only when its 10th row
    arrives; the batch/oracle form also reports the trailing partial
    bucket). Values compare at 1e-9 relative: the stateful operator
    accumulates doubles sequentially per key while the oracle sums in
    decimal — float associativity, not drift (VERDICT r2 #6)."""
    from sparksent.registry import REGISTRY, _ensure_loaded
    from sparksent.streaming.count_window import streaming_toxicity_literal

    from conftest import SF_DIR, assert_oracle_match

    _ensure_loaded()
    replay = str(tmp_path / "toxicity_oracle_replay")
    ev = load_table(spark, SF_DIR, "events")
    write_replay_chunks(ev, replay, N_CHUNKS)

    stream = file_replay_source(spark, replay).select(
        F.col("user_id").cast("string").alias("key"), "value", "ts", "event_id"
    )
    out = streaming_toxicity_literal(stream, 10, 7800.0)
    _run_to_memory(out, "t_toxic_oracle", "append")
    got = spark.table("t_toxic_oracle").select("key", "bucket", "value", "n")

    oracle = REGISTRY["toxic_user_literal_cw10"].oracle
    complete_only = f"SELECT * FROM ({oracle}) WHERE n = 10"
    assert_oracle_match(got, ducks, complete_only, exact=False)


def test_interval_join_equivalence(spark, tmp_path):
    """Stream-stream interval join (purchase <- views within 1h) == the
    same join run as one batch."""
    from sparksent.streaming import streaming_interval_join

    replay = str(tmp_path / "join_replay")
    ev = load_table(spark, SF_DIR_SMALL, "events")
    write_replay_chunks(ev, replay, N_CHUNKS)

    def split(df):
        p = df.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("purchase_id")
        )
        v = df.filter(F.col("event_type") == "view").select(
            "user_id", F.col("ts").alias("v_ts"), F.col("event_id").alias("view_id")
        )
        return p, v

    sp, sv = split(file_replay_source(spark, replay))
    out = streaming_interval_join(
        sp.withWatermark("p_ts", "1 minute"),
        sv.withWatermark("v_ts", "1 minute"),
        "user_id", "1 hour", "p_ts", "v_ts",
    )
    _run_to_memory(out, "t_ij", "append")
    got = spark.table("t_ij").select("purchase_id", "view_id")

    bp, bv = split(ev)
    want = (
        bp.join(
            bv,
            (bp.user_id == bv.user_id)
            & (bv.v_ts >= bp.p_ts - F.expr("INTERVAL 1 HOUR"))
            & (bv.v_ts <= bp.p_ts),
        )
        .select("purchase_id", "view_id")
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_streaming_topology_equivalence(spark, tmp_path):
    """The reference topology end-to-end in streaming mode — raw wire
    lines replayed file-per-microbatch through parse -> NLP -> windowed
    aggs / count windows — equals the batch topology on the same rows:
    all eight streams run concurrently, and each has the batch stream's
    columns and rows (the toxic count windows: its complete buckets).

    The fixture text carries no lexicon or entity token, so two more
    files of lexicon- and entity-bearing lines follow it: without them
    the topic, entity-opinion and toxic outputs are empty on both sides.
    """
    from pyspark.sql import types as T
    from sparksent.parse import to_raw_lines
    from sparksent.streaming.sources import append_flat_file
    from sparksent.tables import messages
    from sparksent.topology import build_streaming_topology, build_topology

    msgs = messages(spark, SF_DIR_SMALL)
    fixture_lines = to_raw_lines(msgs)

    replay = str(tmp_path / "lines_replay")
    write_replay_chunks(fixture_lines, replay, N_CHUNKS)
    last_s, last_id = fixture_lines.agg(
        F.max(F.unix_timestamp("ts")), F.max("event_id")
    ).first()
    # "troll" posts 12 lines of mood -1.2: one complete toxic count window
    # of its raw moods (toxicUserStreamIntent) and of its running totals
    # "spark fast spark" repeats an entity: it still counts once per line
    texts = ["spark fast spark", "stream join hash", "table sort dup"]
    extra = []
    for f in range(2):
        rows = [
            ("view,troll,hash slow scan dup" if i % 2 else f"view,u{i % 3},{texts[(i + f) % 3]}",
             last_id + 1 + 12 * f + i)
            for i in range(12)
        ]
        part = spark.createDataFrame(rows, "line string, event_id long").withColumn(
            "ts", F.timestamp_seconds(F.col("event_id") - last_id + last_s)
        ).select("line", "ts", "event_id")
        append_flat_file(part, replay, f"extra_{f}.parquet")
        extra.append(part)
    lines = fixture_lines.unionByName(extra[0]).unionByName(extra[1])
    schema = T.StructType(
        [
            T.StructField("line", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
        ]
    )
    stream = file_replay_source(spark, replay, schema=schema)
    nodes = build_streaming_topology(stream)

    # sentinel lines close every window before the final batch; they
    # carry an entity token because the entity streams' watermark only
    # sees entity rows
    for i in range(2):
        row = spark.createDataFrame(
            [("__sentinel__,-1,window", 10**9 + i)], "line string, event_id long"
        ).withColumn(
            "ts",
            F.lit(SENTINEL_TS).cast("timestamp") + F.expr(f"INTERVAL {i} SECONDS"),
        ).select("line", "ts", "event_id")
        append_flat_file(row, replay, f"zz_sentinel_{i}.parquet")

    queries = {
        name: df.writeStream.outputMode("append").format("memory")
        .queryName(f"t_topo_{name}").trigger(availableNow=True).start()
        for name, df in nodes.items()
    }
    for name, q in queries.items():
        assert q.awaitTermination(300), name
    # the entity explode is stateless; topic and entity-opinion keep
    # only their windowed aggregate's state
    n_state_ops = {
        name: len(q.lastProgress["stateOperators"]) for name, q in queries.items()
    }
    assert n_state_ops == {
        "sentimentStream": 0, "parsedStream": 1, "entityStream": 0, "topicStream": 1,
        "entityOpinionStream": 1, "channelMoodStream": 1, "toxicUserStream": 1,
        "toxicUserStreamIntent": 1,
    }, n_state_ops
    # every state operator runs the session's streaming state partitions,
    # not spark.sql.shuffle.partitions
    n_parts = {
        (name, op["operatorName"]): op["numShufflePartitions"]
        for name, q in queries.items()
        for op in q.lastProgress["stateOperators"]
    }
    assert set(n_parts.values()) == {STATE_PARTITIONS}, n_parts

    batch = build_topology(lines)
    # a sentinel row carries a sentinel event_id, key "-1" or a window
    # near SENTINEL_TS
    sentinel_s = F.unix_timestamp(F.lit(SENTINEL_TS).cast("timestamp"))

    def real(df):
        if "event_id" in df.columns:
            return df.filter(F.col("event_id") < 10**9)
        if "window_start_s" in df.columns:
            return df.filter(F.col("window_start_s") < sentinel_s - 3600)
        return df.filter(F.col("key") != "-1")

    assert len(nodes) == 8
    for name in nodes:
        got, want = real(spark.table(f"t_topo_{name}")), batch[name]
        assert set(got.columns) == set(want.columns), name
        got = got.select(*want.columns)
        if not name.startswith("toxicUser"):
            assert got.count() > 0, name
            assert got.exceptAll(want).count() == 0, name
            assert want.exceptAll(got).count() == 0, name
            continue
        # streaming emits complete buckets only, summing doubles in order
        got = got.toPandas().sort_values(["key", "bucket"]).reset_index(drop=True)
        want = (
            want.filter(F.col("n") == 10)
            .toPandas().sort_values(["key", "bucket"]).reset_index(drop=True)
        )
        assert len(got) == len(want) > 0, name
        assert (got["key"].to_numpy() == want["key"].to_numpy()).all(), name
        assert (got["bucket"].to_numpy() == want["bucket"].to_numpy()).all(), name
        assert np.allclose(
            got["value"].to_numpy(), want["value"].to_numpy(), rtol=1e-9
        ), name


def test_streaming_trending_via_foreach_batch(spark, tmp_path):
    """trendingStream (the reference's dead code, SA.scala:106-123) in
    streaming mode: update-mode windowed counts upserted into a keyed
    store per micro-batch; share-of-window ratios derived from the
    final store equal the batch trending query."""
    import pandas as pd
    from sparksent.streaming.sinks import foreach_batch_upsert

    replay = str(tmp_path / "trend_replay")
    ev = load_table(spark, SF_DIR_SMALL, "events")
    write_replay_chunks(ev, replay, N_CHUNKS)

    stream = file_replay_source(spark, replay).withWatermark("ts", "10 seconds")
    counts = windows.window_agg(stream, ["event_type"], 10, [F.count("*").alias("count")])
    store: dict = {}
    q = foreach_batch_upsert(
        counts, store, ["window_start_s", "event_type"], available_now=True
    )
    q.awaitTermination(120)

    got = pd.DataFrame(store.values())
    totals = got.groupby("window_start_s")["count"].transform("sum")
    got["share"] = got["count"] / totals

    from sparksent.pipeline import trending_stream
    want = (
        trending_stream(
            ev.select(F.col("event_type").alias("key"), "ts", "event_id"), "key", 10
        )
        .toPandas()
        .sort_values(["window_start_s", "key"])
        .reset_index(drop=True)
    )
    got = got.sort_values(["window_start_s", "event_type"]).reset_index(drop=True)
    assert len(got) == len(want)
    assert (got["event_type"].to_numpy() == want["key"].to_numpy()).all()
    assert (got["count"].to_numpy() == want["count"].to_numpy()).all()
    assert np.allclose(got["share"].to_numpy(), want["share"].to_numpy(), rtol=1e-12)


def test_cumulative_per_record_equivalence(spark, tmp_path):
    """Per-record streaming cumulative sums == the batch analytic
    cumulative window, row for row (the reference's exact emission
    granularity, closing the per-trigger delta of update mode)."""
    from sparksent.streaming.count_window import streaming_cumulative_per_record

    replay = str(tmp_path / "cum_replay")
    ev = load_table(spark, SF_DIR_SMALL, "events")
    write_replay_chunks(ev, replay, N_CHUNKS)

    stream = file_replay_source(spark, replay).select(
        F.col("user_id").cast("string").alias("key"), "value", "ts", "event_id"
    )
    out = streaming_cumulative_per_record(stream)
    _run_to_memory(out, "t_cpr", "append")
    got = (
        spark.table("t_cpr").toPandas()
        .sort_values(["key", "ts", "event_id"]).reset_index(drop=True)
    )

    batch = windows.cumulative_agg(
        ev.select(F.col("user_id").cast("string").alias("key"), "value", "ts", "event_id"),
        ["key"], "value", out_col="cum",
    )
    want = (
        batch.select("key", F.col("cum").alias("value"), "ts", "event_id")
        .toPandas().sort_values(["key", "ts", "event_id"]).reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got["event_id"].to_numpy() == want["event_id"].to_numpy()).all()
    assert np.allclose(got["value"].to_numpy(), want["value"].to_numpy(), rtol=1e-9)


def test_stream_static_dimension_join(spark, tmp_path):
    """Stream-static broadcast join: streaming events enriched by the
    static scored-documents dimension (stateless — no watermark needed),
    aggregated per event_type; equals the batch twin. The production
    shape for dimension enrichment of a stream."""
    from sparksent.queries_nlp import scored_docs

    replay = str(tmp_path / "ss_replay")
    ev = load_table(spark, SF_DIR_SMALL, "events")
    write_replay_chunks(ev, replay, N_CHUNKS)

    docs = scored_docs(spark, SF_DIR_SMALL).select("doc_id", "score_raw")

    def enrich(df):
        return (
            df.withColumn("doc_id", F.col("event_id") % 500)
            .join(F.broadcast(docs), "doc_id")
            .groupBy("event_type")
            .agg(F.sum("score_raw").alias("total_score"), F.count("*").alias("n"))
        )

    out = enrich(file_replay_source(spark, replay))
    _run_to_memory(out, "t_ss", "complete")
    got = spark.table("t_ss")
    want = enrich(ev)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

def test_exact_dedup_equivalence(spark, replay_dir):
    """Streaming first-wins dedup keeps exactly one row per key; the
    surviving KEY SET equals the batch distinct (which row of a dup
    group survives is arrival-order-defined in streaming and
    partition-order-defined in batch — the set is the invariant)."""
    from sparksent.streaming import streaming_exact_dedup

    stream = file_replay_source(spark, replay_dir).filter(
        F.col("event_type") != "__sentinel__"
    )
    out = streaming_exact_dedup(stream, ["user_id", "event_type"])
    _run_to_memory(out, "t_dedup", "append")
    got = spark.table("t_dedup").select("user_id", "event_type")
    assert got.groupBy("user_id", "event_type").count().filter(
        F.col("count") > 1
    ).count() == 0
    ev = load_table(spark, SF_DIR_SMALL, "events")
    want = ev.select("user_id", "event_type").distinct()
    assert got.select("user_id", "event_type").exceptAll(want).count() == 0
    assert want.exceptAll(got.select("user_id", "event_type")).count() == 0


def test_exact_dedup_within_watermark(spark, replay_dir):
    """The state-bounded variant: duplicates within the watermark
    horizon are dropped; with the fixture's duplicates all inside one
    horizon, the output key set still matches the batch distinct."""
    from sparksent.streaming import streaming_exact_dedup

    stream = file_replay_source(spark, replay_dir).filter(
        F.col("event_type") != "__sentinel__"
    )
    out = streaming_exact_dedup(
        stream, ["user_id", "event_type"], ts_col="ts", watermark="2 hours"
    )
    _run_to_memory(out, "t_dedup_wm", "append")
    got = spark.table("t_dedup_wm").select("user_id", "event_type").distinct()
    ev = load_table(spark, SF_DIR_SMALL, "events")
    want = ev.select("user_id", "event_type").distinct()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_parquet_keyed_merge_equivalence(spark, replay_dir, tmp_path):
    """The distributed upsert sink: update-mode windowed counts merged
    into a bucket-partitioned parquet store across micro-batches; the
    final store equals the batch aggregate (and holds exactly one row
    per key — later updates replaced earlier ones)."""
    from sparksent.streaming.sinks import parquet_keyed_merge

    store_path = str(tmp_path / "merge_store")
    stream = file_replay_source(spark, replay_dir).filter(
        F.col("event_type") != "__sentinel__"
    ).withWatermark("ts", "10 seconds")
    counts = windows.window_agg(stream, ["event_type"], 10, [F.count("*").alias("count")])
    q = parquet_keyed_merge(
        counts, store_path, ["window_start_s", "event_type"], available_now=True
    )
    q.awaitTermination(180)

    got = spark.read.parquet(store_path).select(
        "window_start_s", "event_type", "count"
    )
    assert (
        got.groupBy("window_start_s", "event_type").count()
        .filter(F.col("count") > 1).count() == 0
    )
    ev = load_table(spark, SF_DIR_SMALL, "events")
    want = windows.window_agg(
        ev, ["event_type"], 10, [F.count("*").alias("count")]
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # one file per bucket after the whole stream (round 12): without
    # the repartition("kbucket") guard each bucket held one file per
    # task per rewrite, compounding across batches
    import glob as _glob
    import os as _os

    for d in _glob.glob(store_path + "/kbucket=*"):
        n = len(_glob.glob(d + "/*.parquet"))
        assert n == 1, (_os.path.basename(d), n)


def test_parquet_keyed_merge_fails_on_schema_mismatch(spark, tmp_path):
    """A delta whose schema differs from the store's fails the
    micro-batch; it must not be taken for the first batch, which would
    overwrite the touched buckets with the delta alone."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import types as T

    from sparksent.streaming.sinks import parquet_keyed_merge

    store_path = str(tmp_path / "merge_store")

    def merge(rows, cols, name):
        src = str(tmp_path / name)
        schema = T.StructType([T.StructField(c, T.LongType()) for c in cols])
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
        stream = file_replay_source(spark, src, schema=schema)
        return parquet_keyed_merge(stream, store_path, ["k"], mode="append", available_now=True)

    merge([(k, k) for k in range(50)], ["k", "v"], "first").awaitTermination(120)
    assert spark.read.parquet(store_path).count() == 50
    q = merge([(0, 1, 1), (1, 2, 2)], ["k", "v", "extra"], "mismatched")
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    got = spark.read.parquet(store_path).select("k", "v")
    assert sorted(map(tuple, got.collect())) == [(k, k) for k in range(50)]


def test_compact_bucketed_store_result_identical(spark, tmp_path):
    """The file-count-triggered compaction (VERDICT r11 ask #5):
    build a store whose buckets hold many files each (the unguarded
    writer shape), compact with a trigger, and require (a) only the
    offending buckets rewritten, each to ONE file, (b) under-trigger
    buckets untouched, (c) the row set byte-identical before/after."""
    import glob as _glob

    from sparksent.streaming import compact_bucketed_store

    path = str(tmp_path / "frag_store")
    n_buckets = 4
    # 6 appends of 40 rows, NO repartition guard -> many files/bucket
    for b in range(6):
        (
            spark.range(b * 40, b * 40 + 40)
            .select(
                F.col("id").alias("k"),
                F.lit(b).alias("v"),
                F.pmod(F.hash("id"), F.lit(n_buckets)).alias("kbucket"),
            )
            .write.mode("append")
            .partitionBy("kbucket")
            .parquet(path)
        )
    def files(b):
        return len(_glob.glob(f"{path}/kbucket={b}/*.parquet"))

    before = {b: files(b) for b in range(n_buckets)}
    assert max(before.values()) > 4  # the fixture really is fragmented
    want = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    trigger = sorted(before.values())[len(before) // 2]  # split the buckets
    compacted = compact_bucketed_store(spark, path, max_files_per_bucket=trigger)
    # partition values come back as raw strings (ADVICE r12: int() on a
    # dir name crashed on non-integer bucket cols)
    assert compacted == sorted(str(b) for b, n in before.items() if n > trigger)
    for b in range(n_buckets):
        if str(b) in compacted:
            assert files(b) == 1
        else:
            assert files(b) == before[b]  # untouched
    got = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert got == want
    assert compact_bucketed_store(spark, path, max_files_per_bucket=trigger) == []


def test_streaming_neardup_vs_batch(spark, tmp_path):
    """Incremental new-vs-corpus dedup: odd doc_ids replayed as the
    stream against the even-id corpus index; the streamed candidate set
    must equal (a) the same stream-static computation run as one batch
    and (b) the full batch minhash_lsh_pairs restricted to odd-even
    pairs — the incremental operator finds exactly the cross pairs the
    batch self-join finds."""
    from sparksent.ext.dedup import minhash_lsh_pairs
    from sparksent.streaming import band_index, streaming_neardup_candidates
    from sparksent.tables import load_table

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    newdocs = docs.filter(F.col("doc_id") % 2 == 1)
    index = band_index(corpus, "minhash").localCheckpoint()

    replay = str(tmp_path / "neardup_replay")
    write_replay_chunks(newdocs, replay, N_CHUNKS, order_col="doc_id")
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    stream = file_replay_source(spark, replay, schema=schema)
    out = streaming_neardup_candidates(stream, index)
    _run_to_memory(out, "t_neardup", "append")
    got = {
        (r.new_id, r.corpus_id, round(r.est_jaccard, 9))
        for r in spark.table("t_neardup").collect()
    }

    batch_twin = {
        (r.new_id, r.corpus_id, round(r.est_jaccard, 9))
        for r in streaming_neardup_candidates(newdocs, index).collect()
    }
    assert got == batch_twin

    cross = {
        (r.id_a if r.id_a % 2 == 1 else r.id_b,
         r.id_b if r.id_a % 2 == 1 else r.id_a,
         round(r.est_jaccard, 9))
        for r in minhash_lsh_pairs(docs).collect()
        if (r.id_a % 2) != (r.id_b % 2)
    }
    assert got == cross


def test_streaming_hll_registers_equivalence(spark, replay_dir):
    """Streaming sketch state: the stream's only stateful operator is
    the (window, key, bucket) -> max(rho) register aggregate; finalized
    estimates from the streamed registers must equal the batch windowed
    HLL exactly (integer registers, associative merge)."""
    from sparksent.ext.hashing import h60
    from sparksent.ext.sketches import HLL_M, HLL_P, _rho, hll_finalize
    from sparksent.streaming.ops import streaming_hll_registers

    _add_sentinels(spark, replay_dir)
    stream = file_replay_source(spark, replay_dir)
    regs = streaming_hll_registers(
        stream.withWatermark("ts", "10 seconds"), ["event_type"], 100, "user_id"
    )
    q = _run_to_memory(regs, "hll_regs", "append")
    streamed = (
        spark.table("hll_regs")
        .where(F.col("event_type") != "__sentinel__")
    )
    got = hll_finalize(streamed, ["window_start_s", "event_type"])

    ev = load_table(spark, SF_DIR_SMALL, "events")
    h = h60(F.col("user_id").cast("string"))
    batch_regs = (
        ev.withColumn("bucket", h % HLL_M)
        .withColumn("rho", _rho(F.shiftright(h, HLL_P)))
        .groupBy(
            F.window(F.col("ts"), "100 seconds").alias("w"), "event_type", "bucket"
        )
        .agg(F.max("rho").alias("mj"))
        .withColumn("window_start_s", F.unix_timestamp(F.col("w.start")))
        .drop("w")
    )
    want = hll_finalize(batch_regs, ["window_start_s", "event_type"])

    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() > 0
    q.stop()


def test_transitions_per_record_equivalence(spark, tmp_path):
    """Streaming per-key last-type carry emits exactly the batch lag
    window's (prev, next) pairs — same multiset, and therefore the same
    transition matrix — across micro-batch boundaries."""
    from sparksent.streaming.count_window import streaming_transitions_per_record

    replay = str(tmp_path / "trans_replay")
    ev = load_table(spark, SF_DIR_SMALL, "events")
    write_replay_chunks(ev, replay, N_CHUNKS)

    stream = file_replay_source(spark, replay).select(
        "user_id", "event_type", "ts", "event_id"
    )
    out = streaming_transitions_per_record(stream)
    _run_to_memory(out, "t_trans", "append")
    got = (
        spark.table("t_trans").toPandas()
        .sort_values(["user_id", "ts", "event_id"]).reset_index(drop=True)
    )

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
            "ts",
            "event_id",
        )
        .filter(F.col("prev_type").isNotNull())
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"]).reset_index(drop=True)
    )
    assert len(got) == len(want)
    for c in ("event_id", "prev_type", "next_type"):
        assert (got[c].to_numpy() == want[c].to_numpy()).all()


def test_transitions_per_record_matches_oracle_sf001(spark, ducks, tmp_path):
    """Streaming transitions against an INDEPENDENT DuckDB lag-window
    recomputation at sf0.01 — the oracle-grade gate (rows + schema +
    exact values), not just batch-Spark equivalence.  This operator
    carries per-key state across micro-batches (the highest-risk
    streaming op of round 4), so it gets the same direct-oracle
    treatment as the session agg and literal toxicity streams."""
    from sparksent.streaming.count_window import streaming_transitions_per_record

    from conftest import SF_DIR, assert_oracle_match

    replay = str(tmp_path / "trans_oracle_replay")
    ev = load_table(spark, SF_DIR, "events")
    write_replay_chunks(ev, replay, N_CHUNKS)

    stream = file_replay_source(spark, replay).select(
        "user_id", "event_type", "ts", "event_id"
    )
    out = streaming_transitions_per_record(stream)
    _run_to_memory(out, "t_trans_oracle", "append")
    got = spark.table("t_trans_oracle").select(
        "user_id", "prev_type", "next_type", "event_id"
    )
    assert_oracle_match(
        got,
        ducks,
        """
        SELECT user_id, prev_type, next_type, event_id
        FROM (
          SELECT user_id,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_type,
                 event_type AS next_type, event_id
          FROM events
        )
        WHERE prev_type IS NOT NULL
        """,
    )


def test_multimodal_decode_streams_unmodified(spark, tmp_path):
    """The decode operators are stateless Arrow maps, so the SAME
    functions run under Structured Streaming with no changes: replay
    the documents fixture as a file stream, run the full MJPEG video
    decode (container demux + per-frame baseline JPEG) per micro-batch,
    and assert the union of streamed outputs equals the batch answer —
    the stream≡batch story extended to the multimodal surface."""
    from sparksent.ext import multimodal
    from sparksent.streaming.sources import append_flat_file

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    replay = str(tmp_path / "docs_replay")
    # write_replay_chunks splits on event_id; documents chunk by doc_id
    for i in range(3):
        append_flat_file(
            docs.filter(F.col("doc_id") % 3 == i), replay, f"chunk_{i}.parquet"
        )
    stream = (
        spark.readStream.schema("doc_id long, text string").parquet(replay)
    )
    out = multimodal.decode_videos(stream)
    _run_to_memory(out, "t_video_stream", "append")
    got = spark.table("t_video_stream")
    want = multimodal.decode_videos(docs)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_ewma_per_record_equivalence(spark, tmp_path):
    """Streaming bounded EWMA (three doubles + counter of per-key state
    crossing micro-batches) emits the batch lag-window expression's
    values BIT-FOR-BIT: same association order, absent lags as exact
    0.0 terms, presence-gated denominator."""
    from sparksent.streaming.count_window import streaming_ewma_per_record

    replay = str(tmp_path / "ewma_replay")
    ev = load_table(spark, SF_DIR_SMALL, "events")
    write_replay_chunks(ev, replay, N_CHUNKS)

    stream = file_replay_source(spark, replay).select(
        "user_id", "value", "ts", "event_id"
    )
    out = streaming_ewma_per_record(stream)
    _run_to_memory(out, "t_ewma", "append")
    got = (
        spark.table("t_ewma").toPandas()
        .sort_values(["user_id", "ts", "event_id"]).reset_index(drop=True)
    )

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    l1 = F.lag("value", 1).over(w)
    l2 = F.lag("value", 2).over(w)
    l3 = F.lag("value", 3).over(w)
    num = (
        F.col("value") * 8
        + F.coalesce(l1, F.lit(0.0)) * 4
        + F.coalesce(l2, F.lit(0.0)) * 2
        + F.coalesce(l3, F.lit(0.0)) * 1
    )
    den = (
        F.lit(8)
        + F.when(l1.isNull(), F.lit(0)).otherwise(F.lit(4))
        + F.when(l2.isNull(), F.lit(0)).otherwise(F.lit(2))
        + F.when(l3.isNull(), F.lit(0)).otherwise(F.lit(1))
    )
    want = (
        ev.select("user_id", "value", (num / den).alias("ewma4"), "ts", "event_id")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"]).reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert (got["event_id"].to_numpy() == want["event_id"].to_numpy()).all()
    # bit-exact, not approx: the arithmetic contract is the test
    assert (got["ewma4"].to_numpy() == want["ewma4"].to_numpy()).all()


def test_ewma_per_record_matches_oracle_sf001(spark, ducks, tmp_path):
    """Streaming EWMA against the registered query's INDEPENDENT DuckDB
    oracle at sf0.01 — the oracle-grade gate for the newest carry-state
    operator, same treatment as streaming transitions."""
    from sparksent.registry import REGISTRY, _ensure_loaded
    from sparksent.streaming.count_window import streaming_ewma_per_record

    from conftest import SF_DIR, assert_oracle_match

    _ensure_loaded()
    replay = str(tmp_path / "ewma_oracle_replay")
    ev = load_table(spark, SF_DIR, "events")
    write_replay_chunks(ev, replay, N_CHUNKS)

    stream = file_replay_source(spark, replay).select(
        "user_id", "value", "ts", "event_id"
    )
    out = streaming_ewma_per_record(stream)
    _run_to_memory(out, "t_ewma_oracle", "append")
    got = spark.table("t_ewma_oracle").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
        "ewma4",
    )
    assert_oracle_match(got, ducks, REGISTRY["ewma_user_value"].oracle)


def test_rolling_window_per_record_matches_oracle_sf001(spark, ducks, tmp_path):
    """Streaming trailing-60s window stats (per-key sliding buffer of
    in-window rows as state) against the registered RANGE-frame query's
    INDEPENDENT DuckDB oracle at sf0.01 — rows, schema, and bit-exact
    values including the decimal-accumulated sum. Valid as a per-record
    stream because (user_id, ts) is unique in the fixture (asserted),
    so the batch frame's same-ts-peer closure is vacuous across
    micro-batch boundaries."""
    from sparksent.registry import REGISTRY, _ensure_loaded
    from sparksent.streaming.count_window import streaming_rolling_window_stats

    from conftest import SF_DIR, assert_oracle_match

    _ensure_loaded()
    replay = str(tmp_path / "rolling_replay")
    ev = load_table(spark, SF_DIR, "events")
    assert (
        ev.groupBy("user_id", "ts").count().filter(F.col("count") > 1).count() == 0
    ), "fixture grew duplicate (user, ts) pairs - cross-batch peer gap applies"
    write_replay_chunks(ev, replay, N_CHUNKS)

    stream = file_replay_source(spark, replay).select(
        "user_id",
        "value",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    out = streaming_rolling_window_stats(stream)
    _run_to_memory(out, "t_rolling_oracle", "append")
    got = spark.table("t_rolling_oracle").select(
        "event_id", "user_id", "ts_us", "n_60s", "sum_60s"
    )
    assert_oracle_match(got, ducks, REGISTRY["rolling_60s_user_stats"].oracle)


def test_rolling_micros_cast_matches_engines(spark, ducks):
    """The review-found cast trap, pinned: double->DECIMAL(28,6) in
    BOTH engines rounds the SHORTEST decimal repr (0.1234565 ->
    0.123457), while Python's exact-binary Decimal(v) would round the
    7th-digit cases the other way (0.123456). The streaming operator's
    to_micros must agree with the engines on exactly these values."""
    from decimal import ROUND_HALF_UP, Decimal

    tricky = [0.1234565, 0.1234575, 2.6894585, -0.1234565, 1.0000005, 0.1]

    def to_micros(v):  # mirror of the operator's conversion
        return int(Decimal(repr(v)).quantize(Decimal("0.000001"), ROUND_HALF_UP).scaleb(6))

    duck = [
        int(r[0])
        for r in ducks.execute(
            "SELECT (v::DECIMAL(28,6) * 1000000)::BIGINT FROM (SELECT unnest(?::DOUBLE[]) v)",
            [tricky],
        ).fetchall()
    ]
    spark_rows = (
        spark.createDataFrame([(v,) for v in tricky], "v double")
        .selectExpr("CAST(CAST(v AS DECIMAL(28,6)) * 1000000 AS BIGINT)")
        .collect()
    )
    ours = [to_micros(v) for v in tricky]
    assert ours == duck == [r[0] for r in spark_rows]


def test_rolling_window_null_values(spark, tmp_path):
    """Null values stream through the rolling window like the batch
    sum/count(*) pair: counted in n_60s, excluded from sum_60s, and an
    all-null window reports a NULL sum (not 0.0)."""
    from sparksent.streaming.count_window import streaming_rolling_window_stats
    from sparksent.streaming.sources import append_flat_file

    rows = [
        (1, 1_000_000, None, 1),
        (1, 2_000_000, None, 2),      # window all-null -> NULL sum
        (1, 3_000_000, 2.5, 3),
        (1, 100_000_000, 4.0, 4),     # prior rows evicted (incl. nulls)
        (2, 1_000_000, 1.25, 5),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts_us long, value double, event_id long"
    )
    replay = str(tmp_path / "null_replay")
    append_flat_file(df, replay, "chunk0.parquet")
    stream = (
        spark.readStream.schema("user_id long, ts_us long, value double, event_id long")
        .parquet(replay)
    )
    out = streaming_rolling_window_stats(stream)
    _run_to_memory(out, "t_rolling_nulls", "append")
    got = {
        r["event_id"]: (r["n_60s"], r["sum_60s"])
        for r in spark.table("t_rolling_nulls").collect()
    }
    assert got[1] == (1, None)
    assert got[2] == (2, None)
    assert got[3] == (3, 2.5)
    assert got[4] == (1, 4.0)
    assert got[5] == (1, 1.25)


def test_scd2_per_record_equivalence(spark, tmp_path):
    """Streaming SCD2 emits exactly the batch islands that are CLOSED
    (valid_to_us != -1): same rows, same interval bounds, same counts,
    across micro-batch boundaries (an island spanning several batches
    must accumulate n_events before closing)."""
    from sparksent.registry import queries
    from sparksent.streaming.count_window import streaming_scd2_per_record

    replay = str(tmp_path / "scd2_replay")
    ev = load_table(spark, SF_DIR_SMALL, "events")
    write_replay_chunks(ev, replay, N_CHUNKS)

    stream = file_replay_source(spark, replay).select(
        "user_id", "event_type", "ts", "event_id"
    )
    out = streaming_scd2_per_record(stream)
    _run_to_memory(out, "t_scd2", "append")
    got = (
        spark.table("t_scd2")
        .toPandas()
        .sort_values(["user_id", "island"])
        .reset_index(drop=True)
    )

    want = (
        queries()["scd2_user_event_type"](spark, SF_DIR_SMALL)
        .filter(F.col("valid_to_us") != -1)
        .toPandas()
        .sort_values(["user_id", "island"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    for c in want.columns:
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), c


def test_scd2_per_record_matches_oracle_sf001(spark, ducks, tmp_path):
    """Streaming SCD2 against an INDEPENDENT DuckDB islands
    recomputation at sf0.01 (rows + schema + exact values) — the
    oracle-grade gate for the new carry-state operator, same treatment
    as transitions/EWMA/rolling."""
    from sparksent.registry import REGISTRY
    from sparksent.streaming.count_window import streaming_scd2_per_record

    from conftest import SF_DIR, assert_oracle_match

    replay = str(tmp_path / "scd2_oracle_replay")
    ev = load_table(spark, SF_DIR, "events")
    write_replay_chunks(ev, replay, N_CHUNKS)

    stream = file_replay_source(spark, replay).select(
        "user_id", "event_type", "ts", "event_id"
    )
    out = streaming_scd2_per_record(stream)
    _run_to_memory(out, "t_scd2_oracle", "append")
    closed_oracle = (
        "SELECT * FROM ("
        + REGISTRY["scd2_user_event_type"].oracle
        + ") WHERE valid_to_us <> -1"
    )
    assert_oracle_match(spark.table("t_scd2_oracle"), ducks, closed_oracle)


def test_ngram_next_per_record_matches_oracle_sf001(spark, ducks, tmp_path):
    """Streaming length-3-context pair generator against an INDEPENDENT
    DuckDB triple-lag recomputation at sf0.01 (rows + schema + exact
    values) — the per-key 3-string context carries across micro-batch
    boundaries, so this is the same direct-oracle treatment the other
    carry-state operators get."""
    from sparksent.streaming.count_window import streaming_ngram_next_per_record

    from conftest import SF_DIR, assert_oracle_match

    replay = str(tmp_path / "ngram_oracle_replay")
    ev = load_table(spark, SF_DIR, "events")
    write_replay_chunks(ev, replay, N_CHUNKS)

    stream = file_replay_source(spark, replay).select(
        "user_id", "event_type", "ts", "event_id"
    )
    out = streaming_ngram_next_per_record(stream)
    _run_to_memory(out, "t_ngram_oracle", "append")
    got = spark.table("t_ngram_oracle").select(
        "user_id", "context", "next_type", "event_id"
    )
    assert_oracle_match(
        got,
        ducks,
        """
        SELECT user_id, t3 || '>' || t2 || '>' || t1 AS context,
               event_type AS next_type, event_id
        FROM (
          SELECT user_id, event_type, event_id,
                 lag(event_type, 3) OVER w AS t3,
                 lag(event_type, 2) OVER w AS t2,
                 lag(event_type, 1) OVER w AS t1
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        WHERE t3 IS NOT NULL
        """,
    )


def test_ngram_state_survives_checkpoint_restart(spark, tmp_path):
    """Recovery contract for the newest carry-state operator: kill the
    query mid-stream and restart from the same checkpoint with new
    files present — the restored per-key (t3, t2, t1) context must
    continue exactly where it stopped, so the union of both runs'
    output equals the single-pass batch answer."""
    from sparksent.streaming.count_window import streaming_ngram_next_per_record

    got_df, ev = _restart_to_parquet(
        spark,
        tmp_path,
        "ngram_rs",
        lambda s: streaming_ngram_next_per_record(
            s.select("user_id", "event_type", "ts", "event_id")
        ),
    )
    # MULTISET compare (sorted lists): a set would hide duplicate
    # re-emission after restart — the primary recovery failure mode
    got = sorted(
        tuple(r)
        for r in got_df.select("user_id", "context", "next_type", "event_id").collect()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = (
        ev.select(
            "user_id",
            "event_type",
            "event_id",
            F.lag("event_type", 3).over(w).alias("t3"),
            F.lag("event_type", 2).over(w).alias("t2"),
            F.lag("event_type", 1).over(w).alias("t1"),
        )
        .filter(F.col("t3").isNotNull())
        .select(
            "user_id",
            F.concat_ws(">", "t3", "t2", "t1").alias("context"),
            F.col("event_type").alias("next_type"),
            "event_id",
        )
    )
    want = sorted(tuple(r) for r in batch.collect())
    assert got == want


def _restart_to_parquet(spark, tmp_path, tag, build_stream):
    """Shared two-phase runner for checkpoint-recovery tests: process
    the first 3 replay chunks, terminate, reveal the last 2 chunks, and
    restart from the SAME checkpoint into the same parquet sink —
    whatever per-key state the operator carries must restore exactly.
    Returns (combined output, the full batch events frame)."""
    import os

    replay = str(tmp_path / f"{tag}_replay")
    held = str(tmp_path / f"{tag}_held")
    os.makedirs(held, exist_ok=True)
    ev = load_table(spark, SF_DIR_SMALL, "events")
    paths = write_replay_chunks(ev, replay, N_CHUNKS)
    for p in paths[3:]:
        os.rename(p, os.path.join(held, os.path.basename(p)))
    out_dir = str(tmp_path / f"{tag}_out")
    ckpt = str(tmp_path / f"{tag}_ckpt")

    def run():
        q = (
            build_stream(file_replay_source(spark, replay))
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    for p in paths[3:]:
        os.rename(os.path.join(held, os.path.basename(p)), p)
    run()
    return spark.read.parquet(out_dir), ev


def test_transitions_state_survives_checkpoint_restart(spark, tmp_path):
    """The per-key last-type carry restores across a restart: combined
    output equals the batch lag window exactly."""
    from sparksent.streaming.count_window import streaming_transitions_per_record

    got_df, ev = _restart_to_parquet(
        spark,
        tmp_path,
        "trans_rs",
        lambda s: streaming_transitions_per_record(
            s.select("user_id", "event_type", "ts", "event_id")
        ),
    )
    got = sorted(
        tuple(r)
        for r in got_df.select("user_id", "prev_type", "next_type", "event_id").collect()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = sorted(
        tuple(r)
        for r in ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
            "event_id",
        )
        .filter(F.col("prev_type").isNotNull())
        .collect()
    )
    assert got == want  # multiset equality: duplicate re-emission fails


def test_cumulative_state_survives_checkpoint_restart(spark, tmp_path):
    """The per-key running total restores across a restart: every
    post-restart emission continues from the pre-restart accumulator."""
    from sparksent.streaming.count_window import streaming_cumulative_per_record

    got_df, ev = _restart_to_parquet(
        spark,
        tmp_path,
        "cum_rs",
        lambda s: streaming_cumulative_per_record(
            s.select(F.col("user_id").cast("string").alias("key"), "value", "ts", "event_id")
        ),
    )
    got = (
        got_df.toPandas().sort_values(["key", "ts", "event_id"]).reset_index(drop=True)
    )
    batch = windows.cumulative_agg(
        ev.select(F.col("user_id").cast("string").alias("key"), "value", "ts", "event_id"),
        ["key"],
        "value",
        out_col="cum",
    )
    want = (
        batch.select("key", F.col("cum").alias("value"), "ts", "event_id")
        .toPandas()
        .sort_values(["key", "ts", "event_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got["event_id"].to_numpy() == want["event_id"].to_numpy()).all()
    assert np.allclose(got["value"].to_numpy(), want["value"].to_numpy(), rtol=1e-9)


def test_scd2_state_survives_checkpoint_restart(spark, tmp_path):
    """The four-scalar SCD2 state machine restores across a restart:
    an island OPEN at the kill point must keep accumulating n_events
    and close with the correct interval after recovery."""
    from sparksent.registry import queries
    from sparksent.streaming.count_window import streaming_scd2_per_record

    got_df, _ = _restart_to_parquet(
        spark,
        tmp_path,
        "scd2_rs",
        lambda s: streaming_scd2_per_record(
            s.select("user_id", "event_type", "ts", "event_id")
        ),
    )
    got = sorted(tuple(r) for r in got_df.collect())
    want = sorted(
        tuple(r)
        for r in queries()["scd2_user_event_type"](spark, SF_DIR_SMALL)
        .filter(F.col("valid_to_us") != -1)
        .collect()
    )
    assert got == want and len(got) > 0  # multiset: dup re-emission fails


def test_ewma_state_survives_checkpoint_restart(spark, tmp_path):
    """The three-lag EWMA carry restores across a restart bit-for-bit
    (the arithmetic contract, not approximate equality)."""
    from sparksent.streaming.count_window import streaming_ewma_per_record

    got_df, ev = _restart_to_parquet(
        spark,
        tmp_path,
        "ewma_rs",
        lambda s: streaming_ewma_per_record(
            s.select("user_id", "value", "ts", "event_id")
        ),
    )
    got = (
        got_df.toPandas().sort_values(["user_id", "ts", "event_id"]).reset_index(drop=True)
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    l1, l2, l3 = (F.lag("value", i).over(w) for i in (1, 2, 3))
    num = (
        F.col("value") * 8
        + F.coalesce(l1, F.lit(0.0)) * 4
        + F.coalesce(l2, F.lit(0.0)) * 2
        + F.coalesce(l3, F.lit(0.0)) * 1
    )
    den = (
        F.lit(8)
        + F.when(l1.isNull(), F.lit(0)).otherwise(F.lit(4))
        + F.when(l2.isNull(), F.lit(0)).otherwise(F.lit(2))
        + F.when(l3.isNull(), F.lit(0)).otherwise(F.lit(1))
    )
    want = (
        ev.select("user_id", "value", (num / den).alias("ewma4"), "ts", "event_id")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert (got["event_id"].to_numpy() == want["event_id"].to_numpy()).all()
    assert (got["ewma4"].to_numpy() == want["ewma4"].to_numpy()).all()


def test_rolling_buffer_survives_checkpoint_restart(spark, tmp_path):
    """The trailing-60s BUFFER — the most complex restorable state
    (a list of in-window rows, not scalars) — must come back exactly:
    a window straddling the kill point re-admits its pre-restart rows
    after recovery, so the combined output equals the batch RANGE
    frame bit-for-bit including the decimal sums."""
    from sparksent.registry import REGISTRY, _ensure_loaded
    from sparksent.streaming.count_window import streaming_rolling_window_stats

    _ensure_loaded()
    got_df, ev = _restart_to_parquet(
        spark,
        tmp_path,
        "roll_rs",
        lambda s: streaming_rolling_window_stats(
            s.select("user_id", "value", F.unix_micros("ts").alias("ts_us"), "event_id")
        ),
    )
    got = sorted(
        tuple(r)
        for r in got_df.select("event_id", "user_id", "ts_us", "n_60s", "sum_60s").collect()
    )
    want = sorted(
        tuple(r)
        for r in REGISTRY["rolling_60s_user_stats"]
        .fn(spark, SF_DIR_SMALL)
        .select("event_id", "user_id", "ts_us", "n_60s", "sum_60s")
        .collect()
    )
    assert got == want and len(got) > 0  # multiset: dup re-emission fails


def test_count_window_state_survives_checkpoint_restart(spark, tmp_path):
    """The (bucket, count, accumulator) count-window state restores
    across a restart: a bucket partially filled at the kill point must
    complete with its pre-restart rows counted, so combined emissions
    equal the batch form's complete buckets."""
    got_df, ev = _restart_to_parquet(
        spark,
        tmp_path,
        "cw_rs",
        lambda s: streaming_count_window(
            s.select(
                F.col("user_id").cast("string").alias("key"), "value", "ts", "event_id"
            ),
            10,
            value_col="value",
        ),
    )
    got = (
        got_df.toPandas().sort_values(["key", "bucket"]).reset_index(drop=True)
    )
    batch_keyed = ev.select(
        F.col("user_id").cast("string").alias("key"), "value", "ts", "event_id"
    )
    want = (
        windows.count_window_agg(
            batch_keyed,
            ["key"],
            10,
            [windows.exact_sum("value").alias("value"), F.count("*").alias("n")],
        )
        .filter(F.col("n") == 10)
        .toPandas()
        .sort_values(["key", "bucket"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert (got["key"].to_numpy() == want["key"].to_numpy()).all()
    assert (got["bucket"].to_numpy() == want["bucket"].to_numpy()).all()
    assert np.allclose(got["value"].to_numpy(), want["value"].to_numpy(), rtol=1e-9)


def test_toxicity_state_survives_checkpoint_restart(spark, tmp_path):
    """The fused (cumulative, bucket, count, window-acc) toxicity state
    restores across a restart: the running per-key total must carry
    through the kill so post-restart windows sum the CONTINUED
    cumulative series, matching the single-run batch form."""
    from sparksent.streaming.count_window import streaming_toxicity_literal

    got_df, ev = _restart_to_parquet(
        spark,
        tmp_path,
        "tox_rs",
        lambda s: streaming_toxicity_literal(
            s.select(
                F.col("user_id").cast("string").alias("key"), "value", "ts", "event_id"
            ),
            10,
            7800.0,
        ),
    )
    # single-run reference: the existing equivalence target — replay the
    # same rows WITHOUT a restart through the same operator
    replay2 = str(tmp_path / "tox_rs_ref")
    write_replay_chunks(ev, replay2, N_CHUNKS)
    ref_stream = file_replay_source(spark, replay2).select(
        F.col("user_id").cast("string").alias("key"), "value", "ts", "event_id"
    )
    _run_to_memory(
        streaming_toxicity_literal(ref_stream, 10, 7800.0), "t_tox_ref_rs", "append"
    )
    got = sorted(tuple(r) for r in got_df.collect())
    want = sorted(tuple(r) for r in spark.table("t_tox_ref_rs").collect())
    assert got == want and len(got) > 0  # multiset: dup re-emission fails


def test_state_partitions_kept_by_checkpoint(spark, tmp_path):
    """A checkpoint keeps the state-partition count it was written with.
    A stateful query started on a session with 4 state partitions and
    restarted from its checkpoint on the main session still runs 4, and
    its restored state gives exact counts; a fresh checkpoint on the
    main session gets ``STATE_PARTITIONS``."""
    import os

    replay = str(tmp_path / "sp_replay")
    held = str(tmp_path / "sp_held")
    os.makedirs(held)
    ev = load_table(spark, SF_DIR_SMALL, "events")
    _, second = write_replay_chunks(ev, replay, 2)
    os.rename(second, os.path.join(held, os.path.basename(second)))
    four = spark.newSession()
    four.conf.set("spark.sql.streaming.internal.stateStore.partitions", "4")

    def run(session, ckpt, name):
        q = (
            file_replay_source(session, replay).groupBy("user_id").count()
            .writeStream.outputMode("complete").format("memory").queryName(name)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120), name
        return {op["numShufflePartitions"] for op in q.lastProgress["stateOperators"]}

    assert run(four, "sp_ckpt", "t_sp_four") == {4}
    os.rename(os.path.join(held, os.path.basename(second)), second)
    assert run(spark, "sp_ckpt", "t_sp_restart") == {4}
    assert run(spark, "sp_fresh", "t_sp_fresh") == {STATE_PARTITIONS}
    want = sorted(tuple(r) for r in ev.groupBy("user_id").count().collect())
    for name in ("t_sp_restart", "t_sp_fresh"):
        assert sorted(tuple(r) for r in spark.table(name).collect()) == want, name


def test_space_saving_exact_regime_equals_batch_counts(spark, tmp_path):
    """With capacity >= distinct items per key, the space-saving
    summary IS the exact (key, item) count table: all errors 0 and
    counts bit-equal to the batch groupBy."""
    from sparksent.streaming.count_window import streaming_space_saving

    replay = str(tmp_path / "ss_exact_replay")
    ev = load_table(spark, SF_DIR_SMALL, "events")
    write_replay_chunks(ev, replay, N_CHUNKS)

    stream = file_replay_source(spark, replay).select(
        "event_type", "user_id", "ts", "event_id"
    )
    out = streaming_space_saving(stream, capacity=100_000)
    _run_to_memory(out, "t_ss_exact", "update")
    snap = spark.table("t_ss_exact").toPandas()
    last = snap.groupby("event_type")["n_seen"].transform("max")
    final = snap[snap["n_seen"] == last]

    want = {
        (r["event_type"], r["user_id"]): r["n"]
        for r in ev.groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert (final["err"] == 0).all()
    got = {
        (r.event_type, r.item): r.count_est for r in final.itertuples()
    }
    assert got == {(k, i): n for (k, i), n in want.items()}
    # n_seen per key equals that key's total row count
    totals = final.groupby("event_type")["n_seen"].max().to_dict()
    key_totals = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert totals == key_totals


def test_space_saving_tight_capacity_invariants(spark, tmp_path):
    """capacity=8 over thousands of distinct users: the classic
    space-saving guarantees must hold per key — at most capacity
    counters, true <= count_est, count_est - err <= true, and every
    item with true count > n_seen/capacity is tracked."""
    from sparksent.streaming.count_window import streaming_space_saving

    replay = str(tmp_path / "ss_tight_replay")
    ev = load_table(spark, SF_DIR_SMALL, "events")
    write_replay_chunks(ev, replay, N_CHUNKS)

    cap = 8
    stream = file_replay_source(spark, replay).select(
        "event_type", "user_id", "ts", "event_id"
    )
    out = streaming_space_saving(stream, capacity=cap)
    _run_to_memory(out, "t_ss_tight", "update")
    snap = spark.table("t_ss_tight").toPandas()
    last = snap.groupby("event_type")["n_seen"].transform("max")
    final = snap[snap["n_seen"] == last]

    true = {
        (r["event_type"], r["user_id"]): r["n"]
        for r in ev.groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    per_key = final.groupby("event_type")
    assert (per_key.size() <= cap).all()
    for r in final.itertuples():
        t = true.get((r.event_type, r.item), 0)
        assert t <= r.count_est, (r, t)
        assert r.count_est - r.err <= t, (r, t)
    # guaranteed-heavy-hitter property
    n_seen = final.groupby("event_type")["n_seen"].max().to_dict()
    tracked = set(zip(final["event_type"], final["item"]))
    for (k, i), t in true.items():
        if t > n_seen[k] / cap:
            assert (k, i) in tracked, (k, i, t, n_seen[k])


def test_space_saving_state_survives_checkpoint_restart(spark, tmp_path):
    """Recovery contract for the counter-map operator: kill after 3
    chunks, reveal the rest, restart from the same checkpoint — the
    restored (items, counts, errs, n_seen) must CONTINUE (a reset
    would leave the final snapshot covering only the late chunks). In
    the exact-capacity regime the final snapshot must equal the batch
    count table bit-for-bit. Update-mode output goes through a
    foreachBatch parquet append (the plain parquet sink is
    append-only)."""
    import os

    from sparksent.streaming.count_window import streaming_space_saving

    replay = str(tmp_path / "ss_rs_replay")
    held = str(tmp_path / "ss_rs_held")
    os.makedirs(held, exist_ok=True)
    ev = load_table(spark, SF_DIR_SMALL, "events")
    paths = write_replay_chunks(ev, replay, N_CHUNKS)
    for p in paths[3:]:
        os.rename(p, os.path.join(held, os.path.basename(p)))
    out_dir = str(tmp_path / "ss_rs_out")
    ckpt = str(tmp_path / "ss_rs_ckpt")

    def run():
        q = (
            streaming_space_saving(
                file_replay_source(spark, replay).select(
                    "event_type", "user_id", "ts", "event_id"
                ),
                capacity=100_000,
            )
            .writeStream.outputMode("update")
            .foreachBatch(
                lambda b, _i: b.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    for p in paths[3:]:
        os.rename(os.path.join(held, os.path.basename(p)), p)
    run()

    snap = spark.read.parquet(out_dir).toPandas()
    last = snap.groupby("event_type")["n_seen"].transform("max")
    final = snap[snap["n_seen"] == last]
    want = {
        (r["event_type"], r["user_id"]): r["n"]
        for r in ev.groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {(r.event_type, r.item): r.count_est for r in final.itertuples()}
    assert got == want
    assert (final["err"] == 0).all()


def test_space_saving_matches_oracle_sf001(spark, ducks, tmp_path):
    """Streaming space-saving against an INDEPENDENT DuckDB group-count
    recomputation at sf0.01 (rows + schema + exact values) — closing
    the direct-oracle matrix for every carry-state operator (VERDICT r7
    ask #3). In the exact-capacity regime (capacity >= distinct items
    per key; sf0.01 has 150 users x 5 event types) the final snapshot
    per key IS the exact count table with all errs 0 and n_seen equal
    to the key's total row count, so the engine-vs-engine comparison is
    bit-exact, not a bound check."""
    from sparksent.streaming.count_window import streaming_space_saving

    from conftest import SF_DIR, assert_oracle_match

    replay = str(tmp_path / "ss_oracle_replay")
    ev = load_table(spark, SF_DIR, "events")
    write_replay_chunks(ev, replay, N_CHUNKS)

    stream = file_replay_source(spark, replay).select(
        "event_type", "user_id", "ts", "event_id"
    )
    out = streaming_space_saving(stream, capacity=1_000)
    _run_to_memory(out, "t_ss_oracle", "update")
    snap = spark.table("t_ss_oracle")
    w = Window.partitionBy("event_type")
    final = (
        snap.withColumn("max_seen", F.max("n_seen").over(w))
        .filter(F.col("n_seen") == F.col("max_seen"))
        .select("event_type", "item", "count_est", "err", "n_seen")
    )
    assert_oracle_match(
        final,
        ducks,
        """
        SELECT e.event_type, e.user_id AS item,
               count(*)::BIGINT AS count_est, 0::BIGINT AS err,
               t.n_seen
        FROM events e
        JOIN (
          SELECT event_type, count(*)::BIGINT AS n_seen
          FROM events GROUP BY 1
        ) t USING (event_type)
        GROUP BY e.event_type, e.user_id, t.n_seen
        """,
    )


def test_dsir_score_stream_matches_batch(spark, tmp_path):
    """DSIR scoring as a stream-static pipeline: feature models are
    FIT in batch (dsir_importance's fit stage), then documents arrive
    as a file-replay stream and each micro-batch is scored by the SAME
    dsir_score plan via foreachBatch (scoring is per-document — no
    cross-row state; the bucket-bounded models are the static broadcast
    side). The union of streamed outputs must equal the registered
    batch query's answer row-for-row — the new-corpus-member scoring
    path a production ingest would run."""
    import os

    from sparksent.ext import curation
    from sparksent.streaming.sources import append_flat_file
    from sparksent.tables import load_table

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    target_docs = docs.filter(F.col("doc_id") % curation.DSIR_TARGET_MOD == 0)
    raw_docs = docs.filter(F.col("doc_id") % curation.DSIR_TARGET_MOD != 0)

    from sparksent.ext.hashing import h28, word_grams

    B = curation.DSIR_BUCKETS
    feats = lambda d: d.select(  # noqa: E731
        F.explode(word_grams("text", 2)).alias("g")
    ).select((h28(F.col("g")) % B).alias("b"))
    target = feats(target_docs).groupBy("b").agg(F.count("*").alias("t"))
    raw_model = feats(raw_docs).groupBy("b").agg(F.count("*").alias("r"))
    totals = target.agg(F.sum("t").cast("long").alias("t_sum")).crossJoin(
        raw_model.agg(F.sum("r").cast("long").alias("r_sum"))
    )
    # pin the fitted models (scanned once per micro-batch otherwise)
    target, raw_model, totals = (
        target.localCheckpoint(),
        raw_model.localCheckpoint(),
        totals.localCheckpoint(),
    )

    replay = str(tmp_path / "dsir_replay")
    for i in range(3):
        append_flat_file(
            raw_docs.filter(F.col("doc_id") % 3 == i), replay, f"chunk_{i}.parquet"
        )
    out_dir = str(tmp_path / "dsir_out")
    stream = spark.readStream.schema("doc_id long, text string").parquet(replay)
    q = (
        stream.writeStream.foreachBatch(
            lambda b, _i: curation.dsir_score(b, target, raw_model, totals)
            .write.mode("append")
            .parquet(out_dir)
        )
        .option("checkpointLocation", str(tmp_path / "dsir_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    want = curation.dsir_importance(docs)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_streaming_ivf_route_vs_batch_and_lloyd(spark, tmp_path):
    """Incoming-embedding routing: odd vec_ids replayed as the stream
    against cells trained on the even-id corpus; the streamed
    assignments must equal (a) the same routing run as one batch, and
    (b) for the TRAINING corpus itself, the Lloyd loop's own final
    assignment — the router and the index were fit by the same integer
    argmin, so a routed vector lands exactly where a reclustering
    would put it."""
    from pyspark.sql import types as T

    from sparksent.ext.iterative import kmeans_assignments
    from sparksent.streaming import ivf_centroid_row, route_to_cells
    from sparksent.streaming.sources import file_replay_source, write_replay_chunks

    emb = load_table(spark, SF_DIR_SMALL, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    incoming = emb.filter(F.col("vec_id") % 2 == 1)
    crow = ivf_centroid_row(corpus, n_centroids=8)

    replay = str(tmp_path / "ivf_route_replay")
    write_replay_chunks(incoming, replay, 3, order_col="vec_id")
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    stream = file_replay_source(spark, replay, schema=schema)
    out = route_to_cells(stream, crow)
    q = (
        out.writeStream.outputMode("append")  # stateless projection
        .format("memory")
        .queryName("t_ivf_route")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.vec_id, r.cell, r.d) for r in spark.table("t_ivf_route").collect()
    }
    want = {
        (r.vec_id, r.cell, r.d) for r in route_to_cells(incoming, crow).collect()
    }
    assert got == want and len(got) == incoming.count()

    # self-parity: routing the training corpus == the Lloyd assignment
    routed = {
        (r.vec_id, r.cell, r.d) for r in route_to_cells(corpus, crow).collect()
    }
    lloyd = {
        (r.id, r.cl, r.d)
        for r in kmeans_assignments(corpus, k=8).collect()
    }
    assert routed == lloyd


def test_neardup_admission_loop(spark, tmp_path):
    """The self-maintaining dedup index: seed the at-rest index with
    the even-id corpus, replay odd ids in 3 micro-batches through
    admit_batch(..., "minhash", ...) (check vs accumulated index + intra-batch
    self-join + append), and require the accumulated emissions to equal
    the FULL batch minhash self-join over all documents minus the
    even-even pairs (the only pairs no admission checks — the corpus
    was indexed, never admitted).  This closes the new-vs-new scope
    gap the fixed-index operator documents: a near-dup whose twin
    arrives in a later or the same micro-batch is still caught."""
    from pyspark.sql import types as T

    from sparksent.ext.dedup import minhash_lsh_pairs
    from sparksent.streaming import (
        admit_batch,
        band_index,
        write_neardup_index,
    )
    from sparksent.streaming.sources import file_replay_source, write_replay_chunks
    from sparksent.tables import load_table

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    incoming = docs.filter(F.col("doc_id") % 2 == 1)

    index_path = str(tmp_path / "admit_index")
    out_path = str(tmp_path / "admit_out")
    write_neardup_index(band_index(corpus, "minhash"), index_path, n_buckets=16)

    replay = str(tmp_path / "admit_replay")
    write_replay_chunks(incoming, replay, 3, order_col="doc_id")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    q = (
        file_replay_source(spark, replay, schema=schema)
        .writeStream.foreachBatch(
            lambda b, i: admit_batch(
                b, "minhash", index_path, out_path, batch_id=i, n_buckets=16
            )
        )
        .option("checkpointLocation", str(tmp_path / "admit_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.id_lo, r.id_hi, round(r.est_jaccard, 9))
        for r in spark.read.parquet(out_path).collect()
    }
    want = {
        (r.id_a, r.id_b, round(r.est_jaccard, 9))
        for r in minhash_lsh_pairs(docs).collect()
        if not (r.id_a % 2 == 0 and r.id_b % 2 == 0)
    }
    assert got == want and len(want) > 0
    # odd-odd pairs must be present — the new-vs-new class the fixed
    # index cannot catch
    assert any(a % 2 == 1 and b % 2 == 1 for a, b, _ in got)
    # the index layout is bucketed: every data file lives under a
    # kbucket=N partition directory (the probe prunes on it)
    import os

    kdirs = [d for d in os.listdir(index_path) if d.startswith("kbucket=")]
    assert kdirs and all(int(d.split("=")[1]) < 16 for d in kdirs)


def test_neardup_admission_corrupt_index_raises(spark, tmp_path):
    """ADVICE r9 regression: a PRESENT but unreadable index must fail
    the micro-batch (so it is retried), not be silently treated as
    'first batch' — the old bare ``except Exception`` skipped the
    vs-index check, emitted nothing, and still appended, permanently
    losing new-vs-corpus pairs."""
    import os

    import pytest

    from sparksent.streaming import admit_batch
    from sparksent.tables import load_table

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    index_path = str(tmp_path / "bad_index")
    out_path = str(tmp_path / "bad_out")
    os.makedirs(index_path)
    with open(os.path.join(index_path, "part-0.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")
    batch = docs.filter(F.col("doc_id") < 50).localCheckpoint()
    with pytest.raises(Exception):
        admit_batch(batch, "minhash", index_path, out_path, batch_id=0, n_buckets=16)
    # and nothing was emitted or admitted: the corrupt index is intact,
    # no pair output exists (the failure happened BEFORE any write)
    assert not os.path.isdir(out_path)
    assert os.listdir(index_path) == ["part-0.parquet"]


def test_neardup_admission_replay_idempotent(spark, tmp_path):
    """ADVICE r9 regression: replaying a micro-batch (at-least-once
    foreachBatch) must not double-append. The pair output overwrites
    its own ingest_batch partition; the index merge anti-joins the
    batch's own keys out before re-adding them — both byte-identical
    row sets after a replay."""
    from sparksent.streaming import (
        admit_batch,
        band_index,
        write_neardup_index,
    )
    from sparksent.tables import load_table

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1).filter(
        F.col("doc_id") < 200
    ).localCheckpoint()

    index_path = str(tmp_path / "re_index")
    out_path = str(tmp_path / "re_out")
    write_neardup_index(band_index(corpus, "minhash"), index_path, n_buckets=16)

    admit_batch(batch, "minhash", index_path, out_path, batch_id=7, n_buckets=16)
    pairs_1 = sorted(
        (r.id_lo, r.id_hi) for r in spark.read.parquet(out_path).collect()
    )
    index_1 = sorted(
        (r.corpus_id, r.band) for r in spark.read.parquet(index_path).collect()
    )
    assert len(pairs_1) > 0 and len(index_1) == len(set(index_1))

    # the replay: same batch, same batch_id
    admit_batch(batch, "minhash", index_path, out_path, batch_id=7, n_buckets=16)
    pairs_2 = sorted(
        (r.id_lo, r.id_hi) for r in spark.read.parquet(out_path).collect()
    )
    index_2 = sorted(
        (r.corpus_id, r.band) for r in spark.read.parquet(index_path).collect()
    )
    assert pairs_2 == pairs_1
    assert index_2 == index_1


def test_image_phash_admission_loop(spark, tmp_path):
    """The admission loop bound to the IMAGE modality (round 11,
    VERDICT r10 ask #8): seed the bucketed index with the even-id
    images, replay odd ids in 3 micro-batches through
    admit_batch(..., "image_phash", ...), and require the accumulated emissions to
    equal the batch banded phash self-join over ALL images minus the
    even-even pairs (indexed, never admitted).  The variant-law groups
    of 4 consecutive ids guarantee every class is exercised: exact
    pairs split across even/odd (vs-index), odd-odd pairs within and
    ACROSS micro-batches (intra-batch + vs-accumulated-index), and
    near pairs from the perturbed variant."""
    from pyspark.sql import types as T

    from sparksent.ext.imagedup import image_phash_pairs
    from sparksent.streaming import (
        admit_batch,
        band_index,
        write_neardup_index,
    )
    from sparksent.streaming.sources import file_replay_source, write_replay_chunks
    from sparksent.tables import load_table

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    incoming = docs.filter(F.col("doc_id") % 2 == 1)

    index_path = str(tmp_path / "img_index")
    out_path = str(tmp_path / "img_out")
    write_neardup_index(band_index(corpus, "image_phash"), index_path, n_buckets=16)

    replay = str(tmp_path / "img_replay")
    write_replay_chunks(incoming, replay, 3, order_col="doc_id")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    q = (
        file_replay_source(spark, replay, schema=schema)
        .writeStream.foreachBatch(
            lambda b, i: admit_batch(
                b, "image_phash", index_path, out_path, batch_id=i, n_buckets=16
            )
        )
        .option("checkpointLocation", str(tmp_path / "img_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.id_lo, r.id_hi, r.hamming)
        for r in spark.read.parquet(out_path).collect()
    }
    # the admission loop has no df-cap stage (per-batch band keys are
    # bounded by the batch, the skew class the cap exists for), so the
    # batch reference runs uncapped — identical on this corpus anyway
    # (fixture hottest bucket is far below the cap)
    want = {
        (r.id_a, r.id_b, r.hamming)
        for r in image_phash_pairs(docs, max_df=None).collect()
        if not (r.id_a % 2 == 0 and r.id_b % 2 == 0)
    }
    assert got == want and len(want) > 0
    # both planted classes surface through the stream: exact (h=0,
    # incl. odd-odd new-vs-new) and near (0 < h <= 3)
    assert any(h == 0 and a % 2 == 1 and b % 2 == 1 for a, b, h in got)
    assert any(h > 0 for a, b, h in got)


def test_audio_fp_admission_loop(spark, tmp_path):
    """The admission loop bound to the AUDIO modality (the fourth
    binding — every fingerprinted modality now streams): seed the
    bucketed index with even-id clips, replay odd ids in 3
    micro-batches through admit_batch(..., "audio_fp", ...), and require the
    accumulated emissions to equal the batch banded fingerprint
    self-join over all clips minus the even-even pairs."""
    from pyspark.sql import types as T

    from sparksent.ext.audiodup import audio_fp_pairs
    from sparksent.streaming import (
        admit_batch,
        band_index,
        write_neardup_index,
    )
    from sparksent.streaming.sources import file_replay_source, write_replay_chunks
    from sparksent.tables import load_table

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    incoming = docs.filter(F.col("doc_id") % 2 == 1)

    index_path = str(tmp_path / "aud_index")
    out_path = str(tmp_path / "aud_out")
    write_neardup_index(band_index(corpus, "audio_fp"), index_path, n_buckets=16)

    replay = str(tmp_path / "aud_replay")
    write_replay_chunks(incoming, replay, 3, order_col="doc_id")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    q = (
        file_replay_source(spark, replay, schema=schema)
        .writeStream.foreachBatch(
            lambda b, i: admit_batch(
                b, "audio_fp", index_path, out_path, batch_id=i, n_buckets=16
            )
        )
        .option("checkpointLocation", str(tmp_path / "aud_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.id_lo, r.id_hi, r.hamming)
        for r in spark.read.parquet(out_path).collect()
    }
    # the admission loop has no df-cap stage (per-batch band keys are
    # bounded by the batch); the batch reference runs uncapped —
    # identical on this corpus (hottest bucket far below the cap)
    want = {
        (r.id_a, r.id_b, r.hamming)
        for r in audio_fp_pairs(docs, max_df=None).collect()
        if not (r.id_a % 2 == 0 and r.id_b % 2 == 0)
    }
    assert got == want and len(want) > 0
    assert any(h == 0 for a, b, h in got)  # exact class surfaces


def test_video_framehash_admission_loop(spark, tmp_path):
    """The admission loop bound to the VIDEO modality (the third
    binding of the hash-agnostic core): seed the bucketed index with
    the even-id clips, replay odd ids in 3 micro-batches through
    admit_batch(..., "video_framehash", ...), and require the accumulated emissions
    to equal the batch sampled-frame-agreement self-join over ALL
    clips minus the even-even pairs — exact dups at agreement 1.0 and
    the frame-0-perturbed variants at exactly (kk-1)/kk."""
    from pyspark.sql import types as T

    from sparksent.ext.videodup import video_framehash_pairs
    from sparksent.streaming import (
        admit_batch,
        band_index,
        write_neardup_index,
    )
    from sparksent.streaming.sources import file_replay_source, write_replay_chunks
    from sparksent.tables import load_table

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    incoming = docs.filter(F.col("doc_id") % 2 == 1)

    index_path = str(tmp_path / "vid_index")
    out_path = str(tmp_path / "vid_out")
    write_neardup_index(
        band_index(corpus, "video_framehash"), index_path, n_buckets=16
    )

    replay = str(tmp_path / "vid_replay")
    write_replay_chunks(incoming, replay, 3, order_col="doc_id")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    q = (
        file_replay_source(spark, replay, schema=schema)
        .writeStream.foreachBatch(
            lambda b, i: admit_batch(
                b, "video_framehash", index_path, out_path, batch_id=i, n_buckets=16
            )
        )
        .option("checkpointLocation", str(tmp_path / "vid_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.id_lo, r.id_hi, round(r.agreement, 9))
        for r in spark.read.parquet(out_path).collect()
    }
    want = {
        (r.id_a, r.id_b, round(r.n_match / r.n_slots, 9))
        for r in video_framehash_pairs(docs).collect()
        if not (r.id_a % 2 == 0 and r.id_b % 2 == 0)
    }
    assert got == want and len(want) > 0
    # exact class surfaces (agreement 1.0: the even-indexed variant
    # against the odd one — only one of variants 0-2 is odd, so no
    # odd-odd exact pair can exist by construction)
    assert any(s == 1.0 for a, b, s in got)
    # new-vs-new class surfaces: odd-odd pairs are always v1-vs-v3,
    # agreement exactly (kk-1)/kk < 1
    assert any(a % 2 == 1 and b % 2 == 1 and s < 1.0 for a, b, s in got)


def test_winnowing_admission_loop(spark, tmp_path):
    """The admission loop bound to WINNOWING fingerprints (the fifth
    binding — every dedup signature family now streams): seed the
    bucketed index with even-id documents, replay odd ids in 3
    micro-batches through admit_batch(..., "winnowing", ...), and require the
    accumulated emissions to equal the uncapped batch
    winnowing_pairs(max_df=None) over all documents minus the
    even-even pairs (indexed, never admitted).  Exercises vs-index,
    intra-batch, and vs-accumulated-index candidate classes (the
    fixture's near-dup ids land in different parity/batch cells)."""
    from pyspark.sql import types as T

    from sparksent.ext.dedup import winnowing_pairs
    from sparksent.streaming import (
        admit_batch,
        band_index,
        write_neardup_index,
    )
    from sparksent.streaming.sources import file_replay_source, write_replay_chunks
    from sparksent.tables import load_table

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    incoming = docs.filter(F.col("doc_id") % 2 == 1)

    index_path = str(tmp_path / "win_index")
    out_path = str(tmp_path / "win_out")
    write_neardup_index(band_index(corpus, "winnowing"), index_path, n_buckets=16)

    replay = str(tmp_path / "win_replay")
    write_replay_chunks(incoming, replay, 3, order_col="doc_id")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    q = (
        file_replay_source(spark, replay, schema=schema)
        .writeStream.foreachBatch(
            lambda b, i: admit_batch(
                b, "winnowing", index_path, out_path, batch_id=i, n_buckets=16
            )
        )
        .option("checkpointLocation", str(tmp_path / "win_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.id_lo, r.id_hi, r.n_shared)
        for r in spark.read.parquet(out_path).collect()
    }
    want = {
        (r.id_a, r.id_b, r.n_shared)
        for r in winnowing_pairs(docs, max_df=None).collect()
        if not (r.id_a % 2 == 0 and r.id_b % 2 == 0)
    }
    assert got == want and len(want) > 0
    # odd-odd pairs (new-vs-new, within or across micro-batches) surface
    assert any(a % 2 == 1 and b % 2 == 1 for a, b, _n in got)


def test_ivf_serve_loop_matches_batch(spark, tmp_path):
    """Streaming ANN SERVING (the retrieval-side dual of the admission
    loops): build the trained-IVF index at rest once, replay 30 query
    vectors in 3 micro-batches through ivf_serve_batch, and require the
    accumulated emissions to equal the fused batch
    ivf_trained_topk(corpus, all 30 queries) row-for-row — the trained
    Lloyd centroids are deterministic, so offline-index + online-serve
    reproduces the one-shot batch query bit-for-bit.  (The probed-cell
    partition pruning is a filter on the cell PARTITION column —
    structural, same mechanism the admission loop's kbucket probe
    measures in SCALE.md.)"""
    from pyspark.sql import types as T

    from sparksent.ext.similarity import ivf_trained_topk, n_centroids_for
    from sparksent.streaming import ivf_serve_batch, write_ivf_index
    from sparksent.streaming.sources import file_replay_source, write_replay_chunks
    from sparksent.tables import load_table

    emb = load_table(spark, SF_DIR_SMALL, "embeddings")
    kc = n_centroids_for(emb.count())
    queries = emb.filter(F.col("vec_id") < 30)

    index_dir = str(tmp_path / "ivf_index")
    out_path = str(tmp_path / "ivf_out")
    write_ivf_index(emb, index_dir, n_centroids=kc)

    replay = str(tmp_path / "ivf_replay")
    write_replay_chunks(queries, replay, 3, order_col="vec_id")
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    q = (
        file_replay_source(spark, replay, schema=schema)
        .writeStream.foreachBatch(
            lambda b, i: ivf_serve_batch(b, index_dir, out_path, batch_id=i)
        )
        .option("checkpointLocation", str(tmp_path / "ivf_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.query_id, r.neighbor_id, r.rank, r.sim_r)
        for r in spark.read.parquet(out_path).collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.rank, r.sim_r)
        for r in ivf_trained_topk(emb, queries, n_centroids=kc).collect()
    }
    assert got == want and len(want) == 30 * 5


def test_frame_agreement_unlike_lengths_dropped(spark):
    """ADVICE r11: the streaming video score must apply the same
    ns_a == ns_b guard as batch video_framehash_pairs — a pair of
    unlike-length signatures sharing a frame hash scores 0.0 (dropped
    by every keep threshold), never matches/size(sig_a); equal-length
    pairs score the true slot-agreement fraction."""
    from sparksent.streaming.neardup import _frame_agreement

    df = spark.createDataFrame(
        [
            ([1, 2, 3], [1, 2, 3]),      # exact: 1.0
            ([1, 2, 3, 4], [1, 2, 9, 9]),  # half: 0.5
            ([1, 2, 3], [1, 2]),         # unlike length: guarded to 0.0
            ([1, 2], [1, 2, 3]),         # unlike length, shorter left
        ],
        "a array<long>, b array<long>",
    )
    got = [
        r.s for r in df.select(_frame_agreement(F.col("a"), F.col("b")).alias("s")).collect()
    ]
    assert got == [1.0, 0.5, 0.0, 0.0]


def test_streaming_domain_quota_vs_greedy_batch(spark, tmp_path):
    """The streaming per-domain quota (round 12): replay documents in 3
    micro-batches; the admitted set must equal the deterministic greedy
    chunk-by-chunk simulation — per source, rank by (chunk, lottery,
    doc_id) and keep the first cap — and when the WHOLE corpus arrives
    as ONE batch the streamed set must equal the BATCH
    sample_domain_quota exactly (same lottery, same rank)."""
    from pyspark.sql import types as T

    from sparksent.ext.curation import sample_domain_quota
    from sparksent.ext.hashing import h60
    from sparksent.streaming import streaming_domain_quota
    from sparksent.streaming.sources import file_replay_source, write_replay_chunks
    from sparksent.tables import load_table

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "source")
    cap = 5
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("source", T.StringType())]
    )

    def run_stream(replay, ckpt, out_name):
        q = (
            streaming_domain_quota(
                file_replay_source(spark, replay, schema=schema), cap=cap
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(out_name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return {
            (r.doc_id, r.source, r.rk) for r in spark.table(out_name).collect()
        }

    # leg 1: three chunks -> greedy chunk-by-chunk model
    replay3 = str(tmp_path / "dq_replay3")
    files = write_replay_chunks(docs, replay3, 3, order_col="doc_id")
    chunk_of = []
    for i, f in enumerate(sorted(files)):
        chunk_of.append(
            spark.read.parquet(f).select("doc_id").withColumn("chunk", F.lit(i))
        )
    chunks = chunk_of[0]
    for c in chunk_of[1:]:
        chunks = chunks.union(c)
    lot = h60(F.concat(F.lit("domquota:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy("chunk", lot.asc(), F.col("doc_id").asc())
    want3 = {
        (r.doc_id, r.source, r.rk)
        for r in docs.join(chunks, "doc_id")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= cap)
        .collect()
    }
    got3 = run_stream(replay3, str(tmp_path / "dq_ckpt3"), "t_dq3")
    assert got3 == want3 and len(want3) > 0

    # leg 2: one chunk -> exact agreement with the batch operator
    replay1 = str(tmp_path / "dq_replay1")
    write_replay_chunks(docs, replay1, 1, order_col="doc_id")
    got1 = run_stream(replay1, str(tmp_path / "dq_ckpt1"), "t_dq1")
    want1 = {
        (r.doc_id, r.source, r.rk)
        for r in sample_domain_quota(docs, cap=cap).collect()
    }
    assert got1 == want1 and len(want1) > 0


def test_streaming_domain_quota_survives_checkpoint_restart(spark, tmp_path):
    """Kill-and-restart recovery proof for the quota state (the
    applyInPandasWithState contract every stateful operator here
    carries): stop after the first micro-batch, restart from the
    checkpoint, and require the union of both runs' emissions to equal
    the single-pass greedy answer — the admitted counters must survive
    the restart (a reset counter would re-admit past-cap docs)."""
    from pyspark.sql import types as T

    from sparksent.ext.hashing import h60
    from sparksent.streaming import streaming_domain_quota
    from sparksent.streaming.sources import file_replay_source, write_replay_chunks
    from sparksent.tables import load_table

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "source")
    cap = 5
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("source", T.StringType())]
    )
    replay = str(tmp_path / "dqr_replay")
    files = write_replay_chunks(docs, replay, 3, order_col="doc_id")
    ckpt = str(tmp_path / "dqr_ckpt")

    def start():
        return (
            streaming_domain_quota(
                file_replay_source(spark, replay, schema=schema), cap=cap
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(tmp_path / "dqr_out"))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    # kill between micro-batches: wait for the first batch to commit
    import time as _time

    deadline = _time.time() + 120
    import os as _os

    while _time.time() < deadline:
        commits = _os.path.join(ckpt, "commits")
        if _os.path.isdir(commits) and any(
            not f.startswith(".") for f in _os.listdir(commits)
        ):
            break
        _time.sleep(0.5)
    q.stop()
    q2 = start()  # resume from the checkpoint
    q2.awaitTermination(180)

    got = {
        (r.doc_id, r.source, r.rk)
        for r in spark.read.parquet(str(tmp_path / "dqr_out")).collect()
    }
    chunk_of = []
    for i, f in enumerate(sorted(files)):
        chunk_of.append(
            spark.read.parquet(f).select("doc_id").withColumn("chunk", F.lit(i))
        )
    chunks = chunk_of[0]
    for c in chunk_of[1:]:
        chunks = chunks.union(c)
    lot = h60(F.concat(F.lit("domquota:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy("chunk", lot.asc(), F.col("doc_id").asc())
    want = {
        (r.doc_id, r.source, r.rk)
        for r in docs.join(chunks, "doc_id")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= cap)
        .collect()
    }
    assert got == want and len(want) > 0


def test_streaming_token_budget_vs_greedy_batch(spark, tmp_path):
    """The streaming per-group TOKEN budget (round 13): replay
    documents in 3 micro-batches; the admitted set (including each
    row's exclusive prior_tokens) must equal the deterministic greedy
    chunk-by-chunk simulation — per language, order by (chunk,
    lottery, doc_id), exclusive running token sum, keep while it is
    under budget — and when the WHOLE corpus arrives as ONE batch the
    streamed frame must equal the BATCH sample_token_budget exactly
    (same lottery, same counts, same prior sums) — and, for a frame
    that already carries ``n_tokens``, the batch
    sample_token_budget_counts over those counts."""
    from pyspark.sql import types as T

    from sparksent.ext.curation import sample_token_budget, sample_token_budget_counts
    from sparksent.ext.hashing import h60
    from sparksent.streaming import streaming_token_budget
    from sparksent.streaming.sources import file_replay_source, write_replay_chunks
    from sparksent.tables import load_table

    docs = load_table(spark, SF_DIR_SMALL, "documents").select(
        "doc_id", "lang", "text"
    )
    budget = 600
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def run_stream(replay, ckpt, out_name, src_schema=schema):
        q = (
            streaming_token_budget(
                file_replay_source(spark, replay, schema=src_schema), budget=budget
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(out_name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return {
            (r.doc_id, r.lang, r.n_tokens, r.prior_tokens)
            for r in spark.table(out_name).collect()
        }

    n_tok = (
        F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit("")))
        .cast("long")
        .alias("n_tokens")
    )
    lot = h60(F.concat(F.lit("tokbudget:"), F.col("doc_id").cast("string")))

    # leg 1: three chunks -> greedy chunk-by-chunk model (exclusive
    # running sum over the (chunk, lottery, id) order; admission is
    # prefix-closed, so the all-rows window sum equals the stream's
    # admitted-only counter — same argument as the batch operator)
    replay3 = str(tmp_path / "tb_replay3")
    files = write_replay_chunks(docs, replay3, 3, order_col="doc_id")
    chunk_of = []
    for i, f in enumerate(sorted(files)):
        chunk_of.append(
            spark.read.parquet(f).select("doc_id").withColumn("chunk", F.lit(i))
        )
    chunks = chunk_of[0]
    for c in chunk_of[1:]:
        chunks = chunks.union(c)
    w = (
        Window.partitionBy("lang")
        .orderBy("chunk", lot.asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want3 = {
        (r.doc_id, r.lang, r.n_tokens, r.prior_tokens)
        for r in docs.join(chunks, "doc_id")
        .select("doc_id", "lang", "chunk", n_tok)
        .withColumn(
            "prior_tokens", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .filter(F.col("prior_tokens") < budget)
        .collect()
    }
    got3 = run_stream(replay3, str(tmp_path / "tb_ckpt3"), "t_tb3")
    assert got3 == want3 and len(want3) > 0

    # leg 2: one chunk -> exact agreement with the batch operator
    replay1 = str(tmp_path / "tb_replay1")
    write_replay_chunks(docs, replay1, 1, order_col="doc_id")
    got1 = run_stream(replay1, str(tmp_path / "tb_ckpt1"), "t_tb1")
    want1 = {
        (r.doc_id, r.lang, r.n_tokens, r.prior_tokens)
        for r in sample_token_budget(docs, budget=budget).collect()
    }
    assert got1 == want1 and len(want1) > 0

    # leg 2b: a frame that already carries n_tokens skips the whitespace
    # count; counts unlike the whitespace ones -> the batch counts form
    counted = docs.select(
        "doc_id", "lang", (F.length("text") % 7 + 1).cast("long").alias("n_tokens")
    )
    replay1c = str(tmp_path / "tb_replay1c")
    write_replay_chunks(counted, replay1c, 1, order_col="doc_id")
    counted_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_tokens", T.LongType()),
        ]
    )
    got1c = run_stream(
        replay1c, str(tmp_path / "tb_ckpt1c"), "t_tb1c", counted_schema
    )
    want1c = {
        (r.doc_id, r.lang, r.n_tokens, r.prior_tokens)
        for r in sample_token_budget_counts(counted, budget=budget).collect()
    }
    assert got1c == want1c and len(want1c) > 0 and got1c != got1


def test_streaming_token_budget_survives_checkpoint_restart(spark, tmp_path):
    """Kill-and-restart recovery proof for the token-sum state: stop
    after the first micro-batch, restart from the checkpoint, and
    require the union of both runs' emissions to equal the single-pass
    greedy answer — a reset sum would re-admit past-budget docs."""
    from pyspark.sql import types as T

    from sparksent.ext.hashing import h60
    from sparksent.streaming import streaming_token_budget
    from sparksent.streaming.sources import file_replay_source, write_replay_chunks
    from sparksent.tables import load_table

    docs = load_table(spark, SF_DIR_SMALL, "documents").select(
        "doc_id", "lang", "text"
    )
    budget = 600
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    replay = str(tmp_path / "tbr_replay")
    files = write_replay_chunks(docs, replay, 3, order_col="doc_id")
    ckpt = str(tmp_path / "tbr_ckpt")

    def start():
        return (
            streaming_token_budget(
                file_replay_source(spark, replay, schema=schema), budget=budget
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(tmp_path / "tbr_out"))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    import os as _os
    import time as _time

    deadline = _time.time() + 120
    while _time.time() < deadline:
        commits = _os.path.join(ckpt, "commits")
        if _os.path.isdir(commits) and any(
            not f.startswith(".") for f in _os.listdir(commits)
        ):
            break
        _time.sleep(0.5)
    q.stop()
    q2 = start()  # resume from the checkpoint
    q2.awaitTermination(180)

    got = {
        (r.doc_id, r.lang, r.n_tokens, r.prior_tokens)
        for r in spark.read.parquet(str(tmp_path / "tbr_out")).collect()
    }
    n_tok = (
        F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit("")))
        .cast("long")
        .alias("n_tokens")
    )
    lot = h60(F.concat(F.lit("tokbudget:"), F.col("doc_id").cast("string")))
    chunk_of = []
    for i, f in enumerate(sorted(files)):
        chunk_of.append(
            spark.read.parquet(f).select("doc_id").withColumn("chunk", F.lit(i))
        )
    chunks = chunk_of[0]
    for c in chunk_of[1:]:
        chunks = chunks.union(c)
    w = (
        Window.partitionBy("lang")
        .orderBy("chunk", lot.asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = {
        (r.doc_id, r.lang, r.n_tokens, r.prior_tokens)
        for r in docs.join(chunks, "doc_id")
        .select("doc_id", "lang", "chunk", n_tok)
        .withColumn(
            "prior_tokens", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .filter(F.col("prior_tokens") < budget)
        .collect()
    }
    assert got == want and len(want) > 0


def _dqw_fixture(spark):
    """Synthetic bursty corpus for the WINDOWED quota: sources A/B over
    three 10s tumbling windows, with W1 rows ARRIVING BEFORE W0 rows
    (the burst the FCFS variant orders by arrival).  Event times are
    epoch-long casts (TZ-proof).  arrival = replay order."""
    rows = []  # (doc_id, source, sec, arrival)
    a = 0
    # chunk 0: all of W1 (ts 10..19) arrives FIRST
    for i, (d, s, sec) in enumerate(
        [(200, "A", 12), (201, "A", 15), (210, "B", 11), (211, "B", 13), (212, "B", 17)]
    ):
        rows.append((d, s, sec, a)); a += 1
    # chunk 1: W0 rows (ts 0..9) arrive late-but-in-bound
    for d, s, sec in [(100, "A", 1), (101, "A", 3), (102, "A", 5), (103, "A", 7),
                      (110, "B", 2), (111, "B", 6)]:
        rows.append((d, s, sec, a + 1000)); a += 1
    # chunk 2: W2 rows
    for d, s, sec in [(300, "A", 22), (301, "B", 25)]:
        rows.append((d, s, sec, a + 2000)); a += 1
    return spark.createDataFrame(
        rows, "doc_id long, source string, sec long, arrival long"
    ).withColumn("ts", F.col("sec").cast("timestamp")).drop("sec")


def _dqw_batch_model(spark, docs_with_ts, cap):
    """The windowed variant's batch dual: per source, rank by
    (window_start, lottery, doc_id) and keep the first cap."""
    from sparksent.ext.hashing import h60

    lot = h60(F.concat(F.lit("domquota:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(
        F.col("ws").asc(), lot.asc(), F.col("doc_id").asc()
    )
    return {
        (r.doc_id, r.source, r.ws, r.rk)
        for r in docs_with_ts.withColumn(
            "ws", F.window("ts", "10 seconds").start.cast("long")
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= cap)
        .collect()
    }


def test_streaming_domain_quota_windowed_vs_batch(spark, tmp_path):
    """VERDICT r12 ask #8: the bounded-lateness windowed quota must
    admit a PURE FUNCTION of the data — per-source rank over
    (window_start, lottery, doc_id), capped — for a bursty arrival
    order that provably reorders the FCFS variant (W1 rows arrive
    before W0 rows).  Exact per-window agreement with the batch dual;
    the FCFS variant's answer differs on the same replay, which is the
    gap this variant closes."""
    from pyspark.sql import types as T

    from sparksent.streaming import (
        streaming_domain_quota,
        streaming_domain_quota_windowed,
    )
    from sparksent.streaming.sources import (
        append_flat_file,
        file_replay_source,
        write_replay_chunks,
    )

    docs = _dqw_fixture(spark)
    cap = 3
    replay = str(tmp_path / "dqw_replay")
    write_replay_chunks(docs, replay, 3, order_col="arrival")
    # watermark sentinel: one throwaway row far in the future pushes
    # the watermark past every real window so they all close before
    # the availableNow replay drains (a live stream always advances)
    sentinel = spark.createDataFrame(
        [(999_999, "zz_sentinel", 1_000_000, 99_999)],
        "doc_id long, source string, sec long, arrival long",
    ).withColumn("ts", F.col("sec").cast("timestamp")).drop("sec")
    append_flat_file(sentinel, replay, "chunk_9999.parquet")

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("arrival", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    q = (
        streaming_domain_quota_windowed(
            file_replay_source(spark, replay, schema=schema),
            cap=cap,
            window_dur="10 seconds",
            lateness="60 seconds",
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dqw")
        .option("checkpointLocation", str(tmp_path / "dqw_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.doc_id, r.source, int(r.window_start.timestamp()), r.rk)
        for r in spark.table("t_dqw").collect()
    }
    want = _dqw_batch_model(spark, docs, cap)
    assert got == want and len(want) > 0
    # the planted divergence: FCFS on the same replay admits W1's
    # arrivals first, so its per-source sets differ — the burst
    # sensitivity the windowed variant removes
    qf = (
        streaming_domain_quota(
            file_replay_source(spark, replay, schema=schema), cap=cap
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dqw_fcfs")
        .option("checkpointLocation", str(tmp_path / "dqw_fcfs_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    qf.awaitTermination(180)
    fcfs_docs = {
        (r.doc_id, r.source) for r in spark.table("t_dqw_fcfs").collect()
        if r.source != "zz_sentinel"
    }
    assert fcfs_docs != {(d, s) for d, s, _, _ in got}


def test_streaming_domain_quota_windowed_survives_restart(spark, tmp_path):
    """Kill-and-restart proof for the windowed quota state (counter +
    pending window buffers): stop after the first committed batch,
    restart from the checkpoint, and require the union of both runs'
    emissions to equal the batch dual — surviving state must neither
    re-admit past-cap docs nor lose buffered open windows."""
    import os as _os
    import time as _time

    from pyspark.sql import types as T

    from sparksent.streaming import streaming_domain_quota_windowed
    from sparksent.streaming.sources import (
        append_flat_file,
        file_replay_source,
        write_replay_chunks,
    )

    docs = _dqw_fixture(spark)
    cap = 3
    replay = str(tmp_path / "dqwr_replay")
    write_replay_chunks(docs, replay, 3, order_col="arrival")
    sentinel = spark.createDataFrame(
        [(999_999, "zz_sentinel", 1_000_000, 99_999)],
        "doc_id long, source string, sec long, arrival long",
    ).withColumn("ts", F.col("sec").cast("timestamp")).drop("sec")
    append_flat_file(sentinel, replay, "chunk_9999.parquet")
    ckpt = str(tmp_path / "dqwr_ckpt")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("arrival", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )

    def start():
        return (
            streaming_domain_quota_windowed(
                file_replay_source(spark, replay, schema=schema),
                cap=cap,
                window_dur="10 seconds",
                lateness="60 seconds",
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(tmp_path / "dqwr_out"))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = _time.time() + 120
    while _time.time() < deadline:
        commits = _os.path.join(ckpt, "commits")
        if _os.path.isdir(commits) and any(
            not f.startswith(".") for f in _os.listdir(commits)
        ):
            break
        _time.sleep(0.5)
    q.stop()
    q2 = start()
    q2.awaitTermination(180)

    got = {
        (r.doc_id, r.source, int(r.window_start.timestamp()), r.rk)
        for r in spark.read.parquet(str(tmp_path / "dqwr_out")).collect()
    }
    assert got == _dqw_batch_model(spark, docs, cap)


def test_streaming_domain_quota_windowed_drops_beyond_lateness(spark, tmp_path):
    """The bounded-lateness trade's other half, pinned: a row arriving
    AFTER the watermark passed its window (here: a W0 row replayed
    after a chunk whose max event time already pushed the watermark
    past W0+lateness) is dropped by the watermark filter — never
    admitted, never counted against the cap — while every in-bound
    row admits exactly as the batch dual over the in-bound rows."""
    from pyspark.sql import types as T

    from sparksent.streaming import streaming_domain_quota_windowed
    from sparksent.streaming.sources import (
        append_flat_file,
        file_replay_source,
    )

    def chunk(rows, name, replay):
        df = spark.createDataFrame(
            rows, "doc_id long, source string, sec long, arrival long"
        ).withColumn("ts", F.col("sec").cast("timestamp")).drop("sec")
        append_flat_file(df, replay, name)
        return df

    replay = str(tmp_path / "dql_replay")
    import os as _os

    _os.makedirs(replay, exist_ok=True)
    # chunk 0: W0 rows + a ts=200s row -> watermark after chunk 0 =
    # 200 - 10 = 190s, far past W0's end (10s)
    c0 = [(100, "A", 1, 0), (101, "A", 3, 1), (900, "A", 200, 2)]
    # chunk 1: a W0 straggler BEYOND the bound -> dropped
    c1 = [(102, "A", 5, 10)]
    # chunk 2: sentinel pushes the watermark past the ts=200 row's window
    c2 = [(999, "zz", 1_000_000, 20)]
    chunk(c0, "chunk_0000.parquet", replay)
    chunk(c1, "chunk_0001.parquet", replay)
    chunk(c2, "chunk_0002.parquet", replay)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("arrival", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    q = (
        streaming_domain_quota_windowed(
            file_replay_source(spark, replay, schema=schema),
            cap=10,
            window_dur="10 seconds",
            lateness="10 seconds",
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dql")
        .option("checkpointLocation", str(tmp_path / "dql_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {(r.doc_id, r.rk) for r in spark.table("t_dql").collect()}
    # 100/101 admitted from W0 (lottery order), 900 admitted from its
    # own window once the sentinel closes it; the straggler 102 is
    # GONE — and it did not consume a cap slot (900 holds rk=3)
    assert {d for d, _ in got} == {100, 101, 900}
    assert (102, 3) not in got and dict(got)[900] == 3


def _tbw_fixture(spark):
    """Bursty corpus for the WINDOWED token budget: langs A/B over
    three 10s tumbling windows, W1 arriving BEFORE W0 (the burst the
    FCFS variant orders by arrival), with PER-DOC TOKEN COUNTS sized
    so a budget of 100 saturates mid-stream and the FCFS and windowed
    admitted SETS provably differ (FCFS spends the budget on W1's
    heavy docs; the windowed form spends it on W0's light ones)."""
    rows = []  # (doc_id, lang, sec, arrival, n_words)
    a = 0
    # chunk 0: all of W1 (ts 10..19) arrives FIRST — heavy docs
    for d, s, sec, n in [
        (200, "A", 12, 40), (201, "A", 15, 50),
        (210, "B", 11, 30), (211, "B", 13, 30), (212, "B", 17, 30),
    ]:
        rows.append((d, s, sec, a, n)); a += 1
    # chunk 1: W0 rows (ts 0..9) arrive late-but-in-bound — light docs
    for d, s, sec, n in [
        (100, "A", 1, 30), (101, "A", 3, 30), (102, "A", 5, 30),
        (103, "A", 7, 30), (110, "B", 2, 40), (111, "B", 6, 40),
    ]:
        rows.append((d, s, sec, a + 1000, n)); a += 1
    # chunk 2: W2 rows
    for d, s, sec, n in [(300, "A", 22, 100), (301, "B", 25, 100)]:
        rows.append((d, s, sec, a + 2000, n)); a += 1
    return (
        spark.createDataFrame(
            rows, "doc_id long, lang string, sec long, arrival long, n_words int"
        )
        .withColumn("ts", F.col("sec").cast("timestamp"))
        .withColumn(
            "text", F.array_join(F.array_repeat(F.lit("w"), F.col("n_words")), " ")
        )
        .drop("sec", "n_words")
    )


def _tbw_batch_model(spark, docs_with_ts, budget):
    """The windowed budget's batch dual: per lang, exclusive running
    whitespace-token sum over (window_start, lottery, doc_id), keep
    while it is under budget."""
    from sparksent.ext.hashing import h60

    lot = h60(F.concat(F.lit("tokbudget:"), F.col("doc_id").cast("string")))
    n_tok = (
        F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit("")))
        .cast("long")
        .alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("ws").asc(), lot.asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return {
        (r.doc_id, r.lang, r.ws, r.n_tokens, r.prior_tokens)
        for r in docs_with_ts.withColumn(
            "ws", F.window("ts", "10 seconds").start.cast("long")
        )
        .select("doc_id", "lang", "ws", n_tok)
        .withColumn(
            "prior_tokens", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .filter(F.col("prior_tokens") < budget)
        .collect()
    }


_TBW_SCHEMA_FIELDS = [
    ("doc_id", "long"), ("lang", "string"), ("arrival", "long"),
    ("ts", "timestamp"), ("text", "string"),
]


def _tbw_schema():
    from pyspark.sql import types as T

    m = {"long": T.LongType(), "string": T.StringType(), "timestamp": T.TimestampType()}
    return T.StructType([T.StructField(n, m[t]) for n, t in _TBW_SCHEMA_FIELDS])


def test_streaming_token_budget_windowed_vs_batch(spark, tmp_path):
    """The bounded-lateness token budget must admit a PURE FUNCTION of
    the data — per-lang exclusive running token sum over (window_start,
    lottery, doc_id), kept under budget — for a bursty arrival order
    that provably reorders the FCFS variant (W1's heavy docs arrive
    before W0's light ones).  Exact per-window agreement with the
    batch dual, including n_tokens and prior_tokens; the FCFS
    variant's admitted set differs on the same replay."""
    from sparksent.streaming import (
        streaming_token_budget,
        streaming_token_budget_windowed,
    )
    from sparksent.streaming.sources import (
        append_flat_file,
        file_replay_source,
        write_replay_chunks,
    )

    docs = _tbw_fixture(spark)
    budget = 100
    replay = str(tmp_path / "tbw_replay")
    write_replay_chunks(docs, replay, 3, order_col="arrival")
    sentinel = (
        spark.createDataFrame(
            [(999_999, "zz_sentinel", 1_000_000, 99_999, "w")],
            "doc_id long, lang string, sec long, arrival long, text string",
        )
        .withColumn("ts", F.col("sec").cast("timestamp"))
        .drop("sec")
        .select("doc_id", "lang", "arrival", "ts", "text")
    )
    append_flat_file(sentinel, replay, "chunk_9999.parquet")

    q = (
        streaming_token_budget_windowed(
            file_replay_source(spark, replay, schema=_tbw_schema()),
            budget=budget,
            window_dur="10 seconds",
            lateness="60 seconds",
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_tbw")
        .option("checkpointLocation", str(tmp_path / "tbw_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.doc_id, r.lang, int(r.window_start.timestamp()), r.n_tokens, r.prior_tokens)
        for r in spark.table("t_tbw").collect()
    }
    want = _tbw_batch_model(spark, docs, budget)
    assert got == want and len(want) > 0
    # the planted divergence: FCFS spends the budget on W1's heavy
    # docs (they arrived first)
    qf = (
        streaming_token_budget(
            file_replay_source(spark, replay, schema=_tbw_schema()), budget=budget
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_tbw_fcfs")
        .option("checkpointLocation", str(tmp_path / "tbw_fcfs_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    qf.awaitTermination(180)
    fcfs_docs = {
        (r.doc_id, r.lang)
        for r in spark.table("t_tbw_fcfs").collect()
        if r.lang != "zz_sentinel"
    }
    assert fcfs_docs != {(d, s) for d, s, _, _, _ in got}


def test_streaming_token_budget_windowed_string_ids(spark, tmp_path):
    """ADVICE r13: the pending-state buffer hardcoded p_id as
    ArrayType(LongType) while out_schema adapted to the frame's id
    type — a string id_col analyzed fine but failed at state.update on
    the first BUFFERED batch.  The state schema now derives the
    element type from the frame; this replays a string-id corpus whose
    open windows must buffer across micro-batches (same burst shape as
    the long-id test) and requires exact agreement with the batch
    dual recomputed over string ids."""
    from pyspark.sql import types as T

    from sparksent.ext.hashing import h60
    from sparksent.streaming import streaming_token_budget_windowed
    from sparksent.streaming.sources import (
        append_flat_file,
        file_replay_source,
        write_replay_chunks,
    )

    docs = _tbw_fixture(spark).withColumn(
        "doc_id", F.concat(F.lit("d"), F.col("doc_id").cast("string"))
    )
    budget = 100
    replay = str(tmp_path / "tbws_replay")
    write_replay_chunks(docs, replay, 3, order_col="arrival")
    sentinel = (
        spark.createDataFrame(
            [("d999999", "zz_sentinel", 1_000_000, 99_999, "w")],
            "doc_id string, lang string, sec long, arrival long, text string",
        )
        .withColumn("ts", F.col("sec").cast("timestamp"))
        .drop("sec")
        .select("doc_id", "lang", "arrival", "ts", "text")
    )
    append_flat_file(sentinel, replay, "chunk_9999.parquet")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("arrival", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("text", T.StringType()),
        ]
    )
    q = (
        streaming_token_budget_windowed(
            file_replay_source(spark, replay, schema=schema),
            budget=budget,
            window_dur="10 seconds",
            lateness="60 seconds",
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_tbw_sid")
        .option("checkpointLocation", str(tmp_path / "tbws_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.doc_id, r.lang, int(r.window_start.timestamp()), r.n_tokens, r.prior_tokens)
        for r in spark.table("t_tbw_sid").collect()
    }
    # batch dual over the SAME string ids (lottery hashes the string)
    lot = h60(F.concat(F.lit("tokbudget:"), F.col("doc_id")))
    n_tok = (
        F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit("")))
        .cast("long")
        .alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("ws").asc(), lot.asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = {
        (r.doc_id, r.lang, r.ws, r.n_tokens, r.prior_tokens)
        for r in docs.withColumn(
            "ws", F.window("ts", "10 seconds").start.cast("long")
        )
        .select("doc_id", "lang", "ws", n_tok)
        .withColumn(
            "prior_tokens", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .filter(F.col("prior_tokens") < budget)
        .collect()
    }
    assert got == want and len(want) > 0


def test_streaming_token_budget_windowed_survives_restart(spark, tmp_path):
    """Kill-and-restart proof for the windowed budget state (token sum
    + pending buffers incl. per-row token counts): stop after the
    first committed batch, restart from the checkpoint, and require
    the union of both runs' emissions to equal the batch dual."""
    import os as _os
    import time as _time

    from sparksent.streaming import streaming_token_budget_windowed
    from sparksent.streaming.sources import (
        append_flat_file,
        file_replay_source,
        write_replay_chunks,
    )

    docs = _tbw_fixture(spark)
    budget = 100
    replay = str(tmp_path / "tbwr_replay")
    write_replay_chunks(docs, replay, 3, order_col="arrival")
    sentinel = (
        spark.createDataFrame(
            [(999_999, "zz_sentinel", 1_000_000, 99_999, "w")],
            "doc_id long, lang string, sec long, arrival long, text string",
        )
        .withColumn("ts", F.col("sec").cast("timestamp"))
        .drop("sec")
        .select("doc_id", "lang", "arrival", "ts", "text")
    )
    append_flat_file(sentinel, replay, "chunk_9999.parquet")
    ckpt = str(tmp_path / "tbwr_ckpt")

    def start():
        return (
            streaming_token_budget_windowed(
                file_replay_source(spark, replay, schema=_tbw_schema()),
                budget=budget,
                window_dur="10 seconds",
                lateness="60 seconds",
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(tmp_path / "tbwr_out"))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = _time.time() + 120
    while _time.time() < deadline:
        commits = _os.path.join(ckpt, "commits")
        if _os.path.isdir(commits) and any(
            not f.startswith(".") for f in _os.listdir(commits)
        ):
            break
        _time.sleep(0.5)
    q.stop()
    q2 = start()
    q2.awaitTermination(180)

    got = {
        (r.doc_id, r.lang, int(r.window_start.timestamp()), r.n_tokens, r.prior_tokens)
        for r in spark.read.parquet(str(tmp_path / "tbwr_out")).collect()
    }
    assert got == _tbw_batch_model(spark, docs, budget)


def test_epoch_zero_event_time_edge(spark, tmp_path):
    """Measured Spark edge, pinned so fixtures stay off it: a row whose
    event time is EXACTLY epoch 0 (1970-01-01T00:00:00.000) never
    reaches an applyInPandasWithState function configured with
    EventTimeTimeout — while the same row one second later does, and
    rows BELOW the watermark do arrive (the repo's windowed-quota
    late-row measurement), so this is a 0-as-sentinel edge in the
    timeout plumbing, not late filtering.  The windowed admission
    operators inherit it; real streams never carry epoch 0 exactly."""
    from pyspark.sql import types as T

    from sparksent.streaming import streaming_token_budget_windowed
    from sparksent.streaming.sources import append_flat_file, file_replay_source

    def run(shift, tag):
        replay = str(tmp_path / f"e0_replay_{tag}")
        rows = [(i, "en", i + shift, "w w") for i in range(3)]
        df = (
            spark.createDataFrame(
                rows, "doc_id long, lang string, sec long, text string"
            )
            .withColumn("ts", F.col("sec").cast("timestamp"))
            .drop("sec")
            .select("doc_id", "lang", "ts", "text")
        )
        append_flat_file(df, replay, "chunk_0000.parquet")
        sentinel = (
            spark.createDataFrame(
                [(999, "zz", 1_000_000, "w")],
                "doc_id long, lang string, sec long, text string",
            )
            .withColumn("ts", F.col("sec").cast("timestamp"))
            .drop("sec")
            .select("doc_id", "lang", "ts", "text")
        )
        append_flat_file(sentinel, replay, "chunk_0001.parquet")
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("lang", T.StringType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("text", T.StringType()),
            ]
        )
        q = (
            streaming_token_budget_windowed(
                file_replay_source(spark, replay, schema=schema),
                budget=10**9,
                window_dur="10 seconds",
                lateness="10 seconds",
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(f"t_e0_{tag}")
            .option("checkpointLocation", str(tmp_path / f"e0_ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return {
            r.doc_id for r in spark.table(f"t_e0_{tag}").collect() if r.lang == "en"
        }

    assert run(0, "zero") == {1, 2}  # the ts=0 row is swallowed by Spark
    assert run(1, "one") == {0, 1, 2}  # shifted off epoch 0, all admit


def test_streaming_decontaminate_vs_batch(spark, tmp_path):
    """VERDICT r13 ask #7: the streaming decontamination dual.  Replay
    the TRAIN slice (doc_id % 97 != 0) in 3 micro-batches through
    decontaminate_stream_batch against the broadcast benchmark gram
    index built from the held-out slice; the union of all batches'
    (doc_id, n_shared_grams) emissions must equal the batch
    decontaminate_5gram operator over the full corpus EXACTLY — counts
    included (occurrence counts, not distinct-gram counts) — for any
    chunking, since the check is per-document against an immutable
    gram set."""
    from pyspark.sql import types as T

    from sparksent.ext.curation import BENCH_MOD, decontaminate
    from sparksent.streaming import benchmark_gram_index, decontaminate_stream_batch
    from sparksent.streaming.sources import file_replay_source, write_replay_chunks
    from sparksent.tables import load_table

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    bench_grams = benchmark_gram_index(
        docs.filter(F.col("doc_id") % BENCH_MOD == 0)
    ).localCheckpoint()
    incoming = docs.filter(F.col("doc_id") % BENCH_MOD != 0)

    out_path = str(tmp_path / "decon_out")
    replay = str(tmp_path / "decon_replay")
    write_replay_chunks(incoming, replay, 3, order_col="doc_id")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    q = (
        file_replay_source(spark, replay, schema=schema)
        .writeStream.foreachBatch(
            lambda b, i: decontaminate_stream_batch(
                b, bench_grams, out_path, batch_id=i
            )
        )
        .option("checkpointLocation", str(tmp_path / "decon_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.doc_id, r.n_shared_grams)
        for r in spark.read.parquet(out_path).collect()
    }
    want = {
        (r.doc_id, r.n_shared_grams) for r in decontaminate(docs).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_decontaminate_survives_restart(spark, tmp_path):
    """Kill-and-restart proof for the decontamination dual: stop after
    the first committed micro-batch, restart from the checkpoint, and
    require the union of both runs' partitions to equal the batch
    operator — the ingest_batch dynamic-overwrite makes a replayed
    batch rewrite its own partition instead of double-appending."""
    import os as _os
    import time as _time

    from pyspark.sql import types as T

    from sparksent.ext.curation import BENCH_MOD, decontaminate
    from sparksent.streaming import benchmark_gram_index, decontaminate_stream_batch
    from sparksent.streaming.sources import file_replay_source, write_replay_chunks
    from sparksent.tables import load_table

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    bench_grams = benchmark_gram_index(
        docs.filter(F.col("doc_id") % BENCH_MOD == 0)
    ).localCheckpoint()
    incoming = docs.filter(F.col("doc_id") % BENCH_MOD != 0)

    out_path = str(tmp_path / "deconr_out")
    replay = str(tmp_path / "deconr_replay")
    write_replay_chunks(incoming, replay, 3, order_col="doc_id")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    ckpt = str(tmp_path / "deconr_ckpt")

    def start():
        return (
            file_replay_source(spark, replay, schema=schema)
            .writeStream.foreachBatch(
                lambda b, i: decontaminate_stream_batch(
                    b, bench_grams, out_path, batch_id=i
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = _time.time() + 120
    while _time.time() < deadline:
        commits = _os.path.join(ckpt, "commits")
        if _os.path.isdir(commits) and any(
            not f.startswith(".") for f in _os.listdir(commits)
        ):
            break
        _time.sleep(0.5)
    q.stop()
    q2 = start()
    q2.awaitTermination(180)

    got = {
        (r.doc_id, r.n_shared_grams)
        for r in spark.read.parquet(out_path).collect()
    }
    want = {
        (r.doc_id, r.n_shared_grams) for r in decontaminate(docs).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_domain_quota_on_canonical_host(spark, tmp_path):
    """The round-14 composition streams: URL canonicalization is pure
    projection (stateless, so streaming-legal on the micro-batch frame
    itself) feeding the stateful per-domain quota keyed on the
    CANONICAL host.  One-batch replay must equal the batch
    sample_domain_quota_canonical exactly — same lottery, same rank,
    same collapsed publisher keys."""
    from pyspark.sql import types as T

    from sparksent.ext.curation import sample_domain_quota
    from sparksent.ext.urls import canonical_host, with_fixture_urls
    from sparksent.streaming import streaming_domain_quota
    from sparksent.streaming.sources import file_replay_source, write_replay_chunks
    from sparksent.tables import load_table

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "source")
    cap = 5
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("source", T.StringType())]
    )
    replay = str(tmp_path / "dqc_replay")
    write_replay_chunks(docs, replay, 1, order_col="doc_id")
    stream = with_fixture_urls(
        file_replay_source(spark, replay, schema=schema)
    ).select("doc_id", canonical_host(F.col("url")).alias("host"))
    q = (
        streaming_domain_quota(stream, cap=cap, group_col="host")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dqc")
        .option("checkpointLocation", str(tmp_path / "dqc_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {(r.doc_id, r.host, r.rk) for r in spark.table("t_dqc").collect()}
    batch = with_fixture_urls(docs).select(
        "doc_id", canonical_host(F.col("url")).alias("host")
    )
    want = {
        (r.doc_id, r.host, r.rk)
        for r in sample_domain_quota(batch, cap=cap, group_col="host").collect()
    }
    assert got == want and len(want) > 0
    # the collapse is live on the stream: hosts carry no www./port/case
    assert all(not h.startswith("www.") and ":" not in h for _, h, _ in got)


def test_warc_parse_is_streaming_legal(spark, tmp_path):
    """The crawl front door STREAMS: warc_parse_records is pure
    stateless projection (split + posexplode + regex extraction), so
    it applies directly to a blob stream — no foreachBatch, no state —
    and the streamed record set equals the batch parse of the same
    blobs exactly."""
    from pyspark.sql import types as T

    from sparksent.ext.warc import warc_parse_records, with_warc_blobs
    from sparksent.streaming.sources import file_replay_source, write_replay_chunks
    from sparksent.tables import load_table

    docs = load_table(spark, SF_DIR_SMALL, "documents").select(
        "doc_id", "source", "text"
    )
    blobs = with_warc_blobs(docs)
    replay = str(tmp_path / "warc_replay")
    write_replay_chunks(blobs, replay, 3, order_col="blob_id")
    schema = T.StructType(
        [T.StructField("blob_id", T.LongType()), T.StructField("blob", T.StringType())]
    )
    q = (
        warc_parse_records(file_replay_source(spark, replay, schema=schema))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_warc")
        .option("checkpointLocation", str(tmp_path / "warc_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {tuple(r) for r in spark.table("t_warc").collect()}
    want = {tuple(r) for r in warc_parse_records(blobs).collect()}
    assert got == want and len(want) > 0
    # the audit survives the stream: planted corruption still flagged
    assert any(not r[-1] for r in got) and any(r[-1] for r in got)
