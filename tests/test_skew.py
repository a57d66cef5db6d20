"""Salted two-phase aggregation == direct single-phase results."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparksent import tables
from sparksent.skew import salted_distinct_count, salted_sorted_concat

from conftest import SF_DIR, SF_DIR_SMALL


def test_salted_distinct_equals_direct(spark):
    ev = tables.load_table(spark, SF_DIR, "events")
    got = salted_distinct_count(ev, ["event_type"], "user_id")
    want = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_distinct")
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_salted_concat_equals_direct(spark):
    ev = tables.load_table(spark, SF_DIR, "events").select(
        "event_type", "ts", "event_id", F.col("props").alias("text")
    )
    got = salted_sorted_concat(ev, ["event_type"], "text", ["ts", "event_id"])
    direct = (
        ev.groupBy("event_type")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", F.col("text")))
            ).alias("a")
        )
        .select(
            "event_type",
            F.array_join(F.transform("a", lambda s: s["text"]), "\n").alias("texts"),
        )
    )
    assert got.exceptAll(direct).count() == 0
    assert direct.exceptAll(got).count() == 0


def test_global_ranks_match_single_reducer_window(spark):
    """Distributed global row numbers (range partition + offset) equal
    the single-reducer Window.orderBy row_number, and the integer NTILE
    arithmetic equals F.ntile, for several k including k > n rows."""
    from pyspark.sql import Window

    from sparksent.ext.ranks import ntile_col, with_global_ranks

    ev = tables.load_table(spark, SF_DIR_SMALL, "events")
    totals = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(28,6)")).alias("total")
    )
    w = Window.orderBy("total", "user_id")
    want = totals.select(
        "user_id", F.row_number().over(w).alias("rank")
    ).toPandas().set_index("user_id")["rank"]
    got_df = with_global_ranks(totals, ["total", "user_id"], num_partitions=7)
    got = got_df.select("user_id", "rank").toPandas().set_index("user_id")["rank"]
    assert (got.sort_index() == want.sort_index()).all()

    n_rows = len(want)
    for k in (3, 10, n_rows + 5):
        want_t = totals.select(
            "user_id", F.ntile(k).over(w).alias("t")
        ).toPandas().set_index("user_id")["t"]
        got_t = (
            got_df.withColumn(
                "t", ntile_col(F.col("rank"), F.lit(n_rows).cast("long"), k)
            )
            .select("user_id", "t")
            .toPandas().set_index("user_id")["t"]
        )
        assert (got_t.sort_index() == want_t.sort_index()).all(), f"k={k}"


def test_group_ranks_match_per_group_window(spark):
    """Distributed PER-GROUP row numbers (range partition on
    (group, order) + per-(partition, group) offsets) equal the window
    row_number() OVER (PARTITION BY group ORDER BY ...), including
    groups that straddle range-partition boundaries (num_partitions=7
    over few groups forces straddling) and single-row groups."""
    from pyspark.sql import Window

    from sparksent.ext.ranks import with_group_ranks

    ev = tables.load_table(spark, SF_DIR_SMALL, "events")
    totals = ev.groupBy("user_id", "event_type").agg(
        F.sum(F.col("value").cast("decimal(28,6)")).alias("total")
    )
    w = Window.partitionBy("event_type").orderBy("total", "user_id")
    want = (
        totals.select(
            "user_id", "event_type", F.row_number().over(w).alias("rank")
        )
        .toPandas()
        .set_index(["user_id", "event_type"])["rank"]
    )
    got = (
        with_group_ranks(
            totals, ["event_type"], ["total", "user_id"], num_partitions=7
        )
        .select("user_id", "event_type", "rank")
        .toPandas()
        .set_index(["user_id", "event_type"])["rank"]
    )
    assert (got.sort_index() == want.sort_index()).all()
    # descending order via negation must match a DESC window too
    totals_n = totals.withColumn("neg", -F.col("total").cast("double"))
    w2 = Window.partitionBy("event_type").orderBy(
        F.col("total").cast("double").desc(), "user_id"
    )
    want2 = (
        totals.select(
            "user_id", "event_type", F.row_number().over(w2).alias("rank")
        )
        .toPandas()
        .set_index(["user_id", "event_type"])["rank"]
    )
    got2 = (
        with_group_ranks(
            totals_n, ["event_type"], ["neg", "user_id"], num_partitions=5
        )
        .select("user_id", "event_type", "rank")
        .toPandas()
        .set_index(["user_id", "event_type"])["rank"]
    )
    assert (got2.sort_index() == want2.sort_index()).all()


def test_group_prefix_sums_match_per_group_window(spark):
    """Distributed per-group EXCLUSIVE running sums equal the window
    form sum() OVER (PARTITION BY group ORDER BY ... ROWS UNBOUNDED
    PRECEDING TO 1 PRECEDING) — BIGINT addition is associative, so the
    range-partitioned regrouping must be bit-identical, including
    groups straddling partition boundaries and first-row zeros."""
    from pyspark.sql import Window

    from sparksent.ext.ranks import with_group_prefix_sums

    ev = tables.load_table(spark, SF_DIR_SMALL, "events")
    base = ev.select(
        "event_id",
        "event_type",
        (F.col("value").cast("decimal(18,6)") * 1_000_000)
        .cast("long")
        .alias("v_e6"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = (
        base.select(
            "event_id",
            F.coalesce(F.sum("v_e6").over(w), F.lit(0)).alias("ps"),
        )
        .toPandas()
        .set_index("event_id")["ps"]
    )
    got = (
        with_group_prefix_sums(
            base, ["event_type"], ["event_id"], "v_e6", "ps", num_partitions=7
        )
        .select("event_id", "ps")
        .toPandas()
        .set_index("event_id")["ps"]
    )
    assert (got.sort_index() == want.sort_index()).all()


def test_group_ranks_null_group_keys_match_window(spark):
    """NULL group keys must rank as their own group, exactly like
    PARTITION BY (where NULL is its own partition) and the DuckDB
    oracles.  The offsets rejoin is null-safe (``<=>``) — a plain
    equi-join would silently DROP every NULL-keyed row, which the
    main-table fixtures never exercise (no NULL langs), so this
    synthetic frame plants NULLs straddling partition boundaries."""
    import random

    from pyspark.sql import Window

    from sparksent.ext.ranks import with_group_prefix_sums, with_group_ranks

    rng = random.Random(1404)
    rows = [
        (
            i,
            rng.choice(["en", "de", None, "fr", None]),
            rng.randrange(0, 50),
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "id long, lang string, v long")

    w = Window.partitionBy("lang").orderBy("v", "id")
    want = (
        df.select("id", F.row_number().over(w).alias("rank"))
        .toPandas().set_index("id")["rank"]
    )
    got = (
        with_group_ranks(df, ["lang"], ["v", "id"], num_partitions=7)
        .select("id", "rank")
        .toPandas().set_index("id")["rank"]
    )
    assert len(got) == len(rows), "null-group rows were dropped"
    assert (got.sort_index() == want.sort_index()).all()

    wp = w.rowsBetween(Window.unboundedPreceding, -1)
    want_ps = (
        df.select(
            "id", F.coalesce(F.sum("v").over(wp), F.lit(0)).alias("ps")
        )
        .toPandas().set_index("id")["ps"]
    )
    got_ps = (
        with_group_prefix_sums(
            df, ["lang"], ["v", "id"], "v", "ps", num_partitions=7
        )
        .select("id", "ps")
        .toPandas().set_index("id")["ps"]
    )
    assert len(got_ps) == len(rows), "null-group rows were dropped"
    assert (got_ps.sort_index() == want_ps.sort_index()).all()


def test_span_dedup_hot_gram_correct_and_bounded(spark):
    """Hot-key proof for span dedup: a corpus where ONE 8-gram
    (boilerplate header) appears in EVERY document — the classic skew
    hazard for any gram-keyed op. The design has no pair stage, so the
    hot gram costs one combiner-aggregated count row and a 1-row join
    probe, never a |docs|^2 expansion; correctness is checked against
    a pure-Python recompute on the synthetic corpus."""
    import pandas as pd

    from sparksent.ext.dedup import SPAN_GRAM_W, span_dup_stats

    boiler = " ".join(f"b{i}" for i in range(SPAN_GRAM_W))
    rows = []
    for d in range(500):
        # unique tail per doc (no cross-doc dup beyond the boilerplate)
        tail = " ".join(f"d{d}w{i}" for i in range(8))
        rows.append((d, boiler + " " + tail))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    out = span_dup_stats(spark.createDataFrame(pdf)).toPandas()
    # 16 tokens -> 9 gram positions; exactly ONE (the pure boilerplate
    # window at position 0) is shared by all docs
    assert (out["n_grams"] == 9).all()
    assert (out["n_dup_grams"] == 1).all()
    assert (out["dup_gram_ppm"] == 1_000_000 // 9).all()


def test_dedup_df_caps_neutralize_hot_key(spark):
    """The adversarial-hot-key property measured at ×20 in SCALE.md
    (round 9), pinned as a regression test at sf0.001: appending a hot
    phrase (one shingle AND one term in 50% of the corpus — uncapped, a
    D²-row join partition) to every even-id document leaves the
    detected near-dup PAIR SET unchanged for the shingle query (the
    interior zzhot³ shingle is df-capped away; the two boundary
    shingles each doc gains shift scores marginally but flip no
    threshold decision on this fixture) and the tf-cosine output
    EXACTLY unchanged (a unigram hot term has no boundary effect — the
    cap removes it and every other term count is untouched).  Both
    caps drop the hot key with a broadcast anti-join BEFORE the pair
    self-join."""
    from sparksent.ext.dedup import ngram_jaccard_pairs, tf_cosine_pairs

    docs = tables.load_table(spark, SF_DIR_SMALL, "documents").select(
        "doc_id", "text"
    )
    hot = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.col("text"), F.lit(" zzhot zzhot zzhot zzhot")),
        ).otherwise(F.col("text")),
    )

    clean_j = {
        (r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, max_df=25).collect()
    }
    hot_j = {
        (r.id_a, r.id_b) for r in ngram_jaccard_pairs(hot, max_df=25).collect()
    }
    assert hot_j == clean_j and len(clean_j) > 0

    clean_c = {tuple(r) for r in tf_cosine_pairs(docs).collect()}
    hot_c = {tuple(r) for r in tf_cosine_pairs(hot).collect()}
    assert hot_c == clean_c and len(clean_c) > 0


def test_image_phash_df_cap_bounds_degenerate_corpus(spark):
    """VERDICT r10 ask #6: the phash band join's df cap must neutralize
    a degenerate near-constant image corpus.  A constant image has all
    gradient bits 0 — every hash word [0,0,0,0] — so uncapped, 2,000
    such images build four 2,000-row band buckets and a ~2e6-row
    (then 4x-duplicated) join blow-up that scales D^2 with the corpus;
    capped, all four hot words leave via the broadcast anti-join
    BEFORE the shuffle, the degenerate block contributes ZERO candidate
    rows, and the planted normal pairs are untouched."""
    import pandas as pd

    from sparksent.ext.imagedup import PHASH_MAX_DF, phash_band_pairs

    degenerate = [(i, [0, 0, 0, 0]) for i in range(2000)]
    # planted normal structure: 30 distinct hashes, each shared by
    # exactly two ids -> 30 exact pairs, df=2 per band word
    normal = []
    for j in range(30):
        hw = [j * 4 + 1, j * 5 + 2, j * 7 + 3, j * 9 + 4]
        normal += [(10_000 + 2 * j, hw), (10_001 + 2 * j, hw)]
    ph = spark.createDataFrame(
        pd.DataFrame(degenerate + normal, columns=["media_id", "hw"])
    )

    capped = phash_band_pairs(ph, max_df=PHASH_MAX_DF)
    # the pre-distinct candidate stream is the scale hazard; with the
    # cap it must be bounded by the NORMAL rows only (30 pairs x <= 4
    # agreeing words), not the 2e6-row degenerate block
    rows = capped.collect()
    got = {(r.id_a, r.id_b) for r in rows}
    want = {(10_000 + 2 * j, 10_001 + 2 * j) for j in range(30)}
    assert got == want  # all planted pairs, zero degenerate pairs
    assert all(r.hamming == 0 for r in rows)

    # uncapped control on a small slice: the degenerate block alone
    # emits D*(D-1)/2 pairs — the behavior the cap exists to stop
    small = spark.createDataFrame(
        pd.DataFrame(degenerate[:60], columns=["media_id", "hw"])
    )
    assert phash_band_pairs(small, max_df=None).count() == 60 * 59 // 2


def test_phash_relative_cap_scales_with_corpus(spark):
    """The round-13 relative threshold: effective cap =
    greatest(max_df, n_media // PHASH_DF_DENOM), so a word whose df
    grows linearly WITH the corpus (the fixture law's ~0.7-0.9%
    hottest bucket) is never capped at any scale, while the absolute
    floor still guards small corpora.  250 rows with max_df=2 ->
    effective cap = greatest(2, 250//50) = 5: a planted word at df=4
    SURVIVES (the old fixed cap dropped it), df=6 is capped."""
    import pandas as pd

    from sparksent.ext.imagedup import phash_band_pairs

    rows = [(i, [10_000 + i, 20_000 + i, 30_000 + i, 40_000 + i]) for i in range(240)]
    # df=4 word 777 on w0: 2 disjoint near-dup pairs through it only
    for j in range(4):
        rows.append((500 + j, [777, 21_000 + j, 31_000 + j, 41_000 + j]))
    # df=6 word 888 on w0
    for j in range(6):
        rows.append((600 + j, [888, 22_000 + j, 32_000 + j, 42_000 + j]))
    ph = spark.createDataFrame(pd.DataFrame(rows, columns=["media_id", "hw"]))
    got = {
        (r.id_a, r.id_b)
        for r in phash_band_pairs(ph, max_hamming=64, max_df=2).collect()
    }
    df4_pairs = {(500 + a, 500 + b) for a in range(4) for b in range(a + 1, 4)}
    df6_pairs = {(600 + a, 600 + b) for a in range(6) for b in range(a + 1, 6)}
    assert df4_pairs <= got  # under the relative cap: kept
    assert not (df6_pairs & got)  # over it: capped away


def test_phash_hot_recovery_star_and_bound(spark):
    """The two-level fallback's exact contract (VERDICT r12 ask #5):
    on a corpus with a capped band word, (a) plain capping loses
    exactly the pairs agreeing ONLY on capped words; (b)
    recover_hot_exact=True re-keys the capped region by FULL hash and
    emits a star per exact-hash group — O(group) rows,
    clustering-equivalent to the clique for the transitive consumers;
    (c) what stays lost is exactly the hamming>0 only-hot-word pairs
    — the documented bound."""
    import pandas as pd

    from sparksent.ext.imagedup import phash_band_pairs

    # 300 identical degenerate images: every word [7,7,7,7] -> all
    # four words capped (df 300 > greatest(5, 306//50 = 6))
    degenerate = [(i, [7, 7, 7, 7]) for i in range(300)]
    # a hamming-3 pair agreeing ONLY on the capped word 7 (w0): the
    # other three words differ by one bit each
    only_hot = [
        (9_000, [7, 100, 200, 400]),
        (9_001, [7, 101, 201, 401]),
    ]
    # a normal pair: unique words, exact dup
    normal = [(9_100, [11, 12, 13, 14]), (9_101, [11, 12, 13, 14])]
    ph = spark.createDataFrame(
        pd.DataFrame(degenerate + only_hot + normal, columns=["media_id", "hw"])
    )
    capped = {
        (r.id_a, r.id_b)
        for r in phash_band_pairs(ph, max_hamming=3, max_df=5).collect()
    }
    assert capped == {(9_100, 9_101)}  # degenerate + only-hot all dropped
    rec_rows = phash_band_pairs(
        ph, max_hamming=3, max_df=5, recover_hot_exact=True
    ).collect()
    rec = {(r.id_a, r.id_b) for r in rec_rows}
    # star over the 300-row exact-hash group: rep 0 <-> members 1..299
    # (299 edges, not 44,850 clique pairs), plus the normal pair
    assert rec == {(0, m) for m in range(1, 300)} | {(9_100, 9_101)}
    assert all(r.hamming == 0 for r in rec_rows)
    # the documented bound: the hamming>0 only-hot-word pair stays lost
    assert (9_000, 9_001) not in rec
