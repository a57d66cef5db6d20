"""Property-based tests (SURVEY.md §5.2.4) over generated data — the
invariants that must hold for ANY input, not just the fixtures.

Each property drives one Spark job per example batch (examples are
generated up front and evaluated in a single DataFrame), keeping
hypothesis's example count decoupled from Spark job count.
"""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from sparksent import parse, windows
from sparksent.joins import asof_join

# no commas in the two key fields (the wire format gives them no quoting);
# the text tail may contain anything including commas
_key = st.text(
    alphabet=st.characters(blacklist_characters=",\n\r", min_codepoint=32, max_codepoint=0x7E),
    min_size=1,
    max_size=12,
)
_text = st.text(
    alphabet=st.characters(blacklist_characters="\n\r", min_codepoint=32, max_codepoint=0x7E),
    min_size=0,
    max_size=40,
)


@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(_key, _key, _text), min_size=1, max_size=30))
def test_parse_roundtrip(spark, rows):
    """to_raw_lines . parse_lines == identity for any channel/user
    without commas and any text (commas in the text survive)."""
    df = spark.createDataFrame(rows, "channel string, user string, text string")
    back = parse.parse_lines(parse.to_raw_lines(df))
    got = sorted(map(tuple, back.collect()))
    assert got == sorted(rows)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(-100, 100)),
        min_size=1,
        max_size=80,
    ),
    st.integers(2, 7),
)
def test_count_window_partition(spark, rows, n):
    """Count-window bucketing: per key, bucket sizes are n except the
    last (1..n), bucket ids are dense from 0, and bucket sums add up to
    the key's total."""
    data = [(str(k), float(v), i) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "key string, value double, event_id long")
    out = windows.count_window_agg(
        df.withColumn("ts", F.col("event_id").cast("timestamp")),
        ["key"],
        n,
        [F.sum("value").alias("value"), F.count("*").alias("cnt")],
    ).collect()

    by_key: dict[str, list] = {}
    for r in out:
        by_key.setdefault(r["key"], []).append(r)
    totals: dict[str, float] = {}
    counts: dict[str, int] = {}
    for k, v, _ in data:
        totals[k] = totals.get(k, 0.0) + v
        counts[k] = counts.get(k, 0) + 1
    assert set(by_key) == set(totals)
    for k, rs in by_key.items():
        rs.sort(key=lambda r: r["bucket"])
        assert [r["bucket"] for r in rs] == list(range(len(rs)))
        assert len(rs) == math.ceil(counts[k] / n)
        assert all(r["cnt"] == n for r in rs[:-1])
        assert 1 <= rs[-1]["cnt"] <= n
        assert math.isclose(sum(r["value"] for r in rs), totals[k], abs_tol=1e-9)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50), st.booleans()),
        min_size=1,
        max_size=60,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_asof_join_matches_reference_model(spark, rows):
    """asof_join == the obvious per-row model: for each left row, the
    right row of the same key with the greatest ts <= left.ts."""
    lefts = [(k, t) for (k, t, is_left) in rows if is_left]
    rights = [(k, t) for (k, t, is_left) in rows if not is_left]
    if not lefts or not rights:
        return
    ldf = spark.createDataFrame(
        [(k, float(t), i) for i, (k, t) in enumerate(lefts)],
        "k int, ts double, lid long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rdf = spark.createDataFrame(
        [(k, float(t), i) for i, (k, t) in enumerate(rights)],
        "k int, ts double, rid long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    got = {
        r["lid"]: r["r_rid"]
        for r in asof_join(ldf, rdf, on="k", left_tie=F.col("lid"), right_tie=F.col("rid")).collect()
    }
    for i, (k, t) in enumerate(lefts):
        cands = [(rt, j) for j, (rk, rt) in enumerate(rights) if rk == k and rt <= t]
        want = max(cands)[1] if cands else None
        assert got[i] == want, (i, k, t, cands)


def test_parse_malformed_lines_do_not_abort(spark):
    """Spark 4 runs ANSI mode by default: element_at on a short array
    aborts the job. The parser must degrade per-record (NULL fields,
    empty text) — a single bad line cannot kill a 100 TB run."""
    bad = spark.createDataFrame(
        [("",), ("nocommas",), ("a,b",), ("a,b,",), (",,",), ("a",)],
        "line string",
    )
    out = parse.parse_lines(bad).collect()
    assert len(out) == 6  # every line survives
    triples = {(r["channel"], r["user"], r["text"]) for r in out}
    assert ("a", "b", "") in triples      # two fields, empty tail
    assert ("a", None, "") in triples     # one field: user NULL
    assert ("", "", "") in triples        # ",," -> two empty fields


def test_serialize_null_fields_keep_positions(spark):
    """concat_ws skips NULLs, which would shift the text into the user
    slot on the round trip; to_raw_lines coalesces the key fields to ''
    so field positions survive (NULL -> '' is the closest inverse the
    un-quoted wire format can represent)."""
    df = spark.createDataFrame(
        [("a", None, "x,y"), (None, "u", "t")],
        "channel string, user string, text string",
    )
    back = parse.parse_lines(parse.to_raw_lines(df)).collect()
    got = sorted((r["channel"], r["user"], r["text"]) for r in back)
    assert got == [("", "u", "t"), ("a", "", "x,y")]


def test_connected_components_nonconvergence_raises(spark):
    """max_iter exhaustion must raise, not silently return wrong
    clusters (a 5-node path needs >1 round)."""
    import pytest as _pytest
    from sparksent.graph import connected_components

    verts = spark.createDataFrame([(i,) for i in range(5)], "id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(4)], "src long, dst long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(verts, edges, max_iter=1)


def test_connected_components_duplicate_ids_one_row_per_id(spark):
    """ADVICE r12: duplicate vertex ids must not yield duplicate output
    rows.  Touched vertices collapse in the first fold's groupBy, but
    edge-free vertices bypass the loop — the isolated arm needs its own
    .distinct().  Both arms exercised here: ids 0/1 are touched dups,
    id 9 is an isolated dup."""
    from sparksent.graph import connected_components

    verts = spark.createDataFrame(
        [(0,), (0,), (1,), (1,), (1,), (9,), (9,)], "id long"
    )
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    got = connected_components(verts, edges).collect()
    assert sorted((r.id, r.label) for r in got) == [(0, 0), (1, 0), (9, 9)]


def test_connected_components_shortcut_from_result_invariant(spark):
    """The adaptive pointer-shortcut (VERDICT r12 ask #1) must be a
    pure performance knob: plain-only, always-shortcut, and the
    default staged engagement reach the IDENTICAL fixpoint on a graph
    with both clique-ish and chain structure."""
    from sparksent.graph import connected_components

    n = 60
    # two cliques (0-9, 20-29), one 15-hop chain (30..45), isolateds
    edges = (
        [(a, b) for a in range(10) for b in range(a + 1, 10)]
        + [(a, b) for a in range(20, 30) for b in range(a + 1, 30)]
        + [(i, i + 1) for i in range(30, 45)]
    )
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    e = spark.createDataFrame(edges, "src long, dst long")
    want = None
    for scf in (1, 3, 999):
        got = sorted(
            (r.id, r.label)
            for r in connected_components(
                verts, e, max_iter=30, shortcut_from=scf
            ).collect()
        )
        if want is None:
            want = got
        assert got == want, f"shortcut_from={scf} diverged"


def test_nprobe_for_pins_measured_recall_settings():
    """The constant-probe-fraction sizing rule as CODE (VERDICT r12
    ask #7), pinned to the settings the SCALE.md recall rows measured:
    ×1 fixtures (K=8 cells) and the ×20 corpus (40k vectors, K=13 —
    where nprobe=2 probed 15.4% and recalled 0.98) must both resolve
    to the registered nprobe=2, and the fraction must stay ~constant
    as cells grow."""
    import math

    from sparksent.ext.similarity import (
        NPROBE,
        PROBE_FRACTION,
        _centroid_count_windows,
        ivf_trained_auto_sql,
        n_centroids_for,
        nprobe_for,
    )

    # the two measured rows: ×1 (K=8) and ×20 (40k rows -> K=13)
    assert nprobe_for(n_cells=8) == NPROBE
    assert n_centroids_for(40_000) == 13
    assert nprobe_for(n_rows=40_000) == NPROBE
    # every pre-generated oracle window resolves to the historic
    # NPROBE, so nprobe=None changes no registered result
    for kc, _, _ in _centroid_count_windows():
        assert nprobe_for(n_cells=kc) == NPROBE
    assert ivf_trained_auto_sql() == ivf_trained_auto_sql(nprobe=NPROBE)
    # the rule itself: ceil(fraction * cells), clamped to [1, cells]
    assert nprobe_for(n_cells=1) == 1
    assert nprobe_for(n_cells=100) == math.ceil(PROBE_FRACTION * 100)
    assert nprobe_for(n_cells=2000) == math.ceil(PROBE_FRACTION * 2000)
    # 100× story: cells grow ~sqrt(N); probed fraction stays within
    # one cell of the target at any size
    for n in (1e6, 1e8, 1e10):
        k = n_centroids_for(int(n))
        np_ = nprobe_for(n_cells=k)
        assert PROBE_FRACTION <= np_ / k <= PROBE_FRACTION + 1 / k


def test_cc_label_sum_empty_and_null_guard(spark):
    """ADVICE r12: SUM over an empty frame is NULL — the probe must
    report a real 0 there (not None, which would compare equal to a
    theoretical overflow NULL and silently declare convergence)."""
    from sparksent.graph import cc_label_sum

    empty = spark.createDataFrame([], "id long, label long")
    assert cc_label_sum(empty) == 0
    some = spark.createDataFrame([(1, 5), (2, 7)], "id long, label long")
    assert cc_label_sum(some) == 12


def test_jaccard_stop_shingle_cap_bounds_hot_partition(spark):
    """One ubiquitous shingle must not create an O(D^2) join partition:
    with max_df set, (a) the hot shingle is gone from the inverted index
    so no candidate pair exists through it, and (b) Jaccard over the
    capped universe matches the per-pair Python model exactly."""
    from sparksent.ext.dedup import ngram_jaccard_pairs
    from sparksent.ext.hashing import shingles

    hot = "copyright footer boilerplate all rights reserved"  # in EVERY doc
    docs = [
        (i, f"unique words {i} alpha beta gamma delta {hot}") for i in range(30)
    ] + [(100, f"unique words 0 alpha beta gamma delta {hot}")]  # near-dup of 0
    df = spark.createDataFrame(docs, "doc_id long, text string")

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.1, max_df=10).collect()
    }
    # python model over the capped shingle universe
    sh_rows = df.select("doc_id", F.explode(shingles("text")).alias("s")).collect()
    from collections import Counter

    freq = Counter(r["s"] for r in sh_rows)
    by_doc: dict[int, list] = {}
    for r in sh_rows:
        if freq[r["s"]] <= 10:
            by_doc.setdefault(r["doc_id"], []).append(r["s"])
    want = {}
    ids = sorted(by_doc)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            sa, sb = set(by_doc[a]), set(by_doc[b])
            inter = len(sa & sb)
            if inter and inter / len(sa | sb) >= 0.1:
                want[(a, b)] = inter / len(sa | sb)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12, k
    # without the cap the hot shingle alone creates 31*30/2 candidates;
    # with it, only the genuine near-dup pair survives
    assert (0, 100) in got


import pytest


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_mllib_sentiment_margin(spark, sf_dir):
    """The oracle for doc_sentiment_mllib asserts prediction == lexicon
    label; that is only sound if the model separates its training set
    with margins far beyond float noise. Pin the margin invariant at
    BOTH the smoke SF and the SF the driver verifies (ADVICE r2 #4: a
    fixture change or MLlib version bump must surface here as a clear
    margin regression, not a confusing oracle mismatch)."""
    from sparksent import nlp, tables

    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    out = nlp.mllib_sentiment(docs)
    agg = out.agg(
        F.sum((F.col("label") != F.col("prediction")).cast("int")).alias("errs"),
        F.min(
            F.when(F.col("label") == 1.0, F.col("p_positive")).otherwise(
                1 - F.col("p_positive")
            )
        ).alias("min_p"),
    ).collect()[0]
    assert agg.errs == 0
    assert agg.min_p > 0.999  # wide margin: partition-order noise can't flip it


def test_connected_components_chain_convergence(spark):
    """A path graph (0-1-2-...-7) plus isolated vertices: labels need
    multiple propagation rounds to reach the chain's far end — exercises
    the fixpoint loop beyond the single-round clique case."""
    from sparksent.graph import connected_components

    chain = [(i, i + 1) for i in range(7)]            # one 8-node path
    other = [(20, 21)]                                # a second component
    verts = spark.createDataFrame(
        [(i,) for i in range(8)] + [(20,), (21,), (99,)], "id long"
    )
    edges = spark.createDataFrame(chain + other, "src long, dst long")
    got = {r["id"]: r["label"] for r in connected_components(verts, edges).collect()}
    assert all(got[i] == 0 for i in range(8))
    assert got[20] == got[21] == 20
    assert got[99] == 99  # isolated vertex keeps its own label


def test_cosine_lsh_recall_floor(spark):
    """The documented LSH trade, measured: multi-probe candidates over
    N_TABLES independent hash tables recover >= 70% of the exact
    all-pairs near-dup set at sf0.01's hard threshold (0.4 ~ 66 deg
    between vectors — production dedup thresholds >= 0.9 sit far higher
    on the SRP collision curve). Also pins zero false positives: every
    emitted pair carries its EXACT cosine, so lsh-pairs is always a
    subset of exact-pairs (VERDICT r2 #7 / ADVICE r2 #2)."""
    from sparksent.ext.similarity import (
        cosine_neardup_pairs,
        cosine_neardup_pairs_exact,
    )
    from sparksent.tables import load_table

    from conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    lsh = {(r.id_a, r.id_b) for r in cosine_neardup_pairs(emb).collect()}
    exact = {(r.id_a, r.id_b) for r in cosine_neardup_pairs_exact(emb).collect()}
    assert lsh <= exact  # exact-sim filter => no false positives
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.70, f"recall {recall:.3f} below the pinned floor"


def test_num_planes_for_matches_oracle_windows():
    """The Python helper and the SQL branch gates must agree exactly at
    every count-window boundary, or the engines silently run different
    bucket codes."""
    from sparksent.ext.similarity import (
        NUM_PLANES,
        _plane_count_windows,
        num_planes_for,
    )

    for p, lo, hi in _plane_count_windows():
        assert num_planes_for(lo + 1) == p
        assert num_planes_for(hi) == p
        if lo > 0:
            assert num_planes_for(lo) == p - 1
    assert num_planes_for(0) == NUM_PLANES
    assert num_planes_for(1) == NUM_PLANES
    assert num_planes_for(500) == NUM_PLANES  # sf0.01 fixture unchanged
    assert num_planes_for(2000) == 6  # sf0.1 bench corpus
    assert num_planes_for(40_000) == 11  # scale_demo x20 corpus
    assert num_planes_for(10**9) == 24  # capped


def test_n_centroids_for_matches_oracle_windows():
    """Same contract for the IVF cell-count rule: Python helper and SQL
    branch gates agree at every boundary; every fixture size resolves to
    the floor (unchanged results)."""
    from sparksent.ext.similarity import (
        N_CENTROIDS,
        _centroid_count_windows,
        n_centroids_for,
    )

    for kc, lo, hi in _centroid_count_windows():
        assert n_centroids_for(lo + 1) == kc
        assert n_centroids_for(hi) == kc
        if lo > 0:
            assert n_centroids_for(lo) == kc - 1
    assert n_centroids_for(500) == N_CENTROIDS  # sf0.01
    assert n_centroids_for(2000) == N_CENTROIDS  # sf0.1
    assert n_centroids_for(40_000) == 13  # x20 corpus (13 cells)
    assert n_centroids_for(10**9) == 1977  # ~sqrt(N/256)
    # the fixture-facing wrapper fails loudly past the oracle ceiling
    # (the semdedup_k_oracle_checked convention) instead of letting the
    # query/oracle pair diverge
    import pytest as _pytest

    from sparksent.ext.similarity import (
        CENTROID_AUTO_MAX,
        n_centroids_oracle_checked,
    )

    assert n_centroids_oracle_checked(2000) == N_CENTROIDS
    assert n_centroids_oracle_checked(36_864) == CENTROID_AUTO_MAX
    with _pytest.raises(ValueError, match="oracle branch ceiling"):
        n_centroids_oracle_checked(40_000)


def test_curation_invariants(spark):
    """Structural invariants of the round-3 curation operators over the
    sf0.01 corpus — properties any input must satisfy, complementing
    the value-exact oracle rows."""
    from sparksent.ext import curation
    from sparksent.tables import load_table

    from conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")

    pack = curation.seq_packing(docs).collect()
    n_docs = docs.count()
    assert len(pack) == n_docs  # packing assigns every document
    assert all(0 <= r.offset < curation.CTX_LEN for r in pack)
    assert all(0 <= r.shard < curation.N_SHARDS for r in pack)
    # within a shard, seq_id is non-decreasing in doc_id order and the
    # stream has no holes: each doc starts where the previous one ended
    by_shard: dict = {}
    for r in sorted(pack, key=lambda r: (r.shard, r.doc_id)):
        prev = by_shard.get(r.shard, 0)
        assert r.seq_id * curation.CTX_LEN + r.offset == prev
        by_shard[r.shard] = prev + r.n_tokens

    contaminated = curation.decontaminate(docs).collect()
    bench_ids = {
        r.doc_id for r in docs.filter(F.col("doc_id") % curation.BENCH_MOD == 0).collect()
    }
    assert contaminated  # the near-dup fixture guarantees some overlap
    assert all(r.doc_id not in bench_ids for r in contaminated)
    assert all(r.n_shared_grams >= 1 for r in contaminated)

    rep = curation.repetition_stats(docs).collect()
    assert len(rep) == n_docs
    for r in rep:
        assert 0 < r.top_gram_frac <= 1
        assert 0 <= r.dup_gram_frac < 1
        assert 0 <= r.dup_word_frac < 1

    rare = curation.rare_word_stats(docs).collect()
    assert len(rare) == n_docs
    assert all(0 <= r.n_rare_words <= r.n_distinct_words for r in rare)


def test_ann_topk_recall_ladder(spark):
    """The ANN cost/recall trade, measured and pinned against exact
    brute force at sf0.01. The fixture embeddings are near-random (no
    cluster structure), which is the WORST regime for bucketed ANN —
    true top-5 neighbors sit at cosine ~0.3-0.5 and scatter across
    buckets — so these floors document the honest lower bound of the
    trade, not a showcase: single-bucket LSH reads ~1/16 of the corpus,
    multi-probe ~5/16, IVF nprobe/K = 1/4. The ladder must be monotone:
    more candidates, more recall."""
    from sparksent.registry import queries as _q

    from conftest import SF_DIR

    qs = _q()

    def pairset(name):
        return {(r.query_id, r.neighbor_id) for r in qs[name](spark, SF_DIR).collect()}

    brute = pairset("similarity_topk_brute")
    lsh = len(pairset("similarity_topk_lsh") & brute) / len(brute)
    multi = len(pairset("similarity_topk_multiprobe") & brute) / len(brute)
    ivf = len(pairset("similarity_topk_ivf") & brute) / len(brute)
    trained = len(pairset("similarity_topk_ivf_trained") & brute) / len(brute)
    adc = len(pairset("similarity_topk_ivfpq_adc") & brute) / len(brute)
    refine = len(pairset("similarity_topk_ivfpq_refine") & brute) / len(brute)
    assert multi >= lsh  # probe budget buys recall
    assert lsh >= 0.05 and multi >= 0.30 and ivf >= 0.20, (lsh, multi, ivf)
    # the trained index (Lloyd cells fit to the data) dominates every
    # data-independent rung even in this worst regime: measured 0.86 at
    # the same nprobe/K = 1/4 budget (round 9; floor leaves slack for
    # fixture regeneration)
    assert trained >= 0.70 and trained >= ivf, (trained, ivf)
    # the IVF-PQ cascade is monotone: code-only ADC (measured 0.24)
    # < ADC + bounded exact refinement (0.72) < exact re-rank of every
    # candidate (0.86) — each stage buys recall with more float work
    assert trained >= refine >= adc, (trained, refine, adc)
    assert refine >= 0.55 and adc >= 0.10, (refine, adc)


def _vector_frame(spark, vecs, first_id: int, tag: str):
    return spark.createDataFrame(
        [(first_id + i, tag, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id long, tag string, v array<float>",
    )


def test_cross_dot_bit_identical_to_crossjoin_dot_arrow(spark, monkeypatch):
    """The all-pairs kernel scores every pair exactly as the
    crossJoin + dot_arrow form it replaced: same pairs, bit-identical
    doubles, duplicate vectors and row-block splits included."""
    import numpy as np

    from sparksent.ext import similarity
    from sparksent.ext.similarity import cross_dot, dot_arrow

    rng = np.random.default_rng(7)
    lv = rng.standard_normal((37, 64)).astype(np.float32)
    lv[5] = lv[2]  # duplicate vectors on each side and across sides
    rv = rng.standard_normal((11, 64)).astype(np.float32)
    rv[3] = rv[0]
    rv[7] = lv[1]
    left = _vector_frame(spark, lv, 0, "l").toDF("lid", "ltag", "lv").repartition(3)
    right = _vector_frame(spark, rv, 100, "r").toDF("rid", "rtag", "rv")
    want = {
        (r.lid, r.rid): r.dot
        for r in left.crossJoin(F.broadcast(right))
        .select("lid", "rid", dot_arrow(F.col("rv"), F.col("lv")).alias("dot"))
        .collect()
    }
    # one left row per block (5 < its 11 pairs), then one block per batch
    for block_pairs in (5, similarity.CROSS_BLOCK_PAIRS):
        monkeypatch.setattr(similarity, "CROSS_BLOCK_PAIRS", block_pairs)
        got = cross_dot(left, right, "lv", "rv")
        assert got.columns == ["lid", "ltag", "rid", "rtag", "dot"]
        rows = got.collect()
        assert {(r.ltag, r.rtag) for r in rows} == {("l", "r")}
        assert len(rows) == len(want) == 37 * 11
        assert {(r.lid, r.rid): r.dot for r in rows} == want


def test_cross_dot_empty_right_side_is_empty(spark):
    import numpy as np

    from sparksent.ext.similarity import cross_dot

    left = _vector_frame(spark, np.ones((4, 64), np.float32), 0, "l")
    right = _vector_frame(spark, np.ones((1, 64), np.float32), 9, "r").filter("id < 0")
    out = cross_dot(left, right.toDF("rid", "rtag", "rv"), "v", "rv")
    assert out.columns == ["id", "tag", "rid", "rtag", "dot"]
    assert out.collect() == []


def test_bitext_zero_norm_vector_raises_divide_by_zero(spark):
    """A zero vector has norm 0, so its cosine divides by zero: under
    ANSI the margin miner fails with DIVIDE_BY_ZERO, it does not drop
    or NULL the pairs."""
    import numpy as np
    import pytest

    from sparksent.ext.bitext import bitext_mine_margin

    vecs = np.random.default_rng(3).standard_normal((8, 64)).astype(np.float32)
    vecs[5] = 0.0  # an odd id: side B
    emb = _vector_frame(spark, vecs, 0, "x").toDF("vec_id", "tag", "embedding")
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        bitext_mine_margin(emb).collect()


def clustered_embeddings(spark, n_components: int = 10, noise: float = 0.5):
    """Seeded mixture-of-Gaussians fixture DERIVED from the existing
    embeddings table (VERDICT r8 ask #1): component centroids are unit
    +-1/8 vectors from the module's deterministic LCG planes; each
    vector = centroid[knuth_hash(id) % C] + noise * its original
    (near-random, unit-norm) embedding — the original vectors act as
    the Gaussian noise term, so the fixture is a pure seeded function
    of the shipped data.  Components are assigned by multiplicative
    hash, NOT id % C, so no contiguous id run (Lloyd seeds ids 0..9,
    untrained-IVF cells ids 100..109) covers the components by
    accident."""
    import numpy as np

    from sparksent.ext.similarity import _plane
    from sparksent.tables import load_table

    from conftest import SF_DIR

    emb = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    E = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    cents = np.array(
        [_plane(100 + g) for g in range(n_components)], dtype=np.float64
    ) / 8.0
    ids = np.arange(E.shape[0], dtype=np.int64)
    comp = (ids * 2654435761 % (2**32)) % n_components
    V = cents[comp] + noise * E
    rows = [(int(i), [float(x) for x in V[i]]) for i in range(len(V))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_trained_recall_clustered(spark):
    """The trained-IVF capability claim, measured in the regime ANN
    indexes exist for (VERDICT r8 ask #1): on the clustered fixture the
    Lloyd-trained cells recover >= 0.8 of the exact top-5 set at <= 1/4
    of the brute-force candidate budget (measured: recall 1.0 at 0.198),
    while single-bucket LSH — random planes, blind to the data — gets
    ~0.42 on the SAME corpus at a comparable budget.  The budget is
    measured from the actual (cells x probes) candidate join, not
    assumed from nprobe/K."""
    from pyspark.sql import functions as F

    from sparksent.ext.similarity import (
        brute_force_topk,
        ivf_trained_parts,
        ivf_trained_topk,
        lsh_topk,
    )

    C, N_Q = 10, 32
    df = clustered_embeddings(spark, n_components=C).cache()
    try:
        q = df.filter(F.col("vec_id") < N_Q)
        truth = {
            (r.query_id, r.neighbor_id)
            for r in brute_force_topk(df, q, k=5).collect()
        }
        trained = {
            (r.query_id, r.neighbor_id)
            for r in ivf_trained_topk(df, q, k=5, nprobe=2, n_centroids=C).collect()
        }
        lsh = {
            (r.query_id, r.neighbor_id)
            for r in lsh_topk(df, q, k=5, num_planes=4).collect()
        }
        n = df.count()
        cells, probes = ivf_trained_parts(df, q, nprobe=2, n_centroids=C)
        cand = (
            cells.join(F.broadcast(probes), "cell")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .count()
        )
        budget = cand / (N_Q * (n - 1))
        recall = len(truth & trained) / len(truth)
        lsh_recall = len(truth & lsh) / len(truth)
        assert budget <= 0.25, budget
        assert recall >= 0.8, (recall, budget)
        # the data-dependent index is the capability gap being closed:
        # measured trained 1.0 vs lsh 0.42 on identical data
        assert recall >= lsh_recall + 0.25, (recall, lsh_recall)
    finally:
        df.unpersist()


def test_ivfpq_cascade_recall_clustered(spark):
    """The IVF-PQ story, measured where it matters: on the clustered
    fixture the code-only ADC ranking is deliberately coarse (recall
    ~0.21 — per-subspace quantization error swamps the small
    within-cluster distance gaps), and the exact refinement of ADC's
    top-40 recovers **0.93** — the candidate-containment property the
    cascade relies on (the true neighbors ARE in the probed cells and
    inside ADC's top-R; only their ORDER needs float work)."""
    from pyspark.sql import functions as F

    from sparksent.ext.similarity import (
        brute_force_topk,
        ivfpq_adc_topk,
        ivfpq_refine_topk,
    )

    C, N_Q = 10, 32
    df = clustered_embeddings(spark, n_components=C).cache()
    try:
        q = df.filter(F.col("vec_id") < N_Q)
        truth = {
            (r.query_id, r.neighbor_id)
            for r in brute_force_topk(df, q, k=5).collect()
        }
        adc = {
            (r.query_id, r.neighbor_id)
            for r in ivfpq_adc_topk(df, q, k=5, n_centroids=C).collect()
        }
        ref = {
            (r.query_id, r.neighbor_id)
            for r in ivfpq_refine_topk(df, q, k=5, n_centroids=C).collect()
        }
        adc_recall = len(truth & adc) / len(truth)
        ref_recall = len(truth & ref) / len(truth)
        assert ref_recall >= 0.85, (ref_recall, adc_recall)
        assert ref_recall >= adc_recall + 0.3  # refinement is the point
    finally:
        df.unpersist()


def test_bpe_merges_match_reference_loop(spark, ducks):
    """Recompute the merge sequence from an INDEPENDENT DuckDB word
    count through the pure-Python loop and require the 16 rows to match
    exactly (this predates — and now complements — the registered
    recursive-CTE oracle)."""
    from sparksent.ext import bpe
    from sparksent.registry import REGISTRY, _ensure_loaded

    from conftest import SF_DIR

    _ensure_loaded()
    got = [
        (r["step"], r["left"], r["right"], r["pair_count"])
        for r in REGISTRY["bpe_merges"].fn(spark, SF_DIR).collect()
    ]
    vocab = ducks.execute(
        "SELECT word, count(*) AS n FROM ("
        "SELECT unnest(string_split(text, ' ')) AS word FROM documents) "
        "WHERE word <> '' GROUP BY 1 ORDER BY 1"
    ).fetchall()
    want = bpe.learn_merges_py([(w, n) for w, n in vocab])
    assert got == want
    assert len(got) == bpe.N_MERGES
    # merge counts are non-increasing only within equal vocab states is
    # NOT guaranteed (a merge can create a more frequent pair), but
    # every count must be positive and every step index consecutive
    assert [s for s, *_ in got] == list(range(bpe.N_MERGES))
    assert all(c > 0 for *_, c in got)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet="ab", min_size=1, max_size=8),
            st.integers(min_value=1, max_value=5),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_bpe_recursive_cte_oracle_matches_loop(pairs):
    """The registered bpe_merges oracle (recursive CTE,
    bpe.merges_sql) must reproduce learn_merges_py exactly on
    adversarial vocabularies — a two-letter alphabet maximizes tie
    breaks and 'aaaa'-style cascades where the greedy leftmost
    non-overlap rewrite (the list_reduce fold) could diverge."""
    import duckdb

    from sparksent.ext import bpe

    counts: dict[str, int] = {}
    for w, c in pairs:
        counts[w] = counts.get(w, 0) + c
    con = duckdb.connect()
    con.execute("CREATE TABLE docs(text VARCHAR)")
    con.executemany(
        "INSERT INTO docs VALUES (?)", [((w + " ") * c,) for w, c in counts.items()]
    )
    got = sorted(con.execute(bpe.merges_sql(table="docs")).fetchall())
    want = [tuple(m) for m in bpe.learn_merges_py(sorted(counts.items()))]
    assert got == want


def test_bpe_encode_fold_matches_reference_scan(spark):
    """bpe_encode_documents' JVM aggregate-fold must equal the
    reference Python merge scan on adversarial words ('aaaa' cascades,
    overlapping pair sites) — the same equivalence the oracle's
    list_reduce relies on, proven on the Spark side."""
    from sparksent.ext import bpe

    docs = [
        (0, "aaaa aa a aaa"),
        (1, "abab ab ba bab"),
        (2, ""),
        (3, "aaaa aaaa abab"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens"])
        for r in bpe.encode_token_counts(df).collect()
    }

    # reference: python loop end-to-end
    counts: dict[str, int] = {}
    for _, t in docs:
        for w in t.split(" "):
            if w:
                counts[w] = counts.get(w, 0) + 1
    merges = bpe.learn_merges_py(sorted(counts.items()))

    def encode(word: str) -> int:
        syms = list(word) + [bpe.END_MARK]
        for _, left, right, _ in merges:
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    want = {}
    for d, t in docs:
        ws = [w for w in t.split(" ") if w]
        want[d] = (len(ws), sum(encode(w) for w in ws))
    assert got == want


def test_bpe_encode_paths_agree(spark):
    """The two encode engines — chained JVM folds (n_merges <=
    FOLD_DEPTH_LIMIT) and the Arrow mapInPandas distinct-word encode —
    must be row-identical on adversarial cascade/overlap words: the
    registered query's oracle covers the fold path, so this equality is
    what carries the oracle's authority over to the production path."""
    from sparksent.ext import bpe

    docs = [
        (0, "aaaa aa a aaa"),
        (1, "abab ab ba bab abba"),
        (2, ""),
        (3, "aaaa aaaa abab banana bandana"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fold = sorted(map(tuple, bpe.encode_token_counts(df, n_merges=16).collect()))
    arrow = sorted(
        map(tuple, bpe.encode_token_counts(df, n_merges=16, fold_limit=0).collect())
    )
    assert fold == arrow


def test_bpe_encode_nested_fold_no_catalyst_ceiling(spark):
    """Round 13: the JVM engine is one nested aggregate over the
    literal merge array, so its plan depth is constant in the merge
    count — 128 merges, which ABORTED the old chained-layer shape at
    analysis time ('Max iterations (100) reached for batch
    Resolution'), must now analyze, run, and match the Arrow engine."""
    from sparksent.ext import bpe

    docs = [
        (0, "aaaa aa a aaa"),
        (1, "abab ab ba bab abba"),
        (2, ""),
        (3, "aaaa aaaa abab banana bandana"),
        (4, "abcdefgh abcd efgh cafe babble"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fold = sorted(
        map(tuple, bpe.encode_token_counts(df, n_merges=128, fold_limit=128).collect())
    )
    arrow = sorted(
        map(tuple, bpe.encode_token_counts(df, n_merges=128, fold_limit=0).collect())
    )
    assert fold == arrow


def test_bpe_encode_production_merge_count(spark):
    """The capability the round-6 verdict flagged, proven: tokenizer
    apply at a PRODUCTION merge count.  n_merges=1024 is 64x the
    Catalyst fold ceiling (128 chained folds abort analysis with 'Max
    iterations (100) reached for batch Resolution' on pyspark 4.1.2);
    the Arrow path must analyze, run, and match an independent
    pure-Python end-to-end encode (no substring pre-check — so this
    also validates apply_merges_py's skip optimization)."""
    from sparksent.ext import bpe
    from sparksent import tables

    from conftest import SF_DIR_SMALL

    fixture = tables.load_table(spark, SF_DIR_SMALL, "documents").select(
        "doc_id", "text"
    )
    # the sf0.001 vocab exhausts at ~105 merges, so append a synthetic
    # long-tail shard (distinct 12-char hex-ish words) that keeps pair
    # counts alive well past 1024 — exactly the heavy-tail vocabulary a
    # web corpus has
    tail_words = [f"{(i * 2654435761) % (1 << 48):012x}" for i in range(400)]
    tail = [
        (10_000 + j, " ".join(tail_words[j * 20 : (j + 1) * 20]))
        for j in range(20)
    ]
    df = fixture.unionByName(
        spark.createDataFrame(tail, "doc_id long, text string")
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens"])
        for r in bpe.encode_token_counts(df, n_merges=1024).collect()
    }

    docs = [(r["doc_id"], r["text"]) for r in df.collect()]
    counts: dict[str, int] = {}
    for _, t in docs:
        for w in t.split(" "):
            if w:
                counts[w] = counts.get(w, 0) + 1
    merges = [
        (l, r) for _, l, r, _ in bpe.learn_merges_py(sorted(counts.items()), 1024)
    ]

    def encode(word: str) -> int:  # no pre-check: independent reference
        syms = list(word) + [bpe.END_MARK]
        for left, right in merges:
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    enc_cache = {w: encode(w) for w in counts}
    want = {}
    for d, t in docs:
        ws = [w for w in t.split(" ") if w]
        want[d] = (len(ws), sum(enc_cache[w] for w in ws))
    assert got == want
    # the corpus must actually exercise the full requested merge table
    # for this to prove anything (i.e. the loop must not exhaust early)
    assert len(merges) == 1024


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=0x7E),
            min_size=0,
            max_size=20,
        ),
        min_size=2,
        max_size=24,
    )
)
def test_levenshtein_cross_engine_agreement(spark, strings):
    """fuzzy_name_pairs rests on Spark's levenshtein == DuckDB's
    levenshtein (both standard unit-cost edit distance). Pin the
    function-semantics assumption on arbitrary printable-ASCII pairs,
    including empties and strings with quotes/backslashes."""
    import duckdb

    pairs = [(strings[i], strings[i + 1]) for i in range(len(strings) - 1)]
    got = [
        r[0]
        for r in spark.createDataFrame(pairs, "a string, b string")
        .select(F.levenshtein("a", "b"))
        .collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute("SELECT levenshtein(?, ?)", [a, b]).fetchone()[0]
        for a, b in pairs
    ]
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=40,
    ),
    st.sampled_from([0.05, 0.25, 0.5, 0.75, 0.95]),
)
def test_percentile_cross_engine_agreement(spark, values, q):
    """winsorize_event_value and the robust-analytics queries rest on
    the pinned percentile oracle (sparksent/oracles.py) matching Spark
    ``percentile`` BIT-FOR-BIT — raw ``quantile_cont`` does NOT (it
    lacks Spark's equal-keys shortcut; round-5 Hypothesis find, pinned
    below). Verify on arbitrary doubles at the quantiles the
    registered queries use."""
    import duckdb

    from sparksent.oracles import spark_percentile_select

    got = (
        spark.createDataFrame([(v,) for v in values], "v double")
        .agg(F.percentile("v", q))
        .collect()[0][0]
    )
    sql = spark_percentile_select(
        "(SELECT 1 AS g, unnest(?::DOUBLE[]) AS v)", "g", "v", {"p": q}
    )
    want = duckdb.connect().execute(sql, [values]).fetchone()[1]
    assert got == want


def test_percentile_equal_keys_shortcut_regression(spark):
    """The exact round-5 falsifying example: tied interpolation
    endpoints, where quantile_cont is 1 ULP off Spark. The pinned
    oracle must agree and raw quantile_cont must still disagree (if
    DuckDB ever fixes its side, the pin can be simplified)."""
    import duckdb

    from sparksent.oracles import spark_percentile_select

    values = [0.0, 0.0, 0.0, 999999.8749999999, 999999.8749999999]
    got = (
        spark.createDataFrame([(v,) for v in values], "v double")
        .agg(F.percentile("v", 0.95))
        .collect()[0][0]
    )
    sql = spark_percentile_select(
        "(SELECT 1 AS g, unnest(?::DOUBLE[]) AS v)", "g", "v", {"p": 0.95}
    )
    con = duckdb.connect()
    want = con.execute(sql, [values]).fetchone()[1]
    raw = con.execute(
        "SELECT quantile_cont(v, 0.95) FROM (SELECT unnest(?::DOUBLE[]) v)",
        [values],
    ).fetchone()[0]
    assert got == want == 999999.8749999999
    assert raw != got  # documents why the pinned oracle exists


def test_kmeans_invariants(spark):
    """Every vector is assigned (cluster sizes sum to N), clusters come
    from the seed ids, and two Lloyd rounds strictly improve on the
    seed-only assignment's inertia on this data."""
    from sparksent.ext.iterative import kmeans_cluster_stats
    from sparksent.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n_total = emb.count()
    refined = kmeans_cluster_stats(emb, k=8, iters=2).collect()
    seed_only = kmeans_cluster_stats(emb, k=8, iters=0).collect()
    assert sum(r["n"] for r in refined) == n_total
    assert {r["cluster"] for r in refined} <= set(range(8))
    assert sum(r["inertia"] for r in refined) < sum(r["inertia"] for r in seed_only)


def test_pagerank_mass_conservation_bounds(spark):
    """Fixed-point PageRank: every node keeps at least the teleport
    floor, and total mass never exceeds PR_TOTAL (floordiv truncation
    only ever leaks mass, it cannot mint it). An independent float
    PageRank on the collected edge list agrees within truncation
    error (each round truncates < 1 unit per edge + per node)."""
    from sparksent.ext.iterative import PR_TOTAL, word_pagerank
    from sparksent.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    rows = word_pagerank(docs, iters=3).collect()
    n = len(rows)
    teleport_floor = (15 * PR_TOTAL) // (100 * n)
    assert all(r["pr"] >= teleport_floor for r in rows)
    assert sum(r["pr"] for r in rows) <= PR_TOTAL

    # independent reference: float power iteration on the same graph
    toks = (
        docs.select(
            "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
        )
        .filter(F.col("tok") != "")
        .collect()
    )
    by_doc: dict[int, set[str]] = {}
    for r in toks:
        by_doc.setdefault(r["doc_id"], set()).add(r["tok"])
    w: dict[tuple[str, str], int] = {}
    for ts in by_doc.values():
        for a in ts:
            for b in ts:
                if a != b:
                    w[(a, b)] = w.get((a, b), 0) + 1
    nodes = sorted({r["tok"] for r in toks})
    out = {u: sum(v for (a, _), v in w.items() if a == u) for u in nodes}
    pr = {u: PR_TOTAL / len(nodes) for u in nodes}
    for _ in range(3):
        contrib = {u: 0.0 for u in nodes}
        for (a, b), wt in w.items():
            contrib[b] += pr[a] * wt / out[a]
        pr = {
            u: 0.15 * PR_TOTAL / len(nodes) + 0.85 * contrib[u] for u in nodes
        }
    got = {r["tok"]: r["pr"] for r in rows}
    # truncation: <= 1 unit per incoming edge per round, compounding
    # over 3 rounds — generous absolute envelope
    slack = 3 * (len(w) + len(nodes)) + 10
    for u in nodes:
        assert abs(got[u] - pr[u]) <= slack, (u, got[u], pr[u])


def test_scd2_islands_partition_the_stream(spark):
    """SCD2 invariants on the fixture: island event counts sum to the
    user's event count, intervals chain (valid_to == next valid_from,
    -1 only on the last island), and consecutive islands always change
    event_type (a non-change may never open an island)."""
    from sparksent.registry import queries

    rows = queries()["scd2_user_event_type"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    from sparksent.tables import load_table

    ev_counts = {
        r["user_id"]: r["n"]
        for r in load_table(spark, "/root/testdata/sf0.001", "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert set(by_user) == set(ev_counts)
    for uid, islands in by_user.items():
        islands.sort(key=lambda r: r["island"])
        assert [r["island"] for r in islands] == list(range(1, len(islands) + 1))
        assert sum(r["n_events"] for r in islands) == ev_counts[uid]
        for a, b in zip(islands, islands[1:]):
            assert a["valid_to_us"] == b["valid_from_us"]
            assert a["event_type"] != b["event_type"]
        assert islands[-1]["valid_to_us"] == -1


def test_trend_slope_matches_numpy(spark):
    """The closed-form integer OLS agrees with numpy.polyfit on the
    scaled series (float reference, so approximate comparison)."""
    import numpy as np

    from sparksent.registry import queries
    from sparksent.tables import load_table

    got = {
        r["user_id"]: r
        for r in queries()["trend_slope_per_user"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    ev = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .select("user_id", F.unix_micros("ts").alias("us"), "value")
        .collect()
    )
    series: dict[int, list] = {}
    for r in ev:
        series.setdefault(r["user_id"], []).append((r["us"], r["value"]))
    checked = 0
    for uid, pts in sorted(series.items())[:10]:
        m0 = min(u for u, _ in pts)
        x = np.array([(u - m0) // 1_000_000 for u, _ in pts], dtype=float)
        y = np.array([math.floor(v * 1000.0) for _, v in pts], dtype=float)
        if len(pts) < 2 or np.all(x == x[0]):
            assert uid not in got
            continue
        ref = np.polyfit(x, y, 1)[0]
        assert got[uid]["slope_mu"] == pytest_approx(ref)
        checked += 1
    assert checked > 0


def pytest_approx(v):
    import pytest

    return pytest.approx(v, rel=1e-6, abs=1e-9)


def test_temperature_mix_quota_law(spark):
    """Quotas follow the sqrt law (integer floordiv of scaled weights),
    never exceed the budget in total, and the draw fills every quota
    that fits in its domain."""
    from sparksent.ext.curation import MIX_BUDGET, MIX_SCALE
    from sparksent.registry import queries

    rows = queries()["mix_langs_temperature"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    s = {r["domain"]: math.floor(math.sqrt(r["n_docs"]) * MIX_SCALE) for r in rows}
    st_total = sum(s.values())
    for r in rows:
        assert r["target_n"] == (MIX_BUDGET * s[r["domain"]]) // st_total
        assert r["n_sampled"] == min(r["target_n"], r["n_docs"])
    assert sum(r["target_n"] for r in rows) <= MIX_BUDGET


def test_prefix_filter_equals_uncapped_join(spark):
    """PPJoin correctness on real data: prefix filtering must return
    EXACTLY the uncapped inverted-index join's Jaccard pairs — a
    too-short prefix (the classic off-by-one in n - ceil(t*n) + 1)
    silently drops pairs and fails here."""
    from sparksent.ext.dedup import ngram_jaccard_pairs, prefix_filter_pairs
    from sparksent.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    a = (
        prefix_filter_pairs(docs)
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    b = (
        ngram_jaccard_pairs(docs, max_df=None)
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    assert len(a) == len(b) > 0
    for c in b.columns:
        assert (a[c].to_numpy() == b[c].to_numpy()).all(), c


def test_attribution_linear_credits_sum_to_unit(spark):
    """Every purchase with at least one journey view receives exactly
    1,000,000 ppm of total credit — the floordiv remainder policy can
    never gain or lose a ppm."""
    from sparksent.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    from conftest import SF_DIR

    df = REGISTRY["attribution_linear"].fn(spark, SF_DIR)
    totals = df.groupBy("purchase_id").agg(F.sum("credit_ppm").alias("t"))
    bad = totals.filter(F.col("t") != 1_000_000).count()
    assert bad == 0
    assert totals.count() > 0  # the fixture does produce attributed purchases


def test_basket_apriori_prune_is_lossless(spark):
    """The frequent-pair answer with the a-priori item prune equals the
    answer computed with NO item prune (min_support applied only at the
    pair stage) — support(pair) <= min(support(items)) guarantees it."""
    from sparksent.ext import mining
    from sparksent import tables
    from conftest import SF_DIR_SMALL

    li = tables.load_table(spark, SF_DIR_SMALL, "lineitem")
    pruned = {
        tuple(r)
        for r in mining.basket_pair_lift(li, min_support=2)
        .select("item_a", "item_b", "pair_n")
        .collect()
    }
    items = li.select(
        F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item")
    ).distinct()
    a, b = items.alias("a"), items.alias("b")
    naive = {
        tuple(r)
        for r in a.join(b, "basket")
        .filter(F.col("a.item") < F.col("b.item"))
        .groupBy(F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b"))
        .agg(F.count("*").alias("pair_n"))
        .filter(F.col("pair_n") >= 2)
        .collect()
    }
    assert pruned == naive


def test_bfs_hops_are_shortest_distances(spark):
    """BFS hop levels: seeds are 0; every non-seed reached node has a
    neighbor exactly one hop closer (the shortest-path certificate);
    -1 nodes have no levelled neighbor within range."""
    from sparksent.ext import mining
    from sparksent import tables
    from conftest import SF_DIR_SMALL

    li = tables.load_table(spark, SF_DIR_SMALL, "lineitem")
    hops = mining.copurchase_bfs_hops(li, max_hops=3)
    items = li.select(
        F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item")
    ).distinct()
    a, b = items.alias("a"), items.alias("b")
    edges = (
        a.join(b, "basket")
        .filter(F.col("a.item") != F.col("b.item"))
        .select(F.col("a.item").alias("src"), F.col("b.item").alias("dst"))
        .distinct()
    )
    h = {r["part"]: r["hops"] for r in hops.collect()}
    adj = edges.collect()
    best_nbr: dict[int, int] = {}
    for e in adj:
        hs = h[e["src"]]
        if hs >= 0:
            cur = best_nbr.get(e["dst"], 1 << 30)
            best_nbr[e["dst"]] = min(cur, hs)
    for node, hop in h.items():
        if hop == 0:
            continue
        nb = best_nbr.get(node)
        if hop > 0:
            assert nb is not None and nb == hop - 1, (node, hop, nb)
        else:  # unreached: no neighbor with hop < max_hops
            assert nb is None or nb >= 3, (node, nb)


def test_pq_codes_bounds_and_reconstruction(spark):
    """PQ invariants: every packed code fits 8x4 bits, reconstruction
    error is nonnegative, and a codebook seed vector (vec_id < 16)
    encodes itself in every subspace with zero error."""
    from sparksent.ext import similarity
    from sparksent import tables
    from conftest import SF_DIR_SMALL

    emb = tables.load_table(spark, SF_DIR_SMALL, "embeddings")
    codes = similarity.pq_codes(emb)
    rows = codes.collect()
    assert rows
    for r in rows:
        assert 0 <= r["pq_code"] < (1 << 32)
        assert r["recon_err"] >= 0
    by_id = {r["vec_id"]: r for r in rows}
    for vid in range(16):
        if vid in by_id:
            assert by_id[vid]["recon_err"] == 0
            # seed encodes as (vid, vid, ..., vid) in all 8 subspaces
            expect = sum(vid << (4 * s) for s in range(8))
            assert by_id[vid]["pq_code"] == expect


def test_drift_ks_within_ppm_range(spark):
    """Binned-KS is a probability-scale statistic: 0 <= ks_ppm <= 1e6
    for every type, and both window counts are positive on the
    fixture."""
    from sparksent.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    from conftest import SF_DIR

    rows = REGISTRY["drift_binned_ks_value"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["ks_ppm"] <= 1_000_000
        assert r["n_a"] > 0 and r["n_b"] > 0


def test_grouping_sets_equals_union_of_aggregates(spark):
    """The one-pass GROUPING SETS result must equal four independent
    aggregates unioned — Expand can neither duplicate nor drop a
    granularity."""
    from sparksent.registry import REGISTRY, _ensure_loaded
    from sparksent import tables

    _ensure_loaded()
    from conftest import SF_DIR_SMALL

    got = {
        tuple(r)
        for r in REGISTRY["grouping_sets_event_stats"].fn(spark, SF_DIR_SMALL).collect()
    }
    ev = tables.load_table(spark, SF_DIR_SMALL, "events")
    base = ev.select(
        "event_type",
        F.expr("CAST((unix_timestamp(ts) div 86400 + 4) % 7 AS BIGINT)").alias("dow"),
        F.col("value").cast("decimal(28,6)").alias("v"),
    )
    def rollup(group_cols, et_of, dw_of):
        out = base.groupBy(*group_cols).agg(
            F.count("*").cast("long").alias("n"),
            F.sum("v").cast("double").alias("s"),
        )
        return [(et_of(r), dw_of(r), r["n"], r["s"]) for r in out.collect()]

    rows = (
        rollup(["event_type", "dow"], lambda r: r["event_type"], lambda r: r["dow"])
        + rollup(["event_type"], lambda r: r["event_type"], lambda r: -1)
        + rollup(["dow"], lambda r: "ALL", lambda r: r["dow"])
        + rollup([], lambda r: "ALL", lambda r: -1)
    )
    assert got == set(rows)


def test_zorder_files_are_contiguous_rank_ranges(spark):
    """Layout invariant: file sizes are exactly 1000 rows (except the
    tail) and file ids are dense from 0 — the range-partition ranking
    cannot skip or overlap file boundaries.  Runs at sf0.01 (10
    files), where a rank gap or overlap across range partitions would
    actually move a boundary; sf0.001's single file exercises
    nothing."""
    from sparksent.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    from conftest import SF_DIR

    rows = sorted(
        REGISTRY["zorder_file_stats"].fn(spark, SF_DIR).collect(),
        key=lambda r: r["file_id"],
    )
    assert len(rows) >= 10  # multiple boundaries exist to violate
    assert [r["file_id"] for r in rows] == list(range(len(rows)))
    assert all(r["n_rows"] == 1000 for r in rows[:-1])
    assert 0 < rows[-1]["n_rows"] <= 1000
    assert sum(r["n_rows"] for r in rows) == 10000  # sf0.01 events rows


def test_snapshot_diff_partitions_union_of_users(spark):
    """CDC diff law: every user active in either window appears exactly
    once, 'added' rows have the old sentinels, 'removed' rows the new
    sentinels, and 'changed'/'unchanged' rows have both sides real."""
    from sparksent.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    from conftest import SF_DIR

    from sparksent import tables

    rows = REGISTRY["snapshot_diff_users"].fn(spark, SF_DIR).collect()
    seen = [r["user_id"] for r in rows]
    assert len(seen) == len(set(seen))
    # the "every active user appears" half: recompute the window union
    # independently from events
    ev = tables.load_table(spark, SF_DIR, "events")
    us = F.unix_micros("ts")
    day = 86_400_000_000
    a0 = 1704412800000000  # 2024-01-05
    b0 = 1705708800000000  # 2024-01-20
    expected = {
        r["user_id"]
        for r in ev.filter(
            ((us >= a0) & (us < a0 + day)) | ((us >= b0) & (us < b0 + day))
        )
        .select("user_id")
        .distinct()
        .collect()
    }
    assert set(seen) == expected
    for r in rows:
        if r["change_type"] == "added":
            assert r["old_n"] == -1 and r["new_n"] >= 1
        elif r["change_type"] == "removed":
            assert r["new_n"] == -1 and r["old_n"] >= 1
        else:
            assert r["old_n"] >= 1 and r["new_n"] >= 1
            same = r["old_n"] == r["new_n"] and r["old_sum"] == r["new_sum"]
            assert same == (r["change_type"] == "unchanged")


def test_survival_curve_is_monotone_probability(spark):
    """KM law: the survival estimate starts <= 1e6, never increases,
    stays nonnegative, and n_at_risk strictly decreases across event
    days."""
    from sparksent.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    from conftest import SF_DIR

    rows = sorted(
        REGISTRY["survival_km_error"].fn(spark, SF_DIR).collect(),
        key=lambda r: r["day"],
    )
    assert rows
    prev_s, prev_n = 1_000_000, None
    for r in rows:
        assert 0 <= r["s_ppm"] <= prev_s
        assert r["n_deaths"] >= 1
        if prev_n is not None:
            assert r["n_at_risk"] < prev_n
        prev_s, prev_n = r["s_ppm"], r["n_at_risk"]


def test_cdc_catches_insertion_shifted_duplication(spark):
    """The CDC claim, demonstrated: after an insertion at the front of
    a document, all downstream content-defined chunks still hash-match
    the original (only the chunk containing the edit diverges), while
    a fixed-stride chunking of the same pair shares nothing (every
    window shifts). This is exactly why CDC exists."""
    import hashlib

    from sparksent.ext.dedup import cdc_chunk_stats

    rng_words = [f"w{i * 7 % 97}x{i % 13}" for i in range(120)]
    base = " ".join(rng_words)
    shifted = "INSERTED PREFIX EDIT " + base
    df = spark.createDataFrame(
        [(0, base), (1, shifted)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in cdc_chunk_stats(df).collect()}
    assert out[0]["n_chunks"] > 3  # enough chunks for the claim to mean anything
    # the tail of both docs chunks identically -> duplicated content found
    assert out[0]["n_dup_chunks"] >= out[0]["n_chunks"] - 1
    assert out[1]["dup_chars"] > len(base) // 2
    # fixed-stride counter-demonstration: 64-char windows at stride 64
    # share NO window hashes between the two texts
    def strides(t):
        return {
            hashlib.md5(t[i : i + 64].encode()).hexdigest()
            for i in range(0, len(t) - 63, 64)
        }
    assert not (strides(base) & strides(shifted))


def test_session_concurrency_cap_saturates(spark, tmp_path):
    """The capped variant's whole point: on a DENSE overlap graph (30
    users, one fully-overlapping session each) every session reports
    exactly CONCURRENCY_CAP partners, not 29 — and the exact variant
    reports 29, pinning that the two queries really differ only in the
    saturation bound.  Runs both registered queries against a synthetic
    events shard, so the cap path is exercised even though the driver
    fixtures are too sparse to reach it."""
    import pandas as pd

    from sparksent.queries_relational import CONCURRENCY_CAP
    from sparksent.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    rows = []
    for u in range(30):
        # two events per user => one 30-min session [t0, t0+60s], all
        # sessions pairwise overlapping
        rows.append((u * 2, pd.Timestamp("2024-01-01 12:00:00"), u, "view", 1.0, "{}"))
        rows.append(
            (u * 2 + 1, pd.Timestamp("2024-01-01 12:01:00"), u, "view", 1.0, "{}")
        )
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    pdf.to_parquet(tmp_path / "events.parquet")
    capped = REGISTRY["session_concurrency_capped"].fn(spark, str(tmp_path)).collect()
    exact = REGISTRY["session_concurrency"].fn(spark, str(tmp_path)).collect()
    assert len(capped) == 30 and len(exact) == 30
    assert all(r["n_concurrent_capped"] == CONCURRENCY_CAP for r in capped)
    assert all(r["n_concurrent"] == 29 for r in exact)


def test_cdc_empty_text_yields_zero_chunks(spark):
    """Empty and sub-window documents must not crash the chunk stage
    (ADVICE r6: bounds=[0] made sequence(1, 0) auto-step DESCENDING,
    so element_at(bounds, 2) threw INVALID_ARRAY_INDEX_IN_ELEMENT_AT)
    and must agree with the DuckDB oracle, whose range(1, len(bounds))
    is simply empty: empty text -> 0 chunks, short text -> 1 chunk."""
    import duckdb

    from sparksent.ext.dedup import cdc_chunk_stats, cdc_chunk_stats_sql

    rows = [
        (0, ""),  # the crash row: bounds=[0]
        (1, "tiny"),  # below CDC_W: no candidates, one whole-doc chunk
        (2, " ".join(f"w{i * 7 % 97}x{i % 13}" for i in range(120))),
        (3, " ".join(f"w{i * 7 % 97}x{i % 13}" for i in range(120))),  # dup of 2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in cdc_chunk_stats(df).collect()}
    assert out[0]["n_chunks"] == 0
    assert out[0]["n_dup_chunks"] == 0 and out[0]["dup_chars"] == 0
    assert out[1]["n_chunks"] == 1
    assert out[2]["n_dup_chunks"] == out[2]["n_chunks"]  # exact dup pair

    con = duckdb.connect()
    try:
        import pandas as pd

        con.register(
            "documents", pd.DataFrame(rows, columns=["doc_id", "text"])
        )
        from conftest import assert_oracle_match

        assert_oracle_match(cdc_chunk_stats(df), con, cdc_chunk_stats_sql())
    finally:
        con.close()


def test_semdedup_k_for_matches_oracle_windows():
    """Same contract for the SemDeDup cluster-count rule: the Python
    helper and the count-gated SQL branch windows agree at every
    boundary, and every fixture size resolves to the historical k=8."""
    from sparksent.ext.similarity import (
        SEMDEDUP_K,
        _semdedup_k_windows,
        semdedup_k_for,
    )

    for k, lo, hi in _semdedup_k_windows():
        assert semdedup_k_for(lo + 1) == k
        assert semdedup_k_for(hi) == k
        if lo > 0:
            assert semdedup_k_for(lo) == k - 1
    assert semdedup_k_for(0) == SEMDEDUP_K
    assert semdedup_k_for(500) == SEMDEDUP_K  # sf0.001 / sf0.01 fixtures
    assert semdedup_k_for(2000) == SEMDEDUP_K  # sf0.1 bench corpus
    assert semdedup_k_for(40_000) == 157  # scale_demo x20: ~256/cluster


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50), st.booleans()),
        min_size=1,
        max_size=60,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_asof_forward_matches_reference_model(spark, rows):
    """asof_join_forward == the obvious per-row model: for each left
    row, the right row of the same key with the SMALLEST ts >= left.ts
    (the mirror of the backward test)."""
    from sparksent.joins import asof_join_forward

    lefts = [(k, t) for (k, t, is_left) in rows if is_left]
    rights = [(k, t) for (k, t, is_left) in rows if not is_left]
    if not lefts or not rights:
        return
    ldf = spark.createDataFrame(
        [(k, float(t), i) for i, (k, t) in enumerate(lefts)],
        "k int, ts double, lid long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rdf = spark.createDataFrame(
        [(k, float(t), i) for i, (k, t) in enumerate(rights)],
        "k int, ts double, rid long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    got = {
        r["lid"]: r["r_rid"]
        for r in asof_join_forward(
            ldf, rdf, on="k", left_tie=F.col("lid"), right_tie=F.col("rid")
        ).collect()
    }
    for i, (k, t) in enumerate(lefts):
        cands = [(rt, j) for j, (rk, rt) in enumerate(rights) if rk == k and rt >= t]
        want = min(cands)[1] if cands else None
        assert got[i] == want, (i, k, t, cands)


def test_semdedup_k_oracle_checked_clamp():
    """The registered semdedup pair's sizing guard (ADVICE r7): inside
    the pre-generated oracle branch range the check is the identity on
    semdedup_k_for; one vector past the last branch's window it raises
    loudly — symmetric with the oracle's error() overflow branch, so an
    oversized fixture can never make the pair silently diverge."""
    import pytest as _pytest

    from sparksent.ext.similarity import (
        SEMDEDUP_K_AUTO_MAX,
        SEMDEDUP_TARGET,
        semdedup_k_for,
        semdedup_k_oracle_checked,
    )

    hi = SEMDEDUP_TARGET * SEMDEDUP_K_AUTO_MAX  # 2560: last covered count
    for n in (0, 500, 2000, hi):
        assert semdedup_k_oracle_checked(n) == semdedup_k_for(n)
    assert semdedup_k_oracle_checked(hi) == SEMDEDUP_K_AUTO_MAX
    with _pytest.raises(ValueError, match="oracle branch ceiling"):
        semdedup_k_oracle_checked(hi + 1)


def test_kmeans_assign_paths_agree(spark):
    """The dual-engine assignment contract (the bpe_encode pattern):
    the codegen pos-join shape (small k) and the shuffle-free
    broadcast-row shape (self-scaled k) must produce IDENTICAL
    (id, cl, d) on the same centroids — same scaled integers, same
    lexicographic (distance, id) tie-break. Checked on the sf0.01
    embeddings with the same k on both paths, forced through each
    branch explicitly."""
    from sparksent.ext.iterative import (
        ASSIGN_BROADCAST_MIN_K,
        _assign,
        _scaled_vec,
    )
    from sparksent.tables import load_table

    import pyspark.sql.functions as FF

    from conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    xs = emb.select(
        FF.col("vec_id").cast("long").alias("id"),
        _scaled_vec("embedding").alias("v"),
    ).localCheckpoint()
    k = 8
    cents = xs.filter(FF.col("id") < k).select(
        FF.col("id").alias("j"), FF.posexplode("v").alias("pos", "c")
    )
    small = {
        (r.id, r.cl, r.d) for r in _assign(xs, cents, k_hint=k).collect()
    }
    large = {
        (r.id, r.cl, r.d)
        for r in _assign(xs, cents, k_hint=ASSIGN_BROADCAST_MIN_K).collect()
    }
    assert small == large and len(small) == emb.count()


def test_span_dup_stats_matches_pure_python(spark):
    """Third-engine check for the ExactSubstr relational form: recompute
    span duplication in plain Python (dict of gram -> doc set over the
    sf0.001 corpus, same whole-text-fallback gram rule) and require the
    Spark answer to match exactly — independent of the DuckDB oracle,
    the bpe_encode validation style."""
    from sparksent.ext.dedup import SPAN_GRAM_W, span_dup_stats
    from sparksent.tables import load_table

    from conftest import SF_DIR_SMALL

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    rows = {r.doc_id: r.text for r in docs.collect()}

    def grams(text):
        toks = text.split(" ")
        if len(toks) >= SPAN_GRAM_W:
            return [
                " ".join(toks[i : i + SPAN_GRAM_W])
                for i in range(len(toks) - SPAN_GRAM_W + 1)
            ]
        return [text]

    gram_docs = {}
    for did, text in rows.items():
        for g in set(grams(text)):
            gram_docs.setdefault(g, set()).add(did)
    want = {}
    for did, text in rows.items():
        gs = grams(text)
        nd = sum(1 for g in gs if len(gram_docs[g]) >= 2)
        ppm = (nd * 1_000_000) // len(gs) if gs else 0
        want[did] = (len(gs), nd, ppm)

    got = {
        r.doc_id: (r.n_grams, r.n_dup_grams, r.dup_gram_ppm)
        for r in span_dup_stats(docs).collect()
    }
    assert got == want and len(got) == len(rows) > 0


def test_dsir_importance_matches_pure_python(spark):
    """Third-engine check for DSIR: refit the hashed-bigram models and
    rescore every raw document in plain Python (hashlib md5 bucket
    hashing, add-one smoothing, the same pinned double expression) and
    require exact agreement on the integer columns and bit-equality on
    the weight."""
    import hashlib

    from sparksent.ext.curation import (
        DSIR_BUCKETS,
        DSIR_TARGET_MOD,
        dsir_importance,
    )
    from sparksent.tables import load_table

    from conftest import SF_DIR_SMALL

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    rows = {r.doc_id: r.text for r in docs.collect()}

    def feats(text):
        toks = text.split(" ")
        out = []
        for i in range(len(toks) - 1):
            g = toks[i] + " " + toks[i + 1]
            b = int(hashlib.md5(g.encode()).hexdigest()[:7], 16) % DSIR_BUCKETS
            out.append(b)
        return out

    target, raw_model = {}, {}
    for did, text in rows.items():
        model = target if did % DSIR_TARGET_MOD == 0 else raw_model
        for b in feats(text):
            model[b] = model.get(b, 0) + 1
    t_sum, r_sum = sum(target.values()), sum(raw_model.values())

    want = {}
    for did, text in rows.items():
        if did % DSIR_TARGET_MOD == 0:
            continue
        fs = feats(text)
        if not fs:
            want[did] = (0, 0, 0, -1.0)
            continue
        num = sum(target.get(b, 0) + 1 for b in fs)
        den = sum(raw_model.get(b, 0) + 1 for b in fs)
        w = (float(num) * float(r_sum + DSIR_BUCKETS)) / (
            float(den) * float(t_sum + DSIR_BUCKETS)
        )
        want[did] = (len(fs), num, den, w)

    got = {
        r.doc_id: (r.n_feats, r.num, r.den, r.dsir_weight)
        for r in dsir_importance(docs).collect()
    }
    assert got == want and len(got) > 0


def test_span_and_dsir_adversarial_edges(spark, ducks):
    """Adversarial inputs through BOTH engines for the round-8 text
    operators: empty text, single token, all-identical tokens, and an
    exact duplicate pair — the rows where gram fallbacks, zero-feature
    sentinels, and ANSI-mode casts would diverge first. The synthetic
    frame replaces the documents view on the DuckDB side so the
    registered oracles run unchanged."""
    import pandas as pd

    from sparksent.ext.curation import dsir_importance
    from sparksent.ext.dedup import span_dup_stats

    rows = [
        (0, "x"),  # target-slice member (0 % 97 == 0) AND single token
        (1, ""),  # empty text
        (2, "solo"),  # single token
        (3, "a a a a a a a a a a"),  # 10 identical tokens
        (4, "one two three four five six seven eight nine ten"),
        (5, "one two three four five six seven eight nine ten"),  # dup of 4
        (97, "b b b b b b b b b b"),  # second target-slice member
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    docs = spark.createDataFrame(pdf)
    con = ducks.cursor()
    con.register("adv_docs", pdf)
    con.execute("CREATE OR REPLACE TEMP VIEW documents_adv AS SELECT * FROM adv_docs")

    from sparksent.ext.curation import dsir_importance_sql
    from sparksent.ext.dedup import span_dup_stats_sql

    for spark_df, sql in (
        (span_dup_stats(docs), span_dup_stats_sql(table="documents_adv")),
        (dsir_importance(docs), dsir_importance_sql(table="documents_adv")),
    ):
        a = spark_df.toPandas()
        b = con.execute(sql).fetchdf()
        cols = sorted(a.columns)
        a = a[cols].sort_values(cols).reset_index(drop=True)
        b = b[cols].sort_values(cols).reset_index(drop=True)
        assert len(a) == len(b) > 0
        for c in cols:
            assert (a[c].to_numpy() == b[c].to_numpy()).all(), c

    # semantic spot checks: docs 4 and 5 are full duplicates of each
    # other (ppm = 1e6); the empty doc has zero grams... (the fallback
    # gram for empty text is the empty string itself, shared only if
    # another empty doc exists - here unique, so 0 dup)
    got = {r.doc_id: r for r in span_dup_stats(docs).collect()}
    assert got[4].dup_gram_ppm == 1_000_000 and got[5].dup_gram_ppm == 1_000_000
    assert got[1].n_dup_grams == 0
    dsir = {r.doc_id: r for r in dsir_importance(docs).collect()}
    assert 0 not in dsir and 97 not in dsir  # target slice excluded
    assert dsir[1].dsir_weight == -1.0 and dsir[2].dsir_weight == -1.0
    assert dsir[3].n_feats == 9  # 10 identical tokens -> 9 bigrams


def test_dsir_empty_target_model_stays_finite(spark, ducks):
    """Review-found divergence, pinned fixed: when NO target-slice doc
    has >= 2 tokens the target model is empty — Spark's un-coalesced
    sum over an empty frame gave NULL t_sum (NULL-ing every weight)
    while the oracle's coalesced totals stayed finite. Both engines
    must now emit the same finite weights."""
    import pandas as pd

    from sparksent.ext.curation import dsir_importance, dsir_importance_sql

    rows = [(0, "solo"), (1, "a b c d"), (2, "c d e f")]  # target doc 0: 1 token
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    out = dsir_importance(spark.createDataFrame(pdf)).toPandas()
    assert out["dsir_weight"].notna().all()
    assert (out["dsir_weight"] > 0).all()
    con = ducks.cursor()
    con.register("adv_docs_et", pdf)
    con.execute(
        "CREATE OR REPLACE TEMP VIEW documents_et AS SELECT * FROM adv_docs_et"
    )
    b = con.execute(dsir_importance_sql(table="documents_et")).fetchdf()
    cols = sorted(out.columns)
    a = out[cols].sort_values(cols).reset_index(drop=True)
    b = b[cols].sort_values(cols).reset_index(drop=True)
    assert len(a) == len(b) == 2
    for c in cols:
        assert (a[c].to_numpy() == b[c].to_numpy()).all(), c


def test_kmeans_assign_paths_agree_on_degenerate_vectors(spark):
    """Review-found divergence, pinned fixed: a NULL or empty vector
    row vanished from the small-k posexplode path but survived the
    broadcast-row path as a NULL-distance assignment. Both paths must
    now DROP such rows identically."""
    import pandas as pd

    from sparksent.ext.iterative import (
        ASSIGN_BROADCAST_MIN_K,
        _assign,
        _scaled_vec,
    )

    import pyspark.sql.functions as FF

    pdf = pd.DataFrame(
        {
            "vec_id": [0, 1, 2, 3],
            "embedding": [[0.1, 0.2], [0.3, 0.1], [], None],
        }
    )
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<double>")
    xs = df.select(
        FF.col("vec_id").alias("id"), _scaled_vec("embedding").alias("v")
    ).localCheckpoint()
    cents = xs.filter((FF.col("id") < 2) & (FF.size("v") > 0)).select(
        FF.col("id").alias("j"), FF.posexplode("v").alias("pos", "c")
    )
    small = {(r.id, r.cl, r.d) for r in _assign(xs, cents, k_hint=2).collect()}
    large = {
        (r.id, r.cl, r.d)
        for r in _assign(xs, cents, k_hint=ASSIGN_BROADCAST_MIN_K).collect()
    }
    assert small == large
    assert {r[0] for r in small} == {0, 1}  # degenerate rows dropped on BOTH


def test_ivf_trained_seedless_corpus_empty_not_wrong(spark):
    """The Lloyd seed convention (seeds = ids < k) on a corpus whose
    ids all exceed k: training finds no seeds, so the trained index is
    EMPTY and search returns zero rows — on BOTH paths and in the
    router — rather than an error or an arbitrary assignment (the
    ADVICE-r8 path-equality guards, exercised end to end)."""
    from pyspark.sql import functions as F

    from sparksent.ext.similarity import ivf_trained_topk, ivfpq_adc_topk
    from sparksent.streaming import ivf_centroid_row, route_to_cells
    from sparksent.tables import load_table

    from conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_000)
    )
    q = emb.filter(F.col("vec_id") < 1_000_010)
    assert ivf_trained_topk(emb, q, k=5, n_centroids=8).count() == 0
    assert ivfpq_adc_topk(emb, q, k=5, n_centroids=8).count() == 0
    crow = ivf_centroid_row(emb, n_centroids=8)
    assert route_to_cells(emb, crow).count() == 0


def test_image_phash_planted_structure(spark):
    """The variant image law plants known structure; the phash pipeline
    must recover ALL of it and nothing else at fixture scale:
    - variants 0-2 of each seed group are pixel-identical, so every
      within-group (v<3, v<3) pair MUST appear at hamming 0;
    - the corner-perturbed variant 3 yields near pairs (0 < h <= 3)
      for a measurable fraction of groups;
    - NO cross-group pair (the law is non-smooth by design; a smooth
      law would make every image 'mostly increasing' and collapse the
      banded index — measured 0 accidental pairs at 5k docs)."""
    from sparksent.ext.imagedup import PHASH_GROUP, image_phash_pairs
    from sparksent.tables import load_table

    from conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    n = docs.count()
    pairs = {(r.id_a, r.id_b): r.hamming for r in image_phash_pairs(docs).collect()}

    g = PHASH_GROUP
    expected_exact = {
        (s * g + a, s * g + b)
        for s in range(n // g)
        for a in range(g - 1)
        for b in range(a + 1, g - 1)
    }
    missing = [p for p in expected_exact if pairs.get(p) != 0]
    assert not missing, f"exact image dups missed: {missing[:5]}"

    near = [(a, b) for (a, b), h in pairs.items() if h > 0]
    assert len(near) >= 20  # planted perturbed variants surface
    assert all(a // g == b // g for a, b in near)  # near pairs stay in-group
    cross = [(a, b) for (a, b) in pairs if a // g != b // g]
    assert not cross, f"accidental cross-group pairs: {cross[:5]}"


def test_audio_fp_planted_structure(spark):
    """The variant clip law plants known structure; the audio
    fingerprint pipeline must recover ALL of it and nothing else at
    fixture scale: variants 0-2 of each seed group are
    sample-identical (every within-group pair at hamming 0); the
    +40-prefix variant 3 yields near pairs (0 < h <= 3) for a
    measurable fraction of groups; NO cross-group pair (the law is
    pseudo-random, so band words collide across seeds only at the
    2^-16 level and the exact Hamming filter kills every survivor).

    Runs at sf0.01 AND sf0.1: the 5,000-clip corpus is the regression
    fixture for the round-11 raw-sum bug — with SUM bin energies the
    gradient bits were substantially a function of the bin-SIZE
    pattern (which depends only on clip length), and ~8k accidental
    size-correlated cross-group pairs appeared at 5k clips that the
    500-clip fixture never showed; MEAN energies (the Haitsma-Kalker
    normalized form) eliminate them."""
    from sparksent.ext.audiodup import AFP_GROUP, audio_fp_pairs
    from sparksent.tables import load_table

    from conftest import SF_DIR

    for sf_dir in dict.fromkeys([SF_DIR, "/root/testdata/sf0.1"]):
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        n = docs.count()
        pairs = {
            (r.id_a, r.id_b): r.hamming for r in audio_fp_pairs(docs).collect()
        }

        g = AFP_GROUP
        expected_exact = {
            (s * g + a, s * g + b)
            for s in range(n // g)
            for a in range(g - 1)
            for b in range(a + 1, g - 1)
        }
        missing = [p for p in expected_exact if pairs.get(p) != 0]
        assert not missing, f"exact audio dups missed at {sf_dir}: {missing[:5]}"

        near = [(a, b) for (a, b), h in pairs.items() if h > 0]
        assert len(near) >= 20  # planted perturbed variants surface
        assert all(a // g == b // g for a, b in near)  # near stays in-group
        cross = [(a, b) for (a, b) in pairs if a // g != b // g]
        assert not cross, f"accidental cross-group pairs at {sf_dir}: {cross[:5]}"


def test_video_framehash_planted_structure(spark):
    """The variant clip law plants exact structure the video pipeline
    must recover completely: per seed group, variants 0-2 are
    byte-identical clips (pair agreement n_match == n_slots) and
    variant 3 differs in frame 0 ONLY (agreement exactly
    n_slots - 1, which always passes the half threshold since every
    clip has >= 2 slots) — so the pair set is EXACTLY 6 pairs per
    group, and the 60-bit content hash makes cross-group pairs a
    2^-60 event (zero tolerated).  Checked at sf0.01 and sf0.1."""
    from sparksent.ext.videodup import VFP_GROUP, video_framehash_pairs
    from sparksent.tables import load_table

    from conftest import SF_DIR

    for sf_dir in dict.fromkeys([SF_DIR, "/root/testdata/sf0.1"]):
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        n = docs.count()
        rows = video_framehash_pairs(docs).collect()
        g = VFP_GROUP
        got = {(r.id_a, r.id_b): (r.n_match, r.n_slots) for r in rows}
        assert len(got) == 6 * (n // g), sf_dir
        for (a, b), (m, k) in got.items():
            assert a // g == b // g, f"cross-group pair {(a, b)} at {sf_dir}"
            if a % g < g - 1 and b % g < g - 1:
                assert m == k, f"exact pair {(a, b)} not full-agreement"
            else:
                assert m == k - 1, f"near pair {(a, b)} wrong agreement"


def test_span_extents_reconcile_with_span_stats(spark):
    """dedup_span_extents and dedup_span_8gram are two views of the
    same duplicated-gram position set: every span is at least one gram
    wide (span_len >= w), spans within a doc are disjoint maximal runs
    (separated by at least one non-duplicated position), and per doc
    the spans' gram-position counts (span_len - w + 1 each) add up to
    span_dup_stats' n_dup_grams exactly."""
    from collections import defaultdict

    from sparksent.ext.dedup import SPAN_GRAM_W, span_dup_extents, span_dup_stats
    from sparksent.tables import load_table

    from conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    w = SPAN_GRAM_W
    spans = defaultdict(list)
    for r in span_dup_extents(docs, w).collect():
        spans[r.doc_id].append((r.span_start, r.span_len))
    n_dup = {
        r.doc_id: r.n_dup_grams for r in span_dup_stats(docs, w).collect()
    }
    assert spans, "fixture has verbatim dup spans"
    for doc, ss in spans.items():
        ss.sort()
        assert all(ln >= w for _, ln in ss), (doc, ss)
        # maximality: runs are separated by >= 1 non-dup gram position
        for (a0, al), (b0, _) in zip(ss, ss[1:]):
            assert b0 > (a0 + al - w) + 1, (doc, ss)
        assert sum(ln - w + 1 for _, ln in ss) == n_dup[doc], doc
    # docs with zero dup grams emit no span rows
    assert all(n == 0 for d, n in n_dup.items() if d not in spans)


def test_winnowing_guarantee_and_planted_structure(spark):
    """Winnowing's paper guarantees (Schleimer et al. 2003), pinned on
    a corpus with known structure:

    1. DETECTION: any two documents sharing a verbatim run of
       >= k + w - 1 words share at least one fingerprint (the shared
       run contains one FULL window of identical gram hashes; the
       rightmost-min of a window depends only on hashes INSIDE it, so
       both documents select the same gram) — planted as doc pairs
       sharing exactly a 7-word run inside otherwise-disjoint
       vocabulary, asserted at min_shared=1.
    2. DENSITY/COVERAGE: every window of w consecutive gram positions
       selects >= 1 fingerprint, so per document the first selected
       position is < w and no gap between consecutive selected
       positions exceeds w.
    3. NO FALSE PAIRS: documents with fully disjoint vocabulary share
       nothing.
    4. FULL COPIES: byte-identical documents share EVERY fingerprint
       hash, so they pair with n_shared = their fingerprint count.
    """
    from sparksent.ext.dedup import (
        WINNOW_K,
        WINNOW_W,
        winnowing_fingerprints,
        winnowing_pairs,
    )

    k, w = WINNOW_K, WINNOW_W

    def words(ns, n):
        return " ".join(f"{ns}w{(j * 7 + 3) % n}x{j}" for j in range(n))

    rows = []
    # 10 pairs, each sharing its OWN exactly-7-word run at different
    # offsets (a shared run across pairs would make cross-pair matches
    # genuine winnowing output, not false pairs)
    for i in range(10):
        run = " ".join(f"shared{i}q{j}" for j in range(k + w - 1))
        a = words(f"a{i}", 20) + " " + run + " " + words(f"b{i}", 15)
        b = words(f"c{i}", 5) + " " + run + " " + words(f"d{i}", 30)
        rows += [(1000 + 2 * i, a), (1000 + 2 * i + 1, b)]
    # 5 exact-copy pairs
    for i in range(5):
        t = words(f"e{i}", 40)
        rows += [(2000 + 2 * i, t), (2000 + 2 * i + 1, t)]
    # 20 unrelated docs (disjoint vocabulary)
    rows += [(3000 + i, words(f"u{i}", 35)) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # (1) detection guarantee at min_shared=1 + (3) no false pairs
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in winnowing_pairs(docs, min_shared=1).collect()
    }
    for i in range(10):
        assert (1000 + 2 * i, 1000 + 2 * i + 1) in pairs, f"run pair {i} missed"
    for a, b in pairs:
        assert (a // 1000, a // 2) == (b // 1000, b // 2), f"false pair {(a, b)}"

    # (4) exact copies share every fingerprint hash
    fps = winnowing_fingerprints(docs).collect()
    by_doc: dict[int, set] = {}
    pos_by_doc: dict[int, list] = {}
    for r in fps:
        by_doc.setdefault(r.id, set()).add(r.gh)
        pos_by_doc.setdefault(r.id, []).append(r.fp_pos)
    for i in range(5):
        a, b = 2000 + 2 * i, 2000 + 2 * i + 1
        assert by_doc[a] == by_doc[b]
        assert pairs[(a, b)] == len(by_doc[a])

    # (2) density: first selection < w, max gap <= w
    for doc_id, ps in pos_by_doc.items():
        ps = sorted(ps)
        assert ps[0] < w, f"doc {doc_id}: first fingerprint at {ps[0]}"
        gaps = [b - a for a, b in zip(ps, ps[1:])]
        assert all(g <= w for g in gaps), f"doc {doc_id}: gap > w"


def test_sq8_quantization_laws_and_recall(spark):
    """SQ8's capability claims:

    - QUANTIZATION LAW: every dequantized component lies within one
      quantization step of its input (|xh - x| <= ceil(range/levels)),
      codes span [0, levels], and the x = min / x = max edges hit code
      0 / levels exactly.
    - RECALL: on the fixture corpus the integer-reconstruction ranking
      plus exact top-40 re-rank recovers the ENTIRE exact top-5 set
      (measured 1.0 — 255 levels on 64 dims leaves quantization error
      far below inter-neighbor distance gaps at fixture scale; floor
      asserted at 0.95 for corpus drift).
    """
    from pyspark.sql import functions as F

    from sparksent.ext.similarity import (
        SQ_LEVELS,
        brute_force_topk,
        pq_scaled,
        sq8_dequant,
        sq8_refine_topk,
    )
    from sparksent.tables import load_table

    from conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    xs = pq_scaled(emb).select("id", F.posexplode("v").alias("pos", "x"))
    xh = sq8_dequant(emb).select("id", F.posexplode("xh").alias("pos", "xh"))
    rng = xs.groupBy("pos").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    err = (
        xs.join(xh, ["id", "pos"])
        .join(rng, "pos")
        .select(
            (F.abs(F.col("xh") - F.col("x"))
             - (F.ceil((F.col("mx") - F.col("mn")) / F.lit(SQ_LEVELS)))).alias("over"),
            ((F.col("x") == F.col("mn")) & (F.col("xh") != F.col("mn"))).alias("bad_min"),
            ((F.col("x") == F.col("mx")) & (F.col("xh") != F.col("mx"))).alias("bad_max"),
        )
        .agg(
            F.max("over").alias("worst"),
            F.sum(F.col("bad_min").cast("int")).alias("n_bad_min"),
            F.sum(F.col("bad_max").cast("int")).alias("n_bad_max"),
        )
        .first()
    )
    assert err.worst <= 0, f"dequant error exceeds one step by {err.worst}"
    assert err.n_bad_min == 0 and err.n_bad_max == 0, "min/max edges must be exact"

    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id) for r in brute_force_topk(emb, q).collect()
    }
    got = {
        (r.query_id, r.neighbor_id) for r in sq8_refine_topk(emb, q).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.95, f"SQ8 recall {recall}"


def test_span_rewrite_reconciles_with_stats_and_extents(spark):
    """The three ExactSubstr family members must describe the SAME
    duplicated text: per document, the words the rewrite cut
    (n_words - n_kept) equal the union length of the maximal dup-span
    extents — clipped to the document for short docs, whose whole-text
    gram pads the window (span_len = w > n_words) — and n_dup_grams > 0
    (stats) iff the rewrite cut anything iff extents exist.  kept_text
    itself must re-split to exactly n_kept words."""
    from sparksent.ext.dedup import (
        span_dup_extents,
        span_dup_rewrite,
        span_dup_stats,
    )
    from sparksent.tables import load_table

    from conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    rw = {r.doc_id: r for r in span_dup_rewrite(docs).collect()}
    ext: dict[int, int] = {}
    for r in span_dup_extents(docs).collect():
        ext[r.doc_id] = ext.get(r.doc_id, 0) + r.span_len
    st = {r.doc_id: r for r in span_dup_stats(docs).collect()}

    assert set(rw) >= set(ext)
    for doc_id, r in rw.items():
        cut = r.n_words - r.n_kept
        want = min(ext.get(doc_id, 0), r.n_words)
        assert cut == want, (doc_id, cut, want)
        assert (cut > 0) == (st[doc_id].n_dup_grams > 0) == (doc_id in ext)
        got_words = len(r.kept_text.split(" ")) if r.kept_text else 0
        assert got_words == r.n_kept, (doc_id, got_words, r.n_kept)


def test_kcore_fixpoint_and_monotonicity(spark):
    """k-core invariants on the registered support->=2 co-purchase
    graph: (1) FIXPOINT — every surviving node's within-core degree is
    >= k, i.e. one more peel round is a no-op, so the bounded peel
    equals the true k-core at fixture scale; (2) the peel is
    NON-TRIVIAL here (nodes are actually removed — a graph where
    nothing peels wouldn't exercise the operator); (3) MONOTONICITY —
    the 3-core's nodes are a subset of the 2-core's."""
    from pyspark.sql import functions as F

    from sparksent.graph import kcore
    from sparksent.tables import load_table

    from conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey")
    edges = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= 2)
        .select("src", "dst")
        .localCheckpoint()
    )
    n_base = (
        edges.select(F.col("src").alias("n"))
        .unionAll(edges.select(F.col("dst").alias("n")))
        .distinct()
        .count()
    )
    core2 = {r.node: r.core_deg for r in kcore(edges, k=2).collect()}
    assert core2 and min(core2.values()) >= 2  # fixpoint: min degree >= k
    assert len(core2) < n_base  # peeling removed something
    core3 = {r.node for r in kcore(edges, k=3).collect()}
    assert core3 <= set(core2)


def test_epoch_shuffle_permutation_and_batch_law(spark):
    """Epoch-shuffle invariants: ranks are exactly the permutation
    1..n; every micro-batch has exactly EPOCH_BATCH docs except the
    last partial one; the shuffle is seeded-deterministic (two
    evaluations agree row-for-row); and the order is genuinely
    shuffled (not the identity — the hash order must decorrelate from
    ingest order)."""
    from sparksent.queries_ext import EPOCH_BATCH
    from sparksent.registry import REGISTRY

    from conftest import SF_DIR

    fn = REGISTRY["epoch_shuffle_batches"].fn
    rows = {r.doc_id: (r.shuffle_rank, r.batch_id) for r in fn(spark, SF_DIR).collect()}
    n = len(rows)
    ranks = sorted(r for r, _b in rows.values())
    assert ranks == list(range(1, n + 1))  # exact permutation
    sizes: dict[int, int] = {}
    for _r, b in rows.values():
        sizes[b] = sizes.get(b, 0) + 1
    last = max(sizes)
    assert all(sz == EPOCH_BATCH for b, sz in sizes.items() if b != last)
    assert 1 <= sizes[last] <= EPOCH_BATCH
    again = {r.doc_id: (r.shuffle_rank, r.batch_id) for r in fn(spark, SF_DIR).collect()}
    assert again == rows  # seeded determinism
    identity = sum(1 for d, (r, _b) in rows.items() if r == sorted(rows).index(d) + 1)
    assert identity < n / 10  # the order is actually shuffled


def test_semantic_decontaminate_planted_recall(spark):
    """Semantic decontamination on a corpus with planted structure:
    five benchmark vectors (%97 == 0) each have an IDENTICAL train twin
    — every twin MUST be flagged against its own benchmark at sim 1.0
    (identical vectors share every LSH bucket, so multi-probe recall is
    structural, not probabilistic) — while 50 train vectors hot on
    disjoint dimensions (pairwise cosine 0 to everything) must not be
    flagged.  Also the output's structural law on the real fixture:
    only train ids appear, only benchmark ids match, every sim_r >=
    the threshold."""
    from sparksent.ext.similarity import (
        DECON_SEM_THRESHOLD,
        semantic_decontaminate,
    )
    from sparksent.registry import queries

    from conftest import SF_DIR

    def vec(hot):
        v = [0.0] * 64
        for d, x in hot:
            v[d] = float(x)
        return v

    rows = []
    for g in range(5):
        bench_id = 97 * (g + 1)
        rows.append((bench_id, vec([(2 * g, 3), (2 * g + 1, 4)])))
        rows.append((bench_id + 1, vec([(2 * g, 3), (2 * g + 1, 4)])))
    unrelated = []
    d = 10
    i = 1000
    while len(unrelated) < 50:
        if i % 97 != 0:
            unrelated.append((i, vec([(d, 2)])))
            d += 1
        i += 1
    rows += unrelated
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: (r.bench_id, r.sim_r) for r in semantic_decontaminate(emb).collect()}
    for g in range(5):
        bench_id = 97 * (g + 1)
        assert got.get(bench_id + 1) == (bench_id, 1.0), (g, got.get(bench_id + 1))
    assert set(got) == {97 * (g + 1) + 1 for g in range(5)}  # nothing else flagged

    out = queries()["decontaminate_semantic"](spark, SF_DIR).collect()
    assert all(r.vec_id % 97 != 0 and r.bench_id % 97 == 0 for r in out)
    assert all(r.sim_r >= DECON_SEM_THRESHOLD for r in out)


def test_kmv_intersection_overlap_laws(spark):
    """KMV/theta laws on a PARTIAL-overlap corpus (the fixture's users
    all do every event type, so the fixture exercises only the
    full-overlap regime): users 0..99 view, 50..149 purchase — exact
    intersection 50, union 150.  Sketch estimates (k=64) must land
    within 25% of exact on every quantity (k=64 gives ~12.7% standard
    error; the bound is ~2 sigma and the values are deterministic),
    the estimates must satisfy inclusion-exclusion sanity
    (union <= a + b, inter >= 0), and the exact-count fallback must be
    EXACT when a set is smaller than k (pinned on a 15-user slice)."""
    from pyspark.sql import functions as F

    from sparksent.ext.sketches import kmv_intersection

    rows = [(u, "view") for u in range(100)] + [
        (u, "purchase") for u in range(50, 150)
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string")
    r = kmv_intersection(ev).first()
    assert (r.n_a_exact, r.n_b_exact, r.n_union_exact, r.n_inter_exact) == (
        100, 100, 150, 50,
    )
    for est, exact in [
        (r.a_est, 100), (r.b_est, 100), (r.union_est, 150), (r.inter_est, 50),
    ]:
        assert abs(est - exact) / exact < 0.25, (est, exact)
    assert r.union_est <= r.a_est + r.b_est
    assert r.inter_est >= 0

    # n < k -> the sketch IS the set: 15 viewers, ZERO purchasers in
    # this slice (purchase ids start at 50), so the fallback must be
    # exact on both the small-set and the empty-set path
    small = ev.filter(F.col("user_id") < 15)
    s = kmv_intersection(small).first()
    assert (s.a_est, s.b_est, s.union_est, s.inter_est) == (15.0, 0.0, 15.0, 0.0)


def test_k_anonymity_partition_law(spark):
    """k-anonymity audit laws: every reported class is genuinely
    smaller than k; the report is exactly the under-k side of the full
    equivalence-class partition (risky + safe class members == corpus
    size, recomputed independently); reid_risk_ppm is the exact
    integer floordiv of 1e6 by the class size."""
    from pyspark.sql import functions as F

    from sparksent.ext.textclean import K_ANON, K_ANON_LEN_BUCKET, k_anonymity_audit
    from sparksent.tables import load_table

    from conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    risky = k_anonymity_audit(docs).collect()
    assert risky and all(r.class_size < K_ANON for r in risky)
    assert all(r.reid_risk_ppm == 1_000_000 // r.class_size for r in risky)
    full = (
        docs.groupBy(
            "lang", "source",
            F.expr(f"CAST(n_chars AS BIGINT) div {K_ANON_LEN_BUCKET}").alias("lb"),
        )
        .count()
        .collect()
    )
    n_risky_docs = sum(r.class_size for r in risky)
    assert n_risky_docs == sum(r["count"] for r in full if r["count"] < K_ANON)
    assert n_risky_docs + sum(
        r["count"] for r in full if r["count"] >= K_ANON
    ) == docs.count()


def test_theilsen_robustness_and_median_law(spark):
    """Theil-Sen laws on synthetic users (daily grain, value in units
    so y-milli = value * 1000):

    - user 1: perfect line y = 2.5/day over 9 days -> ts_slope exactly
      2500.0 (every pairwise slope identical);
    - user 2: the SAME line with day 4 corrupted by +1000 -> ts_slope
      STILL 2500.0 (only 8/36 pairs touch the outlier; the median is
      untouched — the robustness OLS lacks);
    - user 3: days [0..3], y-milli [0,1,10,11] -> six pairwise slopes
      sorted [1,1,3.666667,5,5,9]; the LOWER median (rank (6+1) div 2
      = 3) is 3.666667 — pins the exact-element (never interpolated)
      median definition on an even pair count."""
    import datetime as dt

    from sparksent.queries_relational import theilsen_slope

    def ts(day):
        return dt.datetime(2024, 1, 1) + dt.timedelta(days=day)

    rows = []
    for day in range(9):
        rows.append((1, ts(day), 2.5 * day))
        bad = 1000.0 if day == 4 else 0.0
        rows.append((2, ts(day), 2.5 * day + bad))
    for day, ym in [(0, 0), (1, 1), (2, 10), (3, 11)]:
        rows.append((3, ts(day), ym / 1000.0))
    # TIMESTAMP (not NTZ): the loader normalizes events.ts to TIMESTAMP
    # carrying the wall clock, and unix_micros rejects NTZ input
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {r.user_id: (r.n_pairs, r.ts_slope) for r in theilsen_slope(ev).collect()}
    assert got[1] == (36, 2500.0)
    assert got[2] == (36, 2500.0)  # one corrupted day cannot move the median
    assert got[3] == (6, 3.666667)


def test_cc_long_chain_logarithmic_rounds(spark):
    """VERDICT r11 ask #8, upgraded: a planted 10,000-hop chain — the
    adversarial diameter case where plain min-label propagation would
    need 10,000 rounds and exhaust any sane bound.  The
    pointer-shortcut round (cc_send_min: label := label(label)) covers
    doubling hop distances, so the chain converges inside the DEFAULT
    max_iter=20 (~log2(10000) + confirm) with every vertex labelled 0.
    This replaces the documented 'raise on long chains' contract with
    actual convergence; large-star/small-star remains the documented
    escalation beyond ~2^20 hops."""
    from sparksent.graph import connected_components

    n = 10_000
    verts = spark.range(n).withColumnRenamed("id", "id")
    edges = (
        spark.range(n - 1)
        .selectExpr("id AS src", "id + 1 AS dst")
    )
    got = connected_components(verts, edges, max_iter=20)
    import pyspark.sql.functions as F

    agg = got.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("label") == 0, 1).otherwise(0)).alias("n_zero"),
    ).collect()[0]
    assert agg.n == n and agg.n_zero == n


def test_domain_quota_cap_exact_and_deterministic(spark):
    """sample_domain_quota's contract: (a) the cap is enforced exactly
    — no source exceeds ``cap`` and a source with fewer docs keeps all
    of them; (b) the md5 lottery makes membership a pure function of
    the data — the same frame REPARTITIONED arbitrarily yields the
    identical sample (the property an RNG sampler loses)."""
    from pyspark.sql import functions as F

    from sparksent.ext.curation import sample_domain_quota

    rows = [(i, f"host{i % 3}") for i in range(60)] + [(1000, "rare")]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    got = sample_domain_quota(docs, cap=7).collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r.source, set()).add(r.doc_id)
    assert all(len(v) == 7 for s, v in by_src.items() if s != "rare")
    assert by_src["rare"] == {1000}  # under-cap source kept whole
    assert {r.rk for r in got if r.source == "host0"} == set(range(1, 8))
    reparted = sample_domain_quota(docs.repartition(13, "doc_id"), cap=7).collect()
    assert {(r.doc_id, r.source, r.rk) for r in reparted} == {
        (r.doc_id, r.source, r.rk) for r in got
    }


def test_cc_round_monotone_and_sum_probe_exact(spark):
    """The joinless convergence probe's premise, pinned directly:
    on a seeded pseudo-random graph, every cc_send_min round leaves
    every vertex's label <= its previous label (the min-fold includes
    the own label; the shortcut substitutes label(u) <= u), and the
    DECIMAL label sum is unchanged in a round IFF no vertex's label
    changed — the equivalence connected_components' numeric probe
    relies on."""
    from pyspark.sql import functions as F

    from sparksent.graph import cc_label_sum, cc_send_min

    n = 400
    # deterministic scraggly graph: chains + long-range chords, ids
    # deliberately NOT aligned with adjacency (the shortcut's hard case)
    edges = [(i, (i * 137 + 31) % n) for i in range(n)] + [
        (i, i + 1) for i in range(0, n - 1, 3)
    ]
    e_df = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "src long, dst long"
    )
    e = (
        e_df.union(e_df.selectExpr("dst AS src", "src AS dst"))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        spark.range(n)
        .select(F.col("id"), F.col("id").alias("label"))
        .localCheckpoint()
    )
    prev = {r.id: r.label for r in labels.collect()}
    prev_sum = cc_label_sum(labels)
    for _ in range(12):
        labels = cc_send_min(e, labels).localCheckpoint()
        cur = {r.id: r.label for r in labels.collect()}
        assert set(cur) == set(prev)  # no vertex gained or lost
        assert all(cur[v] <= prev[v] for v in cur)  # monotone
        s = cc_label_sum(labels)
        changed = sum(1 for v in cur if cur[v] != prev[v])
        assert (s == prev_sum) == (changed == 0)  # the probe equivalence
        if changed == 0:
            break
        prev, prev_sum = cur, s
    assert changed == 0  # converged inside the bound
    assert set(cur.values()) == {0}  # the chord law makes one component


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(-50, 50)),
        min_size=1,
        max_size=60,
    )
)
def test_group_rank_machinery_fuzz(spark, rows):
    """Fuzz the round-13 per-group machinery against a pure-pandas
    model on random (group, weight) frames — duplicate weights (broken
    only by the unique id), empty groups absent, single-row groups,
    negative weights for the prefix sums, and more partitions than
    rows all occur across examples."""
    from sparksent.ext.ranks import with_group_prefix_sums, with_group_ranks

    data = [(i, g, w) for i, (g, w) in enumerate(rows)]
    df = spark.createDataFrame(data, "rid long, grp long, w long")

    got_rank = {
        r.rid: r.rank
        for r in with_group_ranks(
            df, ["grp"], ["w", "rid"], num_partitions=5
        ).collect()
    }
    got_ps = {
        r.rid: r.ps
        for r in with_group_prefix_sums(
            df, ["grp"], ["w", "rid"], "w", "ps", num_partitions=5
        ).collect()
    }
    # pure-python model
    by_grp: dict[int, list[tuple[int, int]]] = {}
    for rid, g, w in data:
        by_grp.setdefault(g, []).append((w, rid))
    want_rank, want_ps = {}, {}
    for g, items in by_grp.items():
        run = 0
        for k, (w, rid) in enumerate(sorted(items)):
            want_rank[rid] = k + 1
            want_ps[rid] = run
            run += w
    assert got_rank == want_rank
    assert got_ps == want_ps


def test_bpe_unicode_segmentation_cross_engine(spark, ducks):
    """Spark's split(word, '') and DuckDB's string_split(word, '')
    must segment NON-ASCII identically for the BPE family's oracles to
    hold on real multilingual corpora (the fixtures are ASCII, so the
    registry gate alone would not catch a divergence): accented latin,
    CJK, combining-free emoji, and mixed scripts — merges AND encode
    counts must agree exactly."""
    import pandas as pd

    from sparksent.ext import bpe

    docs = [
        (0, "héllo wörld héllo"),
        (1, "日本語 テスト 日本語"),
        (2, "naïve café naïve café"),
        (3, "emoji 🙂🙂 emoji 🙂"),
        (4, "mixé ascii mixé"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    con = ducks.cursor()
    con.register("uni_docs_pd", pd.DataFrame(docs, columns=["doc_id", "text"]))
    con.execute("CREATE OR REPLACE VIEW uni_docs AS SELECT * FROM uni_docs_pd")
    got_m = sorted(map(tuple, bpe.learn_merges(df).collect()))
    want_m = sorted(
        map(tuple, con.execute(bpe.merges_sql(table="uni_docs")).fetchall())
    )
    assert got_m == want_m
    got_e = sorted(map(tuple, bpe.encode_token_counts(df).collect()))
    want_e = sorted(
        map(tuple, con.execute(bpe.encode_sql(table="uni_docs")).fetchall())
    )
    assert got_e == want_e


# --- URL canonicalization cross-engine fuzz (round 14) -------------------

_url_host_label = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-",
    min_size=1,
    max_size=8,
)
_url_path_seg = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789._-~",
    min_size=0,
    max_size=6,
)


@st.composite
def _hostile_url(draw):
    """A URL assembled from the hostile-feature space the canonicalizer
    claims to handle: optional mixed-case scheme / scheme-relative /
    bare forms, optional userinfo, optional www + trailing host dot,
    mixed-case host labels, optional port (default and non-default),
    paths with repeated trailing slashes, optional query and
    fragment."""
    scheme = draw(st.sampled_from(
        ["http://", "https://", "HTTP://", "HTTPS://", "hTtPs://", "//", ""]
    ))
    user = draw(st.sampled_from(["", "u@", "user:pw@"]))
    www = draw(st.sampled_from(["", "www.", "WWW."]))
    labels = draw(st.lists(_url_host_label, min_size=1, max_size=3))
    host = ".".join(labels)
    trail_dot = draw(st.sampled_from(["", "."]))
    port = draw(st.sampled_from(["", ":80", ":443", ":8080", ":1"]))
    segs = draw(st.lists(_url_path_seg, min_size=0, max_size=3))
    path = "".join("/" + s for s in segs)
    slashes = draw(st.sampled_from(["", "/", "//", "///"]))
    query = draw(st.sampled_from([
        "", "?a=1", "?b=2&a=1", "?",
        # tracker-bearing shapes (round 15): leading, middle, trailing,
        # all-tracker, empty-valued, and the NOT-stripped bare form
        "?utm_source=x&a=1", "?a=1&utm_campaign=y&b=2", "?a=1&gclid=z",
        "?utm_a=1&utm_b=2", "?fbclid=&a=1", "?a=1&utm_x",
        # mixed-case tracker names (round 16: the (?i) alternation) —
        # stripped like their lowercase forms; values keep their case
        "?UTM_SOURCE=x&a=1", "?a=1&Gclid=Z", "?FbClId=&UTM_x=1",
    ]))
    frag = draw(st.sampled_from(["", "#", "#frag", "#a/b?c"]))
    return f"{scheme}{user}{www}{host}{trail_dot}{port}{path}{slashes}{query}{frag}"


@settings(max_examples=5, deadline=None)
@given(st.lists(_hostile_url(), min_size=1, max_size=40))
def test_url_canonicalize_cross_engine_fuzz(spark, urls):
    """The canonicalizer's cross-engine contract, fuzzed: for ANY URL
    from the hostile-feature grammar (not just the six fixture
    shapes), Spark's url_parts/canonical_url and the SQL mirror's
    parts chain must produce IDENTICAL (curl, host, port, path) —
    the anchored backslash-free patterns are supposed to make
    replace-ALL (Spark) and replace-FIRST (DuckDB) agree, and this is
    the test that earns that 'supposed to'.  Also pins two semantic
    invariants on every output: no userinfo/fragment survives, and a
    canonical URL re-canonicalizes to itself (idempotence)."""
    import duckdb

    from sparksent.ext import urls as U

    rows = [(i, u) for i, u in enumerate(urls)]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    p = U.url_parts(F.col("url"))
    got = {
        r.doc_id: (r.curl, r.host, r.port, r.path)
        for r in df.select(
            "doc_id",
            U.canonical_url(F.col("url")).alias("curl"),
            p["host"].alias("host"),
            p["port"].alias("port"),
            p["path"].alias("path"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, url VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sql = f"""
    WITH u AS (SELECT doc_id, NULL AS lang, NULL AS n_chars, url FROM t),
    {U._parts_sql()}
    SELECT doc_id,
           scheme || '://' || host ||
           CASE WHEN port = '' THEN '' ELSE ':' || port END ||
           path ||
           CASE WHEN qstr = '' THEN '' ELSE '?' || qstr END AS curl,
           host, port, path
    FROM parts
    """
    want = {
        int(r[0]): (r[1], r[2], r[3], r[4])
        for r in con.execute(sql).fetchall()
    }
    assert got == want
    # semantic invariants + idempotence
    curls = [v[0] for v in got.values()]
    for c in curls:
        assert "@" not in c and "#" not in c
    df2 = spark.createDataFrame(
        [(i, c) for i, c in enumerate(curls)], "doc_id long, url string"
    )
    again = {
        r.doc_id: r.curl
        for r in df2.select(
            "doc_id", U.canonical_url(F.col("url")).alias("curl")
        ).collect()
    }
    assert again == {i: c for i, c in enumerate(curls)}


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=12)),
            st.sampled_from(["purchase", "error", "view", None]),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_setop_cohorts_flag_rewrite_equals_literal_setops(spark, rows):
    """The round-14 setop_user_cohorts rewrite (per-user flag
    aggregate) must equal the literal INTERSECT/EXCEPT form on ANY
    frame — including NULL user_ids (SQL set ops group NULLs as equal,
    and so does groupBy) and NULL event_types (excluded by both
    forms' predicates) — not just the NULL-free fixture the registry
    oracle sees."""
    df = spark.createDataFrame(rows, "user_id int, event_type string")
    p = df.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    e = df.filter(F.col("event_type") == "error").select("user_id").distinct()
    want_and = p.intersect(e).count()
    want_not = p.subtract(e).count()

    flags = (
        df.select(
            "user_id",
            (F.col("event_type") == "purchase").alias("ip"),
            (F.col("event_type") == "error").alias("ie"),
        )
        .groupBy("user_id")
        .agg(F.max("ip").alias("p"), F.max("ie").alias("e"))
    )
    counts = flags.filter(F.col("p")).agg(
        F.coalesce(F.sum(F.when(F.col("e"), 1).otherwise(0)), F.lit(0)).alias(
            "and_n"
        ),
        F.coalesce(F.sum(F.when(F.col("e"), 0).otherwise(1)), F.lit(0)).alias(
            "not_n"
        ),
    ).collect()[0]
    # exact equality, no `or 0` masking: the production coalesce must make
    # an empty purchase cohort report 0, matching INTERSECT/EXCEPT counts.
    assert counts.and_n == want_and
    assert counts.not_n == want_not


# --- WARC record-structure cross-engine fuzz (round 14) ------------------

_warc_payload = st.text(
    alphabet=st.characters(
        blacklist_characters="\n\r'", min_codepoint=32, max_codepoint=0x7E
    ),
    min_size=0,
    max_size=60,
)
_warc_uri = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789:/.?#@-_",
    min_size=0,
    max_size=30,
)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["response", "request", "metadata", "x-custom"]),
            _warc_uri,
            _warc_payload,
            st.integers(min_value=0, max_value=200),
        ),
        min_size=1,
        max_size=24,
    )
)
def test_warc_parse_cross_engine_fuzz(spark, recs):
    """The WARC record-structure layer, fuzzed: for ANY single-line
    payloads (including ones containing ':', '#', header-like text,
    or nothing at all), arbitrary URIs, and arbitrary declared
    lengths, Spark's split+extract and the DuckDB mirror must produce
    identical typed rows — and the parse must be LOSSLESS: every
    record round-trips its id, type, uri, declared length, and actual
    payload length.  (A payload can never smuggle a record boundary:
    the delimiter contains a newline and payloads are single-line by
    the format's own framing.)"""
    import duckdb

    from sparksent.ext import warc as W

    rows = [
        (i, wtype, uri, payload, clen)
        for i, (wtype, uri, payload, clen) in enumerate(recs)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, wtype string, uri string, payload string, clen long"
    )
    rec = W.warc_record(
        F.col("doc_id"), F.col("wtype"), F.col("uri"), F.col("clen"),
        F.col("payload"),
    )
    blobs = (
        df.select(
            (F.col("doc_id") - F.col("doc_id") % 4).alias("bkey"),
            F.struct(F.col("doc_id").alias("i"), rec.alias("r")).alias("sr"),
        )
        .groupBy("bkey")
        .agg(
            F.concat_ws(
                "", F.transform(F.sort_array(F.collect_list("sr")), lambda s: s.r)
            ).alias("blob")
        )
        .select(F.expr("bkey div 4").cast("long").alias("blob_id"), "blob")
    )
    got = {
        (r.blob_id, r.rec_idx, r.rec_id, r.warc_type, r.target_uri,
         r.content_length, r.payload_chars, r.length_ok)
        for r in W.warc_parse_records(blobs).collect()
    }
    # losslessness against the generating rows
    by_id = {r.rec_id: r for r in W.warc_parse_records(blobs).collect()}
    assert len(by_id) == len(rows)
    for i, wtype, uri, payload, clen in rows:
        r = by_id[i]
        assert (r.warc_type, r.target_uri, r.content_length,
                r.payload_chars) == (wtype, uri, clen, len(payload))
        assert r.length_ok == (clen == len(payload))
    # cross-engine: identical blob law in DuckDB through the mirror's
    # split+extract tail
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, wtype VARCHAR, uri VARCHAR,"
                " payload VARCHAR, clen BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?, ?)", rows)
    sql = W.warc_parse_records_sql("t")
    # swap the fixture law for the generating rows' law: same record
    # string, packed 4 per blob
    import re as _re

    law = """u AS (SELECT doc_id FROM t),
    recs AS (
      SELECT (t.doc_id - t.doc_id % 4) AS bkey, t.doc_id,
             'WARC/1.0' || chr(10)
             || 'WARC-Record-ID: ' || t.doc_id || chr(10)
             || 'WARC-Type: ' || t.wtype || chr(10)
             || 'WARC-Target-URI: ' || t.uri || chr(10)
             || 'Content-Length: ' || t.clen || chr(10)
             || chr(10) || t.payload || chr(10) || chr(10) AS rec
      FROM t
    ),
    blobs AS (
      SELECT (bkey // 4)::BIGINT AS blob_id,
             string_agg(rec, '' ORDER BY doc_id) AS blob
      FROM recs GROUP BY bkey
    )"""
    i0 = sql.index("WITH ") + 5
    i1 = sql.index(",\n    split AS")
    sql = sql[:i0] + law + sql[i1:]
    want = {
        (int(r[0]), int(r[1]), int(r[2]), r[3], r[4], int(r[5]), int(r[6]),
         bool(r[7]))
        for r in con.execute(sql).fetchall()
    }
    assert got == want


# --- HTML extraction cross-engine fuzz (round 15) -------------------------

_html_word = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    "&;'\"._-",
    min_size=1,
    max_size=10,
)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(_html_word, min_size=0, max_size=30).map(" ".join),
        min_size=1,
        max_size=25,
    )
)
def test_html_extract_cross_engine_fuzz(spark, texts):
    """The extractor's cross-engine contract fuzzed over ARBITRARY
    document text (not just the word-only fixture corpus): random
    word soups including entity-like substrings ('&amp;' inside the
    TEXT itself must decode identically in both engines), quotes and
    semicolons.  Spark's html_extract_text over the fixture-law pages
    and the DuckDB mirror must produce IDENTICAL
    (extracted_text, n_blocks, n_kept, n_words_kept) for every
    document — the law + pipeline share their pattern strings, and
    this is the test that the global-replace ('g') and split/window
    mechanics agree beyond the fixture."""
    import duckdb
    import pandas as pd

    from sparksent.ext import html as H

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.extracted_text, r.n_blocks, r.n_kept, r.n_words_kept)
        for r in H.html_extract_text(H.with_html_pages(df)).collect()
    }
    con = duckdb.connect()
    con.register("fuzz_docs_pd", pd.DataFrame(rows, columns=["doc_id", "text"]))
    con.execute("CREATE VIEW fuzz_docs AS SELECT * FROM fuzz_docs_pd")
    want = {
        int(r[0]): (r[1], int(r[2]), int(r[3]), int(r[4]))
        for r in con.execute(H.html_extract_text_sql("fuzz_docs")).fetchall()
    }
    assert got == want


# --- robots.txt parse cross-engine fuzz (round 15) -------------------------

_robots_path = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789/_-.", min_size=1, max_size=12
)
_robots_agent = st.sampled_from(["*", "badbot", "gptbot", "crawler-x"])


@st.composite
def _robots_file(draw):
    """A robots.txt assembled from the grammar the parser claims to
    handle: comment/blank lines anywhere, 1-3 User-agent groups each
    with 0-3 Disallow/Allow lines, optional pre-group directives
    (group 0), optional Sitemap lines between or after groups."""
    lines = []
    if draw(st.booleans()):
        lines.append("# " + draw(_robots_path))
    if draw(st.booleans()):
        lines.append("Disallow: /" + draw(_robots_path))  # group 0
    for _ in range(draw(st.integers(min_value=1, max_value=3))):
        lines.append("")
        lines.append("User-agent: " + draw(_robots_agent))
        for _ in range(draw(st.integers(min_value=0, max_value=3))):
            d = draw(st.sampled_from(["Disallow", "Allow"]))
            lines.append(f"{d}: /" + draw(_robots_path))
        if draw(st.booleans()):
            lines.append("# mid comment")
        if draw(st.booleans()):
            lines.append("Sitemap: https://h.example/" + draw(_robots_path))
    return "\n".join(lines) + "\n"


@settings(max_examples=5, deadline=None)
@given(st.lists(_robots_file(), min_size=1, max_size=8))
def test_robots_parse_cross_engine_fuzz(spark, files):
    """The robots parser's cross-engine contract on ARBITRARY files
    from its grammar (not just the fixture law): identical
    (host, line_no, group_id, agent, directive, value) rows from
    Spark's window form and the DuckDB mirror — including pre-group
    directives (group 0, agent ''), multiple groups, interleaved
    comments, and Sitemap lines inheriting their lexical group."""
    import duckdb
    import pandas as pd

    from sparksent.ext import urls as U

    rows = [(f"h{i}.example", t) for i, t in enumerate(files)]
    df = spark.createDataFrame(rows, "host string, robots string")
    got = sorted(
        (r.host, r.line_no, r.group_id, r.agent, r.directive, r.value)
        for r in U.robots_txt_parse(df).collect()
    )
    con = duckdb.connect()
    con.register("rfz_pd", pd.DataFrame(rows, columns=["host", "robots"]))
    con.execute("CREATE VIEW rfz AS SELECT * FROM rfz_pd")
    # reuse the mirror's parse chain over the fuzz frame instead of the law
    sql = U.robots_txt_parse_sql("documents")
    law_start = sql.index("r AS (")
    law_end = sql.index("lines AS (")
    sql = sql[:law_start] + "r AS (SELECT host, robots FROM rfz),\n    " + sql[law_end:]
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == want
