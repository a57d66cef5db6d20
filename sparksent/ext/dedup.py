"""Document deduplication operators (exact and near-dup).

Four independent strategies, each a standard technique from the public
literature (Broder's MinHash resemblance estimation; Charikar's SimHash;
shingle-based Jaccard), all expressed as declarative DataFrame plans:

- exact_dedup:       hash-groupBy on md5(text) — one shuffle on the
                     fingerprint, the canonical 100 TB exact-dedup shape.
- minhash_lsh_pairs: shingle -> 16 minhashes -> 4 bands of 4 -> band
                     bucket self-join -> signature-similarity estimate.
                     Candidate generation is the band join; nothing
                     pairwise happens outside shared buckets.
- simhash_pairs:     32-bit simhash over token counts; candidate pairs
                     share >=1 of 4 signature bytes (pigeonhole: hamming
                     distance <=3 cannot change all four bytes), then
                     exact hamming filter via bit_count(xor).
- ngram_jaccard_pairs: shingle inverted index -> per-pair intersection
                     counts (an index self-join on the shingle, see
                     _pair_intersections) -> exact Jaccard >= threshold,
                     with or without a df cap.

Scale notes: every strategy shuffles on a *bucket key* (fingerprint,
band signature, byte value, shingle) so the pairwise stage only sees
collision groups. Skewed buckets (a very common shingle) are the known
hazard of the inverted-index form: one stop-shingle with occurrence
count D makes a D^2 join partition. ``ngram_jaccard_pairs(max_df=...)``
implements the escalation — shingles above the document-frequency cap
are dropped BEFORE the join (an anti-join against the tiny hot set),
and set sizes are computed post-filter so the Jaccard over the capped
shingle universe stays internally exact. The minhash band join has no
equivalent hazard: band signatures are hashes (near-uniform), so a hot
band bucket means genuinely identical content — AQE skew splitting
covers the residual case.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..tables import rebalance
from .hashing import (
    MERSENNE31 as P,
    affine_params,
    h28,
    h28_sql,
    h60,
    h60_sql,
    shingles,
    shingles_sql,
)

NUM_HASHES = 16
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS
MINHASH_PARAMS = affine_params(NUM_HASHES)

SIMHASH_BITS = 32
SIMHASH_BYTES = 4


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: md5 fingerprint -> (fingerprint, n_docs,
    canonical_id = min id). Downstream, keep rows whose id equals the
    canonical. One hash-aggregate, map-side partial."""
    return (
        df.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
    )


def exact_dedup_sql(table: str = "documents", id_col: str = "doc_id", text: str = "text") -> str:
    return f"""
    SELECT md5({text}) AS fingerprint, count(*) AS n_docs,
           min({id_col}) AS canonical_id
    FROM {table} GROUP BY 1
    """


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _affine(a: int, b: int):
    return lambda h: (F.lit(a) * h + F.lit(b)) % P


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sig ARRAY<BIGINT>[NUM_HASHES]) minhash signatures: min over
    shingles of the affine hash (a*h28(s)+b) mod 2^31-1.

    Two projections on purpose: the md5-derived base hash is computed
    ONCE per shingle into `hs`, then the NUM_HASHES affine mins are
    cheap integer math over that array. CollapseProject keeps the
    non-cheap `hs` from being inlined NUM_HASHES times (a 16x md5
    blow-up measured at ~10x wall-clock). Per-row, no shuffle, no UDF.
    """
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.transform(shingles(text_col), h28).alias("hs"),
    )
    cols = [F.array_min(F.transform("hs", _affine(a, b))) for a, b in MINHASH_PARAMS]
    return hashed.select("id", F.array(*cols).alias("sig"))


def minhash_bands(sigs: DataFrame) -> DataFrame:
    """(id, sig) -> one row per LSH band: (id, sig, band, bsig). Pure
    per-row explode — streaming-safe (reused by the stream-static
    incremental dedup in sparksent/streaming/neardup.py)."""
    return sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "-", *[F.element_at("sig", b * ROWS_PER_BAND + r + 1).cast("string")
                                   for r in range(ROWS_PER_BAND)]
                        ).alias("bsig"),
                    )
                    for b in range(BANDS)
                ]
            )
        ).alias("bb"),
    ).select("id", "sig", "bb.band", "bb.bsig")


def signature_agreement(sig_a, sig_b):
    """Estimated Jaccard: fraction of equal minhash positions."""
    return (
        F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda v: v))
        / F.lit(NUM_HASHES)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH over the minhash
    signature, scored by signature agreement (estimated Jaccard).

    Plan: signatures (narrow) -> explode 4 band rows -> self-join on
    (band, band_signature) -> distinct pairs -> estimate = fraction of
    equal signature positions >= threshold.
    """
    # Materialize signatures once: both self-join sides (and the
    # distinct) would otherwise recompute the shingle+hash pipeline per
    # consumer. The stored frame is tiny — NUM_HASHES longs per document
    # (~128 B/doc at any corpus size) — so this is the cheap side of the
    # recompute-vs-store trade; measured 2x on the registered query.
    sigs = minhash_signatures(rebalance(df), id_col, text_col).localCheckpoint()
    bands = minhash_bands(sigs)
    left = bands.select(
        F.col("id").alias("id_a"), F.col("sig").alias("sig_a"), "band", "bsig"
    )
    right = bands.select(
        F.col("id").alias("id_b"), F.col("sig").alias("sig_b"), "band", "bsig"
    )
    pairs = (
        left.join(right, ["band", "bsig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    est = signature_agreement(F.col("sig_a"), F.col("sig_b")).alias("est_jaccard")
    return (
        pairs.select("id_a", "id_b", est)
        .filter(F.col("est_jaccard") >= threshold)
    )


def minhash_lsh_pairs_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text: str = "text",
    threshold: float = 0.5,
) -> str:
    mh_exprs = ", ".join(
        f"list_min([({a} * {h28_sql('s')} + {b}) % {P} FOR s IN sh]) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    )
    sig_list = "[" + ", ".join(f"mh{i}" for i in range(NUM_HASHES)) + "]"
    band_rows = " UNION ALL ".join(
        f"SELECT id, sig, {b} AS band, "
        + " || '-' || ".join(
            f"sig[{b * ROWS_PER_BAND + r + 1}]::VARCHAR" for r in range(ROWS_PER_BAND)
        )
        + " AS bsig FROM sigs"
        for b in range(BANDS)
    )
    return f"""
    WITH sh AS (
      SELECT {id_col} AS id, {shingles_sql(text)} AS sh FROM {table}
    ),
    sigs AS (
      SELECT id, {sig_list} AS sig
      FROM (SELECT id, {mh_exprs} FROM sh)
    ),
    bands AS ({band_rows}),
    pairs AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             a.sig AS sig_a, b.sig AS sig_b
      FROM bands a JOIN bands b USING (band, bsig)
      WHERE a.id < b.id
    )
    SELECT id_a, id_b,
           len(list_filter([sig_a[i] = sig_b[i] FOR i IN generate_series(1, {NUM_HASHES})],
                           x -> x)) / {NUM_HASHES}.0 AS est_jaccard
    FROM pairs
    WHERE len(list_filter([sig_a[i] = sig_b[i] FOR i IN generate_series(1, {NUM_HASHES})],
                          x -> x)) / {NUM_HASHES}.0 >= {threshold}
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit simhash: bit j is set when the sum over token occurrences
    of (+1 if bit j of the token hash else -1) is > 0.

    One explode + ONE hash-aggregate on id (map-side partial combine):
    per-occurrence +-1 sums equal the count-weighted form, so the
    distinct-token pre-aggregation the textbook description implies is
    unnecessary. The 32 conditional sums stay inside whole-stage
    codegen — measured faster than the shuffle-free array-expression
    form, whose higher-order functions evaluate interpreted."""
    toks = (
        rebalance(df)
        .select(F.col(id_col).alias("id"), F.explode(F.split(text_col, " ")).alias("tok"))
        .withColumn("h", h28("tok"))
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(
                F.lit(-1)
            )
        ).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("id").agg(*bit_sums)
    combined = reduce(
        lambda acc, j: acc
        + F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long"),
        range(SIMHASH_BITS),
        F.lit(0).cast("long"),
    )
    return agg.select("id", combined.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming. Candidates
    share at least one of the 4 signature bytes (exact for distance <=3
    by pigeonhole), then the exact bit_count(xor) filter. The simhash
    frame (one long per document) is materialized once instead of being
    recomputed by each self-join side."""
    sh = simhash(df, id_col, text_col).localCheckpoint()
    bytes_df = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("byte_idx"),
                        F.shiftright("simhash", 8 * b).bitwiseAND(F.lit(255)).alias("byte_val"),
                    )
                    for b in range(SIMHASH_BYTES)
                ]
            )
        ).alias("bb"),
    ).select("id", "simhash", "bb.byte_idx", "bb.byte_val")
    left = bytes_df.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "byte_idx", "byte_val"
    )
    right = bytes_df.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "byte_idx", "byte_val"
    )
    return (
        left.join(right, ["byte_idx", "byte_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.expr("sh_a ^ sh_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pairs_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text: str = "text",
    max_hamming: int = 3,
) -> str:
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN cnt ELSE -cnt END) AS b{j}"
        for j in range(SIMHASH_BITS)
    )
    combined = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    byte_rows = " UNION ALL ".join(
        f"SELECT id, simhash, {b} AS byte_idx, (simhash >> {8 * b}) & 255 AS byte_val FROM sh"
        for b in range(SIMHASH_BYTES)
    )
    return f"""
    WITH tok AS (
      SELECT {id_col} AS id, tok, count(*) AS cnt, {h28_sql('tok')} AS h
      FROM (SELECT {id_col}, unnest(string_split({text}, ' ')) AS tok FROM {table})
      GROUP BY 1, 2
    ),
    bits AS (SELECT id, {bit_sums} FROM tok GROUP BY id),
    sh AS (SELECT id, ({combined})::BIGINT AS simhash FROM bits),
    bytes AS ({byte_rows}),
    pairs AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             a.simhash AS sh_a, b.simhash AS sh_b
      FROM bytes a JOIN bytes b USING (byte_idx, byte_val)
      WHERE a.id < b.id
    )
    SELECT id_a, id_b, bit_count(xor(sh_a, sh_b))::INT AS hamming
    FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
    """


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard over word-3-gram shingle sets, candidates via the
    shingle inverted index (docs sharing no shingle never meet).

    ``max_df`` is the stop-shingle skew escalation: shingles occurring
    more than max_df times across the corpus are removed before the
    self-join (a hot shingle with D occurrences otherwise creates one
    D^2-row join partition — the 100 TB killer). The hot set is tiny by
    construction (<= total_occurrences / max_df shingles), so the
    removal is a broadcast anti-join; sizes are computed AFTER the
    filter, so the result is the exact Jaccard over the capped shingle
    universe (ubiquitous shingles carry no dedup signal — standard
    stop-word practice, mirrored identically in the oracle)."""
    # Shingles enter the index as 60-bit hashes, not strings: the
    # inverted-index shuffle carries 8-byte longs instead of ~25-byte
    # grams (~3x less shuffle at any scale). Both engines derive the
    # hash from md5 identically (hashing.h60), so the oracle mirrors
    # collisions bit-for-bit; at 2^60 a colliding shingle pair is
    # astronomically unlikely and would merely add one shared-shingle
    # count on both sides.
    sh = rebalance(df).select(
        F.col(id_col).alias("id"), F.explode(shingles(text_col)).alias("g")
    ).select("id", h60("g").alias("shingle"))
    if max_df is not None:
        # The hot set is found with a map-side-combined aggregate (its
        # shuffle carries one row per shingle per partition, never the
        # raw occurrences) and removed with a BROADCAST anti-join — so
        # hot rows are dropped map-side BEFORE any shuffle. A window
        # count over shingle would avoid the extra aggregate pass but
        # would ship every hot occurrence into one partition first —
        # reintroducing the straggler this cap exists to kill.
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df_cnt"))
            .filter(F.col("df_cnt") > max_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    # Two downstream consumers (sizes + the pair stage) would each
    # recompute the explode(+cap anti-join) as separate subplans.
    # Materialize the capped shingle frame once instead: store
    # ~|shingle rows| in block-manager memory/disk vs re-deriving it
    # from the raw corpus per consumer. At 100 TB the exploded frame is
    # large but spills to disk; recompute-vs-store here trades corpus
    # scans for 1 — the standard multi-consumer persist.
    sh = sh.localCheckpoint()
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    inter = _pair_intersections(sh)
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "n_sh": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "n_b"}), "id_b")
        .withColumn(
            "jaccard", F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "jaccard")
    )


def _pair_intersections(sh: DataFrame) -> DataFrame:
    """(id_a < id_b, inter) pair intersection counts from an (id,
    shingle) inverted index with distinct rows per document: the
    inverted-index self-join.  The pair partial-aggregate pipelines
    inside the join stage, and AQE splits skewed join partitions, so it
    degrades gracefully without a df cap."""
    left = sh.select(F.col("id").alias("id_a"), "shingle")
    right = sh.select(F.col("id").alias("id_b"), "shingle")
    return (
        left.join(right, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )


def ngram_jaccard_pairs_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text: str = "text",
    threshold: float = 0.5,
    max_df: int | None = None,
) -> str:
    cap = (
        f"""
    sh AS (
      SELECT * FROM sh0 WHERE shingle NOT IN (
        SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > {max_df}
      )
    ),"""
        if max_df is not None
        else "\n    sh AS (SELECT * FROM sh0),"
    )
    return f"""
    WITH sh_raw AS (
      SELECT {id_col} AS id, unnest({shingles_sql(text)}) AS g FROM {table}
    ),
    sh0 AS (SELECT id, {h60_sql('g')} AS shingle FROM sh_raw),{cap}
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, inter,
           inter / (sa.n_sh + sb.n_sh - inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE inter / (sa.n_sh + sb.n_sh - inter) >= {threshold}
    """


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    max_df: int | None = 25,
) -> DataFrame:
    """Asymmetric near-dup: containment = |A∩B| / min(|A|,|B|) over the
    word-3-gram shingle sets — catches a small document embedded in (or
    templated into) a larger one, which symmetric Jaccard misses because
    the union is dominated by the large side. Same capped inverted-index
    plan as :func:`ngram_jaccard_pairs` (one explode, hot-shingle
    broadcast anti-join, localCheckpointed across consumers); only the
    denominator differs."""
    sh = rebalance(df).select(
        F.col(id_col).alias("id"), F.explode(shingles(text_col)).alias("g")
    ).select("id", h60("g").alias("shingle"))
    if max_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df_cnt"))
            .filter(F.col("df_cnt") > max_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sh = sh.localCheckpoint()
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    inter = _pair_intersections(sh)
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "n_sh": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "n_b"}), "id_b")
        .withColumn("containment", F.col("inter") / F.least("n_a", "n_b"))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "inter", "containment")
    )


def ngram_containment_pairs_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text: str = "text",
    threshold: float = 0.6,
    max_df: int | None = 25,
) -> str:
    cap = (
        f"""
    sh AS (
      SELECT * FROM sh0 WHERE shingle NOT IN (
        SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > {max_df}
      )
    ),"""
        if max_df is not None
        else "\n    sh AS (SELECT * FROM sh0),"
    )
    return f"""
    WITH sh_raw AS (
      SELECT {id_col} AS id, unnest({shingles_sql(text)}) AS g FROM {table}
    ),
    sh0 AS (SELECT id, {h60_sql('g')} AS shingle FROM sh_raw),{cap}
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, inter,
           inter / least(sa.n_sh, sb.n_sh) AS containment
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE inter / least(sa.n_sh, sb.n_sh) >= {threshold}
    """


# ---------------------------------------------------------------------------
# end-to-end: the surviving document set
# ---------------------------------------------------------------------------


def dedup_keep_set(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """The deduplicated corpus a pipeline actually materializes:
    keep-first policy — a document is dropped iff it is the LARGER id of
    some near-duplicate pair (exact duplicates collapse to their min id
    through the same pairs, since identical texts share all signatures).

    One anti-join of the corpus against the distinct drop set. This is
    the standard single-pass policy; full transitive clustering
    (connected components) is an iterative algorithm layered on the same
    pairs output when chain-merging is required."""
    drops = (
        minhash_lsh_pairs(df, id_col, text_col, threshold)
        .select(F.col("id_b").alias("drop_id"))
        .distinct()
    )
    return (
        df.join(drops, F.col(id_col) == F.col("drop_id"), "left_anti")
        .select(F.col(id_col), F.length(text_col).alias("text_len"))
    )


def dedup_keep_set_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text: str = "text",
    threshold: float = 0.5,
) -> str:
    pairs = minhash_lsh_pairs_sql(table, id_col, text, threshold)
    return f"""
    WITH mh_pairs AS ({pairs})
    SELECT {id_col}, length({text})::INT AS text_len
    FROM {table}
    WHERE {id_col} NOT IN (SELECT DISTINCT id_b FROM mh_pairs)
    """


# ---------------------------------------------------------------------------
# sparse TF-vector cosine (bag-of-words similarity join)
# ---------------------------------------------------------------------------


def tf_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    df_cap_denom: int = 20,
    df_cap_abs: int = 500,
) -> DataFrame:
    """Sparse cosine similarity join over raw term-frequency vectors —
    the bag-of-words complement to shingle Jaccard (which is set-based
    and order-sensitive): catches shuffled/reordered near-duplicates
    whose word MULTISETS agree even when no 3-gram survives.

    Plan shape is the inverted-index self-join: tf rows (one per
    (doc, distinct term), terms as 60-bit hashes so the shuffle carries
    8-byte keys), pair dot products only where a term is shared —
    documents with disjoint vocabulary never meet.

    The stop-word cap is RELATIVE with an absolute ceiling:
    ``cap = greatest(1, least(n_docs div df_cap_denom, df_cap_abs))``
    (default: 5% of the corpus, at most 500 docs).  Why both terms: a
    fixed absolute cap does not survive scale-up — at 10x the corpus
    every content word crosses it and the result collapses to empty
    (measured: cap=50 found all 300 planted pairs at 500 fixture docs
    and ZERO at 5,000) — while a purely relative cap stops capping at
    all on huge corpora (5% of 1e9 docs ≈ nothing is dropped and the
    hot-term D^2 join partitions return).  A term in more than
    ``df_cap_abs`` documents carries no pair-level signal at any corpus
    size; both terms of the cap are computed from a one-row count frame
    cross-joined broadcast-style (no driver collect) and mirrored
    exactly in the oracle.

    Exactness: tf counts, squared norms, and dot products are exact
    BIGINT sums; the final cosine is one double expression,
    ``dot / sqrt(double(n2_a) * double(n2_b))`` — multiply, IEEE-754
    correctly-rounded sqrt, divide — identical bit pattern in Spark and
    DuckDB, so the threshold filter cannot flake at the boundary."""
    tok = (
        rebalance(df)
        .select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), " ")).alias("w"),
        )
        .where(F.col("w") != "")
        .select("id", h60("w").alias("term"))
    )
    tf = tok.groupBy("id", "term").agg(F.count("*").alias("tf"))
    cap = df.agg(F.count("*").alias("n_docs")).select(
        F.expr(
            f"greatest(1L, least(n_docs div {df_cap_denom}, "
            f"cast({df_cap_abs} as long)))"
        ).alias("df_cap")
    )
    hot = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df_cnt"))
        .crossJoin(F.broadcast(cap))
        .filter(F.col("df_cnt") > F.col("df_cap"))
        .select("term")
    )
    tf = tf.join(F.broadcast(hot), "term", "left_anti")
    # three consumers (norms + both join sides): materialize once
    tf = tf.localCheckpoint()
    norms = tf.groupBy("id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("n2")
    )
    left = tf.select(F.col("id").alias("id_a"), "term", F.col("tf").alias("tf_a"))
    right = tf.select(F.col("id").alias("id_b"), "term", F.col("tf").alias("tf_b"))
    dots = (
        left.join(right, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    return (
        dots.join(norms.withColumnsRenamed({"id": "id_a", "n2": "n2_a"}), "id_a")
        .join(norms.withColumnsRenamed({"id": "id_b", "n2": "n2_b"}), "id_b")
        .withColumn(
            "cosine",
            F.col("dot")
            / F.sqrt(F.col("n2_a").cast("double") * F.col("n2_b").cast("double")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "dot", "cosine")
    )


def tf_cosine_pairs_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text: str = "text",
    threshold: float = 0.6,
    df_cap_denom: int = 20,
    df_cap_abs: int = 500,
) -> str:
    return f"""
    WITH tok AS (
      SELECT {id_col} AS id, unnest(string_split({text}, ' ')) AS w
      FROM {table}
    ),
    tf0 AS (
      SELECT id, {h60_sql('w')} AS term, count(*)::BIGINT AS tf
      FROM tok WHERE w != '' GROUP BY 1, 2
    ),
    cap AS (
      SELECT greatest(1, least(count(*) // {df_cap_denom}, {df_cap_abs}))
               AS df_cap
      FROM {table}
    ),
    tf AS (
      SELECT * FROM tf0 WHERE term NOT IN (
        SELECT term FROM tf0 GROUP BY term
        HAVING count(*) > (SELECT df_cap FROM cap)
      )
    ),
    norms AS (SELECT id, sum(tf * tf)::BIGINT AS n2 FROM tf GROUP BY 1),
    dots AS (
      SELECT a.id AS id_a, b.id AS id_b, sum(a.tf * b.tf)::BIGINT AS dot
      FROM tf a JOIN tf b USING (term)
      WHERE a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, dot,
           dot / sqrt(na.n2::DOUBLE * nb.n2::DOUBLE) AS cosine
    FROM dots
    JOIN norms na ON na.id = id_a
    JOIN norms nb ON nb.id = id_b
    WHERE dot / sqrt(na.n2::DOUBLE * nb.n2::DOUBLE) >= {threshold}
    """


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT all-pairs Jaccard >= threshold via AllPairs/PPJoin-style
    prefix filtering (Bayardo et al. WWW'07; Xiao et al. WWW'08) — the
    lossless alternative to :func:`ngram_jaccard_pairs`'s df cap.

    Order every document's shingles by ascending corpus frequency (the
    same global (df, shingle) order on both sides); a pair with
    J >= t MUST share a token inside both documents' first
    ``n - ceil(t*n) + 1`` tokens, so only those PREFIX tokens enter the
    inverted-index self-join. The frequency ORDER does what the df CAP
    does — hot shingles sort last and almost never make a prefix, so
    no join partition explodes — but losslessly: the result is the
    exact uncapped Jaccard (the oracle states it as the naive full
    self-join; the equality is the PPJoin correctness theorem, also
    pinned against the uncapped join form in tests). A size filter
    (min(n) >= ceil(t*max(n)), necessary since |A∩B| >= t*max) prunes
    candidates before verification; verification joins the candidate
    pairs back to the FULL index for exact intersection counts —
    its cost is candidates x doc size, and candidates are few by
    construction (measured on the sf0.01 corpus: 773 distinct
    candidate pairs vs 13,985 raw index-join pair rows — an 18x
    reduction before any intersection is counted).

    Scale: one explode, one vocabulary-keyed df join, one per-doc
    rank window, the prefix self-join, and the verify join — every
    shuffle is keyed on shingle or id; no broadcast of anything
    corpus-sized; no cap parameter to mis-tune at 100 TB."""
    sh = (
        rebalance(df)
        .select(F.col(id_col).alias("id"), F.explode(shingles(text_col)).alias("g"))
        .select("id", h60("g").alias("shingle"))
        .localCheckpoint()  # consumers: df counts, sizes, rank, verify
    )
    # Shingle document frequency as a WINDOW over the shingle key, not
    # a join against a df frame: the round-6 plan audit found the
    # planner BROADCASTING the df frame (a localCheckpoint-descended
    # aggregate whose stats read small — at 100 TB that frame is
    # vocabulary-sized and the broadcast is a driver OOM). The window
    # needs the same one shuffle on shingle the join needed, with no
    # second frame and no build side at all; df=1 rows get their 1
    # directly.
    w_df = Window.partitionBy("shingle")
    w = Window.partitionBy("id").orderBy("df_cnt", "shingle")
    pref = (
        sh.withColumn("df_cnt", F.count("*").over(w_df))
        .withColumn("pos", F.row_number().over(w))
        # n_sh rides the SAME id exchange as the rank window — the
        # former groupBy-sizes join (another bogus-stats broadcast
        # candidate) disappears entirely
        .withColumn("n_sh", F.count("*").over(Window.partitionBy("id")))
        .filter(
            F.col("pos")
            <= F.col("n_sh") - F.ceil(F.col("n_sh") * F.lit(threshold)) + 1
        )
        # df=1 prefix tokens cannot match another document — drop them
        # before the self-join (the candidate set is unchanged)
        .filter(F.col("df_cnt") >= 2)
        .select("id", "shingle", "n_sh", "pos")
    )
    a = pref.select(
        F.col("id").alias("id_a"),
        "shingle",
        F.col("n_sh").alias("n_a"),
        F.col("pos").alias("pos_a"),
    )
    b = pref.select(
        F.col("id").alias("id_b"),
        "shingle",
        F.col("n_sh").alias("n_b"),
        F.col("pos").alias("pos_b"),
    )
    # PPJoin's positional filter (Xiao et al. §3.2), the lossless prune
    # that separates PPJoin from plain AllPairs: both documents order
    # their shingles by the same GLOBAL (df, shingle) order, so the
    # candidate pair's first common prefix token (min (pos_a, pos_b)
    # struct) has no common token before it in EITHER list, and the
    # true overlap obeys o <= 1 + min(n_a - pos_a, n_b - pos_b).
    # J >= t  <=>  o >= t/(1+t) * (n_a + n_b); with t = p/q exact, the
    # keep condition is the INTEGER cross-multiplication
    # (p+q) * ubound >= p * (n_a + n_b) — engine-exact, no float ceil.
    # Measured at the x20 corpus: 6.2M AllPairs candidates -> the
    # positional filter prunes the accidental single-shingle matches
    # whose first witness sits deep in both prefixes.
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(1_000_000)
    p_num, q_den = frac.numerator, frac.denominator
    first = F.min(F.struct("pos_a", "pos_b")).alias("fw")
    cands = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.least("n_a", "n_b")
            >= F.ceil(F.greatest("n_a", "n_b") * F.lit(threshold))
        )
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(first)
        .filter(
            (p_num + q_den)
            * (
                1
                + F.least(
                    F.col("n_a") - F.col("fw.pos_a"),
                    F.col("n_b") - F.col("fw.pos_b"),
                )
            )
            >= p_num * (F.col("n_a") + F.col("n_b"))
        )
        .select("id_a", "id_b", "n_a", "n_b")
    )
    # hint("merge") on the index sides: the shingle frame is a
    # localCheckpoint, whose LogicalRDD stats the planner guesses
    # SMALL — without the hint it broadcast the CORPUS-SIZED index
    # into both verify joins (measured at x20: a 28M-row broadcast,
    # all 32 tasks ~41 s probing one giant hash relation, and an
    # instant driver OOM at default driver memory — the 100 TB
    # failure mode). shuffle_hash (not merge): the probe stream is the
    # candidate x doc-shingles expansion — a sort-merge join would
    # SORT that 100M+-row stream, which measured as expensive as the
    # broadcast probing it replaced; hash-building the per-partition
    # slice of the (small) index side costs nothing, and AQE may still
    # downgrade to broadcast from TRUE runtime sizes.
    inter = (
        cands.join(
            sh.withColumnsRenamed({"id": "id_a"}).hint("shuffle_hash"), "id_a"
        )
        .join(
            sh.withColumnsRenamed({"id": "id_b"}).hint("shuffle_hash"),
            ["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "jaccard")
    )


def components_cte_sql() -> str:
    """Shared recursive-CTE block for connected components over the
    MinHash-LSH pair graph — the single SQL definition both
    ``dedup_components`` and ``dedup_cluster_canonical`` oracles embed
    (``WITH RECURSIVE {components_cte_sql()} ...``), so a change to the
    pair graph or traversal can never make the two cluster oracles
    silently disagree.  Exposes ``comp(doc_id, component)``."""
    return f"""mh_pairs AS ({minhash_lsh_pairs_sql()}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM mh_pairs
      UNION
      SELECT id_b, id_a FROM mh_pairs
    ),
    reach(id, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
    ),
    comp AS (SELECT id AS doc_id, min(label) AS component FROM reach GROUP BY id)"""


# ---------------------------------------------------------------------------
# content-defined chunking (CDC) — shift-robust duplicate detection
# ---------------------------------------------------------------------------

CDC_W = 8  # rolling-hash window (chars)
CDC_B = 31  # polynomial base
CDC_M = 1_048_576  # hash modulus (2^20)
CDC_D = 64  # boundary divisor: P(boundary) = 1/64 -> ~64-char chunks
CDC_MIN = 32  # minimum chunk length (skip boundaries closer than this)


def _cdc_hash_terms(codes, i):
    """H(i) = sum_{j=0..W-1} code[i-j] * B^j (mod M) — the window is
    FIXED, so the polynomial unrolls to eight explicit terms instead of
    a fold (stays in whole-stage codegen)."""
    term = None
    for j in range(CDC_W):
        t = F.element_at(codes, i - F.lit(j)).cast("long") * F.lit(CDC_B**j)
        term = t if term is None else term + t
    return term % F.lit(CDC_M)


def cdc_chunk_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Content-defined chunking duplicate statistics per document.

    Fixed-window rolling hash over the char stream; positions where
    H % CDC_D == 0 are chunk boundaries (subject to a CDC_MIN spacing
    fold — a boundary within CDC_MIN of the last accepted one is
    skipped, the standard pathological-tiny-chunk guard). Because
    boundaries depend only on LOCAL content, an insertion shifts all
    downstream chunk OFFSETS but not their contents — so chunk-hash
    dedup catches insertion-shifted duplication that fixed-stride
    windows (chunk_documents_128_96) structurally miss; this is the
    rsync/LBFS/restic primitive as a corpus operator.

    Per doc: (n_chunks, n_dup_chunks, dup_chars) where a chunk is dup
    iff its md5 occurs in ≥2 documents (distinct-doc df, so in-doc
    repetition alone is not duplication). Everything until the df join
    is per-row JVM array math (no shuffle); the df aggregate and the
    join back are chunk-hash-keyed — shuffle scales with chunk count,
    not corpus bytes^2. ASCII contract on the char codes (the fixture
    corpus; both engines' ascii() agree on code points regardless).

    The pipeline is staged behind localCheckpoint barriers because
    Catalyst's CollapseProject INLINES aliased expressions into every
    consumer: with four nested array stages (codes -> candidates ->
    accepted-fold -> chunk extraction) each referencing its
    predecessor several times, a single collapsed projection
    re-derives the char-code array inside EVERY element_at — an
    O(n²)-per-row expression tree that took minutes where the staged
    form takes milliseconds. The barriers pin codes and bounds as
    stored columns, so each stage is O(n) per row."""
    n = F.length(F.col(text_col))
    staged = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("t"),
        n.alias("n"),
        F.transform(F.split(F.col(text_col), ""), lambda c: F.ascii(c)).alias(
            "codes"
        ),
    ).localCheckpoint()
    codes = F.col("codes")
    cands = F.filter(
        F.when(
            F.col("n") >= CDC_W,
            F.sequence(F.lit(CDC_W), F.greatest(F.col("n"), F.lit(CDC_W))),
        ).otherwise(F.expr("CAST(array() AS array<int>)")),
        lambda i: _cdc_hash_terms(codes, i) % F.lit(CDC_D) == 0,
    )
    # min-spacing fold: accept a candidate only >= CDC_MIN past the
    # last accepted boundary (position 0 seeds the fold)
    accepted = F.aggregate(
        cands,
        F.expr("array(0)"),
        lambda acc, p: F.when(
            p - F.element_at(acc, -1) >= CDC_MIN, F.concat(acc, F.array(p))
        ).otherwise(acc),
    )
    with_bounds = staged.select(
        "id", "t", "n", accepted.alias("accepted")
    ).select(
        "id",
        "t",
        # close the final chunk at n (unless a boundary already sits there)
        F.when(
            F.element_at(F.col("accepted"), -1) < F.col("n"),
            F.concat(F.col("accepted"), F.array(F.col("n"))),
        )
        .otherwise(F.col("accepted"))
        .alias("bounds"),
    ).localCheckpoint()
    bounds = F.col("bounds")
    # Empty-text guard: bounds=[0] (the seed alone, n=0) must yield zero
    # chunks.  An unguarded sequence(1, size-1) here is sequence(1, 0),
    # which Spark auto-steps DESCENDING to [1, 0] — element_at(bounds, 2)
    # then throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT, while the DuckDB
    # oracle's range(1, len(bounds)) is simply empty.  CASE WHEN is
    # lazily evaluated per row, so the sequence never materializes for
    # empty documents (pinned: tests/test_properties.py
    # test_cdc_empty_text_yields_zero_chunks).
    chunked = with_bounds.select(
        F.col("id"),
        F.when(
            F.size(bounds) >= 2,
            F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.size(bounds) - 1),
                    lambda k: F.struct(
                        F.md5(
                            F.col("t").substr(
                                F.element_at(bounds, k) + 1,
                                F.element_at(bounds, k + 1) - F.element_at(bounds, k),
                            )
                        ).alias("h"),
                        (
                            F.element_at(bounds, k + 1) - F.element_at(bounds, k)
                        ).alias("ln"),
                    ),
                ),
                lambda s: s["ln"] > 0,
            ),
        )
        .otherwise(F.expr("CAST(array() AS array<struct<h:string,ln:int>>)"))
        .alias("chunks"),
    )
    ch = chunked.select("id", F.explode("chunks").alias("c")).select(
        "id", F.col("c.h").alias("h"), F.col("c.ln").alias("ln")
    )
    dup = (
        ch.select("id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("docs"))
        .filter(F.col("docs") >= 2)
        .select("h", F.lit(1).alias("is_dup"))
    )
    per_doc = (
        ch.join(dup, "h", "left")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(F.coalesce("is_dup", F.lit(0))).cast("long").alias("n_dup_chunks"),
            F.sum(
                F.when(F.col("is_dup").isNotNull(), F.col("ln")).otherwise(0)
            )
            .cast("long")
            .alias("dup_chars"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
            F.coalesce("n_dup_chunks", F.lit(0)).cast("long").alias("n_dup_chunks"),
            F.coalesce("dup_chars", F.lit(0)).cast("long").alias("dup_chars"),
        )
    )


def cdc_chunk_stats_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB mirror of :func:`cdc_chunk_stats`: same unrolled
    polynomial, same min-spacing fold (list_reduce with the
    single-element-list trick seeding at position 0).

    The fold is written ``a || CASE WHEN far-enough THEN x ELSE [] END``
    rather than the natural ``CASE WHEN ... THEN a || x ELSE a END``:
    DuckDB 1.0.0's list_reduce mis-evaluates lambdas where a branch
    returns the ACCUMULATOR UNCHANGED once that branch fires mid-list
    (``list_reduce([[100],[120],[200]], (a,x) -> CASE WHEN x[1]-a[-1]
    >= 32 THEN a||x ELSE a END)`` yields ``[200]``, not ``[0,100,200]``
    — reproduced on v1.0.0; the skip-at-end and no-skip cases are
    correct, which is why fixture docs never exposed it).  Rebuilding
    the list on every step (appending the empty list on skip) sidesteps
    the divergent-branch path entirely; the BPE fold in ``bpe.py`` is
    unaffected because both its branches already rebuild.  Pinned by
    tests/test_properties.py::test_cdc_empty_text_yields_zero_chunks
    (whose doc 2 has a mid-list skip)."""
    terms = " + ".join(
        f"ascii(codes[i - {j}])::BIGINT * {CDC_B**j}" for j in range(CDC_W)
    )
    return f"""
    WITH base AS (
      SELECT {id_col} AS id, {text_col} AS t,
             string_split({text_col}, '') AS codes,
             length({text_col}) AS n
      FROM {table}
    ),
    cand AS (
      SELECT id, t, n,
             list_filter(
               CASE WHEN n >= {CDC_W} THEN range({CDC_W}, n + 1) ELSE [] END,
               i -> (({terms}) % {CDC_M}) % {CDC_D} = 0) AS cands
      FROM base
    ),
    acc AS (
      SELECT id, t, n,
             list_reduce(
               list_prepend([0::BIGINT], list_transform(cands, p -> [p])),
               (a, x) -> a || CASE WHEN x[1] - a[-1] >= {CDC_MIN}
                               THEN x ELSE [] END) AS accepted
      FROM cand
    ),
    bnd AS (
      SELECT id, t,
             CASE WHEN accepted[-1] < n THEN accepted || [n::BIGINT]
                  ELSE accepted END AS bounds
      FROM acc
    ),
    ch AS (
      SELECT id, md5(substr(t, (bounds[k] + 1)::INT,
                            (bounds[k + 1] - bounds[k])::INT)) AS h,
             (bounds[k + 1] - bounds[k])::BIGINT AS ln
      FROM bnd, unnest(range(1, len(bounds))) AS u(k)
      WHERE bounds[k + 1] - bounds[k] > 0
    ),
    dup AS (
      SELECT h FROM (SELECT DISTINCT id, h FROM ch)
      GROUP BY h HAVING count(*) >= 2
    ),
    per_doc AS (
      SELECT ch.id, count(*)::BIGINT AS n_chunks,
             sum(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_dup_chunks,
             sum(CASE WHEN d.h IS NOT NULL THEN ch.ln ELSE 0 END)::BIGINT
               AS dup_chars
      FROM ch LEFT JOIN dup d USING (h)
      GROUP BY 1
    )
    SELECT b.id AS {id_col},
           coalesce(p.n_chunks, 0)::BIGINT AS n_chunks,
           coalesce(p.n_dup_chunks, 0)::BIGINT AS n_dup_chunks,
           coalesce(p.dup_chars, 0)::BIGINT AS dup_chars
    FROM base b LEFT JOIN per_doc p USING (id)
    """


# ---------------------------------------------------------------------------
# cross-document span duplication (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better": ExactSubstr — memorized
# spans repeat VERBATIM across documents even when documents as a whole
# are unique; no reference counterpart, LLM-pipeline extension surface)
# ---------------------------------------------------------------------------

SPAN_GRAM_W = 8  # span window in words (the paper uses 50 BPE tokens on
#                  web text; fixture documents are 20-80 words, so 8
#                  keeps the duplicated-span regime populated)


def span_dup_stats(
    df: DataFrame,
    w: int = SPAN_GRAM_W,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document verbatim-span duplication: every overlapping
    ``w``-word gram position is checked against the REST of the corpus
    — a position is duplicated iff its gram occurs in >= 2 distinct
    documents — yielding (n_grams, n_dup_grams, dup_gram_ppm) per doc,
    the span-level dedup signal of Lee et al. 2022 (ExactSubstr)
    expressed relationally instead of via suffix arrays.  Differs from
    chunk dedup (dedup_cdc_chunks: shift-robust CHUNK identity) and
    whole-doc near-dup (MinHash family): this counts how much of each
    document is verbatim-copied text, the direct memorization-risk
    metric. Short texts (< w words) fall back to the whole text as one
    gram — two identical short documents therefore count as fully
    duplicated, the correct dedup semantics (word_ngrams contract).

    Plan/scale: one explode of gram POSITIONS (multiplicity kept,
    ``curation.word_ngrams``) hashed to h60 — corpus-token-linear, gram
    text never shuffles; the >=2-distinct-docs gram set is one
    (gram, doc) distinct + count aggregate keyed on the hash; the join
    back is gram-hash-keyed (AQE broadcasts it while small, hash-joins
    when the dup set outgrows broadcast — both sides already hash on
    gh). Every ratio is an exact integer ppm floordiv."""
    from .curation import word_ngrams

    base = rebalance(df)
    # dup aggregate + per_doc probe both read this explode: materialize
    # once (ADVICE r10, same rationale as span_dup_extents below).
    pos = base.select(
        F.col(id_col).alias("id"),
        F.explode(word_ngrams(text_col, w)).alias("g"),
    ).select("id", h60(F.col("g")).alias("gh")).localCheckpoint()
    dup = (
        pos.distinct()
        .groupBy("gh")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh", F.lit(1).alias("isdup"))
    )
    # hint("shuffle_hash") on both checkpoint-descended sides: the
    # LogicalRDD's stats read SMALL, so the static planner would
    # BROADCAST dup (duplicated-gram-vocabulary-sized at 100 TB) and
    # per_doc (corpus-row-sized) — the round-6 audit failure mode.
    per_doc = (
        pos.join(dup.hint("shuffle_hash"), "gh", "left")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.coalesce("isdup", F.lit(0))).cast("long").alias("n_dup_grams"),
        )
    )
    return (
        base.select(F.col(id_col).alias("id"))
        .join(per_doc.hint("shuffle_hash"), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.expr(
                "CASE WHEN coalesce(n_grams, 0) > 0 THEN"
                " (coalesce(n_dup_grams, 0) * 1000000) div n_grams"
                " ELSE CAST(0 AS BIGINT) END"
            ).alias("dup_gram_ppm"),
        )
    )


def span_dup_stats_sql(
    table: str = "documents",
    w: int = SPAN_GRAM_W,
    id_col: str = "doc_id",
    text: str = "text",
) -> str:
    from .curation import word_ngrams_sql

    return f"""
    WITH pos AS (
      SELECT {id_col} AS id,
             {h60_sql('g')} AS gh
      FROM (SELECT {id_col}, unnest({word_ngrams_sql(text, w)}) AS g
            FROM {table})
    ),
    dup AS (
      SELECT gh FROM (SELECT DISTINCT id, gh FROM pos)
      GROUP BY gh HAVING count(*) >= 2
    ),
    per_doc AS (
      SELECT p.id, count(*)::BIGINT AS n_grams,
             sum(CASE WHEN d.gh IS NULL THEN 0 ELSE 1 END)::BIGINT
               AS n_dup_grams
      FROM pos p LEFT JOIN dup d USING (gh)
      GROUP BY p.id
    )
    SELECT b.{id_col},
           coalesce(p.n_grams, 0)::BIGINT AS n_grams,
           coalesce(p.n_dup_grams, 0)::BIGINT AS n_dup_grams,
           (CASE WHEN coalesce(p.n_grams, 0) > 0 THEN
              (coalesce(p.n_dup_grams, 0) * 1000000) // p.n_grams
            ELSE 0 END)::BIGINT AS dup_gram_ppm
    FROM {table} b LEFT JOIN per_doc p ON p.id = b.{id_col}
    """


def span_dup_extents(
    df: DataFrame,
    w: int = SPAN_GRAM_W,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MAXIMAL verbatim-span extents (VERDICT r9 ask #4): where
    :func:`span_dup_stats` reports the duplicated-gram FRACTION per
    document, this reports the actual spans you would cut — the
    ExactSubstr output shape of Lee et al. 2022: for each document,
    every maximal run of consecutive duplicated ``w``-gram positions
    merged into one (doc_id, span_start, span_len) row, where
    span_start is the first WORD index of the span and span_len =
    last_pos - first_pos + w its length in words (adjacent duplicated
    grams overlap by w-1 words, so a run of positions [p0..p1] covers
    words [p0 .. p1+w-1]).  Documents shorter than w words fall back
    to the whole text as one gram (word_ngrams contract), so a fully
    duplicated short doc reports one span of the padded gram window.

    Plan/scale: the gram-position explode and the >=2-distinct-docs
    dup set are the span_dup_stats stages (corpus-token-linear, grams
    shuffle as h60 hashes only); the islands merge is the
    gaps-and-islands pattern (event_session_ids): ONE window keyed on
    the document — rank minus position is constant within a run — then
    one (doc, run) aggregate.  Both partition by doc_id, so the added
    cost is a per-document sort of its duplicated positions, bounded
    by document length, never corpus-global."""
    from .curation import word_ngrams

    base = rebalance(df)
    # Two consumers (the >=2-docs dup aggregate AND the dpos probe side)
    # read this corpus-token-linear explode — materialize it once
    # instead of running the most expensive stage twice (ADVICE r10;
    # same recompute-vs-store call as minhash_lsh_pairs): the stored
    # frame is (id, pos, h60) — ~20 B/gram, far smaller than re-reading
    # and re-exploding the raw text.
    pos = base.select(
        F.col(id_col).alias("id"),
        F.posexplode(word_ngrams(text_col, w)).alias("p", "g"),
    ).select("id", "p", h60(F.col("g")).alias("gh")).localCheckpoint()
    dup = (
        pos.select("id", "gh")
        .distinct()
        .groupBy("gh")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    )
    # shuffle_hash: dup is checkpoint-descended (stats read small) but
    # duplicated-gram-vocabulary-sized at 100 TB — must not broadcast.
    dpos = pos.join(dup.hint("shuffle_hash"), "gh").select("id", "p")
    run_key = F.col("p") - F.row_number().over(
        Window.partitionBy("id").orderBy("p")
    )
    return (
        dpos.withColumn("grp", run_key)
        .groupBy("id", "grp")
        .agg(F.min("p").alias("p0"), F.max("p").alias("p1"))
        .select(
            F.col("id").alias(id_col),
            F.col("p0").cast("long").alias("span_start"),
            (F.col("p1") - F.col("p0") + F.lit(w)).cast("long").alias("span_len"),
        )
    )


def span_dup_extents_sql(
    table: str = "documents",
    w: int = SPAN_GRAM_W,
    id_col: str = "doc_id",
    text: str = "text",
) -> str:
    """DuckDB mirror over the SHARED gram CTE (word_ngrams_sql + h60):
    duplicated positions -> p - row_number() run key -> min/max per
    run — the same gaps-and-islands rewrite."""
    from .curation import word_ngrams_sql

    return f"""
    WITH pos AS (
      SELECT id, gi.i - 1 AS p, {h60_sql('gs[gi.i]')} AS gh
      FROM (SELECT {id_col} AS id, {word_ngrams_sql(text, w)} AS gs FROM {table}),
           LATERAL (SELECT unnest(generate_series(1, len(gs))) AS i) gi
    ),
    dup AS (
      SELECT gh FROM (SELECT DISTINCT id, gh FROM pos)
      GROUP BY gh HAVING count(*) >= 2
    ),
    dpos AS (
      SELECT p.id, p.p,
             p.p - row_number() OVER (PARTITION BY p.id ORDER BY p.p) AS grp
      FROM pos p JOIN dup d USING (gh)
    )
    SELECT id AS {id_col}, min(p)::BIGINT AS span_start,
           (max(p) - min(p) + {w})::BIGINT AS span_len
    FROM dpos GROUP BY id, grp
    """


# ---------------------------------------------------------------------------
# winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — MOSS)
# ---------------------------------------------------------------------------

WINNOW_K = 4  # gram width in words (MOSS uses char k-grams on source
#               code; the fixture corpus is word soup, so word grams —
#               consistent with the span-dedup family above)
WINNOW_W = 4  # winnowing window in hashes: any shared verbatim run of
#               >= k + w - 1 = 7 words is GUARANTEED to share at least
#               one selected fingerprint (the paper's detection bound)
WINNOW_MAX_DF = 200  # hot-fingerprint cap (the stop-shingle escalation)
WINNOW_MIN_SHARED = 2  # pair emission floor: one shared fingerprint is
#                        the noise regime on a small-vocabulary corpus


def winnowing_fingerprints(
    df: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003): slide a
    window of ``w`` consecutive word-``k``-gram hashes over each
    document and select the RIGHTMOST MINIMUM hash of every window; the
    distinct selected (hash, position) set is the fingerprint.  Unlike
    "every gram" (span_dup_stats) this samples ~2/(w+1) of positions
    while guaranteeing any shared run of k+w-1 words is caught, and
    unlike "global mod-p sampling" the selection is position-local, so
    the density guarantee holds inside EVERY window (the paper's core
    argument vs 0-mod-p fingerprinting).

    Relational form: the rightmost-min of each window is ONE window
    aggregate — ``min(struct(gh, -p))`` over ``ROWS BETWEEN CURRENT ROW
    AND w-1 FOLLOWING`` picks the smallest hash and, among ties, the
    largest position (struct ordering is lexicographic; Spark and DuckDB
    agree bit-for-bit, verified by the registered oracle).  Window
    starts with fewer than ``w`` hashes are invalid EXCEPT start 0 when
    the whole document has fewer than ``w`` grams — then the single
    all-grams window fingerprints the short doc (mirrors the
    word_ngrams short-text contract).

    Plan/scale: one posexplode (corpus-token-linear, grams leave as h60
    hashes immediately); the selection window partitions by document and
    sorts by position, so its cost is bounded by document length, never
    corpus-global; output is ~2/(w+1) of gram positions — the shuffle
    REDUCTION is the point of winnowing at 100 TB.
    """
    from .curation import word_ngrams

    pos = rebalance(df).select(
        F.col(id_col).alias("id"),
        F.posexplode(word_ngrams(text_col, k)).alias("p", "g"),
    ).select("id", "p", h60(F.col("g")).alias("gh"))
    frame = (
        Window.partitionBy("id").orderBy("p").rowsBetween(Window.currentRow, w - 1)
    )
    sel = F.min(F.struct(F.col("gh"), (-F.col("p")).alias("np"))).over(frame)
    cnt = F.count(F.lit(1)).over(frame)
    return (
        pos.select("id", "p", sel.alias("sel"), cnt.alias("cnt"))
        .filter((F.col("cnt") == w) | ((F.col("p") == 0) & (F.col("cnt") < w)))
        .select(
            "id",
            F.col("sel.gh").alias("gh"),
            (-F.col("sel.np")).cast("long").alias("fp_pos"),
        )
        .distinct()
    )


def winnowing_pairs(
    df: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    min_shared: int = WINNOW_MIN_SHARED,
    max_df: int | None = WINNOW_MAX_DF,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate near-duplicate pairs from shared winnowing
    fingerprints: (id_a < id_b, n_shared) where n_shared counts DISTINCT
    fingerprint hashes the two documents both selected, >= min_shared.

    The pair stage is the inverted-index shape of ngram_jaccard_pairs —
    docs meet only on shared fingerprint hashes — but the index is the
    winnowed ~2/(w+1) sample, not every gram: the same guarantee-backed
    candidate recall at a fraction of the index shuffle.  Hot
    fingerprints (a ubiquitous phrase) leave via the broadcast anti-join
    BEFORE the self-join (the stop-shingle escalation; hot set is
    <= occurrences/max_df rows by construction).
    """
    # Materialize the winnowed index ONCE, before the cap: the
    # selection window is the expensive stage and has THREE consumers
    # (the hot-fingerprint aggregate and both self-join sides); the
    # stored frame is two longs per fingerprint — the cheap side of the
    # recompute-vs-store trade (minhash_lsh_pairs precedent).
    fps = (
        winnowing_fingerprints(df, k, w, id_col, text_col)
        .select("id", "gh")
        .distinct()
        .localCheckpoint()
    )
    if max_df is not None:
        hot = (
            fps.groupBy("gh")
            .agg(F.count("*").alias("df_cnt"))
            .filter(F.col("df_cnt") > max_df)
            .select("gh")
        )
        fps = fps.join(F.broadcast(hot), "gh", "left_anti")
    left = fps.select(F.col("id").alias("id_a"), "gh")
    right = fps.select(F.col("id").alias("id_b"), "gh")
    # shuffle_hash: both sides descend from the localCheckpoint whose
    # stats read SMALL while the frame is corpus-sized — the static
    # planner would BROADCAST the build side (driver OOM at 100 TB, the
    # round-6 audit failure mode).
    return (
        left.join(right.hint("shuffle_hash"), "gh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnowing_pairs_sql(
    table: str = "documents",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    min_shared: int = WINNOW_MIN_SHARED,
    max_df: int | None = WINNOW_MAX_DF,
    id_col: str = "doc_id",
    text: str = "text",
) -> str:
    """DuckDB mirror: same gram CTE (word_ngrams_sql + h60), same
    ``min(struct)`` rightmost-min window (DuckDB struct ordering matches
    Spark's — lexicographic by field), same short-doc single-window rule,
    same hot-fingerprint cap and distinct-hash pair count."""
    from .curation import word_ngrams_sql

    cap = (
        f"""
    fps AS (
      SELECT * FROM fps0 WHERE gh NOT IN (
        SELECT gh FROM fps0 GROUP BY gh HAVING count(*) > {max_df}
      )
    ),"""
        if max_df is not None
        else "\n    fps AS (SELECT * FROM fps0),"
    )
    return f"""
    WITH pos AS (
      SELECT id, gi.i - 1 AS p, {h60_sql('gs[gi.i]')} AS gh
      FROM (SELECT {id_col} AS id, {word_ngrams_sql(text, k)} AS gs FROM {table}),
           LATERAL (SELECT unnest(generate_series(1, len(gs))) AS i) gi
    ),
    sel AS (
      SELECT id, p,
             min({{'gh': gh, 'np': -p}}) OVER fw AS s,
             count(*) OVER fw AS cnt
      FROM pos
      WINDOW fw AS (PARTITION BY id ORDER BY p
                    ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
    ),
    fps0 AS (
      SELECT DISTINCT id, s.gh AS gh
      FROM sel WHERE cnt = {w} OR (p = 0 AND cnt < {w})
    ),{cap}
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS n_shared
      FROM fps a JOIN fps b USING (gh)
      WHERE a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_shared FROM pairs WHERE n_shared >= {min_shared}
    """


def span_dup_rewrite(
    df: DataFrame,
    w: int = SPAN_GRAM_W,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The ExactSubstr TRANSFORMATION (Lee et al. 2022 §4.1 — the step
    their pipeline actually applies): remove every word covered by a
    cross-document duplicated ``w``-gram span and emit the REWRITTEN
    corpus — (doc_id, n_words, n_kept, kept_text) with kept_text the
    surviving words in original order ('' when the whole document is
    verbatim-duplicated text).  Complements span_dup_stats (the
    fraction) and span_dup_extents (the spans): this is the output a
    curation pipeline materializes.

    Plan/scale: the gram explode and the >=2-distinct-docs dup set are
    the shared span stages (corpus-token-linear, grams shuffle as h60
    hashes); covered word indices explode only DUPLICATED positions
    (x w, bounded by dup volume); the reconstruction is one per-doc
    aggregate over a sorted (index, word) collect — bounded by document
    length, the same per-doc-bounded contract as the extents window.
    Short docs (< w words) collapse to one whole-text gram
    (word_ngrams contract): if that gram is duplicated the whole
    document is covered and kept_text = ''."""
    from .curation import word_ngrams

    base = rebalance(df)
    pos = base.select(
        F.col(id_col).alias("id"),
        F.posexplode(word_ngrams(text_col, w)).alias("p", "g"),
    ).select("id", "p", h60(F.col("g")).alias("gh")).localCheckpoint()
    dup = (
        pos.select("id", "gh")
        .distinct()
        .groupBy("gh")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    )
    # shuffle_hash on both checkpoint-descended sides (lying LogicalRDD
    # stats must not broadcast corpus-scaled frames — round-6 audit)
    covered = (
        pos.join(dup.hint("shuffle_hash"), "gh")
        .select("id", F.explode(F.sequence("p", F.col("p") + F.lit(w - 1))).alias("i"))
        .distinct()
    )
    words = base.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(text_col, " ")).alias("i", "word"),
    )
    kept = (
        words.join(covered.hint("shuffle_hash"), ["id", "i"], "left_anti")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "word"))),
                    lambda s: s.word,
                ),
                " ",
            ).alias("kept_text"),
        )
    )
    return (
        base.select(
            F.col(id_col),
            F.size(F.split(text_col, " ")).cast("long").alias("n_words"),
        )
        .join(kept.hint("shuffle_hash"), F.col(id_col) == kept.id, "left")
        .select(
            F.col(id_col),
            "n_words",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
        )
    )


def span_dup_rewrite_sql(
    table: str = "documents",
    w: int = SPAN_GRAM_W,
    id_col: str = "doc_id",
    text: str = "text",
) -> str:
    """DuckDB mirror over the shared gram CTE: duplicated positions ->
    covered word indices (generate_series per dup position) -> NOT
    EXISTS anti-join -> ordered string_agg reconstruction."""
    from .curation import word_ngrams_sql

    return f"""
    WITH pos AS (
      SELECT id, gi.i - 1 AS p, {h60_sql('gs[gi.i]')} AS gh
      FROM (SELECT {id_col} AS id, {word_ngrams_sql(text, w)} AS gs FROM {table}),
           LATERAL (SELECT unnest(generate_series(1, len(gs))) AS i) gi
    ),
    dup AS (
      SELECT gh FROM (SELECT DISTINCT id, gh FROM pos)
      GROUP BY gh HAVING count(*) >= 2
    ),
    cov AS (
      SELECT DISTINCT p.id, p.p + ci.i AS i
      FROM pos p JOIN dup d USING (gh),
           LATERAL (SELECT unnest(generate_series(0, {w - 1})) AS i) ci
    ),
    words AS (
      SELECT id, wi.i - 1 AS i, ws[wi.i] AS word
      FROM (SELECT {id_col} AS id, string_split({text}, ' ') AS ws FROM {table}),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) wi
    ),
    kept AS (
      SELECT w.id, count(*)::BIGINT AS n_kept,
             string_agg(w.word, ' ' ORDER BY w.i) AS kept_text
      FROM words w
      WHERE NOT EXISTS (SELECT 1 FROM cov c WHERE c.id = w.id AND c.i = w.i)
      GROUP BY w.id
    )
    SELECT d.{id_col},
           len(string_split(d.{text}, ' '))::BIGINT AS n_words,
           coalesce(k.n_kept, 0)::BIGINT AS n_kept,
           coalesce(k.kept_text, '') AS kept_text
    FROM {table} d LEFT JOIN kept k ON k.id = d.{id_col}
    """
