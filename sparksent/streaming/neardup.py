"""Incremental near-duplicate detection: a STREAM of new documents
checked against an indexed static corpus — the production shape of
"does this incoming document duplicate anything we already have".

The batch dedup family (sparksent/ext/dedup.py) answers the
corpus-vs-itself question; this answers the new-vs-corpus question
without rescanning the corpus: the corpus is summarized ONCE into its
(band, band-signature) MinHash index, and each micro-batch of new
documents computes its own signatures per-row (shuffle-free — the
minhash pipeline is pure projection math, so it is streaming-legal) and
hash-joins its band rows against the index. With the index broadcast
(or bucketed on (band, bsig) at rest), the per-batch cost is
O(new docs x bands), independent of corpus size.

Scope: ``streaming_neardup_candidates`` detects new-vs-CORPUS
duplicates against a FIXED index; ``neardup_admit_batch`` (round 9)
closes the new-vs-new gap with the self-maintaining admission loop —
each micro-batch is checked against the accumulated index AND itself,
then appended to the index, so across the stream the emitted pair set
equals the batch self-join over the full accumulated corpus (pinned by
test).  A production pipeline runs the admission loop at ingest and
the batch family for periodic full re-dedup.  The reference
(traubad/FlinkSentimentAnalysis) has no dedup at all; this extends its
streaming surface with the curation operator a 100 TB ingest actually
needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ext.dedup import minhash_bands, minhash_signatures, signature_agreement
from .sinks import _store_exists


def minhash_band_index(
    corpus: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The static side, computed once per corpus version:
    (band, bsig, corpus_id, corpus_sig). At rest this is a table
    partitioned/bucketed on (band, bsig); here it is a DataFrame the
    caller may broadcast."""
    sigs = minhash_signatures(corpus, id_col, text_col)
    return minhash_bands(sigs).select(
        "band",
        "bsig",
        F.col("id").alias("corpus_id"),
        F.col("sig").alias("corpus_sig"),
    )


def streaming_neardup_candidates(
    stream_docs: DataFrame,
    corpus_index: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_index: bool = True,
) -> DataFrame:
    """(new_id, corpus_id, est_jaccard) for every incoming document
    whose estimated Jaccard vs some corpus document passes ``threshold``.

    Stream-static equi-join on (band, bsig): stateless except for the
    final per-pair dropDuplicates (a pair colliding in several bands
    would otherwise emit once per band). That dedup state is one row per
    EMITTED pair — bounded by true matches, not by traffic; bound it
    further with a watermark on arrival time if matches are unbounded.
    """
    sigs = minhash_signatures(stream_docs, id_col, text_col)
    bands = minhash_bands(sigs).select(
        F.col("id").alias("new_id"), F.col("sig").alias("new_sig"), "band", "bsig"
    )
    idx = F.broadcast(corpus_index) if broadcast_index else corpus_index
    return (
        bands.join(idx, ["band", "bsig"])
        .filter(F.col("new_id") != F.col("corpus_id"))
        .select(
            "new_id",
            "corpus_id",
            signature_agreement(F.col("new_sig"), F.col("corpus_sig")).alias(
                "est_jaccard"
            ),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["new_id", "corpus_id"])
    )


NEARDUP_INDEX_BUCKETS = 64  # default (band, bsig)-hash bucket count


def write_neardup_index(
    index: DataFrame, path: str, n_buckets: int = NEARDUP_INDEX_BUCKETS
) -> None:
    """Seed/compact the at-rest admission index: (band, bsig,
    corpus_id, corpus_sig) rows land in ``kbucket = pmod(hash(band,
    bsig), n_buckets)`` partition directories, so a probe for a batch's
    band keys prunes to the touched buckets (partition pruning on the
    bucket column) instead of scanning the whole index.  ``n_buckets``
    is fixed per index version (probe and merge must hash with the
    same count); size it so a bucket stays a bounded number of MB —
    then per-batch probe INPUT is O(batch band keys x bucket size),
    independent of corpus size.

    The repartition on kbucket before partitionBy is load-bearing:
    without it every write task emits a file into every bucket dir it
    holds rows for (tasks x buckets files — measured round 11: 4096
    buckets x 32 tasks inflated a 56 MB index to 247 MB of tiny files
    and a 273 s seed); co-locating each bucket in one task writes ONE
    file per bucket."""
    (
        index.withColumn("kbucket", F.pmod(F.hash("band", "bsig"), F.lit(n_buckets)))
        .repartition("kbucket")
        .write.mode("overwrite")
        .partitionBy("kbucket")
        .parquet(path)
    )


def neardup_admit_batch(
    batch_df: DataFrame,
    index_path: str,
    out_path: str,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    batch_id: int,
    n_buckets: int = NEARDUP_INDEX_BUCKETS,
) -> None:
    """foreachBatch body for the SELF-MAINTAINING admission loop — the
    stateful variant the module docstring's scope note reserves: each
    micro-batch is checked against the ACCUMULATED at-rest index (the
    corpus plus every earlier batch), checked against ITSELF (the
    intra-batch self-join), and then MERGED into the index so later
    batches see it.  Across a whole stream this emits exactly the pairs
    the batch ``minhash_lsh_pairs`` self-join finds over the full
    accumulated corpus — no near-dup escapes because its twin arrived
    in a later (or the same) micro-batch; pinned by
    tests/test_streaming_equivalence.py::test_neardup_admission_loop.

    Output rows are (id_lo, id_hi, est_jaccard) — orientation-
    normalized so the vs-index and intra-batch emissions dedup cleanly
    — written under an ``ingest_batch={batch_id}`` partition with
    dynamic partition OVERWRITE, so a replayed micro-batch (Structured
    Streaming is at-least-once into external sinks) rewrites its own
    partition instead of double-appending (ADVICE r9).  ``batch_id`` is
    keyword-only and REQUIRED (ADVICE r10): with the overwrite sink a
    defaulted batch_id=0 would make every micro-batch rewrite partition
    ingest_batch=0, silently discarding all earlier pairs — a caller
    still using the old two-positional foreachBatch shape now fails
    loudly with TypeError instead.

    Assumption (ADVICE r10): stream doc ids are IMMUTABLE — a doc_id is
    never re-ingested with different text.  The idempotent keyed merge
    removes a replayed doc's old rows by (corpus_id, band) within the
    batch's touched kbuckets, which reaches every old row only when the
    replay is byte-identical (same text ⇒ same bsigs ⇒ same buckets).
    A doc_id re-ingested with DIFFERENT text would leave its old-text
    rows alive in untouched buckets; mutable corpora should version ids
    (doc_id, rev) or periodically re-seed via write_neardup_index.

    The band/bucket/merge machinery is hash-AGNOSTIC (it only sees
    (id, sig, band, bsig) rows): this wrapper binds it to MinHash
    bands + estimated-Jaccard scoring; :func:`image_phash_admit_batch`
    binds the SAME core to perceptual-hash words + Hamming scoring
    (round 11, VERDICT r10 ask #8).

    At-rest index layout (VERDICT r9 ask #2): partitioned on
    ``kbucket = pmod(hash(band, bsig), n_buckets)`` —
    :func:`write_neardup_index` seeds it; this function maintains it
    with the ``parquet_keyed_merge`` data movement (streaming/sinks.py):

    1. bucket the batch's band rows; the touched-bucket list (at most
       ``min(4 x batch, n_buckets)`` ints) is all the driver sees;
    2. read ONLY the touched bucket partitions, ``localCheckpoint``ed —
       ONE scan of the touched buckets serves BOTH the vs-index probe
       join and the merge, and the overwrite below never reads the
       files it replaces;
    3. anti-join the old bucket rows against the batch's (corpus_id,
       band) keys, union the batch slice, dynamic-partition-overwrite
       the touched buckets.

    Per-batch cost is therefore O(batch keys x bucket size) for input
    AND output — corpus-independent, but ONLY when ``n_buckets`` is
    sized for it: pruning is real iff n_buckets >> the batch's band-key
    count (~BANDS x batch docs); at or below that, every bucket is
    touched and the loop degrades to a full index read+rewrite per
    batch (the round-9 append-only behavior).  Size n_buckets at seed
    time from the expected batch size AND corpus size so buckets stay
    a bounded number of MB — measured in SCALE.md's "Round 11:
    bucketed admission index" section: at x20,
    100-doc batches against n_buckets=4096 touch ~9% of buckets —
    ~22 MB input/batch, FLAT as the index grows — vs ~236 MB/batch for
    1,000-doc batches against 64 buckets, where every bucket is
    touched.  The keyed anti-join also makes the
    merge idempotent: a replayed batch finds its own rows in the index,
    removes and re-adds them — index and emitted-pair set are both
    exactly-once even under at-least-once replay (the vs-index probe
    may then see the batch's own rows, but orientation-normalization +
    dropDuplicates collapses those to the same pair set the intra-batch
    self-join emits).

    Long-stream footprint (round 12): the INDEX never fragments (one
    file per touched bucket per merge — the repartition guard; flat
    ~22 MB/batch input measured over 12 batches, SCALE.md) but the
    OUT pair log adds one ``ingest_batch=N`` partition per batch by
    design — that per-batch overwrite IS the replay-idempotency
    mechanism, so it must not be merged for batches the checkpoint
    could still replay.  The production housekeeping: periodically
    fold partitions older than the checkpoint's committed offset into
    a consolidated archive partition (Structured Streaming replays at
    most the last uncommitted batch, so anything older is final);
    downstream consumers of the pair set read the union either way."""
    from ..ext.dedup import minhash_bands, minhash_signatures, signature_agreement

    sigs = minhash_signatures(batch_df, id_col, text_col).localCheckpoint()
    _admit_bands(
        batch_df.sparkSession,
        minhash_bands(sigs),
        index_path,
        out_path,
        batch_id=batch_id,
        n_buckets=n_buckets,
        score=lambda a, b: signature_agreement(a, b),
        score_name="est_jaccard",
        keep=lambda s: s >= threshold,
    )


def _admit_bands(
    spark,
    band_rows: DataFrame,
    index_path: str,
    out_path: str,
    *,
    batch_id: int,
    n_buckets: int,
    score,
    score_name: str,
    keep,
) -> None:
    """The hash-agnostic admission core shared by the MinHash and
    perceptual-hash loops: ``band_rows`` is (id, sig, band, bsig) —
    sig must already be materialized (localCheckpoint upstream) so the
    multiple consumers below don't recompute the expensive stage —
    ``score(sig_a, sig_b)`` is the symmetric pair score column,
    ``keep(score_col)`` the admission predicate.  Everything else
    (bucketing, pruned probe, intra-batch self-join, orientation-
    normalized pair output under ingest_batch overwrite, idempotent
    keyed merge) is the contract documented on
    :func:`neardup_admit_batch`."""
    bands = band_rows.withColumn(
        "kbucket", F.pmod(F.hash("band", "bsig"), F.lit(n_buckets))
    )
    touched = [r[0] for r in bands.select("kbucket").distinct().collect()]
    if not touched:  # empty micro-batch: nothing to check or admit
        return

    lo_hi = [
        F.least(F.col("id_a"), F.col("id_b")).alias("id_lo"),
        F.greatest(F.col("id_a"), F.col("id_b")).alias("id_hi"),
    ]
    outputs = []
    old = None
    if _store_exists(spark, index_path):
        # one pruned read (partition pruning on kbucket) feeds both the
        # probe join and the merge — localCheckpoint so the touched
        # buckets are SCANNED once, not once per consumer (measured
        # round 11: the unmaterialized read doubled per-batch input);
        # the materialized frame is bounded by the touched-bucket
        # contract, O(batch band keys x bucket size).  Corrupt/
        # unreadable index -> raise.
        old = (
            spark.read.parquet(index_path)
            .filter(F.col("kbucket").isin(touched))
            .localCheckpoint()
        )
        vs_index = (
            bands.select(
                F.col("id").alias("id_a"), F.col("sig").alias("sig_a"),
                "band", "bsig",
            )
            .join(
                old.select(
                    F.col("corpus_id").alias("id_b"),
                    F.col("corpus_sig").alias("sig_b"),
                    "band", "bsig",
                ),
                ["band", "bsig"],
            )
            .filter(F.col("id_a") != F.col("id_b"))
        )
        outputs.append(vs_index)
    within = (
        bands.select(
            F.col("id").alias("id_a"), F.col("sig").alias("sig_a"), "band", "bsig"
        )
        .join(
            bands.select(
                F.col("id").alias("id_b"), F.col("sig").alias("sig_b"),
                "band", "bsig",
            ),
            ["band", "bsig"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )
    outputs.append(within)
    cands = outputs[0]
    for o in outputs[1:]:
        cands = cands.unionByName(o)
    score_col = score(F.col("sig_a"), F.col("sig_b")).alias(score_name)
    (
        cands.select(*lo_hi, score_col)
        .filter(keep(F.col(score_name)))
        .dropDuplicates(["id_lo", "id_hi"])
        .withColumn("ingest_batch", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .partitionBy("ingest_batch")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(out_path)
    )
    delta = bands.select(
        "band", "bsig",
        F.col("id").alias("corpus_id"),
        F.col("sig").alias("corpus_sig"),
        "kbucket",
    )
    if old is not None:
        kept = old.join(
            F.broadcast(delta.select("corpus_id", "band").distinct()),
            ["corpus_id", "band"],
            "left_anti",
        )
        merged = kept.unionByName(delta)
    else:
        merged = delta
    # safe to overwrite in place: ``old`` is localCheckpointed above and
    # ``delta`` descends from the caller-checkpointed signature frame,
    # so this write reads none of the files it replaces.
    # repartition("kbucket"): one file per touched bucket, not one per
    # (task x bucket) — the same small-files guard as
    # write_neardup_index.
    (
        merged.repartition("kbucket")
        .write.mode("overwrite")
        .partitionBy("kbucket")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(index_path)
    )


def image_phash_band_index(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The image analog of :func:`minhash_band_index`: every corpus
    image's dHash words as (band=widx, bsig=wval, corpus_id,
    corpus_sig=hw) — seed it at rest with :func:`write_neardup_index`
    (the bucketing is hash-agnostic)."""
    from ..ext.imagedup import image_phashes

    ph = image_phashes(docs.select(F.col(id_col).alias("doc_id")))
    return ph.select(
        "media_id", "hw", F.posexplode("hw").alias("band", "bsig")
    ).select(
        "band",
        "bsig",
        F.col("media_id").alias("corpus_id"),
        F.col("hw").alias("corpus_sig"),
    )


def audio_fp_band_index(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The audio analog of :func:`image_phash_band_index`: every corpus
    clip's fingerprint words as (band=widx, bsig=wval, corpus_id,
    corpus_sig=hw) — the audio fingerprint shares the image modality's
    4x16-bit word banding exactly."""
    from ..ext.audiodup import audio_fingerprints

    fp = audio_fingerprints(docs.select(F.col(id_col).alias("doc_id")))
    return fp.select(
        "media_id", "hw", F.posexplode("hw").alias("band", "bsig")
    ).select(
        "band",
        "bsig",
        F.col("media_id").alias("corpus_id"),
        F.col("hw").alias("corpus_sig"),
    )


def audio_fp_admit_batch(
    batch_df: DataFrame,
    index_path: str,
    out_path: str,
    max_hamming: int | None = None,
    id_col: str = "doc_id",
    *,
    batch_id: int,
    n_buckets: int = NEARDUP_INDEX_BUCKETS,
) -> None:
    """Incremental AUDIO dedup: the admission loop bound to the
    energy-gradient fingerprint — identical core and scoring to
    :func:`image_phash_admit_batch` (both modalities band their 64-bit
    hash as four 16-bit words and keep pairs within Hamming
    ``max_hamming``); only the decode stage differs.  With this
    binding every fingerprinted modality streams: text (MinHash),
    image, audio, video."""
    from ..ext.audiodup import audio_fingerprints
    from ..ext.imagedup import PHASH_MAX_HAMMING, hamming_distance

    if max_hamming is None:
        max_hamming = PHASH_MAX_HAMMING
    fp = audio_fingerprints(
        batch_df.select(F.col(id_col).alias("doc_id"))
    ).localCheckpoint()  # decode once; bands/probe/merge all consume it
    band_rows = fp.select(
        F.col("media_id").alias("id"),
        F.col("hw").alias("sig"),
        F.posexplode("hw").alias("band", "bsig"),
    )
    _admit_bands(
        batch_df.sparkSession,
        band_rows,
        index_path,
        out_path,
        batch_id=batch_id,
        n_buckets=n_buckets,
        score=hamming_distance,
        score_name="hamming",
        keep=lambda s: s <= max_hamming,
    )


def _video_sig_bands(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, sig, band, bsig) band rows for the video modality: sig is
    the slot-ordered frame-hash array, bands are (slot, fhash) — the
    signature-agreement shape the MinHash loop uses, at frame
    granularity."""
    from ..ext.videodup import video_frame_sigs

    rows = video_frame_sigs(docs.select(F.col(id_col).alias("doc_id")))
    sig_arr = rows.groupBy("media_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("slot", "fhash"))),
            lambda x: x.fhash,
        ).alias("sig")
    )
    return sig_arr.select(
        F.col("media_id").alias("id"),
        "sig",
        F.posexplode("sig").alias("band", "bsig"),
    )


def video_framehash_band_index(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The video analog of :func:`minhash_band_index`: every corpus
    clip's sampled-frame hashes as (band=slot, bsig=fhash, corpus_id,
    corpus_sig=hash array) — seed at rest with
    :func:`write_neardup_index`."""
    return _video_sig_bands(docs, id_col).select(
        "band", "bsig",
        F.col("id").alias("corpus_id"),
        F.col("sig").alias("corpus_sig"),
    )


def _frame_agreement(a, b):
    """Fraction of slot positions with equal frame hashes, 0.0 when the
    signatures have unlike slot counts — the same ``ns_a == ns_b``
    guard batch ``video_framehash_pairs`` applies (agreement over
    unlike signatures is undefined; 0.0 fails every ``keep``
    threshold, so such pairs drop from the output exactly as the batch
    filter drops them).  Note zip_with PADS the shorter array with
    nulls (it does not truncate); the null comparisons fall out of
    F.filter, but the equal-size guard makes padding unreachable
    anyway (ADVICE r11)."""
    matches = F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda m: m))
    return F.when(
        F.size(a) == F.size(b), (matches / F.size(a)).cast("double")
    ).otherwise(F.lit(0.0))


def video_framehash_admit_batch(
    batch_df: DataFrame,
    index_path: str,
    out_path: str,
    min_agreement: float = 0.5,
    id_col: str = "doc_id",
    *,
    batch_id: int,
    n_buckets: int = NEARDUP_INDEX_BUCKETS,
) -> None:
    """Incremental VIDEO dedup: the admission loop bound to the
    sampled-frame content-hash modality (the third binding of
    :func:`_admit_bands` after MinHash text and perceptual-hash
    images).  Per micro-batch of clip ids: demux + sample-then-decode
    via the Arrow-batched signature stage, band on (slot, fhash),
    probe the accumulated bucketed index, self-join within the batch,
    emit (id_lo, id_hi, agreement) for pairs agreeing on >=
    ``min_agreement`` of their slots, merge the batch's bands into the
    index.  Across a stream the emitted pair set equals the batch
    ``video_framehash_pairs`` over the accumulated corpus (pinned by
    tests/test_streaming_equivalence.py)."""
    bands = _video_sig_bands(
        batch_df, id_col
    ).localCheckpoint()  # decode once; probe + self-join + merge consume it
    _admit_bands(
        batch_df.sparkSession,
        bands,
        index_path,
        out_path,
        batch_id=batch_id,
        n_buckets=n_buckets,
        score=_frame_agreement,
        score_name="agreement",
        keep=lambda s: s >= min_agreement,
    )


def image_phash_admit_batch(
    batch_df: DataFrame,
    index_path: str,
    out_path: str,
    max_hamming: int | None = None,
    id_col: str = "doc_id",
    *,
    batch_id: int,
    n_buckets: int = NEARDUP_INDEX_BUCKETS,
) -> None:
    """Incremental IMAGE dedup (round 11, VERDICT r10 ask #8): the
    admission loop bound to the perceptual-hash modality.  Per
    micro-batch of image ids: decode/hash via the Arrow-batched phash
    stage, band on (word_idx, word_value) — pigeonhole-exact for
    Hamming distance <= 3, exactly the batch ``image_phash_pairs``
    candidate rule — probe the accumulated bucketed index, self-join
    within the batch, emit (id_lo, id_hi, hamming) pairs, merge the
    batch's hash words into the index.  All replay/corrupt-index/
    bucket-pruning behavior is the shared core's
    (:func:`_admit_bands`); across a stream the emitted pair set
    equals the batch banded self-join over the accumulated corpus
    (pinned by tests/test_streaming_equivalence.py).  Shuffle carries
    4 small ints per image — never pixels — so per-batch cost is
    O(batch x bucket), corpus-independent."""
    from ..ext.imagedup import PHASH_MAX_HAMMING, hamming_distance, image_phashes

    if max_hamming is None:
        max_hamming = PHASH_MAX_HAMMING
    ph = image_phashes(
        batch_df.select(F.col(id_col).alias("doc_id"))
    ).localCheckpoint()  # decode once; bands/probe/merge all consume it
    band_rows = ph.select(
        F.col("media_id").alias("id"),
        F.col("hw").alias("sig"),
        F.posexplode("hw").alias("band", "bsig"),
    )
    _admit_bands(
        batch_df.sparkSession,
        band_rows,
        index_path,
        out_path,
        batch_id=batch_id,
        n_buckets=n_buckets,
        score=hamming_distance,
        score_name="hamming",
        keep=lambda s: s <= max_hamming,
    )


def winnowing_band_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The winnowing analog of :func:`minhash_band_index`: every corpus
    document's winnowed fingerprint SET as (band=0, bsig=fingerprint
    hash, corpus_id, corpus_sig=sorted fingerprint array) — each
    fingerprint is its own band (there is no positional band structure;
    the constant band still spreads buckets because the bucket key
    hashes (band, bsig)).  The carried sig array is bounded by document
    length (~2/(w+1) of gram positions), so index rows stay
    doc-bounded; seed at rest with :func:`write_neardup_index`."""
    from ..ext.dedup import winnowing_fingerprints

    fps = (
        winnowing_fingerprints(
            docs.select(F.col(id_col).alias("doc_id"), text_col),
            text_col=text_col,  # forward: default-named lookup broke
        )  # non-default callers with an AnalysisException (ADVICE r11)
        .select("id", "gh")
        .distinct()
    )
    sigs = fps.groupBy("id").agg(F.array_sort(F.collect_set("gh")).alias("sig"))
    return sigs.select(
        "id", "sig", F.explode("sig").alias("bsig")
    ).select(
        F.lit(0).alias("band"),
        "bsig",
        F.col("id").alias("corpus_id"),
        F.col("sig").alias("corpus_sig"),
    )


def winnowing_shared(sig_a, sig_b):
    """Pair score for the winnowing modality: the number of DISTINCT
    fingerprint hashes both documents selected (sig arrays are distinct
    and sorted by construction)."""
    return F.size(F.array_intersect(sig_a, sig_b)).cast("long")


def winnowing_admit_batch(
    batch_df: DataFrame,
    index_path: str,
    out_path: str,
    min_shared: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    batch_id: int,
    n_buckets: int = NEARDUP_INDEX_BUCKETS,
) -> None:
    """Incremental TEXT dedup on winnowing fingerprints — the fifth
    binding of the hash-agnostic admission core (after MinHash, image,
    audio, video): per micro-batch, winnow each document's fingerprint
    set (one per-doc window aggregate), probe the accumulated bucketed
    index on the fingerprint hash, self-join within the batch, emit
    (id_lo, id_hi, n_shared) pairs with n_shared >= min_shared, merge
    the batch's fingerprints into the index.  Across a stream the
    emitted pair set equals the UNCAPPED batch
    ``winnowing_pairs(max_df=None)`` over the accumulated corpus
    (pinned by tests/test_streaming_equivalence.py): the admission
    loop has no df-cap stage — per-batch band keys are bounded by the
    batch, and the corpus-wide hot set the batch cap models is a
    periodic index-side rebuild concern, not a per-batch one.  All
    replay/corrupt-index/bucket-pruning behavior is the shared core's
    (:func:`_admit_bands`)."""
    from ..ext.dedup import WINNOW_MIN_SHARED, winnowing_fingerprints

    if min_shared is None:
        min_shared = WINNOW_MIN_SHARED
    fps = (
        winnowing_fingerprints(
            batch_df.select(F.col(id_col).alias("doc_id"), text_col),
            text_col=text_col,  # forward (ADVICE r11), as in winnowing_band_index
        )
        .select("id", "gh")
        .distinct()
    )
    sigs = fps.groupBy("id").agg(
        F.array_sort(F.collect_set("gh")).alias("sig")
    ).localCheckpoint()  # winnow once; bands/probe/merge all consume it
    band_rows = sigs.select(
        "id", "sig", F.explode("sig").alias("bsig")
    ).select("id", "sig", F.lit(0).alias("band"), "bsig")
    _admit_bands(
        batch_df.sparkSession,
        band_rows,
        index_path,
        out_path,
        batch_id=batch_id,
        n_buckets=n_buckets,
        score=winnowing_shared,
        score_name="n_shared",
        keep=lambda s: s >= min_shared,
    )


def benchmark_gram_index(
    bench_docs: DataFrame,
    n: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The static side of streaming decontamination: the DISTINCT word
    ``n``-gram set of the held-out benchmark — compute once per
    benchmark version (real benchmark suites are a few thousand evals:
    megabytes, comfortably broadcast), exactly the bench CTE of the
    batch ``decontaminate`` operator (ext/curation.py)."""
    from ..ext.curation import DECON_NGRAM
    from ..ext.hashing import shingles

    if n is None:
        n = DECON_NGRAM
    return (
        bench_docs.select(F.explode(shingles(text_col, n)).alias("g"))
        .distinct()
    )


def decontaminate_stream_batch(
    batch_df: DataFrame,
    bench_grams: DataFrame,
    out_path: str,
    *,
    batch_id: int,
    n: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """foreachBatch body for STREAMING benchmark decontamination
    (VERDICT r13 ask #7) — the streaming dual of the batch
    ``decontaminate_5gram``, completing the admission-loop family for
    the one curation filter that was still batch-only: every incoming
    training document is checked at INGEST against the broadcast
    benchmark gram set, so contaminated documents are flagged before
    they ever land in the corpus instead of by a later full-corpus
    sweep.

    Per micro-batch: explode each document's overlapping word
    ``n``-grams (occurrences, not distinct — the batch operator counts
    occurrences and the dual must match bit-for-bit), hash-join against
    the broadcast static gram set, aggregate per document, and write
    (doc_id, n_shared_grams) under an ``ingest_batch={batch_id}``
    partition with dynamic partition overwrite — the same
    replay-idempotency mechanism as the neardup admission loops: a
    replayed micro-batch (at-least-once sink semantics) rewrites its
    own partition instead of double-appending.

    Unlike the admission loops there is NO maintained index and no
    cross-batch state: the benchmark set is immutable for a given
    benchmark version, and a document's shared-gram count depends only
    on that document — so the union of all batches' emissions equals
    the batch operator over the accumulated stream EXACTLY, for any
    chunking (pinned by tests/test_streaming_equivalence.py, with a
    kill-and-restart proof).  Per-batch cost is O(batch grams), corpus-
    and stream-length-independent.  A new benchmark version means a
    new ``bench_grams`` frame and a fresh ``out_path`` — counts from
    different gram sets must not mix."""
    from ..ext.curation import DECON_NGRAM
    from ..ext.hashing import shingles

    if n is None:
        n = DECON_NGRAM
    train = batch_df.select(
        F.col(id_col).alias("id"), F.explode(shingles(text_col, n)).alias("g")
    )
    (
        train.join(F.broadcast(bench_grams), "g")
        .groupBy("id")
        .agg(F.count("*").alias("n_shared_grams"))
        .select(F.col("id").alias(id_col), "n_shared_grams")
        .withColumn("ingest_batch", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .partitionBy("ingest_batch")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(out_path)
    )
