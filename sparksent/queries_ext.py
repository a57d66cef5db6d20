"""Extension-operator queries (dedup, similarity, text analytics, JSON,
multimodal) with DuckDB oracles — the LLM-data-pipeline surface
(SURVEY.md §7.1 M5, BASELINE.json north star)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import tables
from .ext import (
    audiodup,
    bitext,
    bpe,
    curation,
    dedup,
    encoding,
    grouped,
    hashing,
    html,
    http,
    imagedup,
    iterative,
    jsonops,
    knlm,
    matching,
    mmquality,
    multimodal,
    probe,
    ranks,
    similarity,
    sketches,
    snapshots,
    textclean,
    textstats,
    tokcmp,
    unigram,
    urls,
    warc,
    wordpiece,
    vectorops,
    videodup,
    webgraph,
)
from .graph import triangle_count_sql
from .registry import register

N_QUERIES = 10  # similarity-search query set: vec_id < 10
TOPK = 5


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load_table(spark, sf_dir, "documents").select("doc_id", "text")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load_table(spark, sf_dir, "embeddings")


def _emb_count(spark: SparkSession, sf_dir: str) -> int:
    """Memoized embeddings row count: the self-scaling similarity/dedup
    operators size plane/cell/cluster counts from N before the plan
    builds; routing every registration through this cache keeps query
    CONSTRUCTION job-free after the first call (ADVICE r8 — the eager
    count used to land inside bench.py's timed region on every run)."""
    return tables.cached_row_count(spark, sf_dir, "embeddings")


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------


@register("dedup_exact", oracle=dedup.exact_dedup_sql(), tags=("ext", "dedup"))
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: md5(text) fingerprint -> n_docs + canonical
    (min) id. One map-side-combined hash aggregate."""
    return dedup.exact_dedup(_docs(spark, sf_dir))


@register("dedup_minhash_lsh", oracle=dedup.minhash_lsh_pairs_sql(), tags=("ext", "dedup"))
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4x4) candidate pairs with signature-estimated
    Jaccard >= 0.5. Shingle->signature is per-row array math; the only
    shuffles are the band-bucket self-join and the distinct."""
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir))


@register("dedup_simhash", oracle=dedup.simhash_pairs_sql(), tags=("ext", "dedup"))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-32 near-dup pairs at hamming <= 3, candidates via shared
    signature bytes (pigeonhole-exact for this radius)."""
    return dedup.simhash_pairs(_docs(spark, sf_dir))


@register(
    "dedup_ngram_jaccard",
    oracle=dedup.ngram_jaccard_pairs_sql(max_df=25),
    tags=("ext", "dedup"),
)
def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard >= 0.5 via the shingle inverted index,
    with the stop-shingle skew cap active (max_df=25: shingles above the
    occurrence cap are anti-joined out before the self-join, bounding
    the worst join partition at ~max_df^2 rows — ext/dedup.py)."""
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), max_df=25)


@register(
    "dedup_embedding_cosine",
    oracle=similarity.cosine_neardup_pairs_auto_sql(),
    tags=("ext", "dedup"),
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine >= 0.4, candidates restricted to
    multi-probe LSH buckets (hash equi-join on bucket — no all-pairs
    cross join; oracle mirrors the same bucket restriction).  The plane
    count self-scales with the corpus row count (num_planes_for —
    ~log2(N/32), floor 4), so the bucket-load scale rule is applied by
    code, not by the caller; the oracle's count-gated branches select
    the same count."""
    return similarity.cosine_neardup_pairs(
        _emb(spark, sf_dir),
        num_planes=similarity.num_planes_for(_emb_count(spark, sf_dir)),
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


@register(
    "similarity_topk_brute",
    oracle=similarity.brute_force_topk_sql(k=TOPK, n_queries=N_QUERIES),
    tags=("ext", "similarity"),
)
def q_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for the 10-query set over the full corpus —
    queries collected once, one corpus scan, per-query analytic rank."""
    emb = _emb(spark, sf_dir)
    return similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < N_QUERIES), k=TOPK
    )


@register(
    "similarity_topk_lsh",
    oracle=similarity.lsh_topk_auto_sql(k=TOPK, n_queries=N_QUERIES),
    tags=("ext", "similarity"),
)
def q_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5: cosine ranking restricted to the query's random-
    hyperplane LSH bucket (the scale path — bucket equi-join instead of
    cross join).  Plane count self-scales from the corpus row count
    (num_planes_for), mirrored by the oracle's count-gated branches."""
    emb = _emb(spark, sf_dir)
    return similarity.lsh_topk(
        emb,
        emb.filter(F.col("vec_id") < N_QUERIES),
        k=TOPK,
        num_planes=similarity.num_planes_for(_emb_count(spark, sf_dir)),
    )


@register(
    "similarity_topk_ivf",
    oracle=similarity.ivf_topk_auto_sql(k=TOPK, n_queries=N_QUERIES),
    tags=("ext", "similarity"),
)
def q_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5: each query probes its 2 nearest centroid cells
    and ranks exact cosine within them — the partition-pruning scale
    path (corpus partitioned by cell at rest reads nprobe/K of the data
    per query).  Cell count self-scales ~sqrt(N) (n_centroids_for;
    every fixture resolves to the floor of 8), mirrored by the oracle's
    count-gated branches."""
    emb = _emb(spark, sf_dir)
    return similarity.ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < N_QUERIES),
        k=TOPK,
        n_centroids=similarity.n_centroids_oracle_checked(_emb_count(spark, sf_dir)),
    )


@register(
    "similarity_topk_ivf_trained",
    oracle=similarity.ivf_trained_auto_sql(k=TOPK, n_queries=N_QUERIES),
    tags=("ext", "similarity"),
)
def q_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 with TRAINED centroids (the shared oracle-exact
    Lloyd loop run on the corpus itself) + exact cosine re-rank of the
    probed candidates — the data-dependent index that actually recalls
    on clustered embeddings (>= 0.8 at <= 1/4 candidate budget on the
    mixture fixture, test_ivf_trained_recall_clustered), where the
    untrained ladder's random planes/seed cells bottom out at
    0.02-0.38.  Cell count self-scales ~sqrt(N) (n_centroids_for),
    mirrored by count-gated oracle branches over the shared Lloyd
    CTEs."""
    emb = _emb(spark, sf_dir)
    return similarity.ivf_trained_topk(
        emb,
        emb.filter(F.col("vec_id") < N_QUERIES),
        k=TOPK,
        n_centroids=similarity.n_centroids_oracle_checked(_emb_count(spark, sf_dir)),
    )


@register(
    "similarity_topk_ivfpq_adc",
    oracle=similarity.ivfpq_adc_auto_sql(k=TOPK, n_queries=N_QUERIES),
    tags=("ext", "similarity"),
)
def q_topk_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN top-5 (the FAISS IndexIVFPQ shape): trained Lloyd
    cells prune candidates, ASYMMETRIC-distance ranking over 4-bit
    product-quantization codes scores them — the search stage never
    reads a raw vector (codes + a broadcast per-query lookup table),
    which is the memory-bound index layout vector search runs at
    100 TB.  All-integer ADC distances make the full train/code/probe/
    rank pipeline bit-exact vs the oracle; the exact-re-rank variant
    (similarity_topk_ivf_trained) is the refinement cascade's second
    stage."""
    emb = _emb(spark, sf_dir)
    return similarity.ivfpq_adc_topk(
        emb,
        emb.filter(F.col("vec_id") < N_QUERIES),
        k=TOPK,
        n_centroids=similarity.n_centroids_oracle_checked(_emb_count(spark, sf_dir)),
    )


@register(
    "similarity_topk_sq8",
    oracle=similarity.sq8_refine_topk_sql(k=TOPK, n_queries=N_QUERIES),
    tags=("ext", "similarity"),
)
def q_topk_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) search with exact refinement — the FAISS
    ScalarQuantizer counterpart to the PQ family: one byte per
    DIMENSION with a per-dimension affine dequantizer (trained min/max
    in the scaled-integer domain, one broadcast row), candidates ranked
    by the table-free integer-reconstruction cosine, top-40 re-ranked
    by exact cosine against raw vectors.  All quantization arithmetic
    is non-negative integer floor-div — bit-exact in both engines; the
    float stage is bounded at refine rows/query."""
    emb = _emb(spark, sf_dir)
    return similarity.sq8_refine_topk(
        emb, emb.filter(F.col("vec_id") < N_QUERIES), k=TOPK
    )


@register(
    "similarity_topk_ivfpq_refine",
    oracle=similarity.ivfpq_refine_auto_sql(k=TOPK, n_queries=N_QUERIES),
    tags=("ext", "similarity"),
)
def q_topk_ivfpq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ + exact refinement (the production cascade): integer ADC
    over codes ranks every probed candidate, then only the top-40 per
    query load raw vectors for an exact cosine re-rank — recall 0.93 on
    the clustered fixture vs 0.21 for ADC alone, with exact-distance
    work bounded at refine rows/query however many candidates the
    probes return.  The refine set broadcasts into the corpus scan
    (plan-gated)."""
    emb = _emb(spark, sf_dir)
    return similarity.ivfpq_refine_topk(
        emb,
        emb.filter(F.col("vec_id") < N_QUERIES),
        k=TOPK,
        n_centroids=similarity.n_centroids_oracle_checked(_emb_count(spark, sf_dir)),
    )


# ---------------------------------------------------------------------------
# text analytics
# ---------------------------------------------------------------------------


@register("text_stats", oracle=textstats.text_stats_sql(), tags=("ext", "text"))
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document curation stats: token/type counts, BPE-ish regex
    token count, TTR, stopword ratio, lang-ID heuristic, quality gate."""
    return textstats.text_stats(_docs(spark, sf_dir))


@register(
    "gopher_quality_gate",
    oracle=textstats.gopher_quality_gate_sql(),
    tags=("ext", "text", "curation"),
)
def q_gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite Gopher-rule document gate: word-count band,
    mean-word-length band, minimum stopword hits, alphabetic-word
    fraction, and a TTR floor — per doc, with each failure a bit in
    fail_mask so drops are EXPLAINED, not just counted (the report
    every curation pipeline owes its corpus card). All metrics exact
    integer milli/ppm floordivs; one scan, zero shuffles, pure
    codegen."""
    return textstats.gopher_quality_gate(_docs(spark, sf_dir))


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id, {textstats.rolling_fingerprint_sql()} AS fingerprint
    FROM documents
    """,
    tags=("ext", "text"),
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint (mod 2^31-1)."""
    return _docs(spark, sf_dir).select(
        "doc_id", textstats.rolling_fingerprint("text").alias("fingerprint")
    )


# ---------------------------------------------------------------------------
# JSON scalar ops
# ---------------------------------------------------------------------------


@register("json_field_stats", oracle=jsonops.json_field_stats_sql(), tags=("ext", "json"))
def q_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """props.k rollup per event_type: count / exact sum / avg / min /
    max with a single JSON parse in the scan projection."""
    ev = tables.load_table(spark, sf_dir, "events")
    return jsonops.json_field_stats(ev)


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


@register(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           strlen(text)::BIGINT AS n_bytes,
           unicode(substr(text, 1, 1)) AS head_byte,
           (list_sum([unicode(c) FOR c IN string_split(text, '')])::BIGINT % 997)
             AS checksum
    FROM documents
    """,
    tags=("ext", "multimodal"),
)
def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction through the real mapInPandas
    decode pipeline (deterministic stand-in decoder; the ASCII fixture
    text makes byte features oracle-computable). The decode stub is the
    single swap point for real media libs (ext/multimodal.py)."""
    media = multimodal.media_from_documents(_docs(spark, sf_dir))
    return multimodal.extract_features(media)


@register(
    "multimodal_image_headers",
    oracle="""
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END
             AS format,
           (doc_id % 640 + 1)::INT AS width,
           (doc_id % 480 + 1)::INT AS height,
           8::INT AS bit_depth
    FROM documents
    """,
    tags=("ext", "multimodal"),
)
def q_multimodal_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, end to end: payloads carry genuine PNG/JPEG/
    GIF header bytes (synthesized deterministically from doc_id), and a
    pure-Python header parser — magic detection, JPEG marker scan, IHDR
    /logical-screen reads — recovers format and dimensions FROM THE
    BYTES (ext/multimodal.py::parse_image_header). The oracle states the
    expected decode output arithmetically; any parser regression
    mismatches. Two Arrow-batched mapInPandas stages, payload pruned
    right after decode."""
    return multimodal.extract_image_headers(_docs(spark, sf_dir))


@register(
    "dedup_keep_set",
    oracle=dedup.dedup_keep_set_sql(),
    tags=("ext", "dedup"),
)
def q_dedup_keep_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup output: the corpus anti-joined against the
    near-duplicate drop set (keep-first policy over MinHash-LSH pairs)."""
    return dedup.dedup_keep_set(_docs(spark, sf_dir))


@register(
    "similarity_topk_multiprobe",
    oracle=similarity.lsh_topk_multiprobe_auto_sql(k=TOPK, n_queries=N_QUERIES),
    tags=("ext", "similarity"),
)
def q_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN top-5: the query's bucket plus its
    hamming-1 neighbors — recall between single-bucket LSH and brute
    force at (1+num_planes)x candidate cost, still bucket-pruned.
    Plane count self-scales from the corpus row count
    (num_planes_for), mirrored by count-gated oracle branches."""
    emb = _emb(spark, sf_dir)
    return similarity.lsh_topk_multiprobe(
        emb,
        emb.filter(F.col("vec_id") < N_QUERIES),
        k=TOPK,
        num_planes=similarity.num_planes_for(_emb_count(spark, sf_dir)),
    )


@register(
    "text_distinctive_terms",
    oracle=textstats.top_distinctive_terms_sql(),
    tags=("ext", "text"),
)
def q_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per document by tf/df (rational-idf
    TF-IDF variant — division is bit-reproducible across engines where
    ln-based idf is not)."""
    return textstats.top_distinctive_terms(_docs(spark, sf_dir))


@register(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE {dedup.components_cte_sql()}
    SELECT doc_id, component FROM comp
    """,
    tags=("ext", "dedup", "iterative"),
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-duplicate clustering: connected components over
    the MinHash-LSH pair graph (Pregel-style min-label propagation,
    sparksent/graph.py — similarity chains merge where the pairwise
    keep-first policy cannot). Oracle: recursive-CTE reachability."""
    from .graph import connected_components

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    return connected_components(
        docs.select("doc_id"), pairs, id_col="doc_id"
    ).select(F.col("id").alias("doc_id"), F.col("label").alias("component"))


@register(
    "dedup_cluster_sizes",
    oracle=f"""
    WITH RECURSIVE {dedup.components_cte_sql()},
    sizes AS (
      SELECT component, count(*)::BIGINT AS cluster_size
      FROM comp GROUP BY 1
    )
    SELECT cluster_size,
           count(*)::BIGINT AS n_clusters,
           (cluster_size * count(*))::BIGINT AS n_docs
    FROM sizes GROUP BY 1
    """,
    tags=("ext", "dedup", "report"),
)
def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup REPORT every pipeline run ends with: the duplicate-
    cluster size distribution (cluster_size, n_clusters, n_docs) over
    the MinHash-LSH component labels — size-1 rows are unique docs,
    the heavy tail is template/boilerplate families, and
    sum(n_docs) - sum(n_clusters) is exactly the row count dedup will
    remove.  Two tiny aggregates over the component frame; the cost is
    the shared CC machinery (dedup_components' log-round loop).
    Oracle shares the same recursive-CTE reachability block as the
    other cluster oracles, so the three can never diverge."""
    from .graph import connected_components

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(docs.select("doc_id"), pairs, id_col="doc_id")
    sizes = comp.groupBy("label").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count("*").cast("long").alias("n_clusters"),
        (F.count("*") * F.first("cluster_size")).cast("long").alias("n_docs"),
    )


@register(
    "bpe_fertility_per_lang",
    oracle=bpe.fertility_per_group_sql(),
    tags=("ext", "tokenizer", "report"),
)
def q_bpe_fertility_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — subword tokens per whitespace
    word, the standard multilingual tokenizer-quality metric (a
    vocabulary trained on one language splits the others' words more;
    fertility gaps are how that bias is measured and fixed).  Composes
    encode_token_counts (lang carried through its broadcast join) with
    one map-side-combined group aggregate: BIGINT sums, ONE IEEE
    division per group, -1.0 sentinel for a zero-word group."""
    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    enc = bpe.encode_token_counts(docs, carry_cols=("lang",))
    sw = F.sum("n_words").cast("long")
    st = F.sum("n_tokens").cast("long")
    return enc.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        sw.alias("n_words"),
        st.alias("n_tokens"),
        F.when(sw == 0, F.lit(-1.0))
        .otherwise(st.cast("double") / sw)
        .alias("fertility"),
    )


@register(
    "packing_efficiency_bpe_512",
    oracle=bpe.packing_efficiency_sql(),
    tags=("ext", "curation", "report"),
)
def q_packing_efficiency_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity-planning report for the BPE-count packing: per shard,
    document and token totals, the exact ceiling sequence count, the
    allocated token capacity, and the fill ratio in exact integer ppm
    (waste = the final sequence's tail padding — packing is
    head-to-tail contiguous by construction, so everything else is
    full).  The number a training run needs to size its step count and
    its padding loss.  One map-side-combined aggregate over the encode
    counts; all arithmetic BIGINT (Spark ``div`` == DuckDB ``//``)."""
    docs = _docs(spark, sf_dir)
    counts = bpe.encode_token_counts(docs).select("doc_id", "n_tokens")
    ctx = 512
    shards = (
        counts.withColumn("shard", F.col("doc_id") % 64)
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )
    n_seqs = F.expr(f"(n_tokens + {ctx - 1}) div {ctx}")
    return shards.select(
        "shard",
        "n_docs",
        "n_tokens",
        n_seqs.cast("long").alias("n_seqs"),
        (n_seqs * ctx).cast("long").alias("capacity"),
        F.when(F.col("n_tokens") == 0, F.lit(0))
        .otherwise(F.expr(f"(n_tokens * 1000000) div (((n_tokens + {ctx - 1}) div {ctx}) * {ctx})"))
        .cast("long")
        .alias("fill_ppm"),
    )


@register(
    "graph_triangle_counts",
    oracle=triangle_count_sql(
        f"SELECT id_a AS src, id_b AS dst FROM ({dedup.minhash_lsh_pairs_sql()})"
    ),
    tags=("ext", "graph"),
)
def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts over the MinHash-LSH near-dup pair
    graph (sparksent/graph.py:triangle_count): oriented low->high edges,
    wedge join + closing join — each triangle counted once, wedge count
    bounded by sum(min-degree^2), the standard skew mitigation. A dense
    triangle neighborhood marks template/boilerplate duplicate families
    that pairwise thresholds under-merge."""
    from .graph import triangle_count

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    return triangle_count(pairs)


# ---------------------------------------------------------------------------
# sketches + deterministic sampling
# ---------------------------------------------------------------------------


@register(
    "hll_distinct_users",
    oracle=sketches.hll_distinct_sql("events", "event_type", "user_id"),
    tags=("ext", "sketch"),
)
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog(p=8) distinct users per event type — register state
    only on the wire (two map-side-combined aggregates, <= 256 rows per
    group), with the exact count joined on for accuracy reporting at
    test SFs. Bit-exact estimator: integer register sums + one float
    division (ext/sketches.py module docstring)."""
    ev = tables.load_table(spark, sf_dir, "events")
    return sketches.hll_distinct(ev, "event_type", "user_id")


@register(
    "sample_bernoulli_events",
    oracle=sketches.bernoulli_sample_sql(
        "events", "event_id", 50_000, ["event_id", "user_id", "event_type"]
    ),
    tags=("ext", "sample"),
)
def q_sample_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5% Bernoulli sample by hash threshold on event_id:
    a pure scan-side filter — no shuffle, no RNG, identical output on
    any engine/partitioning/retry (df.sample is none of those)."""
    ev = tables.load_table(spark, sf_dir, "events")
    return sketches.bernoulli_sample(
        ev, "event_id", 50_000, ["event_id", "user_id", "event_type"]
    )


@register(
    "sample_stratified_events",
    oracle=sketches.stratified_sample_sql("events", "event_type", "event_id", 20),
    tags=("ext", "sample"),
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 20-per-event-type stratified sample by hash order, in two
    window phases (per-salt local top-k, then top-k over the <= k*32
    survivors) so no reducer sorts a whole stratum — the single-window
    form has one straggler task per hot group at 100 TB."""
    ev = tables.load_table(spark, sf_dir, "events")
    return sketches.stratified_sample(ev, "event_type", "event_id", 20)


@register(
    "cmsketch_heavy_hitters",
    oracle=sketches.cm_heavy_hitters_sql("events", "user_id"),
    tags=("ext", "sketch"),
)
def q_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min(4x64) user-frequency estimates vs true counts for the
    top-20 users: the sketch builds in one pass with a 256-key map-side
    combined aggregate (bounded partials per map task at any input
    size) and broadcasts back onto candidates. Integer-only —
    bit-exact."""
    ev = tables.load_table(spark, sf_dir, "events")
    return sketches.cm_heavy_hitters(ev, "user_id")


@register(
    "text_normalize",
    oracle=textstats.normalize_text_sql(),
    tags=("ext", "text"),
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style normalization pass (lowercase / punctuation-to-space /
    whitespace squeeze / trim) with post-normalization token counts —
    pure codegen projections, no shuffle."""
    return textstats.normalize_text(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# vector ops beyond search
# ---------------------------------------------------------------------------


@register(
    "embedding_centroids",
    oracle=vectorops.embedding_centroids_sql(),
    tags=("ext", "vector"),
)
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label elementwise embedding centroids (class prototypes):
    posexplode + one map-side-combined aggregate on (label, pos) —
    only (labels x dims) partial sums shuffle, never vectors. Exact
    via floor-scaled BIGINT sums (ext/vectorops.py)."""
    return vectorops.embedding_centroids(_emb(spark, sf_dir))


@register(
    "embedding_quantize_error",
    oracle=vectorops.quantize_error_stats_sql(),
    tags=("ext", "vector"),
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization round-trip per vector:
    summed reconstruction error (floor-scaled exact), q range, clip
    count. Pure per-row array expressions — zero shuffle."""
    return vectorops.quantize_error_stats(_emb(spark, sf_dir))


# ---------------------------------------------------------------------------
# grouped-pandas escape hatch (proven under the exact gate)
# ---------------------------------------------------------------------------


@register(
    "grouped_mode_event_type",
    oracle=grouped.grouped_mode_sql(),
    # capability: bench.py times it outside the headline sum — a
    # deliberate applyInPandas escape-hatch proof
    tags=("ext", "grouped", "capability"),
)
def q_grouped_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user modal event type via Arrow-batched applyInPandas,
    bit-matching the SQL window oracle — keeps the custom-Python path
    honest for operators Spark genuinely lacks (ext/grouped.py)."""
    ev = tables.load_table(spark, sf_dir, "events")
    return grouped.grouped_mode(ev)


@register(
    "text_bigram_lift",
    oracle=textstats.bigram_lift_sql(),
    tags=("ext", "text"),
)
def q_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus collocations by lift (observed/expected bigram
    rate) — rational lift instead of log-PMI for cross-engine bit
    equality; unigram counts broadcast, top-k via TakeOrdered."""
    return textstats.bigram_lift(_docs(spark, sf_dir))


@register(
    "corpus_curation_pipeline",
    oracle=f"""
    WITH gate AS ({textstats.gopher_quality_gate_sql()}),
    stats AS ({textstats.text_stats_sql()}),
    mh_pairs AS ({dedup.minhash_lsh_pairs_sql()}),
    drops AS (SELECT DISTINCT id_b AS doc_id FROM mh_pairs)
    SELECT s.doc_id, s.n_tokens, s.lang_pred, s.quality,
           g.n_stop, g.ttr_ppm, g.mean_len_milli
    FROM stats s JOIN gate g USING (doc_id)
    WHERE g.fail_mask = 0
      AND s.quality >= 0.5 AND s.lang_pred = 'en'
      AND s.doc_id NOT IN (SELECT doc_id FROM drops)
    """,
    tags=("ext", "pipeline"),
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full C4-style curation endpoint in ONE plan: the composite
    Gopher quality gate (fail_mask = 0 keeps only documents passing
    ALL five rules — word-count band, mean-word-length band, stopword
    minimum, alphabetic fraction, TTR floor), per-document
    quality/language stats, the quality + lang gate, and near-duplicate
    removal (anti-join against the MinHash-LSH drop set) — one pass, as
    a real curation user runs it (VERDICT r7 ask #4).

    The gate and stats stages compose at COLUMN level (``keep``
    pass-through, ext/textstats.py): chained per-row projections that
    Catalyst collapses into one ProjectExec over one documents scan —
    no gate-vs-stats self-join, no extra shuffle (plan-gated:
    tests/test_plans.py asserts 2 scans total, the stats+gate side and
    the LSH drop side).  Three gate metrics (n_stop, ttr_ppm,
    mean_len_milli) surface in the output so the oracle value-checks
    the gate arithmetic, not just the surviving cardinality."""
    docs = _docs(spark, sf_dir)
    gated = textstats.gopher_quality_gate(docs, keep=("text",)).filter(
        F.col("fail_mask") == 0
    )
    stats = textstats.text_stats(
        gated, keep=("n_stop", "ttr_ppm", "mean_len_milli")
    ).filter((F.col("quality") >= 0.5) & (F.col("lang_pred") == "en"))
    drops = (
        dedup.minhash_lsh_pairs(docs)
        .select(F.col("id_b").alias("drop_id"))
        .distinct()
    )
    return (
        stats.join(drops, stats.doc_id == drops.drop_id, "left_anti")
        .select(
            "doc_id", "n_tokens", "lang_pred", "quality",
            "n_stop", "ttr_ppm", "mean_len_milli",
        )
    )


# ---------------------------------------------------------------------------
# corpus curation beyond dedup: packing, decontamination, repetition,
# rarity (sparksent/ext/curation.py)
# ---------------------------------------------------------------------------


@register(
    "seq_packing_512",
    oracle=curation.seq_packing_sql(),
    tags=("ext", "curation"),
)
def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing plan: per shard (doc_id % 64),
    documents lay head-to-tail and every doc gets its (seq_id, offset)
    in the 512-token training-sequence stream — ONE window shuffle,
    parallel across shards (the global-pack single-reducer trap is the
    thing this shape avoids)."""
    return curation.seq_packing(_docs(spark, sf_dir))


@register(
    "seq_packing_bpe_512",
    oracle=bpe.seq_packing_bpe_sql(),
    tags=("ext", "curation", "tokenizer"),
)
def q_seq_packing_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing under REAL BPE token counts — the
    composition that closes the gap seq_packing_512's own contract
    noted (whitespace words are a proxy; training budgets are in
    subword tokens): bpe.encode_token_counts supplies per-document
    n_tokens (dictionary-first distinct-word encode, broadcast join
    back, nested JVM merge fold), then the SAME shard-partitioned
    packing window lays documents head-to-tail in ctx_len=512 token
    sequences.  Scale shape: the encode adds one distinct-word
    aggregate + one broadcast join to the packing's single window
    shuffle — the corpus shuffles ONCE either way; at 100 TB the merge
    table rides in the fold literal / Arrow closure and only (doc_id,
    shard, n_tokens) enters the window."""
    docs = _docs(spark, sf_dir)
    counts = bpe.encode_token_counts(docs).select("doc_id", "n_tokens")
    return curation.seq_packing_counts(counts)


@register(
    "sample_token_budget_bpe",
    oracle=bpe.sample_token_budget_bpe_sql(),
    tags=("ext", "curation", "tokenizer"),
)
def q_sample_token_budget_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy first-fit per-language token-budget sampling under REAL
    BPE token counts — the learned-subword form sample_token_budget's
    contract pointed at: encode_token_counts supplies per-document
    n_tokens (lang carried through the encode's broadcast join — no
    extra corpus-sized join), then the SAME md5-lottery running-sum
    admission takes documents while the exclusive prior sum is under
    the budget.  Budget 8000 (vs 5000 whitespace words: subword counts
    run higher).  One group-keyed window shuffle, BIGINT arithmetic —
    membership identical on both engines."""
    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    counts = bpe.encode_token_counts(docs, carry_cols=("lang",)).select(
        "doc_id", "lang", "n_tokens"
    )
    return curation.sample_token_budget_counts(counts, budget=8_000)


@register(
    "chunk_documents_128_96",
    oracle=curation.chunk_documents_sql(),
    tags=("ext", "curation"),
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking (128-word chunks, stride 96
    = 32-word overlap) for retrieval/training splits: shuffle-free
    per-row sequence+explode expansion emitting (chunk_id, start_word,
    n_words, 60-bit content hash) — ids and hashes cross the wire, the
    chunk text never does."""
    return curation.chunk_documents(_docs(spark, sf_dir))


@register(
    "dedup_chunks_exact",
    oracle=curation.dedup_chunks_exact_sql(),
    tags=("ext", "dedup", "curation"),
)
def q_dedup_chunks_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup — the RAG-index form: every chunk of
    the 128/96 expansion keyed by its 60-bit content hash with a
    keep-first flag, dropping verbatim-repeated passages ACROSS
    documents (boilerplate, quoted blocks) that whole-doc dedup cannot
    see and span dedup only measures.  The hash is HIGH-cardinality
    (≈ one group per distinct passage), so the keep window's per-group
    work is the duplicate multiplicity, never a hot partition; the
    shuffle carries ids + 8-byte hashes, never chunk text."""
    return curation.dedup_chunks_exact(_docs(spark, sf_dir))


@register(
    "decontaminate_5gram",
    oracle=curation.decontaminate_sql(),
    tags=("ext", "curation"),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing a word 5-gram
    with the held-out slice (doc_id % 97 == 0), with shared-gram
    counts. The benchmark gram set is distinct + broadcast, so the
    corpus side never shuffles raw text."""
    return curation.decontaminate(_docs(spark, sf_dir))


@register(
    "repetition_stats",
    oracle=curation.repetition_stats_sql(),
    tags=("ext", "curation"),
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: top-trigram fraction,
    duplicate-trigram fraction, duplicate-word fraction per document.
    One explode, two map-side-combined aggregates; every ratio is a
    single division of exact integers (bit-identical on both engines)."""
    return curation.repetition_stats(_docs(spark, sf_dir))


@register(
    "rare_word_stats",
    oracle=curation.rare_word_stats_sql(),
    tags=("ext", "curation"),
)
def q_rare_word_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document rare-word fraction (corpus df <= 2) — the
    exact-integer surprisal proxy. The plan never REQUIRES a broadcast:
    at fixture scale Catalyst broadcasts the aggregated df table; at
    100 TB vocabulary sizes it degrades gracefully to a shuffle join on
    the word key both sides already hash on."""
    return curation.rare_word_stats(_docs(spark, sf_dir))


@register(
    "multimodal_resize_plan",
    oracle=multimodal.resize_images_sql(),
    tags=("ext", "multimodal"),
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-fit image resize CONTROL PLANE over real decoded headers:
    synth payload -> pure-Python header parse -> scale/output-dims/
    buffer-size computation, fused into one Arrow mapInPandas — the
    header-only sizing pass for payloads whose pixels exceed the synth
    pixel law.  The pixel resample itself is REAL and separately
    oracle-checked (multimodal_resample_pixels)."""
    return multimodal.resize_images(_docs(spark, sf_dir))


@register(
    "multimodal_resample_pixels",
    oracle=multimodal.resample_images_sql(),
    tags=("ext", "multimodal"),
)
def q_multimodal_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END image resize, no stub (VERDICT r8 ask #2): encode
    each document id as a REAL BMP/PPM, decode the bytes back through
    decode_media, run a REAL integer box-filter resample over the
    decoded grid (area-average into the aspect-fit 8x6 box, floor-mean
    per output cell), and reduce the RESAMPLED image to exact channel
    sums + a position-weighted sum.  The oracle restates the resample
    bin-by-bin from the pixel law with the same integer floordivs — a
    resampler that mis-bins, swaps axes, or rounds differently cannot
    match."""
    return multimodal.resample_images(_docs(spark, sf_dir))


@register(
    "multimodal_resize_bilinear",
    oracle=multimodal.bilinear_images_sql(),
    tags=("ext", "multimodal"),
)
def q_multimodal_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END bilinear resize to a FIXED 8x6 tensor — the
    ML-preprocessing shape (every image the same dims, up- AND
    down-sampled; the box resample covers the aspect-fit downscale
    path): real BMP/PPM decode, then a fixed-point (S=4096) bilinear
    4-corner blend with half-pixel coords and clamp-replicate borders,
    all int64 so the oracle restates the exact blend per OUTPUT pixel
    from the pixel law.  Edge clamp happens BEFORE the floordiv, so
    floor-vs-trunc division semantics can never diverge between
    engines."""
    return multimodal.bilinear_images(_docs(spark, sf_dir))


@register(
    "multimodal_frame_sample",
    oracle=multimodal.frame_sample_sql(),
    tags=("ext", "multimodal"),
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform 8-frame video sampling plumbing: row-expanding
    mapInPandas (one media row in, k frame rows out) with the uniform
    frame_no = floor(i*n/k) sampler over byte-length stand-in clips —
    the lightweight index-only pass.  The sample->REAL-decode
    composition is multimodal_frame_decode_sampled."""
    media = multimodal.media_from_documents(_docs(spark, sf_dir))
    return multimodal.frame_sample(media)


@register(
    "multimodal_frame_decode_sampled",
    oracle=multimodal.frame_decode_sampled_sql(),
    tags=("ext", "multimodal"),
)
def q_multimodal_frame_decode_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-THEN-decode video frames (VERDICT r8 ask #3): encode each
    document id as a REAL MJPEG-in-AVI clip, demux the container
    (cheap chunk walk, no entropy decode), uniform-sample k=4 frame
    indices with frame_sample's law, and run the baseline-JPEG entropy
    decode ONLY on the sampled frames — decode work proportional to k,
    not clip length (decode-call count pinned in tests).  The oracle
    composes the sample law with the per-frame block law over only the
    sampled frames."""
    return multimodal.frame_decode_sampled(_docs(spark, sf_dir))


@register(
    "multimodal_decode_pixels",
    oracle=multimodal.decode_images_sql(),
    tags=("ext", "multimodal"),
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END pixel decode, no stub: encode each document id as a
    REAL 24-bit BMP (even ids: bottom-up rows, BGR, 4-byte padding) or
    binary PPM (odd ids: ASCII header with comments), decode the bytes
    back through decode_media's pure-Python parsers, and reduce to
    exact-integer channel sums.  The oracle recomputes the sums from the
    deterministic pixel law by grid expansion — a decoder that mishandles
    padding, row order, or channel order cannot match.  PNG, GIF and
    baseline JPEG decode for real too (their own registered queries)."""
    return multimodal.decode_images(_docs(spark, sf_dir))


@register(
    "multimodal_decode_png",
    oracle=multimodal.decode_pngs_sql(),
    tags=("ext", "multimodal"),
)
def q_multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END compressed-format pixel decode, no stub: encode each
    document id as a REAL PNG (correct CRCs, zlib-deflated raster; RGB
    for even ids, RGBA for odd — alpha dropped on decode; scanline
    filter rotating (id+row)%5 so all five PNG filters are
    reconstructed), decode the bytes back through decode_png's chunk
    walk + stdlib-zlib inflate + per-scanline unfilter, and reduce to
    exact-integer channel sums.  Same pixel-law grid-expansion oracle as
    multimodal_decode_pixels — a decoder that skips filter
    reconstruction, misorders channels, or leaks alpha cannot match."""
    return multimodal.decode_pngs(_docs(spark, sf_dir))


@register(
    "multimodal_decode_gif",
    oracle=multimodal.decode_gifs_sql(),
    tags=("ext", "multimodal"),
)
def q_multimodal_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END GIF pixel decode, no stub: encode each document id as
    a REAL GIF89a (256-entry color table encoding the pixel law, raster
    genuinely LZW-compressed with dictionary growth, sub-block
    framing), decode the bytes back through decode_gif's pure-Python
    LZW (clear codes, KwKwK, variable code width) + palette lookup, and
    reduce to exact-integer channel sums under the shared grid-expansion
    oracle.  Like every other image format here, fully real — no pixel
    stub remains."""
    return multimodal.decode_gifs(_docs(spark, sf_dir))


@register(
    "multimodal_decode_jpeg",
    oracle=multimodal.decode_jpegs_sql(),
    tags=("ext", "multimodal"),
)
def q_multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END baseline JPEG decode, no stub: encode each document
    id as a REAL JFIF file (standard Annex-K huffman tables, flat quant
    table, huffman-coded DC-predicted blocks with byte stuffing) and
    decode it back through decode_jpeg — marker walk, canonical huffman
    reconstruction, entropy decode, dequant, IDCT.  The synthesized
    images are 8x8-block-constant, the one input family a LOSSY format
    round-trips bit-exactly (a constant block's DCT is DC-only and
    survives flat quantization), so the oracle can restate pixels from
    the block law.  The decoder handles the full baseline AC surface
    (run-lengths, ZRL, EOB — pinned by a frequency-domain test); with
    this, every classic image format decodes for real and the remaining
    multimodal stub is video frame codec decode only."""
    return multimodal.decode_jpegs(_docs(spark, sf_dir))


@register(
    "multimodal_decode_video",
    oracle=multimodal.decode_videos_sql(),
    tags=("ext", "multimodal"),
)
def q_multimodal_decode_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END video decode, no stub for this codec: encode each
    document id as a REAL MJPEG-in-AVI clip (every movi 00dc chunk a
    complete baseline JFIF frame — MJPEG's defining property), then run
    the full pipeline back: RIFF/AVI demux with idx1 cross-validation,
    per-frame baseline JPEG entropy decode (huffman, DC prediction,
    dequant, IDCT), and exact-integer per-frame statistics.  The oracle
    restates the per-frame block law by (frame, x, y) grid expansion.
    Inter-frame codecs (H.26x) remain out of scope by format; within
    MJPEG nothing is stubbed."""
    return multimodal.decode_videos(_docs(spark, sf_dir))


@register(
    "multimodal_video_index",
    oracle=multimodal.video_index_sql(),
    tags=("ext", "multimodal"),
)
def q_multimodal_video_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END video container demux, no stub at the container
    layer: encode each document id as a REAL RIFF/AVI file (avih main
    header, strl stream list, movi LIST of word-aligned 00dc frame
    chunks, idx1 index), walk it back through parse_avi_index — chunk
    scan, header parse, movi sub-walk, and idx1 entries cross-validated
    against the walked offsets/sizes — and emit one row per frame
    (offset, size, checksum, keyframe flag).  The oracle restates the
    frame law with a window-sum for offsets and a grid expansion for
    checksums.  Frame payloads decode end-to-end for MJPEG clips
    (multimodal_decode_video); this query is the pure container-layer
    surface."""
    return multimodal.video_index(_docs(spark, sf_dir))


@register(
    "multimodal_decode_audio",
    oracle=multimodal.decode_audio_sql(),
    tags=("ext", "multimodal"),
)
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END audio decode, no stub: encode each document id as a
    REAL RIFF/WAVE PCM16 file (correct chunk sizes, fmt block), decode
    the bytes back through decode_wav's chunk walker, and reduce to
    exact-integer clip features (sample sum, energy, zero crossings,
    peak).  The oracle recomputes the features from the deterministic
    sample law by grid expansion — a decoder that misreads chunk
    boundaries, endianness, or sample width cannot match."""
    return multimodal.decode_audio(_docs(spark, sf_dir))


@register(
    "pii_redaction",
    oracle=textclean.pii_redaction_sql(),
    tags=("ext", "textclean"),
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII scrub (emails, IPv4s, phone extensions) with per-class
    match counts. The fixture text carries no PII, so each document is
    first enriched with deterministic doc_id-derived PII — identically
    on both engines — and the redactor is verified on that. Pure
    scan-side codegen regex: zero shuffle, zero UDF."""
    docs = _docs(spark, sf_dir)
    enriched = docs.select(
        "doc_id", textclean.enrich_with_pii(docs).alias("full_text")
    )
    return textclean.pii_redact(enriched)


@register(
    "boilerplate_removal",
    oracle=textclean.remove_boilerplate_sql(),
    tags=("ext", "textclean"),
)
def q_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/CCNet frequent-line filter: corpus-wide line-frequency pass,
    hot lines (df >= 20) broadcast-anti-joined out of every document,
    text reassembled in original order. Same skew-capped shape as the
    stop-shingle filter; at sf0.01 it strips ~19% of line occurrences."""
    return textclean.remove_boilerplate(_docs(spark, sf_dir))


@register(
    "lang_id_confusion",
    oracle=textclean.lang_id_confusion_sql(),
    tags=("ext", "textclean"),
)
def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram language-ID scored against the fixture's true lang
    labels, reported as a confusion matrix. Seed docs (doc_id%5==0)
    build broadcast per-language trigram profiles; held-out docs score
    languages by integer profile overlap. (The synthetic fixture draws
    every lang from one vocabulary, so the matrix shows the honest
    near-random outcome — the operator, not the model, is under test.)"""
    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    return textclean.lang_id_confusion(docs)


@register(
    "sample_weighted_tickets",
    oracle=sketches.weighted_ticket_sample_sql(
        "events",
        "event_id",
        "CASE event_type WHEN 'purchase' THEN 4 WHEN 'signup' THEN 3 "
        "WHEN 'click' THEN 2 ELSE 1 END",
        500,
        ["event_id", "event_type"],
    ),
    tags=("ext", "sampling"),
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact weighted sampling without replacement: event types
    hold 4/3/2/1 lottery tickets; a row's key is the min md5 ticket and
    the global 500 smallest keys win (TakeOrdered — no full sort).
    Purchase events are ~4x over-represented vs their base rate."""
    ev = tables.load_table(spark, sf_dir, "events")
    weight = (
        F.when(F.col("event_type") == "purchase", 4)
        .when(F.col("event_type") == "signup", 3)
        .when(F.col("event_type") == "click", 2)
        .otherwise(1)
    )
    return sketches.weighted_ticket_sample(ev, "event_id", weight, 500).select(
        "event_id", "event_type", "w", "key"
    )


@register(
    "split_train_valid_test",
    oracle=f"""
    SELECT {sketches.group_split_bucket_sql("user_id")} AS split,
      count(DISTINCT user_id) AS n_users, count(*) AS n_events,
      CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1
    """,
    tags=("ext", "sampling"),
)
def q_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free 80/10/10 split assignment hashed on user_id (every
    event of a user lands in one split), summarized per split. The
    split column is a pure scan-side expression; the summary is one
    map-side-combined aggregate."""
    ev = tables.load_table(spark, sf_dir, "events")
    return (
        sketches.group_split(ev, "user_id")
        .groupBy("split")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


@register(
    "dedup_ngram_containment",
    oracle=dedup.ngram_containment_pairs_sql(),
    tags=("ext", "dedup"),
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup (|A∩B| / min set size >= 0.6):
    catches small-doc-embedded-in-large-doc duplication that symmetric
    Jaccard's union denominator hides. Same capped hashed-shingle
    inverted index as dedup_ngram_jaccard."""
    return dedup.ngram_containment_pairs(_docs(spark, sf_dir))


@register(
    "dedup_tf_cosine",
    oracle=dedup.tf_cosine_pairs_sql(threshold=0.6),
    tags=("ext", "dedup"),
)
def q_dedup_tf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words cosine similarity join (>= 0.6) over exact term-
    frequency vectors — the multiset complement to shingle Jaccard:
    word-reordered near-duplicates keep their tf vector even when every
    3-gram changes. Inverted-index self-join on 60-bit term hashes; the
    stop-word cap is RELATIVE with an absolute ceiling (df > min(5% of
    corpus, 500) anti-joined out before the pair stage — a fixed
    absolute cap collapses to empty at 10x corpus, a purely relative
    one stops capping at web scale; see tf_cosine_pairs). Norms/dots
    exact BIGINT, one IEEE-identical double cosine at the end."""
    return dedup.tf_cosine_pairs(_docs(spark, sf_dir), threshold=0.6)


@register(
    "bloom_semijoin_customers",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_customers,
           CAST(sum(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS sum_acctbal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY 1
    """,
    tags=("ext", "sketch"),
)
def q_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers-with-orders per market segment, computed through an
    EXPLICIT Bloom runtime filter: the orders key set collapses to a
    ~4 KiB one-row bloom map (map-side-combined bit_or aggregate),
    broadcasts, and prunes the customer scan BEFORE the exact semi-join
    — so at 100 TB only might-match rows reach the join shuffle. The
    bloom has no false negatives, hence the result equals the plain
    EXISTS oracle exactly; false positives are removed by the semi-join
    confirm."""
    cust = tables.load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    orders = tables.load_table(spark, sf_dir, "orders").select("o_custkey")
    bloom = sketches.bloom_build(orders, "o_custkey")
    cand = sketches.bloom_prefilter(cust, "c_custkey", bloom)
    hit = cand.join(
        orders.withColumnRenamed("o_custkey", "c_custkey"),
        "c_custkey",
        "left_semi",
    )
    return hit.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(28,6)"))
        .cast("double")
        .alias("sum_acctbal"),
    )


@register(
    "quantile_sketch_value",
    oracle=sketches.hist_quantiles_sql("events", "value"),
    tags=("ext", "sketch"),
)
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram quantile sketch over event values: 4096 fixed-width
    bins (bounded, additively-mergeable per-task state — the one-pass
    alternative to a full sort), linear interpolation in the rank bin.
    The estimate's arithmetic is replayed identically by the oracle, so
    the check is bit-exact even though the sketch itself approximates
    the true quantile to one bin width."""
    ev = tables.load_table(spark, sf_dir, "events")
    return sketches.hist_quantiles(ev, "value")


@register(
    "hll_sliding_distinct_7d",
    oracle=sketches.hll_sliding_distinct_sql(),
    tags=("ext", "sketch", "timeseries"),
)
def q_hll_sliding_distinct_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users per day — the OLAP question
    distinct counts cannot answer by summation, solved the production
    way: daily HLL register tables max-merged over a RANGE window
    frame on a dense (day x 256-bucket) grid (register max is
    associative, so the frame merge IS a sketch union; absent-day
    buckets carry forward through the grid). The exact rolling
    distinct rides alongside (each (day, user) explodes to the 7 days
    it serves — exactly the blow-up the sketch avoids at 100 TB), so
    every row shows estimate vs truth. Raw stage: one (day, bucket)
    partial-max aggregate, 256 rows/day regardless of corpus size."""
    ev = tables.load_table(spark, sf_dir, "events")
    return sketches.hll_sliding_distinct(ev)


@register(
    "hll_merge_rollup",
    oracle=sketches.hll_merge_rollup_sql(
        "events", "event_type", "epoch_us(ts) // 86400000000", "user_id"
    ),
    tags=("ext", "sketch"),
)
def q_hll_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch mergeability made demonstrable: per-(event_type, day) HLL
    register tables max-merge up to per-type, and the merged estimate
    is emitted beside an independent direct estimate with a
    merge_exact == true proof column. The OLAP-rollup property that
    lets 100 TB pipelines keep day-level sketch partitions (256 rows
    each) instead of re-scanning raw data per rollup level."""
    ev = tables.load_table(spark, sf_dir, "events")
    # `div` = exact BIGINT integer division, matching DuckDB's `//`
    # (float division + cast could round across the day boundary)
    day = F.expr("unix_micros(ts) div 86400000000")
    return sketches.hll_merge_rollup(ev, "event_type", day, "user_id")


@register(
    "bpe_word_vocab",
    oracle=bpe.word_vocab_sql(min_count=2, max_vocab=1000),
    tags=("ext", "tokenizer"),
)
def q_bpe_word_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed stage of BPE training as a driver-checkable
    query: (word, n) over every whitespace token with the production
    caps exercised — min_count=2 as an in-shuffle HAVING, max_vocab=1000
    as a distributed sort-limit under the total order (n DESC, word).
    This is exactly the frame bpe_merges collects before its (documented
    rows-only) driver-side merge loop, so the driver now hash-checks the
    only corpus-sized part of the one registry entry it couldn't judge."""
    return bpe.word_vocab_capped(_docs(spark, sf_dir), min_count=2, max_vocab=1000)


@register(
    "bpe_merges",
    oracle=bpe.merges_sql(),
    # capability: bench.py times it outside the headline sum — a
    # driver-side merge loop over the collected vocab
    tags=("ext", "tokenizer", "capability"),
)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training: distributed word-vocabulary count (the
    only corpus-sized stage), then the canonical deterministic merge
    loop over the driver-sized vocab table; returns the 16-step merge
    table (step, left, right, pair_count). Formerly the registry's one
    rows-only exemption — now fully oracle-paired: the merge loop is a
    DuckDB recursive CTE (bpe.merges_sql) whose per-level argmax +
    list_reduce rewrite reproduces the loop exactly (fuzz-pinned in
    tests/test_properties.py alongside the original independent-loop
    recomputation)."""
    from .ext import bpe

    return bpe.learn_merges(_docs(spark, sf_dir))


@register(
    "bpe_encode_documents",
    oracle=bpe.encode_sql(),
    tags=("ext", "tokenizer"),
)
def q_bpe_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY — the counterpart of bpe_merges that completes
    the BPE family: encode every document under the learned merge
    table and report REAL subword token counts (doc_id, n_words,
    n_tokens) — the statistic every token-budgeted corpus pipeline
    needs (seq_packing_bpe_512 packs under these counts; whitespace
    seq_packing/chunking remain as the proxy forms).
    The encoding runs over the DISTINCT WORD domain only
    (dictionary-first); at this registered depth (16 merges) it is ONE
    nested JVM-side ``aggregate`` over the literal merge array — no
    Python touches row data, and plan depth is CONSTANT in the merge
    count (round 13: the old one-aggregate-layer-per-merge chain made
    Catalyst analysis a creeping driver-CPU constant — the r11-r13
    bench drift — and aborted outright at 128 layers); per-word counts
    broadcast-join back onto the occurrence stream.  At production
    merge counts (30k-50k) interpreted HOF evaluation walks every
    merge per word, so above FOLD_DEPTH_LIMIT encode_token_counts
    switches to one Arrow mapInPandas over the same bounded
    distinct-word domain (C-speed substring skip, ~10x faster at 1024
    merges), path-equality- and depth-1024-proven in
    tests/test_properties.py. The oracle reuses the merge recursion's
    deepest level, whose symbol lists ARE the encoded vocabulary
    (ext/bpe.py::encode_sql)."""
    from .ext import bpe

    return bpe.encode_token_counts(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# record linkage / LM scoring / retrieval (round 5)
# ---------------------------------------------------------------------------


@register(
    "fuzzy_name_pairs",
    oracle=matching.fuzzy_name_pairs_sql(),
    tags=("ext", "matching"),
)
def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance record linkage over part names, dictionary-first:
    collapse rows to distinct name values (64 vs 2 000 here; the 100-TB
    lever), block on (first char, length band) so the pair stage is an
    equi-join — never all-pairs — then band-limited Levenshtein
    (Spark's 3-arg early-abandon form) keeps pairs within distance 3.
    Row multiplicity survives as n_a/n_b."""
    p = tables.load_table(spark, sf_dir, "part").select("p_name")
    return matching.fuzzy_name_pairs(p)


@register(
    "lm_bigram_score",
    oracle=matching.lm_bigram_score_sql(),
    tags=("ext", "text"),
)
def q_lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-typicality score per document: the average
    corpus frequency of the document's word bigrams (rational form of
    the LM perplexity filter — exact integer counts, one deterministic
    division, no libm). <2-token docs re-enter via left join with the
    -1.0 sentinel."""
    return matching.lm_bigram_score(_docs(spark, sf_dir))


@register(
    "quality_gate_per_lang_head",
    oracle=matching.quality_gate_per_lang_head_sql(),
    tags=("ext", "curation", "quality"),
)
def q_quality_gate_per_lang_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language ADAPTIVE quality gate: rank each
    language's documents by the corpus-typicality score
    (lm_bigram_score — exact-integer counts, one IEEE division) and
    keep the head half, rank <= ceil(n_lang/2) in exact integer form
    (2*rk <= n_lang + 1).  Absolute-threshold gates (gopher) miss that
    score distributions differ per language; CCNet's answer is a
    per-language quantile cut, which this reproduces with a
    deterministic total order (score DESC, doc_id).

    Scale shape: the ranking is ext/ranks.py::with_group_ranks — the
    per-GROUP generalization of the distributed range-partition rank,
    new this round: a window's PARTITION BY lang serializes each
    language through one reducer (~100 languages of ~1 TB each at web
    scale), while this range-partitions on (lang, score, id), local
    row_numbers per (partition, lang), and broadcasts per-(partition,
    lang) prefix offsets — every stage partition-parallel.  The lang
    carry rides the score's existing left join (no second corpus-sized
    join); per-lang totals broadcast back."""
    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    scored = matching.lm_bigram_score(docs, carry_cols=("lang",)).withColumn(
        "_neg", -F.col("avg_bigram_freq")
    )
    # n_lang rides the ranking's own broadcast offsets frame
    # (count_col) instead of a groupBy over `ranked` that re-derived
    # the scored corpus a second time just to count it (round 16,
    # guide §1.2)
    ranked = ranks.with_group_ranks(
        scored, ["lang"], ["_neg", "doc_id"], "rk", count_col="n_lang"
    )
    return (
        ranked.filter(F.col("rk") * 2 <= F.col("n_lang") + 1)
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            "sum_freq",
            "avg_bigram_freq",
            "rk",
            "n_lang",
        )
    )


@register(
    "quality_tiers_per_lang",
    oracle=matching.quality_tiers_per_lang_sql(),
    tags=("ext", "curation", "quality"),
)
def q_quality_tiers_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full CCNet shape the head gate is a filter of: EVERY
    document tagged head/middle/tail by per-language typicality rank
    thirds (exact integer arithmetic: head 3*rk <= n, middle
    3*rk <= 2n) — CCNet trains on head+middle and keeps tail for
    contrastive/quality-classifier data, so the TAGGING, not just the
    cut, is the deliverable.  Same scored frame, same
    with_group_ranks distributed ranking, same deterministic
    (score DESC, doc_id) order as quality_gate_per_lang_head."""
    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    scored = matching.lm_bigram_score(docs, carry_cols=("lang",)).withColumn(
        "_neg", -F.col("avg_bigram_freq")
    )
    # same count_col seam as quality_gate_per_lang_head (round 16)
    ranked = ranks.with_group_ranks(
        scored, ["lang"], ["_neg", "doc_id"], "rk", count_col="n_lang"
    )
    rk3 = F.col("rk") * 3
    return (
        ranked.select(
            "doc_id",
            "lang",
            "avg_bigram_freq",
            "rk",
            F.col("n_lang").cast("long").alias("n_lang"),
            F.when(rk3 <= F.col("n_lang"), F.lit("head"))
            .when(rk3 <= F.col("n_lang") * 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("tier"),
        )
    )


@register(
    "bm25_topk",
    oracle=matching.bm25_topk_sql(),
    tags=("ext", "text"),
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 retrieval for a fixed query-term set with rational
    (log-free) Robertson idf. Query terms are filtered BEFORE the
    exploded aggregate so only their occurrences shuffle (inverted-index
    probe shape, not index build); df and N/avgdl broadcast back; final
    top-k is TakeOrdered. Per-doc score sums accumulate in
    DECIMAL(28,6) so shuffle order can't move the hash."""
    return matching.bm25_topk(_docs(spark, sf_dir))


@register(
    "kmeans_embeddings_2iter",
    oracle=iterative.kmeans_cluster_stats_sql(),
    tags=("ext", "ml", "iterative"),
)
def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means (k=8, 2 rounds, seeds = vec_id < 8) over the
    embedding table, bit-exact through every iteration via scaled-
    integer distances and floor-division centroid updates
    (ext/iterative.py). Per round: a broadcast centroid join feeds the
    distance argmin and one map-side-combined (cluster, pos) aggregate
    re-broadcasts as the next centroid frame — MLlib's broadcast-loop
    topology with no driver-side vector state at all."""
    return iterative.kmeans_cluster_stats(_emb(spark, sf_dir))


@register(
    "semdedup_embeddings",
    oracle=similarity.semdedup_auto_sql(),
    tags=("ext", "dedup", "ml", "iterative"),
)
def q_semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-then-dedup): k-means the embedding space with
    the oracle-exact Lloyd loop, then drop within-cluster near-dups at
    cosine >= 0.4, keeping the lowest id per witness pair. One row per
    vector (vec_id, cluster, keep). The clustering is what bounds the
    quadratic: the pair stage is cluster-co-partitioned, and k
    SELF-SCALES with the corpus (k=None -> semdedup_k_for(N) ~ N/256,
    the num_planes_for pattern; every fixture resolves to the
    historical 8) so per-cluster load stays constant as N grows. The
    oracle is the count-gated union over the k values the corpus size
    could select, sharing the Lloyd CTEs with kmeans_embeddings_2iter
    and the left-to-right double cosine with the similarity family.
    The k the corpus selects is checked against the oracle's branch
    ceiling (semdedup_k_oracle_checked) so an oversized fixture fails
    loudly on BOTH sides of the pair instead of diverging."""
    k = similarity.semdedup_k_oracle_checked(_emb_count(spark, sf_dir))
    return similarity.semdedup_keep_flags(_emb(spark, sf_dir), k=k)


@register(
    "pagerank_word_graph",
    oracle=iterative.word_pagerank_sql(),
    tags=("ext", "graph", "iterative"),
)
def q_pagerank_word_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 rounds, damping 0.85) over the word co-occurrence
    graph: edge build is a doc_id-co-partitioned self-join of distinct
    (doc, token) pairs; ranks iterate in fixed-point integer mass so
    both engines agree bit-for-bit after every round. Rank/out-weight
    sides broadcast at vocabulary scale; contribution sums partial-
    aggregate on dst before the shuffle."""
    return iterative.word_pagerank(_docs(spark, sf_dir))


@register(
    "mix_langs_temperature",
    oracle=curation.temperature_mix_sql(),
    tags=("ext", "curation", "sampling"),
)
def q_mix_langs_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted language mixing (alpha = 0.5, budget 200):
    per-language sqrt-count quotas (floor-scaled BIGINT weights +
    integer floordiv) and a deterministic md5-lottery draw per
    language, reported as per-domain quota + sampled-membership
    checksum. The multilingual rebalancer (XLM-R/mT5 style) as an
    oracle-exact query."""
    return curation.temperature_mix(
        tables.load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    )


@register(
    "sample_token_budget",
    oracle=curation.sample_token_budget_sql(),
    tags=("ext", "curation", "sampling"),
)
def q_sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sampling (5 000 tokens per language): greedy
    first-fit in deterministic md5-lottery order — the step that turns
    a pretraining mix's per-domain token targets into a concrete,
    reproducible document set. The exclusive running sum over BIGINT
    whitespace token counts is ranks.with_group_prefix_sums (round 13:
    range-partitioned per-group form — no one-reducer-per-language
    window); emits the selected docs with their exclusive prior sums
    so the cut is auditable."""
    return curation.sample_token_budget(
        tables.load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
    )


@register(
    "sample_domain_quota",
    oracle=curation.sample_domain_quota_sql(),
    tags=("ext", "curation", "sampling"),
)
def q_sample_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain frequency capping (16 docs per source): the
    RefinedWeb/C4-style curation knob that stops any one host from
    dominating the pretraining mix — a deterministic md5-lottery rank
    per source with the take rewritten to WindowGroupLimit (map-side
    top-cap heaps, so the shuffle never carries a hot domain's full
    page set).  Completes the mix family: per-language token budget
    (sample_token_budget), temperature re-balancing
    (mix_langs_temperature), and now per-source count caps."""
    return curation.sample_domain_quota(
        tables.load_table(spark, sf_dir, "documents").select("doc_id", "source")
    )


@register(
    "dedup_prefix_filter",
    oracle=dedup.ngram_jaccard_pairs_sql(max_df=None),
    tags=("ext", "dedup"),
)
def q_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT uncapped Jaccard >= 0.5 pairs via AllPairs/PPJoin prefix
    filtering: only each document's rarest n - ceil(n/2) + 1 shingles
    (global df order) enter the self-join, losslessly — the oracle is
    the NAIVE full self-join, so a too-short prefix cannot hide. The
    frequency order neutralizes hot shingles without the df cap's
    approximation (compare dedup_ngram_jaccard, whose capped universe
    changes the answer)."""
    return dedup.prefix_filter_pairs(_docs(spark, sf_dir))


@register(
    "hard_negatives_topk",
    oracle=similarity.hard_negatives_topk_sql(k=TOPK, n_queries=N_QUERIES),
    tags=("ext", "similarity", "ml"),
)
def q_hard_negatives_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for metric learning: per anchor (the
    10-query set), the 5 most-cosine-similar vectors with a DIFFERENT
    label — label mismatch filtered before the rank so every slot is a
    negative. Exact baseline on the brute_force_topk shape (anchors
    collected once, one corpus scan, the all-pairs kernel); at corpus
    scale the candidate join swaps for the registered LSH/IVF bucket
    paths with the same filter + rank tail."""
    emb = _emb(spark, sf_dir)
    return similarity.hard_negatives_topk(
        emb, emb.filter(F.col("vec_id") < N_QUERIES), k=TOPK
    )


@register(
    "inverted_index_postings",
    oracle="""
    WITH terms AS (
      SELECT DISTINCT term, doc_id FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      WHERE term <> ''
    ), ranked AS (
      SELECT term, doc_id,
             count(*) OVER (PARTITION BY term)::BIGINT AS df,
             row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rk
      FROM terms
    )
    SELECT term, df,
           string_agg(doc_id, ',' ORDER BY doc_id) AS postings_head
    FROM ranked WHERE rk <= 20 GROUP BY 1, 2
    """,
    tags=("ext", "text", "index"),
)
def q_inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (the IR index-construction shape bm25_topk
    probes against): one row per term with its document frequency and
    the first 20 doc ids as a comma string — the postings-list head a
    sharded index would store per term. The per-term cap applies via
    a rank BEFORE any list materializes, so no unbounded postings list
    ever exists in memory; df rides the same term partitioning as the
    rank (one shuffle total).  Lists never cross the driver."""
    docs = _docs(spark, sf_dir)
    terms = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.col("text"), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    w_term = Window.partitionBy("term")
    w_rank = Window.partitionBy("term").orderBy("doc_id")
    ranked = terms.select(
        "term",
        "doc_id",
        F.count("*").over(w_term).cast("long").alias("df"),
        F.row_number().over(w_rank).alias("rk"),
    ).filter(F.col("rk") <= 20)
    return ranked.groupBy("term", "df").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings_head")
    )


@register(
    "dedup_cluster_canonical",
    oracle=f"""
    WITH RECURSIVE {dedup.components_cte_sql()},
    j AS (SELECT c.component, d.doc_id, d.n_chars
          FROM comp c JOIN documents d ON d.doc_id = c.doc_id)
    SELECT component, doc_id AS canonical_doc_id, n_members, max_chars FROM (
      SELECT component, doc_id,
             count(*) OVER (PARTITION BY component)::BIGINT AS n_members,
             max(n_chars) OVER (PARTITION BY component)::BIGINT AS max_chars,
             row_number() OVER (PARTITION BY component
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM j)
    WHERE rn = 1
    """,
    tags=("ext", "dedup", "iterative"),
)
def q_dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-member selection per near-duplicate cluster — the
    "which copy do we keep" policy real curation uses (longest text
    wins, ties to the smallest id), where dedup_keep_set's keep-first
    policy keeps the minimum id regardless of quality. Components from
    the MinHash-LSH pair graph (graph.py min-label propagation); the
    canonical pick is ONE map-side-combined aggregate over (component,
    quality, id) min-structs, never a per-cluster sort."""
    from .graph import connected_components

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(docs.select("doc_id"), pairs, id_col="doc_id").select(
        F.col("id").alias("doc_id"), F.col("label").alias("component")
    )
    chars = tables.load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = comp.join(chars, "doc_id")
    return j.groupBy("component").agg(
        F.min(
            F.struct((-F.col("n_chars")).alias("neg"), F.col("doc_id").alias("d"))
        )["d"].alias("canonical_doc_id"),
        F.count("*").cast("long").alias("n_members"),
        F.max("n_chars").cast("long").alias("max_chars"),
    ).select("component", "canonical_doc_id", "n_members", "max_chars")


@register(
    "pq_codes_embeddings",
    oracle=similarity.pq_codes_sql(),
    tags=("ext", "similarity", "storage"),
)
def q_pq_codes_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding of the embedding table: 8
    subspaces x 16 centroids -> one packed 32-bit code plus the exact
    integer reconstruction error per vector. The compression layer an
    IVF-PQ vector index stores at 100-TB embedding scale (256-byte
    float vectors become 4-byte codes); codebook broadcast, distance
    partials map-side combined, scaled-integer argmin bit-exact in
    both engines (ext/similarity.pq_codes)."""
    return similarity.pq_codes(_emb(spark, sf_dir))


@register(
    "entity_resolution_parts",
    oracle=f"""
    WITH RECURSIVE names AS (
      SELECT p_name AS name, count(*) AS n_rows FROM part GROUP BY 1
    ),
    pairs AS (
      SELECT a.name AS name_a, b.name AS name_b
      FROM names a JOIN names b
        ON substr(a.name, 1, 1) = substr(b.name, 1, 1)
       AND abs(length(a.name) - length(b.name)) <= {matching.FUZZY_LEN_BAND}
       AND a.name < b.name
       AND levenshtein(a.name, b.name) <= {matching.FUZZY_MAX_DIST}
    ),
    edges AS (
      SELECT name_a AS src, name_b AS dst FROM pairs
      UNION
      SELECT name_b, name_a FROM pairs
    ),
    reach(name, label) AS (
      SELECT name, name FROM names
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.name
    ),
    comp AS (SELECT name, min(label) AS cluster FROM reach GROUP BY 1),
    j AS (SELECT c.cluster, n.name, n.n_rows
          FROM comp c JOIN names n ON n.name = c.name)
    SELECT cluster, name AS canonical_name, n_names, n_rows_total FROM (
      SELECT cluster, name,
             count(*) OVER (PARTITION BY cluster)::BIGINT AS n_names,
             sum(n_rows) OVER (PARTITION BY cluster)::BIGINT AS n_rows_total,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY n_rows DESC, name) AS rn
      FROM j)
    WHERE rn = 1
    """,
    tags=("ext", "matching", "iterative"),
)
def q_entity_resolution_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution — the composed pipeline the
    building blocks exist for: blocked band-limited Levenshtein pairs
    over the distinct part-name value domain (fuzzy_name_pairs' shape),
    transitive closure via min-label connected components (variant
    spellings chain), and a canonical representative per cluster (most
    source rows wins, ties to the lexicographically-first name). One
    row per resolved entity: (cluster, canonical_name, n_names,
    n_rows_total).

    Scale: every stage works on the VALUE domain (64 names vs 2000
    rows here; billions -> millions at 100 TB), so the quadratic and
    iterative stages never see row multiplicity — it re-enters only as
    the n_rows weights."""
    from .graph import connected_components

    names = (
        tables.load_table(spark, sf_dir, "part")
        .groupBy(F.col("p_name").alias("name"))
        .agg(F.count("*").cast("long").alias("n_rows"))
        .localCheckpoint()  # ONE part scan+aggregate: feeds the pair
        # stage (both join sides), the vertex set, and the join back
    )
    pairs = matching.fuzzy_name_pairs(
        tables.load_table(spark, sf_dir, "part").select("p_name"), names=names
    ).select(F.col("name_a").alias("src"), F.col("name_b").alias("dst"))
    comp = connected_components(
        names.select(F.col("name")), pairs, id_col="name"
    ).select(F.col("id").alias("name"), F.col("label").alias("cluster"))
    j = comp.join(names, "name")
    return (
        j.groupBy("cluster")
        .agg(
            F.min(
                F.struct((-F.col("n_rows")).alias("neg"), F.col("name").alias("nm"))
            )["nm"].alias("canonical_name"),
            F.count("*").cast("long").alias("n_names"),
            F.sum("n_rows").cast("long").alias("n_rows_total"),
        )
        .select("cluster", "canonical_name", "n_names", "n_rows_total")
    )


@register(
    "dedup_cdc_chunks",
    oracle=dedup.cdc_chunk_stats_sql(),
    tags=("ext", "dedup", "cdc"),
)
def q_dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking duplicate statistics — the rsync/LBFS
    primitive as a corpus operator: a fixed-window rolling hash marks
    chunk boundaries wherever H % 64 == 0 (min spacing 32), so an
    INSERTION shifts downstream chunk offsets but not their contents,
    and chunk-hash dedup catches shifted duplication that fixed-stride
    windows structurally miss. Per doc: n_chunks / n_dup_chunks /
    dup_chars (dup = chunk md5 present in >= 2 distinct docs). The
    boundary math is per-row JVM array arithmetic (unrolled 8-term
    polynomial — no fold, stays in codegen); the only shuffles are the
    chunk-hash df aggregate and the join back."""
    return dedup.cdc_chunk_stats(_docs(spark, sf_dir))


@register(
    "dedup_exact_normalized",
    # composes the SHARED builders: the normalization SQL comes from
    # textstats.normalize_text_sql and the dedup aggregate from
    # dedup.exact_dedup_sql over it — a change to either shared piece
    # lands in this oracle automatically instead of drifting
    oracle=f"""
    SELECT canonical_id AS keep_id, n_docs::BIGINT AS n_copies,
           fingerprint AS content_hash
    FROM ({dedup.exact_dedup_sql(
        table=f"({textstats.normalize_text_sql()})", text="norm_text"
    )})
    """,
    tags=("ext", "dedup", "curation"),
)
def q_dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup AFTER C4-style normalization — the standard first
    pass of every curation pipeline (dedup_exact's raw-byte hash
    misses case/punctuation/whitespace variants of the same content;
    this catches them while staying one map-side-combined hash
    aggregate). Keep-first policy (min doc id per normalized-content
    hash), copy count per group retained for the dedup report. The
    normalization is the shared text_normalize expression — pure
    codegen, so at 100 TB this is STILL just one scan + one combine,
    the cheapest dedup money can buy."""
    from .ext.textstats import normalize_text

    docs = _docs(spark, sf_dir)
    groups = dedup.exact_dedup(normalize_text(docs), text_col="norm_text")
    return groups.select(
        F.col("canonical_id").alias("keep_id"),
        F.col("n_docs").cast("long").alias("n_copies"),
        F.col("fingerprint").alias("content_hash"),
    )


@register(
    "supplier_lead_time",
    oracle="""
    SELECT l.l_suppkey AS suppkey, count(*)::BIGINT AS n_shipments,
           (sum((epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
                // 86400000000)::DOUBLE / count(*)) AS avg_lead_days,
           max((epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
               // 86400000000)::BIGINT AS max_lead_days,
           sum(CASE WHEN (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
                         // 86400000000 > 90
                    THEN 1 ELSE 0 END)::BIGINT AS n_late_90d
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
    """,
    tags=("ext", "relational", "ops"),
)
def q_supplier_lead_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain lead-time analytics: per supplier, shipment count,
    average order-to-ship lead in whole days (exact integer day sums,
    one final double division), worst case, and the count beyond 90
    days — the operational complement of the Q4-shaped late-order
    EXISTS. Both date columns are TIMESTAMP_NTZ, so the difference is
    taken with NTZ-native timestampdiff — pure wall-clock arithmetic,
    timezone-proof (a cast to TIMESTAMP would shift each side by the
    session offset and a DST boundary inside the lead window would
    corrupt the day count). Orders join key-pruned; aggregate
    partial-combines on the supplier key."""
    li = tables.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = tables.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    lead_days = F.expr(
        "CAST(timestampdiff(MICROSECOND, o_orderdate, l_shipdate)"
        " div 86400000000 AS BIGINT)"
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_suppkey").alias("suppkey"), lead_days.alias("lead_days")
    )
    return j.groupBy("suppkey").agg(
        F.count("*").cast("long").alias("n_shipments"),
        (F.sum("lead_days").cast("double") / F.count("*")).alias("avg_lead_days"),
        F.max("lead_days").cast("long").alias("max_lead_days"),
        F.sum(F.when(F.col("lead_days") > 90, 1).otherwise(0))
        .cast("long")
        .alias("n_late_90d"),
    )


@register(
    "dedup_span_8gram",
    oracle=dedup.span_dup_stats_sql(),
    tags=("ext", "dedup", "curation"),
)
def q_dedup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document verbatim-span duplication (Lee et al. 2022
    ExactSubstr, relational form): per document, how many of its
    overlapping 8-word gram positions occur verbatim in ANOTHER
    document — the span-level memorization-risk metric the MinHash
    (whole-doc) and CDC (chunk) families don't measure. Gram positions
    hash to h60 and never shuffle as text; the >=2-distinct-docs gram
    set is one hash-keyed aggregate; exact integer ppm output."""
    return dedup.span_dup_stats(_docs(spark, sf_dir))


@register(
    "dedup_image_phash",
    oracle=imagedup.image_phash_pairs_sql(),
    tags=("ext", "dedup", "multimodal"),
)
def q_dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs by perceptual dHash (VERDICT r9 ask
    #1): real byte decode — format routed BMP / PPM / PNG by id, so
    pixel-identical variants arrive as DIFFERENT file types and dedup
    is cross-format (round 11) — -> integer luma grayscale -> 9x8
    fixed-point bilinear resample -> 64-bit gradient-sign hash as four
    16-bit words -> banded Hamming equi-join (pigeonhole-exact for
    distance <= 3, never all-pairs, band words df-capped against
    degenerate corpora) -> exact popcount(xor) filter.  The image-side
    dedup modality of a multimodal pipeline, composing three proven
    families: the multimodal byte codecs, the round-9 resample
    kernels, and the simhash banded-pair machinery."""
    return imagedup.image_phash_pairs(_docs(spark, sf_dir))


@register(
    "dedup_audio_fingerprint",
    oracle=audiodup.audio_fp_pairs_sql(),
    tags=("ext", "dedup", "multimodal"),
)
def q_dedup_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs by energy-gradient fingerprint
    (round 11 — completes the dedup modality set: text, image, AUDIO):
    real RIFF/WAVE PCM16 encode + chunk-walking decode -> 65 near-equal
    time bins -> BIGINT bin energies -> 64 gradient-sign bits as four
    16-bit words (Haitsma-Kalker 2002, integer-exact single-frame
    form) -> the SHARED banded Hamming machinery (pigeonhole-exact for
    distance <= 3, band-word df cap, exact popcount filter).  The pair
    stage and oracle tail are literally the image modality's —
    fingerprint shuffles 4 ints per clip, never samples."""
    return audiodup.audio_fp_pairs(_docs(spark, sf_dir))


@register(
    "dedup_video_framehash",
    oracle=videodup.video_framehash_pairs_sql(),
    tags=("ext", "dedup", "multimodal"),
)
def q_dedup_video_framehash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate pairs by sampled-frame content hashing
    (round 11 — completes the dedup modality set: text, image, audio,
    VIDEO): real RIFF/AVI demux -> sample-then-decode of k uniformly
    sampled MJPEG frames -> per-frame 60-bit md5 content hash over the
    canonical block grid -> (slot, fhash) equi-join + agreement count
    (>= half the slots; exact dups agree on all).  Shot-level video
    dedup expressed with the signature-agreement machinery; the join
    carries only true frame matches (60-bit content hash), shuffle
    moves ints per sampled frame, never pixels."""
    return videodup.video_framehash_pairs(_docs(spark, sf_dir))


@register(
    "dedup_multimodal_keep_set",
    oracle=f"""
    WITH RECURSIVE all_pairs AS (
      SELECT id_a, id_b FROM ({dedup.minhash_lsh_pairs_sql()})
      UNION
      SELECT id_a, id_b FROM ({imagedup.image_phash_pairs_sql()})
      UNION
      SELECT id_a, id_b FROM ({audiodup.audio_fp_pairs_sql()})
      UNION
      SELECT id_a, id_b FROM ({videodup.video_framehash_pairs_sql()})
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM all_pairs
      UNION
      SELECT id_b, id_a FROM all_pairs
    ),
    reach(id, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
    ),
    comp AS (SELECT id AS doc_id, min(label) AS component FROM reach GROUP BY id)
    SELECT doc_id, component,
           (CASE WHEN doc_id = component THEN 1 ELSE 0 END)::BIGINT AS keep
    FROM comp
    """,
    tags=("ext", "dedup", "multimodal", "iterative"),
)
def q_dedup_multimodal_keep_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production drop-list ACROSS ALL FOUR MODALITIES (round 11):
    a document is a duplicate if it near-duplicates another by TEXT
    (MinHash-LSH), IMAGE (perceptual dHash), AUDIO (energy-gradient
    fingerprint), or VIDEO (sampled-frame agreement) — the union of
    the four pair graphs, transitively closed by min-label connected
    components, keep = the component's minimum id.  This is the
    composition a real multimodal ingest runs: each modality's pair
    join is the registered bucketed/banded plan unchanged (no
    all-pairs anywhere), the union is edge-count-sized, and label
    propagation is the shared Pregel-style loop.

    Round 12 (VERDICT r11 ask #3): the three media signature sets come
    from ONE fused Arrow decode pass (ext/mmsig.py), localCheckpointed
    once and projected per modality — the corpus payload decode, the
    dominant cost at 100 TB, runs once instead of three times (text
    MinHash stays JVM-side; see the mmsig module docstring).  Oracle:
    the same four pair SQLs unioned under one recursive-CTE
    reachability — unchanged, because fused signatures are computed
    by the identical per-doc helpers."""
    from .ext import mmsig
    from .graph import connected_components

    docs = _docs(spark, sf_dir)
    sigs = mmsig.multimodal_signatures(docs).localCheckpoint()
    pairs = mmsig.fused_pair_graph(docs, sigs)
    comp = connected_components(
        docs.select("doc_id"),
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        id_col="doc_id",
    )
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("component"),
        F.when(F.col("id") == F.col("label"), 1).otherwise(0)
        .cast("long")
        .alias("keep"),
    )


@register(
    "multimodal_quality_gate",
    oracle=mmquality.multimodal_quality_gate_sql(),
    tags=("ext", "multimodal", "curation"),
)
def q_multimodal_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher-gate analog for MEDIA (round 11): per document,
    integer-exact quality signals from REAL decodes of all three media
    variants — decoded distinct-color count + pixel count (image,
    format-routed BMP/PPM/PNG), silence/clipping ppm over decoded PCM
    (audio), frame count from the cross-validated AVI demux (video) —
    composed into one five-rule keep flag.  One Arrow-batched decode
    stage emitting seven ints per doc; ppm math and the conjunction
    are codegen'd column expressions.  Oracle: the three shared law
    CTEs, prefix-namespaced into one WITH block."""
    return mmquality.multimodal_quality_gate(_docs(spark, sf_dir))


@register(
    "multimodal_embed_topk",
    oracle=imagedup.image_embed_topk_sql(),
    tags=("ext", "multimodal", "similarity", "iterative"),
)
def q_multimodal_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal -> ANN composition (VERDICT r10 ask #4): decoded
    pixels ARE the feature vector — real format-routed byte decode ->
    integer luma -> 9x8 bilinear grid -> 72-dim [0,1] embedding — and
    trained-IVF (oracle-exact Lloyd fit, broadcast probe ranking, cell
    equi-join, exact cosine re-rank) searches them for each query
    image's top-5 neighbors.  Pixel-identical variant groups make the
    structure self-validating: a query's own variants must surface at
    sim 1.0 through decode, embed, train, and search.  Pixels never
    leave the decode workers; the index search stage moves cells and
    72-double vectors, plan-gated like similarity_topk_ivf_trained."""
    return imagedup.image_embed_topk(_docs(spark, sf_dir))


@register(
    "dedup_winnowing",
    oracle=dedup.winnowing_pairs_sql(),
    tags=("ext", "dedup", "curation"),
)
def q_dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint near-dup pairs (Schleimer et al. 2003, the
    MOSS algorithm): rightmost-min-of-window selection over word-4-gram
    hashes samples ~2/(w+1) of positions while GUARANTEEING any shared
    verbatim run of >= 7 words is caught — the guarantee-backed middle
    ground between every-gram span dedup (dedup_span_8gram, full index
    cost) and MinHash (dedup_minhash_lsh, whole-doc similarity only).
    The selection is one per-document window aggregate (min(struct(gh,
    -p)), doc-bounded sort); the pair stage is the capped inverted
    index — docs meet only on shared fingerprints, hot fingerprints
    leave via a broadcast anti-join before the self-join."""
    return dedup.winnowing_pairs(_docs(spark, sf_dir))


@register(
    "dedup_span_extents",
    oracle=dedup.span_dup_extents_sql(),
    tags=("ext", "dedup", "curation"),
)
def q_dedup_span_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL verbatim dup-span extents (VERDICT r9 ask #4) — the
    ExactSubstr output shape: adjacent duplicated 8-gram positions
    merged by the gaps-and-islands rewrite into (doc_id, span_start,
    span_len) rows, the spans a curation pipeline actually cuts.
    Shares dedup_span_8gram's gram CTE (positions hash to h60, gram
    text never shuffles); the islands window partitions by document,
    so the merge cost is bounded by doc length at any corpus size."""
    return dedup.span_dup_extents(_docs(spark, sf_dir))


@register(
    "dedup_span_rewrite",
    oracle=dedup.span_dup_rewrite_sql(),
    tags=("ext", "dedup", "curation"),
)
def q_dedup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr TRANSFORMATION (Lee et al. 2022): the rewritten
    corpus with every cross-document duplicated 8-gram span cut —
    (doc_id, n_words, n_kept, kept_text), kept_text '' when the whole
    document is verbatim-duplicated. Shares the span family's gram CTE
    (hashes shuffle, never gram text); covered-index explode touches
    only duplicated positions; per-doc ordered reconstruction is
    doc-length-bounded."""
    return dedup.span_dup_rewrite(_docs(spark, sf_dir))


@register(
    "dsir_importance_weights",
    oracle=curation.dsir_importance_sql(),
    tags=("ext", "curation", "sampling"),
)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023) importance weights for target-matched
    pretraining data selection: hashed-bigram feature models (8192
    buckets, add-one smoothed) fit on a target slice vs the raw
    remainder; every raw document scored by its feature likelihood
    ratio, rational-arithmetic variant (exact BIGINT numerator /
    denominator columns + one pinned double). The bucket hashing
    bounds BOTH models to <= 8192 rows at ANY corpus size, so the
    model joins broadcast forever — the paper's trick as a plan
    property."""
    return curation.dsir_importance(_docs(spark, sf_dir))


@register(
    "sample_cluster_balanced",
    oracle=iterative.kmeans_balanced_sample_sql(),
    tags=("ext", "sampling", "ml", "iterative"),
)
def q_sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced deterministic sample over the embedding space:
    oracle-exact Lloyd k-means, then exactly 16 vectors per cluster by
    a cross-engine md5 pseudo-random rank — the diversity-preserving
    draw a curation pipeline uses when uniform sampling would be
    dominated by the majority mode. The per-cluster take rewrites to
    WindowGroupLimit, bounding the rank shuffle at k x 16 rows at any
    corpus size (plan-gated)."""
    return iterative.kmeans_balanced_sample(_emb(spark, sf_dir))


@register(
    "k_anonymity_audit",
    oracle=textclean.k_anonymity_audit_sql(),
    tags=("ext", "textclean", "privacy"),
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over the release
    quasi-identifiers (lang, source, 50-char length bucket): every
    equivalence class smaller than k=5, with its re-identification risk
    ceiling in exact-integer ppm — the privacy gate a data release runs
    beside the PII regex scrub (which removes direct identifiers;
    k-anonymity measures LINKING risk from the attributes that remain).
    One map-side-combined aggregate over the generalized keys + a
    scan-side size filter; no join, one shuffle."""
    docs = tables.load_table(spark, sf_dir, "documents")
    return textclean.k_anonymity_audit(docs)


@register(
    "kmv_intersection_users",
    oracle=sketches.kmv_intersection_sql(),
    tags=("ext", "sketch"),
)
def q_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / theta sketch (Bar-Yossef et al. 2002): distinct-count
    estimates for the view-users and purchase-users sets AND their
    INTERSECTION — the operation HLL registers cannot express (register
    merges are union-only; inclusion-exclusion error explodes when the
    overlap is small). Each sketch is k=64 minimum key hashes via
    distributed top-k (TakeOrderedAndProject — never a single-reducer
    sort); the union sketch carries membership flags so the theta
    intersection (rho / theta) needs no further join; exact counts ride
    along for accuracy reporting, the hll_distinct convention."""
    ev = tables.load_table(spark, sf_dir, "events")
    return sketches.kmv_intersection(ev)


@register(
    "decontaminate_semantic",
    oracle=similarity.semantic_decontaminate_auto_sql(),
    tags=("ext", "similarity", "curation"),
)
def q_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination — the embedding-level complement to
    decontaminate_5gram: every train vector whose cosine to some
    held-out benchmark vector (vec_id % 97 == 0, the BENCH_MOD
    convention) reaches 0.4, with its best-matching benchmark id.
    Candidates via the BIPARTITE multi-table multi-probe LSH join
    (train probes own + hamming-1 buckets, bench sits in its own) —
    never train x bench; the per-train max absorbs duplicate
    candidates, plane count self-scales with count-gated oracle
    branches (count via the session _emb_count cache — the builder's
    own fallback count() re-ran a ~0.5s metadata job per build;
    VERDICT r14's minor note, closed r15)."""
    return similarity.semantic_decontaminate(
        _emb(spark, sf_dir),
        num_planes=similarity.num_planes_for(_emb_count(spark, sf_dir)),
    )


EPOCH_SEED = "ep1"
EPOCH_BATCH = 64


@register(
    "epoch_shuffle_batches",
    oracle=f"""
    SELECT doc_id, shuffle_rank,
           ((shuffle_rank - 1) // {EPOCH_BATCH})::BIGINT AS batch_id
    FROM (
      SELECT doc_id,
             row_number() OVER (
               ORDER BY md5('{EPOCH_SEED}' || doc_id::VARCHAR), doc_id
             )::BIGINT AS shuffle_rank
      FROM documents)
    """,
    tags=("ext", "sampling"),
)
def q_epoch_shuffle_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle + micro-batch assignment — the
    global reshuffle every training run does before packing: order the
    corpus by md5(seed || doc_id) (seeded, reproducible, uncorrelated
    with ingest order), assign exact 1-based global ranks, and cut
    fixed-size micro-batches.  The rank is ext/ranks.py's distributed
    range-partition ranking (repartitionByRange + per-partition
    row_number + broadcast offsets) — NO single-reducer global sort,
    the scale property a naive Window.orderBy would forfeit; the only
    serial work is the cumulative sum over the #partitions-row count
    frame.  New epoch = new seed literal."""
    docs = _docs(spark, sf_dir).select("doc_id")
    keyed = docs.withColumn(
        "hkey",
        F.md5(F.concat(F.lit(EPOCH_SEED), F.col("doc_id").cast("string"))),
    )
    ranked = ranks.with_global_ranks(keyed, ["hkey", "doc_id"], rank_col="shuffle_rank")
    return ranked.select(
        "doc_id",
        F.col("shuffle_rank").cast("long").alias("shuffle_rank"),
        F.expr(f"(shuffle_rank - 1) div {EPOCH_BATCH}")
        .cast("long")
        .alias("batch_id"),
    )


@register(
    "url_canonicalize",
    oracle=urls.url_canonicalize_sql(),
    tags=("ext", "curation", "urls"),
)
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (VERDICT r13 ask #6): scheme/case/www/
    port/trailing-slash/fragment normalization as pure codegen'd
    anchored-regex string expressions — no UDF, no shuffle; the whole
    chain folds into the parquet scan's projection.  One row per
    document over the six-shape fixture URL law (ext/urls.py), whose
    variants 0 and 1 are distinct raw strings that MUST collapse to
    the same canonical URL — the publisher-identity collapse every
    per-domain curation rule depends on (RefinedWeb/C4 key their caps
    on canonicalized hosts)."""
    return urls.url_canonicalize(tables.load_table(spark, sf_dir, "documents"))


@register(
    "url_domain_topk",
    oracle=urls.url_domain_topk_sql(),
    tags=("ext", "curation", "urls"),
)
def q_url_domain_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain publisher-concentration report over CANONICAL hosts:
    doc counts, distinct langs, total chars, top-10 by count — the
    stats front door to sample_domain_quota's cap decisions.  Scale
    shape: canonicalization rides the scan projection, the aggregate
    map-side combines on the host key, and the rank runs over the
    AGGREGATED per-host frame (rows = distinct hosts, never
    documents), so the single-partition window is bounded by publisher
    cardinality, not corpus size."""
    return urls.url_domain_topk(tables.load_table(spark, sf_dir, "documents"))


@register(
    "dedup_url_exact",
    oracle=urls.dedup_url_exact_sql(),
    tags=("ext", "dedup", "curation", "urls"),
)
def q_dedup_url_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by CANONICAL URL — the C4-style web-corpus first
    pass, and the direct consumer of the canonicalizer's collapse:
    the dedup URL law gives each page six raw shapes merging into
    exactly three groups — {https+www, uppercase+:443+slash},
    {userinfo+:80+fragment, scheme-less+slash}, and (round 15) the
    :8080 pair that merges ONLY through tracker stripping (leading
    gclid / middle utm_source / trailing utm_campaign — all three
    strip positions) — while the groups stay mutually distinct; a
    raw-string dedup finds ZERO groups on this corpus.
    One map-side-combined hash aggregate on the canonical URL (the
    dedup_exact shape); canonicalization rides the scan projection."""
    return urls.dedup_url_exact(tables.load_table(spark, sf_dir, "documents"))


@register(
    "sample_domain_quota_canonical",
    oracle=curation.sample_domain_quota_sql(
        table=(
            "(WITH " + urls._fixture_url_sql("documents") + ",\n"
            + urls._parts_sql()
            + "\n SELECT doc_id, host FROM parts) canon"
        ),
        group_col="host",
    ),
    tags=("ext", "curation", "sampling", "urls"),
)
def q_sample_domain_quota_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composition the URL family exists for: per-domain frequency
    capping keyed on the CANONICAL host instead of a raw source label
    — RefinedWeb/C4 key their caps on canonicalized hosts precisely
    because raw URL strings fragment one publisher into many
    (www/case/port/slash variants would each get their own cap).
    Canonicalization rides the scan projection into the SAME
    WindowGroupLimit-bounded lottery-rank take as sample_domain_quota:
    a hot publisher still costs map-side top-cap heaps, never a
    corpus-sized sort partition."""
    docs = urls.with_fixture_urls(
        tables.load_table(spark, sf_dir, "documents").select("doc_id", "source")
    ).select("doc_id", urls.canonical_host(F.col("url")).alias("host"))
    return curation.sample_domain_quota(docs, group_col="host")


@register(
    "retrieval_rrf_fusion",
    oracle=matching.rrf_fusion_topk_sql(),
    tags=("ext", "similarity", "retrieval"),
)
def q_retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: Reciprocal Rank Fusion of the BM25 term
    ranking and the dense cosine ranking over the union of each
    system's top-20, fused top-10 — how production RAG combines
    lexical and vector search without score calibration (ranks fuse;
    scores don't).  Both candidate pools are bounded before the
    fusion, so the full-outer union and rank tail run on <= 40 rows
    however large the corpus; at scale the dense side swaps brute
    force for the registered IVF/LSH paths with the same
    (neighbor_id, rank) contract."""
    return matching.rrf_fusion_topk(_docs(spark, sf_dir), _emb(spark, sf_dir))


N_CURRICULUM_PHASES = 4


@register(
    "curriculum_quality_phases",
    oracle=f"""
    WITH g AS ({{GATE_SQL}})
    SELECT doc_id, fail_mask, alpha_ppm, ttr_ppm,
           row_number() OVER w::BIGINT AS curriculum_rank,
           ntile({N_CURRICULUM_PHASES}) OVER w AS phase
    FROM g
    WINDOW w AS (ORDER BY fail_mask ASC, alpha_ppm DESC, ttr_ppm DESC,
                 doc_id ASC)
    """.replace("{GATE_SQL}", textstats.gopher_quality_gate_sql()),
    tags=("ext", "curation", "ordering"),
)
def q_curriculum_quality_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ascending curriculum ordering: rank the corpus
    cleanest-first — fewest Gopher-gate failures, then highest
    alphabetic fraction, then highest type-token ratio, id tiebreak —
    and cut it into 4 equal training phases (curriculum learning's
    data-ordering step: clean text early, the noisy tail late).  The
    global rank is ext/ranks.py's range-partitioned form (NO
    single-reducer window at any corpus size) and the phase is the
    integer-exact NTILE arithmetic from (rank, n) — bit-identical to
    the window-function form, so the oracle is plain row_number +
    ntile over the same order.  Gate metrics are exact integer
    milli/ppm, so the curriculum key is bit-identical cross-engine."""
    from .ext.ranks import ntile_col, with_global_ranks

    gate = textstats.gopher_quality_gate(_docs(spark, sf_dir))
    keyed = gate.select(
        "doc_id", "fail_mask", "alpha_ppm", "ttr_ppm",
        (-F.col("alpha_ppm")).alias("neg_alpha"),
        (-F.col("ttr_ppm")).alias("neg_ttr"),
    )
    # n_total rides the ranking's broadcast offsets frame (count_col):
    # the former `keyed.agg(count)` branch re-ran the ENTIRE
    # regex-heavy Gopher gate a second time just to count its rows
    # (round 16, guide §1.2)
    ranked = with_global_ranks(
        keyed,
        ["fail_mask", "neg_alpha", "neg_ttr", "doc_id"],
        rank_col="curriculum_rank",
        count_col="n_total",
    )
    return (
        ranked
        .select(
            "doc_id",
            "fail_mask",
            "alpha_ppm",
            "ttr_ppm",
            "curriculum_rank",
            ntile_col(
                F.col("curriculum_rank"), F.col("n_total"), N_CURRICULUM_PHASES
            ).alias("phase"),
        )
    )


@register(
    "dedup_chunks_minhash",
    oracle=curation.dedup_chunks_minhash_sql(),
    tags=("ext", "dedup", "curation"),
)
def q_dedup_chunks_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level NEAR-dup for retrieval indexes: MinHash-LSH over
    the 128/96 chunk expansion, cross-document pairs only — catches
    paraphrased or lightly-edited repeated passages that
    dedup_chunks_exact's verbatim hash cannot see and whole-document
    MinHash dilutes away (a shared 128-word passage inside two
    2,000-word documents moves whole-doc Jaccard by ~3%, far under
    any threshold — at chunk granularity it IS the document).  Same
    banded equi-join shape as whole-doc MinHash; the chunk expansion
    is scan-side and chunk text never shuffles."""
    return curation.dedup_chunks_minhash(_docs(spark, sf_dir))


@register(
    "warc_parse_records",
    oracle=warc.warc_parse_records_sql(),
    tags=("ext", "sources", "curation"),
)
def q_warc_parse_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC-shaped crawl ingestion (the web-corpus front door): split
    multi-record WARC blobs into records and type the headers —
    record id, type, target URI, declared Content-Length — plus the
    corruption audit (declared vs actual payload length; the fixture
    law plants a wrong declaration on every 7th record).  The parse is
    ONE literal-delimiter split + posexplode + anchored regex
    extraction: scan-side projection, no shuffle, no Python — the map
    stage between decompression and the curation pipeline at crawl
    scale.  Scope honestly stated in ext/warc.py: the record-structure
    layer over single-line payloads; byte-level member decompression
    belongs in the multimodal codecs' Arrow stage."""
    blobs = warc.with_warc_blobs(
        tables.load_table(spark, sf_dir, "documents")
    )
    return warc.warc_parse_records(blobs)


@register(
    "robots_disallow_audit",
    oracle=urls.robots_disallow_audit_sql(),
    tags=("ext", "curation", "urls"),
)
def q_robots_disallow_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots/blocklist audit — the respect-robots step every
    compliant web corpus runs: per document, does some disallow
    rule's host match the CANONICAL host with its path_prefix
    prefixing the canonical path.  The rule table is
    publisher-cardinality-sized and broadcasts; the probe is a
    semi/anti pair that partitions the corpus exactly — two scans,
    zero shuffles, no UDF.  The fixture rule law blocks every cdn
    host's /assets and every 5th source's /docs, so both rule kinds
    and both outcomes are exercised."""
    return urls.robots_disallow_audit(
        tables.load_table(spark, sf_dir, "documents"),
        urls.fixture_robots_rules(spark),
    )


@register(
    "url_registrable_domain",
    oracle=urls.url_registrable_domain_sql(),
    tags=("ext", "curation", "urls"),
)
def q_url_registrable_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain (public-suffix) extraction (VERDICT r14 ask
    #4): the per-publisher key RefinedWeb/C4 quotas actually group on —
    ``www.x.co.uk`` and ``news.x.co.uk`` are ONE publisher, which
    host-level grouping provably fragments (the PSL fixture law's
    shapes 0/1).  The committed, versioned suffix subset
    (``ext/urls.py::PUBLIC_SUFFIXES``) is bounded and plan-time known,
    so the longest-suffix match folds into the scan projection as
    literal-array expressions: candidates longest-first, first match in
    the table wins, registrable = suffix + one label; unlisted TLDs use
    the PSL default rule and a host that IS a suffix gets the
    empty-string sentinel — zero shuffle, no join, no Python.  Round
    15b closes the scope note: WILDCARD rules (*.ck — any label under
    the base is itself a suffix) and EXCEPTION rules (!city.ck —
    registrable despite the wildcard, suffix = the rule minus its
    leftmost label) are two more literal tables and CASE-arm families
    in the same unrolled chain, exactly as the note predicted."""
    return urls.url_registrable_domain(
        tables.load_table(spark, sf_dir, "documents")
    )


@register(
    "sample_domain_quota_registrable",
    oracle=curation.sample_domain_quota_sql(
        table=urls.registrable_table_sql("documents") + " canon",
        group_col="registrable_domain",
    ),
    tags=("ext", "curation", "sampling", "urls"),
)
def q_sample_domain_quota_registrable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-PUBLISHER frequency capping: the domain quota rekeyed on the
    registrable domain instead of the canonical host — the
    RefinedWeb/C4 form.  On the PSL law this matters concretely: the
    ``www.`` and ``news.`` subdomains of one ``co.uk`` site share one
    cap here where the host-keyed variant would give each its own.
    Same WindowGroupLimit-bounded lottery-rank take as
    sample_domain_quota; the PSL match rides the scan projection, so
    the only shuffle is the capped window's."""
    docs = urls.with_psl_fixture_urls(
        tables.load_table(spark, sf_dir, "documents").select("doc_id")
    )
    _, registrable = urls.registrable_domain_cols(
        urls.canonical_host(F.col("url"))
    )
    keyed = docs.select("doc_id", registrable.alias("registrable_domain"))
    return curation.sample_domain_quota(keyed, group_col="registrable_domain")


@register(
    "html_extract_text",
    oracle=html.html_extract_text_sql(),
    tags=("ext", "curation", "textclean"),
)
def q_html_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML-to-text main-content extraction (VERDICT r14 ask #2) — the
    missing stage of the real web-corpus chain: WARC -> HTML -> text ->
    quality gates.  jusText/trafilatura-class: segment at block-tag
    boundaries, score blocks (semantic tag, emptiness, link density,
    word count), promote short blocks adjacent to good content (the
    context rule: a heading next to content survives, 'Back to top'
    between boilerplate dies), reassemble the survivors in order.
    Scripts/styles are removed BEFORE segmentation (the fixture plants
    a '</p> ... </div>' JS-string trap) and entities decode &amp; LAST
    (the double-decode trap: '&amp;lt;' must stay '&lt;').  All
    codegen'd string expressions — the only shuffle is the per-document
    neighbor window, whose partitioning the reassembly reuses
    (plan-gated: ONE exchange, no Python)."""
    return html.html_extract_text(
        html.with_html_pages(
            tables.load_table(spark, sf_dir, "documents").select(
                "doc_id", "text"
            )
        )
    )


@register(
    "warc_parse_gzip",
    oracle=warc.warc_parse_gzip_sql(),
    tags=("ext", "sources", "curation"),
)
def q_warc_parse_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """.warc.gz ingestion (VERDICT r14 ask #3): inflate CONCATENATED
    GZIP MEMBERS — the real CommonCrawl layout, one member per record —
    with stdlib zlib walking ``decompressobj.unused_data`` inside ONE
    Arrow mapInPandas stage (one decode call per blob; call count
    pinned by test), then the existing in-plan record split/typing.
    Closes ext/warc.py's round-14 scope note (record structure only,
    'decompression belongs in an Arrow stage').  Output adds
    ``n_members``, the member/record alignment audit; a truncated
    member raises rather than silently yielding a short corpus.  The
    oracle is the uncompressed parse (gzip round-trip is identity)
    plus a window count for n_members."""
    blobs_gz = warc.with_warc_gzip_blobs(
        tables.load_table(spark, sf_dir, "documents")
    )
    return warc.warc_parse_gzip(blobs_gz)


@register(
    "write_training_shards",
    oracle=curation.write_training_shards_sql(
        counts_sql=(
            "(WITH enc AS (" + bpe.encode_sql() + ")\n"
            " SELECT e.doc_id, e.n_tokens,\n"
            "        strlen(d.text)::BIGINT AS n_bytes\n"
            " FROM enc e JOIN documents d USING (doc_id))"
        )
    ),
    tags=("ext", "curation", "tokenizer", "sampling"),
)
def q_write_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard writer manifest (VERDICT r14 ask #7) — the output
    endpoint: epoch_shuffle_batches' seeded md5 order composed with
    seq_packing_bpe_512's real BPE token counts into a deterministic
    bytes-balanced shard assignment, one manifest row per shard
    (docs, tokens, bytes, packed-sequence count at ctx 512, id range).
    The cut point is an exclusive prefix sum of document bytes over
    the shuffle order via ext/ranks.py's range-partitioned machinery
    (no single-reducer window at any corpus size); n_bytes rides the
    encode's carry_cols so no corpus self-join appears.  Shard byte
    totals are structurally within one straddling document's bytes of
    target — balance is bounded by ONE document however large the
    corpus."""
    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    sized = docs.withColumn(
        "n_bytes", F.octet_length("text").cast("long")
    )
    counts = bpe.encode_token_counts(sized, carry_cols=("n_bytes",)).select(
        "doc_id", "n_tokens", "n_bytes"
    )
    return curation.write_training_shards(counts)


@register(
    "quality_gate_extracted",
    oracle=textstats.gopher_quality_gate_sql(
        table="(" + html.html_extract_text_sql() + ") x",
        text="extracted_text",
    ),
    tags=("ext", "curation", "textclean"),
)
def q_quality_gate_extracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end web chain witness: the Gopher quality gate run on
    the HTML EXTRACTOR'S output instead of raw text — the composition
    the round-14 verdict asked the extractor to enable (WARC -> HTML ->
    text -> quality gates).  Gate metrics are the same exact-integer
    milli/ppm arithmetic; the input is html_extract_text's
    extracted_text, so the extractor's block decisions directly move
    gate bits (boilerplate it fails to drop lowers alpha fraction; the
    entity block's decoded punctuation is exercised).  Plan: the
    extractor's single exchange feeds the gate's scan-side metric
    projection — no additional shuffle."""
    extracted = html.html_extract_text(
        html.with_html_pages(
            tables.load_table(spark, sf_dir, "documents").select(
                "doc_id", "text"
            )
        )
    )
    return textstats.gopher_quality_gate(extracted, text_col="extracted_text")


@register(
    "html_link_graph",
    oracle=html.html_link_graph_sql(),
    tags=("ext", "curation", "urls", "graph"),
)
def q_html_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink edge extraction with relative-URL resolution — the
    link-graph stage of the web front door (PageRank-style authority
    and spam-neighborhood signals consume this).  Hrefs come from the
    script/style-stripped page (a JS string cannot mint an edge);
    resolution handles absolute, scheme-relative (base scheme), and
    path-absolute (base authority incl. non-default port) forms,
    drops fragment-only/empty hrefs, and declares bare-relative paths
    out of scope (documented; the law plants none).  Every destination
    runs the FULL canonicalizer — the share link's utm_source tracker
    and mixed-case host must not survive into the graph, the
    scheme-relative link's trailing host dot and slash must collapse.
    ``internal`` compares canonical destination host to the page's own.
    Plan: zero shuffle, no join, no Python — href explode + resolution
    + canonicalization all ride the scan projection (plan-gated)."""
    docs = tables.load_table(spark, sf_dir, "documents")
    pages = html.with_html_pages(
        urls.with_fixture_urls(docs.select("doc_id", "source", "text")),
        carry=("url",),
    )
    return html.html_link_graph(pages)


@register(
    "robots_txt_parse",
    oracle=urls.robots_txt_parse_sql(),
    tags=("ext", "curation", "urls", "sources"),
)
def q_robots_txt_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt parsing — the stage BEFORE robots_disallow_audit:
    per-host robots.txt files (fixture law over the corpus's distinct
    sources) parsed into directive rows with the stateful group
    semantics made relational: group_id is a running count of
    User-agent lines, agent a per-(host, group) window max.  The law
    plants every parser witness: comments/blank lines (skipped), an
    Allow line (parsed, not a disallow rule), a badbot group whose
    'Disallow: /' must NOT leak into the '*' rules, and a Sitemap
    value that itself contains '://'.  One shuffle on host keys both
    windows; groups are a handful of lines each."""
    return urls.robots_txt_parse(
        urls.with_robots_txt(tables.load_table(spark, sf_dir, "documents"))
    )


@register(
    "robots_audit_parsed",
    oracle=f"""
    WITH {urls._fixture_url_sql("documents")},
    {urls._parts_sql()},
    pr AS ({urls.robots_txt_parse_sql("documents")}),
    rules AS (
      SELECT host AS r_host, value AS r_prefix
      FROM pr WHERE directive = 'Disallow' AND agent = '*'
    )
    SELECT doc_id, host, path,
           EXISTS (SELECT 1 FROM rules r
                   WHERE r.r_host = parts.host
                     AND starts_with(parts.path, r.r_prefix)) AS blocked
    FROM parts
    """,
    tags=("ext", "curation", "urls"),
)
def q_robots_audit_parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The parse -> audit composition: the disallow audit driven by
    rules PARSED from robots.txt text instead of a hand-built rule
    table — the full respect-robots chain (fetch -> parse -> enforce).
    The badbot group is the live correctness witness: if group
    tracking leaked its 'Disallow: /' into the '*' rules, every
    document on every host would flag blocked.  Same plan bound as
    robots_disallow_audit: the parsed rule table is
    publisher-cardinality-sized and broadcasts into the semi/anti
    pair — the corpus itself never shuffles."""
    docs = tables.load_table(spark, sf_dir, "documents")
    rules = urls.parsed_disallow_rules(
        urls.robots_txt_parse(urls.with_robots_txt(docs))
    )
    return urls.robots_disallow_audit(docs, rules)


@register(
    "sitemap_parse",
    oracle=urls.sitemap_parse_sql(),
    tags=("ext", "curation", "urls", "sources"),
)
def q_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sitemap.xml parsing — the crawl-frontier complement to
    robots.txt (whose Sitemap directive points at these files): per
    host, the publisher-declared URL set with lastmod and priority.
    The parse is the proven in-plan shape (literal '</url>' sentinel +
    split + posexplode + anchored regexes), every loc runs the shared
    canonicalizer, and priority surfaces as an exact MILLI integer
    ('0.' || digits, rpad to 3) — a DOUBLE 0.8 is not bit-stable
    cross-engine.  After the fixture pack's one aggregate the parse is
    scan-side: no further shuffle, no Python."""
    return urls.sitemap_parse(
        urls.with_sitemap_xml(
            tables.load_table(spark, sf_dir, "documents").select(
                "doc_id", "source"
            )
        )
    )


@register(
    "url_frontier",
    oracle=f"""
    SELECT curl,
           sum(is_sm)::BIGINT AS n_sitemap,
           sum(is_lk)::BIGINT AS n_links
    FROM (
      SELECT curl, 1 AS is_sm, 0 AS is_lk
      FROM ({urls.sitemap_parse_sql("documents")}) sm_side
      UNION ALL
      SELECT dst_curl AS curl, 0 AS is_sm, 1 AS is_lk
      FROM ({html.html_link_graph_sql("documents")}) lk_side
    ) u
    GROUP BY curl
    """,
    tags=("ext", "curation", "urls", "graph"),
)
def q_url_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl FRONTIER: the union of publisher-declared URLs
    (sitemap locs) and crawl-discovered URLs (outlink destinations),
    deduplicated on the CANONICAL URL with per-source discovery counts
    — the frame a crawler's scheduler consumes, and the capstone
    composition of the URL family (both feeds are already canonical,
    so union-dedup is exactly one map-side-combined aggregate; a raw
    frontier would double-fetch every tracker/case/port variant).
    Plan: two scan-side feeds + ONE hash aggregate on curl — no joins,
    no windows."""
    docs = tables.load_table(spark, sf_dir, "documents")
    sm = urls.sitemap_parse(
        urls.with_sitemap_xml(docs.select("doc_id", "source"))
    ).select("curl", F.lit(1).alias("is_sm"), F.lit(0).alias("is_lk"))
    lk = html.html_link_graph(
        html.with_html_pages(
            urls.with_fixture_urls(docs.select("doc_id", "source", "text")),
            carry=("url",),
        )
    ).select(
        F.col("dst_curl").alias("curl"),
        F.lit(0).alias("is_sm"),
        F.lit(1).alias("is_lk"),
    )
    return (
        sm.unionByName(lk)
        .groupBy("curl")
        .agg(
            F.sum("is_sm").cast("long").alias("n_sitemap"),
            F.sum("is_lk").cast("long").alias("n_links"),
        )
    )


# ---------------------------------------------------------------------------
# HTTP envelope layer (round 16 — VERDICT r15 gap #1)
# ---------------------------------------------------------------------------


@register(
    "http_parse_response",
    oracle=http.http_parse_response_sql(),
    tags=("ext", "sources", "curation", "urls"),
)
def q_http_parse_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP response-envelope parsing (VERDICT r15 gap #1) — the splice
    between WARC records and the HTML extractor: real CommonCrawl
    response records carry a status line, CRLF headers, and a body, and
    the downstream chain must filter on status-200 / text/html before
    extraction.  The law plants every parser witness: lowercase header
    names (RFC 9110 case-insensitive matching), an uppercase charset
    value, a charset-less text/html, a 404 whose BODY is html (status
    must kill it), an application/json 200 (content type must kill
    it), a 301 whose hostile Location runs the FULL shared
    canonicalizer (uppercase scheme+host, trailing dot, mixed-case
    tracker), and interleaved WARC request records whose request line
    must not parse as a status line (0/empty sentinels).  Plan: blob
    split + all field extraction ride the scan projection — the only
    exchange is the fixture pack's, exactly like warc_parse_records."""
    docs = urls.with_fixture_urls(
        tables.load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
    )
    blobs = warc.pack_blobs(http.http_record_frame(docs))
    parsed = warc.warc_parse_records(
        blobs, multiline_payload=True, keep_payload=True
    )
    return http.http_parse_response(parsed)


@register(
    "charset_quality_gate",
    oracle=encoding.charset_quality_gate_sql(),
    tags=("ext", "curation", "textclean"),
)
def q_charset_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset/encoding quality gate (VERDICT r15 gap #3) — the early
    drop real crawls need for mis-declared encodings: counts + exact
    integer ppm for mojibake sequences (UTF-8-read-as-Latin-1, the
    documented ftfy-core table), C0 control characters (minus tab) and
    DEL, and U+FFFD replacement characters (the text-layer signal a
    lenient decode leaves for invalid bytes), plus the ftfy-style
    REPAIR (reverse-mapping replaces + strip) witnessed by
    clean_md5/n_chars_clean.  fail_mask bits name the artifact class.
    Plan: pure scan-side codegen — zero shuffle, no Python."""
    return encoding.charset_quality_gate(
        encoding.with_decoded_text(
            tables.load_table(spark, sf_dir, "documents").select(
                "doc_id", "text"
            )
        )
    )


@register(
    "web_pipeline_warc_to_shards",
    oracle=curation.write_training_shards_sql(
        counts_sql=(
            "(WITH enc AS ("
            + bpe.encode_sql(
                table=http.kept_extracted_sql(),
                text_col="extracted_text",
            )
            + ")\n SELECT e.doc_id, e.n_tokens,\n"
            "        strlen(d.extracted_text)::BIGINT AS n_bytes\n"
            " FROM enc e JOIN " + http.kept_extracted_sql()
            + " d USING (doc_id))"
        )
    ),
    tags=("ext", "sources", "curation", "urls", "tokenizer", "sampling"),
)
def q_web_pipeline_warc_to_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END capstone (VERDICT r15 gap #2): ONE registered
    plan from .warc.gz bytes to the training-shard manifest —
    gzip-member inflate -> WARC record split -> HTTP envelope parse ->
    admission filter (status 200 AND text/html AND Content-Length
    audit) -> canonical-URL dedup (the pair law keys the Target-URI on
    doc_id - doc_id % 2, so every URL is a REAL duplicate pair and the
    keep-min-doc_id decision does live work) -> HTML main-content
    extraction -> Gopher quality gate -> BPE token counts ->
    bytes-balanced shard cut.  Survivors are exactly doc_id % 8 in
    {0, 2}: status/type kill 4,5,6,7; URL dedup kills the odd pair
    member.

    100 TB shape, stage by stage: inflate is one Arrow stage moving
    compressed bytes in / text out; split+HTTP parse ride the scan
    projection; the dedup window and the extractor's block window are
    the two corpus shuffles carrying page bytes (dedup runs BEFORE
    extraction, so the regex-heavy block stage only sees surviving
    pages); the gate is scan-side; BPE and the shard cut reuse the
    bounded-vocab and range-partitioned-prefix-sum machinery their own
    registrations prove.  The oracle mirrors every decision on the
    uncompressed pack (gzip identity + exact body round-trip are the
    warc_parse_gzip / http_parse_response driver rows' job)."""
    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    paired = docs.withColumn(
        "pair_id", F.col("doc_id") - F.col("doc_id") % 2
    )
    # the URL law must be FULLY pair-keyed (variant, path id, and the
    # host's source token) or the two pair members never share a URL
    # and the dedup stage is vacuous; the envelope law (Server, request
    # Host, Location) keeps the document's REAL source
    pair_src = F.concat(F.lit("s"), (F.col("pair_id") % 50).cast("string"))
    swapped = paired.withColumn("real_source", F.col("source")).withColumn(
        "source", pair_src
    )
    with_urls = (
        urls.with_fixture_urls(swapped, id_col="pair_id")
        .withColumn("source", F.col("real_source"))
        .drop("real_source", "pair_id")
    )
    pages = html.with_html_pages(with_urls, carry=("source", "url"))
    recs = http.http_record_frame(pages, body_col="html")
    gz = warc.pack_gzip_blobs(recs)
    rows = warc.warc_parse_gzip(gz, multiline_payload=True, keep_payload=True)
    hp = http.http_parse_response(rows, keep_body=True)
    ok = hp.filter(F.col("is_html_ok") & F.col("length_ok")).select(
        F.col("rec_id").alias("doc_id"),
        urls.canonical_url(F.col("target_uri")).alias("curl"),
        F.col("body").alias("html"),
    )
    w = Window.partitionBy("curl")
    surv = (
        ok.withColumn("keeper", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "html")
    )
    extracted = html.html_extract_text(surv)
    gate = textstats.gopher_quality_gate(
        extracted, text_col="extracted_text", keep=("extracted_text",)
    )
    final = gate.filter(F.col("pass") == 1).select(
        "doc_id", "extracted_text"
    )
    sized = final.withColumn(
        "n_bytes", F.octet_length("extracted_text").cast("long")
    ).localCheckpoint()
    # ^ pin the post-gate survivors ONCE (guide §1.2/§3.3): the BPE
    # stage consumes its input three times (word-vocab pass, occurrence
    # explode, per-doc join), and without the pin each consumer re-ran
    # the ENTIRE inflate -> WARC split -> HTTP parse -> URL-dedup
    # window -> extractor -> gate chain.  At 100 TB this is the
    # difference between one corpus pass over raw WARC bytes and three.
    counts = bpe.encode_token_counts(
        sized, text_col="extracted_text", carry_cols=("n_bytes",)
    ).select("doc_id", "n_tokens", "n_bytes")
    return curation.write_training_shards(counts)


# ---------------------------------------------------------------------------
# unigram-LM (SentencePiece-style) tokenizer (round 16 — VERDICT r15 gap #4)
# ---------------------------------------------------------------------------


@register(
    "unigram_seed_vocab",
    oracle=unigram.seed_vocab_sql(),
    tags=("ext", "tokenizer"),
)
def q_unigram_seed_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM seed vocabulary (Kudo 2018): occurrence-weighted
    substring candidates (length <= 6) over the DISTINCT-WORD domain —
    the corpus never re-scans; candidate rows are bounded by
    |distinct words| x O(len x 6) — top-512 under the total order
    (cnt DESC, piece ASC) plus every single-character piece (the
    Viterbi coverage guarantee).  One map-side-combined aggregate per
    stage; the rank window runs over the aggregated candidate frame
    (vocab cardinality, never corpus)."""
    return unigram.seed_vocab(_docs(spark, sf_dir))


@register(
    "unigram_encode_viterbi",
    oracle=unigram.encode_viterbi_sql(),
    tags=("ext", "tokenizer"),
)
def q_unigram_encode_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM Viterbi segmentation — the encode half of the
    SentencePiece family: every distinct word (length <= 12; the
    documented chunking scope) segmented to its max-log-probability
    piece sequence under the seed vocab, scores quantized to integer
    micro-nats BEFORE the DP so the program is pure integer arithmetic
    and ties break on the documented total order (score DESC, fewer
    pieces, lexicographic).  Spark: ONE Arrow mapInPandas over the
    bounded distinct-word domain with the driver-sized vocab riding
    the closure (the BPE merge-table precedent).  The oracle is a
    12-layer MATERIALIZED cumulative DP — the exact argmax, not a
    sampled check."""
    return unigram.encode_viterbi(_docs(spark, sf_dir))


@register(
    "unigram_em_reestimate",
    oracle=unigram.em_reestimate_sql(),
    tags=("ext", "tokenizer"),
)
def q_unigram_em_reestimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM hard-EM M-step: Viterbi piece usage re-accumulated
    over the corpus (piece count = sum of word_count x uses-in-word) —
    the frame the next training round renormalizes; SentencePiece's
    soft EM replaced by its standard deterministic Viterbi
    approximation so the oracle stays exact.  Plan: the encode's Arrow
    stage + one explode + one map-side-combined aggregate."""
    return unigram.em_reestimate(_docs(spark, sf_dir))


@register(
    "frontier_politeness",
    oracle=f"""
    WITH f AS MATERIALIZED (
      SELECT curl,
             sum(is_sm)::BIGINT AS n_sitemap,
             sum(is_lk)::BIGINT AS n_links
      FROM (
        SELECT curl, 1 AS is_sm, 0 AS is_lk
        FROM ({urls.sitemap_parse_sql("documents")}) sm_side
        UNION ALL
        SELECT dst_curl AS curl, 0 AS is_sm, 1 AS is_lk
        FROM ({html.html_link_graph_sql("documents")}) lk_side
      ) u0
      GROUP BY curl
    ),
    fu AS MATERIALIZED (
      SELECT curl, n_sitemap, n_links, curl AS url FROM f
    ),
    {urls._parts_sql()
        .replace("p0 AS (", "fp0 AS (")
        .replace("p1 AS (", "fp1 AS (")
        .replace("parts AS (", "fparts AS (")
        .replace("FROM u" + chr(10), "FROM fu" + chr(10))
        .replace("FROM p0" + chr(10), "FROM fp0" + chr(10))
        .replace("FROM p1" + chr(10), "FROM fp1" + chr(10))
        .replace("doc_id, lang, n_chars, url", "curl, n_sitemap, n_links, url")},
    {urls._registrable_sql("host", id_col="curl", parts="fparts")},
    delays AS ({urls.crawl_delays_sql("documents").strip()[1:-1]}),
    base AS (
      SELECT r.curl, r.host, r.registrable_domain,
             f.n_sitemap, f.n_links,
             coalesce(d.crawl_delay, 1)::BIGINT AS crawl_delay
      FROM reg r
      JOIN f USING (curl)
      LEFT JOIN delays d ON d.host = r.host
    ),
    dom AS (
      SELECT registrable_domain, max(crawl_delay)::BIGINT AS domain_delay
      FROM base GROUP BY registrable_domain
    ),
    ranked AS (
      SELECT b.*, dm.domain_delay,
             row_number() OVER (PARTITION BY b.registrable_domain
               ORDER BY b.n_sitemap DESC, b.n_links DESC, b.curl ASC
             )::BIGINT AS fetch_rank
      FROM base b JOIN dom dm USING (registrable_domain)
    )
    SELECT curl, host, registrable_domain, crawl_delay, domain_delay,
           fetch_rank,
           ((fetch_rank - 1) * domain_delay)::BIGINT AS fetch_slot_sec,
           ({hashing.h28_sql("registrable_domain")} % 16)::BIGINT AS worker
    FROM ranked
    """,
    tags=("ext", "curation", "urls", "sampling"),
)
def q_frontier_politeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier POLITENESS scheduling (VERDICT r15 gap #5) — the
    crawl-side consumer of the PSL work: every frontier URL gets a
    per-REGISTRABLE-DOMAIN fetch slot.  Per-host Crawl-delay comes
    from the PARSED robots.txt '*' group (the badbot group's 10 s must
    not leak — the same group-tracking law as the Disallow witness);
    hosts without robots take the default 1 s; the domain's effective
    delay is the conservative max over its hosts; the fetch order is
    (sitemap-declared first, then most-linked, then curl) and
    fetch_slot_sec = (rank - 1) x domain_delay serializes the domain's
    queue.  Worker assignment is the md5-bucket of the domain — every
    domain's queue lands on ONE worker, the politeness invariant.

    100 TB shape: the PSL match and host extraction ride the scan;
    delays are publisher-cardinality and BROADCAST; the per-domain
    rank is ext/ranks.py's range-partitioned machinery because
    registrable domains are exactly the few-huge-groups case (this
    fixture law collapses the whole frontier into ~3 domains — a
    PARTITION BY window would serialize the corpus through 3 tasks)."""
    docs = tables.load_table(spark, sf_dir, "documents")
    sm = urls.sitemap_parse(
        urls.with_sitemap_xml(docs.select("doc_id", "source"))
    ).select("curl", F.lit(1).alias("is_sm"), F.lit(0).alias("is_lk"))
    lk = html.html_link_graph(
        html.with_html_pages(
            urls.with_fixture_urls(docs.select("doc_id", "source", "text")),
            carry=("url",),
        )
    ).select(
        F.col("dst_curl").alias("curl"),
        F.lit(0).alias("is_sm"),
        F.lit(1).alias("is_lk"),
    )
    frontier = (
        sm.unionByName(lk)
        .groupBy("curl")
        .agg(
            F.sum("is_sm").cast("long").alias("n_sitemap"),
            F.sum("is_lk").cast("long").alias("n_links"),
        )
    )
    # lazy pin between the frontier aggregate and the PSL projection:
    # fused, the hash aggregate's generated output function inlines
    # BOTH PSL CASE chains and blows the JVM's 64 KB method limit —
    # janino "Code grows beyond 64 KB", whole-stage codegen falls back
    # to interpreted for the frontier's most expression-heavy stage
    # (guide §7.2/§4; measured in the round-16 isolated runs).  The
    # pin ends the codegen stage at the aggregate; the CASE projection
    # compiles on its own.  No extra job: the eager `fr` checkpoint
    # below materializes both in one pass.
    frontier = frontier.localCheckpoint(eager=False)
    host = urls.url_parts(F.col("curl"))["host"]
    _, registrable = urls.registrable_domain_cols(host)
    fr = frontier.select(
        "curl",
        "n_sitemap",
        "n_links",
        host.alias("host"),
        registrable.alias("registrable_domain"),
    )
    # eager-checkpoint the NARROW frontier frame (5 small cols): three
    # consumers (delay join, domain agg, rank machinery) would each
    # re-derive the whole sitemap+linkgraph lineage, and grouping on
    # the alias of the plan-time PSL CASE chain THROUGH the join
    # lineage sends the optimizer into a multi-minute expression blowup
    # (measured: dom.count() hung without this, 0.7 s with it — the
    # write_training_shards checkpoint lesson, r15)
    fr = fr.localCheckpoint(eager=True)
    delays = urls.crawl_delays(
        urls.robots_txt_parse(urls.with_robots_txt(docs))
    )
    base = fr.join(F.broadcast(delays), "host", "left").withColumn(
        "crawl_delay", F.coalesce(F.col("crawl_delay"), F.lit(1)).cast("long")
    )
    dom = base.groupBy("registrable_domain").agg(
        F.max("crawl_delay").cast("long").alias("domain_delay")
    )
    j2 = base.join(F.broadcast(dom), "registrable_domain").select(
        "curl",
        "host",
        "registrable_domain",
        "crawl_delay",
        "domain_delay",
        (-F.col("n_sitemap")).alias("neg_sm"),
        (-F.col("n_links")).alias("neg_lk"),
    )
    ranked = ranks.with_group_ranks(
        j2,
        ["registrable_domain"],
        ["neg_sm", "neg_lk", "curl"],
        rank_col="fetch_rank",
    )
    return ranked.select(
        "curl",
        "host",
        "registrable_domain",
        "crawl_delay",
        "domain_delay",
        F.col("fetch_rank").cast("long").alias("fetch_rank"),
        ((F.col("fetch_rank") - 1) * F.col("domain_delay"))
        .cast("long")
        .alias("fetch_slot_sec"),
        (hashing.h28(F.col("registrable_domain")) % 16)
        .cast("long")
        .alias("worker"),
    )


@register(
    "crawl_snapshot_delta",
    oracle=snapshots.crawl_snapshot_delta_sql(),
    tags=("ext", "urls", "curation"),
)
def q_crawl_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion diff: two crawl snapshots of the same URL
    space compared by CANONICAL URL + content fingerprint, every URL
    classified unchanged / changed / new / gone (the ``doc_id % 7``
    snapshot-B law — see ``ext/snapshots.py``).  Only new+changed pages
    would enter the expensive extract/dedup/gate chain on a recrawl;
    gone pages tombstone out of the index.

    100 TB shape: fingerprints ride each snapshot's scan (md5 in the
    projection, no Python); the FULL OUTER join co-partitions both
    sides on curl, shuffling only (curl, 32-hex fp) pairs — never page
    text; classification is pure projection after the join."""
    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    return snapshots.crawl_snapshot_delta(docs)


@register(
    "host_pagerank",
    oracle=webgraph.host_pagerank_sql(),
    tags=("ext", "urls", "graph"),
)
def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level web-graph authority (the CommonCrawl host-rank
    analog): PageRank over the EXTRACTED link graph aggregated to
    canonical hosts, self-edges dropped — composes the round-15
    link-graph extraction with the shared integer-PageRank loop
    (``ext/webgraph.py``; all round arithmetic in positive-integer
    floordivs, bit-exact vs the unrolled-CTE oracle).  On the fixture
    the two dangling share-widget hosts accumulate rank far above
    teleport while source hosts stay at teleport level — pinned by
    tests/test_plans.py.

    100 TB shape: one (src,dst) map-side-combined aggregate builds the
    host-pair edge frame (cardinality ≪ links), localCheckpoint-pinned
    for the rounds; ranks/out-weights broadcast at host cardinality,
    co-partitioned-on-src at web scale."""
    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    return webgraph.host_pagerank(docs)


@register(
    "host_hits",
    oracle=webgraph.host_hits_sql(),
    tags=("ext", "urls", "graph"),
)
def q_host_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted HITS hubs & authorities over the extracted host graph
    (Kleinberg 1999) — PageRank's spam-triage counterpart: a link farm
    is a strong hub but an empty authority, a separation PageRank's
    single mass flow cannot express.  On the fixture the two dangling
    share-widget hosts hold ALL authority (hub 0) and every page host
    is pure hub (auth 0) — pinned by tests.

    All per-round arithmetic is positive-integer: raw updates are
    ``sum(score * w)`` BIGINTs and the L1 normalization divides by
    ``max(sum div HITS_TOTAL, 1)`` instead of multiplying by the
    target mass — no intermediate exceeds score_max * sum(w), the
    documented overflow bound (``ext/iterative.py``).

    100 TB shape: same as ``host_pagerank`` — one map-side-combined
    (src, dst) edge aggregate, localCheckpoint-pinned; score frames
    host-cardinality, broadcast per half-round."""
    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    return webgraph.host_hits(docs)


@register(
    "anchor_text_index",
    oracle=html.anchor_text_index_sql(),
    tags=("ext", "urls", "web"),
)
def q_anchor_text_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target anchor-text rollup over the extracted link graph —
    what the linking web CALLS each page, the strongest off-page
    relevance/spam signal (CommonCrawl publishes host-level anchor
    data for exactly this use).  For every canonical destination URL:
    total in-links, distinct linking hosts (one host shouting vs many
    agreeing), the sorted '|'-joined anchor vocabulary, and the modal
    anchor under the total order (count DESC, anchor ASC) via the
    ``min(struct(-cnt, anchor))`` argmax (``ext/html.py``).

    100 TB shape: extraction + resolution + canonicalization are scan
    projection (one posexplode, zero joins); both aggregates and the
    final join are keyed on dst_curl — co-partitioned, AQE-coalesced,
    no all-pairs stage anywhere."""
    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    pages = html.with_html_pages(
        urls.with_fixture_urls(docs), carry=("url",)
    )
    return html.anchor_text_index(pages)


@register(
    "domain_reweight_excess_loss",
    oracle=knlm.domain_excess_weights_sql(),
    tags=("ext", "curation", "lm", "mixing"),
)
def q_domain_reweight_excess_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixture weights tilted toward excess LM loss — the
    DoReMi reweighting step (Xie et al. 2023) in its deterministic
    one-model form: a domain's excess is its KN-trigram bits/token
    above the corpus mean, normalized to ppm with a +1 milli-bit
    uniform-fallback floor (``ext/knlm.py``; the group-DRO
    proxy-training loop this step iterates inside is documented out
    of scope).  All positive-integer floordivs, sentinel docs
    excluded on both engines.

    100 TB shape: the cost IS the per-doc KN scoring (already
    scale-shaped — see kn_trigram_perplexity); the rollup adds one
    domain-cardinality map-side-combined aggregate and two broadcast
    scalars."""
    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    return knlm.domain_excess_weights(docs)


@register(
    "bitext_mine_margin",
    oracle=bitext.bitext_mine_margin_sql(),
    tags=("ext", "similarity", "multilingual"),
)
def q_bitext_mine_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019 — the LASER
    /CCMatrix procedure): two embedding pools (even/odd vec_id — the
    deterministic fixture split), each candidate pair scored by cosine
    over the MEAN of both sides' k-NN neighborhood cosines (the ratio
    margin that cancels hubness), mutual best matches kept.  Cosines
    quantize to integer micro-units before any aggregation so
    neighborhood sums and every rank are bit-stable across engines;
    the margin is floor(int/int) via one IEEE division
    (``ext/bitext.py``).

    100 TB shape: the all-pairs frame IS the fixture-scale candidate
    generator — production swaps in the ANN family's bipartite bucket
    joins (similarity_topk_ivf*) and keeps everything downstream:
    per-side windows and aggregates, co-partitioned on src/tgt."""
    emb = tables.load_table(spark, sf_dir, "embeddings")
    return bitext.bitext_mine_margin(emb)


@register(
    "tokenizer_fertility_compare",
    oracle=tokcmp.tokenizer_fertility_compare_sql(),
    tags=("ext", "tokenizer", "report"),
)
def q_tokenizer_fertility_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer bake-off report: BPE vs unigram-LM vs WordPiece
    fertility (occurrence-weighted subword pieces per word) on ONE
    shared distinct-word domain (length <= 12, the encode scope of the
    unigram/WordPiece families; BPE restricted to match so the three
    numbers are comparable) — the measurement behind choosing a
    tokenizer for a training run (``ext/tokcmp.py``; the BPE count
    carries its ``</w>`` marker per the Sennrich formulation, a
    documented +1-per-word offset the raw sums let a reader remove).

    100 TB shape: all three branches are bounded by the distinct-word
    domain and end in map-side-combined scalar rollups; the result is
    three rows."""
    return tokcmp.tokenizer_fertility_compare(_docs(spark, sf_dir))


@register(
    "wordpiece_vocab",
    oracle=wordpiece.wordpiece_vocab_sql(),
    tags=("ext", "tokenizer"),
)
def q_wordpiece_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece POSITION-AWARE vocabulary (BERT family — the third
    tokenizer alongside BPE and unigram-LM): substring candidates over
    the distinct-word domain counted separately per positional form
    (word-initial bare, continuation ##-prefixed), occurrence-weighted;
    top-512 under (cnt DESC, piece ASC) plus every single-char piece
    in both forms — the coverage guarantee greedy MaxMatch needs.
    Corpus-sized work is ONE map-side-combined word count; the
    candidate explode runs over the bounded word domain
    (``ext/wordpiece.py``)."""
    return wordpiece.wordpiece_vocab(_docs(spark, sf_dir))


@register(
    "wordpiece_encode",
    oracle=wordpiece.encode_wordpiece_sql(),
    tags=("ext", "tokenizer"),
)
def q_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-match-first WordPiece encode (BERT's MaxMatch):
    every distinct word (<= 12 chars, the documented unigram-shared
    scope) consumed left-to-right by the longest vocab piece in the
    correct positional form — no scores, no DP, no tie order needed
    (longest match is unique).  Spark: ONE Arrow mapInPandas over the
    bounded distinct-word domain, vocab riding the closure.  The
    oracle unrolls the greedy loop into 12 MATERIALIZED layers whose
    per-layer argmax is span length DESC — the exact loop, not a
    sampled check."""
    return wordpiece.encode_wordpiece(_docs(spark, sf_dir))


@register(
    "quality_probe_train",
    oracle=probe.quality_probe_train_sql(),
    tags=("ext", "curation", "ml"),
)
def q_quality_probe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality classifier, training half (the GPT-3 /
    FineWeb-Edu filter shape): a fastText-style hashed bag-of-words
    linear probe trained by EXACT-INTEGER full-batch GD — 8 epochs of
    squared loss DISTILLING the Gopher rule gate (label = the gate's
    own pass bit — the FineWeb-Edu distillation shape), all gradient
    arithmetic in order-insensitive integer sums, the learning-rate
    division sign-explicit so both engines floordiv positives only,
    the step size from the in-plan trace bound den = n_docs * max
    ||x||^2 (``ext/probe.py``).  Output is the auditable weight
    vector (bucket, weight_micro).

    100 TB shape: per epoch ONE scan of the checkpointed binary
    feature frame + broadcast-weight join + map-side-combined
    aggregate to N_BUCKETS rows; only the bounded weight vector ever
    reaches the driver."""
    return probe.quality_probe_train(_docs(spark, sf_dir))


@register(
    "quality_probe_score",
    oracle=probe.quality_probe_score_sql(),
    tags=("ext", "curation", "ml"),
)
def q_quality_probe_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality classifier, scoring half: every document scored
    by the probe distilled from the Gopher gate (same exact-integer GD
    as ``quality_probe_train``), pred_pass = score > 1/2 — measured
    AUC 0.88 / accuracy 0.79 vs the gate at sf0.01.  The scoring
    pass is scan + broadcast weights + one per-doc aggregate — the
    shape that gates a 100 TB corpus in one pass.  The probe's
    separation quality (labels vs predictions) is pinned in
    tests/test_plans.py, not just its arithmetic."""
    return probe.quality_probe_score(_docs(spark, sf_dir))


@register(
    "kn_trigram_perplexity",
    oracle=knlm.kn_trigram_perplexity_sql(),
    tags=("ext", "curation", "lm"),
)
def q_kn_trigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real CCNet LM filter: interpolated Kneser-Ney TRIGRAM
    perplexity per document, every probability quantized to integer
    ppb with positive-only floordivs and every logarithm computed by a
    FIXED-POINT shift-and-square integer log2 (no libm anywhere — the
    Spark side folds the 10 mantissa squarings in ONE constant-size
    aggregate over a literal sequence; the oracle unrolls them as a
    linear CTE chain; both bit-identical to the Python reference,
    property-tested).  Output in 1/1024-bit units; docs with < 3
    tokens carry -1 sentinels (``ext/knlm.py``).

    100 TB shape: corpus-sized work is the (doc, trigram) tf aggregate
    and the final per-doc score — both map-side combined; all model
    frames live on the trigram-TYPE domain (broadcast here,
    gram-co-partitioned at open-web scale)."""
    return knlm.kn_trigram_perplexity(_docs(spark, sf_dir))


@register(
    "frontier_authority",
    oracle=f"""
    WITH fr AS MATERIALIZED (
      SELECT curl,
             sum(is_sm)::BIGINT AS n_sitemap,
             sum(is_lk)::BIGINT AS n_links
      FROM (
        SELECT curl, 1 AS is_sm, 0 AS is_lk
        FROM ({urls.sitemap_parse_sql("documents")}) sm_side
        UNION ALL
        SELECT dst_curl AS curl, 0 AS is_sm, 1 AS is_lk
        FROM ({html.html_link_graph_sql("documents")}) lk_side
      ) u0
      GROUP BY curl
    ),
    pr AS MATERIALIZED (
      SELECT host, pr FROM ({webgraph.host_pagerank_sql("documents")}) pr_side
    ),
    hr AS (
      SELECT host, pr,
             row_number() OVER (ORDER BY pr DESC, host ASC)::BIGINT AS host_rank
      FROM pr
    ),
    fh AS (
      SELECT f.curl, regexp_extract(f.curl, '{webgraph._CURL_HOST_RE}', 1) AS host,
             f.n_sitemap, f.n_links
      FROM fr f
    )
    SELECT fh.curl, fh.host,
           coalesce(hr.pr, 0)::BIGINT AS host_pr,
           coalesce(hr.host_rank, 1000000)::BIGINT AS host_rank,
           row_number() OVER (PARTITION BY fh.host
             ORDER BY fh.n_sitemap DESC, fh.n_links DESC, fh.curl ASC
           )::BIGINT AS fetch_rank
    FROM fh LEFT JOIN hr USING (host)
    """,
    tags=("ext", "curation", "urls", "graph"),
)
def q_frontier_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Authority-prioritized crawl frontier — the consumer that closes
    the web-graph loop: every frontier URL (sitemap + discovered, the
    ``url_frontier`` frame) keyed by its canonical host, joined with
    the host-PageRank authority, ranked twice: ``host_rank`` orders
    HOSTS by (pr DESC, host ASC) — crawl capacity goes to
    high-authority sites first (the real crawl-scheduling heuristic
    PageRank was built for); ``fetch_rank`` orders URLs WITHIN a host
    by (sitemap-declared first, most-linked, curl) — the politeness
    queue order.  Hosts the rank never saw take the 1e6
    unknown-authority sentinel rank.

    100 TB shape: the frontier aggregate and the rank join shuffle on
    curl/host only; the pagerank frame is host-cardinality and
    BROADCAST (localCheckpoint-pinned — its lineage holds the whole
    edge build); the per-host fetch rank is ext/ranks.py's
    range-partitioned machinery (hosts are few-huge-groups under this
    law); the host_rank window runs over the HOST frame, never the
    frontier."""
    docs = tables.load_table(spark, sf_dir, "documents")
    sm = urls.sitemap_parse(
        urls.with_sitemap_xml(docs.select("doc_id", "source"))
    ).select("curl", F.lit(1).alias("is_sm"), F.lit(0).alias("is_lk"))
    # ONE link-graph extraction for both consumers (guide §1.2): the
    # frontier aggregate and host_pagerank's edge build each need the
    # (doc_id, dst_curl) edge frame, and deriving it twice re-ran the
    # whole page-synthesis + href-extraction + canonicalization scan —
    # the query's single most expensive stage — twice.  Pin the narrow
    # frame once and feed both.
    lk_full = (
        html.html_link_graph(
            html.with_html_pages(
                urls.with_fixture_urls(docs.select("doc_id", "source", "text")),
                carry=("url",),
            ),
            # src_host carried out of the one extraction pass so
            # host_pagerank's edge build needs no doc_id join back to
            # a second URL-law scan (round 16 — see
            # webgraph.host_link_edges)
            src_host=True,
        )
        .select("doc_id", "dst_curl", "src_host")
        .localCheckpoint()
    )
    lk = lk_full.select(
        F.col("dst_curl").alias("curl"),
        F.lit(0).alias("is_sm"),
        F.lit(1).alias("is_lk"),
    )
    frontier = (
        sm.unionByName(lk)
        .groupBy("curl")
        .agg(
            F.sum("is_sm").cast("long").alias("n_sitemap"),
            F.sum("is_lk").cast("long").alias("n_links"),
        )
    )
    pr = webgraph.host_pagerank(
        docs.select("doc_id", "source", "text"), lk=lk_full
    ).localCheckpoint()
    w = Window.orderBy(F.col("pr").desc(), F.col("host").asc())
    hr = pr.select("host", "pr", F.row_number().over(w).cast("long").alias("host_rank"))
    fh = frontier.select(
        "curl",
        F.regexp_extract(F.col("curl"), webgraph._CURL_HOST_RE, 1).alias("host"),
        "n_sitemap",
        "n_links",
    )
    joined = fh.join(F.broadcast(hr), "host", "left").select(
        "curl",
        "host",
        F.coalesce("pr", F.lit(0)).cast("long").alias("host_pr"),
        F.coalesce("host_rank", F.lit(1_000_000)).cast("long").alias("host_rank"),
        (-F.col("n_sitemap")).alias("neg_sm"),
        (-F.col("n_links")).alias("neg_lk"),
    )
    ranked = ranks.with_group_ranks(
        joined, ["host"], ["neg_sm", "neg_lk", "curl"], rank_col="fetch_rank"
    )
    return ranked.select(
        "curl",
        "host",
        "host_pr",
        "host_rank",
        F.col("fetch_rank").cast("long").alias("fetch_rank"),
    )
