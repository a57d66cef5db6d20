"""Streaming ANN serving: top-k retrieval for a STREAM of query
vectors against an at-rest trained-IVF index — the retrieval-side dual
of the dedup admission loops (streaming/neardup.py).  Where the
admission loops maintain their index as the stream flows, the serve
loop's index is read-only (built once per corpus version, the
production pattern: offline index build, online query serving); each
micro-batch of queries reads ONLY its probed cell partitions.

Per micro-batch cost is O(batch x probed-cell size), corpus-independent:
the centroid frame is k x dims (always broadcastable), probe ranking is
batch-bounded, and the candidate fetch partition-prunes the cell layout
exactly like the admission loop's kbucket probe.

Stream ≡ batch: the accumulated per-batch emissions equal
``ivf_trained_topk(corpus, all_queries)`` with the same centroid count
(pinned by tests/test_streaming_equivalence.py) — the trained Lloyd
centroids are deterministic, so serving from the at-rest index
reproduces the fused batch query bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..ext.similarity import (
    IVF_TRAINED_ITERS,
    dot_arrow,
    n_centroids_for,
    norm,
    nprobe_for,
)
from .sinks import _overwrite_partitions


def write_ivf_index(
    corpus: DataFrame,
    index_dir: str,
    n_centroids: int | None = None,
    iters: int = IVF_TRAINED_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Build and persist the trained-IVF index at rest: the corpus in
    its Lloyd cells under ``{index_dir}/cells`` PARTITIONED BY cell (so
    a probe reads ~nprobe/K of the data via partition pruning) and the
    k x dims centroid frame under ``{index_dir}/centroids``.  The
    Lloyd fit is the shared oracle-exact loop (ext/iterative.py) —
    identical centroids to the fused batch query, which is what makes
    the serve loop's emissions equal the batch answer.  repartition on
    cell before partitionBy: one file per cell, not tasks x cells (the
    write_neardup_index small-files guard)."""
    from ..ext.iterative import _kmeans_fit

    if n_centroids is None:
        n_centroids = n_centroids_for(corpus.count())
    final, cents = _kmeans_fit(corpus, n_centroids, iters, id_col, vec_col)
    cells = (
        corpus.select(
            F.col(id_col).cast("long").alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            norm(F.col(vec_col)).alias("nc"),
        )
        # both sides corpus-sized; the checkpointed assignment's lying
        # stats must not broadcast it (ivf_trained_parts precedent)
        .join(
            final.select(F.col("id").alias("neighbor_id"), "cl").hint(
                "shuffle_hash"
            ),
            "neighbor_id",
        )
        .select("neighbor_id", "cv", "nc", F.col("cl").alias("cell"))
    )
    (
        cells.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{index_dir}/cells")
    )
    cents.write.mode("overwrite").parquet(f"{index_dir}/centroids")


def ivf_serve_batch(
    batch_df: DataFrame,
    index_dir: str,
    out_path: str,
    k: int = 5,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    batch_id: int,
) -> None:
    """Serve one micro-batch of query vectors against the at-rest
    index: rank the batch's queries against the broadcast centroid
    frame (scaled-integer L2, ties to the smaller cell — the Lloyd
    loop's own tie-break), partition-prune the cell layout to the
    probed cells, exact-cosine re-rank the candidates, and append
    (query_id, neighbor_id, rank, sim_r) under ``query_batch=batch_id``
    with dynamic partition overwrite — at-least-once replays of a batch
    overwrite their own partition instead of duplicating results (the
    admission-loop idempotency contract; batch_id is therefore
    keyword-only REQUIRED, the round-10 advisor lesson).

    Self-pairs are excluded (``neighbor_id != query_id``) to match the
    batch ``ivf_trained_topk`` exactly, so re-serving a corpus vector
    as a query returns its true neighbors, not itself."""
    from ..ext.iterative import _scaled_vec

    spark = batch_df.sparkSession
    qxs = batch_df.select(
        F.col(id_col).cast("long").alias("query_id"),
        _scaled_vec(vec_col).alias("v"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("nq"),
    ).localCheckpoint()  # probe ranking + candidate join both consume it
    if qxs.count() == 0:
        return
    cents = spark.read.parquet(f"{index_dir}/centroids")
    if nprobe is None:
        # constant-probe-fraction rule (nprobe_for, VERDICT r12 ask
        # #7): derive the probe budget from the index's OWN cell count
        # — the centroid frame is k x dims rows, so the distinct-j
        # count is a broadcast-sized metadata read, and the serving
        # path stays in lockstep with the batch ivf_trained_topk
        # default at any corpus size.
        n_cells = cents.select("j").distinct().count()
        nprobe = nprobe_for(n_cells=n_cells)
    per = (
        qxs.select("query_id", F.posexplode("v").alias("pos", "x"))
        .join(F.broadcast(cents), "pos")
        .groupBy("query_id", "j")
        .agg(F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).alias("d"))
    )
    wq = Window.partitionBy("query_id").orderBy("d", "j")
    probes = (
        per.withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= nprobe)
        .select("query_id", F.col("j").alias("cell"))
        .join(qxs.select("query_id", "qv", "nq"), "query_id")
        .localCheckpoint()  # bounded: batch x nprobe rows
    )
    touched = [r[0] for r in probes.select("cell").distinct().collect()]
    cells = spark.read.parquet(f"{index_dir}/cells").filter(
        F.col("cell").isin(touched)  # partition pruning on the cell layout
    )
    scored = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim", dot_arrow(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    _overwrite_partitions(
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim_r"))
        .withColumn("query_batch", F.lit(int(batch_id))),
        "query_batch",
        out_path,
    )
