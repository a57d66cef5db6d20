"""Driver-side admission bounds for the streaming serve loops
(VERDICT r16 ask #7).

Both streaming admission paths collect a small driver-side list per
micro-batch (the touched-bucket / touched-cell pruning keys).  The
lists are delta-bounded by construction TODAY — neardup's bucket ids
live in [0, n_buckets) and annserve's probed cells are at most
batch_queries x nprobe — but nothing structural stopped a future edit
from collecting something corpus-sized (the round-6 driver-OOM class).
These gates instrument ``DataFrame.collect`` during one real admission
call and pin the bound as a function of the batch, so the property is
asserted, not argued.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR_SMALL


@pytest.fixture
def collect_sizes(monkeypatch):
    """Record len(rows) of every DataFrame.collect issued while the
    fixture is active (the admission functions' driver-side pulls).
    Spark 4 classic-mode frames are pyspark.sql.classic.dataframe
    .DataFrame, which OVERRIDES collect — patch the concrete class,
    not the abstract pyspark.sql.DataFrame."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    sizes: list[int] = []
    orig = ClassicDataFrame.collect

    def wrapper(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(ClassicDataFrame, "collect", wrapper)
    return sizes


def test_neardup_admission_collects_at_most_n_buckets(
    spark, tmp_path, collect_sizes
):
    """admit_batch's only driver pull is the touched-bucket list:
    kbucket = pmod(hash(band, bsig), n_buckets), so EVERY collect in
    the admission path is bounded by min(n_buckets, batch band rows)
    regardless of corpus or index size.  Run for MinHash (BANDS
    positional bands per document) and winnowing (one band row per
    fingerprint), the two bandings of the shared admission core."""
    from sparksent.ext.dedup import BANDS
    from sparksent.streaming import admit_batch, band_index, write_neardup_index
    from sparksent.tables import load_table

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .filter(F.col("doc_id") < 40)
        .localCheckpoint()
    )
    batch_rows = batch.count()
    assert batch_rows > 0

    n_buckets = 16
    for modality in ("minhash", "winnowing"):
        index_path = str(tmp_path / f"{modality}_index")
        out_path = str(tmp_path / f"{modality}_out")
        write_neardup_index(
            band_index(corpus, modality), index_path, n_buckets=n_buckets
        )
        band_rows = band_index(batch, modality).count()
        if modality == "minhash":
            assert band_rows == batch_rows * BANDS

        collect_sizes.clear()
        admit_batch(
            batch, modality, index_path, out_path, batch_id=0, n_buckets=n_buckets
        )
        assert collect_sizes, "admission made no driver pull — did the path change?"
        bound = min(n_buckets, band_rows)
        assert all(s <= bound for s in collect_sizes), (
            f"{modality}: driver-side collect exceeded the touched-bucket "
            f"bound min(n_buckets={n_buckets}, band rows={band_rows}): "
            f"{collect_sizes}"
        )


def test_annserve_collects_at_most_batch_times_nprobe(
    spark, tmp_path, collect_sizes
):
    """ivf_serve_batch's only driver pull is the touched-cell list:
    probes holds at most batch_queries x nprobe rows, so the distinct
    cell list can never exceed it — index (corpus) size must not leak
    into any driver-side collect."""
    from sparksent.streaming import ivf_serve_batch, write_ivf_index
    from sparksent.tables import load_table

    emb = load_table(spark, SF_DIR_SMALL, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    queries = emb.filter(F.col("vec_id") % 2 == 1).limit(8).localCheckpoint()
    n_queries = queries.count()
    assert n_queries > 0

    index_dir = str(tmp_path / "ivf_index")
    out_path = str(tmp_path / "ivf_out")
    write_ivf_index(corpus, index_dir, n_centroids=4)

    nprobe = 2
    collect_sizes.clear()
    ivf_serve_batch(
        queries, index_dir, out_path, k=3, nprobe=nprobe, batch_id=0
    )
    assert collect_sizes, "serve made no driver pull — did the path change?"
    bound = n_queries * nprobe
    assert all(s <= bound for s in collect_sizes), (
        f"driver-side collect exceeded the touched-cell bound "
        f"batch x nprobe = {bound}: {collect_sizes}"
    )
