"""Margin-based bitext mining — parallel-corpus extraction from two
embedding pools (Artetxe & Schwenk 2019, the LASER mining pipeline;
the procedure behind CCMatrix/WikiMatrix-scale parallel corpora).

Multilingual training data is MINED, not found: sentences from two
languages are embedded into one space and candidate translation pairs
are scored by the MARGIN between a pair's cosine and the average
cosine of each side's k nearest neighbors (the ratio margin) — raw
cosine alone over-selects hubs (vectors near everything); dividing by
the neighborhood level cancels the hubness term.  A pair is kept when
it is the MUTUAL best match under the margin (the strictest and
standard selection rule).

Exactness discipline: cosines are the shared float machinery of
``ext/similarity.py`` (identical IEEE op order in Spark/DuckDB), then
QUANTIZED to integer micro-units before any aggregation — neighborhood
sums are BIGINT (order-insensitive), and the margin itself is
``floor(num / den)`` of two exact integers (< 2^53; one IEEE double
division — deterministic and identical in both engines, the
``ext/iterative.py`` pattern), so every rank and the mutual-best set
are bit-stable.

Fixture law: side A = even vec_id, side B = odd (the embeddings table
has no language column; parity is the deterministic split every
engine agrees on).

Scoring: side A, which the plan broadcast into a nested-loop join
before, is collected to the driver once, and ``similarity.cross_dot``
crosses each Arrow batch of side B with the whole A matrix in one numpy
pass (row blocks of at most ``similarity.CROSS_BLOCK_PAIRS`` pairs), so
each vector crosses the Python boundary once instead of once per pair.
The division by the norms stays a JVM expression after the kernel: a
zero-norm vector raises ANSI ``DIVIDE_BY_ZERO``.

100-TB shape: this operator is the SCORING + SELECTION stage; the
all-pairs frame here is the fixture-scale candidate generator, and at
production scale the candidate pairs come from the ANN family
(``similarity_topk_ivf*`` — bipartite bucket joins, never
train x train).  Everything after candidates is windows and
aggregates keyed by one side or the other — co-partitioned,
range-partitioned-rank shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import cosine_sql, cross_dot, norm

K_NN = 4
SIM_SCALE = 1_000_000
# margin numerator constant: sim_i * (2k * SCALE) / (sum_a + sum_b)
# ~= ppm of sim over the mean neighborhood level


def _sides(emb: DataFrame, id_col: str, vec_col: str):
    a = emb.filter(F.col(id_col) % 2 == 0).select(
        F.col(id_col).alias("src_id"),
        F.col(vec_col).alias("av"),
        norm(F.col(vec_col)).alias("na"),
    )
    b = emb.filter(F.col(id_col) % 2 == 1).select(
        F.col(id_col).alias("tgt_id"),
        F.col(vec_col).alias("bv"),
        norm(F.col(vec_col)).alias("nb"),
    )
    return a, b


def bitext_mine_margin(
    emb: DataFrame,
    k: int = K_NN,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(src_id, tgt_id, sim_micro, margin_ppm): the mutual-best
    translation pairs under the ratio margin.  The scored candidate
    frame is localCheckpoint-pinned — four consumers (two top-k
    neighborhood sums, two argmax windows) would otherwise re-run the
    all-pairs kernel per branch."""
    a, b = _sides(emb, id_col, vec_col)
    pairs = (
        cross_dot(b, a, "bv", "av")
        .select(
            "src_id",
            "tgt_id",
            F.floor(
                F.col("dot")
                / (F.col("na") * F.col("nb"))
                * F.lit(float(SIM_SCALE))
            )
            .cast("long")
            .alias("sim_micro"),
        )
        .localCheckpoint()
    )
    wa = Window.partitionBy("src_id").orderBy(
        F.col("sim_micro").desc(), F.col("tgt_id")
    )
    wb = Window.partitionBy("tgt_id").orderBy(
        F.col("sim_micro").desc(), F.col("src_id")
    )
    sum_a = (
        pairs.withColumn("rk", F.row_number().over(wa))
        .filter(F.col("rk") <= k)
        .groupBy("src_id")
        .agg(F.sum("sim_micro").cast("long").alias("sum_a"))
    )
    sum_b = (
        pairs.withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") <= k)
        .groupBy("tgt_id")
        .agg(F.sum("sim_micro").cast("long").alias("sum_b"))
    )
    num = F.col("sim_micro") * F.lit(2 * k * SIM_SCALE)
    den = (F.col("sum_a") + F.col("sum_b")).cast("long")
    m = (
        pairs.join(F.broadcast(sum_a), "src_id")
        .join(F.broadcast(sum_b), "tgt_id")
        .filter(den > 0)
        .select(
            "src_id",
            "tgt_id",
            "sim_micro",
            F.floor(num.cast("double") / den.cast("double"))
            .cast("long")
            .alias("margin_ppm"),
        )
    )
    wfa = Window.partitionBy("src_id").orderBy(
        F.col("margin_ppm").desc(), F.col("tgt_id")
    )
    wfb = Window.partitionBy("tgt_id").orderBy(
        F.col("margin_ppm").desc(), F.col("src_id")
    )
    # pin the margin frame once: fwd and bwd each re-derived it from
    # `pairs` (scan + two broadcast joins per branch), so the pinned
    # form does HALF the upstream compute.  In-session A/B at sf0.1
    # (4 alternating reps x 2 sessions, best-of): unpinned 5.83/6.29 s,
    # pinned 5.75/5.93 s, chained-two-windows 5.71/5.87 s — a local
    # wash because the duplicate branches previously back-filled idle
    # cores (guide §2.6), but at scale the duplicated crossJoin+join
    # subtree is pure waste (guide §1.2/§5 localCheckpoint).  The two
    # argmax windows stay SEPARATE branches: as independent subtrees
    # of the final join they overlap across cores.
    m = m.localCheckpoint()
    fwd = m.withColumn("rka", F.row_number().over(wfa)).filter(F.col("rka") == 1)
    bwd = m.select(
        "src_id", "tgt_id", F.row_number().over(wfb).alias("rkb")
    ).filter(F.col("rkb") == 1)
    return fwd.join(bwd, ["src_id", "tgt_id"]).select(
        "src_id", "tgt_id", "sim_micro", "margin_ppm"
    )


def bitext_mine_margin_sql(
    table: str = "embeddings",
    k: int = K_NN,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> str:
    """DuckDB mirror: same split law, shared cosine text, identical
    quantize-then-aggregate margin arithmetic, same mutual-best rule."""
    return f"""
    WITH a AS (SELECT {id_col} AS src_id, {vec} AS av FROM {table}
               WHERE {id_col} % 2 = 0),
    b AS (SELECT {id_col} AS tgt_id, {vec} AS bv FROM {table}
          WHERE {id_col} % 2 = 1),
    pairs AS MATERIALIZED (
      SELECT src_id, tgt_id,
             floor({cosine_sql('av', 'bv')} * {SIM_SCALE})::BIGINT AS sim_micro
      FROM b CROSS JOIN a
    ),
    sa AS (
      SELECT src_id, sum(sim_micro)::BIGINT AS sum_a
      FROM (SELECT *, row_number() OVER (PARTITION BY src_id
                      ORDER BY sim_micro DESC, tgt_id) AS rk FROM pairs)
      WHERE rk <= {k} GROUP BY 1
    ),
    sb AS (
      SELECT tgt_id, sum(sim_micro)::BIGINT AS sum_b
      FROM (SELECT *, row_number() OVER (PARTITION BY tgt_id
                      ORDER BY sim_micro DESC, src_id) AS rk FROM pairs)
      WHERE rk <= {k} GROUP BY 1
    ),
    m AS MATERIALIZED (
      SELECT p.src_id, p.tgt_id, p.sim_micro,
             floor((p.sim_micro * {2 * k * SIM_SCALE})::DOUBLE
                   / (sa.sum_a + sb.sum_b)::DOUBLE)::BIGINT AS margin_ppm
      FROM pairs p JOIN sa USING (src_id) JOIN sb USING (tgt_id)
      WHERE sa.sum_a + sb.sum_b > 0
    ),
    fwd AS (
      SELECT src_id, tgt_id, sim_micro, margin_ppm
      FROM (SELECT *, row_number() OVER (PARTITION BY src_id
                      ORDER BY margin_ppm DESC, tgt_id) AS rka FROM m)
      WHERE rka = 1
    ),
    bwd AS (
      SELECT src_id, tgt_id
      FROM (SELECT *, row_number() OVER (PARTITION BY tgt_id
                      ORDER BY margin_ppm DESC, src_id) AS rkb FROM m)
      WHERE rkb = 1
    )
    SELECT f.src_id, f.tgt_id, f.sim_micro, f.margin_ppm
    FROM fwd f JOIN bwd USING (src_id, tgt_id)
    """
