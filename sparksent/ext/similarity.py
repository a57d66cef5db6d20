"""Similarity search over the ``embeddings`` table (ARRAY<FLOAT>, dim 64).

Two tiers (SURVEY.md §7.1 M5):

- brute_force_topk: exact cosine top-k. The query set, which the plan
  broadcast into a nested-loop join before, is collected to the driver
  once and crossed with the corpus by :func:`cross_dot`: one scan, one
  ``mapInPandas`` pass in which each corpus Arrow batch meets the whole
  query matrix, split into row blocks of at most ``CROSS_BLOCK_PAIRS``
  pairs. Per-partition partial top-k via the analytic rank keeps the
  shuffle tiny. This is the correctness baseline and is already the
  right plan when the query set is small (it must fit the driver).
- lsh_topk: random-hyperplane LSH (sign-random-projection) — each vector
  lands in a 2^NUM_PLANES bucket; search touches only the query's
  bucket. The planes are deterministic ±1 vectors derived from an LCG so
  the DuckDB oracle reproduces bucket assignment exactly. At 100 TB this
  is the shape that avoids the full scan per query (bucket pruning via
  partitioning on ``bucket``); multi-probe (flipping low-margin bits) is
  the documented recall escalation.

All dot products accumulate left-to-right in double on both engines —
bit-identical scores, verified in tests. ``hard_negatives_topk`` and
``ext.bitext`` score on the same kernel; the candidate-pair joins and
the IVF centroid assignments, which carry vectors downstream, keep the
per-pair :func:`dot_arrow`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StructField, StructType

NUM_PLANES = 4
PLANE_TARGET_LOAD = 32  # expected rows per LSH bucket the plane count aims at
PLANE_AUTO_MAX = 8  # largest plane count the pre-generated oracle branches cover
_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 2_147_483_647
CROSS_BLOCK_PAIRS = 1 << 18  # pairs per cross_dot score block (2 MB of doubles)


def num_planes_for(
    n_rows: int,
    target_load: int = PLANE_TARGET_LOAD,
    floor: int = NUM_PLANES,
    cap: int = 24,
) -> int:
    """Plane count for a corpus of ``n_rows``: the bucket count is
    2^planes, so planes must grow ~log2(N / target_load) or the bucket
    equi-join degrades back toward all-pairs one bucket at a time.  This
    makes that growth rule CODE instead of docstring prose: callers that
    pass ``num_planes=None`` get ``max(floor, ceil(log2(N/target_load)))``
    — deterministic from the row count, so the DuckDB oracle selects the
    same value from its own count(*) (the count-gated branches in
    ``*_auto_sql``).  At the sf0.01 fixture (500 vectors) this yields the
    historical default of 4; at 1e9 rows it yields 25 -> capped to 24
    (16M buckets, ~60 rows/bucket at load 32)."""
    import math

    if n_rows <= 0:
        return floor
    return min(cap, max(floor, math.ceil(math.log2(n_rows / target_load))))


def _plane_count_windows(
    floor: int = NUM_PLANES,
    max_p: int = PLANE_AUTO_MAX,
    target_load: int = PLANE_TARGET_LOAD,
):
    """(p, lo_exclusive, hi_inclusive) count windows under which
    ``num_planes_for`` returns p — the SQL mirror's branch gates.  The
    last window is open-ended only up to target_load * 2^max_p; the
    auto-oracle raises beyond that (fixtures are orders of magnitude
    smaller)."""
    out = []
    for p in range(floor, max_p + 1):
        lo = 0 if p == floor else target_load * (1 << (p - 1))
        out.append((p, lo, target_load * (1 << p)))
    return out


def _plane(j: int, dim: int = 64) -> list[int]:
    """Deterministic ±1 hyperplane #j (same constants in SQL mirror)."""
    out = []
    x = 1 + j
    for _ in range(dim):
        x = (_LCG_A * x + _LCG_C) % _LCG_M
        out.append(1 if (x >> 16) & 1 else -1)
    return out


def dot(a: Column, b: Column) -> Column:
    """Left-to-right double-accumulated dot product of two float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _f64_matrix(vectors: pd.Series) -> np.ndarray:
    """(rows, dim) float64 matrix of a Series of equal-length float
    vectors: the exact float32 -> float64 widening that both Arrow dot
    kernels multiply."""
    return np.stack(vectors.to_numpy()).astype(np.float64)


# returnType as a DataType INSTANCE, not a DDL string: string schemas
# parse through the active SparkSession, which would make importing this
# module require a running session (it broke pytest collection).
@pandas_udf(DoubleType())
def dot_arrow(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-vectorized dot product, bit-identical to :func:`dot`: the
    accumulator adds one (float64) element product per step in dim
    order — the same IEEE op sequence as the JVM fold and the DuckDB
    list_sum, just batched across rows. Spark's higher-order functions
    run interpreted per element, so on the candidate-PAIR hot path
    (pairs >> rows) this is the ~2x-faster form; per-row projections
    (buckets, norms) stay JVM-side where codegen already wins.
    Measured identical output on the full neardup pair set (sf0.1).
    Also A/B'd (round 4) against a fully codegen'd 64-term
    element_at-product chain (same IEEE add order, identical output):
    2.8x SLOWER than this Arrow form (16.5 s vs 5.9 s at sf0.1) — a
    64-wide expression tree blows past what whole-stage codegen
    compiles into tight loops, while Arrow amortizes one Python
    round-trip over the whole batch."""
    n = len(a)
    if n == 0:
        return pd.Series(np.empty(0, dtype=np.float64))
    am, bm = _f64_matrix(a), _f64_matrix(b)
    acc = np.zeros(n, dtype=np.float64)
    for d in range(am.shape[1]):
        acc = acc + am[:, d] * bm[:, d]
    return pd.Series(acc)


def cross_dot(
    left: DataFrame, right: DataFrame, left_vec: str, right_vec: str
) -> DataFrame:
    """Every (left row, right row) pair with its vector dot product.

    The all-pairs kernel behind the exact cross-join scorers: ``right``
    (the small side) is collected to the driver once and ships inside
    the function, and one ``mapInPandas`` over ``left`` crosses each
    Arrow batch with the whole right matrix in one numpy pass. Each
    vector therefore crosses the Python boundary once, not once per
    pair as in a ``crossJoin`` + :func:`dot_arrow` plan.

    Output: ``left``'s columns without ``left_vec``, then ``right``'s
    without ``right_vec``, then ``dot`` (double). ``dot`` is
    bit-identical to :func:`dot_arrow`: float64 products added one dim
    at a time in dim order, starting from 0.0. A left batch is split
    into row blocks of at most ``CROSS_BLOCK_PAIRS`` pairs, which bounds
    the score matrix and each emitted frame. An empty ``right`` yields
    an empty frame. Norms and the division by them are the caller's,
    as JVM expressions, so a zero norm still raises ANSI
    ``DIVIDE_BY_ZERO`` where the caller divides."""
    names = [c for c in left.columns if c != left_vec]
    fields = [f for f in left.schema.fields if f.name != left_vec]
    fields += [f for f in right.schema.fields if f.name != right_vec]
    schema = StructType(fields + [StructField("dot", DoubleType())])
    rpdf = right.toPandas()
    m = len(rpdf)
    if m == 0:
        return left.sparkSession.createDataFrame([], schema)
    rcols = rpdf.drop(columns=[right_vec])
    rt = _f64_matrix(rpdf[right_vec]).T.copy()
    step = max(1, CROSS_BLOCK_PAIRS // m)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lm = _f64_matrix(pdf[left_vec])
            lcols = pdf[names]
            for lo in range(0, len(lm), step):
                blk = lm[lo : lo + step]
                acc = np.zeros((len(blk), m), dtype=np.float64)
                for d in range(blk.shape[1]):
                    acc += np.multiply.outer(blk[:, d], rt[d])
                li = np.repeat(np.arange(lo, lo + len(blk)), m)
                ri = np.tile(np.arange(m), len(blk))
                out = pd.concat(
                    [
                        lcols.iloc[li].reset_index(drop=True),
                        rcols.iloc[ri].reset_index(drop=True),
                    ],
                    axis=1,
                )
                out["dot"] = acc.ravel()
                yield out

    return left.mapInPandas(kernel, schema)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def dot_sql(a: str, b: str, dim: int = 64) -> str:
    return (
        f"list_sum([CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
        f"FOR i IN generate_series(1, {dim})])"
    )


def cosine_sql(a: str, b: str, dim: int = 64) -> str:
    return (
        f"({dot_sql(a, b, dim)} / "
        f"(sqrt({dot_sql(a, a, dim)}) * sqrt({dot_sql(b, b, dim)})))"
    )


# ---------------------------------------------------------------------------
# brute force top-k
# ---------------------------------------------------------------------------


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (self excluded); ties
    broken by neighbor id for a total, engine-independent order."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("nq"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("nc"),
    )
    scored = (
        cross_dot(c, q, "cv", "qv")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        # norms materialize per SIDE (once per vector); the pair-level
        # dot is the all-pairs kernel — same double values as cosine()
        .withColumn("sim", F.col("dot") / (F.col("nq") * F.col("nc")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim_r"))
    )


def brute_force_topk_sql(
    table: str = "embeddings",
    k: int = 5,
    n_queries: int = 10,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> str:
    return f"""
    WITH q AS (SELECT {id_col} AS query_id, {vec} AS qv FROM {table}
               WHERE {id_col} < {n_queries}),
    scored AS (
      SELECT q.query_id, c.{id_col} AS neighbor_id,
             {cosine_sql('qv', f'c.{vec}')} AS sim
      FROM {table} c, q WHERE c.{id_col} <> q.query_id
    )
    SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim_r
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# LSH-bucketed ANN
# ---------------------------------------------------------------------------


def lsh_bucket(
    vec_col: Column | str, dim: int = 64, table: int = 0,
    num_planes: int = NUM_PLANES,
) -> Column:
    """Sign-random-projection bucket id in [0, 2^num_planes). ``table``
    selects an independent hash table (disjoint plane set — planes
    table*num_planes .. (table+1)*num_planes-1)."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    acc = F.lit(0)
    for j in range(num_planes):
        plane = F.array(*[F.lit(float(p)) for p in _plane(table * num_planes + j, dim)])
        bit = (dot(v, plane) > 0).cast("int")
        acc = acc + bit * F.lit(1 << j)
    return acc


def lsh_bucket_sql(
    vec: str, dim: int = 64, table: int = 0, num_planes: int = NUM_PLANES
) -> str:
    terms = []
    for j in range(num_planes):
        plane = "[" + ", ".join(
            str(float(p)) for p in _plane(table * num_planes + j, dim)
        ) + "]"
        d = (
            f"list_sum([CAST({vec}[i] AS DOUBLE) * ({plane}::DOUBLE[])[i] "
            f"FOR i IN generate_series(1, {dim})])"
        )
        terms.append(f"(CASE WHEN {d} > 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int | None = None,
) -> DataFrame:
    """ANN top-k: exact cosine ranking restricted to the query's LSH
    bucket. The bucket equi-join replaces the cross join — at scale the
    corpus is partitioned (or bucketed at rest) on ``bucket`` and only
    matching partitions are read.  ``num_planes=None`` self-scales the
    bucket count from the corpus row count (:func:`num_planes_for`),
    keeping per-bucket load ~constant as N grows; the oracle mirrors it
    with count-gated branches (``lsh_topk_auto_sql``)."""
    if num_planes is None:
        num_planes = num_planes_for(corpus.count())
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        lsh_bucket(vec_col, num_planes=num_planes).alias("bucket"),
        norm(F.col(vec_col)).alias("nc"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        lsh_bucket(vec_col, num_planes=num_planes).alias("bucket"),
        norm(F.col(vec_col)).alias("nq"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim", dot_arrow(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim_r"))
    )


def lsh_topk_sql(
    table: str = "embeddings",
    k: int = 5,
    n_queries: int = 10,
    id_col: str = "vec_id",
    vec: str = "embedding",
    num_planes: int = NUM_PLANES,
) -> str:
    return f"""
    WITH b AS (
      SELECT {id_col}, {vec} AS v,
             {lsh_bucket_sql(vec, num_planes=num_planes)} AS bucket FROM {table}
    ),
    q AS (SELECT {id_col} AS query_id, v AS qv, bucket FROM b
          WHERE {id_col} < {n_queries}),
    scored AS (
      SELECT q.query_id, c.{id_col} AS neighbor_id,
             {cosine_sql('qv', 'c.v')} AS sim
      FROM b c JOIN q USING (bucket) WHERE c.{id_col} <> q.query_id
    )
    SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim_r
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= {k}
    """


def _count_gated_union(table: str, branch_sql, windows=None) -> str:
    """UNION ALL of per-parameter branches, each gated on the corpus
    count window under which the Python sizing helper picks that value —
    the static-SQL mirror of a runtime decision that is deterministic
    from the row count.  Exactly one branch's gate holds for any given
    fixture; the others parse but return nothing.  A final guard branch
    errors if the corpus outgrows the pre-generated range."""
    windows = windows if windows is not None else _plane_count_windows()
    branches = [
        f"""SELECT * FROM (
        {branch_sql(p)}
        ) b{p} WHERE (SELECT count(*) FROM {table}) > {lo}
           AND (SELECT count(*) FROM {table}) <= {hi}"""
        for p, lo, hi in windows
    ]
    max_n = windows[-1][2]
    branches.append(
        f"""SELECT * FROM (
        {branch_sql(windows[0][0])}
        ) boverflow WHERE (SELECT count(*) FROM {table}) > {max_n}
           AND error('corpus exceeds pre-generated sizing branches')"""
    )
    return " UNION ALL ".join(branches)


def lsh_topk_auto_sql(
    table: str = "embeddings",
    k: int = 5,
    n_queries: int = 10,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> str:
    """Oracle for ``lsh_topk(num_planes=None)``: count-gated branches,
    one per plane count the corpus size could select."""
    return _count_gated_union(
        table,
        lambda p: lsh_topk_sql(table, k, n_queries, id_col, vec, num_planes=p),
    )


# ---------------------------------------------------------------------------
# embedding near-dup pairs (threshold form)
# ---------------------------------------------------------------------------


N_TABLES = 2  # independent LSH tables for the near-dup candidate union


def cosine_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int | None = None,
    n_tables: int = N_TABLES,
) -> DataFrame:
    """Embedding near-dup pairs with cosine >= threshold, candidates via
    multi-probe LSH over ``N_TABLES`` independent hash tables: in each
    table every vector lives in one sign-random-projection bucket, and
    the probe side explodes each vector into its own bucket plus the
    NUM_PLANES buckets at hamming distance 1. A pair is a candidate iff
    hamming(bucket_a, bucket_b) <= 1 in ANY table — per-table miss
    probabilities multiply (standard LSH banding), which lifts measured
    recall vs exact all-pairs from ~0.46 to ~0.8 at the fixture's hard
    threshold (0.4 ~ 66 deg; at production dedup thresholds >= 0.9 each
    table alone is >0.9). A pair matching in several tables joins once
    per table, so a final distinct on the (tiny) post-threshold output
    dedups — candidate generation itself stays join-once per table.

    Scale shape: a hash equi-join on (tbl, bucket) — O(sum of
    per-bucket n^2) per table instead of all-pairs O(N^2); at rest the
    corpus is partitioned on (tbl, bucket) so only co-bucketed
    partitions meet. Recall is tunable by n_tables at linear candidate
    cost, and ``num_planes`` MUST grow with the corpus
    (~log2(N / target_bucket_load)): the bucket count is 2^num_planes,
    so a fixed plane count at growing N degrades the equi-join back
    toward all-pairs one bucket at a time. That growth rule is now
    self-applying: ``num_planes=None`` (the default, used by the
    registered query) resolves via :func:`num_planes_for` from the
    corpus row count — one metadata-only parquet count() before the
    plan builds, mirrored by the oracle's count-gated branches
    (``cosine_neardup_pairs_auto_sql``).  The exact all-pairs form
    survives as ``cosine_neardup_pairs_exact``, and the measured recall
    floor is pinned in tests/test_properties.py.
    """
    if num_planes is None:
        num_planes = num_planes_for(corpus.count())
    # Norms materialize per SIDE, before the join: the join is a
    # projection-collapse barrier, so each vector's norm evaluates once
    # per row instead of once per candidate pair — the per-pair cost
    # drops from three interpreted array-fold passes (dot + 2 norms) to
    # one (the dot). Buckets come from the RAW vector, exactly as the
    # oracle computes them.
    # NOT checkpointed, deliberately: the A/B (sf0.1, 3 rounds) shows
    # the pair-dot stage dominates and materializing `base` is a wash on
    # time while storing the full vector per row — the expensive side of
    # recompute-vs-store at corpus scale (contrast minhash/simhash,
    # whose signature frames are a few longs per doc and ARE stored).
    base = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("nrm"),
        *[lsh_bucket(vec_col, table=t, num_planes=num_planes).alias(f"own{t}")
          for t in range(n_tables)],
    )
    b = base.select(
        F.col("id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("tbl"), F.col(f"own{t}").alias("bucket"))
                    for t in range(n_tables)
                ]
            )
        ).alias("tb"),
    ).select("id_b", "vb", "nb", "tb.tbl", "tb.bucket")
    a = base.select(
        F.col("id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        F.col(f"own{t}").bitwiseXOR(F.lit(flip)).alias("bucket"),
                    )
                    for t in range(n_tables)
                    for flip in [0] + [1 << j for j in range(num_planes)]
                ]
            )
        ).alias("tb"),
    ).select("id_a", "va", "na", "tb.tbl", "tb.bucket")
    scored = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "sim", dot_arrow(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
    )
    # The multi-table duplicate collapse is an aggregate (max over a
    # pair's identical sims == the sim) rather than the former
    # post-threshold distinct, and the threshold applies to the
    # aggregated value: a row-level filter between the pandas-UDF dot
    # and the projection made Catalyst extract the UDF into TWO
    # ArrowEvalPython stages, evaluating every candidate's dot twice.
    # The aggregate is a real attribute barrier, so the dot evaluates
    # once (plan-gated).  A/B at sf0.1 is a wash (2.48 vs 2.47 s best
    # of 3 — 64-dim dots on 2k vectors are cheap); the structural win
    # is at production vector widths and candidate volumes, where the
    # Arrow stage dominates.  The trade: below-threshold candidates now
    # enter the pair shuffle (24 B/candidate) instead of being cut
    # before it.
    return (
        scored.groupBy("id_a", "id_b")
        .agg(F.max("sim").alias("sim"))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim_r"))
    )


def cosine_neardup_pairs_sql(
    table: str = "embeddings", threshold: float = 0.4,
    id_col: str = "vec_id", vec: str = "embedding",
    num_planes: int = NUM_PLANES, n_tables: int = N_TABLES,
) -> str:
    """DuckDB mirror of the multi-table multi-probe restriction above
    (norms materialized per side, same float op order as the plan)."""
    flips = ", ".join(f"xor(own, {1 << j})" for j in range(num_planes))
    sim = f"({dot_sql('p.va', 'c.v')} / (p.na * c.nb))"
    per_table = " UNION ALL ".join(
        f"SELECT {t} AS tbl, {id_col} AS id, v, nrm, own{t} AS own FROM base"
        for t in range(n_tables)
    )
    return f"""
    WITH base AS (
      SELECT {id_col}, {vec} AS v, sqrt({dot_sql(vec, vec)}) AS nrm,
             {", ".join(f"{lsh_bucket_sql(vec, table=t, num_planes=num_planes)}::BIGINT AS own{t}" for t in range(n_tables))}
      FROM {table}
    ),
    cand AS ({per_table}),
    probes AS (
      SELECT tbl, id AS id_a, v AS va, nrm AS na,
             unnest([own, {flips}]) AS bucket
      FROM cand
    )
    SELECT DISTINCT p.id_a, c.id AS id_b, round({sim}, 6) AS sim_r
    FROM (SELECT tbl, id, v, nrm AS nb, own FROM cand) c
    JOIN probes p ON p.tbl = c.tbl AND p.bucket = c.own
    WHERE p.id_a < c.id
      AND {sim} >= {threshold}
    """


def cosine_neardup_pairs_auto_sql(
    table: str = "embeddings", threshold: float = 0.4,
    id_col: str = "vec_id", vec: str = "embedding",
    n_tables: int = N_TABLES,
) -> str:
    """Oracle for ``cosine_neardup_pairs(num_planes=None)``: count-gated
    branches, one per plane count the corpus size could select."""
    return _count_gated_union(
        table,
        lambda p: cosine_neardup_pairs_sql(
            table, threshold, id_col, vec, num_planes=p, n_tables=n_tables
        ),
    )


def cosine_neardup_pairs_exact(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs exact form — O(N^2) cross join; test-side oracle helper
    for measuring the LSH candidate recall, NOT a registered query."""
    a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim_r"))
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN
# ---------------------------------------------------------------------------

N_CENTROIDS = 8
CENTROID_ID_LO = 100  # centroids = corpus vectors [100, 100+K): fixed,
NPROBE = 2            # deterministic, disjoint from the query id range
CENTROID_TARGET_CELL = 256  # expected vectors per IVF cell the count aims at
CENTROID_AUTO_MAX = 12  # largest centroid count the oracle branches cover


def n_centroids_for(
    n_rows: int,
    target_cell: int = CENTROID_TARGET_CELL,
    floor: int = N_CENTROIDS,
    cap: int = 65536,
) -> int:
    """IVF cell count for a corpus of ``n_rows``: nlist ~
    sqrt(N / target_cell) — the classic IVF sizing rule (probe cost is
    nprobe * N/nlist per query, assignment cost N * nlist; the square
    root balances them).  Same contract as :func:`num_planes_for`: the
    rule is code, deterministic from the row count, and the oracle's
    count-gated branches (``ivf_topk_auto_sql``) select the same value.
    Every driver fixture resolves to the floor (8 cells up to 16,384
    vectors), so fixture results are unchanged; at 1e9 rows the rule
    gives ~1,977 cells (~500k vectors/cell at target 256... capped only
    at an extreme 65,536)."""
    import math

    if n_rows <= 0:
        return floor
    return min(cap, max(floor, math.ceil(math.sqrt(n_rows / target_cell))))


def n_centroids_oracle_checked(n_rows: int) -> int:
    """``n_centroids_for`` for REGISTERED query/oracle pairs: the
    pre-generated count-gated oracles only carry branches up to
    ``CENTROID_AUTO_MAX`` cells, so a corpus that would self-scale past
    them must fail loudly on the QUERY side too — symmetric with the
    oracle's ``error()`` overflow branch — instead of the pair
    diverging (the ``semdedup_k_oracle_checked`` convention, ADVICE
    r7).  The library rule stays unclamped: production callers pass
    ``n_centroids=None`` and scale to thousands of cells; only the
    fixture-facing registrations route through this check."""
    k = n_centroids_for(n_rows)
    if k > CENTROID_AUTO_MAX:
        raise ValueError(
            f"n_centroids_for({n_rows}) = {k} exceeds the pre-generated "
            f"oracle branch ceiling {CENTROID_AUTO_MAX} (corpora up to "
            f"{CENTROID_TARGET_CELL * CENTROID_AUTO_MAX ** 2} vectors); "
            "extend _centroid_count_windows if the driver fixtures grow"
        )
    return k


PROBE_FRACTION = 0.15  # registered probe budget: fraction of cells a query reads


def nprobe_for(
    n_rows: int | None = None,
    n_cells: int | None = None,
    target_fraction: float = PROBE_FRACTION,
) -> int:
    """Probe count for a trained-IVF search: hold the probe FRACTION
    (nprobe / n_cells ~= fraction of the corpus read per query)
    constant as the corpus grows — the sizing rule the round-12 ×20
    recall measurement validated (SCALE.md: K=13 cells at 40k vectors,
    nprobe=2 = 15.4% of the corpus probed, recall@5 0.98; nprobe=4
    recovers the cross-cell-boundary tail to 1.00).  Codified here
    (VERDICT r12 ask #7) so the rule is code, not prose: callers grow
    ``n_cells`` ~sqrt(N) via :func:`n_centroids_for` and this returns
    ceil(target_fraction * n_cells), clamped to [1, n_cells] — probe
    work per query stays ~target_fraction * N rows at ANY corpus size.
    Derives ``n_cells`` from ``n_rows`` when only the corpus size is
    known.  Every driver fixture (K = 8..13) resolves to the historic
    NPROBE = 2, so registered results are unchanged by construction."""
    import math

    if n_cells is None:
        if n_rows is None:
            raise ValueError("nprobe_for needs n_rows or n_cells")
        n_cells = n_centroids_for(n_rows)
    return min(n_cells, max(1, math.ceil(target_fraction * n_cells)))


def _centroid_count_windows(
    floor: int = N_CENTROIDS,
    max_k: int = CENTROID_AUTO_MAX,
    target_cell: int = CENTROID_TARGET_CELL,
):
    """(K, lo_exclusive, hi_inclusive) count windows under which
    ``n_centroids_for`` returns K."""
    out = []
    for k in range(floor, max_k + 1):
        lo = 0 if k == floor else target_cell * (k - 1) ** 2
        out.append((k, lo, target_cell * k * k))
    return out


def _ivf_cells(
    corpus: DataFrame, id_col: str, vec_col: str,
    n_centroids: int = N_CENTROIDS,
):
    """(centroids, assignment): every corpus vector assigned to its
    max-cosine centroid (ties -> lowest centroid id). The centroid set
    is K fixed corpus vectors — a deterministic stand-in for k-means
    (the training step is orthogonal to the search plan; swapping in
    learned centroids changes no query code)."""
    cents = corpus.filter(
        (F.col(id_col) >= CENTROID_ID_LO)
        & (F.col(id_col) < CENTROID_ID_LO + n_centroids)
    ).select(
        F.col(id_col).alias("cent_id"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("ncent"),
    )
    w = Window.partitionBy("vid").orderBy(F.col("csim").desc(), F.col("cent_id"))
    assign = (
        corpus.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("vv"),
            norm(F.col(vec_col)).alias("nv"),
        )
        .crossJoin(F.broadcast(cents))
        .withColumn(
            "csim",
            dot_arrow(F.col("vv"), F.col("cvec")) / (F.col("nv") * F.col("ncent")),
        )
        .withColumn("crank", F.row_number().over(w))
    )
    return cents, assign


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
) -> DataFrame:
    """IVF ANN top-k: corpus vectors live in their nearest-centroid cell
    (crank = 1); each query probes its ``nprobe`` nearest cells and
    ranks exact cosine inside the probed candidates only.

    Scale shape: assignment is one broadcast pass (N x K dot products,
    embarrassingly parallel); at rest the corpus is partitioned by
    ``cell`` so a query reads nprobe/K of the data. Recall grows with
    nprobe at linear cost — the standard IVF trade.  ``n_centroids=None``
    (the registered default) self-scales the cell count ~sqrt(N)
    (:func:`n_centroids_for`), mirrored by the oracle's count-gated
    branches."""
    if n_centroids is None:
        n_centroids = n_centroids_for(corpus.count())
    cents, assign = _ivf_cells(corpus, id_col, vec_col, n_centroids)
    cells = assign.filter(F.col("crank") == 1).select(
        F.col("vid").alias("neighbor_id"),
        F.col("vv").alias("cv"),
        F.col("nv").alias("nc"),
        F.col("cent_id").alias("cell"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("cent_id"))
    probes = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            norm(F.col(vec_col)).alias("nq"),
        )
        .crossJoin(F.broadcast(cents))
        .withColumn(
            "csim",
            dot_arrow(F.col("qv"), F.col("cvec")) / (F.col("nq") * F.col("ncent")),
        )
        .withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= nprobe)
        .select("query_id", "qv", "nq", F.col("cent_id").alias("cell"))
    )
    scored = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim", dot_arrow(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim_r"))
    )


def ivf_topk_sql(
    table: str = "embeddings",
    k: int = 5,
    n_queries: int = 10,
    nprobe: int = NPROBE,
    id_col: str = "vec_id",
    vec: str = "embedding",
    n_centroids: int = N_CENTROIDS,
) -> str:
    return f"""
    WITH cents AS (
      SELECT {id_col} AS cent_id, {vec} AS cvec FROM {table}
      WHERE {id_col} >= {CENTROID_ID_LO}
        AND {id_col} < {CENTROID_ID_LO + n_centroids}
    ),
    assign AS (
      SELECT v.{id_col} AS vid, v.{vec} AS vv, c.cent_id,
             row_number() OVER (PARTITION BY v.{id_col}
                                ORDER BY {cosine_sql(f'v.{vec}', 'c.cvec')} DESC,
                                         c.cent_id) AS crank
      FROM {table} v, cents c
    ),
    cells AS (SELECT vid AS neighbor_id, vv AS cv, cent_id AS cell
              FROM assign WHERE crank = 1),
    probes AS (SELECT vid AS query_id, vv AS qv, cent_id AS cell
               FROM assign WHERE crank <= {nprobe} AND vid < {n_queries}),
    scored AS (
      SELECT p.query_id, c.neighbor_id, {cosine_sql('p.qv', 'c.cv')} AS sim
      FROM cells c JOIN probes p USING (cell)
      WHERE c.neighbor_id <> p.query_id
    )
    SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim_r
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= {k}
    """


def ivf_topk_auto_sql(
    table: str = "embeddings",
    k: int = 5,
    n_queries: int = 10,
    nprobe: int = NPROBE,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> str:
    """Oracle for ``ivf_topk(n_centroids=None)``: count-gated branches,
    one per centroid count the corpus size could select (every fixture
    resolves to the floor of 8)."""
    return _count_gated_union(
        table,
        lambda kc: ivf_topk_sql(
            table, k, n_queries, nprobe, id_col, vec, n_centroids=kc
        ),
        windows=_centroid_count_windows(),
    )


IVF_TRAINED_ITERS = 2  # Lloyd rounds for the trained-centroid index


def ivf_trained_parts(
    corpus: DataFrame,
    queries: DataFrame,
    nprobe: int | None = None,
    iters: int = IVF_TRAINED_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    xs: DataFrame | None = None,
    vectors: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """(cells, probes) for the trained-IVF index — split out so the
    candidate BUDGET is measurable (tests pin candidate pairs /
    (n_queries x N) <= the nprobe/K fraction the index promises):
    ``cells`` = (neighbor_id, cv, nc, cell) — every corpus vector in
    its trained Lloyd cell; ``probes`` = (query_id, qv, nq, cell) —
    each query's top-``nprobe`` trained cells by scaled-int L2, ties to
    the smaller cell id (the Lloyd loop's own tie-break).

    ``vectors=False`` (the ADC path, round 16): the code-ranked search
    never touches a raw vector, so the corpus join that attaches
    (cv, nc) — a full corpus scan PLUS a corpus x corpus shuffled-hash
    join — is pure waste there: the Lloyd assignment already IS
    (id, cell) for every corpus id.  Cells are then the assignment
    frame renamed, and probes skip the qv/nq attach.  ``xs``: optional
    prebuilt pinned scaled frame shared with the PQ stages."""
    from .iterative import _kmeans_fit, _scaled_vec, scaled_base

    base = None
    if xs is None:
        # ONE pinned corpus pass (round 16, guide §1.2): the Lloyd
        # loop's scaled vectors AND — when the search stage needs them
        # — the raw vector + norm ride the same pin, so the vector
        # attach below reads the materialized RDD instead of paying a
        # SECOND corpus scan + norm recompute.
        carry = (
            [F.col(vec_col).alias("cv"), norm(F.col(vec_col)).alias("nc")]
            if vectors
            else None
        )
        base = scaled_base(corpus, id_col, vec_col, carry=carry)
        xs = base
    if n_centroids is None:
        n_centroids = n_centroids_for(xs.count())
    if nprobe is None:
        # constant-probe-fraction rule (nprobe_for): every fixture
        # resolves to the historic NPROBE = 2
        nprobe = nprobe_for(n_cells=n_centroids)
    final, cents = _kmeans_fit(corpus, n_centroids, iters, id_col, vec_col, xs=xs)
    if vectors:
        # vector side of the attach: the shared pin when this function
        # built it; a caller-provided xs has no raw-vector carry, so
        # that (library-only) path keeps the corpus-scan attach.
        vside = (
            base.select("id", "cv", "nc")
            if base is not None
            else corpus.select(
                F.col(id_col).cast("long").alias("id"),
                F.col(vec_col).alias("cv"),
                norm(F.col(vec_col)).alias("nc"),
            )
        )
        # vside x assignment on id: both sides corpus-sized, so the
        # join is shuffle_hash-pinned — the checkpoint-descended sides
        # must not elect for broadcast (the plan_audit bcast_rdd hazard
        # class); co-partitioning on id is the correct shape at any
        # scale.
        cells = (
            vside
            .join(final.select("id", "cl").hint("shuffle_hash"), "id")
            .select(
                F.col("id").alias("neighbor_id"), "cv", "nc", F.col("cl").alias("cell")
            )
        )
    else:
        cells = final.select(
            F.col("id").alias("neighbor_id"), F.col("cl").alias("cell")
        )
    qxs = queries.select(
        F.col(id_col).cast("long").alias("query_id"),
        _scaled_vec(vec_col).alias("v"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("nq"),
    )
    # The probe explode is n_queries x dims rows — bounded by the query
    # set, not the corpus.
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
    )
    if vectors:
        probes = probes.join(qxs.select("query_id", "qv", "nq"), "query_id")
    return cells, probes


def ivf_trained_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int | None = None,
    iters: int = IVF_TRAINED_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
) -> DataFrame:
    """IVF ANN with TRAINED centroids + exact re-rank (VERDICT r8 ask
    #1): the cell structure comes from the shared oracle-exact Lloyd
    loop (ext/iterative.py) run on the corpus itself — a data-dependent
    index, unlike :func:`ivf_topk`'s fixed seed-vector cells — so on
    clustered embeddings (the regime ANN indexes exist for) the probed
    cells actually contain the true neighbors.  Measured on the
    mixture-of-Gaussians fixture: recall >= 0.8 at <= 1/4 candidate
    budget (tests/test_properties.py::test_ivf_trained_recall_clustered)
    vs the untrained ladder's 0.02-0.38 on the same budget.

    Plan shape: training is the dual-path Lloyd loop (shuffle-free
    broadcast-row argmin at self-scaled k — SCALE.md round-8 fix); the
    final assignment IS the cell layout (one integer-exact pass, no
    extra scan); query->centroid ranking joins the bounded query set
    against the broadcast k x dims centroid frame (n_queries x k rows,
    never corpus-sized); search is a cell equi-join against the
    broadcast probe set followed by EXACT cosine re-rank of the bounded
    candidates — at rest the corpus is partitioned by cell so a query
    reads ~nprobe/K of the data.  Probe ranking is scaled-integer L2
    (bit-exact both engines); the re-rank is the left-to-right double
    cosine every similarity query pins."""
    cells, probes = ivf_trained_parts(
        corpus, queries, nprobe, iters, id_col, vec_col, n_centroids
    )
    scored = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim", dot_arrow(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim_r"))
    )


def ivf_trained_topk_sql(
    table: str = "embeddings",
    k: int = 5,
    n_queries: int = 10,
    nprobe: int = NPROBE,
    iters: int = IVF_TRAINED_ITERS,
    id_col: str = "vec_id",
    vec: str = "embedding",
    n_centroids: int = N_CENTROIDS,
    dim: int = 64,
    extra_ctes: str = "",
) -> str:
    """DuckDB mirror of :func:`ivf_trained_topk`, composed from the
    shared Lloyd CTEs (iterative.kmeans_ctes_sql): the final assignment
    a{iters+1} is the cell layout, c{iters} the trained centroid frame
    the queries rank against with the same scaled-int L2 + (d, j)
    tie-break, and the re-rank is the shared double cosine.

    ``extra_ctes`` lets a caller prepend CTEs and point ``table`` at
    one of them (the image-embedding oracle derives its vector frame
    from decoded-pixel CTEs first); ``dim`` sizes the cosine unroll
    (64 for the embeddings fixture, 72 for the 9x8 image grid)."""
    from .iterative import kmeans_ctes_sql

    int_l2 = (
        "list_sum(list_transform(list_zip(xs.v, c.c), "
        "p -> (p[1]-p[2])*(p[1]-p[2])))::BIGINT"
    )
    pre = f"{extra_ctes}," if extra_ctes else ""
    return f"""
    WITH {pre}
    {kmeans_ctes_sql(table, n_centroids, iters, id_col, vec)},
    cells AS (
      SELECT a.id AS neighbor_id, e.{vec} AS cv, a.cl AS cell
      FROM a{iters + 1} a JOIN {table} e ON e.{id_col} = a.id
    ),
    qd AS (
      SELECT xs.id AS query_id, c.j AS cell,
             row_number() OVER (PARTITION BY xs.id
                                ORDER BY {int_l2}, c.j) AS crank
      FROM xs CROSS JOIN c{iters} c
      WHERE xs.id < {n_queries}
    ),
    probes AS (
      SELECT q.query_id, q.cell, e.{vec} AS qv
      FROM qd q JOIN {table} e ON e.{id_col} = q.query_id
      WHERE q.crank <= {nprobe}
    ),
    scored AS (
      SELECT p.query_id, c.neighbor_id,
             {cosine_sql('p.qv', 'c.cv', dim)} AS sim
      FROM cells c JOIN probes p USING (cell)
      WHERE c.neighbor_id <> p.query_id
    )
    SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim_r
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= {k}
    """


def ivf_trained_auto_sql(
    table: str = "embeddings",
    k: int = 5,
    n_queries: int = 10,
    nprobe: int | None = None,
    iters: int = IVF_TRAINED_ITERS,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> str:
    """Oracle for ``ivf_trained_topk(n_centroids=None)``: count-gated
    branches over the shared IVF cell-count windows (every fixture
    resolves to the floor of 8).  ``nprobe=None`` mirrors the query
    side's constant-probe-fraction rule per branch — each window's
    branch embeds ``nprobe_for(n_cells=kc)``, so query and oracle
    derive the probe budget from the SAME function at every corpus
    size the branches cover."""
    return _count_gated_union(
        table,
        lambda kc: ivf_trained_topk_sql(
            table,
            k,
            n_queries,
            nprobe if nprobe is not None else nprobe_for(n_cells=kc),
            iters,
            id_col,
            vec,
            n_centroids=kc,
        ),
        windows=_centroid_count_windows(),
    )


def lsh_topk_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int | None = None,
) -> DataFrame:
    """Multi-probe ANN: each query searches its own LSH bucket PLUS the
    num_planes buckets at hamming distance 1 (one flipped hyperplane
    bit) — the standard recall escalation at ~(1+num_planes)x candidate
    cost, still reading only probed buckets (never the full corpus).
    Corpus vectors live in exactly one bucket, so probing distinct
    buckets yields no duplicate pairs.  ``num_planes=None`` self-scales
    from the corpus row count (:func:`num_planes_for`), mirrored by the
    oracle's count-gated branches (``lsh_topk_multiprobe_auto_sql``)."""
    if num_planes is None:
        num_planes = num_planes_for(corpus.count())
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        lsh_bucket(vec_col, num_planes=num_planes).alias("bucket"),
        norm(F.col(vec_col)).alias("nc"),
    )
    # Bucket computed ONCE per query row, then probe variants derive by
    # XOR-ing the column — not by re-evaluating the num_planes-fold
    # bucket expression per probe slot, which would cost O(num_planes^2)
    # interpreted dot-folds per row and grows quadratically now that the
    # plane count self-scales with the corpus (same shape as
    # cosine_neardup_pairs and the SQL mirror's xor(bucket, ...)).
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("nq"),
        lsh_bucket(vec_col, num_planes=num_planes).alias("own"),
    ).select(
        "query_id",
        "qv",
        "nq",
        F.explode(
            F.array(
                F.col("own"),
                *[
                    F.col("own").bitwiseXOR(F.lit(1 << j))
                    for j in range(num_planes)
                ],
            )
        ).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(probes), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim", dot_arrow(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim_r"))
    )


def lsh_topk_multiprobe_sql(
    table: str = "embeddings",
    k: int = 5,
    n_queries: int = 10,
    id_col: str = "vec_id",
    vec: str = "embedding",
    num_planes: int = NUM_PLANES,
) -> str:
    flips = ", ".join(f"xor(bucket, {1 << j})" for j in range(num_planes))
    return f"""
    WITH b AS (
      SELECT {id_col}, {vec} AS v,
             {lsh_bucket_sql(vec, num_planes=num_planes)}::BIGINT AS bucket
      FROM {table}
    ),
    probes AS (
      SELECT {id_col} AS query_id, v AS qv,
             unnest([bucket, {flips}]) AS bucket
      FROM b WHERE {id_col} < {n_queries}
    ),
    scored AS (
      SELECT p.query_id, c.{id_col} AS neighbor_id,
             {cosine_sql('p.qv', 'c.v')} AS sim
      FROM b c JOIN probes p USING (bucket) WHERE c.{id_col} <> p.query_id
    )
    SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim_r
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= {k}
    """


def lsh_topk_multiprobe_auto_sql(
    table: str = "embeddings",
    k: int = 5,
    n_queries: int = 10,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> str:
    """Oracle for ``lsh_topk_multiprobe(num_planes=None)``: count-gated
    branches over the shared plane-count windows."""
    return _count_gated_union(
        table,
        lambda p: lsh_topk_multiprobe_sql(
            table, k, n_queries, id_col, vec, num_planes=p
        ),
    )


# ---------------------------------------------------------------------------
# hard-negative mining (metric-learning training pairs)
# ---------------------------------------------------------------------------


def hard_negatives_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive / metric learning: per
    query (anchor), the k most-similar corpus vectors with a DIFFERENT
    label — the negatives a triplet/InfoNCE loss learns most from.
    Exact cosine baseline (ties by neighbor id); the label-mismatch
    predicate filters BEFORE the rank so the k slots are all negatives.

    Scale: candidate generation is pluggable — this exact form scans
    the corpus once against the collected anchor set (the
    brute_force_topk shape on :func:`cross_dot`); at corpus scale swap
    the candidate join for the registered LSH/IVF bucket paths
    (lsh_topk / ivf_topk) and
    keep the same label filter + rank tail, trading recall for the
    bucket-pruned scan exactly as the similarity_topk ladder pins.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("q_label"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("nq"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("n_label"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("nc"),
    )
    scored = (
        cross_dot(c, q, "cv", "qv")
        .filter(F.col("n_label") != F.col("q_label"))
        .withColumn("sim", F.col("dot") / (F.col("nq") * F.col("nc")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("n_label").cast("long").alias("neg_label"),
            "rank",
            F.round("sim", 6).alias("sim_r"),
        )
    )


def hard_negatives_topk_sql(
    table: str = "embeddings",
    k: int = 5,
    n_queries: int = 10,
    id_col: str = "vec_id",
    vec: str = "embedding",
    label_col: str = "label",
) -> str:
    return f"""
    WITH q AS (SELECT {id_col} AS query_id, {label_col} AS q_label, {vec} AS qv
               FROM {table} WHERE {id_col} < {n_queries}),
    scored AS (
      SELECT q.query_id, c.{id_col} AS neighbor_id,
             c.{label_col}::BIGINT AS neg_label,
             {cosine_sql('qv', f'c.{vec}')} AS sim
      FROM {table} c, q WHERE c.{label_col} <> q.q_label
    )
    SELECT query_id, neighbor_id, neg_label, rank, round(sim, 6) AS sim_r
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# product quantization (embedding compression for 100-TB vector storage)
# ---------------------------------------------------------------------------

PQ_SCALE = 1_000_000


def pq_scaled(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, v): vectors scaled to longs (floor(x * 1e6)) — the shared
    integer domain of the PQ codebook and every ADC distance."""
    return emb.select(
        F.col(id_col).cast("long").alias("id"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * F.lit(float(PQ_SCALE))).cast("long"),
        ).alias("v"),
    )


def pq_centroids(
    emb: DataFrame,
    n_cent: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    xs: DataFrame | None = None,
) -> DataFrame:
    """(cent, pos, c): the per-dimension codebook rows — the scaled
    vectors with id < n_cent (the k-means seeding convention), exploded
    by position.  n_cent x dims rows, always broadcastable.  ``xs``:
    optional prebuilt scaled (id, v) frame (round-16 sharing seam)."""
    if xs is None:
        xs = pq_scaled(emb, id_col, vec_col)
    return xs.filter(F.col("id") < n_cent).select(
        F.col("id").alias("cent"), F.posexplode("v").alias("pos", "c")
    )


def pq_assignments(
    emb: DataFrame,
    sub_dim: int = 8,
    n_cent: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    xs: DataFrame | None = None,
) -> DataFrame:
    """Per-(vector, subspace) nearest-codeword assignment —
    (id, sub, b.d, b.cent) with b = min(struct(d, cent)), ties to the
    smaller centroid id: the pre-packing form of :func:`pq_codes`,
    exposed so IVF-PQ search (:func:`ivfpq_adc_topk`) can join codes
    directly instead of unpacking the BIGINT.  ``xs``: optional
    prebuilt scaled (id, v) frame (round-16 sharing seam)."""
    if xs is None:
        xs = pq_scaled(emb, id_col, vec_col)
    ex = xs.select("id", F.posexplode("v").alias("pos", "x"))
    cents = pq_centroids(emb, n_cent, id_col, vec_col, xs=xs)
    per = (
        ex.join(F.broadcast(cents), "pos")
        .groupBy(
            "id",
            F.expr(f"CAST(pos div {sub_dim} AS BIGINT)").alias("sub"),
            "cent",
        )
        .agg(F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).alias("d"))
    )
    return per.groupBy("id", "sub").agg(
        F.min(F.struct(F.col("d").alias("d"), F.col("cent").alias("cent"))).alias("b")
    )


def pq_codes(
    emb: DataFrame,
    sub_dim: int = 8,
    n_cent: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encoding: split each vector into
    dim/``sub_dim`` subvectors (8 for the 64-dim fixture), assign each to its nearest of
    ``n_cent`` per-subspace centroids (the vectors with id < n_cent,
    the k-means seeding convention of ext/iterative.py), and pack the
    assignments into one BIGINT code (4 bits per subspace at the
    defaults) plus the integer reconstruction error.

    This is the storage layer IVF-PQ indexes compress with: a 64-dim
    float vector (256 bytes) becomes a 4-byte code, and distance scans
    read codebook lookup tables instead of raw floats.  All arithmetic
    is scaled-integer (floor(x * 1e6)): distances, argmins (ties to
    the smaller centroid id), and the packed code are bit-exact in
    both engines.

    Scale: the (vec, pos) explode joins the n_cent x dims codebook by
    broadcast; per-(vec, subspace, centroid) squared diffs partial-
    aggregate map-side; the argmin is a min over (d, cent) structs and
    the final pack one aggregate per vector — the constant-codegen
    shape of ext/iterative's k-means assignment, run once.
    """
    best = pq_assignments(emb, sub_dim, n_cent, id_col, vec_col)
    bits = max(1, (n_cent - 1).bit_length())
    return best.groupBy("id").agg(
        F.sum(F.expr(f"shiftleft(b.cent, CAST({bits} * sub AS INT))"))
        .cast("long")
        .alias("pq_code"),
        F.sum("b.d").cast("long").alias("recon_err"),
    ).select(F.col("id").alias(id_col), "pq_code", "recon_err")


def pq_codes_sql(
    table: str = "embeddings",
    sub_dim: int = 8,
    n_cent: int = 16,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> str:
    bits = max(1, (n_cent - 1).bit_length())
    return f"""
    WITH xs AS (
      SELECT {id_col}::BIGINT AS id,
             list_transform({vec}, x -> floor(x::DOUBLE * {float(PQ_SCALE)!r})::BIGINT) AS v
      FROM {table}),
    ex AS (SELECT id, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS x FROM xs),
    cents AS (SELECT id AS cent, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS c
              FROM xs WHERE id < {n_cent}),
    per AS (
      SELECT e.id, (e.pos // {sub_dim})::BIGINT AS sub, c.cent,
             sum((e.x - c.c) * (e.x - c.c))::BIGINT AS d
      FROM ex e JOIN cents c ON c.pos = e.pos
      GROUP BY 1, 2, 3),
    best AS (
      SELECT id, sub, cent, d FROM (
        SELECT *, row_number() OVER (PARTITION BY id, sub ORDER BY d, cent) AS rn
        FROM per)
      WHERE rn = 1)
    SELECT id AS {id_col}, sum(cent << ({bits} * sub)::INT)::BIGINT AS pq_code,
           sum(d)::BIGINT AS recon_err
    FROM best GROUP BY 1
    """


# ---------------------------------------------------------------------------
# IVF-PQ: trained cells + asymmetric-distance (ADC) ranking over codes
# ---------------------------------------------------------------------------

PQ_SUB_DIM = 8
PQ_N_CENT = 16


def ivfpq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = NPROBE,
    iters: int = IVF_TRAINED_ITERS,
    sub_dim: int = PQ_SUB_DIM,
    n_cent_pq: int = PQ_N_CENT,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
) -> DataFrame:
    """IVF-PQ search (the FAISS IndexIVFPQ shape, relationally): trained
    Lloyd cells prune the corpus to the probed nprobe/K fraction, and the
    candidates are ranked by ASYMMETRIC DISTANCE COMPUTATION — the
    query's per-(subspace, codeword) squared-L2 lookup table joined
    against each candidate's product-quantization code — so the search
    stage never touches a raw vector: candidates flow as (id, sub,
    cent) code rows (4 bits/subspace — the :func:`pq_codes` storage),
    and the LUT is n_queries x n_sub x n_cent integer rows, broadcast.
    This is the memory-bound regime IVF-PQ exists for at 100 TB: raw
    vectors appear only at TRAIN time (the Lloyd loop + the codebook),
    the at-rest index is cells + codes (~64x smaller than the floats),
    and per-query work is LUT build (dims x n_cent) + one integer sum
    per candidate-subspace.

    Ranking returns (query_id, neighbor_id, rank, adc_d) with adc_d the
    exact BIGINT ADC distance (scaled-int domain of pq_codes), ties to
    the smaller neighbor id — fully integer, so the DuckDB oracle is
    bit-exact through training, coding, probing and ranking.  ADC is an
    approximation of true distance (that is the trade); measured
    recall on the clustered fixture is pinned in
    tests/test_properties.py alongside the exact-re-rank variant
    (:func:`ivf_trained_topk`), the standard refinement cascade."""
    # ONE scaled-corpus scan shared by training, coding and the LUT
    # codebook (round 16, guide §1.2): pq_scaled == the Lloyd loop's
    # own scaling (V_SCALE == PQ_SCALE), so the pinned frame feeds
    # _kmeans_fit, the code explode and both codebook filters.  The
    # search stage is code-only (vectors=False): no raw-vector attach.
    xs = pq_scaled(corpus, id_col, vec_col).localCheckpoint()
    cells, probes = ivf_trained_parts(
        corpus, queries, nprobe, iters, id_col, vec_col, n_centroids,
        xs=xs, vectors=False,
    )
    cand = (
        cells.select("neighbor_id", "cell")
        .join(F.broadcast(probes.select("query_id", "cell")), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    codes = pq_assignments(
        corpus, sub_dim, n_cent_pq, id_col, vec_col, xs=xs
    ).select(
        F.col("id").alias("neighbor_id"), "sub", F.col("b.cent").alias("cent")
    )
    lut = (
        pq_scaled(queries, id_col, vec_col)
        .select(F.col("id").alias("query_id"), F.posexplode("v").alias("pos", "x"))
        .join(
            F.broadcast(pq_centroids(corpus, n_cent_pq, id_col, vec_col, xs=xs)),
            "pos",
        )
        .groupBy(
            "query_id",
            F.expr(f"CAST(pos div {sub_dim} AS BIGINT)").alias("sub"),
            "cent",
        )
        .agg(F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).alias("d"))
    )
    adc = (
        cand.join(codes, "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "sub", "cent"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").cast("long").alias("adc_d"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_d", "neighbor_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_d")
    )


def ivfpq_adc_topk_sql(
    table: str = "embeddings",
    k: int = 5,
    n_queries: int = 10,
    nprobe: int = NPROBE,
    iters: int = IVF_TRAINED_ITERS,
    sub_dim: int = PQ_SUB_DIM,
    n_cent_pq: int = PQ_N_CENT,
    id_col: str = "vec_id",
    vec: str = "embedding",
    n_centroids: int = N_CENTROIDS,
) -> str:
    """DuckDB mirror of :func:`ivfpq_adc_topk`.  The kmeans CTEs' xs is
    the same floor(x * 1e6) scaled-long domain PQ uses (V_SCALE ==
    PQ_SCALE), so training, codebook, codes AND the query LUT all
    derive from one xs; the LUT is per(id, sub, cent, d) restricted to
    the query slice (queries are corpus vectors here), identical
    integer sums to the Spark plan's separate LUT build."""
    from .iterative import kmeans_ctes_sql

    int_l2 = (
        "list_sum(list_transform(list_zip(xs.v, c.c), "
        "p -> (p[1]-p[2])*(p[1]-p[2])))::BIGINT"
    )
    return f"""
    WITH {kmeans_ctes_sql(table, n_centroids, iters, id_col, vec)},
    cells AS (SELECT id AS neighbor_id, cl AS cell FROM a{iters + 1}),
    qd AS (
      SELECT xs.id AS query_id, c.j AS cell,
             row_number() OVER (PARTITION BY xs.id
                                ORDER BY {int_l2}, c.j) AS crank
      FROM xs CROSS JOIN c{iters} c
      WHERE xs.id < {n_queries}
    ),
    probes AS (SELECT query_id, cell FROM qd WHERE crank <= {nprobe}),
    cand AS (
      SELECT p.query_id, c.neighbor_id
      FROM cells c JOIN probes p USING (cell)
      WHERE c.neighbor_id <> p.query_id
    ),
    ex AS (SELECT id, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS x
           FROM xs),
    pqc AS (SELECT id AS cent, generate_subscripts(v, 1) - 1 AS pos,
                   unnest(v) AS c
            FROM xs WHERE id < {n_cent_pq}),
    per AS (
      SELECT e.id, (e.pos // {sub_dim})::BIGINT AS sub, p.cent,
             sum((e.x - p.c) * (e.x - p.c))::BIGINT AS d
      FROM ex e JOIN pqc p USING (pos)
      GROUP BY 1, 2, 3
    ),
    codes AS (
      SELECT id, sub, cent FROM (
        SELECT *, row_number() OVER (PARTITION BY id, sub
                                     ORDER BY d, cent) AS rn
        FROM per)
      WHERE rn = 1
    ),
    lut AS (SELECT id AS query_id, sub, cent, d FROM per
            WHERE id < {n_queries}),
    adc AS (
      SELECT ca.query_id, ca.neighbor_id, sum(l.d)::BIGINT AS adc_d
      FROM cand ca
      JOIN codes co ON co.id = ca.neighbor_id
      JOIN lut l ON l.query_id = ca.query_id
                AND l.sub = co.sub AND l.cent = co.cent
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, rank, adc_d
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc_d, neighbor_id) AS rank
          FROM adc)
    WHERE rank <= {k}
    """


PQ_REFINE = 40  # exact re-rank budget: top-R of the ADC ranking


def ivfpq_refine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    refine: int = PQ_REFINE,
    nprobe: int = NPROBE,
    iters: int = IVF_TRAINED_ITERS,
    sub_dim: int = PQ_SUB_DIM,
    n_cent_pq: int = PQ_N_CENT,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
) -> DataFrame:
    """The IVF-PQ refinement cascade (FAISS IndexRefineFlat): rank ALL
    probed candidates by integer ADC over codes (:func:`ivfpq_adc_topk`
    — no raw vectors touched), keep the top-``refine``, and exact-
    cosine re-rank ONLY those against the raw vectors.  This is how
    production vector search spends its memory bandwidth: quantized
    scan over everything, float loads for a bounded top-R per query —
    measured on the clustered fixture, recall rises from ADC-alone 0.21
    to **0.93** at refine=40 (the code ranking's job is candidate
    containment, not final order; quantization error swamps
    within-cluster distance gaps, so exact refinement is the standard
    second stage).

    Plan shape: the refine set is n_queries x refine rows — broadcast
    into the corpus scan for the raw-vector fetch (never a corpus-sized
    shuffle), then the same per-pair Arrow cosine + rank tail as every
    topk query.  The candidate frame is MATERIALIZED (eager
    localCheckpoint — the repo's multi-consumer convention, cf.
    ranks.py) before the refine joins: without it the refine tail drags
    the entire ADC lineage into one ~800-line plan with ~20 parquet
    scans and zero exchange reuse (measured, VERDICT r13 ask #2); with
    it the ADC ranking runs once as its own job and the refine query
    is two corpus scans joined against a checkpointed
    n_queries x refine frame."""
    adc = (
        ivfpq_adc_topk(
            corpus, queries, refine, nprobe, iters, sub_dim, n_cent_pq,
            id_col, vec_col, n_centroids,
        )
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    qn = queries.select(
        F.col(id_col).cast("long").alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("nq"),
    )
    cn = corpus.select(
        F.col(id_col).cast("long").alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("nc"),
    )
    scored = (
        cn.join(F.broadcast(adc), "neighbor_id")
        .join(F.broadcast(qn), "query_id")
        .withColumn(
            "sim", dot_arrow(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim_r"))
    )


def ivfpq_refine_topk_sql(
    table: str = "embeddings",
    k: int = 5,
    refine: int = PQ_REFINE,
    n_queries: int = 10,
    nprobe: int = NPROBE,
    iters: int = IVF_TRAINED_ITERS,
    sub_dim: int = PQ_SUB_DIM,
    n_cent_pq: int = PQ_N_CENT,
    id_col: str = "vec_id",
    vec: str = "embedding",
    n_centroids: int = N_CENTROIDS,
) -> str:
    """DuckDB mirror: the full ADC ranking (nested WITH) truncated at
    ``refine``, then the shared exact double cosine + rank tail."""
    inner = ivfpq_adc_topk_sql(
        table, refine, n_queries, nprobe, iters, sub_dim, n_cent_pq,
        id_col, vec, n_centroids,
    )
    return f"""
    WITH base AS ({inner}),
    re AS (
      SELECT b.query_id, b.neighbor_id,
             {cosine_sql(f'q.{vec}', f'c.{vec}')} AS sim
      FROM base b
      JOIN {table} q ON q.{id_col} = b.query_id
      JOIN {table} c ON c.{id_col} = b.neighbor_id
    )
    SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim_r
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rank
          FROM re)
    WHERE rank <= {k}
    """


def ivfpq_refine_auto_sql(
    table: str = "embeddings",
    k: int = 5,
    refine: int = PQ_REFINE,
    n_queries: int = 10,
    nprobe: int = NPROBE,
    iters: int = IVF_TRAINED_ITERS,
    sub_dim: int = PQ_SUB_DIM,
    n_cent_pq: int = PQ_N_CENT,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> str:
    """Oracle for ``ivfpq_refine_topk(n_centroids=None)``: count-gated
    branches over the shared IVF cell-count windows."""
    return _count_gated_union(
        table,
        lambda kc: ivfpq_refine_topk_sql(
            table, k, refine, n_queries, nprobe, iters, sub_dim, n_cent_pq,
            id_col, vec, n_centroids=kc,
        ),
        windows=_centroid_count_windows(),
    )


def ivfpq_adc_auto_sql(
    table: str = "embeddings",
    k: int = 5,
    n_queries: int = 10,
    nprobe: int = NPROBE,
    iters: int = IVF_TRAINED_ITERS,
    sub_dim: int = PQ_SUB_DIM,
    n_cent_pq: int = PQ_N_CENT,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> str:
    """Oracle for ``ivfpq_adc_topk(n_centroids=None)``: count-gated
    branches over the shared IVF cell-count windows."""
    return _count_gated_union(
        table,
        lambda kc: ivfpq_adc_topk_sql(
            table, k, n_queries, nprobe, iters, sub_dim, n_cent_pq,
            id_col, vec, n_centroids=kc,
        ),
        windows=_centroid_count_windows(),
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-then-dedup (the semantic-dedup pipeline at scale)
# ---------------------------------------------------------------------------


SEMDEDUP_K = 8  # floor cluster count (the oracle-checked kmeans default)
SEMDEDUP_TARGET = 256  # target vectors per cluster the k rule aims at
SEMDEDUP_K_AUTO_MAX = 10  # largest k the pre-generated oracle branches cover


def semdedup_k_for(
    n_rows: int, target: int = SEMDEDUP_TARGET, floor: int = SEMDEDUP_K
) -> int:
    """Cluster count for a corpus of ``n_rows``: the pair stage is
    quadratic per cluster, so k must grow ~N/target or SemDeDup
    degrades toward all-pairs one cluster at a time — the same
    self-scaling rule as :func:`num_planes_for`, made code.  At every
    fixture SF this resolves to the historical default 8; at 1e9
    vectors it yields ~4M clusters (~256 vectors each)."""
    import math

    if n_rows <= 0:
        return floor
    return max(floor, math.ceil(n_rows / target))


def semdedup_k_oracle_checked(n_rows: int) -> int:
    """``semdedup_k_for`` for the REGISTERED query/oracle pair: the
    pre-generated count-gated oracle (``semdedup_auto_sql``) only has
    branches up to ``SEMDEDUP_K_AUTO_MAX``, so a corpus that would
    self-scale past it must fail loudly on the QUERY side too —
    symmetric with the oracle's ``error()`` overflow branch — instead
    of the pair diverging (ADVICE r7).  The library rule itself stays
    unclamped: production callers pass k=None to
    ``semdedup_keep_flags`` and scale to millions of clusters; only
    the fixture-facing registration routes through this check."""
    k = semdedup_k_for(n_rows)
    if k > SEMDEDUP_K_AUTO_MAX:
        raise ValueError(
            f"semdedup_k_for({n_rows}) = {k} exceeds the pre-generated "
            f"oracle branch ceiling {SEMDEDUP_K_AUTO_MAX} (corpora up to "
            f"{SEMDEDUP_TARGET * SEMDEDUP_K_AUTO_MAX} vectors); extend "
            "_semdedup_k_windows if the driver fixtures grow"
        )
    return k


def _semdedup_k_windows(
    floor: int = SEMDEDUP_K,
    max_k: int = SEMDEDUP_K_AUTO_MAX,
    target: int = SEMDEDUP_TARGET,
):
    """(k, lo_exclusive, hi_inclusive) count windows under which
    ``semdedup_k_for`` returns k — the SQL mirror's branch gates."""
    out = []
    for k in range(floor, max_k + 1):
        lo = 0 if k == floor else target * (k - 1)
        out.append((k, lo, target * k))
    return out


def semdedup_keep_flags(
    df: DataFrame,
    k: int | None = None,
    iters: int = 2,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the embedding space, then
    drop near-duplicates WITHIN each cluster only — the clustering
    bounds the quadratic pair stage to sum-of-cluster-size², which is
    the whole trick that makes semantic dedup feasible at corpus scale
    (k grows with N to hold the per-cluster quadratic ~constant; here k
    is the oracle-checked kmeans default). One row per vector:
    (vec_id, cluster, keep) with keep=0 iff a lower-id vector in the
    same cluster has cosine >= threshold (the pair-witness keep rule
    dedup_keep_set uses — deterministic, engine-exact doubles).

    Plan shape: the Lloyd rounds are the kmeans broadcast loop; the
    pair stage is a cluster-co-partitioned self-join (never all-pairs
    across clusters) with per-side norms materialized before the join;
    the drop set distincts to at most N rows and left-joins back."""
    from ..tables import pinned_by
    from .iterative import _kmeans_fit, scaled_base

    # ONE pinned corpus pass carrying both the Lloyd loop's scaled
    # vectors and the raw vector + norm the pair stage needs (round 16,
    # guide §1.2): k-sizing counts the pinned RDD instead of a fresh
    # corpus scan, and the raw-vector attach below reads the pin
    # instead of re-deriving the corpus a second time.
    base = scaled_base(
        df,
        id_col,
        vec_col,
        carry=[F.col(vec_col).alias("vr"), norm(F.col(vec_col)).alias("nrm")],
    )
    if k is None:
        k = semdedup_k_for(base.count())
    assign, _ = _kmeans_fit(df, k, iters, id_col, vec_col, xs=base)
    side = pinned_by(
        base.select("id", F.col("vr").alias("v"), "nrm")
        .join(assign.select("id", "cl").hint("shuffle_hash"), "id")
        .select("id", "cl", "v", "nrm"),
        # pinned hash-partitioned on cl: BOTH reads of the pair
        # self-join below land co-partitioned, so the cluster-keyed
        # vector shuffle happens once (at pin) instead of once per side.
        # IMBALANCE CAVEAT (ADVICE r16): k-means gives no balance
        # guarantee — k scales with N (semdedup_k_for) so the MEAN
        # cluster is bounded, but a degenerate embedding distribution
        # can still put most rows in one cluster, and the
        # pre-partitioned side then forfeits AQE skew-splitting on
        # exactly the quadratic within-cluster self-join.  For corpora
        # where hot clusters are plausible (near-constant embeddings),
        # drop this to a plain localCheckpoint + per-side AQE exchange
        # or salt cl; kept pinned here because the fixture's Lloyd
        # assignments are near-balanced and the win is measured.
        "cl",
    )  # feeds both sides of the pair join + the output
    a = side.select(
        F.col("id").alias("ia"), "cl", F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = side.select(
        F.col("id").alias("ib"), "cl", F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    dropped = (
        a.join(b, "cl")
        .where(F.col("ia") < F.col("ib"))
        .where(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
               >= F.lit(threshold))
        .select(F.col("ib").alias("id"))
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    return (
        side.join(dropped, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("cl").cast("long").alias("cluster"),
            F.when(F.col("is_dropped").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("keep"),
        )
    )


def semdedup_sql(
    table: str = "embeddings",
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB mirror of :func:`semdedup_keep_flags`, composed from the
    shared Lloyd CTEs (`iterative.kmeans_ctes_sql`) and the same
    left-to-right double cosine."""
    from .iterative import kmeans_ctes_sql

    return f"""
    WITH {kmeans_ctes_sql(table, k, iters, id_col, vec_col)},
    side AS (
      SELECT a.id, a.cl, e.{vec_col} AS v
      FROM a{iters + 1} a JOIN {table} e ON e.{id_col} = a.id
    ),
    dropped AS (
      SELECT DISTINCT y.id
      FROM side x JOIN side y ON x.cl = y.cl AND x.id < y.id
      WHERE {cosine_sql('x.v', 'y.v')} >= {threshold!r}
    )
    SELECT s.id::BIGINT AS {id_col}, s.cl::BIGINT AS cluster,
           (CASE WHEN d.id IS NULL THEN 1 ELSE 0 END)::INT AS keep
    FROM side s LEFT JOIN dropped d ON d.id = s.id
    """


def semdedup_auto_sql(
    table: str = "embeddings",
    iters: int = 2,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Count-gated mirror of the ``k=None`` runtime default: one full
    semdedup query per k value the corpus size could select
    (``semdedup_k_for``), exactly one branch's gate true for any
    fixture — the ``lsh_topk_auto_sql`` pattern."""
    return _count_gated_union(
        table,
        lambda k: semdedup_sql(table, k, iters, threshold, id_col, vec_col),
        windows=_semdedup_k_windows(),
    )


# ---------------------------------------------------------------------------
# SQ8: per-dimension scalar quantization (FAISS ScalarQuantizer QT_8bit
# shape) + refined search — completes the quantization family alongside
# PQ (subspace codebooks): SQ stores one byte per DIMENSION with a
# per-dimension affine dequantizer, trading PQ's higher compression for
# a much cheaper (table-free) asymmetric distance.
# ---------------------------------------------------------------------------

SQ_LEVELS = 255  # 8-bit code range [0, 255]
SQ_REFINE = 40  # exact re-rank budget, matching PQ_REFINE


def _idot(a: Column, b: Column) -> Column:
    """Exact BIGINT dot of two integer arrays (scaled domain: values
    ~1e6, squares ~1e12, 64-dim sums ~1e14 — well inside BIGINT)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def sq8_minmax(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """ONE row: (mns, mxs) — per-dimension min/max of the scaled-integer
    vectors (the SQ trained parameters).  dims x 2 longs, always
    broadcastable; exact integers, so both engines train identically."""
    return (
        pq_scaled(emb, id_col, vec_col)
        .select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))).alias("pm"))
        .select(
            F.expr("transform(pm, s -> s.mn)").alias("mns"),
            F.expr("transform(pm, s -> s.mx)").alias("mxs"),
        )
    )


def sq8_dequant(
    emb: DataFrame,
    levels: int = SQ_LEVELS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, xh, cn2): each vector quantized to its 8-bit code and
    immediately dequantized back into the scaled-integer domain —
    xh[i] = mn[i] + (code[i] * (mx[i] - mn[i])) div levels with
    code[i] = ((x[i] - mn[i]) * levels) div (mx[i] - mn[i]) — plus the
    BIGINT squared norm of the reconstruction.  All arithmetic is
    integer floor-div on non-negative operands, bit-exact in both
    engines; `least(..., levels)` clamps the x = mx edge.  The affine
    params join as a broadcast ONE-ROW frame (the repo's one-row
    crossJoin pattern)."""
    xs = pq_scaled(emb, id_col, vec_col)
    code = (
        f"transform(v, (x, i) -> least(((x - mns[i]) * {levels})"
        f" div greatest(mxs[i] - mns[i], 1), {levels}))"
    )
    deq = (
        f"transform({code}, (q, i) -> mns[i] + (q * (mxs[i] - mns[i]))"
        f" div {levels})"
    )
    return (
        xs.crossJoin(F.broadcast(sq8_minmax(emb, id_col, vec_col)))
        .select("id", F.expr(deq).alias("xh"))
        .select("id", "xh", F.greatest(_idot("xh", "xh"), F.lit(1).cast("long")).alias("cn2"))
    )


def sq8_refine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    refine: int = SQ_REFINE,
    levels: int = SQ_LEVELS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SQ8 search with exact refinement: rank the WHOLE corpus per query
    by the integer-reconstruction cosine (BIGINT dot + two BIGINT
    norms, one double division — no raw-vector float math), keep the
    top-``refine``, and exact-cosine re-rank only those against the raw
    vectors (the ivfpq_refine_topk cascade, with SQ's table-free
    asymmetric distance instead of PQ LUTs).

    Plan shape: the search stage crossJoins the BROADCAST scaled query
    set against the dequantized codes — shuffle-free scoring, one
    per-query window for the top-R cut; the raw-vector fetch joins the
    bounded n_queries x refine candidate set by broadcast.  At 100 TB
    the search scan reads 8-byte reconstructions (one byte stored per
    dim in a real SQ index), never floats; the float stage is bounded.
    """
    qs = pq_scaled(queries, id_col, vec_col).select(
        F.col("id").alias("query_id"),
        F.col("v").alias("qv"),
        F.greatest(_idot("v", "v"), F.lit(1).cast("long")).alias("qn2"),
    )
    cand = (
        sq8_dequant(corpus, levels, id_col, vec_col)
        .crossJoin(F.broadcast(qs))
        .filter(F.col("id") != F.col("query_id"))
        .withColumn(
            "sim_q",
            _idot("qv", "xh").cast("double")
            / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("cn2").cast("double"))),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("sim_q").desc(), F.col("id"))
    topr = (
        cand.withColumn("rq", F.row_number().over(wq))
        .filter(F.col("rq") <= refine)
        .select("query_id", F.col("id").alias("neighbor_id"))
    )
    qn = queries.select(
        F.col(id_col).cast("long").alias("query_id"),
        F.col(vec_col).alias("qvf"),
        norm(F.col(vec_col)).alias("nq"),
    )
    cn = corpus.select(
        F.col(id_col).cast("long").alias("neighbor_id"),
        F.col(vec_col).alias("cvf"),
        norm(F.col(vec_col)).alias("nc"),
    )
    scored = (
        cn.join(F.broadcast(topr), "neighbor_id")
        .join(F.broadcast(qn), "query_id")
        .withColumn(
            "sim", dot_arrow(F.col("qvf"), F.col("cvf")) / (F.col("nq") * F.col("nc"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim_r"))
    )


def sq8_refine_topk_sql(
    table: str = "embeddings",
    k: int = 5,
    refine: int = SQ_REFINE,
    n_queries: int = 10,
    levels: int = SQ_LEVELS,
    dim: int = 64,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> str:
    """DuckDB mirror: identical scaled-integer train/encode/dequantize
    (1-based comprehensions aligned with Spark's 0-based transform
    indices), identical BIGINT dots, same double ranking key and exact
    re-rank tail."""
    idot = f"list_sum([{{a}}[i] * {{b}}[i] FOR i IN generate_series(1, {dim})])"

    def idot_of(a, b):
        return idot.format(a=a, b=b)

    code = (
        f"[least(((v[i] - mns[i]) * {levels}) // greatest(mxs[i] - mns[i], 1),"
        f" {levels}) FOR i IN generate_series(1, {dim})]"
    )
    return f"""
    WITH xs AS (
      SELECT {id_col}::BIGINT AS id,
             list_transform({vec}, x -> floor(x::DOUBLE * {float(PQ_SCALE)!r})::BIGINT) AS v
      FROM {table}),
    mm AS (
      SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs
      FROM (SELECT pos, min(x) AS mn, max(x) AS mx
            FROM (SELECT generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM xs)
            GROUP BY pos)),
    cd AS (
      SELECT id, {code} AS q FROM xs, mm),
    xh AS (
      SELECT id,
             [mns[i] + (q[i] * (mxs[i] - mns[i])) // {levels}
              FOR i IN generate_series(1, {dim})] AS xh
      FROM cd, mm),
    cn AS (
      SELECT id, xh, greatest({idot_of('xh', 'xh')}, 1)::BIGINT AS cn2 FROM xh),
    qs AS (
      SELECT id AS query_id, v AS qv,
             greatest({idot_of('v', 'v')}, 1)::BIGINT AS qn2
      FROM xs WHERE id < {n_queries}),
    cand AS (
      SELECT qs.query_id, cn.id AS neighbor_id,
             {idot_of('qv', 'xh')}::DOUBLE / (sqrt(qn2::DOUBLE) * sqrt(cn2::DOUBLE)) AS sim_q
      FROM cn, qs WHERE cn.id <> qs.query_id),
    topr AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY sim_q DESC, neighbor_id) AS rq
            FROM cand)
      WHERE rq <= {refine}),
    re AS (
      SELECT t.query_id, t.neighbor_id,
             {cosine_sql(f'q.{vec}', f'c.{vec}')} AS sim
      FROM topr t
      JOIN {table} q ON q.{id_col} = t.query_id
      JOIN {table} c ON c.{id_col} = t.neighbor_id)
    SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim_r
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rank
          FROM re)
    WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# semantic decontamination: benchmark-contamination flags at the
# EMBEDDING level — the modern complement to the exact n-gram
# decontaminator (ext/curation.py decontaminate_5gram): paraphrased or
# re-formatted benchmark leakage survives n-gram checks but not a
# cosine test against the benchmark embeddings.
# ---------------------------------------------------------------------------

DECON_SEM_MOD = 97  # vec_id % 97 == 0 plays the held-out benchmark set
#                     (the curation.BENCH_MOD convention)
DECON_SEM_THRESHOLD = 0.4  # the fixtures' similarity regime (~3 sigma of
#                            the decorrelated cross-vector distribution)


def semantic_decontaminate(
    emb: DataFrame,
    threshold: float = DECON_SEM_THRESHOLD,
    bench_mod: int = DECON_SEM_MOD,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int | None = None,
    n_tables: int = N_TABLES,
) -> DataFrame:
    """(vec_id, bench_id, sim_r): every TRAIN vector whose cosine to
    some BENCHMARK vector reaches ``threshold``, with its best-matching
    benchmark id (ties to the smaller id) — the rows a pipeline drops
    before pretraining so the eval set stays held out.

    The candidate stage is the BIPARTITE form of
    :func:`cosine_neardup_pairs`' multi-table multi-probe LSH: train
    vectors probe their own bucket plus the hamming-1 ring in each
    table, benchmark vectors sit in their own buckets — a hash
    equi-join on (tbl, bucket), never train x bench.  A pair matching
    in several tables or probes joins more than once; the per-train
    max-aggregate absorbs the duplicates (max of duplicated rows),
    so no distinct is needed before it.  Plane count self-scales from
    the corpus row count (num_planes_for), mirrored by the oracle's
    count-gated branches."""
    if num_planes is None:
        num_planes = num_planes_for(emb.count())
    base = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("nrm"),
        *[lsh_bucket(vec_col, table=t, num_planes=num_planes).alias(f"own{t}")
          for t in range(n_tables)],
    )
    bench = base.filter(F.col("id") % bench_mod == 0).select(
        F.col("id").alias("bench_id"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("tbl"), F.col(f"own{t}").alias("bucket"))
                    for t in range(n_tables)
                ]
            )
        ).alias("tb"),
    ).select("bench_id", "vb", "nb", "tb.tbl", "tb.bucket")
    train = base.filter(F.col("id") % bench_mod != 0).select(
        F.col("id").alias("vec_id"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        F.col(f"own{t}").bitwiseXOR(F.lit(flip)).alias("bucket"),
                    )
                    for t in range(n_tables)
                    for flip in [0] + [1 << j for j in range(num_planes)]
                ]
            )
        ).alias("tb"),
    ).select("vec_id", "va", "na", "tb.tbl", "tb.bucket")
    hits = train.join(bench, ["tbl", "bucket"]).withColumn(
        "sim", dot_arrow(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    )
    # The threshold applies to the AGGREGATED max, not the candidate
    # rows: flagged iff max(sim) >= threshold and argmax-over-all ==
    # argmax-over-the->=threshold-subset whenever that subset is
    # nonempty, so the result is identical — but the row-level filter
    # would make Catalyst extract the pandas-UDF dot into TWO
    # ArrowEvalPython stages (one feeding Filter, one the aggregate),
    # evaluating every candidate's dot twice (plan-gated to one).
    best = hits.groupBy("vec_id").agg(
        F.min(
            F.struct((-F.col("sim")).alias("ns"), F.col("bench_id").alias("bid"))
        ).alias("b")
    )
    return (
        best.filter(-F.col("b.ns") >= threshold)
        .select(
            "vec_id",
            F.col("b.bid").alias("bench_id"),
            F.round(-F.col("b.ns"), 6).alias("sim_r"),
        )
    )


def semantic_decontaminate_sql(
    table: str = "embeddings",
    threshold: float = DECON_SEM_THRESHOLD,
    bench_mod: int = DECON_SEM_MOD,
    id_col: str = "vec_id",
    vec: str = "embedding",
    num_planes: int = NUM_PLANES,
    n_tables: int = N_TABLES,
) -> str:
    """DuckDB mirror: identical buckets/probes/float op order; the best
    match via row_number ordered by (sim DESC, bench_id) — equivalent
    to the Spark min(struct(-sim, bench_id)) on duplicated candidate
    rows."""
    flips = ", ".join(f"xor(own, {1 << j})" for j in range(num_planes))
    sim = f"({dot_sql('t.va', 'b.v')} / (t.na * b.nb))"
    per_table = " UNION ALL ".join(
        f"SELECT {t} AS tbl, {id_col} AS id, v, nrm, own{t} AS own FROM base"
        for t in range(n_tables)
    )
    return f"""
    WITH base AS (
      SELECT {id_col}, {vec} AS v, sqrt({dot_sql(vec, vec)}) AS nrm,
             {", ".join(f"{lsh_bucket_sql(vec, table=t, num_planes=num_planes)}::BIGINT AS own{t}" for t in range(n_tables))}
      FROM {table}
    ),
    cand AS ({per_table}),
    probes AS (
      SELECT tbl, id AS vec_id, v AS va, nrm AS na,
             unnest([own, {flips}]) AS bucket
      FROM cand WHERE id % {bench_mod} <> 0
    ),
    hits AS (
      SELECT t.vec_id, b.id AS bench_id, {sim} AS sim
      FROM (SELECT tbl, id, v, nrm AS nb, own FROM cand
            WHERE id % {bench_mod} = 0) b
      JOIN probes t ON t.tbl = b.tbl AND t.bucket = b.own
      WHERE {sim} >= {threshold}
    )
    SELECT vec_id, bench_id, round(sim, 6) AS sim_r
    FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY sim DESC, bench_id) AS rn
          FROM hits)
    WHERE rn = 1
    """


def semantic_decontaminate_auto_sql(
    table: str = "embeddings",
    threshold: float = DECON_SEM_THRESHOLD,
    bench_mod: int = DECON_SEM_MOD,
    id_col: str = "vec_id",
    vec: str = "embedding",
    n_tables: int = N_TABLES,
) -> str:
    """Oracle for ``semantic_decontaminate(num_planes=None)``:
    count-gated branches over the shared plane-count windows."""
    return _count_gated_union(
        table,
        lambda p: semantic_decontaminate_sql(
            table, threshold, bench_mod, id_col, vec, num_planes=p,
            n_tables=n_tables,
        ),
    )
