"""Relational operator families beyond the reference's surface — semi /
anti / outer joins, set operations, rollup, rank top-n, range-band
joins, session windows, and the as-of join — each with a DuckDB oracle.

The reference has no joins at all (SURVEY.md §2.3) and only keyed
window reduces; these queries make the engine's relational layer
complete enough that every standard analytics shape has a named,
oracle-verified entry.

Exactness follows registry conventions: DECIMAL accumulation cast to
DOUBLE at the end, epoch-microsecond BIGINTs instead of raw timestamps,
identical aliases both sides, NULL-free outputs (COALESCE to sentinel).

Scale notes per query live on the builder docstrings; the common rules:
dimension/derived-small sides broadcast, fact tables shuffle at most
once, and the as-of join is the single-shuffle carry-forward form
(sparksent/joins.py), never a nested-loop range join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import tables
from .joins import asof_join
from .oracles import spark_percentile_select
from .registry import register


def _dec(col: str, scale: int = 2):
    return F.col(col).cast(f"decimal(18,{scale})")


def _dec28(col: str):
    return F.col(col).cast("decimal(28,6)")


# ---------------------------------------------------------------------------
# semi / anti / outer joins
# ---------------------------------------------------------------------------


@register(
    "semi_late_orders",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY 1
    """,
    tags=("relational", "join"),
)
def q_semi_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped EXISTS: 1996 orders having at least one line item
    shipped >90 days after the order date, counted per priority. A left
    SEMI join (existence only — lineitem rows are never widened into the
    output), shuffled on the order key once."""
    o = tables.load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    li = tables.load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "anti_customers_no_orders",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY 1
    """,
    tags=("relational", "join"),
)
def q_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no order since 2000, per market segment — a left
    ANTI join on the customer key. The date filter pushes into the
    orders scan, and the anti side is pruned to its join key before the
    shuffle."""
    c = tables.load_table(spark, sf_dir, "customer")
    o = tables.load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "outer_order_count_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
          GROUP BY 1)
    GROUP BY 1
    """,
    tags=("relational", "join"),
)
def q_outer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped: orders-per-customer distribution via a LEFT
    OUTER join (zero-order customers must appear with c_count 0 — the
    row inner joins would drop). Two aggregations; the second input is
    one row per customer, so the re-shuffle is tiny."""
    c = tables.load_table(spark, sf_dir, "customer")
    o = tables.load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# ---------------------------------------------------------------------------
# set operations
# ---------------------------------------------------------------------------


@register(
    "setop_user_cohorts",
    oracle="""
    WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
         e AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
    SELECT 'purchase_and_error' AS cohort, count(*) AS n_users
    FROM (SELECT user_id FROM p INTERSECT SELECT user_id FROM e)
    UNION ALL
    SELECT 'purchase_not_error' AS cohort, count(*) AS n_users
    FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM e)
    """,
    tags=("relational", "setop"),
)
def q_setop_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation semantics (INTERSECT / EXCEPT over distinct user
    sets) computed in ONE pass: per-user purchase/error flags from a
    single scan + one user_id-keyed map-side-combined aggregate, then
    a 2-row ``stack`` over the 1-row global count frame.  The literal
    intersect/subtract form this replaces (round 14) scanned events
    FOUR times (each branch feeds both set ops, no exchange reuse) and
    shuffled four times for the same answer — the rewrite is the plan
    a set-op should compile to when both operands derive from one
    table: flags are free at scan time, and the set algebra becomes
    boolean algebra on the flags (a INTERSECT b == p AND e,
    a EXCEPT b == p AND NOT e, over distinct user rows)."""
    ev = tables.load_table(spark, sf_dir, "events")
    flags = (
        ev.select(
            "user_id",
            (F.col("event_type") == "purchase").alias("ip"),
            (F.col("event_type") == "error").alias("ie"),
        )
        .groupBy("user_id")
        .agg(F.max("ip").alias("p"), F.max("ie").alias("e"))
    )
    # coalesce: on an input with zero purchase users the conditional sums
    # are NULL, but the set-op form (and the oracle) counts 0-row sets as 0.
    counts = flags.filter(F.col("p")).agg(
        F.coalesce(F.sum(F.when(F.col("e"), 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("and_n"),
        F.coalesce(F.sum(F.when(F.col("e"), 0).otherwise(1)), F.lit(0))
        .cast("long")
        .alias("not_n"),
    )
    return counts.selectExpr(
        "stack(2, 'purchase_and_error', and_n, 'purchase_not_error', not_n)"
        " AS (cohort, n_users)"
    )


# ---------------------------------------------------------------------------
# rollup / rank / range band
# ---------------------------------------------------------------------------


@register(
    "rollup_event_value",
    oracle="""
    SELECT coalesce(event_type, 'ALL') AS event_type,
           coalesce(user_bucket, -1) AS user_bucket,
           count(*) AS n,
           sum(v)::DOUBLE AS sum_value
    FROM (SELECT event_type, (user_id % 10)::INT AS user_bucket,
                 value::DECIMAL(28,6) AS v
          FROM events)
    GROUP BY ROLLUP(event_type, user_bucket)
    """,
    tags=("relational", "agg"),
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP (event_type, user bucket): per-bucket,
    per-type subtotal, and grand total in one pass — Spark computes all
    grouping sets in a single Expand + aggregate, not three scans."""
    ev = tables.load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 10).cast("int").alias("user_bucket"),
        _dec28("value").alias("v"),
    )
    return (
        ev.rollup("event_type", "user_bucket")
        .agg(F.count("*").alias("n"), F.sum("v").cast("double").alias("sum_value"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("user_bucket", F.lit(-1)).alias("user_bucket"),
            "n",
            "sum_value",
        )
    )


@register(
    "topn_orders_per_priority",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rn
    FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
    WHERE rn <= 3
    """,
    tags=("relational", "window"),
)
def q_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by value per priority — the canonical rank-filter
    window. One shuffle on the (low-cardinality) partition key; the
    rank filter cuts before anything else consumes the result. The tie
    break on o_orderkey makes row_number deterministic."""
    o = tables.load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


PRICE_BANDS = [
    ("lt_2k", 0.0, 2_000.0),
    ("2k_10k", 2_000.0, 10_000.0),
    ("10k_30k", 10_000.0, 30_000.0),
    ("30k_100k", 30_000.0, 100_000.0),
    ("ge_100k", 100_000.0, 1e18),
]


@register(
    "rangejoin_price_bands",
    oracle=f"""
    SELECT band, count(*) AS n_items,
           sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_price
    FROM lineitem
    JOIN (VALUES {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in PRICE_BANDS)})
         bands(band, lo, hi)
      ON l_extendedprice >= lo AND l_extendedprice < hi
    GROUP BY 1
    """,
    tags=("relational", "join"),
)
def q_rangejoin_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join via interval binning: each band explodes into
    the log2 buckets it overlaps, the fact side equi-joins on its price
    exponent (a broadcast HASH join inside codegen), and the exact range
    predicate filters the coarse matches. This replaces the broadcast
    nested-loop plan a naive inequality join produces — O(1) bucket
    probe per row instead of O(bands) comparisons, and the plan shape
    survives band tables far larger than a literal CASE could."""
    import math

    li = tables.load_table(spark, sf_dir, "lineitem")
    rows = []
    for band, lo, hi in PRICE_BANDS:
        e_lo = max(0, int(math.floor(math.log2(max(lo, 1.0)))) - 1)
        e_hi = min(63, int(math.floor(math.log2(hi))) + 1)
        rows.extend((band, lo, hi, e) for e in range(e_lo, e_hi + 1))
    binned = spark.createDataFrame(rows, "band string, lo double, hi double, e int")
    fact = li.withColumn(
        "e",
        F.floor(F.log2(F.greatest(F.col("l_extendedprice"), F.lit(1.0)))).cast("int"),
    )
    return (
        fact.join(F.broadcast(binned), "e")
        .filter(
            (F.col("l_extendedprice") >= F.col("lo"))
            & (F.col("l_extendedprice") < F.col("hi"))
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# session windows
# ---------------------------------------------------------------------------


@register(
    "session_agg_30m",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    s AS (
      SELECT user_id, ts, value,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id, min(epoch_us(ts)) AS session_start_us,
           count(*) AS n_events,
           sum(value::DECIMAL(28,6))::DOUBLE AS sum_value
    FROM s GROUP BY user_id, sid
    """,
    tags=("relational", "window", "session"),
)
def q_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session aggregation with a 30-minute inactivity gap —
    ``windows.session_agg`` (batch and streaming share the operator).
    The oracle reproduces the merge semantics with the gaps-and-islands
    form: a new session starts exactly when the gap to the previous
    event is >= the timeout."""
    from .windows import session_agg

    ev = tables.load_table(spark, sf_dir, "events")
    return session_agg(
        ev,
        ["user_id"],
        30 * 60,
        [
            F.count("*").alias("n_events"),
            F.sum(_dec28("value")).cast("double").alias("sum_value"),
        ],
    )


# Shared sessionization + naive interval-self-join CTE text of the two
# session_concurrency oracles (the oracle deliberately states the O(S²)
# range join the Spark plans avoid).
_SESSION_PAIRS_CTES = """
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    ),
    g AS (
      SELECT user_id, min(epoch_us(ts)) AS a, max(epoch_us(ts)) AS b
      FROM s GROUP BY user_id, sid
    ),
    pairs AS (
      SELECT DISTINCT x.user_id AS ux, x.a AS ax, y.user_id AS uy, y.a AS ay
      FROM g x JOIN g y
        ON x.user_id <> y.user_id AND x.a <= y.b AND y.a <= x.b
    )"""

CONCURRENCY_CAP = 16  # per-session partner cap of the production variant
_CONC_BIN_US = 600_000_000  # 10-minute bins, ~ the p95 session duration


def _session_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, session_start_us, session_end_us) under the shared
    30-minute-gap sessionization — the input frame of both
    session_concurrency variants."""
    from .windows import session_agg

    ev = tables.load_table(spark, sf_dir, "events")
    return session_agg(
        ev,
        ["user_id"],
        30 * 60,
        [F.max(F.unix_micros(F.col("ts"))).alias("session_end_us")],
    ).select("user_id", "session_start_us", "session_end_us")


def _binned_sides(sess: DataFrame):
    """Explode sessions to covered 10-minute bins and produce the two
    aliased sides of the co-bin equi-join."""
    binned = sess.select(
        "user_id",
        "session_start_us",
        "session_end_us",
        F.explode(
            F.sequence(
                F.expr(f"session_start_us div {_CONC_BIN_US}"),
                F.expr(f"session_end_us div {_CONC_BIN_US}"),
            )
        ).alias("bin"),
    )
    x = binned.select(
        F.col("user_id").alias("ux"),
        F.col("session_start_us").alias("ax"),
        F.col("session_end_us").alias("bx"),
        "bin",
    )
    y = binned.select(
        F.col("user_id").alias("uy"),
        F.col("session_start_us").alias("ay"),
        F.col("session_end_us").alias("by"),
        "bin",
    )
    return x, y


@register(
    "session_concurrency",
    oracle=_SESSION_PAIRS_CTES
    + """
    SELECT g.user_id, g.a AS session_start_us, g.b AS session_end_us,
           coalesce(c.n, 0)::BIGINT AS n_concurrent
    FROM g LEFT JOIN (
      SELECT ux, ax, count(*) AS n FROM pairs GROUP BY 1, 2
    ) c ON c.ux = g.user_id AND c.ax = g.a
    """,
    tags=("relational", "session", "intervaljoin"),
)
def q_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap SELF-join — the big-big range-join shape the
    registry lacked: for every 30-minute-gap user session, how many
    OTHER users' sessions overlapped it in time (platform concurrency
    analytics). The naive form is an O(S²) range join (the oracle
    states it); the plan here explodes each session to its covered
    10-minute epoch bins and equi-joins on the bin — only co-bin
    sessions ever pair, a pair meeting in several bins dedupes on the
    (user, start) keys, and exact closed-interval overlap
    (a1<=b2 AND a2<=b1, integer microseconds) filters bin-neighbors
    that never truly overlap.

    Scale: candidates are bounded by per-bin session load (the bin is
    to interval joins what the LSH bucket is to similarity); a hot bin
    (peak hour) is the skew hazard, handled by AQE skew splitting and,
    at planetary load, a finer bin. Bins per session are bounded by
    duration/bin (~7 here). The same binned plan is how the streaming
    stream-stream interval join is expressed.

    This is the EXACT form: its output is dense by definition (a
    platform where everything overlaps everything has ~S² true pairs —
    88 s at scale_demo ×20 is 157 M pairs of real answer, not a plan
    defect).  Production dashboards don't need exact counts above a
    saturation point; session_concurrency_capped is the bounded form
    whose post-candidate volume is S×CAP regardless of density."""
    sess = _session_intervals(spark, sf_dir)
    x, y = _binned_sides(sess)
    pairs = (
        x.join(y, "bin")
        .filter(F.col("ux") != F.col("uy"))
        .filter((F.col("ax") <= F.col("by")) & (F.col("ay") <= F.col("bx")))
        .select("ux", "ax", "uy", "ay")
        .distinct()
    )
    counts = pairs.groupBy("ux", "ax").agg(
        F.count("*").cast("long").alias("n_concurrent")
    )
    return (
        sess.join(
            counts,
            (sess.user_id == counts.ux) & (sess.session_start_us == counts.ax),
            "left",
        )
        .select(
            "user_id",
            "session_start_us",
            "session_end_us",
            F.coalesce("n_concurrent", F.lit(0)).cast("long").alias("n_concurrent"),
        )
    )


@register(
    "session_concurrency_capped",
    oracle=_SESSION_PAIRS_CTES
    + f"""
    SELECT g.user_id, g.a AS session_start_us, g.b AS session_end_us,
           least(coalesce(c.n, 0), {CONCURRENCY_CAP})::BIGINT
             AS n_concurrent_capped
    FROM g LEFT JOIN (
      SELECT ux, ax, count(*) AS n FROM pairs GROUP BY 1, 2
    ) c ON c.ux = g.user_id AND c.ax = g.a
    """,
    tags=("relational", "session", "intervaljoin"),
)
def q_session_concurrency_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_concurrency with the production density bound the r6
    verdict asked to be implemented, not documented: n_concurrent
    saturates at CONCURRENCY_CAP=16 (dashboards need "is this session
    contended", not the exact 4-millionth partner), and the PLAN is
    bounded by it end to end:

    - each truly-overlapping pair is emitted from exactly ONE bin (its
      first shared bin, ``bin == greatest(ax, ay) div BIN``), so the
      157 M-row pair ``distinct()`` shuffle of the exact form
      disappears entirely;
    - the per-session partner limit is a ``row_number() <= CAP`` over
      (ux, ax), which Spark rewrites to WindowGroupLimit (plan-gated):
      every shuffle-map task emits at most CAP rows per session seen,
      so the rank shuffle carries ≤ S×CAP rows no matter how dense the
      overlap graph gets — sub-linear in output density where the
      exact form is linear (measured, SCALE.md "Round 8: capped
      concurrency measured" section: at ×20 density, same session, exact
      38.0 s / 3,185 MB shuffle vs capped 23.9 s / 510 MB — the
      157 M-pair distinct shuffle is gone and the residual shuffle is
      the sessionization both forms pay);
    - the final count aggregates ≤ S×CAP rows.

    The oracle computes the naive O(S²) join and applies
    ``least(n, CAP)`` — exact equality, because min(true count, CAP)
    is exactly what the rank filter counts once pairs are unique."""
    sess = _session_intervals(spark, sf_dir)
    x, y = _binned_sides(sess)
    pairs = (
        x.join(y, "bin")
        .filter(F.col("ux") != F.col("uy"))
        .filter((F.col("ax") <= F.col("by")) & (F.col("ay") <= F.col("bx")))
        # first-shared-bin guard: emit each overlapping pair exactly once
        # (shared bins run from greatest(ax,ay) div BIN to
        # least(bx,by) div BIN; keep only the first) — replaces the full
        # pair distinct() with a free per-row predicate
        .filter(
            F.col("bin")
            == F.expr(f"greatest(ax, ay) div {_CONC_BIN_US}")
        )
        .select("ux", "ax", "uy", "ay")
    )
    w = Window.partitionBy("ux", "ax").orderBy("ay", "uy")
    capped = (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= CONCURRENCY_CAP)
        .groupBy("ux", "ax")
        .agg(F.count("*").cast("long").alias("n_concurrent_capped"))
    )
    return (
        sess.join(
            capped,
            (sess.user_id == capped.ux) & (sess.session_start_us == capped.ax),
            "left",
        )
        .select(
            "user_id",
            "session_start_us",
            "session_end_us",
            F.coalesce("n_concurrent_capped", F.lit(0))
            .cast("long")
            .alias("n_concurrent_capped"),
        )
    )


# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------


@register(
    "asof_view_next_purchase",
    oracle="""
    WITH u AS (
      SELECT user_id, ts, 0 AS side, event_id AS tie,
             event_id AS l_id, NULL::BIGINT AS r_id, NULL::TIMESTAMP AS r_ts
      FROM events WHERE event_type = 'view'
      UNION ALL
      SELECT user_id, ts, 1 AS side, event_id AS tie,
             NULL::BIGINT, event_id, ts
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT *,
             first_value(r_id IGNORE NULLS) OVER w AS purchase_id,
             first_value(r_ts IGNORE NULLS) OVER w AS purchase_ts
      FROM u
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, tie
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT l_id AS view_id, user_id,
           coalesce(purchase_id, -1) AS purchase_id,
           coalesce(epoch_us(purchase_ts) - epoch_us(ts), -1) AS gap_us
    FROM m WHERE side = 0
    """,
    tags=("relational", "join", "asof"),
)
def q_asof_view_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join — the time-to-conversion complement of
    asof_purchase_last_view: each view picks the user's EARLIEST
    at-or-after purchase (>= semantics; equal-ts purchases resolve to
    the smallest event_id), reporting the conversion gap in exact
    microseconds with -1 sentinels for never-converted views. Same
    single-shuffle union + carry plan, running forward
    (joins.asof_join_forward) — never a nested-loop range join."""
    ev = tables.load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    from .joins import asof_join_forward

    joined = asof_join_forward(
        views,
        purchases,
        on="user_id",
        left_tie=F.col("view_id"),
        right_tie=F.col("purchase_id"),
    )
    return joined.select(
        "view_id",
        "user_id",
        F.coalesce("r_purchase_id", F.lit(-1)).alias("purchase_id"),
        F.coalesce(
            F.unix_micros("r_ts") - F.unix_micros("ts"), F.lit(-1)
        ).alias("gap_us"),
    )


@register(
    "asof_purchase_last_view",
    oracle="""
    WITH u AS (
      SELECT user_id, ts, 1 AS side, event_id AS tie,
             event_id AS l_id, NULL::BIGINT AS r_id, NULL::TIMESTAMP AS r_ts
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, 0 AS side, event_id AS tie,
             NULL::BIGINT, event_id, ts
      FROM events WHERE event_type = 'view'
    ),
    m AS (
      SELECT *,
             last_value(r_id IGNORE NULLS) OVER w AS view_id,
             last_value(r_ts IGNORE NULLS) OVER w AS view_ts
      FROM u
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, tie
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT l_id AS purchase_id, user_id,
           coalesce(view_id, -1) AS view_id,
           coalesce(epoch_us(ts) - epoch_us(view_ts), -1) AS gap_us
    FROM m WHERE side = 1
    """,
    tags=("relational", "join", "asof"),
)
def q_asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution as-of join: each purchase picks the user's most
    recent prior 'view' event (ties: the view at the same timestamp
    counts; equal-ts views resolve to the greatest event_id). Runs as
    ONE shuffle on user_id via the union + carry-forward plan
    (sparksent/joins.py), not a nested-loop range join."""
    ev = tables.load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    joined = asof_join(
        purchases,
        views,
        on="user_id",
        left_tie=F.col("purchase_id"),
        right_tie=F.col("view_id"),
    )
    return joined.select(
        "purchase_id",
        "user_id",
        F.coalesce("r_view_id", F.lit(-1)).alias("view_id"),
        F.coalesce(
            F.unix_micros("ts") - F.unix_micros("r_ts"), F.lit(-1)
        ).alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# skew-proof holistic aggregation
# ---------------------------------------------------------------------------


@register(
    "skew_distinct_users",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_distinct
    FROM events GROUP BY 1
    """,
    tags=("relational", "skew"),
)
def q_skew_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type via the salted two-phase plan
    (sparksent/skew.py): 5 hot keys scatter over (key, hash(user) % 16)
    so no single reducer owns a whole key's distinct set; the per-salt
    counts are disjoint and sum exactly."""
    from .skew import salted_distinct_count

    ev = tables.load_table(spark, sf_dir, "events")
    return salted_distinct_count(ev, ["event_type"], "user_id")


# ---------------------------------------------------------------------------
# distribution statistics
# ---------------------------------------------------------------------------


@register(
    "percentile_order_value",
    oracle=f"""
    WITH p AS ({spark_percentile_select(
        "orders", "o_orderpriority", "o_totalprice",
        {"p50": 0.5, "p90": 0.9})})
    SELECT c.o_orderpriority, p.p50, p.p90, c.n
    FROM (SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1) c
    JOIN p USING (o_orderpriority)
    """,
    tags=("relational", "agg", "percentile"),
)
def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of order value per priority.
    The oracle spells out Spark percentile()'s interpolation
    (sparksent/oracles.py) instead of DuckDB quantile_cont, whose
    missing equal-keys shortcut diverges by 1 ULP when the two
    interpolation endpoints hold equal values (the round-5 Hypothesis
    find). Exact percentiles are a holistic aggregate (per-group
    sort); at 100 TB the drop-in alternative is approx_percentile
    (t-digest sketch, mergeable map-side) at bounded error — the query
    shape is identical."""
    o = tables.load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", 0.5).alias("p50"),
        F.percentile("o_totalprice", 0.9).alias("p90"),
        F.count("*").alias("n"),
    )


@register(
    "daily_median_value",
    oracle=f"""
    WITH src AS (
      SELECT event_type,
             (floor(epoch(ts))::BIGINT // 86400) AS day,
             value
      FROM events
    ),
    p AS ({spark_percentile_select(
        "src", ["event_type", "day"], "value",
        {"p50": 0.5, "p90": 0.9})})
    SELECT c.event_type, c.day, p.p50, p.p90, c.n
    FROM (SELECT event_type, (floor(epoch(ts))::BIGINT // 86400) AS day,
                 count(*) AS n
          FROM events GROUP BY 1, 2) c
    JOIN p USING (event_type, day)
    """,
    tags=("relational", "agg", "percentile", "timeseries"),
)
def q_daily_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-(type, day) median and P90 of event values — the
    composite-group form of the pinned Spark-exact percentile oracle
    (sparksent/oracles.py), over epoch-day BIGINT buckets. The daily
    robust-statistics monitor every metrics pipeline runs: one
    map-side-combined holistic aggregate; at 100 TB the drop-in is
    approx_percentile per bucket (mergeable t-digest), same shape."""
    ev = tables.load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.expr("CAST(unix_timestamp(ts) div 86400 AS BIGINT)").alias("day"),
            "value",
        )
        .groupBy("event_type", "day")
        .agg(
            F.percentile("value", 0.5).alias("p50"),
            F.percentile("value", 0.9).alias("p90"),
            F.count("*").alias("n"),
        )
    )


@register(
    "pivot_event_counts",
    oracle="""
    SELECT (user_id % 10)::INT AS user_bucket,
           count(*) FILTER (event_type = 'click')    AS click,
           count(*) FILTER (event_type = 'error')    AS error,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup')   AS signup,
           count(*) FILTER (event_type = 'view')     AS view
    FROM events GROUP BY 1
    """,
    tags=("relational", "pivot"),
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-format event counts per user bucket via groupBy().pivot()
    with the value list pinned (no extra distinct-values job, and the
    output schema is static — both required for a predictable plan at
    scale; pivot compiles to one aggregate with conditional counts,
    the same plan as the FILTER clauses in the oracle). Spark's pivoted
    count() yields NULL for absent (bucket, type) combos where the
    oracle's count(*) FILTER yields 0 — na.fill(0) restores the
    NULL-free convention on any sparse input."""
    ev = tables.load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy((F.col("user_id") % 10).cast("int").alias("user_bucket"))
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )


# ---------------------------------------------------------------------------
# analytic windows + grouping sets
# ---------------------------------------------------------------------------


@register(
    "event_gap_stats",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT user_id,
           count(*) AS n_events,
           count(gap_us) AS n_gaps,
           coalesce(sum(gap_us), 0)::BIGINT AS sum_gap_us,
           coalesce(max(gap_us), 0)::BIGINT AS max_gap_us
    FROM g GROUP BY 1
    """,
    tags=("relational", "window"),
)
def q_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap statistics via lag(): the canonical
    sessionization precursor. Epoch-microsecond BIGINT arithmetic is
    integer-exact on both engines; the groupBy(user_id) after the
    window reuses the window's hash partitioning (no second shuffle —
    ensure_requirements sees the distribution already satisfied)."""
    ev = tables.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    um = F.unix_micros(F.col("ts"))
    gaps = ev.select(
        "user_id", (um - F.lag(um).over(w)).alias("gap_us")
    )
    return gaps.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.count("gap_us").alias("n_gaps"),
        F.coalesce(F.sum("gap_us"), F.lit(0)).alias("sum_gap_us"),
        F.coalesce(F.max("gap_us"), F.lit(0)).alias("max_gap_us"),
    )


@register(
    "cube_event_value",
    oracle="""
    SELECT coalesce(event_type, 'ALL') AS event_type,
           coalesce(user_bucket, -1) AS user_bucket,
           GROUPING(event_type, user_bucket) AS gid,
           count(*) AS n,
           sum(v)::DOUBLE AS sum_value
    FROM (SELECT event_type, (user_id % 10)::INT AS user_bucket,
                 value::DECIMAL(28,6) AS v
          FROM events)
    GROUP BY CUBE(event_type, user_bucket)
    """,
    tags=("relational", "agg"),
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (event_type, user bucket): all four grouping sets
    in one Expand + single aggregate pass (vs four scans), with
    grouping_id() disambiguating rolled-up NULLs from data NULLs —
    probe-verified to use the same bit order as DuckDB's GROUPING()
    (first cube column = most significant bit)."""
    ev = tables.load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 10).cast("int").alias("user_bucket"),
        _dec28("value").alias("v"),
    )
    return (
        ev.cube("event_type", "user_bucket")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            F.sum("v").cast("double").alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("user_bucket", F.lit(-1)).alias("user_bucket"),
            "gid",
            "n",
            "sum_value",
        )
    )


@register(
    "hist_event_value",
    oracle="""
    SELECT floor(value / 25.0)::BIGINT AS bucket,
           floor(value / 25.0) * 25.0 AS lo,
           count(*) AS n,
           sum(value::DECIMAL(28,6))::DOUBLE AS sum_value
    FROM events GROUP BY 1, 2
    """,
    tags=("relational", "agg"),
)
def q_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram (width 25): the scalable histogram
    sketch — bucketing is a per-row projection, the aggregate is one
    map-side-combined pass with at most ~n_buckets rows on the wire.
    ``floor(value/width)`` is the same IEEE op on both engines (unlike
    width_bucket, whose edge semantics differ); lo = bucket*width
    re-derives the edge with one exact multiply."""
    ev = tables.load_table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / F.lit(25.0))
    return (
        ev.select(
            bucket.cast("long").alias("bucket"),
            (bucket * F.lit(25.0)).alias("lo"),
            _dec28("value").alias("v"),
        )
        .groupBy("bucket", "lo")
        .agg(
            F.count("*").alias("n"),
            F.sum("v").cast("double").alias("sum_value"),
        )
    )


@register(
    "decile_user_value",
    oracle="""
    WITH totals AS (
      SELECT user_id, sum(value::DECIMAL(28,6)) AS total
      FROM events GROUP BY 1
    ),
    ranked AS (
      SELECT user_id, total,
             ntile(10) OVER (ORDER BY total, user_id) AS decile
      FROM totals
    )
    SELECT decile, count(*) AS n_users,
           sum(total)::DOUBLE AS sum_value,
           min(total)::DOUBLE AS min_value,
           max(total)::DOUBLE AS max_value
    FROM ranked GROUP BY 1
    """,
    tags=("relational", "window"),
)
def q_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-value decile segmentation: per-user decimal totals (one
    partial-agg shuffle over the fact table), then NTILE(10) over the
    (total, user_id) total order — computed WITHOUT the single-reducer
    global window (round 4, closing the last documented single-reducer
    stage): range-partition on the order key, per-partition row_number,
    broadcast cumulative partition offsets, and integer-exact NTILE
    arithmetic from (global rank, n) — ext/ranks.py. Bit-identical to
    F.ntile over the same order (pinned in tests/test_skew.py and by
    this query's unchanged ntile-based oracle), but every stage is
    partition-parallel at any user count."""
    from .ext.ranks import ntile_col, with_global_ranks

    ev = tables.load_table(spark, sf_dir, "events")
    totals = ev.groupBy("user_id").agg(F.sum(_dec28("value")).alias("total"))
    # n_users_total rides the ranking's broadcast offsets frame
    # (count_col): the former `totals.agg(count)` branch re-scanned
    # and re-aggregated the whole events table just to count users
    # (round 16, guide §1.2)
    ranked = with_global_ranks(
        totals, ["total", "user_id"], count_col="n_users_total"
    )
    return (
        ranked
        .withColumn(
            "decile", ntile_col(F.col("rank"), F.col("n_users_total"), 10)
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("total").cast("double").alias("sum_value"),
            F.min("total").cast("double").alias("min_value"),
            F.max("total").cast("double").alias("max_value"),
        )
    )


@register(
    "event_session_ids",
    oracle="""
    WITH o AS (
      SELECT user_id, event_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= 1800000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
    )
    SELECT user_id, event_id,
           sum(brk) OVER (PARTITION BY user_id ORDER BY event_id
                          ROWS UNBOUNDED PRECEDING)::BIGINT AS sid
    FROM o
    """,
    tags=("relational", "window", "session"),
)
def q_session_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level sessionization: assign each event its per-user session
    ordinal (gaps-and-islands — a break where the gap to the previous
    event reaches 30 min, then a running sum of breaks). The companion
    to session_agg_30m when downstream needs the session key ON the
    events rather than aggregates. Both windows share the user_id
    partitioning: ONE shuffle. Integer microsecond arithmetic — exact.
    The oracle's second window orders by event_id alone: within a user,
    event_id order == (ts, event_id) order in the fixture, and the sum
    of breaks only changes at break rows either way."""
    ev = tables.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    um = F.unix_micros(F.col("ts"))
    brk = (
        F.when(um - F.lag(um).over(w) >= 1_800_000_000, F.lit(1)).otherwise(F.lit(0))
    )
    return (
        ev.select("user_id", "event_id", brk.alias("brk"))
        .withColumn(
            "sid",
            F.sum("brk")
            .over(
                Window.partitionBy("user_id")
                .orderBy("event_id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            .cast("long"),
        )
        .select("user_id", "event_id", "sid")
    )


@register(
    "fullouter_user_activity",
    oracle="""
    WITH e AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1),
    o AS (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1)
    SELECT COALESCE(user_id, o_custkey) AS entity_id,
           COALESCE(n_events, 0) AS n_events,
           COALESCE(n_orders, 0) AS n_orders
    FROM e FULL OUTER JOIN o ON user_id = o_custkey
    """,
    tags=("relational", "join"),
)
def q_fullouter_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join shape (completing the join-type inventory:
    inner / left / semi / anti / as-of / range / full): per-entity
    event counts full-outer-joined with order counts over the shared
    integer key space — entities active on only one side survive with a
    zero on the other. Two map-side-combined aggregates, then one
    shuffle join on keys both sides already hash on."""
    ev = tables.load_table(spark, sf_dir, "events")
    od = tables.load_table(spark, sf_dir, "orders")
    e = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
    o = od.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    return (
        e.join(o, e.user_id == o.o_custkey, "full_outer")
        .select(
            F.coalesce("user_id", "o_custkey").alias("entity_id"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
    )


@register(
    "anomaly_robust_events",
    oracle=f"""
    WITH med AS ({spark_percentile_select(
        "events", "event_type", "value", {"med": 0.5})}),
    mad AS ({spark_percentile_select(
        "(SELECT e.event_type, abs(e.value - m.med) AS dev"
        " FROM events e JOIN med m ON e.event_type = m.event_type)",
        "event_type", "dev", {"mad": 0.5})})
    SELECT e.event_type, any_value(m.med) AS med, any_value(d.mad) AS mad,
      sum(CASE WHEN abs(e.value - m.med) > 3 * d.mad THEN 1 ELSE 0 END)::BIGINT
        AS n_outliers,
      count(*) AS n_total
    FROM events e
    JOIN med m ON e.event_type = m.event_type
    JOIN mad d ON e.event_type = d.event_type
    GROUP BY 1
    """,
    tags=("relational", "analytics"),
)
def q_anomaly_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier flagging per event_type: a value is
    anomalous when |v - median| > 3*MAD — the standard heavy-tail-safe
    z-score. The oracle mirrors Spark ``percentile``'s exact
    interpolation incl. the equal-keys shortcut (sparksent/oracles.py;
    ``quantile_cont`` diverges by 1 ULP on tied endpoints), and the
    flag uses only sub/mul/abs (exact IEEE), so the whole surface
    hash-matches.

    Scale: two tiny grouped aggregates (one row per event_type) each
    broadcast back onto the fact scan — the fact table is read twice...
    or once with a cheap re-scan; no fact-sized shuffle occurs anywhere
    (the groupBy carries map-side partials of 5 groups)."""
    ev = tables.load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.percentile("value", 0.5).alias("med"))
    with_med = ev.join(F.broadcast(med), "event_type")
    mad = (
        with_med.select(
            "event_type", F.abs(F.col("value") - F.col("med")).alias("dev")
        )
        .groupBy("event_type")
        .agg(F.percentile("dev", 0.5).alias("mad"))
    )
    return (
        with_med.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("med").alias("med"),
            F.any_value("mad").alias("mad"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
            F.count("*").alias("n_total"),
        )
    )


@register(
    "user_behavior_features",
    oracle="""
    WITH g AS (
      SELECT user_id, event_type, epoch_us(ts) AS us,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events),
    base AS (
      SELECT user_id,
             count(*) AS n_events,
             count(DISTINCT event_type) AS n_types,
             max(us) - min(us) AS span_us,
             coalesce(max(gap_us), 0)::BIGINT AS max_gap_us,
             CASE WHEN count(*) > 1
                  THEN (max(us) - min(us)) / (count(*) - 1)
                  ELSE 0.0 END AS mean_gap_us
      FROM g GROUP BY 1),
    top AS (
      SELECT user_id, event_type AS top_type, cnt AS top_type_n FROM (
        SELECT user_id, event_type, count(*) AS cnt,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY count(*) DESC, event_type ASC) AS rn
        FROM events GROUP BY 1, 2) WHERE rn = 1)
    SELECT user_id, n_events, n_types, span_us, max_gap_us, mean_gap_us,
           top_type, top_type_n
    FROM base JOIN top USING (user_id)
    """,
    tags=("relational", "features"),
)
def q_user_behavior_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral feature vector — the feature-engineering
    workload of a training pipeline: event count, type diversity,
    activity span, max inter-event gap (lag window), mean gap (exact
    integer-ratio division), and the deterministic modal event type
    (count DESC, type ASC tie break).

    Scale: every stage is keyed by user_id — the lag window, the
    (user, type) count, the modal argmax window, and the final join all
    reuse one hash-partitioning; epoch-microsecond BIGINT arithmetic is
    integer-exact on both engines, and mean_gap divides two exact
    integers (identical IEEE result)."""
    ev = tables.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    um = F.unix_micros(F.col("ts"))
    g = ev.select(
        "user_id",
        "event_type",
        um.alias("us"),
        (um - F.lag(um).over(w)).alias("gap_us"),
    )
    base = g.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        (F.max("us") - F.min("us")).alias("span_us"),
        F.coalesce(F.max("gap_us"), F.lit(0)).alias("max_gap_us"),
        F.when(
            F.count("*") > 1,
            (F.max("us") - F.min("us")) / (F.count("*") - 1),
        )
        .otherwise(F.lit(0.0))
        .alias("mean_gap_us"),
    )
    top = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("cnt").desc(), F.col("event_type").asc()
                )
            ),
        )
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("top_type"),
            F.col("cnt").alias("top_type_n"),
        )
    )
    return base.join(top, "user_id")


# ---------------------------------------------------------------------------
# funnel / cohort retention / transition matrix (event analytics)
# ---------------------------------------------------------------------------


@register(
    "funnel_view_click_purchase",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS us FROM events
    ),
    v AS (SELECT user_id, min(us) AS v_us FROM e
          WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT e.user_id, min(us) AS c_us, any_value(v_us) AS v_us
          FROM e JOIN v USING (user_id)
          WHERE event_type = 'click' AND us > v_us GROUP BY 1),
    p AS (SELECT e.user_id, min(us) AS p_us, any_value(c_us) AS c_us
          FROM e JOIN c USING (user_id)
          WHERE event_type = 'purchase' AND us > c_us GROUP BY 1)
    SELECT (SELECT count(*) FROM v)::BIGINT AS users_view,
           (SELECT count(*) FROM c)::BIGINT AS users_click,
           (SELECT count(*) FROM p)::BIGINT AS users_purchase,
           (SELECT coalesce(sum(c_us - v_us), 0) FROM c)::BIGINT
             AS sum_view_to_click_us,
           (SELECT coalesce(sum(p_us - c_us), 0) FROM p)::BIGINT
             AS sum_click_to_purchase_us
    """,
    tags=("relational", "funnel"),
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage conversion funnel (view -> click ->
    purchase): a user advances a stage only with an event STRICTLY
    after their previous stage's first event.  The sequential
    dependency runs as three conditional-min aggregates, every one
    keyed on user_id — same shuffle key throughout, so at 100 TB this
    is three co-partitioned narrow aggs and two user-keyed joins, no
    ordered collect per user and no window over the whole history.
    Epoch-microsecond arithmetic keeps stage-lag sums exact BIGINTs."""
    e = tables.load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    # v and c each have TWO consumers (the next stage + the final
    # counts), so the unpinned plan re-derived every earlier stage per
    # consumer — 6 corpus scans instead of 3.  Lazy pins (no job
    # barrier); both frames are user-cardinality (guide §1.2/§3.3).
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v_us"))
        .localCheckpoint(eager=False)
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("us") > F.col("v_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("c_us"), F.first("v_us").alias("v_us"))
        .localCheckpoint(eager=False)
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("us") > F.col("c_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"), F.first("c_us").alias("c_us"))
    )
    counts = (
        v.agg(F.count("*").alias("users_view"))
        .crossJoin(
            c.agg(
                F.count("*").alias("users_click"),
                F.coalesce(F.sum(F.col("c_us") - F.col("v_us")), F.lit(0)).alias(
                    "sum_view_to_click_us"
                ),
            )
        )
        .crossJoin(
            p.agg(
                F.count("*").alias("users_purchase"),
                F.coalesce(F.sum(F.col("p_us") - F.col("c_us")), F.lit(0)).alias(
                    "sum_click_to_purchase_us"
                ),
            )
        )
    )
    return counts.select(
        "users_view",
        "users_click",
        "users_purchase",
        "sum_view_to_click_us",
        "sum_click_to_purchase_us",
    )


@register(
    "retention_cohorts",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, (epoch_us(ts) // 86400000000)::BIGINT AS day
      FROM events
    ),
    f AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
    SELECT cohort_day, day - cohort_day AS day_offset,
           count(*)::BIGINT AS n_users
    FROM d JOIN f USING (user_id)
    GROUP BY 1, 2
    """,
    tags=("relational", "cohort"),
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity day,
    counted on each later day they return.  (user, day) pairs are
    distinct-ed FIRST (one shuffle on the pair — collapses the raw
    event volume to at most users x days rows), the per-user cohort day
    is a second agg on the same user key, and the final count is over
    the already-distinct pairs so no countDistinct is needed anywhere.
    Day arithmetic is integer floor-division on epoch microseconds."""
    d = (
        tables.load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            # integer floor-division (`div`), NOT `/`+cast: double
            # division can land epsilon below an exact day boundary and
            # truncate to the previous day
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
        )
        .distinct()
    )
    f = d.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        d.join(f, "user_id")
        .groupBy("cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .agg(F.count("*").alias("n_users"))
    )


@register(
    "event_transition_matrix",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    t AS (
      SELECT prev_type, event_type AS next_type, count(*)::BIGINT AS n
      FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n,
           n / (sum(n) OVER (PARTITION BY prev_type))::DOUBLE AS frac
    FROM t
    """,
    tags=("relational", "window", "markov"),
)
def q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix (Markov counts): per
    user, consecutive event pairs ordered by (ts, event_id), counted
    into a |types|^2 matrix with per-source-row fractions.  One lag
    window per user partition (the only real shuffle), then a tiny
    grouped count; the fraction normalization runs over the ~25-row
    matrix, not the events.  Tie-break on event_id makes the sequence —
    and therefore the counts — deterministic under equal timestamps."""
    ev = tables.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        ev.select(
            "user_id",
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("n"))
    )
    wt = Window.partitionBy("prev_type")
    return t.select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n") / F.sum("n").over(wt)).alias("frac"),
    )


# ---------------------------------------------------------------------------
# column statistics (ANALYZE-style, the CBO input surface)
# ---------------------------------------------------------------------------


@register(
    "column_stats_events",
    oracle="""
    SELECT 'event_id' AS col_name, count(*)::BIGINT AS n,
           (count(*) - count(event_id))::BIGINT AS n_nulls,
           count(DISTINCT event_id)::BIGINT AS n_distinct,
           min(event_id)::DOUBLE AS min_v, max(event_id)::DOUBLE AS max_v
    FROM events
    UNION ALL
    SELECT 'user_id', count(*)::BIGINT,
           (count(*) - count(user_id))::BIGINT,
           count(DISTINCT user_id)::BIGINT,
           min(user_id)::DOUBLE, max(user_id)::DOUBLE
    FROM events
    UNION ALL
    SELECT 'value', count(*)::BIGINT,
           (count(*) - count("value"))::BIGINT,
           count(DISTINCT "value")::BIGINT,
           min("value"), max("value")
    FROM events
    """,
    tags=("relational", "stats"),
)
def q_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE-style per-column statistics (row count, null
    count, exact NDV, min/max) for the numeric events columns — the
    input every cost-based optimizer and partition planner needs.  ONE
    pass over the table: the three exact countDistincts compile into a
    single expand + two-phase aggregate (Spark's standard
    multi-distinct plan — scan once, expand 3x in the agg input, never
    3 scans), and the 1-row wide result unpivots to (column, stats)
    rows with a stack projection.  At 100 TB swap exact NDV for HLL
    (hll_distinct_users shows the sketch registered here) — the plan
    shape is otherwise identical."""
    ev = tables.load_table(spark, sf_dir, "events")
    wide = ev.agg(
        F.count("*").alias("n"),
        *[
            e
            for c in ("event_id", "user_id", "value")
            for e in (
                (F.count("*") - F.count(c)).alias(f"nulls_{c}"),
                F.countDistinct(c).alias(f"nd_{c}"),
                F.min(F.col(c).cast("double")).alias(f"min_{c}"),
                F.max(F.col(c).cast("double")).alias(f"max_{c}"),
            )
        ],
    )
    return wide.select(
        F.expr(
            "stack(3, "
            + ", ".join(
                f"'{c}', nulls_{c}, nd_{c}, min_{c}, max_{c}"
                for c in ("event_id", "user_id", "value")
            )
            + ") AS (col_name, n_nulls, n_distinct, min_v, max_v)"
        ),
        "n",
    ).select("col_name", "n", "n_nulls", "n_distinct", "min_v", "max_v")


# ---------------------------------------------------------------------------
# week-over-week time series
# ---------------------------------------------------------------------------


@register(
    "weekly_value_wow",
    oracle="""
    WITH w AS (
      SELECT event_type,
             (epoch_us(ts) // 604800000000)::BIGINT AS week,
             sum(value::DECIMAL(28,6)) AS s,
             count(*)::BIGINT AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, week, s::DOUBLE AS sum_value, n_events,
           coalesce(lag(s) OVER (PARTITION BY event_type ORDER BY week),
                    0)::DOUBLE AS prev_value,
           CASE WHEN lag(s) OVER (PARTITION BY event_type ORDER BY week)
                     IS NULL
                  OR lag(s) OVER (PARTITION BY event_type ORDER BY week) = 0
                THEN -1.0
                ELSE s::DOUBLE
                     / (lag(s) OVER (PARTITION BY event_type ORDER BY week))::DOUBLE
           END AS wow_ratio
    FROM w
    """,
    tags=("relational", "window", "timeseries"),
)
def q_weekly_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week reporting series: per-type weekly DECIMAL sums
    (one partial-agg shuffle, integer epoch-week bucketing with exact
    `div`), then lag deltas/ratios over the tiny (types x weeks)
    aggregate — the window never touches raw events.  First week of a
    type — and any week whose predecessor summed to exactly 0 — reports
    ratio -1 (NULL-free sentinel per registry convention; the zero guard
    matters because Spark emits Infinity for DOUBLE/0 while DuckDB
    returns NULL, a latent hash mismatch if a fixture ever produces a
    zero-sum week); otherwise the ratio divides the two DOUBLE casts,
    the same IEEE op both engines."""
    ev = tables.load_table(spark, sf_dir, "events")
    weekly = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 604800000000").alias("week"),
            _dec28("value").alias("v"),
        )
        .groupBy("event_type", "week")
        .agg(F.sum("v").alias("s"), F.count("*").alias("n_events"))
    )
    w = Window.partitionBy("event_type").orderBy("week")
    prev = F.lag("s").over(w)
    return weekly.select(
        "event_type",
        "week",
        F.col("s").cast("double").alias("sum_value"),
        "n_events",
        F.coalesce(prev, F.lit(0)).cast("double").alias("prev_value"),
        F.when(prev.isNull() | (prev == 0), F.lit(-1.0))
        .otherwise(F.col("s").cast("double") / prev.cast("double"))
        .alias("wow_ratio"),
    )


@register(
    "ewma_user_value",
    oracle="""
    WITH lagged AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
             lag(value, 1) OVER w AS l1,
             lag(value, 2) OVER w AS l2,
             lag(value, 3) OVER w AS l3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, ts_us, value,
           (value * 8
            + coalesce(l1, 0.0::DOUBLE) * 4
            + coalesce(l2, 0.0::DOUBLE) * 2
            + coalesce(l3, 0.0::DOUBLE) * 1)
           / (8
              + CASE WHEN l1 IS NULL THEN 0 ELSE 4 END
              + CASE WHEN l2 IS NULL THEN 0 ELSE 2 END
              + CASE WHEN l3 IS NULL THEN 0 ELSE 1 END) AS ewma4
    FROM lagged
    """,
    tags=("relational", "window", "timeseries"),
)
def q_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event exponential smoothing over each user's value series:
    a bounded EWMA with halving weights (8/4/2/1) over the last four
    events, the streamable row-window form of the classic recursive
    EWMA (a 4-term truncation keeps it a pure lag expression — no
    iterative state, so ONE user-keyed shuffle serves all three lags).
    Head-of-series rows renormalize over the weights actually present
    instead of back-filling. Bit-exact across engines by construction:
    the weights are powers of two (exact double products), the sums
    associate in one fixed written order, and the one division is
    IEEE-deterministic."""
    ev = tables.load_table(spark, sf_dir, "events")
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
    return ev.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
        (num / den).alias("ewma4"),
    )


@register(
    "attribution_first_touch",
    oracle="""
    WITH u AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    j AS (
      SELECT *,
             coalesce(sum(is_p) OVER (PARTITION BY user_id
                                      ORDER BY ts, is_p, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND 1 PRECEDING), 0)::BIGINT
               AS journey
      FROM u
    ),
    f AS (
      SELECT *,
             first_value(CASE WHEN is_p = 0 THEN event_id END IGNORE NULLS)
               OVER w AS first_view_id,
             first_value(CASE WHEN is_p = 0 THEN ts END IGNORE NULLS)
               OVER w AS first_view_ts
      FROM j
      WINDOW w AS (PARTITION BY user_id, journey ORDER BY ts, is_p, event_id
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_id AS purchase_id, user_id, journey,
           coalesce(first_view_id, -1) AS first_view_id,
           coalesce(epoch_us(ts) - epoch_us(first_view_ts), -1) AS gap_us
    FROM f WHERE is_p = 1
    """,
    tags=("relational", "window", "attribution"),
)
def q_attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution — the complement of the as-of (last
    touch) join: each purchase credits the FIRST view of its journey,
    where a journey is everything since the user's previous purchase.
    Journey ids come from a running count of strictly-prior purchases;
    the first view is a running IGNORE NULLS first_value within
    (user, journey). Same-timestamp ties order views before purchases
    (is_p 0 < 1), matching the as-of query's "view at the same ts
    counts" convention, then break on event_id.

    Scale: both windows are user-key-rooted — one user_id shuffle, then
    a (user_id, journey) refinement of it; no join against the fact
    table at all (the union+window plan, like the as-of join). Missing
    first touch reports the -1 sentinel (NULL-free convention)."""
    ev = tables.load_table(spark, sf_dir, "events")
    u = ev.filter(F.col("event_type").isin("view", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        # is_p doubles as the same-ts tie-break (views 0 < purchases 1)
        F.when(F.col("event_type") == "purchase", F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_p"),
    )
    w_j = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    j = u.withColumn(
        "journey",
        F.coalesce(F.sum("is_p").over(w_j), F.lit(0)).cast("long"),
    )
    w_f = (
        Window.partitionBy("user_id", "journey")
        .orderBy("ts", "is_p", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    f = j.withColumn(
        "first_view_id",
        F.first(
            F.when(F.col("is_p") == 0, F.col("event_id")), ignorenulls=True
        ).over(w_f),
    ).withColumn(
        "first_view_ts",
        F.first(
            F.when(F.col("is_p") == 0, F.col("ts")), ignorenulls=True
        ).over(w_f),
    )
    return f.filter(F.col("is_p") == 1).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        "journey",
        F.coalesce("first_view_id", F.lit(-1)).alias("first_view_id"),
        F.coalesce(
            F.unix_micros("ts") - F.unix_micros("first_view_ts"), F.lit(-1)
        ).alias("gap_us"),
    )


@register(
    "winsorize_event_value",
    oracle=f"""
    WITH b AS ({spark_percentile_select(
        "events", "event_type", "value", {"lo": 0.05, "hi": 0.95})})
    SELECT e.event_type,
           any_value(b.lo) AS lo,
           any_value(b.hi) AS hi,
           count(*) AS n,
           sum(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END)::BIGINT AS n_clip_low,
           sum(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END)::BIGINT AS n_clip_high,
           sum((CASE WHEN e.value < b.lo THEN b.lo
                     WHEN e.value > b.hi THEN b.hi
                     ELSE e.value END)::DECIMAL(28,6))::DOUBLE AS sum_winsorized,
           sum(e.value::DECIMAL(28,6))::DOUBLE AS sum_raw
    FROM events e JOIN b USING (event_type)
    GROUP BY 1
    """,
    tags=("relational", "analytics"),
)
def q_winsorize_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust statistics per event_type: clip values at the
    type's own P5/P95 (the standard heavy-tail tamer for training-data
    feature columns) and report clip counts plus raw vs winsorized
    sums. The oracle mirrors Spark ``percentile``'s exact interpolation
    (sparksent/oracles.py — ``quantile_cont`` lacks the equal-keys
    shortcut and can differ by 1 ULP on tied endpoints); the clip
    itself is pure comparisons, and both sums accumulate in
    DECIMAL(28,6).

    Scale: one tiny per-type quantile aggregate (5 rows) broadcast back
    onto the fact scan, then one map-side-combined aggregate — no
    fact-sized shuffle anywhere."""
    ev = tables.load_table(spark, sf_dir, "events").select("event_type", "value")
    bounds = ev.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("lo"),
        F.percentile("value", 0.95).alias("hi"),
    )
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("lo").alias("lo"),
            F.any_value("hi").alias("hi"),
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("value") < F.col("lo"), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_clip_low"),
            F.sum(
                F.when(F.col("value") > F.col("hi"), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_clip_high"),
            F.sum(
                F.when(F.col("value") < F.col("lo"), F.col("lo"))
                .when(F.col("value") > F.col("hi"), F.col("hi"))
                .otherwise(F.col("value"))
                .cast("decimal(28,6)")
            )
            .cast("double")
            .alias("sum_winsorized"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("sum_raw"),
        )
    )


@register(
    "unpivot_user_metrics",
    oracle="""
    WITH w AS (
      SELECT user_id,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT
               AS n_view,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
               AS n_click,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
               AS n_purchase
      FROM events GROUP BY 1
    )
    SELECT user_id, metric, n FROM (
      SELECT user_id, 'n_view' AS metric, n_view AS n FROM w
      UNION ALL
      SELECT user_id, 'n_click', n_click FROM w
      UNION ALL
      SELECT user_id, 'n_purchase', n_purchase FROM w
    )
    """,
    tags=("relational", "reshape"),
)
def q_unpivot_user_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape (melt/UNPIVOT — the inverse of
    pivot_event_counts): one conditional-count aggregate builds the
    wide per-user metric columns, then ``DataFrame.unpivot`` emits one
    (user_id, metric, n) row per metric. The oracle states the same
    reshape as the portable UNION ALL form. Unpivot is a zero-shuffle
    row-local expansion — the only exchange is the aggregate's."""
    ev = tables.load_table(spark, sf_dir, "events")
    wide = ev.groupBy("user_id").agg(
        *[
            F.sum(
                F.when(F.col("event_type") == t, F.lit(1)).otherwise(F.lit(0))
            ).alias(f"n_{t}")
            for t in ("view", "click", "purchase")
        ]
    )
    return wide.unpivot(
        ids=["user_id"],
        values=["n_view", "n_click", "n_purchase"],
        variableColumnName="metric",
        valueColumnName="n",
    )


@register(
    "rolling_60s_user_stats",
    oracle="""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           count(*) OVER w AS n_60s,
           sum(value::DECIMAL(28,6)) OVER w::DOUBLE AS sum_60s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 60000000 PRECEDING AND CURRENT ROW)
    """,
    tags=("relational", "window", "timeseries"),
)
def q_rolling_60s_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based window frame (RANGE, not ROWS): per event, the count
    and DECIMAL-exact sum of the user's events in the trailing 60
    seconds — the rolling-rate primitive behind throttling/burst
    detection. RANGE frames bound by the ORDER BY *value* (epoch
    microseconds), so same-timestamp peers are always in-frame together
    and the result is deterministic under any tie order — no tie-break
    column needed, unlike ROWS frames. One user-keyed shuffle."""
    ev = tables.load_table(spark, sf_dir, "events")
    um = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(um)
        .rangeBetween(-60_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        um.alias("ts_us"),
        F.count("*").over(w).alias("n_60s"),
        F.sum(F.col("value").cast("decimal(28,6)"))
        .over(w)
        .cast("double")
        .alias("sum_60s"),
    )


@register(
    "scd2_user_event_type",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
             CASE WHEN lag(event_type) OVER w IS NOT DISTINCT FROM event_type
                  THEN 0 ELSE 1 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), isl AS (
      SELECT user_id, event_type, us,
             sum(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
                            ROWS UNBOUNDED PRECEDING)::BIGINT AS island
      FROM seq
    ), grp AS (
      SELECT user_id, island, min(event_type) AS event_type,
             min(us)::BIGINT AS valid_from_us, count(*)::BIGINT AS n_events
      FROM isl GROUP BY 1, 2
    )
    SELECT user_id, island, event_type, valid_from_us,
           coalesce(lead(valid_from_us)
                    OVER (PARTITION BY user_id ORDER BY island), -1)::BIGINT
             AS valid_to_us,
           n_events
    FROM grp
    """,
    tags=("relational", "window", "scd"),
)
def q_scd2_user_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history build (gaps-and-islands): collapse each user's
    event stream into validity intervals over runs of the same
    event_type — the slowly-changing-dimension snapshot a warehouse
    derives from a change stream. chg marks type changes (null-safe so
    the first row opens island 1), a running sum numbers islands, and
    valid_to is the next island's valid_from (-1 sentinel = current).

    Plan: lag + running sum share one (user_id)-partitioned sort; the
    island aggregate and the lead window also key on user_id, so the
    exchange is reused — one shuffle end-to-end, and island counts are
    << event counts so the post-aggregate windows are cheap. Ordering
    ties broken by event_id on both sides (deterministic)."""
    ev = tables.load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    w_ord = Window.partitionBy("user_id").orderBy("us", "event_id")
    chg = F.when(
        F.lag("event_type").over(w_ord).eqNullSafe(F.col("event_type")), F.lit(0)
    ).otherwise(F.lit(1))
    isl = ev.withColumn("chg", chg).withColumn(
        "island",
        F.sum("chg")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )
    grp = isl.groupBy("user_id", "island").agg(
        F.min("event_type").alias("event_type"),
        F.min("us").cast("long").alias("valid_from_us"),
        F.count("*").cast("long").alias("n_events"),
    )
    w_isl = Window.partitionBy("user_id").orderBy("island")
    return grp.select(
        "user_id",
        "island",
        "event_type",
        "valid_from_us",
        F.coalesce(F.lead("valid_from_us").over(w_isl), F.lit(-1))
        .cast("long")
        .alias("valid_to_us"),
        "n_events",
    )


@register(
    "trend_slope_per_user",
    oracle="""
    WITH base AS (
      SELECT user_id,
             (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id))
               // 1000000 AS x,
             floor(value::DOUBLE * 1000.0)::BIGINT AS y
      FROM events
    ), sums AS (
      SELECT user_id, count(*)::BIGINT AS n,
             sum(x::HUGEINT)::HUGEINT AS sx, sum(y::HUGEINT)::HUGEINT AS sy,
             sum(x::HUGEINT * x)::HUGEINT AS sxx,
             sum(x::HUGEINT * y)::HUGEINT AS sxy,
             sum(y::HUGEINT * y)::HUGEINT AS syy
      FROM base GROUP BY 1 HAVING count(*) >= 2
    )
    SELECT user_id, n,
           ((n::HUGEINT * sxy - sx::HUGEINT * sy)::DOUBLE
            / (n::HUGEINT * sxx - sx::HUGEINT * sx)::DOUBLE) AS slope_mu,
           CASE WHEN (n::HUGEINT * syy - sy::HUGEINT * sy) = 0 THEN -1.0
                ELSE ((n::HUGEINT * sxy - sx::HUGEINT * sy)::DOUBLE
                      * (n::HUGEINT * sxy - sx::HUGEINT * sy)::DOUBLE)
                     / ((n::HUGEINT * sxx - sx::HUGEINT * sx)::DOUBLE
                        * (n::HUGEINT * syy - sy::HUGEINT * sy)::DOUBLE)
           END AS r2
    FROM sums
    WHERE (n::HUGEINT * sxx - sx::HUGEINT * sx) > 0
    """,
    tags=("relational", "timeseries", "ml"),
)
def q_trend_slope_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS trend of value over time, closed form — the
    drift-detection / feature-engineering primitive (is this user's
    spend rising?). x = seconds since the user's first event, y =
    milli-scaled value; slope_mu is in y-milli-units per second and
    r2 the fit quality (-1 sentinel when y is constant).

    Exactness: the five moment sums are BIGINT (order-insensitive);
    num/den cross terms are computed in DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB) — exact integers — and only the final division
    happens in DOUBLE, on identical operands, so the floats agree
    bit-for-bit. Degenerate users (single event / single second) are
    filtered by den > 0 rather than a sentinel because a slope
    sentinel could collide with a legitimate value.

    Plan: the min-over-user window and the moment aggregate share the
    user_id partitioning — one shuffle; everything after the HAVING is
    per-user scalar arithmetic on a 150-row frame."""
    ev = tables.load_table(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id")
    base = ev.select(
        "user_id",
        F.expr(
            "CAST((unix_micros(ts) - min(unix_micros(ts)) OVER "
            "(PARTITION BY user_id)) div 1000000 AS BIGINT)"
        ).alias("x"),
        F.floor(F.col("value").cast("double") * F.lit(1000.0))
        .cast("long")
        .alias("y"),
    )
    # moments accumulate in DECIMAL(38,0) (HUGEINT in the oracle): the
    # per-row products and their sums exceed BIGINT well before the
    # cross terms do (x*y ~ 1e18 per DAY at 20x fixture density)
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    sums = (
        base.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(xd).cast("decimal(38,0)").alias("sx"),
            F.sum(yd).cast("decimal(38,0)").alias("sy"),
            F.sum(xd * F.col("x")).cast("decimal(38,0)").alias("sxx"),
            F.sum(xd * F.col("y")).cast("decimal(38,0)").alias("sxy"),
            F.sum(yd * F.col("y")).cast("decimal(38,0)").alias("syy"),
        )
        .filter(F.col("n") >= 2)
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = (d("n") * d("sxy") - d("sx") * d("sy")).cast("double")
    den = (d("n") * d("sxx") - d("sx") * d("sx")).cast("double")
    deny = (d("n") * d("syy") - d("sy") * d("sy")).cast("double")
    return (
        sums.withColumn("num_d", num)
        .withColumn("den_d", den)
        .withColumn("deny_d", deny)
        .filter(F.col("den_d") > 0)
        .select(
            "user_id",
            "n",
            (F.col("num_d") / F.col("den_d")).alias("slope_mu"),
            F.when(F.col("deny_d") == 0, F.lit(-1.0))
            .otherwise(
                (F.col("num_d") * F.col("num_d"))
                / (F.col("den_d") * F.col("deny_d"))
            )
            .alias("r2"),
        )
    )


@register(
    "acf_daily_value_lag7",
    oracle="""
    WITH daily AS (
      SELECT event_type, (epoch_us(ts) // 86400000000)::BIGINT AS day,
             sum(floor(value::DOUBLE * 1000.0)::BIGINT)::BIGINT AS s
      FROM events GROUP BY 1, 2
    ), lags AS (SELECT unnest(generate_series(1, 7))::BIGINT AS k),
    pairs AS (
      SELECT a.event_type, l.k, a.s AS x, b.s AS y
      FROM daily a CROSS JOIN lags l
      JOIN daily b ON b.event_type = a.event_type AND b.day = a.day + l.k
    ), m AS (
      SELECT event_type, k, count(*)::BIGINT AS n_pairs,
             sum(x::HUGEINT)::HUGEINT AS sx, sum(y::HUGEINT)::HUGEINT AS sy,
             sum(x::HUGEINT * y)::HUGEINT AS sxy,
             sum(x::HUGEINT * x)::HUGEINT AS sxx,
             sum(y::HUGEINT * y)::HUGEINT AS syy
      FROM pairs GROUP BY 1, 2
    )
    SELECT event_type, k AS lag, n_pairs,
      CASE WHEN (n_pairs::HUGEINT * sxx - sx::HUGEINT * sx) = 0
             OR (n_pairs::HUGEINT * syy - sy::HUGEINT * sy) = 0 THEN -2.0
           ELSE (n_pairs::HUGEINT * sxy - sx::HUGEINT * sy)::DOUBLE
                / sqrt((n_pairs::HUGEINT * sxx - sx::HUGEINT * sx)::DOUBLE
                       * (n_pairs::HUGEINT * syy - sy::HUGEINT * sy)::DOUBLE)
      END AS acf
    FROM m
    """,
    tags=("relational", "timeseries"),
)
def q_acf_daily_value_lag7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of each event type's daily value series at lags
    1..7 — the seasonality probe (a weekly cycle shows as a lag-7
    peak). Pearson r over day-aligned pairs (day, day+k), so missing
    days pair nothing instead of silently shifting the series the way
    a row-ordered lead() would.

    Exactness: daily sums are floor-scaled BIGINTs; the five pair
    moments are integer sums; cross terms go DECIMAL(38,0)/HUGEINT and
    only the final r (with its IEEE-correctly-rounded sqrt) is DOUBLE
    on identical operands. Degenerate variances report -2.0 (r is in
    [-1, 1], so the sentinel cannot collide).

    Plan: ONE events-sized aggregate (map-side combined) produces the
    types x days frame; everything after — the lag explode, the
    day-aligned self-join, the moment aggregate — runs on that tiny
    frame. At 100 TB the daily aggregate is still the only
    data-sized stage."""
    ev = tables.load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.expr("CAST(unix_micros(ts) div 86400000000 AS BIGINT)").alias("day"),
        )
        .agg(
            F.sum(
                F.floor(F.col("value").cast("double") * F.lit(1000.0)).cast("long")
            )
            .cast("long")
            .alias("s")
        )
        # both self-join sides read this types x days frame; pin ONE
        # materialization so the second side never re-scans events
        .localCheckpoint()
    )
    lags = F.explode(F.array(*[F.lit(i).cast("long") for i in range(1, 8)])).alias("k")
    a = daily.select("event_type", "day", F.col("s").alias("x"), lags)
    b = daily.select(
        F.col("event_type").alias("b_type"),
        F.col("day").alias("b_day"),
        F.col("s").alias("y"),
    )
    pairs = a.join(
        b,
        (F.col("b_type") == F.col("event_type"))
        & (F.col("b_day") == F.col("day") + F.col("k")),
    )
    # DECIMAL(38,0) moments (HUGEINT oracle): x*y overflows BIGINT once
    # daily sums pass ~3e9 (hit at 20x fixture density in scale_demo)
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    m = pairs.groupBy("event_type", "k").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(xd).cast("decimal(38,0)").alias("sx"),
        F.sum(yd).cast("decimal(38,0)").alias("sy"),
        F.sum(xd * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(xd * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(yd * F.col("y")).cast("decimal(38,0)").alias("syy"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = (d("n_pairs") * d("sxy") - d("sx") * d("sy")).cast("double")
    den_x = (d("n_pairs") * d("sxx") - d("sx") * d("sx")).cast("double")
    den_y = (d("n_pairs") * d("syy") - d("sy") * d("sy")).cast("double")
    return m.select(
        "event_type",
        F.col("k").alias("lag"),
        "n_pairs",
        F.when((den_x == 0) | (den_y == 0), F.lit(-2.0))
        .otherwise(num / F.sqrt(den_x * den_y))
        .alias("acf"),
    )


@register(
    "corr_matrix_event_types",
    oracle="""
    WITH daily AS (
      SELECT event_type, (epoch_us(ts) // 86400000000)::BIGINT AS day,
             sum(floor(value::DOUBLE * 1000.0)::BIGINT)::BIGINT AS s
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*)::BIGINT AS n_days,
             sum(a.s::HUGEINT)::HUGEINT AS sx, sum(b.s::HUGEINT)::HUGEINT AS sy,
             sum(a.s::HUGEINT * b.s)::HUGEINT AS sxy,
             sum(a.s::HUGEINT * a.s)::HUGEINT AS sxx,
             sum(b.s::HUGEINT * b.s)::HUGEINT AS syy
      FROM daily a JOIN daily b
        ON b.day = a.day AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_days,
      CASE WHEN (n_days::HUGEINT * sxx - sx::HUGEINT * sx) = 0
             OR (n_days::HUGEINT * syy - sy::HUGEINT * sy) = 0 THEN -2.0
           ELSE (n_days::HUGEINT * sxy - sx::HUGEINT * sy)::DOUBLE
                / sqrt((n_days::HUGEINT * sxx - sx::HUGEINT * sx)::DOUBLE
                       * (n_days::HUGEINT * syy - sy::HUGEINT * sy)::DOUBLE)
      END AS corr
    FROM m
    """,
    tags=("relational", "timeseries", "ml"),
)
def q_corr_matrix_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix between event types over their
    day-aligned daily value series (upper triangle, type_a < type_b) —
    the feature-correlation probe (do error days track purchase
    days?). Only days where BOTH types occur pair up, so a missing day
    drops the pair instead of silently misaligning the series.

    Exactness: the acf_daily_value_lag7 recipe — daily sums are
    floor-scaled BIGINTs, pair moments integer, cross terms
    DECIMAL(38,0)/HUGEINT, and only the final r (IEEE-correctly-rounded
    sqrt) is DOUBLE on identical operands. Degenerate variances report
    -2.0 (r is in [-1, 1], no collision).

    Plan: ONE events-sized aggregate (map-side combined,
    localCheckpoint-pinned) feeds a tiny types x days self-join; at
    100 TB the daily aggregate stays the only data-sized stage and the
    moment frame is |types|^2 rows."""
    ev = tables.load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.expr("CAST(unix_micros(ts) div 86400000000 AS BIGINT)").alias("day"),
        )
        .agg(
            F.sum(
                F.floor(F.col("value").cast("double") * F.lit(1000.0)).cast("long")
            )
            .cast("long")
            .alias("s")
        )
        .localCheckpoint()  # both self-join sides read this frame once
    )
    a = daily.select(
        F.col("event_type").alias("type_a"), "day", F.col("s").alias("x")
    )
    b = daily.select(
        F.col("event_type").alias("type_b"),
        F.col("day").alias("b_day"),
        F.col("s").alias("y"),
    )
    pairs = a.join(
        b,
        (F.col("b_day") == F.col("day")) & (F.col("type_a") < F.col("type_b")),
    )
    # DECIMAL(38,0) moments (HUGEINT oracle) — same overflow guard as
    # acf_daily_value_lag7; the 20x scale demo is what exposed it
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    m = pairs.groupBy("type_a", "type_b").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(xd).cast("decimal(38,0)").alias("sx"),
        F.sum(yd).cast("decimal(38,0)").alias("sy"),
        F.sum(xd * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(xd * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(yd * F.col("y")).cast("decimal(38,0)").alias("syy"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = (d("n_days") * d("sxy") - d("sx") * d("sy")).cast("double")
    den_x = (d("n_days") * d("sxx") - d("sx") * d("sx")).cast("double")
    den_y = (d("n_days") * d("syy") - d("sy") * d("sy")).cast("double")
    return m.select(
        "type_a",
        "type_b",
        "n_days",
        F.when((den_x == 0) | (den_y == 0), F.lit(-2.0))
        .otherwise(num / F.sqrt(den_x * den_y))
        .alias("corr"),
    )


@register(
    "skyline_parts",
    oracle="""
    SELECT p.p_partkey, p.p_retailprice AS price, p.p_size::BIGINT AS size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
    """,
    tags=("relational", "preference"),
)
def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) of parts: minimize retail price,
    maximize size — no other part is at-least-as-good on both and
    strictly better on one. The oracle is the naive NOT EXISTS
    dominance test; the Spark plan is the sort-based skyline that
    avoids the quadratic self-join entirely: one map-side-combined
    max-size-per-price aggregate, a running max over the tiny
    distinct-price frame (a price survives iff its best size beats
    every strictly-cheaper price's best), and a broadcast join back to
    recover the part rows. At a data-sized key domain the running max
    swaps onto ext/ranks range-partition ranking; equal (price, size)
    ties all survive, exactly as dominance defines."""
    part = tables.load_table(spark, sf_dir, "part")
    per_price = part.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").cast("long").alias("best_size")
    )
    w = Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
    sky_prices = (
        per_price.withColumn("prev_best", F.max("best_size").over(w))
        .filter(
            F.col("prev_best").isNull()
            | (F.col("best_size") > F.col("prev_best"))
        )
        .select("price", "best_size")
    )
    return part.join(
        F.broadcast(sky_prices),
        (F.col("p_retailprice") == F.col("price"))
        & (F.col("p_size") == F.col("best_size")),
    ).select("p_partkey", "price", F.col("p_size").cast("long").alias("size"))


@register(
    "drift_binned_ks_value",
    oracle="""
    WITH binned AS (
      SELECT event_type,
             least(greatest(floor(value::DOUBLE / 25.0)::BIGINT, 0), 19) AS bin,
             CASE WHEN epoch_us(ts) <  1705276800000000 THEN 1 ELSE 0 END AS in_a,
             CASE WHEN epoch_us(ts) >= 1705276800000000 THEN 1 ELSE 0 END AS in_b
      FROM events
      WHERE epoch_us(ts) >= 1704067200000000 AND epoch_us(ts) < 1706745600000000
        AND value IS NOT NULL
    ), per_bin AS (
      SELECT event_type, bin, sum(in_a)::BIGINT AS a, sum(in_b)::BIGINT AS b
      FROM binned GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, bin,
             sum(a) OVER (PARTITION BY event_type ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) AS ca,
             sum(b) OVER (PARTITION BY event_type ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) AS cb,
             sum(a) OVER (PARTITION BY event_type) AS na,
             sum(b) OVER (PARTITION BY event_type) AS nb
      FROM per_bin
    )
    SELECT event_type, max(na)::BIGINT AS n_a, max(nb)::BIGINT AS n_b,
           max(abs(CASE WHEN na = 0 THEN 0 ELSE (ca * 1000000) // na END
                   - CASE WHEN nb = 0 THEN 0 ELSE (cb * 1000000) // nb END)
              )::BIGINT AS ks_ppm
    FROM cum GROUP BY 1
    """,
    tags=("relational", "drift", "ml"),
)
def q_drift_binned_ks_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detection per event type: a binned
    Kolmogorov-Smirnov statistic between the first and second half of
    January (20 fixed 25-unit value bins; KS = max gap between the two
    binned CDFs, reported in ppm). The ML-monitoring primitive (did
    the value distribution shift between training and serving
    windows?) in pure integer arithmetic — cumulative counts and a
    ppm floordiv — so both engines agree bit-for-bit with no libm.

    Plan: ONE scan with both window memberships as conditional
    partial-aggregated sums; everything after (the CDF windows, the
    max) runs on the types x bins frame. Missing bins cannot move the
    max: the CDF pair at an absent bin equals the previous present
    bin's. At 100 TB the per-(type, bin) aggregate is still the only
    data-sized stage."""
    cut_lo, cut_mid, cut_hi = (
        1704067200000000,  # 2024-01-01
        1705276800000000,  # 2024-01-15
        1706745600000000,  # 2024-02-01
    )
    ev = tables.load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    # NULL measures excluded explicitly on both sides (the
    # rank_normalize_value convention): Spark's greatest/least skip
    # NULLs (binning a NULL row to 0) while DuckDB's NULL handling for
    # greatest/least has differed across versions.
    binned = ev.filter(
        (us >= cut_lo) & (us < cut_hi) & F.col("value").isNotNull()
    ).select(
        "event_type",
        F.least(
            F.greatest(F.floor(F.col("value").cast("double") / 25.0), F.lit(0)),
            F.lit(19),
        )
        .cast("long")
        .alias("bin"),
        F.when(us < cut_mid, 1).otherwise(0).alias("in_a"),
        F.when(us >= cut_mid, 1).otherwise(0).alias("in_b"),
    )
    per_bin = binned.groupBy("event_type", "bin").agg(
        F.sum("in_a").cast("long").alias("a"),
        F.sum("in_b").cast("long").alias("b"),
    )
    w_cdf = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("event_type")
    cum = per_bin.select(
        "event_type",
        F.sum("a").over(w_cdf).alias("ca"),
        F.sum("b").over(w_cdf).alias("cb"),
        F.sum("a").over(w_tot).alias("na"),
        F.sum("b").over(w_tot).alias("nb"),
    )
    ppm_a = F.when(F.col("na") == 0, F.lit(0)).otherwise(
        F.expr("(ca * 1000000) div na")
    )
    ppm_b = F.when(F.col("nb") == 0, F.lit(0)).otherwise(
        F.expr("(cb * 1000000) div nb")
    )
    return cum.withColumn("gap", F.abs(ppm_a - ppm_b)).groupBy("event_type").agg(
        F.max("na").cast("long").alias("n_a"),
        F.max("nb").cast("long").alias("n_b"),
        F.max("gap").cast("long").alias("ks_ppm"),
    )


# Morton / Z-order interleave of two 16-bit values via the classic
# 4-step spread masks.  Each step is materialized as its OWN projection
# level (a named column per step, not textual substitution), so every
# step's input is evaluated once — a purely textual expansion would
# embed 16 copies of each operand in the final expression and lean on
# common-subexpression elimination to avoid recomputing them.
_SPREAD_STEPS = ((8, 16711935), (4, 252645135), (2, 858993459), (1, 1431655765))


def _zorder_keyed_cte() -> str:
    """DuckDB: nested selects, one per spread step, exposing
    ``keyed(event_id, user_id, day, zkey)``."""
    q = """SELECT event_id, user_id,
             ((epoch_us(ts) // 86400000000))::BIGINT AS day,
             (user_id & 65535) AS u,
             ((epoch_us(ts) // 86400000000) & 65535) AS d
      FROM events"""
    for sh, mask in _SPREAD_STEPS:
        q = f"""SELECT event_id, user_id, day,
               ((u | (u << {sh})) & {mask}) AS u,
               ((d | (d << {sh})) & {mask}) AS d
        FROM ({q})"""
    return f"""keyed AS (
      SELECT event_id, user_id, day, (u | (d << 1))::BIGINT AS zkey
      FROM ({q}))"""


def _zorder_keyed(ev: DataFrame) -> DataFrame:
    """Spark: one withColumn pair per spread step — same stepwise
    shape as the oracle's nested selects."""
    keyed = ev.select(
        "event_id",
        "user_id",
        F.expr("CAST(unix_micros(ts) div 86400000000 AS BIGINT)").alias("day"),
        F.expr("user_id & 65535").alias("u"),
        F.expr("CAST(unix_micros(ts) div 86400000000 AS BIGINT) & 65535").alias("d"),
    )
    for sh, mask in _SPREAD_STEPS:
        keyed = keyed.withColumn(
            "u", F.expr(f"(u | shiftleft(u, {sh})) & {mask}")
        ).withColumn("d", F.expr(f"(d | shiftleft(d, {sh})) & {mask}"))
    return keyed.select(
        "event_id",
        "user_id",
        "day",
        F.expr("CAST(u | shiftleft(d, 1) AS BIGINT)").alias("zkey"),
    )


@register(
    "zorder_file_stats",
    oracle=f"""
    WITH {_zorder_keyed_cte()}, ranked AS (
      SELECT *, row_number() OVER (ORDER BY zkey, event_id) AS rk FROM keyed
    )
    SELECT ((rk - 1) // 1000)::BIGINT AS file_id, count(*)::BIGINT AS n_rows,
           min(user_id) AS min_user, max(user_id) AS max_user,
           min(day) AS min_day, max(day) AS max_day
    FROM ranked GROUP BY 1
    """,
    tags=("relational", "storage", "layout"),
)
def q_zorder_file_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order data-layout advisor: assign events to 1000-row target
    files in Morton-interleaved (user_id, day) order and report each
    file's key envelope (min/max user and day) — the min/max stats a
    format like Parquet keeps per file, i.e. exactly what data
    skipping prunes on. Narrow envelopes on BOTH dimensions are the
    point of z-ordering; a time-ordered layout would give each file
    the full user range.

    The interleave is pure integer mask arithmetic (identical in both
    engines); file assignment is a global row_number over (zkey,
    event_id) computed by ext/ranks range-partition ranking — the
    distributed sort a real table rewrite would run, never a
    single-reducer window."""
    from .ext.ranks import with_global_ranks

    ev = tables.load_table(spark, sf_dir, "events")
    keyed = _zorder_keyed(ev)
    ranked = with_global_ranks(keyed, ["zkey", "event_id"], "rk")
    return (
        ranked.withColumn("file_id", F.expr("CAST((rk - 1) div 1000 AS BIGINT)"))
        .groupBy("file_id")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("user_id").alias("min_user"),
            F.max("user_id").alias("max_user"),
            F.min("day").alias("min_day"),
            F.max("day").alias("max_day"),
        )
    )


@register(
    "event_ngram_next",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type, 3) OVER w AS t3,
             lag(event_type, 2) OVER w AS t2,
             lag(event_type, 1) OVER w AS t1
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), ctx AS (
      SELECT t3 || '>' || t2 || '>' || t1 AS context, event_type AS next_type
      FROM seq WHERE t3 IS NOT NULL AND t2 IS NOT NULL AND t1 IS NOT NULL
                AND event_type IS NOT NULL
    ), n AS (
      SELECT context, next_type, count(*)::BIGINT AS n FROM ctx GROUP BY 1, 2
    )
    SELECT context, next_type, n,
           ((n * 1000000) // sum(n) OVER (PARTITION BY context))::BIGINT AS p_ppm
    FROM n
    """,
    tags=("relational", "sequence", "ml"),
)
def q_event_ngram_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event prediction table — the (context, next) training-pair
    generator for sequence models, over per-user event streams: every
    length-3 type context with its successor, counted, with the
    conditional probability in ppm (integer floordiv, bit-exact).

    Plan: ONE user-keyed window (three lags share one sort/shuffle),
    then a map-side-combined count over the |types|^4-bounded
    (context, next) space; the per-context normalization window runs
    on that tiny aggregate. At 100 TB the lag window is the only
    data-sized stage and rides a single user_id exchange."""
    ev = tables.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type", 3).over(w).alias("t3"),
        F.lag("event_type", 2).over(w).alias("t2"),
        F.lag("event_type", 1).over(w).alias("t1"),
    ).filter(
        # all four legs non-null, not just t3: with NULL event_type
        # values Spark's concat_ws would silently skip the NULL leg
        # (malformed 2-part context) while the oracle's || propagates
        # NULL — guarding both sides keeps the engines aligned
        F.col("t3").isNotNull()
        & F.col("t2").isNotNull()
        & F.col("t1").isNotNull()
        & F.col("event_type").isNotNull()
    )
    n = (
        seq.select(
            F.concat_ws(">", "t3", "t2", "t1").alias("context"),
            F.col("event_type").alias("next_type"),
        )
        .groupBy("context", "next_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w_ctx = Window.partitionBy("context")
    return n.select(
        "context",
        "next_type",
        "n",
        F.expr("CAST((n * 1000000) div (sum(n) OVER (PARTITION BY context)) AS BIGINT)").alias(
            "p_ppm"
        ),
    )


@register(
    "referential_audit",
    oracle="""
    SELECT 'orphan_lineitem' AS check_name, count(*)::BIGINT AS n_violations
    FROM lineitem l WHERE NOT EXISTS (
      SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'childless_order', count(*)::BIGINT
    FROM orders o WHERE NOT EXISTS (
      SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    UNION ALL
    SELECT 'dup_event_id', count(*)::BIGINT FROM (
      SELECT event_id FROM events GROUP BY 1 HAVING count(*) > 1)
    UNION ALL
    SELECT 'null_or_negative_value', count(*)::BIGINT
    FROM events WHERE value IS NULL OR value < 0
    UNION ALL
    SELECT 'order_before_1992', count(*)::BIGINT
    FROM orders WHERE o_orderdate < TIMESTAMP '1992-01-01'
    """,
    tags=("relational", "quality"),
)
def q_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit suite — the checks a 100-TB ingest pipeline
    gates on, as ONE query returning (check_name, n_violations):
    orphaned fact rows (anti join on the order key), childless parents
    (reverse anti join), duplicate primary keys, null/negative
    measures, and out-of-range dates. Each check is an aggregate with
    its predicate pushed to the scan; the anti joins are key-pruned
    co-partitioned joins; the union is of five single-row frames."""
    li = tables.load_table(spark, sf_dir, "lineitem")
    o = tables.load_table(spark, sf_dir, "orders")
    ev = tables.load_table(spark, sf_dir, "events")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").cast("long").alias("n_violations")).select(
            F.lit(name).alias("check_name"), "n_violations"
        )

    orphan = one(
        "orphan_lineitem",
        li.select("l_orderkey").join(
            o.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_anti",
        ),
    )
    childless = one(
        "childless_order",
        o.select("o_orderkey").join(
            li.select("l_orderkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left_anti",
        ),
    )
    dups = one(
        "dup_event_id",
        ev.groupBy("event_id")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1),
    )
    badval = one(
        "null_or_negative_value",
        ev.filter(F.col("value").isNull() | (F.col("value") < 0)),
    )
    # o_orderdate is TIMESTAMP_NTZ: NTZ-to-NTZ literal comparison is
    # timezone-proof (the semi_late_orders convention)
    old = one(
        "order_before_1992",
        o.filter(F.col("o_orderdate") < F.lit("1992-01-01").cast("timestamp_ntz")),
    )
    return orphan.union(childless).union(dups).union(badval).union(old)


@register(
    "twap_user_value",
    oracle="""
    WITH seq AS (
      SELECT user_id, floor(value::DOUBLE * 1000.0)::BIGINT AS vm,
             epoch_us(ts) AS us,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_us
      FROM events
    ), w AS (
      SELECT user_id, vm, (next_us - us)::BIGINT AS dur
      FROM seq WHERE next_us IS NOT NULL
    )
    SELECT user_id, count(*)::BIGINT AS n_intervals,
           sum(dur)::BIGINT AS total_us,
           (sum(vm::HUGEINT * dur)::DOUBLE / sum(dur::HUGEINT)::DOUBLE) AS twap_milli
    FROM w GROUP BY 1 HAVING sum(dur) > 0
    """,
    tags=("relational", "timeseries"),
)
def q_twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP) — each observation
    weighted by how long it was the user's current value, the standard
    correction when sampling is irregular (a mean over raw rows
    overweights bursts). Weights are exact integer microsecond
    durations from ONE user-keyed lead window; the weighted sum
    accumulates in DECIMAL(38,0)/HUGEINT and only the final division
    is DOUBLE on identical operands. Zero-duration-only users drop via
    HAVING (a TWAP sentinel could collide with a real value)."""
    ev = tables.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.floor(F.col("value").cast("double") * F.lit(1000.0))
        .cast("long")
        .alias("vm"),
        F.unix_micros("ts").alias("us"),
        F.lead(F.unix_micros("ts")).over(w).alias("next_us"),
    ).filter(F.col("next_us").isNotNull())
    dur = (F.col("next_us") - F.col("us")).cast("long")
    agg = seq.select("user_id", "vm", dur.alias("dur")).groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_intervals"),
        F.sum("dur").cast("long").alias("total_us"),
        F.sum(F.col("vm").cast("decimal(38,0)") * F.col("dur"))
        .cast("decimal(38,0)")
        .alias("num"),
        F.sum(F.col("dur").cast("decimal(38,0)")).cast("decimal(38,0)").alias("den"),
    )
    return agg.filter(F.col("total_us") > 0).select(
        "user_id",
        "n_intervals",
        "total_us",
        (F.col("num").cast("double") / F.col("den").cast("double")).alias(
            "twap_milli"
        ),
    )


@register(
    "rank_normalize_value",
    oracle="""
    WITH ranked AS (
      SELECT event_id, value,
             row_number() OVER (ORDER BY value, event_id) AS rank,
             count(*) OVER () AS n
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_id, value, rank::BIGINT AS rank,
           CASE WHEN n = 1 THEN 0
                ELSE ((rank - 1) * 1000000) // (n - 1) END::BIGINT AS q_ppm
    FROM ranked
    """,
    tags=("relational", "ml", "normalize"),
)
def q_rank_normalize_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank normalization (quantile transform) of the value column —
    the feature-preprocessing map to a uniform [0, 1e6] ppm scale that
    is robust to outliers where min-max scaling is not. The global
    rank comes from ext/ranks range-partition ranking over (value,
    event_id) — the distributed sort, never a single-reducer window —
    and the normalizer is an integer floordiv against the broadcast
    row count."""
    from .ext.ranks import with_global_ranks

    # NULL measures are excluded explicitly on BOTH sides: Spark ranks
    # NULLs first ascending, DuckDB last — an unpinned NULL would shift
    # every rank by one between engines
    ev = (
        tables.load_table(spark, sf_dir, "events")
        .select("event_id", "value")
        .filter(F.col("value").isNotNull())
    )
    # n rides the ranking's broadcast offsets frame (count_col)
    # instead of a second aggregate pass over `ranked` (round 16)
    ranked = with_global_ranks(ev, ["value", "event_id"], "rank", count_col="n")
    return ranked.select(
        "event_id",
        "value",
        F.col("rank").cast("long").alias("rank"),
        F.when(F.col("n") == 1, F.lit(0))
        .otherwise(F.expr("((rank - 1) * 1000000) div (n - 1)"))
        .cast("long")
        .alias("q_ppm"),
    )


@register(
    "attribution_linear",
    oracle="""
    WITH u AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    j AS (
      SELECT *,
             coalesce(sum(is_p) OVER (PARTITION BY user_id
                                      ORDER BY ts, is_p, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND 1 PRECEDING), 0)::BIGINT
               AS journey
      FROM u
    ),
    v AS (
      SELECT user_id, journey, event_id AS view_id,
             row_number() OVER (PARTITION BY user_id, journey
                                ORDER BY ts, event_id) AS vrk,
             count(*) OVER (PARTITION BY user_id, journey)::BIGINT AS n_views
      FROM j WHERE is_p = 0
    ),
    p AS (
      SELECT user_id, journey, event_id AS purchase_id
      FROM j WHERE is_p = 1
    )
    SELECT p.purchase_id, v.view_id,
           (1000000 // v.n_views
            + CASE WHEN v.vrk = 1 THEN 1000000 % v.n_views ELSE 0 END)::BIGINT
             AS credit_ppm
    FROM p JOIN v ON v.user_id = p.user_id AND v.journey = p.journey
    """,
    tags=("relational", "window", "attribution"),
)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-credit) multi-touch attribution — the complement
    of first-touch and last-touch (as-of): each purchase's 1,000,000
    ppm of credit splits equally across ALL views of its journey, the
    floordiv remainder going to the earliest view so every purchase's
    credits sum to exactly 1e6 (integer-exact on both engines).
    Journeys and tie-breaks follow attribution_first_touch's
    convention (running count of strictly-prior purchases; views
    order before same-timestamp purchases).

    Scale: the journey window, the per-journey view rank/count, and
    the purchase-to-views join are all user-key-rooted — one user_id
    shuffle plus a (user, journey) refinement; no fact-table join."""
    ev = tables.load_table(spark, sf_dir, "events")
    u = ev.filter(F.col("event_type").isin("view", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_p"),
    )
    w_j = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    j = u.withColumn(
        "journey", F.coalesce(F.sum("is_p").over(w_j), F.lit(0)).cast("long")
    )
    w_v = Window.partitionBy("user_id", "journey").orderBy("ts", "event_id")
    w_n = Window.partitionBy("user_id", "journey")
    v = (
        j.filter(F.col("is_p") == 0)
        .select(
            "user_id",
            "journey",
            F.col("event_id").alias("view_id"),
            F.row_number().over(w_v).alias("vrk"),
            F.count("*").over(w_n).cast("long").alias("n_views"),
        )
    )
    p = j.filter(F.col("is_p") == 1).select(
        "user_id", "journey", F.col("event_id").alias("purchase_id")
    )
    return p.join(v, ["user_id", "journey"]).select(
        "purchase_id",
        "view_id",
        (
            F.expr("CAST(1000000 div n_views AS BIGINT)")
            + F.when(F.col("vrk") == 1, F.expr("1000000 % n_views")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("credit_ppm"),
    )


@register(
    "ab_test_value_by_variant",
    oracle="""
    WITH v AS (
      SELECT floor(value::DOUBLE * 1000.0)::BIGINT AS y,
             ('0x'||substr(md5('ab:'||user_id::VARCHAR),1,15))::UBIGINT::BIGINT % 2
               AS variant
      FROM events
    ), m AS (
      SELECT count(*) FILTER (variant = 0)::BIGINT AS n0,
             count(*) FILTER (variant = 1)::BIGINT AS n1,
             sum(y::HUGEINT) FILTER (variant = 0)::HUGEINT AS s0,
             sum(y::HUGEINT) FILTER (variant = 1)::HUGEINT AS s1,
             sum(y::HUGEINT * y) FILTER (variant = 0)::HUGEINT AS q0,
             sum(y::HUGEINT * y) FILTER (variant = 1)::HUGEINT AS q1
      FROM v
    )
    SELECT n0 AS n_control, n1 AS n_treatment,
           s0::DOUBLE / n0 AS mean_control_milli,
           s1::DOUBLE / n1 AS mean_treatment_milli,
           (s1::DOUBLE / n1 - s0::DOUBLE / n0)
             / sqrt((n0::HUGEINT * q0 - s0 * s0)::DOUBLE
                      / (n0::DOUBLE * n0 * (n0 - 1))
                    + (n1::HUGEINT * q1 - s1 * s1)::DOUBLE
                      / (n1::DOUBLE * n1 * (n1 - 1))) AS t_stat
    FROM m
    """,
    tags=("relational", "experiment", "ml"),
)
def q_ab_test_value_by_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users hash deterministically into
    control/treatment (the md5 lottery — reproducible assignment, the
    same property the samplers rely on) and the value metric gets a
    Welch t statistic from exact integer moments: milli-scaled sums
    and squared sums per variant accumulate in HUGEINT/DECIMAL(38,0),
    and the mean/variance/t arithmetic is IEEE double on identical
    operands — bit-exact with no libm beyond the correctly-rounded
    sqrt.

    Plan: ONE scan, variant computed scan-side, a single conditional
    aggregate to one row — no join, no shuffle beyond the final
    single-partition combine of six partials."""
    from .ext.hashing import h60

    ev = tables.load_table(spark, sf_dir, "events")
    v = ev.select(
        F.floor(F.col("value").cast("double") * F.lit(1000.0))
        .cast("long")
        .alias("y"),
        (h60(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))) % 2).alias(
            "variant"
        ),
    )
    yd = F.col("y").cast("decimal(38,0)")
    is0 = F.col("variant") == 0
    is1 = F.col("variant") == 1
    m = v.agg(
        F.count(F.when(is0, 1)).cast("long").alias("n0"),
        F.count(F.when(is1, 1)).cast("long").alias("n1"),
        F.sum(F.when(is0, yd)).cast("decimal(38,0)").alias("s0"),
        F.sum(F.when(is1, yd)).cast("decimal(38,0)").alias("s1"),
        F.sum(F.when(is0, yd * F.col("y"))).cast("decimal(38,0)").alias("q0"),
        F.sum(F.when(is1, yd * F.col("y"))).cast("decimal(38,0)").alias("q1"),
    )
    n0d = F.col("n0").cast("double")
    n1d = F.col("n1").cast("double")
    mean0 = F.col("s0").cast("double") / n0d
    mean1 = F.col("s1").cast("double") / n1d
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    var0 = (d("n0") * F.col("q0") - F.col("s0") * F.col("s0")).cast("double") / (
        n0d * n0d * (n0d - 1)
    )
    var1 = (d("n1") * F.col("q1") - F.col("s1") * F.col("s1")).cast("double") / (
        n1d * n1d * (n1d - 1)
    )
    return m.select(
        F.col("n0").alias("n_control"),
        F.col("n1").alias("n_treatment"),
        mean0.alias("mean_control_milli"),
        mean1.alias("mean_treatment_milli"),
        ((mean1 - mean0) / F.sqrt(var0 + var1)).alias("t_stat"),
    )


@register(
    "survival_km_error",
    oracle="""
    WITH RECURSIVE perr AS (
      SELECT user_id,
             min(epoch_us(ts) // 86400000000) AS birth,
             min(CASE WHEN event_type = 'error'
                      THEN epoch_us(ts) // 86400000000 END) AS death,
             max(epoch_us(ts) // 86400000000) AS last
      FROM events GROUP BY 1
    ), subj AS (
      SELECT user_id,
             (coalesce(death, last) - birth)::BIGINT AS dur,
             CASE WHEN death IS NULL THEN 0 ELSE 1 END AS is_death
      FROM perr
    ), tot AS (SELECT count(*)::BIGINT AS n FROM subj),
    exits AS (
      SELECT dur, sum(is_death)::BIGINT AS d, count(*)::BIGINT AS x
      FROM subj GROUP BY 1
    ), risk AS (
      SELECT dur, d,
             ((SELECT n FROM tot)
              - coalesce(sum(x) OVER (ORDER BY dur
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND 1 PRECEDING), 0))::BIGINT
               AS n_at_risk
      FROM exits
    ), steps AS (
      SELECT row_number() OVER (ORDER BY dur) AS idx, dur, n_at_risk, d
      FROM risk WHERE d > 0
    ),
    km(idx, day, n, d, s) AS (
      SELECT idx, dur, n_at_risk, d,
             (1000000 * (n_at_risk - d)) // n_at_risk
      FROM steps WHERE idx = 1
      UNION ALL
      SELECT s.idx, s.dur, s.n_at_risk, s.d,
             (km.s * (s.n_at_risk - s.d)) // s.n_at_risk
      FROM km JOIN steps s ON s.idx = km.idx + 1
    )
    SELECT day, n AS n_at_risk, d AS n_deaths, s AS s_ppm FROM km
    """,
    tags=("relational", "survival", "ml"),
)
def q_survival_km_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival analysis — time from each user's first
    event to their first 'error' (users with no error are right-
    censored at their last event). One row per event day: subjects at
    risk, deaths, and the KM survival estimate in ppm.

    Exactness through a PRODUCT recurrence: S_k = S_{k-1} * (n_k -
    d_k) div n_k in integer ppm — the float product would accumulate
    engine-divergent rounding, the integer floordiv recurrence cannot.
    Spark folds the day table with ``aggregate`` over a struct-array
    accumulator (the day table is |distinct event days| rows); the
    oracle runs the identical recurrence as a recursive CTE.

    Plan: the ONLY data-sized stage is the per-user min/max aggregate
    (map-side combined on user_id); the risk window, the step rank,
    and the fold all run on the <=|days| frame."""
    ev = tables.load_table(spark, sf_dir, "events")
    day = F.expr("CAST(unix_micros(ts) div 86400000000 AS BIGINT)")
    perr = ev.groupBy("user_id").agg(
        F.min(day).alias("birth"),
        F.min(F.when(F.col("event_type") == "error", day)).alias("death"),
        F.max(day).alias("last"),
    )
    subj = perr.select(
        (F.coalesce("death", "last") - F.col("birth")).cast("long").alias("dur"),
        F.when(F.col("death").isNull(), 0).otherwise(1).alias("is_death"),
    ).localCheckpoint()  # consumed by the total AND the exits aggregate
    tot = subj.agg(F.count("*").cast("long").alias("n_total"))
    exits = subj.groupBy("dur").agg(
        F.sum("is_death").cast("long").alias("d"),
        F.count("*").cast("long").alias("x"),
    )
    w_prior = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    risk = (
        exits.crossJoin(F.broadcast(tot))
        .withColumn(
            "n_at_risk",
            (
                F.col("n_total")
                - F.coalesce(F.sum("x").over(w_prior), F.lit(0))
            ).cast("long"),
        )
        .filter(F.col("d") > 0)
        .select("dur", "n_at_risk", "d")
    )
    folded = risk.agg(
        F.expr(
            """
            aggregate(
              array_sort(collect_list(struct(dur, n_at_risk, d))),
              CAST(array() AS ARRAY<STRUCT<day: BIGINT, n: BIGINT,
                                           d: BIGINT, s: BIGINT>>),
              (acc, x) -> array_append(acc, named_struct(
                'day', x.dur, 'n', x.n_at_risk, 'd', x.d,
                's', (CASE WHEN size(acc) = 0 THEN CAST(1000000 AS BIGINT)
                           ELSE element_at(acc, -1).s END
                      * (x.n_at_risk - x.d)) div x.n_at_risk)))
            """
        ).alias("km")
    )
    return folded.select(F.explode("km").alias("r")).select(
        F.col("r.day").alias("day"),
        F.col("r.n").alias("n_at_risk"),
        F.col("r.d").alias("n_deaths"),
        F.col("r.s").alias("s_ppm"),
    )


@register(
    "backtest_seasonal_naive",
    oracle="""
    WITH daily AS (
      SELECT event_type, (epoch_us(ts) // 86400000000)::BIGINT AS day,
             sum(floor(value::DOUBLE * 1000.0)::BIGINT)::BIGINT AS s
      FROM events GROUP BY 1, 2
    ), scored AS (
      SELECT a.event_type, a.s AS actual, b.s AS forecast
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.day = a.day - 7
    )
    SELECT event_type, count(*)::BIGINT AS n_scored,
           (sum(abs(actual - forecast)::HUGEINT)::DOUBLE / count(*))
             AS mae_milli,
           CASE WHEN sum(abs(actual)::HUGEINT) = 0 THEN -1
                ELSE (sum(abs(actual - forecast)::HUGEINT) * 1000000
                      // sum(abs(actual)::HUGEINT)) END::BIGINT AS wape_ppm
    FROM scored GROUP BY 1
    """,
    tags=("relational", "timeseries", "forecast"),
)
def q_backtest_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtesting: score the seasonal-naive model (predict
    each day's value with the same weekday last week) per event type —
    MAE in exact milli-units and WAPE in integer ppm, the two metrics
    every demand-forecast evaluation starts from. A day pairs with
    day-7 by VALUE (day-aligned join), so gaps score nothing instead
    of shifting the series.

    Plan: the acf recipe — ONE map-side-combined daily aggregate
    (localCheckpoint-pinned), then the self-join and metric arithmetic
    on the types x days frame; errors accumulate in HUGEINT/
    DECIMAL(38,0) and only the final MAE division is DOUBLE on
    identical operands."""
    ev = tables.load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.expr("CAST(unix_micros(ts) div 86400000000 AS BIGINT)").alias("day"),
        )
        .agg(
            F.sum(
                F.floor(F.col("value").cast("double") * F.lit(1000.0)).cast("long")
            )
            .cast("long")
            .alias("s")
        )
        .localCheckpoint()  # both self-join sides read this frame
    )
    a = daily.select("event_type", "day", F.col("s").alias("actual"))
    b = daily.select(
        F.col("event_type").alias("b_type"),
        F.col("day").alias("b_day"),
        F.col("s").alias("forecast"),
    )
    scored = a.join(
        b,
        (F.col("b_type") == F.col("event_type"))
        & (F.col("b_day") == F.col("day") - 7),
    )
    err = F.abs(F.col("actual") - F.col("forecast")).cast("decimal(38,0)")
    act = F.abs(F.col("actual")).cast("decimal(38,0)")
    m = scored.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_scored"),
        F.sum(err).cast("decimal(38,0)").alias("sae"),
        F.sum(act).cast("decimal(38,0)").alias("sact"),
    )
    # a group whose actuals all floor to zero must report the -1
    # sentinel, not crash: ANSI Spark throws DIVIDE_BY_ZERO where
    # DuckDB's // returns NULL — the crash-vs-NULL divergence class
    return m.select(
        "event_type",
        "n_scored",
        (F.col("sae").cast("double") / F.col("n_scored")).alias("mae_milli"),
        F.when(F.col("sact") == 0, F.lit(-1))
        .otherwise(F.expr("(sae * 1000000) div sact"))
        .cast("long")
        .alias("wape_ppm"),
    )


@register(
    "theilsen_slope_per_user",
    oracle="""
    WITH daily AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day,
             sum(floor(value::DOUBLE * 1000.0)::BIGINT)::BIGINT AS y
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.user_id,
             (b.y - a.y)::DOUBLE / (b.day - a.day)::DOUBLE AS slope,
             a.day AS da, b.day AS db
      FROM daily a JOIN daily b
        ON b.user_id = a.user_id AND a.day < b.day
    ),
    ranked AS (
      SELECT user_id, slope,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY slope, da, db) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_pairs
      FROM pairs
    )
    SELECT user_id, n_pairs::BIGINT AS n_pairs,
           round(slope, 6) AS ts_slope
    FROM ranked WHERE rn = (n_pairs + 1) // 2
    """,
    tags=("relational", "timeseries", "ml"),
)
def q_theilsen_slope_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per user — the median of all pairwise
    slopes over (day, daily value sum) points: up to ~29% of a user's
    days can be arbitrarily corrupted before the estimate moves
    (breakdown point 0.293), where trend_slope_per_user's OLS line
    chases a single bad day.  The median is the LOWER median at rank
    (n+1) div 2 under the total order (slope, day_a, day_b) — an exact
    element pick, never an interpolated midpoint, so no float
    averaging exists to diverge between engines (the
    spark_percentile_select 1-ULP class is avoided by construction);
    each slope is ONE double division of exact BIGINT deltas.

    Plan/scale: the daily rollup and the pair self-join share the
    user_id key (co-partitioned equi-join, never a cross join); the
    pairwise stage is per-user-day-count quadratic — bounded by the
    ~30-day fixture window per user at any corpus size (days per user
    is a calendar constant, not a data-volume variable) — and the
    median window sorts only each user's own pairs."""
    return theilsen_slope(tables.load_table(spark, sf_dir, "events"))


def theilsen_slope(ev: DataFrame) -> DataFrame:
    """The Theil-Sen body over any (user_id, ts, value) frame —
    split out so property tests can feed synthetic users (see
    q_theilsen_slope_per_user for semantics and scale notes)."""
    daily = (
        ev.select(
            "user_id",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            F.floor(F.col("value").cast("double") * F.lit(1000.0))
            .cast("long")
            .alias("ym"),
        )
        .groupBy("user_id", "day")
        .agg(F.sum("ym").cast("long").alias("y"))
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("a.day") < F.col("b.day"))
        .select(
            "user_id",
            (
                (F.col("b.y") - F.col("a.y")).cast("double")
                / (F.col("b.day") - F.col("a.day")).cast("double")
            ).alias("slope"),
            F.col("a.day").alias("da"),
            F.col("b.day").alias("db"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("slope", "da", "db")
    wc = Window.partitionBy("user_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .withColumn("n_pairs", F.count("*").over(wc))
        .filter(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
        .select(
            "user_id",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.round("slope", 6).alias("ts_slope"),
        )
    )
