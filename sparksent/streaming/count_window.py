"""Streaming count windows — the one operator Structured Streaming lacks
(SURVEY.md §2.6.4, hard-part #1).

``countWindow(N).sum`` (SentimentAnalysis.scala:308-310): per key, every
N observations form a window; emit the window's sum when the N-th
arrives, then reset. Flink gives this via count-trigger window state; in
Spark it is an :func:`ordered_fold` (``applyInPandasWithState``) with
per-key (bucket_index, running_count, running_sum):

- state is keyed by a HASH GROUP of keys, ``pmod(xxhash64(key),
  N_GROUPS)``, not by key. One state row per group holds parallel
  per-key arrays ``keys``, ``bucket``, ``cnt``, ``acc`` (plus ``cum`` for
  the literal form). The framework's fixed cost — Arrow slice, pandas
  build, state pickle — is paid per group per trigger, so keying by user
  paid it ~1,500 times per 2,000-line trigger and dominated the Python
  worker CPU of the streaming topology; with 32 groups it is paid at
  most 32 times. The trade-off: a touched group rewrites the state of
  all its keys, so per-trigger state bytes grow with the distinct keys
  seen, not with the keys in the batch;
- ``N_GROUPS`` is fixed, not a parameter: a key's group must be the same
  at every restart, or its restored state is silently lost. For the same
  reason checkpoints written by the per-key layout of earlier versions
  cannot be restored (the state schema differs);
- rows of each micro-batch group are processed in ``order_cols`` order
  (:func:`ordered_fold`); walking the sorted rows with a dict of per-key
  state gives each key its rows in ``order_cols`` order, with the same
  sequential double arithmetic as a per-key function;
- whenever a key's running_count reaches N the operator emits one
  output row and resets that key — so emission is per completed window,
  exactly the reference's semantics (not per trigger);
- a NULL key is one key like any other (as in ``groupBy``).

``streaming_toxicity_literal`` fuses the reference's LITERAL toxicity
wiring (SA.scala:194-213) into ONE stateful operator: toxicUser /
toxicChannel consume userMoodStream's cumulative per-record emissions,
so the count window sums *running* per-key totals, not raw moods.
Chaining ``streaming_cumulative_per_record`` into
``streaming_count_window`` would be two arbitrary stateful operators in
one query — unsupported by Structured Streaming — so the fused operator
keeps (cumulative_acc, bucket, count, window_acc) in one state row.

The per-key operators below (cumulative, transitions, EWMA, rolling
window, SCD2, n-gram, space-saving) are ordered folds keyed by the key
column itself: each is a pure ``step(key, state, pdf) -> (state,
out_pdf)`` over its key's rows in ``order_cols`` order.

All output/state schemas are derived from the input DataFrame's actual
key/order column names and types — callers with non-default ``key_col``
/ ``order_cols`` get correctly-named, correctly-typed outputs.
"""

from __future__ import annotations

import math
from collections import deque
from collections.abc import Callable, Iterator, Sequence
from decimal import ROUND_HALF_UP, Decimal
from itertools import groupby

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T


def _field(df: DataFrame, name: str) -> T.StructField:
    return T.StructField(name, df.schema[name].dataType)


def ordered_fold(
    df: DataFrame,
    group_col: str,
    order_cols: Sequence[str],
    out_schema: T.StructType,
    state_schema: T.StructType,
    init: tuple,
    step: Callable[[tuple, tuple, pd.DataFrame], tuple[tuple, pd.DataFrame | None]],
    mode: str = "append",
) -> DataFrame:
    """Fold each ``group_col`` group's rows through ``step(key, state,
    pdf) -> (state, out_pdf)`` in ``order_cols`` order, with the state
    carried across micro-batches — the arbitrary stateful operator
    (``applyInPandasWithState``, no timeout) behind every ordered
    per-group operator of this package:

    - ``state`` is the group's stored state tuple, or ``init`` for a
      group seen for the first time;
    - the group's non-empty Arrow chunks are CONCATENATED before a
      stable sort on ``order_cols`` (a group can span multiple chunks
      within one micro-batch, and per-chunk sorting would process
      cross-chunk rows in arrival order). Cross-batch order = arrival
      order, same contract as the batch forms' order_cols. The concat
      holds one group's one-batch rows in memory, bounded by the
      micro-batch size;
    - the state ``step`` returns is stored on every call; ``out_pdf`` is
      emitted only when it is non-empty (a step with nothing to emit may
      return ``None`` and skip building an empty frame).
    """
    order = list(order_cols)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], group_state: GroupState
    ) -> Iterator[pd.DataFrame]:
        state = group_state.get if group_state.exists else init
        out = None
        chunks = [c for c in pdfs if len(c)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(order, kind="stable")
            state, out = step(key, state, pdf)
        group_state.update(state)
        if out is not None and len(out):
            yield out

    return df.groupBy(group_col).applyInPandasWithState(
        fn, out_schema, state_schema, mode, GroupStateTimeout.NoTimeout
    )


def _per_record_out(
    pdf: pd.DataFrame, key_col: str, order_cols: Sequence[str], cols: dict,
    mask=slice(None),
) -> pd.DataFrame:
    """A per-record operator's emitted frame: the ``mask``-ed rows' key,
    then ``cols``, then the order columns ``cols`` does not carry."""
    out = {key_col: pdf[key_col].to_numpy()[mask], **cols}
    for c in order_cols:
        out.setdefault(c, pdf[c].to_numpy()[mask])
    return pd.DataFrame(out)


# Hash groups per count-window operator. Changing this value re-routes
# keys to other groups: a restored checkpoint would then start every
# moved key from empty state while its old entry sits unread in another
# group — silent loss, not an error. Keep it fixed for a checkpoint's
# lifetime.
N_GROUPS = 32
GROUP_COL = "__cw_group"
NULL_COL = "__cw_key_is_null"


def _by_hash_group(df: DataFrame, n: int, value_col: str, key_col: str,
                   order_cols: Sequence[str], cumulative: bool) -> DataFrame:
    """Count-window emitter over hash groups of keys. With
    ``cumulative=True`` each arriving value first advances a per-key
    running total and the window sums those running totals (the literal
    SA.scala:201-213 wiring)."""
    out_schema = T.StructType(
        [
            _field(df, key_col),
            T.StructField("bucket", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("n", T.LongType()),
        ]
    )
    arrays = [
        ("keys", df.schema[key_col].dataType),
        ("bucket", T.LongType()),
        ("cnt", T.LongType()),
        ("acc", T.DoubleType()),
    ] + ([("cum", T.DoubleType())] if cumulative else [])
    state_schema = T.StructType(
        [T.StructField(name, T.ArrayType(t)) for name, t in arrays]
    )
    key_type = df.schema[key_col].dataType
    key = F.col(key_col)
    if isinstance(key_type, T.IntegralType):
        # a NULL would make pandas widen the group's key column to float,
        # which is inexact above 2**53; NULL_COL carries the NULL instead
        key = F.coalesce(key, F.lit(0).cast(key_type))
    others = [c for c in dict.fromkeys([value_col, *order_cols]) if c != key_col]
    keyed = df.select(
        key.alias(key_col),
        *others,
        F.isnull(key_col).alias(NULL_COL),
        F.pmod(F.xxhash64(key_col), F.lit(N_GROUPS)).alias(GROUP_COL),
    )

    def step(group: tuple, state: tuple, pdf: pd.DataFrame):
        # per key: [bucket, cnt, acc] (+ cum)
        per_key = {k: list(s) for k, *s in zip(*state)}
        out: list[tuple] = []
        keys = [
            None if null else k
            for k, null in zip(pdf[key_col].tolist(), pdf[NULL_COL].tolist())
        ]
        for k, v in zip(keys, pdf[value_col].to_numpy()):
            st = per_key.get(k)
            if st is None:
                st = per_key[k] = [0, 0, 0.0, 0.0] if cumulative else [0, 0, 0.0]
            if cumulative:
                st[3] += float(v)
                st[2] += st[3]
            else:
                st[2] += float(v)
            st[1] += 1
            if st[1] == n:
                out.append((k, st[0], st[2], st[1]))
                st[0], st[1], st[2] = st[0] + 1, 0, 0.0
        state = (
            list(per_key),
            *([st[i] for st in per_key.values()] for i in range(len(arrays) - 1)),
        )
        if not out:
            return state, None
        return state, pd.DataFrame(out, columns=[key_col, "bucket", "value", "n"])

    return ordered_fold(
        keyed, GROUP_COL, order_cols, out_schema, state_schema,
        ((),) * len(arrays), step,
    )


def streaming_count_window(
    df: DataFrame,
    n: int,
    value_col: str = "value",
    key_col: str = "key",
    order_cols: Sequence[str] = ("ts", "event_id"),
) -> DataFrame:
    """Keyed streaming count window: emits (key, bucket, value=sum, n=N)
    once per completed window of n rows. Run with outputMode('append').

    Note: float accumulation here is sequential per key (single writer),
    so it is deterministic for a fixed replay order — the equivalence
    tests compare against the batch bucketing form restricted to
    complete buckets."""
    return _by_hash_group(df, n, value_col, key_col, order_cols, cumulative=False)


def streaming_toxicity_literal(
    df: DataFrame,
    n: int,
    threshold: float,
    value_col: str = "value",
    key_col: str = "key",
    order_cols: Sequence[str] = ("ts", "event_id"),
) -> DataFrame:
    """The reference's literal toxicity chain in one stateful operator:
    per-key cumulative running sum (userMoodStream, SA.scala:285) fed
    into a count window of ``n`` emissions (buildToxicityStream,
    SA.scala:304-311), then the <= threshold alert filter."""
    windows = _by_hash_group(df, n, value_col, key_col, order_cols, cumulative=True)
    return windows.filter(F.col("value") <= F.lit(threshold))


def streaming_cumulative_per_record(
    df: DataFrame,
    value_col: str = "value",
    key_col: str = "key",
    order_cols: Sequence[str] = ("ts", "event_id"),
) -> DataFrame:
    """The reference's running keyed reduce at its EXACT emission
    granularity — one output row per input record carrying the
    cumulative per-key value (SentimentAnalysis.scala:285 emits per
    arriving element; the groupBy/update-mode form only emits per
    trigger). applyInPandasWithState holds one double per key; rows
    within a micro-batch process in ``order_cols`` order, matching the
    batch cumulative window's ordering contract."""
    out_schema = T.StructType(
        [_field(df, key_col), T.StructField("value", T.DoubleType())]
        + [_field(df, c) for c in order_cols]
    )
    state_schema = T.StructType([T.StructField("acc", T.DoubleType())])

    def step(key: tuple, state: tuple, pdf: pd.DataFrame):
        (acc,) = state
        out = pdf[value_col].to_numpy().cumsum() + acc
        return (float(out[-1]),), _per_record_out(
            pdf, key_col, order_cols, {"value": out}
        )

    return ordered_fold(
        df, key_col, order_cols, out_schema, state_schema, (0.0,), step
    )


def streaming_transitions_per_record(
    df: DataFrame,
    type_col: str = "event_type",
    key_col: str = "user_id",
    order_cols: Sequence[str] = ("ts", "event_id"),
) -> DataFrame:
    """Streaming form of the batch lag window behind
    ``event_transition_matrix``: one output row per record (after each
    key's first) carrying (prev_type, next_type), with ONE string of
    state per key — the classic per-key last-value carry that Structured
    Streaming's built-in aggregations cannot express.  Rows within a
    micro-batch process in ``order_cols`` order and the carried value
    crosses batch boundaries, so the emitted pair multiset equals the
    batch window's exactly; downstream streaming aggregation over
    (prev_type, next_type) yields the live transition matrix."""
    out_schema = T.StructType(
        [
            _field(df, key_col),
            T.StructField("prev_type", T.StringType()),
            T.StructField("next_type", T.StringType()),
        ]
        + [_field(df, c) for c in order_cols]
    )
    state_schema = T.StructType([T.StructField("last_type", T.StringType())])

    def step(key: tuple, state: tuple, pdf: pd.DataFrame):
        (last,) = state
        types = pdf[type_col].tolist()
        prevs = [last] + types[:-1]
        mask = [p is not None for p in prevs]
        cols = {
            "prev_type": [p for p, m in zip(prevs, mask) if m],
            "next_type": [t for t, m in zip(types, mask) if m],
        }
        return (types[-1],), _per_record_out(pdf, key_col, order_cols, cols, mask)

    return ordered_fold(
        df, key_col, order_cols, out_schema, state_schema, (None,), step
    )


def streaming_ewma_per_record(
    df: DataFrame,
    value_col: str = "value",
    key_col: str = "user_id",
    order_cols: Sequence[str] = ("ts", "event_id"),
) -> DataFrame:
    """Streaming form of the batch ``ewma_user_value`` lag window: one
    output row per record carrying the bounded 8/4/2/1 EWMA over the
    key's last four values, with three doubles + a counter of state per
    key crossing micro-batch boundaries.  Rows within a micro-batch
    process in ``order_cols`` order and the arithmetic reproduces the
    batch expression's association order exactly, so the emitted values
    equal the batch window's bit-for-bit (equivalence + direct DuckDB
    oracle tests in tests/test_streaming_equivalence.py)."""
    out_schema = T.StructType(
        [
            _field(df, key_col),
            T.StructField("value", T.DoubleType()),
            T.StructField("ewma4", T.DoubleType()),
        ]
        + [_field(df, c) for c in order_cols]
    )
    state_schema = T.StructType(
        [
            T.StructField("l1", T.DoubleType()),
            T.StructField("l2", T.DoubleType()),
            T.StructField("l3", T.DoubleType()),
            T.StructField("seen", T.LongType()),
        ]
    )

    def step(key: tuple, state: tuple, pdf: pd.DataFrame):
        l1, l2, l3, seen = state
        vals = pdf[value_col].to_numpy()
        out: list[float] = []
        for raw in vals:
            v = float(raw)
            # Same association order as the batch expression
            # (value*8 + coalesce(l1,0)*4 + coalesce(l2,0)*2 +
            # coalesce(l3,0)*1): absent lags are exact 0.0 terms, so
            # the unconditional adds reproduce the batch doubles
            # bit-for-bit; only the denominator gates on presence.
            num = ((v * 8 + l1 * 4) + l2 * 2) + l3 * 1
            den = (
                8
                + (4 if seen >= 1 else 0)
                + (2 if seen >= 2 else 0)
                + (1 if seen >= 3 else 0)
            )
            out.append(num / den)
            l3, l2, l1 = l2, l1, v
            seen += 1
        cols = {"value": vals, "ewma4": out}
        return (l1, l2, l3, seen), _per_record_out(pdf, key_col, order_cols, cols)

    return ordered_fold(
        df, key_col, order_cols, out_schema, state_schema, (0.0, 0.0, 0.0, 0), step
    )


def streaming_rolling_window_stats(
    df: DataFrame,
    window_us: int = 60_000_000,
    value_col: str = "value",
    ts_us_col: str = "ts_us",
    key_col: str = "user_id",
    order_cols: Sequence[str] = ("ts_us", "event_id"),
) -> DataFrame:
    """Streaming form of the batch ``rolling_60s_user_stats`` RANGE
    frame: one output row per record carrying the trailing-window count
    and sum, with a per-key buffer of only the in-window rows as state
    — O(events in window) per key, the streaming dual of the
    value-bounded frame.  The sum matches the batch DECIMAL(28,6) form
    bit-for-bit because values quantize ONCE from their shortest
    decimal repr (``Decimal(repr(v))`` — the same rounding as Spark's
    BigDecimal.valueOf cast and DuckDB's ``::DECIMAL``; the exact-binary
    expansion would round 7th-digit cases differently) into integer
    micro-units, and integer arithmetic has no drift.  Null values are
    excluded from the sum but counted in n (an all-null window sums to
    NULL), matching the batch sum/count(*) pair.

    Contract: per-key arrival order must be non-decreasing in event
    time across micro-batches (event-time-ordered replay or watermark-
    sorted input) — a late row would otherwise see in-buffer rows from
    its event-time future, which the batch frame excludes; same-ts
    peers split across batches are the remaining gap. Both conditions
    are vacuous on the fixtures (ts monotone in replay order, (key, ts)
    unique — asserted in the equivalence test)."""
    out_schema = T.StructType(
        [
            _field(df, key_col),
            _field(df, ts_us_col),
            T.StructField("n_60s", T.LongType()),
            T.StructField("sum_60s", T.DoubleType()),
        ]
        + [_field(df, c) for c in order_cols if c not in (key_col, ts_us_col)]
    )
    state_schema = T.StructType(
        [
            T.StructField("ts_buf", T.ArrayType(T.LongType())),
            T.StructField("micro_buf", T.ArrayType(T.LongType())),
            T.StructField("acc_micro", T.LongType()),
            T.StructField("nn", T.LongType()),
        ]
    )
    Q = Decimal("0.000001")

    def to_micros(v: float) -> int | None:
        """value -> integer micro-units, matching both engines' double->
        DECIMAL(28,6) cast: Spark (BigDecimal.valueOf) and DuckDB round
        the SHORTEST decimal repr — ``Decimal(repr(v))`` — not the exact
        binary expansion (``Decimal(v)`` would round 0.1234565 the other
        way at the 7th digit). NaN (how a null double arrives in the
        pandas block) maps to None: excluded from the sum, counted in n,
        exactly like the batch sum/count(*) pair."""
        if math.isnan(v):
            return None
        return int(Decimal(repr(v)).quantize(Q, ROUND_HALF_UP).scaleb(6))

    def step(key: tuple, state: tuple, pdf: pd.DataFrame):
        raw_ts, raw_micro, acc_micro, nn = state
        ts_buf, micro_buf = deque(raw_ts), deque(raw_micro)
        # acc_micro / nn persist as scalars in state (no O(window)
        # re-quantization at restore); null rows ride the buffer as
        # None elements (ArrayType contains nulls).
        rows = list(
            zip(pdf[ts_us_col].to_numpy().tolist(),
                pdf[value_col].to_numpy().tolist())
        )
        n_out: list[int] = []
        s_out: list[float | None] = []
        # Same-ts rows are RANGE-frame peers: append the whole peer
        # group before emitting, so every peer reports the identical
        # frame — matching the batch RANGE ... CURRENT ROW bound
        # (which closes at the LAST peer). Stream-vs-batch contract:
        # per-key arrival order must be non-decreasing in ts across
        # micro-batches (event-time-ordered replay / watermark-
        # sorted input) — a LATE row would otherwise see in-buffer
        # rows from its event-time future, which the batch frame
        # excludes; same-ts peers split across batches are the
        # remaining gap. Both are vacuous on the fixtures (ts
        # monotone in the replay order, (key, ts) unique).
        for ts, grp in groupby(rows, key=lambda r: r[0]):
            peers = list(grp)
            for _, v in peers:
                m = to_micros(float(v))
                ts_buf.append(ts)
                micro_buf.append(m)  # None for null rows
                if m is not None:
                    acc_micro += m
                    nn += 1
            lo = ts - window_us
            while ts_buf and ts_buf[0] < lo:
                ts_buf.popleft()
                old = micro_buf.popleft()
                if old is not None:
                    acc_micro -= old
                    nn -= 1
            n = len(ts_buf)
            n_out.extend([n] * len(peers))
            # all-null window -> NULL sum, like the batch SUM
            s = None if nn == 0 else float(Decimal(acc_micro).scaleb(-6))
            s_out.extend([s] * len(peers))
        cols = {
            ts_us_col: pdf[ts_us_col].to_numpy(),
            "n_60s": n_out,
            "sum_60s": pd.array(s_out, dtype="float64"),
        }
        state = (list(ts_buf), list(micro_buf), acc_micro, nn)
        return state, _per_record_out(pdf, key_col, order_cols, cols)

    return ordered_fold(
        df, key_col, order_cols, out_schema, state_schema, ((), (), 0, 0), step
    )


def streaming_scd2_per_record(
    df: DataFrame,
    type_col: str = "event_type",
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Streaming form of the batch ``scd2_user_event_type`` islands: a
    per-key (island, current_type, valid_from, n_events) state machine
    that emits one CLOSED interval row the moment the key's type
    changes — live SCD2 maintenance, where the batch query is the
    nightly rebuild.  The open (last) island is never emitted because
    it is not final; streamed output therefore equals the batch
    islands with ``valid_to_us != -1``, bit-for-bit, which is exactly
    what the equivalence + DuckDB oracle tests assert.  State is four
    scalars per key; rows within a micro-batch process in
    (epoch_us, tiebreak) order (:func:`ordered_fold`)."""
    proj = df.select(
        F.col(key_col),
        F.col(type_col),
        F.unix_micros(F.col(ts_col)).alias("us"),
        F.col(tiebreak_col),
    )
    out_schema = T.StructType(
        [
            _field(proj, key_col),
            T.StructField("island", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("valid_from_us", T.LongType()),
            T.StructField("valid_to_us", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("island", T.LongType()),
            T.StructField("cur_type", T.StringType()),
            T.StructField("valid_from", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )

    def step(key: tuple, state: tuple, pdf: pd.DataFrame):
        island, cur_type, valid_from, n_ev = state
        out_rows: list[tuple] = []
        for t, us in zip(pdf[type_col].tolist(), pdf["us"].to_numpy()):
            us = int(us)
            if cur_type is None:
                island, cur_type, valid_from, n_ev = 1, t, us, 1
            elif t != cur_type:
                out_rows.append((key[0], island, cur_type, valid_from, us, n_ev))
                island, cur_type, valid_from, n_ev = island + 1, t, us, 1
            else:
                n_ev += 1
        state = (island, cur_type, valid_from, n_ev)
        if not out_rows:
            return state, None
        out = pd.DataFrame(
            out_rows,
            columns=[
                key_col,
                "island",
                "event_type",
                "valid_from_us",
                "valid_to_us",
                "n_events",
            ],
        )
        return state, out

    return ordered_fold(
        proj, key_col, ("us", tiebreak_col), out_schema, state_schema,
        (0, None, 0, 0), step,
    )


def streaming_ngram_next_per_record(
    df: DataFrame,
    type_col: str = "event_type",
    key_col: str = "user_id",
    order_cols: Sequence[str] = ("ts", "event_id"),
) -> DataFrame:
    """Streaming form of the batch ``event_ngram_next`` sequence stage:
    one output row per record once a key has 3 predecessors, carrying
    (context = 't3>t2>t1', next_type) — the live training-pair
    generator for next-event models, with THREE strings of state per
    key (the length-3 context window). Rows within a micro-batch
    process in ``order_cols`` order (:func:`ordered_fold`), and the
    context crosses batch boundaries, so the emitted pair multiset
    equals the batch lag window's exactly; a downstream streaming count
    over (context, next_type) is the live conditional table."""
    out_schema = T.StructType(
        [
            _field(df, key_col),
            T.StructField("context", T.StringType()),
            T.StructField("next_type", T.StringType()),
        ]
        + [_field(df, c) for c in order_cols]
    )
    state_schema = T.StructType(
        [
            T.StructField("t3", T.StringType()),
            T.StructField("t2", T.StringType()),
            T.StructField("t1", T.StringType()),
        ]
    )

    def step(key: tuple, state: tuple, pdf: pd.DataFrame):
        t3, t2, t1 = state
        types = pdf[type_col].tolist()
        ctxs: list[str | None] = []
        for t in types:
            # all three legs must be present (a None leg would
            # render the string 'None'), mirroring the batch
            # query's four-way non-null guard
            ctxs.append(
                f"{t3}>{t2}>{t1}"
                if t3 is not None and t2 is not None and t1 is not None
                else None
            )
            t3, t2, t1 = t2, t1, t
        mask = [c is not None and t is not None for c, t in zip(ctxs, types)]
        cols = {
            "context": [c for c, m in zip(ctxs, mask) if m],
            "next_type": [t for t, m in zip(types, mask) if m],
        }
        return (t3, t2, t1), _per_record_out(pdf, key_col, order_cols, cols, mask)

    return ordered_fold(
        df, key_col, order_cols, out_schema, state_schema, (None, None, None), step
    )


# ---------------------------------------------------------------------------
# space-saving heavy hitters (bounded-eviction counter map as state)
# ---------------------------------------------------------------------------


def streaming_space_saving(
    df: DataFrame,
    item_col: str = "user_id",
    key_col: str = "event_type",
    capacity: int = 8,
    order_cols: Sequence[str] = ("ts", "event_id"),
) -> DataFrame:
    """Space-saving heavy hitters per key (Metwally et al. 2005): at
    most ``capacity`` (item, count, err) counters of state per key; an
    untracked arrival evicts the minimum counter and inherits its
    count as the overestimation error. Emits the full tracked table
    per micro-batch (update-granularity snapshots; the final snapshot
    per key is the rows with max ``n_seen``).

    Guarantees (the classic ones, pinned in the equivalence tests):
    true(i) <= count_est(i), count_est(i) - err(i) <= true(i), and any
    item with true count > n_seen/capacity is guaranteed tracked.
    When ``capacity`` >= distinct items per key the summary IS the
    exact count table (all errs 0) — the regime the batch-equivalence
    test checks bit-for-bit. Records process in ``order_cols`` order
    within a batch and the counter map crosses batch boundaries, so
    the summary is a pure function of the record sequence (eviction
    ties break on smallest item id — restart-deterministic).

    Scale: state is O(capacity) per key — the bounded-memory top-k
    the unbounded streaming groupBy count cannot give; keys shard the
    state store exactly like every other keyed stateful op here."""
    out_schema = T.StructType(
        [
            _field(df, key_col),
            T.StructField("item", T.LongType()),
            T.StructField("count_est", T.LongType()),
            T.StructField("err", T.LongType()),
            T.StructField("n_seen", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("items", T.ArrayType(T.LongType())),
            T.StructField("counts", T.ArrayType(T.LongType())),
            T.StructField("errs", T.ArrayType(T.LongType())),
            T.StructField("n_seen", T.LongType()),
        ]
    )

    def step(key: tuple, state: tuple, pdf: pd.DataFrame):
        items, counts, errs, n_seen = state
        tracked: dict[int, list[int]] = {
            i: [c, e] for i, c, e in zip(items, counts, errs)
        }
        for it in pdf[item_col].tolist():
            it = int(it)
            n_seen += 1
            if it in tracked:
                tracked[it][0] += 1
            elif len(tracked) < capacity:
                tracked[it] = [1, 0]
            else:
                # evict the min-count entry, ties to the smallest
                # item id (a total order — deterministic across
                # runs and restarts)
                victim = min(tracked, key=lambda x: (tracked[x][0], x))
                floor_c = tracked[victim][0]
                del tracked[victim]
                tracked[it] = [floor_c + 1, floor_c]
        items = sorted(tracked)
        counts = [tracked[i][0] for i in items]
        errs = [tracked[i][1] for i in items]
        out = pd.DataFrame(
            {
                key_col: [key[0]] * len(items),
                "item": items,
                "count_est": counts,
                "err": errs,
                "n_seen": [n_seen] * len(items),
            }
        )
        return (items, counts, errs, n_seen), out

    return ordered_fold(
        df, key_col, order_cols, out_schema, state_schema, ((), (), (), 0), step,
        mode="update",
    )
