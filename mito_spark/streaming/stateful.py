"""Per-key continuation state on the executor state store.

The reference's continuation protocol (want_more + cursor fields,
mito.go:186-204) has a single global cursor because it evaluates one
state document at a time. The distributed generalization is a cursor
PER KEY, kept in Spark's state store — this is the "arbitrary stateful
processing" tier promised in mito_spark.streaming.continuation's
docstring.

Every stream twin here is one ``keyed_fold``. The harness owns the
applyInPandasWithState mechanism — state read, Arrow-chunk buffering,
the one sort, state write and the output frame — and a twin supplies
only its fold over one micro-batch of one key::

    fold(key, st, rows) -> (new_state, out_rows)

- ``key`` is the group-key tuple, in ``keys`` order;
- ``st`` is the stored state tuple, or the twin's ``init`` the first
  time the key is seen (a fold never mutates ``st`` in place: ``init``
  is shared by every new key);
- ``rows`` is ONE pandas frame with all of the key's rows in this
  micro-batch, sorted by ``order`` when the twin's result is
  order-defined, in arrival order for the order-free merges;
- ``new_state`` is stored as is; ``out_rows`` is a list of tuples in
  the output schema's field order, and an empty list emits nothing.

Scale posture: state lives in the executor state-store backend
(RocksDB on a real cluster), partitioned by key — the driver never
sees it; a micro-batch only shuffles its own keys. State size is
bounded per key (a handful of scalars), so total state is O(distinct
keys), independent of stream length.
"""

from __future__ import annotations

import hashlib
import heapq
import math
from bisect import bisect_left
from collections.abc import Callable, Iterator
from decimal import ROUND_HALF_UP, Decimal, localcontext
from itertools import accumulate
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def keyed_fold(
    df: DataFrame,
    keys: list[str],
    fold: Callable[[tuple, Any, pd.DataFrame], tuple[Any, list[tuple]]],
    *,
    init: Any,
    state: StructType,
    output: StructType,
    mode: str,
    order: str | list[str] | None = None,
) -> DataFrame:
    """Group ``df`` by ``keys`` and run ``fold`` once per key and
    micro-batch with the key's state carried in the state store (no
    timeout). See the module docstring for the fold contract."""
    names = output.fieldNames()

    def apply(key, chunks, gs):
        # a key's micro-batch arrives as MULTIPLE Arrow chunks with NO
        # cross-chunk ordering guarantee: buffer all chunks and sort
        # once — sorting per chunk would replay rows out of order
        # whenever a key's batch exceeds maxRecordsPerBatch (~10k rows),
        # silently diverging from the batch twin
        rows = pd.concat(chunks, ignore_index=True)
        if order is not None:
            rows = rows.sort_values(order)
        new_state, out = fold(key, gs.get if gs.exists else init, rows)
        gs.update(new_state)
        if out:
            yield pd.DataFrame(out, columns=names)

    return df.groupBy(*keys).applyInPandasWithState(
        apply,
        outputStructType=output,
        stateStructType=state,
        outputMode=mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _half_up(x: float, dp: int) -> float:
    """``ROUND(x, dp)`` as both engines compute it on a double: HALF_UP
    on the SHORTEST decimal repr of ``x``."""
    return float(Decimal(repr(float(x))).quantize(Decimal(f"1e-{dp}"), ROUND_HALF_UP))


def _val4(v: float) -> int:
    """``CAST(v AS DECIMAL(18,4))`` as integer ten-thousandths: HALF_UP
    on the EXACT binary expansion of the double (not its shortest repr,
    which is what ``_half_up`` rounds)."""
    return int(Decimal(float(v)).quantize(Decimal("0.0001"), ROUND_HALF_UP) * 10_000)


CURSOR_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("first_ts", TimestampType()),
        StructField("last_ts", TimestampType()),
        StructField("total_value", DoubleType()),
    ]
)

# state tuple mirrors the output minus the key (timestamps kept as
# microsecond epoch longs — state-store codecs want flat primitives)
CURSOR_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("first_us", LongType()),
        StructField("last_us", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def per_key_cursor(events: DataFrame) -> DataFrame:
    """Streaming per-key cursor: for each user, a continuously-updated
    {n_events, first_ts, last_ts, total_value} — the reference's
    cursor.timestamps.{first,last} summary (example.cel:28-34), per key,
    with state in the store instead of the driver.

    Works on a streaming DataFrame (update output mode). Each
    micro-batch is the `want_more` re-entry: previous state is the
    carried cursor, the batch is the new page.
    """

    def fold(key, st, rows):
        n, first_us, last_us, total = st
        ts_us = rows["ts"].astype("int64") // 1000  # pandas ns → µs
        b_first, b_last = int(ts_us.min()), int(ts_us.max())
        first_us = b_first if first_us is None else min(first_us, b_first)
        last_us = b_last if last_us is None else max(last_us, b_last)
        n, total = n + len(rows), total + float(rows["value"].sum())
        ts = pd.Timestamp(first_us, unit="us"), pd.Timestamp(last_us, unit="us")
        return (n, first_us, last_us, total), [(key[0], n, *ts, total)]

    return keyed_fold(
        events, ["user_id"], fold, init=(0, None, None, 0.0),
        state=CURSOR_STATE_SCHEMA, output=CURSOR_OUTPUT_SCHEMA, mode="update",
    )


def latest_rows(rows: list[Any], key: str = "user_id") -> dict[Any, Any]:
    """Collapse an update-mode drain (one row per key per batch) to the
    final cursor per key — later batches overwrite earlier ones."""
    out: dict[Any, Any] = {}
    for r in rows:
        out[r[key]] = r
    return out


ANOMALY_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("value", DoubleType()),
        StructField("zscore", DoubleType()),
        StructField("n_seen", LongType()),
    ]
)

# Welford running moments: count, mean, M2 (sum of squared deviations)
ANOMALY_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("mean", DoubleType()),
        StructField("m2", DoubleType()),
    ]
)


def streaming_anomalies(
    events: DataFrame, z: float = 3.0, min_seen: int = 10
) -> DataFrame:
    """Streaming per-key anomaly detection — the incremental twin of
    the batch ``events_value_anomalies``: each key keeps Welford
    running moments (3 scalars) in the state store; an event is
    emitted when it deviates more than ``z`` stddevs from the moments
    of its key's PAST (then it is absorbed — self-exclusion, so a
    single spike can't mask itself). ``min_seen`` suppresses verdicts
    until the baseline has support.

    Batch/stream asymmetry is inherent and documented: the batch twin
    judges against the full-population moments; this judges each
    event against its prefix — the streaming-correct definition (no
    look-ahead). State is O(keys)·3 doubles, driver sees nothing."""

    def fold(key, st, rows):
        n, mean, m2 = st
        out = []
        for ev_id, v in zip(rows["event_id"], rows["value"]):
            v = float(v)
            if n >= min_seen:
                std = (m2 / n) ** 0.5
                if std > 0 and abs(v - mean) > z * std:
                    out.append((key[0], int(ev_id), v, (v - mean) / std, n))
            # Welford update AFTER the test: an outlier is judged
            # against the past, then absorbed
            n += 1
            d = v - mean
            mean += d / n
            m2 += d * (v - mean)
        return (n, mean, m2), out

    return keyed_fold(
        events, ["user_id"], fold, init=(0, 0.0, 0.0), state=ANOMALY_STATE_SCHEMA,
        output=ANOMALY_OUTPUT_SCHEMA, mode="append", order="event_id",
    )


RETRANSMIT_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("event_id", LongType()),
        StructField("gap_s", DoubleType()),
    ]
)

# one scalar of state per key: the previous raw event's epoch micros
RETRANSMIT_STATE_SCHEMA = StructType([StructField("last_us", LongType())])


def streaming_retransmit_dedup(events: DataFrame, eps_s: float = 900.0) -> DataFrame:
    """Streaming twin of ``events.events_retransmit_dedup``: per
    (user_id, event_type) key, one epoch-micros scalar of state — an
    event arriving within ``eps_s`` of the key's previous RAW event is
    emitted to the retransmission manifest.

    IN-ORDER ASSUMPTION: equality with the batch twin's LAG semantics
    holds when each key's events arrive in (ts, event_id) order across
    micro-batches. State keeps only the key's last timestamp, so an
    event that arrives LATE — in a later micro-batch than a
    larger-timestamp sibling — is compared against the wrong
    predecessor and the outputs diverge from the batch window (the
    batch twin sorts the whole key). Feeds that can reorder need a
    watermark + sort-within-batch front stage (or the batch operator
    on a replayed log); the tests exercise single availableNow
    batches, where arrival order is the sorted order.

    State is 8 bytes per key, partitioned in the state store; a
    micro-batch shuffles only its own keys. The manifest stream is the
    anti-join feed a downstream keep-side consumer subtracts."""
    eps_us = int(eps_s * 1_000_000)

    def fold(key, st, rows):
        (last_us,) = st
        out = []
        for ev_id, ts in zip(rows["event_id"], rows["ts"]):
            us = int(pd.Timestamp(ts).value // 1_000)
            if last_us is not None and us - last_us <= eps_us:
                out.append((key[0], key[1], int(ev_id), round((us - last_us) / 1e6, 6)))
            # LAG semantics (match the batch twin): the state advances
            # to every raw event, kept or dropped
            last_us = us
        return (last_us,), out

    return keyed_fold(
        events, ["user_id", "event_type"], fold, init=(None,),
        state=RETRANSMIT_STATE_SCHEMA, output=RETRANSMIT_OUTPUT_SCHEMA,
        mode="append", order=["ts", "event_id"],
    )


ROLLING_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("n_events_trailing", LongType()),
        StructField("value_trailing", DoubleType()),
    ]
)

# per-key state: the trailing-window buffer as two parallel arrays
# (epoch-micros keys + 4dp-quantized values scaled to integer
# ten-thousandths so the running sum stays exact in the store)
ROLLING_STATE_SCHEMA = StructType(
    [
        StructField("us", ArrayType(LongType())),
        StructField("val4", ArrayType(LongType())),
    ]
)


def streaming_rolling_window(events: DataFrame, days: int = 7) -> DataFrame:
    """Streaming twin of ``events.events_rolling_window`` — the
    feature-store materialization as a stream: for every incoming
    event, the trailing ``days``-day (count, decimal-exact value sum)
    over its user's events, emitted per event (append mode).

    State per key is the trailing window itself: parallel arrays of
    epoch-micros and integer ten-thousandths (the DECIMAL(18,4)
    quantization as exact integers), evicted as the key's clock
    advances — bounded by the key's event rate × window span,
    independent of stream length. Peer-inclusive RANGE semantics are
    preserved by processing each distinct timestamp as a group (all
    equal-ts events enter the buffer before any of them emits).

    IN-ORDER ASSUMPTION (same contract as streaming_retransmit_dedup,
    r6): equality with the batch RANGE window holds when each key's
    events arrive in ts order across micro-batches AND equal-timestamp
    peers share a micro-batch — a peer split across batches would emit
    the early rows before seeing the late peers (the batch frame sees
    all peers at once). Out-of-order feeds need a watermark +
    sort-front-stage, or the batch operator over a replayed log; the
    equality test drives 3 in-order micro-batches."""
    span_us = days * 86400 * 1_000_000

    def fold(key, st, rows):
        us_list, val4_list = list(st[0]), list(st[1])
        out = []
        # process per distinct timestamp: a RANGE frame is
        # peer-inclusive, so every event at a timestamp sees ALL its
        # equal-ts peers — add the whole peer group to the buffer
        # first, then emit one shared (count, sum) for it
        us_key = rows["ts"].astype("int64") // 1000  # pandas ns → µs
        for us, grp in rows.groupby(us_key, sort=True):
            us = int(us)
            us_list += [us] * len(grp)
            # mirror the batch twin's CAST(value AS DECIMAL(18,4))
            val4_list += [_val4(v) for v in grp["value"]]
            lo = us - span_us  # frame is [us - span, us] inclusive
            drop = 0
            while drop < len(us_list) and us_list[drop] < lo:
                drop += 1
            if drop:
                us_list, val4_list = us_list[drop:], val4_list[drop:]
            n, total = len(us_list), float(Decimal(sum(val4_list)) / 10_000)
            ts_out = pd.Timestamp(us, unit="us")
            out += [(int(ev), key[0], ts_out, n, total) for ev in grp["event_id"]]
        return (us_list, val4_list), out

    return keyed_fold(
        events, ["user_id"], fold, init=([], []), state=ROLLING_STATE_SCHEMA,
        output=ROLLING_OUTPUT_SCHEMA, mode="append", order=["ts", "event_id"],
    )


EWMA_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("day", TimestampType()),
        StructField("daily_value", DoubleType()),
        StructField("ewma", DoubleType()),
    ]
)

# per-key state: the OPEN day (epoch days), its running sum in integer
# ten-thousandths (the DECIMAL(18,4) quantization, exact in the store),
# and the ewma of the last CLOSED day as an exact decimal string (a
# scaled integer would overflow int64 at scale 9 for large sums; the
# string round-trips the decimal losslessly)
EWMA_STATE_SCHEMA = StructType(
    [
        StructField("cur_day", LongType()),
        StructField("cur_sum4", LongType()),
        StructField("prev_ewma", StringType()),
    ]
)


def _day_sums(rows: pd.DataFrame):
    """(epoch day, exact DECIMAL(18,4) value sum in integer
    ten-thousandths) for each calendar day of ``rows.ts``, ascending."""
    for day, grp in rows.groupby(rows["ts"].dt.normalize(), sort=True):
        yield int(day.value // 86_400_000_000_000), sum(_val4(v) for v in grp["value"])


def _ewma_step(a: Decimal, b: Decimal, x: Decimal, prev: Decimal | None) -> Decimal:
    """One recurrence step ``a·x + b·prev``, HALF_UP at 9dp in a
    60-digit context (the products stay exact); the first day seeds
    the recurrence with ``x``."""
    if prev is None:
        return x
    with localcontext(prec=60):
        return (a * x + b * prev).quantize(Decimal("1e-9"), ROUND_HALF_UP)


def _ewma_row(key: tuple, a: Decimal, b: Decimal, day: int, sum4: int, prev):
    """The open day's output row: its exact daily sum and its ewma."""
    x = Decimal(sum4) / 10_000
    ts = pd.Timestamp(day * 86_400, unit="s")
    return (key[0], ts, float(x), float(_ewma_step(a, b, x, prev)))


def streaming_user_ewma(events: DataFrame, alpha: str = "0.3") -> DataFrame:
    """Streaming twin of ``events.events_user_ewma`` — the textbook
    tiny-state recurrence: each key carries (open day, its exact
    running DECIMAL(18,4) sum, the previous day's ewma as an exact
    decimal string) — three scalars, far smaller than the rolling
    window's array state — and every micro-batch emits the refreshed
    (day, daily_value, ewma) row for each day it touched (update
    mode; a day receiving more events in a later batch re-emits, and
    the LAST row per (user, day) equals the batch operator exactly).

    Decimal discipline matches the batch twin bit-for-bit: 4dp
    HALF_UP quantization per event value, exact integer sums, α as a
    ≤4dp decimal (the DECIMAL(5,4) contract, ADVICE r7 #2), per-step
    9dp HALF_UP round at 60-digit precision (products stay exact).

    IN-ORDER ASSUMPTION (same contract as the other stateful twins):
    equality holds when each key's events arrive day-ordered across
    micro-batches — a DAY may span micro-batches freely (the open-day
    sum re-accumulates and re-emits), but an event for an already-
    CLOSED earlier day would need its day re-opened and every later
    ewma recomputed (the batch operator on a replayed log covers that
    case). State is O(keys)·3 scalars, independent of stream length."""
    from mito_spark.operators.events import ewma_decimal_literals

    a, b = map(Decimal, ewma_decimal_literals(alpha))

    def fold(key, st, rows):
        cur_day, cur_sum4, prev = st
        prev = None if prev is None else Decimal(prev)
        out = []
        for day, s4 in _day_sums(rows):
            if cur_day is None or day > cur_day:
                if cur_day is not None:
                    # close the open day: its final ewma seeds the
                    # recurrence for the new day
                    prev = _ewma_step(a, b, Decimal(cur_sum4) / 10_000, prev)
                cur_day, cur_sum4 = day, s4
            else:
                # same open day continuing across micro-batches (day <
                # cur_day would be out-of-order arrival — see the
                # docstring contract)
                cur_sum4 += s4
            out.append(_ewma_row(key, a, b, cur_day, cur_sum4, prev))
        return (cur_day, cur_sum4, None if prev is None else str(prev)), out

    return keyed_fold(
        events, ["user_id"], fold, init=(None, 0, None), state=EWMA_STATE_SCHEMA,
        output=EWMA_OUTPUT_SCHEMA, mode="update",
    )


def streaming_user_ewma_calendar(
    events: DataFrame, alpha: str = "0.3"
) -> DataFrame:
    """Streaming twin of ``events.events_user_ewma_calendar`` — the
    calendar-decay recurrence as a stream. Identical state to
    ``streaming_user_ewma`` (open day, exact DECIMAL(18,4) running
    sum, previous ewma as an exact decimal string — three scalars per
    key); the difference is purely in day-close handling: when an
    event for a LATER day arrives, every calendar day in the gap is
    closed with x = 0 and its decayed ewma row is emitted — the
    lazily-materialized form of the batch operator's date spine, so a
    user's quiet days appear in the output as soon as the event that
    bounds them arrives. Rows per key = calendar span (the batch
    spine's own bound); state stays O(keys)·3 scalars regardless.

    Same in-order contract and decimal discipline as the observed-days
    twin; the LAST update-mode row per (user, day) equals the batch
    operator exactly (batch-vs-stream equality pytest-proven over
    staggered micro-batches, gap days included)."""
    from mito_spark.operators.events import ewma_decimal_literals

    a, b = map(Decimal, ewma_decimal_literals(alpha))

    def fold(key, st, rows):
        cur_day, cur_sum4, prev = st
        prev = None if prev is None else Decimal(prev)
        out = []
        for day, s4 in _day_sums(rows):
            if cur_day is None:
                cur_day, cur_sum4 = day, s4
            elif day > cur_day:
                # close the open day, then DECAY-AND-EMIT every
                # calendar gap day up to the new one (x = 0): this is
                # the spine the batch operator joins in
                prev = _ewma_step(a, b, Decimal(cur_sum4) / 10_000, prev)
                for g in range(cur_day + 1, day):
                    prev = _ewma_step(a, b, Decimal(0), prev)
                    out.append((key[0], pd.Timestamp(g * 86_400, unit="s"), 0.0, float(prev)))
                cur_day, cur_sum4 = day, s4
            else:
                cur_sum4 += s4
            out.append(_ewma_row(key, a, b, cur_day, cur_sum4, prev))
        return (cur_day, cur_sum4, None if prev is None else str(prev)), out

    return keyed_fold(
        events, ["user_id"], fold, init=(None, 0, None), state=EWMA_STATE_SCHEMA,
        output=EWMA_OUTPUT_SCHEMA, mode="update",
    )


# --- streaming weighted reservoir (Efraimidis-Spirakis) -----------------

ES_OUTPUT_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("doc_id", LongType()),
        StructField("n_chars", LongType()),
        StructField("es_key", DoubleType()),
        StructField("es_rank", LongType()),
    ]
)

ES_STATE_SCHEMA = StructType(
    [
        StructField("doc_ids", ArrayType(LongType())),
        StructField("ncs", ArrayType(LongType())),
        StructField("keys", ArrayType(DoubleType())),
    ]
)


def streaming_weighted_sample(
    docs: DataFrame, k: int | None = None, salt: str = "wsample:v1"
) -> DataFrame:
    """Streaming twin of ``sampling.weighted_sample_es`` — a continuous
    weight-proportional reservoir per source stratum: every micro-batch
    re-emits each touched stratum's refreshed top-k reservoir (update
    mode; replace the stratum's previous emission wholesale — evicted
    docs do NOT get retraction rows).

    Unlike the EWMA/rolling twins, equality with the batch operator
    holds under ANY arrival order, not just in-order streams: the
    Efraimidis-Spirakis keys are content-derived (md5 of the salted
    doc_id), so the reservoir is a top-k merge — associative,
    commutative, idempotent (a replayed doc overwrites itself in the
    pool by doc_id). This is the mergeable-summary property the batch
    docstring cites, running live.

    State is O(k) scalars per stratum, independent of stream length;
    the per-batch work is |batch| hash+ln evaluations plus a sort of
    pool+batch (≤ k + |batch| rows). The es_key arithmetic mirrors the
    batch expression tree op-for-op (exact power-of-two u scaling, 9dp
    HALF_UP round), so the final reservoir equals
    ``weighted_sample_es`` on the replayed log bit-for-bit —
    batch-vs-stream equality is pytest-pinned across an
    ARBITRARY (non-chronological) 3-way split.
    """
    from mito_spark.operators.sampling import U_DENOM, WEIGHTED_SAMPLE_K

    if k is None:
        k = WEIGHTED_SAMPLE_K

    def fold(key, st, rows):
        pool = {d: (n, e) for d, n, e in zip(*st)}
        for d, n in zip(rows["doc_id"], rows["n_chars"]):
            d, n = int(d), int(n)
            if n <= 0:  # zero weight = zero selection probability
                continue
            # mirror the batch expression tree op-for-op:
            # (CAST(v AS DOUBLE) + 1) / 2^60, ln, HALF_UP round 9dp
            v = int(hashlib.md5(f"{salt}:{d}".encode()).hexdigest()[:15], 16)
            u = (float(v) + 1.0) / float(U_DENOM)
            pool[d] = (n, _half_up(math.log(u) / float(n), 9))
        top = sorted(pool.items(), key=lambda it: (-it[1][1], it[0]))[:k]
        new_state = ([d for d, _ in top], [n for _, (n, _) in top], [e for _, (_, e) in top])
        return new_state, [(key[0], d, n, e, r) for r, (d, (n, e)) in enumerate(top, start=1)]

    return keyed_fold(
        docs.select("source", "doc_id", "n_chars"), ["source"], fold,
        init=([], [], []), state=ES_STATE_SCHEMA, output=ES_OUTPUT_SCHEMA, mode="update",
    )


# --- streaming HLL distinct counter -------------------------------------

HLL_OUTPUT_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("n_hll", DoubleType()),
        StructField("v_empty", LongType()),
        StructField("branch", StringType()),
    ]
)

# sparse register summary: only the touched registers (idx, max rho)
HLL_STREAM_STATE_SCHEMA = StructType(
    [
        StructField("idxs", ArrayType(LongType())),
        StructField("rhos", ArrayType(LongType())),
    ]
)


def streaming_hll_distinct(items: DataFrame) -> DataFrame:
    """Streaming twin of ``sketches.hll_distinct_by`` — a LIVE per-key
    distinct counter: each micro-batch folds arriving items into the
    key's sparse HLL register summary (at most m = 4096 (idx, max rho)
    pairs of state, regardless of stream length or cardinality) and
    re-emits the refreshed estimate (update mode).

    Register merge is MAX — associative, commutative, idempotent — so
    like ``streaming_weighted_sample`` (and unlike the order-sensitive
    EWMA twins) batch-vs-stream equality holds under ANY arrival order
    and ANY batch split, including replayed items. The estimate
    arithmetic mirrors the batch expression tree op-for-op (exact
    integer register sums; the linear branch's ln 9dp-rounded), so the
    final emission per key equals ``hll_distinct_by`` on the replayed
    log bit-for-bit — pytest-pinned across a non-chronological split.

    Expects an (source, item) frame: tokenize upstream with the SAME
    JVM expressions as the batch op so the hashed items are identical
    (the test streams ``explode(fields(lower(text)))``)."""
    from mito_spark.operators.sketches import (
        HLL_EST_NUM,
        HLL_LIN_THRESHOLD,
        HLL_M,
        HLL_P,
        HLL_WBITS,
    )

    def fold(key, st, rows):
        regs = dict(zip(*st))
        for it in rows["item"]:
            v = int(hashlib.md5(f"hll:{it}".encode()).hexdigest()[:15], 16)
            idx, w = v & (HLL_M - 1), v >> HLL_P
            rho = (HLL_WBITS + 1) if w == 0 else (HLL_WBITS + 1 - w.bit_length())
            if rho > regs.get(idx, 0):
                regs[idx] = rho
        s_ne = sum(1 << (HLL_WBITS + 1 - r) for r in regs.values())
        v_empty = HLL_M - len(regs)
        s_total = s_ne + v_empty * (1 << (HLL_WBITS + 1))
        e_raw = HLL_EST_NUM / float(s_total)
        if e_raw <= HLL_LIN_THRESHOLD and v_empty > 0:
            est = _half_up(float(HLL_M) * _half_up(math.log(float(HLL_M) / v_empty), 9), 6)
            branch = "linear"
        else:
            est, branch = _half_up(e_raw, 6), "raw"
        return (list(regs), list(regs.values())), [(key[0], est, v_empty, branch)]

    return keyed_fold(
        items, ["source"], fold, init=([], []), state=HLL_STREAM_STATE_SCHEMA,
        output=HLL_OUTPUT_SCHEMA, mode="update",
    )


# ---- paragraph-hash first-occurrence dedup (live CCNet stage 1) ----

PARA_OUTPUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("chunk_idx", IntegerType()),
        StructField("h", StringType()),
        StructField("is_dup", BooleanType()),
    ]
)
PARA_STATE_SCHEMA = StructType(
    [StructField("first_doc", LongType()), StructField("first_idx", IntegerType())]
)


def streaming_paragraph_dedup(chunks: DataFrame) -> DataFrame:
    """Streaming twin of ``dedup_paragraphs``' first-occurrence flag —
    the CCNet paragraph filter LIVE: per chunk-hash key, state is ONE
    (first_doc, first_idx) pair (the minimal membership record — a
    grow-only hash set sharded across the state store by key), and
    every arriving chunk is flagged dup unless it IS the stored first
    occurrence. In-order contract like the EWMA twins: batch equality
    holds when micro-batches split chronologically by (doc_id,
    chunk_idx), because 'first' is order-defined — within a
    micro-batch ``keyed_fold``'s one sort over all of a key's Arrow
    chunks restores the order chunking loses.
    Replayed rows re-flag identically (the stored first is never
    demoted to dup). Expects the (doc_id, chunk_idx, h) frame of
    ``dedup._token_window_chunks`` — chunk upstream with the same JVM
    expressions so hashes match the batch op bit-for-bit."""

    def fold(key, st, rows):
        first = None if st is None else tuple(st)
        out = []
        for doc, idx in zip(rows["doc_id"], rows["chunk_idx"]):
            doc, idx = int(doc), int(idx)
            if first is None:
                first = (doc, idx)
            # a replayed row equal to the stored first occurrence is
            # still the original, never a dup (replay idempotence)
            out.append((doc, idx, key[0], (doc, idx) != first))
        return first, out

    return keyed_fold(
        chunks, ["h"], fold, init=None, state=PARA_STATE_SCHEMA,
        output=PARA_OUTPUT_SCHEMA, mode="append", order=["doc_id", "chunk_idx"],
    )


# ---- live per-type quantile sketch (fixed-bin histogram) ----

QSK_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n", LongType()),
        StructField("est_p50", DoubleType()),
        StructField("est_p95", DoubleType()),
        StructField("est_p99", DoubleType()),
    ]
)
QSK_STATE_SCHEMA = StructType(
    [
        StructField("buckets", ArrayType(LongType())),
        StructField("counts", ArrayType(LongType())),
    ]
)


def streaming_quantile_sketch(
    values: DataFrame, width: float, bins: int | None = None
) -> DataFrame:
    """Streaming twin of ``sketches.quantile_sketch_calibration``'s
    sketch leg — the LIVE per-type quantile monitor, and the proof
    that the fixed-bin histogram really is mergeable: state is at most
    ``bins`` (bucket, count) pairs per key regardless of stream
    length, and bucket-count merge is ADDITION — associative and
    commutative, so batch-vs-stream equality holds under ANY arrival
    order and ANY micro-batch split (like the HLL twin's MAX merge and
    unlike the order-sensitive EWMA twins; replays double-count,
    exactly as the batch op double-counts a duplicated log row).

    ``width`` is the pre-agreed bin width — the knob the batch
    calibration derives (max/bins) and a deployment FREEZES before
    going live, because a streaming operator cannot know the final
    max; this is how production fixed-layout histograms work. The
    estimate arithmetic (clamped floor(v/width) buckets, rank
    ceil(q·n), lower-edge estimate, half-up 6dp round) mirrors the
    batch expression tree op-for-op, so the final emission per key
    equals the batch op's est_* columns bit-for-bit — pytest-pinned
    across a non-chronological split.

    Expects an (event_type, value) frame; update mode."""
    from mito_spark.operators.sketches import QS_BINS, QS_QUANTILES

    width, bins = float(width), bins or QS_BINS

    def fold(key, st, rows):
        hist = dict(zip(*st))
        for v in rows["value"]:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                continue
            b = min(max(math.floor(float(v) / width), 0), bins - 1)
            hist[b] = hist.get(b, 0) + 1
        new_state = (list(hist), list(hist.values()))
        if not hist:
            # a micro-batch can deliver only NULL/NaN values for a key:
            # with n == 0 there is no rank to find — the batch twin
            # filters nulls before grouping and simply omits such keys,
            # so emit nothing
            return new_state, []
        bs = sorted(hist)
        cum = list(accumulate(hist[b] for b in bs))
        # the lower edge of the first bucket whose running count
        # reaches rank ceil(q·n)
        ests = [_half_up(bs[bisect_left(cum, math.ceil(q * cum[-1]))] * width, 6)
                for q in QS_QUANTILES]
        return new_state, [(key[0], cum[-1], *ests)]

    return keyed_fold(
        values, ["event_type"], fold, init=([], []), state=QSK_STATE_SCHEMA,
        output=QSK_OUTPUT_SCHEMA, mode="update",
    )


def streaming_cdc_chunk_dedup(docs: DataFrame) -> DataFrame:
    """Streaming twin of the CDC first-occurrence flag — sub-document
    dedup LIVE (the ingest-side use of ``cdc_chunk_dedup``'s chunk
    table): each arriving document is content-defined-chunked
    row-locally (a stateless mapInPandas running
    ``cdc_boundaries_py``, the tested Python mirror of the batch
    chunk frame — hashes match the JVM ``hash60`` construction
    bit-for-bit), then every chunk hash is flagged dup unless it IS
    its key's stored first occurrence: the chunk stream goes through
    ``streaming_paragraph_dedup`` itself (the same one-pair-per-key
    state record and fold — the dedup unit changed from token windows
    to content-defined chunks, the protocol did not). In-order
    contract like the paragraph twin: batch equality under
    chronological (doc_id, chunk_idx) micro-batch splits; replayed
    rows re-flag identically. Expects a (doc_id, text) stream."""
    from mito_spark.operators.dedup import cdc_boundaries_py

    def _chunks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hs = [], [], []
            for d, t in zip(pdf["doc_id"], pdf["text"]):
                for k, c in enumerate(cdc_boundaries_py(t or "")):
                    ids.append(int(d))
                    idxs.append(k)
                    hs.append(hashlib.md5(c.encode()).hexdigest())
            yield pd.DataFrame({"doc_id": ids, "chunk_idx": idxs, "h": hs})

    return streaming_paragraph_dedup(
        docs.mapInPandas(_chunks, "doc_id long, chunk_idx int, h string")
    )


# ---- live per-slice isotropy monitor (additive fixed-point moments) ----

ISO_OUTPUT_SCHEMA = StructType(
    [
        StructField("label", IntegerType()),
        StructField("n_vectors", LongType()),
        StructField("mean_norm", DoubleType()),
        StructField("norm_cv", DoubleType()),
        StructField("mean_pairwise_cosine", DoubleType()),
        StructField("centroid_norm", DoubleType()),
    ]
)
ISO_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("sn", LongType()),
        StructField("snn", LongType()),
        StructField("su", ArrayType(LongType())),
    ]
)


def _iso_fixed9(v: float) -> int:
    return int(
        (Decimal(repr(float(v))) * (10**9)).quantize(Decimal("1"), ROUND_HALF_UP)
    )


def streaming_isotropy(embs: DataFrame) -> DataFrame:
    """Streaming twin of ``similarity.embedding_isotropy_report`` — a
    LIVE per-label anisotropy monitor (the Ethayarajh estimate as an
    ingestion gauge: a rising mean pairwise cosine on an arriving
    embedding slice flags a common-direction flood before it poisons
    cosine retrieval thresholds).

    State per key is the ADDITIVE moment tuple (n, Σ‖x‖, Σ‖x‖²,
    per-dim Σu) held as FIXED-POINT 1e-9 integers: integer addition
    is exact, associative, and commutative, and it equals the batch
    op's decimal(38,9) sums of 9dp-rounded terms bit-for-bit — so
    batch-vs-stream equality holds under ANY arrival order and ANY
    micro-batch split (the quantile-sketch twin's contract; replays
    double-count, exactly as the batch op would double-count a
    duplicated row). State is d+3 integers per key regardless of
    stream length; int64 fixed-point overflows past ~9·10⁹ unit-norm
    rows per key — the documented bound (the batch decimal(38,9)
    carries further; shard the key before that).

    The emission arithmetic mirrors the batch expression tree
    op-for-op: decimal→double conversion of each sum, the identical
    cosine identity (‖Σu‖²−n)/(n(n−1)) with ‖Σu‖² re-rounded at 9dp
    per dimension term, 6dp half-up output rounds.

    Expects a (label, nm, u) frame — normalize UPSTREAM with the SAME
    JVM expressions as the batch op (x cast double, nm = ‖x‖ fold,
    filter nm > 0, u = x/nm) so the arriving unit vectors are
    bit-identical; update mode."""

    def fold(key, st, rows):
        n, sn, snn, su = st
        su = list(su)
        for nm, u in zip(rows["nm"], rows["u"]):
            nm = float(nm)
            n += 1
            sn += _iso_fixed9(nm)
            snn += _iso_fixed9(nm * nm)
            if not su:
                su = [0] * len(u)
            for i, v in enumerate(u):
                su[i] += _iso_fixed9(v)
        nd = float(n)
        mean_norm = float(Decimal(sn).scaleb(-9)) / nd
        var_norm = max(float(Decimal(snn).scaleb(-9)) / nd - mean_norm * mean_norm, 0.0)
        ssq_fixed = 0
        for s in su:
            sd = float(Decimal(s).scaleb(-9))
            ssq_fixed += _iso_fixed9(sd * sd)
        ssq = float(Decimal(ssq_fixed).scaleb(-9))
        cv = _half_up(math.sqrt(var_norm) / mean_norm, 6) if mean_norm != 0 else None
        cos = _half_up((ssq - nd) / (nd * (nd - 1.0)), 6) if n > 1 else None
        row = (key[0], n, _half_up(mean_norm, 6), cv, cos, _half_up(math.sqrt(ssq) / nd, 6))
        return (n, sn, snn, su), [row]

    return keyed_fold(
        embs, ["label"], fold, init=(0, 0, 0, []), state=ISO_STATE_SCHEMA,
        output=ISO_OUTPUT_SCHEMA, mode="update",
    )


# ---- live per-term burstiness monitor (additive integer moments) ----

BURST_OUTPUT_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("df", LongType()),
        StructField("cf", LongType()),
        StructField("s2", LongType()),
        StructField("adaptation", DoubleType()),
    ]
)
BURST_STATE_SCHEMA = StructType(
    [
        StructField("df", LongType()),
        StructField("cf", LongType()),
        StructField("s2", LongType()),
    ]
)


def burstiness_stream_rows(docs: DataFrame) -> DataFrame:
    """Stream-side upstream of ``streaming_burstiness``: per arriving
    document, its (term, tf) pairs computed IN-ROW with JVM
    expressions (distinct terms via array_distinct; tf per term as a
    filter-count inside a transform) — integer-equal to the batch
    op's groupBy(doc_id, term) counts, so the twin's state update
    sees exactly the batch tf values."""
    from pyspark.sql import functions as F

    from mito_spark.functions.strings import fields

    base = docs.select(fields(F.lower(F.col("text"))).alias("toks"))
    pairs = base.select(
        F.explode(
            F.transform(
                F.array_distinct("toks"),
                lambda w: F.struct(
                    w.alias("term"),
                    F.size(F.filter("toks", lambda t: t == w)).cast("long").alias("tf"),
                ),
            )
        ).alias("p")
    )
    return pairs.select("p.term", "p.tf")


def streaming_burstiness(rows: DataFrame) -> DataFrame:
    """Streaming twin of ``quality.term_burstiness_report``'s per-term
    moment core — a LIVE burstiness monitor: a term whose adaptation
    (cf/df) climbs as a crawl arrives is concentrating in document
    clumps (template/boilerplate flood) long before a batch report
    would run.

    State per term is the ADDITIVE integer moment tuple (df, cf,
    Σtf²): integer addition is exact, associative, and commutative,
    so batch-vs-stream equality holds under ANY arrival order and ANY
    micro-batch split (the isotropy twin's contract) — the emitted
    moments equal the batch op's groupBy sums bit-for-bit, and
    adaptation applies the identical 6dp half-up round. The Fano
    factor needs the stream-wide doc count N (key-independent, so it
    cannot live in per-key state): fano = s2/cf − cf/N assembles
    downstream from the emitted moments plus any trivial doc counter
    — the per-term moments ARE the hard (keyed, mergeable) part.

    State is 3 integers per term regardless of stream length; feed
    with ``burstiness_stream_rows`` so the arriving tf values are the
    batch ones; update mode.
    """

    def fold(key, st, rows):
        df_, cf, s2 = st
        for tf in rows["tf"]:
            tf = int(tf)
            df_ += 1
            cf += tf
            s2 += tf * tf
        return (df_, cf, s2), [(key[0], df_, cf, s2, _half_up(cf / df_, 6))]

    return keyed_fold(
        rows, ["term"], fold, init=(0, 0, 0), state=BURST_STATE_SCHEMA,
        output=BURST_OUTPUT_SCHEMA, mode="update",
    )


# ---- live per-source KMV distinct sketch (idempotent bottom-k state) ----

KMV_OUTPUT_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("n_sketch", LongType()),
        StructField("theta", LongType()),
        StructField("est_distinct", DoubleType()),
    ]
)
KMV_STATE_SCHEMA = StructType([StructField("hs", ArrayType(LongType()))])


def kmv_stream_rows(docs: DataFrame) -> DataFrame:
    """Stream-side upstream of ``streaming_kmv_distinct``: per arriving
    document its (source, h) shingle-hash rows, with the SAME JVM
    tokenize→shingle→salted-md5 chain as the batch
    ``sketches.kmv_overlap_report`` — so the stream sketch sees the
    identical 60-bit hash population. No distinct needed upstream:
    the bottom-k state is idempotent under duplicates."""
    from pyspark.sql import functions as F

    from mito_spark.operators.dedup import hash60, staged_shingles

    return (
        staged_shingles(docs, 3, id_col="source")
        .select("source", F.explode("sh").alias("s"))
        .select("source", hash60(F.col("s"), F.lit("kmv")).alias("h"))
    )


def streaming_kmv_distinct(rows: DataFrame, k: int = 128) -> DataFrame:
    """Streaming twin of the KMV sketch core in
    ``sketches.kmv_overlap_report`` — a LIVE per-source distinct-
    shingle gauge with a state contract the counter twins cannot
    offer: bottom-k min-union is commutative, associative, AND
    IDEMPOTENT, so the final state is invariant not only to arrival
    order and micro-batch splits but to REPLAYED data — an
    at-least-once source needs no dedup in front of this monitor
    (pytest pins all three: order, split, replay). State is ≤ k
    hashes per source regardless of stream length; est_distinct
    applies the batch report's exact (k−1)·2^60/θ arithmetic
    (6dp half-up), with the < k small-set branch.

    Update mode; feed with ``kmv_stream_rows`` so the hash population
    is bit-identical to the batch chain."""
    space = float(1 << 60)

    def fold(key, st, rows):
        sk = heapq.nsmallest(k, set(st[0]).union(rows["h"].tolist()))
        n, theta = len(sk), sk[-1]
        est = float(n) if n < k else _half_up(float(k - 1) * space / float(theta), 6)
        return (sk,), [(key[0], n, theta, est)]

    return keyed_fold(
        rows, ["source"], fold, init=([],), state=KMV_STATE_SCHEMA,
        output=KMV_OUTPUT_SCHEMA, mode="update",
    )
