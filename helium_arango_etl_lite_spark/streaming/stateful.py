"""Custom stateful streaming operators via ``applyInPandasWithState``
(SURVEY.md section 2.6 — the engine's extension point for semantics the
built-in aggregates can't express). Sketch state that merges by sum or
max (CMS cells, histogram bins, HLL registers) needs no Python: a
built-in streaming ``groupBy().agg(sum|max)`` in update mode is its
whole state machine.

Example operator: per-key running totals that survive across micro-batches
— the streaming analog of the reference's ever-growing follower state, but
partitioned by key across executors with explicit, schema-declared state.

Scale notes: state lives in the state store partitioned by group key; each
micro-batch touches only the keys present in that batch (plus timeouts).
The per-group pandas iteration is Arrow-batched. This is the pattern to
extend for sessionization with custom emission rules, CDC-style merge, or
online sketch maintenance.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType, DoubleType, LongType, StringType, StructField, StructType,
)

RUNNING_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("n_events_total", LongType(), False),
        StructField("total_value", DoubleType(), True),
        StructField("batch_rows", LongType(), False),
    ]
)

RUNNING_TOTALS_STATE = StructType(
    [
        StructField("n", LongType(), False),
        StructField("v", DoubleType(), True),
    ]
)


def _update_running_totals(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Accumulate (count, sum(value)) per key across micro-batches; emit the
    running totals once per key per batch it appears in."""
    n, v = state.get if state.exists else (0, 0.0)
    batch_rows = 0
    for pdf in pdfs:  # Arrow-batched chunks of this key's rows in the batch
        batch_rows += len(pdf)
        n += len(pdf)
        v += float(pdf["value"].fillna(0.0).sum())
    state.update((n, v))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events_total": [n],
            "total_value": [round(v, 6)],
            "batch_rows": [batch_rows],
        }
    )


def running_totals(
    events: DataFrame, key_col: str = "user_id", value_col: str = "value"
) -> DataFrame:
    """Per-key running totals over an unbounded stream.

    A built-in streaming ``groupBy().agg(count, sum)`` in update mode
    would emit the same cumulative totals; this operator keeps them in
    Python state because it also emits ``batch_rows``, each key's row
    count in the CURRENT batch, which is not a cumulative aggregate. It
    is the template for any custom state machine.
    """
    sel = events.select(
        events[key_col].alias("user_id"), events[value_col].alias("value")
    )
    return sel.groupBy("user_id").applyInPandasWithState(
        _update_running_totals,
        outputStructType=RUNNING_TOTALS_SCHEMA,
        stateStructType=RUNNING_TOTALS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CUSUM_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("n_events", LongType(), False),
        StructField("n_alarms", LongType(), False),
        StructField("max_cusum", LongType(), False),
        StructField("first_alarm_us", LongType(), True),
    ]
)

CUSUM_STATE = StructType(
    [
        StructField("s", LongType(), False),
        StructField("mx", LongType(), False),
        StructField("alarms", LongType(), False),
        StructField("first_us", LongType(), True),
        StructField("n", LongType(), False),
    ]
)


def make_cusum_update(mult: int, h: int):
    """Build the per-key CUSUM update fn (closure carries the dials).

    Runs the LITERAL Page recursion ``s = max(0, s + xc - mult*mean_c)``
    row-by-row in event-time order — the stateful computation the batch
    entry ``events_cusum_alarm`` expresses declaratively via the
    prefix-min identity. The two are verified HASH-IDENTICAL by the
    replay entry (plans/catalog_round8.py:stream_cusum_replay), which is
    the strongest cross-form check the repo has: same numbers from a
    recursion over micro-batch state and from two window functions.

    Rows inside a micro-batch arrive unordered (Arrow chunks); the fn
    sorts each batch's group by (ts_us, event_id). Cross-batch order is
    the replay harness's contract (time-split batches, controlled
    mtimes). A null deviation contributes nothing to the state but the
    row still counts and the CURRENT s is still alarm-evaluated —
    matching how window sums skip nulls batch-side.
    """

    def update(key, pdfs, state: GroupState):
        s, mx, alarms, first_us, n = (
            state.get if state.exists else (0, 0, 0, None, 0)
        )
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["ts_us", "event_id"], kind="mergesort")
        for ts_us, xc, mean_c in zip(
            pdf["ts_us"].values, pdf["xc"].values, pdf["mean_c"].values
        ):
            n += 1
            if not pd.isna(xc):
                s = max(0, s + int(xc) - mult * int(mean_c))
            mx = max(mx, s)
            if s > h:
                alarms += 1
                if first_us is None:
                    first_us = int(ts_us)
        state.update((int(s), int(mx), int(alarms), first_us, int(n)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "n_alarms": [alarms],
                "max_cusum": [mx],
                "first_alarm_us": [first_us],
            }
        )

    return update


def cusum_monitor(events: DataFrame, mult: int, h: int) -> DataFrame:
    """Streaming CUSUM drift monitor (calibrate-then-monitor shape):
    ``events`` carries precomputed per-row ``xc`` (integer cents) and
    ``mean_c`` (the calibration mean, joined onto the stream from the
    history table). State per user is five integers — O(keys), bounded
    forever, no timeline retained."""
    sel = events.select("user_id", "ts_us", "event_id", "xc", "mean_c")
    return sel.groupBy("user_id").applyInPandasWithState(
        make_cusum_update(mult, h),
        outputStructType=CUSUM_SCHEMA,
        stateStructType=CUSUM_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("session_start_us", LongType(), False),
        StructField("n_events", LongType(), False),
        StructField("total_cents", LongType(), False),
    ]
)

SESSION_STATE = StructType(
    [
        StructField("start_us", LongType(), False),
        StructField("last_us", LongType(), False),
        StructField("n", LongType(), False),
        StructField("cents", LongType(), False),
    ]
)


def make_session_update(gap_us: int):
    """Build the per-key sessionization update fn (gap-based windows).

    The stateful analog of the native ``session_window`` operator
    (plans/catalog_core.py:agg_session_window): a new session starts
    when the inter-event gap is >= ``gap_us`` — the same boundary the
    gaps-and-islands oracle uses (``ts - lag(ts) >= INTERVAL``), so the
    recursion and the batch operator are hash-comparable.

    Emission contract (update mode): each micro-batch emits every
    session CLOSED inside it (final rows — a closed session can never
    be touched again) plus the still-OPEN session provisionally; a later
    batch that extends the open session re-emits the same
    (user_id, session_start_us) key with larger n_events, so readers
    keep the LAST emission per key (plans/catalog_round8b.py:
    stream_session_replay takes max batch_id). State per user is four
    integers — the open session only; closed timelines are never
    retained.
    """

    def update(key, pdfs, state: GroupState):
        if state.exists:
            start, last, n, cents = state.get
        else:
            start = None
            last = n = cents = 0
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["ts_us", "event_id"], kind="mergesort")
        out = []
        for ts_us, xc in zip(pdf["ts_us"].values, pdf["xc"].values):
            ts_us = int(ts_us)
            if start is None:
                start, last, n, cents = ts_us, ts_us, 1, int(xc)
            elif ts_us - last >= gap_us:
                out.append((key[0], start, n, cents))  # closed: final
                start, last, n, cents = ts_us, ts_us, 1, int(xc)
            else:
                last, n, cents = ts_us, n + 1, cents + int(xc)
        state.update((int(start), int(last), int(n), int(cents)))
        out.append((key[0], start, n, cents))  # open: provisional
        yield pd.DataFrame(
            out,
            columns=["user_id", "session_start_us", "n_events", "total_cents"],
        )

    return update


def sessionize(events: DataFrame, gap_us: int) -> DataFrame:
    """Streaming gap-based sessionization with four integers of state per
    user (the OPEN session only); ``events`` carries ``ts_us`` micros and
    ``xc`` integer cents."""
    sel = events.select("user_id", "ts_us", "event_id", "xc")
    return sel.groupBy("user_id").applyInPandasWithState(
        make_session_update(gap_us),
        outputStructType=SESSION_SCHEMA,
        stateStructType=SESSION_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# SCD2 dimension maintenance as a stateful stream (CDC-style versioning)
# ---------------------------------------------------------------------------

SCD2_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("attr", StringType(), False),
        StructField("valid_from_us", LongType(), False),
        StructField("valid_to_us", LongType(), True),
        StructField("version", LongType(), False),
    ]
)

SCD2_STATE = StructType(
    [
        StructField("last_attr", StringType(), True),
        StructField("version", LongType(), False),
        StructField("cur_from_us", LongType(), False),
    ]
)


def _scd2_update(key, pdfs, state: GroupState):
    """Per-user SCD2 maintenance: three fields of state (current attr,
    version counter, current valid_from). A change point CLOSES the
    previous version (final — its valid_to can never move again) and
    opens a new one (provisional, valid_to NULL); readers keep the last
    emission per (user_id, version). Within a batch, later dispositions
    of the same version overwrite earlier ones, so each batch emits at
    most one row per touched version — the streaming dual of
    plans/catalog_round8c.py:scd2_build's change-point compression."""
    if state.exists:
        last_attr, version, cur_from = state.get
    else:
        last_attr, version, cur_from = None, 0, 0
    pdf = pd.concat(list(pdfs), ignore_index=True)
    pdf = pdf.sort_values(["ts_us", "event_id"], kind="mergesort")
    rows: dict[int, tuple] = {}
    for ts_us, attr in zip(pdf["ts_us"].values, pdf["attr"].values):
        ts_us = int(ts_us)
        if last_attr is None or attr != last_attr:
            if last_attr is not None:
                rows[version] = (
                    key[0], last_attr, cur_from, ts_us, version
                )
            version += 1
            cur_from = ts_us
            last_attr = attr
    state.update((last_attr, int(version), int(cur_from)))
    rows[version] = (key[0], last_attr, cur_from, None, version)
    yield pd.DataFrame(
        list(rows.values()),
        columns=["user_id", "attr", "valid_from_us", "valid_to_us", "version"],
    )


def scd2_stream(events: DataFrame) -> DataFrame:
    """Streaming SCD2 build; ``events`` carries ``ts_us`` micros and the
    tracked attribute in ``attr``."""
    sel = events.select("user_id", "ts_us", "event_id", "attr")
    return sel.groupBy("user_id").applyInPandasWithState(
        _scd2_update,
        outputStructType=SCD2_SCHEMA,
        stateStructType=SCD2_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# CDC merge: column-patch upserts + tombstone deletes, replayed as a stream
# ---------------------------------------------------------------------------

CDC_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("last_valc", LongType(), True),
        StructField("last_attr", StringType(), True),
        StructField("last_seq", LongType(), False),
        StructField("n_live", LongType(), False),
    ]
)

CDC_STATE = StructType(
    [
        StructField("valc", LongType(), True),
        StructField("attr", StringType(), True),
        StructField("seq", LongType(), False),
        StructField("n", LongType(), False),
    ]
)


def _cdc_update(key, pdfs, state: GroupState):
    """Per-key CDC merge: an 'U' op patches only the columns it carries
    (NULL columns leave prior state intact — column-level change
    capture, not whole-row replace); a 'D' tombstone resets the key to
    empty so later upserts rebuild from scratch. State is four scalars
    per key; each batch emits the key's current materialized row and
    readers keep the LAST emission per key, dropping keys whose final
    state has n == 0 (deleted and never rebuilt) — the streaming dual
    of plans/catalog_round10c.py:cdc_apply."""
    if state.exists:
        valc, attr, seq, n = state.get
    else:
        valc, attr, seq, n = None, None, 0, 0
    pdf = pd.concat(list(pdfs), ignore_index=True)
    pdf = pdf.sort_values("seq", kind="mergesort")
    for op, row_seq, row_valc, row_attr in zip(
        pdf["op"].values, pdf["seq"].values,
        pdf["valc"].values, pdf["attr"].values,
    ):
        if op == "D":
            valc, attr, n = None, None, 0
        else:
            n += 1
            if not pd.isna(row_valc):
                valc = int(row_valc)
            if not (row_attr is None or row_attr != row_attr):  # NaN-safe
                attr = row_attr
        seq = int(row_seq)
    state.update((valc, attr, int(seq), int(n)))
    yield pd.DataFrame(
        [(key[0], valc, attr, int(seq), int(n))],
        columns=["user_id", "last_valc", "last_attr", "last_seq", "n_live"],
    )


def cdc_stream(changes: DataFrame) -> DataFrame:
    """Streaming CDC merge; ``changes`` carries per-key monotone ``seq``,
    ``op`` in {'U','D'}, and nullable patch columns ``valc``/``attr``."""
    sel = changes.select("user_id", "seq", "op", "valc", "attr")
    return sel.groupBy("user_id").applyInPandasWithState(
        _cdc_update,
        outputStructType=CDC_SCHEMA,
        stateStructType=CDC_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# last-touch attribution as a stream: one string of state per user
# ---------------------------------------------------------------------------

ATTR_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("channel", StringType(), False),
        StructField("cents", LongType(), False),
        StructField("seq", LongType(), False),
    ]
)

ATTR_STATE = StructType([StructField("last_touch", StringType(), True)])

_ATTR_TOUCHES = ("click", "view", "signup")


def _attr_update(key, pdfs, state: GroupState):
    """Carry the user's most recent touch type across micro-batches;
    every purchase emits ONE credit row (channel = carried touch or
    'direct') the moment it is seen — append semantics, so the reader
    aggregates all emissions without last-wins dedup. State is one
    nullable string per user; the batch twin is
    plans/catalog_round10d.py:events_attribution."""
    (last,) = state.get if state.exists else (None,)
    pdf = pd.concat(list(pdfs), ignore_index=True)
    pdf = pdf.sort_values("seq", kind="mergesort")
    out = []
    for et, seq, cents in zip(
        pdf["event_type"].values, pdf["seq"].values, pdf["cents"].values
    ):
        if et in _ATTR_TOUCHES:
            last = et
        elif et == "purchase":
            out.append(
                (key[0], last if last is not None else "direct",
                 int(cents), int(seq))
            )
    state.update((last,))
    yield pd.DataFrame(
        out, columns=["user_id", "channel", "cents", "seq"]
    )


def attribution_stream(events: DataFrame) -> DataFrame:
    """Streaming last-touch attribution; ``events`` carries per-user
    monotone ``seq``, ``event_type`` and integer ``cents``."""
    sel = events.select("user_id", "seq", "event_type", "cents")
    return sel.groupBy("user_id").applyInPandasWithState(
        _attr_update,
        outputStructType=ATTR_SCHEMA,
        stateStructType=ATTR_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# streaming Count-Min Sketch maintenance (round 12 — r11 verdict item 8)
# ---------------------------------------------------------------------------


def cms_cells_stream(increments: DataFrame) -> DataFrame:
    """Maintain a Count-Min Sketch over an unbounded increment stream.

    ``increments`` is a stream of ``(d, b, c)`` PRE-AGGREGATED cell
    increments — the producer groups each micro-batch's token
    occurrences down to per-cell partial counts before they reach the
    state store (exact by the sketch's additive mergeability; the
    counts sum in any order), so the shuffle INTO the stateful
    aggregate is bounded at depth*width rows per batch regardless of
    token volume. A cell's state is a sum, so a built-in streaming
    ``sum`` is the whole state machine: in update mode it emits each
    touched cell's RUNNING count per micro-batch; the latest emission
    per cell is the sketch, and estimation/top-k runs batch-side over
    it (``cms_estimate_topk``). State is bounded by construction at
    depth*width keys — the whole point of sketching the stream instead
    of keeping per-token counts (an exact streaming top-k would hold
    the full Zipf-tailed vocabulary in state)."""
    return increments.groupBy("d", "b").agg(F.sum("c").alias("c"))


# ---------------------------------------------------------------------------
# OUT-OF-ORDER sessionization via interval merge (round 12)
#
# make_session_update above requires time-ordered micro-batches (its
# state is the single OPEN session; a closed session is final). This
# variant drops that contract entirely: events may arrive in ANY order
# across batches — a late event landing between two existing sessions
# FUSES them — at the price of keeping the user's full interval list in
# state (bounded by session count, not event count).
# ---------------------------------------------------------------------------

SESSIONIZE_OOO_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("session_start_us", LongType(), False),
        StructField("session_end_us", LongType(), False),
        StructField("n_events", LongType(), False),
        StructField("total_value_c", LongType(), False),
    ]
)

SESSIONIZE_OOO_STATE = StructType(
    [
        StructField("starts", ArrayType(LongType()), False),
        StructField("ends", ArrayType(LongType()), False),
        StructField("ns", ArrayType(LongType()), False),
        StructField("sums", ArrayType(LongType()), False),
    ]
)


def make_ooo_session_update(gap_us: int):
    """Build the per-user sessionize update fn (closure carries the gap).

    State is the user's FULL interval list [(start, end, n, sum_cents)]
    sorted by start; each micro-batch's events arrive as (ts, cents)
    points that are folded in by a classic interval merge: two sessions
    merge iff the later's start minus the earlier's end is < gap. This
    handles OUT-OF-ORDER arrival exactly — an event landing between two
    existing sessions can fuse them into one, which the built-in
    session_window + watermark pipeline would only get right within the
    watermark horizon. Each batch the user appears in emits the user's
    whole current session list; the replay keeps only the LAST
    emission per user, which is then a pure function of the complete
    event set — provably equal to the batch gaps-and-islands answer.

    State is bounded by the user's SESSION count, not the event count
    (n/sum accumulate; only boundaries are kept). A production deploy
    evicts closed sessions past the watermark; the replay keeps all so
    the batch equivalence is exact.
    """

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            starts, ends, ns, sums = state.get
            items = list(zip(starts, ends, ns, sums))
        else:
            items = []
        for pdf in pdfs:
            items.extend(
                (int(t), int(t), 1, int(v))
                for t, v in zip(pdf["ts_us"], pdf["value_c"])
            )
        items.sort()
        merged: list[tuple[int, int, int, int]] = []
        for s, e, n, v in items:
            if merged and s - merged[-1][1] < gap_us:
                ls, le, ln, lv = merged[-1]
                merged[-1] = (ls, max(le, e), ln + n, lv + v)
            else:
                merged.append((s, e, n, v))
        state.update(
            (
                [m[0] for m in merged],
                [m[1] for m in merged],
                [m[2] for m in merged],
                [m[3] for m in merged],
            )
        )
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(merged),
                "session_start_us": [m[0] for m in merged],
                "session_end_us": [m[1] for m in merged],
                "n_events": [m[2] for m in merged],
                "total_value_c": [m[3] for m in merged],
            }
        )

    return update


def sessionize_ooo(
    events: DataFrame, gap_us: int = 30 * 60 * 1_000_000
) -> DataFrame:
    """Per-user session windows over an unbounded stream, exact under
    out-of-order arrival (see :func:`make_ooo_session_update`). Input
    must provide ``user_id, ts_us, value_c``."""
    return events.groupBy("user_id").applyInPandasWithState(
        make_ooo_session_update(gap_us),
        outputStructType=SESSIONIZE_OOO_SCHEMA,
        stateStructType=SESSIONIZE_OOO_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# streaming HyperLogLog maintenance (round 13 — max-mergeable registers)
#
# The CMS above certifies SUM-mergeable sketch state; HLL registers are
# the MAX-mergeable family (a register is the max rho ever seen for its
# bucket — operators/aggregates.hll_registers). Same discipline: the
# producer pre-reduces each micro-batch to per-register partial maxima
# (<= m rows per group per batch — map-side combine for the state
# store), the state holds exactly one value per touched register, and
# the latest update-mode emission per register is the sketch.
# ---------------------------------------------------------------------------


def hll_registers_stream(partials: DataFrame) -> DataFrame:
    """Maintain per-group HyperLogLog registers over an unbounded
    stream of ``(g, b, r)`` PRE-REDUCED partial maxima with a built-in
    streaming ``max``: max is idempotent and order-free, so replaying or
    reordering batches can never change the converged register — an
    even stronger merge contract than the CMS sum. State is bounded at
    groups x m registers by construction; the distinct-count readout
    (``operators/aggregates.hll_estimate``) runs batch-side over the
    latest emission per register."""
    return partials.groupBy("g", "b").agg(F.max("r").alias("r"))
