"""Stateful streaming sessionization (applyInPandasWithState).

A custom per-user session operator the built-in aggregations can't
express: arbitrary per-session accumulators (exact integer cents,
event counts, bounds) with explicit keyed state that survives across
micro-batches. The Python-side accumulation is arbitrary-precision
(plain ints), and the persisted state column is ``cents
decimal(38,0)``, like every batch-side cents sum: a ``cents long``
column would silently round-trip a past-int64 session total as NULL
— the Arrow state serializer neither errors nor wraps — so the next
batch touching that user would crash on ``None`` cents (pinned by
``test_sessionizer_state_survives_int64_overflow``). decimal(38,0)
holds ±1e38 cents ≈ 3e25 contract-extreme events in ONE session —
unreachable. State schema holds the trailing open session; each
batch emits every session touched in that batch (emit-on-batch-close
with amendment — downstream consumers keep the latest row per
(user_id, session_id)).

Under an ``availableNow`` drain of a single parquet file the whole
stream is one micro-batch, so the emitted set equals the batch
sessionization exactly — which is how the driver value-checks this
operator against the same SQL oracle as the batch path. Across
micro-batches both variants fold whole within-batch GAP-CHAINS into
the open session through one shared fold (_fold_chains: bounds
widen, never regress) and emit pre-session stragglers as ts-keyed
orphan rows (_orphan_rows).

Scale shape: output is one row per session — LINEAR in the input —
so the drain goes through the checkpointed parquet sink
(executor-written, exactly-once via _spark_metadata), never the
driver-resident memory sink. State is one fixed-width
tuple per user (the trailing open session + the per-user session
counter): bounded by ACTIVE-user cardinality, not event volume, and
held in the executor state store. Idle-user eviction by timeout is
deliberately NOT enabled here: session_id mirrors the batch oracle's
per-user ordinal, which requires retaining the per-user counter — a
deployment that wants eviction keys sessions by start timestamp
(globally unique without a counter) and arms an EVENT-time timeout:
:func:`sessionize_stream_evicting` below IS that deployment
mode, demonstrated and eviction-tested
(``test_stateful_sessions_state_eviction``), the same pattern as
``pipeline.minhash_dedup_over_stream``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from decimal import Decimal
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.events import SESSION_GAP_MIN
from .pipeline import drain_to_parquet, read_event_stream

GAP_US = SESSION_GAP_MIN * 60 * 1_000_000
# Lateness budget of the evicting sessionizer's event-time watermark.
WATERMARK_DELAY = "1 hour"

_OUT_SCHEMA = (
    "user_id long, session_id long, n_events long, "
    "session_start timestamp, session_end timestamp, total_value double"
)
# Trailing open session: (session_id, start_us, last_us, n, cents).
# cents is decimal(38,0) — see the module docstring; the state
# serializer REQUIRES decimal.Decimal for a decimal column (a plain
# int is silently stored as NULL — _cents_state) and hands back
# decimal.Decimal, which _state_cents normalizes to int.
_STATE_SCHEMA = ("session_id long, start_us long, last_us long, n long, "
                 "cents decimal(38,0)")


def _state_cents(raw) -> int:
    """Normalize the decimal state column to a plain Python int (the
    arbitrary-precision accumulator type): ``state.get`` returns
    decimal.Decimal for a decimal column, and Decimal would poison
    the emit path's ``/ 100.0`` (Decimal/float is a TypeError)."""
    if raw is None:
        # The state serializer stores out-of-spec values (a plain int,
        # a > precision overflow) as NULL with no error — see
        # _cents_state. A None here means the cents column NULL-round-
        # tripped (old-schema checkpoint or a write-side regression);
        # name that failure mode instead of dying with a bare
        # "int() argument must not be None" TypeError.
        raise ValueError(
            "session state 'cents' read back NULL: the decimal(38,0) "
            "state column round-tripped as None — written from a "
            "non-Decimal value or an incompatible (pre-decimal) "
            "checkpoint; see _cents_state"
        )
    return int(raw)


def _cents_state(cents: int) -> Decimal:
    """The write-side mirror of :func:`_state_cents`: the state
    serializer requires decimal.Decimal for a decimal column — a
    plain Python int is silently stored as NULL (no error, no wrap;
    observed on the first multi-batch read-back), the same
    quiet-corruption shape the decimal widening exists to kill."""
    return Decimal(cents)

_OUT_DTYPES = {"user_id": "int64", "session_id": "int64",
               "n_events": "int64", "session_start": "datetime64[ns]",
               "session_end": "datetime64[ns]", "total_value": "float64"}


def _empty_out() -> pd.DataFrame:
    # Typed, not bare columns: the Arrow serializer concats yielded
    # frames per batch, and an object-dtyped empty frame would ride
    # pandas' deprecated all-NA dtype-exclusion path (a silent dtype
    # change in a future pandas). The FutureWarning the serializer
    # still prints comes from ITS OWN all-NA padding frames
    # (serializers.py _create_batch), not from these yields.
    return pd.DataFrame({c: pd.Series(dtype=d)
                         for c, d in _OUT_DTYPES.items()})


def _batch_ts_cents(pdfs: Iterator[pd.DataFrame]):
    """Micro-batch prep shared by both group functions: concat, sort
    by (ts, event_id), convert to exact integer microseconds / cents.
    Returns ``None`` for an empty batch."""
    batch = pd.concat(list(pdfs), ignore_index=True)
    if len(batch) == 0:
        return None
    batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
    ts_us = batch["ts"].astype("int64") // 1000  # ns -> us, exact
    # sign * floor(|x|+0.5), NOT pandas .round(): the batch oracle
    # path rounds cents with Spark F.round / DuckDB round() =
    # HALF-AWAY-FROM-ZERO, while pandas rounds half-to-even, so a
    # dyadic half-cent product (value*100 exactly .5, e.g.
    # value=0.125) would diverge between the streaming and
    # batch/oracle totals. The sign-symmetric form extends the mirror
    # to negative values — bare floor(x+0.5) rounds -0.5 UP to 0
    # where both engines give -1. A NULL value would quietly
    # become int64-min garbage cents in the astype (reproduced:
    # one NULL-value session summed to -1.8e17) — the events
    # contract is value NON-NULL and finite, and the guard makes a
    # violation loud instead of silently corrupting the session.
    v = batch["value"].to_numpy()
    if not np.isfinite(v).all():
        raise ValueError(
            "NULL/NaN/Inf event value: out of contract for the stateful "
            "sessionizer (cents accumulate as exact int64)")
    val_cents = (np.sign(v) * np.floor(np.abs(v) * 100 + 0.5)).astype("int64")
    val_cents = pd.Series(val_cents, index=batch.index)
    return ts_us, val_cents


def _emit(out_rows: list[tuple]) -> pd.DataFrame:
    """Session accumulator rows -> the typed output frame (shared by
    both group functions so the value-rounding and timestamp-unit
    rules can never drift between the two variants)."""
    df = pd.DataFrame(out_rows, columns=[
        "user_id", "session_id", "n_events", "start_us", "last_us", "cents"])
    return pd.DataFrame({
        "user_id": df["user_id"],
        "session_id": df["session_id"],
        "n_events": df["n_events"],
        "session_start": pd.to_datetime(df["start_us"], unit="us"),
        "session_end": pd.to_datetime(df["last_us"], unit="us"),
        "total_value": df["cents"] / 100.0,
    })


def _gap_chains(ts_us, val_cents, gap_us: int) -> list[list[tuple[int, int]]]:
    """Segment a sorted batch into maximal GAP-CHAINS: runs of events
    whose consecutive gaps are all <= gap. Batch sessionization would
    never split a chain, so the chain — not the single event — is the
    unit CLASSIFIED against the open session. (Classifying
    event-by-event mis-orphans an admissible straggler when a LATER
    event in the same batch chains it into the session's reach: state
    [60m, 60m], gap 30m, batch {25m, 31m} — 25m alone sits below
    start-gap, but 31m bridges it.) Chains keep their per-event rows
    because orphan EMISSION is per-microsecond (see _orphan_rows)."""
    chains: list[list[tuple[int, int]]] = []  # [(us, cents), ...]
    for us, cent in zip(ts_us.to_numpy(), val_cents.to_numpy()):
        us, cent = int(us), int(cent)
        if chains and us - chains[-1][-1][0] <= gap_us:
            chains[-1].append((us, cent))
        else:
            chains.append([(us, cent)])
    return chains


def _orphan_rows(user_id, ch: list[tuple[int, int]]) -> list[tuple]:
    """A straggler chain from before the open session's reach: emit it
    as closed "orphan" rows rather than corrupt the open session or
    drop data. Orphan EMISSION is per-microsecond — one row per
    distinct straggler ts, id -(ts_us + 1) — even though
    CLASSIFICATION is per chain: an orphan row keyed by a chain's min
    would let a later batch that re-delivers ONLY the min event
    (partial at-least-once replay) replace the whole chain's row and
    permanently lose its sibling events, whereas per-ts keys make
    replacement idempotent — each straggler ts owns its amendment key,
    and a re-delivery replaces exactly itself. Ids are strictly
    negative, so they can never collide with a real session id
    (ts-keyed ids are non-negative by the pre-epoch guard; ordinal ids
    are positive) and clobber a closed session's final amendment row
    downstream. Same-ts events within a batch merge into one row —
    batch sessionization would merge them too; distinct
    same-microsecond events across batches remain approximate
    (replacement). A deployment that needs real straggler sessions
    shrinks the watermark delay so such rows are filtered, or
    reprocesses in batch."""
    if ch[0][0] < 0:
        # Negative orphan ids require non-negative event times: a
        # pre-epoch ts would flip -(ts+1) POSITIVE, colliding with a
        # real session id (a small ordinal, or a ts-keyed id sharing
        # the value) and clobbering its final amendment row
        # downstream. Refuse loudly rather than corrupt silently — a
        # deployment with genuinely pre-1970 data has a broken clock
        # upstream, not a session.
        raise ValueError(
            "sessionize: pre-epoch straggler timestamp "
            f"({ch[0][0]} us) — the negative-id orphan scheme "
            "requires non-negative event times")
    orphans: dict[int, list[int]] = {}
    for o_us, o_cent in ch:
        agg = orphans.setdefault(o_us, [0, 0])
        agg[0] += 1
        agg[1] += o_cent
    return [(user_id, -(o_us + 1), o_n, o_us, o_us, o_cents)
            for o_us, (o_n, o_cents) in orphans.items()]


def _open_session(state: GroupState, no_sid) -> tuple:
    """The trailing open session held in ``state`` as (sid, start_us,
    last_us, n, cents) with int cents, or ``(no_sid, None, None, 0,
    0)`` when the user has none."""
    if not state.exists:
        return no_sid, None, None, 0, 0
    sid, start_us, last_us, n, cents = state.get
    return sid, start_us, last_us, n, _state_cents(cents)


def _fold_chains(user_id, ts_us, val_cents, gap_us: int, session: tuple,
                 new_sid: Callable[[Any, int], Any]):
    """Fold a sorted batch's gap-chains (see _gap_chains) into the open
    ``session`` (sid, start_us, last_us, n, cents), in ascending order.
    Returns (output rows, updated session). Three cases, none of which
    may REGRESS the session's bounds (a shrinking last_us would emit
    amendment rows whose session_end moves backwards and, in the
    evicting variant, re-arm the timeout earlier):

    - ``c_min > last + gap``: close the session and start a new one
      from the chain, with id ``new_sid(sid, c_min)`` — the next
      per-user ordinal in the retained-counter variant, the chain's
      first microtimestamp in the evicting one;
    - ``c_max >= start - gap``: absorb the WHOLE chain; bounds only
      WIDEN (start=min, last=max);
    - ``c_max < start - gap``: a straggler chain from before the open
      session's reach. It cannot take the batch oracle's ordinal (that
      would renumber every later session, unknowable without retained
      history), so it is emitted as per-microsecond orphan rows with
      NEGATIVE ts-keyed ids (_orphan_rows).

    Within a single batch — the driver-verified availableNow drain —
    chains are exactly the batch sessions. Orphan classification is
    stable under SAME-BATCH widening: a chain absorbed later in this
    batch starts > gap above the orphan chain's max (chains are
    maximal within the batch), so the widened start can never reach
    back over a chain this batch already orphaned. Across batches the
    claim does NOT hold: a later batch can absorb an event that widens
    start to within gap of a previously-orphaned ts, where batch
    sessionization would have merged that orphan in. Events stay
    conserved (the orphan row stands on its own key); the divergence
    is part of the documented out-of-order approximation, bounded by
    the watermark delay."""
    sid, start_us, last_us, n, cents = session
    out: list[tuple] = []
    touched = False
    for ch in _gap_chains(ts_us, val_cents, gap_us):
        c_min, c_max = ch[0][0], ch[-1][0]
        if last_us is not None and c_max < start_us - gap_us:
            out.extend(_orphan_rows(user_id, ch))
            continue
        if last_us is None or c_min - last_us > gap_us:
            if last_us is not None:
                out.append((user_id, sid, n, start_us, last_us, cents))
            sid = new_sid(sid, c_min)
            start_us, last_us, n, cents = c_min, c_max, 0, 0
        start_us = min(start_us, c_min)
        last_us = max(last_us, c_max)
        n += len(ch)
        cents += sum(c for _, c in ch)
        touched = True
    if touched:  # trailing amendment — only if this batch changed it
        out.append((user_id, sid, n, start_us, last_us, cents))
    return out, (sid, start_us, last_us, n, cents)


def _sessionize_group(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    gap_us: int,
) -> Iterator[pd.DataFrame]:
    session = _open_session(state, 0)
    prep = _batch_ts_cents(pdfs)
    if prep is None:
        yield _empty_out()
        return
    out, (sid, start_us, last_us, n, cents) = _fold_chains(
        key[0], *prep, gap_us, session, lambda sid, c_min: sid + 1)
    state.update((sid, start_us, last_us, n, _cents_state(cents)))
    yield _emit(out)


def stateful_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stateful sessionizer over the event stream and drain it
    (availableNow) into a static DataFrame."""
    events = read_event_stream(spark, sf_dir).select(
        "user_id", "event_id", "ts", "value")

    def fn(key, pdfs, state):
        return _sessionize_group(key, pdfs, state, GAP_US)

    result = events.groupBy("user_id").applyInPandasWithState(
        fn, _OUT_SCHEMA, _STATE_SCHEMA, "append",
        GroupStateTimeout.NoTimeout,
    )
    return drain_to_parquet(spark, result, "sessions_")


# ---------------------------------------------------------------------------
# Deployment mode: state bounded by the session gap + watermark delay
# ---------------------------------------------------------------------------

# Evicting state drops the per-user counter:
# (sid_us, start_us, last_us, n, cents). session_id is sid_us — the ts
# of the session's FIRST-OBSERVED event, globally unique per user
# without any counter, which is what makes the state safe to throw
# away. It is pinned at session creation and never changes, so
# amendment rows always carry the same id; start_us is the true lower
# bound, which an absorbed out-of-order event may widen BELOW sid_us.
# cents decimal for the same NULL-round-trip reason as _STATE_SCHEMA.
_EVICT_STATE_SCHEMA = ("sid_us long, start_us long, last_us long, "
                       "n long, cents decimal(38,0)")


def _sessionize_group_evicting(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    gap_us: int,
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        # The watermark passed (last event + gap): no admissible
        # on-time event can extend the open session, so its final
        # amendment row — already emitted when last touched — stands.
        # Drop the state; the user costs nothing until they return.
        state.remove()
        return
    session = _open_session(state, None)
    prep = _batch_ts_cents(pdfs)
    if prep is None:
        yield _empty_out()
        return
    ts_us, val_cents = prep
    if int(ts_us.iloc[0]) < 0:
        # The negative-id orphan scheme relies on every REAL
        # session id (a first-observed event microtimestamp) being
        # non-negative; a pre-epoch event (corrupt producer clock)
        # would make a real id collide with an orphan id and clobber
        # its final amendment row downstream. Refuse loudly rather
        # than corrupt silently — a deployment with genuinely
        # pre-1970 data has a broken clock upstream, not a session.
        raise ValueError(
            "sessionize_stream_evicting: pre-epoch event timestamp "
            f"({int(ts_us.iloc[0])} us) — the ts-keyed session-id "
            "scheme requires non-negative event times")

    # A straggler CAN share its ts with an old session's first event;
    # ids stay disjoint because orphan ids are negative and the guard
    # above keeps real ts-keyed ids non-negative.
    out, (sid_us, start_us, last_us, n, cents) = _fold_chains(
        key[0], ts_us, val_cents, gap_us, session, lambda sid, c_min: c_min)
    state.update((sid_us, start_us, last_us, n, _cents_state(cents)))
    # Event-time deadline: an event extending this session must carry
    # ts <= last + gap, so once the watermark passes that point the
    # session is closed for every admissible event and the state can
    # go. CEILING division to milliseconds: flooring
    # last_us and gap_us separately could park the armed deadline up
    # to 999 us BELOW the true microsecond contract, so an admissible
    # event in that sub-ms window arriving after the watermark passed
    # the truncated deadline would find its state already evicted and
    # open a spurious new session. Rows BELOW the watermark never
    # even reach this function — Spark's stateful-operator
    # late-record filter drops them (pinned by the eviction test) —
    # so every row here has ts >= watermark and last+gap sits above
    # it; the clamp is pure defense against that filter ever being
    # relaxed (Spark rejects a deadline below the watermark with an
    # error).
    deadline_ms = max(-(-(last_us + gap_us) // 1000),
                      state.getCurrentWatermarkMs() + 1)
    state.setTimeoutTimestamp(deadline_ms)
    yield _emit(out)


def stateful_session_stats_evicting(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Drain :func:`sessionize_stream_evicting` over the event stream
    (availableNow) into a static DataFrame — the registered-query
    entry point for the DEPLOYMENT-mode sessionizer, mirroring
    :func:`stateful_session_stats` for the retained-counter variant.

    Under the single-parquet-file availableNow drain the whole stream
    is one micro-batch: every session is emitted exactly once, chains
    are whole sessions, no straggler is ever orphaned, and the
    watermark only advances AFTER that batch (a trailing empty batch
    fires the event-time timeouts, which emit nothing — eviction is
    silent by contract). The emitted set therefore equals batch
    sessionization with ``session_id = first event's microtimestamp``
    — which is how the driver value-checks this operator against the
    same gap-and-islands SQL oracle as the batch path, with
    ``min(epoch_us(ts))`` as the id (the ts-keyed id scheme is
    exactly what makes the state evictable; see
    :func:`sessionize_stream_evicting`)."""
    events = read_event_stream(spark, sf_dir)
    result = sessionize_stream_evicting(events)
    return drain_to_parquet(spark, result, "sessions_ev_")


def sessionize_stream_evicting(events: DataFrame) -> DataFrame:
    """Deployment-mode sessionizer, stream in → stream out: identical
    per-session accumulators to :func:`stateful_session_stats`, but
    with state EVICTED instead of retained forever.

    Two changes buy the bound (the trade-off the module docstring
    promises, demonstrated here):

    - ``session_id`` is the microtimestamp of the session's
      FIRST-OBSERVED event, not a per-user ordinal — globally unique
      with no counter to retain, so a user's state can be dropped and
      later rebuilt from zero without colliding ids. The id is pinned
      at session creation so every amendment row carries the same
      key; an absorbed out-of-order event may widen ``session_start``
      below it (bounds are min/max-monotone, never regressed — see
      the gap-chain case analysis in the group function, which
      classifies whole within-batch chains, not single events, so an
      admissible straggler bridged into the session's reach by a
      later same-batch event is absorbed, exactly as batch
      sessionization would; orphaned stragglers are emitted
      per-microsecond so a partial replay replaces only its own
      row). Pre-epoch event timestamps are rejected loudly — the id
      scheme needs non-negative times to keep orphan ids (negative)
      disjoint from real ids.
    - Each update arms an EVENT-time timeout at (last event + gap):
      once the watermark — ``max(ts) - WATERMARK_DELAY`` across the
      stream —
      passes it, no on-time event can extend the open session, the
      group function fires with ``hasTimedOut`` and removes the
      state. Event-time, not ProcessingTimeTimeout, for the same
      reason as ``minhash_dedup_over_stream``: wall-clock deadlines
      keep an availableNow drain spinning empty micro-batches until
      the last one fires.

    State is therefore bounded by users ACTIVE in the trailing
    (gap + delay) window — independent of total user cardinality on
    a continuous stream, the property the retained-counter variant
    gives up for oracle-exact ordinals. Events LATER than the
    watermark delay never reach the operator at all: Spark's
    stateful late-record filter drops them (so an evicted session is
    final, not resurrectable — the delay is the lateness budget a
    deployment tunes). Emission contract is unchanged: every session
    touched in a batch is emitted, trailing open sessions by
    amendment (downstream keeps the latest row per
    (user_id, session_id)); eviction itself emits nothing because the
    closed session's final row went out when it was last touched.
    Eviction proven by ``test_stateful_sessions_state_eviction``;
    value parity with the batch sessionizer (modulo the id scheme) by
    ``test_stateful_sessions_evicting_matches_batch``.
    """
    def fn(key, pdfs, state):
        return _sessionize_group_evicting(key, pdfs, state, GAP_US)

    return (
        events.select("user_id", "event_id", "ts", "value")
        .withWatermark("ts", WATERMARK_DELAY)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, _OUT_SCHEMA, _EVICT_STATE_SCHEMA, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
