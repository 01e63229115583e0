"""Arbitrary stateful processing, Spark 4 tier (SURVEY.md §2.9):
``transformWithStateInPandas`` per-satellite decay tracking.

Same semantics as the ``applyInPandasWithState`` tracker
(``stateful.py`` — the Spark 3.x API kept as the compatibility tier):
carry (last_epoch_us, last_mean_motion, n_seen) per ``norad_id`` across
micro-batches, emit one forward-moving delta row per new epoch. The v2
API is where stateful streaming is headed — an object-oriented
``StatefulProcessor`` with NAMED state variables (``getValueState``;
list/map state, TTL and timers available on the same handle), so one
operator can hold several independently-evolvable state shapes instead
of packing everything into a single tuple.

Requires the RocksDB state store provider (the transformWithState
backend) and the protobuf package (the TWS Python runner's
driver-worker handshake is proto-serialized); the test sets the
provider on the session and self-skips where protobuf is absent —
in that case ``stateful.decay_tracker`` (v1) is the production path.

Scale notes identical to v1: state is 3 scalars per satellite, input
shuffles once on norad_id, Arrow-grouped batches.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

from .stateful import OUTPUT_SCHEMA, STATE_SCHEMA, fold_epochs


class DecayTrackerProcessor(StatefulProcessor):
    def init(self, handle: StatefulProcessorHandle) -> None:
        self._track = handle.getValueState("track", STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):
        (norad_id,) = key
        out, folded = fold_epochs(norad_id, rows, self._track.get())
        self._track.update(folded)
        yield out

    def close(self) -> None:
        pass


def decay_tracker_v2(parsed: DataFrame) -> DataFrame:
    """parsed telemetry stream → per-epoch decay deltas, carried by the
    transformWithStateInPandas state store. Drop-in output-compatible
    with ``stateful.decay_tracker``."""
    from pyspark.sql import functions as F

    src = parsed.select(
        "norad_id",
        F.unix_micros("epoch_utc").alias("epoch_us"),
        "mean_motion",
    )
    return src.groupBy("norad_id").transformWithStateInPandas(
        DecayTrackerProcessor(),
        OUTPUT_SCHEMA,
        "append",
        "none",
    )


# --------------------------------------------------------------------------
# Event-time timers: session finalization on watermark passage
# --------------------------------------------------------------------------

SESSION_STATE_SCHEMA = (
    "first_us long, last_us long, n_events long, total_cents long"
)
SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_start_us long, session_end_us long,"
    " n_events long, total_cents long"
)


def make_session_finalizer(gap_ms: int) -> StatefulProcessor:
    """Build a SessionFinalizerProcessor instance whose CLASS is defined
    inside this function on purpose: cloudpickle serializes dynamically
    defined classes BY VALUE, so the processor runs on Python workers
    that cannot import this package (any externally created
    SparkSession — the driver's own session included — ships only
    pyspark on the worker path; module-level classes pickle by
    reference and die with ModuleNotFoundError there). The nested
    mapInPandas kernels in operators/multimodal.py rely on the same
    property for plain functions."""

    class SessionFinalizerProcessor(StatefulProcessor):
        """Gap-based sessionizer built on transformWithState EVENT-TIME
        TIMERS — the state-lifecycle feature the decay tracker doesn't
        exercise: sessions that close *inside* a batch (an in-batch gap)
        emit inline, while each user's trailing open session is finalized
        by ``handleExpiredTimer`` when the WATERMARK passes its
        gap-extended end — the streaming answer to "a session is over only
        once late data can no longer extend it". Timer hygiene matters:
        every batch re-arms the user's single close timer at
        last_event + gap (delete-then-register), so a user active across
        many batches never fires early and holds exactly one timer.

        State is 4 int64s per user (money carried as integer cents — no
        floats in state); timers are one per live user. Ordering contract:
        event-time order is total per user ACROSS batches at the gap
        granularity (time-sliced landing files — the standard incremental
        ingest layout). A session split across an out-of-order batch
        boundary would need merge-on-read (Spark's built-in
        ``session_window`` semantics, streaming/windowed.py); this
        operator documents the in-order contract instead of silently
        approximating the merge.

        Parity (tests/test_streaming.py): emitted sessions across a
        multi-batch AvailableNow drain == the batch sessionization of the
        same data, minus exactly the per-user trailing sessions the final
        watermark hasn't released — computed from the same frame, asserted
        equal.
        """

        def __init__(self, gap_ms: int):
            self._gap_ms = int(gap_ms)

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._sess = handle.getValueState("sess", SESSION_STATE_SCHEMA)

        @staticmethod
        def _row(user_id, first_us, last_us, n, cents):
            return {
                "user_id": [int(user_id)],
                "session_start_us": [int(first_us)],
                "session_end_us": [int(last_us)],
                "n_events": [int(n)],
                "total_cents": [int(cents)],
            }

        def handleInputRows(self, key, rows, timerValues):
            (user_id,) = key
            gap_us = self._gap_ms * 1000
            cur = self._sess.get()
            if cur is not None:
                first_us, last_us, n, cents = cur
            else:
                first_us = last_us = None
                n = cents = 0

            closed: list[dict] = []
            # Buffer ALL chunks, then sort once per key: a key's batch
            # rows span multiple Arrow chunks (maxRecordsPerBatch / map
            # task interleave) with no cross-chunk order — per-chunk
            # sorting would compute wrong gap splits and first_us.
            chunks = [pdf for pdf in rows if len(pdf)]
            if chunks:
                merged = (
                    pd.concat(chunks, ignore_index=True)
                    if len(chunks) > 1
                    else chunks[0]
                ).sort_values("ts_us")
                for ts_us, c in zip(merged["ts_us"], merged["cents"]):
                    ts_us, c = int(ts_us), int(c)
                    if last_us is not None and ts_us - last_us >= gap_us:
                        closed.append(
                            self._row(user_id, first_us, last_us, n, cents)
                        )
                        first_us, n, cents = None, 0, 0
                    if first_us is None:
                        first_us = ts_us
                    n += 1
                    cents += c
                    last_us = ts_us if last_us is None else max(last_us, ts_us)

            # guard: a key can surface with an empty row iterator (e.g. all
            # its rows filtered upstream in this batch) — leave state and
            # timer untouched rather than writing a null session
            if last_us is not None:
                self._sess.update((first_us, last_us, n, cents))
                # one close timer per user, re-armed to the open session's
                # gap-extended end
                for tms in self._handle.listTimers():
                    self._handle.deleteTimer(tms)
                self._handle.registerTimer(last_us // 1000 + self._gap_ms)
            for r in closed:
                yield pd.DataFrame(r)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            (user_id,) = key
            cur = self._sess.get()
            if cur is not None:
                first_us, last_us, n, cents = cur
                self._sess.clear()
                yield pd.DataFrame(
                    self._row(user_id, first_us, last_us, n, cents)
                )

        def close(self) -> None:
            pass

    return SessionFinalizerProcessor(gap_ms)


def session_finalizer_v2(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """events stream → finalized session summaries, closed either by an
    in-batch gap or by the event-time timer once the watermark passes
    session_end + gap. Money is integer cents end-to-end."""
    from pyspark.sql import functions as F

    src = (
        events.withWatermark("ts", "0 seconds")
        .select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("cents"),
        )
    )
    return src.groupBy("user_id").transformWithStateInPandas(
        make_session_finalizer(gap_minutes * 60_000),
        SESSION_OUTPUT_SCHEMA,
        "append",
        "eventTime",
    )


# --------------------------------------------------------------------------
# ListState: streaming trailing median (ring buffer per key)
# --------------------------------------------------------------------------

RING_STATE_SCHEMA = "ts_us long, event_id long, cents long"
MEDIAN_OUTPUT_SCHEMA = (
    "user_id long, event_id long, n_window long, median_cents_x2 long"
)


def make_trailing_median() -> StatefulProcessor:
    """Build a TrailingMedianProcessor whose class is defined inside
    this function so cloudpickle ships it BY VALUE — runnable on any
    session's workers without this package on their path (the
    make_session_finalizer contract)."""

    class TrailingMedianProcessor(StatefulProcessor):
        """Streaming twin of the batch ``trailing_median_per_user`` query
        (ROWS BETWEEN 4 PRECEDING AND CURRENT ROW exact median), carried
        across micro-batches by a transformWithState LIST state — the
        named-state shape the ValueState trackers can't express: the
        operator needs the last N (ts, event_id, value) rows per key, not
        a fold of them, and ListState stores exactly that ring buffer
        (appendValue per event, put() to trim to the window width — state
        is bounded at N rows per key BY CONSTRUCTION, independent of
        stream length).

        The median is emitted 2x-scaled over integer cents (sum of the two
        middle elements; 2x the middle for odd windows) so every emitted
        value is an exact int64 — the same scaled-integer convention as
        the Mann-Whitney ranks — and batch parity is bit-exact, not
        tolerance-based. Ordering contract as SessionFinalizerProcessor:
        per-key event-time order across batches (time-sliced landing).
        """

        WINDOW = 5

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._ring = handle.getListState("ring", RING_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            (user_id,) = key
            buf = [tuple(r) for r in self._ring.get()] if self._ring.exists() else []
            out: dict[str, list] = {
                "user_id": [],
                "event_id": [],
                "n_window": [],
                "median_cents_x2": [],
            }
            # Buffer all Arrow chunks and sort once per key (cross-chunk
            # row order is not guaranteed; per-chunk sorting would feed
            # the ring buffer out of event order).
            chunks = [pdf for pdf in rows if len(pdf)]
            if chunks:
                merged = (
                    pd.concat(chunks, ignore_index=True)
                    if len(chunks) > 1
                    else chunks[0]
                ).sort_values(["ts_us", "event_id"])
                for ts_us, event_id, c in zip(
                    merged["ts_us"], merged["event_id"], merged["cents"]
                ):
                    buf.append((int(ts_us), int(event_id), int(c)))
                    buf = buf[-self.WINDOW:]
                    vals = sorted(v for _, _, v in buf)
                    n = len(vals)
                    m2 = (
                        2 * vals[n // 2]
                        if n % 2
                        else vals[n // 2 - 1] + vals[n // 2]
                    )
                    out["user_id"].append(int(user_id))
                    out["event_id"].append(int(event_id))
                    out["n_window"].append(n)
                    out["median_cents_x2"].append(m2)
            self._ring.put(buf)
            yield pd.DataFrame(out)

        def close(self) -> None:
            pass

    return TrailingMedianProcessor()


def trailing_median_v2(events: DataFrame) -> DataFrame:
    """events stream → exact trailing-5 median per user, ring-buffered
    in ListState across micro-batches."""
    from pyspark.sql import functions as F

    src = events.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    return src.groupBy("user_id").transformWithStateInPandas(
        make_trailing_median(),
        MEDIAN_OUTPUT_SCHEMA,
        "append",
        "none",
    )


# --------------------------------------------------------------------------
# MapState: per-key categorical distribution, maintained incrementally
# --------------------------------------------------------------------------

TYPEMIX_OUTPUT_SCHEMA = (
    "user_id long, n_types long, n_events long, modal_type string,"
    " modal_n long"
)


class TypeMixProcessor(StatefulProcessor):
    """Per-user event-type distribution carried in transformWithState
    MAP state — the named-state shape for keyed sub-dictionaries: the
    counter for ONE event type updates without rewriting the user's
    whole distribution (contrast a ValueState holding the serialized
    map, which pays a full read-modify-write per event at the state
    store). State size per user is bounded by the event-type DOMAIN,
    not the stream.

    After each batch that touches a user, emits the user's current
    (distinct types, total events, modal type) with the deterministic
    count-desc/name-asc tiebreak — the same convention as the batch
    rollups. Incremental correctness is exactly map-merge
    commutativity: counts accumulated across any micro-batch slicing
    equal the batch groupBy, pinned by the parity test.
    """

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._counts = handle.getMapState(
            "counts", "event_type string", "n long"
        )

    def handleInputRows(self, key, rows, timerValues):
        (user_id,) = key
        for pdf in rows:
            for etype, n in pdf["event_type"].value_counts().items():
                prior = (
                    self._counts.getValue((etype,))
                    if self._counts.containsKey((etype,))
                    else None
                )
                self._counts.updateValue(
                    (etype,), (int(n) + (int(prior[0]) if prior else 0),)
                )
        dist = [
            (k[0], int(v[0])) for k, v in self._counts.iterator()
        ]
        if not dist:  # empty row iterator for this key in this batch
            return
        modal_type, modal_n = min(
            ((t_, n_) for t_, n_ in dist), key=lambda kv: (-kv[1], kv[0])
        )
        yield pd.DataFrame(
            {
                "user_id": [int(user_id)],
                "n_types": [len(dist)],
                "n_events": [sum(n_ for _, n_ in dist)],
                "modal_type": [modal_type],
                "modal_n": [modal_n],
            }
        )

    def close(self) -> None:
        pass


def type_mix_v2(events: DataFrame) -> DataFrame:
    """events stream → per-user current event-type mix, MapState-backed."""
    return events.select(
        "user_id", "event_type"
    ).groupBy("user_id").transformWithStateInPandas(
        TypeMixProcessor(),
        TYPEMIX_OUTPUT_SCHEMA,
        "append",
        "none",
    )


# --------------------------------------------------------------------------
# State TTL: suppression window that forgets on wall-clock expiry
# --------------------------------------------------------------------------

SUPPRESS_OUTPUT_SCHEMA = "norad_id long, emitted long"


class TTLSuppressorProcessor(StatefulProcessor):
    """First-seen emitter whose memory EXPIRES: a key emits once, is
    suppressed while its ValueState lives, and emits again after the
    state's TTL lapses — the alert-dedup / re-notification shape
    ("page once per incident per hour"), and the state-store-native
    alternative to dropDuplicatesWithinWatermark when the horizon is
    wall-clock (operational) rather than event-time.

    The TTL is declared ON THE STATE (``getValueState(..,
    ttlDurationMs)``) and enforced by the store itself — no timer
    bookkeeping, no manual sweep; expired values read back as absent.
    State per key is one int64 under a TTL bound, so the live state
    set is bounded by keys-active-per-TTL-window, not stream history.
    """

    def __init__(self, ttl_ms: int):
        self._ttl_ms = int(ttl_ms)

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._seen = handle.getValueState(
            "seen", "n long", ttlDurationMs=self._ttl_ms
        )

    def handleInputRows(self, key, rows, timerValues):
        (norad_id,) = key
        n = sum(len(pdf) for pdf in rows)
        if self._seen.get() is None:
            self._seen.update((1,))
            yield pd.DataFrame(
                {"norad_id": [int(norad_id)], "emitted": [int(n)]}
            )
        # else: suppressed — state alive within TTL; nothing emitted

    def close(self) -> None:
        pass


def ttl_suppressor_v2(parsed: DataFrame, ttl_ms: int) -> DataFrame:
    """parsed telemetry stream → one row per satellite per TTL window."""
    # TTL is wall-clock by definition, so the operator must run in
    # processingTime mode (NoTime rejects TTL'd state at init)
    return parsed.select("norad_id").groupBy(
        "norad_id"
    ).transformWithStateInPandas(
        TTLSuppressorProcessor(ttl_ms),
        SUPPRESS_OUTPUT_SCHEMA,
        "append",
        "processingTime",
    )


# --------------------------------------------------------------------------
# Initial state: bootstrap the tracker from a batch frame (warehouse)
# --------------------------------------------------------------------------

BOOTSTRAP_STATE_SCHEMA = "norad_id long, epoch_us long, mean_motion double, n_seen long"


class BootstrappedDecayTracker(DecayTrackerProcessor):
    """Decay tracker whose state store is SEEDED from a batch frame —
    the batch→stream migration path: a pipeline that has loaded years
    of telemetry into the warehouse starts its streaming tracker from
    the warehouse's per-satellite head state instead of re-streaming
    history. ``handleInitialState`` runs once per key before any input
    row, so the first streamed epoch for a known satellite computes its
    delta against the WAREHOUSE state (and bumps its n_seen), while
    unseen satellites start cold — exactly the semantics a resumed
    pipeline needs, pinned by the bootstrap test.
    """

    def handleInitialState(self, key, initialState, timerValues) -> None:
        row = initialState
        if hasattr(row, "iloc"):  # pandas frame (InPandas variant)
            row = row.iloc[0]
        self._track.update(
            (
                int(row["epoch_us"]),
                float(row["mean_motion"]),
                int(row["n_seen"]),
            )
        )


def decay_tracker_v2_bootstrapped(
    parsed: DataFrame, initial_state: DataFrame
) -> DataFrame:
    """parsed telemetry stream → decay deltas, with per-satellite state
    pre-seeded from ``initial_state`` (norad_id, epoch_us, mean_motion,
    n_seen — e.g. the warehouse's head state)."""
    from pyspark.sql import functions as F

    src = parsed.select(
        "norad_id",
        F.unix_micros("epoch_utc").alias("epoch_us"),
        "mean_motion",
    )
    return src.groupBy("norad_id").transformWithStateInPandas(
        BootstrappedDecayTracker(),
        OUTPUT_SCHEMA,
        "append",
        "none",
        initialState=initial_state.groupBy("norad_id"),
    )
