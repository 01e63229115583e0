"""Custom stateful streaming operator (SURVEY.md §2.9):
``applyInPandasWithState`` per-satellite decay tracking.

The batch flagship computes ``lag(mean_motion)`` with a window — fine
when all epochs are in one DataFrame. In a stream, consecutive epochs
of one satellite arrive in DIFFERENT micro-batches, and no built-in
stateless operator can look back across triggers. This operator keeps
(last_epoch_us, last_mean_motion, n_seen) per ``norad_id`` in the state
store and emits one delta row per newly-arrived epoch — the streaming
twin of the flagship.

Scale notes: state is 3 scalars per satellite (~tens of bytes × number
of distinct spacecraft — bounded by the catalog, not by throughput);
input is shuffled once on norad_id (the same partitioning the batch
window uses); batches reach Python as Arrow frames, grouped.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("norad_id", T.LongType()),
        T.StructField("epoch_us", T.LongType()),
        T.StructField("mean_motion", T.DoubleType()),
        T.StructField("mm_delta", T.DoubleType()),
        T.StructField("n_seen", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_epoch_us", T.LongType()),
        T.StructField("last_mm", T.DoubleType()),
        T.StructField("n_seen", T.LongType()),
    ]
)


def fold_epochs(
    norad_id: int,
    pdfs: Iterator[pd.DataFrame],
    state: tuple | None,
) -> tuple[pd.DataFrame, tuple]:
    """Fold one key's micro-batch rows into its (last_epoch_us,
    last_mm, n_seen) state: one delta row per epoch newer than the
    state, in epoch order. Returns the rows and the new state.

    The whole iterator is buffered before the sort: a key's batch rows
    arrive as several Arrow chunks (``maxRecordsPerBatch`` slices, or
    interleaved map-task outputs) with no order across chunks, so
    sorting each chunk alone would skip any epoch that a later chunk
    holds below the last one folded."""
    last_epoch, last_mm, n_seen = state if state is not None else (-1, None, 0)
    out: dict[str, list] = {c: [] for c in (
        "norad_id", "epoch_us", "mean_motion", "mm_delta", "n_seen"
    )}
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values("epoch_us")
        for epoch_us, mm in zip(pdf["epoch_us"], pdf["mean_motion"]):
            epoch_us = int(epoch_us)
            mm = float(mm)
            if epoch_us <= last_epoch:
                continue  # stale/duplicate epoch: state only moves forward
            n_seen += 1
            out["norad_id"].append(norad_id)
            out["epoch_us"].append(epoch_us)
            out["mean_motion"].append(mm)
            out["mm_delta"].append(
                mm - last_mm if last_mm is not None else None
            )
            out["n_seen"].append(n_seen)
            last_epoch, last_mm = epoch_us, mm
    return pd.DataFrame(out), (last_epoch, last_mm, n_seen)


def _track(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (norad_id,) = key
    rows, folded = fold_epochs(
        norad_id, pdfs, state.get if state.exists else None
    )
    state.update(folded)
    yield rows


def decay_tracker(parsed: DataFrame) -> DataFrame:
    """parsed telemetry stream → per-epoch decay deltas with state
    carried across micro-batches. Input needs ``norad_id``,
    ``epoch_utc`` and ``mean_motion``; epochs are tracked as integer µs
    (Arrow-stable, no tz ambiguity in state)."""
    from pyspark.sql import functions as F

    src = parsed.select(
        "norad_id",
        F.unix_micros("epoch_utc").alias("epoch_us"),
        "mean_motion",
    )
    return src.groupBy("norad_id").applyInPandasWithState(
        _track,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
