"""Grouped-map custom operators (``applyInPandas``) — SURVEY.md §2.10.

The engine's rule is built-ins first (the whole TLE parse is Catalyst
expressions), so ``applyInPandas`` is reserved for genuinely sequential
per-group algorithms: computations where row i depends on row i-1's
RESULT, which no window function or SQL aggregate expresses (a window
can lag inputs, not outputs). EWMA is the canonical case.

Scale notes: one shuffle on the group key, then each group's Arrow
chunks are buffered into one frame in Python (the fold is ordered, and
chunks arrive unordered); the fold itself keeps O(1) state. Skewed
entities are the hazard (one giant group = one Python task) — at 100 TB
pair this with AQE skew handling or pre-split hot keys by time range.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

EWMA_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("final_ewma", T.DoubleType()),
        T.StructField("n_anomalies", T.LongType()),
    ]
)


def ewma_by_group(
    df: DataFrame,
    key: str = "user_id",
    order: str = "ts",
    value: str = "value",
    alpha: float = 0.125,
    threshold: float = 3.0,
) -> DataFrame:
    """Per-group EWMA with online anomaly counting.

    ewma_i = (1-alpha)*ewma_{i-1} + alpha*v_i over rows sorted by
    ``order`` (tiebroken by ``event_id`` when present — determinism
    contract); an event is an anomaly when it deviates from the
    *previous* EWMA by more than ``threshold`` times itself. alpha
    defaults to a dyadic 1/8 so each step's arithmetic is the same two
    IEEE ops in any engine — the DuckDB oracle replays the identical
    fold with list_reduce.
    """
    tiebreak = "event_id" if "event_id" in df.columns else order

    def kernel(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one group arrives as several Arrow chunks once it outgrows
        # ``maxRecordsPerBatch``: buffer them all before the sort, or
        # the EWMA restarts on every chunk
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            [order, tiebreak]
        )
        ewma = None
        anomalies = 0
        for v in pdf[value]:
            v = float(v)
            if ewma is None:
                ewma = v
            else:
                if abs(v - ewma) > threshold * abs(ewma):
                    anomalies += 1
                ewma = (1.0 - alpha) * ewma + alpha * v
        yield pd.DataFrame(
            {
                "user_id": [int(pdf[key].iloc[0])],
                "n_events": [len(pdf)],
                "final_ewma": [ewma],
                "n_anomalies": [anomalies],
            }
        )

    return df.groupBy(key).applyInPandas(kernel, EWMA_SCHEMA)
