"""Watermarked windowed aggregation in APPEND mode (SURVEY.md §2.9):
the canonical late-data semantics — a window's aggregate is emitted
exactly once, when the watermark passes its end, and events arriving
later than the watermark are dropped, not silently merged.

The other streaming modules use the watermark for dedup state
(incremental.py) and join state (joins.py); this one uses it for
result finalization — the third of the three watermark roles. The
daily flux mean mirrors the reference's daily weather grain
(script.py:85-92) as a true event-time aggregation instead of the
in-batch dedup shape.

Scale notes: state is one (window, partial-sum) row per open day —
bounded by the watermark horizon, not throughput; sums are exact
decimal (same discipline as the batch plans); append mode means the
sink receives each finalized day once, so downstream appends need no
upsert logic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.weather import parse_flux_payload
from .incremental import DEDUP_HORIZON, landing_payload_stream


def daily_flux_aggregate_stream(
    spark: SparkSession, landing_dir: str
) -> DataFrame:
    """Streaming (day DATE, n BIGINT, mean_flux DOUBLE): tumbling
    1-day event-time windows over the landed flux payloads, finalized
    by a 3-day watermark (the reference's lookback constant)."""
    payloads = landing_payload_stream(spark, landing_dir)
    flux = parse_flux_payload(payloads).withColumn(
        "ts", F.col("date_utc").cast("timestamp")
    )
    agg = (
        flux.withWatermark("ts", DEDUP_HORIZON)
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("f10_7_flux").cast("decimal(18,6)")).alias("sv"),
        )
    )
    return agg.select(
        F.col("w.start").cast("date").alias("day"),
        "n",
        (F.col("sv").cast("double") / F.col("n").cast("double")).alias(
            "mean_flux"
        ),
    )


def run_daily_flux_aggregate(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    sink,
) -> None:
    """One AvailableNow pass in APPEND mode: ``sink(batch_df, id)``
    receives only windows the watermark has CLOSED since the last
    pass — each day exactly once, late rows beyond the horizon
    dropped. Watermark and open-window partials persist in the
    checkpoint across passes."""
    q = (
        daily_flux_aggregate_stream(spark, landing_dir)
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def observation_sessions_stream(
    spark: SparkSession, landing_dir: str
) -> DataFrame:
    """Streaming session-window aggregation (the FOURTH windowing shape
    beside tumbling, sliding, and dedup-horizon state): per-satellite
    observation BURSTS — runs of telemetry whose epoch gaps stay under
    12 hours merge into one session; a longer quiet gap closes it.
    Emits (norad_id, session_start, session_end, n_obs) once per
    finalized session in append mode.

    Session state merges across micro-batches (Spark keeps per-key
    open sessions and fuses overlapping windows); the 3-day watermark
    both finalizes sessions and bounds state — identical constants and
    parse path to the batch engine (`incremental_tle_stream`), so the
    batch `session_windows` query and this stream share semantics
    end-to-end. Half-open boundary convention pinned by the batch
    oracle (>= gap starts a new session)."""
    from .incremental import incremental_tle_stream

    parsed = incremental_tle_stream(spark, landing_dir)
    agg = parsed.groupBy(
        F.session_window("epoch_utc", "12 hours").alias("w"), "norad_id"
    ).agg(F.count(F.lit(1)).alias("n_obs"))
    return agg.select(
        "norad_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_obs",
    )


def run_observation_sessions(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    sink,
) -> None:
    """One AvailableNow pass in APPEND mode: ``sink`` receives only
    sessions the watermark has CLOSED; open sessions persist in the
    checkpoint and keep absorbing events on later passes."""
    q = (
        observation_sessions_stream(spark, landing_dir)
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
