"""Stream-stream joins (SURVEY.md §2.9): the streaming twin of the
batch ``daily_enrichment_join`` — telemetry readings enriched with the
space-weather flux of their UTC day, where BOTH sides arrive
incrementally.

The reference does this enrichment only at rest (both tables already in
PostgreSQL). Here each side is a watermarked stream and the join is
Spark's stateful stream-stream inner join: rows wait in the state store
for their counterpart from the other stream, and the 3-day watermark
(the reference's lookback constant, script.py:159) bounds how long —
state holds ~3 days of keys per side, not history, which is what makes
the operator viable on an unbounded 100 TB/day feed.

Join key: the tumbling 1-day event-time window on each side
(``F.window``), the documented pattern that lets Spark derive a state
eviction bound from the watermark for an equality join. A raw
``date_trunc`` equality would be correct but leaves the state store
unbounded (no watermark provenance on the derived column).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.weather import parse_flux_payload
from .incremental import (
    DEDUP_HORIZON,
    incremental_tle_stream,
    landing_payload_stream,
)


def enriched_telemetry_stream(
    spark: SparkSession,
    tle_landing_dir: str,
    weather_landing_dir: str,
    fetched_at: dt.datetime | None = None,
    how: str = "inner",
) -> DataFrame:
    """Streaming (norad_id, epoch_utc, mean_motion, b_star_drag,
    date_utc, f10_7_flux): stream-stream join of the parsed TLE
    stream with the parsed flux stream on the telemetry's UTC day.

    A telemetry row whose flux row arrives in a LATER micro-batch (or
    vice versa) joins against the state store, exactly-once per pair;
    rows older than the 3-day watermark are evicted unjoined — the same
    bounded-horizon trade-off the batch dedup path documents.

    ``how="leftOuter"`` adds watermark-gated NULL emission: a telemetry
    day whose flux never arrives emits ONCE with NULL weather columns,
    and only after the watermark passes the end of its day window (no
    earlier flux could still land) — never before, pinned by
    ``tests/test_streaming.py::test_stream_stream_left_outer_null_emission``.
    Until then the row is held in state; eviction-on-emission makes
    re-emission impossible. ``rightOuter`` mirrors it (a flux day with
    no telemetry emits once with NULL TLE columns) and ``fullOuter``
    emits each side's unmatched rows exactly once — the full
    Structured Streaming join matrix, each shape pinned across
    micro-batch boundaries by the three ``test_stream_stream_*``
    tests. All modes share one plan shape; the state bound is
    identical (watermark horizon per side)."""
    # Only ONE event-time column may survive per stream: the 1-day
    # window (carrying the epoch_utc watermark) is it. epoch_utc itself
    # is kept as a value via integer-µs reconstruction, which strips the
    # event-time marker without changing a bit of the timestamp.
    tele = incremental_tle_stream(
        spark, tle_landing_dir, fetched_at=fetched_at
    ).select(
        "norad_id",
        F.timestamp_micros(F.unix_micros("epoch_utc")).alias("epoch_utc"),
        "mean_motion",
        "b_star_drag",
        F.window("epoch_utc", "1 day").alias("day_w"),
    )

    weather = (
        parse_flux_payload(landing_payload_stream(spark, weather_landing_dir))
        .withColumn("weather_ts", F.col("date_utc").cast("timestamp"))
        .withWatermark("weather_ts", DEDUP_HORIZON)
        .select(
            "date_utc",
            "f10_7_flux",
            F.window("weather_ts", "1 day").alias("day_w"),
        )
    )

    return tele.join(weather, on="day_w", how=how).select(
        "norad_id",
        "epoch_utc",
        "mean_motion",
        "b_star_drag",
        "date_utc",
        "f10_7_flux",
    )


def run_enrichment_join(
    spark: SparkSession,
    tle_landing_dir: str,
    weather_landing_dir: str,
    checkpoint_dir: str,
    sink,
    fetched_at: dt.datetime | None = None,
    how: str = "inner",
) -> None:
    """One ``Trigger.AvailableNow()`` pass of the enrichment join;
    ``sink(batch_df, batch_id)`` receives each joined micro-batch.
    Join state (unmatched rows within the watermark) persists in the
    checkpoint across passes — the cron-micro-batch shape."""
    stream = enriched_telemetry_stream(
        spark,
        tle_landing_dir,
        weather_landing_dir,
        fetched_at=fetched_at,
        how=how,
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def labeled_telemetry_stream(
    spark: SparkSession,
    tle_landing_dir: str,
    dim: DataFrame,
    fetched_at: dt.datetime | None = None,
) -> DataFrame:
    """Stream-STATIC join (the third join shape beside batch-batch and
    stream-stream): the incremental telemetry stream left-joined to a
    static dimension on norad_id — no watermark needed on the static
    side and no state store involvement: Spark re-evaluates the static
    side per micro-batch (so a refreshed dim parquet is picked up on
    the next trigger) and broadcasts it into each batch's join.

    Unmatched satellites survive with NULL labels (left semantics) —
    the late-arriving-dimension tolerance every enrichment pipeline
    needs; the batch twin is the warehouse's dim anti-join."""
    tele = incremental_tle_stream(
        spark, tle_landing_dir, fetched_at=fetched_at
    )
    return tele.join(F.broadcast(dim), on="norad_id", how="left")
