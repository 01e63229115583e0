"""Idempotency / check-then-write tests (SURVEY.md §5.3, FIXTURES.md §B3).

Run ingest twice over the same payload → table state identical (the
property the reference README claims, README.md:36-37); epochs older
than the 3-day window may duplicate (documented D2 semantics).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from celestrak_tle_data_pipeline_spark.pipeline import (
    ingest_tle_payloads,
    ingest_weather_payload,
)
from celestrak_tle_data_pipeline_spark.sinks.warehouse import ParquetWarehouse

NOW = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


def _tle_payload(now: dt.datetime) -> str:
    """Two satellites with epochs ~now (inside the 3-day dedup window)."""
    doy = (now - dt.datetime(now.year, 1, 1)).days + 1
    epoch = f"{now.year % 100:02d}{doy:03d}.25000000"
    return (
        "SAT-A\n"
        f"1 10001U 20001A   {epoch}  .00001234  00000+0  13717-3 0  9995\n"
        "2 10001  53.0537 205.1100 0001450  90.1234 270.0123 15.06402843350061\n"
        "SAT-B\n"
        f"1 10002U 21002B   {epoch}  .00000000  00000+0  00000+0 0  9990\n"
        "2 10002  34.2500 123.4567 0123456  10.0000  20.0000 10.82440000 12345\n"
    )


@pytest.fixture()
def wh(spark, tmp_path):
    return ParquetWarehouse(spark, str(tmp_path / "wh"))


def test_ingest_twice_is_idempotent(spark, wh):
    payloads = spark.createDataFrame([(_tle_payload(NOW),)], "payload string")
    s1 = ingest_tle_payloads(wh, payloads, fetched_at=NOW)
    assert s1["parsed"] == 2
    assert s1["new_satellites"] == 2
    assert s1["new_telemetry"] == 2

    s2 = ingest_tle_payloads(wh, payloads, fetched_at=NOW)
    assert s2["new_satellites"] == 0
    assert s2["new_telemetry"] == 0
    assert wh.read("dim_satellites").count() == 2
    assert wh.read("fact_telemetry").count() == 2


def test_old_epochs_can_duplicate(spark, wh):
    # >3-day-old epochs bypass the bounded dedup window (script.py:159;
    # deliberate reference trade-off we preserve).
    old = NOW - dt.timedelta(days=30)
    payloads = spark.createDataFrame([(_tle_payload(old),)], "payload string")
    ingest_tle_payloads(wh, payloads, fetched_at=NOW)
    s2 = ingest_tle_payloads(wh, payloads, fetched_at=NOW)
    assert s2["new_satellites"] == 0  # dim dedup is unbounded
    assert s2["new_telemetry"] == 2  # fact dedup is 3-day-bounded
    assert wh.read("fact_telemetry").count() == 4


def test_dim_launch_year_derived(spark, wh):
    payloads = spark.createDataFrame([(_tle_payload(NOW),)], "payload string")
    ingest_tle_payloads(wh, payloads, fetched_at=NOW)
    years = {
        r["norad_id"]: r["launch_year"]
        for r in wh.read("dim_satellites").collect()
    }
    assert years == {10001: 2020, 10002: 2021}


def test_min_row_quality_gate(spark, wh):
    payloads = spark.createDataFrame([(_tle_payload(NOW),)], "payload string")
    stats = ingest_tle_payloads(wh, payloads, fetched_at=NOW, min_rows=10)
    # gate trips before any write (README.md:40 declared behavior)
    assert stats["new_satellites"] == 0 and stats["new_telemetry"] == 0
    assert not wh.exists("dim_satellites")


def test_weather_ingest_idempotent(spark, wh):
    payload = (
        '[["time_tag","flux"],'
        '["2026-08-10 00:00:00","135.4"],'
        '["2026-08-11 00:00:00","128.0"],'
        '["2026-08-12 00:00:00","131.7"]]'
    )
    payloads = spark.createDataFrame([(payload,)], "payload string")
    s1 = ingest_weather_payload(wh, payloads)
    assert s1["new_weather"] == 3
    s2 = ingest_weather_payload(wh, payloads)
    assert s2["new_weather"] == 0
    rows = {
        r["date_utc"]: r["f10_7_flux"]
        for r in wh.read("fact_space_weather").collect()
    }
    assert rows[dt.date(2026, 8, 10)] == pytest.approx(135.4)
    assert len(rows) == 3


def test_fact_partitioned_by_epoch_date(spark, wh, tmp_path):
    payloads = spark.createDataFrame([(_tle_payload(NOW),)], "payload string")
    ingest_tle_payloads(wh, payloads, fetched_at=NOW)
    import os

    parts = [
        d for d in os.listdir(wh.path("fact_telemetry")) if d.startswith("epoch_date=")
    ]
    assert parts  # daily partition dirs exist → 3-day probe is pruned


def test_exact_duplicates_digest_unambiguous(spark):
    """('a', NULL) vs ('a','') and separator-bearing values must not
    collide in the dedup digest (to_json struct encoding)."""
    from celestrak_tle_data_pipeline_spark.operators.dedup import (
        exact_duplicates,
    )

    df = spark.createDataFrame(
        [("a", None), ("a", ""), ("ab", "c"), ("a", "bc"),
         ("x", "y"), ("x", "y")],
        "c1 string, c2 string",
    )
    dups = exact_duplicates(df, ["c1", "c2"]).collect()
    # only the genuine ('x','y') pair is a duplicate group
    assert len(dups) == 1
    assert dups[0].dup_count == 2 and dups[0].first_value == "x"


def test_merge_upsert_telemetry(spark, tmp_path):
    """True upsert: re-ingesting an old epoch replaces (not duplicates)
    the stored row — stronger than the reference's 3-day window — and
    untouched partitions are left alone."""
    import datetime as dtm

    from celestrak_tle_data_pipeline_spark.sinks.warehouse import (
        merge_upsert_telemetry,
    )

    def batch(epoch, mm, fetched):
        return spark.createDataFrame(
            [(777, "SAT", "20001A", epoch, fetched, 53.0, 205.0, 0.0001,
              90.0, 270.0, mm, 0.0001, 12345)],
            "norad_id long, sat_name string, intl_designator string, "
            "epoch_utc timestamp, fetched_at_utc timestamp, "
            "inclination double, raan double, eccentricity double, "
            "arg_perigee double, mean_anomaly double, mean_motion double, "
            "b_star_drag double, rev_number long",
        )

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    old_epoch = dtm.datetime(2020, 5, 1, 12, 0, 0)
    other_epoch = dtm.datetime(2021, 6, 1, 12, 0, 0)
    t0 = dtm.datetime(2020, 5, 2, 0, 0, 0)
    t1 = dtm.datetime(2020, 5, 3, 0, 0, 0)

    assert merge_upsert_telemetry(wh, batch(old_epoch, 15.0, t0)) == 1
    assert merge_upsert_telemetry(wh, batch(other_epoch, 14.0, t0)) == 1

    # re-ingest the YEARS-old epoch with fresher fetched_at -> replaced
    merge_upsert_telemetry(wh, batch(old_epoch, 15.5, t1))
    rows = wh.read("fact_telemetry").collect()
    assert len(rows) == 2
    by_epoch = {r.epoch_utc: r for r in rows}
    assert by_epoch[old_epoch].mean_motion == 15.5       # upserted
    assert by_epoch[old_epoch].fetched_at_utc == t1
    assert by_epoch[other_epoch].mean_motion == 14.0     # untouched


def test_fetch_and_land_chain(spark, tmp_path):
    """S1 end to end: fetch (file:// stands in for HTTP) -> atomic land
    -> batch ingest from the landing dir."""
    from celestrak_tle_data_pipeline_spark.pipeline import (
        ingest_tle_landing_dir,
    )
    from celestrak_tle_data_pipeline_spark.sources.fetch import (
        fetch_and_land,
    )

    src = tmp_path / "remote.txt"
    src.write_text(_tle_payload(NOW))
    landing = tmp_path / "landing"

    path = fetch_and_land(str(landing), url=src.as_uri(), prefix="tle")
    assert path.endswith(".txt") and not path.endswith(".tmp")
    assert len(list(landing.glob("*.tmp"))) == 0  # atomic: no temp litter

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    stats = ingest_tle_landing_dir(wh, spark, str(landing))
    assert stats["parsed"] == 2 and stats["new_satellites"] == 2


def test_land_payload_renames_from_dot_named_temp(tmp_path, monkeypatch):
    """The in-flight temp is dot-named, so no landing reader lists it
    before the rename makes the payload whole."""
    import os

    from celestrak_tle_data_pipeline_spark.sources import fetch

    renamed = []
    real_rename = os.rename

    def spy(src, dst):
        renamed.append((src, dst))
        real_rename(src, dst)

    monkeypatch.setattr(fetch.os, "rename", spy)
    final = fetch.land_payload("x", str(tmp_path), prefix="tle")
    [(tmp, dst)] = renamed
    assert os.path.basename(tmp).startswith(".")
    assert os.path.dirname(tmp) == str(tmp_path)
    assert dst == final and not os.path.basename(final).startswith(".")


def test_connected_components_long_chain(spark):
    """A 7-node path (diameter 6) plus a disjoint pair: label
    propagation must walk multiple hops, not just one join."""
    from celestrak_tle_data_pipeline_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 16)] + [(100, 101)],
        "a long, b long",
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert all(comp[n] == 10 for n in range(10, 17))
    assert comp[100] == 100 and comp[101] == 100


def test_ewma_by_group_folds_a_group_spanning_arrow_chunks(spark):
    """One user's five events, stored out of order. With
    ``maxRecordsPerBatch=2`` the group reaches Python as three Arrow
    chunks; the kernel folds them as one group, so it gives the same
    single row as at the default batch size (restarting the EWMA per
    chunk gave three rows)."""
    from celestrak_tle_data_pipeline_spark.operators.grouped import (
        ewma_by_group,
    )

    t0 = dt.datetime(2026, 8, 1)
    values = [2.0, 2.5, 1.5, 2.25, 2.0]
    events = spark.createDataFrame(
        [
            (7, i, t0 + dt.timedelta(minutes=i), v)
            for i, v in reversed(list(enumerate(values)))
        ],
        "user_id long, event_id long, ts timestamp, value double",
    ).coalesce(1)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prior = spark.conf.get(key)
    try:
        default = [tuple(r) for r in ewma_by_group(events).collect()]
        spark.conf.set(key, "2")
        chunked = [tuple(r) for r in ewma_by_group(events).collect()]
    finally:
        spark.conf.set(key, prior)
    ewma = values[0]
    for v in values[1:]:
        ewma = 0.875 * ewma + 0.125 * v
    assert default == [(7, 5, ewma, 0)]
    assert chunked == default


def test_compaction_rewrites_small_files(spark, tmp_path):
    """compact_partitions(): many one-file-per-batch appends collapse to
    one file per partition, rows byte-identical, and cluster_by sorting
    shows in the parquet row-group stats (min==first, max==last
    ordering)."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from celestrak_tle_data_pipeline_spark.sinks.maintenance import (
        compact_partitions,
    )
    from celestrak_tle_data_pipeline_spark.sinks.warehouse import (
        ParquetWarehouse,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "cwh"))
    os.makedirs(wh.root, exist_ok=True)
    base = wh.path("t")
    # 6 micro-batch appends x 2 partitions -> 6 files per partition
    for b in range(6):
        df = spark.createDataFrame(
            [(b * 100 + i, f"d{d}") for d in (1, 2) for i in range(50)],
            "k long, day string",
        )
        df.repartition(1).write.mode("append").partitionBy("day").parquet(
            base
        )
    files_before = {
        d: len([f for f in os.listdir(f"{base}/day={d}") if f.endswith(".parquet")])
        for d in ("d1", "d2")
    }
    assert files_before == {"d1": 6, "d2": 6}
    before = sorted(
        (r.k, r.day) for r in spark.read.parquet(base).collect()
    )

    done = compact_partitions(wh, "t", "day", cluster_by=("k",))
    assert done["compacted_partitions"] == 2 and done["files_after"] == 2
    for d in ("d1", "d2"):
        pfiles = [
            f for f in os.listdir(f"{base}/day={d}") if f.endswith(".parquet")
        ]
        assert len(pfiles) == 1
        # clustered: the single file's k column is globally sorted
        col = pq.read_table(f"{base}/day={d}/{pfiles[0]}")["k"].to_pylist()
        assert col == sorted(col)
    after = sorted((r.k, r.day) for r in spark.read.parquet(base).collect())
    assert after == before

    # idempotent: a second pass is a no-op (already compact)
    assert compact_partitions(wh, "t", "day")["compacted_partitions"] == 0


def test_expire_partitions_drops_old_days(spark, tmp_path):
    """Retention = partition directory drop: old days vanish without
    touching surviving files; reads after refresh see only kept data."""
    from celestrak_tle_data_pipeline_spark.sinks.warehouse import (
        ParquetWarehouse,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "rwh"))
    base = wh.path("t")
    df = spark.createDataFrame(
        [(i, f"2026-08-{d:02d}") for d in (1, 2, 3, 4) for i in range(10)],
        "k long, day string",
    )
    df.write.partitionBy("day").parquet(base)

    dropped = wh.expire_partitions("t", "day", keep_from="2026-08-03")
    assert dropped == ["2026-08-01", "2026-08-02"]
    left = spark.read.parquet(base)
    assert sorted(str(r.day) for r in left.select("day").distinct().collect()) == [
        "2026-08-03", "2026-08-04",
    ]
    assert left.count() == 20
    # idempotent
    assert wh.expire_partitions("t", "day", keep_from="2026-08-03") == []


def test_export_sorted_shards_disjoint_ranges(spark, tmp_path):
    """Range-sharded export: every parquet file covers a disjoint
    sort-key slice (checked from file-level min/max stats) and is
    sorted inside — a globally ordered dataset with no merge step."""
    import os

    import pyarrow.parquet as pq

    from celestrak_tle_data_pipeline_spark.sinks.warehouse import (
        export_sorted_shards,
    )

    df = spark.range(0, 10000).selectExpr(
        "(id * 2654435761) % 10007 AS k", "id AS v"
    )
    out = str(tmp_path / "shards")
    export_sorted_shards(df, out, "k", n_shards=8)

    spans = []
    for f in os.listdir(out):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(out, f))
        ks = t["k"].to_pylist()
        assert ks == sorted(ks)  # sorted within shard
        spans.append((min(ks), max(ks)))
    assert len(spans) == 8
    spans.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2  # disjoint, contiguous global order
    total = sum(
        pq.read_metadata(os.path.join(out, f)).num_rows
        for f in os.listdir(out) if f.endswith(".parquet")
    )
    assert total == 10000


def test_full_lifecycle_ingest_compact_expire_export(spark, wh, tmp_path):
    """Composition smoke: ingest 3 micro-batches across 3 days ->
    compact the fact -> expire the oldest day -> export range-sharded.
    Proves the lifecycle ops compose on the real warehouse layout."""
    import os

    from celestrak_tle_data_pipeline_spark.sinks.maintenance import (
        compact_partitions,
    )
    from celestrak_tle_data_pipeline_spark.sinks.warehouse import (
        export_sorted_shards,
    )

    def one_sat_payload(norad: int, when: dt.datetime) -> str:
        doy = (when - dt.datetime(when.year, 1, 1)).days + 1
        epoch = f"{when.year % 100:02d}{doy:03d}.25000000"
        return (
            f"SAT-{norad}\n"
            f"1 {norad:05d}U 20001A   {epoch}  .00001234  00000+0  13717-3 0  9995\n"
            f"2 {norad:05d}  53.0537 205.1100 0001450  90.1234 270.0123 15.06402843350061\n"
        )

    days = [NOW - dt.timedelta(days=d) for d in (5, 4, 1)]
    # two appends for the oldest day -> small files to compact
    batches = [
        (40001, days[0]), (40002, days[0]), (40003, days[1]), (40004, days[2]),
    ]
    for norad, when in batches:
        payloads = spark.createDataFrame(
            [(one_sat_payload(norad, when),)], "payload string"
        )
        ingest_tle_payloads(wh, payloads, fetched_at=NOW, lookback_days=30)
    assert wh.read("fact_telemetry").count() == 4

    base = wh.path("fact_telemetry")
    oldest = f"epoch_date={days[0].date()}"
    n_before = len([
        f for f in os.listdir(os.path.join(base, oldest))
        if f.endswith(".parquet")
    ])
    assert n_before == 2  # one file per micro-batch append

    done = compact_partitions(
        wh,
        "fact_telemetry",
        "epoch_date",
        max_files_per_partition=1,
        cluster_by=("norad_id",),
    )
    assert done["compacted_partitions"] == 1  # the 2-file oldest day only
    assert len([
        f for f in os.listdir(os.path.join(base, oldest))
        if f.endswith(".parquet")
    ]) == 1
    assert wh.read("fact_telemetry").count() == 4  # lossless

    dropped = wh.expire_partitions(
        "fact_telemetry", "epoch_date", keep_from=str(days[1].date())
    )
    assert dropped == [str(days[0].date())]
    kept = wh.read("fact_telemetry")
    assert sorted(r.norad_id for r in kept.collect()) == [40003, 40004]

    out = str(tmp_path / "shards")
    export_sorted_shards(kept, out, "norad_id", n_shards=2)
    back = spark.read.parquet(out)
    assert sorted(r.norad_id for r in back.collect()) == [40003, 40004]


def test_schema_evolution_merge(spark, tmp_path):
    """Appends that ADD a column are readable: mergeSchema unifies old
    and new files; pre-evolution rows surface NULL for the new column
    (the additive-only evolution contract a parquet warehouse gives)."""
    base = str(tmp_path / "evo")
    spark.createDataFrame(
        [(1, "a")], "k long, s string"
    ).write.mode("append").parquet(base)
    spark.createDataFrame(
        [(2, "b", 9.5)], "k long, s string, score double"
    ).write.mode("append").parquet(base)

    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(merged.columns) == {"k", "s", "score"}
    rows = {r.k: r.score for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}


def test_tle_datasource_matches_expression_assembly(spark, tmp_path):
    # The Spark 4 Python DataSource must agree triple-for-triple with
    # the production expression path on the same landing zone, and
    # must fan out one partition per landed file.
    from celestrak_tle_data_pipeline_spark.operators.assembly import (
        assemble_from_payloads,
    )
    from celestrak_tle_data_pipeline_spark.sources.pysource import (
        register_tle_source,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    p1 = _tle_payload(NOW)
    # second file: one triple plus a trailing stray name line (dropped)
    p2 = "\n".join(p1.split("\n")[:3]) + "\nSAT-STRAY"
    (landing / "tle-1.txt").write_text(p1)
    (landing / "tle-2.txt").write_text(p2)

    register_tle_source(spark)
    ds = spark.read.format("tle").load(str(landing))
    assert ds.rdd.getNumPartitions() == 2

    expr = assemble_from_payloads(
        spark.read.text(str(landing), wholetext=True).withColumnRenamed(
            "value", "payload"
        )
    )
    got = sorted(
        (r.sat_name_raw, r.line1, r.line2)
        for r in ds.select("sat_name_raw", "line1", "line2").collect()
    )
    want = sorted(
        (r.sat_name_raw, r.line1, r.line2) for r in expr.collect()
    )
    assert got == want and len(got) == 3
    # registration is idempotent
    register_tle_source(spark)


def test_orc_and_csv_roundtrip_parity(spark, tmp_path):
    # Second/third storage formats beside parquet: ORC (columnar,
    # built-in) for facts and headered CSV (schema-explicit read — no
    # inference in production paths) for dim exports. Byte-exact value
    # parity both ways.
    from pyspark.sql import functions as F

    src = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
        .orderBy("o_orderkey")
        .limit(100)
    )
    orc_dir = str(tmp_path / "orc")
    src.write.mode("overwrite").orc(orc_dir)
    back_orc = spark.read.orc(orc_dir)
    assert back_orc.schema == src.schema
    assert sorted(map(tuple, back_orc.collect())) == sorted(
        map(tuple, src.collect())
    )

    csv_dir = str(tmp_path / "csv")
    csv_src = src.withColumn(
        "o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
    )
    csv_src.write.mode("overwrite").option("header", True).csv(csv_dir)
    back_csv = (
        spark.read.schema(
            "o_orderkey bigint, o_orderstatus string, "
            "o_totalprice double, o_orderdate string"
        )
        .option("header", True)
        .csv(csv_dir)
    )
    assert sorted(map(tuple, back_csv.collect())) == sorted(
        map(tuple, csv_src.collect())
    )


def test_jsonl_roundtrip_parity(spark, tmp_path):
    # Fourth storage format: newline-delimited JSON — the landing
    # format most external feeds arrive in. Write with explicit
    # timestamp formatting, read back with an EXPLICIT schema (no
    # inference in production paths — inference samples the data and
    # can flip types between runs). Byte-exact value parity.
    from pyspark.sql import functions as F

    src = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
        .orderBy("o_orderkey")
        .limit(100)
        .withColumn(
            "o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
        )
    )
    jdir = str(tmp_path / "jsonl")
    src.write.mode("overwrite").json(jdir)
    back = spark.read.schema(
        "o_orderkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate string"
    ).json(jdir)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, src.collect())
    )
    # corrupt-record tolerance: a malformed line lands in the
    # _corrupt_record column under PERMISSIVE (default), instead of
    # failing the batch — the quality-gate behavior the reference's
    # row-level null-parse filter implements for TLE triples
    bad = tmp_path / "jsonl" / "bad.json"
    bad.write_text('{"o_orderkey": "not-a-number}\n')
    # (.cache() required: Spark disallows queries that reference ONLY
    # the internal corrupt-record column of a raw JSON scan)
    tolerant = (
        spark.read.schema("o_orderkey bigint, _corrupt_record string")
        .json(jdir)
        .cache()
    )
    n_bad = tolerant.where(F.col("_corrupt_record").isNotNull()).count()
    tolerant.unpersist()
    assert n_bad == 1
