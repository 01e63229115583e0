"""Custom Python data source (Spark 4 API): format("tle") must agree
row-for-row with the Catalyst assembly path on the same landing files,
parallelize per file, and feed the full parse pipeline unchanged."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

NOW = dt.datetime(2026, 8, 1)


def _payload(norad: int) -> str:
    doy = (NOW - dt.datetime(NOW.year, 1, 1)).days + 1
    epoch = f"{NOW.year % 100:02d}{doy:03d}.25000000"
    return (
        f"SAT-{norad}\n"
        f"1 {norad:05d}U 20001A   {epoch}  .00001234  00000+0  13717-3 0  9995\n"
        f"2 {norad:05d}  53.0537 205.1100 0001450  90.1234 270.0123 15.06402843350061\n"
    )


def _register(spark):
    from celestrak_tle_data_pipeline_spark.sources.pysource import (
        register_tle_source,
    )

    register_tle_source(spark)


def test_tle_format_matches_catalyst_assembly(spark, tmp_path):
    from celestrak_tle_data_pipeline_spark.operators.assembly import (
        assemble_from_payloads,
        read_payloads,
    )

    land = tmp_path / "land"
    land.mkdir()
    # two files; second carries two sats, messy whitespace, and a
    # trailing partial triple that must drop
    (land / "a.txt").write_text(_payload(41001))
    (land / "b.txt").write_text(
        "  " + _payload(41002) + _payload(41003) + "DANGLING-NAME\n1 droppp"
    )

    _register(spark)
    via_source = (
        spark.read.format("tle")
        .option("path", str(land))
        .load()
        .select("sat_name_raw", "line1", "line2")
    )
    via_catalyst = assemble_from_payloads(
        read_payloads(spark, str(land))
    ).select("sat_name_raw", "line1", "line2")
    assert sorted(map(tuple, via_source.collect())) == sorted(
        map(tuple, via_catalyst.collect())
    )
    assert via_source.count() == 3

    # file-grain parallelism: one input partition per landing file
    assert via_source.rdd.getNumPartitions() == 2


def test_tle_format_feeds_parse_pipeline(spark, tmp_path):
    from celestrak_tle_data_pipeline_spark.functions.tle import (
        parse_tle_triples,
        valid_record,
    )

    land = tmp_path / "pland"
    land.mkdir()
    (land / "a.txt").write_text(_payload(42001))
    _register(spark)
    triples = spark.read.format("tle").option("path", str(land)).load()
    parsed = parse_tle_triples(triples, fetched_at=NOW).where(valid_record())
    rows = parsed.select("norad_id", "epoch_utc").collect()
    assert [r.norad_id for r in rows] == [42001]
    assert rows[0].epoch_utc == dt.datetime(2026, 8, 1, 6, 0, 0)


def test_tle_stream_reader_incremental_and_batch_parity(spark, tmp_path):
    """Streaming half of the pluggable format: the landing-dir tail is
    exactly-once across drains of one checkpoint (offset = consumed
    file set), a restart with no new files is a no-op, and the union
    of streamed batches equals the BATCH read of the same directory
    row-for-row (shared split_triples contract)."""
    land = tmp_path / "sland"
    land.mkdir()
    ckpt = str(tmp_path / "sck")
    _register(spark)

    got: list = []

    def drain():
        src = (
            spark.readStream.format("tle")
            .option("path", str(land))
            .load()
        )
        q = (
            src.writeStream.foreachBatch(
                lambda df, _id: got.extend(map(tuple, df.collect()))
            )
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    (land / "a.txt").write_text(_payload(43001))
    drain()
    assert len(got) == 1 and got[0][3] == "a.txt"

    # second file lands; same checkpoint consumes ONLY the new file
    (land / "b.txt").write_text(_payload(43002) + _payload(43003))
    drain()
    assert len(got) == 3

    # restart with nothing new: no duplicates
    drain()
    assert len(got) == 3

    batch = (
        spark.read.format("tle").option("path", str(land)).load()
    )
    assert sorted(got) == sorted(map(tuple, batch.collect()))


def test_stream_reader_settle_window_defers_fresh_files(tmp_path):
    """settleSeconds > 0: a file whose mtime is inside the settle
    window is absent from BOTH the batch rows and the committed end
    offset, then consumed whole once quiescent — the loss-free mode
    for producers that append in place instead of atomic-renaming."""
    import os
    import time

    from celestrak_tle_data_pipeline_spark.sources.pysource import (
        TLEPartitionedStreamReader,
    )

    def batch(rdr, start):
        end = rdr.latestOffset()
        rows = [r for p in rdr.partitions(start, end) for r in rdr.read(p)]
        return rows, end

    land = tmp_path / "land"
    land.mkdir()
    (land / "old.tle").write_text(_payload(11111))
    (land / "fresh.tle").write_text(_payload(22222))
    past = time.time() - 3600
    os.utime(land / "old.tle", (past, past))  # long settled

    rdr = TLEPartitionedStreamReader(
        {"path": str(land), "settleSeconds": "30"}
    )
    rows, end = batch(rdr, rdr.initialOffset())
    assert [r[3] for r in rows] == ["old.tle"]
    assert end == {"files": ["old.tle"]}  # fresh file NOT committed

    # once the file settles, the next batch picks it up whole
    os.utime(land / "fresh.tle", (past, past))
    rows2, end2 = batch(rdr, end)
    assert [r[3] for r in rows2] == ["fresh.tle"]
    assert end2 == {"files": ["fresh.tle", "old.tle"]}

    # settle off (default): everything visible immediately
    rdr0 = TLEPartitionedStreamReader({"path": str(land)})
    rows0, _ = batch(rdr0, rdr0.initialOffset())
    assert sorted(r[3] for r in rows0) == ["fresh.tle", "old.tle"]


def test_firehose_stream_partition_planned_parity(spark, tmp_path):
    """The ``tle`` stream's partition-planned reader: every landed
    file is read on EXECUTORS as its own InputPartition. Pins:
    exactly-once across drains of one checkpoint, restart no-op,
    stream union == batch read, and file-grain partition planning
    (partitions(start, end) = one per new file, derived purely from
    the offsets)."""
    from celestrak_tle_data_pipeline_spark.sources.pysource import (
        TLEPartitionedStreamReader,
    )

    _register(spark)
    land = tmp_path / "fland"
    land.mkdir()
    ckpt = str(tmp_path / "fck")

    got: list = []

    def drain():
        src = (
            spark.readStream.format("tle")
            .option("path", str(land))
            .load()
        )
        q = (
            src.writeStream.foreachBatch(
                lambda df, _id: got.extend(map(tuple, df.collect()))
            )
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    (land / "a.txt").write_text(_payload(45001))
    drain()
    assert len(got) == 1 and got[0][3] == "a.txt"

    # two more files in one batch; same checkpoint reads ONLY them
    (land / "b.txt").write_text(_payload(45002) + _payload(45003))
    (land / "c.txt").write_text(_payload(45004))
    drain()
    assert len(got) == 4

    # restart with nothing new: no duplicates
    drain()
    assert len(got) == 4

    batch = (
        spark.read.format("tle")
        .option("path", str(land))
        .load()
    )
    assert sorted(got) == sorted(map(tuple, batch.collect()))

    # partition planning is pure offset algebra: end − start, one
    # partition per NEW file, independent of disk state ordering
    r = TLEPartitionedStreamReader({"path": str(land)})
    parts = r.partitions(
        {"files": ["a.txt"]}, {"files": ["a.txt", "b.txt", "c.txt"]}
    )
    assert sorted(p.path.split("/")[-1] for p in parts) == [
        "b.txt",
        "c.txt",
    ]
    assert r.partitions({"files": []}, {"files": []}) == []

    # replay determinism: the same (start, end) pair plans the same
    # partitions and re-reading them yields the same rows
    again = r.partitions(
        {"files": ["a.txt"]}, {"files": ["a.txt", "b.txt", "c.txt"]}
    )
    rows1 = sorted(row for p in parts for row in r.read(p))
    rows2 = sorted(row for p in again for row in r.read(p))
    assert rows1 == rows2 and len(rows1) == 3


def test_tle_source_hides_what_spark_file_sources_hide(spark, tmp_path):
    """A landing dir holding ``a.txt``, ``_partial.txt`` and
    ``.tmpx.tmp``, each one valid triple: the ``tle`` source's batch and
    stream reads see only ``a.txt``, as ``read_payloads`` (Spark's
    ``binaryFile``, which hides ``_`` and ``.`` names) does."""
    from celestrak_tle_data_pipeline_spark.operators.assembly import (
        assemble_from_payloads,
        read_payloads,
    )

    land = tmp_path / "hland"
    land.mkdir()
    for i, fname in enumerate(("a.txt", "_partial.txt", ".tmpx.tmp"), 1):
        (land / fname).write_text(
            _payload(46000 + i).replace(f"SAT-{46000 + i}", f"SAT-{i}")
        )
    _register(spark)

    def names(df) -> list[str]:
        return sorted(r.sat_name_raw for r in df.collect())

    via_catalyst = names(
        assemble_from_payloads(read_payloads(spark, str(land)))
    )
    via_batch = names(
        spark.read.format("tle").option("path", str(land)).load()
    )
    streamed: list = []
    q = (
        spark.readStream.format("tle")
        .option("path", str(land))
        .load()
        .writeStream.foreachBatch(
            lambda df, _id: streamed.extend(df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "hck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert via_catalyst == ["SAT-1"]
    assert via_batch == via_catalyst
    assert sorted(r.sat_name_raw for r in streamed) == via_catalyst


def test_assembly_strips_what_python_strip_strips(spark):
    """The reference strips the payload and each line with
    ``str.strip()`` (script.py:119, 125-127), which removes every
    ``str.isspace()`` code point, not only ASCII whitespace. The
    Catalyst assembly and its Python twin ``split_triples`` agree on a
    payload carrying each such character at both payload ends, at both
    ends of every line, and inside a line (where it is kept)."""
    from celestrak_tle_data_pipeline_spark.operators.assembly import (
        assemble_from_payloads,
    )
    from celestrak_tle_data_pipeline_spark.sources.pysource import (
        split_triples,
    )

    spaces = [chr(c) for c in range(0x3001) if chr(c).isspace()]
    assert len(spaces) == 29
    payloads = [
        (i, f"{c}{c}SAT-{i}{c}\n{c}L1{c}x{c}\nL2{c}{c}\n{c}B-{i}\nB1{c}\n{c}B2{c}{c}")
        for i, c in enumerate(spaces)
    ]
    df = spark.createDataFrame(payloads, "id int, payload string")
    got: dict[int, list] = {i: [] for i, _ in payloads}
    for r in assemble_from_payloads(df).collect():
        got[r.id].append((r.sat_name_raw, r.line1, r.line2))
    for i, payload in payloads:
        assert sorted(got[i]) == sorted(split_triples(payload)), (
            f"U+{ord(spaces[i]):04X}"
        )
