"""The round-7 ops surfaces COMPOSED into one production loop:

    land → stream → quality gate → MERGE upsert → (poisoned batch
    quarantined) → corrected re-land → small-file compaction with
    digest self-verification → file profile clean

Each piece is certified alone (tests/test_quality_gate.py,
test_cdc_stream.py, test_maintenance.py); this pins that they
compose — the quality gate's wrapped writer IS the merge sink, the
compactor runs over the table those merges fragmented, and the final
table equals the batch-computed expectation.
"""

from __future__ import annotations

import datetime as dtm

from pyspark.sql import functions as F

from celestrak_tle_data_pipeline_spark.sinks.maintenance import (
    compact_partitions,
    partition_file_profile,
)
from celestrak_tle_data_pipeline_spark.sinks.warehouse import (
    merge_upsert_telemetry,
)
from celestrak_tle_data_pipeline_spark.streaming.quality import (
    AUDIT_TABLE,
    Constraint,
    QualityGatedSink,
)

ROW_SCHEMA = (
    "norad_id long, epoch_utc timestamp, fetched_at_utc timestamp, "
    "inclination double, raan double, eccentricity double, "
    "arg_perigee double, mean_anomaly double, mean_motion double, "
    "b_star_drag double, rev_number long"
)

DAY = dtm.datetime(2024, 3, 1, 12, 0, 0)
T0 = dtm.datetime(2024, 3, 10, 0, 0, 0)


def _row(norad, hour, ecc=0.001):
    return (
        norad,
        DAY + dtm.timedelta(hours=hour),
        T0,
        53.0, 205.0, ecc, 90.0, 270.0, 15.0, 0.0001, 12345,
    )


def test_ingest_to_maintenance_loop(spark, tmp_path):
    landing = tmp_path / "land"
    landing.mkdir()
    whroot = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ck")

    gate = QualityGatedSink(
        spark,
        whroot,
        merge_upsert_telemetry,
        [
            Constraint(
                "eccentricity_range",
                (F.col("eccentricity") >= 0)
                & (F.col("eccentricity") < 1),
                max_violation_frac=0.1,
            )
        ],
    )

    def drain():
        src = spark.readStream.schema(ROW_SCHEMA).parquet(
            str(landing / "w*")
        )
        q = (
            src.writeStream.foreachBatch(gate.apply)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # six clean waves, one row each, same date partition → the
    # cron-fragmentation shape the compactor exists for
    for i in range(6):
        spark.createDataFrame(
            [_row(500 + i, hour=i)], ROW_SCHEMA
        ).coalesce(1).write.parquet(str(landing / f"w{i}"))
        drain()

    # a poisoned wave: gate quarantines, warehouse untouched
    spark.createDataFrame(
        [_row(600, 7, ecc=5.0), _row(601, 8, ecc=4.0)], ROW_SCHEMA
    ).coalesce(1).write.parquet(str(landing / "w6"))
    drain()
    fact = gate.wh.read("fact_telemetry")
    assert fact.count() == 6
    assert spark.read.parquet(gate.wh.path("quarantine")).count() == 2

    # the corrected wave lands
    spark.createDataFrame(
        [_row(600, 7), _row(601, 8)], ROW_SCHEMA
    ).coalesce(1).write.parquet(str(landing / "w7"))
    drain()
    assert gate.wh.read("fact_telemetry").count() == 8

    audit = {
        r.batch_id: r.disposition
        for r in gate.wh.read(AUDIT_TABLE).collect()
    }
    assert sorted(audit.values()).count("quarantined") == 1
    assert sorted(audit.values()).count("applied") == 7

    # NB the MERGE sink rewrites whole partitions, so it SELF-compacts
    # (one file per touched partition per merge — worth pinning):
    prof0 = partition_file_profile(
        gate.wh, "fact_telemetry", "epoch_date"
    ).collect()
    assert len(prof0) == 1 and prof0[0].file_count == 1

    # fragmentation comes from the APPEND path (S9 chunked appends):
    # four one-row appends land four more files in the same partition
    for i in range(4):
        (
            spark.createDataFrame([_row(700 + i, hour=1 + i)], ROW_SCHEMA)
            .withColumn("epoch_date", F.to_date("epoch_utc"))
            .coalesce(1)
            .write.mode("append")
            .partitionBy("epoch_date")
            .parquet(gate.wh.path("fact_telemetry"))
        )
    prof = partition_file_profile(
        gate.wh, "fact_telemetry", "epoch_date"
    ).collect()
    assert len(prof) == 1 and prof[0].file_count == 5

    before = {
        tuple(r)
        for r in gate.wh.read("fact_telemetry")
        .select("norad_id", "epoch_utc", "mean_motion")
        .collect()
    }
    stats = compact_partitions(
        gate.wh,
        "fact_telemetry",
        "epoch_date",
        max_files_per_partition=1,
    )  # digest equality enforced inside
    assert stats["compacted_partitions"] == 1
    assert stats["files_after"] == 1

    after = {
        tuple(r)
        for r in gate.wh.read("fact_telemetry")
        .select("norad_id", "epoch_utc", "mean_motion")
        .collect()
    }
    assert after == before
    assert {r[0] for r in after} == (
        {500, 501, 502, 503, 504, 505, 600, 601} | {700, 701, 702, 703}
    )


def test_rounds_to_fixpoint_self_description(spark):
    # r11 verdict item 7: bounded-iteration contracts self-describe.
    # (a) connected_components(with_rounds=True) appends the constant
    # rounds column and converges well under the bound on a chain
    # graph of diameter 4; (b) the k-core diagnostic returns a round
    # count within the registered query's fixed _KCORE_ROUNDS bound.
    from celestrak_tle_data_pipeline_spark.operators.components import (
        connected_components,
    )
    from celestrak_tle_data_pipeline_spark.plans.graph_ops import (
        _KCORE_ROUNDS,
        kcore_rounds_to_fixpoint,
    )

    from conftest import SF_DIR

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "a long, b long"
    )
    out = connected_components(chain, with_rounds=True)
    assert "rounds_to_fixpoint" in out.columns
    rows = out.collect()
    rounds = {r.rounds_to_fixpoint for r in rows}
    assert len(rounds) == 1  # constant column
    assert rounds.pop() <= 20
    comps = {r.node: r.component for r in rows}
    assert comps[5] == 1 and comps[11] == 10

    # the plain call's schema is untouched (oracle-pinned queries)
    assert "rounds_to_fixpoint" not in connected_components(chain).columns

    kr = kcore_rounds_to_fixpoint(spark, SF_DIR)
    assert kr <= _KCORE_ROUNDS, (
        f"k-core fixpoint took {kr} rounds; registered bound is "
        f"{_KCORE_ROUNDS} — raise _KCORE_ROUNDS before the next SF jump"
    )
