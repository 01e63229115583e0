"""Warehouse maintenance (sinks/maintenance.py): small-file profile +
partition-selective compaction.

Pins: the profile counts files/rows/bytes per partition from the
``_metadata`` scan column; compaction rewrites ONLY over-threshold
partitions (untouched partitions keep their exact physical files),
preserves row sets exactly, and splits an oversized partition into
multiple target-sized files via the records cap; every rewrite checks
its digest and raises on a mismatch; vacuum restores what a crash
between a swap's two renames left behind.
"""

from __future__ import annotations

import datetime as dtm
import glob
import os

from pyspark.sql import functions as F

from celestrak_tle_data_pipeline_spark.sinks.maintenance import (
    compact_partitions,
    partition_file_profile,
)
from celestrak_tle_data_pipeline_spark.sinks.warehouse import ParquetWarehouse


def _write_fragmented(spark, path, date, n_files, rows_per_file, start=0):
    """Append n_files one-by-one into a date partition (the cron-writer
    fragmentation shape)."""
    for i in range(n_files):
        base = start + i * rows_per_file
        df = spark.createDataFrame(
            [(base + j, date, float(base + j)) for j in range(rows_per_file)],
            "id long, d string, v double",
        )
        df.coalesce(1).write.mode("append").partitionBy("d").parquet(path)


def _files(path, part):
    return sorted(
        glob.glob(os.path.join(path, f"d={part}", "*.parquet"))
    )


D1 = dtm.date(2024, 1, 1)
D2 = dtm.date(2024, 1, 2)


def _rows(spark, path):
    return {
        (r.id, r.d, r.v)
        for r in spark.read.parquet(path).collect()
    }


def test_profile_and_selective_compaction(spark, tmp_path):
    whroot = str(tmp_path / "wh")
    wh = ParquetWarehouse(spark, whroot)
    tpath = wh.path("frag")

    # partition A: 8 tiny files (fragmented); partition B: 2 files (fine)
    _write_fragmented(spark, tpath, "2024-01-01", 8, 5)
    _write_fragmented(spark, tpath, "2024-01-02", 2, 5, start=1000)
    before_rows = _rows(spark, tpath)
    b_files_before = _files(tpath, "2024-01-02")

    prof = {
        r.d: r
        for r in partition_file_profile(wh, "frag", "d").collect()
    }
    assert prof[D1].file_count == 8
    assert prof[D1].row_count == 40
    assert prof[D2].file_count == 2
    assert prof[D2].row_count == 10
    assert prof[D1].total_bytes > 0

    stats = compact_partitions(
        wh, "frag", "d", max_files_per_partition=4
    )
    assert stats["compacted_partitions"] == 1
    assert stats["files_before"] == 8
    assert stats["files_after"] == 1

    # rows exactly preserved; the healthy partition physically untouched
    assert _rows(spark, tpath) == before_rows
    assert _files(tpath, "2024-01-02") == b_files_before
    assert len(_files(tpath, "2024-01-01")) == 1

    # idempotent: nothing left over threshold
    again = compact_partitions(wh, "frag", "d", max_files_per_partition=4)
    assert again["compacted_partitions"] == 0
    assert _rows(spark, tpath) == before_rows


def test_compaction_splits_to_target_size(spark, tmp_path):
    """An oversized partition compacts to MULTIPLE files: the records
    cap (derived from measured bytes/row and the byte target) re-splits
    inside the single writer task."""
    whroot = str(tmp_path / "wh2")
    wh = ParquetWarehouse(spark, whroot)
    tpath = wh.path("big")

    _write_fragmented(spark, tpath, "2024-02-01", 6, 200)
    before_rows = _rows(spark, tpath)

    # measure bytes/row, then target ~1/3 of the partition per file
    prof = partition_file_profile(wh, "big", "d").collect()[0]
    target = int(prof.total_bytes / 3)

    stats = compact_partitions(
        wh,
        "big",
        "d",
        max_files_per_partition=4,
        target_file_bytes=target,
    )
    assert stats["compacted_partitions"] == 1
    # fewer files than before, more than one (the split happened)
    assert 1 < stats["files_after"] < 6
    assert _rows(spark, tpath) == before_rows

    # every compacted file respects the records cap implied by target
    per_file = (
        spark.read.parquet(tpath)
        .groupBy(F.col("_metadata.file_path"))
        .count()
        .collect()
    )
    assert max(r["count"] for r in per_file) <= max(
        1, (target * 1200) // prof.total_bytes
    )


def test_table_digest_order_independent_and_sensitive(spark, tmp_path):
    """The maintenance digest is partitioning/order-independent (the
    property that makes it a valid rewrite-equality) and changes when
    any row changes."""
    from celestrak_tle_data_pipeline_spark.sinks.maintenance import (
        table_digest,
    )

    df = spark.createDataFrame(
        [(i, f"s{i}", float(i) / 7) for i in range(100)],
        "id long, s string, v double",
    )
    d1 = table_digest(df)
    d2 = table_digest(df.repartition(7).sortWithinPartitions("v"))
    assert d1 == d2 and d1[0] == 100

    tampered = df.withColumn(
        "v", F.when(F.col("id") == 42, 0.0).otherwise(F.col("v"))
    )
    assert table_digest(tampered) != d1

    # null is not the empty string
    a = spark.createDataFrame([(1, None)], "id long, s string")
    b = spark.createDataFrame([(1, "")], "id long, s string")
    assert table_digest(a) != table_digest(b)


def test_recluster_zorder_improves_file_skipping(spark, tmp_path):
    """OPTIMIZE ZORDER as a maintenance op: before reclustering, a
    narrow range predicate on either dimension must open (almost)
    every file; after the Morton rewrite, per-file footer stats prune
    most files on BOTH dimensions — measured with the same _metadata
    min/max a real scan prunes on. Rows digest-identical across the
    rewrite (a digest mismatch raises)."""
    from celestrak_tle_data_pipeline_spark.sinks.maintenance import (
        file_pruning_ratio,
        recluster_zorder,
        table_digest,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "whz"))
    tpath = wh.path("zt")

    # deterministic scatter: both dims decorrelated from row order, so
    # insertion-ordered files have ~full min/max spans on each
    n = 1 << 14
    df = spark.range(n).select(
        F.col("id"),
        ((F.col("id") * 2654435761) % 256).alias("cx"),
        ((F.col("id") * 40503 + 17) % 256).alias("cy"),
    )
    df.repartition(8).write.parquet(tpath)
    d0 = table_digest(spark.read.parquet(tpath))

    files0, hit0 = file_pruning_ratio(wh, "zt", "cx", 0, 15)
    assert files0 == 8 and hit0 == 8  # every file must be opened

    stats = recluster_zorder(wh, "zt", ("cx", "cy"), n_files=16)
    assert stats["digest"] == d0
    assert table_digest(spark.read.parquet(tpath)) == d0

    fx, hx = file_pruning_ratio(wh, "zt", "cx", 0, 15)
    fy, hy = file_pruning_ratio(wh, "zt", "cy", 0, 15)
    assert fx == fy == stats["n_files"] >= 8
    # a 1/16-wide predicate on EITHER dimension prunes at least half
    # the files (Z-order bounds both dims; a linear sort bounds one)
    assert hx <= fx // 2
    assert hy <= fy // 2


def test_vacuum_removes_only_maintenance_debris(spark, tmp_path):
    """Crashed-maintenance leftovers (staged temp/old dirs) are
    removed; real tables and their files are untouched."""
    import os

    from celestrak_tle_data_pipeline_spark.sinks.maintenance import (
        table_digest,
        vacuum_maintenance_debris,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "whv"))
    tpath = wh.path("keep")
    spark.createDataFrame(
        [(1, "a")], "id long, s string"
    ).write.parquet(tpath)
    d0 = table_digest(spark.read.parquet(tpath))

    # simulate three crash residues
    os.makedirs(wh.path("keep") + ".__recluster_tmp")
    os.makedirs(wh.path("keep") + ".__recluster_old")
    os.makedirs(os.path.join(tpath, ".compact_tmp_2024-01-01"))

    removed = vacuum_maintenance_debris(wh)
    assert len(removed) == 3
    assert not os.path.exists(wh.path("keep") + ".__recluster_tmp")
    assert not os.path.exists(
        os.path.join(tpath, ".compact_tmp_2024-01-01")
    )
    assert table_digest(spark.read.parquet(tpath)) == d0
    assert vacuum_maintenance_debris(wh) == []  # idempotent


def _crash_on_second_rename(monkeypatch):
    """Make the second ``os.rename`` raise: a maintenance swap dies
    after moving the live directory aside, before moving its
    replacement in."""
    real, calls = os.rename, []

    def rename(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("simulated crash between the swap renames")
        real(src, dst)

    monkeypatch.setattr(os, "rename", rename)


def test_vacuum_restores_a_table_after_a_crashed_recluster_swap(
    spark, tmp_path, monkeypatch
):
    """A crash between recluster's two renames leaves the table only
    under ``<table>.__recluster_old``; vacuum renames it back before it
    removes the staged copy, so no row is lost."""
    import pytest as _pytest

    from celestrak_tle_data_pipeline_spark.sinks.maintenance import (
        recluster_zorder,
        table_digest,
        vacuum_maintenance_debris,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "whr"))
    tpath = wh.path("zt")
    spark.range(64).select(
        "id", (F.col("id") % 7).alias("cx"), (F.col("id") % 5).alias("cy")
    ).write.parquet(tpath)
    d0 = table_digest(spark.read.parquet(tpath))

    _crash_on_second_rename(monkeypatch)
    with _pytest.raises(OSError):
        recluster_zorder(wh, "zt", ("cx", "cy"), n_files=2)
    monkeypatch.undo()
    assert not os.path.exists(tpath)

    vacuum_maintenance_debris(wh)
    assert os.listdir(wh.root) == ["zt"]
    assert table_digest(spark.read.parquet(tpath)) == d0


def test_vacuum_restores_a_partition_after_a_crashed_compaction_swap(
    spark, tmp_path, monkeypatch
):
    """Compaction swaps a partition with two renames. A crash between
    them leaves the partition only under ``.compact_old_<col>=<value>``;
    vacuum renames it back before it removes the staged copy, so the
    table digest is unchanged."""
    import pytest as _pytest

    from celestrak_tle_data_pipeline_spark.sinks.maintenance import (
        table_digest,
        vacuum_maintenance_debris,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "whc"))
    tpath = wh.path("frag")
    _write_fragmented(spark, tpath, "2024-01-01", 6, 5)
    _write_fragmented(spark, tpath, "2024-01-02", 6, 5, start=1000)
    d0 = table_digest(spark.read.parquet(tpath))

    _crash_on_second_rename(monkeypatch)
    with _pytest.raises(OSError):
        compact_partitions(wh, "frag", "d", max_files_per_partition=4)
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(tpath, "d=2024-01-01"))

    vacuum_maintenance_debris(wh)
    assert sorted(
        e for e in os.listdir(tpath)
        if os.path.isdir(os.path.join(tpath, e))
    ) == ["d=2024-01-01", "d=2024-01-02"]
    assert os.listdir(wh.root) == ["frag"]
    assert table_digest(spark.read.parquet(tpath)) == d0


def test_maintenance_rewrites_raise_on_a_digest_mismatch(
    spark, tmp_path, monkeypatch
):
    """Both rewrites always check the digest: neither has an option to
    skip it, and an after-digest that differs from the one taken before
    the rewrite raises."""
    import inspect

    import pytest as _pytest

    from celestrak_tle_data_pipeline_spark.sinks import maintenance

    real = maintenance.table_digest
    calls = []

    def tampered(df):
        n, x, s = real(df)
        calls.append(n)
        # every digest after the first (the pre-rewrite one) is off by
        # one bit, as if the rewrite had changed a row
        return (n, x ^ 1, s) if len(calls) > 1 else (n, x, s)

    monkeypatch.setattr(maintenance, "table_digest", tampered)
    wh = ParquetWarehouse(spark, str(tmp_path / "whd"))
    _write_fragmented(spark, wh.path("frag"), "2024-01-01", 6, 5)
    spark.range(64).select(
        "id", (F.col("id") % 7).alias("cx"), (F.col("id") % 5).alias("cy")
    ).write.parquet(wh.path("zt"))

    for rewrite in (
        lambda: maintenance.compact_partitions(
            wh, "frag", "d", cluster_by=("id",)
        ),
        lambda: maintenance.recluster_zorder(
            wh, "zt", ("cx", "cy"), n_files=2
        ),
    ):
        calls.clear()
        with _pytest.raises(RuntimeError, match="digest mismatch"):
            rewrite()
        assert len(calls) == 2
    for fn in (maintenance.compact_partitions, maintenance.recluster_zorder):
        assert "verify" not in inspect.signature(fn).parameters


def test_recluster_refuses_hive_partitioned_tables(spark, tmp_path):
    """recluster_zorder on a hive-partitioned table would silently
    flatten the directory-encoded partition column into a data column
    and kill partition pruning — it must refuse instead."""
    import pytest as _pytest

    from celestrak_tle_data_pipeline_spark.sinks.maintenance import (
        recluster_zorder,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "whp"))
    spark.createDataFrame(
        [(1, "2024-01-01", 2)], "id long, d string, v long"
    ).write.partitionBy("d").parquet(wh.path("pt"))

    with _pytest.raises(ValueError, match="hive-partitioned"):
        recluster_zorder(wh, "pt", ("id", "v"))
