"""Warehouse table maintenance: the small-files problem, measured and
fixed (the OPTIMIZE/compaction surface a plain-parquet warehouse needs).

Every incremental writer in this engine — the append sinks, the MERGE
upsert, the foreachBatch CDC apply — adds files per run. At cron
cadence that is the classic parquet failure mode: a year of 15-minute
micro-batches turns a date partition into tens of thousands of
KB-sized files, and scan cost becomes file-open cost (driver listing,
footer reads, task-per-file scheduling) instead of byte cost.

Two operations, both partition-selective:

- :func:`partition_file_profile` — per-partition (file_count,
  total_bytes, avg/min file size) built from the ``_metadata`` hidden
  column of the file source, so the inventory is computed
  DISTRIBUTED by the scan itself: no driver-side directory walk, no
  filesystem listing loop — the same plan shape at 10 files or 10
  million. One row per file leaves the executors (metadata-sized).
- :func:`compact_partitions` — rewrite ONLY the partitions whose file
  count exceeds a threshold, each to ``ceil(bytes/target)`` files via
  per-partition ``repartition``, optionally sorted within files on a
  cluster key, staged into a sibling directory and rename-swapped per
  partition once fully committed. Untouched partitions keep their
  exact files (pinned by test on file paths); compacted ones keep
  their exact ROWS (pinned on full row sets).

Non-transactional caveat, stated: plain parquet has no snapshot
isolation — a reader racing the overwrite of one partition can see it
mid-rewrite. That is the Delta/Iceberg boundary; the scheduling story
here is the reference's own (a cron window owns the table during
maintenance, reference data-pipeline.yml).

:func:`compact_partitions` is the engine's one compaction;
:func:`recluster_zorder` is the multi-dimensional layout op beside it.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .warehouse import ParquetWarehouse


def _with_file_meta(wh: ParquetWarehouse, table: str) -> DataFrame:
    """The table plus its physical file path/size, from the hidden
    ``_metadata`` struct (populated per-row by the scan itself)."""
    return wh.spark.read.parquet(wh.path(table)).select(
        "*",
        F.col("_metadata.file_path").alias("__file"),
        F.col("_metadata.file_size").alias("__bytes"),
    )


def partition_file_profile(
    wh: ParquetWarehouse, table: str, partition_col: str
) -> DataFrame:
    """One row per partition value: file_count, total_bytes,
    avg_file_bytes, min_file_bytes. Two tiny hash aggregations (rows →
    distinct files → partitions); nothing row-sized leaves the scan."""
    files = (
        _with_file_meta(wh, table)
        .select(partition_col, "__file", "__bytes")
        .groupBy(partition_col, "__file")
        .agg(
            F.first("__bytes").alias("bytes"),
            F.count(F.lit(1)).alias("rows"),
        )
    )
    return files.groupBy(partition_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("file_count"),
        F.sum("rows").cast("bigint").alias("row_count"),
        F.sum("bytes").cast("bigint").alias("total_bytes"),
        F.avg("bytes").cast("bigint").alias("avg_file_bytes"),
        F.min("bytes").cast("bigint").alias("min_file_bytes"),
    )


MERSENNE61 = 2305843009213693951  # 2^61 − 1 (the X128 digest group)


def table_digest(df: DataFrame) -> tuple[int, int, int]:
    """(row_count, xor-fold, sum-fold mod 2^61−1) over 60-bit row
    hashes of EVERY column — order- and partitioning-independent by
    construction (both combiners are commutative groups), so it is the
    right equality for "did a rewrite preserve the rows" at any scale:
    one map-side fold, nothing row-sized reaches the driver. Nulls are
    distinguished from empty strings by an explicit marker."""
    cols = [
        F.coalesce(F.col(c).cast("string"), F.lit("␀"))
        for c in sorted(df.columns)
    ]
    v = F.conv(
        F.substring(F.md5(F.concat_ws("|", *cols)), 1, 15), 16, 10
    ).cast("bigint")
    row = (
        df.select(v.alias("v"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.coalesce(F.bit_xor("v"), F.lit(0)).alias("x"),
            # sum in decimal(38,0) — the bigint sum overflows under
            # ANSI at ~2^63/2^60 ≈ 8 rows (integrity.py's convention)
            F.coalesce(
                F.pmod(
                    F.sum(F.col("v").cast("decimal(38,0)")),
                    F.lit(MERSENNE61).cast("decimal(38,0)"),
                ).cast("bigint"),
                F.lit(0),
            ).alias("s"),
        )
        .collect()[0]
    )
    return int(row.n), int(row.x), int(row.s)


def compact_partitions(
    wh: ParquetWarehouse,
    table: str,
    partition_col: str,
    *,
    max_files_per_partition: int = 4,
    target_file_bytes: int = 128 * 1024 * 1024,
    cluster_by: tuple[str, ...] = (),
) -> dict:
    """Rewrite every partition holding more than
    ``max_files_per_partition`` files down to ``ceil(bytes/target)``
    files; leave the rest physically untouched.

    The rewrite reads ONLY the flagged partitions (partition-pruned
    scan), repartitions by the partition column so each output
    partition writes its own files, sorts within them on
    ``cluster_by`` (so parquet row-group min/max stats cluster and
    point/range probes on the key skip row groups), stages the result
    into a sibling ``<table>.__compact_stage`` directory, and
    rename-swaps each partition in once the staged copy is fully
    committed (the crash-safe discipline of ``recluster_zorder``). The
    rewritten partitions must give back the digest taken before the
    rewrite, or it raises. Returns
    ``{"compacted_partitions", "files_before", "files_after"}``."""
    profile = partition_file_profile(wh, table, partition_col)
    flagged = [
        (r[0], int(r.file_count), int(r.row_count), int(r.total_bytes))
        for r in profile.where(
            F.col("file_count") > max_files_per_partition
        ).collect()  # partition-count-sized
    ]
    if not flagged:
        return {
            "compacted_partitions": 0,
            "files_before": 0,
            "files_after": 0,
        }

    values = [v for v, _, _, _ in flagged]
    # target file size in ROWS, from measured bytes/row over the
    # flagged partitions (the writer caps files by records, not bytes;
    # small-file parquet overstates bytes/row, so this lands UNDER the
    # byte target — the safe side)
    tot_rows = sum(n for _, _, n, _ in flagged)
    tot_bytes = sum(b for _, _, _, b in flagged)
    rows_per_file = max(1, math.floor(target_file_bytes * tot_rows / tot_bytes))

    src = (
        wh.spark.read.parquet(wh.path(table))
        .where(F.col(partition_col).isin(values))
    )
    # digest BEFORE the rewrite (one extra scan of the flagged
    # partitions — bounded by what is being rewritten anyway); the
    # same digest must come back from the compacted files, or we raise.
    # Detection, not prevention: parquet has no transaction to roll
    # back, so a mismatch means "restore from the upstream" — but it
    # means you KNOW, instead of serving a maintenance-corrupted table.
    before = table_digest(src)
    import os
    import shutil

    base = wh.path(table)
    # Stage the rewrite into a SIBLING directory, then rename-swap each
    # partition — never read-and-overwrite the same path in one job (it
    # survives only while the local committer defers deletion; a
    # committer change could delete the partition mid-read, and the
    # digest check would detect but not restore).
    # The staged copy is complete ON DISK before any live directory
    # moves. A crash between a partition's two renames leaves it only
    # under ``.compact_old_<col>=<value>``; vacuum_maintenance_debris
    # renames it back, then removes the stale stage.
    stage = base + ".__compact_stage"
    shutil.rmtree(stage, ignore_errors=True)
    (
        # one shuffle keyed by the partition column: every row of a
        # flagged partition lands in the task writing that partition,
        # and maxRecordsPerFile re-splits any partition that outgrows
        # one target file; every file written, split ones included, is
        # sorted on the cluster key
        src.repartition(len(values), F.col(partition_col))
        .sortWithinPartitions(partition_col, *cluster_by)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", rows_per_file)
        .partitionBy(partition_col)
        .parquet(stage)
    )
    # swap in each staged partition (dir names come from the stage
    # listing itself, so hive value-escaping never needs re-deriving)
    for d in sorted(os.listdir(stage)):
        if not d.startswith(f"{partition_col}="):
            continue
        pdir = os.path.join(base, d)
        # the old copy keeps ``col=value``, so vacuum_maintenance_debris
        # can rename it back if a crash falls between the two renames
        old = os.path.join(base, ".compact_old_" + d)
        shutil.rmtree(old, ignore_errors=True)
        os.rename(pdir, old)
        os.rename(os.path.join(stage, d), pdir)
        shutil.rmtree(old)
    shutil.rmtree(stage)
    wh.spark.catalog.refreshByPath(base)

    after_digest = table_digest(
        wh.spark.read.parquet(wh.path(table)).where(
            F.col(partition_col).isin(values)
        )
    )
    if after_digest != before:
        raise RuntimeError(
            f"compaction digest mismatch on {table}: "
            f"{before} -> {after_digest}"
        )

    after = {
        r[0]: int(r.file_count)
        for r in partition_file_profile(wh, table, partition_col)
        .where(F.col(partition_col).isin(values))
        .collect()
    }
    return {
        "compacted_partitions": len(flagged),
        "files_before": sum(c for _, c, _, _ in flagged),
        "files_after": sum(after.values()),
    }


def _morton16(x: str, y: str) -> str:
    """16-bit Morton interleave of the low 8 bits of two columns — the
    one copy; the Z-order queries in `plans/ext_pipeline.py` use it
    too, and certify it against the DuckDB oracle (X85)."""
    terms = []
    for i in range(8):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def file_pruning_ratio(
    wh: ParquetWarehouse, table: str, col: str, lo, hi
) -> tuple[int, int]:
    """(total_files, files a footer-stats reader must OPEN for
    ``col BETWEEN lo AND hi``) — per-file min/max built from the
    ``_metadata`` column, i.e. the exact statistics a parquet scan
    prunes on, measured distributed."""
    per_file = (
        _with_file_meta(wh, table)
        .groupBy("__file")
        .agg(F.min(col).alias("mn"), F.max(col).alias("mx"))
    )
    row = per_file.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("mx") >= F.lit(lo)) & (F.col("mn") <= F.lit(hi)),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).cast("bigint").alias("hit"),
    ).collect()[0]
    return int(row.n), int(row.hit)


def recluster_zorder(
    wh: ParquetWarehouse,
    table: str,
    dim_cols: tuple[str, str],
    *,
    n_files: int = 16,
) -> dict:
    """OPTIMIZE ZORDER equivalent on plain parquet: rewrite the table
    range-partitioned by the 16-bit Morton code of two (modular-folded)
    dimensions, so each output file covers one compact 2-D tile and a
    range predicate on EITHER dimension prunes most files by footer
    stats alone (X85's invariant, applied as a maintenance op instead
    of a query-side demonstration).

    Mechanics: one `repartitionByRange` shuffle on the code (the
    expression is map-side codegen), write to a sibling temp dir, then
    swap directories. The swap is the plain-parquet transactional
    boundary — a reader racing it can fail to list; the cron window
    owns the table during maintenance (same caveat as
    :func:`compact_partitions`, stated). The X128 digest over all
    columns must match across the rewrite, or it raises.

    Returns {"n_files", "digest"} for the maintenance log."""
    import os
    import shutil

    # a hive-partitioned table would silently FLATTEN here (the
    # directory-encoded partition column becomes a data column and
    # partition pruning dies); recluster those per-partition instead
    part_dirs = [
        d
        for d in os.listdir(wh.path(table))
        if "=" in d and os.path.isdir(os.path.join(wh.path(table), d))
    ]
    if part_dirs:
        raise ValueError(
            f"{table} is hive-partitioned ({part_dirs[0]}, ...): "
            "recluster_zorder would flatten the layout — recluster "
            "within partitions or compact first"
        )

    cx, cy = dim_cols
    src = wh.spark.read.parquet(wh.path(table))
    before = table_digest(src)

    x = F.pmod(F.col(cx).cast("bigint"), F.lit(256))
    y = F.pmod(F.col(cy).cast("bigint"), F.lit(256))
    coded = src.withColumn("__zx", x).withColumn("__zy", y).withColumn(
        "__z", F.expr(_morton16("__zx", "__zy")).cast("bigint")
    )
    tmp = wh.path(table) + ".__recluster_tmp"
    (
        coded.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__zx", "__zy", "__z")
        .write.mode("overwrite")
        .parquet(tmp)
    )
    old = wh.path(table) + ".__recluster_old"
    os.rename(wh.path(table), old)
    os.rename(tmp, wh.path(table))
    shutil.rmtree(old)
    # drop any cached file listing for the swapped directory
    wh.spark.catalog.refreshByPath(wh.path(table))

    after = table_digest(wh.spark.read.parquet(wh.path(table)))
    if after != before:
        raise RuntimeError(
            f"recluster digest mismatch on {table}: {before} -> {after}"
        )
    n, _ = file_pruning_ratio(wh, table, cx, -(2**62), 2**62)
    return {"n_files": n, "digest": before}


def vacuum_maintenance_debris(wh: ParquetWarehouse) -> list[str]:
    """Repair and remove the leftovers of CRASHED maintenance jobs —
    the plain-parquet analog of Delta VACUUM's narrow, safe core. Every
    maintenance rewrite in this engine stages into a sibling directory
    and then swaps it in with two renames: live → old, staged → live.

    - An old copy whose live directory is missing is the only copy
      left (the crash fell between the two renames), so it is renamed
      back: ``<table>.__recluster_old`` → ``<table>``, and
      ``<table>/.compact_old_<col>=<value>`` → ``<table>/<col>=<value>``.
    - Only then is the rest removed: old copies whose live directory
      exists, and staged copies (``<table>.__recluster_tmp``,
      ``<table>.__compact_stage``, ``<table>/.compact_tmp_<value>``).
      Live readers never reference these names (dot-prefixed dirs are
      never listed by the scan; the dot-free recluster dirs could be
      mistaken for a table by path listings). An old copy named by the
      partition value alone, without its column, is left in place: the
      live directory it came from cannot be derived from that name.

    Returns the removed paths. Scale shape: one directory listing per
    table — maintenance debris is table-count-sized, never data-sized."""
    import os
    import shutil

    root = wh.root

    def subdirs(path):
        return [
            os.path.join(path, e)
            for e in sorted(os.listdir(path))
            if os.path.isdir(os.path.join(path, e))
        ]

    for full in subdirs(root):
        if full.endswith(".__recluster_old"):
            live = full[: -len(".__recluster_old")]
            if not os.path.exists(live):
                os.rename(full, live)
    prefix = ".compact_old_"
    old_parts = {
        sub: os.path.join(table, os.path.basename(sub)[len(prefix):])
        for table in subdirs(root)
        for sub in subdirs(table)
        if os.path.basename(sub).startswith(prefix)
        and "=" in os.path.basename(sub)
    }
    for old, live in old_parts.items():
        if not os.path.exists(live):
            os.rename(old, live)

    removed: list[str] = []
    for full in subdirs(root):
        if full.endswith((
            ".__recluster_tmp",
            ".__recluster_old",
            ".__compact_stage",
        )):
            shutil.rmtree(full)
            removed.append(full)
            continue
        for sub in subdirs(full):
            if sub in old_parts or os.path.basename(sub).startswith(
                ".compact_tmp_"
            ):
                shutil.rmtree(sub)
                removed.append(sub)
    return removed
