"""Parquet-backed star-schema warehouse with check-then-write appends.

Re-expresses the reference's PostgreSQL load path (SURVEY.md §2.1
S6-S10, §2.6 D2): create-if-not-exists, key probes with projection/
predicate pushdown, anti-join dedup, append-only writes. Storage is
partitioned parquet; with Delta/Iceberg jars present the same API would
ride MERGE INTO instead (noted, not required here).

Scale design:
- ``fact_telemetry`` is partitioned by ``epoch_date`` so the 3-day
  dedup probe (reference ``script.py:159``) is partition-pruned — at
  100 TB the probe reads 3 partitions, not the table.
- Key probes select only key columns → parquet column pruning.
- Appends write whole files atomically per task; the empty-batch guard
  (reference ``script.py:132-134`` etc.) avoids empty-file litter.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import anti_join_new, distinct_on_key


class ParquetWarehouse:
    """Tiny table manager over a directory of parquet tables.

    ``ensure`` registers the table's schema + partition spec (CREATE
    TABLE IF NOT EXISTS, reference script.py:77-83); ``read`` of a
    not-yet-written table returns a typed empty DataFrame so the first
    run's key probes behave like probes of an empty warehouse."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._specs: dict[str, tuple] = {}

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        p = self.path(table)
        if not os.path.isdir(p):
            return False
        for _dir, _sub, files in os.walk(p):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def read(self, table: str) -> DataFrame:
        spec = self._specs.get(table)
        if not self.exists(table):
            if spec is None:
                raise FileNotFoundError(f"unknown table {table}; call ensure() first")
            return self.spark.createDataFrame([], spec[0])
        if spec is not None:
            # schema-on-read from ONE authority (the registered spec):
            # files written before an evolve() null-fill the added
            # columns, and no footer merging happens — mergeSchema
            # reads EVERY parquet footer (O(files) metadata I/O at
            # 100 TB) where the catalog schema is O(1)
            return self.spark.read.schema(spec[0]).parquet(self.path(table))
        return self.spark.read.parquet(self.path(table))

    def ensure(self, table: str, schema, partition_by: tuple[str, ...] = ()) -> None:
        """CREATE TABLE IF NOT EXISTS (reference script.py:77-83): records
        the schema + partition spec, creates the storage location, and
        registers the table in the session catalog so ``spark.sql``
        can address it by name. The catalog entry is external parquet —
        dropping it never touches data files."""
        self._specs[table] = (schema, partition_by)
        os.makedirs(self.path(table), exist_ok=True)
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        part = (
            f" PARTITIONED BY ({', '.join(f'`{c}`' for c in partition_by)})"
            if partition_by
            else ""
        )
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS `{table}` ({cols}) USING parquet"
            f"{part} LOCATION '{self.path(table)}'"
        )

    def evolve(self, table: str, new_schema) -> list[str]:
        """Additive schema evolution (ALTER TABLE ADD COLUMNS): the
        long-lived-pipeline operation the reference's fixed DDL
        (script.py:77-83) can't express. Contract:

        - every existing field persists with an IDENTICAL type —
          renames, drops, and retypes are rejected (those are
          rewrite-the-table migrations, not evolution);
        - every added field must be nullable (old files have no value
          to give it).

        Files already on disk are never touched: ``read`` projects the
        updated catalog spec, so pre-evolve files null-fill the new
        columns at scan time. Returns the added column names."""
        spec = self._specs.get(table)
        if spec is None:
            raise FileNotFoundError(f"unknown table {table}; call ensure() first")
        old_schema, partition_by = spec
        old = {f.name: f for f in old_schema.fields}
        new = {f.name: f for f in new_schema.fields}
        missing = [n for n in old if n not in new]
        if missing:
            raise ValueError(f"evolve cannot drop columns: {missing}")
        retyped = [
            n for n, f in old.items()
            if new[n].dataType != f.dataType
        ]
        if retyped:
            raise ValueError(f"evolve cannot change column types: {retyped}")
        added = [f for f in new_schema.fields if f.name not in old]
        not_null = [f.name for f in added if not f.nullable]
        if not_null:
            raise ValueError(
                f"added columns must be nullable: {not_null}"
            )
        self._specs[table] = (new_schema, partition_by)
        if added:
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in added
            )
            self.spark.sql(f"ALTER TABLE `{table}` ADD COLUMNS ({cols})")
        return [f.name for f in added]

    def refresh(self, table: str) -> None:
        """Sync catalog metadata after an append (partition discovery)."""
        self.spark.sql(f"MSCK REPAIR TABLE `{table}`")
        self.spark.catalog.refreshTable(table)

    def append(
        self,
        table: str,
        df: DataFrame,
        partition_by: tuple[str, ...] = (),
    ) -> int:
        """Append with an empty-batch guard.

        Returns rows written. The batch DAG executes ONCE: the row
        count piggybacks on the write via ``Observation`` (an
        accumulator filled by the write job itself), never a separate
        ``count()`` that would re-run the upstream anti-join/parse at
        100 TB. The empty guard is a limit-1 probe (cheap short-circuit,
        the reference's ``if not df.empty``, script.py:91/146/169).
        The batch min-row gate is ``pipeline.ingest_tle_payloads``'.
        """
        from pyspark.sql import Observation

        if df.isEmpty():
            return 0
        obs = Observation()
        observed = df.observe(obs, F.count(F.lit(1)).alias("n"))
        w = observed.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))
        return obs.get["n"]

    def expire_partitions(
        self, table: str, partition_col: str, keep_from: str
    ) -> list[str]:
        """Retention: drop whole partitions with value < ``keep_from``
        (string compare on the partition directory value — correct for
        ISO dates, the engine's partition grain). Deleting a partition
        directory is an O(files) metadata operation that never reads
        or rewrites data — THE reason the fact table is date-partitioned:
        at 100 TB, retention by row-level DELETE would rewrite the
        table; retention by partition drop is instant.

        Returns the dropped partition values. The catalog is refreshed
        so subsequent reads don't see dangling partitions.
        """
        import shutil

        base = self.path(table)
        dropped: list[str] = []
        for d in sorted(os.listdir(base)):
            if not d.startswith(f"{partition_col}="):
                continue
            value = d.split("=", 1)[1]
            if value < keep_from:
                shutil.rmtree(os.path.join(base, d))
                dropped.append(value)
        if dropped:
            try:
                self.spark.sql(f"MSCK REPAIR TABLE `{table}` DROP PARTITIONS")
                self.spark.catalog.refreshTable(table)
            except Exception:  # noqa: BLE001 — table may be path-only
                self.spark.catalog.clearCache()
        return dropped


def append_new_satellites(wh: ParquetWarehouse, parsed: DataFrame) -> int:
    """J1 + D1 + S8: new dim rows only (reference script.py:140-148)."""
    from ..functions.tle import launch_year
    from ..schemas import DIM_SATELLITES

    wh.ensure("dim_satellites", DIM_SATELLITES)
    existing = wh.read("dim_satellites").select("norad_id")  # projection pushdown (S3)
    dims = distinct_on_key(
        parsed.select("norad_id", "sat_name", "intl_designator", "epoch_utc"),
        ["norad_id"],
        order_by=[F.col("epoch_utc").asc()],
    ).select(
        "norad_id",
        "sat_name",
        "intl_designator",
        launch_year(F.col("intl_designator")).alias("launch_year"),
    )
    # dim key set is small by construction → force broadcast
    new = anti_join_new(dims, existing, ["norad_id"], broadcast=True)
    return wh.append("dim_satellites", new)


def append_new_telemetry(
    wh: ParquetWarehouse, parsed: DataFrame, lookback_days: int = 3
) -> int:
    """P5 + J3 + S9: bounded-window idempotent fact append
    (reference script.py:151-172, dedup window semantics D2 preserved:
    epochs older than the lookback CAN duplicate — documented trade-off).
    """
    from pyspark.sql import types as T

    from ..schemas import FACT_TELEMETRY, FACT_TELEMETRY_PARTITION_COL

    fact_cols = [f.name for f in FACT_TELEMETRY.fields]
    # NB: StructType.add mutates in place — build a fresh StructType.
    stored_schema = T.StructType(
        list(FACT_TELEMETRY.fields)
        + [T.StructField(FACT_TELEMETRY_PARTITION_COL, T.DateType(), True)]
    )
    wh.ensure(
        "fact_telemetry", stored_schema, partition_by=(FACT_TELEMETRY_PARTITION_COL,)
    )
    batch = parsed.select(*fact_cols).withColumn(
        FACT_TELEMETRY_PARTITION_COL, F.to_date("epoch_utc")
    )
    # 3-day probe (S5/P5): the exact reference predicate
    # (epoch_utc > NOW() - INTERVAL '3 days', script.py:159) PLUS a
    # redundant predicate on the partition column so the scan is
    # partition-pruned — the timestamp filter alone can't prune.
    recent = (
        wh.read("fact_telemetry")
        .where(
            F.col(FACT_TELEMETRY_PARTITION_COL)
            >= F.date_sub(F.current_date(), lookback_days)
        )
        .where(
            F.col("epoch_utc")
            > F.current_timestamp() - F.expr(f"INTERVAL {lookback_days} DAYS")
        )
        .select("norad_id", "epoch_utc")
    )
    # the probe is 3 days of the fact table — can be huge at scale, so
    # the join strategy stays size-gated by Catalyst/AQE (no forced
    # broadcast)
    new = anti_join_new(batch, recent, ["norad_id", "epoch_utc"])
    return wh.append(
        "fact_telemetry", new, partition_by=(FACT_TELEMETRY_PARTITION_COL,)
    )


def append_new_weather(wh: ParquetWarehouse, weather: DataFrame) -> int:
    """J2 + S7: only-new daily flux rows (reference script.py:77-95)."""
    from ..schemas import FACT_SPACE_WEATHER

    wh.ensure("fact_space_weather", FACT_SPACE_WEATHER)
    existing = wh.read("fact_space_weather").select("date_utc")
    # daily-grain date keys — tiny probe → force broadcast
    new = anti_join_new(
        distinct_on_key(weather, ["date_utc"]), existing, ["date_utc"],
        broadcast=True,
    )
    return wh.append("fact_space_weather", new)


def write_bucketed(
    wh: ParquetWarehouse,
    table: str,
    df: DataFrame,
    bucket_cols: tuple[str, ...],
    n_buckets: int = 8,
    sort_cols: tuple[str, ...] = (),
    mode: str = "append",
) -> None:
    """Bucketed catalog table (X5 co-location): hash-bucket the data by
    ``bucket_cols`` at write time so every later join/groupBy on those
    columns reads pre-partitioned files and skips its Exchange — the
    shuffle is paid once at load instead of per query. ``sort_cols``
    additionally orders within buckets (sort-merge-ready for window
    scans like the decay flagship).

    At 100 TB this is the difference between re-shuffling the fact
    table for every per-satellite analysis and never shuffling it at
    all; the trade-off (fixed bucket count, catalog-managed layout) is
    why it is a separate opt-in path from the plain partitioned append.
    """
    writer = df.write.format("parquet").mode(mode).option(
        "path", wh.path(table)
    )
    writer = writer.bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def export_sorted_shards(
    df: DataFrame,
    path: str,
    sort_col: str,
    n_shards: int,
) -> None:
    """Globally range-sharded, within-shard-sorted export: shard k
    holds a contiguous slice of the ``sort_col`` domain (sampled range
    boundaries via ``repartitionByRange``) and is sorted inside — so
    the shard set reads as one globally ordered dataset without any
    consumer-side merge. This is the training-data delivery shape:
    deterministic shard assignment for a dataloader, range-prunable
    files for everyone else (each file's parquet min/max covers a
    disjoint slice).

    Scale notes: one range-exchange (sampling pass + shuffle) and a
    per-shard sort — the same cost as any total ordering, paid once at
    export. No driver collect; shard count = task count.
    """
    (
        df.repartitionByRange(n_shards, F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def merge_upsert_telemetry(wh: ParquetWarehouse, parsed: DataFrame) -> int:
    """True upsert (the MERGE INTO equivalent on plain parquet): rewrite
    ONLY the date partitions the batch touches, keeping one row per
    (norad_id, epoch_utc) with the freshest ``fetched_at_utc``.

    This strengthens the reference's bounded-window check-then-write
    (SURVEY.md §2.6 D2 'or strengthen via Delta MERGE'): re-ingests are
    upserts at ANY age — no 3-day duplicate window — because dedup runs
    against the affected partitions themselves, not a time-pruned probe.

    Scale mechanics: the affected-dates collect is partition METADATA
    (bounded by the batch's date span, like Delta's file pruning), the
    rewrite reads + rewrites only those partitions
    (``partitionOverwriteMode=dynamic``), and survivor choice is an
    explicit row_number order — never arbitrary.
    """
    from pyspark.sql import Observation, Window, types as T

    from ..schemas import FACT_TELEMETRY, FACT_TELEMETRY_PARTITION_COL

    pcol = FACT_TELEMETRY_PARTITION_COL
    fact_cols = [f.name for f in FACT_TELEMETRY.fields]
    stored_schema = T.StructType(
        list(FACT_TELEMETRY.fields)
        + [T.StructField(pcol, T.DateType(), True)]
    )
    wh.ensure("fact_telemetry", stored_schema, partition_by=(pcol,))
    batch = parsed.select(*fact_cols).withColumn(pcol, F.to_date("epoch_utc"))
    if batch.isEmpty():
        return 0
    affected = [r[0] for r in batch.select(pcol).distinct().collect()]

    existing = wh.read("fact_telemetry").where(F.col(pcol).isin(affected))
    # Survivor order: freshest fetched_at wins; on a full tie the INCOMING
    # batch row wins (source marker 1 > stored 0) — deterministic, never
    # arbitrary, and matches upsert intuition ("the write you just did").
    w = Window.partitionBy("norad_id", "epoch_utc").orderBy(
        F.desc_nulls_last("fetched_at_utc"), F.desc("__src")
    )
    merged = (
        batch.withColumn("__src", F.lit(1))
        .unionByName(existing.withColumn("__src", F.lit(0)))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )

    # The session that EXECUTES the write is the batch frame's, not
    # necessarily the warehouse's: under foreachBatch Spark hands the
    # sink a frame bound to a CLONED micro-batch session whose conf
    # was snapshotted at query start. Setting dynamic mode on wh.spark
    # alone leaves the clone on `static`, and a static overwrite wipes
    # every partition the batch doesn't touch (caught by
    # tests/test_cdc_stream.py — rows in untouched date partitions
    # vanished on the second streamed merge).
    spark = parsed.sparkSession
    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # overwrite rewrites ONLY partitions present in `merged`; the row
        # count piggybacks on the write via Observation so the merged DAG
        # (union + window dedup over the affected partitions) runs ONCE —
        # at 100 TB a separate count() would double the partition rewrite
        # read path.
        obs = Observation()
        observed = merged.observe(obs, F.count(F.lit(1)).alias("n"))
        observed.write.mode("overwrite").partitionBy(pcol).parquet(
            wh.path("fact_telemetry")
        )
        return obs.get["n"]
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
