"""Benchmark of the engine's two user paths, end to end and per layer.

    python3 perfbench/run.py --workload cron_reland --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``cron_reland``: the cron operator's steady state. Before each op a
  warehouse + checkpoint snapshot holding a first load is restored; the
  op re-lands the same objects (most epochs unchanged, a share new) and
  times one ``orchestration.run_scheduled_cycle``.
- ``olap_mix``: the analyst's registry queries. A closed loop, one
  client, over a fixed list of registry names; every execution builds a
  fresh DataFrame and runs it to the noop sink.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the
traced variant and prints the per-layer metrics. The last stdout line
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
Everything the run reads or writes lives under the checkout's
``.perfbench_work/`` directory; the program itself must be importable
from the checkout root, or the run exits with code 2.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
from spans import (  # noqa: E402
    QueryPlans,
    StreamProgress,
    Tracer,
    peak_rss_mb,
    stage_counts,
)

CORES = 4
CRON_FILES = 4
CRON_PER_FILE = 300
CRON_NEW_SHARE = 0.10
CRON_HISTORY = 200  # first-load objects with 6–30-day-old epochs
PROBE_SIZES = (500, 1000)
OLAP_SF = 0.1
OLAP_NAMES = (
    "tle_decay_flagship",
    "tpch_q8_market_share",
    "systematic_weighted_sample",
    "pareto_decile_ranged",
    "spearman_rank_corr",
    "lorenz_dominance_check",
    "simhash_near_dup",
)
# the name whose plan is filter/verify: a candidate join, then verification
CANDIDATE_NAME = "simhash_near_dup"

E2E = {
    "setup_s": "s",
    "op_best_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
    "ok_frac": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.overhead_ms": "ms",
    "assembly.triples": "count",
    "assembly.s": "s",
    "assembly.size_exponent": "ratio",
    "assembly.probe_500_s": "s",
    "assembly.probe_1000_s": "s",
    "parse.rows_valid": "count",
    "parse.rows_dropped": "count",
    "parse.s": "s",
    "dedup.rows_in": "count",
    "dedup.rows_new": "count",
    "dedup.probe_rows": "count",
    "dedup.new_ratio": "ratio",
    "sink.dim_s": "s",
    "sink.fact_s": "s",
    "sink.weather_s": "s",
    "sink.files_written": "count",
    "sink.bytes_written": "bytes",
    "sink.bytes_per_row": "bytes",
    "ingest.read_s": "s",
    "ingest.flux_parse_s": "s",
    "ingest.self_s": "s",
    "ingest.unexplained_s": "s",
    "trace.cycle_overhead_s": "s",
    "trace.pass_overhead_s": "s",
    **{f"plans.{n}.s": "s" for n in OLAP_NAMES},
    "plans.build_s": "s",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.rows_scanned": "count",
    "plans.shuffle_bytes": "bytes",
    "plans.spill_bytes": "bytes",
    "plans.peak_mem_bytes": "bytes",
    "plans.candidates_per_result": "ratio",
}


class ProgramMissing(RuntimeError):
    """The checkout does not hold the program under test."""


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def start_session(work: Path):
    """The program's own session factory, pinned to ``local[4]`` and to
    directories inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["TMPDIR"] = str(tmp)
    from celestrak_tle_data_pipeline_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
                # a fixed heap size makes peak RSS depend less on when
                # the collector decides to grow the heap
                "-Xms2g -XX:-UsePerfData"
            ),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit (the gateway
    server exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None  # next session relaunches
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _parquet_bytes(root: Path) -> dict[str, int]:
    return {
        str(p): p.stat().st_size for p in root.rglob("*.parquet") if p.is_file()
    }


def _op_loop(seconds: float, min_ops: int):
    """Op indices for a closed loop: at least ``min_ops``, then more
    until ``seconds`` of wall time have passed."""
    start = time.perf_counter()
    i = 0
    while i < min_ops or time.perf_counter() - start < seconds:
        yield i
        i += 1


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# --- cron workload ---------------------------------------------------------------


class CronReland:
    """Re-landing cycles against a restored first-load snapshot."""

    def __init__(self, spark, work: Path, seed: int, tracer: Tracer):
        self.spark, self.work, self.seed, self.tr = spark, work, seed, tracer
        clock = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None, microsecond=0)
        self.clock = clock
        self.const = gen.Constellation(seed, CRON_FILES, CRON_PER_FILE, clock,
                                       history=CRON_HISTORY)
        self.root = work / "cron"  # every cycle runs here (checkpoints hold paths)
        self.snapshot = work / "cron_snapshot"

    def setup(self) -> None:
        """First load into an empty root, then snapshot warehouse,
        checkpoints and landing dir."""
        from celestrak_tle_data_pipeline_spark.orchestration import run_scheduled_cycle

        first = self.const.first_landing()
        first.write(str(self.root / "landing"), "first")
        run_scheduled_cycle(self.spark, str(self.root))
        self.base_dims = {r.norad_id for r in first.valid}
        self.base_facts = {(r.norad_id, r.epoch) for r in first.valid}
        self.base_days = {d for d, _ in first.flux_days}
        problems = self.check(self.base_dims, self.base_facts, self.base_days)
        if problems:
            raise RuntimeError(f"first load is wrong: {problems}")
        shutil.copytree(self.root, self.snapshot)
        # one untimed re-land cycle, so timed cycles do not pay the JIT
        # warm-up of the re-land path (non-empty probe, restored state)
        _, problems, _, _ = self.op(0)
        if problems:
            raise RuntimeError(f"warm-up cycle is wrong: {problems}")

    def restore(self) -> None:
        shutil.rmtree(self.root)
        shutil.copytree(self.snapshot, self.root)

    def expected(self, land: gen.Landing):
        dims = self.base_dims | {r.norad_id for r in land.valid}
        facts = self.base_facts | {(r.norad_id, r.epoch) for r in land.valid}
        days = self.base_days | {d for d, _ in land.flux_days}
        return dims, facts, days

    def op(self, i: int, progress: StreamProgress | None = None):
        """Restore, re-land and one timed cycle. Returns (cycle seconds,
        output-check problems, {new parquet file: bytes}, the landing)."""
        from celestrak_tle_data_pipeline_spark.orchestration import run_scheduled_cycle

        op = f"cycle-{i}"
        with self.tr.span("op", op):
            with self.tr.span("restore", op):
                self.restore()
            with self.tr.span("land", op):
                land = self.const.reland(CRON_NEW_SHARE, i)
                land.write(str(self.root / "landing"), f"r{i}")
            before = _parquet_bytes(self.root / "warehouse")
            if progress is not None:
                progress.reset()
            with self.tr.span("cycle", op):
                t0 = time.perf_counter()
                run_scheduled_cycle(self.spark, str(self.root))
                secs = time.perf_counter() - t0
            if progress is not None:
                progress.wait_terminated(2)
            after = _parquet_bytes(self.root / "warehouse")
            with self.tr.span("check", op):
                problems = self.check(*self.expected(land))
        written = {p: n for p, n in after.items() if p not in before}
        return secs, problems, written, land

    def check(self, dims, facts, days) -> list[str]:
        """Warehouse contents, read back independently with DuckDB, must
        equal the generator's expected key sets with no duplicates."""
        import duckdb

        wh = self.root / "warehouse"
        con = duckdb.connect()
        try:
            def keys(table, cols):
                return con.execute(
                    f"SELECT {cols} FROM read_parquet('{wh / table}/**/*.parquet')"
                ).fetchall()

            problems = []
            got_d = [r[0] for r in keys("dim_satellites", "norad_id")]
            got_f = [tuple(r) for r in keys("fact_telemetry", "norad_id, epoch_utc")]
            got_w = [r[0] for r in keys("fact_space_weather", "date_utc")]
            for name, got, want in (("dim", got_d, dims), ("fact", got_f, facts),
                                    ("weather", got_w, days)):
                if len(got) != len(want) or set(got) != want:
                    problems.append(
                        f"{name}: {len(got)} rows ({len(set(got))} distinct), "
                        f"expected {len(want)}")
            return problems
        finally:
            con.close()

    def redrive(self, land: gen.Landing, i: int) -> dict[str, float]:
        """Re-drive one op's landed input through the cycle's public
        functions in batch, materialising each in turn on a fresh copy of
        the snapshot, so each layer's span is its self time. The fact
        append's executed plans give the rows its 3-day probe read from
        the fact table."""
        from celestrak_tle_data_pipeline_spark.functions.tle import (
            parse_tle_triples,
            valid_record,
        )
        from celestrak_tle_data_pipeline_spark.functions.weather import parse_flux_payload
        from celestrak_tle_data_pipeline_spark.operators.assembly import (
            assemble_from_payloads,
            read_payloads,
        )
        from celestrak_tle_data_pipeline_spark.sinks.warehouse import (
            ParquetWarehouse,
            append_new_satellites,
            append_new_telemetry,
            append_new_weather,
        )

        root, inbox = self.work / "redrive", self.work / "redrive_in"
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(inbox, ignore_errors=True)
        shutil.copytree(self.snapshot / "warehouse", root / "warehouse")
        land.write(str(inbox), f"r{i}")
        wh = ParquetWarehouse(self.spark, str(root / "warehouse"))
        fetched_at = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        op, tr, spark = f"redrive-{i}", self.tr, self.spark
        cached = []

        def pin(df):
            df = df.cache()
            cached.append(df)
            return df, df.count()

        try:
            with tr.span("redrive", op):
                with tr.span("read_payloads", op):
                    payloads, _ = pin(read_payloads(spark, str(inbox / "tle")))
                with tr.span("assemble", op):
                    triples, n_triples = pin(assemble_from_payloads(payloads))
                with tr.span("parse", op):
                    parsed, n_valid = pin(
                        parse_tle_triples(triples, fetched_at=fetched_at)
                        .where(valid_record()))
                with tr.span("sink.dim", op):
                    append_new_satellites(wh, parsed)
                with QueryPlans(spark) as plans:
                    with tr.span("sink.fact", op):
                        n_new = append_new_telemetry(wh, parsed)
                    # the write's probe reads at least what its empty-batch
                    # guard does, so the largest scan is the probe
                    probe_rows = max(r["table_rows"].get("fact_telemetry", 0)
                                     for r in plans.take())
                with tr.span("flux_parse", op):
                    flux, _ = pin(parse_flux_payload(
                        read_payloads(spark, str(inbox / "weather"))))
                with tr.span("sink.weather", op):
                    append_new_weather(wh, flux)
        finally:
            for df in cached:
                df.unpersist()
        return {"triples": n_triples, "valid": n_valid, "new": n_new,
                "probe_rows": probe_rows}

    def size_probe(self) -> dict[int, float]:
        """Assembly seconds for one payload of each size in PROBE_SIZES."""
        from celestrak_tle_data_pipeline_spark.operators.assembly import (
            assemble_from_payloads,
        )

        recs = gen.Constellation(
            self.seed + 1, 1, max(PROBE_SIZES), self.clock
        ).first_landing().tle_files[0]
        out = {}
        for n in PROBE_SIZES:
            text = "\n".join(line for r in recs[:n] for line in r.lines())
            df = self.spark.createDataFrame([(text,)], "payload string")
            with self.tr.span(f"assembly_probe_{n}", "probe") as s:
                got = assemble_from_payloads(df).count()
            if got != n:
                raise RuntimeError(f"assembly probe: {got} triples from {n} records")
            out[n] = s.span.seconds
        return out


def run_cron(spark, work, args, tracer, setup_s) -> dict:
    w = CronReland(spark, work, args.seed, tracer)
    t0 = time.perf_counter()
    w.setup()
    setup_s += time.perf_counter() - t0
    attempted = failed = 0
    cycles, traced_cycles = [], []
    progress = StreamProgress(spark) if args.trace else None
    last = None
    try:
        # three timed cycles; host steal only adds time, so the fastest
        # is the one closest to the program's own cost
        for i in _op_loop(args.seconds, min_ops=3):
            traced = bool(args.trace) and i % 2 == 1
            tracer.enabled = traced
            attempted += 1
            try:
                secs, problems, written, land = w.op(i + 1, progress if traced else None)
            except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                traceback.print_exc()
                failed += 1
                continue
            if problems:
                _log(f"cycle {i} output check failed: {problems}")
                failed += 1
            (traced_cycles if traced else cycles).append(secs)
            if traced:
                last = (land, written, progress.summary())
                tracer.extra["stream_progress"] = [p.json for p in progress.progress]
    finally:
        if progress is not None:
            progress.close()
    _log(f"cycles untraced={[round(c, 3) for c in cycles]} "
         f"traced={[round(c, 3) for c in traced_cycles]}")
    out = {"attempted": attempted, "failed": failed}
    if not args.trace:
        records = CRON_FILES * CRON_PER_FILE
        out["metrics"] = {
            "setup_s": setup_s,
            "op_best_s": min(cycles, default=0.0),
            "items_per_s": records * len(cycles) / sum(cycles) if cycles else 0.0,
        }
        return out

    if last is None:
        raise RuntimeError("no traced cycle completed; per-layer metrics need one")
    tracer.enabled = True
    land, written, stream = last
    counts = w.redrive(land, 0)
    probe = w.size_probe()
    layer_s = {s.name: s.seconds for s in tracer.spans
               if s.op.startswith("redrive") and s.name != "redrive"}
    fact_written = sum(n for p, n in written.items() if "/fact_telemetry/" in p)
    fact_rows = len(w.expected(land)[1]) - len(w.base_facts)
    cycle = _median(cycles)
    m = {
        **{f"streaming.{k}": v for k, v in stream.items()},
        "assembly.triples": counts["triples"],
        "assembly.s": layer_s["assemble"],
        "assembly.probe_500_s": probe[PROBE_SIZES[0]],
        "assembly.probe_1000_s": probe[PROBE_SIZES[1]],
        "assembly.size_exponent": math.log(probe[PROBE_SIZES[1]] / probe[PROBE_SIZES[0]])
        / math.log(PROBE_SIZES[1] / PROBE_SIZES[0]),
        "parse.rows_valid": counts["valid"],
        "parse.rows_dropped": counts["triples"] - counts["valid"],
        "parse.s": layer_s["parse"],
        "dedup.rows_in": counts["valid"],
        "dedup.rows_new": counts["new"],
        "dedup.probe_rows": counts["probe_rows"],
        "dedup.new_ratio": counts["new"] / counts["valid"] if counts["valid"] else 0.0,
        "sink.dim_s": layer_s["sink.dim"],
        "sink.fact_s": layer_s["sink.fact"],
        "sink.weather_s": layer_s["sink.weather"],
        "sink.files_written": len(written),
        "sink.bytes_written": sum(written.values()),
        "sink.bytes_per_row": fact_written / fact_rows if fact_rows else 0.0,
        "ingest.read_s": layer_s["read_payloads"],
        "ingest.flux_parse_s": layer_s["flux_parse"],
        "ingest.self_s": sum(layer_s.values()),
        "ingest.unexplained_s": cycle - sum(layer_s.values()) - stream["overhead_ms"] / 1000.0,
        "trace.cycle_overhead_s": _median(traced_cycles) - cycle,
    }
    if counts["new"] != fact_rows:
        _log(f"re-drive appended {counts['new']} fact rows, expected {fact_rows}")
        out["failed"] += 1
    out["attempted"] += 1
    out["metrics"] = m
    return out


# --- query workload -------------------------------------------------------------


class OlapMix:
    """Closed loop, one client, over a fixed list of registry names."""

    def __init__(self, spark, work: Path, seed: int, tracer: Tracer):
        from celestrak_tle_data_pipeline_spark import plans

        self.spark, self.tr, self.seed = spark, tracer, seed
        self.names, self.sf = OLAP_NAMES, OLAP_SF
        self.data = work / f"tables_sf{self.sf}"
        self.queries = plans.all_queries()
        self.oracles = plans.all_oracles()
        missing = [n for n in self.names if n not in self.queries]
        if missing:
            raise ProgramMissing(f"registry lacks {missing}")

    def setup(self) -> None:
        self.rows = gen.write_tables(str(self.data), self.sf, self.seed)

    def execute(self, name: str) -> float:
        """One timed execution: clear the cache (untimed), build a fresh
        DataFrame, run it to the noop sink. Never reuses a DataFrame or
        data an earlier build persisted, so no shuffle output or cached
        relation of an earlier execution can be reused."""
        self.spark.catalog.clearCache()
        t0 = time.perf_counter()
        df = self.queries[name](self.spark, str(self.data))
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def traced_execute(self, name: str, group: str, plans: QueryPlans) -> dict:
        """``execute`` under its own job group, with build and run spans,
        stage counts and the summed metrics of the executed plans it ran
        (a build may run queries of its own)."""
        self.spark.catalog.clearCache()
        plans.take()  # drop the records of anything that ran before
        self.spark.sparkContext.setJobGroup(group, name)
        with self.tr.span(f"query:{name}", group) as q:
            with self.tr.span("build", group) as b:
                df = self.queries[name](self.spark, str(self.data))
            with self.tr.span("run", group):
                df.write.format("noop").mode("overwrite").save()
        jobs, stages = stage_counts(self.spark, group)
        recs = plans.take()
        return {"s": q.span.seconds, "build_s": b.span.seconds,
                "jobs": jobs, "stages": stages,
                **{k: sum(r[k] for r in recs) for k in
                   ("rows_scanned", "shuffle_bytes", "spill_bytes",
                    "peak_mem_bytes", "join_rows")}}

    def check(self) -> list[str]:
        """Every name's collected result against its DuckDB oracle: row
        count, column set and an order-insensitive hash of the values,
        normalised as tools/check.py does. Returns the names that fail
        and keeps each name's result row count."""
        import duckdb

        sys.path.insert(0, str(ROOT / "tools"))
        from check import canon

        con = duckdb.connect()
        bad, self.result_rows = [], {}
        try:
            for t in self.rows:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.data / (t + '.parquet')}')")
            for name in self.names:
                try:
                    self.spark.catalog.clearCache()
                    df = self.queries[name](self.spark, str(self.data))
                    cols, rows = df.columns, [tuple(r) for r in df.collect()]
                    self.result_rows[name] = len(rows)
                    res = con.execute(self.oracles[name])
                    ocols = [d[0] for d in res.description]
                    orows = res.fetchall()
                except Exception:  # noqa: BLE001 — counted as a failed check
                    traceback.print_exc()
                    bad.append(name)
                    continue
                if (len(rows) != len(orows) or sorted(cols) != sorted(ocols)
                        or _digest(canon(rows, cols)) != _digest(canon(orows, ocols))):
                    _log(f"{name}: {len(rows)} rows vs oracle {len(orows)}; hash differs")
                    bad.append(name)
        finally:
            con.close()
        return bad

    def run_pass(self, traced: bool, i: int):
        lat, recs, failed = {}, {}, 0
        t0 = time.perf_counter()
        with QueryPlans(self.spark) if traced else contextlib.nullcontext() as plans:
            for name in self.names:
                try:
                    if traced:
                        recs[name] = self.traced_execute(name, f"perfbench-{i}-{name}", plans)
                        lat[name] = recs[name]["s"]
                    else:
                        lat[name] = self.execute(name)
                except Exception:  # noqa: BLE001 — a failed execution is counted
                    traceback.print_exc()
                    failed += 1
        return time.perf_counter() - t0, lat, recs, failed


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


def run_olap(spark, work, args, tracer, setup_s) -> dict:
    w = OlapMix(spark, work, args.seed, tracer)
    t0 = time.perf_counter()
    w.setup()
    setup_s += time.perf_counter() - t0
    bad = w.check()  # outside the timed loop; doubles as the warm-up pass
    attempted, failed = len(w.names), len(bad)
    passes, traced_passes, best, executed, recs = [], [], {}, 0, {}
    # untraced runs make two timed passes, each name's latency is its
    # fastest; traced runs bracket each traced pass between untraced
    # ones, so the tracing overhead is not confounded with JIT warm-up
    for i in _op_loop(args.seconds, min_ops=3 if args.trace else 2):
        traced = bool(args.trace) and i % 2 == 1
        tracer.enabled = traced
        wall, lat, rec, f = w.run_pass(traced, i)
        attempted += len(w.names)
        failed += f
        (traced_passes if traced else passes).append(wall)
        if traced:
            recs = rec
            tracer.extra["plans"] = rec
        else:
            executed += len(lat)
            for name, secs in lat.items():
                best[name] = min(secs, best.get(name, secs))
    _log(f"passes untraced={[round(p, 3) for p in passes]} "
         f"traced={[round(p, 3) for p in traced_passes]}")
    out = {"attempted": attempted, "failed": failed}
    if not args.trace:
        out["metrics"] = {
            "setup_s": setup_s,
            "op_best_s": _median(list(best.values())),
            "items_per_s": executed / sum(passes) if passes else 0.0,
        }
        return out
    def tot(key):
        return sum(r[key] for r in recs.values())

    out["metrics"] = {
        **{f"plans.{n}.s": r["s"] for n, r in recs.items()},
        "plans.build_s": tot("build_s"),
        "plans.jobs": tot("jobs"),
        "plans.stages": tot("stages"),
        "plans.rows_scanned": tot("rows_scanned"),
        "plans.shuffle_bytes": tot("shuffle_bytes"),
        "plans.spill_bytes": tot("spill_bytes"),
        "plans.peak_mem_bytes": max((r["peak_mem_bytes"] for r in recs.values()), default=0),
        "plans.candidates_per_result": (
            recs[CANDIDATE_NAME]["join_rows"] / max(1, w.result_rows[CANDIDATE_NAME])
            if CANDIDATE_NAME in recs else 0.0),
        "trace.pass_overhead_s": _median(traced_passes) - _median(passes),
    }
    return out


WORKLOADS = {"cron_reland": run_cron, "olap_mix": run_olap}


# --- entry point -----------------------------------------------------------------


def run(args, work: Path) -> dict:
    sys.path.insert(0, str(ROOT))
    try:
        import celestrak_tle_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        raise ProgramMissing(str(e)) from e
    if not (ROOT / "tools" / "check.py").is_file():
        raise ProgramMissing("tools/check.py (oracle normalisation) not found")

    tracer = Tracer(enabled=bool(args.trace))
    t0 = time.perf_counter()
    spark = start_session(work)
    start_s = time.perf_counter() - t0
    try:
        res = WORKLOADS[args.workload](spark, work, args, tracer, start_s)
        rss = peak_rss_mb(spark)
    finally:
        stop_session(spark)
    attempted, failed = res["attempted"], res["failed"]
    if args.trace:
        metrics = {k: 0.0 for k in PER_LAYER}
        metrics.update(res["metrics"])
        metrics["session.start_s"] = start_s
        tracer.dump(str(ROOT / ".perfbench_work" / "traces"
                        / f"{args.workload}-seed{args.seed}.json"))
        units = PER_LAYER
    else:
        metrics = dict(res["metrics"], peak_rss_mb=rss,
                       ok_frac=(attempted - failed) / attempted)
        units = E2E
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        result = run(args, work)
    except ProgramMissing as e:
        _log(f"program under test not found in {ROOT}: {e}")
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
