"""Profile registry queries: wall time and per-operator metrics of the
executed plan, as flat JSON.

For each name (every registered query when none is given) the tool
clears the cache, builds a fresh DataFrame, and runs it to the noop
sink once cold and then REPS times warm, all under a job group equal
to the name. The record holds the wall times (``cold_s``,
``warm_min_s``, ``warm_med_s``, ``warm_max_s``), one entry per node of
the last run's executed plan, and rollups of those nodes (rows
scanned, shuffle bytes, the widest exchange, counts of exchanges,
join strategies and reuses).

A node entry has ``id`` (the plan's own operator id), ``type``,
``rows`` (output rows), ``time_ms`` (the sum of the node's timing
metrics), ``shuffle_read_bytes``, ``shuffle_write_bytes``,
``spill_bytes`` and ``peak_mem_bytes``; metrics a node lacks read 0.
File scans add ``table``, ``pushed_filters`` and ``read_schema``; a
reused exchange adds ``reuses``, the id of the exchange that ran.

The file is not named ``profile.py``: a script run from ``tools/`` has
that directory first on ``sys.path``, so a ``tools/profile.py`` would
shadow the standard library's ``profile``, which cProfile (and so
``import pyspark``) loads.

Usage:
  python tools/query_profile.py [-r REPS] [-o OUT.json] [--plans DIR] [name ...]

  -r REPS     warm runs per name (default 2; with 0 the one run is
              cold, and the warm figures repeat it)
  -o OUT      write the JSON there instead of to stdout
  --plans DIR write <name>_explain.txt (the formatted explain) and
              <name>_executed.txt (the final executed plan) per name

The data directory is bench.py's: $SPARK_GRAFT_SF_DIR, default sf0.1.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCANS = ("FileSourceScanExec", "BatchScanExec", "RangeExec",
          "LocalTableScanExec", "RDDScanExec")
_REUSED = ("ReusedExchangeExec", "ReusedSubqueryExec")


def iter_nodes(plan):
    """Yield each operator of an executed physical plan once: through
    AQE's current plan, query stages, cached fragments (an in-memory
    scan's cached plan) and subqueries. A reused exchange or subquery
    is yielded but not entered; what it reuses ran, and is counted,
    where it was first materialized."""
    seen = set()
    stack = [plan]
    while stack:
        node = stack.pop()
        if node.id() in seen:
            continue
        seen.add(node.id())
        yield node
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif kind == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
        elif kind not in _REUSED:
            stack.extend(_scala(node.children()))
            stack.extend(_scala(node.subqueries()))


def _scala(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def node_record(node) -> dict:
    """One executed operator as a flat dict (see the module docstring)."""
    m, time_ms = {}, 0.0
    for kv in _scala(node.metrics()):
        metric = kv._2()
        m[kv._1()] = value = int(metric.value())
        kind = metric.metricType()
        time_ms += value if kind == "timing" else (
            value / 1e6 if kind == "nsTiming" else 0
        )
    kind = node.getClass().getSimpleName()
    rec = {
        "id": int(node.id()),
        "type": kind,
        "rows": m.get("numOutputRows", 0),
        "time_ms": round(time_ms, 3),
        "shuffle_read_bytes": m.get("localBytesRead", 0)
        + m.get("remoteBytesRead", 0),
        "shuffle_write_bytes": m.get("shuffleBytesWritten", 0),
        "spill_bytes": m.get("spillSize", 0),
        "peak_mem_bytes": m.get("peakMemory", 0),
    }
    if kind == "FileSourceScanExec":
        meta = node.metadata()
        roots = list(_scala(node.relation().location().rootPaths()))
        parts = str(roots[0]).rstrip("/").split("/") if roots else []
        rec["table"] = next((p for p in reversed(parts) if "=" not in p), "")
        for key, out in (("PushedFilters", "pushed_filters"),
                         ("ReadSchema", "read_schema")):
            rec[out] = meta.apply(key) if meta.contains(key) else ""
    elif kind == "ReusedExchangeExec":
        rec["reuses"] = int(node.child().id())
    return rec


def rollup(nodes: list[dict]) -> dict:
    """Plan-wide figures of one executed plan's node records."""
    exchanges = [n for n in nodes if n["type"].endswith("ExchangeExec")
                 and n["type"] != "ReusedExchangeExec"]
    widest = max(exchanges, key=lambda n: n["shuffle_write_bytes"],
                 default=None)
    joins: dict[str, int] = {}
    for n in nodes:
        if n["type"].endswith(("JoinExec", "CartesianProductExec")):
            joins[n["type"]] = joins.get(n["type"], 0) + 1
    return {
        "rows_scanned": sum(n["rows"] for n in nodes if n["type"] in _SCANS),
        "file_scans": sum(n["type"] == "FileSourceScanExec" for n in nodes),
        "shuffle_bytes": sum(n["shuffle_write_bytes"] for n in nodes),
        "widest_exchange_id": widest and widest["id"],
        "widest_exchange_bytes": widest and widest["shuffle_write_bytes"],
        "shuffle_exchanges": sum(
            n["type"] == "ShuffleExchangeExec" for n in exchanges),
        "broadcast_exchanges": sum(
            n["type"] == "BroadcastExchangeExec" for n in exchanges),
        "reused_exchanges": sum(n["type"] == "ReusedExchangeExec"
                                for n in nodes),
        "reused_subqueries": sum(n["type"] == "ReusedSubqueryExec"
                                 for n in nodes),
        "joins": joins,
    }


class _LastQuery:
    """QueryExecutionListener keeping the most recent successful
    QueryExecution: a noop write plans its own execution, which the
    DataFrame's ``queryExecution()`` does not show."""

    qe = None

    def onSuccess(self, func, qe, duration_ns):
        self.qe = qe

    def onFailure(self, func, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def profile_query(spark, name: str, build, reps: int,
                  plans_dir: str | None = None) -> dict:
    """Clear the cache, ``build()`` a fresh DataFrame, run it to the noop
    sink once cold and ``reps`` times warm under job group ``name``, and
    return the timings plus the last run's node records and rollups."""
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = _LastQuery()
    manager = spark._jsparkSession.listenerManager()
    manager.register(listener)
    try:
        spark.catalog.clearCache()
        spark.sparkContext.setJobGroup(name, name)
        df = build()
        times = []
        for _ in range(reps + 1):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        executed = listener.qe.executedPlan()
        nodes = [node_record(n) for n in iter_nodes(executed)]
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            explain = spark.sparkContext._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            for suffix, text in (("explain", explain),
                                 ("executed", executed.toString())):
                path = os.path.join(plans_dir, f"{name}_{suffix}.txt")
                with open(path, "w") as fh:
                    fh.write(text)
    finally:
        manager.unregister(listener)
        spark.sparkContext._jsc.clearJobGroup()
    warm = times[1:] or times
    return {
        "cold_s": round(times[0], 3),
        "warm_min_s": round(min(warm), 3),
        "warm_med_s": round(statistics.median(warm), 3),
        "warm_max_s": round(max(warm), 3),
        **rollup(nodes),
        "nodes": nodes,
    }


def main(argv):
    reps, out_path, plans_dir, names = 2, None, None, []
    while argv:
        flag = argv.pop(0)
        if flag == "-r":
            reps = int(argv.pop(0))
        elif flag == "-o":
            out_path = argv.pop(0)
        elif flag == "--plans":
            plans_dir = argv.pop(0)
        elif flag.startswith("-"):
            raise SystemExit(__doc__)
        else:
            names.append(flag)

    from bench import SF_DIR
    from celestrak_tle_data_pipeline_spark import plans
    from celestrak_tle_data_pipeline_spark.schemas import DRIVER_TABLES
    from celestrak_tle_data_pipeline_spark.session import get_spark
    from celestrak_tle_data_pipeline_spark.sources.tables import load_table

    spark = get_spark(app_name="profile")
    # first-touch listing and footer reads stay out of the first cold_s
    for table in DRIVER_TABLES:
        load_table(spark, SF_DIR, table).count()
    qs = plans.all_queries()
    out, t_start, load_start = {}, time.time(), os.getloadavg()[0]
    for i, name in enumerate(names or sorted(qs)):
        try:
            out[name] = profile_query(
                spark, name, lambda: qs[name](spark, SF_DIR), reps, plans_dir)
        except Exception as ex:  # noqa: BLE001 — record and go on
            traceback.print_exc()
            out[name] = {"err": str(ex)[:200]}
        rec = out[name]
        print(f"[{i + 1}] {name}: "
              + (rec["err"] if "err" in rec else
                 f"cold {rec['cold_s']} s, warm min {rec['warm_min_s']} s"),
              file=sys.stderr, flush=True)
    doc = {
        "_meta": {
            "sf_dir": SF_DIR,
            "reps": reps,
            "loadavg_start": load_start,
            "total_sweep_s": round(time.time() - t_start, 1),
            "method": "noop sink; cache cleared and DataFrame rebuilt per "
                      "name; 1 cold + REPS warm runs; nodes from the last run",
        },
        "queries": out,
    }
    text = json.dumps(doc, indent=1)
    if out_path:
        with open(out_path, "w") as fh:
            fh.write(text + "\n")
    else:
        print(text)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main(sys.argv[1:]))
