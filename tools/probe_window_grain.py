"""Cross-SF grain probe for single-partition windows (VERDICT r18).

The 64x replicated-corpus probe cannot see the data-grain grid class:
it replicates rows, so value grids saturate instantly (reynolds probed
1.02x at 64x while growing 1:1 on the real SF ladder). This probe
measures the thing that actually matters: for every ``Exchange
SinglePartition`` that feeds a Window/Sort in a query's EXECUTED plan,
the number of rows that crossed it — at two real SFs. A frame whose
row count grows ~10x from sf0.01 to sf0.1 is data-grain (the window
single-tasks an unbounded frame at scale); a calendar/statistic/
domain-bounded frame stays flat.

Usage:
  python tools/probe_window_grain.py [--sfs sf0.01,sf0.1] name ...
  python tools/probe_window_grain.py --staged   # all flagged staged-bank names

Prints one line per (query, exchange): rows at each SF and the growth
ratio, plus a verdict column (DATA-GRAIN if ratio > 4, else bounded).
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

from tools.query_profile import iter_nodes  # noqa: E402


def _single_partition_window_rows(df) -> list[int]:
    """Execute df; return rows-written for EVERY SinglePartition
    shuffle in the executed plan (descending into AQE stages, cached
    fragments and subquery plans), largest first.

    This deliberately over-counts relative to the audit tool's
    Window/Sort ancestor test: scalar-aggregate merges also use
    SinglePartition but carry at most #partitions partial rows, so
    they read as flat tiny constants across SFs and cannot produce a
    false DATA-GRAIN verdict — while the grain question only needs
    the LARGEST single-partition frame's growth. Aligning live
    metrics to the text-plan ancestor walk breaks on persisted and
    subquery shapes, which is exactly where two staged queries hid
    their windows."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    rows = []
    for op in iter_nodes(plan):
        if op.getClass().getSimpleName() != "ShuffleExchangeExec":
            continue
        if "SinglePartition" not in op.outputPartitioning().toString():
            continue
        m = op.metrics()
        val = -1
        for k in ("numOutputRows", "shuffleRecordsWritten"):
            if m.contains(k):
                val = int(m.apply(k).value())
                break
        rows.append(val)
    return sorted(rows, reverse=True)[:6]


def main(argv):
    sfs = ["sf0.01", "sf0.1"]
    if argv and argv[0] == "--sfs":
        sfs = argv[1].split(",")
        argv = argv[2:]
    from celestrak_tle_data_pipeline_spark import plans
    from celestrak_tle_data_pipeline_spark.plans import (
        bank_r19,
        bank_r20,
        bank_r21,
    )
    from celestrak_tle_data_pipeline_spark.session import get_spark

    qs = {
        **bank_r19.BANK_QUERIES,
        **bank_r20.BANK_QUERIES,
        **bank_r21.BANK_QUERIES,
        **plans.all_queries(),
    }
    if argv and argv[0] == "--staged":
        import audit_single_partition as asp

        spark = get_spark(app_name="probe_window_grain")
        staged = {
            **bank_r19.BANK_QUERIES,
            **bank_r20.BANK_QUERIES,
            **bank_r21.BANK_QUERIES,
        }
        names = sorted(asp.audit(spark, list(staged)))
    else:
        names = argv
        spark = get_spark(app_name="probe_window_grain")

    out = {}
    for name in names:
        per_sf = []
        for sf in sfs:
            sf_dir = f"/root/testdata/{sf}"
            spark.sparkContext.setJobDescription(f"grain:{name}:{sf}")
            try:
                rows = _single_partition_window_rows(
                    qs[name](spark, sf_dir)
                )
            except Exception as ex:  # noqa: BLE001
                rows = [f"ERR:{str(ex)[:60]}"]
            per_sf.append(rows)
        ratios = []
        big = False
        for i in range(min(len(r) for r in per_sf)):
            a, b = per_sf[0][i], per_sf[-1][i]
            if isinstance(a, int) and isinstance(b, int) and a > 0:
                ratios.append(round(b / a, 2))
                # partial-aggregate merge exchanges carry at most
                # #map-partitions rows; only frames past that scale
                # can be the single-task scale killer
                if b > 1024 and b / a > 4:
                    big = True
        verdict = "DATA-GRAIN" if big else "bounded"
        out[name] = {
            "rows": dict(zip(sfs, per_sf)),
            "ratios": ratios,
            "verdict": verdict,
        }
        print(f"{name}: {out[name]}")
    with open("/tmp/window_grain_probe.json", "w") as f:
        json.dump(out, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
