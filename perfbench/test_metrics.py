"""Every workload emits every metric BENCHMARK.json names, with its
unit, on a tiny configuration. Run: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import argparse
import json
import shutil
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import run  # noqa: E402

BENCH = json.loads((run.ROOT / "BENCHMARK.json").read_text())


def test_benchmark_json_names_match_the_runner():
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == run.PER_LAYER


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_workload_emits_every_metric(workload, trace, monkeypatch):
    monkeypatch.setattr(run, "CRON_FILES", 2)
    monkeypatch.setattr(run, "CRON_PER_FILE", 40)
    monkeypatch.setattr(run, "CRON_HISTORY", 10)
    monkeypatch.setattr(run, "PROBE_SIZES", (20, 40))
    monkeypatch.setattr(run, "OLAP_SF", 0.001)
    monkeypatch.setattr(run, "OLAP_NAMES", ("tpch_q8_market_share", "simhash_near_dup"))
    work = run.ROOT / ".perfbench_work" / f"test-{workload}-{trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    args = argparse.Namespace(workload=workload, seed=3, seconds=0, trace=trace)
    try:
        res = run.run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
