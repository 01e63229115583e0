"""Self-tests of the benchmark's inputs and of its timed query path.

Run from the checkout root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import datetime as dt
import shutil
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402
import run  # noqa: E402
from spans import Tracer, stage_counts  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    sys.path.insert(0, str(run.ROOT))
    work = run.ROOT / ".perfbench_work" / "test-inputs"
    shutil.rmtree(work, ignore_errors=True)
    s = run.start_session(work)
    yield s
    run.stop_session(s)
    shutil.rmtree(work, ignore_errors=True)


def test_checksum_matches_reference_example():
    line = "1 25544U 98067A   08264.51782528 -.00002182  00000-0 -11606-4 0  292"
    assert gen.tle_checksum(line) == 7


def test_generated_lines_parse_back_to_generated_values(spark):
    from celestrak_tle_data_pipeline_spark.functions.tle import (
        parse_tle_triples,
        valid_record,
    )

    clock = dt.datetime(2026, 3, 1, 12, 0, 0)
    const = gen.Constellation(5, 2, 60, clock, malformed_share=0.1)
    land = const.reland(0.5, op=1)
    recs = [r for f in land.tle_files for r in f]
    assert any(r.malformed for r in recs) and not all(r.malformed for r in recs)
    for r in recs:
        for line in r.lines()[1:]:
            assert len(line) == 69 and int(line[68]) == gen.tle_checksum(line)
        assert clock - dt.timedelta(hours=48) < r.epoch < clock
    df = spark.createDataFrame([r.lines() for r in recs], "sat_name_raw string, line1 string, line2 string")
    got = {
        row.norad_id: row
        for row in parse_tle_triples(df).where(valid_record()).collect()
    }
    assert sorted(got) == sorted(r.norad_id for r in land.valid)
    for r in land.valid:
        row = got[r.norad_id]
        assert (row.sat_name, row.intl_designator, row.epoch_utc) == (
            r.sat_name, r.intl_designator, r.epoch)
        assert (row.inclination, row.raan, row.eccentricity, row.arg_perigee,
                row.mean_anomaly, row.mean_motion, row.rev_number) == (
            r.inclination, r.raan, r.eccentricity, r.arg_perigee,
            r.mean_anomaly, r.mean_motion, r.rev_number)


def test_same_seed_same_inputs():
    clock = dt.datetime(2026, 3, 1, 12, 0, 0)
    a = gen.Constellation(9, 2, 30, clock).reland(0.1, op=3)
    b = gen.Constellation(9, 2, 30, clock).reland(0.1, op=3)
    assert a == b
    new = {(r.norad_id, r.epoch) for r in a.valid} - {
        (r.norad_id, r.epoch) for r in gen.Constellation(9, 2, 30, clock).first_landing().valid}
    assert 0 < len(new) < len(a.valid)


def test_history_lands_once_outside_the_probe_window():
    clock = dt.datetime(2026, 3, 1, 12, 0, 0)
    const = gen.Constellation(9, 2, 30, clock, history=10)
    first = const.first_landing()
    assert [len(f) for f in first.tle_files] == [30, 30, 10]
    for r in first.tle_files[-1]:
        assert clock - dt.timedelta(days=30) <= r.epoch <= clock - dt.timedelta(days=6)
    relanded = {r.norad_id for f in const.reland(0.5, op=1).tle_files for r in f}
    assert relanded == {r.norad_id for f in first.tle_files[:-1] for r in f}


def test_timed_execution_runs_every_stage_of_a_cold_one(spark, monkeypatch):
    """The timed path builds a fresh DataFrame per execution and clears
    the cache first, so it runs as many (non-skipped) stages as the
    name's first execution. Re-running one DataFrame object would skip
    stages whose shuffle output it already has, and a name that persists
    part of its plan at build time would read an earlier execution's
    cached data; the last check shows the stage count detects reuse."""
    monkeypatch.setattr(run, "OLAP_SF", 0.01)
    work = run.ROOT / ".perfbench_work" / "test-inputs"
    w = run.OlapMix(spark, work, 1, Tracer(False))
    w.setup()
    sc = spark.sparkContext
    for name in ("spearman_rank_corr", "tpch_q8_market_share", "pareto_decile_ranged"):
        sc.setJobGroup(f"cold-{name}", name)
        w.execute(name)
        sc.setJobGroup(f"timed-{name}", name)
        w.execute(name)
        _, cold = stage_counts(spark, f"cold-{name}")
        _, timed = stage_counts(spark, f"timed-{name}")
        assert timed == cold > 1

    # the artefact being guarded against: a second action on the same
    # DataFrame reuses its executed plan and skips the shuffle stages
    df = w.queries["spearman_rank_corr"](spark, str(w.data))
    sc.setJobGroup("reuse-1", "reuse")
    df.collect()
    sc.setJobGroup("reuse-2", "reuse")
    df.collect()
    assert stage_counts(spark, "reuse-2")[1] < stage_counts(spark, "reuse-1")[1]
