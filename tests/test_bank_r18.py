"""Round-18 bank verification (plans/bank_r18.py — LIVE since round 18).

Each bank query runs against its DuckDB oracle with EXACTLY the
driver-gate compare (`tools/check.py` norm/canon: row count, column
set, order-insensitive value hash — including the float-marker norm
that closes the r11 dtype blind spot), at two scale factors — the same
pre-flip discipline that verified it while staged, kept running
post-flip so the whole set stays pinned independently of the registry
window (the bank_r11..r17 protocol).

Seeded in round 13 with ``mean_excess_slope`` (promoted OUT at the
round-17 flip into bank_r17's window; the bank was restored with
``hodges_lehmann_walsh_ci``); the 50th name here is
``updown_runs_test``, promoted from the round-19 bank at the round-18
flip.
"""

from __future__ import annotations

import pytest

from celestrak_tle_data_pipeline_spark.plans import bank_r18
from tools.check import compare

SFS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")


def test_bank_is_fully_oracle_paired():
    assert set(bank_r18.BANK_QUERIES) == set(bank_r18.BANK_ORACLES)
    assert len(bank_r18.BANK_QUERIES) >= 2


def test_bank_is_live_and_fully_windowed():
    # Post-flip invariants (round 18): every bank name registers live
    # through plans.register, the module is in plans._MODULES, and the
    # round-18 window is exactly the 50 bank names in registration
    # order (49 staged in this bank + the promoted updown_runs_test
    # appended at flip time).
    from celestrak_tle_data_pipeline_spark import plans

    live = set(plans.all_queries())
    assert set(bank_r18.BANK_QUERIES) <= live
    assert "bank_r18" in plans._MODULES
    assert list(plans._PRIORITY) == list(bank_r18.BANK_QUERIES)
    assert plans._PRIORITY[49] == "updown_runs_test"
    assert len(bank_r18.BANK_QUERIES) == 50


def test_bank_does_not_collide_with_other_staged_banks():
    from celestrak_tle_data_pipeline_spark.plans import (
        bank_r16,
        bank_r17,
        bank_r19,
        next_window,
    )

    mine = set(bank_r18.BANK_QUERIES)
    assert not mine & set(bank_r16.BANK_QUERIES)
    assert not mine & set(bank_r17.BANK_QUERIES)
    assert not mine & set(bank_r19.BANK_QUERIES)
    assert not mine & set(next_window.NEXT_QUERIES)


def test_bank_outputs_are_scalar(spark):
    from conftest import scalar_output_violations

    bad = scalar_output_violations(spark, dict(bank_r18.BANK_QUERIES))
    assert not bad, f"non-scalar bank outputs: {bad}"


@pytest.mark.parametrize("name", sorted(bank_r18.BANK_QUERIES))
@pytest.mark.parametrize("sf_dir", SFS)
def test_bank_query_matches_oracle(spark, name, sf_dir):
    problem = compare(
        spark, bank_r18.BANK_QUERIES[name], bank_r18.BANK_ORACLES[name], sf_dir
    )
    assert problem is None, f"{name} at {sf_dir}: {problem}"
