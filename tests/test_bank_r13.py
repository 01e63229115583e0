"""Round-13 bank verification (plans/bank_r13.py — LIVE since round 13).

Each bank query runs against its DuckDB oracle with EXACTLY the
driver-gate compare (`tools/check.py` norm/canon: row count, column
set, order-insensitive value hash — including the float-marker norm
that closes the r11 dtype blind spot), at two scale factors — the same
pre-flip discipline that verified it while staged, kept running
post-flip so the whole set stays pinned independently of the registry
window (the bank_r11/bank_r12 protocol).

Seeded in round 12 with the risk/SPC/drift batch and completed to 49
there; the 50th name is ``split_conformal_interval``, promoted from
the round-14 seed at flip time.
"""

from __future__ import annotations

import pytest

from celestrak_tle_data_pipeline_spark.plans import bank_r13
from tools.check import compare

SFS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")


def test_bank_is_fully_oracle_paired():
    assert set(bank_r13.BANK_QUERIES) == set(bank_r13.BANK_ORACLES)
    assert len(bank_r13.BANK_QUERIES) >= 3


def test_bank_is_live_and_was_windowed_in_r13():
    # Round-13 flip, era-proofed after the r14 rotation (the same fix
    # test_bank_r11 / test_bank_r12 got): every bank name registers
    # live, the module is in plans._MODULES, and every flipped name
    # has an OFFICIAL record in CORRECTNESS_r13.json — checked against
    # the recorded gate output, not today's _PRIORITY, which rotates
    # every round.
    from celestrak_tle_data_pipeline_spark import plans

    live = set(plans.all_queries())
    assert set(bank_r13.BANK_QUERIES) <= live
    assert "bank_r13" in plans._MODULES
    # Green-only (ADVICE r15), honoring the re-green protocol:
    # a name red in its flip round is official once a LATER
    # round's record is green (conftest.official_green).
    from conftest import official_green

    not_green = [
        q for q in bank_r13.BANK_QUERIES if not official_green(q, 13)
    ]
    assert not not_green, f"r13 names without a green record: {not_green}"
    assert len(bank_r13.BANK_QUERIES) == 50


def test_bank_outputs_are_scalar(spark):
    from conftest import scalar_output_violations

    bad = scalar_output_violations(spark, dict(bank_r13.BANK_QUERIES))
    assert not bad, f"non-scalar bank outputs: {bad}"


@pytest.mark.parametrize("name", sorted(bank_r13.BANK_QUERIES))
@pytest.mark.parametrize("sf_dir", SFS)
def test_bank_query_matches_oracle(spark, name, sf_dir):
    problem = compare(
        spark, bank_r13.BANK_QUERIES[name], bank_r13.BANK_ORACLES[name], sf_dir
    )
    assert problem is None, f"{name} at {sf_dir}: {problem}"
