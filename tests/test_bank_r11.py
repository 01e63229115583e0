"""Round-11 bank verification (plans/bank_r11.py, LIVE since round 11).

Each bank query runs against its DuckDB oracle with EXACTLY the
driver-gate compare (`tools/check.py` norm/canon: row count, column
set, order-insensitive value hash), at two scale factors. Pre-flip
(round 10) this proved the staged bank gate-ready; post-flip it keeps
gate-mirroring the whole flipped set independently of the registry.
"""

from __future__ import annotations

import pytest

from celestrak_tle_data_pipeline_spark.plans import bank_r11
from tools.check import compare

SFS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")


def test_bank_is_fully_oracle_paired():
    # every bank query must carry an oracle: the whole point of
    # pre-staging is landing in round 11's window gate-ready.
    assert set(bank_r11.BANK_QUERIES) == set(bank_r11.BANK_ORACLES)
    assert len(bank_r11.BANK_QUERIES) >= 5


def test_bank_is_live_and_was_windowed_in_r11():
    # Round-11 flip, era-proofed after the r12 rotation (the same fix
    # test_r9_window_flipped_the_bank got): every bank name registers
    # live, the module is in plans._MODULES, and every flipped name has
    # an OFFICIAL record in CORRECTNESS_r11.json — checked against the
    # recorded gate output, not today's _PRIORITY, which rotates every
    # round.
    from celestrak_tle_data_pipeline_spark import plans

    live = set(plans.all_queries())
    assert set(bank_r11.BANK_QUERIES) <= live
    assert "bank_r11" in plans._MODULES
    # Green-only (ADVICE r15), honoring the re-green protocol:
    # a name red in its flip round is official once a LATER
    # round's record is green (conftest.official_green).
    from conftest import official_green

    not_green = [
        q for q in bank_r11.BANK_QUERIES if not official_green(q, 11)
    ]
    assert not not_green, f"r11 names without a green record: {not_green}"


def test_bank_outputs_are_scalar(spark):
    # Driver-canonicalizer contract (plans/__init__ docstring): no
    # array/map/struct columns in any result the gate will hash.
    from conftest import scalar_output_violations

    bad = scalar_output_violations(spark, dict(bank_r11.BANK_QUERIES))
    assert not bad, f"non-scalar bank outputs: {bad}"


@pytest.mark.parametrize("name", sorted(bank_r11.BANK_QUERIES))
@pytest.mark.parametrize("sf_dir", SFS)
def test_bank_query_matches_oracle(spark, name, sf_dir):
    problem = compare(
        spark, bank_r11.BANK_QUERIES[name], bank_r11.BANK_ORACLES[name], sf_dir
    )
    assert problem is None, f"{name} at {sf_dir}: {problem}"
