"""Round-16 bank verification (plans/bank_r16.py — LIVE since round 16).

Each bank query runs against its DuckDB oracle with EXACTLY the
driver-gate compare (`tools/check.py` norm/canon: row count, column
set, order-insensitive value hash — including the float-marker norm
that closes the r11 dtype blind spot), at two scale factors — the same
pre-flip discipline that verified it while staged, kept running
post-flip so the whole set stays pinned independently of the registry
window (the bank_r11..r15 protocol).

Seeded in round 13 with the structure-and-dependence batch (Bartlett
sphericity, KMO, ...); round-14/15 fresh work appended after them.
At the round-15 flip the seed (`bartlett_sphericity`) was promoted into
bank_r15's 50th window slot and the bank was restored to 49 with
`williams_dependent_corr`; the 50th name here is
``fisher_stouffer_combined``, promoted from the round-17 bank at the
round-16 flip.
"""

from __future__ import annotations

import pytest

from celestrak_tle_data_pipeline_spark.plans import bank_r16
from tools.check import compare

SFS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")


def test_bank_is_fully_oracle_paired():
    assert set(bank_r16.BANK_QUERIES) == set(bank_r16.BANK_ORACLES)
    assert len(bank_r16.BANK_QUERIES) >= 2


def test_bank_is_live_and_was_windowed_green_in_r16():
    # Round-16 flip, era-proofed after the r17 rotation (the same fix
    # test_bank_r11..r15 got): every bank name registers live, the
    # module is in plans._MODULES, and every flipped name has a GREEN
    # official record in CORRECTNESS_r16.json — hash_match true (or a
    # by-design no-oracle row), not mere key presence, per ADVICE r15:
    # presence alone would also accept a hash-FAILED row.
    from celestrak_tle_data_pipeline_spark import plans

    live = set(plans.all_queries())
    assert set(bank_r16.BANK_QUERIES) <= live
    assert "bank_r16" in plans._MODULES
    # Green-only (ADVICE r15), honoring the re-green protocol:
    # a name red in its flip round is official once a LATER
    # round's record is green (conftest.official_green).
    from conftest import official_green

    not_green = [
        q for q in bank_r16.BANK_QUERIES if not official_green(q, 16)
    ]
    assert not not_green, f"r16 names without a green record: {not_green}"
    assert len(bank_r16.BANK_QUERIES) == 50


def test_bank_does_not_collide_with_other_staged_banks():
    from celestrak_tle_data_pipeline_spark.plans import (
        bank_r14,
        bank_r15,
        next_window,
    )

    mine = set(bank_r16.BANK_QUERIES)
    assert not mine & set(bank_r14.BANK_QUERIES)
    assert not mine & set(bank_r15.BANK_QUERIES)
    assert not mine & set(next_window.NEXT_QUERIES)


def test_bank_outputs_are_scalar(spark):
    from conftest import scalar_output_violations

    bad = scalar_output_violations(spark, dict(bank_r16.BANK_QUERIES))
    assert not bad, f"non-scalar bank outputs: {bad}"


@pytest.mark.parametrize("name", sorted(bank_r16.BANK_QUERIES))
@pytest.mark.parametrize("sf_dir", SFS)
def test_bank_query_matches_oracle(spark, name, sf_dir):
    problem = compare(
        spark, bank_r16.BANK_QUERIES[name], bank_r16.BANK_ORACLES[name], sf_dir
    )
    assert problem is None, f"{name} at {sf_dir}: {problem}"
