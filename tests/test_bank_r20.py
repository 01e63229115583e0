"""Round-20 bank verification (plans/bank_r20.py — STAGED, not live).

Each pre-staged query runs against its DuckDB oracle with EXACTLY the
driver-gate compare (`tools/check.py` norm/canon: row count, column
set, order-insensitive value hash — including the float-marker norm
that closes the r11 dtype blind spot), at two scale factors — so when
round 20 flips the bank into the live registry the queries are already
gate-green, and the no-new-debt invariant never sees them unverified.

Seeded in round 14 with the spacings/extremal-dependence batch (Moran
log-spacings, Gnedenko F, CFG Pickands, F-madogram, chi-bar); later
rounds append.
"""

from __future__ import annotations

import pytest

from celestrak_tle_data_pipeline_spark.plans import bank_r20
from tools.check import compare

SFS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")


def test_bank_is_fully_oracle_paired():
    assert set(bank_r20.BANK_QUERIES) == set(bank_r20.BANK_ORACLES)
    assert len(bank_r20.BANK_QUERIES) >= 2


def test_bank_is_not_in_the_live_registry():
    # Pre-flip discipline: a staged name must not collide with (or
    # leak into) the live registry until round 20 flips the module
    # into plans._MODULES — otherwise test_no_new_official_debt would
    # see an oracle-paired name without an official correctness row.
    from celestrak_tle_data_pipeline_spark import plans

    live = set(plans.all_queries())
    assert not live & set(bank_r20.BANK_QUERIES)
    assert "bank_r20" not in plans._MODULES


def test_bank_does_not_collide_with_other_staged_banks():
    from celestrak_tle_data_pipeline_spark.plans import (
        bank_r15,
        bank_r16,
        bank_r17,
        bank_r18,
        bank_r19,
        next_window,
    )

    mine = set(bank_r20.BANK_QUERIES)
    assert not mine & set(bank_r15.BANK_QUERIES)
    assert not mine & set(bank_r16.BANK_QUERIES)
    assert not mine & set(bank_r17.BANK_QUERIES)
    assert not mine & set(bank_r18.BANK_QUERIES)
    assert not mine & set(bank_r19.BANK_QUERIES)
    assert not mine & set(next_window.NEXT_QUERIES)


def test_bank_outputs_are_scalar(spark):
    from conftest import scalar_output_violations

    bad = scalar_output_violations(spark, dict(bank_r20.BANK_QUERIES))
    assert not bad, f"non-scalar bank outputs: {bad}"


@pytest.mark.parametrize("name", sorted(bank_r20.BANK_QUERIES))
@pytest.mark.parametrize("sf_dir", SFS)
def test_bank_query_matches_oracle(spark, name, sf_dir):
    problem = compare(
        spark, bank_r20.BANK_QUERIES[name], bank_r20.BANK_ORACLES[name], sf_dir
    )
    assert problem is None, f"{name} at {sf_dir}: {problem}"
