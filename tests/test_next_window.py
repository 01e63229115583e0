"""Round-9 bank verification (plans/next_window.py).

Each pre-staged query runs against its DuckDB oracle with EXACTLY the
driver-gate compare (`tools/check.py` norm/canon: row count, column
set, order-insensitive value hash), at two scale factors — so when
round 9 flips the bank into the live registry the queries are already
gate-green, and the no-new-debt invariant never sees them unverified.
"""

from __future__ import annotations

import pytest

from celestrak_tle_data_pipeline_spark.plans import next_window
from tools.check import compare

SFS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")


def test_bank_is_fully_oracle_paired():
    # every bank query must carry an oracle: the whole point of
    # pre-staging is landing in round 9's window gate-ready.
    assert set(next_window.NEXT_QUERIES) == set(next_window.NEXT_ORACLES)
    assert len(next_window.NEXT_QUERIES) >= 9


def test_bank_is_live_since_the_round9_flip():
    # Round 9 flipped the whole bank into the live registry (the
    # module registers via ``plans.register`` and sits in
    # ``plans._MODULES``); the flipped invariant is that every bank
    # name IS live and oracle-paired — the inverse of the pre-flip
    # "never registers itself" guard this test used to be.
    from celestrak_tle_data_pipeline_spark import plans

    live = set(plans.all_queries())
    oracles = set(plans.all_oracles())
    bank = set(next_window.NEXT_QUERIES)
    assert bank <= live
    assert bank <= oracles


@pytest.mark.parametrize("name", sorted(next_window.NEXT_QUERIES))
@pytest.mark.parametrize("sf_dir", SFS)
def test_bank_query_matches_oracle(spark, name, sf_dir):
    problem = compare(
        spark,
        next_window.NEXT_QUERIES[name],
        next_window.NEXT_ORACLES[name],
        sf_dir,
    )
    assert problem is None, f"{name} at {sf_dir}: {problem}"
