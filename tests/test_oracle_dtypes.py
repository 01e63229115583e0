"""Spark-schema vs DuckDB-oracle dtype-family sweep (CI form of the
round-11 verdict's blind-spot fix).

An int-family column on one engine paired with a float-family column on
the other hashes differently under the driver's pandas canonicalizer
even when every value is whole (int64 renders ``484``, float64 renders
``484.0``) — the class that made ``kendalls_w_concordance`` officially
RED in CORRECTNESS_r11 while every local mirror stayed green. This
sweep needs only the Spark plan's LAZY schema (Catalyst analysis, no
execution) and DuckDB's relation types (planning only), so covering the
whole registry plus any staged bank costs ~2 minutes.

Paired with the mirror-side fix: ``tools/check.py::norm`` now appends a
float marker (``484.0``), so re-introducing an ``s4 / 4``-class oracle
makes BOTH this sweep and ``tests/test_bank_r11.py`` fail.
"""

from __future__ import annotations

from conftest import SF_DIR
from tools.audit_oracle_types import cross_check_families
from tools.check import connect


def _sweep(spark, queries, oracles) -> list[str]:
    # Both sides of the check are planning-only (Catalyst analysis for
    # the Spark schema, DuckDB relation types for the oracle) and
    # neither touches session-shared cache state, so the per-name work
    # threads safely; 8 driver threads cut the registry-wide sweep
    # from ~4 minutes to ~1 (the suite must fit the driver's pytest
    # window — VERDICT r18 item 4). DuckDB connections are NOT
    # thread-safe, so each worker opens its own.
    from concurrent.futures import ThreadPoolExecutor

    names = list(oracles)

    def check(name: str) -> list[str]:
        with connect(SF_DIR) as con:
            rel = con.sql(oracles[name])
            schema = queries[name](spark, SF_DIR).schema
            return [
                f"{name}.{c}"
                for c in cross_check_families(
                    schema, rel.columns, rel.types
                )
            ]

    clashes: list[str] = []
    with ThreadPoolExecutor(max_workers=8) as pool:
        for found in pool.map(check, names):
            clashes += found
    return clashes


def test_registry_oracle_dtype_families(spark):
    from celestrak_tle_data_pipeline_spark import plans

    clashes = _sweep(spark, plans.all_queries(), plans.all_oracles())
    assert not clashes, f"int-vs-float oracle dtype clashes: {clashes}"


def test_staged_bank_oracle_dtype_families(spark):
    # Any pre-staged bank must clear the same sweep BEFORE its flip —
    # the r11 failure shipped precisely because pre-flip verification
    # was structurally unable to see this class. Sweeps every staged
    # bank generation that exists (several rounds' worth of names).
    import importlib

    clashes = []
    for rnd in range(13, 22):
        try:
            bank = importlib.import_module(
                f"celestrak_tle_data_pipeline_spark.plans.bank_r{rnd}"
            )
        except ModuleNotFoundError:
            continue
        clashes += _sweep(spark, bank.BANK_QUERIES, bank.BANK_ORACLES)
    assert not clashes, f"staged-bank dtype clashes: {clashes}"
