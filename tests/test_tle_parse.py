"""Golden TLE parse tests (FIXTURES.md §B1; reference semantics
script.py:22-59 — year pivot, fractional day, implied decimal, B* quirk,
malformed-record drop, trailing-incomplete-triple drop)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from celestrak_tle_data_pipeline_spark.functions.tle import (
    parse_tle_triples,
    valid_record,
)
from celestrak_tle_data_pipeline_spark.operators.assembly import (
    assemble_from_payloads,
)
from tools.query_profile import _scala, iter_nodes

GOLDEN = """STARLINK-1008
1 44714U 19074B   26044.50000000  .00001234  00000+0  13717-3 0  9995
2 44714  53.0537 205.1100 0001450  90.1234 270.0123 15.06402843350061
TEST-PIVOT-1957
1 00001U 57001A   57001.00000000  .00000000  00000+0  00000+0 0  9990
2 00001  34.2500 123.4567 0123456  10.0000  20.0000 10.82440000 12345
TEST-NEG-BSTAR
1 99999U 24001A   26123.45678900  .00000000  00000+0 -11606-4 0  9992
2 99999  97.4500  10.2000 0008600 150.0000 210.0000 15.19000000  1234
"""


@pytest.fixture(scope="module")
def parsed(spark):
    payloads = spark.createDataFrame([(GOLDEN,)], "payload string")
    triples = assemble_from_payloads(payloads)
    df = parse_tle_triples(triples, fetched_at=dt.datetime(2026, 8, 13, 12, 0, 0))
    rows = {r["norad_id"]: r for r in df.where(valid_record()).collect()}
    return rows


def test_assembles_three_triples(spark, parsed):
    assert set(parsed) == {44714, 1, 99999}


def test_starlink_fields(parsed):
    r = parsed[44714]
    assert r["sat_name"] == "STARLINK-1008"
    assert r["intl_designator"] == "19074B"
    assert r["epoch_utc"] == dt.datetime(2026, 2, 13, 12, 0, 0)  # day 44.5 of 2026
    assert r["inclination"] == pytest.approx(53.0537)
    assert r["raan"] == pytest.approx(205.1100)
    assert r["eccentricity"] == pytest.approx(0.0001450)  # implied decimal
    assert r["arg_perigee"] == pytest.approx(90.1234)
    assert r["mean_anomaly"] == pytest.approx(270.0123)
    assert r["mean_motion"] == pytest.approx(15.06402843)
    assert r["rev_number"] == 35006
    assert r["b_star_drag"] == pytest.approx(1.3717e-4)  # sci-notation decode
    assert r["fetched_at_utc"] == dt.datetime(2026, 8, 13, 12, 0, 0)


def test_year_pivot_boundary(parsed):
    # yy=57 → 1957 (NORAD pivot, script.py:28)
    assert parsed[1]["epoch_utc"].year == 1957
    assert parsed[1]["epoch_utc"] == dt.datetime(1957, 1, 1, 0, 0, 0)
    assert parsed[1]["b_star_drag"] == 0.0  # " 00000+0" zero branch


def test_negative_bstar_quirk(parsed):
    # compat mode replicates the reference bug: negative mantissa → NULL
    assert parsed[99999]["b_star_drag"] is None


def test_corrected_bstar(spark):
    payloads = spark.createDataFrame([(GOLDEN,)], "payload string")
    triples = assemble_from_payloads(payloads)
    df = parse_tle_triples(triples, bstar_mode="corrected")
    r = {x["norad_id"]: x for x in df.collect()}[99999]
    # "-11606-4" = -0.11606 * 10^-4
    assert r["b_star_drag"] == pytest.approx(-1.1606e-5)


def test_fractional_epoch_day(parsed):
    # 26123.45678900 → 2026, day 123.456789
    expected = dt.datetime(2026, 1, 1) + dt.timedelta(days=123.456789 - 1)
    assert parsed[99999]["epoch_utc"] == expected


def test_malformed_record_nulls_and_drops(spark):
    bad = (
        "BAD-SAT\n"
        "1 ABCDEU 19074B   26044.50000000  .00001234  00000+0  13717-3 0  9995\n"
        "2 44714  53.0537 205.1100 0001450  90.1234 270.0123 15.06402843350061\n"
    )
    payloads = spark.createDataFrame([(bad,)], "payload string")
    df = parse_tle_triples(assemble_from_payloads(payloads))
    assert df.count() == 1  # record exists pre-filter...
    assert df.where(valid_record()).count() == 0  # ...but is dropped


def test_trailing_incomplete_triple_dropped(spark):
    partial = GOLDEN + "TRAILING-NAME\n1 11111U 24001A   26123.00000000  .00000000  00000+0  00000+0 0  9999\n"
    payloads = spark.createDataFrame([(partial,)], "payload string")
    assert assemble_from_payloads(payloads).count() == 3


def _kind(node) -> str:
    return node.getClass().getSimpleName()


def _depends_on_lambda(expr) -> bool:
    return _kind(expr) == "NamedLambdaVariable" or any(
        _depends_on_lambda(c) for c in _scala(expr.children())
    )


def _closed_over(expr) -> list:
    """The maximal subtrees of a lambda body that no lambda variable
    reaches: what the body re-evaluates for every element."""
    if not _depends_on_lambda(expr):
        return [expr]
    return [s for c in _scala(expr.children()) for s in _closed_over(c)]


def _lambda_bodies(plan) -> list:
    bodies, nodes = [], [plan]
    while nodes:
        node = nodes.pop()
        nodes.extend(_scala(node.children()))
        exprs = list(_scala(node.expressions()))
        while exprs:
            e = exprs.pop()
            if _kind(e) == "LambdaFunction":
                bodies.append(e.function())
            exprs.extend(_scala(e.children()))
    return bodies


def test_assembly_lambda_reads_only_bound_columns_and_never_shuffles(spark):
    """Assembly stays linear and shuffle-free. ``transform`` interprets
    its lambda once per element, so anything the body closes over other
    than a column or a literal (the whole-payload ``split``, say) is
    recomputed per triple: O(n²) in a payload's lines. The check reads
    the optimized plan, not a timing."""
    payloads = spark.createDataFrame([(GOLDEN, 7)], "payload string, k int")
    df = parse_tle_triples(assemble_from_payloads(payloads))

    bodies = _lambda_bodies(df._jdf.queryExecution().optimizedPlan())
    assert bodies, "assembly no longer runs a lambda; update this guard"
    captured = [s for b in bodies for s in _closed_over(b)]
    recomputed = [
        f"{_kind(s)}: {s.sql()}"
        for s in captured
        if _kind(s) not in ("Literal", "AttributeReference")
    ]
    assert not recomputed, recomputed

    assert len(df.collect()) == 3
    kinds = [
        _kind(n) for n in iter_nodes(df._jdf.queryExecution().executedPlan())
    ]
    assert not [k for k in kinds if "Exchange" in k], kinds


def test_assembly_strips_and_splits_each_payload_once(spark):
    """The optimized plan splits the payload once and filters nothing:
    a payload under one triple gets a NULL sequence, which ``explode``
    drops. A ``size(lines) >= 3`` Filter would be pushed below the
    projection that binds the split, and evaluate the split again."""
    payloads = spark.createDataFrame([(GOLDEN, 7)], "payload string, k int")
    plan = assemble_from_payloads(payloads)._jdf.queryExecution()
    nodes, exprs, kinds = [plan.optimizedPlan()], [], []
    while nodes:
        node = nodes.pop()
        kinds.append(_kind(node))
        nodes.extend(_scala(node.children()))
        exprs.extend(_scala(node.expressions()))
    splits = 0
    while exprs:
        e = exprs.pop()
        splits += _kind(e) == "StringSplit"
        exprs.extend(_scala(e.children()))
    assert splits == 1, plan.optimizedPlan().toString()
    assert "Filter" not in kinds, kinds
