"""CI gate: no new row-grain single-partition windows, ever.

The r6 verdict adjudicated every flag the plan audit raises — bounded
domain frames and deliberate certification forms are benign; row-grain
total-order windows are the canonical 100x scale killer (three were
found and rewritten in r7: systematic_weighted_sample,
pareto_frontier_orders, pareto_decile_analysis's twin). This test runs
the full-registry sweep inside the suite so the NEXT such window fails
CI at introduction time, and compares against the tool's annotated
allowlist in BOTH directions — an unexplained new flag fails, and a
stale allowlist entry (fixed query, lingering excuse) fails too.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from audit_single_partition import allowed, audit  # noqa: E402


def test_registry_single_partition_flags_match_allowlist(spark):
    # Hermetic cache state: the suite shares one session, and frames
    # persisted by EARLIER tests substitute InMemoryTableScan fragments
    # into audit-built plans, shifting flag sets vs the standalone tool
    # (whose session starts cold) — the audit must grade the plans a
    # fresh engine would produce, with only the audit loop's own
    # internal persists accumulating, in registry order, exactly like
    # tools/audit_single_partition.py main().
    spark.catalog.clearCache()
    hits = audit(spark)
    errors = sorted(n for n, k in hits.items() if k < 0)
    assert not errors, f"plan build failed for: {errors}"
    flagged = set(hits)
    new = sorted(flagged - set(allowed()))
    assert not new, (
        "new window/sort over Exchange SinglePartition — either rewrite "
        "with plans/common.py::exact_cumulative or add an "
        f"annotated allowlist entry: {new}"
    )
    # stale gate: the FULL effective allowlist — INFO-tagged
    # informational notes are excluded by allowed() (ADVICE r15), so
    # every remaining entry, static or merged, must still flag.
    stale = sorted(set(allowed()) - flagged)
    assert not stale, f"stale allowlist entries (query no longer flags): {stale}"


def test_live_bank_notes_name_real_queries():
    # The live-bank counterpart of test_flip_readiness's staged-note
    # check: a typo'd note key in a LIVE bank would silently allowlist
    # nothing. Every PLAN_AUDIT_NOTES key in a live bank module must be
    # a registered query name.
    import importlib

    from celestrak_tle_data_pipeline_spark import plans

    registered = set(plans.all_queries())
    bad = []
    for mod_name in plans._MODULES:
        if not mod_name.startswith("bank_r"):
            continue
        mod = importlib.import_module(
            f"celestrak_tle_data_pipeline_spark.plans.{mod_name}"
        )
        bad += [
            f"{mod_name}.{k}"
            for k in getattr(mod, "PLAN_AUDIT_NOTES", {})
            if k not in registered
        ]
    assert not bad, f"live-bank audit notes naming unknown queries: {bad}"


# ---------------------------------------------------------------------------
# Synthetic-plan unit pins for the detector itself (ADVICE r16): the
# stop set matches by operator-name PREFIX on the codegen-stripped
# node text, with the multi-child distribution-changing ops included.
# These are pure-function tests — no SparkSession.
# ---------------------------------------------------------------------------
from audit_single_partition import flagged_contexts  # noqa: E402


def test_detector_flags_window_over_single_partition():
    plan = (
        "*(3) Window [sum(x) windowspecdefinition(...)], [s ASC]\n"
        "+- Exchange SinglePartition, ENSURE_REQUIREMENTS\n"
        "   +- *(2) HashAggregate(keys=[s], functions=[count(1)])\n"
    )
    assert flagged_contexts(plan) == 1


def test_detector_stops_at_broadcast_exchange():
    # BroadcastExchange was caught by the old 'Exchange' SUBSTRING; the
    # prefix rewrite must keep it stopping the walk explicitly — a
    # single-partition frame on the broadcast side never carries its
    # partitioning into the probe-side Window above the join.
    plan = (
        "*(4) Window [rank(v)], [v ASC]\n"
        "+- BroadcastExchange IdentityBroadcastMode, [plan_id=7]\n"
        "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS\n"
        "      +- *(1) HashAggregate(keys=[v], functions=[])\n"
    )
    assert flagged_contexts(plan) == 0


def test_detector_walks_past_nodes_merely_mentioning_exchange():
    # The ADVICE r16 case: substring matching stopped on ANY node text
    # mentioning Exchange (a column named ExchangeRate, say), silently
    # missing the real Window above. Prefix matching walks through.
    plan = (
        "*(3) Window [sum(x)], [s ASC]\n"
        "+- *(2) Project [ExchangeRateApplied#3L AS s#9L]\n"
        "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS\n"
        "      +- *(1) HashAggregate(keys=[], functions=[sum(x)])\n"
    )
    assert flagged_contexts(plan) == 1


def test_detector_stops_at_cartesian_product():
    # New stop node (ADVICE r16): a CartesianProduct's partition count
    # is the PRODUCT of its children's — single-partition-ness of one
    # child does not propagate to the Sort above the join.
    plan = (
        "*(5) Sort [a ASC NULLS FIRST], false, 0\n"
        "+- CartesianProduct\n"
        "   :- Exchange SinglePartition, ENSURE_REQUIREMENTS\n"
        "   :  +- *(1) HashAggregate(keys=[], functions=[min(v)])\n"
        "   +- *(2) Sort [b ASC NULLS FIRST], false, 0\n"
    )
    assert flagged_contexts(plan) == 0


def test_detector_excludes_take_ordered_and_project():
    plan = (
        "TakeOrderedAndProject(limit=5, orderBy=[a ASC], output=[a])\n"
        "+- Exchange SinglePartition, ENSURE_REQUIREMENTS\n"
        "   +- *(1) HashAggregate(keys=[a], functions=[])\n"
    )
    assert flagged_contexts(plan) == 0


def test_detector_flags_cartesian_of_two_single_partitions():
    # ADVICE r17: when BOTH children of a CartesianProduct are
    # single-partition, the product is 1 x 1 = 1 and the Sort above
    # genuinely rides a single partition — the walk must continue
    # through the join instead of stopping (each of the two exchanges
    # reaches the Sort, so the count is 2).
    plan = (
        "*(5) Sort [a ASC NULLS FIRST], false, 0\n"
        "+- CartesianProduct\n"
        "   :- Exchange SinglePartition, ENSURE_REQUIREMENTS\n"
        "   :  +- *(1) HashAggregate(keys=[], functions=[min(v)])\n"
        "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS\n"
        "      +- *(2) HashAggregate(keys=[], functions=[max(v)])\n"
    )
    assert flagged_contexts(plan) == 2


def test_detector_cartesian_single_side_still_stops_nested():
    # The nested variant of the one-side case: a cartesian whose
    # second child is itself a cartesian with one multi-partition
    # child is NOT single-partition — the walk stops.
    plan = (
        "*(7) Sort [a ASC NULLS FIRST], false, 0\n"
        "+- CartesianProduct\n"
        "   :- Exchange SinglePartition, ENSURE_REQUIREMENTS\n"
        "   :  +- *(1) HashAggregate(keys=[], functions=[min(v)])\n"
        "   +- CartesianProduct\n"
        "      :- Exchange SinglePartition, ENSURE_REQUIREMENTS\n"
        "      :  +- *(2) HashAggregate(keys=[], functions=[max(v)])\n"
        "      +- Exchange hashpartitioning(k#1L, 32)\n"
        "         +- *(3) Project [k#1L]\n"
    )
    assert flagged_contexts(plan) == 0
