"""Registry-wide sweep for the single-partition-exchange scale killer.

For every registered query, builds the physical plan at sf0.001 and
flags `Exchange SinglePartition` nodes that feed a Window or Sort
(TakeOrderedAndProject excluded) — the pattern that serializes an
unbounded frame through one task at scale. Scalar-aggregate merges
(one-row results) also use SinglePartition and are fine; the detector
separates the two STRUCTURALLY, walking the plan-tree ancestor chain
by indentation (round 16 — the original 500-char textual-context
heuristic was order-dependent via plan-string expression-id widths and
missed real single-partition windows; see flagged_contexts).

Since round 7 this is a REGRESSION GATE, not just a report:
``ALLOWED`` below is the complete adjudicated allowlist — every entry
names WHY its flagged window is bounded (domain-bounded frame) or
deliberate (a global-sort semantics certification whose scale twin
ships alongside). ``tests/test_partition_audit.py`` runs the sweep in
CI and fails on any flag not in the allowlist AND on any stale
allowlist entry, so a new row-grain single-partition window breaks the
build instead of waiting for a judge, and the list can't rot.

Row-grain prefix sums and ranks never need the windowed form at all:
``plans/common.py::exact_cumulative`` runs them inside value buckets
and adds each bucket's offset from a triangular join over the bucket
totals (used by the global-rank machinery — mann_whitney / ks /
median_ci / systematic PPS / the Lorenz family), so those plans audit
at zero.

Usage: python tools/audit_single_partition.py [name ...]
Exit status 1 if any non-allowlisted flag is found (full sweeps only).
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_PLAN_SF", "/root/testdata/sf0.001")

# name -> why the flagged window/sort is bounded or deliberate.
# Two admissible justification shapes:
#   domain-bounded frame — the window runs over a frame whose size is a
#     DOMAIN (calendar, buckets, category set), constant in data volume;
#   retained certification — the global-sort form is kept as the exact
#     rank-semantics certification and a range-partitioned /
#     boundary-broadcast scale twin ships beside it.
ALLOWED: dict[str, str] = {
    "chi2_independence_type_dow": (
        "window over the event-type x weekday contingency frame "
        "(7x5 cells — domain-bounded)"
    ),
    "chi2_cell_residuals": (
        "window over the same 7x5 contingency-cell frame (domain-bounded)"
    ),
    "auc_rank_score": (
        "running negative count over the per-score rollup; frame size is "
        "the score DOMAIN (~hundreds of distinct char counts), not the "
        "corpus"
    ),
    "gains_chart_deciles": "cumulative window over the 10-row decile frame",
    "psi_value_drift": "windows over the 10-bin histogram frame",
    "split_distribution_divergence": (
        "corpus-marginal window over the language-domain rollup "
        "(|langs| rows)"
    ),
    "event_lateness_audit": "window over the 5-bucket lateness rollup",
    "resample_hourly_interpolate": (
        "lead window over the day-grain series; frame is the calendar "
        "span (domain-bounded), fan-out to hours happens after"
    ),
    "tle_j2_secular_rates": (
        "synthesis-side ordering of the 2000-key TLE synthetic frame, "
        "not a data-path window"
    ),
    "equidepth_histogram": (
        "retained ntile rank-semantics certification; scale twin "
        "equidepth_histogram_bounded (boundary broadcast, window-free) "
        "ships and is pinned equivalent"
    ),
    "benford_first_digit": "window over the 9-value first-digit domain",
    "pareto_decile_analysis": (
        "retained ntile rank-semantics certification; scale twin "
        "pareto_decile_ranged (boundary broadcast, window-free) ships "
        "and is pinned equivalent"
    ),
    "neyman_allocation_sources": (
        "Hamilton largest-remainder apportionment window over the "
        "source-domain stratum frame (|sources| rows)"
    ),
    "weekly_growth_rate": (
        "ordering window over one row per calendar week (a century is "
        "~5,200 rows)"
    ),
    "kaplan_meier_sessions": (
        "risk-set / survival-product windows over the session-duration "
        "domain (minutes grid — domain-bounded)"
    ),
    "cumulative_distinct_users": (
        "running sum over the calendar-day frame (~10^4 rows after 30 "
        "years)"
    ),
    "open_order_backlog_sweep": (
        "sweep-line cumulative window over the calendar-day delta frame"
    ),
    "sorted_neighborhood_pairs": (
        "retained global-sort semantics certification; range-partitioned "
        "twin sorted_neighborhood_ranged ships, pinned row-identical"
    ),
    "bh_fdr_correction": (
        "rank + count windows over the 5x7 contingency test FAMILY "
        "(m = 35 p-values — domain-bounded; BH is defined on the "
        "family, never row grain)"
    ),
    "cusum_changepoint_scan": (
        "cumsum/argmax windows over the calendar-day series "
        "(domain-bounded; the event-grain pass is one day rollup)"
    ),
    "chi2_discriminative_terms": (
        "token-marginal window over the (source x vocabulary) cell "
        "frame (vocabulary-domain-bounded; corpus rows never enter "
        "a window)"
    ),
    "runs_test_randomness": (
        "lag/run-boundary windows over the calendar-day series "
        "(domain-bounded, the cusum class)"
    ),
    "gini_split_threshold": (
        "cumulative class counts over the distinct-VALUE-cents grid "
        "(a price domain — the auc_rank_score class; event-grain work "
        "is one value rollup)"
    ),
    "nelson_aalen_hazard": (
        "deaths/at-risk windows over the session-duration minutes "
        "grid (domain-bounded — same frames as kaplan_meier_sessions)"
    ),
    "t_closeness_audit": (
        "global cumulative over the ~11-bracket balance domain "
        "(ordered-EMD marginal; per-group windows partition by "
        "quasi-identifier)"
    ),
    "quantile_normalize_by_source": (
        "global-decile cumulative window over the LENGTH-DOMAIN "
        "rollup (distinct character counts — the auc_rank_score "
        "class, never corpus-sized; per-source windows partition "
        "by source)"
    ),
    "moods_median_test": (
        "grand-median cumulative over the distinct-value-cents grid "
        "(price-domain-bounded — the gini_split_threshold class; "
        "event-grain work is one value rollup)"
    ),
    "ansari_bradley_scale": (
        "both-ends rank cumulative over the distinct-value-cents grid "
        "(price-domain-bounded — the auc_rank_score class; tie blocks "
        "scored in closed form, never per-row ranks)"
    ),
    "kpss_level_stationarity": (
        "partial-sum cumulative window over the calendar-day frame "
        "(~2,400 rows; the cusum_changepoint_scan class — order-grain "
        "work is one day rollup before the window)"
    ),
    "log_rank_sessions": (
        "at-risk suffix sums over the session-duration minutes grid "
        "(domain-bounded — the same calendar-class frame as "
        "kaplan_meier_sessions / nelson_aalen_hazard; event-grain "
        "work is one duration rollup before the window)"
    ),
    # --- round-12 bank flip ---
    "chatterjee_xi_daily": (
        "rank/lead windows over the calendar-day frame (~30 rows at "
        "any SF — the cusum_changepoint_scan class; event-grain work "
        "is one day rollup before the windows)"
    ),
    "hoeffding_d_daily": (
        "two rank windows over the calendar-day frame (domain-bounded; "
        "the dominance count is a bounded day x day join)"
    ),
    "newey_west_trend_se": (
        "residual-lag window over the calendar-day frame (~2.4k rows — "
        "the kpss_level_stationarity class; order-grain work is one "
        "day rollup before the window)"
    ),
    "qini_uplift_deciles": (
        "cumulative window over the 10-row decile frame (the "
        "gains_chart_deciles class; deciles come from broadcast "
        "percentile bounds, never a global sort)"
    ),
    "rmst_sessions": (
        "KM risk/survival/step windows over the session-duration "
        "minutes grid (the kaplan_meier_sessions class)"
    ),
    "wald_wolfowitz_runs": (
        "block-boundary lag over the distinct-value-cents grid "
        "(price-domain-bounded — the ansari_bradley_scale class; "
        "event-grain work is one value rollup before the lag)"
    ),
}


def allowed() -> dict[str, str]:
    """The effective allowlist: the hand-curated static ``ALLOWED``
    above plus every LIVE bank module's ``PLAN_AUDIT_NOTES`` (modules
    named ``bank_r*`` in ``plans._MODULES``), merged dynamically.

    Mechanizes the flip-protocol step that used to hand-copy each
    flipped bank's notes into this file (and stumbled in round 15 on
    the flagging-vs-informational distinction): a flip now makes a
    bank's pre-adjudicated notes live automatically, with zero edits
    here. Informational notes — adjudications of plans that do NOT
    flag (e.g. "no window at all") — are tagged with an explicit
    ``INFO:`` prefix and EXCLUDED from the effective allowlist
    (ADVICE r15: an untagged merged note for a non-flagging query
    would silently excuse a later regression that adds a
    SinglePartition window). With the informational notes excluded,
    every merged entry must flag, so the stale-entry gate covers the
    merged set too, not just the static dict. Staged-bank note
    hygiene (keys name real queries) is enforced separately by
    tests/test_flip_readiness.py, and live-bank note keys cannot rot
    because official queries are never deleted.
    """
    import importlib

    from celestrak_tle_data_pipeline_spark import plans

    merged = dict(ALLOWED)
    for mod_name in plans._MODULES:
        if not mod_name.startswith("bank_r"):
            continue
        mod = importlib.import_module(
            f"celestrak_tle_data_pipeline_spark.plans.{mod_name}"
        )
        merged.update(
            {
                k: v
                for k, v in getattr(mod, "PLAN_AUDIT_NOTES", {}).items()
                if not v.startswith("INFO:")
            }
        )
    return merged


_SCAFFOLD = re.compile(r"^((?:[ :+](?:  |- ))*)(.*)$")
_CODEGEN = re.compile(r"^\*\(\d+\) ")

# Partitioning does NOT propagate upward past these: a repartition
# resets the distribution, a broadcast side never carries the probe
# partitioning, a Union's output is multi-partition, and a
# CartesianProduct's partition count is the PRODUCT of its children's
# (single-partition-ness of one child alone does not propagate — but
# ADVICE r17: when EVERY child is single-partition the product is
# 1 x 1 = 1 and the cartesian's output genuinely rides a single
# partition, so the walk detects that case via _heads_single and
# continues upward instead of stopping). Matched by operator-name
# PREFIX on the codegen-stripped node text (ADVICE r16: substring
# matching would stop on any node merely MENTIONING Exchange) — which
# is why BroadcastExchange/BroadcastQueryStage, previously caught by
# the 'Exchange' substring, are listed explicitly. Hash/merge joins
# are deliberately NOT stop nodes: their shuffled inputs already
# interpose an Exchange/ShuffleQueryStage ancestor, and the probe side
# of a broadcast join DOES carry its partitioning upward.
_STOP = (
    "Exchange",
    "BroadcastExchange",
    "ShuffleQueryStage",
    "BroadcastQueryStage",
    "AQEShuffleRead",
    "Union",
    "CartesianProduct",
)


def _parse_tree(plan: str) -> list[dict]:
    """Parse a physical-plan string into a node list with parent and
    children links, using the same indentation-depth convention as the
    ancestor walk (3-char scaffold cells)."""
    nodes: list[dict] = []
    stack: list[int] = []  # indices of open ancestors
    for line in plan.splitlines():
        m = _SCAFFOLD.match(line)
        prefix, content = m.group(1), m.group(2)
        if not content.strip():
            continue
        depth = len(prefix) // 3
        while stack and nodes[stack[-1]]["depth"] >= depth:
            stack.pop()
        idx = len(nodes)
        nodes.append(
            {
                "depth": depth,
                "content": content,
                "parent": stack[-1] if stack else None,
                "children": [],
            }
        )
        if stack:
            nodes[stack[-1]]["children"].append(idx)
        stack.append(idx)
    return nodes


def _heads_single(nodes: list[dict], idx: int) -> bool:
    """Does the subtree rooted at ``idx`` OUTPUT a single partition?
    Descend through narrow (single-child) operators to the partition-
    determining head: Exchange SinglePartition -> True; any other
    distribution-resetting stop node -> False; a nested
    CartesianProduct -> True iff EVERY child heads single (the
    1 x 1 = 1 case); a multi-child join or a leaf scan -> False
    (conservative: joins interpose their own exchanges, scans are
    multi-partition at any real size)."""
    cur = idx
    while True:
        c = _CODEGEN.sub("", nodes[cur]["content"])
        if "Exchange SinglePartition" in c:
            return True
        if c.startswith("CartesianProduct"):
            kids = nodes[cur]["children"]
            return bool(kids) and all(
                _heads_single(nodes, k) for k in kids
            )
        if c.startswith(_STOP):
            return False
        kids = nodes[cur]["children"]
        if len(kids) != 1:
            return False
        cur = kids[0]


def flagged_contexts(plan: str) -> int:
    """Count Exchange SinglePartition nodes whose single-partition
    output feeds a Window or a Sort (TakeOrderedAndProject excluded),
    by walking the plan-tree ANCESTOR chain.

    Replaces the round-7 500-char textual-context heuristic, which was
    order-dependent: plan-string expression ids grow with session age,
    so the same query flagged or not depending on how many queries ran
    before it in the sweep (round 16 caught breusch_godfrey_lm /
    lo_modified_rs flagging in the full sweep but not in named mode,
    and mardia the other way). The tree walk is offset-free: from each
    SinglePartition exchange, follow parents — single-partition-ness
    propagates through every narrow operator and the probe side of
    broadcast joins — until another Exchange / ShuffleQueryStage /
    AQEShuffleRead / Union resets the distribution; flag if a Window
    or Sort is reached first. A CartesianProduct stops the walk UNLESS
    every one of its children heads a single-partition subtree
    (ADVICE r17: 1 x 1 = 1 — a Sort/Window above such a join genuinely
    rides one partition, so the walk continues through it).
    """
    nodes = _parse_tree(plan)
    n = 0
    for node in nodes:
        if "Exchange SinglePartition" not in node["content"]:
            continue
        anc = node["parent"]
        while anc is not None:
            name = _CODEGEN.sub("", nodes[anc]["content"])
            if name.startswith("Window"):
                n += 1
                break
            if name.startswith("Sort ") and "TakeOrdered" not in name:
                n += 1
                break
            if name.startswith("CartesianProduct") and _heads_single(
                nodes, anc
            ):
                anc = nodes[anc]["parent"]
                continue
            if name.startswith(_STOP):
                break
            anc = nodes[anc]["parent"]
    return n


def audit(spark, names=None):
    """Return {name: flag_count} for flagged queries (errors -> -1)."""
    from celestrak_tle_data_pipeline_spark import plans
    from celestrak_tle_data_pipeline_spark.plans import (
        bank_r11,
        bank_r12,
        bank_r13,
        bank_r14,
        bank_r15,
        bank_r16,
        bank_r17,
        bank_r18,
        bank_r19,
        bank_r20,
        bank_r21,
        next_window,
    )

    qs = plans.all_queries()
    if names:  # explicit names may come from the pre-staged banks
        qs = {
            **bank_r11.BANK_QUERIES,
            **bank_r12.BANK_QUERIES,
            **bank_r13.BANK_QUERIES,
            **bank_r14.BANK_QUERIES,
            **bank_r15.BANK_QUERIES,
            **bank_r16.BANK_QUERIES,
            **bank_r17.BANK_QUERIES,
            **bank_r18.BANK_QUERIES,
            **bank_r19.BANK_QUERIES,
            **bank_r20.BANK_QUERIES,
            **bank_r21.BANK_QUERIES,
            **next_window.NEXT_QUERIES,
            **qs,
        }
    hits: dict[str, int] = {}
    for name in names or list(qs):
        try:
            plan = (
                qs[name](spark, SF_DIR)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        except Exception as ex:  # noqa: BLE001 — report and continue
            print(f"ERR   {name}: {str(ex)[:100]}")
            hits[name] = -1
            continue
        k = flagged_contexts(plan)
        if k:
            hits[name] = k
    return hits


def main(argv):
    from celestrak_tle_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="sp-audit")
    full_sweep = not argv
    allow = allowed()
    hits = audit(spark, argv or None)
    new = []
    for name, k in sorted(hits.items()):
        status = "allow" if name in allow else "FLAG "
        print(f"{status} {name}: {k} window/sort-over-SinglePartition")
        if name not in allow:
            new.append(name)
    print(f"{len(hits)} flagged of {len(argv) if argv else 'all'} audited"
          f" ({len(new)} outside allowlist)")
    if full_sweep:
        # stale gate: the FULL effective allowlist — INFO-tagged
        # informational notes are already excluded by allowed(), so
        # every remaining entry (static or merged) must still flag.
        stale = sorted(set(allow) - set(hits))
        if stale:
            print(f"STALE allowlist entries (no longer flag): {stale}")
        return 1 if new or stale else 0
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
