"""Round-19 optimization pins (OPTIMIZATION_r19.md).

The r18 value-bucket device computed its bucket offsets
(``prefix_offsets``) and its grid totals (a separate scalar aggregate)
as independent subtrees over the same data-grain grid; column pruning
and the join-inferred ``isnotnull(pid)`` de-canonicalized the branches
so AQE re-executed the grid rollup once per consumer (verified in the
r18 runtime plans). r19 folded offsets AND totals into ONE pass, now
``exact_cumulative`` (its arithmetic is property-tested in
``test_properties.py``), so the base subtree materializes once. These
pins cover:

1. the device's bucket offsets and totals (exclusive prefix, with
   and without keys) on hand-checked frames, and its cumulatives
   against the global ordered window they replace;
2. the executed (post-AQE) plans of the five rewritten queries hit
   their scan budgets — a regression that re-splits the base subtree
   re-adds full-table passes at 100 TB;
3. ``reynolds_smolensky_redistribution`` carries no persist (a
   fact-width cache at 100 TB is the guide-§5 scale killer r19
   removed).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from celestrak_tle_data_pipeline_spark.plans.common import (
    exact_cumulative,
)

from conftest import SF_DIR
from tools.query_profile import iter_nodes

SF_DIR_01 = "/root/testdata/sf0.01"


def _executed_plan(df) -> str:
    # collect() drives THIS Dataset's queryExecution, so executedPlan
    # afterwards is the final adaptive plan (a .write would plan a
    # fresh execution and show the pre-AQE tree with no stage reuse)
    df.collect()
    txt = df._jdf.queryExecution().executedPlan().toString()
    return txt.split("== Initial Plan ==")[0]


def _executed_scans(plan) -> int:
    """Parquet scans in a final adaptive plan: every node of the walk
    through query stages into the plans they ran (a reused exchange
    is not entered, so a reuse is not a second scan)."""
    return sum(
        node.nodeName().startswith("Scan parquet")
        for node in iter_nodes(plan)
    )


def _bucket_offsets(df, keys, buckets):
    """{(*keys, pid): {off_/tot_ name: value}} of exact_cumulative
    over value column ``v`` with aggregates n (row count) and x."""
    acc, _ = exact_cumulative(
        df,
        ("v",),
        {"n": F.count(F.lit(1)), "x": F.sum("x")},
        keys,
        buckets,
    )
    cols = ["off_n", "tot_n", "off_x", "tot_x"]
    out = {}
    for r in acc.select(*keys, "pid", *cols).distinct().collect():
        at = tuple(r[k] for k in (*keys, "pid"))
        assert at not in out, f"bucket {at} has two offset rows"
        out[at] = {c: r[c] for c in cols}
    return out


def test_bucket_prefix_totals_exact(spark):
    """Exclusive bucket offsets and totals for two aggregates on a
    hand-checked frame: v in [0, 8] with 3 buckets gives width
    floor(8/3)+1 = 3, so buckets 0/1/2 hold v 0-2 / 3-5 / 6-8."""
    rows = (
        [(0, 4), (2, 6)]
        + [(3, 1), (3, 2), (3, 3), (4, 4), (4, 5), (5, 6), (5, 9)]
        + [(6, 2), (7, 3), (8, 7), (8, 8)]
    )
    out = _bucket_offsets(
        spark.createDataFrame(rows, "v long, x long"), (), 3
    )
    assert [out[(p,)]["off_n"] for p in (0, 1, 2)] == [0, 2, 9]
    assert [out[(p,)]["tot_n"] for p in (0, 1, 2)] == [13, 13, 13]
    assert [out[(p,)]["off_x"] for p in (0, 1, 2)] == [0, 10, 40]
    assert [out[(p,)]["tot_x"] for p in (0, 1, 2)] == [60] * 3


def test_bucket_prefix_totals_keyed(spark):
    """keys=... restricts offsets and totals to the group (the lorenz
    per-half shape): offsets accumulate earlier buckets of the SAME
    group only, totals are per-group. v in [0, 7] with 4 buckets gives
    width 2, so bucket = v div 2."""
    rows = (
        [(1, 0, 1)] * 3
        + [(1, 5, 1)] * 5
        + [(2, 2, 1)] * 7
        + [(2, 7, 1)] * 11
    )
    out = _bucket_offsets(
        spark.createDataFrame(rows, "half long, v long, x long"),
        ("half",),
        4,
    )
    assert {k: (o["off_n"], o["tot_n"]) for k, o in out.items()} == {
        (1, 0): (0, 8),
        (1, 2): (3, 8),
        (2, 1): (0, 18),
        (2, 3): (7, 18),
    }


def test_device_queries_hit_scan_budget(spark):
    """Executed-plan scan counts for the five rewritten queries (the
    r18 formulations ran 4/5/3/4/7). The budget is structural: one
    scan for the shared grid subtree, plus only the scans that are
    provably irreducible without a persist (mrp's date-bounds pass,
    kakwani/reynolds' bucket-id distinct sides, reynolds' second
    grid key)."""
    from celestrak_tle_data_pipeline_spark.plans.bank_r18 import (
        dkw_band_lognormal_check,
        kakwani_discount_progressivity,
        qq_tail_estimator,
        relative_distribution_mrp,
        reynolds_smolensky_redistribution,
    )

    budgets = {
        dkw_band_lognormal_check: 1,
        qq_tail_estimator: 1,
        kakwani_discount_progressivity: 2,
        relative_distribution_mrp: 2,
        reynolds_smolensky_redistribution: 4,
    }
    for fn, budget in budgets.items():
        df = fn(spark, SF_DIR_01)
        plan = _executed_plan(df)
        got = _executed_scans(df._jdf.queryExecution().executedPlan())
        assert got <= budget, (
            f"{fn.__name__}: {got} executed scans > budget {budget} — "
            f"the shared grid subtree split again (check the column "
            f"sets and scan predicates of the branches)"
        )
        assert "InMemoryRelation" not in plan
        assert "InMemoryTableScan" not in plan


def test_device_offsets_match_global_window(spark):
    """The device's head values equal the global ordered cumulative it
    replaces, on a frame small enough to compute both ways."""
    from pyspark.sql import Window

    grid = (
        spark.range(0, 500)
        .select((F.col("id") * 37 % 997).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    acc, _ = exact_cumulative(grid, ("v",), {"pn": F.sum("c")}, buckets=8)
    got = {
        r["v"]: (r["head"], r["n"])
        for r in acc.select(
            "v",
            (F.col("cum_pn") - F.col("c")).alias("head"),
            F.col("tot_pn").alias("n"),
        ).collect()
    }
    want_rows = (
        grid.select(
            "v",
            F.coalesce(
                F.sum("c").over(
                    Window.orderBy("v").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("head"),
        )
        .collect()
    )
    n = sum(r["c"] for r in grid.collect())
    want = {r["v"]: (r["head"], n) for r in want_rows}
    assert got == want
