"""Empirical scaling probe: run headline queries at sf0.1 and at an
N-fold key-shifted enlargement of it, and report warm-time ratios
against the ideal (linear) slope.

Why key-shifted union instead of just repeating rows: each replica
gets disjoint key ranges (users, orders, customers, documents), so
cardinalities — distinct users, groups, join fan-outs — scale with the
data volume the way a real bigger dataset would, instead of piling
duplicates onto the same hot keys.

A query whose warm time grows ~Nx (ratio/N <= ~1) scales linearly —
its shuffles move proportional data; anything superlinear would expose
a quadratic candidate-pair blowup or a driver-side bottleneck. This is
the 100 TB extrapolation evidence for BENCH: the executed plans'
pushed filters, read schemas and exchanges are in
tools/query_profile.py's records; this shows measured behavior agreeing.

Usage: python tools/scale_probe.py [N]      (default N=8)
Writes the enlarged copy under /root/repo/.scratch/sfx{N}/ (ignored by
git) on first run; reuses it afterwards.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# key column -> per-replica shift (disjoint ranges per replica)
SCALED = {
    "events": {"event_id": 10**12, "user_id": 10**7},
    "documents": {"doc_id": 10**9},
    "orders": {"o_orderkey": 10**12, "o_custkey": 10**9},
    "customer": {"c_custkey": 10**9},
    "lineitem": {"l_orderkey": 10**12, "l_partkey": 10**9,
                 "l_suppkey": 10**9},
}
COPIED = ("region", "nation", "supplier", "part", "embeddings")

QUERIES = (
    "pricing_summary",        # scan + 1-shuffle agg
    "top_revenue_orders",     # broadcast star join + top-k
    "session_windows",        # per-user window sort
    "cohort_retention",       # collect_set + matrix
    "funnel_conversion",      # chained window minima
    "rollup_cascade_daily",   # two-level agg cascade
    "exact_dup_groups",       # digest shuffle
    "simhash_near_dup",       # banded LSH self-join
    "tpch_q8_market_share",   # 8-relation join graph, 1 fact-fact shuffle
    "tpch_q21_waiting_suppliers",  # double correlation via per-order counts
    "vocab_oov_rate",         # explode + df agg + broadcast vocab
    # round-5 shapes
    "duplicate_ngram_spans",        # gram equi-join (span-dup, not all-pairs)
    "item_cooccurrence_cosine",     # capped self-join via persisted pairs
    "token_vote_classifier",        # 2-scan train+infer, broadcast champion
    "rolling_weekly_active_users",  # 7x day-grain fan-out + count-distinct
    # round-6 shapes
    "equidepth_histogram_bounded",  # percentile agg + broadcast range lookup
    "sorted_neighborhood_ranged",   # range-partitioned SNM + boundary carry
    "winnowing_fingerprints",       # gram explode + doc-keyed window min
    "bloom_membership_sketch",      # bit-set build + broadcast probe
    "mann_whitney_u_values",        # range-partitioned exact ranking
    "ks_two_sample_values",         # range-partitioned CDF prefix sums
    "cdc_apply_changes",            # keyed change-log head compaction
    # experimentation/eval tier
    "cuped_adjusted_ab",            # user-keyed moments + scalar combine
    "auc_rank_score",               # corpus collapse to score domain
    "rowhash_table_digest",         # map-side fold + source-keyed agg
    "mutual_information_type_dow",  # cell rollup + tiny-frame entropies
    "bigram_lm_perplexity",         # gram-model equi-joins
    "rake_keyphrases",              # islands windows + token-keyed aggs
    "association_rules_parts",      # within-basket bounded pair join
    "user_value_drawdown",          # shared-shuffle window pair
    "y4m_scene_cuts",               # Arrow codec kernel, frame expansion
    "centroid_classifier_confusion",  # element aggs + pairwise tournament
    "cem_matched_att",              # stratum windows + rank equi-join
    "gains_chart_deciles",          # percentile broadcast + decile rollup
    "clamped_running_balance",      # reflection identity window pair
    "vocab_coverage_curve",         # vocab agg + three top-k reductions
    "time_to_convert_quartiles",    # two gated min-aggs + scalar rollup
    # round-7 scale-killer rewrites (r6 verdict X22/X44/X73)
    "systematic_weighted_sample",   # ranged cumsum + triangular offsets
    "pareto_frontier_orders",       # per-partition frontier + carry merge
    "pareto_decile_ranged",         # percentile-boundary decile twin
    "median_ci_order_stats",        # ranged global ranks, no pid window
    "document_chunks_overlap",      # zero-shuffle chunk grid + md5
)


def build_scaled(spark, n: int, out_dir: str) -> None:
    from pyspark.sql import functions as F

    from celestrak_tle_data_pipeline_spark.sources.tables import load_table

    os.makedirs(out_dir, exist_ok=True)
    for name, shifts in SCALED.items():
        src = load_table(spark, BASE, name)
        parts = []
        for i in range(n):
            df = src
            for col, stride in shifts.items():
                df = df.withColumn(col, F.col(col) + F.lit(i * stride))
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )
    for name in COPIED:
        load_table(spark, BASE, name).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )


def timed(qs, name, spark, sf_dir) -> float:
    df = qs[name](spark, sf_dir)
    df.toPandas()  # cold pass: codegen + page cache
    t0 = time.time()
    df.toPandas()
    return time.time() - t0


def main(argv) -> int:
    # usage: scale_probe.py [N [name ...]] — names override the routine
    # QUERIES list; names not in the live registry fall back to the
    # pre-staged next-window bank (plans/next_window.py).
    n = int(argv[0]) if argv else 8
    names = tuple(argv[1:]) or QUERIES
    from celestrak_tle_data_pipeline_spark import plans
    from celestrak_tle_data_pipeline_spark.plans import (
        bank_r11,
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
    from celestrak_tle_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="scale_probe")
    out_dir = os.path.join(ROOT, ".scratch", f"sfx{n}")
    if not os.path.isdir(out_dir):
        print(f"building {n}x dataset under {out_dir} ...", file=sys.stderr)
        build_scaled(spark, n, out_dir)

    qs = dict(bank_r11.BANK_QUERIES)
    qs.update(bank_r13.BANK_QUERIES)
    qs.update(bank_r14.BANK_QUERIES)
    qs.update(bank_r15.BANK_QUERIES)
    qs.update(bank_r16.BANK_QUERIES)
    qs.update(bank_r17.BANK_QUERIES)
    qs.update(bank_r18.BANK_QUERIES)
    qs.update(bank_r19.BANK_QUERIES)
    qs.update(bank_r20.BANK_QUERIES)
    qs.update(bank_r21.BANK_QUERIES)
    qs.update(next_window.NEXT_QUERIES)
    qs.update(plans.all_queries())
    report = {}
    for name in names:
        t1 = timed(qs, name, spark, BASE)
        tn = timed(qs, name, spark, out_dir)
        report[name] = {
            "t_x1_sec": round(t1, 3),
            f"t_x{n}_sec": round(tn, 3),
            "ratio": round(tn / t1, 2) if t1 > 0 else None,
            "linear_is": float(n),
        }
        print(
            f"{name:24s} x1={t1:6.2f}s  x{n}={tn:6.2f}s  "
            f"ratio={tn / t1:5.2f} (linear={n})",
            file=sys.stderr,
        )
    print(json.dumps({"scale_factor": n, "queries": report}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
