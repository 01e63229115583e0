"""Round-12 bank (X345+), LIVE since round 12: pre-staged during
rounds 11-12 under the same no-new-debt discipline as ``bank_r11`` in
round 10 (``tests/test_registry.py::test_no_new_official_debt`` never
sees an oracle-paired name without an official row or a window slot).

Seeded at round-11 flip time with the three queries that could not fit
the 50-slot round-11 window: the round-10 bank grew to 52 queries and
the r10 verdict additionally directed the rows-only registry name
``ann_lsh_bucketed`` into the round-11 window tail (its twin
``minhash_near_dup`` already had an official rows-only record from
round 2), leaving 49 slots for the bank — so X345 (the last of the
documented batch) and X346/X347 (the pooled-ECDF latecomers whose
duplicate-``tots`` oracles round 11 fixed) defer here. Round-11 fresh
work appends below them; round 12 flips the module live exactly like
round 9 flipped ``next_window`` and round 11 flipped ``bank_r11``.

Every query lands here only after passing the driver-gate compare
(``tools/check.py`` canon/hash) at sf0.001 AND sf0.01 via
``tests/test_bank_r12.py``, plus the sf0.1 sweep through
``tools/check.py --module bank_r12``.

Determinism and scale disciplines are inherited unchanged from
``bank_r11`` (see that module's docstring): exact integer/DECIMAL
folds, round-before-fold for float terms, ``+ 0.0`` on possibly
negative-zero outputs, total-order top-k, and no unpartitioned window
over row-grain data (the pooled-ECDF device below is the value-bucket
global cumsum from ``plans/common.exact_cumulative``).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from . import register as _live_register
from .bank_r11 import _POOL_SQL
from .common import DECILE_LEVELS, dec, exact_cumulative, t

BANK_QUERIES: dict = {}
BANK_ORACLES: dict = {}


def register(name: str, oracle: str | None = None):
    """Registers live via ``plans.register`` AND records the name in
    the bank dicts so ``tests/test_bank_r12.py`` keeps gate-mirroring
    the whole flipped set independently of the registry (the same flip
    protocol bank_r11 used in round 11)."""

    live = _live_register(name, oracle)

    def deco(fn):
        BANK_QUERIES[name] = fn
        if oracle is not None:
            BANK_ORACLES[name] = oracle
        return live(fn)

    return deco


# --------------------------------------------------------------------------
# Theil inequality decomposition: between vs within nations
# --------------------------------------------------------------------------
@register(
    "theil_between_within_nations",
    oracle="""
    WITH spend AS (
        SELECT c.c_nationkey AS nk,
               CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS x
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY o.o_custkey, c.c_nationkey
    ),
    grp AS (
        SELECT nk,
               CAST(COUNT(*) AS BIGINT) AS ng,
               CAST(SUM(x) AS BIGINT) AS sg,
               CAST(SUM(x * CAST(round(ln(x), 9) AS DECIMAL(18,9)))
                    AS DECIMAL(38,9)) AS lg
        FROM spend GROUP BY nk
    ),
    tot AS (
        SELECT CAST(SUM(ng) AS BIGINT) AS n,
               CAST(SUM(sg) AS BIGINT) AS s,
               CAST(SUM(lg) AS DECIMAL(38,9)) AS l
        FROM grp
    ),
    parts AS (
        SELECT
            SUM(CAST(round(g.sg * 1.0 / t.s
                           * ln((g.sg * 1.0 / g.ng)
                                / (t.s * 1.0 / t.n)), 12)
                AS DECIMAL(38,12))) AS t_between,
            SUM(CAST(round(g.sg * 1.0 / t.s
                           * (CAST(g.lg AS DOUBLE) / g.sg
                              - ln(g.sg * 1.0 / g.ng)), 12)
                AS DECIMAL(38,12))) AS t_within
        FROM grp g, tot t
    )
    SELECT t.n AS n_customers,
           round(CAST(t.l AS DOUBLE) / t.s - ln(t.s * 1.0 / t.n), 6)
               AS theil_total,
           round(CAST(p.t_between AS DOUBLE), 6) + 0.0 AS theil_between,
           round(CAST(p.t_within AS DOUBLE), 6) AS theil_within,
           round(CAST(p.t_between AS DOUBLE)
                 / (CAST(t.l AS DOUBLE) / t.s - ln(t.s * 1.0 / t.n)),
                 4) + 0.0 AS between_share
    FROM tot t, parts p
    """,
)
def theil_between_within_nations(spark, sf_dir):
    """Theil-T inequality decomposition of customer spend BY NATION:
    T_total = T_between + T_within exactly (Theil's additive
    decomposability — the property Gini famously lacks and the reason
    development economics uses Theil for group accounting): how much
    spend inequality is across-country vs within-country. Uses the
    identity T = Σx·ln(x)/S − ln(S/N) so the whole statistic needs
    only three folds (N, S, Σx·ln x) globally and per group.
    Extends customer_inequality_panel (corpus-wide scalars) with the
    grouped accounting view.

    Per-customer ln terms round to 9 and fold exactly weighted by
    integer cents; the between/within terms fold per-nation rounded
    contributions (25-row domain). Plan: fact-dim broadcast join →
    (customer, nation) rollup → 25-row group fold → scalars."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").alias("nk"),
    )
    spend = (
        o.join(F.broadcast(c), "o_custkey")
        .groupBy("o_custkey", "nk")
        .agg(
            F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
            .cast("bigint")
            .alias("x")
        )
    )
    grp = spend.groupBy("nk").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum("x").cast("bigint").alias("sg"),
        F.sum(
            F.col("x")
            * F.round(F.log("x"), 9).cast("decimal(18,9)")
        )
        .cast("decimal(38,9)")
        .alias("lg"),
    ).persist()
    tot = grp.agg(
        F.sum("ng").cast("bigint").alias("n"),
        F.sum("sg").cast("bigint").alias("s"),
        F.sum("lg").cast("decimal(38,9)").alias("l"),
    )
    g = grp.crossJoin(F.broadcast(tot))
    t_between = F.sum(
        F.round(
            F.col("sg")
            * 1.0
            / F.col("s")
            * F.log(
                (F.col("sg") * 1.0 / F.col("ng"))
                / (F.col("s") * 1.0 / F.col("n"))
            ),
            12,
        ).cast("decimal(38,12)")
    )
    t_within = F.sum(
        F.round(
            F.col("sg")
            * 1.0
            / F.col("s")
            * (
                F.col("lg").cast("double") / F.col("sg")
                - F.log(F.col("sg") * 1.0 / F.col("ng"))
            ),
            12,
        ).cast("decimal(38,12)")
    )
    parts = g.agg(
        t_between.alias("t_between"), t_within.alias("t_within")
    )
    theil_total = F.col("l").cast("double") / F.col("s") - F.log(
        F.col("s") * 1.0 / F.col("n")
    )
    return tot.crossJoin(F.broadcast(parts)).select(
        F.col("n").alias("n_customers"),
        F.round(theil_total, 6).alias("theil_total"),
        (F.round(F.col("t_between").cast("double"), 6) + 0.0).alias(
            "theil_between"
        ),
        F.round(F.col("t_within").cast("double"), 6).alias(
            "theil_within"
        ),
        (
            F.round(
                F.col("t_between").cast("double") / theil_total, 4
            )
            + 0.0
        ).alias("between_share"),
    )


# --------------------------------------------------------------------------
# Batch X346+: distribution geometry on the pooled two-sample ECDF —
# Wasserstein-1, energy distance, Brunner-Munzel, Cuzick trend, Yuen
# trimmed-Welch. Shared device: value-grain counts + prefix counts +
# prefix VALUE SUMS per group (the _ecdf2 shape extended with exact
# decimal(38,6) running sums so E|X-Y|-class pair sums never touch a
# pair join).
# --------------------------------------------------------------------------
_POOLS_SQL = _POOL_SQL + """,
    cum2 AS (
        SELECT value, CAST(value AS DECIMAL(18,6)) AS dv, c1, c2,
               SUM(c1) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)
                   AS f1,
               SUM(c2) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)
                   AS f2,
               CAST(SUM(c1 * CAST(value AS DECIMAL(18,6)))
                    OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)
                    AS DECIMAL(38,6)) AS s1,
               CAST(SUM(c2 * CAST(value AS DECIMAL(18,6)))
                    OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)
                    AS DECIMAL(38,6)) AS s2
        FROM by_val
    )
"""


def _ecdf2cs(spark, sf_dir):
    """(value, dv, c1, c2, f1, f2, s1, s2) at distinct-value grain plus
    broadcast totals (n1, n2): the `_ecdf2` device extended with
    per-group counts AT the value (c1/c2) and exact decimal(38,6)
    prefix sums of the value itself (s1/s2) — enough to evaluate any
    Σ|x-y|-class pair statistic from per-row closed forms, with the
    same no-single-partition ``exact_cumulative`` construction."""
    e = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    by_val = (
        e.select(
            "value",
            (F.col("event_type") == "click").cast("long").alias("g1"),
        )
        .groupBy("value")
        .agg(
            F.sum("g1").alias("c1"),
            F.sum(1 - F.col("g1")).alias("c2"),
        )
        .withColumn("dv", dec("value", 18, 6))
    )
    acc, _ = exact_cumulative(
        by_val,
        ("value",),
        {
            "f1": F.sum("c1"),
            "f2": F.sum("c2"),
            "s1": F.sum(F.col("c1") * F.col("dv")),
            "s2": F.sum(F.col("c2") * F.col("dv")),
        },
    )
    return acc.select(
        "value",
        "dv",
        "c1",
        "c2",
        F.col("cum_f1").alias("f1"),
        F.col("cum_f2").alias("f2"),
        F.col("cum_s1").cast("decimal(38,6)").alias("s1"),
        F.col("cum_s2").cast("decimal(38,6)").alias("s2"),
        F.col("tot_f1").cast("bigint").alias("n1"),
        F.col("tot_f2").cast("bigint").alias("n2"),
    )


@register(
    "wasserstein1_two_sample",
    oracle="WITH " + _POOLS_SQL + """,
    fold AS (
        SELECT
            CAST(SUM(dv * (abs((f1 - c1) * t.n2 - (f2 - c2) * t.n1)
                           - abs(f1 * t.n2 - f2 * t.n1)))
                 AS DECIMAL(38,6)) AS sw,
            CAST(SUM(dv * (((f1 - c1) * t.n2 - (f2 - c2) * t.n1)
                           - (f1 * t.n2 - f2 * t.n1)))
                 AS DECIMAL(38,6)) AS ss
        FROM cum2, tots t
        GROUP BY t.n1, t.n2
    )
    SELECT t.n1, t.n2,
           round(CAST(sw AS DOUBLE)
                 / (t.n1 * CAST(t.n2 AS DOUBLE)), 6) AS w1_distance,
           round(CAST(ss AS DOUBLE)
                 / (t.n1 * CAST(t.n2 AS DOUBLE)), 6) + 0.0
               AS mean_gap
    FROM fold, tots t
    """,
)
def wasserstein1_two_sample(spark, sf_dir):
    """1-Wasserstein (earth-mover) distance between the click and
    purchase value distributions: W1 = ∫|F1(v) − F2(v)|dv, the metric
    that measures HOW FAR mass must move (KS/CvM/AD only measure
    whether the ECDFs differ — W1 is the one with units of value, the
    standard drift magnitude for feature monitoring). The piecewise-
    constant integral telescopes to a PER-ROW closed form: with grid
    values v_i and d_i = F1(v_i) − F2(v_i), W1 = Σ_i v_i·(|d_{i-1}| −
    |d_i|), and d_{i-1} at row i is just (f−c)-based — so no lead/lag
    window is needed at all. Numerators stay exact integers
    (f·n cross-multiplied), the v·Δ|d| product is an exact
    decimal(38,6) fold, and the single division happens at the end.
    The signed companion Σ v_i·(d_{i-1} − d_i) = E[purchase] −
    E[click] ships as a mean-gap cross-check.

    Plan: value-grain rollup → ``exact_cumulative`` → one decimal
    fold. No pair join, no single-partition window, shuffle bounded
    by the distinct-value grid."""
    cum = _ecdf2cs(spark, sf_dir)
    d_cur = (
        F.col("f1").cast("decimal(38,0)") * F.col("n2")
        - F.col("f2").cast("decimal(38,0)") * F.col("n1")
    )
    d_prev = (
        (F.col("f1") - F.col("c1")).cast("decimal(38,0)") * F.col("n2")
        - (F.col("f2") - F.col("c2")).cast("decimal(38,0)") * F.col("n1")
    )
    fold = cum.groupBy("n1", "n2").agg(
        F.sum(F.col("dv") * (F.abs(d_prev) - F.abs(d_cur)))
        .cast("decimal(38,6)")
        .alias("sw"),
        F.sum(F.col("dv") * (d_prev - d_cur))
        .cast("decimal(38,6)")
        .alias("ss"),
    )
    nn = F.col("n1") * F.col("n2").cast("double")
    return fold.select(
        "n1",
        "n2",
        F.round(F.col("sw").cast("double") / nn, 6).alias("w1_distance"),
        (F.round(F.col("ss").cast("double") / nn, 6) + 0.0).alias(
            "mean_gap"
        ),
    )


@register(
    "energy_distance_two_sample",
    oracle="WITH " + _POOLS_SQL + """,
    fold AS (
        SELECT
            CAST(SUM(c1 * ((f2 - c2) * dv - (s2 - c2 * dv))
                     + c2 * ((f1 - c1) * dv - (s1 - c1 * dv)))
                 AS DECIMAL(38,6)) AS sc,
            CAST(SUM(c1 * ((f1 - c1) * dv - (s1 - c1 * dv)))
                 AS DECIMAL(38,6)) AS sw1,
            CAST(SUM(c2 * ((f2 - c2) * dv - (s2 - c2 * dv)))
                 AS DECIMAL(38,6)) AS sw2
        FROM cum2
    )
    SELECT t.n1, t.n2,
           round(CAST(sc AS DOUBLE) / (t.n1 * CAST(t.n2 AS DOUBLE)), 6)
               AS mean_abs_gap,
           round(2.0 * CAST(sw1 AS DOUBLE)
                 / (t.n1 * CAST(t.n1 - 1 AS DOUBLE)), 6)
               AS gini_md_click,
           round(2.0 * CAST(sw2 AS DOUBLE)
                 / (t.n2 * CAST(t.n2 - 1 AS DOUBLE)), 6)
               AS gini_md_purchase,
           round(2.0 * CAST(sc AS DOUBLE) / (t.n1 * CAST(t.n2 AS DOUBLE))
                 - 2.0 * CAST(sw1 AS DOUBLE)
                   / (t.n1 * CAST(t.n1 AS DOUBLE))
                 - 2.0 * CAST(sw2 AS DOUBLE)
                   / (t.n2 * CAST(t.n2 AS DOUBLE)), 6) + 0.0
               AS energy_distance,
           round((t.n1 * CAST(t.n2 AS DOUBLE) / (t.n1 + t.n2))
                 * (2.0 * CAST(sc AS DOUBLE)
                    / (t.n1 * CAST(t.n2 AS DOUBLE))
                    - 2.0 * CAST(sw1 AS DOUBLE)
                      / (t.n1 * CAST(t.n1 AS DOUBLE))
                    - 2.0 * CAST(sw2 AS DOUBLE)
                      / (t.n2 * CAST(t.n2 AS DOUBLE))), 6) + 0.0
               AS e_stat
    FROM fold, tots t
    """,
)
def energy_distance_two_sample(spark, sf_dir):
    """Székely-Rizzo energy distance between click and purchase
    values: D² = 2E|X−Y| − E|X−X'| − E|Y−Y'| (V-statistic convention,
    documented), plus the test statistic n1n2/(n1+n2)·D² and the two
    Gini mean differences (U-statistic within-group E|X−X'|) as
    named outputs — the distance that is zero IFF the distributions
    are equal, sensitive to ANY difference (location, scale, shape),
    where KS-class sup tests lose power against tail alternatives.
    Every pair sum collapses to the sorted-prefix closed form
    Σ_pairs|x−y| = Σ_v c_v·(F_prev·v − S_prev): exact bigint prefix
    counts, exact decimal(38,6) prefix value sums, one decimal fold —
    no O(n²) pair join at any scale.

    Plan: value-grain rollup → ``exact_cumulative`` (counts + value
    sums) → one decimal fold; divisions only in the final projection."""
    cum = _ecdf2cs(spark, sf_dir)
    f1p = F.col("f1") - F.col("c1")
    f2p = F.col("f2") - F.col("c2")
    s1p = F.col("s1") - F.col("c1") * F.col("dv")
    s2p = F.col("s2") - F.col("c2") * F.col("dv")
    fold = cum.groupBy("n1", "n2").agg(
        F.sum(
            F.col("c1") * (f2p * F.col("dv") - s2p)
            + F.col("c2") * (f1p * F.col("dv") - s1p)
        )
        .cast("decimal(38,6)")
        .alias("sc"),
        F.sum(F.col("c1") * (f1p * F.col("dv") - s1p))
        .cast("decimal(38,6)")
        .alias("sw1"),
        F.sum(F.col("c2") * (f2p * F.col("dv") - s2p))
        .cast("decimal(38,6)")
        .alias("sw2"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    a = F.col("sc").cast("double") / (F.col("n1") * n2d)
    b = 2.0 * F.col("sw1").cast("double") / (F.col("n1") * n1d)
    c = 2.0 * F.col("sw2").cast("double") / (F.col("n2") * n2d)
    edist = 2.0 * a - b - c
    return fold.select(
        "n1",
        "n2",
        F.round(a, 6).alias("mean_abs_gap"),
        F.round(
            2.0 * F.col("sw1").cast("double")
            / (F.col("n1") * (n1d - 1.0)),
            6,
        ).alias("gini_md_click"),
        F.round(
            2.0 * F.col("sw2").cast("double")
            / (F.col("n2") * (n2d - 1.0)),
            6,
        ).alias("gini_md_purchase"),
        (F.round(edist, 6) + 0.0).alias("energy_distance"),
        (
            F.round(
                (F.col("n1") * n2d / (F.col("n1") + F.col("n2")))
                * edist,
                6,
            )
            + 0.0
        ).alias("e_stat"),
    )


# --------------------------------------------------------------------------
# Round-11 fresh work, batch 1: classical homogeneity / randomness tests
# on the daily-revenue series (X348+). Shared device: the bounded orders
# calendar (~2.4k rows at any SF) indexed by a triangular self-join —
# sequence position i, cumulative cents cy — so no window operator ever
# appears; O(|days|^2) pairs is a DOMAIN constant, not a data volume.
# Distinct from the live pettitt_changepoint (rank-based), cusum scan
# (windowed cusum class) and runs test (direction runs): these are the
# other four canonical homogeneity batteries (WMO hydrology practice
# runs Buishand + SNHT + Pettitt + von Neumann together) plus the two
# classic sequence-randomness signs.
# --------------------------------------------------------------------------
from .round10 import _DAILY_ORDERS_SQL, _daily_orders

_DAYS_IDX_SQL = f"""
    daily AS ({_DAILY_ORDERS_SQL}),
    idx AS (
        SELECT a.d, a.y, CAST(COUNT(*) AS BIGINT) AS i,
               CAST(SUM(b.y) AS DECIMAL(38,0)) AS cy
        FROM daily a JOIN daily b ON b.d <= a.d
        GROUP BY a.d, a.y
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
               SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
        FROM daily
    )
"""


def _days_idx(spark, sf_dir):
    """(d, y cents, i sequence position, cy cumulative cents) over the
    day grid — exact integers via one triangular self-join (the
    turning_points adjacency device extended with position + prefix
    sum); frame size is the calendar DOMAIN, constant in data volume."""
    daily = _daily_orders(spark, sf_dir)
    a, b = daily.alias("a"), daily.alias("b")
    return (
        a.join(b, F.col("b.d") <= F.col("a.d"))
        .groupBy(F.col("a.d").alias("d"), F.col("a.y").alias("y"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("i"),
            F.sum(F.col("b.y").cast("decimal(38,0)")).alias("cy"),
        )
    )


def _days_tot(spark, sf_dir):
    """Broadcast 1-row scalars over the day grid: n, Σy, Σy² (exact;
    the dickey_fuller power-sum shape)."""
    return _daily_orders(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )


@register(
    "buishand_range_test",
    oracle=f"""
    WITH {_DAYS_IDX_SQL},
    sk AS (SELECT i, cy * n - i * sy AS s FROM idx, tot)
    SELECT t.n AS n_days,
           round(CAST(MAX(sk.s) AS DOUBLE)
                 / sqrt(CAST(t.n * t.syy - t.sy * t.sy AS DOUBLE)), 6)
               + 0.0 AS smax_over_s,
           round(CAST(MIN(sk.s) AS DOUBLE)
                 / sqrt(CAST(t.n * t.syy - t.sy * t.sy AS DOUBLE)), 6)
               + 0.0 AS smin_over_s,
           round(CAST(MAX(sk.s) - MIN(sk.s) AS DOUBLE)
                 / sqrt(CAST(t.n * t.syy - t.sy * t.sy AS DOUBLE))
                 / sqrt(t.n), 6) AS rb_stat
    FROM sk, tot t
    GROUP BY t.n, t.sy, t.syy
    """,
)
def buishand_range_test(spark, sf_dir):
    """Buishand range test for series homogeneity: rescaled adjusted
    partial sums S_k = Σ_{i<=k}(y_i − ȳ) of daily revenue, with the
    range R = max S − min S reported as R/(s·√n) — the WMO-standard
    break detector that complements the live `pettitt_changepoint`
    (rank-based) and `cusum_changepoint_scan` (argmax scan): Buishand
    is the parametric RANGE form, most powerful for a single mid-series
    mean shift. S_k is kept exact by n-scaling: S*_k = n·cy_k − k·Σy
    (integer cents, DECIMAL(38,0)), so S_k = S*_k/n and every division
    happens once, in the final double projection (the n factors cancel
    against s·√n). max/min of exact integers — no float order anywhere.

    Plan: day rollup → one triangular self-join on the bounded
    calendar (position + prefix sum, no window) → scalar fold."""
    cum = _days_idx(spark, sf_dir)
    tot = _days_tot(spark, sf_dir)
    sk = cum.crossJoin(F.broadcast(tot)).select(
        (F.col("cy") * F.col("n") - F.col("i") * F.col("sy")).alias("s"),
        "n",
        "sy",
        "syy",
    )
    denom = F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return (
        sk.groupBy("n", "sy", "syy")
        .agg(F.max("s").alias("smax"), F.min("s").alias("smin"))
        .select(
            F.col("n").alias("n_days"),
            (
                F.round(F.col("smax").cast("double") / denom, 6) + 0.0
            ).alias("smax_over_s"),
            (
                F.round(F.col("smin").cast("double") / denom, 6) + 0.0
            ).alias("smin_over_s"),
            F.round(
                (F.col("smax") - F.col("smin")).cast("double")
                / denom
                / F.sqrt(F.col("n")),
                6,
            ).alias("rb_stat"),
        )
    )


@register(
    "snht_homogeneity_scan",
    oracle=f"""
    WITH {_DAYS_IDX_SQL},
    tk AS (
        SELECT i,
               CAST(cy * n - i * sy AS DOUBLE)
               * CAST(cy * n - i * sy AS DOUBLE) * n
               / (CAST(n * syy - sy * sy AS DOUBLE) * i * (n - i))
                   AS tvv
        FROM idx, tot
        WHERE i < (SELECT n FROM tot)
    ),
    mx AS (SELECT MAX(tvv) AS tmax FROM tk)
    SELECT (SELECT n FROM tot) AS n_days,
           round(mx.tmax, 6) AS t_max,
           MIN(tk.i) AS break_position
    FROM tk, mx
    WHERE tk.tvv = mx.tmax
    GROUP BY mx.tmax
    """,
)
def snht_homogeneity_scan(spark, sf_dir):
    """Standard Normal Homogeneity Test (Alexandersson): T_k =
    k·z̄₁² + (n−k)·z̄₂² scanned over every split position of the daily
    revenue series, reporting T_max and the break position — the
    third member of the WMO homogeneity battery (most sensitive to
    breaks near the series ENDS, where Buishand/Pettitt lose power).
    Algebra: with S*_k = n·cy_k − k·Σy, T_k collapses to
    n·S*_k²/((nΣy²−(Σy)²)·k·(n−k)) — the z-means never need to be
    formed. S*_k is an exact integer; T_k is evaluated in ONE double
    expression identical in both engines (decimal→double rounding is
    deterministic), so max/argmax agree bit-for-bit; position ties
    break to the smallest k.

    Plan: day rollup → triangular position/prefix device → per-row
    closed form → scalar max + equality argmax. No window."""
    cum = _days_idx(spark, sf_dir)
    tot = _days_tot(spark, sf_dir)
    s = (F.col("cy") * F.col("n") - F.col("i") * F.col("sy")).cast(
        "double"
    )
    # The division is wrapped in a short-circuiting WHEN rather than
    # relying on the i<n filter alone: Catalyst folds the later
    # tvv=tmax equality's isnotnull(tvv) probe into a join CONDITION
    # where the division can evaluate before the i<n conjunct, and
    # ANSI mode turns the i=n row into DIVIDE_BY_ZERO (observed).
    tvv = F.when(
        F.col("i") < F.col("n"),
        s
        * s
        * F.col("n")
        / (
            (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                "double"
            )
            * F.col("i")
            * (F.col("n") - F.col("i"))
        ),
    )
    tk = (
        cum.crossJoin(F.broadcast(tot))
        .where(F.col("i") < F.col("n"))
        .select("i", "n", tvv.alias("tvv"))
    )
    mx = tk.agg(F.max("tvv").alias("tmax"))
    return (
        tk.crossJoin(F.broadcast(mx))
        .where(F.col("tvv") == F.col("tmax"))
        .groupBy("n", "tmax")
        .agg(F.min("i").alias("break_position"))
        .select(
            F.col("n").alias("n_days"),
            F.round(F.col("tmax"), 6).alias("t_max"),
            "break_position",
        )
    )


@register(
    "von_neumann_ratio_test",
    oracle=f"""
    WITH {_DAYS_IDX_SQL},
    dd AS (
        SELECT SUM(CAST(b.y - a.y AS DECIMAL(38,0)) * (b.y - a.y))
                   AS sd2
        FROM idx a JOIN idx b ON b.i = a.i + 1
    )
    SELECT t.n AS n_days,
           round(CAST(dd.sd2 AS DOUBLE) * t.n
                 / CAST(t.n * t.syy - t.sy * t.sy AS DOUBLE), 6) AS eta,
           round((CAST(dd.sd2 AS DOUBLE) * t.n
                  / CAST(t.n * t.syy - t.sy * t.sy AS DOUBLE) - 2.0)
                 / sqrt(4.0 * (t.n - 2)
                        / (CAST(t.n AS DOUBLE) * t.n - 1)), 6)
               + 0.0 AS z_score
    FROM dd, tot t
    """,
)
def von_neumann_ratio_test(spark, sf_dir):
    """Von Neumann ratio test for serial independence of daily
    revenue: η = Σ(y_{i+1}−y_i)² / Σ(y−ȳ)², the successive-difference
    statistic with E[η]≈2 under independence — η<2 flags positive
    autocorrelation (trend/persistence), η>2 oscillation. The
    variance-based sibling of the rank tests around it (Bartels is
    exactly this on ranks) and the classical pre-test for the OLS
    trend fits already live (`durbin_watson_trend_residuals` tests
    RESIDUALS; this tests the raw series). z uses the exact null
    variance 4(n−2)/(n²−1).

    Exactness: adjacent pairs by sequence position (triangular-join
    index, no window); the difference square widens through
    DECIMAL(38,0) BEFORE the multiply (day totals squared is the
    round-8 overflow class); Σ(y−ȳ)² enters as the exact integer form
    (nΣy²−(Σy)²)/n, so η = n·Σd²/(nΣy²−(Σy)²) divides once, in the
    final double. Plan: day rollup → position device → i+1 equi-join
    → scalar folds."""
    cum = _days_idx(spark, sf_dir).select("i", "y")
    tot = _days_tot(spark, sf_dir)
    a, b = cum.alias("a"), cum.alias("b")
    dd = (
        a.join(b, F.col("b.i") == F.col("a.i") + 1)
        .select(
            (
                (F.col("b.y") - F.col("a.y")).cast("decimal(38,0)")
                * (F.col("b.y") - F.col("a.y"))
            ).alias("d2")
        )
        .agg(F.sum("d2").alias("sd2"))
    )
    eta = (
        F.col("sd2").cast("double")
        * F.col("n")
        / (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return dd.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_days"),
        F.round(eta, 6).alias("eta"),
        (
            F.round(
                (eta - 2.0)
                / F.sqrt(
                    4.0
                    * (F.col("n") - 2)
                    / (F.col("n").cast("double") * F.col("n") - 1)
                ),
                6,
            )
            + 0.0
        ).alias("z_score"),
    )


@register(
    "bartels_rank_test",
    oracle=f"""
    WITH {_DAYS_IDX_SQL},
    rnk AS (
        SELECT a.i,
               CAST(SUM(CASE WHEN b.y < a.y THEN 2
                             WHEN b.y = a.y THEN 1 ELSE 0 END) + 1
                    AS BIGINT) AS r2
        FROM idx a JOIN idx b ON TRUE
        GROUP BY a.i
    ),
    num AS (
        SELECT SUM(CAST(b.r2 - a.r2 AS DECIMAL(38,0)) * (b.r2 - a.r2))
                   AS nm
        FROM rnk a JOIN rnk b ON b.i = a.i + 1
    ),
    den AS (
        SELECT SUM(CAST(r2 - n - 1 AS DECIMAL(38,0)) * (r2 - n - 1))
                   AS dn
        FROM rnk, tot
    )
    SELECT t.n AS n_days,
           round(CAST(num.nm AS DOUBLE) / CAST(den.dn AS DOUBLE), 6)
               AS rvn,
           round((CAST(num.nm AS DOUBLE) / CAST(den.dn AS DOUBLE) - 2.0)
                 / sqrt(4.0 * (t.n - 2)
                        * (5.0 * t.n * t.n - 2 * t.n - 9)
                        / (5.0 * t.n * (t.n + 1)
                           * CAST((t.n - 1) AS DOUBLE) * (t.n - 1))), 6)
               + 0.0 AS z_score
    FROM num, den, tot t
    """,
)
def bartels_rank_test(spark, sf_dir):
    """Bartels rank version of the von Neumann ratio: RVN =
    Σ(r_{i+1}−r_i)² / Σ(r−r̄)² over the RANKS of daily revenue — the
    distribution-free trend/oscillation test that stays valid under
    the heavy-tailed daily totals where the raw-value η loses its
    nominal level (Bartels 1982). Complements `runs_test_randomness`
    (direction runs), `turning_points_randomness` (local extrema) and
    the raw `von_neumann_ratio_test`: four different departures, one
    bounded calendar frame.

    Exactness: 2x-scaled midranks r₂ = 2·#{y_j<y_i}+#{y_j=y_i}+1 are
    exact integers from one domain-bounded cross join (the scale
    factor cancels in the ratio); mean(r₂) = n+1 exactly, so the
    denominator folds exact integers too; z uses Bartels' null
    variance 4(n−2)(5n²−2n−9)/(5n(n+1)(n−1)²). Plan: day rollup →
    rank + position devices (both triangular, domain-bounded) →
    i+1 equi-join → scalar folds. No window."""
    cum = _days_idx(spark, sf_dir).select("i", "y")
    tot = _days_tot(spark, sf_dir)
    a, b = cum.alias("a"), cum.alias("b")
    rnk = (
        a.crossJoin(b)
        .groupBy(F.col("a.i").alias("i"))
        .agg(
            (
                F.sum(
                    F.when(F.col("b.y") < F.col("a.y"), 2)
                    .when(F.col("b.y") == F.col("a.y"), 1)
                    .otherwise(0)
                )
                + 1
            )
            .cast("bigint")
            .alias("r2")
        )
        .persist()
    )
    ra, rb = rnk.alias("ra"), rnk.alias("rb")
    num = (
        ra.join(rb, F.col("rb.i") == F.col("ra.i") + 1)
        .select(
            (
                (F.col("rb.r2") - F.col("ra.r2")).cast("decimal(38,0)")
                * (F.col("rb.r2") - F.col("ra.r2"))
            ).alias("d2")
        )
        .agg(F.sum("d2").alias("nm"))
    )
    den = (
        rnk.crossJoin(F.broadcast(tot))
        .select(
            (
                (F.col("r2") - F.col("n") - 1).cast("decimal(38,0)")
                * (F.col("r2") - F.col("n") - 1)
            ).alias("e2")
        )
        .agg(F.sum("e2").alias("dn"))
    )
    rvn = F.col("nm").cast("double") / F.col("dn").cast("double")
    nd = F.col("n").cast("double")
    return (
        num.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n").alias("n_days"),
            F.round(rvn, 6).alias("rvn"),
            (
                F.round(
                    (rvn - 2.0)
                    / F.sqrt(
                        4.0
                        * (F.col("n") - 2)
                        * (5.0 * F.col("n") * F.col("n")
                           - 2 * F.col("n") - 9)
                        / (
                            5.0
                            * F.col("n")
                            * (F.col("n") + 1)
                            * (nd - 1)
                            * (F.col("n") - 1)
                        )
                    ),
                    6,
                )
                + 0.0
            ).alias("z_score"),
        )
    )


@register(
    "cox_stuart_trend_test",
    oracle=f"""
    WITH {_DAYS_IDX_SQL},
    pairs AS (
        SELECT CASE WHEN b.y > a.y THEN 1 ELSE 0 END AS plus,
               CASE WHEN b.y < a.y THEN 1 ELSE 0 END AS minus
        FROM idx a JOIN idx b
             ON b.i = a.i + (SELECT (n + 1) // 2 FROM tot)
        WHERE a.i <= (SELECT n // 2 FROM tot)
    ),
    s AS (
        SELECT CAST(SUM(plus) AS BIGINT) AS np,
               CAST(SUM(minus) AS BIGINT) AS nm,
               CAST(SUM(plus + minus) AS BIGINT) AS nt
        FROM pairs
    )
    SELECT t.n AS n_days, s.np AS n_plus, s.nm AS n_minus,
           round((2.0 * s.np - s.nt) / sqrt(s.nt), 6) + 0.0 AS z_score
    FROM s, tot t
    """,
)
def cox_stuart_trend_test(spark, sf_dir):
    """Cox-Stuart sign test for monotone trend: pair day i with day
    i+⌈n/2⌉ (first half against second half, middle day dropped when n
    is odd), count sign(y_late − y_early), and test S⁺ against
    Binomial(N, ½) via z = (2S⁺−N)/√N — the assumption-free trend
    detector whose power concentrates on LEVEL SHIFTS between halves,
    complementing `mann_kendall_trend` (all-pairs concordance) and
    `seasonal_mann_kendall` (within-weekday). Exact-tie pairs drop in
    both engines identically (integer cents equality).

    Plan: day rollup → position device → one offset equi-join on the
    bounded calendar → scalar fold. All-integer until the final z."""
    cum = _days_idx(spark, sf_dir).select("i", "y")
    tot = _days_tot(spark, sf_dir)
    a, b = cum.alias("a"), cum.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(tot))
        .where(F.col("a.i") <= F.floor(F.col("n") / 2))
        .join(
            b,
            F.col("b.i")
            == F.col("a.i") + F.floor((F.col("n") + 1) / 2),
        )
        .select(
            F.when(F.col("b.y") > F.col("a.y"), 1)
            .otherwise(0)
            .alias("plus"),
            F.when(F.col("b.y") < F.col("a.y"), 1)
            .otherwise(0)
            .alias("minus"),
            "n",
        )
    )
    s = pairs.groupBy("n").agg(
        F.sum("plus").cast("bigint").alias("np"),
        F.sum("minus").cast("bigint").alias("nm"),
        F.sum(F.col("plus") + F.col("minus")).cast("bigint").alias("nt"),
    )
    return s.select(
        F.col("n").alias("n_days"),
        F.col("np").alias("n_plus"),
        F.col("nm").alias("n_minus"),
        (
            F.round(
                (2.0 * F.col("np") - F.col("nt")) / F.sqrt(F.col("nt")),
                6,
            )
            + 0.0
        ).alias("z_score"),
    )


# ==========================================================================
# Round-12 fresh batch (authored in round 12 for the r12 window flip):
# X353+ candidates. Same pre-flip discipline, same determinism contract.
# ==========================================================================


# --------------------------------------------------------------------------
# Chatterjee's xi correlation (daily count -> daily value)
# --------------------------------------------------------------------------
@register(
    "chatterjee_xi_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_ev,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY 1
    ),
    rk AS (
        SELECT day, n_ev,
               CAST(ROW_NUMBER() OVER (ORDER BY v, day) AS BIGINT) AS r
        FROM daily
    ),
    seq AS (
        SELECT r,
               LEAD(r) OVER (ORDER BY n_ev, day) AS r_next
        FROM rk
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN r_next IS NULL THEN 0
                             ELSE abs(r_next - r) END) AS BIGINT) AS sd
        FROM seq
    )
    SELECT n AS n_days, sd AS sum_abs_rank_delta,
           round(1.0 - 3.0 * sd / (CAST(n AS DOUBLE) * n - 1.0), 9) + 0.0
               AS xi_stat
    FROM s
    """,
)
def chatterjee_xi_daily(spark, sf_dir):
    """Chatterjee's xi coefficient (2020) between daily event COUNT and
    daily total VALUE: sort days by count, take the ranks of value in
    that order, and xi = 1 - 3*sum|r_{i+1}-r_i| / (n^2-1). Unlike
    Pearson/Spearman (both live in the registry) xi is asymmetric and
    consistent for testing whether value is a measurable FUNCTION of
    count — it converges to 0 under independence and 1 under any
    deterministic dependence, monotone or not. Ranks are made unique by
    the (v, day) / (n_ev, day) total orders (exact integer cents and
    counts), so both engines walk the identical permutation and the
    statistic is an exact integer until one terminal division. Plan:
    one day-grain rollup, then rank/lead windows over the bounded
    calendar frame (~30 rows at any SF — days don't grow with data)."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ev"),
        F.sum((dec("value", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("v"),
    )
    rk = daily.select(
        "day",
        "n_ev",
        F.row_number().over(Window.orderBy("v", "day")).cast("bigint")
        .alias("r"),
    )
    seq = rk.select(
        "r", F.lead("r").over(Window.orderBy("n_ev", "day")).alias("r_next")
    )
    s = seq.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("r_next").isNull(), 0).otherwise(
                F.abs(F.col("r_next") - F.col("r"))
            )
        )
        .cast("bigint")
        .alias("sd"),
    )
    return s.select(
        F.col("n").alias("n_days"),
        F.col("sd").alias("sum_abs_rank_delta"),
        (
            F.round(
                1.0
                - 3.0
                * F.col("sd")
                / (F.col("n").cast("double") * F.col("n") - 1.0),
                9,
            )
            + 0.0
        ).alias("xi_stat"),
    )


# --------------------------------------------------------------------------
# Bowker's test of symmetry on the event-type transition matrix
# --------------------------------------------------------------------------
@register(
    "bowker_symmetry_transitions",
    oracle="""
    WITH seq AS (
        SELECT event_type AS cur,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    ),
    cnt AS (
        SELECT prev AS a, cur AS b, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
    ),
    pairs AS (
        SELECT x.a, x.b,
               x.n AS nij, COALESCE(y.n, 0) AS nji
        FROM cnt x LEFT JOIN cnt y ON x.a = y.b AND x.b = y.a
        WHERE x.a < x.b
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS df,
               CAST(round(SUM(CAST(round(
                   (nij - nji) * (nij - nji)
                       / CAST(nij + nji AS DOUBLE), 9)
                   AS DECIMAL(28,9))), 9) AS DOUBLE) AS chi2
        FROM pairs WHERE nij + nji > 0
    )
    SELECT df AS df_pairs, round(chi2, 6) + 0.0 AS chi2_stat FROM s
    """,
)
def bowker_symmetry_transitions(spark, sf_dir):
    """Bowker's test of symmetry (the k-category generalization of
    McNemar, which the registry has for 2x2) on the event-type
    transition matrix: n_ij counts per-user consecutive transitions
    i->j, and chi2 = sum_{i<j} (n_ij - n_ji)^2 / (n_ij + n_ji) with one
    df per off-diagonal pair — rejects when the session flow is
    directional (e.g. view->purchase happens, purchase->view doesn't).
    Transition counts are exact integers from a per-user lag; each
    pair's term is one IEEE division rounded at 1e-9 and folded in
    DECIMAL over the <= C(5,2)=10 pair rows. Plan: one user-partitioned
    lag (the event_transition_matrix shape), a 25-cell rollup, then a
    self-join on the bounded type domain."""
    e = t(spark, sf_dir, "events")
    seq = e.select(
        F.col("event_type").alias("cur"),
        F.lag("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev"),
    ).where(F.col("prev").isNotNull())
    cnt = seq.groupBy(
        F.col("prev").alias("a"), F.col("cur").alias("b")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    other = cnt.select(
        F.col("a").alias("b2"), F.col("b").alias("a2"),
        F.col("n").alias("n_rev"),
    )
    pairs = (
        cnt.join(
            F.broadcast(other),
            (F.col("a") == F.col("a2")) & (F.col("b") == F.col("b2")),
            "left",
        )
        .where(F.col("a") < F.col("b"))
        .select(
            F.col("n").alias("nij"),
            F.coalesce(F.col("n_rev"), F.lit(0)).alias("nji"),
        )
    )
    s = pairs.where(F.col("nij") + F.col("nji") > 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.round(
            F.sum(
                F.round(
                    (F.col("nij") - F.col("nji"))
                    * (F.col("nij") - F.col("nji"))
                    / (F.col("nij") + F.col("nji")).cast("double"),
                    9,
                ).cast("decimal(28,9)")
            ),
            9,
        )
        .cast("double")
        .alias("chi2"),
    )
    return s.select(
        F.col("df").alias("df_pairs"),
        (F.round(F.col("chi2"), 6) + 0.0).alias("chi2_stat"),
    )


# --------------------------------------------------------------------------
# Goodman-Kruskal lambda (proportional reduction in prediction error)
# --------------------------------------------------------------------------
@register(
    "goodman_kruskal_lambda",
    oracle="""
    WITH cell AS (
        SELECT CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT) AS dow,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    rowmax AS (
        SELECT dow, CAST(MAX(n) AS BIGINT) AS m FROM cell GROUP BY dow
    ),
    colmax AS (
        SELECT event_type, CAST(MAX(n) AS BIGINT) AS m
        FROM cell GROUP BY event_type
    ),
    colsum AS (
        SELECT event_type, CAST(SUM(n) AS BIGINT) AS s
        FROM cell GROUP BY event_type
    ),
    rowsum AS (
        SELECT dow, CAST(SUM(n) AS BIGINT) AS s FROM cell GROUP BY dow
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n,
               (SELECT CAST(SUM(m) AS BIGINT) FROM rowmax) AS srm,
               (SELECT CAST(SUM(m) AS BIGINT) FROM colmax) AS scm,
               (SELECT CAST(MAX(s) AS BIGINT) FROM colsum) AS mc,
               (SELECT CAST(MAX(s) AS BIGINT) FROM rowsum) AS mr
        FROM cell
    )
    SELECT n AS n_events,
           round((srm - mc) / CAST(n - mc AS DOUBLE), 9) + 0.0
               AS lambda_type_given_dow,
           round((scm - mr) / CAST(n - mr AS DOUBLE), 9) + 0.0
               AS lambda_dow_given_type,
           round((srm - mc + scm - mr)
                 / CAST(2 * n - mc - mr AS DOUBLE), 9) + 0.0
               AS lambda_symmetric
    FROM tot
    """,
)
def goodman_kruskal_lambda(spark, sf_dir):
    """Goodman-Kruskal lambda: the proportional reduction in
    prediction error for event_type when the weekday is known (and
    vice versa, plus the symmetric average). lambda = (sum of row
    maxima - modal column total) / (N - modal column total) — 0 means
    the weekday tells you nothing about which event fires, 1 means it
    determines it. The PRE counterpart of the chi2 / Cramer's V /
    mutual-information panel already in the registry (association
    strength in probability terms rather than test-statistic terms).
    Every input is an exact integer count over the bounded 35-cell
    (dow x type) grid; MAX needs no tiebreak (it is a value, not an
    argmax). Plan: one 35-cell rollup, four domain-frame folds, one
    scalar select."""
    e = t(spark, sf_dir, "events")
    cell = e.groupBy(
        ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7)
        .cast("bigint")
        .alias("dow"),
        "event_type",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n")).persist()
    rowmax = cell.groupBy("dow").agg(F.max("n").alias("m"))
    colmax = cell.groupBy("event_type").agg(F.max("n").alias("m"))
    colsum = cell.groupBy("event_type").agg(F.sum("n").alias("s"))
    rowsum = cell.groupBy("dow").agg(F.sum("n").alias("s"))
    tot = (
        cell.agg(F.sum("n").cast("bigint").alias("n"))
        .crossJoin(
            F.broadcast(rowmax.agg(F.sum("m").cast("bigint").alias("srm")))
        )
        .crossJoin(
            F.broadcast(colmax.agg(F.sum("m").cast("bigint").alias("scm")))
        )
        .crossJoin(
            F.broadcast(colsum.agg(F.max("s").cast("bigint").alias("mc")))
        )
        .crossJoin(
            F.broadcast(rowsum.agg(F.max("s").cast("bigint").alias("mr")))
        )
    )
    return tot.select(
        F.col("n").alias("n_events"),
        (
            F.round(
                (F.col("srm") - F.col("mc"))
                / (F.col("n") - F.col("mc")).cast("double"),
                9,
            )
            + 0.0
        ).alias("lambda_type_given_dow"),
        (
            F.round(
                (F.col("scm") - F.col("mr"))
                / (F.col("n") - F.col("mr")).cast("double"),
                9,
            )
            + 0.0
        ).alias("lambda_dow_given_type"),
        (
            F.round(
                (F.col("srm") - F.col("mc") + F.col("scm") - F.col("mr"))
                / (2 * F.col("n") - F.col("mc") - F.col("mr")).cast(
                    "double"
                ),
                9,
            )
            + 0.0
        ).alias("lambda_symmetric"),
    )


# --------------------------------------------------------------------------
# Renyi entropy spectrum over the event-type distribution
# --------------------------------------------------------------------------
@register(
    "renyi_entropy_spectrum",
    oracle="""
    WITH cnt AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(MAX(c) AS BIGINT) AS mx
            FROM cnt),
    folds AS (
        SELECT
            CAST(round(SUM(CAST(round(sqrt(c * 1.0 / t.n), 12)
                AS DECIMAL(20,12))), 12) AS DOUBLE) AS s_half,
            CAST(round(SUM(CAST(round(
                -(c * 1.0 / t.n) * ln(c * 1.0 / t.n), 12)
                AS DECIMAL(20,12))), 12) AS DOUBLE) AS s_shannon,
            CAST(round(SUM(CAST(round(
                (c * 1.0 / t.n) * (c * 1.0 / t.n), 12)
                AS DECIMAL(20,12))), 12) AS DOUBLE) AS s_two
        FROM cnt, tot t
    )
    SELECT alpha_label, round(h_nats, 6) + 0.0 AS h_nats
    FROM (
        SELECT 'alpha_0' AS alpha_label, ln(CAST(t.k AS DOUBLE)) AS h_nats
        FROM tot t
        UNION ALL
        SELECT 'alpha_0.5', 2.0 * ln(f.s_half) FROM folds f
        UNION ALL
        SELECT 'alpha_1', f.s_shannon FROM folds f
        UNION ALL
        SELECT 'alpha_2', -ln(f.s_two) FROM folds f
        UNION ALL
        SELECT 'alpha_inf', -ln(t.mx * 1.0 / t.n) FROM tot t
    ) ORDER BY alpha_label
    """,
)
def renyi_entropy_spectrum(spark, sf_dir):
    """Renyi entropy spectrum H_alpha of the event-type distribution at
    alpha in {0, 1/2, 1, 2, inf}: H_0 = ln(support) (Hartley), H_1 =
    Shannon (the limit), H_2 = collision entropy (-ln of the Simpson
    index the registry already reports), H_inf = min-entropy (the
    worst-case guessing bound, what a privacy/leakage audit actually
    wants). One distribution, five operationally different "effective
    diversity" readings — the spectrum's spread itself measures how
    skewed the type mix is. Counts are exact; each per-type term is
    one IEEE expression rounded at 1e-12 folded in DECIMAL over the
    5-row domain; each H is a scalar expression of those folds. Plan:
    one 5-row rollup, one fold, a 5-row literal union."""
    e = t(spark, sf_dir, "events")
    cnt = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = cnt.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.max("c").cast("bigint").alias("mx"),
    )
    p = F.col("c") * 1.0 / F.col("n")
    folds = cnt.crossJoin(F.broadcast(tot)).agg(
        F.round(
            F.sum(F.round(F.sqrt(p), 12).cast("decimal(20,12)")), 12
        )
        .cast("double")
        .alias("s_half"),
        F.round(
            F.sum(F.round(-p * F.log(p), 12).cast("decimal(20,12)")), 12
        )
        .cast("double")
        .alias("s_shannon"),
        F.round(
            F.sum(F.round(p * p, 12).cast("decimal(20,12)")), 12
        )
        .cast("double")
        .alias("s_two"),
    )
    both = tot.crossJoin(F.broadcast(folds))
    rows = [
        both.select(
            F.lit("alpha_0").alias("alpha_label"),
            F.log(F.col("k").cast("double")).alias("h_nats"),
        ),
        both.select(
            F.lit("alpha_0.5").alias("alpha_label"),
            (2.0 * F.log(F.col("s_half"))).alias("h_nats"),
        ),
        both.select(
            F.lit("alpha_1").alias("alpha_label"),
            F.col("s_shannon").alias("h_nats"),
        ),
        both.select(
            F.lit("alpha_2").alias("alpha_label"),
            (-F.log(F.col("s_two"))).alias("h_nats"),
        ),
        both.select(
            F.lit("alpha_inf").alias("alpha_label"),
            (-F.log(F.col("mx") * 1.0 / F.col("n"))).alias("h_nats"),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    # no orderBy: the gate compare is order-insensitive and the sort
    # would plant a cosmetic single-partition Sort over the 5-row union
    return out.select(
        "alpha_label", (F.round("h_nats", 6) + 0.0).alias("h_nats")
    )


# --------------------------------------------------------------------------
# Taylor's power law: variance ~ a * mean^b across (type x dow) cells
# --------------------------------------------------------------------------
@register(
    "taylors_power_law",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT)
                   AS dow,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2, 3
    ),
    cell AS (
        SELECT event_type, dow,
               CAST(COUNT(*) AS BIGINT) AS nd,
               CAST(SUM(c) AS BIGINT) AS s1,
               CAST(SUM(c * c) AS BIGINT) AS s2
        FROM daily GROUP BY 1, 2
    ),
    lncell AS (
        SELECT CAST(round(ln(s1 * 1.0 / nd), 9) AS DECIMAL(18,9)) AS lm,
               CAST(round(ln((s2 - s1 * s1 * 1.0 / nd)
                             / (nd - 1.0)), 9) AS DECIMAL(18,9)) AS lv
        FROM cell
        WHERE nd > 1 AND s2 * nd > s1 * s1
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(lm) AS DECIMAL(28,9)) AS sx,
               CAST(SUM(lv) AS DECIMAL(28,9)) AS sy,
               CAST(SUM(lm * lm) AS DECIMAL(38,18)) AS sxx,
               CAST(SUM(lm * lv) AS DECIMAL(38,18)) AS sxy,
               CAST(SUM(lv * lv) AS DECIMAL(38,18)) AS syy
        FROM lncell
    )
    SELECT k AS n_cells,
           round((k * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                  * CAST(sy AS DOUBLE))
                 / (k * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                    * CAST(sx AS DOUBLE)), 6) + 0.0 AS slope_b,
           round((CAST(sy AS DOUBLE) - CAST(sx AS DOUBLE)
                  * ((k * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                      * CAST(sy AS DOUBLE))
                     / (k * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                        * CAST(sx AS DOUBLE)))) / k, 6) + 0.0
               AS intercept_ln_a,
           round((k * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                  * CAST(sy AS DOUBLE))
                 * (k * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                    * CAST(sy AS DOUBLE))
                 / ((k * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                     * CAST(sx AS DOUBLE))
                    * (k * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                       * CAST(sy AS DOUBLE))), 6) + 0.0 AS r2
    FROM fold
    """,
)
def taylors_power_law(spark, sf_dir):
    """Taylor's power law (ecology's most-replicated empirical law):
    across populations, variance of abundance scales as a power of the
    mean, Var = a * Mean^b — b near 1 means Poisson-like arrivals, b
    near 2 means clumped/bursty. Populations here are the 35
    (event_type x weekday) cells, abundance is the daily event count
    within the cell; the law is fit by OLS of ln(var) on ln(mean).
    A regime diagnostic for load modeling: b tells you whether traffic
    burstiness grows faster than volume. Daily counts and the power
    sums s1/s2 are exact integers; ln(mean)/ln(var) are per-cell IEEE
    terms rounded at 1e-9; the five OLS folds are exact DECIMAL over
    the 35-row domain and the slope/intercept/r2 are scalar
    expressions with identical association in both engines. Plan: one
    (type, day) rollup, one 35-cell rollup, one fold."""
    e = t(spark, sf_dir, "events")
    day = F.floor(F.unix_micros("ts") / 86_400_000_000).cast("bigint")
    daily = e.groupBy(
        "event_type",
        day.alias("day"),
        ((day + 4) % 7).alias("dow"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    cell = daily.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    lncell = cell.where(
        (F.col("nd") > 1)
        & (F.col("s2") * F.col("nd") > F.col("s1") * F.col("s1"))
    ).select(
        F.round(F.log(F.col("s1") * 1.0 / F.col("nd")), 9)
        .cast("decimal(18,9)")
        .alias("lm"),
        F.round(
            F.log(
                (F.col("s2") - F.col("s1") * F.col("s1") * 1.0 / F.col("nd"))
                / (F.col("nd") - 1.0)
            ),
            9,
        )
        .cast("decimal(18,9)")
        .alias("lv"),
    )
    fold = lncell.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("lm").cast("decimal(28,9)").alias("sx"),
        F.sum("lv").cast("decimal(28,9)").alias("sy"),
        F.sum(F.col("lm") * F.col("lm")).cast("decimal(38,18)").alias("sxx"),
        F.sum(F.col("lm") * F.col("lv")).cast("decimal(38,18)").alias("sxy"),
        F.sum(F.col("lv") * F.col("lv")).cast("decimal(38,18)").alias("syy"),
    )
    k = F.col("k").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    return fold.select(
        F.col("k").alias("n_cells"),
        (F.round(slope, 6) + 0.0).alias("slope_b"),
        (F.round((sy - sx * slope) / k, 6) + 0.0).alias("intercept_ln_a"),
        (
            F.round(
                (k * sxy - sx * sy)
                * (k * sxy - sx * sy)
                / ((k * sxx - sx * sx) * (k * syy - sy * sy)),
                6,
            )
            + 0.0
        ).alias("r2"),
    )


# --------------------------------------------------------------------------
# Stuart-Maxwell marginal homogeneity test (3x3 paired categorical)
# --------------------------------------------------------------------------
@register(
    "stuart_maxwell_test",
    oracle="""
    WITH bucketed AS (
        SELECT user_id,
               CASE WHEN epoch_us(ts) // 86400000000
                         < 19723 + 15 THEN 0 ELSE 1 END AS half,
               CASE WHEN event_type IN ('click', 'view') THEN 'engage'
                    WHEN event_type IN ('purchase', 'signup') THEN 'convert'
                    ELSE 'error' END AS b,
               COUNT(*) AS c
        FROM events GROUP BY 1, 2, 3
    ),
    modal AS (
        SELECT user_id, half, b,
               ROW_NUMBER() OVER (PARTITION BY user_id, half
                                  ORDER BY c DESC, b ASC) AS rn
        FROM bucketed
    ),
    paired AS (
        SELECT a.b AS before_b, z.b AS after_b
        FROM (SELECT user_id, b FROM modal WHERE half = 0 AND rn = 1) a
        JOIN (SELECT user_id, b FROM modal WHERE half = 1 AND rn = 1) z
          ON a.user_id = z.user_id
    ),
    cnt AS (
        SELECT before_b, after_b, CAST(COUNT(*) AS BIGINT) AS n
        FROM paired GROUP BY 1, 2
    ),
    cells AS (
        SELECT
          CAST(COALESCE(SUM(CASE WHEN before_b='engage' THEN n END),0)
               AS BIGINT) AS r1,
          CAST(COALESCE(SUM(CASE WHEN before_b='convert' THEN n END),0)
               AS BIGINT) AS r2,
          CAST(COALESCE(SUM(CASE WHEN after_b='engage' THEN n END),0)
               AS BIGINT) AS c1,
          CAST(COALESCE(SUM(CASE WHEN after_b='convert' THEN n END),0)
               AS BIGINT) AS c2,
          CAST(COALESCE(SUM(CASE WHEN before_b='engage'
                            AND after_b='engage' THEN n END),0)
               AS BIGINT) AS n11,
          CAST(COALESCE(SUM(CASE WHEN before_b='convert'
                            AND after_b='convert' THEN n END),0)
               AS BIGINT) AS n22,
          CAST(COALESCE(SUM(CASE WHEN before_b='engage'
                            AND after_b='convert' THEN n END),0)
               AS BIGINT) AS n12,
          CAST(COALESCE(SUM(CASE WHEN before_b='convert'
                            AND after_b='engage' THEN n END),0)
               AS BIGINT) AS n21,
          CAST(SUM(n) AS BIGINT) AS n
        FROM cnt
    )
    SELECT n AS n_users,
           r1 - c1 AS d1, r2 - c2 AS d2,
           CASE WHEN (r1 + c1 - 2 * n11) * (r2 + c2 - 2 * n22)
                     - (n12 + n21) * (n12 + n21) = 0 THEN NULL
           ELSE
           round(((r2 + c2 - 2.0 * n22) * (r1 - c1) * (r1 - c1)
                  + 2.0 * (n12 + n21) * (r1 - c1) * (r2 - c2)
                  + (r1 + c1 - 2.0 * n11) * (r2 - c2) * (r2 - c2))
                 / ((r1 + c1 - 2.0 * n11) * (r2 + c2 - 2.0 * n22)
                    - (n12 + n21) * (n12 + n21) + 0.0), 6) + 0.0
           END AS chi2_stat
    FROM cells
    """,
)
def stuart_maxwell_test(spark, sf_dir):
    """Stuart-Maxwell test of marginal homogeneity for a 3x3 paired
    categorical: each user's MODAL behavior bucket (engage / convert /
    error, ties broken by bucket name) in the first half of the month
    vs the second half; the test asks whether the marginal bucket mix
    shifted — the k-category generalization of the McNemar 2x2 the
    registry already has. chi2 = d' S^{-1} d over the first two
    marginal differences, with the 2x2 covariance inverted in closed
    form (adjugate / determinant), so every term is an exact integer
    and the statistic is one rational expression rounded at the end.
    Day 19738 = 2024-01-16 splits the 30-day window. Plan: user-grain
    rollup -> per-user modal pick via a user-partitioned rank ->
    self-join on user -> 9-cell rollup -> scalar."""
    e = t(spark, sf_dir, "events")
    bucketed = e.groupBy(
        "user_id",
        F.when(
            F.floor(F.unix_micros("ts") / 86_400_000_000) < 19723 + 15, 0
        )
        .otherwise(1)
        .alias("half"),
        F.when(
            F.col("event_type").isin("click", "view"), "engage"
        )
        .when(F.col("event_type").isin("purchase", "signup"), "convert")
        .otherwise("error")
        .alias("b"),
    ).agg(F.count(F.lit(1)).alias("c"))
    modal = bucketed.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id", "half").orderBy(
                F.col("c").desc(), F.col("b").asc()
            )
        ),
    ).where(F.col("rn") == 1)
    before = modal.where(F.col("half") == 0).select(
        "user_id", F.col("b").alias("before_b")
    )
    after = modal.where(F.col("half") == 1).select(
        "user_id", F.col("b").alias("after_b")
    )
    cnt = (
        before.join(after, "user_id")
        .groupBy("before_b", "after_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    cells = cnt.agg(
        F.coalesce(
            F.sum(F.when(F.col("before_b") == "engage", F.col("n"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("r1"),
        F.coalesce(
            F.sum(F.when(F.col("before_b") == "convert", F.col("n"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("r2"),
        F.coalesce(
            F.sum(F.when(F.col("after_b") == "engage", F.col("n"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("c1"),
        F.coalesce(
            F.sum(F.when(F.col("after_b") == "convert", F.col("n"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("c2"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("before_b") == "engage")
                    & (F.col("after_b") == "engage"),
                    F.col("n"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n11"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("before_b") == "convert")
                    & (F.col("after_b") == "convert"),
                    F.col("n"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n22"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("before_b") == "engage")
                    & (F.col("after_b") == "convert"),
                    F.col("n"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n12"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("before_b") == "convert")
                    & (F.col("after_b") == "engage"),
                    F.col("n"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n21"),
        F.sum("n").cast("bigint").alias("n"),
    )
    d1 = F.col("r1") - F.col("c1")
    d2 = F.col("r2") - F.col("c2")
    s11 = F.col("r1") + F.col("c1") - 2 * F.col("n11")
    s22 = F.col("r2") + F.col("c2") - 2 * F.col("n22")
    s12 = F.col("n12") + F.col("n21")
    # double-promote each quadratic term BEFORE the d-multiplies, same
    # association as the oracle's `(... - 2.0*nii) * d * d` (and immune
    # to int64 overflow in the cubic products at large user counts)
    chi2 = (
        (s22 * 1.0) * d1 * d1
        + 2.0 * s12 * d1 * d2
        + (s11 * 1.0) * d2 * d2
    ) / (s11 * s22 - s12 * s12 + 0.0)
    det = s11 * s22 - s12 * s12
    return cells.select(
        F.col("n").alias("n_users"),
        d1.alias("d1"),
        d2.alias("d2"),
        # det = 0 (degenerate table, e.g. one bucket dominates at tiny
        # SF) -> NULL in both engines instead of an ANSI divide error
        F.when(det != 0, F.round(chi2, 6) + 0.0).alias("chi2_stat"),
    )


# --------------------------------------------------------------------------
# Krippendorff's alpha (nominal, binary) over the day x type grid
# --------------------------------------------------------------------------
@register(
    "krippendorff_alpha_binary",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    grid AS (
        SELECT d.day, ty.event_type, COALESCE(x.c, 0) AS c
        FROM (SELECT DISTINCT day FROM daily) d
        CROSS JOIN (SELECT DISTINCT event_type FROM daily) ty
        LEFT JOIN daily x
          ON x.day = d.day AND x.event_type = ty.event_type
    ),
    tym AS (
        SELECT event_type,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS nd
        FROM grid GROUP BY event_type
    ),
    coded AS (
        SELECT g.day,
               CASE WHEN g.c * t.nd > t.s THEN 1 ELSE 0 END AS v
        FROM grid g JOIN tym t ON g.event_type = t.event_type
    ),
    unit AS (
        SELECT day,
               CAST(SUM(v) AS BIGINT) AS n1,
               CAST(COUNT(*) - SUM(v) AS BIGINT) AS n0
        FROM coded GROUP BY day
    ),
    s AS (
        SELECT CAST(SUM(n0 + n1) AS BIGINT) AS n,
               CAST(SUM(n0) AS BIGINT) AS t0,
               CAST(SUM(n1) AS BIGINT) AS t1,
               CAST(SUM(n0 * n1) AS BIGINT) AS dsum
        FROM unit
    )
    SELECT n AS n_values,
           t1 AS n_busy,
           round(1.0 - (n - 1.0) * dsum / (4.0 * t0 * t1), 9) + 0.0
               AS alpha
    FROM s
    """,
)
def krippendorff_alpha_binary(spark, sf_dir):
    """Krippendorff's alpha (nominal metric, binary categories) treating
    the five event types as five CODERS who each label every day busy
    (daily count above that type's own mean) or quiet: do the five
    traffic streams agree on which days are busy? The
    missing-data-tolerant generalization of the Fleiss kappa already in
    the registry, computed from the coincidence-matrix identity for
    binary nominal data: alpha = 1 - (n-1) * sum_u n_u0*n_u1 /
    ((m-1) * n_0 * n_1) with m = 5 coders per unit. Zero-event
    (day, type) cells are materialized as count 0 via the bounded
    domain grid, so every unit has exactly 5 codings at every SF. All
    inputs are exact integers; one terminal division. Plan: one
    (day, type) rollup, a broadcast domain grid fill, a per-type mean
    broadcast, then two bounded folds."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("day"),
        "event_type",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c")).persist()
    days = daily.select("day").distinct()
    types = daily.select("event_type").distinct()
    grid = (
        days.crossJoin(F.broadcast(types))
        .join(daily, ["day", "event_type"], "left")
        .select(
            "day",
            "event_type",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    tym = daily.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("s"),
    )
    ndays = days.agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
    coded = (
        grid.join(F.broadcast(tym), "event_type")
        .crossJoin(F.broadcast(ndays))
        .select(
            "day",
            F.when(F.col("c") * F.col("nd") > F.col("s"), 1)
            .otherwise(0)
            .alias("v"),
        )
    )
    unit = coded.groupBy("day").agg(
        F.sum("v").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("v")).cast("bigint").alias("n0"),
    )
    s = unit.agg(
        F.sum(F.col("n0") + F.col("n1")).cast("bigint").alias("n"),
        F.sum("n0").cast("bigint").alias("t0"),
        F.sum("n1").cast("bigint").alias("t1"),
        F.sum(F.col("n0") * F.col("n1")).cast("bigint").alias("dsum"),
    )
    return s.select(
        F.col("n").alias("n_values"),
        F.col("t1").alias("n_busy"),
        (
            F.round(
                1.0
                - (F.col("n") - 1.0)
                * F.col("dsum")
                / (4.0 * F.col("t0") * F.col("t1")),
                9,
            )
            + 0.0
        ).alias("alpha"),
    )


# --------------------------------------------------------------------------
# Instrumental-variable Wald estimator (weekend instrument, day grain)
# --------------------------------------------------------------------------
@register(
    "iv_wald_weekend",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CASE WHEN (epoch_us(ts) // 86400000000 + 4) % 7 >= 5
                    THEN 1 ELSE 0 END AS z,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    g AS (
        SELECT z, CAST(COUNT(*) AS BIGINT) AS nd,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy
        FROM daily GROUP BY z
    ),
    wide AS (
        SELECT
          CAST(SUM(nd) AS BIGINT) AS n_days,
          SUM(CASE WHEN z = 1 THEN sx * 1.0 / nd END) AS x1,
          SUM(CASE WHEN z = 0 THEN sx * 1.0 / nd END) AS x0,
          SUM(CASE WHEN z = 1 THEN sy * 1.0 / nd END) AS y1,
          SUM(CASE WHEN z = 0 THEN sy * 1.0 / nd END) AS y0
        FROM g
    )
    SELECT n_days,
           round(x1 - x0, 9) + 0.0 AS first_stage_events,
           round((y1 - y0) / 100.0, 6) + 0.0 AS reduced_form_value,
           round((y1 - y0) / (x1 - x0) / 100.0, 6) + 0.0
               AS wald_value_per_event
    FROM wide
    """,
)
def iv_wald_weekend(spark, sf_dir):
    """Instrumental-variable Wald estimator on the daily panel: the
    weekend indicator instruments daily event VOLUME to estimate the
    causal value-per-event — wald = (E[y|z=1]-E[y|z=0]) /
    (E[x|z=1]-E[x|z=0]). Where the registry's weekend_effect_ols
    regresses value on the weekend directly (the reduced form), the
    Wald ratio divides through by the first stage, the simplest 2SLS —
    and the three numbers together expose exclusion-restriction
    reasoning (valid only if the weekend moves value ONLY through
    volume). Naming note (VERDICT r16): the instrument
    ``(epoch_day + 4) % 7 >= 5`` selects FRIDAY+SATURDAY under the
    Thursday-anchored epoch day-of-week (the split staged banks name
    ``fri_sat``); the 'weekend' name is kept because it is a live
    r12 official-window entry — semantics, Spark/oracle agreement,
    and the estimator are unaffected. Group means are integer-sum ratios (exact cents/counts,
    two day-count divisions); the Wald ratio is one more division;
    everything rounds at the end. Plan: one day-grain rollup, one
    2-row rollup, one conditional-pivot fold."""
    e = t(spark, sf_dir, "events")
    day = F.floor(F.unix_micros("ts") / 86_400_000_000).cast("bigint")
    daily = e.groupBy(
        day.alias("day"),
        F.when((day + 4) % 7 >= 5, 1).otherwise(0).alias("z"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        F.sum((dec("value", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("y"),
    )
    g = daily.groupBy("z").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    wide = g.agg(
        F.sum("nd").cast("bigint").alias("n_days"),
        F.sum(
            F.when(F.col("z") == 1, F.col("sx") * 1.0 / F.col("nd"))
        ).alias("x1"),
        F.sum(
            F.when(F.col("z") == 0, F.col("sx") * 1.0 / F.col("nd"))
        ).alias("x0"),
        F.sum(
            F.when(F.col("z") == 1, F.col("sy") * 1.0 / F.col("nd"))
        ).alias("y1"),
        F.sum(
            F.when(F.col("z") == 0, F.col("sy") * 1.0 / F.col("nd"))
        ).alias("y0"),
    )
    return wide.select(
        "n_days",
        (F.round(F.col("x1") - F.col("x0"), 9) + 0.0).alias(
            "first_stage_events"
        ),
        (
            F.round((F.col("y1") - F.col("y0")) / 100.0, 6) + 0.0
        ).alias("reduced_form_value"),
        (
            F.round(
                (F.col("y1") - F.col("y0"))
                / (F.col("x1") - F.col("x0"))
                / 100.0,
                6,
            )
            + 0.0
        ).alias("wald_value_per_event"),
    )


# --------------------------------------------------------------------------
# Shewhart X-bar / R control chart over daily type-mean subgroups
# --------------------------------------------------------------------------
@register(
    "shewhart_xbar_r_chart",
    oracle="""
    WITH cell AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               event_type,
               round(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                              AS BIGINT)) / (100.0 * COUNT(*)), 9)
                   AS m
        FROM events GROUP BY 1, 2
    ),
    sub AS (
        SELECT day,
               CAST(COUNT(*) AS BIGINT) AS k,
               round(SUM(CAST(m AS DECIMAL(18,9))) / COUNT(*), 9)
                   AS xbar,
               round(MAX(m) - MIN(m), 9) AS r
        FROM cell GROUP BY day HAVING COUNT(*) = 5
    ),
    lim AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sub,
               CAST(round(SUM(CAST(xbar AS DECIMAL(18,9)))
                          / COUNT(*), 9) AS DOUBLE) AS cl,
               CAST(round(SUM(CAST(r AS DECIMAL(18,9)))
                          / COUNT(*), 9) AS DOUBLE) AS rbar
        FROM sub
    )
    SELECT l.n_sub AS n_subgroups,
           round(l.cl, 6) AS xbar_cl,
           round(l.cl + 0.577 * l.rbar, 6) AS xbar_ucl,
           round(l.cl - 0.577 * l.rbar, 6) + 0.0 AS xbar_lcl,
           round(l.rbar, 6) AS r_cl,
           round(2.114 * l.rbar, 6) AS r_ucl,
           CAST(SUM(CASE WHEN s.xbar > l.cl + 0.577 * l.rbar
                         OR s.xbar < l.cl - 0.577 * l.rbar
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_xbar_violations,
           CAST(SUM(CASE WHEN s.r > 2.114 * l.rbar
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_r_violations
    FROM sub s, lim l
    GROUP BY l.n_sub, l.cl, l.rbar
    """,
)
def shewhart_xbar_r_chart(spark, sf_dir):
    """Shewhart X-bar / R control chart: each day is a rational
    subgroup whose five measurements are the per-event-type mean
    values that day; chart limits use the classic range-based
    constants for n=5 (A2 = 0.577, D4 = 2.114, D3 = 0), and the
    output counts limit violations on both charts. The
    assignable-cause-detection complement to the EWMA control chart
    already in the registry (Shewhart reacts to big isolated shifts,
    EWMA to small sustained ones). Type-means are integer-cent ratios
    rounded at 1e-9 BEFORE the subgroup fold, so xbar / R / the grand
    folds are exact DECIMAL arithmetic on identical inputs in both
    engines; limit comparisons happen on rounded values only. Days
    with missing types (possible at tiny SF) are dropped by the k=5
    HAVING guard — subgroup size is part of the chart's constants.
    Plan: one (day, type) rollup, one day fold, one broadcast
    limit-frame compare; no row-grain window anywhere."""
    e = t(spark, sf_dir, "events")
    cell = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("day"),
        "event_type",
    ).agg(
        F.round(
            F.sum((dec("value", 18, 2) * 100).cast("bigint"))
            / (100.0 * F.count(F.lit(1))),
            9,
        ).alias("m")
    )
    sub = (
        cell.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.round(
                F.sum(F.col("m").cast("decimal(18,9)"))
                / F.count(F.lit(1)),
                9,
            ).alias("xbar"),
            F.round(F.max("m") - F.min("m"), 9).alias("r"),
        )
        .where(F.col("k") == 5)
        .persist()
    )
    lim = sub.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sub"),
        F.round(
            F.sum(F.col("xbar").cast("decimal(18,9)"))
            / F.count(F.lit(1)),
            9,
        )
        .cast("double")
        .alias("cl"),
        F.round(
            F.sum(F.col("r").cast("decimal(18,9)")) / F.count(F.lit(1)),
            9,
        )
        .cast("double")
        .alias("rbar"),
    )
    ucl = F.col("cl") + 0.577 * F.col("rbar")
    lcl = F.col("cl") - 0.577 * F.col("rbar")
    return (
        sub.crossJoin(F.broadcast(lim))
        .groupBy("n_sub", "cl", "rbar")
        .agg(
            F.sum(
                F.when(
                    (F.col("xbar") > ucl) | (F.col("xbar") < lcl), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_xbar_violations"),
            F.sum(
                F.when(F.col("r") > 2.114 * F.col("rbar"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_r_violations"),
        )
        .select(
            F.col("n_sub").alias("n_subgroups"),
            F.round(F.col("cl"), 6).alias("xbar_cl"),
            F.round(ucl, 6).alias("xbar_ucl"),
            (F.round(lcl, 6) + 0.0).alias("xbar_lcl"),
            F.round(F.col("rbar"), 6).alias("r_cl"),
            F.round(2.114 * F.col("rbar"), 6).alias("r_ucl"),
            "n_xbar_violations",
            "n_r_violations",
        )
    )


# --------------------------------------------------------------------------
# Process capability (Cp / Cpk) of lineitem quantity against spec limits
# --------------------------------------------------------------------------
@register(
    "process_capability_cpk",
    oracle="""
    WITH q AS (
        SELECT CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS x
        FROM lineitem
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s1,
               CAST(SUM(x * x) AS DECIMAL(38,0)) AS s2,
               CAST(SUM(CASE WHEN x < 200 OR x > 4900 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_oos
        FROM q
    )
    SELECT n AS n_items,
           round(s1 / (100.0 * n), 6) AS mean_qty,
           round(sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                      / (n - 1.0)) / 100.0, 6) AS std_qty,
           round((4900 - 200)
                 / (6.0 * sqrt((CAST(s2 AS DOUBLE)
                                - CAST(s1 AS DOUBLE) * s1 / n)
                               / (n - 1.0))), 6) AS cp,
           round(LEAST(4900 - s1 * 1.0 / n, s1 * 1.0 / n - 200)
                 / (3.0 * sqrt((CAST(s2 AS DOUBLE)
                                - CAST(s1 AS DOUBLE) * s1 / n)
                               / (n - 1.0))), 6) + 0.0 AS cpk,
           round(n_oos * 1000000.0 / n, 3) AS ppm_out_of_spec
    FROM s
    """,
)
def process_capability_cpk(spark, sf_dir):
    """Process capability indices for lineitem quantity against spec
    limits LSL=2, USL=49 (in cents-of-quantity: 200 / 4900): Cp =
    (USL-LSL)/6sigma measures potential capability, Cpk =
    min(USL-mu, mu-LSL)/3sigma penalizes off-center processes, plus
    the observed out-of-spec PPM. The manufacturing-QC sibling of the
    control charts: charts ask "is the process stable", capability
    asks "does it fit the spec". Mean and variance come from exact
    integer power sums (the registry's stats_moments discipline; s2
    widens through DECIMAL(38,0) since x^2 sums can pass int64 at
    scale); sigma is one sqrt of a rational, every output one
    terminal expression. Plan: one scan, one fold — scan-bound."""
    li = t(spark, sf_dir, "lineitem")
    q = li.select(
        (dec("l_quantity", 12, 2) * 100).cast("bigint").alias("x")
    )
    s = q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("s2"),
        F.sum(
            F.when((F.col("x") < 200) | (F.col("x") > 4900), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("n_oos"),
    )
    n = F.col("n")
    s1 = F.col("s1")
    var = (
        F.col("s2").cast("double") - s1.cast("double") * s1 / n
    ) / (n - 1.0)
    sigma = F.sqrt(var)
    mu = s1 * 1.0 / n
    return s.select(
        n.alias("n_items"),
        F.round(s1 / (100.0 * n), 6).alias("mean_qty"),
        F.round(sigma / 100.0, 6).alias("std_qty"),
        F.round((4900 - 200) / (6.0 * sigma), 6).alias("cp"),
        (
            F.round(
                F.least(4900 - mu, mu - 200) / (3.0 * sigma), 6
            )
            + 0.0
        ).alias("cpk"),
        F.round(F.col("n_oos") * 1000000.0 / n, 3).alias(
            "ppm_out_of_spec"
        ),
    )


# --------------------------------------------------------------------------
# Hosmer-Lemeshow calibration chi2 over document quality-score bins
# --------------------------------------------------------------------------
@register(
    "hosmer_lemeshow_calibration",
    oracle="""
    WITH b AS (
        SELECT LEAST(n_chars // 60, 9) AS bin,
               n_chars,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    g AS (
        SELECT bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(n_chars) AS BIGINT) AS s,
               CAST(SUM(y) AS BIGINT) AS o
        FROM b GROUP BY bin
    ),
    terms AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
               CAST(SUM(n) AS BIGINT) AS n_docs,
               CAST(round(SUM(CAST(round(
                   (600 * o - s) * 1.0 * (600 * o - s) * n
                       / (s * 1.0 * (600 * n - s)), 9)
                   AS DECIMAL(28,9))), 9) AS DOUBLE) AS chi2
        FROM g WHERE s > 0 AND 600 * n > s
    )
    SELECT n_bins, n_docs, round(chi2, 6) AS hl_chi2 FROM terms
    """,
)
def hosmer_lemeshow_calibration(spark, sf_dir):
    """Hosmer-Lemeshow goodness-of-calibration chi2 for the document
    quality score (score = n_chars/600 as P(lang='en'), the same
    pseudo-model score_calibration_bins plots): over 10 score bins,
    chi2 = sum (O_g - E_g)^2 / (E_g (1 - E_g/n_g)). Where the
    reliability diagram SHOWS miscalibration, HL TESTS it — the
    standard pre-deployment gate before scores are used as sampling
    probabilities. Exactness: with score a ratio of integers, each
    bin's term reduces to (600*O - S)^2 * n / (S * (600n - S)) — an
    integer-valued numerator and denominator promoted to double in
    the SAME association order in both engines, rounded at 1e-9 and
    folded in DECIMAL over <= 10 bin rows. Bins where E=0 or E=n
    (degenerate variance) are excluded by construction. Plan: one
    hash rollup to 10 bins, one fold."""
    d = t(spark, sf_dir, "documents")
    b = d.select(
        F.expr("least(n_chars div 60, 9)").alias("bin"),
        "n_chars",
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    g = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("s"),
        F.sum("y").cast("bigint").alias("o"),
    )
    num = 600 * F.col("o") - F.col("s")
    term = (
        num * 1.0 * num * F.col("n")
        / (F.col("s") * 1.0 * (600 * F.col("n") - F.col("s")))
    )
    terms = g.where(
        (F.col("s") > 0) & (600 * F.col("n") > F.col("s"))
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum("n").cast("bigint").alias("n_docs"),
        F.round(F.sum(F.round(term, 9).cast("decimal(28,9)")), 9)
        .cast("double")
        .alias("chi2"),
    )
    return terms.select(
        "n_bins", "n_docs", F.round("chi2", 6).alias("hl_chi2")
    )


# --------------------------------------------------------------------------
# Coleman-Liau + ARI readability panel (syllable-free indices)
# --------------------------------------------------------------------------
@register(
    "coleman_liau_ari_panel",
    oracle="""
    WITH d AS (
        SELECT lang,
               CAST(length(text)
                    - (length(text) - length(replace(text, ' ', '')))
                    AS BIGINT) AS letters,
               CAST(length(text) - length(replace(text, ' ', '')) + 1
                    AS BIGINT) AS words
        FROM documents
    ),
    g AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(letters) AS BIGINT) AS l,
               CAST(SUM(words) AS BIGINT) AS w
        FROM d GROUP BY lang
    )
    SELECT lang, n_docs,
           round(0.0588 * (100.0 * l / w)
                 - 0.296 * (100.0 * n_docs / w) - 15.8, 6) + 0.0
               AS coleman_liau,
           round(4.71 * (l * 1.0 / w)
                 + 0.5 * (w * 1.0 / n_docs) - 21.43, 6) + 0.0 AS ari
    FROM g ORDER BY lang
    """,
)
def coleman_liau_ari_panel(spark, sf_dir):
    """Coleman-Liau index and Automated Readability Index per language
    — the two classic SYLLABLE-FREE readability formulas (both were
    designed for machine scoring: they need only letter / word /
    sentence counts, no phonetics), complementing the registry's
    Flesch score which needs the syllable heuristic. Each document is
    one sentence in this corpus (no terminal punctuation), letters =
    chars minus spaces, words = spaces + 1 — all exact integer
    aggregates; each index is one closed-form expression with
    literal-constant coefficients, identically associated in both
    engines. Plan: one scan-side length projection, one 5-row lang
    rollup."""
    d = t(spark, sf_dir, "documents")
    spaces = F.length("text") - F.length(F.replace(F.col("text"), F.lit(" ")))
    rows = d.select(
        "lang",
        (F.length("text") - spaces).cast("bigint").alias("letters"),
        (spaces + 1).cast("bigint").alias("words"),
    )
    g = rows.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("letters").cast("bigint").alias("l"),
        F.sum("words").cast("bigint").alias("w"),
    )
    return g.select(
        "lang",
        "n_docs",
        (
            F.round(
                0.0588 * (100.0 * F.col("l") / F.col("w"))
                - 0.296 * (100.0 * F.col("n_docs") / F.col("w"))
                - 15.8,
                6,
            )
            + 0.0
        ).alias("coleman_liau"),
        (
            F.round(
                4.71 * (F.col("l") * 1.0 / F.col("w"))
                + 0.5 * (F.col("w") * 1.0 / F.col("n_docs"))
                - 21.43,
                6,
            )
            + 0.0
        ).alias("ari"),
    ).orderBy("lang")


# --------------------------------------------------------------------------
# Juilland's dispersion D for the top corpus terms across sources
# --------------------------------------------------------------------------
@register(
    "juilland_dispersion_terms",
    oracle="""
    WITH tc AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT source, UNNEST(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY 1, 2
    ),
    nsrc AS (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS k FROM tc),
    term AS (
        SELECT w,
               CAST(SUM(c) AS BIGINT) AS total,
               CAST(SUM(c * c) AS BIGINT) AS c2
        FROM tc GROUP BY w
    ),
    top AS (
        SELECT w, total, c2 FROM term
        ORDER BY total DESC, w ASC LIMIT 20
    )
    SELECT w AS term, total AS n_occurrences,
           round(1.0 - sqrt((k * 1.0 * c2 - total * 1.0 * total)
                            / (total * 1.0 * total))
                       / sqrt(k - 1.0), 6) + 0.0 AS juilland_d
    FROM top, nsrc
    ORDER BY n_occurrences DESC, term ASC
    """,
)
def juilland_dispersion_terms(spark, sf_dir):
    """Juilland's dispersion coefficient D for the 20 most frequent
    terms: D = 1 - CV/sqrt(k-1) where CV is the coefficient of
    variation of the term's counts across the k sources (sources with
    zero occurrences included — the identity CV^2 = (k*Sum(c^2) -
    Sum(c)^2) / Sum(c)^2 counts them implicitly). D near 1 means the
    term is evenly spread (a function word), near 0 means it is
    concentrated in one source (a topic/boilerplate marker) — THE
    corpus-linguistics complement to raw frequency, and a cheap
    domain-balance diagnostic for mixture planning. All folds are
    exact integer power sums; one sqrt ratio per term at the end;
    top-k carries the (total, term) total order. Plan: one
    (source, term) hash agg, one term rollup, TakeOrdered 20,
    broadcast source count."""
    d = t(spark, sf_dir, "documents")
    tc = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ).persist()
    nsrc = tc.agg(
        F.countDistinct("source").cast("bigint").alias("k")
    )
    term = tc.groupBy("w").agg(
        F.sum("c").cast("bigint").alias("total"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("c2"),
    )
    top = term.orderBy(
        F.col("total").desc(), F.col("w").asc()
    ).limit(20)
    cv = F.sqrt(
        (
            F.col("k") * 1.0 * F.col("c2")
            - F.col("total") * 1.0 * F.col("total")
        )
        / (F.col("total") * 1.0 * F.col("total"))
    )
    return (
        top.crossJoin(F.broadcast(nsrc))
        .select(
            F.col("w").alias("term"),
            F.col("total").alias("n_occurrences"),
            (
                F.round(1.0 - cv / F.sqrt(F.col("k") - 1.0), 6) + 0.0
            ).alias("juilland_d"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("term").asc())
    )


# --------------------------------------------------------------------------
# Character-entropy token scan (secret/garbage detector shape)
# --------------------------------------------------------------------------
@register(
    "token_char_entropy_topk",
    oracle="""
    WITH vocab AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n_occ
        FROM (SELECT UNNEST(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY w
    ),
    chars AS (
        SELECT w, n_occ, substr(w, CAST(i AS INTEGER), 1) AS ch
        FROM vocab, UNNEST(range(1, length(w) + 1)) AS u(i)
    ),
    cc AS (
        SELECT w, n_occ, ch, CAST(COUNT(*) AS BIGINT) AS c
        FROM chars GROUP BY 1, 2, 3
    ),
    ent AS (
        SELECT w, n_occ,
               CAST(SUM(c) AS BIGINT) AS len,
               CAST(round(SUM(CAST(round(c * ln(c * 1.0), 12)
                   AS DECIMAL(20,12))), 12) AS DOUBLE) AS clnc
        FROM cc GROUP BY 1, 2
    )
    SELECT w AS token, n_occ AS n_occurrences,
           len AS token_len,
           round(ln(len * 1.0) - clnc / len, 6) + 0.0
               AS char_entropy_nats
    FROM ent
    ORDER BY char_entropy_nats DESC, token ASC LIMIT 20
    """,
)
def token_char_entropy_topk(spark, sf_dir):
    """Character-entropy scan over the vocabulary: per distinct token,
    Shannon entropy of its character distribution via the exact-count
    identity H = ln(L) - (1/L) * sum c*ln(c) — the detector shape a
    training-data pipeline uses to flag embedded secrets / API keys /
    base64 blobs (high-entropy tokens) before publication; here it
    ranks the top 20. Character counts are exact integers; each
    c*ln(c) term rounds at 1e-12 and folds in DECIMAL; one terminal
    expression per token; the top-k carries the (entropy, token)
    total order. Plan: vocabulary rollup first (token domain is tiny
    relative to the corpus), then a bounded char explode over
    DISTINCT tokens only — the scan never explodes row-grain text."""
    d = t(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occ"))
    )
    chars = vocab.select(
        "w",
        "n_occ",
        F.explode(F.sequence(F.lit(1), F.length("w"))).alias("i"),
    ).select(
        "w", "n_occ", F.expr("substr(w, i, 1)").alias("ch")
    )
    cc = chars.groupBy("w", "n_occ", "ch").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    ent = cc.groupBy("w", "n_occ").agg(
        F.sum("c").cast("bigint").alias("len"),
        F.round(
            F.sum(
                F.round(
                    F.col("c") * F.log(F.col("c") * 1.0), 12
                ).cast("decimal(20,12)")
            ),
            12,
        )
        .cast("double")
        .alias("clnc"),
    )
    return (
        ent.select(
            F.col("w").alias("token"),
            F.col("n_occ").alias("n_occurrences"),
            F.col("len").alias("token_len"),
            (
                F.round(
                    F.log(F.col("len") * 1.0)
                    - F.col("clnc") / F.col("len"),
                    6,
                )
                + 0.0
            ).alias("char_entropy_nats"),
        )
        .orderBy(F.col("char_entropy_nats").desc(), F.col("token").asc())
        .limit(20)
    )


# --------------------------------------------------------------------------
# Hellinger / total-variation / Bhattacharyya panel over source pairs
# --------------------------------------------------------------------------
@register(
    "hellinger_affinity_panel",
    oracle="""
    WITH cnt AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2
    ),
    grid AS (
        SELECT s.source, l.lang, COALESCE(c.c, 0) AS c
        FROM (SELECT DISTINCT source FROM cnt) s
        CROSS JOIN (SELECT DISTINCT lang FROM cnt) l
        LEFT JOIN cnt c ON c.source = s.source AND c.lang = l.lang
    ),
    tot AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n
        FROM grid GROUP BY source
    ),
    p AS (
        SELECT g.source, g.lang, g.c, t.n
        FROM grid g JOIN tot t ON g.source = t.source
    ),
    pair AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(round(SUM(CAST(round(abs(a.c * 1.0 / a.n
                                            - b.c * 1.0 / b.n), 12)
                   AS DECIMAL(20,12))), 12) AS DOUBLE) AS l1,
               CAST(round(SUM(CAST(round(sqrt((a.c * 1.0 / a.n)
                                        * (b.c * 1.0 / b.n)), 12)
                   AS DECIMAL(20,12))), 12) AS DOUBLE) AS bc
        FROM p a JOIN p b ON a.lang = b.lang AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT src_a, src_b,
           round(l1 / 2.0, 6) AS tv_distance,
           round(bc, 6) AS bhattacharyya_coeff,
           round(sqrt(GREATEST(1.0 - bc, 0.0)), 6) AS hellinger
    FROM pair ORDER BY src_a, src_b
    """,
)
def hellinger_affinity_panel(spark, sf_dir):
    """Total-variation distance, Bhattacharyya coefficient, and
    Hellinger distance between every source pair's LANGUAGE
    distribution: three metrically different answers to "how similar
    are two sources' language mixes" (TV = max probability gap any
    event can see, the mixing-coefficient bound; Hellinger = the
    L2-of-sqrt geometry that tensorizes; BC their common kernel).
    Complements the registry's KL/JSD panels (those diverge on
    disjoint support — these stay bounded). Zero-count (source, lang)
    cells enter via the bounded domain grid so supports align
    exactly. Per-lang terms round at 1e-12 and fold in DECIMAL over
    the 5-row lang domain per pair (190 pairs); GREATEST guards the
    1-BC floating floor at 0. Plan: one (source, lang) rollup, a
    domain grid fill, one bounded triangular self-join on lang."""
    d = t(spark, sf_dir, "documents")
    cnt = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).persist()
    grid = (
        cnt.select("source")
        .distinct()
        .crossJoin(F.broadcast(cnt.select("lang").distinct()))
        .join(cnt, ["source", "lang"], "left")
        .select(
            "source", "lang", F.coalesce(F.col("c"), F.lit(0)).alias("c")
        )
    )
    tot = grid.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    p = grid.join(F.broadcast(tot), "source")
    a = p.select(
        F.col("source").alias("src_a"),
        "lang",
        (F.col("c") * 1.0 / F.col("n")).alias("pa"),
    )
    b = p.select(
        F.col("source").alias("src_b"),
        "lang",
        (F.col("c") * 1.0 / F.col("n")).alias("pb"),
    )
    pair = (
        a.join(b, "lang")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.round(
                F.sum(
                    F.round(F.abs(F.col("pa") - F.col("pb")), 12).cast(
                        "decimal(20,12)"
                    )
                ),
                12,
            )
            .cast("double")
            .alias("l1"),
            F.round(
                F.sum(
                    F.round(
                        F.sqrt(F.col("pa") * F.col("pb")), 12
                    ).cast("decimal(20,12)")
                ),
                12,
            )
            .cast("double")
            .alias("bc"),
        )
    )
    return pair.select(
        "src_a",
        "src_b",
        F.round(F.col("l1") / 2.0, 6).alias("tv_distance"),
        F.round(F.col("bc"), 6).alias("bhattacharyya_coeff"),
        F.round(
            F.sqrt(F.greatest(1.0 - F.col("bc"), F.lit(0.0))), 6
        ).alias("hellinger"),
    ).orderBy("src_a", "src_b")


# --------------------------------------------------------------------------
# Jackknife species-richness estimators for the corpus vocabulary
# --------------------------------------------------------------------------
@register(
    "jackknife_richness_panel",
    oracle="""
    WITH docs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    dc AS (
        SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d
        FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY w
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS v,
               CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS q1,
               CAST(SUM(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS q2
        FROM dc
    )
    SELECT v AS vocab_observed, q1 AS uniques, q2 AS duplicates,
           docs.n AS n_docs,
           round(v + q1 * (docs.n - 1.0) / docs.n, 6) AS jackknife1,
           round(v + q1 * (2.0 * docs.n - 3.0) / docs.n
                 - q2 * (docs.n - 2.0) * (docs.n - 2.0)
                   / (docs.n * (docs.n - 1.0)), 6) AS jackknife2
    FROM s, docs
    """,
)
def jackknife_richness_panel(spark, sf_dir):
    """First- and second-order jackknife estimators of total
    vocabulary size from incidence counts (in how many DOCUMENTS does
    each type occur): jack1 = V + Q1*(n-1)/n, jack2 = V +
    Q1*(2n-3)/n - Q2*(n-2)^2/(n(n-1)) where Q1/Q2 are the counts of
    types seen in exactly one / two documents. The
    sampling-theory-grounded siblings of the registry's Chao1
    (abundance-based) and Good-Turing (unseen mass) estimators —
    together the three bracket how much vocabulary a bigger crawl
    would add. Incidence counts are exact integers; the estimators
    are single closed-form expressions. Plan: one doc-token distinct
    rollup, one incidence fold, broadcast doc count."""
    d = t(spark, sf_dir, "documents")
    docs = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    dc = (
        d.select(
            "doc_id", F.explode(F.split("text", " ")).alias("w")
        )
        .distinct()
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    s = dc.agg(
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("q1"),
        F.sum(F.when(F.col("d") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("q2"),
    )
    n = F.col("n")
    return s.crossJoin(F.broadcast(docs)).select(
        F.col("v").alias("vocab_observed"),
        F.col("q1").alias("uniques"),
        F.col("q2").alias("duplicates"),
        n.alias("n_docs"),
        F.round(
            F.col("v") + F.col("q1") * (n - 1.0) / n, 6
        ).alias("jackknife1"),
        F.round(
            F.col("v")
            + F.col("q1") * (2.0 * n - 3.0) / n
            - F.col("q2") * (n - 2.0) * (n - 2.0) / (n * (n - 1.0)),
            6,
        ).alias("jackknife2"),
    )


# --------------------------------------------------------------------------
# Exact Shapley-value channel attribution over touchset coalitions
# --------------------------------------------------------------------------
@register(
    "shapley_channel_attribution",
    oracle="""
    WITH flags AS (
        SELECT user_id,
               CAST(bit_or(CASE event_type
                           WHEN 'click' THEN 1 WHEN 'error' THEN 2
                           WHEN 'signup' THEN 4 WHEN 'view' THEN 8
                           ELSE 0 END) AS BIGINT) AS mask,
               CAST(MAX(CASE WHEN event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS BIGINT) AS conv
        FROM events GROUP BY user_id
    ),
    bymask AS (
        SELECT mask, CAST(SUM(conv) AS BIGINT) AS c
        FROM flags GROUP BY mask
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM flags),
    coal AS (SELECT CAST(UNNEST(range(16)) AS BIGINT) AS s),
    v AS (
        SELECT coal.s,
               CAST(COALESCE(SUM(b.c), 0) AS BIGINT) AS cv
        FROM coal LEFT JOIN bymask b ON (b.mask & ~coal.s) = 0
        GROUP BY coal.s
    ),
    ch AS (
        SELECT * FROM (VALUES ('click', CAST(1 AS BIGINT)),
                              ('error', CAST(2 AS BIGINT)),
                              ('signup', CAST(4 AS BIGINT)),
                              ('view', CAST(8 AS BIGINT)))
                      AS t(channel, bit)
    ),
    phi AS (
        SELECT ch.channel,
               CAST(SUM((CASE bit_count(v0.s)
                         WHEN 0 THEN 6 WHEN 1 THEN 2
                         WHEN 2 THEN 2 WHEN 3 THEN 6 END)
                        * (v1.cv - v0.cv)) AS BIGINT) AS num
        FROM ch
        JOIN v v0 ON (v0.s & ch.bit) = 0
        JOIN v v1 ON v1.s = (v0.s | ch.bit)
        GROUP BY ch.channel
    )
    SELECT channel,
           round(num / (24.0 * tot.n), 9) + 0.0 AS shapley_value,
           round(num / 24.0, 6) + 0.0 AS shapley_conversions
    FROM phi, tot
    ORDER BY channel
    """,
)
def shapley_channel_attribution(spark, sf_dir):
    """EXACT Shapley-value attribution of conversion reach to the four
    non-purchase channels: the coalition value v(S) is the share of
    users who converted AND whose touchset is contained in S, and each
    channel's Shapley value phi_c = sum_S |S|!(3-|S|)!/4! *
    (v(S+c) - v(S)) fairly splits total conversion reach by marginal
    contribution over all 2^4 coalitions — the game-theoretic answer
    the registry's first/last-touch and linear attribution queries
    approximate heuristically. Every quantity is an exact integer
    (bitmask touchsets via bit_or, subset sums via a bounded
    mask-containment join, factorial weights scaled x24) until the two
    terminal divisions. Plan: one user rollup -> 16-row mask rollup ->
    16x16 bounded containment join -> 4x8 coalition walk; nothing
    touches row grain after the first aggregation."""
    e = t(spark, sf_dir, "events")
    flags = e.groupBy("user_id").agg(
        F.expr(
            "bit_or(CASE event_type WHEN 'click' THEN 1"
            " WHEN 'error' THEN 2 WHEN 'signup' THEN 4"
            " WHEN 'view' THEN 8 ELSE 0 END)"
        )
        .cast("bigint")
        .alias("mask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("conv"),
    )
    bymask = flags.groupBy("mask").agg(
        F.sum("conv").cast("bigint").alias("c")
    )
    tot = flags.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    coal = spark.range(16).select(F.col("id").cast("bigint").alias("s"))
    v = (
        coal.join(
            F.broadcast(bymask),
            F.expr("(mask & ~s) = 0"),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("cv"))
    )
    ch = spark.createDataFrame(
        [("click", 1), ("error", 2), ("signup", 4), ("view", 8)],
        "channel string, bit long",
    )
    v0 = v.select(F.col("s").alias("s0"), F.col("cv").alias("cv0"))
    v1 = v.select(F.col("s").alias("s1"), F.col("cv").alias("cv1"))
    phi = (
        ch.join(F.broadcast(v0), F.expr("(s0 & bit) = 0"))
        .join(F.broadcast(v1), F.expr("s1 = (s0 | bit)"))
        .groupBy("channel")
        .agg(
            F.sum(
                F.expr(
                    "CASE bit_count(s0) WHEN 0 THEN 6 WHEN 1 THEN 2"
                    " WHEN 2 THEN 2 WHEN 3 THEN 6 END"
                )
                * (F.col("cv1") - F.col("cv0"))
            )
            .cast("bigint")
            .alias("num")
        )
    )
    return (
        phi.crossJoin(F.broadcast(tot))
        .select(
            "channel",
            (
                F.round(F.col("num") / (24.0 * F.col("n")), 9) + 0.0
            ).alias("shapley_value"),
            (F.round(F.col("num") / 24.0, 6) + 0.0).alias(
                "shapley_conversions"
            ),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# Qini uplift curve at score deciles (deterministic pseudo-experiment)
# --------------------------------------------------------------------------
@register(
    "qini_uplift_deciles",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(user_id % 2 AS BIGINT) AS trt,
               CAST(COUNT(*) AS BIGINT) AS score,
               CAST(MAX(CASE WHEN event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY user_id
    ),
    b AS (SELECT {qcols} FROM u),
    assigned AS (
        SELECT CAST(11 - (1 + {gtsum}) AS BIGINT) AS decile, trt, y
        FROM u, b
    ),
    g AS (
        SELECT decile,
               CAST(SUM(trt) AS BIGINT) AS n_t,
               CAST(COUNT(*) - SUM(trt) AS BIGINT) AS n_c,
               CAST(SUM(trt * y) AS BIGINT) AS y_t,
               CAST(SUM((1 - trt) * y) AS BIGINT) AS y_c
        FROM assigned GROUP BY decile
    )
    SELECT decile,
           CAST(SUM(n_t) OVER w AS BIGINT) AS cum_n_t,
           CAST(SUM(n_c) OVER w AS BIGINT) AS cum_n_c,
           round(SUM(y_t) OVER w
                 - SUM(y_c) OVER w
                   * (SUM(n_t) OVER w / CAST(SUM(n_c) OVER w
                                             AS DOUBLE)), 6) + 0.0
               AS qini_value
    FROM g
    WINDOW w AS (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY decile
    """.format(
        qcols=", ".join(
            f"quantile_cont(score, {q}) AS b{i}"
            for i, q in enumerate(DECILE_LEVELS)
        ),
        gtsum=" + ".join(
            f"CASE WHEN score > b{i} THEN 1 ELSE 0 END"
            for i in range(len(DECILE_LEVELS))
        ),
    ),
)
def qini_uplift_deciles(spark, sf_dir):
    """Qini uplift curve at targeting-score deciles: treatment is the
    deterministic user_id parity split (the registry's standard
    pseudo-experiment device), outcome is conversion, score is the
    user's event volume. Cumulative qini(d) = Y_t(d) - Y_c(d) *
    N_t(d)/N_c(d) — incremental conversions captured by targeting the
    top d deciles, the uplift-modeling counterpart of the gains chart
    already in the registry (which grades pure response, not
    incrementality). Decile bounds are exact percentiles broadcast
    into the scan (boundary-broadcast pattern — no ntile, no global
    sort; heavy score ties collapse into shared deciles by the same >
    rule in both engines); counts are exact integers and the qini
    value is one terminal expression per decile row. Plan: user
    rollup -> broadcast bounds -> 10-row decile rollup -> cumulative
    window on the bounded decile frame."""
    e = t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        (F.col("user_id") % 2).cast("bigint").alias("trt"),
        F.count(F.lit(1)).cast("bigint").alias("score"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("y"),
    )
    # grouping by user_id already fixes trt; re-aggregate to drop the key
    u = u.select("trt", "score", "y")
    b = u.agg(
        *[
            F.expr(f"percentile(score, {q})").alias(f"b{i}")
            for i, q in enumerate(DECILE_LEVELS)
        ]
    )
    decile = 11 - (
        1
        + sum(
            F.when(F.col("score") > F.col(f"b{i}"), 1).otherwise(0)
            for i in range(len(DECILE_LEVELS))
        )
    )
    assigned = u.crossJoin(F.broadcast(b)).select(
        decile.cast("bigint").alias("decile"), "trt", "y"
    )
    g = assigned.groupBy("decile").agg(
        F.sum("trt").cast("bigint").alias("n_t"),
        (F.count(F.lit(1)) - F.sum("trt")).cast("bigint").alias("n_c"),
        F.sum(F.col("trt") * F.col("y")).cast("bigint").alias("y_t"),
        F.sum((1 - F.col("trt")) * F.col("y"))
        .cast("bigint")
        .alias("y_c"),
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return g.select(
        "decile",
        F.sum("n_t").over(w).cast("bigint").alias("cum_n_t"),
        F.sum("n_c").over(w).cast("bigint").alias("cum_n_c"),
        (
            F.round(
                F.sum("y_t").over(w)
                - F.sum("y_c").over(w)
                * (
                    F.sum("n_t").over(w)
                    / F.sum("n_c").over(w).cast("double")
                ),
                6,
            )
            + 0.0
        ).alias("qini_value"),
    ).orderBy("decile")


# --------------------------------------------------------------------------
# Accounts-receivable aging buckets for open orders
# --------------------------------------------------------------------------
@register(
    "ar_aging_buckets",
    oracle="""
    WITH mx AS (SELECT MAX(o_orderdate) AS asof FROM orders),
    aged AS (
        SELECT CASE
                 WHEN date_diff('day', o_orderdate, mx.asof) <= 180
                     THEN '0_current_180'
                 WHEN date_diff('day', o_orderdate, mx.asof) <= 365
                     THEN '1_aging_365'
                 WHEN date_diff('day', o_orderdate, mx.asof) <= 730
                     THEN '2_overdue_730'
                 ELSE '3_delinquent' END AS bucket,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents
        FROM orders, mx WHERE o_orderstatus = 'O'
    ),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS s FROM aged)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           round(SUM(cents) / 100.0, 2) AS open_value,
           round(SUM(cents) * 100.0 / tot.s, 4) AS pct_of_open
    FROM aged, tot
    GROUP BY bucket, tot.s ORDER BY bucket
    """,
)
def ar_aging_buckets(spark, sf_dir):
    """Accounts-receivable aging schedule: open ('O') orders bucketed
    by age against the book's as-of date (the max order date) into
    current / aging / overdue / delinquent bands, with order counts,
    open value, and share of the receivables book. THE working-
    capital report every finance stack runs nightly — and a pushdown
    showcase: the status filter prunes at the scan, the as-of date is
    one broadcast scalar, and the rest is a 4-bucket hash rollup of
    exact integer cents. Age is integer day arithmetic on date-grain
    timestamps (identical in both engines); shares divide the exact
    cent totals once."""
    allo = t(spark, sf_dir, "orders")
    o = allo.where(F.col("o_orderstatus") == "O")
    # as-of is the BOOK's high-water date (all orders), not the open
    # subset's — the oracle pins the same choice
    mx = allo.agg(F.max("o_orderdate").alias("asof"))
    age_days = F.datediff(F.col("asof"), F.col("o_orderdate"))
    aged = o.crossJoin(F.broadcast(mx)).select(
        F.when(age_days <= 180, "0_current_180")
        .when(age_days <= 365, "1_aging_365")
        .when(age_days <= 730, "2_overdue_730")
        .otherwise("3_delinquent")
        .alias("bucket"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("cents"),
    )
    tot = aged.agg(F.sum("cents").cast("bigint").alias("s"))
    return (
        aged.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_orders",
            F.round(F.col("cents") / 100.0, 2).alias("open_value"),
            F.round(F.col("cents") * 100.0 / F.col("s"), 4).alias(
                "pct_of_open"
            ),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Empirical-Bayes beta-binomial shrinkage of per-customer return rates
# --------------------------------------------------------------------------
@register(
    "eb_beta_binomial_shrinkage",
    oracle="""
    WITH cust AS (
        SELECT o.o_custkey AS custkey,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN l.l_returnflag = 'R'
                        THEN 1 ELSE 0 END) AS BIGINT) AS k
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_custkey
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(k) AS BIGINT) AS sk,
               CAST(SUM(n) AS BIGINT) AS sn,
               CAST(round(SUM(CAST(round(k * 1.0 / n, 12)
                   AS DECIMAL(28,12))), 12) AS DOUBLE) AS sr,
               CAST(round(SUM(CAST(round(k * 1.0 / n * (k * 1.0 / n),
                                         12)
                   AS DECIMAL(28,12))), 12) AS DOUBLE) AS sr2
        FROM cust
    ),
    prior AS (
        SELECT c, sk, sn,
               sr / c AS mu,
               CASE WHEN (sr2 - sr * sr / c) / (c - 1.0)
                         >= (sr / c) * (1.0 - sr / c) OR c < 2
                    THEN 1.0
                    ELSE GREATEST(
                        (sr / c) * (1.0 - sr / c)
                        / ((sr2 - sr * sr / c) / (c - 1.0)) - 1.0,
                        1.0) END AS m
        FROM mom
    )
    SELECT custkey, n AS n_lineitems, k AS n_returned,
           round(k * 1.0 / n, 6) AS raw_rate,
           round((k + p.mu * p.m) / (n + p.m), 6) AS shrunk_rate
    FROM cust, prior p
    ORDER BY shrunk_rate DESC, custkey ASC LIMIT 20
    """,
)
def eb_beta_binomial_shrinkage(spark, sf_dir):
    """Empirical-Bayes beta-binomial shrinkage of per-customer RETURN
    rates: a method-of-moments beta prior (mu from the mean observed
    rate, concentration m from the variance ratio, floored at 1 and
    falling back to 1 when the rate variance exceeds the binomial
    bound) shrinks each customer's k/n toward the population mean by
    exactly their evidence weight — the top-20 list then ranks
    customers the way a risk queue SHOULD: a 3/3 returner no longer
    outranks a 40/60 one. The parametric counterpart of the
    registry's target_encoding_loo / james-stein tier. Per-customer
    rates round at 1e-12 and fold in DECIMAL; the prior is one scalar
    expression; the final top-k carries the (shrunk_rate, custkey)
    total order. Plan: one fact join + customer rollup, one scalar
    fold, broadcast prior, TakeOrdered 20."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag"
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = (
        li.join(
            o.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey"
        )
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("k"),
        )
        .persist()
    )
    r = F.col("k") * 1.0 / F.col("n")
    mom = cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("k").cast("bigint").alias("sk"),
        F.sum("n").cast("bigint").alias("sn"),
        F.round(
            F.sum(F.round(r, 12).cast("decimal(28,12)")), 12
        )
        .cast("double")
        .alias("sr"),
        F.round(
            F.sum(F.round(r * r, 12).cast("decimal(28,12)")), 12
        )
        .cast("double")
        .alias("sr2"),
    )
    mu = F.col("sr") / F.col("c")
    var = (F.col("sr2") - F.col("sr") * F.col("sr") / F.col("c")) / (
        F.col("c") - 1.0
    )
    m = F.when(
        (var >= mu * (1.0 - mu)) | (F.col("c") < 2), F.lit(1.0)
    ).otherwise(F.greatest(mu * (1.0 - mu) / var - 1.0, F.lit(1.0)))
    prior = mom.select(
        mu.alias("mu"), m.alias("m")
    )
    return (
        cust.crossJoin(F.broadcast(prior))
        .select(
            "custkey",
            F.col("n").alias("n_lineitems"),
            F.col("k").alias("n_returned"),
            F.round(r, 6).alias("raw_rate"),
            F.round(
                (F.col("k") + F.col("mu") * F.col("m"))
                / (F.col("n") + F.col("m")),
                6,
            ).alias("shrunk_rate"),
        )
        .orderBy(F.col("shrunk_rate").desc(), F.col("custkey").asc())
        .limit(20)
    )


# --------------------------------------------------------------------------
# James-Stein shrinkage of per-nation mean order values
# --------------------------------------------------------------------------
@register(
    "james_stein_nation_means",
    oracle="""
    WITH ord AS (
        SELECT c.c_nationkey AS nk,
               CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS (
        SELECT nk, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s1,
               CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents)
                    AS DECIMAL(38,0)) AS s2
        FROM ord GROUP BY nk
    ),
    top AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n) AS BIGINT) AS nn,
               CAST(SUM(s1) AS BIGINT) AS ss,
               CAST(round(SUM(CAST(round(
                   (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                       / 10000.0, 6) AS DECIMAL(38,6))), 6) AS DOUBLE)
                   AS ssw,
               CAST(round(SUM(CAST(round(
                   (s1 / (100.0 * n)) * (s1 / (100.0 * n)) * n, 6)
                   AS DECIMAL(38,6))), 6) AS DOUBLE) AS wsum2
        FROM g
    ),
    fac AS (
        SELECT k, nn, ss,
               GREATEST(0.0, 1.0 - (k - 3.0)
                   * (ssw / (nn - k))
                   / (wsum2 - (ss / (100.0 * nn)) * (ss / (100.0 * nn))
                      * nn)) AS b
        FROM top
    )
    SELECT g.nk AS nationkey, g.n AS n_orders,
           round(g.s1 / (100.0 * g.n), 6) AS raw_mean,
           round(f.ss / (100.0 * f.nn)
                 + f.b * (g.s1 / (100.0 * g.n)
                          - f.ss / (100.0 * f.nn)), 6) AS js_mean
    FROM g, fac f
    ORDER BY nationkey
    """,
)
def james_stein_nation_means(spark, sf_dir):
    """James-Stein shrinkage of the 25 per-nation mean order values
    toward the grand mean: b = max(0, 1 - (k-3) * s2_pooled /
    sum_g n_g (xbar_g - xbar)^2) with the pooled within-nation
    variance as the noise estimate — the estimator that DOMINATES the
    25 raw group means in total squared error (Stein's paradox), and
    the frequentist sibling of the EB beta-binomial query (rates
    there, means here). All power sums are exact integers (cents^2
    rides DECIMAL(38,0)); per-nation terms round at 1e-6 and fold in
    DECIMAL over the 25-row domain; the shrink factor is one scalar
    expression applied per nation. Plan: broadcast dim join, 25-row
    rollup, one fold, broadcast factor back."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").alias("nk"),
    )
    ordd = o.join(F.broadcast(c), "o_custkey").select(
        "nk",
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("cents"),
    )
    g = ordd.groupBy("nk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s1"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents"))
        .cast("decimal(38,0)")
        .alias("s2"),
    ).persist()
    within = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n")
    ) / 10000.0
    gmean = F.col("s1") / (100.0 * F.col("n"))
    top = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("s1").cast("bigint").alias("ss"),
        F.round(
            F.sum(F.round(within, 6).cast("decimal(38,6)")), 6
        )
        .cast("double")
        .alias("ssw"),
        F.round(
            F.sum(
                F.round(gmean * gmean * F.col("n"), 6).cast(
                    "decimal(38,6)"
                )
            ),
            6,
        )
        .cast("double")
        .alias("wsum2"),
    )
    grand = F.col("ss") / (100.0 * F.col("nn"))
    b = F.greatest(
        F.lit(0.0),
        1.0
        - (F.col("k") - 3.0)
        * (F.col("ssw") / (F.col("nn") - F.col("k")))
        / (F.col("wsum2") - grand * grand * F.col("nn")),
    )
    fac = top.select(
        F.col("k"), F.col("nn"), F.col("ss"), b.alias("b")
    )
    return (
        g.crossJoin(F.broadcast(fac))
        .select(
            F.col("nk").alias("nationkey"),
            F.col("n").alias("n_orders"),
            F.round(gmean, 6).alias("raw_mean"),
            F.round(
                F.col("ss") / (100.0 * F.col("nn"))
                + F.col("b")
                * (gmean - F.col("ss") / (100.0 * F.col("nn"))),
                6,
            ).alias("js_mean"),
        )
        .orderBy("nationkey")
    )


# --------------------------------------------------------------------------
# Wald-Wolfowitz two-sample runs test (click vs purchase values)
# --------------------------------------------------------------------------
@register(
    "wald_wolfowitz_runs",
    oracle="""
    WITH pool AS (
        SELECT value, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    by_val AS (
        SELECT value, CAST(SUM(1 - g1) AS BIGINT) AS c0,
               CAST(SUM(g1) AS BIGINT) AS c1
        FROM pool GROUP BY value
    ),
    seq AS (
        SELECT c0, c1,
               CASE WHEN c1 > 0 THEN 1 ELSE 0 END AS last_lbl,
               LAG(CASE WHEN c1 > 0 THEN 1 ELSE 0 END)
                   OVER (ORDER BY value) AS prev_last,
               CASE WHEN c0 > 0 THEN 0 ELSE 1 END AS first_lbl
        FROM by_val
    ),
    s AS (
        SELECT CAST(SUM(c0) AS BIGINT) AS n0,
               CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(1 + SUM(CASE WHEN c0 > 0 AND c1 > 0
                            THEN 1 ELSE 0 END)
                      + SUM(CASE WHEN prev_last IS NOT NULL
                                 AND prev_last <> first_lbl
                            THEN 1 ELSE 0 END) AS BIGINT) AS r
        FROM seq
    )
    SELECT n0 + n1 AS n_pool, r AS n_runs,
           round(1.0 + 2.0 * n0 * n1 / (n0 + n1), 6) AS expected_runs,
           round((r - (1.0 + 2.0 * n0 * n1 / (n0 + n1)))
                 / sqrt(2.0 * n0 * n1 * (2.0 * n0 * n1 - n0 - n1)
                        / ((n0 + n1) * 1.0 * (n0 + n1)
                           * (n0 + n1 - 1))), 6) + 0.0 AS z_stat
    FROM s
    """,
)
def wald_wolfowitz_runs(spark, sf_dir):
    """Wald-Wolfowitz two-sample runs test: pool click and purchase
    values, sort, and count RUNS of same-sample labels — too few runs
    means the two samples separate anywhere in the distribution (an
    omnibus alternative sensitive to location AND scale AND shape,
    the blunt-but-universal sibling of the registry's KS/CvM tier).
    The run count collapses to distinct-value grain: within a tied
    value all purchase rows precede all click rows (the documented
    (value, g1) total order), so runs = 1 + within-value transitions
    + boundary mismatches between consecutive distinct values — a lag
    over the bounded 2-decimal value grid, never a row-grain window.
    Counts are exact integers; the z-statistic applies the exact
    no-ties null moments E[R] = 1 + 2 n0 n1 / N, Var[R] =
    2 n0 n1 (2 n0 n1 - N) / (N^2 (N-1)). Plan: one value-grain
    rollup, one lag over the value domain, one fold."""
    e = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    by_val = (
        e.select(
            "value",
            (F.col("event_type") == "click").cast("long").alias("g1"),
        )
        .groupBy("value")
        .agg(
            F.sum(1 - F.col("g1")).cast("bigint").alias("c0"),
            F.sum("g1").cast("bigint").alias("c1"),
        )
    )
    last_lbl = F.when(F.col("c1") > 0, 1).otherwise(0)
    first_lbl = F.when(F.col("c0") > 0, 0).otherwise(1)
    seq = by_val.select(
        "c0",
        "c1",
        last_lbl.alias("last_lbl"),
        F.lag(last_lbl).over(Window.orderBy("value")).alias("prev_last"),
        first_lbl.alias("first_lbl"),
    )
    s = seq.agg(
        F.sum("c0").cast("bigint").alias("n0"),
        F.sum("c1").cast("bigint").alias("n1"),
        (
            1
            + F.sum(
                F.when((F.col("c0") > 0) & (F.col("c1") > 0), 1).otherwise(
                    0
                )
            )
            + F.sum(
                F.when(
                    F.col("prev_last").isNotNull()
                    & (F.col("prev_last") != F.col("first_lbl")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("r"),
    )
    n0 = F.col("n0")
    n1 = F.col("n1")
    nn = n0 + n1
    er = 1.0 + 2.0 * n0 * n1 / nn
    vr = (
        2.0
        * n0
        * n1
        * (2.0 * n0 * n1 - n0 - n1)
        / (nn * 1.0 * nn * (nn - 1))
    )
    return s.select(
        nn.alias("n_pool"),
        F.col("r").alias("n_runs"),
        F.round(er, 6).alias("expected_runs"),
        (F.round((F.col("r") - er) / F.sqrt(vr), 6) + 0.0).alias(
            "z_stat"
        ),
    )


# --------------------------------------------------------------------------
# Siegel-Tukey scale test (alternating extreme scores)
# --------------------------------------------------------------------------
@register(
    "siegel_tukey_scale",
    oracle="""
    WITH pool AS (
        SELECT value, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    pos AS (
        SELECT g1,
               CAST(ROW_NUMBER() OVER (ORDER BY value, g1) AS BIGINT)
                   AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM pool
    ),
    scored AS (
        SELECT g1,
               CASE WHEN 2 * i <= n + 1 THEN
                     CASE WHEN i % 2 = 1 THEN 2 * i - 1 ELSE 2 * i END
                    ELSE
                     CASE WHEN (n - i + 1) % 2 = 1 THEN 2 * (n - i + 1)
                          ELSE 2 * (n - i + 1) - 1 END
               END AS a
        FROM pos
    ),
    s AS (
        SELECT CAST(SUM(g1) AS BIGINT) AS n1,
               CAST(SUM(1 - g1) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN g1 = 1 THEN a ELSE 0 END) AS BIGINT)
                   AS t1
        FROM scored
    )
    SELECT n1, n0, t1 AS score_sum,
           round((t1 - n1 * (n0 + n1 + 1) / 2.0)
                 / sqrt(n1 * 1.0 * n0 * (n0 + n1 + 1) / 12.0), 6)
               + 0.0 AS z_stat
    FROM s
    """,
)
def siegel_tukey_scale(spark, sf_dir):
    """Siegel-Tukey test for scale: score the POOLED ORDER positions
    with alternating extreme weights (lowest gets 1; the two highest
    2, 3; the next two lowest 4, 5; ...) and run Wilcoxon on the
    scores — if one sample is more dispersed it monopolizes the
    extremes and its score sum drops. Completes the registry's scale
    tier (Ansari-Bradley = linear scores, Mood = quadratic, Conover =
    squared ranks of deviations): Siegel-Tukey is the one whose null
    is EXACTLY the Wilcoxon null, so its moments are exact. Position
    is a global row number over the documented (value, g1) total
    order, the running count of ``exact_cumulative`` (in-bucket counts
    plus broadcast bucket offsets — tie blocks are contiguous by
    construction, so each group's score multiset is deterministic);
    the alternating score is a closed-form integer of (i, N). z uses
    the exact Wilcoxon moments. Plan: bucketed row-number, map-side
    score, one fold."""
    e = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    acc, _ = exact_cumulative(
        e.select(
            "value",
            (F.col("event_type") == "click").cast("long").alias("g1"),
        ),
        ("value", "g1"),
        {"i": F.count(F.lit(1))},
    )
    pos = acc.select(
        "g1",
        F.col("cum_i").alias("i"),
        F.col("tot_i").cast("bigint").alias("n"),
    )
    i = F.col("i")
    n = F.col("n")
    j = n - i + 1
    a = F.when(
        2 * i <= n + 1,
        F.when(i % 2 == 1, 2 * i - 1).otherwise(2 * i),
    ).otherwise(F.when(j % 2 == 1, 2 * j).otherwise(2 * j - 1))
    scored = pos.select("g1", a.alias("a"))
    s = scored.agg(
        F.sum("g1").cast("bigint").alias("n1"),
        F.sum(1 - F.col("g1")).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("g1") == 1, F.col("a")).otherwise(0))
        .cast("bigint")
        .alias("t1"),
    )
    n1 = F.col("n1")
    n0 = F.col("n0")
    return s.select(
        "n1",
        "n0",
        F.col("t1").alias("score_sum"),
        (
            F.round(
                (F.col("t1") - n1 * (n0 + n1 + 1) / 2.0)
                / F.sqrt(n1 * 1.0 * n0 * (n0 + n1 + 1) / 12.0),
                6,
            )
            + 0.0
        ).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Conover squared-ranks test for scale (click vs purchase)
# --------------------------------------------------------------------------
@register(
    "conover_squared_ranks",
    oracle="""
    WITH pool AS (
        SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    gm AS (
        SELECT g1 AS g, CAST(SUM(x) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM pool GROUP BY g1
    ),
    dev AS (
        SELECT p.g1,
               round(abs(p.x - gm.s * 1.0 / gm.c) / 100.0, 9) AS d
        FROM pool p JOIN gm ON p.g1 = gm.g
    ),
    ranked AS (
        SELECT g1,
               CAST(RANK() OVER (ORDER BY d) AS BIGINT) * 2
               + CAST(COUNT(*) OVER (PARTITION BY d) AS BIGINT) - 1
                   AS rank2
        FROM dev
    ),
    s AS (
        SELECT CAST(SUM(g1) AS BIGINT) AS n1,
               CAST(SUM(1 - g1) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN g1 = 1
                        THEN CAST(rank2 AS DECIMAL(38,0)) * rank2
                        ELSE 0 END) AS DECIMAL(38,0)) AS t4
        FROM ranked
    )
    SELECT n1, n0,
           round(CAST(t4 AS DOUBLE) / 4.0, 3) AS squared_rank_sum,
           round((CAST(t4 AS DOUBLE) / 4.0
                  - n1 * (n0 + n1 + 1.0) * (2 * (n0 + n1) + 1) / 6.0)
                 / sqrt(n1 * 1.0 * n0 * (n0 + n1 + 1)
                        * (2 * (n0 + n1) + 1)
                        * (8 * (n0 + n1) + 11) / 180.0), 6) + 0.0
               AS z_stat
    FROM s
    """,
)
def conover_squared_ranks(spark, sf_dir):
    """Conover's squared-ranks test for scale: rank the pooled
    ABSOLUTE DEVIATIONS from each sample's own mean, square the
    (mid)ranks, and compare sample 1's sum to its Wilcoxon-style null
    moments E[T] = n1(N+1)(2N+1)/6, Var[T] =
    n1 n0 (N+1)(2N+1)(8N+11)/180 (no-ties convention, documented as
    in the Mood twin). Unlike Siegel-Tukey/Ansari-Bradley it does not
    require equal medians — deviations are centered per group first —
    which is why Conover is the scale test practitioners default to.
    Deviations are |integer cents - rational group mean| rounded at
    1e-9 (identical IEEE inputs in both engines), midranks come from
    ``exact_cumulative``'s in-bucket ranks as exact 2x-scaled
    integers, and
    the squared-rank fold rides DECIMAL(38,0) (rank2^2 sums pass
    int64 at sf100). Plan: one 2-row group-mean broadcast, bucketed
    midranks, one fold."""
    e = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    pool = e.select(
        (dec("value", 18, 2) * 100).cast("bigint").alias("x"),
        (F.col("event_type") == "click").cast("long").alias("g1"),
    )
    gm = pool.groupBy(F.col("g1").alias("g")).agg(
        F.sum("x").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    )
    dev = pool.join(F.broadcast(gm), pool.g1 == gm.g).select(
        "g1",
        F.round(
            F.abs(F.col("x") - F.col("s") * 1.0 / F.col("c")) / 100.0,
            9,
        ).alias("d"),
    )
    acc, w = exact_cumulative(dev, ("d",), {"n": F.count(F.lit(1))})
    rank2 = (
        (F.rank().over(w).cast("bigint") + F.col("off_n")) * 2
        + F.count(F.lit(1))
        .over(Window.partitionBy("pid", "d"))
        .cast("bigint")
        - 1
    )
    ranked = acc.select("g1", rank2.alias("rank2"))
    s = ranked.agg(
        F.sum("g1").cast("bigint").alias("n1"),
        F.sum(1 - F.col("g1")).cast("bigint").alias("n0"),
        F.sum(
            F.when(
                F.col("g1") == 1,
                F.col("rank2").cast("decimal(38,0)") * F.col("rank2"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        )
        .cast("decimal(38,0)")
        .alias("t4"),
    )
    n1 = F.col("n1")
    n0 = F.col("n0")
    nn = n0 + n1
    et = n1 * (nn + 1.0) * (2 * nn + 1) / 6.0
    vt = (
        n1
        * 1.0
        * n0
        * (nn + 1)
        * (2 * nn + 1)
        * (8 * nn + 11)
        / 180.0
    )
    return s.select(
        "n1",
        "n0",
        F.round(F.col("t4").cast("double") / 4.0, 3).alias(
            "squared_rank_sum"
        ),
        (
            F.round(
                (F.col("t4").cast("double") / 4.0 - et) / F.sqrt(vt), 6
            )
            + 0.0
        ).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Expected Reciprocal Rank (cascade model) over per-brand price rankings
# --------------------------------------------------------------------------
# The cascade product PI(1 - R_j) stays EXACT as integers: grades map to
# stop probabilities R in {0, 1/8, 3/8, 7/8}, so 8*(1-R) in {8, 7, 5, 1}
# and the product is 8^a * 7^b * 5^c looked up from bounded-count CASE
# tables (a, b, c <= 9) — no float pow, no cross-engine libm dependence.
_ERR_POW = {
    "p8": [8**i for i in range(10)],
    "p7": [7**i for i in range(10)],
    "p5": [5**i for i in range(10)],
}


def _case_sql(col: str, vals: list[int]) -> str:
    whens = " ".join(
        f"WHEN {i} THEN {v}" for i, v in enumerate(vals)
    )
    return f"CASE {col} {whens} END"


@register(
    "err_cascade_ranking",
    oracle=f"""
    WITH ranked AS (
        SELECT p_brand,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY p_brand
                   ORDER BY p_retailprice DESC, p_partkey ASC)
                   AS BIGINT) AS i,
               LEAST(p_size // 13, 3) AS g
        FROM part
    ),
    top10 AS (SELECT * FROM ranked WHERE i <= 10),
    cum AS (
        SELECT p_brand, i, g,
               CAST(COALESCE(SUM(CASE WHEN g = 0 THEN 1 END) OVER w, 0)
                    AS BIGINT) AS a,
               CAST(COALESCE(SUM(CASE WHEN g = 1 THEN 1 END) OVER w, 0)
                    AS BIGINT) AS b,
               CAST(COALESCE(SUM(CASE WHEN g = 2 THEN 1 END) OVER w, 0)
                    AS BIGINT) AS c
        FROM top10
        WINDOW w AS (PARTITION BY p_brand ORDER BY i
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    terms AS (
        SELECT p_brand,
               (CASE g WHEN 0 THEN 0 WHEN 1 THEN 1
                       WHEN 2 THEN 3 ELSE 7 END
                * {_case_sql('a', _ERR_POW['p8'])}
                * {_case_sql('b', _ERR_POW['p7'])}
                * {_case_sql('c', _ERR_POW['p5'])}) * 1.0
               / (i * {_case_sql('i - 1', [8 * v for v in _ERR_POW['p8']])})
                   AS term
        FROM cum
    )
    SELECT p_brand AS brand,
           CAST(COUNT(*) AS BIGINT) AS n_ranked,
           round(CAST(round(SUM(CAST(round(term, 12)
                 AS DECIMAL(20,12))), 12) AS DOUBLE), 9) + 0.0 AS err
    FROM terms GROUP BY p_brand ORDER BY brand
    """,
)
def err_cascade_ranking(spark, sf_dir):
    """Expected Reciprocal Rank under the cascade click model for each
    brand's top-10 price ranking: a simulated searcher scans down the
    list, stops at position i with probability R_i = (2^g - 1)/2^3
    (graded relevance g = size tier 0-3), and ERR = sum 1/i * R_i *
    prod_j<i (1 - R_j). The diminishing-returns ranking metric the
    registry's NDCG/MRR/AP tier lacks: a relevant result below a
    near-perfect one is worth almost nothing (cascade), which NDCG's
    positional discount cannot express. The cascade product stays an
    exact integer via the {{8,7,5,1}} factor encoding and bounded-count
    CASE power tables (module comment) — no float pow anywhere; each
    term is one exact-integer ratio rounded at 1e-12 and folded in
    DECIMAL over <= 10 rows per brand. Plan: per-brand top-10 via
    partitioned rank (the top_orders_per_status shape), two bounded
    windows on the 250-row frame, one rollup."""
    p = t(spark, sf_dir, "part")
    ranked = p.select(
        "p_brand",
        F.row_number()
        .over(
            Window.partitionBy("p_brand").orderBy(
                F.col("p_retailprice").desc(), F.col("p_partkey").asc()
            )
        )
        .cast("bigint")
        .alias("i"),
        F.expr("least(p_size div 13, 3)").alias("g"),
    ).where(F.col("i") <= 10)
    w = (
        Window.partitionBy("p_brand")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = ranked.select(
        "p_brand",
        "i",
        "g",
        F.coalesce(
            F.sum(F.when(F.col("g") == 0, 1)).over(w), F.lit(0)
        )
        .cast("bigint")
        .alias("a"),
        F.coalesce(
            F.sum(F.when(F.col("g") == 1, 1)).over(w), F.lit(0)
        )
        .cast("bigint")
        .alias("b"),
        F.coalesce(
            F.sum(F.when(F.col("g") == 2, 1)).over(w), F.lit(0)
        )
        .cast("bigint")
        .alias("c"),
    )
    r8 = (
        F.when(F.col("g") == 0, 0)
        .when(F.col("g") == 1, 1)
        .when(F.col("g") == 2, 3)
        .otherwise(7)
    )
    term = (
        (
            r8
            * F.expr(_case_sql("a", _ERR_POW["p8"]))
            * F.expr(_case_sql("b", _ERR_POW["p7"]))
            * F.expr(_case_sql("c", _ERR_POW["p5"]))
        )
        * 1.0
        / (
            F.col("i")
            * F.expr(_case_sql("i - 1", [8 * v for v in _ERR_POW["p8"]]))
        )
    )
    terms = cum.select("p_brand", term.alias("term"))
    return (
        terms.groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ranked"),
            (
                F.round(
                    F.round(
                        F.sum(
                            F.round(F.col("term"), 12).cast(
                                "decimal(20,12)"
                            )
                        ),
                        12,
                    ).cast("double"),
                    9,
                )
                + 0.0
            ).alias("err"),
        )
        .orderBy("brand")
    )


# --------------------------------------------------------------------------
# Restricted mean survival time (RMST) from the session KM curve
# --------------------------------------------------------------------------
@register(
    "rmst_sessions",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                        > INTERVAL 30 MINUTE
                 OR LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    grouped AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    ),
    bounds AS (SELECT MAX(ts) AS mx FROM events),
    sessions AS (
        SELECT date_diff('minute', MIN(ts), MAX(ts)) AS dur,
               MAX(ts) <= (SELECT mx FROM bounds) - INTERVAL 30 MINUTE
                   AS completed
        FROM grouped GROUP BY user_id, session_id
    ),
    by_dur AS (
        SELECT dur,
               SUM(CASE WHEN completed THEN 1 ELSE 0 END) AS d_events,
               COUNT(*) AS n_ending
        FROM sessions GROUP BY dur
    ),
    risk AS (
        SELECT dur, d_events,
               SUM(n_ending) OVER (
                   ORDER BY dur DESC ROWS UNBOUNDED PRECEDING
               ) AS n_at_risk
        FROM by_dur
    ),
    km AS (
        SELECT dur, d_events, n_at_risk,
               SUM(CASE WHEN d_events < n_at_risk
                        THEN ln(1.0 - d_events / CAST(n_at_risk AS DOUBLE))
                        ELSE 0.0 END) OVER (
                   ORDER BY dur ROWS UNBOUNDED PRECEDING
               ) AS log_s
        FROM risk WHERE d_events > 0
    ),
    steps AS (
        SELECT CAST(dur AS BIGINT) AS t_i,
               CASE WHEN d_events = n_at_risk THEN 0.0
                    ELSE round(exp(log_s), 9) END AS s_i,
               LAG(CASE WHEN d_events = n_at_risk THEN 0.0
                        ELSE round(exp(log_s), 9) END, 1, 1.0)
                   OVER (ORDER BY dur) AS s_prev,
               COALESCE(CAST(LAG(dur) OVER (ORDER BY dur) AS BIGINT), 0)
                   AS t_prev
        FROM km
    ),
    parts AS (
        SELECT CAST(round(SUM(CAST(round(
                   s_prev * (LEAST(t_i, 120) - LEAST(t_prev, 120)), 9)
                   AS DECIMAL(28,9))), 9) AS DOUBLE) AS auc_steps
        FROM steps
    ),
    tail AS (
        SELECT round(s_i * (120 - t_i), 9) AS tl
        FROM steps WHERE t_i < 120
        ORDER BY t_i DESC LIMIT 1
    )
    SELECT CAST(120 AS INTEGER) AS tau_minutes,
           round(auc_steps
                 + COALESCE((SELECT tl FROM tail), 0.0), 6)
               AS rmst_minutes
    FROM parts
    """,
)
def rmst_sessions(spark, sf_dir):
    """Restricted mean survival time of sessions at tau = 120 minutes:
    the area under the Kaplan-Meier curve up to tau — "expected
    session minutes within the first two hours", the censoring-aware
    scalar summary regulators and A/B dashboards prefer over median
    survival (defined even when the curve never crosses 0.5). Builds
    on kaplan_meier_sessions' exact construction (same sessionization,
    censoring, and product-limit ln-cumsum discipline) and integrates
    the step function: sum S(t_prev) * (t_i - t_prev) clipped at tau,
    plus the tail rectangle after the last pre-tau death. Step
    survival values are the same 1e-9-rounded KM numbers; rectangle
    areas round at 1e-9 and fold in DECIMAL over the bounded duration
    domain. Plan: the KM plan + two lags and a fold on the duration
    frame."""
    e = t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(wu)
    flagged = e.select(
        "user_id",
        "ts",
        (
            prev.isNull()
            | (
                F.unix_micros(F.col("ts")) - F.unix_micros(prev)
                > 30 * 60 * 1_000_000
            )
        )
        .cast("int")
        .alias("new_session"),
    )
    grouped = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            Window.partitionBy("user_id")
            .orderBy("ts")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    bounds = e.agg(F.max("ts").alias("mx"))
    sessions = (
        grouped.groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s_ts"), F.max("ts").alias("e_ts"))
        .crossJoin(F.broadcast(bounds))
        .select(
            (
                (
                    F.unix_micros(F.date_trunc("minute", "e_ts"))
                    - F.unix_micros(F.date_trunc("minute", "s_ts"))
                )
                / 60_000_000
            )
            .cast("long")
            .alias("dur"),
            (
                F.col("e_ts")
                <= F.col("mx") - F.expr("INTERVAL 30 MINUTES")
            ).alias("completed"),
        )
    )
    by_dur = sessions.groupBy("dur").agg(
        F.sum(F.when(F.col("completed"), 1).otherwise(0)).alias(
            "d_events"
        ),
        F.count(F.lit(1)).alias("n_ending"),
    )
    risk = by_dur.select(
        "dur",
        "d_events",
        F.sum("n_ending")
        .over(
            Window.orderBy(F.col("dur").desc()).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("n_at_risk"),
    ).where(F.col("d_events") > 0)
    log_s = F.sum(
        F.when(
            F.col("d_events") < F.col("n_at_risk"),
            F.log(
                1.0
                - F.col("d_events") / F.col("n_at_risk").cast("double")
            ),
        ).otherwise(F.lit(0.0))
    ).over(
        Window.orderBy("dur").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    s_i = F.when(
        F.col("d_events") == F.col("n_at_risk"), F.lit(0.0)
    ).otherwise(F.round(F.exp(log_s), 9))
    km = risk.select(
        F.col("dur").cast("bigint").alias("t_i"), s_i.alias("s_i")
    )
    wo = Window.orderBy("t_i")
    steps = km.select(
        "t_i",
        "s_i",
        F.lag("s_i", 1, 1.0).over(wo).alias("s_prev"),
        F.coalesce(
            F.lag("t_i").over(wo), F.lit(0).cast("bigint")
        ).alias("t_prev"),
    )
    auc = steps.agg(
        F.round(
            F.sum(
                F.round(
                    F.col("s_prev")
                    * (
                        F.least(F.col("t_i"), F.lit(120))
                        - F.least(F.col("t_prev"), F.lit(120))
                    ),
                    9,
                ).cast("decimal(28,9)")
            ),
            9,
        )
        .cast("double")
        .alias("auc_steps")
    )
    tail = (
        steps.where(F.col("t_i") < 120)
        .orderBy(F.col("t_i").desc())
        .limit(1)
        .select(
            F.round(F.col("s_i") * (120 - F.col("t_i")), 9).alias("tail")
        )
    )
    return (
        auc.join(tail, F.lit(True), "left")
        .select(
            F.lit(120).cast("int").alias("tau_minutes"),
            F.round(
                F.col("auc_steps") + F.coalesce(F.col("tail"), F.lit(0.0)),
                6,
            ).alias("rmst_minutes"),
        )
    )


# --------------------------------------------------------------------------
# Newey-West (HAC) standard error for the daily revenue trend slope
# --------------------------------------------------------------------------
@register(
    "newey_west_trend_se",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS day,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    xd AS (
        SELECT day - (SELECT MIN(day) FROM daily) AS x, y / 100.0 AS y
        FROM daily
    ),
    f AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               SUM(CAST(round(y, 2) AS DECIMAL(28,2))) AS sy,
               SUM(x * CAST(round(y, 2) AS DECIMAL(28,2))) AS sxy
        FROM xd
    ),
    beta AS (
        SELECT n, sx, sxx,
               (n * CAST(sxy AS DOUBLE) - sx * CAST(sy AS DOUBLE))
               / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                   AS b,
               (CAST(sy AS DOUBLE) - sx
                * ((n * CAST(sxy AS DOUBLE) - sx * CAST(sy AS DOUBLE))
                   / (n * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * sx))) / n AS a,
               CAST(sx AS DOUBLE) / n AS xbar
        FROM f
    ),
    v AS (
        SELECT x,
               round((x - b.xbar) * (y - b.a - b.b * x), 6) AS vt
        FROM xd, beta b
    ),
    lagged AS (
        SELECT x, vt,
               LAG(vt, 1) OVER (ORDER BY x) AS v1,
               LAG(vt, 2) OVER (ORDER BY x) AS v2,
               LAG(vt, 3) OVER (ORDER BY x) AS v3,
               LAG(vt, 4) OVER (ORDER BY x) AS v4,
               LAG(vt, 5) OVER (ORDER BY x) AS v5
        FROM v
    ),
    meat AS (
        SELECT
          CAST(round(SUM(CAST(round(vt * vt, 6) AS DECIMAL(38,6))), 6)
               AS DOUBLE) AS g0,
          CAST(round(SUM(CAST(round(vt * v1, 6) AS DECIMAL(38,6))), 6)
               AS DOUBLE) AS g1,
          CAST(round(SUM(CAST(round(vt * v2, 6) AS DECIMAL(38,6))), 6)
               AS DOUBLE) AS g2,
          CAST(round(SUM(CAST(round(vt * v3, 6) AS DECIMAL(38,6))), 6)
               AS DOUBLE) AS g3,
          CAST(round(SUM(CAST(round(vt * v4, 6) AS DECIMAL(38,6))), 6)
               AS DOUBLE) AS g4,
          CAST(round(SUM(CAST(round(vt * v5, 6) AS DECIMAL(38,6))), 6)
               AS DOUBLE) AS g5
        FROM lagged
    )
    SELECT b.n AS n_days,
           round(b.b, 6) + 0.0 AS slope_per_day,
           round(sqrt(m.g0
                      / (CAST(b.sxx AS DOUBLE) - b.n * b.xbar * b.xbar))
                 / sqrt(CAST(b.sxx AS DOUBLE) - b.n * b.xbar * b.xbar)
                 * sqrt(b.n / (b.n - 2.0)), 6) AS se_ols,
           round(sqrt((m.g0
                       + 2.0 * ((1.0 - 1.0 / 6.0) * m.g1
                                + (1.0 - 2.0 / 6.0) * m.g2
                                + (1.0 - 3.0 / 6.0) * m.g3
                                + (1.0 - 4.0 / 6.0) * m.g4
                                + (1.0 - 5.0 / 6.0) * m.g5))
                      / ((CAST(b.sxx AS DOUBLE) - b.n * b.xbar * b.xbar)
                         * (CAST(b.sxx AS DOUBLE)
                            - b.n * b.xbar * b.xbar))), 6) AS se_nw
    FROM beta b, meat m
    """,
)
def newey_west_trend_se(spark, sf_dir):
    """Newey-West HAC standard error (Bartlett kernel, L = 5 lags) for
    the daily-revenue trend slope, next to the homoskedastic OLS SE:
    when daily revenues autocorrelate — and the registry's
    durbin_watson / acf queries show they do — the OLS SE understates
    uncertainty, and the NW sandwich sum_l w_l sum_t v_t v_{t-l} with
    v_t = (x_t - xbar) e_t is the standard repair. The se_nw / se_ols
    gap IS the autocorrelation tax on the trend estimate. Slope comes
    from exact integer/DECIMAL folds; v_t rounds at 1e-6 before the
    autocovariance folds (DECIMAL(38,6) over the bounded day frame);
    the five lags ride one window over the ~2.4k-day calendar. Plan:
    one day rollup, one OLS fold, one lag window on the day frame,
    one fold."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("ycents")
    )
    mn = daily.agg(F.min("day").alias("d0"))
    xd = daily.crossJoin(F.broadcast(mn)).select(
        (F.col("day") - F.col("d0")).alias("x"),
        (F.col("ycents") / 100.0).alias("y"),
    ).persist()
    f = xd.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.round(F.col("y"), 2).cast("decimal(28,2)")).alias("sy"),
        F.sum(
            F.col("x") * F.round(F.col("y"), 2).cast("decimal(28,2)")
        ).alias("sxy"),
    )
    n = F.col("n")
    sx = F.col("sx")
    b_expr = (
        n * F.col("sxy").cast("double") - sx * F.col("sy").cast("double")
    ) / (n * F.col("sxx").cast("double") - sx.cast("double") * sx)
    beta = f.select(
        "n",
        "sx",
        "sxx",
        b_expr.alias("b"),
        (
            (F.col("sy").cast("double") - sx * b_expr) / n
        ).alias("a"),
        (sx.cast("double") / n).alias("xbar"),
    )
    v = xd.crossJoin(F.broadcast(beta)).select(
        "x",
        F.round(
            (F.col("x") - F.col("xbar"))
            * (F.col("y") - F.col("a") - F.col("b") * F.col("x")),
            6,
        ).alias("vt"),
    )
    wo = Window.orderBy("x")
    lagged = v.select(
        "vt",
        *[F.lag("vt", i).over(wo).alias(f"v{i}") for i in range(1, 6)],
    )
    meat = lagged.agg(
        F.round(
            F.sum(
                F.round(F.col("vt") * F.col("vt"), 6).cast(
                    "decimal(38,6)"
                )
            ),
            6,
        )
        .cast("double")
        .alias("g0"),
        *[
            F.round(
                F.sum(
                    F.round(F.col("vt") * F.col(f"v{i}"), 6).cast(
                        "decimal(38,6)"
                    )
                ),
                6,
            )
            .cast("double")
            .alias(f"g{i}")
            for i in range(1, 6)
        ],
    )
    both = beta.crossJoin(F.broadcast(meat))
    sxx_c = F.col("sxx").cast("double") - F.col("n") * F.col(
        "xbar"
    ) * F.col("xbar")
    nw_meat = F.col("g0") + 2.0 * (
        (1.0 - 1.0 / 6.0) * F.col("g1")
        + (1.0 - 2.0 / 6.0) * F.col("g2")
        + (1.0 - 3.0 / 6.0) * F.col("g3")
        + (1.0 - 4.0 / 6.0) * F.col("g4")
        + (1.0 - 5.0 / 6.0) * F.col("g5")
    )
    return both.select(
        F.col("n").alias("n_days"),
        (F.round(F.col("b"), 6) + 0.0).alias("slope_per_day"),
        F.round(
            F.sqrt(F.col("g0") / sxx_c)
            / F.sqrt(sxx_c)
            * F.sqrt(F.col("n") / (F.col("n") - 2.0)),
            6,
        ).alias("se_ols"),
        F.round(F.sqrt(nw_meat / (sxx_c * sxx_c)), 6).alias("se_nw"),
    )


# --------------------------------------------------------------------------
# Siegel repeated-medians robust trend (daily revenue)
# --------------------------------------------------------------------------
@register(
    "siegel_repeated_medians_trend",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS x,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    slopes AS (
        SELECT a.x,
               round((b.y - a.y) / (100.0 * (b.x - a.x)), 9) AS s
        FROM daily a JOIN daily b ON a.x <> b.x
    ),
    permed AS (
        SELECT x, quantile_cont(s, 0.5) AS ms
        FROM slopes GROUP BY x
    ),
    sl AS (
        SELECT round(quantile_cont(round(ms, 9), 0.5), 9) AS slope
        FROM permed
    ),
    icept AS (
        SELECT round(quantile_cont(
                   round(d.y / 100.0 - sl.slope * d.x, 6), 0.5), 6)
                   AS intercept
        FROM daily d, sl
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
           round(sl.slope, 6) + 0.0 AS slope_per_day,
           round(icept.intercept, 2) + 0.0 AS intercept
    FROM sl, icept
    """,
)
def siegel_repeated_medians_trend(spark, sf_dir):
    """Siegel's repeated-medians trend for daily revenue: slope =
    median over days i of (median over j of pairwise slope s_ij) —
    the 50%-breakdown-point robust regression (Theil-Sen, already in
    the registry for TLE decay, breaks down at 29%; Siegel survives
    when HALF the days are corrupted). Pairwise slopes are exact
    cent/day rationals rounded at 1e-9; both median layers are the
    engines' bit-compatible interpolated percentile on those rounded
    values; the intercept is the median residual at the chosen slope.
    The O(d^2) pair frame is calendar-bounded (days don't grow with
    data volume — the day-grain discipline every bank module pins),
    so the triangular join is a ~2.4k-row self-join, not a data-scale
    blowup. Plan: one day rollup, one bounded self-join, two
    percentile folds."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("x")
    ).agg(
        F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    ).persist()
    a = daily.select(F.col("x"), F.col("y"))
    b = daily.select(
        F.col("x").alias("x2"), F.col("y").alias("y2")
    )
    slopes = a.join(
        F.broadcast(b), F.col("x") != F.col("x2")
    ).select(
        "x",
        F.round(
            (F.col("y2") - F.col("y"))
            / (100.0 * (F.col("x2") - F.col("x"))),
            9,
        ).alias("s"),
    )
    permed = slopes.groupBy("x").agg(
        F.expr("percentile(s, 0.5)").alias("ms")
    )
    sl = permed.agg(
        F.round(
            F.expr("percentile(round(ms, 9), 0.5)"), 9
        ).alias("slope")
    )
    icept = daily.crossJoin(F.broadcast(sl)).agg(
        F.round(
            F.expr(
                "percentile(round(y / 100.0 - slope * x, 6), 0.5)"
            ),
            6,
        ).alias("intercept")
    )
    nd = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return (
        nd.crossJoin(F.broadcast(sl))
        .crossJoin(F.broadcast(icept))
        .select(
            "n_days",
            (F.round(F.col("slope"), 6) + 0.0).alias("slope_per_day"),
            (F.round(F.col("intercept"), 2) + 0.0).alias("intercept"),
        )
    )


# --------------------------------------------------------------------------
# Hoeffding's D independence statistic (daily count vs daily value)
# --------------------------------------------------------------------------
@register(
    "hoeffding_d_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY 1
    ),
    rk AS (
        SELECT day,
               CAST(ROW_NUMBER() OVER (ORDER BY c, day) AS BIGINT) AS r,
               CAST(ROW_NUMBER() OVER (ORDER BY v, day) AS BIGINT) AS s
        FROM daily
    ),
    q AS (
        SELECT a.r, a.s,
               CAST(COUNT(CASE WHEN b.r < a.r AND b.s < a.s
                          THEN 1 END) AS BIGINT) AS qi
        FROM rk a LEFT JOIN rk b ON b.day <> a.day
        GROUP BY a.r, a.s
    ),
    f AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(qi * (qi - 1)) AS BIGINT) AS d1,
               CAST(SUM((r - 1) * (r - 2) * (s - 1) * (s - 2))
                    AS BIGINT) AS d2,
               CAST(SUM((r - 2) * (s - 2) * qi) AS BIGINT) AS d3
        FROM q
    )
    SELECT n AS n_days,
           round(30.0 * ((n - 2) * (n - 3) * d1 + d2
                         - 2.0 * (n - 2) * d3)
                 / (n * (n - 1.0) * (n - 2) * (n - 3) * (n - 4)),
                 9) + 0.0 AS hoeffding_d
    FROM f
    """,
)
def hoeffding_d_daily(spark, sf_dir):
    """Hoeffding's D statistic for independence between daily event
    COUNT and daily total VALUE: D = 30 * ((n-2)(n-3)D1 + D2 -
    2(n-2)D3) / (n(n-1)(n-2)(n-3)(n-4)) with D1 = sum Q(Q-1), D2 =
    sum (R-1)(R-2)(S-1)(S-2), D3 = sum (R-2)(S-2)Q, where Q_i counts
    days dominated in BOTH coordinates. The 1948 nonparametric that
    detects ANY dependence (including non-monotone, where Spearman
    and Kendall read 0) with a tractable null — the classical
    counterpart of the Chatterjee xi also in this bank. Ranks are
    unique by the (metric, day) total order, so D1/D2/D3 are exact
    BIGINTs; the dominance count is a triangular join over the
    bounded calendar frame. Plan: one day rollup, two rank windows,
    one bounded dominance join, one fold."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum((dec("value", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("v"),
    )
    rk = daily.select(
        "day",
        F.row_number().over(Window.orderBy("c", "day")).cast("bigint")
        .alias("r"),
        F.row_number().over(Window.orderBy("v", "day")).cast("bigint")
        .alias("s"),
    ).persist()
    other = rk.select(
        F.col("day").alias("day2"),
        F.col("r").alias("r2"),
        F.col("s").alias("s2"),
    )
    q = (
        rk.join(F.broadcast(other), F.col("day2") != F.col("day"), "left")
        .groupBy("r", "s")
        .agg(
            F.count(
                F.when(
                    (F.col("r2") < F.col("r"))
                    & (F.col("s2") < F.col("s")),
                    1,
                )
            )
            .cast("bigint")
            .alias("qi")
        )
    )
    f = q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("qi") * (F.col("qi") - 1))
        .cast("bigint")
        .alias("d1"),
        F.sum(
            (F.col("r") - 1)
            * (F.col("r") - 2)
            * (F.col("s") - 1)
            * (F.col("s") - 2)
        )
        .cast("bigint")
        .alias("d2"),
        F.sum((F.col("r") - 2) * (F.col("s") - 2) * F.col("qi"))
        .cast("bigint")
        .alias("d3"),
    )
    n = F.col("n")
    return f.select(
        n.alias("n_days"),
        (
            F.round(
                30.0
                * (
                    (n - 2) * (n - 3) * F.col("d1")
                    + F.col("d2")
                    - 2.0 * (n - 2) * F.col("d3")
                )
                / (n * (n - 1.0) * (n - 2) * (n - 3) * (n - 4)),
                9,
            )
            + 0.0
        ).alias("hoeffding_d"),
    )


# --------------------------------------------------------------------------
# Deterministic hash-randomization test for the weekend mean gap
# --------------------------------------------------------------------------
@register(
    "hash_permutation_mean_test",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CASE WHEN (epoch_us(ts) // 86400000000 + 4) % 7 >= 5
                    THEN 1 ELSE 0 END AS we,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    obs AS (
        SELECT abs(SUM(CASE WHEN we = 1 THEN y END) * 1.0
                   / SUM(CASE WHEN we = 1 THEN 1 END)
                   - SUM(CASE WHEN we = 0 THEN y END) * 1.0
                     / SUM(CASE WHEN we = 0 THEN 1 END)) AS stat
        FROM daily
    ),
    perms AS (
        SELECT d.day, d.y, k.k,
               CAST(((d.day * 2654435761 + k.k * 40503)
                     % 4294967296) % 2 AS BIGINT) AS z
        FROM daily d,
             (SELECT UNNEST(range(1, 200)) AS k) k
    ),
    pstat AS (
        SELECT k,
               CASE WHEN SUM(z) = 0 OR SUM(1 - z) = 0 THEN NULL
                    ELSE abs(SUM(CASE WHEN z = 1 THEN y END) * 1.0
                             / SUM(z)
                             - SUM(CASE WHEN z = 0 THEN y END) * 1.0
                               / SUM(1 - z)) END AS stat
        FROM perms GROUP BY k
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pstat
            WHERE stat IS NOT NULL) AS n_permutations,
           round(o.stat / 100.0, 6) AS observed_gap,
           round((1.0 + (SELECT COUNT(*) FROM pstat
                         WHERE stat >= o.stat))
                 / (1.0 + (SELECT COUNT(*) FROM pstat
                           WHERE stat IS NOT NULL)), 6) AS p_value
    FROM obs o
    """,
)
def hash_permutation_mean_test(spark, sf_dir):
    """Randomization test for the weekend-vs-weekday daily-revenue gap
    with DETERMINISTIC pseudo-permutations: 199 relabelings of the
    day panel via the Knuth multiplicative hash (day * 2654435761 +
    k * 40503) mod 2^32 mod 2 — the registry's dataset_split_assign
    device lifted to inference. p = (1 + #{perm stat >= observed}) /
    (1 + #valid perms), the standard add-one randomization p-value;
    degenerate relabelings (a side empty) are excluded by the same
    rule in both engines. This is how a scale-out engine does
    permutation inference WITHOUT an RNG: hashes are exact int64
    arithmetic, group means are integer-cent ratios, and the compare
    is on identical IEEE doubles. Plan: one day rollup, a bounded
    199x-day grid join (~6k rows), one rollup per permutation."""
    e = t(spark, sf_dir, "events")
    day = F.floor(F.unix_micros("ts") / 86_400_000_000).cast("bigint")
    daily = e.groupBy(
        day.alias("day"),
        F.when((day + 4) % 7 >= 5, 1).otherwise(0).alias("we"),
    ).agg(
        F.sum((dec("value", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    ).persist()
    obs = daily.agg(
        F.abs(
            F.sum(F.when(F.col("we") == 1, F.col("y"))) * 1.0
            / F.sum(F.when(F.col("we") == 1, 1))
            - F.sum(F.when(F.col("we") == 0, F.col("y"))) * 1.0
            / F.sum(F.when(F.col("we") == 0, 1))
        ).alias("stat")
    )
    ks = spark.range(1, 200).select(F.col("id").alias("k"))
    perms = daily.crossJoin(F.broadcast(ks)).select(
        "y",
        "k",
        (
            ((F.col("day") * 2654435761 + F.col("k") * 40503)
             % 4294967296) % 2
        )
        .cast("bigint")
        .alias("z"),
    )
    pstat = perms.groupBy("k").agg(
        F.when(
            (F.sum("z") == 0) | (F.sum(1 - F.col("z")) == 0), None
        )
        .otherwise(
            F.abs(
                F.sum(F.when(F.col("z") == 1, F.col("y"))) * 1.0
                / F.sum("z")
                - F.sum(F.when(F.col("z") == 0, F.col("y"))) * 1.0
                / F.sum(1 - F.col("z"))
            )
        )
        .alias("stat")
    ).persist()
    nvalid = pstat.where(F.col("stat").isNotNull()).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_permutations")
    )
    nge = (
        pstat.crossJoin(F.broadcast(obs.select(F.col("stat").alias("ostat"))))
        .where(F.col("stat") >= F.col("ostat"))
        .agg(F.count(F.lit(1)).alias("n_ge"))
    )
    return (
        nvalid.crossJoin(F.broadcast(obs))
        .crossJoin(F.broadcast(nge))
        .select(
            "n_permutations",
            F.round(F.col("stat") / 100.0, 6).alias("observed_gap"),
            F.round(
                (1.0 + F.col("n_ge"))
                / (1.0 + F.col("n_permutations")),
                6,
            ).alias("p_value"),
        )
    )


# --------------------------------------------------------------------------
# Likelihood-ratio test for equal exponential rates (weekend gaps)
# --------------------------------------------------------------------------
@register(
    "exp_rate_lr_gaps",
    oracle="""
    WITH seq AS (
        SELECT epoch_us(ts)
               - LAG(epoch_us(ts)) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id)
                   AS gap_us,
               CASE WHEN (epoch_us(ts) // 86400000000 + 4) % 7 >= 5
                    THEN 1 ELSE 0 END AS we
        FROM events
    ),
    g AS (
        SELECT we, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(gap_us) AS BIGINT) AS s
        FROM seq WHERE gap_us IS NOT NULL AND gap_us > 0
        GROUP BY we
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(s) AS BIGINT) AS s
        FROM g
    ),
    lr AS (
        SELECT t.n AS n_gaps,
               CAST(round(SUM(CAST(round(
                   g.n * ln((g.s * 1.0 / g.n)), 9)
                   AS DECIMAL(28,9))), 9) AS DOUBLE) AS part
        FROM g, tot t GROUP BY t.n
    )
    SELECT l.n_gaps,
           round(SUM(CASE WHEN g.we = 1
                     THEN g.s / (g.n * 3600.0e6) END), 6)
               AS mean_gap_weekend_h,
           round(SUM(CASE WHEN g.we = 0
                     THEN g.s / (g.n * 3600.0e6) END), 6)
               AS mean_gap_weekday_h,
           round(2.0 * (t.n * ln(t.s * 1.0 / t.n) - l.part), 6) + 0.0
               AS lr_chi2
    FROM lr l, tot t, g
    GROUP BY l.n_gaps, t.n, t.s, l.part
    """,
)
def exp_rate_lr_gaps(spark, sf_dir):
    """Likelihood-ratio test for equal exponential inter-event rates on
    weekends vs weekdays: for exponential samples the LR statistic
    collapses to -2 ln L = 2 [ N ln(pooled mean) - sum_g n_g ln(mean_g) ]
    — a pure function of the integer microsecond gap sums, asymptotically
    chi2(1). The parametric counterpart of the registry's
    poisson_rate_ratio_weekend (counts there, waiting times here; the
    two disagreeing flags non-Poisson clustering). Gaps are exact
    integer microseconds from the per-user lag (zero gaps dropped —
    exponential support); each group's n*ln(mean) rounds at 1e-9 and
    folds in DECIMAL over the 2-row group frame. Plan: one
    user-partitioned lag, a 2-row rollup, scalar folds."""
    e = t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    day = F.floor(us / 86_400_000_000)
    seq = e.select(
        (us - F.lag(us).over(wu)).alias("gap_us"),
        F.when((day + 4) % 7 >= 5, 1).otherwise(0).alias("we"),
    ).where(F.col("gap_us").isNotNull() & (F.col("gap_us") > 0))
    g = seq.groupBy("we").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("gap_us").cast("bigint").alias("s"),
    ).persist()
    tot = g.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("s").cast("bigint").alias("ts_"),
    )
    lr = g.crossJoin(F.broadcast(tot)).agg(
        F.max("tn").alias("n_gaps"),
        F.round(
            F.sum(
                F.round(
                    F.col("n") * F.log(F.col("s") * 1.0 / F.col("n")),
                    9,
                ).cast("decimal(28,9)")
            ),
            9,
        )
        .cast("double")
        .alias("part"),
    )
    means = g.agg(
        F.sum(
            F.when(
                F.col("we") == 1,
                F.col("s") / (F.col("n") * 3600.0e6),
            )
        ).alias("mw"),
        F.sum(
            F.when(
                F.col("we") == 0,
                F.col("s") / (F.col("n") * 3600.0e6),
            )
        ).alias("md"),
    )
    return (
        lr.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(means))
        .select(
            F.col("n_gaps"),
            F.round(F.col("mw"), 6).alias("mean_gap_weekend_h"),
            F.round(F.col("md"), 6).alias("mean_gap_weekday_h"),
            (
                F.round(
                    2.0
                    * (
                        F.col("tn")
                        * F.log(F.col("ts_") * 1.0 / F.col("tn"))
                        - F.col("part")
                    ),
                    6,
                )
                + 0.0
            ).alias("lr_chi2"),
        )
    )


# --------------------------------------------------------------------------
# One-sample KS test of inter-event gaps against a fitted exponential
# --------------------------------------------------------------------------
@register(
    "ks_exponential_gaps",
    oracle="""
    WITH seq AS (
        SELECT epoch_us(ts)
               - LAG(epoch_us(ts)) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id)
                   AS gap
        FROM events
    ),
    by_val AS (
        SELECT gap, CAST(COUNT(*) AS BIGINT) AS c
        FROM seq WHERE gap IS NOT NULL AND gap > 0
        GROUP BY gap
    ),
    tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(gap * c) AS BIGINT) AS s
        FROM by_val
    ),
    cum AS (
        SELECT gap,
               SUM(c) OVER (ORDER BY gap ROWS UNBOUNDED PRECEDING)
                   AS f
        FROM by_val
    ),
    d AS (
        SELECT MAX(GREATEST(
                   abs(f * 1.0 / t.n
                       - round(1.0 - exp(-(gap * t.n * 1.0 / t.s)),
                               12)),
                   abs((f - c2) * 1.0 / t.n
                       - round(1.0 - exp(-(gap * t.n * 1.0 / t.s)),
                               12)))) AS ks
        FROM (SELECT cum.gap, cum.f, b.c AS c2
              FROM cum JOIN by_val b ON cum.gap = b.gap), tot t
    )
    SELECT t.n AS n_gaps,
           round(t.s / (t.n * 3600.0e6), 6) AS mean_gap_h,
           round(d.ks, 9) AS ks_d
    FROM tot t, d
    """,
)
def ks_exponential_gaps(spark, sf_dir):
    """One-sample Kolmogorov-Smirnov distance between the inter-event
    gap distribution and the exponential fitted by its MLE (the mean
    gap): D = sup |ECDF - (1 - e^{-x/mean})|, evaluated just above
    and just below every distinct gap (where the sup of a step-vs-
    continuous comparison lives). The memorylessness check underneath
    the Poisson-arrival assumptions the registry's rate tests make —
    a big D says arrivals cluster (sessions), so exponential-based
    capacity math is wrong. ECDF counts are exact integers from
    ``exact_cumulative`` over the distinct-gap grid (which also
    carries the (n, s) totals); the fitted CDF is one IEEE expression
    on the exact (n, s) integers rounded at 1e-12; D is a MAX fold
    (order-free). Plan: per-user lag, distinct-gap rollup, bucketed
    cumsum, one fold."""
    e = t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    seq = e.select((us - F.lag(us).over(wu)).alias("gap")).where(
        F.col("gap").isNotNull() & (F.col("gap") > 0)
    )
    by_val = seq.groupBy("gap").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    acc, _ = exact_cumulative(
        by_val,
        ("gap",),
        {"f": F.sum("c"), "s": F.sum(F.col("gap") * F.col("c"))},
    )
    cum = acc.select(
        "gap",
        "c",
        F.col("cum_f").cast("bigint").alias("f"),
        F.col("tot_f").cast("bigint").alias("n"),
        F.col("tot_s").cast("bigint").alias("s"),
    )
    cdf = F.round(
        1.0
        - F.exp(
            -(F.col("gap") * F.col("n") * 1.0 / F.col("s"))
        ),
        12,
    )
    d = cum.groupBy("n", "s").agg(
        F.max(
            F.greatest(
                F.abs(F.col("f") * 1.0 / F.col("n") - cdf),
                F.abs(
                    (F.col("f") - F.col("c")) * 1.0 / F.col("n") - cdf
                ),
            )
        ).alias("ks")
    )
    return d.select(
        F.col("n").alias("n_gaps"),
        F.round(F.col("s") / (F.col("n") * 3600.0e6), 6).alias(
            "mean_gap_h"
        ),
        F.round(F.col("ks"), 9).alias("ks_d"),
    )


# --------------------------------------------------------------------------
# Yuen's trimmed-means test (weekend vs weekday event values)
# --------------------------------------------------------------------------
@register(
    "yuen_trimmed_t",
    oracle="""
    WITH v AS (
        SELECT CASE WHEN (epoch_us(ts) // 86400000000 + 4) % 7 >= 5
                    THEN 1 ELSE 0 END AS we,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        FROM events
    ),
    q AS (
        SELECT we AS g,
               quantile_cont(x, 0.2) AS q1,
               quantile_cont(x, 0.8) AS q3,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM v GROUP BY we
    ),
    w AS (
        SELECT v.we, q.n, q.q1, q.q3,
               CASE WHEN v.x >= q.q1 AND v.x <= q.q3 THEN 1 ELSE 0 END
                   AS inside,
               LEAST(GREATEST(v.x * 1.0, q.q1), q.q3) AS xw
        FROM v JOIN q ON v.we = q.g
    ),
    f AS (
        SELECT we,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(inside) AS BIGINT) AS h,
               SUM(CAST(round(xw, 4) AS DECIMAL(28,4))) AS sw,
               SUM(CASE WHEN inside = 1
                   THEN CAST(round(xw, 4) AS DECIMAL(28,4)) END) AS st,
               SUM(CAST(round(xw * xw, 4) AS DECIMAL(38,4))) AS sww
        FROM w GROUP BY we
    ),
    y AS (
        SELECT we, n, h,
               CAST(st AS DOUBLE) / (100.0 * h) AS mt,
               (CAST(sww AS DOUBLE)
                - CAST(sw AS DOUBLE) * sw / n) / 10000.0
                   / (n - 1.0) AS s2w
        FROM f
    )
    SELECT MAX(CASE WHEN we = 1 THEN h END) AS h_weekend,
           MAX(CASE WHEN we = 0 THEN h END) AS h_weekday,
           round(MAX(CASE WHEN we = 1 THEN mt END)
                 - MAX(CASE WHEN we = 0 THEN mt END), 6) + 0.0
               AS trimmed_mean_gap,
           round((MAX(CASE WHEN we = 1 THEN mt END)
                  - MAX(CASE WHEN we = 0 THEN mt END))
                 / sqrt(MAX(CASE WHEN we = 1
                            THEN (n - 1.0) * s2w / (h * (h - 1.0)) END)
                        + MAX(CASE WHEN we = 0
                              THEN (n - 1.0) * s2w
                                   / (h * (h - 1.0)) END)), 6) + 0.0
               AS yuen_t
    FROM y
    """,
)
def yuen_trimmed_t(spark, sf_dir):
    """Yuen's trimmed-means t (percentile-winsorized convention,
    documented): compare 20%-trimmed weekend vs weekday event values,
    with the winsorized variance supplying the denominator d_g =
    (n-1) s2w / (h (h-1)) — the robust two-sample location test that
    keeps its nominal level under the heavy tails and outliers that
    invalidate Student's t (the registry's MWU tests stochastic
    dominance, a different null). Trim boundaries are the engines'
    bit-compatible interpolated 20/80 percentiles of exact integer
    cents broadcast into the scan; winsorized values clamp to those
    boundaries, round at 1e-4 cents, and fold in DECIMAL, so every
    moment is order-independent. Plan: one 2-row percentile fold
    broadcast back, one group fold — two scans, zero windows."""
    e = t(spark, sf_dir, "events")
    day = F.floor(F.unix_micros("ts") / 86_400_000_000)
    v = e.select(
        F.when((day + 4) % 7 >= 5, 1).otherwise(0).alias("we"),
        (dec("value", 18, 2) * 100).cast("bigint").alias("x"),
    )
    q = v.groupBy(F.col("we").alias("g")).agg(
        F.expr("percentile(x, 0.2)").alias("q1"),
        F.expr("percentile(x, 0.8)").alias("q3"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    w = v.join(F.broadcast(q), v.we == q.g).select(
        "we",
        "n",
        F.when(
            (F.col("x") >= F.col("q1")) & (F.col("x") <= F.col("q3")),
            1,
        )
        .otherwise(0)
        .alias("inside"),
        F.least(
            F.greatest(F.col("x") * 1.0, F.col("q1")), F.col("q3")
        ).alias("xw"),
    )
    f = w.groupBy("we").agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum("inside").cast("bigint").alias("h"),
        F.sum(F.round(F.col("xw"), 4).cast("decimal(28,4)")).alias("sw"),
        F.sum(
            F.when(
                F.col("inside") == 1,
                F.round(F.col("xw"), 4).cast("decimal(28,4)"),
            )
        ).alias("st"),
        F.sum(
            F.round(F.col("xw") * F.col("xw"), 4).cast("decimal(38,4)")
        ).alias("sww"),
    )
    y = f.select(
        "we",
        "n",
        "h",
        (F.col("st").cast("double") / (100.0 * F.col("h"))).alias("mt"),
        (
            (
                F.col("sww").cast("double")
                - F.col("sw").cast("double") * F.col("sw") / F.col("n")
            )
            / 10000.0
            / (F.col("n") - 1.0)
        ).alias("s2w"),
    )
    dterm = (F.col("n") - 1.0) * F.col("s2w") / (
        F.col("h") * (F.col("h") - 1.0)
    )
    agg = y.agg(
        F.max(F.when(F.col("we") == 1, F.col("h"))).alias("h_weekend"),
        F.max(F.when(F.col("we") == 0, F.col("h"))).alias("h_weekday"),
        F.max(F.when(F.col("we") == 1, F.col("mt"))).alias("mt1"),
        F.max(F.when(F.col("we") == 0, F.col("mt"))).alias("mt0"),
        F.max(F.when(F.col("we") == 1, dterm)).alias("d1"),
        F.max(F.when(F.col("we") == 0, dterm)).alias("d0"),
    )
    return agg.select(
        "h_weekend",
        "h_weekday",
        (
            F.round(F.col("mt1") - F.col("mt0"), 6) + 0.0
        ).alias("trimmed_mean_gap"),
        (
            F.round(
                (F.col("mt1") - F.col("mt0"))
                / F.sqrt(F.col("d1") + F.col("d0")),
                6,
            )
            + 0.0
        ).alias("yuen_t"),
    )


# --------------------------------------------------------------------------
# Breslow-Day test of odds-ratio homogeneity across regions
# --------------------------------------------------------------------------
@register(
    "breslow_day_homogeneity",
    oracle="""
    WITH tab AS (
        SELECT r.r_regionkey AS rk,
               CASE WHEN (epoch_us(o.o_orderdate) // 86400000000 + 4)
                         % 7 >= 5 THEN 1 ELSE 0 END AS exposed,
               CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END
                   AS outc,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation na ON c.c_nationkey = na.n_nationkey
        JOIN region r ON na.n_regionkey = r.r_regionkey
        GROUP BY 1, 2, 3
    ),
    cells AS (
        SELECT rk,
               CAST(COALESCE(SUM(CASE WHEN exposed=1 AND outc=1
                                 THEN n END),0) AS BIGINT) AS a,
               CAST(COALESCE(SUM(CASE WHEN exposed=1 AND outc=0
                                 THEN n END),0) AS BIGINT) AS b,
               CAST(COALESCE(SUM(CASE WHEN exposed=0 AND outc=1
                                 THEN n END),0) AS BIGINT) AS c,
               CAST(COALESCE(SUM(CASE WHEN exposed=0 AND outc=0
                                 THEN n END),0) AS BIGINT) AS d
        FROM tab GROUP BY rk
    ),
    mh AS (
        SELECT round(
            CAST(round(SUM(CAST(round(a * 1.0 * d / (a + b + c + d), 9)
                AS DECIMAL(28,9))), 9) AS DOUBLE)
            / CAST(round(SUM(CAST(round(b * 1.0 * c / (a + b + c + d), 9)
                AS DECIMAL(28,9))), 9) AS DOUBLE), 9) AS orx
        FROM cells
    ),
    solved AS (
        SELECT rk, a, b, c, d, m.orx,
               (b + c) * 1.0 + m.orx * (a + d) AS qb,
               (1.0 - m.orx) AS qa,
               -(m.orx * (a + b) * 1.0 * (a + c)) AS qc
        FROM cells, mh m
    ),
    ea AS (
        SELECT rk, a, b, c, d, orx,
               CASE WHEN abs(qa) < 1e-12 THEN (a + b) * 1.0 * (a + c)
                                              / (a + b + c + d)
                    ELSE (-qb + sqrt(qb * qb - 4.0 * qa * qc))
                         / (2.0 * qa) END AS e
        FROM solved
    ),
    terms AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(round(SUM(CAST(round(
                   (a - e) * (a - e)
                   * (1.0 / e + 1.0 / (a + b - e)
                      + 1.0 / (a + c - e)
                      + 1.0 / (d - a + e)), 9)
                   AS DECIMAL(28,9))), 9) AS DOUBLE) AS chi2
        FROM ea
    )
    SELECT k AS n_strata, round(m.orx, 6) AS or_mh,
           round(t.chi2, 6) + 0.0 AS bd_chi2
    FROM terms t, mh m
    """,
)
def breslow_day_homogeneity(spark, sf_dir):
    """Breslow-Day test that the weekend -> order-failure odds ratio is
    HOMOGENEOUS across the five regions: the Mantel-Haenszel query
    already in the registry pools strata assuming one common OR — this
    is the test of that assumption (reject means report per-region ORs
    instead of the pooled one). Per stratum the expected exposed-case
    count under the common MH OR solves the quadratic
    (1-OR)E^2 + (b+c+OR(a+d))E - OR(a+b)(a+c) = 0 (positive root;
    linear fallback when OR = 1), and chi2 = sum (a-E)^2 * sum of
    reciprocal expected cells. The MH OR is rounded at 1e-9 FIRST so
    both engines solve the identical quadratic; cell counts are exact
    integers; per-stratum terms round at 1e-9 and fold in DECIMAL over
    the 5-row region frame. Plan: three broadcast dim hops, one 20-cell
    rollup, scalar OR fold, 5-row closed-form solve."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    na = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_regionkey"
    )
    day = F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
    tab = (
        o.join(F.broadcast(c), "o_custkey")
        .join(F.broadcast(na), "c_nationkey")
        .groupBy(
            F.col("n_regionkey").alias("rk"),
            F.when((day + 4) % 7 >= 5, 1).otherwise(0).alias("exposed"),
            F.when(F.col("o_orderstatus") == "F", 1)
            .otherwise(0)
            .alias("outc"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    def cell(e_, o_):
        return F.coalesce(
            F.sum(
                F.when(
                    (F.col("exposed") == e_) & (F.col("outc") == o_),
                    F.col("n"),
                )
            ),
            F.lit(0),
        ).cast("bigint")
    cells = tab.groupBy("rk").agg(
        cell(1, 1).alias("a"),
        cell(1, 0).alias("b"),
        cell(0, 1).alias("c"),
        cell(0, 0).alias("d"),
    ).persist()
    nn = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    mh = cells.agg(
        F.round(
            F.round(
                F.sum(
                    F.round(
                        F.col("a") * 1.0 * F.col("d") / nn, 9
                    ).cast("decimal(28,9)")
                ),
                9,
            ).cast("double")
            / F.round(
                F.sum(
                    F.round(
                        F.col("b") * 1.0 * F.col("c") / nn, 9
                    ).cast("decimal(28,9)")
                ),
                9,
            ).cast("double"),
            9,
        ).alias("orx")
    )
    s = cells.crossJoin(F.broadcast(mh))
    qa = 1.0 - F.col("orx")
    qb = (F.col("b") + F.col("c")) * 1.0 + F.col("orx") * (
        F.col("a") + F.col("d")
    )
    qc = -(
        F.col("orx")
        * (F.col("a") + F.col("b"))
        * 1.0
        * (F.col("a") + F.col("c"))
    )
    e_lin = (
        (F.col("a") + F.col("b"))
        * 1.0
        * (F.col("a") + F.col("c"))
        / nn
    )
    e_quad = (-qb + F.sqrt(qb * qb - 4.0 * qa * qc)) / (2.0 * qa)
    ea = s.select(
        "a",
        "b",
        "c",
        "d",
        F.when(F.abs(qa) < 1e-12, e_lin).otherwise(e_quad).alias("e"),
    )
    e_ = F.col("e")
    term = (F.col("a") - e_) * (F.col("a") - e_) * (
        1.0 / e_
        + 1.0 / (F.col("a") + F.col("b") - e_)
        + 1.0 / (F.col("a") + F.col("c") - e_)
        + 1.0 / (F.col("d") - F.col("a") + e_)
    )
    terms = ea.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.round(
            F.sum(F.round(term, 9).cast("decimal(28,9)")), 9
        )
        .cast("double")
        .alias("chi2"),
    )
    return terms.crossJoin(F.broadcast(mh)).select(
        F.col("k").alias("n_strata"),
        F.round(F.col("orx"), 6).alias("or_mh"),
        (F.round(F.col("chi2"), 6) + 0.0).alias("bd_chi2"),
    )


# --------------------------------------------------------------------------
# Negative-binomial method-of-moments fit of per-user event counts
# --------------------------------------------------------------------------
@register(
    "negbin_mom_fit",
    oracle="""
    WITH u AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY user_id
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS s1,
               CAST(SUM(c * c) AS BIGINT) AS s2
        FROM u
    ),
    fit AS (
        SELECT n, s1,
               s1 * 1.0 / n AS mu,
               (s2 - s1 * 1.0 * s1 / n) / (n - 1.0) AS v
        FROM m
    )
    SELECT n AS n_users,
           round(mu, 6) AS mean_count,
           round(v, 6) AS var_count,
           round(v / mu, 6) AS dispersion_index,
           CASE WHEN v <= mu THEN NULL
                ELSE round(mu * mu / (v - mu), 6) END AS nb_r,
           CASE WHEN v <= mu THEN NULL
                ELSE round(mu / v, 6) END AS nb_p
    FROM fit
    """,
)
def negbin_mom_fit(spark, sf_dir):
    """Method-of-moments negative-binomial fit of per-user event
    counts: r = mu^2/(var - mu), p = mu/var — the standard
    overdispersion model (Poisson forces var = mean; user activity
    never obeys that, and the registry's poisson_dispersion_index
    query MEASURES the violation this query MODELS). NULL r/p when
    the sample is underdispersed (the NB family is empty there — the
    guard is the same expression in both engines). Counts and power
    sums are exact integers; mu and v are single divisions; every
    output is one terminal expression. Plan: one user rollup, one
    3-fold scalar aggregate — scan-bound."""
    e = t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    m = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    mu = F.col("s1") * 1.0 / F.col("n")
    v = (
        F.col("s2") - F.col("s1") * 1.0 * F.col("s1") / F.col("n")
    ) / (F.col("n") - 1.0)
    return m.select(
        F.col("n").alias("n_users"),
        F.round(mu, 6).alias("mean_count"),
        F.round(v, 6).alias("var_count"),
        F.round(v / mu, 6).alias("dispersion_index"),
        F.when(v <= mu, F.lit(None).cast("double"))
        .otherwise(F.round(mu * mu / (v - mu), 6))
        .alias("nb_r"),
        F.when(v <= mu, F.lit(None).cast("double"))
        .otherwise(F.round(mu / v, 6))
        .alias("nb_p"),
    )


# --------------------------------------------------------------------------
# Naive Bayes (dow, value-bucket) -> event_type with Laplace smoothing
# --------------------------------------------------------------------------
@register(
    "naive_bayes_dow_type",
    oracle="""
    WITH base AS (
        SELECT CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT)
                   AS dow,
               LEAST(CAST(floor(value) AS BIGINT) // 50, 9) AS vb,
               event_type AS ty
        FROM events
    ),
    cell AS (
        SELECT dow, vb, ty, CAST(COUNT(*) AS BIGINT) AS n
        FROM base GROUP BY 1, 2, 3
    ),
    tyc AS (SELECT ty, CAST(SUM(n) AS BIGINT) AS nt FROM cell GROUP BY ty),
    dow_t AS (
        SELECT dow, ty, CAST(SUM(n) AS BIGINT) AS ndt
        FROM cell GROUP BY 1, 2
    ),
    vb_t AS (
        SELECT vb, ty, CAST(SUM(n) AS BIGINT) AS nbt
        FROM cell GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(nt) AS BIGINT) AS n FROM tyc),
    scored AS (
        SELECT g.dow, g.vb, t.ty,
               round(((COALESCE(dt.ndt, 0) + 1.0) / (t.nt + 7))
                     * ((COALESCE(bt.nbt, 0) + 1.0) / (t.nt + 10))
                     * ((t.nt + 1.0) / (tot.n + 5)), 15) AS score
        FROM (SELECT DISTINCT dow, vb FROM cell) g
        CROSS JOIN tyc t
        LEFT JOIN dow_t dt ON dt.dow = g.dow AND dt.ty = t.ty
        LEFT JOIN vb_t bt ON bt.vb = g.vb AND bt.ty = t.ty
        CROSS JOIN tot
    ),
    pred AS (
        SELECT dow, vb, ty AS pred_ty,
               ROW_NUMBER() OVER (PARTITION BY dow, vb
                                  ORDER BY score DESC, ty ASC) AS rn
        FROM scored
    ),
    conf AS (
        SELECT c.ty, CAST(SUM(c.n) AS BIGINT) AS n_actual,
               CAST(SUM(CASE WHEN p.pred_ty = c.ty THEN c.n ELSE 0 END)
                    AS BIGINT) AS n_correct
        FROM cell c JOIN pred p
          ON p.dow = c.dow AND p.vb = c.vb AND p.rn = 1
        GROUP BY c.ty
    )
    SELECT ty AS event_type, n_actual, n_correct,
           round(n_correct * 1.0 / n_actual, 6) AS recall
    FROM conf ORDER BY ty
    """,
)
def naive_bayes_dow_type(spark, sf_dir):
    """Naive Bayes classifier (features: weekday, 50-unit value
    bucket; Laplace alpha = 1) predicting the event type, scored by
    per-type recall on the training data — the generative sibling of
    the registry's centroid / token-vote classifiers, and the
    standard cheap baseline a pipeline fits before anything learned.
    Scores are products of smoothed integer-count ratios rounded at
    1e-15 so both engines pick the identical argmax (ties then break
    on type name); the whole model lives on the bounded 70-cell
    feature grid, so training is one rollup and scoring is a 350-row
    cross join. Plan: one (dow, vb, type) rollup; three marginal
    rollups; bounded grid score + rank; confusion rollup."""
    e = t(spark, sf_dir, "events")
    base = e.select(
        ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7)
        .cast("bigint")
        .alias("dow"),
        F.expr("least(CAST(floor(value) AS BIGINT) div 50, 9)").alias("vb"),
        F.col("event_type").alias("ty"),
    )
    cell = base.groupBy("dow", "vb", "ty").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).persist()
    tyc = cell.groupBy("ty").agg(F.sum("n").cast("bigint").alias("nt"))
    dow_t = cell.groupBy("dow", "ty").agg(
        F.sum("n").cast("bigint").alias("ndt")
    )
    vb_t = cell.groupBy("vb", "ty").agg(
        F.sum("n").cast("bigint").alias("nbt")
    )
    tot = tyc.agg(F.sum("nt").cast("bigint").alias("n_all"))
    g = cell.select("dow", "vb").distinct()
    scored = (
        g.crossJoin(F.broadcast(tyc))
        .join(F.broadcast(dow_t), ["dow", "ty"], "left")
        .join(F.broadcast(vb_t), ["vb", "ty"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "vb",
            "ty",
            F.round(
                (
                    (F.coalesce(F.col("ndt"), F.lit(0)) + 1.0)
                    / (F.col("nt") + 7)
                )
                * (
                    (F.coalesce(F.col("nbt"), F.lit(0)) + 1.0)
                    / (F.col("nt") + 10)
                )
                * ((F.col("nt") + 1.0) / (F.col("n_all") + 5)),
                15,
            ).alias("score"),
        )
    )
    pred = scored.select(
        "dow",
        "vb",
        F.col("ty").alias("pred_ty"),
        F.row_number()
        .over(
            Window.partitionBy("dow", "vb").orderBy(
                F.col("score").desc(), F.col("ty").asc()
            )
        )
        .alias("rn"),
    ).where(F.col("rn") == 1)
    conf = (
        cell.join(F.broadcast(pred), ["dow", "vb"])
        .groupBy("ty")
        .agg(
            F.sum("n").cast("bigint").alias("n_actual"),
            F.sum(
                F.when(F.col("pred_ty") == F.col("ty"), F.col("n"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_correct"),
        )
    )
    return conf.select(
        F.col("ty").alias("event_type"),
        "n_actual",
        "n_correct",
        F.round(
            F.col("n_correct") * 1.0 / F.col("n_actual"), 6
        ).alias("recall"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Fellegi-Sunter match weights with frequency-based u-probabilities
# --------------------------------------------------------------------------
@register(
    "fellegi_sunter_match_weights",
    oracle="""
    WITH c AS (
        SELECT c_custkey AS k, c_nationkey AS nk, c_mktsegment AS seg,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS balc
        FROM customer
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
    u_nk AS (
        SELECT CAST(round(SUM(CAST(round(cnt * 1.0 * cnt / (n.n * n.n),
                                         12) AS DECIMAL(20,12))), 12)
                    AS DOUBLE) AS u
        FROM (SELECT COUNT(*) AS cnt FROM c GROUP BY nk), n
        GROUP BY n.n
    ),
    u_seg AS (
        SELECT CAST(round(SUM(CAST(round(cnt * 1.0 * cnt / (n.n * n.n),
                                         12) AS DECIMAL(20,12))), 12)
                    AS DOUBLE) AS u
        FROM (SELECT COUNT(*) AS cnt FROM c GROUP BY seg), n
        GROUP BY n.n
    ),
    pairs AS (
        SELECT a.k AS key_a, b.k AS key_b,
               CASE WHEN a.nk = b.nk THEN 1 ELSE 0 END AS ag_nk,
               CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS ag_seg
        FROM c a JOIN c b ON a.balc = b.balc AND a.k < b.k
    )
    SELECT key_a, key_b, ag_nk = 1 AS nation_agrees,
           ag_seg = 1 AS segment_agrees,
           round((CASE WHEN ag_nk = 1 THEN ln(0.9 / un.u)
                       ELSE ln(0.1 / (1.0 - un.u)) END)
                 + (CASE WHEN ag_seg = 1 THEN ln(0.9 / us.u)
                         ELSE ln(0.1 / (1.0 - us.u)) END), 6) + 0.0
               AS match_weight
    FROM pairs, u_nk un, u_seg us
    ORDER BY match_weight DESC, key_a ASC, key_b ASC
    LIMIT 20
    """,
)
def fellegi_sunter_match_weights(spark, sf_dir):
    """Fellegi-Sunter record-linkage scoring over candidate customer
    pairs: block on EXACT balance cents (the blocking key that stays
    selective at any scale — same-cent collisions, not coarse
    buckets), then score each pair's agreement pattern on nation and
    market segment with log-likelihood weights ln(m/u) / ln((1-m)/
    (1-u)), where m = 0.9 is the standard literature prior and each
    field's u-probability is estimated from the data as the
    random-agreement mass sum p_v^2 (the frequency-based u that makes
    agreeing on a RARE value worth more). The scoring half of the ER
    pipeline whose candidate-generation half (sorted-neighborhood,
    q-gram) the registry already has. u folds round at 1e-12 in
    DECIMAL; weights are single expressions on those scalars; top-20
    carries the full (weight, key_a, key_b) total order. Plan: one
    dim scan, two marginal rollups, one blocked self-join (equi-join
    on cents), TakeOrdered."""
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        (dec("c_acctbal", 12, 2) * 100).cast("bigint").alias("balc"),
    ).persist()
    n = cust.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    def u_of(col):
        cnts = cust.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        return (
            cnts.crossJoin(F.broadcast(n))
            .agg(
                F.round(
                    F.sum(
                        F.round(
                            F.col("cnt")
                            * 1.0
                            * F.col("cnt")
                            / (F.col("n") * F.col("n")),
                            12,
                        ).cast("decimal(20,12)")
                    ),
                    12,
                )
                .cast("double")
                .alias("u")
            )
        )
    u_nk = u_of("nk").select(F.col("u").alias("u_nk"))
    u_seg = u_of("seg").select(F.col("u").alias("u_seg"))
    b = cust.select(
        F.col("k").alias("key_b"),
        F.col("nk").alias("nk_b"),
        F.col("seg").alias("seg_b"),
        F.col("balc").alias("balc_b"),
    )
    pairs = cust.join(
        b,
        (F.col("balc") == F.col("balc_b")) & (F.col("k") < F.col("key_b")),
    ).select(
        F.col("k").alias("key_a"),
        "key_b",
        (F.col("nk") == F.col("nk_b")).alias("nation_agrees"),
        (F.col("seg") == F.col("seg_b")).alias("segment_agrees"),
    )
    w_nk = F.when(
        F.col("nation_agrees"), F.log(0.9 / F.col("u_nk"))
    ).otherwise(F.log(0.1 / (1.0 - F.col("u_nk"))))
    w_seg = F.when(
        F.col("segment_agrees"), F.log(0.9 / F.col("u_seg"))
    ).otherwise(F.log(0.1 / (1.0 - F.col("u_seg"))))
    return (
        pairs.crossJoin(F.broadcast(u_nk))
        .crossJoin(F.broadcast(u_seg))
        .select(
            "key_a",
            "key_b",
            "nation_agrees",
            "segment_agrees",
            (F.round(w_nk + w_seg, 6) + 0.0).alias("match_weight"),
        )
        .orderBy(
            F.col("match_weight").desc(),
            F.col("key_a").asc(),
            F.col("key_b").asc(),
        )
        .limit(20)
    )


# --------------------------------------------------------------------------
# Cluster validity panel: Calinski-Harabasz + Davies-Bouldin on labels
# --------------------------------------------------------------------------
def _emb_el(spark, sf_dir):
    from .common import t as _t

    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "xf"),
    ).select(
        "vec_id",
        "label",
        "dim",
        F.col("xf").cast("decimal(18,9)").alias("x"),
    )


_EMB_EL_SQL = """
    el AS (
        SELECT vec_id, label, CAST(u.i - 1 AS BIGINT) AS dim,
               CAST(embedding[CAST(u.i AS INTEGER)] AS DECIMAL(18,9))
                   AS x
        FROM embeddings,
             UNNEST(range(1, len(embedding) + 1)) AS u(i)
    ),
    cent AS (
        SELECT label, dim,
               round(CAST(SUM(x) AS DOUBLE) / COUNT(*), 9) AS c,
               CAST(COUNT(*) AS BIGINT) AS nk
        FROM el GROUP BY label, dim
    ),
    gcent AS (
        SELECT dim, round(CAST(SUM(x) AS DOUBLE) / COUNT(*), 9) AS g
        FROM el GROUP BY dim
    )
"""


@register(
    "cluster_validity_panel",
    oracle=f"""
    WITH {_EMB_EL_SQL},
    wk AS (
        SELECT e.label,
               CAST(MAX(c.nk) AS BIGINT) AS nk,
               CAST(round(SUM(CAST(round(
                   (CAST(e.x AS DOUBLE) - c.c)
                   * (CAST(e.x AS DOUBLE) - c.c), 12)
                   AS DECIMAL(28,12))), 12) AS DOUBLE) AS w
        FROM el e JOIN cent c ON e.label = c.label AND e.dim = c.dim
        GROUP BY e.label
    ),
    bk AS (
        SELECT c.label,
               CAST(round(SUM(CAST(round((c.c - g.g) * (c.c - g.g), 12)
                   AS DECIMAL(28,12))), 12) AS DOUBLE) AS b2
        FROM cent c JOIN gcent g ON c.dim = g.dim
        GROUP BY c.label
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(wk.nk) AS BIGINT) AS n,
               CAST(round(SUM(CAST(round(wk.w, 9)
                   AS DECIMAL(28,9))), 9) AS DOUBLE) AS w_tot,
               CAST(round(SUM(CAST(round(bk.b2 * wk.nk, 9)
                   AS DECIMAL(28,9))), 9) AS DOUBLE) AS b_tot
        FROM wk JOIN bk ON wk.label = bk.label
    ),
    s AS (
        SELECT label, nk, round(sqrt(w / nk), 9) AS si
        FROM wk
    ),
    dmat AS (
        SELECT a.label AS la,
               MAX((a.si + b.si)
                   / sqrt((SELECT CAST(round(SUM(CAST(round(
                         (ca.c - cb.c) * (ca.c - cb.c), 12)
                         AS DECIMAL(28,12))), 12) AS DOUBLE)
                       FROM cent ca JOIN cent cb
                         ON ca.dim = cb.dim
                        AND ca.label = a.label
                        AND cb.label = b.label))) AS r
        FROM s a JOIN s b ON a.label <> b.label
        GROUP BY a.label
    )
    SELECT agg.k AS n_clusters, agg.n AS n_vectors,
           round((agg.b_tot / (agg.k - 1.0))
                 / (agg.w_tot / (agg.n - agg.k)), 6)
               AS calinski_harabasz,
           round((SELECT SUM(r) FROM dmat) / agg.k, 6)
               AS davies_bouldin
    FROM agg
    """,
)
def cluster_validity_panel(spark, sf_dir):
    """Calinski-Harabasz and Davies-Bouldin indices for the labeled
    embedding clustering: CH = (B/(k-1))/(W/(n-k)) rewards tight,
    well-separated clusters with an F-statistic shape; DB averages
    each cluster's worst (s_i + s_j)/d_ij neighbor ratio. The two
    standard internal validity numbers a vector pipeline checks
    before trusting labels as strata — complementing the silhouette
    twin (per-point view) in this bank. All centroid folds are exact
    DECIMAL sums of float32-cast-to-DECIMAL(18,9) values (the
    embedding tier's doctrine); centroids round at 1e-9 BEFORE
    distance terms, which round at 1e-12 and fold in DECIMAL;
    cluster-pair distances live on the bounded 10x10 label grid.
    Plan: one explode + (label, dim) rollup (map-side partials), one
    point-to-centroid join keyed on (label, dim), bounded centroid
    self-join."""
    el = _emb_el(spark, sf_dir).persist()
    cent = el.groupBy("label", "dim").agg(
        F.round(
            F.sum("x").cast("double") / F.count(F.lit(1)), 9
        ).alias("c"),
        F.count(F.lit(1)).cast("bigint").alias("nk"),
    ).persist()
    gcent = el.groupBy("dim").agg(
        F.round(
            F.sum("x").cast("double") / F.count(F.lit(1)), 9
        ).alias("g")
    )
    wk = (
        el.join(cent, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.max("nk").cast("bigint").alias("nk"),
            F.round(
                F.sum(
                    F.round(
                        (F.col("x").cast("double") - F.col("c"))
                        * (F.col("x").cast("double") - F.col("c")),
                        12,
                    ).cast("decimal(28,12)")
                ),
                12,
            )
            .cast("double")
            .alias("w"),
        )
    ).persist()
    bk = (
        cent.join(F.broadcast(gcent), "dim")
        .groupBy("label")
        .agg(
            F.round(
                F.sum(
                    F.round(
                        (F.col("c") - F.col("g"))
                        * (F.col("c") - F.col("g")),
                        12,
                    ).cast("decimal(28,12)")
                ),
                12,
            )
            .cast("double")
            .alias("b2")
        )
    )
    agg = wk.join(bk, "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("nk").cast("bigint").alias("n"),
        F.round(
            F.sum(F.round(F.col("w"), 9).cast("decimal(28,9)")), 9
        )
        .cast("double")
        .alias("w_tot"),
        F.round(
            F.sum(
                F.round(F.col("b2") * F.col("nk"), 9).cast(
                    "decimal(28,9)"
                )
            ),
            9,
        )
        .cast("double")
        .alias("b_tot"),
    )
    s = wk.select(
        "label",
        F.round(F.sqrt(F.col("w") / F.col("nk")), 9).alias("si"),
    )
    ca = cent.select(
        F.col("label").alias("la"), "dim", F.col("c").alias("c_a")
    )
    cb = cent.select(
        F.col("label").alias("lb"), "dim", F.col("c").alias("c_b")
    )
    cdist = (
        ca.join(cb, "dim")
        .where(F.col("la") != F.col("lb"))
        .groupBy("la", "lb")
        .agg(
            F.round(
                F.sum(
                    F.round(
                        (F.col("c_a") - F.col("c_b"))
                        * (F.col("c_a") - F.col("c_b")),
                        12,
                    ).cast("decimal(28,12)")
                ),
                12,
            )
            .cast("double")
            .alias("d2")
        )
    )
    sa = s.select(F.col("label").alias("la"), F.col("si").alias("si_a"))
    sb = s.select(F.col("label").alias("lb"), F.col("si").alias("si_b"))
    dmat = (
        cdist.join(F.broadcast(sa), "la")
        .join(F.broadcast(sb), "lb")
        .groupBy("la")
        .agg(
            F.max(
                (F.col("si_a") + F.col("si_b")) / F.sqrt(F.col("d2"))
            ).alias("r")
        )
    )
    db = dmat.agg(F.sum("r").alias("rsum"))
    return agg.crossJoin(F.broadcast(db)).select(
        F.col("k").alias("n_clusters"),
        F.col("n").alias("n_vectors"),
        F.round(
            (F.col("b_tot") / (F.col("k") - 1.0))
            / (F.col("w_tot") / (F.col("n") - F.col("k"))),
            6,
        ).alias("calinski_harabasz"),
        F.round(F.col("rsum") / F.col("k"), 6).alias("davies_bouldin"),
    )


# --------------------------------------------------------------------------
# Simplified silhouette (centroid-based) per embedding label
# --------------------------------------------------------------------------
@register(
    "simplified_silhouette_labels",
    oracle=f"""
    WITH {_EMB_EL_SQL},
    pdist AS (
        SELECT e.vec_id, MAX(e.label) AS label, c.label AS clabel,
               round(sqrt(SUM(CAST(round(
                   (CAST(e.x AS DOUBLE) - c.c)
                   * (CAST(e.x AS DOUBLE) - c.c), 12)
                   AS DECIMAL(28,12)))), 9) AS d
        FROM el e JOIN cent c ON e.dim = c.dim
        GROUP BY e.vec_id, c.label
    ),
    ab AS (
        SELECT vec_id, MAX(label) AS label,
               MAX(CASE WHEN clabel = label THEN d END) AS a,
               MIN(CASE WHEN clabel <> label THEN d END) AS b
        FROM pdist GROUP BY vec_id
    ),
    si AS (
        SELECT label,
               round((b - a) / GREATEST(a, b), 9) AS s
        FROM ab
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           round(CAST(round(SUM(CAST(round(s, 9) AS DECIMAL(20,9))), 9)
                      AS DOUBLE) / COUNT(*), 6) + 0.0
               AS mean_silhouette
    FROM si GROUP BY label ORDER BY label
    """,
)
def simplified_silhouette_labels(spark, sf_dir):
    """Simplified (centroid-based) silhouette per embedding label:
    for each vector, a = distance to its own label centroid, b = the
    nearest OTHER centroid, s = (b-a)/max(a,b); the per-label mean
    says which labels are coherent strata and which bleed into
    neighbors. The O(n*k) refinement of the full O(n^2) silhouette —
    the version that survives 100 TB, since each point meets only k
    broadcast centroids. Same exactness doctrine as the validity-
    panel twin: exact DECIMAL centroid folds with one double
    division rounded at 1e-9, per-dim squared terms rounded at 1e-12
    and folded in DECIMAL, distances rounded at 1e-9 before the
    a/b compare, s rounded before the label fold. Plan: one explode
    + (label, dim) rollup, one point x centroid join keyed on dim
    collapsing per (vec_id, centroid), two bounded rollups."""
    el = _emb_el(spark, sf_dir).persist()
    cent = el.groupBy("label", "dim").agg(
        F.round(
            F.sum("x").cast("double") / F.count(F.lit(1)), 9
        ).alias("c")
    )
    cc = cent.select(
        F.col("label").alias("clabel"), "dim", "c"
    )
    pdist = (
        el.join(F.broadcast(cc), "dim")
        .groupBy("vec_id", "clabel")
        .agg(
            F.max("label").alias("label"),
            F.round(
                F.sqrt(
                    F.sum(
                        F.round(
                            (F.col("x").cast("double") - F.col("c"))
                            * (F.col("x").cast("double") - F.col("c")),
                            12,
                        ).cast("decimal(28,12)")
                    )
                ),
                9,
            ).alias("d"),
        )
    )
    ab = pdist.groupBy("vec_id").agg(
        F.max("label").alias("label"),
        F.max(
            F.when(F.col("clabel") == F.col("label"), F.col("d"))
        ).alias("a"),
        F.min(
            F.when(F.col("clabel") != F.col("label"), F.col("d"))
        ).alias("b"),
    )
    si = ab.select(
        "label",
        F.round(
            (F.col("b") - F.col("a"))
            / F.greatest(F.col("a"), F.col("b")),
            9,
        ).alias("s"),
    )
    return (
        si.groupBy(F.col("label").cast("bigint").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            (
                F.round(
                    F.round(
                        F.sum(
                            F.round(F.col("s"), 9).cast("decimal(20,9)")
                        ),
                        9,
                    ).cast("double")
                    / F.count(F.lit(1)),
                    6,
                )
                + 0.0
            ).alias("mean_silhouette"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# HITS hubs & authorities on the customer -> part purchase bipartite graph
# --------------------------------------------------------------------------
@register(
    "hits_hubs_authorities",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    a1 AS (
        SELECT pk, CAST(COUNT(*) AS BIGINT) AS s FROM edges GROUP BY pk
    ),
    h1 AS (
        SELECT e.ck, CAST(SUM(a1.s) AS BIGINT) AS s
        FROM edges e JOIN a1 ON e.pk = a1.pk GROUP BY e.ck
    ),
    a2 AS (
        SELECT e.pk, CAST(SUM(h1.s) AS BIGINT) AS s
        FROM edges e JOIN h1 ON e.ck = h1.ck GROUP BY e.pk
    ),
    h2 AS (
        SELECT e.ck, CAST(SUM(a2.s) AS BIGINT) AS s
        FROM edges e JOIN a2 ON e.pk = a2.pk GROUP BY e.ck
    ),
    na AS (SELECT CAST(SUM(s) AS DECIMAL(38,0)) AS z FROM a2),
    nh AS (SELECT CAST(SUM(s) AS DECIMAL(38,0)) AS z FROM h2),
    topa AS (
        SELECT 'authority' AS role, pk AS node_key,
               round(s / CAST(na.z AS DOUBLE), 9) AS score
        FROM a2, na ORDER BY s DESC, pk ASC LIMIT 10
    ),
    toph AS (
        SELECT 'hub' AS role, ck AS node_key,
               round(s / CAST(nh.z AS DOUBLE), 9) AS score
        FROM h2, nh ORDER BY s DESC, ck ASC LIMIT 10
    )
    SELECT * FROM topa UNION ALL SELECT * FROM toph
    ORDER BY role, score DESC, node_key ASC
    """,
)
def hits_hubs_authorities(spark, sf_dir):
    """HITS (Kleinberg) hubs-and-authorities on the customer -> part
    purchase bipartite graph, two full mutual-reinforcement rounds:
    a1 = in-degree, h1 = sum of neighbor authorities, a2 = sum of
    neighbor hubs, h2 likewise — because each step is LINEAR, the
    per-step normalization constants factor out, so the whole
    iteration runs in EXACT BIGINT arithmetic and normalizes once at
    the end (sum-normalized scores, DECIMAL(38,0) for the global
    sums). Ranks the catalog's consensus-popular parts (authorities)
    and the customers whose baskets concentrate on them (hubs) — the
    eigenvector complement of the registry's PageRank/degree tier.
    Every step is an edge-keyed equi-join + hash rollup (map-side
    partials), the shape that scales to 100 TB of order lines; top-k
    carries (score, key) total orders. Plan: distinct-edge rollup,
    three join+agg rounds, two TakeOrdered heads."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_custkey"
    )
    edges = (
        li.join(o, "l_orderkey")
        .select(
            F.col("o_custkey").alias("ck"),
            F.col("l_partkey").alias("pk"),
        )
        .distinct()
        .persist()
    )
    a1 = edges.groupBy("pk").agg(
        F.count(F.lit(1)).cast("bigint").alias("s")
    )
    h1 = (
        edges.join(a1.withColumnRenamed("s", "as1"), "pk")
        .groupBy("ck")
        .agg(F.sum("as1").cast("bigint").alias("s"))
    )
    a2 = (
        edges.join(h1.withColumnRenamed("s", "hs1"), "ck")
        .groupBy("pk")
        .agg(F.sum("hs1").cast("bigint").alias("s"))
        .persist()
    )
    h2 = (
        edges.join(a2.withColumnRenamed("s", "as2"), "pk")
        .groupBy("ck")
        .agg(F.sum("as2").cast("bigint").alias("s"))
        .persist()
    )
    na = a2.agg(F.sum("s").cast("decimal(38,0)").alias("z"))
    nh = h2.agg(F.sum("s").cast("decimal(38,0)").alias("z"))
    topa = (
        a2.crossJoin(F.broadcast(na))
        .orderBy(F.col("s").desc(), F.col("pk").asc())
        .limit(10)
        .select(
            F.lit("authority").alias("role"),
            F.col("pk").alias("node_key"),
            F.round(
                F.col("s") / F.col("z").cast("double"), 9
            ).alias("score"),
        )
    )
    toph = (
        h2.crossJoin(F.broadcast(nh))
        .orderBy(F.col("s").desc(), F.col("ck").asc())
        .limit(10)
        .select(
            F.lit("hub").alias("role"),
            F.col("ck").alias("node_key"),
            F.round(
                F.col("s") / F.col("z").cast("double"), 9
            ).alias("score"),
        )
    )
    return topa.unionAll(toph).orderBy(
        "role", F.col("score").desc(), F.col("node_key").asc()
    )


# --------------------------------------------------------------------------
# Modularity of the brand partition on the co-purchase graph
# --------------------------------------------------------------------------
@register(
    "modularity_brand_partition",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
    deg AS (
        SELECT pk, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT p1 AS pk FROM edges
              UNION ALL SELECT p2 FROM edges)
        GROUP BY pk
    ),
    brand AS (SELECT p_partkey AS pk, p_brand AS b FROM part),
    ec AS (
        SELECT br1.b,
               CAST(COUNT(*) AS BIGINT) AS e_in
        FROM edges e
        JOIN brand br1 ON e.p1 = br1.pk
        JOIN brand br2 ON e.p2 = br2.pk
        WHERE br1.b = br2.b
        GROUP BY br1.b
    ),
    dc AS (
        SELECT br.b, CAST(SUM(deg.d) AS BIGINT) AS d_sum
        FROM deg JOIN brand br ON deg.pk = br.pk
        GROUP BY br.b
    ),
    q AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_brands,
               CAST(round(SUM(CAST(round(
                   COALESCE(ec.e_in, 0) * 1.0 / m.m
                   - (dc.d_sum / (2.0 * m.m))
                     * (dc.d_sum / (2.0 * m.m)), 12)
                   AS DECIMAL(20,12))), 12) AS DOUBLE) AS q
        FROM dc LEFT JOIN ec ON dc.b = ec.b, m
        GROUP BY m.m
    )
    SELECT m.m AS n_edges, q.n_brands,
           round(q.q, 6) + 0.0 AS modularity_q
    FROM q, m
    """,
)
def modularity_brand_partition(spark, sf_dir):
    """Newman modularity Q of the BRAND partition on the co-purchase
    graph (parts co-occurring in an order, distinct unordered pairs):
    Q = sum_c [ e_c/m - (d_c/2m)^2 ] — does the catalog taxonomy
    explain the purchase graph's community structure, the number that
    says whether brand is a usable shard/mixture key for this graph.
    Complements the registry's discovered-community tier (connected
    components, k-core) by scoring a GIVEN partition instead. Edge
    and degree counts are exact integers (the established bounded
    per-order pair device — order baskets are small, so the self-join
    fanout is k^2 per order, never all-pairs); per-brand terms round
    at 1e-12 and fold in DECIMAL over the 25-brand frame. Plan: one
    order-blocked self-join -> distinct edges, one degree rollup, two
    broadcast brand joins, one bounded fold."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("p2"))
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("p1") < F.col("p2"))
        .select("p1", "p2")
        .distinct()
        .persist()
    )
    m = edges.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    deg = (
        edges.select(F.col("p1").alias("pk"))
        .unionAll(edges.select(F.col("p2").alias("pk")))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    brand = t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pk"), F.col("p_brand").alias("b")
    )
    br1 = brand.select(F.col("pk").alias("p1"), F.col("b").alias("b1"))
    br2 = brand.select(F.col("pk").alias("p2"), F.col("b").alias("b2"))
    ec = (
        edges.join(F.broadcast(br1), "p1")
        .join(F.broadcast(br2), "p2")
        .where(F.col("b1") == F.col("b2"))
        .groupBy(F.col("b1").alias("b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_in"))
    )
    dc = (
        deg.join(F.broadcast(brand), "pk")
        .groupBy("b")
        .agg(F.sum("d").cast("bigint").alias("d_sum"))
    )
    term = F.round(
        F.coalesce(F.col("e_in"), F.lit(0)) * 1.0 / F.col("m")
        - (F.col("d_sum") / (2.0 * F.col("m")))
        * (F.col("d_sum") / (2.0 * F.col("m"))),
        12,
    ).cast("decimal(20,12)")
    q = (
        dc.join(F.broadcast(ec), "b", "left")
        .crossJoin(F.broadcast(m))
        .groupBy("m")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_brands"),
            F.round(F.sum(term), 12).cast("double").alias("q"),
        )
    )
    return q.select(
        F.col("m").alias("n_edges"),
        "n_brands",
        (F.round(F.col("q"), 6) + 0.0).alias("modularity_q"),
    )
