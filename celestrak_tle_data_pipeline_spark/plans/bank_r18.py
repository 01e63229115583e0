"""Round-18 bank (X641+), LIVE since round 18: pre-staged during
rounds 13-17 under the same no-new-debt discipline every flipped bank
(next_window, bank_r11..r17) went through: a stage-only decorator
pre-flip, the two-SF gate mirror in ``tests/test_bank_r18.py``, sf0.1
sweeps via ``tools/check.py --module bank_r18``, the dtype-family
sweep, the authoring-time 64x probe octave (SCALING_PROBES.json /
SCALING.md), and plan-audit notes merged into the effective audit
allowlist automatically at flip time
(``tools/audit_single_partition.py::allowed()``).

At the round-17 flip the seed query here (``mean_excess_slope``, X640)
was promoted into bank_r17's 50th window slot (the
fisher_stouffer_combined / bartlett_sphericity precedent); it was
self-contained, so the move carried no shared frame, and the bank was
restored to 49 the same round (``hodges_lehmann_walsh_ci``, X797). At
the round-18 flip this bank's own 50th window slot is
``updown_runs_test`` (X690), promoted from the round-19 bank — it
uses ``common.py``'s ``DAILY_ORDER_CENTS_SQL``/``daily_order_cents``
frame, so the promotion carries no shared frame either.

Theme (COMPLETE at 49 in round 14): TAIL GEOMETRY, DOMINANCE AND
DISTRIBUTION-FREE CERTIFICATES — the full inequality/poverty/
redistribution bench (Hoover, Zenga/Bonferroni, Wolfson, FGT,
Watts+Sen, GE family, Kakwani, Reynolds-Smolensky, Dagum's
zero-residual Gini decomposition, generalized-Lorenz SSD, relative-
distribution MRP), tail geometry (mean-excess slope, QQ and GPD-
stability estimators, extremal index, max-to-sum, spectral risk,
Rachev/Calmar/Kelly), reliability growth and aging (Laplace,
Crow-AMSAA, Barlow-Proschan TTT, Foster-Stuart records), count-model
score tests (van den Broek ZIP, Dean PB, Ord plot), clustering/
agreement (ARI, FM+B-cubed, VI, PABAK), long-memory and dependence
(aggvar Hurst, Fano timescales, DCCA, Schweizer-Wolff), and the
certificate family (DKW, moment bounds, Berry-Esseen, Lorenz
dominance) a 100 TB pipeline runs on its own readouts.

Determinism disciplines inherited unchanged (bank_r11..r17
docstrings): exact integer/DECIMAL folds, round-before-fold on every
float aggregate, ``+ 0.0`` on possibly-negative-zero outputs,
total-order top-k/argmax tiebreaks, bounded-domain windows or
``exact_cumulative``, the shared Abramowitz-Stegun erfc tree, and the
Acklam inverse-normal device.

Cohort naming (ADVICE r14): the binary day split used across these
banks, ``(epoch_day + 4) % 7 >= 5``, selects FRIDAY+SATURDAY under the
Sun=0..Sat=6 mapping — it is named ``fri_sat`` (complement
``sun_thu``) here. The LIVE r12-r15 banks keep their officially
recorded 'weekend' naming for the same split; bank_r11's weekend
queries use the true Sat/Sun ``isin(0, 6)`` split. 'weekday' in
per-day-of-week panels means the 7-value day-of-week domain.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from . import register as _live_register
from .common import (
    DAILY_ORDER_CENTS_SQL,
    POIS_CDF,
    daily_order_cents,
    dec,
    exact_cumulative,
    phi_col,
    phi_sql,
    t,
)

BANK_QUERIES: dict = {}
BANK_ORACLES: dict = {}
PLAN_AUDIT_NOTES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Registers live via ``plans.register`` AND records the name in
    the bank dicts so ``tests/test_bank_r18.py`` keeps gate-mirroring
    the whole flipped set independently of the registry (the same flip
    protocol bank_r11..r17 used)."""

    live = _live_register(name, oracle)

    def deco(fn):
        BANK_QUERIES[name] = fn
        if oracle is not None:
            BANK_ORACLES[name] = oracle
        return live(fn)

    return deco


# --------------------------------------------------------------------------
# Pointwise Lorenz dominance of customer spend: half 1 vs half 2
# --------------------------------------------------------------------------
@register(
    "lorenz_dominance_check",
    oracle="""
    WITH lab AS (
        SELECT o_custkey AS u,
               CASE WHEN epoch_us(o_orderdate) // 86400000000
                    <= (SELECT (min(epoch_us(o_orderdate))
                                // 86400000000
                                + max(epoch_us(o_orderdate))
                                // 86400000000) // 2 FROM orders)
                    THEN 1 ELSE 2 END AS half,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents
        FROM orders
    ),
    spend AS (
        SELECT half, u, CAST(SUM(cents) AS BIGINT) AS m
        FROM lab GROUP BY half, u
    ),
    grid AS (
        SELECT half, m AS v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(m) AS BIGINT) AS tv
        FROM spend GROUP BY half, m
    ),
    cum AS (
        SELECT half, v,
               CAST(SUM(c) OVER w AS BIGINT) AS cc,
               CAST(SUM(tv) OVER w AS BIGINT) AS cv,
               CAST(SUM(c) OVER (PARTITION BY half) AS BIGINT) AS n,
               CAST(SUM(tv) OVER (PARTITION BY half) AS BIGINT)
                   AS tot
        FROM grid
        WINDOW w AS (PARTITION BY half ORDER BY v
                     ROWS UNBOUNDED PRECEDING)
    ),
    ks AS (SELECT CAST(u.g AS BIGINT) AS k
           FROM LATERAL UNNEST(range(1, 20)) AS u(g)),
    lorenz AS (
        SELECT ks.k, cum.half,
               MAX(round(CAST(cv AS DOUBLE) / tot, 10)) AS lmax
        FROM cum, ks
        WHERE 20 * cum.cc <= ks.k * cum.n
        GROUP BY ks.k, cum.half
    ),
    wide AS (
        SELECT k,
               MAX(CASE WHEN half = 1 THEN lmax END) AS l1,
               MAX(CASE WHEN half = 2 THEN lmax END) AS l2
        FROM lorenz GROUP BY k
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS kk,
               CAST(SUM(CASE WHEN l1 > l2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_h1_above,
               CAST(SUM(CASE WHEN l2 > l1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_h2_above,
               round(MAX(ABS(l1 - l2)), 8) AS max_gap
        FROM wide
    )
    SELECT kk AS n_ventiles, n_h1_above, n_h2_above,
           max_gap + 0.0 AS max_lorenz_gap,
           CAST(CASE WHEN n_h2_above = 0 AND n_h1_above > 0
                     THEN 1
                     WHEN n_h1_above = 0 AND n_h2_above > 0
                     THEN 2 ELSE 0 END AS INT)
               AS dominant_half
    FROM fold
    """,
)
def lorenz_dominance_check(spark, sf_dir):
    """Pointwise LORENZ DOMINANCE between the first- and second-half
    customer-spend distributions at the 19 ventile ordinates: one
    curve everywhere above the other means EVERY relative-
    inequality measure (Gini, Atkinson at any aversion, Theil, GE)
    agrees on which period is more equal — no index choice needed;
    curves that CROSS (both counts positive, dominant_half = 0)
    mean the inequality ranking is index-dependent and any single-
    number comparison is an editorial choice. The
    dominance-theoretic backbone under the whole inequality bench,
    applied across time; the distributional sibling of
    `shorrocks_mobility_index` (who moved) and `gini` deltas
    (how much).

    Exactness: per-half Lorenz ordinates are exact cumulative-
    value/total ratios at exact head-count ventile cuts on the
    half-PARTITIONED spend grids, rounded at 10 dp; dominance
    counts are exact. Plan: one customer rollup, partitioned grid
    cumulatives, a 19-ventile bounded cross, two folds."""
    o = t(spark, sf_dir, "orders")
    cut = o.agg(
        (
            (
                F.floor(F.min(F.unix_micros("o_orderdate")) / 86_400_000_000)
                + F.floor(
                    F.max(F.unix_micros("o_orderdate")) / 86_400_000_000
                )
            )
            / 2
        )
        .cast("bigint")
        .alias("c")
    )
    lab = o.crossJoin(F.broadcast(cut)).select(
        F.col("o_custkey").alias("u"),
        F.when(
            F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
            <= F.col("c"),
            1,
        )
        .otherwise(2)
        .alias("half"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("cents"),
    )
    spend = lab.groupBy("half", "u").agg(
        F.sum("cents").cast("bigint").alias("m")
    )
    grid = spend.groupBy("half", F.col("m").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("m").cast("bigint").alias("tv"),
    )
    # per-(half, bucket) windows (exact_cumulative keyed by half), not
    # per-half windows: |halves| would cap parallelism at two tasks
    acc, _ = exact_cumulative(
        grid,
        ("v",),
        {"pn": F.sum("c"), "ptv": F.sum("tv")},
        keys=("half",),
    )
    cum = acc.select(
        "half",
        "v",
        F.col("cum_pn").cast("bigint").alias("cc"),
        F.col("cum_ptv").cast("bigint").alias("cv"),
        F.col("tot_pn").cast("bigint").alias("n"),
        F.col("tot_ptv").cast("bigint").alias("tot"),
    )
    ks = spark.range(1, 20).select(
        F.col("id").cast("bigint").alias("k")
    )
    lorenz = (
        cum.crossJoin(F.broadcast(ks))
        .where(20 * F.col("cc") <= F.col("k") * F.col("n"))
        .groupBy("k", "half")
        .agg(
            F.max(
                F.round(
                    F.col("cv").cast("double") / F.col("tot"), 10
                )
            ).alias("lmax")
        )
    )
    wide = lorenz.groupBy("k").agg(
        F.max(F.when(F.col("half") == 1, F.col("lmax"))).alias("l1"),
        F.max(F.when(F.col("half") == 2, F.col("lmax"))).alias("l2"),
    )
    fold = wide.agg(
        F.count(F.lit(1)).cast("bigint").alias("kk"),
        F.sum(F.when(F.col("l1") > F.col("l2"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_h1_above"),
        F.sum(F.when(F.col("l2") > F.col("l1"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_h2_above"),
        F.round(F.max(F.abs(F.col("l1") - F.col("l2"))), 8).alias(
            "max_gap"
        ),
    )
    return fold.select(
        F.col("kk").alias("n_ventiles"),
        "n_h1_above",
        "n_h2_above",
        (F.col("max_gap") + 0.0).alias("max_lorenz_gap"),
        F.when(
            (F.col("n_h2_above") == 0) & (F.col("n_h1_above") > 0), 1
        )
        .when(
            (F.col("n_h1_above") == 0) & (F.col("n_h2_above") > 0), 2
        )
        .otherwise(0)
        .cast("int")
        .alias("dominant_half"),
    )



# --------------------------------------------------------------------------
# DKW finite-sample band check of the fitted lognormal
# --------------------------------------------------------------------------
from .stats_tests import _p_two_sided_sql  # noqa: E402


@register(
    "dkw_band_lognormal_check",
    oracle=f"""
    WITH pts AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v,
               round(ln(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                             * 100 AS BIGINT) / 100000.0), 10) AS l
        FROM orders
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               round(CAST(SUM(CAST(round(l, 10) AS DECIMAL(28,10)))
                          AS DOUBLE) / COUNT(*), 10) AS mu,
               round(sqrt((CAST(SUM(CAST(round(l * l, 10)
                                AS DECIMAL(28,10))) AS DOUBLE)
                           - pow(CAST(SUM(CAST(round(l, 10)
                                 AS DECIMAL(28,10))) AS DOUBLE), 2)
                             / COUNT(*)) / COUNT(*)), 10) AS sig
        FROM pts
    ),
    grid AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM pts GROUP BY v
    ),
    cum AS (
        SELECT v,
               CAST(SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS BIGINT) AS f,
               CAST(SUM(c) OVER () AS BIGINT) AS n
        FROM grid
    ),
    dist AS (
        SELECT cum.v, cum.f, cum.n, mom.mu, mom.sig,
               round(1.0 - ({_p_two_sided_sql(
                   '(ln(cum.v / 100000.0) - mom.mu) / mom.sig')})
                     / 2.0, 12) AS cdf_hi,
               round(({_p_two_sided_sql(
                   '(ln(cum.v / 100000.0) - mom.mu) / mom.sig')})
                     / 2.0, 12) AS cdf_lo
        FROM cum, mom
    ),
    gap2 AS (
        SELECT MAX(GREATEST(
                   ABS(CAST(d.f AS DOUBLE) / d.n
                       - CASE WHEN ln(d.v / 100000.0) >= d.mu
                              THEN d.cdf_hi ELSE d.cdf_lo END),
                   ABS(CAST(d.f - 1 AS DOUBLE) / d.n
                       - CASE WHEN ln(d.v / 100000.0) >= d.mu
                              THEN d.cdf_hi ELSE d.cdf_lo END)))
                   AS supgap
        FROM dist d
    )
    SELECT mom.n AS n_orders,
           round(gap2.supgap, 8) + 0.0 AS sup_ecdf_gap,
           round(sqrt(ln(2.0 / 0.05) / (2.0 * mom.n)), 8) + 0.0
               AS dkw_epsilon_95,
           CAST(CASE WHEN gap2.supgap
                          <= sqrt(ln(2.0 / 0.05) / (2.0 * mom.n))
                     THEN 1 ELSE 0 END AS INT) AS inside_dkw_band
    FROM mom, gap2
    """,
)
def dkw_band_lognormal_check(spark, sf_dir):
    """DKW FINITE-SAMPLE band check of the fitted lognormal: the sup
    gap between the order-value ECDF (evaluated above and below
    every distinct value) and the MLE lognormal CDF, against the
    Dvoretzky-Kiefer-Wolfowitz 95% envelope sqrt(ln(2/alpha)/(2n))
    — unlike the asymptotic tests (`lilliefors_normal_fit`,
    `ks_exponential_gaps`), DKW is a NON-asymptotic guarantee: the
    band holds at every n with no critical-value table, so
    inside_dkw_band = 1 is a finite-sample certificate that the
    lognormal (the `lognormal_vs_exponential_fit` winner) is
    indistinguishable from the data at 95% — the model-acceptance
    complement to that query's model-SELECTION verdict. The
    lognormal CDF splits the shared erfc tree by the sign of the
    standardized log (identical CASE both engines).

    Exactness: mu/sigma are 10-dp rounded log-moment folds; ECDF
    counts are exact on the cents grid; the sup is an order-free
    MAX of 12-dp rounded terms. Plan: one fold, one bucketed grid
    cumulative, one fold.

    Scale (r18 optimization): the order-value cents grid is
    near-unique per order and grows with volume (the kakwani mover
    class), so the global ``Window.orderBy(v)`` ECDF cumulative +
    whole-frame n single-tasked the grid. The inclusive prefix and n
    now ride ``exact_cumulative`` (in-bucket window + broadcast
    bucket offsets and total). head/f values are bit-identical (exact
    BIGINT sums, order-independent)."""
    o = t(spark, sf_dir, "orders")
    cents = (dec("o_totalprice", 18, 2) * 100).cast("bigint")
    pts = o.select(cents.alias("v")).where(F.col("v").isNotNull())
    grid = pts.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # r19: the log-moment fold rides the SAME value grid as the ECDF
    # instead of a second row-grain pass — l is a pure function of v,
    # so the row sum equals the grid sum of c * l(v) in exact DECIMAL
    # (bit-identical mu/sig); one orders scan total.
    lv = F.round(F.log(F.col("v") / 100000.0), 10)
    nsum = F.sum("c")
    mom = grid.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.round(
            F.sum(
                F.round(lv, 10).cast("decimal(28,10)") * F.col("c")
            ).cast("double")
            / nsum,
            10,
        ).alias("mu"),
        F.round(
            F.sqrt(
                (
                    F.sum(
                        F.round(lv * lv, 10).cast("decimal(28,10)")
                        * F.col("c")
                    ).cast("double")
                    - F.pow(
                        F.sum(
                            F.round(lv, 10).cast("decimal(28,10)")
                            * F.col("c")
                        ).cast("double"),
                        2,
                    )
                    / nsum
                )
                / nsum
            ),
            10,
        ).alias("sig"),
    )
    acc, _ = exact_cumulative(grid, ("v",), {"pn": F.sum("c")})
    cum = acc.select(
        "v",
        F.col("cum_pn").cast("bigint").alias("f"),
        F.col("tot_pn").alias("n"),
    )
    z = (F.log(F.col("v") / 100000.0) - F.col("mu")) / F.col("sig")
    x = F.abs(z) / 1.4142135623730951
    tp = 1.0 / (1.0 + 0.3275911 * x)
    ptwo = (
        (
            ((1.061405429 * tp - 1.453152027) * tp + 1.421413741) * tp
            - 0.284496736
        )
        * tp
        + 0.254829592
    ) * tp * F.exp(-x * x)
    cdf_hi = F.round(1.0 - ptwo / 2.0, 12)
    cdf_lo = F.round(ptwo / 2.0, 12)
    dist = cum.crossJoin(F.broadcast(mom)).select(
        "v",
        "f",
        cum.n.alias("nn"),
        "mu",
        "sig",
        cdf_hi.alias("cdf_hi"),
        cdf_lo.alias("cdf_lo"),
    )
    cdf = F.when(
        F.log(F.col("v") / 100000.0) >= F.col("mu"), F.col("cdf_hi")
    ).otherwise(F.col("cdf_lo"))
    gap2 = dist.agg(
        F.max(
            F.greatest(
                F.abs(F.col("f").cast("double") / F.col("nn") - cdf),
                F.abs(
                    (F.col("f") - 1).cast("double") / F.col("nn") - cdf
                ),
            )
        ).alias("supgap")
    )
    return mom.crossJoin(F.broadcast(gap2)).select(
        F.col("n").alias("n_orders"),
        (F.round("supgap", 8) + 0.0).alias("sup_ecdf_gap"),
        (
            F.round(
                F.sqrt(F.log(F.lit(2.0 / 0.05)) / (2.0 * F.col("n"))),
                8,
            )
            + 0.0
        ).alias("dkw_epsilon_95"),
        F.when(
            F.col("supgap")
            <= F.sqrt(F.log(F.lit(2.0 / 0.05)) / (2.0 * F.col("n"))),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("inside_dkw_band"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "dkw_band_lognormal_check": (
            "INFO: no single-partition window since the r18 "
            "optimization rewrite — the ECDF cumulative rides the "
            "bounds-derived value-bucket device (kakwani twin); note "
            "kept for the history, excluded from the effective "
            "allowlist"
        ),
    }
)


# --------------------------------------------------------------------------
# Shared frames: per-customer spend (cents) and the order-value grid
# --------------------------------------------------------------------------
_SPEND_SQL = """
    spend AS (
        SELECT o_custkey AS u,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS m
        FROM orders GROUP BY o_custkey
    )
"""

_SPEND_GRID_SQL = f"""
    {_SPEND_SQL},
    grid AS (
        SELECT m AS v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(m) AS BIGINT) AS tv
        FROM spend GROUP BY m
    )
"""


def _spend(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_custkey").alias("u")).agg(
        F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("m")
    )


def _spend_grid(spark, sf_dir):
    return (
        _spend(spark, sf_dir)
        .groupBy(F.col("m").alias("v"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.sum("m").cast("bigint").alias("tv"),
        )
    )


# --------------------------------------------------------------------------
# Hoover / Pietra / Schutz index of customer-spend inequality
# --------------------------------------------------------------------------
@register(
    "hoover_pietra_index",
    oracle=f"""
    WITH {_SPEND_SQL},
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(m) AS BIGINT) AS s
        FROM spend
    ),
    fold AS (
        SELECT tot.n, tot.s,
               CAST(SUM(abs(CAST(spend.m AS DECIMAL(38,0)) * tot.n
                            - CAST(tot.s AS DECIMAL(38,0))))
                    AS DECIMAL(38,0)) AS num
        FROM spend, tot GROUP BY tot.n, tot.s
    )
    SELECT n AS n_customers,
           round(CAST(num AS DOUBLE)
                 / (2.0 * CAST(n AS DOUBLE) * CAST(s AS DOUBLE)), 8)
               + 0.0 AS hoover_index,
           round(CAST(num AS DOUBLE) / CAST(n AS DOUBLE)
                 / CAST(n AS DOUBLE) / 100000.0, 6) + 0.0
               AS mad_kusd
    FROM fold
    """,
)
def hoover_pietra_index(spark, sf_dir):
    """HOOVER (= Pietra = Schutz = Robin Hood) index of customer-spend
    inequality: H = sum|x_i - mu| / (2*sum x) — the share of total
    spend that would have to move to equalize everyone, and exactly
    the maximum vertical gap between the Lorenz curve and the
    diagonal. Completes the inequality bench alongside Gini
    (`customer_inequality_panel`), Atkinson, Palma and Theil: H is
    the L1 member of the family and the one with the direct
    mass-transfer reading a mixture-budget planner uses.

    Exactness: |n*x_i - S| folds entirely in DECIMAL(38,0) integers
    (n*x_i <= ~1e9 * 1e9 cents at extreme scale, the summed fold
    stays < 1e38); only the final two readouts divide in doubles.
    Plan: one custkey rollup, one broadcast scalar join, one fold —
    map-side combinable everywhere, nothing at data grain below the
    rollup."""
    spend = _spend(spark, sf_dir)
    tot = spend.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("m").cast("bigint").alias("s"),
    )
    fold = (
        spend.crossJoin(F.broadcast(tot))
        .groupBy("n", "s")
        .agg(
            F.sum(
                F.abs(
                    F.col("m").cast("decimal(38,0)") * F.col("n")
                    - F.col("s").cast("decimal(38,0)")
                )
            )
            .cast("decimal(38,0)")
            .alias("num")
        )
    )
    return fold.select(
        F.col("n").alias("n_customers"),
        (
            F.round(
                F.col("num").cast("double")
                / (
                    2.0
                    * F.col("n").cast("double")
                    * F.col("s").cast("double")
                ),
                8,
            )
            + 0.0
        ).alias("hoover_index"),
        (
            F.round(
                F.col("num").cast("double")
                / F.col("n").cast("double")
                / F.col("n").cast("double")
                / 100000.0,
                6,
            )
            + 0.0
        ).alias("mad_kusd"),
    )


# --------------------------------------------------------------------------
# Gastwirth / trimean / midhinge robust-location panel
# --------------------------------------------------------------------------
@register(
    "gastwirth_trimean_panel",
    oracle="""
    WITH pts AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    grid AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM pts GROUP BY v
    ),
    cum AS (
        SELECT v,
               SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                   AS cc,
               SUM(c) OVER () AS n
        FROM grid
    ),
    ps AS (
        SELECT CAST(u.k AS BIGINT) AS k,
               CASE u.k WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 3 THEN 2
                        WHEN 4 THEN 1 WHEN 5 THEN 3 END AS num,
               CASE u.k WHEN 1 THEN 3 WHEN 2 THEN 2 WHEN 3 THEN 3
                        WHEN 4 THEN 4 WHEN 5 THEN 4 END AS den
        FROM LATERAL UNNEST(range(1, 6)) AS u(k)
    ),
    qs AS (
        SELECT ps.k,
               (SELECT CAST(MIN(v) AS BIGINT) FROM cum
                WHERE ps.den * cc >= ps.num * n) AS q
        FROM ps
    ),
    wide AS (
        SELECT MAX(CASE WHEN k = 1 THEN q END) AS q13,
               MAX(CASE WHEN k = 2 THEN q END) AS q50,
               MAX(CASE WHEN k = 3 THEN q END) AS q23,
               MAX(CASE WHEN k = 4 THEN q END) AS q25,
               MAX(CASE WHEN k = 5 THEN q END) AS q75
        FROM qs
    )
    SELECT (SELECT CAST(MAX(n) AS BIGINT) FROM cum) AS n_orders,
           round((0.3 * q13 + 0.4 * q50 + 0.3 * q23) / 100.0, 2)
               + 0.0 AS gastwirth_usd,
           round((q25 + 2 * q50 + q75) / 400.0, 2) + 0.0
               AS trimean_usd,
           round((q25 + q75) / 200.0, 2) + 0.0 AS midhinge_usd,
           round((q75 - q25) / 100.0, 2) + 0.0 AS iqr_usd
    FROM wide
    """,
)
def gastwirth_trimean_panel(spark, sf_dir):
    """GASTWIRTH estimator (0.3*Q(1/3) + 0.4*Q(1/2) + 0.3*Q(2/3)),
    Tukey TRIMEAN ((Q1 + 2*median + Q3)/4), MIDHINGE and IQR of the
    order-value distribution — the classical high-efficiency robust
    location estimators built purely from order statistics (Gastwirth
    is minimax over a wide contamination class; the trimean is the
    EDA standard). Complements `huber_one_step_location` (M-estimator
    family) and `shorth_lms_location` (mode family) with the
    L-estimator family the registry lacked.

    Exactness: every quantile is an exact LOWER order statistic from
    the cents-grid cumulative via integer threshold compares
    (den*cc >= num*n); the fixed-weight blends are exact decimal
    literals over integer cents. Plan: one value rollup, one
    domain-bounded grid cumulative, one 5-row broadcast threshold
    join."""
    o = t(spark, sf_dir, "orders")
    grid = (
        o.select(
            (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v")
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cum = grid.select(
        "v",
        F.sum("c")
        .over(
            Window.orderBy("v").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cc"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    ).persist()
    ps = spark.createDataFrame(
        [(1, 1, 3), (2, 1, 2), (3, 2, 3), (4, 1, 4), (5, 3, 4)],
        "k long, num long, den long",
    )
    qs = (
        cum.crossJoin(F.broadcast(ps))
        .where(F.col("den") * F.col("cc") >= F.col("num") * F.col("n"))
        .groupBy("k")
        .agg(F.min("v").cast("bigint").alias("q"))
    )
    wide = qs.agg(
        F.max(F.when(F.col("k") == 1, F.col("q"))).alias("q13"),
        F.max(F.when(F.col("k") == 2, F.col("q"))).alias("q50"),
        F.max(F.when(F.col("k") == 3, F.col("q"))).alias("q23"),
        F.max(F.when(F.col("k") == 4, F.col("q"))).alias("q25"),
        F.max(F.when(F.col("k") == 5, F.col("q"))).alias("q75"),
    )
    n = cum.agg(F.max("n").cast("bigint").alias("n_orders"))
    return wide.crossJoin(F.broadcast(n)).select(
        "n_orders",
        (
            F.round(
                (
                    0.3 * F.col("q13")
                    + 0.4 * F.col("q50")
                    + 0.3 * F.col("q23")
                )
                / 100.0,
                2,
            )
            + 0.0
        ).alias("gastwirth_usd"),
        (
            F.round(
                (F.col("q25") + 2 * F.col("q50") + F.col("q75"))
                / 400.0,
                2,
            )
            + 0.0
        ).alias("trimean_usd"),
        (
            F.round((F.col("q25") + F.col("q75")) / 200.0, 2) + 0.0
        ).alias("midhinge_usd"),
        (
            F.round((F.col("q75") - F.col("q25")) / 100.0, 2) + 0.0
        ).alias("iqr_usd"),
    )


# --------------------------------------------------------------------------
# Foster-Greer-Thorbecke poverty panel at half-median poverty line
# --------------------------------------------------------------------------
@register(
    "fgt_poverty_panel",
    oracle=f"""
    WITH {_SPEND_GRID_SQL},
    cum AS (
        SELECT v,
               SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                   AS cc,
               SUM(c) OVER () AS n
        FROM grid
    ),
    med AS (
        SELECT CAST(MIN(v) AS BIGINT) AS m,
               CAST(MAX(n) AS BIGINT) AS n
        FROM cum WHERE 2 * cc >= n
    ),
    fold AS (
        SELECT med.n, med.m,
               CAST(SUM(CASE WHEN 2 * g.v < med.m THEN g.c
                             ELSE 0 END) AS BIGINT) AS q,
               CAST(SUM(CASE WHEN 2 * g.v < med.m
                             THEN CAST(g.c AS DECIMAL(38,0))
                                  * (med.m - 2 * g.v)
                             ELSE 0 END) AS DECIMAL(38,0)) AS gap1,
               CAST(SUM(CASE WHEN 2 * g.v < med.m
                             THEN CAST(g.c AS DECIMAL(38,0))
                                  * CAST(med.m - 2 * g.v
                                         AS DECIMAL(38,0))
                                  * (med.m - 2 * g.v)
                             ELSE 0 END) AS DECIMAL(38,0)) AS gap2
        FROM grid g, med GROUP BY med.n, med.m
    )
    SELECT n AS n_customers,
           round(m / 200.0, 2) + 0.0 AS poverty_line_usd,
           round(CAST(q AS DOUBLE) / n, 8) + 0.0 AS headcount_ratio,
           round(CAST(gap1 AS DOUBLE) / CAST(m AS DOUBLE) / n, 8)
               + 0.0 AS poverty_gap_index,
           round(CAST(gap2 AS DOUBLE) / CAST(m AS DOUBLE)
                 / CAST(m AS DOUBLE) / n, 8) + 0.0
               AS poverty_severity
    FROM fold
    """,
)
def fgt_poverty_panel(spark, sf_dir):
    """FOSTER-GREER-THORBECKE poverty indices FGT(0/1/2) of customer
    spend against the relative poverty line z = half the median
    spend (the OECD convention): headcount ratio, poverty-gap index
    (mean normalized shortfall) and squared-gap severity — the
    decomposable poverty family, here reading "low-engagement
    customers" the way `palma_quintile_shares` reads the top end.
    FGT2's squared weighting is what distinguishes many-slightly-
    below from few-far-below — invisible to the headcount.

    Exactness: the median is an exact lower order statistic from the
    spend grid; the line is kept 2x-scaled (2v < m) so no division
    ever happens before the fold; gap sums are exact DECIMAL(38,0)
    integers (c * (m-2v)^2 <= 1e9 * 1e18 * n stays < 1e38 for any
    realistic customer count). Plan: one custkey rollup, one
    domain-bounded grid cumulative, one broadcast scalar, one fold."""
    grid = _spend_grid(spark, sf_dir).persist()
    cum = grid.select(
        "v",
        F.sum("c")
        .over(
            Window.orderBy("v").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cc"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    med = cum.where(2 * F.col("cc") >= F.col("n")).agg(
        F.min("v").cast("bigint").alias("m"),
        F.max("n").cast("bigint").alias("n"),
    )
    poor = 2 * F.col("v") < F.col("m")
    g1 = F.col("m") - 2 * F.col("v")
    fold = (
        grid.crossJoin(F.broadcast(med))
        .groupBy("n", "m")
        .agg(
            F.sum(F.when(poor, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("q"),
            F.sum(
                F.when(
                    poor, F.col("c").cast("decimal(38,0)") * g1
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            )
            .cast("decimal(38,0)")
            .alias("gap1"),
            F.sum(
                F.when(
                    poor,
                    F.col("c").cast("decimal(38,0)")
                    * g1.cast("decimal(38,0)")
                    * g1,
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            )
            .cast("decimal(38,0)")
            .alias("gap2"),
        )
    )
    return fold.select(
        F.col("n").alias("n_customers"),
        (F.round(F.col("m") / 200.0, 2) + 0.0).alias(
            "poverty_line_usd"
        ),
        (
            F.round(F.col("q").cast("double") / F.col("n"), 8) + 0.0
        ).alias("headcount_ratio"),
        (
            F.round(
                F.col("gap1").cast("double")
                / F.col("m").cast("double")
                / F.col("n"),
                8,
            )
            + 0.0
        ).alias("poverty_gap_index"),
        (
            F.round(
                F.col("gap2").cast("double")
                / F.col("m").cast("double")
                / F.col("m").cast("double")
                / F.col("n"),
                8,
            )
            + 0.0
        ).alias("poverty_severity"),
    )


# --------------------------------------------------------------------------
# Watts index + Sen poverty index (with Gini among the poor)
# --------------------------------------------------------------------------
@register(
    "watts_sen_poverty",
    oracle=f"""
    WITH {_SPEND_GRID_SQL},
    cum AS (
        SELECT v,
               SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                   AS cc,
               SUM(c) OVER () AS n
        FROM grid
    ),
    med AS (
        SELECT CAST(MIN(v) AS BIGINT) AS m,
               CAST(MAX(n) AS BIGINT) AS n
        FROM cum WHERE 2 * cc >= n
    ),
    poor AS (
        SELECT g.v, g.c, med.m, med.n,
               SUM(g.c) OVER (ORDER BY g.v ROWS BETWEEN UNBOUNDED
                              PRECEDING AND 1 PRECEDING) AS head
        FROM grid g, med WHERE 2 * g.v < med.m
    ),
    fold AS (
        SELECT MAX(m) AS m, MAX(n) AS n,
               CAST(SUM(c) AS BIGINT) AS q,
               CAST(SUM(CAST(c AS DECIMAL(38,0)) * v)
                    AS DECIMAL(38,0)) AS tpoor,
               CAST(SUM(CAST(c AS DECIMAL(38,0)) * v
                        * (2 * COALESCE(head, 0) + c + 1))
                    AS DECIMAL(38,0)) AS two_ix,
               CAST(SUM(CAST(round(ln(CAST(m AS DOUBLE)
                                      / (2.0 * v)), 6)
                             AS DECIMAL(28,6)) * c) AS DOUBLE)
                   AS watts_sum
        FROM poor
    )
    SELECT n AS n_customers, q AS n_poor,
           round(watts_sum / n, 6) + 0.0 AS watts_index,
           round(1.0 - 2.0 * CAST(tpoor AS DOUBLE)
                 / (CAST(q AS DOUBLE) * m), 8) + 0.0
               AS income_gap_ratio,
           round((CAST(two_ix AS DOUBLE)
                  - (q + 1) * CAST(tpoor AS DOUBLE))
                 / (CAST(q AS DOUBLE)
                    * CAST(tpoor AS DOUBLE)), 8) + 0.0
               AS gini_poor,
           round(CAST(q AS DOUBLE) / n
                 * ((1.0 - 2.0 * CAST(tpoor AS DOUBLE)
                     / (CAST(q AS DOUBLE) * m))
                    + (1.0 - (1.0 - 2.0 * CAST(tpoor AS DOUBLE)
                              / (CAST(q AS DOUBLE) * m)))
                      * (CAST(two_ix AS DOUBLE)
                         - (q + 1) * CAST(tpoor AS DOUBLE))
                      / (CAST(q AS DOUBLE)
                         * CAST(tpoor AS DOUBLE))), 8) + 0.0
               AS sen_index
    FROM fold
    """,
)
def watts_sen_poverty(spark, sf_dir):
    """WATTS index (mean log shortfall of the poor, the only poverty
    measure satisfying all of Zheng's axioms) and SEN's composite
    poverty index S = H*(I + (1-I)*G_p) over the half-median line z =
    m/2: H from `fgt_poverty_panel`'s headcount, I the income-gap
    ratio among the poor, and G_p the GINI AMONG THE POOR via the
    exact tie-aware rank identity 2*sum(i*x_(i)) = sum_g v*c*(2*head
    + c + 1) on the grid — distribution-sensitivity that FGT1 lacks
    and FGT2 buys with a different (squared) functional form.

    Exactness: the poor-grid exclusive-prefix cumulative and all rank
    sums are exact DECIMAL(38,0) integers; ln(z/x) of exact rationals
    PINS at 6 dp before folding (an 8-dp pin flipped a term at a
    rounding boundary across the two libms at sf0.01 — the
    ledoit_wolf pin lesson) and Watts reads at 6 dp; z stays
    2x-scaled everywhere.
    Plan: one custkey rollup, two domain-bounded grid cumulatives,
    one fold."""
    grid = _spend_grid(spark, sf_dir).persist()
    cum = grid.select(
        "v",
        F.sum("c")
        .over(
            Window.orderBy("v").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cc"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    med = cum.where(2 * F.col("cc") >= F.col("n")).agg(
        F.min("v").cast("bigint").alias("m"),
        F.max("n").cast("bigint").alias("n"),
    )
    poor = (
        grid.crossJoin(F.broadcast(med))
        .where(2 * F.col("v") < F.col("m"))
        .select(
            "v",
            "c",
            "m",
            "n",
            F.sum("c")
            .over(
                Window.orderBy("v").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            )
            .alias("head"),
        )
    )
    fold = poor.agg(
        F.max("m").alias("m"),
        F.max("n").alias("n"),
        F.sum("c").cast("bigint").alias("q"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("v"))
        .cast("decimal(38,0)")
        .alias("tpoor"),
        F.sum(
            F.col("c").cast("decimal(38,0)")
            * F.col("v")
            * (2 * F.coalesce(F.col("head"), F.lit(0)) + F.col("c") + 1)
        )
        .cast("decimal(38,0)")
        .alias("two_ix"),
        F.sum(
            F.round(
                F.log(F.col("m").cast("double") / (2.0 * F.col("v"))),
                6,
            ).cast("decimal(28,6)")
            * F.col("c")
        )
        .cast("double")
        .alias("watts_sum"),
    )
    igr = 1.0 - 2.0 * F.col("tpoor").cast("double") / (
        F.col("q").cast("double") * F.col("m")
    )
    gp = (
        F.col("two_ix").cast("double")
        - (F.col("q") + 1) * F.col("tpoor").cast("double")
    ) / (F.col("q").cast("double") * F.col("tpoor").cast("double"))
    return fold.select(
        F.col("n").alias("n_customers"),
        F.col("q").alias("n_poor"),
        (F.round(F.col("watts_sum") / F.col("n"), 6) + 0.0).alias(
            "watts_index"
        ),
        (F.round(igr, 8) + 0.0).alias("income_gap_ratio"),
        (F.round(gp, 8) + 0.0).alias("gini_poor"),
        (
            F.round(
                F.col("q").cast("double")
                / F.col("n")
                * (igr + (1.0 - igr) * gp),
                8,
            )
            + 0.0
        ).alias("sen_index"),
    )


# --------------------------------------------------------------------------
# Max-to-sum ratio diagnostics for the first four moments
# --------------------------------------------------------------------------
@register(
    "max_to_sum_ratios",
    oracle="""
    WITH grid AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2))
                    AS DECIMAL(10,2)) AS v,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1
    ),
    pows AS (
        SELECT v, c,
               CAST(round(v * v, 2) AS DECIMAL(20,2)) AS v2
        FROM grid
    ),
    pows3 AS (
        SELECT v, c, v2,
               CAST(round(v2 * v, 2) AS DECIMAL(20,2)) AS v3
        FROM pows
    ),
    pows4 AS (
        SELECT v, c, v2, v3,
               CAST(round(v3 * v, 2) AS DECIMAL(25,2)) AS v4
        FROM pows3
    ),
    fold AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(MAX(v) AS DOUBLE) AS m1,
               CAST(MAX(v2) AS DOUBLE) AS m2,
               CAST(MAX(v3) AS DOUBLE) AS m3,
               CAST(MAX(v4) AS DOUBLE) AS m4,
               CAST(SUM(CAST(c AS DECIMAL(12,0)) * v) AS DOUBLE)
                   AS s1,
               CAST(SUM(CAST(c AS DECIMAL(12,0)) * v2) AS DOUBLE)
                   AS s2,
               CAST(SUM(CAST(c AS DECIMAL(12,0)) * v3) AS DOUBLE)
                   AS s3,
               CAST(SUM(CAST(c AS DECIMAL(12,0)) * v4) AS DOUBLE)
                   AS s4
        FROM pows4
    )
    SELECT n AS n_orders,
           round(m1 / s1, 10) + 0.0 AS r1,
           round(m2 / s2, 10) + 0.0 AS r2,
           round(m3 / s3, 10) + 0.0 AS r3,
           round(m4 / s4, 10) + 0.0 AS r4,
           CAST(CASE WHEN round(m4 / s4, 10) > 0.05 THEN 4
                     WHEN round(m3 / s3, 10) > 0.05 THEN 3
                     WHEN round(m2 / s2, 10) > 0.05 THEN 2
                     WHEN round(m1 / s1, 10) > 0.05 THEN 1
                     ELSE 0 END AS INT) AS first_divergent_moment
    FROM fold
    """,
)
def max_to_sum_ratios(spark, sf_dir):
    """MAX-TO-SUM ratio diagnostic R_n(p) = max(X^p)/sum(X^p) for
    p = 1..4 (Embrechts-Kluppelberg-Mikosch): R_n(p) -> 0 iff
    E[X^p] < infinity, so the first p whose ratio stays away from 0
    names the first DIVERGENT moment — the zero-assumption
    companion to `mean_excess_slope` and the L-moment panel (a
    sample with finite mean but infinite variance shows r1 ~ 0,
    r2 >> 0). On heavy-tailed web data this is the single cheapest
    "can I even trust a variance?" certificate.

    Exactness: dollar values are exact DECIMAL(10,2); each power is
    the exact decimal product ROUNDED at 2 dp then re-bounded
    (DECIMAL(14/18/25,2)) so every DuckDB multiply stays under the
    38-digit precision cap even with the count multiplier (the raw
    p1+p2 precision rule overflows at v^3); both engines carry the
    identical 2-dp powers, sums fold exactly, and the ratios read at
    10 dp where a 2-dp power is noise-free. Plan: one value rollup,
    one fold — no window, no join."""
    o = t(spark, sf_dir, "orders")
    grid = (
        o.select(dec("o_totalprice", 10, 2).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    v = F.col("v")
    pows = grid.select(
        "v", "c", F.round(v * v, 2).cast("decimal(20,2)").alias("v2")
    )
    pows = pows.select(
        "v",
        "c",
        "v2",
        F.round(F.col("v2") * v, 2).cast("decimal(20,2)").alias("v3"),
    )
    pows = pows.select(
        "v",
        "c",
        "v2",
        "v3",
        F.round(F.col("v3") * v, 2).cast("decimal(25,2)").alias("v4"),
    )
    cc = F.col("c").cast("decimal(12,0)")
    fold = pows.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.max(v).cast("double").alias("m1"),
        F.max("v2").cast("double").alias("m2"),
        F.max("v3").cast("double").alias("m3"),
        F.max("v4").cast("double").alias("m4"),
        F.sum(cc * v).cast("double").alias("s1"),
        F.sum(cc * F.col("v2")).cast("double").alias("s2"),
        F.sum(cc * F.col("v3")).cast("double").alias("s3"),
        F.sum(cc * F.col("v4")).cast("double").alias("s4"),
    )
    r1 = F.round(F.col("m1") / F.col("s1"), 10)
    r2 = F.round(F.col("m2") / F.col("s2"), 10)
    r3 = F.round(F.col("m3") / F.col("s3"), 10)
    r4 = F.round(F.col("m4") / F.col("s4"), 10)
    return fold.select(
        F.col("n").alias("n_orders"),
        (r1 + 0.0).alias("r1"),
        (r2 + 0.0).alias("r2"),
        (r3 + 0.0).alias("r3"),
        (r4 + 0.0).alias("r4"),
        F.when(r4 > 0.05, 4)
        .when(r3 > 0.05, 3)
        .when(r2 > 0.05, 2)
        .when(r1 > 0.05, 1)
        .otherwise(0)
        .cast("int")
        .alias("first_divergent_moment"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "gastwirth_trimean_panel": (
            "one cumulative over the cents value grid + a 5-row "
            "broadcast threshold join (the mean_excess_slope class)"
        ),
        "fgt_poverty_panel": (
            "one cumulative over the customer-spend value grid "
            "(domain-bounded — the lorenz_dominance class)"
        ),
        "watts_sen_poverty": (
            "median cumulative + exclusive-prefix rank cumulative "
            "over the poor half of the spend grid (the "
            "lorenz_dominance class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Zenga curve + Bonferroni index at the 19 ventile ordinates
# --------------------------------------------------------------------------
@register(
    "zenga_bonferroni_ordinates",
    oracle=f"""
    WITH {_SPEND_GRID_SQL},
    cum AS (
        SELECT v,
               SUM(c) OVER w AS cc,
               SUM(tv) OVER w AS cv,
               SUM(c) OVER () AS n,
               SUM(tv) OVER () AS tot
        FROM grid
        WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
    ),
    ks AS (SELECT CAST(u.g AS BIGINT) AS k
           FROM LATERAL UNNEST(range(1, 20)) AS u(g)),
    lorenz AS (
        SELECT ks.k,
               COALESCE(MAX(CASE WHEN 20 * cum.cc <= ks.k * cum.n
                       THEN round(CAST(cv AS DOUBLE) / tot, 10)
                       END), 0.0) AS l
        FROM cum CROSS JOIN ks
        GROUP BY ks.k
    ),
    zen AS (
        SELECT k, l,
               round(1.0 - l * (20 - k) / (k * (1.0 - l)), 8) AS z
        FROM lorenz
    ),
    fold AS (
        SELECT CAST(SUM(CAST(round(z, 8) AS DECIMAL(18,8)))
                    AS DOUBLE) / 19 AS zbar,
               1.0 - CAST(SUM(CAST(round(20.0 * l / k, 10)
                                   AS DECIMAL(18,10)))
                          AS DOUBLE) / 19 AS bonf
        FROM zen
    )
    SELECT (SELECT CAST(MAX(n) AS BIGINT) FROM cum) AS n_customers,
           (SELECT round(z, 6) + 0.0 FROM zen WHERE k = 5) AS z25,
           (SELECT round(z, 6) + 0.0 FROM zen WHERE k = 10) AS z50,
           (SELECT round(z, 6) + 0.0 FROM zen WHERE k = 15) AS z75,
           round(zbar, 6) + 0.0 AS zenga_mean_19,
           round(bonf, 6) + 0.0 AS bonferroni_19
    FROM fold
    """,
)
def zenga_bonferroni_ordinates(spark, sf_dir):
    """ZENGA-07 curve Z(p) = 1 - [L(p)/p]*[(1-p)/(1-L(p))] (the ratio
    of the lower-group mean to the upper-group mean, subtracted from
    one) at the 19 ventile ordinates, with its mean as the Zenga
    index, plus the BONFERRONI index 1 - mean(L(p)/p) on the same
    grid — the two modern inequality indices that weight the LOW end
    of the distribution far more than Gini does (Bonferroni's kernel
    is 1/p), completing the inequality bench's sensitivity spectrum:
    Gini (middle), Palma/top-share (top), Zenga/Bonferroni (bottom).

    Exactness: L(p) at each ordinate is the exact grid Lorenz
    ordinate (integer compare 20*cc <= k*n, cv/tot rounded at 10 dp
    — the lorenz_dominance_check convention); the 19-term means fold
    rounded terms through DECIMAL. Plan: one custkey rollup, one
    domain-bounded grid cumulative, one 19-row broadcast, two
    folds."""
    grid = _spend_grid(spark, sf_dir)
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grid.select(
        "v",
        F.sum("c").over(w).alias("cc"),
        F.sum("tv").over(w).alias("cv"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
        F.sum("tv").over(Window.partitionBy()).alias("tot"),
    ).persist()
    ks = spark.range(1, 20).select(
        F.col("id").cast("bigint").alias("k")
    )
    lorenz = (
        cum.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.coalesce(
                F.max(
                    F.when(
                        20 * F.col("cc") <= F.col("k") * F.col("n"),
                        F.round(
                            F.col("cv").cast("double") / F.col("tot"),
                            10,
                        ),
                    )
                ),
                F.lit(0.0),
            ).alias("l")
        )
    )
    zen = lorenz.select(
        "k",
        "l",
        F.round(
            1.0
            - F.col("l")
            * (20 - F.col("k"))
            / (F.col("k") * (1.0 - F.col("l"))),
            8,
        ).alias("z"),
    ).persist()
    fold = zen.agg(
        (
            F.sum(F.round("z", 8).cast("decimal(18,8)")).cast("double")
            / 19
        ).alias("zbar"),
        (
            1.0
            - F.sum(
                F.round(20.0 * F.col("l") / F.col("k"), 10).cast(
                    "decimal(18,10)"
                )
            ).cast("double")
            / 19
        ).alias("bonf"),
    )
    n = cum.agg(F.max("n").cast("bigint").alias("n_customers"))
    z25 = zen.where(F.col("k") == 5).select(
        (F.round("z", 6) + 0.0).alias("z25")
    )
    z50 = zen.where(F.col("k") == 10).select(
        (F.round("z", 6) + 0.0).alias("z50")
    )
    z75 = zen.where(F.col("k") == 15).select(
        (F.round("z", 6) + 0.0).alias("z75")
    )
    return (
        n.crossJoin(F.broadcast(z25))
        .crossJoin(F.broadcast(z50))
        .crossJoin(F.broadcast(z75))
        .crossJoin(F.broadcast(fold))
        .select(
            "n_customers",
            "z25",
            "z50",
            "z75",
            (F.round("zbar", 6) + 0.0).alias("zenga_mean_19"),
            (F.round("bonf", 6) + 0.0).alias("bonferroni_19"),
        )
    )


# --------------------------------------------------------------------------
# Wolfson bipolarization index of customer spend
# --------------------------------------------------------------------------
@register(
    "wolfson_polarization",
    oracle=f"""
    WITH {_SPEND_GRID_SQL},
    cum AS (
        SELECT v, c,
               SUM(c) OVER w AS cc,
               SUM(tv) OVER w AS cv,
               SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                            PRECEDING AND 1 PRECEDING) AS head,
               SUM(c) OVER () AS n,
               SUM(tv) OVER () AS tot
        FROM grid
        WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
    ),
    med AS (
        SELECT CAST(MIN(v) AS BIGINT) AS m FROM cum
        WHERE 2 * cc >= n
    ),
    l50 AS (
        SELECT COALESCE(MAX(round(CAST(cv AS DOUBLE) / tot, 10)),
                        0.0) AS l
        FROM cum WHERE 2 * cc <= n
    ),
    gfold AS (
        SELECT MAX(n) AS n, MAX(tot) AS tot,
               CAST(SUM(CAST(c AS DECIMAL(38,0)) * v
                        * (2 * COALESCE(head, 0) + c + 1))
                    AS DECIMAL(38,0)) AS two_ix
        FROM cum
    )
    SELECT CAST(g.n AS BIGINT) AS n_customers,
           round((CAST(g.two_ix AS DOUBLE)
                  - (g.n + 1) * CAST(g.tot AS DOUBLE))
                 / (CAST(g.n AS DOUBLE)
                    * CAST(g.tot AS DOUBLE)), 8) + 0.0 AS gini,
           round(0.5 - l50.l, 8) + 0.0 AS median_share_deficit,
           round(med.m / 100000.0, 6) + 0.0 AS median_kusd,
           round(2.0 * (CAST(g.tot AS DOUBLE) / g.n / med.m)
                 * ((0.5 - l50.l)
                    - (CAST(g.two_ix AS DOUBLE)
                       - (g.n + 1) * CAST(g.tot AS DOUBLE))
                      / (2.0 * CAST(g.n AS DOUBLE)
                         * CAST(g.tot AS DOUBLE))), 8) + 0.0
               AS wolfson_w
    FROM gfold g, med, l50
    """,
)
def wolfson_polarization(spark, sf_dir):
    """WOLFSON bipolarization index W = (2*mu/m) * (T - G/2) with
    T = 0.5 - L(0.5) — the hollowing-middle statistic: W grows when
    mass moves AWAY from the median toward both tails even while
    Gini is flat (polarization and inequality are different axes;
    Wolfson's construction is literally twice the area between the
    Lorenz curve and its tangent at the median). Completes the
    shape bench next to `lorenz_asymmetry_coefficient` (which way
    the skew leans) and the dominance checks.

    Exactness: the full-population Gini uses the same exact
    tie-aware rank identity as `watts_sen_poverty` (DECIMAL(38,0)
    integers); the median is an exact lower order statistic; L(0.5)
    is the exact grid Lorenz ordinate at 10 dp. Plan: one custkey
    rollup, one domain-bounded grid cumulative, three scalar
    broadcasts."""
    grid = _spend_grid(spark, sf_dir)
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grid.select(
        "v",
        "c",
        F.sum("c").over(w).alias("cc"),
        F.sum("tv").over(w).alias("cv"),
        F.sum("c")
        .over(
            Window.orderBy("v").rowsBetween(
                Window.unboundedPreceding, -1
            )
        )
        .alias("head"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
        F.sum("tv").over(Window.partitionBy()).alias("tot"),
    ).persist()
    med = cum.where(2 * F.col("cc") >= F.col("n")).agg(
        F.min("v").cast("bigint").alias("m")
    )
    l50 = cum.where(2 * F.col("cc") <= F.col("n")).agg(
        F.coalesce(
            F.max(
                F.round(F.col("cv").cast("double") / F.col("tot"), 10)
            ),
            F.lit(0.0),
        ).alias("l")
    )
    gfold = cum.agg(
        F.max("n").alias("n"),
        F.max("tot").alias("tot"),
        F.sum(
            F.col("c").cast("decimal(38,0)")
            * F.col("v")
            * (2 * F.coalesce(F.col("head"), F.lit(0)) + F.col("c") + 1)
        )
        .cast("decimal(38,0)")
        .alias("two_ix"),
    )
    gini = (
        F.col("two_ix").cast("double")
        - (F.col("n") + 1) * F.col("tot").cast("double")
    ) / (F.col("n").cast("double") * F.col("tot").cast("double"))
    tdef = 0.5 - F.col("l")
    return (
        gfold.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(l50))
        .select(
            F.col("n").alias("n_customers"),
            (F.round(gini, 8) + 0.0).alias("gini"),
            (F.round(tdef, 8) + 0.0).alias("median_share_deficit"),
            (F.round(F.col("m") / 100000.0, 6) + 0.0).alias(
                "median_kusd"
            ),
            (
                F.round(
                    2.0
                    * (
                        F.col("tot").cast("double")
                        / F.col("n")
                        / F.col("m")
                    )
                    * (tdef - gini / 2.0),
                    8,
                )
                + 0.0
            ).alias("wolfson_w"),
        )
    )


# --------------------------------------------------------------------------
# Generalized entropy inequality panel GE(0) / GE(1) / GE(2)
# --------------------------------------------------------------------------
@register(
    "generalized_entropy_panel",
    oracle=f"""
    WITH {_SPEND_GRID_SQL},
    fold AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(tv) AS BIGINT) AS s,
               CAST(SUM(CAST(round(ln(CAST(v AS DOUBLE)), 6)
                             AS DECIMAL(28,6)) * c) AS DOUBLE)
                   AS sum_lnx,
               CAST(SUM(CAST(round(ln(CAST(v AS DOUBLE)), 6)
                             AS DECIMAL(28,6))
                        * CAST(c AS DECIMAL(38,0)) * v) AS DOUBLE)
                   AS sum_xlnx,
               CAST(SUM(CAST(c AS DECIMAL(38,0))
                        * CAST(v AS DECIMAL(38,0)) * v)
                    AS DECIMAL(38,0)) AS sxx
        FROM grid
    )
    SELECT n AS n_customers,
           round(round(ln(CAST(s AS DOUBLE) / n), 6)
                 - sum_lnx / n, 6) + 0.0 AS mld_ge0,
           round(sum_xlnx / CAST(s AS DOUBLE)
                 - round(ln(CAST(s AS DOUBLE) / n), 6), 6) + 0.0
               AS theil_ge1,
           round((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  / CAST(s AS DOUBLE) / CAST(s AS DOUBLE) - 1.0)
                 / 2.0, 8) + 0.0 AS half_cv2_ge2
    FROM fold
    """,
)
def generalized_entropy_panel(spark, sf_dir):
    """GENERALIZED ENTROPY inequality family at the three canonical
    sensitivities: GE(0) = mean log deviation (bottom-sensitive),
    GE(1) = Theil T (share-weighted), GE(2) = half the squared CV
    (top-sensitive) — the only inequality family that decomposes
    additively by subgroups, which is why a pipeline's per-segment
    readouts standardize on it; this query gives the whole-corpus
    anchors the registry's `theil_between_within_nations`
    decomposition sums to.

    Exactness: GE(2) is fully exact (integer power sums through
    DECIMAL(38,0)); the two log folds pin ln at 6 dp per distinct
    value before count-weighted DECIMAL folding (the
    watts_sen_poverty pin), and ln(mu) is pinned at 6 dp in both
    engines. Plan: one custkey rollup, one fold — no window."""
    grid = _spend_grid(spark, sf_dir)
    ln6 = F.round(F.log(F.col("v").cast("double")), 6).cast(
        "decimal(28,6)"
    )
    fold = grid.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum("tv").cast("bigint").alias("s"),
        F.sum(ln6 * F.col("c")).cast("double").alias("sum_lnx"),
        F.sum(ln6 * F.col("c").cast("decimal(38,0)") * F.col("v"))
        .cast("double")
        .alias("sum_xlnx"),
        F.sum(
            F.col("c").cast("decimal(38,0)")
            * F.col("v").cast("decimal(38,0)")
            * F.col("v")
        )
        .cast("decimal(38,0)")
        .alias("sxx"),
    )
    lnmu = F.round(
        F.log(F.col("s").cast("double") / F.col("n")), 6
    )
    return fold.select(
        F.col("n").alias("n_customers"),
        (F.round(lnmu - F.col("sum_lnx") / F.col("n"), 6) + 0.0).alias(
            "mld_ge0"
        ),
        (
            F.round(
                F.col("sum_xlnx") / F.col("s").cast("double") - lnmu, 6
            )
            + 0.0
        ).alias("theil_ge1"),
        (
            F.round(
                (
                    F.col("n").cast("double")
                    * F.col("sxx").cast("double")
                    / F.col("s").cast("double")
                    / F.col("s").cast("double")
                    - 1.0
                )
                / 2.0,
                8,
            )
            + 0.0
        ).alias("half_cv2_ge2"),
    )


# --------------------------------------------------------------------------
# Generalized (mean-scaled) Lorenz dominance: half 1 vs half 2
# --------------------------------------------------------------------------
@register(
    "generalized_lorenz_dominance",
    oracle="""
    WITH lab AS (
        SELECT o_custkey AS u,
               CASE WHEN epoch_us(o_orderdate) // 86400000000
                    <= (SELECT (min(epoch_us(o_orderdate))
                                // 86400000000
                                + max(epoch_us(o_orderdate))
                                // 86400000000) // 2 FROM orders)
                    THEN 1 ELSE 2 END AS half,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents
        FROM orders
    ),
    spend AS (
        SELECT half, u, CAST(SUM(cents) AS BIGINT) AS m
        FROM lab GROUP BY half, u
    ),
    grid AS (
        SELECT half, m AS v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(m) AS BIGINT) AS tv
        FROM spend GROUP BY half, m
    ),
    cum AS (
        SELECT half, v,
               CAST(SUM(c) OVER w AS BIGINT) AS cc,
               CAST(SUM(tv) OVER w AS BIGINT) AS cv,
               CAST(SUM(c) OVER (PARTITION BY half) AS BIGINT) AS n,
               CAST(SUM(tv) OVER (PARTITION BY half) AS BIGINT)
                   AS tot
        FROM grid
        WINDOW w AS (PARTITION BY half ORDER BY v
                     ROWS UNBOUNDED PRECEDING)
    ),
    ks AS (SELECT CAST(u.g AS BIGINT) AS k
           FROM LATERAL UNNEST(range(1, 20)) AS u(g)),
    gl AS (
        SELECT ks.k, cum.half,
               COALESCE(MAX(CASE WHEN 20 * cum.cc <= ks.k * cum.n
                   THEN round(CAST(cv AS DOUBLE) / n / 100000.0, 8)
                   END), 0.0) AS glval
        FROM cum CROSS JOIN ks
        GROUP BY ks.k, cum.half
    ),
    wide AS (
        SELECT k,
               MAX(CASE WHEN half = 1 THEN glval END) AS g1,
               MAX(CASE WHEN half = 2 THEN glval END) AS g2
        FROM gl GROUP BY k
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS kk,
               CAST(SUM(CASE WHEN g1 > g2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_h1_above,
               CAST(SUM(CASE WHEN g2 > g1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_h2_above,
               round(MAX(ABS(g1 - g2)), 8) AS max_gap
        FROM wide
    )
    SELECT kk AS n_ventiles, n_h1_above, n_h2_above,
           max_gap + 0.0 AS max_gl_gap_kusd,
           CAST(CASE WHEN n_h2_above = 0 AND n_h1_above > 0
                     THEN 1
                     WHEN n_h1_above = 0 AND n_h2_above > 0
                     THEN 2 ELSE 0 END AS INT)
               AS ssd_dominant_half
    FROM fold
    """,
)
def generalized_lorenz_dominance(spark, sf_dir):
    """GENERALIZED Lorenz dominance (Shorrocks 1983) between the
    first- and second-half customer-spend distributions: GL(p) =
    L(p) * mu — cumulative mean spend up to each ventile, in k$.
    GL dominance is SECOND-ORDER stochastic dominance: it orders
    distributions by every increasing-concave welfare function,
    i.e. it trades mean against inequality, where the plain
    `lorenz_dominance_check` (scale-free) can only rank inequality.
    A half can Lorenz-dominate yet GL-lose if its mean is lower —
    exactly the call a mixture-budget rebalance needs.

    Exactness: identical grid construction to lorenz_dominance_check
    (per-half cumulative over the spend grid, integer ordinate
    compares); GL ordinates divide exact BIGINT cumulative cents by
    the exact half count at 8 dp. Plan: one custkey rollup, one
    per-half domain-bounded grid cumulative, one 19-row broadcast,
    one fold."""
    o = t(spark, sf_dir, "orders")
    day = F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
    cut = o.agg(
        F.floor((F.min(day) + F.max(day)) / 2)
        .cast("bigint")
        .alias("cut")
    )
    lab = o.crossJoin(F.broadcast(cut)).select(
        F.col("o_custkey").alias("u"),
        F.when(day <= F.col("cut"), 1).otherwise(2).alias("half"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias(
            "cents"
        ),
    )
    spend = lab.groupBy("half", "u").agg(
        F.sum("cents").cast("bigint").alias("m")
    )
    grid = spend.groupBy("half", F.col("m").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("m").cast("bigint").alias("tv"),
    )
    # per-(half, bucket) windows (exact_cumulative keyed by half), not
    # per-half windows: |halves| would cap parallelism at two tasks
    acc, _ = exact_cumulative(
        grid,
        ("v",),
        {"pn": F.sum("c"), "ptv": F.sum("tv")},
        keys=("half",),
    )
    cum = acc.select(
        "half",
        "v",
        F.col("cum_pn").cast("bigint").alias("cc"),
        F.col("cum_ptv").cast("bigint").alias("cv"),
        F.col("tot_pn").cast("bigint").alias("n"),
        F.col("tot_ptv").cast("bigint").alias("tot"),
    )
    ks = spark.range(1, 20).select(
        F.col("id").cast("bigint").alias("k")
    )
    gl = (
        cum.crossJoin(F.broadcast(ks))
        .groupBy("k", "half")
        .agg(
            F.coalesce(
                F.max(
                    F.when(
                        20 * F.col("cc") <= F.col("k") * F.col("n"),
                        F.round(
                            F.col("cv").cast("double")
                            / F.col("n")
                            / 100000.0,
                            8,
                        ),
                    )
                ),
                F.lit(0.0),
            ).alias("glval")
        )
    )
    wide = gl.groupBy("k").agg(
        F.max(F.when(F.col("half") == 1, F.col("glval"))).alias("g1"),
        F.max(F.when(F.col("half") == 2, F.col("glval"))).alias("g2"),
    )
    fold = wide.agg(
        F.count(F.lit(1)).cast("bigint").alias("kk"),
        F.sum(F.when(F.col("g1") > F.col("g2"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_h1_above"),
        F.sum(F.when(F.col("g2") > F.col("g1"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_h2_above"),
        F.round(F.max(F.abs(F.col("g1") - F.col("g2"))), 8).alias(
            "max_gap"
        ),
    )
    return fold.select(
        F.col("kk").alias("n_ventiles"),
        "n_h1_above",
        "n_h2_above",
        (F.col("max_gap") + 0.0).alias("max_gl_gap_kusd"),
        F.when(
            (F.col("n_h2_above") == 0) & (F.col("n_h1_above") > 0), 1
        )
        .when(
            (F.col("n_h1_above") == 0) & (F.col("n_h2_above") > 0), 2
        )
        .otherwise(0)
        .cast("int")
        .alias("ssd_dominant_half"),
    )


# --------------------------------------------------------------------------
# Relative distribution polarization (MRP) of half-2 spend vs half-1
# --------------------------------------------------------------------------
@register(
    "relative_distribution_mrp",
    oracle="""
    WITH lab AS (
        SELECT o_custkey AS u,
               CASE WHEN epoch_us(o_orderdate) // 86400000000
                    <= (SELECT (min(epoch_us(o_orderdate))
                                // 86400000000
                                + max(epoch_us(o_orderdate))
                                // 86400000000) // 2 FROM orders)
                    THEN 1 ELSE 2 END AS half,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents
        FROM orders
    ),
    spend AS (
        SELECT half, u, CAST(SUM(cents) AS BIGINT) AS m
        FROM lab GROUP BY half, u
    ),
    grid AS (
        SELECT m AS v,
               CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c2
        FROM spend GROUP BY m
    ),
    cum AS (
        SELECT v, c2,
               CAST(SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED
                                  PRECEDING) AS BIGINT) AS cr1,
               CAST(SUM(c1) OVER () AS BIGINT) AS n1,
               CAST(SUM(c2) OVER () AS BIGINT) AS n2
        FROM grid
    ),
    fold AS (
        SELECT MAX(n1) AS n1, MAX(n2) AS n2,
               CAST(SUM(CAST(c2 AS DECIMAL(38,0))
                        * abs(2 * cr1 - n1)) AS DECIMAL(38,0))
                   AS s_abs,
               CAST(SUM(CAST(c2 AS DECIMAL(38,0))
                        * greatest(2 * cr1 - n1, 0))
                    AS DECIMAL(38,0)) AS s_up,
               CAST(SUM(CAST(c2 AS DECIMAL(38,0))
                        * greatest(n1 - 2 * cr1, 0))
                    AS DECIMAL(38,0)) AS s_dn
        FROM cum
    )
    SELECT n1 AS n_ref_customers, n2 AS n_cmp_customers,
           round(2.0 * CAST(s_abs AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * n2) - 1.0, 8) + 0.0
               AS mrp,
           round(4.0 * CAST(s_up AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * n2) - 1.0, 8) + 0.0
               AS srp_upper,
           round(4.0 * CAST(s_dn AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * n2) - 1.0, 8) + 0.0
               AS srp_lower
    FROM fold
    """,
)
def relative_distribution_mrp(spark, sf_dir):
    """MEDIAN RELATIVE POLARIZATION (Handcock-Morris relative
    distribution methods): place each second-half customer's spend
    at its first-half ECDF position r = F1(x) and measure how far
    the relative ranks pile toward the tails — MRP = 4*E|r - 1/2|
    - 1 (0 = no reshaping, +1 = total polarization, negative =
    convergence toward the reference median), split into upper/
    lower contributions SRP_U/SRP_L (which tail gained). The
    distribution-free complement to `wolfson_polarization` (within-
    period) — this one reads CHANGE between periods; (SRP_U +
    SRP_L)/2 = MRP is an exact identity the panel exposes.

    Exactness: F1 placements use the merged spend grid's exact
    half-1 cumulative (ECDF convention F1(x) = #{h1 <= x}/n1); all
    three folds are exact DECIMAL(38,0) integer sums; ranks never
    materialize at unit grain. Plan: one custkey rollup, one merged
    domain-bounded grid cumulative, one fold."""
    o = t(spark, sf_dir, "orders")
    day = F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
    cut = o.agg(
        F.floor((F.min(day) + F.max(day)) / 2)
        .cast("bigint")
        .alias("cut")
    )
    spend = (
        o.crossJoin(F.broadcast(cut))
        .select(
            F.col("o_custkey").alias("u"),
            F.when(day <= F.col("cut"), 1).otherwise(2).alias("half"),
            (dec("o_totalprice", 18, 2) * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("half", "u")
        .agg(F.sum("cents").cast("bigint").alias("m"))
    )
    grid = spend.groupBy(F.col("m").alias("v")).agg(
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("half") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("c2"),
    )
    # the merged spend grid is customer-grain (grows with the customer
    # base), so the half-1 ECDF cumulative and both totals ride
    # exact_cumulative: no single-partition exchange, and the
    # customer-grain rollup runs once for every consumer
    acc, _ = exact_cumulative(
        grid, ("v",), {"pn": F.sum("c1"), "pn2": F.sum("c2")}
    )
    cum = acc.select(
        "c2",
        F.col("cum_pn").cast("bigint").alias("cr1"),
        F.col("tot_pn").alias("n1"),
        F.col("tot_pn2").alias("n2"),
    )
    fold = cum.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.sum(
            F.col("c2").cast("decimal(38,0)")
            * F.abs(2 * F.col("cr1") - F.col("n1"))
        )
        .cast("decimal(38,0)")
        .alias("s_abs"),
        F.sum(
            F.col("c2").cast("decimal(38,0)")
            * F.greatest(2 * F.col("cr1") - F.col("n1"), F.lit(0))
        )
        .cast("decimal(38,0)")
        .alias("s_up"),
        F.sum(
            F.col("c2").cast("decimal(38,0)")
            * F.greatest(F.col("n1") - 2 * F.col("cr1"), F.lit(0))
        )
        .cast("decimal(38,0)")
        .alias("s_dn"),
    )
    nn = F.col("n1").cast("double") * F.col("n2")
    return fold.select(
        F.col("n1").alias("n_ref_customers"),
        F.col("n2").alias("n_cmp_customers"),
        (
            F.round(2.0 * F.col("s_abs").cast("double") / nn - 1.0, 8)
            + 0.0
        ).alias("mrp"),
        (
            F.round(4.0 * F.col("s_up").cast("double") / nn - 1.0, 8)
            + 0.0
        ).alias("srp_upper"),
        (
            F.round(4.0 * F.col("s_dn").cast("double") / nn - 1.0, 8)
            + 0.0
        ).alias("srp_lower"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "zenga_bonferroni_ordinates": (
            "one cumulative over the spend grid + 19-ordinate "
            "broadcast (the lorenz_dominance class)"
        ),
        "wolfson_polarization": (
            "cumulative + exclusive-prefix rank windows over the "
            "spend grid (the watts_sen_poverty class)"
        ),
        "generalized_lorenz_dominance": (
            "INFO: no single-partition window under the structural "
            "detector — the per-half spend-grid cumulatives ride "
            "partitioned (per-half) windows and the 19-ordinate frame "
            "is broadcast; note kept for the history (authored under "
            "the pre-r16 textual heuristic), excluded from the "
            "effective allowlist"
        ),
        "relative_distribution_mrp": (
            "INFO: no single-partition window since the r18 "
            "optimization rewrite — the reference-half ECDF rides "
            "the bounds-derived value-bucket device (kakwani twin); "
            "note kept for the history, excluded from the effective "
            "allowlist"
        ),
    }
)


# --------------------------------------------------------------------------
# Kakwani progressivity of line-item discounts against gross price
# --------------------------------------------------------------------------
@register(
    "kakwani_discount_progressivity",
    oracle="""
    WITH pts AS (
        SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS x,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)
               * CAST(CAST(l_discount AS DECIMAL(6,2)) * 100
                      AS BIGINT) AS d
        FROM lineitem
    ),
    grid AS (
        SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(x) AS BIGINT) AS tx,
               CAST(SUM(d) AS BIGINT) AS td
        FROM pts GROUP BY x
    ),
    cum AS (
        SELECT v, c, tx, td,
               SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                            PRECEDING AND 1 PRECEDING) AS head,
               SUM(c) OVER () AS n,
               SUM(tx) OVER () AS sx,
               SUM(td) OVER () AS sd
        FROM grid
    ),
    fold AS (
        SELECT MAX(n) AS n, MAX(sx) AS sx, MAX(sd) AS sd,
               CAST(SUM(CAST(tx AS DECIMAL(38,0))
                        * (2 * COALESCE(head, 0) + c + 1))
                    AS DECIMAL(38,0)) AS two_ix,
               CAST(SUM(CAST(td AS DECIMAL(38,0))
                        * (2 * COALESCE(head, 0) + c + 1))
                    AS DECIMAL(38,0)) AS two_id
        FROM cum
    )
    SELECT CAST(n AS BIGINT) AS n_lines,
           round((CAST(two_ix AS DOUBLE)
                  - (n + 1) * CAST(sx AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 8)
               + 0.0 AS gini_gross_price,
           round((CAST(two_id AS DOUBLE)
                  - (n + 1) * CAST(sd AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sd AS DOUBLE)), 8)
               + 0.0 AS conc_discount_by_price,
           round((CAST(two_id AS DOUBLE)
                  - (n + 1) * CAST(sd AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sd AS DOUBLE))
                 - (CAST(two_ix AS DOUBLE)
                    - (n + 1) * CAST(sx AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 8)
               + 0.0 AS kakwani_k,
           round(CAST(sd AS DOUBLE) / CAST(sx AS DOUBLE) / 10000.0,
                 8) + 0.0 AS avg_discount_rate
    FROM fold
    """,
)
def kakwani_discount_progressivity(spark, sf_dir):
    """KAKWANI progressivity index of line-item discounts treated as
    a levy on gross price: K = C_d - G_x, the concentration index of
    discount amounts ranked BY GROSS PRICE minus the Gini of gross
    price itself. K > 0 means discounts fall disproportionately on
    expensive lines (a progressive schedule), K < 0 regressive —
    the standard fiscal-incidence readout, here auditing whether
    the discount policy targets big-ticket lines. Pairs with
    `reynolds_smolensky_redistribution` exactly as the two do in the
    public-finance literature (K sizes departure-from-
    proportionality, RS the achieved redistribution).

    Exactness: both indices use the tie-aware midrank identity
    (2*sum w_g*(2*head+c+1) folds in DECIMAL(38,0)); discount
    amounts stay in exact cent-basis-point integers (cents * bp, no
    division anywhere); ranks never materialize at line grain.
    Plan: one price-grid rollup, one bucketed grid cumulative, one
    fold.

    Scale (r18 optimization): the price grid is near-unique per line
    at bench SFs (583k distinct of 600k rows at sf0.1) and grows
    linearly with volume until the cents domain saturates, so the
    original global ``Window.orderBy(v)`` exclusive-prefix cumulative
    (plus three whole-frame window sums) pushed the whole grid
    through ONE task. The exclusive prefix count now rides
    ``exact_cumulative``: per-bucket windows hash-partitioned on the
    value bucket plus broadcast earlier-bucket offsets, so nothing
    single-tasks, and the grid totals (n, sx, sd) ride the same
    broadcast instead of whole-frame windows. Identical exact
    integers: BIGINT partial sums are order-independent, head =
    in-bucket exclusive prefix + earlier-bucket offset reproduces the
    global exclusive prefix bit-for-bit."""
    li = t(spark, sf_dir, "lineitem")
    x = (dec("l_extendedprice", 18, 2) * 100).cast("bigint")
    bp = (dec("l_discount", 6, 2) * 100).cast("bigint")
    grid = (
        li.select(x.alias("x"), (x * bp).alias("d"))
        .groupBy(F.col("x").alias("v"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.sum("x").cast("bigint").alias("tx"),
            F.sum("d").cast("bigint").alias("td"),
        )
        .where(F.col("v").isNotNull())
    )
    acc, _ = exact_cumulative(
        grid,
        ("v",),
        {"pn": F.sum("c"), "ptx": F.sum("tx"), "ptd": F.sum("td")},
    )
    cum = acc.select(
        "c",
        "tx",
        "td",
        (F.col("cum_pn") - F.col("c")).alias("head"),
        F.col("tot_pn").alias("n"),
        F.col("tot_ptx").alias("sx"),
        F.col("tot_ptd").alias("sd"),
    )
    r2 = 2 * F.coalesce(F.col("head"), F.lit(0)) + F.col("c") + 1
    fold = cum.agg(
        F.sum(F.col("tx").cast("decimal(38,0)") * r2)
        .cast("decimal(38,0)")
        .alias("two_ix"),
        F.sum(F.col("td").cast("decimal(38,0)") * r2)
        .cast("decimal(38,0)")
        .alias("two_id"),
        F.max("n").alias("n"),
        F.max("sx").alias("sx"),
        F.max("sd").alias("sd"),
    )
    gx = (
        F.col("two_ix").cast("double")
        - (F.col("n") + 1) * F.col("sx").cast("double")
    ) / (F.col("n").cast("double") * F.col("sx").cast("double"))
    cd = (
        F.col("two_id").cast("double")
        - (F.col("n") + 1) * F.col("sd").cast("double")
    ) / (F.col("n").cast("double") * F.col("sd").cast("double"))
    return fold.select(
        F.col("n").alias("n_lines"),
        (F.round(gx, 8) + 0.0).alias("gini_gross_price"),
        (F.round(cd, 8) + 0.0).alias("conc_discount_by_price"),
        (F.round(cd - gx, 8) + 0.0).alias("kakwani_k"),
        (
            F.round(
                F.col("sd").cast("double")
                / F.col("sx").cast("double")
                / 10000.0,
                8,
            )
            + 0.0
        ).alias("avg_discount_rate"),
    )


# --------------------------------------------------------------------------
# Reynolds-Smolensky redistribution of the discount schedule
# --------------------------------------------------------------------------
@register(
    "reynolds_smolensky_redistribution",
    oracle="""
    WITH pts AS (
        SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) * 10000 AS pre,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)
               * (10000 - CAST(CAST(l_discount AS DECIMAL(6,2)) * 100
                               AS BIGINT)) AS post
        FROM lineitem
    ),
    pre_grid AS (
        SELECT pre AS v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(pre) AS BIGINT) AS tpre,
               CAST(SUM(post) AS BIGINT) AS tpost
        FROM pts GROUP BY pre
    ),
    pre_cum AS (
        SELECT v, c, tpre, tpost,
               SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                            PRECEDING AND 1 PRECEDING) AS head,
               SUM(c) OVER () AS n,
               SUM(tpre) OVER () AS s_pre,
               SUM(tpost) OVER () AS s_post
        FROM pre_grid
    ),
    pre_fold AS (
        SELECT MAX(n) AS n, MAX(s_pre) AS s_pre,
               MAX(s_post) AS s_post,
               CAST(SUM(CAST(tpre AS DECIMAL(38,0))
                        * (2 * COALESCE(head, 0) + c + 1))
                    AS DECIMAL(38,0)) AS two_ipre,
               CAST(SUM(CAST(tpost AS DECIMAL(38,0))
                        * (2 * COALESCE(head, 0) + c + 1))
                    AS DECIMAL(38,0)) AS two_ipost_bypre
        FROM pre_cum
    ),
    post_grid AS (
        SELECT post AS v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(post) AS BIGINT) AS tpost
        FROM pts GROUP BY post
    ),
    post_cum AS (
        SELECT v, c, tpost,
               SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                            PRECEDING AND 1 PRECEDING) AS head
        FROM post_grid
    ),
    post_fold AS (
        SELECT CAST(SUM(CAST(tpost AS DECIMAL(38,0))
                        * (2 * COALESCE(head, 0) + c + 1))
                    AS DECIMAL(38,0)) AS two_ipost
        FROM post_cum
    )
    SELECT CAST(pf.n AS BIGINT) AS n_lines,
           round((CAST(pf.two_ipre AS DOUBLE)
                  - (pf.n + 1) * CAST(pf.s_pre AS DOUBLE))
                 / (CAST(pf.n AS DOUBLE)
                    * CAST(pf.s_pre AS DOUBLE)), 8) + 0.0
               AS gini_pre,
           round((CAST(qf.two_ipost AS DOUBLE)
                  - (pf.n + 1) * CAST(pf.s_post AS DOUBLE))
                 / (CAST(pf.n AS DOUBLE)
                    * CAST(pf.s_post AS DOUBLE)), 8) + 0.0
               AS gini_post,
           round((CAST(pf.two_ipost_bypre AS DOUBLE)
                  - (pf.n + 1) * CAST(pf.s_post AS DOUBLE))
                 / (CAST(pf.n AS DOUBLE)
                    * CAST(pf.s_post AS DOUBLE)), 8) + 0.0
               AS conc_post_by_pre,
           round((CAST(pf.two_ipre AS DOUBLE)
                  - (pf.n + 1) * CAST(pf.s_pre AS DOUBLE))
                 / (CAST(pf.n AS DOUBLE)
                    * CAST(pf.s_pre AS DOUBLE))
                 - (CAST(pf.two_ipost_bypre AS DOUBLE)
                    - (pf.n + 1) * CAST(pf.s_post AS DOUBLE))
                   / (CAST(pf.n AS DOUBLE)
                      * CAST(pf.s_post AS DOUBLE)), 8) + 0.0
               AS vertical_effect,
           round((CAST(qf.two_ipost AS DOUBLE)
                  - (pf.n + 1) * CAST(pf.s_post AS DOUBLE))
                 / (CAST(pf.n AS DOUBLE)
                    * CAST(pf.s_post AS DOUBLE))
                 - (CAST(pf.two_ipost_bypre AS DOUBLE)
                    - (pf.n + 1) * CAST(pf.s_post AS DOUBLE))
                   / (CAST(pf.n AS DOUBLE)
                      * CAST(pf.s_post AS DOUBLE)), 8) + 0.0
               AS reranking_effect,
           round((CAST(pf.two_ipre AS DOUBLE)
                  - (pf.n + 1) * CAST(pf.s_pre AS DOUBLE))
                 / (CAST(pf.n AS DOUBLE)
                    * CAST(pf.s_pre AS DOUBLE))
                 - (CAST(qf.two_ipost AS DOUBLE)
                    - (pf.n + 1) * CAST(pf.s_post AS DOUBLE))
                   / (CAST(pf.n AS DOUBLE)
                      * CAST(pf.s_post AS DOUBLE)), 8) + 0.0
               AS rs_redistribution
    FROM pre_fold pf, post_fold qf
    """,
)
def reynolds_smolensky_redistribution(spark, sf_dir):
    """REYNOLDS-SMOLENSKY redistribution of the discount schedule:
    RS = G_pre - G_post (Gini of gross vs net line price), split by
    the Aronson-Johnson-Lambert identity RS = V - R into the
    VERTICAL effect V = G_pre - C_post|pre (what the schedule would
    redistribute if it never reordered anyone) and the RERANKING
    loss R = G_post - C_post|pre (paid whenever two lines swap
    order on the way from gross to net). R > 0 flags a schedule
    that redistributes wastefully — the exact audit a pricing
    engine wants on its discount rules.

    Exactness: net price stays in exact cent-basis-point integers
    (cents * (10000-bp)); all three index numerators use the
    tie-aware midrank identity in DECIMAL(38,0); C_post|pre ranks
    post amounts by the PRE grid (ties in pre share a midrank, the
    concentration-index convention). Plan: two grid rollups, two
    bucketed grid cumulatives, two folds, two broadcast joins.

    Scale (r18 optimization, the kakwani rewrite's twin): both price
    grids are near-unique per line at bench SFs and grow linearly
    with volume until the cents-basis-point domain saturates, so the
    original global ``Window.orderBy(v)`` cumulatives (plus three
    whole-frame window sums) single-tasked the full grids. Both
    exclusive prefix counts and the totals now ride one
    ``exact_cumulative`` pass per grid (see kakwani) — no
    single-partition exchange in the plan; identical exact integers
    (order-independent BIGINT/DECIMAL sums, head = in-bucket
    exclusive prefix + earlier-bucket offset). The line-grain
    ``persist`` of the (pre, post) projection is dropped — at scale
    caching a 2-column fact-width frame costs more than the second
    columnar scan it saves (guide §5), and the two grids share
    nothing downstream of the scan anyway (different shuffle
    keys)."""
    li = t(spark, sf_dir, "lineitem")
    cents = (dec("l_extendedprice", 18, 2) * 100).cast("bigint")
    bp = (dec("l_discount", 6, 2) * 100).cast("bigint")
    pts = li.select(
        (cents * 10000).alias("pre"),
        (cents * (10000 - bp)).alias("post"),
    )
    pre_grid = (
        pts.groupBy(F.col("pre").alias("v"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.sum("pre").cast("bigint").alias("tpre"),
            F.sum("post").cast("bigint").alias("tpost"),
        )
        .where(F.col("v").isNotNull())
    )
    pre_acc, _ = exact_cumulative(
        pre_grid,
        ("v",),
        {"pn": F.sum("c"), "ptpre": F.sum("tpre"), "ptpost": F.sum("tpost")},
    )
    pre_cum = pre_acc.select(
        "c",
        "tpre",
        "tpost",
        (F.col("cum_pn") - F.col("c")).alias("head"),
        F.col("tot_pn").alias("n"),
        F.col("tot_ptpre").alias("s_pre"),
        F.col("tot_ptpost").alias("s_post"),
    )
    r2 = 2 * F.coalesce(F.col("head"), F.lit(0)) + F.col("c") + 1
    pre_fold = pre_cum.agg(
        F.sum(F.col("tpre").cast("decimal(38,0)") * r2)
        .cast("decimal(38,0)")
        .alias("two_ipre"),
        F.sum(F.col("tpost").cast("decimal(38,0)") * r2)
        .cast("decimal(38,0)")
        .alias("two_ipost_bypre"),
        F.max("n").alias("n"),
        F.max("s_pre").alias("s_pre"),
        F.max("s_post").alias("s_post"),
    )
    post_grid = (
        pts.groupBy(F.col("post").alias("v"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.sum("post").cast("bigint").alias("tpost"),
        )
        .where(F.col("v").isNotNull())
    )
    post_acc, _ = exact_cumulative(post_grid, ("v",), {"pn": F.sum("c")})
    post_cum = post_acc.select(
        "c", "tpost", (F.col("cum_pn") - F.col("c")).alias("head")
    )
    post_fold = post_cum.agg(
        F.sum(F.col("tpost").cast("decimal(38,0)") * r2)
        .cast("decimal(38,0)")
        .alias("two_ipost"),
    )
    j = pre_fold.crossJoin(F.broadcast(post_fold))
    nn = F.col("n").cast("double")
    g_pre = (
        F.col("two_ipre").cast("double")
        - (F.col("n") + 1) * F.col("s_pre").cast("double")
    ) / (nn * F.col("s_pre").cast("double"))
    g_post = (
        F.col("two_ipost").cast("double")
        - (F.col("n") + 1) * F.col("s_post").cast("double")
    ) / (nn * F.col("s_post").cast("double"))
    c_pp = (
        F.col("two_ipost_bypre").cast("double")
        - (F.col("n") + 1) * F.col("s_post").cast("double")
    ) / (nn * F.col("s_post").cast("double"))
    return j.select(
        F.col("n").alias("n_lines"),
        (F.round(g_pre, 8) + 0.0).alias("gini_pre"),
        (F.round(g_post, 8) + 0.0).alias("gini_post"),
        (F.round(c_pp, 8) + 0.0).alias("conc_post_by_pre"),
        (F.round(g_pre - c_pp, 8) + 0.0).alias("vertical_effect"),
        (F.round(g_post - c_pp, 8) + 0.0).alias("reranking_effect"),
        (F.round(g_pre - g_post, 8) + 0.0).alias("rs_redistribution"),
    )


# --------------------------------------------------------------------------
# QQ (Kratz-Resnick) tail-index estimator over the top-100 order values
# --------------------------------------------------------------------------
@register(
    "qq_tail_estimator",
    oracle="""
    WITH pts AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    grid AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM pts GROUP BY v
    ),
    cum AS (
        SELECT v,
               SUM(c) OVER (ORDER BY v DESC ROWS UNBOUNDED
                            PRECEDING) AS tail_cc,
               SUM(c) OVER () AS n
        FROM grid
    ),
    js AS (SELECT CAST(u.g AS BIGINT) AS j
           FROM LATERAL UNNEST(range(1, 101)) AS u(g)),
    ostats AS (
        SELECT js.j,
               (SELECT CAST(MAX(n) AS BIGINT) FROM cum) AS n,
               (SELECT CAST(MAX(v) AS BIGINT) FROM cum
                WHERE tail_cc >= js.j) AS vj
        FROM js
    ),
    xy AS (
        SELECT j, n,
               round(ln((n + 1.0) / j), 6) AS xq,
               round(ln(CAST(vj AS DOUBLE) / 100000.0), 6) AS yq
        FROM ostats
    ),
    fit AS (
        SELECT MAX(n) AS n,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(xq AS DECIMAL(18,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(yq AS DECIMAL(18,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(round(xq * xq, 8) AS DECIMAL(18,8)))
                    AS DOUBLE) AS sxx,
               CAST(SUM(CAST(round(xq * yq, 8) AS DECIMAL(18,8)))
                    AS DOUBLE) AS sxy,
               CAST(SUM(CAST(round(yq * yq, 8) AS DECIMAL(18,8)))
                    AS DOUBLE) AS syy
        FROM xy
    )
    SELECT n AS n_orders, k AS k_tail,
           round((k * sxy - sx * sy) / (k * sxx - sx * sx), 8)
               + 0.0 AS xi_qq_slope,
           round((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx)
                       * sx) / k, 6) + 0.0 AS intercept_lnkusd,
           round((k * sxy - sx * sy) * (k * sxy - sx * sy)
                 / ((k * sxx - sx * sx) * (k * syy - sy * sy)), 8)
               + 0.0 AS r2_loglog
    FROM fit
    """,
)
def qq_tail_estimator(spark, sf_dir):
    """KRATZ-RESNICK QQ tail-index estimator: regress the log of the
    j-th largest order value on ln((n+1)/j) for j = 1..100 — on a
    Pareto tail the plot is linear with slope xi = 1/alpha, so the
    OLS slope is a tail-index estimator that uses the WHOLE qq line
    where Hill (`hill_tail_exponent`) averages only log-spacings and
    Pickands uses three quantiles; the r2 column doubles as the
    "is the tail actually power-law" linearity certificate.

    Exactness: each of the 100 upper order statistics is exact (the
    descending grid cumulative + a 100-row broadcast threshold
    join); both logs pin at 6 dp; the 100-point OLS folds rounded
    terms through DECIMAL. Plan: one value rollup, one bucketed
    descending grid cumulative, one 100-row broadcast, one fold.

    Scale (r18 optimization): the order-value cents grid grows with
    volume (the kakwani mover class), so the global descending
    ``Window.orderBy(v DESC)`` cumulative + whole-frame n
    single-tasked the grid. Now ``exact_cumulative`` over the
    ascending order of -v (the descending value order): in-bucket
    windows plus broadcast earlier-(higher-value)-bucket offsets and
    n. The persist on the cumulative frame is dropped — it had a
    single consumer, so it only added a materialization."""
    o = t(spark, sf_dir, "orders")
    grid = (
        o.select(
            (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v")
        )
        .where(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    acc, _ = exact_cumulative(
        grid.withColumn("nv", -F.col("v")), ("nv",), {"pn": F.sum("c")}
    )
    cum = acc.select(
        "v",
        F.col("cum_pn").alias("tail_cc"),
        F.col("tot_pn").alias("n"),
    )
    js = spark.range(1, 101).select(
        F.col("id").cast("bigint").alias("j")
    )
    ostats = (
        cum.crossJoin(F.broadcast(js))
        .where(F.col("tail_cc") >= F.col("j"))
        .groupBy("j")
        .agg(
            F.max("v").cast("bigint").alias("vj"),
            F.max("n").cast("bigint").alias("n"),
        )
    )
    xy = ostats.select(
        "j",
        "n",
        F.round(F.log((F.col("n") + 1.0) / F.col("j")), 6).alias("xq"),
        F.round(
            F.log(F.col("vj").cast("double") / 100000.0), 6
        ).alias("yq"),
    )
    fit = xy.agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.col("xq").cast("decimal(18,6)"))
        .cast("double")
        .alias("sx"),
        F.sum(F.col("yq").cast("decimal(18,6)"))
        .cast("double")
        .alias("sy"),
        F.sum(
            F.round(F.col("xq") * F.col("xq"), 8).cast("decimal(18,8)")
        )
        .cast("double")
        .alias("sxx"),
        F.sum(
            F.round(F.col("xq") * F.col("yq"), 8).cast("decimal(18,8)")
        )
        .cast("double")
        .alias("sxy"),
        F.sum(
            F.round(F.col("yq") * F.col("yq"), 8).cast("decimal(18,8)")
        )
        .cast("double")
        .alias("syy"),
    )
    b = (
        F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return fit.select(
        F.col("n").alias("n_orders"),
        F.col("k").alias("k_tail"),
        (F.round(b, 8) + 0.0).alias("xi_qq_slope"),
        (
            F.round((F.col("sy") - b * F.col("sx")) / F.col("k"), 6)
            + 0.0
        ).alias("intercept_lnkusd"),
        (
            F.round(
                (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
                * (
                    F.col("k") * F.col("sxy")
                    - F.col("sx") * F.col("sy")
                )
                / (
                    (
                        F.col("k") * F.col("sxx")
                        - F.col("sx") * F.col("sx")
                    )
                    * (
                        F.col("k") * F.col("syy")
                        - F.col("sy") * F.col("sy")
                    )
                ),
                8,
            )
            + 0.0
        ).alias("r2_loglog"),
    )


# --------------------------------------------------------------------------
# Extremal index (runs estimator) of daily-revenue exceedances
# --------------------------------------------------------------------------
@register(
    "extremal_index_runs",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    dgrid AS (
        SELECT y AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM daily GROUP BY y
    ),
    dcum AS (
        SELECT v,
               SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                   AS cc,
               SUM(c) OVER () AS nd
        FROM dgrid
    ),
    thr AS (
        SELECT CAST(MIN(v) AS BIGINT) AS u FROM dcum
        WHERE 10 * cc >= 9 * nd
    ),
    exc AS (
        SELECT d.day,
               LAG(d.day) OVER (ORDER BY d.day) AS prev_day
        FROM daily d, thr WHERE d.y > thr.u
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_exc,
               CAST(SUM(CASE WHEN prev_day IS NULL
                             OR day - prev_day > 2
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_clusters
        FROM exc
    )
    SELECT (SELECT CAST(MAX(nd) AS BIGINT) FROM dcum) AS n_days,
           (SELECT round(u / 100000.0, 6) FROM thr)
               AS threshold_kusd,
           n_exc AS n_exceedances,
           n_clusters,
           round(CAST(n_clusters AS DOUBLE) / n_exc, 8) + 0.0
               AS theta_runs
    FROM fold
    """,
)
def extremal_index_runs(spark, sf_dir):
    """EXTREMAL INDEX theta via the runs estimator: exceedances of
    daily revenue over its exact 90th-percentile day, declustered
    with run length r = 2 (a new cluster starts when the previous
    exceedance is more than 2 days back); theta = clusters /
    exceedances estimates the reciprocal mean cluster size — the
    quantity that separates "heavy tail" from "clustered tail"
    (iid extremes have theta = 1; theta < 1 means extreme days
    arrive in bursts, so block maxima and POT fits like
    `gumbel_block_maxima` / `pot_gpd_pwm_fit` must be declustered
    before use: this query IS that pre-flight check).

    Exactness: the threshold is an exact lower order statistic of
    the daily grid; clustering is integer day arithmetic over a lag
    on the calendar-bounded exceedance frame. Plan: one day rollup,
    one domain-bounded grid cumulative, one calendar-frame lag, one
    fold."""
    daily = daily_order_cents(spark, sf_dir)
    dgrid = daily.groupBy(F.col("y").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    dcum = dgrid.select(
        "v",
        F.sum("c")
        .over(
            Window.orderBy("v").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cc"),
        F.sum("c").over(Window.partitionBy()).alias("nd"),
    ).persist()
    thr = dcum.where(10 * F.col("cc") >= 9 * F.col("nd")).agg(
        F.min("v").cast("bigint").alias("u")
    )
    exc = (
        daily.crossJoin(F.broadcast(thr))
        .where(F.col("y") > F.col("u"))
        .select(
            "day",
            F.lag("day").over(Window.orderBy("day")).alias("prev_day"),
        )
    )
    fold = exc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exc"),
        F.sum(
            F.when(
                F.col("prev_day").isNull()
                | (F.col("day") - F.col("prev_day") > 2),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_clusters"),
    )
    nd = dcum.agg(F.max("nd").cast("bigint").alias("n_days"))
    thr_k = thr.select(
        F.round(F.col("u") / 100000.0, 6).alias("threshold_kusd")
    )
    return (
        nd.crossJoin(F.broadcast(thr_k))
        .crossJoin(F.broadcast(fold))
        .select(
            "n_days",
            "threshold_kusd",
            F.col("n_exc").alias("n_exceedances"),
            "n_clusters",
            (
                F.round(
                    F.col("n_clusters").cast("double") / F.col("n_exc"),
                    8,
                )
                + 0.0
            ).alias("theta_runs"),
        )
    )


# --------------------------------------------------------------------------
# Dagum Gini decomposition by region: within / net-between / transvariation
# --------------------------------------------------------------------------
@register(
    "dagum_gini_decomposition",
    oracle="""
    WITH spend AS (
        SELECT n.n_regionkey AS r, o.o_custkey AS u,
               CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2))
                             * 100 AS BIGINT)) AS BIGINT) AS m
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ),
    rgrid AS (
        SELECT r, m AS v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(m) AS BIGINT) AS tv
        FROM spend GROUP BY r, m
    ),
    vgrid AS (SELECT DISTINCT v FROM rgrid),
    regs AS (SELECT DISTINCT r FROM rgrid),
    full_g AS (
        SELECT g.v, rr.r,
               COALESCE(x.c, 0) AS c0, COALESCE(x.tv, 0) AS tv0
        FROM vgrid g CROSS JOIN regs rr
        LEFT JOIN rgrid x ON x.v = g.v AND x.r = rr.r
    ),
    cume AS (
        SELECT v, r,
               CAST(COALESCE(SUM(c0) OVER w, 0) AS BIGINT) AS ce,
               CAST(COALESCE(SUM(tv0) OVER w, 0) AS BIGINT) AS cve
        FROM full_g
        WINDOW w AS (PARTITION BY r ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING)
    ),
    splus AS (
        SELECT h.r AS rh, k.r AS rk,
               CAST(SUM(CAST(h.c AS DECIMAL(38,0))
                        * (CAST(h.v AS DECIMAL(38,0)) * k.ce
                           - k.cve)) AS DECIMAL(38,0)) AS sp
        FROM rgrid h JOIN cume k ON h.v = k.v
        GROUP BY h.r, k.r
    ),
    rtot AS (
        SELECT r, CAST(SUM(c) AS BIGINT) AS nr,
               CAST(SUM(tv) AS BIGINT) AS sr
        FROM rgrid GROUP BY r
    ),
    tot AS (
        SELECT CAST(SUM(nr) AS BIGINT) AS n,
               CAST(SUM(sr) AS BIGINT) AS s
        FROM rtot
    ),
    within AS (
        SELECT CAST(SUM(CAST(sp AS DOUBLE)
                        / (CAST(a.nr AS DOUBLE) * a.sr)
                        * (CAST(a.nr AS DOUBLE) / tot.n)
                        * (CAST(a.sr AS DOUBLE) / tot.s))
                    AS DOUBLE) AS g_w
        FROM splus j
        JOIN rtot a ON j.rh = a.r, tot
        WHERE j.rh = j.rk
    ),
    pairterms AS (
        SELECT j1.rh AS a, j1.rk AS b,
               CAST(j1.sp AS DOUBLE) AS s_ab,
               CAST(j2.sp AS DOUBLE) AS s_ba,
               ra.nr AS na, ra.sr AS sa, rb.nr AS nb, rb.sr AS sb,
               tot.n, tot.s
        FROM splus j1
        JOIN splus j2 ON j1.rh = j2.rk AND j1.rk = j2.rh
        JOIN rtot ra ON j1.rh = ra.r
        JOIN rtot rb ON j1.rk = rb.r, tot
        WHERE j1.rh < j1.rk
    ),
    between_f AS (
        SELECT CAST(SUM((s_ab + s_ba)
                        / (CAST(nb AS DOUBLE) * sa
                           + CAST(na AS DOUBLE) * sb)
                        * ((CAST(na AS DOUBLE) * sb
                            + CAST(nb AS DOUBLE) * sa)
                           / (CAST(n AS DOUBLE) * s))
                        * abs(s_ab - s_ba) / (s_ab + s_ba))
                    AS DOUBLE) AS g_nb,
               CAST(SUM((s_ab + s_ba)
                        / (CAST(nb AS DOUBLE) * sa
                           + CAST(na AS DOUBLE) * sb)
                        * ((CAST(na AS DOUBLE) * sb
                            + CAST(nb AS DOUBLE) * sa)
                           / (CAST(n AS DOUBLE) * s))
                        * (1.0 - abs(s_ab - s_ba) / (s_ab + s_ba)))
                    AS DOUBLE) AS g_t
        FROM pairterms
    ),
    overall AS (
        SELECT CAST(SUM(CAST(sp AS DOUBLE)) AS DOUBLE)
               / (SELECT CAST(n AS DOUBLE) * s FROM tot) AS g
        FROM splus
    )
    SELECT (SELECT n FROM tot) AS n_customers,
           round(o.g, 8) + 0.0 AS gini_total,
           round(w.g_w, 8) + 0.0 AS gini_within,
           round(b.g_nb, 8) + 0.0 AS gini_net_between,
           round(b.g_t, 8) + 0.0 AS gini_transvariation,
           round(o.g - w.g_w - b.g_nb - b.g_t, 10) + 0.0
               AS identity_residual
    FROM overall o, within w, between_f b
    """,
)
def dagum_gini_decomposition(spark, sf_dir):
    """DAGUM (1997) three-way Gini decomposition of customer spend by
    REGION: G = G_w (within regions) + G_nb (net between-region
    affluence) + G_t (transvariation — the between-pair overlap
    where a poorer region's member out-spends a richer region's),
    the only Gini decomposition that is exact WITHOUT a residual.
    The identity_residual column certifies it at 10 dp. This is the
    between-segment inequality audit `theil_between_within_nations`
    gives for GE(1), now for Gini — and transvariation is the
    segment-overlap readout no entropy index exposes.

    Device: every pairwise sum_(x>y)(x-y) folds from ONE merged
    value grid — s_plus(h,k) = sum_v c_h(v)*(v*Ce_k(v) - CVe_k(v))
    with Ce/CVe the exclusive cumulative count/value of region k at
    v — so all 25 ordered-pair absolute-difference sums cost one
    |grid|x5 frame and one equi-join, never an O(n^2) pair join;
    G_h = s_plus(h,h)/(n_h*S_h) and G = sum_all s_plus/(n*S) drop
    out of the same frame. All sums exact DECIMAL(38,0).

    Scale: the per-region exclusive cumulative rides
    ``exact_cumulative`` keyed by region (value buckets, per-bucket
    local windows, per-region bucket offsets) because the spend grid
    grows with customers; no customer-grain persist. The 25-row pair
    frame stays persisted — bounded grain."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_regionkey").alias("r"),
            F.col("o_custkey").alias("u"),
        )
        .agg(
            F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
            .cast("bigint")
            .alias("m")
        )
    )
    rgrid = spend.groupBy("r", F.col("m").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("m").cast("bigint").alias("tv"),
    )
    vgrid = rgrid.select("v").distinct()
    regs = rgrid.select("r").distinct()
    full_g = (
        vgrid.crossJoin(F.broadcast(regs))
        .join(rgrid, ["v", "r"], "left")
        .select(
            "v",
            "r",
            F.coalesce(F.col("c"), F.lit(0)).alias("c0"),
            F.coalesce(F.col("tv"), F.lit(0)).alias("tv0"),
        )
    )
    # each (r, v) grid row is unique, so the exclusive cumulative is
    # the inclusive one minus the row itself
    cum, _ = exact_cumulative(
        full_g, ("v",), {"c": F.sum("c0"), "v": F.sum("tv0")}, keys=("r",)
    )
    cume = cum.select(
        "v",
        "r",
        (F.col("cum_c") - F.col("c0")).cast("bigint").alias("ce"),
        (F.col("cum_v") - F.col("tv0")).cast("bigint").alias("cve"),
    )
    splus = (
        rgrid.alias("h")
        .join(cume.alias("k"), F.col("h.v") == F.col("k.v"))
        .groupBy(
            F.col("h.r").alias("rh"), F.col("k.r").alias("rk")
        )
        .agg(
            F.sum(
                F.col("h.c").cast("decimal(38,0)")
                * (
                    F.col("h.v").cast("decimal(38,0)") * F.col("k.ce")
                    - F.col("k.cve")
                )
            )
            .cast("decimal(38,0)")
            .alias("sp")
        )
        .persist()
    )
    rtot = rgrid.groupBy("r").agg(
        F.sum("c").cast("bigint").alias("nr"),
        F.sum("tv").cast("bigint").alias("sr"),
    )
    tot = rtot.agg(
        F.sum("nr").cast("bigint").alias("n"),
        F.sum("sr").cast("bigint").alias("s"),
    )
    within = (
        splus.where(F.col("rh") == F.col("rk"))
        .join(F.broadcast(rtot), F.col("rh") == F.col("r"))
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.col("sp").cast("double")
                / (F.col("nr").cast("double") * F.col("sr"))
                * (F.col("nr").cast("double") / F.col("n"))
                * (F.col("sr").cast("double") / F.col("s"))
            ).alias("g_w")
        )
    )
    j2 = splus.select(
        F.col("rh").alias("j2h"),
        F.col("rk").alias("j2k"),
        F.col("sp").alias("sp2"),
    )
    ra = rtot.select(
        F.col("r").alias("ar"),
        F.col("nr").alias("na"),
        F.col("sr").alias("sa"),
    )
    rb = rtot.select(
        F.col("r").alias("br2"),
        F.col("nr").alias("nb"),
        F.col("sr").alias("sb"),
    )
    pairterms = (
        splus.where(F.col("rh") < F.col("rk"))
        .join(
            j2,
            (F.col("j2k") == F.col("rh"))
            & (F.col("j2h") == F.col("rk")),
        )
        .join(F.broadcast(ra), F.col("rh") == F.col("ar"))
        .join(F.broadcast(rb), F.col("rk") == F.col("br2"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("sp").cast("double").alias("s_ab"),
            F.col("sp2").cast("double").alias("s_ba"),
            "na",
            "sa",
            "nb",
            "sb",
            "n",
            "s",
        )
    )
    gjk = (F.col("s_ab") + F.col("s_ba")) / (
        F.col("nb").cast("double") * F.col("sa")
        + F.col("na").cast("double") * F.col("sb")
    )
    wjk = (
        F.col("na").cast("double") * F.col("sb")
        + F.col("nb").cast("double") * F.col("sa")
    ) / (F.col("n").cast("double") * F.col("s"))
    djk = F.abs(F.col("s_ab") - F.col("s_ba")) / (
        F.col("s_ab") + F.col("s_ba")
    )
    between_f = pairterms.agg(
        F.sum(gjk * wjk * djk).alias("g_nb"),
        F.sum(gjk * wjk * (1.0 - djk)).alias("g_t"),
    )
    overall = splus.crossJoin(F.broadcast(tot)).agg(
        (
            F.sum(F.col("sp").cast("double"))
            / F.max(F.col("n").cast("double") * F.col("s"))
        ).alias("g")
    )
    return (
        tot.crossJoin(F.broadcast(overall))
        .crossJoin(F.broadcast(within))
        .crossJoin(F.broadcast(between_f))
        .select(
            F.col("n").alias("n_customers"),
            (F.round("g", 8) + 0.0).alias("gini_total"),
            (F.round("g_w", 8) + 0.0).alias("gini_within"),
            (F.round("g_nb", 8) + 0.0).alias("gini_net_between"),
            (F.round("g_t", 8) + 0.0).alias("gini_transvariation"),
            (
                F.round(
                    F.col("g")
                    - F.col("g_w")
                    - F.col("g_nb")
                    - F.col("g_t"),
                    10,
                )
                + 0.0
            ).alias("identity_residual"),
        )
    )


PLAN_AUDIT_NOTES.update(
    {
        "kakwani_discount_progressivity": (
            "INFO: no single-partition window since the r18 "
            "optimization rewrite — the price-grid exclusive prefix "
            "rides exact_cumulative (per-bucket window + broadcast "
            "bucket offsets) and the grid totals ride the same "
            "broadcast; note "
            "kept for the history, excluded from the effective "
            "allowlist"
        ),
        "reynolds_smolensky_redistribution": (
            "INFO: no single-partition window since the r18 "
            "optimization rewrite — both grid cumulatives (pre and "
            "post) ride the fixed-width value-bucket device (the "
            "kakwani twin); note kept for the history, excluded "
            "from the effective allowlist"
        ),
        "qq_tail_estimator": (
            "INFO: no single-partition window since the r18 "
            "optimization rewrite — the descending tail cumulative "
            "rides the descending value-bucket device (pid = "
            "-(v div W)); the 100-row order-statistic join "
            "stays broadcast; note kept for the history, excluded "
            "from the effective allowlist"
        ),
        "extremal_index_runs": (
            "daily-grid cumulative for the exact q90 threshold + one "
            "lag over the calendar-bounded exceedance frame (the "
            "cusum class)"
        ),
        "dagum_gini_decomposition": (
            "INFO: no single-partition window under the structural "
            "detector — per-(region, pid) local windows inside "
            "exact_cumulative, no global sort, and the bounded 5x5 "
            "pair-frame re-scans resolve to broadcast exchanges; note "
            "kept for the history (authored under the pre-r16 textual "
            "heuristic), excluded from the effective allowlist"
        ),
    }
)


# --------------------------------------------------------------------------
# Rachev ratio: 5% gain tail vs 5% loss tail of daily revenue changes
# --------------------------------------------------------------------------
@register(
    "rachev_ratio_tails",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    chg AS (
        SELECT y - LAG(y) OVER (ORDER BY day) AS g
        FROM daily QUALIFY g IS NOT NULL
    ),
    grid AS (
        SELECT g AS v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(g) AS BIGINT) AS tv
        FROM chg GROUP BY g
    ),
    cum AS (
        SELECT v, c, tv,
               SUM(c) OVER (ORDER BY v DESC ROWS UNBOUNDED
                            PRECEDING) AS tail_cc,
               SUM(c) OVER (ORDER BY v ASC ROWS UNBOUNDED
                            PRECEDING) AS cc,
               SUM(c) OVER () AS n
        FROM grid
    ),
    k AS (SELECT CAST((MAX(n) * 5 + 99) // 100 AS BIGINT) AS k,
                 CAST(MAX(n) AS BIGINT) AS n FROM cum),
    up AS (
        SELECT k.k,
               (SELECT CAST(MIN(v) AS BIGINT) FROM cum
                WHERE tail_cc >= k.k) AS t
        FROM k
    ),
    dn AS (
        SELECT k.k,
               (SELECT CAST(MAX(v) AS BIGINT) FROM cum
                WHERE cc >= k.k) AS t
        FROM k
    ),
    gain AS (
        SELECT up.k,
               CAST(SUM(CASE WHEN g.v > up.t THEN g.tv ELSE 0 END)
                    AS BIGINT) AS s_above,
               CAST(SUM(CASE WHEN g.v > up.t THEN g.c ELSE 0 END)
                    AS BIGINT) AS c_above,
               MAX(up.t) AS t
        FROM grid g, up GROUP BY up.k
    ),
    loss AS (
        SELECT dn.k,
               CAST(SUM(CASE WHEN g.v < dn.t THEN g.tv ELSE 0 END)
                    AS BIGINT) AS s_below,
               CAST(SUM(CASE WHEN g.v < dn.t THEN g.c ELSE 0 END)
                    AS BIGINT) AS c_below,
               MAX(dn.t) AS t
        FROM grid g, dn GROUP BY dn.k
    )
    SELECT (SELECT n FROM k) AS n_days,
           (SELECT k FROM k) AS k_tail,
           round((ga.s_above + (ga.k - ga.c_above) * ga.t)
                 / CAST(ga.k AS DOUBLE) / 100000.0, 6) + 0.0
               AS cvar_gain_kusd,
           round(-(lo.s_below + (lo.k - lo.c_below) * lo.t)
                 / CAST(lo.k AS DOUBLE) / 100000.0, 6) + 0.0
               AS cvar_loss_kusd,
           round((ga.s_above + (ga.k - ga.c_above) * ga.t) * -1.0
                 / (lo.s_below + (lo.k - lo.c_below) * lo.t), 8)
               + 0.0 AS rachev_ratio
    FROM gain ga, loss lo
    """,
)
def rachev_ratio_tails(spark, sf_dir):
    """RACHEV RATIO of day-over-day revenue changes: mean of the best
    5% of days divided by the mean magnitude of the worst 5% — the
    tail-vs-tail reward/risk measure (a ratio of two CVaRs) that is
    finite and meaningful on heavy tails where Sharpe's variance
    denominator misleads; complements `var_cvar_historical` (one
    tail) and `sharpe_sortino_omega` (moments/threshold family).

    Exactness: both tail means are EXACT order-statistic averages —
    threshold from the change-grid cumulative, then mean-of-k-
    extremes = (sum beyond threshold + (k - count_beyond) *
    threshold)/k, which handles ties at the threshold exactly (no
    interpolated percentile). Plan: one day rollup, one calendar
    lag, one change-grid double cumulative, two scalar folds."""
    daily = daily_order_cents(spark, sf_dir)
    chg = daily.select(
        (F.col("y") - F.lag("y").over(Window.orderBy("day"))).alias(
            "g"
        )
    ).where(F.col("g").isNotNull())
    grid = chg.groupBy(F.col("g").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("g").cast("bigint").alias("tv"),
    ).persist()
    cum = grid.select(
        "v",
        "c",
        "tv",
        F.sum("c")
        .over(
            Window.orderBy(F.col("v").desc()).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("tail_cc"),
        F.sum("c")
        .over(
            Window.orderBy(F.col("v").asc()).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cc"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    ).persist()
    k = cum.agg(
        F.floor((F.max("n") * 5 + 99) / 100).cast("bigint").alias("k"),
        F.max("n").cast("bigint").alias("n"),
    )
    up = (
        cum.crossJoin(F.broadcast(k))
        .where(F.col("tail_cc") >= F.col("k"))
        .groupBy("k")
        .agg(F.min("v").cast("bigint").alias("t"))
    )
    dn = (
        cum.crossJoin(F.broadcast(k))
        .where(F.col("cc") >= F.col("k"))
        .groupBy("k")
        .agg(F.max("v").cast("bigint").alias("t"))
    )
    gain = (
        grid.crossJoin(F.broadcast(up))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("v") > F.col("t"), F.col("tv")).otherwise(0))
            .cast("bigint")
            .alias("s_above"),
            F.sum(F.when(F.col("v") > F.col("t"), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("c_above"),
            F.max("t").alias("t"),
        )
    )
    loss = (
        grid.crossJoin(F.broadcast(dn))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("v") < F.col("t"), F.col("tv")).otherwise(0))
            .cast("bigint")
            .alias("s_below"),
            F.sum(F.when(F.col("v") < F.col("t"), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("c_below"),
            F.max("t").alias("t"),
        )
    )
    ga = gain.select(
        F.col("k").alias("gk"),
        (
            F.col("s_above") + (F.col("k") - F.col("c_above")) * F.col("t")
        ).alias("gain_sum"),
    )
    lo = loss.select(
        F.col("k").alias("lk"),
        (
            F.col("s_below") + (F.col("k") - F.col("c_below")) * F.col("t")
        ).alias("loss_sum"),
    )
    nk = k.select("n", "k")
    return (
        nk.crossJoin(F.broadcast(ga))
        .crossJoin(F.broadcast(lo))
        .select(
            F.col("n").alias("n_days"),
            F.col("k").alias("k_tail"),
            (
                F.round(
                    F.col("gain_sum") / F.col("gk").cast("double") / 100000.0,
                    6,
                )
                + 0.0
            ).alias("cvar_gain_kusd"),
            (
                F.round(
                    -F.col("loss_sum")
                    / F.col("lk").cast("double")
                    / 100000.0,
                    6,
                )
                + 0.0
            ).alias("cvar_loss_kusd"),
            (
                F.round(
                    F.col("gain_sum") * -1.0 / F.col("loss_sum"), 8
                )
                + 0.0
            ).alias("rachev_ratio"),
        )
    )


# --------------------------------------------------------------------------
# Calmar / average-drawdown panel of the daily revenue series
# --------------------------------------------------------------------------
@register(
    "calmar_sterling_panel",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    dd AS (
        SELECT day, y,
               MAX(y) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                   - y AS draw,
               FIRST_VALUE(y) OVER (ORDER BY day ROWS UNBOUNDED
                                    PRECEDING) AS y0,
               LAST_VALUE(y) OVER (ORDER BY day ROWS BETWEEN
                                   UNBOUNDED PRECEDING AND
                                   UNBOUNDED FOLLOWING) AS ylast
        FROM daily
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MAX(draw) AS BIGINT) AS mdd,
               CAST(SUM(draw) AS BIGINT) AS sdraw,
               MAX(ylast) - MAX(y0) AS net
        FROM dd
    )
    SELECT n AS n_days,
           round(mdd / 100000.0, 6) + 0.0 AS max_drawdown_kusd,
           round(CAST(sdraw AS DOUBLE) / n / 100000.0, 6) + 0.0
               AS avg_drawdown_kusd,
           round(CAST(net AS DOUBLE) / (n - 1) / 100000.0, 6) + 0.0
               AS mean_daily_change_kusd,
           round(CAST(net AS DOUBLE) / (n - 1) / mdd, 8) + 0.0
               AS calmar_ratio,
           round(CAST(net AS DOUBLE) / (n - 1) * n
                 / CAST(sdraw AS DOUBLE), 8) + 0.0
               AS sterling_ratio
    FROM fold
    """,
)
def calmar_sterling_panel(spark, sf_dir):
    """CALMAR and STERLING ratios of the daily-revenue path: mean
    daily change divided by the maximum (Calmar) or average
    (Sterling variant) peak-to-trough drawdown of the running-max
    envelope — the path-dependent risk normalizations that a
    volatility denominator (Sharpe) cannot see: two series with
    identical variance but different drawdown geometry get very
    different Calmars. Completes the drawdown bench next to
    `ulcer_index_martin` (RMS drawdown) and `user_value_drawdown`
    (per-entity paths).

    Exactness: drawdowns are exact integer cents off the running
    max over the calendar-bounded day frame; all folds exact
    BIGINTs; ratios divide in doubles at the end. Plan: one day
    rollup, two calendar-frame windows, one fold."""
    daily = daily_order_cents(spark, sf_dir)
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    dd = daily.select(
        "y",
        (F.max("y").over(w) - F.col("y")).alias("draw"),
        F.first("y").over(w).alias("y0"),
        F.last("y").over(wall).alias("ylast"),
    )
    fold = dd.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.max("draw").cast("bigint").alias("mdd"),
        F.sum("draw").cast("bigint").alias("sdraw"),
        (F.max("ylast") - F.max("y0")).alias("net"),
    )
    return fold.select(
        F.col("n").alias("n_days"),
        (F.round(F.col("mdd") / 100000.0, 6) + 0.0).alias(
            "max_drawdown_kusd"
        ),
        (
            F.round(
                F.col("sdraw").cast("double") / F.col("n") / 100000.0, 6
            )
            + 0.0
        ).alias("avg_drawdown_kusd"),
        (
            F.round(
                F.col("net").cast("double")
                / (F.col("n") - 1)
                / 100000.0,
                6,
            )
            + 0.0
        ).alias("mean_daily_change_kusd"),
        (
            F.round(
                F.col("net").cast("double")
                / (F.col("n") - 1)
                / F.col("mdd"),
                8,
            )
            + 0.0
        ).alias("calmar_ratio"),
        (
            F.round(
                F.col("net").cast("double")
                / (F.col("n") - 1)
                * F.col("n")
                / F.col("sdraw").cast("double"),
                8,
            )
            + 0.0
        ).alias("sterling_ratio"),
    )


# --------------------------------------------------------------------------
# Kelly criterion panel on daily revenue changes
# --------------------------------------------------------------------------
@register(
    "kelly_fraction_daily",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    chg AS (
        SELECT y - LAG(y) OVER (ORDER BY day) AS g
        FROM daily QUALIFY g IS NOT NULL
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN g > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_up,
               CAST(SUM(CASE WHEN g > 0 THEN g ELSE 0 END)
                    AS BIGINT) AS s_up,
               CAST(SUM(CASE WHEN g < 0 THEN -g ELSE 0 END)
                    AS BIGINT) AS s_dn,
               CAST(SUM(CASE WHEN g < 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dn,
               CAST(SUM(g) AS BIGINT) AS s,
               CAST(SUM(CAST(g AS DECIMAL(38,0)) * g)
                    AS DECIMAL(38,0)) AS ss
        FROM chg
    )
    SELECT n AS n_days,
           round(CAST(n_up AS DOUBLE) / n, 8) + 0.0 AS p_up,
           round((CAST(s_up AS DOUBLE) / n_up)
                 / (CAST(s_dn AS DOUBLE) / n_dn), 8) + 0.0
               AS payoff_ratio_b,
           round(CAST(n_up AS DOUBLE) / n
                 - (1.0 - CAST(n_up AS DOUBLE) / n)
                   / ((CAST(s_up AS DOUBLE) / n_up)
                      / (CAST(s_dn AS DOUBLE) / n_dn)), 8) + 0.0
               AS kelly_discrete_f,
           round(CAST(s AS DOUBLE) / n * 100000.0
                 / (CAST(ss AS DOUBLE) / n
                    - CAST(s AS DOUBLE) * s / n / n), 8) + 0.0
               AS kelly_continuous_per_kusd
    FROM fold
    """,
)
def kelly_fraction_daily(spark, sf_dir):
    """KELLY criterion panel on day-over-day revenue changes: the
    discrete win/loss form f* = p - q/b (p = up-day share, b = mean
    gain / mean loss) and the continuous approximation f* = mu /
    sigma^2 (per k$) — the growth-optimal sizing numbers whose
    INPUTS (p, b, mu, sigma) this pipeline already certifies
    elsewhere; the panel is the composition a treasury dashboard
    actually displays next to `sharpe_sortino_omega`.

    Exactness: every moment is an exact integer fold (gain/loss
    sums BIGINT, squared sum DECIMAL(38,0)); the four readouts
    divide in doubles at 8 dp. Plan: one day rollup, one calendar
    lag, one fold."""
    daily = daily_order_cents(spark, sf_dir)
    chg = daily.select(
        (F.col("y") - F.lag("y").over(Window.orderBy("day"))).alias(
            "g"
        )
    ).where(F.col("g").isNotNull())
    g = F.col("g")
    fold = chg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(g > 0, 1).otherwise(0)).cast("bigint").alias(
            "n_up"
        ),
        F.sum(F.when(g > 0, g).otherwise(0)).cast("bigint").alias(
            "s_up"
        ),
        F.sum(F.when(g < 0, -g).otherwise(0)).cast("bigint").alias(
            "s_dn"
        ),
        F.sum(F.when(g < 0, 1).otherwise(0)).cast("bigint").alias(
            "n_dn"
        ),
        F.sum(g).cast("bigint").alias("s"),
        F.sum(g.cast("decimal(38,0)") * g)
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    p = F.col("n_up").cast("double") / F.col("n")
    b = (F.col("s_up").cast("double") / F.col("n_up")) / (
        F.col("s_dn").cast("double") / F.col("n_dn")
    )
    mu = F.col("s").cast("double") / F.col("n")
    var = F.col("ss").cast("double") / F.col("n") - F.col("s").cast(
        "double"
    ) * F.col("s") / F.col("n") / F.col("n")
    return fold.select(
        F.col("n").alias("n_days"),
        (F.round(p, 8) + 0.0).alias("p_up"),
        (F.round(b, 8) + 0.0).alias("payoff_ratio_b"),
        (F.round(p - (1.0 - p) / b, 8) + 0.0).alias(
            "kelly_discrete_f"
        ),
        (F.round(mu * 100000.0 / var, 8) + 0.0).alias(
            "kelly_continuous_per_kusd"
        ),
    )


# --------------------------------------------------------------------------
# Exponential spectral risk measure of daily revenue losses
# --------------------------------------------------------------------------
@register(
    "spectral_risk_exponential",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    chg AS (
        SELECT LAG(y) OVER (ORDER BY day) - y AS loss
        FROM daily QUALIFY loss IS NOT NULL
    ),
    grid AS (
        SELECT loss AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM chg GROUP BY loss
    ),
    cum AS (
        SELECT v,
               SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                   AS cc,
               SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                            PRECEDING AND 1 PRECEDING) AS head,
               SUM(c) OVER () AS n
        FROM grid
    ),
    terms AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(CAST(round(v / 100000.0
                   * (round(exp(-5.0 * (1.0 - CAST(cc AS DOUBLE)
                                              / n)), 8)
                      - round(exp(-5.0 * (1.0
                            - CAST(COALESCE(head, 0) AS DOUBLE)
                              / n)), 8)), 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS w5,
               CAST(SUM(CAST(round(v / 100000.0
                   * (round(exp(-10.0 * (1.0 - CAST(cc AS DOUBLE)
                                               / n)), 8)
                      - round(exp(-10.0 * (1.0
                            - CAST(COALESCE(head, 0) AS DOUBLE)
                              / n)), 8)), 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS w10
        FROM cum
    )
    SELECT n AS n_days,
           round(w5 / (1.0 - round(exp(-5.0), 8)), 6) + 0.0
               AS srm_k5_kusd,
           round(w10 / (1.0 - round(exp(-10.0), 8)), 6) + 0.0
               AS srm_k10_kusd
    FROM terms
    """,
)
def spectral_risk_exponential(spark, sf_dir):
    """EXPONENTIAL-UTILITY spectral risk measure of daily revenue
    losses at risk aversions k = 5 and 10: SRM = integral of the
    quantile function against the admissible spectrum phi(p) =
    k*e^(-k(1-p))/(1-e^(-k)) — the coherent risk family that
    WEIGHTS every loss quantile by risk aversion instead of
    truncating at one alpha like CVaR (`var_cvar_historical` is
    the k->infinity boundary of this family, the mean is k->0).
    The step-ECDF integral is EXACT: each grid row contributes its
    loss times the exact integral of phi over its own probability
    interval [head/n, cc/n].

    Exactness: interval masses are exact integer ratios; the two
    exponentials pin at 8 dp before differencing (the watts ln
    pin); terms fold through DECIMAL(28,8). Plan: one day rollup,
    one calendar lag, one domain-bounded grid cumulative, one
    fold."""
    daily = daily_order_cents(spark, sf_dir)
    chg = daily.select(
        (F.lag("y").over(Window.orderBy("day")) - F.col("y")).alias(
            "loss"
        )
    ).where(F.col("loss").isNotNull())
    grid = chg.groupBy(F.col("loss").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cum = grid.select(
        "v",
        F.sum("c")
        .over(
            Window.orderBy("v").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cc"),
        F.sum("c")
        .over(
            Window.orderBy("v").rowsBetween(
                Window.unboundedPreceding, -1
            )
        )
        .alias("head"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )

    def wterm(kk: float):
        hi = F.round(
            F.exp(
                -kk * (1.0 - F.col("cc").cast("double") / F.col("n"))
            ),
            8,
        )
        lo = F.round(
            F.exp(
                -kk
                * (
                    1.0
                    - F.coalesce(F.col("head"), F.lit(0)).cast(
                        "double"
                    )
                    / F.col("n")
                )
            ),
            8,
        )
        return F.sum(
            F.round(F.col("v") / 100000.0 * (hi - lo), 8).cast(
                "decimal(28,8)"
            )
        ).cast("double")

    terms = cum.agg(
        F.max("n").cast("bigint").alias("n"),
        wterm(5.0).alias("w5"),
        wterm(10.0).alias("w10"),
    )
    return terms.select(
        F.col("n").alias("n_days"),
        (
            F.round(
                F.col("w5")
                / (1.0 - F.round(F.exp(F.lit(-5.0)), 8)),
                6,
            )
            + 0.0
        ).alias("srm_k5_kusd"),
        (
            F.round(
                F.col("w10")
                / (1.0 - F.round(F.exp(F.lit(-10.0)), 8)),
                6,
            )
            + 0.0
        ).alias("srm_k10_kusd"),
    )


# --------------------------------------------------------------------------
# Markov / Chebyshev / Cantelli moment-bound certificates
# --------------------------------------------------------------------------
@register(
    "moment_bound_certificates",
    oracle="""
    WITH pts AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    grid AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM pts GROUP BY v
    ),
    mom AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CAST(c AS DECIMAL(38,0)) * v)
                    AS DECIMAL(38,0)) AS s,
               CAST(SUM(CAST(c AS DECIMAL(38,0))
                        * CAST(v AS DECIMAL(38,0)) * v)
                    AS DECIMAL(38,0)) AS ss
        FROM grid
    ),
    fold AS (
        SELECT mom.n,
               CAST(SUM(CASE WHEN g.v * mom.n >= 2 * mom.s
                             THEN g.c ELSE 0 END) AS BIGINT) AS ge2mu,
               CAST(SUM(CASE WHEN g.v * mom.n >= 3 * mom.s
                             THEN g.c ELSE 0 END) AS BIGINT) AS ge3mu,
               CAST(SUM(CASE WHEN (CAST(g.v AS DECIMAL(38,0)) * mom.n
                                   - mom.s)
                                  * (CAST(g.v AS DECIMAL(38,0))
                                     * mom.n - mom.s)
                                  >= 4 * (mom.n * mom.ss
                                          - mom.s * mom.s)
                             THEN g.c ELSE 0 END) AS BIGINT)
                   AS dev2,
               CAST(SUM(CASE WHEN (CAST(g.v AS DECIMAL(38,0)) * mom.n
                                   - mom.s)
                                  * (CAST(g.v AS DECIMAL(38,0))
                                     * mom.n - mom.s)
                                  >= 9 * (mom.n * mom.ss
                                          - mom.s * mom.s)
                             THEN g.c ELSE 0 END) AS BIGINT)
                   AS dev3,
               CAST(SUM(CASE WHEN CAST(g.v AS DECIMAL(38,0)) * mom.n
                                  > mom.s
                             AND (CAST(g.v AS DECIMAL(38,0)) * mom.n
                                  - mom.s)
                                 * (CAST(g.v AS DECIMAL(38,0))
                                    * mom.n - mom.s)
                                 >= 4 * (mom.n * mom.ss
                                         - mom.s * mom.s)
                             THEN g.c ELSE 0 END) AS BIGINT)
                   AS updev2
        FROM grid g, mom GROUP BY mom.n
    )
    SELECT n AS n_orders,
           round(CAST(ge2mu AS DOUBLE) / n, 8) + 0.0 AS p_ge_2mu,
           round(CAST(ge3mu AS DOUBLE) / n, 8) + 0.0 AS p_ge_3mu,
           round(CAST(dev2 AS DOUBLE) / n, 8) + 0.0
               AS p_absdev_ge_2sig,
           round(CAST(dev3 AS DOUBLE) / n, 8) + 0.0
               AS p_absdev_ge_3sig,
           round(0.5 - CAST(ge2mu AS DOUBLE) / n, 8) + 0.0
               AS slack_markov_2mu,
           round(0.25 - CAST(dev2 AS DOUBLE) / n, 8) + 0.0
               AS slack_chebyshev_2sig,
           round(0.2 - CAST(updev2 AS DOUBLE) / n, 8) + 0.0
               AS slack_cantelli_2sig
    FROM fold
    """,
)
def moment_bound_certificates(spark, sf_dir):
    """MOMENT-BOUND certificates on the order-value distribution:
    empirical tail masses P(X >= k*mu), P(|X - mu| >= k*sigma) and
    the upper one-sided P(X - mu >= k*sigma) against their Markov
    (1/k), Chebyshev (1/k^2) and Cantelli (1/(1+k^2)) guarantees —
    the distribution-free sanity bracket every downstream consumer
    of this pipeline's mean/variance readouts is entitled to, and
    the observed-vs-guaranteed slack is the "how non-adversarial is
    this distribution" certificate.

    Exactness: EVERY comparison is an exact integer inequality —
    x >= k*mu becomes v*n >= k*S and |x-mu| >= k*sigma becomes
    (v*n - S)^2 >= k^2*(n*SS - S^2), all in DECIMAL(38,0), so no
    rounded mean or sqrt ever decides a boundary case. Plan: one
    value rollup, one moment fold, one broadcast, one count fold."""
    o = t(spark, sf_dir, "orders")
    grid = (
        o.select(
            (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v")
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist()
    )
    mom = grid.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("v"))
        .cast("decimal(38,0)")
        .alias("s"),
        F.sum(
            F.col("c").cast("decimal(38,0)")
            * F.col("v").cast("decimal(38,0)")
            * F.col("v")
        )
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    dev = F.col("v").cast("decimal(38,0)") * F.col("n") - F.col("s")
    var_n2 = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    fold = (
        grid.crossJoin(F.broadcast(mom))
        .groupBy("n")
        .agg(
            F.sum(
                F.when(
                    F.col("v") * F.col("n") >= 2 * F.col("s"),
                    F.col("c"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("ge2mu"),
            F.sum(
                F.when(
                    F.col("v") * F.col("n") >= 3 * F.col("s"),
                    F.col("c"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("ge3mu"),
            F.sum(
                F.when(dev * dev >= 4 * var_n2, F.col("c")).otherwise(0)
            )
            .cast("bigint")
            .alias("dev2"),
            F.sum(
                F.when(dev * dev >= 9 * var_n2, F.col("c")).otherwise(0)
            )
            .cast("bigint")
            .alias("dev3"),
            F.sum(
                F.when(
                    (dev > 0) & (dev * dev >= 4 * var_n2), F.col("c")
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("updev2"),
        )
    )
    return fold.select(
        F.col("n").alias("n_orders"),
        (
            F.round(F.col("ge2mu").cast("double") / F.col("n"), 8)
            + 0.0
        ).alias("p_ge_2mu"),
        (
            F.round(F.col("ge3mu").cast("double") / F.col("n"), 8)
            + 0.0
        ).alias("p_ge_3mu"),
        (
            F.round(F.col("dev2").cast("double") / F.col("n"), 8)
            + 0.0
        ).alias("p_absdev_ge_2sig"),
        (
            F.round(F.col("dev3").cast("double") / F.col("n"), 8)
            + 0.0
        ).alias("p_absdev_ge_3sig"),
        (
            F.round(
                0.5 - F.col("ge2mu").cast("double") / F.col("n"), 8
            )
            + 0.0
        ).alias("slack_markov_2mu"),
        (
            F.round(
                0.25 - F.col("dev2").cast("double") / F.col("n"), 8
            )
            + 0.0
        ).alias("slack_chebyshev_2sig"),
        (
            F.round(
                0.2 - F.col("updev2").cast("double") / F.col("n"), 8
            )
            + 0.0
        ).alias("slack_cantelli_2sig"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "rachev_ratio_tails": (
            "ascending+descending cumulatives over the day-change "
            "grid (calendar-bounded — the var_cvar class)"
        ),
        "calmar_sterling_panel": (
            "running-max + first/last windows over the calendar-day "
            "frame (the ulcer_index class)"
        ),
        "kelly_fraction_daily": (
            "one lag over the calendar-day frame"
        ),
        "spectral_risk_exponential": (
            "inclusive+exclusive cumulatives over the day-change "
            "grid (calendar-bounded)"
        ),
    }
)


# --------------------------------------------------------------------------
# Laplace (centroid) trend test for the purchase point process
# --------------------------------------------------------------------------
@register(
    "laplace_trend_test",
    oracle="""
    WITH win AS (
        SELECT CAST(MIN(epoch_us(ts)) AS BIGINT) AS t0,
               CAST(MAX(epoch_us(ts)) AS BIGINT) AS t1
        FROM events
    ),
    pur AS (
        SELECT CAST(epoch_us(e.ts) AS BIGINT) - win.t0 AS x,
               win.t1 - win.t0 AS tspan
        FROM events e, win
        WHERE e.event_type = 'purchase'
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               MAX(tspan) AS tspan,
               CAST(SUM(CAST(x AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS sx
        FROM pur
    )
    SELECT n AS n_purchases,
           round(CAST(sx AS DOUBLE) / n / tspan, 8) + 0.0
               AS mean_relative_position,
           round((CAST(sx AS DOUBLE) / n / tspan - 0.5)
                 * sqrt(12.0 * n), 6) + 0.0 AS laplace_u
    FROM fold
    """,
)
def laplace_trend_test(spark, sf_dir):
    """LAPLACE (centroid) trend test on the purchase point process:
    conditional on n events in the observation window, an HPP's
    arrival times are iid uniform, so U = (mean relative position -
    1/2) * sqrt(12n) is standard normal; U > 0 says purchases are
    drifting LATE in the window (an intensifying process), U < 0
    early — the first-line reliability-growth / demand-trend check
    that `mann_kendall_trend` answers at day grain but this answers
    at the exact event-timestamp grain with no binning at all.

    Exactness: positions are exact integer microseconds; the
    position sum folds in DECIMAL(38,0); one division and one sqrt
    at the end. Plan: one scalar window fold, one filtered fold —
    no window functions, no join beyond a broadcast scalar."""
    e = t(spark, sf_dir, "events")
    win = e.agg(
        F.min(F.unix_micros("ts")).cast("bigint").alias("t0"),
        F.max(F.unix_micros("ts")).cast("bigint").alias("t1"),
    )
    pur = (
        e.where(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(win))
        .select(
            (F.unix_micros("ts").cast("bigint") - F.col("t0")).alias(
                "x"
            ),
            (F.col("t1") - F.col("t0")).alias("tspan"),
        )
    )
    fold = pur.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.max("tspan").alias("tspan"),
        F.sum(F.col("x").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sx"),
    )
    pos = F.col("sx").cast("double") / F.col("n") / F.col("tspan")
    return fold.select(
        F.col("n").alias("n_purchases"),
        (F.round(pos, 8) + 0.0).alias("mean_relative_position"),
        (
            F.round((pos - 0.5) * F.sqrt(12.0 * F.col("n")), 6) + 0.0
        ).alias("laplace_u"),
    )


# --------------------------------------------------------------------------
# Crow-AMSAA (power-law NHPP) reliability-growth fit
# --------------------------------------------------------------------------
@register(
    "crow_amsaa_growth",
    oracle="""
    WITH win AS (
        SELECT CAST(MIN(epoch_us(ts)) AS BIGINT) AS t0,
               CAST(MAX(epoch_us(ts)) AS BIGINT) AS t1
        FROM events
    ),
    pur AS (
        SELECT CAST(epoch_us(e.ts) AS BIGINT) - win.t0 AS x,
               win.t1 - win.t0 AS tspan
        FROM events e, win
        WHERE e.event_type = 'purchase'
          AND CAST(epoch_us(e.ts) AS BIGINT) > win.t0
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               MAX(tspan) AS tspan,
               CAST(SUM(CAST(round(ln(CAST(tspan AS DOUBLE) / x), 6)
                             AS DECIMAL(28,6))) AS DOUBLE) AS slog
        FROM pur
    )
    SELECT n AS n_purchases,
           round(n / slog, 8) + 0.0 AS beta_hat,
           round(2.0 * slog, 4) + 0.0 AS mil_hdbk_chi2,
           CAST(2 * n AS BIGINT) AS chi2_df,
           round((n / slog) * n / CAST(tspan AS DOUBLE)
                 * 86400000000.0, 6) + 0.0
               AS intensity_now_per_day
    FROM fold
    """,
)
def crow_amsaa_growth(spark, sf_dir):
    """CROW-AMSAA (power-law NHPP) growth fit of the purchase
    process: the MLE shape beta = n / sum ln(T/t_i) (beta > 1 =
    intensifying, beta < 1 = decaying, beta = 1 = HPP), the
    MIL-HDBK-189 statistic 2*sum ln(T/t_i) ~ chi2(2n) under HPP
    (its own exactly-known null), and the fitted current intensity
    beta*n/T per day — the parametric complement to the
    distribution-free `laplace_trend_test` on the same arrivals.

    Exactness: relative times are exact integer microseconds; each
    ln(T/t) pins at 6 dp before the DECIMAL fold (the watts pin);
    the first event (t = 0, where ln diverges) is excluded by
    construction. Plan: one scalar window fold, one filtered fold."""
    e = t(spark, sf_dir, "events")
    win = e.agg(
        F.min(F.unix_micros("ts")).cast("bigint").alias("t0"),
        F.max(F.unix_micros("ts")).cast("bigint").alias("t1"),
    )
    pur = (
        e.where(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(win))
        .where(F.unix_micros("ts").cast("bigint") > F.col("t0"))
        .select(
            (F.unix_micros("ts").cast("bigint") - F.col("t0")).alias(
                "x"
            ),
            (F.col("t1") - F.col("t0")).alias("tspan"),
        )
    )
    fold = pur.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.max("tspan").alias("tspan"),
        F.sum(
            F.round(
                F.log(F.col("tspan").cast("double") / F.col("x")), 6
            ).cast("decimal(28,6)")
        )
        .cast("double")
        .alias("slog"),
    )
    beta = F.col("n") / F.col("slog")
    return fold.select(
        F.col("n").alias("n_purchases"),
        (F.round(beta, 8) + 0.0).alias("beta_hat"),
        (F.round(2.0 * F.col("slog"), 4) + 0.0).alias(
            "mil_hdbk_chi2"
        ),
        (2 * F.col("n")).cast("bigint").alias("chi2_df"),
        (
            F.round(
                beta
                * F.col("n")
                / F.col("tspan").cast("double")
                * 86400000000.0,
                6,
            )
            + 0.0
        ).alias("intensity_now_per_day"),
    )


# --------------------------------------------------------------------------
# Barlow-Proschan TTT test for exponentiality of interpurchase gaps
# --------------------------------------------------------------------------
@register(
    "ttt_barlow_proschan",
    oracle="""
    WITH pur AS (
        SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS tus
        FROM events WHERE event_type = 'purchase'
    ),
    gaps AS (
        SELECT (tus - LAG(tus) OVER (PARTITION BY user_id
                                     ORDER BY tus))
               // 1000000 AS gap
        FROM pur QUALIFY gap IS NOT NULL AND gap > 0
    ),
    grid AS (
        SELECT gap AS v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(gap) AS BIGINT) AS tv
        FROM gaps GROUP BY gap
    ),
    cum AS (
        SELECT v, c,
               CAST(COALESCE(SUM(c) OVER ew, 0) AS BIGINT) AS head,
               CAST(COALESCE(SUM(tv) OVER ew, 0) AS BIGINT)
                   AS cv_prev,
               SUM(c) OVER () AS n,
               SUM(tv) OVER () AS s
        FROM grid
        WINDOW ew AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING)
    ),
    fold AS (
        SELECT MAX(n) AS n, MAX(s) AS s,
               CAST(SUM(CAST(c AS DECIMAL(38,0))
                        * (CAST(cv_prev AS DECIMAL(38,0))
                           + CAST(v AS DECIMAL(38,0)) * (n - head)))
                    AS DECIMAL(38,0)) AS sum_ttt
        FROM cum
    )
    SELECT CAST(n AS BIGINT) AS n_gaps,
           round((CAST(sum_ttt AS DOUBLE) / s - 1.0)
                 / (n - 1), 8) + 0.0 AS ttt_mean_scaled,
           round(((CAST(sum_ttt AS DOUBLE) / s - 1.0)
                  - (n - 1) / 2.0)
                 / sqrt((n - 1) / 12.0), 6) + 0.0
               AS barlow_proschan_z
    FROM fold
    """,
)
def ttt_barlow_proschan(spark, sf_dir):
    """BARLOW-PROSCHAN total-time-on-test statistic on pooled
    interpurchase gaps: W = sum_(i<n) TTT_i / TTT_n is a sum of
    n-1 iid uniforms under exponentiality, so z = (W-(n-1)/2) /
    sqrt((n-1)/12) reads aging directly — z > 0 means IFR (gaps
    cluster then stretch: NBU wear-out), z < 0 DFR (burstiness) —
    the aging-direction certificate that `exp_rate_lr_gaps` /
    `greenwood_spacing_uniformity` test only for flat exponential.

    Device: within a tie group of the sorted-gap grid TTT_i =
    CV_prev + v*(n - head) is CONSTANT over the group, so
    sum_i TTT_i = sum_g c*(CV_prev + v*(n-head)) folds exactly on
    the grid with no unit-grain rank ever materializing. Per-user
    lags partition on user_id (data-parallel); the gap grid
    cumulative is value-domain-bounded. All folds DECIMAL(38,0)."""
    e = t(spark, sf_dir, "events")
    pur = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").cast("bigint").alias("tus")
    )
    gaps = pur.select(
        (
            (
                F.col("tus")
                - F.lag("tus").over(
                    Window.partitionBy("user_id").orderBy("tus")
                )
            )
            / 1_000_000
        )
        .cast("bigint")
        .alias("gap")
    ).where(F.col("gap").isNotNull() & (F.col("gap") > 0))
    grid = gaps.groupBy(F.col("gap").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("gap").cast("bigint").alias("tv"),
    )
    ew = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = grid.select(
        "v",
        "c",
        F.coalesce(F.sum("c").over(ew), F.lit(0))
        .cast("bigint")
        .alias("head"),
        F.coalesce(F.sum("tv").over(ew), F.lit(0))
        .cast("bigint")
        .alias("cv_prev"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
        F.sum("tv").over(Window.partitionBy()).alias("s"),
    )
    fold = cum.agg(
        F.max("n").alias("n"),
        F.max("s").alias("s"),
        F.sum(
            F.col("c").cast("decimal(38,0)")
            * (
                F.col("cv_prev").cast("decimal(38,0)")
                + F.col("v").cast("decimal(38,0)")
                * (F.col("n") - F.col("head"))
            )
        )
        .cast("decimal(38,0)")
        .alias("sum_ttt"),
    )
    w = F.col("sum_ttt").cast("double") / F.col("s") - 1.0
    return fold.select(
        F.col("n").alias("n_gaps"),
        (F.round(w / (F.col("n") - 1), 8) + 0.0).alias(
            "ttt_mean_scaled"
        ),
        (
            F.round(
                (w - (F.col("n") - 1) / 2.0)
                / F.sqrt((F.col("n") - 1) / 12.0),
                6,
            )
            + 0.0
        ).alias("barlow_proschan_z"),
    )


# --------------------------------------------------------------------------
# Foster-Stuart records test on the daily revenue series
# --------------------------------------------------------------------------
@register(
    "foster_stuart_records",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    rec AS (
        SELECT day, y,
               ROW_NUMBER() OVER (ORDER BY day) AS i,
               MAX(y) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                            PRECEDING AND 1 PRECEDING) AS prevmax,
               MIN(y) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                            PRECEDING AND 1 PRECEDING) AS prevmin
        FROM daily
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN i > 1 AND y > prevmax
                             THEN 1 ELSE 0 END) AS BIGINT) AS u,
               CAST(SUM(CASE WHEN i > 1 AND y < prevmin
                             THEN 1 ELSE 0 END) AS BIGINT) AS l,
               CAST(SUM(CASE WHEN i > 1
                             THEN CAST(round(1.0 / i, 10)
                                       AS DECIMAL(18,10))
                             ELSE 0 END) AS DOUBLE) AS hsum
        FROM rec
    )
    SELECT n AS n_days,
           u AS n_upper_records,
           l AS n_lower_records,
           CAST(u - l AS BIGINT) AS d_stat,
           round(hsum, 6) + 0.0 AS expected_records_each,
           round((u - l) / sqrt(2.0 * hsum), 6) + 0.0
               AS foster_stuart_z
    FROM fold
    """,
)
def foster_stuart_records(spark, sf_dir):
    """FOSTER-STUART records test on daily revenue: count upper and
    lower records (days beating every previous max / min); under
    exchangeability E[U] = E[L] = sum_(k=2..n) 1/k and the trend
    statistic d = U - L has variance 2*sum 1/k, giving z = d /
    sqrt(2*H) — the third member of the distribution-free trend
    trio (`turning_points_randomness` counts direction changes,
    `difference_sign_test` counts rises, records count extremes —
    each powerful against a different alternative, records
    especially against variance growth).

    Exactness: record flags are exact integer comparisons against
    running max/min over the calendar-bounded day frame; the
    harmonic sum folds 10-dp-rounded reciprocals of the exact day
    index through DECIMAL. Plan: one day rollup, three
    calendar-frame windows, one fold."""
    daily = daily_order_cents(spark, sf_dir)
    ew = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    rec = daily.select(
        "y",
        F.row_number().over(Window.orderBy("day")).alias("i"),
        F.max("y").over(ew).alias("prevmax"),
        F.min("y").over(ew).alias("prevmin"),
    )
    fold = rec.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(
                (F.col("i") > 1) & (F.col("y") > F.col("prevmax")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("u"),
        F.sum(
            F.when(
                (F.col("i") > 1) & (F.col("y") < F.col("prevmin")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("l"),
        F.sum(
            F.when(
                F.col("i") > 1,
                F.round(1.0 / F.col("i"), 10).cast("decimal(18,10)"),
            ).otherwise(F.lit(0).cast("decimal(18,10)"))
        )
        .cast("double")
        .alias("hsum"),
    )
    return fold.select(
        F.col("n").alias("n_days"),
        F.col("u").alias("n_upper_records"),
        F.col("l").alias("n_lower_records"),
        (F.col("u") - F.col("l")).cast("bigint").alias("d_stat"),
        (F.round("hsum", 6) + 0.0).alias("expected_records_each"),
        (
            F.round(
                (F.col("u") - F.col("l"))
                / F.sqrt(2.0 * F.col("hsum")),
                6,
            )
            + 0.0
        ).alias("foster_stuart_z"),
    )


# --------------------------------------------------------------------------
# Shared user-week purchase-count frame (zeros = active but no purchase)
# --------------------------------------------------------------------------
_UWEEK_SQL = """
    uweek AS (
        SELECT user_id,
               CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS wk,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    )
"""


def _uweek(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return e.groupBy(
        "user_id",
        F.floor(F.unix_micros("ts") / 604_800_000_000)
        .cast("bigint")
        .alias("wk"),
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("y")
    )


# --------------------------------------------------------------------------
# van den Broek score test for zero inflation (ZIP vs Poisson)
# --------------------------------------------------------------------------
@register(
    "zip_score_test",
    oracle=f"""
    WITH {_UWEEK_SQL},
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s,
               CAST(SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n0
        FROM uweek
    )
    SELECT n AS n_user_weeks,
           round(CAST(s AS DOUBLE) / n, 8) + 0.0 AS lambda_hat,
           n0 AS n_zeros,
           round(n * round(exp(-CAST(s AS DOUBLE) / n), 8), 4)
               + 0.0 AS expected_zeros_poisson,
           round((n0 / round(exp(-CAST(s AS DOUBLE) / n), 8) - n)
                 * (n0 / round(exp(-CAST(s AS DOUBLE) / n), 8) - n)
                 / (n * (1.0 / round(exp(-CAST(s AS DOUBLE) / n), 8)
                         - 1.0)
                    - CAST(s AS DOUBLE)), 6) + 0.0
               AS zip_score_chi2
    FROM fold
    """,
)
def zip_score_test(spark, sf_dir):
    """VAN DEN BROEK score test for ZERO INFLATION of weekly purchase
    counts per active user-week (cells = (user, week) pairs with any
    activity; y = purchases, zeros = browsed-but-never-bought): S =
    (n0/p0 - n)^2 / (n(1/p0 - 1) - n*ybar) ~ chi2(1) under Poisson,
    with p0 = e^(-lambda_hat) — THE first question about count data
    ("are the zeros structural or sampling?") that decides between
    Poisson machinery (`poisson_dispersion_panel`, `eb_gamma_poisson
    _rates`) and a two-regime model, asked before any fit happens.

    Exactness: counts and the zero count are exact integers; the
    single e^(-lambda) pins at 8 dp (the watts/spectral pin) and
    every readout derives from the same pinned value in both
    engines. Plan: one (user, week) rollup, one fold — fully
    map-side combinable, zeros come free from the activity frame
    (no user x week cross join)."""
    fold = _uweek(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(F.when(F.col("y") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
    )
    lam = F.col("s").cast("double") / F.col("n")
    p0 = F.round(F.exp(-lam), 8)
    num = F.col("n0") / p0 - F.col("n")
    den = F.col("n") * (1.0 / p0 - 1.0) - F.col("s").cast("double")
    return fold.select(
        F.col("n").alias("n_user_weeks"),
        (F.round(lam, 8) + 0.0).alias("lambda_hat"),
        F.col("n0").alias("n_zeros"),
        (F.round(F.col("n") * p0, 4) + 0.0).alias(
            "expected_zeros_poisson"
        ),
        (F.round(num * num / den, 6) + 0.0).alias("zip_score_chi2"),
    )


# --------------------------------------------------------------------------
# Dean's PB score test for overdispersion (NB vs Poisson)
# --------------------------------------------------------------------------
@register(
    "dean_overdispersion_test",
    oracle=f"""
    WITH {_UWEEK_SQL},
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s,
               CAST(SUM(CAST(y AS DECIMAL(38,0)) * y)
                    AS DECIMAL(38,0)) AS ss
        FROM uweek
    )
    SELECT n AS n_user_weeks,
           round(CAST(s AS DOUBLE) / n, 8) + 0.0 AS mean_count,
           round((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                  - CAST(s AS DOUBLE) * s)
                 / (CAST(n AS DOUBLE) - 1.0)
                 / CAST(s AS DOUBLE), 8) + 0.0
               AS dispersion_index,
           round((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                  - CAST(s AS DOUBLE) * s
                  - CAST(n AS DOUBLE) * s)
                 / CAST(n AS DOUBLE)
                 / (CAST(s AS DOUBLE) / n * sqrt(2.0 * n)), 6)
               + 0.0 AS dean_pb_z
    FROM fold
    """,
)
def dean_overdispersion_test(spark, sf_dir):
    """DEAN'S PB score test for overdispersion of weekly purchase
    counts against the Poisson null: PB = sum((y - ybar)^2 - y) /
    (ybar * sqrt(2n)) ~ N(0,1), the locally-most-powerful test
    toward negative binomial — the directional companion to
    `poisson_dispersion_panel`'s chi2 index (PB gives a SIGNED z:
    positive = clumped repeat buyers, negative = under-dispersed
    quota-like behavior) and the gate before `negbin_mom_fit` is
    worth fitting. Shares the activity frame with `zip_score_test`
    so the two score tests read the same population.

    Exactness: the numerator n*SS - S^2 - n*S is exact DECIMAL(38,0)
    integer arithmetic; one division and one sqrt at the end. Plan:
    one (user, week) rollup, one fold."""
    fold = _uweek(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    nn = F.col("n").cast("double")
    s = F.col("s").cast("double")
    ss = F.col("ss").cast("double")
    return fold.select(
        F.col("n").alias("n_user_weeks"),
        (F.round(s / F.col("n"), 8) + 0.0).alias("mean_count"),
        (
            F.round((nn * ss - s * s) / (nn - 1.0) / s, 8) + 0.0
        ).alias("dispersion_index"),
        (
            F.round(
                (nn * ss - s * s - nn * s)
                / nn
                / (s / F.col("n") * F.sqrt(2.0 * nn)),
                6,
            )
            + 0.0
        ).alias("dean_pb_z"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "ttt_barlow_proschan": (
            "per-user lag (data-parallel) + one cumulative over the "
            "gap-seconds grid (gap-value-domain-bounded — the "
            "weibull_median_rank class)"
        ),
        "foster_stuart_records": (
            "running max/min + row_number over the calendar-day "
            "frame (the western_electric class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Shared contingency: embedding label vs deterministic octant clustering
# --------------------------------------------------------------------------
_CONT_SQL = """
    asg AS (
        SELECT label AS a,
               CAST(4 * CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
                    + 2 * CASE WHEN embedding[2] > 0 THEN 1 ELSE 0 END
                    + CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END
                    AS BIGINT) AS b
        FROM embeddings
    ),
    cell AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS nij
        FROM asg GROUP BY a, b
    ),
    rowm AS (SELECT a, CAST(SUM(nij) AS BIGINT) AS ai
             FROM cell GROUP BY a),
    colm AS (SELECT b, CAST(SUM(nij) AS BIGINT) AS bj
             FROM cell GROUP BY b),
    tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS n FROM cell)
"""


def _contingency(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    b = (
        4 * F.when(F.element_at("embedding", 1) > 0, 1).otherwise(0)
        + 2 * F.when(F.element_at("embedding", 2) > 0, 1).otherwise(0)
        + F.when(F.element_at("embedding", 3) > 0, 1).otherwise(0)
    ).cast("bigint")
    return (
        emb.select(F.col("label").alias("a"), b.alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nij"))
    )


# --------------------------------------------------------------------------
# Adjusted Rand index between label and octant clusterings
# --------------------------------------------------------------------------
@register(
    "adjusted_rand_index",
    oracle=f"""
    WITH {_CONT_SQL},
    sums AS (
        SELECT (SELECT n FROM tot) AS n,
               (SELECT CAST(SUM(CAST(nij AS DECIMAL(38,0))
                                * (nij - 1) / 2) AS DECIMAL(38,0))
                FROM cell) AS sij,
               (SELECT CAST(SUM(CAST(ai AS DECIMAL(38,0))
                                * (ai - 1) / 2) AS DECIMAL(38,0))
                FROM rowm) AS sa,
               (SELECT CAST(SUM(CAST(bj AS DECIMAL(38,0))
                                * (bj - 1) / 2) AS DECIMAL(38,0))
                FROM colm) AS sb
    )
    SELECT n AS n_vectors,
           round(CAST(sij AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (n - 1) / 2.0), 8) + 0.0
               AS rand_agree_frac,
           round((CAST(sij AS DOUBLE)
                  - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)
                    / (CAST(n AS DOUBLE) * (n - 1) / 2.0))
                 / ((CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE)) / 2.0
                    - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)
                      / (CAST(n AS DOUBLE) * (n - 1) / 2.0)), 8)
               + 0.0 AS adjusted_rand_index
    FROM sums
    """,
)
def adjusted_rand_index(spark, sf_dir):
    """ADJUSTED RAND INDEX between the embedding LABEL partition and
    a deterministic sign-octant clustering (first three coordinates'
    signs): the chance-corrected pair-counting agreement ARI =
    (sum C(nij,2) - E) / ((sum C(ai,2) + sum C(bj,2))/2 - E) — the
    classic external clustering validity measure the registry's
    information-theoretic `v_measure_clusters` complements from the
    entropy side; pair-counting and NMI disagree exactly when
    cluster sizes are skewed, which is why both belong on the
    bench.

    Exactness: every pair count C(k,2) = k(k-1)/2 is an exact
    DECIMAL(38,0) integer (k even or odd, the /2 stays integral);
    the expected-index products stay under 1e36. Plan: one
    contingency rollup, three marginal folds, one scalar assembly
    — no window, no data-grain join."""
    cell = _contingency(spark, sf_dir).persist()
    c2 = lambda c: (c.cast("decimal(38,0)") * (c - 1) / 2).cast(  # noqa: E731
        "decimal(38,0)"
    )
    sij = cell.agg(
        F.sum(c2(F.col("nij"))).cast("decimal(38,0)").alias("sij"),
        F.sum("nij").cast("bigint").alias("n"),
    )
    sa = (
        cell.groupBy("a")
        .agg(F.sum("nij").cast("bigint").alias("ai"))
        .agg(F.sum(c2(F.col("ai"))).cast("decimal(38,0)").alias("sa"))
    )
    sb = (
        cell.groupBy("b")
        .agg(F.sum("nij").cast("bigint").alias("bj"))
        .agg(F.sum(c2(F.col("bj"))).cast("decimal(38,0)").alias("sb"))
    )
    j = sij.crossJoin(F.broadcast(sa)).crossJoin(F.broadcast(sb))
    tpairs = F.col("n").cast("double") * (F.col("n") - 1) / 2.0
    e = F.col("sa").cast("double") * F.col("sb").cast("double") / tpairs
    return j.select(
        F.col("n").alias("n_vectors"),
        (
            F.round(F.col("sij").cast("double") / tpairs, 8) + 0.0
        ).alias("rand_agree_frac"),
        (
            F.round(
                (F.col("sij").cast("double") - e)
                / (
                    (
                        F.col("sa").cast("double")
                        + F.col("sb").cast("double")
                    )
                    / 2.0
                    - e
                ),
                8,
            )
            + 0.0
        ).alias("adjusted_rand_index"),
    )


# --------------------------------------------------------------------------
# Fowlkes-Mallows + B-cubed precision/recall on the same contingency
# --------------------------------------------------------------------------
@register(
    "fowlkes_mallows_bcubed",
    oracle=f"""
    WITH {_CONT_SQL},
    pairsums AS (
        SELECT (SELECT n FROM tot) AS n,
               (SELECT CAST(SUM(CAST(nij AS DECIMAL(38,0))
                                * (nij - 1) / 2) AS DECIMAL(38,0))
                FROM cell) AS sij,
               (SELECT CAST(SUM(CAST(ai AS DECIMAL(38,0))
                                * (ai - 1) / 2) AS DECIMAL(38,0))
                FROM rowm) AS sa,
               (SELECT CAST(SUM(CAST(bj AS DECIMAL(38,0))
                                * (bj - 1) / 2) AS DECIMAL(38,0))
                FROM colm) AS sb
    ),
    bc AS (
        SELECT CAST(SUM(CAST(round(CAST(c.nij AS DOUBLE) * c.nij
                                   / cm.bj, 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS bp,
               CAST(SUM(CAST(round(CAST(c.nij AS DOUBLE) * c.nij
                                   / rm.ai, 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS br
        FROM cell c
        JOIN colm cm ON c.b = cm.b
        JOIN rowm rm ON c.a = rm.a
    )
    SELECT p.n AS n_vectors,
           round(CAST(p.sij AS DOUBLE)
                 / sqrt(CAST(p.sa AS DOUBLE)
                        * CAST(p.sb AS DOUBLE)), 8) + 0.0
               AS fowlkes_mallows,
           round(bc.bp / p.n, 8) + 0.0 AS bcubed_precision,
           round(bc.br / p.n, 8) + 0.0 AS bcubed_recall,
           round(2.0 * (bc.bp / p.n) * (bc.br / p.n)
                 / (bc.bp / p.n + bc.br / p.n), 8) + 0.0
               AS bcubed_f1
    FROM pairsums p, bc
    """,
)
def fowlkes_mallows_bcubed(spark, sf_dir):
    """FOWLKES-MALLOWS index (geometric mean of pairwise precision
    and recall) and B-CUBED precision/recall/F1 between the label
    partition and the sign-octant clustering — the two families
    entity-resolution evaluation actually uses (B-cubed weights
    per-ITEM, so a giant wrong cluster hurts proportionally to its
    size, where pair-counting lets big clusters dominate
    quadratically); together with `adjusted_rand_index` and
    `v_measure_clusters` this completes the external-validity bench
    (pair / item / information axes).

    Exactness: pair sums are exact DECIMAL(38,0); B-cubed per-cell
    terms nij^2/marginal round at 8 dp before DECIMAL folding (the
    cell frame is label x octant bounded). Plan: one contingency
    rollup, two broadcast marginal joins, two folds."""
    cell = _contingency(spark, sf_dir).persist()
    c2 = lambda c: (c.cast("decimal(38,0)") * (c - 1) / 2).cast(  # noqa: E731
        "decimal(38,0)"
    )
    rowm = cell.groupBy("a").agg(
        F.sum("nij").cast("bigint").alias("ai")
    )
    colm = cell.groupBy("b").agg(
        F.sum("nij").cast("bigint").alias("bj")
    )
    pairsums = (
        cell.agg(
            F.sum(c2(F.col("nij"))).cast("decimal(38,0)").alias("sij"),
            F.sum("nij").cast("bigint").alias("n"),
        )
        .crossJoin(
            F.broadcast(
                rowm.agg(
                    F.sum(c2(F.col("ai")))
                    .cast("decimal(38,0)")
                    .alias("sa")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                colm.agg(
                    F.sum(c2(F.col("bj")))
                    .cast("decimal(38,0)")
                    .alias("sb")
                )
            )
        )
    )
    bc = (
        cell.join(F.broadcast(colm), "b")
        .join(F.broadcast(rowm), "a")
        .agg(
            F.sum(
                F.round(
                    F.col("nij").cast("double")
                    * F.col("nij")
                    / F.col("bj"),
                    8,
                ).cast("decimal(28,8)")
            )
            .cast("double")
            .alias("bp"),
            F.sum(
                F.round(
                    F.col("nij").cast("double")
                    * F.col("nij")
                    / F.col("ai"),
                    8,
                ).cast("decimal(28,8)")
            )
            .cast("double")
            .alias("br"),
        )
    )
    j = pairsums.crossJoin(F.broadcast(bc))
    bp = F.col("bp") / F.col("n")
    br = F.col("br") / F.col("n")
    return j.select(
        F.col("n").alias("n_vectors"),
        (
            F.round(
                F.col("sij").cast("double")
                / F.sqrt(
                    F.col("sa").cast("double")
                    * F.col("sb").cast("double")
                ),
                8,
            )
            + 0.0
        ).alias("fowlkes_mallows"),
        (F.round(bp, 8) + 0.0).alias("bcubed_precision"),
        (F.round(br, 8) + 0.0).alias("bcubed_recall"),
        (F.round(2.0 * bp * br / (bp + br), 8) + 0.0).alias(
            "bcubed_f1"
        ),
    )


# --------------------------------------------------------------------------
# Variation of information between the two clusterings
# --------------------------------------------------------------------------
@register(
    "variation_of_information",
    oracle=f"""
    WITH {_CONT_SQL},
    terms AS (
        SELECT CAST(SUM(CAST(round(CAST(c.nij AS DOUBLE)
                   * round(ln(CAST(c.nij AS DOUBLE) * tot.n
                              / (CAST(rm.ai AS DOUBLE) * cm.bj)), 5),
                   4) AS DECIMAL(28,4))) AS DOUBLE) AS mi_n,
               MAX(tot.n) AS n
        FROM cell c
        JOIN rowm rm ON c.a = rm.a
        JOIN colm cm ON c.b = cm.b, tot
    ),
    ents AS (
        SELECT (SELECT CAST(SUM(CAST(round(CAST(ai AS DOUBLE)
                    * round(ln(CAST(t.n AS DOUBLE) / ai), 5), 4)
                    AS DECIMAL(28,4))) AS DOUBLE)
                FROM rowm, tot t) AS ha_n,
               (SELECT CAST(SUM(CAST(round(CAST(bj AS DOUBLE)
                    * round(ln(CAST(t.n AS DOUBLE) / bj), 5), 4)
                    AS DECIMAL(28,4))) AS DOUBLE)
                FROM colm, tot t) AS hb_n
    )
    SELECT t.n AS n_vectors,
           round(e.ha_n / t.n, 5) + 0.0 AS h_label_nats,
           round(e.hb_n / t.n, 5) + 0.0 AS h_octant_nats,
           round(t.mi_n / t.n, 5) + 0.0 AS mutual_info_nats,
           round((e.ha_n + e.hb_n - 2.0 * t.mi_n) / t.n, 5) + 0.0
               AS variation_of_information,
           round((e.ha_n + e.hb_n - 2.0 * t.mi_n) / t.n
                 / round(ln(CAST(t.n AS DOUBLE)), 5), 7) + 0.0
               AS vi_normalized
    FROM terms t, ents e
    """,
)
def variation_of_information(spark, sf_dir):
    """VARIATION OF INFORMATION (Meila's metric) between the label
    partition and the sign-octant clustering: VI = H(A) + H(B) -
    2*I(A;B) — the only clustering-comparison measure that is a
    TRUE METRIC on partition space (triangle inequality holds), so
    fleet-wide clustering drift can be tracked additively; reported
    with both entropies, the mutual information, and VI/ln(n)
    normalization. Completes the external-validity bench's third
    axis next to `adjusted_rand_index` (pairs) and
    `fowlkes_mallows_bcubed` (items).

    Exactness: all cell/marginal counts exact; each ln pins at 5 dp
    (a 6-dp pin flipped h_octant's last digit across the two libms
    at sf0.1 — the watts lesson one decade coarser), each count*ln
    term rounds at 4 dp before the DECIMAL fold, readouts at 5 dp. Plan:
    one contingency rollup, two broadcast marginal joins, three
    folds."""
    cell = _contingency(spark, sf_dir).persist()
    rowm = cell.groupBy("a").agg(
        F.sum("nij").cast("bigint").alias("ai")
    )
    colm = cell.groupBy("b").agg(
        F.sum("nij").cast("bigint").alias("bj")
    )
    tot = cell.agg(F.sum("nij").cast("bigint").alias("n"))
    terms = (
        cell.join(F.broadcast(rowm), "a")
        .join(F.broadcast(colm), "b")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.round(
                    F.col("nij").cast("double")
                    * F.round(
                        F.log(
                            F.col("nij").cast("double")
                            * F.col("n")
                            / (
                                F.col("ai").cast("double")
                                * F.col("bj")
                            )
                        ),
                        5,
                    ),
                    4,
                ).cast("decimal(28,4)")
            )
            .cast("double")
            .alias("mi_n"),
            F.max("n").alias("n"),
        )
    )
    ha = (
        rowm.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.round(
                    F.col("ai").cast("double")
                    * F.round(
                        F.log(
                            F.col("n").cast("double") / F.col("ai")
                        ),
                        5,
                    ),
                    4,
                ).cast("decimal(28,4)")
            )
            .cast("double")
            .alias("ha_n")
        )
    )
    hb = (
        colm.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.round(
                    F.col("bj").cast("double")
                    * F.round(
                        F.log(
                            F.col("n").cast("double") / F.col("bj")
                        ),
                        5,
                    ),
                    4,
                ).cast("decimal(28,4)")
            )
            .cast("double")
            .alias("hb_n")
        )
    )
    j = terms.crossJoin(F.broadcast(ha)).crossJoin(F.broadcast(hb))
    vi = (F.col("ha_n") + F.col("hb_n") - 2.0 * F.col("mi_n")) / F.col(
        "n"
    )
    return j.select(
        F.col("n").alias("n_vectors"),
        (F.round(F.col("ha_n") / F.col("n"), 5) + 0.0).alias(
            "h_label_nats"
        ),
        (F.round(F.col("hb_n") / F.col("n"), 5) + 0.0).alias(
            "h_octant_nats"
        ),
        (F.round(F.col("mi_n") / F.col("n"), 5) + 0.0).alias(
            "mutual_info_nats"
        ),
        (F.round(vi, 5) + 0.0).alias("variation_of_information"),
        (
            F.round(
                vi / F.round(F.log(F.col("n").cast("double")), 5), 7
            )
            + 0.0
        ).alias("vi_normalized"),
    )


# --------------------------------------------------------------------------
# PABAK / Scott's pi / prevalence + bias indices for two quality filters
# --------------------------------------------------------------------------
@register(
    "pabak_prevalence_bias",
    oracle="""
    WITH grid AS (
        SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY n_chars
    ),
    cum AS (
        SELECT v,
               SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                   AS cc,
               SUM(c) OVER () AS n
        FROM grid
    ),
    med AS (
        SELECT CAST(MIN(v) AS BIGINT) AS m FROM cum
        WHERE 2 * cc >= n
    ),
    cells AS (
        SELECT CAST(SUM(CASE WHEN d.n_chars > med.m
                             AND d.lang = 'en'
                             THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(SUM(CASE WHEN d.n_chars > med.m
                             AND d.lang <> 'en'
                             THEN 1 ELSE 0 END) AS BIGINT) AS b,
               CAST(SUM(CASE WHEN d.n_chars <= med.m
                             AND d.lang = 'en'
                             THEN 1 ELSE 0 END) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN d.n_chars <= med.m
                             AND d.lang <> 'en'
                             THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM documents d, med
    )
    SELECT a + b + c + d AS n_docs,
           round((a + d) * 1.0 / (a + b + c + d), 8) + 0.0
               AS observed_agreement,
           round(2.0 * (a + d) / (a + b + c + d) - 1.0, 8) + 0.0
               AS pabak,
           round(((a + d) * 1.0 / (a + b + c + d)
                  - (((2.0 * a + b + c) / (2.0 * (a + b + c + d)))
                     * ((2.0 * a + b + c) / (2.0 * (a + b + c + d)))
                     + ((2.0 * d + b + c) / (2.0 * (a + b + c + d)))
                       * ((2.0 * d + b + c)
                          / (2.0 * (a + b + c + d)))))
                 / (1.0
                    - (((2.0 * a + b + c) / (2.0 * (a + b + c + d)))
                       * ((2.0 * a + b + c)
                          / (2.0 * (a + b + c + d)))
                       + ((2.0 * d + b + c)
                          / (2.0 * (a + b + c + d)))
                         * ((2.0 * d + b + c)
                            / (2.0 * (a + b + c + d))))), 8) + 0.0
               AS scotts_pi,
           round(abs(a - d) * 1.0 / (a + b + c + d), 8) + 0.0
               AS prevalence_index,
           round(abs(b - c) * 1.0 / (a + b + c + d), 8) + 0.0
               AS bias_index
    FROM cells
    """,
)
def pabak_prevalence_bias(spark, sf_dir):
    """PABAK (prevalence-adjusted bias-adjusted kappa = 2*po - 1),
    SCOTT'S PI, and the PREVALENCE / BIAS indices for two binary
    document-quality raters (rater A: length above the exact median
    n_chars; rater B: lang = 'en') — the Byrt-Bishop-Carlin
    diagnostic quartet that explains WHY a kappa is low: the
    prevalence index |a-d|/n sizes the trait-imbalance penalty, the
    bias index |b-c|/n the marginal-disagreement penalty, and PABAK
    shows what kappa would be with both removed. Completes the
    agreement bench (`cohens_kappa_agreement`, `gwet_ac1_agreement`,
    `krippendorff_alpha_binary` report coefficients; this panel
    explains their disagreements).

    Exactness: the median is an exact lower order statistic of the
    n_chars grid; all four cells are exact integer counts; every
    readout is a ratio of integers at 8 dp. Plan: one char-grid
    cumulative, one broadcast scalar, one cell fold."""
    d = t(spark, sf_dir, "documents")
    grid = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cum = grid.select(
        "v",
        F.sum("c")
        .over(
            Window.orderBy("v").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cc"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    med = cum.where(2 * F.col("cc") >= F.col("n")).agg(
        F.min("v").cast("bigint").alias("m")
    )
    long_ = F.col("n_chars") > F.col("m")
    en = F.col("lang") == "en"
    cells = d.crossJoin(F.broadcast(med)).agg(
        F.sum(F.when(long_ & en, 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(long_ & ~en, 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when(~long_ & en, 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
        F.sum(F.when(~long_ & ~en, 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    po = (F.col("a") + F.col("d")) * 1.0 / n
    pbar = (2.0 * F.col("a") + F.col("b") + F.col("c")) / (2.0 * n)
    qbar = (2.0 * F.col("d") + F.col("b") + F.col("c")) / (2.0 * n)
    pe = pbar * pbar + qbar * qbar
    return cells.select(
        n.cast("bigint").alias("n_docs"),
        (F.round(po, 8) + 0.0).alias("observed_agreement"),
        (F.round(2.0 * po - 1.0, 8) + 0.0).alias("pabak"),
        (F.round((po - pe) / (1.0 - pe), 8) + 0.0).alias(
            "scotts_pi"
        ),
        (
            F.round(F.abs(F.col("a") - F.col("d")) * 1.0 / n, 8) + 0.0
        ).alias("prevalence_index"),
        (
            F.round(F.abs(F.col("b") - F.col("c")) * 1.0 / n, 8) + 0.0
        ).alias("bias_index"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "pabak_prevalence_bias": (
            "one cumulative over the n_chars grid for the exact "
            "median (the spiegelhalter grid family; chars-domain-"
            "bounded at this population, watch-listed with it)"
        ),
    }
)


# --------------------------------------------------------------------------
# Forecast-accuracy panel (sMAPE / WAPE / MAPE / bias) for seasonal naive
# --------------------------------------------------------------------------
@register(
    "smape_wape_panel",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    fc AS (
        SELECT day, y, LAG(y, 7) OVER (ORDER BY day) AS yhat
        FROM daily QUALIFY yhat IS NOT NULL
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(abs(y - yhat)) AS BIGINT) AS sae,
               CAST(SUM(y - yhat) AS BIGINT) AS se,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(CAST(round(2.0 * abs(y - yhat)
                                   / (y + yhat), 8)
                             AS DECIMAL(28,8))) AS DOUBLE) AS ssm,
               CAST(SUM(CAST(round(abs(y - yhat) * 1.0 / y, 8)
                             AS DECIMAL(28,8))) AS DOUBLE) AS sap
        FROM fc
    )
    SELECT n AS n_days,
           round(ssm / n, 8) + 0.0 AS smape,
           round(CAST(sae AS DOUBLE) / sy, 8) + 0.0 AS wape,
           round(sap / n, 8) + 0.0 AS mape,
           round(CAST(se AS DOUBLE) / sy, 8) + 0.0 AS bias_ratio
    FROM fold
    """,
)
def smape_wape_panel(spark, sf_dir):
    """FORECAST-ACCURACY panel for the lag-7 seasonal-naive forecast:
    sMAPE (symmetric, bounded [0,2]), WAPE (volume-weighted — the
    retail standard, immune to near-zero days), MAPE (the classic,
    reported because everyone asks) and the signed bias ratio —
    the four headline error metrics that `seasonal_naive_mase`
    (scaled) and `pinball_loss_backtest` (quantile) don't cover;
    together the five-metric suite matches what a forecast-ops
    dashboard actually shows.

    Exactness: absolute/signed error sums are exact integer cents;
    the two per-day ratio metrics round at 8 dp before DECIMAL
    folding. Plan: one day rollup, one calendar lag, one fold."""
    daily = daily_order_cents(spark, sf_dir)
    fc = daily.select(
        "y",
        F.lag("y", 7).over(Window.orderBy("day")).alias("yhat"),
    ).where(F.col("yhat").isNotNull())
    e = F.col("y") - F.col("yhat")
    fold = fc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.abs(e)).cast("bigint").alias("sae"),
        F.sum(e).cast("bigint").alias("se"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(
            F.round(
                2.0 * F.abs(e) / (F.col("y") + F.col("yhat")), 8
            ).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("ssm"),
        F.sum(
            F.round(F.abs(e) * 1.0 / F.col("y"), 8).cast(
                "decimal(28,8)"
            )
        )
        .cast("double")
        .alias("sap"),
    )
    return fold.select(
        F.col("n").alias("n_days"),
        (F.round(F.col("ssm") / F.col("n"), 8) + 0.0).alias("smape"),
        (
            F.round(F.col("sae").cast("double") / F.col("sy"), 8)
            + 0.0
        ).alias("wape"),
        (F.round(F.col("sap") / F.col("n"), 8) + 0.0).alias("mape"),
        (
            F.round(F.col("se").cast("double") / F.col("sy"), 8)
            + 0.0
        ).alias("bias_ratio"),
    )


# --------------------------------------------------------------------------
# Leverage effect: corr(|change_t|, change_(t-1)) on daily revenue
# --------------------------------------------------------------------------
@register(
    "leverage_effect_corr",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    chg AS (
        SELECT day, y - LAG(y) OVER (ORDER BY day) AS g
        FROM daily QUALIFY g IS NOT NULL
    ),
    pair AS (
        SELECT abs(g) AS a, LAG(g) OVER (ORDER BY day) AS p
        FROM chg QUALIFY p IS NOT NULL
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(a AS DECIMAL(38,0))) AS DECIMAL(38,0))
                   AS sa,
               CAST(SUM(CAST(p AS DECIMAL(38,0))) AS DECIMAL(38,0))
                   AS sp,
               CAST(SUM(CAST(a AS DECIMAL(38,0)) * a)
                    AS DECIMAL(38,0)) AS saa,
               CAST(SUM(CAST(p AS DECIMAL(38,0)) * p)
                    AS DECIMAL(38,0)) AS spp,
               CAST(SUM(CAST(a AS DECIMAL(38,0)) * p)
                    AS DECIMAL(38,0)) AS sap
        FROM pair
    )
    SELECT n AS n_days,
           round((CAST(n AS DOUBLE) * CAST(sap AS DOUBLE)
                  - CAST(sa AS DOUBLE) * CAST(sp AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                         - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
                           - CAST(sp AS DOUBLE)
                             * CAST(sp AS DOUBLE))), 8) + 0.0
               AS leverage_corr,
           round(CAST(sa AS DOUBLE) / n / 100000.0, 6) + 0.0
               AS mean_abs_change_kusd
    FROM fold
    """,
)
def leverage_effect_corr(spark, sf_dir):
    """LEVERAGE EFFECT of the daily revenue series: the correlation
    of today's change MAGNITUDE with yesterday's SIGNED change —
    negative correlation ("down days breed volatility") is the
    classic asymmetric-volatility signature that symmetric
    vol-clustering diagnostics (`arch_effect_mcleod_li`,
    `acf_ljung_box` on squares) cannot distinguish from its mirror
    image; the sign of this one statistic decides GARCH vs EGARCH-
    class modeling downstream.

    Exactness: changes and their absolutes are exact integer cents;
    all five Pearson power sums fold in DECIMAL(38,0); one division
    and sqrt at the end. Plan: one day rollup, two calendar lags,
    one fold."""
    daily = daily_order_cents(spark, sf_dir)
    chg = daily.select(
        "day",
        (F.col("y") - F.lag("y").over(Window.orderBy("day"))).alias(
            "g"
        ),
    ).where(F.col("g").isNotNull())
    pair = chg.select(
        F.abs("g").alias("a"),
        F.lag("g").over(Window.orderBy("day")).alias("p"),
    ).where(F.col("p").isNotNull())
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    fold = pair.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(d38("a")).cast("decimal(38,0)").alias("sa"),
        F.sum(d38("p")).cast("decimal(38,0)").alias("sp"),
        F.sum(d38("a") * F.col("a")).cast("decimal(38,0)").alias("saa"),
        F.sum(d38("p") * F.col("p")).cast("decimal(38,0)").alias("spp"),
        F.sum(d38("a") * F.col("p")).cast("decimal(38,0)").alias("sap"),
    )
    nn = F.col("n").cast("double")
    num = nn * F.col("sap").cast("double") - F.col("sa").cast(
        "double"
    ) * F.col("sp").cast("double")
    den = F.sqrt(
        (
            nn * F.col("saa").cast("double")
            - F.col("sa").cast("double") * F.col("sa").cast("double")
        )
        * (
            nn * F.col("spp").cast("double")
            - F.col("sp").cast("double") * F.col("sp").cast("double")
        )
    )
    return fold.select(
        F.col("n").alias("n_days"),
        (F.round(num / den, 8) + 0.0).alias("leverage_corr"),
        (
            F.round(
                F.col("sa").cast("double") / F.col("n") / 100000.0, 6
            )
            + 0.0
        ).alias("mean_abs_change_kusd"),
    )


# --------------------------------------------------------------------------
# Fano factor across time scales (1 / 7 / 28 days) for event arrivals
# --------------------------------------------------------------------------
@register(
    "fano_factor_timescales",
    oracle="""
    WITH base AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
        FROM events
    ),
    scales AS (SELECT CAST(u.s AS BIGINT) AS s
               FROM LATERAL UNNEST([1, 7, 28]) AS u(s)),
    bins AS (
        SELECT sc.s, b.day // sc.s AS bin,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM base b CROSS JOIN scales sc
        GROUP BY sc.s, b.day // sc.s
    ),
    ff AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS nb,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(CAST(y AS DECIMAL(38,0)) * y)
                    AS DECIMAL(38,0)) AS syy
        FROM bins GROUP BY s
    ),
    pts AS (
        SELECT s, nb,
               round((CAST(nb AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * sy)
                     / (CAST(nb AS DOUBLE) - 1.0)
                     / CAST(sy AS DOUBLE), 8) AS fano
        FROM ff
    ),
    fit AS (
        SELECT CAST(SUM(CAST(round(round(ln(CAST(s AS DOUBLE)), 6)
                   * round(ln(fano), 6), 8) AS DECIMAL(18,8)))
                   AS DOUBLE) AS sxy,
               CAST(SUM(CAST(round(ln(CAST(s AS DOUBLE)), 6)
                             AS DECIMAL(18,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(round(ln(fano), 6) AS DECIMAL(18,6)))
                    AS DOUBLE) AS sy2,
               CAST(SUM(CAST(round(round(ln(CAST(s AS DOUBLE)), 6)
                   * round(ln(CAST(s AS DOUBLE)), 6), 8)
                   AS DECIMAL(18,8))) AS DOUBLE) AS sxx,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM pts
    )
    SELECT (SELECT nb FROM pts WHERE s = 1) AS n_days,
           (SELECT fano + 0.0 FROM pts WHERE s = 1) AS fano_1d,
           (SELECT fano + 0.0 FROM pts WHERE s = 7) AS fano_7d,
           (SELECT fano + 0.0 FROM pts WHERE s = 28) AS fano_28d,
           round((k * sxy - sx * sy2) / (k * sxx - sx * sx), 6)
               + 0.0 AS fano_scaling_slope
    FROM fit
    """,
)
def fano_factor_timescales(spark, sf_dir):
    """FANO FACTOR curve of event arrivals across 1/7/28-day
    counting windows: F(T) = Var(N_T)/E(N_T) per scale plus the
    log-log slope — a Poisson stream is flat at 1 on every scale,
    long-range-dependent arrivals GROW like T^(2H-1): the slope is
    an arrivals-side Hurst diagnostic complementing
    `term_burstiness_fano` (term side) and `dfa_alpha_longmemory` /
    `hurst_rs_exponent` (amplitude side), and tells capacity
    planners on which horizon the variance burden actually lives.

    Exactness: bin counts are exact integers per (scale, bin);
    variance numerators nb*SS - S^2 fold in DECIMAL(38,0); the
    3-point slope pins each ln at 6 dp. Plan: one 3-scale broadcast
    cross, one (scale, bin) rollup, two folds."""
    e = t(spark, sf_dir, "events")
    base = e.select(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("day")
    )
    scales = spark.createDataFrame([(1,), (7,), (28,)], "s long")
    bins = (
        base.crossJoin(F.broadcast(scales))
        .groupBy("s", F.floor(F.col("day") / F.col("s")).alias("bin"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    ff = bins.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    pts = ff.select(
        "s",
        "nb",
        F.round(
            (
                F.col("nb").cast("double") * F.col("syy").cast("double")
                - F.col("sy").cast("double") * F.col("sy")
            )
            / (F.col("nb").cast("double") - 1.0)
            / F.col("sy").cast("double"),
            8,
        ).alias("fano"),
    ).persist()
    lnx = F.round(F.log(F.col("s").cast("double")), 6)
    lny = F.round(F.log("fano"), 6)
    fit = pts.agg(
        F.sum(F.round(lnx * lny, 8).cast("decimal(18,8)"))
        .cast("double")
        .alias("sxy"),
        F.sum(lnx.cast("decimal(18,6)")).cast("double").alias("sx"),
        F.sum(lny.cast("decimal(18,6)")).cast("double").alias("sy2"),
        F.sum(F.round(lnx * lnx, 8).cast("decimal(18,8)"))
        .cast("double")
        .alias("sxx"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    w1 = pts.where(F.col("s") == 1).select(
        F.col("nb").alias("n_days"),
        (F.col("fano") + 0.0).alias("fano_1d"),
    )
    w7 = pts.where(F.col("s") == 7).select(
        (F.col("fano") + 0.0).alias("fano_7d")
    )
    w28 = pts.where(F.col("s") == 28).select(
        (F.col("fano") + 0.0).alias("fano_28d")
    )
    return (
        w1.crossJoin(F.broadcast(w7))
        .crossJoin(F.broadcast(w28))
        .crossJoin(F.broadcast(fit))
        .select(
            "n_days",
            "fano_1d",
            "fano_7d",
            "fano_28d",
            (
                F.round(
                    (
                        F.col("k") * F.col("sxy")
                        - F.col("sx") * F.col("sy2")
                    )
                    / (
                        F.col("k") * F.col("sxx")
                        - F.col("sx") * F.col("sx")
                    ),
                    6,
                )
                + 0.0
            ).alias("fano_scaling_slope"),
        )
    )


# --------------------------------------------------------------------------
# Aggregated-variance Hurst estimator on daily revenue
# --------------------------------------------------------------------------
@register(
    "aggvar_hurst",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    ms AS (SELECT CAST(u.m AS BIGINT) AS m
           FROM LATERAL UNNEST([1, 2, 4, 8]) AS u(m)),
    blocks AS (
        SELECT ms.m, d.day // ms.m AS blk,
               CAST(SUM(d.y) AS BIGINT) AS b,
               CAST(COUNT(*) AS BIGINT) AS cdays
        FROM daily d CROSS JOIN ms
        GROUP BY ms.m, d.day // ms.m
    ),
    fullb AS (SELECT * FROM blocks WHERE cdays = m),
    var_m AS (
        SELECT m, CAST(COUNT(*) AS BIGINT) AS nb,
               CAST(SUM(b) AS BIGINT) AS sb,
               CAST(SUM(CAST(b AS DECIMAL(38,0)) * b)
                    AS DECIMAL(38,0)) AS sbb
        FROM fullb GROUP BY m
    ),
    pts AS (
        SELECT m, nb,
               round((CAST(nb AS DOUBLE) * CAST(sbb AS DOUBLE)
                      - CAST(sb AS DOUBLE) * sb)
                     / CAST(nb AS DOUBLE) / nb
                     / (CAST(m AS DOUBLE) * m)
                     / 10000000000.0, 8) AS v
        FROM var_m
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(round(ln(CAST(m AS DOUBLE)), 6)
                             AS DECIMAL(18,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(round(ln(v), 6) AS DECIMAL(18,6)))
                    AS DOUBLE) AS sy,
               CAST(SUM(CAST(round(round(ln(CAST(m AS DOUBLE)), 6)
                   * round(ln(CAST(m AS DOUBLE)), 6), 8)
                   AS DECIMAL(18,8))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(round(round(ln(CAST(m AS DOUBLE)), 6)
                   * round(ln(v), 6), 8) AS DECIMAL(18,8)))
                   AS DOUBLE) AS sxy
        FROM pts
    )
    SELECT (SELECT nb FROM pts WHERE m = 1) AS n_days,
           (SELECT round(v, 6) + 0.0 FROM pts WHERE m = 1)
               AS var_mean_1d_kusd2,
           round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
               + 0.0 AS aggvar_slope,
           round(1.0 + (k * sxy - sx * sy)
                       / (k * sxx - sx * sx) / 2.0, 6) + 0.0
               AS hurst_aggvar
    FROM fit
    """,
)
def aggvar_hurst(spark, sf_dir):
    """AGGREGATED-VARIANCE Hurst estimator: the variance of m-day
    BLOCK MEANS of daily revenue scales like m^(2H-2), so the
    log-log slope over m = 1/2/4/8 gives H = 1 + slope/2 — the
    third, method-independent long-memory estimator beside
    `hurst_rs_exponent` (rescaled range) and `dfa_alpha_longmemory`
    (detrended fluctuation); three estimators agreeing is the
    actual long-memory certificate, any one alone is famously
    biased.

    Exactness: block sums are exact integer cents (incomplete
    trailing blocks dropped by the exact cdays = m filter);
    variance numerators fold in DECIMAL(38,0); block-mean scaling
    and the k$^2 normalization divide in doubles; the 4-point OLS
    pins each ln at 6 dp. Plan: one day rollup, one 4-scale
    broadcast cross, three folds."""
    daily = daily_order_cents(spark, sf_dir)
    ms = spark.createDataFrame([(1,), (2,), (4,), (8,)], "m long")
    blocks = (
        daily.crossJoin(F.broadcast(ms))
        .groupBy("m", F.floor(F.col("day") / F.col("m")).alias("blk"))
        .agg(
            F.sum("y").cast("bigint").alias("b"),
            F.count(F.lit(1)).cast("bigint").alias("cdays"),
        )
        .where(F.col("cdays") == F.col("m"))
    )
    var_m = blocks.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum("b").cast("bigint").alias("sb"),
        F.sum(F.col("b").cast("decimal(38,0)") * F.col("b"))
        .cast("decimal(38,0)")
        .alias("sbb"),
    )
    pts = var_m.select(
        "m",
        "nb",
        F.round(
            (
                F.col("nb").cast("double") * F.col("sbb").cast("double")
                - F.col("sb").cast("double") * F.col("sb")
            )
            / F.col("nb").cast("double")
            / F.col("nb")
            / (F.col("m").cast("double") * F.col("m"))
            / 10000000000.0,
            8,
        ).alias("v"),
    ).persist()
    lnx = F.round(F.log(F.col("m").cast("double")), 6)
    lny = F.round(F.log("v"), 6)
    fit = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(lnx.cast("decimal(18,6)")).cast("double").alias("sx"),
        F.sum(lny.cast("decimal(18,6)")).cast("double").alias("sy"),
        F.sum(F.round(lnx * lnx, 8).cast("decimal(18,8)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.round(lnx * lny, 8).cast("decimal(18,8)"))
        .cast("double")
        .alias("sxy"),
    )
    p1 = pts.where(F.col("m") == 1).select(
        F.col("nb").alias("n_days"),
        (F.round("v", 6) + 0.0).alias("var_mean_1d_kusd2"),
    )
    slope = (
        F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return p1.crossJoin(F.broadcast(fit)).select(
        "n_days",
        "var_mean_1d_kusd2",
        (F.round(slope, 6) + 0.0).alias("aggvar_slope"),
        (F.round(1.0 + slope / 2.0, 6) + 0.0).alias("hurst_aggvar"),
    )


# --------------------------------------------------------------------------
# First-passage profile of cumulative revenue through its own deciles
# --------------------------------------------------------------------------
@register(
    "first_passage_time_panel",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    cum AS (
        SELECT ROW_NUMBER() OVER (ORDER BY day) AS i,
               SUM(y) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                   AS cy,
               SUM(y) OVER () AS tot,
               COUNT(*) OVER () AS nd
        FROM daily
    ),
    ks AS (SELECT CAST(u.g AS BIGINT) AS k
           FROM LATERAL UNNEST(range(1, 10)) AS u(g)),
    pass AS (
        SELECT ks.k,
               CAST(MIN(cum.i) AS BIGINT) AS ti,
               CAST(MAX(cum.nd) AS BIGINT) AS nd
        FROM cum JOIN ks ON 10 * cum.cy >= ks.k * cum.tot
        GROUP BY ks.k
    ),
    fold AS (
        SELECT MAX(nd) AS nd,
               CAST(SUM(CAST(round(CAST(ti AS DOUBLE) / nd, 8)
                             AS DECIMAL(18,8))) AS DOUBLE) / 9
                   AS mean_rel
        FROM pass
    )
    SELECT (SELECT nd FROM fold) AS n_days,
           (SELECT ti FROM pass WHERE k = 1) AS t10_days,
           (SELECT ti FROM pass WHERE k = 5) AS t50_days,
           (SELECT ti FROM pass WHERE k = 9) AS t90_days,
           (SELECT round(mean_rel, 8) + 0.0 FROM fold)
               AS mean_relative_passage,
           (SELECT round(0.5 - mean_rel, 8) + 0.0 FROM fold)
               AS front_loading_index
    """,
)
def first_passage_time_panel(spark, sf_dir):
    """FIRST-PASSAGE profile of cumulative revenue through its own
    decile levels: the day index at which the running total first
    crosses k/10 of the final total, for k = 1..9, summarized by
    the mean relative passage time and the front-loading index
    (0.5 - mean; positive = revenue arrives early, negative =
    back-loaded) — the temporal-concentration readout that is to
    TIME what the Lorenz curve is to CUSTOMERS, and the exact
    first-crossing complement to `retention_half_life_cohorts`.

    Exactness: crossings are exact integer comparisons 10*cum >=
    k*total on the calendar-day cumulative; passage times are exact
    day indices; only the 9-point mean divides. Plan: one day
    rollup, one calendar cumulative, one 9-row broadcast, one
    fold."""
    daily = daily_order_cents(spark, sf_dir)
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = daily.select(
        F.row_number().over(Window.orderBy("day")).alias("i"),
        F.sum("y").over(w).alias("cy"),
        F.sum("y").over(Window.partitionBy()).alias("tot"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nd"),
    )
    ks = spark.range(1, 10).select(
        F.col("id").cast("bigint").alias("k")
    )
    pas = (
        cum.crossJoin(F.broadcast(ks))
        .where(10 * F.col("cy") >= F.col("k") * F.col("tot"))
        .groupBy("k")
        .agg(
            F.min("i").cast("bigint").alias("ti"),
            F.max("nd").cast("bigint").alias("nd"),
        )
        .persist()
    )
    fold = pas.agg(
        F.max("nd").alias("nd"),
        (
            F.sum(
                F.round(
                    F.col("ti").cast("double") / F.col("nd"), 8
                ).cast("decimal(18,8)")
            ).cast("double")
            / 9
        ).alias("mean_rel"),
    )
    t10 = pas.where(F.col("k") == 1).select(
        F.col("ti").alias("t10_days")
    )
    t50 = pas.where(F.col("k") == 5).select(
        F.col("ti").alias("t50_days")
    )
    t90 = pas.where(F.col("k") == 9).select(
        F.col("ti").alias("t90_days")
    )
    return (
        fold.crossJoin(F.broadcast(t10))
        .crossJoin(F.broadcast(t50))
        .crossJoin(F.broadcast(t90))
        .select(
            F.col("nd").alias("n_days"),
            "t10_days",
            "t50_days",
            "t90_days",
            (F.round("mean_rel", 8) + 0.0).alias(
                "mean_relative_passage"
            ),
            (F.round(0.5 - F.col("mean_rel"), 8) + 0.0).alias(
                "front_loading_index"
            ),
        )
    )


PLAN_AUDIT_NOTES.update(
    {
        "smape_wape_panel": ("lag-7 window over the calendar-day frame"),
        "leverage_effect_corr": (
            "two lags over the calendar-day frame (the "
            "pesaran_timmermann class)"
        ),
        "first_passage_time_panel": (
            "cumulative + row_number over the calendar-day frame "
            "(the cusum class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Westenberg interquartile-range test: Fri/Sat vs Sun-Thu order values
# --------------------------------------------------------------------------
@register(
    "westenberg_iqr_test",
    oracle="""
    WITH pts AS (
        SELECT CASE WHEN CAST(epoch_us(o_orderdate) // 86400000000
                         + 4 AS BIGINT) % 7 >= 5
                    THEN 1 ELSE 0 END AS g,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    grid AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM pts GROUP BY v
    ),
    cum AS (
        SELECT v,
               SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                   AS cc,
               SUM(c) OVER () AS n
        FROM grid
    ),
    q AS (
        SELECT (SELECT CAST(MIN(v) AS BIGINT) FROM cum
                WHERE 4 * cc >= n) AS q1,
               (SELECT CAST(MIN(v) AS BIGINT) FROM cum
                WHERE 4 * cc >= 3 * n) AS q3
    ),
    cells AS (
        SELECT CAST(SUM(CASE WHEN p.g = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN p.g = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN p.g = 1
                             AND (p.v < q.q1 OR p.v > q.q3)
                             THEN 1 ELSE 0 END) AS BIGINT) AS o1,
               CAST(SUM(CASE WHEN p.g = 0
                             AND (p.v < q.q1 OR p.v > q.q3)
                             THEN 1 ELSE 0 END) AS BIGINT) AS o0
        FROM pts p, q
    )
    SELECT n1 AS n_fri_sat, n0 AS n_sun_thu,
           o1 AS n_fri_sat_outside, o0 AS n_sun_thu_outside,
           round(o1 * 1.0 / n1 - o0 * 1.0 / n0, 8) + 0.0
               AS outside_rate_diff,
           round((n1 + n0)
                 * (abs(CAST(o1 AS DOUBLE) * (n0 - o0)
                        - CAST(o0 AS DOUBLE) * (n1 - o1))
                    - (n1 + n0) / 2.0)
                 * (abs(CAST(o1 AS DOUBLE) * (n0 - o0)
                        - CAST(o0 AS DOUBLE) * (n1 - o1))
                    - (n1 + n0) / 2.0)
                 / (CAST(n1 AS DOUBLE) * n0 * (o1 + o0)
                    * (n1 + n0 - o1 - o0)), 6) + 0.0
               AS westenberg_chi2_yates
    FROM cells
    """,
)
def westenberg_iqr_test(spark, sf_dir):
    """WESTENBERG'S interquartile-range test for scale: pool Fri/Sat
    and Sun-Thu order values, take the POOLED exact quartiles, and
    test whether one group lands outside [Q1, Q3] more often than
    the other (Yates-corrected 2x2 chi2) — the oldest and simplest
    distribution-free dispersion test, robust to location shifts
    the way `ansari_bradley_scale` / `siegel_tukey_scale` are but
    readable as a plain rate difference (the outside_rate_diff
    column) by non-statisticians.

    Exactness: quartiles are exact lower order statistics (integer
    compare 4*cc >= k*n); cells are exact integer counts; the
    Yates chi2 divides integers in doubles at the end. Plan: one
    value-grid cumulative, one broadcast scalar, one cell fold."""
    o = t(spark, sf_dir, "orders")
    day = F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
    pts = o.select(
        F.when((day + 4) % 7 >= 5, 1).otherwise(0).alias("g"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v"),
    ).persist()
    grid = pts.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cum = grid.select(
        "v",
        F.sum("c")
        .over(
            Window.orderBy("v").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cc"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    ).persist()
    q1 = cum.where(4 * F.col("cc") >= F.col("n")).agg(
        F.min("v").cast("bigint").alias("q1")
    )
    q3 = cum.where(4 * F.col("cc") >= 3 * F.col("n")).agg(
        F.min("v").cast("bigint").alias("q3")
    )
    q = q1.crossJoin(F.broadcast(q3))
    outside = (F.col("v") < F.col("q1")) | (F.col("v") > F.col("q3"))
    cells = pts.crossJoin(F.broadcast(q)).agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when((F.col("g") == 1) & outside, 1).otherwise(0))
        .cast("bigint")
        .alias("o1"),
        F.sum(F.when((F.col("g") == 0) & outside, 1).otherwise(0))
        .cast("bigint")
        .alias("o0"),
    )
    ad_bc = F.abs(
        F.col("o1").cast("double") * (F.col("n0") - F.col("o0"))
        - F.col("o0").cast("double") * (F.col("n1") - F.col("o1"))
    )
    ntot = F.col("n1") + F.col("n0")
    return cells.select(
        F.col("n1").alias("n_fri_sat"),
        F.col("n0").alias("n_sun_thu"),
        F.col("o1").alias("n_fri_sat_outside"),
        F.col("o0").alias("n_sun_thu_outside"),
        (
            F.round(
                F.col("o1") * 1.0 / F.col("n1")
                - F.col("o0") * 1.0 / F.col("n0"),
                8,
            )
            + 0.0
        ).alias("outside_rate_diff"),
        (
            F.round(
                ntot
                * (ad_bc - ntot / 2.0)
                * (ad_bc - ntot / 2.0)
                / (
                    F.col("n1").cast("double")
                    * F.col("n0")
                    * (F.col("o1") + F.col("o0"))
                    * (ntot - F.col("o1") - F.col("o0"))
                ),
                6,
            )
            + 0.0
        ).alias("westenberg_chi2_yates"),
    )


# --------------------------------------------------------------------------
# AUC with Hanley-McNeil confidence interval (value -> purchase)
# --------------------------------------------------------------------------
@register(
    "auc_hanley_mcneil_ci",
    oracle="""
    WITH pts AS (
        SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS pos,
               CAST(floor(value * 100) AS BIGINT) AS v
        FROM events
    ),
    grid AS (
        SELECT v,
               CAST(SUM(pos) AS BIGINT) AS c1,
               CAST(SUM(1 - pos) AS BIGINT) AS c0
        FROM pts GROUP BY v
    ),
    cum AS (
        SELECT v, c1, c0,
               CAST(COALESCE(SUM(c0) OVER (ORDER BY v ROWS BETWEEN
                   UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS c0_below,
               CAST(SUM(c1) OVER () AS BIGINT) AS n1,
               CAST(SUM(c0) OVER () AS BIGINT) AS n0
        FROM grid
    ),
    fold AS (
        SELECT MAX(n1) AS n1, MAX(n0) AS n0,
               CAST(SUM(CAST(c1 AS DECIMAL(38,0))
                        * (2 * c0_below + c0)) AS DECIMAL(38,0))
                   AS u2
        FROM cum
    )
    SELECT n1 AS n_positive, n0 AS n_negative,
           round(CAST(u2 AS DOUBLE) / 2.0 / n1 / n0, 8) + 0.0
               AS auc_midrank,
           round(sqrt((CAST(u2 AS DOUBLE) / 2 / n1 / n0
                       * (1.0 - CAST(u2 AS DOUBLE) / 2 / n1 / n0)
                       + (n1 - 1)
                         * ((CAST(u2 AS DOUBLE) / 2 / n1 / n0)
                            / (2.0 - CAST(u2 AS DOUBLE) / 2 / n1
                                     / n0)
                            - (CAST(u2 AS DOUBLE) / 2 / n1 / n0)
                              * (CAST(u2 AS DOUBLE) / 2 / n1 / n0))
                       + (n0 - 1)
                         * (2.0 * (CAST(u2 AS DOUBLE) / 2 / n1 / n0)
                              * (CAST(u2 AS DOUBLE) / 2 / n1 / n0)
                            / (1.0 + CAST(u2 AS DOUBLE) / 2 / n1
                                     / n0)
                            - (CAST(u2 AS DOUBLE) / 2 / n1 / n0)
                              * (CAST(u2 AS DOUBLE) / 2 / n1 / n0)))
                      / (CAST(n1 AS DOUBLE) * n0)), 8) + 0.0
               AS hanley_mcneil_se,
           round(CAST(u2 AS DOUBLE) / 2 / n1 / n0
                 - 1.959963984540054
                   * sqrt((CAST(u2 AS DOUBLE) / 2 / n1 / n0
                       * (1.0 - CAST(u2 AS DOUBLE) / 2 / n1 / n0)
                       + (n1 - 1)
                         * ((CAST(u2 AS DOUBLE) / 2 / n1 / n0)
                            / (2.0 - CAST(u2 AS DOUBLE) / 2 / n1
                                     / n0)
                            - (CAST(u2 AS DOUBLE) / 2 / n1 / n0)
                              * (CAST(u2 AS DOUBLE) / 2 / n1 / n0))
                       + (n0 - 1)
                         * (2.0 * (CAST(u2 AS DOUBLE) / 2 / n1 / n0)
                              * (CAST(u2 AS DOUBLE) / 2 / n1 / n0)
                            / (1.0 + CAST(u2 AS DOUBLE) / 2 / n1
                                     / n0)
                            - (CAST(u2 AS DOUBLE) / 2 / n1 / n0)
                              * (CAST(u2 AS DOUBLE) / 2 / n1 / n0)))
                      / (CAST(n1 AS DOUBLE) * n0)), 8) + 0.0
               AS ci95_lo,
           round(CAST(u2 AS DOUBLE) / 2 / n1 / n0
                 + 1.959963984540054
                   * sqrt((CAST(u2 AS DOUBLE) / 2 / n1 / n0
                       * (1.0 - CAST(u2 AS DOUBLE) / 2 / n1 / n0)
                       + (n1 - 1)
                         * ((CAST(u2 AS DOUBLE) / 2 / n1 / n0)
                            / (2.0 - CAST(u2 AS DOUBLE) / 2 / n1
                                     / n0)
                            - (CAST(u2 AS DOUBLE) / 2 / n1 / n0)
                              * (CAST(u2 AS DOUBLE) / 2 / n1 / n0))
                       + (n0 - 1)
                         * (2.0 * (CAST(u2 AS DOUBLE) / 2 / n1 / n0)
                              * (CAST(u2 AS DOUBLE) / 2 / n1 / n0)
                            / (1.0 + CAST(u2 AS DOUBLE) / 2 / n1
                                     / n0)
                            - (CAST(u2 AS DOUBLE) / 2 / n1 / n0)
                              * (CAST(u2 AS DOUBLE) / 2 / n1 / n0)))
                      / (CAST(n1 AS DOUBLE) * n0)), 8) + 0.0
               AS ci95_hi
    FROM fold
    """,
)
def auc_hanley_mcneil_ci(spark, sf_dir):
    """AUC of the event-value score for predicting purchases, with
    the HANLEY-McNEIL standard error and 95% CI: SE^2 = (A(1-A) +
    (n1-1)(Q1-A^2) + (n0-1)(Q2-A^2)) / (n1*n0) with Q1 = A/(2-A),
    Q2 = 2A^2/(1+A) — the closed-form exponential-model SE that
    turns the registry's point AUC (`auc_rank_score`) into an
    interval, which is what any model-comparison gate actually
    needs (two AUCs without SEs cannot be compared).

    Exactness: the midrank AUC is exact — 2*U = sum c1*(2*c0_below
    + c0_tied) folds in DECIMAL(38,0) on the value-cents grid (ties
    count half by construction); SE/CI derive from the same exact
    rational A in doubles. Plan: one value-grid exclusive
    cumulative, one fold."""
    e = t(spark, sf_dir, "events")
    pts = e.select(
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("pos"),
        F.floor(F.col("value") * 100).cast("bigint").alias("v"),
    )
    grid = pts.groupBy("v").agg(
        F.sum("pos").cast("bigint").alias("c1"),
        F.sum(1 - F.col("pos")).cast("bigint").alias("c0"),
    )
    cum = grid.select(
        "c1",
        "c0",
        F.coalesce(
            F.sum("c0").over(
                Window.orderBy("v").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("c0_below"),
        F.sum("c1").over(Window.partitionBy()).cast("bigint").alias(
            "n1"
        ),
        F.sum("c0").over(Window.partitionBy()).cast("bigint").alias(
            "n0"
        ),
    )
    fold = cum.agg(
        F.max("n1").alias("n1"),
        F.max("n0").alias("n0"),
        F.sum(
            F.col("c1").cast("decimal(38,0)")
            * (2 * F.col("c0_below") + F.col("c0"))
        )
        .cast("decimal(38,0)")
        .alias("u2"),
    )
    a = F.col("u2").cast("double") / 2.0 / F.col("n1") / F.col("n0")
    q1 = a / (2.0 - a)
    q2 = 2.0 * a * a / (1.0 + a)
    se = F.sqrt(
        (
            a * (1.0 - a)
            + (F.col("n1") - 1) * (q1 - a * a)
            + (F.col("n0") - 1) * (q2 - a * a)
        )
        / (F.col("n1").cast("double") * F.col("n0"))
    )
    z = 1.959963984540054
    return fold.select(
        F.col("n1").alias("n_positive"),
        F.col("n0").alias("n_negative"),
        (F.round(a, 8) + 0.0).alias("auc_midrank"),
        (F.round(se, 8) + 0.0).alias("hanley_mcneil_se"),
        (F.round(a - z * se, 8) + 0.0).alias("ci95_lo"),
        (F.round(a + z * se, 8) + 0.0).alias("ci95_hi"),
    )


# --------------------------------------------------------------------------
# Ratio-estimator panel: plain / mean-of-ratios / Hartley-Ross
# --------------------------------------------------------------------------
@register(
    "ratio_regression_estimators",
    oracle="""
    WITH day_xy AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS day,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                             * 100 AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(CAST(round(CAST(y AS DOUBLE) / x / 100000.0,
                                   8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS sr
        FROM day_xy
    )
    SELECT n AS n_days,
           round(CAST(sy AS DOUBLE) / sx / 100000.0, 8) + 0.0
               AS ratio_of_means_kusd,
           round(sr / n, 8) + 0.0 AS mean_of_ratios_kusd,
           round(sr / n
                 + CAST(n AS DOUBLE) / (n - 1)
                   * (CAST(sy AS DOUBLE) / n / 100000.0
                      - sr / n * (CAST(sx AS DOUBLE) / n))
                   / (CAST(sx AS DOUBLE) / n), 8) + 0.0
               AS hartley_ross_kusd,
           round((CAST(sy AS DOUBLE) / sx - sr / n * 100000.0)
                 / 100000.0, 8) + 0.0
               AS ratio_bias_gap_kusd
    FROM fold
    """,
)
def ratio_regression_estimators(spark, sf_dir):
    """RATIO-ESTIMATOR panel for mean order value from the day-grain
    (orders, revenue) pairs: the ratio of means sum(y)/sum(x), the
    mean of daily ratios (biased upward when small days run rich),
    and the HARTLEY-ROSS unbiased correction r_HR = rbar + n(ybar -
    rbar*xbar) / ((n-1)*xbar) — the exactly-unbiased-under-SRS
    estimator whose gap to the plain ratio (the ratio_bias_gap
    column) SIZES the day-level ratio bias that `jackknife_ratio_se`
    only puts an SE on. The survey-sampling companion to
    `horvitz_thompson_estimate` / `raking_ipf_margins`.

    Exactness: day sums exact integers; daily ratios round at 8 dp
    in k$ before the DECIMAL fold; the HR identity combines exact
    totals with that fold in doubles. Plan: one day rollup, one
    fold."""
    o = t(spark, sf_dir, "orders")
    day_xy = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("y"),
    )
    fold = day_xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(
            F.round(
                F.col("y").cast("double") / F.col("x") / 100000.0, 8
            ).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("sr"),
    )
    rom = F.col("sy").cast("double") / F.col("sx") / 100000.0
    rbar = F.col("sr") / F.col("n")
    xbar = F.col("sx").cast("double") / F.col("n")
    ybar_k = F.col("sy").cast("double") / F.col("n") / 100000.0
    hr = rbar + F.col("n").cast("double") / (F.col("n") - 1) * (
        ybar_k - rbar * xbar
    ) / xbar
    return fold.select(
        F.col("n").alias("n_days"),
        (F.round(rom, 8) + 0.0).alias("ratio_of_means_kusd"),
        (F.round(rbar, 8) + 0.0).alias("mean_of_ratios_kusd"),
        (F.round(hr, 8) + 0.0).alias("hartley_ross_kusd"),
        (F.round(rom - rbar, 8) + 0.0).alias("ratio_bias_gap_kusd"),
    )


# --------------------------------------------------------------------------
# Ord plot: count-distribution family identification for weekly purchases
# --------------------------------------------------------------------------
@register(
    "ord_plot_family",
    oracle=f"""
    WITH {_UWEEK_SQL},
    freq AS (
        SELECT y AS k, CAST(COUNT(*) AS BIGINT) AS f
        FROM uweek GROUP BY y
    ),
    ratio AS (
        SELECT k,
               round(CAST(k AS DOUBLE) * f
                     / LAG(f) OVER (ORDER BY k), 8) AS u,
               f, LAG(f) OVER (ORDER BY k) AS fprev,
               LAG(k) OVER (ORDER BY k) AS kprev
        FROM freq
        QUALIFY fprev IS NOT NULL AND kprev = k - 1
                AND f >= 5 AND fprev >= 5
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(CAST(k AS DECIMAL(18,0))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(round(u, 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS su,
               CAST(SUM(CAST(k AS DECIMAL(18,0)) * k) AS DOUBLE)
                   AS sxx,
               CAST(SUM(CAST(round(k * u, 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS sxu
        FROM ratio
    ),
    ab AS (
        SELECT m,
               round((m * sxu - sx * su) / (m * sxx - sx * sx), 6)
                   AS b,
               round(su / m - (m * sxu - sx * su)
                              / (m * sxx - sx * sx) * sx / m, 6)
                   AS a
        FROM fit
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM uweek)
               AS n_user_weeks,
           m AS k_points, a + 0.0 AS ord_intercept,
           b + 0.0 AS ord_slope,
           CASE WHEN abs(b) <= 0.05 THEN 'poisson'
                WHEN b > 0.05 AND a > 0 THEN 'negative_binomial'
                WHEN b < -0.05 THEN 'binomial'
                ELSE 'logarithmic' END AS implied_family
    FROM ab
    """,
)
def ord_plot_family(spark, sf_dir):
    """ORD PLOT count-distribution identification on weekly purchase
    counts: the frequency ratio u_k = k*f_k/f_(k-1) is LINEAR in k
    for the whole power-series family, and its (slope, intercept)
    signs name the member — flat = Poisson, rising with positive
    intercept = negative binomial, falling = binomial, rising
    through the origin = log-series. This is the model-CHOICE
    diagnostic that decides whether `poisson_dispersion_panel` or
    `negbin_mom_fit` machinery applies, from nothing but the
    frequency table (cells with f >= 5 on both sides enter, the
    textbook stability rule).

    Exactness: frequencies are exact integers on the bounded count
    grid; u_k rounds at 8 dp before the OLS fold; the family call
    reads 6-dp-rounded (a, b) through fixed literal thresholds.
    Plan: one (user, week) rollup, one count-grid lag, two folds."""
    freq = (
        _uweek(spark, sf_dir)
        .groupBy(F.col("y").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    lagw = Window.orderBy("k")
    ratio = (
        freq.select(
            "k",
            "f",
            F.lag("f").over(lagw).alias("fprev"),
            F.lag("k").over(lagw).alias("kprev"),
        )
        .where(
            F.col("fprev").isNotNull()
            & (F.col("kprev") == F.col("k") - 1)
            & (F.col("f") >= 5)
            & (F.col("fprev") >= 5)
        )
        .select(
            "k",
            F.round(
                F.col("k").cast("double") * F.col("f") / F.col("fprev"),
                8,
            ).alias("u"),
        )
    )
    fit = ratio.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum(F.col("k").cast("decimal(18,0)"))
        .cast("double")
        .alias("sx"),
        F.sum(F.round("u", 8).cast("decimal(28,8)"))
        .cast("double")
        .alias("su"),
        F.sum(F.col("k").cast("decimal(18,0)") * F.col("k"))
        .cast("double")
        .alias("sxx"),
        F.sum(
            F.round(F.col("k") * F.col("u"), 8).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("sxu"),
    )
    b = F.round(
        (F.col("m") * F.col("sxu") - F.col("sx") * F.col("su"))
        / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")),
        6,
    )
    a = F.round(
        F.col("su") / F.col("m")
        - (F.col("m") * F.col("sxu") - F.col("sx") * F.col("su"))
        / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.col("sx")
        / F.col("m"),
        6,
    )
    ncells = _uweek(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_user_weeks")
    )
    return ncells.crossJoin(F.broadcast(fit)).select(
        "n_user_weeks",
        F.col("m").alias("k_points"),
        (a + 0.0).alias("ord_intercept"),
        (b + 0.0).alias("ord_slope"),
        F.when(F.abs(b) <= 0.05, "poisson")
        .when((b > 0.05) & (a > 0), "negative_binomial")
        .when(b < -0.05, "binomial")
        .otherwise("logarithmic")
        .alias("implied_family"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "westenberg_iqr_test": (
            "one cumulative over the cents value grid for the exact "
            "pooled quartiles (the gastwirth class)"
        ),
        "auc_hanley_mcneil_ci": (
            "one exclusive-prefix cumulative over the value-cents "
            "grid (the fligner_policello placement class)"
        ),
        "ord_plot_family": (
            "one lag over the bounded purchase-count grid (the "
            "negbin frequency class)"
        ),
    }
)


# --------------------------------------------------------------------------
# DCCA cross-correlation of daily revenue vs daily event volume
# --------------------------------------------------------------------------
@register(
    "dcca_coefficient",
    oracle="""
    WITH eday AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    joint AS (
        SELECT day, y, x,
               ROW_NUMBER() OVER (ORDER BY day) - 1 AS i
        FROM eday
    ),
    boxes AS (
        SELECT i // 8 AS blk, i % 8 AS tt, x, y
        FROM joint
    ),
    bs AS (
        SELECT blk, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(tt * x) AS BIGINT) AS stx,
               CAST(SUM(tt * y) AS BIGINT) AS sty,
               CAST(SUM(CAST(x AS DECIMAL(38,0)) * y)
                    AS DECIMAL(38,0)) AS sxy,
               CAST(SUM(CAST(x AS DECIMAL(38,0)) * x)
                    AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(y AS DECIMAL(38,0)) * y)
                    AS DECIMAL(38,0)) AS syy
        FROM boxes GROUP BY blk
        HAVING COUNT(*) = 8
    ),
    resid AS (
        SELECT CAST(SUM(42 * (8 * sxy - CAST(sx AS DECIMAL(38,0))
                              * sy)
                        - (8 * stx - 28 * CAST(sx AS DECIMAL(38,0)))
                          * (8 * sty - 28 * sy))
                    AS DECIMAL(38,0)) AS fxy,
               CAST(SUM(42 * (8 * sxx - CAST(sx AS DECIMAL(38,0))
                              * sx)
                        - (8 * stx - 28 * CAST(sx AS DECIMAL(38,0)))
                          * (8 * stx - 28 * sx))
                    AS DECIMAL(38,0)) AS fxx,
               CAST(SUM(42 * (8 * syy - CAST(sy AS DECIMAL(38,0))
                              * sy)
                        - (8 * sty - 28 * CAST(sy AS DECIMAL(38,0)))
                          * (8 * sty - 28 * sy))
                    AS DECIMAL(38,0)) AS fyy,
               CAST(COUNT(*) AS BIGINT) AS nb
        FROM bs
    )
    SELECT nb AS n_boxes,
           round(CAST(fxy AS DOUBLE)
                 / sqrt(CAST(fxx AS DOUBLE)
                        * CAST(fyy AS DOUBLE)), 8) + 0.0
               AS dcca_rho_s8
    FROM resid
    """,
)
def dcca_coefficient(spark, sf_dir):
    """DCCA cross-correlation coefficient (Zebende's rho_DCCA) of
    daily event VOLUME against daily event VALUE at box size s = 8
    (both series share the events calendar — the orders calendar is
    disjoint from it, which this query's first draft learned the
    hard way):
    both series are linearly detrended INSIDE each 8-day box and
    the coefficient is the ratio of detrended cross-covariance to
    the geometric mean of detrended variances — the dependence
    measure that survives common trends and non-stationarity, which
    plain `cross_correlation_daily` conflates with real coupling.

    Device: with box time t = 0..7, Stt = 42 and Sum(t) = 28 are
    LITERALS, so each box's detrended products have the exact
    integer closed form 42*(8*Sab - Sa*Sb) - A_a*A_b with A = 8*St.
    - 28*S. — the scale factor cancels in the ratio, so the whole
    statistic folds in DECIMAL(38,0) with no per-point residual
    ever materializing. Incomplete trailing boxes drop via the
    exact cnt = 8 filter; one division and sqrt at the end."""
    e = t(spark, sf_dir, "events")
    eday = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        F.sum((dec("value", 12, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("y"),
    )
    joint = eday.select(
        "x",
        "y",
        (F.row_number().over(Window.orderBy("day")) - 1).alias("i"),
    )
    boxes = joint.select(
        F.floor(F.col("i") / 8).alias("blk"),
        (F.col("i") % 8).alias("tt"),
        "x",
        "y",
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    bs = (
        boxes.groupBy("blk")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.col("tt") * F.col("x")).cast("bigint").alias("stx"),
            F.sum(F.col("tt") * F.col("y")).cast("bigint").alias("sty"),
            F.sum(d38("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
            F.sum(d38("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
            F.sum(d38("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
        )
        .where(F.col("cnt") == 8)
    )
    ax = 8 * F.col("stx") - 28 * F.col("sx").cast("decimal(38,0)")
    ay = 8 * F.col("sty") - 28 * F.col("sy").cast("decimal(38,0)")
    resid = bs.agg(
        F.sum(
            42
            * (
                8 * F.col("sxy")
                - F.col("sx").cast("decimal(38,0)") * F.col("sy")
            )
            - ax * ay
        )
        .cast("decimal(38,0)")
        .alias("fxy"),
        F.sum(
            42
            * (
                8 * F.col("sxx")
                - F.col("sx").cast("decimal(38,0)") * F.col("sx")
            )
            - ax * ax
        )
        .cast("decimal(38,0)")
        .alias("fxx"),
        F.sum(
            42
            * (
                8 * F.col("syy")
                - F.col("sy").cast("decimal(38,0)") * F.col("sy")
            )
            - ay * ay
        )
        .cast("decimal(38,0)")
        .alias("fyy"),
        F.count(F.lit(1)).cast("bigint").alias("nb"),
    )
    return resid.select(
        F.col("nb").alias("n_boxes"),
        (
            F.round(
                F.col("fxy").cast("double")
                / F.sqrt(
                    F.col("fxx").cast("double")
                    * F.col("fyy").cast("double")
                ),
                8,
            )
            + 0.0
        ).alias("dcca_rho_s8"),
    )


# --------------------------------------------------------------------------
# Schweizer-Wolff sigma: copula distance of (revenue, volume) days
# --------------------------------------------------------------------------
@register(
    "schweizer_wolff_sigma",
    oracle="""
    WITH joint AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM events
        GROUP BY epoch_us(ts) // 86400000000
    ),
    ranked AS (
        SELECT RANK() OVER (ORDER BY x) + COUNT(*) OVER
                   (PARTITION BY x) - 1 AS rx,
               RANK() OVER (ORDER BY y) + COUNT(*) OVER
                   (PARTITION BY y) - 1 AS ry,
               COUNT(*) OVER () AS n
        FROM joint
    ),
    binned AS (
        SELECT LEAST(CAST((20 * rx + n - 1) // n AS BIGINT), 20)
                   AS bx,
               LEAST(CAST((20 * ry + n - 1) // n AS BIGINT), 20)
                   AS by2,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS h
        FROM ranked GROUP BY 1, 2
    ),
    cells AS (
        SELECT i.i, j.j, MAX(b.n) AS n,
               CAST(SUM(CASE WHEN b.bx <= i.i AND b.by2 <= j.j
                             THEN b.h ELSE 0 END) AS BIGINT) AS cnt
        FROM binned b
        CROSS JOIN (SELECT CAST(u.g AS BIGINT) AS i
                    FROM LATERAL UNNEST(range(1, 20)) AS u(g)) i
        CROSS JOIN (SELECT CAST(u.g AS BIGINT) AS j
                    FROM LATERAL UNNEST(range(1, 20)) AS u(g)) j
        GROUP BY i.i, j.j
    ),
    fold AS (
        SELECT MAX(n) AS n,
               CAST(SUM(CAST(abs(400 * cnt - i * j * n)
                             AS DECIMAL(38,0))) AS DECIMAL(38,0))
                   AS sdev,
               CAST(MAX(abs(400 * cnt - i * j * n)) AS BIGINT)
                   AS maxdev
        FROM cells
    )
    SELECT n AS n_days,
           round(12.0 * CAST(sdev AS DOUBLE)
                 / (361.0 * 400.0 * n), 8) + 0.0
               AS schweizer_wolff_sigma,
           round(CAST(maxdev AS DOUBLE) / (400.0 * n), 8) + 0.0
               AS max_copula_deviation
    FROM fold
    """,
)
def schweizer_wolff_sigma(spark, sf_dir):
    """SCHWEIZER-WOLFF sigma between daily event volume and daily
    event value (the shared events calendar), on the 19x19 ventile
    grid of the empirical copula:
    sigma = 12 * mean |C(u,v) - uv| — the L1 copula distance from
    independence that detects NON-MONOTONE dependence (V-shapes,
    regimes) to which `spearman_rank_corr` and `kendall_tau`, being
    signed concordance averages, are exactly blind (their positive
    and negative regions cancel; sigma takes absolute values). The
    max_copula_deviation column doubles as a 2D KS-from-
    independence.

    Exactness: ranks are max-ranks with exact tie handling
    (RANK + tiecount - 1); bins are exact ceil(20*r/n); each cell's
    deviation |400*cnt - i*j*n| is a pure integer; the 361-cell
    fold stays DECIMAL(38,0). Plan: one day join, two rank windows
    over the calendar-bounded day frame, one 19x19 broadcast, two
    folds."""
    e = t(spark, sf_dir, "events")
    joint = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        F.sum((dec("value", 12, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("y"),
    ).select("x", "y")
    ranked = joint.select(
        (
            F.rank().over(Window.orderBy("x"))
            + F.count(F.lit(1)).over(Window.partitionBy("x"))
            - 1
        ).alias("rx"),
        (
            F.rank().over(Window.orderBy("y"))
            + F.count(F.lit(1)).over(Window.partitionBy("y"))
            - 1
        ).alias("ry"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    binned = ranked.groupBy(
        F.least(
            F.floor((20 * F.col("rx") + F.col("n") - 1) / F.col("n"))
            .cast("bigint"),
            F.lit(20).cast("bigint"),
        ).alias("bx"),
        F.least(
            F.floor((20 * F.col("ry") + F.col("n") - 1) / F.col("n"))
            .cast("bigint"),
            F.lit(20).cast("bigint"),
        ).alias("by2"),
    ).agg(
        F.max("n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("h"),
    )
    ij = (
        spark.range(1, 20)
        .select(F.col("id").cast("bigint").alias("i"))
        .crossJoin(
            spark.range(1, 20).select(
                F.col("id").cast("bigint").alias("j")
            )
        )
    )
    cells = (
        binned.crossJoin(F.broadcast(ij))
        .groupBy("i", "j")
        .agg(
            F.max("n").alias("n"),
            F.sum(
                F.when(
                    (F.col("bx") <= F.col("i"))
                    & (F.col("by2") <= F.col("j")),
                    F.col("h"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("cnt"),
        )
    )
    devexpr = F.abs(
        400 * F.col("cnt") - F.col("i") * F.col("j") * F.col("n")
    )
    fold = cells.agg(
        F.max("n").alias("n"),
        F.sum(devexpr.cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sdev"),
        F.max(devexpr).cast("bigint").alias("maxdev"),
    )
    return fold.select(
        F.col("n").alias("n_days"),
        (
            F.round(
                12.0
                * F.col("sdev").cast("double")
                / (361.0 * 400.0 * F.col("n")),
                8,
            )
            + 0.0
        ).alias("schweizer_wolff_sigma"),
        (
            F.round(
                F.col("maxdev").cast("double") / (400.0 * F.col("n")),
                8,
            )
            + 0.0
        ).alias("max_copula_deviation"),
    )


# --------------------------------------------------------------------------
# Monthly brand-HHI concentration trend
# --------------------------------------------------------------------------
@register(
    "hhi_concentration_trend",
    oracle="""
    WITH rev AS (
        SELECT CAST(date_part('year', l_shipdate) * 12
                    + date_part('month', l_shipdate) AS BIGINT)
                   AS ym,
               p.p_brand AS brand,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                             * 100 AS BIGINT)) AS BIGINT) AS r
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ),
    hhi AS (
        SELECT ym,
               round(10000.0
                     * CAST(SUM(CAST(r AS DECIMAL(38,0)) * r)
                            AS DOUBLE)
                     / (CAST(SUM(r) AS DOUBLE) * SUM(r)), 6)
                   AS h
        FROM rev GROUP BY ym
    ),
    idx AS (
        SELECT h, ym - MIN(ym) OVER () AS i,
               abs(h - LAG(h) OVER (ORDER BY ym)) AS jump
        FROM hhi
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(CAST(i AS DECIMAL(18,0))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(round(h, 6) AS DECIMAL(28,6)))
                    AS DOUBLE) AS sh,
               CAST(SUM(CAST(i AS DECIMAL(18,0)) * i) AS DOUBLE)
                   AS sxx,
               CAST(SUM(CAST(round(i * h, 6) AS DECIMAL(28,6)))
                    AS DOUBLE) AS sxh,
               round(MAX(jump), 6) AS maxjump,
               MIN(CASE WHEN i = 0 THEN h END) AS h_first
        FROM idx
    )
    SELECT m AS n_months,
           round(h_first, 4) + 0.0 AS hhi_first_bp,
           round(sh / m, 4) + 0.0 AS hhi_mean_bp,
           round((m * sxh - sx * sh) / (m * sxx - sx * sx), 6)
               + 0.0 AS hhi_slope_bp_per_month,
           maxjump + 0.0 AS max_monthly_jump_bp
    FROM fit
    """,
)
def hhi_concentration_trend(spark, sf_dir):
    """MONTHLY brand-concentration trend: the Herfindahl-Hirschman
    index of brand revenue shares per calendar month (in basis
    points, the antitrust convention), its OLS slope per month, and
    the largest month-over-month jump — the market-structure DRIFT
    readout that the static `market_concentration_hhi` snapshot
    cannot see; a positive slope is consolidation, a spike month is
    an assortment shock (cross-checked by `assortment_churn_rates`).

    Exactness: per-(month, brand) revenue is exact integer cents;
    each month's HHI numerator folds r^2 in DECIMAL(38,0) and reads
    at 6 dp; the trend OLS folds rounded terms over the bounded
    month frame. Plan: one lineitem-part equi-join (part broadcast
    at dimension scale), one (month, brand) rollup, one month
    rollup, one lag + fold over the bounded month frame."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
            .cast("bigint")
            .alias("ym"),
            F.col("p_brand").alias("brand"),
        )
        .agg(
            F.sum((dec("l_extendedprice", 18, 2) * 100).cast("bigint"))
            .cast("bigint")
            .alias("r")
        )
    )
    hhi = rev.groupBy("ym").agg(
        F.round(
            10000.0
            * F.sum(F.col("r").cast("decimal(38,0)") * F.col("r"))
            .cast("double")
            / (F.sum("r").cast("double") * F.sum("r")),
            6,
        ).alias("h")
    )
    idx = hhi.select(
        "h",
        (F.col("ym") - F.min("ym").over(Window.partitionBy())).alias(
            "i"
        ),
        F.abs(
            F.col("h") - F.lag("h").over(Window.orderBy("ym"))
        ).alias("jump"),
    )
    fit = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum(F.col("i").cast("decimal(18,0)"))
        .cast("double")
        .alias("sx"),
        F.sum(F.round("h", 6).cast("decimal(28,6)"))
        .cast("double")
        .alias("sh"),
        F.sum(F.col("i").cast("decimal(18,0)") * F.col("i"))
        .cast("double")
        .alias("sxx"),
        F.sum(
            F.round(F.col("i") * F.col("h"), 6).cast("decimal(28,6)")
        )
        .cast("double")
        .alias("sxh"),
        F.round(F.max("jump"), 6).alias("maxjump"),
        F.min(F.when(F.col("i") == 0, F.col("h"))).alias("h_first"),
    )
    return fit.select(
        F.col("m").alias("n_months"),
        (F.round("h_first", 4) + 0.0).alias("hhi_first_bp"),
        (F.round(F.col("sh") / F.col("m"), 4) + 0.0).alias(
            "hhi_mean_bp"
        ),
        (
            F.round(
                (F.col("m") * F.col("sxh") - F.col("sx") * F.col("sh"))
                / (
                    F.col("m") * F.col("sxx")
                    - F.col("sx") * F.col("sx")
                ),
                6,
            )
            + 0.0
        ).alias("hhi_slope_bp_per_month"),
        (F.col("maxjump") + 0.0).alias("max_monthly_jump_bp"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "dcca_coefficient": (
            "row_number over the events-calendar day frame (bounded "
            "domain — the cusum class)"
        ),
        "schweizer_wolff_sigma": (
            "two rank windows over the events-calendar day frame "
            "(bounded domain) + a 361-cell broadcast fold"
        ),
        "hhi_concentration_trend": (
            "min/lag windows over the bounded month frame"
        ),
    }
)


# --------------------------------------------------------------------------
# GPD shape stability: PWM fits over three thresholds
# --------------------------------------------------------------------------
@register(
    "gpd_shape_stability",
    oracle="""
    WITH pts AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    grid AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM pts GROUP BY v
    ),
    cum AS (
        SELECT v,
               SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                   AS cc,
               SUM(c) OVER () AS n
        FROM grid
    ),
    qs AS (
        SELECT CAST(u.g AS BIGINT) AS k,
               (SELECT CAST(MIN(v) AS BIGINT) FROM cum
                WHERE 100 * cc >= (87 + u.g * 3) * n) AS thr
        FROM LATERAL UNNEST(range(1, 4)) AS u(g)
    ),
    exc AS (
        SELECT qs.k, g.v - qs.thr AS e, g.c,
               SUM(g.c) OVER (PARTITION BY qs.k ORDER BY g.v
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS head,
               SUM(g.c) OVER (PARTITION BY qs.k) AS m
        FROM grid g JOIN qs ON g.v > qs.thr
    ),
    pwm AS (
        SELECT k, MAX(m) AS m,
               CAST(SUM(CAST(e AS DECIMAL(38,0)) * c)
                    AS DECIMAL(38,0)) AS s0,
               CAST(SUM(CAST(e AS DECIMAL(38,0)) * c
                        * (2 * (m - COALESCE(head, 0)) - c - 1))
                    AS DECIMAL(38,0)) AS s1x2
        FROM exc GROUP BY k
    ),
    xi AS (
        SELECT k, m,
               round(2.0 - (CAST(s0 AS DOUBLE) / m)
                     / (CAST(s0 AS DOUBLE) / m
                        - CAST(s1x2 AS DOUBLE) / m / (m - 1)), 8)
                   AS xi_hat
        FROM pwm
    )
    SELECT (SELECT CAST(m AS BIGINT) FROM xi WHERE k = 1) AS n_excess_q90,
           (SELECT xi_hat + 0.0 FROM xi WHERE k = 1) AS xi_q90,
           (SELECT xi_hat + 0.0 FROM xi WHERE k = 2) AS xi_q93,
           (SELECT xi_hat + 0.0 FROM xi WHERE k = 3) AS xi_q96,
           (SELECT round(MAX(xi_hat) - MIN(xi_hat), 8) + 0.0
            FROM xi) AS xi_spread
    """,
)
def gpd_shape_stability(spark, sf_dir):
    """GPD SHAPE-PARAMETER STABILITY: probability-weighted-moment
    fits of the generalized Pareto shape xi to order-value excesses
    over the exact 90/93/96-percentile thresholds, plus the spread
    across the three fits — the threshold-stability plot in table
    form: a genuine GPD tail gives the SAME xi at every admissible
    threshold, so a small spread certifies that
    `pot_gpd_pwm_fit`'s single-threshold estimate is trustworthy
    and a large one says the asymptotic regime hasn't started
    (`mean_excess_slope` names the regime; this names the safe
    threshold).

    Exactness: thresholds are exact order statistics; both PWMs are
    exact integer folds — the order-weighted moment uses the tie-
    group identity 2*sum e_(i)*(m-i) = sum_g e*c*(2*(m-head)-c-1)
    in DECIMAL(38,0), the same device as `ttt_barlow_proschan`.
    Plan: one value-grid cumulative, a 3-threshold broadcast join,
    one per-threshold exclusive cumulative (price-domain-bounded),
    two folds."""
    o = t(spark, sf_dir, "orders")
    pts = o.select(
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v")
    )
    grid = pts.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).persist()
    cum = grid.select(
        "v",
        F.sum("c")
        .over(
            Window.orderBy("v").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cc"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    ks = spark.range(1, 4).select(
        F.col("id").cast("bigint").alias("k")
    )
    qs = (
        cum.crossJoin(F.broadcast(ks))
        .where(
            100 * F.col("cc") >= (87 + F.col("k") * 3) * F.col("n")
        )
        .groupBy("k")
        .agg(F.min("v").cast("bigint").alias("thr"))
    )
    exc = (
        grid.crossJoin(F.broadcast(qs))
        .where(F.col("v") > F.col("thr"))
        .select(
            "k",
            (F.col("v") - F.col("thr")).alias("e"),
            "c",
            F.sum("c")
            .over(
                Window.partitionBy("k")
                .orderBy("v")
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            .alias("head"),
            F.sum("c").over(Window.partitionBy("k")).alias("m"),
        )
    )
    pwm = exc.groupBy("k").agg(
        F.max("m").alias("m"),
        F.sum(F.col("e").cast("decimal(38,0)") * F.col("c"))
        .cast("decimal(38,0)")
        .alias("s0"),
        F.sum(
            F.col("e").cast("decimal(38,0)")
            * F.col("c")
            * (
                2 * (F.col("m") - F.coalesce(F.col("head"), F.lit(0)))
                - F.col("c")
                - 1
            )
        )
        .cast("decimal(38,0)")
        .alias("s1x2"),
    )
    b0 = F.col("s0").cast("double") / F.col("m")
    b1x2 = F.col("s1x2").cast("double") / F.col("m") / (F.col("m") - 1)
    xi = pwm.select(
        "k",
        "m",
        F.round(2.0 - b0 / (b0 - b1x2), 8).alias("xi_hat"),
    ).persist()
    w1 = xi.where(F.col("k") == 1).select(
        F.col("m").alias("n_excess_q90"),
        (F.col("xi_hat") + 0.0).alias("xi_q90"),
    )
    w2 = xi.where(F.col("k") == 2).select(
        (F.col("xi_hat") + 0.0).alias("xi_q93")
    )
    w3 = xi.where(F.col("k") == 3).select(
        (F.col("xi_hat") + 0.0).alias("xi_q96")
    )
    spread = xi.agg(
        (F.round(F.max("xi_hat") - F.min("xi_hat"), 8) + 0.0).alias(
            "xi_spread"
        )
    )
    return (
        w1.crossJoin(F.broadcast(w2))
        .crossJoin(F.broadcast(w3))
        .crossJoin(F.broadcast(spread))
        .select(
            "n_excess_q90", "xi_q90", "xi_q93", "xi_q96", "xi_spread"
        )
    )



# Poisson(1) inverse CDF over ``common.POIS_CDF`` (the poisson_bootstrap_se
# device: both engines share these literals, so no RNG and no libm).
_pois_whens = " ".join(
    f"WHEN __u < {c} THEN {k}" for k, c in enumerate(POIS_CDF)
)
_pois_case_sql = (
    "CASE " + _pois_whens + " ELSE 7 END"
).replace(
    "__u",
    "(((b.blk * 2654435761 + r.rep * 40503) % 4294967296)"
    " / 4294967296.0)",
)


# --------------------------------------------------------------------------
# Circular block bootstrap SE of mean daily revenue (7-day blocks)
# --------------------------------------------------------------------------
@register(
    "block_bootstrap_se",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    idx AS (
        SELECT y, (ROW_NUMBER() OVER (ORDER BY day) - 1) // 7
                   AS blk
        FROM daily
    ),
    bsum AS (
        SELECT blk, CAST(SUM(y) AS BIGINT) AS by2,
               CAST(COUNT(*) AS BIGINT) AS bd
        FROM idx GROUP BY blk HAVING COUNT(*) = 7
    ),
    reps AS (
        SELECT b.blk, b.by2, r.rep,
               {_pois_case_sql}
                   AS w
        FROM bsum b, (SELECT UNNEST(range(1, 33)) AS rep) r
    ),
    stat AS (
        SELECT rep,
               round(SUM(w * by2) / (7.0 * SUM(w)) / 100000.0, 8)
                   AS m
        FROM reps GROUP BY rep HAVING SUM(w) > 0
    ),
    iid AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nb,
               CAST(SUM(by2) AS BIGINT) AS sb,
               CAST(SUM(CAST(by2 AS DECIMAL(38,0)) * by2)
                    AS DECIMAL(38,0)) AS sbb
        FROM bsum
    ),
    f AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS b,
               SUM(CAST(round(m - round(CAST(iid.sb AS DOUBLE)
                       / iid.nb / 7.0 / 100000.0, 8), 8)
                       AS DECIMAL(28,8))) AS s1,
               SUM(CAST(round((m - round(CAST(iid.sb AS DOUBLE)
                       / iid.nb / 7.0 / 100000.0, 8))
                       * (m - round(CAST(iid.sb AS DOUBLE)
                          / iid.nb / 7.0 / 100000.0, 8)), 12)
                       AS DECIMAL(38,12))) AS s2
        FROM stat, iid
    )
    SELECT iid.nb AS n_blocks, f.b AS n_replicates,
           round(CAST(iid.sb AS DOUBLE) / iid.nb / 7.0 / 100000.0,
                 6) + 0.0 AS mean_daily_kusd,
           round(sqrt(greatest(0.0, (CAST(f.s2 AS DOUBLE)
                       - CAST(f.s1 AS DOUBLE) * CAST(f.s1 AS DOUBLE)
                         / f.b) / (f.b - 1.0))), 8) + 0.0
               AS block_bootstrap_se_kusd,
           round(sqrt((CAST(iid.nb AS DOUBLE)
                       * CAST(iid.sbb AS DOUBLE)
                       - CAST(iid.sb AS DOUBLE) * iid.sb)
                      / iid.nb / (iid.nb - 1.0))
                 / iid.nb / 7.0 / 100000.0, 8) + 0.0
               AS iid_block_se_kusd
    FROM f, iid
    """,
)
def block_bootstrap_se(spark, sf_dir):
    """BLOCK BOOTSTRAP standard error of mean daily revenue with
    7-day blocks and deterministic Poisson(1) block weights (the
    `poisson_bootstrap_se` device lifted from rows to BLOCKS): by
    resampling whole weeks the SE keeps the within-week serial
    dependence that the row-level bootstrap destroys — the ratio of
    this SE to the closed-form iid block SE (also reported) is the
    dependence-inflation factor a naive confidence interval is
    missing. 32 replicates, weights from the shared literal
    Poisson(1) inverse-CDF table (no RNG, no libm).

    Exactness: block sums exact integer cents (trailing partial
    week dropped by the exact bd = 7 filter); the weight hash is
    pure integer arithmetic on SMALL block ids (immune by
    construction to the r13 Knuth-overflow at shifted keys);
    replicate means CENTER on the base mean before squaring (the
    uncentered m^2 fold cancels catastrophically — a 344 k$ mean
    with 1e-4 spread lost the whole signal to the 8-dp round at
    sf0.001), deviations round at 8 dp and their squares at 12 dp.
    Plan: one day rollup, one row_number over the calendar frame,
    a 32-replicate broadcast cross over the bounded block frame,
    three folds."""
    daily = daily_order_cents(spark, sf_dir)
    idx = daily.select(
        "y",
        F.floor(
            (F.row_number().over(Window.orderBy("day")) - 1) / 7
        ).alias("blk"),
    )
    bsum = (
        idx.groupBy("blk")
        .agg(
            F.sum("y").cast("bigint").alias("by2"),
            F.count(F.lit(1)).cast("bigint").alias("bd"),
        )
        .where(F.col("bd") == 7)
        .persist()
    )
    reps_k = spark.range(1, 33).select(
        F.col("id").cast("bigint").alias("rep")
    )
    u = (
        (F.col("blk") * 2654435761 + F.col("rep") * 40503)
        % 4294967296
    ) / 4294967296.0
    w = F.when(u < POIS_CDF[0], 0)
    for kk, cdf in enumerate(POIS_CDF[1:], start=1):
        w = w.when(u < cdf, kk)
    w = w.otherwise(7)
    reps = bsum.crossJoin(F.broadcast(reps_k)).select(
        "by2", "rep", w.alias("w")
    )
    stat = (
        reps.groupBy("rep")
        .agg(
            F.round(
                F.sum(F.col("w") * F.col("by2"))
                / (7.0 * F.sum("w"))
                / 100000.0,
                8,
            ).alias("m"),
            F.sum("w").alias("sw"),
        )
        .where(F.col("sw") > 0)
    )
    iid = bsum.agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum("by2").cast("bigint").alias("sb"),
        F.sum(F.col("by2").cast("decimal(38,0)") * F.col("by2"))
        .cast("decimal(38,0)")
        .alias("sbb"),
    )
    base = F.round(
        F.col("sb").cast("double") / F.col("nb") / 7.0 / 100000.0, 8
    )
    d = F.round(F.col("m") - base, 8)
    f = stat.crossJoin(F.broadcast(iid)).agg(
        F.count(F.lit(1)).cast("bigint").alias("b"),
        F.sum(d.cast("decimal(28,8)")).alias("s1"),
        F.sum(F.round(d * d, 12).cast("decimal(38,12)")).alias("s2"),
    )
    j = f.crossJoin(F.broadcast(iid))
    return j.select(
        F.col("nb").alias("n_blocks"),
        F.col("b").alias("n_replicates"),
        (
            F.round(
                F.col("sb").cast("double")
                / F.col("nb")
                / 7.0
                / 100000.0,
                6,
            )
            + 0.0
        ).alias("mean_daily_kusd"),
        (
            F.round(
                F.sqrt(
                    F.greatest(
                        F.lit(0.0),
                        (
                            F.col("s2").cast("double")
                            - F.col("s1").cast("double")
                            * F.col("s1").cast("double")
                            / F.col("b")
                        )
                        / (F.col("b") - 1.0),
                    )
                ),
                8,
            )
            + 0.0
        ).alias("block_bootstrap_se_kusd"),
        (
            F.round(
                F.sqrt(
                    (
                        F.col("nb").cast("double")
                        * F.col("sbb").cast("double")
                        - F.col("sb").cast("double") * F.col("sb")
                    )
                    / F.col("nb")
                    / (F.col("nb") - 1.0)
                )
                / F.col("nb")
                / 7.0
                / 100000.0,
                8,
            )
            + 0.0
        ).alias("iid_block_se_kusd"),
    )


# --------------------------------------------------------------------------
# Berry-Esseen CLT certificate for daily mean order values
# --------------------------------------------------------------------------
@register(
    "berry_esseen_certificate",
    oracle=f"""
    WITH dm AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS day,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               round(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                              * 100 AS BIGINT))
                     / COUNT(*) / 100000.0, 4) AS m
        FROM orders GROUP BY 1
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nd,
               CAST(SUM(CAST(m AS DECIMAL(28,4))) AS DOUBLE) AS sm,
               CAST(SUM(CAST(round(m * m, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS smm
        FROM dm
    ),
    mgrid AS (
        SELECT m, CAST(COUNT(*) AS BIGINT) AS c FROM dm GROUP BY m
    ),
    mcum AS (
        SELECT m,
               SUM(c) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING)
                   AS cc
        FROM mgrid
    ),
    ks AS (SELECT CAST(u.g AS BIGINT) AS k
           FROM LATERAL UNNEST(range(1, 20)) AS u(g)),
    qk AS (
        SELECT ks.k,
               (SELECT MIN(m) FROM mcum, mom
                WHERE 20 * cc >= ks.k * mom.nd) AS q
        FROM ks
    ),
    gaps AS (
        SELECT CAST(MAX(abs(ks.k / 20.0
                   - {phi_sql("((qk.q - mom.sm / mom.nd) "
                               "/ sqrt(mom.smm / mom.nd "
                               "- mom.sm * mom.sm / mom.nd "
                               "/ mom.nd))")}
                   )) AS DOUBLE) AS maxgap
        FROM qk JOIN ks ON qk.k = ks.k, mom
    ),
    rho AS (
        SELECT CAST(SUM(CAST(round(abs(d.m - mom.sm / mom.nd)
                   * abs(d.m - mom.sm / mom.nd)
                   * abs(d.m - mom.sm / mom.nd), 8)
                   AS DECIMAL(38,8))) AS DOUBLE) / MAX(mom.nd)
                   AS rho3,
               MAX(mom.smm / mom.nd
                   - mom.sm * mom.sm / mom.nd / mom.nd) AS var
        FROM dm d, mom
    ),
    mc AS (
        SELECT CAST(MIN(cnt) AS BIGINT) AS minc FROM dm
    )
    SELECT (SELECT nd FROM mom) AS n_days,
           (SELECT minc FROM mc) AS min_orders_per_day,
           round(g.maxgap, 6) + 0.0 AS max_ventile_gap_vs_normal,
           round(0.4748 * r.rho3 / (r.var * sqrt(r.var))
                 / sqrt((SELECT minc FROM mc)), 6) + 0.0
               AS berry_esseen_bound,
           CAST(CASE WHEN g.maxgap <= 0.4748 * r.rho3
                          / (r.var * sqrt(r.var))
                          / sqrt((SELECT minc FROM mc))
                     THEN 1 ELSE 0 END AS INT) AS inside_be_bound
    FROM gaps g, rho r
    """,
)
def berry_esseen_certificate(spark, sf_dir):
    """BERRY-ESSEEN CLT certificate for daily mean order values:
    compares the observed ventile-grid KS distance between the
    standardized daily means and the standard normal against the
    Berry-Esseen envelope 0.4748 * rho3/sigma^3 / sqrt(min_n) built
    from the daily means' own third absolute central moment and the
    SMALLEST per-day sample size (the most conservative day). Every
    downstream normal-theory interval on "mean of a day's orders"
    silently assumes this certificate passes; here it is stated,
    with the observed gap and the bound side by side — the CLT
    companion to `dkw_band_lognormal_check` (which certifies a
    parametric fit the same way).

    Exactness: daily means pin at 4 dp k$ before everything; the
    ventile quantiles are exact order statistics of the pinned-mean
    grid; Phi comes from the shared Abramowitz-Stegun erfc tree
    (identical Horner literals both engines); the cubed-deviation
    fold rounds at 8 dp. Plan: one day rollup, one mean-grid
    cumulative (calendar-bounded), a 19-ordinate broadcast, three
    folds."""
    o = t(spark, sf_dir, "orders")
    dm = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.round(
            F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
            / F.count(F.lit(1))
            / 100000.0,
            4,
        ).alias("m"),
    ).persist()
    mom = dm.agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum(F.col("m").cast("decimal(28,4)"))
        .cast("double")
        .alias("sm"),
        F.sum(F.round(F.col("m") * F.col("m"), 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("smm"),
    )
    mgrid = dm.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    mcum = mgrid.select(
        "m",
        F.sum("c")
        .over(
            Window.orderBy("m").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cc"),
    )
    ks = spark.range(1, 20).select(
        F.col("id").cast("bigint").alias("k")
    )
    qk = (
        mcum.crossJoin(F.broadcast(mom))
        .crossJoin(F.broadcast(ks))
        .where(20 * F.col("cc") >= F.col("k") * F.col("nd"))
        .groupBy("k")
        .agg(F.min("m").alias("q"))
    )
    mu = F.col("sm") / F.col("nd")
    var = F.col("smm") / F.col("nd") - F.col("sm") * F.col("sm") / F.col(
        "nd"
    ) / F.col("nd")
    zq = (F.col("q") - mu) / F.sqrt(var)
    gaps = (
        qk.crossJoin(F.broadcast(mom))
        .agg(
            F.max(
                F.abs(F.col("k") / 20.0 - phi_col(zq))
            ).alias("maxgap")
        )
    )
    rho = dm.crossJoin(F.broadcast(mom)).agg(
        (
            F.sum(
                F.round(
                    F.abs(F.col("m") - mu)
                    * F.abs(F.col("m") - mu)
                    * F.abs(F.col("m") - mu),
                    8,
                ).cast("decimal(38,8)")
            ).cast("double")
            / F.max("nd")
        ).alias("rho3"),
        F.max(var).alias("var"),
    )
    mc = dm.agg(F.min("cnt").cast("bigint").alias("minc"))
    nd = dm.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    j = (
        nd.crossJoin(F.broadcast(mc))
        .crossJoin(F.broadcast(gaps))
        .crossJoin(F.broadcast(rho))
    )
    bound = (
        0.4748
        * F.col("rho3")
        / (F.col("var") * F.sqrt(F.col("var")))
        / F.sqrt(F.col("minc"))
    )
    return j.select(
        "n_days",
        F.col("minc").alias("min_orders_per_day"),
        (F.round("maxgap", 6) + 0.0).alias(
            "max_ventile_gap_vs_normal"
        ),
        (F.round(bound, 6) + 0.0).alias("berry_esseen_bound"),
        F.when(F.col("maxgap") <= bound, 1)
        .otherwise(0)
        .cast("int")
        .alias("inside_be_bound"),
    )


# --------------------------------------------------------------------------
# Moses test of extreme reactions: Fri/Sat vs Sun-Thu order values
# --------------------------------------------------------------------------
@register(
    "moses_extreme_reactions",
    oracle="""
    WITH pts AS (
        SELECT CASE WHEN CAST(epoch_us(o_orderdate) // 86400000000
                         + 4 AS BIGINT) % 7 >= 5
                    THEN 1 ELSE 0 END AS g,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    grid AS (
        SELECT v,
               CAST(SUM(g) AS BIGINT) AS ca,
               CAST(COUNT(*) AS BIGINT) AS cp
        FROM pts GROUP BY v
    ),
    cum AS (
        SELECT v, ca, cp,
               CAST(SUM(ca) OVER w AS BIGINT) AS cca,
               CAST(COALESCE(SUM(cp) OVER ew, 0) AS BIGINT)
                   AS p_below,
               CAST(SUM(cp) OVER w AS BIGINT) AS p_le,
               CAST(SUM(ca) OVER () AS BIGINT) AS na,
               CAST(SUM(cp) OVER () AS BIGINT) AS np
        FROM grid
        WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING),
               ew AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING)
    ),
    alo AS (
        SELECT CAST(MIN(p_below) + 1 AS BIGINT) AS lo_rank,
               CAST(MIN(na) AS BIGINT) AS na,
               CAST(MIN(np) AS BIGINT) AS np
        FROM cum WHERE cca >= 3
    ),
    ahi AS (
        SELECT CAST(MIN(p_le) AS BIGINT) AS hi_rank
        FROM cum WHERE cca >= na - 2
    )
    SELECT alo.na AS n_fri_sat, alo.np - alo.na AS n_sun_thu,
           alo.lo_rank AS trimmed_low_rank,
           ahi.hi_rank AS trimmed_high_rank,
           CAST(ahi.hi_rank - alo.lo_rank + 1 AS BIGINT)
               AS moses_span_h2,
           CAST(alo.na - 4 AS BIGINT) AS minimal_span_h2,
           CAST(ahi.hi_rank - alo.lo_rank + 1 - (alo.na - 4)
                AS BIGINT) AS span_excess_h2,
           round((ahi.hi_rank - alo.lo_rank + 1.0) / alo.np, 8)
               + 0.0 AS span_share_of_pool
    FROM alo, ahi
    """,
)
def moses_extreme_reactions(spark, sf_dir):
    """MOSES TEST OF EXTREME REACTIONS (h = 2): pool Fri/Sat and
    Sun-Thu order values, trim the 2 most extreme Fri/Sat
    observations from each end, and measure the pooled-rank SPAN of
    what remains — a dispersion test that reacts when the treatment
    group produces extremes in BOTH directions simultaneously
    (bimodal "extreme reactions"), the one alternative
    `ansari_bradley_scale` / `westenberg_iqr_test` are weakest
    against. The span excess over its theoretical minimum (n_a - 2h)
    is the test statistic.

    Determinism with ties: the trimmed endpoints are the exact 3rd-
    smallest / 3rd-largest Fri/Sat order statistics from the grid;
    the low rank places the endpoint BEFORE its ties (count of
    strictly-smaller pooled units + 1) and the high rank AFTER its
    ties (count of <= pooled units) — the outermost-tie convention,
    stated, and identical integer arithmetic in both engines. Plan:
    one value-grid cumulative (price-domain-bounded), two scalar
    folds."""
    o = t(spark, sf_dir, "orders")
    day = F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
    pts = o.select(
        F.when((day + 4) % 7 >= 5, 1).otherwise(0).alias("g"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v"),
    )
    grid = pts.groupBy("v").agg(
        F.sum("g").cast("bigint").alias("ca"),
        F.count(F.lit(1)).cast("bigint").alias("cp"),
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ew = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = grid.select(
        "v",
        F.sum("ca").over(w).cast("bigint").alias("cca"),
        F.coalesce(F.sum("cp").over(ew), F.lit(0))
        .cast("bigint")
        .alias("p_below"),
        F.sum("cp").over(w).cast("bigint").alias("p_le"),
        F.sum("ca").over(Window.partitionBy()).cast("bigint").alias(
            "na"
        ),
        F.sum("cp").over(Window.partitionBy()).cast("bigint").alias(
            "np"
        ),
    ).persist()
    alo = cum.where(F.col("cca") >= 3).agg(
        (F.min("p_below") + 1).cast("bigint").alias("lo_rank"),
        F.min("na").cast("bigint").alias("na"),
        F.min("np").cast("bigint").alias("np"),
    )
    ahi = cum.where(F.col("cca") >= F.col("na") - 2).agg(
        F.min("p_le").cast("bigint").alias("hi_rank")
    )
    j = alo.crossJoin(F.broadcast(ahi))
    span = F.col("hi_rank") - F.col("lo_rank") + 1
    return j.select(
        F.col("na").alias("n_fri_sat"),
        (F.col("np") - F.col("na")).alias("n_sun_thu"),
        F.col("lo_rank").alias("trimmed_low_rank"),
        F.col("hi_rank").alias("trimmed_high_rank"),
        span.cast("bigint").alias("moses_span_h2"),
        (F.col("na") - 4).cast("bigint").alias("minimal_span_h2"),
        (span - (F.col("na") - 4)).cast("bigint").alias(
            "span_excess_h2"
        ),
        (
            F.round(span.cast("double") / F.col("np"), 8) + 0.0
        ).alias("span_share_of_pool"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "gpd_shape_stability": (
            "value-grid cumulative + per-threshold exclusive "
            "cumulative (price-domain-bounded — the "
            "mean_excess_slope class)"
        ),
        "block_bootstrap_se": (
            "row_number over the calendar-day frame; replicate "
            "cross is a bounded 32-row broadcast"
        ),
        "berry_esseen_certificate": (
            "one cumulative over the pinned daily-mean grid "
            "(calendar-bounded) + 19-ordinate broadcast"
        ),
        "moses_extreme_reactions": (
            "inclusive+exclusive cumulatives over the cents value "
            "grid (price-domain-bounded — the ansari_bradley class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Restoration query (round 17, X797): Hodges-Lehmann pseudo-median of
# weekly revenue with the exact Walsh-average signed-rank CI — added
# under the full authoring gate to restore the bank to 49 after the
# mean_excess_slope promotion (the taylor_law_fluctuation /
# williams_dependent_corr precedent).
# --------------------------------------------------------------------------
@register(
    "hodges_lehmann_walsh_ci",
    oracle="""
    WITH weekly AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 // 7
                    AS BIGINT) AS w,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS v
        FROM orders GROUP BY 1
    ),
    base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM weekly),
    kf AS (
        SELECT n,
               n * (n + 1) // 2 AS m,
               (n * (n + 1) // 2 + 1) // 2 AS k1,
               (n * (n + 1) // 2 + 2) // 2 AS k2,
               GREATEST(CAST(1 AS BIGINT),
                   CAST(floor(n * (n + 1) / 4.0
                        - 1.96 * sqrt(n * (n + 1) * (2 * n + 1)
                                      / 24.0)) AS BIGINT)) AS klo
        FROM base
    ),
    pairs AS (
        SELECT a.v + b.v AS s FROM weekly a JOIN weekly b ON a.w <= b.w
    ),
    grid AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS c FROM pairs GROUP BY s
    ),
    cum AS (
        SELECT s, SUM(c) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) AS cc
        FROM grid
    ),
    pick AS (
        SELECT MAX(kf.n) AS n, MAX(kf.m) AS m,
               MIN(CASE WHEN cc >= kf.k1 THEN s END) AS s1,
               MIN(CASE WHEN cc >= kf.k2 THEN s END) AS s2,
               MIN(CASE WHEN cc >= kf.klo THEN s END) AS slo,
               MIN(CASE WHEN cc >= kf.m + 1 - kf.klo THEN s END) AS shi
        FROM cum, kf
    )
    SELECT n AS n_weeks, m AS m_walsh,
           round((s1 + s2) / 400.0, 6) + 0.0 AS hl_weekly_revenue,
           round(slo / 200.0, 6) + 0.0 AS hl_ci_lo,
           round(shi / 200.0, 6) + 0.0 AS hl_ci_hi
    FROM pick
    """,
)
def hodges_lehmann_walsh_ci(spark, sf_dir):
    """HODGES-LEHMANN pseudo-median of weekly revenue with the exact
    WALSH-AVERAGE signed-rank confidence interval: HL = median of the
    M = n(n+1)/2 pairwise averages (v_i + v_j)/2, i <= j — the
    estimator behind the Wilcoxon signed-rank test (ARE 0.955 vs the
    mean at the normal, 30% breakdown), and the distribution-free CI
    that comes from INVERTING that test: [W_(klo), W_(M+1-klo)] with
    klo = max(1, floor(M/2 - 1.96 sqrt(n(n+1)(2n+1)/24))) — an exact
    order-statistic certificate (no variance estimate, no normality),
    the location counterpart of the bank's DKW band and a robust
    companion to `shorth_lms_location`'s mode-seeking estimate. The
    division-free convention: both median order statistics
    ((M+1)//2, (M+2)//2) are picked and averaged, so even/odd M give
    identical semantics in both engines.

    Exactness: weekly revenues are exact BIGINT cents; Walsh SUMS
    v_i + v_j stay integer (the /2 happens once, at the final
    projection); the three order statistics come from one cumulative
    over the distinct-sum grid (min s with cum count >= k); klo is a
    floor of the same IEEE double expression in both engines. Plan:
    one week rollup, one bounded week-pair kernel (n <= calendar
    weeks, so M ~ 60k at ANY data volume), one value-grid cumulative,
    one conditional-pick fold."""
    o = t(spark, sf_dir, "orders")
    week = F.floor(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000) / 7
    ).cast("bigint")
    weekly = (
        o.groupBy(week.alias("w"))
        .agg(
            F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
            .cast("bigint")
            .alias("v")
        )
        .persist()
    )
    n = F.col("n")
    m = (n * (n + 1) / 2).cast("bigint")
    kf = weekly.agg(F.count(F.lit(1)).cast("bigint").alias("n")).select(
        "n",
        m.alias("m"),
        ((m + 1) / 2).cast("bigint").alias("k1"),
        ((m + 2) / 2).cast("bigint").alias("k2"),
        F.greatest(
            F.lit(1).cast("bigint"),
            F.floor(
                n * (n + 1) / 4.0
                - 1.96 * F.sqrt(n * (n + 1) * (2 * n + 1) / 24.0)
            ).cast("bigint"),
        ).alias("klo"),
    )
    a = weekly.select(F.col("w").alias("w1"), F.col("v").alias("v1"))
    b = weekly.select(F.col("w").alias("w2"), F.col("v").alias("v2"))
    pairs = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("w1") <= F.col("w2"))
        .select((F.col("v1") + F.col("v2")).alias("s"))
    )
    grid = pairs.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cum = grid.select(
        "s",
        F.sum("c")
        .over(
            Window.orderBy("s").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cc"),
    )
    pick = cum.crossJoin(F.broadcast(kf)).agg(
        F.max("n").alias("n"),
        F.max("m").alias("m"),
        F.min(F.when(F.col("cc") >= F.col("k1"), F.col("s"))).alias("s1"),
        F.min(F.when(F.col("cc") >= F.col("k2"), F.col("s"))).alias("s2"),
        F.min(F.when(F.col("cc") >= F.col("klo"), F.col("s"))).alias(
            "slo"
        ),
        F.min(
            F.when(
                F.col("cc") >= F.col("m") + 1 - F.col("klo"), F.col("s")
            )
        ).alias("shi"),
    )
    return pick.select(
        F.col("n").alias("n_weeks"),
        F.col("m").alias("m_walsh"),
        (F.round((F.col("s1") + F.col("s2")) / 400.0, 6) + 0.0).alias(
            "hl_weekly_revenue"
        ),
        (F.round(F.col("slo") / 200.0, 6) + 0.0).alias("hl_ci_lo"),
        (F.round(F.col("shi") / 200.0, 6) + 0.0).alias("hl_ci_hi"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "hodges_lehmann_walsh_ci": (
            "one cumulative over the Walsh-sum value grid (bounded: "
            "week-pair kernel is calendar^2, ~60k cells at any data "
            "volume — the mean_excess_slope / gini day-kernel class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Promoted at the round-18 flip: runs-up-and-down randomness test on
# daily revenue (moved from the round-19 bank as the 50th window slot —
# the mean_excess_slope / fisher_stouffer_combined precedent). The
# query uses common.py's DAILY_ORDER_CENTS_SQL/daily_order_cents frame,
# so the move carries no shared frame.
# --------------------------------------------------------------------------
@register(
    "updown_runs_test",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    sgn AS (
        SELECT day,
               CASE WHEN y > LAG(y) OVER (ORDER BY day) THEN 1
                    WHEN y < LAG(y) OVER (ORDER BY day) THEN -1
                    ELSE 0 END AS s
        FROM daily QUALIFY LAG(y) OVER (ORDER BY day) IS NOT NULL
    ),
    nz AS (
        SELECT day, s,
               LAG(s) OVER (ORDER BY day) AS prev
        FROM sgn WHERE s <> 0
    ),
    fold AS (
        SELECT CAST(COUNT(*) + 1 AS BIGINT) AS n,
               CAST(SUM(CASE WHEN prev IS NULL OR s <> prev
                             THEN 1 ELSE 0 END) AS BIGINT) AS runs
        FROM nz
    )
    SELECT n AS n_days_effective,
           runs AS n_monotone_runs,
           round((2.0 * n - 1.0) / 3.0, 6) + 0.0 AS expected_runs,
           round((runs - (2.0 * n - 1.0) / 3.0)
                 / sqrt((16.0 * n - 29.0) / 90.0), 6) + 0.0
               AS updown_runs_z
    FROM fold
    """,
)
def updown_runs_test(spark, sf_dir):
    """RUNS-UP-AND-DOWN test on daily revenue: count maximal monotone
    runs of the day-over-day sign sequence (ties dropped, the
    Wallis-Moore convention); under exchangeability E[R] = (2n-1)/3
    and Var = (16n-29)/90 — the second opinion to
    `runs_test_randomness` (above/below-median runs): median runs
    catch level clustering, monotone runs catch OSCILLATION
    (too-regular sawtooth reads z >> 0, momentum reads z << 0), and
    together with `turning_points_randomness` / `difference_sign_
    test` the randomness battery now covers all four classical
    forms.

    Exactness: signs and run boundaries are exact integer
    comparisons over the calendar-day frame; the moments are
    literal rationals of the exact effective n. Plan: one day
    rollup, two calendar-frame lags, one fold."""
    daily = daily_order_cents(spark, sf_dir)
    lagw = Window.orderBy("day")
    sgn = daily.select(
        "day",
        F.when(F.col("y") > F.lag("y").over(lagw), 1)
        .when(F.col("y") < F.lag("y").over(lagw), -1)
        .otherwise(0)
        .alias("s"),
        F.lag("y").over(lagw).alias("prev_y"),
    ).where(F.col("prev_y").isNotNull())
    nz = sgn.where(F.col("s") != 0).select(
        "s", F.lag("s").over(Window.orderBy("day")).alias("prev")
    )
    fold = nz.agg(
        (F.count(F.lit(1)) + 1).cast("bigint").alias("n"),
        F.sum(
            F.when(
                F.col("prev").isNull() | (F.col("s") != F.col("prev")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("runs"),
    )
    er = (2.0 * F.col("n") - 1.0) / 3.0
    return fold.select(
        F.col("n").alias("n_days_effective"),
        F.col("runs").alias("n_monotone_runs"),
        (F.round(er, 6) + 0.0).alias("expected_runs"),
        (
            F.round(
                (F.col("runs") - er)
                / F.sqrt((16.0 * F.col("n") - 29.0) / 90.0),
                6,
            )
            + 0.0
        ).alias("updown_runs_z"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "updown_runs_test": (
            "two lags over the calendar-day frame (the "
            "difference_sign class)"
        ),
    }
)
