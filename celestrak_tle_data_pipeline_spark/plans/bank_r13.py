"""Round-13 bank (X394+), LIVE since round 13: pre-staged during
round 12 under the same no-new-debt discipline every flipped bank
(next_window, bank_r11, bank_r12) went through: a stage-only decorator
pre-flip, the two-SF driver-gate mirror in ``tests/test_bank_r13.py``,
the sf0.1 sweep via ``tools/check.py --module bank_r13``, the
single-partition plan audit, and the Spark-schema-vs-DuckDB dtype-family
sweep (``tests/test_oracle_dtypes.py`` picks this module up by name) —
the r11 ``kendalls_w`` lesson says dtype families are part of the gate.

Seeded in round 12 with a risk/agreement/price-index/post-hoc batch and
completed to 49 there; the round-13 flip (bank_r12 protocol) fills the
50th window slot with ``split_conformal_interval``, promoted from the
round-14 seed (VERDICT r12 item 1).

Determinism disciplines inherited unchanged (see bank_r11/bank_r12
docstrings): exact integer/DECIMAL folds, round-before-fold for float
terms, ``+ 0.0`` on possibly-negative-zero outputs, total-order top-k,
bounded-domain windows only, explicit ``floor()`` before any
double→integer bucket (DuckDB CAST rounds where Spark truncates).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from . import register as _live_register
from .common import (
    DAILY_ORDER_CENTS_SQL,
    DECILE_LEVELS,
    daily_order_cents,
    dec,
    t,
)

BANK_QUERIES: dict = {}
BANK_ORACLES: dict = {}


def register(name: str, oracle: str | None = None):
    """Registers live via ``plans.register`` AND records the name in
    the bank dicts so ``tests/test_bank_r13.py`` keeps gate-mirroring
    the whole flipped set independently of the registry (the same flip
    protocol bank_r11/bank_r12 used)."""

    live = _live_register(name, oracle)

    def deco(fn):
        BANK_QUERIES[name] = fn
        if oracle is not None:
            BANK_ORACLES[name] = oracle
        return live(fn)

    return deco


# --------------------------------------------------------------------------
# Historical VaR / CVaR of daily revenue changes
# --------------------------------------------------------------------------
@register(
    "var_cvar_historical",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    chg AS (
        SELECT round((LAG(y) OVER (ORDER BY day) - y) / 100.0, 2)
                   AS loss
        FROM daily
        QUALIFY loss IS NOT NULL
    ),
    v AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               round(quantile_cont(loss, 0.95), 2) AS var95,
               round(quantile_cont(loss, 0.99), 2) AS var99
        FROM chg
    )
    SELECT v.n AS n_days,
           v.var95 + 0.0 AS var_95,
           v.var99 + 0.0 AS var_99,
           round(CAST(round(SUM(CASE WHEN c.loss >= v.var95
                                THEN CAST(c.loss AS DECIMAL(18,2))
                                END), 2) AS DOUBLE)
                 / COUNT(CASE WHEN c.loss >= v.var95 THEN 1 END), 2)
               + 0.0 AS cvar_95
    FROM chg c, v GROUP BY v.n, v.var95, v.var99
    """,
)
def var_cvar_historical(spark, sf_dir):
    """Historical 95/99% Value-at-Risk and 95% expected shortfall
    (CVaR) of day-over-day revenue DROPS: the loss distribution's
    empirical tail quantiles, and the mean loss beyond VaR95 — the
    coherent-risk-measure pair every treasury/risk dashboard carries,
    applied to the revenue series the registry's drawdown query views
    path-wise. Losses are exact integer-cent differences rounded to
    cents; quantiles are the engines' bit-compatible interpolated
    percentile; CVaR folds DECIMAL cents over the >=VaR tail (the >=
    compare is on rounded values, identical in both engines). Plan:
    one day rollup, one lag over the calendar frame, one percentile
    fold, one tail fold."""
    daily = daily_order_cents(spark, sf_dir)
    chg = daily.select(
        F.round(
            (F.lag("y").over(Window.orderBy("day")) - F.col("y"))
            / 100.0,
            2,
        ).alias("loss")
    ).where(F.col("loss").isNotNull()).persist()
    v = chg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.expr("percentile(loss, 0.95)"), 2).alias("var95"),
        F.round(F.expr("percentile(loss, 0.99)"), 2).alias("var99"),
    )
    tail = chg.crossJoin(F.broadcast(v)).where(
        F.col("loss") >= F.col("var95")
    )
    out = tail.groupBy("n", "var95", "var99").agg(
        F.round(
            F.round(
                F.sum(F.col("loss").cast("decimal(18,2)")), 2
            ).cast("double")
            / F.count(F.lit(1)),
            2,
        ).alias("cvar"),
    )
    return out.select(
        F.col("n").alias("n_days"),
        (F.col("var95") + 0.0).alias("var_95"),
        (F.col("var99") + 0.0).alias("var_99"),
        (F.col("cvar") + 0.0).alias("cvar_95"),
    )


# --------------------------------------------------------------------------
# Kupiec proportion-of-failures VaR backtest (split-sample)
# --------------------------------------------------------------------------
@register(
    "kupiec_pof_backtest",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    chg AS (
        SELECT day,
               round((LAG(y) OVER (ORDER BY day) - y) / 100.0, 2)
                   AS loss
        FROM daily
        QUALIFY loss IS NOT NULL
    ),
    split AS (
        SELECT CAST(floor(quantile_cont(day, 0.5)) AS BIGINT) AS mid FROM chg
    ),
    est AS (
        SELECT round(quantile_cont(loss, 0.95), 2) AS var95
        FROM chg, split WHERE day <= split.mid
    ),
    test AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN loss > est.var95
                        THEN 1 ELSE 0 END) AS BIGINT) AS x
        FROM chg, split, est WHERE day > split.mid
        GROUP BY est.var95
    )
    SELECT n AS n_test_days, x AS n_violations,
           round(x * 1.0 / n, 6) AS violation_rate,
           CASE WHEN x = 0 OR x = n THEN NULL
                ELSE round(-2.0 * ((n - x) * ln(0.95) + x * ln(0.05)
                           - ((n - x) * ln(1.0 - x * 1.0 / n)
                              + x * ln(x * 1.0 / n))), 6) + 0.0
           END AS kupiec_lr
    FROM test
    """,
)
def kupiec_pof_backtest(spark, sf_dir):
    """Kupiec proportion-of-failures backtest of the historical VaR95:
    estimate VaR on the first half of the loss series (by median day),
    count violations in the second half, and LR_pof = -2 ln of the
    binomial likelihood ratio against p = 5% — asymptotically chi2(1);
    the regulatory (Basel traffic-light) check that a VaR model's
    exception RATE matches its confidence level, out of sample. NULL
    when the test half has zero or all violations (the LR degenerates
    — same expression both engines). Losses and the split median are
    the var_cvar twin's exact constructions; the LR is one closed-form
    expression of two integers. Plan: day rollup, lag, two percentile
    folds, one test-half fold."""
    daily = daily_order_cents(spark, sf_dir)
    chg = daily.select(
        "day",
        F.round(
            (F.lag("y").over(Window.orderBy("day")) - F.col("y"))
            / 100.0,
            2,
        ).alias("loss"),
    ).where(F.col("loss").isNotNull()).persist()
    split = chg.agg(
        F.floor(F.expr("percentile(day, 0.5)")).cast("bigint").alias("mid")
    )
    est = (
        chg.crossJoin(F.broadcast(split))
        .where(F.col("day") <= F.col("mid"))
        .agg(F.round(F.expr("percentile(loss, 0.95)"), 2).alias("var95"))
    )
    test = (
        chg.crossJoin(F.broadcast(split))
        .crossJoin(F.broadcast(est))
        .where(F.col("day") > F.col("mid"))
        .groupBy("var95")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("loss") > F.col("var95"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("x"),
        )
    )
    n = F.col("n")
    x = F.col("x")
    rate = x * 1.0 / n
    lr = -2.0 * (
        (n - x) * F.log(F.lit(0.95))
        + x * F.log(F.lit(0.05))
        - ((n - x) * F.log(1.0 - rate) + x * F.log(rate))
    )
    return test.select(
        n.alias("n_test_days"),
        x.alias("n_violations"),
        F.round(rate, 6).alias("violation_rate"),
        F.when((x == 0) | (x == n), F.lit(None).cast("double"))
        .otherwise(F.round(lr, 6) + 0.0)
        .alias("kupiec_lr"),
    )


# --------------------------------------------------------------------------
# GBM drift / volatility fit of the daily revenue series
# --------------------------------------------------------------------------
@register(
    "gbm_drift_vol_fit",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    ret AS (
        SELECT round(ln(y * 1.0 / LAG(y) OVER (ORDER BY day)), 9) AS r
        FROM daily
        QUALIFY r IS NOT NULL
    ),
    f AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(r AS DECIMAL(28,9))) AS s1,
               SUM(CAST(round(r * r, 15) AS DECIMAL(28,15))) AS s2
        FROM ret
    )
    SELECT n AS n_returns,
           round(CAST(s1 AS DOUBLE) / n, 9) + 0.0 AS mu_daily,
           round(sqrt((CAST(s2 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                      / (n - 1.0)), 9) AS sigma_daily,
           round(CAST(s1 AS DOUBLE) / n * 252.0, 6) + 0.0
               AS mu_annualized,
           round(sqrt((CAST(s2 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                      / (n - 1.0)) * sqrt(252.0), 6) AS sigma_annualized
    FROM f
    """,
)
def gbm_drift_vol_fit(spark, sf_dir):
    """Geometric-Brownian-motion parameter fit of the daily revenue
    series: per-day log returns, their mean (drift) and sample
    standard deviation (volatility), annualized with the 252-day
    convention — the Black-Scholes-world summary of a business series,
    and the volatility input a revenue-hedging or anomaly-band model
    starts from. Log returns are single IEEE expressions on exact
    integer cents rounded at 1e-9; the moment folds are exact DECIMAL
    sums of those rounded returns; every output is one terminal
    expression. Plan: day rollup, one lag over the calendar frame,
    one fold."""
    daily = daily_order_cents(spark, sf_dir)
    ret = daily.select(
        F.round(
            F.log(
                F.col("y") * 1.0 / F.lag("y").over(Window.orderBy("day"))
            ),
            9,
        ).alias("r")
    ).where(F.col("r").isNotNull())
    f = ret.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("r").cast("decimal(28,9)")).alias("s1"),
        F.sum(
            F.round(F.col("r") * F.col("r"), 15).cast("decimal(28,15)")
        ).alias("s2"),
    )
    n = F.col("n")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    sigma = F.sqrt((s2 - s1 * s1 / n) / (n - 1.0))
    return f.select(
        n.alias("n_returns"),
        (F.round(s1 / n, 9) + 0.0).alias("mu_daily"),
        F.round(sigma, 9).alias("sigma_daily"),
        (F.round(s1 / n * 252.0, 6) + 0.0).alias("mu_annualized"),
        F.round(sigma * F.sqrt(F.lit(252.0)), 6).alias(
            "sigma_annualized"
        ),
    )


# --------------------------------------------------------------------------
# Dixon's Q test for the daily-revenue extremes
# --------------------------------------------------------------------------
@register(
    "dixon_q_extremes",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(y) AS BIGINT) AS x1,
               CAST(MAX(y) AS BIGINT) AS xn
        FROM daily
    ),
    x2 AS (
        SELECT CAST(MIN(y) AS BIGINT) AS v FROM daily, s
        WHERE y > s.x1
    ),
    xn1 AS (
        SELECT CAST(MAX(y) AS BIGINT) AS v FROM daily, s
        WHERE y < s.xn
    )
    SELECT s.n AS n_days,
           round(s.x1 / 100.0, 2) AS min_revenue,
           round(s.xn / 100.0, 2) AS max_revenue,
           round((x2.v - s.x1) * 1.0 / (s.xn - s.x1), 9) + 0.0
               AS q_low,
           round((s.xn - xn1.v) * 1.0 / (s.xn - s.x1), 9) + 0.0
               AS q_high
    FROM s, x2, xn1
    """,
)
def dixon_q_extremes(spark, sf_dir):
    """Dixon's Q statistics for the daily-revenue extremes: Q_low =
    (x(2)-x(1))/(x(n)-x(1)) and Q_high = (x(n)-x(n-1))/(x(n)-x(1)) —
    the gap each extreme opens relative to the full range, the
    small-sample outlier screen (vs the registry's Grubbs, which
    assumes normality and uses the variance). Order statistics are
    exact integer cents via MIN/MAX and strict-inequality re-folds
    (the second-smallest is min over y > min — tie-safe by
    construction); each Q is one terminal division. Plan: one day
    rollup, three scalar folds."""
    daily = daily_order_cents(spark, sf_dir).persist()
    s = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("y").cast("bigint").alias("x1"),
        F.max("y").cast("bigint").alias("xn"),
    )
    x2 = (
        daily.crossJoin(F.broadcast(s))
        .where(F.col("y") > F.col("x1"))
        .agg(F.min("y").cast("bigint").alias("v2"))
    )
    xn1 = (
        daily.crossJoin(F.broadcast(s))
        .where(F.col("y") < F.col("xn"))
        .agg(F.max("y").cast("bigint").alias("vn1"))
    )
    return (
        s.crossJoin(F.broadcast(x2))
        .crossJoin(F.broadcast(xn1))
        .select(
            F.col("n").alias("n_days"),
            F.round(F.col("x1") / 100.0, 2).alias("min_revenue"),
            F.round(F.col("xn") / 100.0, 2).alias("max_revenue"),
            (
                F.round(
                    (F.col("v2") - F.col("x1"))
                    * 1.0
                    / (F.col("xn") - F.col("x1")),
                    9,
                )
                + 0.0
            ).alias("q_low"),
            (
                F.round(
                    (F.col("xn") - F.col("vn1"))
                    * 1.0
                    / (F.col("xn") - F.col("x1")),
                    9,
                )
                + 0.0
            ).alias("q_high"),
        )
    )


# --------------------------------------------------------------------------
# Cochran's C test for variance homogeneity across event types
# --------------------------------------------------------------------------
@register(
    "cochran_c_variance",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS nd,
               CAST(SUM(c) AS BIGINT) AS s1,
               CAST(SUM(c * c) AS BIGINT) AS s2
        FROM daily GROUP BY event_type
    ),
    v AS (
        SELECT event_type,
               round((s2 - s1 * 1.0 * s1 / nd) / (nd - 1.0), 9) AS s2v
        FROM g WHERE nd > 1
    ),
    tot AS (
        SELECT CAST(round(SUM(CAST(round(s2v, 9) AS DECIMAL(28,9))), 9)
                    AS DOUBLE) AS vs
        FROM v
    )
    SELECT event_type,
           s2v + 0.0 AS daily_count_variance,
           round(s2v / tot.vs, 6) + 0.0 AS c_share
    FROM v, tot ORDER BY event_type
    """,
)
def cochran_c_variance(spark, sf_dir):
    """Cochran's C decomposition for variance homogeneity across the
    five event types' DAILY COUNT series: each type's variance as a
    share of the summed variances — C = max share, with 1/k the
    equal-variance reference. The max-focused member of the
    variance-homogeneity family (Bartlett is omnibus-likelihood,
    Levene/Brown-Forsythe robust-location — both in the registry);
    Cochran's is the one an SPC practitioner uses to ask "is ONE
    stream driving the instability". Variances come from exact
    integer power sums, rounded at 1e-9; shares divide by a DECIMAL
    fold of the rounded variances. Plan: (type, day) rollup, 5-row
    fold, scalar-sum broadcast."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    g = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    v = g.where(F.col("nd") > 1).select(
        "event_type",
        F.round(
            (
                F.col("s2")
                - F.col("s1") * 1.0 * F.col("s1") / F.col("nd")
            )
            / (F.col("nd") - 1.0),
            9,
        ).alias("s2v"),
    ).persist()
    tot = v.agg(
        F.round(
            F.sum(F.round(F.col("s2v"), 9).cast("decimal(28,9)")), 9
        )
        .cast("double")
        .alias("vs")
    )
    return (
        v.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            (F.col("s2v") + 0.0).alias("daily_count_variance"),
            (F.round(F.col("s2v") / F.col("vs"), 6) + 0.0).alias(
                "c_share"
            ),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Page-Hinkley drift statistic on the daily revenue series
# --------------------------------------------------------------------------
@register(
    "page_hinkley_drift",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    xbar AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s
        FROM daily
    ),
    m AS (
        SELECT day,
               SUM(CAST(y AS DECIMAL(38,9))
                   - CAST(round(x.s * 1.0 / x.n, 9) AS DECIMAL(38,9)))
                   OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS mt
        FROM daily, xbar x
    ),
    ph AS (
        SELECT day, mt,
               MIN(mt) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                   AS mmin
        FROM m
    )
    SELECT (SELECT n FROM xbar) AS n_days,
           round(CAST(MAX(mt - mmin) AS DOUBLE) / 100.0, 2)
               AS ph_statistic,
           CAST(MIN(CASE WHEN mt - mmin = (SELECT MAX(mt - mmin) FROM ph)
                    THEN day END) AS BIGINT) AS argmax_day
    FROM ph
    """,
)
def page_hinkley_drift(spark, sf_dir):
    """Page-Hinkley drift statistic on daily revenue: cumulative
    deviations from the global mean, PH = max_t (m_t - min_{s<=t} m_s)
    with the day attaining it — the sequential change detector
    streaming ML systems run beside CUSUM (the registry's
    cusum_changepoint_scan tests a single changepoint; Page-Hinkley is
    the monitor form whose excursion height IS the alarm statistic).
    The mean is pinned at 1e-9 and the cumulative sums are exact
    DECIMAL arithmetic over the calendar frame, so the argmax day is
    tie-broken by MIN(day) identically in both engines. Plan: day
    rollup, two cumulative windows over the bounded day frame, one
    fold."""
    daily = daily_order_cents(spark, sf_dir)
    xbar = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
    )
    wo = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    m = daily.crossJoin(F.broadcast(xbar)).select(
        "day",
        "n",
        F.sum(
            F.col("y").cast("decimal(38,9)")
            - F.round(F.col("s") * 1.0 / F.col("n"), 9).cast(
                "decimal(38,9)"
            )
        )
        .over(wo)
        .alias("mt"),
    )
    ph = m.select(
        "day",
        "n",
        (F.col("mt") - F.min("mt").over(wo)).alias("exc"),
    )
    mx = ph.agg(F.max("exc").alias("mexc"))
    arg = (
        ph.crossJoin(F.broadcast(mx))
        .where(F.col("exc") == F.col("mexc"))
        .agg(
            F.max("n").cast("bigint").alias("n_days"),
            F.min("day").cast("bigint").alias("argmax_day"),
        )
    )
    return arg.crossJoin(F.broadcast(mx)).select(
        "n_days",
        F.round(F.col("mexc").cast("double") / 100.0, 2).alias(
            "ph_statistic"
        ),
        "argmax_day",
    )


# --------------------------------------------------------------------------
# Integrated autocorrelation time of the daily revenue series
# --------------------------------------------------------------------------
@register(
    "integrated_autocorr_time",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s
        FROM daily
    ),
    d AS (
        SELECT day,
               round(y - m.s * 1.0 / m.n, 6) AS e
        FROM daily, m
    ),
    lagged AS (
        SELECT e,
               LAG(e, 1) OVER (ORDER BY day) AS e1,
               LAG(e, 2) OVER (ORDER BY day) AS e2,
               LAG(e, 3) OVER (ORDER BY day) AS e3,
               LAG(e, 4) OVER (ORDER BY day) AS e4,
               LAG(e, 5) OVER (ORDER BY day) AS e5
        FROM d
    ),
    g AS (
        SELECT
          CAST(round(SUM(CAST(round(e * e / 1.0e6, 9)
              AS DECIMAL(38,9))), 9) AS DOUBLE) AS g0,
          CAST(round(SUM(CAST(round(e * e1 / 1.0e6, 9)
              AS DECIMAL(38,9))), 9) AS DOUBLE) AS g1,
          CAST(round(SUM(CAST(round(e * e2 / 1.0e6, 9)
              AS DECIMAL(38,9))), 9) AS DOUBLE) AS g2,
          CAST(round(SUM(CAST(round(e * e3 / 1.0e6, 9)
              AS DECIMAL(38,9))), 9) AS DOUBLE) AS g3,
          CAST(round(SUM(CAST(round(e * e4 / 1.0e6, 9)
              AS DECIMAL(38,9))), 9) AS DOUBLE) AS g4,
          CAST(round(SUM(CAST(round(e * e5 / 1.0e6, 9)
              AS DECIMAL(38,9))), 9) AS DOUBLE) AS g5
        FROM lagged
    )
    SELECT (SELECT n FROM m) AS n_days,
           round(g1 / g0, 6) + 0.0 AS rho_1,
           round(g2 / g0, 6) + 0.0 AS rho_2,
           round(g3 / g0, 6) + 0.0 AS rho_3,
           round(g4 / g0, 6) + 0.0 AS rho_4,
           round(g5 / g0, 6) + 0.0 AS rho_5,
           round(1.0 + 2.0 * (g1 / g0 + g2 / g0 + g3 / g0
                              + g4 / g0 + g5 / g0), 6) + 0.0
               AS tau_integrated
    FROM g
    """,
)
def integrated_autocorr_time(spark, sf_dir):
    """Integrated autocorrelation time tau = 1 + 2*sum rho_k (k <= 5)
    of the daily revenue series, with the first five autocorrelations:
    the effective-sample-size deflator (n_eff = n / tau) that says how
    much the day-to-day dependence the registry's Durbin-Watson / ACF
    queries DETECT actually costs in estimator precision — the number
    an A/B power calculation on daily metrics must divide by.
    Deviations from the pinned (1e-6-rounded) mean fold as rounded
    lag products in DECIMAL (scaled by 1e6 cents^2 to keep the folds
    in range); each rho is one division of those folds. Plan: day
    rollup, one 5-lag window over the calendar frame, one fold."""
    daily = daily_order_cents(spark, sf_dir)
    m = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
    )
    d = daily.crossJoin(F.broadcast(m)).select(
        "day",
        "n",
        F.round(F.col("y") - F.col("s") * 1.0 / F.col("n"), 6).alias(
            "e"
        ),
    )
    wo = Window.orderBy("day")
    lagged = d.select(
        "n",
        "e",
        *[F.lag("e", i).over(wo).alias(f"e{i}") for i in range(1, 6)],
    )
    def fold(col):
        return (
            F.round(
                F.sum(
                    F.round(F.col("e") * col / 1.0e6, 9).cast(
                        "decimal(38,9)"
                    )
                ),
                9,
            )
            .cast("double")
        )
    g = lagged.agg(
        F.max("n").alias("n"),
        fold(F.col("e")).alias("g0"),
        *[fold(F.col(f"e{i}")).alias(f"g{i}") for i in range(1, 6)],
    )
    rhos = [F.col(f"g{i}") / F.col("g0") for i in range(1, 6)]
    return g.select(
        F.col("n").alias("n_days"),
        *[
            (F.round(r, 6) + 0.0).alias(f"rho_{i}")
            for i, r in enumerate(rhos, 1)
        ],
        (
            F.round(
                1.0
                + 2.0
                * (rhos[0] + rhos[1] + rhos[2] + rhos[3] + rhos[4]),
                6,
            )
            + 0.0
        ).alias("tau_integrated"),
    )


# --------------------------------------------------------------------------
# Gwet's AC1 agreement coefficient over the day x type busy grid
# --------------------------------------------------------------------------
@register(
    "gwet_ac1_agreement",
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
    unit AS (
        SELECT g.day,
               CAST(SUM(CASE WHEN g.c * t.nd > t.s
                        THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN g.c * t.nd > t.s
                        THEN 0 ELSE 1 END) AS BIGINT) AS n0
        FROM grid g JOIN tym t ON g.event_type = t.event_type
        GROUP BY g.day
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS u,
               CAST(SUM(n1) AS BIGINT) AS t1,
               CAST(SUM(n0 + n1) AS BIGINT) AS n,
               CAST(SUM(n1 * (n1 - 1) + n0 * (n0 - 1)) AS BIGINT)
                   AS agree
        FROM unit
    )
    SELECT u AS n_units,
           round(agree / (u * 20.0), 9) AS pa,
           round((agree / (u * 20.0)
                  - 2.0 * (t1 * 1.0 / n) * (1.0 - t1 * 1.0 / n))
                 / (1.0 - 2.0 * (t1 * 1.0 / n)
                          * (1.0 - t1 * 1.0 / n)), 6) + 0.0
               AS gwet_ac1
    FROM s
    """,
)
def gwet_ac1_agreement(spark, sf_dir):
    """Gwet's AC1 agreement coefficient on the binary day x type busy
    grid (the krippendorff_alpha_binary construction, m = 5 coders per
    unit): Pa = mean within-unit pairwise agreement, and AC1's chance
    correction Pe = 2*pi*(1-pi) — designed to avoid the kappa paradox
    (kappa collapsing when the busy/quiet marginal is skewed, exactly
    when agreement is easiest). Alongside the registry's Fleiss kappa
    and the bank's Krippendorff alpha this completes the
    chance-corrected-agreement triad whose DISAGREEMENT is itself the
    diagnostic (all three close: trust any; AC1 >> kappa: marginal
    skew, not rater quality). Agreement pair counts are exact integers
    (n1(n1-1) + n0(n0-1) over 20 ordered pairs per unit); Pa and AC1
    are terminal expressions. Plan: one (day, type) rollup, domain
    grid fill, two bounded folds."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("day"),
        "event_type",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c")).persist()
    grid = (
        daily.select("day")
        .distinct()
        .crossJoin(F.broadcast(daily.select("event_type").distinct()))
        .join(daily, ["day", "event_type"], "left")
        .select(
            "day",
            "event_type",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    tym = daily.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("s")
    )
    nd = daily.select("day").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("nd")
    )
    busy = (
        grid.join(F.broadcast(tym), "event_type")
        .crossJoin(F.broadcast(nd))
        .select(
            "day",
            F.when(F.col("c") * F.col("nd") > F.col("s"), 1)
            .otherwise(0)
            .alias("v"),
        )
    )
    unit = busy.groupBy("day").agg(
        F.sum("v").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("v")).cast("bigint").alias("n0"),
    )
    s = unit.agg(
        F.count(F.lit(1)).cast("bigint").alias("u"),
        F.sum("n1").cast("bigint").alias("t1"),
        F.sum(F.col("n0") + F.col("n1")).cast("bigint").alias("n"),
        F.sum(
            F.col("n1") * (F.col("n1") - 1)
            + F.col("n0") * (F.col("n0") - 1)
        )
        .cast("bigint")
        .alias("agree"),
    )
    pa = F.col("agree") / (F.col("u") * 20.0)
    pi = F.col("t1") * 1.0 / F.col("n")
    pe = 2.0 * pi * (1.0 - pi)
    return s.select(
        F.col("u").alias("n_units"),
        F.round(pa, 9).alias("pa"),
        (F.round((pa - pe) / (1.0 - pe), 6) + 0.0).alias("gwet_ac1"),
    )


# --------------------------------------------------------------------------
# Goh-Barabasi burstiness + memory coefficient per event type
# --------------------------------------------------------------------------
@register(
    "burstiness_memory_panel",
    oracle="""
    WITH gaps AS (
        SELECT event_type, user_id, ts, event_id,
               epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                   PARTITION BY event_type, user_id
                   ORDER BY ts, event_id) AS gap
        FROM events
    ),
    seq AS (
        SELECT event_type, gap,
               LAG(gap) OVER (
                   PARTITION BY event_type, user_id
                   ORDER BY ts, event_id) AS prev_gap
        FROM gaps
    ),
    g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(gap) AS BIGINT) AS s1,
               CAST(SUM(CAST(gap AS DECIMAL(38,0)) * gap)
                    AS DECIMAL(38,0)) AS s2
        FROM seq WHERE gap IS NOT NULL GROUP BY event_type
    ),
    p AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS np,
               CAST(SUM(gap) AS BIGINT) AS sx,
               CAST(SUM(prev_gap) AS BIGINT) AS sy,
               CAST(SUM(CAST(gap AS DECIMAL(38,0)) * prev_gap)
                    AS DECIMAL(38,0)) AS sxy,
               CAST(SUM(CAST(gap AS DECIMAL(38,0)) * gap)
                    AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(prev_gap AS DECIMAL(38,0)) * prev_gap)
                    AS DECIMAL(38,0)) AS syy
        FROM seq WHERE gap IS NOT NULL AND prev_gap IS NOT NULL
        GROUP BY event_type
    )
    SELECT g.event_type,
           g.n AS n_gaps,
           round((sqrt((CAST(g.s2 AS DOUBLE)
                        - CAST(g.s1 AS DOUBLE) * g.s1 / g.n) / g.n)
                  - g.s1 * 1.0 / g.n)
                 / (sqrt((CAST(g.s2 AS DOUBLE)
                          - CAST(g.s1 AS DOUBLE) * g.s1 / g.n) / g.n)
                    + g.s1 * 1.0 / g.n), 6) + 0.0 AS burstiness_b,
           round((p.np * CAST(p.sxy AS DOUBLE)
                  - CAST(p.sx AS DOUBLE) * p.sy)
                 / (sqrt(p.np * CAST(p.sxx AS DOUBLE)
                         - CAST(p.sx AS DOUBLE) * p.sx)
                    * sqrt(p.np * CAST(p.syy AS DOUBLE)
                           - CAST(p.sy AS DOUBLE) * p.sy)), 6) + 0.0
               AS memory_m
    FROM g JOIN p ON g.event_type = p.event_type
    ORDER BY g.event_type
    """,
)
def burstiness_memory_panel(spark, sf_dir):
    """Goh-Barabasi burstiness B = (sigma - mu)/(sigma + mu) and memory
    coefficient M (lag-1 Pearson of consecutive gaps) per event type,
    over per-user inter-event times: the (B, M) plane is THE standard
    classification of point-process character — Poisson sits at (0, 0),
    human activity at B > 0 (heavy-tailed gaps), periodic heartbeats
    at B < 0 — and it decides whether rate-based capacity models
    (poisson_rate_ratio, exp_rate_lr) are even admissible. Gaps are
    exact integer microseconds; all five moment folds are exact
    (gap^2 sums ride DECIMAL(38,0)); B and M are terminal expressions
    with population-sigma and Pearson conventions documented. Plan:
    two stacked lags in one user-partitioned window pass, two 5-row
    rollups, one bounded join."""
    e = t(spark, sf_dir, "events")
    wu = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id"
    )
    us = F.unix_micros(F.col("ts"))
    gaps = e.select(
        "event_type",
        "user_id",
        "ts",
        "event_id",
        (us - F.lag(us).over(wu)).alias("gap"),
    )
    seq = gaps.select(
        "event_type",
        "gap",
        F.lag("gap").over(wu).alias("prev_gap"),
    ).persist()
    g = seq.where(F.col("gap").isNotNull()).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("gap").cast("bigint").alias("s1"),
        F.sum(F.col("gap").cast("decimal(38,0)") * F.col("gap"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    p = (
        seq.where(
            F.col("gap").isNotNull() & F.col("prev_gap").isNotNull()
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("np"),
            F.sum("gap").cast("bigint").alias("sx"),
            F.sum("prev_gap").cast("bigint").alias("sy"),
            F.sum(
                F.col("gap").cast("decimal(38,0)") * F.col("prev_gap")
            )
            .cast("decimal(38,0)")
            .alias("sxy"),
            F.sum(F.col("gap").cast("decimal(38,0)") * F.col("gap"))
            .cast("decimal(38,0)")
            .alias("sxx"),
            F.sum(
                F.col("prev_gap").cast("decimal(38,0)")
                * F.col("prev_gap")
            )
            .cast("decimal(38,0)")
            .alias("syy"),
        )
    )
    sigma = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / F.col("n")
        )
        / F.col("n")
    )
    mu = F.col("s1") * 1.0 / F.col("n")
    mem = (
        F.col("np") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy")
    ) / (
        F.sqrt(
            F.col("np") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx")
        )
        * F.sqrt(
            F.col("np") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy")
        )
    )
    return (
        g.join(p, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_gaps"),
            (
                F.round((sigma - mu) / (sigma + mu), 6) + 0.0
            ).alias("burstiness_b"),
            (F.round(mem, 6) + 0.0).alias("memory_m"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Expected / maximum calibration error from the document score bins
# --------------------------------------------------------------------------
@register(
    "ece_mce_calibration",
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
    f AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
               CAST(SUM(n) AS BIGINT) AS nd,
               CAST(SUM(abs(s - 600 * o)) AS BIGINT) AS gapsum,
               MAX(round(abs(s - 600 * o) * 1.0 / (600 * n), 9))
                   AS mce
        FROM g
    )
    SELECT n_bins, nd AS n_docs,
           round(gapsum * 1.0 / (600 * nd), 9) AS ece,
           mce + 0.0 AS mce
    FROM f
    """,
)
def ece_mce_calibration(spark, sf_dir):
    """Expected and maximum calibration error of the document quality
    score (same bins and pseudo-model as score_calibration_bins /
    hosmer_lemeshow_calibration): ECE = sum_b (n_b/N)|conf_b - acc_b|,
    MCE = max_b — the two numbers a model card reports where the
    reliability diagram shows the curve and HL tests it. With score =
    n_chars/600, the per-bin gap reduces EXACTLY: (n_b/N)|conf-acc| =
    |S_b - 600 O_b| / (600 N), so ECE is one integer fold divided
    once, and MCE is a max of per-bin rationals rounded at 1e-9 —
    zero float accumulation anywhere. Plan: one 10-bin hash rollup,
    one fold."""
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
    gap = F.abs(F.col("s") - 600 * F.col("o"))
    f = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum("n").cast("bigint").alias("nd"),
        F.sum(gap).cast("bigint").alias("gapsum"),
        F.max(
            F.round(gap * 1.0 / (600 * F.col("n")), 9)
        ).alias("mce"),
    )
    return f.select(
        "n_bins",
        F.col("nd").alias("n_docs"),
        F.round(
            F.col("gapsum") * 1.0 / (600 * F.col("nd")), 9
        ).alias("ece"),
        (F.col("mce") + 0.0).alias("mce"),
    )


# --------------------------------------------------------------------------
# Cohen's q: weekend vs weekday daily count-value correlation gap
# --------------------------------------------------------------------------
@register(
    "cohens_q_correlations",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CASE WHEN (epoch_us(ts) // 86400000000 + 4) % 7 >= 5
                    THEN 1 ELSE 0 END AS we,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    g AS (
        SELECT we, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(CAST(y AS DECIMAL(38,0)) * y)
                    AS DECIMAL(38,0)) AS syy
        FROM daily GROUP BY we
    ),
    r AS (
        SELECT we, n,
               round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                     / (sqrt(n * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * sx)
                        * sqrt(n * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * sy)), 9) AS rr
        FROM g
    )
    SELECT MAX(CASE WHEN we = 1 THEN n END) AS n_weekend_days,
           MAX(CASE WHEN we = 0 THEN n END) AS n_weekday_days,
           MAX(CASE WHEN we = 1 THEN rr END) + 0.0 AS r_weekend,
           MAX(CASE WHEN we = 0 THEN rr END) + 0.0 AS r_weekday,
           round(0.5 * ln((1.0 + MAX(CASE WHEN we = 1 THEN rr END))
                          / (1.0 - MAX(CASE WHEN we = 1 THEN rr END)))
                 - 0.5 * ln((1.0 + MAX(CASE WHEN we = 0 THEN rr END))
                            / (1.0 - MAX(CASE WHEN we = 0 THEN rr END))),
                 6) + 0.0 AS cohens_q
    FROM r
    """,
)
def cohens_q_correlations(spark, sf_dir):
    """Cohen's q — the effect size for COMPARING two correlations:
    Fisher-z-transform the weekend and weekday daily count-value
    Pearson correlations and difference them (q ~ 0.1/0.3/0.5 small/
    medium/large). Answers "does volume couple to revenue differently
    on weekends" in a metric that is variance-stabilized, where a raw
    r gap is not comparable across base levels. Correlations come from
    exact integer power sums (y^2 rides DECIMAL(38,0)) rounded at
    1e-9; atanh is expressed as 0.5*ln((1+r)/(1-r)) — ln only, the
    engine's safe transcendental set. Plan: one day rollup, one 2-row
    moment fold, one pivot fold."""
    e = t(spark, sf_dir, "events")
    day = F.floor(F.unix_micros("ts") / 86_400_000_000).cast("bigint")
    daily = e.groupBy(
        day.alias("day"),
        F.when((day + 4) % 7 >= 5, 1).otherwise(0).alias("we"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        F.sum((dec("value", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("y"),
    )
    g = daily.groupBy("we").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    n = F.col("n")
    rr = F.round(
        (n * F.col("sxy").cast("double") - F.col("sx").cast("double")
         * F.col("sy"))
        / (
            F.sqrt(
                n * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx")
            )
            * F.sqrt(
                n * F.col("syy").cast("double")
                - F.col("sy").cast("double") * F.col("sy")
            )
        ),
        9,
    )
    r = g.select("we", "n", rr.alias("rr"))
    agg = r.agg(
        F.max(F.when(F.col("we") == 1, F.col("n"))).alias(
            "n_weekend_days"
        ),
        F.max(F.when(F.col("we") == 0, F.col("n"))).alias(
            "n_weekday_days"
        ),
        F.max(F.when(F.col("we") == 1, F.col("rr"))).alias("r1"),
        F.max(F.when(F.col("we") == 0, F.col("rr"))).alias("r0"),
    )
    def fisher_z(c):
        return 0.5 * F.log((1.0 + c) / (1.0 - c))
    return agg.select(
        "n_weekend_days",
        "n_weekday_days",
        (F.col("r1") + 0.0).alias("r_weekend"),
        (F.col("r0") + 0.0).alias("r_weekday"),
        (
            F.round(
                fisher_z(F.col("r1")) - fisher_z(F.col("r0")), 6
            )
            + 0.0
        ).alias("cohens_q"),
    )


# --------------------------------------------------------------------------
# Gini inequality of the co-purchase degree distribution
# --------------------------------------------------------------------------
@register(
    "degree_gini_inequality",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
        SELECT pk, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT p1 AS pk FROM edges
              UNION ALL SELECT p2 FROM edges)
        GROUP BY pk
    ),
    dist AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS c FROM deg GROUP BY d
    ),
    tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(d * c) AS BIGINT) AS s
        FROM dist
    ),
    pairs AS (
        SELECT CAST(SUM(a.c * b.c * (b.d - a.d)) AS BIGINT) AS absdiff
        FROM dist a JOIN dist b ON a.d < b.d
    )
    SELECT tot.n AS n_nodes,
           round(tot.s * 1.0 / tot.n, 6) AS mean_degree,
           round(2.0 * pairs.absdiff
                 / (2.0 * tot.n * tot.s), 6) + 0.0 AS degree_gini
    FROM tot, pairs
    """,
)
def degree_gini_inequality(spark, sf_dir):
    """Gini coefficient of the co-purchase graph's degree distribution:
    how concentrated product connectivity is (0 = every part equally
    connected, ->1 = a few hub products hold all the affinity). The
    graph-structural complement of the registry's revenue Gini /
    power-law tiers — and the number that predicts whether hub-salting
    is needed before any per-neighbor fan-out at scale. Uses the
    grouped pairwise identity sum|di-dj| = 2*sum_{d<e} c_d c_e (e-d)
    over the DISTINCT-DEGREE grid (bounded by the degree support, not
    the node count), so everything is exact integer arithmetic with
    one terminal division. Plan: order-blocked edge build, degree
    rollup, distinct-degree rollup, bounded triangular join."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("p2"))
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("p1") < F.col("p2"))
        .select("p1", "p2")
        .distinct()
    )
    deg = (
        edges.select(F.col("p1").alias("pk"))
        .unionAll(edges.select(F.col("p2").alias("pk")))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    dist = deg.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).persist()
    tot = dist.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("d") * F.col("c")).cast("bigint").alias("s"),
    )
    db = dist.select(
        F.col("d").alias("d2"), F.col("c").alias("c2")
    )
    pairs = (
        dist.join(F.broadcast(db), F.col("d") < F.col("d2"))
        .agg(
            F.sum(
                F.col("c") * F.col("c2") * (F.col("d2") - F.col("d"))
            )
            .cast("bigint")
            .alias("absdiff")
        )
    )
    return tot.crossJoin(F.broadcast(pairs)).select(
        F.col("n").alias("n_nodes"),
        F.round(F.col("s") * 1.0 / F.col("n"), 6).alias("mean_degree"),
        (
            F.round(
                2.0 * F.col("absdiff") / (2.0 * F.col("n") * F.col("s")),
                6,
            )
            + 0.0
        ).alias("degree_gini"),
    )


# --------------------------------------------------------------------------
# Benford second-digit MAD conformity of order totals
# --------------------------------------------------------------------------
@register(
    "benford_second_digit_mad",
    oracle="""
    WITH cents AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS x
        FROM orders
    ),
    d2 AS (
        SELECT CAST(substr(CAST(x AS VARCHAR), 2, 1) AS BIGINT) AS dig
        FROM cents WHERE x >= 10
    ),
    obs AS (
        SELECT dig, CAST(COUNT(*) AS BIGINT) AS c FROM d2 GROUP BY dig
    ),
    grid AS (
        SELECT g.dig, COALESCE(o.c, 0) AS c,
               CASE g.dig
                 WHEN 0 THEN 0.119679269 WHEN 1 THEN 0.113890103
                 WHEN 2 THEN 0.108821499 WHEN 3 THEN 0.10432956
                 WHEN 4 THEN 0.100308202 WHEN 5 THEN 0.096677236
                 WHEN 6 THEN 0.093374736 WHEN 7 THEN 0.090351989
                 WHEN 8 THEN 0.087570054 ELSE 0.084997352 END AS p
        FROM (SELECT UNNEST(range(10)) AS dig) g
        LEFT JOIN obs o ON o.dig = g.dig
    ),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM grid)
    SELECT n.n AS n_values,
           round(CAST(round(SUM(CAST(round(
                 abs(g.c * 1.0 / n.n - g.p), 12) AS DECIMAL(20,12))),
                 12) AS DOUBLE) / 10.0, 9) AS mad,
           CASE
             WHEN CAST(round(SUM(CAST(round(abs(g.c * 1.0 / n.n - g.p),
                  12) AS DECIMAL(20,12))), 12) AS DOUBLE) / 10.0
                  < 0.008 THEN 'close'
             WHEN CAST(round(SUM(CAST(round(abs(g.c * 1.0 / n.n - g.p),
                  12) AS DECIMAL(20,12))), 12) AS DOUBLE) / 10.0
                  < 0.01 THEN 'acceptable'
             WHEN CAST(round(SUM(CAST(round(abs(g.c * 1.0 / n.n - g.p),
                  12) AS DECIMAL(20,12))), 12) AS DOUBLE) / 10.0
                  < 0.012 THEN 'marginal'
             ELSE 'nonconforming' END AS nigrini_verdict
    FROM grid g, n GROUP BY n.n
    """,
)
def benford_second_digit_mad(spark, sf_dir):
    """Benford SECOND-digit MAD conformity of order totals (in exact
    cents): observed second-significant-digit shares against the
    Benford-2 expectation p_d = sum_k log10(1 + 1/(10k+d)) (embedded
    as literal constants so no cross-engine log10), summarized by
    Nigrini's mean-absolute-deviation with his published conformity
    bands. The second digit is THE forensic-accounting screen for
    psychological pricing and invented numbers (first digits pass
    while second digits pile on 0/5) — complementing the registry's
    first-digit chi2. Digits come from the integer's STRING form
    (both engines render BIGINT identically — no float log10
    boundary); per-digit gaps round at 1e-12 and fold in DECIMAL over
    the 10-row digit domain. Plan: one scan projection, one 10-row
    rollup, domain-grid fill, one fold."""
    o = t(spark, sf_dir, "orders")
    cents = o.select(
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("x")
    )
    d2 = cents.where(F.col("x") >= 10).select(
        F.expr("CAST(substr(CAST(x AS STRING), 2, 1) AS BIGINT)").alias(
            "dig"
        )
    )
    obs = d2.groupBy("dig").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    probs = [
        0.119679269, 0.113890103, 0.108821499, 0.10432956,
        0.100308202, 0.096677236, 0.093374736, 0.090351989,
        0.087570054, 0.084997352,
    ]
    p_expr = F.element_at(
        F.array(*[F.lit(p) for p in probs]), F.col("dig").cast("int") + 1
    )
    grid = (
        spark.range(10)
        .select(F.col("id").cast("bigint").alias("dig"))
        .join(F.broadcast(obs), "dig", "left")
        .select(
            "dig",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
            p_expr.alias("p"),
        )
    )
    n = grid.agg(F.sum("c").cast("bigint").alias("n"))
    mad = (
        F.round(
            F.sum(
                F.round(
                    F.abs(F.col("c") * 1.0 / F.col("n") - F.col("p")),
                    12,
                ).cast("decimal(20,12)")
            ),
            12,
        ).cast("double")
        / 10.0
    )
    f = grid.crossJoin(F.broadcast(n)).groupBy("n").agg(
        mad.alias("mad_raw")
    )
    return f.select(
        F.col("n").alias("n_values"),
        F.round(F.col("mad_raw"), 9).alias("mad"),
        F.when(F.col("mad_raw") < 0.008, "close")
        .when(F.col("mad_raw") < 0.01, "acceptable")
        .when(F.col("mad_raw") < 0.012, "marginal")
        .otherwise("nonconforming")
        .alias("nigrini_verdict"),
    )


# --------------------------------------------------------------------------
# Elementary price indices (Carli / Dutot / Jevons) by ship month
# --------------------------------------------------------------------------
@register(
    "elementary_price_indices",
    oracle="""
    WITH pm AS (
        SELECT l_partkey AS pk,
               CAST(epoch_us(date_trunc('month', l_shipdate))
                    // 86400000000 AS BIGINT) AS mo,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                             * 100 AS BIGINT)) AS BIGINT) AS sp,
               CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)
                   AS sq
        FROM lineitem GROUP BY 1, 2
    ),
    base AS (
        SELECT pk, sp AS sp0, sq AS sq0
        FROM pm WHERE mo = (SELECT MIN(mo) FROM pm)
    ),
    matched AS (
        SELECT pm.mo,
               round(pm.sp * 1.0 / pm.sq
                     / (b.sp0 * 1.0 / b.sq0), 9) AS rel,
               pm.sp * 1.0 / pm.sq AS pt,
               b.sp0 * 1.0 / b.sq0 AS p0
        FROM pm JOIN base b ON pm.pk = b.pk
    )
    SELECT mo AS month_day,
           CAST(COUNT(*) AS BIGINT) AS n_matched_parts,
           round(CAST(round(SUM(CAST(round(rel, 9) AS DECIMAL(28,9))),
                 9) AS DOUBLE) / COUNT(*), 6) AS carli,
           round(CAST(round(SUM(CAST(round(pt, 6) AS DECIMAL(28,6))),
                 6) AS DOUBLE)
                 / CAST(round(SUM(CAST(round(p0, 6) AS DECIMAL(28,6))),
                   6) AS DOUBLE), 6) AS dutot,
           round(exp(CAST(round(SUM(CAST(round(ln(rel), 9)
                 AS DECIMAL(28,9))), 9) AS DOUBLE) / COUNT(*)), 6)
               AS jevons
    FROM matched GROUP BY mo ORDER BY mo
    """,
)
def elementary_price_indices(spark, sf_dir):
    """The three classical ELEMENTARY price indices per ship month
    against the first month as base, over matched parts: Carli
    (arithmetic mean of price relatives — upward-biased, famously
    banned from RPI), Dutot (ratio of average prices — quantity-proxy
    sensitive), and Jevons (geometric mean — the CPI standard since
    the Boskin report). Their SPREAD is the index-number-problem
    diagnostic the registry's Fisher index (aggregate level) cannot
    show. Unit prices are ratios of exact integer folds (cents /
    integral quantities, floor-cast); relatives and ln-relatives
    round at 1e-9 and fold in DECIMAL per month. Plan: one
    (part, month) rollup, a base-month broadcast join, one month
    rollup — all hash aggs, no windows."""
    li = t(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.floor(
            F.unix_micros(F.date_trunc("month", "l_shipdate"))
            / 86_400_000_000
        )
        .cast("bigint")
        .alias("mo"),
    ).agg(
        F.sum((dec("l_extendedprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("sp"),
        F.sum(F.floor("l_quantity").cast("bigint"))
        .cast("bigint")
        .alias("sq"),
    ).persist()
    m0 = pm.agg(F.min("mo").alias("mo0"))
    base = (
        pm.crossJoin(F.broadcast(m0))
        .where(F.col("mo") == F.col("mo0"))
        .select(
            "pk",
            F.col("sp").alias("sp0"),
            F.col("sq").alias("sq0"),
        )
    )
    pt = F.col("sp") * 1.0 / F.col("sq")
    p0 = F.col("sp0") * 1.0 / F.col("sq0")
    matched = pm.join(base, "pk").select(
        "mo",
        F.round(pt / p0, 9).alias("rel"),
        pt.alias("pt"),
        p0.alias("p0"),
    )
    return (
        matched.groupBy(F.col("mo").alias("month_day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matched_parts"),
            F.round(
                F.round(
                    F.sum(
                        F.round(F.col("rel"), 9).cast("decimal(28,9)")
                    ),
                    9,
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("carli"),
            F.round(
                F.round(
                    F.sum(
                        F.round(F.col("pt"), 6).cast("decimal(28,6)")
                    ),
                    6,
                ).cast("double")
                / F.round(
                    F.sum(
                        F.round(F.col("p0"), 6).cast("decimal(28,6)")
                    ),
                    6,
                ).cast("double"),
                6,
            ).alias("dutot"),
            F.round(
                F.exp(
                    F.round(
                        F.sum(
                            F.round(F.log("rel"), 9).cast(
                                "decimal(28,9)"
                            )
                        ),
                        9,
                    ).cast("double")
                    / F.count(F.lit(1))
                ),
                6,
            ).alias("jevons"),
        )
        .orderBy("month_day")
    )


# --------------------------------------------------------------------------
# Oaxaca-Blinder decomposition of the weekend value gap
# --------------------------------------------------------------------------
@register(
    "oaxaca_blinder_gap",
    oracle="""
    WITH cell AS (
        SELECT CASE WHEN (epoch_us(ts) // 86400000000 + 4) % 7 >= 5
                    THEN 1 ELSE 0 END AS we,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS s
        FROM events GROUP BY 1, 2
    ),
    g AS (
        SELECT we, CAST(SUM(n) AS BIGINT) AS ng FROM cell GROUP BY we
    ),
    terms AS (
        SELECT c1.event_type,
               c1.n * 1.0 / g1.ng AS w1,
               c0.n * 1.0 / g0.ng AS w0,
               c1.s * 1.0 / (100.0 * c1.n) AS m1,
               c0.s * 1.0 / (100.0 * c0.n) AS m0
        FROM cell c1
        JOIN cell c0 ON c1.event_type = c0.event_type
        JOIN g g1 ON g1.we = 1 JOIN g g0 ON g0.we = 0
        WHERE c1.we = 1 AND c0.we = 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
           round(CAST(round(SUM(CAST(round(w1 * m1 - w0 * m0, 9)
                 AS DECIMAL(28,9))), 9) AS DOUBLE), 6) + 0.0
               AS total_gap,
           round(CAST(round(SUM(CAST(round((w1 - w0) * m0, 9)
                 AS DECIMAL(28,9))), 9) AS DOUBLE), 6) + 0.0
               AS composition_effect,
           round(CAST(round(SUM(CAST(round(w0 * (m1 - m0), 9)
                 AS DECIMAL(28,9))), 9) AS DOUBLE), 6) + 0.0
               AS rate_effect,
           round(CAST(round(SUM(CAST(round((w1 - w0) * (m1 - m0), 9)
                 AS DECIMAL(28,9))), 9) AS DOUBLE), 6) + 0.0
               AS interaction_effect
    FROM terms
    """,
)
def oaxaca_blinder_gap(spark, sf_dir):
    """Oaxaca-Blinder (Kitagawa) decomposition of the weekend-vs-
    weekday mean event value gap over event types: gap = composition
    (weekend does MORE of the pricey event types, at weekday rates) +
    rate (each type pays differently on weekends, at weekday mix) +
    interaction — the accounting that tells a growth team whether a
    weekend premium is mix-shift or true per-event lift. The identity
    total = composition + rate + interaction holds exactly by
    construction. Weights and means are exact integer-count/cent
    ratios; the four folds run on 1e-9-rounded terms in DECIMAL over
    the 5-type domain. Plan: one (we, type) rollup, broadcast group
    totals, one 5-row fold."""
    e = t(spark, sf_dir, "events")
    day = F.floor(F.unix_micros("ts") / 86_400_000_000)
    cell = e.groupBy(
        F.when((day + 4) % 7 >= 5, 1).otherwise(0).alias("we"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((dec("value", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("s"),
    ).persist()
    g = cell.groupBy("we").agg(F.sum("n").cast("bigint").alias("ng"))
    c1 = cell.where(F.col("we") == 1).select(
        "event_type", F.col("n").alias("n1"), F.col("s").alias("s1")
    )
    c0 = cell.where(F.col("we") == 0).select(
        "event_type", F.col("n").alias("n0"), F.col("s").alias("s0")
    )
    g1 = g.where(F.col("we") == 1).select(F.col("ng").alias("ng1"))
    g0 = g.where(F.col("we") == 0).select(F.col("ng").alias("ng0"))
    terms = (
        c1.join(c0, "event_type")
        .crossJoin(F.broadcast(g1))
        .crossJoin(F.broadcast(g0))
        .select(
            (F.col("n1") * 1.0 / F.col("ng1")).alias("w1"),
            (F.col("n0") * 1.0 / F.col("ng0")).alias("w0"),
            (F.col("s1") * 1.0 / (100.0 * F.col("n1"))).alias("m1"),
            (F.col("s0") * 1.0 / (100.0 * F.col("n0"))).alias("m0"),
        )
    )
    def fold(expr):
        return (
            F.round(
                F.round(
                    F.sum(F.round(expr, 9).cast("decimal(28,9)")), 9
                ).cast("double"),
                6,
            )
            + 0.0
        )
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        fold(
            F.col("w1") * F.col("m1") - F.col("w0") * F.col("m0")
        ).alias("total_gap"),
        fold((F.col("w1") - F.col("w0")) * F.col("m0")).alias(
            "composition_effect"
        ),
        fold(F.col("w0") * (F.col("m1") - F.col("m0"))).alias(
            "rate_effect"
        ),
        fold(
            (F.col("w1") - F.col("w0")) * (F.col("m1") - F.col("m0"))
        ).alias("interaction_effect"),
    )


# --------------------------------------------------------------------------
# Indirectly standardized failure ratios (SIR) by region
# --------------------------------------------------------------------------
@register(
    "indirect_standardization_sir",
    oracle="""
    WITH tab AS (
        SELECT r.r_regionkey AS rk,
               CAST((epoch_us(o.o_orderdate) // 86400000000 + 4) % 7
                    AS BIGINT) AS dow,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN o.o_orderstatus = 'F'
                        THEN 1 ELSE 0 END) AS BIGINT) AS f
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation na ON c.c_nationkey = na.n_nationkey
        JOIN region r ON na.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    ),
    rate AS (
        SELECT dow,
               CAST(SUM(f) AS BIGINT) AS tf,
               CAST(SUM(n) AS BIGINT) AS tn
        FROM tab GROUP BY dow
    ),
    reg AS (
        SELECT t.rk,
               CAST(SUM(t.n) AS BIGINT) AS n,
               CAST(SUM(t.f) AS BIGINT) AS observed,
               CAST(round(SUM(CAST(round(t.n * (r.tf * 1.0 / r.tn), 9)
                   AS DECIMAL(28,9))), 9) AS DOUBLE) AS expected
        FROM tab t JOIN rate r ON t.dow = r.dow
        GROUP BY t.rk
    )
    SELECT rk AS regionkey, n AS n_orders, observed,
           round(expected, 4) AS expected,
           round(observed / expected, 6) AS sir
    FROM reg ORDER BY rk
    """,
)
def indirect_standardization_sir(spark, sf_dir):
    """Indirectly standardized failure ratios by region: expected
    failures per region under the GLOBAL weekday-specific failure
    rates applied to each region's own weekday mix, and SIR =
    observed/expected — the epidemiology-standard adjustment (SMR)
    that separates "this region fails more" from "this region just
    orders on bad weekdays". The grouped-data companion of the
    registry's Mantel-Haenszel / Breslow-Day strata tier. Counts are
    exact integers; expected folds 1e-9-rounded n*rate terms in
    DECIMAL over the 7-row dow domain per region; SIR is one terminal
    division. Plan: three broadcast dim hops, one 35-cell rollup, a
    7-row rate broadcast, one 5-row fold."""
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
            ((day + 4) % 7).cast("bigint").alias("dow"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("f"),
        )
        .persist()
    )
    rate = tab.groupBy("dow").agg(
        F.sum("f").cast("bigint").alias("tf"),
        F.sum("n").cast("bigint").alias("tn"),
    )
    reg = (
        tab.join(F.broadcast(rate), "dow")
        .groupBy("rk")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("f").cast("bigint").alias("observed"),
            F.round(
                F.sum(
                    F.round(
                        F.col("n")
                        * (F.col("tf") * 1.0 / F.col("tn")),
                        9,
                    ).cast("decimal(28,9)")
                ),
                9,
            )
            .cast("double")
            .alias("expected"),
        )
    )
    return reg.select(
        F.col("rk").alias("regionkey"),
        F.col("n").alias("n_orders"),
        "observed",
        F.round(F.col("expected"), 4).alias("expected"),
        F.round(F.col("observed") / F.col("expected"), 6).alias("sir"),
    ).orderBy("regionkey")


# --------------------------------------------------------------------------
# Newsvendor optimal stock quantile + expected mismatch cost
# --------------------------------------------------------------------------
@register(
    "newsvendor_quantile",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    dem AS (
        SELECT day, round(y / 100.0, 2) AS d FROM daily
    ),
    q AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               round(quantile_cont(d, 0.75), 2) AS qstar
        FROM dem
    ),
    cost AS (
        SELECT
          CAST(round(SUM(CASE WHEN dem.d < q.qstar
                         THEN CAST(round(q.qstar - dem.d, 2)
                              AS DECIMAL(18,2)) END), 2) AS DOUBLE)
              AS over_sum,
          CAST(round(SUM(CASE WHEN dem.d > q.qstar
                         THEN CAST(round(dem.d - q.qstar, 2)
                              AS DECIMAL(18,2)) END), 2) AS DOUBLE)
              AS under_sum
        FROM dem, q
    )
    SELECT q.n AS n_days,
           q.qstar AS q_star,
           round(COALESCE(c.over_sum, 0.0) / q.n, 2) AS expected_overage,
           round(COALESCE(c.under_sum, 0.0) / q.n, 2)
               AS expected_underage,
           round((1.0 * COALESCE(c.over_sum, 0.0)
                  + 3.0 * COALESCE(c.under_sum, 0.0)) / q.n, 2)
               AS expected_cost
    FROM q, cost c
    """,
)
def newsvendor_quantile(spark, sf_dir):
    """Newsvendor solution for daily revenue-capacity planning:
    with underage cost cu = 3 and overage cost co = 1 the optimal
    stock level is the critical-fractile quantile q* = F^-1(cu/(cu+co))
    = the 75th percentile of daily demand, reported with the expected
    overage, underage, and total mismatch cost at q*. The one-line
    stochastic-inventory result every capacity planner actually uses —
    and a quantile-decision complement to the registry's forecast-
    accuracy tier (pinball loss EVALUATES quantile forecasts; the
    newsvendor SETS the quantile). Demand is exact cents rounded to
    2; q* is the engines' interpolated percentile; partial
    expectations fold DECIMAL cents over each side of q*. Plan: day
    rollup, one percentile fold, one conditional fold."""
    daily = daily_order_cents(spark, sf_dir)
    dem = daily.select(
        F.round(F.col("y") / 100.0, 2).alias("d")
    ).persist()
    q = dem.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.expr("percentile(d, 0.75)"), 2).alias("qstar"),
    )
    cost = dem.crossJoin(F.broadcast(q)).agg(
        F.round(
            F.sum(
                F.when(
                    F.col("d") < F.col("qstar"),
                    F.round(F.col("qstar") - F.col("d"), 2).cast(
                        "decimal(18,2)"
                    ),
                )
            ),
            2,
        )
        .cast("double")
        .alias("over_sum"),
        F.round(
            F.sum(
                F.when(
                    F.col("d") > F.col("qstar"),
                    F.round(F.col("d") - F.col("qstar"), 2).cast(
                        "decimal(18,2)"
                    ),
                )
            ),
            2,
        )
        .cast("double")
        .alias("under_sum"),
    )
    return q.crossJoin(F.broadcast(cost)).select(
        F.col("n").alias("n_days"),
        F.col("qstar").alias("q_star"),
        F.round(
            F.coalesce(F.col("over_sum"), F.lit(0.0)) / F.col("n"), 2
        ).alias("expected_overage"),
        F.round(
            F.coalesce(F.col("under_sum"), F.lit(0.0)) / F.col("n"), 2
        ).alias("expected_underage"),
        F.round(
            (
                1.0 * F.coalesce(F.col("over_sum"), F.lit(0.0))
                + 3.0 * F.coalesce(F.col("under_sum"), F.lit(0.0))
            )
            / F.col("n"),
            2,
        ).alias("expected_cost"),
    )


# --------------------------------------------------------------------------
# Tracking-signal monitor for the seasonal-naive revenue forecast
# --------------------------------------------------------------------------
@register(
    "tracking_signal_monitor",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    fc AS (
        SELECT day, y,
               LAG(y, 7) OVER (ORDER BY day) AS yhat
        FROM daily
        QUALIFY yhat IS NOT NULL
    ),
    e AS (
        SELECT day,
               CAST(y - yhat AS BIGINT) AS err,
               CAST(abs(y - yhat) AS BIGINT) AS aerr,
               CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i
        FROM fc
    ),
    ts AS (
        SELECT day, i,
               SUM(err) OVER w AS cume,
               SUM(aerr) OVER w AS cuma
        FROM e
        WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
    ),
    sig AS (
        SELECT day, i,
               round(cume * 1.0 * i / cuma, 6) AS tsig
        FROM ts WHERE cuma > 0
    )
    SELECT CAST(MAX(i) AS BIGINT) AS n_forecasts,
           round(MAX(CASE WHEN i = (SELECT MAX(i) FROM sig)
                     THEN tsig END), 6) + 0.0 AS ts_final,
           round(MAX(abs(tsig)), 6) AS ts_max_abs,
           CAST(SUM(CASE WHEN abs(tsig) > 4.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_signal_breaches
    FROM sig
    """,
)
def tracking_signal_monitor(spark, sf_dir):
    """Tracking signal for the seasonal-naive (same-weekday-last-week)
    revenue forecast: TS_t = cumulative error / (cumulative |error| / t)
    — cumulative bias in MAD units, with the classic |TS| > 4 alarm
    band, reported as the final value, the worst excursion, and the
    breach count. The BIAS monitor that belongs next to the accuracy
    metrics the registry already has (MASE/pinball/Theil's U measure
    size of error; the tracking signal detects one-sided drift that
    accuracy metrics average away). Errors are exact integer cents;
    cumulative sums are exact integer windows over the calendar frame;
    TS is one rational per day rounded at 1e-6. Plan: day rollup, a
    lag-7 forecast window, two cumulative windows over the bounded
    day frame, one fold."""
    daily = daily_order_cents(spark, sf_dir)
    wo = Window.orderBy("day")
    fc = daily.select(
        "day", "y", F.lag("y", 7).over(wo).alias("yhat")
    ).where(F.col("yhat").isNotNull())
    e = fc.select(
        "day",
        (F.col("y") - F.col("yhat")).cast("bigint").alias("err"),
        F.abs(F.col("y") - F.col("yhat")).cast("bigint").alias("aerr"),
        F.row_number().over(wo).cast("bigint").alias("i"),
    )
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ts = e.select(
        "day",
        "i",
        F.sum("err").over(wcum).alias("cume"),
        F.sum("aerr").over(wcum).alias("cuma"),
    )
    sig = ts.where(F.col("cuma") > 0).select(
        "i",
        F.round(
            F.col("cume") * 1.0 * F.col("i") / F.col("cuma"), 6
        ).alias("tsig"),
    ).persist()
    last = sig.agg(F.max("i").alias("imax"))
    return (
        sig.crossJoin(F.broadcast(last))
        .agg(
            F.max("i").cast("bigint").alias("n_forecasts"),
            (
                F.round(
                    F.max(
                        F.when(
                            F.col("i") == F.col("imax"), F.col("tsig")
                        )
                    ),
                    6,
                )
                + 0.0
            ).alias("ts_final"),
            F.round(F.max(F.abs(F.col("tsig"))), 6).alias("ts_max_abs"),
            F.sum(
                F.when(F.abs(F.col("tsig")) > 4.0, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_signal_breaches"),
        )
    )


# --------------------------------------------------------------------------
# Dunn's post-hoc pairwise tests after Kruskal-Wallis (all 5 types)
# --------------------------------------------------------------------------
@register(
    "dunns_posthoc_pairs",
    oracle="""
    WITH by_val AS (
        SELECT value, event_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    vg AS (
        SELECT value, CAST(SUM(c) AS BIGINT) AS h FROM by_val
        GROUP BY value
    ),
    cum AS (
        SELECT value, h,
               SUM(h) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)
                   - h AS below
        FROM vg
    ),
    ranked AS (
        SELECT b.event_type, b.c,
               (2 * cum.below + cum.h + 1) AS rank2
        FROM by_val b JOIN cum ON b.value = cum.value
    ),
    grp AS (
        SELECT event_type,
               CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c * rank2) AS BIGINT) AS rs2
        FROM ranked GROUP BY event_type
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nn FROM grp
    ),
    ties AS (
        SELECT CAST(SUM(h * h * h - h) AS BIGINT) AS tsum FROM vg
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           round((a.rs2 * 1.0 / (2 * a.n)
                  - b.rs2 * 1.0 / (2 * b.n))
                 / sqrt((tot.nn * (tot.nn + 1.0) / 12.0
                         - ties.tsum / (12.0 * (tot.nn - 1)))
                        * (1.0 / a.n + 1.0 / b.n)), 6) + 0.0
               AS dunn_z
    FROM grp a JOIN grp b ON a.event_type < b.event_type,
         tot, ties
    ORDER BY type_a, type_b
    """,
)
def dunns_posthoc_pairs(spark, sf_dir):
    """Dunn's post-hoc pairwise z statistics for all C(5,2) event-type
    pairs after Kruskal-Wallis (which the registry already runs on
    this panel): z_ij = (Rbar_i - Rbar_j) / sqrt((N(N+1)/12 -
    T/(12(N-1))) (1/n_i + 1/n_j)) with the full tie correction T =
    sum(t^3 - t) over the tied-value groups — the test that says WHICH
    types differ once KW rejects, with the rank-variance shrunk for
    the 2-decimal grid's heavy ties. Everything lives at distinct-
    value grain: midrank x2 is an exact integer from the cumulative
    head count, group rank sums and the tie fold are exact BIGINTs,
    and each z is one terminal expression. Plan: one (value, type)
    rollup, one cumulative over the bounded value grid, a 5-row group
    fold, a bounded triangular pair join."""
    e = t(spark, sf_dir, "events")
    by_val = e.groupBy("value", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).persist()
    vg = by_val.groupBy("value").agg(
        F.sum("c").cast("bigint").alias("h")
    )
    cum = vg.select(
        "value",
        "h",
        (
            F.sum("h").over(
                Window.orderBy("value").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            - F.col("h")
        ).alias("below"),
    )
    ranked = by_val.join(cum, "value").select(
        "event_type",
        "c",
        (2 * F.col("below") + F.col("h") + 1).alias("rank2"),
    )
    grp = ranked.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * F.col("rank2")).cast("bigint").alias("rs2"),
    )
    tot = grp.agg(F.sum("n").cast("bigint").alias("nn"))
    ties = vg.agg(
        F.sum(F.col("h") * F.col("h") * F.col("h") - F.col("h"))
        .cast("bigint")
        .alias("tsum")
    )
    a = grp.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("na"),
        F.col("rs2").alias("rsa"),
    )
    b = grp.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("nb"),
        F.col("rs2").alias("rsb"),
    )
    pairs = (
        a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ties))
    )
    z = (
        F.col("rsa") * 1.0 / (2 * F.col("na"))
        - F.col("rsb") * 1.0 / (2 * F.col("nb"))
    ) / F.sqrt(
        (
            F.col("nn") * (F.col("nn") + 1.0) / 12.0
            - F.col("tsum") / (12.0 * (F.col("nn") - 1))
        )
        * (1.0 / F.col("na") + 1.0 / F.col("nb"))
    )
    return pairs.select(
        "type_a",
        "type_b",
        (F.round(z, 6) + 0.0).alias("dunn_z"),
    ).orderBy("type_a", "type_b")


# --------------------------------------------------------------------------
# Cucconi location-scale omnibus test (click vs purchase)
# --------------------------------------------------------------------------
@register(
    "cucconi_test",
    oracle="""
    WITH pool AS (
        SELECT value, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END
                   AS g1
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    by_val AS (
        SELECT value,
               CAST(SUM(g1) AS BIGINT) AS c1,
               CAST(SUM(1 - g1) AS BIGINT) AS c0
        FROM pool GROUP BY value
    ),
    cum AS (
        SELECT value, c1, c0, c1 + c0 AS h,
               SUM(c1 + c0) OVER (ORDER BY value
                                  ROWS UNBOUNDED PRECEDING)
                   - (c1 + c0) AS below
        FROM by_val
    ),
    tots AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c0) AS BIGINT) AS n0
        FROM by_val
    ),
    folds AS (
        SELECT
          CAST(SUM(c1 * CAST((2 * below + h + 1) AS DECIMAL(38,0))
                   * (2 * below + h + 1)) AS DECIMAL(38,0)) AS sr2x4,
          CAST(SUM(c1 * CAST((2 * (t.n1 + t.n0 + 1)
                              - (2 * below + h + 1)) AS DECIMAL(38,0))
                   * (2 * (t.n1 + t.n0 + 1) - (2 * below + h + 1)))
               AS DECIMAL(38,0)) AS sc2x4
        FROM cum, tots t
    )
    SELECT t.n1, t.n0,
           round((6.0 * (CAST(f.sr2x4 AS DOUBLE) / 4.0)
                  - t.n1 * (t.n1 + t.n0 + 1.0)
                    * (2.0 * (t.n1 + t.n0) + 1))
                 / sqrt(t.n1 * 1.0 * t.n0 * (t.n1 + t.n0 + 1)
                        * (2.0 * (t.n1 + t.n0) + 1)
                        * (8.0 * (t.n1 + t.n0) + 11) / 5.0), 9) + 0.0
               AS u_stat,
           round((6.0 * (CAST(f.sc2x4 AS DOUBLE) / 4.0)
                  - t.n1 * (t.n1 + t.n0 + 1.0)
                    * (2.0 * (t.n1 + t.n0) + 1))
                 / sqrt(t.n1 * 1.0 * t.n0 * (t.n1 + t.n0 + 1)
                        * (2.0 * (t.n1 + t.n0) + 1)
                        * (8.0 * (t.n1 + t.n0) + 11) / 5.0), 9) + 0.0
               AS v_stat,
           round(((t.n1 + t.n0) * (t.n1 + t.n0) - 4.0)
                 / ((2.0 * (t.n1 + t.n0) + 1)
                    * (8.0 * (t.n1 + t.n0) + 11)) * 2.0 - 1.0, 9)
               AS rho
    FROM folds f, tots t
    """,
)
def cucconi_test(spark, sf_dir):
    """Cucconi's location-scale components U and V (click vs purchase
    values): U standardizes the sum of SQUARED pooled midranks of
    sample 1, V the sum of squared CONTRARY ranks (N+1-R) — U moves
    with scale, V with location-and-scale, and the omnibus C =
    (U^2 + V^2 - 2 rho U V)/(2(1 - rho^2)) with rho = 2(N^2-4)/
    ((2N+1)(8N+11)) - 1 (reported as the third column so the
    one-line C is auditable) predates and often beats Lepage as the
    joint location-scale test. Midranks x2 are exact integers at
    distinct-value grain; both squared-rank folds ride DECIMAL(38,0);
    U, V, rho are terminal expressions with the no-ties moments
    (documented convention, as in the Mood/Conover twins). Plan: one
    value-grain rollup, one cumulative over the bounded value grid,
    one fold."""
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
            F.sum("g1").cast("bigint").alias("c1"),
            F.sum(1 - F.col("g1")).cast("bigint").alias("c0"),
        )
    ).persist()
    h = F.col("c1") + F.col("c0")
    cum = by_val.select(
        "c1",
        "c0",
        h.alias("h"),
        (
            F.sum(h).over(
                Window.orderBy("value").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            - h
        ).alias("below"),
    )
    tots = by_val.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c0").cast("bigint").alias("n0"),
    )
    rank2 = 2 * F.col("below") + F.col("h") + 1
    contra2 = 2 * (F.col("n1") + F.col("n0") + 1) - rank2
    folds = cum.crossJoin(F.broadcast(tots)).agg(
        F.sum(
            F.col("c1") * rank2.cast("decimal(38,0)") * rank2
        )
        .cast("decimal(38,0)")
        .alias("sr2x4"),
        F.sum(
            F.col("c1") * contra2.cast("decimal(38,0)") * contra2
        )
        .cast("decimal(38,0)")
        .alias("sc2x4"),
    )
    out = folds.crossJoin(F.broadcast(tots))
    n1 = F.col("n1")
    n0 = F.col("n0")
    nn = n1 + n0
    denom = F.sqrt(
        n1 * 1.0 * n0 * (nn + 1) * (2.0 * nn + 1) * (8.0 * nn + 11)
        / 5.0
    )
    u = (
        6.0 * (F.col("sr2x4").cast("double") / 4.0)
        - n1 * (nn + 1.0) * (2.0 * nn + 1)
    ) / denom
    v = (
        6.0 * (F.col("sc2x4").cast("double") / 4.0)
        - n1 * (nn + 1.0) * (2.0 * nn + 1)
    ) / denom
    rho = (nn * nn - 4.0) / ((2.0 * nn + 1) * (8.0 * nn + 11)) * 2.0 - 1.0
    return out.select(
        "n1",
        "n0",
        (F.round(u, 9) + 0.0).alias("u_stat"),
        (F.round(v, 9) + 0.0).alias("v_stat"),
        F.round(rho, 9).alias("rho"),
    )


# --------------------------------------------------------------------------
# Stochastic superiority p-hat with Brunner-Munzel/DeLong variance z
# --------------------------------------------------------------------------
@register(
    "stochastic_superiority_bm",
    oracle="""
    WITH pool AS (
        SELECT value, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END
                   AS g1
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    by_val AS (
        SELECT value,
               CAST(SUM(g1) AS BIGINT) AS c1,
               CAST(SUM(1 - g1) AS BIGINT) AS c0
        FROM pool GROUP BY value
    ),
    cum AS (
        SELECT c1, c0,
               SUM(c1) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)
                   - c1 AS b1,
               SUM(c0) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)
                   - c0 AS b0
        FROM by_val
    ),
    tots AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c0) AS BIGINT) AS n0
        FROM cum
    ),
    folds AS (
        SELECT
          CAST(SUM(c0 * (2 * b1 + c1)) AS BIGINT) AS a0,
          CAST(SUM(c0 * CAST((2 * b1 + c1) AS DECIMAL(38,0))
                   * (2 * b1 + c1)) AS DECIMAL(38,0)) AS bb0,
          CAST(SUM(c1 * (2 * b0 + c0)) AS BIGINT) AS a1,
          CAST(SUM(c1 * CAST((2 * b0 + c0) AS DECIMAL(38,0))
                   * (2 * b0 + c0)) AS DECIMAL(38,0)) AS bb1
        FROM cum
    )
    SELECT t.n1, t.n0,
           round(f.a0 * 1.0 / (2.0 * t.n1 * t.n0), 9) AS p_hat,
           round((f.a0 * 1.0 / (2.0 * t.n1 * t.n0) - 0.5)
                 / sqrt(((CAST(f.bb0 AS DOUBLE) - f.a0 * 1.0 * f.a0
                          / t.n0) / (4.0 * (t.n0 - 1)))
                        / (t.n0 * 1.0 * t.n1 * t.n1)
                        + ((CAST(f.bb1 AS DOUBLE) - f.a1 * 1.0 * f.a1
                            / t.n1) / (4.0 * (t.n1 - 1)))
                          / (t.n1 * 1.0 * t.n0 * t.n0)), 6) + 0.0
               AS z_stat
    FROM folds f, tots t
    """,
)
def stochastic_superiority_bm(spark, sf_dir):
    """Stochastic superiority p-hat = P(click < purchase) + 1/2
    P(tie) with the Brunner-Munzel-style studentization: the variance
    is estimated from the empirical PLACEMENT variances of each
    sample (the DeLong/BM sandwich S0^2/(n0 n1^2) + S1^2/(n1 n0^2)),
    so unlike Mann-Whitney (also in the registry) the z remains valid
    when the two samples have UNEQUAL variances — the
    Behrens-Fisher-robust effect-size test, and p_hat doubles as the
    AUC between the two distributions. Placements are exact
    half-integers at distinct-value grain (2P = 2*other-below +
    other-tied), placement power sums ride BIGINT/DECIMAL(38,0), and
    p_hat / z are terminal expressions. Plan: one value-grain rollup,
    one cumulative pair over the bounded value grid, one fold."""
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
            F.sum("g1").cast("bigint").alias("c1"),
            F.sum(1 - F.col("g1")).cast("bigint").alias("c0"),
        )
    )
    wv = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = by_val.select(
        "c1",
        "c0",
        (F.sum("c1").over(wv) - F.col("c1")).alias("b1"),
        (F.sum("c0").over(wv) - F.col("c0")).alias("b0"),
    ).persist()
    tots = cum.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c0").cast("bigint").alias("n0"),
    )
    p0x2 = 2 * F.col("b1") + F.col("c1")
    q1x2 = 2 * F.col("b0") + F.col("c0")
    folds = cum.agg(
        F.sum(F.col("c0") * p0x2).cast("bigint").alias("a0"),
        F.sum(F.col("c0") * p0x2.cast("decimal(38,0)") * p0x2)
        .cast("decimal(38,0)")
        .alias("bb0"),
        F.sum(F.col("c1") * q1x2).cast("bigint").alias("a1"),
        F.sum(F.col("c1") * q1x2.cast("decimal(38,0)") * q1x2)
        .cast("decimal(38,0)")
        .alias("bb1"),
    )
    out = folds.crossJoin(F.broadcast(tots))
    n1 = F.col("n1")
    n0 = F.col("n0")
    phat = F.col("a0") * 1.0 / (2.0 * n1 * n0)
    s0 = (
        F.col("bb0").cast("double")
        - F.col("a0") * 1.0 * F.col("a0") / n0
    ) / (4.0 * (n0 - 1))
    s1 = (
        F.col("bb1").cast("double")
        - F.col("a1") * 1.0 * F.col("a1") / n1
    ) / (4.0 * (n1 - 1))
    z = (phat - 0.5) / F.sqrt(
        s0 / (n0 * 1.0 * n1 * n1) + s1 / (n1 * 1.0 * n0 * n0)
    )
    return out.select(
        "n1",
        "n0",
        F.round(phat, 9).alias("p_hat"),
        (F.round(z, 6) + 0.0).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Bland-Altman agreement limits: click-mean vs view-mean by day
# --------------------------------------------------------------------------
@register(
    "bland_altman_limits",
    oracle="""
    WITH cell AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               event_type,
               round(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                              AS BIGINT)) / (100.0 * COUNT(*)), 9)
                   AS m
        FROM events WHERE event_type IN ('click', 'view')
        GROUP BY 1, 2
    ),
    paired AS (
        SELECT a.day,
               round(a.m - b.m, 9) AS diff,
               round((a.m + b.m) / 2.0, 9) AS avg
        FROM cell a JOIN cell b
          ON a.day = b.day
         AND a.event_type = 'click' AND b.event_type = 'view'
    ),
    f AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(diff AS DECIMAL(28,9))) AS s1,
               SUM(CAST(round(diff * diff, 9) AS DECIMAL(38,9))) AS s2
        FROM paired
    )
    SELECT n AS n_days,
           round(CAST(s1 AS DOUBLE) / n, 6) + 0.0 AS bias,
           round(CAST(s1 AS DOUBLE) / n
                 - 1.96 * sqrt((CAST(s2 AS DOUBLE)
                                - CAST(s1 AS DOUBLE)
                                  * CAST(s1 AS DOUBLE) / n)
                               / (n - 1.0)), 6) + 0.0 AS loa_lower,
           round(CAST(s1 AS DOUBLE) / n
                 + 1.96 * sqrt((CAST(s2 AS DOUBLE)
                                - CAST(s1 AS DOUBLE)
                                  * CAST(s1 AS DOUBLE) / n)
                               / (n - 1.0)), 6) + 0.0 AS loa_upper
    FROM f
    """,
)
def bland_altman_limits(spark, sf_dir):
    """Bland-Altman agreement analysis treating the daily mean CLICK
    value and daily mean VIEW value as two measurement methods of the
    same underlying engagement level: the bias (mean difference) and
    the 95% limits of agreement (bias +- 1.96 sd of differences) — the
    method-comparison framework that replaced correlation for
    instrument agreement (two methods can correlate at 0.99 and still
    disagree by a constant the correlation never shows; the LoA show
    it immediately). Daily means are exact cent ratios rounded at
    1e-9; difference moments fold in DECIMAL; the limits are terminal
    expressions. Plan: one (day, type) rollup, a day-keyed pair join,
    one fold."""
    e = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view")
    )
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
    a = cell.where(F.col("event_type") == "click").select(
        "day", F.col("m").alias("ma")
    )
    b = cell.where(F.col("event_type") == "view").select(
        "day", F.col("m").alias("mb")
    )
    paired = a.join(b, "day").select(
        F.round(F.col("ma") - F.col("mb"), 9).alias("diff")
    )
    f = paired.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("diff").cast("decimal(28,9)")).alias("s1"),
        F.sum(
            F.round(F.col("diff") * F.col("diff"), 9).cast(
                "decimal(38,9)"
            )
        ).alias("s2"),
    )
    n = F.col("n")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    sd = F.sqrt((s2 - s1 * s1 / n) / (n - 1.0))
    return f.select(
        n.alias("n_days"),
        (F.round(s1 / n, 6) + 0.0).alias("bias"),
        (F.round(s1 / n - 1.96 * sd, 6) + 0.0).alias("loa_lower"),
        (F.round(s1 / n + 1.96 * sd, 6) + 0.0).alias("loa_upper"),
    )


# --------------------------------------------------------------------------
# Spearman footrule distance between the two largest sources' rankings
# --------------------------------------------------------------------------
@register(
    "spearman_footrule_sources",
    oracle="""
    WITH tc AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT source, UNNEST(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY 1, 2
    ),
    top2 AS (
        SELECT source,
               ROW_NUMBER() OVER (ORDER BY SUM(c) DESC, source ASC)
                   AS rn
        FROM tc GROUP BY source QUALIFY rn <= 2
    ),
    sa AS (SELECT source FROM top2 WHERE rn = 1),
    sb AS (SELECT source FROM top2 WHERE rn = 2),
    shared AS (
        SELECT a.w,
               CAST(ROW_NUMBER() OVER (ORDER BY a.c DESC, a.w ASC)
                    AS BIGINT) AS ra,
               CAST(ROW_NUMBER() OVER (ORDER BY b.c DESC, b.w ASC)
                    AS BIGINT) AS rb
        FROM (SELECT w, c FROM tc WHERE source = (SELECT * FROM sa)) a
        JOIN (SELECT w, c FROM tc WHERE source = (SELECT * FROM sb)) b
          ON a.w = b.w
    ),
    f AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(abs(ra - rb)) AS BIGINT) AS fr
        FROM shared
    )
    SELECT k AS n_shared_terms, fr AS footrule,
           round(1.0 - 2.0 * fr
                 / (CAST(k AS DOUBLE) * k - (k % 2)), 9) + 0.0
               AS footrule_similarity
    FROM f
    """,
)
def spearman_footrule_sources(spark, sf_dir):
    """Spearman's footrule distance F = sum |rank_A(w) - rank_B(w)|
    between the two largest sources' term-frequency rankings over
    their shared vocabulary, normalized by the maximum (k^2 - [k odd])
    / 2 into a [-1, 1]-style similarity. The L1 companion of the
    registry's rank-biased overlap and Kendall tau: Diaconis-Graham
    proved F is within a factor 2 of Kendall distance, but F is
    computable in one pass with NO pairwise machinery — the cheap
    ranking-drift monitor for vocabulary shift between corpus slices.
    Ranks are unique by the (count desc, term) total order; the fold
    is an exact integer; one terminal normalization. Plan: one
    (source, term) rollup, two top-source scalar picks, one term
    equi-join, rank windows over the shared-vocabulary frame
    (vocabulary-domain-bounded), one fold."""
    d = t(spark, sf_dir, "documents")
    tc = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ).persist()
    ranked_src = (
        tc.groupBy("source")
        .agg(F.sum("c").alias("tot"))
        .select(
            "source",
            F.row_number()
            .over(Window.orderBy(F.col("tot").desc(), F.col("source")))
            .alias("rn"),
        )
        .where(F.col("rn") <= 2)
    )
    sa = ranked_src.where(F.col("rn") == 1).select(
        F.col("source").alias("src_a")
    )
    sb = ranked_src.where(F.col("rn") == 2).select(
        F.col("source").alias("src_b")
    )
    a = tc.join(
        F.broadcast(sa), tc.source == F.col("src_a")
    ).select(F.col("w"), F.col("c").alias("ca"))
    b = tc.join(
        F.broadcast(sb), tc.source == F.col("src_b")
    ).select(F.col("w").alias("wb"), F.col("c").alias("cb"))
    shared = a.join(b, a.w == b.wb).select(
        "w",
        F.row_number()
        .over(Window.orderBy(F.col("ca").desc(), F.col("w").asc()))
        .cast("bigint")
        .alias("ra"),
        F.row_number()
        .over(Window.orderBy(F.col("cb").desc(), F.col("w").asc()))
        .cast("bigint")
        .alias("rb"),
    )
    f = shared.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.abs(F.col("ra") - F.col("rb")))
        .cast("bigint")
        .alias("fr"),
    )
    return f.select(
        F.col("k").alias("n_shared_terms"),
        F.col("fr").alias("footrule"),
        (
            F.round(
                1.0
                - 2.0
                * F.col("fr")
                / (
                    F.col("k").cast("double") * F.col("k")
                    - (F.col("k") % 2)
                ),
                9,
            )
            + 0.0
        ).alias("footrule_similarity"),
    )


# --------------------------------------------------------------------------
# Sharpe / Sortino / Omega ratio panel of daily revenue log-returns
# --------------------------------------------------------------------------
@register(
    "sharpe_sortino_omega",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    ret AS (
        SELECT round(ln(y * 1.0 / LAG(y) OVER (ORDER BY day)), 9) AS r
        FROM daily
        QUALIFY r IS NOT NULL
    ),
    f AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(r AS DECIMAL(28,9))) AS s1,
               SUM(CAST(round(r * r, 15) AS DECIMAL(28,15))) AS s2,
               SUM(CASE WHEN r < 0
                   THEN CAST(round(r * r, 15) AS DECIMAL(28,15)) END)
                   AS sd2,
               SUM(CASE WHEN r > 0
                   THEN CAST(r AS DECIMAL(28,9)) END) AS sup,
               SUM(CASE WHEN r < 0
                   THEN CAST(-r AS DECIMAL(28,9)) END) AS sdn
        FROM ret
    )
    SELECT n AS n_returns,
           round((CAST(s1 AS DOUBLE) / n)
                 / sqrt((CAST(s2 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                        / (n - 1.0)), 6) + 0.0 AS sharpe_daily,
           round((CAST(s1 AS DOUBLE) / n)
                 / sqrt(CAST(sd2 AS DOUBLE) / n), 6) + 0.0
               AS sortino_daily,
           round(CAST(sup AS DOUBLE) / CAST(sdn AS DOUBLE), 6)
               AS omega_at_zero
    FROM f
    """,
)
def sharpe_sortino_omega(spark, sf_dir):
    """Risk-adjusted return panel of the daily revenue log-returns at
    a zero threshold: Sharpe (mean / full sd), Sortino (mean /
    downside deviation — only sub-threshold returns count as risk),
    and the Omega ratio (upside partial sum / downside partial sum —
    the whole-distribution gain/loss measure that needs no moment
    assumptions). Three answers to "is the growth worth the
    volatility" that disagree exactly when the return distribution is
    skewed — which the registry's GBM fit (this bank) assumes away.
    Returns are 1e-9-rounded; all five folds are exact DECIMAL; each
    ratio is a terminal expression. Plan: day rollup, one lag, one
    fold."""
    daily = daily_order_cents(spark, sf_dir)
    ret = daily.select(
        F.round(
            F.log(
                F.col("y") * 1.0 / F.lag("y").over(Window.orderBy("day"))
            ),
            9,
        ).alias("r")
    ).where(F.col("r").isNotNull())
    f = ret.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("r").cast("decimal(28,9)")).alias("s1"),
        F.sum(
            F.round(F.col("r") * F.col("r"), 15).cast("decimal(28,15)")
        ).alias("s2"),
        F.sum(
            F.when(
                F.col("r") < 0,
                F.round(F.col("r") * F.col("r"), 15).cast(
                    "decimal(28,15)"
                ),
            )
        ).alias("sd2"),
        F.sum(
            F.when(F.col("r") > 0, F.col("r").cast("decimal(28,9)"))
        ).alias("sup"),
        F.sum(
            F.when(F.col("r") < 0, (-F.col("r")).cast("decimal(28,9)"))
        ).alias("sdn"),
    )
    n = F.col("n")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    sharpe = (s1 / n) / F.sqrt((s2 - s1 * s1 / n) / (n - 1.0))
    sortino = (s1 / n) / F.sqrt(F.col("sd2").cast("double") / n)
    omega = F.col("sup").cast("double") / F.col("sdn").cast("double")
    return f.select(
        n.alias("n_returns"),
        (F.round(sharpe, 6) + 0.0).alias("sharpe_daily"),
        (F.round(sortino, 6) + 0.0).alias("sortino_daily"),
        F.round(omega, 6).alias("omega_at_zero"),
    )


# --------------------------------------------------------------------------
# Ulcer index / Martin ratio of the daily revenue level series
# --------------------------------------------------------------------------
@register(
    "ulcer_index_martin",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    dd AS (
        SELECT day, y,
               MAX(y) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                   AS peak
        FROM daily
    ),
    pct AS (
        SELECT round(100.0 * (peak - y) / peak, 9) AS drawdown_pct
        FROM dd
    ),
    f AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(round(SUM(CAST(round(
                   drawdown_pct * drawdown_pct, 9)
                   AS DECIMAL(38,9))), 9) AS DOUBLE) AS sq,
               round(MAX(drawdown_pct), 6) AS max_dd
        FROM pct
    ),
    mu AS (
        SELECT round(CAST(SUM(CAST(round(
                   100.0 * ln(b.y * 1.0 / a.y) / (SELECT COUNT(*) - 1
                                                  FROM daily), 9)
                   AS DECIMAL(28,9)) ) AS DOUBLE), 9) AS mean_ret
        FROM (SELECT MIN(day) AS d0 FROM daily) s,
             daily a, daily b,
             (SELECT MAX(day) AS d1 FROM daily) e2
        WHERE a.day = s.d0 AND b.day = e2.d1
    )
    SELECT f.n AS n_days,
           f.max_dd AS max_drawdown_pct,
           round(sqrt(f.sq / f.n), 6) AS ulcer_index,
           round(mu.mean_ret / sqrt(f.sq / f.n), 6) + 0.0
               AS martin_ratio
    FROM f, mu
    """,
)
def ulcer_index_martin(spark, sf_dir):
    """Ulcer index of the daily revenue level — sqrt of the mean
    SQUARED percent drawdown from the running peak — with the worst
    drawdown and the Martin ratio (mean daily log-return, in percent,
    per unit of ulcer). Unlike standard deviation (which penalizes
    upside equally) the ulcer index measures only the depth AND
    duration of being underwater, which is what revenue-stream pain
    actually is; the registry's per-user drawdown query gives the
    path, this gives the portfolio-grade summary. The running peak is
    an exact integer cumulative max over the calendar frame; percent
    drawdowns round at 1e-9 and their squares fold in DECIMAL. Plan:
    day rollup, one running-max window, one fold."""
    daily = daily_order_cents(spark, sf_dir).persist()
    wo = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dd = daily.select(
        "day", "y", F.max("y").over(wo).alias("peak")
    )
    pct = dd.select(
        F.round(
            100.0 * (F.col("peak") - F.col("y")) / F.col("peak"), 9
        ).alias("drawdown_pct")
    )
    f = pct.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum(
                F.round(
                    F.col("drawdown_pct") * F.col("drawdown_pct"), 9
                ).cast("decimal(38,9)")
            ),
            9,
        )
        .cast("double")
        .alias("sq"),
        F.round(F.max("drawdown_pct"), 6).alias("max_dd"),
    )
    nd = daily.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("day").alias("d0"),
        F.max("day").alias("d1"),
    )
    first = daily.select(
        F.col("day").alias("d0"), F.col("y").alias("y0")
    )
    last = daily.select(
        F.col("day").alias("d1"), F.col("y").alias("y1")
    )
    mu = (
        nd.join(F.broadcast(first), "d0")
        .join(F.broadcast(last), "d1")
        .select(
            F.round(
                F.round(
                    (
                        100.0
                        * F.log(F.col("y1") * 1.0 / F.col("y0"))
                        / (F.col("cnt") - 1)
                    ),
                    9,
                ).cast("decimal(28,9)").cast("double"),
                9,
            ).alias("mean_ret")
        )
    )
    return f.crossJoin(F.broadcast(mu)).select(
        F.col("n").alias("n_days"),
        F.col("max_dd").alias("max_drawdown_pct"),
        F.round(F.sqrt(F.col("sq") / F.col("n")), 6).alias(
            "ulcer_index"
        ),
        (
            F.round(
                F.col("mean_ret") / F.sqrt(F.col("sq") / F.col("n")), 6
            )
            + 0.0
        ).alias("martin_ratio"),
    )


# --------------------------------------------------------------------------
# Lepage combined location-scale test (Wilcoxon^2 + Ansari-Bradley^2)
# --------------------------------------------------------------------------
@register(
    "lepage_test",
    oracle="""
    WITH pool AS (
        SELECT value, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END
                   AS g1
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    by_val AS (
        SELECT value,
               CAST(SUM(g1) AS BIGINT) AS c1,
               CAST(SUM(1 - g1) AS BIGINT) AS c0
        FROM pool GROUP BY value
    ),
    cum AS (
        SELECT c1, c0, c1 + c0 AS h,
               SUM(c1 + c0) OVER (ORDER BY value
                                  ROWS UNBOUNDED PRECEDING)
                   - (c1 + c0) AS below
        FROM by_val
    ),
    tots AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c0) AS BIGINT) AS n0
        FROM cum
    ),
    folds AS (
        SELECT
          CAST(SUM(c1 * (2 * below + h + 1)) AS BIGINT) AS w2,
          CAST(SUM(c1 * LEAST(2 * below + h + 1,
                              2 * (t.n1 + t.n0 + 1)
                              - (2 * below + h + 1))) AS BIGINT) AS ab2
        FROM cum, tots t
    )
    SELECT t.n1, t.n0,
           round((f.w2 / 2.0 - t.n1 * (t.n1 + t.n0 + 1) / 2.0)
                 / sqrt(t.n1 * 1.0 * t.n0 * (t.n1 + t.n0 + 1) / 12.0),
                 9) + 0.0 AS z_wilcoxon,
           round((f.ab2 / 2.0
                  - CASE WHEN (t.n1 + t.n0) % 2 = 0
                         THEN t.n1 * (t.n1 + t.n0 + 2) / 4.0
                         ELSE t.n1 * (t.n1 + t.n0 + 1)
                              * (t.n1 + t.n0 + 1)
                              / (4.0 * (t.n1 + t.n0)) END)
                 / sqrt(CASE WHEN (t.n1 + t.n0) % 2 = 0
                        THEN t.n1 * 1.0 * t.n0 * (t.n1 + t.n0 + 2)
                             * (t.n1 + t.n0 - 2)
                             / (48.0 * (t.n1 + t.n0 - 1))
                        ELSE t.n1 * 1.0 * t.n0 * (t.n1 + t.n0 + 1)
                             * (3.0 + (t.n1 + t.n0)
                                * (t.n1 + t.n0))
                             / (48.0 * (t.n1 + t.n0)
                                * (t.n1 + t.n0)) END), 9) + 0.0
               AS z_ansari,
           round(((f.w2 / 2.0 - t.n1 * (t.n1 + t.n0 + 1) / 2.0)
                  / sqrt(t.n1 * 1.0 * t.n0 * (t.n1 + t.n0 + 1)
                         / 12.0))
                 * ((f.w2 / 2.0 - t.n1 * (t.n1 + t.n0 + 1) / 2.0)
                    / sqrt(t.n1 * 1.0 * t.n0 * (t.n1 + t.n0 + 1)
                           / 12.0))
                 + ((f.ab2 / 2.0
                     - CASE WHEN (t.n1 + t.n0) % 2 = 0
                            THEN t.n1 * (t.n1 + t.n0 + 2) / 4.0
                            ELSE t.n1 * (t.n1 + t.n0 + 1)
                                 * (t.n1 + t.n0 + 1)
                                 / (4.0 * (t.n1 + t.n0)) END)
                    / sqrt(CASE WHEN (t.n1 + t.n0) % 2 = 0
                           THEN t.n1 * 1.0 * t.n0
                                * (t.n1 + t.n0 + 2)
                                * (t.n1 + t.n0 - 2)
                                / (48.0 * (t.n1 + t.n0 - 1))
                           ELSE t.n1 * 1.0 * t.n0
                                * (t.n1 + t.n0 + 1)
                                * (3.0 + (t.n1 + t.n0)
                                   * (t.n1 + t.n0))
                                / (48.0 * (t.n1 + t.n0)
                                   * (t.n1 + t.n0)) END))
                 * ((f.ab2 / 2.0
                     - CASE WHEN (t.n1 + t.n0) % 2 = 0
                            THEN t.n1 * (t.n1 + t.n0 + 2) / 4.0
                            ELSE t.n1 * (t.n1 + t.n0 + 1)
                                 * (t.n1 + t.n0 + 1)
                                 / (4.0 * (t.n1 + t.n0)) END)
                    / sqrt(CASE WHEN (t.n1 + t.n0) % 2 = 0
                           THEN t.n1 * 1.0 * t.n0
                                * (t.n1 + t.n0 + 2)
                                * (t.n1 + t.n0 - 2)
                                / (48.0 * (t.n1 + t.n0 - 1))
                           ELSE t.n1 * 1.0 * t.n0
                                * (t.n1 + t.n0 + 1)
                                * (3.0 + (t.n1 + t.n0)
                                   * (t.n1 + t.n0))
                                / (48.0 * (t.n1 + t.n0)
                                   * (t.n1 + t.n0)) END)), 6) + 0.0
               AS lepage_d
    FROM folds f, tots t
    """,
)
def lepage_test(spark, sf_dir):
    """Lepage's combined location-scale test D = Z_Wilcoxon^2 +
    Z_AnsariBradley^2 (click vs purchase values): the rank-test
    portmanteau for "same distribution?" when the alternative could
    be a shift, a spread change, or both — each component test (both
    separately in the registry) has power only against its own
    alternative; their squared sum is the classic omnibus, chi2(2)
    under the null. Wilcoxon uses midrank sums; Ansari-Bradley uses
    both-ends scores min(R, N+1-R), exact at distinct-value grain as
    LEAST on the 2x midrank; the parity-dependent AB moments follow
    the published even/odd-N formulas via the same CASE in both
    engines. Everything is one value-grain rollup + one cumulative +
    one fold; D is a terminal expression of two exact integers."""
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
            F.sum("g1").cast("bigint").alias("c1"),
            F.sum(1 - F.col("g1")).cast("bigint").alias("c0"),
        )
    )
    h = F.col("c1") + F.col("c0")
    cum = by_val.select(
        "c1",
        "c0",
        h.alias("h"),
        (
            F.sum(h).over(
                Window.orderBy("value").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            - h
        ).alias("below"),
    ).persist()
    tots = cum.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c0").cast("bigint").alias("n0"),
    )
    rank2 = 2 * F.col("below") + F.col("h") + 1
    ab2 = F.least(
        rank2, 2 * (F.col("n1") + F.col("n0") + 1) - rank2
    )
    folds = cum.crossJoin(F.broadcast(tots)).agg(
        F.sum(F.col("c1") * rank2).cast("bigint").alias("w2"),
        F.sum(F.col("c1") * ab2).cast("bigint").alias("ab2"),
    )
    out = folds.crossJoin(F.broadcast(tots))
    n1 = F.col("n1")
    n0 = F.col("n0")
    nn = n1 + n0
    zw = (F.col("w2") / 2.0 - n1 * (nn + 1) / 2.0) / F.sqrt(
        n1 * 1.0 * n0 * (nn + 1) / 12.0
    )
    e_ab = F.when(
        nn % 2 == 0, n1 * (nn + 2) / 4.0
    ).otherwise(n1 * (nn + 1) * (nn + 1) / (4.0 * nn))
    v_ab = F.when(
        nn % 2 == 0,
        n1 * 1.0 * n0 * (nn + 2) * (nn - 2) / (48.0 * (nn - 1)),
    ).otherwise(
        n1 * 1.0 * n0 * (nn + 1) * (3.0 + nn * nn)
        / (48.0 * nn * nn)
    )
    za = (F.col("ab2") / 2.0 - e_ab) / F.sqrt(v_ab)
    return out.select(
        "n1",
        "n0",
        (F.round(zw, 9) + 0.0).alias("z_wilcoxon"),
        (F.round(za, 9) + 0.0).alias("z_ansari"),
        (F.round(zw * zw + za * za, 6) + 0.0).alias("lepage_d"),
    )


# --------------------------------------------------------------------------
# Friedman aligned-ranks test (dow blocks x event-type treatments)
# --------------------------------------------------------------------------
@register(
    "friedman_aligned_ranks",
    oracle="""
    WITH cell AS (
        SELECT CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT)
                   AS blk,
               event_type AS trt,
               round(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                              AS BIGINT)) / (100.0 * COUNT(*)), 9)
                   AS m
        FROM events GROUP BY 1, 2
    ),
    blkmean AS (
        SELECT blk,
               round(CAST(round(SUM(CAST(m AS DECIMAL(18,9))), 9)
                     AS DOUBLE) / COUNT(*), 9) AS bm
        FROM cell GROUP BY blk
    ),
    aligned AS (
        SELECT c.blk, c.trt, round(c.m - b.bm, 9) AS a
        FROM cell c JOIN blkmean b ON c.blk = b.blk
    ),
    rk AS (
        SELECT blk, trt,
               CAST(ROW_NUMBER() OVER (ORDER BY a, trt, blk)
                    AS BIGINT) AS r
        FROM aligned
    ),
    rt AS (
        SELECT trt, CAST(SUM(r) AS BIGINT) AS rj FROM rk GROUP BY trt
    ),
    rb AS (
        SELECT blk, CAST(SUM(r) AS BIGINT) AS ri FROM rk GROUP BY blk
    ),
    dims AS (
        SELECT CAST((SELECT COUNT(*) FROM rt) AS BIGINT) AS k,
               CAST((SELECT COUNT(*) FROM rb) AS BIGINT) AS nb
    ),
    f AS (
        SELECT d.k, d.nb,
               (SELECT CAST(SUM(rj * rj) AS BIGINT) FROM rt) AS srj2,
               (SELECT CAST(SUM(ri * ri) AS BIGINT) FROM rb) AS sri2
        FROM dims d
    )
    SELECT k AS n_treatments, nb AS n_blocks,
           round((k - 1.0)
                 * (srj2 - k * nb * nb
                    * (k * nb + 1.0) * (k * nb + 1) / 4.0)
                 / (k * nb * (k * nb + 1.0) * (2 * k * nb + 1) / 6.0
                    - sri2 * 1.0 / k), 6) + 0.0 AS aligned_chi2
    FROM f
    """,
)
def friedman_aligned_ranks(spark, sf_dir):
    """Friedman ALIGNED-ranks test (Hodges-Lehmann alignment) on the
    dow-block x event-type grid of mean values: subtract each block's
    mean first, rank ALL k*n aligned values in one pooled ranking,
    then chi2 = (k-1)[sum R_j^2 - kn^2(kn+1)^2/4] / [kn(kn+1)(2kn+1)/6
    - sum R_i.^2/k]. Classic Friedman (in the registry) ranks WITHIN
    blocks and wastes the between-block information the alignment
    recovers — with only k = 5 treatments per block, that power
    difference is material. Cell means are exact cent ratios rounded
    at 1e-9; aligned values and the pooled ranking live on the
    bounded 35-cell frame with a (value, trt, blk) total order; the
    statistic is one rational expression of exact integer rank sums.
    Plan: one 35-cell rollup, one block-mean broadcast, one bounded
    rank window, two bounded folds."""
    e = t(spark, sf_dir, "events")
    cell = e.groupBy(
        ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7)
        .cast("bigint")
        .alias("blk"),
        F.col("event_type").alias("trt"),
    ).agg(
        F.round(
            F.sum((dec("value", 18, 2) * 100).cast("bigint"))
            / (100.0 * F.count(F.lit(1))),
            9,
        ).alias("m")
    )
    blkmean = cell.groupBy("blk").agg(
        F.round(
            F.round(
                F.sum(F.col("m").cast("decimal(18,9)")), 9
            ).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("bm")
    )
    aligned = cell.join(F.broadcast(blkmean), "blk").select(
        "blk",
        "trt",
        F.round(F.col("m") - F.col("bm"), 9).alias("a"),
    )
    rk = aligned.select(
        "blk",
        "trt",
        F.row_number()
        .over(Window.orderBy("a", "trt", "blk"))
        .cast("bigint")
        .alias("r"),
    ).persist()
    rt = rk.groupBy("trt").agg(F.sum("r").cast("bigint").alias("rj"))
    rb = rk.groupBy("blk").agg(F.sum("r").cast("bigint").alias("ri"))
    srj2 = rt.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.col("rj") * F.col("rj")).cast("bigint").alias("srj2"),
    )
    sri2 = rb.agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum(F.col("ri") * F.col("ri")).cast("bigint").alias("sri2"),
    )
    f = srj2.crossJoin(F.broadcast(sri2))
    k = F.col("k")
    nb = F.col("nb")
    kn = k * nb
    chi2 = (
        (k - 1.0)
        * (
            F.col("srj2")
            - k * nb * nb * (kn + 1.0) * (kn + 1) / 4.0
        )
        / (
            kn * (kn + 1.0) * (2 * kn + 1) / 6.0
            - F.col("sri2") * 1.0 / k
        )
    )
    return f.select(
        k.alias("n_treatments"),
        nb.alias("n_blocks"),
        (F.round(chi2, 6) + 0.0).alias("aligned_chi2"),
    )


# --------------------------------------------------------------------------
# Winsorized correlation of daily count vs daily value
# --------------------------------------------------------------------------
@register(
    "winsorized_correlation",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    q AS (
        SELECT quantile_cont(x, 0.1) AS xlo, quantile_cont(x, 0.9) AS xhi,
               quantile_cont(y, 0.1) AS ylo, quantile_cont(y, 0.9) AS yhi
        FROM daily
    ),
    w AS (
        SELECT round(LEAST(GREATEST(d.x * 1.0, q.xlo), q.xhi), 6) AS xw,
               round(LEAST(GREATEST(d.y * 1.0, q.ylo), q.yhi), 6) AS yw
        FROM daily d, q
    ),
    f AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(xw AS DECIMAL(28,6))) AS sx,
               SUM(CAST(yw AS DECIMAL(28,6))) AS sy,
               SUM(CAST(round(xw * xw, 6) AS DECIMAL(38,6))) AS sxx,
               SUM(CAST(round(xw * yw, 6) AS DECIMAL(38,6))) AS sxy,
               SUM(CAST(round(yw * yw, 6) AS DECIMAL(38,6))) AS syy
        FROM w
    )
    SELECT n AS n_days,
           round((n * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(n * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(n * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE)
                             * CAST(sy AS DOUBLE))), 6) + 0.0
               AS winsorized_r
    FROM f
    """,
)
def winsorized_correlation(spark, sf_dir):
    """Winsorized Pearson correlation (10/90 clamping on BOTH margins)
    between daily event count and daily revenue: the robust
    correlation that keeps Pearson's linear interpretation while
    capping the leverage any single outlier day can exert — the
    complement of Spearman (registry) which discards magnitudes
    entirely; winsorized-r vs raw-r disagreement localizes HOW much of
    an observed correlation is a few extreme days. Clamp bounds are
    the engines' interpolated percentiles broadcast into the scan;
    clamped values round at 1e-6 and all five moment folds are exact
    DECIMAL; r is one terminal expression. Plan: day rollup, one
    percentile fold, one moment fold."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        F.sum((dec("value", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("y"),
    ).persist()
    q = daily.agg(
        F.expr("percentile(x, 0.1)").alias("xlo"),
        F.expr("percentile(x, 0.9)").alias("xhi"),
        F.expr("percentile(y, 0.1)").alias("ylo"),
        F.expr("percentile(y, 0.9)").alias("yhi"),
    )
    w = daily.crossJoin(F.broadcast(q)).select(
        F.round(
            F.least(
                F.greatest(F.col("x") * 1.0, F.col("xlo")), F.col("xhi")
            ),
            6,
        ).alias("xw"),
        F.round(
            F.least(
                F.greatest(F.col("y") * 1.0, F.col("ylo")), F.col("yhi")
            ),
            6,
        ).alias("yw"),
    )
    f = w.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("xw").cast("decimal(28,6)")).alias("sx"),
        F.sum(F.col("yw").cast("decimal(28,6)")).alias("sy"),
        F.sum(
            F.round(F.col("xw") * F.col("xw"), 6).cast("decimal(38,6)")
        ).alias("sxx"),
        F.sum(
            F.round(F.col("xw") * F.col("yw"), 6).cast("decimal(38,6)")
        ).alias("sxy"),
        F.sum(
            F.round(F.col("yw") * F.col("yw"), 6).cast("decimal(38,6)")
        ).alias("syy"),
    )
    n = F.col("n")
    r = (
        n * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        F.sqrt(
            n * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        * F.sqrt(
            n * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
    )
    return f.select(
        n.alias("n_days"),
        (F.round(r, 6) + 0.0).alias("winsorized_r"),
    )


# --------------------------------------------------------------------------
# Biweight midvariance of daily revenue (Tukey robust scale)
# --------------------------------------------------------------------------
@register(
    "biweight_midvariance",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    med AS (
        SELECT round(quantile_cont(y / 100.0, 0.5), 4) AS med
        FROM daily
    ),
    madd AS (
        SELECT round(quantile_cont(abs(d.y / 100.0 - m.med), 0.5), 4)
                   AS mad
        FROM daily d, med m
    ),
    u AS (
        SELECT d.y / 100.0 - m.med AS dev,
               round((d.y / 100.0 - m.med) / (9.0 * md.mad), 12) AS ui
        FROM daily d, med m, madd md
    ),
    f AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(round(SUM(CASE WHEN abs(ui) < 1.0
                   THEN CAST(round(dev * dev
                        * (1.0 - ui * ui) * (1.0 - ui * ui)
                        * (1.0 - ui * ui) * (1.0 - ui * ui), 6)
                        AS DECIMAL(38,6)) END), 6) AS DOUBLE) AS num,
               CAST(round(SUM(CASE WHEN abs(ui) < 1.0
                   THEN CAST(round((1.0 - ui * ui)
                        * (1.0 - 5.0 * ui * ui), 9)
                        AS DECIMAL(28,9)) END), 9) AS DOUBLE) AS den
        FROM u
    )
    SELECT f.n AS n_days,
           m.med AS median_revenue,
           md.mad AS mad_revenue,
           round(f.n * f.num / (f.den * f.den), 4) AS biweight_midvar,
           round(sqrt(f.n * f.num / (f.den * f.den)), 4)
               AS biweight_scale
    FROM f, med m, madd md
    """,
)
def biweight_midvariance(spark, sf_dir):
    """Tukey's biweight midvariance of daily revenue: a 9-MAD-bandwidth
    redescending M-estimator of scale — observations beyond 9 MADs get
    ZERO weight, so unlike the sample variance (breakdown 0) or even
    the MAD (efficiency 37%) it combines a high breakdown point with
    ~87% Gaussian efficiency; the scale estimate a robust anomaly band
    should actually use. BWMV = n sum d^2(1-u^2)^4 / [sum
    (1-u^2)(1-5u^2)]^2 over |u| < 1 with u = d/(9 MAD). Median and MAD
    are interpolated percentiles rounded at 1e-4 and broadcast;
    u rounds at 1e-12, the numerator/denominator terms at 1e-6/1e-9
    before DECIMAL folds; outputs are terminal expressions. Plan: day
    rollup, two percentile folds (median then MAD of deviations), one
    weighted fold."""
    daily = daily_order_cents(spark, sf_dir).persist()
    med = daily.agg(
        F.round(F.expr("percentile(y / 100.0, 0.5)"), 4).alias("med")
    )
    madd = daily.crossJoin(F.broadcast(med)).agg(
        F.round(
            F.expr("percentile(abs(y / 100.0 - med), 0.5)"), 4
        ).alias("mad")
    )
    u = (
        daily.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(madd))
        .select(
            (F.col("y") / 100.0 - F.col("med")).alias("dev"),
            F.round(
                (F.col("y") / 100.0 - F.col("med"))
                / (9.0 * F.col("mad")),
                12,
            ).alias("ui"),
        )
    )
    one_u2 = 1.0 - F.col("ui") * F.col("ui")
    f = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum(
                F.when(
                    F.abs(F.col("ui")) < 1.0,
                    F.round(
                        F.col("dev") * F.col("dev")
                        * one_u2 * one_u2 * one_u2 * one_u2,
                        6,
                    ).cast("decimal(38,6)"),
                )
            ),
            6,
        )
        .cast("double")
        .alias("num"),
        F.round(
            F.sum(
                F.when(
                    F.abs(F.col("ui")) < 1.0,
                    F.round(
                        one_u2 * (1.0 - 5.0 * F.col("ui") * F.col("ui")),
                        9,
                    ).cast("decimal(28,9)"),
                )
            ),
            9,
        )
        .cast("double")
        .alias("den"),
    )
    bwmv = F.col("n") * F.col("num") / (F.col("den") * F.col("den"))
    return (
        f.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(madd))
        .select(
            F.col("n").alias("n_days"),
            F.col("med").alias("median_revenue"),
            F.col("mad").alias("mad_revenue"),
            F.round(bwmv, 4).alias("biweight_midvar"),
            F.round(F.sqrt(bwmv), 4).alias("biweight_scale"),
        )
    )


# --------------------------------------------------------------------------
# Rousseeuw-Croux Sn robust scale (pairwise median of medians)
# --------------------------------------------------------------------------
@register(
    "rousseeuw_sn_scale",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    pm AS (
        SELECT a.day,
               round(quantile_cont(abs(a.y - b.y) / 100.0, 0.5), 4)
                   AS medj
        FROM daily a JOIN daily b ON a.day <> b.day
        GROUP BY a.day
    ),
    f AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               round(quantile_cont(medj, 0.5), 4) AS mm
        FROM pm
    )
    SELECT n AS n_days,
           round(1.1926 * mm, 4) AS sn_scale
    FROM f
    """,
)
def rousseeuw_sn_scale(spark, sf_dir):
    """Rousseeuw-Croux Sn estimator of scale for daily revenue: Sn =
    1.1926 * med_i( med_j |x_i - x_j| ) — the 50%-breakdown robust
    scale that, unlike the MAD, needs NO location estimate and keeps
    ~58% Gaussian efficiency (MAD: 37%) while remaining meaningful for
    ASYMMETRIC distributions (the MAD implicitly assumes symmetry
    around the median). Pairwise |differences| are exact integer
    cents; both median layers are interpolated percentiles on
    1e-4-rounded values; the O(d^2) pair frame is calendar-bounded
    (the siegel_repeated_medians discipline — days don't grow with
    data volume). Plan: day rollup, one bounded self-join, two
    percentile folds."""
    daily = daily_order_cents(spark, sf_dir).persist()
    b = daily.select(
        F.col("day").alias("day2"), F.col("y").alias("y2")
    )
    pm = (
        daily.join(F.broadcast(b), F.col("day") != F.col("day2"))
        .groupBy("day")
        .agg(
            F.round(
                F.expr("percentile(abs(y - y2) / 100.0, 0.5)"), 4
            ).alias("medj")
        )
    )
    f = pm.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.expr("percentile(medj, 0.5)"), 4).alias("mm"),
    )
    return f.select(
        F.col("n").alias("n_days"),
        F.round(1.1926 * F.col("mm"), 4).alias("sn_scale"),
    )


# --------------------------------------------------------------------------
# CUSUM-of-squares variance-stability scan (Brown-Durbin-Evans)
# --------------------------------------------------------------------------
@register(
    "cusum_squares_variance",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s
        FROM daily
    ),
    e AS (
        SELECT day,
               CAST(round((y - m.s * 1.0 / m.n)
                          * (y - m.s * 1.0 / m.n) / 1.0e8, 9)
                    AS DECIMAL(38,9)) AS e2,
               CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i,
               m.n
        FROM daily, m
    ),
    cs AS (
        SELECT day, i, n,
               SUM(e2) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                   AS cum,
               SUM(e2) OVER () AS tot
        FROM e
    ),
    dev AS (
        SELECT day, n,
               round(abs(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE)
                         - i * 1.0 / n), 9) AS d
        FROM cs
    ),
    mx AS (SELECT MAX(d) AS mxd FROM dev)
    SELECT (SELECT CAST(MAX(n) AS BIGINT) FROM dev) AS n_days,
           round(mx.mxd, 6) AS cusumsq_stat,
           CAST((SELECT MIN(day) FROM dev, mx
                 WHERE dev.d = mx.mxd) AS BIGINT) AS argmax_day
    FROM mx
    """,
)
def cusum_squares_variance(spark, sf_dir):
    """CUSUM-of-squares (Brown-Durbin-Evans) variance-stability scan
    on daily revenue: S_r = cumulative squared deviation share vs the
    uniform line r/n, reporting max |S_r - r/n| and the day attaining
    it — the VARIANCE-change companion of the registry's level-change
    scans (CUSUM/Pettitt/SNHT detect mean shifts; CUSUMSQ detects
    volatility-regime breaks those miss entirely). Squared deviations
    from the pinned mean are rounded at 1e-9 (scaled by 1e8 cents^2)
    and folded in DECIMAL, so the cumulative shares are
    identical-input divisions; the argmax day tie-breaks by MIN(day).
    Plan: day rollup, two windows over the calendar frame, one max
    fold."""
    daily = daily_order_cents(spark, sf_dir)
    m = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
    )
    dev_ = F.col("y") - F.col("s") * 1.0 / F.col("n")
    e = daily.crossJoin(F.broadcast(m)).select(
        "day",
        "n",
        F.round(dev_ * dev_ / 1.0e8, 9)
        .cast("decimal(38,9)")
        .alias("e2"),
        F.row_number().over(Window.orderBy("day")).cast("bigint")
        .alias("i"),
    )
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cs = e.select(
        "day",
        "i",
        "n",
        F.sum("e2").over(wcum).alias("cum"),
        F.sum("e2").over(wall).alias("tot"),
    )
    dev = cs.select(
        "day",
        "n",
        F.round(
            F.abs(
                F.col("cum").cast("double") / F.col("tot").cast("double")
                - F.col("i") * 1.0 / F.col("n")
            ),
            9,
        ).alias("d"),
    ).persist()
    mx = dev.agg(F.max("d").alias("mxd"))
    arg = (
        dev.crossJoin(F.broadcast(mx))
        .where(F.col("d") == F.col("mxd"))
        .agg(
            F.max("n").cast("bigint").alias("n_days"),
            F.min("day").cast("bigint").alias("argmax_day"),
        )
    )
    return arg.crossJoin(F.broadcast(mx)).select(
        "n_days",
        F.round(F.col("mxd"), 6).alias("cusumsq_stat"),
        "argmax_day",
    )


# --------------------------------------------------------------------------
# Zhang's clumpiness index of per-user event timing
# --------------------------------------------------------------------------
@register(
    "clumpiness_index_users",
    oracle="""
    WITH bounds AS (
        SELECT MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1
        FROM events
    ),
    gaps AS (
        SELECT user_id,
               epoch_us(ts) - COALESCE(LAG(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id),
                   (SELECT t0 FROM bounds)) AS gap,
               COUNT(*) OVER (PARTITION BY user_id) AS n_ev
        FROM events
    ),
    tail AS (
        SELECT user_id,
               (SELECT t1 FROM bounds) - MAX(epoch_us(ts)) AS gap,
               CAST(MAX(cnt) AS BIGINT) AS n_ev
        FROM (SELECT user_id, ts,
                     COUNT(*) OVER (PARTITION BY user_id) AS cnt
              FROM events) GROUP BY user_id
    ),
    allgaps AS (
        SELECT user_id, gap, n_ev FROM gaps
        UNION ALL
        SELECT user_id, gap, n_ev FROM tail
    ),
    hp AS (
        SELECT user_id,
               CAST(MAX(n_ev) AS BIGINT) AS n_ev,
               round(1.0
                     + CAST(round(SUM(CASE WHEN gap > 0 THEN
                       CAST(round((gap / ((SELECT t1 FROM bounds)
                                          - (SELECT t0 FROM bounds)
                                          * 1.0))
                            * ln(gap / ((SELECT t1 FROM bounds)
                                        - (SELECT t0 FROM bounds)
                                        * 1.0)), 12)
                            AS DECIMAL(20,12)) ELSE NULL END), 12)
                       AS DOUBLE)
                       / ln(MAX(n_ev) + 1.0), 9) AS c
        FROM allgaps
        GROUP BY user_id
        HAVING MAX(n_ev) >= 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           round(CAST(round(SUM(CAST(round(c, 9) AS DECIMAL(28,9))), 9)
                 AS DOUBLE) / COUNT(*), 6) AS mean_clumpiness,
           round(quantile_cont(c, 0.9), 6) AS p90_clumpiness
    FROM hp
    """,
)
def clumpiness_index_users(spark, sf_dir):
    """Zhang-Bradlow-Small clumpiness index per user: with the n+1
    normalized inter-event gaps over the corpus window (boundary gaps
    included), Hp = 1 + sum x ln x / ln(n+1) — 0 for perfectly even
    visits, ->1 for one burst; reported as the user mean and p90. The
    CRM literature's third behavioral axis after recency/frequency
    (RFM is in the registry): two users with identical R and F but
    different clumpiness have measurably different churn risk. Gaps
    are exact integer microseconds against broadcast corpus bounds;
    x ln x terms round at 1e-12 and fold in DECIMAL per user; the
    corpus summary folds rounded per-user indices. Plan: one
    user-partitioned lag pass + one boundary-gap rollup, a user fold,
    one percentile fold."""
    e = t(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.max(F.unix_micros("ts")).alias("t1"),
    )
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = e.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        (us - F.coalesce(F.lag(us).over(wu), F.col("t0"))).alias(
            "gap"
        ),
        F.count(F.lit(1))
        .over(Window.partitionBy("user_id"))
        .alias("n_ev"),
        "t0",
        "t1",
    )
    tail = (
        e.groupBy("user_id")
        .agg(
            F.max(us).alias("mx"),
            F.count(F.lit(1)).alias("n_ev"),
        )
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            (F.col("t1") - F.col("mx")).alias("gap"),
            "n_ev",
            "t0",
            "t1",
        )
    )
    allgaps = gaps.unionByName(tail)
    span = F.col("t1") - F.col("t0") * 1.0
    x = F.col("gap") / span
    hp = (
        allgaps.groupBy("user_id")
        .agg(
            F.max("n_ev").cast("bigint").alias("n_ev"),
            F.round(
                1.0
                + F.round(
                    F.sum(
                        F.when(
                            F.col("gap") > 0,
                            F.round(x * F.log(x), 12).cast(
                                "decimal(20,12)"
                            ),
                        )
                    ),
                    12,
                ).cast("double")
                / F.log(F.max("n_ev") + 1.0),
                9,
            ).alias("c"),
        )
        .where(F.col("n_ev") >= 2)
    )
    return hp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.round(
            F.round(
                F.sum(F.round(F.col("c"), 9).cast("decimal(28,9)")), 9
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_clumpiness"),
        F.round(F.expr("percentile(c, 0.9)"), 6).alias(
            "p90_clumpiness"
        ),
    )


# --------------------------------------------------------------------------
# Gries' deviation of proportions (DP) dispersion for top terms
# --------------------------------------------------------------------------
@register(
    "gries_dp_dispersion",
    oracle="""
    WITH tc AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT source, UNNEST(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY 1, 2
    ),
    srcsz AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS s FROM tc
        GROUP BY source
    ),
    corpus AS (SELECT CAST(SUM(s) AS BIGINT) AS tot FROM srcsz),
    term AS (
        SELECT w, CAST(SUM(c) AS BIGINT) AS f FROM tc GROUP BY w
    ),
    top AS (
        SELECT w, f FROM term ORDER BY f DESC, w ASC LIMIT 20
    ),
    grid AS (
        SELECT top.w, top.f, sz.source, sz.s,
               COALESCE(tc.c, 0) AS v
        FROM top CROSS JOIN srcsz sz
        LEFT JOIN tc ON tc.w = top.w AND tc.source = sz.source
    )
    SELECT w AS term, f AS n_occurrences,
           round(CAST(round(SUM(CAST(round(
                 abs(v * 1.0 / f - s * 1.0 / corpus.tot), 12)
                 AS DECIMAL(20,12))), 12) AS DOUBLE) / 2.0, 6)
               AS gries_dp
    FROM grid, corpus
    GROUP BY w, f, corpus.tot
    ORDER BY n_occurrences DESC, term ASC
    """,
)
def gries_dp_dispersion(spark, sf_dir):
    """Gries' Deviation of Proportions (DP) for the top-20 corpus
    terms: DP = 1/2 sum_s |term share in source s - source s's size
    share| — 0 when the term distributes exactly like the corpus
    (function word), ->1 when it concentrates in one source. The
    modern corpus-linguistics dispersion standard (Gries 2008) that
    fixed Juilland's D's known insensitivity to unequal corpus-part
    sizes — this bank carries both precisely because they disagree on
    size-skewed corpora, and the data's sources ARE size-skewed.
    Zero-count (term, source) cells enter via the bounded grid; every
    share is a ratio of exact integers rounded at 1e-12 and folded in
    DECIMAL over the source domain; top-k rides the (freq, term)
    total order. Plan: one (source, term) rollup, TakeOrdered 20,
    bounded grid join, one fold per term."""
    d = t(spark, sf_dir, "documents")
    tc = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ).persist()
    srcsz = tc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("s")
    )
    corpus = srcsz.agg(F.sum("s").cast("bigint").alias("tot"))
    term = tc.groupBy("w").agg(F.sum("c").cast("bigint").alias("f"))
    top = term.orderBy(F.col("f").desc(), F.col("w").asc()).limit(20)
    grid = (
        top.crossJoin(F.broadcast(srcsz))
        .join(tc, ["w", "source"], "left")
        .select(
            "w",
            "f",
            "s",
            F.coalesce(F.col("c"), F.lit(0)).alias("v"),
        )
    )
    return (
        grid.crossJoin(F.broadcast(corpus))
        .groupBy(F.col("w").alias("term"), F.col("f").alias("n_occurrences"))
        .agg(
            F.round(
                F.round(
                    F.sum(
                        F.round(
                            F.abs(
                                F.col("v") * 1.0 / F.col("f")
                                - F.col("s") * 1.0 / F.col("tot")
                            ),
                            12,
                        ).cast("decimal(20,12)")
                    ),
                    12,
                ).cast("double")
                / 2.0,
                6,
            ).alias("gries_dp")
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("term").asc())
    )


# --------------------------------------------------------------------------
# Pickands tail-index estimator for order totals
# --------------------------------------------------------------------------
@register(
    "pickands_tail_estimator",
    oracle="""
    WITH v AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS x
        FROM orders
    ),
    q AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               round(quantile_cont(x, 0.875) / 100.0, 4) AS q875,
               round(quantile_cont(x, 0.75) / 100.0, 4) AS q75,
               round(quantile_cont(x, 0.5) / 100.0, 4) AS q50
        FROM v
    )
    SELECT n AS n_orders, q875, q75, q50,
           round(ln((q875 - q75) / (q75 - q50)) / ln(2.0), 6) + 0.0
               AS pickands_xi
    FROM q
    """,
)
def pickands_tail_estimator(spark, sf_dir):
    """Pickands' estimator of the extreme-value tail index xi for
    order totals: xi = ln((Q(7/8) - Q(3/4)) / (Q(3/4) - Q(1/2))) /
    ln 2 — quantile-spacing based, so unlike the registry's Hill
    estimator it is valid for ALL three EVT domains (xi > 0 heavy,
    = 0 light, < 0 bounded tails), and Hill-vs-Pickands disagreement
    is itself the "is the tail really Pareto?" diagnostic. The three
    quantiles are the engines' interpolated percentiles on exact
    integer cents, rounded at 1e-4 before the single ln ratio. Plan:
    one scan projection, one percentile fold, one scalar select."""
    o = t(spark, sf_dir, "orders")
    v = o.select(
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("x")
    )
    q = v.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.expr("percentile(x, 0.875)") / 100.0, 4).alias(
            "q875"
        ),
        F.round(F.expr("percentile(x, 0.75)") / 100.0, 4).alias("q75"),
        F.round(F.expr("percentile(x, 0.5)") / 100.0, 4).alias("q50"),
    )
    return q.select(
        F.col("n").alias("n_orders"),
        "q875",
        "q75",
        "q50",
        (
            F.round(
                F.log(
                    (F.col("q875") - F.col("q75"))
                    / (F.col("q75") - F.col("q50"))
                )
                / F.log(F.lit(2.0)),
                6,
            )
            + 0.0
        ).alias("pickands_xi"),
    )


# --------------------------------------------------------------------------
# Acerbi-Szekely expected-shortfall backtest (split-sample)
# --------------------------------------------------------------------------
@register(
    "es_backtest_acerbi",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    chg AS (
        SELECT day,
               round((LAG(y) OVER (ORDER BY day) - y) / 100.0, 2)
                   AS loss
        FROM daily
        QUALIFY loss IS NOT NULL
    ),
    split AS (
        SELECT CAST(floor(quantile_cont(day, 0.5)) AS BIGINT) AS mid
        FROM chg
    ),
    est AS (
        SELECT round(quantile_cont(loss, 0.95), 2) AS var95
        FROM chg, split WHERE day <= split.mid
    ),
    es AS (
        SELECT round(CAST(round(SUM(CAST(loss AS DECIMAL(18,2))), 2)
                     AS DOUBLE) / COUNT(*), 4) AS es95
        FROM chg, split, est
        WHERE day <= split.mid AND loss >= est.var95
    ),
    test AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN c.loss > est.var95
                        THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(round(SUM(CASE WHEN c.loss > est.var95
                          THEN CAST(c.loss AS DECIMAL(18,2)) END), 2)
                    AS DOUBLE) AS viol_sum
        FROM chg c, split, est WHERE c.day > split.mid
        GROUP BY est.var95
    )
    SELECT t.n AS n_test_days, t.x AS n_violations,
           e.es95 AS es_estimate,
           CASE WHEN t.x = 0 THEN NULL
                ELSE round(COALESCE(t.viol_sum, 0.0)
                           / (t.n * 0.05 * e.es95) - 1.0, 6) + 0.0
           END AS acerbi_z2
    FROM test t, es e
    """,
)
def es_backtest_acerbi(spark, sf_dir):
    """Acerbi-Szekely Z2 backtest of the expected-shortfall estimate:
    ES95 is fitted as the mean beyond VaR95 on the first half of the
    loss series, and Z2 = sum(test-half losses beyond VaR) /
    (n * alpha * ES) - 1 should sit near 0 when the tail SEVERITY
    model is right — the Basel-FRTB companion of the Kupiec POF test
    (this bank), which only checks violation FREQUENCY; together they
    separate "too many exceptions" from "exceptions too deep". All
    losses are exact 2-rounded cents differences; ES and the
    violation sum are DECIMAL folds; Z2 is one terminal expression
    (NULL when the test half has no violations — same rule both
    engines). Plan: day rollup, lag, split percentile, two tail
    folds."""
    daily = daily_order_cents(spark, sf_dir)
    chg = daily.select(
        "day",
        F.round(
            (F.lag("y").over(Window.orderBy("day")) - F.col("y"))
            / 100.0,
            2,
        ).alias("loss"),
    ).where(F.col("loss").isNotNull()).persist()
    split = chg.agg(
        F.floor(F.expr("percentile(day, 0.5)"))
        .cast("bigint")
        .alias("mid")
    )
    est = (
        chg.crossJoin(F.broadcast(split))
        .where(F.col("day") <= F.col("mid"))
        .agg(F.round(F.expr("percentile(loss, 0.95)"), 2).alias("var95"))
    )
    es = (
        chg.crossJoin(F.broadcast(split))
        .crossJoin(F.broadcast(est))
        .where(
            (F.col("day") <= F.col("mid"))
            & (F.col("loss") >= F.col("var95"))
        )
        .agg(
            F.round(
                F.round(
                    F.sum(F.col("loss").cast("decimal(18,2)")), 2
                ).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("es95")
        )
    )
    test = (
        chg.crossJoin(F.broadcast(split))
        .crossJoin(F.broadcast(est))
        .where(F.col("day") > F.col("mid"))
        .groupBy("var95")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("loss") > F.col("var95"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("x"),
            F.round(
                F.sum(
                    F.when(
                        F.col("loss") > F.col("var95"),
                        F.col("loss").cast("decimal(18,2)"),
                    )
                ),
                2,
            )
            .cast("double")
            .alias("viol_sum"),
        )
    )
    return test.crossJoin(F.broadcast(es)).select(
        F.col("n").alias("n_test_days"),
        F.col("x").alias("n_violations"),
        F.col("es95").alias("es_estimate"),
        F.when(F.col("x") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.coalesce(F.col("viol_sum"), F.lit(0.0))
                / (F.col("n") * 0.05 * F.col("es95"))
                - 1.0,
                6,
            )
            + 0.0
        )
        .alias("acerbi_z2"),
    )


# --------------------------------------------------------------------------
# Zipf-Mandelbrot fit of the corpus rank-frequency curve
# --------------------------------------------------------------------------
_ZM_QS = list(range(11))  # Mandelbrot offset grid


@register(
    "zipf_mandelbrot_fit",
    oracle=f"""
    WITH tc AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS f
        FROM (SELECT UNNEST(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY w
    ),
    rk AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY f DESC, w ASC)
                    AS BIGINT) AS r,
               round(ln(f * 1.0), 9) AS lf
        FROM tc
    ),
    grid AS (
        SELECT q.q, rk.r, rk.lf,
               round(ln(rk.r + q.q * 1.0), 9) AS lx
        FROM rk, (SELECT UNNEST(range({len(_ZM_QS)})) AS q) q
    ),
    fit AS (
        SELECT q,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(lx AS DECIMAL(28,9))) AS sx,
               SUM(CAST(lf AS DECIMAL(28,9))) AS sy,
               SUM(CAST(round(lx * lx, 9) AS DECIMAL(38,9))) AS sxx,
               SUM(CAST(round(lx * lf, 9) AS DECIMAL(38,9))) AS sxy,
               SUM(CAST(round(lf * lf, 9) AS DECIMAL(38,9))) AS syy
        FROM grid GROUP BY q
    ),
    scored AS (
        SELECT q,
               round((n * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (n * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                     9) AS slope,
               round((n * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     * (n * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / ((n * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (n * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE)
                             * CAST(sy AS DOUBLE))), 9) AS r2
        FROM fit
    )
    SELECT CAST(q AS BIGINT) AS q_offset,
           -slope + 0.0 AS s_exponent,
           r2 + 0.0 AS r2
    FROM scored
    ORDER BY r2 DESC, q ASC LIMIT 1
    """,
)
def zipf_mandelbrot_fit(spark, sf_dir):
    """Zipf-Mandelbrot fit of the rank-frequency curve: ln f = ln C -
    s ln(r + q), with the Mandelbrot offset q chosen from the 0..10
    grid by best OLS R^2 (q = 0 recovers pure Zipf, which the
    registry's zipf_slope_tokens fits). The offset is what actually
    models the FLAT HEAD of real rank-frequency curves — a corpus
    whose best q is large has a function-word plateau pure Zipf
    misfits, which biases any vocabulary-size extrapolation made from
    the slope. Ranks ride the (freq desc, term) total order on the
    bounded vocabulary; ln terms round at 1e-9; the 11 OLS fits fold
    exact DECIMAL moments per q; the winner carries the (r2, q) total
    order. Plan: vocab rollup, bounded rank window, an 11x grid
    cross, one fold per q, TakeOrdered 1."""
    d = t(spark, sf_dir, "documents")
    tc = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    rk = tc.select(
        F.row_number()
        .over(Window.orderBy(F.col("f").desc(), F.col("w").asc()))
        .cast("bigint")
        .alias("r"),
        F.round(F.log(F.col("f") * 1.0), 9).alias("lf"),
    )
    qs = spark.range(len(_ZM_QS)).select(F.col("id").alias("q"))
    grid = rk.crossJoin(F.broadcast(qs)).select(
        "q",
        "lf",
        F.round(F.log(F.col("r") + F.col("q") * 1.0), 9).alias("lx"),
    )
    fit = grid.groupBy("q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("lx").cast("decimal(28,9)")).alias("sx"),
        F.sum(F.col("lf").cast("decimal(28,9)")).alias("sy"),
        F.sum(
            F.round(F.col("lx") * F.col("lx"), 9).cast("decimal(38,9)")
        ).alias("sxx"),
        F.sum(
            F.round(F.col("lx") * F.col("lf"), 9).cast("decimal(38,9)")
        ).alias("sxy"),
        F.sum(
            F.round(F.col("lf") * F.col("lf"), 9).cast("decimal(38,9)")
        ).alias("syy"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    num = n * sxy - sx * sy
    scored = fit.select(
        "q",
        F.round(num / (n * sxx - sx * sx), 9).alias("slope"),
        F.round(
            num * num / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 9
        ).alias("r2"),
    )
    return (
        scored.orderBy(F.col("r2").desc(), F.col("q").asc())
        .limit(1)
        .select(
            F.col("q").cast("bigint").alias("q_offset"),
            (-F.col("slope") + 0.0).alias("s_exponent"),
            (F.col("r2") + 0.0).alias("r2"),
        )
    )


# --------------------------------------------------------------------------
# Church-Gale term burstiness (Fano factor over documents)
# --------------------------------------------------------------------------
@register(
    "term_burstiness_fano",
    oracle="""
    WITH dc AS (
        SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY 1, 2
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    term AS (
        SELECT w,
               CAST(SUM(c) AS BIGINT) AS f,
               CAST(SUM(c * c) AS BIGINT) AS f2,
               CAST(COUNT(*) AS BIGINT) AS df
        FROM dc GROUP BY w
    ),
    top AS (
        SELECT w, f, f2, df FROM term
        ORDER BY f DESC, w ASC LIMIT 20
    )
    SELECT w AS term, f AS n_occurrences, df AS doc_freq,
           round(((f2 - f * 1.0 * f / nd.n) / (nd.n - 1.0))
                 / (f * 1.0 / nd.n), 6) AS fano_factor,
           round(f * 1.0 / df, 6) AS mean_burst_size
    FROM top, nd
    ORDER BY n_occurrences DESC, term ASC
    """,
)
def term_burstiness_fano(spark, sf_dir):
    """Church-Gale burstiness for the top-20 terms: the Fano factor
    (variance/mean of the term's per-DOCUMENT count, zeros included
    via the moment identity — no zero rows materialized) and the mean
    burst size f/df. Fano ~ 1 means the term arrives Poisson-like
    (function word); Fano >> 1 means it clumps into few documents
    (content word) — the lexical analogue of the event-timing
    burstiness panel, and the statistic underneath why tf-idf works.
    All moments are exact integers (f, f^2-sum, df, N); each output
    is one terminal expression. Plan: one (doc, term) rollup, one
    term rollup, TakeOrdered 20, broadcast doc count."""
    d = t(spark, sf_dir, "documents")
    dc = (
        d.select(
            "doc_id", F.explode(F.split("text", " ")).alias("w")
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    nd = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    term = dc.groupBy("w").agg(
        F.sum("c").cast("bigint").alias("f"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("f2"),
        F.count(F.lit(1)).cast("bigint").alias("df"),
    )
    top = term.orderBy(F.col("f").desc(), F.col("w").asc()).limit(20)
    n = F.col("n")
    fano = (
        (F.col("f2") - F.col("f") * 1.0 * F.col("f") / n) / (n - 1.0)
    ) / (F.col("f") * 1.0 / n)
    return (
        top.crossJoin(F.broadcast(nd))
        .select(
            F.col("w").alias("term"),
            F.col("f").alias("n_occurrences"),
            F.col("df").alias("doc_freq"),
            F.round(fano, 6).alias("fano_factor"),
            F.round(F.col("f") * 1.0 / F.col("df"), 6).alias(
                "mean_burst_size"
            ),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("term").asc())
    )


# --------------------------------------------------------------------------
# Morisita-Horn abundance overlap between source pairs
# --------------------------------------------------------------------------
@register(
    "morisita_horn_sources",
    oracle="""
    WITH tc AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT source, UNNEST(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY 1, 2
    ),
    sz AS (
        SELECT source,
               CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c * c) AS BIGINT) AS c2
        FROM tc GROUP BY source
    ),
    cross_ AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(SUM(a.c * b.c) AS BIGINT) AS xy
        FROM tc a JOIN tc b
          ON a.w = b.w AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT c.src_a, c.src_b,
           round(2.0 * c.xy
                 / ((sa.c2 * 1.0 / (sa.n * 1.0 * sa.n)
                     + sb.c2 * 1.0 / (sb.n * 1.0 * sb.n))
                    * sa.n * sb.n), 9) AS morisita_horn
    FROM cross_ c
    JOIN sz sa ON c.src_a = sa.source
    JOIN sz sb ON c.src_b = sb.source
    ORDER BY src_a, src_b
    """,
)
def morisita_horn_sources(spark, sf_dir):
    """Morisita-Horn abundance overlap for every source pair: CMH =
    2 sum(x_i y_i) / ((sum x^2/X^2 + sum y^2/Y^2) X Y) — ecology's
    sample-size-robust community-overlap index, here over term
    abundances. Unlike Jaccard (presence-only, in the registry) it
    weights by frequency, and unlike cosine it is nearly unbiased
    under unequal sample sizes — which is exactly the regime of this
    corpus's skewed sources; the standard pick for "are these two
    crawl slices the same distribution of content". Every fold is an
    exact integer (cross products via a token-keyed equi-join, never
    all-pairs); the index is one terminal expression per pair. Plan:
    one (source, term) rollup, a token-keyed triangular join, one
    190-row fold."""
    d = t(spark, sf_dir, "documents")
    tc = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ).persist()
    sz = tc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("c2"),
    )
    a = tc.select(
        F.col("source").alias("src_a"), "w", F.col("c").alias("ca")
    )
    b = tc.select(
        F.col("source").alias("src_b"),
        F.col("w").alias("wb"),
        F.col("c").alias("cb"),
    )
    crossed = (
        a.join(b, (a.w == b.wb) & (F.col("src_a") < F.col("src_b")))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("xy")
        )
    )
    sa = sz.select(
        F.col("source").alias("src_a"),
        F.col("n").alias("na"),
        F.col("c2").alias("c2a"),
    )
    sb = sz.select(
        F.col("source").alias("src_b"),
        F.col("n").alias("nb"),
        F.col("c2").alias("c2b"),
    )
    mh = 2.0 * F.col("xy") / (
        (
            F.col("c2a") * 1.0 / (F.col("na") * 1.0 * F.col("na"))
            + F.col("c2b") * 1.0 / (F.col("nb") * 1.0 * F.col("nb"))
        )
        * F.col("na")
        * F.col("nb")
    )
    return (
        crossed.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.round(mh, 9).alias("morisita_horn"),
        )
        .orderBy("src_a", "src_b")
    )


# --------------------------------------------------------------------------
# Directed vocabulary containment (Broder) for the top source pairs
# --------------------------------------------------------------------------
@register(
    "vocab_containment_topk",
    oracle="""
    WITH tv AS (
        SELECT DISTINCT source, w
        FROM (SELECT source, UNNEST(string_split(text, ' ')) AS w
              FROM documents)
    ),
    sz AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS v FROM tv
        GROUP BY source
    ),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS i
        FROM tv a JOIN tv b ON a.w = b.w AND a.source <> b.source
        GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b,
           sa.v AS vocab_a,
           round(i.i * 1.0 / sa.v, 9) AS containment_a_in_b
    FROM inter i
    JOIN sz sa ON i.src_a = sa.source
    ORDER BY containment_a_in_b DESC, src_a ASC, src_b ASC
    LIMIT 20
    """,
)
def vocab_containment_topk(spark, sf_dir):
    """Broder's directed containment C(A, B) = |A intersect B| / |A|
    over source vocabularies, top-20 most-contained ordered pairs:
    the ASYMMETRIC near-duplicate measure — a small source fully
    swallowed by a big one has Jaccard near 0 (the registry's
    symmetric vocab overlap misses it) but containment 1, which is
    exactly the subset-scrape signature a dedup pipeline must rank
    by direction. Type sets are exact distinct rollups; the
    intersection is a token-keyed equi-join (never all-pairs);
    containment is one integer ratio; top-k carries the full
    (value, pair) total order. Plan: one distinct rollup, one
    token-keyed join, 380-row directed fold, TakeOrdered 20."""
    d = t(spark, sf_dir, "documents")
    tv = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .distinct()
    ).persist()
    sz = tv.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("v")
    )
    a = tv.select(F.col("source").alias("src_a"), "w")
    b = tv.select(
        F.col("source").alias("src_b"), F.col("w").alias("wb")
    )
    inter = (
        a.join(
            b, (a.w == b.wb) & (F.col("src_a") != F.col("src_b"))
        )
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("i"))
    )
    sa = sz.select(
        F.col("source").alias("src_a"), F.col("v").alias("vocab_a")
    )
    return (
        inter.join(F.broadcast(sa), "src_a")
        .select(
            "src_a",
            "src_b",
            "vocab_a",
            F.round(F.col("i") * 1.0 / F.col("vocab_a"), 9).alias(
                "containment_a_in_b"
            ),
        )
        .orderBy(
            F.col("containment_a_in_b").desc(),
            F.col("src_a").asc(),
            F.col("src_b").asc(),
        )
        .limit(20)
    )


# --------------------------------------------------------------------------
# Hawkes branching-ratio moment estimate from hourly count overdispersion
# --------------------------------------------------------------------------
@register(
    "hawkes_branching_moment",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    span AS (
        SELECT CAST(MIN(hr) AS BIGINT) AS h0,
               CAST(MAX(hr) AS BIGINT) AS h1
        FROM hourly
    ),
    g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS nz,
               CAST(SUM(c) AS BIGINT) AS s1,
               CAST(SUM(c * c) AS BIGINT) AS s2
        FROM hourly GROUP BY event_type
    ),
    f AS (
        SELECT g.event_type, g.s1,
               (sp.h1 - sp.h0 + 1) AS nh,
               round(((g.s2 - g.s1 * 1.0 * g.s1 / (sp.h1 - sp.h0 + 1))
                      / (sp.h1 - sp.h0 + 0.0))
                     / (g.s1 * 1.0 / (sp.h1 - sp.h0 + 1)), 9)
                   AS fano
        FROM g, span sp
    )
    SELECT event_type,
           CAST(nh AS BIGINT) AS n_hours,
           s1 AS n_events,
           fano + 0.0 AS fano_factor,
           CASE WHEN fano <= 1.0 THEN 0.0
                ELSE round(1.0 - 1.0 / sqrt(fano), 6) END
               AS branching_ratio
    FROM f ORDER BY event_type
    """,
)
def hawkes_branching_moment(spark, sf_dir):
    """Moment-based Hawkes branching-ratio estimate per event type
    from hourly count overdispersion: for a Hawkes process with
    Poisson immigration, the large-window Fano factor satisfies F =
    1/(1-n)^2, so n = 1 - 1/sqrt(F) (floored at 0 when counts are
    under-dispersed). n is the fraction of events CAUSED BY OTHER
    EVENTS rather than exogenous arrivals — the self-excitation
    number that says whether load is driven by cascades (n near 1:
    retries/virality, capacity must handle bursts) or by outside
    demand (n near 0). Hour bins are exact integer floors including
    empty hours via the span identity (zero bins enter the variance
    through the moment formula, not materialized rows); Fano is one
    rational of exact integer power sums. Plan: one (type, hour)
    rollup, one 5-row fold, broadcast span."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / 3_600_000_000)
        .cast("bigint")
        .alias("hr"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c")).persist()
    span = hourly.agg(
        F.min("hr").cast("bigint").alias("h0"),
        F.max("hr").cast("bigint").alias("h1"),
    )
    g = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("nz"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    nh = F.col("h1") - F.col("h0") + 1
    fano = F.round(
        (
            (F.col("s2") - F.col("s1") * 1.0 * F.col("s1") / nh)
            / (F.col("h1") - F.col("h0") + 0.0)
        )
        / (F.col("s1") * 1.0 / nh),
        9,
    )
    f = g.crossJoin(F.broadcast(span)).select(
        "event_type",
        "s1",
        nh.cast("bigint").alias("n_hours"),
        fano.alias("fano"),
    )
    return f.select(
        "event_type",
        "n_hours",
        F.col("s1").alias("n_events"),
        (F.col("fano") + 0.0).alias("fano_factor"),
        F.when(F.col("fano") <= 1.0, F.lit(0.0))
        .otherwise(
            F.round(1.0 - 1.0 / F.sqrt(F.col("fano")), 6)
        )
        .alias("branching_ratio"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Doksum shift function at deciles (click -> purchase)
# --------------------------------------------------------------------------
@register(
    "doksum_shift_function",
    oracle="""
    WITH q AS (
        SELECT round(quantile_cont(CASE WHEN event_type = 'click' THEN value END, 0.1), 4) AS c1, round(quantile_cont(CASE WHEN event_type = 'click' THEN value END, 0.2), 4) AS c2, round(quantile_cont(CASE WHEN event_type = 'click' THEN value END, 0.3), 4) AS c3, round(quantile_cont(CASE WHEN event_type = 'click' THEN value END, 0.4), 4) AS c4, round(quantile_cont(CASE WHEN event_type = 'click' THEN value END, 0.5), 4) AS c5, round(quantile_cont(CASE WHEN event_type = 'click' THEN value END, 0.6), 4) AS c6, round(quantile_cont(CASE WHEN event_type = 'click' THEN value END, 0.7), 4) AS c7, round(quantile_cont(CASE WHEN event_type = 'click' THEN value END, 0.8), 4) AS c8, round(quantile_cont(CASE WHEN event_type = 'click' THEN value END, 0.9), 4) AS c9,
               round(quantile_cont(CASE WHEN event_type = 'purchase' THEN value END, 0.1), 4) AS p1, round(quantile_cont(CASE WHEN event_type = 'purchase' THEN value END, 0.2), 4) AS p2, round(quantile_cont(CASE WHEN event_type = 'purchase' THEN value END, 0.3), 4) AS p3, round(quantile_cont(CASE WHEN event_type = 'purchase' THEN value END, 0.4), 4) AS p4, round(quantile_cont(CASE WHEN event_type = 'purchase' THEN value END, 0.5), 4) AS p5, round(quantile_cont(CASE WHEN event_type = 'purchase' THEN value END, 0.6), 4) AS p6, round(quantile_cont(CASE WHEN event_type = 'purchase' THEN value END, 0.7), 4) AS p7, round(quantile_cont(CASE WHEN event_type = 'purchase' THEN value END, 0.8), 4) AS p8, round(quantile_cont(CASE WHEN event_type = 'purchase' THEN value END, 0.9), 4) AS p9
        FROM events WHERE event_type IN ('click', 'purchase')
    )
    SELECT CAST(10 AS BIGINT) AS pctile, c1 AS q_click, p1 AS q_purchase, round(p1 - c1, 4) + 0.0 AS shift FROM q
    UNION ALL
    SELECT CAST(20 AS BIGINT) AS pctile, c2 AS q_click, p2 AS q_purchase, round(p2 - c2, 4) + 0.0 AS shift FROM q
    UNION ALL
    SELECT CAST(30 AS BIGINT) AS pctile, c3 AS q_click, p3 AS q_purchase, round(p3 - c3, 4) + 0.0 AS shift FROM q
    UNION ALL
    SELECT CAST(40 AS BIGINT) AS pctile, c4 AS q_click, p4 AS q_purchase, round(p4 - c4, 4) + 0.0 AS shift FROM q
    UNION ALL
    SELECT CAST(50 AS BIGINT) AS pctile, c5 AS q_click, p5 AS q_purchase, round(p5 - c5, 4) + 0.0 AS shift FROM q
    UNION ALL
    SELECT CAST(60 AS BIGINT) AS pctile, c6 AS q_click, p6 AS q_purchase, round(p6 - c6, 4) + 0.0 AS shift FROM q
    UNION ALL
    SELECT CAST(70 AS BIGINT) AS pctile, c7 AS q_click, p7 AS q_purchase, round(p7 - c7, 4) + 0.0 AS shift FROM q
    UNION ALL
    SELECT CAST(80 AS BIGINT) AS pctile, c8 AS q_click, p8 AS q_purchase, round(p8 - c8, 4) + 0.0 AS shift FROM q
    UNION ALL
    SELECT CAST(90 AS BIGINT) AS pctile, c9 AS q_click, p9 AS q_purchase, round(p9 - c9, 4) + 0.0 AS shift FROM q
    ORDER BY pctile
    """,
)
def doksum_shift_function(spark, sf_dir):
    """Doksum's shift function at the nine deciles: Delta(p) =
    Q_purchase(p) - Q_click(p) — the quantile-by-quantile answer to
    "HOW do the two value distributions differ" that a single
    location test compresses away (a pure shift gives a flat Delta;
    a scale difference gives a monotone one; a crossing Delta means
    no stochastic ordering, invalidating a one-number summary). The
    robust-statistics companion of this bank's Lepage/Cucconi
    omnibus tests, which only say THAT they differ. Quantiles are
    the engines' bit-compatible interpolated percentiles rounded at
    1e-4; the output is the bounded 9-row decile frame. Plan: two
    filtered percentile folds, one 9-row literal grid."""
    e = t(spark, sf_dir, "events")
    c = e.where(F.col("event_type") == "click")
    p = e.where(F.col("event_type") == "purchase")
    qc = c.agg(
        *[
            F.round(F.expr(f"percentile(value, {q})"), 4).alias(
                f"c{i}"
            )
            for i, q in enumerate(DECILE_LEVELS, 1)
        ]
    )
    qp = p.agg(
        *[
            F.round(F.expr(f"percentile(value, {q})"), 4).alias(
                f"p{i}"
            )
            for i, q in enumerate(DECILE_LEVELS, 1)
        ]
    )
    both = qc.crossJoin(F.broadcast(qp))
    rows = None
    for i in range(1, 10):
        r = both.select(
            F.lit(i * 10).cast("bigint").alias("pctile"),
            F.col(f"c{i}").alias("q_click"),
            F.col(f"p{i}").alias("q_purchase"),
            (
                F.round(F.col(f"p{i}") - F.col(f"c{i}"), 4) + 0.0
            ).alias("shift"),
        )
        rows = r if rows is None else rows.unionAll(r)
    return rows


# --------------------------------------------------------------------------
# Mincer-Zarnowitz forecast-rationality regression (seasonal naive)
# --------------------------------------------------------------------------
@register(
    "mincer_zarnowitz_rationality",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    fc AS (
        SELECT round(y / 100.0, 2) AS y,
               round(LAG(y, 7) OVER (ORDER BY day) / 100.0, 2) AS x
        FROM daily
        QUALIFY x IS NOT NULL
    ),
    f AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(x AS DECIMAL(28,2))) AS sx,
               SUM(CAST(y AS DECIMAL(28,2))) AS sy,
               SUM(CAST(round(x * x, 4) AS DECIMAL(38,4))) AS sxx,
               SUM(CAST(round(x * y, 4) AS DECIMAL(38,4))) AS sxy,
               SUM(CAST(round(y * y, 4) AS DECIMAL(38,4))) AS syy
        FROM fc
    ),
    ols AS (
        SELECT n,
               (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                * CAST(sy AS DOUBLE))
               / (n * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b,
               CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
               CAST(sxx AS DOUBLE) AS sxx, CAST(sxy AS DOUBLE) AS sxy,
               CAST(syy AS DOUBLE) AS syy
        FROM f
    ),
    fit AS (
        SELECT n, b, sx,
               (sy - b * sx) / n AS a,
               (syy - 2.0 * ((sy - b * sx) / n) * sy
                - 2.0 * b * sxy
                + n * ((sy - b * sx) / n) * ((sy - b * sx) / n)
                + 2.0 * ((sy - b * sx) / n) * b * sx
                + b * b * sxx) / (n - 2.0) AS s2,
               sxx - sx * sx / n AS sxx_c
        FROM ols
    )
    SELECT n AS n_forecasts,
           round(a, 4) + 0.0 AS alpha,
           round(b, 6) AS beta,
           round(a / sqrt(s2 * (1.0 / n
                                + (sx / n) * (sx / n) / sxx_c)), 6)
               + 0.0 AS t_alpha_zero,
           round((b - 1.0) / sqrt(s2 / sxx_c), 6) + 0.0 AS t_beta_one
    FROM fit
    """,
)
def mincer_zarnowitz_rationality(spark, sf_dir):
    """Mincer-Zarnowitz forecast-rationality regression: realized
    daily revenue on the seasonal-naive forecast, y = a + b*x. A
    rational (unbiased, efficient) forecast has a = 0 AND b = 1 —
    the t statistics for both restrictions are the test; b < 1 with
    a > 0 is the classic over-reaction signature. THE standard
    forecast-evaluation regression, complementing the accuracy
    metrics (MASE/pinball) and the bias monitor (tracking signal,
    this bank) with a calibration decomposition. Moments fold exact
    DECIMAL on 2-rounded values; a, b, the residual variance, and
    both classical t statistics are terminal expressions in
    identical association. Plan: day rollup, lag-7 window, one
    moment fold."""
    daily = daily_order_cents(spark, sf_dir)
    wo = Window.orderBy("day")
    fc = daily.select(
        F.round(F.col("y") / 100.0, 2).alias("y"),
        F.round(F.lag("y", 7).over(wo) / 100.0, 2).alias("x"),
    ).where(F.col("x").isNotNull())
    f = fc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(28,2)")).alias("sx_d"),
        F.sum(F.col("y").cast("decimal(28,2)")).alias("sy_d"),
        F.sum(
            F.round(F.col("x") * F.col("x"), 4).cast("decimal(38,4)")
        ).alias("sxx_d"),
        F.sum(
            F.round(F.col("x") * F.col("y"), 4).cast("decimal(38,4)")
        ).alias("sxy_d"),
        F.sum(
            F.round(F.col("y") * F.col("y"), 4).cast("decimal(38,4)")
        ).alias("syy_d"),
    )
    n = F.col("n")
    sx = F.col("sx_d").cast("double")
    sy = F.col("sy_d").cast("double")
    sxx = F.col("sxx_d").cast("double")
    sxy = F.col("sxy_d").cast("double")
    syy = F.col("syy_d").cast("double")
    b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    a = (sy - b * sx) / n
    s2 = (
        syy
        - 2.0 * a * sy
        - 2.0 * b * sxy
        + n * a * a
        + 2.0 * a * b * sx
        + b * b * sxx
    ) / (n - 2.0)
    sxx_c = sxx - sx * sx / n
    return f.select(
        n.alias("n_forecasts"),
        (F.round(a, 4) + 0.0).alias("alpha"),
        F.round(b, 6).alias("beta"),
        (
            F.round(
                a
                / F.sqrt(
                    s2 * (1.0 / n + (sx / n) * (sx / n) / sxx_c)
                ),
                6,
            )
            + 0.0
        ).alias("t_alpha_zero"),
        (F.round((b - 1.0) / F.sqrt(s2 / sxx_c), 6) + 0.0).alias(
            "t_beta_one"
        ),
    )


# --------------------------------------------------------------------------
# Western Electric runs rules on the daily revenue X chart
# --------------------------------------------------------------------------
@register(
    "western_electric_rules",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s,
               CAST(SUM(CAST(y AS DECIMAL(38,0)) * y)
                    AS DECIMAL(38,0)) AS s2
        FROM daily
    ),
    z AS (
        SELECT day,
               round((y - m.s * 1.0 / m.n)
                     / sqrt((CAST(m.s2 AS DOUBLE)
                             - CAST(m.s AS DOUBLE) * m.s / m.n)
                            / (m.n - 1.0)), 9) AS zi
        FROM daily, m
    ),
    flags AS (
        SELECT day, zi,
               CASE WHEN zi > 2.0 THEN 1 ELSE 0 END AS hi2,
               CASE WHEN zi < -2.0 THEN 1 ELSE 0 END AS lo2,
               CASE WHEN zi > 1.0 THEN 1 ELSE 0 END AS hi1,
               CASE WHEN zi < -1.0 THEN 1 ELSE 0 END AS lo1,
               CASE WHEN zi > 0.0 THEN 1 ELSE 0 END AS hi0,
               CASE WHEN zi < 0.0 THEN 1 ELSE 0 END AS lo0
        FROM z
    ),
    runs AS (
        SELECT day, zi,
               SUM(hi2) OVER w3 AS h2, SUM(lo2) OVER w3 AS l2,
               SUM(hi1) OVER w5 AS h1, SUM(lo1) OVER w5 AS l1,
               SUM(hi0) OVER w8 AS h0, SUM(lo0) OVER w8 AS l0,
               COUNT(*) OVER w3 AS c3,
               COUNT(*) OVER w5 AS c5,
               COUNT(*) OVER w8 AS c8
        FROM flags
        WINDOW w3 AS (ORDER BY day ROWS BETWEEN 2 PRECEDING
                      AND CURRENT ROW),
               w5 AS (ORDER BY day ROWS BETWEEN 4 PRECEDING
                      AND CURRENT ROW),
               w8 AS (ORDER BY day ROWS BETWEEN 7 PRECEDING
                      AND CURRENT ROW)
    )
    SELECT (SELECT n FROM m) AS n_days,
           CAST(SUM(CASE WHEN abs(zi) > 3.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS rule1_beyond_3s,
           CAST(SUM(CASE WHEN c3 = 3 AND (h2 >= 2 OR l2 >= 2)
                    THEN 1 ELSE 0 END) AS BIGINT) AS rule2_2of3_2s,
           CAST(SUM(CASE WHEN c5 = 5 AND (h1 >= 4 OR l1 >= 4)
                    THEN 1 ELSE 0 END) AS BIGINT) AS rule3_4of5_1s,
           CAST(SUM(CASE WHEN c8 = 8 AND (h0 = 8 OR l0 = 8)
                    THEN 1 ELSE 0 END) AS BIGINT) AS rule4_8_same_side
    FROM runs
    """,
)
def western_electric_rules(spark, sf_dir):
    """Western Electric runs-rule scan of the daily revenue X chart:
    days triggering rule 1 (beyond 3 sigma), rule 2 (2 of 3
    consecutive beyond 2 sigma on the SAME side), rule 3 (4 of 5
    beyond 1 sigma same side), and rule 4 (8 consecutive on one side
    of center). A Shewhart chart (this bank's X-bar/R) only fires on
    rule 1; the runs rules detect the small sustained shifts and
    stratification patterns long before a 3-sigma point — at the cost
    of a known false-alarm budget, which is why the COUNTS per rule,
    not just rule 1, are the audit. z-scores use the exact power-sum
    mean/sd rounded at 1e-9; the rolling side counts are exact
    integer window sums over the calendar frame with full-window
    guards so warm-up rows cannot trigger. Plan: day rollup, one
    moment fold, three bounded rolling windows, one fold."""
    daily = daily_order_cents(spark, sf_dir)
    m = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    sd = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n")
        )
        / (F.col("n") - 1.0)
    )
    z = daily.crossJoin(F.broadcast(m)).select(
        "day",
        "n",
        F.round(
            (F.col("y") - F.col("s") * 1.0 / F.col("n")) / sd, 9
        ).alias("zi"),
    )
    zi = F.col("zi")
    flags = z.select(
        "day",
        "n",
        "zi",
        (zi > 2.0).cast("int").alias("hi2"),
        (zi < -2.0).cast("int").alias("lo2"),
        (zi > 1.0).cast("int").alias("hi1"),
        (zi < -1.0).cast("int").alias("lo1"),
        (zi > 0.0).cast("int").alias("hi0"),
        (zi < 0.0).cast("int").alias("lo0"),
    )
    w3 = Window.orderBy("day").rowsBetween(-2, 0)
    w5 = Window.orderBy("day").rowsBetween(-4, 0)
    w8 = Window.orderBy("day").rowsBetween(-7, 0)
    runs = flags.select(
        "n",
        "zi",
        F.sum("hi2").over(w3).alias("h2"),
        F.sum("lo2").over(w3).alias("l2"),
        F.sum("hi1").over(w5).alias("h1"),
        F.sum("lo1").over(w5).alias("l1"),
        F.sum("hi0").over(w8).alias("h0"),
        F.sum("lo0").over(w8).alias("l0"),
        F.count(F.lit(1)).over(w3).alias("c3"),
        F.count(F.lit(1)).over(w5).alias("c5"),
        F.count(F.lit(1)).over(w8).alias("c8"),
    )
    return runs.agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.sum(F.when(F.abs(F.col("zi")) > 3.0, 1).otherwise(0))
        .cast("bigint")
        .alias("rule1_beyond_3s"),
        F.sum(
            F.when(
                (F.col("c3") == 3)
                & ((F.col("h2") >= 2) | (F.col("l2") >= 2)),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("rule2_2of3_2s"),
        F.sum(
            F.when(
                (F.col("c5") == 5)
                & ((F.col("h1") >= 4) | (F.col("l1") >= 4)),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("rule3_4of5_1s"),
        F.sum(
            F.when(
                (F.col("c8") == 8)
                & ((F.col("h0") == 8) | (F.col("l0") == 8)),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("rule4_8_same_side"),
    )


# --------------------------------------------------------------------------
# Lorenz asymmetry coefficient of customer spend
# --------------------------------------------------------------------------
@register(
    "lorenz_asymmetry_coefficient",
    oracle="""
    WITH cust AS (
        SELECT CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS x
        FROM orders GROUP BY o_custkey
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s
        FROM cust
    ),
    below AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(COALESCE(SUM(c.x), 0) AS BIGINT) AS lm,
               CAST(MAX(c.x) AS BIGINT) AS xm
        FROM cust c, tot t WHERE c.x * t.n < t.s
    ),
    above AS (
        SELECT CAST(MIN(c.x) AS BIGINT) AS xm1
        FROM cust c, tot t WHERE c.x * t.n >= t.s
    )
    SELECT t.n AS n_customers,
           round((b.m + (t.s * 1.0 / t.n - b.xm)
                        / (a.xm1 - b.xm)) / t.n
                 + (b.lm + (t.s * 1.0 / t.n - b.xm)
                           / (a.xm1 - b.xm) * a.xm1) * 1.0 / t.s,
                 6) AS lorenz_asymmetry
    FROM tot t, below b, above a
    """,
)
def lorenz_asymmetry_coefficient(spark, sf_dir):
    """Lorenz asymmetry coefficient S = F(mu) + L(mu) of customer
    lifetime spend: where on the Lorenz curve the mean sits. S = 1
    means the curve is symmetric; S < 1 says inequality comes from
    many SMALL customers, S > 1 from a few GIANT ones — two
    concentration regimes with identical Gini that demand opposite
    commercial responses, which is why Damgaard-Weiner argue the
    coefficient must accompany any Gini. F and L interpolate linearly
    at the mean crossing (delta = (mu - x_below)/(x_above - x_below))
    per the published estimator; the mean comparison x*n < s is exact
    integer arithmetic, order statistics are conditional MIN/MAX, and
    S is one terminal expression. Plan: customer rollup, one scalar
    fold, two conditional folds — no windows, no sort."""
    o = t(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    ).persist()
    tot = cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    wt = cust.crossJoin(F.broadcast(tot))
    below = wt.where(F.col("x") * F.col("n") < F.col("s")).agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.coalesce(F.sum("x"), F.lit(0)).cast("bigint").alias("lm"),
        F.max("x").cast("bigint").alias("xm"),
    )
    above = wt.where(F.col("x") * F.col("n") >= F.col("s")).agg(
        F.min("x").cast("bigint").alias("xm1")
    )
    mu = F.col("s") * 1.0 / F.col("n")
    delta = (mu - F.col("xm")) / (F.col("xm1") - F.col("xm"))
    return (
        tot.crossJoin(F.broadcast(below))
        .crossJoin(F.broadcast(above))
        .select(
            F.col("n").alias("n_customers"),
            F.round(
                (F.col("m") + delta) / F.col("n")
                + (F.col("lm") + delta * F.col("xm1"))
                * 1.0
                / F.col("s"),
                6,
            ).alias("lorenz_asymmetry"),
        )
    )


# --------------------------------------------------------------------------
# Mean residual life panel (POT threshold diagnostic)
# --------------------------------------------------------------------------
_MRL_PS = [0.5, 0.75, 0.9, 0.95, 0.99]


@register(
    "mean_residual_life_panel",
    oracle=f"""
    WITH v AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS x
        FROM orders
    ),
    q AS (
        SELECT {", ".join(
            f"CAST(floor(quantile_cont(x, {p})) AS BIGINT) AS u{i}"
            for i, p in enumerate(_MRL_PS)
        )}
        FROM v
    )
    {" UNION ALL ".join(
        f'''SELECT CAST({p} AS DOUBLE) AS pctile,
                   round(q.u{i} / 100.0, 2) AS threshold,
                   CAST(COUNT(CASE WHEN v.x > q.u{i} THEN 1 END)
                        AS BIGINT) AS n_exceed,
                   round(SUM(CASE WHEN v.x > q.u{i}
                             THEN v.x - q.u{i} END)
                         / (100.0 * COUNT(CASE WHEN v.x > q.u{i}
                                          THEN 1 END)), 4)
                       AS mean_excess
            FROM v, q GROUP BY q.u{i}'''
        for i, p in enumerate(_MRL_PS)
    )}
    ORDER BY pctile
    """,
)
def mean_residual_life_panel(spark, sf_dir):
    """Mean residual life (mean excess) of order totals at five
    threshold quantiles: e(u) = E[X - u | X > u]. THE
    peaks-over-threshold diagnostic — for a GPD tail e(u) is LINEAR
    in u with slope xi/(1-xi), so the panel's shape validates (or
    refutes) the threshold the registry's GPD-PWM fit assumed, and
    its growth rate cross-checks both the Hill and Pickands (this
    bank) tail indices. Thresholds are floor-cast interpolated
    percentiles in exact cents (floor so the exceedance compare is
    integer-exact); excess sums are exact integer folds; each row is
    one terminal division. Plan: one scan projection, one percentile
    fold, five conditional folds over the broadcast thresholds."""
    o = t(spark, sf_dir, "orders")
    v = o.select(
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("x")
    ).persist()
    q = v.agg(
        *[
            F.floor(F.expr(f"percentile(x, {p})"))
            .cast("bigint")
            .alias(f"u{i}")
            for i, p in enumerate(_MRL_PS)
        ]
    )
    wt = v.crossJoin(F.broadcast(q))
    rows = None
    for i, p in enumerate(_MRL_PS):
        u = F.col(f"u{i}")
        r = wt.groupBy(u.alias("u")).agg(
            F.count(F.when(F.col("x") > u, 1))
            .cast("bigint")
            .alias("n_exceed"),
            F.sum(F.when(F.col("x") > u, F.col("x") - u)).alias(
                "excess_sum"
            ),
        ).select(
            F.lit(p).alias("pctile"),
            F.round(F.col("u") / 100.0, 2).alias("threshold"),
            "n_exceed",
            F.round(
                F.col("excess_sum") / (100.0 * F.col("n_exceed")), 4
            ).alias("mean_excess"),
        )
        rows = r if rows is None else rows.unionAll(r)
    return rows.orderBy("pctile")


# --------------------------------------------------------------------------
# Effective rank (spectral entropy) of the embedding variance profile
# --------------------------------------------------------------------------
@register(
    "effective_rank_entropy",
    oracle="""
    WITH el AS (
        SELECT vec_id, CAST(u.i - 1 AS BIGINT) AS dim,
               CAST(embedding[CAST(u.i AS INTEGER)] AS DECIMAL(18,9))
                   AS x
        FROM embeddings,
             UNNEST(range(1, len(embedding) + 1)) AS u(i)
    ),
    dimvar AS (
        SELECT dim,
               round((CAST(SUM(x * x) AS DOUBLE)
                      - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)
                        / COUNT(*)) / (COUNT(*) - 1.0), 12) AS v
        FROM el GROUP BY dim
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS d,
               CAST(round(SUM(CAST(round(v, 12) AS DECIMAL(28,12))),
                    12) AS DOUBLE) AS vs,
               round(MAX(v), 12) AS vmax
        FROM dimvar
    ),
    ent AS (
        SELECT CAST(round(SUM(CAST(round(
                   -(dv.v / t.vs) * ln(dv.v / t.vs), 12)
                   AS DECIMAL(28,12))), 12) AS DOUBLE) AS h
        FROM dimvar dv, tot t WHERE dv.v > 0
        GROUP BY t.vs
    )
    SELECT t.d AS n_dims,
           round(exp(e.h), 6) AS effective_rank,
           round(t.vmax / t.vs, 9) AS top_dim_share
    FROM tot t, ent e
    """,
)
def effective_rank_entropy(spark, sf_dir):
    """Effective rank of the embedding space via spectral entropy of
    the per-dimension variance profile: erank = exp(-sum p ln p) with
    p = var_d / sum var — "how many dimensions are really carrying
    signal", the entropy-based cousin of the participation ratio the
    registry gated in r11 (PR = (sum v)^2 / sum v^2 weights the head
    quadratically; erank weights the whole profile logarithmically,
    so PR >> erank flags a heavy-tail variance profile). Diagonal
    variances stand in for eigenvalues (the exact-arithmetic choice,
    documented; full PCA needs iterative methods). Variance folds are
    exact DECIMAL sums of float32-cast values; entropy terms round at
    1e-12 and fold in DECIMAL over the 64-dim domain. Plan: one
    explode + dim rollup (map-side partials), two bounded folds."""
    emb = t(spark, sf_dir, "embeddings")
    el = emb.select(
        F.posexplode("embedding").alias("dim", "xf")
    ).select(
        "dim", F.col("xf").cast("decimal(18,9)").alias("x")
    )
    dimvar = el.groupBy("dim").agg(
        F.round(
            (
                F.sum(F.col("x") * F.col("x")).cast("double")
                - F.sum("x").cast("double")
                * F.sum("x").cast("double")
                / F.count(F.lit(1))
            )
            / (F.count(F.lit(1)) - 1.0),
            12,
        ).alias("v")
    ).persist()
    tot = dimvar.agg(
        F.count(F.lit(1)).cast("bigint").alias("d"),
        F.round(
            F.sum(F.round(F.col("v"), 12).cast("decimal(28,12)")), 12
        )
        .cast("double")
        .alias("vs"),
        F.round(F.max("v"), 12).alias("vmax"),
    )
    p = F.col("v") / F.col("vs")
    ent = (
        dimvar.crossJoin(F.broadcast(tot))
        .where(F.col("v") > 0)
        .groupBy("vs")
        .agg(
            F.round(
                F.sum(
                    F.round(-p * F.log(p), 12).cast("decimal(28,12)")
                ),
                12,
            )
            .cast("double")
            .alias("h")
        )
    )
    return tot.join(
        F.broadcast(ent.select("h")), F.lit(True), "left"
    ).select(
        F.col("d").alias("n_dims"),
        F.round(F.exp(F.col("h")), 6).alias("effective_rank"),
        F.round(F.col("vmax") / F.col("vs"), 9).alias(
            "top_dim_share"
        ),
    )


# --------------------------------------------------------------------------
# Bounce rate by session entry event type
# --------------------------------------------------------------------------
@register(
    "bounce_rate_by_entry",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN ts - LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                        > INTERVAL 30 MINUTE
                 OR LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                    IS NULL
               THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    grouped AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    ),
    numbered AS (
        SELECT user_id, session_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                  ORDER BY ts, event_id) AS rn
        FROM grouped
    ),
    counts AS (
        SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM grouped GROUP BY user_id, session_id
    ),
    sess AS (
        SELECT n.event_type AS entry_type, c.n_events
        FROM numbered n JOIN counts c
          ON n.user_id = c.user_id AND n.session_id = c.session_id
        WHERE n.rn = 1
    )
    SELECT entry_type,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bounces,
           round(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS bounce_rate
    FROM sess GROUP BY entry_type ORDER BY entry_type
    """,
)
def bounce_rate_by_entry(spark, sf_dir):
    """Bounce rate by session ENTRY event type: sessionize with the
    registry's standard 30-minute gap rule, take each session's first
    event type (by the (ts, event_id) total order), and report the
    share of single-event sessions per entry — the landing-page
    triage number: an entry type whose sessions die immediately is a
    funnel leak the aggregate bounce rate hides. Sessionization is
    the session_windows lag/cumsum construction; the entry pick is the
    rn = 1 row of a per-session row_number over the exact total
    order; counts are exact integers and the rate one terminal
    division. Plan: one user-partitioned window
    pass, a session rollup, a 5-row entry rollup."""
    e = t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(wu)
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
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
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    numbered = grouped.select(
        "user_id",
        "session_id",
        "event_type",
        F.row_number()
        .over(
            Window.partitionBy("user_id", "session_id").orderBy(
                "ts", "event_id"
            )
        )
        .alias("rn"),
    ).where(F.col("rn") == 1)
    counts = grouped.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    sess = numbered.join(counts, ["user_id", "session_id"]).select(
        F.col("event_type").alias("entry_type"), "n_events"
    )
    return (
        sess.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_bounces"),
        )
        .select(
            "entry_type",
            "n_sessions",
            "n_bounces",
            F.round(
                F.col("n_bounces") * 1.0 / F.col("n_sessions"), 6
            ).alias("bounce_rate"),
        )
        .orderBy("entry_type")
    )


# --------------------------------------------------------------------------
# Odds ratio with Haldane-Anscombe correction and Woolf CI
# --------------------------------------------------------------------------
@register(
    "odds_ratio_haldane_ci",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(MAX(CASE WHEN (epoch_us(ts) // 86400000000 + 4) % 7
                             >= 5 THEN 1 ELSE 0 END) AS BIGINT)
                   AS we_active,
               CAST(MAX(CASE WHEN event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS BIGINT) AS conv
        FROM events GROUP BY user_id
    ),
    cells AS (
        SELECT CAST(SUM(we_active * conv) AS BIGINT) AS a,
               CAST(SUM(we_active * (1 - conv)) AS BIGINT) AS b,
               CAST(SUM((1 - we_active) * conv) AS BIGINT) AS c,
               CAST(SUM((1 - we_active) * (1 - conv)) AS BIGINT) AS d
        FROM u
    )
    SELECT a + b + c + d AS n_users, a, b, c, d,
           round(((a + 0.5) * (d + 0.5))
                 / ((b + 0.5) * (c + 0.5)), 6) AS odds_ratio,
           round(exp(ln(((a + 0.5) * (d + 0.5))
                        / ((b + 0.5) * (c + 0.5)))
                     - 1.96 * sqrt(1.0 / (a + 0.5) + 1.0 / (b + 0.5)
                                   + 1.0 / (c + 0.5)
                                   + 1.0 / (d + 0.5))), 6) AS ci_lower,
           round(exp(ln(((a + 0.5) * (d + 0.5))
                        / ((b + 0.5) * (c + 0.5)))
                     + 1.96 * sqrt(1.0 / (a + 0.5) + 1.0 / (b + 0.5)
                                   + 1.0 / (c + 0.5)
                                   + 1.0 / (d + 0.5))), 6) AS ci_upper
    FROM cells
    """,
)
def odds_ratio_haldane_ci(spark, sf_dir):
    """User-grain 2x2 odds ratio — weekend activity vs conversion —
    with the Haldane-Anscombe +0.5 continuity correction (defined
    even with an empty cell) and the Woolf logit 95% CI. The base-case
    single-table OR the registry's stratified machinery
    (Mantel-Haenszel pooling, Breslow-Day homogeneity) builds on; CI
    excluding 1 is the one-line verdict. Cell counts are exact
    integer user rollups; the OR and both CI bounds are terminal
    ln/exp/sqrt expressions in identical association. Plan: one user
    rollup, one 4-cell fold, one scalar select."""
    e = t(spark, sf_dir, "events")
    day = F.floor(F.unix_micros("ts") / 86_400_000_000)
    u = e.groupBy("user_id").agg(
        F.max(F.when((day + 4) % 7 >= 5, 1).otherwise(0))
        .cast("bigint")
        .alias("we_active"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("conv"),
    )
    cells = u.agg(
        F.sum(F.col("we_active") * F.col("conv"))
        .cast("bigint")
        .alias("a"),
        F.sum(F.col("we_active") * (1 - F.col("conv")))
        .cast("bigint")
        .alias("b"),
        F.sum((1 - F.col("we_active")) * F.col("conv"))
        .cast("bigint")
        .alias("c"),
        F.sum((1 - F.col("we_active")) * (1 - F.col("conv")))
        .cast("bigint")
        .alias("d"),
    )
    a, b, c, d = (F.col(x) for x in "abcd")
    orr = ((a + 0.5) * (d + 0.5)) / ((b + 0.5) * (c + 0.5))
    se = F.sqrt(
        1.0 / (a + 0.5)
        + 1.0 / (b + 0.5)
        + 1.0 / (c + 0.5)
        + 1.0 / (d + 0.5)
    )
    return cells.select(
        (a + b + c + d).alias("n_users"),
        a.alias("a"),
        b.alias("b"),
        c.alias("c"),
        d.alias("d"),
        F.round(orr, 6).alias("odds_ratio"),
        F.round(F.exp(F.log(orr) - 1.96 * se), 6).alias("ci_lower"),
        F.round(F.exp(F.log(orr) + 1.96 * se), 6).alias("ci_upper"),
    )


# --------------------------------------------------------------------------
# Bias-corrected Cramer's V (Bergsma 2013) for type x dow
# --------------------------------------------------------------------------
@register(
    "cramers_v_bias_corrected",
    oracle="""
    WITH cell AS (
        SELECT event_type,
               CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT)
                   AS dow,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS r
           FROM cell GROUP BY event_type),
    ct AS (SELECT dow, CAST(SUM(n) AS BIGINT) AS c
           FROM cell GROUP BY dow),
    nn AS (SELECT CAST(SUM(n) AS BIGINT) AS n,
                  CAST((SELECT COUNT(*) FROM rt) AS BIGINT) AS r,
                  CAST((SELECT COUNT(*) FROM ct) AS BIGINT) AS k
           FROM cell),
    chi2 AS (
        SELECT CAST(round(SUM(CAST(round(
                   (cell.n - rt.r * 1.0 * ct.c / nn.n)
                   * (cell.n - rt.r * 1.0 * ct.c / nn.n)
                   / (rt.r * 1.0 * ct.c / nn.n), 9)
                   AS DECIMAL(28,9))), 9) AS DOUBLE) AS x2
        FROM cell
        JOIN rt ON cell.event_type = rt.event_type
        JOIN ct ON cell.dow = ct.dow, nn
    )
    SELECT nn.n AS n_events,
           round(sqrt(c2.x2 / nn.n
                      / LEAST(nn.r - 1.0, nn.k - 1.0)), 6)
               AS cramers_v,
           round(sqrt(GREATEST(c2.x2 / nn.n
                               - (nn.r - 1.0) * (nn.k - 1.0)
                                 / (nn.n - 1.0), 0.0)
                      / LEAST(nn.r - (nn.r - 1.0) * (nn.r - 1.0)
                                     / (nn.n - 1.0) - 1.0,
                              nn.k - (nn.k - 1.0) * (nn.k - 1.0)
                                     / (nn.n - 1.0) - 1.0)), 6)
               AS cramers_v_corrected
    FROM chi2 c2, nn
    """,
)
def cramers_v_bias_corrected(spark, sf_dir):
    """Cramer's V for type x weekday with Bergsma's 2013 bias
    correction: phi2+ = max(0, phi2 - (r-1)(k-1)/(n-1)) and
    dimension-shrunk r~, k~ — raw V is biased UPWARD under
    independence (E[chi2] = df even with zero association), and the
    corrected V~ is the estimator that reads ~0 when there is nothing
    there. The registry's categorical_association_matrix reports raw
    V across pairs; this pins the corrected-vs-raw gap on the densest
    panel, which IS the small-effect honesty check. Expected counts
    are exact rationals; chi2 terms round at 1e-9 and fold in DECIMAL
    over the 35-cell grid; both V's are terminal expressions. Plan:
    one 35-cell rollup, two marginal rollups, one fold."""
    e = t(spark, sf_dir, "events")
    cell = e.groupBy(
        "event_type",
        ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7)
        .cast("bigint")
        .alias("dow"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n")).persist()
    rt = cell.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("r")
    )
    ct = cell.groupBy("dow").agg(F.sum("n").cast("bigint").alias("c"))
    nn = (
        cell.agg(F.sum("n").cast("bigint").alias("n_tot"))
        .crossJoin(
            F.broadcast(
                rt.agg(F.count(F.lit(1)).cast("bigint").alias("r_dim"))
            )
        )
        .crossJoin(
            F.broadcast(
                ct.agg(F.count(F.lit(1)).cast("bigint").alias("k_dim"))
            )
        )
    )
    exp_ = F.col("r") * 1.0 * F.col("c") / F.col("n_tot")
    chi2 = (
        cell.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(nn))
        .agg(
            F.round(
                F.sum(
                    F.round(
                        (F.col("n") - exp_) * (F.col("n") - exp_)
                        / exp_,
                        9,
                    ).cast("decimal(28,9)")
                ),
                9,
            )
            .cast("double")
            .alias("x2")
        )
    )
    out = chi2.crossJoin(F.broadcast(nn))
    n = F.col("n_tot")
    r = F.col("r_dim")
    k = F.col("k_dim")
    phi2 = F.col("x2") / n
    phi2p = F.greatest(
        phi2 - (r - 1.0) * (k - 1.0) / (n - 1.0), F.lit(0.0)
    )
    rsh = r - (r - 1.0) * (r - 1.0) / (n - 1.0)
    ksh = k - (k - 1.0) * (k - 1.0) / (n - 1.0)
    return out.select(
        n.alias("n_events"),
        F.round(
            F.sqrt(phi2 / F.least(r - 1.0, k - 1.0)), 6
        ).alias("cramers_v"),
        F.round(
            F.sqrt(phi2p / F.least(rsh - 1.0, ksh - 1.0)), 6
        ).alias("cramers_v_corrected"),
    )


# Pre-adjudicated single-partition-audit notes for the round-13 flip:
# every flagged window/sort below runs over a BOUNDED frame (the same
# classes the live allowlist documents). At flip time merge this dict
# into tools/audit_single_partition.ALLOWED verbatim (the bank_r12
# protocol — entries cannot land earlier or the two-direction CI check
# would see them as stale).
PLAN_AUDIT_NOTES: dict[str, str] = {
    "cucconi_test": (
        "cumulative over the distinct-value-cents grid "
        "(price-domain-bounded — the ansari_bradley_scale class)"
    ),
    "cusum_squares_variance": (
        "cumulative/total windows over the calendar-day frame "
        "(the kpss_level_stationarity class)"
    ),
    "dunns_posthoc_pairs": (
        "cumulative head-count over the distinct-value grid "
        "(the moods_median_test class)"
    ),
    "es_backtest_acerbi": (
        "loss lag + split windows over the calendar-day frame "
        "(the cusum class; multiple scalar subplans re-scan the "
        "bounded day frame)"
    ),
    "friedman_aligned_ranks": (
        "rank window over the 35-cell (dow x type) aligned frame "
        "(domain-bounded)"
    ),
    "gbm_drift_vol_fit": (
        "return lag over the calendar-day frame (the cusum class)"
    ),
    "integrated_autocorr_time": (
        "5-lag window over the calendar-day frame (the "
        "newey_west_trend_se class)"
    ),
    "kupiec_pof_backtest": (
        "loss lag + split windows over the calendar-day frame"
    ),
    "lepage_test": (
        "cumulative over the distinct-value-cents grid "
        "(price-domain-bounded)"
    ),
    "mincer_zarnowitz_rationality": (
        "lag-7 forecast window over the calendar-day frame"
    ),
    "page_hinkley_drift": (
        "two cumulative windows over the calendar-day frame "
        "(the cusum class)"
    ),
    "sharpe_sortino_omega": (
        "return lag over the calendar-day frame"
    ),
    "spearman_footrule_sources": (
        "rank windows over the shared-vocabulary frame "
        "(vocabulary-domain-bounded)"
    ),
    "stochastic_superiority_bm": (
        "cumulative pair over the distinct-value-cents grid "
        "(price-domain-bounded)"
    ),
    "tracking_signal_monitor": (
        "forecast lag + cumulative error windows over the "
        "calendar-day frame"
    ),
    "ulcer_index_martin": (
        "running-max window over the calendar-day frame"
    ),
    "var_cvar_historical": (
        "loss lag over the calendar-day frame"
    ),
    "western_electric_rules": (
        "three bounded rolling windows (3/5/8 rows) over the "
        "calendar-day frame"
    ),
    "zipf_mandelbrot_fit": (
        "rank window over the bounded vocabulary frame "
        "(the chi2_discriminative_terms class)"
    ),
    "split_conformal_interval": (
        "lag-7 + score-grid cumulative windows over calendar-bounded "
        "frames; the flag count is inflated by scalar subplans "
        "re-scanning the bounded day frame (the es_backtest class)"
    ),
}

# --------------------------------------------------------------------------
# Promoted from the round-14 seed (VERDICT r12 item 1): fills the round-13
# window's 50th slot. Uses the shared common.py daily revenue frame.
# --------------------------------------------------------------------------
# Split-conformal prediction interval for the seasonal-naive forecast
# --------------------------------------------------------------------------
@register(
    "split_conformal_interval",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    fc AS (
        SELECT day, y,
               LAG(y, 7) OVER (ORDER BY day) AS yhat
        FROM daily
        QUALIFY yhat IS NOT NULL
    ),
    split AS (
        SELECT CAST(floor(quantile_cont(day, 0.5)) AS BIGINT) AS mid
        FROM fc
    ),
    cal AS (
        SELECT round(abs(y - yhat) / 100.0, 2) AS score
        FROM fc, split WHERE day <= split.mid
    ),
    by_score AS (
        SELECT score, CAST(COUNT(*) AS BIGINT) AS c
        FROM cal GROUP BY score
    ),
    cum AS (
        SELECT score,
               SUM(c) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
                   AS cc
        FROM by_score
    ),
    nk AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n_cal,
               CAST((9 * (SUM(c) + 1) + 9) // 10 AS BIGINT) AS k
        FROM by_score
    ),
    qhat AS (
        SELECT nk.n_cal,
               MIN(CASE WHEN cum.cc >= LEAST(nk.k, nk.n_cal)
                   THEN cum.score END) AS q
        FROM cum, nk GROUP BY nk.n_cal
    ),
    test AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(SUM(CASE WHEN abs(f.y - f.yhat) / 100.0 <= qh.q
                        THEN 1 ELSE 0 END) AS BIGINT) AS covered
        FROM fc f, split, qhat qh WHERE f.day > split.mid
        GROUP BY qh.q
    )
    SELECT qh.n_cal, t.n_test,
           qh.q AS interval_half_width,
           round(t.covered * 1.0 / t.n_test, 6) AS test_coverage
    FROM qhat qh, test t
    """,
)
def split_conformal_interval(spark, sf_dir):
    """Split-conformal 90% prediction interval for the seasonal-naive
    daily-revenue forecast: the calibration half's absolute residuals
    give the conformity scores, q-hat is the ceil(0.9*(n+1))-th smallest
    score — the EXACT order statistic the conformal guarantee is
    stated for (clamped at the max score), found by a cumulative count
    over the bounded distinct-score grid, no interpolation —
    and the test half reports the achieved coverage of yhat +- q-hat.
    Distribution-free, finite-sample-guaranteed intervals from ANY
    forecaster — the modern uncertainty wrapper a pipeline puts around
    point models, next to the registry's parametric interval
    machinery. Scores are exact 2-rounded cent ratios; coverage is an
    exact integer ratio. Plan: day rollup, lag-7
    window, split percentile, one calibration fold, one test fold."""
    daily = daily_order_cents(spark, sf_dir)
    fc = daily.select(
        "day",
        "y",
        F.lag("y", 7).over(Window.orderBy("day")).alias("yhat"),
    ).where(F.col("yhat").isNotNull()).persist()
    split = fc.agg(
        F.floor(F.expr("percentile(day, 0.5)"))
        .cast("bigint")
        .alias("mid")
    )
    cal = (
        fc.crossJoin(F.broadcast(split))
        .where(F.col("day") <= F.col("mid"))
        .select(
            F.round(
                F.abs(F.col("y") - F.col("yhat")) / 100.0, 2
            ).alias("score")
        )
    )
    by_score = cal.groupBy("score").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cum = by_score.select(
        "score",
        F.sum("c")
        .over(
            Window.orderBy("score").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cc"),
    )
    nk = by_score.agg(
        F.sum("c").cast("bigint").alias("n_cal"),
        # ADVICE r13: exact integer floor-division (DIV), matching the
        # oracle's `//` — the double-division + cast form could diverge
        # past 2^53 and broke the exact-integer-fold discipline.
        F.expr("(9 * (sum(c) + 1) + 9) div 10")
        .cast("bigint")
        .alias("k"),
    )
    qhat = (
        cum.crossJoin(F.broadcast(nk))
        .groupBy("n_cal")
        .agg(
            F.min(
                F.when(
                    F.col("cc") >= F.least(F.col("k"), F.col("n_cal")),
                    F.col("score"),
                )
            ).alias("q")
        )
    )
    test = (
        fc.crossJoin(F.broadcast(split))
        .crossJoin(F.broadcast(qhat.select("q")))
        .where(F.col("day") > F.col("mid"))
        .groupBy("q")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("y") - F.col("yhat")) / 100.0
                    <= F.col("q"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("covered"),
        )
    )
    return qhat.join(
        test.withColumnRenamed("q", "q2"),
        F.col("q") == F.col("q2"),
    ).select(
        "n_cal",
        "n_test",
        F.col("q").alias("interval_half_width"),
        F.round(
            F.col("covered") * 1.0 / F.col("n_test"), 6
        ).alias("test_coverage"),
    )
