"""Round-10 fresh registrations (X251+): the econometrics / eval /
corpus-analytics sweep.

Forty-odd new oracle-paired components continuing the SURVEY §2.11
franchise: unit-root & stationarity diagnostics, heteroscedasticity and
Granger tests, classifier/ranking evaluation panels, inequality and
price-index economics, lexical-richness and collocation text analytics,
LSH design curves, and link-prediction graph scores. Every query follows
the engine's determinism contract (plans/__init__.py docstring): integer
or fixed-scale DECIMAL arithmetic wherever a sum crosses partitions,
per-row IEEE expressions otherwise, `round(x, k) + 0.0` on signed
rounded outputs, and total-order tiebreaks on every top-k.

Shared shapes: the "daily grid" queries roll facts to day-grain cents
(one hash agg), broadcast a scalar fit frame back, and do consecutive-
day arithmetic with d = d+j self-joins on the bounded calendar frame —
no row-grain windows anywhere (the one cumulative exception is
documented in tools/audit_single_partition.py).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from . import register
from .common import dec, t

# --------------------------------------------------------------------------
# shared: day-grain orders revenue (cents) + order counts
# --------------------------------------------------------------------------
_DAILY_ORDERS_SQL = """
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1
"""


def _daily_orders(spark, sf_dir):
    """Orders rolled to day grain: (d, y cents, c count) — exact ints."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
            .cast("bigint")
            .alias("d")
        )
        .agg(
            (F.sum(dec("o_totalprice", 18, 2)) * 100)
            .cast("bigint")
            .alias("y"),
            F.count(F.lit(1)).cast("bigint").alias("c"),
        )
    )


def _trend_fit(daily):
    """OLS daily-revenue trend (a, b, n, sse) from exact power sums —
    the chow/durbin-watson fit, factored: slope/intercept/SSE as one
    deterministic double expression each from DECIMAL(38,0) moments."""
    fit = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("sd"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("y")).alias("sdy"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")).alias("sdd"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sxx_c = n * F.col("sdd").cast("double") - F.col("sd").cast(
        "double"
    ) * F.col("sd")
    sxy_c = n * F.col("sdy").cast("double") - F.col("sd").cast(
        "double"
    ) * F.col("sy")
    syy_c = n * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy")
    b = sxy_c / sxx_c
    return fit.select(
        "n",
        b.alias("b"),
        ((F.col("sy").cast("double") - b * F.col("sd")) / n).alias("a"),
        ((syy_c - sxy_c * sxy_c / sxx_c) / n).alias("sse"),
    )


_TREND_FIT_SQL = """
    fit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(d) AS BIGINT) AS sd,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(d AS DECIMAL(38,0)) * y) AS sdy,
               SUM(CAST(d AS DECIMAL(38,0)) * d) AS sdd,
               SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
        FROM daily
    ),
    beta AS (
        SELECT n,
               (n * CAST(sdy AS DOUBLE) - CAST(sd AS DOUBLE) * sy)
                 / (n * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd)
                   AS b,
               (CAST(sy AS DOUBLE)
                - (n * CAST(sdy AS DOUBLE) - CAST(sd AS DOUBLE) * sy)
                  / (n * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd)
                  * sd) / n AS a,
               ((n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)
                - (n * CAST(sdy AS DOUBLE) - CAST(sd AS DOUBLE) * sy)
                  * (n * CAST(sdy AS DOUBLE) - CAST(sd AS DOUBLE) * sy)
                  / (n * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd))
                 / n AS sse
        FROM fit
    )
"""


# --------------------------------------------------------------------------
# X251: Dickey-Fuller unit-root test on daily revenue
# --------------------------------------------------------------------------
@register(
    "dickey_fuller_unit_root",
    oracle=f"""
    WITH daily AS ({_DAILY_ORDERS_SQL}),
    pairs AS (
        SELECT a.y AS w, b.y - a.y AS z
        FROM daily a JOIN daily b ON b.d = a.d + 1
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(w) AS BIGINT) AS sw,
               CAST(SUM(z) AS BIGINT) AS sz,
               SUM(CAST(w AS DECIMAL(38,0)) * w) AS sww,
               SUM(CAST(w AS DECIMAL(38,0)) * z) AS swz,
               SUM(CAST(z AS DECIMAL(38,0)) * z) AS szz
        FROM pairs
    ),
    s AS (
        SELECT n,
               (n * CAST(swz AS DOUBLE) - CAST(sw AS DOUBLE) * sz)
                 / (n * CAST(sww AS DOUBLE) - CAST(sw AS DOUBLE) * sw)
                   AS rho,
               ((n * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * sz)
                - (n * CAST(swz AS DOUBLE) - CAST(sw AS DOUBLE) * sz)
                  * (n * CAST(swz AS DOUBLE) - CAST(sw AS DOUBLE) * sz)
                  / (n * CAST(sww AS DOUBLE) - CAST(sw AS DOUBLE) * sw))
                 / n AS ssen,
               (n * CAST(sww AS DOUBLE) - CAST(sw AS DOUBLE) * sw) / n
                   AS sxx
        FROM m
    )
    SELECT n AS n_pairs,
           round(rho, 9) + 0.0 AS rho_hat,
           round(rho / sqrt((ssen / (n - 2)) / sxx), 6) + 0.0 AS tau_stat,
           CASE WHEN rho > -1 AND rho < 0
                THEN round(ln(0.5) / ln(1.0 + rho), 4) + 0.0
           END AS half_life_days
    FROM s
    """,
)
def dickey_fuller_unit_root(spark, sf_dir):
    """Dickey-Fuller unit-root test on daily revenue: regress the
    one-day difference Δy on the lagged level y_{t-1} and report
    ρ̂ and its t-ratio τ (compare to the DF critical values, not
    normal ones). τ near 0 means a random-walk revenue process —
    every mean-reverting forecast and control chart on the series is
    then lying; ρ̂ < 0 gives the mean-reversion half-life
    ln(½)/ln(1+ρ̂). The unit-root complement of `mann_kendall_trend`
    (monotone drift) and `kpss_level_stationarity` (the reversed null).

    Exactness: day-grain cents, consecutive-day pairs from a d = d+1
    self-join on the bounded calendar grid (gaps drop in both engines
    identically — no lag window), power sums through DECIMAL(38,0)
    (the sf0.1 overflow class), τ one IEEE expression from n-scaled
    centered moments. Plan: one orders rollup, one bounded self-join,
    one scalar fold; no window, no row-grain pass beyond the rollup.
    """
    daily = _daily_orders(spark, sf_dir)
    a, b_ = daily.alias("a"), daily.alias("b")
    pairs = a.join(b_, F.col("b.d") == F.col("a.d") + 1).select(
        F.col("a.y").alias("w"), (F.col("b.y") - F.col("a.y")).alias("z")
    )
    wd = F.col("w").cast("decimal(38,0)")
    zd = F.col("z").cast("decimal(38,0)")
    m = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("w").cast("bigint").alias("sw"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum(wd * F.col("w")).alias("sww"),
        F.sum(wd * F.col("z")).alias("swz"),
        F.sum(zd * F.col("z")).alias("szz"),
    )
    n = F.col("n").cast("double")
    sww_c = n * F.col("sww").cast("double") - F.col("sw").cast(
        "double"
    ) * F.col("sw")
    swz_c = n * F.col("swz").cast("double") - F.col("sw").cast(
        "double"
    ) * F.col("sz")
    szz_c = n * F.col("szz").cast("double") - F.col("sz").cast(
        "double"
    ) * F.col("sz")
    rho = swz_c / sww_c
    ssen = (szz_c - swz_c * swz_c / sww_c) / n
    sxx = sww_c / n
    return m.select(
        F.col("n").alias("n_pairs"),
        (F.round(rho, 9) + 0.0).alias("rho_hat"),
        (
            F.round(rho / F.sqrt((ssen / (n - 2)) / sxx), 6) + 0.0
        ).alias("tau_stat"),
        F.when(
            (rho > -1) & (rho < 0),
            F.round(F.log(F.lit(0.5)) / F.log(F.lit(1.0) + rho), 4) + 0.0,
        ).alias("half_life_days"),
    )


# --------------------------------------------------------------------------
# X252: KPSS level-stationarity test on daily revenue
# --------------------------------------------------------------------------
@register(
    "kpss_level_stationarity",
    oracle=f"""
    WITH daily AS ({_DAILY_ORDERS_SQL}),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS sy
        FROM daily
    ),
    e AS (
        SELECT d, CAST(y AS DECIMAL(38,0)) * n - sy AS u, n
        FROM daily, tot
    ),
    s AS (
        SELECT d, u, n,
               SUM(u) OVER (ORDER BY d
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS su
        FROM e
    ),
    parts AS (
        SELECT MAX(n) AS n,
               SUM(CAST(su AS DECIMAL(38,0)) * su) AS ss2,
               SUM(CAST(u AS DECIMAL(38,0)) * u) AS g0
        FROM s
    ),
    gam AS (
        SELECT j, SUM(CAST(a.u AS DECIMAL(38,0)) * b.u) AS gj
        FROM (SELECT UNNEST([1, 2, 3, 4]) AS j) lags
        JOIN e a ON true
        JOIN e b ON b.d = a.d + j
        GROUP BY j
    ),
    lr AS (
        SELECT p.n,
               CAST(p.ss2 AS DOUBLE) AS ss2,
               CAST(p.g0 AS DOUBLE)
                 + 2.0 * SUM((1.0 - j / 5.0) * CAST(g.gj AS DOUBLE))
                   AS s2lr
        FROM parts p, gam g
        GROUP BY p.n, p.ss2, p.g0
    )
    SELECT n AS n_days,
           round(ss2 / (n * s2lr), 6) + 0.0 AS kpss_eta,
           CASE WHEN ss2 / (n * s2lr) > 0.463 THEN 1 ELSE 0 END
               AS reject_level_5pct
    FROM lr
    """,
)
def kpss_level_stationarity(spark, sf_dir):
    """KPSS test of level stationarity on daily revenue — the REVERSED
    null vs Dickey-Fuller (H0 here = stationary), so the pair gives
    the four-quadrant verdict (both reject → structural break, both
    accept → underpowered, etc.). η = ΣS_t² / (n²·σ̂²_lr) with S_t
    the partial sums of mean deviations and σ̂²_lr the Bartlett-kernel
    long-run variance (l = 4); 0.463 is the 5% critical value.

    Exactness: deviations are the n-scaled integers u = y·n − Σy
    (exact at any partitioning); partial sums, ΣS², and the lag
    autocovariances all ride DECIMAL(38,0); the n-scaling cancels in
    the ratio (η = ΣS'²/(n·σ'²) after the common n³ factor drops).
    Lag products come from d = d+j self-joins (gap days drop in both
    engines identically). Plan: one rollup; the cumulative-sum window
    runs over the bounded calendar frame (~2,400 rows; the cusum class
    — allowlisted in tools/audit_single_partition.py), never at order
    grain.
    """
    from pyspark.sql import Window

    daily = _daily_orders(spark, sf_dir).persist()
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    e = daily.crossJoin(F.broadcast(tot)).select(
        "d",
        (F.col("y").cast("decimal(38,0)") * F.col("n") - F.col("sy")).alias(
            "u"
        ),
        "n",
    ).persist()
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    s = e.select("d", "u", "n", F.sum("u").over(w).alias("su"))
    parts = s.agg(
        F.max("n").alias("n"),
        F.sum(F.col("su").cast("decimal(38,0)") * F.col("su")).alias("ss2"),
        F.sum(F.col("u").cast("decimal(38,0)") * F.col("u")).alias("g0"),
    )
    lags = spark.range(1, 5).select(F.col("id").alias("j"))
    ea, eb = e.alias("ea"), e.alias("eb")
    gam = (
        ea.crossJoin(F.broadcast(lags))
        .join(
            eb,
            F.col("eb.d") == F.col("ea.d") + F.col("j"),
        )
        .groupBy("j")
        .agg(
            F.sum(
                F.col("ea.u").cast("decimal(38,0)") * F.col("eb.u")
            ).alias("gj")
        )
    )
    lr = (
        parts.crossJoin(gam)
        .groupBy("n", "ss2", "g0")
        .agg(
            F.sum(
                (1.0 - F.col("j") / 5.0) * F.col("gj").cast("double")
            ).alias("wgj")
        )
        .select(
            "n",
            F.col("ss2").cast("double").alias("ss2"),
            (F.col("g0").cast("double") + 2.0 * F.col("wgj")).alias("s2lr"),
        )
    )
    eta = F.col("ss2") / (F.col("n") * F.col("s2lr"))
    return lr.select(
        F.col("n").alias("n_days"),
        (F.round(eta, 6) + 0.0).alias("kpss_eta"),
        F.when(eta > 0.463, 1).otherwise(0).alias("reject_level_5pct"),
    )


# --------------------------------------------------------------------------
# X253: Breusch-Pagan / Koenker heteroscedasticity test
# --------------------------------------------------------------------------
@register(
    "breusch_pagan_koenker",
    oracle=f"""
    WITH daily AS ({_DAILY_ORDERS_SQL}),
    {_TREND_FIT_SQL},
    z AS (
        SELECT d,
               round((y - (a + b * d)) * (y - (a + b * d))
                     / (sse / (n - 2)), 9) AS g,
               n
        FROM daily, beta
    ),
    m AS (
        SELECT MAX(n) AS n,
               CAST(SUM(d) AS BIGINT) AS sd,
               SUM(CAST(d AS DECIMAL(38,0)) * d) AS sdd,
               SUM(CAST(round(g, 9) AS DECIMAL(28,9))) AS sg,
               SUM(CAST(round(d * g, 6) AS DECIMAL(32,6))) AS sdg,
               SUM(CAST(round(g * g, 6) AS DECIMAL(32,6))) AS sgg
        FROM z
    )
    SELECT n AS n_days,
           round(n * pow(n * CAST(round(sdg, 0) AS DOUBLE)
                         - sd * CAST(round(sg, 0) AS DOUBLE), 2)
                 / ((n * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd)
                    * (n * CAST(round(sgg, 0) AS DOUBLE)
                       - CAST(round(sg, 0) AS DOUBLE)
                         * CAST(round(sg, 0) AS DOUBLE))), 6) + 0.0
               AS koenker_lm
    FROM m
    """,
)
def breusch_pagan_koenker(spark, sf_dir):
    """Breusch-Pagan heteroscedasticity test (Koenker's studentized
    form) on the daily-revenue trend: regress the STUDENTIZED squared
    residuals g_t = e_t²/s² on the day index; LM = n·R². Significant
    LM means the trend's error variance grows/shrinks over time, so
    every homoscedastic interval (`chow_structural_break`'s F, the
    control-chart sigma) is miscalibrated — the diagnostic that says
    WHETHER to trust them, completing the residual panel with
    `durbin_watson_trend_residuals` (correlation) and
    `jarque_bera_normality` (shape).

    Exactness: the fit is the shared exact-moment trend (DECIMAL(38,0)
    power sums); residuals and g_t are one identical IEEE expression
    per day; studentizing by s² = SSE·n/(n−2) bounds g to O(1-100) so
    every sum rides a fixed-scale DECIMAL with no overflow at any SF
    (R² is scale-invariant, so the statistic is unchanged). Sums round
    to scale 0 before the DOUBLE cast (the int128 double-round
    hazard). Plan: rollup → broadcast fit → one fold; no window.
    """
    daily = _daily_orders(spark, sf_dir)
    beta = _trend_fit(daily)
    nL = F.col("n").cast("double")
    g = F.round(
        (F.col("y") - (F.col("a") + F.col("b") * F.col("d")))
        * (F.col("y") - (F.col("a") + F.col("b") * F.col("d")))
        / (F.col("sse") / (nL - 2)),
        9,
    )
    z = daily.crossJoin(F.broadcast(beta)).select(
        "d", g.alias("g"), "n"
    )
    m = z.agg(
        F.max("n").alias("n"),
        F.sum("d").cast("bigint").alias("sd"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")).alias("sdd"),
        F.sum(F.round(F.col("g"), 9).cast("decimal(28,9)")).alias("sg"),
        F.sum(
            F.round(F.col("d") * F.col("g"), 6).cast("decimal(32,6)")
        ).alias("sdg"),
        F.sum(
            F.round(F.col("g") * F.col("g"), 6).cast("decimal(32,6)")
        ).alias("sgg"),
    )
    n = F.col("n").cast("double")
    sg0 = F.round(F.col("sg"), 0).cast("double")
    sdg0 = F.round(F.col("sdg"), 0).cast("double")
    sgg0 = F.round(F.col("sgg"), 0).cast("double")
    lm = (
        n
        * F.pow(n * sdg0 - F.col("sd") * sg0, F.lit(2.0))
        / (
            (
                n * F.col("sdd").cast("double")
                - F.col("sd").cast("double") * F.col("sd")
            )
            * (n * sgg0 - sg0 * sg0)
        )
    )
    return m.select(
        F.col("n").alias("n_days"),
        (F.round(lm, 6) + 0.0).alias("koenker_lm"),
    )


# --------------------------------------------------------------------------
# X254: Granger causality (lag 1): do order counts lead revenue?
# --------------------------------------------------------------------------
@register(
    "granger_causality_lag1",
    oracle=f"""
    WITH daily AS ({_DAILY_ORDERS_SQL}),
    pairs AS (
        SELECT b.y AS yy, a.y AS y1, a.c AS x1
        FROM daily a JOIN daily b ON b.d = a.d + 1
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(yy) AS BIGINT) AS sy,
               CAST(SUM(y1) AS BIGINT) AS s1,
               CAST(SUM(x1) AS BIGINT) AS s2,
               SUM(CAST(y1 AS DECIMAL(38,0)) * y1) AS s11,
               SUM(CAST(y1 AS DECIMAL(38,0)) * x1) AS s12,
               SUM(CAST(x1 AS DECIMAL(38,0)) * x1) AS s22,
               SUM(CAST(y1 AS DECIMAL(38,0)) * yy) AS s1y,
               SUM(CAST(x1 AS DECIMAL(38,0)) * yy) AS s2y,
               SUM(CAST(yy AS DECIMAL(38,0)) * yy) AS syy
        FROM pairs
    ),
    c AS (
        SELECT n,
               n * CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 AS c11,
               n * CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 AS c12,
               n * CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 AS c22,
               n * CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * sy AS c1y,
               n * CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * sy AS c2y,
               n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy AS cyy
        FROM m
    ),
    r AS (
        SELECT n,
               (cyy - ((c22 * c1y - c12 * c2y) * c1y
                       + (c11 * c2y - c12 * c1y) * c2y)
                      / (c11 * c22 - c12 * c12)) / n AS rss_u,
               (cyy - c1y * c1y / c11) / n AS rss_r,
               (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12)
                   AS beta_count
        FROM c
    )
    SELECT n AS n_pairs,
           round(beta_count, 6) + 0.0 AS beta_lagged_count,
           round((rss_r - rss_u) / (rss_u / (n - 3)), 6) + 0.0
               AS granger_f
    FROM r
    """,
)
def granger_causality_lag1(spark, sf_dir):
    """Granger causality at lag 1: does yesterday's ORDER COUNT carry
    information about today's REVENUE beyond yesterday's revenue?
    F-test of the restricted AR(1) (y_t ~ y_{t-1}) against the
    unrestricted VAR row (y_t ~ y_{t-1} + count_{t-1}), both fit in
    closed form from the 2×2 normal equations. The lead-lag HYPOTHESIS
    TEST on top of `cross_correlation_daily`'s descriptive panel —
    correlation says the series co-move, Granger says the count adds
    predictive value.

    Exactness: all ten power sums are exact integers through
    DECIMAL(38,0) (cents × cents is the sf0.1 overflow class);
    centered moments, the solved coefficients, and both RSS values
    are single IEEE expressions from those integers (the chow
    pattern). Consecutive-day pairs from the d = d+1 self-join on the
    calendar grid. Plan: one rollup, one bounded self-join, one
    scalar fold; no window.
    """
    daily = _daily_orders(spark, sf_dir)
    a, b_ = daily.alias("a"), daily.alias("b")
    pairs = a.join(b_, F.col("b.d") == F.col("a.d") + 1).select(
        F.col("b.y").alias("yy"),
        F.col("a.y").alias("y1"),
        F.col("a.c").alias("x1"),
    )
    y1d = F.col("y1").cast("decimal(38,0)")
    x1d = F.col("x1").cast("decimal(38,0)")
    yyd = F.col("yy").cast("decimal(38,0)")
    m = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("yy").cast("bigint").alias("sy"),
        F.sum("y1").cast("bigint").alias("s1"),
        F.sum("x1").cast("bigint").alias("s2"),
        F.sum(y1d * F.col("y1")).alias("s11"),
        F.sum(y1d * F.col("x1")).alias("s12"),
        F.sum(x1d * F.col("x1")).alias("s22"),
        F.sum(y1d * F.col("yy")).alias("s1y"),
        F.sum(x1d * F.col("yy")).alias("s2y"),
        F.sum(yyd * F.col("yy")).alias("syy"),
    )
    n = F.col("n").cast("double")

    def cc(sab, sa, sb):
        return n * F.col(sab).cast("double") - F.col(sa).cast(
            "double"
        ) * F.col(sb)

    c11, c12, c22 = cc("s11", "s1", "s1"), cc("s12", "s1", "s2"), cc(
        "s22", "s2", "s2"
    )
    c1y, c2y, cyy = cc("s1y", "s1", "sy"), cc("s2y", "s2", "sy"), cc(
        "syy", "sy", "sy"
    )
    det = c11 * c22 - c12 * c12
    bu = (c22 * c1y - c12 * c2y) / det
    cu = (c11 * c2y - c12 * c1y) / det
    rss_u = (cyy - (bu * c1y + cu * c2y)) / n
    rss_r = (cyy - c1y * c1y / c11) / n
    return m.select(
        F.col("n").alias("n_pairs"),
        (F.round(cu, 6) + 0.0).alias("beta_lagged_count"),
        (
            F.round((rss_r - rss_u) / (rss_u / (n - 3)), 6) + 0.0
        ).alias("granger_f"),
    )


# --------------------------------------------------------------------------
# X255: ARCH-effect (McLeod-Li) test on trend residuals
# --------------------------------------------------------------------------
@register(
    "arch_effect_mcleod_li",
    oracle=f"""
    WITH daily AS ({_DAILY_ORDERS_SQL}),
    {_TREND_FIT_SQL},
    z AS (
        SELECT d,
               round((y - (a + b * d)) * (y - (a + b * d))
                     / (sse / (n - 2)), 9) AS s
        FROM daily, beta
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(round(SUM(CAST(round(s, 9) AS DECIMAL(28,9))), 9)
                    AS DOUBLE) AS ssum
        FROM z
    ),
    lagsum AS (
        SELECT j,
               CAST(COUNT(*) AS BIGINT) AS nj,
               CAST(round(SUM(CAST(round(a.s * b.s, 6)
                                   AS DECIMAL(32,6))), 6) AS DOUBLE)
                   AS spp,
               CAST(round(SUM(CAST(round(a.s + b.s, 9)
                                   AS DECIMAL(28,9))), 9) AS DOUBLE)
                   AS spair
        FROM (SELECT UNNEST([1, 2, 3, 4, 5]) AS j) lags
        JOIN z a ON true
        JOIN z b ON b.d = a.d + j
        GROUP BY j
    ),
    den AS (
        SELECT t.n,
               CAST(round(SUM(CAST(round(
                   (s - ssum / n) * (s - ssum / n), 6)
                   AS DECIMAL(32,6))), 6) AS DOUBLE) AS css
        FROM z, tot t GROUP BY t.n
    ),
    acf AS (
        SELECT l.j,
               (l.spp - (t.ssum / t.n) * l.spair
                + l.nj * (t.ssum / t.n) * (t.ssum / t.n)) / d.css AS r
        FROM lagsum l, tot t, den d
    )
    SELECT a.j AS lag,
           round(a.r, 6) + 0.0 AS acf_sq_resid,
           round(t.n * (t.n + 2.0)
                 * (SELECT SUM(b.r * b.r / (t.n - b.j)) FROM acf b
                    WHERE b.j <= a.j), 6) + 0.0 AS mcleod_li_q
    FROM acf a, tot t
    """,
)
def arch_effect_mcleod_li(spark, sf_dir):
    """McLeod-Li / ARCH-effect test: Ljung-Box portmanteau on the
    SQUARED studentized trend residuals at lags 1..5. The raw-residual
    ACF (`durbin_watson_trend_residuals`, `acf_ljung_box`) can be
    clean while volatility still clusters — squared-residual
    autocorrelation is the canonical ARCH signature, and it decides
    whether `ewma_control_chart`-style constant-sigma limits are valid
    or a GARCH-style widening is needed.

    Exactness: studentized g = e²/s² bounds every term to O(1-100)
    (scale-invariant statistic, the breusch_pagan_koenker trick), all
    sums are rounded-term fixed-scale DECIMAL folds, lag products come
    from d = d+j self-joins on the calendar grid, and the 5-term
    cumulative Q is a triangular join over the 5-row lag frame — no
    window anywhere. Output: one row per lag with r_j and the running
    McLeod-Li Q.
    """
    daily = _daily_orders(spark, sf_dir)
    beta = _trend_fit(daily)
    nL = F.col("n").cast("double")
    sexpr = F.round(
        (F.col("y") - (F.col("a") + F.col("b") * F.col("d")))
        * (F.col("y") - (F.col("a") + F.col("b") * F.col("d")))
        / (F.col("sse") / (nL - 2)),
        9,
    )
    z = (
        daily.crossJoin(F.broadcast(beta))
        .select("d", sexpr.alias("s"))
        .persist()
    )
    tot = z.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum(F.round(F.col("s"), 9).cast("decimal(28,9)")), 9)
        .cast("double")
        .alias("ssum"),
    )
    lags = spark.range(1, 6).select(F.col("id").alias("j"))
    za, zb = z.alias("za"), z.alias("zb")
    lagsum = (
        za.crossJoin(F.broadcast(lags))
        .join(zb, F.col("zb.d") == F.col("za.d") + F.col("j"))
        .groupBy("j")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nj"),
            F.round(
                F.sum(
                    F.round(F.col("za.s") * F.col("zb.s"), 6).cast(
                        "decimal(32,6)"
                    )
                ),
                6,
            )
            .cast("double")
            .alias("spp"),
            F.round(
                F.sum(
                    F.round(F.col("za.s") + F.col("zb.s"), 9).cast(
                        "decimal(28,9)"
                    )
                ),
                9,
            )
            .cast("double")
            .alias("spair"),
        )
    )
    den = (
        z.crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                F.sum(
                    F.round(
                        (F.col("s") - F.col("ssum") / F.col("n"))
                        * (F.col("s") - F.col("ssum") / F.col("n")),
                        6,
                    ).cast("decimal(32,6)")
                ),
                6,
            )
            .cast("double")
            .alias("css")
        )
    )
    mean = F.col("ssum") / F.col("n")
    acf = (
        lagsum.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(den))
        .select(
            "j",
            "n",
            (
                (
                    F.col("spp")
                    - mean * F.col("spair")
                    + F.col("nj") * mean * mean
                )
                / F.col("css")
            ).alias("r"),
        )
        .persist()
    )
    a2 = acf.select(
        F.col("j").alias("j2"), F.col("r").alias("r2")
    )
    q = (
        acf.join(a2, F.col("j2") <= F.col("j"))
        .groupBy("j", "n", "r")
        .agg(
            F.sum(
                F.col("r2") * F.col("r2") / (F.col("n") - F.col("j2"))
            ).alias("qsum")
        )
    )
    return q.select(
        F.col("j").alias("lag"),
        (F.round(F.col("r"), 6) + 0.0).alias("acf_sq_resid"),
        (
            F.round(F.col("n") * (F.col("n") + 2.0) * F.col("qsum"), 6)
            + 0.0
        ).alias("mcleod_li_q"),
    )


# --------------------------------------------------------------------------
# X256: spectral entropy of the daily revenue series
# --------------------------------------------------------------------------
@register(
    "spectral_entropy_daily",
    oracle=f"""
    WITH daily AS ({_DAILY_ORDERS_SQL}),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s,
               CAST(MIN(d) AS BIGINT) AS d0
        FROM daily
    ),
    terms AS (
        SELECT p,
               SUM((CAST(y AS DECIMAL(38,0)) * n - s)
                   * CAST(round(cos(2 * pi() * ((d - d0) % p) / p), 9)
                          AS DECIMAL(12,9))) AS sc,
               SUM((CAST(y AS DECIMAL(38,0)) * n - s)
                   * CAST(round(sin(2 * pi() * ((d - d0) % p) / p), 9)
                          AS DECIMAL(12,9))) AS ss
        FROM daily, tot, (SELECT UNNEST(range(2, 15)) AS p) periods
        GROUP BY p
    ),
    den AS (
        SELECT SUM((CAST(y AS DECIMAL(38,0)) * n - s)
                   * (CAST(y AS DECIMAL(38,0)) * n - s)) AS dsq,
               MAX(n) AS n
        FROM daily, tot
    ),
    power AS (
        SELECT p,
               round((CAST(round(sc, 0) AS DOUBLE)
                      * CAST(round(sc, 0) AS DOUBLE)
                      + CAST(round(ss, 0) AS DOUBLE)
                      * CAST(round(ss, 0) AS DOUBLE))
                     / (n * CAST(round(dsq, 0) AS DOUBLE)), 9) AS w
        FROM terms, den
    ),
    norm AS (
        SELECT CAST(round(SUM(CAST(w AS DECIMAL(12,9))), 9) AS DOUBLE)
            AS tw
        FROM power
    ),
    ent AS (
        SELECT SUM(CAST(CASE WHEN w > 0
                   THEN round(-(w / tw) * ln(w / tw), 9) ELSE 0 END
                   AS DECIMAL(12,9))) AS h
        FROM power, norm
    ),
    top AS (
        SELECT p, w FROM power ORDER BY w DESC, p ASC LIMIT 1
    )
    SELECT d.n AS n_days,
           round(CAST(e.h AS DOUBLE) / ln(13.0), 6) + 0.0
               AS spectral_entropy,
           t.p AS dominant_period,
           round(t.w / m.tw, 6) + 0.0 AS dominant_share
    FROM ent e, top t, norm m, den d
    """,
)
def spectral_entropy_daily(spark, sf_dir):
    """Normalized spectral entropy of daily revenue over candidate
    periods 2..14 days: H = −Σ p̂ ln p̂ / ln(13) on the normalized
    periodogram. Near 1 = white-noise-flat spectrum, near 0 = one
    dominant cycle; the single-number "how seasonal is this series"
    gauge on top of `periodogram_dft_peaks`' per-period panel (that
    query reports WHERE the peaks are; this one reports how
    concentrated the spectrum is, plus the argmax period for free).

    Exactness: identical DFT machinery to the periodogram (n-scaled
    integer deviations × 1e-9-rounded trig factors in DECIMAL, scale-0
    round before the DOUBLE cast); powers round to 1e-9 before the
    13-term normalization and entropy folds, both of which are
    fixed-scale DECIMAL sums over the period DOMAIN (13 rows). The
    argmax uses the total order (power desc, period asc). Plan: one
    rollup, broadcast period dim, two tiny folds; no window.
    """
    e = _daily_orders(spark, sf_dir)
    tot = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.min("d").cast("bigint").alias("d0"),
    )
    periods = spark.range(2, 15).select(F.col("id").alias("p"))
    theta = (
        2.0
        * math.pi
        * ((F.col("d") - F.col("d0")) % F.col("p"))
        / F.col("p")
    )
    u = (F.col("y").cast("decimal(38,0)") * F.col("n") - F.col("s"))
    terms = (
        e.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(periods))
        .groupBy("p")
        .agg(
            F.sum(u * F.round(F.cos(theta), 9).cast("decimal(12,9)")).alias(
                "sc"
            ),
            F.sum(u * F.round(F.sin(theta), 9).cast("decimal(12,9)")).alias(
                "ss"
            ),
        )
    )
    den = e.crossJoin(F.broadcast(tot)).agg(
        F.sum(u * u).alias("dsq"), F.max("n").alias("n")
    )
    sc0 = F.round(F.col("sc"), 0).cast("double")
    ss0 = F.round(F.col("ss"), 0).cast("double")
    power = terms.crossJoin(F.broadcast(den)).select(
        "p",
        F.round(
            (sc0 * sc0 + ss0 * ss0)
            / (F.col("n") * F.round(F.col("dsq"), 0).cast("double")),
            9,
        ).alias("w"),
    ).persist()
    norm = power.agg(
        F.round(F.sum(F.col("w").cast("decimal(12,9)")), 9)
        .cast("double")
        .alias("tw")
    )
    ent = (
        power.crossJoin(F.broadcast(norm))
        .agg(
            F.sum(
                F.when(
                    F.col("w") > 0,
                    F.round(
                        -(F.col("w") / F.col("tw"))
                        * F.log(F.col("w") / F.col("tw")),
                        9,
                    ),
                )
                .otherwise(F.lit(0.0))
                .cast("decimal(12,9)")
            ).alias("h")
        )
    )
    top = power.orderBy(F.col("w").desc(), F.col("p").asc()).limit(1)
    return (
        ent.crossJoin(F.broadcast(top))
        .crossJoin(F.broadcast(norm))
        .crossJoin(F.broadcast(den.select("n")))
        .select(
            F.col("n").alias("n_days"),
            (
                F.round(
                    F.col("h").cast("double") / math.log(13.0), 6
                )
                + 0.0
            ).alias("spectral_entropy"),
            F.col("p").alias("dominant_period"),
            (F.round(F.col("w") / F.col("tw"), 6) + 0.0).alias(
                "dominant_share"
            ),
        )
    )


# --------------------------------------------------------------------------
# X257: turning-points randomness test
# --------------------------------------------------------------------------
@register(
    "turning_points_randomness",
    oracle=f"""
    WITH daily AS ({_DAILY_ORDERS_SQL}),
    triples AS (
        SELECT CASE WHEN (b.y - a.y) * (c.y - b.y) < 0 THEN 1 ELSE 0 END
                   AS tp
        FROM daily a
        JOIN daily b ON b.d = a.d + 1
        JOIN daily c ON c.d = a.d + 2
        WHERE a.y <> b.y AND b.y <> c.y
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_triples,
               CAST(SUM(tp) AS BIGINT) AS tps
        FROM triples
    )
    SELECT n_triples, tps AS turning_points,
           round(2.0 * n_triples / 3.0, 6) AS expected_tp,
           round((tps - 2.0 * n_triples / 3.0)
                 / sqrt((16.0 * (n_triples + 2) - 29.0) / 90.0), 6)
               + 0.0 AS z_score
    FROM s
    """,
)
def turning_points_randomness(spark, sf_dir):
    """Turning-points test of series randomness: count local
    extrema among consecutive-day revenue triples — an i.i.d. series
    has E[T] = 2m/3 turning points over m triples; too few means
    persistence (trend/momentum), too many means oscillation
    (negative autocorrelation, e.g. inventory whipsaw). The
    triple-grain companion to `runs_test_randomness` (which looks at
    direction RUNS) — the two catch different departures.

    Exactness: pure integer sign arithmetic on cents ((y₂−y₁)(y₃−y₂)
    < 0 — products of day deltas fit int64 at any SF... cast through
    DECIMAL(38,0) anyway for the sf0.1 class); flat steps (exact
    ties) are excluded in both engines identically. Consecutive
    triples from two d+1/d+2 self-joins on the bounded calendar grid;
    z from the classic variance (16m−29)/90. Plan: one rollup, two
    bounded self-joins, one scalar fold; no window.
    """
    daily = _daily_orders(spark, sf_dir)
    a, b_, c = daily.alias("a"), daily.alias("b"), daily.alias("c")
    triples = (
        a.join(b_, F.col("b.d") == F.col("a.d") + 1)
        .join(c, F.col("c.d") == F.col("a.d") + 2)
        .where(
            (F.col("a.y") != F.col("b.y"))
            & (F.col("b.y") != F.col("c.y"))
        )
        .select(
            F.when(
                (F.col("b.y") - F.col("a.y")).cast("decimal(38,0)")
                * (F.col("c.y") - F.col("b.y"))
                < 0,
                1,
            )
            .otherwise(0)
            .alias("tp")
        )
    )
    s = triples.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triples"),
        F.sum("tp").cast("bigint").alias("tps"),
    )
    m = F.col("n_triples")
    return s.select(
        "n_triples",
        F.col("tps").alias("turning_points"),
        F.round(2.0 * m / 3.0, 6).alias("expected_tp"),
        (
            F.round(
                (F.col("tps") - 2.0 * m / 3.0)
                / F.sqrt((16.0 * (m + 2) - 29.0) / 90.0),
                6,
            )
            + 0.0
        ).alias("z_score"),
    )


# --------------------------------------------------------------------------
# X258: paired sign test on per-user half-window spend
# --------------------------------------------------------------------------
_USER_HALVES_SQL = """
        SELECT user_id,
               CAST(SUM(CASE WHEN CAST(epoch_us(ts) // 86400000000
                                       AS BIGINT) < dmin + 15
                             THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                       AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS front,
               CAST(SUM(CASE WHEN CAST(epoch_us(ts) // 86400000000
                                       AS BIGINT) >= dmin + 15
                             THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                       AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS back
        FROM events,
             (SELECT CAST(MIN(epoch_us(ts) // 86400000000) AS BIGINT)
                  AS dmin FROM events) r
        GROUP BY user_id
"""


@register(
    "sign_test_paired",
    oracle=f"""
    WITH halves AS ({_USER_HALVES_SQL}),
    d AS (
        SELECT back - front AS diff FROM halves WHERE back <> front
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS b
        FROM d
    )
    SELECT m AS n_nonzero_pairs, b AS n_positive,
           round((b - m / 2.0) / sqrt(m / 4.0), 6) + 0.0 AS z_plain,
           round((abs(b - m / 2.0) - 0.5) / sqrt(m / 4.0), 6) + 0.0
               AS z_continuity
    FROM s
    """,
)
def sign_test_paired(spark, sf_dir):
    """Paired SIGN test on each user's second-half vs first-half spend
    (the same calendar pairing as `wilcoxon_signed_rank`: split at
    min day + 15). The sign test uses only the DIRECTION of each
    user's change — it trades power for total robustness (valid under
    any asymmetric, heavy-tailed within-user distribution where the
    signed-rank's symmetry assumption breaks), so the pair of tests
    brackets the conclusion: signed-rank significant + sign test not
    = the effect lives in the magnitudes, not the directions.

    Exactness: per-user half sums are exact integer cents (one fold
    over events with a broadcast min-day scalar); zero diffs drop in
    both engines identically; b and m are plain counts and both z
    forms (plain and continuity-corrected) are single IEEE
    expressions. Plan: scalar broadcast, one user-grain fold, one
    scalar fold; no window, no join beyond the broadcast.
    """
    e = t(spark, sf_dir, "events")
    r = e.agg(
        F.min(
            F.floor(F.unix_micros("ts") / 86_400_000_000)
        )
        .cast("bigint")
        .alias("dmin")
    )
    cents = (dec("value", 18, 2) * 100).cast("bigint")
    day = F.floor(F.unix_micros("ts") / 86_400_000_000).cast("bigint")
    halves = (
        e.crossJoin(F.broadcast(r))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(day < F.col("dmin") + 15, cents).otherwise(0)
            )
            .cast("bigint")
            .alias("front"),
            F.sum(
                F.when(day >= F.col("dmin") + 15, cents).otherwise(0)
            )
            .cast("bigint")
            .alias("back"),
        )
    )
    s = halves.where(F.col("back") != F.col("front")).agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum(
            F.when(F.col("back") - F.col("front") > 0, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("b"),
    )
    m, b = F.col("m"), F.col("b")
    return s.select(
        m.alias("n_nonzero_pairs"),
        b.alias("n_positive"),
        (F.round((b - m / 2.0) / F.sqrt(m / 4.0), 6) + 0.0).alias(
            "z_plain"
        ),
        (
            F.round(
                (F.abs(b - m / 2.0) - 0.5) / F.sqrt(m / 4.0), 6
            )
            + 0.0
        ).alias("z_continuity"),
    )


# --------------------------------------------------------------------------
# X259: Mood's median test across event types
# --------------------------------------------------------------------------
@register(
    "moods_median_test",
    oracle="""
    WITH pts AS (
        SELECT event_type AS g,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        FROM events
    ),
    grid AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM pts GROUP BY v
    ),
    cum AS (
        SELECT v,
               SUM(c) OVER (ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cc,
               SUM(c) OVER () AS n
        FROM grid
    ),
    med AS (
        SELECT CAST(MIN(v) AS BIGINT) AS med FROM cum
        WHERE 2 * cc >= n
    ),
    cells AS (
        SELECT g,
               CAST(SUM(CASE WHEN v > med THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_above,
               CAST(SUM(CASE WHEN v <= med THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_le
        FROM pts, med GROUP BY g
    ),
    marg AS (
        SELECT CAST(SUM(n_above) AS BIGINT) AS ta,
               CAST(SUM(n_le) AS BIGINT) AS tl,
               CAST(SUM(n_above + n_le) AS BIGINT) AS n
        FROM cells
    ),
    chi AS (
        SELECT SUM(round(
            pow(n_above - (n_above + n_le) * (ta * 1.0 / n), 2)
              / ((n_above + n_le) * (ta * 1.0 / n))
            + pow(n_le - (n_above + n_le) * (tl * 1.0 / n), 2)
              / ((n_above + n_le) * (tl * 1.0 / n)), 9)) AS chi2
        FROM cells, marg
    )
    SELECT c.g AS event_type, c.n_above, c.n_le,
           round((c.n_above + c.n_le) * (m.ta * 1.0 / m.n), 6)
               AS expected_above,
           d.med AS grand_median_cents,
           round(h.chi2, 6) + 0.0 AS chi2_total
    FROM cells c, marg m, med d, chi h
    """,
)
def moods_median_test(spark, sf_dir):
    """Mood's median test: do the five event types share one MEDIAN?
    Dichotomize every value at the grand median and chi-square the
    resulting type x {above, <=} contingency table. The crudest and
    most assumption-free of the k-sample location tests — the one to
    trust when `kruskal_wallis_values` is distorted by radically
    different group shapes (KW tests dominance, Mood tests only the
    median split).

    Exactness: the grand median is the exact LOWER median on the
    integer cents grid (cumulative counts over the distinct-value
    frame — the gini_split_threshold device; the grid is bounded by
    the price DOMAIN, never corpus-sized — allowlisted); cells are
    plain counts; chi2 folds per-cell IEEE terms rounded at 1e-9.
    Plan: one value-grid rollup + bounded window, one broadcast median
    scalar, one type-grain fold.
    """
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    pts = e.select(
        F.col("event_type").alias("g"),
        (dec("value", 18, 2) * 100).cast("bigint").alias("v"),
    ).persist()
    grid = pts.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.select(
        "v",
        F.sum("c").over(w).alias("cc"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    med = (
        cum.where(2 * F.col("cc") >= F.col("n"))
        .agg(F.min("v").cast("bigint").alias("med"))
    )
    cells = (
        pts.crossJoin(F.broadcast(med))
        .groupBy("g")
        .agg(
            F.sum(F.when(F.col("v") > F.col("med"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_above"),
            F.sum(F.when(F.col("v") <= F.col("med"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_le"),
        )
        .persist()
    )
    marg = cells.agg(
        F.sum("n_above").cast("bigint").alias("ta"),
        F.sum("n_le").cast("bigint").alias("tl"),
        F.sum(F.col("n_above") + F.col("n_le")).cast("bigint").alias("n"),
    )
    rowtot = F.col("n_above") + F.col("n_le")
    ea = rowtot * (F.col("ta") * 1.0 / F.col("n"))
    el = rowtot * (F.col("tl") * 1.0 / F.col("n"))
    chi = cells.crossJoin(F.broadcast(marg)).agg(
        F.sum(
            F.round(
                F.pow(F.col("n_above") - ea, F.lit(2.0)) / ea
                + F.pow(F.col("n_le") - el, F.lit(2.0)) / el,
                9,
            )
        ).alias("chi2")
    )
    return (
        cells.crossJoin(F.broadcast(marg))
        .crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(chi))
        .select(
            F.col("g").alias("event_type"),
            "n_above",
            "n_le",
            F.round(ea, 6).alias("expected_above"),
            F.col("med").alias("grand_median_cents"),
            (F.round(F.col("chi2"), 6) + 0.0).alias("chi2_total"),
        )
    )


# --------------------------------------------------------------------------
# X260: Cliff's delta ordinal effect size (bucketed)
# --------------------------------------------------------------------------
@register(
    "cliffs_delta_bucketed",
    oracle="""
    WITH pts AS (
        SELECT user_id % 2 AS grp,
               CAST(FLOOR(CAST(CAST(value AS DECIMAL(18,2)) * 100
                               AS BIGINT) / 100) AS BIGINT) AS b
        FROM events
    ),
    g1 AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM pts
        WHERE grp = 1 GROUP BY b
    ),
    g0 AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM pts
        WHERE grp = 0 GROUP BY b
    ),
    x AS (
        SELECT CAST(SUM(CASE WHEN a.b > z.b
                        THEN CAST(a.c AS DECIMAL(38,0)) * z.c
                        ELSE 0 END) AS DECIMAL(38,0)) AS gt,
               CAST(SUM(CASE WHEN a.b < z.b
                        THEN CAST(a.c AS DECIMAL(38,0)) * z.c
                        ELSE 0 END) AS DECIMAL(38,0)) AS lt
        FROM g1 a, g0 z
    ),
    n AS (
        SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM g1) AS n1,
               (SELECT CAST(SUM(c) AS BIGINT) FROM g0) AS n0
    )
    SELECT n1, n0,
           round((CAST(gt AS DOUBLE) - CAST(lt AS DOUBLE))
                 / (CAST(n1 AS DOUBLE) * n0), 9) + 0.0 AS cliffs_delta,
           CASE WHEN abs((CAST(gt AS DOUBLE) - CAST(lt AS DOUBLE))
                         / (CAST(n1 AS DOUBLE) * n0)) < 0.147
                    THEN 'negligible'
                WHEN abs((CAST(gt AS DOUBLE) - CAST(lt AS DOUBLE))
                         / (CAST(n1 AS DOUBLE) * n0)) < 0.33
                    THEN 'small'
                WHEN abs((CAST(gt AS DOUBLE) - CAST(lt AS DOUBLE))
                         / (CAST(n1 AS DOUBLE) * n0)) < 0.474
                    THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM x, n
    """,
)
def cliffs_delta_bucketed(spark, sf_dir):
    """Cliff's delta between the user-parity A/B groups on event
    value — the ORDINAL effect size: P(x > y) − P(x < y) over all
    cross-group pairs, the measure to report when `cohens_d_panel`'s
    standardized difference is distorted by outliers (delta is
    invariant to any monotone transform). Romano et al. magnitude
    bands (0.147/0.33/0.474) attached.

    Exactness: values land on the whole-dollar bucket grid (the
    kendall_tau_b_bucketed device) so all pair counting is a
    491x491 grid cross-product of exact integer counts — products
    ride DECIMAL(38,0) (n1*n0 is the sf0.1 overflow class). Pairs in
    the same bucket count as ties (dropped from both numerator
    terms) — the documented bucketed variant. Plan: two grid rollups,
    one bounded grid join, one scalar fold; event rows are touched
    exactly once each.
    """
    e = t(spark, sf_dir, "events")
    pts = e.select(
        (F.col("user_id") % 2).alias("grp"),
        F.floor(
            (dec("value", 18, 2) * 100).cast("bigint") / 100
        )
        .cast("bigint")
        .alias("b"),
    )
    g1 = (
        pts.where(F.col("grp") == 1)
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    g0 = (
        pts.where(F.col("grp") == 0)
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    a, z = g1.alias("a"), g0.alias("z")
    x = a.crossJoin(F.broadcast(z)).agg(
        F.sum(
            F.when(
                F.col("a.b") > F.col("z.b"),
                F.col("a.c").cast("decimal(38,0)") * F.col("z.c"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("gt"),
        F.sum(
            F.when(
                F.col("a.b") < F.col("z.b"),
                F.col("a.c").cast("decimal(38,0)") * F.col("z.c"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("lt"),
    )
    n1 = g1.agg(F.sum("c").cast("bigint").alias("n1"))
    n0 = g0.agg(F.sum("c").cast("bigint").alias("n0"))
    delta = (
        F.col("gt").cast("double") - F.col("lt").cast("double")
    ) / (F.col("n1").cast("double") * F.col("n0"))
    return (
        x.crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n0))
        .select(
            "n1",
            "n0",
            (F.round(delta, 9) + 0.0).alias("cliffs_delta"),
            F.when(F.abs(delta) < 0.147, "negligible")
            .when(F.abs(delta) < 0.33, "small")
            .when(F.abs(delta) < 0.474, "medium")
            .otherwise("large")
            .alias("magnitude"),
        )
    )


# --------------------------------------------------------------------------
# X261: Cohen's d / Hedges' g / Glass's delta effect-size panel
# --------------------------------------------------------------------------
@register(
    "cohens_d_panel",
    oracle="""
    WITH pts AS (
        SELECT user_id % 2 AS grp,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        FROM events
    ),
    m AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s,
               SUM(CAST(v AS DECIMAL(38,0)) * v) AS ss
        FROM pts GROUP BY grp
    ),
    wide AS (
        SELECT MAX(CASE WHEN grp = 1 THEN n END) AS n1,
               MAX(CASE WHEN grp = 0 THEN n END) AS n0,
               MAX(CASE WHEN grp = 1 THEN s END) AS s1,
               MAX(CASE WHEN grp = 0 THEN s END) AS s0,
               MAX(CASE WHEN grp = 1 THEN CAST(ss AS DOUBLE) END) AS ss1,
               MAX(CASE WHEN grp = 0 THEN CAST(ss AS DOUBLE) END) AS ss0
        FROM m
    ),
    stats AS (
        SELECT n1, n0,
               CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0
                   AS mdiff,
               (ss1 - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1) AS v1,
               (ss0 - CAST(s0 AS DOUBLE) * s0 / n0) / (n0 - 1) AS v0
        FROM wide
    )
    SELECT n1 AS n_treatment, n0 AS n_control,
           round(mdiff / 100.0, 6) + 0.0 AS mean_diff_dollars,
           round(mdiff / sqrt(((n1 - 1) * v1 + (n0 - 1) * v0)
                              / (n1 + n0 - 2)), 6) + 0.0 AS cohens_d,
           round(mdiff / sqrt(((n1 - 1) * v1 + (n0 - 1) * v0)
                              / (n1 + n0 - 2))
                 * (1.0 - 3.0 / (4.0 * (n1 + n0) - 9.0)), 6) + 0.0
               AS hedges_g,
           round(mdiff / sqrt(v0), 6) + 0.0 AS glass_delta
    FROM stats
    """,
)
def cohens_d_panel(spark, sf_dir):
    """Standardized effect-size panel for the user-parity A/B split on
    event value: Cohen's d (pooled SD), Hedges' g (small-sample bias
    correction 1 − 3/(4N−9)), and Glass's Δ (control-group SD — the
    one to read when the treatment changes the variance too). The
    size-free companion the significance tests need: `mann_whitney_u_
    values` says WHETHER the groups differ, this panel says by HOW
    MANY standard deviations (what a meta-analysis or power planner
    consumes).

    Exactness: per-group n/Σv/Σv² on integer cents through
    DECIMAL(38,0); means, variances, and all three ratios are single
    IEEE expressions from those integers. Plan: one two-group fold, a
    2-row pivot, one scalar projection; no join, no window.
    """
    e = t(spark, sf_dir, "events")
    pts = e.select(
        (F.col("user_id") % 2).alias("grp"),
        (dec("value", 18, 2) * 100).cast("bigint").alias("v"),
    )
    m = pts.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("ss"),
    )
    wide = m.agg(
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("grp") == 1, F.col("s"))).alias("s1"),
        F.max(F.when(F.col("grp") == 0, F.col("s"))).alias("s0"),
        F.max(
            F.when(F.col("grp") == 1, F.col("ss").cast("double"))
        ).alias("ss1"),
        F.max(
            F.when(F.col("grp") == 0, F.col("ss").cast("double"))
        ).alias("ss0"),
    )
    n1, n0 = F.col("n1"), F.col("n0")
    mdiff = F.col("s1").cast("double") / n1 - F.col("s0").cast(
        "double"
    ) / n0
    v1 = (
        F.col("ss1") - F.col("s1").cast("double") * F.col("s1") / n1
    ) / (n1 - 1)
    v0 = (
        F.col("ss0") - F.col("s0").cast("double") * F.col("s0") / n0
    ) / (n0 - 1)
    sp = F.sqrt(((n1 - 1) * v1 + (n0 - 1) * v0) / (n1 + n0 - 2))
    return wide.select(
        n1.alias("n_treatment"),
        n0.alias("n_control"),
        (F.round(mdiff / 100.0, 6) + 0.0).alias("mean_diff_dollars"),
        (F.round(mdiff / sp, 6) + 0.0).alias("cohens_d"),
        (
            F.round(
                mdiff / sp * (1.0 - 3.0 / (4.0 * (n1 + n0) - 9.0)), 6
            )
            + 0.0
        ).alias("hedges_g"),
        (F.round(mdiff / F.sqrt(v0), 6) + 0.0).alias("glass_delta"),
    )


# --------------------------------------------------------------------------
# X262: confusion-matrix panel with Matthews correlation
# --------------------------------------------------------------------------
@register(
    "mcc_confusion_panel",
    oracle="""
    WITH pts AS (
        SELECT CASE WHEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT) >= 10000
                    THEN 1 ELSE 0 END AS pred,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ),
    c AS (
        SELECT CAST(SUM(pred * y) AS BIGINT) AS tp,
               CAST(SUM(pred * (1 - y)) AS BIGINT) AS fp,
               CAST(SUM((1 - pred) * y) AS BIGINT) AS fn,
               CAST(SUM((1 - pred) * (1 - y)) AS BIGINT) AS tn
        FROM pts
    )
    SELECT tp, fp, fn, tn,
           round(tp * 1.0 / (tp + fp), 6) AS precision_pos,
           round(tp * 1.0 / (tp + fn), 6) AS recall_pos,
           round(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1,
           round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
                 / sqrt((CAST(tp AS DOUBLE) + fp) * (CAST(tp AS DOUBLE) + fn)
                        * (CAST(tn AS DOUBLE) + fp)
                        * (CAST(tn AS DOUBLE) + fn)), 6) + 0.0 AS mcc,
           round(tp * 1.0 / (tp + fn) + tn * 1.0 / (tn + fp) - 1.0, 6)
               + 0.0 AS informedness
    FROM c
    """,
)
def mcc_confusion_panel(spark, sf_dir):
    """Full confusion-matrix evaluation of the value-threshold
    purchase classifier (predict 'purchase' when value >= $100):
    precision/recall/F1 plus the two class-imbalance-robust scores the
    F1 habit hides — Matthews correlation (the only single number
    using all four cells) and Youden informedness (TPR + TNR − 1).
    With ~20% positives F1 can look respectable while MCC exposes a
    near-random rule; this panel is the honest readout the
    `score_calibration_bins` / `auc_rank_score` tier feeds into.

    Exactness: four integer cells from one fold; every metric is one
    IEEE expression from them (the MCC product crosses int64 at scale,
    so each factor casts to DOUBLE before multiplying — exact inputs,
    deterministic expression). Plan: one pass, one scalar projection;
    no join, no window.
    """
    e = t(spark, sf_dir, "events")
    pts = e.select(
        F.when(
            (dec("value", 18, 2) * 100).cast("bigint") >= 10000, 1
        )
        .otherwise(0)
        .alias("pred"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    c = pts.agg(
        F.sum(F.col("pred") * F.col("y")).cast("bigint").alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("y"))).cast("bigint").alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("y")).cast("bigint").alias("fn"),
        F.sum((1 - F.col("pred")) * (1 - F.col("y")))
        .cast("bigint")
        .alias("tn"),
    )
    tp, fp, fn, tn = (F.col(x) for x in ("tp", "fp", "fn", "tn"))
    tpd, fpd, tnd = (
        tp.cast("double"),
        fp.cast("double"),
        tn.cast("double"),
    )
    return c.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(tp * 1.0 / (tp + fp), 6).alias("precision_pos"),
        F.round(tp * 1.0 / (tp + fn), 6).alias("recall_pos"),
        F.round(2.0 * tp / (2.0 * tp + fp + fn), 6).alias("f1"),
        (
            F.round(
                (tpd * tn - fpd * fn)
                / F.sqrt(
                    (tpd + fp) * (tpd + fn) * (tnd + fp) * (tnd + fn)
                ),
                6,
            )
            + 0.0
        ).alias("mcc"),
        (
            F.round(
                tp * 1.0 / (tp + fn) + tn * 1.0 / (tn + fp) - 1.0, 6
            )
            + 0.0
        ).alias("informedness"),
    )


# --------------------------------------------------------------------------
# X263: Youden-J threshold scan over the score grid
# --------------------------------------------------------------------------
@register(
    "youden_j_threshold_scan",
    oracle="""
    WITH pts AS (
        SELECT CAST(FLOOR(CAST(CAST(value AS DECIMAL(18,2)) * 100
                               AS BIGINT) / 100) AS BIGINT) AS b,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ),
    grid AS (
        SELECT b, CAST(SUM(y) AS BIGINT) AS pos,
               CAST(SUM(1 - y) AS BIGINT) AS neg
        FROM pts GROUP BY b
    ),
    tot AS (
        SELECT CAST(SUM(pos) AS BIGINT) AS p,
               CAST(SUM(neg) AS BIGINT) AS q
        FROM grid
    ),
    scan AS (
        SELECT th.t,
               CAST(COALESCE(SUM(CASE WHEN g.b >= th.t THEN g.pos END), 0)
                    AS BIGINT) AS tp,
               CAST(COALESCE(SUM(CASE WHEN g.b >= th.t THEN g.neg END), 0)
                    AS BIGINT) AS fp
        FROM (SELECT UNNEST(range(0, 500, 10)) AS t) th
        LEFT JOIN grid g ON true
        GROUP BY th.t
    ),
    best AS (
        SELECT t FROM scan, tot
        ORDER BY CAST(tp AS DECIMAL(38,0)) * q
                 - CAST(fp AS DECIMAL(38,0)) * p DESC, t ASC
        LIMIT 1
    )
    SELECT s.t AS threshold_dollars,
           round(s.tp * 1.0 / o.p, 6) AS tpr,
           round(s.fp * 1.0 / o.q, 6) AS fpr,
           round(s.tp * 1.0 / o.p - s.fp * 1.0 / o.q, 6) + 0.0
               AS youden_j,
           CASE WHEN s.t = b.t THEN 1 ELSE 0 END AS is_best
    FROM scan s, tot o, best b
    """,
)
def youden_j_threshold_scan(spark, sf_dir):
    """ROC threshold scan on the whole-dollar score grid (0, 10, ...,
    490): TPR/FPR/Youden-J of "predict purchase when value >= t" at
    every candidate cutoff, with the J-optimal threshold flagged —
    the operating-point chooser that turns `auc_rank_score`'s
    ranking quality into a deployable rule. The argmax is decided on
    the EXACT integer cross-product tp*N⁻ − fp*N⁺ (same ordering as
    J, no float comparison), tiebroken toward the lower threshold.

    Exactness: one bucket-grid rollup (501-value price domain), a
    50-row threshold dim joined against it (bounded 50x491 cells),
    integer tp/fp everywhere; ratios are display-only. Plan: one
    rollup, one broadcast grid join, a 1-row TakeOrdered argmax
    broadcast back; event rows touched once.
    """
    e = t(spark, sf_dir, "events")
    pts = e.select(
        F.floor((dec("value", 18, 2) * 100).cast("bigint") / 100)
        .cast("bigint")
        .alias("b"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    grid = pts.groupBy("b").agg(
        F.sum("y").cast("bigint").alias("pos"),
        F.sum(1 - F.col("y")).cast("bigint").alias("neg"),
    ).persist()
    tot = grid.agg(
        F.sum("pos").cast("bigint").alias("p"),
        F.sum("neg").cast("bigint").alias("q"),
    )
    th = spark.range(0, 500, 10).select(F.col("id").alias("t"))
    scan = (
        th.crossJoin(grid)
        .groupBy("t")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("b") >= F.col("t"), F.col("pos"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tp"),
            F.coalesce(
                F.sum(F.when(F.col("b") >= F.col("t"), F.col("neg"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("fp"),
        )
        .persist()
    )
    best = (
        scan.crossJoin(F.broadcast(tot))
        .orderBy(
            (
                F.col("tp").cast("decimal(38,0)") * F.col("q")
                - F.col("fp").cast("decimal(38,0)") * F.col("p")
            ).desc(),
            F.col("t").asc(),
        )
        .select(F.col("t").alias("bt"))
        .limit(1)
    )
    return (
        scan.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(best))
        .select(
            F.col("t").alias("threshold_dollars"),
            F.round(F.col("tp") * 1.0 / F.col("p"), 6).alias("tpr"),
            F.round(F.col("fp") * 1.0 / F.col("q"), 6).alias("fpr"),
            (
                F.round(
                    F.col("tp") * 1.0 / F.col("p")
                    - F.col("fp") * 1.0 / F.col("q"),
                    6,
                )
                + 0.0
            ).alias("youden_j"),
            F.when(F.col("t") == F.col("bt"), 1)
            .otherwise(0)
            .alias("is_best"),
        )
    )


# --------------------------------------------------------------------------
# X264: Brier score with Murphy decomposition
# --------------------------------------------------------------------------
@register(
    "brier_murphy_decomposition",
    oracle="""
    WITH pts AS (
        SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS p,
               CAST(round(SUM(CAST(round(
                   (cents / 50000.0 - y) * (cents / 50000.0 - y), 9)
                   AS DECIMAL(20,9))), 9) AS DOUBLE) AS bs_sum
        FROM pts
    ),
    bins AS (
        SELECT cents // 5000 AS k,
               CAST(COUNT(*) AS BIGINT) AS nk,
               CAST(SUM(cents) AS BIGINT) AS sc,
               CAST(SUM(y) AS BIGINT) AS ok
        FROM pts GROUP BY 1
    ),
    dec_ AS (
        SELECT CAST(round(SUM(CAST(round(
                   nk * (sc / (50000.0 * nk) - ok * 1.0 / nk)
                      * (sc / (50000.0 * nk) - ok * 1.0 / nk), 9)
                   AS DECIMAL(20,9))), 9) AS DOUBLE) AS rel,
               CAST(round(SUM(CAST(round(
                   nk * (ok * 1.0 / nk - t.p * 1.0 / t.n)
                      * (ok * 1.0 / nk - t.p * 1.0 / t.n), 9)
                   AS DECIMAL(20,9))), 9) AS DOUBLE) AS res
        FROM bins, tot t
    )
    SELECT t.n AS n_events,
           round(t.bs_sum / t.n, 6) AS brier_score,
           round(d.rel / t.n, 6) AS reliability,
           round(d.res / t.n, 6) AS resolution,
           round((t.p * 1.0 / t.n) * (1.0 - t.p * 1.0 / t.n), 6)
               AS uncertainty
    FROM tot t, dec_ d
    """,
)
def brier_murphy_decomposition(spark, sf_dir):
    """Brier score of the normalized value score s = value/$500 as a
    purchase-probability forecast, with the Murphy decomposition over
    ten equal score bins: BS ≈ reliability − resolution + uncertainty.
    Reliability (want 0) is the calibration gap `score_calibration_
    bins` plots, resolution (want large) is the sharpness the
    calibration plot can't show, uncertainty is the outcome-entropy
    floor no forecaster beats — the panel that says whether a score
    is bad because it's MIScalibrated or because it's UNinformative.

    Exactness: s is the exact rational cents/50000 evaluated as one
    IEEE expression; the BS fold and both decomposition folds sum
    1e-9-rounded terms in fixed-scale DECIMAL (bin means are doubles
    from exact integer sums); bins are the integer grid cents//5000.
    Plan: two folds over one rollup pass + a 10-row decomposition
    fold; no join beyond scalar broadcasts, no window.
    """
    e = t(spark, sf_dir, "events")
    pts = e.select(
        (dec("value", 18, 2) * 100).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    ).persist()
    s = F.col("cents") / 50000.0
    tot = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("p"),
        F.round(
            F.sum(
                F.round(
                    (s - F.col("y")) * (s - F.col("y")), 9
                ).cast("decimal(20,9)")
            ),
            9,
        )
        .cast("double")
        .alias("bs_sum"),
    )
    bins = pts.groupBy(
        F.expr("cents div 5000").alias("k")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("nk"),
        F.sum("cents").cast("bigint").alias("sc"),
        F.sum("y").cast("bigint").alias("ok"),
    )
    sbar = F.col("sc") / (50000.0 * F.col("nk"))
    obar_k = F.col("ok") * 1.0 / F.col("nk")
    obar = F.col("p") * 1.0 / F.col("n")
    decomp = bins.crossJoin(F.broadcast(tot)).agg(
        F.round(
            F.sum(
                F.round(
                    F.col("nk") * (sbar - obar_k) * (sbar - obar_k), 9
                ).cast("decimal(20,9)")
            ),
            9,
        )
        .cast("double")
        .alias("rel"),
        F.round(
            F.sum(
                F.round(
                    F.col("nk") * (obar_k - obar) * (obar_k - obar), 9
                ).cast("decimal(20,9)")
            ),
            9,
        )
        .cast("double")
        .alias("res"),
    )
    return tot.crossJoin(F.broadcast(decomp)).select(
        F.col("n").alias("n_events"),
        F.round(F.col("bs_sum") / F.col("n"), 6).alias("brier_score"),
        F.round(F.col("rel") / F.col("n"), 6).alias("reliability"),
        F.round(F.col("res") / F.col("n"), 6).alias("resolution"),
        F.round(obar * (1.0 - obar), 6).alias("uncertainty"),
    )


# --------------------------------------------------------------------------
# X265: Ansari-Bradley scale test (weekend vs weekday values)
# --------------------------------------------------------------------------
@register(
    "ansari_bradley_scale",
    oracle="""
    WITH pts AS (
        SELECT CASE WHEN (CAST(epoch_us(ts) // 86400000000 AS BIGINT)
                          + 4) % 7 IN (0, 6) THEN 1 ELSE 0 END AS g,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        FROM events
    ),
    grid AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(g) AS BIGINT) AS c1
        FROM pts GROUP BY v
    ),
    cum AS (
        SELECT v, c, c1,
               SUM(c) OVER (ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cc
        FROM grid
    ),
    tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS N,
               CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c - c1) AS BIGINT) AS n2,
               (CAST(SUM(c) AS BIGINT) + 1) // 2 AS m
        FROM grid
    ),
    blocks AS (
        SELECT c, c1,
               CAST((CASE WHEN cc <= m THEN cc * (cc + 1) // 2 ELSE m * (m + 1) // 2 + (N + 1) * (cc - m) - (cc * (cc + 1) // 2 - m * (m + 1) // 2) END) - (CASE WHEN (cc - c) <= m THEN (cc - c) * ((cc - c) + 1) // 2 ELSE m * (m + 1) // 2 + (N + 1) * ((cc - c) - m) - ((cc - c) * ((cc - c) + 1) // 2 - m * (m + 1) // 2) END) AS DOUBLE) / c AS abar
        FROM cum, tot
    ),
    folds AS (
        SELECT CAST(round(SUM(CAST(round(c1 * abar, 6)
                                   AS DECIMAL(38,6))), 6) AS DOUBLE)
                   AS w,
               CAST(round(SUM(CAST(round(c * abar * abar, 0)
                                   AS DECIMAL(38,0))), 0) AS DOUBLE)
                   AS sb
        FROM blocks
    )
    SELECT t.n1 AS n_weekend, t.n2 AS n_weekday,
           round(f.w, 2) AS ab_statistic,
           round(t.n1 * CAST((CASE WHEN N <= m THEN N * (N + 1) // 2 ELSE m * (m + 1) // 2 + (N + 1) * (N - m) - (N * (N + 1) // 2 - m * (m + 1) // 2) END) AS DOUBLE) / t.N, 4)
               AS expected_w,
           round((f.w - t.n1 * CAST((CASE WHEN N <= m THEN N * (N + 1) // 2 ELSE m * (m + 1) // 2 + (N + 1) * (N - m) - (N * (N + 1) // 2 - m * (m + 1) // 2) END) AS DOUBLE) / t.N)
                 / sqrt(t.n1 * CAST(t.n2 AS DOUBLE)
                        * (f.sb - CAST((CASE WHEN N <= m THEN N * (N + 1) // 2 ELSE m * (m + 1) // 2 + (N + 1) * (N - m) - (N * (N + 1) // 2 - m * (m + 1) // 2) END) AS DOUBLE)
                                  * (CASE WHEN N <= m THEN N * (N + 1) // 2 ELSE m * (m + 1) // 2 + (N + 1) * (N - m) - (N * (N + 1) // 2 - m * (m + 1) // 2) END) / t.N)
                        / (CAST(t.N AS DOUBLE) * (t.N - 1))), 6) + 0.0
               AS z_score
    FROM folds f, tot t
    """,
)
def ansari_bradley_scale(spark, sf_dir):
    """Ansari-Bradley test: do weekend and weekday event values differ
    in SCALE (dispersion) around a common center? Ranks are assigned
    from BOTH ends of the pooled order (score min(r, N+1−r)), so small
    scores mark extreme values — a group collecting small scores is
    the more dispersed one. The rank-based companion to
    `levene_brown_forsythe`/`bartlett_variance_test`: valid with no
    moment assumptions at all, and the only one of the three that is
    also a proper two-sample test against dispersion alternatives.

    Exactness: tied blocks get their exact MID-SCORE via the closed
    form T(k) = Σ_{r<=k} min(r, N+1−r) (pure integer arithmetic,
    evaluated at the block's cumulative boundaries on the value-grid
    rollup — no per-row ranking); W and the tie-exact variance fold
    1e-6/1-rounded terms in fixed-scale DECIMAL. The cumulative window
    runs over the distinct-value grid (price-domain-bounded — the
    auc_rank_score class, allowlisted). Plan: one grid rollup +
    bounded window, scalar broadcasts, one fold.
    """
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    pts = e.select(
        F.when(
            (
                (
                    F.floor(F.unix_micros("ts") / 86_400_000_000).cast(
                        "bigint"
                    )
                    + 4
                )
                % 7
            ).isin(0, 6),
            1,
        )
        .otherwise(0)
        .alias("g"),
        (dec("value", 18, 2) * 100).cast("bigint").alias("v"),
    )
    grid = pts.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("g").cast("bigint").alias("c1"),
    ).persist()
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.select("v", "c", "c1", F.sum("c").over(w).alias("cc"))
    tot = grid.agg(
        F.sum("c").cast("bigint").alias("N"),
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum(F.col("c") - F.col("c1")).cast("bigint").alias("n2"),
    ).select(
        "N", "n1", "n2", F.expr("(N + 1) div 2").alias("m")
    )

    def T(k):
        return F.expr(
            f"CASE WHEN {k} <= m THEN {k} * ({k} + 1) div 2 "
            f"ELSE m * (m + 1) div 2 + (N + 1) * ({k} - m) "
            f"- ({k} * ({k} + 1) div 2 - m * (m + 1) div 2) END"
        )

    blocks = cum.crossJoin(F.broadcast(tot)).select(
        "c",
        "c1",
        ((T("cc") - T("(cc - c)")).cast("double") / F.col("c")).alias(
            "abar"
        ),
    )
    folds = blocks.agg(
        F.round(
            F.sum(
                F.round(F.col("c1") * F.col("abar"), 6).cast(
                    "decimal(38,6)"
                )
            ),
            6,
        )
        .cast("double")
        .alias("w"),
        F.round(
            F.sum(
                F.round(
                    F.col("c") * F.col("abar") * F.col("abar"), 0
                ).cast("decimal(38,0)")
            ),
            0,
        )
        .cast("double")
        .alias("sb"),
    )
    tn = T("N").cast("double")
    ew = F.col("n1") * tn / F.col("N")
    var = (
        F.col("n1")
        * F.col("n2").cast("double")
        * (F.col("sb") - tn * tn / F.col("N"))
        / (F.col("N").cast("double") * (F.col("N") - 1))
    )
    return folds.crossJoin(F.broadcast(tot)).select(
        F.col("n1").alias("n_weekend"),
        F.col("n2").alias("n_weekday"),
        F.round(F.col("w"), 2).alias("ab_statistic"),
        F.round(ew, 4).alias("expected_w"),
        (F.round((F.col("w") - ew) / F.sqrt(var), 6) + 0.0).alias(
            "z_score"
        ),
    )


# --------------------------------------------------------------------------
# X266: mean reciprocal rank of first purchase per user
# --------------------------------------------------------------------------
@register(
    "mrr_reciprocal_rank",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(CAST(value AS DECIMAL(18,2)) * 100
                                 AS BIGINT) DESC, event_id ASC) AS r
        FROM events
    ),
    firsts AS (
        SELECT user_id, CAST(MIN(r) AS BIGINT) AS fr
        FROM ranked WHERE event_type = 'purchase'
        GROUP BY user_id
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(round(SUM(CAST(round(1.0 / fr, 9)
                                   AS DECIMAL(20,9))), 9) AS DOUBLE)
                   AS rr_sum,
               CAST(SUM(fr) AS BIGINT) AS fr_sum
        FROM firsts
    )
    SELECT n_users AS n_users_with_purchase,
           round(rr_sum / n_users, 6) AS mrr,
           round(fr_sum * 1.0 / n_users, 4) AS mean_first_rank
    FROM s
    """,
)
def mrr_reciprocal_rank(spark, sf_dir):
    """Mean reciprocal rank of "retrieve each user's purchases by
    ranking their events on value": per user, rank events by (cents
    desc, event_id asc — the unique total order) and take 1/rank of
    the first purchase; MRR averages over users with at least one
    purchase. The single-relevant-item eval metric completing the
    ranking panel — `average_precision_ranking` grades the whole
    list, `ndcg_at_k_ranking` grades graded gains, MRR grades time-
    to-first-hit (the navigational-query / dedup-survivor-lookup
    regime).

    Exactness: ranks come from a user-PARTITIONED row_number (bounded
    per-user frames — audit-clean); reciprocal ranks round to 1e-9
    and fold in DECIMAL. Plan: one partitioned window pass, one
    user-grain min, one scalar fold.
    """
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        (dec("value", 18, 2) * 100).cast("bigint").desc(),
        F.col("event_id").asc(),
    )
    ranked = e.select(
        "user_id", "event_type", F.row_number().over(w).alias("r")
    )
    firsts = (
        ranked.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("r").cast("bigint").alias("fr"))
    )
    s = firsts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.round(
            F.sum(F.round(1.0 / F.col("fr"), 9).cast("decimal(20,9)")),
            9,
        )
        .cast("double")
        .alias("rr_sum"),
        F.sum("fr").cast("bigint").alias("fr_sum"),
    )
    return s.select(
        F.col("n_users").alias("n_users_with_purchase"),
        F.round(F.col("rr_sum") / F.col("n_users"), 6).alias("mrr"),
        F.round(F.col("fr_sum") * 1.0 / F.col("n_users"), 4).alias(
            "mean_first_rank"
        ),
    )


# --------------------------------------------------------------------------
# X267: rank-biased overlap of the quantity vs revenue part rankings
# --------------------------------------------------------------------------
@register(
    "rank_biased_overlap_parts",
    oracle="""
    WITH parts AS (
        SELECT l_partkey,
               CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2))
                             AS BIGINT)) AS BIGINT) AS qty,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS rev
        FROM lineitem GROUP BY l_partkey
    ),
    qa AS (
        SELECT l_partkey FROM parts
        ORDER BY qty DESC, l_partkey ASC LIMIT 20
    ),
    rb AS (
        SELECT l_partkey FROM parts
        ORDER BY rev DESC, l_partkey ASC LIMIT 20
    ),
    qr AS (
        SELECT a.l_partkey,
               CAST((SELECT COUNT(*) FROM qa x, parts px, parts pa
                     WHERE x.l_partkey = px.l_partkey
                       AND a.l_partkey = pa.l_partkey
                       AND (px.qty > pa.qty OR (px.qty = pa.qty
                            AND x.l_partkey <= a.l_partkey)))
                    AS BIGINT) AS ra
        FROM qa a
    ),
    rr AS (
        SELECT a.l_partkey,
               CAST((SELECT COUNT(*) FROM rb x, parts px, parts pa
                     WHERE x.l_partkey = px.l_partkey
                       AND a.l_partkey = pa.l_partkey
                       AND (px.rev > pa.rev OR (px.rev = pa.rev
                            AND x.l_partkey <= a.l_partkey)))
                    AS BIGINT) AS rb_
        FROM rb a
    ),
    ov AS (
        SELECT d.d,
               CAST(COUNT(j.l_partkey) AS BIGINT) AS inter
        FROM (SELECT UNNEST(range(1, 21)) AS d) d
        LEFT JOIN (SELECT q.l_partkey, q.ra, r.rb_
                   FROM qr q JOIN rr r ON q.l_partkey = r.l_partkey) j
          ON j.ra <= d.d AND j.rb_ <= d.d
        GROUP BY d.d
    ),
    rbo AS (
        SELECT CAST(round(SUM(CAST(round(
                   0.1 * pow(0.9, d - 1) * inter / d, 9)
                   AS DECIMAL(20,9))), 9) AS DOUBLE) AS rbo20
        FROM ov
    )
    SELECT round(r.rbo20, 6) AS rbo_p09_depth20,
           (SELECT inter FROM ov WHERE d = 20) AS overlap_at_20,
           (SELECT round(inter / 20.0, 4) FROM ov WHERE d = 20)
               AS jaccard_proxy_at_20
    FROM rbo r
    """,
)
def rank_biased_overlap_parts(spark, sf_dir):
    """Rank-biased overlap (Webber et al. 2010, truncated at depth 20,
    p = 0.9) between the two natural part leaderboards — by total
    quantity vs by total revenue. RBO is the top-weighted list
    comparison a ranking-eval pipeline needs when Kendall/Spearman
    over-weight the tail: it answers "do the two rankings agree WHERE
    IT MATTERS (the head)?" with geometric depth discounting.

    Exactness: both top-20 lists come from TakeOrderedAndProject with
    the unique total order (metric desc, partkey asc); ranks WITHIN
    each 20-row list are recomputed by a triangular count against the
    same total order (no window — a 20x20 self-join), so the plan is
    window-free end to end; per-depth intersections are exact integer
    counts over the 20-row depth dim, and the 20-term RBO series
    folds 1e-9-rounded terms in DECIMAL. Plan: one part rollup, two
    TakeOrdered heads, bounded joins only.
    """
    li = t(spark, sf_dir, "lineitem")
    parts = li.groupBy("l_partkey").agg(
        F.sum(dec("l_quantity", 12, 2).cast("bigint"))
        .cast("bigint")
        .alias("qty"),
        (F.sum(dec("l_extendedprice", 18, 2)) * 100)
        .cast("bigint")
        .alias("rev"),
    ).persist()
    qa = parts.orderBy(
        F.col("qty").desc(), F.col("l_partkey").asc()
    ).limit(20)
    rb = parts.orderBy(
        F.col("rev").desc(), F.col("l_partkey").asc()
    ).limit(20)

    def with_rank(top, metric):
        x = top.select(
            F.col("l_partkey").alias("k"),
            F.col(metric).alias("mx"),
        )
        a = top.select(
            F.col("l_partkey").alias("pk"), F.col(metric).alias("ma")
        )
        return (
            a.crossJoin(x)
            .where(
                (F.col("mx") > F.col("ma"))
                | (
                    (F.col("mx") == F.col("ma"))
                    & (F.col("k") <= F.col("pk"))
                )
            )
            .groupBy("pk")
            .agg(F.count(F.lit(1)).cast("bigint").alias("r"))
        )

    qr = with_rank(qa, "qty").withColumnRenamed("r", "ra")
    rr = with_rank(rb, "rev").withColumnRenamed("r", "rb_")
    j = qr.join(rr, "pk")
    depths = spark.range(1, 21).select(F.col("id").alias("d"))
    ov = (
        depths.join(
            j,
            (F.col("ra") <= F.col("d")) & (F.col("rb_") <= F.col("d")),
            "left",
        )
        .groupBy("d")
        .agg(F.count(F.col("pk")).cast("bigint").alias("inter"))
        .persist()
    )
    rbo = ov.agg(
        F.round(
            F.sum(
                F.round(
                    0.1
                    * F.pow(F.lit(0.9), F.col("d") - 1)
                    * F.col("inter")
                    / F.col("d"),
                    9,
                ).cast("decimal(20,9)")
            ),
            9,
        )
        .cast("double")
        .alias("rbo20")
    )
    at20 = ov.where(F.col("d") == 20).select(
        F.col("inter").alias("overlap_at_20"),
        F.round(F.col("inter") / 20.0, 4).alias("jaccard_proxy_at_20"),
    )
    return rbo.crossJoin(F.broadcast(at20)).select(
        F.round(F.col("rbo20"), 6).alias("rbo_p09_depth20"),
        "overlap_at_20",
        "jaccard_proxy_at_20",
    )


# --------------------------------------------------------------------------
# X268: customer revenue inequality panel (Theil / Hoover / Atkinson)
# --------------------------------------------------------------------------
@register(
    "customer_inequality_panel",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS x
        FROM orders GROUP BY o_custkey
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS xs
        FROM cust
    ),
    terms AS (
        SELECT CAST(round(SUM(CAST(round(
                   (x * 1.0 / xs) * ln(x * CAST(n AS DOUBLE) / xs), 9)
                   AS DECIMAL(20,9))), 9) AS DOUBLE) AS theil_t,
               CAST(round(SUM(CAST(round(
                   ln(CAST(xs AS DOUBLE) / (CAST(n AS DOUBLE) * x)), 9)
                   AS DECIMAL(28,9))), 9) AS DOUBLE) AS lsum,
               CAST(round(SUM(CAST(round(
                   abs(x * 1.0 / xs - 1.0 / n), 12)
                   AS DECIMAL(20,12))), 12) AS DOUBLE) AS hsum,
               CAST(round(SUM(CAST(round(ln(CAST(x AS DOUBLE)), 9)
                   AS DECIMAL(28,9))), 9) AS DOUBLE) AS lnx
        FROM cust, tot
    )
    SELECT t.n AS n_customers,
           round(m.theil_t, 6) + 0.0 AS theil_t,
           round(m.lsum / t.n, 6) + 0.0 AS theil_l,
           round(m.hsum / 2.0, 6) AS hoover_index,
           round(1.0 - exp(m.lnx / t.n)
                 / (CAST(t.xs AS DOUBLE) / t.n), 6) + 0.0
               AS atkinson_1
    FROM tot t, terms m
    """,
)
def customer_inequality_panel(spark, sf_dir):
    """Revenue-concentration inequality panel over customer lifetime
    spend: Theil T (top-sensitive, decomposable by segment), Theil L /
    mean log deviation (bottom-sensitive), Hoover (the share of
    revenue that would have to move to equalize), and Atkinson(ε=1)
    (1 − geometric/arithmetic mean ratio). Four axioms-apart views of
    the same concentration `market_concentration_hhi` and the Gini
    summarize with one number each — together they say WHERE the
    inequality lives (head vs tail), which is what a mixture-weights
    or account-risk decision actually needs.

    Exactness: per-customer cents are exact integers; every
    entropy/log term is one IEEE expression rounded at 1e-9/1e-12 and
    folded in fixed-scale DECIMAL; the four indices are scalar
    expressions from those folds. Plan: one customer rollup, one
    broadcast total, one fold; no window, no join beyond the scalar.
    """
    o = t(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        (F.sum(dec("o_totalprice", 18, 2)) * 100)
        .cast("bigint")
        .alias("x")
    )
    tot = cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("xs"),
    )
    xd = F.col("x") * 1.0
    nd = F.col("n").cast("double")
    xsd = F.col("xs").cast("double")
    terms = cust.crossJoin(F.broadcast(tot)).agg(
        F.round(
            F.sum(
                F.round(
                    (xd / F.col("xs")) * F.log(xd * nd / F.col("xs")),
                    9,
                ).cast("decimal(20,9)")
            ),
            9,
        )
        .cast("double")
        .alias("theil_t"),
        F.round(
            F.sum(
                F.round(F.log(xsd / (nd * F.col("x"))), 9).cast(
                    "decimal(28,9)"
                )
            ),
            9,
        )
        .cast("double")
        .alias("lsum"),
        F.round(
            F.sum(
                F.round(
                    F.abs(xd / F.col("xs") - 1.0 / F.col("n")), 12
                ).cast("decimal(20,12)")
            ),
            12,
        )
        .cast("double")
        .alias("hsum"),
        F.round(
            F.sum(
                F.round(F.log(F.col("x").cast("double")), 9).cast(
                    "decimal(28,9)"
                )
            ),
            9,
        )
        .cast("double")
        .alias("lnx"),
    )
    return tot.crossJoin(F.broadcast(terms)).select(
        F.col("n").alias("n_customers"),
        (F.round(F.col("theil_t"), 6) + 0.0).alias("theil_t"),
        (F.round(F.col("lsum") / F.col("n"), 6) + 0.0).alias("theil_l"),
        F.round(F.col("hsum") / 2.0, 6).alias("hoover_index"),
        (
            F.round(
                1.0
                - F.exp(F.col("lnx") / F.col("n"))
                / (F.col("xs").cast("double") / F.col("n")),
                6,
            )
            + 0.0
        ).alias("atkinson_1"),
    )


# --------------------------------------------------------------------------
# X269: Laspeyres / Paasche / Fisher monthly price indices
# --------------------------------------------------------------------------
@register(
    "fisher_price_index_monthly",
    oracle="""
    WITH pm AS (
        SELECT l_partkey AS p,
               CAST(date_trunc('month', l_shipdate) AS DATE) AS m,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS revc,
               CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2))
                             AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem GROUP BY 1, 2
    ),
    base AS (
        SELECT p, revc AS rev0, qty AS qty0
        FROM pm WHERE m = (SELECT MIN(m) FROM pm)
    ),
    joined AS (
        SELECT c.m, c.p,
               CAST(c.revc AS DOUBLE) / c.qty AS pt,
               CAST(b.rev0 AS DOUBLE) / b.qty0 AS p0,
               b.qty0, c.qty AS qt
        FROM pm c JOIN base b ON c.p = b.p
        WHERE c.m > (SELECT MIN(m) FROM pm)
    ),
    folds AS (
        SELECT m, CAST(COUNT(*) AS BIGINT) AS n_common_parts,
               CAST(round(SUM(CAST(round(pt * qty0, 4)
                    AS DECIMAL(38,4))), 4) AS DOUBLE) AS l_num,
               CAST(round(SUM(CAST(round(p0 * qty0, 4)
                    AS DECIMAL(38,4))), 4) AS DOUBLE) AS l_den,
               CAST(round(SUM(CAST(round(pt * qt, 4)
                    AS DECIMAL(38,4))), 4) AS DOUBLE) AS p_num,
               CAST(round(SUM(CAST(round(p0 * qt, 4)
                    AS DECIMAL(38,4))), 4) AS DOUBLE) AS p_den
        FROM joined GROUP BY m
    )
    SELECT m AS month, n_common_parts,
           round(l_num / l_den, 6) AS laspeyres,
           round(p_num / p_den, 6) AS paasche,
           round(sqrt((l_num / l_den) * (p_num / p_den)), 6) AS fisher
    FROM folds
    """,
)
def fisher_price_index_monthly(spark, sf_dir):
    """Laspeyres, Paasche, and Fisher price indices of the part
    catalogue by ship month against the first month as base: L fixes
    the base-month basket (overstates inflation under substitution),
    P fixes the current basket (understates), Fisher is their
    geometric mean — the superlative index national statistics
    agencies publish. Per (part, month) the price is the realized
    unit price Σ revenue / Σ quantity; only parts present in BOTH the
    base and current month enter (the matched-model rule).

    Exactness: revenue cents and whole-unit quantities are exact
    integers per (part, month); unit prices are per-row IEEE ratios;
    the four basket sums fold 1e-4-rounded terms in DECIMAL(38,4) per
    month. Plan: one (part, month) rollup, a broadcast base-month
    join keyed on part, one month-grain fold — the month frame is
    calendar-bounded. No window.
    """
    li = t(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        F.col("l_partkey").alias("p"),
        F.date_trunc("month", "l_shipdate").cast("date").alias("m"),
    ).agg(
        (F.sum(dec("l_extendedprice", 18, 2)) * 100)
        .cast("bigint")
        .alias("revc"),
        F.sum(dec("l_quantity", 12, 2).cast("bigint"))
        .cast("bigint")
        .alias("qty"),
    ).persist()
    m0 = pm.agg(F.min("m").alias("m0"))
    base = (
        pm.crossJoin(F.broadcast(m0))
        .where(F.col("m") == F.col("m0"))
        .select(
            "p",
            F.col("revc").alias("rev0"),
            F.col("qty").alias("qty0"),
        )
    )
    joined = (
        pm.crossJoin(F.broadcast(m0))
        .where(F.col("m") > F.col("m0"))
        .join(F.broadcast(base), "p")
        .select(
            "m",
            (F.col("revc").cast("double") / F.col("qty")).alias("pt"),
            (F.col("rev0").cast("double") / F.col("qty0")).alias("p0"),
            "qty0",
            F.col("qty").alias("qt"),
        )
    )

    def fold(expr, name):
        return (
            F.round(
                F.sum(F.round(expr, 4).cast("decimal(38,4)")), 4
            )
            .cast("double")
            .alias(name)
        )

    folds = joined.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common_parts"),
        fold(F.col("pt") * F.col("qty0"), "l_num"),
        fold(F.col("p0") * F.col("qty0"), "l_den"),
        fold(F.col("pt") * F.col("qt"), "p_num"),
        fold(F.col("p0") * F.col("qt"), "p_den"),
    )
    lasp = F.col("l_num") / F.col("l_den")
    paas = F.col("p_num") / F.col("p_den")
    return folds.select(
        F.col("m").alias("month"),
        "n_common_parts",
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
    )


# --------------------------------------------------------------------------
# X270: ABC / XYZ inventory classification grid
# --------------------------------------------------------------------------
@register(
    "abc_xyz_inventory_grid",
    oracle="""
    WITH wk AS (
        SELECT l_partkey AS p,
               CAST(epoch_us(l_shipdate) // 86400000000 AS BIGINT) // 7
                   AS w,
               CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2))
                             AS BIGINT)) AS BIGINT) AS q
        FROM lineitem GROUP BY 1, 2
    ),
    parts AS (
        SELECT w.p,
               CAST(COUNT(*) AS BIGINT) AS nw,
               CAST(SUM(q) AS BIGINT) AS sq,
               SUM(CAST(q AS DECIMAL(38,0)) * q) AS sqq,
               r.rev
        FROM wk w
        JOIN (SELECT l_partkey AS p,
                     CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                                   * 100 AS BIGINT)) AS BIGINT) AS rev
              FROM lineitem GROUP BY 1) r ON w.p = r.p
        GROUP BY w.p, r.rev
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS np,
               CAST(SUM(rev) AS BIGINT) AS trev
        FROM parts
    ),
    classed AS (
        SELECT CASE WHEN rev * CAST(np AS DECIMAL(38,0)) >= 2 * trev
                        THEN 'A'
                    WHEN 2 * rev * CAST(np AS DECIMAL(38,0)) >= trev
                        THEN 'B'
                    ELSE 'C' END AS abc,
               CASE WHEN nw < 2 THEN 'Z'
                    WHEN sqrt((nw * CAST(sqq AS DOUBLE)
                               - CAST(sq AS DOUBLE) * sq)
                              / (CAST(nw AS DOUBLE) * (nw - 1)))
                         * nw / sq <= 0.5 THEN 'X'
                    WHEN sqrt((nw * CAST(sqq AS DOUBLE)
                               - CAST(sq AS DOUBLE) * sq)
                              / (CAST(nw AS DOUBLE) * (nw - 1)))
                         * nw / sq <= 1.0 THEN 'Y'
                    ELSE 'Z' END AS xyz,
               rev
        FROM parts, tot
    )
    SELECT c.abc AS abc_class, c.xyz AS xyz_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           round(SUM(CAST(c.rev AS DECIMAL(38,0)))
                 * 10000 / t.trev / 100.0, 4) AS revenue_share_pct
    FROM classed c, tot t
    GROUP BY c.abc, c.xyz, t.trev
    """,
)
def abc_xyz_inventory_grid(spark, sf_dir):
    """ABC/XYZ inventory grid: every part classed by revenue
    importance (A = at least twice the mean part revenue, B = at
    least half, C = tail — the threshold form of the classic 80/15/5
    cut, chosen because it needs NO global ranking pass) and by
    weekly-demand stability (coefficient of variation of weekly
    quantities: X <= 0.5, Y <= 1.0, Z above or under two weeks of
    history). The 3x3 grid with part counts and revenue share is the
    planner's one-page view: AX funds automation, CZ is the
    discontinue list.

    Exactness: weekly quantities and revenue are exact integers; the
    ABC split compares rev*n_parts vs 2*total in DECIMAL(38,0) (no
    float shares); CV is one IEEE expression per part from integer
    moments; the revenue-share output is an exact scaled-decimal
    ratio. Plan: two part-grain rollups joined on the part key, a
    broadcast total, one grid fold — every stage keyed on part;
    window-free (the threshold-vs-mean design is exactly what makes
    this 100 TB-safe where a cumulative-share ABC would serialize).
    """
    li = t(spark, sf_dir, "lineitem")
    wk = li.groupBy(
        F.col("l_partkey").alias("p"),
        F.expr(
            "CAST(floor(unix_micros(l_shipdate) / 86400000000)"
            " AS BIGINT) div 7"
        ).alias("w"),
    ).agg(
        F.sum(dec("l_quantity", 12, 2).cast("bigint"))
        .cast("bigint")
        .alias("q")
    )
    rev = li.groupBy(F.col("l_partkey").alias("p")).agg(
        (F.sum(dec("l_extendedprice", 18, 2)) * 100)
        .cast("bigint")
        .alias("rev")
    )
    parts = (
        wk.groupBy("p")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nw"),
            F.sum("q").cast("bigint").alias("sq"),
            F.sum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias(
                "sqq"
            ),
        )
        .join(rev, "p")
    )
    tot = parts.agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        F.sum("rev").cast("bigint").alias("trev"),
    )
    cv = (
        F.sqrt(
            (
                F.col("nw") * F.col("sqq").cast("double")
                - F.col("sq").cast("double") * F.col("sq")
            )
            / (F.col("nw").cast("double") * (F.col("nw") - 1))
        )
        * F.col("nw")
        / F.col("sq")
    )
    classed = parts.crossJoin(F.broadcast(tot)).select(
        F.when(
            F.col("rev") * F.col("np").cast("decimal(38,0)")
            >= 2 * F.col("trev"),
            "A",
        )
        .when(
            2 * F.col("rev") * F.col("np").cast("decimal(38,0)")
            >= F.col("trev"),
            "B",
        )
        .otherwise("C")
        .alias("abc"),
        F.when(F.col("nw") < 2, "Z")
        .when(cv <= 0.5, "X")
        .when(cv <= 1.0, "Y")
        .otherwise("Z")
        .alias("xyz"),
        "rev",
        "trev",
    )
    return classed.groupBy(
        F.col("abc").alias("abc_class"),
        F.col("xyz").alias("xyz_class"),
        "trev",
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.round(
            F.sum(F.col("rev").cast("decimal(38,0)"))
            * 10000
            / F.col("trev")
            / 100.0,
            4,
        ).alias("revenue_share_pct"),
    ).drop("trev")


# --------------------------------------------------------------------------
# X271: interpurchase-gap distribution
# --------------------------------------------------------------------------
@register(
    "interpurchase_gap_profile",
    oracle="""
    WITH seq AS (
        SELECT o_custkey,
               CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS d,
               LAG(CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT))
                   OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey) AS pd
        FROM orders
    ),
    gaps AS (
        SELECT d - pd AS gap FROM seq WHERE pd IS NOT NULL
    ),
    bucketed AS (
        SELECT CASE WHEN gap = 0 THEN '0_same_day'
                    WHEN gap <= 7 THEN '1_within_week'
                    WHEN gap <= 30 THEN '2_within_month'
                    WHEN gap <= 90 THEN '3_within_quarter'
                    WHEN gap <= 365 THEN '4_within_year'
                    ELSE '5_over_year' END AS bucket,
               gap
        FROM gaps
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM gaps)
    SELECT b.bucket, CAST(COUNT(*) AS BIGINT) AS n_gaps,
           round(SUM(b.gap) * 1.0 / COUNT(*), 4) AS avg_gap_days,
           round(COUNT(*) * 1.0 / t.n, 6) AS share
    FROM bucketed b, tot t
    GROUP BY b.bucket, t.n
    """,
)
def interpurchase_gap_profile(spark, sf_dir):
    """Interpurchase-interval distribution: the day gap between each
    customer's consecutive orders, bucketed on the standard lifecycle
    grid (same-day through over-a-year), with count, share, and mean
    gap per bucket. The repeat-purchase cadence that churn models,
    next-order forecasts, and `time_to_convert_quartiles`' event-side
    twin all start from — and the empirical input a reorder-point
    planner sets lead-time buffers against.

    Exactness: gaps are integer day differences from a LAG over the
    (customer) partition with the unique (date, orderkey) total order
    — bounded per-customer frames, audit-clean; buckets and all
    outputs are integer folds. Plan: one partitioned-window pass over
    orders, one bucket fold; no unpartitioned window, no join beyond
    the broadcast total.
    """
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    d = F.floor(F.unix_micros("o_orderdate") / 86_400_000_000).cast(
        "bigint"
    )
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    seq = o.select(
        d.alias("d"), F.lag(d).over(w).alias("pd")
    )
    gaps = seq.where(F.col("pd").isNotNull()).select(
        (F.col("d") - F.col("pd")).alias("gap")
    ).persist()
    bucketed = gaps.select(
        F.when(F.col("gap") == 0, "0_same_day")
        .when(F.col("gap") <= 7, "1_within_week")
        .when(F.col("gap") <= 30, "2_within_month")
        .when(F.col("gap") <= 90, "3_within_quarter")
        .when(F.col("gap") <= 365, "4_within_year")
        .otherwise("5_over_year")
        .alias("bucket"),
        "gap",
    )
    tot = gaps.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        bucketed.crossJoin(F.broadcast(tot))
        .groupBy("bucket", "n")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.round(
                F.sum("gap") * 1.0 / F.count(F.lit(1)), 4
            ).alias("avg_gap_days"),
            F.round(F.count(F.lit(1)) * 1.0 / F.col("n"), 6).alias(
                "share"
            ),
        )
        .drop("n")
    )


# --------------------------------------------------------------------------
# X272: power-user activity curve
# --------------------------------------------------------------------------
@register(
    "power_user_curve",
    oracle="""
    WITH ud AS (
        SELECT user_id,
               CAST(COUNT(DISTINCT CAST(epoch_us(ts) // 86400000000
                                        AS BIGINT)) AS BIGINT)
                   AS active_days
        FROM events GROUP BY user_id
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu FROM ud)
    SELECT u.active_days, CAST(COUNT(*) AS BIGINT) AS n_users,
           round(COUNT(*) * 1.0 / t.nu, 6) AS user_share
    FROM ud u, tot t
    GROUP BY u.active_days, t.nu
    """,
)
def power_user_curve(spark, sf_dir):
    """The power-user curve (the "L30 histogram"): how many users were
    active on exactly k distinct days of the window. Its SHAPE is the
    engagement diagnosis — a smile (mass at both ends) means a
    casual+core split, a left wall means drive-by traffic; it is the
    distribution behind every DAU/MAU-style ratio and the segment
    grid `rfm_segmentation` cuts. Deceptively simple, structurally
    distinct from `rolling_weekly_active_users` (which counts users
    per window, not days per user).

    Exactness: pure integer counts (distinct day numbers per user,
    then a histogram fold). Plan: one two-level hash aggregation
    (user x day distinct, then day-count histogram) — both keyed,
    both map-side combinable; no window, no join beyond the broadcast
    total.
    """
    e = t(spark, sf_dir, "events")
    ud = e.groupBy("user_id").agg(
        F.countDistinct(
            F.floor(F.unix_micros("ts") / 86_400_000_000).cast("bigint")
        )
        .cast("bigint")
        .alias("active_days")
    )
    tot = ud.agg(F.count(F.lit(1)).cast("bigint").alias("nu"))
    return (
        ud.crossJoin(F.broadcast(tot))
        .groupBy("active_days", "nu")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .select(
            "active_days",
            "n_users",
            F.round(F.col("n_users") * 1.0 / F.col("nu"), 6).alias(
                "user_share"
            ),
        )
    )


# --------------------------------------------------------------------------
# X273: month-over-month and year-over-year growth panel
# --------------------------------------------------------------------------
@register(
    "monthly_growth_yoy_panel",
    oracle="""
    WITH monthly AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) * 12
                   + month(o_orderdate) - 1 AS mk,
               MIN(CAST(date_trunc('month', o_orderdate) AS DATE))
                   AS month,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    )
    SELECT c.month,
           round(c.y / 100.0, 2) AS revenue_dollars,
           round((c.y - p.y) * 100.0 / p.y, 4) + 0.0 AS mom_pct,
           round((c.y - q.y) * 100.0 / q.y, 4) + 0.0 AS yoy_pct
    FROM monthly c
    LEFT JOIN monthly p ON p.mk = c.mk - 1
    LEFT JOIN monthly q ON q.mk = c.mk - 12
    """,
)
def monthly_growth_yoy_panel(spark, sf_dir):
    """The BI growth panel: monthly revenue with month-over-month and
    year-over-year percentage growth. YoY compares like-for-like
    calendar months (the seasonality-neutral read), MoM is the
    early-warning read; months without a comparable get NULL in both
    engines. The month-key twin of `weekly_growth_rate`, built
    window-free: prior months attach by mk = mk−1 / mk−12 equi-joins
    on the calendar-bounded month frame instead of a LAG (no
    single-partition exchange even on a century of months).

    Exactness: month revenue is exact integer cents keyed on the
    integer month index year*12+month−1; growth ratios are IEEE
    expressions rounded at 1e-4 with the +0.0 negative-zero guard.
    Plan: one month rollup, two self-equi-joins on the bounded month
    frame; no window.
    """
    o = t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (
            F.year("o_orderdate").cast("bigint") * 12
            + F.month("o_orderdate")
            - 1
        ).alias("mk")
    ).agg(
        F.min(
            F.date_trunc("month", "o_orderdate").cast("date")
        ).alias("month"),
        (F.sum(dec("o_totalprice", 18, 2)) * 100)
        .cast("bigint")
        .alias("y"),
    ).persist()
    c = monthly.alias("c")
    p = monthly.select(
        F.col("mk").alias("pmk"), F.col("y").alias("py")
    )
    q = monthly.select(
        F.col("mk").alias("qmk"), F.col("y").alias("qy")
    )
    return (
        c.join(p, F.col("pmk") == F.col("mk") - 1, "left")
        .join(q, F.col("qmk") == F.col("mk") - 12, "left")
        .select(
            "month",
            F.round(F.col("y") / 100.0, 2).alias("revenue_dollars"),
            (
                F.round(
                    (F.col("y") - F.col("py")) * 100.0 / F.col("py"), 4
                )
                + 0.0
            ).alias("mom_pct"),
            (
                F.round(
                    (F.col("y") - F.col("qy")) * 100.0 / F.col("qy"), 4
                )
                + 0.0
            ).alias("yoy_pct"),
        )
    )


# --------------------------------------------------------------------------
# X274: Yule's K and the lexical-richness constants
# --------------------------------------------------------------------------
@register(
    "yule_k_lexical_richness",
    oracle="""
    WITH tc AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT source, UNNEST(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY 1, 2
    ),
    s AS (
        SELECT source,
               CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS v,
               SUM(CAST(c AS DECIMAL(38,0)) * c) AS c2,
               CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS v2
        FROM tc GROUP BY 1
    )
    SELECT source, n AS n_tokens, v AS vocab,
           round(10000.0 * (CAST(c2 AS DOUBLE) - n)
                 / (CAST(n AS DOUBLE) * n), 6) AS yule_k,
           round(ln(CAST(v AS DOUBLE)) / ln(CAST(n AS DOUBLE)), 6)
               AS herdan_c,
           round(v / sqrt(CAST(n AS DOUBLE)), 6) AS guiraud_r,
           round(v2 * 1.0 / v, 6) AS sichel_s
    FROM s
    """,
)
def yule_k_lexical_richness(spark, sf_dir):
    """Lexical-richness constants per source: Yule's K (repeat-rate —
    10⁴·(Σc²−N)/N², the length-invariant repetitiousness measure),
    Herdan's C (ln V/ln N), Guiraud's R (V/√N), and Sichel's S (share
    of dis legomena). These are the SIZE-ROBUST vocabulary numbers —
    raw type/token ratio collapses as N grows, which is why corpus
    dashboards comparing sources of different sizes need K/C/R
    instead; complements `heaps_law_fit` (growth curve) and
    `good_turing_vocab` (unseen mass) with the closed-form constants.

    Exactness: all inputs are exact integer count-of-count moments
    (Σc² rides DECIMAL(38,0)); each constant is one IEEE expression.
    Plan: one (source, token) hash agg, one source fold; token
    explode is map-side, everything keyed.
    """
    d = t(spark, sf_dir, "documents")
    tc = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    s = tc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("c2"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("v2"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        "source",
        F.col("n").alias("n_tokens"),
        F.col("v").alias("vocab"),
        F.round(
            10000.0 * (F.col("c2").cast("double") - F.col("n")) / (nd * nd),
            6,
        ).alias("yule_k"),
        F.round(
            F.log(F.col("v").cast("double")) / F.log(nd), 6
        ).alias("herdan_c"),
        F.round(F.col("v") / F.sqrt(nd), 6).alias("guiraud_r"),
        F.round(F.col("v2") * 1.0 / F.col("v"), 6).alias("sichel_s"),
    )


# --------------------------------------------------------------------------
# X275: token bigram entropy rate per source
# --------------------------------------------------------------------------
@register(
    "bigram_entropy_rate",
    oracle="""
    WITH d AS (
        SELECT source, string_split(text, ' ') AS ts FROM documents
    ),
    bi AS (
        SELECT source, ts[g.i - 1] AS prev, ts[g.i] AS tok
        FROM d, LATERAL unnest(generate_series(2, len(ts))) AS g(i)
        WHERE len(ts) >= 2
    ),
    bc AS (
        SELECT source, prev, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM bi GROUP BY 1, 2, 3
    ),
    tot AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM bc GROUP BY 1
    ),
    hb AS (
        SELECT b.source,
               SUM(CAST(round(CAST(b.c AS DOUBLE) / t.n
                              * ln(CAST(b.c AS DOUBLE) / t.n), 12)
                   AS DECIMAL(38,12))) AS hxy_neg
        FROM bc b JOIN tot t ON b.source = t.source GROUP BY 1
    ),
    pcnt AS (
        SELECT source, prev, CAST(SUM(c) AS BIGINT) AS cp
        FROM bc GROUP BY 1, 2
    ),
    hx AS (
        SELECT p.source,
               SUM(CAST(round(CAST(p.cp AS DOUBLE) / t.n
                              * ln(CAST(p.cp AS DOUBLE) / t.n), 12)
                   AS DECIMAL(38,12))) AS hx_neg
        FROM pcnt p JOIN tot t ON p.source = t.source GROUP BY 1
    )
    SELECT t.source, t.n AS n_bigrams,
           round(-CAST(b.hxy_neg AS DOUBLE), 6) AS bigram_entropy,
           round(-CAST(x.hx_neg AS DOUBLE), 6) AS context_entropy,
           round(-CAST(b.hxy_neg AS DOUBLE)
                 + CAST(x.hx_neg AS DOUBLE), 6) AS entropy_rate
    FROM tot t
    JOIN hb b ON t.source = b.source
    JOIN hx x ON t.source = x.source
    """,
)
def bigram_entropy_rate(spark, sf_dir):
    """Token-level entropy RATE per source: H(next | current) =
    H(bigram) − H(context), the first-order approximation of the
    source's per-token information content. Where `shannon_simpson_
    diversity` measures the unigram distribution (ignoring order),
    the entropy rate measures PREDICTABILITY — templated/boilerplate
    sources score low even with a rich vocabulary, which is exactly
    the signal an LLM-corpus mixer wants (low-rate text trains
    little). The information-theoretic twin of
    `bigram_lm_perplexity`'s model view.

    Exactness: bigram and context counts are exact integers from the
    in-array adjacency explode (the bigram_lm device); both entropy
    folds sum 1e-12-rounded p·ln p terms in DECIMAL — order-free.
    Plan: one adjacency explode into a (source, prev, tok) hash agg,
    two source-keyed folds; everything map-side combinable.
    """
    d = t(spark, sf_dir, "documents").select(
        "source", F.split("text", " ").alias("ts")
    )
    bi = (
        d.where(F.size("ts") >= 2)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(2, size(ts)),"
                    " i -> struct(ts[i-2] AS prev, ts[i-1] AS tok))"
                )
            ).alias("b"),
        )
        .select("source", "b.prev", "b.tok")
    )
    bc = bi.groupBy("source", "prev", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).persist()
    tot = bc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n")
    )

    def ent(df, cnt, out):
        p = F.col(cnt).cast("double") / F.col("n")
        return (
            df.join(tot, "source")
            .groupBy("source")
            .agg(
                F.sum(
                    F.round(p * F.log(p), 12).cast("decimal(38,12)")
                ).alias(out)
            )
        )

    hb = ent(bc, "c", "hxy_neg")
    pcnt = bc.groupBy("source", "prev").agg(
        F.sum("c").cast("bigint").alias("cp")
    )
    hx = ent(pcnt, "cp", "hx_neg")
    return (
        tot.join(hb, "source")
        .join(hx, "source")
        .select(
            "source",
            F.col("n").alias("n_bigrams"),
            F.round(-F.col("hxy_neg").cast("double"), 6).alias(
                "bigram_entropy"
            ),
            F.round(-F.col("hx_neg").cast("double"), 6).alias(
                "context_entropy"
            ),
            F.round(
                -F.col("hxy_neg").cast("double")
                + F.col("hx_neg").cast("double"),
                6,
            ).alias("entropy_rate"),
        )
    )


# --------------------------------------------------------------------------
# X276: bigram novelty rate in corpus order
# --------------------------------------------------------------------------
@register(
    "ngram_novelty_rate",
    oracle="""
    WITH d AS (
        SELECT doc_id, source, string_split(text, ' ') AS ts
        FROM documents
    ),
    bi AS (
        SELECT doc_id, source,
               ts[g.i - 1] || ' ' || ts[g.i] AS bg
        FROM d, LATERAL unnest(generate_series(2, len(ts))) AS g(i)
        WHERE len(ts) >= 2
    ),
    db AS (
        SELECT doc_id, source, bg, CAST(COUNT(*) AS BIGINT) AS c
        FROM bi GROUP BY 1, 2, 3
    ),
    first_ AS (
        SELECT bg, CAST(MIN(doc_id) AS BIGINT) AS fdoc FROM db
        GROUP BY bg
    ),
    per_doc AS (
        SELECT b.doc_id, b.source,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(SUM(CASE WHEN f.fdoc = b.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel
        FROM db b JOIN first_ f ON b.bg = f.bg
        GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_distinct) AS BIGINT) AS distinct_bigram_slots,
           CAST(SUM(n_novel) AS BIGINT) AS first_occurrences,
           round(SUM(n_novel) * 1.0 / SUM(n_distinct), 6)
               AS novelty_rate,
           round(SUM(CAST(round(n_novel * 1.0 / n_distinct, 9)
                          AS DECIMAL(20,9))) * 1.0 / COUNT(*), 6)
               AS mean_doc_novelty
    FROM per_doc GROUP BY source
    """,
)
def ngram_novelty_rate(spark, sf_dir):
    """Bigram novelty in corpus order: for every document, the share
    of its distinct bigrams whose FIRST corpus occurrence (minimum
    doc_id) is that document — aggregated per source as both the
    pooled rate and the mean per-doc rate. This is the marginal-value
    curve of a training corpus: sources whose documents keep
    introducing first-seen n-grams still add information; a source
    whose novelty rate has collapsed duplicates what the corpus
    already has (the dedup tier catches copies, THIS catches
    redundancy without copying).

    Exactness: all counts are exact integers; first-occurrence is an
    associative MIN over doc_ids (order-free at any partitioning);
    the per-doc mean folds 1e-9-rounded ratios in DECIMAL. Plan: one
    adjacency explode into a (doc, bigram) hash agg, a bigram-keyed
    MIN + equi-join back (shuffle keyed on the bigram — uniform), two
    folds.
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("ts")
    )
    bi = (
        d.where(F.size("ts") >= 2)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(2, size(ts)),"
                    " i -> concat(ts[i-2], ' ', ts[i-1]))"
                )
            ).alias("bg"),
        )
    )
    db = bi.groupBy("doc_id", "source", "bg").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).persist()
    first_ = db.groupBy("bg").agg(
        F.min("doc_id").cast("bigint").alias("fdoc")
    )
    per_doc = (
        db.join(first_, "bg")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.sum(
                F.when(F.col("fdoc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_distinct").cast("bigint").alias("distinct_bigram_slots"),
        F.sum("n_novel").cast("bigint").alias("first_occurrences"),
        F.round(
            F.sum("n_novel") * 1.0 / F.sum("n_distinct"), 6
        ).alias("novelty_rate"),
        F.round(
            F.sum(
                F.round(
                    F.col("n_novel") * 1.0 / F.col("n_distinct"), 9
                ).cast("decimal(20,9)")
            )
            * 1.0
            / F.count(F.lit(1)),
            6,
        ).alias("mean_doc_novelty"),
    )


# --------------------------------------------------------------------------
# X277: PMI collocations (top-20)
# --------------------------------------------------------------------------
@register(
    "pmi_collocations_topk",
    oracle="""
    WITH d AS (
        SELECT string_split(text, ' ') AS ts FROM documents
    ),
    bi AS (
        SELECT ts[g.i - 1] AS w1, ts[g.i] AS w2
        FROM d, LATERAL unnest(generate_series(2, len(ts))) AS g(i)
        WHERE len(ts) >= 2
    ),
    bc AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cxy
        FROM bi GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(cxy) AS BIGINT) AS n FROM bc),
    u1 AS (SELECT w1 AS w, CAST(SUM(cxy) AS BIGINT) AS c FROM bc
           GROUP BY 1),
    u2 AS (SELECT w2 AS w, CAST(SUM(cxy) AS BIGINT) AS c FROM bc
           GROUP BY 1),
    scored AS (
        SELECT b.w1, b.w2, b.cxy,
               round(ln(CAST(b.cxy AS DOUBLE) * t.n
                        / (CAST(a.c AS DOUBLE) * z.c)), 9) AS pmi,
               round(ln(CAST(b.cxy AS DOUBLE) * t.n
                        / (CAST(a.c AS DOUBLE) * z.c))
                     / (-ln(CAST(b.cxy AS DOUBLE) / t.n)), 9) AS npmi
        FROM bc b
        JOIN u1 a ON b.w1 = a.w
        JOIN u2 z ON b.w2 = z.w
        CROSS JOIN tot t
        WHERE b.cxy >= 5
    )
    SELECT w1, w2, cxy AS n_cooccur, pmi + 0.0 AS pmi,
           npmi + 0.0 AS npmi
    FROM scored
    ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 20
    """,
)
def pmi_collocations_topk(spark, sf_dir):
    """Top-20 collocations by pointwise mutual information (count
    floor 5): PMI = ln(c(xy)·N / (c(x·)·c(·y))) over adjacent token
    pairs, with the normalized NPMI ∈ [−1,1] alongside. The classic
    collocation extractor (Church & Hanks 1990) — the phrase-mining
    primitive behind tokenizer vocab curation and stop-phrase lists;
    `rake_keyphrases` scores candidate PHRASES, PMI scores the GLUE
    between adjacent tokens, and `chi2_discriminative_terms` ranks
    tokens by class — three orthogonal views of term importance.

    Exactness: all counts are exact integers from the adjacency
    explode; positional marginals c(x·)/c(·y) derive from the bigram
    table itself (one pass over the corpus); PMI/NPMI are per-row
    IEEE expressions rounded at 1e-9 BEFORE the top-k order, whose
    tiebreak (pmi desc, w1, w2) is total. Plan: one bigram hash agg,
    two marginal rollups joined back on token keys, TakeOrdered 20.
    """
    d = t(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("ts")
    )
    bi = (
        d.where(F.size("ts") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(2, size(ts)),"
                    " i -> struct(ts[i-2] AS w1, ts[i-1] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    bc = bi.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("cxy")
    ).persist()
    tot = bc.agg(F.sum("cxy").cast("bigint").alias("n"))
    u1 = bc.groupBy("w1").agg(F.sum("cxy").cast("bigint").alias("c1"))
    u2 = bc.groupBy("w2").agg(F.sum("cxy").cast("bigint").alias("c2"))
    raw = (
        F.col("cxy").cast("double")
        * F.col("n")
        / (F.col("c1").cast("double") * F.col("c2"))
    )
    pmi = F.round(F.log(raw), 9)
    npmi = F.round(
        F.log(raw) / (-F.log(F.col("cxy").cast("double") / F.col("n"))),
        9,
    )
    scored = (
        bc.where(F.col("cxy") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("cxy").alias("n_cooccur"),
            (pmi + 0.0).alias("pmi"),
            (npmi + 0.0).alias("npmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(20)


# --------------------------------------------------------------------------
# X278: MinHash LSH band-tuning design curve
# --------------------------------------------------------------------------
@register(
    "lsh_band_tuning_curve",
    oracle="""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               ts[g.i - 2] || ' ' || ts[g.i - 1] || ' ' || ts[g.i]
                   AS s
        FROM d, LATERAL unnest(generate_series(3, len(ts))) AS g(i)
        WHERE len(ts) >= 3
    ),
    sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh
        GROUP BY 1
    ),
    inter AS (
        SELECT a.doc_id AS da,
               CAST(COUNT(*) AS BIGINT) AS ix
        FROM sh a JOIN sh b
          ON b.doc_id = a.doc_id + 1 AND a.s = b.s
        GROUP BY 1
    ),
    pairs AS (
        SELECT sa.doc_id,
               COALESCE(i.ix, 0) AS ix,
               sa.sz + sb.sz - COALESCE(i.ix, 0) AS un
        FROM sizes sa
        JOIN sizes sb ON sb.doc_id = sa.doc_id + 1
        LEFT JOIN inter i ON i.da = sa.doc_id
    ),
    hist AS (
        SELECT LEAST(10 * ix // un, 9) AS k,
               CAST(COUNT(*) AS BIGINT) AS nk
        FROM pairs GROUP BY 1
    ),
    grid AS (
        SELECT UNNEST([4, 8, 16, 32, 64]) AS b,
               UNNEST([32, 16, 8, 4, 2]) AS r
    ),
    curve AS (
        SELECT g.b, g.r,
               CAST(round(SUM(CAST(round(
                   h.nk * (1.0 - pow(1.0 - pow((h.k + 0.5) / 10.0,
                                              g.r), g.b)), 9)
                   AS DECIMAL(28,9))), 9) AS DOUBLE)
                   AS expected_candidates,
               CAST(SUM(h.nk) AS BIGINT) AS n_pairs
        FROM grid g, hist h
        GROUP BY g.b, g.r
    )
    SELECT b AS bands, r AS rows_per_band, n_pairs,
           round(expected_candidates, 4) AS expected_candidates,
           round(1.0 - pow(1.0 - pow(0.5, r), b), 6) AS p_catch_at_s05,
           round(1.0 - pow(1.0 - pow(0.8, r), b), 6) AS p_catch_at_s08
    FROM curve
    """,
)
def lsh_band_tuning_curve(spark, sf_dir):
    """MinHash LSH banding design curve: for every (bands, rows) split
    of a 128-hash signature, the S-curve catch probability
    P(s) = 1 − (1 − s^r)^b evaluated against THIS corpus's observed
    3-shingle Jaccard distribution (measured exactly on the bounded
    consecutive-doc-id pair sample) — yielding the expected candidate
    count per setting plus the catch probability at s = 0.5 and 0.8.
    This is the query a dedup engineer runs BEFORE the full
    `minhash_native_near_dup` pass at 100 TB: banding chosen from the
    corpus's own similarity histogram, not folklore.

    Exactness: shingle intersections/unions are exact integers over
    the (doc, doc+1) pair sample (joined on the shingle key, never
    all-pairs); the histogram bin is the integer expression
    least(10·ix // un, 9); S-curve terms are per-row IEEE pow
    expressions rounded at 1e-9 and folded in DECIMAL over the 5x10
    design-grid frame. Plan: one distinct-shingle explode, one
    shingle-keyed join on adjacent ids, a 10-bin histogram, a 50-cell
    design fold.
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ts")
    )
    sh = (
        d.where(F.size("ts") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(3, size(ts)),"
                    " i -> concat(ts[i-3], ' ', ts[i-2], ' ', ts[i-1]))"
                )
            ).alias("s"),
        )
        .distinct()
        .persist()
    )
    sizes = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    a, b_ = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b_,
            (F.col("b.doc_id") == F.col("a.doc_id") + 1)
            & (F.col("a.s") == F.col("b.s")),
        )
        .groupBy(F.col("a.doc_id").alias("da"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("ix"))
    )
    sa = sizes.alias("sa")
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb")
    )
    pairs = (
        sa.join(sb, F.col("doc_b") == F.col("doc_id") + 1)
        .join(inter, F.col("da") == F.col("doc_id"), "left")
        .select(
            F.coalesce(F.col("ix"), F.lit(0)).alias("ix"),
            (
                F.col("sz")
                + F.col("szb")
                - F.coalesce(F.col("ix"), F.lit(0))
            ).alias("un"),
        )
    )
    hist = pairs.groupBy(
        F.least(F.expr("10 * ix div un"), F.lit(9)).alias("k")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("nk"))
    grid = spark.createDataFrame(
        [(4, 32), (8, 16), (16, 8), (32, 4), (64, 2)], ["b", "r"]
    )
    p_mid = 1.0 - F.pow(
        1.0 - F.pow((F.col("k") + 0.5) / 10.0, F.col("r")), F.col("b")
    )
    curve = (
        F.broadcast(grid)
        .crossJoin(hist)
        .groupBy("b", "r")
        .agg(
            F.round(
                F.sum(
                    F.round(F.col("nk") * p_mid, 9).cast(
                        "decimal(28,9)"
                    )
                ),
                9,
            )
            .cast("double")
            .alias("expected_candidates"),
            F.sum("nk").cast("bigint").alias("n_pairs"),
        )
    )
    return curve.select(
        F.col("b").alias("bands"),
        F.col("r").alias("rows_per_band"),
        "n_pairs",
        F.round(F.col("expected_candidates"), 4).alias(
            "expected_candidates"
        ),
        F.round(
            1.0 - F.pow(1.0 - F.pow(F.lit(0.5), F.col("r")), F.col("b")),
            6,
        ).alias("p_catch_at_s05"),
        F.round(
            1.0 - F.pow(1.0 - F.pow(F.lit(0.8), F.col("r")), F.col("b")),
            6,
        ).alias("p_catch_at_s08"),
    )


# --------------------------------------------------------------------------
# X279: Johnson-Lindenstrauss random-projection distortion audit
# --------------------------------------------------------------------------
@register(
    "jl_projection_distortion",
    oracle="""
    WITH elems AS (
        SELECT vec_id, g.i - 1 AS i, embedding[g.i] AS x
        FROM embeddings,
             LATERAL unnest(generate_series(1, len(embedding))) AS g(i)
    ),
    signs AS (
        SELECT i.i, o.o,
               CASE WHEN CAST(('0x' || substr(md5(i.i || ':' || o.o),
                                              1, 15)) AS BIGINT)
                         % 2 = 0
                    THEN 1 ELSE -1 END AS sg
        FROM (SELECT UNNEST(range(0, 64)) AS i) i,
             (SELECT UNNEST(range(0, 8)) AS o) o
    ),
    proj AS (
        SELECT e.vec_id, s.o,
               CAST(SUM(CAST(round(s.sg * e.x, 6) AS DECIMAL(20,6)))
                    AS DOUBLE) AS p
        FROM elems e JOIN signs s ON e.i = s.i
        GROUP BY 1, 2
    ),
    pdiff AS (
        SELECT a.vec_id,
               CAST(round(SUM(CAST(round((a.p - b.p) * (a.p - b.p), 6)
                    AS DECIMAL(28,6))), 6) AS DOUBLE) AS dp
        FROM proj a JOIN proj b
          ON b.vec_id = a.vec_id + 1 AND a.o = b.o
        GROUP BY 1
    ),
    odiff AS (
        SELECT a.vec_id,
               CAST(round(SUM(CAST(round((a.x - b.x) * (a.x - b.x), 9)
                    AS DECIMAL(28,9))), 9) AS DOUBLE) AS dx
        FROM elems a JOIN elems b
          ON b.vec_id = a.vec_id + 1 AND a.i = b.i
        GROUP BY 1
    ),
    ratios AS (
        SELECT round(p.dp / (8.0 * o.dx), 9) AS ratio
        FROM pdiff p JOIN odiff o ON p.vec_id = o.vec_id
        WHERE o.dx > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(CAST(SUM(CAST(ratio AS DECIMAL(20,9))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_ratio,
           round(MIN(ratio), 6) AS min_ratio,
           round(MAX(ratio), 6) AS max_ratio,
           round(SUM(CASE WHEN ratio >= 0.8 AND ratio <= 1.25
                          THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
               AS share_within_25pct
    FROM ratios
    """,
)
def jl_projection_distortion(spark, sf_dir):
    """Johnson-Lindenstrauss distortion audit of a 64→8 Rademacher
    (deterministic ±1) random projection: for consecutive-id embedding
    pairs, the ratio ‖R(a−b)‖²/(k·‖a−b‖²) whose concentration around
    1 is the JL lemma. The audit to run BEFORE shipping a projected
    index (`ann_ivf_topk` at 8x fewer bytes): mean/min/max distortion
    and the share of pairs within ±25% say whether 8 dims is enough
    for THIS embedding distribution or the tails will wreck recall.

    Exactness: the sign matrix is the md5-parity hash of (in_dim,
    out_dim) — reproducible everywhere, no RNG; projections fold
    1e-6-rounded sign*x terms in DECIMAL over the dimension key (an
    explode + broadcast-join + keyed agg, the Spark-native matrix
    multiply for skinny fixed matrices); squared distances fold
    rounded products the same way; ratios are per-pair IEEE
    expressions. Plan: one element explode, one 512-row broadcast
    join, keyed aggregations, one consecutive-id equi-join per
    distance — no window, nothing quadratic.
    """
    emb = t(spark, sf_dir, "embeddings")
    elems = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("i", "x"),
    )
    dims = spark.range(0, 64).select(F.col("id").alias("i"))
    outs = spark.range(0, 8).select(F.col("id").alias("o"))
    signs = (
        dims.crossJoin(outs)
        .select(
            "i",
            "o",
            F.when(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(":", F.col("i"), F.col("o"))
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 2
                == 0,
                1,
            )
            .otherwise(-1)
            .alias("sg"),
        )
    )
    proj = (
        elems.join(F.broadcast(signs), "i")
        .groupBy("vec_id", "o")
        .agg(
            F.sum(
                F.round(F.col("sg") * F.col("x"), 6).cast(
                    "decimal(20,6)"
                )
            )
            .cast("double")
            .alias("p")
        )
        .persist()
    )
    pa, pb = proj.alias("pa"), proj.alias("pb")
    pdiff = (
        pa.join(
            pb,
            (F.col("pb.vec_id") == F.col("pa.vec_id") + 1)
            & (F.col("pa.o") == F.col("pb.o")),
        )
        .groupBy(F.col("pa.vec_id").alias("vec_id"))
        .agg(
            F.round(
                F.sum(
                    F.round(
                        (F.col("pa.p") - F.col("pb.p"))
                        * (F.col("pa.p") - F.col("pb.p")),
                        6,
                    ).cast("decimal(28,6)")
                ),
                6,
            )
            .cast("double")
            .alias("dp")
        )
    )
    ea, eb = elems.alias("ea"), elems.alias("eb")
    odiff = (
        ea.join(
            eb,
            (F.col("eb.vec_id") == F.col("ea.vec_id") + 1)
            & (F.col("ea.i") == F.col("eb.i")),
        )
        .groupBy(F.col("ea.vec_id").alias("vec_id"))
        .agg(
            F.round(
                F.sum(
                    F.round(
                        (F.col("ea.x") - F.col("eb.x"))
                        * (F.col("ea.x") - F.col("eb.x")),
                        9,
                    ).cast("decimal(28,9)")
                ),
                9,
            )
            .cast("double")
            .alias("dx")
        )
    )
    ratios = (
        pdiff.join(odiff, "vec_id")
        .where(F.col("dx") > 0)
        .select(
            F.round(F.col("dp") / (8.0 * F.col("dx")), 9).alias("ratio")
        )
    )
    return ratios.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(
            F.sum(F.col("ratio").cast("decimal(20,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_ratio"),
        F.round(F.min("ratio"), 6).alias("min_ratio"),
        F.round(F.max("ratio"), 6).alias("max_ratio"),
        F.round(
            F.sum(
                F.when(
                    (F.col("ratio") >= 0.8) & (F.col("ratio") <= 1.25),
                    1,
                ).otherwise(0)
            )
            * 1.0
            / F.count(F.lit(1)),
            6,
        ).alias("share_within_25pct"),
    )


# Graph helpers shared with plans/graph_ops.py (same edge definitions).
from .graph_ops import _HALF_W2 as _HALF_W2_R10
from .graph_ops import _HALF_W3 as _HALF_W3_R10
from .graph_ops import _half_edges as _half_edges_r10
from .graph_ops import _sym as _sym_r10

# --------------------------------------------------------------------------
# X280: degree assortativity of the co-purchase graph
# --------------------------------------------------------------------------
@register(
    "copurchase_degree_assortativity",
    oracle=f"""
    WITH half AS ({_HALF_W2_R10}
    ), edges AS (
        SELECT p1 AS u, p2 AS v FROM half
        UNION ALL
        SELECT p2 AS u, p1 AS v FROM half
    ), deg AS (
        SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY u
    ), de AS (
        SELECT du.d AS x, dv.d AS y
        FROM edges e
        JOIN deg du ON e.u = du.u
        JOIN deg dv ON e.v = dv.u
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
               SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
               SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
        FROM de
    )
    SELECT n AS n_directed_edges,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                 / sqrt((n * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * sx)
                        * (n * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * sy)), 6) + 0.0
               AS assortativity_r
    FROM m
    """,
)
def copurchase_degree_assortativity(spark, sf_dir):
    """Degree assortativity of the co-purchase graph (>= 2 co-orders):
    the Pearson correlation of endpoint degrees over all directed
    edges (Newman 2002). Positive r = hubs buy with hubs (a rich-club
    core — LSH-style blocking will concentrate load there), negative
    r = hub-and-spoke (broadcast the hubs instead). The one-number
    structural profile that decides which skew mitigation the
    graph-algorithm tier (X246-X250) needs at scale.

    Exactness: degrees and all five moments are exact integers
    (products through DECIMAL(38,0)); r is one IEEE expression. Plan:
    the bounded pair fan-out, one degree rollup joined back on each
    endpoint (two keyed joins), one scalar fold; no window.
    """
    half = _half_edges_r10(spark, sf_dir, 2)
    edges = _sym_r10(half)
    deg = edges.groupBy("u").agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    du = deg.select(F.col("u").alias("ku"), F.col("d").alias("x"))
    dv = deg.select(F.col("u").alias("kv"), F.col("d").alias("y"))
    de = (
        edges.join(du, F.col("u") == F.col("ku"))
        .join(dv, F.col("v") == F.col("kv"))
        .select("x", "y")
    )
    m = de.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    dx = n * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx")
    dy = n * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy")
    return m.select(
        F.col("n").alias("n_directed_edges"),
        (F.round(num / F.sqrt(dx * dy), 6) + 0.0).alias(
            "assortativity_r"
        ),
    )


# --------------------------------------------------------------------------
# X281: link-prediction scores on the co-purchase graph
# --------------------------------------------------------------------------
@register(
    "copurchase_linkpred_scores",
    oracle=f"""
    WITH half AS ({_HALF_W2_R10}
    ), edges AS (
        SELECT p1 AS u, p2 AS v FROM half
        UNION ALL
        SELECT p2 AS u, p1 AS v FROM half
    ), deg AS (
        SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY u
    ), wedges AS (
        SELECT a.u AS u, b.v AS v,
               CAST(COUNT(*) AS BIGINT) AS cn,
               CAST(round(SUM(CAST(round(1.0 / ln(CAST(dw.d AS DOUBLE)),
                                         9) AS DECIMAL(20,9))), 9)
                    AS DOUBLE) AS aa
        FROM edges a
        JOIN edges b ON a.v = b.u AND a.u < b.v
        JOIN deg dw ON a.v = dw.u
        GROUP BY a.u, b.v
    ), cand AS (
        SELECT w.u, w.v, w.cn, w.aa, du.d AS dv_u, dv.d AS dv_v
        FROM wedges w
        JOIN deg du ON w.u = du.u
        JOIN deg dv ON w.v = dv.u
        WHERE NOT EXISTS (SELECT 1 FROM half h
                          WHERE h.p1 = w.u AND h.p2 = w.v)
    )
    SELECT u AS part_a, v AS part_b, cn AS common_neighbors,
           round(cn * 1.0 / (dv_u + dv_v - cn), 6) AS jaccard,
           round(aa, 6) AS adamic_adar
    FROM cand
    ORDER BY cn DESC, round(aa, 6) DESC, u ASC, v ASC
    LIMIT 20
    """,
)
def copurchase_linkpred_scores(spark, sf_dir):
    """Link prediction on the co-purchase graph: the top-20
    NON-adjacent part pairs by common-neighbor count, with
    neighborhood Jaccard and Adamic-Adar (Σ 1/ln deg(w) — common
    neighbors discounted by their hubness) — "products that should
    co-sell but don't yet", the classic recommendation candidate
    generator (Liben-Nowell & Kleinberg 2003) and the missing-edge
    counterpart of X247's observed projection.

    Exactness: wedges come from one edge-edge join through the shared
    middle (fan-out Σd² — degree-bounded by the co-order gate, with
    the frequency-cap discipline of the fuzzy-match tier); the u < v
    canonical orientation counts each pair once; existing edges drop
    by anti-join against the half-edge list; Adamic-Adar folds
    1e-9-rounded terms in DECIMAL so the (cn desc, aa desc, u, v)
    top-20 order is total. Plan: pair fan-out, one wedge join, two
    degree joins, one anti-join, TakeOrdered 20.
    """
    half = _half_edges_r10(spark, sf_dir, 2).persist()
    edges = _sym_r10(half)
    deg = edges.groupBy("u").agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    ).persist()
    a = edges.select(F.col("u").alias("wu"), F.col("v").alias("wm"))
    b = edges.select(F.col("u").alias("bm"), F.col("v").alias("wv"))
    dw = deg.select(F.col("u").alias("dm"), F.col("d").alias("dmid"))
    wedges = (
        a.join(b, (F.col("wm") == F.col("bm")) & (F.col("wu") < F.col("wv")))
        .join(dw, F.col("wm") == F.col("dm"))
        .groupBy("wu", "wv")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cn"),
            F.round(
                F.sum(
                    F.round(
                        1.0 / F.log(F.col("dmid").cast("double")), 9
                    ).cast("decimal(20,9)")
                ),
                9,
            )
            .cast("double")
            .alias("aa"),
        )
    )
    du = deg.select(F.col("u").alias("ju"), F.col("d").alias("dv_u"))
    dv = deg.select(F.col("u").alias("jv"), F.col("d").alias("dv_v"))
    cand = (
        wedges.join(
            half.select(
                F.col("p1").alias("wu"), F.col("p2").alias("wv")
            ),
            ["wu", "wv"],
            "left_anti",
        )
        .join(du, F.col("wu") == F.col("ju"))
        .join(dv, F.col("wv") == F.col("jv"))
    )
    return (
        cand.select(
            F.col("wu").alias("part_a"),
            F.col("wv").alias("part_b"),
            F.col("cn").alias("common_neighbors"),
            F.round(
                F.col("cn")
                * 1.0
                / (F.col("dv_u") + F.col("dv_v") - F.col("cn")),
                6,
            ).alias("jaccard"),
            F.round(F.col("aa"), 6).alias("adamic_adar"),
            F.round(F.col("aa"), 6).alias("aa_key"),
        )
        .orderBy(
            F.col("common_neighbors").desc(),
            F.col("aa_key").desc(),
            F.col("part_a").asc(),
            F.col("part_b").asc(),
        )
        .limit(20)
        .drop("aa_key")
    )


# --------------------------------------------------------------------------
# X282: Lin's concordance of the naive one-day forecast
# --------------------------------------------------------------------------
@register(
    "lin_ccc_naive_forecast",
    oracle=f"""
    WITH daily AS ({_DAILY_ORDERS_SQL}),
    pairs AS (
        SELECT a.y AS x, b.y AS y
        FROM daily a JOIN daily b ON b.d = a.d + 1
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
               SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
               SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
        FROM pairs
    ),
    c AS (
        SELECT n,
               (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                   AS cxy,
               (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                   AS cxx,
               (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)
                   AS cyy,
               (CAST(sx AS DOUBLE) - sy) AS dsum,
               CAST(sy AS DOUBLE) - sx AS msum
        FROM m
    )
    SELECT n AS n_pairs,
           round(cxy / sqrt(cxx * cyy), 6) + 0.0 AS pearson_r,
           round(2.0 * cxy / (cxx + cyy + dsum * dsum), 6) + 0.0
               AS lin_ccc,
           round(msum / n / 100.0, 4) + 0.0 AS mean_bias_dollars
    FROM c
    """,
)
def lin_ccc_naive_forecast(spark, sf_dir):
    """Lin's concordance correlation between the naive one-day-lag
    forecast (predict today = yesterday) and the actual daily
    revenue: CCC = 2·S_xy / (S_xx + S_yy + (x̄−ȳ)²·n²) penalizes BOTH
    scatter and systematic bias, so CCC ≪ Pearson r flags a forecast
    that tracks the shape but sits off the 45° line — the agreement
    statistic `seasonal_naive_mase` (pure error size) and Pearson
    (pure shape) each miss. Mean bias in dollars attached.

    Exactness: the chow-pattern integer moments over consecutive-day
    pairs (DECIMAL(38,0) products), every statistic one IEEE
    expression from the n-scaled centered forms (the (x̄−ȳ)² term
    appears as n-scaled dsum² so all three denominator terms share
    the same scaling). Plan: one rollup, one bounded self-join, one
    fold; no window.
    """
    daily = _daily_orders(spark, sf_dir)
    a, b_ = daily.alias("a"), daily.alias("b")
    pairs = a.join(b_, F.col("b.d") == F.col("a.d") + 1).select(
        F.col("a.y").alias("x"), F.col("b.y").alias("y")
    )
    xd = F.col("x").cast("decimal(38,0)")
    m = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(xd * F.col("y")).alias("sxy"),
        F.sum(xd * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    cxy = n * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    cxx = n * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx")
    cyy = n * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy")
    dsum = F.col("sx").cast("double") - F.col("sy")
    msum = F.col("sy").cast("double") - F.col("sx")
    return m.select(
        F.col("n").alias("n_pairs"),
        (F.round(cxy / F.sqrt(cxx * cyy), 6) + 0.0).alias("pearson_r"),
        (
            F.round(2.0 * cxy / (cxx + cyy + dsum * dsum), 6) + 0.0
        ).alias("lin_ccc"),
        (F.round(msum / n / 100.0, 4) + 0.0).alias("mean_bias_dollars"),
    )


# --------------------------------------------------------------------------
# X283: Mantel-Haenszel stratified odds ratio + CMH test
# --------------------------------------------------------------------------
@register(
    "mantel_haenszel_weekday_strata",
    oracle="""
    WITH pts AS (
        SELECT (CAST(epoch_us(ts) // 86400000000 AS BIGINT) + 4) % 7
                   AS stratum,
               CAST(user_id % 2 AS BIGINT) AS exposed,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ),
    cells AS (
        SELECT stratum,
               CAST(SUM(exposed * y) AS BIGINT) AS a,
               CAST(SUM(exposed * (1 - y)) AS BIGINT) AS b,
               CAST(SUM((1 - exposed) * y) AS BIGINT) AS c,
               CAST(SUM((1 - exposed) * (1 - y)) AS BIGINT) AS d
        FROM pts GROUP BY stratum
    ),
    folds AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
               CAST(round(SUM(CAST(round(
                   CAST(a AS DOUBLE) * d / (a + b + c + d), 9)
                   AS DECIMAL(28,9))), 9) AS DOUBLE) AS rnum,
               CAST(round(SUM(CAST(round(
                   CAST(b AS DOUBLE) * c / (a + b + c + d), 9)
                   AS DECIMAL(28,9))), 9) AS DOUBLE) AS rden,
               CAST(SUM(a) AS BIGINT) AS asum,
               CAST(round(SUM(CAST(round(
                   CAST(a + b AS DOUBLE) * (a + c) / (a + b + c + d), 9)
                   AS DECIMAL(28,9))), 9) AS DOUBLE) AS esum,
               CAST(round(SUM(CAST(round(
                   CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)
                   / (CAST(a + b + c + d AS DOUBLE)
                      * (a + b + c + d)
                      * (a + b + c + d - 1)), 9)
                   AS DECIMAL(28,9))), 9) AS DOUBLE) AS vsum
        FROM cells
    )
    SELECT n_strata,
           round(rnum / rden, 6) AS or_mantel_haenszel,
           round(pow(abs(asum - esum) - 0.5, 2) / vsum, 6)
               AS cmh_chi2
    FROM folds
    """,
)
def mantel_haenszel_weekday_strata(spark, sf_dir):
    """Mantel-Haenszel weekday-stratified odds ratio of purchasing for
    the user-parity exposure, with the continuity-corrected
    Cochran-Mantel-Haenszel chi-square. THE confounder-adjusted
    two-proportion comparison: if weekday mix differs between arms, a
    crude pooled odds ratio is Simpson-paradox bait — MH pools the
    per-stratum evidence on a common-odds-ratio scale instead.
    Completes the A/B tier: `srm_guardrail_check` validates the
    split, `ab_difference_newcombe` reads the crude difference, MH
    reads the adjusted one.

    Exactness: the 7 strata's 2x2 cells are exact integer counts; the
    four MH folds sum 1e-9-rounded per-stratum IEEE terms in DECIMAL
    over the 7-row weekday frame. Plan: one fold to cells, one 7-row
    fold, one scalar projection; no window, no join.
    """
    e = t(spark, sf_dir, "events")
    pts = e.select(
        (
            (
                F.floor(F.unix_micros("ts") / 86_400_000_000).cast(
                    "bigint"
                )
                + 4
            )
            % 7
        ).alias("stratum"),
        (F.col("user_id") % 2).cast("bigint").alias("exposed"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    cells = pts.groupBy("stratum").agg(
        F.sum(F.col("exposed") * F.col("y")).cast("bigint").alias("a"),
        F.sum(F.col("exposed") * (1 - F.col("y")))
        .cast("bigint")
        .alias("b"),
        F.sum((1 - F.col("exposed")) * F.col("y"))
        .cast("bigint")
        .alias("c"),
        F.sum((1 - F.col("exposed")) * (1 - F.col("y")))
        .cast("bigint")
        .alias("d"),
    )
    nj = F.col("a") + F.col("b") + F.col("c") + F.col("d")

    def fold(expr, name):
        return (
            F.round(
                F.sum(F.round(expr, 9).cast("decimal(28,9)")), 9
            )
            .cast("double")
            .alias(name)
        )

    folds = cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        fold(F.col("a").cast("double") * F.col("d") / nj, "rnum"),
        fold(F.col("b").cast("double") * F.col("c") / nj, "rden"),
        F.sum("a").cast("bigint").alias("asum"),
        fold(
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("a") + F.col("c"))
            / nj,
            "esum",
        ),
        fold(
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("c") + F.col("d"))
            * (F.col("a") + F.col("c"))
            * (F.col("b") + F.col("d"))
            / (nj.cast("double") * nj * (nj - 1)),
            "vsum",
        ),
    )
    return folds.select(
        "n_strata",
        F.round(F.col("rnum") / F.col("rden"), 6).alias(
            "or_mantel_haenszel"
        ),
        F.round(
            F.pow(
                F.abs(F.col("asum") - F.col("esum")) - 0.5, F.lit(2.0)
            )
            / F.col("vsum"),
            6,
        ).alias("cmh_chi2"),
    )


# --------------------------------------------------------------------------
# X284: Page's L ordered-trend test on blocked day ranks
# --------------------------------------------------------------------------
@register(
    "page_trend_test",
    oracle="""
    WITH dt AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               event_type AS g,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY 1, 2
    ),
    complete AS (
        SELECT d FROM dt GROUP BY d HAVING COUNT(*) = 5
    ),
    blocks AS (
        SELECT dt.d, dt.g, dt.v FROM dt JOIN complete c ON dt.d = c.d
    ),
    r2 AS (
        SELECT a.d, a.g,
               CAST(2 * SUM(CASE WHEN b.v < a.v THEN 1 ELSE 0 END)
                    + SUM(CASE WHEN b.v = a.v THEN 1 ELSE 0 END) + 1
                    AS BIGINT) AS rr2
        FROM blocks a JOIN blocks b ON a.d = b.d AND a.g <> b.g
        GROUP BY a.d, a.g
    ),
    colsum AS (
        SELECT g, CAST(SUM(rr2) AS BIGINT) AS r2sum FROM r2 GROUP BY g
    ),
    l AS (
        SELECT CAST(SUM(CASE g WHEN 'click' THEN 1 WHEN 'error' THEN 2
                         WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4
                         ELSE 5 END * r2sum) AS BIGINT) AS l2,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM complete) AS b
        FROM colsum
    )
    SELECT b AS n_blocks,
           round(l2 / 2.0, 2) AS page_l,
           round(b * 5 * 36 / 4.0, 2) AS expected_l,
           round((l2 / 2.0 - b * 5 * 36 / 4.0)
                 / sqrt(b * 25.0 * 36 * 4 / 144.0), 6) + 0.0
               AS z_score
    FROM l
    """,
)
def page_trend_test(spark, sf_dir):
    """Page's L test for an ORDERED alternative across the five event
    types within day blocks: where `friedman_blocked_ranks` asks "do
    the treatments differ at all?", Page's L asks "do they trend
    MONOTONICALLY in the hypothesized order?" (here the fixed
    alphabetical coding click < error < purchase < signup < view —
    the test statistic is defined against a pre-registered order, and
    the coding is the registry's canonical one). L = Σ j·R_j over the
    per-type rank-column sums; z from μ = bk(k+1)²/4 and
    σ² = bk²(k+1)²(k−1)/144.

    Exactness: within-block mid-ranks are computed DOUBLED as the
    integers 2·#less + #tied + 1 (the friedman device — no .5
    rationals until the final display), from a 5x5 within-day
    self-join (no window); complete blocks only; everything to the
    z-numerator is integer. Plan: one (day, type) rollup, a bounded
    per-day join, two folds.
    """
    e = t(spark, sf_dir, "events")
    dt = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("d"),
        F.col("event_type").alias("g"),
    ).agg(
        (F.sum(dec("value", 18, 2)) * 100).cast("bigint").alias("v")
    ).persist()
    complete = dt.groupBy("d").agg(F.count(F.lit(1)).alias("k")).where(
        F.col("k") == 5
    ).select("d")
    blocks = dt.join(complete, "d")
    a, b_ = blocks.alias("a"), blocks.alias("b")
    r2 = (
        a.join(
            b_,
            (F.col("a.d") == F.col("b.d")) & (F.col("a.g") != F.col("b.g")),
        )
        .groupBy(F.col("a.d").alias("d"), F.col("a.g").alias("g"))
        .agg(
            (
                2
                * F.sum(
                    F.when(F.col("b.v") < F.col("a.v"), 1).otherwise(0)
                )
                + F.sum(
                    F.when(F.col("b.v") == F.col("a.v"), 1).otherwise(0)
                )
                + 1
            )
            .cast("bigint")
            .alias("rr2")
        )
    )
    colsum = r2.groupBy("g").agg(F.sum("rr2").cast("bigint").alias("r2sum"))
    j = (
        F.when(F.col("g") == "click", 1)
        .when(F.col("g") == "error", 2)
        .when(F.col("g") == "purchase", 3)
        .when(F.col("g") == "signup", 4)
        .otherwise(5)
    )
    nb = complete.agg(F.count(F.lit(1)).cast("bigint").alias("b"))
    l = colsum.agg(F.sum(j * F.col("r2sum")).cast("bigint").alias("l2"))
    return l.crossJoin(F.broadcast(nb)).select(
        F.col("b").alias("n_blocks"),
        F.round(F.col("l2") / 2.0, 2).alias("page_l"),
        F.round(F.col("b") * 5 * 36 / 4.0, 2).alias("expected_l"),
        (
            F.round(
                (F.col("l2") / 2.0 - F.col("b") * 5 * 36 / 4.0)
                / F.sqrt(F.col("b") * 25.0 * 36 * 4 / 144.0),
                6,
            )
            + 0.0
        ).alias("z_score"),
    )


# --------------------------------------------------------------------------
# X285: weighted Cohen's kappa (value class vs event-type ordinal)
# --------------------------------------------------------------------------
@register(
    "weighted_kappa_agreement",
    oracle="""
    WITH pts AS (
        SELECT CASE WHEN cents < 5000 THEN 0
                    WHEN cents < 15000 THEN 1
                    WHEN cents < 30000 THEN 2 ELSE 3 END AS i,
               CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
                    WHEN 'signup' THEN 2 ELSE 3 END AS j
        FROM (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS cents, event_type
              FROM events WHERE event_type <> 'error')
    ),
    o AS (
        SELECT i, j, CAST(COUNT(*) AS BIGINT) AS c
        FROM pts GROUP BY 1, 2
    ),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM o),
    ri AS (SELECT i, CAST(SUM(c) AS BIGINT) AS r FROM o GROUP BY i),
    cj AS (SELECT j, CAST(SUM(c) AS BIGINT) AS s FROM o GROUP BY j),
    num AS (
        SELECT CAST(SUM((i - j) * (i - j) * c) AS BIGINT) AS oq,
               CAST(SUM(abs(i - j) * c) AS BIGINT) AS ol,
               CAST(SUM(CASE WHEN i = j THEN c ELSE 0 END) AS BIGINT)
                   AS diag
        FROM o
    ),
    den AS (
        SELECT SUM(CAST(ri.r AS DECIMAL(38,0)) * cj.s
                   * (ri.i - cj.j) * (ri.i - cj.j)) AS eq,
               SUM(CAST(ri.r AS DECIMAL(38,0)) * cj.s
                   * abs(ri.i - cj.j)) AS el
        FROM ri, cj
    )
    SELECT n.n AS n_events,
           round(num.diag * 1.0 / n.n, 6) AS observed_agreement,
           round(1.0 - CAST(num.ol AS DOUBLE) * n.n
                       / CAST(den.el AS DOUBLE), 6) + 0.0
               AS kappa_linear,
           round(1.0 - CAST(num.oq AS DOUBLE) * n.n
                       / CAST(den.eq AS DOUBLE), 6) + 0.0
               AS kappa_quadratic
    FROM n, num, den
    """,
)
def weighted_kappa_agreement(spark, sf_dir):
    """Weighted Cohen's kappa between two ordinal "raters" of the same
    event: the value class (four fixed dollar bands) and the
    engagement class (view < click < signup < purchase; errors
    excluded). Linear and quadratic disagreement weights — quadratic
    κ_w is equivalent to an ICC and punishes far-off-diagonal
    disagreements the unweighted `cohens_kappa_agreement` treats the
    same as near-misses. The ordinal-label QA statistic an annotation
    pipeline reports when classes are graded, not nominal.

    Exactness: κ_w = 1 − N·Σw_ij·O_ij / Σw_ij·R_i·S_j needs only
    integer cell counts, integer weights (i−j)², and margin products
    through DECIMAL(38,0) — no float until the final ratio. Plan: one
    fold to the 16-cell table, margin rollups, one 16-cell cross of
    the margins; no window, no event-grain join.
    """
    e = t(spark, sf_dir, "events")
    cents = (dec("value", 18, 2) * 100).cast("bigint")
    pts = e.where(F.col("event_type") != "error").select(
        F.when(cents < 5000, 0)
        .when(cents < 15000, 1)
        .when(cents < 30000, 2)
        .otherwise(3)
        .alias("i"),
        F.when(F.col("event_type") == "view", 0)
        .when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "signup", 2)
        .otherwise(3)
        .alias("j"),
    )
    o = pts.groupBy("i", "j").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).persist()
    n = o.agg(F.sum("c").cast("bigint").alias("n"))
    ri = o.groupBy("i").agg(F.sum("c").cast("bigint").alias("r"))
    cj = o.groupBy("j").agg(F.sum("c").cast("bigint").alias("s"))
    num = o.agg(
        F.sum((F.col("i") - F.col("j")) * (F.col("i") - F.col("j")) * F.col("c"))
        .cast("bigint")
        .alias("oq"),
        F.sum(F.abs(F.col("i") - F.col("j")) * F.col("c"))
        .cast("bigint")
        .alias("ol"),
        F.sum(F.when(F.col("i") == F.col("j"), F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("diag"),
    )
    den = ri.crossJoin(cj).agg(
        F.sum(
            F.col("r").cast("decimal(38,0)")
            * F.col("s")
            * (F.col("i") - F.col("j"))
            * (F.col("i") - F.col("j"))
        ).alias("eq"),
        F.sum(
            F.col("r").cast("decimal(38,0)")
            * F.col("s")
            * F.abs(F.col("i") - F.col("j"))
        ).alias("el"),
    )
    return (
        n.crossJoin(F.broadcast(num))
        .crossJoin(F.broadcast(den))
        .select(
            F.col("n").alias("n_events"),
            F.round(F.col("diag") * 1.0 / F.col("n"), 6).alias(
                "observed_agreement"
            ),
            (
                F.round(
                    1.0
                    - F.col("ol").cast("double")
                    * F.col("n")
                    / F.col("el").cast("double"),
                    6,
                )
                + 0.0
            ).alias("kappa_linear"),
            (
                F.round(
                    1.0
                    - F.col("oq").cast("double")
                    * F.col("n")
                    / F.col("eq").cast("double"),
                    6,
                )
                + 0.0
            ).alias("kappa_quadratic"),
        )
    )


# --------------------------------------------------------------------------
# X286: Goodman-Kruskal gamma and Somers' D panel
# --------------------------------------------------------------------------
@register(
    "somers_d_gamma_panel",
    oracle="""
    WITH per_user AS (
        SELECT LEAST(CAST(COUNT(*) AS BIGINT) // 8, 12) AS i,
               LEAST(CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                   AS BIGINT)) AS BIGINT) // 50000, 12)
                   AS j
        FROM events GROUP BY user_id
    ),
    cells AS (
        SELECT i, j, CAST(COUNT(*) AS BIGINT) AS c
        FROM per_user GROUP BY 1, 2
    ),
    pairs AS (
        SELECT CAST(SUM(CASE WHEN b.i > a.i AND b.j > a.j
                        THEN CAST(a.c AS DECIMAL(38,0)) * b.c
                        ELSE 0 END) AS DECIMAL(38,0)) AS conc,
               CAST(SUM(CASE WHEN b.i > a.i AND b.j < a.j
                        THEN CAST(a.c AS DECIMAL(38,0)) * b.c
                        ELSE 0 END) AS DECIMAL(38,0)) AS disc,
               CAST(SUM(CASE WHEN b.i = a.i AND b.j > a.j
                        THEN CAST(a.c AS DECIMAL(38,0)) * b.c
                        ELSE 0 END) AS DECIMAL(38,0)) AS tx,
               CAST(SUM(CASE WHEN b.j = a.j AND b.i > a.i
                        THEN CAST(a.c AS DECIMAL(38,0)) * b.c
                        ELSE 0 END) AS DECIMAL(38,0)) AS ty
        FROM cells a, cells b
    )
    SELECT CAST(conc AS BIGINT) AS concordant,
           CAST(disc AS BIGINT) AS discordant,
           CAST(tx AS BIGINT) AS ties_x_only,
           CAST(ty AS BIGINT) AS ties_y_only,
           round((CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
                 / nullif(CAST(conc AS DOUBLE) + CAST(disc AS DOUBLE),
                          0.0), 6)
               + 0.0 AS gamma,
           round((CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
                 / (CAST(conc AS DOUBLE) + CAST(disc AS DOUBLE)
                    + CAST(ty AS DOUBLE)), 6) + 0.0 AS somers_d_yx,
           round((CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
                 / (CAST(conc AS DOUBLE) + CAST(disc AS DOUBLE)
                    + CAST(tx AS DOUBLE)), 6) + 0.0 AS somers_d_xy
    FROM pairs
    """,
)
def somers_d_gamma_panel(spark, sf_dir):
    """Goodman-Kruskal gamma and both Somers' D asymmetries between
    per-user activity (events//5, capped ordinal) and spend
    ($100-bucket, capped ordinal): gamma ignores all ties (the
    optimist), D_yx charges ties on the RESPONSE against the
    association (the regression-flavored measure — what an ordinal
    churn model's ranking power actually is). Together with
    `kendall_tau_b_bucketed` (which charges both tie kinds) the three
    tie treatments bracket the ordinal association; the spread
    BETWEEN them says how much of the signal lives in ties.

    Exactness: concordant/discordant/tied pair masses are exact
    integer products over the <=100-cell contingency cross
    (DECIMAL(38,0) — user-pair counts are the sf0.1 overflow class);
    the three ratios are IEEE expressions. Plan: one user rollup, one
    10x10 cell fold, one bounded cell cross; no window.
    """
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.least(F.expr("CAST(COUNT(*) AS BIGINT) div 8"), F.lit(12)).alias(
            "i"
        ),
        F.least(
            F.expr(
                "CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100"
                " AS BIGINT)) AS BIGINT) div 50000"
            ),
            F.lit(12),
        ).alias("j"),
    )
    cells = per_user.groupBy("i", "j").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    a, b_ = cells.alias("a"), cells.alias("b")
    prod = F.col("a.c").cast("decimal(38,0)") * F.col("b.c")
    zero = F.lit(0).cast("decimal(38,0)")
    pairs = a.crossJoin(F.broadcast(b_)).agg(
        F.sum(
            F.when(
                (F.col("b.i") > F.col("a.i"))
                & (F.col("b.j") > F.col("a.j")),
                prod,
            ).otherwise(zero)
        ).alias("conc"),
        F.sum(
            F.when(
                (F.col("b.i") > F.col("a.i"))
                & (F.col("b.j") < F.col("a.j")),
                prod,
            ).otherwise(zero)
        ).alias("disc"),
        F.sum(
            F.when(
                (F.col("b.i") == F.col("a.i"))
                & (F.col("b.j") > F.col("a.j")),
                prod,
            ).otherwise(zero)
        ).alias("tx"),
        F.sum(
            F.when(
                (F.col("b.j") == F.col("a.j"))
                & (F.col("b.i") > F.col("a.i")),
                prod,
            ).otherwise(zero)
        ).alias("ty"),
    )
    cd, dd = F.col("conc").cast("double"), F.col("disc").cast("double")
    txd, tyd = F.col("tx").cast("double"), F.col("ty").cast("double")
    return pairs.select(
        F.col("conc").cast("bigint").alias("concordant"),
        F.col("disc").cast("bigint").alias("discordant"),
        F.col("tx").cast("bigint").alias("ties_x_only"),
        F.col("ty").cast("bigint").alias("ties_y_only"),
        (
            F.round((cd - dd) / F.nullif(cd + dd, F.lit(0.0)), 6) + 0.0
        ).alias("gamma"),
        (F.round((cd - dd) / (cd + dd + tyd), 6) + 0.0).alias(
            "somers_d_yx"
        ),
        (F.round((cd - dd) / (cd + dd + txd), 6) + 0.0).alias(
            "somers_d_xy"
        ),
    )


# --------------------------------------------------------------------------
# X287: SPRT sequential purchase-rate monitor
# --------------------------------------------------------------------------
@register(
    "sprt_purchase_rate_monitor",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                             ELSE 0 END) AS BIGINT) AS k
        FROM events GROUP BY 1
    ),
    llr AS (
        SELECT d, n, k,
               round(k * ln(0.22 / 0.18)
                     + (n - k) * ln(0.78 / 0.82), 9) AS step
        FROM daily
    ),
    cum AS (
        SELECT a.d, a.n, a.k, a.step,
               CAST(round(SUM(CAST(round(b.step, 9) AS DECIMAL(28,9))),
                          9) AS DOUBLE) AS cum_llr
        FROM llr a JOIN llr b ON b.d <= a.d
        GROUP BY a.d, a.n, a.k, a.step
    )
    SELECT d AS day_number, n AS n_events, k AS n_purchases,
           round(step, 6) + 0.0 AS daily_llr,
           round(cum_llr, 6) + 0.0 AS cumulative_llr,
           CASE WHEN cum_llr >= ln(19.0) THEN 'reject_h0'
                WHEN cum_llr <= -ln(19.0) THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM cum
    """,
)
def sprt_purchase_rate_monitor(spark, sf_dir):
    """Wald's sequential probability ratio test run day-by-day on the
    purchase rate: H0 p = 0.18 vs H1 p = 0.22, α = β = 0.05 (Wald
    bounds ±ln 19). Each day contributes k·ln(p1/p0) +
    (n−k)·ln(q1/q0) to the cumulative log-likelihood ratio; the
    decision column shows when the monitor would have STOPPED — the
    always-valid sequential alternative to the fixed-horizon tests
    (`power_analysis_mde` plans the fixed test; SPRT replaces it when
    peeking daily is the operational reality).

    Exactness: daily (n, k) are exact integers; each LLR step is one
    IEEE expression rounded at 1e-9; the cumulative sum is a
    TRIANGULAR join over the calendar-day frame (d' <= d) folding the
    rounded decimals — window-free by construction, bounded by the
    calendar domain.
    Plan: one rollup, one bounded triangular join, one projection.
    """
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("k"),
    )
    llr = daily.select(
        "d",
        "n",
        "k",
        F.round(
            F.col("k") * math.log(0.22 / 0.18)
            + (F.col("n") - F.col("k")) * math.log(0.78 / 0.82),
            9,
        ).alias("step"),
    ).persist()
    a, b_ = llr.alias("a"), llr.alias("b")
    cum = (
        a.join(b_, F.col("b.d") <= F.col("a.d"))
        .groupBy(
            F.col("a.d").alias("d"),
            F.col("a.n").alias("n"),
            F.col("a.k").alias("k"),
            F.col("a.step").alias("step"),
        )
        .agg(
            F.round(
                F.sum(
                    F.round(F.col("b.step"), 9).cast("decimal(28,9)")
                ),
                9,
            )
            .cast("double")
            .alias("cum_llr")
        )
    )
    bound = math.log(19.0)
    return cum.select(
        F.col("d").alias("day_number"),
        F.col("n").alias("n_events"),
        F.col("k").alias("n_purchases"),
        (F.round(F.col("step"), 6) + 0.0).alias("daily_llr"),
        (F.round(F.col("cum_llr"), 6) + 0.0).alias("cumulative_llr"),
        F.when(F.col("cum_llr") >= bound, "reject_h0")
        .when(F.col("cum_llr") <= -bound, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )


# --------------------------------------------------------------------------
# X288: variance-inflation-factor collinearity audit
# --------------------------------------------------------------------------
@register(
    "vif_collinearity_audit",
    oracle=f"""
    WITH daily AS ({_DAILY_ORDERS_SQL}),
    z AS (
        SELECT CAST(c AS DOUBLE) AS x,
               round(CAST(y AS DOUBLE) / c, 6) AS w,
               CASE WHEN (d + 4) % 7 IN (0, 6) THEN 1.0 ELSE 0.0 END
                   AS k
        FROM daily
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(round(SUM(CAST(round(x, 4) AS DECIMAL(28,4))), 4)
                    AS DOUBLE) AS sx,
               CAST(round(SUM(CAST(round(w, 4) AS DECIMAL(28,4))), 4)
                    AS DOUBLE) AS sw,
               CAST(round(SUM(CAST(round(k, 4) AS DECIMAL(28,4))), 4)
                    AS DOUBLE) AS sk,
               CAST(round(SUM(CAST(round(x * x, 4) AS DECIMAL(38,4))),
                          4) AS DOUBLE) AS sxx,
               CAST(round(SUM(CAST(round(w * w, 4) AS DECIMAL(38,4))),
                          4) AS DOUBLE) AS sww,
               CAST(round(SUM(CAST(round(k * k, 4) AS DECIMAL(28,4))),
                          4) AS DOUBLE) AS skk,
               CAST(round(SUM(CAST(round(x * w, 4) AS DECIMAL(38,4))),
                          4) AS DOUBLE) AS sxw,
               CAST(round(SUM(CAST(round(x * k, 4) AS DECIMAL(38,4))),
                          4) AS DOUBLE) AS sxk,
               CAST(round(SUM(CAST(round(w * k, 4) AS DECIMAL(38,4))),
                          4) AS DOUBLE) AS swk
        FROM z
    ),
    r AS (
        SELECT (n * sxw - sx * sw)
                 / sqrt((n * sxx - sx * sx) * (n * sww - sw * sw))
                   AS rxw,
               (n * sxk - sx * sk)
                 / sqrt((n * sxx - sx * sx) * (n * skk - sk * sk))
                   AS rxk,
               (n * swk - sw * sk)
                 / sqrt((n * sww - sw * sw) * (n * skk - sk * sk))
                   AS rwk
        FROM m
    ),
    r2 AS (
        SELECT 'order_count' AS regressor,
               (rxw * rxw + rxk * rxk - 2 * rxw * rxk * rwk)
                 / (1 - rwk * rwk) AS r2_others FROM r
        UNION ALL
        SELECT 'mean_order_cents',
               (rxw * rxw + rwk * rwk - 2 * rxw * rwk * rxk)
                 / (1 - rxk * rxk) FROM r
        UNION ALL
        SELECT 'weekend_flag',
               (rxk * rxk + rwk * rwk - 2 * rxk * rwk * rxw)
                 / (1 - rxw * rxw) FROM r
    )
    SELECT regressor,
           round(r2_others, 6) + 0.0 AS r2_on_others,
           round(1.0 / (1.0 - r2_others), 6) AS vif
    FROM r2
    """,
)
def vif_collinearity_audit(spark, sf_dir):
    """Variance-inflation factors for the three natural daily-revenue
    regressors — order count, mean order value, weekend flag — each
    regressed (in closed form via the 3x3 correlation matrix) on the
    other two: VIF_j = 1/(1−R²_j). The pre-flight check BEFORE
    trusting any multiple regression's coefficient table
    (`ols_normal_equations`, `granger_causality_lag1`): VIF > 5-10
    means the design matrix is too collinear for the coefficients to
    mean anything individually.

    Exactness: all nine moments fold 1e-4-rounded per-day terms in
    fixed-scale DECIMAL (the day frame is calendar-bounded, so these
    magnitudes never grow with data volume); pairwise correlations
    and the closed-form R² are IEEE expressions. Plan: one rollup,
    one fold, a 3-row projection union; no window.
    """
    daily = _daily_orders(spark, sf_dir)
    z = daily.select(
        F.col("c").cast("double").alias("x"),
        F.round(F.col("y").cast("double") / F.col("c"), 6).alias("w"),
        F.when(((F.col("d") + 4) % 7).isin(0, 6), 1.0)
        .otherwise(0.0)
        .alias("k"),
    )

    def fold(expr, name, scale="decimal(38,4)"):
        return (
            F.round(F.sum(F.round(expr, 4).cast(scale)), 4)
            .cast("double")
            .alias(name)
        )

    m = z.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        fold(F.col("x"), "sx", "decimal(28,4)"),
        fold(F.col("w"), "sw", "decimal(28,4)"),
        fold(F.col("k"), "sk", "decimal(28,4)"),
        fold(F.col("x") * F.col("x"), "sxx"),
        fold(F.col("w") * F.col("w"), "sww"),
        fold(F.col("k") * F.col("k"), "skk", "decimal(28,4)"),
        fold(F.col("x") * F.col("w"), "sxw"),
        fold(F.col("x") * F.col("k"), "sxk"),
        fold(F.col("w") * F.col("k"), "swk"),
    )
    n = F.col("n").cast("double")

    def corr(sab, sa, sb, saa, sbb):
        return (n * F.col(sab) - F.col(sa) * F.col(sb)) / F.sqrt(
            (n * F.col(saa) - F.col(sa) * F.col(sa))
            * (n * F.col(sbb) - F.col(sb) * F.col(sb))
        )

    r = m.select(
        corr("sxw", "sx", "sw", "sxx", "sww").alias("rxw"),
        corr("sxk", "sx", "sk", "sxx", "skk").alias("rxk"),
        corr("swk", "sw", "sk", "sww", "skk").alias("rwk"),
    ).persist()

    def row(name, ra, rb, rc):
        # R^2 of the regressor whose correlations with the other two
        # are ra, rb, and rc is the correlation BETWEEN the other two.
        r2 = (
            F.col(ra) * F.col(ra)
            + F.col(rb) * F.col(rb)
            - 2 * F.col(ra) * F.col(rb) * F.col(rc)
        ) / (1 - F.col(rc) * F.col(rc))
        return r.select(
            F.lit(name).alias("regressor"),
            (F.round(r2, 6) + 0.0).alias("r2_on_others"),
            F.round(1.0 / (1.0 - r2), 6).alias("vif"),
        )

    return (
        row("order_count", "rxw", "rxk", "rwk")
        .unionAll(row("mean_order_cents", "rxw", "rwk", "rxk"))
        .unionAll(row("weekend_flag", "rxk", "rwk", "rxw"))
    )


# --------------------------------------------------------------------------
# X289: cohort retention curve with power-law fit
# --------------------------------------------------------------------------
@register(
    "retention_powerlaw_fit",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id,
               (CAST(epoch_us(ts) // 86400000000 AS BIGINT)
                - (SELECT CAST(MIN(epoch_us(ts) // 86400000000)
                        AS BIGINT) FROM events)) // 7 AS w
        FROM events
    ),
    u0 AS (
        SELECT user_id, CAST(MIN(w) AS BIGINT) AS w0 FROM ud
        GROUP BY user_id
    ),
    wmax AS (SELECT CAST(MAX(w) AS BIGINT) AS wm FROM ud),
    offs AS (
        SELECT ud.user_id, ud.w - u0.w0 AS k
        FROM ud JOIN u0 ON ud.user_id = u0.user_id
        WHERE ud.w > u0.w0
    ),
    act AS (
        SELECT k, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active
        FROM offs GROUP BY k
    ),
    elig AS (
        SELECT g.k,
               CAST(COUNT(*) AS BIGINT) AS eligible
        FROM u0, wmax, LATERAL (SELECT UNNEST(range(1, wm + 1)) AS k) g
        WHERE u0.w0 + g.k <= wm
        GROUP BY g.k
    ),
    curve AS (
        SELECT e.k, e.eligible, COALESCE(a.active, 0) AS active,
               round(COALESCE(a.active, 0) * 1.0 / e.eligible, 9) AS r
        FROM elig e LEFT JOIN act a ON e.k = a.k
    ),
    fitpts AS (
        SELECT ln(CAST(k AS DOUBLE)) AS lx, ln(r) AS ly
        FROM curve WHERE r > 0
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(round(SUM(CAST(round(lx, 9) AS DECIMAL(20,9))), 9)
                    AS DOUBLE) AS sx,
               CAST(round(SUM(CAST(round(ly, 9) AS DECIMAL(20,9))), 9)
                    AS DOUBLE) AS sy,
               CAST(round(SUM(CAST(round(lx * ly, 9)
                    AS DECIMAL(20,9))), 9) AS DOUBLE) AS sxy,
               CAST(round(SUM(CAST(round(lx * lx, 9)
                    AS DECIMAL(20,9))), 9) AS DOUBLE) AS sxx
        FROM fitpts
    )
    SELECT c.k AS week_offset, c.eligible, c.active,
           round(c.r, 6) AS retention_rate,
           round((f.n * f.sxy - f.sx * f.sy)
                 / (f.n * f.sxx - f.sx * f.sx), 6) + 0.0
               AS power_beta,
           round(exp((f.sy - (f.n * f.sxy - f.sx * f.sy)
                             / (f.n * f.sxx - f.sx * f.sx) * f.sx)
                     / f.n), 6) AS power_alpha
    FROM curve c, fit f
    """,
)
def retention_powerlaw_fit(spark, sf_dir):
    """Pooled weekly retention curve with a power-law fit: r_k = share
    of eligible users active exactly k weeks after their first week,
    and the log-log OLS r_k ≈ α·k^β. Retention curves empirically
    follow power laws (the "shifted-Beta-geometric lite" of growth
    analytics); β is THE one-number health metric — shallower than
    −1 means a sticky product — and extrapolating the fitted curve is
    how LTV models project beyond observed history
    (`cohort_retention` reports the observed triangle; this fits and
    names its law).

    Exactness: active/eligible are exact integer counts (eligibility
    = cohort observable at offset k, the right-censoring rule);
    retention ratios round at 1e-9; the tiny log-log fit folds
    rounded terms over the bounded week-offset frame. Plan: two
    user-grain rollups, a bounded offset grid, one fold; no window.
    """
    e = t(spark, sf_dir, "events")
    dmin = e.agg(
        F.min(F.floor(F.unix_micros("ts") / 86_400_000_000))
        .cast("bigint")
        .alias("dmin")
    )
    ud = (
        e.crossJoin(F.broadcast(dmin))
        .select(
            "user_id",
            F.expr(
                "(CAST(floor(unix_micros(ts) / 86400000000) AS BIGINT)"
                " - dmin) div 7"
            ).alias("w"),
        )
        .distinct()
        .persist()
    )
    u0 = ud.groupBy("user_id").agg(F.min("w").cast("bigint").alias("w0"))
    wmax = ud.agg(F.max("w").cast("bigint").alias("wm"))
    offs = (
        ud.join(u0, "user_id")
        .where(F.col("w") > F.col("w0"))
        .select("user_id", (F.col("w") - F.col("w0")).alias("k"))
    )
    act = offs.groupBy("k").agg(
        F.countDistinct("user_id").cast("bigint").alias("active")
    )
    ks = (
        wmax.crossJoin(
            spark.range(1, 100).select(F.col("id").alias("k"))
        )
        .where(F.col("k") <= F.col("wm"))
        .select("k", "wm")
    )
    elig = (
        u0.crossJoin(F.broadcast(ks))
        .where(F.col("w0") + F.col("k") <= F.col("wm"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("eligible"))
    )
    curve = (
        elig.join(act, "k", "left")
        .select(
            "k",
            "eligible",
            F.coalesce(F.col("active"), F.lit(0))
            .cast("bigint")
            .alias("active"),
            F.round(
                F.coalesce(F.col("active"), F.lit(0))
                * 1.0
                / F.col("eligible"),
                9,
            ).alias("r"),
        )
        .persist()
    )
    fitpts = curve.where(F.col("r") > 0).select(
        F.log(F.col("k").cast("double")).alias("lx"),
        F.log("r").alias("ly"),
    )

    def fold(expr, name):
        return (
            F.round(
                F.sum(F.round(expr, 9).cast("decimal(20,9)")), 9
            )
            .cast("double")
            .alias(name)
        )

    fit = fitpts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        fold(F.col("lx"), "sx"),
        fold(F.col("ly"), "sy"),
        fold(F.col("lx") * F.col("ly"), "sxy"),
        fold(F.col("lx") * F.col("lx"), "sxx"),
    )
    n = F.col("n").cast("double")
    beta = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return curve.crossJoin(F.broadcast(fit)).select(
        F.col("k").alias("week_offset"),
        "eligible",
        "active",
        F.round(F.col("r"), 6).alias("retention_rate"),
        (F.round(beta, 6) + 0.0).alias("power_beta"),
        F.round(
            F.exp((F.col("sy") - beta * F.col("sx")) / n), 6
        ).alias("power_alpha"),
    )


# --------------------------------------------------------------------------
# X290: seasonal-ESD outlier scan (3 unrolled rounds)
# --------------------------------------------------------------------------
@register(
    "seasonal_esd_outliers",
    oracle=f"""
    WITH daily AS ({_DAILY_ORDERS_SQL}),
    dowm AS (
        SELECT (d + 4) % 7 AS dow,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(COUNT(*) AS BIGINT) AS nd
        FROM daily GROUP BY 1
    ),
    r0 AS MATERIALIZED (
        SELECT d, y - CAST(m.sy AS DOUBLE) / m.nd AS e
        FROM daily, dowm m WHERE (daily.d + 4) % 7 = m.dow
    ),
    s1 AS MATERIALIZED (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(round(SUM(CAST(round(e, 4) AS DECIMAL(28,4))), 4)
                    AS DOUBLE) AS se,
               CAST(round(SUM(CAST(round(e * e, 4) AS DECIMAL(38,4))),
                          4) AS DOUBLE) AS see
        FROM r0
    ),
    f1 AS MATERIALIZED (
        SELECT p.d, p.e,
               abs(p.e - s.se / s.n)
                 / sqrt((s.see - s.n * (s.se / s.n) * (s.se / s.n))
                        / (s.n - 1)) AS stat
        FROM r0 p, s1 s
        ORDER BY round(abs(p.e - s.se / s.n)
                 / sqrt((s.see - s.n * (s.se / s.n) * (s.se / s.n))
                        / (s.n - 1)), 9) DESC, p.d ASC
        LIMIT 1
    ),
    r1 AS MATERIALIZED (
        SELECT p.d, p.e FROM r0 p
        WHERE p.d NOT IN (SELECT d FROM f1)
    ),
    s2 AS MATERIALIZED (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(round(SUM(CAST(round(e, 4) AS DECIMAL(28,4))), 4)
                    AS DOUBLE) AS se,
               CAST(round(SUM(CAST(round(e * e, 4) AS DECIMAL(38,4))),
                          4) AS DOUBLE) AS see
        FROM r1
    ),
    f2 AS MATERIALIZED (
        SELECT p.d, p.e,
               abs(p.e - s.se / s.n)
                 / sqrt((s.see - s.n * (s.se / s.n) * (s.se / s.n))
                        / (s.n - 1)) AS stat
        FROM r1 p, s2 s
        ORDER BY round(abs(p.e - s.se / s.n)
                 / sqrt((s.see - s.n * (s.se / s.n) * (s.se / s.n))
                        / (s.n - 1)), 9) DESC, p.d ASC
        LIMIT 1
    ),
    r2 AS MATERIALIZED (
        SELECT p.d, p.e FROM r1 p
        WHERE p.d NOT IN (SELECT d FROM f2)
    ),
    s3 AS MATERIALIZED (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(round(SUM(CAST(round(e, 4) AS DECIMAL(28,4))), 4)
                    AS DOUBLE) AS se,
               CAST(round(SUM(CAST(round(e * e, 4) AS DECIMAL(38,4))),
                          4) AS DOUBLE) AS see
        FROM r2
    ),
    f3 AS MATERIALIZED (
        SELECT p.d, p.e,
               abs(p.e - s.se / s.n)
                 / sqrt((s.see - s.n * (s.se / s.n) * (s.se / s.n))
                        / (s.n - 1)) AS stat
        FROM r2 p, s3 s
        ORDER BY round(abs(p.e - s.se / s.n)
                 / sqrt((s.see - s.n * (s.se / s.n) * (s.se / s.n))
                        / (s.n - 1)), 9) DESC, p.d ASC
        LIMIT 1
    ),
    r3 AS MATERIALIZED (
        SELECT p.d, p.e FROM r2 p
        WHERE p.d NOT IN (SELECT d FROM f3)
    ),
    flagged AS (
        SELECT 1 AS round_no, d, e, stat FROM f1
        UNION ALL SELECT 2, d, e, stat FROM f2
        UNION ALL SELECT 3, d, e, stat FROM f3
    )
    SELECT round_no, d AS day_number,
           round(e / 100.0, 2) + 0.0 AS residual_dollars,
           round(stat, 6) AS esd_stat,
           CASE WHEN stat > 3.0 THEN 1 ELSE 0 END AS exceeds_z3
    FROM flagged
    """,
)
def seasonal_esd_outliers(spark, sf_dir):
    """Seasonal-ESD outlier scan (the Twitter anomaly-detection
    shape, Hochenbaum et al. 2017, bounded to 3 rounds): remove the
    day-of-week mean, then iteratively flag the most extreme
    studentized residual and RE-COMPUTE mean/sd without it — the
    re-estimation is the point, since a single huge anomaly inflates
    sd enough to mask the second and third (`grubbs_max_outlier`
    finds one; ESD finds the masked ones). Flagged days with their
    stats and a z > 3 exceedance verdict.

    Exactness: DOW means come from exact integer sums; residuals are
    per-day IEEE expressions; each round's mean/sd fold 1e-4-rounded
    terms in DECIMAL over the calendar frame, and each argmax is a
    1-row TakeOrdered on the total order (rounded stat desc, day
    asc). Three rounds unroll into one DAG in both engines (the
    kcore/BFS3 device; oracle CTEs are MATERIALIZED against DuckDB's
    exponential CTE inlining). Plan: one rollup, per round one fold +
    one 1-row argmax + one anti-join on the bounded day frame.
    """
    daily = _daily_orders(spark, sf_dir)
    dowm = daily.groupBy(((F.col("d") + 4) % 7).alias("dow")).agg(
        F.sum("y").cast("bigint").alias("sy"),
        F.count(F.lit(1)).cast("bigint").alias("nd"),
    )
    r = (
        daily.join(
            F.broadcast(dowm), ((F.col("d") + 4) % 7) == F.col("dow")
        )
        .select(
            "d",
            (
                F.col("y")
                - F.col("sy").cast("double") / F.col("nd")
            ).alias("e"),
        )
        .localCheckpoint(eager=False)
    )
    flagged = []
    for i in range(1, 4):
        s = r.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.sum(F.round(F.col("e"), 4).cast("decimal(28,4)")), 4
            )
            .cast("double")
            .alias("se"),
            F.round(
                F.sum(
                    F.round(F.col("e") * F.col("e"), 4).cast(
                        "decimal(38,4)"
                    )
                ),
                4,
            )
            .cast("double")
            .alias("see"),
        )
        mu = F.col("se") / F.col("n")
        sd = F.sqrt(
            (F.col("see") - F.col("n") * mu * mu) / (F.col("n") - 1)
        )
        stat = F.abs(F.col("e") - mu) / sd
        f = (
            r.crossJoin(F.broadcast(s))
            .select("d", "e", stat.alias("stat"))
            .orderBy(F.round(F.col("stat"), 9).desc(), F.col("d").asc())
            .limit(1)
            .localCheckpoint(eager=False)
        )
        flagged.append(
            f.select(
                F.lit(i).alias("round_no"), "d", "e", "stat"
            )
        )
        r = r.join(
            f.select("d"), "d", "left_anti"
        ).localCheckpoint(eager=False)
    out = flagged[0].unionAll(flagged[1]).unionAll(flagged[2])
    return out.select(
        "round_no",
        F.col("d").alias("day_number"),
        (F.round(F.col("e") / 100.0, 2) + 0.0).alias(
            "residual_dollars"
        ),
        F.round(F.col("stat"), 6).alias("esd_stat"),
        F.when(F.col("stat") > 3.0, 1).otherwise(0).alias("exceeds_z3"),
    )


# --------------------------------------------------------------------------
# X291: naive-forecast interval coverage backtest
# --------------------------------------------------------------------------
@register(
    "naive_forecast_coverage_backtest",
    oracle=f"""
    WITH daily AS ({_DAILY_ORDERS_SQL}),
    pairs AS (
        SELECT b.y - a.y AS z
        FROM daily a JOIN daily b ON b.d = a.d + 1
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(z) AS BIGINT) AS sz,
               SUM(CAST(z AS DECIMAL(38,0)) * z) AS szz
        FROM pairs
    ),
    sd AS (
        SELECT n,
               sqrt((n * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * sz)
                    / (CAST(n AS DOUBLE) * (n - 1))) AS s
        FROM m
    ),
    grid AS (
        SELECT CAST(UNNEST([1.0, 1.96, 2.58]) AS DOUBLE) AS zm,
               CAST(UNNEST([0.682689, 0.95, 0.99]) AS DOUBLE)
                   AS nominal
    )
    SELECT g.zm AS z_multiplier,
           g.nominal AS nominal_coverage,
           round(SUM(CASE WHEN abs(p.z) <= g.zm * d.s THEN 1
                          ELSE 0 END) * 1.0 / d.n, 6)
               AS empirical_coverage,
           d.n AS n_pairs
    FROM pairs p, sd d, grid g
    GROUP BY g.zm, g.nominal, d.n
    """,
)
def naive_forecast_coverage_backtest(spark, sf_dir):
    """Interval-coverage backtest of the naive daily forecast
    (predict today = yesterday, error bars ± z·sd(Δy)): at each
    standard z the EMPIRICAL share of days landing inside the
    interval vs the Gaussian nominal. Under-coverage at 1.96
    (empirical ≪ 0.95) means fat-tailed day-over-day changes — every
    normal-theory prediction interval downstream (`holt_linear_
    forecast`, the EWMA limits) is then too narrow by a measurable
    factor. The calibration half of forecast eval; `seasonal_naive_
    mase` is the accuracy half.

    Exactness: day deltas are exact integer cents; the sd comes from
    DECIMAL(38,0) moments; the coverage comparison |Δ| <= z·sd is the
    identical IEEE predicate in both engines; counts are integers.
    Plan: one rollup, one bounded self-join, a 3-row grid fold.
    """
    daily = _daily_orders(spark, sf_dir)
    a, b_ = daily.alias("a"), daily.alias("b")
    pairs = a.join(b_, F.col("b.d") == F.col("a.d") + 1).select(
        (F.col("b.y") - F.col("a.y")).alias("z")
    ).persist()
    m = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("z")).alias("szz"),
    )
    n = F.col("n").cast("double")
    sd = m.select(
        "n",
        F.sqrt(
            (
                n * F.col("szz").cast("double")
                - F.col("sz").cast("double") * F.col("sz")
            )
            / (n * (F.col("n") - 1))
        ).alias("s"),
    )
    grid = spark.createDataFrame(
        [(1.0, 0.682689), (1.96, 0.95), (2.58, 0.99)],
        ["zm", "nominal"],
    )
    return (
        pairs.crossJoin(F.broadcast(sd))
        .crossJoin(F.broadcast(grid))
        .groupBy("zm", "nominal", "n")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.abs(F.col("z")) <= F.col("zm") * F.col("s"), 1
                    ).otherwise(0)
                )
                * 1.0
                / F.col("n"),
                6,
            ).alias("empirical_coverage")
        )
        .select(
            F.col("zm").alias("z_multiplier"),
            F.col("nominal").alias("nominal_coverage"),
            "empirical_coverage",
            F.col("n").alias("n_pairs"),
        )
    )


# --------------------------------------------------------------------------
# X292: dup-component over-merge audit (density per component)
# --------------------------------------------------------------------------
@register(
    "component_overmerge_audit",
    oracle=f"""
    WITH RECURSIVE half AS ({_HALF_W3_R10}
    ), edges AS (
        SELECT p1 AS u, p2 AS v FROM half
        UNION ALL
        SELECT p2 AS u, p1 AS v FROM half
    ), reach(node, lbl) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
    ), comp AS (
        SELECT node, MIN(lbl) AS component FROM reach GROUP BY node
    ), csize AS (
        SELECT component, CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM comp GROUP BY component
    ), cedges AS (
        SELECT c.component, CAST(COUNT(*) AS BIGINT) AS n_edges
        FROM half h JOIN comp c ON h.p1 = c.node
        GROUP BY c.component
    )
    SELECT s.component, s.n_nodes, e.n_edges,
           round(200.0 * e.n_edges
                 / (CAST(s.n_nodes AS DOUBLE) * (s.n_nodes - 1)), 4)
               AS density_pct,
           CASE WHEN 2.0 * e.n_edges
                     < 0.5 * CAST(s.n_nodes AS DOUBLE) * (s.n_nodes - 1)
                THEN 1 ELSE 0 END AS overmerge_flag
    FROM csize s JOIN cedges e ON s.component = e.component
    WHERE s.n_nodes >= 3
    """,
)
def component_overmerge_audit(spark, sf_dir):
    """Over-merge audit of the gated co-purchase components
    (X248): per component of size >= 3, the edge count and pairwise
    density 2E/(n(n−1)), flagging sparse components (< 50% dense).
    Transitivity is EARNED edge by edge in a dup/affinity cluster —
    a big, sparse component is the chain-of-borderline-links failure
    mode where connected-components glues together things no single
    edge supports (the `dup_graph_triangles` warning, made
    per-cluster and actionable: flagged clusters need a stricter
    within-cluster re-verify before a dedup keep/drop decision).

    Exactness: node and edge counts are exact integers (each
    half-edge lies entirely inside one component by construction, so
    a single p1-keyed join assigns it); density is one IEEE ratio.
    The component labels reuse operators/components.py; the oracle
    re-derives them independently via the recursive closure. Plan:
    the X248 propagation + two keyed rollups and one join.
    """
    from ..operators.components import connected_components

    half = _half_edges_r10(spark, sf_dir, 3).persist()
    comp = connected_components(half, a="p1", b="p2")
    csize = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    cedges = (
        half.join(
            comp.select(F.col("node").alias("p1"), "component"), "p1"
        )
        .groupBy("component")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    )
    nn = F.col("n_nodes").cast("double")
    return (
        csize.join(cedges, "component")
        .where(F.col("n_nodes") >= 3)
        .select(
            "component",
            "n_nodes",
            "n_edges",
            F.round(
                200.0 * F.col("n_edges") / (nn * (F.col("n_nodes") - 1)),
                4,
            ).alias("density_pct"),
            F.when(
                2.0 * F.col("n_edges")
                < 0.5 * nn * (F.col("n_nodes") - 1),
                1,
            )
            .otherwise(0)
            .alias("overmerge_flag"),
        )
    )


# --------------------------------------------------------------------------
# X293: weekend-effect dummy regression with trend control
# --------------------------------------------------------------------------
@register(
    "weekend_effect_ols",
    oracle=f"""
    WITH daily AS ({_DAILY_ORDERS_SQL}),
    z AS (
        SELECT d - (SELECT MIN(d) FROM daily) AS x1,
               CASE WHEN (d + 4) % 7 IN (0, 6) THEN 1 ELSE 0 END AS x2,
               y
        FROM daily
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x1) AS BIGINT) AS s1,
               CAST(SUM(x2) AS BIGINT) AS s2,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(x1 AS DECIMAL(38,0)) * x1) AS s11,
               SUM(CAST(x1 AS DECIMAL(38,0)) * x2) AS s12,
               SUM(CAST(x2 AS DECIMAL(38,0)) * x2) AS s22,
               SUM(CAST(x1 AS DECIMAL(38,0)) * y) AS s1y,
               SUM(CAST(x2 AS DECIMAL(38,0)) * y) AS s2y,
               SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
        FROM z
    ),
    c AS (
        SELECT n,
               n * CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 AS c11,
               n * CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 AS c12,
               n * CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 AS c22,
               n * CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * sy AS c1y,
               n * CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * sy AS c2y,
               n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy AS cyy
        FROM m
    ),
    fit AS (
        SELECT n,
               (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b,
               (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS w,
               (cyy - ((c22 * c1y - c12 * c2y) * c1y
                       + (c11 * c2y - c12 * c1y) * c2y)
                      / (c11 * c22 - c12 * c12)) / n AS rss,
               cyy, c11, c22, c12
        FROM c
    )
    SELECT n AS n_days,
           round(b, 9) + 0.0 AS trend_slope_cents,
           round(w / 100.0, 4) + 0.0 AS weekend_lift_dollars,
           round(w / sqrt(rss / (n - 3) * c11 * n
                          / (c11 * c22 - c12 * c12)), 6) + 0.0
               AS weekend_t_stat,
           round(1.0 - rss / (cyy / n), 6) AS r_squared
    FROM fit
    """,
)
def weekend_effect_ols(spark, sf_dir):
    """Weekend effect on daily revenue, estimated the RIGHT way — a
    dummy-variable regression y = a + b·t + c·weekend that CONTROLS
    for the long-run trend (the naive weekend-vs-weekday mean gap
    conflates the effect with drift whenever weekends are unevenly
    distributed across a trending span). Reports the adjusted lift in
    dollars, its t-statistic from the closed-form 2-regressor
    covariance, and R². The intervention-analysis primitive: swap the
    dummy for any calendar event and this is an event study.

    Exactness: the ten power sums are exact integers through
    DECIMAL(38,0); coefficients, RSS, Var(ĉ) = s²·c11·n/det, and the
    t-ratio are IEEE expressions from the n-scaled centered moments
    (the granger_causality_lag1 algebra with a dummy regressor).
    Plan: one rollup, a broadcast min-day scalar, one fold.
    """
    daily = _daily_orders(spark, sf_dir)
    dmin = daily.agg(F.min("d").cast("bigint").alias("dmin"))
    z = daily.crossJoin(F.broadcast(dmin)).select(
        (F.col("d") - F.col("dmin")).alias("x1"),
        F.when(((F.col("d") + 4) % 7).isin(0, 6), 1)
        .otherwise(0)
        .alias("x2"),
        "y",
    )
    x1d = F.col("x1").cast("decimal(38,0)")
    x2d = F.col("x2").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    m = z.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("s1"),
        F.sum("x2").cast("bigint").alias("s2"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(x1d * F.col("x1")).alias("s11"),
        F.sum(x1d * F.col("x2")).alias("s12"),
        F.sum(x2d * F.col("x2")).alias("s22"),
        F.sum(x1d * F.col("y")).alias("s1y"),
        F.sum(x2d * F.col("y")).alias("s2y"),
        F.sum(yd * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")

    def cc(sab, sa, sb):
        return n * F.col(sab).cast("double") - F.col(sa).cast(
            "double"
        ) * F.col(sb)

    c11, c12, c22 = cc("s11", "s1", "s1"), cc("s12", "s1", "s2"), cc(
        "s22", "s2", "s2"
    )
    c1y, c2y, cyy = cc("s1y", "s1", "sy"), cc("s2y", "s2", "sy"), cc(
        "syy", "sy", "sy"
    )
    det = c11 * c22 - c12 * c12
    b = (c22 * c1y - c12 * c2y) / det
    w = (c11 * c2y - c12 * c1y) / det
    rss = (cyy - (b * c1y + w * c2y)) / n
    return m.select(
        F.col("n").alias("n_days"),
        (F.round(b, 9) + 0.0).alias("trend_slope_cents"),
        (F.round(w / 100.0, 4) + 0.0).alias("weekend_lift_dollars"),
        (
            F.round(
                w
                / F.sqrt(rss / (n - 3) * c11 * n / det),
                6,
            )
            + 0.0
        ).alias("weekend_t_stat"),
        F.round(1.0 - rss / (cyy / n), 6).alias("r_squared"),
    )


# --------------------------------------------------------------------------
# X294: Hodges-Lehmann shift estimate (bucketed)
# --------------------------------------------------------------------------
@register(
    "hodges_lehmann_shift",
    oracle="""
    WITH pts AS (
        SELECT CASE WHEN (CAST(epoch_us(ts) // 86400000000 AS BIGINT)
                          + 4) % 7 IN (0, 6) THEN 1 ELSE 0 END AS g,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                   // 100 AS b
        FROM events
    ),
    g1 AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM pts
           WHERE g = 1 GROUP BY b),
    g0 AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM pts
           WHERE g = 0 GROUP BY b),
    diffs AS (
        SELECT a.b - z.b AS dd,
               CAST(SUM(CAST(a.c AS DECIMAL(38,0)) * z.c)
                    AS DECIMAL(38,0)) AS w
        FROM g1 a, g0 z
        GROUP BY a.b - z.b
    ),
    tot AS (SELECT CAST(SUM(w) AS DECIMAL(38,0)) AS n FROM diffs),
    cum AS (
        SELECT a.dd,
               CAST(SUM(b.w) AS DECIMAL(38,0)) AS cw
        FROM diffs a JOIN diffs b ON b.dd <= a.dd
        GROUP BY a.dd
    ),
    med AS (
        SELECT CAST(MIN(dd) AS BIGINT) AS hl
        FROM cum, tot WHERE 2 * cw >= n
    ),
    mean_ AS (
        SELECT CAST(round(SUM(CAST(dd AS DECIMAL(38,0)) * w)
                          / (SELECT n FROM tot), 6) AS DOUBLE) AS md
        FROM diffs
    )
    SELECT CAST(t.n AS BIGINT) AS n_pairs,
           m.hl AS hl_shift_dollars,
           round(e.md, 4) + 0.0 AS mean_diff_dollars
    FROM tot t, med m, mean_ e
    """,
)
def hodges_lehmann_shift(spark, sf_dir):
    """Hodges-Lehmann shift between weekend and weekday event values
    (whole-dollar buckets): the MEDIAN of all cross-group pairwise
    differences — the robust "how much more do weekend events run?"
    answer whose breakdown point a mean difference can't touch, and
    the location estimate that inverts `mann_whitney_u_values` (the
    test and this estimator are the same rank machinery; together
    they give test + effect size in original units).

    Exactness: the pair mass per integer difference is an exact
    DECIMAL(38,0) product fold over the bucket-grid cross (the
    cliffs_delta device — n1·n0 pairs counted, never materialized);
    the weighted LOWER median resolves on a triangular join over the
    bounded difference grid (<= 981 rows — window-free); the mean
    difference is an exact scaled-decimal ratio. Plan: two grid
    rollups, one grid cross, one triangular fold.
    """
    e = t(spark, sf_dir, "events")
    pts = e.select(
        F.when(
            (
                (
                    F.floor(F.unix_micros("ts") / 86_400_000_000).cast(
                        "bigint"
                    )
                    + 4
                )
                % 7
            ).isin(0, 6),
            1,
        )
        .otherwise(0)
        .alias("g"),
        F.expr(
            "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) div 100"
        ).alias("b"),
    )
    g1 = (
        pts.where(F.col("g") == 1)
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    g0 = (
        pts.where(F.col("g") == 0)
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    a, z = g1.alias("ga"), g0.alias("gz")
    diffs = (
        a.crossJoin(F.broadcast(z))
        .groupBy((F.col("ga.b") - F.col("gz.b")).alias("dd"))
        .agg(
            F.sum(
                F.col("ga.c").cast("decimal(38,0)") * F.col("gz.c")
            ).alias("w")
        )
        .persist()
    )
    tot = diffs.agg(F.sum("w").alias("n"))
    d2 = diffs.select(F.col("dd").alias("dd2"), F.col("w").alias("w2"))
    cum = (
        diffs.join(F.broadcast(d2), F.col("dd2") <= F.col("dd"))
        .groupBy("dd")
        .agg(F.sum("w2").alias("cw"))
    )
    med = (
        cum.crossJoin(F.broadcast(tot))
        .where(2 * F.col("cw") >= F.col("n"))
        .agg(F.min("dd").cast("bigint").alias("hl"))
    )
    mean_ = diffs.crossJoin(F.broadcast(tot)).agg(
        F.round(
            F.sum(F.col("dd").cast("decimal(38,0)") * F.col("w"))
            / F.max("n"),
            6,
        )
        .cast("double")
        .alias("md")
    )
    return (
        tot.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mean_))
        .select(
            F.col("n").cast("bigint").alias("n_pairs"),
            F.col("hl").alias("hl_shift_dollars"),
            (F.round(F.col("md"), 4) + 0.0).alias("mean_diff_dollars"),
        )
    )


# --------------------------------------------------------------------------
# X295: Theil's U2 — seasonal model vs naive benchmark
# --------------------------------------------------------------------------
@register(
    "theil_u2_forecast_skill",
    oracle=f"""
    WITH daily AS ({_DAILY_ORDERS_SQL}),
    dowm AS (
        SELECT (d + 4) % 7 AS dow,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(COUNT(*) AS BIGINT) AS nd
        FROM daily GROUP BY 1
    ),
    pairs AS (
        SELECT b.y AS y, a.y AS yprev,
               CAST(m.sy AS DOUBLE) / m.nd AS f
        FROM daily a
        JOIN daily b ON b.d = a.d + 1
        JOIN dowm m ON (b.d + 4) % 7 = m.dow
    ),
    folds AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(round(SUM(CAST(round((f - y) * (f - y), 2)
                    AS DECIMAL(38,2))), 2) AS DOUBLE) AS sse_model,
               CAST(SUM(CAST(y - yprev AS DECIMAL(38,0))
                        * (y - yprev)) AS DOUBLE) AS sse_naive
        FROM pairs
    )
    SELECT n AS n_days,
           round(sqrt(sse_model / sse_naive), 6) AS theil_u2,
           round(sqrt(sse_model / n) / 100.0, 4) AS rmse_model_dollars,
           round(sqrt(sse_naive / n) / 100.0, 4) AS rmse_naive_dollars
    FROM folds
    """,
)
def theil_u2_forecast_skill(spark, sf_dir):
    """Theil's U2 forecast-skill ratio for the day-of-week seasonal
    model against the no-change naive benchmark: U2 =
    √(Σ(f−y)² / Σ(y_t−y_{t−1})²). U2 < 1 means the seasonal means
    genuinely beat "predict yesterday" — the GO/NO-GO gate every
    fancier model must pass before shipping (`seasonal_naive_mase`
    benchmarks against seasonal-naive; U2 is the harder-nosed
    benchmark against pure persistence, and the pair brackets the
    model). RMSEs of both in dollars for the absolute read.

    Exactness: the naive SSE is pure integer arithmetic through
    DECIMAL(38,0); the model SSE folds 1e-2-rounded IEEE terms (the
    DOW-mean forecast is a per-row double from exact integer sums)
    in fixed-scale DECIMAL; the skill ratio is one expression. Plan:
    one rollup, a 7-row broadcast, one bounded self-join, one fold.
    """
    daily = _daily_orders(spark, sf_dir)
    dowm = daily.groupBy(((F.col("d") + 4) % 7).alias("dow")).agg(
        F.sum("y").cast("bigint").alias("sy"),
        F.count(F.lit(1)).cast("bigint").alias("nd"),
    )
    a, b_ = daily.alias("a"), daily.alias("b")
    pairs = (
        a.join(b_, F.col("b.d") == F.col("a.d") + 1)
        .join(
            F.broadcast(dowm),
            ((F.col("b.d") + 4) % 7) == F.col("dow"),
        )
        .select(
            F.col("b.y").alias("y"),
            F.col("a.y").alias("yprev"),
            (F.col("sy").cast("double") / F.col("nd")).alias("f"),
        )
    )
    folds = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum(
                F.round(
                    (F.col("f") - F.col("y")) * (F.col("f") - F.col("y")),
                    2,
                ).cast("decimal(38,2)")
            ),
            2,
        )
        .cast("double")
        .alias("sse_model"),
        F.sum(
            (F.col("y") - F.col("yprev")).cast("decimal(38,0)")
            * (F.col("y") - F.col("yprev"))
        )
        .cast("double")
        .alias("sse_naive"),
    )
    return folds.select(
        F.col("n").alias("n_days"),
        F.round(
            F.sqrt(F.col("sse_model") / F.col("sse_naive")), 6
        ).alias("theil_u2"),
        F.round(
            F.sqrt(F.col("sse_model") / F.col("n")) / 100.0, 4
        ).alias("rmse_model_dollars"),
        F.round(
            F.sqrt(F.col("sse_naive") / F.col("n")) / 100.0, 4
        ).alias("rmse_naive_dollars"),
    )


R10_QUERIES = (
    "dickey_fuller_unit_root",
    "kpss_level_stationarity",
    "breusch_pagan_koenker",
    "granger_causality_lag1",
    "arch_effect_mcleod_li",
    "spectral_entropy_daily",
    "turning_points_randomness",
    "sign_test_paired",
    "moods_median_test",
    "cliffs_delta_bucketed",
    "cohens_d_panel",
    "mcc_confusion_panel",
    "youden_j_threshold_scan",
    "brier_murphy_decomposition",
    "ansari_bradley_scale",
    "mrr_reciprocal_rank",
    "rank_biased_overlap_parts",
    "customer_inequality_panel",
    "fisher_price_index_monthly",
    "abc_xyz_inventory_grid",
    "interpurchase_gap_profile",
    "power_user_curve",
    "monthly_growth_yoy_panel",
    "yule_k_lexical_richness",
    "bigram_entropy_rate",
    "ngram_novelty_rate",
    "pmi_collocations_topk",
    "lsh_band_tuning_curve",
    "jl_projection_distortion",
    "copurchase_degree_assortativity",
    "copurchase_linkpred_scores",
    "lin_ccc_naive_forecast",
    "mantel_haenszel_weekday_strata",
    "page_trend_test",
    "weighted_kappa_agreement",
    "somers_d_gamma_panel",
    "sprt_purchase_rate_monitor",
    "vif_collinearity_audit",
    "retention_powerlaw_fit",
    "seasonal_esd_outliers",
    "naive_forecast_coverage_backtest",
    "component_overmerge_audit",
    "weekend_effect_ols",
    "hodges_lehmann_shift",
    "theil_u2_forecast_skill",
)
