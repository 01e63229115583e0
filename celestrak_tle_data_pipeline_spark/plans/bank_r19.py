"""Round-19 pre-staged bank (candidate X690+): STAGED, not in the live
registry — the generation behind ``bank_r18`` (round 18's flip), under
the identical no-new-debt discipline: stage-only decorator, two-SF gate
mirror in ``tests/test_bank_r19.py``, sf0.1 sweeps via
``tools/check.py --module bank_r19``, the dtype-family sweep
(``tests/test_oracle_dtypes.py`` auto-discovers bank_r13..r20),
plan-audit notes pre-adjudicated at authoring time, and the HARD
authoring-time 64x probe gate (``SCALING_PROBES.json`` +
``tests/test_flip_readiness.py`` — every batch probes in the session it
is authored, no exceptions since round 14).

At the round-18 flip the seed query here (``updown_runs_test``, X690)
was promoted into bank_r18's 50th window slot (the mean_excess_slope /
fisher_stouffer_combined precedent); its daily revenue frame is
``common.py``'s ``DAILY_ORDER_CENTS_SQL``/``daily_order_cents``, so the
move carried no shared frame. The bank is restored to 49 in the same round
under the full authoring gate.

Theme: SECOND OPINIONS — alternative-form tests for questions the
registry already answers once, because two estimators agreeing is the
actual certificate. COMPLETE at 49 (round 14): the randomness/series
seeds (monotone runs, rank ACF, TOST means, Chao-Shen entropy, CvM
lognormal, Brown-Mood, robust dispersion, DeLong, MMD, bimodality,
Watson U^2, Benford first-two, GEV L-moments, Theil U1, Gini
jackknife, Lexis), the CI/equivalence batch (Anderson-Hauck vs TOST,
Fieller vs delta, Agresti-Caffo vs Newcombe, WH-chi2-vs-ADF variance
pair, Quesenberry-Miller vs Greenwood), the series batch (Engle
ARCH-LM vs McLeod-Li, Monti vs Ljung-Box, ApEn vs SampEn,
Hjorth/Petrosian vs the spectral panel, Theta MASE vs naive), the
econ/ops batch (Sato-Vartia/Walsh vs Fisher, Bennet vs LMDI, Kitagawa
vs Oaxaca, concentration ratios vs HHI, Erlang B vs C, EOQ vs
newsvendor), the inference batch (Bhapkar vs Stuart-Maxwell, Woolf vs
Breslow-Day, two-way vs one-way ICC, Anderson-Rubin vs Wald IV,
post-stratification vs CUPED, IDI vs NRI), and the text/GoF closers
(Herdan/Guiraud constants, CSN power-law MLE, Benford sum-invariance,
Whipple heaping, Gini cograduation, Savage scores, AD + energy
lognormal GoF, Prais-Winsten vs CO, sBG churn, Cpm/Ppk).

Determinism disciplines inherited unchanged (bank_r11..r18
docstrings): exact integer/DECIMAL folds, round-before-fold with the
DECADE-ESCALATION rule for libm pins (ln/exp pin one decade coarser
than the readout; r14's watts/VI lesson), ``+ 0.0`` on possibly-
negative-zero outputs, total-order tiebreaks, bounded-domain windows
or ``exact_cumulative``, the shared Abramowitz-Stegun erfc tree, explicit
``floor()`` before double->integer buckets.

Cohort naming (ADVICE r14): the binary day split used across these
banks, ``(epoch_day + 4) % 7 >= 5``, selects FRIDAY+SATURDAY under the
Sun=0..Sat=6 mapping — it is named ``fri_sat`` (complement
``sun_thu``) here. The LIVE r12-r15 banks keep their officially
recorded 'weekend' naming for the same split; bank_r11's weekend
queries use the true Sat/Sun ``isin(0, 6)`` split. 'weekday' in
per-day-of-week panels means the 7-value day-of-week domain.
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from .common import (
    DAILY_ORDER_CENTS_SQL,
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
    """Stage-only decorator (see bank_r13..r18): records the query in
    the bank dicts and does NOT touch the live registry."""

    def deco(fn):
        BANK_QUERIES[name] = fn
        if oracle is not None:
            BANK_ORACLES[name] = oracle
        return fn

    return deco


# --------------------------------------------------------------------------
# Spearman rank autocorrelation of daily revenue at lags 1 and 7
# --------------------------------------------------------------------------
@register(
    "rank_autocorrelation_lag7",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    ranked AS (
        SELECT day,
               CAST(RANK() OVER (ORDER BY y)
                    + COUNT(*) OVER (PARTITION BY y) - 1
                    AS BIGINT) AS r2
        FROM daily
    ),
    pairs AS (
        SELECT r2,
               LAG(r2, 1) OVER (ORDER BY day) AS p1,
               LAG(r2, 7) OVER (ORDER BY day) AS p7
        FROM ranked
    ),
    f1 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(r2) AS BIGINT) AS sa,
               CAST(SUM(p1) AS BIGINT) AS sb,
               CAST(SUM(CAST(r2 AS DECIMAL(38,0)) * r2)
                    AS DECIMAL(38,0)) AS saa,
               CAST(SUM(CAST(p1 AS DECIMAL(38,0)) * p1)
                    AS DECIMAL(38,0)) AS sbb,
               CAST(SUM(CAST(r2 AS DECIMAL(38,0)) * p1)
                    AS DECIMAL(38,0)) AS sab
        FROM pairs WHERE p1 IS NOT NULL
    ),
    f7 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(r2) AS BIGINT) AS sa,
               CAST(SUM(p7) AS BIGINT) AS sb,
               CAST(SUM(CAST(r2 AS DECIMAL(38,0)) * r2)
                    AS DECIMAL(38,0)) AS saa,
               CAST(SUM(CAST(p7 AS DECIMAL(38,0)) * p7)
                    AS DECIMAL(38,0)) AS sbb,
               CAST(SUM(CAST(r2 AS DECIMAL(38,0)) * p7)
                    AS DECIMAL(38,0)) AS sab
        FROM pairs WHERE p7 IS NOT NULL
    )
    SELECT f7.n AS n_pairs_lag7,
           round((CAST(f1.n AS DOUBLE) * CAST(f1.sab AS DOUBLE)
                  - CAST(f1.sa AS DOUBLE) * f1.sb)
                 / sqrt((CAST(f1.n AS DOUBLE) * CAST(f1.saa AS DOUBLE)
                         - CAST(f1.sa AS DOUBLE) * f1.sa)
                        * (CAST(f1.n AS DOUBLE)
                           * CAST(f1.sbb AS DOUBLE)
                           - CAST(f1.sb AS DOUBLE) * f1.sb)), 8)
               + 0.0 AS spearman_rho_lag1,
           round((CAST(f7.n AS DOUBLE) * CAST(f7.sab AS DOUBLE)
                  - CAST(f7.sa AS DOUBLE) * f7.sb)
                 / sqrt((CAST(f7.n AS DOUBLE) * CAST(f7.saa AS DOUBLE)
                         - CAST(f7.sa AS DOUBLE) * f7.sa)
                        * (CAST(f7.n AS DOUBLE)
                           * CAST(f7.sbb AS DOUBLE)
                           - CAST(f7.sb AS DOUBLE) * f7.sb)), 8)
               + 0.0 AS spearman_rho_lag7
    FROM f1, f7
    """,
)
def rank_autocorrelation_lag7(spark, sf_dir):
    """SPEARMAN rank autocorrelation of daily revenue at lags 1 and 7
    — the robust second opinion to the value-scale `acf_ljung_box` /
    `autocorr_lag1_by_user` family: rank autocorrelation survives
    the heavy daily-revenue tail that inflates or deflates Pearson
    ACF, and the lag-7 reading is the distribution-free weekly-
    seasonality certificate (`harmonic_weekly_regression` fits the
    same signal parametrically; disagreement between the two is the
    interesting event).

    Exactness: midranks are exact 2x-scaled integers (RANK +
    tiecount - 1 over the calendar-bounded daily grid); both
    Pearson folds over the rank pairs are exact DECIMAL(38,0);
    division at the end. Plan: one day rollup, one rank window +
    two lags over the calendar frame, two folds."""
    daily = daily_order_cents(spark, sf_dir)
    ranked = daily.select(
        "day",
        (
            F.rank().over(Window.orderBy("y"))
            + F.count(F.lit(1)).over(Window.partitionBy("y"))
            - 1
        )
        .cast("bigint")
        .alias("r2"),
    )
    lagw = Window.orderBy("day")
    pairs = ranked.select(
        "r2",
        F.lag("r2", 1).over(lagw).alias("p1"),
        F.lag("r2", 7).over(lagw).alias("p7"),
    ).persist()
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731

    def fold(col):
        return pairs.where(F.col(col).isNotNull()).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("r2").cast("bigint").alias("sa"),
            F.sum(col).cast("bigint").alias("sb"),
            F.sum(d38("r2") * F.col("r2"))
            .cast("decimal(38,0)")
            .alias("saa"),
            F.sum(d38(col) * F.col(col))
            .cast("decimal(38,0)")
            .alias("sbb"),
            F.sum(d38("r2") * F.col(col))
            .cast("decimal(38,0)")
            .alias("sab"),
        )

    def rho():
        nn = F.col("n").cast("double")
        num = nn * F.col("sab").cast("double") - F.col("sa").cast(
            "double"
        ) * F.col("sb")
        den = F.sqrt(
            (
                nn * F.col("saa").cast("double")
                - F.col("sa").cast("double") * F.col("sa")
            )
            * (
                nn * F.col("sbb").cast("double")
                - F.col("sb").cast("double") * F.col("sb")
            )
        )
        return F.round(num / den, 8) + 0.0

    f1 = fold("p1").select(rho().alias("spearman_rho_lag1"))
    f7 = fold("p7").select(
        F.col("n").alias("n_pairs_lag7"),
        rho().alias("spearman_rho_lag7"),
    )
    return f7.crossJoin(F.broadcast(f1)).select(
        "n_pairs_lag7", "spearman_rho_lag1", "spearman_rho_lag7"
    )


# --------------------------------------------------------------------------
# TOST equivalence test for Fri/Sat vs Sun-Thu mean order value
# --------------------------------------------------------------------------
@register(
    "tost_equivalence_means",
    oracle="""
    WITH pts AS (
        SELECT CASE WHEN CAST(epoch_us(o_orderdate) // 86400000000
                         + 4 AS BIGINT) % 7 >= 5
                    THEN 1 ELSE 0 END AS g,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    arm AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s,
               CAST(SUM(CAST(v AS DECIMAL(38,0)) * v)
                    AS DECIMAL(38,0)) AS ss
        FROM pts GROUP BY g
    ),
    w AS (
        SELECT MAX(CASE WHEN g = 1 THEN n END) AS n1,
               MAX(CASE WHEN g = 1 THEN s END) AS s1,
               MAX(CASE WHEN g = 1 THEN ss END) AS ss1,
               MAX(CASE WHEN g = 0 THEN n END) AS n0,
               MAX(CASE WHEN g = 0 THEN s END) AS s0,
               MAX(CASE WHEN g = 0 THEN ss END) AS ss0
        FROM arm
    ),
    stat AS (
        SELECT n1, n0,
               (CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
                   / 100000.0 AS d,
               0.01 * (CAST(s1 AS DOUBLE) + s0) / (n1 + n0)
                   / 100000.0 AS margin,
               sqrt(((CAST(ss1 AS DOUBLE)
                      - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)
                     / n1
                     + (CAST(ss0 AS DOUBLE)
                        - CAST(s0 AS DOUBLE) * s0 / n0) / (n0 - 1)
                       / n0)) / 100000.0 AS se
        FROM w
    )
    SELECT n1 AS n_fri_sat, n0 AS n_sun_thu,
           round(d, 6) + 0.0 AS mean_diff_kusd,
           round(margin, 6) + 0.0 AS margin_kusd,
           round(se, 6) + 0.0 AS se_welch_kusd,
           round((d + margin) / se, 6) + 0.0 AS tost_t_lower,
           round((d - margin) / se, 6) + 0.0 AS tost_t_upper,
           CAST(CASE WHEN (d + margin) / se >= 1.6448536269514722
                      AND (d - margin) / se <= -1.6448536269514722
                     THEN 1 ELSE 0 END AS INT)
               AS equivalent_at_5pct
    FROM stat
    """,
)
def tost_equivalence_means(spark, sf_dir):
    """TOST (two one-sided tests) EQUIVALENCE of Fri/Sat vs Sun-Thu
    MEAN order value with a +/-1%-of-pooled-mean margin: both
    one-sided Welch statistics must clear z_0.95 for the means to be
    declared equivalent — the means-scale second opinion to
    `tost_equivalence_proportions`, and the only way to POSITIVELY
    certify "no Fri/Sat effect" (a non-significant
    `weekend_effect_ols` t is absence of evidence; TOST is evidence
    of absence, the call a seasonality-aware pipeline actually
    needs before pooling Sun-Thu and Fri/Sat data).

    Exactness: per-arm counts and power sums are exact DECIMAL(38,0)
    integers; the margin is an exact 1% of the pooled mean; z
    critical value is a shared literal. Large-n normal reference
    documented (n in the thousands at every SF). Plan: one arm
    rollup, two scalar folds — no window."""
    o = t(spark, sf_dir, "orders")
    day = F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
    pts = o.select(
        F.when((day + 4) % 7 >= 5, 1).otherwise(0).alias("g"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v"),
    )
    arm = pts.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    w = arm.agg(
        F.max(F.when(F.col("g") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("g") == 1, F.col("s"))).alias("s1"),
        F.max(F.when(F.col("g") == 1, F.col("ss"))).alias("ss1"),
        F.max(F.when(F.col("g") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("g") == 0, F.col("s"))).alias("s0"),
        F.max(F.when(F.col("g") == 0, F.col("ss"))).alias("ss0"),
    )
    d = (
        F.col("s1").cast("double") / F.col("n1")
        - F.col("s0").cast("double") / F.col("n0")
    ) / 100000.0
    margin = (
        0.01
        * (F.col("s1").cast("double") + F.col("s0"))
        / (F.col("n1") + F.col("n0"))
        / 100000.0
    )
    se = (
        F.sqrt(
            (
                F.col("ss1").cast("double")
                - F.col("s1").cast("double") * F.col("s1") / F.col("n1")
            )
            / (F.col("n1") - 1)
            / F.col("n1")
            + (
                F.col("ss0").cast("double")
                - F.col("s0").cast("double") * F.col("s0") / F.col("n0")
            )
            / (F.col("n0") - 1)
            / F.col("n0")
        )
        / 100000.0
    )
    zc = 1.6448536269514722
    return w.select(
        F.col("n1").alias("n_fri_sat"),
        F.col("n0").alias("n_sun_thu"),
        (F.round(d, 6) + 0.0).alias("mean_diff_kusd"),
        (F.round(margin, 6) + 0.0).alias("margin_kusd"),
        (F.round(se, 6) + 0.0).alias("se_welch_kusd"),
        (F.round((d + margin) / se, 6) + 0.0).alias("tost_t_lower"),
        (F.round((d - margin) / se, 6) + 0.0).alias("tost_t_upper"),
        F.when(
            ((d + margin) / se >= zc) & ((d - margin) / se <= -zc), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("equivalent_at_5pct"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "rank_autocorrelation_lag7": (
            "rank window + two lags over the calendar-day frame "
            "(the spearman_footrule class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Coverage-corrected vocabulary entropy (plug-in / Miller-Madow / Chao-Shen)
# --------------------------------------------------------------------------
@register(
    "chao_shen_entropy",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    freq AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM toks GROUP BY w
    ),
    fof AS (
        SELECT f, CAST(COUNT(*) AS BIGINT) AS m FROM freq GROUP BY f
    ),
    tot AS (
        SELECT CAST(SUM(CAST(f AS DECIMAL(38,0)) * m) AS BIGINT)
                   AS n,
               CAST(SUM(m) AS BIGINT) AS v,
               CAST(SUM(CASE WHEN f = 1 THEN m ELSE 0 END)
                    AS BIGINT) AS f1
        FROM fof
    ),
    terms AS (
        SELECT tot.n, tot.v, tot.f1,
               CAST(SUM(CAST(round(CAST(fof.m AS DOUBLE) * fof.f
                   * round(ln(CAST(fof.f AS DOUBLE)), 8), 6)
                   AS DECIMAL(38,6))) AS DOUBLE) AS s_flnf,
               CAST(SUM(CAST(round(-fof.m
                   * ((1.0 - CAST(tot.f1 AS DOUBLE) / tot.n)
                      * fof.f / tot.n)
                   * round(ln((1.0 - CAST(tot.f1 AS DOUBLE) / tot.n)
                              * fof.f / tot.n), 8)
                   / (1.0 - round(exp(-(1.0 - CAST(tot.f1 AS DOUBLE)
                                        / tot.n) * fof.f), 8)), 12)
                   AS DECIMAL(38,12))) AS DOUBLE) AS h_cs
        FROM fof, tot GROUP BY tot.n, tot.v, tot.f1
    )
    SELECT n AS n_tokens, v AS n_types, f1 AS n_hapax,
           round(1.0 - CAST(f1 AS DOUBLE) / n, 8) + 0.0
               AS good_turing_coverage,
           round(round(ln(CAST(n AS DOUBLE)), 8) - s_flnf / n, 5)
               + 0.0 AS h_plugin_nats,
           round(round(ln(CAST(n AS DOUBLE)), 8) - s_flnf / n
                 + (v - 1.0) / (2.0 * n), 5) + 0.0
               AS h_miller_madow_nats,
           round(h_cs, 5) + 0.0 AS h_chao_shen_nats
    FROM terms
    """,
)
def chao_shen_entropy(spark, sf_dir):
    """COVERAGE-CORRECTED vocabulary entropy: plug-in, Miller-Madow
    (+ (V-1)/2n bias term) and CHAO-SHEN (Good-Turing-coverage-
    adjusted probabilities with Horvitz-Thompson inclusion
    weighting, the standard estimator when many types are UNSEEN)
    — the second opinion the plug-in `text_language_profile` /
    `bigram_entropy_rate` entropies need on long-tailed vocabulary:
    plug-in underestimates H by ~V/2n, and the Chao-Shen-vs-plug-in
    gap SIZES the unseen mass without ever enumerating it
    (`good_turing_vocab` / `chao1_vocabulary_estimate` size the
    unseen TYPES; this sizes their entropy).

    Device + exactness: everything folds on the frequency-of-
    frequencies grid (bounded by max token count, never type-grain
    at the fold); the inclusion probability 1-(1-p)^n uses its
    n->inf form 1-e^(-C*f) (documented choice: the exact power
    cancels catastrophically in ln space at data scale); ln pins at
    8 dp, term folds at 6/12 dp, readouts at 5 dp (the decade
    rule). Plan: one explode + two rollups, one fold."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("w"))
    freq = toks.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    )
    fof = freq.groupBy("f").agg(
        F.count(F.lit(1)).cast("bigint").alias("m")
    )
    tot = fof.agg(
        F.sum(F.col("f").cast("decimal(38,0)") * F.col("m"))
        .cast("bigint")
        .alias("n"),
        F.sum("m").cast("bigint").alias("v"),
        F.sum(F.when(F.col("f") == 1, F.col("m")).otherwise(0))
        .cast("bigint")
        .alias("f1"),
    )
    cov = 1.0 - F.col("f1").cast("double") / F.col("n")
    ptil = cov * F.col("f") / F.col("n")
    terms = (
        fof.crossJoin(F.broadcast(tot))
        .groupBy("n", "v", "f1")
        .agg(
            F.sum(
                F.round(
                    F.col("m").cast("double")
                    * F.col("f")
                    * F.round(F.log(F.col("f").cast("double")), 8),
                    6,
                ).cast("decimal(38,6)")
            )
            .cast("double")
            .alias("s_flnf"),
            F.sum(
                F.round(
                    -F.col("m")
                    * ptil
                    * F.round(F.log(ptil), 8)
                    / (
                        1.0
                        - F.round(F.exp(-cov * F.col("f")), 8)
                    ),
                    12,
                ).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("h_cs"),
        )
    )
    lnn = F.round(F.log(F.col("n").cast("double")), 8)
    hp = lnn - F.col("s_flnf") / F.col("n")
    return terms.select(
        F.col("n").alias("n_tokens"),
        F.col("v").alias("n_types"),
        F.col("f1").alias("n_hapax"),
        (
            F.round(1.0 - F.col("f1").cast("double") / F.col("n"), 8)
            + 0.0
        ).alias("good_turing_coverage"),
        (F.round(hp, 5) + 0.0).alias("h_plugin_nats"),
        (
            F.round(
                hp + (F.col("v") - 1.0) / (2.0 * F.col("n")), 5
            )
            + 0.0
        ).alias("h_miller_madow_nats"),
        (F.round(F.col("h_cs"), 5) + 0.0).alias("h_chao_shen_nats"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "chao_shen_entropy": (
            "no window — explode + two rollups + one fold on the "
            "bounded frequency-of-frequencies grid"
        ),
    }
)


# --------------------------------------------------------------------------
# Cramer-von Mises goodness of fit against the moment-fitted lognormal
# --------------------------------------------------------------------------
@register(
    "cvm_lognormal_gof",
    oracle=f"""
    WITH pts AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS x
        FROM orders
    ),
    grid AS (
        SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM pts GROUP BY x
    ),
    lmom AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CAST(round(c * round(ln(CAST(v AS DOUBLE)
                   / 100000.0), 8), 6) AS DECIMAL(38,6)))
                   AS DOUBLE) AS sl,
               CAST(SUM(CAST(round(c * round(ln(CAST(v AS DOUBLE)
                   / 100000.0), 8)
                   * round(ln(CAST(v AS DOUBLE) / 100000.0), 8), 6)
                   AS DECIMAL(38,6))) AS DOUBLE) AS sll
        FROM grid
    ),
    fitp AS (
        SELECT n, round(sl / n, 8) AS mu,
               round(sqrt(sll / n - (sl / n) * (sl / n)), 8) AS sig
        FROM lmom
    ),
    cum AS (
        SELECT g.v, g.c, f.n, f.mu, f.sig,
               CAST(COALESCE(SUM(g.c) OVER (ORDER BY g.v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                   PRECEDING), 0) AS BIGINT) AS head
        FROM grid g, fitp f
    ),
    terms AS (
        SELECT MAX(n) AS n,
               CAST(SUM(CAST(round(
                   c * round({phi_sql(
                       "((round(ln(CAST(v AS DOUBLE) / 100000.0), 8)"
                       " - mu) / sig)")}, 10)
                     * round({phi_sql(
                       "((round(ln(CAST(v AS DOUBLE) / 100000.0), 8)"
                       " - mu) / sig)")}, 10)
                   - round({phi_sql(
                       "((round(ln(CAST(v AS DOUBLE) / 100000.0), 8)"
                       " - mu) / sig)")}, 10)
                     * c * (2.0 * head + c) / n
                   + (4.0 * ((CAST(head AS DECIMAL(38,0)) + c)
                             * (head + c) * (2 * head + 2 * c + 1)
                             / 6
                             - CAST(head AS DECIMAL(38,0)) * head
                               * (2 * head + 1) / 6)
                      - 4.0 * (CAST(c AS DECIMAL(38,0)) * head
                               + CAST(c AS DECIMAL(38,0)) * (c + 1)
                                 / 2)
                      + c)
                     / (4.0 * CAST(n AS DOUBLE) * n), 10)
                   AS DECIMAL(38,10))) AS DOUBLE) AS s
        FROM cum GROUP BY n
    )
    SELECT n AS n_orders,
           round(1.0 / (12.0 * n) + s, 6) + 0.0 AS cvm_w2,
           round((1.0 / (12.0 * n) + s)
                 * (1.0 + 0.5 / n), 6) + 0.0 AS cvm_w2_adjusted,
           CAST(CASE WHEN (1.0 / (12.0 * n) + s)
                          * (1.0 + 0.5 / n) > 0.461
                     THEN 1 ELSE 0 END AS INT)
               AS reject_lognormal_5pct
    FROM terms
    """,
)
def cvm_lognormal_gof(spark, sf_dir):
    """CRAMER-VON MISES goodness of fit of order values against the
    moment-fitted lognormal: W^2 = 1/(12n) + sum_i (F(x_(i)) -
    (2i-1)/(2n))^2 with F = Phi((ln x - mu)/sigma) — the
    QUADRATIC-distance second opinion to `dkw_band_lognormal_check`
    (a sup-norm band: CvM integrates squared discrepancy over the
    WHOLE distribution, so it sees broad low-amplitude misfit the
    band's single widest point misses) and to `lilliefors_normal_
    fit` (which tests normality of raw values, not lognormality).

    Device: the unit-grain sum collapses onto the value grid — for
    a tie group at head h of size c, sum(2i-1) = c(2h+c) and
    sum(2i-1)^2 = 4*(S2(h+c)-S2(h)) - 4*S1 + c via exact integer
    square-pyramidal partial sums in DECIMAL(38,0), so W^2 needs no
    per-unit rank. F pins at 10 dp (erfc tree, shared literals);
    ln pins at 8; the 5% decision uses the standard adjusted
    critical value 0.461. Plan: one value rollup, one
    domain-bounded grid cumulative, two folds.

    r19 grain triage: the cents grid is near-unique per order on the
    real SF ladder (14,999 -> 149,743 rows sf0.01 -> sf0.1, measured
    through the single-partition exchange), so the global
    Window.orderBy(v) head single-tasked a data-grain frame. It now
    rides ``exact_cumulative`` (in-bucket window + broadcast bucket
    offsets — the dkw_band_lognormal_check twin); head values are
    bit-identical exact integers. The single-consumer persist is
    dropped with the rewrite (every branch now shares the one grid
    subtree)."""
    o = t(spark, sf_dir, "orders")
    grid = (
        o.select(
            (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v")
        )
        .where(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    lnv = F.round(F.log(F.col("v").cast("double") / 100000.0), 8)
    lmom = grid.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.round(F.col("c") * lnv, 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sl"),
        F.sum(
            F.round(F.col("c") * lnv * lnv, 6).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("sll"),
    )
    fitp = lmom.select(
        "n",
        F.round(F.col("sl") / F.col("n"), 8).alias("mu"),
        F.round(
            F.sqrt(
                F.col("sll") / F.col("n")
                - (F.col("sl") / F.col("n"))
                * (F.col("sl") / F.col("n"))
            ),
            8,
        ).alias("sig"),
    )
    acc, _ = exact_cumulative(grid, ("v",), {"pn": F.sum("c")})
    cum = (
        acc
        .crossJoin(F.broadcast(fitp))
        .select(
            "v",
            "c",
            "n",
            "mu",
            "sig",
            (F.col("cum_pn") - F.col("c"))
            .cast("bigint")
            .alias("head"),
        )
    )
    ff = F.round(phi_col((lnv - F.col("mu")) / F.col("sig")), 10)
    h38 = F.col("head").cast("decimal(38,0)")
    c38 = F.col("c").cast("decimal(38,0)")
    s2hi = (
        (h38 + F.col("c"))
        * (F.col("head") + F.col("c"))
        * (2 * F.col("head") + 2 * F.col("c") + 1)
        / 6
    )
    s2lo = h38 * F.col("head") * (2 * F.col("head") + 1) / 6
    s1 = c38 * F.col("head") + c38 * (F.col("c") + 1) / 2
    odd2 = 4.0 * (s2hi - s2lo) - 4.0 * s1 + F.col("c")
    term = F.round(
        F.col("c") * ff * ff
        - ff * F.col("c") * (2.0 * F.col("head") + F.col("c")) / F.col("n")
        + odd2 / (4.0 * F.col("n").cast("double") * F.col("n")),
        10,
    ).cast("decimal(38,10)")
    terms = cum.groupBy("n").agg(
        F.sum(term).cast("double").alias("s")
    )
    w2 = 1.0 / (12.0 * F.col("n")) + F.col("s")
    w2a = w2 * (1.0 + 0.5 / F.col("n"))
    return terms.select(
        F.col("n").alias("n_orders"),
        (F.round(w2, 6) + 0.0).alias("cvm_w2"),
        (F.round(w2a, 6) + 0.0).alias("cvm_w2_adjusted"),
        F.when(w2a > 0.461, 1)
        .otherwise(0)
        .cast("int")
        .alias("reject_lognormal_5pct"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "cvm_lognormal_gof": (
            "INFO: no single-partition window since the r19 grain "
            "triage — the data-grain cents-grid cumulative rides "
            "exact_cumulative (in-bucket window + broadcast bucket "
            "offsets); note kept for the history, excluded from "
            "the effective allowlist"
        ),
    }
)


# --------------------------------------------------------------------------
# Brown-Mood median line for the daily revenue trend
# --------------------------------------------------------------------------
@register(
    "brown_mood_median_line",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    lab AS (
        SELECT day, y,
               CASE WHEN day <= (SELECT (MIN(day) + MAX(day)) // 2
                                 FROM daily)
                    THEN 1 ELSE 2 END AS half
        FROM daily
    ),
    med AS (
        SELECT half,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(quantile_disc(day, 0.5) AS BIGINT) AS mx,
               CAST(quantile_disc(y, 0.5) AS BIGINT) AS my
        FROM lab GROUP BY half
    ),
    w AS (
        SELECT MAX(CASE WHEN half = 1 THEN n END) AS n1,
               MAX(CASE WHEN half = 1 THEN mx END) AS x1,
               MAX(CASE WHEN half = 1 THEN my END) AS y1,
               MAX(CASE WHEN half = 2 THEN n END) AS n2,
               MAX(CASE WHEN half = 2 THEN mx END) AS x2,
               MAX(CASE WHEN half = 2 THEN my END) AS y2
        FROM med
    ),
    resid AS (
        SELECT l.half,
               CAST(SUM(CASE WHEN l.y - w.y1
                                  - CAST(w.y2 - w.y1 AS DOUBLE)
                                    / (w.x2 - w.x1)
                                    * (l.day - w.x1) > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS above,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lab l, w GROUP BY l.half
    )
    SELECT w.n1 + w.n2 AS n_days,
           round(CAST(w.y2 - w.y1 AS DOUBLE) / (w.x2 - w.x1)
                 / 1000.0, 8) + 0.0 AS bm_slope_usd_per_day,
           round((w.y1 - CAST(w.y2 - w.y1 AS DOUBLE)
                         / (w.x2 - w.x1) * w.x1) / 100000.0, 4)
               + 0.0 AS bm_intercept_kusd,
           (SELECT round(CAST(above AS DOUBLE) / n, 6) + 0.0
            FROM resid WHERE half = 1) AS frac_above_h1,
           (SELECT round(CAST(above AS DOUBLE) / n, 6) + 0.0
            FROM resid WHERE half = 2) AS frac_above_h2
    FROM w
    """,
)
def brown_mood_median_line(spark, sf_dir):
    """BROWN-MOOD median line for the daily revenue trend: split the
    calendar at its midpoint, join the two half-sample (median day,
    median revenue) points — a line whose slope is immune to ANY
    fraction of revenue-spike outliers short of half a half-sample,
    the blunt-instrument second opinion to the OLS trend
    (`weekend_effect_ols` family) and `sen_slope_confidence_band`
    (pairwise-median): three trend estimators agreeing is the trend
    certificate. The per-half fractions of days above the line
    double as the Brown-Mood fit check (both should be ~1/2).

    Exactness: half medians are exact discrete order statistics
    (quantile_disc / the lower-median convention both engines
    share); the line and residual signs evaluate in doubles from
    exact integers. Plan: one day rollup, two half folds, one
    broadcast residual count."""
    daily = daily_order_cents(spark, sf_dir)
    cut = daily.agg(
        F.floor((F.min("day") + F.max("day")) / 2)
        .cast("bigint")
        .alias("cut")
    )
    lab = daily.crossJoin(F.broadcast(cut)).select(
        "day",
        "y",
        F.when(F.col("day") <= F.col("cut"), 1).otherwise(2).alias(
            "half"
        ),
    ).persist()
    med = lab.groupBy("half").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY day)")
        .cast("bigint")
        .alias("mx"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY y)")
        .cast("bigint")
        .alias("my"),
    )
    w = med.agg(
        F.max(F.when(F.col("half") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("half") == 1, F.col("mx"))).alias("x1"),
        F.max(F.when(F.col("half") == 1, F.col("my"))).alias("y1"),
        F.max(F.when(F.col("half") == 2, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("half") == 2, F.col("mx"))).alias("x2"),
        F.max(F.when(F.col("half") == 2, F.col("my"))).alias("y2"),
    )
    slope = (F.col("y2") - F.col("y1")).cast("double") / (
        F.col("x2") - F.col("x1")
    )
    resid = (
        lab.crossJoin(F.broadcast(w))
        .groupBy("half")
        .agg(
            F.sum(
                F.when(
                    F.col("y")
                    - F.col("y1")
                    - slope * (F.col("day") - F.col("x1"))
                    > 0,
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("above"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    fr = resid.agg(
        F.max(
            F.when(
                F.col("half") == 1,
                F.round(F.col("above").cast("double") / F.col("n"), 6)
                + 0.0,
            )
        ).alias("frac_above_h1"),
        F.max(
            F.when(
                F.col("half") == 2,
                F.round(F.col("above").cast("double") / F.col("n"), 6)
                + 0.0,
            )
        ).alias("frac_above_h2"),
    )
    return w.crossJoin(F.broadcast(fr)).select(
        (F.col("n1") + F.col("n2")).alias("n_days"),
        (F.round(slope / 1000.0, 8) + 0.0).alias(
            "bm_slope_usd_per_day"
        ),
        (
            F.round(
                (F.col("y1") - slope * F.col("x1")) / 100000.0, 4
            )
            + 0.0
        ).alias("bm_intercept_kusd"),
        "frac_above_h1",
        "frac_above_h2",
    )


# --------------------------------------------------------------------------
# Robust dispersion panel: QCD, decile ratio, midspread share
# --------------------------------------------------------------------------
@register(
    "robust_dispersion_panel",
    oracle="""
    WITH pts AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    grid AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(v) AS BIGINT) AS tv
        FROM pts GROUP BY v
    ),
    cum AS (
        SELECT v, c, tv,
               SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                   AS cc,
               SUM(c) OVER () AS n,
               SUM(tv) OVER () AS s
        FROM grid
    ),
    qs AS (
        SELECT (SELECT CAST(MIN(v) AS BIGINT) FROM cum
                WHERE 10 * cc >= n) AS p10,
               (SELECT CAST(MIN(v) AS BIGINT) FROM cum
                WHERE 4 * cc >= n) AS q1,
               (SELECT CAST(MIN(v) AS BIGINT) FROM cum
                WHERE 4 * cc >= 3 * n) AS q3,
               (SELECT CAST(MIN(v) AS BIGINT) FROM cum
                WHERE 10 * cc >= 9 * n) AS p90,
               (SELECT CAST(MAX(n) AS BIGINT) FROM cum) AS n,
               (SELECT CAST(MAX(s) AS BIGINT) FROM cum) AS s
    ),
    mid AS (
        SELECT CAST(SUM(CASE WHEN g.v >= qs.q1 AND g.v <= qs.q3
                             THEN g.tv ELSE 0 END) AS BIGINT)
                   AS mid_v
        FROM grid g, qs
    )
    SELECT qs.n AS n_orders,
           round(CAST(qs.q3 - qs.q1 AS DOUBLE)
                 / (qs.q3 + qs.q1), 8) + 0.0
               AS quartile_coeff_dispersion,
           round(CAST(qs.p90 AS DOUBLE) / qs.p10, 6) + 0.0
               AS decile_ratio_p90_p10,
           round(CAST(mid.mid_v AS DOUBLE) / qs.s, 8) + 0.0
               AS midspread_value_share
    FROM qs, mid
    """,
)
def robust_dispersion_panel(spark, sf_dir):
    """ROBUST DISPERSION panel for order values: the quartile
    coefficient of dispersion (Q3-Q1)/(Q3+Q1), the P90/P10 decile
    ratio, and the share of total VALUE carried by the interquartile
    midspread — the outlier-immune second opinions to the moment CV
    (`feltz_miller_cv_test`) and the robust-scale estimators
    (`qn_scale_estimator`, `rousseeuw_sn_scale` answer "how wide";
    these answer "how wide relative to location", which is what
    cross-SF and cross-period comparisons need).

    Exactness: all four quantiles are exact lower order statistics
    (integer threshold compares); the midspread value share is an
    exact integer-cents ratio. Plan: one value-grid cumulative,
    two scalar folds.

    r19 grain triage: the cents grid is data-grain (14,999 ->
    149,743 rows sf0.01 -> sf0.1 through each of SIX single-partition
    exchanges the two persists hid from the plan audit), so the
    cumulative rides the ``exact_cumulative`` value-bucket device (the
    cvm_lognormal_gof twin), all four order statistics fold into ONE
    conditional aggregate over it (was four filtered passes), tv
    collapses to the exact identity c * v, and both persists are
    dropped — every branch now reads reused exchanges instead of a
    data-grain cache. Values are bit-identical exact integers."""
    o = t(spark, sf_dir, "orders")
    grid = (
        o.select(
            (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v")
        )
        .where(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    acc, _ = exact_cumulative(grid, ("v",), {"pn": F.sum("c")})
    cum = acc.select(
        "v",
        F.col("cum_pn").alias("cc"),
        F.col("tot_pn").alias("n"),
    )

    def orderstat(num, den, out):
        return (
            F.min(
                F.when(
                    den * F.col("cc") >= num * F.col("n"), F.col("v")
                )
            )
            .cast("bigint")
            .alias(out)
        )

    qs = cum.agg(
        orderstat(1, 10, "p10"),
        orderstat(1, 4, "q1"),
        orderstat(3, 4, "q3"),
        orderstat(9, 10, "p90"),
    )
    tv = F.col("c") * F.col("v")
    mid = (
        grid.crossJoin(F.broadcast(qs))
        .agg(
            F.sum(
                F.when(
                    (F.col("v") >= F.col("q1"))
                    & (F.col("v") <= F.col("q3")),
                    tv,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("mid_v"),
            F.sum(tv).cast("bigint").alias("s"),
            F.sum("c").cast("bigint").alias("n"),
        )
    )
    return qs.crossJoin(F.broadcast(mid)).select(
        F.col("n").alias("n_orders"),
        (
            F.round(
                (F.col("q3") - F.col("q1")).cast("double")
                / (F.col("q3") + F.col("q1")),
                8,
            )
            + 0.0
        ).alias("quartile_coeff_dispersion"),
        (
            F.round(F.col("p90").cast("double") / F.col("p10"), 6)
            + 0.0
        ).alias("decile_ratio_p90_p10"),
        (
            F.round(F.col("mid_v").cast("double") / F.col("s"), 8)
            + 0.0
        ).alias("midspread_value_share"),
    )


# --------------------------------------------------------------------------
# DeLong variance for the value->purchase AUC
# --------------------------------------------------------------------------
@register(
    "auc_delong_se",
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
               CAST(COALESCE(SUM(c0) OVER ew, 0) AS BIGINT)
                   AS c0_below,
               CAST(COALESCE(SUM(c1) OVER ew, 0) AS BIGINT)
                   AS c1_below,
               CAST(SUM(c1) OVER () AS BIGINT) AS n1,
               CAST(SUM(c0) OVER () AS BIGINT) AS n0
        FROM grid
        WINDOW ew AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING)
    ),
    afold AS (
        SELECT MAX(n1) AS n1, MAX(n0) AS n0,
               CAST(SUM(CAST(c1 AS DECIMAL(38,0))
                        * (2 * c0_below + c0)) AS DECIMAL(38,0))
                   AS u2
        FROM cum
    ),
    placef AS (
        SELECT a.n1, a.n0,
               CAST(a.u2 AS DOUBLE) / 2 / a.n1 / a.n0 AS auc,
               CAST(SUM(CAST(round(c.c1
                   * ((c.c0_below + c.c0 / 2.0) / a.n0
                      - CAST(a.u2 AS DOUBLE) / 2 / a.n1 / a.n0)
                   * ((c.c0_below + c.c0 / 2.0) / a.n0
                      - CAST(a.u2 AS DOUBLE) / 2 / a.n1 / a.n0), 10)
                   AS DECIMAL(38,10))) AS DOUBLE) AS s10,
               CAST(SUM(CAST(round(c.c0
                   * ((a.n1 - c.c1_below - c.c1 / 2.0) / a.n1
                      - CAST(a.u2 AS DOUBLE) / 2 / a.n1 / a.n0)
                   * ((a.n1 - c.c1_below - c.c1 / 2.0) / a.n1
                      - CAST(a.u2 AS DOUBLE) / 2 / a.n1 / a.n0), 10)
                   AS DECIMAL(38,10))) AS DOUBLE) AS s01
        FROM cum c, afold a
        GROUP BY a.n1, a.n0, a.u2
    )
    SELECT n1 AS n_positive, n0 AS n_negative,
           round(auc, 8) + 0.0 AS auc_midrank,
           round(sqrt(s10 / (n1 - 1.0) / n1
                      + s01 / (n0 - 1.0) / n0), 8) + 0.0
               AS delong_se,
           round(auc - 1.959963984540054
                 * sqrt(s10 / (n1 - 1.0) / n1
                        + s01 / (n0 - 1.0) / n0), 8) + 0.0
               AS ci95_lo,
           round(auc + 1.959963984540054
                 * sqrt(s10 / (n1 - 1.0) / n1
                        + s01 / (n0 - 1.0) / n0), 8) + 0.0
               AS ci95_hi
    FROM placef
    """,
)
def auc_delong_se(spark, sf_dir):
    """DELONG variance for the value->purchase AUC: the structural-
    components estimator — per-positive placements V10 = F0(x) and
    per-negative placements V01 = 1 - F1(y) (midrank convention at
    ties), SE^2 = S10/(n1 m... ) = var(V10)/n1 + var(V01)/n0 — the
    assumption-free second opinion to `auc_hanley_mcneil_ci`'s
    exponential-model SE: when the two intervals disagree, the
    Hanley-McNeil model assumption is the thing that broke, which
    is exactly what a model-comparison gate needs to know before
    trusting either.

    Device: placements collapse onto the value grid — every
    positive at value v has the SAME placement (c0_below +
    c0_tied/2)/n0, so the placement variance folds as c1 * (place
    - AUC)^2 per grid row with no per-event vector; both exclusive
    cumulatives ride one window over the value-cents grid. Terms
    round at 10 dp into DECIMAL(38,10). Plan: one grid rollup, one
    double exclusive cumulative, two folds."""
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
    ew = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = grid.select(
        "c1",
        "c0",
        F.coalesce(F.sum("c0").over(ew), F.lit(0))
        .cast("bigint")
        .alias("c0_below"),
        F.coalesce(F.sum("c1").over(ew), F.lit(0))
        .cast("bigint")
        .alias("c1_below"),
        F.sum("c1").over(Window.partitionBy()).cast("bigint").alias(
            "n1"
        ),
        F.sum("c0").over(Window.partitionBy()).cast("bigint").alias(
            "n0"
        ),
    ).persist()
    afold = cum.agg(
        F.max("n1").alias("n1"),
        F.max("n0").alias("n0"),
        F.sum(
            F.col("c1").cast("decimal(38,0)")
            * (2 * F.col("c0_below") + F.col("c0"))
        )
        .cast("decimal(38,0)")
        .alias("u2"),
    )
    placef = (
        cum.crossJoin(F.broadcast(afold.select(F.col("u2"))))
        .groupBy("n1", "n0", "u2")
        .agg(
            F.sum(
                F.round(
                    F.col("c1")
                    * (
                        (F.col("c0_below") + F.col("c0") / 2.0)
                        / F.col("n0")
                        - F.col("u2").cast("double")
                        / 2
                        / F.col("n1")
                        / F.col("n0")
                    )
                    * (
                        (F.col("c0_below") + F.col("c0") / 2.0)
                        / F.col("n0")
                        - F.col("u2").cast("double")
                        / 2
                        / F.col("n1")
                        / F.col("n0")
                    ),
                    10,
                ).cast("decimal(38,10)")
            )
            .cast("double")
            .alias("s10"),
            F.sum(
                F.round(
                    F.col("c0")
                    * (
                        (
                            F.col("n1")
                            - F.col("c1_below")
                            - F.col("c1") / 2.0
                        )
                        / F.col("n1")
                        - F.col("u2").cast("double")
                        / 2
                        / F.col("n1")
                        / F.col("n0")
                    )
                    * (
                        (
                            F.col("n1")
                            - F.col("c1_below")
                            - F.col("c1") / 2.0
                        )
                        / F.col("n1")
                        - F.col("u2").cast("double")
                        / 2
                        / F.col("n1")
                        / F.col("n0")
                    ),
                    10,
                ).cast("decimal(38,10)")
            )
            .cast("double")
            .alias("s01"),
        )
    )
    auc = F.col("u2").cast("double") / 2 / F.col("n1") / F.col("n0")
    se = F.sqrt(
        F.col("s10") / (F.col("n1") - 1.0) / F.col("n1")
        + F.col("s01") / (F.col("n0") - 1.0) / F.col("n0")
    )
    z = 1.959963984540054
    return placef.select(
        F.col("n1").alias("n_positive"),
        F.col("n0").alias("n_negative"),
        (F.round(auc, 8) + 0.0).alias("auc_midrank"),
        (F.round(se, 8) + 0.0).alias("delong_se"),
        (F.round(auc - z * se, 8) + 0.0).alias("ci95_lo"),
        (F.round(auc + z * se, 8) + 0.0).alias("ci95_hi"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "robust_dispersion_panel": (
            "INFO: no single-partition window since the r19 grain "
            "triage — the data-grain cents-grid cumulative rides the "
            "value-bucket device, the four order statistics fold "
            "into one conditional aggregate, and the two persists "
            "are dropped; note kept for the history, excluded from "
            "the effective allowlist"
        ),
        "auc_delong_se": (
            "one double exclusive-prefix cumulative over the "
            "value-cents grid (the auc_hanley_mcneil class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Closed-form MMD (quadratic kernel): Fri/Sat vs Sun-Thu order values
# --------------------------------------------------------------------------
@register(
    "mmd_poly2_two_sample",
    oracle="""
    WITH pts AS (
        SELECT CASE WHEN CAST(epoch_us(o_orderdate) // 86400000000
                         + 4 AS BIGINT) % 7 >= 5
                    THEN 1 ELSE 0 END AS g,
               CAST(CAST(o_totalprice AS DECIMAL(18,2))
                    AS DECIMAL(10,2)) AS x
        FROM orders
    ),
    arm AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(x AS DECIMAL(30,2))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(round(x * x, 2) AS DECIMAL(30,2)))
                    AS DOUBLE) AS s2
        FROM pts GROUP BY g
    ),
    w AS (
        SELECT MAX(CASE WHEN g = 1 THEN n END) AS na,
               MAX(CASE WHEN g = 1 THEN s1 END) AS a1,
               MAX(CASE WHEN g = 1 THEN s2 END) AS a2,
               MAX(CASE WHEN g = 0 THEN n END) AS nb,
               MAX(CASE WHEN g = 0 THEN s1 END) AS b1,
               MAX(CASE WHEN g = 0 THEN s2 END) AS b2
        FROM arm
    ),
    mm AS (
        SELECT na, nb,
               a1 / na / 100000.0 AS ma1,
               a2 / na / 10000000000.0 AS ma2,
               b1 / nb / 100000.0 AS mb1,
               b2 / nb / 10000000000.0 AS mb2
        FROM w
    )
    SELECT na AS n_fri_sat, nb AS n_sun_thu,
           round((ma1 - mb1) * (ma1 - mb1), 10) + 0.0
               AS mmd2_linear_kusd2,
           round(2.0 * (ma1 - mb1) * (ma1 - mb1)
                 + (ma2 - mb2) * (ma2 - mb2), 10) + 0.0
               AS mmd2_poly2_kusd,
           round(ma2 - ma1 * ma1 - (mb2 - mb1 * mb1), 8) + 0.0
               AS variance_gap_kusd2
    FROM mm
    """,
)
def mmd_poly2_two_sample(spark, sf_dir):
    """CLOSED-FORM MAXIMUM MEAN DISCREPANCY between Fri/Sat and
    Sun-Thu order values under the quadratic polynomial kernel
    k(x,y) = (xy + c)^2: for polynomial kernels the mean embedding
    is a finite moment vector, so MMD^2 = 2c*(mu_a - mu_b)^2 +
    (E[x^2]_a - E[x^2]_b)^2 (c = 1 k$^2 here) computes EXACTLY from
    first and second moments — no kernel matrix, no sampling. The
    moment-space second opinion to `energy_distance_two_sample` and
    `ks_two_sample_values`: MMD-poly2 isolates WHICH moments moved
    (the variance_gap column is the second component), where KS
    says only "something moved".

    Exactness: both arms' moment sums are exact decimals (values at
    2 dp, squares rounded at 2 dp into DECIMAL(30,2) — the
    max_to_sum staging); the k$ normalizations and the final
    quadratic form run in doubles at 10 dp. Plan: one arm rollup,
    one fold — no window, no join."""
    o = t(spark, sf_dir, "orders")
    day = F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
    pts = o.select(
        F.when((day + 4) % 7 >= 5, 1).otherwise(0).alias("g"),
        dec("o_totalprice", 10, 2).alias("x"),
    )
    arm = pts.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(30,2)"))
        .cast("double")
        .alias("s1"),
        F.sum(
            F.round(F.col("x") * F.col("x"), 2).cast("decimal(30,2)")
        )
        .cast("double")
        .alias("s2"),
    )
    w = arm.agg(
        F.max(F.when(F.col("g") == 1, F.col("n"))).alias("na"),
        F.max(F.when(F.col("g") == 1, F.col("s1"))).alias("a1"),
        F.max(F.when(F.col("g") == 1, F.col("s2"))).alias("a2"),
        F.max(F.when(F.col("g") == 0, F.col("n"))).alias("nb"),
        F.max(F.when(F.col("g") == 0, F.col("s1"))).alias("b1"),
        F.max(F.when(F.col("g") == 0, F.col("s2"))).alias("b2"),
    )
    ma1 = F.col("a1") / F.col("na") / 100000.0
    ma2 = F.col("a2") / F.col("na") / 10000000000.0
    mb1 = F.col("b1") / F.col("nb") / 100000.0
    mb2 = F.col("b2") / F.col("nb") / 10000000000.0
    return w.select(
        F.col("na").alias("n_fri_sat"),
        F.col("nb").alias("n_sun_thu"),
        (F.round((ma1 - mb1) * (ma1 - mb1), 10) + 0.0).alias(
            "mmd2_linear_kusd2"
        ),
        (
            F.round(
                2.0 * (ma1 - mb1) * (ma1 - mb1)
                + (ma2 - mb2) * (ma2 - mb2),
                10,
            )
            + 0.0
        ).alias("mmd2_poly2_kusd"),
        (
            F.round(ma2 - ma1 * ma1 - (mb2 - mb1 * mb1), 8) + 0.0
        ).alias("variance_gap_kusd2"),
    )


# --------------------------------------------------------------------------
# Sarle's bimodality coefficient for daily revenue
# --------------------------------------------------------------------------
@register(
    "bimodality_coefficient",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s,
               CAST(SUM(CAST(y AS DECIMAL(38,0)) * y)
                    AS DECIMAL(38,0)) AS s2,
               CAST(SUM(CAST(y AS DECIMAL(38,0)) * y * y)
                    AS DECIMAL(38,0)) AS s3,
               CAST(SUM(CAST(round(((y / 100000.0)
                                    * (y / 100000.0))
                                   * ((y / 100000.0)
                                      * (y / 100000.0)), 2)
                             AS DECIMAL(36,2))) AS DOUBLE) AS s4k
        FROM daily
    ),
    km AS (
        SELECT n,
               (CAST(s2 AS DOUBLE) / n / 10000000000.0
                - (CAST(s AS DOUBLE) / n / 100000.0)
                  * (CAST(s AS DOUBLE) / n / 100000.0)) AS m2,
               (CAST(s3 AS DOUBLE) / n / 1000000000000000.0
                - 3.0 * (CAST(s AS DOUBLE) / n / 100000.0)
                  * (CAST(s2 AS DOUBLE) / n / 10000000000.0)
                + 2.0 * (CAST(s AS DOUBLE) / n / 100000.0)
                  * (CAST(s AS DOUBLE) / n / 100000.0)
                  * (CAST(s AS DOUBLE) / n / 100000.0)) AS m3,
               (s4k / n
                - 4.0 * (CAST(s AS DOUBLE) / n / 100000.0)
                  * (CAST(s3 AS DOUBLE) / n / 1000000000000000.0)
                + 6.0 * (CAST(s AS DOUBLE) / n / 100000.0)
                  * (CAST(s AS DOUBLE) / n / 100000.0)
                  * (CAST(s2 AS DOUBLE) / n / 10000000000.0)
                - 3.0 * (CAST(s AS DOUBLE) / n / 100000.0)
                  * (CAST(s AS DOUBLE) / n / 100000.0)
                  * (CAST(s AS DOUBLE) / n / 100000.0)
                  * (CAST(s AS DOUBLE) / n / 100000.0)) AS m4
        FROM mom
    ),
    gk AS (
        SELECT n,
               round(m3 / sqrt(m2 * m2 * m2)
                     * sqrt(CAST(n AS DOUBLE) * (n - 1)) / (n - 2),
                     8) AS g1,
               round((CAST(n AS DOUBLE) - 1)
                     / ((n - 2.0) * (n - 3.0))
                     * ((n + 1.0) * (m4 / (m2 * m2) - 3.0) + 6.0),
                     8) AS g2
        FROM km
    )
    SELECT n AS n_days,
           g1 + 0.0 AS sample_skewness_g1,
           g2 + 0.0 AS excess_kurtosis_g2,
           round((g1 * g1 + 1.0)
                 / (g2 + 3.0 * (CAST(n AS DOUBLE) - 1) * (n - 1)
                           / ((n - 2.0) * (n - 3.0))), 8) + 0.0
               AS bimodality_coefficient,
           CAST(CASE WHEN (g1 * g1 + 1.0)
                          / (g2 + 3.0 * (CAST(n AS DOUBLE) - 1)
                                * (n - 1)
                                / ((n - 2.0) * (n - 3.0)))
                          > 0.5555555555555556
                     THEN 1 ELSE 0 END AS INT)
               AS exceeds_uniform_bc
    FROM gk
    """,
)
def bimodality_coefficient(spark, sf_dir):
    """SARLE'S BIMODALITY COEFFICIENT for daily revenue: BC = (g1^2 +
    1) / (g2 + 3(n-1)^2/((n-2)(n-3))) from bias-corrected sample
    skewness and kurtosis — BC above the uniform benchmark 5/9
    flags a bimodal/multimodal regime (two operating modes of the
    business) that every location/scale summary silently averages
    over; the cheap moment-space screen that says when
    `shorth_lms_location` / mixture machinery (`poisson_mixture_
    em2`) is worth running. The distribution-shape second opinion
    to `dagostino_k2_panel` (which tests normality, not
    unimodality).

    Exactness: the first three raw power sums are exact
    DECIMAL(38,0) integers; the fourth power (cents^4 overflows a
    38-digit SUM at sf0.1 scale — caught by the sf0.1 sweep) is
    computed per day in k$ as identical-IEEE double products,
    rounded at 2 dp, and folded order-independently through
    DECIMAL(36,2); all central moments assemble in k$ units;
    g1/g2 pin at 8 dp before BC. Plan: one day
    rollup, one fold — no window."""
    daily = daily_order_cents(spark, sf_dir)
    y38 = F.col("y").cast("decimal(38,0)")
    mom = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(y38 * F.col("y")).cast("decimal(38,0)").alias("s2"),
        F.sum(y38 * F.col("y") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("s3"),
        F.sum(
            F.round(
                ((F.col("y") / 100000.0) * (F.col("y") / 100000.0))
                * ((F.col("y") / 100000.0) * (F.col("y") / 100000.0)),
                2,
            ).cast("decimal(36,2)")
        )
        .cast("double")
        .alias("s4k"),
    )
    nn = F.col("n").cast("double")
    mu = F.col("s").cast("double") / F.col("n") / 100000.0
    mm2 = F.col("s2").cast("double") / F.col("n") / 10000000000.0
    mm3 = (
        F.col("s3").cast("double") / F.col("n") / 1000000000000000.0
    )
    m2 = mm2 - mu * mu
    m3 = mm3 - 3.0 * mu * mm2 + 2.0 * mu * mu * mu
    m4 = (
        F.col("s4k") / F.col("n")
        - 4.0 * mu * mm3
        + 6.0 * mu * mu * mm2
        - 3.0 * mu * mu * mu * mu
    )
    g1 = F.round(
        m3 / F.sqrt(m2 * m2 * m2) * F.sqrt(nn * (F.col("n") - 1))
        / (F.col("n") - 2),
        8,
    )
    g2 = F.round(
        (nn - 1)
        / ((F.col("n") - 2.0) * (F.col("n") - 3.0))
        * ((F.col("n") + 1.0) * (m4 / (m2 * m2) - 3.0) + 6.0),
        8,
    )
    denom_adj = (
        3.0
        * (nn - 1)
        * (F.col("n") - 1)
        / ((F.col("n") - 2.0) * (F.col("n") - 3.0))
    )
    bc = (g1 * g1 + 1.0) / (g2 + denom_adj)
    return mom.select(
        F.col("n").alias("n_days"),
        (g1 + 0.0).alias("sample_skewness_g1"),
        (g2 + 0.0).alias("excess_kurtosis_g2"),
        (F.round(bc, 8) + 0.0).alias("bimodality_coefficient"),
        F.when(bc > 0.5555555555555556, 1)
        .otherwise(0)
        .cast("int")
        .alias("exceeds_uniform_bc"),
    )


# --------------------------------------------------------------------------
# Watson U^2 circular-uniformity test on second-of-day event phases
# --------------------------------------------------------------------------
@register(
    "watson_u2_hours",
    oracle="""
    WITH phases AS (
        SELECT CAST((epoch_us(ts) % 86400000000) // 1000000
                    AS BIGINT) AS s
        FROM events
    ),
    grid AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS c
        FROM phases GROUP BY s
    ),
    cum AS (
        SELECT s, c,
               CAST(COALESCE(SUM(c) OVER (ORDER BY s ROWS BETWEEN
                   UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS head,
               CAST(SUM(c) OVER () AS BIGINT) AS n
        FROM grid
    ),
    terms AS (
        SELECT MAX(n) AS n,
               CAST(SUM(CAST(round(
                   c * ((s + 0.5) / 86400.0) * ((s + 0.5) / 86400.0)
                   - ((s + 0.5) / 86400.0) * c * (2.0 * head + c) / n
                   + (4.0 * ((CAST(head AS DECIMAL(38,0)) + c)
                             * (head + c) * (2 * head + 2 * c + 1)
                             / 6
                             - CAST(head AS DECIMAL(38,0)) * head
                               * (2 * head + 1) / 6)
                      - 4.0 * (CAST(c AS DECIMAL(38,0)) * head
                               + CAST(c AS DECIMAL(38,0)) * (c + 1)
                                 / 2)
                      + c)
                     / (4.0 * CAST(n AS DOUBLE) * n), 10)
                   AS DECIMAL(38,10))) AS DOUBLE) AS s_cvm,
               CAST(SUM(CAST(round(c * ((s + 0.5) / 86400.0), 8)
                             AS DECIMAL(28,8))) AS DOUBLE) AS s_u
        FROM cum GROUP BY n
    )
    SELECT n AS n_events,
           round(s_u / n, 8) + 0.0 AS mean_phase,
           round(1.0 / (12.0 * n) + s_cvm, 6) + 0.0 AS cvm_w2,
           round(1.0 / (12.0 * n) + s_cvm
                 - n * (s_u / n - 0.5) * (s_u / n - 0.5), 6) + 0.0
               AS watson_u2,
           CAST(CASE WHEN 1.0 / (12.0 * n) + s_cvm
                          - n * (s_u / n - 0.5) * (s_u / n - 0.5)
                          > 0.187 THEN 1 ELSE 0 END AS INT)
               AS reject_uniform_5pct
    FROM terms
    """,
)
def watson_u2_hours(spark, sf_dir):
    """WATSON'S U^2 circular-uniformity test on second-of-day event
    phases: U^2 = W^2 - n*(ubar - 1/2)^2 — the rotation-INVARIANT
    repair of Cramer-von Mises for circular data (a KS/CvM verdict
    on hours depends on where midnight cuts the circle; Watson's
    does not) — the quantitative second opinion to
    `hodges_ajne_circular` (a sign test, ignores magnitudes) and
    `rayleigh_circular_hours` (first-harmonic only: U^2 also sees
    bimodal 12-hour patterns Rayleigh is blind to). Asymptotic 5%
    critical value 0.187.

    Device: phases discretize to the bounded 86400-point second-of-
    day grid (stated); the per-unit CvM sum collapses onto it via
    the `cvm_lognormal_gof` tie-group identity (exact square-
    pyramidal partial sums in DECIMAL(38,0)); F is the literal
    midpoint (s+0.5)/86400. Plan: one phase rollup, one bounded
    grid cumulative, one fold."""
    e = t(spark, sf_dir, "events")
    phases = e.select(
        F.floor(
            (F.unix_micros("ts") % 86_400_000_000) / 1_000_000
        )
        .cast("bigint")
        .alias("s")
    )
    grid = phases.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cum = grid.select(
        "s",
        "c",
        F.coalesce(
            F.sum("c").over(
                Window.orderBy("s").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("head"),
        F.sum("c").over(Window.partitionBy()).cast("bigint").alias(
            "n"
        ),
    )
    ff = (F.col("s") + 0.5) / 86400.0
    h38 = F.col("head").cast("decimal(38,0)")
    c38 = F.col("c").cast("decimal(38,0)")
    s2hi = (
        (h38 + F.col("c"))
        * (F.col("head") + F.col("c"))
        * (2 * F.col("head") + 2 * F.col("c") + 1)
        / 6
    )
    s2lo = h38 * F.col("head") * (2 * F.col("head") + 1) / 6
    s1 = c38 * F.col("head") + c38 * (F.col("c") + 1) / 2
    odd2 = 4.0 * (s2hi - s2lo) - 4.0 * s1 + F.col("c")
    term = F.round(
        F.col("c") * ff * ff
        - ff * F.col("c") * (2.0 * F.col("head") + F.col("c")) / F.col("n")
        + odd2 / (4.0 * F.col("n").cast("double") * F.col("n")),
        10,
    ).cast("decimal(38,10)")
    uterm = F.round(F.col("c") * ff, 8).cast("decimal(28,8)")
    terms = cum.groupBy("n").agg(
        F.sum(term).cast("double").alias("s_cvm"),
        F.sum(uterm).cast("double").alias("s_u"),
    )
    ubar = F.col("s_u") / F.col("n")
    w2 = 1.0 / (12.0 * F.col("n")) + F.col("s_cvm")
    u2 = w2 - F.col("n") * (ubar - 0.5) * (ubar - 0.5)
    return terms.select(
        F.col("n").alias("n_events"),
        (F.round(ubar, 8) + 0.0).alias("mean_phase"),
        (F.round(w2, 6) + 0.0).alias("cvm_w2"),
        (F.round(u2, 6) + 0.0).alias("watson_u2"),
        F.when(u2 > 0.187, 1)
        .otherwise(0)
        .cast("int")
        .alias("reject_uniform_5pct"),
    )


# --------------------------------------------------------------------------
# Benford first-two-digits forensic test on order amounts
# --------------------------------------------------------------------------
@register(
    "benford_first_two_digits",
    oracle="""
    WITH pts AS (
        SELECT CAST(substr(CAST(CAST(CAST(o_totalprice
                   AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR),
                   1, 2) AS BIGINT) AS d
        FROM orders
    ),
    obs AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS o
        FROM pts WHERE d >= 10 GROUP BY d
    ),
    digits AS (
        SELECT CAST(u.g AS BIGINT) AS d,
               round(ln(1.0 + 1.0 / u.g)
                     / 2.302585092994046, 10) AS p
        FROM LATERAL UNNEST(range(10, 100)) AS u(g)
    ),
    fold AS (
        SELECT CAST(SUM(COALESCE(o.o, 0)) AS BIGINT) AS n,
               CAST(SUM(CAST(round(
                   (COALESCE(o.o, 0) * 1.0) * COALESCE(o.o, 0), 2)
                   AS DECIMAL(38,2)) / dg.p) AS DOUBLE) AS s_oo_p,
               CAST(SUM(CAST(round(abs(COALESCE(o.o, 0) * 1.0
                   / (SELECT SUM(o) FROM obs) - dg.p), 10)
                   AS DECIMAL(18,10))) AS DOUBLE) AS sad
        FROM digits dg LEFT JOIN obs o ON dg.d = o.d
    )
    SELECT n AS n_orders,
           round(s_oo_p / n - n, 4) + 0.0 AS benford_ft_chi2,
           round(sad / 90.0, 8) + 0.0 AS mad_first_two,
           CASE WHEN round(sad / 90.0, 8) <= 0.0012
                    THEN 'close'
                WHEN round(sad / 90.0, 8) <= 0.0018
                    THEN 'acceptable'
                WHEN round(sad / 90.0, 8) <= 0.0022
                    THEN 'marginal'
                ELSE 'nonconforming' END AS nigrini_conformity
    FROM fold
    """,
)
def benford_first_two_digits(spark, sf_dir):
    """BENFORD FIRST-TWO-DIGITS test on order amounts (Nigrini's
    forensic standard): the 90-cell chi2 against log10(1+1/d) via
    the identity chi2 = sum(o_d^2/(n p_d)) - n, and the mean
    absolute deviation with Nigrini's published conformity bands
    (0.0012 / 0.0018 / 0.0022) — the high-resolution escalation of
    `benford_first_digit` / `benford_second_digit_mad`: fabricated
    or threshold-gamed amounts that pass both single-digit screens
    still light up specific first-two cells (the classic "just
    under an approval limit" spike). Digits extract by STRING
    prefix of the exact integer cents — no log10, no float
    boundary.

    Exactness: cell counts exact; expected probabilities pin at 10
    dp from ln literals (1/ln10 literal); the chi2 identity needs
    one o^2/p fold. Plan: one digit rollup, one 90-row broadcast
    left join, one fold."""
    o = t(spark, sf_dir, "orders")
    pts = o.select(
        F.substring(
            (dec("o_totalprice", 18, 2) * 100)
            .cast("bigint")
            .cast("string"),
            1,
            2,
        )
        .cast("bigint")
        .alias("d")
    ).where(F.col("d") >= 10)
    obs = pts.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    digits = spark.range(10, 100).select(
        F.col("id").cast("bigint").alias("d"),
        F.round(
            F.log(1.0 + 1.0 / F.col("id")) / 2.302585092994046, 10
        ).alias("p"),
    )
    ntot = obs.agg(F.sum("o").cast("bigint").alias("n"))
    joined = (
        digits.join(obs, "d", "left")
        .crossJoin(F.broadcast(ntot))
        .select(
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
            "p",
            "n",
        )
    )
    fold = joined.agg(
        F.max("n").alias("n"),
        F.sum(
            F.round(F.col("o") * 1.0 * F.col("o"), 2).cast(
                "decimal(38,2)"
            )
            / F.col("p")
        )
        .cast("double")
        .alias("s_oo_p"),
        F.sum(
            F.round(
                F.abs(F.col("o") * 1.0 / F.col("n") - F.col("p")), 10
            ).cast("decimal(18,10)")
        )
        .cast("double")
        .alias("sad"),
    )
    mad = F.round(F.col("sad") / 90.0, 8)
    return fold.select(
        F.col("n").alias("n_orders"),
        (
            F.round(F.col("s_oo_p") / F.col("n") - F.col("n"), 4)
            + 0.0
        ).alias("benford_ft_chi2"),
        (mad + 0.0).alias("mad_first_two"),
        F.when(mad <= 0.0012, "close")
        .when(mad <= 0.0018, "acceptable")
        .when(mad <= 0.0022, "marginal")
        .otherwise("nonconforming")
        .alias("nigrini_conformity"),
    )


# --------------------------------------------------------------------------
# GEV shape from monthly block maxima via L-moments
# --------------------------------------------------------------------------
@register(
    "gev_lmoment_blockmax",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    bm AS (
        SELECT CAST(day // 30 AS BIGINT) AS blk,
               CAST(MAX(y) AS BIGINT) AS m,
               CAST(COUNT(*) AS BIGINT) AS nd
        FROM daily GROUP BY 1 HAVING COUNT(*) = 30
    ),
    ranked AS (
        SELECT m, ROW_NUMBER() OVER (ORDER BY m, blk) AS i,
               COUNT(*) OVER () AS n
        FROM bm
    ),
    pwm AS (
        SELECT MAX(n) AS n,
               CAST(SUM(CAST(m AS DECIMAL(38,0))) AS DOUBLE) AS b0n,
               CAST(SUM(CAST(m AS DECIMAL(38,0)) * (i - 1))
                    AS DOUBLE) AS b1nn,
               CAST(SUM(CAST(m AS DECIMAL(38,0)) * (i - 1)
                        * (i - 2)) AS DOUBLE) AS b2nnn
        FROM ranked
    ),
    lmom AS (
        SELECT n,
               b0n / n / 100000.0 AS l1,
               (2.0 * b1nn / (n - 1.0) - b0n) / n / 100000.0 AS l2,
               (6.0 * b2nnn / ((n - 1.0) * (n - 2.0))
                - 6.0 * b1nn / (n - 1.0) + b0n) / n / 100000.0
                   AS l3
        FROM pwm
    )
    SELECT n AS n_blocks,
           round(l1, 6) + 0.0 AS l1_kusd,
           round(l2, 6) + 0.0 AS l2_kusd,
           round(l3 / l2, 8) + 0.0 AS tau3,
           round(-(7.8590 * (2.0 / (3.0 + l3 / l2)
                            - 0.6309297535714574)
                   + 2.9554 * (2.0 / (3.0 + l3 / l2)
                               - 0.6309297535714574)
                     * (2.0 / (3.0 + l3 / l2)
                        - 0.6309297535714574)), 8) + 0.0
               AS xi_gev
    FROM lmom
    """,
)
def gev_lmoment_blockmax(spark, sf_dir):
    """GEV SHAPE from 30-day block maxima of daily revenue via the
    Hosking L-moment estimator: c = 2/(3+tau3) - ln2/ln3, k =
    7.8590c + 2.9554c^2, xi = -k — the BLOCK-MAXIMA route to the
    same tail-shape parameter the threshold route estimates in
    `gpd_shape_stability` / `pot_gpd_pwm_fit`: EVT says the two xi's
    must agree if either regime is real, so their gap is the
    sharpest tail-model audit available (and `gumbel_block_maxima`
    is the xi = 0 special case this generalizes).

    Exactness: block maxima are exact integer cents over exact
    30-day blocks (partial blocks dropped); the PWM weights
    (i-1), (i-1)(i-2) are exact integers on the bounded block frame
    (row_number with the blk tiebreak = the standard unbiased PWM
    ordering); ln2/ln3 and the Hosking coefficients are shared
    literals. Plan: one day rollup, one bounded block rollup, one
    rank window over the ~85-row block frame, one fold."""
    daily = daily_order_cents(spark, sf_dir)
    bm = (
        daily.groupBy(F.floor(F.col("day") / 30).alias("blk"))
        .agg(
            F.max("y").cast("bigint").alias("m"),
            F.count(F.lit(1)).cast("bigint").alias("nd"),
        )
        .where(F.col("nd") == 30)
    )
    ranked = bm.select(
        "m",
        F.row_number().over(Window.orderBy("m", "blk")).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    pwm = ranked.agg(
        F.max("n").alias("n"),
        F.sum(F.col("m").cast("decimal(38,0)"))
        .cast("double")
        .alias("b0n"),
        F.sum(F.col("m").cast("decimal(38,0)") * (F.col("i") - 1))
        .cast("double")
        .alias("b1nn"),
        F.sum(
            F.col("m").cast("decimal(38,0)")
            * (F.col("i") - 1)
            * (F.col("i") - 2)
        )
        .cast("double")
        .alias("b2nnn"),
    )
    nn = F.col("n").cast("double")
    l1 = F.col("b0n") / F.col("n") / 100000.0
    l2 = (
        (2.0 * F.col("b1nn") / (nn - 1.0) - F.col("b0n"))
        / F.col("n")
        / 100000.0
    )
    l3 = (
        (
            6.0 * F.col("b2nnn") / ((nn - 1.0) * (nn - 2.0))
            - 6.0 * F.col("b1nn") / (nn - 1.0)
            + F.col("b0n")
        )
        / F.col("n")
        / 100000.0
    )
    c = 2.0 / (3.0 + l3 / l2) - 0.6309297535714574
    return pwm.select(
        F.col("n").alias("n_blocks"),
        (F.round(l1, 6) + 0.0).alias("l1_kusd"),
        (F.round(l2, 6) + 0.0).alias("l2_kusd"),
        (F.round(l3 / l2, 8) + 0.0).alias("tau3"),
        (F.round(-(7.8590 * c + 2.9554 * c * c), 8) + 0.0).alias(
            "xi_gev"
        ),
    )


# --------------------------------------------------------------------------
# Theil U1 forecast accuracy for the seasonal naive
# --------------------------------------------------------------------------
@register(
    "theil_u1_forecast",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    fc AS (
        SELECT y, LAG(y, 7) OVER (ORDER BY day) AS yhat
        FROM daily QUALIFY yhat IS NOT NULL
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(y - yhat AS DECIMAL(38,0))
                        * (y - yhat)) AS DECIMAL(38,0)) AS sse,
               CAST(SUM(CAST(y AS DECIMAL(38,0)) * y)
                    AS DECIMAL(38,0)) AS syy,
               CAST(SUM(CAST(yhat AS DECIMAL(38,0)) * yhat)
                    AS DECIMAL(38,0)) AS shh
        FROM fc
    )
    SELECT n AS n_days,
           round(sqrt(CAST(sse AS DOUBLE) / n) / 100000.0, 6)
               + 0.0 AS rmse_kusd,
           round(sqrt(CAST(sse AS DOUBLE) / n)
                 / (sqrt(CAST(syy AS DOUBLE) / n)
                    + sqrt(CAST(shh AS DOUBLE) / n)), 8) + 0.0
               AS theil_u1
    FROM fold
    """,
)
def theil_u1_forecast(spark, sf_dir):
    """THEIL'S U1 accuracy coefficient for the lag-7 seasonal-naive
    forecast: RMSE normalized by the sum of the root mean squares of
    actuals and forecasts — bounded in [0,1] with 0 = perfect, so it
    is comparable ACROSS series of different scales, which neither
    RMSE nor `smape_wape_panel`'s percentage metrics achieve on
    near-zero series; completes the Theil pair with
    `theil_u2_forecast_skill` (U2 benchmarks against the naive; U1
    grades absolute accuracy).

    Exactness: squared-error and squared-level sums are exact
    DECIMAL(38,0) integer folds; three square roots at the end.
    Plan: one day rollup, one calendar lag, one fold."""
    daily = daily_order_cents(spark, sf_dir)
    fc = daily.select(
        "y",
        F.lag("y", 7).over(Window.orderBy("day")).alias("yhat"),
    ).where(F.col("yhat").isNotNull())
    e = (F.col("y") - F.col("yhat")).cast("decimal(38,0)")
    fold = fc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(e * (F.col("y") - F.col("yhat")))
        .cast("decimal(38,0)")
        .alias("sse"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("syy"),
        F.sum(F.col("yhat").cast("decimal(38,0)") * F.col("yhat"))
        .cast("decimal(38,0)")
        .alias("shh"),
    )
    rmse = F.sqrt(F.col("sse").cast("double") / F.col("n"))
    return fold.select(
        F.col("n").alias("n_days"),
        (F.round(rmse / 100000.0, 6) + 0.0).alias("rmse_kusd"),
        (
            F.round(
                rmse
                / (
                    F.sqrt(F.col("syy").cast("double") / F.col("n"))
                    + F.sqrt(F.col("shh").cast("double") / F.col("n"))
                ),
                8,
            )
            + 0.0
        ).alias("theil_u1"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "watson_u2_hours": (
            "one cumulative over the bounded 86400-point second-of-"
            "day grid (the cvm_lognormal class)"
        ),
        "gev_lmoment_blockmax": (
            "row_number over the bounded ~85-row block-maxima frame"
        ),
        "theil_u1_forecast": ("lag-7 window over the calendar-day frame"),
        "brown_mood_median_line": (
            "half medians via percentile_disc over the calendar-day "
            "frame (bounded domain)"
        ),
    }
)


# --------------------------------------------------------------------------
# Delete-one-nation jackknife SE for the customer-spend Gini
# --------------------------------------------------------------------------
@register(
    "gini_jackknife_se",
    oracle="""
    WITH spend AS (
        SELECT c.c_nationkey AS g, o.o_custkey AS u,
               CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2))
                             * 100 AS BIGINT)) AS BIGINT) AS m
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    ggrid AS (
        SELECT g, m AS v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(m) AS BIGINT) AS tv
        FROM spend GROUP BY g, m
    ),
    vgrid AS (SELECT DISTINCT v FROM ggrid),
    gl AS (SELECT DISTINCT g FROM ggrid),
    full_g AS (
        SELECT vg.v, gg.g,
               COALESCE(x.c, 0) AS c0, COALESCE(x.tv, 0) AS tv0
        FROM vgrid vg CROSS JOIN gl gg
        LEFT JOIN ggrid x ON x.v = vg.v AND x.g = gg.g
    ),
    cume AS (
        SELECT v, g,
               CAST(COALESCE(SUM(c0) OVER w, 0) AS BIGINT) AS ce,
               CAST(COALESCE(SUM(tv0) OVER w, 0) AS BIGINT) AS cve
        FROM full_g
        WINDOW w AS (PARTITION BY g ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING)
    ),
    splus AS (
        SELECT h.g AS gh, k.g AS gk,
               CAST(SUM(CAST(h.c AS DECIMAL(38,0))
                        * (CAST(h.v AS DECIMAL(38,0)) * k.ce
                           - k.cve)) AS DECIMAL(38,0)) AS sp
        FROM ggrid h JOIN cume k ON h.v = k.v
        GROUP BY h.g, k.g
    ),
    gtot AS (
        SELECT g, CAST(SUM(c) AS BIGINT) AS ng,
               CAST(SUM(tv) AS BIGINT) AS sg
        FROM ggrid GROUP BY g
    ),
    tot AS (
        SELECT CAST(SUM(ng) AS BIGINT) AS n,
               CAST(SUM(sg) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS ngrp
        FROM gtot
    ),
    tall AS (SELECT CAST(SUM(CAST(sp AS DOUBLE)) AS DOUBLE) AS tt
             FROM splus),
    loo AS (
        SELECT gt.g,
               round((tall.tt
                      - (SELECT SUM(CAST(sp AS DOUBLE)) FROM splus
                         WHERE gh = gt.g)
                      - (SELECT SUM(CAST(sp AS DOUBLE)) FROM splus
                         WHERE gk = gt.g)
                      + (SELECT SUM(CAST(sp AS DOUBLE)) FROM splus
                         WHERE gh = gt.g AND gk = gt.g))
                     / ((tot.n - gt.ng)
                        * (CAST(tot.s AS DOUBLE) - gt.sg)), 10)
                   AS g_loo
        FROM gtot gt, tot, tall
    ),
    jk AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS ngrp,
               CAST(SUM(CAST(g_loo AS DECIMAL(18,10)))
                    AS DOUBLE) AS sgl,
               CAST(SUM(CAST(round(g_loo * g_loo, 12)
                             AS DECIMAL(18,12))) AS DOUBLE) AS sgl2
        FROM loo
    )
    SELECT (SELECT n FROM tot) AS n_customers,
           (SELECT ngrp FROM tot) AS n_nations,
           (SELECT round(tall.tt
                         / (CAST(tot.n AS DOUBLE) * tot.s), 8) + 0.0
            FROM tall, tot) AS gini,
           round(sqrt((jk.ngrp - 1.0) / jk.ngrp
                      * (jk.sgl2 - jk.sgl * jk.sgl / jk.ngrp)), 8)
               + 0.0 AS gini_jackknife_se
    FROM jk
    """,
)
def gini_jackknife_se(spark, sf_dir):
    """DELETE-ONE-NATION grouped jackknife standard error for the
    customer-spend Gini: each leave-one-nation-out Gini recomputes
    from PAIR-SUM ARITHMETIC alone — G_(-g) = (T - row_g - col_g +
    s+(g,g)) / ((n-n_g)(S-S_g)) over the 25x25 ordered-pair sums
    s+(h,k) built once on the merged grid (the
    `dagum_gini_decomposition` device pointed at nations) — so 25
    full Gini recomputations cost one frame and 625 bounded rows.
    This is the PRECISION statement every inequality readout in the
    registry (`customer_inequality_panel`, `wolfson_polarization`,
    the Dagum decomposition) was missing: a Gini without an SE
    cannot be compared across rounds.

    Exactness: all pair sums exact DECIMAL(38,0) on the
    ``exact_cumulative`` per-nation cumulatives; leave-out Ginis pin
    at 10 dp before the jackknife spread fold (12-dp squares).
    Grouped-jackknife caveat (25 groups) documented. Plan: one
    merged-grid frame, one pair rollup, bounded 25-row jackknife
    fold."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("g"),
            F.col("o_custkey").alias("u"),
        )
        .agg(
            F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
            .cast("bigint")
            .alias("m")
        )
    )
    ggrid = (
        spend.groupBy("g", F.col("m").alias("v"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.sum("m").cast("bigint").alias("tv"),
        )
        .persist()
    )
    vgrid = ggrid.select("v").distinct()
    gl = ggrid.select("g").distinct()
    full_g = (
        vgrid.crossJoin(F.broadcast(gl))
        .join(ggrid, ["v", "g"], "left")
        .select(
            "v",
            "g",
            F.coalesce(F.col("c"), F.lit(0)).alias("c0"),
            F.coalesce(F.col("tv"), F.lit(0)).alias("tv0"),
        )
    )
    acc, _ = exact_cumulative(
        full_g,
        ("v",),
        {"ce": F.sum("c0"), "cve": F.sum("tv0")},
        keys=("g",),
    )
    cume = acc.select(
        "v",
        "g",
        (F.col("cum_ce") - F.col("c0")).cast("bigint").alias("ce"),
        (F.col("cum_cve") - F.col("tv0")).cast("bigint").alias("cve"),
    )
    splus = (
        ggrid.alias("h")
        .join(cume.alias("k"), F.col("h.v") == F.col("k.v"))
        .groupBy(F.col("h.g").alias("gh"), F.col("k.g").alias("gk"))
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
    gtot = ggrid.groupBy("g").agg(
        F.sum("c").cast("bigint").alias("ng"),
        F.sum("tv").cast("bigint").alias("sg"),
    )
    tot = gtot.agg(
        F.sum("ng").cast("bigint").alias("n"),
        F.sum("sg").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("ngrp"),
    )
    tall = splus.agg(
        F.sum(F.col("sp").cast("double")).alias("tt")
    )
    rowg = splus.groupBy("gh").agg(
        F.sum(F.col("sp").cast("double")).alias("row_s")
    )
    colg = splus.groupBy("gk").agg(
        F.sum(F.col("sp").cast("double")).alias("col_s")
    )
    diag = splus.where(F.col("gh") == F.col("gk")).select(
        F.col("gh").alias("g"), F.col("sp").cast("double").alias("dg")
    )
    loo = (
        gtot.join(F.broadcast(rowg), gtot.g == rowg.gh)
        .join(F.broadcast(colg), gtot.g == colg.gk)
        .join(F.broadcast(diag.withColumnRenamed("g", "dgk")),
              gtot.g == F.col("dgk"))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tall))
        .select(
            F.round(
                (
                    F.col("tt")
                    - F.col("row_s")
                    - F.col("col_s")
                    + F.col("dg")
                )
                / (
                    (F.col("n") - F.col("ng"))
                    * (F.col("s").cast("double") - F.col("sg"))
                ),
                10,
            ).alias("g_loo")
        )
    )
    jk = loo.agg(
        F.count(F.lit(1)).cast("bigint").alias("ngrp"),
        F.sum(F.col("g_loo").cast("decimal(18,10)"))
        .cast("double")
        .alias("sgl"),
        F.sum(
            F.round(F.col("g_loo") * F.col("g_loo"), 12).cast(
                "decimal(18,12)"
            )
        )
        .cast("double")
        .alias("sgl2"),
    )
    gini = tall.crossJoin(F.broadcast(tot)).select(
        (
            F.round(
                F.col("tt")
                / (F.col("n").cast("double") * F.col("s")),
                8,
            )
            + 0.0
        ).alias("gini"),
        F.col("n").alias("n_customers"),
        F.col("ngrp").alias("n_nations"),
    )
    return gini.crossJoin(F.broadcast(jk)).select(
        "n_customers",
        "n_nations",
        "gini",
        (
            F.round(
                F.sqrt(
                    (F.col("ngrp") - 1.0)
                    / F.col("ngrp")
                    * (
                        F.col("sgl2")
                        - F.col("sgl") * F.col("sgl") / F.col("ngrp")
                    )
                ),
                8,
            )
            + 0.0
        ).alias("gini_jackknife_se"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "gini_jackknife_se": (
            "per-(nation, bucket) windows of exact_cumulative "
            "(the dagum_gini class); jackknife runs on the "
            "bounded 25-row nation frame"
        ),
    }
)


# --------------------------------------------------------------------------
# Lexis ratio: overdispersion of the daily purchase share
# --------------------------------------------------------------------------
@register(
    "lexis_ratio_proportions",
    oracle="""
    WITH dday AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS nd,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS kd
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS d,
               CAST(SUM(nd) AS BIGINT) AS n,
               CAST(SUM(kd) AS BIGINT) AS k
        FROM dday
    ),
    fold AS (
        SELECT tot.d, tot.n, tot.k,
               CAST(SUM(CAST(round(
                   (kd * CAST(tot.n AS DOUBLE) - CAST(tot.k
                        AS DOUBLE) * nd)
                   * (kd * CAST(tot.n AS DOUBLE) - CAST(tot.k
                        AS DOUBLE) * nd)
                   / nd / CAST(tot.n AS DOUBLE) / tot.n, 8)
                   AS DECIMAL(28,8))) AS DOUBLE) AS q_num
        FROM dday, tot GROUP BY tot.d, tot.n, tot.k
    )
    SELECT d AS n_days, k AS n_purchases,
           round(CAST(k AS DOUBLE) / n, 8) + 0.0 AS pooled_share,
           round(q_num / (CAST(k AS DOUBLE) / n
                          * (1.0 - CAST(k AS DOUBLE) / n)), 4)
               + 0.0 AS lexis_chi2,
           round(q_num / (CAST(k AS DOUBLE) / n
                          * (1.0 - CAST(k AS DOUBLE) / n))
                 / (d - 1.0), 6) + 0.0 AS lexis_ratio,
           round((q_num / (CAST(k AS DOUBLE) / n
                           * (1.0 - CAST(k AS DOUBLE) / n))
                  - (d - 1.0)) / sqrt(2.0 * (d - 1.0)), 6) + 0.0
               AS overdispersion_z
    FROM fold
    """,
)
def lexis_ratio_proportions(spark, sf_dir):
    """LEXIS RATIO for the daily purchase share: Q = sum n_d (p_d -
    pbar)^2 / (pbar(1-pbar)) ~ chi2(D-1) under a constant binomial
    share, and L = Q/(D-1) reads directly as the variance inflation
    of daily proportions over binomial sampling noise — the
    PROPORTIONS-side second opinion to `dean_overdispersion_test`
    (counts) and the day-to-day stability certificate behind every
    pooled conversion-rate readout (`srm_guardrail_check` tests ONE
    day's split; Lexis tests all of them jointly).

    Exactness: the per-day term (k_d*N - K*n_d)^2/(n_d*N^2) is an
    exact rational of integers rounded at 8 dp before the DECIMAL
    fold; the pooled-share denominator divides once at the end.
    Plan: one day rollup, one broadcast scalar, one fold."""
    e = t(spark, sf_dir, "events")
    dday = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("kd"),
    )
    tot = dday.agg(
        F.count(F.lit(1)).cast("bigint").alias("d"),
        F.sum("nd").cast("bigint").alias("n"),
        F.sum("kd").cast("bigint").alias("k"),
    )
    num = F.col("kd") * F.col("n").cast("double") - F.col("k").cast(
        "double"
    ) * F.col("nd")
    fold = (
        dday.crossJoin(F.broadcast(tot))
        .groupBy("d", "n", "k")
        .agg(
            F.sum(
                F.round(
                    num
                    * num
                    / F.col("nd")
                    / F.col("n").cast("double")
                    / F.col("n"),
                    8,
                ).cast("decimal(28,8)")
            )
            .cast("double")
            .alias("q_num")
        )
    )
    pbar = F.col("k").cast("double") / F.col("n")
    q = F.col("q_num") / (pbar * (1.0 - pbar))
    return fold.select(
        F.col("d").alias("n_days"),
        F.col("k").alias("n_purchases"),
        (F.round(pbar, 8) + 0.0).alias("pooled_share"),
        (F.round(q, 4) + 0.0).alias("lexis_chi2"),
        (F.round(q / (F.col("d") - 1.0), 6) + 0.0).alias(
            "lexis_ratio"
        ),
        (
            F.round(
                (q - (F.col("d") - 1.0))
                / F.sqrt(2.0 * (F.col("d") - 1.0)),
                6,
            )
            + 0.0
        ).alias("overdispersion_z"),
    )


# --------------------------------------------------------------------------
# Anderson-Hauck equivalence test for the Fri/Sat effect
# --------------------------------------------------------------------------
_AH_STAT_SQL = """
    pts AS (
        SELECT CASE WHEN CAST(epoch_us(o_orderdate) // 86400000000
                         + 4 AS BIGINT) % 7 >= 5
                    THEN 1 ELSE 0 END AS g,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    arm AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s,
               CAST(SUM(CAST(v AS DECIMAL(38,0)) * v)
                    AS DECIMAL(38,0)) AS ss
        FROM pts GROUP BY g
    ),
    w AS (
        SELECT MAX(CASE WHEN g = 1 THEN n END) AS n1,
               MAX(CASE WHEN g = 1 THEN s END) AS s1,
               MAX(CASE WHEN g = 1 THEN ss END) AS ss1,
               MAX(CASE WHEN g = 0 THEN n END) AS n0,
               MAX(CASE WHEN g = 0 THEN s END) AS s0,
               MAX(CASE WHEN g = 0 THEN ss END) AS ss0
        FROM arm
    ),
    stat AS (
        SELECT n1, n0,
               (CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
                   / 100000.0 AS d,
               0.01 * (CAST(s1 AS DOUBLE) + s0) / (n1 + n0)
                   / 100000.0 AS margin,
               sqrt(((CAST(ss1 AS DOUBLE)
                      - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)
                     / n1
                     + (CAST(ss0 AS DOUBLE)
                        - CAST(s0 AS DOUBLE) * s0 / n0) / (n0 - 1)
                       / n0)) / 100000.0 AS se
        FROM w
    )
"""


@register(
    "anderson_hauck_equivalence",
    oracle=f"""
    WITH {_AH_STAT_SQL},
    z AS (
        SELECT n1, n0,
               round(d / se, 8) AS w_stat,
               round(margin / se, 8) AS delta_nc
        FROM stat
    )
    SELECT n1 AS n_fri_sat, n0 AS n_sun_thu,
           w_stat + 0.0 AS ah_w_stat,
           delta_nc + 0.0 AS ah_noncentrality,
           round(round({phi_sql(
               "(round(abs(w_stat) - delta_nc, 8))")}, 10)
                 - round({phi_sql(
               "(round(-abs(w_stat) - delta_nc, 8))")}, 10), 8)
               + 0.0 AS ah_p_value,
           CAST(CASE WHEN round({phi_sql(
               "(round(abs(w_stat) - delta_nc, 8))")}, 10)
                      - round({phi_sql(
               "(round(-abs(w_stat) - delta_nc, 8))")}, 10)
                     <= 0.05 THEN 1 ELSE 0 END AS INT)
               AS ah_equivalent_at_5pct,
           CAST(CASE WHEN w_stat + delta_nc >= 1.6448536269514722
                      AND w_stat - delta_nc <= -1.6448536269514722
                     THEN 1 ELSE 0 END AS INT)
               AS tost_equivalent_at_5pct
    FROM z
    """,
)
def anderson_hauck_equivalence(spark, sf_dir):
    """ANDERSON-HAUCK equivalence test for Fri/Sat vs Sun-Thu mean
    order value on exactly the `tost_equivalence_means` frame (same
    +/-1%-of-pooled-mean margin, same Welch SE): the AH procedure
    compares W = d/se against a noncentral folded reference, p =
    Phi(|W| - delta) - Phi(-|W| - delta) with delta = margin/se —
    the single-p-value second opinion to TOST's intersection of two
    one-sided tests. AH is known to be slightly LIBERAL where TOST
    is conservative (near |d| = margin with small se the two can
    disagree), so the pair brackets the equivalence decision; both
    verdict bits ship side by side.

    Exactness: identical exact DECIMAL(38,0) arm folds as the TOST
    query; W and delta round at 8 dp before the shared
    Abramowitz-Stegun Phi tree (decade-escalation: Phi pins at 10,
    the p readout at 8). Plan: one arm rollup, two scalar folds —
    no window, no join."""
    o = t(spark, sf_dir, "orders")
    day = F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
    pts = o.select(
        F.when((day + 4) % 7 >= 5, 1).otherwise(0).alias("g"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v"),
    )
    arm = pts.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    w = arm.agg(
        F.max(F.when(F.col("g") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("g") == 1, F.col("s"))).alias("s1"),
        F.max(F.when(F.col("g") == 1, F.col("ss"))).alias("ss1"),
        F.max(F.when(F.col("g") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("g") == 0, F.col("s"))).alias("s0"),
        F.max(F.when(F.col("g") == 0, F.col("ss"))).alias("ss0"),
    )
    d = (
        F.col("s1").cast("double") / F.col("n1")
        - F.col("s0").cast("double") / F.col("n0")
    ) / 100000.0
    margin = (
        0.01
        * (F.col("s1").cast("double") + F.col("s0"))
        / (F.col("n1") + F.col("n0"))
        / 100000.0
    )
    se = (
        F.sqrt(
            (
                F.col("ss1").cast("double")
                - F.col("s1").cast("double") * F.col("s1") / F.col("n1")
            )
            / (F.col("n1") - 1)
            / F.col("n1")
            + (
                F.col("ss0").cast("double")
                - F.col("s0").cast("double") * F.col("s0") / F.col("n0")
            )
            / (F.col("n0") - 1)
            / F.col("n0")
        )
        / 100000.0
    )
    z = w.select(
        "n1",
        "n0",
        F.round(d / se, 8).alias("w_stat"),
        F.round(margin / se, 8).alias("delta_nc"),
    )
    p_hi = F.round(
        phi_col(
            F.round(F.abs(F.col("w_stat")) - F.col("delta_nc"), 8)
        ),
        10,
    )
    p_lo = F.round(
        phi_col(
            F.round(-F.abs(F.col("w_stat")) - F.col("delta_nc"), 8)
        ),
        10,
    )
    zc = 1.6448536269514722
    return z.select(
        F.col("n1").alias("n_fri_sat"),
        F.col("n0").alias("n_sun_thu"),
        (F.col("w_stat") + 0.0).alias("ah_w_stat"),
        (F.col("delta_nc") + 0.0).alias("ah_noncentrality"),
        (F.round(p_hi - p_lo, 8) + 0.0).alias("ah_p_value"),
        F.when(p_hi - p_lo <= 0.05, 1)
        .otherwise(0)
        .cast("int")
        .alias("ah_equivalent_at_5pct"),
        F.when(
            (F.col("w_stat") + F.col("delta_nc") >= zc)
            & (F.col("w_stat") - F.col("delta_nc") <= -zc),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("tost_equivalent_at_5pct"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "anderson_hauck_equivalence": (
            "no window — one arm rollup + scalar folds (the "
            "tost_equivalence_means frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# Fieller CI for the per-arm revenue-per-event ratio metric
# --------------------------------------------------------------------------
@register(
    "fieller_ratio_ci",
    oracle="""
    WITH per_user AS (
        SELECT user_id, user_id % 2 AS grp,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY user_id
    ),
    g AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                   AS sxx,
               SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                   AS syy,
               SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                   AS sxy
        FROM per_user GROUP BY grp
    ),
    v AS (
        SELECT grp, n,
               CAST(sx AS DOUBLE) / n AS xb,
               CAST(sy AS DOUBLE) / n AS yb,
               (CAST(round(sxx, 0) AS DOUBLE)
                - CAST(sx AS DOUBLE) * sx / n) / (n - 1) / n AS vxx,
               (CAST(round(syy, 0) AS DOUBLE)
                - CAST(sy AS DOUBLE) * sy / n) / (n - 1) / n AS vyy,
               (CAST(round(sxy, 0) AS DOUBLE)
                - CAST(sx AS DOUBLE) * sy / n) / (n - 1) / n AS vxy
        FROM g
    ),
    f AS (
        SELECT grp, n, xb, yb, vxx, vyy, vxy,
               xb * xb - 3.8414588932247 * vxx AS qa,
               xb * yb - 3.8414588932247 * vxy AS qb,
               yb * yb - 3.8414588932247 * vyy AS qc
        FROM v
    )
    SELECT grp AS arm,
           n AS n_users,
           round(yb / xb, 6) + 0.0 AS ratio_cents_per_event,
           round(3.8414588932247 * vxx / (xb * xb), 8) + 0.0
               AS g_fieller,
           round((qb - sqrt(qb * qb - qa * qc)) / qa, 6) + 0.0
               AS fieller_lo,
           round((qb + sqrt(qb * qb - qa * qc)) / qa, 6) + 0.0
               AS fieller_hi,
           round(yb / xb - 1.959964
                 * sqrt((vyy - 2.0 * (yb / xb) * vxy
                         + (yb / xb) * (yb / xb) * vxx)
                        / (xb * xb)), 6) + 0.0 AS delta_lo,
           round(yb / xb + 1.959964
                 * sqrt((vyy - 2.0 * (yb / xb) * vxy
                         + (yb / xb) * (yb / xb) * vxx)
                        / (xb * xb)), 6) + 0.0 AS delta_hi
    FROM f
    ORDER BY grp
    """,
)
def fieller_ratio_ci(spark, sf_dir):
    """FIELLER'S THEOREM confidence interval for the per-arm
    revenue-per-event ratio R = ybar/xbar on exactly the
    `delta_method_ratio_ci` per-user frame (user_id-parity arms,
    user-level clustering): the exact-pivot second opinion to the
    delta method — Fieller inverts the quadratic pivot (ybar -
    R*xbar)^2 <= z^2 Var(ybar - R*xbar), whose roots (qb -/+
    sqrt(qb^2 - qa*qc))/qa are asymmetric about R and remain valid
    when the denominator mean is noisy, where the delta interval is
    symmetric by construction and silently degrades. `g_fieller` =
    z^2 Var(xbar)/xbar^2 is the published closeness-to-singularity
    diagnostic (g -> 1 means the denominator cannot be bounded away
    from zero and the Fieller set becomes a half-line; at these
    event counts g is tiny and the two intervals nearly coincide —
    THAT agreement is the certificate).

    Exactness: per-user x/y exact integers; per-arm n/sx/sy and
    DECIMAL(38,0) power sums fold exactly; xb/yb, the three
    variance terms, the quadratic coefficients, and both interval
    forms are identical IEEE trees in both engines (z^2 =
    3.8414588932247 and z = 1.959964 are shared literals), rounded
    once. Plan: event scan -> user rollup -> 2-group rollup -> per-
    group scalar algebra; no window, no join."""
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        (F.sum(dec("value", 18, 2)) * 100).cast("bigint").alias("y"),
    ).select((F.col("user_id") % 2).alias("grp"), "x", "y")
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    g = per_user.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"),
    )
    n = F.col("n").cast("double")
    xb = F.col("sx").cast("double") / n
    yb = F.col("sy").cast("double") / n
    vxx = (
        F.round(F.col("sxx"), 0).cast("double")
        - F.col("sx").cast("double") * F.col("sx") / n
    ) / (n - 1) / n
    vyy = (
        F.round(F.col("syy"), 0).cast("double")
        - F.col("sy").cast("double") * F.col("sy") / n
    ) / (n - 1) / n
    vxy = (
        F.round(F.col("sxy"), 0).cast("double")
        - F.col("sx").cast("double") * F.col("sy") / n
    ) / (n - 1) / n
    z2 = 3.8414588932247
    zc = 1.959964
    qa = xb * xb - z2 * vxx
    qb = xb * yb - z2 * vxy
    qc = yb * yb - z2 * vyy
    r = yb / xb
    se_d = F.sqrt((vyy - 2.0 * r * vxy + r * r * vxx) / (xb * xb))
    return g.select(
        F.col("grp").alias("arm"),
        F.col("n").alias("n_users"),
        (F.round(r, 6) + 0.0).alias("ratio_cents_per_event"),
        (F.round(z2 * vxx / (xb * xb), 8) + 0.0).alias("g_fieller"),
        (F.round((qb - F.sqrt(qb * qb - qa * qc)) / qa, 6) + 0.0)
        .alias("fieller_lo"),
        (F.round((qb + F.sqrt(qb * qb - qa * qc)) / qa, 6) + 0.0)
        .alias("fieller_hi"),
        (F.round(r - zc * se_d, 6) + 0.0).alias("delta_lo"),
        (F.round(r + zc * se_d, 6) + 0.0).alias("delta_hi"),
    ).orderBy("arm")


PLAN_AUDIT_NOTES.update(
    {
        "fieller_ratio_ci": (
            "no window — user rollup + 2-group rollup + scalar "
            "algebra (the delta_method_ratio_ci frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# Agresti-Caffo add-one interval for the conversion difference
# --------------------------------------------------------------------------
@register(
    "agresti_caffo_diff_ci",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               (user_id * 2654435761) % 4294967296 % 2 AS arm,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id
    ),
    arms AS (
        SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(converted) AS BIGINT) AS conv
        FROM per_user GROUP BY arm
    ),
    x AS (
        SELECT MAX(CASE WHEN arm = 1 THEN n END) AS n1,
               MAX(CASE WHEN arm = 0 THEN n END) AS n0,
               MAX(CASE WHEN arm = 1 THEN conv END) AS c1,
               MAX(CASE WHEN arm = 0 THEN conv END) AS c0
        FROM arms
    ),
    ac AS (
        SELECT n1, n0, c1, c0,
               (c1 + 1.0) / (n1 + 2.0) AS q1,
               (c0 + 1.0) / (n0 + 2.0) AS q0
        FROM x
    )
    SELECT n1 AS n_treat, n0 AS n_ctrl,
           round(CAST(c1 AS DOUBLE) / n1, 9) AS p_treat,
           round(CAST(c0 AS DOUBLE) / n0, 9) AS p_ctrl,
           round(q1 - q0, 9) + 0.0 AS ac_diff,
           round(q1 - q0 - 1.959964
                 * sqrt(q1 * (1.0 - q1) / (n1 + 2.0)
                        + q0 * (1.0 - q0) / (n0 + 2.0)), 9) + 0.0
               AS ac_lo,
           round(q1 - q0 + 1.959964
                 * sqrt(q1 * (1.0 - q1) / (n1 + 2.0)
                        + q0 * (1.0 - q0) / (n0 + 2.0)), 9) + 0.0
               AS ac_hi,
           NOT (q1 - q0 - 1.959964
                * sqrt(q1 * (1.0 - q1) / (n1 + 2.0)
                       + q0 * (1.0 - q0) / (n0 + 2.0)) <= 0.0
                AND 0.0 <=
                q1 - q0 + 1.959964
                * sqrt(q1 * (1.0 - q1) / (n1 + 2.0)
                       + q0 * (1.0 - q0) / (n0 + 2.0)))
               AS significant
    FROM ac
    """,
)
def agresti_caffo_diff_ci(spark, sf_dir):
    """AGRESTI-CAFFO "add one success and one failure per arm"
    interval for the conversion-rate difference on exactly the
    `ab_difference_newcombe` frame (same Knuth-hash arm assignment,
    same per-user purchase conversion): ptilde_i = (x_i+1)/(n_i+2)
    with a plain Wald interval on the smoothed difference — the
    pseudo-count second opinion to Newcombe's hybrid score
    interval. Agresti & Caffo (2000) showed the +1/+1 smoothing
    recovers near-nominal coverage where the raw Wald interval
    collapses (extreme p, small arms), via a different mechanism
    than Wilson score inversion; the two intervals agreeing on the
    significance bit is the robust ship/no-ship certificate, and
    their widths diverging flags the boundary regime.

    Exactness: arm n/conv are exact integers off the same user-
    grain rollup as the Newcombe query; the smoothed proportions
    and Wald margin are identical IEEE trees in both engines
    (z = 1.959964 shared literal), rounded once at 1e-9. Plan: one
    user-grain shuffle, a 2-row arm rollup, scalar algebra — no
    window, no join."""
    from .ext_pipeline import _KNUTH, _M32

    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    ).select(
        ((F.col("user_id").cast("decimal(38,0)") * _KNUTH) % _M32 % 2)
        .cast("bigint")
        .alias("arm"),
        "converted",
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("conv"),
    )
    x = arms.agg(
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("conv"))).alias("c1"),
        F.max(F.when(F.col("arm") == 0, F.col("conv"))).alias("c0"),
    )
    q1 = (F.col("c1") + 1.0) / (F.col("n1") + 2.0)
    q0 = (F.col("c0") + 1.0) / (F.col("n0") + 2.0)
    se = F.sqrt(
        q1 * (1.0 - q1) / (F.col("n1") + 2.0)
        + q0 * (1.0 - q0) / (F.col("n0") + 2.0)
    )
    lo = q1 - q0 - 1.959964 * se
    hi = q1 - q0 + 1.959964 * se
    return x.select(
        F.col("n1").alias("n_treat"),
        F.col("n0").alias("n_ctrl"),
        F.round(F.col("c1").cast("double") / F.col("n1"), 9)
        .alias("p_treat"),
        F.round(F.col("c0").cast("double") / F.col("n0"), 9)
        .alias("p_ctrl"),
        (F.round(q1 - q0, 9) + 0.0).alias("ac_diff"),
        (F.round(lo, 9) + 0.0).alias("ac_lo"),
        (F.round(hi, 9) + 0.0).alias("ac_hi"),
        (~((lo <= 0.0) & (F.lit(0.0) <= hi))).alias("significant"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "agresti_caffo_diff_ci": (
            "no window — user rollup + 2-row arm rollup (the "
            "ab_difference_newcombe frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# Variance CI pair: normal-theory chi2 vs kurtosis-robust (ADF)
# --------------------------------------------------------------------------
@register(
    "variance_ci_kurtosis_robust",
    oracle="""
    WITH pts AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    m1 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               round(CAST(SUM(v) AS DOUBLE) / COUNT(*) / 100000.0, 8)
                   AS mu
        FROM pts
    ),
    devs AS (
        SELECT m1.n, m1.mu,
               CAST(SUM(CAST(round((CAST(pts.v AS DOUBLE) / 100000.0
                        - m1.mu) * (CAST(pts.v AS DOUBLE) / 100000.0
                        - m1.mu), 8) AS DECIMAL(38,8))) AS DOUBLE)
                   AS sd2,
               CAST(SUM(CAST(round((CAST(pts.v AS DOUBLE) / 100000.0
                        - m1.mu) * (CAST(pts.v AS DOUBLE) / 100000.0
                        - m1.mu) * (CAST(pts.v AS DOUBLE) / 100000.0
                        - m1.mu) * (CAST(pts.v AS DOUBLE) / 100000.0
                        - m1.mu), 6) AS DECIMAL(38,6))) AS DOUBLE)
                   AS sd4
        FROM pts, m1
        GROUP BY m1.n, m1.mu
    ),
    stat AS (
        SELECT n,
               sd2 / (n - 1) AS s2,
               sd4 / n AS m4,
               (n - 1.0) * power(1.0 - 2.0 / (9.0 * (n - 1.0))
                   + 1.959964 * sqrt(2.0 / (9.0 * (n - 1.0))), 3)
                   AS q975,
               (n - 1.0) * power(1.0 - 2.0 / (9.0 * (n - 1.0))
                   - 1.959964 * sqrt(2.0 / (9.0 * (n - 1.0))), 3)
                   AS q025
        FROM devs
    ),
    ci AS (
        SELECT n, s2, m4, q975, q025,
               (n - 1.0) * s2 / q975 AS c_lo,
               (n - 1.0) * s2 / q025 AS c_hi,
               sqrt(m4 / n - s2 * s2 * (n - 3.0) / (n * (n - 1.0)))
                   AS se_adf
        FROM stat
    )
    SELECT n AS n_orders,
           round(s2, 4) + 0.0 AS var_kusd2,
           round(m4 / (s2 * s2) - 3.0, 6) + 0.0 AS excess_kurtosis,
           round(c_lo, 4) + 0.0 AS chi2_ci_lo,
           round(c_hi, 4) + 0.0 AS chi2_ci_hi,
           round(s2 - 1.959964 * se_adf, 4) + 0.0 AS adf_ci_lo,
           round(s2 + 1.959964 * se_adf, 4) + 0.0 AS adf_ci_hi,
           round(2.0 * 1.959964 * se_adf / (c_hi - c_lo), 6) + 0.0
               AS width_ratio_adf_vs_chi2
    FROM ci
    """,
)
def variance_ci_kurtosis_robust(spark, sf_dir):
    """VARIANCE confidence-interval pair for order value (kUSD^2):
    the normal-theory chi-square interval (n-1)s^2/chi2_{.975,.025}
    — with the chi-square quantiles from the Wilson-Hilferty cube
    approximation k(1 - 2/(9k) +/- z*sqrt(2/(9k)))^3, Abramowitz-
    Stegun 26.4.17 — beside the asymptotically-distribution-free
    interval s^2 +/- z*sqrt(mu4/n - sigma^4 (n-3)/(n(n-1))) that
    replaces the normality assumption with the measured fourth
    moment. On a heavy-tailed revenue distribution the chi2
    interval is known to under-cover badly (its width ignores
    kurtosis entirely); `width_ratio_adf_vs_chi2` >> 1 QUANTIFIES
    how optimistic every normal-theory variance readout in the
    registry is, and `excess_kurtosis` names the cause — the
    second opinion the bare `stats_moments_by_flag` numbers need.

    Exactness: two-pass central moments — the exact-integer mean
    (cents BIGINT fold) is pinned at 8 dp, then deviation powers
    round at 8/6 dp into DECIMAL(38,x) folds (order-independent;
    dev^4 <= 6.25e10 kUSD^4 keeps the 64x fold far from the
    DECIMAL(38,6) rail — the r13 erlang lesson). Both intervals are
    identical IEEE trees over (n, s2, m4). Plan: two scans of
    orders (mean fold, then broadcast-scalar deviation fold) — no
    window, no shuffle beyond two 1-row aggs."""
    o = t(spark, sf_dir, "orders")
    pts = o.select(
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v")
    )
    m1 = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum("v").cast("double") / F.count(F.lit(1)) / 100000.0, 8
        ).alias("mu"),
    )
    dv = F.col("v").cast("double") / 100000.0 - F.col("mu")
    devs = (
        pts.crossJoin(F.broadcast(m1))
        .groupBy("n", "mu")
        .agg(
            F.sum(F.round(dv * dv, 8).cast("decimal(38,8)"))
            .cast("double")
            .alias("sd2"),
            F.sum(F.round(dv * dv * dv * dv, 6).cast("decimal(38,6)"))
            .cast("double")
            .alias("sd4"),
        )
    )
    n = F.col("n").cast("double")
    s2 = F.col("sd2") / (n - 1)
    m4 = F.col("sd4") / n
    k = n - 1.0
    zc = 1.959964
    q975 = k * F.pow(
        1.0 - 2.0 / (9.0 * k) + zc * F.sqrt(2.0 / (9.0 * k)), 3
    )
    q025 = k * F.pow(
        1.0 - 2.0 / (9.0 * k) - zc * F.sqrt(2.0 / (9.0 * k)), 3
    )
    c_lo = k * s2 / q975
    c_hi = k * s2 / q025
    se_adf = F.sqrt(m4 / n - s2 * s2 * (n - 3.0) / (n * (n - 1.0)))
    return devs.select(
        F.col("n").alias("n_orders"),
        (F.round(s2, 4) + 0.0).alias("var_kusd2"),
        (F.round(m4 / (s2 * s2) - 3.0, 6) + 0.0)
        .alias("excess_kurtosis"),
        (F.round(c_lo, 4) + 0.0).alias("chi2_ci_lo"),
        (F.round(c_hi, 4) + 0.0).alias("chi2_ci_hi"),
        (F.round(s2 - zc * se_adf, 4) + 0.0).alias("adf_ci_lo"),
        (F.round(s2 + zc * se_adf, 4) + 0.0).alias("adf_ci_hi"),
        (F.round(2.0 * zc * se_adf / (c_hi - c_lo), 6) + 0.0)
        .alias("width_ratio_adf_vs_chi2"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "variance_ci_kurtosis_robust": (
            "crossJoin is a broadcast 1-row scalar attach (two-pass "
            "central moments); no window"
        ),
    }
)


# --------------------------------------------------------------------------
# Pooled Quesenberry-Miller spacing statistic over per-user timelines
# --------------------------------------------------------------------------
@register(
    "quesenberry_miller_spacings",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id, epoch_us(ts) AS tu,
               LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev
        FROM events
    ),
    gaps AS (
        SELECT user_id, event_id, tu,
               CAST(tu - prev AS BIGINT) AS gap
        FROM seq WHERE prev IS NOT NULL
    ),
    prods AS (
        SELECT user_id, gap,
               LAG(gap) OVER (PARTITION BY user_id
                   ORDER BY tu, event_id) AS pgap
        FROM gaps
    ),
    peruser AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(gap) AS BIGINT) AS span,
               CAST(SUM(CAST(gap AS DECIMAL(19,0)) * gap)
                    AS DECIMAL(38,0)) AS g2,
               CAST(SUM(CAST(gap AS DECIMAL(19,0)) * pgap)
                    AS DECIMAL(38,0)) AS gc
        FROM prods GROUP BY user_id
        HAVING COUNT(*) >= 2 AND SUM(gap) > 0
    ),
    terms AS (
        SELECT round((CAST(g2 AS DOUBLE) + CAST(gc AS DOUBLE))
                     / (CAST(span AS DOUBLE) * span), 10) AS q,
               round((3.0 * m - 1.0) / (m * (m + 1.0)), 10) AS eq,
               round((9.0 * m * m + 35.0 * m - 22.0)
                     / (m * (m + 1.0) * (m + 2.0) * (m + 3.0))
                     - ((3.0 * m - 1.0) / (m * (m + 1.0)))
                       * ((3.0 * m - 1.0) / (m * (m + 1.0))), 12)
                   AS vq
        FROM peruser
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS u,
               CAST(SUM(CAST(q AS DECIMAL(28,10))) AS DOUBLE) AS sq,
               CAST(SUM(CAST(eq AS DECIMAL(28,10))) AS DOUBLE) AS se_,
               CAST(SUM(CAST(vq AS DECIMAL(28,12))) AS DOUBLE) AS sv
        FROM terms
    )
    SELECT u AS n_users,
           round(sq, 6) + 0.0 AS qm_sum,
           round(se_, 6) + 0.0 AS expected_sum,
           round((sq - se_) / sqrt(sv), 6) + 0.0 AS z_pooled
    FROM fold
    """,
)
def quesenberry_miller_spacings(spark, sf_dir):
    """Pooled QUESENBERRY-MILLER spacing statistic over per-user
    event timelines — the adjacent-product second opinion to
    `greenwood_spacing_uniformity` on the identical gaps frame:
    Q_u = sum(D_i^2) + sum(D_i D_{i+1}) over the user's normalized
    spacings adds the lag-1 cross term Greenwood ignores, which
    Quesenberry & Miller (1977) showed buys power against
    ALTERNATING alternatives (short-long-short gap weaves read the
    same G but a smaller Q). Null moments are the EXACT flat-
    Dirichlet rationals E[Q] = (3m-1)/(m(m+1)) and E[Q^2] =
    (9m^2+35m-22)/(m(m+1)(m+2)(m+3)) (derived from the factorial-
    moment product rule E[prod D^k] = (m-1)! prod k_i!/(m-1+K)!
    and MC-verified at m=3/5/12 before authoring), summed across
    users into one pooled z beside Greenwood's.

    Exactness: gaps/spans exact micros BIGINTs; squared-gap and
    adjacent-product sums widen through DECIMAL(19,0); per-user
    Q/E/Var round at 10-12 dp into DECIMAL folds (order-free
    across users). Plan: two user-partitioned lags, one per-user
    rollup, one fold — no global sorts."""
    e = t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = e.select(
        "user_id",
        "event_id",
        us.alias("tu"),
        (us - F.lag(us).over(wu)).alias("gap"),
    ).where(F.col("gap").isNotNull())
    wg = Window.partitionBy("user_id").orderBy("tu", "event_id")
    prods = gaps.select(
        "user_id", "gap", F.lag("gap").over(wg).alias("pgap")
    )
    peruser = (
        prods.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.sum("gap").cast("bigint").alias("span"),
            F.sum(F.col("gap").cast("decimal(19,0)") * F.col("gap"))
            .cast("decimal(38,0)")
            .alias("g2"),
            F.sum(F.col("gap").cast("decimal(19,0)") * F.col("pgap"))
            .cast("decimal(38,0)")
            .alias("gc"),
        )
        .where((F.col("m") >= 2) & (F.col("span") > 0))
    )
    m = F.col("m").cast("double")
    q = F.round(
        (F.col("g2").cast("double") + F.col("gc").cast("double"))
        / (F.col("span").cast("double") * F.col("span")),
        10,
    )
    eq_expr = (3.0 * m - 1.0) / (m * (m + 1.0))
    vq = F.round(
        (9.0 * m * m + 35.0 * m - 22.0)
        / (m * (m + 1.0) * (m + 2.0) * (m + 3.0))
        - eq_expr * eq_expr,
        12,
    )
    terms = peruser.select(
        q.alias("q"),
        F.round(eq_expr, 10).alias("eq"),
        vq.alias("vq"),
    )
    fold = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("u"),
        F.sum(F.col("q").cast("decimal(28,10)"))
        .cast("double")
        .alias("sq"),
        F.sum(F.col("eq").cast("decimal(28,10)"))
        .cast("double")
        .alias("se_"),
        F.sum(F.col("vq").cast("decimal(28,12)"))
        .cast("double")
        .alias("sv"),
    )
    return fold.select(
        F.col("u").alias("n_users"),
        (F.round("sq", 6) + 0.0).alias("qm_sum"),
        (F.round("se_", 6) + 0.0).alias("expected_sum"),
        (
            F.round(
                (F.col("sq") - F.col("se_")) / F.sqrt(F.col("sv")), 6
            )
            + 0.0
        ).alias("z_pooled"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "quesenberry_miller_spacings": (
            "two user-partitioned lags + per-user rollup (the "
            "greenwood_spacing_uniformity frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# Engle ARCH-LM regression test on squared trend residuals
# --------------------------------------------------------------------------
@register(
    "engle_arch_lm",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
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
    ),
    z AS (
        SELECT d,
               round((y - (a + b * d)) * (y - (a + b * d))
                     / (sse / (n - 2)), 9) AS s
        FROM daily, beta
    ),
    trip AS (
        SELECT a.s AS s0, b.s AS s1, c.s AS s2
        FROM z a JOIN z b ON b.d = a.d - 1
                 JOIN z c ON c.d = a.d - 2
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(round(SUM(CAST(round(s0, 9) AS DECIMAL(28,9))), 9)
                    AS DOUBLE) AS t0,
               CAST(round(SUM(CAST(round(s1, 9) AS DECIMAL(28,9))), 9)
                    AS DOUBLE) AS t1,
               CAST(round(SUM(CAST(round(s2, 9) AS DECIMAL(28,9))), 9)
                    AS DOUBLE) AS t2,
               CAST(round(SUM(CAST(round(s0 * s0, 6)
                    AS DECIMAL(32,6))), 6) AS DOUBLE) AS t00,
               CAST(round(SUM(CAST(round(s1 * s1, 6)
                    AS DECIMAL(32,6))), 6) AS DOUBLE) AS t11,
               CAST(round(SUM(CAST(round(s2 * s2, 6)
                    AS DECIMAL(32,6))), 6) AS DOUBLE) AS t22,
               CAST(round(SUM(CAST(round(s0 * s1, 6)
                    AS DECIMAL(32,6))), 6) AS DOUBLE) AS t01,
               CAST(round(SUM(CAST(round(s0 * s2, 6)
                    AS DECIMAL(32,6))), 6) AS DOUBLE) AS t02,
               CAST(round(SUM(CAST(round(s1 * s2, 6)
                    AS DECIMAL(32,6))), 6) AS DOUBLE) AS t12
        FROM trip
    ),
    cen AS (
        SELECT m,
               m * t11 - t1 * t1 AS c11,
               m * t22 - t2 * t2 AS c22,
               m * t12 - t1 * t2 AS c12,
               m * t01 - t0 * t1 AS cy1,
               m * t02 - t0 * t2 AS cy2,
               m * t00 - t0 * t0 AS cyy
        FROM fold
    ),
    r2 AS (
        SELECT m,
               cy1 * cy1 / (c11 * cyy) AS r2_1,
               ((cy1 * c22 - cy2 * c12) * cy1
                + (cy2 * c11 - cy1 * c12) * cy2)
               / ((c11 * c22 - c12 * c12) * cyy) AS r2_2
        FROM cen
    )
    SELECT m AS n_days_common,
           round(r2_1, 8) + 0.0 AS r2_p1,
           round(m * r2_1, 6) + 0.0 AS lm_p1,
           CAST(CASE WHEN m * r2_1 > 3.841459 THEN 1 ELSE 0 END
                AS INT) AS arch_p1_at_5pct,
           round(r2_2, 8) + 0.0 AS r2_p2,
           round(m * r2_2, 6) + 0.0 AS lm_p2,
           CAST(CASE WHEN m * r2_2 > 5.991465 THEN 1 ELSE 0 END
                AS INT) AS arch_p2_at_5pct
    FROM r2
    """,
)
def engle_arch_lm(spark, sf_dir):
    """ENGLE'S ARCH-LM test on the squared studentized trend
    residuals of daily revenue: regress s_t on (1, s_{t-1}) and on
    (1, s_{t-1}, s_{t-2}); LM_p = n*R^2_p ~ chi2_p under
    homoskedasticity — the REGRESSION-form second opinion to
    `arch_effect_mcleod_li` (portmanteau form): McLeod-Li sums
    squared-residual autocorrelations symmetrically, Engle's LM is
    the score test in the actual AR(p)-in-variance model, so a lag
    pattern that cancels in the portmanteau still registers here
    (and p=1 vs p=2 localizes WHERE the volatility memory sits).
    Both p's are fit on the common t >= 3 support so the nested
    R^2s are comparable. Residual studentization s = e^2/(sse/(n-2))
    reuses the McLeod-Li scale-invariance device verbatim.

    Exactness: the trend fit comes from exact DECIMAL(38,0) power
    sums (the shared `_trend_fit` tree); s rounds at 9 dp before
    the triple frame; all nine fold sums are rounded-term DECIMAL
    folds; the 2x2 normal equations solve by Cramer in identical
    IEEE trees (chi2 criticals 3.841459/5.991465 shared literals).
    Plan: day rollup -> two bounded calendar-grid equi-joins (d-1,
    d-2) -> one fold; no window anywhere."""
    from .round10 import _daily_orders, _trend_fit

    daily = _daily_orders(spark, sf_dir).select("d", "y")
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
    za, zb, zc = z.alias("za"), z.alias("zb"), z.alias("zc")
    trip = (
        za.join(zb, F.col("zb.d") == F.col("za.d") - 1)
        .join(zc, F.col("zc.d") == F.col("za.d") - 2)
        .select(
            F.col("za.s").alias("s0"),
            F.col("zb.s").alias("s1"),
            F.col("zc.s").alias("s2"),
        )
    )

    def dfold(expr, scale, prec):
        return (
            F.round(
                F.sum(F.round(expr, scale).cast(f"decimal({prec},{scale})")),
                scale,
            )
            .cast("double")
        )

    s0, s1, s2 = F.col("s0"), F.col("s1"), F.col("s2")
    fold = trip.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        dfold(s0, 9, 28).alias("t0"),
        dfold(s1, 9, 28).alias("t1"),
        dfold(s2, 9, 28).alias("t2"),
        dfold(s0 * s0, 6, 32).alias("t00"),
        dfold(s1 * s1, 6, 32).alias("t11"),
        dfold(s2 * s2, 6, 32).alias("t22"),
        dfold(s0 * s1, 6, 32).alias("t01"),
        dfold(s0 * s2, 6, 32).alias("t02"),
        dfold(s1 * s2, 6, 32).alias("t12"),
    )
    m = F.col("m").cast("double")
    c11 = m * F.col("t11") - F.col("t1") * F.col("t1")
    c22 = m * F.col("t22") - F.col("t2") * F.col("t2")
    c12 = m * F.col("t12") - F.col("t1") * F.col("t2")
    cy1 = m * F.col("t01") - F.col("t0") * F.col("t1")
    cy2 = m * F.col("t02") - F.col("t0") * F.col("t2")
    cyy = m * F.col("t00") - F.col("t0") * F.col("t0")
    r2_1 = cy1 * cy1 / (c11 * cyy)
    det = c11 * c22 - c12 * c12
    r2_2 = (
        (cy1 * c22 - cy2 * c12) * cy1 + (cy2 * c11 - cy1 * c12) * cy2
    ) / (det * cyy)
    return fold.select(
        F.col("m").alias("n_days_common"),
        (F.round(r2_1, 8) + 0.0).alias("r2_p1"),
        (F.round(m * r2_1, 6) + 0.0).alias("lm_p1"),
        F.when(m * r2_1 > 3.841459, 1).otherwise(0).cast("int")
        .alias("arch_p1_at_5pct"),
        (F.round(r2_2, 8) + 0.0).alias("r2_p2"),
        (F.round(m * r2_2, 6) + 0.0).alias("lm_p2"),
        F.when(m * r2_2 > 5.991465, 1).otherwise(0).cast("int")
        .alias("arch_p2_at_5pct"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "engle_arch_lm": (
            "no window — bounded calendar-grid lag equi-joins + one "
            "fold (the arch_effect_mcleod_li frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# Monti PACF portmanteau (with the Ljung-Box twin on identical support)
# --------------------------------------------------------------------------
@register(
    "monti_pacf_portmanteau",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s
        FROM daily
    ),
    num AS (
        SELECT (y.d - x.d) AS lag,
               SUM(CAST((x.v * t.n - t.s) AS DECIMAL(38,0))
                   * CAST((y.v * t.n - t.s) AS DECIMAL(38,0))) AS nk
        FROM daily x
        JOIN daily y ON y.d - x.d BETWEEN 1 AND 3
        CROSS JOIN tot t
        GROUP BY 1
    ),
    den AS (
        SELECT SUM(CAST((v * t.n - t.s) AS DECIMAL(38,0))
                   * CAST((v * t.n - t.s) AS DECIMAL(38,0))) AS d0
        FROM daily, tot t
    ),
    rho AS (
        SELECT t.n,
            round(CAST(MAX(CASE WHEN lag = 1 THEN nk END) AS DOUBLE)
                  / CAST(den.d0 AS DOUBLE), 9) AS r1,
            round(CAST(MAX(CASE WHEN lag = 2 THEN nk END) AS DOUBLE)
                  / CAST(den.d0 AS DOUBLE), 9) AS r2,
            round(CAST(MAX(CASE WHEN lag = 3 THEN nk END) AS DOUBLE)
                  / CAST(den.d0 AS DOUBLE), 9) AS r3
        FROM num, den, tot t GROUP BY den.d0, t.n
    ),
    phi AS (
        SELECT n, r1, r2, r3,
               round(r1, 9) AS p11,
               round((r2 - r1 * r1) / (1.0 - r1 * r1), 9) AS p22,
               round((r3 - (r1 * (1.0 - r2) / (1.0 - r1 * r1)) * r2
                      - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r1)
                     / (1.0 - (r1 * (1.0 - r2) / (1.0 - r1 * r1)) * r1
                        - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r2), 9)
                   AS p33
        FROM rho
    )
    SELECT n AS n_days,
           round(n * (n + 2.0) * (p11 * p11 / (n - 1.0)
                 + p22 * p22 / (n - 2.0)
                 + p33 * p33 / (n - 3.0)), 6) + 0.0 AS monti_q3,
           round(n * (n + 2.0) * (r1 * r1 / (n - 1.0)
                 + r2 * r2 / (n - 2.0)
                 + r3 * r3 / (n - 3.0)), 6) + 0.0 AS ljung_box_q3,
           CAST(CASE WHEN n * (n + 2.0) * (p11 * p11 / (n - 1.0)
                      + p22 * p22 / (n - 2.0)
                      + p33 * p33 / (n - 3.0)) > 7.814728
                     THEN 1 ELSE 0 END AS INT) AS monti_reject_5pct,
           CAST(CASE WHEN n * (n + 2.0) * (r1 * r1 / (n - 1.0)
                      + r2 * r2 / (n - 2.0)
                      + r3 * r3 / (n - 3.0)) > 7.814728
                     THEN 1 ELSE 0 END AS INT) AS lb_reject_5pct
    FROM phi
    """,
)
def monti_pacf_portmanteau(spark, sf_dir):
    """MONTI'S portmanteau on daily event revenue: Q_M = n(n+2)
    sum_k phi_kk^2/(n-k) over the first 3 PARTIAL autocorrelations
    (closed-form Durbin-Levinson, the `pacf_durbin_levinson` tree
    verbatim), beside the classic Ljung-Box Q on the same 3 raw
    autocorrelations and the same support — the PACF-form second
    opinion to `acf_ljung_box`: Monti (1994) showed the partial-
    autocorrelation portmanteau is more powerful when the
    misspecified part is the MA side (an MA(q) signature decays in
    the ACF but cuts off in neither, and near-cancelling rho
    patterns leave LB blind while the phi_kk sequence still
    registers). Both Qs reference chi2_3 (7.814728, shared
    literal); the pair disagreeing localizes AR-vs-MA structure.

    Exactness: the rho_k numerators/denominator are exact
    DECIMAL(38,0) folds of n-scaled integer deviations (the ACF
    device); rho_k round at 9 dp before the recursion, phi_kk at 9
    dp before squaring; the two Qs are identical IEEE trees. Plan:
    day rollup -> bounded lag-3 calendar self-join -> 1-row pivot;
    no window anywhere."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg((F.sum(dec("value", 18, 2)) * 100).cast("bigint").alias("v"))
    daily = daily.persist()
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
    )
    x, y = daily.alias("x"), daily.alias("y")
    ux = (F.col("x.v") * F.col("n") - F.col("s")).cast("decimal(38,0)")
    uy = (F.col("y.v") * F.col("n") - F.col("s")).cast("decimal(38,0)")
    num = (
        x.join(
            F.broadcast(y),
            (F.col("y.d") - F.col("x.d")).between(1, 3),
        )
        .crossJoin(F.broadcast(tot))
        .groupBy((F.col("y.d") - F.col("x.d")).alias("lag"))
        .agg(F.sum(ux * uy).alias("nk"))
    )
    uv = (F.col("v") * F.col("n") - F.col("s")).cast("decimal(38,0)")
    den = daily.crossJoin(F.broadcast(tot)).agg(
        F.sum(uv * uv).alias("d0")
    )
    rho = (
        num.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(tot))
        .groupBy("d0", "n")
        .agg(
            *[
                F.round(
                    F.max(
                        F.when(F.col("lag") == k, F.col("nk"))
                    ).cast("double")
                    / F.col("d0").cast("double"),
                    9,
                ).alias(f"r{k}")
                for k in (1, 2, 3)
            ]
        )
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    p11 = F.round(r1, 9)
    p22_raw = (r2 - r1 * r1) / (1.0 - r1 * r1)
    p21_raw = r1 * (1.0 - r2) / (1.0 - r1 * r1)
    p22 = F.round(p22_raw, 9)
    p33 = F.round(
        (r3 - p21_raw * r2 - p22_raw * r1)
        / (1.0 - p21_raw * r1 - p22_raw * r2),
        9,
    )
    n = F.col("n").cast("double")
    qm = n * (n + 2.0) * (
        p11 * p11 / (n - 1.0)
        + p22 * p22 / (n - 2.0)
        + p33 * p33 / (n - 3.0)
    )
    qlb = n * (n + 2.0) * (
        r1 * r1 / (n - 1.0)
        + r2 * r2 / (n - 2.0)
        + r3 * r3 / (n - 3.0)
    )
    return rho.select(
        F.col("n").alias("n_days"),
        (F.round(qm, 6) + 0.0).alias("monti_q3"),
        (F.round(qlb, 6) + 0.0).alias("ljung_box_q3"),
        F.when(qm > 7.814728, 1).otherwise(0).cast("int")
        .alias("monti_reject_5pct"),
        F.when(qlb > 7.814728, 1).otherwise(0).cast("int")
        .alias("lb_reject_5pct"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "monti_pacf_portmanteau": (
            "no window — bounded lag-3 calendar self-join + 1-row "
            "pivot (the pacf_durbin_levinson frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# Approximate entropy (ApEn, m=2) of daily revenue
# --------------------------------------------------------------------------
@register(
    "approximate_entropy_daily",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    tol AS (
        SELECT CAST(floor(0.2 * sqrt(
                   CAST(COUNT(*) * SUM(CAST(y AS DECIMAL(38,0)) * y)
                        - SUM(CAST(y AS DECIMAL(38,0)))
                          * SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE)
                   / (COUNT(*) * CAST(COUNT(*) - 1 AS DOUBLE))))
               AS BIGINT) AS r
        FROM daily
    ),
    t2 AS (
        SELECT a.day, a.y AS y0, b.y AS y1, c.y AS y2
        FROM daily a
        JOIN daily b ON b.day = a.day + 1
        LEFT JOIN daily c ON c.day = a.day + 2
    ),
    c2 AS (
        SELECT i.day,
               CAST(SUM(CASE WHEN ABS(i.y0 - j.y0) <= r.r
                              AND ABS(i.y1 - j.y1) <= r.r
                         THEN 1 ELSE 0 END) AS BIGINT) AS c
        FROM t2 i JOIN t2 j ON true, tol r
        GROUP BY i.day
    ),
    c3 AS (
        SELECT i.day,
               CAST(SUM(CASE WHEN ABS(i.y0 - j.y0) <= r.r
                              AND ABS(i.y1 - j.y1) <= r.r
                              AND ABS(i.y2 - j.y2) <= r.r
                         THEN 1 ELSE 0 END) AS BIGINT) AS c
        FROM t2 i JOIN t2 j ON j.y2 IS NOT NULL, tol r
        WHERE i.y2 IS NOT NULL
        GROUP BY i.day
    ),
    phi2 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n2,
               CAST(SUM(CAST(round(ln(CAST(c AS DOUBLE)), 8)
                    AS DECIMAL(28,8))) AS DOUBLE) AS slc
        FROM c2
    ),
    phi3 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n3,
               CAST(SUM(CAST(round(ln(CAST(c AS DOUBLE)), 8)
                    AS DECIMAL(28,8))) AS DOUBLE) AS slc
        FROM c3
    )
    SELECT p2.n2 AS n_templates_m2,
           p3.n3 AS n_templates_m3,
           r.r AS r_cents,
           round((p2.slc / p2.n2 - ln(CAST(p2.n2 AS DOUBLE)))
                 - (p3.slc / p3.n3 - ln(CAST(p3.n3 AS DOUBLE))), 6)
               + 0.0 AS apen_m2
    FROM phi2 p2, phi3 p3, tol r
    """,
)
def approximate_entropy_daily(spark, sf_dir):
    """APPROXIMATE ENTROPY (ApEn, m=2, r = floor(0.2*sd)) of the
    daily-revenue series — Pincus's original regularity statistic
    and the second opinion to `sample_entropy_daily`: ApEn keeps
    the SELF-MATCH (every template count >= 1, so it is defined
    even where SampEn's A=0 breaks) and averages per-template LOG
    counts, Phi^m = mean_i ln(C_i^m / N_m), instead of SampEn's
    log of the pooled ratio — so ApEn is biased toward regularity
    but finite-sample-robust, and the (ApEn, SampEn) pair moving
    apart flags exactly the short-series bias regime where neither
    alone is trustworthy. Same integer tolerance, same calendar
    templates.

    Exactness: integer-cents templates and INTEGER tolerance make
    every match comparison exact; per-template counts are exact
    BIGINTs; ln(count) rounds at 8 dp into a DECIMAL(28,8) fold
    (readout at 6 — decade escalation); the template self-join is
    the domain-bounded SampEn device (~2.4k-row calendar frame;
    pair count is a calendar constant, not data-volume-scaled).
    Plan: day rollup -> two bounded self-joins -> two folds."""
    daily = daily_order_cents(spark, sf_dir).persist()
    tol = daily.agg(
        F.floor(
            0.2
            * F.sqrt(
                (
                    F.count(F.lit(1))
                    * F.sum(
                        F.col("y").cast("decimal(38,0)") * F.col("y")
                    )
                    - F.sum(F.col("y").cast("decimal(38,0)"))
                    * F.sum(F.col("y").cast("decimal(38,0)"))
                ).cast("double")
                / (
                    F.count(F.lit(1))
                    * (F.count(F.lit(1)) - 1).cast("double")
                )
            )
        )
        .cast("bigint")
        .alias("r")
    )
    b1 = daily.select(
        (F.col("day") - 1).alias("day"), F.col("y").alias("y1")
    )
    c2s = daily.select(
        (F.col("day") - 2).alias("day"), F.col("y").alias("y2")
    )
    t2 = (
        daily.withColumnRenamed("y", "y0")
        .join(b1, "day")
        .join(c2s, "day", "left")
        .crossJoin(F.broadcast(tol))
        .persist()
    )
    i = t2.select(
        F.col("day").alias("di"),
        F.col("y0").alias("i0"),
        F.col("y1").alias("i1"),
        F.col("y2").alias("i2"),
        "r",
    )
    j = t2.select(
        F.col("day").alias("dj"),
        F.col("y0").alias("j0"),
        F.col("y1").alias("j1"),
        F.col("y2").alias("j2"),
    )
    m2 = (F.abs(F.col("i0") - F.col("j0")) <= F.col("r")) & (
        F.abs(F.col("i1") - F.col("j1")) <= F.col("r")
    )
    c2 = (
        i.join(j, F.lit(True))
        .groupBy("di")
        .agg(F.sum(m2.cast("long")).cast("bigint").alias("c"))
    )
    m3 = m2 & (F.abs(F.col("i2") - F.col("j2")) <= F.col("r"))
    c3 = (
        i.where(F.col("i2").isNotNull())
        .join(j.where(F.col("j2").isNotNull()), F.lit(True))
        .groupBy("di")
        .agg(F.sum(m3.cast("long")).cast("bigint").alias("c"))
    )

    def phi(cdf):
        return cdf.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.round(F.log(F.col("c").cast("double")), 8).cast(
                    "decimal(28,8)"
                )
            )
            .cast("double")
            .alias("slc"),
        )

    p2 = phi(c2).select(
        F.col("n").alias("n2"), F.col("slc").alias("slc2")
    )
    p3 = phi(c3).select(
        F.col("n").alias("n3"), F.col("slc").alias("slc3")
    )
    out = p2.crossJoin(F.broadcast(p3)).crossJoin(F.broadcast(tol))
    apen = (
        F.col("slc2") / F.col("n2")
        - F.log(F.col("n2").cast("double"))
    ) - (
        F.col("slc3") / F.col("n3")
        - F.log(F.col("n3").cast("double"))
    )
    return out.select(
        F.col("n2").alias("n_templates_m2"),
        F.col("n3").alias("n_templates_m3"),
        F.col("r").alias("r_cents"),
        (F.round(apen, 6) + 0.0).alias("apen_m2"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "approximate_entropy_daily": (
            "bounded-domain template self-joins on the ~2.4k-row "
            "calendar frame (the sample_entropy_daily device)"
        ),
    }
)


# --------------------------------------------------------------------------
# Hjorth parameters + Petrosian fractal dimension of daily revenue
# --------------------------------------------------------------------------
@register(
    "hjorth_parameters_daily",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    trip AS (
        SELECT a.y AS y0, b.y AS y1, c.y AS y2
        FROM daily a
        JOIN daily b ON b.day = a.day - 1
        JOIN daily c ON c.day = a.day - 2
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(y0) AS BIGINT) AS sx,
               CAST(SUM(CAST(y0 AS DECIMAL(19,0)) * y0)
                    AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(y0 - y1) AS BIGINT) AS s1,
               CAST(SUM(CAST(y0 - y1 AS DECIMAL(19,0)) * (y0 - y1))
                    AS DECIMAL(38,0)) AS s11,
               CAST(SUM(y0 - 2 * y1 + y2) AS BIGINT) AS s2,
               CAST(SUM(CAST(y0 - 2 * y1 + y2 AS DECIMAL(19,0))
                        * (y0 - 2 * y1 + y2))
                    AS DECIMAL(38,0)) AS s22,
               CAST(SUM(CASE WHEN CAST(y0 - y1 AS DECIMAL(19,0))
                                  * (y1 - y2) < 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS nsc
        FROM trip
    ),
    vars_ AS (
        SELECT m, nsc,
               (m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                   / (CAST(m AS DOUBLE) * m) AS v0,
               (m * CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1)
                   / (CAST(m AS DOUBLE) * m) AS v1,
               (m * CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2)
                   / (CAST(m AS DOUBLE) * m) AS v2
        FROM fold
    )
    SELECT m AS n_days_common,
           round(v0 / 1e10, 4) + 0.0 AS activity_kusd2,
           round(sqrt(v1 / v0), 8) + 0.0 AS mobility,
           round(sqrt(v2 / v1) / sqrt(v1 / v0), 8) + 0.0
               AS complexity,
           nsc AS n_sign_changes,
           round(log10(CAST(m AS DOUBLE))
                 / (log10(CAST(m AS DOUBLE))
                    + log10(m / (m + 0.4 * nsc))), 8) + 0.0
               AS petrosian_fd
    FROM vars_
    """,
)
def hjorth_parameters_daily(spark, sf_dir):
    """HJORTH PARAMETERS (activity, mobility, complexity) of the
    daily-revenue series plus the PETROSIAN fractal dimension — the
    time-domain second opinion to `spectral_entropy_daily` /
    `periodogram_dft_peaks`: Hjorth mobility is exactly the
    normalized second spectral moment (dominant frequency proxy)
    and complexity the bandwidth proxy, computed from variances of
    the series and its first/second calendar differences with NO
    transform — where the periodogram needs the full DFT grid, the
    Hjorth triple is three variance folds, which is the form a
    streaming monitor actually maintains. Petrosian's FD
    (log10 n / (log10 n + log10(n/(n+0.4*NSC))), NSC = strict sign
    changes of the first difference) adds the complexity-class
    reading `higuchi_fractal_dimension` estimates by regression.
    All on the common t>=3 triple support so the three variances
    are comparable (documented convention).

    Exactness: first/second differences are exact BIGINTs on the
    calendar triple frame; all power sums widen through
    DECIMAL(19,0)->DECIMAL(38,0) (at 64x sf0.1 the d2 fold peaks
    ~1e25, 13 digits off the rail); variances, the two ratios, and
    the FD are identical IEEE trees (population-variance
    convention). Plan: day rollup -> two calendar equi-joins -> one
    fold; no window anywhere."""
    daily = daily_order_cents(spark, sf_dir)
    b1 = daily.select(
        (F.col("day") + 1).alias("day"), F.col("y").alias("y1")
    )
    c2 = daily.select(
        (F.col("day") + 2).alias("day"), F.col("y").alias("y2")
    )
    trip = (
        daily.withColumnRenamed("y", "y0")
        .join(b1, "day")
        .join(c2, "day")
    )
    d1 = F.col("y0") - F.col("y1")
    d2 = F.col("y0") - 2 * F.col("y1") + F.col("y2")
    fold = trip.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("y0").cast("bigint").alias("sx"),
        F.sum(F.col("y0").cast("decimal(19,0)") * F.col("y0"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(d1).cast("bigint").alias("s1"),
        F.sum(d1.cast("decimal(19,0)") * d1)
        .cast("decimal(38,0)")
        .alias("s11"),
        F.sum(d2).cast("bigint").alias("s2"),
        F.sum(d2.cast("decimal(19,0)") * d2)
        .cast("decimal(38,0)")
        .alias("s22"),
        F.sum(
            F.when(
                d1.cast("decimal(19,0)") * (F.col("y1") - F.col("y2"))
                < 0,
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("nsc"),
    )
    m = F.col("m").cast("double")
    v0 = (
        m * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx")
    ) / (m * m)
    v1 = (
        m * F.col("s11").cast("double")
        - F.col("s1").cast("double") * F.col("s1")
    ) / (m * m)
    v2 = (
        m * F.col("s22").cast("double")
        - F.col("s2").cast("double") * F.col("s2")
    ) / (m * m)
    lg = F.log10(m)
    return fold.select(
        F.col("m").alias("n_days_common"),
        (F.round(v0 / 1e10, 4) + 0.0).alias("activity_kusd2"),
        (F.round(F.sqrt(v1 / v0), 8) + 0.0).alias("mobility"),
        (F.round(F.sqrt(v2 / v1) / F.sqrt(v1 / v0), 8) + 0.0)
        .alias("complexity"),
        F.col("nsc").alias("n_sign_changes"),
        (
            F.round(
                lg / (lg + F.log10(m / (m + 0.4 * F.col("nsc")))), 8
            )
            + 0.0
        ).alias("petrosian_fd"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "hjorth_parameters_daily": (
            "no window — calendar-grid difference equi-joins + one "
            "fold"
        ),
    }
)


# --------------------------------------------------------------------------
# Theta-method 28-day holdout forecast, MASE-scored vs naive
# --------------------------------------------------------------------------
@register(
    "theta_method_mase",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    idxd AS (
        SELECT ROW_NUMBER() OVER (ORDER BY day) AS i,
               CAST(y AS DOUBLE) / 100000.0 AS yk
        FROM daily
    ),
    nn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) - 28 AS BIGINT) AS th
        FROM idxd
    ),
    head AS (
        SELECT i, yk, th FROM idxd, nn WHERE i <= th
    ),
    slope AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(i) AS BIGINT) AS si,
               CAST(SUM(CAST(round(yk, 5) AS DECIMAL(28,5)))
                    AS DOUBLE) AS sy,
               CAST(SUM(CAST(i AS DECIMAL(38,0)) * i) AS DECIMAL(38,0))
                   AS sii,
               CAST(SUM(CAST(round(i * yk, 5) AS DECIMAL(32,5)))
                    AS DOUBLE) AS siy
        FROM head
    ),
    lvl AS (
        SELECT CAST(SUM(CAST(round(
                   CASE WHEN i = 1
                        THEN round(power(0.8, th - 1), 12) * yk
                        ELSE 0.2 * round(power(0.8, th - i), 12) * yk
                   END, 8) AS DECIMAL(28,8))) AS DOUBLE) AS l_ses
        FROM head
    ),
    ylast AS (
        SELECT yk AS y_last FROM head, nn WHERE i = nn.th
    ),
    insnaive AS (
        SELECT CAST(SUM(CAST(round(ABS(yk - pyk), 8)
                    AS DECIMAL(28,8))) AS DOUBLE)
                   / (MAX(th) - 1.0) AS mae_d
        FROM (SELECT i, yk, th,
                     LAG(yk) OVER (ORDER BY i) AS pyk
              FROM head)
        WHERE pyk IS NOT NULL
    ),
    bexpr AS (
        SELECT (m * siy - si * sy)
               / (m * CAST(sii AS DOUBLE) - CAST(si AS DOUBLE) * si)
                   AS b
        FROM slope
    ),
    hold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nh,
               CAST(SUM(CAST(round(ABS(d.yk
                   - (l.l_ses + (b.b / 2.0)
                      * ((d.i - n.th) - 1.0 + 5.0))), 8)
                   AS DECIMAL(28,8))) AS DOUBLE) AS sae_theta,
               CAST(SUM(CAST(round(ABS(d.yk - y.y_last), 8)
                   AS DECIMAL(28,8))) AS DOUBLE) AS sae_naive
        FROM idxd d, nn n, lvl l, bexpr b, ylast y
        WHERE d.i > n.th
    )
    SELECT s.m AS n_head_days,
           h.nh AS n_holdout_days,
           round(h.sae_theta / h.nh, 6) + 0.0 AS theta_mae_kusd,
           round(h.sae_naive / h.nh, 6) + 0.0 AS naive_mae_kusd,
           round(h.sae_theta / h.nh / i.mae_d, 6) + 0.0
               AS theta_mase,
           round(h.sae_naive / h.nh / i.mae_d, 6) + 0.0
               AS naive_mase
    FROM slope s, hold h, insnaive i
    """,
)
def theta_method_mase(spark, sf_dir):
    """THETA-METHOD (theta=2) 28-day holdout forecast of daily
    revenue, MASE-scored beside the last-value naive — the
    decomposition-free second opinion to `holt_linear_forecast` /
    `seasonal_naive_mase`: by Hyndman & Billah (2003) the Theta(2)
    forecast is EXACTLY simple exponential smoothing plus a drift
    of half the OLS slope, yhat(h) = L_T + (b/2)(h - 1 + 1/alpha),
    so the whole method reduces to one geometric-weight fold
    (pinned alpha = 0.2, L_1 = y_1 init) and the shared exact-OLS
    slope — no recursion state, which is why the M3-winning method
    fits a distributed engine. MASE denominators use the in-sample
    one-step naive MAE (Hyndman & Koehler), making theta_mase vs
    naive_mase directly comparable to the seasonal-naive readout.

    Exactness: the sequence index is a row_number over the
    ~2.4k-row calendar frame (bounded-domain window, the
    updown_runs class); geometric weights round at 12 dp before the
    8-dp product fold (0.8^k underflows the pin beyond k~130, an
    exact-zero tail in both engines); slope from exact
    integer-index folds; all absolute-error folds are rounded-term
    DECIMAL sums. Plan: day rollup -> one bounded window -> four
    scalar folds + broadcast-scalar holdout scoring."""
    daily = daily_order_cents(spark, sf_dir)
    wday = Window.orderBy("day")
    idxd = daily.select(
        F.row_number().over(wday).cast("bigint").alias("i"),
        (F.col("y").cast("double") / 100000.0).alias("yk"),
    ).persist()
    nn = idxd.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.count(F.lit(1)) - 28).cast("bigint").alias("th"),
    )
    head = idxd.crossJoin(F.broadcast(nn)).where(
        F.col("i") <= F.col("th")
    )
    slope = head.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("i").cast("bigint").alias("si"),
        F.sum(F.round("yk", 5).cast("decimal(28,5)"))
        .cast("double")
        .alias("sy"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("i"))
        .cast("decimal(38,0)")
        .alias("sii"),
        F.sum(F.round(F.col("i") * F.col("yk"), 5).cast("decimal(32,5)"))
        .cast("double")
        .alias("siy"),
    )
    wgt = F.when(
        F.col("i") == 1,
        F.round(F.pow(0.8, F.col("th") - 1), 12) * F.col("yk"),
    ).otherwise(
        0.2 * F.round(F.pow(0.8, F.col("th") - F.col("i")), 12)
        * F.col("yk")
    )
    lvl = head.agg(
        F.sum(F.round(wgt, 8).cast("decimal(28,8)"))
        .cast("double")
        .alias("l_ses")
    )
    ylast = head.where(F.col("i") == F.col("th")).select(
        F.col("yk").alias("y_last")
    )
    lagh = head.select(
        "i", "yk", "th", F.lag("yk").over(Window.orderBy("i")).alias("pyk")
    ).where(F.col("pyk").isNotNull())
    insnaive = lagh.agg(
        (
            F.sum(
                F.round(F.abs(F.col("yk") - F.col("pyk")), 8).cast(
                    "decimal(28,8)"
                )
            ).cast("double")
            / (F.max("th") - 1.0)
        ).alias("mae_d")
    )
    b = (
        (
            F.col("m") * F.col("siy")
            - F.col("si").cast("double") * F.col("sy")
        )
        / (
            F.col("m") * F.col("sii").cast("double")
            - F.col("si").cast("double") * F.col("si")
        )
    )
    bexpr = slope.select(F.col("m"), b.alias("b"))
    hold = (
        idxd.crossJoin(F.broadcast(nn))
        .where(F.col("i") > F.col("th"))
        .crossJoin(F.broadcast(lvl))
        .crossJoin(F.broadcast(bexpr))
        .crossJoin(F.broadcast(ylast))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nh"),
            F.sum(
                F.round(
                    F.abs(
                        F.col("yk")
                        - (
                            F.col("l_ses")
                            + (F.col("b") / 2.0)
                            * (
                                (F.col("i") - F.col("th")).cast("double")
                                - 1.0
                                + 5.0
                            )
                        )
                    ),
                    8,
                ).cast("decimal(28,8)")
            )
            .cast("double")
            .alias("sae_theta"),
            F.sum(
                F.round(F.abs(F.col("yk") - F.col("y_last")), 8).cast(
                    "decimal(28,8)"
                )
            )
            .cast("double")
            .alias("sae_naive"),
            F.max("m").alias("m"),
        )
    )
    return hold.crossJoin(F.broadcast(insnaive)).select(
        F.col("m").alias("n_head_days"),
        F.col("nh").alias("n_holdout_days"),
        (F.round(F.col("sae_theta") / F.col("nh"), 6) + 0.0)
        .alias("theta_mae_kusd"),
        (F.round(F.col("sae_naive") / F.col("nh"), 6) + 0.0)
        .alias("naive_mae_kusd"),
        (
            F.round(
                F.col("sae_theta") / F.col("nh") / F.col("mae_d"), 6
            )
            + 0.0
        ).alias("theta_mase"),
        (
            F.round(
                F.col("sae_naive") / F.col("nh") / F.col("mae_d"), 6
            )
            + 0.0
        ).alias("naive_mase"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "theta_method_mase": (
            "bounded calendar-frame windows (row_number + one lag "
            "over ~2.4k rows, the updown_runs class); scalar "
            "broadcasts elsewhere"
        ),
    }
)


# --------------------------------------------------------------------------
# Sato-Vartia and Walsh price indices (the Fisher/Tornqvist second pair)
# --------------------------------------------------------------------------
_MATCHED_BRANDS_SQL = """
    per AS (
        SELECT CAST(epoch_us(l_shipdate) // 86400000000 // 30
                    AS BIGINT) AS m30,
               p.p_brand AS b,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                             * 100 AS BIGINT)) AS BIGINT) AS r
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ),
    lims AS (SELECT CAST(min(m30) AS BIGINT) AS m0,
                    CAST(max(m30) AS BIGINT) AS m1 FROM per),
    base AS (
        SELECT b, q AS q0, r AS r0,
               round(CAST(r AS DOUBLE) / q / 100.0, 8) AS p0
        FROM per, lims WHERE per.m30 = lims.m0
    ),
    curr AS (
        SELECT b, q AS q1, r AS r1,
               round(CAST(r AS DOUBLE) / q / 100.0, 8) AS p1
        FROM per, lims WHERE per.m30 = lims.m1
    ),
    matched AS (
        SELECT base.b, q0, r0, p0, q1, r1, p1
        FROM base JOIN curr ON base.b = curr.b
    )
"""


@register(
    "sato_vartia_walsh_index",
    oracle=f"""
    WITH {_MATCHED_BRANDS_SQL},
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(r0) AS BIGINT) AS sr0,
               CAST(SUM(r1) AS BIGINT) AS sr1,
               CAST(SUM(CAST(round(p1 * sqrt(CAST(q0 AS DOUBLE) * q1),
                    6) AS DECIMAL(38,6))) AS DOUBLE) AS wn,
               CAST(SUM(CAST(round(p0 * sqrt(CAST(q0 AS DOUBLE) * q1),
                    6) AS DECIMAL(38,6))) AS DOUBLE) AS wd,
               CAST(SUM(CAST(round(p1 * q0, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS p1q0,
               CAST(SUM(CAST(round(p0 * q0, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS p0q0,
               CAST(SUM(CAST(round(p1 * q1, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS p1q1,
               CAST(SUM(CAST(round(p0 * q1, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS p0q1
        FROM matched
    ),
    lw AS (
        SELECT CAST(SUM(CAST(round(
                   CASE WHEN round(CAST(m.r1 AS DOUBLE) / t.sr1, 10)
                             = round(CAST(m.r0 AS DOUBLE) / t.sr0, 10)
                        THEN round(CAST(m.r0 AS DOUBLE) / t.sr0, 10)
                        ELSE (round(CAST(m.r1 AS DOUBLE) / t.sr1, 10)
                              - round(CAST(m.r0 AS DOUBLE) / t.sr0, 10))
                             / (ln(round(CAST(m.r1 AS DOUBLE) / t.sr1,
                                         10))
                                - ln(round(CAST(m.r0 AS DOUBLE) / t.sr0,
                                           10)))
                   END, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sl,
               CAST(SUM(CAST(round(
                   CASE WHEN round(CAST(m.r1 AS DOUBLE) / t.sr1, 10)
                             = round(CAST(m.r0 AS DOUBLE) / t.sr0, 10)
                        THEN round(CAST(m.r0 AS DOUBLE) / t.sr0, 10)
                        ELSE (round(CAST(m.r1 AS DOUBLE) / t.sr1, 10)
                              - round(CAST(m.r0 AS DOUBLE) / t.sr0, 10))
                             / (ln(round(CAST(m.r1 AS DOUBLE) / t.sr1,
                                         10))
                                - ln(round(CAST(m.r0 AS DOUBLE) / t.sr0,
                                           10)))
                   END * round(ln(m.p1 / m.p0), 10), 12)
                   AS DECIMAL(28,12))) AS DOUBLE) AS slp
        FROM matched m, tot t
    )
    SELECT t.k AS n_brands_matched,
           round(exp(lw.slp / lw.sl), 6) + 0.0 AS sato_vartia,
           round(t.wn / t.wd, 6) + 0.0 AS walsh,
           round(sqrt((t.p1q0 / t.p0q0) * (t.p1q1 / t.p0q1)), 6)
               + 0.0 AS fisher_ideal,
           round(abs(lw.slp / lw.sl
                     - 0.5 * (ln(t.p1q0 / t.p0q0)
                              + ln(t.p1q1 / t.p0q1))), 8) + 0.0
               AS sv_vs_fisher_abs_log_gap
    FROM tot t, lw
    """,
)
def sato_vartia_walsh_index(spark, sf_dir):
    """SATO-VARTIA and WALSH price indices between the first and
    last 30-day shipping period on exactly the
    `fisher_tornqvist_index` matched-brands frame — the other two
    superlative-class forms: Sato-Vartia weights log price
    relatives by NORMALIZED LOGARITHMIC MEANS of the period revenue
    shares, L(w1,w0) = (w1-w0)/(ln w1 - ln w0) (the unique index
    that is exact for CES preferences and passes the factor
    reversal test in log form), and Walsh uses the
    geometric-mean basket sqrt(q0*q1). All superlative indices
    agree to second order; `sv_vs_fisher_abs_log_gap` MEASURES the
    third-order disagreement, which blows up exactly when
    between-period substitution is violent — the hidden-regime
    screen the Fisher number alone cannot provide.

    Exactness: per-(brand, period) cents/quantities exact; unit
    prices pin at 8 dp; revenue shares pin at 10 dp before the
    logarithmic-mean branch (the w1 = w0 tie falls back to w
    exactly, same CASE in both engines); L and L*ln-relative terms
    round at 12 dp into DECIMAL folds; Walsh basket terms at 6 dp.
    Plan: lineitem+part rollup -> two period slices joined on brand
    (bounded brand grid) -> two folds; no window."""
    li = t(spark, sf_dir, "lineitem")
    pt = t(spark, sf_dir, "part")
    per = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy(
            F.floor(
                F.floor(F.unix_micros("l_shipdate") / 86_400_000_000)
                / 30
            )
            .cast("bigint")
            .alias("m30"),
            F.col("p_brand").alias("b"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("q"),
            (F.sum(dec("l_extendedprice", 18, 2)) * 100)
            .cast("bigint")
            .alias("r"),
        )
        .persist()
    )
    lims = per.agg(
        F.min("m30").cast("bigint").alias("m0"),
        F.max("m30").cast("bigint").alias("m1"),
    )
    wl = per.crossJoin(F.broadcast(lims))
    price = F.round(
        F.col("r").cast("double") / F.col("q") / 100.0, 8
    )
    base = wl.where(F.col("m30") == F.col("m0")).select(
        "b",
        F.col("q").alias("q0"),
        F.col("r").alias("r0"),
        price.alias("p0"),
    )
    curr = wl.where(F.col("m30") == F.col("m1")).select(
        "b",
        F.col("q").alias("q1"),
        F.col("r").alias("r1"),
        price.alias("p1"),
    )
    matched = base.join(curr, "b").persist()
    tot = matched.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("r0").cast("bigint").alias("sr0"),
        F.sum("r1").cast("bigint").alias("sr1"),
        F.sum(
            F.round(
                F.col("p1")
                * F.sqrt(F.col("q0").cast("double") * F.col("q1")),
                6,
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("wn"),
        F.sum(
            F.round(
                F.col("p0")
                * F.sqrt(F.col("q0").cast("double") * F.col("q1")),
                6,
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("wd"),
        F.sum(F.round(F.col("p1") * F.col("q0"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("p1q0"),
        F.sum(F.round(F.col("p0") * F.col("q0"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("p0q0"),
        F.sum(F.round(F.col("p1") * F.col("q1"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("p1q1"),
        F.sum(F.round(F.col("p0") * F.col("q1"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("p0q1"),
    )
    mt = matched.crossJoin(F.broadcast(tot))
    w1 = F.round(F.col("r1").cast("double") / F.col("sr1"), 10)
    w0 = F.round(F.col("r0").cast("double") / F.col("sr0"), 10)
    lmean = F.when(w1 == w0, w0).otherwise(
        (w1 - w0) / (F.log(w1) - F.log(w0))
    )
    lw = mt.agg(
        F.sum(F.round(lmean, 12).cast("decimal(28,12)"))
        .cast("double")
        .alias("sl"),
        F.sum(
            F.round(
                lmean * F.round(F.log(F.col("p1") / F.col("p0")), 10),
                12,
            ).cast("decimal(28,12)")
        )
        .cast("double")
        .alias("slp"),
    )
    out = tot.crossJoin(F.broadcast(lw))
    lasp = F.col("p1q0") / F.col("p0q0")
    paas = F.col("p1q1") / F.col("p0q1")
    svlog = F.col("slp") / F.col("sl")
    return out.select(
        F.col("k").alias("n_brands_matched"),
        (F.round(F.exp(svlog), 6) + 0.0).alias("sato_vartia"),
        (F.round(F.col("wn") / F.col("wd"), 6) + 0.0).alias("walsh"),
        (F.round(F.sqrt(lasp * paas), 6) + 0.0).alias("fisher_ideal"),
        (
            F.round(
                F.abs(svlog - 0.5 * (F.log(lasp) + F.log(paas))), 8
            )
            + 0.0
        ).alias("sv_vs_fisher_abs_log_gap"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "sato_vartia_walsh_index": (
            "no window — brand-grid period slices + two folds (the "
            "fisher_tornqvist_index frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# Bennet additive price/quantity decomposition (the LMDI second opinion)
# --------------------------------------------------------------------------
@register(
    "bennet_price_quantity_decomp",
    oracle=f"""
    WITH {_MATCHED_BRANDS_SQL},
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(r1) AS BIGINT) - CAST(SUM(r0) AS BIGINT)
                   AS dv_cents,
               CAST(SUM(CAST(round(
                   0.5 * (CAST(q0 AS DOUBLE) + q1) * (p1 - p0) * 100.0,
                   6) AS DECIMAL(38,6))) AS DOUBLE) AS price_cents,
               CAST(SUM(CAST(round(
                   0.5 * (p0 + p1) * (CAST(q1 AS DOUBLE) - q0) * 100.0,
                   6) AS DECIMAL(38,6))) AS DOUBLE) AS qty_cents
        FROM matched
    )
    SELECT k AS n_brands_matched,
           round(dv_cents / 100000.0, 4) + 0.0 AS value_change_kusd,
           round(price_cents / 100000.0, 4) + 0.0
               AS bennet_price_kusd,
           round(qty_cents / 100000.0, 4) + 0.0
               AS bennet_quantity_kusd,
           round((price_cents + qty_cents - dv_cents) / 100000.0, 4)
               + 0.0 AS identity_gap_kusd
    FROM fold
    """,
)
def bennet_price_quantity_decomp(spark, sf_dir):
    """BENNET indicator decomposition of the matched-brand revenue
    change between the first and last 30-day shipping period:
    price indicator sum 0.5(q0+q1)(p1-p0) and quantity indicator
    sum 0.5(p0+p1)(q1-q0), which satisfy the EXACT ADDITIVE
    identity price + quantity = value change (Bennet 1920; the
    Shapley/symmetric-weights decomposition in difference form) —
    the additive-dollars second opinion to `lmdi_decomposition`'s
    multiplicative log-mean bridge: LMDI answers "what multiplied
    revenue", Bennet answers "how many DOLLARS came from price vs
    volume", and the two closing on the same matched frame is the
    decomposition-consistency certificate. `identity_gap_kusd`
    ships the identity residual (zero up to the declared 6-dp term
    rounds) as a self-check column.

    Exactness: the value change is an exact integer cents
    difference; each Bennet term is one IEEE expression over exact
    q0/q1 BIGINTs and 8-dp-pinned unit prices, rounded at 6 dp
    into DECIMAL(38,6) folds (both engines identical trees). Plan:
    the matched-brands frame (lineitem+part rollup -> two period
    slices -> brand join) -> one fold; no window."""
    li = t(spark, sf_dir, "lineitem")
    pt = t(spark, sf_dir, "part")
    per = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy(
            F.floor(
                F.floor(F.unix_micros("l_shipdate") / 86_400_000_000)
                / 30
            )
            .cast("bigint")
            .alias("m30"),
            F.col("p_brand").alias("b"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("q"),
            (F.sum(dec("l_extendedprice", 18, 2)) * 100)
            .cast("bigint")
            .alias("r"),
        )
        .persist()
    )
    lims = per.agg(
        F.min("m30").cast("bigint").alias("m0"),
        F.max("m30").cast("bigint").alias("m1"),
    )
    wl = per.crossJoin(F.broadcast(lims))
    price = F.round(
        F.col("r").cast("double") / F.col("q") / 100.0, 8
    )
    base = wl.where(F.col("m30") == F.col("m0")).select(
        "b",
        F.col("q").alias("q0"),
        F.col("r").alias("r0"),
        price.alias("p0"),
    )
    curr = wl.where(F.col("m30") == F.col("m1")).select(
        "b",
        F.col("q").alias("q1"),
        F.col("r").alias("r1"),
        price.alias("p1"),
    )
    matched = base.join(curr, "b")
    pterm = (
        0.5
        * (F.col("q0").cast("double") + F.col("q1"))
        * (F.col("p1") - F.col("p0"))
        * 100.0
    )
    qterm = (
        0.5
        * (F.col("p0") + F.col("p1"))
        * (F.col("q1").cast("double") - F.col("q0"))
        * 100.0
    )
    fold = matched.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        (
            F.sum("r1").cast("bigint") - F.sum("r0").cast("bigint")
        ).alias("dv_cents"),
        F.sum(F.round(pterm, 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("price_cents"),
        F.sum(F.round(qterm, 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("qty_cents"),
    )
    return fold.select(
        F.col("k").alias("n_brands_matched"),
        (F.round(F.col("dv_cents") / 100000.0, 4) + 0.0)
        .alias("value_change_kusd"),
        (F.round(F.col("price_cents") / 100000.0, 4) + 0.0)
        .alias("bennet_price_kusd"),
        (F.round(F.col("qty_cents") / 100000.0, 4) + 0.0)
        .alias("bennet_quantity_kusd"),
        (
            F.round(
                (
                    F.col("price_cents")
                    + F.col("qty_cents")
                    - F.col("dv_cents")
                )
                / 100000.0,
                4,
            )
            + 0.0
        ).alias("identity_gap_kusd"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "bennet_price_quantity_decomp": (
            "no window — brand-grid period slices + one fold (the "
            "fisher_tornqvist_index frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# Kitagawa rate decomposition of the fulfilled-order rate across halves
# --------------------------------------------------------------------------
@register(
    "kitagawa_rate_decomposition",
    oracle="""
    WITH base AS (
        SELECT c.c_nationkey AS nk,
               CAST(epoch_us(o.o_orderdate) // 86400000000 AS BIGINT)
                   AS day,
               CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS f
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    mid AS (
        SELECT CAST((min(day) + max(day) + 1) // 2 AS BIGINT) AS m
        FROM base
    ),
    cell AS (
        SELECT nk,
               CASE WHEN day < m THEN 0 ELSE 1 END AS p,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(f) AS BIGINT) AS nf
        FROM base, mid GROUP BY 1, 2
    ),
    ptot AS (
        SELECT p, CAST(SUM(n) AS BIGINT) AS tn FROM cell GROUP BY p
    ),
    wide AS (
        SELECT COALESCE(a.nk, b.nk) AS nk,
               COALESCE(round(CAST(a.n AS DOUBLE)
                   / (SELECT tn FROM ptot WHERE p = 0), 10), 0.0)
                   AS s0,
               COALESCE(round(CAST(b.n AS DOUBLE)
                   / (SELECT tn FROM ptot WHERE p = 1), 10), 0.0)
                   AS s1,
               COALESCE(round(CAST(a.nf AS DOUBLE) / a.n, 10),
                        round(CAST(b.nf AS DOUBLE) / b.n, 10)) AS r0,
               COALESCE(round(CAST(b.nf AS DOUBLE) / b.n, 10),
                        round(CAST(a.nf AS DOUBLE) / a.n, 10)) AS r1
        FROM (SELECT * FROM cell WHERE p = 0) a
        FULL OUTER JOIN (SELECT * FROM cell WHERE p = 1) b
            ON a.nk = b.nk
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(round(s0 * r0, 12) AS DECIMAL(28,12)))
                    AS DOUBLE) AS rate0,
               CAST(SUM(CAST(round(s1 * r1, 12) AS DECIMAL(28,12)))
                    AS DOUBLE) AS rate1,
               CAST(SUM(CAST(round(0.5 * (s0 + s1) * (r1 - r0), 12)
                    AS DECIMAL(28,12))) AS DOUBLE) AS rate_eff,
               CAST(SUM(CAST(round(0.5 * (r0 + r1) * (s1 - s0), 12)
                    AS DECIMAL(28,12))) AS DOUBLE) AS comp_eff
        FROM wide
    )
    SELECT k AS n_nations,
           round(rate0, 8) + 0.0 AS fulfilled_rate_h1,
           round(rate1, 8) + 0.0 AS fulfilled_rate_h2,
           round(rate1 - rate0, 8) + 0.0 AS rate_diff,
           round(rate_eff, 8) + 0.0 AS rate_effect,
           round(comp_eff, 8) + 0.0 AS composition_effect,
           round(rate_eff + comp_eff - (rate1 - rate0), 10) + 0.0
               AS identity_gap
    FROM fold
    """,
)
def kitagawa_rate_decomposition(spark, sf_dir):
    """KITAGAWA (1955) decomposition of the fulfilled-order ('F'
    status) rate change between the first and second calendar half,
    stratified by customer nation: rate effect sum 0.5(s0+s1)(r1-r0)
    vs composition effect sum 0.5(r0+r1)(s1-s0), closing EXACTLY to
    the crude-rate difference — the categorical-rates second
    opinion to `oaxaca_blinder_gap` (which decomposes a continuous
    mean via regression): Kitagawa answers "did fulfillment change
    because nations got better, or because the order MIX shifted
    toward good nations" with no model at all; it is also the
    demography-standard dual of `direct_standardized_rates`.
    Nations absent from one half carry the other half's rate
    (standard convention: their rate term vanishes, the composition
    term prices the appearance/disappearance). `identity_gap` ships
    the exact-identity residual as a self-check column.

    Exactness: cell counts exact BIGINTs off one rollup; shares and
    rates pin at 10 dp; symmetric-weight terms round at 12 dp into
    DECIMAL folds. Plan: orders+customer broadcast join -> (nation,
    half) rollup -> 25-row full outer join -> one fold; no
    window."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    base = o.join(
        c.select("c_custkey", "c_nationkey"),
        o.o_custkey == c.c_custkey,
    ).select(
        F.col("c_nationkey").alias("nk"),
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("day"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("f"),
    )
    mid = base.agg(
        F.floor((F.min("day") + F.max("day") + 1) / 2)
        .cast("bigint")
        .alias("m")
    )
    cell = (
        base.crossJoin(F.broadcast(mid))
        .groupBy(
            "nk",
            F.when(F.col("day") < F.col("m"), 0).otherwise(1).alias("p"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("f").cast("bigint").alias("nf"),
        )
        .persist()
    )
    ptot = cell.groupBy("p").agg(F.sum("n").cast("bigint").alias("tn"))
    t0 = ptot.where(F.col("p") == 0).select(F.col("tn").alias("tn0"))
    t1 = ptot.where(F.col("p") == 1).select(F.col("tn").alias("tn1"))
    a = cell.where(F.col("p") == 0).select(
        "nk", F.col("n").alias("n0"), F.col("nf").alias("nf0")
    )
    b = cell.where(F.col("p") == 1).select(
        F.col("nk").alias("nkb"),
        F.col("n").alias("n1"),
        F.col("nf").alias("nf1"),
    )
    wide = (
        a.join(b, a.nk == b.nkb, "full_outer")
        .crossJoin(F.broadcast(t0))
        .crossJoin(F.broadcast(t1))
        .select(
            F.coalesce(
                F.round(
                    F.col("n0").cast("double") / F.col("tn0"), 10
                ),
                F.lit(0.0),
            ).alias("s0"),
            F.coalesce(
                F.round(
                    F.col("n1").cast("double") / F.col("tn1"), 10
                ),
                F.lit(0.0),
            ).alias("s1"),
            F.coalesce(
                F.round(
                    F.col("nf0").cast("double") / F.col("n0"), 10
                ),
                F.round(
                    F.col("nf1").cast("double") / F.col("n1"), 10
                ),
            ).alias("r0"),
            F.coalesce(
                F.round(
                    F.col("nf1").cast("double") / F.col("n1"), 10
                ),
                F.round(
                    F.col("nf0").cast("double") / F.col("n0"), 10
                ),
            ).alias("r1"),
        )
    )
    fold = wide.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(
            F.round(F.col("s0") * F.col("r0"), 12).cast("decimal(28,12)")
        )
        .cast("double")
        .alias("rate0"),
        F.sum(
            F.round(F.col("s1") * F.col("r1"), 12).cast("decimal(28,12)")
        )
        .cast("double")
        .alias("rate1"),
        F.sum(
            F.round(
                0.5
                * (F.col("s0") + F.col("s1"))
                * (F.col("r1") - F.col("r0")),
                12,
            ).cast("decimal(28,12)")
        )
        .cast("double")
        .alias("rate_eff"),
        F.sum(
            F.round(
                0.5
                * (F.col("r0") + F.col("r1"))
                * (F.col("s1") - F.col("s0")),
                12,
            ).cast("decimal(28,12)")
        )
        .cast("double")
        .alias("comp_eff"),
    )
    return fold.select(
        F.col("k").alias("n_nations"),
        (F.round("rate0", 8) + 0.0).alias("fulfilled_rate_h1"),
        (F.round("rate1", 8) + 0.0).alias("fulfilled_rate_h2"),
        (F.round(F.col("rate1") - F.col("rate0"), 8) + 0.0)
        .alias("rate_diff"),
        (F.round("rate_eff", 8) + 0.0).alias("rate_effect"),
        (F.round("comp_eff", 8) + 0.0).alias("composition_effect"),
        (
            F.round(
                F.col("rate_eff")
                + F.col("comp_eff")
                - (F.col("rate1") - F.col("rate0")),
                10,
            )
            + 0.0
        ).alias("identity_gap"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "kitagawa_rate_decomposition": (
            "no window — (nation, half) rollup + 25-row outer join "
            "+ one fold"
        ),
    }
)


# --------------------------------------------------------------------------
# Concentration-ratio panel: CR4/CR8, Rosenbluth, numbers-equivalents
# --------------------------------------------------------------------------
@register(
    "concentration_ratio_panel",
    oracle="""
    WITH br AS (
        SELECT p.p_brand AS b,
               CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                             * 100 AS BIGINT)) AS BIGINT) AS r
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1
    ),
    rk AS (
        SELECT b, r,
               ROW_NUMBER() OVER (ORDER BY r DESC, b) AS i
        FROM br
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(r) AS BIGINT) AS tr,
               CAST(SUM(CASE WHEN i <= 4 THEN r ELSE 0 END)
                    AS BIGINT) AS r4,
               CAST(SUM(CASE WHEN i <= 8 THEN r ELSE 0 END)
                    AS BIGINT) AS r8,
               CAST(SUM(CAST(i AS DECIMAL(38,0)) * r)
                    AS DECIMAL(38,0)) AS sir
        FROM rk
    ),
    ent AS (
        SELECT CAST(SUM(CAST(round(
                   -(CAST(rk.r AS DOUBLE) / f.tr)
                   * ln(CAST(rk.r AS DOUBLE) / f.tr), 12)
                   AS DECIMAL(28,12))) AS DOUBLE) AS h,
               CAST(SUM(CAST(round(
                   (CAST(rk.r AS DOUBLE) / f.tr)
                   * (CAST(rk.r AS DOUBLE) / f.tr), 12)
                   AS DECIMAL(28,12))) AS DOUBLE) AS hhi
        FROM rk, fold f
    )
    SELECT f.k AS n_brands,
           round(CAST(f.r4 AS DOUBLE) / f.tr, 8) + 0.0 AS cr4,
           round(CAST(f.r8 AS DOUBLE) / f.tr, 8) + 0.0 AS cr8,
           round(e.hhi, 8) + 0.0 AS hhi,
           round(1.0 / e.hhi, 6) + 0.0 AS numbers_equiv_hhi,
           round(1.0 / (2.0 * CAST(f.sir AS DOUBLE) / f.tr - 1.0), 8)
               + 0.0 AS rosenbluth_index,
           round(exp(e.h), 6) + 0.0 AS numbers_equiv_entropy
    FROM fold f, ent e
    """,
)
def concentration_ratio_panel(spark, sf_dir):
    """CONCENTRATION-RATIO panel over brand revenue shares — the
    structural second opinions to `market_concentration_hhi` /
    `hhi_concentration_trend`: CR4/CR8 (the merger-guidelines
    discrete cutoffs, exact integer cents ratios), the ROSENBLUTH /
    Hall-Tideman index 1/(2*sum(i*s_i)-1) that weights by RANK and
    so reacts to the long tail HHI squares away, and the two
    NUMBERS-EQUIVALENT readouts (1/HHI and exp(Shannon)) that
    convert both concentration notions into "how many equal-size
    brands is this market worth", directly comparable units the raw
    indices lack. The four moving together certifies concentration;
    Rosenbluth rising while HHI is flat isolates tail consolidation.

    Exactness: brand revenue is exact integer cents; CR4/CR8 and
    the rank-weighted sum are exact integer/DECIMAL(38,0) folds
    (row_number ties broken by brand for cross-engine identity —
    the sum is tie-invariant anyway since swapped ranks carry equal
    r); entropy/HHI terms round at 12 dp into DECIMAL folds. Plan:
    lineitem+part rollup -> row_number over the ~25-row brand grid
    (bounded-domain window) -> two folds; no data-scaled window."""
    li = t(spark, sf_dir, "lineitem")
    pt = t(spark, sf_dir, "part")
    br = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy(F.col("p_brand").alias("b"))
        .agg(
            (F.sum(dec("l_extendedprice", 18, 2)) * 100)
            .cast("bigint")
            .alias("r")
        )
    )
    rk = br.select(
        "b",
        "r",
        F.row_number()
        .over(Window.orderBy(F.col("r").desc(), F.col("b")))
        .cast("bigint")
        .alias("i"),
    ).persist()
    fold = rk.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("r").cast("bigint").alias("tr"),
        F.sum(F.when(F.col("i") <= 4, F.col("r")).otherwise(0))
        .cast("bigint")
        .alias("r4"),
        F.sum(F.when(F.col("i") <= 8, F.col("r")).otherwise(0))
        .cast("bigint")
        .alias("r8"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("r"))
        .cast("decimal(38,0)")
        .alias("sir"),
    )
    sh = F.col("r").cast("double") / F.col("tr")
    ent = rk.crossJoin(F.broadcast(fold)).agg(
        F.sum(F.round(-sh * F.log(sh), 12).cast("decimal(28,12)"))
        .cast("double")
        .alias("h"),
        F.sum(F.round(sh * sh, 12).cast("decimal(28,12)"))
        .cast("double")
        .alias("hhi"),
    )
    out = fold.crossJoin(F.broadcast(ent))
    return out.select(
        F.col("k").alias("n_brands"),
        (F.round(F.col("r4").cast("double") / F.col("tr"), 8) + 0.0)
        .alias("cr4"),
        (F.round(F.col("r8").cast("double") / F.col("tr"), 8) + 0.0)
        .alias("cr8"),
        (F.round("hhi", 8) + 0.0).alias("hhi"),
        (F.round(1.0 / F.col("hhi"), 6) + 0.0)
        .alias("numbers_equiv_hhi"),
        (
            F.round(
                1.0
                / (
                    2.0 * F.col("sir").cast("double") / F.col("tr")
                    - 1.0
                ),
                8,
            )
            + 0.0
        ).alias("rosenbluth_index"),
        (F.round(F.exp(F.col("h")), 6) + 0.0)
        .alias("numbers_equiv_entropy"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "concentration_ratio_panel": (
            "row_number over the ~25-row brand grid (bounded-domain "
            "window, the blau_iqv class)"
        ),
    }
)

# --------------------------------------------------------------------------
# Erlang-B blocking curve (the loss-system second opinion to Erlang C)
# --------------------------------------------------------------------------
@register(
    "erlang_b_blocking",
    oracle="""
    WITH span AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(max(epoch_us(ts)) // 86400000000
                    - min(epoch_us(ts)) // 86400000000 + 1 AS BIGINT)
                   AS days
        FROM events WHERE event_type = 'purchase'
    ),
    lam AS (
        SELECT round(CAST(k AS DOUBLE) / days, 8)
                   / CAST(2.0 AS DOUBLE) AS a
        FROM span
    ),
    cg AS (SELECT CAST(c AS BIGINT) AS c
           FROM (VALUES (1), (2), (4), (8), (16)) t(c)),
    terms AS (
        SELECT cg.c, kk.g, lam.a,
               CASE WHEN lam.a <= 1.0 THEN
                   (CASE WHEN kk.g = 0 THEN CAST(1.0 AS DOUBLE)
                         ELSE exp(kk.g * ln(lam.a)) END)
                   / (CASE WHEN kk.g = 0 THEN 1.0 WHEN kk.g = 1 THEN 1.0 WHEN kk.g = 2 THEN 2.0 WHEN kk.g = 3 THEN 6.0 WHEN kk.g = 4 THEN 24.0 WHEN kk.g = 5 THEN 120.0 WHEN kk.g = 6 THEN 720.0 WHEN kk.g = 7 THEN 5040.0 WHEN kk.g = 8 THEN 40320.0 WHEN kk.g = 9 THEN 362880.0 WHEN kk.g = 10 THEN 3628800.0 WHEN kk.g = 11 THEN 39916800.0 WHEN kk.g = 12 THEN 479001600.0 WHEN kk.g = 13 THEN 6227020800.0 WHEN kk.g = 14 THEN 87178291200.0 WHEN kk.g = 15 THEN 1307674368000.0 WHEN kk.g = 16 THEN 20922789888000.0 END)
               ELSE
                   (CASE WHEN cg.c = 0 THEN 1.0 WHEN cg.c = 1 THEN 1.0 WHEN cg.c = 2 THEN 2.0 WHEN cg.c = 3 THEN 6.0 WHEN cg.c = 4 THEN 24.0 WHEN cg.c = 5 THEN 120.0 WHEN cg.c = 6 THEN 720.0 WHEN cg.c = 7 THEN 5040.0 WHEN cg.c = 8 THEN 40320.0 WHEN cg.c = 9 THEN 362880.0 WHEN cg.c = 10 THEN 3628800.0 WHEN cg.c = 11 THEN 39916800.0 WHEN cg.c = 12 THEN 479001600.0 WHEN cg.c = 13 THEN 6227020800.0 WHEN cg.c = 14 THEN 87178291200.0 WHEN cg.c = 15 THEN 1307674368000.0 WHEN cg.c = 16 THEN 20922789888000.0 END) / (CASE WHEN kk.g = 0 THEN 1.0 WHEN kk.g = 1 THEN 1.0 WHEN kk.g = 2 THEN 2.0 WHEN kk.g = 3 THEN 6.0 WHEN kk.g = 4 THEN 24.0 WHEN kk.g = 5 THEN 120.0 WHEN kk.g = 6 THEN 720.0 WHEN kk.g = 7 THEN 5040.0 WHEN kk.g = 8 THEN 40320.0 WHEN kk.g = 9 THEN 362880.0 WHEN kk.g = 10 THEN 3628800.0 WHEN kk.g = 11 THEN 39916800.0 WHEN kk.g = 12 THEN 479001600.0 WHEN kk.g = 13 THEN 6227020800.0 WHEN kk.g = 14 THEN 87178291200.0 WHEN kk.g = 15 THEN 1307674368000.0 WHEN kk.g = 16 THEN 20922789888000.0 END)
                   * (CASE WHEN kk.g = cg.c THEN CAST(1.0 AS DOUBLE)
                           ELSE exp((kk.g - cg.c) * ln(lam.a)) END)
               END AS term
        FROM cg, LATERAL UNNEST(range(0, 17)) AS kk(g), lam
        WHERE kk.g <= cg.c
    ),
    sums AS (
        SELECT c, a,
               CAST(SUM(CAST(round(term, 12) AS DECIMAL(38,12)))
                    AS DOUBLE) AS s,
               CAST(SUM(CASE WHEN g = c THEN round(term, 12) END)
                    AS DOUBLE) AS tc
        FROM terms GROUP BY c, a
    ),
    eb AS (
        SELECT c, a, tc / s AS b
        FROM sums
    )
    SELECT c AS servers,
           round(a, 6) + 0.0 AS offered_load,
           round(b, 8) + 0.0 AS erlang_b_blocking,
           round(a * (1.0 - b), 6) + 0.0 AS carried_load,
           round(CASE WHEN a < c
                      THEN b / (1.0 - (a / c) * (1.0 - b)) END, 6)
               + 0.0 AS erlang_c_from_b
    FROM eb
    ORDER BY c

    """,
)
def erlang_b_blocking(spark, sf_dir):
    """ERLANG-B blocking probability for the measured purchase-
    arrival process across the same literal server grid c in
    {1,2,4,8,16} as `erlang_c_staffing` (same lambda estimate, same
    mu = 2.0/day literal): B(c, A) = (A^c/c!) / sum_{k<=c} A^k/k!
    is the LOSS-system model (blocked arrivals vanish) where
    Erlang C is the QUEUEING model (blocked arrivals wait) — the
    pair brackets reality for any real admission policy, B is
    defined for OVERLOADED systems where C's stability condition
    fails, and `erlang_c_from_b` re-derives C through the published
    identity C = B / (1 - rho(1-B)) as the cross-check against the
    direct Erlang-C numbers (NULL where unstable). `carried_load`
    A(1-B) is the throughput readout a capacity planner prices.

    Exactness/overflow: terms branch on A (the r13 erlang lesson,
    applied at authoring): for A <= 1 the plain A^k/k! terms are
    all <= 1; for A > 1 every term is normalized by the c-th,
    (c!/k!) A^(k-c) <= c^c/c! < 2e6 at c=16 — both branches keep
    the DECIMAL(38,12) fold orders of magnitude off the rail at ANY
    arrival rate (the unnormalized A^k form overflows at 64x).
    c!/k! comes from the exact 17-entry factorial literal table
    (no libm gamma); A pins at 8 dp before any power. Plan: one
    filtered scan -> scalar -> 36-literal-row (c,k) grid; no
    window."""
    from .bank_r15 import _FACT16

    e = t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    span = e.where(F.col("event_type") == "purchase").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        (
            F.floor(F.max(us) / 86_400_000_000)
            - F.floor(F.min(us) / 86_400_000_000)
            + 1
        )
        .cast("bigint")
        .alias("days"),
    )
    lam = span.select(
        (
            F.round(F.col("k").cast("double") / F.col("days"), 8)
            / F.lit(2.0).cast("double")
        ).alias("a")
    )
    cg = spark.range(1).select(
        F.explode(
            F.array(F.lit(1), F.lit(2), F.lit(4), F.lit(8), F.lit(16))
        ).alias("c0")
    ).select(F.col("c0").cast("bigint").alias("c"))
    pairs = cg.select(
        "c", F.explode(F.sequence(F.lit(0), F.col("c"))).alias("g")
    ).crossJoin(F.broadcast(lam))

    def factl(col):
        out = F.lit(None).cast("double")
        for kk in range(17):
            out = F.when(F.col(col) == kk, F.lit(_FACT16[kk])).otherwise(
                out
            )
        return out

    low = F.when(
        F.col("g") == 0, F.lit(1.0).cast("double")
    ).otherwise(F.exp(F.col("g") * F.log("a"))) / factl("g")
    high = (
        factl("c")
        / factl("g")
        * F.when(
            F.col("g") == F.col("c"), F.lit(1.0).cast("double")
        ).otherwise(F.exp((F.col("g") - F.col("c")) * F.log("a")))
    )
    term = F.when(F.col("a") <= 1.0, low).otherwise(high)
    sums = (
        pairs.select("c", "a", "g", term.alias("term"))
        .groupBy("c", "a")
        .agg(
            F.sum(F.round("term", 12).cast("decimal(38,12)"))
            .cast("double")
            .alias("s"),
            F.sum(
                F.when(
                    F.col("g") == F.col("c"), F.round("term", 12)
                )
            )
            .cast("double")
            .alias("tc"),
        )
    )
    b = F.col("tc") / F.col("s")
    return sums.select(
        F.col("c").alias("servers"),
        (F.round("a", 6) + 0.0).alias("offered_load"),
        (F.round(b, 8) + 0.0).alias("erlang_b_blocking"),
        (F.round(F.col("a") * (1.0 - b), 6) + 0.0)
        .alias("carried_load"),
        (
            F.round(
                F.when(
                    F.col("a") < F.col("c"),
                    b
                    / (
                        1.0
                        - (F.col("a") / F.col("c")) * (1.0 - b)
                    ),
                ),
                6,
            )
            + 0.0
        ).alias("erlang_c_from_b"),
    ).orderBy("servers")


PLAN_AUDIT_NOTES.update(
    {
        "erlang_b_blocking": (
            "no window — scalar arrival fold + 36-literal-row (c,k) "
            "grid (the erlang_c_staffing frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# EOQ + safety-stock panel per brand (the newsvendor second opinion)
# --------------------------------------------------------------------------
@register(
    "eoq_safety_stock_panel",
    oracle="""
    WITH bd AS (
        SELECT p.p_brand AS b,
               CAST(epoch_us(l.l_shipdate) // 86400000000 AS BIGINT)
                   AS day,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q,
               CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                             * 100 AS BIGINT)) AS BIGINT) AS r
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ),
    span AS (
        SELECT CAST(max(day) - min(day) + 1 AS BIGINT) AS nd FROM bd
    ),
    per AS (
        SELECT b,
               CAST(SUM(q) AS BIGINT) AS tq,
               CAST(SUM(r) AS BIGINT) AS tr,
               CAST(SUM(CAST(q AS DECIMAL(19,0)) * q)
                    AS DECIMAL(38,0)) AS qq
        FROM bd GROUP BY b
    ),
    stat AS (
        SELECT per.b, s.nd, per.tq,
               CAST(per.tq AS DOUBLE) * 365.0 / s.nd AS d_annual,
               round(CAST(per.tr AS DOUBLE) / per.tq / 100.0, 8)
                   AS unit_price,
               CAST(per.tq AS DOUBLE) / s.nd AS mu_d,
               sqrt((s.nd * CAST(per.qq AS DOUBLE)
                     - CAST(per.tq AS DOUBLE) * per.tq)
                    / (CAST(s.nd AS DOUBLE) * (s.nd - 1))) AS sig_d
        FROM per, span s
    )
    SELECT b AS brand,
           round(d_annual, 2) + 0.0 AS annual_demand_units,
           round(sqrt(2.0 * d_annual * 100.0
                      / (0.2 * unit_price)), 4) + 0.0 AS eoq_units,
           round(sig_d, 6) + 0.0 AS sigma_daily_units,
           round(1.6448536269514722 * sig_d * sqrt(7.0), 4) + 0.0
               AS safety_stock_units,
           round(mu_d * 7.0
                 + 1.6448536269514722 * sig_d * sqrt(7.0), 4) + 0.0
               AS reorder_point_units
    FROM stat
    ORDER BY b
    """,
)
def eoq_safety_stock_panel(spark, sf_dir):
    """EOQ + SAFETY-STOCK panel per brand — the deterministic-cost
    second opinion to `newsvendor_quantile`: the newsvendor prices
    ONE period's over/under-age tradeoff from the demand quantile;
    the EOQ sqrt(2DK/h) prices the order-frequency tradeoff
    (ordering cost K = $100/order, holding h = 20%/yr of the
    brand's unit price — shared literals) and the z*sigma*sqrt(L)
    safety stock (z = 1.6448536269514722 for a 95% cycle service
    level, lead time L = 7 days) prices demand variability into a
    reorder point. A brand whose newsvendor quantile and reorder
    point diverge flags non-normal demand — exactly the case the
    classical panel understates.

    Daily demand variance counts the FULL calendar span (days with
    no sales contribute exact zeros through the power-sum identity
    (nd*sum(q^2) - (sum q)^2)/(nd(nd-1)) — no gap-fill scan needed;
    documented convention). Exactness: per-(brand, day) quantities
    exact BIGINTs; squared-quantity sums widen through
    DECIMAL(19,0); unit price pins at 8 dp; all outputs are
    identical IEEE trees rounded once. Plan: lineitem+part rollup
    -> brand rollup + scalar span -> 25-row panel; no window."""
    li = t(spark, sf_dir, "lineitem")
    pt = t(spark, sf_dir, "part")
    bd = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy(
            F.col("p_brand").alias("b"),
            F.floor(F.unix_micros("l_shipdate") / 86_400_000_000)
            .cast("bigint")
            .alias("day"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("q"),
            (F.sum(dec("l_extendedprice", 18, 2)) * 100)
            .cast("bigint")
            .alias("r"),
        )
        .persist()
    )
    span = bd.agg(
        (F.max("day") - F.min("day") + 1).cast("bigint").alias("nd")
    )
    per = bd.groupBy("b").agg(
        F.sum("q").cast("bigint").alias("tq"),
        F.sum("r").cast("bigint").alias("tr"),
        F.sum(F.col("q").cast("decimal(19,0)") * F.col("q"))
        .cast("decimal(38,0)")
        .alias("qq"),
    )
    stat = per.crossJoin(F.broadcast(span))
    nd = F.col("nd").cast("double")
    d_annual = F.col("tq").cast("double") * 365.0 / F.col("nd")
    unit_price = F.round(
        F.col("tr").cast("double") / F.col("tq") / 100.0, 8
    )
    mu_d = F.col("tq").cast("double") / F.col("nd")
    sig_d = F.sqrt(
        (
            F.col("nd") * F.col("qq").cast("double")
            - F.col("tq").cast("double") * F.col("tq")
        )
        / (nd * (nd - 1))
    )
    zc = 1.6448536269514722
    ss = zc * sig_d * F.sqrt(F.lit(7.0))
    return stat.select(
        F.col("b").alias("brand"),
        (F.round(d_annual, 2) + 0.0).alias("annual_demand_units"),
        (
            F.round(
                F.sqrt(2.0 * d_annual * 100.0 / (0.2 * unit_price)), 4
            )
            + 0.0
        ).alias("eoq_units"),
        (F.round(sig_d, 6) + 0.0).alias("sigma_daily_units"),
        (F.round(ss, 4) + 0.0).alias("safety_stock_units"),
        (F.round(mu_d * 7.0 + ss, 4) + 0.0)
        .alias("reorder_point_units"),
    ).orderBy("brand")


PLAN_AUDIT_NOTES.update(
    {
        "eoq_safety_stock_panel": (
            "no window — (brand, day) rollup + brand rollup + "
            "scalar span broadcast"
        ),
    }
)


# --------------------------------------------------------------------------
# Bhapkar test of marginal homogeneity (the Stuart-Maxwell second opinion)
# --------------------------------------------------------------------------
@register(
    "bhapkar_marginal_homogeneity",
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
    ),
    mats AS (
        SELECT n,
               CAST(r1 - c1 AS DOUBLE) AS d1,
               CAST(r2 - c2 AS DOUBLE) AS d2,
               (r1 + c1 - 2.0 * n11)
                   - CAST(r1 - c1 AS DOUBLE) * (r1 - c1) / n AS s11,
               (r2 + c2 - 2.0 * n22)
                   - CAST(r2 - c2 AS DOUBLE) * (r2 - c2) / n AS s22,
               -(n12 + n21)
                   - CAST(r1 - c1 AS DOUBLE) * (r2 - c2) / n AS s12,
               (r2 + c2 - 2.0 * n22) * CAST(r1 - c1 AS DOUBLE)
                   * (r1 - c1)
                 + 2.0 * (n12 + n21) * CAST(r1 - c1 AS DOUBLE)
                   * (r2 - c2)
                 + (r1 + c1 - 2.0 * n11) * CAST(r2 - c2 AS DOUBLE)
                   * (r2 - c2) AS sm_num,
               (r1 + c1 - 2.0 * n11) * (r2 + c2 - 2.0 * n22)
                 - CAST(n12 + n21 AS DOUBLE) * (n12 + n21) AS sm_den
        FROM cells
    )
    SELECT n AS n_users,
           CASE WHEN sm_den = 0 THEN NULL
                ELSE round(sm_num / sm_den, 6) + 0.0 END
               AS stuart_maxwell_chi2,
           CASE WHEN s11 * s22 - s12 * s12 = 0 THEN NULL
                ELSE round((s22 * d1 * d1 - 2.0 * s12 * d1 * d2
                            + s11 * d2 * d2)
                           / (s11 * s22 - s12 * s12), 6) + 0.0 END
               AS bhapkar_v,
           CAST(CASE WHEN s11 * s22 - s12 * s12 = 0 THEN 0
                     WHEN (s22 * d1 * d1 - 2.0 * s12 * d1 * d2
                           + s11 * d2 * d2)
                          / (s11 * s22 - s12 * s12) > 5.991465
                     THEN 1 ELSE 0 END AS INT) AS bhapkar_reject_5pct
    FROM mats
    """,
)
def bhapkar_marginal_homogeneity(spark, sf_dir):
    """BHAPKAR'S V test of marginal homogeneity on exactly the
    `stuart_maxwell_test` 3x3 paired-modal-bucket frame: same d =
    (r_i - c_i) marginal differences, but the covariance is the
    UNRESTRICTED multinomial one, S_ij = (r+c-2n_ii) - d_i d_j / n
    off the Stuart-Maxwell null-restricted form — Bhapkar is the
    Wald test where Stuart-Maxwell is the score test, V =
    W/(1 - W/n) exactly, so V >= W always and the gap measures how
    far the data sit from the null (the two agreeing near the chi2_2
    critical value is the robust call; V rejecting while W does not
    is the classic boundary case this pair exists to expose). Both
    statistics ship from the same exact 9-cell integer rollup.

    Exactness: all cells/marginals exact BIGINTs off the same
    user-grain modal pick (user-partitioned rank, ties by bucket
    name); both quadratic forms are closed-form 2x2 adjugate
    inversions — single rational IEEE expressions rounded once at
    1e-6. Plan: user rollup -> modal rank -> user self-join ->
    9-cell rollup -> scalar; the only window is user-partitioned."""
    e = t(spark, sf_dir, "events")
    bucketed = e.groupBy(
        "user_id",
        F.when(
            F.floor(F.unix_micros("ts") / 86_400_000_000) < 19723 + 15,
            0,
        )
        .otherwise(1)
        .alias("half"),
        F.when(F.col("event_type").isin("click", "view"), "engage")
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

    def csum(cond):
        return (
            F.coalesce(F.sum(F.when(cond, F.col("n"))), F.lit(0))
            .cast("bigint")
        )

    cells = cnt.agg(
        csum(F.col("before_b") == "engage").alias("r1"),
        csum(F.col("before_b") == "convert").alias("r2"),
        csum(F.col("after_b") == "engage").alias("c1"),
        csum(F.col("after_b") == "convert").alias("c2"),
        csum(
            (F.col("before_b") == "engage")
            & (F.col("after_b") == "engage")
        ).alias("n11"),
        csum(
            (F.col("before_b") == "convert")
            & (F.col("after_b") == "convert")
        ).alias("n22"),
        csum(
            (F.col("before_b") == "engage")
            & (F.col("after_b") == "convert")
        ).alias("n12"),
        csum(
            (F.col("before_b") == "convert")
            & (F.col("after_b") == "engage")
        ).alias("n21"),
        F.sum("n").cast("bigint").alias("n"),
    )
    n = F.col("n").cast("double")
    d1 = (F.col("r1") - F.col("c1")).cast("double")
    d2 = (F.col("r2") - F.col("c2")).cast("double")
    s11 = (
        (F.col("r1") + F.col("c1") - 2.0 * F.col("n11"))
        - d1 * d1 / n
    )
    s22 = (
        (F.col("r2") + F.col("c2") - 2.0 * F.col("n22"))
        - d2 * d2 / n
    )
    s12 = -(F.col("n12") + F.col("n21")).cast("double") - d1 * d2 / n
    sm_num = (
        (F.col("r2") + F.col("c2") - 2.0 * F.col("n22")) * d1 * d1
        + 2.0 * (F.col("n12") + F.col("n21")) * d1 * d2
        + (F.col("r1") + F.col("c1") - 2.0 * F.col("n11")) * d2 * d2
    )
    sm_den = (
        (F.col("r1") + F.col("c1") - 2.0 * F.col("n11"))
        * (F.col("r2") + F.col("c2") - 2.0 * F.col("n22"))
        - (F.col("n12") + F.col("n21")).cast("double")
        * (F.col("n12") + F.col("n21"))
    )
    vden = s11 * s22 - s12 * s12
    v = F.when(
        vden != 0,
        (s22 * d1 * d1 - 2.0 * s12 * d1 * d2 + s11 * d2 * d2) / vden,
    )
    sm = F.when(sm_den != 0, sm_num / sm_den)
    return cells.select(
        F.col("n").alias("n_users"),
        (F.round(sm, 6) + 0.0).alias("stuart_maxwell_chi2"),
        (F.round(v, 6) + 0.0).alias("bhapkar_v"),
        F.when(v > 5.991465, 1).otherwise(0).cast("int")
        .alias("bhapkar_reject_5pct"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "bhapkar_marginal_homogeneity": (
            "user-partitioned modal rank only (the "
            "stuart_maxwell_test frame); no global window"
        ),
    }
)


# --------------------------------------------------------------------------
# Woolf test of odds-ratio homogeneity (the Breslow-Day second opinion)
# --------------------------------------------------------------------------
@register(
    "woolf_or_homogeneity",
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
    wl AS (
        SELECT rk,
               round(ln((a + 0.5) * (d + 0.5)
                        / ((b + 0.5) * (c + 0.5))), 10) AS lor,
               round(1.0 / (1.0 / (a + 0.5) + 1.0 / (b + 0.5)
                            + 1.0 / (c + 0.5) + 1.0 / (d + 0.5)),
                     10) AS w
        FROM cells
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(round(w, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS sw,
               CAST(SUM(CAST(round(w * lor, 12) AS DECIMAL(28,12)))
                    AS DOUBLE) AS swl,
               CAST(SUM(CAST(round(w * lor * lor, 12)
                    AS DECIMAL(28,12))) AS DOUBLE) AS swll
        FROM wl
    )
    SELECT k AS n_strata,
           round(exp(swl / sw), 6) + 0.0 AS or_woolf_pooled,
           round(swll - swl * swl / sw, 6) + 0.0 AS woolf_chi2,
           CAST(CASE WHEN swll - swl * swl / sw > 9.487729
                     THEN 1 ELSE 0 END AS INT)
               AS heterogeneous_at_5pct
    FROM fold
    """,
)
def woolf_or_homogeneity(spark, sf_dir):
    """WOOLF'S test of Fri/Sat->failure odds-ratio homogeneity
    across the five regions on exactly the
    `breslow_day_homogeneity` strata frame: per-stratum log odds
    ratios with the Haldane-Anscombe +0.5 correction, inverse-
    variance weights w = 1/(sum of reciprocal corrected cells), and
    chi2 = sum w (lnOR_i - lnOR_bar)^2 via the one-pass identity
    sum(w*l^2) - (sum w*l)^2/sum(w) ~ chi2_{k-1} (crit 9.487729 at
    k=5, shared literal) — the inverse-variance second opinion to
    Breslow-Day's expected-cell form: BD conditions on the
    Mantel-Haenszel pooled OR (quadratic solve per stratum), Woolf
    weights each stratum by its own information and is the form
    meta-analysis uses (`dersimonian_laird_meta`'s fixed-effect Q
    on 2x2s); the pair disagreeing flags sparse-cell strata where
    the +0.5 correction is doing real work. `or_woolf_pooled` ships
    beside the MH OR for the same-pooled-target check.

    Exactness: cells are exact BIGINTs off one rollup; lnOR and w
    pin at 10 dp; the three weighted folds round at 10-12 dp into
    DECIMAL sums; the chi2 identity is one IEEE expression. Plan:
    orders + three broadcast dims -> (region, exposure, outcome)
    rollup -> 5-row stratum frame -> one fold; no window."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    na = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    tab = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            o.o_custkey == c.c_custkey,
        )
        .join(
            F.broadcast(na.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(r.select("r_regionkey")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(
            F.col("r_regionkey").alias("rk"),
            F.when(
                (
                    F.floor(
                        F.unix_micros("o_orderdate") / 86_400_000_000
                    )
                    + 4
                )
                % 7
                >= 5,
                1,
            )
            .otherwise(0)
            .alias("exposed"),
            F.when(F.col("o_orderstatus") == "F", 1)
            .otherwise(0)
            .alias("outc"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )

    def csum(e, o_):
        return (
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("exposed") == e) & (F.col("outc") == o_),
                        F.col("n"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
        )

    cells = tab.groupBy("rk").agg(
        csum(1, 1).alias("a"),
        csum(1, 0).alias("b"),
        csum(0, 1).alias("c"),
        csum(0, 0).alias("d"),
    )
    lor = F.round(
        F.log(
            (F.col("a") + 0.5)
            * (F.col("d") + 0.5)
            / ((F.col("b") + 0.5) * (F.col("c") + 0.5))
        ),
        10,
    )
    w = F.round(
        1.0
        / (
            1.0 / (F.col("a") + 0.5)
            + 1.0 / (F.col("b") + 0.5)
            + 1.0 / (F.col("c") + 0.5)
            + 1.0 / (F.col("d") + 0.5)
        ),
        10,
    )
    wl = cells.select(lor.alias("lor"), w.alias("w"))
    fold = wl.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.round("w", 10).cast("decimal(28,10)"))
        .cast("double")
        .alias("sw"),
        F.sum(
            F.round(F.col("w") * F.col("lor"), 12).cast("decimal(28,12)")
        )
        .cast("double")
        .alias("swl"),
        F.sum(
            F.round(
                F.col("w") * F.col("lor") * F.col("lor"), 12
            ).cast("decimal(28,12)")
        )
        .cast("double")
        .alias("swll"),
    )
    chi2 = F.col("swll") - F.col("swl") * F.col("swl") / F.col("sw")
    return fold.select(
        F.col("k").alias("n_strata"),
        (F.round(F.exp(F.col("swl") / F.col("sw")), 6) + 0.0)
        .alias("or_woolf_pooled"),
        (F.round(chi2, 6) + 0.0).alias("woolf_chi2"),
        F.when(chi2 > 9.487729, 1).otherwise(0).cast("int")
        .alias("heterogeneous_at_5pct"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "woolf_or_homogeneity": (
            "no window — stratum rollup + one fold (the "
            "breslow_day_homogeneity frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# Two-way ICC(2,1)/(3,1): dow revenue profile agreement across regions
# --------------------------------------------------------------------------
@register(
    "icc_twoway_mixed",
    oracle="""
    WITH cell AS (
        SELECT CAST((epoch_us(o.o_orderdate) // 86400000000 + 4) % 7
                    AS BIGINT) AS dow,
               r.r_regionkey AS rk,
               round(CAST(SUM(CAST(CAST(o.o_totalprice
                        AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE)
                     / COUNT(*) / 100000.0, 6) AS m
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation na ON c.c_nationkey = na.n_nationkey
        JOIN region r ON na.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    ),
    dims AS (
        SELECT CAST(COUNT(DISTINCT dow) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT rk) AS BIGINT) AS k,
               CAST(SUM(CAST(round(m, 6) AS DECIMAL(28,6)))
                    AS DOUBLE) AS s,
               CAST(SUM(CAST(round(m * m, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS ss
        FROM cell
    ),
    rows_ AS (
        SELECT CAST(SUM(CAST(round(rs * rs, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS srr
        FROM (SELECT dow, CAST(SUM(CAST(round(m, 6)
                  AS DECIMAL(28,6))) AS DOUBLE) AS rs
              FROM cell GROUP BY dow)
    ),
    cols_ AS (
        SELECT CAST(SUM(CAST(round(cs * cs, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS scc
        FROM (SELECT rk, CAST(SUM(CAST(round(m, 6)
                  AS DECIMAL(28,6))) AS DOUBLE) AS cs
              FROM cell GROUP BY rk)
    ),
    anova AS (
        SELECT d.n, d.k,
               (r.srr / d.k - d.s * d.s / (d.n * d.k)) / (d.n - 1)
                   AS msr,
               (c.scc / d.n - d.s * d.s / (d.n * d.k)) / (d.k - 1)
                   AS msc,
               (d.ss - r.srr / d.k - c.scc / d.n
                + d.s * d.s / (d.n * d.k))
                   / ((d.n - 1) * (d.k - 1)) AS mse
        FROM dims d, rows_ r, cols_ c
    )
    SELECT n AS n_dow, k AS n_regions,
           round(msr, 8) + 0.0 AS ms_rows,
           round(msc, 8) + 0.0 AS ms_cols,
           round(mse, 8) + 0.0 AS ms_error,
           round((msr - mse) / (msr + (k - 1.0) * mse
                 + k * (msc - mse) / n), 8) + 0.0 AS icc_2_1,
           round((msr - mse) / (msr + (k - 1.0) * mse), 8) + 0.0
               AS icc_3_1
    FROM anova
    """,
)
def icc_twoway_mixed(spark, sf_dir):
    """TWO-WAY intraclass correlations ICC(2,1) and ICC(3,1) on the
    7x5 day-of-week x region grid of mean order value — the crossed-
    design second opinions to `icc_oneway_suppliers` (which cannot
    separate rater bias from noise) and the ICC-form dual of
    `cronbachs_alpha_dow`: treating regions as "raters" scoring the
    weekly profile, ICC(2,1) (random raters, absolute agreement)
    charges region-level mean shifts against agreement while
    ICC(3,1) (fixed raters, consistency) forgives them — the gap
    between the two IS the regional level-bias reading, and
    Shrout-Fleiss is explicit that reporting the wrong one is the
    classic reliability mistake. Two-way ANOVA without replication
    on the complete 35-cell grid of exact-fold means.

    Exactness: cell means come from exact cents/count integer folds
    pinned at 6 dp; all squared sums round at 10 dp into DECIMAL
    folds over the 35-row grid; the three mean squares and both ICC
    forms are single IEEE expressions. Plan: orders + three
    broadcast dims -> 35-cell rollup -> three grid folds; no
    window."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    na = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    cell = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            o.o_custkey == c.c_custkey,
        )
        .join(
            F.broadcast(na.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(r.select("r_regionkey")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(
            (
                (
                    F.floor(
                        F.unix_micros("o_orderdate") / 86_400_000_000
                    )
                    + 4
                )
                % 7
            )
            .cast("bigint")
            .alias("dow"),
            F.col("r_regionkey").alias("rk"),
        )
        .agg(
            F.round(
                (F.sum(dec("o_totalprice", 18, 2)) * 100)
                .cast("bigint")
                .cast("double")
                / F.count(F.lit(1))
                / 100000.0,
                6,
            ).alias("m")
        )
        .persist()
    )
    dims = cell.agg(
        F.countDistinct("dow").cast("bigint").alias("n"),
        F.countDistinct("rk").cast("bigint").alias("k"),
        F.sum(F.round("m", 6).cast("decimal(28,6)"))
        .cast("double")
        .alias("s"),
        F.sum(F.round(F.col("m") * F.col("m"), 10).cast("decimal(28,10)"))
        .cast("double")
        .alias("ss"),
    )
    rows_ = (
        cell.groupBy("dow")
        .agg(
            F.sum(F.round("m", 6).cast("decimal(28,6)"))
            .cast("double")
            .alias("rs")
        )
        .agg(
            F.sum(
                F.round(F.col("rs") * F.col("rs"), 10).cast(
                    "decimal(28,10)"
                )
            )
            .cast("double")
            .alias("srr")
        )
    )
    cols_ = (
        cell.groupBy("rk")
        .agg(
            F.sum(F.round("m", 6).cast("decimal(28,6)"))
            .cast("double")
            .alias("cs")
        )
        .agg(
            F.sum(
                F.round(F.col("cs") * F.col("cs"), 10).cast(
                    "decimal(28,10)"
                )
            )
            .cast("double")
            .alias("scc")
        )
    )
    a = dims.crossJoin(F.broadcast(rows_)).crossJoin(F.broadcast(cols_))
    n = F.col("n").cast("double")
    k = F.col("k").cast("double")
    corr = F.col("s") * F.col("s") / (n * k)
    msr = (F.col("srr") / k - corr) / (n - 1)
    msc = (F.col("scc") / n - corr) / (k - 1)
    mse = (
        F.col("ss") - F.col("srr") / k - F.col("scc") / n + corr
    ) / ((n - 1) * (k - 1))
    return a.select(
        F.col("n").alias("n_dow"),
        F.col("k").alias("n_regions"),
        (F.round(msr, 8) + 0.0).alias("ms_rows"),
        (F.round(msc, 8) + 0.0).alias("ms_cols"),
        (F.round(mse, 8) + 0.0).alias("ms_error"),
        (
            F.round(
                (msr - mse)
                / (msr + (k - 1.0) * mse + k * (msc - mse) / n),
                8,
            )
            + 0.0
        ).alias("icc_2_1"),
        (F.round((msr - mse) / (msr + (k - 1.0) * mse), 8) + 0.0)
        .alias("icc_3_1"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "icc_twoway_mixed": (
            "no window — 35-cell rollup + three grid folds"
        ),
    }
)


# --------------------------------------------------------------------------
# Anderson-Rubin weak-instrument-robust CI for the Wald IV estimate
# --------------------------------------------------------------------------
@register(
    "anderson_rubin_iv_ci",
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
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
               SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
               SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
        FROM daily GROUP BY z
    ),
    v AS (
        SELECT z, nd,
               CAST(sx AS DOUBLE) / nd AS xb,
               CAST(sy AS DOUBLE) / nd AS yb,
               (nd * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                   / (CAST(nd AS DOUBLE) * nd * (nd - 1)) AS vx,
               (nd * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)
                   / (CAST(nd AS DOUBLE) * nd * (nd - 1)) AS vy,
               (nd * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                   / (CAST(nd AS DOUBLE) * nd * (nd - 1)) AS vxy
        FROM g
    ),
    wide AS (
        SELECT CAST(SUM(nd) AS BIGINT) AS n_days,
               SUM(CASE WHEN z = 1 THEN yb END)
                 - SUM(CASE WHEN z = 0 THEN yb END) AS aa,
               SUM(CASE WHEN z = 1 THEN xb END)
                 - SUM(CASE WHEN z = 0 THEN xb END) AS bb,
               SUM(vx) AS svx, SUM(vy) AS svy, SUM(vxy) AS svxy
        FROM v
    ),
    quad AS (
        SELECT n_days, aa, bb, svx, svy, svxy,
               bb * bb - 3.8414588932247 * svx AS qa,
               -2.0 * aa * bb + 2.0 * 3.8414588932247 * svxy AS qg,
               aa * aa - 3.8414588932247 * svy AS qd
        FROM wide
    )
    SELECT n_days,
           round(aa / bb / 100.0, 6) + 0.0 AS wald_value_per_event,
           round(bb / sqrt(svx), 6) + 0.0 AS first_stage_z,
           CAST(CASE WHEN qa > 0 THEN 1 ELSE 0 END AS INT)
               AS ar_ci_bounded,
           round(CASE WHEN qa > 0 AND qg * qg - 4.0 * qa * qd >= 0
                 THEN (-qg - sqrt(qg * qg - 4.0 * qa * qd))
                      / (2.0 * qa) / 100.0 END, 6) + 0.0 AS ar_lo,
           round(CASE WHEN qa > 0 AND qg * qg - 4.0 * qa * qd >= 0
                 THEN (-qg + sqrt(qg * qg - 4.0 * qa * qd))
                      / (2.0 * qa) / 100.0 END, 6) + 0.0 AS ar_hi
    FROM quad
    """,
)
def anderson_rubin_iv_ci(spark, sf_dir):
    """ANDERSON-RUBIN weak-instrument-robust confidence interval for
    the `iv_wald_weekend` estimand (Fri/Sat instruments daily event
    volume to price value-per-event): the AR set is {beta:
    |z-stat of (y - beta*x) between instrument groups| <= 1.96},
    which for a binary instrument closes to a QUADRATIC in beta —
    roots (-g -/+ sqrt(g^2-4ad))/(2a) — and is the test-inversion
    second opinion to the Wald point + delta-method habit: AR keeps
    exact coverage NO MATTER HOW WEAK the instrument, and the
    geometry is self-diagnosing — the interval is bounded iff the
    first-stage z^2 exceeds the critical value (qa > 0), going
    half-line/all-of-R exactly when the Fri/Sat barely moves volume
    (the Dufour impossibility result, visible in one bit:
    `ar_ci_bounded`).

    Exactness: per-group day counts and power sums are exact
    integer/DECIMAL(38,0) folds; group means, the three pooled
    mean-variances, quadratic coefficients (z^2 = 3.8414588932247
    shared literal), and roots are identical IEEE trees, rounded
    once; cents scale solves the quadratic, readouts divide by 100.
    Plan: day rollup -> 2-row group rollup -> scalar pivot +
    quadratic; no window."""
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
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    g = daily.groupBy("z").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"),
    )
    nd = F.col("nd").cast("double")
    v = g.select(
        "z",
        "nd",
        (F.col("sx").cast("double") / F.col("nd")).alias("xb"),
        (F.col("sy").cast("double") / F.col("nd")).alias("yb"),
        (
            (
                F.col("nd") * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx")
            )
            / (nd * nd * (nd - 1))
        ).alias("vx"),
        (
            (
                F.col("nd") * F.col("syy").cast("double")
                - F.col("sy").cast("double") * F.col("sy")
            )
            / (nd * nd * (nd - 1))
        ).alias("vy"),
        (
            (
                F.col("nd") * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy")
            )
            / (nd * nd * (nd - 1))
        ).alias("vxy"),
    )
    wide = v.agg(
        F.sum("nd").cast("bigint").alias("n_days"),
        (
            F.sum(F.when(F.col("z") == 1, F.col("yb")))
            - F.sum(F.when(F.col("z") == 0, F.col("yb")))
        ).alias("aa"),
        (
            F.sum(F.when(F.col("z") == 1, F.col("xb")))
            - F.sum(F.when(F.col("z") == 0, F.col("xb")))
        ).alias("bb"),
        F.sum("vx").alias("svx"),
        F.sum("vy").alias("svy"),
        F.sum("vxy").alias("svxy"),
    )
    z2 = 3.8414588932247
    qa = F.col("bb") * F.col("bb") - z2 * F.col("svx")
    qg = -2.0 * F.col("aa") * F.col("bb") + 2.0 * z2 * F.col("svxy")
    qd = F.col("aa") * F.col("aa") - z2 * F.col("svy")
    disc = qg * qg - 4.0 * qa * qd
    ok = (qa > 0) & (disc >= 0)
    return wide.select(
        "n_days",
        (F.round(F.col("aa") / F.col("bb") / 100.0, 6) + 0.0)
        .alias("wald_value_per_event"),
        (F.round(F.col("bb") / F.sqrt(F.col("svx")), 6) + 0.0)
        .alias("first_stage_z"),
        F.when(qa > 0, 1).otherwise(0).cast("int")
        .alias("ar_ci_bounded"),
        (
            F.round(
                F.when(ok, (-qg - F.sqrt(disc)) / (2.0 * qa) / 100.0),
                6,
            )
            + 0.0
        ).alias("ar_lo"),
        (
            F.round(
                F.when(ok, (-qg + F.sqrt(disc)) / (2.0 * qa) / 100.0),
                6,
            )
            + 0.0
        ).alias("ar_hi"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "anderson_rubin_iv_ci": (
            "no window — day rollup + 2-row group rollup + scalar "
            "quadratic (the iv_wald_weekend frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# Post-stratified A/B estimate (the CUPED second opinion)
# --------------------------------------------------------------------------
@register(
    "post_stratified_ab_estimate",
    oracle="""
    WITH days AS (
        SELECT user_id,
               epoch_us(ts) // 86400000000 AS d,
               CAST(value AS DECIMAL(18,2)) AS v
        FROM events
    ),
    bounds AS (
        SELECT (MIN(d) + MAX(d) + 1) // 2 AS split_d FROM days
    ),
    per_user AS (
        SELECT user_id,
               CAST((user_id * 2654435761) % 4294967296 % 2 AS INT)
                   AS arm,
               COALESCE(SUM(CASE WHEN d < split_d THEN v END),
                        CAST(0 AS DECIMAL(18,2))) AS x,
               COALESCE(SUM(CASE WHEN d >= split_d THEN v END),
                        CAST(0 AS DECIMAL(18,2))) AS y
        FROM days, bounds
        GROUP BY 1, 2
    ),
    strat AS (
        SELECT CASE WHEN x <= 0 THEN 0
                    ELSE LEAST(CAST(1 + floor(ln(CAST(x AS DOUBLE))
                               / ln(2.0)) AS BIGINT), 12) END AS s,
               arm, y
        FROM per_user
    ),
    cellst AS (
        SELECT s, arm,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(CAST(y * y AS DECIMAL(38,4))) AS DOUBLE)
                   AS syy
        FROM strat GROUP BY s, arm
    ),
    wide AS (
        SELECT a.s,
               a.n AS n1, a.sy AS sy1, a.syy AS syy1,
               b.n AS n0, b.sy AS sy0, b.syy AS syy0
        FROM (SELECT * FROM cellst WHERE arm = 1) a
        JOIN (SELECT * FROM cellst WHERE arm = 0) b ON a.s = b.s
        WHERE a.n >= 2 AND b.n >= 2
    ),
    tot AS (
        SELECT CAST(SUM(n1 + n0) AS BIGINT) AS nt,
               CAST(COUNT(*) AS BIGINT) AS ks
        FROM wide
    ),
    fold AS (
        SELECT t.nt, t.ks,
               CAST(SUM(CAST(round(
                   (CAST(w.n1 + w.n0 AS DOUBLE) / t.nt)
                   * (w.sy1 / w.n1 - w.sy0 / w.n0), 9)
                   AS DECIMAL(28,9))) AS DOUBLE) AS ps_diff,
               CAST(SUM(CAST(round(
                   (CAST(w.n1 + w.n0 AS DOUBLE) / t.nt)
                   * (CAST(w.n1 + w.n0 AS DOUBLE) / t.nt)
                   * ((w.syy1 - w.sy1 * w.sy1 / w.n1)
                      / (w.n1 - 1.0) / w.n1
                      + (w.syy0 - w.sy0 * w.sy0 / w.n0)
                        / (w.n0 - 1.0) / w.n0), 9)
                   AS DECIMAL(28,9))) AS DOUBLE) AS ps_var,
               CAST(SUM(w.n1) AS BIGINT) AS tn1,
               CAST(SUM(w.n0) AS BIGINT) AS tn0,
               SUM(w.sy1) AS tsy1, SUM(w.sy0) AS tsy0,
               SUM(w.syy1) AS tsyy1, SUM(w.syy0) AS tsyy0
        FROM wide w, tot t GROUP BY t.nt, t.ks
    )
    SELECT ks AS n_strata_used,
           nt AS n_users_used,
           round(tsy1 / tn1 - tsy0 / tn0, 6) + 0.0 AS raw_diff,
           round(ps_diff, 6) + 0.0 AS ps_diff,
           round(sqrt(ps_var), 6) + 0.0 AS ps_se,
           round(1.0 - ps_var
                 / ((tsyy1 - tsy1 * tsy1 / tn1) / (tn1 - 1.0) / tn1
                    + (tsyy0 - tsy0 * tsy0 / tn0) / (tn0 - 1.0)
                      / tn0), 6) + 0.0 AS var_reduction_vs_raw
    FROM fold
    """,
)
def post_stratified_ab_estimate(spark, sf_dir):
    """POST-STRATIFIED A/B treatment effect on exactly the
    `cuped_adjusted_ab` frame (same Knuth-hash arms, same pre/post
    calendar split): users stratify into pre-period SPEND OCTAVES
    (s = 1+floor(log2 x), zero-spenders their own stratum, capped
    at 12), the effect is the stratum-share-weighted difference of
    arm means and its exact stratified variance — the
    nonparametric second opinion to CUPED's linear adjustment:
    CUPED removes only the LINEARLY-explained pre-period variance,
    post-stratification removes any variance explained by the
    octave binning (Miratrix-Sekhon-Yu show it matches the linear
    adjustment asymptotically when the relation is linear, beats it
    when it is not — so `var_reduction_vs_raw` vs CUPED's
    `var_reduction` localizes nonlinearity in the pre-post
    relation). Strata need both arms with n >= 2 (weights
    renormalized over used strata, documented convention).

    Exactness: per-user x/y are exact DECIMAL(18,2) sums; cell
    count/sum/sum-square folds are exact; stratum terms round at 9
    dp into DECIMAL folds; the bounded octave grid (<= 13 strata)
    makes the join trivially broadcastable. Plan: user rollup ->
    (stratum, arm) rollup -> 13-row join + two folds; no window."""
    from .ext_pipeline import _KNUTH, _M32

    e = t(spark, sf_dir, "events")
    days = e.select(
        "user_id",
        F.floor(F.unix_micros("ts") / 86_400_000_000).alias("d"),
        dec("value", 18, 2).alias("v"),
    )
    bounds = days.agg(
        F.floor((F.min("d") + F.max("d") + 1) / 2).alias("split_d")
    )
    per_user = (
        days.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("d") < F.col("split_d"), F.col("v"))
                ),
                F.lit(0).cast("decimal(18,2)"),
            ).alias("x"),
            F.coalesce(
                F.sum(
                    F.when(F.col("d") >= F.col("split_d"), F.col("v"))
                ),
                F.lit(0).cast("decimal(18,2)"),
            ).alias("y"),
        )
        .select(
            ((F.col("user_id").cast("decimal(38,0)") * _KNUTH) % _M32 % 2)
            .cast("int")
            .alias("arm"),
            "x",
            "y",
        )
    )
    strat = per_user.select(
        F.when(F.col("x") <= 0, 0)
        .otherwise(
            F.least(
                (
                    1
                    + F.floor(
                        F.log(F.col("x").cast("double"))
                        / F.log(F.lit(2.0))
                    )
                ).cast("bigint"),
                F.lit(12).cast("bigint"),
            )
        )
        .alias("s"),
        "arm",
        "y",
    )
    cellst = strat.groupBy("s", "arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("double").alias("sy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,4)"))
        .cast("double")
        .alias("syy"),
    )
    a = cellst.where(F.col("arm") == 1).select(
        "s",
        F.col("n").alias("n1"),
        F.col("sy").alias("sy1"),
        F.col("syy").alias("syy1"),
    )
    b = cellst.where(F.col("arm") == 0).select(
        F.col("s").alias("sb"),
        F.col("n").alias("n0"),
        F.col("sy").alias("sy0"),
        F.col("syy").alias("syy0"),
    )
    wide = (
        a.join(b, a.s == b.sb)
        .where((F.col("n1") >= 2) & (F.col("n0") >= 2))
        .persist()
    )
    tot = wide.agg(
        F.sum(F.col("n1") + F.col("n0")).cast("bigint").alias("nt"),
        F.count(F.lit(1)).cast("bigint").alias("ks"),
    )
    wt = wide.crossJoin(F.broadcast(tot))
    share = (F.col("n1") + F.col("n0")).cast("double") / F.col("nt")
    dmean = F.col("sy1") / F.col("n1") - F.col("sy0") / F.col("n0")
    vterm = (
        F.col("syy1") - F.col("sy1") * F.col("sy1") / F.col("n1")
    ) / (F.col("n1") - 1.0) / F.col("n1") + (
        F.col("syy0") - F.col("sy0") * F.col("sy0") / F.col("n0")
    ) / (F.col("n0") - 1.0) / F.col("n0")
    fold = wt.groupBy("nt", "ks").agg(
        F.sum(F.round(share * dmean, 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("ps_diff"),
        F.sum(F.round(share * share * vterm, 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("ps_var"),
        F.sum("n1").cast("bigint").alias("tn1"),
        F.sum("n0").cast("bigint").alias("tn0"),
        F.sum("sy1").alias("tsy1"),
        F.sum("sy0").alias("tsy0"),
        F.sum("syy1").alias("tsyy1"),
        F.sum("syy0").alias("tsyy0"),
    )
    raw_var = (
        F.col("tsyy1") - F.col("tsy1") * F.col("tsy1") / F.col("tn1")
    ) / (F.col("tn1") - 1.0) / F.col("tn1") + (
        F.col("tsyy0") - F.col("tsy0") * F.col("tsy0") / F.col("tn0")
    ) / (F.col("tn0") - 1.0) / F.col("tn0")
    return fold.select(
        F.col("ks").alias("n_strata_used"),
        F.col("nt").alias("n_users_used"),
        (
            F.round(
                F.col("tsy1") / F.col("tn1")
                - F.col("tsy0") / F.col("tn0"),
                6,
            )
            + 0.0
        ).alias("raw_diff"),
        (F.round("ps_diff", 6) + 0.0).alias("ps_diff"),
        (F.round(F.sqrt(F.col("ps_var")), 6) + 0.0).alias("ps_se"),
        (F.round(1.0 - F.col("ps_var") / raw_var, 6) + 0.0)
        .alias("var_reduction_vs_raw"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "post_stratified_ab_estimate": (
            "no window — user rollup + (stratum, arm) rollup + "
            "13-row join (the cuped_adjusted_ab frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# Integrated discrimination improvement (the NRI second opinion)
# --------------------------------------------------------------------------
@register(
    "idi_discrimination_improvement",
    oracle="""
    WITH docs AS (
        SELECT doc_id, n_chars, source,
               CAST(floor(ln(CAST(n_chars AS DOUBLE)) / ln(2.0))
                    AS BIGINT) AS oct,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents WHERE n_chars > 0
    ),
    orate AS (
        SELECT oct, round(CAST(SUM(y) AS DOUBLE) / COUNT(*), 10)
                   AS pa
        FROM docs GROUP BY oct
    ),
    srate AS (
        SELECT source, round(CAST(SUM(y) AS DOUBLE) / COUNT(*), 10)
                   AS pb
        FROM docs GROUP BY source
    ),
    scored AS (
        SELECT d.y, orate.pa, srate.pb
        FROM docs d
        JOIN orate ON d.oct = orate.oct
        JOIN srate ON d.source = srate.source
    ),
    fold AS (
        SELECT CAST(SUM(y) AS BIGINT) AS ne,
               CAST(SUM(1 - y) AS BIGINT) AS nn,
               CAST(SUM(CASE WHEN y = 1 THEN CAST(round(pa, 10)
                    AS DECIMAL(28,10)) END) AS DOUBLE) AS sa1,
               CAST(SUM(CASE WHEN y = 0 THEN CAST(round(pa, 10)
                    AS DECIMAL(28,10)) END) AS DOUBLE) AS sa0,
               CAST(SUM(CASE WHEN y = 1 THEN CAST(round(pb, 10)
                    AS DECIMAL(28,10)) END) AS DOUBLE) AS sb1,
               CAST(SUM(CASE WHEN y = 0 THEN CAST(round(pb, 10)
                    AS DECIMAL(28,10)) END) AS DOUBLE) AS sb0
        FROM scored
    )
    SELECT ne AS n_events, nn AS n_nonevents,
           round(sa1 / ne - sa0 / nn, 8) + 0.0
               AS slope_length_model,
           round(sb1 / ne - sb0 / nn, 8) + 0.0
               AS slope_source_model,
           round((sb1 / ne - sb0 / nn) - (sa1 / ne - sa0 / nn), 8)
               + 0.0 AS idi
    FROM fold
    """,
)
def idi_discrimination_improvement(spark, sf_dir):
    """INTEGRATED DISCRIMINATION IMPROVEMENT between the length
    model and the source model for predicting lang='en' — the
    continuous-score second opinion to
    `net_reclassification_index` on the same documents/labels: NRI
    dichotomizes both models at one threshold and counts crossings;
    IDI integrates over ALL thresholds, reducing to the difference
    of YATES DISCRIMINATION SLOPES (mean score among events minus
    mean among non-events, new model minus old; Pencina et al.
    2008). Scores are within-sample calibrated rates — the length
    model scores a document by its length-OCTAVE en-rate
    (deterministic floor(log2 n_chars) bins, no quantile pass), the
    source model by its source en-rate (the same score NRI
    thresholds). NRI moving while IDI is flat flags a
    single-threshold artifact; both moving together is real
    discrimination gain.

    Exactness: octave/source rates are exact integer ratios pinned
    at 10 dp; the four conditional score sums fold through
    DECIMAL(28,10); slopes and IDI are closing IEEE expressions.
    Plan: doc scan -> two bounded-grid rate rollups -> broadcast
    joins back -> one fold; no window."""
    d = (
        t(spark, sf_dir, "documents")
        .where(F.col("n_chars") > 0)
        .select(
            "doc_id",
            "source",
            F.floor(
                F.log(F.col("n_chars").cast("double"))
                / F.log(F.lit(2.0))
            )
            .cast("bigint")
            .alias("oct"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        )
    )
    orate = d.groupBy("oct").agg(
        F.round(
            F.sum("y").cast("double") / F.count(F.lit(1)), 10
        ).alias("pa")
    )
    srate = d.groupBy("source").agg(
        F.round(
            F.sum("y").cast("double") / F.count(F.lit(1)), 10
        ).alias("pb")
    )
    scored = d.join(F.broadcast(orate), "oct").join(
        F.broadcast(srate), "source"
    )
    fold = scored.agg(
        F.sum("y").cast("bigint").alias("ne"),
        F.sum(1 - F.col("y")).cast("bigint").alias("nn"),
        F.sum(
            F.when(
                F.col("y") == 1,
                F.round("pa", 10).cast("decimal(28,10)"),
            )
        )
        .cast("double")
        .alias("sa1"),
        F.sum(
            F.when(
                F.col("y") == 0,
                F.round("pa", 10).cast("decimal(28,10)"),
            )
        )
        .cast("double")
        .alias("sa0"),
        F.sum(
            F.when(
                F.col("y") == 1,
                F.round("pb", 10).cast("decimal(28,10)"),
            )
        )
        .cast("double")
        .alias("sb1"),
        F.sum(
            F.when(
                F.col("y") == 0,
                F.round("pb", 10).cast("decimal(28,10)"),
            )
        )
        .cast("double")
        .alias("sb0"),
    )
    slope_a = F.col("sa1") / F.col("ne") - F.col("sa0") / F.col("nn")
    slope_b = F.col("sb1") / F.col("ne") - F.col("sb0") / F.col("nn")
    return fold.select(
        F.col("ne").alias("n_events"),
        F.col("nn").alias("n_nonevents"),
        (F.round(slope_a, 8) + 0.0).alias("slope_length_model"),
        (F.round(slope_b, 8) + 0.0).alias("slope_source_model"),
        (F.round(slope_b - slope_a, 8) + 0.0).alias("idi"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "idi_discrimination_improvement": (
            "no window — two bounded-grid rate rollups + broadcast "
            "joins + one fold (the net_reclassification frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# Herdan / Guiraud / Dugast / Maas richness-constant panel
# --------------------------------------------------------------------------
@register(
    "herdan_guiraud_richness",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    tf AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok WHERE w <> '' GROUP BY w
    ),
    fold AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM tf
    )
    SELECT n AS n_tokens, v AS vocab_size,
           round(ln(v * 1.0) / ln(n * 1.0), 8) + 0.0 AS herdan_c,
           round(CAST(v AS DOUBLE) / sqrt(n * 1.0), 6) + 0.0
               AS guiraud_r,
           round(CAST(v AS DOUBLE) / sqrt(2.0 * n), 6) + 0.0
               AS cttr,
           round(ln(n * 1.0) * ln(n * 1.0)
                 / (ln(n * 1.0) - ln(v * 1.0)), 4) + 0.0 AS dugast_u,
           round((ln(n * 1.0) - ln(v * 1.0))
                 / (ln(n * 1.0) * ln(n * 1.0)), 8) + 0.0
               AS maas_a2
    FROM fold
    """,
)
def herdan_guiraud_richness(spark, sf_dir):
    """HERDAN / GUIRAUD / DUGAST / MAAS lexical-richness constants
    on the same whitespace-unigram frame as
    `honore_sichel_richness` — the (N, V)-only second opinions to
    the hapax-driven panel: Herdan's C = lnV/lnN (the type-token
    log slope, the pointwise reading of `heaps_law_fit`'s fitted
    exponent — the two disagreeing flags curvature in vocabulary
    growth), Guiraud's R = V/sqrt(N) and the corrected CTTR
    V/sqrt(2N) (the root-normalized TTRs), Dugast's U = ln^2 N /
    (lnN - lnV) and Maas a^2 = its reciprocal-form companion (the
    most size-stable of the classical constants, LOW = richer).
    Where Honore/Sichel react to the frequency SPECTRUM, these five
    move only with total vocabulary yield — a spectrum shift with
    stable (N, V) separates the panels, which is exactly the
    dedup-vs-topic-drift diagnostic a corpus monitor wants.

    Exactness: N and V are exact BIGINTs off one token rollup; all
    five constants are terminal double trees over (lnN, lnV).
    Plan: one explode + rollup, one fold — no window."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    ).where(F.col("w") != "")
    tf = tok.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    fold = tf.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    lnn = F.log(F.col("n").cast("double"))
    lnv = F.log(F.col("v").cast("double"))
    return fold.select(
        F.col("n").alias("n_tokens"),
        F.col("v").alias("vocab_size"),
        (F.round(lnv / lnn, 8) + 0.0).alias("herdan_c"),
        (
            F.round(
                F.col("v").cast("double")
                / F.sqrt(F.col("n").cast("double")),
                6,
            )
            + 0.0
        ).alias("guiraud_r"),
        (
            F.round(
                F.col("v").cast("double")
                / F.sqrt(2.0 * F.col("n").cast("double")),
                6,
            )
            + 0.0
        ).alias("cttr"),
        (F.round(lnn * lnn / (lnn - lnv), 4) + 0.0).alias("dugast_u"),
        (F.round((lnn - lnv) / (lnn * lnn), 8) + 0.0)
        .alias("maas_a2"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "herdan_guiraud_richness": (
            "no window — one explode + token rollup + one fold (the "
            "honore_sichel frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# Clauset-Shalizi-Newman discrete power-law MLE on token frequencies
# --------------------------------------------------------------------------
@register(
    "token_powerlaw_clauset",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    tf AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok WHERE w <> '' GROUP BY w
    ),
    tail AS (
        SELECT c FROM tf WHERE c >= 5
    ),
    mle AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(ln(c / 4.5), 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS sl
        FROM tail
    ),
    fof AS (
        SELECT c, CAST(COUNT(*) AS BIGINT) AS m
        FROM tail GROUP BY c
    ),
    cum AS (
        SELECT c, m,
               CAST(SUM(m) OVER (ORDER BY c DESC) AS BIGINT) AS geq
        FROM fof
    ),
    ks AS (
        SELECT MAX(round(abs(
                   CAST(geq AS DOUBLE) / mle.n
                   - exp((1.0 - (1.0 + mle.n / mle.sl))
                         * round(ln((c - 0.5) / 4.5), 8))), 8))
                   AS kd
        FROM cum, mle
    )
    SELECT mle.n AS n_tail_types,
           round(1.0 + mle.n / mle.sl, 6) + 0.0 AS alpha_mle,
           round((1.0 + mle.n / mle.sl - 1.0) / sqrt(mle.n * 1.0), 8)
               + 0.0 AS alpha_se,
           round(ks.kd, 8) + 0.0 AS ks_distance
    FROM mle, ks
    """,
)
def token_powerlaw_clauset(spark, sf_dir):
    """CLAUSET-SHALIZI-NEWMAN power-law MLE on the token frequency
    tail (counts >= kmin = 5, pinned): alpha = 1 + n / sum ln(c /
    (kmin - 0.5)) with SE (alpha-1)/sqrt(n), plus the KS distance
    between the empirical tail CCDF and the fitted continuous-
    approximation CCDF ((c-0.5)/(kmin-0.5))^(1-alpha) — the
    likelihood-theory second opinion to `zipf_slope_tokens` /
    `zipf_mandelbrot_fit` (rank-frequency regressions): CSN showed
    log-log regression slopes are biased and their R^2 meaningless
    for heavy tails, so MLE-alpha disagreeing with the regression
    slope by more than a few SE is evidence the rank fit is being
    bent by the (Mandelbrot) head, and `ks_distance` is the
    goodness criterion CSN's recipe actually thresholds.

    Exactness: tail counts exact BIGINTs; ln(c/4.5) rounds at 8 dp
    into a DECIMAL(28,8) fold; the tail CCDF comes from a
    descending cumulative over the frequency-of-frequencies grid
    (count-value-domain-bounded, ~hundreds of rows at any SF); the
    fitted CCDF is exp((1-alpha) ln(...)) on the shared-libm tree.
    Plan: explode + token rollup -> tail filter -> scalar MLE fold
    + bounded-grid cumulative + top-1; no data-scaled window."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    ).where(F.col("w") != "")
    tf = tok.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tail = tf.where(F.col("c") >= 5).select("c").persist()
    mle = tail.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.round(F.log(F.col("c") / 4.5), 8).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("sl"),
    )
    fof = tail.groupBy("c").agg(
        F.count(F.lit(1)).cast("bigint").alias("m")
    )
    cum = fof.select(
        "c",
        F.sum("m")
        .over(
            Window.orderBy(F.col("c").desc()).rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .cast("bigint")
        .alias("geq"),
    )
    alpha = 1.0 + F.col("n") / F.col("sl")
    ks = cum.crossJoin(F.broadcast(mle)).agg(
        F.max(
            F.round(
                F.abs(
                    F.col("geq").cast("double") / F.col("n")
                    - F.exp(
                        (1.0 - alpha)
                        * F.round(F.log((F.col("c") - 0.5) / 4.5), 8)
                    )
                ),
                8,
            )
        ).alias("kd")
    )
    return mle.crossJoin(F.broadcast(ks)).select(
        F.col("n").alias("n_tail_types"),
        (F.round(alpha, 6) + 0.0).alias("alpha_mle"),
        (
            F.round(
                (alpha - 1.0) / F.sqrt(F.col("n").cast("double")), 8
            )
            + 0.0
        ).alias("alpha_se"),
        (F.round("kd", 8) + 0.0).alias("ks_distance"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "token_powerlaw_clauset": (
            "descending cumulative over the count-value fof grid "
            "(value-domain-bounded — the ansari_bradley class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Benford sum-invariance test (Nigrini's second-moment forensics lens)
# --------------------------------------------------------------------------
@register(
    "benford_sum_invariance",
    oracle="""
    WITH pts AS (
        SELECT CAST(o_totalprice AS DOUBLE) AS v
        FROM orders WHERE o_totalprice > 0
    ),
    mant AS (
        SELECT CAST(substr(CAST(CAST(v * 100 AS BIGINT) AS VARCHAR),
                    1, 1) AS BIGINT) AS d,
               round(v / exp(floor(round(ln(v) / ln(10.0), 10))
                             * ln(10.0)), 8) AS m
        FROM pts
    ),
    dig AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(m, 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS sm
        FROM mant GROUP BY d
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS tn,
               CAST(SUM(CAST(round(sm, 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS tsm
        FROM dig
    )
    SELECT dig.d AS first_digit,
           dig.n AS n_orders,
           round(dig.sm, 4) + 0.0 AS mantissa_sum,
           round(dig.sm / tot.tsm, 8) + 0.0 AS sum_share,
           round(dig.sm / tot.tsm - 1.0 / 9.0, 8) + 0.0
               AS excess_vs_ninth,
           round(CAST(dig.n AS DOUBLE) / tot.tn
                 - ln(1.0 + 1.0 / dig.d) / ln(10.0), 8) + 0.0
               AS count_excess_vs_benford
    FROM dig, tot
    ORDER BY dig.d
    """,
)
def benford_sum_invariance(spark, sf_dir):
    """BENFORD SUM-INVARIANCE test on order totals — Nigrini's
    second-moment forensics lens beside the registry's digit-
    frequency battery (`benford_first_digit`, `benford_second_
    digit_mad`, `benford_first_two_digits`): for Benford-conforming
    data the SUM of significands m = v/10^floor(log10 v) is the
    same for every leading digit (each sum_share -> 1/9), a
    property frequency tests cannot see — a handful of large
    fabricated amounts barely moves digit counts but torques the
    sum shares of their leading digit, which is why the sum test is
    the standard escalation when MAD conformity is marginal. Both
    excess columns ship so the count lens and the sum lens read
    side by side per digit.

    Exactness: the leading digit comes from the exact integer-cents
    string prefix (the benford_first_two device, no float log for
    the digit); the significand's floor(log10 v) pins the ln-ratio
    at 10 dp before floor (the decade-escalation rule — a power-of-
    ten boundary value straddling 1ulp of libm ln would otherwise
    flip a digit bucket); mantissas round at 8 dp into DECIMAL
    folds. Plan: one scan -> 9-row digit rollup -> scalar total;
    no window."""
    o = t(spark, sf_dir, "orders")
    pts = o.where(F.col("o_totalprice") > 0).select(
        F.col("o_totalprice").cast("double").alias("v")
    )
    digit = F.substring(
        (F.col("v") * 100).cast("bigint").cast("string"), 1, 1
    ).cast("bigint")
    mant = pts.select(
        digit.alias("d"),
        F.round(
            F.col("v")
            / F.exp(
                F.floor(F.round(F.log("v") / F.log(F.lit(10.0)), 10))
                * F.log(F.lit(10.0))
            ),
            8,
        ).alias("m"),
    )
    dig = mant.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round("m", 8).cast("decimal(28,8)"))
        .cast("double")
        .alias("sm"),
    )
    tot = dig.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum(F.round("sm", 8).cast("decimal(28,8)"))
        .cast("double")
        .alias("tsm"),
    )
    out = dig.crossJoin(F.broadcast(tot))
    return out.select(
        F.col("d").alias("first_digit"),
        F.col("n").alias("n_orders"),
        (F.round("sm", 4) + 0.0).alias("mantissa_sum"),
        (F.round(F.col("sm") / F.col("tsm"), 8) + 0.0)
        .alias("sum_share"),
        (F.round(F.col("sm") / F.col("tsm") - 1.0 / 9.0, 8) + 0.0)
        .alias("excess_vs_ninth"),
        (
            F.round(
                F.col("n").cast("double") / F.col("tn")
                - F.log(1.0 + 1.0 / F.col("d"))
                / F.log(F.lit(10.0)),
                8,
            )
            + 0.0
        ).alias("count_excess_vs_benford"),
    ).orderBy("first_digit")


PLAN_AUDIT_NOTES.update(
    {
        "benford_sum_invariance": (
            "no window — 9-row digit rollup + scalar total"
        ),
    }
)


# --------------------------------------------------------------------------
# Whipple terminal-digit heaping index on dollar amounts
# --------------------------------------------------------------------------
@register(
    "whipple_terminal_heaping",
    oracle="""
    WITH pts AS (
        SELECT CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS BIGINT) % 10 AS td
        FROM orders
    ),
    dig AS (
        SELECT td, CAST(COUNT(*) AS BIGINT) AS n
        FROM pts GROUP BY td
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tn FROM dig),
    ex AS (
        SELECT dig.td, dig.n,
               CAST(dig.n AS DOUBLE) / tot.tn - 0.1 AS e
        FROM dig, tot
    ),
    summ AS (
        SELECT CAST(MAX(tot.tn) AS BIGINT) AS tn,
               round(500.0 * SUM(CASE WHEN td IN (0, 5)
                                      THEN CAST(n AS DOUBLE) END)
                     / MAX(tot.tn), 6) AS whipple,
               round(0.5 * CAST(SUM(CAST(round(abs(e), 10)
                     AS DECIMAL(28,10))) AS DOUBLE), 8) AS tvd
        FROM ex, tot GROUP BY 1.0
    ),
    mx AS (
        SELECT td AS max_d, round(e, 8) AS max_e
        FROM ex ORDER BY e DESC, td ASC LIMIT 1
    )
    SELECT s.tn AS n_orders,
           s.whipple + 0.0 AS whipple_index,
           s.tvd + 0.0 AS tvd_from_uniform,
           m.max_d AS max_excess_digit,
           m.max_e + 0.0 AS max_excess_share
    FROM summ s, mx m
    """,
)
def whipple_terminal_heaping(spark, sf_dir):
    """WHIPPLE-style terminal-digit heaping audit on the integer
    DOLLAR part of order totals — the demography-standard second
    opinion to `price_point_heaping` (which hunts psychological
    .99/.95 CENT points): Whipple's index W = 500*(share of
    terminal digits 0 or 5) reads 100 under no preference and >105
    is the UN's "rough data" cutoff — round-number heaping in the
    DOLLARS is the invoice-fabrication / manual-entry signature the
    cent-point lens misses. The panel adds the total-variation
    distance of the 10-digit distribution from uniform (the
    all-digit generalization Whipple's 0/5 focus misses) and the
    argmax digit with its excess share (deterministic tie-break by
    digit).

    Exactness: terminal digits are exact integer mod-10 off the
    DECIMAL(18,2) cast; counts are exact; TVD terms round at 10 dp
    into a DECIMAL fold; the argmax is an ORDER BY ... LIMIT 1 on
    the 10-row digit frame (TakeOrdered, not a sort). Plan: one
    scan -> 10-row digit rollup -> two scalar folds; no window."""
    o = t(spark, sf_dir, "orders")
    pts = o.select(
        (F.floor(dec("o_totalprice", 18, 2)).cast("bigint") % 10)
        .alias("td")
    )
    dig = pts.groupBy("td").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = dig.agg(F.sum("n").cast("bigint").alias("tn"))
    ex = dig.crossJoin(F.broadcast(tot)).select(
        "td",
        "n",
        "tn",
        (F.col("n").cast("double") / F.col("tn") - 0.1).alias("e"),
    ).persist()
    summ = ex.agg(
        F.max("tn").cast("bigint").alias("tn"),
        F.round(
            500.0
            * F.sum(
                F.when(
                    F.col("td").isin(0, 5), F.col("n").cast("double")
                )
            )
            / F.max("tn"),
            6,
        ).alias("whipple"),
        F.round(
            0.5
            * F.sum(
                F.round(F.abs(F.col("e")), 10).cast("decimal(28,10)")
            ),
            8,
        ).cast("double").alias("tvd"),
    )
    mx = (
        ex.orderBy(F.col("e").desc(), F.col("td").asc())
        .limit(1)
        .select(
            F.col("td").alias("max_d"),
            F.round("e", 8).alias("max_e"),
        )
    )
    return summ.crossJoin(F.broadcast(mx)).select(
        F.col("tn").alias("n_orders"),
        (F.col("whipple") + 0.0).alias("whipple_index"),
        (F.col("tvd") + 0.0).alias("tvd_from_uniform"),
        F.col("max_d").alias("max_excess_digit"),
        (F.col("max_e") + 0.0).alias("max_excess_share"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "whipple_terminal_heaping": (
            "no window — 10-row digit rollup + TakeOrdered top-1"
        ),
    }
)


# --------------------------------------------------------------------------
# Gini cograduation index between the two largest sources' term ranks
# --------------------------------------------------------------------------
@register(
    "gini_cograduation_index",
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
    sk AS (
        SELECT ra, rb, CAST(COUNT(*) OVER () AS BIGINT) AS k
        FROM shared
    ),
    f AS (
        SELECT k,
               CAST(SUM(abs(ra - rb)) AS BIGINT) AS fr,
               CAST(SUM(abs(k + 1 - ra - rb)) AS BIGINT) AS co
        FROM sk GROUP BY k
    )
    SELECT k AS n_shared_terms,
           fr AS footrule_distance,
           co AS cograduation_sum,
           round(CAST(co - fr AS DOUBLE) / ((k * k) // 2), 9) + 0.0
               AS gini_gamma
    FROM f
    """,
)
def gini_cograduation_index(spark, sf_dir):
    """GINI'S COGRADUATION INDEX gamma between the two largest
    sources' term-frequency rankings on exactly the
    `spearman_footrule_sources` shared-vocabulary frame: gamma =
    [sum|n+1-ra-rb| - sum|ra-rb|] / floor(n^2/2) opposes the
    ANTI-rank distance to the footrule distance, giving a
    [-1,1] coefficient that is the L1 analogue of Spearman's rho
    the way the footrule is the L1 analogue of Spearman's D — and
    unlike the footrule similarity (distance-only), gamma
    DISTINGUISHES independence (near 0) from active rank reversal
    (near -1), the reading a drift monitor needs when two corpora
    start anti-correlating rather than merely diverging. Salvemini's
    normalization makes the two sums exactly comparable integers.

    Exactness: both rank sets are the same deterministic
    row_numbers as the footrule query (count desc, term asc); both
    L1 sums are exact BIGINTs; gamma is one integer-ratio division.
    Plan: token rollup -> two source slices joined on term ->
    vocabulary-domain-bounded rank windows -> one fold."""
    d = t(spark, sf_dir, "documents")
    tc = (
        d.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("w")
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist()
    )
    top2 = (
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
    sa = top2.where(F.col("rn") == 1).select(
        F.col("source").alias("src_a")
    )
    sb = top2.where(F.col("rn") == 2).select(
        F.col("source").alias("src_b")
    )
    a = tc.join(F.broadcast(sa), tc.source == F.col("src_a")).select(
        F.col("w").alias("wa"), F.col("c").alias("ca")
    )
    b = tc.join(F.broadcast(sb), tc.source == F.col("src_b")).select(
        F.col("w").alias("wb"), F.col("c").alias("cb")
    )
    shared = a.join(b, F.col("wa") == F.col("wb")).select(
        F.col("wa").alias("w"), "ca", "cb"
    )
    ranked = shared.select(
        F.row_number()
        .over(Window.orderBy(F.col("ca").desc(), F.col("w").asc()))
        .cast("bigint")
        .alias("ra"),
        F.row_number()
        .over(Window.orderBy(F.col("cb").desc(), F.col("w").asc()))
        .cast("bigint")
        .alias("rb"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint")
        .alias("k"),
    )
    f = ranked.groupBy("k").agg(
        F.sum(F.abs(F.col("ra") - F.col("rb")))
        .cast("bigint")
        .alias("fr"),
        F.sum(
            F.abs(F.col("k") + 1 - F.col("ra") - F.col("rb"))
        )
        .cast("bigint")
        .alias("co"),
    )
    return f.select(
        F.col("k").alias("n_shared_terms"),
        F.col("fr").alias("footrule_distance"),
        F.col("co").alias("cograduation_sum"),
        (
            F.round(
                (F.col("co") - F.col("fr")).cast("double")
                / F.floor(F.col("k") * F.col("k") / 2),
                9,
            )
            + 0.0
        ).alias("gini_gamma"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "gini_cograduation_index": (
            "rank windows over the shared two-source vocabulary "
            "(vocabulary-domain-bounded — the spearman_footrule "
            "class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Savage (exponential-scores) two-sample location test
# --------------------------------------------------------------------------
_H20 = [0.0, 1.0, 1.5, 1.8333333333333333, 2.0833333333333335, 2.283333333333333, 2.45, 2.592857142857143, 2.717857142857143, 2.828968253968254, 2.9289682539682538, 3.019877344877345, 3.103210678210678, 3.180133755133755, 3.2515623265623264, 3.3182289932289932, 3.3807289932289932, 3.4395525226407577, 3.4951080781963135, 3.547739657143682, 3.597739657143682]


def _harmonic_col(k):
    """H_k as a Column: exact 21-entry literal table for k <= 20,
    the Euler-Maclaurin series ln k + gamma + 1/(2k) - 1/(12k^2)
    + 1/(120k^4) beyond (error < 1e-12 at k > 20; identical
    expression trees in both engines — the erlang factorial-table
    pattern applied to harmonic numbers)."""
    kd = k.cast("double")
    out = (
        F.log(kd)
        + 0.5772156649015329
        + 1.0 / (2.0 * kd)
        - 1.0 / (12.0 * kd * kd)
        + 1.0 / (120.0 * kd * kd * kd * kd)
    )
    for i in range(20, -1, -1):
        out = F.when(k == i, F.lit(_H20[i])).otherwise(out)
    return out


# pi^2/6, and the exact 21-entry generalized-harmonic H2 table
# (H2_j = sum_{k<=j} 1/k^2); beyond 20 the trigamma Euler-Maclaurin
# series psi'(j+1) = 1/x + 1/(2x^2) + 1/(6x^3) - 1/(30x^5) closes it
# as H2_j = pi^2/6 - psi'(j+1) (the same table+series pattern as
# _harmonic_col above). Moved here from bank_r20 at the round-18
# close: its one consumer, moran_log_spacings, is bank_r20's OLDEST
# query — the round-19 flip's promotion candidate — and bank_r20
# already imports this bank's _harmonic_col, so hosting the device
# here keeps the promotion cycle-free.
_PI2_6 = 1.6449340668482264
_H2_20 = [0.0, 1.0, 1.25, 1.3611111111111112, 1.4236111111111112, 1.4636111111111112, 1.4913888888888889, 1.511797052154195, 1.527422052154195, 1.5397677311665408, 1.5497677311665408, 1.558032193976458, 1.5649766384209025, 1.5708937981842162, 1.5759958390005426, 1.580440283444987, 1.584346533444987, 1.587806741057444, 1.5908931608105303, 1.5936632439130234, 1.5961632439130233]


def _harmonic2_col(j):
    """H2_j = sum_{k=1..j} 1/k^2 as a Column (table + series)."""
    x = (j + 1).cast("double")
    out = _PI2_6 - (
        1.0 / x
        + 1.0 / (2.0 * x * x)
        + 1.0 / (6.0 * x * x * x)
        - 1.0 / (30.0 * x * x * x * x * x)
    )
    for i in range(20, -1, -1):
        out = F.when(j == i, F.lit(_H2_20[i])).otherwise(out)
    return out


@register(
    "savage_scores_location",
    oracle="""
    WITH pts AS (
        SELECT CASE WHEN CAST(epoch_us(o_orderdate) // 86400000000
                         + 4 AS BIGINT) % 7 >= 5
                    THEN 1 ELSE 0 END AS g,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    cells AS (
        SELECT v,
               CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(g) AS BIGINT) AS c1
        FROM pts GROUP BY v
    ),
    cum AS (
        SELECT v, c, c1,
               CAST(COALESCE(SUM(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS h,
               CAST(SUM(c) OVER () AS BIGINT) AS n
        FROM cells
    ),
    hterm AS (
        SELECT v, c, c1, h, n,
               round(c * (CASE WHEN n = 0 THEN 0.0 WHEN n = 1 THEN 1.0 WHEN n = 2 THEN 1.5 WHEN n = 3 THEN 1.8333333333333333 WHEN n = 4 THEN 2.0833333333333335 WHEN n = 5 THEN 2.283333333333333 WHEN n = 6 THEN 2.45 WHEN n = 7 THEN 2.592857142857143 WHEN n = 8 THEN 2.717857142857143 WHEN n = 9 THEN 2.828968253968254 WHEN n = 10 THEN 2.9289682539682538 WHEN n = 11 THEN 3.019877344877345 WHEN n = 12 THEN 3.103210678210678 WHEN n = 13 THEN 3.180133755133755 WHEN n = 14 THEN 3.2515623265623264 WHEN n = 15 THEN 3.3182289932289932 WHEN n = 16 THEN 3.3807289932289932 WHEN n = 17 THEN 3.4395525226407577 WHEN n = 18 THEN 3.4951080781963135 WHEN n = 19 THEN 3.547739657143682 WHEN n = 20 THEN 3.597739657143682 ELSE ln(CAST(n AS DOUBLE)) + 0.5772156649015329 + 1.0 / (2.0 * n) - 1.0 / (12.0 * n * n) + 1.0 / (120.0 * n * n * n * n) END)
                 - (CASE WHEN n - h - 1 <= 0 THEN 0.0
                         ELSE (n - h) * round(
                             (CASE WHEN (n - h - 1) = 0 THEN 0.0 WHEN (n - h - 1) = 1 THEN 1.0 WHEN (n - h - 1) = 2 THEN 1.5 WHEN (n - h - 1) = 3 THEN 1.8333333333333333 WHEN (n - h - 1) = 4 THEN 2.0833333333333335 WHEN (n - h - 1) = 5 THEN 2.283333333333333 WHEN (n - h - 1) = 6 THEN 2.45 WHEN (n - h - 1) = 7 THEN 2.592857142857143 WHEN (n - h - 1) = 8 THEN 2.717857142857143 WHEN (n - h - 1) = 9 THEN 2.828968253968254 WHEN (n - h - 1) = 10 THEN 2.9289682539682538 WHEN (n - h - 1) = 11 THEN 3.019877344877345 WHEN (n - h - 1) = 12 THEN 3.103210678210678 WHEN (n - h - 1) = 13 THEN 3.180133755133755 WHEN (n - h - 1) = 14 THEN 3.2515623265623264 WHEN (n - h - 1) = 15 THEN 3.3182289932289932 WHEN (n - h - 1) = 16 THEN 3.3807289932289932 WHEN (n - h - 1) = 17 THEN 3.4395525226407577 WHEN (n - h - 1) = 18 THEN 3.4951080781963135 WHEN (n - h - 1) = 19 THEN 3.547739657143682 WHEN (n - h - 1) = 20 THEN 3.597739657143682 ELSE ln(CAST((n - h - 1) AS DOUBLE)) + 0.5772156649015329 + 1.0 / (2.0 * (n - h - 1)) - 1.0 / (12.0 * (n - h - 1) * (n - h - 1)) + 1.0 / (120.0 * (n - h - 1) * (n - h - 1) * (n - h - 1) * (n - h - 1)) END),
                             10) - (n - h - 1.0) END
                    - CASE WHEN n - h - c - 1 <= 0 THEN 0.0
                           ELSE (n - h - c) * round(
                               (CASE WHEN (n - h - c - 1) = 0 THEN 0.0 WHEN (n - h - c - 1) = 1 THEN 1.0 WHEN (n - h - c - 1) = 2 THEN 1.5 WHEN (n - h - c - 1) = 3 THEN 1.8333333333333333 WHEN (n - h - c - 1) = 4 THEN 2.0833333333333335 WHEN (n - h - c - 1) = 5 THEN 2.283333333333333 WHEN (n - h - c - 1) = 6 THEN 2.45 WHEN (n - h - c - 1) = 7 THEN 2.592857142857143 WHEN (n - h - c - 1) = 8 THEN 2.717857142857143 WHEN (n - h - c - 1) = 9 THEN 2.828968253968254 WHEN (n - h - c - 1) = 10 THEN 2.9289682539682538 WHEN (n - h - c - 1) = 11 THEN 3.019877344877345 WHEN (n - h - c - 1) = 12 THEN 3.103210678210678 WHEN (n - h - c - 1) = 13 THEN 3.180133755133755 WHEN (n - h - c - 1) = 14 THEN 3.2515623265623264 WHEN (n - h - c - 1) = 15 THEN 3.3182289932289932 WHEN (n - h - c - 1) = 16 THEN 3.3807289932289932 WHEN (n - h - c - 1) = 17 THEN 3.4395525226407577 WHEN (n - h - c - 1) = 18 THEN 3.4951080781963135 WHEN (n - h - c - 1) = 19 THEN 3.547739657143682 WHEN (n - h - c - 1) = 20 THEN 3.597739657143682 ELSE ln(CAST((n - h - c - 1) AS DOUBLE)) + 0.5772156649015329 + 1.0 / (2.0 * (n - h - c - 1)) - 1.0 / (12.0 * (n - h - c - 1) * (n - h - c - 1)) + 1.0 / (120.0 * (n - h - c - 1) * (n - h - c - 1) * (n - h - c - 1) * (n - h - c - 1)) END),
                               10) - (n - h - c - 1.0) END), 8)
                   AS ag
        FROM cum
    ),
    fold AS (
        SELECT MAX(n) AS n,
               CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(CAST(round(ag, 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS sa,
               CAST(SUM(CAST(round(CAST(c1 AS DOUBLE) / c * ag, 8)
                    AS DECIMAL(28,8))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(round(ag * ag / c, 8)
                    AS DECIMAL(28,8))) AS DOUBLE) AS sa2
        FROM hterm
    )
    SELECT n AS n_orders,
           n1 AS n_fri_sat,
           round(s1, 4) + 0.0 AS savage_sum_fri_sat,
           round(CAST(n1 AS DOUBLE) * sa / n, 4) + 0.0
               AS expected_sum,
           round((s1 - CAST(n1 AS DOUBLE) * sa / n)
                 / sqrt(CAST(n1 AS DOUBLE) * (n - n1) / (n * (n - 1.0))
                        * (sa2 - sa * sa / n)), 6) + 0.0
               AS savage_z
    FROM fold
""",
)
def savage_scores_location(spark, sf_dir):
    """SAVAGE (exponential-scores) two-sample test of Fri/Sat vs
    Sun-Thu order value: each observation takes the expected
    exponential order statistic a_i = H_n - H_(n-i) (ties get the
    group-average score), and the Fri/Sat score sum is z-scored
    with the exact finite-population moments — the SCALE-SENSITIVE-
    IN-THE-TAIL rank test the location battery lacks: Wilcoxon
    weights all ranks linearly and `van_der_waerden_test` normal-
    scores the middle, but Savage scores grow like ln n in the
    upper tail, making this the locally-most-powerful rank test
    for proportional-hazards/exponential-scale alternatives — it
    is literally the uncensored log-rank, so its verdict beside
    `log_rank_sessions` ties the revenue battery to the survival
    battery. Tie-group score sums close via the harmonic identity
    sum H_m = (b+1)H_b - b, so NO per-row score materializes — one
    bounded-grid pass.

    Exactness: counts/heads are exact integers on the cents grid
    (exclusive-prefix cumulative, the ansari_bradley device); H
    comes from the hybrid exact-table/series device pinned at 10
    dp; per-group score sums round at 8 dp into DECIMAL folds; the
    z closes in one IEEE expression. Plan: one rollup to the value
    grid, one cumulative, one fold.

    r19 grain triage: data-grain cents grid (14,999 -> 149,743 rows
    sf0.01 -> sf0.1), so the rank cumulative AND the whole-frame n
    ride the ``exact_cumulative`` value-bucket device (the cvm_lognormal_gof
    twin); exact integers, bit-identical."""
    o = t(spark, sf_dir, "orders")
    day = F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
    pts = o.select(
        F.when((day + 4) % 7 >= 5, 1).otherwise(0).alias("g"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v"),
    ).where(F.col("v").isNotNull())
    cells = pts.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("g").cast("bigint").alias("c1"),
    )
    acc, _ = exact_cumulative(cells, ("v",), {"pn": F.sum("c")})
    cum = acc.select(
        "v",
        "c",
        "c1",
        (F.col("cum_pn") - F.col("c"))
        .cast("bigint")
        .alias("h"),
        F.col("tot_pn").cast("bigint").alias("n"),
    )

    def sh(b):
        # S_H(b) = sum_{m=1..b} H_m = (b+1) H_b - b, 0 for b <= 0
        return F.when(b <= 0, F.lit(0.0)).otherwise(
            (b + 1).cast("double")
            * F.round(_harmonic_col(b), 10)
            - b.cast("double")
        )

    b_hi = F.col("n") - F.col("h") - 1
    b_lo = F.col("n") - F.col("h") - F.col("c") - 1
    ag = F.round(
        F.col("c") * _harmonic_col(F.col("n"))
        - (sh(b_hi) - sh(b_lo)),
        8,
    )
    hterm = cum.select("c", "c1", "n", ag.alias("ag"))
    fold = hterm.agg(
        F.max("n").alias("n"),
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum(F.round("ag", 8).cast("decimal(28,8)"))
        .cast("double")
        .alias("sa"),
        F.sum(
            F.round(
                F.col("c1").cast("double") / F.col("c") * F.col("ag"),
                8,
            ).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("s1"),
        F.sum(
            F.round(
                F.col("ag") * F.col("ag") / F.col("c"), 8
            ).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("sa2"),
    )
    n = F.col("n").cast("double")
    n1 = F.col("n1").cast("double")
    esum = n1 * F.col("sa") / n
    vars = (
        n1
        * (n - n1)
        / (n * (n - 1.0))
        * (F.col("sa2") - F.col("sa") * F.col("sa") / n)
    )
    return fold.select(
        F.col("n").alias("n_orders"),
        F.col("n1").alias("n_fri_sat"),
        (F.round("s1", 4) + 0.0).alias("savage_sum_fri_sat"),
        (F.round(esum, 4) + 0.0).alias("expected_sum"),
        (F.round((F.col("s1") - esum) / F.sqrt(vars), 6) + 0.0)
        .alias("savage_z"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "savage_scores_location": (
            "INFO: no single-partition window since the r19 grain "
            "triage — the data-grain cents-grid cumulative rides the "
            "value-bucket device (the cvm_lognormal_gof twin); note "
            "kept for the history, excluded from the effective "
            "allowlist"
        ),
    }
)


# --------------------------------------------------------------------------
# Anderson-Darling GoF against the moment-fitted lognormal
# --------------------------------------------------------------------------
@register(
    "anderson_darling_lognormal",
    oracle=f"""
    WITH pts AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS x
        FROM orders
    ),
    grid AS (
        SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM pts GROUP BY x
    ),
    lmom AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CAST(round(c * round(ln(CAST(v AS DOUBLE)
                   / 100000.0), 8), 6) AS DECIMAL(38,6)))
                   AS DOUBLE) AS sl,
               CAST(SUM(CAST(round(c * round(ln(CAST(v AS DOUBLE)
                   / 100000.0), 8)
                   * round(ln(CAST(v AS DOUBLE) / 100000.0), 8), 6)
                   AS DECIMAL(38,6))) AS DOUBLE) AS sll
        FROM grid
    ),
    fitp AS (
        SELECT n, round(sl / n, 8) AS mu,
               round(sqrt(sll / n - (sl / n) * (sl / n)), 8) AS sig
        FROM lmom
    ),
    cum AS (
        SELECT g.v, g.c, f.n, f.mu, f.sig,
               CAST(COALESCE(SUM(g.c) OVER (ORDER BY g.v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                   PRECEDING), 0) AS BIGINT) AS head
        FROM grid g, fitp f
    ),
    scored AS (
        SELECT v, c, n, head,
               GREATEST(LEAST(round({phi_sql(
                   "((round(ln(CAST(v AS DOUBLE) / 100000.0), 8)"
                   " - mu) / sig)")}, 10), 1.0 - 1e-10), 1e-10)
                   AS ff
        FROM cum
    ),
    fold AS (
        SELECT MAX(n) AS n,
               CAST(SUM(CAST(round(
                   c * (2.0 * head + c) * round(ln(ff), 10), 4)
                   AS DECIMAL(38,4))) AS DOUBLE) AS t1,
               CAST(SUM(CAST(round(
                   c * (2.0 * (n - head) - c)
                   * round(ln(1.0 - ff), 10), 4)
                   AS DECIMAL(38,4))) AS DOUBLE) AS t2
        FROM scored
    )
    SELECT f.n AS n_orders,
           p.mu AS mu_hat, p.sig AS sigma_hat,
           round(-CAST(f.n AS DOUBLE) - (f.t1 + f.t2) / f.n, 6)
               + 0.0 AS ad_a2,
           round((-CAST(f.n AS DOUBLE) - (f.t1 + f.t2) / f.n)
                 * (1.0 + 0.75 / f.n + 2.25 / (f.n * 1.0 * f.n)), 6)
               + 0.0 AS ad_a2_adjusted
    FROM fold f, fitp p
    """,
)
def anderson_darling_lognormal(spark, sf_dir):
    """ANDERSON-DARLING goodness of fit of order values against the
    moment-fitted lognormal, on exactly the `cvm_lognormal_gof`
    frame (same mu/sigma fit from 8-dp-pinned log moments, same
    cents grid, same shared Phi tree) — the TAIL-WEIGHTED member of
    the lognormal GoF battery: CvM weights squared CDF error
    uniformly, the DKW band checks the worst single point, AD's
    1/(F(1-F)) weight amplifies both tails, which for a revenue
    distribution is exactly where lognormality decides EVT
    escalation (`pot_gpd_pwm_fit`) vs closed-form quantiles. Tie
    groups close via the exact index identities sum(2i-1) = c(2h+c)
    and its reflected form c(2(n-h)-c), so no per-row rank
    materializes; `ad_a2_adjusted` carries the D'Agostino-Stephens
    small-n factor (1 + 0.75/n + 2.25/n^2) for the estimated-
    parameters case.

    Exactness: heads/counts exact integers (exclusive-prefix over
    the cents grid, the ansari_bradley device); F pins at 10 dp and
    clamps to [1e-10, 1-1e-10] before ln (identical clamp both
    engines); ln terms pin at 10 dp, weighted terms round at 4 dp
    into DECIMAL(38,4) folds (|term| <= n^2 ln n ~ 1e16 at 64x
    sf0.1 — 18 digits off the rail). Plan: one grid rollup, one
    cumulative, one fold.

    r19 grain triage: the cents grid is data-grain on the real SF
    ladder (14,999 -> 149,743 rows sf0.01 -> sf0.1 through the
    single-partition exchange), so the head cumulative now rides the
    ``exact_cumulative`` value-bucket device (the cvm_lognormal_gof twin);
    exact integers, bit-identical."""
    o = t(spark, sf_dir, "orders")
    grid = (
        o.select(
            (dec("o_totalprice", 18, 2) * 100)
            .cast("bigint")
            .alias("v")
        )
        .where(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    lnv = F.round(F.log(F.col("v").cast("double") / 100000.0), 8)
    lmom = grid.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.round(F.col("c") * lnv, 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sl"),
        F.sum(F.round(F.col("c") * lnv * lnv, 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sll"),
    )
    fitp = lmom.select(
        "n",
        F.round(F.col("sl") / F.col("n"), 8).alias("mu"),
        F.round(
            F.sqrt(
                F.col("sll") / F.col("n")
                - (F.col("sl") / F.col("n"))
                * (F.col("sl") / F.col("n"))
            ),
            8,
        ).alias("sig"),
    )
    acc, _ = exact_cumulative(grid, ("v",), {"pn": F.sum("c")})
    cum = (
        acc
        .crossJoin(F.broadcast(fitp))
        .select(
            "v",
            "c",
            "n",
            "mu",
            "sig",
            (F.col("cum_pn") - F.col("c"))
            .cast("bigint")
            .alias("head"),
        )
    )
    ff = F.greatest(
        F.least(
            F.round(
                phi_col((lnv - F.col("mu")) / F.col("sig")), 10
            ),
            F.lit(1.0 - 1e-10),
        ),
        F.lit(1e-10),
    )
    scored = cum.select("c", "n", "head", ff.alias("ff"))
    fold = scored.agg(
        F.max("n").alias("n"),
        F.sum(
            F.round(
                F.col("c")
                * (2.0 * F.col("head") + F.col("c"))
                * F.round(F.log("ff"), 10),
                4,
            ).cast("decimal(38,4)")
        )
        .cast("double")
        .alias("t1"),
        F.sum(
            F.round(
                F.col("c")
                * (2.0 * (F.col("n") - F.col("head")) - F.col("c"))
                * F.round(F.log(1.0 - F.col("ff")), 10),
                4,
            ).cast("decimal(38,4)")
        )
        .cast("double")
        .alias("t2"),
    )
    n = F.col("n").cast("double")
    a2 = -n - (F.col("t1") + F.col("t2")) / F.col("n")
    return fold.crossJoin(F.broadcast(fitp.select("mu", "sig"))).select(
        F.col("n").alias("n_orders"),
        F.col("mu").alias("mu_hat"),
        F.col("sig").alias("sigma_hat"),
        (F.round(a2, 6) + 0.0).alias("ad_a2"),
        (
            F.round(
                a2 * (1.0 + 0.75 / n + 2.25 / (n * n)), 6
            )
            + 0.0
        ).alias("ad_a2_adjusted"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "anderson_darling_lognormal": (
            "INFO: no single-partition window since the r19 grain "
            "triage — the data-grain cents-grid cumulative rides the "
            "value-bucket device (the cvm_lognormal_gof twin); note "
            "kept for the history, excluded from the effective "
            "allowlist"
        ),
    }
)


# --------------------------------------------------------------------------
# Szekely-Rizzo energy test of (log)normality
# --------------------------------------------------------------------------
@register(
    "energy_normality_test",
    oracle=f"""
    WITH pts AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS x
        FROM orders
    ),
    grid AS (
        SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM pts GROUP BY x
    ),
    lmom AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CAST(round(c * round(ln(CAST(v AS DOUBLE)
                   / 100000.0), 8), 6) AS DECIMAL(38,6)))
                   AS DOUBLE) AS sl,
               CAST(SUM(CAST(round(c * round(ln(CAST(v AS DOUBLE)
                   / 100000.0), 8)
                   * round(ln(CAST(v AS DOUBLE) / 100000.0), 8), 6)
                   AS DECIMAL(38,6))) AS DOUBLE) AS sll
        FROM grid
    ),
    fitp AS (
        SELECT n, round(sl / n, 8) AS mu,
               round(sqrt(sll / n - (sl / n) * (sl / n)), 8) AS sig
        FROM lmom
    ),
    cum AS (
        SELECT g.v, g.c, f.n,
               round((round(ln(CAST(g.v AS DOUBLE) / 100000.0), 8)
                      - f.mu) / f.sig, 8) AS y,
               CAST(COALESCE(SUM(g.c) OVER (ORDER BY g.v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                   PRECEDING), 0) AS BIGINT) AS head
        FROM grid g, fitp f
    ),
    fold AS (
        SELECT MAX(n) AS n,
               CAST(SUM(CAST(round(c * (2.0 * exp(-y * y / 2.0)
                   / 2.5066282746310002
                   + y * (2.0 * round({phi_sql("(y)")}, 10)
                          - 1.0)), 8) AS DECIMAL(38,8))) AS DOUBLE)
                   AS sez,
               CAST(SUM(CAST(round(y * c
                   * (2.0 * head + c - n), 6) AS DECIMAL(38,6)))
                   AS DOUBLE) AS dsum
        FROM cum
    )
    SELECT n AS n_orders,
           round(sez / n, 8) + 0.0 AS mean_e_abs_y_z,
           round(dsum / (CAST(n AS DOUBLE) * n), 8) + 0.0
               AS mean_pairwise_abs,
           round(n * (2.0 * sez / n - 1.1283791670955126
                 - dsum / (CAST(n AS DOUBLE) * n)), 6) + 0.0
               AS energy_stat
    FROM fold
    """,
)
def energy_normality_test(spark, sf_dir):
    """SZEKELY-RIZZO ENERGY test of normality on the standardized
    log order values (the same 8-dp-pinned moment fit as
    `cvm_lognormal_gof` / `anderson_darling_lognormal`): E = n(2
    mean E|y_i - Z| - E|Z - Z'| - mean|y_i - y_j|), with E|y - Z| =
    2 phi(y) + y(2 Phi(y) - 1) in closed form, E|Z - Z'| = 2/sqrt(pi)
    (1.1283791670955126, shared literal), and the pairwise mean
    via the SORTED identity sum|y_i - y_j| = 2 sum_i (2i-1-n) y_(i)
    folded per tie group as c(2h + c - n) y_g — the
    CHARACTERISTIC-DISTANCE member of the lognormal battery: EDF
    tests (CvM/AD/DKW) see only the CDF gap at each point; the
    energy statistic is a weighted L2 distance between
    characteristic functions (Szekely-Rizzo 2005), consistent
    against ALL alternatives, and famously sensitive to the
    multimodality/short-tail shapes AD's tail weighting discounts.
    No quadratic pair pass exists anywhere — the identity removes
    it.

    Exactness: standardized y pins at 8 dp on the cents grid; the
    closed-form E|y-Z| rounds at 8 dp into DECIMAL(38,8) folds
    (phi's exp and the shared Phi tree are identical in both
    engines); the rank-weighted pair fold rounds at 6 dp into
    DECIMAL(38,6) (|term| <= n|y| ~ 1e9 at 64x sf0.1). Plan: one
    grid rollup, one cumulative, one fold.

    r19 grain triage: data-grain cents grid (14,999 -> 149,743 rows
    sf0.01 -> sf0.1), so the rank cumulative rides
    ``exact_cumulative`` (the cvm_lognormal_gof twin); exact
    integers, bit-identical."""
    o = t(spark, sf_dir, "orders")
    grid = (
        o.select(
            (dec("o_totalprice", 18, 2) * 100)
            .cast("bigint")
            .alias("v")
        )
        .where(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    lnv = F.round(F.log(F.col("v").cast("double") / 100000.0), 8)
    lmom = grid.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.round(F.col("c") * lnv, 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sl"),
        F.sum(F.round(F.col("c") * lnv * lnv, 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sll"),
    )
    fitp = lmom.select(
        "n",
        F.round(F.col("sl") / F.col("n"), 8).alias("mu"),
        F.round(
            F.sqrt(
                F.col("sll") / F.col("n")
                - (F.col("sl") / F.col("n"))
                * (F.col("sl") / F.col("n"))
            ),
            8,
        ).alias("sig"),
    )
    acc, _ = exact_cumulative(grid, ("v",), {"pn": F.sum("c")})
    cum = (
        acc
        .crossJoin(F.broadcast(fitp))
        .select(
            "c",
            "n",
            F.round((lnv - F.col("mu")) / F.col("sig"), 8).alias("y"),
            (F.col("cum_pn") - F.col("c"))
            .cast("bigint")
            .alias("head"),
        )
    )
    y = F.col("y")
    ez = 2.0 * F.exp(-y * y / 2.0) / 2.5066282746310002 + y * (
        2.0 * F.round(phi_col(y), 10) - 1.0
    )
    fold = cum.agg(
        F.max("n").alias("n"),
        F.sum(F.round(F.col("c") * ez, 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("sez"),
        F.sum(
            F.round(
                y
                * F.col("c")
                * (2.0 * F.col("head") + F.col("c") - F.col("n")),
                6,
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("dsum"),
    )
    n = F.col("n").cast("double")
    return fold.select(
        F.col("n").alias("n_orders"),
        (F.round(F.col("sez") / n, 8) + 0.0).alias("mean_e_abs_y_z"),
        (F.round(F.col("dsum") / (n * n), 8) + 0.0)
        .alias("mean_pairwise_abs"),
        (
            F.round(
                n
                * (
                    2.0 * F.col("sez") / n
                    - 1.1283791670955126
                    - F.col("dsum") / (n * n)
                ),
                6,
            )
            + 0.0
        ).alias("energy_stat"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "energy_normality_test": (
            "INFO: no single-partition window since the r19 grain "
            "triage — the data-grain cents-grid cumulative rides the "
            "value-bucket device (the cvm_lognormal_gof twin); note "
            "kept for the history, excluded from the effective "
            "allowlist"
        ),
    }
)


# --------------------------------------------------------------------------
# Prais-Winsten AR(1) GLS trend (the Cochrane-Orcutt second opinion)
# --------------------------------------------------------------------------
@register(
    "prais_winsten_ar1",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    m1 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(day) AS BIGINT) AS d0,
               CAST(SUM(day) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(day * day) AS BIGINT) AS sxx,
               CAST(SUM(CAST(day AS DECIMAL(19,0)) * y)
                    AS DECIMAL(38,0)) AS sxy
        FROM daily
    ),
    fit1 AS (
        SELECT n, d0,
               (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
               / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                   AS b1,
               (CAST(sy AS DOUBLE)
                - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                  / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                  * sx) / n AS a1
        FROM m1
    ),
    res AS (
        SELECT daily.day AS d, daily.y, fit1.d0,
               round(daily.y - fit1.a1 - fit1.b1 * daily.day, 4) AS e,
               LAG(round(daily.y - fit1.a1 - fit1.b1 * daily.day, 4))
                   OVER (ORDER BY daily.day) AS elag,
               LAG(daily.y) OVER (ORDER BY daily.day) AS ylag,
               LAG(daily.day) OVER (ORDER BY daily.day) AS dlag
        FROM daily, fit1
    ),
    rho_ AS (
        SELECT round(
                   CAST(SUM(CAST(round(e * elag, 2) AS DECIMAL(38,2)))
                        AS DOUBLE)
                   / CAST(SUM(CAST(round(elag * elag, 2)
                                   AS DECIMAL(38,2))) AS DOUBLE), 8)
                   AS rho
        FROM res WHERE elag IS NOT NULL
    ),
    star AS (
        SELECT CASE WHEN res.ylag IS NULL
                    THEN round(sqrt(1.0 - rho_.rho * rho_.rho), 8)
                    ELSE 1.0 - rho_.rho END AS cs,
               CASE WHEN res.ylag IS NULL
                    THEN round(sqrt(1.0 - rho_.rho * rho_.rho)
                               * res.y, 4)
                    ELSE round(res.y - rho_.rho * res.ylag, 4)
               END AS ys,
               CASE WHEN res.ylag IS NULL
                    THEN round(sqrt(1.0 - rho_.rho * rho_.rho)
                               * res.d, 8)
                    ELSE round(res.d - rho_.rho * res.dlag, 8)
               END AS xs,
               CASE WHEN res.ylag IS NULL THEN 0 ELSE 1 END AS co_row
        FROM res, rho_
    ),
    m2 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n2,
               CAST(SUM(CAST(round(cs * cs, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS scc,
               CAST(SUM(CAST(round(cs * xs, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS scx,
               CAST(SUM(CAST(round(xs * xs, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sxx2,
               CAST(SUM(CAST(round(cs * ys, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS scy,
               CAST(SUM(CAST(round(xs * ys, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS sxy2
        FROM star
    ),
    mco AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nc,
               CAST(SUM(CAST(round(xs, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sx3,
               CAST(SUM(CAST(round(ys, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS sy3,
               CAST(SUM(CAST(round(xs * xs, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sxx3,
               CAST(SUM(CAST(round(xs * ys, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS sxy3
        FROM star WHERE co_row = 1
    )
    SELECT m2.n2 AS n_days,
           rho_.rho + 0.0 AS rho_hat,
           round((m2.scc * m2.sxy2 - m2.scx * m2.scy)
                 / (m2.scc * m2.sxx2 - m2.scx * m2.scx) / 1000.0, 6)
               + 0.0 AS pw_slope_kusd_per_day,
           round((mco.nc * mco.sxy3 - mco.sx3 * mco.sy3)
                 / (mco.nc * mco.sxx3 - mco.sx3 * mco.sx3) / 1000.0,
                 6) + 0.0 AS co_slope_kusd_per_day,
           round(((m2.scc * m2.sxy2 - m2.scx * m2.scy)
                  / (m2.scc * m2.sxx2 - m2.scx * m2.scx)
                  - (mco.nc * mco.sxy3 - mco.sx3 * mco.sy3)
                    / (mco.nc * mco.sxx3 - mco.sx3 * mco.sx3))
                 / 1000.0, 6) + 0.0 AS pw_minus_co_kusd
    FROM m2, mco, rho_
    """,
)
def prais_winsten_ar1(spark, sf_dir):
    """PRAIS-WINSTEN AR(1) GLS trend for daily revenue — the
    keep-the-first-observation second opinion to
    `cochrane_orcutt_ar1`: same OLS residual rho-hat, same
    quasi-differencing y_t - rho y_{{t-1}}, but the first row enters
    weighted by sqrt(1 - rho^2) (its exact GLS weight) with the
    intercept column transformed likewise, solved by 2x2 normal
    equations — PW is FULLY efficient GLS where CO silently drops
    one observation, and with trending regressors that one dropped
    point famously moves the slope (the Park-Mitchell critique);
    `pw_minus_co_kusd` ships the gap as the sensitivity readout.

    Exactness: the rho pipeline copies the CO rounds verbatim
    (residuals at 4 dp, rho at 8); transformed rows round at 4/8
    dp; the five cross-product folds widen through DECIMAL(38,x);
    both slopes and the gap are closing IEEE trees (kUSD/day
    readout = cents/100000... /1000 here as the day-slope is in
    cents). Plan: day rollup -> OLS fold -> one calendar lag ->
    transform -> two folds; the only window is the bounded
    calendar-frame lag (the cochrane_orcutt class)."""
    daily = daily_order_cents(spark, sf_dir)
    m1 = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("day").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("day") * F.col("day")).cast("bigint").alias("sxx"),
        F.sum(F.col("day").cast("decimal(19,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    nn = F.col("n").cast("double")
    b1 = (
        nn * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy")
    ) / (
        nn * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx")
    )
    fit1 = m1.select(
        b1.alias("b1"),
        (
            (F.col("sy").cast("double") - b1 * F.col("sx")) / nn
        ).alias("a1"),
    )
    wd = Window.orderBy("day")
    eexpr = F.round(
        F.col("y") - F.col("a1") - F.col("b1") * F.col("day"), 4
    )
    res = daily.crossJoin(F.broadcast(fit1)).select(
        F.col("day").alias("d"),
        "y",
        eexpr.alias("e"),
        F.lag(eexpr).over(wd).alias("elag"),
        F.lag("y").over(wd).alias("ylag"),
        F.lag("day").over(wd).alias("dlag"),
    )
    rho_ = res.where(F.col("elag").isNotNull()).agg(
        F.round(
            F.sum(
                F.round(F.col("e") * F.col("elag"), 2).cast(
                    "decimal(38,2)"
                )
            ).cast("double")
            / F.sum(
                F.round(F.col("elag") * F.col("elag"), 2).cast(
                    "decimal(38,2)"
                )
            ).cast("double"),
            8,
        ).alias("rho")
    )
    first = F.col("ylag").isNull()
    w0 = F.round(F.sqrt(1.0 - F.col("rho") * F.col("rho")), 8)
    star = res.crossJoin(F.broadcast(rho_)).select(
        F.when(first, w0).otherwise(1.0 - F.col("rho")).alias("cs"),
        F.when(first, F.round(w0 * F.col("y"), 4))
        .otherwise(F.round(F.col("y") - F.col("rho") * F.col("ylag"), 4))
        .alias("ys"),
        F.when(first, F.round(w0 * F.col("d"), 8))
        .otherwise(F.round(F.col("d") - F.col("rho") * F.col("dlag"), 8))
        .alias("xs"),
        F.when(first, 0).otherwise(1).alias("co_row"),
    ).persist()
    m2 = star.agg(
        F.count(F.lit(1)).cast("bigint").alias("n2"),
        F.sum(
            F.round(F.col("cs") * F.col("cs"), 10).cast("decimal(28,10)")
        )
        .cast("double")
        .alias("scc"),
        F.sum(
            F.round(F.col("cs") * F.col("xs"), 8).cast("decimal(38,8)")
        )
        .cast("double")
        .alias("scx"),
        F.sum(
            F.round(F.col("xs") * F.col("xs"), 8).cast("decimal(38,8)")
        )
        .cast("double")
        .alias("sxx2"),
        F.sum(
            F.round(F.col("cs") * F.col("ys"), 4).cast("decimal(38,4)")
        )
        .cast("double")
        .alias("scy"),
        F.sum(
            F.round(F.col("xs") * F.col("ys"), 4).cast("decimal(38,4)")
        )
        .cast("double")
        .alias("sxy2"),
    )
    mco = star.where(F.col("co_row") == 1).agg(
        F.count(F.lit(1)).cast("bigint").alias("nc"),
        F.sum(F.round("xs", 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("sx3"),
        F.sum(F.round("ys", 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("sy3"),
        F.sum(
            F.round(F.col("xs") * F.col("xs"), 8).cast("decimal(38,8)")
        )
        .cast("double")
        .alias("sxx3"),
        F.sum(
            F.round(F.col("xs") * F.col("ys"), 4).cast("decimal(38,4)")
        )
        .cast("double")
        .alias("sxy3"),
    )
    out = m2.crossJoin(F.broadcast(mco)).crossJoin(F.broadcast(rho_))
    b_pw = (
        F.col("scc") * F.col("sxy2") - F.col("scx") * F.col("scy")
    ) / (
        F.col("scc") * F.col("sxx2") - F.col("scx") * F.col("scx")
    )
    b_co = (
        F.col("nc") * F.col("sxy3") - F.col("sx3") * F.col("sy3")
    ) / (
        F.col("nc") * F.col("sxx3") - F.col("sx3") * F.col("sx3")
    )
    return out.select(
        F.col("n2").alias("n_days"),
        (F.col("rho") + 0.0).alias("rho_hat"),
        (F.round(b_pw / 1000.0, 6) + 0.0)
        .alias("pw_slope_kusd_per_day"),
        (F.round(b_co / 1000.0, 6) + 0.0)
        .alias("co_slope_kusd_per_day"),
        (F.round((b_pw - b_co) / 1000.0, 6) + 0.0)
        .alias("pw_minus_co_kusd"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "prais_winsten_ar1": (
            "bounded calendar-frame lags (the cochrane_orcutt "
            "class); scalar broadcasts elsewhere"
        ),
    }
)


# --------------------------------------------------------------------------
# Shifted-beta-geometric churn fit and projection (Fader-Hardie)
# --------------------------------------------------------------------------
@register(
    "sbg_churn_projection",
    oracle="""
    WITH ev AS (
        SELECT user_id,
               CAST((epoch_us(ts) // 86400000000
                     - (SELECT MIN(epoch_us(ts) // 86400000000)
                        FROM events)) // 30 AS BIGINT) AS blk
        FROM events GROUP BY 1, 2
    ),
    cohort AS (
        SELECT DISTINCT user_id FROM ev WHERE blk = 0
    ),
    act AS (
        SELECT ev.blk, CAST(COUNT(DISTINCT ev.user_id) AS BIGINT)
                   AS a
        FROM ev JOIN cohort ON ev.user_id = cohort.user_id
        WHERE ev.blk BETWEEN 0 AND 5
        GROUP BY ev.blk
    ),
    wide AS (
        SELECT MAX(CASE WHEN blk = 0 THEN a END) AS s0,
               MAX(CASE WHEN blk = 1 THEN a END) AS s1,
               MAX(CASE WHEN blk = 2 THEN a END) AS s2,
               MAX(CASE WHEN blk = 3 THEN a END) AS s3,
               MAX(CASE WHEN blk = 4 THEN a END) AS s4,
               MAX(CASE WHEN blk = 5 THEN a END) AS s5
        FROM act
    ),
    rr AS (
        SELECT s0,
               round(CAST(s1 AS DOUBLE) / s0, 10) AS r1,
               round(CAST(s2 AS DOUBLE) / s1, 10) AS r2,
               round(CAST(s3 AS DOUBLE) / s2, 10) AS r3,
               round(CAST(s4 AS DOUBLE) / s3, 10) AS r4,
               round(CAST(s5 AS DOUBLE) / s4, 10) AS r5
        FROM wide
    ),
    fit AS (
        SELECT s0, r1, r2, r3, r4, r5,
               CASE WHEN r2 > r1
                    THEN (1.0 - r2) / (r2 - r1) END AS s,
               CASE WHEN r2 > r1
                    THEN r1 * (1.0 - r2) / (r2 - r1) END AS beta
        FROM rr
    ),
    proj AS (
        SELECT s0, r3, r4, r5,
               s - beta AS alpha, beta, s,
               (beta + 2.0) / (s + 2.0) AS p3,
               (beta + 3.0) / (s + 3.0) AS p4,
               (beta + 4.0) / (s + 4.0) AS p5
        FROM fit
    )
    SELECT s0 AS n_cohort_users,
           round(alpha, 6) + 0.0 AS sbg_alpha,
           round(beta, 6) + 0.0 AS sbg_beta,
           r3 + 0.0 AS r3_observed,
           round(p3, 6) + 0.0 AS r3_projected,
           r4 + 0.0 AS r4_observed,
           round(p4, 6) + 0.0 AS r4_projected,
           r5 + 0.0 AS r5_observed,
           round(p5, 6) + 0.0 AS r5_projected,
           round((abs(r3 - p3) + abs(r4 - p4) + abs(r5 - p5)) / 3.0,
                 6) + 0.0 AS mae_projection
    FROM proj
    """,
)
def sbg_churn_projection(spark, sf_dir):
    """SHIFTED-BETA-GEOMETRIC churn model (Fader-Hardie 2007) fit by
    method of moments on the first cohort's 30-day-block retention:
    under sBG the period retention is r_t = (beta+t-1)/(alpha+beta+
    t-1), so the first two observed ratios r1, r2 IDENTIFY the
    heterogeneity exactly — alpha+beta = (1-r2)/(r2-r1), beta = r1*
    (alpha+beta) — with r2 > r1 (retention RISING over tenure, the
    sorting-out-of-churners signature) as the model's own
    falsifiable precondition (NULL fit when violated). Blocks 3-5
    are then pure out-of-sample projections beside the observed
    ratios — the generative second opinion to
    `retention_powerlaw_fit` / `retention_half_life_cohorts`
    (curve fits that describe but do not predict): sBG disagreeing
    with the power-law on the tail is exactly the
    heterogeneity-vs-aging question LTV models must answer.

    Exactness: block activity counts are exact distinct-user
    integers; ratios pin at 10 dp; the closed-form fit and
    projections are terminal IEEE trees. Plan: user-block rollup ->
    cohort semi-join -> 6-row block rollup -> scalar pivot; no
    window."""
    e = t(spark, sf_dir, "events")
    dmin = e.agg(
        F.min(F.floor(F.unix_micros("ts") / 86_400_000_000)).alias(
            "d0"
        )
    )
    ev = (
        e.crossJoin(F.broadcast(dmin))
        .select(
            "user_id",
            F.floor(
                (
                    F.floor(F.unix_micros("ts") / 86_400_000_000)
                    - F.col("d0")
                )
                / 30
            )
            .cast("bigint")
            .alias("blk"),
        )
        .distinct()
        .persist()
    )
    cohort = ev.where(F.col("blk") == 0).select("user_id").distinct()
    act = (
        ev.join(cohort, "user_id")
        .where(F.col("blk").between(0, 5))
        .groupBy("blk")
        .agg(F.countDistinct("user_id").cast("bigint").alias("a"))
    )
    wide = act.agg(
        *[
            F.max(F.when(F.col("blk") == k, F.col("a"))).alias(f"s{k}")
            for k in range(6)
        ]
    )
    r = {
        k: F.round(
            F.col(f"s{k}").cast("double") / F.col(f"s{k-1}"), 10
        )
        for k in range(1, 6)
    }
    valid = r[2] > r[1]
    s = F.when(valid, (1.0 - r[2]) / (r[2] - r[1]))
    beta = F.when(valid, r[1] * (1.0 - r[2]) / (r[2] - r[1]))
    p3 = (beta + 2.0) / (s + 2.0)
    p4 = (beta + 3.0) / (s + 3.0)
    p5 = (beta + 4.0) / (s + 4.0)
    return wide.select(
        F.col("s0").alias("n_cohort_users"),
        (F.round(s - beta, 6) + 0.0).alias("sbg_alpha"),
        (F.round(beta, 6) + 0.0).alias("sbg_beta"),
        (r[3] + 0.0).alias("r3_observed"),
        (F.round(p3, 6) + 0.0).alias("r3_projected"),
        (r[4] + 0.0).alias("r4_observed"),
        (F.round(p4, 6) + 0.0).alias("r4_projected"),
        (r[5] + 0.0).alias("r5_observed"),
        (F.round(p5, 6) + 0.0).alias("r5_projected"),
        (
            F.round(
                (
                    F.abs(r[3] - p3)
                    + F.abs(r[4] - p4)
                    + F.abs(r[5] - p5)
                )
                / 3.0,
                6,
            )
            + 0.0
        ).alias("mae_projection"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "sbg_churn_projection": (
            "no window — user-block rollup + cohort join + 6-row "
            "pivot"
        ),
    }
)


# --------------------------------------------------------------------------
# Cpm / within-vs-overall capability panel (the Cpk second opinion)
# --------------------------------------------------------------------------
@register(
    "capability_cpm_ppk_panel",
    oracle="""
    WITH q AS (
        SELECT CAST(epoch_us(l_shipdate) // 86400000000 AS BIGINT)
                   AS day,
               CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS x
        FROM lineitem
    ),
    byday AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS nd,
               CAST(SUM(x) AS BIGINT) AS sd,
               CAST(SUM(CAST(x AS DECIMAL(19,0)) * x)
                    AS DECIMAL(38,0)) AS ssd
        FROM q GROUP BY day
    ),
    w AS (
        SELECT CAST(SUM(nd) AS BIGINT) AS n,
               CAST(SUM(sd) AS BIGINT) AS s1,
               CAST(SUM(CAST(round(CAST(ssd AS DOUBLE)
                   - CAST(sd AS DOUBLE) * sd / nd, 6)
                   AS DECIMAL(38,6))) AS DOUBLE) AS ssw,
               CAST(SUM(nd - 1) AS BIGINT) AS dfw,
               CAST(SUM(CAST(ssd AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS s2
        FROM byday WHERE nd >= 1
    ),
    stat AS (
        SELECT n,
               CAST(s1 AS DOUBLE) / n AS mu,
               sqrt(ssw / dfw) AS sw,
               sqrt((CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1.0))
                   AS so
        FROM w
    )
    SELECT n AS n_items,
           round(sw / 100.0, 6) + 0.0 AS sigma_within_qty,
           round(so / 100.0, 6) + 0.0 AS sigma_overall_qty,
           round(LEAST(4900.0 - mu, mu - 200.0) / (3.0 * sw), 6)
               + 0.0 AS cpk_within,
           round(LEAST(4900.0 - mu, mu - 200.0) / (3.0 * so), 6)
               + 0.0 AS ppk_overall,
           round((4900.0 - 200.0)
                 / (6.0 * sqrt(so * so
                               + (mu - 2550.0) * (mu - 2550.0))), 6)
               + 0.0 AS cpm_taguchi,
           round(sw / so, 8) + 0.0 AS stability_ratio
    FROM stat
    """,
)
def capability_cpm_ppk_panel(spark, sf_dir):
    """CAPABILITY second-opinion panel for lineitem quantity on the
    `process_capability_cpk` spec (LSL=2, USL=49, target T at the
    25.50 midpoint): the Cpk/Ppk DISTINCTION the single-sigma query
    blurs — sigma_WITHIN pools within-day variance (the short-term,
    AIAG-standard subgroup sigma; Cpk_within is true capability)
    while sigma_OVERALL is the long-term total sigma (Ppk is
    PERFORMANCE, what customers actually received) — plus TAGUCHI'S
    Cpm, which charges deviation from target through sqrt(sigma^2 +
    (mu-T)^2) and so keeps falling as the process drifts off-center
    even when Cp is constant. `stability_ratio` = sw/so < 1 reads
    as between-day drift, the one-number link back to the
    `shewhart_xbar_r_chart` stability verdict.

    Exactness: per-day counts/sums/square-sums are exact
    integer/DECIMAL(19->38,0) folds; per-day within-SS rounds at 6
    dp into a DECIMAL(38,6) fold (order-free across days); the four
    indices are terminal IEEE trees over five scalars. Plan: one
    (day) rollup -> one fold; scan-bound."""
    li = t(spark, sf_dir, "lineitem")
    q = li.select(
        F.floor(F.unix_micros("l_shipdate") / 86_400_000_000)
        .cast("bigint")
        .alias("day"),
        (dec("l_quantity", 12, 2) * 100).cast("bigint").alias("x"),
    )
    byday = q.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("x").cast("bigint").alias("sd"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("ssd"),
    )
    w = byday.agg(
        F.sum("nd").cast("bigint").alias("n"),
        F.sum("sd").cast("bigint").alias("s1"),
        F.sum(
            F.round(
                F.col("ssd").cast("double")
                - F.col("sd").cast("double") * F.col("sd")
                / F.col("nd"),
                6,
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("ssw"),
        F.sum(F.col("nd") - 1).cast("bigint").alias("dfw"),
        F.sum(F.col("ssd").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    sw = F.sqrt(F.col("ssw") / F.col("dfw"))
    so = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / F.col("n")
        )
        / (F.col("n") - 1.0)
    )
    near = F.least(4900.0 - mu, mu - 200.0)
    return w.select(
        F.col("n").alias("n_items"),
        (F.round(sw / 100.0, 6) + 0.0).alias("sigma_within_qty"),
        (F.round(so / 100.0, 6) + 0.0).alias("sigma_overall_qty"),
        (F.round(near / (3.0 * sw), 6) + 0.0).alias("cpk_within"),
        (F.round(near / (3.0 * so), 6) + 0.0).alias("ppk_overall"),
        (
            F.round(
                (4900.0 - 200.0)
                / (
                    6.0
                    * F.sqrt(
                        so * so + (mu - 2550.0) * (mu - 2550.0)
                    )
                ),
                6,
            )
            + 0.0
        ).alias("cpm_taguchi"),
        (F.round(sw / so, 8) + 0.0).alias("stability_ratio"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "capability_cpm_ppk_panel": (
            "no window — (day) rollup + one fold"
        ),
    }
)


# --------------------------------------------------------------------------
# Gel-Gastwirth robust Jarque-Bera on event values (restores the bank
# to 49 after updown_runs_test was promoted at the round-18 flip)
# --------------------------------------------------------------------------
@register(
    "robust_jarque_bera",
    oracle="""
    WITH v AS (
        SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        FROM events
    ),
    grid AS (
        SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY x
    ),
    cum AS (
        SELECT x,
               SUM(c) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW) AS cc,
               SUM(c) OVER () AS n
        FROM grid
    ),
    med AS (
        SELECT CAST(MIN(CASE WHEN 2 * cc >= n THEN x END)
                    + MIN(CASE WHEN 2 * cc > n THEN x END)
                    AS BIGINT) AS m2
        FROM cum
    ),
    dev AS (
        SELECT CAST(SUM(CAST(ABS(2 * v.x - med.m2)
                             AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS a2
        FROM v CROSS JOIN med
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s1,
               CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0))
                   AS s2,
               CAST(SUM(CAST(x AS DECIMAL(38,0)) * x * x)
                    AS DECIMAL(38,0)) AS s3,
               CAST(SUM(CAST(x AS DECIMAL(38,0)) * x * x * x)
                    AS DECIMAL(38,0)) AS s4
        FROM v
    ),
    cm AS (
        SELECT n,
               CAST(s1 AS DOUBLE) / n AS mu,
               CAST(s2 AS DOUBLE) / n AS r2,
               CAST(s3 AS DOUBLE) / n AS r3,
               CAST(s4 AS DOUBLE) / n AS r4,
               CAST(med.m2 AS DOUBLE) AS m2x,
               sqrt(pi() / 2.0) * (CAST(dev.a2 AS DOUBLE) / (2.0 * n))
                   AS jj
        FROM mom CROSS JOIN med CROSS JOIN dev
    ),
    fin AS (
        SELECT n, m2x, jj,
               r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
               r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
                  - 3.0 * mu * mu * mu * mu AS m4
        FROM cm
    )
    SELECT n AS n_events,
           round(m2x / 200.0, 6) AS median_value,
           round(jj / 100.0, 8) AS j_scale_value,
           round(m3 / (jj * jj * jj), 9) + 0.0 AS robust_skew_j,
           round(m4 / (jj * jj * jj * jj), 9) AS robust_kurt_j,
           round(n / 6.0 * (m3 / (jj * jj * jj))
                         * (m3 / (jj * jj * jj))
                 + n / 64.0 * (m4 / (jj * jj * jj * jj) - 3.0)
                            * (m4 / (jj * jj * jj * jj) - 3.0), 6)
               AS robust_jarque_bera
    FROM fin
    """,
)
def robust_jarque_bera(spark, sf_dir):
    """GEL-GASTWIRTH ROBUST JARQUE-BERA on event values — the robust
    second opinion to `jarque_bera_normality` on the SAME series: the
    classical JB standardizes the third/fourth central moments by the
    sample sigma, so a handful of outliers inflate the denominator and
    can MASK non-normality; RJB (Gel & Gastwirth 2008) replaces sigma
    with J = sqrt(pi/2) * mean|x - median| (the MAAD estimate, Fisher-
    consistent for sigma under normality) and re-weights the two terms
    as RJB = n/6*(m3/J^3)^2 + n/64*(m4/J^4 - 3)^2 ~ chi2(2). The two
    statistics AGREEING is the actual certificate (the bank's theme):
    JB >> RJB says sigma inflation (outliers), RJB >> JB says the
    center is non-Gaussian too.

    Exactness: the median is the exact mid-pair order statistic from
    one cents-grid cumulative (x_(k1) + x_(k2), carried doubled so it
    stays integer); the absolute-deviation sum runs on 2x - m2 (exact
    integers, DECIMAL(38,0) fold); the four power sums are the exact
    integer folds of the JB query; all float algebra happens on the
    1-row fold through one identical expression tree in both engines.
    Plan: one value-grid cumulative, one broadcast-scalar deviation
    pass, one hash aggregate, one fold."""
    e = t(spark, sf_dir, "events")
    x = (dec("value", 18, 2) * 100).cast("bigint")
    pts = e.select(x.alias("x")).persist()
    grid = pts.groupBy("x").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cum = grid.select(
        "x",
        F.sum("c")
        .over(
            Window.orderBy("x").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cc"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    med = cum.agg(
        (
            F.min(F.when(2 * F.col("cc") >= F.col("n"), F.col("x")))
            + F.min(F.when(2 * F.col("cc") > F.col("n"), F.col("x")))
        )
        .cast("bigint")
        .alias("m2")
    )
    dev = (
        pts.crossJoin(F.broadcast(med))
        .agg(
            F.sum(
                F.abs(2 * F.col("x") - F.col("m2")).cast(
                    "decimal(38,0)"
                )
            )
            .cast("decimal(38,0)")
            .alias("a2")
        )
    )
    xd = F.col("x").cast("decimal(38,0)")
    mom = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(xd * F.col("x")).alias("s2"),
        F.sum(xd * F.col("x") * F.col("x")).alias("s3"),
        F.sum(xd * F.col("x") * F.col("x") * F.col("x")).alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1").cast("double") / n
    r2 = F.col("s2").cast("double") / n
    r3 = F.col("s3").cast("double") / n
    r4 = F.col("s4").cast("double") / n
    m3 = r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu
    m4 = (
        r4
        - 4.0 * mu * r3
        + 6.0 * mu * mu * r2
        - 3.0 * mu * mu * mu * mu
    )
    jj = F.sqrt(F.lit(math.pi) / 2.0) * (
        F.col("a2").cast("double") / (2.0 * n)
    )
    rs = m3 / (jj * jj * jj)
    rk = m4 / (jj * jj * jj * jj)
    return (
        mom.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(dev))
        .select(
            n.alias("n_events"),
            F.round(F.col("m2").cast("double") / 200.0, 6).alias(
                "median_value"
            ),
            F.round(jj / 100.0, 8).alias("j_scale_value"),
            (F.round(rs, 9) + 0.0).alias("robust_skew_j"),
            F.round(rk, 9).alias("robust_kurt_j"),
            F.round(
                n / 6.0 * rs * rs + n / 64.0 * (rk - 3.0) * (rk - 3.0),
                6,
            ).alias("robust_jarque_bera"),
        )
    )


PLAN_AUDIT_NOTES.update(
    {
        "robust_jarque_bera": (
            "one cumulative over the cents value grid for the exact "
            "median (the mean_excess_slope / dekkers class)"
        ),
    }
)
