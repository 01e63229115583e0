"""Round-16 bank (X543+), LIVE since round 16: pre-staged during
rounds 13-15 under the same no-new-debt discipline every flipped bank
(next_window, bank_r11..r15) went through: a stage-only decorator
pre-flip, the two-SF gate mirror in ``tests/test_bank_r16.py``, sf0.1
sweeps via ``tools/check.py --module bank_r16``, the dtype-family
sweep, the authoring-time 64x probe octave (SCALING_PROBES.json /
SCALING.md), and plan-audit notes merged into the effective audit
allowlist automatically at flip time
(``tools/audit_single_partition.py::allowed()``).

At the round-15 flip the seed query here (``bartlett_sphericity``,
X542) was promoted into bank_r15's 50th window slot (the
dersimonian_laird_meta precedent); the bank was restored to 49 the
same round (``williams_dependent_corr``, X795). At the round-16 flip
this bank's own 50th window slot is ``fisher_stouffer_combined``
(X591), promoted from the round-17 bank — its shared 35-cell
contingency p-value frame (``_CELLP_SQL``/``_cellp``) is DEFINED in
this module, so the promotion needs no frame copy (the bartlett
move's ``DAILY_EVENT_CORR3_SQL``/``daily_event_corr3`` frame now lives
in ``common.py``).

Theme: STRUCTURE, DEPENDENCE, AND DECISION CERTIFICATION — the
checks a feature pipeline runs before and after modeling. Tiers:
matrix structure (Bartlett sphericity, KMO/MSA), asymmetric and
robust dependence (GK tau, uncertainty coefficient, Gini correlation,
circular-linear R2, exceedance asymmetry), lead-lag and causal
structure (Granger F, CCF peak, Sobel mediation, moderation F,
Knox space-time), multiple testing (higher criticism, Storey pi0),
normal-scores tests on the Acklam device (van der Waerden, Klotz,
Fligner-Killeen), robust location/scale (Qn, shorth/LMS, Bowley-free
quantile shapes via Geary/Leik), rates and league tables (Peto OR,
EB Gamma-Poisson, direct standardization, E-value, SMD balance),
model selection and evaluation (lognormal-vs-exponential, proper
scoring rules, partial AUC, PRESS, Q-Q ventile fit, Tukey 1-df,
Scheirer-Ray-Hare), tails and spacings (DEdH moment, Greenwood,
longest run, German tank, frequency-severity), markets (Fisher/
Tornqvist, association rules, brand beta, price dispersion), and
corpus/embedding health (Honore/Sichel/Brunet, 5-NN hubness).

Determinism disciplines inherited unchanged (bank_r11..r15
docstrings): exact integer/DECIMAL folds, round-before-fold on every
float aggregate, ``+ 0.0`` on possibly-negative-zero outputs,
total-order top-k/argmax tiebreaks, bounded-domain windows only,
explicit ``floor()`` before any double->integer bucket, DOUBLE-cast
literals where DuckDB would infer DECIMAL, the shared
Abramowitz-Stegun erfc tree for normal tails, and the Acklam
inverse-normal device (bank_r15) where quantiles are needed.

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
    COS24,
    DAILY_EVENT_CORR3_SQL,
    SIN24,
    case_sql,
    daily_event_corr3,
    dec,
    exact_cumulative,
    t,
)

BANK_QUERIES: dict = {}
BANK_ORACLES: dict = {}
PLAN_AUDIT_NOTES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Registers live via ``plans.register`` AND records the name in
    the bank dicts so ``tests/test_bank_r16.py`` keeps gate-mirroring
    the whole flipped set independently of the registry (the same flip
    protocol bank_r11..r15 used)."""

    live = _live_register(name, oracle)

    def deco(fn):
        BANK_QUERIES[name] = fn
        if oracle is not None:
            BANK_ORACLES[name] = oracle
        return live(fn)

    return deco


# bartlett_sphericity was authored here (the bank seed) and PROMOTED to
# bank_r15's 50th window slot at the round-15 flip (the
# dersimonian_laird_meta precedent); it shares common.py's
# DAILY_EVENT_CORR3_SQL/daily_event_corr3 frame with kmo_adequacy.
# The bank was restored to 49 the same round with
# williams_dependent_corr below (the cluster_robust_ols_se precedent).


# --------------------------------------------------------------------------
# Williams-Steiger test of two DEPENDENT correlations sharing a variable
# --------------------------------------------------------------------------
@register(
    "williams_dependent_corr",
    oracle=f"""
    WITH {DAILY_EVENT_CORR3_SQL}
    SELECT n AS n_days,
           round(r12, 6) + 0.0 AS r_purchase_click,
           round(r13, 6) + 0.0 AS r_purchase_error,
           round(r23, 6) + 0.0 AS r_click_error,
           round((r12 - r13)
                 * sqrt((n - 1.0) * (1.0 + r23)
                        / (2.0 * ((n - 1.0) / (n - 3.0))
                             * (1.0 - r12 * r12 - r13 * r13
                                - r23 * r23
                                + 2.0 * r12 * r13 * r23)
                           + ((r12 + r13) / 2.0)
                             * ((r12 + r13) / 2.0)
                             * (1.0 - r23) * (1.0 - r23)
                             * (1.0 - r23))), 6) + 0.0
               AS williams_t,
           CAST(n - 3 AS BIGINT) AS dof,
           round((0.5 * ln((1.0 + r12) / (1.0 - r12))
                  - 0.5 * ln((1.0 + r13) / (1.0 - r13)))
                 / sqrt(2.0 / (n - 3.0)), 6) + 0.0
               AS naive_fisher_z
    FROM corr3
    """,
)
def williams_dependent_corr(spark, sf_dir):
    """WILLIAMS-STEIGER test of two DEPENDENT correlations sharing a
    variable: does daily purchase count correlate more with clicks
    than with errors, given that clicks and errors are themselves
    correlated? H0: rho(purchase,click) = rho(purchase,error);
    Williams' t = (r12-r13) sqrt((n-1)(1+r23) / (2|R|(n-1)/(n-3)
    + rbar^2 (1-r23)^3)) ~ t(n-3), with |R| the closed-form 3x3
    determinant (Steiger 1980's recommended form) — the question
    every feature-selection pass actually asks ("which of two
    signals tracks the target better?"), answered on the SAME rows,
    beside the naive independent-samples Fisher-z difference it
    corrects (the naive z ignores r23 and overstates evidence
    whenever the two predictors co-move).

    Exactness: the three correlations come from the shared exact
    BIGINT power-sum fold (rounded 10 dp), so both engines evaluate
    the identical terminal double tree; outputs rounded at 6 dp
    with the +0.0 negative-zero guard. Plan: one day rollup, one
    fold, scalar tree — no joins, no windows."""
    c = daily_event_corr3(spark, sf_dir)
    r12, r13, r23 = F.col("r12"), F.col("r13"), F.col("r23")
    n = F.col("n")
    det = (
        1.0
        - r12 * r12
        - r13 * r13
        - r23 * r23
        + 2.0 * r12 * r13 * r23
    )
    rbar = (r12 + r13) / 2.0
    wt = (r12 - r13) * F.sqrt(
        (n - 1.0)
        * (1.0 + r23)
        / (
            2.0 * ((n - 1.0) / (n - 3.0)) * det
            + rbar * rbar * (1.0 - r23) * (1.0 - r23) * (1.0 - r23)
        )
    )
    zn = (
        0.5 * F.log((1.0 + r12) / (1.0 - r12))
        - 0.5 * F.log((1.0 + r13) / (1.0 - r13))
    ) / F.sqrt(2.0 / (n - 3.0))
    return c.select(
        n.alias("n_days"),
        (F.round(r12, 6) + 0.0).alias("r_purchase_click"),
        (F.round(r13, 6) + 0.0).alias("r_purchase_error"),
        (F.round(r23, 6) + 0.0).alias("r_click_error"),
        (F.round(wt, 6) + 0.0).alias("williams_t"),
        (n - 3).cast("bigint").alias("dof"),
        (F.round(zn, 6) + 0.0).alias("naive_fisher_z"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "williams_dependent_corr": (
            "INFO: no window at all — one day rollup and a scalar fold "
            "(added r15 to restore the bank to 49 after the "
            "bartlett_sphericity promotion)"
        ),
    }
)


# --------------------------------------------------------------------------
# Kaiser-Meyer-Olkin sampling adequacy (KMO + per-variable MSA)
# --------------------------------------------------------------------------
@register(
    "kmo_adequacy",
    oracle=f"""
    WITH {DAILY_EVENT_CORR3_SQL},
    part AS (
        SELECT n, r12, r13, r23,
               round((r12 - r13 * r23)
                     / sqrt((1.0 - r13 * r13)
                            * (1.0 - r23 * r23)), 10) AS p12,
               round((r13 - r12 * r23)
                     / sqrt((1.0 - r12 * r12)
                            * (1.0 - r23 * r23)), 10) AS p13,
               round((r23 - r12 * r13)
                     / sqrt((1.0 - r12 * r12)
                            * (1.0 - r13 * r13)), 10) AS p23
        FROM corr3
    )
    SELECT n AS n_days,
           round((r12 * r12 + r13 * r13 + r23 * r23)
                 / (r12 * r12 + r13 * r13 + r23 * r23
                    + p12 * p12 + p13 * p13 + p23 * p23), 6) + 0.0
               AS kmo_overall,
           round((r12 * r12 + r13 * r13)
                 / (r12 * r12 + r13 * r13 + p12 * p12 + p13 * p13),
                 6) + 0.0 AS msa_purchase,
           round((r12 * r12 + r23 * r23)
                 / (r12 * r12 + r23 * r23 + p12 * p12 + p23 * p23),
                 6) + 0.0 AS msa_click,
           round((r13 * r13 + r23 * r23)
                 / (r13 * r13 + r23 * r23 + p13 * p13 + p23 * p23),
                 6) + 0.0 AS msa_error
    FROM part
    """,
)
def kmo_adequacy(spark, sf_dir):
    """Kaiser-Meyer-Olkin sampling adequacy for the 3-variable daily
    activity system: KMO = sum r^2 / (sum r^2 + sum partial^2) over
    the off-diagonal, plus the per-variable MSA diagonals — the
    companion gate to `bartlett_sphericity` (Bartlett asks "is
    there ANY structure"; KMO asks "is the structure COMPACT enough
    to factor" — high pairwise r with high partials reads as
    diffuse, unfactorable correlation). For p=3 the partial
    correlations are the closed forms (r_ij - r_ik r_jk)/
    sqrt((1-r_ik^2)(1-r_jk^2)) — no matrix inverse needed.

    Exactness: correlations from the shared exact-count fold
    (rounded 10 dp), partials rounded at 10 dp before the KMO
    ratios; everything downstream is a terminal double tree. Plan:
    one day rollup, one fold."""
    c = daily_event_corr3(spark, sf_dir)
    r12, r13, r23 = F.col("r12"), F.col("r13"), F.col("r23")
    p12 = F.round(
        (r12 - r13 * r23)
        / F.sqrt((1.0 - r13 * r13) * (1.0 - r23 * r23)),
        10,
    )
    p13 = F.round(
        (r13 - r12 * r23)
        / F.sqrt((1.0 - r12 * r12) * (1.0 - r23 * r23)),
        10,
    )
    p23 = F.round(
        (r23 - r12 * r13)
        / F.sqrt((1.0 - r12 * r12) * (1.0 - r13 * r13)),
        10,
    )
    part = c.select(
        "n", "r12", "r13", "r23",
        p12.alias("p12"), p13.alias("p13"), p23.alias("p23"),
    )
    r12, r13, r23 = F.col("r12"), F.col("r13"), F.col("r23")
    q12, q13, q23 = F.col("p12"), F.col("p13"), F.col("p23")
    return part.select(
        F.col("n").alias("n_days"),
        (
            F.round(
                (r12 * r12 + r13 * r13 + r23 * r23)
                / (
                    r12 * r12 + r13 * r13 + r23 * r23
                    + q12 * q12 + q13 * q13 + q23 * q23
                ),
                6,
            )
            + 0.0
        ).alias("kmo_overall"),
        (
            F.round(
                (r12 * r12 + r13 * r13)
                / (r12 * r12 + r13 * r13 + q12 * q12 + q13 * q13),
                6,
            )
            + 0.0
        ).alias("msa_purchase"),
        (
            F.round(
                (r12 * r12 + r23 * r23)
                / (r12 * r12 + r23 * r23 + q12 * q12 + q23 * q23),
                6,
            )
            + 0.0
        ).alias("msa_click"),
        (
            F.round(
                (r13 * r13 + r23 * r23)
                / (r13 * r13 + r23 * r23 + q13 * q13 + q23 * q23),
                6,
            )
            + 0.0
        ).alias("msa_error"),
    )


# --------------------------------------------------------------------------
# Peto one-step odds ratio pooled across priority strata
# --------------------------------------------------------------------------
@register(
    "peto_odds_ratio",
    oracle="""
    WITH lab AS (
        SELECT o_orderpriority AS pri,
               CASE WHEN CAST(epoch_us(o_orderdate) // 86400000000
                         + 4 AS BIGINT) % 7 >= 5
                    THEN 1 ELSE 0 END AS exp_,
               CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END AS cs
        FROM orders
    ),
    g AS (
        SELECT pri,
               CAST(SUM(CASE WHEN exp_ = 1 AND cs = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(SUM(exp_) AS BIGINT) AS n1,
               CAST(SUM(1 - exp_) AS BIGINT) AS n0,
               CAST(SUM(cs) AS BIGINT) AS m1,
               CAST(SUM(1 - cs) AS BIGINT) AS m0,
               CAST(COUNT(*) AS BIGINT) AS nn
        FROM lab GROUP BY pri
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(round(
                   a - CAST(n1 AS DOUBLE) * m1 / nn, 9)
                   AS DECIMAL(38,9))) AS DOUBLE) AS oe,
               CAST(SUM(CAST(round(
                   CAST(n1 AS DOUBLE) * n0 * m1 * m0
                   / (CAST(nn AS DOUBLE) * nn * (nn - 1)), 9)
                   AS DECIMAL(38,9))) AS DOUBLE) AS v
        FROM g
    )
    SELECT k AS n_strata,
           round(oe, 6) + 0.0 AS sum_o_minus_e,
           round(v, 6) + 0.0 AS sum_v,
           round(exp(oe / v), 6) + 0.0 AS peto_or,
           round(exp(oe / v - 1.959963985 / sqrt(v)), 6) + 0.0
               AS or_ci_lo,
           round(exp(oe / v + 1.959963985 / sqrt(v)), 6) + 0.0
               AS or_ci_hi
    FROM fold
    """,
)
def peto_odds_ratio(spark, sf_dir):
    """Peto one-step odds ratio for the Fri/Sat -> problem-status
    association, pooled across the five priority STRATA: log OR =
    sum(O-E)/sum(V) with the per-stratum hypergeometric moments
    E = n1 m1/N, V = n1 n0 m1 m0/(N^2(N-1)) — the rare-event
    meta-analytic pooler that stays defined when a stratum has a
    ZERO cell (where `mantel_haenszel_weekday_strata`'s ratio form
    and `haldane_anscombe_or`'s continuity correction both distort),
    and the fixed-effect complement to `dersimonian_laird_meta`'s
    random-effects pooling. CI = exp(logOR +/- 1.96/sqrt(V)).

    Exactness: all 2x2 margins are exact BIGINTs; each stratum's
    O-E and V are rounded at 9 dp and folded through DECIMAL(38,9)
    (order-free 5-term sums); the OR and CI are terminal exp trees.
    Plan: one scan, one 5-group fold, one scalar fold — no joins,
    no windows."""
    o = t(spark, sf_dir, "orders")
    lab = o.select(
        F.col("o_orderpriority").alias("pri"),
        F.when(
            (
                F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
                + 4
            ).cast("bigint")
            % 7
            >= 5,
            1,
        )
        .otherwise(0)
        .alias("exp_"),
        F.when(F.col("o_orderstatus") == "P", 1).otherwise(0).alias("cs"),
    )
    g = lab.groupBy("pri").agg(
        F.sum(
            F.when((F.col("exp_") == 1) & (F.col("cs") == 1), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("a"),
        F.sum("exp_").cast("bigint").alias("n1"),
        F.sum(1 - F.col("exp_")).cast("bigint").alias("n0"),
        F.sum("cs").cast("bigint").alias("m1"),
        F.sum(1 - F.col("cs")).cast("bigint").alias("m0"),
        F.count(F.lit(1)).cast("bigint").alias("nn"),
    )
    nn = F.col("nn")
    oe_term = F.round(
        F.col("a") - F.col("n1").cast("double") * F.col("m1") / nn, 9
    )
    v_term = F.round(
        F.col("n1").cast("double")
        * F.col("n0")
        * F.col("m1")
        * F.col("m0")
        / (nn.cast("double") * nn * (nn - 1)),
        9,
    )
    fold = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(oe_term.cast("decimal(38,9)")).cast("double").alias("oe"),
        F.sum(v_term.cast("decimal(38,9)")).cast("double").alias("v"),
    )
    oe, v = F.col("oe"), F.col("v")
    return fold.select(
        F.col("k").alias("n_strata"),
        (F.round(oe, 6) + 0.0).alias("sum_o_minus_e"),
        (F.round(v, 6) + 0.0).alias("sum_v"),
        (F.round(F.exp(oe / v), 6) + 0.0).alias("peto_or"),
        (
            F.round(F.exp(oe / v - 1.959963985 / F.sqrt(v)), 6) + 0.0
        ).alias("or_ci_lo"),
        (
            F.round(F.exp(oe / v + 1.959963985 / F.sqrt(v)), 6) + 0.0
        ).alias("or_ci_hi"),
    )


# --------------------------------------------------------------------------
# Goodman-Kruskal tau: proportional reduction in prediction error
# --------------------------------------------------------------------------
@register(
    "goodman_kruskal_tau",
    oracle="""
    WITH obs AS (
        SELECT CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT)
                   AS dow,
               event_type AS ty,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    rm AS (SELECT dow, CAST(SUM(c) AS BIGINT) AS rc
           FROM obs GROUP BY dow),
    cm AS (SELECT ty, CAST(SUM(c) AS BIGINT) AS cc
           FROM obs GROUP BY ty),
    n_ AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM obs),
    within AS (
        SELECT CAST(SUM(CAST(round(
                   CAST(o.c AS DOUBLE) * o.c / rm.rc, 9)
                   AS DECIMAL(38,9))) AS DOUBLE) AS wr,
               CAST(SUM(CAST(round(
                   CAST(o.c AS DOUBLE) * o.c / cm.cc, 9)
                   AS DECIMAL(38,9))) AS DOUBLE) AS wc
        FROM obs o JOIN rm ON o.dow = rm.dow
                   JOIN cm ON o.ty = cm.ty
    ),
    marg AS (
        SELECT CAST(SUM(CAST(rc AS DECIMAL(19,0)) * rc)
                    AS DECIMAL(38,0)) AS r2 FROM rm
    ),
    marg2 AS (
        SELECT CAST(SUM(CAST(cc AS DECIMAL(19,0)) * cc)
                    AS DECIMAL(38,0)) AS c2 FROM cm
    )
    SELECT n_.n AS n_events,
           round((within.wr - CAST(marg2.c2 AS DOUBLE) / n_.n)
                 / (n_.n - CAST(marg2.c2 AS DOUBLE) / n_.n), 8) + 0.0
               AS tau_type_given_dow,
           round((within.wc - CAST(marg.r2 AS DOUBLE) / n_.n)
                 / (n_.n - CAST(marg.r2 AS DOUBLE) / n_.n), 8) + 0.0
               AS tau_dow_given_type
    FROM n_, within, marg, marg2
    """,
)
def goodman_kruskal_tau(spark, sf_dir):
    """Goodman-Kruskal tau for the (weekday, event-type) table, BOTH
    directions: the proportional reduction in Gini prediction error
    from knowing the row — tau(C|R) = (sum n_ij^2/n_i+ - sum
    n_+j^2/N)/(N - sum n_+j^2/N) — the ASYMMETRIC association
    measure the symmetric chi-square family (`cramers_v`, X442's
    bias-corrected twin) cannot express: tau(type|dow) !=
    tau(dow|type) quantifies which direction of prediction the
    association actually helps, the feature-selection question.
    Companion to `goodman_kruskal_lambda` (modal error) — tau uses
    the full distribution, so it is nonzero whenever ANY
    association exists.

    Exactness: cell/margin counts are exact BIGINTs; the within-row
    terms n_ij^2/n_i+ are rounded at 9 dp and folded through
    DECIMAL(38,9); the margin squares fold exactly through
    DECIMAL(19,0) widens. Plan: one rollup to 35 cells, two
    broadcast margin joins, one fold."""
    e = t(spark, sf_dir, "events")
    obs = e.groupBy(
        ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7)
        .cast("bigint")
        .alias("dow"),
        F.col("event_type").alias("ty"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    rm = obs.groupBy("dow").agg(F.sum("c").cast("bigint").alias("rc"))
    cm = obs.groupBy("ty").agg(F.sum("c").cast("bigint").alias("cc"))
    n_ = obs.agg(F.sum("c").cast("bigint").alias("n"))
    within = (
        obs.join(F.broadcast(rm), "dow")
        .join(F.broadcast(cm), "ty")
        .agg(
            F.sum(
                F.round(
                    F.col("c").cast("double") * F.col("c") / F.col("rc"),
                    9,
                ).cast("decimal(38,9)")
            )
            .cast("double")
            .alias("wr"),
            F.sum(
                F.round(
                    F.col("c").cast("double") * F.col("c") / F.col("cc"),
                    9,
                ).cast("decimal(38,9)")
            )
            .cast("double")
            .alias("wc"),
        )
    )
    marg = rm.agg(
        F.sum(F.col("rc").cast("decimal(19,0)") * F.col("rc"))
        .cast("decimal(38,0)")
        .alias("r2")
    )
    marg2 = cm.agg(
        F.sum(F.col("cc").cast("decimal(19,0)") * F.col("cc"))
        .cast("decimal(38,0)")
        .alias("c2")
    )
    j = (
        n_.crossJoin(F.broadcast(within))
        .crossJoin(F.broadcast(marg))
        .crossJoin(F.broadcast(marg2))
    )
    n = F.col("n")
    c2n = F.col("c2").cast("double") / n
    r2n = F.col("r2").cast("double") / n
    return j.select(
        n.alias("n_events"),
        (
            F.round((F.col("wr") - c2n) / (n - c2n), 8) + 0.0
        ).alias("tau_type_given_dow"),
        (
            F.round((F.col("wc") - r2n) / (n - r2n), 8) + 0.0
        ).alias("tau_dow_given_type"),
    )


# --------------------------------------------------------------------------
# Theil's uncertainty coefficient (normalized mutual information)
# --------------------------------------------------------------------------
@register(
    "uncertainty_coefficient",
    oracle="""
    WITH obs AS (
        SELECT CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT)
                   AS dow,
               event_type AS ty,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    rm AS (SELECT dow, CAST(SUM(c) AS BIGINT) AS rc
           FROM obs GROUP BY dow),
    cm AS (SELECT ty, CAST(SUM(c) AS BIGINT) AS cc
           FROM obs GROUP BY ty),
    n_ AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM obs),
    hr AS (
        SELECT CAST(SUM(CAST(round(
                   -(CAST(rc AS DOUBLE) / n_.n)
                   * ln(CAST(rc AS DOUBLE) / n_.n), 12)
                   AS DECIMAL(28,12))) AS DOUBLE) AS h
        FROM rm, n_
    ),
    hc AS (
        SELECT CAST(SUM(CAST(round(
                   -(CAST(cc AS DOUBLE) / n_.n)
                   * ln(CAST(cc AS DOUBLE) / n_.n), 12)
                   AS DECIMAL(28,12))) AS DOUBLE) AS h
        FROM cm, n_
    ),
    hrc AS (
        SELECT CAST(SUM(CAST(round(
                   -(CAST(c AS DOUBLE) / n_.n)
                   * ln(CAST(c AS DOUBLE) / n_.n), 12)
                   AS DECIMAL(28,12))) AS DOUBLE) AS h
        FROM obs, n_
    )
    SELECT n_.n AS n_events,
           round(hr.h, 8) + 0.0 AS h_dow,
           round(hc.h, 8) + 0.0 AS h_type,
           round(hr.h + hc.h - hrc.h, 8) + 0.0 AS mutual_info_nats,
           round((hr.h + hc.h - hrc.h) / hc.h, 8) + 0.0
               AS u_type_given_dow,
           round((hr.h + hc.h - hrc.h) / hr.h, 8) + 0.0
               AS u_dow_given_type,
           round(2.0 * (hr.h + hc.h - hrc.h) / (hr.h + hc.h), 8)
               + 0.0 AS u_symmetric
    FROM n_, hr, hc, hrc
    """,
)
def uncertainty_coefficient(spark, sf_dir):
    """Theil's uncertainty coefficient for the (weekday, event-type)
    table: U(C|R) = I(R;C)/H(C) — the entropy-normalized mutual
    information, read as "what fraction of the type's uncertainty
    does the weekday remove", in BOTH directions plus the symmetric
    average — the information-theoretic sibling of
    `goodman_kruskal_tau` (same asymmetry, Shannon error instead of
    Gini error) and the categorical analogue of the registry's
    `js_divergence_sources`. Emits the raw entropies and MI in nats
    so downstream consumers can re-normalize.

    Exactness: margin/cell counts are exact BIGINTs; every -p ln p
    term is rounded at 12 dp and folded through DECIMAL(28,12)
    (order-free); ratios are terminal trees. Plan: one rollup to 35
    cells, two margin rollups, three scalar folds — no windows."""
    e = t(spark, sf_dir, "events")
    obs = e.groupBy(
        ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7)
        .cast("bigint")
        .alias("dow"),
        F.col("event_type").alias("ty"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c")).persist()
    rm = obs.groupBy("dow").agg(F.sum("c").cast("bigint").alias("rc"))
    cm = obs.groupBy("ty").agg(F.sum("c").cast("bigint").alias("cc"))
    n_ = obs.agg(F.sum("c").cast("bigint").alias("n"))

    def ent(df, col, out):
        p = F.col(col).cast("double") / F.col("n")
        return (
            df.crossJoin(F.broadcast(n_))
            .agg(
                F.sum(
                    F.round(-p * F.log(p), 12).cast("decimal(28,12)")
                )
                .cast("double")
                .alias(out)
            )
        )

    hr = ent(rm, "rc", "h_r")
    hc = ent(cm, "cc", "h_c")
    hrc = ent(obs, "c", "h_rc")
    j = (
        n_.crossJoin(F.broadcast(hr))
        .crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hrc))
    )
    mi = F.col("h_r") + F.col("h_c") - F.col("h_rc")
    return j.select(
        F.col("n").alias("n_events"),
        (F.round("h_r", 8) + 0.0).alias("h_dow"),
        (F.round("h_c", 8) + 0.0).alias("h_type"),
        (F.round(mi, 8) + 0.0).alias("mutual_info_nats"),
        (F.round(mi / F.col("h_c"), 8) + 0.0).alias(
            "u_type_given_dow"
        ),
        (F.round(mi / F.col("h_r"), 8) + 0.0).alias(
            "u_dow_given_type"
        ),
        (
            F.round(2.0 * mi / (F.col("h_r") + F.col("h_c")), 8) + 0.0
        ).alias("u_symmetric"),
    )


# --------------------------------------------------------------------------
# Bivariate Granger causality F (lag 1, both directions)
# --------------------------------------------------------------------------
_GC_MOM_SQL = """
    ev2 AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS p,
               CAST(SUM(CASE WHEN event_type = 'click'
                             THEN 1 ELSE 0 END) AS BIGINT) AS q
        FROM events GROUP BY 1
    ),
    span2 AS (SELECT CAST(min(d) AS BIGINT) AS d0,
                     CAST(max(d) AS BIGINT) AS d1 FROM ev2),
    grid2 AS (
        SELECT CAST(u.g AS BIGINT) AS d
        FROM span2,
             LATERAL UNNEST(range(span2.d0, span2.d1 + 1)) AS u(g)
    ),
    fill2 AS (
        SELECT g.d, COALESCE(e.p, 0) AS p, COALESCE(e.q, 0) AS q
        FROM grid2 g LEFT JOIN ev2 e ON g.d = e.d
    ),
    lag2 AS (
        SELECT a.p, a.q, b.p AS u, b.q AS v
        FROM fill2 a JOIN fill2 b ON a.d = b.d + 1
    ),
    gm AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(p) AS BIGINT) AS sp,
               CAST(SUM(q) AS BIGINT) AS sq,
               CAST(SUM(u) AS BIGINT) AS su,
               CAST(SUM(v) AS BIGINT) AS sv,
               CAST(SUM(CAST(p AS DECIMAL(19,0)) * p)
                    AS DECIMAL(38,0)) AS spp,
               CAST(SUM(CAST(q AS DECIMAL(19,0)) * q)
                    AS DECIMAL(38,0)) AS sqq,
               CAST(SUM(CAST(u AS DECIMAL(19,0)) * u)
                    AS DECIMAL(38,0)) AS suu,
               CAST(SUM(CAST(v AS DECIMAL(19,0)) * v)
                    AS DECIMAL(38,0)) AS svv,
               CAST(SUM(CAST(u AS DECIMAL(19,0)) * v)
                    AS DECIMAL(38,0)) AS suv,
               CAST(SUM(CAST(p AS DECIMAL(19,0)) * u)
                    AS DECIMAL(38,0)) AS spu,
               CAST(SUM(CAST(p AS DECIMAL(19,0)) * v)
                    AS DECIMAL(38,0)) AS spv,
               CAST(SUM(CAST(q AS DECIMAL(19,0)) * u)
                    AS DECIMAL(38,0)) AS squ,
               CAST(SUM(CAST(q AS DECIMAL(19,0)) * v)
                    AS DECIMAL(38,0)) AS sqv
        FROM lag2
    )
"""


def _gc_f_sql(sy, syy, syu, syv, sown, sownown, scross,
              scrosscross, sboth):
    """F statistic for response y on (1, own-lag) vs (1, own-lag,
    cross-lag), all from the gm moment columns. Arguments are SQL
    column names: Sy, Syy, S(y*own), S(y*cross), S(own), S(own^2),
    S(cross), S(cross^2), S(own*cross)."""
    n = "CAST(n AS DOUBLE)"
    yd = f"CAST({sy} AS DOUBLE)"
    yyd = f"CAST({syy} AS DOUBLE)"
    yud = f"CAST({syu} AS DOUBLE)"
    yvd = f"CAST({syv} AS DOUBLE)"
    ud = f"CAST({sown} AS DOUBLE)"
    vd = f"CAST({scross} AS DOUBLE)"
    uud = f"CAST({sownown} AS DOUBLE)"
    vvd = f"CAST({scrosscross} AS DOUBLE)"
    uvd = f"CAST({sboth} AS DOUBLE)"
    br = f"(({n} * {yud} - {ud} * {yd}) / ({n} * {uud} - {ud} * {ud}))"
    ar = f"(({yd} - {br} * {ud}) / {n})"
    ssr_r = f"({yyd} - {ar} * {yd} - {br} * {yud})"
    det = (f"({n} * ({uud} * {vvd} - {uvd} * {uvd})"
           f" - {ud} * ({ud} * {vvd} - {uvd} * {vd})"
           f" + {vd} * ({ud} * {uvd} - {uud} * {vd}))")
    d0 = (f"({yd} * ({uud} * {vvd} - {uvd} * {uvd})"
          f" - {ud} * ({yud} * {vvd} - {yvd} * {uvd})"
          f" + {vd} * ({yud} * {uvd} - {yvd} * {uud}))")
    d1 = (f"({n} * ({yud} * {vvd} - {yvd} * {uvd})"
          f" - {yd} * ({ud} * {vvd} - {uvd} * {vd})"
          f" + {vd} * ({ud} * {yvd} - {yud} * {vd}))")
    d2 = (f"({n} * ({uud} * {yvd} - {uvd} * {yud})"
          f" - {ud} * ({ud} * {yvd} - {yud} * {vd})"
          f" + {yd} * ({ud} * {uvd} - {uud} * {vd}))")
    ssr_u = (f"({yyd} - ({d0} / {det}) * {yd}"
             f" - ({d1} / {det}) * {yud}"
             f" - ({d2} / {det}) * {yvd})")
    return f"(({ssr_r} - {ssr_u}) * (n - 3.0) / {ssr_u})"


@register(
    "granger_causality_f",
    oracle=f"""
    WITH {_GC_MOM_SQL}
    SELECT n AS n_pairs,
           round({_gc_f_sql('sp', 'spp', 'spu', 'spv',
                            'su', 'suu', 'sv', 'svv', 'suv')}, 6)
               + 0.0 AS f_clicks_to_purchases,
           round({_gc_f_sql('sq', 'sqq', 'sqv', 'squ',
                            'sv', 'svv', 'su', 'suu', 'suv')}, 6)
               + 0.0 AS f_purchases_to_clicks,
           CAST(n - 3 AS BIGINT) AS dof2
    FROM gm
    """,
)
def granger_causality_f(spark, sf_dir):
    """Bivariate GRANGER CAUSALITY at lag 1 between the daily click
    and purchase series, BOTH directions in one pass: F compares
    y_t ~ (1, y_(t-1)) against y_t ~ (1, y_(t-1), x_(t-1)) — "do
    yesterday's clicks predict today's purchases beyond what
    yesterday's purchases already say?" — the lead-lag readout
    behind every marketing-attribution claim, and the predictive
    sibling of `transfer_entropy_daily` (same question,
    information-theoretic route; the two disagreeing flags
    nonlinear coupling). Asymmetric by construction: both F's ship.

    Exactness: the 14 moments of (p_t, q_t, p_(t-1), q_(t-1)) fold
    exact BIGINT day counts through DECIMAL(19,0) widens in ONE
    pass over the zero-filled grid's lag join; both restricted and
    unrestricted SSRs are closed forms on those moments (the
    ramsey_reset Cramer idiom), so the F's are terminal double
    trees of exact integers — no rounding needed before the final
    round. Plan: one day rollup, bounded grid fill, one lag-1
    equi-join, one fold."""
    e = t(spark, sf_dir, "events")
    ev2 = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("p"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("q"),
    )
    span = ev2.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = span.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("d")
    )
    fill = grid.join(ev2, "d", "left").select(
        "d",
        F.coalesce("p", F.lit(0)).cast("bigint").alias("p"),
        F.coalesce("q", F.lit(0)).cast("bigint").alias("q"),
    )
    a = fill.select("d", "p", "q")
    b = fill.select(
        (F.col("d") + 1).alias("d"),
        F.col("p").alias("u"),
        F.col("q").alias("v"),
    )
    lag2 = a.join(b, "d")

    def dsum(x, y, name):
        return (
            F.sum(F.col(x).cast("decimal(19,0)") * F.col(y))
            .cast("decimal(38,0)")
            .alias(name)
        )

    gm = lag2.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("p").cast("bigint").alias("sp"),
        F.sum("q").cast("bigint").alias("sq"),
        F.sum("u").cast("bigint").alias("su"),
        F.sum("v").cast("bigint").alias("sv"),
        dsum("p", "p", "spp"),
        dsum("q", "q", "sqq"),
        dsum("u", "u", "suu"),
        dsum("v", "v", "svv"),
        dsum("u", "v", "suv"),
        dsum("p", "u", "spu"),
        dsum("p", "v", "spv"),
        dsum("q", "u", "squ"),
        dsum("q", "v", "sqv"),
    )

    def gc_f(sy, syy, syu, syv, sown, sownown, scross,
             scrosscross, sboth):
        """F for response y on (1, own-lag) vs (1, own-lag,
        cross-lag); arguments name the gm moment columns exactly as
        in _gc_f_sql."""
        n = F.col("n").cast("double")
        syd = F.col(sy).cast("double")
        syyd = F.col(syy).cast("double")
        syud = F.col(syu).cast("double")
        syvd = F.col(syv).cast("double")
        sud = F.col(sown).cast("double")
        svd = F.col(scross).cast("double")
        suud = F.col(sownown).cast("double")
        svvd = F.col(scrosscross).cast("double")
        suvd = F.col(sboth).cast("double")
        br = (n * syud - sud * syd) / (n * suud - sud * sud)
        ar = (syd - br * sud) / n
        ssr_r = syyd - ar * syd - br * syud
        det = (
            n * (suud * svvd - suvd * suvd)
            - sud * (sud * svvd - suvd * svd)
            + svd * (sud * suvd - suud * svd)
        )
        d0 = (
            syd * (suud * svvd - suvd * suvd)
            - sud * (syud * svvd - syvd * suvd)
            + svd * (syud * suvd - syvd * suud)
        )
        d1 = (
            n * (syud * svvd - syvd * suvd)
            - syd * (sud * svvd - suvd * svd)
            + svd * (sud * syvd - syud * svd)
        )
        d2 = (
            n * (suud * syvd - suvd * syud)
            - sud * (sud * syvd - syud * svd)
            + syd * (sud * suvd - suud * svd)
        )
        ssr_u = (
            syyd
            - (d0 / det) * syd
            - (d1 / det) * syud
            - (d2 / det) * syvd
        )
        return (ssr_r - ssr_u) * (n - 3.0) / ssr_u

    f1 = gc_f("sp", "spp", "spu", "spv", "su", "suu", "sv", "svv",
              "suv")
    f2 = gc_f("sq", "sqq", "sqv", "squ", "sv", "svv", "su", "suu",
              "suv")
    return gm.select(
        F.col("n").alias("n_pairs"),
        (F.round(f1, 6) + 0.0).alias("f_clicks_to_purchases"),
        (F.round(f2, 6) + 0.0).alias("f_purchases_to_clicks"),
        (F.col("n") - 3).cast("bigint").alias("dof2"),
    )


# --------------------------------------------------------------------------
# Cross-correlation function clicks -> purchases at lags -7..7
# --------------------------------------------------------------------------
@register(
    "ccf_peak_lag",
    oracle="""
    WITH ev2 AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CASE WHEN event_type = 'click'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    span2 AS (SELECT CAST(min(d) AS BIGINT) AS d0,
                     CAST(max(d) AS BIGINT) AS d1 FROM ev2),
    fill2 AS (
        SELECT CAST(u.g AS BIGINT) AS d,
               COALESCE(e.x, 0) AS x, COALESCE(e.y, 0) AS y
        FROM span2,
             LATERAL UNNEST(range(span2.d0, span2.d1 + 1)) AS u(g)
        LEFT JOIN ev2 e ON u.g = e.d
    ),
    ks AS (SELECT CAST(u.g AS BIGINT) AS k
           FROM LATERAL UNNEST(range(-7, 8)) AS u(g)),
    pairs AS (
        SELECT ks.k, a.x, b.y
        FROM fill2 a JOIN ks ON TRUE
        JOIN fill2 b ON b.d = a.d + ks.k
    ),
    mom AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(19,0)) * x)
                    AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(y AS DECIMAL(19,0)) * y)
                    AS DECIMAL(38,0)) AS syy,
               CAST(SUM(CAST(x AS DECIMAL(19,0)) * y)
                    AS DECIMAL(38,0)) AS sxy
        FROM pairs GROUP BY k
    ),
    ccf AS (
        SELECT k, n,
               round((n * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * sy)
                     / sqrt((n * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * sx)
                            * (n * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * sy)), 10)
                   AS r
        FROM mom
    ),
    peak AS (
        SELECT k AS kstar FROM ccf
        ORDER BY abs(r) DESC, k ASC LIMIT 1
    )
    SELECT ccf.k AS lag_days, ccf.n AS n_pairs,
           round(ccf.r, 6) + 0.0 AS ccf_r,
           round(1.959963985 / sqrt(ccf.n * 1.0), 6) + 0.0
               AS white_noise_band,
           CAST(CASE WHEN ccf.k = peak.kstar THEN 1 ELSE 0 END
                AS INT) AS is_peak
    FROM ccf, peak ORDER BY ccf.k
    """,
)
def ccf_peak_lag(spark, sf_dir):
    """Cross-correlation function between daily clicks (x) and daily
    purchases (y) at lags -7..+7: r_k = corr(x_t, y_(t+k)) on the
    zero-filled grid, each lag over its own aligned window, with the
    +/-1.96/sqrt(n) white-noise band and the |r|-argmax peak flag
    (ties to the smallest lag) — the WHERE of the lead-lag story
    `granger_causality_f` tests at lag 1: a peak at k>0 reads
    "clicks lead purchases by k days", the marketing-latency
    readout. Per-lag n shrinks with |k| (no padding — real aligned
    pairs only).

    Exactness: per-lag moments fold exact BIGINT counts through
    DECIMAL(19,0) widens in one grouped pass over the bounded
    (day x 15-lag) join; each r is rounded at 10 dp before the
    argmax so both engines rank identical doubles; the peak is a
    total-order top-1. Plan: one day rollup, bounded grid fill, one
    15-lag equi-join, one grouped fold, one 15-row argmax."""
    e = t(spark, sf_dir, "events")
    ev2 = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    span = ev2.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = span.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("d")
    )
    fill = grid.join(ev2, "d", "left").select(
        "d",
        F.coalesce("x", F.lit(0)).cast("bigint").alias("x"),
        F.coalesce("y", F.lit(0)).cast("bigint").alias("y"),
    ).persist()
    ks = spark.range(-7, 8).select(F.col("id").cast("bigint").alias("k"))
    a = fill.select("d", "x")
    b = fill.select(F.col("d").alias("bd"), F.col("y").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(ks))
        .withColumn("bd", F.col("d") + F.col("k"))
        .join(b, "bd")
    )
    mom = pairs.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("syy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    n = F.col("n")
    r = F.round(
        (n * F.col("sxy").cast("double")
         - F.col("sx").cast("double") * F.col("sy"))
        / F.sqrt(
            (n * F.col("sxx").cast("double")
             - F.col("sx").cast("double") * F.col("sx"))
            * (n * F.col("syy").cast("double")
               - F.col("sy").cast("double") * F.col("sy"))
        ),
        10,
    )
    ccf = mom.select("k", "n", r.alias("r")).persist()
    peak = (
        ccf.orderBy(F.abs(F.col("r")).desc(), F.col("k").asc())
        .limit(1)
        .select(F.col("k").alias("kstar"))
    )
    return (
        ccf.crossJoin(F.broadcast(peak))
        .select(
            F.col("k").alias("lag_days"),
            F.col("n").alias("n_pairs"),
            (F.round("r", 6) + 0.0).alias("ccf_r"),
            (F.round(1.959963985 / F.sqrt(n * 1.0), 6) + 0.0).alias(
                "white_noise_band"
            ),
            F.when(F.col("k") == F.col("kstar"), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_peak"),
        )
        .orderBy("lag_days")
    )


# --------------------------------------------------------------------------
# Knox space-time interaction test on orders
# --------------------------------------------------------------------------
@register(
    "knox_spacetime",
    oracle="""
    WITH o2 AS (
        SELECT CAST(epoch_us(o.o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               c.c_nationkey AS nk
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    n_ AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM o2),
    byday AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS c FROM o2 GROUP BY d
    ),
    bynat AS (
        SELECT nk, CAST(COUNT(*) AS BIGINT) AS c FROM o2 GROUP BY nk
    ),
    bynd AS (
        SELECT nk, d, CAST(COUNT(*) AS BIGINT) AS c
        FROM o2 GROUP BY nk, d
    ),
    pt AS (
        SELECT CAST(SUM(CAST(c AS DECIMAL(19,0)) * (c - 1))
                    AS DECIMAL(38,0)) // 2
               + (SELECT CAST(SUM(CAST(a.c AS DECIMAL(19,0)) * b.c)
                              AS DECIMAL(38,0))
                  FROM byday a JOIN byday b
                    ON b.d > a.d AND b.d <= a.d + 3) AS np
        FROM byday
    ),
    ps AS (
        SELECT CAST(SUM(CAST(c AS DECIMAL(19,0)) * (c - 1))
                    AS DECIMAL(38,0)) // 2 AS np
        FROM bynat
    ),
    pb AS (
        SELECT CAST(SUM(CAST(c AS DECIMAL(19,0)) * (c - 1))
                    AS DECIMAL(38,0)) // 2
               + (SELECT CAST(SUM(CAST(a.c AS DECIMAL(19,0)) * b.c)
                              AS DECIMAL(38,0))
                  FROM bynd a JOIN bynd b
                    ON a.nk = b.nk AND b.d > a.d AND b.d <= a.d + 3)
                   AS np
        FROM bynd
    ),
    stat AS (
        SELECT n_.n,
               CAST(pt.np AS DOUBLE) AS nt,
               CAST(ps.np AS DOUBLE) AS ns,
               CAST(pb.np AS DOUBLE) AS x,
               CAST(pt.np AS DOUBLE) * CAST(ps.np AS DOUBLE)
                   / (CAST(n_.n AS DOUBLE) * (n_.n - 1) / 2.0) AS ex
        FROM n_, pt, ps, pb
    )
    SELECT n AS n_orders,
           CAST(nt AS BIGINT) AS pairs_time_close,
           CAST(ns AS BIGINT) AS pairs_space_close,
           CAST(x AS BIGINT) AS pairs_both_close,
           round(ex, 4) + 0.0 AS expected_both,
           round((x - ex) / sqrt(ex), 6) + 0.0 AS knox_z
    FROM stat
    """,
)
def knox_spacetime(spark, sf_dir):
    """Knox space-time interaction test on orders: X = pairs of
    orders CLOSE IN BOTH time (<= 3 days apart) and space (same
    customer nation), against E[X] = N_T N_S / N_pairs under
    independence, z = (X-E)/sqrt(E) (Knox's Poisson approximation)
    — the classic outbreak/fraud-burst detector: orders clustering
    in time AND geography beyond what their marginal clusterings
    imply. The spatial-epidemiology member of the spatial family
    (`morans_i_nations` / `getis_ord_general_g` are cross-sectional;
    Knox is the INTERACTION of the two closeness relations).

    Exactness: all three pair counts are exact — same-cell C(c,2)
    folds plus 3-offset day-band equi-joins at (day), (nation), and
    (nation, day) grain, every product DECIMAL(19,0)-widened (day
    cell counts squared pass int64 at the 64x octave); E and z are
    terminal ratios. The pair counting never touches order-pair
    grain: everything is rollup-of-rollups on bounded (nation x
    day) frames. Plan: one join scan, three rollups, three bounded
    band self-joins, one fold."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    o2 = o.join(c, o.o_custkey == c.c_custkey).select(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("d"),
        F.col("c_nationkey").alias("nk"),
    )
    n_ = o2.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    byday = o2.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).persist()
    bynat = o2.groupBy("nk").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    bynd = o2.groupBy("nk", "d").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).persist()

    def same_cell_pairs(df):
        return df.agg(
            (
                F.sum(
                    F.col("c").cast("decimal(19,0)") * (F.col("c") - 1)
                ).cast("decimal(38,0)")
                / 2
            )
            .cast("decimal(38,0)")
            .alias("p")
        )

    tband = (
        byday.alias("a")
        .join(
            byday.alias("b"),
            (F.col("b.d") > F.col("a.d"))
            & (F.col("b.d") <= F.col("a.d") + 3),
        )
        .agg(
            F.sum(
                F.col("a.c").cast("decimal(19,0)") * F.col("b.c")
            )
            .cast("decimal(38,0)")
            .alias("p")
        )
    )
    sband = (
        bynd.alias("a")
        .join(
            bynd.alias("b"),
            (F.col("a.nk") == F.col("b.nk"))
            & (F.col("b.d") > F.col("a.d"))
            & (F.col("b.d") <= F.col("a.d") + 3),
        )
        .agg(
            F.sum(
                F.col("a.c").cast("decimal(19,0)") * F.col("b.c")
            )
            .cast("decimal(38,0)")
            .alias("p")
        )
    )
    pt = (
        same_cell_pairs(byday)
        .crossJoin(F.broadcast(tband.select(F.col("p").alias("pb_"))))
        .select((F.col("p") + F.col("pb_")).alias("nt"))
    )
    ps = same_cell_pairs(bynat).select(F.col("p").alias("ns"))
    pb = (
        same_cell_pairs(bynd)
        .crossJoin(F.broadcast(sband.select(F.col("p").alias("pb_"))))
        .select((F.col("p") + F.col("pb_")).alias("x"))
    )
    stat = (
        n_.crossJoin(F.broadcast(pt))
        .crossJoin(F.broadcast(ps))
        .crossJoin(F.broadcast(pb))
    )
    n = F.col("n").cast("double")
    nt = F.col("nt").cast("double")
    ns = F.col("ns").cast("double")
    x = F.col("x").cast("double")
    ex = nt * ns / (n * (F.col("n") - 1) / 2.0)
    return stat.select(
        F.col("n").alias("n_orders"),
        F.col("nt").cast("bigint").alias("pairs_time_close"),
        F.col("ns").cast("bigint").alias("pairs_space_close"),
        F.col("x").cast("bigint").alias("pairs_both_close"),
        (F.round(ex, 4) + 0.0).alias("expected_both"),
        (F.round((x - ex) / F.sqrt(ex), 6) + 0.0).alias("knox_z"),
    )


# --------------------------------------------------------------------------
# The 35-cell contingency p-value family (the bh_fdr_correction frame)
# --------------------------------------------------------------------------
from .stats_tests import _p_two_sided_sql  # noqa: E402  (A-S erfc tree)

_CELLP_SQL = f"""
    obs AS (
        SELECT event_type,
               CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS INT)
                   AS dow,
               CAST(COUNT(*) AS DOUBLE) AS o
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, dow, o,
               SUM(o) OVER (PARTITION BY event_type) AS r,
               SUM(o) OVER (PARTITION BY dow) AS c,
               SUM(o) OVER () AS n
        FROM obs
    ),
    zz AS (
        SELECT event_type, dow,
               (o - r * c / n)
               / sqrt((r * c / n) * (1 - r / n) * (1 - c / n)) AS z
        FROM tot
    ),
    pv AS (
        SELECT event_type, dow,
               round({_p_two_sided_sql('z')}, 12) AS p
        FROM zz
    ),
    ranked AS (
        SELECT event_type, dow, p,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY p, event_type, dow) AS BIGINT) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS m
        FROM pv
    )
"""


def _cellp(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    obs = e.groupBy(
        F.col("event_type"),
        ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7)
        .cast("int")
        .alias("dow"),
    ).agg(F.count(F.lit(1)).cast("double").alias("o"))
    tot = (
        obs.withColumn(
            "r", F.sum("o").over(Window.partitionBy("event_type"))
        )
        .withColumn("c", F.sum("o").over(Window.partitionBy("dow")))
        .withColumn("n", F.sum("o").over(Window.partitionBy()))
    )
    ex = F.col("r") * F.col("c") / F.col("n")
    z = (F.col("o") - ex) / F.sqrt(
        ex
        * (1 - F.col("r") / F.col("n"))
        * (1 - F.col("c") / F.col("n"))
    )
    x = F.abs(z) / 1.4142135623730951
    tp = 1.0 / (1.0 + 0.3275911 * x)
    p = (
        (
            ((1.061405429 * tp - 1.453152027) * tp + 1.421413741) * tp
            - 0.284496736
        )
        * tp
        + 0.254829592
    ) * tp * F.exp(-x * x)
    pv = tot.select(
        "event_type", "dow", F.round(p, 12).alias("p")
    )
    return pv.select(
        "event_type",
        "dow",
        "p",
        F.row_number()
        .over(Window.orderBy("p", "event_type", "dow"))
        .cast("bigint")
        .alias("i"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("m"),
    )


@register(
    "higher_criticism_panel",
    oracle=f"""
    WITH {_CELLP_SQL},
    hc AS (
        SELECT i, p, m,
               round(sqrt(m * 1.0)
                     * (CAST(i AS DOUBLE) / m - p)
                     / sqrt(p * (1.0 - p)), 8) AS h
        FROM ranked
        WHERE 2 * i <= m AND p > 0 AND p < 1
    ),
    star AS (
        SELECT i AS istar, p AS pstar, h AS hstar
        FROM hc ORDER BY h DESC, i ASC LIMIT 1
    )
    SELECT (SELECT CAST(MAX(m) AS BIGINT) FROM ranked) AS m_tests,
           round(hstar, 6) + 0.0 AS hc_star,
           istar AS i_star,
           round(pstar, 8) + 0.0 AS p_at_istar
    FROM star
    """,
)
def higher_criticism_panel(spark, sf_dir):
    """Donoho-Jin HIGHER CRITICISM over the 35-cell contingency
    p-value family (the `bh_fdr_correction` frame): HC* = max over
    the smallest half of the ordered p's of sqrt(m)(i/m - p_(i))/
    sqrt(p_(i)(1-p_(i))) — the sparse-signal detector that answers
    "is ANYTHING non-null here" with power against FEW-AND-WEAK
    effects, exactly where Bonferroni (needs one strong p) and BH
    (needs many) are blind; the modern rare-signal screen run
    before per-cell follow-ups. Emits the argmax rank and its p so
    the follow-up knows WHERE the evidence concentrates.

    Exactness: cell z's and the shared erfc p's are identical
    double trees (p rounded at 12 dp); ranks are deterministic
    (p, type, dow) row_numbers on the 35-row frame; HC terms round
    at 8 dp before the total-order top-1 (max h, then min i).
    Plan: one rollup, bounded 35-row windows, one top-1."""
    ranked = _cellp(spark, sf_dir)
    hc = ranked.where(
        (2 * F.col("i") <= F.col("m"))
        & (F.col("p") > 0)
        & (F.col("p") < 1)
    ).select(
        "i",
        "p",
        "m",
        F.round(
            F.sqrt(F.col("m") * 1.0)
            * (F.col("i").cast("double") / F.col("m") - F.col("p"))
            / F.sqrt(F.col("p") * (1.0 - F.col("p"))),
            8,
        ).alias("h"),
    )
    star = (
        hc.orderBy(F.col("h").desc(), F.col("i").asc())
        .limit(1)
        .select(
            F.col("i").alias("istar"),
            F.col("p").alias("pstar"),
            F.col("h").alias("hstar"),
        )
    )
    m_ = ranked.agg(F.max("m").cast("bigint").alias("m_tests"))
    return m_.crossJoin(F.broadcast(star)).select(
        "m_tests",
        (F.round("hstar", 6) + 0.0).alias("hc_star"),
        F.col("istar").alias("i_star"),
        (F.round("pstar", 8) + 0.0).alias("p_at_istar"),
    )


@register(
    "storey_pi0_qvalues",
    oracle=f"""
    WITH {_CELLP_SQL},
    pi0 AS (
        SELECT LEAST(1.0, round(
                   SUM(CASE WHEN p > 0.5 THEN 1.0 ELSE 0.0 END)
                   / (0.5 * MAX(m)), 10)) AS pi0
        FROM ranked
    ),
    qq AS (
        SELECT event_type, dow, p, i, m,
               round(MIN(round(pi0.pi0 * m * p / i, 10)) OVER (
                   ORDER BY i DESC ROWS UNBOUNDED PRECEDING), 10)
                   AS q
        FROM ranked, pi0
    )
    SELECT qq.event_type, qq.dow AS dow,
           round(qq.p, 8) + 0.0 AS p_value,
           round(LEAST(1.0, qq.q), 8) + 0.0 AS q_value,
           round(pi0.pi0, 6) + 0.0 AS pi0_hat
    FROM qq, pi0
    ORDER BY qq.event_type, qq.dow
    """,
)
def storey_pi0_qvalues(spark, sf_dir):
    """Storey q-values for the 35-cell p-value family: pi0 =
    #(p > 0.5)/(0.5 m) estimates the NULL FRACTION (capped at 1),
    and q_(i) = min over j >= i of pi0 m p_(j)/j is each cell's
    positive FDR — the adaptive sharpening of `bh_fdr_correction`
    (BH implicitly assumes pi0 = 1; when many cells are non-null,
    Storey's q-values recover the lost power, and pi0 itself is the
    "how much of this table is signal" readout). Lambda = 0.5, the
    classic fixed-lambda estimator.

    Exactness: ranks are the deterministic (p, type, dow) order;
    pi0 and each pi0 m p/j term round at 10 dp before the reverse
    running MIN over the bounded 35-row frame; q caps at 1.
    Plan: one rollup, bounded 35-row windows (the bh_fdr class)."""
    ranked = _cellp(spark, sf_dir)
    pi0 = ranked.agg(
        F.least(
            F.lit(1.0),
            F.round(
                F.sum(
                    F.when(F.col("p") > 0.5, 1.0).otherwise(0.0)
                )
                / (0.5 * F.max("m")),
                10,
            ),
        ).alias("pi0")
    )
    qq = ranked.crossJoin(F.broadcast(pi0)).select(
        "event_type",
        "dow",
        "p",
        "i",
        "pi0",
        F.round(
            F.min(
                F.round(
                    F.col("pi0") * F.col("m") * F.col("p") / F.col("i"),
                    10,
                )
            ).over(
                Window.orderBy(F.col("i").desc()).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
            10,
        ).alias("q"),
    )
    return qq.select(
        "event_type",
        F.col("dow"),
        (F.round("p", 8) + 0.0).alias("p_value"),
        (F.round(F.least(F.lit(1.0), F.col("q")), 8) + 0.0).alias(
            "q_value"
        ),
        (F.round("pi0", 6) + 0.0).alias("pi0_hat"),
    ).orderBy("event_type", "dow")


PLAN_AUDIT_NOTES.update(
    {
        "higher_criticism_panel": (
            "rank + top-1 over the 35-cell contingency p family "
            "(domain-bounded — the bh_fdr_correction class)"
        ),
        "storey_pi0_qvalues": (
            "rank + reverse running-min over the same 35-cell family "
            "(the bh_fdr_correction class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Mack-Wolfe umbrella test with known peak at 3-MEDIUM
# --------------------------------------------------------------------------
@register(
    "mack_wolfe_umbrella",
    oracle="""
    WITH pts AS (
        SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS g,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    cells AS (
        SELECT v, g, CAST(COUNT(*) AS BIGINT) AS c
        FROM pts GROUP BY v, g
    ),
    wide AS (
        SELECT v,
               COALESCE(MAX(CASE WHEN g = 1 THEN c END), 0) AS c1,
               COALESCE(MAX(CASE WHEN g = 2 THEN c END), 0) AS c2,
               COALESCE(MAX(CASE WHEN g = 3 THEN c END), 0) AS c3,
               COALESCE(MAX(CASE WHEN g = 4 THEN c END), 0) AS c4,
               COALESCE(MAX(CASE WHEN g = 5 THEN c END), 0) AS c5
        FROM cells GROUP BY v
    ),
    cum AS (
        SELECT v, c1, c2, c3, c4, c5,
               CAST(COALESCE(SUM(c1) OVER w, 0) AS BIGINT) AS b1,
               CAST(COALESCE(SUM(c2) OVER w, 0) AS BIGINT) AS b2,
               CAST(COALESCE(SUM(c3) OVER w, 0) AS BIGINT) AS b3,
               CAST(COALESCE(SUM(c4) OVER w, 0) AS BIGINT) AS b4,
               CAST(COALESCE(SUM(c5) OVER w, 0) AS BIGINT) AS b5
        FROM wide
        WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING)
    ),
    ufold AS (
        SELECT
            CAST(SUM(CAST(2 * c2 AS DECIMAL(19,0)) * b1
                     + CAST(c1 AS DECIMAL(19,0)) * c2) AS DECIMAL(38,0))
                AS u12x2,
            CAST(SUM(CAST(2 * c3 AS DECIMAL(19,0)) * b1
                     + CAST(c1 AS DECIMAL(19,0)) * c3) AS DECIMAL(38,0))
                AS u13x2,
            CAST(SUM(CAST(2 * c3 AS DECIMAL(19,0)) * b2
                     + CAST(c2 AS DECIMAL(19,0)) * c3) AS DECIMAL(38,0))
                AS u23x2,
            CAST(SUM(CAST(2 * c3 AS DECIMAL(19,0)) * b4
                     + CAST(c4 AS DECIMAL(19,0)) * c3) AS DECIMAL(38,0))
                AS u43x2,
            CAST(SUM(CAST(2 * c3 AS DECIMAL(19,0)) * b5
                     + CAST(c5 AS DECIMAL(19,0)) * c3) AS DECIMAL(38,0))
                AS u53x2,
            CAST(SUM(CAST(2 * c4 AS DECIMAL(19,0)) * b5
                     + CAST(c5 AS DECIMAL(19,0)) * c4) AS DECIMAL(38,0))
                AS u54x2
        FROM cum
    ),
    sizes AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c2) AS BIGINT) AS n2,
               CAST(SUM(c3) AS BIGINT) AS n3,
               CAST(SUM(c4) AS BIGINT) AS n4,
               CAST(SUM(c5) AS BIGINT) AS n5
        FROM wide
    ),
    stat AS (
        SELECT (CAST(u12x2 AS DOUBLE) + CAST(u13x2 AS DOUBLE)
                + CAST(u23x2 AS DOUBLE) + CAST(u43x2 AS DOUBLE)
                + CAST(u53x2 AS DOUBLE) + CAST(u54x2 AS DOUBLE))
                   / 2.0 AS a,
               CAST(n1 + n2 + n3 AS DOUBLE) AS q1,
               CAST(n3 + n4 + n5 AS DOUBLE) AS q2,
               CAST(n1 + n2 + n3 + n4 + n5 AS DOUBLE) AS nn,
               CAST(n1 AS DOUBLE) AS m1, CAST(n2 AS DOUBLE) AS m2,
               CAST(n3 AS DOUBLE) AS m3, CAST(n4 AS DOUBLE) AS m4,
               CAST(n5 AS DOUBLE) AS m5
        FROM ufold, sizes
    ),
    mom AS (
        SELECT a,
               (q1 * q1 + q2 * q2
                - (m1*m1 + m2*m2 + m3*m3 + m4*m4 + m5*m5)
                - m3 * m3) / 4.0 AS ea,
               (2.0 * (q1*q1*q1 + q2*q2*q2)
                + 3.0 * (q1*q1 + q2*q2)
                - (m1*m1*(2.0*m1+3.0) + m2*m2*(2.0*m2+3.0)
                   + m3*m3*(2.0*m3+3.0) + m4*m4*(2.0*m4+3.0)
                   + m5*m5*(2.0*m5+3.0))
                - m3*m3*(2.0*m3+3.0)
                + 12.0*m3*q1*q2 - 12.0*m3*m3*nn) / 72.0 AS va
        FROM stat
    )
    SELECT round(a, 1) + 0.0 AS a_peak,
           round(ea, 1) + 0.0 AS e_a,
           round(va, 1) + 0.0 AS var_a,
           round((a - ea) / sqrt(va), 6) + 0.0 AS z_mack_wolfe
    FROM mom
    """,
)
def mack_wolfe_umbrella(spark, sf_dir):
    """Mack-Wolfe UMBRELLA test with known peak at priority 3-MEDIUM:
    A_p sums the ascending Mann-Whitney counts U_12+U_13+U_23 and
    the descending U_43+U_53+U_54 of order values across the
    ordered priorities — the up-then-down alternative that
    monotone-trend tests (`jonckheere_terpstra_trend`,
    `cuzick_trend_test`) are blind to by construction (their
    ascending and descending halves cancel). The null moments are
    the Mack-Wolfe (1981) known-peak forms, VERIFIED against the
    exact 3.6M-permutation enumeration of a 4-group layout before
    shipping (E and Var match to 1e-12). U counts use midranks for
    ties; the classical no-ties moment forms apply (cents-grain
    ties are a vanishing fraction, the standard practice).

    Exactness: per-pair 2U folds are exact DECIMAL(38,0) sums of
    count products over the cents grid (the ansari class: one
    5-group pivot, one exclusive-prefix window per group); A/E/Var
    are terminal double trees of exact sizes. Plan: one rollup to
    the value grid, one windowed pass, one fold."""
    o = t(spark, sf_dir, "orders")
    pts = o.select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("g"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v"),
    )
    cells = pts.groupBy("v", "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wide = cells.groupBy("v").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("g") == k, F.col("c"))), F.lit(0)
            )
            .cast("bigint")
            .alias(f"c{k}")
            for k in range(1, 6)
        ]
    )
    wexc = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = wide.select(
        "v",
        *[F.col(f"c{k}") for k in range(1, 6)],
        *[
            F.coalesce(F.sum(f"c{k}").over(wexc), F.lit(0))
            .cast("bigint")
            .alias(f"b{k}")
            for k in range(1, 6)
        ],
    )

    def u2(j, i, name):
        # 2*U_ij over the grid: group i below group j (+ ties)
        return (
            F.sum(
                (2 * F.col(f"c{j}")).cast("decimal(19,0)")
                * F.col(f"b{i}")
                + F.col(f"c{i}").cast("decimal(19,0)") * F.col(f"c{j}")
            )
            .cast("decimal(38,0)")
            .alias(name)
        )

    ufold = cum.agg(
        u2(2, 1, "u12x2"),
        u2(3, 1, "u13x2"),
        u2(3, 2, "u23x2"),
        u2(3, 4, "u43x2"),
        u2(3, 5, "u53x2"),
        u2(4, 5, "u54x2"),
    )
    sizes = wide.agg(
        *[
            F.sum(f"c{k}").cast("bigint").alias(f"n{k}")
            for k in range(1, 6)
        ]
    )
    j = ufold.crossJoin(F.broadcast(sizes))
    a = (
        F.col("u12x2").cast("double")
        + F.col("u13x2").cast("double")
        + F.col("u23x2").cast("double")
        + F.col("u43x2").cast("double")
        + F.col("u53x2").cast("double")
        + F.col("u54x2").cast("double")
    ) / 2.0
    m = [F.col(f"n{k}").cast("double") for k in range(1, 6)]
    q1 = m[0] + m[1] + m[2]
    q2 = m[2] + m[3] + m[4]
    nn = m[0] + m[1] + m[2] + m[3] + m[4]
    sum2 = sum(x * x for x in m)
    ea = (q1 * q1 + q2 * q2 - sum2 - m[2] * m[2]) / 4.0
    sum23 = sum(x * x * (2.0 * x + 3.0) for x in m)
    va = (
        2.0 * (q1 * q1 * q1 + q2 * q2 * q2)
        + 3.0 * (q1 * q1 + q2 * q2)
        - sum23
        - m[2] * m[2] * (2.0 * m[2] + 3.0)
        + 12.0 * m[2] * q1 * q2
        - 12.0 * m[2] * m[2] * nn
    ) / 72.0
    stat = j.select(a.alias("a"), ea.alias("ea"), va.alias("va"))
    return stat.select(
        (F.round("a", 1) + 0.0).alias("a_peak"),
        (F.round("ea", 1) + 0.0).alias("e_a"),
        (F.round("va", 1) + 0.0).alias("var_a"),
        (
            F.round(
                (F.col("a") - F.col("ea")) / F.sqrt(F.col("va")), 6
            )
            + 0.0
        ).alias("z_mack_wolfe"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "mack_wolfe_umbrella": (
            "five exclusive-prefix sums over the cents value grid "
            "(price-domain-bounded — the ansari_bradley_scale class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Weighted price indices: Laspeyres / Paasche / Fisher / Tornqvist
# --------------------------------------------------------------------------
@register(
    "fisher_tornqvist_index",
    oracle="""
    WITH per AS (
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
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(round(p1 * q0, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS p1q0,
               CAST(SUM(CAST(round(p0 * q0, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS p0q0,
               CAST(SUM(CAST(round(p1 * q1, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS p1q1,
               CAST(SUM(CAST(round(p0 * q1, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS p0q1,
               CAST(SUM(r0) AS BIGINT) AS sr0,
               CAST(SUM(r1) AS BIGINT) AS sr1
        FROM matched
    ),
    tq AS (
        SELECT CAST(SUM(CAST(round(
                   0.5 * (CAST(b.r0 AS DOUBLE) / f.sr0
                          + CAST(b.r1 AS DOUBLE) / f.sr1)
                   * ln(b.p1 / b.p0), 12) AS DECIMAL(28,12)))
                    AS DOUBLE) AS lt
        FROM matched b, fold f
    )
    SELECT f.k AS n_brands_matched,
           round(f.p1q0 / f.p0q0, 6) + 0.0 AS laspeyres,
           round(f.p1q1 / f.p0q1, 6) + 0.0 AS paasche,
           round(sqrt((f.p1q0 / f.p0q0) * (f.p1q1 / f.p0q1)), 6)
               + 0.0 AS fisher_ideal,
           round(exp(tq.lt), 6) + 0.0 AS tornqvist
    FROM fold f, tq
    """,
)
def fisher_tornqvist_index(spark, sf_dir):
    """Weighted bilateral price indices between the FIRST and LAST
    30-day shipping period, over the brands present in both:
    Laspeyres (base-quantity basket), Paasche (current basket),
    Fisher ideal (their geometric mean — the superlative index that
    passes the time-reversal test), and Tornqvist (revenue-share-
    weighted geometric mean) — the WEIGHTED completion of the
    registry's elementary (unweighted) Carli/Dutot/Jevons panel:
    elementary indices answer "did quoted prices move"; these
    answer "did the money-weighted price level move". Fisher and
    Tornqvist agreeing (they approximate each other to second
    order) is the built-in sanity readout.

    Exactness: per-(brand, period) revenue cents and quantities are
    exact BIGINTs; unit prices round at 8 dp; the four basket
    cross-products round at 6 dp into DECIMAL(38,6) folds and the
    Tornqvist log terms at 12 dp into DECIMAL(28,12) (order-free);
    the indices are terminal ratio/exp trees. Plan: one join
    rollup, two period filters off a broadcast min/max, one bounded
    brand join, two folds."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    per = (
        li.join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
        )
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
            F.sum(
                (dec("l_extendedprice", 18, 2) * 100).cast("bigint")
            )
            .cast("bigint")
            .alias("r"),
        )
        .persist()
    )
    lims = per.agg(
        F.min("m30").alias("m0"), F.max("m30").alias("m1")
    )
    price = F.round(F.col("r").cast("double") / F.col("q") / 100.0, 8)
    base = (
        per.crossJoin(F.broadcast(lims))
        .where(F.col("m30") == F.col("m0"))
        .select(
            "b",
            F.col("q").alias("q0"),
            F.col("r").alias("r0"),
            price.alias("p0"),
        )
    )
    curr = (
        per.crossJoin(F.broadcast(lims))
        .where(F.col("m30") == F.col("m1"))
        .select(
            "b",
            F.col("q").alias("q1"),
            F.col("r").alias("r1"),
            price.alias("p1"),
        )
    )
    both = base.join(curr, "b").persist()

    def basket(pcol, qcol, name):
        return (
            F.sum(
                F.round(F.col(pcol) * F.col(qcol), 6).cast(
                    "decimal(38,6)"
                )
            )
            .cast("double")
            .alias(name)
        )

    fold = both.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        basket("p1", "q0", "p1q0"),
        basket("p0", "q0", "p0q0"),
        basket("p1", "q1", "p1q1"),
        basket("p0", "q1", "p0q1"),
        F.sum("r0").cast("bigint").alias("sr0"),
        F.sum("r1").cast("bigint").alias("sr1"),
    )
    tq = (
        both.crossJoin(F.broadcast(fold.select("sr0", "sr1")))
        .agg(
            F.sum(
                F.round(
                    0.5
                    * (
                        F.col("r0").cast("double") / F.col("sr0")
                        + F.col("r1").cast("double") / F.col("sr1")
                    )
                    * F.log(F.col("p1") / F.col("p0")),
                    12,
                ).cast("decimal(28,12)")
            )
            .cast("double")
            .alias("lt")
        )
    )
    lasp = F.col("p1q0") / F.col("p0q0")
    paas = F.col("p1q1") / F.col("p0q1")
    return fold.crossJoin(F.broadcast(tq)).select(
        F.col("k").alias("n_brands_matched"),
        (F.round(lasp, 6) + 0.0).alias("laspeyres"),
        (F.round(paas, 6) + 0.0).alias("paasche"),
        (F.round(F.sqrt(lasp * paas), 6) + 0.0).alias("fisher_ideal"),
        (F.round(F.exp(F.col("lt")), 6) + 0.0).alias("tornqvist"),
    )


# --------------------------------------------------------------------------
# Association rules: top brand pairs with confidence/lift/conviction
# --------------------------------------------------------------------------
@register(
    "association_rules_panel",
    oracle="""
    WITH ob AS (
        SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    nn AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n FROM ob),
    sing AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM ob GROUP BY b
    ),
    pairs AS (
        SELECT a.b AS ba, c.b AS bb, CAST(COUNT(*) AS BIGINT) AS cab
        FROM ob a JOIN ob c ON a.ok = c.ok AND a.b < c.b
        GROUP BY a.b, c.b
    ),
    top AS (
        SELECT ba, bb, cab FROM pairs
        ORDER BY cab DESC, ba, bb LIMIT 10
    ),
    stat AS (
        SELECT t.ba, t.bb, t.cab, sa.c AS ca, sb.c AS cb, nn.n
        FROM top t
        JOIN sing sa ON t.ba = sa.b
        JOIN sing sb ON t.bb = sb.b, nn
    )
    SELECT ba AS brand_a, bb AS brand_b, cab AS n_together,
           round(CAST(cab AS DOUBLE) / n, 8) + 0.0 AS support,
           round(CAST(cab AS DOUBLE) / ca, 6) + 0.0 AS conf_a_to_b,
           round(CAST(cab AS DOUBLE) * n
                 / (CAST(ca AS DOUBLE) * cb), 6) + 0.0 AS lift,
           round(CAST(cab AS DOUBLE) / n
                 - (CAST(ca AS DOUBLE) / n)
                   * (CAST(cb AS DOUBLE) / n), 8) + 0.0 AS leverage,
           round(CASE WHEN cab < ca THEN
                     (1.0 - CAST(cb AS DOUBLE) / n)
                     / (1.0 - CAST(cab AS DOUBLE) / ca)
                 END, 6) + 0.0 AS conviction
    FROM stat ORDER BY n_together DESC, brand_a, brand_b
    """,
)
def association_rules_panel(spark, sf_dir):
    """Market-basket association rules for the top-10 brand pairs by
    co-occurrence: support, confidence(a->b), LIFT (the
    independence-normalized ratio), LEVERAGE (additive version),
    and CONVICTION ((1-supp_b)/(1-conf), NULL at conf=1) — the
    rule-quality panel behind every recommender shortlist, and the
    probabilistic completion of `item_cooccurrence_cosine` (cosine
    ranks pairs by geometry; lift/conviction judge them against
    independence, which is what "association" means). Presence
    grain (DISTINCT brand per order), total-order top-10.

    Exactness: all counts are exact BIGINTs from the order-key
    equi-join of presence sets (bounded per-order fanout);
    every ratio is a terminal tree of exact integers. Plan: one
    distinct rollup, one equi-key self-join, one top-10, two
    broadcast margin joins."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    ob = (
        li.join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
        )
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b"))
        .distinct()
        .persist()
    )
    nn = ob.agg(F.countDistinct("ok").cast("bigint").alias("n"))
    sing = ob.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    a = ob.select("ok", F.col("b").alias("ba"))
    c = ob.select("ok", F.col("b").alias("bb"))
    pairs = (
        a.join(c, "ok")
        .where(F.col("ba") < F.col("bb"))
        .groupBy("ba", "bb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cab"))
    )
    top = pairs.orderBy(
        F.col("cab").desc(), F.col("ba"), F.col("bb")
    ).limit(10)
    stat = (
        top.join(
            F.broadcast(sing.select(F.col("b").alias("ba"), F.col("c").alias("ca"))),
            "ba",
        )
        .join(
            F.broadcast(sing.select(F.col("b").alias("bb"), F.col("c").alias("cb"))),
            "bb",
        )
        .crossJoin(F.broadcast(nn))
    )
    cab = F.col("cab").cast("double")
    ca = F.col("ca").cast("double")
    cb = F.col("cb").cast("double")
    n = F.col("n")
    return stat.select(
        F.col("ba").alias("brand_a"),
        F.col("bb").alias("brand_b"),
        F.col("cab").alias("n_together"),
        (F.round(cab / n, 8) + 0.0).alias("support"),
        (F.round(cab / ca, 6) + 0.0).alias("conf_a_to_b"),
        (F.round(cab * n / (ca * cb), 6) + 0.0).alias("lift"),
        (F.round(cab / n - (ca / n) * (cb / n), 8) + 0.0).alias(
            "leverage"
        ),
        (
            F.round(
                F.when(
                    F.col("cab") < F.col("ca"),
                    (1.0 - cb / n) / (1.0 - cab / ca),
                ),
                6,
            )
            + 0.0
        ).alias("conviction"),
    ).orderBy(F.col("n_together").desc(), "brand_a", "brand_b")



# --------------------------------------------------------------------------
# Van der Waerden k-sample normal-scores test across priorities
# --------------------------------------------------------------------------
from .bank_r15 import (  # noqa: E402
    _acklam_col,
    _acklam_sql,
    _lut24,
)


@register(
    "van_der_waerden_test",
    oracle=f"""
    WITH pts AS (
        SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS g,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    cells AS (
        SELECT v, g, CAST(COUNT(*) AS BIGINT) AS c
        FROM pts GROUP BY v, g
    ),
    vg AS (
        SELECT v, CAST(SUM(c) AS BIGINT) AS h FROM cells GROUP BY v
    ),
    cum AS (
        SELECT v, h,
               CAST(SUM(h) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) - h AS BIGINT) AS below,
               CAST(SUM(h) OVER () AS BIGINT) AS n
        FROM vg
    ),
    scored AS (
        SELECT v, h, n,
               round({_acklam_sql(
                   '((2 * below + h + 1) / 2.0) / (n + 1.0)')}, 10)
                   AS s
        FROM cum
    ),
    grp AS (
        SELECT c.g,
               CAST(SUM(c.c) AS BIGINT) AS nj,
               CAST(SUM(CAST(round(c.c * s.s, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS aj
        FROM cells c JOIN scored s ON c.v = s.v
        GROUP BY c.g
    ),
    vtot AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(CAST(round(h * s * s, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS ss
        FROM scored
    ),
    stat AS (
        SELECT vtot.n,
               SUM(round(aj * aj / nj, 9)) / (vtot.ss / (vtot.n - 1))
                   AS t
        FROM grp, vtot GROUP BY vtot.n, vtot.ss
    )
    SELECT n AS n_orders,
           round(t, 6) + 0.0 AS vdw_t,
           CAST(4 AS BIGINT) AS dof,
           round((exp(ln(t / 4.0) / 3.0)
                  - (1.0 - 2.0 / 36.0)) / sqrt(2.0 / 36.0), 6) + 0.0
               AS z_wilson_hilferty
    FROM stat
    """,
)
def van_der_waerden_test(spark, sf_dir):
    """Van der Waerden k-sample NORMAL-SCORES test across the five
    priorities: replace each order value by Phi^-1(midrank/(n+1))
    (the Acklam device) and ANOVA the scores — T = sum A_j^2/n_j /
    s^2 ~ chi2(4) — asymptotically as efficient as the F test under
    normality AND rank-robust under anything else, the best-of-both
    location test that `kruskal_wallis_values` (rank-sum scores)
    only approximates. The Wilson-Hilferty cube-root z accompanies
    T as the closed-form tail readout (chi2 CDF has no shared
    device; WH is the documented approximation, exp(ln/3) keeps the
    cube root libm-shared).

    Exactness: midranks x2 are exact integers on the cents grid;
    scores round at 10 dp; group folds and the score variance fold
    6-dp rounded products through DECIMAL(38,6); T is a terminal
    ratio. Plan: one rollup to the value grid, one cumulative, one
    scored pass, one 5-group fold."""
    o = t(spark, sf_dir, "orders")
    pts = o.select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("g"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v"),
    )
    cells = pts.groupBy("v", "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    vg = cells.groupBy("v").agg(F.sum("c").cast("bigint").alias("h"))
    cum = vg.select(
        "v",
        "h",
        (
            F.sum("h").over(
                Window.orderBy("v").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            - F.col("h")
        )
        .cast("bigint")
        .alias("below"),
        F.sum("h")
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("n"),
    )
    scored = cum.select(
        "v",
        "h",
        "n",
        F.round(
            _acklam_col(
                ((2 * F.col("below") + F.col("h") + 1) / 2.0)
                / (F.col("n") + 1.0)
            ),
            10,
        ).alias("s"),
    ).persist()
    grp = (
        cells.join(scored.select("v", "s"), "v")
        .groupBy("g")
        .agg(
            F.sum("c").cast("bigint").alias("nj"),
            F.sum(
                F.round(F.col("c") * F.col("s"), 6).cast(
                    "decimal(38,6)"
                )
            )
            .cast("double")
            .alias("aj"),
        )
    )
    vtot = scored.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(
            F.round(F.col("h") * F.col("s") * F.col("s"), 6).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("ss"),
    )
    stat = (
        grp.crossJoin(F.broadcast(vtot))
        .groupBy("n", "ss")
        .agg(
            (
                F.sum(
                    F.round(
                        F.col("aj") * F.col("aj") / F.col("nj"), 9
                    )
                )
                / (F.col("ss") / (F.col("n") - 1))
            ).alias("t")
        )
    )
    tt = F.col("t")
    wh = (
        F.exp(F.log(tt / 4.0) / 3.0) - (1.0 - 2.0 / 36.0)
    ) / F.sqrt(F.lit(2.0 / 36.0))
    return stat.select(
        F.col("n").alias("n_orders"),
        (F.round(tt, 6) + 0.0).alias("vdw_t"),
        F.lit(4).cast("bigint").alias("dof"),
        (F.round(wh, 6) + 0.0).alias("z_wilson_hilferty"),
    )


# --------------------------------------------------------------------------
# Klotz two-sample normal-scores SCALE test: Fri/Sat vs Sun-Thu
# --------------------------------------------------------------------------
@register(
    "klotz_scale_test",
    oracle=f"""
    WITH pts AS (
        SELECT CASE WHEN CAST(epoch_us(o_orderdate) // 86400000000
                         + 4 AS BIGINT) % 7 >= 5
                    THEN 1 ELSE 0 END AS g,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    cells AS (
        SELECT v, g, CAST(COUNT(*) AS BIGINT) AS c
        FROM pts GROUP BY v, g
    ),
    vg AS (
        SELECT v, CAST(SUM(c) AS BIGINT) AS h FROM cells GROUP BY v
    ),
    cum AS (
        SELECT v, h,
               CAST(SUM(h) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) - h AS BIGINT) AS below,
               CAST(SUM(h) OVER () AS BIGINT) AS n
        FROM vg
    ),
    scored AS (
        SELECT v, h, n,
               round(pow({_acklam_sql(
                   '((2 * below + h + 1) / 2.0) / (n + 1.0)')}, 2),
                   10) AS s
        FROM cum
    ),
    fold AS (
        SELECT CAST(MAX(sc.n) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN c.g = 1 THEN c.c ELSE 0 END)
                    AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN c.g = 1
                        THEN CAST(round(c.c * sc.s, 6)
                                  AS DECIMAL(38,6)) END)
                    AS DOUBLE) AS t1,
               CAST(SUM(CAST(round(c.c * sc.s, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS st,
               CAST(SUM(CAST(round(c.c * sc.s * sc.s, 6)
                             AS DECIMAL(38,6))) AS DOUBLE) AS st2
        FROM cells c JOIN scored sc ON c.v = sc.v
    ),
    stat AS (
        SELECT n, n1, t1,
               n1 * st / n AS et,
               CAST(n1 AS DOUBLE) * (n - n1) / (n * (n - 1.0))
               * (st2 - st * st / n) AS vt
        FROM fold
    )
    SELECT n AS n_orders, n1 AS n_fri_sat,
           round(t1, 4) + 0.0 AS klotz_t,
           round(et, 4) + 0.0 AS e_t,
           round((t1 - et) / sqrt(vt), 6) + 0.0 AS z_klotz
    FROM stat
    """,
)
def klotz_scale_test(spark, sf_dir):
    """Klotz two-sample SCALE test (Fri/Sat vs Sun-Thu order values):
    T = sum over the Fri/Sat group of SQUARED normal scores
    [Phi^-1(midrank/(n+1))]^2, with the exact permutation moments
    E = n1 sbar and Var = n1 n2 (sum s^2 - n sbar^2)/(n(n-1)) — the
    locally-most-powerful scale test under normality, sharpening
    the rank-based `siegel_tukey_scale` / `mood_scale_ranks` /
    `ansari_bradley_scale` family exactly as van der Waerden
    sharpens Kruskal-Wallis; the squared-Acklam scores weight the
    TAILS, where scale differences live.

    Exactness: the same cents-grid midrank machinery; squared
    scores round at 10 dp; the three folds carry 6-dp rounded
    products through DECIMAL(38,6); z is a terminal ratio. Plan:
    one value-grid rollup, one cumulative, one fold."""
    o = t(spark, sf_dir, "orders")
    pts = o.select(
        F.when(
            (
                F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
                + 4
            ).cast("bigint")
            % 7
            >= 5,
            1,
        )
        .otherwise(0)
        .alias("g"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v"),
    )
    cells = pts.groupBy("v", "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    vg = cells.groupBy("v").agg(F.sum("c").cast("bigint").alias("h"))
    cum = vg.select(
        "v",
        "h",
        (
            F.sum("h").over(
                Window.orderBy("v").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            - F.col("h")
        )
        .cast("bigint")
        .alias("below"),
        F.sum("h")
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("n"),
    )
    raw = _acklam_col(
        ((2 * F.col("below") + F.col("h") + 1) / 2.0)
        / (F.col("n") + 1.0)
    )
    scored = cum.select(
        "v", "h", "n", F.round(raw * raw, 10).alias("s")
    )
    j = cells.join(scored.select("v", "s", "n"), "v")
    fold = j.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(F.when(F.col("g") == 1, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(
            F.when(
                F.col("g") == 1,
                F.round(F.col("c") * F.col("s"), 6).cast(
                    "decimal(38,6)"
                ),
            )
        )
        .cast("double")
        .alias("t1"),
        F.sum(
            F.round(F.col("c") * F.col("s"), 6).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("st"),
        F.sum(
            F.round(F.col("c") * F.col("s") * F.col("s"), 6).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("st2"),
    )
    n = F.col("n")
    n1 = F.col("n1")
    et = n1 * F.col("st") / n
    vt = (
        n1.cast("double")
        * (n - n1)
        / (n * (n - 1.0))
        * (F.col("st2") - F.col("st") * F.col("st") / n)
    )
    return fold.select(
        n.alias("n_orders"),
        n1.alias("n_fri_sat"),
        (F.round("t1", 4) + 0.0).alias("klotz_t"),
        (F.round(et, 4) + 0.0).alias("e_t"),
        (
            F.round((F.col("t1") - et) / F.sqrt(vt), 6) + 0.0
        ).alias("z_klotz"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "van_der_waerden_test": (
            "cumulative midrank pass over the cents value grid "
            "(price-domain-bounded — the ansari_bradley_scale class)"
        ),
        "klotz_scale_test": (
            "the same cents-grid cumulative midrank pass "
            "(ansari_bradley_scale class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Fligner-Killeen k-sample scale test across priorities
# --------------------------------------------------------------------------
@register(
    "fligner_killeen_scale",
    oracle=f"""
    WITH pts AS (
        SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS g,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    gg AS (
        SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c
        FROM pts GROUP BY g, v
    ),
    gcum AS (
        SELECT g, v,
               SUM(c) OVER (PARTITION BY g ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS cc,
               SUM(c) OVER (PARTITION BY g) AS ng
        FROM gg
    ),
    med AS (
        SELECT g, CAST(MIN(v) AS BIGINT) AS med
        FROM gcum WHERE 2 * cc >= ng GROUP BY g
    ),
    devs AS (
        SELECT p.g, abs(p.v - m.med) AS w
        FROM pts p JOIN med m ON p.g = m.g
    ),
    cells AS (
        SELECT w, g, CAST(COUNT(*) AS BIGINT) AS c
        FROM devs GROUP BY w, g
    ),
    wg AS (
        SELECT w, CAST(SUM(c) AS BIGINT) AS h FROM cells GROUP BY w
    ),
    cum AS (
        SELECT w, h,
               CAST(SUM(h) OVER (ORDER BY w ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) - h AS BIGINT) AS below,
               CAST(SUM(h) OVER () AS BIGINT) AS n
        FROM wg
    ),
    scored AS (
        SELECT w, h, n,
               round({_acklam_sql(
                   '0.5 + ((2 * below + h + 1) / 2.0)'
                   ' / (2.0 * (n + 1.0))')}, 10) AS a
        FROM cum
    ),
    grp AS (
        SELECT c.g,
               CAST(SUM(c.c) AS BIGINT) AS nj,
               CAST(SUM(CAST(round(c.c * s.a, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS aj
        FROM cells c JOIN scored s ON c.w = s.w
        GROUP BY c.g
    ),
    tot AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(CAST(round(h * a, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS sa,
               CAST(SUM(CAST(round(h * a * a, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS saa
        FROM scored
    ),
    stat AS (
        SELECT tot.n,
               SUM(round(nj * pow(aj / nj - tot.sa / tot.n, 2), 9))
               / ((tot.saa - tot.sa * tot.sa / tot.n) / (tot.n - 1))
                   AS x2
        FROM grp, tot GROUP BY tot.n, tot.sa, tot.saa
    )
    SELECT n AS n_orders,
           round(x2, 6) + 0.0 AS fk_chi2,
           CAST(4 AS BIGINT) AS dof,
           round((exp(ln(x2 / 4.0) / 3.0)
                  - (1.0 - 2.0 / 36.0)) / sqrt(2.0 / 36.0), 6) + 0.0
               AS z_wilson_hilferty
    FROM stat
    """,
)
def fligner_killeen_scale(spark, sf_dir):
    """Fligner-Killeen k-sample SCALE test across the five priorities
    — the variance-equality test of record (R's var.test default for
    k groups) because it is the most ROBUST to non-normality of the
    classical scale family: rank the absolute deviations |x - group
    median| (exact lower medians per group), score them with the
    folded normal scores Phi^-1(1/2 + r/(2(n+1))) (the Acklam
    device), and chi-square the group mean scores — the omnibus
    companion to the pairwise `levene_brown_forsythe` /
    `bartlett_variance_test` (Bartlett dies under heavy tails;
    Levene loses power; FK holds both ends).

    Exactness: group medians are exact grid elements; |dev|
    midranks x2 are exact integers on the deviation grid (cents
    domain); scores round at 10 dp, folds carry 6-dp rounded
    products through DECIMAL(38,6); X^2 is a terminal ratio with
    the Wilson-Hilferty z beside it. Plan: per-group grid
    cumulative (partitioned), one pooled deviation-grid cumulative,
    one 5-group fold."""
    o = t(spark, sf_dir, "orders")
    pts = o.select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("g"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v"),
    )
    # r19: the per-group and pooled cumulatives rode |groups|-task and
    # single-task windows over DATA-GRAIN grids (the order-price cents
    # domain and its deviation domain both grow ~10x per SF decade
    # until saturation); both now ride exact_cumulative, and the
    # deviation-grid persist is dropped (its consumers read the
    # reused exchanges instead of a data-grain cache). Identical
    # exact integers.
    gg = pts.groupBy("g", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    gacc, _ = exact_cumulative(gg, ("v",), {"pn": F.sum("c")}, keys=("g",))
    gcum = gacc.select(
        "g",
        "v",
        F.col("cum_pn").alias("cc"),
        F.col("tot_pn").alias("ng"),
    )
    med = (
        gcum.where(2 * F.col("cc") >= F.col("ng"))
        .groupBy("g")
        .agg(F.min("v").cast("bigint").alias("med"))
    )
    devs = pts.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("v") - F.col("med")).alias("w")
    )
    cells = devs.groupBy("w", "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wg = cells.groupBy("w").agg(F.sum("c").cast("bigint").alias("h"))
    wacc, _ = exact_cumulative(wg, ("w",), {"ph": F.sum("h")})
    cum = wacc.select(
        "w",
        "h",
        (F.col("cum_ph") - F.col("h")).cast("bigint").alias("below"),
        F.col("tot_ph").cast("bigint").alias("n"),
    )
    scored = cum.select(
        "w",
        "h",
        "n",
        F.round(
            _acklam_col(
                0.5
                + ((2 * F.col("below") + F.col("h") + 1) / 2.0)
                / (2.0 * (F.col("n") + 1.0))
            ),
            10,
        ).alias("a"),
    )
    grp = (
        cells.join(scored.select("w", "a"), "w")
        .groupBy("g")
        .agg(
            F.sum("c").cast("bigint").alias("nj"),
            F.sum(
                F.round(F.col("c") * F.col("a"), 6).cast(
                    "decimal(38,6)"
                )
            )
            .cast("double")
            .alias("aj"),
        )
    )
    tot = scored.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(
            F.round(F.col("h") * F.col("a"), 6).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("sa"),
        F.sum(
            F.round(F.col("h") * F.col("a") * F.col("a"), 6).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("saa"),
    )
    stat = (
        grp.crossJoin(F.broadcast(tot))
        .groupBy("n", "sa", "saa")
        .agg(
            (
                F.sum(
                    F.round(
                        F.col("nj")
                        * F.pow(
                            F.col("aj") / F.col("nj")
                            - F.col("sa") / F.col("n"),
                            2,
                        ),
                        9,
                    )
                )
                / (
                    (
                        F.col("saa")
                        - F.col("sa") * F.col("sa") / F.col("n")
                    )
                    / (F.col("n") - 1)
                )
            ).alias("x2")
        )
    )
    x2 = F.col("x2")
    wh = (
        F.exp(F.log(x2 / 4.0) / 3.0) - (1.0 - 2.0 / 36.0)
    ) / F.sqrt(F.lit(2.0 / 36.0))
    return stat.select(
        F.col("n").alias("n_orders"),
        (F.round(x2, 6) + 0.0).alias("fk_chi2"),
        F.lit(4).cast("bigint").alias("dof"),
        (F.round(wh, 6) + 0.0).alias("z_wilson_hilferty"),
    )


# --------------------------------------------------------------------------
# Hodges-Ajne half-circle test of hour-of-day uniformity
# --------------------------------------------------------------------------
@register(
    "hodges_ajne_circular",
    oracle="""
    WITH hh AS (
        SELECT CAST(epoch_us(ts) // 3600000000 % 24 AS BIGINT) AS hr,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    ),
    grid AS (
        SELECT CAST(k.g AS BIGINT) AS k, CAST(j.g AS BIGINT) AS j
        FROM UNNEST(range(0, 24)) k(g), UNNEST(range(0, 12)) j(g)
    ),
    halves AS (
        SELECT g.k,
               CAST(SUM(COALESCE(h.c, 0)) AS BIGINT) AS half
        FROM grid g LEFT JOIN hh h ON h.hr = (g.k + g.j) % 24
        GROUP BY g.k
    ),
    n_ AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM hh),
    mm AS (
        SELECT k,
               CAST(LEAST(half, n_.n - half) AS BIGINT) AS m
        FROM halves, n_
    ),
    best AS (SELECT k AS kstar, m FROM mm ORDER BY m ASC, k ASC
             LIMIT 1)
    SELECT n_.n AS n_purchases,
           best.m AS m_min_halfplane,
           best.kstar AS rotation_hour,
           round((n_.n - 2.0 * best.m) / sqrt(n_.n * 1.0), 6) + 0.0
               AS z_hodges_ajne
    FROM best, n_
    """,
)
def hodges_ajne_circular(spark, sf_dir):
    """Hodges-Ajne half-plane test of hour-of-day uniformity for
    purchases: m = the minimum, over all 24 half-circle rotations,
    of the smaller side's count — a perfectly uniform clock leaves
    every half-circle near n/2; concentration ANYWHERE drives m
    down. The sign-test of circular statistics: assumption-free
    where `rayleigh_circular_hours` (resultant length) has power
    only against UNIMODAL departure — a bimodal 9am/9pm clock fools
    Rayleigh but not Hodges-Ajne. Emits the achieving rotation and
    the (n-2m)/sqrt(n) normal deviate as the readout.

    Exactness: half-circle counts are exact BIGINTs from the
    24x12 modular grid join (bounded); m is a total-order top-1
    (min m, then min rotation). Plan: one filtered rollup to 24
    hours, one 288-row grid join, one top-1."""
    e = t(spark, sf_dir, "events")
    hh = (
        e.where(F.col("event_type") == "purchase")
        .groupBy(
            (F.floor(F.unix_micros("ts") / 3_600_000_000) % 24)
            .cast("bigint")
            .alias("hr")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    ks = spark.range(24).select(F.col("id").cast("bigint").alias("k"))
    js = spark.range(12).select(F.col("id").cast("bigint").alias("j"))
    grid = ks.crossJoin(js).select(
        "k", ((F.col("k") + F.col("j")) % 24).alias("hr")
    )
    halves = (
        grid.join(F.broadcast(hh), "hr", "left")
        .groupBy("k")
        .agg(
            F.sum(F.coalesce("c", F.lit(0))).cast("bigint").alias("half")
        )
    )
    n_ = hh.agg(F.sum("c").cast("bigint").alias("n"))
    mm = halves.crossJoin(F.broadcast(n_)).select(
        "k",
        F.least(F.col("half"), F.col("n") - F.col("half"))
        .cast("bigint")
        .alias("m"),
    )
    best = (
        mm.orderBy(F.col("m").asc(), F.col("k").asc())
        .limit(1)
        .select(F.col("k").alias("kstar"), "m")
    )
    return best.crossJoin(F.broadcast(n_)).select(
        F.col("n").alias("n_purchases"),
        F.col("m").alias("m_min_halfplane"),
        F.col("kstar").alias("rotation_hour"),
        (
            F.round(
                (F.col("n") - 2.0 * F.col("m"))
                / F.sqrt(F.col("n") * 1.0),
                6,
            )
            + 0.0
        ).alias("z_hodges_ajne"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "fligner_killeen_scale": (
            "INFO: no single-partition window since the r19 grain "
            "triage — both the pooled |deviation|-grid midrank "
            "cumulative and the per-group median cumulatives ride "
            "the value-bucket device (the deviation grid is "
            "data-grain until the cents domain saturates, and the "
            "g-partitioned windows were a 5-task ceiling); note kept "
            "for the history, excluded from the effective allowlist"
        ),
    }
)


# --------------------------------------------------------------------------
# Geary's kurtosis ratio test of normality
# --------------------------------------------------------------------------
@register(
    "geary_kurtosis_ratio",
    oracle="""
    WITH pts AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s,
               CAST(SUM(CAST(v AS DECIMAL(19,0)) * v)
                    AS DECIMAL(38,0)) AS ss
        FROM pts
    ),
    dev AS (
        SELECT CAST(SUM(CAST(round(
                   abs(v - CAST(m.s AS DOUBLE) / m.n), 4)
                   AS DECIMAL(38,4))) AS DOUBLE) AS sad
        FROM pts, m
    ),
    stat AS (
        SELECT m.n,
               (dev.sad / m.n)
               / sqrt((CAST(m.ss AS DOUBLE)
                       - CAST(m.s AS DOUBLE) * m.s / m.n) / m.n)
                   AS a
        FROM m, dev
    )
    SELECT n AS n_orders,
           round(a, 8) + 0.0 AS geary_a,
           CAST(0.79788456 AS DOUBLE) AS e_a_normal,
           round((a - 0.7978845608028654)
                 / (0.2660879594339754 / sqrt(n * 1.0)), 6) + 0.0
               AS z_geary
    FROM stat
    """,
)
def geary_kurtosis_ratio(spark, sf_dir):
    """Geary's a-ratio normality test on order values: a = (mean
    absolute deviation)/(population SD), which equals sqrt(2/pi) =
    0.79788 under normality — BELOW it for heavy tails (MAD grows
    slower than SD under outliers), ABOVE it for light. The
    L1-vs-L2 normality angle that the moment route
    (`dagostino_k2_panel`, `jarque_bera_normality`) and the
    ECDF/PPCC routes (`lilliefors_normal_fit`,
    `shapiro_francia_ppcc`) both miss: Geary's a is the most
    POWERFUL of the classical tests against symmetric kurtosis
    departures. z uses the classical asymptotic SD 0.26609/sqrt(n)
    (both constants literal).

    Exactness: mean and SD fold from exact cents power sums; the
    absolute-deviation pass rounds each |v - mean| at 4 dp into a
    DECIMAL(38,4) fold (order-free); a and z are terminal trees.
    Plan: two scans (moments, then deviations vs the broadcast
    mean), one fold each — no windows."""
    o = t(spark, sf_dir, "orders")
    pts = o.select(
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v")
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v").cast("decimal(19,0)") * F.col("v"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    dev = pts.crossJoin(F.broadcast(m)).agg(
        F.sum(
            F.round(
                F.abs(
                    F.col("v") - F.col("s").cast("double") / F.col("n")
                ),
                4,
            ).cast("decimal(38,4)")
        )
        .cast("double")
        .alias("sad"),
        F.max("n").alias("n"),
        F.max("s").alias("s"),
        F.max("ss").alias("ss"),
    )
    n = F.col("n")
    a = (F.col("sad") / n) / F.sqrt(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s") / n
        )
        / n
    )
    stat = dev.select(n.alias("n"), a.alias("a"))
    return stat.select(
        F.col("n").alias("n_orders"),
        (F.round("a", 8) + 0.0).alias("geary_a"),
        F.lit(0.79788456).cast("double").alias("e_a_normal"),
        (
            F.round(
                (F.col("a") - 0.7978845608028654)
                / (0.2660879594339754 / F.sqrt(F.col("n") * 1.0)),
                6,
            )
            + 0.0
        ).alias("z_geary"),
    )


# --------------------------------------------------------------------------
# Palma ratio and quintile income-share panel on customer spend
# --------------------------------------------------------------------------
@register(
    "palma_quintile_shares",
    oracle="""
    WITH spend AS (
        SELECT o_custkey AS u,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                             * 100 AS BIGINT)) AS BIGINT) AS m
        FROM orders GROUP BY o_custkey
    ),
    grid AS (
        SELECT m AS v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(m) AS BIGINT) AS tot_v
        FROM spend GROUP BY m
    ),
    cum AS (
        SELECT v, c, tot_v,
               CAST(SUM(c) OVER w AS BIGINT) AS cc,
               CAST(SUM(tot_v) OVER w AS BIGINT) AS cv,
               CAST(SUM(c) OVER () AS BIGINT) AS n,
               CAST(SUM(tot_v) OVER () AS BIGINT) AS total
        FROM grid
        WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ),
    marks AS (
        SELECT
            CAST(MAX(CASE WHEN 10 * cc <= 4 * n THEN cv ELSE 0 END)
                 AS BIGINT) AS bot40,
            CAST(MAX(CASE WHEN 10 * cc <= 9 * n THEN cv ELSE 0 END)
                 AS BIGINT) AS bot90,
            CAST(MAX(CASE WHEN 5 * cc <= 1 * n THEN cv ELSE 0 END)
                 AS BIGINT) AS bot20,
            CAST(MAX(CASE WHEN 5 * cc <= 4 * n THEN cv ELSE 0 END)
                 AS BIGINT) AS bot80,
            CAST(MAX(total) AS BIGINT) AS total,
            CAST(MAX(n) AS BIGINT) AS n
        FROM cum
    )
    SELECT n AS n_customers,
           round(CAST(bot40 AS DOUBLE) / total, 8) + 0.0
               AS share_bottom40,
           round(CAST(total - bot90 AS DOUBLE) / total, 8) + 0.0
               AS share_top10,
           round(CAST(total - bot90 AS DOUBLE) / bot40, 6) + 0.0
               AS palma_ratio,
           round(CAST(total - bot80 AS DOUBLE)
                 / NULLIF(bot20, 0), 6) + 0.0 AS s80_s20_ratio
    FROM marks
    """,
)
def palma_quintile_shares(spark, sf_dir):
    """Palma ratio and quintile-share inequality panel on customer
    lifetime spend: top-10% share / bottom-40% share (Palma) and
    the S80/S20 quintile ratio — the two DISTRIBUTION-TAIL
    inequality readouts policy reporting actually uses, where the
    registry's Gini/Lorenz/Atkinson/Theil family compresses the
    whole curve into one number (two spend distributions with one
    Gini can have very different Palmas; the panel disambiguates).
    Customers on a decile boundary resolve by the WHOLE-GRID-CELL
    rule (a spend value is in the bottom-k% iff its full cumulative
    head count fits), the deterministic tie treatment.

    Exactness: per-customer spend and all cumulative counts/values
    are exact BIGINTs on the spend-cents grid; shares and ratios
    are terminal trees of exact integers. Plan: one customer
    rollup, one grid cumulative, one fold."""
    o = t(spark, sf_dir, "orders")
    spend = o.groupBy(F.col("o_custkey").alias("u")).agg(
        F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("m")
    )
    grid = spend.groupBy(F.col("m").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("m").cast("bigint").alias("tot_v"),
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grid.select(
        "v",
        F.sum("c").over(w).cast("bigint").alias("cc"),
        F.sum("tot_v").over(w).cast("bigint").alias("cv"),
        F.sum("c").over(Window.partitionBy()).cast("bigint").alias("n"),
        F.sum("tot_v")
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("total"),
    )
    marks = cum.agg(
        F.max(
            F.when(10 * F.col("cc") <= 4 * F.col("n"), F.col("cv")).otherwise(0)
        )
        .cast("bigint")
        .alias("bot40"),
        F.max(
            F.when(10 * F.col("cc") <= 9 * F.col("n"), F.col("cv")).otherwise(0)
        )
        .cast("bigint")
        .alias("bot90"),
        F.max(
            F.when(5 * F.col("cc") <= 1 * F.col("n"), F.col("cv")).otherwise(0)
        )
        .cast("bigint")
        .alias("bot20"),
        F.max(
            F.when(5 * F.col("cc") <= 4 * F.col("n"), F.col("cv")).otherwise(0)
        )
        .cast("bigint")
        .alias("bot80"),
        F.max("total").cast("bigint").alias("total"),
        F.max("n").cast("bigint").alias("n"),
    )
    total = F.col("total")
    return marks.select(
        F.col("n").alias("n_customers"),
        (
            F.round(F.col("bot40").cast("double") / total, 8) + 0.0
        ).alias("share_bottom40"),
        (
            F.round(
                (total - F.col("bot90")).cast("double") / total, 8
            )
            + 0.0
        ).alias("share_top10"),
        (
            F.round(
                (total - F.col("bot90")).cast("double")
                / F.col("bot40"),
                6,
            )
            + 0.0
        ).alias("palma_ratio"),
        (
            F.round(
                (total - F.col("bot80")).cast("double")
                / F.nullif(F.col("bot20"), F.lit(0)),
                6,
            )
            + 0.0
        ).alias("s80_s20_ratio"),
    )


# --------------------------------------------------------------------------
# Ramsey-Rothman time-reversibility statistic on daily revenue
# --------------------------------------------------------------------------
@register(
    "time_reversibility_trev",
    oracle="""
    WITH days AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    span AS (SELECT CAST(min(d) AS BIGINT) AS d0,
                    CAST(max(d) AS BIGINT) AS d1 FROM days),
    fill AS (
        SELECT CAST(u.g AS BIGINT) AS d, COALESCE(days.y, 0) AS y
        FROM span, LATERAL UNNEST(range(span.d0, span.d1 + 1)) AS u(g)
        LEFT JOIN days ON u.g = days.d
    ),
    sc AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s,
               CAST(SUM(CAST(y AS DECIMAL(19,0)) * y)
                    AS DECIMAL(38,0)) AS ss
        FROM fill
    ),
    ks AS (SELECT CAST(u.g AS BIGINT) AS k
           FROM LATERAL UNNEST(range(1, 6)) AS u(g)),
    lagd AS (
        SELECT ks.k,
               round((a.y - CAST(sc.s AS DOUBLE) / sc.n) / 100000.0,
                     8) AS ya,
               round((b.y - CAST(sc.s AS DOUBLE) / sc.n) / 100000.0,
                     8) AS yb
        FROM fill a JOIN ks ON TRUE
        JOIN fill b ON a.d = b.d + ks.k, sc
    ),
    fold AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(CAST(round(ya * ya * yb - ya * yb * yb, 8)
                             AS DECIMAL(38,8))) AS DOUBLE) AS num,
               CAST(SUM(CAST(round(ya * yb, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS cross_
        FROM lagd GROUP BY k
    ),
    sc2 AS (
        SELECT sqrt((CAST(ss AS DOUBLE)
                     - CAST(s AS DOUBLE) * s / n) / n) / 100000.0
                   AS sd
        FROM sc
    )
    SELECT k AS lag_days, m AS n_pairs,
           round(num / m / (sc2.sd * sc2.sd * sc2.sd), 6) + 0.0
               AS trev_normalized,
           round(cross_ / m / (sc2.sd * sc2.sd), 6) + 0.0
               AS acf_at_lag
    FROM fold, sc2 ORDER BY k
    """,
)
def time_reversibility_trev(spark, sf_dir):
    """Ramsey-Rothman TIME-REVERSIBILITY statistic on daily revenue
    at lags 1..5: TREV(k) = E[y_t^2 y_(t-k) - y_t y_(t-k)^2] / sd^3
    — identically ZERO for any time-reversible process (all
    Gaussian linear models are reversible), so TREV != 0 is direct
    evidence of NONLINEAR dynamics or asymmetric cycles (sharp
    rises with slow decays), which no autocorrelation can see: the
    registry's whole ACF/periodogram panel is blind to the arrow of
    time by construction. The matched-lag ACF ships beside it to
    show exactly that contrast.

    Exactness: day means/SDs from exact cents power sums;
    deviations round at 8 dp in k$; the cubic cross terms round at
    8 dp into DECIMAL(38,8) folds per lag (order-free). Plan: one
    day rollup, bounded grid fill, one 5-lag equi-join, one grouped
    fold."""
    o = t(spark, sf_dir, "orders")
    days = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    span = days.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = span.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("d")
    )
    fill = grid.join(days, "d", "left").select(
        "d", F.coalesce("y", F.lit(0)).cast("bigint").alias("y")
    ).persist()
    sc = fill.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    ks = spark.range(1, 6).select(F.col("id").cast("bigint").alias("k"))
    a = fill.select("d", F.col("y").alias("ya0"))
    b = fill.select(F.col("d").alias("bd"), F.col("y").alias("yb0"))
    lagd = (
        a.crossJoin(F.broadcast(ks))
        .withColumn("bd", F.col("d") - F.col("k"))
        .join(b, "bd")
        .crossJoin(F.broadcast(sc))
        .select(
            "k",
            F.round(
                (F.col("ya0") - F.col("s").cast("double") / F.col("n"))
                / 100000.0,
                8,
            ).alias("ya"),
            F.round(
                (F.col("yb0") - F.col("s").cast("double") / F.col("n"))
                / 100000.0,
                8,
            ).alias("yb"),
        )
    )
    fold = lagd.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum(
            F.round(
                F.col("ya") * F.col("ya") * F.col("yb")
                - F.col("ya") * F.col("yb") * F.col("yb"),
                8,
            ).cast("decimal(38,8)")
        )
        .cast("double")
        .alias("num"),
        F.sum(
            F.round(F.col("ya") * F.col("yb"), 8).cast("decimal(38,8)")
        )
        .cast("double")
        .alias("cross_"),
    )
    sc2 = sc.select(
        (
            F.sqrt(
                (
                    F.col("ss").cast("double")
                    - F.col("s").cast("double") * F.col("s") / F.col("n")
                )
                / F.col("n")
            )
            / 100000.0
        ).alias("sd")
    )
    sd = F.col("sd")
    return fold.crossJoin(F.broadcast(sc2)).select(
        F.col("k").alias("lag_days"),
        F.col("m").alias("n_pairs"),
        (
            F.round(F.col("num") / F.col("m") / (sd * sd * sd), 6)
            + 0.0
        ).alias("trev_normalized"),
        (
            F.round(F.col("cross_") / F.col("m") / (sd * sd), 6) + 0.0
        ).alias("acf_at_lag"),
    ).orderBy("lag_days")


PLAN_AUDIT_NOTES.update(
    {
        "palma_quintile_shares": (
            "one cumulative over the spend-cents grid "
            "(domain-bounded — the lorenz/gini class)"
        ),
    }
)


# --------------------------------------------------------------------------
# German tank (serial-number) estimate of the user-id space
# --------------------------------------------------------------------------
@register(
    "german_tank_estimate",
    oracle="""
    WITH ids AS (SELECT DISTINCT user_id FROM events),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(MAX(user_id) AS BIGINT) AS m
        FROM ids
    )
    SELECT k AS k_observed, m AS max_serial,
           round(m * (1.0 + 1.0 / k) - 1.0, 4) + 0.0 AS mvue_n,
           round((m - 1.0) * (k - 1.0) / (k - 2.0), 4) + 0.0
               AS bayes_mean_n,
           round(m * exp(-ln(0.05) / k), 4) + 0.0 AS upper95_n
    FROM s
    """,
)
def german_tank_estimate(spark, sf_dir):
    """German tank (serial-number) estimation of the user-id SPACE
    from the ids actually observed in events: the frequentist MVUE
    N = m(1 + 1/k) - 1 (max + mean gap), the Bayesian posterior
    mean (m-1)(k-1)/(k-2) under the improper uniform prior, and the
    exact 95% upper bound m (1/0.05)^(1/k) from P(max <= m) =
    (m/N)^k — the estimate-the-population-from-identifiers trick
    (tanks, invoices, IDs) that complements the capture-recapture
    pair (`capture_recapture_lincoln`, `schnabel_capture_recapture`
    estimate ACTIVE population from overlap; this estimates the
    ALLOCATED id space from magnitudes — the two disagreeing
    measures dormancy).

    Exactness: k and m are exact BIGINTs; all three estimators are
    terminal double trees (the bound's k-th root is exp(-ln a / k),
    libm-shared). Plan: one distinct rollup, one fold — nothing
    else."""
    e = t(spark, sf_dir, "events")
    s = e.select("user_id").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.max("user_id").cast("bigint").alias("m"),
    )
    k, m = F.col("k"), F.col("m")
    return s.select(
        k.alias("k_observed"),
        m.alias("max_serial"),
        (F.round(m * (1.0 + 1.0 / k) - 1.0, 4) + 0.0).alias("mvue_n"),
        (
            F.round((m - 1.0) * (k - 1.0) / (k - 2.0), 4) + 0.0
        ).alias("bayes_mean_n"),
        (
            F.round(m * F.exp(-F.log(F.lit(0.05)) / k), 4) + 0.0
        ).alias("upper95_n"),
    )


# --------------------------------------------------------------------------
# Longest run of above-median revenue days (gaps-and-islands)
# --------------------------------------------------------------------------
@register(
    "longest_run_above_median",
    oracle="""
    WITH days AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    grid AS (
        SELECT y AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM days GROUP BY y
    ),
    cum AS (
        SELECT v,
               SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW) AS cc,
               SUM(c) OVER () AS n
        FROM grid
    ),
    med AS (SELECT CAST(MIN(v) AS BIGINT) AS med FROM cum
            WHERE 2 * cc >= n),
    above AS (
        SELECT d,
               CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS rn
        FROM days, med WHERE days.y > med.med
    ),
    islands AS (
        SELECT d - rn AS island, CAST(COUNT(*) AS BIGINT) AS len
        FROM above GROUP BY d - rn
    ),
    fold AS (
        SELECT CAST(MAX(len) AS BIGINT) AS maxrun,
               CAST(COUNT(*) AS BIGINT) AS n_runs,
               CAST(SUM(len) AS BIGINT) AS n_above
        FROM islands
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM days)
    SELECT nn.n_days, fold.n_above, fold.n_runs,
           fold.maxrun AS longest_run,
           round(ln(nn.n_days * 1.0) / 0.6931471805599453, 4) + 0.0
               AS log2_n_reference
    FROM fold, nn
    """,
)
def longest_run_above_median(spark, sf_dir):
    """Longest streak of ABOVE-MEDIAN revenue days, by the gaps-and-
    islands device (day - row_number groups consecutive runs): under
    independence the longest run in n fair trials concentrates
    tightly around log2(n), so a streak far above the emitted
    log2(n) reference reads as regime persistence — the extreme-run
    companion to `runs_test_randomness` (which counts ALL runs; a
    few long streaks can hide in a normal total count) and
    `wald_wolfowitz_runs`. The median split uses the exact lower
    median of the daily-revenue grid.

    Exactness: the median is an exact grid element; islands are
    exact integer arithmetic on the bounded day frame; outputs are
    exact counts plus one literal-log reference. Plan: one day
    rollup, one value-grid cumulative, one row_number over the
    bounded above-median day frame, one fold."""
    o = t(spark, sf_dir, "orders")
    days = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    ).persist()
    grid = days.groupBy(F.col("y").alias("v")).agg(
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
        F.min("v").cast("bigint").alias("med")
    )
    above = (
        days.crossJoin(F.broadcast(med))
        .where(F.col("y") > F.col("med"))
        .select(
            "d",
            F.row_number()
            .over(Window.orderBy("d"))
            .cast("bigint")
            .alias("rn"),
        )
    )
    islands = above.groupBy(
        (F.col("d") - F.col("rn")).alias("island")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("len"))
    fold = islands.agg(
        F.max("len").cast("bigint").alias("longest_run"),
        F.count(F.lit(1)).cast("bigint").alias("n_runs"),
        F.sum("len").cast("bigint").alias("n_above"),
    )
    nn = days.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return fold.crossJoin(F.broadcast(nn)).select(
        "n_days",
        "n_above",
        "n_runs",
        "longest_run",
        (
            F.round(
                F.log(F.col("n_days") * 1.0) / 0.6931471805599453, 4
            )
            + 0.0
        ).alias("log2_n_reference"),
    )


# --------------------------------------------------------------------------
# PRESS / predicted R^2 for the daily revenue trend
# --------------------------------------------------------------------------
@register(
    "press_predicted_r2",
    oracle="""
    WITH days AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    span AS (SELECT CAST(min(d) AS BIGINT) AS d0,
                    CAST(max(d) AS BIGINT) AS d1 FROM days),
    fill AS (
        SELECT CAST(u.g - span.d0 AS BIGINT) AS i,
               COALESCE(days.y, 0) AS y
        FROM span, LATERAL UNNEST(range(span.d0, span.d1 + 1)) AS u(g)
        LEFT JOIN days ON u.g = days.d
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(i) AS BIGINT) AS s1,
               CAST(SUM(i * i) AS BIGINT) AS s2,
               CAST(SUM(y) AS BIGINT) AS t0,
               CAST(SUM(CAST(i AS DECIMAL(19,0)) * y)
                    AS DECIMAL(38,0)) AS t1,
               CAST(SUM(CAST(y AS DECIMAL(19,0)) * y)
                    AS DECIMAL(38,0)) AS q
        FROM fill
    ),
    ols AS (
        SELECT n, s1, s2, t0, t1, q,
               round((n * CAST(t1 AS DOUBLE)
                      - CAST(s1 AS DOUBLE) * t0)
                     / (n * CAST(s2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * s1), 10) AS b1
        FROM mom
    ),
    ols2 AS (SELECT *, round((t0 - b1 * s1) / n, 10) AS b0 FROM ols),
    press AS (
        SELECT CAST(SUM(CAST(round(
                   pow((f.y - o.b0 - o.b1 * f.i)
                       / (1.0 - (1.0 / o.n
                          + pow(f.i - CAST(o.s1 AS DOUBLE) / o.n, 2)
                            / (CAST(o.s2 AS DOUBLE)
                               - CAST(o.s1 AS DOUBLE) * o.s1 / o.n))),
                       2) / 10000000000.0, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS pr
        FROM fill f, ols2 o
    )
    SELECT o.n AS n_days,
           round(1.0 - (CAST(o.q AS DOUBLE) - o.b0 * o.t0
                        - o.b1 * CAST(o.t1 AS DOUBLE))
                 / (CAST(o.q AS DOUBLE)
                    - CAST(o.t0 AS DOUBLE) * o.t0 / o.n), 8) + 0.0
               AS r2_ols,
           round(press.pr, 4) + 0.0 AS press_kusd2,
           round(1.0 - press.pr
                 / ((CAST(o.q AS DOUBLE)
                     - CAST(o.t0 AS DOUBLE) * o.t0 / o.n)
                    / 10000000000.0), 8) + 0.0 AS r2_predicted
    FROM ols2 o, press
    """,
)
def press_predicted_r2(spark, sf_dir):
    """PRESS (prediction sum of squares) and PREDICTED R^2 for the
    daily-revenue linear trend: each day's leave-one-out residual is
    the closed form e_i/(1 - h_i) with leverage h_i = 1/n +
    (i - ibar)^2/S_xx — no refitting — and R2_pred = 1 - PRESS/SST
    sits beside ordinary R^2 as the overfit detector: R^2 high with
    R2_pred collapsing is the regression-is-memorizing signature.
    Completes the trend-diagnostics family (`cooks_distance_trend`
    flags WHO is influential; PRESS prices what influence COSTS in
    out-of-sample terms).

    Exactness: stage-1 (b0, b1) round at 10 dp from exact moments
    (the ramsey_reset idiom); each LOO residual squared (in k$^2)
    rounds at 6 dp into a DECIMAL(38,6) fold; both R^2 are terminal
    ratios. Plan: one day rollup, bounded grid fill, one moment
    fold, one broadcast-fit residual pass."""
    o = t(spark, sf_dir, "orders")
    days = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    span = days.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = span.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("g"),
        F.col("d0"),
    ).select((F.col("g") - F.col("d0")).cast("bigint").alias("i"))
    dd = days.crossJoin(F.broadcast(span)).select(
        (F.col("d") - F.col("d0")).cast("bigint").alias("i"), "y"
    )
    fill = grid.join(dd, "i", "left").select(
        "i", F.coalesce("y", F.lit(0)).cast("bigint").alias("y")
    ).persist()
    i, y = F.col("i"), F.col("y")
    mom = fill.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(i).cast("bigint").alias("s1"),
        F.sum(i * i).cast("bigint").alias("s2"),
        F.sum(y).cast("bigint").alias("t0"),
        F.sum(i.cast("decimal(19,0)") * y)
        .cast("decimal(38,0)")
        .alias("t1"),
        F.sum(y.cast("decimal(19,0)") * y)
        .cast("decimal(38,0)")
        .alias("q"),
    )
    n = F.col("n")
    b1 = F.round(
        (n * F.col("t1").cast("double") - F.col("s1").cast("double") * F.col("t0"))
        / (n * F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1")),
        10,
    )
    ols = mom.select("*", b1.alias("b1"))
    ols2 = ols.select(
        "*", F.round((F.col("t0") - F.col("b1") * F.col("s1")) / n, 10).alias("b0")
    )
    jf = fill.crossJoin(F.broadcast(ols2))
    sxx = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n")
    )
    h = 1.0 / F.col("n") + F.pow(
        F.col("i") - F.col("s1").cast("double") / F.col("n"), 2
    ) / sxx
    loo = (F.col("y") - F.col("b0") - F.col("b1") * F.col("i")) / (
        1.0 - h
    )
    press = jf.agg(
        F.sum(
            F.round(F.pow(loo, 2) / 1e10, 6).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("pr")
    )
    sst = (
        F.col("q").cast("double")
        - F.col("t0").cast("double") * F.col("t0") / F.col("n")
    )
    ssr = (
        F.col("q").cast("double")
        - F.col("b0") * F.col("t0")
        - F.col("b1") * F.col("t1").cast("double")
    )
    return ols2.crossJoin(F.broadcast(press)).select(
        n.alias("n_days"),
        (F.round(1.0 - ssr / sst, 8) + 0.0).alias("r2_ols"),
        (F.round(F.col("pr"), 4) + 0.0).alias("press_kusd2"),
        (
            F.round(1.0 - F.col("pr") / (sst / 1e10), 8) + 0.0
        ).alias("r2_predicted"),
    )


# --------------------------------------------------------------------------
# Empirical-Bayes Gamma-Poisson shrinkage of nation purchase rates
# --------------------------------------------------------------------------
@register(
    "eb_gamma_poisson_rates",
    oracle="""
    WITH o2 AS (
        SELECT c.c_nationkey AS nk,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
    ),
    expo AS (
        SELECT CAST(max(epoch_us(o_orderdate)) // 86400000000
                    - min(epoch_us(o_orderdate)) // 86400000000 + 1
                    AS BIGINT) AS days
        FROM orders
    ),
    mv AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS g,
               CAST(SUM(k) AS BIGINT) AS s,
               CAST(SUM(CAST(k AS DECIMAL(19,0)) * k)
                    AS DECIMAL(38,0)) AS ss
        FROM o2
    ),
    ab AS (
        SELECT g, days,
               CAST(s AS DOUBLE) / g AS m,
               (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / g)
                   / (g - 1) AS v
        FROM mv, expo
    ),
    prior AS (
        SELECT g, days, m, v,
               round(CASE WHEN v > m THEN m * m / (v - m) END, 8)
                   AS alpha,
               round(CASE WHEN v > m THEN m / (v - m) END, 8)
                   AS beta
        FROM ab
    )
    SELECT o2.nk AS nationkey, o2.k AS n_orders,
           round(CAST(o2.k AS DOUBLE) / p.days, 6) + 0.0
               AS raw_rate_per_day,
           round((o2.k + p.alpha) / (1.0 + p.beta) / p.days, 6) + 0.0
               AS shrunk_rate_per_day,
           round(p.alpha, 4) + 0.0 AS prior_alpha,
           round(p.beta, 4) + 0.0 AS prior_beta
    FROM o2, prior p ORDER BY nationkey
    """,
)
def eb_gamma_poisson_rates(spark, sf_dir):
    """Empirical-Bayes GAMMA-POISSON shrinkage of per-nation order
    counts: fit the Gamma prior by method of moments on the 25
    observed counts (alpha = m^2/(v-m), beta = m/(v-m), NULL when
    under-dispersed — no shrinkage target exists) and report each
    nation's posterior-mean rate (k + alpha)/(1 + beta) per
    exposure day — the COUNT-data member of the shrinkage trio the
    bank already carries: `james_stein_nation_means` (Gaussian),
    `eb_beta_binomial_shrinkage` (proportions), and now rates; small
    nations move toward the grand rate, big ones barely — the
    standard fix for per-segment rate league tables.

    Exactness: counts and the count power sums are exact
    (DECIMAL(19,0) widen); alpha/beta round at 8 dp before the
    posterior so both engines shrink with identical priors; rates
    are terminal ratios. Plan: one join rollup to 25 nations, one
    fold, one broadcast back — no windows."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    o2 = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    )
    expo = o.agg(
        (
            F.floor(F.max(F.unix_micros("o_orderdate")) / 86_400_000_000)
            - F.floor(
                F.min(F.unix_micros("o_orderdate")) / 86_400_000_000
            )
            + 1
        )
        .cast("bigint")
        .alias("days")
    )
    mv = o2.agg(
        F.count(F.lit(1)).cast("bigint").alias("g"),
        F.sum("k").cast("bigint").alias("s"),
        F.sum(F.col("k").cast("decimal(19,0)") * F.col("k"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    g = F.col("g")
    m = F.col("s").cast("double") / g
    v = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s") / g
    ) / (g - 1)
    prior = mv.crossJoin(F.broadcast(expo)).select(
        "days",
        F.round(F.when(v > m, m * m / (v - m)), 8).alias("alpha"),
        F.round(F.when(v > m, m / (v - m)), 8).alias("beta"),
    )
    return o2.crossJoin(F.broadcast(prior)).select(
        F.col("nk").alias("nationkey"),
        F.col("k").alias("n_orders"),
        (
            F.round(F.col("k").cast("double") / F.col("days"), 6) + 0.0
        ).alias("raw_rate_per_day"),
        (
            F.round(
                (F.col("k") + F.col("alpha"))
                / (1.0 + F.col("beta"))
                / F.col("days"),
                6,
            )
            + 0.0
        ).alias("shrunk_rate_per_day"),
        (F.round("alpha", 4) + 0.0).alias("prior_alpha"),
        (F.round("beta", 4) + 0.0).alias("prior_beta"),
    ).orderBy("nationkey")


PLAN_AUDIT_NOTES.update(
    {
        "longest_run_above_median": (
            "value-grid cumulative for the exact median + row_number "
            "islands over the above-median day frame (bounded domain "
            "— the moods_median / runs_test class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Honore / Sichel / Brunet lexical-richness panel on unigram tokens
# --------------------------------------------------------------------------
@register(
    "honore_sichel_richness",
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
               CAST(COUNT(*) AS BIGINT) AS v,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS v1,
               CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS v2
        FROM tf
    )
    SELECT n AS n_tokens, v AS vocab_size,
           v1 AS hapax_count, v2 AS dis_count,
           round(100.0 * ln(n * 1.0)
                 / (1.0 - CAST(v1 AS DOUBLE) / v), 4) + 0.0
               AS honore_h,
           round(CAST(v2 AS DOUBLE) / v, 8) + 0.0 AS sichel_s,
           round(exp(exp(-0.165 * ln(v * 1.0)) * ln(n * 1.0)), 4)
               + 0.0 AS brunet_w
    FROM fold
    """,
)
def honore_sichel_richness(spark, sf_dir):
    """Honore / Sichel / Brunet lexical-richness panel on whitespace
    unigrams over the document corpus: Honore's H = 100 ln N /
    (1 - V1/V) (driven by the HAPAX share — the open-vocabulary
    signal), Sichel's S = V2/V (dis-legomena share, famously stable
    across text sizes), and Brunet's W = N^(V^-0.165) (the
    length-insensitive richness constant) — three classical
    vocabulary-richness constants with DIFFERENT sample-size
    sensitivities, complementing `yule_k_lexical_richness` (repeat
    concentration) and `heaps_law_fit` (growth curve): five
    instruments, one vocabulary-health dashboard for corpus
    curation. Brunet's fractional power is exp(exp(-a ln V) ln N) —
    the shared-libm tree, no pow().

    Exactness: all four counts are exact BIGINTs from one token
    rollup; the three constants are terminal double trees. Plan:
    one explode + rollup, one frequency-of-frequencies fold."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(F.split("text", " ")).alias("w")
    ).where(F.col("w") != "")
    tf = tok.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    fold = tf.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("v1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("v2"),
    )
    n, v = F.col("n"), F.col("v")
    return fold.select(
        n.alias("n_tokens"),
        v.alias("vocab_size"),
        F.col("v1").alias("hapax_count"),
        F.col("v2").alias("dis_count"),
        (
            F.round(
                100.0
                * F.log(n * 1.0)
                / (1.0 - F.col("v1").cast("double") / v),
                4,
            )
            + 0.0
        ).alias("honore_h"),
        (
            F.round(F.col("v2").cast("double") / v, 8) + 0.0
        ).alias("sichel_s"),
        (
            F.round(
                F.exp(
                    F.exp(-0.165 * F.log(v * 1.0)) * F.log(n * 1.0)
                ),
                4,
            )
            + 0.0
        ).alias("brunet_w"),
    )


# --------------------------------------------------------------------------
# Embedding hubness: in-degree skew of the exact 5-NN graph
# --------------------------------------------------------------------------
from .ext_vectors import _dot, _dot_sql  # noqa: E402


@register(
    "embedding_hubness_skew",
    oracle=f"""
    WITH d AS (
        SELECT vec_id, embedding,
               sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
        FROM embeddings
    ),
    pairs AS (
        SELECT q.vec_id AS q_id, d.vec_id AS n_id,
               {_dot_sql('q.embedding', 'd.embedding')}
                   / (q.nrm * d.nrm) AS cosine
        FROM d q JOIN d ON q.vec_id <> d.vec_id
    ),
    top5 AS (
        SELECT q_id, n_id FROM (
            SELECT q_id, n_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                       ORDER BY cosine DESC, n_id ASC) AS r
            FROM pairs
        ) WHERE r <= 5
    ),
    indeg AS (
        SELECT d.vec_id,
               CAST(COUNT(t.q_id) AS BIGINT) AS k
        FROM d LEFT JOIN top5 t ON d.vec_id = t.n_id
        GROUP BY d.vec_id
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(k) AS BIGINT) AS s,
               CAST(SUM(k * k) AS BIGINT) AS s2,
               CAST(SUM(k * k * k) AS BIGINT) AS s3,
               CAST(MAX(k) AS BIGINT) AS mx,
               CAST(SUM(CASE WHEN k >= 10 THEN 1 ELSE 0 END)
                    AS BIGINT) AS hubs,
               CAST(SUM(CASE WHEN k = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS antihubs
        FROM indeg
    )
    SELECT n AS n_vectors, mx AS max_indegree,
           hubs AS n_hubs_ge_2k, antihubs AS n_antihubs,
           round((CAST(s3 AS DOUBLE) / n
                  - 3.0 * (CAST(s AS DOUBLE) / n)
                    * (CAST(s2 AS DOUBLE) / n)
                  + 2.0 * pow(CAST(s AS DOUBLE) / n, 3))
                 / pow(CAST(s2 AS DOUBLE) / n
                       - pow(CAST(s AS DOUBLE) / n, 2), 1.5), 6)
               + 0.0 AS indegree_skewness
    FROM mom
    """,
)
def embedding_hubness_skew(spark, sf_dir):
    """HUBNESS audit of the embedding space: build the exact 5-NN
    cosine graph and read the IN-DEGREE distribution — its skewness
    is the standard hubness measure (high-dimensional spaces grow
    "hubs" that appear in everyone's neighbor lists and "antihubs"
    that appear in none, silently corrupting k-NN retrieval,
    dedup, and RAG quality). Emits skewness, the max in-degree, hub
    count (in-degree >= 2k) and antihub count — the retrieval-
    quality companion to `embedding_anisotropy_panel` (geometry) and
    `ann_ivf_topk` (recall): anisotropy says vectors cluster
    directionally; hubness says what that DOES to neighbor graphs.
    The all-pairs pass is the certified-exact baseline on the
    bounded embeddings table (the cosine_topk_exact class); the
    registry's IVF/LSH bucketed paths are the 100 TB route.

    Exactness: cosines are the order-pinned sequential-fold dot
    products shared with `cosine_topk_exact` (identical ranking in
    both engines); in-degrees and their power sums are exact
    BIGINTs; skewness is a terminal moment tree. Plan: one
    normalized scan, one self-join + per-query top-5, one in-degree
    rollup, one fold."""
    emb = t(spark, sf_dir, "embeddings")
    d = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias(
            "nrm"
        ),
    ).persist()
    q = d.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    cos = (
        _dot(F.col("q_emb"), F.col("embedding"))
        / (F.col("q_nrm") * F.col("nrm"))
    ).alias("cosine")
    w = Window.partitionBy("q_id").orderBy(
        F.desc("cosine"), F.asc("n_id")
    )
    top5 = (
        d.join(F.broadcast(q), F.col("q_id") != F.col("vec_id"))
        .select("q_id", F.col("vec_id").alias("n_id"), cos)
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 5)
        .select("q_id", "n_id")
    )
    indeg = (
        d.select("vec_id")
        .join(top5, d.vec_id == top5.n_id, "left")
        .groupBy("vec_id")
        .agg(F.count("q_id").cast("bigint").alias("k"))
    )
    k = F.col("k")
    mom = indeg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(k).cast("bigint").alias("s"),
        F.sum(k * k).cast("bigint").alias("s2"),
        F.sum(k * k * k).cast("bigint").alias("s3"),
        F.max(k).cast("bigint").alias("mx"),
        F.sum(F.when(k >= 10, 1).otherwise(0))
        .cast("bigint")
        .alias("hubs"),
        F.sum(F.when(k == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("antihubs"),
    )
    n = F.col("n")
    m1 = F.col("s").cast("double") / n
    m2 = F.col("s2").cast("double") / n
    m3 = F.col("s3").cast("double") / n
    skew = (m3 - 3.0 * m1 * m2 + 2.0 * F.pow(m1, 3)) / F.pow(
        m2 - F.pow(m1, 2), 1.5
    )
    return mom.select(
        n.alias("n_vectors"),
        F.col("mx").alias("max_indegree"),
        F.col("hubs").alias("n_hubs_ge_2k"),
        F.col("antihubs").alias("n_antihubs"),
        (F.round(skew, 6) + 0.0).alias("indegree_skewness"),
    )



# --------------------------------------------------------------------------
# Sobel mediation test: clicks -> views -> purchases (daily)
# --------------------------------------------------------------------------
@register(
    "sobel_mediation_test",
    oracle="""
    WITH ev3 AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CASE WHEN event_type = 'click'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'view'
                             THEN 1 ELSE 0 END) AS BIGINT) AS mm,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    span AS (SELECT CAST(min(d) AS BIGINT) AS d0,
                    CAST(max(d) AS BIGINT) AS d1 FROM ev3),
    fill AS (
        SELECT CAST(u.g AS BIGINT) AS d,
               COALESCE(e.x, 0) AS x, COALESCE(e.mm, 0) AS m,
               COALESCE(e.y, 0) AS y
        FROM span, LATERAL UNNEST(range(span.d0, span.d1 + 1)) AS u(g)
        LEFT JOIN ev3 e ON u.g = e.d
    ),
    mo AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(m) AS BIGINT) AS sm,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(19,0)) * x)
                    AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(m AS DECIMAL(19,0)) * m)
                    AS DECIMAL(38,0)) AS smm,
               CAST(SUM(CAST(y AS DECIMAL(19,0)) * y)
                    AS DECIMAL(38,0)) AS syy,
               CAST(SUM(CAST(x AS DECIMAL(19,0)) * m)
                    AS DECIMAL(38,0)) AS sxm,
               CAST(SUM(CAST(x AS DECIMAL(19,0)) * y)
                    AS DECIMAL(38,0)) AS sxy,
               CAST(SUM(CAST(m AS DECIMAL(19,0)) * y)
                    AS DECIMAL(38,0)) AS smy
        FROM fill
    ),
    cen AS (
        SELECT n,
               CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n
                   AS cxx,
               CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * sm / n
                   AS cmm,
               CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n
                   AS cyy,
               CAST(sxm AS DOUBLE) - CAST(sx AS DOUBLE) * sm / n
                   AS cxm,
               CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n
                   AS cxy,
               CAST(smy AS DOUBLE) - CAST(sm AS DOUBLE) * sy / n
                   AS cmy
        FROM mo
    ),
    paths AS (
        SELECT n,
               round(cxm / cxx, 10) AS a,
               round((cxx * cmy - cxm * cxy)
                     / (cxx * cmm - cxm * cxm), 10) AS b,
               round((cmm * cxy - cxm * cmy)
                     / (cxx * cmm - cxm * cxm), 10) AS cprime,
               cxx, cmm, cxm, cyy, cxy, cmy
        FROM cen
    ),
    ses AS (
        SELECT n, a, b, cprime,
               (cmm - cxm * cxm / cxx) * (1.0 / (n - 2.0)) / cxx
                   AS se_a2,
               ((cyy - (cmm * cxy - cxm * cmy) * cxy
                     / (cxx * cmm - cxm * cxm)
                 - (cxx * cmy - cxm * cxy) * cmy
                     / (cxx * cmm - cxm * cxm)) / (n - 3.0))
               * cxx / (cxx * cmm - cxm * cxm) AS se_b2
        FROM paths
    )
    SELECT n AS n_days,
           round(a, 6) + 0.0 AS path_a,
           round(b, 6) + 0.0 AS path_b,
           round(cprime, 6) + 0.0 AS direct_cprime,
           round(a * b, 6) + 0.0 AS indirect_ab,
           round(a * b / sqrt(b * b * se_a2 + a * a * se_b2), 6)
               + 0.0 AS sobel_z
    FROM ses
    """,
)
def sobel_mediation_test(spark, sf_dir):
    """Sobel MEDIATION test on the daily funnel: does the click ->
    purchase association run THROUGH views? Path a (M ~ X), path b
    and direct c' (Y ~ X + M, closed-form centered 2-regressor
    solve), indirect effect ab, and Sobel z = ab / sqrt(b^2 se_a^2 +
    a^2 se_b^2) — the classical decomposition behind every "did the
    intermediate metric carry the lift" product question;
    `granger_causality_f` answers WHETHER X leads Y, this answers
    HOW MUCH routes via M. se_b^2 is the exact OLS (X'X)^-1 diagonal
    element (cxx / det) times the 3-parameter residual variance.

    Exactness: the nine moments of (x, m, y) fold exact BIGINT
    counts through DECIMAL(19,0) widens in one pass over the
    zero-filled grid; paths round at 10 dp; the z is a terminal
    tree. Plan: one day rollup, bounded grid fill, one fold."""
    e = t(spark, sf_dir, "events")
    ev3 = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("m"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    span = ev3.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = span.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("d")
    )
    fill = grid.join(ev3, "d", "left").select(
        "d",
        F.coalesce("x", F.lit(0)).cast("bigint").alias("x"),
        F.coalesce("m", F.lit(0)).cast("bigint").alias("m"),
        F.coalesce("y", F.lit(0)).cast("bigint").alias("y"),
    )

    def dsum(a_, b_, name):
        return (
            F.sum(F.col(a_).cast("decimal(19,0)") * F.col(b_))
            .cast("decimal(38,0)")
            .alias(name)
        )

    mo = fill.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("m").cast("bigint").alias("sm"),
        F.sum("y").cast("bigint").alias("sy"),
        dsum("x", "x", "sxx"),
        dsum("m", "m", "smm"),
        dsum("y", "y", "syy"),
        dsum("x", "m", "sxm"),
        dsum("x", "y", "sxy"),
        dsum("m", "y", "smy"),
    )
    n = F.col("n")
    cxx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / n
    cmm = F.col("smm").cast("double") - F.col("sm").cast("double") * F.col("sm") / n
    cyy = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / n
    cxm = F.col("sxm").cast("double") - F.col("sx").cast("double") * F.col("sm") / n
    cxy = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / n
    cmy = F.col("smy").cast("double") - F.col("sm").cast("double") * F.col("sy") / n
    det = cxx * cmm - cxm * cxm
    a = F.round(cxm / cxx, 10)
    b = F.round((cxx * cmy - cxm * cxy) / det, 10)
    cprime = F.round((cmm * cxy - cxm * cmy) / det, 10)
    se_a2 = (cmm - cxm * cxm / cxx) * (1.0 / (n - 2.0)) / cxx
    se_b2 = (
        (
            cyy
            - (cmm * cxy - cxm * cmy) * cxy / det
            - (cxx * cmy - cxm * cxy) * cmy / det
        )
        / (n - 3.0)
    ) * cxx / det
    st = mo.select(
        n.alias("n"),
        a.alias("a"),
        b.alias("b"),
        cprime.alias("cprime"),
        se_a2.alias("se_a2"),
        se_b2.alias("se_b2"),
    )
    ab = F.col("a") * F.col("b")
    return st.select(
        F.col("n").alias("n_days"),
        (F.round("a", 6) + 0.0).alias("path_a"),
        (F.round("b", 6) + 0.0).alias("path_b"),
        (F.round("cprime", 6) + 0.0).alias("direct_cprime"),
        (F.round(ab, 6) + 0.0).alias("indirect_ab"),
        (
            F.round(
                ab
                / F.sqrt(
                    F.col("b") * F.col("b") * F.col("se_a2")
                    + F.col("a") * F.col("a") * F.col("se_b2")
                ),
                6,
            )
            + 0.0
        ).alias("sobel_z"),
    )


# --------------------------------------------------------------------------
# Slope-equality moderation test: does Fri/Sat moderate clicks->purchases?
# --------------------------------------------------------------------------
@register(
    "slope_equality_moderation",
    oracle="""
    WITH ev2 AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CASE WHEN event_type = 'click'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    lab AS (
        SELECT d, x, y,
               CASE WHEN (d + 4) % 7 >= 5 THEN 1 ELSE 0 END AS w
        FROM ev2
    ),
    g AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(19,0)) * x)
                    AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(y AS DECIMAL(19,0)) * y)
                    AS DECIMAL(38,0)) AS syy,
               CAST(SUM(CAST(x AS DECIMAL(19,0)) * y)
                    AS DECIMAL(38,0)) AS sxy
        FROM lab GROUP BY w
    ),
    cen AS (
        SELECT w, n,
               CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n
                   AS cxx,
               CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n
                   AS cyy,
               CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n
                   AS cxy
        FROM g
    ),
    wide AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n,
               SUM(cxx) AS txx, SUM(cyy) AS tyy, SUM(cxy) AS txy,
               SUM(cyy - cxy * cxy / cxx) AS ssr_full,
               MAX(CASE WHEN w = 1 THEN round(cxy / cxx, 10) END)
                   AS b_wkend,
               MAX(CASE WHEN w = 0 THEN round(cxy / cxx, 10) END)
                   AS b_wkday
        FROM cen
    )
    SELECT n AS n_days, b_wkend, b_wkday,
           round((tyy - 2.0 * (txy / txx) * txy
                  + (txy / txx) * (txy / txx) * txx - ssr_full)
                 * (n - 4.0) / ssr_full, 6) + 0.0 AS f_slope_equality,
           CAST(1 AS BIGINT) AS dof1,
           CAST(n - 4 AS BIGINT) AS dof2
    FROM wide
    """,
)
def slope_equality_moderation(spark, sf_dir):
    """MODERATION test: does the Fri/Sat change the clicks->purchases
    conversion SLOPE? Fit the per-cohort regressions (separate
    intercepts and slopes — the interaction model) against the
    common-slope/separate-intercepts reduction, F = (SSR_reduced -
    SSR_full)(n-4)/SSR_full with the closed forms: per-group
    centered moments give each slope and SSR directly, and the
    common slope is (sum cxy)/(sum cxx) over WITHIN-GROUP centered
    moments (which is exactly the separate-intercepts constraint —
    no dummy-variable matrix needed). The interaction-term question
    every segmented funnel report implies, tested properly; the
    slope pair ships so the DIRECTION of moderation is visible.

    Exactness: per-cohort moments fold exact BIGINT counts through
    DECIMAL(19,0) widens; slopes round at 10 dp; F is a terminal
    tree. Plan: one day rollup, one 2-group fold, one scalar
    combine — no grid fill needed (only observed days carry
    counts; absent days are zero in BOTH series and belong to a
    cohort by calendar, so the zero-filled variant differs — the
    OBSERVED-day frame is the documented choice)."""
    e = t(spark, sf_dir, "events")
    ev2 = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    lab = ev2.select(
        "x",
        "y",
        F.when((F.col("d") + 4) % 7 >= 5, 1).otherwise(0).alias("w"),
    )
    g = lab.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("syy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    n = F.col("n")
    cxx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / n
    cyy = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / n
    cxy = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / n
    cen = g.select(
        "w",
        n.alias("n"),
        cxx.alias("cxx"),
        cyy.alias("cyy"),
        cxy.alias("cxy"),
    )
    wide = cen.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("cxx").alias("txx"),
        F.sum("cyy").alias("tyy"),
        F.sum("cxy").alias("txy"),
        F.sum(
            F.col("cyy") - F.col("cxy") * F.col("cxy") / F.col("cxx")
        ).alias("ssr_full"),
        F.max(
            F.when(
                F.col("w") == 1,
                F.round(F.col("cxy") / F.col("cxx"), 10),
            )
        ).alias("b_wkend"),
        F.max(
            F.when(
                F.col("w") == 0,
                F.round(F.col("cxy") / F.col("cxx"), 10),
            )
        ).alias("b_wkday"),
    )
    bc = F.col("txy") / F.col("txx")
    ssr_red = (
        F.col("tyy")
        - 2.0 * bc * F.col("txy")
        + bc * bc * F.col("txx")
    )
    return wide.select(
        F.col("n").alias("n_days"),
        "b_wkend",
        "b_wkday",
        (
            F.round(
                (ssr_red - F.col("ssr_full"))
                * (F.col("n") - 4.0)
                / F.col("ssr_full"),
                6,
            )
            + 0.0
        ).alias("f_slope_equality"),
        F.lit(1).cast("bigint").alias("dof1"),
        (F.col("n") - 4).cast("bigint").alias("dof2"),
    )


# --------------------------------------------------------------------------
# Scheirer-Ray-Hare two-way rank ANOVA: priority x Fri/Sat
# --------------------------------------------------------------------------
@register(
    "scheirer_ray_hare_twoway",
    oracle="""
    WITH pts AS (
        SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS ga,
               CASE WHEN CAST(epoch_us(o_orderdate) // 86400000000
                         + 4 AS BIGINT) % 7 >= 5
                    THEN 1 ELSE 0 END AS gb,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    cells AS (
        SELECT v, ga, gb, CAST(COUNT(*) AS BIGINT) AS c
        FROM pts GROUP BY v, ga, gb
    ),
    vg AS (
        SELECT v, CAST(SUM(c) AS BIGINT) AS h FROM cells GROUP BY v
    ),
    cum AS (
        SELECT v, h,
               CAST(2 * (SUM(h) OVER (ORDER BY v ROWS BETWEEN
                   UNBOUNDED PRECEDING AND CURRENT ROW) - h)
                   + h + 1 AS BIGINT) AS rank2
        FROM vg
    ),
    ranked AS (
        SELECT c.ga, c.gb, c.c, m.rank2
        FROM cells c JOIN cum m ON c.v = m.v
    ),
    tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CAST(c AS DECIMAL(19,0)) * rank2)
                    AS DECIMAL(38,0)) AS sr2,
               CAST(SUM(CAST(c AS DECIMAL(19,0)) * rank2
                        * CAST(rank2 AS DECIMAL(19,0)))
                    AS DECIMAL(38,0)) AS sr2sq
        FROM ranked
    ),
    bya AS (
        SELECT ga, CAST(SUM(c) AS BIGINT) AS na,
               CAST(SUM(CAST(c AS DECIMAL(19,0)) * rank2)
                    AS DECIMAL(38,0)) AS ra
        FROM ranked GROUP BY ga
    ),
    byb AS (
        SELECT gb, CAST(SUM(c) AS BIGINT) AS nb,
               CAST(SUM(CAST(c AS DECIMAL(19,0)) * rank2)
                    AS DECIMAL(38,0)) AS rb
        FROM ranked GROUP BY gb
    ),
    bycell AS (
        SELECT ga, gb, CAST(SUM(c) AS BIGINT) AS nc,
               CAST(SUM(CAST(c AS DECIMAL(19,0)) * rank2)
                    AS DECIMAL(38,0)) AS rc
        FROM ranked GROUP BY ga, gb
    ),
    ssa AS (
        SELECT SUM(round(CAST(ra AS DOUBLE) * CAST(ra AS DOUBLE)
                         / na, 6)) AS s
        FROM bya
    ),
    ssb AS (
        SELECT SUM(round(CAST(rb AS DOUBLE) * CAST(rb AS DOUBLE)
                         / nb, 6)) AS s
        FROM byb
    ),
    ssc AS (
        SELECT SUM(round(CAST(rc AS DOUBLE) * CAST(rc AS DOUBLE)
                         / nc, 6)) AS s
        FROM bycell
    ),
    ms AS (
        SELECT tot.n,
               (CAST(tot.sr2sq AS DOUBLE) / 4.0
                - tot.n * (tot.n + 1.0) * (tot.n + 1.0) / 4.0)
                   / (tot.n - 1.0) AS mstot,
               CAST(tot.sr2 AS DOUBLE) * CAST(tot.sr2 AS DOUBLE)
                   / tot.n / 4.0 AS corr
        FROM tot
    )
    SELECT ms.n AS n_orders,
           round((ssa.s / 4.0 - ms.corr) / ms.mstot, 6) + 0.0
               AS h_priority,
           CAST(4 AS BIGINT) AS dof_priority,
           round((ssb.s / 4.0 - ms.corr) / ms.mstot, 6) + 0.0
               AS h_fri_sat,
           CAST(1 AS BIGINT) AS dof_fri_sat,
           round(((ssc.s - ssa.s - ssb.s) / 4.0 + ms.corr)
                 / ms.mstot, 6) + 0.0 AS h_interaction,
           CAST(4 AS BIGINT) AS dof_interaction
    FROM ms, ssa, ssb, ssc
    """,
)
def scheirer_ray_hare_twoway(spark, sf_dir):
    """Scheirer-Ray-Hare TWO-WAY rank ANOVA of order values on
    (priority x Fri/Sat): global midranks replace the values, and
    each factor's rank sum-of-squares over the tie-corrected total
    rank variance gives H ~ chi2 — main effects AND the interaction,
    which no one-way rank test in the registry
    (`kruskal_wallis_values`, `friedman_blocked_ranks`) can see:
    KW on priorities cannot say whether the priority effect CHANGES
    at Fri/Sat days. SS_AB = SS_cells - SS_A - SS_B (the balanced-rank
    decomposition SRH prescribes; emitted with its own dof).

    Exactness: midranks x2 are exact integers from one cents-grid
    cumulative; every rank sum and the squared-rank total fold
    through DECIMAL(19,0)-widened products; the SS terms round at 6
    dp before the 5-/2-/10-term sums; H ratios are terminal trees
    (correction term N(N+1)^2/4 uses the exact identity sum of
    midranks = N(N+1)/2, which ties never change). Plan: one
    rollup to the (value, a, b) grain, one grid cumulative, three
    bounded group folds."""
    o = t(spark, sf_dir, "orders")
    pts = o.select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("ga"),
        F.when(
            (
                F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
                + 4
            ).cast("bigint")
            % 7
            >= 5,
            1,
        )
        .otherwise(0)
        .alias("gb"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v"),
    )
    cells = pts.groupBy("v", "ga", "gb").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    vg = cells.groupBy("v").agg(F.sum("c").cast("bigint").alias("h"))
    cum = vg.select(
        "v",
        (
            2
            * (
                F.sum("h").over(
                    Window.orderBy("v").rowsBetween(
                        Window.unboundedPreceding, Window.currentRow
                    )
                )
                - F.col("h")
            )
            + F.col("h")
            + 1
        )
        .cast("bigint")
        .alias("rank2"),
    )
    ranked = cells.join(cum, "v").select(
        "ga", "gb", "c", "rank2"
    ).persist()

    def rsum(name):
        return (
            F.sum(F.col("c").cast("decimal(19,0)") * F.col("rank2"))
            .cast("decimal(38,0)")
            .alias(name)
        )

    tot = ranked.agg(
        F.sum("c").cast("bigint").alias("n"),
        rsum("sr2"),
        F.sum(
            F.col("c").cast("decimal(19,0)")
            * F.col("rank2")
            * F.col("rank2").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("sr2sq"),
    )

    def groupss(keys, nname, rname):
        g = ranked.groupBy(*keys).agg(
            F.sum("c").cast("bigint").alias(nname), rsum(rname)
        )
        return g.agg(
            F.sum(
                F.round(
                    F.col(rname).cast("double")
                    * F.col(rname).cast("double")
                    / F.col(nname),
                    6,
                )
            ).alias("s")
        )

    ssa = groupss(["ga"], "na", "ra").select(F.col("s").alias("sa"))
    ssb = groupss(["gb"], "nb", "rb").select(F.col("s").alias("sb"))
    ssc = groupss(["ga", "gb"], "nc", "rc").select(
        F.col("s").alias("sc")
    )
    j = (
        tot.crossJoin(F.broadcast(ssa))
        .crossJoin(F.broadcast(ssb))
        .crossJoin(F.broadcast(ssc))
    )
    n = F.col("n")
    mstot = (
        F.col("sr2sq").cast("double") / 4.0
        - n * (n + 1.0) * (n + 1.0) / 4.0
    ) / (n - 1.0)
    corr = (
        F.col("sr2").cast("double")
        * F.col("sr2").cast("double")
        / n
        / 4.0
    )
    return j.select(
        n.alias("n_orders"),
        (
            F.round((F.col("sa") / 4.0 - corr) / mstot, 6) + 0.0
        ).alias("h_priority"),
        F.lit(4).cast("bigint").alias("dof_priority"),
        (
            F.round((F.col("sb") / 4.0 - corr) / mstot, 6) + 0.0
        ).alias("h_fri_sat"),
        F.lit(1).cast("bigint").alias("dof_fri_sat"),
        (
            F.round(
                (
                    (F.col("sc") - F.col("sa") - F.col("sb")) / 4.0
                    + corr
                )
                / mstot,
                6,
            )
            + 0.0
        ).alias("h_interaction"),
        F.lit(4).cast("bigint").alias("dof_interaction"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "scheirer_ray_hare_twoway": (
            "one cumulative midrank pass over the cents value grid "
            "(price-domain-bounded — the ansari_bradley_scale class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Q-Q ventile fit: Fri/Sat vs Sun-Thu order-value distributions
# --------------------------------------------------------------------------
@register(
    "qq_ventile_fit",
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
        SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c
        FROM pts GROUP BY g, v
    ),
    cum AS (
        SELECT g, v,
               SUM(c) OVER (PARTITION BY g ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS cc,
               SUM(c) OVER (PARTITION BY g) AS ng
        FROM grid
    ),
    ks AS (SELECT CAST(u.g AS BIGINT) AS k
           FROM LATERAL UNNEST(range(1, 20)) AS u(g)),
    venti AS (
        SELECT ks.k,
               CAST(MIN(CASE WHEN cum.g = 1
                        AND 20 * cum.cc >= ks.k * cum.ng
                        THEN cum.v END) AS DOUBLE) / 100000.0 AS qy,
               CAST(MIN(CASE WHEN cum.g = 0
                        AND 20 * cum.cc >= ks.k * cum.ng
                        THEN cum.v END) AS DOUBLE) / 100000.0 AS qx
        FROM cum, ks GROUP BY ks.k
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(CAST(round(qx, 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS sx,
               CAST(SUM(CAST(round(qy, 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS sy,
               CAST(SUM(CAST(round(qx * qx, 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS sxx,
               CAST(SUM(CAST(round(qy * qy, 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS syy,
               CAST(SUM(CAST(round(qx * qy, 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS sxy
        FROM venti
    )
    SELECT m AS n_ventiles,
           round((m * sxy - sx * sy) / (m * sxx - sx * sx), 8) + 0.0
               AS qq_slope_scale,
           round((sy - (m * sxy - sx * sy)
                  / (m * sxx - sx * sx) * sx) / m, 6) + 0.0
               AS qq_intercept_kusd,
           round(pow((m * sxy - sx * sy), 2)
                 / ((m * sxx - sx * sx) * (m * syy - sy * sy)), 8)
               + 0.0 AS qq_r2
    FROM mom
    """,
)
def qq_ventile_fit(spark, sf_dir):
    """Q-Q VENTILE fit between the Fri/Sat (y) and Sun-Thu (x)
    order-value distributions: match the 19 exact lower ventiles of
    each and fit the quantile-quantile line — slope away from 1
    reads as a SCALE difference, intercept away from 0 as a SHIFT,
    r^2 away from 1 as a SHAPE difference — decomposing what a bare
    two-sample test (`ks_two_sample_values`, `cucconi_test`) only
    flags into the location/scale/shape story, robustly (ventiles,
    not moments). The graphical-QQ readout as three numbers.

    Exactness: ventiles are exact lower order statistics from
    per-group cents-grid cumulatives (20 cc >= k ng in exact
    integers); the 19-point regression folds 8-dp rounded terms
    through DECIMAL(28,8). Plan: one (group, value) rollup, one
    partitioned cumulative, one 19-row fold."""
    o = t(spark, sf_dir, "orders")
    pts = o.select(
        F.when(
            (
                F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
                + 4
            ).cast("bigint")
            % 7
            >= 5,
            1,
        )
        .otherwise(0)
        .alias("g"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v"),
    )
    grid = pts.groupBy("g", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # per-(g, bucket) windows (exact_cumulative keyed by g, the
    # lorenz device), not per-group windows: |groups| would cap
    # parallelism at two tasks
    acc, _ = exact_cumulative(grid, ("v",), {"pn": F.sum("c")}, keys=("g",))
    cum = acc.select(
        "g",
        "v",
        F.col("cum_pn").alias("cc"),
        F.col("tot_pn").alias("ng"),
    )
    ks = spark.range(1, 20).select(
        F.col("id").cast("bigint").alias("k")
    )
    venti = (
        cum.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            (
                F.min(
                    F.when(
                        (F.col("g") == 1)
                        & (20 * F.col("cc") >= F.col("k") * F.col("ng")),
                        F.col("v"),
                    )
                ).cast("double")
                / 100000.0
            ).alias("qy"),
            (
                F.min(
                    F.when(
                        (F.col("g") == 0)
                        & (20 * F.col("cc") >= F.col("k") * F.col("ng")),
                        F.col("v"),
                    )
                ).cast("double")
                / 100000.0
            ).alias("qx"),
        )
    )

    def dfold(expr, name):
        return (
            F.sum(F.round(expr, 8).cast("decimal(28,8)"))
            .cast("double")
            .alias(name)
        )

    mom = venti.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        dfold(F.col("qx"), "sx"),
        dfold(F.col("qy"), "sy"),
        dfold(F.col("qx") * F.col("qx"), "sxx"),
        dfold(F.col("qy") * F.col("qy"), "syy"),
        dfold(F.col("qx") * F.col("qy"), "sxy"),
    )
    m = F.col("m")
    slope = (m * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        m * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return mom.select(
        m.alias("n_ventiles"),
        (F.round(slope, 8) + 0.0).alias("qq_slope_scale"),
        (
            F.round((F.col("sy") - slope * F.col("sx")) / m, 6) + 0.0
        ).alias("qq_intercept_kusd"),
        (
            F.round(
                F.pow(m * F.col("sxy") - F.col("sx") * F.col("sy"), 2)
                / (
                    (m * F.col("sxx") - F.col("sx") * F.col("sx"))
                    * (m * F.col("syy") - F.col("sy") * F.col("sy"))
                ),
                8,
            )
            + 0.0
        ).alias("qq_r2"),
    )


# --------------------------------------------------------------------------
# Proper scoring-rule panel for the cell-proportion classifier
# --------------------------------------------------------------------------
@register(
    "proper_scoring_panel",
    oracle="""
    WITH cell AS (
        SELECT CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT)
                   AS dow,
               CAST(LEAST(CAST(floor(value) AS BIGINT) // 50, 9)
                    AS BIGINT) AS vb,
               event_type AS ty,
               CAST(COUNT(*) AS BIGINT) AS nk
        FROM events GROUP BY 1, 2, 3
    ),
    mtot AS (
        SELECT dow, vb, CAST(SUM(nk) AS BIGINT) AS m,
               CAST(SUM(CAST(nk AS DECIMAL(19,0)) * nk)
                    AS DECIMAL(38,0)) AS sk2
        FROM cell GROUP BY dow, vb
    ),
    terms AS (
        SELECT c.nk, m.m, m.sk2,
               round(CAST(c.nk AS DOUBLE) / m.m, 10) AS p
        FROM cell c JOIN mtot m USING (dow, vb)
    ),
    fold AS (
        SELECT CAST(SUM(nk) AS BIGINT) AS n,
               CAST(SUM(CAST(round(nk * ln(p), 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS slog,
               CAST(SUM(CAST(round(nk * p, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS sp,
               CAST(SUM(CAST(round(
                   nk * (CAST(sk2 AS DOUBLE) / m / m), 6)
                   AS DECIMAL(38,6))) AS DOUBLE) AS sp2,
               CAST(SUM(CAST(round(
                   nk * p / sqrt(CAST(sk2 AS DOUBLE) / m / m), 6)
                   AS DECIMAL(38,6))) AS DOUBLE) AS ssph
        FROM terms
    )
    SELECT n AS n_events,
           round(slog / n, 8) + 0.0 AS mean_log_score,
           round((sp2 - 2.0 * sp) / n + 1.0, 8) + 0.0
               AS brier_multiclass,
           round(ssph / n, 8) + 0.0 AS spherical_score
    FROM fold
    """,
)
def proper_scoring_panel(spark, sf_dir):
    """PROPER SCORING-RULE panel for the (weekday x value-bucket)
    cell-proportion classifier of event type: mean LOG score
    (local, unbounded penalty for confident misses), multiclass
    BRIER (quadratic, bounded), and SPHERICAL score (the
    third classical strictly proper rule, p_true/||p||_2) — three
    rules that rank the SAME calibrated forecaster identically but
    diverge under miscalibration, which is exactly the diagnosis:
    `hosmer_lemeshow_calibration` and `isotonic_calibration_bins`
    test calibration; this panel prices it. In-sample readout (the
    cell proportions score their own events), computed entirely at
    CELL grain: sum_events ln p_true = sum_k n_k ln(n_k/m) etc. —
    no per-event pass.

    Exactness: cell counts and the within-cell squared-count sums
    are exact (DECIMAL(19,0) widen); p rounds at 10 dp; each
    grain-term rounds at 6 dp into DECIMAL(38,6) folds. Plan: one
    rollup to 350 cells, one margin join, one fold."""
    e = t(spark, sf_dir, "events")
    cell = e.groupBy(
        ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7)
        .cast("bigint")
        .alias("dow"),
        F.least(
            (F.floor(F.col("value")).cast("bigint") / 50).cast(
                "bigint"
            ),
            F.lit(9).cast("bigint"),
        ).alias("vb"),
        F.col("event_type").alias("ty"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("nk"))
    mtot = cell.groupBy("dow", "vb").agg(
        F.sum("nk").cast("bigint").alias("m"),
        F.sum(F.col("nk").cast("decimal(19,0)") * F.col("nk"))
        .cast("decimal(38,0)")
        .alias("sk2"),
    )
    terms = cell.join(F.broadcast(mtot), ["dow", "vb"]).select(
        "nk",
        "m",
        "sk2",
        F.round(F.col("nk").cast("double") / F.col("m"), 10).alias("p"),
    )

    def dfold(expr, name):
        return (
            F.sum(F.round(expr, 6).cast("decimal(38,6)"))
            .cast("double")
            .alias(name)
        )

    sk2m = F.col("sk2").cast("double") / F.col("m") / F.col("m")
    fold = terms.agg(
        F.sum("nk").cast("bigint").alias("n"),
        dfold(F.col("nk") * F.log("p"), "slog"),
        dfold(F.col("nk") * F.col("p"), "sp"),
        dfold(F.col("nk") * sk2m, "sp2"),
        dfold(F.col("nk") * F.col("p") / F.sqrt(sk2m), "ssph"),
    )
    n = F.col("n")
    return fold.select(
        n.alias("n_events"),
        (F.round(F.col("slog") / n, 8) + 0.0).alias("mean_log_score"),
        (
            F.round((F.col("sp2") - 2.0 * F.col("sp")) / n + 1.0, 8)
            + 0.0
        ).alias("brier_multiclass"),
        (F.round(F.col("ssph") / n, 8) + 0.0).alias(
            "spherical_score"
        ),
    )


# --------------------------------------------------------------------------
# Tukey one-degree-of-freedom test for non-additivity (dow x type)
# --------------------------------------------------------------------------
@register(
    "tukey_nonadditivity",
    oracle="""
    WITH cells AS (
        SELECT CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT)
                   AS dow,
               event_type AS ty,
               round(ln(CAST(COUNT(*) AS DOUBLE)), 10) AS y
        FROM events GROUP BY 1, 2
    ),
    marg AS (
        SELECT dow, ty, y,
               AVG(y) OVER (PARTITION BY dow) AS rm,
               AVG(y) OVER (PARTITION BY ty) AS cm,
               AVG(y) OVER () AS gm
        FROM cells
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS ncell,
               CAST(SUM(CAST(round((rm - gm) * (cm - gm) * y, 12)
                             AS DECIMAL(28,12))) AS DOUBLE) AS sab,
               CAST(SUM(CAST(round((rm - gm) * (rm - gm), 12)
                             AS DECIMAL(28,12))) AS DOUBLE) / 5.0
                   AS sa2,
               CAST(SUM(CAST(round((cm - gm) * (cm - gm), 12)
                             AS DECIMAL(28,12))) AS DOUBLE) / 7.0
                   AS sb2,
               CAST(SUM(CAST(round(
                   pow(y - rm - cm + gm, 2), 12)
                   AS DECIMAL(28,12))) AS DOUBLE) AS ssres,
               MAX(gm) AS gm
        FROM marg
    ),
    stat AS (
        SELECT ncell, gm,
               sab * sab / (sa2 * sb2) AS ssn,
               ssres,
               sab / (sa2 * sb2) AS lam
        FROM fold
    )
    SELECT ncell AS n_cells,
           round(ssn, 8) + 0.0 AS ss_nonadditivity,
           round(ssn / ((ssres - ssn) / 23.0), 6) + 0.0
               AS f_nonadditivity,
           CAST(23 AS BIGINT) AS dof2,
           round(1.0 - lam * gm, 4) + 0.0 AS suggested_power
    FROM stat
    """,
)
def tukey_nonadditivity(spark, sf_dir):
    """Tukey's one-degree-of-freedom test for NON-ADDITIVITY on the
    (weekday x event-type) table of log cell counts: SS_N =
    [sum a_i b_j y_ij]^2 / (sum a^2 sum b^2) against the remaining
    interaction residual, F ~ F(1, (r-1)(c-1)-1) — the test that
    says whether `median_polish_dow_type`'s additive decomposition
    is even the right MODEL, plus Tukey's transformation ladder
    readout p = 1 - lambda*grand (p near 1: stay additive; near 0:
    log it; the table is already logged, so p != 1 reads as
    multiplicative-beyond-log structure). The one interaction test
    available WITHOUT replication.

    Exactness: cell values are 10-dp-rounded logs of exact counts;
    row/col/grand means are exact averages of those (7- and 5-cell
    partitions); all four quadratic folds round at 12 dp into
    DECIMAL(28,12). sum_i a_i^2 is recovered from the cell-grain
    fold by /5 (each a_i appears in 5 cells; b_j in 7). Plan: one
    35-cell rollup, bounded margin windows, one fold."""
    e = t(spark, sf_dir, "events")
    cells = e.groupBy(
        ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7)
        .cast("bigint")
        .alias("dow"),
        F.col("event_type").alias("ty"),
    ).agg(
        F.round(F.log(F.count(F.lit(1)).cast("double")), 10).alias("y")
    )
    marg = (
        cells.withColumn(
            "rm", F.avg("y").over(Window.partitionBy("dow"))
        )
        .withColumn("cm", F.avg("y").over(Window.partitionBy("ty")))
        .withColumn("gm", F.avg("y").over(Window.partitionBy()))
    )
    a = F.col("rm") - F.col("gm")
    b = F.col("cm") - F.col("gm")

    def dfold(expr, name):
        return (
            F.sum(F.round(expr, 12).cast("decimal(28,12)"))
            .cast("double")
            .alias(name)
        )

    fold = marg.agg(
        F.count(F.lit(1)).cast("bigint").alias("ncell"),
        dfold(a * b * F.col("y"), "sab"),
        dfold(a * a, "sa2x5"),
        dfold(b * b, "sb2x7"),
        dfold(
            F.pow(F.col("y") - F.col("rm") - F.col("cm") + F.col("gm"), 2),
            "ssres",
        ),
        F.max("gm").alias("gm"),
    )
    sa2 = F.col("sa2x5") / 5.0
    sb2 = F.col("sb2x7") / 7.0
    ssn = F.col("sab") * F.col("sab") / (sa2 * sb2)
    lam = F.col("sab") / (sa2 * sb2)
    return fold.select(
        F.col("ncell").alias("n_cells"),
        (F.round(ssn, 8) + 0.0).alias("ss_nonadditivity"),
        (
            F.round(ssn / ((F.col("ssres") - ssn) / 23.0), 6) + 0.0
        ).alias("f_nonadditivity"),
        F.lit(23).cast("bigint").alias("dof2"),
        (F.round(1.0 - lam * F.col("gm"), 4) + 0.0).alias(
            "suggested_power"
        ),
    )


# --------------------------------------------------------------------------
# Ridit analysis of priority ordinals: Fri/Sat vs Sun-Thu
# --------------------------------------------------------------------------
@register(
    "ridit_analysis",
    oracle="""
    WITH pts AS (
        SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS cat,
               CASE WHEN CAST(epoch_us(o_orderdate) // 86400000000
                         + 4 AS BIGINT) % 7 >= 5
                    THEN 1 ELSE 0 END AS g
        FROM orders
    ),
    ref AS (
        SELECT cat, CAST(COUNT(*) AS BIGINT) AS c
        FROM pts GROUP BY cat
    ),
    rid AS (
        SELECT cat, c,
               round((CAST(COALESCE(SUM(c) OVER (ORDER BY cat
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS DOUBLE)
                      + c / 2.0)
                     / (SELECT SUM(c) FROM ref), 10) AS r
        FROM ref
    ),
    grp AS (
        SELECT g, cat, CAST(COUNT(*) AS BIGINT) AS gc
        FROM pts GROUP BY g, cat
    ),
    mean_r AS (
        SELECT grp.g,
               CAST(SUM(grp.gc) AS BIGINT) AS n,
               CAST(SUM(CAST(round(grp.gc * rid.r, 6)
                             AS DECIMAL(38,6))) AS DOUBLE)
                   / SUM(grp.gc) AS rbar
        FROM grp JOIN rid ON grp.cat = rid.cat
        GROUP BY grp.g
    ),
    wide AS (
        SELECT MAX(CASE WHEN g = 1 THEN n END) AS n1,
               MAX(CASE WHEN g = 1 THEN rbar END) AS r1,
               MAX(CASE WHEN g = 0 THEN n END) AS n0,
               MAX(CASE WHEN g = 0 THEN rbar END) AS r0
        FROM mean_r
    )
    SELECT n1 AS n_fri_sat, n0 AS n_sun_thu,
           round(r1, 8) + 0.0 AS mean_ridit_fri_sat,
           round(r0, 8) + 0.0 AS mean_ridit_sun_thu,
           round((r1 - r0)
                 / sqrt((1.0 / n1 + 1.0 / n0) / 12.0), 6) + 0.0
               AS z_ridit
    FROM wide
    """,
)
def ridit_analysis(spark, sf_dir):
    """RIDIT analysis of the ordered priority scale between Fri/Sat
    and Sun-Thu orders: score each priority category by its ridit —
    the reference-distribution mid-cumulative probability (Relative
    to an Identified DIstribution) — and compare group mean ridits;
    r-bar_1 - r-bar_0 is exactly P(Fri/Sat order outranks Sun-Thu) -
    1/2, the ordinal effect size behind `brunner_munzel` /
    `cliffs_delta_bucketed`, computed HERE on a 5-category ordinal
    where rank machinery degenerates; z uses Bross's
    sqrt((1/n1+1/n0)/12) null SE. The epidemiology-standard ordinal
    severity comparison.

    Exactness: category counts are exact; ridits are exact
    mid-cumulative ratios rounded at 10 dp on the 5-row grid; group
    means fold 6-dp rounded products through DECIMAL(38,6). Plan:
    two 5-category rollups, one bounded prefix, one fold."""
    o = t(spark, sf_dir, "orders")
    pts = o.select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("cat"),
        F.when(
            (
                F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
                + 4
            ).cast("bigint")
            % 7
            >= 5,
            1,
        )
        .otherwise(0)
        .alias("g"),
    )
    ref = pts.groupBy("cat").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = ref.agg(F.sum("c").cast("bigint").alias("nt"))
    rid = (
        ref.crossJoin(F.broadcast(tot))
        .select(
            "cat",
            F.round(
                (
                    F.coalesce(
                        F.sum("c").over(
                            Window.orderBy("cat").rowsBetween(
                                Window.unboundedPreceding, -1
                            )
                        ),
                        F.lit(0),
                    ).cast("double")
                    + F.col("c") / 2.0
                )
                / F.col("nt"),
                10,
            ).alias("r"),
        )
    )
    grp = pts.groupBy("g", "cat").agg(
        F.count(F.lit(1)).cast("bigint").alias("gc")
    )
    mean_r = (
        grp.join(F.broadcast(rid), "cat")
        .groupBy("g")
        .agg(
            F.sum("gc").cast("bigint").alias("n"),
            (
                F.sum(
                    F.round(F.col("gc") * F.col("r"), 6).cast(
                        "decimal(38,6)"
                    )
                ).cast("double")
                / F.sum("gc")
            ).alias("rbar"),
        )
    )
    wide = mean_r.agg(
        F.max(F.when(F.col("g") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("g") == 1, F.col("rbar"))).alias("r1"),
        F.max(F.when(F.col("g") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("g") == 0, F.col("rbar"))).alias("r0"),
    )
    return wide.select(
        F.col("n1").alias("n_fri_sat"),
        F.col("n0").alias("n_sun_thu"),
        (F.round("r1", 8) + 0.0).alias("mean_ridit_fri_sat"),
        (F.round("r0", 8) + 0.0).alias("mean_ridit_sun_thu"),
        (
            F.round(
                (F.col("r1") - F.col("r0"))
                / F.sqrt(
                    (1.0 / F.col("n1") + 1.0 / F.col("n0")) / 12.0
                ),
                6,
            )
            + 0.0
        ).alias("z_ridit"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "tukey_nonadditivity": (
            "grand-mean window over the 35-cell (dow x type) frame "
            "(domain-bounded — the chi2_independence class)"
        ),
        "ridit_analysis": (
            "exclusive prefix over the 5-category priority grid "
            "(domain-bounded)"
        ),
    }
)


# --------------------------------------------------------------------------
# Rousseeuw-Croux Qn scale estimator on daily revenue
# --------------------------------------------------------------------------
@register(
    "qn_scale_estimator",
    oracle="""
    WITH days AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM days),
    pairs AS (
        SELECT abs(a.y - b.y) AS ad, a.d AS di, b.d AS dj
        FROM days a JOIN days b ON a.d < b.d
    ),
    ranked AS (
        SELECT ad,
               CAST(ROW_NUMBER() OVER (ORDER BY ad, di, dj)
                    AS BIGINT) AS r
        FROM pairs
    ),
    kk AS (
        SELECT CAST((n // 2 + 1) * (n // 2) // 2 AS BIGINT) AS k,
               n
        FROM nn
    ),
    sel AS (
        SELECT kk.n, kk.k, ranked.ad
        FROM ranked, kk WHERE ranked.r = kk.k
    ),
    sd AS (
        SELECT sqrt((CAST(SUM(CAST(y AS DECIMAL(19,0)) * y)
                          AS DOUBLE)
                     - CAST(SUM(y) AS DOUBLE) * SUM(y) / COUNT(*))
                    / (COUNT(*) - 1)) / 100000.0 AS s
        FROM days
    )
    SELECT sel.n AS n_days, sel.k AS k_order_stat,
           round(2.2219 * sel.ad / 100000.0, 6) + 0.0 AS qn_kusd,
           round(sd.s, 6) + 0.0 AS sd_kusd,
           round(2.2219 * sel.ad / 100000.0 / sd.s, 6) + 0.0
               AS qn_over_sd
    FROM sel, sd
    """,
)
def qn_scale_estimator(spark, sf_dir):
    """Rousseeuw-Croux Qn scale estimator of daily revenue: 2.2219
    times the k-th order statistic of all pairwise |differences|
    (k = C(h,2), h = n/2+1) — the 50%-breakdown scale estimator
    that needs NO location estimate (unlike MAD, which centers on a
    median and loses efficiency at asymmetric distributions) and
    reaches 82% Gaussian efficiency vs MAD's 37%. Completes the
    robust-scale bench beside `rousseeuw_sn_scale` and
    `biweight_midvariance`; Qn/SD well below 1 reads as
    outlier-inflated classical scale.

    Exactness: pairwise |differences| of exact cents are exact
    BIGINTs with the deterministic (diff, day_i, day_j) total
    order; k is exact integer arithmetic; the constant 2.2219 is
    the standard consistency literal. The pair frame is
    calendar^2-bounded (the passing_bablok class). Plan: one day
    rollup, one bounded pair self-join, one rank, one pick."""
    o = t(spark, sf_dir, "orders")
    days = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    ).persist()
    nn = days.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = days.select(F.col("d").alias("di"), F.col("y").alias("ya"))
    b = days.select(F.col("d").alias("dj"), F.col("y").alias("yb"))
    pairs = a.join(b, F.col("di") < F.col("dj")).select(
        F.abs(F.col("ya") - F.col("yb")).alias("ad"), "di", "dj"
    )
    ranked = pairs.select(
        "ad",
        F.row_number()
        .over(Window.orderBy("ad", "di", "dj"))
        .cast("bigint")
        .alias("r"),
    )
    kk = nn.select(
        "n",
        (
            (F.floor(F.col("n") / 2) + 1)
            * F.floor(F.col("n") / 2)
            / 2
        )
        .cast("bigint")
        .alias("k"),
    )
    sel = ranked.join(
        F.broadcast(kk), ranked.r == F.col("k")
    ).select("n", "k", "ad")
    sd = days.agg(
        (
            F.sqrt(
                (
                    F.sum(
                        F.col("y").cast("decimal(19,0)") * F.col("y")
                    ).cast("double")
                    - F.sum("y").cast("double")
                    * F.sum("y")
                    / F.count(F.lit(1))
                )
                / (F.count(F.lit(1)) - 1)
            )
            / 100000.0
        ).alias("s")
    )
    return sel.crossJoin(F.broadcast(sd)).select(
        F.col("n").alias("n_days"),
        F.col("k").alias("k_order_stat"),
        (F.round(2.2219 * F.col("ad") / 100000.0, 6) + 0.0).alias(
            "qn_kusd"
        ),
        (F.round("s", 6) + 0.0).alias("sd_kusd"),
        (
            F.round(2.2219 * F.col("ad") / 100000.0 / F.col("s"), 6)
            + 0.0
        ).alias("qn_over_sd"),
    )


# --------------------------------------------------------------------------
# Shorth / least-median-of-squares location of daily revenue
# --------------------------------------------------------------------------
@register(
    "shorth_lms_location",
    oracle="""
    WITH days AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT y,
               CAST(ROW_NUMBER() OVER (ORDER BY y, d) AS BIGINT) AS r,
               CAST(COUNT(*) OVER () AS BIGINT) AS n,
               CAST(SUM(y) OVER (ORDER BY y, d
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
        FROM days
    ),
    h_ AS (SELECT CAST(MAX(n) // 2 + 1 AS BIGINT) AS h,
                  CAST(MAX(n) AS BIGINT) AS n FROM ranked),
    win AS (
        SELECT a.r AS i, b.y - a.y AS width,
               a.y AS lo, b.y AS hi,
               b.cs - a.cs + a.y AS hsum
        FROM ranked a
        JOIN h_ ON TRUE
        JOIN ranked b ON b.r = a.r + h_.h - 1
    ),
    best AS (
        SELECT * FROM win ORDER BY width ASC, i ASC LIMIT 1
    )
    SELECT h_.n AS n_days, h_.h AS half_size,
           round(best.width / 100000.0, 6) + 0.0
               AS shortest_half_width_kusd,
           round((best.lo + best.hi) / 2.0 / 100000.0, 6) + 0.0
               AS lms_midpoint_kusd,
           round(CAST(best.hsum AS DOUBLE) / h_.h / 100000.0, 6)
               + 0.0 AS shorth_mean_kusd
    FROM best, h_
    """,
)
def shorth_lms_location(spark, sf_dir):
    """SHORTH and least-median-of-squares location of daily revenue:
    slide a window of h = n/2+1 consecutive ORDER STATISTICS, find
    the SHORTEST half (ties to the leftmost), and read the LMS
    location (its midpoint — the 50%-breakdown mode-seeking
    estimator Rousseeuw built regression on) and the shorth mean
    (average within the half) — location WHERE THE DATA IS DENSEST,
    which mean (pulled by tails) and median (blind to multimodality
    direction) both miss; disagreement with the median flags
    asymmetric density. Width ships as the companion scale readout.

    Exactness: ranks and prefix sums of exact cents give every
    window's width and sum exactly (the half-sum is a prefix-sum
    difference — no second pass); the argmin is a total-order
    top-1. The rank frame is the bounded calendar-day grid. Plan:
    one day rollup, one rank + prefix pass, one rank-offset
    equi-join, one top-1."""
    o = t(spark, sf_dir, "orders")
    days = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    w = Window.orderBy("y", "d")
    ranked = days.select(
        "y",
        F.row_number().over(w).cast("bigint").alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("n"),
        F.sum("y")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("cs"),
    ).persist()
    h_ = ranked.agg(
        (F.floor(F.max("n") / 2) + 1).cast("bigint").alias("h"),
        F.max("n").cast("bigint").alias("n"),
    )
    a = ranked.select(
        F.col("r").alias("i"),
        F.col("y").alias("lo"),
        F.col("cs").alias("csa"),
    )
    b = ranked.select(
        F.col("r").alias("rb"),
        F.col("y").alias("hi"),
        F.col("cs").alias("csb"),
    )
    win = (
        a.crossJoin(F.broadcast(h_))
        .withColumn("rb", F.col("i") + F.col("h") - 1)
        .join(b, "rb")
        .select(
            "i",
            (F.col("hi") - F.col("lo")).alias("width"),
            "lo",
            "hi",
            (F.col("csb") - F.col("csa") + F.col("lo")).alias("hsum"),
            "h",
            "n",
        )
    )
    best = win.orderBy(F.col("width").asc(), F.col("i").asc()).limit(1)
    return best.select(
        F.col("n").alias("n_days"),
        F.col("h").alias("half_size"),
        (F.round(F.col("width") / 100000.0, 6) + 0.0).alias(
            "shortest_half_width_kusd"
        ),
        (
            F.round((F.col("lo") + F.col("hi")) / 2.0 / 100000.0, 6)
            + 0.0
        ).alias("lms_midpoint_kusd"),
        (
            F.round(
                F.col("hsum").cast("double") / F.col("h") / 100000.0, 6
            )
            + 0.0
        ).alias("shorth_mean_kusd"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "qn_scale_estimator": (
            "rank over the bounded calendar^2 pairwise-difference "
            "frame (the passing_bablok class)"
        ),
        "shorth_lms_location": (
            "rank + prefix sum over the bounded calendar-day frame "
            "(the l_moments_panel class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Circular-linear correlation: hour-of-day vs purchase value
# --------------------------------------------------------------------------
@register(
    "circular_linear_correlation",
    oracle=f"""
    WITH pts AS (
        SELECT CAST(epoch_us(ts) // 3600000000 % 24 AS BIGINT) AS hr,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS v
        FROM events WHERE event_type = 'purchase'
    ),
    terms AS (
        SELECT v, ({case_sql('hr', COS24)}) AS cc,
               ({case_sql('hr', SIN24)}) AS ss
        FROM pts
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS sv,
               CAST(SUM(CAST(v AS DECIMAL(19,0)) * v)
                    AS DECIMAL(38,0)) AS svv,
               CAST(SUM(CAST(round(cc, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS sc,
               CAST(SUM(CAST(round(ss, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS ssn,
               CAST(SUM(CAST(round(cc * cc, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS scc,
               CAST(SUM(CAST(round(ss * ss, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS sss,
               CAST(SUM(CAST(round(cc * ss, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS scs,
               CAST(SUM(CAST(round(v * cc, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS svc,
               CAST(SUM(CAST(round(v * ss, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS svs
        FROM terms
    ),
    cors AS (
        SELECT n,
               round((n * svc - CAST(sv AS DOUBLE) * sc)
                     / sqrt((n * CAST(svv AS DOUBLE)
                             - CAST(sv AS DOUBLE) * sv)
                            * (n * scc - sc * sc)), 10) AS rxc,
               round((n * svs - CAST(sv AS DOUBLE) * ssn)
                     / sqrt((n * CAST(svv AS DOUBLE)
                             - CAST(sv AS DOUBLE) * sv)
                            * (n * sss - ssn * ssn)), 10) AS rxs,
               round((n * scs - sc * ssn)
                     / sqrt((n * scc - sc * sc)
                            * (n * sss - ssn * ssn)), 10) AS rcs
        FROM mom
    ),
    r2 AS (
        SELECT n, rxc, rxs, rcs,
               (rxc * rxc + rxs * rxs - 2.0 * rxc * rxs * rcs)
                   / (1.0 - rcs * rcs) AS rsq
        FROM cors
    )
    SELECT n AS n_purchases,
           round(rxc, 6) + 0.0 AS r_value_cos,
           round(rxs, 6) + 0.0 AS r_value_sin,
           round(rsq, 8) + 0.0 AS circ_linear_r2,
           round(n * rsq, 6) + 0.0 AS chi2_stat,
           round(exp(-n * rsq / 2.0), 8) + 0.0 AS p_value
    FROM r2
    """,
)
def circular_linear_correlation(spark, sf_dir):
    """CIRCULAR-LINEAR correlation between purchase hour-of-day (a
    clock angle) and purchase value (linear): the Mardia/Johnson-
    Wehrly R^2 = (r_xc^2 + r_xs^2 - 2 r_xc r_xs r_cs)/(1 - r_cs^2)
    from the three plain correlations against cos(theta) and
    sin(theta) — a straight Pearson r against the hour NUMBER is
    simply wrong at the 23->0 wrap; this is the correct wrap-proof
    association, and n R^2 ~ chi2(2) gives the exact-closed-form
    tail p = exp(-n R^2 / 2). Do expensive purchases happen at a
    particular time of day, done right.

    Exactness: cos/sin come from the exact 24-direction literal
    tables (the lomb_scargle discipline); value-cents are exact;
    all nine moments fold rounded terms through DECIMAL (trig at 10
    dp, value-trig products at 4 dp); the correlations round at 10
    dp before the R^2 tree; chi2(2) tail is exp(-x/2), libm-shared.
    Plan: one filtered scan, one fold."""
    e = t(spark, sf_dir, "events")
    pts = e.where(F.col("event_type") == "purchase").select(
        (F.floor(F.unix_micros("ts") / 3_600_000_000) % 24)
        .cast("bigint")
        .alias("hr"),
        (dec("value", 18, 2) * 100).cast("bigint").alias("v"),
    )
    terms = pts.select(
        "v",
        _lut24(F.col("hr"), COS24).alias("cc"),
        _lut24(F.col("hr"), SIN24).alias("ss"),
    )

    def tfold(expr, scale, name, prec="28,10"):
        return (
            F.sum(F.round(expr, scale).cast(f"decimal({prec})"))
            .cast("double")
            .alias(name)
        )

    mom = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("sv"),
        F.sum(F.col("v").cast("decimal(19,0)") * F.col("v"))
        .cast("decimal(38,0)")
        .alias("svv"),
        tfold(F.col("cc"), 10, "sc"),
        tfold(F.col("ss"), 10, "ssn"),
        tfold(F.col("cc") * F.col("cc"), 10, "scc"),
        tfold(F.col("ss") * F.col("ss"), 10, "sss"),
        tfold(F.col("cc") * F.col("ss"), 10, "scs"),
        tfold(F.col("v") * F.col("cc"), 4, "svc", "38,4"),
        tfold(F.col("v") * F.col("ss"), 4, "svs", "38,4"),
    )
    n = F.col("n")
    svd = F.col("sv").cast("double")
    svvd = F.col("svv").cast("double")
    rxc = F.round(
        (n * F.col("svc") - svd * F.col("sc"))
        / F.sqrt(
            (n * svvd - svd * F.col("sv"))
            * (n * F.col("scc") - F.col("sc") * F.col("sc"))
        ),
        10,
    )
    rxs = F.round(
        (n * F.col("svs") - svd * F.col("ssn"))
        / F.sqrt(
            (n * svvd - svd * F.col("sv"))
            * (n * F.col("sss") - F.col("ssn") * F.col("ssn"))
        ),
        10,
    )
    rcs = F.round(
        (n * F.col("scs") - F.col("sc") * F.col("ssn"))
        / F.sqrt(
            (n * F.col("scc") - F.col("sc") * F.col("sc"))
            * (n * F.col("sss") - F.col("ssn") * F.col("ssn"))
        ),
        10,
    )
    cors = mom.select(
        n.alias("n"), rxc.alias("rxc"), rxs.alias("rxs"), rcs.alias("rcs")
    )
    rsq = (
        F.col("rxc") * F.col("rxc")
        + F.col("rxs") * F.col("rxs")
        - 2.0 * F.col("rxc") * F.col("rxs") * F.col("rcs")
    ) / (1.0 - F.col("rcs") * F.col("rcs"))
    return cors.select(
        F.col("n").alias("n_purchases"),
        (F.round("rxc", 6) + 0.0).alias("r_value_cos"),
        (F.round("rxs", 6) + 0.0).alias("r_value_sin"),
        (F.round(rsq, 8) + 0.0).alias("circ_linear_r2"),
        (F.round(F.col("n") * rsq, 6) + 0.0).alias("chi2_stat"),
        (F.round(F.exp(-F.col("n") * rsq / 2.0), 8) + 0.0).alias(
            "p_value"
        ),
    )


# --------------------------------------------------------------------------
# Covariate-balance SMD panel: Fri/Sat vs Sun-Thu orders
# --------------------------------------------------------------------------
@register(
    "covariate_balance_smd",
    oracle="""
    WITH lab AS (
        SELECT CASE WHEN CAST(epoch_us(o_orderdate) // 86400000000
                         + 4 AS BIGINT) % 7 >= 5
                    THEN 1 ELSE 0 END AS g,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS price_c,
               CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS pri,
               CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END AS st
        FROM orders
    ),
    long AS (
        SELECT g, 'value_kusd' AS cov,
               price_c / 100000.0 AS x FROM lab
        UNION ALL
        SELECT g, 'priority_ordinal', CAST(pri AS DOUBLE) FROM lab
        UNION ALL
        SELECT g, 'status_p_flag', CAST(st AS DOUBLE) FROM lab
    ),
    mom AS (
        SELECT cov, g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(x, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS s,
               CAST(SUM(CAST(round(x * x, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS ss
        FROM long GROUP BY cov, g
    ),
    st_ AS (
        SELECT cov, g, n, s / n AS m,
               (ss - s * s / n) / (n - 1.0) AS v
        FROM mom
    ),
    wide AS (
        SELECT cov,
               MAX(CASE WHEN g = 1 THEN n END) AS n1,
               MAX(CASE WHEN g = 0 THEN n END) AS n0,
               MAX(CASE WHEN g = 1 THEN m END) AS m1,
               MAX(CASE WHEN g = 0 THEN m END) AS m0,
               MAX(CASE WHEN g = 1 THEN v END) AS v1,
               MAX(CASE WHEN g = 0 THEN v END) AS v0
        FROM st_ GROUP BY cov
    )
    SELECT cov AS covariate, n1 AS n_fri_sat, n0 AS n_sun_thu,
           round((m1 - m0) / sqrt((v1 + v0) / 2.0), 6) + 0.0
               AS smd,
           round(v1 / v0, 6) + 0.0 AS variance_ratio,
           CAST(CASE WHEN abs((m1 - m0) / sqrt((v1 + v0) / 2.0))
                          < 0.1
                     THEN 1 ELSE 0 END AS INT) AS balanced_01
    FROM wide ORDER BY covariate
    """,
)
def covariate_balance_smd(spark, sf_dir):
    """COVARIATE-BALANCE table for the Fri/Sat "treatment": the
    standardized mean difference (m1-m0)/sqrt((v1+v0)/2) and
    variance ratio for order value, priority ordinal, and
    problem-status flag, with the conventional |SMD| < 0.1 balance
    flag — the first table of every observational-causal report
    (before `iv_wald_weekend` or the IPW/standardization ATE pair
    run, THIS says whether the cohorts are comparable at all; SMD is
    scale-free where a t-test conflates imbalance with sample
    size). Variance ratio outside ~[0.5, 2] flags dispersion
    imbalance SMD can't see.

    Exactness: all three covariates fold as 8-dp rounded doubles
    through DECIMAL(38,8) (value is exact cents scaled; the other
    two are small integers, exactly representable); SMDs are
    terminal trees. Plan: one scan into a 3-covariate long frame
    (one union, single pass each), one (covariate, cohort) fold."""
    o = t(spark, sf_dir, "orders")
    lab = o.select(
        F.when(
            (
                F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
                + 4
            ).cast("bigint")
            % 7
            >= 5,
            1,
        )
        .otherwise(0)
        .alias("g"),
        ((dec("o_totalprice", 18, 2) * 100).cast("bigint") / 100000.0).alias(
            "value_kusd"
        ),
        F.substring("o_orderpriority", 1, 1)
        .cast("bigint")
        .cast("double")
        .alias("priority_ordinal"),
        F.when(F.col("o_orderstatus") == "P", 1.0)
        .otherwise(0.0)
        .alias("status_p_flag"),
    )
    long = None
    for cov in ("priority_ordinal", "status_p_flag", "value_kusd"):
        part = lab.select(
            "g", F.lit(cov).alias("cov"), F.col(cov).alias("x")
        )
        long = part if long is None else long.unionByName(part)
    mom = long.groupBy("cov", "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round("x", 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("s"),
        F.sum(
            F.round(F.col("x") * F.col("x"), 8).cast("decimal(38,8)")
        )
        .cast("double")
        .alias("ss"),
    )
    n = F.col("n")
    st_ = mom.select(
        "cov",
        "g",
        n.alias("n"),
        (F.col("s") / n).alias("m"),
        ((F.col("ss") - F.col("s") * F.col("s") / n) / (n - 1.0)).alias(
            "v"
        ),
    )
    wide = st_.groupBy("cov").agg(
        F.max(F.when(F.col("g") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("g") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("g") == 1, F.col("m"))).alias("m1"),
        F.max(F.when(F.col("g") == 0, F.col("m"))).alias("m0"),
        F.max(F.when(F.col("g") == 1, F.col("v"))).alias("v1"),
        F.max(F.when(F.col("g") == 0, F.col("v"))).alias("v0"),
    )
    smd = (F.col("m1") - F.col("m0")) / F.sqrt(
        (F.col("v1") + F.col("v0")) / 2.0
    )
    return wide.select(
        F.col("cov").alias("covariate"),
        F.col("n1").alias("n_fri_sat"),
        F.col("n0").alias("n_sun_thu"),
        (F.round(smd, 6) + 0.0).alias("smd"),
        (F.round(F.col("v1") / F.col("v0"), 6) + 0.0).alias(
            "variance_ratio"
        ),
        F.when(F.abs(smd) < 0.1, 1)
        .otherwise(0)
        .cast("int")
        .alias("balanced_01"),
    ).orderBy("covariate")


# --------------------------------------------------------------------------
# VanderWeele E-value sensitivity for the Fri/Sat -> P-status RR
# --------------------------------------------------------------------------
@register(
    "vanderweele_evalue",
    oracle="""
    WITH lab AS (
        SELECT CASE WHEN CAST(epoch_us(o_orderdate) // 86400000000
                         + 4 AS BIGINT) % 7 >= 5
                    THEN 1 ELSE 0 END AS g,
               CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    c AS (
        SELECT CAST(SUM(CASE WHEN g = 1 THEN y ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(SUM(g) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN g = 0 THEN y ELSE 0 END)
                    AS BIGINT) AS b,
               CAST(SUM(1 - g) AS BIGINT) AS n0
        FROM lab
    ),
    rr AS (
        SELECT a, n1, b, n0,
               round((CAST(a AS DOUBLE) / n1)
                     / (CAST(b AS DOUBLE) / n0), 10) AS r,
               sqrt(1.0 / a - 1.0 / n1 + 1.0 / b - 1.0 / n0) AS se
        FROM c
    ),
    dir_ AS (
        SELECT a, n1, b, n0, r, se,
               CASE WHEN r >= 1.0 THEN r ELSE 1.0 / r END AS rstar,
               CASE WHEN r >= 1.0
                    THEN exp(ln(r) - 1.959963985 * se)
                    ELSE 1.0 / exp(ln(r) + 1.959963985 * se)
               END AS rci
        FROM rr
    )
    SELECT a AS fri_sat_p, n1 AS n_fri_sat,
           b AS sun_thu_p, n0 AS n_sun_thu,
           round(r, 6) + 0.0 AS risk_ratio,
           round(rstar + sqrt(rstar * (rstar - 1.0)), 6) + 0.0
               AS evalue_point,
           round(CASE WHEN rci > 1.0
                      THEN rci + sqrt(rci * (rci - 1.0))
                      ELSE 1.0 END, 6) + 0.0 AS evalue_ci
    FROM dir_
    """,
)
def vanderweele_evalue(spark, sf_dir):
    """VanderWeele-Ding E-VALUE sensitivity analysis for the Fri/Sat
    -> problem-status risk ratio: E = RR* + sqrt(RR*(RR*-1)) (RR*
    the ratio oriented away from 1) is the MINIMUM strength of
    unmeasured confounding — on both the confounder-exposure and
    confounder-outcome associations jointly — required to explain
    the observed RR away; the CI E-value applies the same map to
    the CI limit closer to the null (1.0 exactly when the CI
    crosses 1: no confounding needed). The mandated sensitivity
    line under every observational claim (`peto_odds_ratio`,
    `mantel_haenszel_weekday_strata` estimate the association; this
    prices its robustness).

    Exactness: the 2x2 margins are exact BIGINTs; RR rounds at 10
    dp; the log-normal CI uses the literal z and the exact
    1/a - 1/n1 + 1/b - 1/n0 variance; E-value maps are terminal
    trees with an identical orientation CASE. Plan: one scan, one
    fold."""
    o = t(spark, sf_dir, "orders")
    lab = o.select(
        F.when(
            (
                F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
                + 4
            ).cast("bigint")
            % 7
            >= 5,
            1,
        )
        .otherwise(0)
        .alias("g"),
        F.when(F.col("o_orderstatus") == "P", 1).otherwise(0).alias("y"),
    )
    c = lab.agg(
        F.sum(F.when(F.col("g") == 1, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum("g").cast("bigint").alias("n1"),
        F.sum(F.when(F.col("g") == 0, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(1 - F.col("g")).cast("bigint").alias("n0"),
    )
    r = F.round(
        (F.col("a").cast("double") / F.col("n1"))
        / (F.col("b").cast("double") / F.col("n0")),
        10,
    )
    se = F.sqrt(
        1.0 / F.col("a")
        - 1.0 / F.col("n1")
        + 1.0 / F.col("b")
        - 1.0 / F.col("n0")
    )
    rr = c.select("a", "n1", "b", "n0", r.alias("r"), se.alias("se"))
    rstar = F.when(F.col("r") >= 1.0, F.col("r")).otherwise(
        1.0 / F.col("r")
    )
    rci = F.when(
        F.col("r") >= 1.0,
        F.exp(F.log("r") - 1.959963985 * F.col("se")),
    ).otherwise(
        1.0 / F.exp(F.log("r") + 1.959963985 * F.col("se"))
    )
    d = rr.select(
        "a", "n1", "b", "n0", "r",
        rstar.alias("rstar"), rci.alias("rci"),
    )
    return d.select(
        F.col("a").alias("fri_sat_p"),
        F.col("n1").alias("n_fri_sat"),
        F.col("b").alias("sun_thu_p"),
        F.col("n0").alias("n_sun_thu"),
        (F.round("r", 6) + 0.0).alias("risk_ratio"),
        (
            F.round(
                F.col("rstar")
                + F.sqrt(F.col("rstar") * (F.col("rstar") - 1.0)),
                6,
            )
            + 0.0
        ).alias("evalue_point"),
        (
            F.round(
                F.when(
                    F.col("rci") > 1.0,
                    F.col("rci")
                    + F.sqrt(F.col("rci") * (F.col("rci") - 1.0)),
                ).otherwise(1.0),
                6,
            )
            + 0.0
        ).alias("evalue_ci"),
    )


# --------------------------------------------------------------------------
# Leik ordinal consensus of priority mix per weekday
# --------------------------------------------------------------------------
@register(
    "leik_ordinal_consensus",
    oracle="""
    WITH g AS (
        SELECT CAST((epoch_us(o_orderdate) // 86400000000 + 4) % 7
                    AS BIGINT) AS dow,
               CAST(substr(o_orderpriority, 1, 1) AS INT) AS cat,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1, 2
    ),
    cum AS (
        SELECT dow, cat, c,
               CAST(SUM(c) OVER (PARTITION BY dow ORDER BY cat
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc,
               CAST(SUM(c) OVER (PARTITION BY dow) AS BIGINT) AS n
        FROM g
    ),
    dterm AS (
        SELECT dow, n,
               CASE WHEN 2 * cc <= n
                    THEN CAST(cc AS DOUBLE) / n
                    ELSE 1.0 - CAST(cc AS DOUBLE) / n END AS dk
        FROM cum WHERE cat < 5
    )
    SELECT dow, CAST(MAX(n) AS BIGINT) AS n_orders,
           round(SUM(round(dk, 10)) * 2.0 / 4.0, 8) + 0.0
               AS leik_d
    FROM dterm GROUP BY dow ORDER BY dow
    """,
)
def leik_ordinal_consensus(spark, sf_dir):
    """Leik's ordinal CONSENSUS/DISPERSION measure D of the priority
    mix per weekday: for each of the K-1 interior cumulative shares
    take min(F_k, 1-F_k) and scale by 2/(K-1) — D = 0 is perfect
    consensus (every order one priority), D = 1 perfect
    polarization (half 1-URGENT, half 5-LOW) — the ORDINAL
    dispersion that entropy and Gini get wrong: both read
    bimodal-at-the-extremes and uniform as similar, while for an
    ordered scale polarization is the more dispersed state. The
    day-of-week panel reads as "which days have contested
    priorities".

    Exactness: category cumulative counts are exact BIGINTs per
    dow; each D term is an exact ratio rounded at 10 dp; the 4-term
    fold is bounded. Plan: one rollup to 35 cells, one
    dow-partitioned prefix, one 7-group fold."""
    o = t(spark, sf_dir, "orders")
    g = o.groupBy(
        ((F.floor(F.unix_micros("o_orderdate") / 86_400_000_000) + 4) % 7)
        .cast("bigint")
        .alias("dow"),
        F.substring("o_orderpriority", 1, 1).cast("int").alias("cat"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    cum = g.select(
        "dow",
        "cat",
        F.sum("c")
        .over(
            Window.partitionBy("dow")
            .orderBy("cat")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .cast("bigint")
        .alias("cc"),
        F.sum("c")
        .over(Window.partitionBy("dow"))
        .cast("bigint")
        .alias("n"),
    )
    dterm = cum.where(F.col("cat") < 5).select(
        "dow",
        "n",
        F.when(
            2 * F.col("cc") <= F.col("n"),
            F.col("cc").cast("double") / F.col("n"),
        )
        .otherwise(1.0 - F.col("cc").cast("double") / F.col("n"))
        .alias("dk"),
    )
    return (
        dterm.groupBy("dow")
        .agg(
            F.max("n").cast("bigint").alias("n_orders"),
            (
                F.round(F.sum(F.round("dk", 10)) * 2.0 / 4.0, 8) + 0.0
            ).alias("leik_d"),
        )
        .orderBy("dow")
    )


# --------------------------------------------------------------------------
# Pooled Greenwood spacing statistic over per-user event timelines
# --------------------------------------------------------------------------
@register(
    "greenwood_spacing_uniformity",
    oracle="""
    WITH seq AS (
        SELECT user_id, epoch_us(ts) AS tu,
               LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev
        FROM events
    ),
    gaps AS (
        SELECT user_id, CAST(tu - prev AS BIGINT) AS gap
        FROM seq WHERE prev IS NOT NULL
    ),
    peruser AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(gap) AS BIGINT) AS span,
               CAST(SUM(CAST(gap AS DECIMAL(19,0)) * gap)
                    AS DECIMAL(38,0)) AS g2
        FROM gaps GROUP BY user_id
        HAVING COUNT(*) >= 2 AND SUM(gap) > 0
    ),
    terms AS (
        SELECT round(CAST(g2 AS DOUBLE)
                     / (CAST(span AS DOUBLE) * span), 10) AS g,
               2.0 / (m + 1.0) AS eg,
               (24.0 + 4.0 * (m - 1.0))
                   / ((m + 1.0) * (m + 2.0) * (m + 3.0))
               - 4.0 / ((m + 1.0) * (m + 1.0)) AS vg
        FROM peruser
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS u,
               CAST(SUM(CAST(round(g, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS sg,
               CAST(SUM(CAST(round(eg, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS se_,
               CAST(SUM(CAST(round(vg, 12) AS DECIMAL(28,12)))
                    AS DOUBLE) AS sv
        FROM terms
    )
    SELECT u AS n_users,
           round(sg, 6) + 0.0 AS greenwood_sum,
           round(se_, 6) + 0.0 AS expected_sum,
           round((sg - se_) / sqrt(sv), 6) + 0.0 AS z_pooled
    FROM fold
    """,
)
def greenwood_spacing_uniformity(spark, sf_dir):
    """Pooled GREENWOOD spacing statistic over per-user event
    timelines: each user's normalized squared spacings G_u =
    sum(gap^2)/span^2 against the exact Dirichlet null moments
    E[G] = 2/(m+1) and Var[G] = (24+4(m-1))/((m+1)(m+2)(m+3)) -
    4/(m+1)^2 (m = the user's gap count), summed across users into
    one z — G above expectation reads as BURSTY timelines (a few
    huge gaps dominate), below as overly-regular, metronomic ones;
    the spacings-based uniformity lens beside `ks_exponential_gaps`
    (ECDF lens) and `burstiness_memory_panel` (CV lens). The
    per-user moments are the EXACT flat-Dirichlet formulas (a!b!
    (m-1)!/(m-1+a+b)! products), not asymptotics.

    Exactness: gaps and spans are exact micros BIGINTs; per-user
    squared-gap sums widen through DECIMAL(19,0); each G/E/Var term
    rounds at 10-12 dp into DECIMAL folds (order-free across
    users). Plan: user-partitioned lag, one per-user rollup, one
    fold — no global sorts."""
    e = t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = e.select(
        "user_id", (us - F.lag(us).over(wu)).alias("gap")
    ).where(F.col("gap").isNotNull())
    peruser = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.sum("gap").cast("bigint").alias("span"),
            F.sum(F.col("gap").cast("decimal(19,0)") * F.col("gap"))
            .cast("decimal(38,0)")
            .alias("g2"),
        )
        .where((F.col("m") >= 2) & (F.col("span") > 0))
    )
    m = F.col("m").cast("double")
    g = F.round(
        F.col("g2").cast("double")
        / (F.col("span").cast("double") * F.col("span")),
        10,
    )
    eg = 2.0 / (m + 1.0)
    vg = (24.0 + 4.0 * (m - 1.0)) / (
        (m + 1.0) * (m + 2.0) * (m + 3.0)
    ) - 4.0 / ((m + 1.0) * (m + 1.0))
    terms = peruser.select(
        g.alias("g"), eg.alias("eg"), vg.alias("vg")
    )
    fold = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("u"),
        F.sum(F.round("g", 10).cast("decimal(28,10)"))
        .cast("double")
        .alias("sg"),
        F.sum(F.round("eg", 10).cast("decimal(28,10)"))
        .cast("double")
        .alias("se_"),
        F.sum(F.round("vg", 12).cast("decimal(28,12)"))
        .cast("double")
        .alias("sv"),
    )
    return fold.select(
        F.col("u").alias("n_users"),
        (F.round("sg", 6) + 0.0).alias("greenwood_sum"),
        (F.round("se_", 6) + 0.0).alias("expected_sum"),
        (
            F.round(
                (F.col("sg") - F.col("se_")) / F.sqrt(F.col("sv")), 6
            )
            + 0.0
        ).alias("z_pooled"),
    )


# --------------------------------------------------------------------------
# Brand systematic beta vs the total daily revenue "market"
# --------------------------------------------------------------------------
@register(
    "brand_beta_systematic",
    oracle="""
    WITH bd AS (
        SELECT p.p_brand AS b,
               CAST(epoch_us(l.l_shipdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                             * 100 AS BIGINT)) AS BIGINT) AS y
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ),
    mkt AS (
        SELECT d, CAST(SUM(y) AS BIGINT) AS m FROM bd GROUP BY d
    ),
    j AS (
        SELECT bd.b, bd.y, mkt.m
        FROM bd JOIN mkt ON bd.d = mkt.d
    ),
    mom AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(m) AS BIGINT) AS sm,
               CAST(SUM(CAST(y AS DECIMAL(19,0)) * y)
                    AS DECIMAL(38,0)) AS syy,
               CAST(SUM(CAST(m AS DECIMAL(19,0)) * m)
                    AS DECIMAL(38,0)) AS smm,
               CAST(SUM(CAST(y AS DECIMAL(19,0)) * m)
                    AS DECIMAL(38,0)) AS sym
        FROM j GROUP BY b
    ),
    st AS (
        SELECT b, n,
               (n * CAST(sym AS DOUBLE)
                - CAST(sy AS DOUBLE) * sm)
               / (n * CAST(smm AS DOUBLE)
                  - CAST(sm AS DOUBLE) * sm) AS beta,
               pow(n * CAST(sym AS DOUBLE)
                   - CAST(sy AS DOUBLE) * sm, 2)
               / ((n * CAST(smm AS DOUBLE)
                   - CAST(sm AS DOUBLE) * sm)
                  * (n * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * sy)) AS r2
        FROM mom
    )
    SELECT b AS brand, n AS n_days,
           round(beta, 8) + 0.0 AS beta_systematic,
           round(r2, 8) + 0.0 AS r2_systematic,
           round(1.0 - r2, 8) + 0.0 AS idiosyncratic_share
    FROM st ORDER BY brand
    """,
)
def brand_beta_systematic(spark, sf_dir):
    """Per-brand SYSTEMATIC BETA of daily shipped revenue against the
    total-market daily revenue: the portfolio decomposition applied
    to a product catalog — beta > 1 brands amplify market-wide
    demand swings, beta < 1 brands damp them, and 1 - R^2 is each
    brand's IDIOSYNCRATIC share (the part hedged away by the rest
    of the catalog) — the demand-planning covariance readout that
    per-brand trend fits can't see because it is a CROSS-SERIES
    property. 25 regressions, one grouped moment fold.

    Exactness: per-(brand, day) revenues are exact cents; the
    market join is day-grain; all five moments per brand fold
    DECIMAL(19,0)-widened products; beta/R^2 are terminal trees
    (a brand's own revenue is part of the market index — the
    textbook single-index convention, documented). Plan: one join
    rollup, one day rollup, one day-grain equi-join, one 25-group
    fold."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    bd = (
        li.join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy(
            F.col("p_brand").alias("b"),
            F.floor(F.unix_micros("l_shipdate") / 86_400_000_000)
            .cast("bigint")
            .alias("d"),
        )
        .agg(
            F.sum(
                (dec("l_extendedprice", 18, 2) * 100).cast("bigint")
            )
            .cast("bigint")
            .alias("y")
        )
        .persist()
    )
    mkt = bd.groupBy("d").agg(F.sum("y").cast("bigint").alias("m"))
    j = bd.join(mkt, "d").select("b", "y", "m")
    mom = j.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("m").cast("bigint").alias("sm"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("syy"),
        F.sum(F.col("m").cast("decimal(19,0)") * F.col("m"))
        .cast("decimal(38,0)")
        .alias("smm"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("m"))
        .cast("decimal(38,0)")
        .alias("sym"),
    )
    n = F.col("n")
    num = n * F.col("sym").cast("double") - F.col("sy").cast("double") * F.col("sm")
    den = n * F.col("smm").cast("double") - F.col("sm").cast("double") * F.col("sm")
    deny = n * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy")
    return mom.select(
        F.col("b").alias("brand"),
        n.alias("n_days"),
        (F.round(num / den, 8) + 0.0).alias("beta_systematic"),
        (F.round(num * num / (den * deny), 8) + 0.0).alias(
            "r2_systematic"
        ),
        (F.round(1.0 - num * num / (den * deny), 8) + 0.0).alias(
            "idiosyncratic_share"
        ),
    ).orderBy("brand")


# --------------------------------------------------------------------------
# Lognormal vs exponential model shootout on order values
# --------------------------------------------------------------------------
@register(
    "lognormal_vs_exponential_fit",
    oracle="""
    WITH pts AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v,
               round(ln(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                             * 100 AS BIGINT) / 100000.0), 10) AS l
        FROM orders
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS sv,
               CAST(SUM(CAST(round(l, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS sl,
               CAST(SUM(CAST(round(l * l, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS sll
        FROM pts
    ),
    fit AS (
        SELECT n,
               CAST(sv AS DOUBLE) / n / 100000.0 AS mean_k,
               sl / n AS mu,
               (sll - sl * sl / n) / n AS sig2
        FROM mom
    ),
    ll AS (
        SELECT n, mean_k, mu, sig2,
               -n * (ln(mean_k) + 1.0) AS ll_exp,
               -n * 0.5 * (ln(2.0 * 3.141592653589793 * sig2) + 1.0)
                   - n * mu AS ll_lognorm
        FROM fit
    )
    SELECT n AS n_orders,
           round(mu, 6) + 0.0 AS lognorm_mu,
           round(sqrt(sig2), 6) + 0.0 AS lognorm_sigma,
           round(mean_k, 6) + 0.0 AS exp_mean_kusd,
           round(ll_lognorm / n, 8) + 0.0 AS mean_ll_lognormal,
           round(ll_exp / n, 8) + 0.0 AS mean_ll_exponential,
           round(2.0 * (ll_lognorm - ll_exp) - 2.0, 4) + 0.0
               AS aic_delta_pro_lognormal
    FROM ll
    """,
)
def lognormal_vs_exponential_fit(spark, sf_dir):
    """Model SHOOTOUT for the order-value distribution: lognormal
    (MLE mu/sigma from log moments) vs exponential (MLE = mean),
    compared by their maximized log-likelihoods in closed form —
    exponential: -n(ln xbar + 1); lognormal: -n/2 ln(2 pi sig^2) -
    n/2 - n mu (the sum-of-logs Jacobian term) — and the AIC delta
    (lognormal pays one extra parameter). The parametric-choice
    question under every capacity/LTV simulation; `weibull_median_
    rank_fit` and the EVT fits cover tails, this decides the BODY.
    Values in k$ so both likelihoods share a scale (the delta is
    scale-invariant; the per-point means are not).

    Exactness: cents are exact; log terms round at 10 dp into
    DECIMAL(28,10) folds; both likelihoods are terminal
    closed-form trees — no density evaluation pass. Plan: one scan,
    one fold."""
    o = t(spark, sf_dir, "orders")
    cents = (dec("o_totalprice", 18, 2) * 100).cast("bigint")
    pts = o.select(
        cents.alias("v"),
        F.round(F.log(cents / 100000.0), 10).alias("l"),
    )
    mom = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("sv"),
        F.sum(F.round("l", 10).cast("decimal(28,10)"))
        .cast("double")
        .alias("sl"),
        F.sum(
            F.round(F.col("l") * F.col("l"), 10).cast("decimal(28,10)")
        )
        .cast("double")
        .alias("sll"),
    )
    n = F.col("n")
    mean_k = F.col("sv").cast("double") / n / 100000.0
    mu = F.col("sl") / n
    sig2 = (F.col("sll") - F.col("sl") * F.col("sl") / n) / n
    ll_exp = -n * (F.log(mean_k) + 1.0)
    ll_ln = (
        -n * 0.5 * (F.log(2.0 * 3.141592653589793 * sig2) + 1.0)
        - n * mu
    )
    fit = mom.select(
        n.alias("n"),
        mean_k.alias("mean_k"),
        mu.alias("mu"),
        sig2.alias("sig2"),
        ll_exp.alias("ll_exp"),
        ll_ln.alias("ll_ln"),
    )
    return fit.select(
        F.col("n").alias("n_orders"),
        (F.round("mu", 6) + 0.0).alias("lognorm_mu"),
        (F.round(F.sqrt("sig2"), 6) + 0.0).alias("lognorm_sigma"),
        (F.round("mean_k", 6) + 0.0).alias("exp_mean_kusd"),
        (F.round(F.col("ll_ln") / F.col("n"), 8) + 0.0).alias(
            "mean_ll_lognormal"
        ),
        (F.round(F.col("ll_exp") / F.col("n"), 8) + 0.0).alias(
            "mean_ll_exponential"
        ),
        (
            F.round(
                2.0 * (F.col("ll_ln") - F.col("ll_exp")) - 2.0, 4
            )
            + 0.0
        ).alias("aic_delta_pro_lognormal"),
    )


# --------------------------------------------------------------------------
# Supplier price dispersion: law-of-one-price audit per part
# --------------------------------------------------------------------------
@register(
    "supplier_price_dispersion",
    oracle="""
    WITH unit AS (
        SELECT l_partkey AS pk, l_suppkey AS sk,
               round(CAST(SUM(CAST(CAST(l_extendedprice
                                        AS DECIMAL(18,2)) * 100
                                   AS BIGINT)) AS DOUBLE)
                     / SUM(CAST(l_quantity AS BIGINT)) / 100.0, 6)
                   AS p
        FROM lineitem GROUP BY 1, 2
    ),
    disp AS (
        SELECT pk,
               CAST(COUNT(*) AS BIGINT) AS n_supp,
               CAST(SUM(CAST(round(p, 6) AS DECIMAL(28,6)))
                    AS DOUBLE) AS sp,
               CAST(SUM(CAST(round(p * p, 6) AS DECIMAL(28,6)))
                    AS DOUBLE) AS spp,
               MIN(p) AS pmin, MAX(p) AS pmax
        FROM unit GROUP BY pk HAVING COUNT(*) >= 3
    ),
    cv AS (
        SELECT pk, n_supp,
               round(sqrt((spp - sp * sp / n_supp)
                          / (n_supp - 1.0))
                     / (sp / n_supp), 8) AS cvr,
               round(pmax / pmin, 6) AS range_ratio
        FROM disp
    )
    SELECT pk AS partkey, n_supp AS n_suppliers,
           cvr + 0.0 AS price_cv,
           range_ratio + 0.0 AS max_over_min
    FROM cv
    ORDER BY cvr DESC, pk ASC LIMIT 10
    """,
)
def supplier_price_dispersion(spark, sf_dir):
    """LAW-OF-ONE-PRICE audit: per-part unit-price dispersion ACROSS
    SUPPLIERS — the coefficient of variation and max/min ratio of
    each part's per-supplier average unit price, top-10 most
    dispersed (parts sold by >= 3 suppliers) — the procurement
    arbitrage readout (identical part, different supplier, 2x the
    price) that per-part averages hide completely; economics reads
    price dispersion as search-cost measure, purchasing reads it as
    savings pipeline. Complements `tpch_q2_min_cost_supplier`
    (which finds THE cheapest; this measures how much being wrong
    costs).

    Exactness: per-(part, supplier) unit prices are exact-cents
    ratios rounded at 6 dp; the dispersion moments fold 6-dp
    rounded terms through DECIMAL(28,6); the top-10 is a total
    order (cv desc, partkey). Plan: one rollup, one per-part fold,
    one top-10."""
    li = t(spark, sf_dir, "lineitem")
    unit = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(
        F.round(
            F.sum(
                (dec("l_extendedprice", 18, 2) * 100).cast("bigint")
            ).cast("double")
            / F.sum(F.col("l_quantity").cast("bigint"))
            / 100.0,
            6,
        ).alias("p")
    )
    disp = (
        unit.groupBy("pk")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_supp"),
            F.sum(F.round("p", 6).cast("decimal(28,6)"))
            .cast("double")
            .alias("sp"),
            F.sum(
                F.round(F.col("p") * F.col("p"), 6).cast(
                    "decimal(28,6)"
                )
            )
            .cast("double")
            .alias("spp"),
            F.min("p").alias("pmin"),
            F.max("p").alias("pmax"),
        )
        .where(F.col("n_supp") >= 3)
    )
    n = F.col("n_supp")
    cvr = F.round(
        F.sqrt(
            (F.col("spp") - F.col("sp") * F.col("sp") / n) / (n - 1.0)
        )
        / (F.col("sp") / n),
        8,
    )
    cv = disp.select(
        "pk",
        "n_supp",
        cvr.alias("cvr"),
        F.round(F.col("pmax") / F.col("pmin"), 6).alias("range_ratio"),
    )
    return (
        cv.orderBy(F.col("cvr").desc(), F.col("pk").asc())
        .limit(10)
        .select(
            F.col("pk").alias("partkey"),
            F.col("n_supp").alias("n_suppliers"),
            (F.col("cvr") + 0.0).alias("price_cv"),
            (F.col("range_ratio") + 0.0).alias("max_over_min"),
        )
    )


# --------------------------------------------------------------------------
# Exceedance correlation: clicks->purchases coupling, up vs down days
# --------------------------------------------------------------------------
@register(
    "exceedance_correlation",
    oracle="""
    WITH ev2 AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CASE WHEN event_type = 'click'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    grid AS (
        SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM ev2 GROUP BY x
    ),
    cum AS (
        SELECT v,
               SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW) AS cc,
               SUM(c) OVER () AS n
        FROM grid
    ),
    med AS (SELECT CAST(MIN(v) AS BIGINT) AS med FROM cum
            WHERE 2 * cc >= n),
    lab AS (
        SELECT CASE WHEN ev2.x > med.med THEN 1 ELSE 0 END AS up,
               x, y
        FROM ev2, med
    ),
    mom AS (
        SELECT up, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(19,0)) * x)
                    AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(y AS DECIMAL(19,0)) * y)
                    AS DECIMAL(38,0)) AS syy,
               CAST(SUM(CAST(x AS DECIMAL(19,0)) * y)
                    AS DECIMAL(38,0)) AS sxy
        FROM lab GROUP BY up
    ),
    rr AS (
        SELECT up, n,
               round((n * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * sy)
                     / sqrt((n * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * sx)
                            * (n * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * sy)), 8) AS r
        FROM mom
    )
    SELECT MAX(CASE WHEN up = 1 THEN n END) AS n_up_days,
           MAX(CASE WHEN up = 1 THEN r END) + 0.0 AS r_up,
           MAX(CASE WHEN up = 0 THEN n END) AS n_down_days,
           MAX(CASE WHEN up = 0 THEN r END) + 0.0 AS r_down,
           round(MAX(CASE WHEN up = 1 THEN r END)
                 - MAX(CASE WHEN up = 0 THEN r END), 8) + 0.0
               AS exceedance_asymmetry
    FROM rr
    """,
)
def exceedance_correlation(spark, sf_dir):
    """EXCEEDANCE correlation of the daily clicks->purchases
    coupling: Pearson r computed separately on the days where click
    volume EXCEEDS its median vs the days below — dependence that
    strengthens in one tail (r_up >> r_down) is invisible to the
    single global correlation and is the standard early warning in
    risk ("assets correlate when everything falls"); in funnel
    terms, conversion coupling that only holds on busy days is a
    capacity story, not a demand story. The median split uses the
    exact lower median of the click grid.

    Exactness: per-regime moments fold exact BIGINT counts through
    DECIMAL(19,0) widens; each r rounds at 8 dp; the asymmetry is a
    terminal difference. Plan: one day rollup, one value-grid
    cumulative for the median, one 2-group fold."""
    e = t(spark, sf_dir, "events")
    ev2 = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    ).persist()
    grid = ev2.groupBy(F.col("x").alias("v")).agg(
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
        F.min("v").cast("bigint").alias("med")
    )
    lab = ev2.crossJoin(F.broadcast(med)).select(
        F.when(F.col("x") > F.col("med"), 1).otherwise(0).alias("up"),
        "x",
        "y",
    )
    mom = lab.groupBy("up").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("syy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    n = F.col("n")
    r = F.round(
        (n * F.col("sxy").cast("double")
         - F.col("sx").cast("double") * F.col("sy"))
        / F.sqrt(
            (n * F.col("sxx").cast("double")
             - F.col("sx").cast("double") * F.col("sx"))
            * (n * F.col("syy").cast("double")
               - F.col("sy").cast("double") * F.col("sy"))
        ),
        8,
    )
    rr = mom.select("up", "n", r.alias("r"))
    return rr.agg(
        F.max(F.when(F.col("up") == 1, F.col("n"))).alias("n_up_days"),
        (F.max(F.when(F.col("up") == 1, F.col("r"))) + 0.0).alias(
            "r_up"
        ),
        F.max(F.when(F.col("up") == 0, F.col("n"))).alias(
            "n_down_days"
        ),
        (F.max(F.when(F.col("up") == 0, F.col("r"))) + 0.0).alias(
            "r_down"
        ),
        (
            F.round(
                F.max(F.when(F.col("up") == 1, F.col("r")))
                - F.max(F.when(F.col("up") == 0, F.col("r"))),
                8,
            )
            + 0.0
        ).alias("exceedance_asymmetry"),
    )


# --------------------------------------------------------------------------
# Gini correlation pair (clicks, purchases) on the day frame
# --------------------------------------------------------------------------
@register(
    "gini_correlation_pair",
    oracle="""
    WITH ev2 AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CASE WHEN event_type = 'click'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    xg AS (SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS c
           FROM ev2 GROUP BY x),
    xr AS (
        SELECT v,
               CAST(2 * (SUM(c) OVER (ORDER BY v ROWS BETWEEN
                   UNBOUNDED PRECEDING AND CURRENT ROW) - c)
                   + c + 1 AS BIGINT) AS rank2
        FROM xg
    ),
    yg AS (SELECT y AS v, CAST(COUNT(*) AS BIGINT) AS c
           FROM ev2 GROUP BY y),
    yr AS (
        SELECT v,
               CAST(2 * (SUM(c) OVER (ORDER BY v ROWS BETWEEN
                   UNBOUNDED PRECEDING AND CURRENT ROW) - c)
                   + c + 1 AS BIGINT) AS rank2
        FROM yg
    ),
    j AS (
        SELECT e.x, e.y, xr.rank2 AS rx2, yr.rank2 AS ry2
        FROM ev2 e JOIN xr ON e.x = xr.v JOIN yr ON e.y = yr.v
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(rx2) AS BIGINT) AS srx,
               CAST(SUM(ry2) AS BIGINT) AS sry,
               CAST(SUM(CAST(x AS DECIMAL(19,0)) * ry2)
                    AS DECIMAL(38,0)) AS sxry,
               CAST(SUM(CAST(y AS DECIMAL(19,0)) * rx2)
                    AS DECIMAL(38,0)) AS syrx,
               CAST(SUM(CAST(x AS DECIMAL(19,0)) * rx2)
                    AS DECIMAL(38,0)) AS sxrx,
               CAST(SUM(CAST(y AS DECIMAL(19,0)) * ry2)
                    AS DECIMAL(38,0)) AS syry
        FROM j
    )
    SELECT n AS n_days,
           round((n * CAST(sxry AS DOUBLE)
                  - CAST(sx AS DOUBLE) * sry)
                 / (n * CAST(sxrx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * srx), 8) + 0.0
               AS gini_corr_x_given_y,
           round((n * CAST(syrx AS DOUBLE)
                  - CAST(sy AS DOUBLE) * srx)
                 / (n * CAST(syry AS DOUBLE)
                    - CAST(sy AS DOUBLE) * sry), 8) + 0.0
               AS gini_corr_y_given_x
    FROM mom
    """,
)
def gini_correlation_pair(spark, sf_dir):
    """GINI correlations between daily clicks (x) and purchases (y),
    both directions: Gamma(x;y) = cov(x, F(y))/cov(x, F(x)) — the
    value-of-one against the RANKS-of-the-other hybrid that sits
    exactly between Pearson (value-value: efficient, fragile) and
    Spearman (rank-rank: robust, lossy): it keeps x's magnitudes
    while immunizing against y's outliers, and its ASYMMETRY
    (Gamma(x;y) != Gamma(y;x)) is itself a diagnostic — large gaps
    flag that one marginal's tail drives the dependence. The
    missing member of the registry's dependence bench (pearson /
    spearman / kendall / chatterjee / hoeffding / blomqvist).

    Exactness: midranks x2 are exact integers on the bounded count
    grids; all value-rank cross sums fold DECIMAL(19,0)-widened
    products; both Gammas are terminal ratios. Plan: one day
    rollup, two grid cumulatives, two equi-joins back, one fold."""
    e = t(spark, sf_dir, "events")
    ev2 = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    ).persist()

    def rank2(col):
        g = ev2.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        return g.select(
            "v",
            (
                2
                * (
                    F.sum("c").over(
                        Window.orderBy("v").rowsBetween(
                            Window.unboundedPreceding,
                            Window.currentRow,
                        )
                    )
                    - F.col("c")
                )
                + F.col("c")
                + 1
            )
            .cast("bigint")
            .alias("rank2"),
        )

    xr = rank2("x").select(
        F.col("v").alias("x"), F.col("rank2").alias("rx2")
    )
    yr = rank2("y").select(
        F.col("v").alias("y"), F.col("rank2").alias("ry2")
    )
    j = ev2.join(xr, "x").join(yr, "y")

    def dsum(a_, b_, name):
        return (
            F.sum(F.col(a_).cast("decimal(19,0)") * F.col(b_))
            .cast("decimal(38,0)")
            .alias(name)
        )

    mom = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("rx2").cast("bigint").alias("srx"),
        F.sum("ry2").cast("bigint").alias("sry"),
        dsum("x", "ry2", "sxry"),
        dsum("y", "rx2", "syrx"),
        dsum("x", "rx2", "sxrx"),
        dsum("y", "ry2", "syry"),
    )
    n = F.col("n")
    gxy = (
        n * F.col("sxry").cast("double")
        - F.col("sx").cast("double") * F.col("sry")
    ) / (
        n * F.col("sxrx").cast("double")
        - F.col("sx").cast("double") * F.col("srx")
    )
    gyx = (
        n * F.col("syrx").cast("double")
        - F.col("sy").cast("double") * F.col("srx")
    ) / (
        n * F.col("syry").cast("double")
        - F.col("sy").cast("double") * F.col("sry")
    )
    return mom.select(
        n.alias("n_days"),
        (F.round(gxy, 8) + 0.0).alias("gini_corr_x_given_y"),
        (F.round(gyx, 8) + 0.0).alias("gini_corr_y_given_x"),
    )


# --------------------------------------------------------------------------
# Partial AUC at FPR <= 0.1 with McClish standardization
# --------------------------------------------------------------------------
@register(
    "partial_auc_low_fpr",
    oracle="""
    WITH scored AS (
        SELECT n_chars AS s,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM documents
    ),
    grid AS (
        SELECT s, CAST(SUM(pos) AS BIGINT) AS p,
               CAST(SUM(1 - pos) AS BIGINT) AS q
        FROM scored GROUP BY s
    ),
    cum AS (
        SELECT s,
               CAST(SUM(p) OVER w AS BIGINT) AS cp,
               CAST(SUM(q) OVER w AS BIGINT) AS cq,
               CAST(SUM(p) OVER () AS BIGINT) AS np,
               CAST(SUM(q) OVER () AS BIGINT) AS nq
        FROM grid
        WINDOW w AS (ORDER BY s DESC ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW)
    ),
    pts AS (
        SELECT CAST(cq AS DOUBLE) / nq AS fpr,
               CAST(cp AS DOUBLE) / np AS tpr,
               COALESCE(CAST(LAG(cq) OVER (ORDER BY s DESC)
                             AS DOUBLE) / nq, 0.0) AS fpr0,
               COALESCE(CAST(LAG(cp) OVER (ORDER BY s DESC)
                             AS DOUBLE) / np, 0.0) AS tpr0
        FROM cum
    ),
    seg AS (
        SELECT fpr0, fpr, tpr0, tpr,
               CASE
                 WHEN fpr <= 0.1 THEN
                   (fpr - fpr0) * (tpr0 + tpr) / 2.0
                 WHEN fpr0 < 0.1 THEN
                   (0.1 - fpr0)
                   * (tpr0 + (tpr0 + (tpr - tpr0)
                      * (0.1 - fpr0) / (fpr - fpr0))) / 2.0
                 ELSE 0.0
               END AS a
        FROM pts WHERE fpr > fpr0
    ),
    pauc AS (
        SELECT CAST(SUM(CAST(round(a, 12) AS DECIMAL(28,12)))
                    AS DOUBLE) AS p
        FROM seg
    )
    SELECT round(p, 8) + 0.0 AS pauc_01,
           round(0.5 * (1.0 + (p - 0.005) / (0.1 - 0.005)), 8)
               + 0.0 AS mcclish_standardized
    FROM pauc
    """,
)
def partial_auc_low_fpr(spark, sf_dir):
    """PARTIAL AUC of the document-length -> lang='en' classifier,
    restricted to the FPR <= 0.1 operating region, with McClish
    standardization 0.5(1 + (pAUC - A_min)/(A_max - A_min)) — the
    region a production quality filter actually RUNS in: a model
    can win on full AUC (`auc_rank_score`, same score and label
    frame) while losing exactly where the threshold will sit; pAUC
    is the deployment-honest ranking metric. Trapezoid integration
    over the tie-grouped ROC steps, with the boundary segment
    linearly interpolated to FPR = 0.1 exactly.

    Exactness: cumulative TP/FP counts are exact BIGINTs on the
    bounded score grid (descending — the auc_rank_score class);
    segment areas round at 12 dp into a DECIMAL(28,12) fold;
    A_min = c^2/2 and A_max = c are literals. Plan: one rollup to
    the score grid, one reverse cumulative + lag, one fold."""
    d = t(spark, sf_dir, "documents")
    scored = d.select(
        F.col("n_chars").alias("s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    grid = scored.groupBy("s").agg(
        F.sum("pos").cast("bigint").alias("p"),
        F.sum(1 - F.col("pos")).cast("bigint").alias("q"),
    )
    wdesc = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grid.select(
        "s",
        F.sum("p").over(wdesc).cast("bigint").alias("cp"),
        F.sum("q").over(wdesc).cast("bigint").alias("cq"),
        F.sum("p").over(Window.partitionBy()).cast("bigint").alias("np"),
        F.sum("q").over(Window.partitionBy()).cast("bigint").alias("nq"),
    )
    wlag = Window.orderBy(F.col("s").desc())
    pts = cum.select(
        (F.col("cq").cast("double") / F.col("nq")).alias("fpr"),
        (F.col("cp").cast("double") / F.col("np")).alias("tpr"),
        F.coalesce(
            F.lag("cq").over(wlag).cast("double") / F.col("nq"),
            F.lit(0.0),
        ).alias("fpr0"),
        F.coalesce(
            F.lag("cp").over(wlag).cast("double") / F.col("np"),
            F.lit(0.0),
        ).alias("tpr0"),
    )
    fpr, tpr = F.col("fpr"), F.col("tpr")
    fpr0, tpr0 = F.col("fpr0"), F.col("tpr0")
    interp = tpr0 + (tpr - tpr0) * (0.1 - fpr0) / (fpr - fpr0)
    a = (
        F.when(fpr <= 0.1, (fpr - fpr0) * (tpr0 + tpr) / 2.0)
        .when(fpr0 < 0.1, (0.1 - fpr0) * (tpr0 + interp) / 2.0)
        .otherwise(0.0)
    )
    seg = pts.where(fpr > fpr0).select(a.alias("a"))
    pauc = seg.agg(
        F.sum(F.round("a", 12).cast("decimal(28,12)"))
        .cast("double")
        .alias("p")
    )
    return pauc.select(
        (F.round("p", 8) + 0.0).alias("pauc_01"),
        (
            F.round(
                0.5 * (1.0 + (F.col("p") - 0.005) / (0.1 - 0.005)), 8
            )
            + 0.0
        ).alias("mcclish_standardized"),
    )


# --------------------------------------------------------------------------
# Direct priority-standardized P-status rates per nation
# --------------------------------------------------------------------------
@register(
    "direct_standardized_rates",
    oracle="""
    WITH lab AS (
        SELECT c.c_nationkey AS nk, o.o_orderpriority AS pri,
               CASE WHEN o.o_orderstatus = 'P' THEN 1 ELSE 0 END
                   AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    std AS (
        SELECT pri, CAST(COUNT(*) AS BIGINT) AS w,
               CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS wt
        FROM lab GROUP BY pri
    ),
    cell AS (
        SELECT nk, pri, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS k
        FROM lab GROUP BY nk, pri
    ),
    rates AS (
        SELECT c.nk,
               CAST(SUM(c.n) AS BIGINT) AS n_orders,
               CAST(SUM(c.k) AS BIGINT) AS n_p,
               CAST(SUM(CAST(round(
                   (CAST(c.k AS DOUBLE) / c.n)
                   * (CAST(s.w AS DOUBLE) / s.wt), 12)
                   AS DECIMAL(28,12))) AS DOUBLE) AS std_rate
        FROM cell c JOIN std s ON c.pri = s.pri
        GROUP BY c.nk
    )
    SELECT nk AS nationkey, n_orders,
           round(CAST(n_p AS DOUBLE) / n_orders, 8) + 0.0
               AS crude_rate,
           round(std_rate, 8) + 0.0 AS standardized_rate,
           round(std_rate / (CAST(n_p AS DOUBLE) / n_orders), 6)
               + 0.0 AS std_over_crude
    FROM rates ORDER BY nationkey
    """,
)
def direct_standardized_rates(spark, sf_dir):
    """DIRECT priority-standardization of each nation's problem-
    status rate: re-weight the nation's per-priority rates by the
    GLOBAL priority mix — the league-table correction that makes
    nations with different order-priority case-mixes comparable,
    and the DIRECT counterpart of the registry's
    `indirect_standardization_sir` (SIR asks "given your mix, how
    many cases were expected"; direct asks "what would your rate be
    on the standard mix" — direct is comparable BETWEEN nations,
    SIR only against the reference). std/crude far from 1 flags
    exactly the nations whose raw ranking is a case-mix artifact.

    Exactness: all cell counts are exact BIGINTs; each weighted
    term rounds at 12 dp into a DECIMAL(28,12) fold (5 terms per
    nation, order-free); rates are terminal ratios. Plan: one join
    scan, one 5-row standard-mix rollup, one 125-cell rollup, one
    broadcast join + 25-group fold."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    lab = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_nationkey").alias("nk"),
        F.col("o_orderpriority").alias("pri"),
        F.when(F.col("o_orderstatus") == "P", 1).otherwise(0).alias("y"),
    )
    std = lab.groupBy("pri").agg(
        F.count(F.lit(1)).cast("bigint").alias("w")
    )
    std = std.crossJoin(
        F.broadcast(std.agg(F.sum("w").cast("bigint").alias("wt")))
    )
    cell = lab.groupBy("nk", "pri").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("k"),
    )
    rates = (
        cell.join(F.broadcast(std), "pri")
        .groupBy("nk")
        .agg(
            F.sum("n").cast("bigint").alias("n_orders"),
            F.sum("k").cast("bigint").alias("n_p"),
            F.sum(
                F.round(
                    (F.col("k").cast("double") / F.col("n"))
                    * (F.col("w").cast("double") / F.col("wt")),
                    12,
                ).cast("decimal(28,12)")
            )
            .cast("double")
            .alias("std_rate"),
        )
    )
    crude = F.col("n_p").cast("double") / F.col("n_orders")
    return rates.select(
        F.col("nk").alias("nationkey"),
        "n_orders",
        (F.round(crude, 8) + 0.0).alias("crude_rate"),
        (F.round("std_rate", 8) + 0.0).alias("standardized_rate"),
        (F.round(F.col("std_rate") / crude, 6) + 0.0).alias(
            "std_over_crude"
        ),
    ).orderBy("nationkey")


# --------------------------------------------------------------------------
# Compound (frequency x severity) variance decomposition of revenue
# --------------------------------------------------------------------------
@register(
    "frequency_severity_decomposition",
    oracle="""
    WITH ords AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    xmom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s,
               CAST(SUM(CAST(v AS DECIMAL(19,0)) * v)
                    AS DECIMAL(38,0)) AS ss
        FROM ords
    ),
    days AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS nn,
               CAST(SUM(v) AS BIGINT) AS sv
        FROM ords GROUP BY d
    ),
    span AS (SELECT CAST(min(d) AS BIGINT) AS d0,
                    CAST(max(d) AS BIGINT) AS d1 FROM days),
    fill AS (
        SELECT COALESCE(days.nn, 0) AS nn, COALESCE(days.sv, 0) AS sv
        FROM span,
             LATERAL UNNEST(range(span.d0, span.d1 + 1)) AS u(g)
        LEFT JOIN days ON u.g = days.d
    ),
    dmom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(nn) AS BIGINT) AS sn,
               CAST(SUM(CAST(nn AS DECIMAL(19,0)) * nn)
                    AS DECIMAL(38,0)) AS snn,
               CAST(SUM(sv) AS BIGINT) AS ssv,
               CAST(SUM(CAST(sv AS DECIMAL(19,0)) * sv)
                    AS DECIMAL(38,0)) AS ssvv
        FROM fill
    ),
    stat AS (
        SELECT m,
               (CAST(ssvv AS DOUBLE)
                - CAST(ssv AS DOUBLE) * ssv / m) / (m - 1)
                   / 10000000000.0 AS var_actual,
               CAST(sn AS DOUBLE) / m AS en,
               (CAST(snn AS DOUBLE)
                - CAST(sn AS DOUBLE) * sn / m) / (m - 1) AS vn,
               CAST(xmom.s AS DOUBLE) / xmom.n / 100000.0 AS ex,
               (CAST(xmom.ss AS DOUBLE)
                - CAST(xmom.s AS DOUBLE) * xmom.s / xmom.n)
                   / (xmom.n - 1) / 10000000000.0 AS vx
        FROM dmom, xmom
    )
    SELECT m AS n_days,
           round(var_actual, 4) + 0.0 AS var_daily_actual_kusd2,
           round(en * vx + ex * ex * vn, 4) + 0.0
               AS var_compound_model_kusd2,
           round(en * vx, 4) + 0.0 AS severity_component,
           round(ex * ex * vn, 4) + 0.0 AS frequency_component,
           round(var_actual / (en * vx + ex * ex * vn), 6) + 0.0
               AS actual_over_model
    FROM stat
    """,
)
def frequency_severity_decomposition(spark, sf_dir):
    """COMPOUND-SUM variance decomposition of daily revenue: under
    the collective-risk model S = sum of N iid order values, Var(S)
    = E[N] Var(X) + E[X]^2 Var(N) — the severity component (value
    volatility at fixed traffic) vs the frequency component (count
    volatility at fixed prices). actual/model near 1 certifies the
    independence assumptions every revenue-forecast simulation
    makes; above 1 flags count-value coupling (busy days ALSO have
    bigger orders) or serial structure — the pricing-vs-traffic
    attribution a plain revenue variance cannot give. Zero-filled
    day grid (an absent day is a real N=0 observation).

    Exactness: order-grain and day-grain moments fold exact cents
    and counts through DECIMAL(19,0) widens; all five outputs are
    terminal trees in k$^2. Plan: one scan, one day rollup +
    bounded grid fill, two folds."""
    o = t(spark, sf_dir, "orders")
    ords = o.select(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("d"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v"),
    )
    xmom = ords.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v").cast("decimal(19,0)") * F.col("v"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    days = ords.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("nn"),
        F.sum("v").cast("bigint").alias("sv"),
    )
    span = days.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = span.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("d")
    )
    fill = grid.join(days, "d", "left").select(
        F.coalesce("nn", F.lit(0)).cast("bigint").alias("nn"),
        F.coalesce("sv", F.lit(0)).cast("bigint").alias("sv"),
    )
    dmom = fill.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("nn").cast("bigint").alias("sn"),
        F.sum(F.col("nn").cast("decimal(19,0)") * F.col("nn"))
        .cast("decimal(38,0)")
        .alias("snn"),
        F.sum("sv").cast("bigint").alias("ssv"),
        F.sum(F.col("sv").cast("decimal(19,0)") * F.col("sv"))
        .cast("decimal(38,0)")
        .alias("ssvv"),
    )
    j = dmom.crossJoin(F.broadcast(xmom))
    m = F.col("m")
    var_actual = (
        (
            F.col("ssvv").cast("double")
            - F.col("ssv").cast("double") * F.col("ssv") / m
        )
        / (m - 1)
        / 1e10
    )
    en = F.col("sn").cast("double") / m
    vn = (
        F.col("snn").cast("double")
        - F.col("sn").cast("double") * F.col("sn") / m
    ) / (m - 1)
    ex = F.col("s").cast("double") / F.col("n") / 100000.0
    vx = (
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n")
        )
        / (F.col("n") - 1)
        / 1e10
    )
    model = en * vx + ex * ex * vn
    return j.select(
        m.alias("n_days"),
        (F.round(var_actual, 4) + 0.0).alias(
            "var_daily_actual_kusd2"
        ),
        (F.round(model, 4) + 0.0).alias("var_compound_model_kusd2"),
        (F.round(en * vx, 4) + 0.0).alias("severity_component"),
        (F.round(ex * ex * vn, 4) + 0.0).alias("frequency_component"),
        (F.round(var_actual / model, 6) + 0.0).alias(
            "actual_over_model"
        ),
    )


# --------------------------------------------------------------------------
# Dekkers-Einmahl-de Haan moment estimator of the tail index
# --------------------------------------------------------------------------
@register(
    "dekkers_moment_tail",
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
               SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW) AS cc,
               SUM(c) OVER () AS n
        FROM grid
    ),
    u AS (SELECT CAST(MIN(v) AS BIGINT) AS u FROM cum
          WHERE 40 * cc >= 39 * n),
    tail AS (
        SELECT round(ln(CAST(p.v AS DOUBLE) / u.u), 10) AS l
        FROM pts p, u WHERE p.v > u.u
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(round(l, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS s1,
               CAST(SUM(CAST(round(l * l, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS s2
        FROM tail
    ),
    stat AS (
        SELECT k, s1 / k AS m1, s2 / k AS m2, u.u
        FROM mom, u
    )
    SELECT k AS k_tail, round(u / 100000.0, 6) + 0.0 AS u_kusd,
           round(m1, 8) + 0.0 AS hill_gamma,
           round(m1 + 1.0
                 - 0.5 / (1.0 - m1 * m1 / m2), 8) + 0.0
               AS dedh_gamma
    FROM stat
    """,
)
def dekkers_moment_tail(spark, sf_dir):
    """Dekkers-Einmahl-de Haan MOMENT estimator of the order-value
    tail index over the top 2.5% exceedances: gamma = M1 + 1 -
    (1/2)/(1 - M1^2/M2) from the first two log-excess moments —
    valid for ALL three extreme-value domains (gamma < 0 bounded
    tails included), where the registry's `hill_tail_exponent`
    (= M1, emitted beside it) is consistent only for heavy tails
    and `pickands_xi_estimate` pays a big variance premium. Hill
    and DEdH agreeing certifies heavy-tailedness; DEdH pulling
    negative flags a bounded tail and retires the Pareto story.

    Exactness: the threshold is the exact lower 97.5% order
    statistic from the cents-grid cumulative; log-excesses round at
    10 dp into DECIMAL(28,10) folds; both estimators are terminal
    trees. Plan: one value-grid cumulative, one filtered scan
    against the broadcast threshold, one fold."""
    o = t(spark, sf_dir, "orders")
    pts = o.select(
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v")
    )
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
    )
    u = cum.where(40 * F.col("cc") >= 39 * F.col("n")).agg(
        F.min("v").cast("bigint").alias("u")
    )
    tail = (
        pts.crossJoin(F.broadcast(u))
        .where(F.col("v") > F.col("u"))
        .select(
            F.round(
                F.log(F.col("v").cast("double") / F.col("u")), 10
            ).alias("l")
        )
    )
    mom = tail.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.round("l", 10).cast("decimal(28,10)"))
        .cast("double")
        .alias("s1"),
        F.sum(
            F.round(F.col("l") * F.col("l"), 10).cast("decimal(28,10)")
        )
        .cast("double")
        .alias("s2"),
    )
    stat = mom.crossJoin(F.broadcast(u)).select(
        "k",
        (F.col("s1") / F.col("k")).alias("m1"),
        (F.col("s2") / F.col("k")).alias("m2"),
        "u",
    )
    return stat.select(
        F.col("k").alias("k_tail"),
        (F.round(F.col("u") / 100000.0, 6) + 0.0).alias("u_kusd"),
        (F.round("m1", 8) + 0.0).alias("hill_gamma"),
        (
            F.round(
                F.col("m1")
                + 1.0
                - 0.5 / (1.0 - F.col("m1") * F.col("m1") / F.col("m2")),
                8,
            )
            + 0.0
        ).alias("dedh_gamma"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "exceedance_correlation": (
            "value-grid cumulative for the exact click median "
            "(count-domain-bounded — the moods_median class)"
        ),
        "gini_correlation_pair": (
            "two cumulative midrank passes over the daily count "
            "grids (count-domain-bounded — the ansari class)"
        ),
        "partial_auc_low_fpr": (
            "reverse cumulative + lag over the bounded score grid "
            "(the auc_rank_score class)"
        ),
        "dekkers_moment_tail": (
            "one cumulative over the cents value grid for the exact "
            "tail threshold (the hill/pickands class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Promoted at the round-16 flip: Fisher + Stouffer combined evidence
# (moved from the round-17 bank as the 50th window slot — the
# bartlett_sphericity / dersimonian_laird_meta precedent). Its shared
# 35-cell contingency p-value frame (_CELLP_SQL/_cellp) is defined in
# THIS module, and the Acklam device is already imported from
# bank_r15 above, so the move carries no frame copy.
# --------------------------------------------------------------------------
@register(
    "fisher_stouffer_combined",
    oracle=f"""
    WITH {_CELLP_SQL},
    fold AS (
        SELECT CAST(MAX(m) AS BIGINT) AS m,
               CAST(SUM(CAST(round(-2.0 * ln(p), 10)
                             AS DECIMAL(28,10))) AS DOUBLE) AS fsum,
               CAST(SUM(CAST(round({_acklam_sql('1.0 - p / 2.0')},
                             10) AS DECIMAL(28,10))) AS DOUBLE)
                   AS zsum
        FROM ranked WHERE p > 0 AND p < 1
    )
    SELECT m AS m_tests,
           round(fsum, 6) + 0.0 AS fisher_chi2,
           CAST(2 * m AS BIGINT) AS fisher_dof,
           round((exp(ln(fsum / (2.0 * m)) / 3.0)
                  - (1.0 - 1.0 / (9.0 * m)))
                 / sqrt(1.0 / (9.0 * m)), 6) + 0.0
               AS fisher_z_wilson_hilferty,
           round(zsum / sqrt(m * 1.0), 6) + 0.0 AS stouffer_z
    FROM fold
    """,
)
def fisher_stouffer_combined(spark, sf_dir):
    """FISHER and STOUFFER combined evidence over the 35-cell
    contingency p-value family: Fisher's -2 sum ln p ~ chi2(2m)
    (sensitive to a FEW very small p's) and Stouffer's sum z /
    sqrt(m) with z = Phi^-1(1 - p/2) via the Acklam device
    (sensitive to MANY mildly small p's) — the two classical
    evidence-pooling geometries; they disagree exactly when the
    signal is sparse-vs-diffuse, which is the same axis
    `higher_criticism_panel` resolves pointwise. Fisher's tail
    ships as the Wilson-Hilferty cube-root z (dof = 2m).

    Exactness: the shared cell p's (12-dp rounded erfc trees); each
    -2 ln p and z term rounds at 10 dp into DECIMAL(28,10) folds
    (order-free). Plan: the 35-cell frame, one fold."""
    ranked = _cellp(spark, sf_dir)
    ok = ranked.where((F.col("p") > 0) & (F.col("p") < 1))
    fold = ok.agg(
        F.max("m").cast("bigint").alias("m"),
        F.sum(
            F.round(-2.0 * F.log("p"), 10).cast("decimal(28,10)")
        )
        .cast("double")
        .alias("fsum"),
        F.sum(
            F.round(
                _acklam_col(1.0 - F.col("p") / 2.0), 10
            ).cast("decimal(28,10)")
        )
        .cast("double")
        .alias("zsum"),
    )
    m = F.col("m")
    wh = (
        F.exp(F.log(F.col("fsum") / (2.0 * m)) / 3.0)
        - (1.0 - 1.0 / (9.0 * m))
    ) / F.sqrt(1.0 / (9.0 * m))
    return fold.select(
        m.alias("m_tests"),
        (F.round("fsum", 6) + 0.0).alias("fisher_chi2"),
        (2 * m).cast("bigint").alias("fisher_dof"),
        (F.round(wh, 6) + 0.0).alias("fisher_z_wilson_hilferty"),
        (
            F.round(F.col("zsum") / F.sqrt(m * 1.0), 6) + 0.0
        ).alias("stouffer_z"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "fisher_stouffer_combined": (
            "rank over the 35-cell contingency p family "
            "(domain-bounded — the bh_fdr_correction class)"
        ),
    }
)
