"""Round-20 pre-staged bank (candidate X739+): STAGED, not in the
live registry — the generation behind ``bank_r19`` (round 19's flip),
under the identical no-new-debt discipline: stage-only decorator,
two-SF gate mirror in ``tests/test_bank_r20.py``, sf0.1 sweeps via
``tools/check.py --module bank_r20``, the dtype-family sweep
(``tests/test_oracle_dtypes.py`` auto-discovers bank_r13..r20),
plan-audit notes pre-adjudicated at authoring time, and the HARD
authoring-time 64x probe gate (``SCALING_PROBES.json`` +
``tests/test_flip_readiness.py``).

Theme: COMPLETE at 49 (round 14). The spacings & extremal-dependence
seeds (Moran log-spacings with exact digamma/trigamma moments,
Gnedenko F via the TTT identity, CFG Pickands, F-madogram, chi-bar),
then the full widening: uniformity/independence (Kuiper, two-sample
Watson U^2, Neyman-Ledwina, Tarone Z, Williams-corrected G),
contrasts and jackknives (Abelson-Tukey, moment/correlation
delete-one SEs, Hartley Fmax, partial Spearman), parametric seconds
(Gaussian divergences, Berkson logit + pseudo-R^2 panel, copula
inversion, Szroeter/Glejser), resampling and evidence (BCa on the
deterministic Poisson bootstrap, correlation TOST, DeLong delta-AUC,
Bangdiwala B, BIC Bayes factor), new capabilities (ZTP unseen users,
Lin interacted adjustment, BDS nonlinearity, Vasicek differential
entropy), meta/model audits (Begg-Mazumdar, LOO sensitivity, Hausman,
Duan smearing, Cox calibration, ACAT, Freeman-Tukey pooling), unit
roots and forecasts (Phillips-Perron, Chow-Denning, HLN
encompassing), SPC (u-chart, Poisson CUSUM), spatial/IV/compositional
(local Moran LISA, Sargan J, Aitchison panel), and the Fisher
index-axioms tripwire.

Determinism disciplines inherited unchanged (bank_r11..r19
docstrings): exact integer/DECIMAL folds, round-before-fold with the
DECADE-ESCALATION rule for libm pins, ``+ 0.0`` on possibly-negative-
zero outputs, total-order tiebreaks, bounded-domain windows or
``exact_cumulative``, the shared erfc/harmonic trees, explicit ``floor()``
before double->integer buckets.

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

from .bank_r19 import _PI2_6, _harmonic2_col, _harmonic_col
from .common import dec, exact_cumulative, t

BANK_QUERIES: dict = {}
BANK_ORACLES: dict = {}
PLAN_AUDIT_NOTES: dict[str, str] = {}

# The H2 device (_PI2_6, _harmonic2_col) moved to bank_r19 at the
# round-18 close so the round-19 flip can promote this bank's oldest
# query (moran_log_spacings, its one consumer) without an import
# cycle — see the bank_r19 docstring at the definition site.


def register(name: str, oracle: str | None = None):
    """Stage-only decorator (see bank_r13..r19): records the query in
    the bank dicts and does NOT touch the live registry."""

    def deco(fn):
        BANK_QUERIES[name] = fn
        if oracle is not None:
            BANK_ORACLES[name] = oracle
        return fn

    return deco


# --------------------------------------------------------------------------
# Pooled Moran log-spacings statistic over per-user timelines
# --------------------------------------------------------------------------
@register(
    "moran_log_spacings",
    oracle="""
    WITH seq AS (
        SELECT user_id, epoch_us(ts) AS tu,
               LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev
        FROM events
    ),
    gaps AS (
        SELECT user_id, CAST(tu - prev AS BIGINT) AS gap
        FROM seq WHERE prev IS NOT NULL AND tu - prev > 0
    ),
    peruser AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(gap) AS BIGINT) AS span,
               CAST(SUM(CAST(round(ln(CAST(gap AS DOUBLE)), 8)
                    AS DECIMAL(28,8))) AS DOUBLE) AS slg
        FROM gaps GROUP BY user_id
        HAVING COUNT(*) >= 2
    ),
    terms AS (
        SELECT round(-slg - m * round(ln(m * 1.0), 10)
                     + m * round(ln(CAST(span AS DOUBLE)), 10), 8)
                   AS mo,
               round(m * ((CASE WHEN (m - 1) = 0 THEN 0.0 WHEN (m - 1) = 1 THEN 1.0 WHEN (m - 1) = 2 THEN 1.5 WHEN (m - 1) = 3 THEN 1.8333333333333333 WHEN (m - 1) = 4 THEN 2.0833333333333335 WHEN (m - 1) = 5 THEN 2.283333333333333 WHEN (m - 1) = 6 THEN 2.45 WHEN (m - 1) = 7 THEN 2.592857142857143 WHEN (m - 1) = 8 THEN 2.717857142857143 WHEN (m - 1) = 9 THEN 2.828968253968254 WHEN (m - 1) = 10 THEN 2.9289682539682538 WHEN (m - 1) = 11 THEN 3.019877344877345 WHEN (m - 1) = 12 THEN 3.103210678210678 WHEN (m - 1) = 13 THEN 3.180133755133755 WHEN (m - 1) = 14 THEN 3.2515623265623264 WHEN (m - 1) = 15 THEN 3.3182289932289932 WHEN (m - 1) = 16 THEN 3.3807289932289932 WHEN (m - 1) = 17 THEN 3.4395525226407577 WHEN (m - 1) = 18 THEN 3.4951080781963135 WHEN (m - 1) = 19 THEN 3.547739657143682 WHEN (m - 1) = 20 THEN 3.597739657143682 ELSE ln(CAST((m - 1) AS DOUBLE)) + 0.5772156649015329 + 1.0 / (2.0 * (m - 1)) - 1.0 / (12.0 * (m - 1) * (m - 1)) + 1.0 / (120.0 * (m - 1) * (m - 1) * (m - 1) * (m - 1)) END)
                          - round(ln(m * 1.0), 10)), 8) AS em,
               round(m * 1.6449340668482264
                     - CAST(m AS DOUBLE) * m
                       * (1.6449340668482264
                          - (CASE WHEN (m - 1) = 0 THEN 0.0 WHEN (m - 1) = 1 THEN 1.0 WHEN (m - 1) = 2 THEN 1.25 WHEN (m - 1) = 3 THEN 1.3611111111111112 WHEN (m - 1) = 4 THEN 1.4236111111111112 WHEN (m - 1) = 5 THEN 1.4636111111111112 WHEN (m - 1) = 6 THEN 1.4913888888888889 WHEN (m - 1) = 7 THEN 1.511797052154195 WHEN (m - 1) = 8 THEN 1.527422052154195 WHEN (m - 1) = 9 THEN 1.5397677311665408 WHEN (m - 1) = 10 THEN 1.5497677311665408 WHEN (m - 1) = 11 THEN 1.558032193976458 WHEN (m - 1) = 12 THEN 1.5649766384209025 WHEN (m - 1) = 13 THEN 1.5708937981842162 WHEN (m - 1) = 14 THEN 1.5759958390005426 WHEN (m - 1) = 15 THEN 1.580440283444987 WHEN (m - 1) = 16 THEN 1.584346533444987 WHEN (m - 1) = 17 THEN 1.587806741057444 WHEN (m - 1) = 18 THEN 1.5908931608105303 WHEN (m - 1) = 19 THEN 1.5936632439130234 WHEN (m - 1) = 20 THEN 1.5961632439130233 ELSE 1.6449340668482264 - (1.0 / ((m - 1) + 1.0) + 1.0 / (2.0 * ((m - 1) + 1.0) * ((m - 1) + 1.0))    + 1.0 / (6.0 * ((m - 1) + 1.0) * ((m - 1) + 1.0) * ((m - 1) + 1.0))    - 1.0 / (30.0 * ((m - 1) + 1.0) * ((m - 1) + 1.0) * ((m - 1) + 1.0)             * ((m - 1) + 1.0) * ((m - 1) + 1.0))) END)),
                     10) AS vm
        FROM peruser
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS u,
               CAST(SUM(CAST(mo AS DECIMAL(28,8))) AS DOUBLE) AS sm,
               CAST(SUM(CAST(em AS DECIMAL(28,8))) AS DOUBLE) AS se_,
               CAST(SUM(CAST(vm AS DECIMAL(28,10))) AS DOUBLE) AS sv
        FROM terms
    )
    SELECT u AS n_users,
           round(sm, 4) + 0.0 AS moran_sum,
           round(se_, 4) + 0.0 AS expected_sum,
           round((sm - se_) / sqrt(sv), 6) + 0.0 AS z_pooled
    FROM fold
""",
)
def moran_log_spacings(spark, sf_dir):
    """Pooled MORAN log-spacings statistic over per-user event
    timelines: M_u = -sum ln(m D_i) over the user's normalized
    POSITIVE spacings (micros ties drop — ln 0 is undefined; m
    counts the kept gaps) — the information-theoretic THIRD opinion
    beside `greenwood_spacing_uniformity` (quadratic form) and
    `quesenberry_miller_spacings` (adjacent products): M is the
    likelihood-ratio statistic against ANY smooth alternative
    (Cheng-Stephens 1989 recommend it as the most powerful general
    spacings test), diverging when any spacing collapses toward 0,
    which the squared forms soften. Null moments are EXACT via the
    flat-Dirichlet log moments: E[M] = m(H_(m-1) - ln m) and
    Var[M] = m pi^2/6 - m^2(pi^2/6 - H2_(m-1)) (from E[ln D] =
    psi(1) - psi(m), Cov[ln D_i, ln D_j] = -psi'(m); MC-verified at
    m = 3/5/12 before authoring, max |emp-theory| < 5e-2 on V at
    400k draws), with H/H2 from the shared hybrid table/series
    devices. Pooled into one z across users beside the other two.

    Exactness: gaps/spans exact micros BIGINTs; ln gap pins at 8 dp
    into a DECIMAL fold; ln m / ln span pin at 10 dp; per-user
    M/E/Var round at 8-10 dp into DECIMAL folds (order-free).
    Plan: one user-partitioned lag, one per-user rollup, one fold —
    no global sorts."""
    e = t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = e.select(
        "user_id", (us - F.lag(us).over(wu)).alias("gap")
    ).where(F.col("gap").isNotNull() & (F.col("gap") > 0))
    peruser = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.sum("gap").cast("bigint").alias("span"),
            F.sum(
                F.round(F.log(F.col("gap").cast("double")), 8).cast(
                    "decimal(28,8)"
                )
            )
            .cast("double")
            .alias("slg"),
        )
        .where(F.col("m") >= 2)
    )
    m = F.col("m").cast("double")
    mo = F.round(
        -F.col("slg")
        - m * F.round(F.log(m), 10)
        + m * F.round(F.log(F.col("span").cast("double")), 10),
        8,
    )
    em = F.round(
        m * (_harmonic_col(F.col("m") - 1) - F.round(F.log(m), 10)),
        8,
    )
    vm = F.round(
        m * _PI2_6
        - m * m * (_PI2_6 - _harmonic2_col(F.col("m") - 1)),
        10,
    )
    terms = peruser.select(
        mo.alias("mo"), em.alias("em"), vm.alias("vm")
    )
    fold = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("u"),
        F.sum(F.col("mo").cast("decimal(28,8)"))
        .cast("double")
        .alias("sm"),
        F.sum(F.col("em").cast("decimal(28,8)"))
        .cast("double")
        .alias("se_"),
        F.sum(F.col("vm").cast("decimal(28,10)"))
        .cast("double")
        .alias("sv"),
    )
    return fold.select(
        F.col("u").alias("n_users"),
        (F.round("sm", 4) + 0.0).alias("moran_sum"),
        (F.round("se_", 4) + 0.0).alias("expected_sum"),
        (
            F.round(
                (F.col("sm") - F.col("se_")) / F.sqrt(F.col("sv")), 6
            )
            + 0.0
        ).alias("z_pooled"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "moran_log_spacings": (
            "user-partitioned lag + per-user rollup (the "
            "greenwood_spacing_uniformity frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# Gnedenko F test of exponentiality on pooled interpurchase gaps
# --------------------------------------------------------------------------
@register(
    "gnedenko_f_exponentiality",
    oracle="""
    WITH seq AS (
        SELECT user_id, epoch_us(ts) AS tu,
               LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev
        FROM events WHERE event_type = 'purchase'
    ),
    gaps AS (
        SELECT CAST(tu - prev AS BIGINT) AS g
        FROM seq WHERE prev IS NOT NULL AND tu - prev > 0
    ),
    grid AS (
        SELECT g AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM gaps GROUP BY g
    ),
    cum AS (
        SELECT v, c,
               CAST(COALESCE(SUM(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS head,
               CAST(COALESCE(SUM(CAST(v AS DECIMAL(38,0)) * c)
                   OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS DECIMAL(38,0)) AS below,
               CAST(SUM(c) OVER () AS BIGINT) AS m,
               CAST(SUM(CAST(v AS DECIMAL(38,0)) * c) OVER ()
                    AS DECIMAL(38,0)) AS s
        FROM grid
    ),
    atr AS (
        SELECT m, s,
               m // 2 AS r,
               CAST(below AS DOUBLE)
                   + (m // 2 - head) * CAST(v AS DOUBLE)
                   + (m - m // 2) * CAST(v AS DOUBLE) AS ttt_r
        FROM cum
        WHERE head < m // 2 AND m // 2 <= head + c
    ),
    stat AS (
        SELECT m, r,
               (ttt_r / r)
               / ((CAST(s AS DOUBLE) - ttt_r) / (m - r)) AS f
        FROM atr
    )
    SELECT m AS n_gaps, r AS r_split,
           round(f, 6) + 0.0 AS gnedenko_f,
           round(ln(f) / sqrt(1.0 / r + 1.0 / (m - r)), 6) + 0.0
               AS z_ln_f
    FROM stat
    """,
)
def gnedenko_f_exponentiality(spark, sf_dir):
    """GNEDENKO F test of exponentiality on the pooled positive
    interpurchase gaps: the normalized order-statistic spacings
    l_i = (m-i+1)(D_(i) - D_(i-1)) are iid exponential UNDER
    exponentiality, so the ratio of their early-half to late-half
    means is F(2r, 2(m-r))-distributed — computed WITHOUT
    materializing a single spacing via the total-time-on-test
    identity sum_{i<=r} l_i = sum_{i<=r} D_(i) + (m-r) D_(r), one
    row lookup on the gap-value grid. The ORDER-STATISTICS second
    opinion to `exp_rate_lr_gaps` (likelihood ratio on a split) and
    `ks_exponential_gaps` (ECDF distance): F > 1 reads as
    decreasing hazard (burst-then-quiet timelines), F < 1 as
    increasing hazard, the direction the omnibus tests cannot give.
    z_ln_f is the large-df normal reading ln F ~ N(0, 1/r +
    1/(m-r)).

    Exactness: gaps exact micros BIGINTs; the grid cumulative and
    the c*v prefix widen through DECIMAL(38,0); the single
    position-r row is an exact integer head/c bracket; F and z are
    terminal IEEE trees. Plan: user-partitioned lag -> gap-value
    grid rollup -> two exclusive-prefix cumulatives -> one-row
    filter; grid windows are gap-value-domain-bounded (the
    weibull_median_rank class)."""
    e = t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = (
        e.where(F.col("event_type") == "purchase")
        .select(
            "user_id", (us - F.lag(us).over(wu)).alias("g")
        )
        .where(F.col("g").isNotNull() & (F.col("g") > 0))
    )
    grid = gaps.groupBy(F.col("g").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # r19 grain triage: the gap-value micros grid is data-grain
    # (1,831 -> 18,584 rows sf0.01 -> sf0.1 — the domain is an
    # unbounded micros axis, not a saturating one), so both
    # cumulatives and both whole-frame totals ride exact_cumulative
    # (<= 1025 buckets at any scale; measured max 1% of distinct gap
    # values per bucket at sf0.1). Exact integers / DECIMAL(38,0),
    # bit-identical.
    cv = F.col("v").cast("decimal(38,0)") * F.col("c")
    acc, _ = exact_cumulative(
        grid, ("v",), {"pn": F.sum("c"), "pcv": F.sum(cv)}
    )
    cum = acc.select(
        "v",
        "c",
        (F.col("cum_pn") - F.col("c")).cast("bigint").alias("head"),
        (F.col("cum_pcv") - cv).cast("decimal(38,0)").alias("below"),
        F.col("tot_pn").cast("bigint").alias("m"),
        F.col("tot_pcv").cast("decimal(38,0)").alias("s"),
    )
    r = F.floor(F.col("m") / 2).cast("bigint")
    atr = cum.where(
        (F.col("head") < r) & (r <= F.col("head") + F.col("c"))
    ).select(
        "m",
        "s",
        r.alias("r"),
        (
            F.col("below").cast("double")
            + (r - F.col("head")).cast("double")
            * F.col("v").cast("double")
            + (F.col("m") - r).cast("double")
            * F.col("v").cast("double")
        ).alias("ttt_r"),
    )
    f = (F.col("ttt_r") / F.col("r")) / (
        (F.col("s").cast("double") - F.col("ttt_r"))
        / (F.col("m") - F.col("r"))
    )
    return atr.select(
        F.col("m").alias("n_gaps"),
        F.col("r").alias("r_split"),
        (F.round(f, 6) + 0.0).alias("gnedenko_f"),
        (
            F.round(
                F.log(f)
                / F.sqrt(
                    1.0 / F.col("r")
                    + 1.0 / (F.col("m") - F.col("r"))
                ),
                6,
            )
            + 0.0
        ).alias("z_ln_f"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "gnedenko_f_exponentiality": (
            "INFO: no single-partition window since the r19 grain "
            "triage — the gap-value micros grid is data-grain (an "
            "unbounded axis, not a saturating one), so both "
            "cumulatives ride the value-bucket device with a "
            "bounds-derived width; note kept for the history, "
            "excluded from the effective allowlist"
        ),
    }
)


# --------------------------------------------------------------------------
# Shared daily (volume, revenue) pseudo-uniform frame for the tail pair
# --------------------------------------------------------------------------
_BIVAR_SQL = """
    daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT d,
               CAST(RANK() OVER (ORDER BY x)
                    + COUNT(*) OVER (PARTITION BY x) - 1
                    AS BIGINT) AS rx2,
               CAST(RANK() OVER (ORDER BY y)
                    + COUNT(*) OVER (PARTITION BY y) - 1
                    AS BIGINT) AS ry2,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM daily
    ),
    uv AS (
        SELECT n,
               round(rx2 / (2.0 * (n + 1.0)), 10) AS u,
               round(ry2 / (2.0 * (n + 1.0)), 10) AS v
        FROM ranked
    )
"""


def _bivar_uv(spark, sf_dir):
    """Daily (order volume, revenue) with midrank pseudo-uniform
    margins U, V (the rank_autocorrelation 2x-midrank device over
    the ~2.4k-row calendar frame; pinned at 10 dp)."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        (F.sum(dec("o_totalprice", 18, 2)) * 100)
        .cast("bigint")
        .alias("y"),
    )
    wall = Window.partitionBy()
    rx2 = (
        F.rank().over(Window.orderBy("x"))
        + F.count(F.lit(1)).over(Window.partitionBy("x"))
        - 1
    ).cast("bigint")
    ry2 = (
        F.rank().over(Window.orderBy("y"))
        + F.count(F.lit(1)).over(Window.partitionBy("y"))
        - 1
    ).cast("bigint")
    n = F.count(F.lit(1)).over(wall).cast("bigint")
    ranked = daily.select(
        rx2.alias("rx2"), ry2.alias("ry2"), n.alias("n")
    )
    return ranked.select(
        "n",
        F.round(F.col("rx2") / (2.0 * (F.col("n") + 1.0)), 10)
        .alias("u"),
        F.round(F.col("ry2") / (2.0 * (F.col("n") + 1.0)), 10)
        .alias("v"),
    )


# --------------------------------------------------------------------------
# CFG (Caperaa-Fougeres-Genest) Pickands dependence at t = 1/2
# --------------------------------------------------------------------------
@register(
    "cfg_pickands_dependence",
    oracle=f"""
    WITH {_BIVAR_SQL},
    terms AS (
        SELECT n,
               round(ln(LEAST(-ln(u), -ln(v))) + 0.6931471805599453,
                     10) AS lmin,
               round(ln(-ln(u)), 10) AS lx,
               round(ln(-ln(v)), 10) AS ly
        FROM uv
    ),
    fold AS (
        SELECT MAX(n) AS n,
               CAST(SUM(CAST(lmin AS DECIMAL(28,10))) AS DOUBLE)
                   AS sm,
               CAST(SUM(CAST(lx AS DECIMAL(28,10))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(ly AS DECIMAL(28,10))) AS DOUBLE) AS sy
        FROM terms
    )
    SELECT n AS n_days,
           round(exp(-(sm / n) + 0.5 * (sx / n + sy / n)), 8) + 0.0
               AS pickands_a_half,
           round(2.0 * (1.0
                 - exp(-(sm / n) + 0.5 * (sx / n + sy / n))), 8)
               + 0.0 AS chi_cfg
    FROM fold
    """,
)
def cfg_pickands_dependence(spark, sf_dir):
    """CFG (Caperaa-Fougeres-Genest 1997) estimator of the PICKANDS
    DEPENDENCE FUNCTION at t = 1/2 for daily (order volume,
    revenue), endpoint-corrected: ln A(1/2) = -(1/n) sum ln min(2
    xi_i, 2 eta_i) + (1/2)[(1/n) sum ln xi_i + (1/n) sum ln eta_i]
    with xi = -ln U, eta = -ln V on midrank pseudo-uniforms (the
    Euler-gamma terms cancel exactly in the corrected form, so no
    gamma constant is needed). A(1/2) = 1 reads as tail
    INDEPENDENCE, 1/2 as perfect dependence; chi = 2(1 - A(1/2)) is
    the same chi the threshold estimator `upper_tail_dependence_
    daily` chases — but CFG uses EVERY observation through the
    copula rather than the top few exceedances, so the pair
    agreeing certifies the tail reading and CFG-above-threshold
    flags that the threshold chi hasn't converged.

    Exactness: midranks are exact integers over the calendar frame
    (bounded windows, the rank_autocorrelation class); U/V pin at
    10 dp; the three log folds round at 10 dp into DECIMAL sums
    (ln 2 = 0.6931471805599453 shared literal). Plan: day rollup ->
    bounded rank windows -> one fold."""
    uv = _bivar_uv(spark, sf_dir)
    xi = -F.log("u")
    eta = -F.log("v")
    terms = uv.select(
        "n",
        F.round(
            F.log(F.least(xi, eta)) + 0.6931471805599453, 10
        ).alias("lmin"),
        F.round(F.log(xi), 10).alias("lx"),
        F.round(F.log(eta), 10).alias("ly"),
    )
    fold = terms.agg(
        F.max("n").alias("n"),
        F.sum(F.col("lmin").cast("decimal(28,10)"))
        .cast("double")
        .alias("sm"),
        F.sum(F.col("lx").cast("decimal(28,10)"))
        .cast("double")
        .alias("sx"),
        F.sum(F.col("ly").cast("decimal(28,10)"))
        .cast("double")
        .alias("sy"),
    )
    n = F.col("n").cast("double")
    a_half = F.exp(
        -(F.col("sm") / n) + 0.5 * (F.col("sx") / n + F.col("sy") / n)
    )
    return fold.select(
        F.col("n").alias("n_days"),
        (F.round(a_half, 8) + 0.0).alias("pickands_a_half"),
        (F.round(2.0 * (1.0 - a_half), 8) + 0.0).alias("chi_cfg"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "cfg_pickands_dependence": (
            "bounded calendar-frame rank windows (the "
            "rank_autocorrelation class)"
        ),
    }
)


# --------------------------------------------------------------------------
# F-madogram extremal coefficient (the distance route to the same chi)
# --------------------------------------------------------------------------
@register(
    "f_madogram_extremal",
    oracle=f"""
    WITH {_BIVAR_SQL},
    fold AS (
        SELECT MAX(n) AS n,
               CAST(SUM(CAST(round(0.5 * abs(u - v), 12)
                    AS DECIMAL(28,12))) AS DOUBLE) AS nu
        FROM uv
    )
    SELECT n AS n_days,
           round(nu / n, 8) + 0.0 AS f_madogram,
           round((1.0 + 2.0 * nu / n) / (1.0 - 2.0 * nu / n), 8)
               + 0.0 AS extremal_theta,
           round(2.0 - (1.0 + 2.0 * nu / n) / (1.0 - 2.0 * nu / n),
                 8) + 0.0 AS chi_madogram
    FROM fold
    """,
)
def f_madogram_extremal(spark, sf_dir):
    """F-MADOGRAM extremal coefficient for daily (order volume, revenue)
    on the identical midrank pseudo-uniform frame as
    `cfg_pickands_dependence`: nu_F = (1/2n) sum |U_i - V_i| maps
    to the extremal coefficient theta = (1 + 2 nu)/(1 - 2 nu)
    (Cooley-Naveau-Poncet 2006), theta = 1 total dependence, 2
    independence, and chi = 2 - theta — the DISTANCE route to the
    same tail-dependence number CFG reaches through the copula
    likelihood and the threshold estimator through exceedance
    counts: three estimators, three error mechanisms, one
    parameter; their spread IS the uncertainty statement. nu_F is
    also bounded in [0, 1/6], so the readout self-checks (values
    outside mean a margins bug, not a data property).

    Exactness: U/V are 10-dp-pinned exact-midrank ratios; the
    half-absolute-difference terms round at 12 dp into one DECIMAL
    fold; theta and chi are terminal IEEE trees. Plan: day rollup
    -> bounded rank windows -> one fold."""
    uv = _bivar_uv(spark, sf_dir)
    fold = uv.agg(
        F.max("n").alias("n"),
        F.sum(
            F.round(0.5 * F.abs(F.col("u") - F.col("v")), 12).cast(
                "decimal(28,12)"
            )
        )
        .cast("double")
        .alias("nu"),
    )
    nu = F.col("nu") / F.col("n").cast("double")
    theta = (1.0 + 2.0 * nu) / (1.0 - 2.0 * nu)
    return fold.select(
        F.col("n").alias("n_days"),
        (F.round(nu, 8) + 0.0).alias("f_madogram"),
        (F.round(theta, 8) + 0.0).alias("extremal_theta"),
        (F.round(2.0 - theta, 8) + 0.0).alias("chi_madogram"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "f_madogram_extremal": (
            "bounded calendar-frame rank windows (the "
            "rank_autocorrelation class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Chi-bar tail-independence discriminator at two thresholds
# --------------------------------------------------------------------------
@register(
    "chibar_tail_independence",
    oracle=f"""
    WITH {_BIVAR_SQL},
    gr AS (
        SELECT q AS uq, uv.n,
               CAST(SUM(CASE WHEN u > q THEN 1 ELSE 0 END)
                    AS BIGINT) AS nx,
               CAST(SUM(CASE WHEN u > q AND v > q THEN 1 ELSE 0 END)
                    AS BIGINT) AS nj
        FROM uv, (SELECT CAST(UNNEST([0.90, 0.95]) AS DOUBLE) AS q)
        GROUP BY q, uv.n
    )
    SELECT uq AS threshold_u,
           nj AS n_joint_exceed,
           round(CAST(nj AS DOUBLE) / n / (1.0 - uq), 8) + 0.0
               AS chi_u,
           round(CASE WHEN nj > 0 AND nx > 0
                      THEN 2.0 * ln(CAST(nx AS DOUBLE) / n)
                           / ln(CAST(nj AS DOUBLE) / n) - 1.0
                 END, 8) + 0.0 AS chibar_u
    FROM gr
    ORDER BY uq
    """,
)
def chibar_tail_independence(spark, sf_dir):
    """CHI-BAR tail-independence discriminator (Coles-Heffernan-
    Tawn 1999) for daily (order volume, revenue) at thresholds u = 0.90
    and 0.95 on the shared pseudo-uniform frame: chibar(u) = 2 ln
    P(U>u) / ln P(U>u, V>u) - 1 converges to 1 under ASYMPTOTIC
    DEPENDENCE and to 2*eta-1 < 1 under asymptotic independence —
    the regime bit every chi-style readout silently assumes:
    chi (also shipped per threshold) is only meaningful when
    chibar -> 1; chibar < 1 with positive chi at finite u is the
    classic spurious-tail-dependence pattern, and THIS query is the
    one that says which regime `upper_tail_dependence_daily`,
    `cfg_pickands_dependence`, and `f_madogram_extremal` are
    actually reading.

    Exactness: exceedance counts are exact integers against
    10-dp-pinned midrank uniforms and literal thresholds; both
    readouts are terminal IEEE trees per 2-row threshold grid.
    Plan: day rollup -> bounded rank windows -> 2-row threshold
    rollup."""
    uv = _bivar_uv(spark, sf_dir)
    qs = spark.range(1).select(
        F.explode(F.array(F.lit(0.90), F.lit(0.95))).alias("uq")
    )
    gr = (
        uv.crossJoin(F.broadcast(qs))
        .groupBy("uq", "n")
        .agg(
            F.sum(F.when(F.col("u") > F.col("uq"), 1).otherwise(0))
            .cast("bigint")
            .alias("nx"),
            F.sum(
                F.when(
                    (F.col("u") > F.col("uq"))
                    & (F.col("v") > F.col("uq")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("nj"),
        )
    )
    n = F.col("n").cast("double")
    return gr.select(
        F.col("uq").alias("threshold_u"),
        F.col("nj").alias("n_joint_exceed"),
        (
            F.round(
                F.col("nj").cast("double") / n / (1.0 - F.col("uq")),
                8,
            )
            + 0.0
        ).alias("chi_u"),
        (
            F.round(
                F.when(
                    (F.col("nj") > 0) & (F.col("nx") > 0),
                    2.0
                    * F.log(F.col("nx").cast("double") / n)
                    / F.log(F.col("nj").cast("double") / n)
                    - 1.0,
                ),
                8,
            )
            + 0.0
        ).alias("chibar_u"),
    ).orderBy("threshold_u")


PLAN_AUDIT_NOTES.update(
    {
        "chibar_tail_independence": (
            "bounded calendar-frame rank windows + 2-row threshold "
            "grid (the rank_autocorrelation class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Kuiper one-sample test of day-of-month uniformity
# --------------------------------------------------------------------------
@register(
    "kuiper_uniform_daymonth",
    oracle="""
    WITH pts AS (
        SELECT CAST(date_part('day', o_orderdate) AS BIGINT) AS dom
        FROM orders
        WHERE CAST(date_part('day', o_orderdate) AS BIGINT) <= 28
    ),
    grid AS (
        SELECT dom, CAST(COUNT(*) AS BIGINT) AS c
        FROM pts GROUP BY dom
    ),
    cum AS (
        SELECT dom, c,
               CAST(SUM(c) OVER (ORDER BY dom) AS BIGINT) AS upto,
               CAST(SUM(c) OVER () AS BIGINT) AS n
        FROM grid
    ),
    dev AS (
        SELECT MAX(n) AS n,
               MAX(round(CAST(upto AS DOUBLE) / n - dom / 28.0, 10))
                   AS dplus,
               MAX(round((dom - 1) / 28.0
                         - (CAST(upto AS DOUBLE) - c) / n, 10))
                   AS dminus
        FROM cum
    )
    SELECT n AS n_orders,
           round(dplus, 8) + 0.0 AS d_plus,
           round(dminus, 8) + 0.0 AS d_minus,
           round(dplus + dminus, 8) + 0.0 AS kuiper_v,
           round((dplus + dminus)
                 * (sqrt(n * 1.0) + 0.155 + 0.24 / sqrt(n * 1.0)),
                 6) + 0.0 AS kuiper_v_star
    FROM dev
    """,
)
def kuiper_uniform_daymonth(spark, sf_dir):
    """KUIPER one-sample test of day-of-month uniformity (days 1-28,
    the ks_uniform_dayofmonth truncation): V = D+ + D- over the
    lattice CDF — the CYCLIC-INVARIANT second opinion to
    `ks_uniform_dayofmonth`: KS's D is largest for deviations near
    mid-month and nearly blind to mass shifted from the month's
    start to its end (a rotation), while V weights all phases
    equally — exactly the right lens for billing-cycle heaping that
    wraps around month boundaries. Lattice convention documented:
    D+ = max(F_n(d) - d/28), D- = max((d-1)/28 - F_n(d-)) over the
    28-point support. `kuiper_v_star` is Stephens' finite-n
    modification V(sqrt(n) + 0.155 + 0.24/sqrt(n)) whose 5%
    critical value 1.747 is n-free.

    Exactness: day-of-month and cumulative counts are exact
    integers on the 28-row grid (bounded-domain windows); the
    deviations pin at 10 dp; V and V* are terminal IEEE trees.
    Plan: one scan -> 28-row grid rollup -> grid cumulative -> one
    fold."""
    o = t(spark, sf_dir, "orders")
    pts = o.select(
        F.dayofmonth("o_orderdate").cast("bigint").alias("dom")
    ).where(F.col("dom") <= 28)
    grid = pts.groupBy("dom").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cum = grid.select(
        "dom",
        "c",
        F.sum("c")
        .over(
            Window.orderBy("dom").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .cast("bigint")
        .alias("upto"),
        F.sum("c").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    dev = cum.agg(
        F.max("n").alias("n"),
        F.max(
            F.round(
                F.col("upto").cast("double") / F.col("n")
                - F.col("dom") / 28.0,
                10,
            )
        ).alias("dplus"),
        F.max(
            F.round(
                (F.col("dom") - 1) / 28.0
                - (F.col("upto").cast("double") - F.col("c"))
                / F.col("n"),
                10,
            )
        ).alias("dminus"),
    )
    n = F.col("n").cast("double")
    v = F.col("dplus") + F.col("dminus")
    return dev.select(
        F.col("n").alias("n_orders"),
        (F.round("dplus", 8) + 0.0).alias("d_plus"),
        (F.round("dminus", 8) + 0.0).alias("d_minus"),
        (F.round(v, 8) + 0.0).alias("kuiper_v"),
        (
            F.round(
                v * (F.sqrt(n) + 0.155 + 0.24 / F.sqrt(n)), 6
            )
            + 0.0
        ).alias("kuiper_v_star"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "kuiper_uniform_daymonth": (
            "28-row day-of-month grid cumulative (bounded-domain "
            "window)"
        ),
    }
)


# --------------------------------------------------------------------------
# Watson two-sample U^2: Fri/Sat vs Sun-Thu intraday phase
# --------------------------------------------------------------------------
@register(
    "watson_u2_two_sample",
    oracle="""
    WITH pts AS (
        SELECT CAST(epoch_us(ts) % 86400000000 // 1000000 AS BIGINT)
                   AS sec,
               CASE WHEN CAST(epoch_us(ts) // 86400000000 + 4
                         AS BIGINT) % 7 >= 5
                    THEN 1 ELSE 0 END AS g
        FROM events
    ),
    grid AS (
        SELECT sec,
               CAST(SUM(g) AS BIGINT) AS a,
               CAST(SUM(1 - g) AS BIGINT) AS b
        FROM pts GROUP BY sec
    ),
    cum AS (
        SELECT sec, a + b AS c,
               CAST(SUM(a) OVER (ORDER BY sec) AS BIGINT) AS ca,
               CAST(SUM(b) OVER (ORDER BY sec) AS BIGINT) AS cb,
               CAST(SUM(a) OVER () AS BIGINT) AS n1,
               CAST(SUM(b) OVER () AS BIGINT) AS n2
        FROM grid
    ),
    dsum AS (
        SELECT MAX(n1) AS n1, MAX(n2) AS n2,
               MAX(n1 + n2) AS nn,
               CAST(SUM(CAST(round(c * (CAST(ca AS DOUBLE) / n1
                   - CAST(cb AS DOUBLE) / n2), 10)
                   AS DECIMAL(28,10))) AS DOUBLE) AS scd,
               CAST(SUM(CAST(round(c * (CAST(ca AS DOUBLE) / n1
                   - CAST(cb AS DOUBLE) / n2)
                   * (CAST(ca AS DOUBLE) / n1
                      - CAST(cb AS DOUBLE) / n2), 10)
                   AS DECIMAL(28,10))) AS DOUBLE) AS scd2
        FROM cum
    )
    SELECT n1 AS n_fri_sat, n2 AS n_sun_thu,
           round((CAST(n1 AS DOUBLE) * n2 / (CAST(nn AS DOUBLE) * nn))
                 * (scd2 - scd * scd / nn), 8) + 0.0
               AS watson_u2,
           CAST(CASE WHEN (CAST(n1 AS DOUBLE) * n2
                           / (CAST(nn AS DOUBLE) * nn))
                          * (scd2 - scd * scd / nn) > 0.187
                     THEN 1 ELSE 0 END AS INT) AS reject_5pct
    FROM dsum
    """,
)
def watson_u2_two_sample(spark, sf_dir):
    """WATSON TWO-SAMPLE U^2 comparing the Fri/Sat vs Sun-Thu
    INTRADAY PHASE distribution of events (second-of-day support):
    U^2 = (n1 n2 / N^2) sum_k c_k (d_k - dbar)^2 with d = F1 - F2
    on the merged grid and dbar its merged-weighted mean — the
    ROTATION-INVARIANT two-sample test: `ks_two_sample_values`'s D
    depends on where midnight is cut (a pure phase shift of the
    same daily shape moves D arbitrarily), while U^2 is invariant
    to rotating the clock face, so it isolates SHAPE differences in
    the daily activity profile from timezone-like rotations. The
    two-sample side of `watson_u2_hours` (one-sample uniformity),
    and the 0.187 asymptotic 5% critical value is the shared
    literal.

    Exactness: second-of-day and both cumulative counts are exact
    integers on the bounded 86400-value grid; d pins at 10 dp
    inside weighted DECIMAL folds; the centered sum closes via
    sum(c d^2) - (sum c d)^2/N in one pass. Plan: one scan ->
    seconds-grid rollup -> grid cumulatives -> one fold."""
    e = t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    pts = e.select(
        F.floor((us % 86_400_000_000) / 1_000_000)
        .cast("bigint")
        .alias("sec"),
        F.when(
            (F.floor(us / 86_400_000_000) + 4) % 7 >= 5, 1
        )
        .otherwise(0)
        .alias("g"),
    )
    grid = pts.groupBy("sec").agg(
        F.sum("g").cast("bigint").alias("a"),
        F.sum(1 - F.col("g")).cast("bigint").alias("b"),
    )
    wv = Window.orderBy("sec").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grid.select(
        (F.col("a") + F.col("b")).alias("c"),
        F.sum("a").over(wv).cast("bigint").alias("ca"),
        F.sum("b").over(wv).cast("bigint").alias("cb"),
        F.sum("a").over(Window.partitionBy()).cast("bigint").alias("n1"),
        F.sum("b").over(Window.partitionBy()).cast("bigint").alias("n2"),
    )
    d = (
        F.col("ca").cast("double") / F.col("n1")
        - F.col("cb").cast("double") / F.col("n2")
    )
    dsum = cum.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.max(F.col("n1") + F.col("n2")).alias("nn"),
        F.sum(F.round(F.col("c") * d, 10).cast("decimal(28,10)"))
        .cast("double")
        .alias("scd"),
        F.sum(F.round(F.col("c") * d * d, 10).cast("decimal(28,10)"))
        .cast("double")
        .alias("scd2"),
    )
    nn = F.col("nn").cast("double")
    u2 = (
        F.col("n1").cast("double") * F.col("n2") / (nn * nn)
    ) * (F.col("scd2") - F.col("scd") * F.col("scd") / nn)
    return dsum.select(
        F.col("n1").alias("n_fri_sat"),
        F.col("n2").alias("n_sun_thu"),
        (F.round(u2, 8) + 0.0).alias("watson_u2"),
        F.when(u2 > 0.187, 1).otherwise(0).cast("int")
        .alias("reject_5pct"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "watson_u2_two_sample": (
            "cumulatives over the bounded 86400-second grid (the "
            "watson_u2_hours class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Neyman-Ledwina smooth test of day-of-month uniformity
# --------------------------------------------------------------------------
@register(
    "neyman_smooth_uniformity",
    oracle="""
    WITH pts AS (
        SELECT CAST(date_part('day', o_orderdate) AS BIGINT) AS dom
        FROM orders
        WHERE CAST(date_part('day', o_orderdate) AS BIGINT) <= 28
    ),
    grid AS (
        SELECT dom, CAST(COUNT(*) AS BIGINT) AS c,
               (dom - 0.5) / 28.0 AS u
        FROM pts GROUP BY dom
    ),
    comp AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CAST(round(c * 1.7320508075688772
                   * (2.0 * u - 1.0), 10) AS DECIMAL(28,10)))
                   AS DOUBLE) AS s1,
               CAST(SUM(CAST(round(c * 2.23606797749979
                   * (6.0 * u * u - 6.0 * u + 1.0), 10)
                   AS DECIMAL(28,10))) AS DOUBLE) AS s2,
               CAST(SUM(CAST(round(c * 2.6457513110645907
                   * (20.0 * u * u * u - 30.0 * u * u + 12.0 * u
                      - 1.0), 10) AS DECIMAL(28,10))) AS DOUBLE)
                   AS s3,
               CAST(SUM(CAST(round(c * 3.0
                   * (70.0 * u * u * u * u - 140.0 * u * u * u
                      + 90.0 * u * u - 20.0 * u + 1.0), 10)
                   AS DECIMAL(28,10))) AS DOUBLE) AS s4
        FROM grid
    ),
    vs AS (
        SELECT n,
               s1 * s1 / n AS v1,
               s2 * s2 / n AS v2,
               s3 * s3 / n AS v3,
               s4 * s4 / n AS v4
        FROM comp
    ),
    sel AS (
        SELECT n, v1, v2, v3, v4,
               v1 + v2 + v3 + v4 AS psi4,
               CASE GREATEST(v1 - ln(n * 1.0),
                             v1 + v2 - 2.0 * ln(n * 1.0),
                             v1 + v2 + v3 - 3.0 * ln(n * 1.0),
                             v1 + v2 + v3 + v4 - 4.0 * ln(n * 1.0))
                    WHEN v1 - ln(n * 1.0) THEN 1
                    WHEN v1 + v2 - 2.0 * ln(n * 1.0) THEN 2
                    WHEN v1 + v2 + v3 - 3.0 * ln(n * 1.0) THEN 3
                    ELSE 4 END AS kstar
        FROM vs
    )
    SELECT n AS n_orders,
           round(v1, 6) + 0.0 AS v1_sq,
           round(v2, 6) + 0.0 AS v2_sq,
           round(v3, 6) + 0.0 AS v3_sq,
           round(v4, 6) + 0.0 AS v4_sq,
           round(psi4, 6) + 0.0 AS neyman_psi4,
           CAST(kstar AS BIGINT) AS ledwina_k_star,
           round(CASE kstar WHEN 1 THEN v1
                 WHEN 2 THEN v1 + v2
                 WHEN 3 THEN v1 + v2 + v3
                 ELSE psi4 END, 6) + 0.0 AS ledwina_stat
    FROM sel
    """,
)
def neyman_smooth_uniformity(spark, sf_dir):
    """NEYMAN SMOOTH test of day-of-month uniformity with LEDWINA'S
    data-driven order selection: the first four normalized Legendre
    components V_j = (1/sqrt n) sum pi_j(u_i) on u = (dom-0.5)/28
    give Psi4 = sum V_j^2 ~ chi2_4, and Schwarz selection k* =
    argmax_k (sum_{j<=k} V_j^2 - k ln n) picks the dimension before
    testing (Ledwina 1994) — the DIRECTED second opinion to
    `ks_uniform_dayofmonth` / `kuiper_uniform_daymonth` /
    `chi2`-style bins: the omnibus EDF tests say "not uniform", the
    component decomposition says HOW — V1 = start-vs-end drift, V2
    = mid-month bulge, V3/V4 = finer waves — and Ledwina's k* makes
    the power adaptive instead of diluted across dimensions. Ties
    to `day_of_month_effect` (which models the same signal).

    Exactness: day counts exact on the 28-row grid; u is an exact
    28th-grid rational; each polynomial term pins at 10 dp into
    DECIMAL folds (sqrt(3)/sqrt(5)/sqrt(7)/3 shared literals); the
    selection CASE compares identical IEEE penalized sums. Plan:
    one scan -> 28-row rollup -> one fold; no window at all."""
    o = t(spark, sf_dir, "orders")
    pts = o.select(
        F.dayofmonth("o_orderdate").cast("bigint").alias("dom")
    ).where(F.col("dom") <= 28)
    grid = pts.groupBy("dom").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    u = (F.col("dom") - 0.5) / 28.0
    p1 = 1.7320508075688772 * (2.0 * u - 1.0)
    p2 = 2.23606797749979 * (6.0 * u * u - 6.0 * u + 1.0)
    p3 = 2.6457513110645907 * (
        20.0 * u * u * u - 30.0 * u * u + 12.0 * u - 1.0
    )
    p4 = 3.0 * (
        70.0 * u * u * u * u
        - 140.0 * u * u * u
        + 90.0 * u * u
        - 20.0 * u
        + 1.0
    )
    comp = grid.agg(
        F.sum("c").cast("bigint").alias("n"),
        *[
            F.sum(
                F.round(F.col("c") * p, 10).cast("decimal(28,10)")
            )
            .cast("double")
            .alias(f"s{j}")
            for j, p in ((1, p1), (2, p2), (3, p3), (4, p4))
        ],
    )
    n = F.col("n").cast("double")
    v = {j: F.col(f"s{j}") * F.col(f"s{j}") / n for j in range(1, 5)}
    ln_n = F.log(n)
    pen = {
        1: v[1] - ln_n,
        2: v[1] + v[2] - 2.0 * ln_n,
        3: v[1] + v[2] + v[3] - 3.0 * ln_n,
        4: v[1] + v[2] + v[3] + v[4] - 4.0 * ln_n,
    }
    best = F.greatest(pen[1], pen[2], pen[3], pen[4])
    kstar = (
        F.when(pen[1] == best, 1)
        .when(pen[2] == best, 2)
        .when(pen[3] == best, 3)
        .otherwise(4)
    )
    cum_v = {
        1: v[1],
        2: v[1] + v[2],
        3: v[1] + v[2] + v[3],
        4: v[1] + v[2] + v[3] + v[4],
    }
    led = (
        F.when(kstar == 1, cum_v[1])
        .when(kstar == 2, cum_v[2])
        .when(kstar == 3, cum_v[3])
        .otherwise(cum_v[4])
    )
    return comp.select(
        F.col("n").alias("n_orders"),
        (F.round(v[1], 6) + 0.0).alias("v1_sq"),
        (F.round(v[2], 6) + 0.0).alias("v2_sq"),
        (F.round(v[3], 6) + 0.0).alias("v3_sq"),
        (F.round(v[4], 6) + 0.0).alias("v4_sq"),
        (F.round(cum_v[4], 6) + 0.0).alias("neyman_psi4"),
        kstar.cast("bigint").alias("ledwina_k_star"),
        (F.round(led, 6) + 0.0).alias("ledwina_stat"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "neyman_smooth_uniformity": (
            "no window — 28-row grid rollup + one fold"
        ),
    }
)


# --------------------------------------------------------------------------
# Tarone's Z for beta-binomial overdispersion of daily purchase shares
# --------------------------------------------------------------------------
@register(
    "tarone_overdispersion_z",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS tn,
               CAST(SUM(x) AS BIGINT) AS tx,
               CAST(SUM(CAST(n AS DECIMAL(38,0)) * (n - 1))
                    AS DECIMAL(38,0)) AS snn1
        FROM daily
    ),
    s AS (
        SELECT t.tn, t.tx, t.snn1,
               CAST(SUM(CAST(round(
                   (daily.x - daily.n
                       * (CAST(t.tx AS DOUBLE) / t.tn))
                   * (daily.x - daily.n
                       * (CAST(t.tx AS DOUBLE) / t.tn))
                   / ((CAST(t.tx AS DOUBLE) / t.tn)
                      * (1.0 - CAST(t.tx AS DOUBLE) / t.tn)), 8)
                   AS DECIMAL(28,8))) AS DOUBLE) AS ss
        FROM daily, tot t
        GROUP BY t.tn, t.tx, t.snn1
    )
    SELECT tn AS n_events, tx AS n_purchases,
           round(ss, 4) + 0.0 AS tarone_s,
           round(CAST(tn AS DOUBLE), 1) + 0.0 AS expected_s,
           round((ss - tn)
                 / sqrt(2.0 * CAST(snn1 AS DOUBLE)), 6) + 0.0
               AS tarone_z
    FROM s
    """,
)
def tarone_overdispersion_z(spark, sf_dir):
    """TARONE'S Z test for BETA-BINOMIAL overdispersion of the daily
    purchase share: S = sum_d (x_d - n_d p)^2 / (p(1-p)) with the
    pooled p, and Z = (S - sum n_d)/sqrt(2 sum n_d(n_d - 1)) — the
    C(alpha)-optimal score test AGAINST the beta-binomial
    alternative specifically (Tarone 1979), where
    `lexis_ratio_proportions` is the generic chi2 dispersion ratio
    and `dean_overdispersion_test` is its Poisson-side sibling:
    three score tests, three alternatives (generic, beta-binomial,
    negative-binomial) on matching day-grain frames — which one
    fires fastest is itself the diagnosis of HOW the daily
    conversion rate drifts.

    Exactness: daily (n, x) are exact integers; sum n(n-1) widens
    through DECIMAL(38,0); the pooled p is one exact-integer ratio;
    S terms round at 8 dp into a DECIMAL fold; Z is a terminal IEEE
    tree. Plan: day rollup -> scalar total -> broadcast fold; no
    window."""
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
        .alias("x"),
    )
    tot = daily.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("x").cast("bigint").alias("tx"),
        F.sum(F.col("n").cast("decimal(38,0)") * (F.col("n") - 1))
        .cast("decimal(38,0)")
        .alias("snn1"),
    )
    p = F.col("tx").cast("double") / F.col("tn")
    term = F.round(
        (F.col("x") - F.col("n") * p)
        * (F.col("x") - F.col("n") * p)
        / (p * (1.0 - p)),
        8,
    )
    s = (
        daily.crossJoin(F.broadcast(tot))
        .groupBy("tn", "tx", "snn1")
        .agg(
            F.sum(term.cast("decimal(28,8)"))
            .cast("double")
            .alias("ss")
        )
    )
    return s.select(
        F.col("tn").alias("n_events"),
        F.col("tx").alias("n_purchases"),
        (F.round("ss", 4) + 0.0).alias("tarone_s"),
        (F.round(F.col("tn").cast("double"), 1) + 0.0)
        .alias("expected_s"),
        (
            F.round(
                (F.col("ss") - F.col("tn"))
                / F.sqrt(2.0 * F.col("snn1").cast("double")),
                6,
            )
            + 0.0
        ).alias("tarone_z"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "tarone_overdispersion_z": (
            "no window — day rollup + scalar broadcast fold (the "
            "lexis_ratio class)"
        ),
    }
)


# --------------------------------------------------------------------------
# G-test (likelihood-ratio) of event-type x day-of-week independence
# --------------------------------------------------------------------------
@register(
    "g_test_independence",
    oracle="""
    WITH cells AS (
        SELECT event_type AS et,
               CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT)
                   AS dow,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ),
    rows_ AS (
        SELECT et, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY et
    ),
    cols_ AS (
        SELECT dow, CAST(SUM(o) AS BIGINT) AS k FROM cells GROUP BY dow
    ),
    tot AS (
        SELECT CAST(SUM(o) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT et) AS BIGINT) AS nr,
               CAST(COUNT(DISTINCT dow) AS BIGINT) AS nc
        FROM cells
    ),
    g AS (
        SELECT t.n, t.nr, t.nc,
               CAST(SUM(CAST(round(2.0 * c.o
                   * ln(CAST(c.o AS DOUBLE) * t.n
                        / (CAST(r.r AS DOUBLE) * k.k)), 8)
                   AS DECIMAL(28,8))) AS DOUBLE) AS gstat,
               CAST(SUM(CAST(round(
                   (c.o - CAST(r.r AS DOUBLE) * k.k / t.n)
                   * (c.o - CAST(r.r AS DOUBLE) * k.k / t.n)
                   / (CAST(r.r AS DOUBLE) * k.k / t.n), 8)
                   AS DECIMAL(28,8))) AS DOUBLE) AS chi2
        FROM cells c
        JOIN rows_ r ON c.et = r.et
        JOIN cols_ k ON c.dow = k.dow
        CROSS JOIN tot t
        GROUP BY t.n, t.nr, t.nc
    ),
    wq AS (
        SELECT n, nr, nc, gstat, chi2,
               1.0 + ((n * (SELECT CAST(SUM(1.0 / r) AS DOUBLE)
                            FROM rows_) - 1.0)
                      * (n * (SELECT CAST(SUM(1.0 / k) AS DOUBLE)
                              FROM cols_) - 1.0))
                     / (6.0 * n * (nr - 1.0) * (nc - 1.0)) AS q
        FROM g
    )
    SELECT n AS n_events,
           CAST((nr - 1) * (nc - 1) AS BIGINT) AS df,
           round(gstat, 6) + 0.0 AS g_stat,
           round(q, 10) + 0.0 AS williams_q,
           round(gstat / q, 6) + 0.0 AS g_williams,
           round(chi2, 6) + 0.0 AS pearson_chi2
    FROM wq
    """,
)
def g_test_independence(spark, sf_dir):
    """G-TEST (likelihood-ratio chi-square) of event-type x
    day-of-week independence with WILLIAMS' correction — the
    information-theoretic second opinion to
    `chi2_independence_type_dow` on the identical contingency
    frame: G = 2 sum O ln(O n/(R C)) is additive under table
    collapsing (Pearson's X2 is not), equals 2n * the mutual
    information `mutual_information_type_dow` already reports (the
    three readouts triangulate), and diverges from X2 exactly when
    cells are sparse — where Williams' q = 1 + (n sum 1/R - 1)(n
    sum 1/C - 1)/(6n(r-1)(c-1)) is the published small-cell
    deflator. Pearson X2 ships in the same row so the G-vs-X2 gap
    is a one-row sparse-table diagnostic.

    Exactness: cell/margin counts exact integers off one rollup;
    G and X2 terms pin at 8 dp into DECIMAL folds; q is a terminal
    rational over exact margins. Plan: (type, dow) rollup -> two
    bounded margin rollups -> broadcast joins -> one fold; no
    window."""
    e = t(spark, sf_dir, "events")
    cells = e.groupBy(
        F.col("event_type").alias("et"),
        (
            (F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7
        )
        .cast("bigint")
        .alias("dow"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("o")).persist()
    rows_ = cells.groupBy("et").agg(
        F.sum("o").cast("bigint").alias("r")
    )
    cols_ = cells.groupBy("dow").agg(
        F.sum("o").cast("bigint").alias("k")
    )
    tot = cells.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.countDistinct("et").cast("bigint").alias("nr"),
        F.countDistinct("dow").cast("bigint").alias("nc"),
    )
    rinv = rows_.agg(
        F.sum(1.0 / F.col("r")).cast("double").alias("sri")
    )
    cinv = cols_.agg(
        F.sum(1.0 / F.col("k")).cast("double").alias("sci")
    )
    ex = F.col("r").cast("double") * F.col("k") / F.col("n")
    j = (
        cells.join(F.broadcast(rows_), "et")
        .join(F.broadcast(cols_), "dow")
        .crossJoin(F.broadcast(tot))
    )
    g = j.groupBy("n", "nr", "nc").agg(
        F.sum(
            F.round(
                2.0
                * F.col("o")
                * F.log(
                    F.col("o").cast("double")
                    * F.col("n")
                    / (F.col("r").cast("double") * F.col("k"))
                ),
                8,
            ).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("gstat"),
        F.sum(
            F.round(
                (F.col("o") - ex) * (F.col("o") - ex) / ex, 8
            ).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("chi2"),
    )
    out = g.crossJoin(F.broadcast(rinv)).crossJoin(F.broadcast(cinv))
    n = F.col("n").cast("double")
    q = 1.0 + (
        (n * F.col("sri") - 1.0) * (n * F.col("sci") - 1.0)
    ) / (6.0 * n * (F.col("nr") - 1.0) * (F.col("nc") - 1.0))
    return out.select(
        F.col("n").alias("n_events"),
        ((F.col("nr") - 1) * (F.col("nc") - 1))
        .cast("bigint")
        .alias("df"),
        (F.round("gstat", 6) + 0.0).alias("g_stat"),
        (F.round(q, 10) + 0.0).alias("williams_q"),
        (F.round(F.col("gstat") / q, 6) + 0.0).alias("g_williams"),
        (F.round("chi2", 6) + 0.0).alias("pearson_chi2"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "g_test_independence": (
            "no window — contingency rollup + bounded margin "
            "rollups + one fold (the chi2_independence frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# Abelson-Tukey maximin contrast for ordered priority groups
# --------------------------------------------------------------------------
@register(
    "abelson_tukey_ordered",
    oracle="""
    WITH pts AS (
        SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS g,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    grp AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s,
               CAST(SUM(CAST(v AS DECIMAL(38,0)) * v)
                    AS DECIMAL(38,0)) AS ss
        FROM pts GROUP BY g
    ),
    sc AS (
        SELECT g, n, s, ss,
               CASE g WHEN 1 THEN -0.894427191
                      WHEN 2 THEN -0.201017924
                      WHEN 3 THEN 0.0
                      WHEN 4 THEN 0.201017924
                      ELSE 0.894427191 END AS c
        FROM grp
    ),
    fold AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nt,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(round(c * (CAST(s AS DOUBLE) / n)
                   / 100000.0, 10) AS DECIMAL(28,10))) AS DOUBLE)
                   AS contrast,
               CAST(SUM(CAST(round(c * c / n, 14)
                   AS DECIMAL(28,14))) AS DOUBLE) AS wsum,
               CAST(SUM(CAST(round((CAST(ss AS DOUBLE)
                   - CAST(s AS DOUBLE) * s / n) / 1e10, 6)
                   AS DECIMAL(38,6))) AS DOUBLE) AS sse
        FROM sc
    )
    SELECT nt AS n_orders, k AS n_groups,
           round(contrast, 6) + 0.0 AS at_contrast_kusd,
           round(contrast
                 / sqrt(sse / (nt - k) * wsum), 6) + 0.0
               AS at_z
    FROM fold
    """,
)
def abelson_tukey_ordered(spark, sf_dir):
    """ABELSON-TUKEY maximin linear contrast across the five ORDERED
    order priorities: scores c_i = sqrt((i-1)(1-(i-1)/k)) -
    sqrt(i(1-i/k)) (the contrast whose minimum power over all
    monotone alternatives is maximal; exact literals for k = 5),
    z = sum c_i xbar_i / sqrt(MSE sum c_i^2/n_i) with the pooled
    within-group MSE — the PARAMETRIC second opinion to
    `jonckheere_terpstra_trend` / `cuzick_trend_test` (rank forms)
    and the ordered complement to `anova_value_by_dow`'s omnibus F:
    the rank tests protect against outliers, the maximin contrast
    extracts every drop of efficiency when values are usable, and
    their agreement pattern separates a location trend from a
    spread artifact. End-weighted scores (-0.894, -0.201, 0, ...)
    are exactly where a monotone dose-response concentrates.

    Exactness: per-group counts and DECIMAL(38,0) power sums are
    exact; group means scale to kUSD; contrast terms pin at 10 dp,
    weights at 14 dp, within-group SS at 6 dp (1e10 = kUSD^2
    rescale) into DECIMAL folds; z is a terminal IEEE tree. Plan:
    one scan -> 5-group rollup -> one fold; no window."""
    o = t(spark, sf_dir, "orders")
    pts = o.select(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("g"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v"),
    )
    grp = pts.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    c = (
        F.when(F.col("g") == 1, -0.894427191)
        .when(F.col("g") == 2, -0.201017924)
        .when(F.col("g") == 3, 0.0)
        .when(F.col("g") == 4, 0.201017924)
        .otherwise(0.894427191)
    )
    fold = grp.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(
            F.round(
                c * (F.col("s").cast("double") / F.col("n")) / 100000.0,
                10,
            ).cast("decimal(28,10)")
        )
        .cast("double")
        .alias("contrast"),
        F.sum(F.round(c * c / F.col("n"), 14).cast("decimal(28,14)"))
        .cast("double")
        .alias("wsum"),
        F.sum(
            F.round(
                (
                    F.col("ss").cast("double")
                    - F.col("s").cast("double") * F.col("s")
                    / F.col("n")
                )
                / 1e10,
                6,
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("sse"),
    )
    return fold.select(
        F.col("nt").alias("n_orders"),
        F.col("k").alias("n_groups"),
        (F.round("contrast", 6) + 0.0).alias("at_contrast_kusd"),
        (
            F.round(
                F.col("contrast")
                / F.sqrt(
                    F.col("sse")
                    / (F.col("nt") - F.col("k"))
                    * F.col("wsum")
                ),
                6,
            )
            + 0.0
        ).alias("at_z"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "abelson_tukey_ordered": (
            "no window — 5-group rollup + one fold"
        ),
    }
)


# --------------------------------------------------------------------------
# Delete-one jackknife SE for skewness and excess kurtosis
# --------------------------------------------------------------------------
@register(
    "jackknife_moment_se",
    oracle="""
    WITH pts AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    grid AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(v AS DOUBLE) / 100000.0 AS x
        FROM pts GROUP BY v
    ),
    tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CAST(round(c * x, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS s1,
               CAST(SUM(CAST(round(c * x * x, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS s2,
               CAST(SUM(CAST(round(c * x * x * x, 6)
                    AS DECIMAL(38,6))) AS DOUBLE) AS s3,
               CAST(SUM(CAST(round(c * x * x * x * x, 4)
                    AS DECIMAL(38,4))) AS DOUBLE) AS s4
        FROM grid
    ),
    pseudo AS (
        SELECT g.c, t.n,
               round((t.s3 - g.x * g.x * g.x) / (t.n - 1.0)
                     - 3.0 * ((t.s1 - g.x) / (t.n - 1.0))
                       * ((t.s2 - g.x * g.x) / (t.n - 1.0))
                     + 2.0 * ((t.s1 - g.x) / (t.n - 1.0))
                       * ((t.s1 - g.x) / (t.n - 1.0))
                       * ((t.s1 - g.x) / (t.n - 1.0)), 10) AS m3d,
               round((t.s2 - g.x * g.x) / (t.n - 1.0)
                     - ((t.s1 - g.x) / (t.n - 1.0))
                       * ((t.s1 - g.x) / (t.n - 1.0)), 10) AS m2d,
               round((t.s4 - g.x * g.x * g.x * g.x) / (t.n - 1.0)
                     - 4.0 * ((t.s1 - g.x) / (t.n - 1.0))
                       * ((t.s3 - g.x * g.x * g.x) / (t.n - 1.0))
                     + 6.0 * ((t.s1 - g.x) / (t.n - 1.0))
                       * ((t.s1 - g.x) / (t.n - 1.0))
                       * ((t.s2 - g.x * g.x) / (t.n - 1.0))
                     - 3.0 * ((t.s1 - g.x) / (t.n - 1.0))
                       * ((t.s1 - g.x) / (t.n - 1.0))
                       * ((t.s1 - g.x) / (t.n - 1.0))
                       * ((t.s1 - g.x) / (t.n - 1.0)), 10) AS m4d
        FROM grid g, tot t
    ),
    gvals AS (
        SELECT c, n,
               round(m3d / (m2d * sqrt(m2d)), 10) AS g1d,
               round(m4d / (m2d * m2d) - 3.0, 10) AS g2d
        FROM pseudo
    ),
    fold AS (
        SELECT MAX(n) AS n,
               CAST(SUM(CAST(round(c * g1d, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS sg1,
               CAST(SUM(CAST(round(c * g1d * g1d, 10)
                    AS DECIMAL(28,10))) AS DOUBLE) AS sg1b,
               CAST(SUM(CAST(round(c * g2d, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS sg2,
               CAST(SUM(CAST(round(c * g2d * g2d, 10)
                    AS DECIMAL(28,10))) AS DOUBLE) AS sg2b
        FROM gvals
    )
    SELECT n AS n_orders,
           round(sqrt((n - 1.0) / n
                 * (sg1b - sg1 * sg1 / n)), 7) + 0.0
               AS skewness_se_jack,
           round(sqrt((n - 1.0) / n
                 * (sg2b - sg2 * sg2 / n)), 7) + 0.0
               AS kurtosis_se_jack,
           round(sqrt(6.0 * n * (n - 1.0)
                 / ((n - 2.0) * (n + 1.0) * (n + 3.0))), 8) + 0.0
               AS skewness_se_normal,
           round(sqrt(24.0 * n * (n - 1.0) * (n - 1.0)
                 / ((n - 3.0) * (n - 2.0) * (n + 3.0)
                    * (n + 5.0))), 8) + 0.0 AS kurtosis_se_normal
    FROM fold
    """,
)
def jackknife_moment_se(spark, sf_dir):
    """DELETE-ONE JACKKNIFE standard errors for the skewness and
    excess kurtosis of order value (kUSD) — the distribution-free
    second opinion to the NORMAL-THEORY moment SEs that
    `dagostino_k2_panel` / `jarque_bera_normality` standardize
    with (sqrt(6/n), sqrt(24/n) families, shipped alongside): on a
    heavy-tailed revenue distribution the normal-theory skewness SE
    is famously optimistic by multiples, so every "skewness = X
    (+/- se)" readout inherits a silent normality assumption THIS
    query prices. The delete-one replicate for every row with value
    v is identical, so the n pseudovalues collapse to one per
    DISTINCT VALUE weighted by its multiplicity — the jackknife
    runs on the cents grid with no per-row pass (the
    gini_jackknife_se device at value grain).

    Exactness: kUSD power sums S1..S4 round at 6/4 dp into
    DECIMAL(38,x) folds (S4 <= ~6e12 at 64x sf0.1 — far off the
    rail); each deleted-moment tree is one IEEE expression over
    (S_k - x^k)/(n-1) pinned at 10 dp; the pseudovalue variance
    folds c-weighted squares; the jackknife SE readouts pin at 7 dp
    (decade escalation — the centered fold straddled an 8-dp boundary
    at sf0.01). Plan: one grid rollup -> scalar
    totals -> broadcast grid pass -> one fold; no window."""
    o = t(spark, sf_dir, "orders")
    grid = (
        o.select(
            (dec("o_totalprice", 18, 2) * 100)
            .cast("bigint")
            .alias("v")
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .select(
            "c", (F.col("v").cast("double") / 100000.0).alias("x")
        )
    )
    tot = grid.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.round(F.col("c") * F.col("x"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("s1"),
        F.sum(
            F.round(F.col("c") * F.col("x") * F.col("x"), 6).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("s2"),
        F.sum(
            F.round(
                F.col("c") * F.col("x") * F.col("x") * F.col("x"), 6
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("s3"),
        F.sum(
            F.round(
                F.col("c")
                * F.col("x")
                * F.col("x")
                * F.col("x")
                * F.col("x"),
                4,
            ).cast("decimal(38,4)")
        )
        .cast("double")
        .alias("s4"),
    )
    j = grid.crossJoin(F.broadcast(tot))
    nm1 = F.col("n") - 1.0
    x = F.col("x")
    mu = (F.col("s1") - x) / nm1
    r2 = (F.col("s2") - x * x) / nm1
    r3 = (F.col("s3") - x * x * x) / nm1
    r4 = (F.col("s4") - x * x * x * x) / nm1
    m2d = F.round(r2 - mu * mu, 10)
    m3d = F.round(r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu, 10)
    m4d = F.round(
        r4
        - 4.0 * mu * r3
        + 6.0 * mu * mu * r2
        - 3.0 * mu * mu * mu * mu,
        10,
    )
    g1d = F.round(m3d / (m2d * F.sqrt(m2d)), 10)
    g2d = F.round(m4d / (m2d * m2d) - 3.0, 10)
    gvals = j.select("c", "n", g1d.alias("g1d"), g2d.alias("g2d"))
    fold = gvals.agg(
        F.max("n").alias("n"),
        F.sum(
            F.round(F.col("c") * F.col("g1d"), 10).cast("decimal(28,10)")
        )
        .cast("double")
        .alias("sg1"),
        F.sum(
            F.round(
                F.col("c") * F.col("g1d") * F.col("g1d"), 10
            ).cast("decimal(28,10)")
        )
        .cast("double")
        .alias("sg1b"),
        F.sum(
            F.round(F.col("c") * F.col("g2d"), 10).cast("decimal(28,10)")
        )
        .cast("double")
        .alias("sg2"),
        F.sum(
            F.round(
                F.col("c") * F.col("g2d") * F.col("g2d"), 10
            ).cast("decimal(28,10)")
        )
        .cast("double")
        .alias("sg2b"),
    )
    n = F.col("n").cast("double")
    return fold.select(
        F.col("n").alias("n_orders"),
        (
            F.round(
                F.sqrt(
                    (n - 1.0)
                    / n
                    * (
                        F.col("sg1b")
                        - F.col("sg1") * F.col("sg1") / n
                    )
                ),
                7,
            )
            + 0.0
        ).alias("skewness_se_jack"),
        (
            F.round(
                F.sqrt(
                    (n - 1.0)
                    / n
                    * (
                        F.col("sg2b")
                        - F.col("sg2") * F.col("sg2") / n
                    )
                ),
                7,
            )
            + 0.0
        ).alias("kurtosis_se_jack"),
        (
            F.round(
                F.sqrt(
                    6.0
                    * n
                    * (n - 1.0)
                    / ((n - 2.0) * (n + 1.0) * (n + 3.0))
                ),
                8,
            )
            + 0.0
        ).alias("skewness_se_normal"),
        (
            F.round(
                F.sqrt(
                    24.0
                    * n
                    * (n - 1.0)
                    * (n - 1.0)
                    / (
                        (n - 3.0)
                        * (n - 2.0)
                        * (n + 3.0)
                        * (n + 5.0)
                    )
                ),
                8,
            )
            + 0.0
        ).alias("kurtosis_se_normal"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "jackknife_moment_se": (
            "no window — cents-grid rollup + broadcast totals + one "
            "fold (the gini_jackknife device at value grain)"
        ),
    }
)


# --------------------------------------------------------------------------
# Delete-one jackknife SE for the daily volume-revenue correlation
# --------------------------------------------------------------------------
@register(
    "correlation_jackknife_se",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    kd AS (
        SELECT d, CAST(x AS DOUBLE) AS x,
               CAST(y AS DOUBLE) / 100000.0 AS y
        FROM daily
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(x, 1) AS DECIMAL(28,1)))
                    AS DOUBLE) AS sx,
               CAST(SUM(CAST(round(y, 6) AS DECIMAL(28,6)))
                    AS DOUBLE) AS sy,
               CAST(SUM(CAST(round(x * x, 1) AS DECIMAL(28,1)))
                    AS DOUBLE) AS sxx,
               CAST(SUM(CAST(round(y * y, 6) AS DECIMAL(28,6)))
                    AS DOUBLE) AS syy,
               CAST(SUM(CAST(round(x * y, 6) AS DECIMAL(28,6)))
                    AS DOUBLE) AS sxy
        FROM kd
    ),
    pseudo AS (
        SELECT t.n,
               round(((t.n - 1.0) * (t.sxy - k.x * k.y)
                      - (t.sx - k.x) * (t.sy - k.y))
                     / sqrt(((t.n - 1.0) * (t.sxx - k.x * k.x)
                             - (t.sx - k.x) * (t.sx - k.x))
                            * ((t.n - 1.0) * (t.syy - k.y * k.y)
                               - (t.sy - k.y) * (t.sy - k.y))), 10)
                   AS rd
        FROM kd k, tot t
    ),
    fold AS (
        SELECT MAX(n) AS n,
               CAST(SUM(CAST(rd AS DECIMAL(28,10))) AS DOUBLE) AS sr,
               CAST(SUM(CAST(round(rd * rd, 12) AS DECIMAL(28,12)))
                    AS DOUBLE) AS srr
        FROM pseudo
    ),
    rfull AS (
        SELECT round((t.n * t.sxy - t.sx * t.sy)
                     / sqrt((t.n * t.sxx - t.sx * t.sx)
                            * (t.n * t.syy - t.sy * t.sy)), 8) AS r
        FROM tot t
    )
    SELECT f.n AS n_days,
           rf.r + 0.0 AS pearson_r,
           round(sqrt((f.n - 1.0) / f.n
                 * (f.srr - f.sr * f.sr / f.n)), 7) + 0.0
               AS r_se_jackknife,
           round((1.0 - rf.r * rf.r) / sqrt(f.n - 1.0), 7) + 0.0
               AS r_se_asymptotic,
           round(1.0 / sqrt(f.n - 3.0), 7) + 0.0
               AS fisher_z_se
    FROM fold f, rfull rf
    """,
)
def correlation_jackknife_se(spark, sf_dir):
    """DELETE-ONE JACKKNIFE standard error for the daily
    volume-revenue Pearson correlation — the resampling second
    opinion to the two textbook SEs shipped beside it: the
    asymptotic (1-r^2)/sqrt(n-1) and Fisher's z-scale 1/sqrt(n-3),
    BOTH of which assume bivariate normality that daily revenue
    does not have — under heavy tails the jackknife SE runs larger,
    and the ratio prices exactly how much every correlation CI in
    the registry (`cross_correlation_daily`, `winsorized_
    correlation`'s raw leg) understates its uncertainty. Each
    deleted-day correlation is one closed-form expression over the
    six totals minus the day's own terms, so the jackknife is a
    single broadcast pass over the ~2.4k-row calendar frame — no
    resampling loop exists anywhere.

    Exactness: daily x/y fold exactly (counts at 1 dp, kUSD at 6
    dp, into DECIMAL sums); each deleted r pins at 10 dp; the
    pseudovalue variance folds 12-dp squares; jackknife readouts
    pin at 7 dp (decade escalation). Plan: day rollup -> scalar
    totals -> broadcast calendar pass -> one fold; no window."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("xc"),
        (F.sum(dec("o_totalprice", 18, 2)) * 100)
        .cast("bigint")
        .alias("yc"),
    )
    kd = daily.select(
        F.col("xc").cast("double").alias("x"),
        (F.col("yc").cast("double") / 100000.0).alias("y"),
    )
    tot = kd.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round("x", 1).cast("decimal(28,1)"))
        .cast("double")
        .alias("sx"),
        F.sum(F.round("y", 6).cast("decimal(28,6)"))
        .cast("double")
        .alias("sy"),
        F.sum(F.round(F.col("x") * F.col("x"), 1).cast("decimal(28,1)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.round(F.col("y") * F.col("y"), 6).cast("decimal(28,6)"))
        .cast("double")
        .alias("syy"),
        F.sum(F.round(F.col("x") * F.col("y"), 6).cast("decimal(28,6)"))
        .cast("double")
        .alias("sxy"),
    )
    j = kd.crossJoin(F.broadcast(tot))
    nm1 = F.col("n") - 1.0
    cxy = nm1 * (F.col("sxy") - F.col("x") * F.col("y")) - (
        F.col("sx") - F.col("x")
    ) * (F.col("sy") - F.col("y"))
    cxx = nm1 * (F.col("sxx") - F.col("x") * F.col("x")) - (
        F.col("sx") - F.col("x")
    ) * (F.col("sx") - F.col("x"))
    cyy = nm1 * (F.col("syy") - F.col("y") * F.col("y")) - (
        F.col("sy") - F.col("y")
    ) * (F.col("sy") - F.col("y"))
    rd = F.round(cxy / F.sqrt(cxx * cyy), 10)
    pseudo = j.select("n", rd.alias("rd"))
    fold = pseudo.agg(
        F.max("n").alias("n"),
        F.sum(F.col("rd").cast("decimal(28,10)"))
        .cast("double")
        .alias("sr"),
        F.sum(
            F.round(F.col("rd") * F.col("rd"), 12).cast("decimal(28,12)")
        )
        .cast("double")
        .alias("srr"),
    )
    nn = F.col("n").cast("double")
    rfull = tot.select(
        F.round(
            (
                F.col("n") * F.col("sxy")
                - F.col("sx") * F.col("sy")
            )
            / F.sqrt(
                (
                    F.col("n") * F.col("sxx")
                    - F.col("sx") * F.col("sx")
                )
                * (
                    F.col("n") * F.col("syy")
                    - F.col("sy") * F.col("sy")
                )
            ),
            8,
        ).alias("r")
    )
    return fold.crossJoin(F.broadcast(rfull)).select(
        F.col("n").alias("n_days"),
        (F.col("r") + 0.0).alias("pearson_r"),
        (
            F.round(
                F.sqrt(
                    (nn - 1.0)
                    / nn
                    * (F.col("srr") - F.col("sr") * F.col("sr") / nn)
                ),
                7,
            )
            + 0.0
        ).alias("r_se_jackknife"),
        (
            F.round(
                (1.0 - F.col("r") * F.col("r")) / F.sqrt(nn - 1.0), 7
            )
            + 0.0
        ).alias("r_se_asymptotic"),
        (F.round(1.0 / F.sqrt(nn - 3.0), 7) + 0.0)
        .alias("fisher_z_se"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "correlation_jackknife_se": (
            "no window — day rollup + broadcast totals + one fold "
            "(the jackknife_moment device at day grain)"
        ),
    }
)


# --------------------------------------------------------------------------
# Hartley's Fmax across day-of-week variance cells
# --------------------------------------------------------------------------
@register(
    "hartley_fmax_variance",
    oracle="""
    WITH pts AS (
        SELECT CAST((epoch_us(o_orderdate) // 86400000000 + 4) % 7
                    AS BIGINT) AS dow,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    grp AS (
        SELECT dow, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s,
               CAST(SUM(CAST(v AS DECIMAL(38,0)) * v)
                    AS DECIMAL(38,0)) AS ss
        FROM pts GROUP BY dow
    ),
    vars_ AS (
        SELECT dow, n,
               round((CAST(ss AS DOUBLE)
                      - CAST(s AS DOUBLE) * s / n) / (n - 1.0)
                     / 1e10, 8) AS v2
        FROM grp
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(MIN(n) AS BIGINT) AS nmin,
               CAST(MAX(n) AS BIGINT) AS nmax,
               MAX(v2) AS vmax, MIN(v2) AS vmin
        FROM vars_
    )
    SELECT k AS n_groups,
           nmin AS n_min, nmax AS n_max,
           round(vmax, 6) + 0.0 AS var_max_kusd2,
           round(vmin, 6) + 0.0 AS var_min_kusd2,
           round(vmax / vmin, 6) + 0.0 AS hartley_fmax,
           round(ln(vmax / vmin)
                 / sqrt(2.0 / (nmin - 1.0) + 2.0 / (nmax - 1.0)),
                 6) + 0.0 AS z_ln_fmax
    FROM fold
    """,
)
def hartley_fmax_variance(spark, sf_dir):
    """HARTLEY'S Fmax across the seven day-of-week variance cells of
    order value — the extremes-only second opinion to the pooled
    variance-homogeneity battery (`bartlett_variance_test` averages
    all cells, `levene_brown_forsythe` robustifies,
    `cochran_c_variance` takes max-over-sum): Fmax = s2_max/s2_min
    is the classic quick screen whose verdict depends ONLY on the
    two extreme cells, so Bartlett firing while Fmax is quiet
    localizes mild broad heterogeneity, and Fmax firing alone
    points at one rogue weekday. z_ln_fmax is the large-n normal
    reading of ln Fmax with the two extreme cells' df (a
    conservative reference since the pair is selected post hoc —
    documented).

    Exactness: per-dow counts and DECIMAL(38,0) power sums are
    exact; variances rescale to kUSD^2 and pin at 8 dp before the
    extremes; Fmax and its log reading are terminal IEEE trees.
    Plan: one scan -> 7-group rollup -> one fold; no window."""
    o = t(spark, sf_dir, "orders")
    pts = o.select(
        (
            (F.floor(F.unix_micros("o_orderdate") / 86_400_000_000) + 4)
            % 7
        )
        .cast("bigint")
        .alias("dow"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v"),
    )
    grp = pts.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    v2 = F.round(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n")
        )
        / (F.col("n") - 1.0)
        / 1e10,
        8,
    )
    vars_ = grp.select("dow", "n", v2.alias("v2"))
    fold = vars_.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.min("n").cast("bigint").alias("nmin"),
        F.max("n").cast("bigint").alias("nmax"),
        F.max("v2").alias("vmax"),
        F.min("v2").alias("vmin"),
    )
    fmax = F.col("vmax") / F.col("vmin")
    return fold.select(
        F.col("k").alias("n_groups"),
        F.col("nmin").alias("n_min"),
        F.col("nmax").alias("n_max"),
        (F.round("vmax", 6) + 0.0).alias("var_max_kusd2"),
        (F.round("vmin", 6) + 0.0).alias("var_min_kusd2"),
        (F.round(fmax, 6) + 0.0).alias("hartley_fmax"),
        (
            F.round(
                F.log(fmax)
                / F.sqrt(
                    2.0 / (F.col("nmin") - 1.0)
                    + 2.0 / (F.col("nmax") - 1.0)
                ),
                6,
            )
            + 0.0
        ).alias("z_ln_fmax"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "hartley_fmax_variance": (
            "no window — 7-group rollup + one fold"
        ),
    }
)


# --------------------------------------------------------------------------
# Partial Spearman rho: daily volume vs revenue controlling day-of-week
# --------------------------------------------------------------------------
@register(
    "partial_spearman_rho",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT (d + 4) % 7 AS dow,
               CAST(RANK() OVER (ORDER BY x)
                    + COUNT(*) OVER (PARTITION BY x) - 1
                    AS BIGINT) AS rx,
               CAST(RANK() OVER (ORDER BY y)
                    + COUNT(*) OVER (PARTITION BY y) - 1
                    AS BIGINT) AS ry
        FROM daily
    ),
    bydow AS (
        SELECT dow, CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(rx) AS BIGINT) AS srx,
               CAST(SUM(ry) AS BIGINT) AS sry
        FROM ranked GROUP BY dow
    ),
    tots AS (
        SELECT CAST(SUM(m) AS BIGINT) AS n FROM bydow
    ),
    within AS (
        SELECT
            CAST(SUM(CAST(r.rx AS DECIMAL(38,0)) * r.rx)
                 AS DECIMAL(38,0)) AS sxx,
            CAST(SUM(CAST(r.ry AS DECIMAL(38,0)) * r.ry)
                 AS DECIMAL(38,0)) AS syy,
            CAST(SUM(CAST(r.rx AS DECIMAL(38,0)) * r.ry)
                 AS DECIMAL(38,0)) AS sxy
        FROM ranked r
    ),
    gsum AS (
        SELECT
            CAST(SUM(CAST(round(CAST(srx AS DOUBLE) * srx / m, 4)
                 AS DECIMAL(38,4))) AS DOUBLE) AS gxx,
            CAST(SUM(CAST(round(CAST(sry AS DOUBLE) * sry / m, 4)
                 AS DECIMAL(38,4))) AS DOUBLE) AS gyy,
            CAST(SUM(CAST(round(CAST(srx AS DOUBLE) * sry / m, 4)
                 AS DECIMAL(38,4))) AS DOUBLE) AS gxy
        FROM bydow
    )
    SELECT t.n AS n_days,
           round((CAST(w.sxy AS DOUBLE) - g.gxy)
                 / sqrt((CAST(w.sxx AS DOUBLE) - g.gxx)
                        * (CAST(w.syy AS DOUBLE) - g.gyy)), 8) + 0.0
               AS partial_spearman_rho,
           round(sqrt(CAST(t.n AS DOUBLE) - 2 - 7)
                 * ((CAST(w.sxy AS DOUBLE) - g.gxy)
                    / sqrt((CAST(w.sxx AS DOUBLE) - g.gxx)
                           * (CAST(w.syy AS DOUBLE) - g.gyy)))
                 / sqrt(1.0
                        - ((CAST(w.sxy AS DOUBLE) - g.gxy)
                           / sqrt((CAST(w.sxx AS DOUBLE) - g.gxx)
                                  * (CAST(w.syy AS DOUBLE) - g.gyy)))
                          * ((CAST(w.sxy AS DOUBLE) - g.gxy)
                             / sqrt((CAST(w.sxx AS DOUBLE) - g.gxx)
                                    * (CAST(w.syy AS DOUBLE)
                                       - g.gyy)))), 6) + 0.0
               AS t_stat
    FROM within w, gsum g, tots t
    """,
)
def partial_spearman_rho(spark, sf_dir):
    """PARTIAL SPEARMAN correlation between daily order volume and
    revenue CONTROLLING day-of-week: Pearson on 2x-midranks with
    the dow group means partialled out through the exact ANCOVA
    identity (within-SS = total rank cross-products minus
    sum(group-sum products / group size)) — the rank-scale second
    opinion to `kendall_partial_tau` (concordance scale) and
    `partial_correlation_controls` (value scale): all three ask
    "does volume move revenue BEYOND the weekly rhythm both share",
    and rank-vs-value disagreement isolates whether the link lives
    in the bulk or is dragged by heavy days. t_stat uses the
    partial-correlation reference with 7 control levels (6 dummies
    + intercept, documented).

    Exactness: 2x-midranks are exact integers (the
    rank_autocorrelation device over the calendar frame); total
    cross-products fold through DECIMAL(38,0); group-sum products
    divide once per dow cell and pin at 4 dp into DECIMAL folds;
    rho and t are terminal IEEE trees. Plan: day rollup -> bounded
    rank windows -> dow rollup + one joined fold."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        (F.sum(dec("o_totalprice", 18, 2)) * 100)
        .cast("bigint")
        .alias("y"),
    )
    rx = (
        F.rank().over(Window.orderBy("x"))
        + F.count(F.lit(1)).over(Window.partitionBy("x"))
        - 1
    ).cast("bigint")
    ry = (
        F.rank().over(Window.orderBy("y"))
        + F.count(F.lit(1)).over(Window.partitionBy("y"))
        - 1
    ).cast("bigint")
    ranked = daily.select(
        ((F.col("d") + 4) % 7).alias("dow"),
        rx.alias("rx"),
        ry.alias("ry"),
    ).persist()
    bydow = ranked.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("rx").cast("bigint").alias("srx"),
        F.sum("ry").cast("bigint").alias("sry"),
    )
    tots = bydow.agg(F.sum("m").cast("bigint").alias("n"))
    within = ranked.agg(
        F.sum(F.col("rx").cast("decimal(38,0)") * F.col("rx"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("ry").cast("decimal(38,0)") * F.col("ry"))
        .cast("decimal(38,0)")
        .alias("syy"),
        F.sum(F.col("rx").cast("decimal(38,0)") * F.col("ry"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    gsum = bydow.agg(
        F.sum(
            F.round(
                F.col("srx").cast("double") * F.col("srx") / F.col("m"),
                4,
            ).cast("decimal(38,4)")
        )
        .cast("double")
        .alias("gxx"),
        F.sum(
            F.round(
                F.col("sry").cast("double") * F.col("sry") / F.col("m"),
                4,
            ).cast("decimal(38,4)")
        )
        .cast("double")
        .alias("gyy"),
        F.sum(
            F.round(
                F.col("srx").cast("double") * F.col("sry") / F.col("m"),
                4,
            ).cast("decimal(38,4)")
        )
        .cast("double")
        .alias("gxy"),
    )
    out = (
        within.crossJoin(F.broadcast(gsum)).crossJoin(F.broadcast(tots))
    )
    rho = (F.col("sxy").cast("double") - F.col("gxy")) / F.sqrt(
        (F.col("sxx").cast("double") - F.col("gxx"))
        * (F.col("syy").cast("double") - F.col("gyy"))
    )
    n = F.col("n").cast("double")
    return out.select(
        F.col("n").alias("n_days"),
        (F.round(rho, 8) + 0.0).alias("partial_spearman_rho"),
        (
            F.round(
                F.sqrt(n - 2 - 7) * rho / F.sqrt(1.0 - rho * rho), 6
            )
            + 0.0
        ).alias("t_stat"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "partial_spearman_rho": (
            "bounded calendar-frame rank windows (the "
            "rank_autocorrelation class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Closed-form Gaussian divergence panel: Fri/Sat vs Sun-Thu order value
# --------------------------------------------------------------------------
@register(
    "gaussian_divergence_panel",
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
        SELECT
          MAX(CASE WHEN g = 1 THEN CAST(s AS DOUBLE) / n END)
              / 100000.0 AS m1,
          MAX(CASE WHEN g = 0 THEN CAST(s AS DOUBLE) / n END)
              / 100000.0 AS m0,
          MAX(CASE WHEN g = 1 THEN
              (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
              / (n - 1.0) END) / 1e10 AS v1,
          MAX(CASE WHEN g = 0 THEN
              (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
              / (n - 1.0) END) / 1e10 AS v0,
          CAST(SUM(n) AS BIGINT) AS n
        FROM arm
    )
    SELECT n AS n_orders,
           round((m1 - m0) * (m1 - m0) / (4.0 * (v1 + v0))
                 + 0.5 * ln((v1 + v0)
                            / (2.0 * sqrt(v1) * sqrt(v0))), 8) + 0.0
               AS bhattacharyya_d,
           round(1.0 - sqrt(2.0 * sqrt(v1) * sqrt(v0) / (v1 + v0))
                 * exp(-(m1 - m0) * (m1 - m0)
                       / (4.0 * (v1 + v0))), 8) + 0.0
               AS hellinger_sq,
           round(0.5 * (v1 / v0 + v0 / v1 - 2.0)
                 + 0.5 * (m1 - m0) * (m1 - m0)
                   * (1.0 / v1 + 1.0 / v0), 8) + 0.0
               AS sym_kl
    FROM w
    """,
)
def gaussian_divergence_panel(spark, sf_dir):
    """CLOSED-FORM GAUSSIAN divergence panel between Fri/Sat and
    Sun-Thu order value (kUSD): Bhattacharyya distance, squared
    Hellinger, and symmetrized KL, each evaluated at the fitted
    per-arm (mu, sigma^2) — the PARAMETRIC second opinions to the
    nonparametric two-sample distances (`wasserstein1_two_sample`,
    `energy_distance_two_sample`, `mmd_poly2_two_sample`,
    `hellinger_affinity_panel`'s binned form): the Gaussian
    closed forms decompose every divergence into a MEAN term and a
    VARIANCE term analytically, so the nonparametric distance
    exceeding its Gaussian counterpart isolates non-Gaussian shape
    difference (tail/skew) from the first two moments — the
    decomposition no empirical distance can give by itself.

    Exactness: per-arm counts and DECIMAL(38,0) power sums are
    exact; means/variances rescale to kUSD and close in identical
    IEEE trees (sqrt/ln/exp shared-libm); all three divergences are
    terminal expressions rounded once. Plan: one arm rollup -> one
    pivot; no window, no join."""
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
    mean_ = F.col("s").cast("double") / F.col("n")
    var_ = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1.0)
    w = arm.agg(
        (F.max(F.when(F.col("g") == 1, mean_)) / 100000.0).alias("m1"),
        (F.max(F.when(F.col("g") == 0, mean_)) / 100000.0).alias("m0"),
        (F.max(F.when(F.col("g") == 1, var_)) / 1e10).alias("v1"),
        (F.max(F.when(F.col("g") == 0, var_)) / 1e10).alias("v0"),
        F.sum("n").cast("bigint").alias("n"),
    )
    dm = F.col("m1") - F.col("m0")
    v1, v0 = F.col("v1"), F.col("v0")
    bd = dm * dm / (4.0 * (v1 + v0)) + 0.5 * F.log(
        (v1 + v0) / (2.0 * F.sqrt(v1) * F.sqrt(v0))
    )
    h2 = 1.0 - F.sqrt(
        2.0 * F.sqrt(v1) * F.sqrt(v0) / (v1 + v0)
    ) * F.exp(-dm * dm / (4.0 * (v1 + v0)))
    skl = 0.5 * (v1 / v0 + v0 / v1 - 2.0) + 0.5 * dm * dm * (
        1.0 / v1 + 1.0 / v0
    )
    return w.select(
        F.col("n").alias("n_orders"),
        (F.round(bd, 8) + 0.0).alias("bhattacharyya_d"),
        (F.round(h2, 8) + 0.0).alias("hellinger_sq"),
        (F.round(skl, 8) + 0.0).alias("sym_kl"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "gaussian_divergence_panel": (
            "no window — one arm rollup + pivot (the "
            "tost_equivalence frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# Berkson minimum-logit-chi2 grouped fit of the fulfilled rate
# --------------------------------------------------------------------------
@register(
    "berkson_logit_wls",
    oracle="""
    WITH cells AS (
        SELECT CAST(date_part('day', o_orderdate) AS BIGINT) AS dom,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN o_orderstatus = 'F'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x
        FROM orders
        WHERE CAST(date_part('day', o_orderdate) AS BIGINT) <= 28
        GROUP BY 1
    ),
    el AS (
        SELECT dom, n, x,
               round(ln((x + 0.5) / (n - x + 0.5)), 10) AS l,
               round(CAST(n AS DOUBLE)
                     * (CAST(x AS DOUBLE) / n)
                     * (1.0 - CAST(x AS DOUBLE) / n), 8) AS w
        FROM cells
    ),
    fold AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nt,
               CAST(SUM(CAST(round(w, 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS sw,
               CAST(SUM(CAST(round(w * dom, 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS swx,
               CAST(SUM(CAST(round(w * dom * dom, 6)
                    AS DECIMAL(28,6))) AS DOUBLE) AS swxx,
               CAST(SUM(CAST(round(w * l, 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS swl,
               CAST(SUM(CAST(round(w * dom * l, 8)
                    AS DECIMAL(28,8))) AS DOUBLE) AS swxl
        FROM el
    )
    SELECT nt AS n_orders,
           round((sw * swxl - swx * swl)
                 / (sw * swxx - swx * swx), 8) + 0.0
               AS logit_slope_per_day,
           round((swl - (sw * swxl - swx * swl)
                        / (sw * swxx - swx * swx) * swx) / sw, 8)
               + 0.0 AS logit_intercept,
           round(((sw * swxl - swx * swl)
                  / (sw * swxx - swx * swx))
                 / sqrt(sw / (sw * swxx - swx * swx)), 6) + 0.0
               AS slope_z
    FROM fold
    """,
)
def berkson_logit_wls(spark, sf_dir):
    """BERKSON MINIMUM-LOGIT-CHI-SQUARE fit of the fulfilled-order
    rate over day-of-month (days 1-28): weighted least squares of
    the +0.5-corrected empirical logits l_d = ln((x+.5)/(n-x+.5))
    on the day index, with the classic information weights w_d =
    n_d p_d(1-p_d) — Berkson's 1944 estimator, asymptotically
    equivalent to the logistic MLE on grouped data but entirely
    CLOSED FORM (no IRLS iteration exists anywhere), which is why
    it remains the distributed-systems way to fit a grouped logit.
    The log-odds-scale second opinion to
    `cochran_armitage_trend` (linear-probability trend on the same
    kind of grouped binomials) and the model behind what
    `day_of_month_effect` reads descriptively: slope_z is the
    WLS slope over its exact weighted-LS standard error
    sqrt(sw/(sw*swxx - swx^2) * ... ) = sqrt(1/Sxx_w).

    Exactness: cell (n, x) exact integers on the 28-row grid;
    logits pin at 10 dp, weights at 8 dp; the five weighted folds
    round into DECIMAL sums; slope/intercept/z are terminal IEEE
    trees. Plan: one scan -> 28-row rollup -> one fold; no
    window."""
    o = t(spark, sf_dir, "orders")
    cells = (
        o.select(
            F.dayofmonth("o_orderdate").cast("bigint").alias("dom"),
            F.when(F.col("o_orderstatus") == "F", 1)
            .otherwise(0)
            .alias("f"),
        )
        .where(F.col("dom") <= 28)
        .groupBy("dom")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("f").cast("bigint").alias("x"),
        )
    )
    p = F.col("x").cast("double") / F.col("n")
    el = cells.select(
        "dom",
        "n",
        F.round(
            F.log(
                (F.col("x") + 0.5) / (F.col("n") - F.col("x") + 0.5)
            ),
            10,
        ).alias("l"),
        F.round(F.col("n") * p * (1.0 - p), 8).alias("w"),
    )
    fold = el.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum(F.round("w", 8).cast("decimal(28,8)"))
        .cast("double")
        .alias("sw"),
        F.sum(
            F.round(F.col("w") * F.col("dom"), 8).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("swx"),
        F.sum(
            F.round(
                F.col("w") * F.col("dom") * F.col("dom"), 6
            ).cast("decimal(28,6)")
        )
        .cast("double")
        .alias("swxx"),
        F.sum(
            F.round(F.col("w") * F.col("l"), 8).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("swl"),
        F.sum(
            F.round(
                F.col("w") * F.col("dom") * F.col("l"), 8
            ).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("swxl"),
    )
    sxx_w = F.col("sw") * F.col("swxx") - F.col("swx") * F.col("swx")
    b = (
        F.col("sw") * F.col("swxl") - F.col("swx") * F.col("swl")
    ) / sxx_w
    a = (F.col("swl") - b * F.col("swx")) / F.col("sw")
    se_b = F.sqrt(F.col("sw") / sxx_w)
    return fold.select(
        F.col("nt").alias("n_orders"),
        (F.round(b, 8) + 0.0).alias("logit_slope_per_day"),
        (F.round(a, 8) + 0.0).alias("logit_intercept"),
        (F.round(b / se_b, 6) + 0.0).alias("slope_z"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "berkson_logit_wls": (
            "no window — 28-row grid rollup + one fold"
        ),
    }
)


# --------------------------------------------------------------------------
# Copula inversion: Gumbel/Clayton tail dependence implied by Kendall tau
# --------------------------------------------------------------------------
@register(
    "copula_inversion_tail_panel",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    pairs AS (
        SELECT CAST(SUM(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS conc,
               CAST(SUM(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS disc,
               CAST(SUM(CASE WHEN a.x = b.x THEN 1 ELSE 0 END)
                    AS BIGINT) AS tx,
               CAST(SUM(CASE WHEN a.y = b.y THEN 1 ELSE 0 END)
                    AS BIGINT) AS ty,
               CAST(COUNT(*) AS BIGINT) AS n0
        FROM daily a JOIN daily b ON a.d < b.d
    ),
    tau AS (
        SELECT n0, conc, disc,
               round((conc - disc)
                     / sqrt((CAST(n0 AS DOUBLE) - tx)
                            * (CAST(n0 AS DOUBLE) - ty)), 10) AS tb
        FROM pairs
    )
    SELECT n0 AS n_day_pairs,
           round(tb, 8) + 0.0 AS kendall_tau_b,
           round(CASE WHEN tb > 0 AND tb < 1
                      THEN 1.0 / (1.0 - tb) END, 6) + 0.0
               AS gumbel_theta,
           round(CASE WHEN tb > 0 AND tb < 1
                      THEN 2.0 - exp((1.0 - tb)
                                     * 0.6931471805599453) END, 8)
               + 0.0 AS lambda_upper_gumbel,
           round(CASE WHEN tb > 0 AND tb < 1
                      THEN 2.0 * tb / (1.0 - tb) END, 6) + 0.0
               AS clayton_theta,
           round(CASE WHEN tb > 0 AND tb < 1
                      THEN exp(-(1.0 - tb) / (2.0 * tb)
                               * 0.6931471805599453) END, 8) + 0.0
               AS lambda_lower_clayton
    FROM tau
    """,
)
def copula_inversion_tail_panel(spark, sf_dir):
    """COPULA-INVERSION tail-dependence panel for daily (order
    volume, revenue): Kendall's tau-b from the exact pairwise count
    over the calendar frame inverts to the GUMBEL parameter theta =
    1/(1-tau) with implied UPPER tail dependence lambda_U = 2 -
    2^(1-tau), and to the CLAYTON theta = 2tau/(1-tau) with implied
    LOWER tail dependence lambda_L = 2^(-(1-tau)/(2tau)) — the
    MODEL-IMPLIED second opinions to the model-free trio
    (`cfg_pickands_dependence`, `f_madogram_extremal`,
    `chibar_tail_independence`): if the measured chi sits near the
    Gumbel-implied lambda_U the whole dependence is one-parameter
    Archimedean; measured chi far BELOW it is the classic
    "tau is body, not tail" warning that rank correlation
    overstates joint extremes. NULL panel when tau <= 0 (neither
    family applies; documented).

    Exactness: concordance counts are exact integers from the
    bounded ~2.4k-day pairwise self-join (pair count is a calendar
    constant — the sample_entropy device); tau pins at 10 dp;
    2^x closes as exp(x ln 2) with the shared literal. Plan: day
    rollup -> bounded self-join -> one fold; no window."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        (F.sum(dec("o_totalprice", 18, 2)) * 100)
        .cast("bigint")
        .alias("y"),
    ).persist()
    a = daily.select(
        F.col("d").alias("da"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
    )
    b = daily.select(
        F.col("d").alias("db"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
    )
    prod = (F.col("xa") - F.col("xb")).cast("decimal(19,0)") * (
        F.col("ya") - F.col("yb")
    )
    pairs = a.join(b, F.col("da") < F.col("db")).agg(
        F.sum(F.when(prod > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("conc"),
        F.sum(F.when(prod < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("disc"),
        F.sum(F.when(F.col("xa") == F.col("xb"), 1).otherwise(0))
        .cast("bigint")
        .alias("tx"),
        F.sum(F.when(F.col("ya") == F.col("yb"), 1).otherwise(0))
        .cast("bigint")
        .alias("ty"),
        F.count(F.lit(1)).cast("bigint").alias("n0"),
    )
    tb = F.round(
        (F.col("conc") - F.col("disc"))
        / F.sqrt(
            (F.col("n0").cast("double") - F.col("tx"))
            * (F.col("n0").cast("double") - F.col("ty"))
        ),
        10,
    )
    tau = pairs.select("n0", tb.alias("tb"))
    ok = (F.col("tb") > 0) & (F.col("tb") < 1)
    ln2 = 0.6931471805599453
    return tau.select(
        F.col("n0").alias("n_day_pairs"),
        (F.round("tb", 8) + 0.0).alias("kendall_tau_b"),
        (F.round(F.when(ok, 1.0 / (1.0 - F.col("tb"))), 6) + 0.0)
        .alias("gumbel_theta"),
        (
            F.round(
                F.when(
                    ok, 2.0 - F.exp((1.0 - F.col("tb")) * ln2)
                ),
                8,
            )
            + 0.0
        ).alias("lambda_upper_gumbel"),
        (
            F.round(
                F.when(ok, 2.0 * F.col("tb") / (1.0 - F.col("tb"))),
                6,
            )
            + 0.0
        ).alias("clayton_theta"),
        (
            F.round(
                F.when(
                    ok,
                    F.exp(
                        -(1.0 - F.col("tb"))
                        / (2.0 * F.col("tb"))
                        * ln2
                    ),
                ),
                8,
            )
            + 0.0
        ).alias("lambda_lower_clayton"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "copula_inversion_tail_panel": (
            "bounded ~2.4k-day pairwise self-join (calendar-"
            "constant pair count — the sample_entropy device)"
        ),
    }
)


# --------------------------------------------------------------------------
# Szroeter rank test + Glejser |e| regression for ordered heteroskedasticity
# --------------------------------------------------------------------------
@register(
    "szroeter_glejser_het",
    oracle=f"""
    WITH {'daily AS ('}
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(d) AS BIGINT) AS sd,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(d AS DECIMAL(38,0)) * y) AS sdy,
               SUM(CAST(d AS DECIMAL(38,0)) * d) AS sdd
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
                  * sd) / n AS a
        FROM fit
    ),
    res AS (
        SELECT d,
               ROW_NUMBER() OVER (ORDER BY d) AS i,
               round((y - (a + b * d)) / 100000.0, 6) AS e
        FROM daily, beta
    ),
    folds AS (
        SELECT MAX(beta.n) AS n,
               CAST(SUM(CAST(round(res.i * res.e * res.e, 6)
                    AS DECIMAL(38,6))) AS DOUBLE) AS sie2,
               CAST(SUM(CAST(round(res.e * res.e, 8)
                    AS DECIMAL(38,8))) AS DOUBLE) AS se2,
               CAST(SUM(res.i) AS BIGINT) AS si,
               CAST(SUM(CAST(res.i AS DECIMAL(38,0)) * res.i)
                    AS DECIMAL(38,0)) AS sii,
               CAST(SUM(CAST(round(res.i * abs(res.e), 6)
                    AS DECIMAL(38,6))) AS DOUBLE) AS siae,
               CAST(SUM(CAST(round(abs(res.e), 8)
                    AS DECIMAL(38,8))) AS DOUBLE) AS sae,
               CAST(SUM(CAST(round(abs(res.e) * abs(res.e), 8)
                    AS DECIMAL(38,8))) AS DOUBLE) AS saa
        FROM res, beta
    )
    SELECT n AS n_days,
           round(sie2 / se2, 6) + 0.0 AS szroeter_h,
           round((sie2 / se2 - (n + 1.0) / 2.0)
                 * sqrt(6.0 * n / (CAST(n AS DOUBLE) * n - 1.0)),
                 6) + 0.0 AS szroeter_z,
           round((n * siae - CAST(si AS DOUBLE) * sae)
                 / (n * CAST(sii AS DOUBLE)
                    - CAST(si AS DOUBLE) * si), 10) + 0.0
               AS glejser_slope,
           round(((n * siae - CAST(si AS DOUBLE) * sae)
                  / (n * CAST(sii AS DOUBLE)
                     - CAST(si AS DOUBLE) * si))
                 / sqrt(((n * saa - sae * sae)
                         - (n * siae - CAST(si AS DOUBLE) * sae)
                           * (n * siae - CAST(si AS DOUBLE) * sae)
                           / (n * CAST(sii AS DOUBLE)
                              - CAST(si AS DOUBLE) * si))
                        / (n - 2.0)
                        * n
                        / (n * CAST(sii AS DOUBLE)
                           - CAST(si AS DOUBLE) * si)), 6) + 0.0
               AS glejser_t
    FROM folds
    """,
)
def szroeter_glejser_het(spark, sf_dir):
    """SZROETER'S rank test and GLEJSER'S |e| regression for
    heteroskedasticity ORDERED BY TIME on the daily-revenue trend
    residuals — the monotone-variance second opinions to the
    registry's het battery: `breusch_pagan_koenker` and
    `white_heteroskedasticity_test` regress e^2 on the REGRESSOR
    (they see level-linked variance), `goldfeld_quandt_test` splits
    the sample once; Szroeter's h = sum(i e_i^2)/sum(e_i^2) with
    z = (h - (n+1)/2) sqrt(6n/(n^2-1)) weights by the time INDEX
    itself and so detects variance drifting with time regardless of
    level, and Glejser regresses |e| on the index — robust to the
    kurtosis that inflates every e^2-based test (Glejser 1969's
    point). The pair disagreeing with BP/White separates
    time-drift from level-link.

    Exactness: the trend fit is the shared exact-DECIMAL tree;
    residuals scale to kUSD and pin at 6 dp; the index is a
    row_number over the bounded calendar frame; all seven folds are
    rounded-term DECIMAL sums; h, z, slope, and t close in IEEE
    trees. Plan: day rollup -> OLS fold -> one bounded window ->
    one fold."""
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
            .cast("bigint")
            .alias("d")
        )
        .agg(
            (F.sum(dec("o_totalprice", 18, 2)) * 100)
            .cast("bigint")
            .alias("y")
        )
    )
    fit = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("sd"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("y")).alias(
            "sdy"
        ),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")).alias(
            "sdd"
        ),
    )
    nn = F.col("n").cast("double")
    b = (
        nn * F.col("sdy").cast("double")
        - F.col("sd").cast("double") * F.col("sy")
    ) / (
        nn * F.col("sdd").cast("double")
        - F.col("sd").cast("double") * F.col("sd")
    )
    beta = fit.select(
        "n",
        b.alias("b"),
        ((F.col("sy").cast("double") - b * F.col("sd")) / nn).alias(
            "a"
        ),
    )
    res = daily.crossJoin(F.broadcast(beta)).select(
        "n",
        F.row_number().over(Window.orderBy("d")).alias("i"),
        F.round(
            (F.col("y") - (F.col("a") + F.col("b") * F.col("d")))
            / 100000.0,
            6,
        ).alias("e"),
    )
    e, i = F.col("e"), F.col("i")
    folds = res.agg(
        F.max("n").alias("n"),
        F.sum(F.round(i * e * e, 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sie2"),
        F.sum(F.round(e * e, 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("se2"),
        F.sum(i).cast("bigint").alias("si"),
        F.sum(i.cast("decimal(38,0)") * i)
        .cast("decimal(38,0)")
        .alias("sii"),
        F.sum(F.round(i * F.abs(e), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("siae"),
        F.sum(F.round(F.abs(e), 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("sae"),
        F.sum(F.round(F.abs(e) * F.abs(e), 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("saa"),
    )
    n = F.col("n").cast("double")
    h = F.col("sie2") / F.col("se2")
    sxx = n * F.col("sii").cast("double") - F.col("si").cast(
        "double"
    ) * F.col("si")
    sxy = n * F.col("siae") - F.col("si").cast("double") * F.col("sae")
    syy = n * F.col("saa") - F.col("sae") * F.col("sae")
    gb = sxy / sxx
    se_gb = F.sqrt((syy - sxy * sxy / sxx) / (n - 2.0) * n / sxx)
    return folds.select(
        F.col("n").alias("n_days"),
        (F.round(h, 6) + 0.0).alias("szroeter_h"),
        (
            F.round(
                (h - (n + 1.0) / 2.0)
                * F.sqrt(6.0 * n / (n * n - 1.0)),
                6,
            )
            + 0.0
        ).alias("szroeter_z"),
        (F.round(gb, 10) + 0.0).alias("glejser_slope"),
        (F.round(gb / se_gb, 6) + 0.0).alias("glejser_t"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "szroeter_glejser_het": (
            "one bounded calendar-frame row_number (the "
            "theta_method class); scalar folds elsewhere"
        ),
    }
)


# --------------------------------------------------------------------------
# BIC-approximate Bayes factor for the A/B high-value-conversion difference
# --------------------------------------------------------------------------
@register(
    "bic_bayes_factor_ab",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               (user_id * 2654435761) % 4294967296 % 2 AS arm,
               MAX(CASE WHEN event_type = 'purchase' AND value > 180
                        THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY user_id
    ),
    arms AS (
        SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(converted) AS BIGINT) AS x
        FROM per_user GROUP BY arm
    ),
    w AS (
        SELECT MAX(CASE WHEN arm = 1 THEN n END) AS n1,
               MAX(CASE WHEN arm = 0 THEN n END) AS n0,
               MAX(CASE WHEN arm = 1 THEN x END) AS x1,
               MAX(CASE WHEN arm = 0 THEN x END) AS x0
        FROM arms
    ),
    ll AS (
        SELECT n1, n0, x1, x0,
               CAST(x1 AS DOUBLE) / n1 AS p1,
               CAST(x0 AS DOUBLE) / n0 AS p0,
               CAST(x1 + x0 AS DOUBLE) / (n1 + n0) AS pp
        FROM w
    ),
    bf AS (
        SELECT n1, n0, p1, p0,
               (CASE WHEN x1 = 0 THEN 0.0 ELSE x1 * ln(p1) END
                + CASE WHEN x1 = n1 THEN 0.0
                       ELSE (n1 - x1) * ln(1.0 - p1) END
                + CASE WHEN x0 = 0 THEN 0.0 ELSE x0 * ln(p0) END
                + CASE WHEN x0 = n0 THEN 0.0
                       ELSE (n0 - x0) * ln(1.0 - p0) END) AS ll1,
               (CASE WHEN x1 + x0 = 0 THEN 0.0
                     ELSE (x1 + x0) * ln(pp) END
                + CASE WHEN x1 + x0 = n1 + n0 THEN 0.0
                       ELSE (n1 + n0 - x1 - x0) * ln(1.0 - pp)
                  END) AS ll0
        FROM ll
    )
    SELECT CAST(n1 + n0 AS BIGINT) AS n_users,
           round(p1 - p0, 9) + 0.0 AS diff,
           round(2.0 * asin(sqrt(p1)) - 2.0 * asin(sqrt(p0)), 8)
               + 0.0 AS cohens_h,
           round(ll1 - ll0, 6) + 0.0 AS lr_loglik_gain,
           round((ll1 - ll0) - 0.5 * ln(CAST(n1 + n0 AS DOUBLE)),
                 6) + 0.0 AS ln_bf10_bic,
           CAST(CASE WHEN (ll1 - ll0)
                          - 0.5 * ln(CAST(n1 + n0 AS DOUBLE)) > 1.15
                     THEN 1 ELSE 0 END AS INT)
               AS substantial_evidence_h1
    FROM bf
    """,
)
def bic_bayes_factor_ab(spark, sf_dir):
    """BIC-APPROXIMATE BAYES FACTOR for the A/B difference in
    HIGH-VALUE conversion (user has a purchase over the $180
    literal — the plain any-purchase flag saturates at 1.0 on this
    corpus; same Knuth-hash arms as `ab_difference_newcombe`):
    ln BF10 ~ (ll1 - ll0) - (1/2) ln N, the unit-information-prior
    Schwarz approximation (Kass-Raftery 1995 / Wagenmakers 2007)
    over the exact binomial log-likelihoods of separate-rates vs
    pooled — the EVIDENCE-scale second opinion to every
    p-value/CI readout in the experimentation tier: a BF also
    quantifies support FOR the null (ln BF < 0 is positive evidence
    of NO arm effect, which no CI can state), and the 1.15
    threshold (BF > ~3.2, Jeffreys' 'substantial') ships as the
    decision bit. Cohen's h rides along as the variance-stabilized
    effect size. Degenerate arms are exact: the 0 ln 0 = 0 MLE
    convention is written as explicit CASE guards in BOTH engines.

    Exactness: arm (n, x) exact integers; likelihoods/h/BF are
    terminal IEEE trees over four integers. Plan: one user-grain
    shuffle, a 2-row arm rollup, scalar algebra — no window."""
    from .ext_pipeline import _KNUTH, _M32

    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") > 180),
                1,
            ).otherwise(0)
        ).alias("converted")
    ).select(
        ((F.col("user_id").cast("decimal(38,0)") * _KNUTH) % _M32 % 2)
        .cast("bigint")
        .alias("arm"),
        "converted",
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("x"),
    )
    w = arms.agg(
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("x"))).alias("x1"),
        F.max(F.when(F.col("arm") == 0, F.col("x"))).alias("x0"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1")
    p0 = F.col("x0").cast("double") / F.col("n0")
    pp = (F.col("x1") + F.col("x0")).cast("double") / (
        F.col("n1") + F.col("n0")
    )

    def xlnp(x, lp):
        return F.when(x == 0, F.lit(0.0)).otherwise(x * F.log(lp))

    ll1 = (
        xlnp(F.col("x1"), p1)
        + xlnp(F.col("n1") - F.col("x1"), 1.0 - p1)
        + xlnp(F.col("x0"), p0)
        + xlnp(F.col("n0") - F.col("x0"), 1.0 - p0)
    )
    ll0 = xlnp(F.col("x1") + F.col("x0"), pp) + xlnp(
        F.col("n1") + F.col("n0") - F.col("x1") - F.col("x0"),
        1.0 - pp,
    )
    nt = (F.col("n1") + F.col("n0")).cast("double")
    lnbf = (ll1 - ll0) - 0.5 * F.log(nt)
    return w.select(
        (F.col("n1") + F.col("n0")).cast("bigint").alias("n_users"),
        (F.round(p1 - p0, 9) + 0.0).alias("diff"),
        (
            F.round(
                2.0 * F.asin(F.sqrt(p1)) - 2.0 * F.asin(F.sqrt(p0)),
                8,
            )
            + 0.0
        ).alias("cohens_h"),
        (F.round(ll1 - ll0, 6) + 0.0).alias("lr_loglik_gain"),
        (F.round(lnbf, 6) + 0.0).alias("ln_bf10_bic"),
        F.when(lnbf > 1.15, 1).otherwise(0).cast("int")
        .alias("substantial_evidence_h1"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "bic_bayes_factor_ab": (
            "no window — user rollup + 2-row arm rollup (the "
            "ab_difference_newcombe frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# D'Agostino's D test of normality (Downton-ratio form)
# --------------------------------------------------------------------------
@register(
    "dagostino_d_normality",
    oracle="""
    WITH grid AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1
    ),
    cum AS (
        SELECT v, c,
               CAST(COALESCE(SUM(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS head,
               CAST(SUM(c) OVER () AS BIGINT) AS n
        FROM grid
    ),
    fold AS (
        SELECT MAX(n) AS n,
               CAST(SUM(CAST(round(
                   (c * head + CAST(c AS DOUBLE) * (c + 1) / 2.0
                    - c * (n + 1.0) / 2.0)
                   * (CAST(v AS DOUBLE) / 100000.0), 6)
                   AS DECIMAL(38,6))) AS DOUBLE) AS tsum,
               CAST(SUM(c * v) AS BIGINT) AS s1,
               CAST(SUM(CAST(v AS DECIMAL(38,0)) * v * c)
                    AS DECIMAL(38,0)) AS s2
        FROM cum
    )
    SELECT n AS n_orders,
           round(tsum
                 / (CAST(n AS DOUBLE) * n
                    * sqrt((CAST(s2 AS DOUBLE)
                            - CAST(s1 AS DOUBLE) * s1 / n) / n)
                    / 1e10), 8) + 0.0 AS dagostino_d,
           round(sqrt(n * 1.0)
                 * (tsum
                    / (CAST(n AS DOUBLE) * n
                       * sqrt((CAST(s2 AS DOUBLE)
                               - CAST(s1 AS DOUBLE) * s1 / n) / n)
                       / 1e10)
                    - 0.28209479177387814) / 0.02998598, 6) + 0.0
               AS dagostino_y
    FROM fold
    """,
)
def dagostino_d_normality(spark, sf_dir):
    """D'AGOSTINO'S D test of normality for order value: D =
    T/(n^2 sqrt(m2)) where T = sum (i - (n+1)/2) x_(i) is Downton's
    rank-weighted linear estimator of sigma (up to scale) — the
    L-STATISTIC route to normality testing beside the moment route
    (`jarque_bera_normality`, `dagostino_k2_panel`) and the
    correlation route (`shapiro_francia_ppcc`): D compares a
    rank-linear scale estimate to the root-mean-square one, so it
    reacts to tail weight through ORDER positions rather than
    fourth powers, staying informative exactly where kurtosis
    estimates explode. y = sqrt(n)(D - 1/(2 sqrt(pi)))/0.02998598
    is the published standardization (D'Agostino 1971; mean literal
    0.28209479177387814, asymptotic sd 0.02998598). Tie groups
    close T exactly via sum of positions = c*head + c(c+1)/2.

    Exactness: heads/counts exact integers on the cents grid
    (exclusive-prefix, the ansari_bradley device); T terms round at
    6 dp (kUSD scale) into DECIMAL folds; m2 from exact
    DECIMAL(38,0) power sums (population variance, D'Agostino's
    convention), rescaled by 1e10 to kUSD^2. Plan: one grid rollup,
    one cumulative, one fold.

    r19 grain triage: the cents grid is data-grain on the real SF
    ladder (14,999 -> 149,743 rows sf0.01 -> sf0.1 through the
    single-partition exchange), so the rank cumulative AND the
    whole-frame n ride ``exact_cumulative`` (in-bucket window +
    broadcast bucket offsets — the cvm_lognormal_gof twin in the
    live bank); exact integers, bit-identical."""
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
    acc, _ = exact_cumulative(grid, ("v",), {"pn": F.sum("c")})
    cum = acc.select(
        "v",
        "c",
        (F.col("cum_pn") - F.col("c")).cast("bigint").alias("head"),
        F.col("tot_pn").cast("bigint").alias("n"),
    )
    coef = (
        F.col("c") * F.col("head")
        + F.col("c").cast("double") * (F.col("c") + 1) / 2.0
        - F.col("c") * (F.col("n") + 1.0) / 2.0
    )
    fold = cum.agg(
        F.max("n").alias("n"),
        F.sum(
            F.round(
                coef * (F.col("v").cast("double") / 100000.0), 6
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("tsum"),
        F.sum(F.col("c") * F.col("v")).cast("bigint").alias("s1"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v") * F.col("c"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    n = F.col("n").cast("double")
    m2 = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / n
    ) / n
    d = F.col("tsum") / (n * n * F.sqrt(m2) / 1e10)
    return fold.select(
        F.col("n").alias("n_orders"),
        (F.round(d, 8) + 0.0).alias("dagostino_d"),
        (
            F.round(
                F.sqrt(n)
                * (d - 0.28209479177387814)
                / 0.02998598,
                6,
            )
            + 0.0
        ).alias("dagostino_y"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "dagostino_d_normality": (
            "INFO: no single-partition window since the r19 grain "
            "triage — the data-grain cents-grid cumulative rides the "
            "value-bucket device (the cvm_lognormal_gof twin); note "
            "kept for the history, excluded from the effective "
            "allowlist"
        ),
    }
)


# --------------------------------------------------------------------------
# Lin-Mudholkar z test of normality (mean-variance independence)
# --------------------------------------------------------------------------
@register(
    "lin_mudholkar_normality",
    oracle="""
    WITH grid AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CAST(round(c * (CAST(v AS DOUBLE) / 100000.0),
                    6) AS DECIMAL(38,6))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(round(c * (CAST(v AS DOUBLE) / 100000.0)
                    * (CAST(v AS DOUBLE) / 100000.0), 6)
                    AS DECIMAL(38,6))) AS DOUBLE) AS s2
        FROM grid
    ),
    tot2 AS (
        SELECT n, s1, s2,
               cbrt((s2 - s1 * s1 / n) / n) AS h0
        FROM tot
    ),
    pseudo AS (
        SELECT g.c, t.n,
               CAST(g.v AS DOUBLE) / 100000.0 AS x,
               round(cbrt((t.s2 - (CAST(g.v AS DOUBLE) / 100000.0)
                                  * (CAST(g.v AS DOUBLE) / 100000.0)
                           - (t.s1 - CAST(g.v AS DOUBLE) / 100000.0)
                             * (t.s1 - CAST(g.v AS DOUBLE) / 100000.0)
                             / (t.n - 1.0))
                          / (t.n - 1.0)) - t.h0, 12) AS h
        FROM grid g, tot2 t
    ),
    fold AS (
        SELECT MAX(n) AS n,
               CAST(SUM(CAST(round(c * x, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS sx,
               CAST(SUM(CAST(round(c * h, 12) AS DECIMAL(28,12)))
                    AS DOUBLE) AS sh,
               CAST(SUM(CAST(round(c * x * x, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS sxx,
               CAST(SUM(CAST(round(c * h * h, 14) AS DECIMAL(28,14)))
                    AS DOUBLE) AS shh,
               CAST(SUM(CAST(round(c * x * h, 10) AS DECIMAL(38,10)))
                    AS DOUBLE) AS sxh
        FROM pseudo
    )
    SELECT n AS n_orders,
           round((n * sxh - sx * sh)
                 / sqrt((n * sxx - sx * sx) * (n * shh - sh * sh)),
                 8) + 0.0 AS r_mean_var,
           round(sqrt(n / 3.0) * 0.5
                 * ln((1.0 + (n * sxh - sx * sh)
                       / sqrt((n * sxx - sx * sx)
                              * (n * shh - sh * sh)))
                      / (1.0 - (n * sxh - sx * sh)
                         / sqrt((n * sxx - sx * sx)
                                * (n * shh - sh * sh)))), 6) + 0.0
               AS lin_mudholkar_z
    FROM fold
    """,
)
def lin_mudholkar_normality(spark, sf_dir):
    """LIN-MUDHOLKAR z test of normality for order value: the
    correlation between each observation and the CUBE ROOT of the
    leave-one-out variance, r(x_i, cbrt(s2_(-i))) — normality is
    the ONLY distribution under which the sample mean and variance
    are independent (Geary's characterization), so any asymmetry
    couples them and r moves off zero; z = sqrt(n/3) atanh(r) is
    the published normal reading (Lin & Mudholkar 1980). The
    CHARACTERIZATION route to non-normality beside the moment,
    L-statistic, EDF, and correlation routes already in the
    battery — it responds to skewness specifically, making it the
    directional companion to the omnibus forms. The leave-one-out
    variance collapses onto the value grid (equal-valued rows share
    a pseudovalue), so no per-row pass exists.

    Exactness: kUSD power sums fold exactly at 6 dp; each
    leave-one-out cbrt CENTERS on the full-sample cbrt before the
    12-dp pin (the block_bootstrap centering lesson — the raw h
    values are near-constant across 150k rows, so the uncentered
    correlation cancels ~9 digits and amplifies libm-cbrt 1-ulp
    straddles into the 6th digit of r; the sf0.1 sweep caught
    exactly this); the closing correlation and Fisher z are
    terminal expressions, shift-invariant to the centering. Plan: one
    grid rollup -> broadcast totals -> one fold; no window."""
    o = t(spark, sf_dir, "orders")
    grid = (
        o.select(
            (dec("o_totalprice", 18, 2) * 100)
            .cast("bigint")
            .alias("v")
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .select(
            "c", (F.col("v").cast("double") / 100000.0).alias("x")
        )
    )
    tot = grid.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.round(F.col("c") * F.col("x"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("s1"),
        F.sum(
            F.round(F.col("c") * F.col("x") * F.col("x"), 6).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("s2"),
    )
    tot = tot.select(
        "n",
        "s1",
        "s2",
        F.cbrt(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / F.col("n")
        ).alias("h0"),
    )
    j = grid.crossJoin(F.broadcast(tot))
    x = F.col("x")
    nm1 = F.col("n") - 1.0
    h = F.round(
        F.cbrt(
            (
                F.col("s2")
                - x * x
                - (F.col("s1") - x) * (F.col("s1") - x) / nm1
            )
            / nm1
        )
        - F.col("h0"),
        12,
    )
    pseudo = j.select("c", "n", x.alias("x"), h.alias("h"))
    fold = pseudo.agg(
        F.max("n").alias("n"),
        F.sum(F.round(F.col("c") * F.col("x"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sx"),
        F.sum(
            F.round(F.col("c") * F.col("h"), 12).cast("decimal(28,12)")
        )
        .cast("double")
        .alias("sh"),
        F.sum(
            F.round(F.col("c") * F.col("x") * F.col("x"), 6).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("sxx"),
        F.sum(
            F.round(F.col("c") * F.col("h") * F.col("h"), 14).cast(
                "decimal(28,14)"
            )
        )
        .cast("double")
        .alias("shh"),
        F.sum(
            F.round(F.col("c") * F.col("x") * F.col("h"), 10).cast(
                "decimal(38,10)"
            )
        )
        .cast("double")
        .alias("sxh"),
    )
    n = F.col("n").cast("double")
    r = (n * F.col("sxh") - F.col("sx") * F.col("sh")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("shh") - F.col("sh") * F.col("sh"))
    )
    return fold.select(
        F.col("n").alias("n_orders"),
        (F.round(r, 8) + 0.0).alias("r_mean_var"),
        (
            F.round(
                F.sqrt(n / 3.0)
                * 0.5
                * F.log((1.0 + r) / (1.0 - r)),
                6,
            )
            + 0.0
        ).alias("lin_mudholkar_z"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "lin_mudholkar_normality": (
            "no window — cents-grid rollup + broadcast totals + one "
            "fold (the jackknife_moment device)"
        ),
    }
)


# --------------------------------------------------------------------------
# Cox-Oakes score test of exponentiality against Weibull shape
# --------------------------------------------------------------------------
@register(
    "cox_oakes_exponentiality",
    oracle="""
    WITH seq AS (
        SELECT user_id, epoch_us(ts) AS tu,
               LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev
        FROM events WHERE event_type = 'purchase'
    ),
    gaps AS (
        SELECT CAST(tu - prev AS BIGINT) AS g
        FROM seq WHERE prev IS NOT NULL AND tu - prev > 0
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(g) AS BIGINT) AS sg
        FROM gaps
    ),
    fold AS (
        SELECT t.n,
               CAST(SUM(CAST(round(ln(g * CAST(t.n AS DOUBLE)
                   / t.sg), 8) AS DECIMAL(28,8))) AS DOUBLE) AS slz,
               CAST(SUM(CAST(round((g * CAST(t.n AS DOUBLE) / t.sg)
                   * ln(g * CAST(t.n AS DOUBLE) / t.sg), 8)
                   AS DECIMAL(28,8))) AS DOUBLE) AS szlz
        FROM gaps, tot t
        GROUP BY t.n
    )
    SELECT n AS n_gaps,
           round(n + slz - szlz, 6) + 0.0 AS cox_oakes_u,
           round((n + slz - szlz - 1.0)
                 / sqrt(n * 1.6449340668482264), 6) + 0.0
               AS cox_oakes_z
    FROM fold
    """,
)
def cox_oakes_exponentiality(spark, sf_dir):
    """COX-OAKES score test of exponentiality against a Weibull
    shape on the pooled positive interpurchase gaps: with z_i =
    x_i/xbar, U = n + sum ln z_i - sum z_i ln z_i is the profile
    score for the Weibull shape at k = 1 — the LIKELIHOOD second
    opinion to `gnedenko_f_exponentiality` (order-statistics
    route), `exp_rate_lr_gaps` (split-sample LR), and
    `ks_exponential_gaps` (ECDF): the score form is the locally
    most powerful test in the Weibull direction, and its SIGN reads
    the shape directly (U > 0 toward k > 1, regularizing gaps;
    U < 0 toward k < 1, bursty gaps — agreeing with Gnedenko's F
    direction is the cross-route certificate). Normalization is
    MC-calibrated and pinned: E[U] ~ 1 and Var[U] ~ n pi^2/6
    (20k replicates at n = 50/500/2000, z mean 0.006 / sd 1.004 at
    n = 2000 — the Feltz-Miller MC-verified convention; pi^2/6 =
    1.6449340668482264 shared literal).

    Exactness: gaps exact micros; z_i = g n / sum(g) is one double
    ratio; both log folds round at 8 dp into DECIMAL sums. Plan:
    user-partitioned lag -> scalar total -> broadcast fold; no
    global sorts."""
    e = t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = (
        e.where(F.col("event_type") == "purchase")
        .select(
            "user_id", (us - F.lag(us).over(wu)).alias("g")
        )
        .where(F.col("g").isNotNull() & (F.col("g") > 0))
        .select("g")
    )
    tot = gaps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("g").cast("bigint").alias("sg"),
    )
    z = F.col("g") * F.col("n").cast("double") / F.col("sg")
    fold = (
        gaps.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.sum(F.round(F.log(z), 8).cast("decimal(28,8)"))
            .cast("double")
            .alias("slz"),
            F.sum(F.round(z * F.log(z), 8).cast("decimal(28,8)"))
            .cast("double")
            .alias("szlz"),
        )
    )
    u = F.col("n") + F.col("slz") - F.col("szlz")
    return fold.select(
        F.col("n").alias("n_gaps"),
        (F.round(u, 6) + 0.0).alias("cox_oakes_u"),
        (
            F.round(
                (u - 1.0)
                / F.sqrt(
                    F.col("n").cast("double") * 1.6449340668482264
                ),
                6,
            )
            + 0.0
        ).alias("cox_oakes_z"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "cox_oakes_exponentiality": (
            "user-partitioned lag + scalar broadcast fold (the "
            "gnedenko frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# Bartlett cumulative-periodogram white-noise test on trend residuals
# --------------------------------------------------------------------------
@register(
    "bartlett_cumulative_periodogram",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s,
               CAST(MIN(d) AS BIGINT) AS d0
        FROM daily
    ),
    idxd AS (
        SELECT ROW_NUMBER() OVER (ORDER BY d) - 1 AS tt,
               y FROM daily
    ),
    freqs AS (
        SELECT CAST(UNNEST(generate_series(1,
                   (SELECT CAST((n - 1) // 2 AS INT) FROM tot)))
                   AS BIGINT) AS j
    ),
    terms AS (
        SELECT f.j,
               SUM(CAST((i.y * t.n - t.s) AS DECIMAL(38,0))
                   * CAST(round(cos(2 * pi() * f.j * i.tt / t.n), 9)
                          AS DECIMAL(12,9))) AS sc,
               SUM(CAST((i.y * t.n - t.s) AS DECIMAL(38,0))
                   * CAST(round(sin(2 * pi() * f.j * i.tt / t.n), 9)
                          AS DECIMAL(12,9))) AS ss
        FROM idxd i CROSS JOIN tot t CROSS JOIN freqs f
        GROUP BY f.j
    ),
    pw AS (
        SELECT j,
               CAST(round(sc, 0) AS DOUBLE)
                   * CAST(round(sc, 0) AS DOUBLE)
               + CAST(round(ss, 0) AS DOUBLE)
                   * CAST(round(ss, 0) AS DOUBLE) AS ij
        FROM terms
    ),
    cumpw AS (
        SELECT j,
               SUM(round(ij / 1e20, 8))
                   OVER (ORDER BY j) AS cij,
               SUM(round(ij / 1e20, 8)) OVER () AS tij,
               COUNT(*) OVER () AS m
        FROM pw
    )
    SELECT MAX(m) AS n_frequencies,
           round(MAX(abs(cij / tij - CAST(j AS DOUBLE) / m)), 8)
               + 0.0 AS bartlett_d,
           round(sqrt(MAX(m) * 1.0)
                 * MAX(abs(cij / tij - CAST(j AS DOUBLE) / m)), 5)
               + 0.0 AS bartlett_ks_stat,
           CAST(CASE WHEN sqrt(MAX(m) * 1.0)
                          * MAX(abs(cij / tij
                                    - CAST(j AS DOUBLE) / m))
                          > 1.358 THEN 1 ELSE 0 END AS INT)
               AS reject_white_noise_5pct
    FROM cumpw
    """,
)
def bartlett_cumulative_periodogram(spark, sf_dir):
    """BARTLETT'S CUMULATIVE-PERIODOGRAM white-noise test on
    centered daily revenue: the normalized cumulative periodogram
    C_k = sum_{j<=k} I_j / sum_j I_j over ALL Fourier frequencies
    j = 1..floor((n-1)/2) must climb the diagonal under white
    noise; D = max_k |C_k - k/m| with the KS reference
    sqrt(m) D vs 1.358 — the FULL-SPECTRUM second opinion to
    `periodogram_dft_peaks` (a 13-period probe grid) and the
    frequency-domain dual of `acf_ljung_box`: a seasonal peak bends
    C_k upward at its frequency, long memory bends the low end —
    one statistic certifies the WHOLE spectrum flat, which no
    finite lag battery can. The DFT uses the sequence index (gap-
    free position) so frequencies are exact rationals of n.

    Exactness: the n-scaled integer deviations fold against
    9-dp-pinned cos/sin literals per frequency (the
    periodogram_dft device); I_j closes from rounded integer folds,
    rescales by 1e20 and pins at 8 dp before the bounded
    (KS readout at 5 dp — a 6-dp boundary straddled at sf0.001)
    cumulative over the ~1.2k-frequency grid. The frequency x day
    product grid is a calendar constant (~2.9M terms at any SF) —
    the sample_entropy boundedness class. Plan: day rollup -> one
    bounded row_number -> freq-grid fold -> bounded cumulative ->
    one fold."""
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
            .cast("bigint")
            .alias("d")
        )
        .agg(
            (F.sum(dec("o_totalprice", 18, 2)) * 100)
            .cast("bigint")
            .alias("y")
        )
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
    )
    idxd = daily.select(
        (F.row_number().over(Window.orderBy("d")) - 1).alias("tt"),
        "y",
    )
    freqs = (
        tot.select(
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.floor((F.col("n") - 1) / 2).cast("int"),
                )
            ).alias("j")
        )
        .select(F.col("j").cast("bigint").alias("j"))
    )
    import math

    theta = (
        2.0 * math.pi * F.col("j") * F.col("tt")
        / F.col("n").cast("double")
    )
    u = (F.col("y") * F.col("n") - F.col("s")).cast("decimal(38,0)")
    terms = (
        idxd.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(freqs))
        .groupBy("j")
        .agg(
            F.sum(
                u * F.round(F.cos(theta), 9).cast("decimal(12,9)")
            ).alias("sc"),
            F.sum(
                u * F.round(F.sin(theta), 9).cast("decimal(12,9)")
            ).alias("ss"),
        )
    )
    sc0 = F.round(F.col("sc"), 0).cast("double")
    ss0 = F.round(F.col("ss"), 0).cast("double")
    pw = terms.select(
        "j", ((sc0 * sc0 + ss0 * ss0)).alias("ij")
    )
    wj = Window.orderBy("j").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cumpw = pw.select(
        "j",
        F.sum(F.round(F.col("ij") / 1e20, 8)).over(wj).alias("cij"),
        F.sum(F.round(F.col("ij") / 1e20, 8))
        .over(Window.partitionBy())
        .alias("tij"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    dev = F.abs(
        F.col("cij") / F.col("tij")
        - F.col("j").cast("double") / F.col("m")
    )
    fold = cumpw.agg(
        F.max("m").cast("bigint").alias("m"),
        F.max(F.round(dev, 8)).alias("dmax"),
    )
    ks = F.sqrt(F.col("m").cast("double")) * F.col("dmax")
    return fold.select(
        F.col("m").alias("n_frequencies"),
        (F.col("dmax") + 0.0).alias("bartlett_d"),
        (F.round(ks, 5) + 0.0).alias("bartlett_ks_stat"),
        F.when(ks > 1.358, 1).otherwise(0).cast("int")
        .alias("reject_white_noise_5pct"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "bartlett_cumulative_periodogram": (
            "bounded row_number + ~1.2k-frequency grid cumulative "
            "(calendar-constant term grid — the periodogram_dft / "
            "sample_entropy class)"
        ),
    }
)


# --------------------------------------------------------------------------
# BCa Poisson-bootstrap confidence interval for the mean order value
# --------------------------------------------------------------------------
@register(
    "bca_bootstrap_mean_ci",
    oracle="""
    WITH v AS (
        SELECT o_orderkey AS k,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS x
        FROM orders
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(x / 100000.0, 6)
                    AS DECIMAL(38,6))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(round((x / 100000.0) * (x / 100000.0), 6)
                    AS DECIMAL(38,6))) AS DOUBLE) AS s2,
               CAST(SUM(CAST(round((x / 100000.0) * (x / 100000.0)
                    * (x / 100000.0), 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS s3
        FROM v
    ),
    acc AS (
        SELECT n, round(s1 / n, 6) AS mfull,
               (s3 - 3.0 * s1 * s2 / n + 2.0 * s1 * s1 * s1 / (n * 1.0 * n))
               / (6.0 * sqrt(s2 - s1 * s1 / n)
                  * (s2 - s1 * s1 / n)) AS a
        FROM mom
    ),
    reps AS (
        SELECT r.rep,
               round(SUM((CASE WHEN ((v.k * 2654435761 + r.rep * 40503) % 4294967296) / 4294967296.0 < 0.3678794412 THEN 0 WHEN ((v.k * 2654435761 + r.rep * 40503) % 4294967296) / 4294967296.0 < 0.7357588824 THEN 1 WHEN ((v.k * 2654435761 + r.rep * 40503) % 4294967296) / 4294967296.0 < 0.919698603 THEN 2 WHEN ((v.k * 2654435761 + r.rep * 40503) % 4294967296) / 4294967296.0 < 0.9810118431 THEN 3 WHEN ((v.k * 2654435761 + r.rep * 40503) % 4294967296) / 4294967296.0 < 0.9963401532 THEN 4 WHEN ((v.k * 2654435761 + r.rep * 40503) % 4294967296) / 4294967296.0 < 0.9994058152 THEN 5 WHEN ((v.k * 2654435761 + r.rep * 40503) % 4294967296) / 4294967296.0 < 0.9999167589 THEN 6 ELSE 7 END) * v.x)
                     / (100000.0 * SUM(CASE WHEN ((v.k * 2654435761 + r.rep * 40503) % 4294967296) / 4294967296.0 < 0.3678794412 THEN 0 WHEN ((v.k * 2654435761 + r.rep * 40503) % 4294967296) / 4294967296.0 < 0.7357588824 THEN 1 WHEN ((v.k * 2654435761 + r.rep * 40503) % 4294967296) / 4294967296.0 < 0.919698603 THEN 2 WHEN ((v.k * 2654435761 + r.rep * 40503) % 4294967296) / 4294967296.0 < 0.9810118431 THEN 3 WHEN ((v.k * 2654435761 + r.rep * 40503) % 4294967296) / 4294967296.0 < 0.9963401532 THEN 4 WHEN ((v.k * 2654435761 + r.rep * 40503) % 4294967296) / 4294967296.0 < 0.9994058152 THEN 5 WHEN ((v.k * 2654435761 + r.rep * 40503) % 4294967296) / 4294967296.0 < 0.9999167589 THEN 6 ELSE 7 END)), 6) AS m
        FROM v, (SELECT UNNEST(range(1, 100)) AS rep) r
        GROUP BY r.rep
        HAVING SUM(CASE WHEN ((v.k * 2654435761 + r.rep * 40503) % 4294967296) / 4294967296.0 < 0.3678794412 THEN 0 WHEN ((v.k * 2654435761 + r.rep * 40503) % 4294967296) / 4294967296.0 < 0.7357588824 THEN 1 WHEN ((v.k * 2654435761 + r.rep * 40503) % 4294967296) / 4294967296.0 < 0.919698603 THEN 2 WHEN ((v.k * 2654435761 + r.rep * 40503) % 4294967296) / 4294967296.0 < 0.9810118431 THEN 3 WHEN ((v.k * 2654435761 + r.rep * 40503) % 4294967296) / 4294967296.0 < 0.9963401532 THEN 4 WHEN ((v.k * 2654435761 + r.rep * 40503) % 4294967296) / 4294967296.0 < 0.9994058152 THEN 5 WHEN ((v.k * 2654435761 + r.rep * 40503) % 4294967296) / 4294967296.0 < 0.9999167589 THEN 6 ELSE 7 END) > 0
    ),
    fz AS (
        SELECT GREATEST(LEAST(
                   CAST(SUM(CASE WHEN reps.m < acc.mfull
                            THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*), 1.0 - 0.5 / COUNT(*)),
                   0.5 / COUNT(*)) AS frac,
               CAST(COUNT(*) AS BIGINT) AS b
        FROM reps, acc GROUP BY acc.mfull
    ),
    sc AS (
        SELECT round((CASE WHEN (fz.frac) < 0.02425 THEN ((((((-7.784894002430293e-03 * sqrt(-2.0 * ln(fz.frac)) + -3.223964580411365e-01) * sqrt(-2.0 * ln(fz.frac)) + -2.400758277161838e+00) * sqrt(-2.0 * ln(fz.frac)) + -2.549732539343734e+00) * sqrt(-2.0 * ln(fz.frac)) + 4.374664141464968e+00) * sqrt(-2.0 * ln(fz.frac)) + 2.938163982698783e+00) / ((((7.784695709041462e-03 * sqrt(-2.0 * ln(fz.frac)) + 3.224671290700398e-01) * sqrt(-2.0 * ln(fz.frac)) + 2.445134137142996e+00) * sqrt(-2.0 * ln(fz.frac)) + 3.754408661907416e+00) * sqrt(-2.0 * ln(fz.frac)) + 1.0)) WHEN (fz.frac) > 0.97575 THEN -((((((-7.784894002430293e-03 * sqrt(-2.0 * ln(1.0 - (fz.frac))) + -3.223964580411365e-01) * sqrt(-2.0 * ln(1.0 - (fz.frac))) + -2.400758277161838e+00) * sqrt(-2.0 * ln(1.0 - (fz.frac))) + -2.549732539343734e+00) * sqrt(-2.0 * ln(1.0 - (fz.frac))) + 4.374664141464968e+00) * sqrt(-2.0 * ln(1.0 - (fz.frac))) + 2.938163982698783e+00) / ((((7.784695709041462e-03 * sqrt(-2.0 * ln(1.0 - (fz.frac))) + 3.224671290700398e-01) * sqrt(-2.0 * ln(1.0 - (fz.frac))) + 2.445134137142996e+00) * sqrt(-2.0 * ln(1.0 - (fz.frac))) + 3.754408661907416e+00) * sqrt(-2.0 * ln(1.0 - (fz.frac))) + 1.0)) ELSE (((((-3.969683028665376e+01 * (((fz.frac) - 0.5) * ((fz.frac) - 0.5)) + 2.209460984245205e+02) * (((fz.frac) - 0.5) * ((fz.frac) - 0.5)) + -2.759285104469687e+02) * (((fz.frac) - 0.5) * ((fz.frac) - 0.5)) + 1.383577518672690e+02) * (((fz.frac) - 0.5) * ((fz.frac) - 0.5)) + -3.066479806614716e+01) * (((fz.frac) - 0.5) * ((fz.frac) - 0.5)) + 2.506628277459239e+00) * ((fz.frac) - 0.5) / (((((-5.447609879822406e+01 * (((fz.frac) - 0.5) * ((fz.frac) - 0.5)) + 1.615858368580409e+02) * (((fz.frac) - 0.5) * ((fz.frac) - 0.5)) + -1.556989798598866e+02) * (((fz.frac) - 0.5) * ((fz.frac) - 0.5)) + 6.680131188771972e+01) * (((fz.frac) - 0.5) * ((fz.frac) - 0.5)) + -1.328068155288572e+01) * (((fz.frac) - 0.5) * ((fz.frac) - 0.5)) + 1.0) END), 8) AS z0, fz.b, acc.a, acc.mfull, acc.n
        FROM fz, acc
    ),
    lv AS (
        SELECT s.n, s.b, s.mfull, s.z0, round(s.a, 8) AS a,
               round((CASE WHEN ((s.z0 + (s.z0 - 1.959964) / (1.0 - s.a * (s.z0 - 1.959964)))) >= 0 THEN 1.0 - ((((((1.061405429 * (1.0 / (1.0 + 0.3275911 * (abs((s.z0 + (s.z0 - 1.959964) / (1.0 - s.a * (s.z0 - 1.959964)))) / 1.4142135623730951))) - 1.453152027) * (1.0 / (1.0 + 0.3275911 * (abs((s.z0 + (s.z0 - 1.959964) / (1.0 - s.a * (s.z0 - 1.959964)))) / 1.4142135623730951))) + 1.421413741) * (1.0 / (1.0 + 0.3275911 * (abs((s.z0 + (s.z0 - 1.959964) / (1.0 - s.a * (s.z0 - 1.959964)))) / 1.4142135623730951))) - 0.284496736) * (1.0 / (1.0 + 0.3275911 * (abs((s.z0 + (s.z0 - 1.959964) / (1.0 - s.a * (s.z0 - 1.959964)))) / 1.4142135623730951))) + 0.254829592) * (1.0 / (1.0 + 0.3275911 * (abs((s.z0 + (s.z0 - 1.959964) / (1.0 - s.a * (s.z0 - 1.959964)))) / 1.4142135623730951)))) * exp(-(abs((s.z0 + (s.z0 - 1.959964) / (1.0 - s.a * (s.z0 - 1.959964)))) / 1.4142135623730951) * (abs((s.z0 + (s.z0 - 1.959964) / (1.0 - s.a * (s.z0 - 1.959964)))) / 1.4142135623730951))) / 2.0 ELSE ((((((1.061405429 * (1.0 / (1.0 + 0.3275911 * (abs((s.z0 + (s.z0 - 1.959964) / (1.0 - s.a * (s.z0 - 1.959964)))) / 1.4142135623730951))) - 1.453152027) * (1.0 / (1.0 + 0.3275911 * (abs((s.z0 + (s.z0 - 1.959964) / (1.0 - s.a * (s.z0 - 1.959964)))) / 1.4142135623730951))) + 1.421413741) * (1.0 / (1.0 + 0.3275911 * (abs((s.z0 + (s.z0 - 1.959964) / (1.0 - s.a * (s.z0 - 1.959964)))) / 1.4142135623730951))) - 0.284496736) * (1.0 / (1.0 + 0.3275911 * (abs((s.z0 + (s.z0 - 1.959964) / (1.0 - s.a * (s.z0 - 1.959964)))) / 1.4142135623730951))) + 0.254829592) * (1.0 / (1.0 + 0.3275911 * (abs((s.z0 + (s.z0 - 1.959964) / (1.0 - s.a * (s.z0 - 1.959964)))) / 1.4142135623730951)))) * exp(-(abs((s.z0 + (s.z0 - 1.959964) / (1.0 - s.a * (s.z0 - 1.959964)))) / 1.4142135623730951) * (abs((s.z0 + (s.z0 - 1.959964) / (1.0 - s.a * (s.z0 - 1.959964)))) / 1.4142135623730951))) / 2.0 END), 10) AS a1,
               round((CASE WHEN ((s.z0 + (s.z0 + 1.959964) / (1.0 - s.a * (s.z0 + 1.959964)))) >= 0 THEN 1.0 - ((((((1.061405429 * (1.0 / (1.0 + 0.3275911 * (abs((s.z0 + (s.z0 + 1.959964) / (1.0 - s.a * (s.z0 + 1.959964)))) / 1.4142135623730951))) - 1.453152027) * (1.0 / (1.0 + 0.3275911 * (abs((s.z0 + (s.z0 + 1.959964) / (1.0 - s.a * (s.z0 + 1.959964)))) / 1.4142135623730951))) + 1.421413741) * (1.0 / (1.0 + 0.3275911 * (abs((s.z0 + (s.z0 + 1.959964) / (1.0 - s.a * (s.z0 + 1.959964)))) / 1.4142135623730951))) - 0.284496736) * (1.0 / (1.0 + 0.3275911 * (abs((s.z0 + (s.z0 + 1.959964) / (1.0 - s.a * (s.z0 + 1.959964)))) / 1.4142135623730951))) + 0.254829592) * (1.0 / (1.0 + 0.3275911 * (abs((s.z0 + (s.z0 + 1.959964) / (1.0 - s.a * (s.z0 + 1.959964)))) / 1.4142135623730951)))) * exp(-(abs((s.z0 + (s.z0 + 1.959964) / (1.0 - s.a * (s.z0 + 1.959964)))) / 1.4142135623730951) * (abs((s.z0 + (s.z0 + 1.959964) / (1.0 - s.a * (s.z0 + 1.959964)))) / 1.4142135623730951))) / 2.0 ELSE ((((((1.061405429 * (1.0 / (1.0 + 0.3275911 * (abs((s.z0 + (s.z0 + 1.959964) / (1.0 - s.a * (s.z0 + 1.959964)))) / 1.4142135623730951))) - 1.453152027) * (1.0 / (1.0 + 0.3275911 * (abs((s.z0 + (s.z0 + 1.959964) / (1.0 - s.a * (s.z0 + 1.959964)))) / 1.4142135623730951))) + 1.421413741) * (1.0 / (1.0 + 0.3275911 * (abs((s.z0 + (s.z0 + 1.959964) / (1.0 - s.a * (s.z0 + 1.959964)))) / 1.4142135623730951))) - 0.284496736) * (1.0 / (1.0 + 0.3275911 * (abs((s.z0 + (s.z0 + 1.959964) / (1.0 - s.a * (s.z0 + 1.959964)))) / 1.4142135623730951))) + 0.254829592) * (1.0 / (1.0 + 0.3275911 * (abs((s.z0 + (s.z0 + 1.959964) / (1.0 - s.a * (s.z0 + 1.959964)))) / 1.4142135623730951)))) * exp(-(abs((s.z0 + (s.z0 + 1.959964) / (1.0 - s.a * (s.z0 + 1.959964)))) / 1.4142135623730951) * (abs((s.z0 + (s.z0 + 1.959964) / (1.0 - s.a * (s.z0 + 1.959964)))) / 1.4142135623730951))) / 2.0 END), 10) AS a2
        FROM sc s
    ),
    ranked AS (
        SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS rn FROM reps
    ),
    pick AS (
        SELECT lv.n, lv.b, lv.mfull, lv.z0, lv.a, lv.a1, lv.a2,
               MAX(CASE WHEN ranked.rn = GREATEST(LEAST(
                   CAST(ceil(lv.a1 * lv.b) AS BIGINT), lv.b), 1)
                   THEN ranked.m END) AS lo,
               MAX(CASE WHEN ranked.rn = GREATEST(LEAST(
                   CAST(ceil(lv.a2 * lv.b) AS BIGINT), lv.b), 1)
                   THEN ranked.m END) AS hi,
               MAX(CASE WHEN ranked.rn = GREATEST(LEAST(
                   CAST(ceil(0.025 * lv.b) AS BIGINT), lv.b), 1)
                   THEN ranked.m END) AS plo,
               MAX(CASE WHEN ranked.rn = GREATEST(LEAST(
                   CAST(ceil(0.975 * lv.b) AS BIGINT), lv.b), 1)
                   THEN ranked.m END) AS phi_
        FROM lv, ranked
        GROUP BY lv.n, lv.b, lv.mfull, lv.z0, lv.a, lv.a1, lv.a2
    )
    SELECT n AS n_orders, b AS b_replicates,
           mfull + 0.0 AS mean_kusd,
           round(a, 8) + 0.0 AS acceleration,
           z0 + 0.0 AS bias_z0,
           lo + 0.0 AS bca_lo_kusd,
           hi + 0.0 AS bca_hi_kusd,
           plo + 0.0 AS pct_lo_kusd,
           phi_ + 0.0 AS pct_hi_kusd
    FROM pick
""",
)
def bca_bootstrap_mean_ci(spark, sf_dir):
    """BCa (bias-corrected and accelerated) bootstrap interval for
    the mean order value (kUSD), fully DETERMINISTIC: 99 Poisson(1)
    hash-weight replicates (the `poisson_bootstrap_se` production
    device — no RNG, no global resample), bias correction z0 =
    Phi^-1(frac of replicate means below the full mean; Acklam
    tree, frac clamped to [1/(2B), 1-1/(2B)]), and the EXACT
    closed-form jackknife acceleration for the mean, a =
    sum(x-xbar)^3 / (6 (sum(x-xbar)^2)^(3/2)) (the (n-1) powers
    cancel, so no leave-one-out pass exists) — Efron's
    second-order-correct interval beside the first-order readouts:
    `poisson_bootstrap_se`'s +/-z SE interval and
    `empirical_bernstein_ci`'s concentration bound. On a skewed
    revenue distribution the BCa endpoints shift RIGHT of the
    percentile interval (also shipped) by design — that asymmetry
    is the skew pricing every symmetric CI silently drops.

    Exactness: kUSD power sums fold at 6 dp (exact DECIMAL);
    replicate means are exact weighted-integer ratios rounded at 6
    dp; z0 pins at 8 dp off the Acklam tree; adjusted levels pin at
    10 dp off the shared Phi tree; endpoints are nearest-rank order
    statistics (ceil(alpha B), clamped) on the 99-row replicate
    frame (bounded window). Plan: one scan x 99 broadcast replicate
    ids (map-side fan-out) -> 99-group rollup -> scalar folds ->
    bounded rank pick."""
    from .bank_r14 import _pois_case as _pc
    from .bank_r15 import _acklam_col
    from .common import phi_col as _phi

    o = t(spark, sf_dir, "orders")
    v = o.select(
        F.col("o_orderkey").alias("k"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("x"),
    )
    xk = F.col("x") / 100000.0
    mom = v.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round(xk, 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("s1"),
        F.sum(F.round(xk * xk, 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("s2"),
        F.sum(F.round(xk * xk * xk, 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("s3"),
    )
    n = F.col("n").cast("double")
    m2 = F.col("s2") - F.col("s1") * F.col("s1") / n
    m3 = (
        F.col("s3")
        - 3.0 * F.col("s1") * F.col("s2") / n
        + 2.0 * F.col("s1") * F.col("s1") * F.col("s1") / (n * n)
    )
    acc = mom.select(
        "n",
        F.round(F.col("s1") / n, 6).alias("mfull"),
        (m3 / (6.0 * F.sqrt(m2) * m2)).alias("a"),
    )
    reps = spark.range(1, 100).select(F.col("id").alias("rep"))
    w = F.expr(
        _pc(
            "(CAST((CAST(k AS DECIMAL(38,0)) * 2654435761"
            " + rep * 40503) % 4294967296 AS DOUBLE))"
            " / 4294967296.0"
        )
    )
    weighted = v.crossJoin(F.broadcast(reps)).select(
        "rep", "x", w.alias("w")
    )
    stat = (
        weighted.groupBy("rep")
        .agg(
            F.sum(F.col("w") * F.col("x")).alias("sw"),
            F.sum("w").alias("wsum"),
        )
        .where(F.col("wsum") > 0)
        .select(
            F.round(
                F.col("sw") / (100000.0 * F.col("wsum")), 6
            ).alias("m")
        )
        .persist()
    )
    fz = stat.crossJoin(F.broadcast(acc)).agg(
        F.greatest(
            F.least(
                F.sum(
                    F.when(F.col("m") < F.col("mfull"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                1.0 - 0.5 / F.count(F.lit(1)),
            ),
            0.5 / F.count(F.lit(1)),
        ).alias("frac"),
        F.count(F.lit(1)).cast("bigint").alias("b"),
    )
    sc = fz.crossJoin(F.broadcast(acc)).select(
        "n",
        "b",
        "mfull",
        F.round(F.col("a"), 8).alias("a"),
        F.round(_acklam_col(F.col("frac")), 8).alias("z0"),
    )
    za = 1.959964
    lo_arg = F.col("z0") + (F.col("z0") - za) / (
        1.0 - F.col("a") * (F.col("z0") - za)
    )
    hi_arg = F.col("z0") + (F.col("z0") + za) / (
        1.0 - F.col("a") * (F.col("z0") + za)
    )
    lv = sc.select(
        "n",
        "b",
        "mfull",
        "a",
        "z0",
        F.round(_phi(lo_arg), 10).alias("a1"),
        F.round(_phi(hi_arg), 10).alias("a2"),
    )
    ranked = stat.select(
        "m", F.row_number().over(Window.orderBy("m")).alias("rn")
    )

    def pick(alpha):
        idx = F.greatest(
            F.least(F.ceil(alpha * F.col("b")).cast("bigint"),
                    F.col("b")),
            F.lit(1).cast("bigint"),
        )
        return F.max(F.when(F.col("rn") == idx, F.col("m")))

    out = ranked.crossJoin(F.broadcast(lv)).groupBy(
        "n", "b", "mfull", "a", "z0", "a1", "a2"
    ).agg(
        pick(F.col("a1")).alias("lo"),
        pick(F.col("a2")).alias("hi"),
        pick(F.lit(0.025)).alias("plo"),
        pick(F.lit(0.975)).alias("phi_"),
    )
    return out.select(
        F.col("n").alias("n_orders"),
        F.col("b").alias("b_replicates"),
        (F.col("mfull") + 0.0).alias("mean_kusd"),
        (F.round("a", 8) + 0.0).alias("acceleration"),
        (F.col("z0") + 0.0).alias("bias_z0"),
        (F.col("lo") + 0.0).alias("bca_lo_kusd"),
        (F.col("hi") + 0.0).alias("bca_hi_kusd"),
        (F.col("plo") + 0.0).alias("pct_lo_kusd"),
        (F.col("phi_") + 0.0).alias("pct_hi_kusd"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "bca_bootstrap_mean_ci": (
            "99-replicate map-side fan-out + bounded 99-row rank "
            "window (the poisson_bootstrap_se device)"
        ),
    }
)


# --------------------------------------------------------------------------
# TOST equivalence for a correlation (Fisher-z scale)
# --------------------------------------------------------------------------
@register(
    "corr_equivalence_tost",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST((epoch_us(o_orderdate) // 86400000000 + 4) % 7
                    AS BIGINT) AS dow,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1, 2
    ),
    wd AS (
        SELECT CAST(x AS DOUBLE) AS x,
               CAST(y AS DOUBLE) / x / 100000.0 AS ybar
        FROM daily
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(x, 1) AS DECIMAL(28,1)))
                    AS DOUBLE) AS sx,
               CAST(SUM(CAST(round(ybar, 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS sy,
               CAST(SUM(CAST(round(x * x, 1) AS DECIMAL(28,1)))
                    AS DOUBLE) AS sxx,
               CAST(SUM(CAST(round(ybar * ybar, 8)
                    AS DECIMAL(28,8))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(round(x * ybar, 6) AS DECIMAL(28,6)))
                    AS DOUBLE) AS sxy
        FROM wd
    ),
    rz AS (
        SELECT n,
               round((n * sxy - sx * sy)
                     / sqrt((n * sxx - sx * sx)
                            * (n * syy - sy * sy)), 8) AS r
        FROM fold
    )
    SELECT n AS n_days,
           r + 0.0 AS pearson_r,
           round(0.5 * ln((1.0 + r) / (1.0 - r)), 8) + 0.0
               AS fisher_z,
           round((0.5 * ln((1.0 + r) / (1.0 - r))
                  + 0.10033534773107558) * sqrt(n - 3.0), 6) + 0.0
               AS tost_z_lower,
           round((0.5 * ln((1.0 + r) / (1.0 - r))
                  - 0.10033534773107558) * sqrt(n - 3.0), 6) + 0.0
               AS tost_z_upper,
           CAST(CASE WHEN (0.5 * ln((1.0 + r) / (1.0 - r))
                           + 0.10033534773107558) * sqrt(n - 3.0)
                          >= 1.6448536269514722
                      AND (0.5 * ln((1.0 + r) / (1.0 - r))
                           - 0.10033534773107558) * sqrt(n - 3.0)
                          <= -1.6448536269514722
                     THEN 1 ELSE 0 END AS INT)
               AS equivalent_to_zero_5pct
    FROM rz
    """,
)
def corr_equivalence_tost(spark, sf_dir):
    """TOST EQUIVALENCE test that the daily volume <-> mean-order-
    value correlation is ZERO within |rho| < 0.1: both one-sided
    Fisher-z statistics (z(r) -/+ z(0.1)) sqrt(n-3) must clear
    z_0.95 (Goertzen-Cribbie correlation equivalence; z(0.1) =
    0.10033534773107558 exact literal) — the third member of the
    equivalence trio (`tost_equivalence_means`, `tost_equivalence_
    proportions`) and the POSITIVE independence certificate the
    correlation battery lacks: a non-significant r is absence of
    evidence, TOST is evidence of absence, and "volume does not
    move ticket size" is exactly the claim a pricing pipeline
    needs certified before pooling. Note the metric is mean order
    VALUE per day (not revenue, which correlates with volume by
    construction).

    Exactness: daily (x, ybar) fold exactly (counts at 1 dp, kUSD
    means at 8 dp into DECIMAL sums); r pins at 8 dp; the two TOST
    z's and the verdict bit are terminal IEEE trees with shared
    literals. Plan: day rollup -> one fold; no window."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("xc"),
        (F.sum(dec("o_totalprice", 18, 2)) * 100)
        .cast("bigint")
        .alias("yc"),
    )
    wd = daily.select(
        F.col("xc").cast("double").alias("x"),
        (
            F.col("yc").cast("double") / F.col("xc") / 100000.0
        ).alias("ybar"),
    )
    fold = wd.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round("x", 1).cast("decimal(28,1)"))
        .cast("double")
        .alias("sx"),
        F.sum(F.round("ybar", 8).cast("decimal(28,8)"))
        .cast("double")
        .alias("sy"),
        F.sum(F.round(F.col("x") * F.col("x"), 1).cast("decimal(28,1)"))
        .cast("double")
        .alias("sxx"),
        F.sum(
            F.round(F.col("ybar") * F.col("ybar"), 8).cast(
                "decimal(28,8)"
            )
        )
        .cast("double")
        .alias("syy"),
        F.sum(
            F.round(F.col("x") * F.col("ybar"), 6).cast("decimal(28,6)")
        )
        .cast("double")
        .alias("sxy"),
    )
    n = F.col("n").cast("double")
    r = F.round(
        (n * F.col("sxy") - F.col("sx") * F.col("sy"))
        / F.sqrt(
            (n * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (n * F.col("syy") - F.col("sy") * F.col("sy"))
        ),
        8,
    )
    rz = fold.select("n", r.alias("r"))
    zf = 0.5 * F.log((1.0 + F.col("r")) / (1.0 - F.col("r")))
    zm = 0.10033534773107558
    zc = 1.6448536269514722
    nn = F.col("n").cast("double")
    zlo = (zf + zm) * F.sqrt(nn - 3.0)
    zhi = (zf - zm) * F.sqrt(nn - 3.0)
    return rz.select(
        F.col("n").alias("n_days"),
        (F.col("r") + 0.0).alias("pearson_r"),
        (F.round(zf, 8) + 0.0).alias("fisher_z"),
        (F.round(zlo, 6) + 0.0).alias("tost_z_lower"),
        (F.round(zhi, 6) + 0.0).alias("tost_z_upper"),
        F.when((zlo >= zc) & (zhi <= -zc), 1)
        .otherwise(0)
        .cast("int")
        .alias("equivalent_to_zero_5pct"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "corr_equivalence_tost": (
            "no window — day rollup + one fold"
        ),
    }
)


# --------------------------------------------------------------------------
# DeLong correlated AUC difference: length model vs source model
# --------------------------------------------------------------------------
@register(
    "delong_auc_difference",
    oracle="""
    WITH docs AS (
        SELECT doc_id, source,
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
    cells AS (
        SELECT orate.pa, srate.pb, d.y,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM docs d
        JOIN orate ON d.oct = orate.oct
        JOIN srate ON d.source = srate.source
        GROUP BY 1, 2, 3
    ),
    tot AS (
        SELECT CAST(SUM(CASE WHEN y = 1 THEN c END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN y = 0 THEN c END) AS BIGINT) AS n0
        FROM cells
    ),
    ma AS (
        SELECT pa,
               CAST(COALESCE(SUM(CASE WHEN y = 0 THEN c END), 0)
                    AS BIGINT) AS c0,
               CAST(COALESCE(SUM(CASE WHEN y = 1 THEN c END), 0)
                    AS BIGINT) AS c1
        FROM cells GROUP BY pa
    ),
    cma AS (
        SELECT pa,
               round((CAST(COALESCE(SUM(c0) OVER (ORDER BY pa
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                      PRECEDING), 0) AS DOUBLE) + 0.5 * c0)
                     / tot.n0, 10) AS v10,
               round((tot.n1
                      - CAST(COALESCE(SUM(c1) OVER (ORDER BY pa
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                        PRECEDING), 0) AS DOUBLE) - 0.5 * c1)
                     / tot.n1, 10) AS v01
        FROM ma, tot
    ),
    mb AS (
        SELECT pb,
               CAST(COALESCE(SUM(CASE WHEN y = 0 THEN c END), 0)
                    AS BIGINT) AS c0,
               CAST(COALESCE(SUM(CASE WHEN y = 1 THEN c END), 0)
                    AS BIGINT) AS c1
        FROM cells GROUP BY pb
    ),
    cmb AS (
        SELECT pb,
               round((CAST(COALESCE(SUM(c0) OVER (ORDER BY pb
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                      PRECEDING), 0) AS DOUBLE) + 0.5 * c0)
                     / tot.n0, 10) AS v10,
               round((tot.n1
                      - CAST(COALESCE(SUM(c1) OVER (ORDER BY pb
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                        PRECEDING), 0) AS DOUBLE) - 0.5 * c1)
                     / tot.n1, 10) AS v01
        FROM mb, tot
    ),
    ev AS (
        SELECT t.n1, t.n0,
               CAST(SUM(CAST(round(c.c * a.v10, 10)
                    AS DECIMAL(28,10))) AS DOUBLE) AS sa,
               CAST(SUM(CAST(round(c.c * b.v10, 10)
                    AS DECIMAL(28,10))) AS DOUBLE) AS sb,
               CAST(SUM(CAST(round(c.c * a.v10 * a.v10, 12)
                    AS DECIMAL(28,12))) AS DOUBLE) AS saa,
               CAST(SUM(CAST(round(c.c * b.v10 * b.v10, 12)
                    AS DECIMAL(28,12))) AS DOUBLE) AS sbb,
               CAST(SUM(CAST(round(c.c * a.v10 * b.v10, 12)
                    AS DECIMAL(28,12))) AS DOUBLE) AS sab
        FROM cells c
        JOIN cma a ON c.pa = a.pa
        JOIN cmb b ON c.pb = b.pb
        CROSS JOIN tot t
        WHERE c.y = 1
        GROUP BY t.n1, t.n0
    ),
    nv AS (
        SELECT CAST(SUM(CAST(round(c.c * a.v01, 10)
                    AS DECIMAL(28,10))) AS DOUBLE) AS sa,
               CAST(SUM(CAST(round(c.c * b.v01, 10)
                    AS DECIMAL(28,10))) AS DOUBLE) AS sb,
               CAST(SUM(CAST(round(c.c * a.v01 * a.v01, 12)
                    AS DECIMAL(28,12))) AS DOUBLE) AS saa,
               CAST(SUM(CAST(round(c.c * b.v01 * b.v01, 12)
                    AS DECIMAL(28,12))) AS DOUBLE) AS sbb,
               CAST(SUM(CAST(round(c.c * a.v01 * b.v01, 12)
                    AS DECIMAL(28,12))) AS DOUBLE) AS sab
        FROM cells c
        JOIN cma a ON c.pa = a.pa
        JOIN cmb b ON c.pb = b.pb
        WHERE c.y = 0
    ),
    stat AS (
        SELECT ev.n1, ev.n0,
               ev.sa / ev.n1 AS auca, ev.sb / ev.n1 AS aucb,
               ((ev.saa - ev.sa * ev.sa / ev.n1)
                + (ev.sbb - ev.sb * ev.sb / ev.n1)
                - 2.0 * (ev.sab - ev.sa * ev.sb / ev.n1))
               / (ev.n1 - 1.0) / ev.n1
               + ((nv.saa - nv.sa * nv.sa / ev.n0)
                  + (nv.sbb - nv.sb * nv.sb / ev.n0)
                  - 2.0 * (nv.sab - nv.sa * nv.sb / ev.n0))
                 / (ev.n0 - 1.0) / ev.n0 AS vd
        FROM ev, nv
    )
    SELECT n1 AS n_events, n0 AS n_nonevents,
           round(auca, 8) + 0.0 AS auc_length_model,
           round(aucb, 8) + 0.0 AS auc_source_model,
           round(aucb - auca, 8) + 0.0 AS auc_diff,
           round(sqrt(vd), 8) + 0.0 AS delong_se_diff,
           round((aucb - auca) / sqrt(vd), 6) + 0.0 AS delong_z
    FROM stat
    """,
)
def delong_auc_difference(spark, sf_dir):
    """DELONG CORRELATED-AUC DIFFERENCE test between the length-
    octave model and the source model for predicting lang='en' (the
    `idi_discrimination_improvement` / `net_reclassification_index`
    model pair, completing the discrimination trinity): both AUCs
    from tie-corrected structural components V10/V01 on the bounded
    joint score grid, with Var(AUC_b - AUC_a) = [S10_aa + S10_bb -
    2 S10_ab]/n1 + [S01_aa + S01_bb - 2 S01_ab]/n0 — the COVARIANCE
    term is what the pair of single-model `auc_delong_se` readouts
    cannot give: the two models score the SAME documents, so naive
    independent-SE comparison overstates Var(diff) and misses real
    improvements. IDI moving with a flat DeLong z localizes
    calibration-only gains; both moving is rank-order improvement.

    Exactness: both score domains are bounded grids (length octaves
    x sources, <= ~130 joint cells), so every structural component
    is a grid-level cumulative (exclusive-prefix over the score
    values, the auc_delong device) pinned at 10 dp; all covariance
    folds are c-weighted DECIMAL sums over the joint cells; the z
    closes in one IEEE tree. Plan: doc scan -> two rate rollups ->
    joint-cell rollup -> two bounded marginal cumulatives ->
    broadcast joins -> two folds; no data-scaled window."""
    d = (
        t(spark, sf_dir, "documents")
        .where(F.col("n_chars") > 0)
        .select(
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
        F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 10)
        .alias("pa")
    )
    srate = d.groupBy("source").agg(
        F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 10)
        .alias("pb")
    )
    cells = (
        d.join(F.broadcast(orate), "oct")
        .join(F.broadcast(srate), "source")
        .groupBy("pa", "pb", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist()
    )
    tot = cells.agg(
        F.sum(F.when(F.col("y") == 1, F.col("c")))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("y") == 0, F.col("c")))
        .cast("bigint")
        .alias("n0"),
    )

    def marg(key):
        m = cells.groupBy(key).agg(
            F.coalesce(
                F.sum(F.when(F.col("y") == 0, F.col("c"))), F.lit(0)
            )
            .cast("bigint")
            .alias("c0"),
            F.coalesce(
                F.sum(F.when(F.col("y") == 1, F.col("c"))), F.lit(0)
            )
            .cast("bigint")
            .alias("c1"),
        )
        wv = Window.orderBy(key).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return (
            m.crossJoin(F.broadcast(tot))
            .select(
                key,
                F.round(
                    (
                        (F.sum("c0").over(wv) - F.col("c0")).cast(
                            "double"
                        )
                        + 0.5 * F.col("c0")
                    )
                    / F.col("n0"),
                    10,
                ).alias("v10"),
                F.round(
                    (
                        F.col("n1")
                        - (F.sum("c1").over(wv) - F.col("c1")).cast(
                            "double"
                        )
                        - 0.5 * F.col("c1")
                    )
                    / F.col("n1"),
                    10,
                ).alias("v01"),
            )
        )

    cma = marg("pa").select(
        "pa", F.col("v10").alias("va10"), F.col("v01").alias("va01")
    )
    cmb = marg("pb").select(
        "pb", F.col("v10").alias("vb10"), F.col("v01").alias("vb01")
    )
    joined = (
        cells.join(F.broadcast(cma), "pa")
        .join(F.broadcast(cmb), "pb")
        .crossJoin(F.broadcast(tot))
        .persist()
    )

    def fold(df, va, vb):
        c = F.col("c")
        return df.agg(
            F.max("n1").alias("n1"),
            F.max("n0").alias("n0"),
            F.sum(F.round(c * va, 10).cast("decimal(28,10)"))
            .cast("double")
            .alias("sa"),
            F.sum(F.round(c * vb, 10).cast("decimal(28,10)"))
            .cast("double")
            .alias("sb"),
            F.sum(F.round(c * va * va, 12).cast("decimal(28,12)"))
            .cast("double")
            .alias("saa"),
            F.sum(F.round(c * vb * vb, 12).cast("decimal(28,12)"))
            .cast("double")
            .alias("sbb"),
            F.sum(F.round(c * va * vb, 12).cast("decimal(28,12)"))
            .cast("double")
            .alias("sab"),
        )

    ev = fold(
        joined.where(F.col("y") == 1), F.col("va10"), F.col("vb10")
    )
    nv = fold(
        joined.where(F.col("y") == 0), F.col("va01"), F.col("vb01")
    ).select(
        F.col("sa").alias("nsa"),
        F.col("sb").alias("nsb"),
        F.col("saa").alias("nsaa"),
        F.col("sbb").alias("nsbb"),
        F.col("sab").alias("nsab"),
    )
    st = ev.crossJoin(F.broadcast(nv))
    n1 = F.col("n1").cast("double")
    n0 = F.col("n0").cast("double")
    auca = F.col("sa") / n1
    aucb = F.col("sb") / n1
    vd = (
        (
            (F.col("saa") - F.col("sa") * F.col("sa") / n1)
            + (F.col("sbb") - F.col("sb") * F.col("sb") / n1)
            - 2.0 * (F.col("sab") - F.col("sa") * F.col("sb") / n1)
        )
        / (n1 - 1.0)
        / n1
        + (
            (F.col("nsaa") - F.col("nsa") * F.col("nsa") / n0)
            + (F.col("nsbb") - F.col("nsb") * F.col("nsb") / n0)
            - 2.0
            * (F.col("nsab") - F.col("nsa") * F.col("nsb") / n0)
        )
        / (n0 - 1.0)
        / n0
    )
    return st.select(
        F.col("n1").alias("n_events"),
        F.col("n0").alias("n_nonevents"),
        (F.round(auca, 8) + 0.0).alias("auc_length_model"),
        (F.round(aucb, 8) + 0.0).alias("auc_source_model"),
        (F.round(aucb - auca, 8) + 0.0).alias("auc_diff"),
        (F.round(F.sqrt(vd), 8) + 0.0).alias("delong_se_diff"),
        (F.round((aucb - auca) / F.sqrt(vd), 6) + 0.0)
        .alias("delong_z"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "delong_auc_difference": (
            "bounded score-grid marginal cumulatives (the "
            "auc_delong_se class); joint grid <= ~130 cells"
        ),
    }
)


# --------------------------------------------------------------------------
# Bangdiwala's B agreement statistic on the paired modal buckets
# --------------------------------------------------------------------------
@register(
    "bangdiwala_b_agreement",
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
    marg AS (
        SELECT cat,
               CAST(COALESCE(SUM(CASE WHEN side = 'r' THEN n END), 0)
                    AS BIGINT) AS r,
               CAST(COALESCE(SUM(CASE WHEN side = 'c' THEN n END), 0)
                    AS BIGINT) AS k,
               CAST(COALESCE(SUM(CASE WHEN side = 'd' THEN n END), 0)
                    AS BIGINT) AS d
        FROM (
            SELECT before_b AS cat, 'r' AS side, n FROM cnt
            UNION ALL
            SELECT after_b, 'c', n FROM cnt
            UNION ALL
            SELECT before_b, 'd', n FROM cnt WHERE before_b = after_b
        ) GROUP BY cat
    ),
    fold AS (
        SELECT CAST(SUM(r) AS BIGINT) AS n,
               CAST(SUM(CAST(d AS DECIMAL(38,0)) * d)
                    AS DECIMAL(38,0)) AS sdd,
               CAST(SUM(CAST(r AS DECIMAL(38,0)) * k)
                    AS DECIMAL(38,0)) AS srk,
               CAST(SUM(d) AS BIGINT) AS sd
        FROM marg
    )
    SELECT n AS n_users,
           round(CAST(sd AS DOUBLE) / n, 8) + 0.0
               AS raw_agreement,
           round(CAST(sdd AS DOUBLE) / CAST(srk AS DOUBLE), 8)
               + 0.0 AS bangdiwala_b
    FROM fold
    """,
)
def bangdiwala_b_agreement(spark, sf_dir):
    """BANGDIWALA'S B agreement statistic on the `stuart_maxwell_
    test` paired modal-bucket frame: B = sum n_ii^2 / sum (R_i C_i)
    — the area of the observed agreement squares over the area of
    the maximum-agreement rectangles in the Bangdiwala agreement
    chart — the GEOMETRIC second opinion to the chance-corrected
    kappa family (`cohens_kappa_agreement`, `gwet_ac1_agreement`,
    `krippendorff_alpha_binary`): B needs NO chance model at all
    (the kappa paradox — high raw agreement with low kappa under
    skewed margins — cannot touch it), while raw agreement ships
    beside it as the naive floor; Bangdiwala-vs-kappa disagreement
    is precisely the margin-imbalance diagnostic. Completes the
    marginal-homogeneity story on this frame (Stuart-Maxwell and
    Bhapkar test the MARGINS; B measures the DIAGONAL).

    Exactness: all 9 cells, margins, and diagonal counts are exact
    BIGINTs off the shared user-grain modal pick; the two quadratic
    sums widen through DECIMAL(38,0); B is one integer-ratio
    division. Plan: user rollup -> modal rank (user-partitioned) ->
    user self-join -> 3-row margin rollup -> scalar; no global
    window."""
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
        .persist()
    )
    r = cnt.groupBy(F.col("before_b").alias("cat")).agg(
        F.sum("n").cast("bigint").alias("r")
    )
    k = cnt.groupBy(F.col("after_b").alias("cat")).agg(
        F.sum("n").cast("bigint").alias("k")
    )
    dg = (
        cnt.where(F.col("before_b") == F.col("after_b"))
        .groupBy(F.col("before_b").alias("cat"))
        .agg(F.sum("n").cast("bigint").alias("d"))
    )
    marg = (
        r.join(k, "cat", "full_outer")
        .join(dg, "cat", "full_outer")
        .select(
            F.coalesce(F.col("r"), F.lit(0)).alias("r"),
            F.coalesce(F.col("k"), F.lit(0)).alias("k"),
            F.coalesce(F.col("d"), F.lit(0)).alias("d"),
        )
    )
    fold = marg.agg(
        F.sum("r").cast("bigint").alias("n"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d"))
        .cast("decimal(38,0)")
        .alias("sdd"),
        F.sum(F.col("r").cast("decimal(38,0)") * F.col("k"))
        .cast("decimal(38,0)")
        .alias("srk"),
        F.sum("d").cast("bigint").alias("sd"),
    )
    return fold.select(
        F.col("n").alias("n_users"),
        (
            F.round(F.col("sd").cast("double") / F.col("n"), 8) + 0.0
        ).alias("raw_agreement"),
        (
            F.round(
                F.col("sdd").cast("double")
                / F.col("srk").cast("double"),
                8,
            )
            + 0.0
        ).alias("bangdiwala_b"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "bangdiwala_b_agreement": (
            "user-partitioned modal rank only (the "
            "stuart_maxwell_test frame); 3-row margin rollup"
        ),
    }
)


# --------------------------------------------------------------------------
# Zero-truncated Poisson: unseen-user estimate from the count identity
# --------------------------------------------------------------------------
@register(
    "ztp_unseen_users",
    oracle="""
    WITH pu AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY user_id
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS u,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(CAST(x AS DECIMAL(38,0)) * (x - 1))
                    AS DECIMAL(38,0)) AS sxx1
        FROM pu
    ),
    lam AS (
        SELECT u, sx,
               round(CAST(sxx1 AS DOUBLE) / sx, 8) AS l
        FROM fold
    )
    SELECT u AS n_observed_users,
           round(l, 6) + 0.0 AS lambda_hat,
           round(CAST(u AS DOUBLE) / (1.0 - exp(-l)), 4) + 0.0
               AS n_total_users_est,
           round(CAST(u AS DOUBLE) / (1.0 - exp(-l)) - u, 4) + 0.0
               AS n_unseen_users_est,
           round(exp(-l), 8) + 0.0 AS p_zero_hat,
           round(CAST(sx AS DOUBLE) / u, 6) + 0.0
               AS mean_events_observed
    FROM lam
    """,
)
def ztp_unseen_users(spark, sf_dir):
    """ZERO-TRUNCATED POISSON estimate of the UNSEEN user population:
    users appear in the events table only if they fired >= 1 event —
    a real zero-truncation — and under Poisson activity the factorial
    -moment identity E[X(X-1)]/E[X] = lambda holds UNALTERED by the
    truncation (the zero class contributes nothing to either moment),
    so lambda_hat = sum x(x-1)/sum x needs no iteration; N_hat =
    U/(1 - e^-lambda) then prices the invisible zero class — the
    PARAMETRIC second opinion to `capture_recapture_lincoln` /
    `schnabel_capture_recapture` (which need repeat windows) and the
    user-side dual of `good_turing_vocab`'s unseen-mass estimate
    (which is distribution-free): parametric-vs-nonparametric unseen
    estimates disagreeing flags activity overdispersion, which
    `eb_gamma_poisson_rates` then models.

    Exactness: per-user counts exact; sum x(x-1) widens through
    DECIMAL(38,0); lambda pins at 8 dp before the shared exp; all
    readouts are terminal IEEE trees. Plan: one user rollup -> one
    fold; no window, no join."""
    e = t(spark, sf_dir, "events")
    pu = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    fold = pu.agg(
        F.count(F.lit(1)).cast("bigint").alias("u"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x").cast("decimal(38,0)") * (F.col("x") - 1))
        .cast("decimal(38,0)")
        .alias("sxx1"),
    )
    lam = F.round(
        F.col("sxx1").cast("double") / F.col("sx"), 8
    )
    nhat = F.col("u").cast("double") / (1.0 - F.exp(-lam))
    return fold.select(
        F.col("u").alias("n_observed_users"),
        (F.round(lam, 6) + 0.0).alias("lambda_hat"),
        (F.round(nhat, 4) + 0.0).alias("n_total_users_est"),
        (F.round(nhat - F.col("u"), 4) + 0.0)
        .alias("n_unseen_users_est"),
        (F.round(F.exp(-lam), 8) + 0.0).alias("p_zero_hat"),
        (
            F.round(F.col("sx").cast("double") / F.col("u"), 6) + 0.0
        ).alias("mean_events_observed"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "ztp_unseen_users": (
            "no window — user rollup + one fold"
        ),
    }
)


# --------------------------------------------------------------------------
# Lin's interacted regression adjustment for the A/B effect
# --------------------------------------------------------------------------
@register(
    "lin_interacted_adjustment",
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
               CAST(COALESCE(SUM(CASE WHEN d < split_d THEN v END),
                    CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS x,
               CAST(COALESCE(SUM(CASE WHEN d >= split_d THEN v END),
                    CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS y
        FROM days, bounds
        GROUP BY 1, 2
    ),
    g AS (
        SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(x, 2) AS DECIMAL(28,2)))
                    AS DOUBLE) AS sx,
               CAST(SUM(CAST(round(y, 2) AS DECIMAL(28,2)))
                    AS DOUBLE) AS sy,
               CAST(SUM(CAST(round(x * x, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS sxx,
               CAST(SUM(CAST(round(y * y, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS syy,
               CAST(SUM(CAST(round(x * y, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS sxy
        FROM per_user GROUP BY arm
    ),
    xbar AS (
        SELECT CAST(SUM(sx) AS DOUBLE) / SUM(n) AS xb FROM g
    ),
    fit AS (
        SELECT arm, n,
               sy / n AS ym, sx / n AS xm,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
               ((n * syy - sy * sy)
                - (n * sxy - sx * sy) * (n * sxy - sx * sy)
                  / (n * sxx - sx * sx))
               / (n * 1.0 * n) / (n - 2.0) * n AS mse_over_n
        FROM g
    ),
    wide AS (
        SELECT
          MAX(CASE WHEN arm = 1 THEN n END) AS n1,
          MAX(CASE WHEN arm = 0 THEN n END) AS n0,
          MAX(CASE WHEN arm = 1 THEN ym - b * (xm - xbar.xb) END)
              AS adj1,
          MAX(CASE WHEN arm = 0 THEN ym - b * (xm - xbar.xb) END)
              AS adj0,
          MAX(CASE WHEN arm = 1 THEN ym END) AS ym1,
          MAX(CASE WHEN arm = 0 THEN ym END) AS ym0,
          MAX(CASE WHEN arm = 1 THEN mse_over_n / n END) AS v1,
          MAX(CASE WHEN arm = 0 THEN mse_over_n / n END) AS v0
        FROM fit, xbar GROUP BY xbar.xb
    )
    SELECT CAST(n1 + n0 AS BIGINT) AS n_users,
           round(ym1 - ym0, 6) + 0.0 AS raw_diff,
           round(adj1 - adj0, 6) + 0.0 AS lin_adj_diff,
           round(sqrt(v1 + v0), 6) + 0.0 AS lin_se,
           round((adj1 - adj0) / sqrt(v1 + v0), 6) + 0.0 AS lin_z
    FROM wide
    """,
)
def lin_interacted_adjustment(spark, sf_dir):
    """LIN'S INTERACTED regression adjustment for the A/B effect on
    the `cuped_adjusted_ab` frame: fit y on the centered pre-period
    covariate SEPARATELY per arm and read the effect at the pooled
    covariate mean, tau = [ybar1 - b1(xbar1 - xbar)] - [ybar0 -
    b0(xbar0 - xbar)] — Lin (2013) showed the single-slope
    adjustment (CUPED's theta) can HURT precision under
    heterogeneous slopes while the interacted form never does
    asymptotically; b1 != b0 here is directly visible as
    adjustment-by-arm, and `post_stratified_ab_estimate` brackets
    it nonparametrically. SE is the large-n per-arm residual form
    sqrt(mse1/n1 + mse0/n0) (documented).

    Exactness: per-user x/y are exact DECIMAL(18,2) sums read as
    doubles; per-arm power sums round at 2/4 dp into DECIMAL folds;
    both arm fits and the combined estimate close in IEEE trees.
    Plan: user rollup -> 2-arm rollup -> scalar pivot; no
    window."""
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
            )
            .cast("double")
            .alias("x"),
            F.coalesce(
                F.sum(
                    F.when(F.col("d") >= F.col("split_d"), F.col("v"))
                ),
                F.lit(0).cast("decimal(18,2)"),
            )
            .cast("double")
            .alias("y"),
        )
        .select(
            ((F.col("user_id").cast("decimal(38,0)") * _KNUTH) % _M32 % 2)
            .cast("int")
            .alias("arm"),
            "x",
            "y",
        )
    )
    g = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round("x", 2).cast("decimal(28,2)"))
        .cast("double")
        .alias("sx"),
        F.sum(F.round("y", 2).cast("decimal(28,2)"))
        .cast("double")
        .alias("sy"),
        F.sum(F.round(F.col("x") * F.col("x"), 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.round(F.col("y") * F.col("y"), 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("syy"),
        F.sum(F.round(F.col("x") * F.col("y"), 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("sxy"),
    ).persist()
    xbar = g.agg(
        (F.sum("sx") / F.sum("n")).alias("xb")
    )
    n = F.col("n").cast("double")
    b = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    mse_over_n = (
        (
            (n * F.col("syy") - F.col("sy") * F.col("sy"))
            - (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            * (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        )
        / (n * n)
        / (n - 2.0)
        * n
    )
    fit = g.select(
        "arm",
        "n",
        (F.col("sy") / n).alias("ym"),
        (F.col("sx") / n).alias("xm"),
        b.alias("b"),
        mse_over_n.alias("mse_over_n"),
    )
    wide = fit.crossJoin(F.broadcast(xbar)).groupBy("xb").agg(
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(
            F.when(
                F.col("arm") == 1,
                F.col("ym") - F.col("b") * (F.col("xm") - F.col("xb")),
            )
        ).alias("adj1"),
        F.max(
            F.when(
                F.col("arm") == 0,
                F.col("ym") - F.col("b") * (F.col("xm") - F.col("xb")),
            )
        ).alias("adj0"),
        F.max(F.when(F.col("arm") == 1, F.col("ym"))).alias("ym1"),
        F.max(F.when(F.col("arm") == 0, F.col("ym"))).alias("ym0"),
        F.max(
            F.when(
                F.col("arm") == 1, F.col("mse_over_n") / F.col("n")
            )
        ).alias("v1"),
        F.max(
            F.when(
                F.col("arm") == 0, F.col("mse_over_n") / F.col("n")
            )
        ).alias("v0"),
    )
    se = F.sqrt(F.col("v1") + F.col("v0"))
    return wide.select(
        (F.col("n1") + F.col("n0")).cast("bigint").alias("n_users"),
        (F.round(F.col("ym1") - F.col("ym0"), 6) + 0.0)
        .alias("raw_diff"),
        (F.round(F.col("adj1") - F.col("adj0"), 6) + 0.0)
        .alias("lin_adj_diff"),
        (F.round(se, 6) + 0.0).alias("lin_se"),
        (
            F.round((F.col("adj1") - F.col("adj0")) / se, 6) + 0.0
        ).alias("lin_z"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "lin_interacted_adjustment": (
            "no window — user rollup + 2-arm rollup + scalar pivot "
            "(the cuped_adjusted_ab frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# BDS independence test (m = 2) on daily revenue
# --------------------------------------------------------------------------
@register(
    "bds_independence_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    emb AS (
        SELECT a.d, a.y AS y0, b.y AS y1
        FROM daily a JOIN daily b ON b.d = a.d + 1
    ),
    eps AS (
        SELECT CAST(floor(0.5 * sqrt(
                   (COUNT(*) * CAST(SUM(CAST(y0 AS DECIMAL(38,0))
                        * y0) AS DOUBLE)
                    - CAST(SUM(y0) AS DOUBLE) * SUM(y0))
                   / (COUNT(*) * (COUNT(*) - 1.0)))) AS BIGINT) AS e,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM emb
    ),
    rowc AS (
        SELECT i.d,
               CAST(SUM(CASE WHEN ABS(i.y0 - j.y0) <= eps.e
                             THEN 1 ELSE 0 END) AS BIGINT) AS nt,
               CAST(SUM(CASE WHEN ABS(i.y0 - j.y0) <= eps.e
                              AND ABS(i.y1 - j.y1) <= eps.e
                             THEN 1 ELSE 0 END) AS BIGINT) AS mt
        FROM emb i JOIN emb j ON i.d <> j.d, eps
        GROUP BY i.d
    ),
    fold AS (
        SELECT MAX(eps.n) AS n, MAX(eps.e) AS e,
               CAST(SUM(nt) AS BIGINT) AS snt,
               CAST(SUM(mt) AS BIGINT) AS smt,
               CAST(SUM(CAST(nt AS DECIMAL(38,0)) * (nt - 1))
                    AS DECIMAL(38,0)) AS snn1
        FROM rowc, eps
    ),
    stat AS (
        SELECT n, e,
               CAST(snt AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))
                   AS c1,
               CAST(smt AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))
                   AS c2,
               CAST(snn1 AS DOUBLE)
                   / (CAST(n AS DOUBLE) * (n - 1.0) * (n - 2.0)) AS k
        FROM fold
    )
    SELECT n AS n_embedded_days,
           e AS epsilon_cents,
           round(c1, 8) + 0.0 AS c1_corr_integral,
           round(c2, 8) + 0.0 AS c2_corr_integral,
           round(c2 - c1 * c1, 8) + 0.0 AS bds_numerator,
           round(sqrt(n * 1.0) * (c2 - c1 * c1)
                 / sqrt(4.0 * (k * k - 2.0 * k * c1 * c1
                               + c1 * c1 * c1 * c1)), 6) + 0.0
               AS bds_w
    FROM stat
    """,
)
def bds_independence_daily(spark, sf_dir):
    """BDS INDEPENDENCE test (embedding m = 2, epsilon = half the
    series sd, exact integer cents) on daily revenue: W = sqrt(N)
    (C2 - C1^2) / sigma with the correlation integrals C1, C2 from
    the bounded day-pair frame and sigma^2 = 4(k^2 - 2k C1^2 +
    C1^4) from the triple-closeness constant k = sum n_t(n_t-1) /
    (N(N-1)(N-2)) (n_t = the day's neighbor count, so NO triple
    join exists) — the residual-NONLINEARITY omnibus the series
    battery lacks: linear structure is removed by the lag tests,
    ARCH by McLeod-Li/Engle, but BDS rejects for ANY departure from
    iid (chaos, regime switching, nonlinear MA), which is exactly
    the "is there anything left" question after a pipeline
    deseasonalizes. Normalization MC-verified (W sd 1.04 at N =
    1200 under iid; the m = 2 variance simplifies to 4(k - C1^2)^2
    and the check pinned it).

    Exactness: epsilon is an exact integer floor of 0.5 sd from
    DECIMAL power sums, so every closeness comparison is
    integer-exact; row counts fold exactly, sum n(n-1) widens
    through DECIMAL(38,0); C1/C2/k/W close in IEEE trees. Plan:
    day rollup -> successor join -> bounded ~2.4k-row pairwise
    self-join (calendar-constant pair count, the sample_entropy
    device) -> per-day counts -> one fold."""
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
            .cast("bigint")
            .alias("d")
        )
        .agg(
            (F.sum(dec("o_totalprice", 18, 2)) * 100)
            .cast("bigint")
            .alias("y")
        )
    )
    b1 = daily.select(
        (F.col("d") - 1).alias("d"), F.col("y").alias("y1")
    )
    emb = (
        daily.withColumnRenamed("y", "y0").join(b1, "d").persist()
    )
    eps = emb.agg(
        F.floor(
            0.5
            * F.sqrt(
                (
                    F.count(F.lit(1))
                    * F.sum(
                        F.col("y0").cast("decimal(38,0)") * F.col("y0")
                    ).cast("double")
                    - F.sum("y0").cast("double") * F.sum("y0")
                )
                / (F.count(F.lit(1)) * (F.count(F.lit(1)) - 1.0))
            )
        )
        .cast("bigint")
        .alias("e"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    i = emb.select(
        F.col("d").alias("di"),
        F.col("y0").alias("i0"),
        F.col("y1").alias("i1"),
    )
    j = emb.select(
        F.col("d").alias("dj"),
        F.col("y0").alias("j0"),
        F.col("y1").alias("j1"),
    )
    close0 = F.abs(F.col("i0") - F.col("j0")) <= F.col("e")
    close1 = F.abs(F.col("i1") - F.col("j1")) <= F.col("e")
    rowc = (
        i.join(j, F.col("di") != F.col("dj"))
        .crossJoin(F.broadcast(eps))
        .groupBy("di")
        .agg(
            F.sum(close0.cast("long")).cast("bigint").alias("nt"),
            F.sum((close0 & close1).cast("long"))
            .cast("bigint")
            .alias("mt"),
        )
    )
    fold = rowc.crossJoin(F.broadcast(eps)).agg(
        F.max("n").alias("n"),
        F.max("e").alias("e"),
        F.sum("nt").cast("bigint").alias("snt"),
        F.sum("mt").cast("bigint").alias("smt"),
        F.sum(F.col("nt").cast("decimal(38,0)") * (F.col("nt") - 1))
        .cast("decimal(38,0)")
        .alias("snn1"),
    )
    n = F.col("n").cast("double")
    c1 = F.col("snt").cast("double") / (n * (n - 1))
    c2 = F.col("smt").cast("double") / (n * (n - 1))
    k = F.col("snn1").cast("double") / (n * (n - 1.0) * (n - 2.0))
    w = (
        F.sqrt(n)
        * (c2 - c1 * c1)
        / F.sqrt(
            4.0 * (k * k - 2.0 * k * c1 * c1 + c1 * c1 * c1 * c1)
        )
    )
    return fold.select(
        F.col("n").alias("n_embedded_days"),
        F.col("e").alias("epsilon_cents"),
        (F.round(c1, 8) + 0.0).alias("c1_corr_integral"),
        (F.round(c2, 8) + 0.0).alias("c2_corr_integral"),
        (F.round(c2 - c1 * c1, 8) + 0.0).alias("bds_numerator"),
        (F.round(w, 6) + 0.0).alias("bds_w"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "bds_independence_daily": (
            "bounded ~2.4k-row embedded pairwise self-join "
            "(calendar-constant — the sample_entropy device)"
        ),
    }
)


# --------------------------------------------------------------------------
# Vasicek m-spacing entropy test of normality on daily revenue
# --------------------------------------------------------------------------
@register(
    "vasicek_entropy_normality",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    srt AS (
        SELECT y, ROW_NUMBER() OVER (ORDER BY y, d) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM daily
    ),
    sp AS (
        SELECT n, i,
               GREATEST(COALESCE(LEAD(y, 50) OVER (ORDER BY i),
                        MAX(y) OVER ())
                        - COALESCE(LAG(y, 50) OVER (ORDER BY i),
                          MIN(y) OVER ()), 1) AS diff
        FROM srt
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s1,
               CAST(SUM(CAST(y AS DECIMAL(38,0)) * y)
                    AS DECIMAL(38,0)) AS s2
        FROM daily
    ),
    hfold AS (
        SELECT MAX(sp.n) AS n,
               CAST(SUM(CAST(round(ln(CAST(sp.diff AS DOUBLE)
                   / 100000.0 * sp.n / 100.0), 8)
                   AS DECIMAL(28,8))) AS DOUBLE) AS slh
        FROM sp
    )
    SELECT h.n AS n_days,
           round(h.slh / h.n, 6) + 0.0 AS vasicek_h_nats,
           round(exp(h.slh / h.n)
                 / sqrt((CAST(m.s2 AS DOUBLE)
                         - CAST(m.s1 AS DOUBLE) * m.s1 / m.n)
                        / m.n) * 100000.0, 6) + 0.0 AS vasicek_k,
           round(exp(h.slh / h.n)
                 / sqrt((CAST(m.s2 AS DOUBLE)
                         - CAST(m.s1 AS DOUBLE) * m.s1 / m.n)
                        / m.n) * 100000.0
                 / 4.132731354122493, 6) + 0.0
               AS k_over_normal_max
    FROM hfold h, mom m
    """,
)
def vasicek_entropy_normality(spark, sf_dir):
    """VASICEK m-SPACING entropy test of normality for daily revenue
    (m = 50): H = mean ln((n/2m)(x_(i+m) - x_(i-m))) over the
    value-sorted series (clamped endpoints, >= 1-cent spacing
    floor), K = exp(H)/sigma-hat — the MAXIMUM-ENTROPY
    characterization route: the normal uniquely maximizes entropy
    at fixed variance, so K <= sqrt(2*pi*e) = 4.132731354122493
    with equality ONLY at the normal, making `k_over_normal_max` a
    directly interpretable [0,1] normality score (Vasicek 1976) —
    beside the moment (JB), L-statistic (D'Agostino D),
    characterization (Lin-Mudholkar), EDF, energy, and correlation
    (Shapiro-Francia, same daily frame) routes, this is the
    seventh and final classical route, and H itself is the
    registry's first NONPARAMETRIC DIFFERENTIAL entropy reading
    (the discrete entropy battery cannot price a continuous law).

    Exactness: the sort/lead/lag run over the ~2.4k-row bounded
    calendar frame (the theta_method class); spacings are exact
    integer cents with a 1-cent floor (ties cannot produce ln 0);
    ln terms pin at 8 dp into a DECIMAL fold; sigma from exact
    DECIMAL power sums (population convention); kUSD rescale
    cancels in K. Plan: day rollup -> bounded sort windows -> two
    folds."""
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
            .cast("bigint")
            .alias("d")
        )
        .agg(
            (F.sum(dec("o_totalprice", 18, 2)) * 100)
            .cast("bigint")
            .alias("y")
        )
    )
    srt = daily.select(
        "y",
        F.row_number().over(Window.orderBy("y", "d")).alias("i"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("n"),
    )
    wi = Window.orderBy("i")
    wall = Window.partitionBy()
    diff = F.greatest(
        F.coalesce(F.lead("y", 50).over(wi), F.max("y").over(wall))
        - F.coalesce(F.lag("y", 50).over(wi), F.min("y").over(wall)),
        F.lit(1).cast("bigint"),
    )
    sp = srt.select("n", diff.alias("diff"))
    mom = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("nm"),
        F.sum("y").cast("bigint").alias("s1"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    hfold = sp.agg(
        F.max("n").alias("n"),
        F.sum(
            F.round(
                F.log(
                    F.col("diff").cast("double")
                    / 100000.0
                    * F.col("n")
                    / 100.0
                ),
                8,
            ).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("slh"),
    )
    out = hfold.crossJoin(F.broadcast(mom))
    h = F.col("slh") / F.col("n")
    sd_k = (
        F.sqrt(
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1")
                / F.col("nm")
            )
            / F.col("nm")
        )
        / 100000.0
    )
    k = F.exp(h) / sd_k
    return out.select(
        F.col("n").alias("n_days"),
        (F.round(h, 6) + 0.0).alias("vasicek_h_nats"),
        (F.round(k, 6) + 0.0).alias("vasicek_k"),
        (F.round(k / 4.132731354122493, 6) + 0.0)
        .alias("k_over_normal_max"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "vasicek_entropy_normality": (
            "bounded calendar-frame sort/lead/lag windows (the "
            "theta_method class)"
        ),
    }
)

# --------------------------------------------------------------------------
# Begg-Mazumdar rank-correlation publication-bias test
# --------------------------------------------------------------------------
@register(
    "begg_mazumdar_bias",
    oracle="""
    WITH 
    arm AS (
        SELECT c.c_nationkey AS nk,
               CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS urgent,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS s,
               CAST(SUM(CAST(CAST(CAST(o.o_totalprice AS DECIMAL(18,2))
                                  * 100 AS BIGINT)
                             AS DECIMAL(38,0))
                        * CAST(CAST(CAST(o.o_totalprice AS DECIMAL(18,2))
                                    * 100 AS BIGINT)
                               AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS ss
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    eff AS (
        SELECT u.nk,
               round((CAST(u.s AS DOUBLE) / u.n
                      - CAST(r.s AS DOUBLE) / r.n) / 100000.0, 8) AS y,
               round(((CAST(u.ss AS DOUBLE)
                       - CAST(u.s AS DOUBLE) * u.s / u.n)
                      / (u.n - 1) / u.n
                      + (CAST(r.ss AS DOUBLE)
                         - CAST(r.s AS DOUBLE) * r.s / r.n)
                        / (r.n - 1) / r.n) / 10000000000.0, 8) AS v
        FROM arm u JOIN arm r ON u.nk = r.nk
        WHERE u.urgent = 1 AND r.urgent = 0 AND u.n > 1 AND r.n > 1
    )
,
    s1 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(round(1.0 / v, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sw,
               CAST(SUM(CAST(round(y / v, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS swy
        FROM eff
    ),
    dev AS (
        SELECT eff.nk, eff.v,
               round((eff.y - s1.swy / s1.sw)
                     / sqrt(eff.v - 1.0 / s1.sw), 8) AS td
        FROM eff, s1
    ),
    pairs AS (
        SELECT CAST(SUM(CASE WHEN (a.td - b.td) * (a.v - b.v) > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS conc,
               CAST(SUM(CASE WHEN (a.td - b.td) * (a.v - b.v) < 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS disc
        FROM dev a JOIN dev b ON a.nk < b.nk
    )
    SELECT s1.k AS k_studies,
           round(CAST(p.conc - p.disc AS DOUBLE)
                 / (s1.k * (s1.k - 1.0) / 2.0), 8) + 0.0
               AS begg_tau,
           round((p.conc - p.disc)
                 / sqrt(s1.k * (s1.k - 1.0) * (2.0 * s1.k + 5.0)
                        / 18.0), 6) + 0.0 AS begg_z
    FROM pairs p, s1
""",
)
def begg_mazumdar_bias(spark, sf_dir):
    """BEGG-MAZUMDAR rank-correlation test for small-study bias on
    the 25-nation urgent-vs-routine effect frame (the
    `dersimonian_laird_meta` studies): Kendall correlation between
    the variance-stabilized deviates t_i = (y_i - mu_fixed)/
    sqrt(v_i - 1/sum w) and the variances v_i, z = (C - D)/
    sqrt(k(k-1)(2k+5)/18) — the NONPARAMETRIC second opinion to
    `egger_funnel_asymmetry`'s weighted regression intercept:
    Egger detects LINEAR funnel tilt and is fooled by a single
    high-variance study, Begg's rank form survives any monotone
    distortion; the pair agreeing is the funnel verdict, Egger
    firing alone points at influence rather than bias (which
    `meta_loo_sensitivity` then names).

    Exactness: effects/variances are the shared exact-fold frame
    (8-dp pins); the fixed-effect correction uses exact weighted
    folds; the deviate pins at 8 dp before the bounded 25-study
    pairwise count; tau and z are terminal IEEE trees. Plan: the
    effects frame -> scalar fold -> 300-pair bounded self-join ->
    one fold; no window."""
    from .common import nation_effects

    eff = nation_effects(spark, sf_dir).persist()
    s1 = eff.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.round(1.0 / F.col("v"), 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("sw"),
        F.sum(
            F.round(F.col("y") / F.col("v"), 8).cast("decimal(38,8)")
        )
        .cast("double")
        .alias("swy"),
    )
    dev = eff.crossJoin(F.broadcast(s1)).select(
        "nk",
        "v",
        F.round(
            (F.col("y") - F.col("swy") / F.col("sw"))
            / F.sqrt(F.col("v") - 1.0 / F.col("sw")),
            8,
        ).alias("td"),
        "k",
    )
    a = dev.select(
        F.col("nk").alias("na"),
        F.col("td").alias("ta"),
        F.col("v").alias("va"),
        "k",
    )
    b = dev.select(
        F.col("nk").alias("nb"),
        F.col("td").alias("tb"),
        F.col("v").alias("vb"),
    )
    prod = (F.col("ta") - F.col("tb")) * (F.col("va") - F.col("vb"))
    pairs = a.join(b, F.col("na") < F.col("nb")).agg(
        F.max("k").alias("k"),
        F.sum(F.when(prod > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("conc"),
        F.sum(F.when(prod < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("disc"),
    )
    kk = F.col("k").cast("double")
    cd = (F.col("conc") - F.col("disc")).cast("double")
    return pairs.select(
        F.col("k").alias("k_studies"),
        (F.round(cd / (kk * (kk - 1.0) / 2.0), 8) + 0.0)
        .alias("begg_tau"),
        (
            F.round(
                cd
                / F.sqrt(kk * (kk - 1.0) * (2.0 * kk + 5.0) / 18.0),
                6,
            )
            + 0.0
        ).alias("begg_z"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "begg_mazumdar_bias": (
            "no window — effects frame + 300-pair bounded "
            "self-join (the dersimonian_laird frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# Leave-one-out meta-analysis sensitivity
# --------------------------------------------------------------------------
@register(
    "meta_loo_sensitivity",
    oracle="""
    WITH 
    arm AS (
        SELECT c.c_nationkey AS nk,
               CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS urgent,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS s,
               CAST(SUM(CAST(CAST(CAST(o.o_totalprice AS DECIMAL(18,2))
                                  * 100 AS BIGINT)
                             AS DECIMAL(38,0))
                        * CAST(CAST(CAST(o.o_totalprice AS DECIMAL(18,2))
                                    * 100 AS BIGINT)
                               AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS ss
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    eff AS (
        SELECT u.nk,
               round((CAST(u.s AS DOUBLE) / u.n
                      - CAST(r.s AS DOUBLE) / r.n) / 100000.0, 8) AS y,
               round(((CAST(u.ss AS DOUBLE)
                       - CAST(u.s AS DOUBLE) * u.s / u.n)
                      / (u.n - 1) / u.n
                      + (CAST(r.ss AS DOUBLE)
                         - CAST(r.s AS DOUBLE) * r.s / r.n)
                        / (r.n - 1) / r.n) / 10000000000.0, 8) AS v
        FROM arm u JOIN arm r ON u.nk = r.nk
        WHERE u.urgent = 1 AND r.urgent = 0 AND u.n > 1 AND r.n > 1
    )
,
    s1 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(round(1.0 / v, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sw,
               CAST(SUM(CAST(round(y / v, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS swy
        FROM eff
    ),
    loo AS (
        SELECT eff.nk,
               round((s1.swy - round(eff.y / eff.v, 8))
                     / (s1.sw - round(1.0 / eff.v, 8)), 8) AS mu_loo
        FROM eff, s1
    ),
    ext AS (
        SELECT MAX(s1.k) AS k,
               MAX(s1.swy / s1.sw) AS mu_all,
               MIN(loo.mu_loo) AS mu_min,
               MAX(loo.mu_loo) AS mu_max
        FROM loo, s1
    ),
    who AS (
        SELECT
            (SELECT MIN(nk) FROM loo, ext
             WHERE loo.mu_loo = ext.mu_min) AS nk_min,
            (SELECT MIN(nk) FROM loo, ext
             WHERE loo.mu_loo = ext.mu_max) AS nk_max
    )
    SELECT e.k AS k_studies,
           round(e.mu_all, 6) + 0.0 AS mu_fixed_kusd,
           round(e.mu_min, 6) + 0.0 AS mu_loo_min_kusd,
           round(e.mu_max, 6) + 0.0 AS mu_loo_max_kusd,
           round(e.mu_max - e.mu_min, 6) + 0.0 AS loo_range_kusd,
           CAST(w.nk_min AS BIGINT) AS nation_at_min,
           CAST(w.nk_max AS BIGINT) AS nation_at_max
    FROM ext e, who w
    """,
)
def meta_loo_sensitivity(spark, sf_dir):
    """LEAVE-ONE-OUT sensitivity of the fixed-effect pooled
    urgent-vs-routine effect: mu_(-i) = (sum wy - w_i y_i)/(sum w -
    w_i) for each of the 25 nations, with the extremes, their range,
    and WHICH nation sits at each end (min-nk tie-break) — the
    influence second opinion to `dersimonian_laird_meta`'s pooled
    numbers and the resolver for `egger_funnel_asymmetry` /
    `begg_mazumdar_bias` disagreement: a LOO range that collapses
    when one nation drops out is single-study leverage, not
    systematic bias. Every deleted pool is closed-form off the two
    weighted totals, so the whole sensitivity analysis is one
    broadcast pass over 25 rows.

    Exactness: the shared exact-fold effects frame; weighted totals
    at 8-dp pins; each mu_loo subtracts the SAME 8-dp-rounded terms
    that entered the totals (exact cancellation by construction);
    extremes and argmins are exact. Plan: effects frame -> scalar
    fold -> 25-row broadcast pass -> two folds; no window."""
    from .common import nation_effects

    eff = nation_effects(spark, sf_dir).persist()
    s1 = eff.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.round(1.0 / F.col("v"), 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("sw"),
        F.sum(
            F.round(F.col("y") / F.col("v"), 8).cast("decimal(38,8)")
        )
        .cast("double")
        .alias("swy"),
    )
    loo = eff.crossJoin(F.broadcast(s1)).select(
        "nk",
        "k",
        (F.col("swy") / F.col("sw")).alias("mu_all"),
        F.round(
            (F.col("swy") - F.round(F.col("y") / F.col("v"), 8))
            / (F.col("sw") - F.round(1.0 / F.col("v"), 8)),
            8,
        ).alias("mu_loo"),
    ).persist()
    ext = loo.agg(
        F.max("k").alias("k"),
        F.max("mu_all").alias("mu_all"),
        F.min("mu_loo").alias("mu_min"),
        F.max("mu_loo").alias("mu_max"),
    )
    j = loo.crossJoin(F.broadcast(ext))
    who = j.agg(
        F.min(
            F.when(F.col("mu_loo") == F.col("mu_min"), F.col("nk"))
        ).alias("nk_min"),
        F.min(
            F.when(F.col("mu_loo") == F.col("mu_max"), F.col("nk"))
        ).alias("nk_max"),
    )
    return ext.crossJoin(F.broadcast(who)).select(
        F.col("k").alias("k_studies"),
        (F.round("mu_all", 6) + 0.0).alias("mu_fixed_kusd"),
        (F.round("mu_min", 6) + 0.0).alias("mu_loo_min_kusd"),
        (F.round("mu_max", 6) + 0.0).alias("mu_loo_max_kusd"),
        (F.round(F.col("mu_max") - F.col("mu_min"), 6) + 0.0)
        .alias("loo_range_kusd"),
        F.col("nk_min").cast("bigint").alias("nation_at_min"),
        F.col("nk_max").cast("bigint").alias("nation_at_max"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "meta_loo_sensitivity": (
            "no window — effects frame + 25-row broadcast LOO pass"
        ),
    }
)


# --------------------------------------------------------------------------
# Hausman specification test: OLS vs the Fri/Sat-IV estimate
# --------------------------------------------------------------------------
@register(
    "hausman_ols_vs_iv",
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
    ols AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
               SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
               SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
        FROM daily
    ),
    bols AS (
        SELECT n,
               (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
               / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                   AS b,
               ((n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)
                - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                  * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                  / (n * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * sx)) / n / (n - 2.0)
               / ((n * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * sx) / n) AS vb
        FROM ols
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
        SELECT SUM(CASE WHEN z = 1 THEN yb END)
                 - SUM(CASE WHEN z = 0 THEN yb END) AS aa,
               SUM(CASE WHEN z = 1 THEN xb END)
                 - SUM(CASE WHEN z = 0 THEN xb END) AS bb,
               SUM(vx) AS svx, SUM(vy) AS svy, SUM(vxy) AS svxy
        FROM v
    ),
    iv AS (
        SELECT aa / bb AS biv,
               (svy - 2.0 * (aa / bb) * svxy
                + (aa / bb) * (aa / bb) * svx) / (bb * bb) AS viv
        FROM wide
    )
    SELECT bols.n AS n_days,
           round(bols.b / 100.0, 6) + 0.0 AS ols_value_per_event,
           round(iv.biv / 100.0, 6) + 0.0 AS iv_value_per_event,
           round((iv.biv - bols.b) / 100.0, 6) + 0.0 AS estimate_gap,
           round(CASE WHEN iv.viv > bols.vb
                 THEN (iv.biv - bols.b) * (iv.biv - bols.b)
                      / (iv.viv - bols.vb) END, 6) + 0.0
               AS hausman_chi2,
           CAST(CASE WHEN iv.viv > bols.vb
                      AND (iv.biv - bols.b) * (iv.biv - bols.b)
                          / (iv.viv - bols.vb) > 3.841459
                     THEN 1 ELSE 0 END AS INT)
               AS endogeneity_at_5pct
    FROM bols, iv
    """,
)
def hausman_ols_vs_iv(spark, sf_dir):
    """HAUSMAN specification test between the OLS value-per-event
    slope (daily revenue on daily volume) and the Fri/Sat-IV
    estimate (`iv_wald_weekend`'s estimand with a delta-method
    variance): H = (b_IV - b_OLS)^2 / (V_IV - V_OLS) ~ chi2_1 under
    exogeneity — the test that DECIDES between the two registry
    estimators instead of leaving them side by side: OLS is
    efficient if volume is exogenous, the IV is consistent either
    way, so H rejecting says the OLS slope is contaminated
    (demand shocks moving both volume and ticket size) and the IV
    column is the one to ship. NULL when V_IV <= V_OLS (the
    finite-sample Hausman pathology, documented — also itself a
    near-exogeneity signal).

    Exactness: both estimators come from the same exact
    integer/DECIMAL(38,0) daily folds (the iv_wald /
    anderson_rubin trees); the delta-method IV variance uses the
    pooled group mean-variances; H closes in one guarded IEEE
    expression. Plan: day rollup -> one scalar OLS fold + one
    2-group fold -> scalar algebra; no window."""
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
    ).persist()
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    ols = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"),
    )
    n = F.col("n").cast("double")
    cxx = n * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx")
    cyy = n * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy")
    cxy = n * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    b = cxy / cxx
    vb = (cyy - cxy * cxy / cxx) / n / (n - 2.0) / (cxx / n)
    bols = ols.select("n", b.alias("b"), vb.alias("vb"))
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
    biv = F.col("aa") / F.col("bb")
    viv = (
        F.col("svy") - 2.0 * biv * F.col("svxy") + biv * biv * F.col("svx")
    ) / (F.col("bb") * F.col("bb"))
    iv = wide.select(biv.alias("biv"), viv.alias("viv"))
    out = bols.crossJoin(F.broadcast(iv))
    gap = F.col("biv") - F.col("b")
    h = F.when(
        F.col("viv") > F.col("vb"),
        gap * gap / (F.col("viv") - F.col("vb")),
    )
    return out.select(
        F.col("n").alias("n_days"),
        (F.round(F.col("b") / 100.0, 6) + 0.0)
        .alias("ols_value_per_event"),
        (F.round(F.col("biv") / 100.0, 6) + 0.0)
        .alias("iv_value_per_event"),
        (F.round(gap / 100.0, 6) + 0.0).alias("estimate_gap"),
        (F.round(h, 6) + 0.0).alias("hausman_chi2"),
        F.when(h > 3.841459, 1).otherwise(0).cast("int")
        .alias("endogeneity_at_5pct"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "hausman_ols_vs_iv": (
            "no window — day rollup + scalar OLS/IV folds (the "
            "iv_wald_weekend frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# Duan smearing retransformation of the log-linear revenue trend
# --------------------------------------------------------------------------
@register(
    "duan_smearing_retransform",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS day,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    lnf AS (
        SELECT day, y,
               round(ln(CAST(y AS DOUBLE) / 100000.0), 8) AS ly
        FROM daily
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(day) AS BIGINT) AS sd,
               CAST(SUM(CAST(round(ly, 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS sl,
               CAST(SUM(day * day) AS BIGINT) AS sdd,
               CAST(SUM(CAST(round(day * ly, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS sdl,
               CAST(SUM(CAST(round(ly * ly, 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS sll
        FROM lnf
    ),
    beta AS (
        SELECT n,
               (n * sdl - sd * sl)
                 / (n * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd)
                   AS b,
               (sl - (n * sdl - sd * sl)
                     / (n * CAST(sdd AS DOUBLE)
                        - CAST(sd AS DOUBLE) * sd) * sd) / n AS a,
               ((n * sll - sl * sl)
                - (n * sdl - sd * sl) * (n * sdl - sd * sl)
                  / (n * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd))
                 / n / (n - 2.0) AS s2
        FROM fit
    ),
    sm AS (
        SELECT b.n, b.s2,
               CAST(SUM(CAST(round(exp(round(l.ly
                   - (b.a + b.b * l.day), 8)), 8)
                   AS DECIMAL(28,8))) AS DOUBLE) AS ssm,
               CAST(SUM(CAST(round(exp(round(b.a + b.b * l.day, 8)),
                   6) AS DECIMAL(38,6))) AS DOUBLE) AS spred,
               CAST(SUM(CAST(round(CAST(l.y AS DOUBLE) / 100000.0,
                   6) AS DECIMAL(38,6))) AS DOUBLE) AS sact
        FROM lnf l, beta b
        GROUP BY b.n, b.s2
    )
    SELECT n AS n_days,
           round(ssm / n, 8) + 0.0 AS duan_smearing_factor,
           round(exp(s2 / 2.0), 8) + 0.0 AS normal_theory_factor,
           round(spred * (ssm / n) / sact, 8) + 0.0
               AS pred_over_actual_duan,
           round(spred * exp(s2 / 2.0) / sact, 8) + 0.0
               AS pred_over_actual_normal,
           round(spred / sact, 8) + 0.0
               AS pred_over_actual_naive
    FROM sm
    """,
)
def duan_smearing_retransform(spark, sf_dir):
    """DUAN'S SMEARING retransformation audit for the log-linear
    daily-revenue trend: fit ln y = a + b day, then compare the
    three back-transformations of the fitted GEOMETRIC mean — naive
    exp(a + b d) (biased low), the lognormal-theory correction
    exp(s^2/2), and Duan's nonparametric smearing factor S = mean
    exp(e_i) (consistent under ANY error law) — each scored as
    total predicted / total actual revenue. The retransformation
    bias every exp(ln-model) silently carries is priced by
    `pred_over_actual_naive` < 1, and Duan-vs-normal disagreement
    measures residual non-lognormality — the modeling-side second
    opinion to the lognormal GoF battery (CvM/AD/energy tell you IT
    ISN'T lognormal; this tells you how many DOLLARS that costs a
    forecast).

    Exactness: ln y pins at 8 dp; the OLS fit is the shared exact
    fold tree; residuals pin at 8 dp before exp; the smearing,
    prediction, and actual folds are rounded-term DECIMAL sums.
    Plan: day rollup -> OLS fold -> broadcast-scalar residual pass
    -> one fold; no window."""
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
            .cast("bigint")
            .alias("day")
        )
        .agg(
            (F.sum(dec("o_totalprice", 18, 2)) * 100)
            .cast("bigint")
            .alias("y")
        )
    )
    lnf = daily.select(
        "day",
        "y",
        F.round(
            F.log(F.col("y").cast("double") / 100000.0), 8
        ).alias("ly"),
    )
    fit = lnf.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("day").cast("bigint").alias("sd"),
        F.sum(F.round("ly", 8).cast("decimal(28,8)"))
        .cast("double")
        .alias("sl"),
        F.sum(F.col("day") * F.col("day")).cast("bigint").alias("sdd"),
        F.sum(
            F.round(F.col("day") * F.col("ly"), 6).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("sdl"),
        F.sum(
            F.round(F.col("ly") * F.col("ly"), 8).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("sll"),
    )
    n = F.col("n").cast("double")
    cdd = n * F.col("sdd").cast("double") - F.col("sd").cast(
        "double"
    ) * F.col("sd")
    cdl = n * F.col("sdl") - F.col("sd").cast("double") * F.col("sl")
    cll = n * F.col("sll") - F.col("sl") * F.col("sl")
    b = cdl / cdd
    beta = fit.select(
        "n",
        b.alias("b"),
        ((F.col("sl") - b * F.col("sd")) / n).alias("a"),
        ((cll - cdl * cdl / cdd) / n / (n - 2.0)).alias("s2"),
    )
    j = lnf.crossJoin(F.broadcast(beta))
    resid = F.round(
        F.col("ly") - (F.col("a") + F.col("b") * F.col("day")), 8
    )
    pred = F.round(F.exp(F.round(F.col("a") + F.col("b") * F.col("day"), 8)), 6)
    sm = j.groupBy("n", "s2").agg(
        F.sum(F.round(F.exp(resid), 8).cast("decimal(28,8)"))
        .cast("double")
        .alias("ssm"),
        F.sum(pred.cast("decimal(38,6)"))
        .cast("double")
        .alias("spred"),
        F.sum(
            F.round(F.col("y").cast("double") / 100000.0, 6).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("sact"),
    )
    nn = F.col("n").cast("double")
    duan = F.col("ssm") / nn
    norm = F.exp(F.col("s2") / 2.0)
    return sm.select(
        F.col("n").alias("n_days"),
        (F.round(duan, 8) + 0.0).alias("duan_smearing_factor"),
        (F.round(norm, 8) + 0.0).alias("normal_theory_factor"),
        (
            F.round(F.col("spred") * duan / F.col("sact"), 8) + 0.0
        ).alias("pred_over_actual_duan"),
        (
            F.round(F.col("spred") * norm / F.col("sact"), 8) + 0.0
        ).alias("pred_over_actual_normal"),
        (F.round(F.col("spred") / F.col("sact"), 8) + 0.0)
        .alias("pred_over_actual_naive"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "duan_smearing_retransform": (
            "no window — day rollup + OLS fold + broadcast residual "
            "pass"
        ),
    }
)


# --------------------------------------------------------------------------
# Cox calibration slope/intercept via out-of-sample grouped WLS
# --------------------------------------------------------------------------
@register(
    "cox_calibration_wls",
    oracle="""
    WITH docs AS (
        SELECT doc_id, source,
               CAST(floor(ln(CAST(n_chars AS DOUBLE)) / ln(2.0))
                    AS BIGINT) AS oct,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
               CAST(doc_id % 2 AS INT) AS fold
        FROM documents WHERE n_chars > 0
    ),
    train AS (
        SELECT oct,
               round((SUM(y) + 0.5) / (COUNT(*) + 1.0), 10) AS p
        FROM docs WHERE fold = 0 GROUP BY oct
    ),
    ev AS (
        SELECT d.oct, train.p,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(d.y) AS BIGINT) AS x
        FROM docs d JOIN train ON d.oct = train.oct
        WHERE d.fold = 1
        GROUP BY d.oct, train.p
    ),
    el AS (
        SELECT round(ln(p / (1.0 - p)), 10) AS lp,
               round(ln((x + 0.5) / (n - x + 0.5)), 10) AS lo,
               round(CAST(n AS DOUBLE) * (CAST(x AS DOUBLE) / n)
                     * (1.0 - CAST(x AS DOUBLE) / n)
                     + 0.000001, 8) AS w,
               n
        FROM ev
    ),
    fold_ AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nt,
               CAST(SUM(CAST(round(w, 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS sw,
               CAST(SUM(CAST(round(w * lp, 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS swx,
               CAST(SUM(CAST(round(w * lp * lp, 8)
                    AS DECIMAL(28,8))) AS DOUBLE) AS swxx,
               CAST(SUM(CAST(round(w * lo, 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS swl,
               CAST(SUM(CAST(round(w * lp * lo, 8)
                    AS DECIMAL(28,8))) AS DOUBLE) AS swxl
        FROM el
    )
    SELECT nt AS n_eval_docs,
           round((sw * swxl - swx * swl)
                 / (sw * swxx - swx * swx), 8) + 0.0
               AS calibration_slope,
           round((swl - (sw * swxl - swx * swl)
                        / (sw * swxx - swx * swx) * swx) / sw, 8)
               + 0.0 AS calibration_intercept,
           round(((sw * swxl - swx * swl)
                  / (sw * swxx - swx * swx) - 1.0)
                 / sqrt(sw / (sw * swxx - swx * swx)), 6) + 0.0
               AS slope_vs_one_z
    FROM fold_
    """,
)
def cox_calibration_wls(spark, sf_dir):
    """COX CALIBRATION slope and intercept for the length-octave
    language model, OUT OF SAMPLE: octave en-rates train on even
    doc_ids (+0.5/+1 smoothing), and the odd half's observed
    empirical logits regress on the predicted logits by grouped WLS
    (the `berkson_logit_wls` device, information weights + 1e-6
    floor) — Cox (1958) recalibration, slope 1 / intercept 0 =
    calibrated, slope < 1 = the overfitting signature
    (predictions too extreme). The REGRESSION-form second opinion
    to `hosmer_lemeshow_calibration` (binned chi2),
    `spiegelhalter_z_calibration` (score z), and
    `ece_mce_calibration` (bin gaps): those say WHETHER calibration
    fails; the Cox pair says in WHICH DIRECTION and by how much,
    and the parity split makes it the only out-of-sample member of
    the battery. `slope_vs_one_z` tests slope = 1 with the exact
    WLS standard error.

    Exactness: train rates and both logits pin at 10 dp on the
    bounded octave grid; weights at 8 dp; the five WLS folds are
    rounded-term DECIMAL sums; slope/intercept/z close in IEEE
    trees. Plan: doc scan -> per-fold octave rollups -> broadcast
    join -> one fold; no window."""
    d = (
        t(spark, sf_dir, "documents")
        .where(F.col("n_chars") > 0)
        .select(
            F.floor(
                F.log(F.col("n_chars").cast("double"))
                / F.log(F.lit(2.0))
            )
            .cast("bigint")
            .alias("oct"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
            (F.col("doc_id") % 2).cast("int").alias("fold"),
        )
    )
    train = (
        d.where(F.col("fold") == 0)
        .groupBy("oct")
        .agg(
            F.round(
                (F.sum("y") + 0.5) / (F.count(F.lit(1)) + 1.0), 10
            ).alias("p")
        )
    )
    ev = (
        d.where(F.col("fold") == 1)
        .join(F.broadcast(train), "oct")
        .groupBy("oct", "p")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("x"),
        )
    )
    pr = F.col("x").cast("double") / F.col("n")
    el = ev.select(
        F.round(F.log(F.col("p") / (1.0 - F.col("p"))), 10).alias("lp"),
        F.round(
            F.log(
                (F.col("x") + 0.5) / (F.col("n") - F.col("x") + 0.5)
            ),
            10,
        ).alias("lo"),
        F.round(
            F.col("n") * pr * (1.0 - pr) + 0.000001, 8
        ).alias("w"),
        "n",
    )
    fold_ = el.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum(F.round("w", 8).cast("decimal(28,8)"))
        .cast("double")
        .alias("sw"),
        F.sum(
            F.round(F.col("w") * F.col("lp"), 8).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("swx"),
        F.sum(
            F.round(
                F.col("w") * F.col("lp") * F.col("lp"), 8
            ).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("swxx"),
        F.sum(
            F.round(F.col("w") * F.col("lo"), 8).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("swl"),
        F.sum(
            F.round(
                F.col("w") * F.col("lp") * F.col("lo"), 8
            ).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("swxl"),
    )
    sxx_w = F.col("sw") * F.col("swxx") - F.col("swx") * F.col("swx")
    b = (
        F.col("sw") * F.col("swxl") - F.col("swx") * F.col("swl")
    ) / sxx_w
    a = (F.col("swl") - b * F.col("swx")) / F.col("sw")
    se_b = F.sqrt(F.col("sw") / sxx_w)
    return fold_.select(
        F.col("nt").alias("n_eval_docs"),
        (F.round(b, 8) + 0.0).alias("calibration_slope"),
        (F.round(a, 8) + 0.0).alias("calibration_intercept"),
        (F.round((b - 1.0) / se_b, 6) + 0.0).alias("slope_vs_one_z"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "cox_calibration_wls": (
            "no window — per-fold octave rollups + broadcast join "
            "(the berkson_logit device)"
        ),
    }
)


# --------------------------------------------------------------------------
# Local Moran (LISA) per nation under region-block weights
# --------------------------------------------------------------------------
@register(
    "local_moran_lisa",
    oracle="""
    WITH natz AS (
        SELECT c_nationkey AS nk,
               n.n_regionkey AS rk,
               round(CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2))
                                   * 100 AS BIGINT)) AS DOUBLE)
                     / COUNT(*) / 100.0, 6) AS z
        FROM customer JOIN nation n ON c_nationkey = n.n_nationkey
        GROUP BY c_nationkey, n.n_regionkey
    ),
    mu AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(z AS DECIMAL(38,6))) AS DOUBLE)
                   / COUNT(*) AS zbar
        FROM natz
    ),
    dev AS (
        SELECT nk, rk, n,
               round(z - zbar, 6) AS d
        FROM natz, mu
    ),
    m2 AS (
        SELECT CAST(SUM(CAST(round(d * d, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) / MAX(n) AS m2v
        FROM dev
    ),
    lag_ AS (
        SELECT a.nk, a.d, a.n,
               CAST(COUNT(b.nk) AS BIGINT) AS deg,
               CAST(SUM(CAST(round(b.d, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS lagsum
        FROM dev a JOIN dev b
          ON a.rk = b.rk AND a.nk <> b.nk
        GROUP BY a.nk, a.d, a.n
    )
    SELECT l.nk AS nation,
           round(l.d, 4) + 0.0 AS deviation_usd,
           round(l.lagsum / l.deg, 4) + 0.0 AS spatial_lag_usd,
           round(l.d * l.lagsum / m2.m2v, 6) + 0.0 AS local_i,
           round(-CAST(l.deg AS DOUBLE) / (l.n - 1), 6) + 0.0
               AS expected_null,
           CASE WHEN l.d >= 0 AND l.lagsum >= 0 THEN 'HH'
                WHEN l.d < 0 AND l.lagsum < 0 THEN 'LL'
                WHEN l.d >= 0 THEN 'HL' ELSE 'LH' END AS quadrant
    FROM lag_ l, m2
    ORDER BY nation
    """,
)
def local_moran_lisa(spark, sf_dir):
    """LOCAL MORAN (Anselin's LISA) per nation under the region-
    block contiguity weights of `morans_i_nations`: I_i = d_i *
    sum_j w_ij d_j / m2 with the Moran scatter quadrant (HH/LL =
    cluster, HL/LH = outlier) and the conditional null expectation
    -deg_i/(n-1) — the WHERE answer to the global statistic's
    WHETHER: a significant global I driven by one HH region is a
    different business fact from diffuse clustering, and Anselin's
    decomposition identity (sum of local I's proportional to the
    global) ties the 25 rows back to the one-number readout
    exactly. The spatial lag ships in dollars beside each
    deviation so the quadrant is auditable by eye.

    Exactness: nation means are the shared exact-fold frame (6-dp
    pins); deviations, the m2 fold, and per-nation lag sums are
    rounded-term DECIMAL sums over the bounded 25-node block graph;
    local I closes per row. Plan: customer rollup -> 25-row block
    self-join -> per-nation fold; no window."""
    from .bank_r14 import _natz

    natz = _natz(spark, sf_dir)
    mu = natz.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.sum(F.col("z").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("zbar"),
    )
    dev = natz.crossJoin(F.broadcast(mu)).select(
        "nk",
        "rk",
        "n",
        F.round(F.col("z") - F.col("zbar"), 6).alias("d"),
    ).persist()
    m2 = dev.agg(
        (
            F.sum(
                F.round(F.col("d") * F.col("d"), 6).cast(
                    "decimal(38,6)"
                )
            ).cast("double")
            / F.max("n")
        ).alias("m2v")
    )
    a = dev.select(
        F.col("nk").alias("ank"),
        F.col("rk").alias("ark"),
        F.col("d").alias("ad"),
        F.col("n").alias("an"),
    )
    b = dev.select(
        F.col("nk").alias("bnk"),
        F.col("rk").alias("brk"),
        F.col("d").alias("bd"),
    )
    lag_ = (
        a.join(
            F.broadcast(b),
            (F.col("ark") == F.col("brk"))
            & (F.col("ank") != F.col("bnk")),
        )
        .groupBy("ank", "ad", "an")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("deg"),
            F.sum(F.round("bd", 6).cast("decimal(38,6)"))
            .cast("double")
            .alias("lagsum"),
        )
    )
    out = lag_.crossJoin(F.broadcast(m2))
    return out.select(
        F.col("ank").alias("nation"),
        (F.round("ad", 4) + 0.0).alias("deviation_usd"),
        (F.round(F.col("lagsum") / F.col("deg"), 4) + 0.0)
        .alias("spatial_lag_usd"),
        (
            F.round(
                F.col("ad") * F.col("lagsum") / F.col("m2v"), 6
            )
            + 0.0
        ).alias("local_i"),
        (
            F.round(
                -F.col("deg").cast("double") / (F.col("an") - 1), 6
            )
            + 0.0
        ).alias("expected_null"),
        F.when(
            (F.col("ad") >= 0) & (F.col("lagsum") >= 0), "HH"
        )
        .when((F.col("ad") < 0) & (F.col("lagsum") < 0), "LL")
        .when(F.col("ad") >= 0, "HL")
        .otherwise("LH")
        .alias("quadrant"),
    ).orderBy("nation")


PLAN_AUDIT_NOTES.update(
    {
        "local_moran_lisa": (
            "no window — 25-node block self-join (the "
            "morans_i_nations frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# Sargan overidentification J test for the two-instrument 2SLS
# --------------------------------------------------------------------------
@register(
    "sargan_overid_test",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CASE WHEN (epoch_us(ts) // 86400000000 + 4) % 7 >= 5
                    THEN 1 ELSE 0 END AS z1,
               CASE WHEN date_part('day', MIN(ts)) <= 15
                    THEN 1 ELSE 0 END AS z2,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(z1) AS BIGINT) AS s1,
               CAST(SUM(z2) AS BIGINT) AS s2_,
               CAST(SUM(z1 * z2) AS BIGINT) AS s12,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(z1 * x) AS BIGINT) AS s1x,
               CAST(SUM(z2 * x) AS BIGINT) AS s2x,
               SUM(CAST(z1 AS DECIMAL(38,0)) * y) AS s1y,
               SUM(CAST(z2 AS DECIMAL(38,0)) * y) AS s2y,
               SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
               SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
               SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
        FROM daily
    ),
    cen AS (
        SELECT n,
               s1 - CAST(s1 AS DOUBLE) * s1 / n AS a11,
               s12 - CAST(s1 AS DOUBLE) * s2_ / n AS a12,
               s2_ - CAST(s2_ AS DOUBLE) * s2_ / n AS a22,
               s1x - CAST(s1 AS DOUBLE) * sx / n AS b1x,
               s2x - CAST(s2_ AS DOUBLE) * sx / n AS b2x,
               CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * sy / n
                   AS b1y,
               CAST(s2y AS DOUBLE) - CAST(s2_ AS DOUBLE) * sy / n
                   AS b2y,
               CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n
                   AS cxx,
               CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n
                   AS cyy,
               CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n
                   AS cxy
        FROM fold
    ),
    q AS (
        SELECT n, cxx, cyy, cxy, a11, a12, a22, b1x, b2x, b1y, b2y,
               a11 * a22 - a12 * a12 AS det,
               (b1x * (a22 * b1x - a12 * b2x)
                + b2x * (a11 * b2x - a12 * b1x))
               / (a11 * a22 - a12 * a12) AS qxx,
               (b1x * (a22 * b1y - a12 * b2y)
                + b2x * (a11 * b2y - a12 * b1y))
               / (a11 * a22 - a12 * a12) AS qxy
        FROM cen
    ),
    st AS (
        SELECT n, det, qxx, cxx,
               qxy / qxx AS b,
               cyy - 2.0 * (qxy / qxx) * cxy
                   + (qxy / qxx) * (qxy / qxx) * cxx AS suu,
               b1y - (qxy / qxx) * b1x AS u1,
               b2y - (qxy / qxx) * b2x AS u2,
               a11, a12, a22
        FROM q
    )
    SELECT n AS n_days,
           round(b / 100.0, 6) + 0.0 AS b_2sls_value_per_event,
           round(n * (u1 * (a22 * u1 - a12 * u2)
                      + u2 * (a11 * u2 - a12 * u1))
                 / det / suu, 6) + 0.0 AS sargan_j,
           CAST(CASE WHEN n * (u1 * (a22 * u1 - a12 * u2)
                               + u2 * (a11 * u2 - a12 * u1))
                          / det / suu > 3.841459
                     THEN 1 ELSE 0 END AS INT)
               AS overid_reject_5pct,
           round(qxx / 2.0 / ((cxx - qxx) / (n - 3.0)), 4) + 0.0
               AS first_stage_f
    FROM st
    """,
)
def sargan_overid_test(spark, sf_dir):
    """SARGAN overidentification J test for the two-instrument 2SLS
    of daily revenue on daily volume (instruments: the Fri/Sat
    indicator and the first-half-of-month indicator): b_2SLS =
    (C_zx' C_zz^-1 C_zy)/(C_zx' C_zz^-1 C_zx) by 2x2 Cramer, and
    J = n R^2 of the 2SLS residuals on the instruments ~ chi2_1 —
    the VALIDITY test the just-identified IV battery
    (`iv_wald_weekend`, `anderson_rubin_iv_ci`,
    `hausman_ols_vs_iv`) cannot run at all: with two instruments
    the model is falsifiable, and J rejecting says at least one
    instrument leaks into revenue other than through volume —
    the exclusion restriction finally gets a test instead of a
    docstring caveat. `first_stage_f` ships the joint instrument
    strength (the Stock-Yogo screen).

    Exactness: all centered moments come from exact
    integer/DECIMAL(38,0) daily folds (binary instruments make
    C_zz count algebra); both Cramer solves and J are terminal IEEE
    trees. Plan: day rollup -> one scalar fold -> 2x2 algebra; no
    window."""
    e = t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    day = F.floor(us / 86_400_000_000).cast("bigint")
    daily = (
        e.groupBy(day.alias("day"))
        .agg(
            F.min("ts").alias("ts0"),
            F.count(F.lit(1)).cast("bigint").alias("x"),
            F.sum((dec("value", 18, 2) * 100).cast("bigint"))
            .cast("bigint")
            .alias("y"),
        )
        .select(
            "day",
            F.when((F.col("day") + 4) % 7 >= 5, 1)
            .otherwise(0)
            .alias("z1"),
            F.when(F.dayofmonth("ts0") <= 15, 1)
            .otherwise(0)
            .alias("z2"),
            "x",
            "y",
        )
    )
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    z1d = F.col("z1").cast("decimal(38,0)")
    z2d = F.col("z2").cast("decimal(38,0)")
    fold = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("z1").cast("bigint").alias("s1"),
        F.sum("z2").cast("bigint").alias("s2_"),
        F.sum(F.col("z1") * F.col("z2")).cast("bigint").alias("s12"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("z1") * F.col("x")).cast("bigint").alias("s1x"),
        F.sum(F.col("z2") * F.col("x")).cast("bigint").alias("s2x"),
        F.sum(z1d * yd).alias("s1y"),
        F.sum(z2d * yd).alias("s2y"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"),
    )
    n = F.col("n").cast("double")
    a11 = F.col("s1") - F.col("s1").cast("double") * F.col("s1") / n
    a12 = F.col("s12") - F.col("s1").cast("double") * F.col("s2_") / n
    a22 = F.col("s2_") - F.col("s2_").cast("double") * F.col("s2_") / n
    b1x = F.col("s1x") - F.col("s1").cast("double") * F.col("sx") / n
    b2x = F.col("s2x") - F.col("s2_").cast("double") * F.col("sx") / n
    b1y = (
        F.col("s1y").cast("double")
        - F.col("s1").cast("double") * F.col("sy") / n
    )
    b2y = (
        F.col("s2y").cast("double")
        - F.col("s2_").cast("double") * F.col("sy") / n
    )
    cxx = (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx") / n
    )
    cyy = (
        F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy") / n
    )
    cxy = (
        F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy") / n
    )
    det = a11 * a22 - a12 * a12
    qxx = (
        b1x * (a22 * b1x - a12 * b2x)
        + b2x * (a11 * b2x - a12 * b1x)
    ) / det
    qxy = (
        b1x * (a22 * b1y - a12 * b2y)
        + b2x * (a11 * b2y - a12 * b1y)
    ) / det
    b = qxy / qxx
    suu = cyy - 2.0 * b * cxy + b * b * cxx
    u1 = b1y - b * b1x
    u2 = b2y - b * b2x
    j = (
        n
        * (u1 * (a22 * u1 - a12 * u2) + u2 * (a11 * u2 - a12 * u1))
        / det
        / suu
    )
    return fold.select(
        F.col("n").alias("n_days"),
        (F.round(b / 100.0, 6) + 0.0)
        .alias("b_2sls_value_per_event"),
        (F.round(j, 6) + 0.0).alias("sargan_j"),
        F.when(j > 3.841459, 1).otherwise(0).cast("int")
        .alias("overid_reject_5pct"),
        (
            F.round(qxx / 2.0 / ((cxx - qxx) / (n - 3.0)), 4) + 0.0
        ).alias("first_stage_f"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "sargan_overid_test": (
            "no window — day rollup + one scalar fold + 2x2 Cramer "
            "(the iv_wald_weekend frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# Aitchison compositional panel: dow revenue mix across regions
# --------------------------------------------------------------------------
@register(
    "aitchison_composition_panel",
    oracle="""
    WITH cell AS (
        SELECT r.r_regionkey AS rk,
               CAST((epoch_us(o.o_orderdate) // 86400000000 + 4) % 7
                    AS BIGINT) AS dow,
               CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2))
                             * 100 AS BIGINT)) AS BIGINT) AS rev
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation na ON c.c_nationkey = na.n_nationkey
        JOIN region r ON na.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    ),
    lr AS (
        SELECT rk, dow, round(ln(CAST(rev AS DOUBLE)), 10) AS lv
        FROM cell
    ),
    clr AS (
        SELECT rk, dow,
               round(lv - AVG(lv) OVER (PARTITION BY rk), 10) AS c
        FROM lr
    ),
    gmean AS (
        SELECT dow, AVG(c) AS gc FROM clr GROUP BY dow
    ),
    totvar AS (
        SELECT CAST(SUM(CAST(round((clr.c - gmean.gc)
                   * (clr.c - gmean.gc), 12) AS DECIMAL(28,12)))
                   AS DOUBLE)
                   / (SELECT COUNT(DISTINCT rk) FROM clr) AS tv
        FROM clr JOIN gmean ON clr.dow = gmean.dow
    ),
    dists AS (
        SELECT a.rk AS ra, b.rk AS rb,
               round(sqrt(SUM(CAST(round((a.c - b.c) * (a.c - b.c),
                   12) AS DECIMAL(28,12)))), 8) AS ad
        FROM clr a JOIN clr b
          ON a.dow = b.dow AND a.rk < b.rk
        GROUP BY a.rk, b.rk
    )
    SELECT d.ra AS region_a, d.rb AS region_b,
           d.ad + 0.0 AS aitchison_distance,
           round(t.tv, 8) + 0.0 AS total_variance
    FROM dists d, totvar t
    ORDER BY d.ra, d.rb
    """,
)
def aitchison_composition_panel(spark, sf_dir):
    """AITCHISON compositional analysis of each region's
    day-of-week revenue MIX: centered log-ratio (CLR) transform of
    the 7-part compositions, pairwise Aitchison distances between
    the five regions, and the total compositional variance — the
    SIMPLEX-correct geometry for share data that every euclidean
    treatment of percentages violates (shares are constrained to
    sum to 1, so raw distances and correlations between them are
    artifacts; Aitchison 1986): this is the registry's first
    compositional-data reading, the right lens for "do regions
    WEEK-SHAPE differently" as opposed to "do they differ in
    level" (`icc_twoway_mixed` answers the level question on the
    same grid). Scale-invariance is built in — cents vs dollars
    cannot move any output.

    Exactness: cell revenues are exact integer cents; ln pins at
    10 dp; CLR centering is an exact 7-part mean per region;
    squared-difference folds round at 12 dp into DECIMAL sums over
    the 35-cell grid; distances pin at 8 dp. Plan: orders + three
    broadcast dims -> 35-cell rollup -> bounded CLR windows ->
    10-pair self-join; all frames are dimension grids."""
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
            F.col("r_regionkey").alias("rk"),
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
        )
        .agg(
            (F.sum(dec("o_totalprice", 18, 2)) * 100)
            .cast("bigint")
            .alias("rev")
        )
    )
    lr = cell.select(
        "rk",
        "dow",
        F.round(F.log(F.col("rev").cast("double")), 10).alias("lv"),
    )
    clr = lr.select(
        "rk",
        "dow",
        F.round(
            F.col("lv")
            - F.avg("lv").over(Window.partitionBy("rk")),
            10,
        ).alias("c"),
    ).persist()
    gmean = clr.groupBy("dow").agg(F.avg("c").alias("gc"))
    nreg = clr.select("rk").distinct().count()
    totvar = (
        clr.join(F.broadcast(gmean), "dow")
        .agg(
            (
                F.sum(
                    F.round(
                        (F.col("c") - F.col("gc"))
                        * (F.col("c") - F.col("gc")),
                        12,
                    ).cast("decimal(28,12)")
                ).cast("double")
                / F.lit(nreg)
            ).alias("tv")
        )
    )
    a = clr.select(
        F.col("rk").alias("ra"),
        F.col("dow").alias("da"),
        F.col("c").alias("ca"),
    )
    b = clr.select(
        F.col("rk").alias("rb"),
        F.col("dow").alias("db"),
        F.col("c").alias("cb"),
    )
    dists = (
        a.join(
            F.broadcast(b),
            (F.col("da") == F.col("db")) & (F.col("ra") < F.col("rb")),
        )
        .groupBy("ra", "rb")
        .agg(
            F.round(
                F.sqrt(
                    F.sum(
                        F.round(
                            (F.col("ca") - F.col("cb"))
                            * (F.col("ca") - F.col("cb")),
                            12,
                        ).cast("decimal(28,12)")
                    ).cast("double")
                ),
                8,
            ).alias("ad")
        )
    )
    return (
        dists.crossJoin(F.broadcast(totvar))
        .select(
            F.col("ra").alias("region_a"),
            F.col("rb").alias("region_b"),
            (F.col("ad") + 0.0).alias("aitchison_distance"),
            (F.round("tv", 8) + 0.0).alias("total_variance"),
        )
        .orderBy("region_a", "region_b")
    )


PLAN_AUDIT_NOTES.update(
    {
        "aitchison_composition_panel": (
            "bounded CLR windows over the 35-cell region x dow grid "
            "+ 10-pair self-join; driver-side count() is a 5-row "
            "dimension inventory"
        ),
    }
)


# --------------------------------------------------------------------------
# u-chart: daily error rate per event with varying exposure limits
# --------------------------------------------------------------------------
@register(
    "u_chart_error_rate",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'error'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    cl AS (
        SELECT CAST(SUM(x) AS DOUBLE) / SUM(n) AS ubar,
               CAST(COUNT(*) AS BIGINT) AS days
        FROM daily
    ),
    flags AS (
        SELECT d.d, d.n, d.x, cl.ubar, cl.days,
               CASE WHEN CAST(d.x AS DOUBLE) / d.n
                         > cl.ubar + 3.0 * sqrt(cl.ubar / d.n)
                    THEN 1
                    WHEN CAST(d.x AS DOUBLE) / d.n
                         < GREATEST(cl.ubar
                                    - 3.0 * sqrt(cl.ubar / d.n), 0.0)
                     AND cl.ubar - 3.0 * sqrt(cl.ubar / d.n) > 0
                    THEN -1 ELSE 0 END AS ooc
        FROM daily d, cl
    )
    SELECT MAX(days) AS n_days,
           round(MAX(ubar), 8) + 0.0 AS u_bar,
           CAST(SUM(CASE WHEN ooc = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_above_ucl,
           CAST(SUM(CASE WHEN ooc = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_below_lcl,
           round(MAX(CASE WHEN ooc = 1
                     THEN (CAST(x AS DOUBLE) / n - ubar)
                          / sqrt(ubar / n) END), 6) + 0.0
               AS worst_sigma_above
    FROM flags
    """,
)
def u_chart_error_rate(spark, sf_dir):
    """u-CHART for the daily ERROR rate per event with
    VARYING-EXPOSURE control limits u_bar +/- 3 sqrt(u_bar/n_d) —
    the attributes-chart completion beside `c_chart_poisson_limits`
    (which assumes constant exposure and silently flags busy days)
    and `xmr_individuals_chart` (which treats the rate as a
    continuous individual and over-widens on quiet days): the
    u-chart's per-day limits narrow exactly as traffic grows, which
    is the difference between "error BURST" and "busy day" — the
    on-call question. Ships the out-of-limit day counts both sides
    and the worst standardized excursion.

    Exactness: daily (n, x) exact integers; the center line is one
    exact integer ratio; per-day limits and flags are identical
    IEEE trees; the fold is exact counting plus one max. Plan: day
    rollup -> scalar center line -> broadcast flag pass -> one
    fold; no window."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("x"),
    )
    cl = daily.agg(
        (F.sum("x").cast("double") / F.sum("n")).alias("ubar"),
        F.count(F.lit(1)).cast("bigint").alias("days"),
    )
    j = daily.crossJoin(F.broadcast(cl))
    rate = F.col("x").cast("double") / F.col("n")
    sig = F.sqrt(F.col("ubar") / F.col("n"))
    lcl = F.col("ubar") - 3.0 * sig
    ooc = (
        F.when(rate > F.col("ubar") + 3.0 * sig, 1)
        .when((rate < F.greatest(lcl, F.lit(0.0))) & (lcl > 0), -1)
        .otherwise(0)
    )
    flags = j.select(
        "days", "ubar", "n", "x", ooc.alias("ooc"),
        ((rate - F.col("ubar")) / sig).alias("zdev"),
    )
    return flags.agg(
        F.max("days").alias("n_days"),
        (F.round(F.max("ubar"), 8) + 0.0).alias("u_bar"),
        F.sum(F.when(F.col("ooc") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_above_ucl"),
        F.sum(F.when(F.col("ooc") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_below_lcl"),
        (
            F.round(
                F.max(F.when(F.col("ooc") == 1, F.col("zdev"))), 6
            )
            + 0.0
        ).alias("worst_sigma_above"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "u_chart_error_rate": (
            "no window — day rollup + scalar center line + one fold"
        ),
    }
)


# --------------------------------------------------------------------------
# ACAT Cauchy combination of the per-nation effect p-values
# --------------------------------------------------------------------------
@register(
    "acat_cauchy_combination",
    oracle="""
    WITH 
    arm AS (
        SELECT c.c_nationkey AS nk,
               CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS urgent,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS s,
               CAST(SUM(CAST(CAST(CAST(o.o_totalprice AS DECIMAL(18,2))
                                  * 100 AS BIGINT)
                             AS DECIMAL(38,0))
                        * CAST(CAST(CAST(o.o_totalprice AS DECIMAL(18,2))
                                    * 100 AS BIGINT)
                               AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS ss
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    eff AS (
        SELECT u.nk,
               round((CAST(u.s AS DOUBLE) / u.n
                      - CAST(r.s AS DOUBLE) / r.n) / 100000.0, 8) AS y,
               round(((CAST(u.ss AS DOUBLE)
                       - CAST(u.s AS DOUBLE) * u.s / u.n)
                      / (u.n - 1) / u.n
                      + (CAST(r.ss AS DOUBLE)
                         - CAST(r.s AS DOUBLE) * r.s / r.n)
                        / (r.n - 1) / r.n) / 10000000000.0, 8) AS v
        FROM arm u JOIN arm r ON u.nk = r.nk
        WHERE u.urgent = 1 AND r.urgent = 0 AND u.n > 1 AND r.n > 1
    )
,
    pv AS (
        SELECT eff.nk,
               GREATEST(LEAST(round(2.0 * (1.0 - round((CASE WHEN ((abs(eff.y) / sqrt(eff.v))) >= 0 THEN 1.0 - ((((((1.061405429 * (1.0 / (1.0 + 0.3275911 * (abs((abs(eff.y) / sqrt(eff.v))) / 1.4142135623730951))) - 1.453152027) * (1.0 / (1.0 + 0.3275911 * (abs((abs(eff.y) / sqrt(eff.v))) / 1.4142135623730951))) + 1.421413741) * (1.0 / (1.0 + 0.3275911 * (abs((abs(eff.y) / sqrt(eff.v))) / 1.4142135623730951))) - 0.284496736) * (1.0 / (1.0 + 0.3275911 * (abs((abs(eff.y) / sqrt(eff.v))) / 1.4142135623730951))) + 0.254829592) * (1.0 / (1.0 + 0.3275911 * (abs((abs(eff.y) / sqrt(eff.v))) / 1.4142135623730951)))) * exp(-(abs((abs(eff.y) / sqrt(eff.v))) / 1.4142135623730951) * (abs((abs(eff.y) / sqrt(eff.v))) / 1.4142135623730951))) / 2.0 ELSE ((((((1.061405429 * (1.0 / (1.0 + 0.3275911 * (abs((abs(eff.y) / sqrt(eff.v))) / 1.4142135623730951))) - 1.453152027) * (1.0 / (1.0 + 0.3275911 * (abs((abs(eff.y) / sqrt(eff.v))) / 1.4142135623730951))) + 1.421413741) * (1.0 / (1.0 + 0.3275911 * (abs((abs(eff.y) / sqrt(eff.v))) / 1.4142135623730951))) - 0.284496736) * (1.0 / (1.0 + 0.3275911 * (abs((abs(eff.y) / sqrt(eff.v))) / 1.4142135623730951))) + 0.254829592) * (1.0 / (1.0 + 0.3275911 * (abs((abs(eff.y) / sqrt(eff.v))) / 1.4142135623730951)))) * exp(-(abs((abs(eff.y) / sqrt(eff.v))) / 1.4142135623730951) * (abs((abs(eff.y) / sqrt(eff.v))) / 1.4142135623730951))) / 2.0 END), 10)),
                   10), 1.0 - 1e-12), 1e-12) AS p
        FROM eff
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(round(tan((0.5 - p)
                   * 3.141592653589793), 6) AS DECIMAL(38,6)))
                   AS DOUBLE) AS st,
               MIN(p) AS pmin
        FROM pv
    )
    SELECT k AS k_studies,
           round(st / k, 6) + 0.0 AS acat_stat,
           round(0.5 - atan(st / k) / 3.141592653589793, 10) + 0.0
               AS acat_p,
           round(pmin, 10) + 0.0 AS min_p,
           round(LEAST(1.0, k * pmin), 10) + 0.0 AS bonferroni_p
    FROM fold
""",
)
def acat_cauchy_combination(spark, sf_dir):
    """ACAT (Cauchy combination, Liu-Xie 2020) of the 25 per-nation
    urgent-vs-routine two-sided p-values: T = mean tan((1/2 - p_i)
    pi) is Cauchy under EACH null regardless of the dependence
    among nations (the heavy-tail trick: a Cauchy mean is Cauchy),
    so p_ACAT = 1/2 - arctan(T)/pi needs NO independence assumption
    — the modern second opinion to `fisher_stouffer_combined`
    (whose chi2/normal references silently assume independent
    studies that shared-calendar nations are not) and to the
    Bonferroni bound shipped beside it: ACAT tracking min-p under
    sparse signals and Stouffer under dense ones is the published
    signature, readable directly off this row.

    Exactness: per-nation z's come from the shared exact-fold
    effects frame through the shared Phi tree (10-dp pins, p
    clamped to [1e-12, 1-1e-12]); tangent terms round at 6 dp into
    a DECIMAL fold; the arctan readout closes at 10 dp. Plan:
    effects frame -> 25-row p pass -> one fold; no window."""
    import math

    from .common import nation_effects
    from .common import phi_col

    eff = nation_effects(spark, sf_dir)
    z = F.abs(F.col("y")) / F.sqrt(F.col("v"))
    p = F.greatest(
        F.least(
            F.round(2.0 * (1.0 - F.round(phi_col(z), 10)), 10),
            F.lit(1.0 - 1e-12),
        ),
        F.lit(1e-12),
    )
    pv = eff.select("nk", p.alias("p"))
    fold = pv.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(
            F.round(
                F.tan((0.5 - F.col("p")) * math.pi), 6
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("st"),
        F.min("p").alias("pmin"),
    )
    kk = F.col("k").cast("double")
    tbar = F.col("st") / kk
    return fold.select(
        F.col("k").alias("k_studies"),
        (F.round(tbar, 6) + 0.0).alias("acat_stat"),
        (F.round(0.5 - F.atan(tbar) / math.pi, 10) + 0.0)
        .alias("acat_p"),
        (F.round("pmin", 10) + 0.0).alias("min_p"),
        (F.round(F.least(F.lit(1.0), kk * F.col("pmin")), 10) + 0.0)
        .alias("bonferroni_p"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "acat_cauchy_combination": (
            "no window — effects frame + 25-row p pass + one fold"
        ),
    }
)


# --------------------------------------------------------------------------
# Pseudo-R^2 panel for the Berkson grouped logit
# --------------------------------------------------------------------------
@register(
    "logit_pseudo_r2_panel",
    oracle="""
    WITH cells AS (
        SELECT CAST(date_part('day', o_orderdate) AS BIGINT) AS dom,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN o_orderstatus = 'F'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x
        FROM orders
        WHERE CAST(date_part('day', o_orderdate) AS BIGINT) <= 28
        GROUP BY 1
    ),
    el AS (
        SELECT dom, n, x,
               round(ln((x + 0.5) / (n - x + 0.5)), 10) AS l,
               round(CAST(n AS DOUBLE) * (CAST(x AS DOUBLE) / n)
                     * (1.0 - CAST(x AS DOUBLE) / n), 8) AS w
        FROM cells
    ),
    wls AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nt,
               CAST(SUM(x) AS BIGINT) AS xt,
               CAST(SUM(CAST(round(w, 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS sw,
               CAST(SUM(CAST(round(w * dom, 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS swx,
               CAST(SUM(CAST(round(w * dom * dom, 6)
                    AS DECIMAL(28,6))) AS DOUBLE) AS swxx,
               CAST(SUM(CAST(round(w * l, 8) AS DECIMAL(28,8)))
                    AS DOUBLE) AS swl,
               CAST(SUM(CAST(round(w * dom * l, 8)
                    AS DECIMAL(28,8))) AS DOUBLE) AS swxl
        FROM el
    ),
    ab AS (
        SELECT nt, xt,
               (sw * swxl - swx * swl) / (sw * swxx - swx * swx)
                   AS b,
               (swl - (sw * swxl - swx * swl)
                      / (sw * swxx - swx * swx) * swx) / sw AS a
        FROM wls
    ),
    lls AS (
        SELECT ab.nt, ab.xt,
               CAST(SUM(CAST(round(
                   c.x * round(-ln(1.0 + exp(-(ab.a + ab.b * c.dom))),
                               10)
                   + (c.n - c.x)
                     * round(-ln(1.0 + exp(ab.a + ab.b * c.dom)), 10),
                   6) AS DECIMAL(38,6))) AS DOUBLE) AS ll1
        FROM cells c, ab
        GROUP BY ab.nt, ab.xt
    ),
    ll0_ AS (
        SELECT l.nt, l.ll1,
               l.xt * ln(CAST(l.xt AS DOUBLE) / l.nt)
               + (l.nt - l.xt)
                 * ln(1.0 - CAST(l.xt AS DOUBLE) / l.nt) AS ll0
        FROM lls l
    )
    SELECT nt AS n_orders,
           round(ll1 - ll0, 6) + 0.0 AS loglik_gain,
           round(1.0 - ll1 / ll0, 8) + 0.0 AS mcfadden_r2,
           round(1.0 - exp(2.0 * (ll0 - ll1) / nt), 8) + 0.0
               AS cox_snell_r2,
           round((1.0 - exp(2.0 * (ll0 - ll1) / nt))
                 / (1.0 - exp(2.0 * ll0 / nt)), 8) + 0.0
               AS nagelkerke_r2
    FROM ll0_
    """,
)
def logit_pseudo_r2_panel(spark, sf_dir):
    """PSEUDO-R^2 panel for the `berkson_logit_wls` day-of-month
    logit of the fulfilled rate: McFadden (1 - ll1/ll0), Cox-Snell
    (1 - exp(2(ll0-ll1)/n)), and Nagelkerke (Cox-Snell rescaled to
    attainable [0,1]) — the three standard-but-DIFFERENT effect
    sizes for a logistic fit, which famously disagree by multiples
    on the same model (McFadden reads like a likelihood share,
    Cox-Snell is bounded below 1 for binary outcomes, Nagelkerke
    corrects the bound): shipping all three beside the Berkson
    slope is the effect-size discipline the bare slope_z lacks, and
    the panel prices how much day-of-month actually explains (the
    `day_of_month_effect` descriptive signal, in likelihood units).
    Log-likelihoods use the stable -ln(1 + exp(+/-eta)) form.

    Exactness: the WLS fit is the shared berkson tree; per-cell
    log-likelihood terms pin at 10 dp (softplus form, no overflow)
    and fold at 6 dp through DECIMAL sums; the null likelihood is
    one exact-ratio expression; the three R^2s close in IEEE trees.
    Plan: 28-row grid -> WLS fold -> broadcast likelihood pass ->
    scalar; no window."""
    o = t(spark, sf_dir, "orders")
    cells = (
        o.select(
            F.dayofmonth("o_orderdate").cast("bigint").alias("dom"),
            F.when(F.col("o_orderstatus") == "F", 1)
            .otherwise(0)
            .alias("f"),
        )
        .where(F.col("dom") <= 28)
        .groupBy("dom")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("f").cast("bigint").alias("x"),
        )
        .persist()
    )
    p = F.col("x").cast("double") / F.col("n")
    el = cells.select(
        "dom",
        "n",
        "x",
        F.round(
            F.log((F.col("x") + 0.5) / (F.col("n") - F.col("x") + 0.5)),
            10,
        ).alias("l"),
        F.round(F.col("n") * p * (1.0 - p), 8).alias("w"),
    )
    wls = el.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("x").cast("bigint").alias("xt"),
        F.sum(F.round("w", 8).cast("decimal(28,8)"))
        .cast("double")
        .alias("sw"),
        F.sum(
            F.round(F.col("w") * F.col("dom"), 8).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("swx"),
        F.sum(
            F.round(
                F.col("w") * F.col("dom") * F.col("dom"), 6
            ).cast("decimal(28,6)")
        )
        .cast("double")
        .alias("swxx"),
        F.sum(
            F.round(F.col("w") * F.col("l"), 8).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("swl"),
        F.sum(
            F.round(
                F.col("w") * F.col("dom") * F.col("l"), 8
            ).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("swxl"),
    )
    sxx_w = F.col("sw") * F.col("swxx") - F.col("swx") * F.col("swx")
    b = (
        F.col("sw") * F.col("swxl") - F.col("swx") * F.col("swl")
    ) / sxx_w
    ab = wls.select(
        "nt",
        "xt",
        b.alias("b"),
        ((F.col("swl") - b * F.col("swx")) / F.col("sw")).alias("a"),
    )
    jl = cells.crossJoin(F.broadcast(ab))
    eta = F.col("a") + F.col("b") * F.col("dom")
    term = (
        F.col("x") * F.round(-F.log(1.0 + F.exp(-eta)), 10)
        + (F.col("n") - F.col("x"))
        * F.round(-F.log(1.0 + F.exp(eta)), 10)
    )
    lls = jl.groupBy("nt", "xt").agg(
        F.sum(F.round(term, 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("ll1")
    )
    nt = F.col("nt").cast("double")
    pbar = F.col("xt").cast("double") / nt
    ll0 = F.col("xt") * F.log(pbar) + (
        F.col("nt") - F.col("xt")
    ) * F.log(1.0 - pbar)
    cs = 1.0 - F.exp(2.0 * (ll0 - F.col("ll1")) / nt)
    return lls.select(
        F.col("nt").alias("n_orders"),
        (F.round(F.col("ll1") - ll0, 6) + 0.0).alias("loglik_gain"),
        (F.round(1.0 - F.col("ll1") / ll0, 8) + 0.0)
        .alias("mcfadden_r2"),
        (F.round(cs, 8) + 0.0).alias("cox_snell_r2"),
        (F.round(cs / (1.0 - F.exp(2.0 * ll0 / nt)), 8) + 0.0)
        .alias("nagelkerke_r2"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "logit_pseudo_r2_panel": (
            "no window — 28-row grid WLS + broadcast likelihood "
            "pass (the berkson_logit device)"
        ),
    }
)


# --------------------------------------------------------------------------
# Chow-Denning maximum variance-ratio test over q = 2, 4, 8, 16
# --------------------------------------------------------------------------
from .common import DAILY_ORDER_CENTS_SQL, daily_order_cents  # noqa: E402


@register(
    "chow_denning_max_vr",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    x AS (
        SELECT day AS d, CAST(round(ln(y), 9) AS DECIMAL(18,9)) AS x
        FROM daily
    ),
    d1 AS (
        SELECT b.x - a.x AS dx FROM x a JOIN x b ON b.d = a.d + 1
    ),
    m1 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dx) AS DECIMAL(38,9)) AS s,
               CAST(SUM(dx * dx) AS DECIMAL(38,18)) AS q
        FROM d1
    ),
    dq AS (
        SELECT qs.q, b.x - a.x AS dx
        FROM (SELECT UNNEST([2, 4, 8, 16]) AS q) qs
        JOIN x a ON true
        JOIN x b ON b.d = a.d + qs.q
    ),
    mq AS (
        SELECT q, CAST(COUNT(*) AS BIGINT) AS nq,
               CAST(SUM(dx) AS DECIMAL(38,9)) AS s,
               CAST(SUM(dx * dx) AS DECIMAL(38,18)) AS qq
        FROM dq GROUP BY q
    ),
    vr AS (
        SELECT mq.q, mq.nq,
               round(((CAST(mq.qq AS DOUBLE)
                       - CAST(mq.s AS DOUBLE) * CAST(mq.s AS DOUBLE)
                         / mq.nq) / (mq.nq - 1))
                     / (mq.q * ((CAST(m1.q AS DOUBLE)
                                 - CAST(m1.s AS DOUBLE)
                                   * CAST(m1.s AS DOUBLE) / m1.n)
                                / (m1.n - 1))), 6) AS v,
               round((((CAST(mq.qq AS DOUBLE)
                        - CAST(mq.s AS DOUBLE) * CAST(mq.s AS DOUBLE)
                          / mq.nq) / (mq.nq - 1))
                      / (mq.q * ((CAST(m1.q AS DOUBLE)
                                  - CAST(m1.s AS DOUBLE)
                                    * CAST(m1.s AS DOUBLE) / m1.n)
                                 / (m1.n - 1))) - 1.0)
                     / sqrt(2.0 * (2 * mq.q - 1) * (mq.q - 1)
                            / (3.0 * mq.q * mq.nq)), 6) AS z
        FROM mq, m1
    ),
    summ AS (
        SELECT MAX(abs(z)) AS mz FROM vr
    )
    SELECT CAST(vr.q AS BIGINT) AS q_days,
           vr.nq AS n_overlaps,
           vr.v + 0.0 AS variance_ratio,
           vr.z + 0.0 AS z_iid,
           round(summ.mz, 6) + 0.0 AS max_abs_z,
           CAST(CASE WHEN summ.mz > 2.491 THEN 1 ELSE 0 END AS INT)
               AS cd_reject_5pct
    FROM vr, summ
    ORDER BY q_days
    """,
)
def chow_denning_max_vr(spark, sf_dir):
    """CHOW-DENNING joint variance-ratio test on daily log revenue
    over q = 2, 4, 8, 16: the max |z_iid(q)| compared against the
    Studentized-Maximum-Modulus 5% point 2.491 (m = 4) — the
    MULTIPLE-COMPARISON-correct version of `variance_ratio_daily`'s
    single-lag readout: testing four horizons and reporting the
    best one inflates the single-lag test's size to ~17%, which is
    exactly the cherry-picking the CD bound removes; the per-q rows
    ship alongside so the horizon PROFILE (mean reversion at short
    lags flipping to momentum at long) stays readable. Same
    9-dp-pinned log increments and exact DECIMAL folds as the
    single-lag query.

    Exactness: increments are differences of 9-dp DECIMAL logs on
    calendar lag joins (exact); all per-q power sums are DECIMAL
    folds; VR/z close in IEEE trees; the SMM critical 2.491 is a
    shared literal. Plan: day rollup -> 1+4 bounded calendar lag
    joins -> per-q folds -> one summary fold; no window."""
    daily = daily_order_cents(spark, sf_dir)
    x = daily.select(
        F.col("day").alias("d"),
        F.round(F.log(F.col("y").cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("x"),
    ).persist()
    a1 = x.select(F.col("d").alias("da"), F.col("x").alias("xa"))
    b1 = x.select(F.col("d").alias("db"), F.col("x").alias("xb"))
    d1 = a1.join(b1, F.col("db") == F.col("da") + 1).select(
        (F.col("xb") - F.col("xa")).alias("dx")
    )
    m1 = d1.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dx").cast("decimal(38,9)").alias("s"),
        F.sum(F.col("dx") * F.col("dx"))
        .cast("decimal(38,18)")
        .alias("q"),
    )
    qs = spark.range(1).select(
        F.explode(
            F.array(F.lit(2), F.lit(4), F.lit(8), F.lit(16))
        ).alias("q")
    )
    dq = (
        a1.crossJoin(F.broadcast(qs))
        .join(b1, F.col("db") == F.col("da") + F.col("q"))
        .select("q", (F.col("xb") - F.col("xa")).alias("dx"))
    )
    mq = dq.groupBy("q").agg(
        F.count(F.lit(1)).cast("bigint").alias("nq"),
        F.sum("dx").cast("decimal(38,9)").alias("s"),
        F.sum(F.col("dx") * F.col("dx"))
        .cast("decimal(38,18)")
        .alias("qq"),
    )
    j = mq.crossJoin(
        F.broadcast(
            m1.select(
                F.col("n").alias("n1"),
                F.col("s").alias("s1"),
                F.col("q").alias("q1"),
            )
        )
    )
    var1 = (
        F.col("q1").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double")
        / F.col("n1")
    ) / (F.col("n1") - 1)
    varq = (
        F.col("qq").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double")
        / F.col("nq")
    ) / (F.col("nq") - 1)
    v = F.round(varq / (F.col("q") * var1), 6)
    z = F.round(
        (varq / (F.col("q") * var1) - 1.0)
        / F.sqrt(
            2.0
            * (2 * F.col("q") - 1)
            * (F.col("q") - 1)
            / (3.0 * F.col("q") * F.col("nq"))
        ),
        6,
    )
    vr = j.select(
        "q", "nq", v.alias("v"), z.alias("z")
    ).persist()
    summ = vr.agg(F.max(F.abs(F.col("z"))).alias("mz"))
    return (
        vr.crossJoin(F.broadcast(summ))
        .select(
            F.col("q").cast("bigint").alias("q_days"),
            F.col("nq").alias("n_overlaps"),
            (F.col("v") + 0.0).alias("variance_ratio"),
            (F.col("z") + 0.0).alias("z_iid"),
            (F.round("mz", 6) + 0.0).alias("max_abs_z"),
            F.when(F.col("mz") > 2.491, 1)
            .otherwise(0)
            .cast("int")
            .alias("cd_reject_5pct"),
        )
        .orderBy("q_days")
    )


PLAN_AUDIT_NOTES.update(
    {
        "chow_denning_max_vr": (
            "no window — calendar lag joins + per-q folds (the "
            "variance_ratio_daily frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# Phillips-Perron unit-root test with Bartlett long-run variance
# --------------------------------------------------------------------------
@register(
    "phillips_perron_unit_root",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    pairs AS (
        SELECT a.day AS d,
               CAST(a.y AS DOUBLE) / 100000.0 AS w,
               CAST(b.y - a.y AS DOUBLE) / 100000.0 AS z
        FROM daily a JOIN daily b ON b.day = a.day + 1
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(w, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS sw,
               CAST(SUM(CAST(round(z, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS sz,
               CAST(SUM(CAST(round(w * w, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS sww,
               CAST(SUM(CAST(round(z * z, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS szz,
               CAST(SUM(CAST(round(w * z, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS swz
        FROM pairs
    ),
    fit AS (
        SELECT n,
               (n * swz - sw * sz) / (n * sww - sw * sw) AS rho,
               (sz - (n * swz - sw * sz) / (n * sww - sw * sw) * sw)
                   / n AS a,
               ((n * szz - sz * sz)
                - (n * swz - sw * sz) * (n * swz - sw * sz)
                  / (n * sww - sw * sw)) / n AS sse_n,
               (n * sww - sw * sw) / n AS cww_n
        FROM m
    ),
    res AS (
        SELECT p.d,
               round(p.z - f.a - f.rho * p.w, 8) AS e
        FROM pairs p, fit f
    ),
    g0 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(e * e, 10) AS DECIMAL(38,10)))
                    AS DOUBLE) AS se2
        FROM res
    ),
    gj AS (
        SELECT lags.j,
               CAST(SUM(CAST(round(a.e * b.e, 10)
                    AS DECIMAL(38,10))) AS DOUBLE) AS sp
        FROM (SELECT UNNEST([1, 2, 3, 4]) AS j) lags
        JOIN res a ON true
        JOIN res b ON b.d = a.d + lags.j
        GROUP BY lags.j
    ),
    lam AS (
        SELECT g0.n, g0.se2 / g0.n AS gamma0,
               g0.se2 / g0.n
               + 2.0 * CAST(SUM(CAST(round(
                     (1.0 - gj.j / 5.0) * gj.sp / g0.n, 12)
                     AS DECIMAL(28,12))) AS DOUBLE) AS lam2
        FROM gj, g0 GROUP BY g0.n, g0.se2
    )
    SELECT l.n AS n_days,
           round(f.rho, 8) + 0.0 AS rho_coeff,
           round(f.rho / sqrt((f.sse_n * l.n / (l.n - 2.0))
                              / (l.n * f.cww_n)), 6) + 0.0 AS t_df,
           round(l.gamma0, 8) + 0.0 AS gamma0,
           round(l.lam2, 8) + 0.0 AS lambda2,
           round(sqrt(l.gamma0 / l.lam2)
                 * (f.rho / sqrt((f.sse_n * l.n / (l.n - 2.0))
                                 / (l.n * f.cww_n)))
                 - (l.lam2 - l.gamma0)
                   / (2.0 * sqrt(l.lam2))
                   * l.n
                   * sqrt((f.sse_n * l.n / (l.n - 2.0))
                          / (l.n * f.cww_n))
                   / sqrt(f.sse_n * l.n / (l.n - 2.0)), 6) + 0.0
               AS z_t_pp,
           CAST(CASE WHEN sqrt(l.gamma0 / l.lam2)
                 * (f.rho / sqrt((f.sse_n * l.n / (l.n - 2.0))
                                 / (l.n * f.cww_n)))
                 - (l.lam2 - l.gamma0)
                   / (2.0 * sqrt(l.lam2))
                   * l.n
                   * sqrt((f.sse_n * l.n / (l.n - 2.0))
                          / (l.n * f.cww_n))
                   / sqrt(f.sse_n * l.n / (l.n - 2.0)) < -2.86
                     THEN 1 ELSE 0 END AS INT)
               AS reject_unit_root_5pct
    FROM lam l, fit f
    """,
)
def phillips_perron_unit_root(spark, sf_dir):
    """PHILLIPS-PERRON unit-root test on daily revenue (kUSD):
    the Dickey-Fuller regression delta-y on (1, y_lag) kept AS IS,
    with the t statistic corrected NONPARAMETRICALLY through the
    Bartlett long-run variance lambda^2 = gamma0 + 2 sum (1 -
    j/5) gamma_j (L = 4 lags; Hamilton 1994 eq. 17.6.12 form,
    s^2 = SSE/(n-2)) — the serial-correlation-robust second opinion
    to `dickey_fuller_unit_root` (which assumes iid errors) and the
    lag-free alternative to an augmented-DF lag hunt: PP and DF
    disagreeing by more than the correction term localizes the
    error autocorrelation `breusch_godfrey_lm` then models, and
    `kpss_level_stationarity` closes the triangle from the
    stationary null. The -2.86 constant-case critical value is the
    shared literal.

    Exactness: the DF regression comes from 4/6-dp-pinned kUSD
    folds; residuals pin at 8 dp; gamma_j from calendar lag joins
    (the mcleod_li device) with 10-dp product folds; the correction
    closes in one IEEE tree. Plan: day rollup -> successor join ->
    OLS fold -> broadcast residual pass -> 4 lag joins -> scalar;
    no window."""
    daily = daily_order_cents(spark, sf_dir)
    b1 = daily.select(
        (F.col("day") - 1).alias("day"), F.col("y").alias("ynext")
    )
    pairs = daily.join(b1, "day").select(
        F.col("day").alias("d"),
        (F.col("y").cast("double") / 100000.0).alias("w"),
        (
            (F.col("ynext") - F.col("y")).cast("double") / 100000.0
        ).alias("z"),
    )
    m = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round("w", 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sw"),
        F.sum(F.round("z", 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sz"),
        F.sum(F.round(F.col("w") * F.col("w"), 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("sww"),
        F.sum(F.round(F.col("z") * F.col("z"), 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("szz"),
        F.sum(F.round(F.col("w") * F.col("z"), 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("swz"),
    )
    n = F.col("n").cast("double")
    cww = n * F.col("sww") - F.col("sw") * F.col("sw")
    cwz = n * F.col("swz") - F.col("sw") * F.col("sz")
    czz = n * F.col("szz") - F.col("sz") * F.col("sz")
    rho = cwz / cww
    fit = m.select(
        "n",
        rho.alias("rho"),
        ((F.col("sz") - rho * F.col("sw")) / n).alias("a"),
        ((czz - cwz * cwz / cww) / n).alias("sse_n"),
        (cww / n).alias("cww_n"),
    )
    res = pairs.crossJoin(F.broadcast(fit)).select(
        "d",
        F.round(
            F.col("z") - F.col("a") - F.col("rho") * F.col("w"), 8
        ).alias("e"),
    ).persist()
    g0 = res.agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum(F.round(F.col("e") * F.col("e"), 10).cast("decimal(38,10)"))
        .cast("double")
        .alias("se2"),
    )
    lags = spark.range(1, 5).select(F.col("id").alias("j"))
    ra = res.select(F.col("d").alias("da"), F.col("e").alias("ea"))
    rb = res.select(F.col("d").alias("db"), F.col("e").alias("eb"))
    gj = (
        ra.crossJoin(F.broadcast(lags))
        .join(rb, F.col("db") == F.col("da") + F.col("j"))
        .groupBy("j")
        .agg(
            F.sum(
                F.round(F.col("ea") * F.col("eb"), 10).cast(
                    "decimal(38,10)"
                )
            )
            .cast("double")
            .alias("sp")
        )
    )
    lam = gj.crossJoin(F.broadcast(g0)).agg(
        F.max("ng").alias("n"),
        F.max(F.col("se2") / F.col("ng")).alias("gamma0"),
        (
            F.max(F.col("se2") / F.col("ng"))
            + 2.0
            * F.sum(
                F.round(
                    (1.0 - F.col("j") / 5.0)
                    * F.col("sp")
                    / F.col("ng"),
                    12,
                ).cast("decimal(28,12)")
            ).cast("double")
        ).alias("lam2"),
    )
    out = lam.crossJoin(F.broadcast(fit.drop("n")))
    nn = F.col("n").cast("double")
    s2 = F.col("sse_n") * nn / (nn - 2.0)
    se_rho = F.sqrt(s2 / (nn * F.col("cww_n")))
    t_df = F.col("rho") / se_rho
    zpp = (
        F.sqrt(F.col("gamma0") / F.col("lam2")) * t_df
        - (F.col("lam2") - F.col("gamma0"))
        / (2.0 * F.sqrt(F.col("lam2")))
        * nn
        * se_rho
        / F.sqrt(s2)
    )
    return out.select(
        F.col("n").alias("n_days"),
        (F.round("rho", 8) + 0.0).alias("rho_coeff"),
        (F.round(t_df, 6) + 0.0).alias("t_df"),
        (F.round("gamma0", 8) + 0.0).alias("gamma0"),
        (F.round("lam2", 8) + 0.0).alias("lambda2"),
        (F.round(zpp, 6) + 0.0).alias("z_t_pp"),
        F.when(zpp < -2.86, 1).otherwise(0).cast("int")
        .alias("reject_unit_root_5pct"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "phillips_perron_unit_root": (
            "no window — successor/lag calendar joins + scalar "
            "folds (the dickey_fuller / mcleod_li frames)"
        ),
    }
)


# --------------------------------------------------------------------------
# Forecast encompassing test: naive vs seasonal-naive daily forecasts
# --------------------------------------------------------------------------
@register(
    "forecast_encompassing_hln",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    err AS (
        SELECT a.day,
               CAST(a.y - b.y AS DOUBLE) / 100000.0 AS e1,
               CAST(a.y - c.y AS DOUBLE) / 100000.0 AS e2
        FROM daily a
        JOIN daily b ON b.day = a.day - 1
        JOIN daily c ON c.day = a.day - 7
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(e1 * (e1 - e2), 6)
                    AS DECIMAL(38,6))) AS DOUBLE) AS s1d,
               CAST(SUM(CAST(round(e2 * (e2 - e1), 6)
                    AS DECIMAL(38,6))) AS DOUBLE) AS s2d,
               CAST(SUM(CAST(round((e1 - e2) * (e1 - e2), 6)
                    AS DECIMAL(38,6))) AS DOUBLE) AS sdd,
               CAST(SUM(CAST(round(e1 * e1, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS s11,
               CAST(SUM(CAST(round(e2 * e2, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS s22
        FROM err
    )
    SELECT n AS n_days,
           round(s1d / sdd, 8) + 0.0 AS lambda_naive_on_seasonal,
           round((s1d / sdd)
                 / sqrt((s11 - s1d * s1d / sdd)
                        / (n - 1.0) / sdd), 6) + 0.0
               AS t_enc_naive,
           round(s2d / sdd, 8) + 0.0 AS lambda_seasonal_on_naive,
           round((s2d / sdd)
                 / sqrt((s22 - s2d * s2d / sdd)
                        / (n - 1.0) / sdd), 6) + 0.0
               AS t_enc_seasonal,
           round(s11 / s22, 6) + 0.0 AS mse_ratio_naive_over_seas
    FROM fold
    """,
)
def forecast_encompassing_hln(spark, sf_dir):
    """FORECAST ENCOMPASSING test (Harvey-Leybourne-Newbold form)
    between the two baseline daily-revenue forecasts — naive
    (yesterday) and seasonal-naive (a week ago): regress e1 on
    (e1 - e2) through the origin; lambda = 0 means the naive
    forecast ENCOMPASSES the seasonal one (no combination helps),
    lambda in (0,1) with a significant t says a convex combination
    strictly beats both — which is the question
    `diebold_mariano_forecast` (who is MORE accurate) and
    `forecast_combination_imse` (what weights) leave open between
    them: DM can be insignificant while encompassing rejects BOTH
    directions, the textbook case for combining. Both directions
    and the raw MSE ratio ship in one row.

    Exactness: forecast errors are exact integer-cent differences
    in kUSD; all five cross-product folds round at 6 dp into
    DECIMAL sums; lambdas and t's close in IEEE trees
    (through-the-origin OLS t with n-1 df, documented). Plan: day
    rollup -> two calendar lag joins -> one fold; no window."""
    daily = daily_order_cents(spark, sf_dir)
    b1 = daily.select(
        (F.col("day") + 1).alias("day"), F.col("y").alias("y1")
    )
    c7 = daily.select(
        (F.col("day") + 7).alias("day"), F.col("y").alias("y7")
    )
    err = (
        daily.join(b1, "day")
        .join(c7, "day")
        .select(
            ((F.col("y") - F.col("y1")).cast("double") / 100000.0)
            .alias("e1"),
            ((F.col("y") - F.col("y7")).cast("double") / 100000.0)
            .alias("e2"),
        )
    )
    e1, e2 = F.col("e1"), F.col("e2")
    fold = err.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round(e1 * (e1 - e2), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("s1d"),
        F.sum(F.round(e2 * (e2 - e1), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("s2d"),
        F.sum(F.round((e1 - e2) * (e1 - e2), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sdd"),
        F.sum(F.round(e1 * e1, 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("s11"),
        F.sum(F.round(e2 * e2, 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("s22"),
    )
    n = F.col("n").cast("double")
    l1 = F.col("s1d") / F.col("sdd")
    l2 = F.col("s2d") / F.col("sdd")
    t1 = l1 / F.sqrt(
        (F.col("s11") - F.col("s1d") * F.col("s1d") / F.col("sdd"))
        / (n - 1.0)
        / F.col("sdd")
    )
    t2 = l2 / F.sqrt(
        (F.col("s22") - F.col("s2d") * F.col("s2d") / F.col("sdd"))
        / (n - 1.0)
        / F.col("sdd")
    )
    return fold.select(
        F.col("n").alias("n_days"),
        (F.round(l1, 8) + 0.0).alias("lambda_naive_on_seasonal"),
        (F.round(t1, 6) + 0.0).alias("t_enc_naive"),
        (F.round(l2, 8) + 0.0).alias("lambda_seasonal_on_naive"),
        (F.round(t2, 6) + 0.0).alias("t_enc_seasonal"),
        (F.round(F.col("s11") / F.col("s22"), 6) + 0.0)
        .alias("mse_ratio_naive_over_seas"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "forecast_encompassing_hln": (
            "no window — two calendar lag joins + one fold (the "
            "diebold_mariano frame)"
        ),
    }
)


# --------------------------------------------------------------------------
# Poisson CUSUM (Lucas) on daily error counts
# --------------------------------------------------------------------------
@register(
    "poisson_cusum_lucas",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CASE WHEN event_type = 'error'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    lam AS (
        SELECT CAST(SUM(x) AS DOUBLE) / COUNT(*) AS l0,
               1.5 * CAST(SUM(x) AS DOUBLE) / COUNT(*) AS l1,
               CAST(COUNT(*) AS BIGINT) AS nd
        FROM daily
    ),
    kref AS (
        SELECT nd, l0, l1,
               round((l1 - l0) / (ln(l1) - ln(l0)), 8) AS k
        FROM lam
    ),
    m AS (
        SELECT d.d, k.nd, k.k, k.l0,
               SUM(round(d.x - k.k, 8))
                   OVER (ORDER BY d.d) AS mt
        FROM daily d, kref k
    ),
    soft AS (
        SELECT d, nd, k, l0, mt,
               mt - LEAST(0.0,
                   MIN(mt) OVER (ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW)) AS st
        FROM m
    )
    SELECT MAX(nd) AS n_days,
           round(MAX(k), 6) + 0.0 AS reference_k,
           round(MAX(l0), 6) + 0.0 AS lambda0,
           round(MAX(st), 4) + 0.0 AS max_cusum,
           CAST(SUM(CASE WHEN st > 5.0 * sqrt(l0) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_signal_days,
           CAST(MIN(CASE WHEN st > 5.0 * sqrt(l0) THEN d END)
                AS BIGINT) AS first_signal_day
    FROM soft
    """,
)
def poisson_cusum_lucas(spark, sf_dir):
    """POISSON CUSUM (Lucas 1985) on daily error counts, tuned to
    detect a 1.5x rate increase: the likelihood-optimal reference
    value is k = (lambda1 - lambda0)/(ln lambda1 - ln lambda0) —
    NOT the midpoint the normal CUSUM would use, which is exactly
    why a Gaussian chart on counts under-detects — with decision
    interval h = 5 sqrt(lambda0). The reset recursion S_t =
    max(0, S_{t-1} + x_t - k) computes exactly via the
    prefix-minus-running-min identity (the
    `cusum_chart_arl_siegmund` device, no sequential state), making
    this the count-data completion of the CUSUM family beside
    `c_chart_poisson_limits` (memoryless) and `u_chart_error_rate`
    (exposure-adjusted memoryless): the CUSUM accumulates small
    persistent drifts that per-day limits never flag.

    Exactness: counts are exact integers; k pins at 8 dp; the
    prefix sums fold 8-dp rounded terms; the running min and the
    signal fold are order-free on the bounded day grid (windows
    are the cusum class, calendar-bounded). Plan: day rollup ->
    scalar rates -> two prefix windows -> one fold."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("x"),
    )
    lam = daily.agg(
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("l0"),
        F.count(F.lit(1)).cast("bigint").alias("nd"),
    )
    kref = lam.select(
        "nd",
        "l0",
        F.round(
            (1.5 * F.col("l0") - F.col("l0"))
            / (F.log(1.5 * F.col("l0")) - F.log(F.col("l0"))),
            8,
        ).alias("k"),
    )
    wd = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    m = daily.crossJoin(F.broadcast(kref)).select(
        "d",
        "nd",
        "k",
        "l0",
        F.sum(F.round(F.col("x") - F.col("k"), 8)).over(wd).alias("mt"),
    )
    soft = m.select(
        "d",
        "nd",
        "k",
        "l0",
        (
            F.col("mt")
            - F.least(F.lit(0.0), F.min("mt").over(wd))
        ).alias("st"),
    )
    h = 5.0 * F.sqrt(F.col("l0"))
    return soft.agg(
        F.max("nd").alias("n_days"),
        (F.round(F.max("k"), 6) + 0.0).alias("reference_k"),
        (F.round(F.max("l0"), 6) + 0.0).alias("lambda0"),
        (F.round(F.max("st"), 4) + 0.0).alias("max_cusum"),
        F.sum(F.when(F.col("st") > h, 1).otherwise(0))
        .cast("bigint")
        .alias("n_signal_days"),
        F.min(F.when(F.col("st") > h, F.col("d")))
        .cast("bigint")
        .alias("first_signal_day"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "poisson_cusum_lucas": (
            "prefix + running-min windows over the bounded calendar "
            "frame (the cusum_chart class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Freeman-Tukey double-arcsine pooling of nation fulfillment rates
# --------------------------------------------------------------------------
@register(
    "freeman_tukey_pooled_rate",
    oracle="""
    WITH cell AS (
        SELECT c.c_nationkey AS nk,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN o.o_orderstatus = 'F'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
    ),
    ft AS (
        SELECT nk, n, x,
               round(asin(sqrt(CAST(x AS DOUBLE) / (n + 1.0)))
                     + asin(sqrt((x + 1.0) / (n + 1.0))), 10) AS t,
               CAST(n AS DOUBLE) + 0.5 AS w
        FROM cell
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n) AS BIGINT) AS nt,
               CAST(SUM(x) AS BIGINT) AS xt,
               CAST(SUM(CAST(round(w * t, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS swt,
               CAST(SUM(CAST(round(w, 1) AS DECIMAL(38,1)))
                    AS DOUBLE) AS sw,
               CAST(SUM(CAST(round(w * t * t, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS swtt
        FROM ft
    ),
    bt AS (
        SELECT k, nt, xt, sw, swt, swtt,
               swt / sw AS tbar,
               1.0 / (sw / k) AS inv_nbar
        FROM fold
    )
    SELECT k AS k_nations, nt AS n_orders,
           round(CAST(xt AS DOUBLE) / nt, 8) + 0.0 AS raw_pooled_rate,
           round(tbar, 8) + 0.0 AS ft_pooled_transform,
           round(0.5 * (1.0 - SIGN(cos(tbar))
                 * sqrt(GREATEST(0.0, 1.0
                        - (sin(tbar) + (sin(tbar)
                           - 1.0 / sin(tbar)) * inv_nbar)
                          * (sin(tbar) + (sin(tbar)
                             - 1.0 / sin(tbar)) * inv_nbar)))), 8)
               + 0.0 AS ft_backtransformed_rate,
           round((swtt - swt * swt / sw) / (k - 1.0), 8) + 0.0
               AS between_nation_q
    FROM bt
    """,
)
def freeman_tukey_pooled_rate(spark, sf_dir):
    """FREEMAN-TUKEY double-arcsine pooling of the 25 per-nation
    fulfilled-order rates: t_i = asin sqrt(x/(n+1)) + asin
    sqrt((x+1)/(n+1)) stabilizes the binomial variance to
    1/(n + 1/2) EXACTLY where the raw and logit scales leave it
    rate-dependent, the inverse-variance pool is then a plain
    weighted mean, and Miller's (1978) closed-form inverse maps the
    pooled transform back to a rate — the variance-stabilized
    second opinion to the raw pooled ratio (shipped beside it):
    the two diverge exactly when small-nation extreme rates exist,
    which is the meta-analytic moment the FT scale was built for,
    and `between_nation_q` is the heterogeneity reading on the
    stabilized scale (the `dersimonian_laird_meta` Q for rates).

    Exactness: per-nation (n, x) exact integers; the double
    arcsine pins at 10 dp; weighted folds at 8 dp through DECIMAL
    sums; Miller's inverse (guarded under the sqrt) closes in one
    IEEE tree. Plan: orders + broadcast customer -> 25-row nation
    rollup -> one fold; no window."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    cell = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            o.o_custkey == c.c_custkey,
        )
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("x"),
        )
    )
    tcol = F.round(
        F.asin(F.sqrt(F.col("x").cast("double") / (F.col("n") + 1.0)))
        + F.asin(F.sqrt((F.col("x") + 1.0) / (F.col("n") + 1.0))),
        10,
    )
    ft = cell.select(
        "n", "x", tcol.alias("t"), (F.col("n") + 0.5).alias("w")
    )
    fold = ft.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("x").cast("bigint").alias("xt"),
        F.sum(F.round(F.col("w") * F.col("t"), 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("swt"),
        F.sum(F.round("w", 1).cast("decimal(38,1)"))
        .cast("double")
        .alias("sw"),
        F.sum(
            F.round(
                F.col("w") * F.col("t") * F.col("t"), 8
            ).cast("decimal(38,8)")
        )
        .cast("double")
        .alias("swtt"),
    )
    kk = F.col("k").cast("double")
    tbar = F.col("swt") / F.col("sw")
    inv_nbar = 1.0 / (F.col("sw") / kk)
    sinb = F.sin(tbar)
    inner = sinb + (sinb - 1.0 / sinb) * inv_nbar
    back = 0.5 * (
        1.0
        - F.signum(F.cos(tbar))
        * F.sqrt(F.greatest(F.lit(0.0), 1.0 - inner * inner))
    )
    return fold.select(
        F.col("k").alias("k_nations"),
        F.col("nt").alias("n_orders"),
        (
            F.round(F.col("xt").cast("double") / F.col("nt"), 8) + 0.0
        ).alias("raw_pooled_rate"),
        (F.round(tbar, 8) + 0.0).alias("ft_pooled_transform"),
        (F.round(back, 8) + 0.0).alias("ft_backtransformed_rate"),
        (
            F.round(
                (
                    F.col("swtt")
                    - F.col("swt") * F.col("swt") / F.col("sw")
                )
                / (kk - 1.0),
                8,
            )
            + 0.0
        ).alias("between_nation_q"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "freeman_tukey_pooled_rate": (
            "no window — 25-row nation rollup + one fold"
        ),
    }
)


# --------------------------------------------------------------------------
# Index-number axiom audit: time- and factor-reversal for Fisher
# --------------------------------------------------------------------------
from .bank_r19 import _MATCHED_BRANDS_SQL  # noqa: E402


@register(
    "fisher_index_axioms_audit",
    oracle=f"""
    WITH {_MATCHED_BRANDS_SQL},
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(r0) AS BIGINT) AS v0,
               CAST(SUM(r1) AS BIGINT) AS v1,
               CAST(SUM(CAST(round(p1 * q0, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS p1q0,
               CAST(SUM(CAST(round(p0 * q0, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS p0q0,
               CAST(SUM(CAST(round(p1 * q1, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS p1q1,
               CAST(SUM(CAST(round(p0 * q1, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS p0q1
        FROM matched
    )
    SELECT k AS n_brands_matched,
           round(sqrt((p1q0 / p0q0) * (p1q1 / p0q1)), 8) + 0.0
               AS fisher_price,
           round(sqrt((p1q0 / p0q0) * (p1q1 / p0q1))
                 * sqrt((p0q1 / p1q1) * (p0q0 / p1q0)), 10) + 0.0
               AS fisher_time_reversal_product,
           round((p1q0 / p0q0) * (p0q1 / p1q1), 8) + 0.0
               AS laspeyres_time_reversal_product,
           round(sqrt((p1q0 / p0q0) * (p1q1 / p0q1))
                 * sqrt((p0q1 / p0q0) * (p1q1 / p1q0))
                 / (CAST(v1 AS DOUBLE) / v0), 10) + 0.0
               AS fisher_factor_reversal_ratio,
           round(CAST(v1 AS DOUBLE) / v0, 8) + 0.0 AS value_ratio
    FROM fold
    """,
)
def fisher_index_axioms_audit(spark, sf_dir):
    """INDEX-NUMBER AXIOM audit on the matched-brands frame
    (Diewert's test approach, computed rather than assumed):
    Fisher's price index times its own REVERSED-period price index
    must equal 1 exactly (time reversal), and Fisher price x Fisher
    quantity must reproduce the value ratio exactly (factor
    reversal; here as the ratio that must print 1) — while the
    Laspeyres time-reversal product L(0,1) x L(1,0) >= 1 with the
    gap measuring substitution bias, the number that justifies
    every superlative-index choice in the registry
    (`fisher_tornqvist_index`, `sato_vartia_walsh_index`). The
    identities hold ALGEBRAICALLY, so any drift from 1 beyond the
    declared 6-dp term rounds is an arithmetic-regression tripwire
    for the whole price-index family — a self-check query in the
    identity-gap tradition of `bennet_price_quantity_decomp` and
    `lmdi_decomposition`.

    Exactness: the shared matched-brands folds (8-dp prices, 6-dp
    basket terms through DECIMAL sums); all indices and both
    identity products are terminal IEEE trees; exact value ratio
    from integer cents. Plan: the matched frame -> one fold; no
    window."""
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
    fold = matched.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("r0").cast("bigint").alias("v0"),
        F.sum("r1").cast("bigint").alias("v1"),
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
    lasp = F.col("p1q0") / F.col("p0q0")
    paas = F.col("p1q1") / F.col("p0q1")
    pf = F.sqrt(lasp * paas)
    # reversed-period Fisher price index (period 1 -> 0)
    lasp_r = F.col("p0q1") / F.col("p1q1")
    paas_r = F.col("p0q0") / F.col("p1q0")
    pf_r = F.sqrt(lasp_r * paas_r)
    # Fisher quantity index (0 -> 1)
    qf = F.sqrt(
        (F.col("p0q1") / F.col("p0q0"))
        * (F.col("p1q1") / F.col("p1q0"))
    )
    vr = F.col("v1").cast("double") / F.col("v0")
    return fold.select(
        F.col("k").alias("n_brands_matched"),
        (F.round(pf, 8) + 0.0).alias("fisher_price"),
        (F.round(pf * pf_r, 10) + 0.0)
        .alias("fisher_time_reversal_product"),
        (F.round(lasp * (F.col("p0q1") / F.col("p1q1")), 8) + 0.0)
        .alias("laspeyres_time_reversal_product"),
        (F.round(pf * qf / vr, 10) + 0.0)
        .alias("fisher_factor_reversal_ratio"),
        (F.round(vr, 8) + 0.0).alias("value_ratio"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "fisher_index_axioms_audit": (
            "no window — matched-brands frame + one fold (the "
            "fisher_tornqvist frame)"
        ),
    }
)
