"""Round-21 reserve bank (candidate X790+): STAGED, not in the live
registry — the PROMOTION RESERVE behind ``bank_r20``: each flip round
fills window slot 50 by promoting the oldest query from the NEXT
generation's bank (the split_conformal/dersimonian precedent), so the
round-20 flip needs a bank_r21 to draw from. Same no-new-debt
discipline as every generation: stage-only decorator, two-SF gate
mirror in ``tests/test_bank_r21.py``, sf0.1 sweeps via
``tools/check.py --module bank_r21``, the dtype-family sweep
(auto-discovers bank_r13..r21), plan-audit notes pre-adjudicated at
authoring time, and the HARD authoring-time 64x probe gate
(``SCALING_PROBES.json`` + ``tests/test_flip_readiness.py``).

Seed theme: CAPSTONE SECOND OPINIONS — Brown-Forsythe's F* (the third
classical robust ANOVA beside Welch's and the pooled F), Stein's
two-stage fixed-width sample-size rule (the design-side dual of the
power/MDE readout), and the delete-one jackknife SE for Shannon
entropy on the bounded category grid.

Determinism disciplines inherited unchanged (bank_r11..r20
docstrings): exact integer/DECIMAL folds, round-before-fold with the
DECADE-ESCALATION rule for libm pins, ``+ 0.0`` on possibly-negative-
zero outputs, total-order tiebreaks, bounded-domain windows or the
ranged device, explicit ``floor()`` before double->integer buckets.

Cohort naming (ADVICE r14): the binary day split used across these
banks, ``(epoch_day + 4) % 7 >= 5``, selects FRIDAY+SATURDAY under the
Sun=0..Sat=6 mapping — it is named ``fri_sat`` (complement
``sun_thu``) here. The LIVE r12-r15 banks keep their officially
recorded 'weekend' naming for the same split; bank_r11's weekend
queries use the true Sat/Sun ``isin(0, 6)`` split. 'weekday' in
per-day-of-week panels means the 7-value day-of-week domain.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .common import dec, t

BANK_QUERIES: dict = {}
BANK_ORACLES: dict = {}
PLAN_AUDIT_NOTES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Stage-only decorator (see bank_r13..r20): records the query in
    the bank dicts and does NOT touch the live registry."""

    def deco(fn):
        BANK_QUERIES[name] = fn
        if oracle is not None:
            BANK_ORACLES[name] = oracle
        return fn

    return deco


# --------------------------------------------------------------------------
# Brown-Forsythe F* robust ANOVA across order priorities
# --------------------------------------------------------------------------
@register(
    "brown_forsythe_fstar",
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
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nt,
               CAST(SUM(s) AS BIGINT) AS st,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM grp
    ),
    terms AS (
        SELECT t.nt, t.k,
               CAST(SUM(CAST(round(g.n
                   * (CAST(g.s AS DOUBLE) / g.n
                      - CAST(t.st AS DOUBLE) / t.nt)
                   * (CAST(g.s AS DOUBLE) / g.n
                      - CAST(t.st AS DOUBLE) / t.nt) / 1e10, 8)
                   AS DECIMAL(38,8))) AS DOUBLE) AS ssb,
               CAST(SUM(CAST(round((1.0 - CAST(g.n AS DOUBLE) / t.nt)
                   * ((CAST(g.ss AS DOUBLE)
                       - CAST(g.s AS DOUBLE) * g.s / g.n)
                      / (g.n - 1.0)) / 1e10, 8)
                   AS DECIMAL(38,8))) AS DOUBLE) AS den,
               CAST(SUM(CAST(round(
                   ((1.0 - CAST(g.n AS DOUBLE) / t.nt)
                    * ((CAST(g.ss AS DOUBLE)
                        - CAST(g.s AS DOUBLE) * g.s / g.n)
                       / (g.n - 1.0)) / 1e10)
                   * ((1.0 - CAST(g.n AS DOUBLE) / t.nt)
                      * ((CAST(g.ss AS DOUBLE)
                          - CAST(g.s AS DOUBLE) * g.s / g.n)
                         / (g.n - 1.0)) / 1e10)
                   / (g.n - 1.0), 10) AS DECIMAL(38,10)))
                   AS DOUBLE) AS dfden
        FROM grp g, tot t
        GROUP BY t.nt, t.k
    )
    SELECT nt AS n_orders, k AS n_groups,
           round(ssb / den, 6) + 0.0 AS bf_f_star,
           round(den * den / dfden, 2) + 0.0 AS bf_df2
    FROM terms
    """,
)
def brown_forsythe_fstar(spark, sf_dir):
    """BROWN-FORSYTHE F* robust ANOVA of order value across the five
    priorities: F* = sum n_j (ybar_j - ybar)^2 / sum (1 - n_j/N)
    s_j^2, with the Satterthwaite denominator df = (sum c_j s_j^2)^2
    / sum (c_j s_j^2)^2/(n_j - 1) — the THIRD classical omnibus
    beside the pooled-variance F (`anova_value_by_dow` class) and
    Welch's W (`welch_anova_types`): B-F keeps the pooled F's
    numerator (so it targets the same between-group signal) but
    replaces only the denominator, which makes the F-vs-W-vs-F*
    agreement pattern a variance-structure diagnostic in itself
    (all three agree = homoskedastic; F fires alone = big-group
    variance dominance; W and F* disagreeing localizes small-group
    instability). kUSD^2 rescale (1e10) keeps every fold O(1-1e6).

    Exactness: per-group counts and DECIMAL(38,0) power sums are
    exact; the three folds round at 8-10 dp into DECIMAL sums over
    the 5-group frame; F* and df2 close in IEEE trees. Plan: one
    scan -> 5-group rollup -> one fold; no window."""
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
    tot = grp.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("s").cast("bigint").alias("st"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    j = grp.crossJoin(F.broadcast(tot))
    mean_g = F.col("s").cast("double") / F.col("n")
    mean_t = F.col("st").cast("double") / F.col("nt")
    s2 = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1.0)
    cj = (1.0 - F.col("n").cast("double") / F.col("nt")) * s2 / 1e10
    terms = j.groupBy("nt", "k").agg(
        F.sum(
            F.round(
                F.col("n") * (mean_g - mean_t) * (mean_g - mean_t)
                / 1e10,
                8,
            ).cast("decimal(38,8)")
        )
        .cast("double")
        .alias("ssb"),
        F.sum(F.round(cj, 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("den"),
        F.sum(
            F.round(cj * cj / (F.col("n") - 1.0), 10).cast(
                "decimal(38,10)"
            )
        )
        .cast("double")
        .alias("dfden"),
    )
    return terms.select(
        F.col("nt").alias("n_orders"),
        F.col("k").alias("n_groups"),
        (F.round(F.col("ssb") / F.col("den"), 6) + 0.0)
        .alias("bf_f_star"),
        (
            F.round(
                F.col("den") * F.col("den") / F.col("dfden"), 2
            )
            + 0.0
        ).alias("bf_df2"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "brown_forsythe_fstar": (
            "no window — 5-group rollup + one fold"
        ),
    }
)


# --------------------------------------------------------------------------
# Stein two-stage fixed-width sample-size rule
# --------------------------------------------------------------------------
@register(
    "stein_two_stage_n",
    oracle="""
    WITH pts AS (
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    stage1 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n1,
               CAST(SUM(v) AS BIGINT) AS s,
               CAST(SUM(CAST(v AS DECIMAL(38,0)) * v)
                    AS DECIMAL(38,0)) AS ss
        FROM pts WHERE o_orderkey % 2 = 0
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nt,
               CAST(SUM(v) AS BIGINT) AS st
        FROM pts
    ),
    calc AS (
        SELECT s1.n1, t.nt,
               (CAST(s1.ss AS DOUBLE)
                - CAST(s1.s AS DOUBLE) * s1.s / s1.n1)
               / (s1.n1 - 1.0) / 1e10 AS s2_kusd2,
               0.01 * CAST(t.st AS DOUBLE) / t.nt / 1e5 AS half_w
        FROM stage1 s1, tot t
    )
    SELECT n1 AS n_stage1,
           round(s2_kusd2, 6) + 0.0 AS s2_stage1_kusd2,
           round(half_w, 6) + 0.0 AS half_width_kusd,
           CAST(GREATEST(n1 + 1,
                CAST(ceil(3.8416511179 * s2_kusd2
                          / (half_w * half_w)) AS BIGINT))
                AS BIGINT) AS stein_n_required,
           round(CAST(GREATEST(n1 + 1,
                 CAST(ceil(3.8416511179 * s2_kusd2
                           / (half_w * half_w)) AS BIGINT))
                 AS DOUBLE) / nt, 6) + 0.0
               AS fraction_of_available
    FROM calc
    """,
)
def stein_two_stage_n(spark, sf_dir):
    """STEIN'S TWO-STAGE fixed-width procedure for the mean order
    value: from the even-orderkey first stage, the total sample
    size guaranteeing a 95% CI of half-width 1% of the mean is
    N = max(n1+1, ceil(t^2 s1^2 / d^2)) — Stein (1945) proved the
    coverage is EXACT (not asymptotic) because the stage-1 variance
    is independent of the final mean, the one sample-size rule that
    needs no variance guess: the DESIGN-side dual of
    `power_analysis_mde` (which fixes n and reports detectable
    effect) and the fixed-width complement to the sequential tier
    (`group_sequential_looks`, `msprt_always_valid_p`).
    `fraction_of_available` reads directly as "is this corpus even
    big enough for a 1%-wide answer". t^2 = 3.8416511179 is the
    z^2 literal with the large-n1 t adjustment folded in
    (n1 ~ thousands at every SF, documented).

    Exactness: the stage-1 split is exact integer parity; power
    sums are exact DECIMAL(38,0); the kUSD^2 variance, the 1%
    half-width, and the ceiling close in identical IEEE trees.
    Plan: one scan -> two scalar folds; no window, no join."""
    o = t(spark, sf_dir, "orders")
    pts = o.select(
        "o_orderkey",
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v"),
    )
    stage1 = pts.where(F.col("o_orderkey") % 2 == 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n1"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    tot = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("nt"),
        F.sum("v").cast("bigint").alias("st"),
    )
    calc = stage1.crossJoin(F.broadcast(tot))
    s2 = (
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n1")
        )
        / (F.col("n1") - 1.0)
        / 1e10
    )
    half_w = 0.01 * F.col("st").cast("double") / F.col("nt") / 1e5
    need = F.greatest(
        F.col("n1") + 1,
        F.ceil(3.8416511179 * s2 / (half_w * half_w)).cast("bigint"),
    ).cast("bigint")
    return calc.select(
        F.col("n1").alias("n_stage1"),
        (F.round(s2, 6) + 0.0).alias("s2_stage1_kusd2"),
        (F.round(half_w, 6) + 0.0).alias("half_width_kusd"),
        need.alias("stein_n_required"),
        (
            F.round(need.cast("double") / F.col("nt"), 6) + 0.0
        ).alias("fraction_of_available"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "stein_two_stage_n": (
            "no window — two scalar folds over one scan"
        ),
    }
)


# --------------------------------------------------------------------------
# Delete-one jackknife SE for the Shannon entropy of event types
# --------------------------------------------------------------------------
@register(
    "entropy_jackknife_se",
    oracle="""
    WITH cat AS (
        SELECT event_type AS et, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(round(c * ln(CAST(c AS DOUBLE)), 6)
                    AS DECIMAL(38,6))) AS DOUBLE) AS sclc
        FROM cat
    ),
    pseudo AS (
        SELECT cat.et, cat.c, t.n, t.k, t.sclc,
               round(ln(t.n - 1.0)
                     - (t.sclc - round(cat.c * ln(CAST(cat.c
                        AS DOUBLE)), 6)
                        + CASE WHEN cat.c > 1
                          THEN round((cat.c - 1.0)
                               * ln(cat.c - 1.0), 6) ELSE 0.0 END)
                       / (t.n - 1.0), 10) AS hd
        FROM cat, tot t
    ),
    fold AS (
        SELECT MAX(n) AS n, MAX(k) AS k, MAX(sclc) AS sclc,
               CAST(SUM(CAST(round(c * hd, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sh,
               CAST(SUM(CAST(round(c * hd * hd, 8)
                    AS DECIMAL(38,8))) AS DOUBLE) AS shh
        FROM pseudo
    )
    SELECT n AS n_events, k AS n_categories,
           round(ln(CAST(n AS DOUBLE)) - sclc / n, 8) + 0.0
               AS h_plugin_nats,
           round((k - 1.0) / (2.0 * n), 10) + 0.0
               AS miller_madow_bias,
           round(sqrt((n - 1.0) / n
                 * (shh - sh * sh / n)), 8) + 0.0
               AS h_se_jackknife
    FROM fold
    """,
)
def entropy_jackknife_se(spark, sf_dir):
    """DELETE-ONE JACKKNIFE standard error for the Shannon entropy
    of the event-type distribution: deleting one event of category
    j gives H_(-j) in closed form from the single fold sum c ln c
    (the deleted sum just swaps c ln c for (c-1) ln(c-1)), and the
    n pseudovalues collapse onto the K = 5 category grid weighted
    by multiplicity (the jackknife_moment device at category grain)
    — the PRECISION statement every entropy readout in the registry
    ships without: `shannon_simpson_diversity` and the
    Miller-Madow/Chao-Shen corrections (`chao_shen_entropy`) debate
    the BIAS of H-hat while its SE goes unreported, yet the SE is
    what decides whether a week-over-week entropy drift is real.
    The Miller-Madow bias term ships beside the jackknife SE so
    bias and noise are finally on the same row.

    Exactness: category counts exact; c ln c terms pin at 6 dp into
    a DECIMAL fold; each deleted entropy is one IEEE tree over
    (n, sum, own terms) pinned at 10 dp; the pseudovalue variance
    folds c-weighted squares at 8 dp. Plan: one category rollup ->
    scalar fold -> 5-row broadcast pass -> one fold; no window."""
    e = t(spark, sf_dir, "events")
    cat = e.groupBy(F.col("event_type").alias("et")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = cat.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(
            F.round(
                F.col("c") * F.log(F.col("c").cast("double")), 6
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("sclc"),
    )
    j = cat.crossJoin(F.broadcast(tot))
    own = F.round(
        F.col("c") * F.log(F.col("c").cast("double")), 6
    )
    own_del = F.when(
        F.col("c") > 1,
        F.round(
            (F.col("c") - 1.0) * F.log(F.col("c") - 1.0), 6
        ),
    ).otherwise(F.lit(0.0))
    hd = F.round(
        F.log(F.col("n") - 1.0)
        - (F.col("sclc") - own + own_del) / (F.col("n") - 1.0),
        10,
    )
    pseudo = j.select("c", "n", "k", "sclc", hd.alias("hd"))
    fold = pseudo.agg(
        F.max("n").alias("n"),
        F.max("k").alias("k"),
        F.max("sclc").alias("sclc"),
        F.sum(F.round(F.col("c") * F.col("hd"), 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("sh"),
        F.sum(
            F.round(
                F.col("c") * F.col("hd") * F.col("hd"), 8
            ).cast("decimal(38,8)")
        )
        .cast("double")
        .alias("shh"),
    )
    n = F.col("n").cast("double")
    return fold.select(
        F.col("n").alias("n_events"),
        F.col("k").alias("n_categories"),
        (
            F.round(F.log(n) - F.col("sclc") / n, 8) + 0.0
        ).alias("h_plugin_nats"),
        (
            F.round((F.col("k") - 1.0) / (2.0 * n), 10) + 0.0
        ).alias("miller_madow_bias"),
        (
            F.round(
                F.sqrt(
                    (n - 1.0)
                    / n
                    * (F.col("shh") - F.col("sh") * F.col("sh") / n)
                ),
                8,
            )
            + 0.0
        ).alias("h_se_jackknife"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "entropy_jackknife_se": (
            "no window — 5-row category grid + broadcast totals "
            "(the jackknife_moment device at category grain)"
        ),
    }
)


# --------------------------------------------------------------------------
# McKay-Vangel confidence interval for the coefficient of variation
# --------------------------------------------------------------------------
@register(
    "vangel_cv_ci",
    oracle="""
    WITH pts AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s,
               CAST(SUM(CAST(v AS DECIMAL(38,0)) * v)
                    AS DECIMAL(38,0)) AS ss
        FROM pts
    ),
    kv AS (
        SELECT n,
               sqrt((CAST(ss AS DOUBLE)
                     - CAST(s AS DOUBLE) * s / n) / (n - 1.0))
               / (CAST(s AS DOUBLE) / n) AS k,
               (n - 1.0) * power(1.0 - 2.0 / (9.0 * (n - 1.0))
                   + 1.959964 * sqrt(2.0 / (9.0 * (n - 1.0))), 3)
                   AS q975,
               (n - 1.0) * power(1.0 - 2.0 / (9.0 * (n - 1.0))
                   - 1.959964 * sqrt(2.0 / (9.0 * (n - 1.0))), 3)
                   AS q025
        FROM mom
    )
    SELECT n AS n_orders,
           round(k, 8) + 0.0 AS cv_hat,
           round(k / sqrt(((q975 + 2.0) / n - 1.0) * k * k
                          + q975 / (n - 1.0)), 8) + 0.0
               AS vangel_ci_lo,
           round(k / sqrt(((q025 + 2.0) / n - 1.0) * k * k
                          + q025 / (n - 1.0)), 8) + 0.0
               AS vangel_ci_hi,
           round(k / sqrt(2.0 * n)
                 * sqrt(1.0 + 2.0 * k * k), 8) + 0.0
               AS cv_se_asymptotic
    FROM kv
    """,
)
def vangel_cv_ci(spark, sf_dir):
    """McKAY-VANGEL confidence interval for the coefficient of
    variation of order value: Vangel's (1996) modified McKay bounds
    k / sqrt(((chi2_q + 2)/n - 1) k^2 + chi2_q/(n-1)) with the
    Wilson-Hilferty chi-square quantiles — the INTERVAL companion
    to `feltz_miller_cv_test` (which tests CV equality across
    groups but prices no single CV) and the scale-free complement
    to `variance_ci_kurtosis_robust`: CV is the number a pricing
    team quotes ("orders vary by X% of the mean"), and Vangel
    showed the naive k/sqrt(2n) SE (shipped beside it) understates
    near-nominal coverage exactly when k is large — which heavy
    revenue tails make the operative regime.

    Exactness: exact integer/DECIMAL power sums; the WH quantiles
    and both bounds are identical IEEE trees (z = 1.959964 shared
    literal); CV is scale-invariant so the cents scale cancels.
    Plan: one scan -> one fold; no window, no join."""
    o = t(spark, sf_dir, "orders")
    mom = o.select(
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    n = F.col("n").cast("double")
    k = F.sqrt(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s") / n
        )
        / (n - 1.0)
    ) / (F.col("s").cast("double") / n)
    kdf = n - 1.0
    zc = 1.959964

    def wh(sign):
        return kdf * F.pow(
            1.0 - 2.0 / (9.0 * kdf)
            + sign * zc * F.sqrt(2.0 / (9.0 * kdf)),
            3,
        )

    q975 = wh(1.0)
    q025 = wh(-1.0)

    def bound(q):
        return k / F.sqrt(
            ((q + 2.0) / n - 1.0) * k * k + q / (n - 1.0)
        )

    return mom.select(
        F.col("n").alias("n_orders"),
        (F.round(k, 8) + 0.0).alias("cv_hat"),
        (F.round(bound(q975), 8) + 0.0).alias("vangel_ci_lo"),
        (F.round(bound(q025), 8) + 0.0).alias("vangel_ci_hi"),
        (
            F.round(
                k / F.sqrt(2.0 * n) * F.sqrt(1.0 + 2.0 * k * k), 8
            )
            + 0.0
        ).alias("cv_se_asymptotic"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "vangel_cv_ci": ("no window — one scan, one fold"),
    }
)


# --------------------------------------------------------------------------
# Conditional Poisson C-test: Fri/Sat vs Sun-Thu error rates
# --------------------------------------------------------------------------
@register(
    "conditional_poisson_ctest",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CASE WHEN (epoch_us(ts) // 86400000000 + 4) % 7 >= 5
                    THEN 1 ELSE 0 END AS we,
               CAST(SUM(CASE WHEN event_type = 'error'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    arm AS (
        SELECT we, CAST(COUNT(*) AS BIGINT) AS days,
               CAST(SUM(x) AS BIGINT) AS x
        FROM daily GROUP BY we
    ),
    w AS (
        SELECT MAX(CASE WHEN we = 1 THEN x END) AS x1,
               MAX(CASE WHEN we = 0 THEN x END) AS x0,
               MAX(CASE WHEN we = 1 THEN days END) AS d1,
               MAX(CASE WHEN we = 0 THEN days END) AS d0
        FROM arm
    ),
    ct AS (
        SELECT x1, x0, d1, d0,
               CAST(d1 AS DOUBLE) / (d1 + d0) AS p0,
               CAST(x1 + x0 AS BIGINT) AS m
        FROM w
    )
    SELECT m AS total_errors,
           round(CAST(x1 AS DOUBLE) / d1
                 / (CAST(x0 AS DOUBLE) / d0), 6) + 0.0
               AS rate_ratio,
           round(p0, 8) + 0.0 AS null_binomial_p,
           round((x1 - m * p0)
                 / sqrt(m * p0 * (1.0 - p0)), 6) + 0.0
               AS ctest_z,
           round((abs(x1 - m * p0) - 0.5)
                 / sqrt(m * p0 * (1.0 - p0)), 6) + 0.0
               AS ctest_z_cc
    FROM ct
    """,
)
def conditional_poisson_ctest(spark, sf_dir):
    """CONDITIONAL POISSON C-TEST (Przyborowski-Wilenski) of the
    Fri/Sat vs Sun-Thu error RATE: conditioning on the total error
    count m, the Fri/Sat count is Binomial(m, p0 = Fri/Sat-days /
    total-days) under equal rates — the nuisance-free second
    opinion to `poisson_rate_ratio_weekend`'s Wald-on-log-ratio
    form: the conditional test is EXACT in principle (no rate
    plug-in anywhere; p0 is a pure exposure ratio), its normal
    reading needs only m moderately large, and the
    continuity-corrected z rides beside the plain one (the Yates
    bracket). The Wald and conditional forms disagreeing at small
    m is the textbook signal to trust the conditional one.

    Exactness: arm counts and exposure days are exact integers; p0
    is one exact ratio; both z forms are terminal IEEE trees.
    Plan: (day, Fri/Sat) rollup -> 2-row arm rollup -> scalar
    pivot; no window."""
    e = t(spark, sf_dir, "events")
    day = F.floor(F.unix_micros("ts") / 86_400_000_000).cast("bigint")
    daily = e.groupBy(
        day.alias("d"),
        F.when((day + 4) % 7 >= 5, 1).otherwise(0).alias("we"),
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("x")
    )
    arm = daily.groupBy("we").agg(
        F.count(F.lit(1)).cast("bigint").alias("days"),
        F.sum("x").cast("bigint").alias("x"),
    )
    w = arm.agg(
        F.max(F.when(F.col("we") == 1, F.col("x"))).alias("x1"),
        F.max(F.when(F.col("we") == 0, F.col("x"))).alias("x0"),
        F.max(F.when(F.col("we") == 1, F.col("days"))).alias("d1"),
        F.max(F.when(F.col("we") == 0, F.col("days"))).alias("d0"),
    )
    p0 = F.col("d1").cast("double") / (F.col("d1") + F.col("d0"))
    m = (F.col("x1") + F.col("x0")).cast("bigint")
    md = m.cast("double")
    se = F.sqrt(md * p0 * (1.0 - p0))
    return w.select(
        m.alias("total_errors"),
        (
            F.round(
                F.col("x1").cast("double")
                / F.col("d1")
                / (F.col("x0").cast("double") / F.col("d0")),
                6,
            )
            + 0.0
        ).alias("rate_ratio"),
        (F.round(p0, 8) + 0.0).alias("null_binomial_p"),
        (F.round((F.col("x1") - md * p0) / se, 6) + 0.0)
        .alias("ctest_z"),
        (
            F.round(
                (F.abs(F.col("x1") - md * p0) - 0.5) / se, 6
            )
            + 0.0
        ).alias("ctest_z_cc"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "conditional_poisson_ctest": (
            "no window — (day, Fri/Sat) rollup + 2-row arm pivot"
        ),
    }
)
