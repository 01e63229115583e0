"""Round-15 bank (X494+), LIVE since round 15: pre-staged during
rounds 13-14 under the same no-new-debt discipline every flipped bank
(next_window, bank_r11..r14) went through: a stage-only decorator
pre-flip, the two-SF gate mirror in ``tests/test_bank_r15.py``, sf0.1
sweeps via ``tools/check.py --module bank_r15``, the dtype-family
sweep, the authoring-time 64x probe octave (SCALING_PROBES.json /
SCALING.md), and plan-audit notes merged into
``tools/audit_single_partition.py`` at flip time.

At the round-14 flip the oldest query here
(``dersimonian_laird_meta``, the original seed) was promoted into
bank_r14's 50th window slot (the split_conformal precedent, VERDICT
r13 item 1); its ``NATION_EFFECTS_SQL`` / ``nation_effects`` study
frame, which ``egger_funnel_asymmetry`` shares, lives in
``common.py``. The bank was restored to 49 the same round
(``cluster_robust_ols_se``). At the round-15 flip this bank's own 50th
window slot is ``bartlett_sphericity``, promoted from the round-16
bank (same protocol — no red name was left to re-green after the 50/50
r14 window); its daily-activity correlation frame, which
``kmo_adequacy`` shares, lives in ``common.py``.

Seed theme: the AUDIT BENCH — the statistics a 100 TB pipeline runs on
its own per-segment readouts rather than on raw rows: meta-analytic
pooling of per-nation effects (DerSimonian-Laird, Egger funnel
asymmetry), distribution-shape certification (D'Agostino K²),
structural-break monitoring (MOSUM), irregular-sampling spectra
(Lomb-Scargle), long-memory certification (DFA), model-output
calibration repair (isotonic PAVA), serially-correlated trend repair
(Cochrane-Orcutt), familywise-error panels (Holm/Hochberg/Šidák), and
directed-graph reciprocity (Holland-Leinhardt dyad census).

Determinism disciplines inherited unchanged (bank_r11..r14
docstrings): exact integer/DECIMAL folds, round-before-fold on every
float aggregate, ``+ 0.0`` on possibly-negative-zero outputs,
total-order top-k/argmax tiebreaks, bounded-domain windows only,
explicit ``floor()`` before any double->integer bucket, DOUBLE-cast
literals where DuckDB would infer DECIMAL, and the shared
Abramowitz-Stegun erfc tree (``stats_tests._p_two_sided_sql``) for
normal tails — neither engine ships ``erf`` in SQL.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from . import register as _live_register
from .common import (
    COS24,
    DAILY_EVENT_CORR3_SQL,
    NATION_EFFECTS_SQL,
    SIN24,
    case_sql,
    daily_event_corr3,
    dec,
    nation_effects,
    t,
)

BANK_QUERIES: dict = {}
BANK_ORACLES: dict = {}


def register(name: str, oracle: str | None = None):
    """Registers live via ``plans.register`` AND records the name in
    the bank dicts so ``tests/test_bank_r15.py`` keeps gate-mirroring
    the whole flipped set independently of the registry (the same flip
    protocol bank_r11..r14 used)."""

    live = _live_register(name, oracle)

    def deco(fn):
        BANK_QUERIES[name] = fn
        if oracle is not None:
            BANK_ORACLES[name] = oracle
        return live(fn)

    return deco


# --------------------------------------------------------------------------
# Egger funnel-plot asymmetry + Begg-style rank correlation
# --------------------------------------------------------------------------
@register(
    "egger_funnel_asymmetry",
    oracle=f"""
    WITH {NATION_EFFECTS_SQL},
    pts AS (
        SELECT nk,
               round(y / sqrt(v), 8) AS z,
               round(1.0 / sqrt(v), 8) AS prec,
               y, v
        FROM eff
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(round(prec, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sx,
               CAST(SUM(CAST(round(z, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sy,
               CAST(SUM(CAST(round(prec * prec, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sxx,
               CAST(SUM(CAST(round(prec * z, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sxy,
               CAST(SUM(CAST(round(z * z, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS syy
        FROM pts
    ),
    fit AS (
        SELECT k, sxx,
               (k * sxy - sx * sy) / (k * sxx - sx * sx) AS b,
               sy / k - (k * sxy - sx * sy) / (k * sxx - sx * sx)
                   * sx / k AS a,
               (syy - sy * sy / k)
               - (k * sxy - sx * sy) * (k * sxy - sx * sy)
                 / (k * (k * sxx - sx * sx)) AS ssr,
               (k * sxx - sx * sx) / k AS sxxc
        FROM m
    ),
    tau AS (
        SELECT CAST(SUM(CASE WHEN (a.y - b.y) * (a.v - b.v) > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS conc,
               CAST(SUM(CASE WHEN (a.y - b.y) * (a.v - b.v) < 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS disc,
               CAST(COUNT(*) AS BIGINT) AS np
        FROM pts a JOIN pts b ON a.nk < b.nk
    )
    SELECT f.k AS k_studies,
           round(f.a, 6) + 0.0 AS egger_intercept,
           round(f.a / sqrt(f.ssr / (f.k - 2) * f.sxx
                            / (f.k * f.sxxc)), 6) + 0.0 AS egger_t,
           round(f.b, 6) + 0.0 AS egger_slope,
           round((t.conc - t.disc) * 1.0 / t.np, 6) + 0.0
               AS begg_kendall_tau
    FROM fit f, tau t
    """,
)
def egger_funnel_asymmetry(spark, sf_dir):
    """Egger regression asymmetry test + a Begg-style rank
    correlation over the same 25-nation effect frame as
    ``dersimonian_laird_meta`` — the small-study/selection-bias audit:
    regress the standardized effect z_i = y_i/se_i on precision
    1/se_i; under no asymmetry the intercept is 0, and t = a/se(a)
    flags funnel skew. The Begg companion is Kendall tau-a between
    effect and variance over the 300 study pairs (exact integer
    concordance counts on 8 dp-rounded doubles).

    Determinism: z and precision rounded at 8 dp before the OLS
    moments; moments folded through DECIMAL(38,8); intercept/slope/t
    are terminal double expressions; pair counts are exact integers.
    Scale: identical to the DL query — one fact equi-join + hash
    rollup; the regression and the 25x25 pair join live on the
    25-row study domain."""
    eff = nation_effects(spark, sf_dir)
    pts = eff.select(
        "nk",
        F.round(F.col("y") / F.sqrt("v"), 8).alias("z"),
        F.round(1.0 / F.sqrt("v"), 8).alias("prec"),
        "y",
        "v",
    )
    r8 = lambda c: F.round(c, 8).cast("decimal(38,8)")  # noqa: E731
    m = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(r8(F.col("prec"))).cast("double").alias("sx"),
        F.sum(r8(F.col("z"))).cast("double").alias("sy"),
        F.sum(r8(F.col("prec") * F.col("prec")))
        .cast("double")
        .alias("sxx"),
        F.sum(r8(F.col("prec") * F.col("z")))
        .cast("double")
        .alias("sxy"),
        F.sum(r8(F.col("z") * F.col("z"))).cast("double").alias("syy"),
    )
    k, sx, sy = F.col("k"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    b = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    fit = m.select(
        "k",
        "sxx",
        b.alias("b"),
        (sy / k - b * sx / k).alias("a"),
        (
            (syy - sy * sy / k)
            - (k * sxy - sx * sy)
            * (k * sxy - sx * sy)
            / (k * (k * sxx - sx * sx))
        ).alias("ssr"),
        ((k * sxx - sx * sx) / k).alias("sxxc"),
    )
    pa, pb = pts.alias("pa"), pts.alias("pb")
    dy = F.col("pa.y") - F.col("pb.y")
    dv = F.col("pa.v") - F.col("pb.v")
    tau = (
        pa.join(pb, F.col("pa.nk") < F.col("pb.nk"))
        .agg(
            F.sum(F.when(dy * dv > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("conc"),
            F.sum(F.when(dy * dv < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("disc"),
            F.count(F.lit(1)).cast("bigint").alias("np"),
        )
    )
    return fit.crossJoin(F.broadcast(tau)).select(
        F.col("k").alias("k_studies"),
        (F.round("a", 6) + 0.0).alias("egger_intercept"),
        (
            F.round(
                F.col("a")
                / F.sqrt(
                    F.col("ssr")
                    / (F.col("k") - 2)
                    * F.col("sxx")
                    / (F.col("k") * F.col("sxxc"))
                ),
                6,
            )
            + 0.0
        ).alias("egger_t"),
        (F.round("b", 6) + 0.0).alias("egger_slope"),
        (
            F.round(
                (F.col("conc") - F.col("disc")) * 1.0 / F.col("np"), 6
            )
            + 0.0
        ).alias("begg_kendall_tau"),
    )


# --------------------------------------------------------------------------
# D'Agostino-Pearson K² normality panel
# --------------------------------------------------------------------------
@register(
    "dagostino_k2_panel",
    oracle="""
    WITH m AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS s1,
               CAST(SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                  AS BIGINT) AS DECIMAL(38,0))
                        * CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                    AS BIGINT) AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS s2,
               CAST(SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                  AS BIGINT) AS DECIMAL(38,0))
                        * CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                    AS BIGINT) AS DECIMAL(38,0))
                        * CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                    AS BIGINT) AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS s3,
               CAST(SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                  AS BIGINT) AS DECIMAL(38,0))
                        * CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                    AS BIGINT) AS DECIMAL(38,0))
                        * CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                    AS BIGINT) AS DECIMAL(38,0))
                        * CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                    AS BIGINT) AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS s4
        FROM events GROUP BY 1
    ),
    cm AS (
        SELECT event_type, n,
               CAST(s2 AS DOUBLE) / n
                   - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                   AS m2,
               CAST(s3 AS DOUBLE) / n
                   - 3.0 * (CAST(s1 AS DOUBLE) / n)
                     * CAST(s2 AS DOUBLE) / n
                   + 2.0 * (CAST(s1 AS DOUBLE) / n)
                     * (CAST(s1 AS DOUBLE) / n)
                     * (CAST(s1 AS DOUBLE) / n) AS m3,
               CAST(s4 AS DOUBLE) / n
                   - 4.0 * (CAST(s1 AS DOUBLE) / n)
                     * CAST(s3 AS DOUBLE) / n
                   + 6.0 * (CAST(s1 AS DOUBLE) / n)
                     * (CAST(s1 AS DOUBLE) / n)
                     * CAST(s2 AS DOUBLE) / n
                   - 3.0 * (CAST(s1 AS DOUBLE) / n)
                     * (CAST(s1 AS DOUBLE) / n)
                     * (CAST(s1 AS DOUBLE) / n)
                     * (CAST(s1 AS DOUBLE) / n) AS m4
        FROM m
    ),
    g AS (
        SELECT event_type, n,
               m3 / (m2 * sqrt(m2)) AS g1,
               m4 / (m2 * m2) AS b2
        FROM cm
    ),
    z1c AS (
        SELECT event_type, n, g1, b2,
               g1 * sqrt((CAST(n AS DOUBLE) + 1) * (n + 3)
                         / (6.0 * (n - 2))) AS yy,
               3.0 * (CAST(n AS DOUBLE) * n + 27 * n - 70) * (n + 1)
                   * (n + 3)
                   / ((CAST(n AS DOUBLE) - 2) * (n + 5) * (n + 7)
                      * (n + 9)) AS beta2
        FROM g
    ),
    z1 AS (
        SELECT event_type, n, g1, b2,
               (1.0 / sqrt(ln(sqrt(-1.0 + sqrt(2.0 * (beta2 - 1))))))
               * ln(yy / sqrt(2.0 / (-1.0 + sqrt(2.0 * (beta2 - 1)) - 1))
                    + sqrt((yy / sqrt(2.0
                                      / (-1.0 + sqrt(2.0 * (beta2 - 1))
                                         - 1)))
                           * (yy / sqrt(2.0
                                        / (-1.0
                                           + sqrt(2.0 * (beta2 - 1))
                                           - 1)))
                           + 1.0)) AS zs
        FROM z1c
    ),
    z2c AS (
        SELECT event_type, n, g1, b2, zs,
               (b2 - 3.0 * (n - 1) / (CAST(n AS DOUBLE) + 1))
               / sqrt(24.0 * n * (n - 2) * (n - 3)
                      / ((CAST(n AS DOUBLE) + 1) * (n + 1) * (n + 3)
                         * (n + 5))) AS x,
               6.0 * (CAST(n AS DOUBLE) * n - 5 * n + 2)
                   / ((n + 7.0) * (n + 9))
                   * sqrt(6.0 * (n + 3) * (n + 5)
                          / (CAST(n AS DOUBLE) * (n - 2) * (n - 3)))
                   AS sb1
        FROM z1
    ),
    z2 AS (
        SELECT event_type, n, g1, b2, zs,
               ((1.0 - 2.0 / (9.0 * (6.0 + 8.0 / sb1
                                     * (2.0 / sb1
                                        + sqrt(1.0 + 4.0 / (sb1 * sb1))))))
                - cbrt((1.0 - 2.0 / (6.0 + 8.0 / sb1
                                     * (2.0 / sb1
                                        + sqrt(1.0 + 4.0 / (sb1 * sb1)))))
                       / (1.0 + x * sqrt(2.0 / ((6.0 + 8.0 / sb1
                                                 * (2.0 / sb1
                                                    + sqrt(1.0
                                                           + 4.0
                                                             / (sb1 * sb1))))
                                                - 4.0)))))
               / sqrt(2.0 / (9.0 * (6.0 + 8.0 / sb1
                                    * (2.0 / sb1
                                       + sqrt(1.0 + 4.0 / (sb1 * sb1))))))
                   AS zk
        FROM z2c
    )
    SELECT event_type, n,
           round(g1, 6) + 0.0 AS skew_g1,
           round(b2, 6) + 0.0 AS kurt_b2,
           round(zs, 6) + 0.0 AS z1_skew,
           round(zk, 6) + 0.0 AS z2_kurt,
           round(zs * zs + zk * zk, 6) + 0.0 AS k2_stat,
           round(exp(-(zs * zs + zk * zk) / 2.0), 9) + 0.0 AS p_k2
    FROM z2
    ORDER BY event_type
    """,
)
def dagostino_k2_panel(spark, sf_dir):
    """D'Agostino-Pearson K² omnibus normality panel per event type —
    the production companion to the registry's Jarque-Bera (X226): JB's
    asymptotics need n in the tens of thousands, while D'Agostino's
    transformed z₁ (D'Agostino 1970 skewness) and z₂ (Anscombe-Glynn
    1983 kurtosis) are calibrated at the n a per-segment readout
    actually has. K² = z₁² + z₂² is χ²(2), so p = exp(−K²/2) in closed
    form — no erf needed.

    Exact central moments from four DECIMAL(38,0) cents power sums per
    type (the jarque_bera device); every transform is a terminal
    scalar expression on doubles with IDENTICAL trees in both engines
    (`cbrt` handles the negative-operand cube root). One hash
    aggregate over events; the panel frame is the 5-type domain.
    Output ordered by event_type (deterministic total order)."""
    e = t(spark, sf_dir, "events")
    cents = (dec("value", 18, 2) * 100).cast("bigint")
    cd = cents.cast("decimal(38,0)")
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(cents).cast("bigint").alias("s1"),
        F.sum(cd * cd).cast("decimal(38,0)").alias("s2"),
        F.sum(cd * cd * cd).cast("decimal(38,0)").alias("s3"),
        F.sum(cd * cd * cd * cd).cast("decimal(38,0)").alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n - mu * mu
    m3 = (
        F.col("s3").cast("double") / n
        - 3.0 * mu * F.col("s2").cast("double") / n
        + 2.0 * mu * mu * mu
    )
    m4 = (
        F.col("s4").cast("double") / n
        - 4.0 * mu * F.col("s3").cast("double") / n
        + 6.0 * mu * mu * F.col("s2").cast("double") / n
        - 3.0 * mu * mu * mu * mu
    )
    g = m.select(
        "event_type",
        "n",
        (m3 / (m2 * F.sqrt(m2))).alias("g1"),
        (m4 / (m2 * m2)).alias("b2"),
    )
    nd = n.cast("double")
    yy = F.col("g1") * F.sqrt((nd + 1) * (n + 3) / (6.0 * (n - 2)))
    beta2 = (
        3.0
        * (nd * n + 27 * n - 70)
        * (n + 1)
        * (n + 3)
        / ((nd - 2) * (n + 5) * (n + 7) * (n + 9))
    )
    w2m1 = -1.0 + F.sqrt(2.0 * (beta2 - 1)) - 1  # W^2 - 1
    alpha = F.sqrt(2.0 / w2m1)
    delta = 1.0 / F.sqrt(
        F.log(F.sqrt(-1.0 + F.sqrt(2.0 * (beta2 - 1))))
    )
    zs = delta * F.log(
        yy / alpha + F.sqrt((yy / alpha) * (yy / alpha) + 1.0)
    )
    z1 = g.select("event_type", "n", "g1", "b2", zs.alias("zs"))
    x = (F.col("b2") - 3.0 * (n - 1) / (nd + 1)) / F.sqrt(
        24.0 * n * (n - 2) * (n - 3) / ((nd + 1) * (n + 1) * (n + 3) * (n + 5))
    )
    sb1 = (
        6.0
        * (nd * n - 5 * n + 2)
        / ((n + 7.0) * (n + 9))
        * F.sqrt(6.0 * (n + 3) * (n + 5) / (nd * (n - 2) * (n - 3)))
    )
    z2c = z1.select(
        "event_type", "n", "g1", "b2", "zs", x.alias("x"), sb1.alias("sb1")
    )
    a_ = 6.0 + 8.0 / F.col("sb1") * (
        2.0 / F.col("sb1") + F.sqrt(1.0 + 4.0 / (F.col("sb1") * F.col("sb1")))
    )
    zk = (
        (1.0 - 2.0 / (9.0 * a_))
        - F.cbrt(
            (1.0 - 2.0 / a_)
            / (1.0 + F.col("x") * F.sqrt(2.0 / (a_ - 4.0)))
        )
    ) / F.sqrt(2.0 / (9.0 * a_))
    z2 = z2c.select("event_type", "n", "g1", "b2", "zs", zk.alias("zk"))
    k2 = F.col("zs") * F.col("zs") + F.col("zk") * F.col("zk")
    return z2.select(
        "event_type",
        "n",
        (F.round("g1", 6) + 0.0).alias("skew_g1"),
        (F.round("b2", 6) + 0.0).alias("kurt_b2"),
        (F.round("zs", 6) + 0.0).alias("z1_skew"),
        (F.round("zk", 6) + 0.0).alias("z2_kurt"),
        (F.round(k2, 6) + 0.0).alias("k2_stat"),
        (F.round(F.exp(-k2 / 2.0), 9) + 0.0).alias("p_k2"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# MOSUM structural-break monitor
# --------------------------------------------------------------------------
@register(
    "mosum_break_monitor",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS day,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    gs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s,
               CAST(SUM(CAST(y AS DECIMAL(38,0))
                        * CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0))
                   AS ss
        FROM daily
    ),
    win AS (
        SELECT day,
               CAST(SUM(y) OVER (ORDER BY day
                                 ROWS BETWEEN 29 PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS w,
               CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS rn
        FROM daily
    ),
    num AS (
        -- n-scaled exact integer MOSUM numerator: n*W_k - 30*S
        SELECT w2.day,
               CAST(gs.n AS DECIMAL(38,0)) * w2.w
                   - CAST(30 AS DECIMAL(38,0)) * gs.s AS e
        FROM win w2, gs
        WHERE w2.rn >= 30
    ),
    top AS (
        SELECT day, abs(e) AS ae
        FROM num
        ORDER BY abs(e) DESC, day ASC
        LIMIT 1
    )
    SELECT gs.n AS n_days,
           CAST(30 AS INT) AS h_window,
           top.day AS argmax_day,
           round(CAST(top.ae AS DOUBLE) / gs.n
                 / sqrt((CAST(gs.ss AS DOUBLE)
                         - CAST(gs.s AS DOUBLE) * gs.s / gs.n)
                        / (gs.n - 1))
                 / sqrt(30.0), 6) + 0.0
               AS max_mosum_std,
           CAST((SELECT COUNT(*) FROM num, gs g2
                 WHERE abs(CAST(e AS DOUBLE)) / g2.n
                       / sqrt((CAST(g2.ss AS DOUBLE)
                               - CAST(g2.s AS DOUBLE) * g2.s / g2.n)
                              / (g2.n - 1))
                       / sqrt(30.0) > 3.0) AS BIGINT) AS n_exceed_3
    FROM gs, top
    """,
)
def mosum_break_monitor(spark, sf_dir):
    """MOSUM (moving-sum) structural-break monitor over daily order
    revenue — the windowed companion to the registry's CUSUM scan:
    where CUSUM accumulates from the series start (power decays for
    late breaks), the h=30-day moving sum of mean-deviations has
    uniform power at any break location; the monitor statistic is
    max_k |Σ_{k-29..k}(y_i − ȳ)| / (σ̂√h), with the boundary-crossing
    count at the conventional 3.0 level.

    Exactness device (the grubbs/cusum class): the numerator is kept
    as the n-scaled EXACT integer n·W_k − h·S in DECIMAL(38,0) (W_k
    the 30-day window sum, S the grand sum — at 100 TB cents scale
    n·W_k needs >63 bits), so the argmax and its day tiebreak are
    integer-exact; σ̂ enters once, in the terminal scalar. Plan: one
    day rollup; the ROWS window and row_number run on the
    calendar-day frame (bounded domain); the top-1 is a
    TakeOrderedAndProject under the (|e| desc, day asc) total order."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    yd = F.col("y").cast("decimal(38,0)")
    gs = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(yd * yd).cast("decimal(38,0)").alias("ss"),
    )
    wspec = Window.orderBy("day")
    win = daily.select(
        "day",
        F.sum("y")
        .over(wspec.rowsBetween(-29, 0))
        .cast("bigint")
        .alias("w"),
        F.row_number().over(wspec).cast("bigint").alias("rn"),
    ).where(F.col("rn") >= 30)
    num = win.crossJoin(F.broadcast(gs)).select(
        "day",
        "n",
        "s",
        "ss",
        (
            F.col("n").cast("decimal(38,0)") * F.col("w")
            - F.lit(30).cast("decimal(38,0)") * F.col("s")
        ).alias("e"),
    )
    sigma = F.sqrt(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n")
        )
        / (F.col("n") - 1)
    )
    std = F.abs(F.col("e").cast("double")) / F.col("n") / sigma / F.sqrt(
        F.lit(30.0)
    )
    exceed = num.agg(
        F.sum(F.when(std > 3.0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_exceed_3")
    )
    top = num.orderBy(F.abs(F.col("e")).desc(), F.col("day").asc()).limit(1)
    return (
        top.crossJoin(F.broadcast(exceed))
        .select(
            F.col("n").alias("n_days"),
            F.lit(30).cast("int").alias("h_window"),
            F.col("day").alias("argmax_day"),
            (
                F.round(
                    F.abs(F.col("e").cast("double"))
                    / F.col("n")
                    / sigma
                    / F.sqrt(F.lit(30.0)),
                    6,
                )
                + 0.0
            ).alias("max_mosum_std"),
            "n_exceed_3",
        )
    )


PLAN_AUDIT_NOTES: dict[str, str] = {
    "mosum_break_monitor": (
        "ROWS window + row_number over the calendar-day frame "
        "(bounded domain — the cusum class)"
    ),
}


# --------------------------------------------------------------------------
# Lomb-Scargle periodogram on the irregularly-sampled error-rate series
# --------------------------------------------------------------------------
def _lut24(col, table):
    out = F.lit(None).cast("double")
    for k in range(24):
        out = F.when(col == k, F.lit(table[k])).otherwise(out)
    return out


def _ls_power_sql(i1: str, i2: str):
    """SQL fragments for one Lomb-Scargle frequency: the five folded
    sums over angle indexes i1 (wt mod 2pi, in 24ths) and i2 (2wt)."""
    c1, s1 = case_sql(i1, COS24), case_sql(i1, SIN24)
    c2, s2 = case_sql(i2, COS24), case_sql(i2, SIN24)
    return {
        "yc": f"CAST(SUM(CAST(round(ydev * {c1}, 8) AS DECIMAL(38,8))) AS DOUBLE)",
        "ys": f"CAST(SUM(CAST(round(ydev * {s1}, 8) AS DECIMAL(38,8))) AS DOUBLE)",
        "cc": f"CAST(SUM(CAST(round({c1} * {c1}, 8) AS DECIMAL(38,8))) AS DOUBLE)",
        "ss": f"CAST(SUM(CAST(round({s1} * {s1}, 8) AS DECIMAL(38,8))) AS DOUBLE)",
        "cs": f"CAST(SUM(CAST(round({c1} * {s1}, 8) AS DECIMAL(38,8))) AS DOUBLE)",
        "c2": f"CAST(SUM(CAST(round({c2}, 8) AS DECIMAL(38,8))) AS DOUBLE)",
        "s2": f"CAST(SUM(CAST(round({s2}, 8) AS DECIMAL(38,8))) AS DOUBLE)",
    }


@register(
    "lomb_scargle_uneven",
    oracle=f"""
    WITH hh AS (
        SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events WHERE event_type = 'error'
        GROUP BY 1
    ),
    gm AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(y) AS BIGINT) AS ntot
        FROM hh
    ),
    dev AS (
        SELECT h, round(y - CAST(gm.ntot AS DOUBLE) / gm.m, 8) AS ydev,
               CAST(h % 24 AS BIGINT) AS i1,
               CAST((2 * h) % 24 AS BIGINT) AS i2,
               CAST((4 * h) % 24 AS BIGINT) AS i4
        FROM hh, gm
    ),
    sums AS (
        SELECT
            {_ls_power_sql("i1", "i2")["yc"]} AS yc24,
            {_ls_power_sql("i1", "i2")["ys"]} AS ys24,
            {_ls_power_sql("i1", "i2")["cc"]} AS cc24,
            {_ls_power_sql("i1", "i2")["ss"]} AS ss24,
            {_ls_power_sql("i1", "i2")["cs"]} AS cs24,
            {_ls_power_sql("i1", "i2")["c2"]} AS c224,
            {_ls_power_sql("i1", "i2")["s2"]} AS s224,
            {_ls_power_sql("i2", "i4")["yc"]} AS yc12,
            {_ls_power_sql("i2", "i4")["ys"]} AS ys12,
            {_ls_power_sql("i2", "i4")["cc"]} AS cc12,
            {_ls_power_sql("i2", "i4")["ss"]} AS ss12,
            {_ls_power_sql("i2", "i4")["cs"]} AS cs12,
            {_ls_power_sql("i2", "i4")["c2"]} AS c212,
            {_ls_power_sql("i2", "i4")["s2"]} AS s212,
            CAST(SUM(CAST(round(ydev * ydev, 8) AS DECIMAL(38,8)))
                 AS DOUBLE) AS sdev2
        FROM dev
    ),
    tau AS (
        SELECT s.*, gm.m, gm.ntot,
               sdev2 / (gm.m - 1) AS vary,
               sqrt(greatest(0.0, (1.0 + c224
                    / NULLIF(sqrt(c224 * c224 + s224 * s224), 0))
                    / 2.0)) AS cq24,
               (CASE WHEN s224 >= 0 THEN 1.0 ELSE -1.0 END)
               * sqrt(greatest(0.0, (1.0 - c224
                      / NULLIF(sqrt(c224 * c224 + s224 * s224), 0))
                      / 2.0)) AS sq24,
               sqrt(greatest(0.0, (1.0 + c212
                    / NULLIF(sqrt(c212 * c212 + s212 * s212), 0))
                    / 2.0)) AS cq12,
               (CASE WHEN s212 >= 0 THEN 1.0 ELSE -1.0 END)
               * sqrt(greatest(0.0, (1.0 - c212
                      / NULLIF(sqrt(c212 * c212 + s212 * s212), 0))
                      / 2.0)) AS sq12
        FROM sums s, gm
    ),
    pw AS (
        SELECT m, ntot,
            (  (cq24 * yc24 + sq24 * ys24) * (cq24 * yc24 + sq24 * ys24)
               / NULLIF(cq24 * cq24 * cc24 + 2 * cq24 * sq24 * cs24
                        + sq24 * sq24 * ss24, 0)
             + (cq24 * ys24 - sq24 * yc24) * (cq24 * ys24 - sq24 * yc24)
               / NULLIF(cq24 * cq24 * ss24 - 2 * cq24 * sq24 * cs24
                        + sq24 * sq24 * cc24, 0)
            ) / (2.0 * vary) AS p24,
            (  (cq12 * yc12 + sq12 * ys12) * (cq12 * yc12 + sq12 * ys12)
               / NULLIF(cq12 * cq12 * cc12 + 2 * cq12 * sq12 * cs12
                        + sq12 * sq12 * ss12, 0)
             + (cq12 * ys12 - sq12 * yc12) * (cq12 * ys12 - sq12 * yc12)
               / NULLIF(cq12 * cq12 * ss12 - 2 * cq12 * sq12 * cs12
                        + sq12 * sq12 * cc12, 0)
            ) / (2.0 * vary) AS p12
        FROM tau
    )
    SELECT m AS m_hours, ntot AS n_errors,
           round(p24, 6) + 0.0 AS power_24h,
           round(p12, 6) + 0.0 AS power_12h,
           CAST(CASE WHEN p24 >= p12 THEN 24 ELSE 12 END AS INT)
               AS dominant_period_h
    FROM pw
    """,
)
def lomb_scargle_uneven(spark, sf_dir):
    """Lomb-Scargle periodogram of the error-event rate at candidate
    periods 24 h and 12 h — the spectral tool for IRREGULARLY sampled
    series (the registry's DFT periodogram X236 needs an evenly spaced
    grid; the hours that happen to contain errors do not form one).
    Classical Scargle form with the per-frequency phase offset tau
    that diagonalizes the normal equations; power normalized by 2 x
    the sample variance of the observed series.

    Trig discipline: every angle is w*t or 2w*t with t an INTEGER
    epoch hour and w in {{2pi/24, 2pi/12}}, so all angles live on the
    24-point unit-circle grid — the shared 10-dp literal table
    (`rayleigh_circular_hours` device) replaces libm trig entirely.
    cos/sin(w*tau) come from the HALF-ANGLE identity on the folded
    doubled-angle sums (pure sqrt algebra — no atan2/cos of
    data-dependent arguments anywhere). All folds are 8-dp-rounded
    DECIMAL(38,8) (order-independent); the power is one terminal
    double expression. Plan: one hour rollup of the filtered scan,
    one scalar aggregate over the observed-hour frame."""
    e = t(spark, sf_dir, "events")
    hh = (
        e.where(F.col("event_type") == "error")
        .groupBy(
            F.floor(F.unix_micros("ts") / 3_600_000_000)
            .cast("bigint")
            .alias("h")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    gm = hh.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("y").cast("bigint").alias("ntot"),
    )
    dev = hh.crossJoin(F.broadcast(gm)).select(
        "m",
        "ntot",
        F.round(
            F.col("y") - F.col("ntot").cast("double") / F.col("m"), 8
        ).alias("ydev"),
        (F.col("h") % 24).cast("bigint").alias("i1"),
        ((2 * F.col("h")) % 24).cast("bigint").alias("i2"),
        ((4 * F.col("h")) % 24).cast("bigint").alias("i4"),
    )
    r8 = lambda c: F.round(c, 8).cast("decimal(38,8)")  # noqa: E731

    def fold(expr):
        return F.sum(r8(expr)).cast("double")

    def sums_for(i1, i2, tag):
        c1, s1 = _lut24(F.col(i1), COS24), _lut24(F.col(i1), SIN24)
        c2, s2 = _lut24(F.col(i2), COS24), _lut24(F.col(i2), SIN24)
        return [
            fold(F.col("ydev") * c1).alias(f"yc{tag}"),
            fold(F.col("ydev") * s1).alias(f"ys{tag}"),
            fold(c1 * c1).alias(f"cc{tag}"),
            fold(s1 * s1).alias(f"ss{tag}"),
            fold(c1 * s1).alias(f"cs{tag}"),
            fold(c2).alias(f"c2{tag}"),
            fold(s2).alias(f"s2{tag}"),
        ]

    sums = dev.groupBy("m", "ntot").agg(
        *sums_for("i1", "i2", "24"),
        *sums_for("i2", "i4", "12"),
        fold(F.col("ydev") * F.col("ydev")).alias("sdev2"),
    )

    def halfangle(tag):
        c2x, s2x = F.col(f"c2{tag}"), F.col(f"s2{tag}")
        rr = F.nullif(F.sqrt(c2x * c2x + s2x * s2x), F.lit(0.0))
        cq = F.sqrt(F.greatest(F.lit(0.0), (1.0 + c2x / rr) / 2.0))
        sq = F.when(s2x >= 0, F.lit(1.0)).otherwise(-1.0) * F.sqrt(
            F.greatest(F.lit(0.0), (1.0 - c2x / rr) / 2.0)
        )
        return cq, sq

    def power(tag, cq, sq, varyc):
        yc, ys = F.col(f"yc{tag}"), F.col(f"ys{tag}")
        cc, ss, cs = (
            F.col(f"cc{tag}"),
            F.col(f"ss{tag}"),
            F.col(f"cs{tag}"),
        )
        a = cq * yc + sq * ys
        b = cq * ys - sq * yc
        d1 = F.nullif(cc * cq * cq + 2 * cq * sq * cs + sq * sq * ss, F.lit(0.0))
        d2 = F.nullif(ss * cq * cq - 2 * cq * sq * cs + sq * sq * cc, F.lit(0.0))
        return (a * a / d1 + b * b / d2) / (2.0 * varyc)

    varyc = F.col("sdev2") / (F.col("m") - 1)
    cq24, sq24 = halfangle("24")
    cq12, sq12 = halfangle("12")
    p24 = power("24", cq24, sq24, varyc)
    p12 = power("12", cq12, sq12, varyc)
    return sums.select(
        F.col("m").alias("m_hours"),
        F.col("ntot").alias("n_errors"),
        (F.round(p24, 6) + 0.0).alias("power_24h"),
        (F.round(p12, 6) + 0.0).alias("power_12h"),
        F.when(p24 >= p12, F.lit(24))
        .otherwise(F.lit(12))
        .cast("int")
        .alias("dominant_period_h"),
    )


# --------------------------------------------------------------------------
# Detrended fluctuation analysis (DFA-1) of daily revenue
# --------------------------------------------------------------------------
@register(
    "dfa_alpha_longmemory",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS day,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    gs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s
        FROM daily
    ),
    prof AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS k,
               CAST(CAST(gs.n AS DECIMAL(38,0))
                    * SUM(y) OVER (ORDER BY day
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW)
                    - CAST(ROW_NUMBER() OVER (ORDER BY day)
                           AS DECIMAL(38,0)) * gs.s
                    AS DECIMAL(19,0)) AS p,
               gs.n
        FROM daily, gs
    ),
    boxed AS (
        SELECT b.b, (prof.k - 1) // b.b AS box,
               prof.k AS k, prof.p AS p
        FROM prof CROSS JOIN (VALUES (8), (16), (32)) b(b)
        WHERE prof.k <= b.b * (prof.n // b.b)
    ),
    bm AS (
        SELECT b, box,
               CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(k) AS BIGINT) AS sx,
               CAST(SUM(k * k) AS BIGINT) AS sxx,
               CAST(SUM(p) AS DECIMAL(38,0)) AS sp,
               CAST(SUM(CAST(k AS DECIMAL(18,0)) * p) AS DECIMAL(38,0))
                   AS skp,
               CAST(SUM(p * p) AS DECIMAL(38,0)) AS spp
        FROM boxed GROUP BY 1, 2
    ),
    ssr AS (
        SELECT b,
               CAST(COUNT(*) AS BIGINT) AS nboxes,
               CAST(SUM(
                   (CAST(spp AS DOUBLE)
                    - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / m)
                   - (CAST(skp AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sp AS DOUBLE) / m)
                     * (CAST(skp AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sp AS DOUBLE) / m)
                     / (CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * sx / m)
               ) AS DOUBLE) AS sumssr
        FROM bm GROUP BY 1
    ),
    f AS (
        SELECT b, nboxes,
               sqrt(sumssr / (nboxes * b)) AS fb
        FROM ssr
    ),
    wide AS (
        SELECT MAX(CASE WHEN b = 8 THEN fb END) AS f8,
               MAX(CASE WHEN b = 16 THEN fb END) AS f16,
               MAX(CASE WHEN b = 32 THEN fb END) AS f32,
               MAX(CASE WHEN b = 8 THEN nboxes END) AS nb8
        FROM f
    )
    SELECT gs.n AS n_days,
           wide.nb8 AS n_boxes_8,
           round(wide.f8 / gs.n / 100.0, 6) + 0.0 AS f8_usd,
           round(wide.f16 / gs.n / 100.0, 6) + 0.0 AS f16_usd,
           round(wide.f32 / gs.n / 100.0, 6) + 0.0 AS f32_usd,
           round(ln(wide.f32 / wide.f8) / (2.0 * ln(2.0)), 6) + 0.0
               AS dfa_alpha
    FROM gs, wide
    """,
)
def dfa_alpha_longmemory(spark, sf_dir):
    """Detrended fluctuation analysis (DFA-1) of daily revenue at box
    sizes 8/16/32 days — the long-memory diagnostic that, unlike the
    registry's Hurst R/S (X223), is unbiased under nonstationary
    level shifts because each box removes its own linear trend. alpha
    ~ 0.5 is short-memory, >0.5 persistent, approaching 1 is 1/f.

    Exactness device: the cumulative profile is kept as the n-scaled
    EXACT integer P_k = n*C_k - k*S in DECIMAL(19,0) (the mosum/
    grubbs class — at 100 TB cents scale n*C_k needs >63 bits, and
    19 digits keeps the P*P power sum inside DECIMAL(38,0) in BOTH
    engines' static typing); per-box OLS residual sums fold through
    exact decimal power sums, and the detrended variance is a
    terminal double expression per box. alpha is the closed-form OLS
    slope over the three log-equispaced scales, which reduces to
    ln(F32/F8)/(2 ln 2) (the n-scaling cancels in the ratio). Plan:
    one day rollup; row_number + running sum on the calendar-day
    frame (bounded domain); the 3x box explode is day-grid-sized."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    gs = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
    )
    wspec = Window.orderBy("day")
    prof = (
        daily.select(
            F.row_number().over(wspec).cast("bigint").alias("k"),
            F.sum("y")
            .over(wspec.rowsBetween(Window.unboundedPreceding, 0))
            .cast("bigint")
            .alias("c"),
        )
        .crossJoin(F.broadcast(gs))
        .select(
            "k",
            "n",
            (
                F.col("n").cast("decimal(38,0)") * F.col("c")
                - F.col("k").cast("decimal(38,0)") * F.col("s")
            )
            .cast("decimal(19,0)")
            .alias("p"),
        )
    )
    boxed = prof.select(
        "k",
        "p",
        "n",
        F.explode(F.array(F.lit(8), F.lit(16), F.lit(32))).alias("b"),
    ).where(F.col("k") <= F.col("b") * F.floor(F.col("n") / F.col("b")))
    kd = F.col("k").cast("decimal(18,0)")
    bm = boxed.groupBy(
        "b", F.floor((F.col("k") - 1) / F.col("b")).alias("box")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("k").cast("bigint").alias("sx"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("sxx"),
        F.sum("p").cast("decimal(38,0)").alias("sp"),
        F.sum(kd * F.col("p")).cast("decimal(38,0)").alias("skp"),
        F.sum(F.col("p") * F.col("p")).cast("decimal(38,0)").alias("spp"),
    )
    spd = F.col("sp").cast("double")
    skpd = F.col("skp").cast("double")
    sppd = F.col("spp").cast("double")
    sxd = F.col("sx").cast("double")
    sxxd = F.col("sxx").cast("double")
    m = F.col("m")
    ssr_expr = (sppd - spd * spd / m) - (skpd - sxd * spd / m) * (
        skpd - sxd * spd / m
    ) / (sxxd - sxd * F.col("sx") / m)
    ssr = bm.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("nboxes"),
        F.sum(ssr_expr).cast("double").alias("sumssr"),
    )
    f = ssr.select(
        "b",
        "nboxes",
        F.sqrt(F.col("sumssr") / (F.col("nboxes") * F.col("b"))).alias(
            "fb"
        ),
    )
    wide = f.agg(
        F.max(F.when(F.col("b") == 8, F.col("fb"))).alias("f8"),
        F.max(F.when(F.col("b") == 16, F.col("fb"))).alias("f16"),
        F.max(F.when(F.col("b") == 32, F.col("fb"))).alias("f32"),
        F.max(F.when(F.col("b") == 8, F.col("nboxes"))).alias("nb8"),
    )
    return wide.crossJoin(F.broadcast(gs)).select(
        F.col("n").alias("n_days"),
        F.col("nb8").alias("n_boxes_8"),
        (F.round(F.col("f8") / F.col("n") / 100.0, 6) + 0.0).alias(
            "f8_usd"
        ),
        (F.round(F.col("f16") / F.col("n") / 100.0, 6) + 0.0).alias(
            "f16_usd"
        ),
        (F.round(F.col("f32") / F.col("n") / 100.0, 6) + 0.0).alias(
            "f32_usd"
        ),
        (
            F.round(
                F.log(F.col("f32") / F.col("f8"))
                / (2.0 * F.log(F.lit(2.0))),
                6,
            )
            + 0.0
        ).alias("dfa_alpha"),
    )


# --------------------------------------------------------------------------
# Cochrane-Orcutt AR(1) feasible-GLS trend repair
# --------------------------------------------------------------------------
@register(
    "cochrane_orcutt_ar1",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    m1 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(d) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(d * d) AS BIGINT) AS sxx,
               CAST(SUM(CAST(d AS DECIMAL(19,0)) * y) AS DECIMAL(38,0))
                   AS sxy
        FROM daily
    ),
    fit1 AS (
        SELECT n, sx, sy,
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
        SELECT daily.d, daily.y,
               round(daily.y - fit1.a1 - fit1.b1 * daily.d, 4) AS e,
               LAG(round(daily.y - fit1.a1 - fit1.b1 * daily.d, 4))
                   OVER (ORDER BY daily.d) AS elag,
               LAG(daily.y) OVER (ORDER BY daily.d) AS ylag,
               LAG(daily.d) OVER (ORDER BY daily.d) AS dlag
        FROM daily, fit1
    ),
    rho_ AS (
        SELECT round(
                   CAST(SUM(CAST(round(e * elag, 2) AS DECIMAL(38,2)))
                        AS DOUBLE)
                   / CAST(SUM(CAST(round(elag * elag, 2)
                                   AS DECIMAL(38,2))) AS DOUBLE), 8)
                   AS rho,
               CAST(SUM(CAST(round((e - elag) * (e - elag), 2)
                             AS DECIMAL(38,2))) AS DOUBLE) AS sdiff,
               CAST(SUM(CAST(round(e * e, 2) AS DECIMAL(38,2)))
                    AS DOUBLE) AS se2all
        FROM res WHERE elag IS NOT NULL
    ),
    dw1 AS (
        SELECT r.rho, r.sdiff
               / CAST((SELECT SUM(CAST(round(e * e, 2)
                                       AS DECIMAL(38,2))) FROM res)
                      AS DOUBLE) AS dw_before
        FROM rho_ r
    ),
    star AS (
        SELECT round(res.y - rho_.rho * res.ylag, 4) AS ys,
               round(res.d - rho_.rho * res.dlag, 8) AS xs,
               res.d
        FROM res, rho_ WHERE res.ylag IS NOT NULL
    ),
    m2 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n2,
               CAST(SUM(CAST(round(xs, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sx2,
               CAST(SUM(CAST(round(ys, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS sy2,
               CAST(SUM(CAST(round(xs * xs, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sxx2,
               CAST(SUM(CAST(round(xs * ys, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS sxy2
        FROM star
    ),
    fit2 AS (
        SELECT n2,
               (n2 * sxy2 - sx2 * sy2) / (n2 * sxx2 - sx2 * sx2) AS b2,
               (sy2 - (n2 * sxy2 - sx2 * sy2)
                      / (n2 * sxx2 - sx2 * sx2) * sx2) / n2 AS a2
        FROM m2
    ),
    res2 AS (
        SELECT round(star.ys - fit2.a2 - fit2.b2 * star.xs, 4) AS e2,
               LAG(round(star.ys - fit2.a2 - fit2.b2 * star.xs, 4))
                   OVER (ORDER BY star.d) AS e2lag
        FROM star, fit2
    ),
    dw2 AS (
        SELECT CAST(SUM(CASE WHEN e2lag IS NOT NULL THEN
                   CAST(round((e2 - e2lag) * (e2 - e2lag), 2)
                        AS DECIMAL(38,2)) END) AS DOUBLE)
               / CAST(SUM(CAST(round(e2 * e2, 2) AS DECIMAL(38,2)))
                      AS DOUBLE) AS dw_after
        FROM res2
    )
    SELECT m1.n AS n_days,
           round(rho_.rho, 6) + 0.0 AS rho_hat,
           round(fit1.b1 / 100.0, 6) + 0.0 AS beta_ols_usd_day,
           round(fit2.b2 / 100.0, 6) + 0.0 AS beta_co_usd_day,
           round(dw1.dw_before, 6) + 0.0 AS dw_before,
           round(dw2.dw_after, 6) + 0.0 AS dw_after
    FROM m1, rho_, fit1, fit2, dw1, dw2
    """,
)
def cochrane_orcutt_ar1(spark, sf_dir):
    """Cochrane-Orcutt one-step AR(1) feasible GLS on the daily
    revenue trend — the repair for what the registry's Durbin-Watson
    (X214) only DIAGNOSES: serially correlated residuals make the OLS
    slope's
    nominal inference invalid, so rho-hat is estimated from the
    lag-1 residual regression, the model is quasi-differenced
    (y_k - rho*y_{k-1} on d_k - rho*d_{k-1}), and the slope is re-fit
    once (the classical single-step variant — a FIXED dataflow, no
    convergence loop). DW is reported before and after the transform;
    a repaired series moves DW toward 2.

    Determinism: stage-1 moments are exact (BIGINT/DECIMAL folds of
    integer day x cents products); residuals are identical-tree
    doubles rounded at 4 dp before every product fold (DECIMAL(38,2));
    rho is rounded at 8 dp BEFORE the quasi-difference so both
    engines transform identical series; stage-2 moments fold the
    8/4-dp-rounded transformed values. Lags are observation-order
    (day asc) over the calendar-day frame — bounded domain. Plan:
    one day rollup, three window passes on the day grid, two scalar
    folds."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    m1 = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("sxx"),
        F.sum(F.col("d").cast("decimal(19,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    n = F.col("n")
    b1 = (
        n * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy")
    ) / (
        n * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx")
    )
    fit1 = m1.select(
        "n",
        b1.alias("b1"),
        ((F.col("sy").cast("double") - b1 * F.col("sx")) / n).alias("a1"),
    )
    wd = Window.orderBy("d")
    e = F.round(
        F.col("y") - F.col("a1") - F.col("b1") * F.col("d"), 4
    )
    res = daily.crossJoin(F.broadcast(fit1)).select(
        "d",
        "y",
        "n",
        "b1",
        "a1",
        e.alias("e"),
        F.lag(e).over(wd).alias("elag"),
        F.lag("y").over(wd).alias("ylag"),
        F.lag("d").over(wd).alias("dlag"),
    )
    r2 = lambda c: F.round(c, 2).cast("decimal(38,2)")  # noqa: E731
    rho_ = res.where(F.col("elag").isNotNull()).agg(
        F.round(
            F.sum(r2(F.col("e") * F.col("elag"))).cast("double")
            / F.sum(r2(F.col("elag") * F.col("elag"))).cast("double"),
            8,
        ).alias("rho"),
        F.sum(r2((F.col("e") - F.col("elag")) * (F.col("e") - F.col("elag"))))
        .cast("double")
        .alias("sdiff"),
    )
    se_all = res.agg(
        F.sum(r2(F.col("e") * F.col("e"))).cast("double").alias("se2")
    )
    star = (
        res.crossJoin(F.broadcast(rho_))
        .where(F.col("ylag").isNotNull())
        .select(
            "d",
            F.round(F.col("y") - F.col("rho") * F.col("ylag"), 4).alias(
                "ys"
            ),
            F.round(F.col("d") - F.col("rho") * F.col("dlag"), 8).alias(
                "xs"
            ),
        )
    )
    m2 = star.agg(
        F.count(F.lit(1)).cast("bigint").alias("n2"),
        F.sum(F.round("xs", 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("sx2"),
        F.sum(F.round("ys", 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("sy2"),
        F.sum(F.round(F.col("xs") * F.col("xs"), 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("sxx2"),
        F.sum(F.round(F.col("xs") * F.col("ys"), 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("sxy2"),
    )
    n2 = F.col("n2")
    b2 = (n2 * F.col("sxy2") - F.col("sx2") * F.col("sy2")) / (
        n2 * F.col("sxx2") - F.col("sx2") * F.col("sx2")
    )
    fit2 = m2.select(
        "n2",
        b2.alias("b2"),
        ((F.col("sy2") - b2 * F.col("sx2")) / n2).alias("a2"),
    )
    e2 = F.round(
        F.col("ys") - F.col("a2") - F.col("b2") * F.col("xs"), 4
    )
    res2 = star.crossJoin(F.broadcast(fit2)).select(
        e2.alias("e2"), F.lag(e2).over(wd).alias("e2lag")
    )
    dw2 = res2.agg(
        (
            F.sum(
                F.when(
                    F.col("e2lag").isNotNull(),
                    r2(
                        (F.col("e2") - F.col("e2lag"))
                        * (F.col("e2") - F.col("e2lag"))
                    ),
                )
            ).cast("double")
            / F.sum(r2(F.col("e2") * F.col("e2"))).cast("double")
        ).alias("dw_after")
    )
    return (
        rho_.crossJoin(F.broadcast(m1.select("n")))
        .crossJoin(F.broadcast(fit1.select("b1")))
        .crossJoin(F.broadcast(fit2.select("b2")))
        .crossJoin(F.broadcast(se_all))
        .crossJoin(F.broadcast(dw2))
        .select(
            F.col("n").alias("n_days"),
            (F.round("rho", 6) + 0.0).alias("rho_hat"),
            (F.round(F.col("b1") / 100.0, 6) + 0.0).alias(
                "beta_ols_usd_day"
            ),
            (F.round(F.col("b2") / 100.0, 6) + 0.0).alias(
                "beta_co_usd_day"
            ),
            (F.round(F.col("sdiff") / F.col("se2"), 6) + 0.0).alias(
                "dw_before"
            ),
            (F.round("dw_after", 6) + 0.0).alias("dw_after"),
        )
    )


# --------------------------------------------------------------------------
# Holm / Hochberg / Sidak familywise-error panel
# --------------------------------------------------------------------------
from .stats_tests import _p_two_sided_sql  # noqa: E402  (A-S erfc tree)

_CELL_P_SQL = f"""
    obs AS (
        SELECT event_type,
               CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS INT) AS dow,
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
    pp AS (
        SELECT event_type, dow,
               {_p_two_sided_sql('z')} AS p
        FROM zz
    ),
    ranked AS (
        SELECT event_type, dow, p,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY p, event_type, dow
               ) AS BIGINT) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS m
        FROM pp
    )
"""


@register(
    "holm_hochberg_sidak_panel",
    oracle=f"""
    WITH {_CELL_P_SQL},
    adj AS (
        SELECT event_type, dow, p, i, m,
               least(1.0, MAX((m - i + 1) * p) OVER (
                   ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )) AS holm_adj,
               least(1.0, MIN((m - i + 1) * p) OVER (
                   ORDER BY i
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               )) AS hochberg_adj,
               least(1.0, m * p) AS bonf_adj,
               1.0 - exp(m * ln(1.0 - p)) AS sidak_adj
        FROM ranked
    )
    SELECT event_type, dow,
           round(p, 9) AS p_value,
           round(bonf_adj, 9) AS bonferroni_adj,
           round(holm_adj, 9) AS holm_adj,
           round(hochberg_adj, 9) AS hochberg_adj,
           round(sidak_adj, 9) AS sidak_adj,
           CAST(CASE WHEN holm_adj <= 0.05 THEN 1 ELSE 0 END AS INT)
               AS rej_holm,
           CAST(CASE WHEN hochberg_adj <= 0.05 THEN 1 ELSE 0 END AS INT)
               AS rej_hochberg
    FROM adj
    """,
)
def holm_hochberg_sidak_panel(spark, sf_dir):
    """Holm step-down, Hochberg step-up, Bonferroni, and Sidak
    adjusted p-values over the same 35-cell contingency-residual test
    family as the registry's BH-FDR query (X179) — the FAMILYWISE
    error control panel (FWER, stricter than FDR) an experimentation
    readout publishes next to BH: Holm's adjusted p is the running
    MAX of (m-i+1)p over the p-sorted prefix (step-down), Hochberg's
    the running MIN over the suffix (step-up, valid under
    nonnegative dependence), both clipped at 1; Sidak is the
    single-step exact-independence bound 1-(1-p)^m written as
    exp(m*ln(1-p)) so both engines share the tree (no pow-vs-power
    libm divergence).

    p-values come from the shared Abramowitz-Stegun erfc polynomial
    (identical Horner tree on IEEE doubles — bit-reproducible); the
    cumulative max/min windows run on the 35-row TEST-FAMILY frame
    (bounded domain), ordered by the deterministic (p, event_type,
    dow) total order. The event-grain work is one contingency
    rollup."""
    e = t(spark, sf_dir, "events")
    dow = ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7).cast(
        "int"
    )
    obs = e.groupBy("event_type", dow.alias("dow")).agg(
        F.count(F.lit(1)).cast("double").alias("o")
    )
    tot = (
        obs.withColumn(
            "r", F.sum("o").over(Window.partitionBy("event_type"))
        )
        .withColumn("c", F.sum("o").over(Window.partitionBy("dow")))
        .withColumn("n", F.sum("o").over(Window.partitionBy()))
    )
    ex = F.col("r") * F.col("c") / F.col("n")
    z = (F.col("o") - ex) / F.sqrt(
        ex * (1 - F.col("r") / F.col("n")) * (1 - F.col("c") / F.col("n"))
    )
    x = F.abs(z) / 1.4142135623730951
    tpoly = 1.0 / (1.0 + 0.3275911 * x)
    p = (
        (
            (
                ((1.061405429 * tpoly - 1.453152027) * tpoly + 1.421413741)
                * tpoly
                - 0.284496736
            )
            * tpoly
            + 0.254829592
        )
        * tpoly
    ) * F.exp(-x * x)
    pp = tot.select("event_type", "dow", p.alias("p"))
    wrank = Window.orderBy("p", "event_type", "dow")
    ranked = pp.select(
        "event_type",
        "dow",
        "p",
        F.row_number().over(wrank).cast("bigint").alias("i"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("m"),
    )
    raw = (F.col("m") - F.col("i") + 1) * F.col("p")
    wup = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    wdn = Window.orderBy("i").rowsBetween(0, Window.unboundedFollowing)
    adj = ranked.select(
        "event_type",
        "dow",
        "p",
        F.least(F.lit(1.0), F.max(raw).over(wup)).alias("holm_adj"),
        F.least(F.lit(1.0), F.min(raw).over(wdn)).alias("hochberg_adj"),
        F.least(F.lit(1.0), F.col("m") * F.col("p")).alias("bonf_adj"),
        (1.0 - F.exp(F.col("m") * F.log(1.0 - F.col("p")))).alias(
            "sidak_adj"
        ),
    )
    return adj.select(
        "event_type",
        "dow",
        F.round("p", 9).alias("p_value"),
        F.round("bonf_adj", 9).alias("bonferroni_adj"),
        F.round("holm_adj", 9).alias("holm_adj"),
        F.round("hochberg_adj", 9).alias("hochberg_adj"),
        F.round("sidak_adj", 9).alias("sidak_adj"),
        (F.col("holm_adj") <= 0.05).cast("int").alias("rej_holm"),
        (F.col("hochberg_adj") <= 0.05).cast("int").alias("rej_hochberg"),
    )


# --------------------------------------------------------------------------
# Holland-Leinhardt dyad census + reciprocity of the trade-flow graph
# --------------------------------------------------------------------------
@register(
    "dyad_census_reciprocity",
    oracle="""
    WITH flow AS MATERIALIZED (
        SELECT c.c_nationkey AS ci, s.s_nationkey AS sj,
               CAST(COUNT(*) AS BIGINT) AS f
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        GROUP BY 1, 2
    ),
    nn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM nation
    ),
    tot AS (
        SELECT CAST(SUM(f) AS BIGINT) AS tf FROM flow
    ),
    edges AS MATERIALIZED (
        -- above-mean off-diagonal flows; exact integer compare
        SELECT ci, sj FROM flow, nn, tot
        WHERE f * (nn.nv * (nn.nv - 1)) > tot.tf
    ),
    pairs AS (
        SELECT a.n_nationkey AS i, b.n_nationkey AS j
        FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
    ),
    census AS (
        SELECT
            CAST(SUM(CASE WHEN e1.ci IS NOT NULL AND e2.ci IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS m_mutual,
            CAST(SUM(CASE WHEN (e1.ci IS NOT NULL)
                               <> (e2.ci IS NOT NULL)
                     THEN 1 ELSE 0 END) AS BIGINT) AS a_asym,
            CAST(SUM(CASE WHEN e1.ci IS NULL AND e2.ci IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_null
        FROM pairs p
        LEFT JOIN edges e1 ON e1.ci = p.i AND e1.sj = p.j
        LEFT JOIN edges e2 ON e2.ci = p.j AND e2.sj = p.i
    )
    SELECT nn.nv AS n_nations,
           2 * c.m_mutual + c.a_asym AS n_edges,
           c.m_mutual, c.a_asym, c.n_null,
           round(2.0 * c.m_mutual
                 / NULLIF(2 * c.m_mutual + c.a_asym, 0), 6) + 0.0
               AS reciprocity,
           round((2.0 * c.m_mutual + c.a_asym)
                 / (nn.nv * (nn.nv - 1.0)), 6) AS density,
           round((2.0 * c.m_mutual
                  / NULLIF(2 * c.m_mutual + c.a_asym, 0)
                  - (2.0 * c.m_mutual + c.a_asym)
                    / (nn.nv * (nn.nv - 1.0)))
                 / NULLIF(1.0 - (2.0 * c.m_mutual + c.a_asym)
                          / (nn.nv * (nn.nv - 1.0)), 0), 6) + 0.0
               AS rho_garlaschelli
    FROM census c, nn
    """,
)
def dyad_census_reciprocity(spark, sf_dir):
    """Holland-Leinhardt dyad census (Mutual / Asymmetric / Null) and
    reciprocity of the DIRECTED nation-level trade graph — customer
    nation i buys from supplier nation j; the directed companion to
    the registry's undirected brand-graph metrics (modularity,
    assortativity): an edge is an above-mean off-diagonal flow
    (exact integer compare f * n(n-1) > total, no float threshold),
    reciprocity r = 2M/(2M+A) is the fraction of directed edges
    returned, and Garlaschelli-Loffredo rho = (r - d)/(1 - d)
    centers it on the density-d null (rho > 0 means reciprocation
    beyond chance).

    Plan: the only data-grain work is the lineitem⋈orders⋈customer⋈
    supplier equi-join chain collapsed to the <=600-cell
    (nation, nation) flow rollup (map-side combinable; AQE broadcasts
    the dim sides at bench SF, shuffles at 100 TB); the census is a
    left-join pair classification on the bounded 300-pair frame. All
    counts exact BIGINTs; ratios terminal."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    flow = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("ci"),
            F.col("s_nationkey").alias("sj"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    nn = nat.agg(F.count(F.lit(1)).cast("bigint").alias("nv"))
    tot = flow.agg(F.sum("f").cast("bigint").alias("tf"))
    edges = (
        flow.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(tot))
        .where(
            F.col("f") * (F.col("nv") * (F.col("nv") - 1)) > F.col("tf")
        )
        .select("ci", "sj")
    )
    na, nb = nat.alias("na"), nat.alias("nb")
    pairs = na.join(
        nb, F.col("na.n_nationkey") < F.col("nb.n_nationkey")
    ).select(
        F.col("na.n_nationkey").alias("i"),
        F.col("nb.n_nationkey").alias("j"),
    )
    e1 = edges.select(
        F.col("ci").alias("e1i"), F.col("sj").alias("e1j"), F.lit(1).alias("h1")
    )
    e2 = edges.select(
        F.col("ci").alias("e2i"), F.col("sj").alias("e2j"), F.lit(1).alias("h2")
    )
    cls = (
        pairs.join(
            e1,
            (F.col("e1i") == F.col("i")) & (F.col("e1j") == F.col("j")),
            "left",
        )
        .join(
            e2,
            (F.col("e2i") == F.col("j")) & (F.col("e2j") == F.col("i")),
            "left",
        )
    )
    census = cls.agg(
        F.sum(
            F.when(
                F.col("h1").isNotNull() & F.col("h2").isNotNull(), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("m_mutual"),
        F.sum(
            F.when(
                F.col("h1").isNotNull() != F.col("h2").isNotNull(), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("a_asym"),
        F.sum(
            F.when(
                F.col("h1").isNull() & F.col("h2").isNull(), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_null"),
    )
    mm, aa = F.col("m_mutual"), F.col("a_asym")
    ne = 2 * mm + aa
    rec = 2.0 * mm / F.nullif(ne.cast("double"), F.lit(0.0))
    den = ne.cast("double") / (F.col("nv") * (F.col("nv") - 1.0))
    return census.crossJoin(F.broadcast(nn)).select(
        F.col("nv").alias("n_nations"),
        ne.cast("bigint").alias("n_edges"),
        "m_mutual",
        "a_asym",
        "n_null",
        (F.round(rec, 6) + 0.0).alias("reciprocity"),
        F.round(den, 6).alias("density"),
        (
            F.round(
                (rec - den) / F.nullif(1.0 - den, F.lit(0.0)), 6
            )
            + 0.0
        ).alias("rho_garlaschelli"),
    )


# --------------------------------------------------------------------------
# Isotonic (PAVA) calibration repair over the document score bins
# --------------------------------------------------------------------------
@register(
    "isotonic_calibration_bins",
    oracle="""
    WITH b AS (
        SELECT LEAST(n_chars // 60, 9) AS bin,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    g AS MATERIALIZED (
        SELECT bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS o
        FROM b GROUP BY bin
    ),
    iv AS MATERIALIZED (
        -- every contiguous bin interval [j..k] and its pooled rate
        SELECT j.bin AS j, k.bin AS k,
               CAST(SUM(g.o) AS DOUBLE) / SUM(g.n) AS avgr
        FROM g j JOIN g k ON j.bin <= k.bin
        JOIN g ON g.bin BETWEEN j.bin AND k.bin
        GROUP BY 1, 2
    ),
    mn AS (
        -- for each (i, j<=i): the min pooled rate over k >= i
        SELECT g.bin AS i, iv.j, MIN(iv.avgr) AS mnr
        FROM g JOIN iv ON iv.j <= g.bin AND iv.k >= g.bin
        GROUP BY 1, 2
    ),
    iso AS (
        SELECT i AS bin, MAX(mnr) AS iso_rate FROM mn GROUP BY 1
    )
    SELECT g.bin, g.n AS n_docs, g.o AS n_pos,
           round(g.o * 1.0 / g.n, 9) AS raw_rate,
           round(iso.iso_rate, 9) AS iso_rate,
           CAST(CASE WHEN round(g.o * 1.0 / g.n, 9)
                          <> round(iso.iso_rate, 9)
                THEN 1 ELSE 0 END AS INT) AS pooled
    FROM g JOIN iso ON g.bin = iso.bin
    ORDER BY g.bin
    """,
)
def isotonic_calibration_bins(spark, sf_dir):
    """Isotonic regression (PAVA) calibration repair of the document
    quality score — the REPAIR step after the registry's reliability
    diagnostics (score_calibration_bins X125, Hosmer-Lemeshow X363,
    ECE/MCE X403 — same 10 bins, same lang='en' outcome): the
    monotone fit every production calibrator (isotonic calibration)
    ships. Instead of the sequential pool-adjacent-violators sweep,
    the fit uses PAVA's CLOSED-FORM minimax identity — iso(i) =
    max_{{j<=i}} min_{{k>=i}} pooledRate(j..k) — which is exactly
    expressible as two grouped folds over the <=55 contiguous bin
    intervals (bounded frame; no iteration, no order dependence).

    Pooled rates are ratios of exact BIGINT fold pairs (identical
    doubles both engines; min/max on identical doubles is
    deterministic); outputs rounded at 1e-9, with the pooled flag
    compared on ROUNDED values. Plan: one 10-bin hash rollup of the
    documents scan; every join after it is on the bin domain."""
    d = t(spark, sf_dir, "documents")
    b = d.select(
        F.expr("least(n_chars div 60, 9)").alias("bin"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    g = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("o"),
    )
    gj = g.select(F.col("bin").alias("j"))
    gk = g.select(F.col("bin").alias("k"))
    gi = g.select(
        F.col("bin").alias("ib"), F.col("n").alias("nn"), F.col("o").alias("oo")
    )
    iv = (
        gj.join(gk, F.col("j") <= F.col("k"))
        .join(gi, F.col("ib").between(F.col("j"), F.col("k")))
        .groupBy("j", "k")
        .agg(
            (F.sum("oo").cast("double") / F.sum("nn")).alias("avgr")
        )
    )
    mn = (
        g.select(F.col("bin").alias("i"))
        .join(iv, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")))
        .groupBy("i", "j")
        .agg(F.min("avgr").alias("mnr"))
    )
    iso = mn.groupBy("i").agg(F.max("mnr").alias("iso_rate"))
    raw = F.round(F.col("o") * 1.0 / F.col("n"), 9)
    return (
        g.join(iso, g.bin == iso.i)
        .select(
            "bin",
            F.col("n").alias("n_docs"),
            F.col("o").alias("n_pos"),
            raw.alias("raw_rate"),
            F.round("iso_rate", 9).alias("iso_rate"),
            (raw != F.round("iso_rate", 9)).cast("int").alias("pooled"),
        )
        .orderBy("bin")
    )


PLAN_AUDIT_NOTES.update(
    {
        "dfa_alpha_longmemory": (
            "row_number + running-sum windows over the calendar-day "
            "frame (bounded domain — the cusum class)"
        ),
        "cochrane_orcutt_ar1": (
            "three lag windows over the calendar-day frame (bounded "
            "domain — the durbin_watson class)"
        ),
        "holm_hochberg_sidak_panel": (
            "rank + cumulative max/min windows over the 35-cell "
            "test-family frame (bounded domain — the bh_fdr class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Box-Cox profile-likelihood lambda grid
# --------------------------------------------------------------------------
@register(
    "box_cox_lambda_grid",
    oracle="""
    WITH v AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) / 100.0 AS y
        FROM orders
    ),
    lam AS (
        SELECT CAST(l AS DOUBLE) AS l
        FROM (VALUES (-1.0), (-0.5), (0.5), (1.0)) t(l)
    ),
    zt AS (
        SELECT lam.l,
               round((exp(lam.l * ln(v.y)) - 1.0) / lam.l, 6) AS z,
               round(ln(v.y), 8) AS lny
        FROM v CROSS JOIN lam
    ),
    mom AS (
        SELECT l,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(z, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS sz,
               CAST(SUM(CAST(round(z * z, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS szz,
               CAST(SUM(CAST(round(lny, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS slny
        FROM zt GROUP BY l
    ),
    ll AS (
        SELECT l, n, slny,
               -(n / 2.0) * ln(szz / n - (sz / n) * (sz / n))
               + (l - 1.0) * slny AS loglik
        FROM mom
    ),
    lz AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(lny, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sln,
               CAST(SUM(CAST(round(lny * lny, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS slnln
        FROM (SELECT round(ln(y), 8) AS lny FROM v)
    ),
    ll0 AS (
        SELECT n,
               -(n / 2.0) * ln(slnln / n - (sln / n) * (sln / n))
               - sln AS loglik
        FROM lz
    ),
    wide AS (
        SELECT
            MAX(CASE WHEN l = -1.0 THEN loglik END) AS ll_m1,
            MAX(CASE WHEN l = -0.5 THEN loglik END) AS ll_m05,
            MAX(CASE WHEN l = 0.5 THEN loglik END) AS ll_p05,
            MAX(CASE WHEN l = 1.0 THEN loglik END) AS ll_p1
        FROM ll
    )
    SELECT lz.n AS n_orders,
           round(w.ll_m1, 4) + 0.0 AS ll_lam_m1,
           round(w.ll_m05, 4) + 0.0 AS ll_lam_m05,
           round(l0.loglik, 4) + 0.0 AS ll_lam_0,
           round(w.ll_p05, 4) + 0.0 AS ll_lam_p05,
           round(w.ll_p1, 4) + 0.0 AS ll_lam_p1,
           CASE
               WHEN w.ll_m1 >= w.ll_m05 AND w.ll_m1 >= l0.loglik
                    AND w.ll_m1 >= w.ll_p05 AND w.ll_m1 >= w.ll_p1
                   THEN -1.0
               WHEN w.ll_m05 >= l0.loglik AND w.ll_m05 >= w.ll_p05
                    AND w.ll_m05 >= w.ll_p1 THEN -0.5
               WHEN l0.loglik >= w.ll_p05 AND l0.loglik >= w.ll_p1
                   THEN 0.0
               WHEN w.ll_p05 >= w.ll_p1 THEN 0.5
               ELSE 1.0
           END AS best_lambda
    FROM wide w, ll0 l0, lz
    """,
)
def box_cox_lambda_grid(spark, sf_dir):
    """Box-Cox profile log-likelihood over the literal lambda grid
    {-1, -0.5, 0, 0.5, 1} for the order-value distribution — the
    variance-stabilizing-transform selector run before any
    normality-assuming model: ll(lam) = -(n/2)ln(sigma2_MLE(z_lam)) +
    (lam-1)*SUM(ln y), with z_lam = (y^lam - 1)/lam written as the
    IDENTICAL exp(lam*ln y) tree in both engines (no pow-vs-power
    libm divergence) and the lam=0 branch ll = -(n/2)ln(var(ln y)) -
    SUM(ln y) computed separately. best_lambda is a deterministic
    >=-chain on the unrounded doubles (ties break toward the smaller
    lambda — both engines compare identical values).

    Folds: z rounded at 6 dp, z^2 at 4 dp, ln y at 8 dp, all through
    DECIMAL(38,*) (order-independent). Plan: one projection scan
    crossed with the 4-row literal grid (one hash rollup by lambda) +
    one scalar fold for the log branch — no windows, no joins on data
    grain."""
    o = t(spark, sf_dir, "orders")
    y = ((dec("o_totalprice", 18, 2) * 100).cast("bigint") / 100.0).alias(
        "y"
    )
    v = o.select(y)
    lam = F.explode(
        F.array(F.lit(-1.0), F.lit(-0.5), F.lit(0.5), F.lit(1.0))
    ).alias("l")
    zt = v.select("y", lam).select(
        "l",
        F.round(
            (F.exp(F.col("l") * F.log("y")) - 1.0) / F.col("l"), 6
        ).alias("z"),
        F.round(F.log("y"), 8).alias("lny"),
    )
    mom = zt.groupBy("l").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round("z", 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sz"),
        F.sum(F.round(F.col("z") * F.col("z"), 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("szz"),
        F.sum(F.round("lny", 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("slny"),
    )
    n = F.col("n")
    ll = mom.select(
        "l",
        (
            -(n / 2.0)
            * F.log(
                F.col("szz") / n - (F.col("sz") / n) * (F.col("sz") / n)
            )
            + (F.col("l") - 1.0) * F.col("slny")
        ).alias("loglik"),
    )
    lnv = v.select(F.round(F.log("y"), 8).alias("lny"))
    lz = lnv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round("lny", 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("sln"),
        F.sum(
            F.round(F.col("lny") * F.col("lny"), 8).cast("decimal(38,8)")
        )
        .cast("double")
        .alias("slnln"),
    )
    ll0 = lz.select(
        "n",
        (
            -(n / 2.0)
            * F.log(
                F.col("slnln") / n
                - (F.col("sln") / n) * (F.col("sln") / n)
            )
            - F.col("sln")
        ).alias("ll0"),
    )
    wide = ll.agg(
        F.max(F.when(F.col("l") == -1.0, F.col("loglik"))).alias("ll_m1"),
        F.max(F.when(F.col("l") == -0.5, F.col("loglik"))).alias(
            "ll_m05"
        ),
        F.max(F.when(F.col("l") == 0.5, F.col("loglik"))).alias("ll_p05"),
        F.max(F.when(F.col("l") == 1.0, F.col("loglik"))).alias("ll_p1"),
    )
    m1, m05 = F.col("ll_m1"), F.col("ll_m05")
    l0c, p05, p1 = F.col("ll0"), F.col("ll_p05"), F.col("ll_p1")
    best = (
        F.when(
            (m1 >= m05) & (m1 >= l0c) & (m1 >= p05) & (m1 >= p1),
            F.lit(-1.0),
        )
        .when((m05 >= l0c) & (m05 >= p05) & (m05 >= p1), F.lit(-0.5))
        .when((l0c >= p05) & (l0c >= p1), F.lit(0.0))
        .when(p05 >= p1, F.lit(0.5))
        .otherwise(F.lit(1.0))
    )
    return (
        wide.crossJoin(F.broadcast(ll0))
        .select(
            F.col("n").alias("n_orders"),
            (F.round("ll_m1", 4) + 0.0).alias("ll_lam_m1"),
            (F.round("ll_m05", 4) + 0.0).alias("ll_lam_m05"),
            (F.round("ll0", 4) + 0.0).alias("ll_lam_0"),
            (F.round("ll_p05", 4) + 0.0).alias("ll_lam_p05"),
            (F.round("ll_p1", 4) + 0.0).alias("ll_lam_p1"),
            best.alias("best_lambda"),
        )
    )


# --------------------------------------------------------------------------
# Cornish-Fisher modified VaR on daily revenue changes
# --------------------------------------------------------------------------
@register(
    "cornish_fisher_var",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    chg AS (
        SELECT d,
               round(CAST(y - LAG(y) OVER (ORDER BY d) AS DOUBLE)
                     / 100000.0, 4) AS dy
        FROM daily
    ),
    obs AS (SELECT d, dy FROM chg WHERE dy IS NOT NULL),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(dy, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS s1,
               CAST(SUM(CAST(round(dy * dy, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS s2,
               CAST(SUM(CAST(round(dy * dy * dy, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS s3,
               CAST(SUM(CAST(round(dy * dy * dy * dy, 4)
                             AS DECIMAL(38,4))) AS DOUBLE) AS s4
        FROM obs
    ),
    cm AS (
        SELECT n,
               s1 / n AS mu,
               s2 / n - (s1 / n) * (s1 / n) AS m2,
               s3 / n - 3.0 * (s1 / n) * s2 / n
                   + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
               s4 / n - 4.0 * (s1 / n) * s3 / n
                   + 6.0 * (s1 / n) * (s1 / n) * s2 / n
                   - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)
                   AS m4
        FROM m
    ),
    gk AS (
        SELECT n, mu, sqrt(m2) AS sig,
               m3 / (m2 * sqrt(m2)) AS g1,
               m4 / (m2 * m2) - 3.0 AS g2
        FROM cm
    ),
    zl AS (SELECT CAST(-1.6448536269514722 AS DOUBLE) AS z),
    zcf AS (
        SELECT n, mu, sig, g1, g2,
               zl.z + (zl.z * zl.z - 1.0) * g1 / 6.0
               + (zl.z * zl.z * zl.z - 3.0 * zl.z) * g2 / 24.0
               - (2.0 * zl.z * zl.z * zl.z - 5.0 * zl.z)
                 * g1 * g1 / 36.0 AS z_cf
        FROM gk, zl
    ),
    emp AS (
        SELECT dy AS var_emp
        FROM (
            SELECT dy,
                   CAST(ROW_NUMBER() OVER (ORDER BY dy, d) AS BIGINT)
                       AS r,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n
            FROM obs
        )
        WHERE r = CAST(ceil(0.05 * n) AS BIGINT)
    )
    SELECT z.n AS n_changes,
           round(z.g1, 6) + 0.0 AS skew_g1,
           round(z.g2, 6) + 0.0 AS excess_kurt,
           round(z.z_cf, 6) + 0.0 AS z_cf_05,
           round(z.mu - CAST(1.6448536269514722 AS DOUBLE) * z.sig, 4)
               + 0.0 AS var95_gauss_kusd,
           round(z.mu + z.z_cf * z.sig, 4) + 0.0 AS var95_cf_kusd,
           e.var_emp + 0.0 AS var95_emp_kusd
    FROM zcf z, emp e
    """,
)
def cornish_fisher_var(spark, sf_dir):
    """Cornish-Fisher moment-modified 95% VaR of the day-over-day
    revenue change — the risk quantile that corrects the Gaussian
    z by the series' own skewness and excess kurtosis (the
    modified-VaR standard next to the registry's Kupiec/Acerbi
    BACKTESTS, which judge a VaR after the fact; this one produces
    it), reported beside the Gaussian VaR and the exact empirical
    5th-percentile order statistic so the three-way gap is visible.

    Determinism: changes are exact cents differences scaled to 4-dp
    k$; the four power sums fold rounded products through
    DECIMAL(38,4) (the jarque_bera class — k$ scaling keeps dy^4
    inside the decimal range at any SF); z_cf is one literal-z
    terminal expression; the empirical quantile is the
    ceil(0.05 n)-th order statistic under the (dy, d) total order.
    Plan: one day rollup, one lag window + one rank window on the
    calendar-day frame (bounded domain), one scalar fold."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    wd = Window.orderBy("d")
    obs = daily.select(
        "d",
        F.round((F.col("y") - F.lag("y").over(wd)) / 100000.0, 4).alias(
            "dy"
        ),
    ).where(F.col("dy").isNotNull())
    r4 = lambda c: F.round(c, 4).cast("decimal(38,4)")  # noqa: E731
    dy = F.col("dy")
    m = obs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(r4(dy)).cast("double").alias("s1"),
        F.sum(r4(dy * dy)).cast("double").alias("s2"),
        F.sum(r4(dy * dy * dy)).cast("double").alias("s3"),
        F.sum(r4(dy * dy * dy * dy)).cast("double").alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3.0 * mu * F.col("s2") / n + 2.0 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4.0 * mu * F.col("s3") / n
        + 6.0 * mu * mu * F.col("s2") / n
        - 3.0 * mu * mu * mu * mu
    )
    gk = m.select(
        "n",
        mu.alias("mu"),
        F.sqrt(m2).alias("sig"),
        (m3 / (m2 * F.sqrt(m2))).alias("g1"),
        (m4 / (m2 * m2) - 3.0).alias("g2"),
    )
    z = F.lit(-1.6448536269514722)
    zcf_expr = (
        z
        + (z * z - 1.0) * F.col("g1") / 6.0
        + (z * z * z - 3.0 * z) * F.col("g2") / 24.0
        - (2.0 * z * z * z - 5.0 * z) * F.col("g1") * F.col("g1") / 36.0
    )
    zcf = gk.select("n", "mu", "sig", "g1", "g2", zcf_expr.alias("z_cf"))
    ranked = obs.select(
        "dy",
        F.row_number()
        .over(Window.orderBy("dy", "d"))
        .cast("bigint")
        .alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("nn"),
    )
    emp = ranked.where(
        F.col("r") == F.ceil(0.05 * F.col("nn")).cast("bigint")
    ).select(F.col("dy").alias("var_emp"))
    return zcf.crossJoin(F.broadcast(emp)).select(
        F.col("n").alias("n_changes"),
        (F.round("g1", 6) + 0.0).alias("skew_g1"),
        (F.round("g2", 6) + 0.0).alias("excess_kurt"),
        (F.round("z_cf", 6) + 0.0).alias("z_cf_05"),
        (
            F.round(
                F.col("mu") - 1.6448536269514722 * F.col("sig"), 4
            )
            + 0.0
        ).alias("var95_gauss_kusd"),
        (
            F.round(F.col("mu") + F.col("z_cf") * F.col("sig"), 4) + 0.0
        ).alias("var95_cf_kusd"),
        (F.col("var_emp") + 0.0).alias("var95_emp_kusd"),
    )


# --------------------------------------------------------------------------
# Lilliefors normality test (KS against the FITTED normal)
# --------------------------------------------------------------------------
@register(
    "lilliefors_normal_fit",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               round(CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                   * 100 AS BIGINT)) AS BIGINT)
                     / 100000.0, 4) AS y
        FROM orders GROUP BY 1
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(y, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS s1,
               CAST(SUM(CAST(round(y * y, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS s2
        FROM daily
    ),
    fit AS (
        SELECT n, s1 / n AS mu,
               sqrt((s2 - s1 * s1 / n) / (n - 1)) AS sig
        FROM m
    ),
    grid AS (
        SELECT y AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM daily GROUP BY y
    ),
    ecdf AS (
        SELECT v, c,
               CAST(SUM(c) OVER (ORDER BY v
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS cum
        FROM grid
    ),
    gaps AS (
        SELECT e.v, e.c, e.cum, f.n,
               (e.v - f.mu) / f.sig AS zx
        FROM ecdf e, fit f
    ),
    phi AS (
        SELECT v, c, cum, n,
               CASE WHEN zx >= 0
                    THEN 1.0 - ({_p_two_sided_sql('zx')}) / 2.0
                    ELSE ({_p_two_sided_sql('zx')}) / 2.0
               END AS ph
        FROM gaps
    ),
    dstat AS (
        SELECT MAX(greatest(abs(CAST(cum AS DOUBLE) / n - ph),
                            abs(CAST(cum - c AS DOUBLE) / n - ph)))
                   AS d
        FROM phi
    )
    SELECT f.n AS n_days,
           round(f.mu, 4) + 0.0 AS mu_kusd,
           round(f.sig, 4) + 0.0 AS sigma_kusd,
           round(d.d, 6) + 0.0 AS lilliefors_d,
           round(d.d * sqrt(CAST(f.n AS DOUBLE)), 6) + 0.0
               AS d_scaled,
           CAST(CASE WHEN d.d * sqrt(CAST(f.n AS DOUBLE)) > 0.886
                THEN 1 ELSE 0 END AS INT) AS rejects_normal_05
    FROM fit f, dstat d
    """,
)
def lilliefors_normal_fit(spark, sf_dir):
    """Lilliefors test of daily revenue normality — the KS variant
    whose null distribution accounts for ESTIMATING mu and sigma from
    the same sample (plain KS against a fitted normal is
    anti-conservative; the registry's ks_exponential_gaps tests a
    different family): D = sup over the observed value grid of the
    two-sided ECDF-vs-Phi gap (both the cum and cum-minus-c sides),
    compared at the asymptotic 5% point 0.886/sqrt(n).

    Phi has no SQL builtin in either engine, so it is the shared
    Abramowitz-Stegun erfc polynomial (identical Horner tree,
    |eps| < 1.5e-7 — far below the 1e-3-scale D gaps the decision
    compares, and applied identically on both sides of the compare).
    The ECDF cumulative runs on the distinct-value grid of the
    calendar-day frame (bounded domain). Plan: one day rollup, one
    value-grid rollup + cumulative window, one scalar max."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.round(
            F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
            .cast("bigint")
            / 100000.0,
            4,
        ).alias("y")
    )
    r4 = lambda c: F.round(c, 4).cast("decimal(38,4)")  # noqa: E731
    m = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(r4(F.col("y"))).cast("double").alias("s1"),
        F.sum(r4(F.col("y") * F.col("y"))).cast("double").alias("s2"),
    )
    fit = m.select(
        "n",
        (F.col("s1") / F.col("n")).alias("mu"),
        F.sqrt(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("sig"),
    )
    grid = daily.groupBy(F.col("y").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    ecdf = grid.select(
        "v",
        "c",
        F.sum("c")
        .over(
            Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("bigint")
        .alias("cum"),
    )
    gaps = ecdf.crossJoin(F.broadcast(fit)).select(
        "v",
        "c",
        "cum",
        "n",
        ((F.col("v") - F.col("mu")) / F.col("sig")).alias("zx"),
    )
    x = F.abs(F.col("zx")) / 1.4142135623730951
    tpoly = 1.0 / (1.0 + 0.3275911 * x)
    p2 = (
        (
            (
                ((1.061405429 * tpoly - 1.453152027) * tpoly + 1.421413741)
                * tpoly
                - 0.284496736
            )
            * tpoly
            + 0.254829592
        )
        * tpoly
    ) * F.exp(-x * x)
    ph = F.when(F.col("zx") >= 0, 1.0 - p2 / 2.0).otherwise(p2 / 2.0)
    phi = gaps.select("v", "c", "cum", "n", ph.alias("ph"))
    dstat = phi.agg(
        F.max(
            F.greatest(
                F.abs(F.col("cum").cast("double") / F.col("n") - F.col("ph")),
                F.abs(
                    (F.col("cum") - F.col("c")).cast("double") / F.col("n")
                    - F.col("ph")
                ),
            )
        ).alias("dd")
    )
    return fit.crossJoin(F.broadcast(dstat)).select(
        F.col("n").alias("n_days"),
        (F.round("mu", 4) + 0.0).alias("mu_kusd"),
        (F.round("sig", 4) + 0.0).alias("sigma_kusd"),
        (F.round("dd", 6) + 0.0).alias("lilliefors_d"),
        (
            F.round(F.col("dd") * F.sqrt(F.col("n").cast("double")), 6)
            + 0.0
        ).alias("d_scaled"),
        (F.col("dd") * F.sqrt(F.col("n").cast("double")) > 0.886)
        .cast("int")
        .alias("rejects_normal_05"),
    )


# --------------------------------------------------------------------------
# Rainbow linearity test (middle-half vs full-sample fit)
# --------------------------------------------------------------------------
@register(
    "rainbow_linearity_test",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    rk AS (
        SELECT d, y,
               CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS r,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM daily
    ),
    tagged AS (
        SELECT d, y, n,
               CASE WHEN r > n // 4 AND r <= n // 4 + n // 2
                    THEN 1 ELSE 0 END AS mid
        FROM rk
    ),
    mom AS (
        SELECT mid,
               CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(d) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(d * d) AS BIGINT) AS sxx,
               CAST(SUM(CAST(d AS DECIMAL(19,0)) * y) AS DECIMAL(38,0))
                   AS sxy,
               CAST(SUM(CAST(y AS DECIMAL(19,0)) * y) AS DECIMAL(38,0))
                   AS syy
        FROM tagged GROUP BY GROUPING SETS ((mid), ())
    ),
    ssr AS (
        SELECT COALESCE(mid, -1) AS grp, m,
               (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / m)
               - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / m)
                 * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / m)
                 / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / m)
                   AS rss,
               (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / m)
               / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / m)
                   AS slope
        FROM mom
    ),
    wide AS (
        SELECT
            MAX(CASE WHEN grp = -1 THEN m END) AS n,
            MAX(CASE WHEN grp = 1 THEN m END) AS nmid,
            MAX(CASE WHEN grp = -1 THEN rss END) AS rss_full,
            MAX(CASE WHEN grp = 1 THEN rss END) AS rss_mid,
            MAX(CASE WHEN grp = -1 THEN slope END) AS slope_full,
            MAX(CASE WHEN grp = 1 THEN slope END) AS slope_mid
        FROM ssr
    )
    SELECT n AS n_days, nmid AS n_mid,
           round((rss_full - rss_mid) / (n - nmid)
                 / (rss_mid / (nmid - 2)), 6) + 0.0 AS rainbow_f,
           round(slope_full / 100.0, 6) + 0.0 AS slope_full_usd,
           round(slope_mid / 100.0, 6) + 0.0 AS slope_mid_usd
    FROM wide
    """,
)
def rainbow_linearity_test(spark, sf_dir):
    """Utts' rainbow test of trend linearity on daily revenue: fit
    OLS on the middle half of the day-ordered sample (where a true
    linear model fits best) and on the full sample; under linearity
    the full-sample residual excess is just noise, and F =
    ((RSS_full − RSS_mid)/(n − n_mid)) / (RSS_mid/(n_mid − 2)) is
    F-distributed — curvature inflates it. Complements the
    registry's heteroskedasticity (Breusch-Pagan/White) and
    break-point (Quandt-Andrews) batteries with the MISSPECIFIED-
    SHAPE axis.

    Both regressions come from one GROUPING SETS pass over exact
    BIGINT/DECIMAL moments (day x cents products in DECIMAL(19,0)
    operands — the cochrane_orcutt class); RSS and F are terminal
    double expressions. The middle half is the deterministic rank
    window n/4 < r <= n/4 + n/2 on the calendar-day frame (bounded
    domain)."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    rk = daily.select(
        "d",
        "y",
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("n"),
    )
    tagged = rk.select(
        "d",
        "y",
        (
            (F.col("r") > F.floor(F.col("n") / 4))
            & (
                F.col("r")
                <= F.floor(F.col("n") / 4) + F.floor(F.col("n") / 2)
            )
        )
        .cast("int")
        .alias("mid"),
    )
    dd = F.col("d").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    mom = tagged.cube("mid").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("d").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("sxx"),
        F.sum(dd * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(yd * F.col("y")).cast("decimal(38,0)").alias("syy"),
    ).where(F.col("mid").isNull() | (F.col("mid") == 1))
    m = F.col("m")
    sxd = F.col("sx").cast("double")
    syd_ = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    syyd = F.col("syy").cast("double")
    sxxd = F.col("sxx").cast("double")
    sxy_c = sxyd - sxd * F.col("sy") / m
    sxx_c = sxxd - sxd * F.col("sx") / m
    ssr = mom.select(
        F.coalesce(F.col("mid"), F.lit(-1)).alias("grp"),
        "m",
        ((syyd - syd_ * F.col("sy") / m) - sxy_c * sxy_c / sxx_c).alias(
            "rss"
        ),
        (sxy_c / sxx_c).alias("slope"),
    )
    wide = ssr.agg(
        F.max(F.when(F.col("grp") == -1, F.col("m"))).alias("n"),
        F.max(F.when(F.col("grp") == 1, F.col("m"))).alias("nmid"),
        F.max(F.when(F.col("grp") == -1, F.col("rss"))).alias("rss_full"),
        F.max(F.when(F.col("grp") == 1, F.col("rss"))).alias("rss_mid"),
        F.max(F.when(F.col("grp") == -1, F.col("slope"))).alias(
            "slope_full"
        ),
        F.max(F.when(F.col("grp") == 1, F.col("slope"))).alias(
            "slope_mid"
        ),
    )
    return wide.select(
        F.col("n").alias("n_days"),
        F.col("nmid").alias("n_mid"),
        (
            F.round(
                (F.col("rss_full") - F.col("rss_mid"))
                / (F.col("n") - F.col("nmid"))
                / (F.col("rss_mid") / (F.col("nmid") - 2)),
                6,
            )
            + 0.0
        ).alias("rainbow_f"),
        (F.round(F.col("slope_full") / 100.0, 6) + 0.0).alias(
            "slope_full_usd"
        ),
        (F.round(F.col("slope_mid") / 100.0, 6) + 0.0).alias(
            "slope_mid_usd"
        ),
    )


# --------------------------------------------------------------------------
# XmR (individuals / moving-range) control chart
# --------------------------------------------------------------------------
@register(
    "xmr_individuals_chart",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    mr AS (
        SELECT d, y,
               abs(y - LAG(y) OVER (ORDER BY d)) AS r
        FROM daily
    ),
    lim AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(r) AS BIGINT) AS sr,
               CAST(COUNT(r) AS BIGINT) AS nr
        FROM mr
    ),
    flags AS (
        SELECT
            CAST(SUM(CASE WHEN CAST(mr.y AS DOUBLE)
                               > CAST(lim.sy AS DOUBLE) / lim.n
                                 + CAST(2.66 AS DOUBLE)
                                   * lim.sr / lim.nr
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_above_ucl,
            CAST(SUM(CASE WHEN CAST(mr.y AS DOUBLE)
                               < CAST(lim.sy AS DOUBLE) / lim.n
                                 - CAST(2.66 AS DOUBLE)
                                   * lim.sr / lim.nr
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_below_lcl,
            CAST(SUM(CASE WHEN CAST(mr.r AS DOUBLE)
                               > CAST(3.267 AS DOUBLE)
                                 * lim.sr / lim.nr
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_mr_beyond
        FROM mr, lim
    )
    SELECT lim.n AS n_days,
           round(CAST(lim.sy AS DOUBLE) / lim.n / 100.0, 4) + 0.0
               AS center_usd,
           round(CAST(lim.sr AS DOUBLE) / lim.nr / 100.0, 4) + 0.0
               AS mrbar_usd,
           round((CAST(lim.sy AS DOUBLE) / lim.n
                  + CAST(2.66 AS DOUBLE) * lim.sr / lim.nr) / 100.0, 4)
               + 0.0 AS ucl_usd,
           round((CAST(lim.sy AS DOUBLE) / lim.n
                  - CAST(2.66 AS DOUBLE) * lim.sr / lim.nr) / 100.0, 4)
               + 0.0 AS lcl_usd,
           f.n_above_ucl, f.n_below_lcl, f.n_mr_beyond
    FROM lim, flags f
    """,
)
def xmr_individuals_chart(spark, sf_dir):
    """XmR (individuals and moving-range) control chart on daily
    revenue — the SPC chart for UNGROUPED observations, completing
    the registry's control tier (Shewhart X-bar/R needs rational
    subgroups X361, EWMA weights history X216, CUSUM accumulates
    X-): center = mean, sigma-hat = MRbar/d2 via the standard 2.66
    (=3/d2(2)) individuals constant, UCL/LCL = center +- 2.66*MRbar,
    with the MR chart's own 3.267*MRbar upper limit; the three
    violation counts are the chart read-out.

    Exactness: y and the moving ranges are exact cents integers;
    centers/limits are terminal ratios of exact BIGINT folds; every
    violation compare runs the identical double expression in both
    engines. One lag window on the calendar-day frame (bounded
    domain); one fold; one flag pass."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    mr = daily.select(
        "d",
        "y",
        F.abs(F.col("y") - F.lag("y").over(Window.orderBy("d"))).alias(
            "r"
        ),
    )
    lim = mr.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("r").cast("bigint").alias("sr"),
        F.count("r").cast("bigint").alias("nr"),
    )
    center = F.col("sy").cast("double") / F.col("n")
    mrbar = F.col("sr").cast("double") / F.col("nr")
    ucl = center + F.lit(2.66).cast("double") * mrbar
    lcl = center - F.lit(2.66).cast("double") * mrbar
    flags = mr.crossJoin(F.broadcast(lim)).agg(
        F.sum(F.when(F.col("y").cast("double") > ucl, 1).otherwise(0))
        .cast("bigint")
        .alias("n_above_ucl"),
        F.sum(F.when(F.col("y").cast("double") < lcl, 1).otherwise(0))
        .cast("bigint")
        .alias("n_below_lcl"),
        F.sum(
            F.when(
                F.col("r").cast("double")
                > F.lit(3.267).cast("double") * mrbar,
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_mr_beyond"),
    )
    return lim.crossJoin(F.broadcast(flags)).select(
        F.col("n").alias("n_days"),
        (F.round(center / 100.0, 4) + 0.0).alias("center_usd"),
        (F.round(mrbar / 100.0, 4) + 0.0).alias("mrbar_usd"),
        (F.round(ucl / 100.0, 4) + 0.0).alias("ucl_usd"),
        (F.round(lcl / 100.0, 4) + 0.0).alias("lcl_usd"),
        "n_above_ucl",
        "n_below_lcl",
        "n_mr_beyond",
    )


# --------------------------------------------------------------------------
# Nyblom-Hansen parameter-stability LM test (location model)
# --------------------------------------------------------------------------
@register(
    "nyblom_hansen_stability",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS day,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    gs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s,
               CAST(SUM(CAST(y AS DECIMAL(19,0))
                        * CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0))
                   AS ss
        FROM daily
    ),
    prof AS (
        -- n-scaled exact cumulative score sum: S'_k = n*C_k - k*S
        SELECT CAST(CAST(gs.n AS DECIMAL(38,0))
                    * SUM(y) OVER (ORDER BY day
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW)
                    - CAST(ROW_NUMBER() OVER (ORDER BY day)
                           AS DECIMAL(38,0)) * gs.s
                    AS DECIMAL(19,0)) AS sp
        FROM daily, gs
    ),
    fold AS (
        SELECT CAST(SUM(sp * sp) AS DECIMAL(38,0)) AS spp
        FROM prof
    )
    SELECT gs.n AS n_days,
           round(CAST(f.spp AS DOUBLE)
                 / (CAST(gs.n AS DOUBLE) * gs.n * gs.n * gs.n
                    * ((CAST(gs.ss AS DOUBLE)
                        - CAST(gs.s AS DOUBLE) * gs.s / gs.n) / gs.n)),
                 6) + 0.0 AS nyblom_l,
           CAST(CASE WHEN CAST(f.spp AS DOUBLE)
                          / (CAST(gs.n AS DOUBLE) * gs.n * gs.n * gs.n
                             * ((CAST(gs.ss AS DOUBLE)
                                 - CAST(gs.s AS DOUBLE) * gs.s / gs.n)
                                / gs.n)) > 0.461
                THEN 1 ELSE 0 END AS INT) AS rejects_stability_05
    FROM gs, fold f
    """,
)
def nyblom_hansen_stability(spark, sf_dir):
    """Nyblom-Hansen LM test of location-parameter stability on daily
    revenue: L = (1/(n^2 sigma2_MLE)) * SUM_k S_k^2 with S_k the
    cumulative mean-deviation sum — the INTEGRAL-of-CUSUM-squared
    statistic (Cramer-von Mises weighting) that has power against
    slowly drifting parameters where the registry's max-type scans
    (CUSUM X-, MOSUM, Quandt-Andrews) look for a single sharp break;
    rejected at the 5% one-parameter critical value 0.461.

    Exactness (the dfa/mosum profile device): S'_k = n*C_k - k*S is
    an exact integer in DECIMAL(19,0) (so SUM S'^2 stays inside
    DECIMAL(38,0) in both engines' static typing), and L =
    SUM(S'^2) / (n^4 sigma2) divides out the n-scaling once, in the
    terminal expression. One day rollup; running-sum + row_number
    windows on the calendar-day frame (bounded domain); one fold."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    yd = F.col("y").cast("decimal(19,0)")
    gs = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(yd * yd).cast("decimal(38,0)").alias("ss"),
    )
    wspec = Window.orderBy("day")
    prof = daily.crossJoin(F.broadcast(gs)).select(
        (
            F.col("n").cast("decimal(38,0)")
            * F.sum("y").over(
                wspec.rowsBetween(Window.unboundedPreceding, 0)
            )
            - F.row_number().over(wspec).cast("decimal(38,0)")
            * F.col("s")
        )
        .cast("decimal(19,0)")
        .alias("sp")
    )
    fold = prof.agg(
        F.sum(F.col("sp") * F.col("sp")).cast("decimal(38,0)").alias("spp")
    )
    nd = F.col("n").cast("double")
    sig2 = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / F.col("n")
    lstat = F.col("spp").cast("double") / (
        nd * F.col("n") * F.col("n") * F.col("n") * sig2
    )
    return gs.crossJoin(F.broadcast(fold)).select(
        F.col("n").alias("n_days"),
        (F.round(lstat, 6) + 0.0).alias("nyblom_l"),
        (lstat > 0.461).cast("int").alias("rejects_stability_05"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "cornish_fisher_var": (
            "lag + rank windows over the calendar-day frame (bounded "
            "domain — the cusum class)"
        ),
        "lilliefors_normal_fit": (
            "ECDF cumulative window over the distinct daily-value "
            "grid (calendar-day-domain-bounded)"
        ),
        "rainbow_linearity_test": (
            "row_number window over the calendar-day frame (bounded "
            "domain)"
        ),
        "xmr_individuals_chart": (
            "lag window over the calendar-day frame (bounded domain)"
        ),
        "nyblom_hansen_stability": (
            "running-sum + row_number windows over the calendar-day "
            "frame (bounded domain — the dfa class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Bivariate (clicks, views) day frame split weekend/weekday — shared by
# the multivariate pair below
# --------------------------------------------------------------------------
_WEDAY_SQL = """
    dayv AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CASE WHEN (epoch_us(ts) // 86400000000 + 4) % 7 >= 5
                    THEN 1 ELSE 0 END AS we,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                        END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0
                        END) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    gm AS (
        SELECT we,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM dayv GROUP BY 1
    ),
    cov AS (
        SELECT we, n,
               CAST(sx AS DOUBLE) / n AS mx,
               CAST(sy AS DOUBLE) / n AS my,
               (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                   / (n - 1) AS a11,
               (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
                   / (n - 1) AS a22,
               (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                   / (n - 1) AS a12
        FROM gm
    ),
    wide AS (
        SELECT
            MAX(CASE WHEN we = 1 THEN n END) AS n1,
            MAX(CASE WHEN we = 0 THEN n END) AS n2,
            MAX(CASE WHEN we = 1 THEN mx END) AS mx1,
            MAX(CASE WHEN we = 0 THEN mx END) AS mx2,
            MAX(CASE WHEN we = 1 THEN my END) AS my1,
            MAX(CASE WHEN we = 0 THEN my END) AS my2,
            MAX(CASE WHEN we = 1 THEN a11 END) AS s1_11,
            MAX(CASE WHEN we = 1 THEN a22 END) AS s1_22,
            MAX(CASE WHEN we = 1 THEN a12 END) AS s1_12,
            MAX(CASE WHEN we = 0 THEN a11 END) AS s2_11,
            MAX(CASE WHEN we = 0 THEN a22 END) AS s2_22,
            MAX(CASE WHEN we = 0 THEN a12 END) AS s2_12
        FROM cov
    ),
    pooled AS (
        SELECT w.*,
               ((n1 - 1) * s1_11 + (n2 - 1) * s2_11) / (n1 + n2 - 2)
                   AS p11,
               ((n1 - 1) * s1_22 + (n2 - 1) * s2_22) / (n1 + n2 - 2)
                   AS p22,
               ((n1 - 1) * s1_12 + (n2 - 1) * s2_12) / (n1 + n2 - 2)
                   AS p12
        FROM wide w
    )
"""


def _weday(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    day = F.floor(F.unix_micros("ts") / 86_400_000_000).cast("bigint")
    dayv = e.groupBy(
        day.alias("day"), (((day + 4) % 7) >= 5).cast("int").alias("we")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    gm = dayv.groupBy("we").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    n = F.col("n")
    cov = gm.select(
        "we",
        "n",
        (F.col("sx").cast("double") / n).alias("mx"),
        (F.col("sy").cast("double") / n).alias("my"),
        (
            (F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / n)
            / (n - 1)
        ).alias("a11"),
        (
            (F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / n)
            / (n - 1)
        ).alias("a22"),
        (
            (F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / n)
            / (n - 1)
        ).alias("a12"),
    )

    def pick(cond, col):
        return F.max(F.when(cond, F.col(col)))

    we1, we0 = F.col("we") == 1, F.col("we") == 0
    wide = cov.agg(
        pick(we1, "n").alias("n1"),
        pick(we0, "n").alias("n2"),
        pick(we1, "mx").alias("mx1"),
        pick(we0, "mx").alias("mx2"),
        pick(we1, "my").alias("my1"),
        pick(we0, "my").alias("my2"),
        pick(we1, "a11").alias("s1_11"),
        pick(we1, "a22").alias("s1_22"),
        pick(we1, "a12").alias("s1_12"),
        pick(we0, "a11").alias("s2_11"),
        pick(we0, "a22").alias("s2_22"),
        pick(we0, "a12").alias("s2_12"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    return wide.select(
        "*",
        (
            ((n1 - 1) * F.col("s1_11") + (n2 - 1) * F.col("s2_11"))
            / (n1 + n2 - 2)
        ).alias("p11"),
        (
            ((n1 - 1) * F.col("s1_22") + (n2 - 1) * F.col("s2_22"))
            / (n1 + n2 - 2)
        ).alias("p22"),
        (
            ((n1 - 1) * F.col("s1_12") + (n2 - 1) * F.col("s2_12"))
            / (n1 + n2 - 2)
        ).alias("p12"),
    )


@register(
    "hotelling_t2_twosample",
    oracle=f"""
    WITH {_WEDAY_SQL}
    SELECT n1 AS n_weekend, n2 AS n_weekday,
           round(mx1 - mx2, 6) + 0.0 AS dmean_clicks,
           round(my1 - my2, 6) + 0.0 AS dmean_views,
           round(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)
                 * ((mx1 - mx2) * (p22 * (mx1 - mx2)
                                   - p12 * (my1 - my2))
                    + (my1 - my2) * (p11 * (my1 - my2)
                                     - p12 * (mx1 - mx2)))
                 / (p11 * p22 - p12 * p12), 6) + 0.0 AS t2_stat,
           round(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)
                 * ((mx1 - mx2) * (p22 * (mx1 - mx2)
                                   - p12 * (my1 - my2))
                    + (my1 - my2) * (p11 * (my1 - my2)
                                     - p12 * (mx1 - mx2)))
                 / (p11 * p22 - p12 * p12)
                 * (n1 + n2 - 3)
                 / (CAST(2 AS DOUBLE) * (n1 + n2 - 2)), 6) + 0.0
               AS f_stat
    FROM pooled
    """,
)
def hotelling_t2_twosample(spark, sf_dir):
    """Hotelling's T² two-sample test of the weekend-vs-weekday daily
    (clicks, views) MEAN VECTOR — the multivariate generalization the
    registry's per-metric t-tests can't express (two correlated
    count series tested jointly, with the correlation priced in):
    T² = (n1 n2/(n1+n2)) d' S_pooled^{-1} d with the 2x2 pooled
    covariance inverted in closed form (the mahalanobis_outliers_2d
    device), and F = T²(n1+n2-3)/(2(n1+n2-2)) exactly F(2, n1+n2-3).

    All group moments are exact BIGINT folds of integer day counts;
    means, covariances, the inverse, T² and F are one terminal
    double expression tree (identical both engines). Plan: one day
    rollup of the events scan, one 2-group rollup, scalar algebra —
    no windows, no joins on data grain."""
    wide = _weday(spark, sf_dir)
    n1, n2 = F.col("n1"), F.col("n2")
    dx = F.col("mx1") - F.col("mx2")
    dy = F.col("my1") - F.col("my2")
    p11, p22, p12 = F.col("p11"), F.col("p22"), F.col("p12")
    t2 = (
        n1.cast("double")
        * n2
        / (n1 + n2)
        * (dx * (p22 * dx - p12 * dy) + dy * (p11 * dy - p12 * dx))
        / (p11 * p22 - p12 * p12)
    )
    fstat = t2 * (n1 + n2 - 3) / (F.lit(2).cast("double") * (n1 + n2 - 2))
    return wide.select(
        n1.alias("n_weekend"),
        n2.alias("n_weekday"),
        (F.round(dx, 6) + 0.0).alias("dmean_clicks"),
        (F.round(dy, 6) + 0.0).alias("dmean_views"),
        (F.round(t2, 6) + 0.0).alias("t2_stat"),
        (F.round(fstat, 6) + 0.0).alias("f_stat"),
    )


@register(
    "box_m_covariance_test",
    oracle=f"""
    WITH {_WEDAY_SQL}
    SELECT n1 AS n_weekend, n2 AS n_weekday,
           round(ln(s1_11 * s1_22 - s1_12 * s1_12), 6) + 0.0
               AS ln_det_s1,
           round(ln(s2_11 * s2_22 - s2_12 * s2_12), 6) + 0.0
               AS ln_det_s2,
           round((n1 + n2 - 2) * ln(p11 * p22 - p12 * p12)
                 - (n1 - 1) * ln(s1_11 * s1_22 - s1_12 * s1_12)
                 - (n2 - 1) * ln(s2_11 * s2_22 - s2_12 * s2_12), 6)
               + 0.0 AS box_m,
           round(((n1 + n2 - 2) * ln(p11 * p22 - p12 * p12)
                  - (n1 - 1) * ln(s1_11 * s1_22 - s1_12 * s1_12)
                  - (n2 - 1) * ln(s2_11 * s2_22 - s2_12 * s2_12))
                 * (CAST(1 AS DOUBLE)
                    - (CAST(13 AS DOUBLE) / 18)
                      * (CAST(1 AS DOUBLE) / (n1 - 1)
                         + CAST(1 AS DOUBLE) / (n2 - 1)
                         - CAST(1 AS DOUBLE) / (n1 + n2 - 2))), 6)
               + 0.0 AS chi2_approx
    FROM pooled
    """,
)
def box_m_covariance_test(spark, sf_dir):
    """Box's M test of covariance-matrix EQUALITY between the weekend
    and weekday daily (clicks, views) distributions — the
    precondition check for pooled-covariance procedures (the
    Hotelling T² above, LDA-style classifiers): M = (N-g)ln|S_p| -
    SUM (n_g-1)ln|S_g|, with the Box chi2 scaling factor 1 - c where
    c = (2p^2+3p-1)/(6(p+1)(g-1)) * (SUM 1/(n_g-1) - 1/(N-g)) =
    (13/18)*(...) at p=2, g=2; df = p(p+1)(g-1)/2 = 3. The
    registry's univariate Bartlett (X203) is the p=1 special case.

    2x2 determinants in closed form from the same exact-BIGINT group
    moments as the T² query (shared frame); M and the scaled chi2
    are terminal double trees with every literal ratio written
    CAST-to-DOUBLE so neither engine builds DECIMAL literal chains.
    Plan: identical to hotelling_t2_twosample."""
    wide = _weday(spark, sf_dir)
    n1, n2 = F.col("n1"), F.col("n2")
    det1 = F.col("s1_11") * F.col("s1_22") - F.col("s1_12") * F.col("s1_12")
    det2 = F.col("s2_11") * F.col("s2_22") - F.col("s2_12") * F.col("s2_12")
    detp = F.col("p11") * F.col("p22") - F.col("p12") * F.col("p12")
    m = (
        (n1 + n2 - 2) * F.log(detp)
        - (n1 - 1) * F.log(det1)
        - (n2 - 1) * F.log(det2)
    )
    c = (F.lit(13).cast("double") / 18) * (
        F.lit(1).cast("double") / (n1 - 1)
        + F.lit(1).cast("double") / (n2 - 1)
        - F.lit(1).cast("double") / (n1 + n2 - 2)
    )
    return wide.select(
        n1.alias("n_weekend"),
        n2.alias("n_weekday"),
        (F.round(F.log(det1), 6) + 0.0).alias("ln_det_s1"),
        (F.round(F.log(det2), 6) + 0.0).alias("ln_det_s2"),
        (F.round(m, 6) + 0.0).alias("box_m"),
        (F.round(m * (F.lit(1).cast("double") - c), 6) + 0.0).alias(
            "chi2_approx"
        ),
    )


# --------------------------------------------------------------------------
# First/second canonical correlations: engagement block vs outcome block
# --------------------------------------------------------------------------
@register(
    "canonical_correlation_pairs",
    oracle="""
    WITH dayv AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                        END) AS BIGINT) AS x1,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0
                        END) AS BIGINT) AS x2,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                        END) AS BIGINT) AS y1,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                  AS BIGINT) ELSE 0 END) AS BIGINT)
                   AS y2
        FROM events GROUP BY 1
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x1) AS BIGINT) AS sx1,
               CAST(SUM(x2) AS BIGINT) AS sx2,
               CAST(SUM(y1) AS BIGINT) AS sy1,
               CAST(SUM(y2) AS BIGINT) AS sy2,
               CAST(SUM(x1 * x1) AS BIGINT) AS s11,
               CAST(SUM(x1 * x2) AS BIGINT) AS s12,
               CAST(SUM(x2 * x2) AS BIGINT) AS s22,
               CAST(SUM(CAST(y1 AS DECIMAL(19,0)) * y1)
                    AS DECIMAL(38,0)) AS t11,
               CAST(SUM(CAST(y1 AS DECIMAL(19,0)) * y2)
                    AS DECIMAL(38,0)) AS t12,
               CAST(SUM(CAST(y2 AS DECIMAL(19,0)) * y2)
                    AS DECIMAL(38,0)) AS t22,
               CAST(SUM(CAST(x1 AS DECIMAL(19,0)) * y1)
                    AS DECIMAL(38,0)) AS c11,
               CAST(SUM(CAST(x1 AS DECIMAL(19,0)) * y2)
                    AS DECIMAL(38,0)) AS c12,
               CAST(SUM(CAST(x2 AS DECIMAL(19,0)) * y1)
                    AS DECIMAL(38,0)) AS c21,
               CAST(SUM(CAST(x2 AS DECIMAL(19,0)) * y2)
                    AS DECIMAL(38,0)) AS c22
        FROM dayv
    ),
    cv AS (
        SELECT n,
               CAST(s11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n AS a11,
               CAST(s12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx2 / n AS a12,
               CAST(s22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx2 / n AS a22,
               CAST(t11 AS DOUBLE) - CAST(sy1 AS DOUBLE) * sy1 / n AS b11,
               CAST(t12 AS DOUBLE) - CAST(sy1 AS DOUBLE) * sy2 / n AS b12,
               CAST(t22 AS DOUBLE) - CAST(sy2 AS DOUBLE) * sy2 / n AS b22,
               CAST(c11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy1 / n AS g11,
               CAST(c12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy2 / n AS g12,
               CAST(c21 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sy1 / n AS g21,
               CAST(c22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sy2 / n AS g22
        FROM m
    ),
    bc AS (
        -- B = Sxx^-1 Sxy ; C = Syy^-1 Syx ; M = B C (2x2 each)
        SELECT n,
               (a22 * g11 - a12 * g21) / (a11 * a22 - a12 * a12) AS b11_,
               (a22 * g12 - a12 * g22) / (a11 * a22 - a12 * a12) AS b12_,
               (a11 * g21 - a12 * g11) / (a11 * a22 - a12 * a12) AS b21_,
               (a11 * g22 - a12 * g12) / (a11 * a22 - a12 * a12) AS b22_,
               (b22 * g11 - b12 * g12) / (b11 * b22 - b12 * b12) AS c11_,
               (b22 * g21 - b12 * g22) / (b11 * b22 - b12 * b12) AS c12_,
               (b11 * g12 - b12 * g11) / (b11 * b22 - b12 * b12) AS c21_,
               (b11 * g22 - b12 * g21) / (b11 * b22 - b12 * b12) AS c22_
        FROM cv
    ),
    mm AS (
        SELECT n,
               b11_ * c11_ + b12_ * c21_ AS m11,
               b11_ * c12_ + b12_ * c22_ AS m12,
               b21_ * c11_ + b22_ * c21_ AS m21,
               b21_ * c12_ + b22_ * c22_ AS m22
        FROM bc
    ),
    eig AS (
        SELECT n,
               (m11 + m22
                + sqrt(greatest(0.0, (m11 + m22) * (m11 + m22)
                                - CAST(4 AS DOUBLE)
                                  * (m11 * m22 - m12 * m21))))
               / CAST(2 AS DOUBLE) AS l1,
               (m11 + m22
                - sqrt(greatest(0.0, (m11 + m22) * (m11 + m22)
                                - CAST(4 AS DOUBLE)
                                  * (m11 * m22 - m12 * m21))))
               / CAST(2 AS DOUBLE) AS l2
        FROM mm
    )
    SELECT n AS n_days,
           round(sqrt(greatest(0.0, l1)), 6) + 0.0 AS rho1,
           round(sqrt(greatest(0.0, l2)), 6) + 0.0 AS rho2,
           round((CAST(1 AS DOUBLE) - l1) * (CAST(1 AS DOUBLE) - l2),
                 6) + 0.0 AS wilks_lambda,
           round(-(n - CAST(7 AS DOUBLE) / 2)
                 * ln((CAST(1 AS DOUBLE) - l1)
                      * (CAST(1 AS DOUBLE) - l2)), 6) + 0.0
               AS bartlett_chi2
    FROM eig
    """,
)
def canonical_correlation_pairs(spark, sf_dir):
    """Canonical correlation analysis between the daily ENGAGEMENT
    block (clicks, views) and OUTCOME block (purchase count, purchase
    revenue) — the multivariate association summary that one Pearson
    per pair can't give: rho1/rho2 are the singular correlations of
    the best-aligned linear combinations, Wilks' Lambda =
    prod(1 - lambda_i) tests joint independence with Bartlett's chi2
    = -(n - (p+q+3)/2) ln Lambda on pq = 4 df. Completes the
    multivariate tier beside Hotelling T2 (mean vectors), Box M
    (covariances), and the closed-form 2x2 PCA (X235).

    The 2x2x2x2 eigenproblem M = Sxx^-1 Sxy Syy^-1 Syx is solved in
    closed form (two adjugate inverses, one 2x2 product, the
    trace/det quadratic, greatest(0,.)-guarded roots). All 14
    moments are exact BIGINT/DECIMAL folds from one day rollup
    (DECIMAL(19,0) operands keep the cents cross-products exact at
    any SF); everything after is one scalar double tree. Plan: one
    events scan, one day rollup, one fold — no windows, no joins."""
    e = t(spark, sf_dir, "events")
    day = F.floor(F.unix_micros("ts") / 86_400_000_000).cast("bigint")
    cents = (dec("value", 18, 2) * 100).cast("bigint")
    dayv = e.groupBy(day.alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x1"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("x2"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y1"),
        F.sum(
            F.when(F.col("event_type") == "purchase", cents).otherwise(0)
        )
        .cast("bigint")
        .alias("y2"),
    )
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    m = dayv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("sx1"),
        F.sum("x2").cast("bigint").alias("sx2"),
        F.sum("y1").cast("bigint").alias("sy1"),
        F.sum("y2").cast("bigint").alias("sy2"),
        F.sum(F.col("x1") * F.col("x1")).cast("bigint").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("bigint").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("bigint").alias("s22"),
        F.sum(d19("y1") * F.col("y1")).cast("decimal(38,0)").alias("t11"),
        F.sum(d19("y1") * F.col("y2")).cast("decimal(38,0)").alias("t12"),
        F.sum(d19("y2") * F.col("y2")).cast("decimal(38,0)").alias("t22"),
        F.sum(d19("x1") * F.col("y1")).cast("decimal(38,0)").alias("c11"),
        F.sum(d19("x1") * F.col("y2")).cast("decimal(38,0)").alias("c12"),
        F.sum(d19("x2") * F.col("y1")).cast("decimal(38,0)").alias("c21"),
        F.sum(d19("x2") * F.col("y2")).cast("decimal(38,0)").alias("c22"),
    )
    n = F.col("n")

    def ctr(tot, a, b):
        return (
            F.col(tot).cast("double")
            - F.col(a).cast("double") * F.col(b) / n
        )

    cv = m.select(
        "n",
        ctr("s11", "sx1", "sx1").alias("a11"),
        ctr("s12", "sx1", "sx2").alias("a12"),
        ctr("s22", "sx2", "sx2").alias("a22"),
        ctr("t11", "sy1", "sy1").alias("b11"),
        ctr("t12", "sy1", "sy2").alias("b12"),
        ctr("t22", "sy2", "sy2").alias("b22"),
        ctr("c11", "sx1", "sy1").alias("g11"),
        ctr("c12", "sx1", "sy2").alias("g12"),
        ctr("c21", "sx2", "sy1").alias("g21"),
        ctr("c22", "sx2", "sy2").alias("g22"),
    )
    deta = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    detb = F.col("b11") * F.col("b22") - F.col("b12") * F.col("b12")
    bc = cv.select(
        "n",
        ((F.col("a22") * F.col("g11") - F.col("a12") * F.col("g21")) / deta).alias("b11_"),
        ((F.col("a22") * F.col("g12") - F.col("a12") * F.col("g22")) / deta).alias("b12_"),
        ((F.col("a11") * F.col("g21") - F.col("a12") * F.col("g11")) / deta).alias("b21_"),
        ((F.col("a11") * F.col("g22") - F.col("a12") * F.col("g12")) / deta).alias("b22_"),
        ((F.col("b22") * F.col("g11") - F.col("b12") * F.col("g12")) / detb).alias("c11_"),
        ((F.col("b22") * F.col("g21") - F.col("b12") * F.col("g22")) / detb).alias("c12_"),
        ((F.col("b11") * F.col("g12") - F.col("b12") * F.col("g11")) / detb).alias("c21_"),
        ((F.col("b11") * F.col("g22") - F.col("b12") * F.col("g21")) / detb).alias("c22_"),
    )
    mm = bc.select(
        "n",
        (F.col("b11_") * F.col("c11_") + F.col("b12_") * F.col("c21_")).alias("m11"),
        (F.col("b11_") * F.col("c12_") + F.col("b12_") * F.col("c22_")).alias("m12"),
        (F.col("b21_") * F.col("c11_") + F.col("b22_") * F.col("c21_")).alias("m21"),
        (F.col("b21_") * F.col("c12_") + F.col("b22_") * F.col("c22_")).alias("m22"),
    )
    tr = F.col("m11") + F.col("m22")
    det = F.col("m11") * F.col("m22") - F.col("m12") * F.col("m21")
    disc = F.sqrt(
        F.greatest(
            F.lit(0.0), tr * tr - F.lit(4).cast("double") * det
        )
    )
    eig = mm.select(
        "n",
        ((tr + disc) / F.lit(2).cast("double")).alias("l1"),
        ((tr - disc) / F.lit(2).cast("double")).alias("l2"),
    )
    one = F.lit(1).cast("double")
    wilks = (one - F.col("l1")) * (one - F.col("l2"))
    return eig.select(
        F.col("n").alias("n_days"),
        (F.round(F.sqrt(F.greatest(F.lit(0.0), F.col("l1"))), 6) + 0.0).alias("rho1"),
        (F.round(F.sqrt(F.greatest(F.lit(0.0), F.col("l2"))), 6) + 0.0).alias("rho2"),
        (F.round(wilks, 6) + 0.0).alias("wilks_lambda"),
        (
            F.round(
                -(F.col("n") - F.lit(7).cast("double") / 2) * F.log(wilks),
                6,
            )
            + 0.0
        ).alias("bartlett_chi2"),
    )


# --------------------------------------------------------------------------
# Mardia's multivariate skewness / kurtosis normality test
# --------------------------------------------------------------------------
@register(
    "mardia_multivariate_normality",
    oracle="""
    WITH dayv AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                        END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0
                        END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM dayv
    ),
    inv AS (
        -- MLE covariance (divide n) inverted in closed form; entries
        -- rounded at 10 dp so both engines standardize identically
        SELECT n,
               round((CAST(syy AS DOUBLE) / n
                      - (CAST(sy AS DOUBLE) / n) * (sy * 1.0 / n))
                     / ((CAST(sxx AS DOUBLE) / n
                         - (CAST(sx AS DOUBLE) / n) * (sx * 1.0 / n))
                        * (CAST(syy AS DOUBLE) / n
                           - (CAST(sy AS DOUBLE) / n) * (sy * 1.0 / n))
                        - (CAST(sxy AS DOUBLE) / n
                           - (CAST(sx AS DOUBLE) / n) * (sy * 1.0 / n))
                          * (CAST(sxy AS DOUBLE) / n
                             - (CAST(sx AS DOUBLE) / n)
                               * (sy * 1.0 / n))), 10) AS i11,
               round(-(CAST(sxy AS DOUBLE) / n
                       - (CAST(sx AS DOUBLE) / n) * (sy * 1.0 / n))
                     / ((CAST(sxx AS DOUBLE) / n
                         - (CAST(sx AS DOUBLE) / n) * (sx * 1.0 / n))
                        * (CAST(syy AS DOUBLE) / n
                           - (CAST(sy AS DOUBLE) / n) * (sy * 1.0 / n))
                        - (CAST(sxy AS DOUBLE) / n
                           - (CAST(sx AS DOUBLE) / n) * (sy * 1.0 / n))
                          * (CAST(sxy AS DOUBLE) / n
                             - (CAST(sx AS DOUBLE) / n)
                               * (sy * 1.0 / n))), 10) AS i12,
               round((CAST(sxx AS DOUBLE) / n
                      - (CAST(sx AS DOUBLE) / n) * (sx * 1.0 / n))
                     / ((CAST(sxx AS DOUBLE) / n
                         - (CAST(sx AS DOUBLE) / n) * (sx * 1.0 / n))
                        * (CAST(syy AS DOUBLE) / n
                           - (CAST(sy AS DOUBLE) / n) * (sy * 1.0 / n))
                        - (CAST(sxy AS DOUBLE) / n
                           - (CAST(sx AS DOUBLE) / n) * (sy * 1.0 / n))
                          * (CAST(sxy AS DOUBLE) / n
                             - (CAST(sx AS DOUBLE) / n)
                               * (sy * 1.0 / n))), 10) AS i22,
               round(CAST(sx AS DOUBLE) / n, 8) AS mx,
               round(CAST(sy AS DOUBLE) / n, 8) AS my
        FROM m
    ),
    dev AS (
        SELECT d.day,
               round(d.x - i.mx, 8) AS dx,
               round(d.y - i.my, 8) AS dy
        FROM dayv d, inv i
    ),
    b2 AS (
        SELECT CAST(SUM(CAST(round(
                   (dx * (i.i11 * dx + i.i12 * dy)
                    + dy * (i.i12 * dx + i.i22 * dy))
                   * (dx * (i.i11 * dx + i.i12 * dy)
                      + dy * (i.i12 * dx + i.i22 * dy)), 6)
                   AS DECIMAL(38,6))) AS DOUBLE) AS sb2
        FROM dev, inv i
    ),
    b1 AS (
        SELECT CAST(SUM(CAST(round(
                   (a.dx * (i.i11 * b.dx + i.i12 * b.dy)
                    + a.dy * (i.i12 * b.dx + i.i22 * b.dy))
                   * (a.dx * (i.i11 * b.dx + i.i12 * b.dy)
                      + a.dy * (i.i12 * b.dx + i.i22 * b.dy))
                   * (a.dx * (i.i11 * b.dx + i.i12 * b.dy)
                      + a.dy * (i.i12 * b.dx + i.i22 * b.dy)), 6)
                   AS DECIMAL(38,6))) AS DOUBLE) AS sb1
        FROM dev a, dev b, inv i
    )
    SELECT i.n AS n_days,
           round(b1.sb1 / (CAST(i.n AS DOUBLE) * i.n), 6) + 0.0
               AS mardia_b1,
           round(b2.sb2 / i.n, 6) + 0.0 AS mardia_b2,
           round(i.n * (b1.sb1 / (CAST(i.n AS DOUBLE) * i.n)) / 6.0, 6)
               + 0.0 AS skew_chi2_df4,
           round((b2.sb2 / i.n - 8.0) / sqrt(64.0 / i.n), 6) + 0.0
               AS kurt_z
    FROM inv i, b1, b2
    """,
)
def mardia_multivariate_normality(spark, sf_dir):
    """Mardia's multivariate skewness b1,p and kurtosis b2,p of the
    daily (clicks, views) vector — the JOINT normality certificate
    behind Hotelling/Box/CCA's distributional assumptions (univariate
    D'Agostino per margin cannot see dependence-structure
    non-normality): b1 = (1/n²) Σ_ij (d_i' S⁻¹ d_j)³ with n·b1/6 ~
    χ²(4), b2 = (1/n) Σ_i (d_i' S⁻¹ d_i)² with (b2−8)/√(64/n) ~ N(0,1)
    at p = 2.

    The pairwise b1 double sum runs as a self-join of the
    CALENDAR-DAY deviation frame — n² pairs of a DOMAIN-bounded grid
    (5.8M at ten years of days), never data-grain²; S⁻¹ entries and
    the means are rounded at 10/8 dp before broadcast so both engines
    standardize identical doubles, and every Mahalanobis kernel term
    is rounded at 6 dp before its DECIMAL(38,6) fold
    (order-independent). Plan: one day rollup, one closed-form 2x2
    inverse, one bounded self-join + two folds."""
    e = t(spark, sf_dir, "events")
    day = F.floor(F.unix_micros("ts") / 86_400_000_000).cast("bigint")
    dayv = e.groupBy(day.alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    m = dayv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    n = F.col("n")
    mx = F.col("sx").cast("double") / n
    my = F.col("sy").cast("double") / n
    v11 = F.col("sxx").cast("double") / n - mx * (F.col("sx") * 1.0 / n)
    v22 = F.col("syy").cast("double") / n - my * (F.col("sy") * 1.0 / n)
    v12 = F.col("sxy").cast("double") / n - mx * (F.col("sy") * 1.0 / n)
    det = v11 * v22 - v12 * v12
    inv = m.select(
        "n",
        F.round(v22 / det, 10).alias("i11"),
        F.round(-v12 / det, 10).alias("i12"),
        F.round(v11 / det, 10).alias("i22"),
        F.round(mx, 8).alias("mx"),
        F.round(my, 8).alias("my"),
    )
    dev = dayv.crossJoin(F.broadcast(inv)).select(
        "day",
        "n",
        "i11",
        "i12",
        "i22",
        F.round(F.col("x") - F.col("mx"), 8).alias("dx"),
        F.round(F.col("y") - F.col("my"), 8).alias("dy"),
    )
    r6 = lambda c: F.round(c, 6).cast("decimal(38,6)")  # noqa: E731
    q = F.col("dx") * (
        F.col("i11") * F.col("dx") + F.col("i12") * F.col("dy")
    ) + F.col("dy") * (
        F.col("i12") * F.col("dx") + F.col("i22") * F.col("dy")
    )
    b2 = dev.agg(F.sum(r6(q * q)).cast("double").alias("sb2"))
    da = dev.select(
        F.col("day").alias("da_day"),
        F.col("dx").alias("adx"),
        F.col("dy").alias("ady"),
    )
    db = dev.select(
        F.col("day").alias("db_day"),
        F.col("dx").alias("bdx"),
        F.col("dy").alias("bdy"),
        "i11",
        "i12",
        "i22",
    )
    cross = da.crossJoin(db)
    kern = F.col("adx") * (
        F.col("i11") * F.col("bdx") + F.col("i12") * F.col("bdy")
    ) + F.col("ady") * (
        F.col("i12") * F.col("bdx") + F.col("i22") * F.col("bdy")
    )
    b1 = cross.agg(
        F.sum(r6(kern * kern * kern)).cast("double").alias("sb1")
    )
    nd = n.cast("double")
    return (
        inv.crossJoin(F.broadcast(b1))
        .crossJoin(F.broadcast(b2))
        .select(
            n.alias("n_days"),
            (F.round(F.col("sb1") / (nd * n), 6) + 0.0).alias(
                "mardia_b1"
            ),
            (F.round(F.col("sb2") / n, 6) + 0.0).alias("mardia_b2"),
            (
                F.round(n * (F.col("sb1") / (nd * n)) / 6.0, 6) + 0.0
            ).alias("skew_chi2_df4"),
            (
                F.round(
                    (F.col("sb2") / n - 8.0) / F.sqrt(64.0 / n), 6
                )
                + 0.0
            ).alias("kurt_z"),
        )
    )


PLAN_AUDIT_NOTES.update(
    {
        "mardia_multivariate_normality": (
            "INFO: calendar-day-frame self-join (bounded n_days^2 pair "
            "frame — the distance_correlation class); the crossJoin "
            "is the b1 double sum over the day domain, never "
            "data-grain"
        ),
    }
)


# --------------------------------------------------------------------------
# Aalen-Johansen cumulative incidence under competing risks
# --------------------------------------------------------------------------
@register(
    "aalen_johansen_competing",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(min(epoch_us(ts)) AS BIGINT) AS t0,
               CAST(min(CASE WHEN event_type = 'purchase'
                        THEN epoch_us(ts) END) AS BIGINT) AS tp,
               CAST(min(CASE WHEN event_type = 'error'
                        THEN epoch_us(ts) END) AS BIGINT) AS te,
               CAST(max(epoch_us(ts)) AS BIGINT) AS tend
        FROM events GROUP BY user_id
    ),
    obs AS (
        SELECT user_id,
               CASE
                   WHEN tp IS NOT NULL
                        AND (te IS NULL OR tp <= te)
                       THEN (tp - t0) // 3600000000
                   WHEN te IS NOT NULL THEN (te - t0) // 3600000000
                   ELSE (tend - t0) // 3600000000
               END AS traw,
               CASE
                   WHEN tp IS NOT NULL
                        AND (te IS NULL OR tp <= te) THEN 1
                   WHEN te IS NOT NULL THEN 2
                   ELSE 0
               END AS cause
        FROM per_user
    ),
    capped AS (
        SELECT CASE WHEN traw > 336 THEN 337 ELSE traw END AS tt,
               CASE WHEN traw > 336 THEN 0 ELSE cause END AS cause
        FROM obs
    ),
    grid AS (
        SELECT tt,
               CAST(COUNT(*) AS BIGINT) AS c_all,
               CAST(SUM(CASE WHEN cause = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS d1,
               CAST(SUM(CASE WHEN cause = 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS d2
        FROM capped GROUP BY tt
    ),
    risk AS (
        SELECT tt, d1, d2,
               CAST(SUM(c_all) OVER (ORDER BY tt
                                     ROWS BETWEEN CURRENT ROW
                                     AND UNBOUNDED FOLLOWING)
                    AS BIGINT) AS n_at
        FROM grid
    ),
    km AS (
        -- n_at = d1+d2 (zero survivors) can only happen at the LAST
        -- grid row, whose hazard term feeds no later exclusive
        -- prefix: NULL it out (SUM skips NULLs) instead of ln(0)
        SELECT tt, d1, d2, n_at,
               exp(COALESCE(SUM(CASE WHEN n_at - d1 - d2 > 0
                       THEN round(ln(
                           CAST(n_at - d1 - d2 AS DOUBLE) / n_at), 10)
                       END)
                   OVER (ORDER BY tt
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0.0)) AS s_minus
        FROM risk
    ),
    cif AS (
        SELECT tt,
               SUM(round(s_minus * d1 / n_at, 10))
                   OVER (ORDER BY tt
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cif1,
               SUM(round(s_minus * d2 / n_at, 10))
                   OVER (ORDER BY tt
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cif2
        FROM km
    ),
    hz AS (SELECT CAST(h AS BIGINT) AS h
           FROM (VALUES (24), (72), (168), (336)) t(h)),
    at_h AS (
        SELECT hz.h,
               MAX(cif.cif1) AS c1,
               MAX(cif.cif2) AS c2
        FROM hz LEFT JOIN cif ON cif.tt <= hz.h
        GROUP BY hz.h
    )
    SELECT h AS horizon_hours,
           round(COALESCE(c1, 0.0), 6) + 0.0 AS cif_purchase,
           round(COALESCE(c2, 0.0), 6) + 0.0 AS cif_error,
           round(1.0 - COALESCE(c1, 0.0) - COALESCE(c2, 0.0), 6) + 0.0
               AS event_free
    FROM at_h
    ORDER BY h
    """,
)
def aalen_johansen_competing(spark, sf_dir):
    """Aalen-Johansen cumulative incidence functions under COMPETING
    risks: from each user's first observed event, the probability of
    a first PURCHASE (cause 1) vs a first ERROR (cause 2) by horizon
    h — where one minus the per-cause Kaplan-Meier (X100) famously
    OVERSTATES incidence when the other cause removes users first.
    CIF_k(t) = sum_{{u<=t}} S(u-) d_k(u)/n(u) with S the all-cause KM;
    the identity CIF_1 + CIF_2 + S = 1 makes event_free a built-in
    self-check. Ties (tp = te) break to purchase; times past the
    336 h horizon are censored at 337 (deterministic cap that keeps
    the risk grid <= 338 rows).

    The KM product is the registry's exp-of-ln-sum device: each
    hazard term ln((n-d)/n) is an exact-rational double rounded at
    10 dp before the EXCLUSIVE-prefix fold, so S(u-) is identical in
    both engines; CIF increments are rounded at 10 dp before their
    cumulative fold. Plan: one user rollup (data-grain, map-side
    combinable), one grid rollup; the three cumulative windows run
    on the capped HOUR-GRID frame (bounded domain)."""
    e = t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    per_user = e.groupBy("user_id").agg(
        F.min(us).cast("bigint").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", us))
        .cast("bigint")
        .alias("tp"),
        F.min(F.when(F.col("event_type") == "error", us))
        .cast("bigint")
        .alias("te"),
        F.max(us).cast("bigint").alias("tend"),
    )
    pfirst = F.col("tp").isNotNull() & (
        F.col("te").isNull() | (F.col("tp") <= F.col("te"))
    )
    traw = (
        F.when(pfirst, F.floor((F.col("tp") - F.col("t0")) / 3_600_000_000))
        .when(
            F.col("te").isNotNull(),
            F.floor((F.col("te") - F.col("t0")) / 3_600_000_000),
        )
        .otherwise(F.floor((F.col("tend") - F.col("t0")) / 3_600_000_000))
    ).cast("bigint")
    cause = (
        F.when(pfirst, 1)
        .when(F.col("te").isNotNull(), 2)
        .otherwise(0)
    )
    obs = per_user.select(traw.alias("traw"), cause.alias("cause"))
    capped = obs.select(
        F.when(F.col("traw") > 336, 337)
        .otherwise(F.col("traw"))
        .cast("bigint")
        .alias("tt"),
        F.when(F.col("traw") > 336, 0).otherwise(F.col("cause")).alias(
            "cause"
        ),
    )
    grid = capped.groupBy("tt").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_all"),
        F.sum(F.when(F.col("cause") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.when(F.col("cause") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("d2"),
    )
    wtt = Window.orderBy("tt")
    risk = grid.select(
        "tt",
        "d1",
        "d2",
        F.sum("c_all")
        .over(wtt.rowsBetween(0, Window.unboundedFollowing))
        .cast("bigint")
        .alias("n_at"),
    )
    hterm = F.when(
        F.col("n_at") - F.col("d1") - F.col("d2") > 0,
        F.round(
            F.log(
                (F.col("n_at") - F.col("d1") - F.col("d2")).cast("double")
                / F.col("n_at")
            ),
            10,
        ),
    )
    km = risk.select(
        "tt",
        "d1",
        "d2",
        "n_at",
        F.exp(
            F.coalesce(
                F.sum(hterm).over(
                    wtt.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0.0),
            )
        ).alias("s_minus"),
    )
    cif = km.select(
        "tt",
        F.sum(
            F.round(F.col("s_minus") * F.col("d1") / F.col("n_at"), 10)
        )
        .over(wtt.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cif1"),
        F.sum(
            F.round(F.col("s_minus") * F.col("d2") / F.col("n_at"), 10)
        )
        .over(wtt.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cif2"),
    )
    hz = spark.range(1).select(
        F.explode(
            F.array(F.lit(24), F.lit(72), F.lit(168), F.lit(336))
        ).alias("h0")
    ).select(F.col("h0").cast("bigint").alias("h"))
    at_h = (
        hz.join(cif, cif.tt <= hz.h, "left")
        .groupBy("h")
        .agg(F.max("cif1").alias("c1"), F.max("cif2").alias("c2"))
    )
    c1 = F.coalesce(F.col("c1"), F.lit(0.0))
    c2 = F.coalesce(F.col("c2"), F.lit(0.0))
    return at_h.select(
        F.col("h").alias("horizon_hours"),
        (F.round(c1, 6) + 0.0).alias("cif_purchase"),
        (F.round(c2, 6) + 0.0).alias("cif_error"),
        (F.round(1.0 - c1 - c2, 6) + 0.0).alias("event_free"),
    ).orderBy("h")


PLAN_AUDIT_NOTES.update(
    {
        "aalen_johansen_competing": (
            "reverse-cumulative + two prefix windows over the capped "
            "337-row hour grid (bounded domain — the kaplan_meier "
            "class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Poisson overdispersion / zero-inflation panel on hourly purchases
# --------------------------------------------------------------------------
@register(
    "poisson_dispersion_panel",
    oracle="""
    WITH hours AS (
        SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h
        FROM events WHERE event_type = 'purchase'
    ),
    span AS (
        SELECT CAST(min(h) AS BIGINT) AS h0, CAST(max(h) AS BIGINT) AS h1
        FROM hours
    ),
    grid AS (
        SELECT CAST(u.g AS BIGINT) AS h
        FROM span, LATERAL UNNEST(range(span.h0, span.h1 + 1)) AS u(g)
    ),
    counts AS (
        SELECT h, CAST(COUNT(*) AS BIGINT) AS k FROM hours GROUP BY h
    ),
    filled AS (
        SELECT g.h, COALESCE(c.k, 0) AS k
        FROM grid g LEFT JOIN counts c ON g.h = c.h
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(k) AS BIGINT) AS kk,
               CAST(SUM(k * k) AS BIGINT) AS kk2,
               CAST(SUM(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n0
        FROM filled
    ),
    s AS (
        SELECT n, kk, n0,
               CAST(kk AS DOUBLE) / n AS lam,
               (CAST(kk2 AS DOUBLE) - CAST(kk AS DOUBLE) * kk / n)
                   / (n - 1) AS s2
        FROM m
    )
    SELECT n AS n_hours, n0 AS n_zero_hours,
           round(lam, 6) + 0.0 AS lambda_hat,
           round(s2 / lam, 6) + 0.0 AS var_mean_ratio,
           round(sqrt(CAST(2 AS DOUBLE) * (n - 1) * s2 / lam)
                 - sqrt(CAST(2 AS DOUBLE) * (n - 1) - 1), 6) + 0.0
               AS dispersion_z,
           round(CASE WHEN s2 > lam THEN lam * lam / (s2 - lam) END, 6)
               + 0.0 AS nb_k_hat,
           round(CASE WHEN n * exp(-lam) * (CAST(1 AS DOUBLE)
                               - exp(-lam))
                           - n * lam * exp(-lam) * exp(-lam) > 0
                      THEN (n0 - n * exp(-lam)) * (n0 - n * exp(-lam))
                           / (n * exp(-lam) * (CAST(1 AS DOUBLE)
                                               - exp(-lam))
                              - n * lam * exp(-lam) * exp(-lam))
                 END, 6) + 0.0 AS zip_score_chi2
    FROM s
    """,
)
def poisson_dispersion_panel(spark, sf_dir):
    """Poisson adequacy panel for the hourly purchase-arrival counts
    on the ZERO-FILLED hour grid (the allan_variance device — empty
    hours are real observations, not missing data): the index of
    dispersion D = (n-1)s²/λ̂ with its Wilson-Hilferty-style normal
    deviate √(2D) − √(2(n−1)−1), the method-of-moments negative-
    binomial size k̂ = λ̂²/(s²−λ̂) (NULL when under-dispersed — the
    repair parameter if Poisson fails), and van den Broek's score
    test for ZERO-INFLATION (n₀ − n·e^{−λ̂})²/(n·e^{−λ̂}(1−e^{−λ̂}) −
    n·λ̂·e^{−2λ̂}) ~ χ²(1) — the three questions (overdispersed?
    how much? excess zeros?) asked before any count model ships.
    The zero-inflation score is NULL when its denominator underflows
    (e^-lambda -> 0 at high arrival rates: no zeros are expected and
    the score is undefined — caught by the 64x key-shifted probe,
    where ANSI division raised on the 0/0).

    Exact BIGINT folds of the integer counts; every statistic is a
    terminal double tree. Plan: one filtered scan → hour rollup, one
    bounded grid fill (hour domain), one fold — no windows."""
    e = t(spark, sf_dir, "events")
    hours = e.where(F.col("event_type") == "purchase").select(
        F.floor(F.unix_micros("ts") / 3_600_000_000)
        .cast("bigint")
        .alias("h")
    )
    span = hours.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = span.select(
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h")
    )
    counts = hours.groupBy("h").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    filled = grid.join(counts, "h", "left").select(
        F.coalesce(F.col("k"), F.lit(0)).cast("bigint").alias("k")
    )
    m = filled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("kk"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("kk2"),
        F.sum(F.when(F.col("k") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
    )
    n = F.col("n")
    lam = F.col("kk").cast("double") / n
    s2 = (
        F.col("kk2").cast("double") - F.col("kk").cast("double") * F.col("kk") / n
    ) / (n - 1)
    s = m.select("n", "n0", lam.alias("lam"), s2.alias("s2"))
    lamc, s2c, n0 = F.col("lam"), F.col("s2"), F.col("n0")
    two = F.lit(2).cast("double")
    zip_num = (n0 - n * F.exp(-lamc)) * (n0 - n * F.exp(-lamc))
    zip_den = n * F.exp(-lamc) * (
        F.lit(1).cast("double") - F.exp(-lamc)
    ) - n * lamc * F.exp(-lamc) * F.exp(-lamc)
    return s.select(
        n.alias("n_hours"),
        n0.alias("n_zero_hours"),
        (F.round(lamc, 6) + 0.0).alias("lambda_hat"),
        (F.round(s2c / lamc, 6) + 0.0).alias("var_mean_ratio"),
        (
            F.round(
                F.sqrt(two * (n - 1) * s2c / lamc)
                - F.sqrt(two * (n - 1) - 1),
                6,
            )
            + 0.0
        ).alias("dispersion_z"),
        (
            F.round(
                F.when(s2c > lamc, lamc * lamc / (s2c - lamc)), 6
            )
            + 0.0
        ).alias("nb_k_hat"),
        (
            F.round(F.when(zip_den > 0, zip_num / zip_den), 6) + 0.0
        ).alias("zip_score_chi2"),
    )


# --------------------------------------------------------------------------
# Games-Howell unequal-variance post-hoc pairwise comparisons
# --------------------------------------------------------------------------
@register(
    "games_howell_pairwise",
    oracle="""
    WITH g AS (
        SELECT o_orderpriority AS p,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS s,
               CAST(SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                  * 100 AS BIGINT) AS DECIMAL(38,0))
                        * CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                    * 100 AS BIGINT) AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS ss
        FROM orders GROUP BY 1
    ),
    stats AS (
        SELECT p, n,
               CAST(s AS DOUBLE) / n / 100.0 AS mean_usd,
               (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                   / (n - 1) / 10000.0 AS var_usd
        FROM g
    ),
    pairs AS (
        SELECT a.p AS pa, b.p AS pb,
               a.mean_usd - b.mean_usd AS diff,
               a.var_usd / a.n AS va, b.var_usd / b.n AS vb,
               a.n AS na, b.n AS nb
        FROM stats a JOIN stats b ON a.p < b.p
    )
    SELECT pa, pb,
           round(diff, 6) + 0.0 AS mean_diff_usd,
           round(diff / sqrt(va + vb), 6) + 0.0 AS t_stat,
           round((va + vb) * (va + vb)
                 / (va * va / (na - 1) + vb * vb / (nb - 1)), 2) + 0.0
               AS welch_df,
           CAST(CASE WHEN abs(diff / sqrt(va + vb))
                          > CAST(2.7287 AS DOUBLE)
                THEN 1 ELSE 0 END AS INT) AS sig_qinf_05
    FROM pairs
    ORDER BY pa, pb
    """,
)
def games_howell_pairwise(spark, sf_dir):
    """Games-Howell post-hoc pairwise comparisons of mean order value
    across the five priority classes — the UNEQUAL-VARIANCE,
    unequal-n companion to the registry's Tukey-Kramer HSD (X243,
    which pools): per pair t = Δ/√(v_a/n_a + v_b/n_b) with the
    Welch-Satterthwaite df, flagged against the conservative
    df=∞ studentized-range bound q(0.05, 5, ∞)/√2 = 2.7287 (finite-df
    critical values only grow, so a flag here is honest evidence and
    the df column lets the reader refine).

    Group moments are exact cents power sums (one hash rollup); the
    10 pairs live on the 5-row priority domain (bounded self-join);
    t/df are terminal doubles. Plan: one scan, one rollup, one
    bounded join."""
    o = t(spark, sf_dir, "orders")
    cents = (dec("o_totalprice", 18, 2) * 100).cast("bigint")
    cd = cents.cast("decimal(38,0)")
    g = o.groupBy(F.col("o_orderpriority").alias("p")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(cents).cast("bigint").alias("s"),
        F.sum(cd * cd).cast("decimal(38,0)").alias("ss"),
    )
    n = F.col("n")
    stats = g.select(
        "p",
        "n",
        (F.col("s").cast("double") / n / 100.0).alias("mean_usd"),
        (
            (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / n)
            / (n - 1)
            / 10000.0
        ).alias("var_usd"),
    )
    a = stats.select(
        F.col("p").alias("pa"),
        F.col("n").alias("na"),
        F.col("mean_usd").alias("ma"),
        F.col("var_usd").alias("va_full"),
    )
    b = stats.select(
        F.col("p").alias("pb"),
        F.col("n").alias("nb"),
        F.col("mean_usd").alias("mb"),
        F.col("var_usd").alias("vb_full"),
    )
    pairs = a.join(b, F.col("pa") < F.col("pb")).select(
        "pa",
        "pb",
        (F.col("ma") - F.col("mb")).alias("diff"),
        (F.col("va_full") / F.col("na")).alias("va"),
        (F.col("vb_full") / F.col("nb")).alias("vb"),
        "na",
        "nb",
    )
    va, vb = F.col("va"), F.col("vb")
    tstat = F.col("diff") / F.sqrt(va + vb)
    df = (va + vb) * (va + vb) / (
        va * va / (F.col("na") - 1) + vb * vb / (F.col("nb") - 1)
    )
    return pairs.select(
        "pa",
        "pb",
        (F.round("diff", 6) + 0.0).alias("mean_diff_usd"),
        (F.round(tstat, 6) + 0.0).alias("t_stat"),
        (F.round(df, 2) + 0.0).alias("welch_df"),
        (F.abs(tstat) > F.lit(2.7287).cast("double"))
        .cast("int")
        .alias("sig_qinf_05"),
    ).orderBy("pa", "pb")


# --------------------------------------------------------------------------
# Bass diffusion model fit on cumulative signups
# --------------------------------------------------------------------------
@register(
    "bass_diffusion_fit",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events WHERE event_type = 'signup'
        GROUP BY 1
    ),
    cum AS (
        SELECT d, y,
               CAST(COALESCE(SUM(y) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS nprev
        FROM daily
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(nprev) AS DECIMAL(38,0)) AS s1,
               CAST(SUM(CAST(nprev AS DECIMAL(19,0)) * nprev)
                    AS DECIMAL(38,0)) AS s2,
               CAST(SUM(CAST(nprev AS DECIMAL(19,0)) * nprev
                        * CAST(nprev AS DECIMAL(19,0)))
                    AS DECIMAL(38,0)) AS s3,
               CAST(SUM(CAST(nprev AS DECIMAL(19,0)) * nprev
                        * CAST(nprev AS DECIMAL(19,0)) * nprev)
                    AS DECIMAL(38,0)) AS s4,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(CAST(y AS DECIMAL(19,0)) * nprev)
                    AS DECIMAL(38,0)) AS sy1,
               CAST(SUM(CAST(y AS DECIMAL(19,0)) * nprev
                        * CAST(nprev AS DECIMAL(19,0)))
                    AS DECIMAL(38,0)) AS sy2
        FROM cum
    ),
    d_ AS (
        SELECT n,
               CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
               CAST(s3 AS DOUBLE) AS s3, CAST(s4 AS DOUBLE) AS s4,
               CAST(sy AS DOUBLE) AS sy, CAST(sy1 AS DOUBLE) AS sy1,
               CAST(sy2 AS DOUBLE) AS sy2
        FROM m
    ),
    cr AS (
        SELECT n,
               n * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2)
                   + s2 * (s1 * s3 - s2 * s2) AS det,
               sy * (s2 * s4 - s3 * s3) - s1 * (sy1 * s4 - sy2 * s3)
                   + s2 * (sy1 * s3 - sy2 * s2) AS deta,
               n * (sy1 * s4 - sy2 * s3) - sy * (s1 * s4 - s3 * s2)
                   + s2 * (s1 * sy2 - s2 * sy1) AS detb,
               n * (s2 * sy2 - s3 * sy1) - s1 * (s1 * sy2 - s3 * sy)
                   + sy * (s1 * s3 - s2 * s2) AS detc
        FROM d_
    ),
    abc AS (
        SELECT n, deta / det AS a, detb / det AS b, detc / det AS c
        FROM cr
    ),
    bass AS (
        SELECT n, a, b, c,
               (-b - sqrt(greatest(0.0, b * b
                          - CAST(4 AS DOUBLE) * a * c)))
               / NULLIF(CAST(2 AS DOUBLE) * c, 0) AS mm
        FROM abc
    )
    SELECT n AS n_days,
           round(a, 6) + 0.0 AS coef_a,
           round(b, 8) + 0.0 AS coef_b,
           round(c, 12) + 0.0 AS coef_c,
           round(mm, 2) + 0.0 AS m_market_size,
           round(a / NULLIF(mm, 0), 8) + 0.0 AS p_innovation,
           round(-c * mm, 8) + 0.0 AS q_imitation,
           round(CASE WHEN -c * mm > 0 AND a / NULLIF(mm, 0) > 0
                      THEN ln((-c * mm) / (a / mm))
                           / NULLIF(a / mm + (-c * mm), 0)
                 END, 2) + 0.0 AS peak_day_t
    FROM bass
    """,
)
def bass_diffusion_fit(spark, sf_dir):
    """Bass (1969) diffusion-model fit on daily signup adoption via
    the classic DISCRETE OLS: n_t = a + b·N_{t-1} + c·N²_{t-1}, then
    (m, p, q) from the root of c·m² + b·m + a = 0 — market size m,
    innovation coefficient p = a/m, imitation coefficient q = −c·m,
    and the peak-adoption time ln(q/p)/(p+q). The growth-curve
    forecast behind every product-adoption readout, and a
    three-regressor closed form the registry's two-regressor device
    can't cover: the 3x3 normal equations are solved by CRAMER's
    rule with all eight moments folded as EXACT DECIMAL(38,0) power
    sums (N³/N⁴ cross-products overflow int64 at scale; DECIMAL(19,0)
    operands keep both engines' static typing inside 38 digits).

    Determinants and roots are terminal double trees with
    greatest/NULLIF guards. Plan: one filtered scan → day rollup;
    the exclusive-prefix cumulative window runs on the calendar-day
    frame (bounded domain); one fold."""
    e = t(spark, sf_dir, "events")
    daily = (
        e.where(F.col("event_type") == "signup")
        .groupBy(
            F.floor(F.unix_micros("ts") / 86_400_000_000)
            .cast("bigint")
            .alias("d")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    wd = Window.orderBy("d")
    cum = daily.select(
        "d",
        "y",
        F.coalesce(
            F.sum("y").over(
                wd.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("nprev"),
    )
    np_ = F.col("nprev").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    m = cum.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("nprev").cast("decimal(38,0)").alias("s1"),
        F.sum(np_ * F.col("nprev")).cast("decimal(38,0)").alias("s2"),
        F.sum(np_ * F.col("nprev") * np_).cast("decimal(38,0)").alias("s3"),
        F.sum(np_ * F.col("nprev") * np_ * F.col("nprev"))
        .cast("decimal(38,0)")
        .alias("s4"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(yd * F.col("nprev")).cast("decimal(38,0)").alias("sy1"),
        F.sum(yd * F.col("nprev") * np_)
        .cast("decimal(38,0)")
        .alias("sy2"),
    )
    n = F.col("n")
    s1, s2, s3, s4 = (
        F.col("s1").cast("double"),
        F.col("s2").cast("double"),
        F.col("s3").cast("double"),
        F.col("s4").cast("double"),
    )
    sy, sy1, sy2 = (
        F.col("sy").cast("double"),
        F.col("sy1").cast("double"),
        F.col("sy2").cast("double"),
    )
    det = (
        n * (s2 * s4 - s3 * s3)
        - s1 * (s1 * s4 - s3 * s2)
        + s2 * (s1 * s3 - s2 * s2)
    )
    deta = (
        sy * (s2 * s4 - s3 * s3)
        - s1 * (sy1 * s4 - sy2 * s3)
        + s2 * (sy1 * s3 - sy2 * s2)
    )
    detb = (
        n * (sy1 * s4 - sy2 * s3)
        - sy * (s1 * s4 - s3 * s2)
        + s2 * (s1 * sy2 - s2 * sy1)
    )
    detc = (
        n * (s2 * sy2 - s3 * sy1)
        - s1 * (s1 * sy2 - s3 * sy)
        + sy * (s1 * s3 - s2 * s2)
    )
    abc = m.select(
        "n",
        (deta / det).alias("a"),
        (detb / det).alias("b"),
        (detc / det).alias("c"),
    )
    a, b, c = F.col("a"), F.col("b"), F.col("c")
    mm = (
        -b
        - F.sqrt(
            F.greatest(
                F.lit(0.0), b * b - F.lit(4).cast("double") * a * c
            )
        )
    ) / F.nullif(F.lit(2).cast("double") * c, F.lit(0.0))
    bass = abc.select("n", "a", "b", "c", mm.alias("mm"))
    p = a / F.nullif(F.col("mm"), F.lit(0.0))
    q = -c * F.col("mm")
    return bass.select(
        n.alias("n_days"),
        (F.round(a, 6) + 0.0).alias("coef_a"),
        (F.round(b, 8) + 0.0).alias("coef_b"),
        (F.round(c, 12) + 0.0).alias("coef_c"),
        (F.round("mm", 2) + 0.0).alias("m_market_size"),
        (F.round(p, 8) + 0.0).alias("p_innovation"),
        (F.round(q, 8) + 0.0).alias("q_imitation"),
        (
            F.round(
                F.when(
                    (q > 0) & (p > 0),
                    F.log(q / p) / F.nullif(p + q, F.lit(0.0)),
                ),
                2,
            )
            + 0.0
        ).alias("peak_day_t"),
    )


# --------------------------------------------------------------------------
# Erlang-C staffing curve from the measured arrival rate
# --------------------------------------------------------------------------
_FACT16 = [
    1.0, 1.0, 2.0, 6.0, 24.0, 120.0, 720.0, 5040.0, 40320.0,
    362880.0, 3628800.0, 39916800.0, 479001600.0, 6227020800.0,
    87178291200.0, 1307674368000.0, 20922789888000.0,
]


@register(
    "erlang_c_staffing",
    oracle=f"""
    WITH span AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(max(epoch_us(ts)) // 86400000000
                    - min(epoch_us(ts)) // 86400000000 + 1 AS BIGINT)
                   AS days
        FROM events WHERE event_type = 'purchase'
    ),
    lam AS (
        SELECT round(CAST(k AS DOUBLE) / days, 8) AS l,
               round(CAST(k AS DOUBLE) / days, 8)
                   / CAST(2.0 AS DOUBLE) AS a
        FROM span
    ),
    cg AS (SELECT CAST(c AS BIGINT) AS c
           FROM (VALUES (1), (2), (4), (8), (16)) t(c)),
    terms AS (
        SELECT cg.c, kk.g AS kidx, lam.a, lam.l,
               CASE WHEN lam.a < cg.c THEN
                   (CASE WHEN kk.g = 0 THEN CAST(1.0 AS DOUBLE)
                         ELSE exp(kk.g * ln(lam.a)) END
                    / ({case_sql("kk.g", _FACT16)}))
               END AS term
        FROM cg, LATERAL UNNEST(range(0, 17)) AS kk(g), lam
        WHERE kk.g < cg.c
    ),
    sums AS (
        SELECT c, a, l,
               CAST(SUM(CAST(round(term, 12) AS DECIMAL(38,12)))
                    AS DOUBLE) AS s
        FROM terms GROUP BY c, a, l
    ),
    ec AS (
        SELECT c, a, l, s,
               (exp(c * ln(a)) / ({case_sql("c", _FACT16)}))
               * (c / NULLIF(c - a, 0)) AS tail
        FROM sums
    )
    SELECT c AS servers,
           round(a / c, 6) + 0.0 AS utilization_rho,
           round(CASE WHEN a < c THEN tail / (s + tail) END, 6) + 0.0
               AS p_wait_erlang_c,
           round(CASE WHEN a < c
                      THEN tail / (s + tail)
                           / (c * CAST(2.0 AS DOUBLE) - l) * 24.0
                 END, 4) + 0.0 AS avg_wait_hours
    FROM ec
    ORDER BY c
    """,
)
def erlang_c_staffing(spark, sf_dir):
    """Erlang-C staffing curve for the measured purchase-arrival
    process: with lambda = arrivals/day estimated from the data and a
    literal service rate mu = 2.0/day, the probability an arrival
    must WAIT, P_wait = (A^c/c!)(c/(c−A)) / (Σ_{{k<c}} A^k/k! +
    (A^c/c!)(c/(c−A))), and the mean wait A/(...) across the literal
    server grid c ∈ {{1,2,4,8,16}} (NULL where the system is
    unstable, c ≤ A) — the queueing-theory staffing readout beside
    the registry's Little's-law audit (X478), which measures L and W
    but cannot answer "how many servers".

    Rows with c <= A are UNSTABLE queues: every output is NULL and
    the k-sum terms are guarded to NULL too (unguarded, A^k at
    64x-probe arrival rates overflows the DECIMAL(38,12) term fold
    for servers the load has already saturated — the 64x octave
    caught exactly this). A^k/k! is exp(k ln A) over the EXACT
    17-entry factorial literal table (no libm gamma — neither engine ships lgamma in a shared
    form); lambda is rounded at 8 dp before any power so both
    engines exponentiate identical doubles; the k-sum folds 12-dp
    rounded terms through DECIMAL(38,12). Plan: one filtered scan →
    one scalar aggregate; the (c, k) grid is 31 literal rows."""
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
        F.round(F.col("k").cast("double") / F.col("days"), 8).alias("l"),
        (
            F.round(F.col("k").cast("double") / F.col("days"), 8)
            / F.lit(2.0).cast("double")
        ).alias("a"),
    )
    cg = spark.range(1).select(
        F.explode(
            F.array(F.lit(1), F.lit(2), F.lit(4), F.lit(8), F.lit(16))
        ).alias("c0")
    ).select(F.col("c0").cast("bigint").alias("c"))
    pairs = cg.select(
        "c", F.explode(F.sequence(F.lit(0), F.col("c") - 1)).alias("g")
    ).crossJoin(F.broadcast(lam))
    factl = F.lit(None).cast("double")
    for kk in range(17):
        factl = F.when(F.col("g") == kk, F.lit(_FACT16[kk])).otherwise(
            factl
        )
    term = F.when(
        F.col("a") < F.col("c"),
        F.when(F.col("g") == 0, F.lit(1.0).cast("double")).otherwise(
            F.exp(F.col("g") * F.log("a"))
        )
        / factl,
    )
    sums = (
        pairs.select("c", "a", "l", term.alias("term"))
        .groupBy("c", "a", "l")
        .agg(
            F.sum(F.round("term", 12).cast("decimal(38,12)"))
            .cast("double")
            .alias("s")
        )
    )
    factc = F.lit(None).cast("double")
    for kk in range(17):
        factc = F.when(F.col("c") == kk, F.lit(_FACT16[kk])).otherwise(
            factc
        )
    tail = (
        F.exp(F.col("c") * F.log("a"))
        / factc
        * (F.col("c") / F.nullif((F.col("c") - F.col("a")), F.lit(0.0)))
    )
    ec = sums.select("c", "a", "l", "s", tail.alias("tail"))
    pw = F.when(
        F.col("a") < F.col("c"),
        F.col("tail") / (F.col("s") + F.col("tail")),
    )
    return ec.select(
        F.col("c").alias("servers"),
        (F.round(F.col("a") / F.col("c"), 6) + 0.0).alias(
            "utilization_rho"
        ),
        (F.round(pw, 6) + 0.0).alias("p_wait_erlang_c"),
        (
            F.round(
                pw
                / (F.col("c") * F.lit(2.0).cast("double") - F.col("l"))
                * 24.0,
                4,
            )
            + 0.0
        ).alias("avg_wait_hours"),
    ).orderBy("servers")


PLAN_AUDIT_NOTES.update(
    {
        "bass_diffusion_fit": (
            "exclusive-prefix cumulative window over the calendar-day "
            "adoption frame (bounded domain — the cusum class; "
            "event-grain work is one day rollup before the window)"
        ),
    }
)


def _p_two_sided_col(z):
    """Two-sided normal tail of |z| as a Column: the shared
    Abramowitz-Stegun 7.1.26 erfc polynomial (identical Horner tree
    to ``stats_tests._p_two_sided_sql`` — bit-reproducible IEEE
    doubles across both engines)."""
    x = F.abs(z) / 1.4142135623730951
    tp = 1.0 / (1.0 + 0.3275911 * x)
    return (
        (
            ((1.061405429 * tp - 1.453152027) * tp + 1.421413741) * tp
            - 0.284496736
        )
        * tp
        + 0.254829592
    ) * tp * F.exp(-x * x)


# --------------------------------------------------------------------------
# Cuzick's test for trend across the five ordered priority groups
# --------------------------------------------------------------------------
@register(
    "cuzick_trend_test",
    oracle="""
    WITH pts AS (
        SELECT CAST(substr(o.o_orderpriority, 1, 1) AS INT) AS z,
               CAST(l.l_quantity AS BIGINT) AS v
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    by_vz AS (
        SELECT v, z, CAST(COUNT(*) AS BIGINT) AS c
        FROM pts GROUP BY v, z
    ),
    vg AS (
        SELECT v, CAST(SUM(c) AS BIGINT) AS h FROM by_vz GROUP BY v
    ),
    cum AS (
        SELECT v, h,
               CAST(SUM(h) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - h AS BIGINT) AS below
        FROM vg
    ),
    fold AS (
        SELECT CAST(SUM(b.c) AS BIGINT) AS nn,
               CAST(SUM(CAST(b.z * b.c AS DECIMAL(19,0))
                        * (2 * m.below + m.h + 1))
                    AS DECIMAL(38,0)) AS t2,
               CAST(SUM(CAST(b.z AS BIGINT) * b.c) AS BIGINT) AS ll,
               CAST(SUM(CAST(b.z AS BIGINT) * b.z * b.c) AS BIGINT)
                   AS qq
        FROM by_vz b JOIN cum m ON b.v = m.v
    ),
    ties AS (
        SELECT CAST(SUM(CAST(h AS DECIMAL(19,0)) * h
                        * CAST(h AS DECIMAL(19,0)) - h)
                    AS DECIMAL(38,0)) AS tsum
        FROM vg
    ),
    stat AS (
        SELECT nn,
               CAST(t2 AS DOUBLE) / 2.0
                   - 0.5 * (nn + 1.0) * CAST(ll AS DOUBLE) AS tme,
               (nn + 1.0)
               * (CAST(nn AS DOUBLE) * qq
                  - CAST(ll AS DOUBLE) * ll) / 12.0
               * (1.0 - round(CAST(tsum AS DOUBLE)
                              / (CAST(nn AS DOUBLE) * nn * nn - nn),
                              12)) AS vt
        FROM fold, ties
    ),
    zed AS (SELECT nn, tme, vt, tme / sqrt(vt) AS zc FROM stat)
    SELECT nn AS n_items,
           round(tme, 4) + 0.0 AS t_minus_e,
           round(vt, 4) + 0.0 AS var_t,
           round(zc, 6) + 0.0 AS z_cuzick,
           round((((((1.061405429 * (1.0 / (1.0 + 0.3275911
                 * (abs(zc) / 1.4142135623730951)))
                 - 1.453152027) * (1.0 / (1.0 + 0.3275911
                 * (abs(zc) / 1.4142135623730951))) + 1.421413741)
                 * (1.0 / (1.0 + 0.3275911
                 * (abs(zc) / 1.4142135623730951))) - 0.284496736)
                 * (1.0 / (1.0 + 0.3275911
                 * (abs(zc) / 1.4142135623730951))) + 0.254829592)
                 * (1.0 / (1.0 + 0.3275911
                 * (abs(zc) / 1.4142135623730951))))
                 * exp(-(abs(zc) / 1.4142135623730951)
                       * (abs(zc) / 1.4142135623730951)), 8) + 0.0
               AS p_value
    FROM zed
    """,
)
def cuzick_trend_test(spark, sf_dir):
    """Cuzick's (1985) Wilcoxon-type test for TREND across ordered
    groups: are line-item quantities monotonically associated with
    order priority 1-URGENT..5-LOW? T = sum(z_i R_i) over global
    midranks with E(T) = (N+1)L/2, Var(T) = (N+1)(N Q - L^2)/12 and
    the full tie correction 1 - sum(t^3-t)/(N^3-N) — the dose-
    response companion to `jonckheere_terpstra_trend` (which tests
    the same alternative through pairwise U statistics; Cuzick is
    the rank-regression form that extends to unequal spacing).

    Exactness: everything lives at distinct-quantity grain (the
    1..50 integer grid — truly bounded): midrank x2 is an exact
    integer from the cumulative head count, T x2 / L / Q fold as
    DECIMAL(38,0)/BIGINT (z*c products stay in int64 BEFORE the
    DECIMAL(19,0) widen — the bass_diffusion power-sum idiom), and
    the tie cube folds through DECIMAL(19,0) operands. The variance
    ratio tsum/(N^3-N) is rounded at 12 dp so both engines multiply
    identical doubles. Plan: one join rollup to (v, z), one
    cumulative over the 50-row grid, one fold."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    pts = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("z"),
        F.col("l_quantity").cast("bigint").alias("v"),
    )
    by_vz = pts.groupBy("v", "z").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    vg = by_vz.groupBy("v").agg(F.sum("c").cast("bigint").alias("h"))
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
    )
    fold = by_vz.join(cum, "v").agg(
        F.sum("c").cast("bigint").alias("nn"),
        F.sum(
            (F.col("z") * F.col("c")).cast("decimal(19,0)")
            * (2 * F.col("below") + F.col("h") + 1)
        )
        .cast("decimal(38,0)")
        .alias("t2"),
        F.sum(F.col("z").cast("bigint") * F.col("c"))
        .cast("bigint")
        .alias("ll"),
        F.sum(F.col("z").cast("bigint") * F.col("z") * F.col("c"))
        .cast("bigint")
        .alias("qq"),
    )
    ties = vg.agg(
        F.sum(
            F.col("h").cast("decimal(19,0)")
            * F.col("h")
            * F.col("h").cast("decimal(19,0)")
            - F.col("h")
        )
        .cast("decimal(38,0)")
        .alias("tsum")
    )
    nn = F.col("nn")
    tme = F.col("t2").cast("double") / 2.0 - 0.5 * (nn + 1.0) * F.col(
        "ll"
    ).cast("double")
    vt = (
        (nn + 1.0)
        * (
            nn.cast("double") * F.col("qq")
            - F.col("ll").cast("double") * F.col("ll")
        )
        / 12.0
        * (
            1.0
            - F.round(
                F.col("tsum").cast("double")
                / (nn.cast("double") * nn * nn - nn),
                12,
            )
        )
    )
    stat = fold.crossJoin(F.broadcast(ties)).select(
        nn.alias("nn"), tme.alias("tme"), vt.alias("vt")
    )
    zc = F.col("tme") / F.sqrt(F.col("vt"))
    zed = stat.select("nn", "tme", "vt", zc.alias("zc"))
    return zed.select(
        F.col("nn").alias("n_items"),
        (F.round("tme", 4) + 0.0).alias("t_minus_e"),
        (F.round("vt", 4) + 0.0).alias("var_t"),
        (F.round("zc", 6) + 0.0).alias("z_cuzick"),
        (F.round(_p_two_sided_col(F.col("zc")), 8) + 0.0).alias(
            "p_value"
        ),
    )


PLAN_AUDIT_NOTES.update(
    {
        "cuzick_trend_test": (
            "cumulative head-count over the 50-row integer quantity "
            "grid (truly bounded domain — the moods_median_test class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Taguchi signal-to-noise ratio panel per order priority
# --------------------------------------------------------------------------
@register(
    "taguchi_sn_ratios",
    oracle="""
    WITH pts AS (
        SELECT o_orderpriority AS pri,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents,
               round(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) / 100000.0, 8) AS y
        FROM orders
    ),
    g AS (
        SELECT pri,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s,
               CAST(SUM(CAST(cents AS DECIMAL(19,0)) * cents)
                    AS DECIMAL(38,0)) AS ss,
               CAST(SUM(CAST(round(y * y, 10) AS DECIMAL(38,10)))
                    AS DOUBLE) AS sy2,
               CAST(SUM(CAST(round(1.0 / (y * y), 14)
                             AS DECIMAL(38,14))) AS DOUBLE) AS siy2
        FROM pts GROUP BY pri
    ),
    stat AS (
        SELECT pri, n,
               CAST(s AS DOUBLE) / n / 100000.0 AS mu,
               (CAST(ss AS DOUBLE)
                - CAST(s AS DOUBLE) * s / n) / (n - 1)
                   / 10000000000.0 AS v,
               sy2 / n AS msq,
               siy2 / n AS misq
        FROM g
    )
    SELECT pri AS priority, n AS n_orders,
           round(-10.0 * ln(misq) / ln(10.0), 6) + 0.0
               AS sn_larger_db,
           round(-10.0 * ln(msq) / ln(10.0), 6) + 0.0
               AS sn_smaller_db,
           round(10.0 * ln(mu * mu / v) / ln(10.0), 6) + 0.0
               AS sn_nominal_db
    FROM stat ORDER BY priority
    """,
)
def taguchi_sn_ratios(spark, sf_dir):
    """Taguchi signal-to-noise panel per order priority on the order
    value in k$: larger-is-better SN = -10 log10(mean(1/y^2)),
    smaller-is-better SN = -10 log10(mean(y^2)), and nominal-is-best
    SN_T = 10 log10(ybar^2/s^2) — the robust-design triple that
    summarizes each group's location-vs-dispersion trade in decibels
    (nominal-best is a log inverse-CV^2, directly comparable across
    groups; the panel complements `levene_brown_forsythe`, which
    only tests dispersion equality, by QUANTIFYING it on the dB
    scale).

    Exactness: ybar and s^2 fold from exact cents power sums
    (DECIMAL(19,0) widen before the square); the mean-square and
    mean-inverse-square fold 10/14-dp rounded doubles through
    DECIMAL(38,*) so both engines sum identical terms; y itself is
    rounded at 8 dp from the exact cents BEFORE any reciprocal.
    log10 = ln/ln(10) keeps a shared-libm-only tree. Plan: one scan,
    one 5-group fold — no windows, no joins."""
    o = t(spark, sf_dir, "orders")
    cents = (dec("o_totalprice", 18, 2) * 100).cast("bigint")
    pts = o.select(
        F.col("o_orderpriority").alias("pri"),
        cents.alias("cents"),
        F.round(cents / 100000.0, 8).alias("y"),
    )
    g = pts.groupBy("pri").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.col("cents").cast("decimal(19,0)") * F.col("cents"))
        .cast("decimal(38,0)")
        .alias("ss"),
        F.sum(
            F.round(F.col("y") * F.col("y"), 10).cast("decimal(38,10)")
        )
        .cast("double")
        .alias("sy2"),
        F.sum(
            F.round(1.0 / (F.col("y") * F.col("y")), 14).cast(
                "decimal(38,14)"
            )
        )
        .cast("double")
        .alias("siy2"),
    )
    n = F.col("n")
    mu = F.col("s").cast("double") / n / 100000.0
    v = (
        (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / n)
        / (n - 1)
        / 10000000000.0
    )
    msq = F.col("sy2") / n
    misq = F.col("siy2") / n
    ln10 = 2.302585092994046
    return g.select(
        F.col("pri").alias("priority"),
        n.alias("n_orders"),
        (F.round(-10.0 * F.log(misq) / ln10, 6) + 0.0).alias(
            "sn_larger_db"
        ),
        (F.round(-10.0 * F.log(msq) / ln10, 6) + 0.0).alias(
            "sn_smaller_db"
        ),
        (F.round(10.0 * F.log(mu * mu / v) / ln10, 6) + 0.0).alias(
            "sn_nominal_db"
        ),
    ).orderBy("priority")


# --------------------------------------------------------------------------
# Blomqvist's beta (medial correlation) between order value and balance
# --------------------------------------------------------------------------
@register(
    "blomqvist_beta_quadrant",
    oracle="""
    WITH pts AS (
        SELECT CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS x,
               CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    gx AS (SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS c
           FROM pts GROUP BY x),
    cx AS (
        SELECT v, SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS cc,
               SUM(c) OVER () AS n
        FROM gx
    ),
    mx AS (SELECT CAST(MIN(v) AS BIGINT) AS med FROM cx
           WHERE 2 * cc >= n),
    gy AS (SELECT y AS v, CAST(COUNT(*) AS BIGINT) AS c
           FROM pts GROUP BY y),
    cy AS (
        SELECT v, SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS cc,
               SUM(c) OVER () AS n
        FROM gy
    ),
    my AS (SELECT CAST(MIN(v) AS BIGINT) AS med FROM cy
           WHERE 2 * cc >= n),
    quad AS (
        SELECT
            CAST(SUM(CASE WHEN (x > mx.med AND y > my.med)
                       OR (x < mx.med AND y < my.med)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_conc,
            CAST(SUM(CASE WHEN (x > mx.med AND y < my.med)
                       OR (x < mx.med AND y > my.med)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_disc,
            CAST(SUM(CASE WHEN x = mx.med OR y = my.med
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_drop
        FROM pts, mx, my
    )
    SELECT n_conc AS n_concordant, n_disc AS n_discordant,
           n_drop AS n_on_medians,
           round((n_conc - n_disc) * 1.0 / (n_conc + n_disc), 6) + 0.0
               AS blomqvist_beta,
           round((n_conc - n_disc) * 1.0 / (n_conc + n_disc)
                 * sqrt((n_conc + n_disc) * 1.0), 6) + 0.0 AS z_beta
    FROM quad
    """,
)
def blomqvist_beta_quadrant(spark, sf_dir):
    """Blomqvist's beta (the MEDIAL correlation): split the (order
    value, customer balance) cloud at the two marginal medians and
    score quadrant concordance, beta = (n_conc - n_disc)/(n_conc +
    n_disc), z = beta sqrt(m) — the crudest and most outlier-proof
    of the dependence coefficients (exactly sign-based, so immune to
    any monotone marginal transform), the medial companion to the
    registry's `kendall_tau_b_bucketed` / `chatterjee_xi_daily` /
    `hoeffding_d_daily` dependence family. Points ON either median
    are dropped (the classical treatment) and reported.

    Exactness: both medians are exact LOWER medians on the cents
    grids (the moods_median_test device); quadrant counts are exact
    BIGINTs; beta and z are terminal ratios of exact integers.
    Plan: one join scan, two bounded cents-grid cumulatives, one
    broadcast of the two scalar medians, one fold."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    pts = o.join(c, o.o_custkey == c.c_custkey).select(
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("x"),
        (dec("c_acctbal", 18, 2) * 100).cast("bigint").alias("y"),
    )

    def lower_median(col):
        g = pts.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        cum = g.select(
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
        return cum.where(2 * F.col("cc") >= F.col("n")).agg(
            F.min("v").cast("bigint").alias("med")
        )

    mx = lower_median("x").select(F.col("med").alias("mx"))
    my = lower_median("y").select(F.col("med").alias("my"))
    quad = (
        pts.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(my))
        .agg(
            F.sum(
                F.when(
                    ((F.col("x") > F.col("mx")) & (F.col("y") > F.col("my")))
                    | ((F.col("x") < F.col("mx")) & (F.col("y") < F.col("my"))),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_conc"),
            F.sum(
                F.when(
                    ((F.col("x") > F.col("mx")) & (F.col("y") < F.col("my")))
                    | ((F.col("x") < F.col("mx")) & (F.col("y") > F.col("my"))),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_disc"),
            F.sum(
                F.when(
                    (F.col("x") == F.col("mx")) | (F.col("y") == F.col("my")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_drop"),
        )
    )
    m = (F.col("n_conc") + F.col("n_disc")).cast("double")
    beta = (F.col("n_conc") - F.col("n_disc")) / m
    return quad.select(
        F.col("n_conc").alias("n_concordant"),
        F.col("n_disc").alias("n_discordant"),
        F.col("n_drop").alias("n_on_medians"),
        (F.round(beta, 6) + 0.0).alias("blomqvist_beta"),
        (F.round(beta * F.sqrt(m), 6) + 0.0).alias("z_beta"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "blomqvist_beta_quadrant": (
            "two cumulative head-counts over the cents value grids "
            "(price-/balance-domain-bounded — the moods_median_test "
            "class); the quadrant fold itself is windowless"
        ),
    }
)


# --------------------------------------------------------------------------
# Higuchi fractal dimension of the daily order-count series
# --------------------------------------------------------------------------
@register(
    "higuchi_fractal_dimension",
    oracle="""
    WITH days AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
            AS d
        FROM orders
    ),
    span AS (SELECT CAST(min(d) AS BIGINT) AS d0,
                    CAST(max(d) AS BIGINT) AS d1 FROM days),
    grid AS (
        SELECT CAST(u.g - span.d0 AS BIGINT) AS i
        FROM span, LATERAL UNNEST(range(span.d0, span.d1 + 1)) AS u(g)
    ),
    counts AS (
        SELECT CAST(d - span.d0 AS BIGINT) AS i,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM days, span GROUP BY 1
    ),
    filled AS (
        SELECT g.i, COALESCE(c.y, 0) AS y
        FROM grid g LEFT JOIN counts c ON g.i = c.i
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM filled),
    ks AS (SELECT CAST(k AS BIGINT) AS k, CAST(u AS BIGINT) AS u
           FROM (VALUES (1, 0), (2, 1), (4, 2), (8, 3)) t(k, u)),
    diffs AS (
        SELECT ks.k, ks.u, b.i % ks.k AS m,
               CAST(SUM(abs(a.y - b.y)) AS BIGINT) AS sad,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM filled a JOIN ks ON TRUE
        JOIN filled b ON a.i = b.i + ks.k
        GROUP BY 1, 2, 3
    ),
    lm AS (
        SELECT k, u,
               CAST(SUM(CAST(round(CAST(sad AS DOUBLE) * (nd.n - 1)
                         / (cnt * 1.0 * k * k), 8) AS DECIMAL(38,8)))
                    AS DOUBLE) / k AS lk
        FROM diffs, nd GROUP BY k, u, nd.n
    ),
    fit AS (
        SELECT CAST(SUM(CAST(round((u - 1.5) * ln(lk), 10)
                             AS DECIMAL(38,10))) AS DOUBLE)
                   / 5.0 AS slope_u,
               MAX(CASE WHEN k = 1 THEN lk END) AS l1,
               MAX(CASE WHEN k = 2 THEN lk END) AS l2,
               MAX(CASE WHEN k = 4 THEN lk END) AS l4,
               MAX(CASE WHEN k = 8 THEN lk END) AS l8
        FROM lm
    )
    SELECT nd.n AS n_days,
           round(l1, 6) + 0.0 AS curve_len_k1,
           round(l2, 6) + 0.0 AS curve_len_k2,
           round(l4, 6) + 0.0 AS curve_len_k4,
           round(l8, 6) + 0.0 AS curve_len_k8,
           round(-slope_u / 0.6931471805599453, 6) + 0.0
               AS higuchi_fd
    FROM fit, nd
    """,
)
def higuchi_fractal_dimension(spark, sf_dir):
    """Higuchi (1988) fractal dimension of the daily order-count
    series on the ZERO-FILLED calendar-day grid: for k in {1,2,4,8}
    build the k-decimated curve lengths L_m(k) = sum|y_(m+jk) -
    y_(m+(j-1)k)| * (N-1)/(n_mk k^2), average over the k offsets,
    and read D as minus the slope of ln L(k) on ln k — D near 1.5
    is a random walk, near 2.0 white noise; the roughness
    certification that complements `dfa_alpha_longmemory` (same
    question, detrended-variance route) and `hurst_rs_exponent`
    (range route): three estimators should tell one story.

    Exactness: absolute differences of integer counts fold as exact
    BIGINTs per (k, offset); each L_m(k) is rounded at 8 dp and the
    offset mean folds through DECIMAL(38,8); the ln-ln slope uses
    the EXACT regressor u = log2(k) in {0,1,2,3} (sum (u-1.5)v / 5 —
    a closed form, no matrix), each term rounded at 10 dp into a
    DECIMAL fold so the 4-term sum is order-free. Plan: bounded
    day-grid fill, one 4-way lag equi-join on the grid (day-domain
    bounded), two folds — no windows."""
    o = t(spark, sf_dir, "orders")
    days = o.select(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    )
    span = days.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = span.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("g"),
        F.col("d0"),
    ).select((F.col("g") - F.col("d0")).cast("bigint").alias("i"))
    counts = (
        days.crossJoin(F.broadcast(span))
        .groupBy((F.col("d") - F.col("d0")).cast("bigint").alias("i"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    filled = grid.join(counts, "i", "left").select(
        "i", F.coalesce("y", F.lit(0)).cast("bigint").alias("y")
    )
    nd = filled.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ks = spark.range(1).select(
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("k"), F.lit(0).alias("u")),
                F.struct(F.lit(2).alias("k"), F.lit(1).alias("u")),
                F.struct(F.lit(4).alias("k"), F.lit(2).alias("u")),
                F.struct(F.lit(8).alias("k"), F.lit(3).alias("u")),
            )
        ).alias("s")
    ).select(
        F.col("s.k").cast("bigint").alias("k"),
        F.col("s.u").cast("bigint").alias("u"),
    )
    b = filled.crossJoin(F.broadcast(ks)).select(
        F.col("k"),
        F.col("u"),
        F.col("i").alias("bi"),
        F.col("y").alias("by"),
        (F.col("i") + F.col("k")).alias("ai"),
    )
    a = filled.select(F.col("i").alias("ai"), F.col("y").alias("ay"))
    diffs = (
        b.join(a, "ai")
        .groupBy("k", "u", (F.col("bi") % F.col("k")).alias("m"))
        .agg(
            F.sum(F.abs(F.col("ay") - F.col("by")))
            .cast("bigint")
            .alias("sad"),
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
        )
    )
    lm = (
        diffs.crossJoin(F.broadcast(nd))
        .groupBy("k", "u", "n")
        .agg(
            (
                F.sum(
                    F.round(
                        F.col("sad").cast("double")
                        * (F.col("n") - 1)
                        / (F.col("cnt") * 1.0 * F.col("k") * F.col("k")),
                        8,
                    ).cast("decimal(38,8)")
                ).cast("double")
                / F.col("k")
            ).alias("lk")
        )
    )
    fit = lm.agg(
        (
            F.sum(
                F.round(
                    (F.col("u") - 1.5) * F.log("lk"), 10
                ).cast("decimal(38,10)")
            ).cast("double")
            / 5.0
        ).alias("slope_u"),
        F.max(F.when(F.col("k") == 1, F.col("lk"))).alias("l1"),
        F.max(F.when(F.col("k") == 2, F.col("lk"))).alias("l2"),
        F.max(F.when(F.col("k") == 4, F.col("lk"))).alias("l4"),
        F.max(F.when(F.col("k") == 8, F.col("lk"))).alias("l8"),
    )
    return fit.crossJoin(F.broadcast(nd)).select(
        F.col("n").alias("n_days"),
        (F.round("l1", 6) + 0.0).alias("curve_len_k1"),
        (F.round("l2", 6) + 0.0).alias("curve_len_k2"),
        (F.round("l4", 6) + 0.0).alias("curve_len_k4"),
        (F.round("l8", 6) + 0.0).alias("curve_len_k8"),
        (F.round(-F.col("slope_u") / 0.6931471805599453, 6) + 0.0).alias(
            "higuchi_fd"
        ),
    )


# --------------------------------------------------------------------------
# Getis-Ord General G clustering of nation mean order values
# (region-block contiguity weights — the morans_i_nations frame)
# --------------------------------------------------------------------------
_NATX_SQL = """
    natx AS (
        SELECT c.c_nationkey AS nk,
               n.n_regionkey AS rk,
               round(CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2))
                                   * 100 AS BIGINT)) AS DOUBLE)
                     / COUNT(*) / 100000.0, 6) AS x
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY c.c_nationkey, n.n_regionkey
    )
"""


def _natx(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(n.select("n_nationkey", "n_regionkey")),
            c.c_nationkey == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.col("n_regionkey").alias("rk"),
        )
        .agg(
            F.round(
                F.sum(
                    (dec("o_totalprice", 18, 2) * 100).cast("bigint")
                ).cast("double")
                / F.count(F.lit(1))
                / 100000.0,
                6,
            ).alias("x")
        )
    )


@register(
    "getis_ord_general_g",
    oracle=f"""
    WITH {_NATX_SQL},
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(x, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS m1,
               CAST(SUM(CAST(round(x * x, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS m2,
               CAST(SUM(CAST(round(x * x * x, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS m3,
               CAST(SUM(CAST(round(x * x * x * x, 6)
                             AS DECIMAL(38,6))) AS DOUBLE) AS m4
        FROM natx
    ),
    pairs AS (
        SELECT CAST(SUM(CASE WHEN a.nk <> b.nk
                        THEN CAST(round(a.x * b.x, 6)
                                  AS DECIMAL(38,6)) END)
                    AS DOUBLE) AS num,
               CAST(SUM(CASE WHEN a.nk <> b.nk THEN 1 ELSE 0 END)
                    AS BIGINT) AS s0
        FROM natx a JOIN natx b ON a.rk = b.rk
    ),
    deg AS (
        SELECT CAST(SUM(CAST(k * k AS BIGINT)) AS BIGINT) AS sdeg2
        FROM (SELECT CAST(COUNT(*) - 1 AS BIGINT) AS k
              FROM natx a JOIN natx b ON a.rk = b.rk
              GROUP BY a.nk) q
    ),
    stat AS (
        SELECT n, s0,
               num / (m1 * m1 - m2) AS g,
               s0 * 1.0 / (n * (n - 1.0)) AS eg,
               ((((n * 1.0 * n - 3.0 * n + 3.0) * (2.0 * s0)
                  - n * (4.0 * sdeg2) + 3.0 * s0 * s0) * (m2 * m2)
                 - ((n * 1.0 * n - n) * (2.0 * s0)
                    - 2.0 * n * (4.0 * sdeg2) + 6.0 * s0 * s0) * m4
                 - (2.0 * n * (2.0 * s0)
                    - (n + 3.0) * (4.0 * sdeg2) + 6.0 * s0 * s0)
                   * (m1 * m1 * m2)
                 + (4.0 * (n - 1.0) * (2.0 * s0)
                    - 2.0 * (n + 1.0) * (4.0 * sdeg2)
                    + 8.0 * s0 * s0) * (m1 * m3)
                 + (2.0 * s0 - 4.0 * sdeg2 + s0 * s0)
                   * (m1 * m1 * m1 * m1))
                / ((m1 * m1 - m2) * (m1 * m1 - m2)
                   * n * (n - 1.0) * (n - 2.0) * (n - 3.0)))
               - (s0 * 1.0 / (n * (n - 1.0)))
                 * (s0 * 1.0 / (n * (n - 1.0))) AS vg
        FROM mom, pairs, deg
    ),
    zed AS (
        SELECT n, s0, g, eg, vg, (g - eg) / sqrt(vg) AS z FROM stat
    )
    SELECT n AS n_nations, s0 AS s0_pairs,
           round(g, 8) + 0.0 AS general_g,
           round(eg, 8) + 0.0 AS expected_g,
           round(z, 6) + 0.0 AS z_score,
           round((((((1.061405429 * (1.0 / (1.0 + 0.3275911
                 * (abs(z) / 1.4142135623730951)))
                 - 1.453152027) * (1.0 / (1.0 + 0.3275911
                 * (abs(z) / 1.4142135623730951))) + 1.421413741)
                 * (1.0 / (1.0 + 0.3275911
                 * (abs(z) / 1.4142135623730951))) - 0.284496736)
                 * (1.0 / (1.0 + 0.3275911
                 * (abs(z) / 1.4142135623730951))) + 0.254829592)
                 * (1.0 / (1.0 + 0.3275911
                 * (abs(z) / 1.4142135623730951))))
                 * exp(-(abs(z) / 1.4142135623730951)
                       * (abs(z) / 1.4142135623730951)), 8) + 0.0
               AS p_value
    FROM zed
    """,
)
def getis_ord_general_g(spark, sf_dir):
    """Getis-Ord General G statistic for HIGH-VALUE clustering of
    nation mean order values (k$, strictly positive) under the
    region-block contiguity weights of `morans_i_nations`: G =
    sum_ij w_ij x_i x_j / sum_ij x_i x_j (i != j) asks whether the
    HIGH values specifically cluster together — the question Moran's
    I cannot separate (I is symmetric in high-high vs low-low
    clustering; G is not). Ships the exact randomization-null
    moments: E[G] = S0/(n(n-1)) and Var[G] from the Getis-Ord
    (1992) B0..B4 form with S1 = 2 S0, S2 = 4 sum(deg^2) for the
    symmetric binary block weights — the full five-term formula was
    VERIFIED against the exact 5040-permutation enumeration of a
    7-node block graph before shipping (E and Var match to 1e-14).

    Exactness: x is rounded at 6 dp from exact cents; the four
    power sums and the weighted cross-product fold 6-dp rounded
    terms through DECIMAL(38,6) (order-free sums); S0/S2 are exact
    BIGINTs from the bounded 25-node block self-join; G/E/Var/z are
    terminal double trees. Plan: one fact rollup to nations, one
    bounded block self-join, three scalar folds."""
    natx = _natx(spark, sf_dir).persist()
    mom = natx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round(F.col("x"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("m1"),
        F.sum(
            F.round(F.col("x") * F.col("x"), 6).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("m2"),
        F.sum(
            F.round(F.col("x") * F.col("x") * F.col("x"), 6).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("m3"),
        F.sum(
            F.round(
                F.col("x") * F.col("x") * F.col("x") * F.col("x"), 6
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("m4"),
    )
    a = natx.select(
        F.col("nk").alias("ank"), F.col("rk"), F.col("x").alias("ax")
    )
    b = natx.select(
        F.col("nk").alias("bnk"), F.col("rk"), F.col("x").alias("bx")
    )
    pairs = a.join(b, "rk").agg(
        F.sum(
            F.when(
                F.col("ank") != F.col("bnk"),
                F.round(F.col("ax") * F.col("bx"), 6).cast(
                    "decimal(38,6)"
                ),
            )
        )
        .cast("double")
        .alias("num"),
        F.sum(F.when(F.col("ank") != F.col("bnk"), 1).otherwise(0))
        .cast("bigint")
        .alias("s0"),
    )
    deg = (
        a.join(b, "rk")
        .groupBy("ank")
        .agg((F.count(F.lit(1)) - 1).cast("bigint").alias("k"))
        .agg(
            F.sum(F.col("k") * F.col("k")).cast("bigint").alias("sdeg2")
        )
    )
    j = mom.crossJoin(F.broadcast(pairs)).crossJoin(F.broadcast(deg))
    n = F.col("n").cast("double")
    s0 = F.col("s0").cast("double")
    s1 = 2.0 * s0
    s2 = 4.0 * F.col("sdeg2").cast("double")
    m1, m2, m3, m4 = (F.col(c) for c in ("m1", "m2", "m3", "m4"))
    g = F.col("num") / (m1 * m1 - m2)
    eg = s0 / (n * (n - 1.0))
    b0 = (n * n - 3.0 * n + 3.0) * s1 - n * s2 + 3.0 * s0 * s0
    b1 = (n * n - n) * s1 - 2.0 * n * s2 + 6.0 * s0 * s0
    b2 = 2.0 * n * s1 - (n + 3.0) * s2 + 6.0 * s0 * s0
    b3 = 4.0 * (n - 1.0) * s1 - 2.0 * (n + 1.0) * s2 + 8.0 * s0 * s0
    b4 = s1 - s2 + s0 * s0
    vg = (
        b0 * (m2 * m2)
        - b1 * m4
        - b2 * (m1 * m1 * m2)
        + b3 * (m1 * m3)
        + b4 * (m1 * m1 * m1 * m1)
    ) / (
        (m1 * m1 - m2) * (m1 * m1 - m2) * n * (n - 1.0) * (n - 2.0) * (n - 3.0)
    ) - eg * eg
    z = (g - eg) / F.sqrt(vg)
    stat = j.select(
        F.col("n").alias("n_nations"),
        F.col("s0").alias("s0_pairs"),
        (F.round(g, 8) + 0.0).alias("general_g"),
        (F.round(eg, 8) + 0.0).alias("expected_g"),
        (F.round(z, 6) + 0.0).alias("z_score"),
        (F.round(_p_two_sided_col(z), 8) + 0.0).alias("p_value"),
    )
    return stat


# --------------------------------------------------------------------------
# Join-count statistics (BB / WW / BW) for high-value nations
# --------------------------------------------------------------------------
@register(
    "join_count_statistics",
    oracle=f"""
    WITH {_NATX_SQL},
    med AS (
        SELECT CAST(MIN(x) AS DOUBLE) AS med FROM (
            SELECT x,
                   CAST(ROW_NUMBER() OVER (ORDER BY x, nk) AS BIGINT)
                       AS r,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n
            FROM natx
        ) q WHERE 2 * r >= n + 1
    ),
    lab AS (
        SELECT nk, rk,
               CASE WHEN x > med.med THEN 1 ELSE 0 END AS b
        FROM natx, med
    ),
    counts AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(b) AS BIGINT) AS n1
        FROM lab
    ),
    pairs AS (
        SELECT
            CAST(SUM(CASE WHEN a.nk <> b.nk
                     AND a.b = 1 AND b.b = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS bb2,
            CAST(SUM(CASE WHEN a.nk <> b.nk
                     AND a.b = 0 AND b.b = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS ww2,
            CAST(SUM(CASE WHEN a.nk <> b.nk AND a.b <> b.b
                     THEN 1 ELSE 0 END) AS BIGINT) AS bw2,
            CAST(SUM(CASE WHEN a.nk <> b.nk THEN 1 ELSE 0 END)
                 AS BIGINT) AS s0
        FROM lab a JOIN lab b ON a.rk = b.rk
    ),
    deg AS (
        SELECT CAST(SUM(CAST(k * k AS BIGINT)) AS BIGINT) AS sdeg2
        FROM (SELECT CAST(COUNT(*) - 1 AS BIGINT) AS k
              FROM lab a JOIN lab b ON a.rk = b.rk
              GROUP BY a.nk) q
    ),
    stat AS (
        SELECT n, n1, n - n1 AS n2, bb2, ww2, bw2, s0,
               2.0 * s0 AS s1d, 4.0 * sdeg2 AS s2d, s0 * 1.0 AS s0d
        FROM counts, pairs, deg
    ),
    mo AS (
        SELECT *,
               s0d / 2.0 * (n1 * (n1 - 1.0)) / (n * (n - 1.0)) AS ebb,
               s0d / 2.0 * (n2 * (n2 - 1.0)) / (n * (n - 1.0)) AS eww,
               s0d * (n1 * 1.0 * n2) / (n * (n - 1.0)) AS ebw,
               (s1d / 4.0) * (n1 * (n1 - 1.0)) / (n * (n - 1.0))
               + ((s2d - 2.0 * s1d) / 4.0)
                 * (n1 * (n1 - 1.0) * (n1 - 2.0))
                 / (n * (n - 1.0) * (n - 2.0))
               + ((s0d * s0d + s1d - s2d) / 4.0)
                 * (n1 * (n1 - 1.0) * (n1 - 2.0) * (n1 - 3.0))
                 / (n * (n - 1.0) * (n - 2.0) * (n - 3.0))
               - (s0d / 2.0 * (n1 * (n1 - 1.0)) / (n * (n - 1.0)))
                 * (s0d / 2.0 * (n1 * (n1 - 1.0)) / (n * (n - 1.0)))
                   AS vbb,
               (s1d / 4.0) * (n2 * (n2 - 1.0)) / (n * (n - 1.0))
               + ((s2d - 2.0 * s1d) / 4.0)
                 * (n2 * (n2 - 1.0) * (n2 - 2.0))
                 / (n * (n - 1.0) * (n - 2.0))
               + ((s0d * s0d + s1d - s2d) / 4.0)
                 * (n2 * (n2 - 1.0) * (n2 - 2.0) * (n2 - 3.0))
                 / (n * (n - 1.0) * (n - 2.0) * (n - 3.0))
               - (s0d / 2.0 * (n2 * (n2 - 1.0)) / (n * (n - 1.0)))
                 * (s0d / 2.0 * (n2 * (n2 - 1.0)) / (n * (n - 1.0)))
                   AS vww,
               0.25 * (s1d * (2.0 * n1 * n2) / (n * (n - 1.0))
                       + (s2d - 2.0 * s1d)
                         * (n1 * 1.0 * n2 * (n - 2.0))
                         / (n * (n - 1.0) * (n - 2.0))
                       + (s0d * s0d + s1d - s2d)
                         * (4.0 * n1 * n2 * (n1 - 1.0) * (n2 - 1.0))
                         / (n * (n - 1.0) * (n - 2.0) * (n - 3.0)))
               - (s0d * (n1 * 1.0 * n2) / (n * (n - 1.0)))
                 * (s0d * (n1 * 1.0 * n2) / (n * (n - 1.0))) AS vbw
        FROM stat
    )
    SELECT n AS n_nations, n1 AS n_high,
           CAST(bb2 // 2 AS BIGINT) AS bb_joins,
           CAST(ww2 // 2 AS BIGINT) AS ww_joins,
           CAST(bw2 // 2 AS BIGINT) AS bw_joins,
           round(ebb, 6) + 0.0 AS e_bb,
           round(eww, 6) + 0.0 AS e_ww,
           round(ebw, 6) + 0.0 AS e_bw,
           round((bb2 / 2.0 - ebb) / sqrt(vbb), 6) + 0.0 AS z_bb,
           round((ww2 / 2.0 - eww) / sqrt(vww), 6) + 0.0 AS z_ww,
           round((bw2 / 2.0 - ebw) / sqrt(vbw), 6) + 0.0 AS z_bw
    FROM mo
    """,
)
def join_count_statistics(spark, sf_dir):
    """Cliff-Ord join-count statistics on the region-block nation
    graph: label each of the 25 nations Black (mean order value
    above the exact lower median of the 25 nation means) or White,
    and count BB / WW / BW joins among the same-region pairs —
    the binary-attribute companion to `getis_ord_general_g` (same
    weights, dichotomized signal). Ships the exact randomization-
    null moments for all three counts (Cliff-Ord nonfree-sampling
    forms with S1 = 2 S0, S2 = 4 sum(deg^2)); the BB and BW
    second-moment formulas were VERIFIED against the exact 5040-
    permutation enumeration of a 7-node block graph (both match to
    1e-13) — the BW variance in particular uses the
    derived-from-scratch pair-pattern expectations, not the
    textbook's frequently-misquoted form.

    Exactness: the median label threshold is the exact element at
    rank ceil(n/2) of the 25-row frame (odd n — no interpolation);
    all join counts are exact BIGINTs halved from ordered-pair
    counts; moments are terminal double trees of exact integers.
    Plan: one fact rollup, one 25-row rank, one bounded block
    self-join, one fold."""
    natx = _natx(spark, sf_dir).persist()
    w = Window.orderBy("x", "nk")
    ranked = natx.select(
        "nk",
        "rk",
        "x",
        F.row_number().over(w).cast("bigint").alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    med = ranked.where(2 * F.col("r") >= F.col("n") + 1).agg(
        F.min("x").cast("double").alias("med")
    )
    lab = (
        natx.crossJoin(F.broadcast(med))
        .select(
            "nk",
            "rk",
            F.when(F.col("x") > F.col("med"), 1).otherwise(0).alias("b"),
        )
        .persist()
    )
    counts = lab.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("b").cast("bigint").alias("n1"),
    )
    a = lab.select(
        F.col("nk").alias("ank"), F.col("rk"), F.col("b").alias("ab")
    )
    bb = lab.select(
        F.col("nk").alias("bnk"), F.col("rk"), F.col("b").alias("bbv")
    )
    pj = a.join(bb, "rk")
    ne = F.col("ank") != F.col("bnk")
    pairs = pj.agg(
        F.sum(
            F.when(ne & (F.col("ab") == 1) & (F.col("bbv") == 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("bb2"),
        F.sum(
            F.when(ne & (F.col("ab") == 0) & (F.col("bbv") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("ww2"),
        F.sum(F.when(ne & (F.col("ab") != F.col("bbv")), 1).otherwise(0))
        .cast("bigint")
        .alias("bw2"),
        F.sum(F.when(ne, 1).otherwise(0)).cast("bigint").alias("s0"),
    )
    deg = (
        pj.groupBy("ank")
        .agg((F.count(F.lit(1)) - 1).cast("bigint").alias("k"))
        .agg(F.sum(F.col("k") * F.col("k")).cast("bigint").alias("sdeg2"))
    )
    j = counts.crossJoin(F.broadcast(pairs)).crossJoin(F.broadcast(deg))
    n = F.col("n").cast("double")
    n1 = F.col("n1").cast("double")
    n2 = n - n1
    s0d = F.col("s0").cast("double")
    s1d = 2.0 * s0d
    s2d = 4.0 * F.col("sdeg2").cast("double")

    def e_same(m):
        return s0d / 2.0 * (m * (m - 1.0)) / (n * (n - 1.0))

    def v_same(m):
        return (
            (s1d / 4.0) * (m * (m - 1.0)) / (n * (n - 1.0))
            + ((s2d - 2.0 * s1d) / 4.0)
            * (m * (m - 1.0) * (m - 2.0))
            / (n * (n - 1.0) * (n - 2.0))
            + ((s0d * s0d + s1d - s2d) / 4.0)
            * (m * (m - 1.0) * (m - 2.0) * (m - 3.0))
            / (n * (n - 1.0) * (n - 2.0) * (n - 3.0))
            - e_same(m) * e_same(m)
        )

    ebw = s0d * (n1 * n2) / (n * (n - 1.0))
    vbw = 0.25 * (
        s1d * (2.0 * n1 * n2) / (n * (n - 1.0))
        + (s2d - 2.0 * s1d)
        * (n1 * n2 * (n - 2.0))
        / (n * (n - 1.0) * (n - 2.0))
        + (s0d * s0d + s1d - s2d)
        * (4.0 * n1 * n2 * (n1 - 1.0) * (n2 - 1.0))
        / (n * (n - 1.0) * (n - 2.0) * (n - 3.0))
    ) - ebw * ebw
    return j.select(
        F.col("n").alias("n_nations"),
        F.col("n1").alias("n_high"),
        (F.col("bb2") / F.lit(2)).cast("bigint").alias("bb_joins"),
        (F.col("ww2") / F.lit(2)).cast("bigint").alias("ww_joins"),
        (F.col("bw2") / F.lit(2)).cast("bigint").alias("bw_joins"),
        (F.round(e_same(n1), 6) + 0.0).alias("e_bb"),
        (F.round(e_same(n2), 6) + 0.0).alias("e_ww"),
        (F.round(ebw, 6) + 0.0).alias("e_bw"),
        (
            F.round(
                (F.col("bb2") / 2.0 - e_same(n1)) / F.sqrt(v_same(n1)), 6
            )
            + 0.0
        ).alias("z_bb"),
        (
            F.round(
                (F.col("ww2") / 2.0 - e_same(n2)) / F.sqrt(v_same(n2)), 6
            )
            + 0.0
        ).alias("z_ww"),
        (
            F.round((F.col("bw2") / 2.0 - ebw) / F.sqrt(vbw), 6) + 0.0
        ).alias("z_bw"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "join_count_statistics": (
            "row_number rank over the 25-row nation frame for the "
            "exact median label threshold (domain-bounded)"
        ),
    }
)


# --------------------------------------------------------------------------
# Tukey median polish of the (weekday x event-type) count table
# --------------------------------------------------------------------------
@register(
    "median_polish_dow_type",
    oracle="""
    WITH obs AS (
        SELECT CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS INT)
                   AS dow,
               event_type AS ty, CAST(COUNT(*) AS DOUBLE) AS y
        FROM events GROUP BY 1, 2
    ),
    dows AS (SELECT CAST(u.g AS INT) AS dow
             FROM UNNEST(range(0, 7)) u(g)),
    tys AS (SELECT DISTINCT event_type AS ty FROM events),
    cells AS (
        SELECT d.dow, s.ty, COALESCE(o.y, 0.0) AS z
        FROM dows d CROSS JOIN tys s
        LEFT JOIN obs o ON o.dow = d.dow AND o.ty = s.ty
    ),
    r1 AS (SELECT dow, quantile_cont(z, 0.5) AS rd1
           FROM cells GROUP BY dow),
    z1 AS (SELECT c.dow, c.ty, c.z - r1.rd1 AS z
           FROM cells c JOIN r1 USING (dow)),
    c1 AS (SELECT ty, quantile_cont(z, 0.5) AS cd1
           FROM z1 GROUP BY ty),
    z2 AS (SELECT z1.dow, z1.ty, z1.z - c1.cd1 AS z
           FROM z1 JOIN c1 USING (ty)),
    db1 AS (SELECT quantile_cont(rd1, 0.5) AS d FROM r1),
    r2 AS (SELECT dow, quantile_cont(z, 0.5) AS rd2
           FROM z2 GROUP BY dow),
    z3 AS (SELECT z2.dow, z2.ty, z2.z - r2.rd2 AS z
           FROM z2 JOIN r2 USING (dow)),
    da2 AS (SELECT quantile_cont(cd1, 0.5) AS d FROM c1),
    c2 AS (SELECT ty, quantile_cont(z, 0.5) AS cd2
           FROM z3 GROUP BY ty),
    z4 AS (SELECT z3.dow, z3.ty, z3.z - c2.cd2 AS z
           FROM z3 JOIN c2 USING (ty)),
    reff AS (
        SELECT r1.dow,
               r1.rd1 - db1.d + r2.rd2 AS r
        FROM r1 JOIN r2 USING (dow), db1
    ),
    db2 AS (SELECT quantile_cont(r, 0.5) AS d FROM reff)
    SELECT 'overall' AS margin, '' AS k,
           round(db1.d + da2.d + db2.d, 6) + 0.0 AS effect
    FROM db1, da2, db2
    UNION ALL
    SELECT 'row', CAST(reff.dow AS VARCHAR),
           round(reff.r - db2.d, 6) + 0.0
    FROM reff, db2
    UNION ALL
    SELECT 'col', c1.ty,
           round(c1.cd1 - da2.d + c2.cd2, 6) + 0.0
    FROM c1 JOIN c2 USING (ty), da2
    UNION ALL
    SELECT 'residual_max_abs', '',
           round(MAX(abs(z)), 6) + 0.0
    FROM z4
    ORDER BY margin, k
    """,
)
def median_polish_dow_type(spark, sf_dir):
    """Tukey MEDIAN POLISH of the (weekday x event-type) count table:
    two full iterations of R's `medpolish` sweep order (row medians
    -> extract median of col effects into overall -> col medians ->
    extract median of row effects into overall), emitting the
    overall effect, the 7 weekday effects, the 5 type effects, and
    the max |residual| — the resistant two-way decomposition that
    `seasonal_dow_decompose` (mean-based) cannot protect from a
    single anomalous cell. Both margins are ODD (7 and 5), so every
    median in the sweep is an EXACT order statistic of integral
    doubles — the entire polish is exact integer arithmetic and the
    cross-engine hash needs no rounding guard (6 dp is belt-and-
    braces). Plan: one rollup to 35 cells, a zero-filled bounded
    grid, and a fixed chain of 8 bounded-group median aggregates —
    no windows, nothing scales with data volume past the rollup."""
    e = t(spark, sf_dir, "events")
    obs = e.groupBy(
        ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7)
        .cast("int")
        .alias("dow"),
        F.col("event_type").alias("ty"),
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    dows = spark.range(7).select(F.col("id").cast("int").alias("dow"))
    tys = e.select(F.col("event_type").alias("ty")).distinct()
    cells = (
        dows.crossJoin(tys)
        .join(obs, ["dow", "ty"], "left")
        .select("dow", "ty", F.coalesce("y", F.lit(0.0)).alias("z"))
    )
    half = F.lit(0.5)
    r1 = cells.groupBy("dow").agg(F.percentile("z", half).alias("rd1"))
    z1 = cells.join(r1, "dow").select(
        "dow", "ty", (F.col("z") - F.col("rd1")).alias("z")
    )
    c1 = z1.groupBy("ty").agg(F.percentile("z", half).alias("cd1"))
    z2 = z1.join(c1, "ty").select(
        "dow", "ty", (F.col("z") - F.col("cd1")).alias("z")
    )
    db1 = r1.agg(F.percentile("rd1", half).alias("d"))
    r2 = z2.groupBy("dow").agg(F.percentile("z", half).alias("rd2"))
    z3 = z2.join(r2, "dow").select(
        "dow", "ty", (F.col("z") - F.col("rd2")).alias("z")
    )
    da2 = c1.agg(F.percentile("cd1", half).alias("d"))
    c2 = z3.groupBy("ty").agg(F.percentile("z", half).alias("cd2"))
    z4 = z3.join(c2, "ty").select(
        "dow", "ty", (F.col("z") - F.col("cd2")).alias("z")
    )
    reff = r1.join(r2, "dow").crossJoin(F.broadcast(db1)).select(
        "dow",
        (F.col("rd1") - F.col("d") + F.col("rd2")).alias("r"),
    )
    db2 = reff.agg(F.percentile("r", half).alias("d"))
    overall = (
        db1.select(F.col("d").alias("d1"))
        .crossJoin(F.broadcast(da2.select(F.col("d").alias("d2"))))
        .crossJoin(F.broadcast(db2.select(F.col("d").alias("d3"))))
        .select(
            F.lit("overall").alias("margin"),
            F.lit("").alias("k"),
            (
                F.round(F.col("d1") + F.col("d2") + F.col("d3"), 6)
                + 0.0
            ).alias("effect"),
        )
    )
    rows = reff.crossJoin(F.broadcast(db2)).select(
        F.lit("row").alias("margin"),
        F.col("dow").cast("string").alias("k"),
        (F.round(F.col("r") - F.col("d"), 6) + 0.0).alias("effect"),
    )
    cols = (
        c1.join(c2, "ty")
        .crossJoin(F.broadcast(da2))
        .select(
            F.lit("col").alias("margin"),
            F.col("ty").alias("k"),
            (
                F.round(F.col("cd1") - F.col("d") + F.col("cd2"), 6)
                + 0.0
            ).alias("effect"),
        )
    )
    resid = z4.agg(
        (F.round(F.max(F.abs("z")), 6) + 0.0).alias("effect")
    ).select(
        F.lit("residual_max_abs").alias("margin"),
        F.lit("").alias("k"),
        "effect",
    )
    return (
        overall.unionByName(rows)
        .unionByName(cols)
        .unionByName(resid)
        .orderBy("margin", "k")
    )


# --------------------------------------------------------------------------
# Schnabel / Schumacher-Eschmeyer multi-occasion capture-recapture
# --------------------------------------------------------------------------
@register(
    "schnabel_capture_recapture",
    oracle="""
    WITH uw AS (
        SELECT DISTINCT user_id,
               CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS wk
        FROM events
    ),
    fw AS (
        SELECT user_id, CAST(MIN(wk) AS BIGINT) AS f0
        FROM uw GROUP BY user_id
    ),
    cw AS (
        SELECT wk, CAST(COUNT(*) AS BIGINT) AS ct FROM uw GROUP BY wk
    ),
    fwk AS (
        SELECT f0 AS wk, CAST(COUNT(*) AS BIGINT) AS ft
        FROM fw GROUP BY f0
    ),
    occ AS (
        SELECT c.wk, c.ct, COALESCE(f.ft, 0) AS ft,
               CAST(COALESCE(SUM(f.ft) OVER (ORDER BY c.wk
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS mt
        FROM cw c LEFT JOIN fwk f ON c.wk = f.wk
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_occ,
               CAST(SUM(ct - ft) AS BIGINT) AS sum_r,
               CAST(SUM(CAST(ct AS DECIMAL(19,0)) * mt)
                    AS DECIMAL(38,0)) AS sum_cm,
               CAST(SUM(CAST(ct AS DECIMAL(19,0)) * mt
                        * CAST(mt AS DECIMAL(19,0)))
                    AS DECIMAL(38,0)) AS sum_cm2,
               CAST(SUM(CAST(ct - ft AS DECIMAL(19,0)) * mt)
                    AS DECIMAL(38,0)) AS sum_rm
        FROM occ
    ),
    pop AS (SELECT CAST(COUNT(*) AS BIGINT) AS marked FROM fw)
    SELECT n_occ AS n_occasions, marked AS total_marked,
           sum_r AS total_recaptures,
           round(CAST(sum_cm AS DOUBLE) / sum_r, 4) + 0.0
               AS schnabel_n,
           round(CAST(sum_cm2 AS DOUBLE) / CAST(sum_rm AS DOUBLE), 4)
               + 0.0 AS schumacher_n
    FROM fold, pop
    """,
)
def schnabel_capture_recapture(spark, sf_dir):
    """Schnabel and Schumacher-Eschmeyer multi-occasion capture-
    recapture estimates of the active user population, with calendar
    WEEKS as capture occasions: each week "captures" its distinct
    users, a user is "marked" after its first week, and the
    recapture fractions estimate N via Schnabel N = sum(C_t M_t) /
    sum(R_t) and Schumacher N = sum(C_t M_t^2)/sum(R_t M_t) — the
    multi-sample generalization of the registry's two-occasion
    `capture_recapture_lincoln` (more occasions -> tighter, and the
    two estimators disagreeing flags closure/heterogeneity
    violations, exactly what a user-base estimate must check).

    Exactness: C_t / F_t / M_t are exact BIGINTs (M_t is the
    exclusive prefix sum of first-captures over the bounded week
    grid); the three cross-moments widen through DECIMAL(19,0)
    operands into DECIMAL(38,0) folds (C_t M_t^2 passes int64 once
    users exceed ~2e6 per the 64x-probe overflow rule); estimates
    are terminal double ratios. Plan: one distinct rollup, one
    per-user min, two week rollups, one prefix window on the week
    grid, one fold."""
    e = t(spark, sf_dir, "events")
    uw = e.select(
        "user_id",
        F.floor(F.unix_micros("ts") / 604_800_000_000)
        .cast("bigint")
        .alias("wk"),
    ).distinct()
    fw = uw.groupBy("user_id").agg(
        F.min("wk").cast("bigint").alias("f0")
    )
    cw = uw.groupBy("wk").agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
    fwk = fw.groupBy(F.col("f0").alias("wk")).agg(
        F.count(F.lit(1)).cast("bigint").alias("ft")
    )
    occ = (
        cw.join(fwk, "wk", "left")
        .select(
            "wk",
            "ct",
            F.coalesce("ft", F.lit(0)).cast("bigint").alias("ft"),
        )
        .withColumn(
            "mt",
            F.coalesce(
                F.sum("ft").over(
                    Window.orderBy("wk").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).cast("bigint"),
        )
    )
    fold = occ.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occ"),
        F.sum(F.col("ct") - F.col("ft")).cast("bigint").alias("sum_r"),
        F.sum(F.col("ct").cast("decimal(19,0)") * F.col("mt"))
        .cast("decimal(38,0)")
        .alias("sum_cm"),
        F.sum(
            F.col("ct").cast("decimal(19,0)")
            * F.col("mt")
            * F.col("mt").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("sum_cm2"),
        F.sum(
            (F.col("ct") - F.col("ft")).cast("decimal(19,0)") * F.col("mt")
        )
        .cast("decimal(38,0)")
        .alias("sum_rm"),
    )
    pop = fw.agg(F.count(F.lit(1)).cast("bigint").alias("marked"))
    return fold.crossJoin(F.broadcast(pop)).select(
        F.col("n_occ").alias("n_occasions"),
        F.col("marked").alias("total_marked"),
        F.col("sum_r").alias("total_recaptures"),
        (
            F.round(F.col("sum_cm").cast("double") / F.col("sum_r"), 4)
            + 0.0
        ).alias("schnabel_n"),
        (
            F.round(
                F.col("sum_cm2").cast("double")
                / F.col("sum_rm").cast("double"),
                4,
            )
            + 0.0
        ).alias("schumacher_n"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "schnabel_capture_recapture": (
            "exclusive prefix sum of first-captures over the calendar-"
            "week grid (bounded domain — the cusum class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Shared survival frame: 30-minute-gap sessions with censoring + cohort
# --------------------------------------------------------------------------
_SESS_SURV_SQL = """
    flagged AS (
        SELECT user_id, ts,
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
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    ),
    bounds AS (SELECT MAX(ts) AS mx FROM events),
    sessions AS (
        SELECT date_diff('minute', MIN(ts), MAX(ts)) AS dur,
               CASE WHEN MAX(ts) <= (SELECT mx FROM bounds)
                                    - INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS completed,
               CASE WHEN CAST(epoch_us(MIN(ts)) // 86400000000 + 3 AS
                             BIGINT) % 7 >= 5
                    THEN 1 ELSE 0 END AS wkend
        FROM grouped GROUP BY user_id, session_id
    )
"""


def _surv_sessions(spark, sf_dir):
    """Shared survival frame (the log_rank_sessions contract): one
    row per 30-minute-gap session with minute-BOUNDARY duration
    (DuckDB date_diff semantics — not floored elapsed), the
    window-edge censoring flag, and the weekend-start cohort flag."""
    e = t(spark, sf_dir, "events")
    wsess = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagts = F.lag("ts").over(wsess)
    flagged = e.select(
        "user_id",
        "ts",
        F.when(
            lagts.isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(lagts)
                > 30 * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
        "event_id",
    )
    grouped = flagged.select(
        "user_id",
        "ts",
        F.sum("new_session")
        .over(
            Window.partitionBy("user_id")
            .orderBy("ts")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("session_id"),
    )
    mx = e.agg(F.max("ts").alias("mx"))
    return (
        grouped.groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
        .crossJoin(F.broadcast(mx))
        .select(
            (
                (
                    F.unix_micros(F.date_trunc("minute", "t1"))
                    - F.unix_micros(F.date_trunc("minute", "t0"))
                )
                / 60_000_000
            )
            .cast("bigint")
            .alias("dur"),
            F.when(
                F.unix_micros("t1")
                <= F.unix_micros("mx") - 30 * 60 * 1_000_000,
                1,
            )
            .otherwise(0)
            .alias("completed"),
            F.when(
                (
                    F.floor(F.unix_micros("t0") / 86_400_000_000) + 3
                ).cast("bigint")
                % 7
                >= 5,
                1,
            )
            .otherwise(0)
            .alias("wkend"),
        )
    )


# --------------------------------------------------------------------------
# Gehan-Breslow-Wilcoxon test (n-weighted log-rank) on session cohorts
# --------------------------------------------------------------------------
@register(
    "gehan_breslow_wilcoxon",
    oracle=f"""
    WITH {_SESS_SURV_SQL},
    grid AS (
        SELECT dur,
               CAST(SUM(CASE WHEN wkend = 1 AND completed = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS d1,
               CAST(SUM(completed) AS BIGINT) AS d,
               CAST(SUM(wkend) AS BIGINT) AS e1,
               CAST(COUNT(*) AS BIGINT) AS e
        FROM sessions GROUP BY dur
    ),
    risk AS (
        SELECT dur, d1, d,
               CAST(SUM(e1) OVER (ORDER BY dur DESC
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS n1,
               CAST(SUM(e) OVER (ORDER BY dur DESC
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n
        FROM grid
    ),
    fold AS (
        SELECT SUM(CAST(round(n * (d1 - d * CAST(n1 AS DOUBLE) / n),
                              6) AS DECIMAL(38,6))) AS u,
               SUM(CAST(round(
                   CASE WHEN n > 1 THEN
                       CAST(n AS DOUBLE) * n
                         * d * (CAST(n1 AS DOUBLE) / n)
                         * (1.0 - CAST(n1 AS DOUBLE) / n)
                         * (n - d) / (n - 1)
                   ELSE 0 END, 6) AS DECIMAL(38,6))) AS v,
               CAST(SUM(d1) AS BIGINT) AS deaths_wkend,
               CAST(SUM(d) AS BIGINT) AS deaths_total
        FROM risk WHERE d > 0
    )
    SELECT deaths_wkend, deaths_total,
           round(CAST(u AS DOUBLE), 4) + 0.0 AS gehan_u,
           round(CAST(u AS DOUBLE) / sqrt(CAST(v AS DOUBLE)), 6) + 0.0
               AS gehan_z
    FROM fold
    """,
)
def gehan_breslow_wilcoxon(spark, sf_dir):
    """Gehan-Breslow-Wilcoxon test between the weekend- and weekday-
    started session cohorts: the log-rank's O-E terms weighted by
    the at-risk count n_t (U = sum n_t (d1 - d n1/n), Var = sum
    n_t^2 V_hypergeom) — EARLY departures dominate, so Gehan
    disagreeing with `log_rank_sessions` (which weights all times
    equally) localizes WHERE two survival curves split: early churn
    vs late tail. Session grain, 30-minute gap, minute-boundary
    duration, censoring rule, and cohort flag are IDENTICAL to the
    KM/log-rank queries — one survival surface, three readouts.

    Exactness: death/at-risk counts are exact BIGINTs from the
    reverse prefix sums over the bounded duration grid; each
    weighted term is rounded at 6 dp and folded through
    DECIMAL(38,6) (order-free); U and z are terminal ratios. Plan:
    the sessionization windows (user-partitioned), one duration
    rollup, one reverse prefix over the bounded minutes grid, one
    fold."""
    sessions = _surv_sessions(spark, sf_dir)
    grid = sessions.groupBy("dur").agg(
        F.sum(
            F.when((F.col("wkend") == 1) & (F.col("completed") == 1), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("d1"),
        F.sum("completed").cast("bigint").alias("d"),
        F.sum("wkend").cast("bigint").alias("e1"),
        F.count(F.lit(1)).cast("bigint").alias("e"),
    )
    wrev = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = grid.select(
        "dur",
        "d1",
        "d",
        F.sum("e1").over(wrev).cast("bigint").alias("n1"),
        F.sum("e").over(wrev).cast("bigint").alias("n"),
    )
    nn = F.col("n")
    frac = F.col("n1").cast("double") / nn
    fold = risk.where(F.col("d") > 0).agg(
        F.sum(
            F.round(
                nn * (F.col("d1") - F.col("d") * frac), 6
            ).cast("decimal(38,6)")
        ).alias("u"),
        F.sum(
            F.round(
                F.when(
                    nn > 1,
                    nn.cast("double")
                    * nn
                    * F.col("d")
                    * frac
                    * (1.0 - frac)
                    * (nn - F.col("d"))
                    / (nn - 1),
                ).otherwise(0.0),
                6,
            ).cast("decimal(38,6)")
        ).alias("v"),
        F.sum("d1").cast("bigint").alias("deaths_wkend"),
        F.sum("d").cast("bigint").alias("deaths_total"),
    )
    return fold.select(
        "deaths_wkend",
        "deaths_total",
        (F.round(F.col("u").cast("double"), 4) + 0.0).alias("gehan_u"),
        (
            F.round(
                F.col("u").cast("double")
                / F.sqrt(F.col("v").cast("double")),
                6,
            )
            + 0.0
        ).alias("gehan_z"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "gehan_breslow_wilcoxon": (
            "reverse prefix at-risk sums over the session-duration "
            "minutes grid (the log_rank_sessions / kaplan_meier class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Actuarial (interval-grouped) life table of session durations
# --------------------------------------------------------------------------
@register(
    "actuarial_life_table",
    oracle=f"""
    WITH {_SESS_SURV_SQL},
    iv AS (
        SELECT CAST(dur // 10 AS BIGINT) AS j,
               CAST(SUM(completed) AS BIGINT) AS d,
               CAST(SUM(1 - completed) AS BIGINT) AS w
        FROM sessions GROUP BY 1
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM sessions),
    risk AS (
        SELECT j, d, w,
               CAST(tot.n_all
                    - COALESCE(SUM(d + w) OVER (ORDER BY j
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS nj
        FROM iv, tot
    ),
    q AS (
        SELECT j, d, w, nj,
               round(d / (nj - w / 2.0), 12) AS qj
        FROM risk
    ),
    s AS (
        SELECT j, d, w, nj, qj,
               exp(CAST(COALESCE(SUM(CAST(round(
                       CASE WHEN 1.0 - qj > 0
                            THEN ln(1.0 - qj) ELSE 0.0 END, 12)
                       AS DECIMAL(38,12))) OVER (ORDER BY j
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS DOUBLE)) AS sj
        FROM q
    )
    SELECT j * 10 AS interval_start_min,
           nj AS n_at_risk, d AS n_deaths, w AS n_censored,
           round(qj, 6) + 0.0 AS q_hat,
           round(sj, 6) + 0.0 AS s_start,
           round(CASE WHEN nj - w / 2.0 - d / 2.0 > 0
                      THEN d / (10.0 * (nj - w / 2.0 - d / 2.0))
                 END, 6) + 0.0 AS central_hazard_per_min
    FROM s ORDER BY j
    """,
)
def actuarial_life_table(spark, sf_dir):
    """Actuarial (interval-grouped) life table of session durations
    in 10-minute bands with the classical HALF-CENSORING adjustment:
    effective exposure n'_j = n_j - w_j/2, conditional mortality
    q_j = d_j/n'_j, survival-at-interval-start S_j as the running
    product of (1-q_i), and the central hazard rate d_j/(10 (n'_j -
    d_j/2)) per minute — the grouped-data counterpart of
    `kaplan_meier_sessions` (exact event times) that every
    churn-reporting surface publishes, with censored sessions
    (alive at the observation edge) treated as half-exposed in
    their band rather than dropped. Same session/censoring contract
    as the KM/log-rank/Gehan family.

    Exactness: d/w/n_j fold as exact BIGINTs (the at-risk count is
    an exclusive prefix sum over the bounded 10-minute band grid);
    the survival product uses the exp-of-ln-sum device with 12-dp
    rounded log terms folded through DECIMAL(38,12) (order-free);
    q=1 cannot poison the EXCLUSIVE prefix (a band that exhausts
    the risk set has no later rows by construction) and the ln
    guard is identical in both engines. Plan: sessionization, one
    band rollup, two prefix windows on the bounded band grid."""
    sessions = _surv_sessions(spark, sf_dir)
    iv = sessions.groupBy(
        F.floor(F.col("dur") / 10).cast("bigint").alias("j")
    ).agg(
        F.sum("completed").cast("bigint").alias("d"),
        F.sum(1 - F.col("completed")).cast("bigint").alias("w"),
    )
    tot = sessions.agg(F.count(F.lit(1)).cast("bigint").alias("n_all"))
    wexc = Window.orderBy("j").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = iv.crossJoin(F.broadcast(tot)).select(
        "j",
        "d",
        "w",
        (
            F.col("n_all")
            - F.coalesce(
                F.sum(F.col("d") + F.col("w")).over(wexc), F.lit(0)
            )
        )
        .cast("bigint")
        .alias("nj"),
    )
    q = risk.select(
        "j",
        "d",
        "w",
        "nj",
        F.round(F.col("d") / (F.col("nj") - F.col("w") / 2.0), 12).alias(
            "qj"
        ),
    )
    lnterm = F.round(
        F.when(1.0 - F.col("qj") > 0, F.log(1.0 - F.col("qj"))).otherwise(
            0.0
        ),
        12,
    ).cast("decimal(38,12)")
    s = q.select(
        "j",
        "d",
        "w",
        "nj",
        "qj",
        F.exp(
            F.coalesce(F.sum(lnterm).over(wexc), F.lit(0)).cast("double")
        ).alias("sj"),
    )
    haz = F.when(
        F.col("nj") - F.col("w") / 2.0 - F.col("d") / 2.0 > 0,
        F.col("d")
        / (10.0 * (F.col("nj") - F.col("w") / 2.0 - F.col("d") / 2.0)),
    )
    return s.select(
        (F.col("j") * 10).cast("bigint").alias("interval_start_min"),
        F.col("nj").alias("n_at_risk"),
        F.col("d").alias("n_deaths"),
        F.col("w").alias("n_censored"),
        (F.round("qj", 6) + 0.0).alias("q_hat"),
        (F.round("sj", 6) + 0.0).alias("s_start"),
        (F.round(haz, 6) + 0.0).alias("central_hazard_per_min"),
    ).orderBy("j")


PLAN_AUDIT_NOTES.update(
    {
        "actuarial_life_table": (
            "two exclusive prefix sums over the bounded 10-minute "
            "band grid (the kaplan_meier_sessions class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Acceptance-sampling OC readout (n=20, c=2 single plan) per priority
# --------------------------------------------------------------------------
@register(
    "acceptance_sampling_oc",
    oracle="""
    WITH g AS (
        SELECT o_orderpriority AS pri,
               CAST(COUNT(*) AS BIGINT) AS n,
               round(SUM(CASE WHEN o_orderstatus = 'P'
                              THEN 1 ELSE 0 END)
                     * 1.0 / COUNT(*), 8) AS p
        FROM orders GROUP BY 1
    ),
    oc AS (
        SELECT pri, n, p,
               exp(20.0 * ln(1.0 - p))
               + 20.0 * p * exp(19.0 * ln(1.0 - p))
               + 190.0 * p * p * exp(18.0 * ln(1.0 - p)) AS pa
        FROM g
    )
    SELECT pri AS priority, n AS n_orders,
           p + 0.0 AS p_defect,
           round(pa, 6) + 0.0 AS pa_accept,
           round(p * pa * 980.0 / 1000.0, 6) + 0.0 AS aoq,
           round(20.0 + (1.0 - pa) * 980.0, 4) + 0.0 AS ati
    FROM oc ORDER BY priority
    """,
)
def acceptance_sampling_oc(spark, sf_dir):
    """Acceptance-sampling operating-characteristic readout of the
    single plan (n=20, c=2) evaluated AT each priority's measured
    defect rate (orders in status 'P'): P(accept) = sum_{{k<=2}}
    C(20,k) p^k (1-p)^(20-k) with the literal binomial coefficients
    1/20/190, the average outgoing quality AOQ = p Pa (N-n)/N and
    the average total inspection ATI = n + (1-Pa)(N-n) for a lot of
    N=1000 — the quality-control dual of `process_capability_cpk`
    (which certifies a continuous characteristic; this prices the
    INSPECTION of an attribute one). High measured p simply reads
    as a rejecting plan — the curve's informative region is its
    low-p tail, which the per-priority spread exercises.

    Exactness: p is an exact count ratio rounded at 8 dp BEFORE any
    power; powers are exp(k ln(1-p)) with identical literal trees
    in both engines (the erlang_c factorial-table discipline — no
    pow()); Pa/AOQ/ATI are terminal doubles. Plan: one scan, one
    5-group fold — no joins, no windows."""
    o = t(spark, sf_dir, "orders")
    g = o.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum(
                F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)
            )
            * 1.0
            / F.count(F.lit(1)),
            8,
        ).alias("p"),
    )
    p = F.col("p")
    lq = F.log(1.0 - p)
    pa = (
        F.exp(20.0 * lq)
        + 20.0 * p * F.exp(19.0 * lq)
        + 190.0 * p * p * F.exp(18.0 * lq)
    )
    oc = g.select("pri", "n", "p", pa.alias("pa"))
    return oc.select(
        F.col("pri").alias("priority"),
        F.col("n").alias("n_orders"),
        (F.col("p") + 0.0).alias("p_defect"),
        (F.round("pa", 6) + 0.0).alias("pa_accept"),
        (F.round(F.col("p") * F.col("pa") * 980.0 / 1000.0, 6) + 0.0).alias(
            "aoq"
        ),
        (F.round(20.0 + (1.0 - F.col("pa")) * 980.0, 4) + 0.0).alias(
            "ati"
        ),
    ).orderBy("priority")


# --------------------------------------------------------------------------
# Normal two-sided tolerance interval (Howe) with empirical coverage
# --------------------------------------------------------------------------
@register(
    "normal_tolerance_interval",
    oracle="""
    WITH pts AS (
        SELECT o_orderpriority AS pri,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents
        FROM orders
    ),
    g AS (
        SELECT pri,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s,
               CAST(SUM(CAST(cents AS DECIMAL(19,0)) * cents)
                    AS DECIMAL(38,0)) AS ss
        FROM pts GROUP BY pri
    ),
    ms AS (
        SELECT pri, n,
               round(CAST(s AS DOUBLE) / n / 100000.0, 8) AS m,
               round(sqrt((CAST(ss AS DOUBLE)
                           - CAST(s AS DOUBLE) * s / n) / (n - 1))
                     / 100000.0, 8) AS sd
        FROM g
    ),
    kf AS (
        SELECT pri, n, m, sd,
               round(2.5758293035489004
                     * sqrt((n - 1.0) * (1.0 + 1.0 / n)
                            / ((n - 1.0)
                               * pow(1.0 - 2.0 / (9.0 * (n - 1.0))
                                     - 1.6448536269514722
                                       * sqrt(2.0 / (9.0 * (n - 1.0))),
                                     3))), 8) AS k
        FROM ms
    ),
    lim AS (
        SELECT pri, n, k,
               round(m - k * sd, 8) AS lo,
               round(m + k * sd, 8) AS hi
        FROM kf
    )
    SELECT lim.pri AS priority, lim.n AS n_orders,
           round(k, 6) + 0.0 AS k_factor,
           round(lo, 4) + 0.0 AS tol_lower,
           round(hi, 4) + 0.0 AS tol_upper,
           round(SUM(CASE WHEN p.cents / 100000.0 >= lo
                           AND p.cents / 100000.0 <= hi
                     THEN 1 ELSE 0 END) * 1.0 / lim.n, 6) + 0.0
               AS empirical_coverage
    FROM lim JOIN pts p ON p.pri = lim.pri
    GROUP BY lim.pri, lim.n, k, lo, hi
    ORDER BY priority
    """,
)
def normal_tolerance_interval(spark, sf_dir):
    """Two-sided normal TOLERANCE interval per priority (99% content
    at 95% confidence, Howe's method): k = z_0.995 sqrt(nu (1+1/n) /
    chi2_{0.05,nu}) with the chi-squared quantile from the Wilson-
    Hilferty cube — the interval that bounds INDIVIDUAL order
    values, not the mean (confidence intervals shrink with n;
    tolerance intervals do not), plus the EMPIRICAL coverage of the
    interval as the normality self-check (heavy tails read as
    coverage off 0.99). The Wilson-Hilferty chi-squared device is
    shared with `poisson_dispersion_panel`'s deviate.

    Exactness: mean/sd from exact cents power sums (DECIMAL(19,0)
    widen), both rounded at 8 dp; k and the limits are terminal
    double trees of literals rounded at 8 dp BEFORE the coverage
    comparison, so both engines compare cents against identical
    limit doubles. Plan: one scan, one 5-group fold, one broadcast
    join back for coverage — no windows."""
    o = t(spark, sf_dir, "orders")
    pts = o.select(
        F.col("o_orderpriority").alias("pri"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("cents"),
    )
    g = pts.groupBy("pri").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.col("cents").cast("decimal(19,0)") * F.col("cents"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    n = F.col("n")
    m = F.round(F.col("s").cast("double") / n / 100000.0, 8)
    sd = F.round(
        F.sqrt(
            (
                F.col("ss").cast("double")
                - F.col("s").cast("double") * F.col("s") / n
            )
            / (n - 1)
        )
        / 100000.0,
        8,
    )
    nu = n - 1.0
    wh = nu * F.pow(
        1.0
        - 2.0 / (9.0 * nu)
        - 1.6448536269514722 * F.sqrt(2.0 / (9.0 * nu)),
        3,
    )
    k = F.round(
        2.5758293035489004 * F.sqrt(nu * (1.0 + 1.0 / n) / wh), 8
    )
    lim = g.select(
        "pri",
        "n",
        k.alias("k"),
        F.round(m - k * sd, 8).alias("lo"),
        F.round(m + k * sd, 8).alias("hi"),
    )
    cov = (
        pts.join(F.broadcast(lim), "pri")
        .groupBy("pri", "n", "k", "lo", "hi")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        (F.col("cents") / 100000.0 >= F.col("lo"))
                        & (F.col("cents") / 100000.0 <= F.col("hi")),
                        1,
                    ).otherwise(0)
                )
                * 1.0
                / F.col("n"),
                6,
            ).alias("cv")
        )
    )
    return cov.select(
        F.col("pri").alias("priority"),
        F.col("n").alias("n_orders"),
        (F.round("k", 6) + 0.0).alias("k_factor"),
        (F.round("lo", 4) + 0.0).alias("tol_lower"),
        (F.round("hi", 4) + 0.0).alias("tol_upper"),
        (F.col("cv") + 0.0).alias("empirical_coverage"),
    ).orderBy("priority")


# --------------------------------------------------------------------------
# L-moments panel of daily revenue (lambda_1..4, L-CV, L-skew, L-kurt)
# --------------------------------------------------------------------------
@register(
    "l_moments_panel",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT x,
               CAST(ROW_NUMBER() OVER (ORDER BY x, d) AS BIGINT) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM daily
    ),
    fold AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s0,
               CAST(SUM(CAST(i - 1 AS DECIMAL(19,0)) * x)
                    AS DECIMAL(38,0)) AS s1,
               CAST(SUM(CAST((i - 1) * (i - 2) AS DECIMAL(19,0)) * x)
                    AS DECIMAL(38,0)) AS s2,
               CAST(SUM(CAST((i - 1) * (i - 2) * (i - 3)
                             AS DECIMAL(19,0)) * x)
                    AS DECIMAL(38,0)) AS s3
        FROM ranked
    ),
    b AS (
        SELECT n,
               CAST(s0 AS DOUBLE) / n / 100000.0 AS b0,
               CAST(s1 AS DOUBLE) / (n * (n - 1.0)) / 100000.0 AS b1,
               CAST(s2 AS DOUBLE) / (n * (n - 1.0) * (n - 2.0))
                   / 100000.0 AS b2,
               CAST(s3 AS DOUBLE)
                   / (n * (n - 1.0) * (n - 2.0) * (n - 3.0))
                   / 100000.0 AS b3
        FROM fold
    ),
    lam AS (
        SELECT n, b0 AS l1,
               2.0 * b1 - b0 AS l2,
               6.0 * b2 - 6.0 * b1 + b0 AS l3,
               20.0 * b3 - 30.0 * b2 + 12.0 * b1 - b0 AS l4
        FROM b
    )
    SELECT n AS n_days,
           round(l1, 6) + 0.0 AS l1_kusd,
           round(l2, 6) + 0.0 AS l2_kusd,
           round(l3, 6) + 0.0 AS l3_kusd,
           round(l4, 6) + 0.0 AS l4_kusd,
           round(l2 / l1, 8) + 0.0 AS l_cv,
           round(l3 / l2, 8) + 0.0 AS l_skewness,
           round(l4 / l2, 8) + 0.0 AS l_kurtosis
    FROM lam
    """,
)
def l_moments_panel(spark, sf_dir):
    """Hosking L-moments of the daily-revenue distribution: lambda_1
    (location), lambda_2 (L-scale), and the DIMENSIONLESS ratios
    L-CV, L-skewness = l3/l2, L-kurtosis = l4/l2, from the direct
    unbiased order-statistic estimators b_r = sum C(i-1,r) x_(i) /
    (n C(n-1,r)) — the linear-in-data moment system that exists
    whenever the mean does (classical skewness/kurtosis explode on
    heavy tails; the registry's `cohens_d_panel`/EVT fits get their
    robust companion). L-skew/L-kurt pairs are the standard
    regional-frequency-analysis distribution fingerprint
    (Gumbel: 0.1699/0.1504).

    Exactness: daily revenues are exact cents BIGINTs; the
    falling-factorial weights (i-1)(i-2)(i-3) are exact integers on
    the bounded day frame and the four weighted sums widen through
    DECIMAL(19,0) operands into DECIMAL(38,0) folds (the weight x
    cents product passes int64 at the 64x octave); b_r / lambda_r
    are terminal double trees. Plan: one day rollup, one rank over
    the bounded day frame, one fold."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    ranked = daily.select(
        "x",
        F.row_number()
        .over(Window.orderBy("x", "d"))
        .cast("bigint")
        .alias("i"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("n"),
    )
    i1 = F.col("i") - 1
    fold = ranked.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s0"),
        F.sum(i1.cast("decimal(19,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("s1"),
        F.sum(
            (i1 * (F.col("i") - 2)).cast("decimal(19,0)") * F.col("x")
        )
        .cast("decimal(38,0)")
        .alias("s2"),
        F.sum(
            (i1 * (F.col("i") - 2) * (F.col("i") - 3)).cast(
                "decimal(19,0)"
            )
            * F.col("x")
        )
        .cast("decimal(38,0)")
        .alias("s3"),
    )
    n = F.col("n")
    b0 = F.col("s0").cast("double") / n / 100000.0
    b1 = F.col("s1").cast("double") / (n * (n - 1.0)) / 100000.0
    b2 = (
        F.col("s2").cast("double")
        / (n * (n - 1.0) * (n - 2.0))
        / 100000.0
    )
    b3 = (
        F.col("s3").cast("double")
        / (n * (n - 1.0) * (n - 2.0) * (n - 3.0))
        / 100000.0
    )
    lam = fold.select(
        n.alias("n"),
        b0.alias("l1"),
        (2.0 * b1 - b0).alias("l2"),
        (6.0 * b2 - 6.0 * b1 + b0).alias("l3"),
        (20.0 * b3 - 30.0 * b2 + 12.0 * b1 - b0).alias("l4"),
    )
    return lam.select(
        F.col("n").alias("n_days"),
        (F.round("l1", 6) + 0.0).alias("l1_kusd"),
        (F.round("l2", 6) + 0.0).alias("l2_kusd"),
        (F.round("l3", 6) + 0.0).alias("l3_kusd"),
        (F.round("l4", 6) + 0.0).alias("l4_kusd"),
        (F.round(F.col("l2") / F.col("l1"), 8) + 0.0).alias("l_cv"),
        (F.round(F.col("l3") / F.col("l2"), 8) + 0.0).alias(
            "l_skewness"
        ),
        (F.round(F.col("l4") / F.col("l2"), 8) + 0.0).alias(
            "l_kurtosis"
        ),
    )


PLAN_AUDIT_NOTES.update(
    {
        "l_moments_panel": (
            "row_number rank over the calendar-day revenue frame "
            "(bounded domain — the lorenz/gini class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Von Mises concentration of purchase hour-of-day
# --------------------------------------------------------------------------
@register(
    "von_mises_concentration",
    oracle=f"""
    WITH hh AS (
        SELECT CAST(epoch_us(ts) // 3600000000 % 24 AS BIGINT) AS hr
        FROM events WHERE event_type = 'purchase'
    ),
    g AS (
        SELECT hr, CAST(COUNT(*) AS BIGINT) AS c FROM hh GROUP BY hr
    ),
    fold AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CAST(c AS DECIMAL(28,10))
                        * ({case_sql('hr', COS24)}))
                    AS DOUBLE) AS cs,
               CAST(SUM(CAST(c AS DECIMAL(28,10))
                        * ({case_sql('hr', SIN24)}))
                    AS DOUBLE) AS sn
        FROM g
    ),
    r AS (
        SELECT n,
               round(cs / n, 10) AS cbar,
               round(sn / n, 10) AS sbar,
               round(sqrt((cs / n) * (cs / n)
                          + (sn / n) * (sn / n)), 10) AS rbar
        FROM fold
    )
    SELECT n AS n_purchases,
           cbar + 0.0 AS cos_mean,
           sbar + 0.0 AS sin_mean,
           round(rbar, 6) + 0.0 AS resultant_rbar,
           round(1.0 - rbar, 6) + 0.0 AS circular_variance,
           round(sqrt(-2.0 * ln(rbar)), 6) + 0.0 AS circular_sd,
           round(CASE
                   WHEN rbar < 0.53
                   THEN rbar * (2.0 - rbar * rbar)
                        / (1.0 - rbar * rbar)
                   WHEN rbar < 0.85
                   THEN -0.4 + 1.39 * rbar + 0.43 / (1.0 - rbar)
                   ELSE 1.0 / (rbar * rbar * rbar
                               - 4.0 * rbar * rbar + 3.0 * rbar)
                 END, 6) + 0.0 AS kappa_mle
    FROM r
    """,
)
def von_mises_concentration(spark, sf_dir):
    """Von Mises concentration of the purchase HOUR-OF-DAY clock:
    mean resultant length Rbar from the exact 24-direction trig
    tables, circular variance 1-Rbar and circular SD sqrt(-2 ln
    Rbar), and the concentration parameter kappa via the standard
    Fisher (1993) three-regime approximation to the A-inverse
    function — the parametric follow-up to `rayleigh_circular_hours`
    (which only asks IS there a preferred hour; kappa says HOW
    concentrated, feeding von Mises confidence cones). Branch cuts
    at 0.53/0.85 are literals identical in both engines.

    Exactness: hour counts are exact BIGINTs; C and S fold count x
    10-dp-literal-cosine products through DECIMAL(28,10) (exact,
    order-free — the lomb_scargle trig-table discipline); cbar/sbar/
    Rbar are rounded at 10 dp before the kappa tree so both engines
    branch on identical doubles. Plan: one filtered scan, one
    24-row rollup, one fold — no windows."""
    e = t(spark, sf_dir, "events")
    g = (
        e.where(F.col("event_type") == "purchase")
        .groupBy(
            (F.floor(F.unix_micros("ts") / 3_600_000_000) % 24)
            .cast("bigint")
            .alias("hr")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    fold = g.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(
            F.col("c").cast("decimal(28,10)") * _lut24(F.col("hr"), COS24)
        )
        .cast("double")
        .alias("cs"),
        F.sum(
            F.col("c").cast("decimal(28,10)") * _lut24(F.col("hr"), SIN24)
        )
        .cast("double")
        .alias("sn"),
    )
    n = F.col("n")
    cbar = F.round(F.col("cs") / n, 10)
    sbar = F.round(F.col("sn") / n, 10)
    rbar_raw = F.sqrt(
        (F.col("cs") / n) * (F.col("cs") / n)
        + (F.col("sn") / n) * (F.col("sn") / n)
    )
    r = fold.select(
        n.alias("n"),
        cbar.alias("cbar"),
        sbar.alias("sbar"),
        F.round(rbar_raw, 10).alias("rbar"),
    )
    rb = F.col("rbar")
    kappa = (
        F.when(rb < 0.53, rb * (2.0 - rb * rb) / (1.0 - rb * rb))
        .when(rb < 0.85, -0.4 + 1.39 * rb + 0.43 / (1.0 - rb))
        .otherwise(1.0 / (rb * rb * rb - 4.0 * rb * rb + 3.0 * rb))
    )
    return r.select(
        F.col("n").alias("n_purchases"),
        (F.col("cbar") + 0.0).alias("cos_mean"),
        (F.col("sbar") + 0.0).alias("sin_mean"),
        (F.round(rb, 6) + 0.0).alias("resultant_rbar"),
        (F.round(1.0 - rb, 6) + 0.0).alias("circular_variance"),
        (F.round(F.sqrt(-2.0 * F.log(rb)), 6) + 0.0).alias(
            "circular_sd"
        ),
        (F.round(kappa, 6) + 0.0).alias("kappa_mle"),
    )


# --------------------------------------------------------------------------
# Acklam inverse-normal device + Shapiro-Francia / PPCC normality test
# --------------------------------------------------------------------------
# Peter Acklam's rational approximation to the standard normal
# quantile (|relative error| < 1.15e-9 over (0,1)) — pure arithmetic
# plus ln/sqrt, so an IDENTICAL Horner tree is bit-reproducible
# across both engines (the erfc-tree discipline, inverted).
_ACK_A = (
    "-3.969683028665376e+01", "2.209460984245205e+02",
    "-2.759285104469687e+02", "1.383577518672690e+02",
    "-3.066479806614716e+01", "2.506628277459239e+00",
)
_ACK_B = (
    "-5.447609879822406e+01", "1.615858368580409e+02",
    "-1.556989798598866e+02", "6.680131188771972e+01",
    "-1.328068155288572e+01",
)
_ACK_C = (
    "-7.784894002430293e-03", "-3.223964580411365e-01",
    "-2.400758277161838e+00", "-2.549732539343734e+00",
    "4.374664141464968e+00", "2.938163982698783e+00",
)
_ACK_D = (
    "7.784695709041462e-03", "3.224671290700398e-01",
    "2.445134137142996e+00", "3.754408661907416e+00",
)


def _acklam_sql(p: str) -> str:
    a, b, c, d = _ACK_A, _ACK_B, _ACK_C, _ACK_D
    qlo = f"sqrt(-2.0 * ln({p}))"
    qhi = f"sqrt(-2.0 * ln(1.0 - ({p})))"

    def tail(q):
        num = (f"((((({c[0]} * {q} + {c[1]}) * {q} + {c[2]}) * {q} "
               f"+ {c[3]}) * {q} + {c[4]}) * {q} + {c[5]})")
        den = (f"(((({d[0]} * {q} + {d[1]}) * {q} + {d[2]}) * {q} "
               f"+ {d[3]}) * {q} + 1.0)")
        return f"({num} / {den})"

    qc = f"(({p}) - 0.5)"
    rc = f"({qc} * {qc})"
    numc = (f"((((({a[0]} * {rc} + {a[1]}) * {rc} + {a[2]}) * {rc} "
            f"+ {a[3]}) * {rc} + {a[4]}) * {rc} + {a[5]})")
    denc = (f"((((({b[0]} * {rc} + {b[1]}) * {rc} + {b[2]}) * {rc} "
            f"+ {b[3]}) * {rc} + {b[4]}) * {rc} + 1.0)")
    return (f"(CASE WHEN ({p}) < 0.02425 THEN {tail(qlo)} "
            f"WHEN ({p}) > 0.97575 THEN -{tail(qhi)} "
            f"ELSE {numc} * {qc} / {denc} END)")


def _acklam_col(p):
    a = tuple(float(x) for x in _ACK_A)
    b = tuple(float(x) for x in _ACK_B)
    c = tuple(float(x) for x in _ACK_C)
    d = tuple(float(x) for x in _ACK_D)

    def tail(q):
        num = (
            (((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]
        ) * q + c[5]
        den = (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1.0
        return num / den

    qlo = F.sqrt(-2.0 * F.log(p))
    qhi = F.sqrt(-2.0 * F.log(1.0 - p))
    qc = p - 0.5
    rc = qc * qc
    numc = (
        (((a[0] * rc + a[1]) * rc + a[2]) * rc + a[3]) * rc + a[4]
    ) * rc + a[5]
    denc = (
        (((b[0] * rc + b[1]) * rc + b[2]) * rc + b[3]) * rc + b[4]
    ) * rc + 1.0
    return (
        F.when(p < 0.02425, tail(qlo))
        .when(p > 0.97575, -tail(qhi))
        .otherwise(numc * qc / denc)
    )


@register(
    "shapiro_francia_ppcc",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT x,
               CAST(ROW_NUMBER() OVER (ORDER BY x, d) AS BIGINT) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM daily
    ),
    scored AS (
        SELECT x, n,
               round({_acklam_sql('(i - 0.375) / (n + 0.25)')}, 10)
                   AS m
        FROM ranked
    ),
    fold AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(CAST(x AS DECIMAL(19,0)) * x)
                    AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(m AS DECIMAL(28,10))) AS DOUBLE) AS sm,
               CAST(SUM(CAST(round(m * m, 12) AS DECIMAL(28,12)))
                    AS DOUBLE) AS smm,
               CAST(SUM(CAST(round(x * m, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS sxm
        FROM scored
    ),
    corr_ AS (
        SELECT n,
               (n * sxm - CAST(sx AS DOUBLE) * sm)
               / sqrt((n * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * sx)
                      * (n * smm - sm * sm)) AS r
        FROM fold
    ),
    sf AS (
        SELECT n, r, r * r AS w,
               (ln(1.0 - r * r)
                - (-1.2725 + 1.0521 * (ln(ln(n * 1.0)) - ln(n * 1.0))))
               / (1.0308 - 0.26758 * (ln(ln(n * 1.0))
                                      + 2.0 / ln(n * 1.0))) AS z
        FROM corr_
    )
    SELECT n AS n_days,
           round(r, 8) + 0.0 AS ppcc_r,
           round(w, 8) + 0.0 AS w_prime,
           round(z, 6) + 0.0 AS z_royston,
           round(CASE WHEN z > 0
                 THEN (((((1.061405429 * (1.0 / (1.0 + 0.3275911
                     * (abs(z) / 1.4142135623730951)))
                     - 1.453152027) * (1.0 / (1.0 + 0.3275911
                     * (abs(z) / 1.4142135623730951))) + 1.421413741)
                     * (1.0 / (1.0 + 0.3275911
                     * (abs(z) / 1.4142135623730951))) - 0.284496736)
                     * (1.0 / (1.0 + 0.3275911
                     * (abs(z) / 1.4142135623730951))) + 0.254829592)
                     * (1.0 / (1.0 + 0.3275911
                     * (abs(z) / 1.4142135623730951))))
                     * exp(-(abs(z) / 1.4142135623730951)
                           * (abs(z) / 1.4142135623730951)) / 2.0
                 ELSE 1.0 - (((((1.061405429 * (1.0 / (1.0 + 0.3275911
                     * (abs(z) / 1.4142135623730951)))
                     - 1.453152027) * (1.0 / (1.0 + 0.3275911
                     * (abs(z) / 1.4142135623730951))) + 1.421413741)
                     * (1.0 / (1.0 + 0.3275911
                     * (abs(z) / 1.4142135623730951))) - 0.284496736)
                     * (1.0 / (1.0 + 0.3275911
                     * (abs(z) / 1.4142135623730951))) + 0.254829592)
                     * (1.0 / (1.0 + 0.3275911
                     * (abs(z) / 1.4142135623730951))))
                     * exp(-(abs(z) / 1.4142135623730951)
                           * (abs(z) / 1.4142135623730951)) / 2.0
                 END, 8) + 0.0 AS p_upper
    FROM sf
    """,
)
def shapiro_francia_ppcc(spark, sf_dir):
    """Shapiro-Francia normality test of daily revenue: W' is the
    squared correlation between the ordered sample and the Blom
    normal scores Phi^-1((i - 3/8)/(n + 1/4)) — equivalently the
    squared PPCC of the normal probability plot — with Royston's
    (1993) ln(1-W') normalization to an upper-tail z. The
    complement to `lilliefors_normal_fit` (ECDF-distance route) and
    `dagostino_k2_panel` (moment route): three normality machines,
    three failure signatures. Phi^-1 is a NEW shared device:
    Acklam's rational approximation (|rel err| < 1.15e-9), pure
    arithmetic + ln/sqrt Horner trees identical in both engines —
    the inverse of the Abramowitz-Stegun erfc tree the p-values
    already share.

    Exactness: ranks are deterministic (value, day) row_numbers on
    the bounded day frame; normal scores are rounded at 10 dp; the
    five correlation folds are exact cents BIGINT/DECIMAL or
    rounded-term DECIMAL sums (order-free); W'/z/p are terminal
    trees (p splits the shared two-sided erfc tree by the sign of
    z). Plan: one day rollup, one rank over the bounded day frame,
    one fold."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    ranked = daily.select(
        "x",
        F.row_number()
        .over(Window.orderBy("x", "d"))
        .cast("bigint")
        .alias("i"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("n"),
    )
    scored = ranked.select(
        "x",
        "n",
        F.round(
            _acklam_col((F.col("i") - 0.375) / (F.col("n") + 0.25)), 10
        ).alias("m"),
    )
    fold = scored.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("m").cast("decimal(28,10)"))
        .cast("double")
        .alias("sm"),
        F.sum(
            F.round(F.col("m") * F.col("m"), 12).cast("decimal(28,12)")
        )
        .cast("double")
        .alias("smm"),
        F.sum(
            F.round(F.col("x") * F.col("m"), 4).cast("decimal(38,4)")
        )
        .cast("double")
        .alias("sxm"),
    )
    n = F.col("n")
    r = (n * F.col("sxm") - F.col("sx").cast("double") * F.col("sm")) / F.sqrt(
        (
            n * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx")
        )
        * (n * F.col("smm") - F.col("sm") * F.col("sm"))
    )
    lnn = F.log(n * 1.0)
    z = (
        F.log(1.0 - r * r) - (-1.2725 + 1.0521 * (F.log(lnn) - lnn))
    ) / (1.0308 - 0.26758 * (F.log(lnn) + 2.0 / lnn))
    sf = fold.select(n.alias("n"), r.alias("r"), z.alias("z"))
    zz = F.col("z")
    p_up = F.when(zz > 0, _p_two_sided_col(zz) / 2.0).otherwise(
        1.0 - _p_two_sided_col(zz) / 2.0
    )
    return sf.select(
        F.col("n").alias("n_days"),
        (F.round("r", 8) + 0.0).alias("ppcc_r"),
        (F.round(F.col("r") * F.col("r"), 8) + 0.0).alias("w_prime"),
        (F.round("z", 6) + 0.0).alias("z_royston"),
        (F.round(p_up, 8) + 0.0).alias("p_upper"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "shapiro_francia_ppcc": (
            "row_number rank over the calendar-day revenue frame "
            "(bounded domain — the l_moments_panel class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Bradley-Terry brand strengths: two unrolled MM iterations
# --------------------------------------------------------------------------
@register(
    "bradley_terry_two_step",
    oracle="""
    WITH ob AS (
        SELECT l.l_orderkey AS ok, p.p_brand AS b,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ),
    games AS (
        SELECT a.b AS wb, c.b AS lb
        FROM ob a JOIN ob c
          ON a.ok = c.ok AND a.b <> c.b AND a.q > c.q
    ),
    pair AS (
        SELECT wb AS i, lb AS j, CAST(COUNT(*) AS BIGINT) AS w
        FROM games GROUP BY 1, 2
    ),
    nij AS (
        SELECT i, j,
               CAST(w + COALESCE((SELECT w FROM pair p2
                                  WHERE p2.i = pair.j
                                    AND p2.j = pair.i), 0)
                    AS BIGINT) AS n
        FROM pair
        UNION
        SELECT j AS i, i AS j,
               CAST(w + COALESCE((SELECT w FROM pair p2
                                  WHERE p2.i = pair.j
                                    AND p2.j = pair.i), 0)
                    AS BIGINT) AS n
        FROM pair
    ),
    wins AS (
        SELECT i, CAST(SUM(w) AS BIGINT) AS wi FROM pair GROUP BY i
    ),
    brands AS (
        SELECT DISTINCT i AS b FROM nij
    ),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM brands),
    it1 AS (
        SELECT n.i AS b,
               w.wi / SUM(n.n / 2.0) AS pi_raw
        FROM nij n JOIN wins w ON n.i = w.i
        GROUP BY n.i, w.wi
    ),
    nrm1 AS (
        SELECT CAST(SUM(CAST(round(pi_raw, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS s
        FROM it1
    ),
    pi1 AS (
        SELECT b, round(round(pi_raw, 10) / nrm1.s * nb.k, 10) AS pi
        FROM it1, nrm1, nb
    ),
    it2 AS (
        SELECT n.i AS b,
               w.wi / SUM(n.n / (pa.pi + pb.pi)) AS pi_raw
        FROM nij n
        JOIN wins w ON n.i = w.i
        JOIN pi1 pa ON pa.b = n.i
        JOIN pi1 pb ON pb.b = n.j
        GROUP BY n.i, w.wi
    ),
    nrm2 AS (
        SELECT CAST(SUM(CAST(round(pi_raw, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS s
        FROM it2
    ),
    pi2 AS (
        SELECT b, round(round(pi_raw, 10) / nrm2.s * nb.k, 10) AS pi
        FROM it2, nrm2, nb
    ),
    tot AS (
        SELECT i AS b, CAST(SUM(n) AS BIGINT) AS games
        FROM nij GROUP BY i
    )
    SELECT t.b AS brand, t.games,
           COALESCE(w.wi, 0) AS wins,
           round(COALESCE(w.wi, 0) * 1.0 / t.games, 6) + 0.0
               AS win_rate,
           round(p.pi, 6) + 0.0 AS bt_strength
    FROM tot t
    LEFT JOIN wins w ON t.b = w.i
    JOIN pi2 p ON t.b = p.b
    ORDER BY brand
    """,
)
def bradley_terry_two_step(spark, sf_dir):
    """Bradley-Terry strength ratings for the 25 part brands from
    within-order "matchups" (two brands in one order compete; the
    larger total quantity wins; ties are no-contests), fit by TWO
    UNROLLED iterations of Hunter's (2004) MM update pi_i <- W_i /
    sum_j n_ij/(pi_i + pi_j) from the uniform start, renormalized
    to mean 1 after each step — the pairwise-comparison ranking
    model behind chess ratings and LLM preference leaderboards,
    expressed as two bounded closed-form passes instead of an
    opaque fixpoint loop (the k_core_decomposition unrolling
    doctrine: fixed iteration count, deterministic state between
    steps). Strengths are transitive where raw `win_rate` is not —
    the two columns disagreeing flags intransitive matchup graphs.

    Exactness: matchup/win counts are exact BIGINTs from the
    order-grain self-join (per-order brand sets are domain-bounded,
    so the join is equi-key with bounded fanout); each iteration's
    strengths are rounded at 10 dp before and after the mean-1
    normalization (DECIMAL(28,10) fold) so both engines iterate
    identical doubles. Plan: one join rollup, one order-key
    self-join, two bounded 25-row MM passes."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    ob = (
        li.join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b"))
        .agg(
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("q")
        )
    )
    a = ob.select(
        F.col("ok"), F.col("b").alias("wb"), F.col("q").alias("qa")
    )
    c = ob.select(
        F.col("ok"), F.col("b").alias("lb"), F.col("q").alias("qc")
    )
    games = a.join(c, "ok").where(
        (F.col("wb") != F.col("lb")) & (F.col("qa") > F.col("qc"))
    )
    pair = games.groupBy(
        F.col("wb").alias("i"), F.col("lb").alias("j")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("w")).persist()
    rev = pair.select(
        F.col("i").alias("j2"), F.col("j").alias("i2"), F.col("w").alias("wr")
    )
    nij_half = pair.join(
        rev,
        (pair.i == F.col("i2")) & (pair.j == F.col("j2")),
        "left",
    ).select(
        "i",
        "j",
        (F.col("w") + F.coalesce(F.col("wr"), F.lit(0)))
        .cast("bigint")
        .alias("n"),
    )
    nij = nij_half.unionByName(
        nij_half.select(
            F.col("j").alias("i"), F.col("i").alias("j"), F.col("n")
        )
    ).distinct().persist()
    wins = pair.groupBy("i").agg(F.sum("w").cast("bigint").alias("wi"))
    nb = nij.select("i").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    it1 = (
        nij.join(wins, "i")
        .groupBy("i", "wi")
        .agg((F.col("wi") / F.sum(F.col("n") / 2.0)).alias("pi_raw"))
        .select(F.col("i").alias("b"), "pi_raw")
    )
    nrm1 = it1.agg(
        F.sum(F.round("pi_raw", 10).cast("decimal(28,10)"))
        .cast("double")
        .alias("s")
    )
    pi1 = (
        it1.crossJoin(F.broadcast(nrm1))
        .crossJoin(F.broadcast(nb))
        .select(
            "b",
            F.round(
                F.round("pi_raw", 10) / F.col("s") * F.col("k"), 10
            ).alias("pi"),
        )
    )
    pa = pi1.select(F.col("b").alias("i"), F.col("pi").alias("pia"))
    pb = pi1.select(F.col("b").alias("j"), F.col("pi").alias("pib"))
    it2 = (
        nij.join(wins, "i")
        .join(F.broadcast(pa), "i")
        .join(F.broadcast(pb), "j")
        .groupBy("i", "wi")
        .agg(
            (
                F.col("wi")
                / F.sum(F.col("n") / (F.col("pia") + F.col("pib")))
            ).alias("pi_raw")
        )
        .select(F.col("i").alias("b"), "pi_raw")
    )
    nrm2 = it2.agg(
        F.sum(F.round("pi_raw", 10).cast("decimal(28,10)"))
        .cast("double")
        .alias("s")
    )
    pi2 = (
        it2.crossJoin(F.broadcast(nrm2))
        .crossJoin(F.broadcast(nb))
        .select(
            "b",
            F.round(
                F.round("pi_raw", 10) / F.col("s") * F.col("k"), 10
            ).alias("pi"),
        )
    )
    tot = nij.groupBy(F.col("i").alias("b")).agg(
        F.sum("n").cast("bigint").alias("games")
    )
    return (
        tot.join(
            wins.select(F.col("i").alias("b"), "wi"), "b", "left"
        )
        .join(pi2, "b")
        .select(
            F.col("b").alias("brand"),
            "games",
            F.coalesce("wi", F.lit(0)).cast("bigint").alias("wins"),
            (
                F.round(
                    F.coalesce("wi", F.lit(0)) * 1.0 / F.col("games"), 6
                )
                + 0.0
            ).alias("win_rate"),
            (F.round("pi", 6) + 0.0).alias("bt_strength"),
        )
        .orderBy("brand")
    )


# --------------------------------------------------------------------------
# Poker test of randomness on the four terminal price digits
# --------------------------------------------------------------------------
@register(
    "poker_test_digits",
    oracle="""
    WITH d AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) % 10000 AS g
        FROM orders
    ),
    digs AS (
        SELECT g // 1000 AS d1, (g // 100) % 10 AS d2,
               (g // 10) % 10 AS d3, g % 10 AS d4
        FROM d
    ),
    m AS (
        SELECT (CASE WHEN d1 = d2 THEN 1 ELSE 0 END
                + CASE WHEN d1 = d3 THEN 1 ELSE 0 END
                + CASE WHEN d1 = d4 THEN 1 ELSE 0 END
                + CASE WHEN d2 = d3 THEN 1 ELSE 0 END
                + CASE WHEN d2 = d4 THEN 1 ELSE 0 END
                + CASE WHEN d3 = d4 THEN 1 ELSE 0 END) AS eq
        FROM digs
    ),
    cat AS (
        SELECT CASE eq WHEN 0 THEN 'all_different'
                       WHEN 1 THEN 'one_pair'
                       WHEN 2 THEN 'two_pairs'
                       WHEN 3 THEN 'three_of_a_kind'
                       ELSE 'four_of_a_kind' END AS pattern,
               CAST(CASE eq WHEN 0 THEN 0.504 WHEN 1 THEN 0.432
                             WHEN 2 THEN 0.027 WHEN 3 THEN 0.036
                             ELSE 0.001 END AS DOUBLE) AS p
        FROM m
    ),
    g2 AS (
        SELECT pattern, p, CAST(COUNT(*) AS BIGINT) AS o
        FROM cat GROUP BY pattern, p
    ),
    n_ AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM g2),
    chi AS (
        SELECT CAST(SUM(CAST(round(
                   (o - n_.n * p) * (o - n_.n * p) / (n_.n * p), 9)
                   AS DECIMAL(38,9))) AS DOUBLE) AS chi2
        FROM g2, n_
    )
    SELECT g2.pattern, g2.o AS observed,
           round(n_.n * g2.p, 4) + 0.0 AS expected,
           round(chi.chi2, 6) + 0.0 AS chi2_total,
           CAST(4 AS BIGINT) AS dof
    FROM g2, n_, chi
    ORDER BY pattern
    """,
)
def poker_test_digits(spark, sf_dir):
    """Knuth's POKER TEST on the four terminal digits of the order
    price (cents mod 10000): classify each 4-digit hand by its
    pairwise-equality count (0 collisions = all different, 1 = one
    pair, 2 = two pairs, 3 = three of a kind, 6 = four of a kind —
    the collision count IDENTIFIES the partition for 4 symbols) and
    chi-square the five categories against the exact multinomial
    null 0.504/0.432/0.027/0.036/0.001 — the classical PRNG battery
    member beside the registry's `runs_test_randomness` /
    `benford_second_digit` (Benford checks LEADING digits, which
    carry scale information; terminal digits should be uniform and
    poker-pattern-consistent, the fraud-analytics cross-check).

    Exactness: digits and collision counts are exact integer
    arithmetic; category counts fold as BIGINTs; chi-square terms
    are rounded at 9 dp into a DECIMAL(38,9) fold. The five
    category probabilities are literals (they sum to 1 exactly in
    decimal). Plan: one scan, one 5-group rollup, one fold — no
    joins past the scalar broadcasts, no windows."""
    o = t(spark, sf_dir, "orders")
    g = o.select(
        ((dec("o_totalprice", 18, 2) * 100).cast("bigint") % 10000).alias(
            "g"
        )
    )
    digs = g.select(
        (F.col("g") / 1000).cast("bigint").alias("d1"),
        ((F.col("g") / 100).cast("bigint") % 10).alias("d2"),
        ((F.col("g") / 10).cast("bigint") % 10).alias("d3"),
        (F.col("g") % 10).alias("d4"),
    )
    eq = (
        F.when(F.col("d1") == F.col("d2"), 1).otherwise(0)
        + F.when(F.col("d1") == F.col("d3"), 1).otherwise(0)
        + F.when(F.col("d1") == F.col("d4"), 1).otherwise(0)
        + F.when(F.col("d2") == F.col("d3"), 1).otherwise(0)
        + F.when(F.col("d2") == F.col("d4"), 1).otherwise(0)
        + F.when(F.col("d3") == F.col("d4"), 1).otherwise(0)
    )
    cat = digs.select(
        F.when(eq == 0, "all_different")
        .when(eq == 1, "one_pair")
        .when(eq == 2, "two_pairs")
        .when(eq == 3, "three_of_a_kind")
        .otherwise("four_of_a_kind")
        .alias("pattern"),
        F.when(eq == 0, 0.504)
        .when(eq == 1, 0.432)
        .when(eq == 2, 0.027)
        .when(eq == 3, 0.036)
        .otherwise(0.001)
        .alias("p"),
    )
    g2 = cat.groupBy("pattern", "p").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    n_ = g2.agg(F.sum("o").cast("bigint").alias("n"))
    chi = (
        g2.crossJoin(F.broadcast(n_))
        .agg(
            F.sum(
                F.round(
                    (F.col("o") - F.col("n") * F.col("p"))
                    * (F.col("o") - F.col("n") * F.col("p"))
                    / (F.col("n") * F.col("p")),
                    9,
                ).cast("decimal(38,9)")
            )
            .cast("double")
            .alias("chi2")
        )
    )
    return (
        g2.crossJoin(F.broadcast(n_))
        .crossJoin(F.broadcast(chi))
        .select(
            "pattern",
            F.col("o").alias("observed"),
            (F.round(F.col("n") * F.col("p"), 4) + 0.0).alias(
                "expected"
            ),
            (F.round("chi2", 6) + 0.0).alias("chi2_total"),
            F.lit(4).cast("bigint").alias("dof"),
        )
        .orderBy("pattern")
    )


# --------------------------------------------------------------------------
# TOST equivalence test: weekend vs weekday purchase share
# --------------------------------------------------------------------------
@register(
    "tost_equivalence_proportions",
    oracle="""
    WITH lab AS (
        SELECT CASE WHEN CAST(epoch_us(ts) // 86400000000 + 4 AS
                          BIGINT) % 7 >= 5
                    THEN 1 ELSE 0 END AS wkend,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS hit
        FROM events
    ),
    g AS (
        SELECT wkend, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(hit) AS BIGINT) AS k
        FROM lab GROUP BY wkend
    ),
    wide AS (
        SELECT
            MAX(CASE WHEN wkend = 1 THEN n END) AS n1,
            MAX(CASE WHEN wkend = 1 THEN k END) AS k1,
            MAX(CASE WHEN wkend = 0 THEN n END) AS n2,
            MAX(CASE WHEN wkend = 0 THEN k END) AS k2
        FROM g
    ),
    st AS (
        SELECT n1, n2,
               round(k1 * 1.0 / n1, 10) AS p1,
               round(k2 * 1.0 / n2, 10) AS p2,
               sqrt(round(k1 * 1.0 / n1, 10)
                    * (1.0 - round(k1 * 1.0 / n1, 10)) / n1
                    + round(k2 * 1.0 / n2, 10)
                      * (1.0 - round(k2 * 1.0 / n2, 10)) / n2) AS se
        FROM wide
    ),
    zz AS (
        SELECT n1, n2, p1, p2, se,
               (p1 - p2 + 0.02) / se AS zlo,
               (p1 - p2 - 0.02) / se AS zhi
        FROM st
    ),
    pp AS (
        SELECT n1, n2, p1, p2, zlo, zhi,
               CASE WHEN zlo > 0
                 THEN (((((1.061405429 * (1.0 / (1.0 + 0.3275911
                     * (abs(zlo) / 1.4142135623730951)))
                     - 1.453152027) * (1.0 / (1.0 + 0.3275911
                     * (abs(zlo) / 1.4142135623730951))) + 1.421413741)
                     * (1.0 / (1.0 + 0.3275911
                     * (abs(zlo) / 1.4142135623730951))) - 0.284496736)
                     * (1.0 / (1.0 + 0.3275911
                     * (abs(zlo) / 1.4142135623730951))) + 0.254829592)
                     * (1.0 / (1.0 + 0.3275911
                     * (abs(zlo) / 1.4142135623730951))))
                     * exp(-(abs(zlo) / 1.4142135623730951)
                           * (abs(zlo) / 1.4142135623730951)) / 2.0
                 ELSE 1.0 - (((((1.061405429 * (1.0 / (1.0 + 0.3275911
                     * (abs(zlo) / 1.4142135623730951)))
                     - 1.453152027) * (1.0 / (1.0 + 0.3275911
                     * (abs(zlo) / 1.4142135623730951))) + 1.421413741)
                     * (1.0 / (1.0 + 0.3275911
                     * (abs(zlo) / 1.4142135623730951))) - 0.284496736)
                     * (1.0 / (1.0 + 0.3275911
                     * (abs(zlo) / 1.4142135623730951))) + 0.254829592)
                     * (1.0 / (1.0 + 0.3275911
                     * (abs(zlo) / 1.4142135623730951))))
                     * exp(-(abs(zlo) / 1.4142135623730951)
                           * (abs(zlo) / 1.4142135623730951)) / 2.0
                 END AS p_lower,
               CASE WHEN zhi < 0
                 THEN (((((1.061405429 * (1.0 / (1.0 + 0.3275911
                     * (abs(zhi) / 1.4142135623730951)))
                     - 1.453152027) * (1.0 / (1.0 + 0.3275911
                     * (abs(zhi) / 1.4142135623730951))) + 1.421413741)
                     * (1.0 / (1.0 + 0.3275911
                     * (abs(zhi) / 1.4142135623730951))) - 0.284496736)
                     * (1.0 / (1.0 + 0.3275911
                     * (abs(zhi) / 1.4142135623730951))) + 0.254829592)
                     * (1.0 / (1.0 + 0.3275911
                     * (abs(zhi) / 1.4142135623730951))))
                     * exp(-(abs(zhi) / 1.4142135623730951)
                           * (abs(zhi) / 1.4142135623730951)) / 2.0
                 ELSE 1.0 - (((((1.061405429 * (1.0 / (1.0 + 0.3275911
                     * (abs(zhi) / 1.4142135623730951)))
                     - 1.453152027) * (1.0 / (1.0 + 0.3275911
                     * (abs(zhi) / 1.4142135623730951))) + 1.421413741)
                     * (1.0 / (1.0 + 0.3275911
                     * (abs(zhi) / 1.4142135623730951))) - 0.284496736)
                     * (1.0 / (1.0 + 0.3275911
                     * (abs(zhi) / 1.4142135623730951))) + 0.254829592)
                     * (1.0 / (1.0 + 0.3275911
                     * (abs(zhi) / 1.4142135623730951))))
                     * exp(-(abs(zhi) / 1.4142135623730951)
                           * (abs(zhi) / 1.4142135623730951)) / 2.0
                 END AS p_upper
        FROM zz
    )
    SELECT n1 AS n_weekend, n2 AS n_weekday,
           round(p1, 8) + 0.0 AS p_weekend,
           round(p2, 8) + 0.0 AS p_weekday,
           round(p1 - p2, 8) + 0.0 AS diff,
           round(zlo, 6) + 0.0 AS z_lower,
           round(zhi, 6) + 0.0 AS z_upper,
           round(CASE WHEN p_lower > p_upper THEN p_lower
                      ELSE p_upper END, 8) + 0.0 AS p_tost,
           CAST(CASE WHEN p_lower < 0.05 AND p_upper < 0.05
                     THEN 1 ELSE 0 END AS INT) AS equivalent_05
    FROM pp
    """,
)
def tost_equivalence_proportions(spark, sf_dir):
    """TOST (two one-sided tests) EQUIVALENCE test of the weekend vs
    weekday purchase share with margin delta = 0.02: z_lower tests
    diff > -delta, z_upper tests diff < +delta, and equivalence is
    declared iff BOTH one-sided p's clear 0.05 (p_tost = the max) —
    the inferential inverse of every difference test in the
    registry: absence of evidence of a difference (`two_proportion
    z`) is not evidence of absence; TOST is. The Schuirmann
    procedure behind bioequivalence and A/A-test certification.

    Exactness: event/purchase counts are exact BIGINTs; the two
    proportions are rounded at 10 dp BEFORE the pooled-unpooled
    Wald se so both engines divide identical doubles; the one-sided
    p's split the shared Abramowitz-Stegun erfc tree by the sign of
    z (identical CASE trees). Plan: one scan, one 2-group fold —
    no joins, no windows."""
    e = t(spark, sf_dir, "events")
    lab = e.select(
        F.when(
            (F.floor(F.unix_micros("ts") / 86_400_000_000) + 4).cast(
                "bigint"
            )
            % 7
            >= 5,
            1,
        )
        .otherwise(0)
        .alias("wkend"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("hit"),
    )
    g = lab.groupBy("wkend").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("hit").cast("bigint").alias("k"),
    )
    wide = g.agg(
        F.max(F.when(F.col("wkend") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("wkend") == 1, F.col("k"))).alias("k1"),
        F.max(F.when(F.col("wkend") == 0, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("wkend") == 0, F.col("k"))).alias("k2"),
    )
    p1 = F.round(F.col("k1") * 1.0 / F.col("n1"), 10)
    p2 = F.round(F.col("k2") * 1.0 / F.col("n2"), 10)
    se = F.sqrt(
        p1 * (1.0 - p1) / F.col("n1") + p2 * (1.0 - p2) / F.col("n2")
    )
    st = wide.select(
        "n1",
        "n2",
        p1.alias("p1"),
        p2.alias("p2"),
        ((p1 - p2 + 0.02) / se).alias("zlo"),
        ((p1 - p2 - 0.02) / se).alias("zhi"),
    )
    zlo, zhi = F.col("zlo"), F.col("zhi")
    p_lower = F.when(zlo > 0, _p_two_sided_col(zlo) / 2.0).otherwise(
        1.0 - _p_two_sided_col(zlo) / 2.0
    )
    p_upper = F.when(zhi < 0, _p_two_sided_col(zhi) / 2.0).otherwise(
        1.0 - _p_two_sided_col(zhi) / 2.0
    )
    pp = st.select(
        "n1", "n2", "p1", "p2", "zlo", "zhi",
        p_lower.alias("p_lower"), p_upper.alias("p_upper"),
    )
    return pp.select(
        F.col("n1").alias("n_weekend"),
        F.col("n2").alias("n_weekday"),
        (F.round("p1", 8) + 0.0).alias("p_weekend"),
        (F.round("p2", 8) + 0.0).alias("p_weekday"),
        (F.round(F.col("p1") - F.col("p2"), 8) + 0.0).alias("diff"),
        (F.round("zlo", 6) + 0.0).alias("z_lower"),
        (F.round("zhi", 6) + 0.0).alias("z_upper"),
        (
            F.round(
                F.when(
                    F.col("p_lower") > F.col("p_upper"), F.col("p_lower")
                ).otherwise(F.col("p_upper")),
                8,
            )
            + 0.0
        ).alias("p_tost"),
        F.when((F.col("p_lower") < 0.05) & (F.col("p_upper") < 0.05), 1)
        .otherwise(0)
        .cast("int")
        .alias("equivalent_05"),
    )


# --------------------------------------------------------------------------
# Theil forecast-error decomposition of the seasonal-naive forecast
# --------------------------------------------------------------------------
@register(
    "theil_forecast_decomposition",
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
    grid AS (
        SELECT CAST(u.g AS BIGINT) AS d
        FROM span, LATERAL UNNEST(range(span.d0, span.d1 + 1)) AS u(g)
    ),
    filled AS (
        SELECT g.d, COALESCE(days.y, 0) AS y
        FROM grid g LEFT JOIN days ON g.d = days.d
    ),
    pairs AS (
        SELECT a.y AS y, b.y AS f
        FROM filled a JOIN filled b ON a.d = b.d + 7
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(f) AS BIGINT) AS sf,
               CAST(SUM(CAST(y AS DECIMAL(19,0)) * y)
                    AS DECIMAL(38,0)) AS syy,
               CAST(SUM(CAST(f AS DECIMAL(19,0)) * f)
                    AS DECIMAL(38,0)) AS sff,
               CAST(SUM(CAST(y AS DECIMAL(19,0)) * f)
                    AS DECIMAL(38,0)) AS syf
        FROM pairs
    ),
    st AS (
        SELECT n,
               (CAST(syy AS DOUBLE) - 2.0 * CAST(syf AS DOUBLE)
                + CAST(sff AS DOUBLE)) / n / 10000000000.0 AS mse,
               (CAST(sy AS DOUBLE) / n - CAST(sf AS DOUBLE) / n)
                   / 100000.0 AS mdiff,
               sqrt((CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * sy / n) / n)
                   / 100000.0 AS sdy,
               sqrt((CAST(sff AS DOUBLE)
                     - CAST(sf AS DOUBLE) * sf / n) / n)
                   / 100000.0 AS sdf,
               (CAST(syf AS DOUBLE) - CAST(sy AS DOUBLE) * sf / n)
               / sqrt((CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * sy / n)
                      * (CAST(sff AS DOUBLE)
                         - CAST(sf AS DOUBLE) * sf / n)) AS r
        FROM mom
    )
    SELECT n AS n_pairs,
           round(mse, 6) + 0.0 AS mse_kusd2,
           round(mdiff * mdiff / mse, 8) + 0.0 AS um_bias,
           round((sdy - sdf) * (sdy - sdf) / mse, 8) + 0.0
               AS us_variance,
           round(2.0 * (1.0 - r) * sdy * sdf / mse, 8) + 0.0
               AS uc_covariance,
           round(mdiff * mdiff / mse
                 + (sdy - sdf) * (sdy - sdf) / mse
                 + 2.0 * (1.0 - r) * sdy * sdf / mse, 8) + 0.0
               AS sum_check
    FROM st
    """,
)
def theil_forecast_decomposition(spark, sf_dir):
    """Theil's U decomposition of the SEASONAL-NAIVE (lag-7) daily-
    revenue forecast error: MSE splits exactly into the BIAS share
    UM = (ybar - fbar)^2/MSE, the VARIANCE share US = (s_y -
    s_f)^2/MSE, and the COVARIANCE share UC = 2(1-r)s_y s_f/MSE —
    UM+US+UC = 1 is an algebraic identity (emitted as `sum_check`,
    the built-in self-verification), and the split DIAGNOSES the
    `seasonal_naive_mase` error the registry already sizes: bias
    reads as level drift, variance as amplitude mismatch,
    covariance as irreducible phase noise. Population (1/n) moments
    throughout, the convention under which the identity is exact.

    Exactness: the day grid is zero-filled (an absent day is a real
    zero-revenue observation); all five cross-moments fold exact
    cents through DECIMAL(19,0) widens; every output is a terminal
    double tree of exact integers — sum_check certifies the trees.
    Plan: one day rollup, bounded grid fill, one lag-7 equi-join on
    the grid, one fold — no windows."""
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
    filled = grid.join(days, "d", "left").select(
        "d", F.coalesce("y", F.lit(0)).cast("bigint").alias("y")
    )
    a = filled.select(F.col("d"), F.col("y"))
    b = filled.select(
        (F.col("d") + 7).alias("d"), F.col("y").alias("f")
    )
    pairs = a.join(b, "d")
    mom = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("f").cast("bigint").alias("sf"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("syy"),
        F.sum(F.col("f").cast("decimal(19,0)") * F.col("f"))
        .cast("decimal(38,0)")
        .alias("sff"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("f"))
        .cast("decimal(38,0)")
        .alias("syf"),
    )
    n = F.col("n")
    syy = F.col("syy").cast("double")
    sff = F.col("sff").cast("double")
    syf = F.col("syf").cast("double")
    sy = F.col("sy").cast("double")
    sf_ = F.col("sf").cast("double")
    mse = (syy - 2.0 * syf + sff) / n / 1e10
    mdiff = (sy / n - sf_ / n) / 100000.0
    sdy = F.sqrt((syy - sy * sy / n) / n) / 100000.0
    sdf = F.sqrt((sff - sf_ * sf_ / n) / n) / 100000.0
    r = (syf - sy * sf_ / n) / F.sqrt(
        (syy - sy * sy / n) * (sff - sf_ * sf_ / n)
    )
    st = mom.select(
        n.alias("n"),
        mse.alias("mse"),
        mdiff.alias("mdiff"),
        sdy.alias("sdy"),
        sdf.alias("sdf"),
        r.alias("r"),
    )
    um = F.col("mdiff") * F.col("mdiff") / F.col("mse")
    us = (
        (F.col("sdy") - F.col("sdf"))
        * (F.col("sdy") - F.col("sdf"))
        / F.col("mse")
    )
    uc = (
        2.0
        * (1.0 - F.col("r"))
        * F.col("sdy")
        * F.col("sdf")
        / F.col("mse")
    )
    return st.select(
        F.col("n").alias("n_pairs"),
        (F.round("mse", 6) + 0.0).alias("mse_kusd2"),
        (F.round(um, 8) + 0.0).alias("um_bias"),
        (F.round(us, 8) + 0.0).alias("us_variance"),
        (F.round(uc, 8) + 0.0).alias("uc_covariance"),
        (F.round(um + us + uc, 8) + 0.0).alias("sum_check"),
    )


# --------------------------------------------------------------------------
# Mean cumulative function of recurrent purchases by user age
# --------------------------------------------------------------------------
@register(
    "mean_cumulative_function",
    oracle="""
    WITH uw AS (
        SELECT user_id,
               CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS wk,
               event_type
        FROM events
    ),
    entry AS (
        SELECT user_id, CAST(MIN(wk) AS BIGINT) AS w0
        FROM uw GROUP BY user_id
    ),
    horizon AS (SELECT CAST(MAX(wk) AS BIGINT) AS wmax FROM uw),
    ages AS (
        SELECT CAST(horizon.wmax - entry.w0 AS BIGINT) AS amax
        FROM entry, horizon
    ),
    risk AS (
        SELECT amax, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM ages GROUP BY amax
    ),
    ev AS (
        SELECT CAST(uw.wk - e.w0 AS BIGINT) AS age,
               CAST(COUNT(*) AS BIGINT) AS d
        FROM uw JOIN entry e ON uw.user_id = e.user_id
        WHERE uw.event_type = 'purchase'
        GROUP BY 1
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM entry),
    agegrid AS (
        SELECT CAST(u.g AS BIGINT) AS age
        FROM (SELECT CAST(MAX(amax) AS BIGINT) AS am FROM ages) m,
             LATERAL UNNEST(range(0, m.am + 1)) AS u(g)
    ),
    atrisk AS (
        SELECT g.age,
               CAST(tot.n_users
                    - COALESCE(SUM(r.cnt) OVER (ORDER BY g.age
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS nr
        FROM agegrid g LEFT JOIN risk r ON g.age = r.amax + 1, tot
    ),
    inc AS (
        SELECT a.age, a.nr, COALESCE(ev.d, 0) AS d,
               round(COALESCE(ev.d, 0) * 1.0 / a.nr, 9) AS dm
        FROM atrisk a LEFT JOIN ev ON a.age = ev.age
        WHERE a.nr > 0
    )
    SELECT age AS age_weeks, nr AS n_at_risk, d AS n_events,
           dm + 0.0 AS increment,
           round(CAST(SUM(CAST(dm AS DECIMAL(28,9)))
                      OVER (ORDER BY age
                            ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6)
               + 0.0 AS mcf
    FROM inc ORDER BY age
    """,
)
def mean_cumulative_function(spark, sf_dir):
    """Nelson-Aalen MEAN CUMULATIVE FUNCTION of recurrent purchases
    by user AGE in weeks (entry = the user's first event week;
    everyone is followed to the observation horizon, so the risk
    set at age a is the users whose horizon-age reaches a):
    MCF(a) = sum_{s<=a} d_s / n_risk(s) — the expected cumulative
    purchases per user after a weeks of life, the recurrent-events
    generalization of `kaplan_meier_sessions` (which handles one
    terminal event; purchases RECUR, and naive per-age averages are
    biased by the staggered-entry risk sets this estimator
    corrects). The retention/LTV curve every cohort dashboard
    approximates, done right.

    Exactness: event and risk counts are exact BIGINTs (the risk
    set is total users minus an exclusive prefix of horizon-age
    exits over the bounded age grid); increments are rounded at 9
    dp and the MCF prefix-folds them through DECIMAL(28,9). Plan:
    two user rollups, one bounded age-grid fill, two prefix windows
    on the grid."""
    e = t(spark, sf_dir, "events")
    uw = e.select(
        "user_id",
        F.floor(F.unix_micros("ts") / 604_800_000_000)
        .cast("bigint")
        .alias("wk"),
        "event_type",
    )
    entry = uw.groupBy("user_id").agg(
        F.min("wk").cast("bigint").alias("w0")
    )
    horizon = uw.agg(F.max("wk").cast("bigint").alias("wmax"))
    ages = entry.crossJoin(F.broadcast(horizon)).select(
        (F.col("wmax") - F.col("w0")).cast("bigint").alias("amax")
    )
    risk = ages.groupBy("amax").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    ev = (
        uw.where(F.col("event_type") == "purchase")
        .join(entry, "user_id")
        .groupBy((F.col("wk") - F.col("w0")).cast("bigint").alias("age"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    tot = entry.agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    am = ages.agg(F.max("amax").alias("am"))
    agegrid = am.select(
        F.explode(F.sequence(F.lit(0), F.col("am"))).alias("age")
    )
    atrisk = (
        agegrid.join(
            risk.select((F.col("amax") + 1).alias("age"), "cnt"),
            "age",
            "left",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "age",
            (
                F.col("n_users")
                - F.coalesce(
                    F.sum("cnt").over(
                        Window.orderBy("age").rowsBetween(
                            Window.unboundedPreceding, -1
                        )
                    ),
                    F.lit(0),
                )
            )
            .cast("bigint")
            .alias("nr"),
        )
    )
    inc = (
        atrisk.join(ev, "age", "left")
        .where(F.col("nr") > 0)
        .select(
            "age",
            "nr",
            F.coalesce("d", F.lit(0)).cast("bigint").alias("d"),
            F.round(
                F.coalesce("d", F.lit(0)) * 1.0 / F.col("nr"), 9
            ).alias("dm"),
        )
    )
    return inc.select(
        F.col("age").alias("age_weeks"),
        F.col("nr").alias("n_at_risk"),
        F.col("d").alias("n_events"),
        (F.col("dm") + 0.0).alias("increment"),
        (
            F.round(
                F.sum(F.col("dm").cast("decimal(28,9)"))
                .over(
                    Window.orderBy("age").rowsBetween(
                        Window.unboundedPreceding, Window.currentRow
                    )
                )
                .cast("double"),
                6,
            )
            + 0.0
        ).alias("mcf"),
    ).orderBy("age_weeks")


# --------------------------------------------------------------------------
# Ramsey RESET misspecification test on the daily revenue trend
# --------------------------------------------------------------------------
_TREND_MOM_SQL = """
    days AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    span AS (SELECT CAST(min(d) AS BIGINT) AS d0,
                    CAST(max(d) AS BIGINT) AS d1 FROM days),
    grid AS (
        SELECT CAST(u.g - span.d0 AS BIGINT) AS i
        FROM span, LATERAL UNNEST(range(span.d0, span.d1 + 1)) AS u(g)
    ),
    filled AS (
        SELECT g.i, COALESCE(days.y, 0) AS y
        FROM grid g LEFT JOIN days
          ON g.i = days.d - (SELECT d0 FROM span)
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(i) AS BIGINT) AS s1,
               CAST(SUM(i * i) AS BIGINT) AS s2,
               CAST(SUM(i * i * i) AS BIGINT) AS s3,
               CAST(SUM(i * i * i * i) AS BIGINT) AS s4,
               CAST(SUM(y) AS BIGINT) AS t0,
               CAST(SUM(CAST(i AS DECIMAL(19,0)) * y)
                    AS DECIMAL(38,0)) AS t1,
               CAST(SUM(CAST(i * i AS DECIMAL(19,0)) * y)
                    AS DECIMAL(38,0)) AS t2,
               CAST(SUM(CAST(y AS DECIMAL(19,0)) * y)
                    AS DECIMAL(38,0)) AS q
        FROM filled
    ),
    ols AS (
        SELECT n, s1, s2, s3, s4, t0, t1, t2, q,
               round((n * CAST(t1 AS DOUBLE)
                      - CAST(s1 AS DOUBLE) * t0)
                     / (n * CAST(s2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * s1), 10) AS b1
        FROM mom
    ),
    ols2 AS (
        SELECT *,
               round((t0 - b1 * s1) / n, 10) AS b0
        FROM ols
    )
"""


@register(
    "ramsey_reset_test",
    oracle=f"""
    WITH {_TREND_MOM_SQL},
    aug AS (
        SELECT n, t0, t1, q, b0, b1,
               CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
               CAST(s3 AS DOUBLE) AS s3, CAST(s4 AS DOUBLE) AS s4,
               n * b0 * b0 + 2.0 * b0 * b1 * s1 + b1 * b1 * s2 AS sw,
               b0 * b0 * s1 + 2.0 * b0 * b1 * s2 + b1 * b1 * s3
                   AS siw,
               b0 * b0 * b0 * b0 * n
                 + 4.0 * b0 * b0 * b0 * b1 * s1
                 + 6.0 * b0 * b0 * b1 * b1 * s2
                 + 4.0 * b0 * b1 * b1 * b1 * s3
                 + b1 * b1 * b1 * b1 * s4 AS sww,
               b0 * b0 * CAST(t0 AS DOUBLE)
                 + 2.0 * b0 * b1 * CAST(t1 AS DOUBLE)
                 + b1 * b1 * CAST(t2 AS DOUBLE) AS swy
        FROM ols2
    ),
    cr AS (
        SELECT n, t0, t1, q, b0, b1, sw, siw, sww, swy,
               n * (s2 * sww - siw * siw)
                 - s1 * (s1 * sww - siw * sw)
                 + sw * (s1 * siw - s2 * sw) AS det,
               CAST(t0 AS DOUBLE) * (s2 * sww - siw * siw)
                 - s1 * (CAST(t1 AS DOUBLE) * sww - swy * siw)
                 + sw * (CAST(t1 AS DOUBLE) * siw - swy * s2) AS det0,
               n * (CAST(t1 AS DOUBLE) * sww - swy * siw)
                 - CAST(t0 AS DOUBLE) * (s1 * sww - siw * sw)
                 + sw * (s1 * swy - CAST(t1 AS DOUBLE) * sw) AS det1,
               n * (s2 * swy - siw * CAST(t1 AS DOUBLE))
                 - s1 * (s1 * swy - sw * CAST(t1 AS DOUBLE))
                 + CAST(t0 AS DOUBLE) * (s1 * siw - s2 * sw) AS det2
        FROM aug
    ),
    ssr AS (
        SELECT n, b1,
               CAST(q AS DOUBLE)
                 - (det0 / det) * t0
                 - (det1 / det) * CAST(t1 AS DOUBLE)
                 - (det2 / det) * swy AS ssr_u,
               CAST(q AS DOUBLE) - b0 * t0
                 - b1 * CAST(t1 AS DOUBLE) AS ssr_r
        FROM cr
    )
    SELECT n AS n_days,
           round(b1 / 100000.0, 8) + 0.0 AS slope_kusd_per_day,
           round((ssr_r - ssr_u) / (ssr_u / (n - 3.0)), 6) + 0.0
               AS reset_f,
           CAST(1 AS BIGINT) AS dof1,
           CAST(n - 3 AS BIGINT) AS dof2
    FROM ssr
    """,
)
def ramsey_reset_test(spark, sf_dir):
    """Ramsey RESET misspecification test of the linear daily-revenue
    trend: augment y = a + b i with the squared FITTED value
    yhat^2 and F-test its contribution — the omnibus "is a line
    even the right shape" check that complements
    `rainbow_linearity_test` (subsample route) and the residual
    batteries. The augmented regressor is yhat^2 = (b0+b1 i)^2, a
    POLYNOMIAL in i, so the entire 3-regressor normal-equations
    system reduces ANALYTICALLY to the exact power sums S1..S4 /
    T0..T2 — no second data pass, no fitted-value column: Cramer's
    rule on moments (the bass_diffusion 3x3 idiom), with stage-1
    (b0, b1) rounded at 10 dp so both engines build identical
    augmented moments.

    Exactness: all nine moments fold exactly (BIGINT grid powers on
    the calendar-bounded day index, DECIMAL(19,0)-widened y
    products); every downstream quantity is one terminal double
    tree. Plan: one day rollup, bounded grid fill, ONE fold —
    no windows, no self-joins."""
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
    filled = grid.join(dd, "i", "left").select(
        "i", F.coalesce("y", F.lit(0)).cast("bigint").alias("y")
    )
    i, y = F.col("i"), F.col("y")
    mom = filled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(i).cast("bigint").alias("s1"),
        F.sum(i * i).cast("bigint").alias("s2"),
        F.sum(i * i * i).cast("bigint").alias("s3"),
        F.sum(i * i * i * i).cast("bigint").alias("s4"),
        F.sum(y).cast("bigint").alias("t0"),
        F.sum(i.cast("decimal(19,0)") * y)
        .cast("decimal(38,0)")
        .alias("t1"),
        F.sum((i * i).cast("decimal(19,0)") * y)
        .cast("decimal(38,0)")
        .alias("t2"),
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
    b0 = F.round((F.col("t0") - F.col("b1") * F.col("s1")) / n, 10)
    ols2 = ols.select("*", b0.alias("b0"))
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    s3d, s4d = F.col("s3").cast("double"), F.col("s4").cast("double")
    b0c, b1c = F.col("b0"), F.col("b1")
    t0d = F.col("t0").cast("double")
    t1d = F.col("t1").cast("double")
    t2d = F.col("t2").cast("double")
    aug = ols2.select(
        "n",
        "t0",
        "t1",
        "q",
        "b0",
        "b1",
        s1d.alias("s1"),
        s2d.alias("s2"),
        s3d.alias("s3"),
        s4d.alias("s4"),
        (n * b0c * b0c + 2.0 * b0c * b1c * s1d + b1c * b1c * s2d).alias(
            "sw"
        ),
        (
            b0c * b0c * s1d + 2.0 * b0c * b1c * s2d + b1c * b1c * s3d
        ).alias("siw"),
        (
            b0c * b0c * b0c * b0c * n
            + 4.0 * b0c * b0c * b0c * b1c * s1d
            + 6.0 * b0c * b0c * b1c * b1c * s2d
            + 4.0 * b0c * b1c * b1c * b1c * s3d
            + b1c * b1c * b1c * b1c * s4d
        ).alias("sww"),
        (b0c * b0c * t0d + 2.0 * b0c * b1c * t1d + b1c * b1c * t2d).alias(
            "swy"
        ),
    )
    s1c, s2c = F.col("s1"), F.col("s2")
    sw, siw, sww, swy = (
        F.col("sw"),
        F.col("siw"),
        F.col("sww"),
        F.col("swy"),
    )
    t0c = F.col("t0").cast("double")
    t1c = F.col("t1").cast("double")
    det = (
        n * (s2c * sww - siw * siw)
        - s1c * (s1c * sww - siw * sw)
        + sw * (s1c * siw - s2c * sw)
    )
    det0 = (
        t0c * (s2c * sww - siw * siw)
        - s1c * (t1c * sww - swy * siw)
        + sw * (t1c * siw - swy * s2c)
    )
    det1 = (
        n * (t1c * sww - swy * siw)
        - t0c * (s1c * sww - siw * sw)
        + sw * (s1c * swy - t1c * sw)
    )
    det2 = (
        n * (s2c * swy - siw * t1c)
        - s1c * (s1c * swy - sw * t1c)
        + t0c * (s1c * siw - s2c * sw)
    )
    cr = aug.select(
        "n",
        "b0",
        "b1",
        "q",
        "t0",
        "t1",
        "swy",
        det.alias("det"),
        det0.alias("det0"),
        det1.alias("det1"),
        det2.alias("det2"),
    )
    ssr_u = (
        F.col("q").cast("double")
        - (F.col("det0") / F.col("det")) * F.col("t0")
        - (F.col("det1") / F.col("det")) * F.col("t1").cast("double")
        - (F.col("det2") / F.col("det")) * F.col("swy")
    )
    ssr_r = (
        F.col("q").cast("double")
        - F.col("b0") * F.col("t0")
        - F.col("b1") * F.col("t1").cast("double")
    )
    ssr = cr.select(
        "n",
        "b1",
        ssr_u.alias("ssr_u"),
        ssr_r.alias("ssr_r"),
    )
    return ssr.select(
        F.col("n").alias("n_days"),
        (F.round(F.col("b1") / 100000.0, 8) + 0.0).alias(
            "slope_kusd_per_day"
        ),
        (
            F.round(
                (F.col("ssr_r") - F.col("ssr_u"))
                / (F.col("ssr_u") / (F.col("n") - 3.0)),
                6,
            )
            + 0.0
        ).alias("reset_f"),
        F.lit(1).cast("bigint").alias("dof1"),
        (F.col("n") - 3).cast("bigint").alias("dof2"),
    )


# --------------------------------------------------------------------------
# Breusch-Godfrey LM test for AR(1) serial correlation in trend errors
# --------------------------------------------------------------------------
@register(
    "breusch_godfrey_lm",
    oracle=f"""
    WITH {_TREND_MOM_SQL},
    resid AS (
        SELECT f.i,
               round(f.y - o.b0 - o.b1 * f.i, 4) AS e
        FROM filled f, ols2 o
    ),
    lagged AS (
        SELECT i, e,
               COALESCE(LAG(e) OVER (ORDER BY i), 0.0) AS l
        FROM resid
    ),
    am AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(i) AS BIGINT) AS s1,
               CAST(SUM(i * i) AS BIGINT) AS s2,
               CAST(SUM(CAST(round(l, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS sl,
               CAST(SUM(CAST(round(l * l, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS sll,
               CAST(SUM(CAST(round(i * l, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS sil,
               CAST(SUM(CAST(round(e, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS se,
               CAST(SUM(CAST(round(i * e, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS sie,
               CAST(SUM(CAST(round(l * e, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS sle,
               CAST(SUM(CAST(round(e * e, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS see
        FROM lagged
    ),
    cr AS (
        SELECT n, sl, sll, sil, se, sie, sle, see,
               CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
               n * (CAST(s2 AS DOUBLE) * sll - sil * sil)
                 - CAST(s1 AS DOUBLE)
                   * (CAST(s1 AS DOUBLE) * sll - sil * sl)
                 + sl * (CAST(s1 AS DOUBLE) * sil
                         - CAST(s2 AS DOUBLE) * sl) AS det
        FROM am
    ),
    gg AS (
        SELECT n, se, sie, sle, see,
               (se * (s2 * sll - sil * sil)
                - s1 * (sie * sll - sle * sil)
                + sl * (sie * sil - sle * s2)) / det AS g0,
               (n * (sie * sll - sle * sil)
                - se * (s1 * sll - sil * sl)
                + sl * (s1 * sle - sie * sl)) / det AS g1,
               (n * (s2 * sle - sil * sie)
                - s1 * (s1 * sle - sl * sie)
                + se * (s1 * sil - s2 * sl)) / det AS g2
        FROM cr
    ),
    lm AS (
        SELECT n, g2,
               n * (1.0 - (see - g0 * se - g1 * sie - g2 * sle)
                          / (see - se * se / n)) AS stat
        FROM gg
    )
    SELECT n AS n_days,
           round(g2, 6) + 0.0 AS rho1_hat,
           round(stat, 6) + 0.0 AS lm_stat,
           round((((((1.061405429 * (1.0 / (1.0 + 0.3275911
                 * (abs(sqrt(stat)) / 1.4142135623730951)))
                 - 1.453152027) * (1.0 / (1.0 + 0.3275911
                 * (abs(sqrt(stat)) / 1.4142135623730951)))
                 + 1.421413741)
                 * (1.0 / (1.0 + 0.3275911
                 * (abs(sqrt(stat)) / 1.4142135623730951)))
                 - 0.284496736)
                 * (1.0 / (1.0 + 0.3275911
                 * (abs(sqrt(stat)) / 1.4142135623730951)))
                 + 0.254829592)
                 * (1.0 / (1.0 + 0.3275911
                 * (abs(sqrt(stat)) / 1.4142135623730951))))
                 * exp(-(abs(sqrt(stat)) / 1.4142135623730951)
                       * (abs(sqrt(stat)) / 1.4142135623730951)), 8)
               + 0.0 AS p_value
    FROM lm
    """,
)
def breusch_godfrey_lm(spark, sf_dir):
    """Breusch-Godfrey LM test for AR(1) serial correlation in the
    daily-revenue trend residuals: the auxiliary regression of e_t
    on (1, t, e_(t-1)) with the PRE-SAMPLE ZERO convention
    (statsmodels' default), LM = n R^2 ~ chi2(1) — the
    regression-based generalization of `durbin_watson_trend_
    residuals` that stays valid with lagged regressors and
    arbitrary lag order, closing the serial-correlation battery
    beside `cochrane_orcutt_ar1` (which REPAIRS what BG detects).
    chi2(1) tail = two-sided normal tail of sqrt(LM), so the
    p-value reuses the shared erfc tree.

    Exactness: residuals are rounded at 4 dp from the 10-dp-rounded
    stage-1 fit (identical doubles both engines); all nine
    auxiliary moments fold 4-dp rounded terms through DECIMAL(38,4)
    (order-free); the 3x3 solve is the bass_diffusion Cramer idiom
    on those folds. Plan: one day rollup, bounded grid fill, one
    lag window on the bounded grid, one fold."""
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
    filled = grid.join(dd, "i", "left").select(
        "i", F.coalesce("y", F.lit(0)).cast("bigint").alias("y")
    )
    i, y = F.col("i"), F.col("y")
    mom = filled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(i).cast("bigint").alias("s1"),
        F.sum(i * i).cast("bigint").alias("s2"),
        F.sum(y).cast("bigint").alias("t0"),
        F.sum(i.cast("decimal(19,0)") * y)
        .cast("decimal(38,0)")
        .alias("t1"),
    )
    n = F.col("n")
    b1 = F.round(
        (n * F.col("t1").cast("double") - F.col("s1").cast("double") * F.col("t0"))
        / (n * F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1")),
        10,
    )
    ols = mom.select("n", "s1", "s2", "t0", "t1", b1.alias("b1"))
    b0 = F.round((F.col("t0") - F.col("b1") * F.col("s1")) / n, 10)
    ols2 = ols.select("*", b0.alias("b0"))
    resid = filled.crossJoin(F.broadcast(ols2.select("b0", "b1"))).select(
        "i",
        F.round(
            F.col("y") - F.col("b0") - F.col("b1") * F.col("i"), 4
        ).alias("e"),
    )
    lagged = resid.select(
        "i",
        "e",
        F.coalesce(
            F.lag("e").over(Window.orderBy("i")), F.lit(0.0)
        ).alias("l"),
    )

    def dfold(expr, name):
        return (
            F.sum(F.round(expr, 4).cast("decimal(38,4)"))
            .cast("double")
            .alias(name)
        )

    ic, ec, lc = F.col("i"), F.col("e"), F.col("l")
    am = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(ic).cast("bigint").alias("s1"),
        F.sum(ic * ic).cast("bigint").alias("s2"),
        dfold(lc, "sl"),
        dfold(lc * lc, "sll"),
        dfold(ic * lc, "sil"),
        dfold(ec, "se"),
        dfold(ic * ec, "sie"),
        dfold(lc * ec, "sle"),
        dfold(ec * ec, "see"),
    )
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    sl, sll, sil = F.col("sl"), F.col("sll"), F.col("sil")
    se, sie, sle, see = (
        F.col("se"),
        F.col("sie"),
        F.col("sle"),
        F.col("see"),
    )
    det = (
        n * (s2d * sll - sil * sil)
        - s1d * (s1d * sll - sil * sl)
        + sl * (s1d * sil - s2d * sl)
    )
    g0 = (
        se * (s2d * sll - sil * sil)
        - s1d * (sie * sll - sle * sil)
        + sl * (sie * sil - sle * s2d)
    ) / det
    g1 = (
        n * (sie * sll - sle * sil)
        - se * (s1d * sll - sil * sl)
        + sl * (s1d * sle - sie * sl)
    ) / det
    g2 = (
        n * (s2d * sle - sil * sie)
        - s1d * (s1d * sle - sl * sie)
        + se * (s1d * sil - s2d * sl)
    ) / det
    gg = am.select(
        "n",
        "se",
        "sie",
        "sle",
        "see",
        g0.alias("g0"),
        g1.alias("g1"),
        g2.alias("g2"),
    )
    stat = F.col("n") * (
        1.0
        - (
            F.col("see")
            - F.col("g0") * F.col("se")
            - F.col("g1") * F.col("sie")
            - F.col("g2") * F.col("sle")
        )
        / (F.col("see") - F.col("se") * F.col("se") / F.col("n"))
    )
    lm = gg.select("n", "g2", stat.alias("stat"))
    return lm.select(
        F.col("n").alias("n_days"),
        (F.round("g2", 6) + 0.0).alias("rho1_hat"),
        (F.round("stat", 6) + 0.0).alias("lm_stat"),
        (
            F.round(_p_two_sided_col(F.sqrt(F.col("stat"))), 8) + 0.0
        ).alias("p_value"),
    )


# --------------------------------------------------------------------------
# Lo's modified rescaled-range statistic for long-range dependence
# --------------------------------------------------------------------------
@register(
    "lo_modified_rs",
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
    grid AS (
        SELECT CAST(u.g - span.d0 AS BIGINT) AS i
        FROM span, LATERAL UNNEST(range(span.d0, span.d1 + 1)) AS u(g)
    ),
    filled AS (
        SELECT g.i, COALESCE(days.y, 0) AS y
        FROM grid g LEFT JOIN days
          ON g.i = days.d - (SELECT d0 FROM span)
    ),
    mu AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(y) AS BIGINT) AS t0 FROM filled),
    dev AS (
        SELECT i,
               round(y - CAST(mu.t0 AS DOUBLE) / mu.n, 4) AS e
        FROM filled, mu
    ),
    lagd AS (
        SELECT i, e,
               LAG(e, 1) OVER (ORDER BY i) AS e1,
               LAG(e, 2) OVER (ORDER BY i) AS e2,
               LAG(e, 3) OVER (ORDER BY i) AS e3,
               LAG(e, 4) OVER (ORDER BY i) AS e4,
               LAG(e, 5) OVER (ORDER BY i) AS e5,
               SUM(CAST(round(e, 4) AS DECIMAL(38,4)))
                   OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS z
        FROM dev
    ),
    fold AS (
        SELECT CAST(MAX(z) AS DOUBLE) - CAST(MIN(z) AS DOUBLE) AS r,
               CAST(SUM(CAST(round(e * e, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS g0,
               CAST(SUM(CAST(round(e * COALESCE(e1, 0.0), 4)
                             AS DECIMAL(38,4))) AS DOUBLE) AS g1,
               CAST(SUM(CAST(round(e * COALESCE(e2, 0.0), 4)
                             AS DECIMAL(38,4))) AS DOUBLE) AS g2,
               CAST(SUM(CAST(round(e * COALESCE(e3, 0.0), 4)
                             AS DECIMAL(38,4))) AS DOUBLE) AS g3,
               CAST(SUM(CAST(round(e * COALESCE(e4, 0.0), 4)
                             AS DECIMAL(38,4))) AS DOUBLE) AS g4,
               CAST(SUM(CAST(round(e * COALESCE(e5, 0.0), 4)
                             AS DECIMAL(38,4))) AS DOUBLE) AS g5
        FROM lagd
    ),
    st AS (
        SELECT mu.n, r,
               g0 / mu.n AS gam0,
               (g0 + 2.0 * ((1.0 - 1.0 / 6.0) * g1
                            + (1.0 - 2.0 / 6.0) * g2
                            + (1.0 - 3.0 / 6.0) * g3
                            + (1.0 - 4.0 / 6.0) * g4
                            + (1.0 - 5.0 / 6.0) * g5)) / mu.n
                   AS sq2
        FROM fold, mu
    )
    SELECT n AS n_days,
           round(r / 100000.0, 4) + 0.0 AS range_kusd,
           round(sqrt(sq2) / 100000.0, 6) + 0.0 AS sigma_q_kusd,
           round(r / sqrt(gam0) / sqrt(n * 1.0), 6) + 0.0
               AS v_classic,
           round(r / sqrt(sq2) / sqrt(n * 1.0), 6) + 0.0 AS v_lo,
           CAST(CASE WHEN r / sqrt(sq2) / sqrt(n * 1.0) > 0.809
                      AND r / sqrt(sq2) / sqrt(n * 1.0) < 1.862
                     THEN 1 ELSE 0 END AS INT) AS inside_95
    FROM st
    """,
)
def lo_modified_rs(spark, sf_dir):
    """Lo's (1991) MODIFIED rescaled-range test for long-range
    dependence in daily revenue: the classic R/S range of cumulative
    deviations, but studentized by the Newey-West long-run variance
    sigma_q^2 = gamma_0 + 2 sum (1-j/(q+1)) gamma_j with q=5 Bartlett
    weights instead of the plain standard deviation — short-memory
    autocorrelation inflates classic R/S (`hurst_rs_exponent`) into
    false long-memory findings; Lo's correction absorbs it, and
    V_lo outside [0.809, 1.862] rejects short-range dependence at
    5%. v_classic ships beside v_lo so the CORRECTION SIZE is the
    readout (the dfa_alpha_longmemory cross-check).

    Exactness: deviations are rounded at 4 dp from the exact cents
    mean; the cumulative Z, gamma_0, and the five lag
    cross-products fold 4-dp rounded terms through DECIMAL(38,4)
    (order-free); R and both V's are terminal trees. Lo's
    1/n (not 1/(n-j)) autocovariance convention throughout. Plan:
    one day rollup, bounded grid fill, one 6-output window pass
    over the bounded grid, one fold."""
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
    filled = grid.join(dd, "i", "left").select(
        "i", F.coalesce("y", F.lit(0)).cast("bigint").alias("y")
    )
    mu = filled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("t0"),
    )
    dev = filled.crossJoin(F.broadcast(mu)).select(
        "i",
        "n",
        F.round(
            F.col("y") - F.col("t0").cast("double") / F.col("n"), 4
        ).alias("e"),
    )
    wo = Window.orderBy("i")
    wcum = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lagd = dev.select(
        "i",
        "n",
        "e",
        F.lag("e", 1).over(wo).alias("e1"),
        F.lag("e", 2).over(wo).alias("e2"),
        F.lag("e", 3).over(wo).alias("e3"),
        F.lag("e", 4).over(wo).alias("e4"),
        F.lag("e", 5).over(wo).alias("e5"),
        F.sum(F.round(F.col("e"), 4).cast("decimal(38,4)"))
        .over(wcum)
        .alias("z"),
    )

    def gfold(k):
        src = F.col("e") * F.coalesce(F.col(f"e{k}"), F.lit(0.0))
        return (
            F.sum(F.round(src, 4).cast("decimal(38,4)"))
            .cast("double")
            .alias(f"g{k}")
        )

    fold = lagd.agg(
        F.max("n").cast("bigint").alias("n"),
        (F.max("z").cast("double") - F.min("z").cast("double")).alias(
            "r"
        ),
        F.sum(
            F.round(F.col("e") * F.col("e"), 4).cast("decimal(38,4)")
        )
        .cast("double")
        .alias("g0"),
        gfold(1),
        gfold(2),
        gfold(3),
        gfold(4),
        gfold(5),
    )
    n = F.col("n")
    gam0 = F.col("g0") / n
    sq2 = (
        F.col("g0")
        + 2.0
        * (
            (1.0 - 1.0 / 6.0) * F.col("g1")
            + (1.0 - 2.0 / 6.0) * F.col("g2")
            + (1.0 - 3.0 / 6.0) * F.col("g3")
            + (1.0 - 4.0 / 6.0) * F.col("g4")
            + (1.0 - 5.0 / 6.0) * F.col("g5")
        )
    ) / n
    st = fold.select(
        n.alias("n"),
        F.col("r"),
        gam0.alias("gam0"),
        sq2.alias("sq2"),
    )
    vlo = F.col("r") / F.sqrt(F.col("sq2")) / F.sqrt(F.col("n") * 1.0)
    return st.select(
        F.col("n").alias("n_days"),
        (F.round(F.col("r") / 100000.0, 4) + 0.0).alias("range_kusd"),
        (F.round(F.sqrt(F.col("sq2")) / 100000.0, 6) + 0.0).alias(
            "sigma_q_kusd"
        ),
        (
            F.round(
                F.col("r")
                / F.sqrt(F.col("gam0"))
                / F.sqrt(F.col("n") * 1.0),
                6,
            )
            + 0.0
        ).alias("v_classic"),
        (F.round(vlo, 6) + 0.0).alias("v_lo"),
        F.when((vlo > 0.809) & (vlo < 1.862), 1)
        .otherwise(0)
        .cast("int")
        .alias("inside_95"),
    )


# --------------------------------------------------------------------------
# Passing-Bablok method-comparison regression: clicks vs views per day
# --------------------------------------------------------------------------
@register(
    "passing_bablok_regression",
    oracle="""
    WITH ev AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CASE WHEN event_type = 'click'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'view'
                             THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM ev),
    slopes AS (
        SELECT (b.y - a.y) * 1.0 / (b.x - a.x) AS s,
               a.d AS di, b.d AS dj
        FROM ev a JOIN ev b ON a.d < b.d
        WHERE b.x <> a.x
          AND (b.y - a.y) * 1.0 / (b.x - a.x) <> -1.0
    ),
    ranked AS (
        SELECT s,
               CAST(ROW_NUMBER() OVER (ORDER BY s, di, dj) AS BIGINT)
                   AS r,
               CAST(COUNT(*) OVER () AS BIGINT) AS nn,
               CAST(SUM(CASE WHEN s < -1.0 THEN 1 ELSE 0 END)
                    OVER () AS BIGINT) AS k
        FROM slopes
    ),
    bsel AS (
        SELECT nn, k,
               round((MAX(CASE WHEN r = (nn + 1) // 2 + k
                          THEN s END)
                      + MAX(CASE WHEN r = (nn + 2) // 2 + k
                            THEN s END)) / 2.0, 10) AS b
        FROM ranked GROUP BY nn, k
    ),
    ci AS (
        SELECT nn, k, b,
               CAST(GREATEST(1, LEAST(nn,
                   CAST(floor((nn - 1.959963985
                       * sqrt(nd.m * (nd.m - 1.0) * (2.0 * nd.m + 5.0)
                              / 18.0)) / 2.0) AS BIGINT) + k))
                   AS BIGINT) AS rlo,
               CAST(GREATEST(1, LEAST(nn,
                   nn - CAST(floor((nn - 1.959963985
                       * sqrt(nd.m * (nd.m - 1.0) * (2.0 * nd.m + 5.0)
                              / 18.0)) / 2.0) AS BIGINT) + 1 + k))
                   AS BIGINT) AS rhi
        FROM bsel, nd
    ),
    bci AS (
        SELECT ci.nn, ci.k, ci.b,
               MAX(CASE WHEN r.r = ci.rlo THEN r.s END) AS blo,
               MAX(CASE WHEN r.r = ci.rhi THEN r.s END) AS bhi
        FROM ci JOIN ranked r ON r.r = ci.rlo OR r.r = ci.rhi
        GROUP BY ci.nn, ci.k, ci.b
    ),
    resid AS (
        SELECT ev.y - bci.b * ev.x AS v, ev.d,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY ev.y - bci.b * ev.x, ev.d) AS BIGINT)
                   AS r,
               CAST(COUNT(*) OVER () AS BIGINT) AS m
        FROM ev, bci
    ),
    aint AS (
        SELECT round((MAX(CASE WHEN r = (m + 1) // 2 THEN v END)
                      + MAX(CASE WHEN r = (m + 2) // 2 THEN v END))
                     / 2.0, 10) AS a
        FROM resid
    )
    SELECT nd.m AS n_days, bci.nn AS n_slopes,
           bci.k AS k_offset,
           round(bci.b, 8) + 0.0 AS slope_pb,
           round(bci.blo, 8) + 0.0 AS slope_ci_lo,
           round(bci.bhi, 8) + 0.0 AS slope_ci_hi,
           round(aint.a, 6) + 0.0 AS intercept_pb
    FROM bci, aint, nd
    """,
)
def passing_bablok_regression(spark, sf_dir):
    """Passing-Bablok method-comparison regression between two
    "measurement methods" of daily activity — click counts (x) vs
    view counts (y): the slope is the K-SHIFTED median of all
    pairwise slopes (K = #slopes < -1 restores symmetry under
    axis swap; slopes exactly -1 and vertical ties are excluded,
    the mcr-package convention documented here), the intercept the
    median of y - bx, and the slope CI the Kendall-variance rank
    offsets floor((N - 1.96 sqrt(m(m-1)(2m+5)/18))/2) — the
    regression BOTH of whose variables carry error, scale-invariant
    and outlier-resistant where OLS (`cooks_distance_trend` family)
    and even `deming_regression` (needs a known error ratio) are
    not. b in [CI] including 1 and a including 0 reads as "the two
    methods agree".

    Exactness: slopes are ratios of exact BIGINT count differences
    with a deterministic (slope, day_i, day_j) total order; medians
    are midpoint order statistics at explicit integer ranks (odd =
    same rank twice); b is rounded at 10 dp before the intercept
    residuals. Plan: one day rollup, one bounded day-grid pair
    self-join (calendar^2 domain, constant in data volume), two
    rank passes."""
    e = t(spark, sf_dir, "events")
    ev = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    ).persist()
    nd = ev.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    a_ = ev.select(
        F.col("d").alias("di"), F.col("x").alias("xi"), F.col("y").alias("yi")
    )
    b_ = ev.select(
        F.col("d").alias("dj"), F.col("x").alias("xj"), F.col("y").alias("yj")
    )
    s = (F.col("yj") - F.col("yi")) * 1.0 / (F.col("xj") - F.col("xi"))
    slopes = (
        a_.join(b_, F.col("di") < F.col("dj"))
        .where((F.col("xj") != F.col("xi")) & (s != -1.0))
        .select(s.alias("s"), "di", "dj")
    )
    ranked = slopes.select(
        "s",
        F.row_number()
        .over(Window.orderBy("s", "di", "dj"))
        .cast("bigint")
        .alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("nn"),
        F.sum(F.when(F.col("s") < -1.0, 1).otherwise(0))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("k"),
    ).persist()
    nn, k = F.col("nn"), F.col("k")
    bsel = ranked.groupBy("nn", "k").agg(
        F.round(
            (
                F.max(
                    F.when(
                        F.col("r") == F.floor((nn + 1) / 2) + k, F.col("s")
                    )
                )
                + F.max(
                    F.when(
                        F.col("r") == F.floor((nn + 2) / 2) + k, F.col("s")
                    )
                )
            )
            / 2.0,
            10,
        ).alias("b")
    )
    cw = 1.959963985 * F.sqrt(
        F.col("m") * (F.col("m") - 1.0) * (2.0 * F.col("m") + 5.0) / 18.0
    )
    m1 = F.floor((nn - cw) / 2.0).cast("bigint")
    ci = bsel.crossJoin(F.broadcast(nd)).select(
        "nn",
        "k",
        "b",
        F.greatest(F.lit(1), F.least(nn, m1 + k))
        .cast("bigint")
        .alias("rlo"),
        F.greatest(F.lit(1), F.least(nn, nn - m1 + 1 + k))
        .cast("bigint")
        .alias("rhi"),
    )
    bci = (
        ci.join(
            ranked.select("r", "s"),
            (F.col("r") == F.col("rlo")) | (F.col("r") == F.col("rhi")),
        )
        .groupBy("nn", "k", "b")
        .agg(
            F.max(
                F.when(F.col("r") == F.col("rlo"), F.col("s"))
            ).alias("blo"),
            F.max(
                F.when(F.col("r") == F.col("rhi"), F.col("s"))
            ).alias("bhi"),
        )
    )
    resid = ev.crossJoin(F.broadcast(bci)).select(
        (F.col("y") - F.col("b") * F.col("x")).alias("v"),
        "d",
    )
    rr = resid.select(
        "v",
        F.row_number()
        .over(Window.orderBy("v", "d"))
        .cast("bigint")
        .alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("m"),
    )
    aint = rr.agg(
        F.round(
            (
                F.max(
                    F.when(
                        F.col("r") == F.floor((F.col("m") + 1) / 2),
                        F.col("v"),
                    )
                )
                + F.max(
                    F.when(
                        F.col("r") == F.floor((F.col("m") + 2) / 2),
                        F.col("v"),
                    )
                )
            )
            / 2.0,
            10,
        ).alias("a")
    )
    return (
        bci.crossJoin(F.broadcast(aint))
        .crossJoin(F.broadcast(nd))
        .select(
            F.col("m").alias("n_days"),
            F.col("nn").alias("n_slopes"),
            F.col("k").alias("k_offset"),
            (F.round("b", 8) + 0.0).alias("slope_pb"),
            (F.round("blo", 8) + 0.0).alias("slope_ci_lo"),
            (F.round("bhi", 8) + 0.0).alias("slope_ci_hi"),
            (F.round("a", 6) + 0.0).alias("intercept_pb"),
        )
    )


PLAN_AUDIT_NOTES.update(
    {
        "breusch_godfrey_lm": (
            "lag window over the bounded calendar-day grid (the "
            "durbin_watson / cochrane_orcutt class; found by the "
            "round-16 structural tree-walk detector — the old "
            "500-char context heuristic missed it)"
        ),
        "lo_modified_rs": (
            "one 6-output window pass over the bounded calendar-day "
            "grid (the dfa/cusum class; found by the round-16 "
            "structural detector)"
        ),
        "mean_cumulative_function": (
            "two prefix windows over the bounded age-in-weeks grid "
            "(the kaplan_meier class; found by the round-16 "
            "structural detector)"
        ),
        "passing_bablok_regression": (
            "rank passes over the bounded day-grid slope-pair frame "
            "(calendar^2 domain, constant in data volume — the "
            "theil_sen / sorted-pairs class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Cluster-robust (Liang-Zeger) OLS SE for the daily revenue trend
# (added in round 14 to restore the bank to 49 after the
# dersimonian_laird_meta promotion into bank_r14's 50th slot)
# --------------------------------------------------------------------------
@register(
    "cluster_robust_ols_se",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS day,
               CAST(date_part('year', o_orderdate) * 12
                    + date_part('month', o_orderdate) AS BIGINT)
                   AS ym,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1, 2
    ),
    gs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(day) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(CAST(day AS DECIMAL(38,0)) * day)
                    AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(day AS DECIMAL(38,0)) * y)
                    AS DECIMAL(38,0)) AS sxy,
               CAST(SUM(CAST(y AS DECIMAL(38,0)) * y)
                    AS DECIMAL(38,0)) AS syy
        FROM daily
    ),
    fit AS (
        SELECT n,
               round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * sy)
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * sx), 8) AS b,
               round(CAST(sx AS DOUBLE) / n, 6) AS xbar,
               round(CAST(sy AS DOUBLE) / n, 4) AS ybar,
               (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * sx) / n AS sxxc,
               (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * sy) / n
               - round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * sy)
                       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * sx), 8)
                 * round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * sy)
                         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * sx), 8)
                 * (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * sx) / n AS ssr
        FROM gs
    ),
    cg AS (
        SELECT d.ym,
               CAST(COUNT(*) AS BIGINT) AS ng,
               CAST(SUM(d.day) AS BIGINT) AS gx,
               CAST(SUM(d.y) AS BIGINT) AS gy,
               CAST(SUM(CAST(d.day AS DECIMAL(38,0)) * d.y)
                    AS DECIMAL(38,0)) AS gxy,
               CAST(SUM(CAST(d.day AS DECIMAL(38,0)) * d.day)
                    AS DECIMAL(38,0)) AS gxx
        FROM daily d GROUP BY d.ym
    ),
    scores AS (
        SELECT round(CAST(gxy AS DOUBLE) - f.xbar * gy
                     - (f.ybar - f.b * f.xbar) * (gx - f.xbar * ng)
                     - f.b * (CAST(gxx AS DOUBLE) - f.xbar * gx), 4)
                   AS h,
               f.n, f.b, f.sxxc, f.ssr
        FROM cg, fit f
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS g,
               MAX(n) AS n, MAX(b) AS b, MAX(sxxc) AS sxxc,
               MAX(ssr) AS ssr,
               CAST(SUM(CAST(round(h / 100000.0 * (h / 100000.0), 6)
                             AS DECIMAL(38,6))) AS DOUBLE) AS shh
        FROM scores
    )
    SELECT n AS n_days, g AS n_month_clusters,
           round(b / 1000.0, 8) + 0.0 AS slope_usd_per_day,
           round(sqrt(ssr / (n - 2) / sxxc) / 1000.0, 8) + 0.0
               AS se_iid_usd,
           round(sqrt(CAST(g AS DOUBLE) / (g - 1) * (n - 1) / (n - 2)
                      * shh * 10000000000.0 / (sxxc * sxxc))
                 / 1000.0, 8) + 0.0 AS se_cluster_cr1_usd,
           round(sqrt(CAST(g AS DOUBLE) / (g - 1) * (n - 1) / (n - 2)
                      * shh * 10000000000.0 / (sxxc * sxxc))
                 / sqrt(ssr / (n - 2) / sxxc), 6) + 0.0
               AS cluster_inflation_ratio
    FROM fold
    """,
)
def cluster_robust_ols_se(spark, sf_dir):
    """CLUSTER-ROBUST (Liang-Zeger CR1) standard error for the daily
    revenue trend slope, clustered by CALENDAR MONTH: the sandwich
    variance (X'X)^-1 [sum_g (sum_i in g x~_i e_i)^2] (X'X)^-1 with
    the G/(G-1)*(n-1)/(n-2) small-sample factor — the third member
    of the trend-inference triptych: `weekend_effect_ols` assumes
    iid errors, `newey_west_trend_se` buys a kernel bandwidth,
    clustering buys a grouping; the cluster_inflation_ratio column
    is the audit number (how wrong the iid SE is when whole months
    move together).

    Exactness: all global and per-month power sums are exact
    DECIMAL(38,0) integers; the OLS slope pins at 8 dp, xbar at 6,
    intercept-part at 4, so every month's score h_g combines exact
    integer sums with identically-pinned scalars; h^2 folds at 6 dp
    in k$^2. Plan: one (day, month) rollup, one global fold, one
    month fold, two broadcast scalars — no window at all."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("day"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("bigint")
        .alias("ym"),
    ).agg(
        F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    ).persist()
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    gs = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("day").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(d38("day") * F.col("day"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(d38("day") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(d38("y") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    nn = F.col("n").cast("double")
    braw = (
        nn * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy")
    ) / (
        nn * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx")
    )
    fit = gs.select(
        "n",
        F.round(braw, 8).alias("b"),
        F.round(F.col("sx").cast("double") / F.col("n"), 6).alias(
            "xbar"
        ),
        F.round(F.col("sy").cast("double") / F.col("n"), 4).alias(
            "ybar"
        ),
        (
            (
                nn * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx")
            )
            / F.col("n")
        ).alias("sxxc"),
        (
            (
                nn * F.col("syy").cast("double")
                - F.col("sy").cast("double") * F.col("sy")
            )
            / F.col("n")
            - F.round(braw, 8)
            * F.round(braw, 8)
            * (
                nn * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx")
            )
            / F.col("n")
        ).alias("ssr"),
    )
    cg = daily.groupBy("ym").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum("day").cast("bigint").alias("gx"),
        F.sum("y").cast("bigint").alias("gy"),
        F.sum(d38("day") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("gxy"),
        F.sum(d38("day") * F.col("day"))
        .cast("decimal(38,0)")
        .alias("gxx"),
    )
    h = F.round(
        F.col("gxy").cast("double")
        - F.col("xbar") * F.col("gy")
        - (F.col("ybar") - F.col("b") * F.col("xbar"))
        * (F.col("gx") - F.col("xbar") * F.col("ng"))
        - F.col("b")
        * (F.col("gxx").cast("double") - F.col("xbar") * F.col("gx")),
        4,
    )
    scores = cg.crossJoin(F.broadcast(fit)).select(
        h.alias("h"), "n", "b", "sxxc", "ssr"
    )
    fold = scores.agg(
        F.count(F.lit(1)).cast("bigint").alias("g"),
        F.max("n").alias("n"),
        F.max("b").alias("b"),
        F.max("sxxc").alias("sxxc"),
        F.max("ssr").alias("ssr"),
        F.sum(
            F.round(
                F.col("h") / 100000.0 * (F.col("h") / 100000.0), 6
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("shh"),
    )
    cr1 = (
        F.col("g").cast("double")
        / (F.col("g") - 1)
        * (F.col("n") - 1)
        / (F.col("n") - 2)
    )
    se_cl = F.sqrt(
        cr1
        * F.col("shh")
        * 10000000000.0
        / (F.col("sxxc") * F.col("sxxc"))
    )
    se_iid = F.sqrt(
        F.col("ssr") / (F.col("n") - 2) / F.col("sxxc")
    )
    return fold.select(
        F.col("n").alias("n_days"),
        F.col("g").alias("n_month_clusters"),
        (F.round(F.col("b") / 1000.0, 8) + 0.0).alias(
            "slope_usd_per_day"
        ),
        (F.round(se_iid / 1000.0, 8) + 0.0).alias("se_iid_usd"),
        (F.round(se_cl / 1000.0, 8) + 0.0).alias(
            "se_cluster_cr1_usd"
        ),
        (F.round(se_cl / se_iid, 6) + 0.0).alias(
            "cluster_inflation_ratio"
        ),
    )


PLAN_AUDIT_NOTES.update(
    {
        "cluster_robust_ols_se": (
            "INFO: no window at all — two rollups and broadcast scalars "
            "(added r14 to restore the bank to 49 after the "
            "dersimonian promotion)"
        ),
    }
)


# --------------------------------------------------------------------------
# Promoted at the round-15 flip: Bartlett's test of sphericity
# (moved from the round-16 bank as the 50th window slot — the
# dersimonian_laird_meta precedent). The daily-activity correlation
# frame is common.py's DAILY_EVENT_CORR3_SQL/daily_event_corr3, shared
# with kmo_adequacy.
# --------------------------------------------------------------------------
@register(
    "bartlett_sphericity",
    oracle=f"""
    WITH {DAILY_EVENT_CORR3_SQL}
    SELECT n AS n_days,
           round(r12, 6) + 0.0 AS r_purchase_click,
           round(r13, 6) + 0.0 AS r_purchase_error,
           round(r23, 6) + 0.0 AS r_click_error,
           round(1.0 - r12 * r12 - r13 * r13 - r23 * r23
                 + 2.0 * r12 * r13 * r23, 8) + 0.0 AS det_r,
           round(-(n - 1.0 - (2.0 * 3.0 + 5.0) / 6.0)
                 * ln(1.0 - r12 * r12 - r13 * r13 - r23 * r23
                      + 2.0 * r12 * r13 * r23), 6) + 0.0
               AS bartlett_chi2,
           CAST(3 AS BIGINT) AS dof
    FROM corr3
    """,
)
def bartlett_sphericity(spark, sf_dir):
    """Bartlett's test of SPHERICITY on the 3x3 correlation matrix of
    the daily (purchase, click, error) activity series: chi2 =
    -(n-1-(2p+5)/6) ln|R| ~ chi2(p(p-1)/2) against R = I — the
    gatekeeper run before any factor/PCA step (`canonical_
    correlation_pairs`, `effective_rank_entropy`): if sphericity is
    NOT rejected the correlation structure is noise and every
    downstream rotation is fiction. |R| for p=3 is the closed form
    1 - r12^2 - r13^2 - r23^2 + 2 r12 r13 r23.

    Exactness: the three correlations come from one pass of exact
    BIGINT count power sums (DECIMAL(19,0) widens), each rounded at
    10 dp before the determinant tree, so both engines take ln of
    identical doubles. Plan: one day rollup, one fold — no joins,
    no windows."""
    c = daily_event_corr3(spark, sf_dir)
    r12, r13, r23 = F.col("r12"), F.col("r13"), F.col("r23")
    det = (
        1.0
        - r12 * r12
        - r13 * r13
        - r23 * r23
        + 2.0 * r12 * r13 * r23
    )
    n = F.col("n")
    return c.select(
        n.alias("n_days"),
        (F.round(r12, 6) + 0.0).alias("r_purchase_click"),
        (F.round(r13, 6) + 0.0).alias("r_purchase_error"),
        (F.round(r23, 6) + 0.0).alias("r_click_error"),
        (F.round(det, 8) + 0.0).alias("det_r"),
        (
            F.round(
                -(n - 1.0 - (2.0 * 3.0 + 5.0) / 6.0) * F.log(det), 6
            )
            + 0.0
        ).alias("bartlett_chi2"),
        F.lit(3).cast("bigint").alias("dof"),
    )
