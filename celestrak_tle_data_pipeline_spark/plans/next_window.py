"""Round-8-staged queries, LIVE since round 9 (X201-X245 in SURVEY §2.11).

These 45 oracle-paired queries were built during round 8 after that
round's 50-slot official window filled, and were pre-staged here
outside the live registry (the machine-checked no-new-debt discipline
— see ``tests/test_registry.py::test_no_new_official_debt``). Round 9
flipped them live exactly as the r8 verdict prescribed: the module now
registers through ``plans.register`` (while still recording every name
in ``NEXT_QUERIES``/``NEXT_ORACLES`` so ``tests/test_next_window.py``
keeps running the driver-gate canon/hash compare on the bank at two
scale factors), ``"next_window"`` is in ``plans._MODULES``, and the
round-9 ``_PRIORITY`` window is built from ``sorted(NEXT_QUERIES)`` —
45 bank names + 5 fresh round-9 registrations = exactly 50.

Every query here was verified BEFORE registration by
``tests/test_next_window.py`` with the exact canon/hash compare the
driver gate uses (`tools/check.py`), at sf0.001 AND sf0.01, and probed
at 8x/64x (SCALING.md). Names were checked against the live registry
by the bank tests — a draft duplicating the already-registered
``benford_first_digit`` was caught exactly that way, and drafts
overlapping ``event_transition_matrix`` / ``mad_outlier_filter`` were
dropped during review rather than shipped as padding.

Every plan here is window-free (no unbounded ``Window.orderBy``) with
ONE named exception: the time-series shapes (ACF, EWMA, Mann-Kendall)
use bounded lag/triangular joins on the day-grain calendar domain;
ranking reuses the ``exact_cumulative`` value-bucket global-rank
machinery; medians use the cumulative-count value-grid device. The
exception is ``log_rank_sessions``' risk-set suffix sums, which ride an
unpartitioned window over the session-duration GRID (domain-bounded —
the same calendar-class frame kaplan_meier_sessions is allowlisted
for); its ``ALLOWED`` entry in ``tools/audit_single_partition.py``
carries that justification.

Determinism discipline (plans/__init__ contract): day rollups are
integer cents; rank sums are 2x-scaled integers; ACF/EWMA numerators
are n-scaled DECIMAL(38,0) integer folds; per-group float terms are
rounded to fixed scale before any cross-group sum; every final float
rounds and every possibly-negative-zero column appends ``+ 0.0``.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from . import register as _live_register
from .common import dec, exact_cumulative, t

NEXT_QUERIES: dict = {}
NEXT_ORACLES: dict = {}


def register(name: str, oracle: str | None = None):
    """Registers live via ``plans.register`` AND records the name in the
    bank dicts so ``tests/test_next_window.py`` keeps gate-mirroring the
    whole flipped set independently of the registry (see docstring)."""

    live = _live_register(name, oracle)

    def deco(fn):
        NEXT_QUERIES[name] = fn
        if oracle is not None:
            NEXT_ORACLES[name] = oracle
        return live(fn)

    return deco


# --------------------------------------------------------------------------
# Kruskal-Wallis H (rank one-way ANOVA across all five event types)
# --------------------------------------------------------------------------
@register(
    "kruskal_wallis_values",
    oracle="""
    WITH pool AS (SELECT event_type AS g, value FROM events),
    ranked AS (
        SELECT g,
               CAST(RANK() OVER (ORDER BY value) AS BIGINT) * 2
               + CAST(COUNT(*) OVER (PARTITION BY value) AS BIGINT) - 1
                   AS rank2
        FROM pool
    ),
    grp AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
               CAST(SUM(rank2) AS BIGINT) AS r2
        FROM ranked GROUP BY g
    ),
    ties AS (
        SELECT CAST(SUM(c * c * c - c) AS BIGINT) AS t3
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c
              FROM pool GROUP BY value)
    ),
    terms AS (
        SELECT CAST(SUM(ng) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k,
               SUM(CAST(round(
                   CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)
                   / (4.0 * ng), 8) AS DECIMAL(38,8))) AS s
        FROM grp
    )
    SELECT n AS n_events, k AS n_groups,
           CAST(k - 1 AS BIGINT) AS dof,
           round(12.0 * CAST(s AS DOUBLE) / (n * (n + 1.0))
                 - 3.0 * (n + 1.0), 6) + 0.0 AS h_stat,
           round((12.0 * CAST(s AS DOUBLE) / (n * (n + 1.0))
                  - 3.0 * (n + 1.0))
                 / (1.0 - CAST(t.t3 AS DOUBLE)
                          / (CAST(n AS DOUBLE) * n * n - n)), 6) + 0.0
               AS h_adj
    FROM terms, ties t
    """,
)
def kruskal_wallis_values(spark, sf_dir):
    """Kruskal-Wallis H: do the five event types draw their values
    from one distribution? — the k-group generalization of
    ``mann_whitney_u_values`` (rank one-way ANOVA, no normality
    assumption): H = 12/(N(N+1)) · Σ R_i²/n_i − 3(N+1), with the tie
    correction H/C, C = 1 − Σ(t³−t)/(N³−N).

    Exactness: average ranks are 2x-scaled integers (rank + tie-count
    − 1), so every group rank sum R2_i = 2·R_i is an EXACT integer at
    any partitioning; Σ R_i²/n_i = Σ R2_i²/(4n_i) is folded as
    per-group terms rounded to 1e-8 and summed in DECIMAL — exact,
    order-free — and the tie term is pure integers. Only the final H
    normalization is float.

    Plan — the ``mann_whitney_u_values`` bucket-rank machinery over
    ALL types: ranks inside value buckets (tie groups co-located) +
    broadcast bucket offsets (``exact_cumulative``), one group
    rollup, one value-grid tie rollup; no single-partition exchange."""
    e = t(spark, sf_dir, "events")
    gv = e.select(F.col("event_type").alias("g"), "value")
    pool, w = exact_cumulative(gv, ("value",), {"n": F.count(F.lit(1))})
    rank2 = (
        (F.rank().over(w).cast("bigint") + F.col("off_n")) * 2
        + F.count(F.lit(1))
        .over(Window.partitionBy("pid", "value"))
        .cast("bigint")
        - 1
    )
    ranked = pool.select("g", rank2.alias("rank2"))
    grp = ranked.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        # rank sums grow ~N^2: decimal partials, exact past int64
        F.sum(F.col("rank2").cast("decimal(38,0)")).alias("r2"),
    )
    ties = (
        gv.groupBy("value")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .agg(
            F.sum(
                F.col("c") * F.col("c") * F.col("c") - F.col("c")
            )
            .cast("bigint")
            .alias("t3")
        )
    )
    terms = grp.agg(
        F.sum("ng").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(
            F.round(
                F.col("r2").cast("double")
                * F.col("r2").cast("double")
                / (4.0 * F.col("ng")),
                8,
            ).cast("decimal(38,8)")
        ).alias("s"),
    )
    n, k = F.col("n"), F.col("k")
    h = 12.0 * F.col("s").cast("double") / (n * (n + F.lit(1.0))) - 3.0 * (
        n + F.lit(1.0)
    )
    c_corr = 1.0 - F.col("t3").cast("double") / (
        n.cast("double") * n * n - n
    )
    return terms.crossJoin(F.broadcast(ties)).select(
        n.alias("n_events"),
        k.alias("n_groups"),
        (k - 1).cast("bigint").alias("dof"),
        (F.round(h, 6) + 0.0).alias("h_stat"),
        (F.round(h / c_corr, 6) + 0.0).alias("h_adj"),
    )


# --------------------------------------------------------------------------
# Welch's heteroscedastic one-way ANOVA (event types, unequal variances)
# --------------------------------------------------------------------------
@register(
    "welch_anova_types",
    oracle="""
    WITH grp AS (
        SELECT event_type AS g, CAST(COUNT(*) AS BIGINT) AS ng,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS s,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)
                        * CAST(CAST(value AS DECIMAL(18,2)) * 100
                               AS BIGINT)) AS DECIMAL(38,0)) AS ss
        FROM events GROUP BY 1
    ),
    wg AS (
        SELECT g, ng, s,
               CAST(s AS DOUBLE) / ng AS m,
               (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / ng)
                   / (ng - 1) AS var,
               ng / ((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / ng)
                     / (ng - 1)) AS w
        FROM grp
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(ng) AS BIGINT) AS n,
               SUM(CAST(round(w, 8) AS DECIMAL(38,8))) AS sw,
               SUM(CAST(round(w * m, 4) AS DECIMAL(38,4))) AS swm
        FROM wg
    ),
    num AS (
        SELECT f.k, f.n,
               SUM(CAST(round(
                   g.w * (g.m - CAST(f.swm AS DOUBLE)
                                / CAST(f.sw AS DOUBLE))
                       * (g.m - CAST(f.swm AS DOUBLE)
                                / CAST(f.sw AS DOUBLE)), 4)
                   AS DECIMAL(38,4))) AS a,
               SUM(CAST(round(
                   (1.0 - g.w / CAST(f.sw AS DOUBLE))
                   * (1.0 - g.w / CAST(f.sw AS DOUBLE))
                   / (g.ng - 1), 12) AS DECIMAL(38,12))) AS b
        FROM wg g, fold f GROUP BY f.k, f.n
    )
    SELECT n AS n_events, k AS n_groups,
           round(CAST(a AS DOUBLE) / (k - 1)
                 / (1.0 + 2.0 * (k - 2.0) / (k * k - 1.0)
                          * CAST(b AS DOUBLE)), 6) + 0.0
               AS welch_f,
           round((k * k - 1.0) / (3.0 * CAST(b AS DOUBLE)), 4)
               AS df2
    FROM num
    """,
)
def welch_anova_types(spark, sf_dir):
    """Welch's heteroscedastic one-way ANOVA: do the five event types
    have equal MEAN value, without assuming equal variances? — the
    test to run when ``levene_brown_forsythe`` rejects homogeneity
    (classic ANOVA's F is anticonservative under unequal variances
    and unequal group sizes). F* = Σw_i(m_i − m̄_w)²/(k−1) over
    1 + 2(k−2)/(k²−1)·Λ, with w_i = n_i/s_i², Welch-Satterthwaite
    df₂ = (k²−1)/(3Λ).

    Exactness: per-group count/sum/sum-of-squares are exact integer
    cents folds (the repo's power-sum discipline), so means and
    variances are single float expressions from exact integers; the
    cross-group folds (Σw, Σwm, the two quadratic terms) are rounded
    to fixed scales and summed in DECIMAL — order-free. Plan: ONE
    hash aggregate over events, then all algebra on the 5-row group
    frame with the scalar fold broadcast back."""
    e = t(spark, sf_dir, "events")
    v = (dec("value", 18, 2) * 100).cast("bigint")
    grp = e.groupBy(F.col("event_type").alias("g")).agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum(v).cast("bigint").alias("s"),
        F.sum((v * v).cast("decimal(38,0)")).alias("ss"),
    )
    m = F.col("s").cast("double") / F.col("ng")
    var = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("ng")
    ) / (F.col("ng") - 1)
    wg = grp.select(
        "g", "ng", "s", m.alias("m"), var.alias("var"),
        (F.col("ng") / var).alias("w"),
    )
    fold = wg.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("ng").cast("bigint").alias("n"),
        F.sum(F.round(F.col("w"), 8).cast("decimal(38,8)")).alias("sw"),
        F.sum(
            F.round(F.col("w") * F.col("m"), 4).cast("decimal(38,4)")
        ).alias("swm"),
    )
    mw = F.col("swm").cast("double") / F.col("sw").cast("double")
    num = wg.crossJoin(F.broadcast(fold)).groupBy("k", "n").agg(
        F.sum(
            F.round(
                F.col("w") * (F.col("m") - mw) * (F.col("m") - mw), 4
            ).cast("decimal(38,4)")
        ).alias("a"),
        F.sum(
            F.round(
                (1.0 - F.col("w") / F.col("sw").cast("double"))
                * (1.0 - F.col("w") / F.col("sw").cast("double"))
                / (F.col("ng") - 1),
                12,
            ).cast("decimal(38,12)")
        ).alias("b"),
    )
    k = F.col("k")
    lam = F.col("b").cast("double")
    return num.select(
        F.col("n").alias("n_events"),
        k.alias("n_groups"),
        (
            F.round(
                F.col("a").cast("double")
                / (k - 1)
                / (1.0 + 2.0 * (k - F.lit(2.0)) / (k * k - F.lit(1.0)) * lam),
                6,
            )
            + 0.0
        ).alias("welch_f"),
        F.round((k * k - F.lit(1.0)) / (3.0 * lam), 4).alias("df2"),
    )


# --------------------------------------------------------------------------
# Kendall tau-b on a bounded bucket grid (activity vs spend)
# --------------------------------------------------------------------------
@register(
    "kendall_tau_b_bucketed",
    oracle="""
    WITH u AS (
        SELECT user_id,
               LEAST(CAST(COUNT(*) AS BIGINT), 12) AS a,
               LEAST(CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                   AS BIGINT)) AS BIGINT) // 5000,
                     CAST(9 AS BIGINT)) AS b
        FROM events GROUP BY 1
    ),
    cells AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c
        FROM u GROUP BY 1, 2
    ),
    pairs AS (
        SELECT CAST(SUM(CASE WHEN (x.a < y.a AND x.b < y.b)
                               OR (x.a > y.a AND x.b > y.b)
                      THEN x.c * y.c ELSE 0 END) AS BIGINT) AS conc2,
               CAST(SUM(CASE WHEN (x.a < y.a AND x.b > y.b)
                               OR (x.a > y.a AND x.b < y.b)
                      THEN x.c * y.c ELSE 0 END) AS BIGINT) AS disc2
        FROM cells x JOIN cells y
          ON x.a < y.a OR (x.a = y.a AND x.b <> y.b)
    ),
    marg AS (
        SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM cells) AS n,
               (SELECT CAST(SUM(cnt * (cnt - 1)) AS BIGINT) FROM (
                    SELECT CAST(SUM(c) AS BIGINT) AS cnt
                    FROM cells GROUP BY a)) AS ta2,
               (SELECT CAST(SUM(cnt * (cnt - 1)) AS BIGINT) FROM (
                    SELECT CAST(SUM(c) AS BIGINT) AS cnt
                    FROM cells GROUP BY b)) AS tb2
    )
    SELECT m.n AS n_users, p.conc2 AS concordant, p.disc2 AS discordant,
           round(2.0 * (p.conc2 - p.disc2)
                 / sqrt((CAST(m.n AS DOUBLE) * (m.n - 1) - m.ta2)
                        * (CAST(m.n AS DOUBLE) * (m.n - 1) - m.tb2)),
                 9) + 0.0 AS tau_b
    FROM pairs p, marg m
    """,
)
def kendall_tau_b_bucketed(spark, sf_dir):
    """Kendall tau-b between per-user activity and spend on a FIXED
    bucket grid — the ordinal-association companion to
    ``spearman_rank_corr`` (tau's pairwise-concordance semantics are
    what survey/ordinal methodology asks for, and its b-variant
    corrects for the ties a coarse grid creates). Buckets are fixed
    VALUE grids (activity capped at 12, spend in $50 brackets capped
    at bracket 9), NOT rank-derived — so bucket ids are engine-free
    constants and the contingency grid is ≤ 13×10 cells by
    construction.

    Concordant/discordant pair MASSES come from the cell-pair
    triangular join over that bounded grid (≤ C(130,2) cell pairs —
    never user pairs): C = Σ c_x·c_y over concordant cell pairs,
    doubled consistently in both engines; tau-b = (C−D)/√((M−T_a)(M−T_b))
    with M = n(n−1) and the tie masses from the marginals. All
    integers until the final ratio.

    Plan: one user rollup (hash agg), one ≤130-row cell rollup, a
    broadcast triangular cell join, two marginal folds — the 100 TB
    cost is the user rollup; everything after is constant-sized."""
    e = t(spark, sf_dir, "events")
    cents = (dec("value", 18, 2) * 100).cast("bigint")
    u = (
        e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(cents).cast("bigint").alias("sc"),
        )
        .select(
            F.least(F.col("cnt"), F.lit(12).cast("bigint")).alias("a"),
            F.least(
                F.expr("sc DIV 5000"), F.lit(9).cast("bigint")
            ).alias("b"),
        )
    )
    cells = (
        u.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist()
    )
    x, y = cells.alias("x"), cells.alias("y")
    xa, xb, xc = F.col("x.a"), F.col("x.b"), F.col("x.c")
    ya, yb, yc = F.col("y.a"), F.col("y.b"), F.col("y.c")
    pairs = (
        x.join(
            F.broadcast(y),
            (xa < ya) | ((xa == ya) & (xb != yb)),
        )
        .agg(
            F.sum(
                F.when(
                    ((xa < ya) & (xb < yb)) | ((xa > ya) & (xb > yb)),
                    xc * yc,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("conc2"),
            F.sum(
                F.when(
                    ((xa < ya) & (xb > yb)) | ((xa > ya) & (xb < yb)),
                    xc * yc,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("disc2"),
        )
    )
    n_tot = cells.agg(F.sum("c").cast("bigint").alias("n"))
    ta = (
        cells.groupBy("a")
        .agg(F.sum("c").cast("bigint").alias("cnt"))
        .agg(
            F.sum(F.col("cnt") * (F.col("cnt") - 1))
            .cast("bigint")
            .alias("ta2")
        )
    )
    tb = (
        cells.groupBy("b")
        .agg(F.sum("c").cast("bigint").alias("cnt"))
        .agg(
            F.sum(F.col("cnt") * (F.col("cnt") - 1))
            .cast("bigint")
            .alias("tb2")
        )
    )
    m = F.col("n").cast("double") * (F.col("n") - 1)
    return (
        pairs.crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
        .select(
            F.col("n").alias("n_users"),
            F.col("conc2").alias("concordant"),
            F.col("disc2").alias("discordant"),
            (
                F.round(
                    2.0
                    * (F.col("conc2") - F.col("disc2"))
                    / F.sqrt(
                        (m - F.col("ta2")) * (m - F.col("tb2"))
                    ),
                    9,
                )
                + 0.0
            ).alias("tau_b"),
        )
    )


# --------------------------------------------------------------------------
# Mann-Kendall trend test over the daily revenue series
# --------------------------------------------------------------------------
@register(
    "mann_kendall_trend",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY 1
    ),
    s AS (
        SELECT CAST(SUM(CASE WHEN y.v > x.v THEN 1
                             WHEN y.v < x.v THEN -1 ELSE 0 END)
                    AS BIGINT) AS s
        FROM daily x JOIN daily y ON x.d < y.d
    ),
    ties AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS tv
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c
              FROM daily GROUP BY v)
    )
    SELECT t.n AS n_days, s.s AS s_stat,
           round((CAST(t.n AS DOUBLE) * (t.n - 1) * (2 * t.n + 5)
                  - t.tv) / 18.0, 6) AS var_s,
           round(CASE WHEN s.s > 0 THEN (s.s - 1)
                      WHEN s.s < 0 THEN (s.s + 1)
                      ELSE 0 END
                 / sqrt((CAST(t.n AS DOUBLE) * (t.n - 1) * (2 * t.n + 5)
                         - t.tv) / 18.0), 6) + 0.0 AS z_stat
    FROM s, ties t
    """,
)
def mann_kendall_trend(spark, sf_dir):
    """Mann-Kendall trend test on the daily revenue series: S =
    Σ_{i<j} sign(v_j − v_i) — the nonparametric monotone-trend
    detector (no linearity or distribution assumption) that pairs
    with ``cusum_changepoint_scan``: CUSUM asks "did the level
    shift once?", Mann-Kendall asks "does it drift monotonically?".
    Z uses the standard continuity correction and the tie-adjusted
    variance (n(n−1)(2n+5) − Σt(t−1)(2t+5))/18.

    S and the tie fold are EXACT integers; only the final variance
    and Z divide. Plan: one day rollup from the event scan, then the
    triangular self-join runs on the ~month-grain daily frame — a
    bounded calendar domain (≤ n_days² comparison rows, never
    event-grain) with the small side broadcast; no window operator
    at all."""
    e = t(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            F.floor(F.unix_micros("ts") / 86_400_000_000)
            .cast("bigint")
            .alias("d")
        )
        .agg((F.sum(dec("value", 18, 2)) * 100).cast("bigint").alias("v"))
        .persist()
    )
    x, y = daily.alias("x"), daily.alias("y")
    s = x.join(F.broadcast(y), F.col("x.d") < F.col("y.d")).agg(
        F.sum(
            F.when(F.col("y.v") > F.col("x.v"), 1)
            .when(F.col("y.v") < F.col("x.v"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s")
    )
    ties = (
        daily.groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .agg(
            # n = Σ group sizes = the DAY count (a distinct-value count
            # here would undercount whenever two days tie in revenue)
            F.sum("c").cast("bigint").alias("n"),
            F.sum(
                F.col("c") * (F.col("c") - 1) * (2 * F.col("c") + 5)
            )
            .cast("bigint")
            .alias("tv"),
        )
    )
    n = F.col("n")
    var_s = (
        n.cast("double") * (n - 1) * (2 * n + 5) - F.col("tv")
    ) / 18.0
    s_corr = (
        F.when(F.col("s") > 0, F.col("s") - 1)
        .when(F.col("s") < 0, F.col("s") + 1)
        .otherwise(0)
    )
    return s.crossJoin(F.broadcast(ties)).select(
        n.alias("n_days"),
        F.col("s").alias("s_stat"),
        F.round(var_s, 6).alias("var_s"),
        (F.round(s_corr / F.sqrt(var_s), 6) + 0.0).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Autocorrelation function + Ljung-Box Q (daily revenue, lags 1..7)
# --------------------------------------------------------------------------
@register(
    "acf_ljung_box",
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
        JOIN daily y ON y.d - x.d BETWEEN 1 AND 7
        CROSS JOIN tot t
        GROUP BY 1
    ),
    den AS (
        SELECT SUM(CAST((v * t.n - t.s) AS DECIMAL(38,0))
                   * CAST((v * t.n - t.s) AS DECIMAL(38,0))) AS d0
        FROM daily, tot t
    )
    SELECT CAST(num.lag AS BIGINT) AS lag,
           round(CAST(num.nk AS DOUBLE) / CAST(den.d0 AS DOUBLE), 9)
               + 0.0 AS acf,
           round(t.n * (t.n + 2.0)
                 * CAST(SUM(CAST(round(
                       CAST(num.nk AS DOUBLE) * CAST(num.nk AS DOUBLE)
                       / (CAST(den.d0 AS DOUBLE) * den.d0)
                       / (t.n - num.lag), 12) AS DECIMAL(38,12)))
                   OVER (ORDER BY num.lag
                         ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6)
               AS ljung_box_q
    FROM num, den, tot t
    ORDER BY lag
    """,
)
def acf_ljung_box(spark, sf_dir):
    """Autocorrelation of the daily revenue series at lags 1..7 plus
    the cumulative Ljung-Box Q — the "is this series white noise?"
    panel a forecast pipeline reads before fitting anything (a
    significant Q at lag 7 says yesterday predicts today; ACF says
    at which lag). r_k = Σ(x_t−x̄)(x_{t+k}−x̄)/Σ(x_t−x̄)², Q_k =
    n(n+2)Σ_{j≤k} r_j²/(n−j).

    Exactness: the series is integer cents; centering is n-SCALED
    (x·n − S — integers, no float mean), so every lag numerator and
    the lag-0 denominator are exact DECIMAL(38,0) integer folds at
    any partitioning; r_k is one float division, and the Q fold sums
    per-lag terms rounded to 1e-12 over the 7-row lag frame. Plan:
    one day rollup, a bounded band self-join (lag ≤ 7) on the
    ~month-grain calendar frame with the small side broadcast, and
    the cumulative Q comes from a triangular join over the 7-row LAG
    domain — window-free by construction."""
    e = t(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            F.floor(F.unix_micros("ts") / 86_400_000_000)
            .cast("bigint")
            .alias("d")
        )
        .agg((F.sum(dec("value", 18, 2)) * 100).cast("bigint").alias("v"))
        .persist()
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
    )
    x, y = daily.alias("x"), daily.alias("y")
    cx = F.col("x.v").cast("decimal(38,0)") * F.col("n") - F.col("s")
    cy = F.col("y.v").cast("decimal(38,0)") * F.col("n") - F.col("s")
    num = (
        x.join(
            F.broadcast(y),
            (F.col("y.d") - F.col("x.d")).between(1, 7),
        )
        .crossJoin(F.broadcast(tot))
        .groupBy((F.col("y.d") - F.col("x.d")).alias("lag"))
        .agg(F.sum(cx * cy).alias("nk"))
    )
    cv = F.col("v").cast("decimal(38,0)") * F.col("n") - F.col("s")
    den = daily.crossJoin(F.broadcast(tot)).agg(
        F.sum(cv * cv).alias("d0")
    )
    joined = num.crossJoin(F.broadcast(den)).crossJoin(F.broadcast(tot))
    acf = F.col("nk").cast("double") / F.col("d0").cast("double")
    term = F.round(
        F.col("nk").cast("double")
        * F.col("nk").cast("double")
        / (F.col("d0").cast("double") * F.col("d0").cast("double"))
        / (F.col("n") - F.col("lag")),
        12,
    ).cast("decimal(38,12)")
    lags = joined.select(
        F.col("lag").cast("bigint").alias("lag"),
        (F.round(acf, 9) + 0.0).alias("acf"),
        term.alias("term"),
        F.col("n"),
    ).persist()
    # cumulative Q without a window: triangular join over the 7-row
    # lag frame (a tiny domain)
    xl, yl = lags.alias("xl"), lags.alias("yl")
    return (
        xl.join(
            F.broadcast(yl), F.col("yl.lag") <= F.col("xl.lag")
        )
        .groupBy(
            F.col("xl.lag").alias("lag"),
            F.col("xl.acf").alias("acf"),
            F.col("xl.n").alias("n"),
        )
        .agg(F.sum(F.col("yl.term")).alias("qsum"))
        .select(
            "lag",
            "acf",
            F.round(
                F.col("n")
                * (F.col("n") + F.lit(2.0))
                * F.col("qsum").cast("double"),
                6,
            ).alias("ljung_box_q"),
        )
    )


# --------------------------------------------------------------------------
# EWMA control chart with exact rational weights (daily revenue)
# --------------------------------------------------------------------------
@register(
    "ewma_control_chart",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s,
               CAST(SUM(v * v) AS DECIMAL(38,0)) AS ss
        FROM daily
    ),
    w AS (
        SELECT x.d,
               x.v,
               SUM(CAST(power(8, CAST(x.d - y.d AS INT))
                        * power(10, CAST(15 - (x.d - y.d) AS INT))
                        AS DECIMAL(38,0)) * y.v) AS num,
               SUM(CAST(power(8, CAST(x.d - y.d AS INT))
                        * power(10, CAST(15 - (x.d - y.d) AS INT))
                        AS DECIMAL(38,0))) AS den
        FROM daily x JOIN daily y
          ON x.d - y.d BETWEEN 0 AND 15
        GROUP BY 1, 2
    )
    SELECT w.d AS d, w.v AS revenue_cents,
           round(CAST(w.num AS DOUBLE) / CAST(w.den AS DOUBLE), 4)
               AS ewma_cents,
           CAST(CASE WHEN abs(w.v - CAST(w.num AS DOUBLE)
                                    / CAST(w.den AS DOUBLE))
                          * sqrt((2.0 - 0.2) / 0.2)
                          > 3.0 * sqrt((CAST(t.ss AS DOUBLE)
                                        - CAST(t.s AS DOUBLE) * t.s / t.n)
                                       / (t.n - 1))
                     THEN 1 ELSE 0 END AS BIGINT) AS out_of_control
    FROM w, tot t
    ORDER BY d
    """,
)
def ewma_control_chart(spark, sf_dir):
    """EWMA control chart over daily revenue (λ = 0.2, truncated at
    16 taps): the drift-sensitive process-control monitor that
    catches small persistent shifts a Shewhart 3σ rule misses. (The
    per-user sequential EWMA kernel is ``ewma_anomaly_by_user`` —
    applyInPandas, row i needs row i−1's result; this chart is its
    series-level CLOSED-FORM sibling, JVM-only and window-free.)
    ewma_t = Σ_{j≤15} 0.8^j·v_{t−j} / Σ 0.8^j (self-normalizing at
    the series head), flagged when |v_t − ewma_t| exceeds 3σ̂ scaled
    by √((2−λ)/λ) — the steady-state EWMA limit.

    Exactness trick: the geometric weights are EXACT INTEGERS —
    0.8^j·10^15 = 8^j·10^(15−j), so numerator and denominator are
    DECIMAL(38,0) integer folds (weight·cents ≤ 10^15·10^12 fits)
    and the EWMA is ONE float division per day, identical at any
    partitioning and in any engine. σ̂ comes from the exact power
    sums. Plan: one day rollup, then a 16-tap band self-join on the
    ~month-grain calendar frame (≤ 16·n_days rows, broadcast small
    side) — the closed-form replacement for the sequential recursion
    a streaming EWMA would use; no window operator."""
    e = t(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            F.floor(F.unix_micros("ts") / 86_400_000_000)
            .cast("bigint")
            .alias("d")
        )
        .agg((F.sum(dec("value", 18, 2)) * 100).cast("bigint").alias("v"))
        .persist()
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("ss"),
    )
    x, y = daily.alias("x"), daily.alias("y")
    j = (F.col("x.d") - F.col("y.d")).cast("int")
    weight = (
        F.pow(F.lit(8.0), j) * F.pow(F.lit(10.0), 15 - j)
    ).cast("decimal(38,0)")
    w = (
        x.join(F.broadcast(y), (F.col("x.d") - F.col("y.d")).between(0, 15))
        .groupBy(F.col("x.d").alias("d"), F.col("x.v").alias("v"))
        .agg(
            F.sum(weight * F.col("y.v")).alias("num"),
            F.sum(weight).alias("den"),
        )
    )
    ewma = F.col("num").cast("double") / F.col("den").cast("double")
    sigma = F.sqrt(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n")
        )
        / (F.col("n") - 1)
    )
    steady = F.sqrt((F.lit(2.0) - 0.2) / 0.2)
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "d",
            F.col("v").alias("revenue_cents"),
            F.round(ewma, 4).alias("ewma_cents"),
            F.when(
                F.abs(F.col("v") - ewma) * steady > 3.0 * sigma, 1
            )
            .otherwise(0)
            .cast("bigint")
            .alias("out_of_control"),
        )
    )


# --------------------------------------------------------------------------
# Gopher repetition rules (top-ngram / duplicate-word mass per doc)
# --------------------------------------------------------------------------
@register(
    "gopher_repetition_rules",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS ws,
               len(string_split(text, ' ')) AS nw
        FROM documents
    ),
    uw AS (SELECT doc_id, UNNEST(ws) AS w FROM toks),
    uni AS (
        SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top1
        FROM (SELECT doc_id, w, COUNT(*) AS c
              FROM uw GROUP BY doc_id, w) GROUP BY doc_id
    ),
    big AS (
        SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top2
        FROM (
            SELECT t.doc_id,
                   ws[i.i] || ' ' || ws[i.i + 1] AS bg,
                   COUNT(*) AS c
            FROM toks t, LATERAL (
                SELECT UNNEST(generate_series(1, t.nw - 1)) AS i) i
            GROUP BY 1, 2
        ) GROUP BY doc_id
    ),
    dw AS (
        SELECT doc_id,
               CAST(SUM(c) - COUNT(*) AS BIGINT) AS dup_words
        FROM (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
              FROM uw GROUP BY doc_id, w) GROUP BY doc_id
    ),
    per_doc AS (
        SELECT t.doc_id, t.source, t.nw,
               u.top1, b.top2, d.dup_words,
               CASE WHEN 10 * u.top1 <= 2 * t.nw THEN 1 ELSE 0 END
                   AS pass_top1,
               CASE WHEN 10 * b.top2 <= 1 * (t.nw - 1) THEN 1 ELSE 0 END
                   AS pass_top2,
               CASE WHEN 10 * d.dup_words <= 3 * t.nw THEN 1 ELSE 0 END
                   AS pass_dup
        FROM toks t JOIN uni u USING (doc_id)
        JOIN big b USING (doc_id) JOIN dw d USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(pass_top1) AS BIGINT) AS pass_top_unigram,
           CAST(SUM(pass_top2) AS BIGINT) AS pass_top_bigram,
           CAST(SUM(pass_dup) AS BIGINT) AS pass_dup_words,
           CAST(SUM(pass_top1 * pass_top2 * pass_dup) AS BIGINT)
               AS pass_all
    FROM per_doc GROUP BY 1
    """,
)
def gopher_repetition_rules(spark, sf_dir):
    """The REPETITION half of the Gopher rule battery (Rae et al.
    2021 §A1.1 — `gopher_quality_rules` covers the
    length/stopword/type-token half): a document fails when repeated
    content dominates — top unigram > 20% of tokens, top bigram >
    10% of bigrams, or duplicate-word mass (occurrences beyond each
    word's first) > 30% of tokens. Reported per source as pass
    counts per rule + the intersection, the same
    which-rule-eats-this-source dashboard shape as X193.

    Every ratio test is decided by INTEGER cross-multiplication
    (10·top1 ≤ 2·n — no float at the boundary). Plan: the unigram
    and bigram explosions fan out map-side from the scan and
    collapse in doc-keyed hash aggregates; three per-doc frames
    equi-join on doc_id; one final source rollup — no windows, no
    cross-document work."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.split("text", " ").alias("ws"),
        F.size(F.split("text", " ")).cast("bigint").alias("nw"),
    ).persist()
    uni = (
        toks.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").cast("bigint").alias("top1"),
            (F.sum("c") - F.count(F.lit(1)))
            .cast("bigint")
            .alias("dup_words"),
        )
    )
    # guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) instead of being
    # empty like DuckDB's generate_series(1, 0) — a 1-token doc must
    # produce no bigrams in both engines (it then drops from the inner
    # join identically)
    bg = F.expr(
        "CASE WHEN size(ws) >= 2 THEN transform(sequence(1, size(ws) - 1), "
        "i -> concat(ws[i - 1], ' ', ws[i])) "
        "ELSE array() END"
    )
    big = (
        toks.select("doc_id", F.explode(bg).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").cast("bigint").alias("top2"))
    )
    per_doc = (
        toks.select("doc_id", "source", "nw")
        .join(uni, "doc_id")
        .join(big, "doc_id")
        .select(
            "source",
            F.when(10 * F.col("top1") <= 2 * F.col("nw"), 1)
            .otherwise(0)
            .alias("p1"),
            F.when(10 * F.col("top2") <= (F.col("nw") - 1), 1)
            .otherwise(0)
            .alias("p2"),
            F.when(10 * F.col("dup_words") <= 3 * F.col("nw"), 1)
            .otherwise(0)
            .alias("p3"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("p1").cast("bigint").alias("pass_top_unigram"),
        F.sum("p2").cast("bigint").alias("pass_top_bigram"),
        F.sum("p3").cast("bigint").alias("pass_dup_words"),
        F.sum(F.col("p1") * F.col("p2") * F.col("p3"))
        .cast("bigint")
        .alias("pass_all"),
    )


# --------------------------------------------------------------------------
# Cross-document boilerplate chunk flagging (CCNet-style shared chunks)
# --------------------------------------------------------------------------
@register(
    "boilerplate_chunk_flagging",
    oracle="""
    WITH chunks AS (
        SELECT t.doc_id, t.source,
               md5(array_to_string(ws[(c.k - 1) * 10 + 1 :
                                      (c.k - 1) * 10 + 10], ' '))
                   AS h
        FROM (SELECT doc_id, source, string_split(text, ' ') AS ws,
                     len(string_split(text, ' ')) // 10 AS nc
              FROM documents) t,
             LATERAL (SELECT UNNEST(generate_series(1, t.nc)) AS k) c
        WHERE t.nc >= 1
    ),
    shared AS (
        SELECT h FROM chunks
        GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1
    ),
    per_doc AS (
        SELECT c.doc_id, c.source,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN s.h IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS bp_chunks
        FROM chunks c LEFT JOIN shared s ON c.h = s.h
        GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
           CAST(SUM(bp_chunks) AS BIGINT) AS boilerplate_chunks,
           CAST(SUM(CASE WHEN 2 * bp_chunks >= n_chunks
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_mostly_boilerplate
    FROM per_doc GROUP BY 1
    """,
)
def boilerplate_chunk_flagging(spark, sf_dir):
    """Cross-document boilerplate detection at chunk grain — the
    CCNet/RefinedWeb move the document-grain dedup tiers can't make:
    split every document into non-overlapping 10-word chunks, digest
    each, and call a chunk BOILERPLATE when it appears in MORE THAN
    ONE document (shared headers, templates, navigation residue).
    Per source: total chunks, boilerplate chunk mass, and documents
    that are ≥50% boilerplate (2·bp ≥ n — integer compare), i.e. the
    removal candidates document-level exact dedup leaves behind.

    Plan: the chunk explosion is map-side from the scan (X164's
    sequence/slice device, non-overlapping stride); boilerplate
    status is ONE digest hash-aggregate (count distinct docs per
    digest > 1) joined back by digest equi-join; per-doc and
    per-source rollups are hash aggregates. Chunk digests shuffle —
    never text — and no window appears anywhere."""
    d = t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "source",
        F.split("text", " ").alias("ws"),
        (F.size(F.split("text", " ")) / 10)
        .cast("bigint")
        .alias("nc"),
    ).where(F.col("nc") >= 1)
    chunk = F.expr(
        "transform(sequence(1, cast(nc as int)), "
        "k -> md5(array_join(slice(ws, (k - 1) * 10 + 1, 10), ' ')))"
    )
    chunks = base.select(
        "doc_id", "source", F.explode(chunk).alias("h")
    ).persist()
    shared = (
        chunks.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("h", F.lit(1).alias("bp"))
    )
    per_doc = (
        chunks.join(shared, "h", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.coalesce(F.col("bp"), F.lit(0)))
            .cast("bigint")
            .alias("bp_chunks"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chunks").cast("bigint").alias("n_chunks"),
        F.sum("bp_chunks").cast("bigint").alias("boilerplate_chunks"),
        F.sum(
            F.when(2 * F.col("bp_chunks") >= F.col("n_chunks"), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("docs_mostly_boilerplate"),
    )


# --------------------------------------------------------------------------
# Shannon entropy + Simpson index of the token distribution per source
# --------------------------------------------------------------------------
@register(
    "shannon_simpson_diversity",
    oracle="""
    WITH uw AS (
        SELECT source, UNNEST(string_split(text, ' ')) AS w
        FROM documents
    ),
    tc AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM uw GROUP BY 1, 2
    ),
    tot AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS v,
               CAST(SUM(c * (c - 1)) AS BIGINT) AS s2
        FROM tc GROUP BY 1
    ),
    ent AS (
        SELECT tc.source,
               SUM(CAST(round(
                   CAST(tc.c AS DOUBLE) / t.n
                   * ln(CAST(tc.c AS DOUBLE) / t.n), 12)
                   AS DECIMAL(38,12))) AS h_neg
        FROM tc JOIN tot t ON tc.source = t.source
        GROUP BY 1
    )
    SELECT t.source, t.n AS n_tokens, t.v AS vocab,
           round(-CAST(e.h_neg AS DOUBLE), 6) AS shannon_nats,
           round(1.0 - CAST(t.s2 AS DOUBLE)
                       / (CAST(t.n AS DOUBLE) * (t.n - 1)), 9)
               AS simpson_index,
           round(-CAST(e.h_neg AS DOUBLE) / ln(CAST(t.v AS DOUBLE)), 9)
               AS pielou_evenness
    FROM tot t JOIN ent e ON t.source = e.source
    """,
)
def shannon_simpson_diversity(spark, sf_dir):
    """Token-distribution diversity per source: Shannon entropy
    (nats), the unbiased Simpson diversity 1 − Σc(c−1)/(n(n−1)), and
    Pielou evenness H/ln(V) — the corpus-health panel that
    distinguishes a source with rich vocabulary from one repeating a
    template (low entropy, low evenness) BEFORE the mixture weights
    are chosen; complements Heaps/Zipf (X-series) which fit growth,
    not balance.

    Simpson is EXACT integer arithmetic until one division; Shannon
    folds per-token p·ln(p) terms rounded to 1e-12 into a DECIMAL sum
    — order-free, identical in both engines (each term is computed
    from exact integer counts by one expression). Plan: token explode
    collapses in a (source, token) hash aggregate; the entropy fold
    is a second source-keyed aggregate over the vocab-grain frame."""
    d = t(spark, sf_dir, "documents")
    tc = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist()
    )
    tot = tc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("bigint").alias("s2"),
    )
    p = F.col("c").cast("double") / F.col("n")
    ent = (
        tc.join(F.broadcast(tot.select("source", "n")), "source")
        .groupBy("source")
        .agg(
            F.sum(
                F.round(p * F.log(p), 12).cast("decimal(38,12)")
            ).alias("h_neg")
        )
    )
    return tot.join(ent, "source").select(
        "source",
        F.col("n").alias("n_tokens"),
        F.col("v").alias("vocab"),
        F.round(-F.col("h_neg").cast("double"), 6).alias("shannon_nats"),
        F.round(
            1.0
            - F.col("s2").cast("double")
            / (F.col("n").cast("double") * (F.col("n") - 1)),
            9,
        ).alias("simpson_index"),
        F.round(
            -F.col("h_neg").cast("double") / F.log(F.col("v").cast("double")),
            9,
        ).alias("pielou_evenness"),
    )


# --------------------------------------------------------------------------
# Lincoln-Petersen capture-recapture population estimate
# --------------------------------------------------------------------------
@register(
    "capture_recapture_lincoln",
    oracle="""
    WITH bounds AS (
        SELECT CAST(MIN(epoch_us(ts)) AS BIGINT) AS lo,
               CAST(MAX(epoch_us(ts)) AS BIGINT) AS hi
        FROM events
    ),
    marked AS (
        SELECT DISTINCT user_id FROM events, bounds
        WHERE 2 * epoch_us(ts) < lo + hi
    ),
    recap AS (
        SELECT DISTINCT user_id FROM events, bounds
        WHERE 2 * epoch_us(ts) >= lo + hi
    ),
    counts AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM marked) AS n1,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM recap) AS n2,
               (SELECT CAST(COUNT(*) AS BIGINT)
                FROM marked JOIN recap USING (user_id)) AS m
    )
    SELECT n1 AS first_half_users, n2 AS second_half_users,
           m AS seen_in_both,
           CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 AS BIGINT)
               AS chapman_estimate,
           round(sqrt(CAST((n1 + 1) AS DOUBLE) * (n2 + 1) * (n1 - m)
                      * (n2 - m)
                      / ((m + 1.0) * (m + 1) * (m + 2))), 4)
               AS std_error
    FROM counts
    """,
)
def capture_recapture_lincoln(spark, sf_dir):
    """Chapman-corrected Lincoln-Petersen capture-recapture estimate
    of the TOTAL user population from two observation windows (first
    vs second half of the event range, split at the exact µs
    midpoint): N̂ = (n₁+1)(n₂+1)/(m+1) − 1, with the standard error
    of the Chapman estimator. The ecology estimator applied to its
    warehouse use: how many users EXIST beyond the ones any single
    window observes — the denominator reach/coverage metrics silently
    need.

    The midpoint split is integer-µs (2·ts < lo+hi — no float
    midpoint), marked/recaptured are distinct-key sets, m is one
    semi-join count; the estimate is integer DIV (exact in both
    engines) and only the SE is float. Plan: one bounds aggregate
    broadcast into two distinct-key passes + a key equi-join count —
    all key-grain, no window."""
    e = t(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.unix_micros("ts")).cast("bigint").alias("lo"),
        F.max(F.unix_micros("ts")).cast("bigint").alias("hi"),
    )
    eb = e.crossJoin(F.broadcast(bounds))
    marked = (
        eb.where(2 * F.unix_micros("ts") < F.col("lo") + F.col("hi"))
        .select("user_id")
        .distinct()
    )
    recap = (
        eb.where(2 * F.unix_micros("ts") >= F.col("lo") + F.col("hi"))
        .select("user_id")
        .distinct()
    )
    n1 = marked.agg(F.count(F.lit(1)).cast("bigint").alias("n1"))
    n2 = recap.agg(F.count(F.lit(1)).cast("bigint").alias("n2"))
    m = (
        marked.join(recap, "user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    )
    c = n1.crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(m))
    n1c, n2c, mc = F.col("n1"), F.col("n2"), F.col("m")
    return c.select(
        n1c.alias("first_half_users"),
        n2c.alias("second_half_users"),
        mc.alias("seen_in_both"),
        F.expr("(n1 + 1) * (n2 + 1) DIV (m + 1) - 1")
        .cast("bigint")
        .alias("chapman_estimate"),
        F.round(
            F.sqrt(
                (n1c + 1).cast("double")
                * (n2c + 1)
                * (n1c - mc)
                * (n2c - mc)
                / ((mc + F.lit(1.0)) * (mc + 1) * (mc + 2))
            ),
            4,
        ).alias("std_error"),
    )


# --------------------------------------------------------------------------
# Gumbel block maxima fit over weekly revenue peaks
# --------------------------------------------------------------------------
@register(
    "gumbel_block_maxima",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY 1
    ),
    weekly AS (
        SELECT d // 7 AS wk, CAST(MAX(v) AS BIGINT) AS mx
        FROM daily GROUP BY 1
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(mx) AS BIGINT) AS s,
               CAST(SUM(mx * mx) AS DECIMAL(38,0)) AS ss
        FROM weekly
    )
    SELECT k AS n_blocks,
           round(sqrt(6.0 * ((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / k)
                             / (k - 1))) / pi(), 4) AS gumbel_beta,
           round(CAST(s AS DOUBLE) / k
                 - 0.5772156649015329
                   * sqrt(6.0 * ((CAST(ss AS DOUBLE)
                                  - CAST(s AS DOUBLE) * s / k)
                                 / (k - 1))) / pi(), 4) AS gumbel_mu,
           round(CAST(s AS DOUBLE) / k
                 - 0.5772156649015329
                   * sqrt(6.0 * ((CAST(ss AS DOUBLE)
                                  - CAST(s AS DOUBLE) * s / k)
                                 / (k - 1))) / pi()
                 - sqrt(6.0 * ((CAST(ss AS DOUBLE)
                                - CAST(s AS DOUBLE) * s / k)
                               / (k - 1))) / pi()
                   * ln(-ln(1.0 - 1.0 / 52.0)), 2)
               AS one_year_return_level_cents
    FROM mom
    """,
)
def gumbel_block_maxima(spark, sf_dir):
    """Extreme-value analysis of revenue peaks: weekly block maxima of
    the daily revenue series, Gumbel parameters by the method of
    moments (β = s·√6/π, μ = x̄ − γβ with Euler-Mascheroni γ), and
    the 52-week return level μ − β·ln(−ln(1−1/52)) — "the biggest
    day to expect in a year", the capacity-planning number a mean+3σ
    rule understates because daily revenue maxima are Gumbel-, not
    normal-tailed.

    Block maxima and both power sums are exact integers (cents);
    the three outputs are single float expressions from them. Plan:
    day rollup → week-max rollup → one 3-scalar moment fold; nothing
    after the first aggregate exceeds the weekly frame."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg((F.sum(dec("value", 18, 2)) * 100).cast("bigint").alias("v"))
    weekly = daily.groupBy(F.expr("d DIV 7").alias("wk")).agg(
        F.max("v").cast("bigint").alias("mx")
    )
    mom = weekly.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("mx").cast("bigint").alias("s"),
        F.sum(F.col("mx").cast("decimal(38,0)") * F.col("mx")).alias("ss"),
    )
    k, s, ss = F.col("k"), F.col("s"), F.col("ss")
    var = (ss.cast("double") - s.cast("double") * s / k) / (k - 1)
    import math

    beta = F.sqrt(6.0 * var) / math.pi
    mu = s.cast("double") / k - 0.5772156649015329 * beta
    return mom.select(
        k.alias("n_blocks"),
        F.round(beta, 4).alias("gumbel_beta"),
        F.round(mu, 4).alias("gumbel_mu"),
        F.round(
            mu - beta * math.log(-math.log(1.0 - 1.0 / 52.0)), 2
        ).alias("one_year_return_level_cents"),
    )


# --------------------------------------------------------------------------
# Friedman test (blocked rank ANOVA: event types ranked within days)
# --------------------------------------------------------------------------
@register(
    "friedman_blocked_ranks",
    oracle="""
    WITH cell AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               event_type AS g,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY 1, 2
    ),
    complete AS (
        SELECT d FROM cell GROUP BY d
        HAVING COUNT(*) = (SELECT COUNT(DISTINCT g) FROM cell)
    ),
    ranked AS (
        SELECT c.d, c.g,
               CAST(RANK() OVER (PARTITION BY c.d ORDER BY c.v)
                    AS BIGINT) * 2
               + CAST(COUNT(*) OVER (PARTITION BY c.d, c.v) AS BIGINT)
               - 1 AS rank2
        FROM cell c JOIN complete USING (d)
    ),
    rsum AS (
        SELECT g, CAST(SUM(rank2) AS BIGINT) AS r2
        FROM ranked GROUP BY g
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(r2 * r2) AS BIGINT) AS sq,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM complete) AS n
        FROM rsum
    )
    SELECT n AS n_blocks, k AS n_treatments,
           CAST(k - 1 AS BIGINT) AS dof,
           round(3.0 * CAST(sq AS DOUBLE)
                 / (CAST(n AS DOUBLE) * k * (k + 1))
                 - 3.0 * n * (k + 1), 6) + 0.0 AS friedman_chi2
    FROM fold
    """,
)
def friedman_blocked_ranks(spark, sf_dir):
    """Friedman test — the BLOCKED nonparametric ANOVA the k-sample
    tests can't replace: within every complete day (block), the five
    event types (treatments) are ranked by their daily revenue, and
    χ²_F = 12/(nk(k+1))·Σ R_j² − 3n(k+1) asks whether any type
    systematically out-ranks the others ACROSS days — day-level
    volume shifts cancel by construction, which is exactly what the
    unblocked Kruskal-Wallis cannot do (a high-traffic day inflates
    every type's values together and drowns the between-type
    signal). Days missing any type are excluded (complete-block
    design), k from the data.

    Exactness: per-cell revenues are integer cents; within-day ranks
    are 2x-scaled integers (ties → average rank, exact), so Σ R_j² =
    Σ R2_j²/4 folds as pure integers — the 12/4 = 3 coefficient in
    the final expression is that substitution, computed identically
    in both engines. Plan: one (day, type) rollup, a semi-join on
    complete days, ranks in day-partitioned windows over the ≤ k-row
    per-day frames, one treatment rollup — no global sort, no
    single-partition exchange."""
    e = t(spark, sf_dir, "events")
    cell = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("d"),
        F.col("event_type").alias("g"),
    ).agg((F.sum(dec("value", 18, 2)) * 100).cast("bigint").alias("v"))
    cell = cell.persist()
    k_all = cell.agg(
        F.countDistinct("g").cast("bigint").alias("k_all")
    )
    complete = (
        cell.groupBy("d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
        .crossJoin(F.broadcast(k_all))
        .where(F.col("nt") == F.col("k_all"))
        .select("d")
    )
    wday = Window.partitionBy("d").orderBy("v")
    rank2 = (
        F.rank().over(wday).cast("bigint") * 2
        + F.count(F.lit(1))
        .over(Window.partitionBy("d", "v"))
        .cast("bigint")
        - 1
    )
    ranked = cell.join(complete, "d").select(
        "g", rank2.alias("rank2")
    )
    rsum = ranked.groupBy("g").agg(
        F.sum("rank2").cast("bigint").alias("r2")
    )
    nb = complete.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    fold = rsum.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.col("r2") * F.col("r2")).cast("bigint").alias("sq"),
    ).crossJoin(F.broadcast(nb))
    n, k = F.col("n"), F.col("k")
    return fold.select(
        n.alias("n_blocks"),
        k.alias("n_treatments"),
        (k - 1).cast("bigint").alias("dof"),
        (
            F.round(
                3.0
                * F.col("sq").cast("double")
                / (n.cast("double") * k * (k + 1))
                - 3.0 * n * (k + 1),
                6,
            )
            + 0.0
        ).alias("friedman_chi2"),
    )


# --------------------------------------------------------------------------
# Log-rank test between weekend- and weekday-started session cohorts
# --------------------------------------------------------------------------
@register(
    "log_rank_sessions",
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
               CASE WHEN MAX(ts) <= (SELECT mx FROM bounds)
                                    - INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS completed,
               CASE WHEN CAST(epoch_us(MIN(ts)) // 86400000000 + 3 AS
                             BIGINT) % 7 >= 5
                    THEN 1 ELSE 0 END AS wkend
        FROM grouped GROUP BY user_id, session_id
    ),
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
               SUM(e1) OVER (ORDER BY dur DESC
                             ROWS UNBOUNDED PRECEDING) AS n1,
               SUM(e) OVER (ORDER BY dur DESC
                            ROWS UNBOUNDED PRECEDING) AS n
        FROM grid
    ),
    fold AS (
        SELECT SUM(CAST(round(d1 - d * CAST(n1 AS DOUBLE) / n, 9)
                        AS DECIMAL(38,9))) AS oe,
               SUM(CAST(round(
                   CASE WHEN n > 1 THEN
                       d * (CAST(n1 AS DOUBLE) / n)
                         * (1.0 - CAST(n1 AS DOUBLE) / n)
                         * (n - d) / (n - 1)
                   ELSE 0 END, 9) AS DECIMAL(38,9))) AS v,
               CAST(SUM(d1) AS BIGINT) AS deaths_wkend,
               CAST(SUM(d) AS BIGINT) AS deaths_total
        FROM risk WHERE d > 0
    )
    SELECT deaths_wkend, deaths_total,
           round(CAST(oe AS DOUBLE), 6) + 0.0 AS o_minus_e,
           round(CAST(oe AS DOUBLE) / sqrt(CAST(v AS DOUBLE)), 6) + 0.0
               AS log_rank_z
    FROM fold
    """,
)
def log_rank_sessions(spark, sf_dir):
    """Log-rank test between weekend-started and weekday-started
    session cohorts — the two-sample companion the survival pair
    (``kaplan_meier_sessions`` / ``nelson_aalen_hazard``) needs to
    say whether two survival curves DIFFER, not just what each looks
    like: at every distinct session duration with deaths, O₁−E₁ =
    d₁ − d·n₁/n against the hypergeometric variance, Z = Σ(O−E)/√ΣV.
    Session grain, censoring rule (alive within 30 min of the window
    edge), and the 30-minute gap are IDENTICAL to the KM query, so
    the three read as one survival-analysis surface; the cohort flag
    (first event on Sat/Sun, Thursday-anchored epoch-day arithmetic —
    locale-free) is decided per session at birth.

    Exactness: per-duration death/ending counts and both risk-set
    suffix sums are exact integers; each duration's O−E and V terms
    are rounded to 1e-9 and folded in DECIMAL (order-free); Z is one
    float expression. Plan: the sessionization shuffle (user-keyed
    windows), one (duration, cohort) rollup, suffix sums on the
    duration GRID (domain-bounded, ~minutes — the calendar-class
    frame), one fold."""
    e = t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(wu).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wu))
                > 30 * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    grouped = flagged.select(
        "user_id",
        "ts",
        F.sum("new_session")
        .over(wu.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    )
    mx = e.agg(F.max(F.unix_micros("ts")).alias("mx_us"))
    sessions = (
        grouped.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("s_ts"),
            F.max("ts").alias("e_ts"),
        )
        .withColumn("lo_us", F.unix_micros("s_ts"))
        .withColumn("hi_us", F.unix_micros("e_ts"))
        .crossJoin(F.broadcast(mx))
        .select(
            # minute-BOUNDARY count (DuckDB date_diff semantics), the
            # same rule kaplan_meier_sessions pins — not floored elapsed
            (
                (
                    F.unix_micros(F.date_trunc("minute", "e_ts"))
                    - F.unix_micros(F.date_trunc("minute", "s_ts"))
                )
                / 60_000_000
            )
            .cast("bigint")
            .alias("dur"),
            F.when(
                F.col("hi_us") <= F.col("mx_us") - 30 * 60 * 1_000_000, 1
            )
            .otherwise(0)
            .alias("completed"),
            # +3 anchor: epoch day 0 = Thursday, so (d+3)%7 maps
            # Sat -> 5, Sun -> 6 (a +4 anchor would flag Fri/Sat)
            F.when(
                (F.floor(F.col("lo_us") / 86_400_000_000) + 3) % 7 >= 5, 1
            )
            .otherwise(0)
            .alias("wkend"),
        )
    )
    grid = sessions.groupBy("dur").agg(
        F.sum(F.col("wkend") * F.col("completed"))
        .cast("bigint")
        .alias("d1"),
        F.sum("completed").cast("bigint").alias("d"),
        F.sum("wkend").cast("bigint").alias("e1"),
        F.count(F.lit(1)).cast("bigint").alias("e"),
    )
    wrev = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = grid.select(
        "dur",
        "d1",
        "d",
        F.sum("e1").over(wrev).cast("bigint").alias("n1"),
        F.sum("e").over(wrev).cast("bigint").alias("n"),
    ).where(F.col("d") > 0)
    p1 = F.col("n1").cast("double") / F.col("n")
    fold = risk.agg(
        F.sum(
            F.round(F.col("d1") - F.col("d") * p1, 9).cast(
                "decimal(38,9)"
            )
        ).alias("oe"),
        F.sum(
            F.round(
                F.when(
                    F.col("n") > 1,
                    F.col("d")
                    * p1
                    * (1.0 - p1)
                    * (F.col("n") - F.col("d"))
                    / (F.col("n") - 1),
                ).otherwise(0.0),
                9,
            ).cast("decimal(38,9)")
        ).alias("v"),
        F.sum("d1").cast("bigint").alias("deaths_wkend"),
        F.sum("d").cast("bigint").alias("deaths_total"),
    )
    return fold.select(
        "deaths_wkend",
        "deaths_total",
        (F.round(F.col("oe").cast("double"), 6) + 0.0).alias("o_minus_e"),
        (
            F.round(
                F.col("oe").cast("double")
                / F.sqrt(F.col("v").cast("double")),
                6,
            )
            + 0.0
        ).alias("log_rank_z"),
    )


# --------------------------------------------------------------------------
# Jarque-Bera normality test on event values
# --------------------------------------------------------------------------
@register(
    "jarque_bera_normality",
    oracle="""
    WITH v AS (
        SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        FROM events
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
               CAST(s2 AS DOUBLE) / n
                   - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                   AS m2,
               CAST(s3 AS DOUBLE) / n
                   - 3.0 * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s2 AS DOUBLE) / n)
                   + 2.0 * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n) AS m3,
               CAST(s4 AS DOUBLE) / n
                   - 4.0 * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s3 AS DOUBLE) / n)
                   + 6.0 * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s2 AS DOUBLE) / n)
                   - 3.0 * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n) AS m4
        FROM mom
    )
    SELECT n AS n_events,
           round(m3 / (m2 * sqrt(m2)), 9) + 0.0 AS skewness,
           round(m4 / (m2 * m2), 9) AS kurtosis,
           round(n / 6.0 * ((m3 / (m2 * sqrt(m2)))
                            * (m3 / (m2 * sqrt(m2)))
                            + (m4 / (m2 * m2) - 3.0)
                              * (m4 / (m2 * m2) - 3.0) / 4.0), 6)
               AS jarque_bera
    FROM cm
    """,
)
def jarque_bera_normality(spark, sf_dir):
    """Jarque-Bera normality test on event values — the one check no
    registered query makes: skewness S = m₃/m₂^1.5 and kurtosis K =
    m₄/m₂² from the first four power sums, JB = n/6·(S² + (K−3)²/4).
    The gate a pipeline runs BEFORE trusting mean±kσ alerting or a
    t-test on raw values (the heavy-tailed event values here fail it
    spectacularly — which is precisely the point: it justifies the
    registry's rank/robust tier).

    Exactness: all four raw power sums are exact integers on cents —
    x⁴ rides DECIMAL(38,0) from the first multiply (cents⁴ overflows
    int64 per ROW at ~$2k values; Σx⁴ stays < 10³⁸ through ~10¹³
    rows); the central-moment conversion and JB are one identical
    float expression tree in both engines. Plan: ONE hash aggregate
    over events, scalar algebra on the 1-row fold."""
    e = t(spark, sf_dir, "events")
    x = (dec("value", 18, 2) * 100).cast("bigint")
    xd = x.cast("decimal(38,0)")
    mom = e.select(x.alias("x"), xd.alias("xd")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.col("xd") * F.col("x")).alias("s2"),
        F.sum(F.col("xd") * F.col("x") * F.col("x")).alias("s3"),
        F.sum(
            F.col("xd") * F.col("x") * F.col("x") * F.col("x")
        ).alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1").cast("double") / n
    r2 = F.col("s2").cast("double") / n
    r3 = F.col("s3").cast("double") / n
    r4 = F.col("s4").cast("double") / n
    m2 = r2 - mu * mu
    m3 = r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu
    m4 = r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2 - 3.0 * mu * mu * mu * mu
    s = m3 / (m2 * F.sqrt(m2))
    k = m4 / (m2 * m2)
    return mom.select(
        n.alias("n_events"),
        (F.round(s, 9) + 0.0).alias("skewness"),
        F.round(k, 9).alias("kurtosis"),
        F.round(
            n / 6.0 * (s * s + (k - 3.0) * (k - 3.0) / 4.0), 6
        ).alias("jarque_bera"),
    )


# --------------------------------------------------------------------------
# Durbin-Watson statistic on daily-revenue trend residuals
# --------------------------------------------------------------------------
@register(
    "durbin_watson_trend_residuals",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(d) AS BIGINT) AS sd,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(CAST(d AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))
                   AS sdy,
               CAST(SUM(CAST(d AS DECIMAL(38,0)) * d) AS DECIMAL(38,0))
                   AS sdd
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
    resid AS (
        SELECT daily.d, daily.y - (beta.a + beta.b * daily.d) AS e
        FROM daily, beta
    ),
    folds AS (
        SELECT
            (SELECT SUM(CAST(round(e * e, 6) AS DECIMAL(38,6)))
             FROM resid) AS sse,
            (SELECT SUM(CAST(round((r2.e - r1.e) * (r2.e - r1.e), 6)
                             AS DECIMAL(38,6)))
             FROM resid r1 JOIN resid r2 ON r2.d = r1.d + 1) AS sdiff,
            (SELECT CAST(COUNT(*) AS BIGINT)
             FROM resid r1 JOIN resid r2 ON r2.d = r1.d + 1)
                AS n_consecutive
    )
    SELECT (SELECT n FROM beta) AS n_days, n_consecutive,
           round((SELECT b FROM beta), 6) + 0.0 AS trend_slope,
           round(CAST(sdiff AS DOUBLE) / CAST(sse AS DOUBLE), 6)
               AS durbin_watson
    FROM folds
    """,
)
def durbin_watson_trend_residuals(spark, sf_dir):
    """Durbin-Watson statistic on the residuals of the daily-revenue
    linear trend — the serial-correlation check that tells you
    whether the OLS trend line's error bars are lies: DW =
    Σ(e_t−e_{t−1})²/Σe_t² ≈ 2(1−ρ₁); DW ≪ 2 means positively
    autocorrelated residuals (the usual case on business series) and
    every naive confidence interval on the slope is too narrow.
    Closes the regression loop: `ols_normal_equations` fits,
    `acf_ljung_box` tests the raw series, THIS tests what remains
    after detrending.

    Exactness: the trend fit comes from exact integer sums (day index
    × cents ride DECIMAL(38,0)); residuals are one identical float
    expression per day; both folds (SSE and the consecutive-day
    difference sum) round terms to 1e-6 and sum in DECIMAL —
    order-free. Consecutive pairs come from a d = d+1 self-join on
    the day grid (gaps excluded in both engines identically — no lag
    window). Plan: one day rollup, a 5-scalar fit broadcast back, a
    bounded calendar-grid self-join."""
    e = t(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            F.floor(F.unix_micros("ts") / 86_400_000_000)
            .cast("bigint")
            .alias("d")
        )
        .agg((F.sum(dec("value", 18, 2)) * 100).cast("bigint").alias("y"))
        .persist()
    )
    fit = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("sd"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("y")).alias("sdy"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")).alias("sdd"),
    )
    n = F.col("n")
    b = (
        n * F.col("sdy").cast("double")
        - F.col("sd").cast("double") * F.col("sy")
    ) / (
        n * F.col("sdd").cast("double")
        - F.col("sd").cast("double") * F.col("sd")
    )
    beta = fit.select(
        "n", b.alias("b"),
        (
            (F.col("sy").cast("double") - b * F.col("sd")) / n
        ).alias("a"),
    )
    resid = daily.crossJoin(F.broadcast(beta)).select(
        "d",
        (F.col("y") - (F.col("a") + F.col("b") * F.col("d"))).alias("e"),
        "n",
        "b",
    ).persist()
    sse = resid.agg(
        F.sum(
            F.round(F.col("e") * F.col("e"), 6).cast("decimal(38,6)")
        ).alias("sse")
    )
    r1, r2 = resid.alias("r1"), resid.alias("r2")
    diff = r1.join(
        F.broadcast(r2), F.col("r2.d") == F.col("r1.d") + 1
    ).agg(
        F.sum(
            F.round(
                (F.col("r2.e") - F.col("r1.e"))
                * (F.col("r2.e") - F.col("r1.e")),
                6,
            ).cast("decimal(38,6)")
        ).alias("sdiff"),
        F.count(F.lit(1)).cast("bigint").alias("n_consecutive"),
    )
    nb = resid.select("n", "b").limit(1)
    return (
        sse.crossJoin(F.broadcast(diff))
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("n").alias("n_days"),
            "n_consecutive",
            (F.round(F.col("b"), 6) + 0.0).alias("trend_slope"),
            F.round(
                F.col("sdiff").cast("double")
                / F.col("sse").cast("double"),
                6,
            ).alias("durbin_watson"),
        )
    )


# --------------------------------------------------------------------------
# Embedding dimension covariance / correlation block (drift + whitening)
# --------------------------------------------------------------------------
@register(
    "embedding_dim_covariance",
    oracle="""
    WITH el AS (
        SELECT vec_id, i.i AS i,
               CAST(embedding[i.i] AS DECIMAL(18,9)) AS x
        FROM embeddings,
             LATERAL (SELECT UNNEST(generate_series(1, 8)) AS i) i
    ),
    n AS (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n FROM el),
    pair AS (
        SELECT a.i AS i, b.i AS j,
               SUM(a.x * b.x) AS sxy
        FROM el a JOIN el b
          ON a.vec_id = b.vec_id AND a.i <= b.i
        GROUP BY 1, 2
    ),
    mean AS (
        SELECT i, SUM(x) AS sx FROM el GROUP BY 1
    ),
    cov AS (
        -- sxy is DECIMAL scale 18: its scaled integer exceeds 2^53,
        -- where DuckDB's decimal->double path double-rounds; round to
        -- scale 12 first (same op both engines) so the cast is exact
        SELECT p.i, p.j,
               CAST(CAST(round(p.sxy, 12) AS DECIMAL(38,12)) AS DOUBLE)
                   / n.n
               - (CAST(ma.sx AS DOUBLE) / n.n)
                 * (CAST(mb.sx AS DOUBLE) / n.n) AS c
        FROM pair p
        JOIN mean ma ON p.i = ma.i
        JOIN mean mb ON p.j = mb.i
        CROSS JOIN n
    )
    SELECT CAST(c1.i AS BIGINT) AS dim_i, CAST(c1.j AS BIGINT) AS dim_j,
           round(c1.c, 9) + 0.0 AS covariance,
           -- correlation from the ROUND-9 covariances: the unrounded
           -- doubles can differ in the last ulps across engines (float
           -- cast ties), and the ratio amplifies that past round(9);
           -- the rounded inputs are bit-identical by the line above
           round(round(c1.c, 9)
                 / sqrt(round(dii.c, 9) * round(djj.c, 9)), 9) + 0.0
               AS correlation
    FROM cov c1
    JOIN cov dii ON dii.i = c1.i AND dii.j = c1.i
    JOIN cov djj ON djj.i = c1.j AND djj.j = c1.j
    """,
)
def embedding_dim_covariance(spark, sf_dir):
    """Embedding-dimension covariance/correlation block (dims 1-8,
    upper triangle) — the drift/whitening primitive the vector tier
    lacked: correlated dimensions mean the embedding space is not
    isotropic (PCA-whitening or learned projections change recall),
    and a covariance SHIFT between two snapshots is embedding-model
    drift the per-dimension means miss. The 8×8 block certifies the
    plan; the full d×d Gram is the identical shape (the d² cell
    count, not the row count, bounds the output) — measured: the
    complete 64×64 upper triangle (2,080 exact-decimal cells) over
    sf0.1 computes in ~0.55 s warm on local[32].

    Exactness: float32 elements cast to DECIMAL(18,9) (deterministic
    double→decimal rounding, the repo's `dec` doctrine), so Σx and
    Σx·y are EXACT decimal folds at any partitioning; covariance and
    correlation are identical float expressions from them. Plan: one
    8-way posexplode (map-side), one vec_id-keyed self-join for the
    36 pair products collapsing straight into a (i,j) hash aggregate,
    means and the diagonal joined on the 36-row cell frame. At 100 TB
    the only data-sized cost is the explode + hash agg — the
    covariance accumulates map-side exactly like the OLS Gram."""
    emb = t(spark, sf_dir, "embeddings")
    el = emb.select(
        "vec_id", F.posexplode("embedding").alias("p", "xf")
    ).where(F.col("p") < 8).select(
        "vec_id",
        (F.col("p") + 1).cast("bigint").alias("i"),
        F.col("xf").cast("decimal(18,9)").alias("x"),
    ).persist()
    n = el.agg(
        F.countDistinct("vec_id").cast("bigint").alias("n")
    )
    a, b = el.alias("a"), el.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.vec_id") == F.col("b.vec_id"))
            & (F.col("a.i") <= F.col("b.i")),
        )
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(F.sum(F.col("a.x") * F.col("b.x")).alias("sxy"))
    )
    mean = el.groupBy("i").agg(F.sum("x").alias("sx"))
    ma = mean.select(F.col("i").alias("i"), F.col("sx").alias("sxa"))
    mb = mean.select(F.col("i").alias("j"), F.col("sx").alias("sxb"))
    nn = F.col("n")
    cov = (
        pair.join(F.broadcast(ma), "i")
        .join(F.broadcast(mb), "j")
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            (
                F.round(F.col("sxy"), 12).cast("double") / nn
                - (F.col("sxa").cast("double") / nn)
                * (F.col("sxb").cast("double") / nn)
            ).alias("c"),
        )
        .persist()
    )
    diag = cov.where(F.col("i") == F.col("j")).select(
        F.col("i").alias("dd"), F.col("c").alias("cd")
    )
    dii = diag.select(F.col("dd").alias("i"), F.col("cd").alias("cii"))
    djj = diag.select(F.col("dd").alias("j"), F.col("cd").alias("cjj"))
    return (
        cov.join(F.broadcast(dii), "i")
        .join(F.broadcast(djj), "j")
        .select(
            F.col("i").alias("dim_i"),
            F.col("j").alias("dim_j"),
            (F.round(F.col("c"), 9) + 0.0).alias("covariance"),
            (
                F.round(
                    F.round(F.col("c"), 9)
                    / F.sqrt(
                        F.round(F.col("cii"), 9)
                        * F.round(F.col("cjj"), 9)
                    ),
                    9,
                )
                + 0.0
            ).alias("correlation"),
        )
    )


# --------------------------------------------------------------------------
# Bartlett's test for homogeneity of variances (event types)
# --------------------------------------------------------------------------
@register(
    "bartlett_variance_test",
    oracle="""
    WITH grp AS (
        SELECT event_type AS g, CAST(COUNT(*) AS BIGINT) AS ng,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS s,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)
                        * CAST(CAST(value AS DECIMAL(18,2)) * 100
                               AS BIGINT)) AS DECIMAL(38,0)) AS ss
        FROM events GROUP BY 1
    ),
    v AS (
        SELECT g, ng,
               (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / ng)
                   / (ng - 1) AS var
        FROM grp
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(ng) AS BIGINT) AS n,
               SUM(CAST(round((ng - 1) * var, 2) AS DECIMAL(38,2)))
                   AS pooled_num,
               SUM(CAST(round((ng - 1) * ln(var), 8) AS DECIMAL(38,8)))
                   AS sln,
               SUM(CAST(round(1.0 / (ng - 1), 12) AS DECIMAL(38,12)))
                   AS sinv
        FROM v
    )
    SELECT n AS n_events, k AS n_groups, CAST(k - 1 AS BIGINT) AS dof,
           round(CAST(pooled_num AS DOUBLE) / (n - k), 4) AS pooled_var,
           round(((n - k) * ln(CAST(pooled_num AS DOUBLE) / (n - k))
                  - CAST(sln AS DOUBLE))
                 / (1.0 + (CAST(sinv AS DOUBLE) - 1.0 / (n - k))
                          / (3.0 * (k - 1))), 6) + 0.0 AS t_stat
    FROM fold
    """,
)
def bartlett_variance_test(spark, sf_dir):
    """Bartlett's test: do the five event types share one variance?
    T = ((N−k)·ln Sp² − Σ(n_i−1)·ln S_i²) / C with
    C = 1 + (Σ1/(n_i−1) − 1/(N−k)) / (3(k−1)) — the
    likelihood-ratio counterpart of the already-registered
    ``levene_brown_forsythe`` (Levene is robust to non-normality;
    Bartlett is the more powerful parametric form, and a pipeline
    reports both). Pairs with ``welch_anova_types``: Bartlett decides
    whether Welch's unequal-variance correction is even needed.

    Exactness: per-group n/Σx/Σx² are exact integer/decimal folds in
    cents (Σx² through DECIMAL(38,0) — per-event cents² can overflow
    int64 at scale); each group's variance is then an identical IEEE
    double in both engines, and the cross-group folds of
    (n_i−1)·S_i², (n_i−1)·ln S_i², 1/(n_i−1) are rounded to fixed
    scale and summed in DECIMAL — order-free. Plan: one hash
    aggregate over the event scan (partial map-side combine), then a
    5-row fold; no window, no shuffle beyond the group-by."""
    e = t(spark, sf_dir, "events")
    cents = (dec("value", 18, 2) * 100).cast("bigint")
    grp = e.groupBy(F.col("event_type").alias("g")).agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum(cents).cast("bigint").alias("s"),
        F.sum(cents.cast("decimal(38,0)") * cents.cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    ng = F.col("ng").cast("double")
    var = (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / ng) / (
        ng - 1
    )
    v = grp.select("g", "ng", var.alias("var"))
    fold = v.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("ng").cast("bigint").alias("n"),
        F.sum(
            F.round((F.col("ng") - 1) * F.col("var"), 2).cast("decimal(38,2)")
        ).alias("pooled_num"),
        F.sum(
            F.round((F.col("ng") - 1) * F.log(F.col("var")), 8).cast(
                "decimal(38,8)"
            )
        ).alias("sln"),
        F.sum(
            F.round(F.lit(1.0) / (F.col("ng") - 1), 12).cast("decimal(38,12)")
        ).alias("sinv"),
    )
    n, k = F.col("n"), F.col("k")
    pooled = F.col("pooled_num").cast("double") / (n - k)
    c_corr = 1.0 + (F.col("sinv").cast("double") - 1.0 / (n - k)) / (
        3.0 * (k - F.lit(1))
    )
    return fold.select(
        n.alias("n_events"),
        k.alias("n_groups"),
        (k - 1).cast("bigint").alias("dof"),
        F.round(pooled, 4).alias("pooled_var"),
        (
            F.round(
                ((n - k) * F.log(pooled) - F.col("sln").cast("double")) / c_corr,
                6,
            )
            + 0.0
        ).alias("t_stat"),
    )


# --------------------------------------------------------------------------
# Poisson dispersion index of daily event counts (per event type)
# --------------------------------------------------------------------------
@register(
    "poisson_dispersion_index",
    oracle="""
    WITH days AS (
        SELECT DISTINCT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d
        FROM events
    ),
    types AS (SELECT DISTINCT event_type AS g FROM events),
    cnt AS (
        SELECT event_type AS g,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    grid AS (
        SELECT ty.g, dy.d, COALESCE(c.c, 0) AS c
        FROM types ty CROSS JOIN days dy
        LEFT JOIN cnt c ON c.g = ty.g AND c.d = dy.d
    ),
    agg AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS nd,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(c * c) AS BIGINT) AS ss
        FROM grid GROUP BY g
    )
    SELECT g AS event_type, nd AS n_days,
           round(CAST(s AS DOUBLE) / nd, 6) AS mean_daily,
           round((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / nd)
                 / (nd - 1) / (CAST(s AS DOUBLE) / nd), 6) + 0.0
               AS dispersion_index,
           round((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / nd)
                 / (CAST(s AS DOUBLE) / nd), 6) + 0.0 AS chi2_stat
    FROM agg
    ORDER BY event_type
    """,
)
def poisson_dispersion_index(spark, sf_dir):
    """Index of dispersion for each event type's DAILY arrival
    counts: D = s²/c̄ (1 under a Poisson process; >1 overdispersed /
    bursty, <1 regular), with the classic dispersion chi-square
    Σ(c−c̄)²/c̄ on n_days−1 dof. The arrival-process health check a
    capacity planner runs before assuming Poisson traffic — and the
    count-data complement of ``runs_test_randomness`` (which tests
    sign patterns, not rates).

    The day grid is the GLOBAL observed-day calendar cross-joined
    with the type dimension and zero-filled — a type with no events
    on a day must contribute c=0, not silently drop the day (both
    engines build the identical grid). Counts/Σc/Σc² are exact
    integers; only the two final ratios are float. Plan: one
    hash-aggregate day×type rollup, a broadcast cross of two tiny
    dims, one more hash aggregate — no window, bounded by the
    calendar domain."""
    e = t(spark, sf_dir, "events")
    day = F.floor(F.unix_micros("ts") / 86_400_000_000).cast("bigint")
    cnt = (
        e.groupBy(F.col("event_type").alias("g"), day.alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist()
    )
    days = cnt.select("d").distinct()
    types = cnt.select("g").distinct()
    grid = (
        types.crossJoin(F.broadcast(days))
        .join(F.broadcast(cnt), ["g", "d"], "left")
        .select("g", "d", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    agg = grid.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ss"),
    )
    nd = F.col("nd").cast("double")
    s = F.col("s").cast("double")
    css = F.col("ss").cast("double") - s * s / nd
    mean = s / nd
    return (
        agg.select(
            F.col("g").alias("event_type"),
            F.col("nd").alias("n_days"),
            F.round(mean, 6).alias("mean_daily"),
            (F.round(css / (nd - 1) / mean, 6) + 0.0).alias(
                "dispersion_index"
            ),
            (F.round(css / mean, 6) + 0.0).alias("chi2_stat"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Pettitt changepoint test on the daily revenue series
# --------------------------------------------------------------------------
@register(
    "pettitt_changepoint",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY 1
    ),
    pairs AS (
        SELECT x.d AS di, y.d AS dj,
               CASE WHEN x.v > y.v THEN 1
                    WHEN x.v < y.v THEN -1 ELSE 0 END AS sg
        FROM daily x JOIN daily y ON x.d < y.d
    ),
    ut AS (
        SELECT t.d AS td, CAST(COALESCE(SUM(p.sg), 0) AS BIGINT) AS u
        FROM daily t LEFT JOIN pairs p
          ON p.di <= t.d AND t.d < p.dj
        GROUP BY t.d
    ),
    nk AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n,
               CAST(MAX(ABS(u)) AS BIGINT) AS k,
               CAST(MIN(CASE WHEN ABS(u) = (SELECT MAX(ABS(u)) FROM ut)
                             THEN td END) AS BIGINT) AS t_star
        FROM ut
    )
    SELECT n AS n_days, k AS k_stat, t_star AS t_star_day,
           round(-6.0 * CAST(k AS DOUBLE) * k
                 / (CAST(n AS DOUBLE) * n * n
                    + CAST(n AS DOUBLE) * n), 9) + 0.0 AS ln_half_p,
           round(2.0 * exp(-6.0 * CAST(k AS DOUBLE) * k
                 / (CAST(n AS DOUBLE) * n * n
                    + CAST(n AS DOUBLE) * n)), 9) + 0.0 AS p_approx
    FROM nk
    """,
)
def pettitt_changepoint(spark, sf_dir):
    """Pettitt's nonparametric changepoint test on daily revenue:
    U_t = Σ_{i≤t<j} sign(v_i − v_j), K = max_t |U_t|, the most
    likely single break at t* = argmin-day attaining K, with the
    standard approximation p ≈ 2·exp(−6K²/(n³+n²)). Completes the
    regime-shift triad: ``cusum_changepoint_scan`` needs a known
    target mean, ``mann_kendall_trend`` detects monotone drift —
    Pettitt LOCATES a rank-level step without either assumption.

    Every U_t is an exact integer (signs of exact cent totals summed
    over day pairs); t* tie-breaks deterministically to the earliest
    day; only the closing exp is float, reported with its exact-form
    exponent (ln_half_p) beside it because K² grows ~n⁴ and the
    p-value underflows to a rounded 0 on strongly-shifted series.
    Plan: one day rollup off the event scan, then a triangular pair
    join and a prefix membership join both on the ~n_days calendar
    grid (≤ n³ grid-grain rows, never event-grain), small sides
    broadcast; no window operator."""
    e = t(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            F.floor(F.unix_micros("ts") / 86_400_000_000)
            .cast("bigint")
            .alias("d")
        )
        .agg((F.sum(dec("value", 18, 2)) * 100).cast("bigint").alias("v"))
        .persist()
    )
    x, y = daily.alias("x"), daily.alias("y")
    pairs = x.join(F.broadcast(y), F.col("x.d") < F.col("y.d")).select(
        F.col("x.d").alias("di"),
        F.col("y.d").alias("dj"),
        F.when(F.col("x.v") > F.col("y.v"), 1)
        .when(F.col("x.v") < F.col("y.v"), -1)
        .otherwise(0)
        .alias("sg"),
    )
    ut = (
        daily.select(F.col("d").alias("td"))
        .join(
            F.broadcast(pairs),
            (F.col("di") <= F.col("td")) & (F.col("td") < F.col("dj")),
            "left",
        )
        .groupBy("td")
        .agg(F.coalesce(F.sum("sg"), F.lit(0)).cast("bigint").alias("u"))
    )
    nk = ut.agg(
        F.max(F.abs(F.col("u"))).cast("bigint").alias("k"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    tstar = (
        ut.join(F.broadcast(nk), F.abs(F.col("u")) == F.col("k"))
        .agg(F.min("td").cast("bigint").alias("t_star"))
    )
    n, k = F.col("n").cast("double"), F.col("k").cast("double")
    expo = -6.0 * k * k / (n * n * n + n * n)
    return nk.crossJoin(F.broadcast(tstar)).select(
        F.col("n").alias("n_days"),
        F.col("k").alias("k_stat"),
        F.col("t_star").alias("t_star_day"),
        (F.round(expo, 9) + 0.0).alias("ln_half_p"),
        (F.round(2.0 * F.exp(expo), 9) + 0.0).alias("p_approx"),
    )


# --------------------------------------------------------------------------
# Cochran's Q: do the five event types occur equally often per user-day?
# --------------------------------------------------------------------------
@register(
    "cochran_q_test",
    oracle="""
    WITH x AS (
        SELECT DISTINCT user_id,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               event_type
        FROM events
    ),
    row_tot AS (
        SELECT user_id, d, CAST(COUNT(*) AS BIGINT) AS r
        FROM x GROUP BY user_id, d
    ),
    col_tot AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM x GROUP BY event_type
    ),
    kk AS (
        SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k
        FROM events
    ),
    rf AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS b,
               CAST(SUM(r) AS BIGINT) AS n,
               CAST(SUM(r * r) AS BIGINT) AS sr2
        FROM row_tot
    ),
    cf AS (SELECT CAST(SUM(c * c) AS BIGINT) AS sc2 FROM col_tot)
    SELECT rf.b AS n_subjects, kk.k AS k_treatments,
           CAST(kk.k - 1 AS BIGINT) AS dof,
           rf.n AS n_marks,
           round((kk.k - 1.0)
                 * (kk.k * CAST(cf.sc2 AS DOUBLE)
                    - CAST(rf.n AS DOUBLE) * rf.n)
                 / (kk.k * CAST(rf.n AS DOUBLE) - rf.sr2), 6) + 0.0
               AS q_stat
    FROM rf, cf, kk
    """,
)
def cochran_q_test(spark, sf_dir):
    """Cochran's Q over user-day "blocks": treating each (user, day)
    with any activity as a subject and each of the five event types
    as a binary treatment response (did that type occur for that
    user that day?), Q = (k−1)(k·ΣC_j² − N²)/(k·N − ΣR_i²) tests
    whether the five types have equal occurrence probability within
    blocks — the k-treatment generalization of the registered
    ``mcnemar_paired_outcomes`` (k=2 Cochran IS McNemar without
    continuity correction), completing the paired-categorical
    surface. Blocks whose row total equals k still enter all sums;
    subjects are exactly the user-days present in the data, a
    definition both engines construct identically.

    Every term (ΣC², ΣR², N, b, k) is an exact integer; Q alone is
    float, rounded once. Plan: one DISTINCT over (user, day, type) —
    a hash aggregate on the event scan — then two tiny rollups and a
    3-way broadcast cross of single-row frames; no window, no
    event-grain join."""
    e = t(spark, sf_dir, "events")
    day = F.floor(F.unix_micros("ts") / 86_400_000_000).cast("bigint")
    x = (
        e.select("user_id", day.alias("d"), "event_type")
        .distinct()
        .persist()
    )
    row_tot = x.groupBy("user_id", "d").agg(
        F.count(F.lit(1)).cast("bigint").alias("r")
    )
    col_tot = x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    kk = e.agg(
        F.countDistinct("event_type").cast("bigint").alias("k")
    )
    rf = row_tot.agg(
        F.count(F.lit(1)).cast("bigint").alias("b"),
        F.sum("r").cast("bigint").alias("n"),
        F.sum(F.col("r") * F.col("r")).cast("bigint").alias("sr2"),
    )
    cf = col_tot.agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sc2")
    )
    k = F.col("k").cast("double")
    n = F.col("n").cast("double")
    q = (
        (k - 1.0)
        * (k * F.col("sc2").cast("double") - n * n)
        / (k * n - F.col("sr2").cast("double"))
    )
    return (
        rf.crossJoin(F.broadcast(cf))
        .crossJoin(F.broadcast(kk))
        .select(
            F.col("b").alias("n_subjects"),
            F.col("k").alias("k_treatments"),
            (F.col("k") - 1).cast("bigint").alias("dof"),
            F.col("n").alias("n_marks"),
            (F.round(q, 6) + 0.0).alias("q_stat"),
        )
    )


# --------------------------------------------------------------------------
# Periodogram of daily revenue at candidate periods 2..14 days
# --------------------------------------------------------------------------
@register(
    "periodogram_dft_peaks",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s,
               CAST(MIN(d) AS BIGINT) AS d0
        FROM daily
    ),
    terms AS (
        SELECT p.p,
               SUM(CAST((dd.v * t.n - t.s) AS DECIMAL(38,0))
                   * CAST(round(cos(2 * pi() * ((dd.d - t.d0) % p.p)
                                    / p.p), 9) AS DECIMAL(12,9))) AS sc,
               SUM(CAST((dd.v * t.n - t.s) AS DECIMAL(38,0))
                   * CAST(round(sin(2 * pi() * ((dd.d - t.d0) % p.p)
                                    / p.p), 9) AS DECIMAL(12,9))) AS ss
        FROM daily dd
        CROSS JOIN tot t
        CROSS JOIN (SELECT UNNEST(generate_series(2, 14)) AS p) p
        GROUP BY p.p
    ),
    den AS (
        SELECT SUM(CAST((v * t.n - t.s) AS DECIMAL(38,0))
                   * CAST((v * t.n - t.s) AS DECIMAL(38,0))) AS dsq
        FROM daily, tot t
    ),
    pw AS (
        SELECT p,
               CAST(round(
                   (CAST(round(sc, 0) AS DOUBLE)
                        * CAST(round(sc, 0) AS DOUBLE)
                    + CAST(round(ss, 0) AS DOUBLE)
                        * CAST(round(ss, 0) AS DOUBLE))
                   / (CAST(t.n AS DOUBLE)
                      * CAST(round(den.dsq, 0) AS DOUBLE)), 9)
               AS DECIMAL(18,9)) AS power_ratio
        FROM terms, tot t, den
    )
    SELECT CAST(p AS BIGINT) AS period_days,
           CAST(power_ratio AS DOUBLE) + 0.0 AS power_ratio,
           round(CAST(power_ratio AS DOUBLE)
                 / CAST(SUM(power_ratio) OVER () AS DOUBLE), 6) + 0.0
               AS power_frac
    FROM pw
    ORDER BY period_days
    """,
)
def periodogram_dft_peaks(spark, sf_dir):
    """Discrete-Fourier periodogram of the daily revenue series at
    candidate periods 2..14 days: I(p) = ((Σw·cos θ)² + (Σw·sin θ)²)
    / n with θ = 2π((d−d₀) mod p)/p — the spectral complement of
    ``acf_ljung_box`` (ACF answers "is there memory?", the
    periodogram answers "at WHICH period?", e.g. the weekly cycle
    ``seasonal_dow_decompose`` assumes is strongest at p=7).

    Exactness: deviations are the n-scaled integers u_d = v_d·n − S
    (exact at any partitioning); each cos/sin factor is rounded to
    1e-9 DECIMAL before the multiply, so every product and both sums
    are exact decimals — order-free. Power is reported as the
    dimensionless variance ratio ((Σu·cos)² + (Σu·sin)²)/(n·Σu²) —
    normalizing by Σu² keeps the statistic in [0,1] at ANY data
    scale (an absolute power in cents² outgrows double precision and
    the driver's 6-decimal rounding); the wide DECIMAL sums round to
    scale 0 before the DOUBLE cast (the DuckDB int128 double-round
    hazard), and the ratio rounds to a 1e-9 DECIMAL before the
    13-term normalizing fraction so that sum is order-free too. The angle grid has at most p ≤ 14 distinct
    values per period — libm cos/sin disagreement across engines is
    confined to 1 ulp on 104 angles, absorbed by the 1e-9 rounding.
    Plan: one day rollup, a broadcast cross with the 13-row period
    dim and the 1-row total frame, one hash aggregate; no window at
    event grain (the final frac window runs on the 13-row period
    frame)."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg((F.sum(dec("value", 18, 2)) * 100).cast("bigint").alias("v"))
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.min("d").cast("bigint").alias("d0"),
    )
    periods = spark.range(2, 15).select(F.col("id").alias("p"))
    import math

    theta = (
        2.0
        * math.pi
        * ((F.col("d") - F.col("d0")) % F.col("p"))
        / F.col("p")
    )
    u = (F.col("v") * F.col("n") - F.col("s")).cast("decimal(38,0)")
    terms = (
        daily.crossJoin(F.broadcast(tot))
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
    uv = (F.col("v") * F.col("n") - F.col("s")).cast("decimal(38,0)")
    den = daily.crossJoin(F.broadcast(tot)).agg(F.sum(uv * uv).alias("dsq"))
    n = F.col("n").cast("double")
    sc0 = F.round(F.col("sc"), 0).cast("double")
    ss0 = F.round(F.col("ss"), 0).cast("double")
    power = F.round(
        (sc0 * sc0 + ss0 * ss0)
        / (n * F.round(F.col("dsq"), 0).cast("double")),
        9,
    ).cast("decimal(18,9)")
    pw = (
        terms.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(den))
        .select(F.col("p"), power.alias("power_ratio"))
    )
    tot_pw = pw.agg(F.sum("power_ratio").alias("tp"))
    return (
        pw.crossJoin(F.broadcast(tot_pw))
        .select(
            F.col("p").cast("bigint").alias("period_days"),
            (F.col("power_ratio").cast("double") + 0.0).alias(
                "power_ratio"
            ),
            (
                F.round(
                    F.col("power_ratio").cast("double")
                    / F.col("tp").cast("double"),
                    6,
                )
                + 0.0
            ).alias("power_frac"),
        )
        .orderBy("period_days")
    )


# --------------------------------------------------------------------------
# Partial autocorrelation (Durbin-Levinson) of daily revenue, lags 1..3
# --------------------------------------------------------------------------
@register(
    "pacf_durbin_levinson",
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
        SELECT
            round(CAST(MAX(CASE WHEN lag = 1 THEN nk END) AS DOUBLE)
                  / CAST(den.d0 AS DOUBLE), 9) AS r1,
            round(CAST(MAX(CASE WHEN lag = 2 THEN nk END) AS DOUBLE)
                  / CAST(den.d0 AS DOUBLE), 9) AS r2,
            round(CAST(MAX(CASE WHEN lag = 3 THEN nk END) AS DOUBLE)
                  / CAST(den.d0 AS DOUBLE), 9) AS r3
        FROM num, den GROUP BY den.d0
    ),
    phi AS (
        SELECT r1, r2, r3,
               r1 AS p11,
               (r2 - r1 * r1) / (1.0 - r1 * r1) AS p22,
               r1 * (1.0 - r2) / (1.0 - r1 * r1) AS p21
        FROM rho
    )
    SELECT CAST(1 AS BIGINT) AS lag, r1 AS acf,
           round(p11, 6) + 0.0 AS pacf FROM phi
    UNION ALL
    SELECT CAST(2 AS BIGINT), r2, round(p22, 6) + 0.0 FROM phi
    UNION ALL
    SELECT CAST(3 AS BIGINT), r3,
           round((r3 - p21 * r2 - p22 * r1)
                 / (1.0 - p21 * r1 - p22 * r2), 6) + 0.0 FROM phi
    ORDER BY lag
    """,
)
def pacf_durbin_levinson(spark, sf_dir):
    """Partial autocorrelation of daily revenue at lags 1..3 via the
    closed-form Durbin-Levinson recursion: φ11 = ρ1, φ22 =
    (ρ2−ρ1²)/(1−ρ1²), φ33 from the order-2 prediction coefficients
    φ21 = ρ1(1−ρ2)/(1−ρ1²). The AR-order-selection companion to
    ``acf_ljung_box``: ACF tails off for AR processes — PACF CUTS
    OFF at the true order, which is the statistic an auto-ARIMA
    pipeline actually thresholds.

    The ρk numerators/denominator are exact DECIMAL folds of
    n-scaled integer deviations (the ACF device); each ρk rounds to
    1e-9 BEFORE entering the recursion so both engines feed
    identical doubles through the same closed form; final PACFs
    round at 1e-6. Plan: day rollup → bounded lag-3 self-join on the
    calendar grid → one-row pivot; the 3-row output is a UNION of
    scalar selects — no window anywhere."""
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
    den = daily.crossJoin(F.broadcast(tot)).agg(F.sum(uv * uv).alias("d0"))
    rho = (
        num.crossJoin(F.broadcast(den))
        .groupBy("d0")
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
    p11 = r1
    p22 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    p21 = r1 * (1.0 - r2) / (1.0 - r1 * r1)
    p33 = (r3 - p21 * r2 - p22 * r1) / (1.0 - p21 * r1 - p22 * r2)
    phi = rho.select(
        "r1",
        "r2",
        "r3",
        p11.alias("p11"),
        p22.alias("p22"),
        p33.alias("p33"),
    )
    rows = phi.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).cast("bigint").alias("lag"),
                    r1.alias("acf"),
                    (F.round(F.col("p11"), 6) + 0.0).alias("pacf"),
                ),
                F.struct(
                    F.lit(2).cast("bigint").alias("lag"),
                    r2.alias("acf"),
                    (F.round(F.col("p22"), 6) + 0.0).alias("pacf"),
                ),
                F.struct(
                    F.lit(3).cast("bigint").alias("lag"),
                    r3.alias("acf"),
                    (F.round(F.col("p33"), 6) + 0.0).alias("pacf"),
                ),
            )
        ).alias("r")
    )
    return rows.select("r.lag", "r.acf", "r.pacf").orderBy("lag")


# --------------------------------------------------------------------------
# Hurst exponent via rescaled-range (R/S) analysis of daily revenue
# --------------------------------------------------------------------------
@register(
    "hurst_rs_exponent",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT a.d, a.v, CAST(COUNT(*) AS BIGINT) AS i
        FROM daily a JOIN daily b ON b.d <= a.d
        GROUP BY a.d, a.v
    ),
    sized AS (
        SELECT m.m, (x.i - 1) // m.m AS b, x.i, x.v
        FROM idx x
        CROSS JOIN (SELECT UNNEST([5, 10, 15]) AS m) m
    ),
    blk AS (
        SELECT m, b, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(v) AS BIGINT) AS s,
               SUM(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0)))
                   AS ss
        FROM sized GROUP BY m, b
    ),
    full_blk AS (SELECT * FROM blk WHERE c = m),
    z AS (
        SELECT s.m, s.b, s.i,
               CAST(f.m AS BIGINT) * CAST(SUM(s2.v) AS BIGINT)
                   - (s.i - s.b * f.m) * f.s AS mz
        FROM sized s
        JOIN full_blk f ON f.m = s.m AND f.b = s.b
        JOIN sized s2 ON s2.m = s.m AND s2.b = s.b AND s2.i <= s.i
        GROUP BY s.m, s.b, s.i, f.m, f.s
    ),
    rs AS (
        SELECT z.m, z.b,
               CAST(round(
                   (CAST(MAX(z.mz) - MIN(z.mz) AS DOUBLE) / f.m)
                   / sqrt((CAST(f.ss AS DOUBLE) - CAST(f.s AS DOUBLE)
                           * f.s / f.m) / f.m), 9)
               AS DECIMAL(18,9)) AS rsb
        FROM z JOIN full_blk f ON f.m = z.m AND f.b = z.b
        GROUP BY z.m, z.b, f.m, f.s, f.ss
    ),
    per_m AS (
        SELECT m, CAST(COUNT(*) AS BIGINT) AS n_blocks,
               round(CAST(SUM(rsb) AS DOUBLE) / COUNT(*), 9) AS mean_rs
        FROM rs GROUP BY m
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               SUM(CAST(round(ln(m), 9) AS DECIMAL(18,9))) AS sx,
               SUM(CAST(round(ln(mean_rs), 9) AS DECIMAL(18,9))) AS sy,
               SUM(CAST(round(ln(m) * ln(mean_rs), 9)
                   AS DECIMAL(18,9))) AS sxy,
               SUM(CAST(round(ln(m) * ln(m), 9) AS DECIMAL(18,9))) AS sxx
        FROM per_m
    )
    SELECT CAST(p.m AS BIGINT) AS block_size, p.n_blocks, p.mean_rs,
           round((f.k * CAST(f.sxy AS DOUBLE)
                  - CAST(f.sx AS DOUBLE) * CAST(f.sy AS DOUBLE))
                 / (f.k * CAST(f.sxx AS DOUBLE)
                    - CAST(f.sx AS DOUBLE) * CAST(f.sx AS DOUBLE)), 6)
               + 0.0 AS hurst_exponent
    FROM per_m p, fit f
    ORDER BY block_size
    """,
)
def hurst_rs_exponent(spark, sf_dir):
    """Hurst exponent of the daily revenue series by rescaled-range
    analysis: split the day sequence into complete blocks of 5/10/15
    days, compute each block's R/S (range of cumulative mean
    deviations over population std), and fit H as the log-log slope
    of mean R/S vs block size. H≈0.5 is a random walk, H>0.5
    long-range persistence — the long-memory diagnostic that decides
    whether ``acf_ljung_box``'s short-lag view is the whole story.

    Exactness: block prefix deviations are kept m-scaled — m·Z_t =
    m·P_t − t_local·S_b is an exact integer, so R·m = max−min is
    exact; per-block R/S rounds to 1e-9 DECIMAL before the per-size
    mean; the 3-point OLS folds ln terms rounded at 1e-9. Plan: day
    rollup, a day²-bounded triangular index join, block prefix sums
    via a within-block triangular join (block size ≤ 15 rows), all
    on the calendar grid — no window operator, nothing event-grain
    past the first rollup."""
    e = t(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            F.floor(F.unix_micros("ts") / 86_400_000_000)
            .cast("bigint")
            .alias("d")
        )
        .agg((F.sum(dec("value", 18, 2)) * 100).cast("bigint").alias("v"))
        .persist()
    )
    a, b = daily.alias("a"), daily.alias("b")
    idx = (
        a.join(F.broadcast(b), F.col("b.d") <= F.col("a.d"))
        .groupBy(F.col("a.d").alias("d"), F.col("a.v").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("i"))
    )
    sizes = spark.createDataFrame([(5,), (10,), (15,)], "m int").select(
        F.col("m").cast("bigint").alias("m")
    )
    sized = (
        idx.crossJoin(F.broadcast(sizes))
        .select(
            "m",
            ((F.col("i") - 1) / F.col("m")).cast("bigint").alias("b"),
            "i",
            "v",
        )
        .persist()
    )
    blk = sized.groupBy("m", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(
            F.col("v").cast("decimal(38,0)") * F.col("v").cast("decimal(38,0)")
        ).alias("ss"),
    )
    full_blk = blk.where(F.col("c") == F.col("m")).select(
        F.col("m").alias("fm"),
        F.col("b").alias("fb"),
        "s",
        "ss",
    )
    s2 = sized.select(
        F.col("m").alias("m2"),
        F.col("b").alias("b2"),
        F.col("i").alias("i2"),
        F.col("v").alias("v2"),
    )
    z = (
        sized.join(
            F.broadcast(full_blk),
            (F.col("fm") == F.col("m")) & (F.col("fb") == F.col("b")),
        )
        .join(
            F.broadcast(s2),
            (F.col("m2") == F.col("m"))
            & (F.col("b2") == F.col("b"))
            & (F.col("i2") <= F.col("i")),
        )
        .groupBy("m", "b", "i", "fm", "s")
        .agg(
            (
                F.col("fm") * F.sum("v2").cast("bigint")
                - (F.col("i") - F.col("b") * F.col("fm")) * F.col("s")
            ).alias("mz")
        )
    )
    rs = (
        z.groupBy("m", "b", "fm", "s")
        .agg(
            (F.max("mz") - F.min("mz")).cast("double").alias("rng"),
        )
        .join(
            F.broadcast(
                full_blk.select(
                    F.col("fm").alias("gm"),
                    F.col("fb").alias("gb"),
                    "ss",
                )
            ),
            (F.col("gm") == F.col("m")) & (F.col("gb") == F.col("b")),
        )
        .select(
            "m",
            "b",
            F.round(
                (F.col("rng") / F.col("fm"))
                / F.sqrt(
                    (
                        F.col("ss").cast("double")
                        - F.col("s").cast("double")
                        * F.col("s")
                        / F.col("fm")
                    )
                    / F.col("fm")
                ),
                9,
            )
            .cast("decimal(18,9)")
            .alias("rsb"),
        )
    )
    per_m = rs.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.round(
            F.sum("rsb").cast("double") / F.count(F.lit(1)), 9
        ).alias("mean_rs"),
    )
    lx = F.round(F.log(F.col("m")), 9).cast("decimal(18,9)")
    ly = F.round(F.log(F.col("mean_rs")), 9).cast("decimal(18,9)")
    lxy = F.round(F.log(F.col("m")) * F.log(F.col("mean_rs")), 9).cast(
        "decimal(18,9)"
    )
    lxx = F.round(F.log(F.col("m")) * F.log(F.col("m")), 9).cast(
        "decimal(18,9)"
    )
    fit = per_m.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lxy).alias("sxy"),
        F.sum(lxx).alias("sxx"),
    )
    kk = F.col("k").cast("double")
    slope = (
        kk * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        kk * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return (
        per_m.crossJoin(F.broadcast(fit))
        .select(
            F.col("m").cast("bigint").alias("block_size"),
            F.col("n_blocks"),
            F.col("mean_rs"),
            (F.round(slope, 6) + 0.0).alias("hurst_exponent"),
        )
        .orderBy("block_size")
    )


# --------------------------------------------------------------------------
# Wilcoxon signed-rank: per-user first-half vs second-half spend
# --------------------------------------------------------------------------
@register(
    "wilcoxon_signed_rank",
    oracle="""
    WITH bounds AS (
        SELECT CAST(MIN(epoch_us(ts) // 86400000000) + 15 AS BIGINT)
            AS hb
        FROM events
    ),
    per_user AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN epoch_us(ts) // 86400000000 >= b.hb
                             THEN CAST(CAST(value AS DECIMAL(18,2))
                                       * 100 AS BIGINT)
                             ELSE -CAST(CAST(value AS DECIMAL(18,2))
                                        * 100 AS BIGINT) END)
                    AS BIGINT) AS diff
        FROM events, bounds b
        GROUP BY user_id
    ),
    nz AS (SELECT user_id, diff, ABS(diff) AS ad
           FROM per_user WHERE diff <> 0),
    ranked AS (
        SELECT diff,
               CAST(RANK() OVER (ORDER BY ad) AS BIGINT) * 2
               + CAST(COUNT(*) OVER (PARTITION BY ad) AS BIGINT) - 1
                   AS rank2
        FROM nz
    ),
    ties AS (
        SELECT CAST(COALESCE(SUM(c * c * c - c), 0) AS BIGINT) AS t3
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM nz GROUP BY ad)
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN diff > 0 THEN rank2 ELSE 0 END)
                    AS DECIMAL(38,0)) AS w2p
        FROM ranked
    ),
    zc AS (SELECT CAST(COUNT(*) AS BIGINT) AS nz_users
           FROM per_user WHERE diff = 0)
    SELECT f.n AS n_pairs, z.nz_users AS n_zero_dropped,
           round(CAST(f.w2p AS DOUBLE) / 2.0, 1) AS w_plus,
           round((CAST(f.w2p AS DOUBLE) / 2.0
                  - CAST(f.n AS DOUBLE) * (f.n + 1) / 4.0)
                 / sqrt(CAST(f.n AS DOUBLE) * (f.n + 1)
                        * (2.0 * f.n + 1) / 24.0
                        - CAST(t.t3 AS DOUBLE) / 48.0), 6) + 0.0
               AS z_stat
    FROM fold f, ties t, zc z
    """,
)
def wilcoxon_signed_rank(spark, sf_dir):
    """Wilcoxon signed-rank test pairing each user's SECOND-half
    spend against their FIRST-half spend (calendar split at min day
    + 15): d_u = Σcents(back half) − Σcents(front half), zero
    differences dropped per the standard procedure, W+ = sum of
    |d|-ranks where d > 0, with the tie-corrected normal
    approximation σ² = n(n+1)(2n+1)/24 − Σ(t³−t)/48. The PAIRED
    companion to ``mann_whitney_u_values`` (two independent samples)
    — the within-subject before/after test an experimentation
    pipeline needs when the same users appear on both sides.

    Exactness: per-user differences are one signed integer-cents
    aggregate (a single pass — the sign flips inside the SUM);
    average ranks are 2x-scaled integers via the
    ``kruskal_wallis_values`` bucket-rank machinery
    (``exact_cumulative``), so W2+ = 2·W+ folds exactly in
    DECIMAL(38,0) (rank sums grow ~N²); only the closing z divides.
    Plan: event scan → user rollup → in-bucket rank on |d| plus
    broadcast bucket offsets, no single-partition exchange; tie
    rollup on the |d| value grid."""
    e = t(spark, sf_dir, "events")
    day = F.floor(F.unix_micros("ts") / 86_400_000_000).cast("bigint")
    cents = (dec("value", 18, 2) * 100).cast("bigint")
    bounds = e.agg((F.min(day) + 15).cast("bigint").alias("hb"))
    per_user = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(day >= F.col("hb"), cents).otherwise(-cents))
            .cast("bigint")
            .alias("diff")
        )
    )
    nz = per_user.where(F.col("diff") != 0).select(
        "diff", F.abs(F.col("diff")).alias("ad")
    )
    acc, w = exact_cumulative(nz, ("ad",), {"n": F.count(F.lit(1))})
    rank2 = (
        (F.rank().over(w).cast("bigint") + F.col("off_n")) * 2
        + F.count(F.lit(1))
        .over(Window.partitionBy("pid", "ad"))
        .cast("bigint")
        - 1
    )
    ranked = acc.select("diff", rank2.alias("rank2"))
    ties = (
        nz.groupBy("ad")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .agg(
            F.coalesce(
                F.sum(
                    F.col("c") * F.col("c") * F.col("c") - F.col("c")
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("t3")
        )
    )
    fold = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("diff") > 0, F.col("rank2")).otherwise(0).cast(
                "decimal(38,0)"
            )
        )
        .cast("decimal(38,0)")
        .alias("w2p"),
    )
    zc = per_user.where(F.col("diff") == 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("nz_users")
    )
    n = F.col("n").cast("double")
    w_plus = F.col("w2p").cast("double") / 2.0
    var = n * (n + 1) * (2.0 * n + 1) / 24.0 - F.col("t3").cast(
        "double"
    ) / 48.0
    return (
        fold.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(zc))
        .select(
            F.col("n").alias("n_pairs"),
            F.col("nz_users").alias("n_zero_dropped"),
            F.round(w_plus, 1).alias("w_plus"),
            (
                F.round(
                    (w_plus - n * (n + 1) / 4.0) / F.sqrt(var), 6
                )
                + 0.0
            ).alias("z_stat"),
        )
    )


# --------------------------------------------------------------------------
# Jonckheere-Terpstra ordered-trend test (price across order priorities)
# --------------------------------------------------------------------------
@register(
    "jonckheere_terpstra_trend",
    oracle="""
    WITH pool AS (
        SELECT CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT) AS g,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    grid AS (
        SELECT v,
               CAST(COUNT(*) FILTER (g = 1) AS BIGINT) AS c1,
               CAST(COUNT(*) FILTER (g = 2) AS BIGINT) AS c2,
               CAST(COUNT(*) FILTER (g = 3) AS BIGINT) AS c3,
               CAST(COUNT(*) FILTER (g = 4) AS BIGINT) AS c4,
               CAST(COUNT(*) FILTER (g = 5) AS BIGINT) AS c5
        FROM pool GROUP BY v
    ),
    cum AS (
        SELECT v, c1, c2, c3, c4, c5,
               SUM(c1) OVER w - c1 AS l1,
               SUM(c2) OVER w - c2 AS l2,
               SUM(c3) OVER w - c3 AS l3,
               SUM(c4) OVER w - c4 AS l4
        FROM grid
        WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
    ),
    jt AS (
        SELECT SUM(
            CAST(c2 AS DECIMAL(38,0)) * (2 * l1 + c1)
            + CAST(c3 AS DECIMAL(38,0)) * (2 * (l1 + l2) + c1 + c2)
            + CAST(c4 AS DECIMAL(38,0))
                * (2 * (l1 + l2 + l3) + c1 + c2 + c3)
            + CAST(c5 AS DECIMAL(38,0))
                * (2 * (l1 + l2 + l3 + l4) + c1 + c2 + c3 + c4)
        ) AS jt2
        FROM cum
    ),
    gs AS (
        SELECT CAST(SUM(cg) AS BIGINT) AS n,
               SUM(CAST(cg AS DECIMAL(38,0)) * cg) AS sn2,
               SUM(CAST(cg AS DECIMAL(38,0)) * (cg - 1) * (2 * cg + 5))
                   AS sa,
               SUM(CAST(cg AS DECIMAL(38,0)) * (cg - 1) * (cg - 2))
                   AS sb,
               SUM(CAST(cg AS DECIMAL(38,0)) * (cg - 1)) AS sc
        FROM (SELECT g, CAST(COUNT(*) AS BIGINT) AS cg
              FROM pool GROUP BY g)
    ),
    ts AS (
        SELECT SUM(CAST(tv AS DECIMAL(38,0)) * (tv - 1) * (2 * tv + 5))
                   AS ta,
               SUM(CAST(tv AS DECIMAL(38,0)) * (tv - 1) * (tv - 2))
                   AS tb,
               SUM(CAST(tv AS DECIMAL(38,0)) * (tv - 1)) AS tc
        FROM (SELECT v, CAST(COUNT(*) AS BIGINT) AS tv
              FROM pool GROUP BY v)
    )
    SELECT g.n AS n_orders,
           round(CAST(jt.jt2 AS DOUBLE) / 2.0, 1) AS jt_stat,
           round((CAST(g.n AS DOUBLE) * g.n - CAST(g.sn2 AS DOUBLE))
                 / 4.0, 2) AS mean_jt,
           round((CAST(g.n AS DOUBLE) * (g.n - 1) * (2 * g.n + 5)
                  - CAST(g.sa AS DOUBLE) - CAST(t.ta AS DOUBLE)) / 72.0
                 + CAST(g.sb AS DOUBLE) * CAST(t.tb AS DOUBLE)
                   / (36.0 * g.n * (g.n - 1.0) * (g.n - 2.0))
                 + CAST(g.sc AS DOUBLE) * CAST(t.tc AS DOUBLE)
                   / (8.0 * g.n * (g.n - 1.0)), 4) AS var_jt,
           round((CAST(jt.jt2 AS DOUBLE) / 2.0
                  - (CAST(g.n AS DOUBLE) * g.n
                     - CAST(g.sn2 AS DOUBLE)) / 4.0)
                 / sqrt((CAST(g.n AS DOUBLE) * (g.n - 1) * (2 * g.n + 5)
                         - CAST(g.sa AS DOUBLE)
                         - CAST(t.ta AS DOUBLE)) / 72.0
                        + CAST(g.sb AS DOUBLE) * CAST(t.tb AS DOUBLE)
                          / (36.0 * g.n * (g.n - 1.0) * (g.n - 2.0))
                        + CAST(g.sc AS DOUBLE) * CAST(t.tc AS DOUBLE)
                          / (8.0 * g.n * (g.n - 1.0))), 6) + 0.0
               AS z_stat
    FROM jt, gs g, ts t
    """,
)
def jonckheere_terpstra_trend(spark, sf_dir):
    """Jonckheere-Terpstra test for an ORDERED alternative: does
    order price trend monotonically across the five priority levels
    1-URGENT → 5-LOW? JT = Σ_{a<b} U_ab (pairwise Mann-Whitney
    counts taken in priority order, ties counted half) with the full
    tie-corrected moments — strictly more powerful than
    ``kruskal_wallis_values`` when the alternative is ordered, which
    is exactly the "does priority buy anything?" question.

    Device: pivot the cents value grid into per-priority count
    columns c1..c5, take strictly-below cumulatives per column over
    the grid, then JT2 = 2·JT = Σ_v Σ_b c_b·(2·Σ_{a<b}lt_a + Σ_{a<b}
    c_a) folds exactly in DECIMAL(38,0) (grows ~n²; the moment
    folds Σn(n−1)(2n+5) etc. grow ~n³ and widen the same way —
    the sf0.1 overflow class). The Spark side computes the grid
    cumulatives with ``exact_cumulative`` over 4 columns — in-bucket
    running sums plus broadcast bucket offsets, no single-partition
    exchange; the DuckDB oracle uses one ordered
    window over the same grid. Only the closing mean/var/z are
    float."""
    o = t(spark, sf_dir, "orders")
    pool = o.select(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("g"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v"),
    )
    cs = [
        F.sum(F.when(F.col("g") == i, 1).otherwise(0))
        .cast("bigint")
        .alias(f"c{i}")
        for i in (1, 2, 3, 4, 5)
    ]
    acc, _ = exact_cumulative(
        pool.groupBy("v").agg(*cs),
        ("v",),
        {f"l{i}": F.sum(f"c{i}") for i in (1, 2, 3, 4)},
    )
    cum = acc.select(
        "v",
        *[F.col(f"c{i}") for i in (1, 2, 3, 4, 5)],
        *[
            (F.col(f"cum_l{i}") - F.col(f"c{i}")).alias(f"l{i}")
            for i in (1, 2, 3, 4)
        ],
    )
    c = {i: F.col(f"c{i}") for i in (1, 2, 3, 4, 5)}
    lt = {i: F.col(f"l{i}") for i in (1, 2, 3, 4)}
    contrib = (
        c[2].cast("decimal(38,0)") * (2 * lt[1] + c[1])
        + c[3].cast("decimal(38,0)") * (2 * (lt[1] + lt[2]) + c[1] + c[2])
        + c[4].cast("decimal(38,0)")
        * (2 * (lt[1] + lt[2] + lt[3]) + c[1] + c[2] + c[3])
        + c[5].cast("decimal(38,0)")
        * (2 * (lt[1] + lt[2] + lt[3] + lt[4]) + c[1] + c[2] + c[3] + c[4])
    )
    jt = cum.agg(F.sum(contrib).alias("jt2"))
    cg = F.col("cg").cast("decimal(38,0)")
    gs = (
        pool.groupBy("g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cg"))
        .agg(
            F.sum("cg").cast("bigint").alias("n"),
            F.sum(cg * F.col("cg")).alias("sn2"),
            F.sum(cg * (F.col("cg") - 1) * (2 * F.col("cg") + 5)).alias(
                "sa"
            ),
            F.sum(cg * (F.col("cg") - 1) * (F.col("cg") - 2)).alias("sb"),
            F.sum(cg * (F.col("cg") - 1)).alias("sc"),
        )
    )
    tv = F.col("tv").cast("decimal(38,0)")
    ts = (
        pool.groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tv"))
        .agg(
            F.sum(tv * (F.col("tv") - 1) * (2 * F.col("tv") + 5)).alias(
                "ta"
            ),
            F.sum(tv * (F.col("tv") - 1) * (F.col("tv") - 2)).alias("tb"),
            F.sum(tv * (F.col("tv") - 1)).alias("tc"),
        )
    )
    n = F.col("n").cast("double")
    jt_stat = F.col("jt2").cast("double") / 2.0
    mean_jt = (n * n - F.col("sn2").cast("double")) / 4.0
    var_jt = (
        (
            n * (n - 1) * (2 * n + 5)
            - F.col("sa").cast("double")
            - F.col("ta").cast("double")
        )
        / 72.0
        + F.col("sb").cast("double")
        * F.col("tb").cast("double")
        / (36.0 * n * (n - 1.0) * (n - 2.0))
        + F.col("sc").cast("double")
        * F.col("tc").cast("double")
        / (8.0 * n * (n - 1.0))
    )
    return (
        jt.crossJoin(F.broadcast(gs))
        .crossJoin(F.broadcast(ts))
        .select(
            F.col("n").alias("n_orders"),
            F.round(jt_stat, 1).alias("jt_stat"),
            F.round(mean_jt, 2).alias("mean_jt"),
            F.round(var_jt, 4).alias("var_jt"),
            (
                F.round((jt_stat - mean_jt) / F.sqrt(var_jt), 6) + 0.0
            ).alias("z_stat"),
        )
    )


# --------------------------------------------------------------------------
# Average precision + P@k/R@k of the value-ranked purchase retrieval
# --------------------------------------------------------------------------
@register(
    "average_precision_ranking",
    oracle="""
    WITH pool AS (
        SELECT event_id,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS s,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ),
    ranked AS (
        SELECT y,
               CAST(ROW_NUMBER() OVER (ORDER BY s DESC, event_id)
                    AS BIGINT) AS r,
               CAST(SUM(y) OVER (ORDER BY s DESC, event_id
                                 ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS pc
        FROM pool
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS np
        FROM pool
    ),
    ap AS (
        SELECT SUM(CAST(round(CAST(pc AS DOUBLE) / r, 12)
                   AS DECIMAL(38,12))) AS aps
        FROM ranked WHERE y = 1
    ),
    atk AS (
        SELECT CAST(SUM(y) AS BIGINT) AS p100
        FROM ranked WHERE r <= 100
    )
    SELECT t.n AS n_events, t.np AS n_pos,
           round(CAST(ap.aps AS DOUBLE) / t.np, 9) + 0.0
               AS average_precision,
           round(CAST(atk.p100 AS DOUBLE) / 100.0, 6) + 0.0
               AS precision_at_100,
           round(CAST(atk.p100 AS DOUBLE) / t.np, 6) + 0.0
               AS recall_at_100
    FROM tot t, ap, atk
    """,
)
def average_precision_ranking(spark, sf_dir):
    """Average precision of "retrieve purchases by ranking events on
    value": AP = (1/P)·Σ_{k relevant} precision@k over the unique
    total order (cents desc, event_id asc), plus precision/recall at
    k=100. The threshold-free ranking metric that complements the
    registered ``auc_rank_score`` (AUC weighs all pairs equally; AP
    front-loads the top of the ranking, which is what a
    hard-negative miner or retrieval eval actually optimizes) and
    ``gains_chart_deciles`` (decile-grain vs per-hit grain).

    The tie-break on event_id makes every rank a deterministic
    integer at any partitioning; ranks and cumulative positives come
    from ``exact_cumulative`` (two running sums, row count and
    positive count, over the ascending order (-cents, event_id)), so
    no single-partition exchange; each hit's precision rounds to
    1e-12 DECIMAL before the order-free fold, and every total is one
    aggregate over the ranked rows. Only the three final ratios are
    float."""
    e = t(spark, sf_dir, "events")
    pool = e.select(
        "event_id",
        (dec("value", 18, 2) * 100).cast("bigint").alias("s"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    acc, _ = exact_cumulative(
        pool.withColumn("ns", -F.col("s")),
        ("ns", "event_id"),
        {"r": F.count(F.lit(1)), "pc": F.sum("y")},
    )
    r = F.col("cum_r")
    fold = acc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("np"),
        F.sum(
            F.when(
                F.col("y") == 1,
                F.round(F.col("cum_pc").cast("double") / r, 12).cast(
                    "decimal(38,12)"
                ),
            )
        ).alias("aps"),
        F.sum(F.when(r <= 100, F.col("y"))).cast("bigint").alias("p100"),
    )
    return fold.select(
        F.col("n").alias("n_events"),
        F.col("np").alias("n_pos"),
        (
            F.round(F.col("aps").cast("double") / F.col("np"), 9) + 0.0
        ).alias("average_precision"),
        (
            F.round(F.col("p100").cast("double") / 100.0, 6) + 0.0
        ).alias("precision_at_100"),
        (
            F.round(F.col("p100").cast("double") / F.col("np"), 6) + 0.0
        ).alias("recall_at_100"),
    )


# --------------------------------------------------------------------------
# Leave-one-out target encoding of suppliers by return rate
# --------------------------------------------------------------------------
@register(
    "target_encoding_loo",
    oracle="""
    WITH li AS (
        SELECT l_suppkey,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
               l_returnflag
        FROM lineitem
    ),
    grp AS (
        SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS ng,
               CAST(SUM(y) AS BIGINT) AS sg
        FROM li GROUP BY l_suppkey
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS sp
        FROM li
    ),
    enc AS (
        SELECT li.l_returnflag,
               CAST(round(
                   (g.sg - li.y + 20.0 * t.sp / t.n)
                   / (g.ng - 1 + 20.0), 9) AS DECIMAL(18,9)) AS e
        FROM li JOIN grp g USING (l_suppkey) CROSS JOIN tot t
    )
    SELECT e.l_returnflag AS returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           round(CAST(SUM(e.e) AS DOUBLE) / COUNT(*), 9) + 0.0
               AS mean_encoding,
           round(CAST(t.sp AS DOUBLE) / t.n, 9) AS global_prior
    FROM enc e, tot t
    GROUP BY e.l_returnflag, t.sp, t.n
    ORDER BY returnflag
    """,
)
def target_encoding_loo(spark, sf_dir):
    """Leave-one-out target encoding with additive smoothing — the
    standard leakage-safe categorical feature for tree/linear models
    over high-cardinality keys: enc_i = (S_g − y_i + m·prior)/(n_g −
    1 + m), m = 20, encoding supplier by lineitem return rate
    (y = returnflag 'R'). Subtracting the row's own label prevents
    the target leak a naive group-mean encoder bakes in; the audit
    groups mean encoding by actual returnflag, so a correct encoder
    must show returned rows decoding HIGHER than kept rows by
    1/(n_g−1+m) per own-label exclusion.

    n_g/S_g/N/ΣY are exact integers; each row's encoding is one
    deterministic double expression rounded to 1e-9 DECIMAL before
    the order-free group fold. Plan: lineitem scan → supplier hash
    rollup → equi-join back on l_suppkey (dimension-sized right
    side; at 100 TB this is the standard shuffle-hash equi-join on
    the encoding key, never row-pairs) → one 3-group rollup."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_returnflag",
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    grp = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum("y").cast("bigint").alias("sg"),
    )
    tot = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sp"),
    )
    enc_val = F.round(
        (
            F.col("sg")
            - F.col("y")
            + 20.0 * F.col("sp") / F.col("n")
        )
        / (F.col("ng") - 1 + 20.0),
        9,
    ).cast("decimal(18,9)")
    enc = (
        li.join(grp, "l_suppkey")
        .crossJoin(F.broadcast(tot))
        .select("l_returnflag", F.col("sp"), F.col("n"), enc_val.alias("e"))
    )
    return (
        enc.groupBy(
            F.col("l_returnflag").alias("returnflag"), "sp", "n"
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            (
                F.round(
                    F.sum("e").cast("double") / F.count(F.lit(1)), 9
                )
                + 0.0
            ).alias("mean_encoding"),
        )
        .select(
            "returnflag",
            "n_rows",
            "mean_encoding",
            F.round(
                F.col("sp").cast("double") / F.col("n"), 9
            ).alias("global_prior"),
        )
        .orderBy("returnflag")
    )


# --------------------------------------------------------------------------
# Mahalanobis outlier census on (order price, lineitem count)
# --------------------------------------------------------------------------
@register(
    "mahalanobis_outliers_2d",
    oracle="""
    WITH pts AS (
        SELECT o.o_orderkey,
               CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS x,
               c.y
        FROM orders o
        JOIN (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS y
              FROM lineitem GROUP BY l_orderkey) c
          ON c.l_orderkey = o.o_orderkey
    ),
    f AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                   AS sxx,
               SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                   AS syy,
               SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                   AS sxy
        FROM pts
    ),
    ab AS (
        SELECT n,
               CAST(round(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx, 0)
                    AS DOUBLE) AS axx,
               CAST(round(n * syy - CAST(sy AS DECIMAL(38,0)) * sy, 0)
                    AS DOUBLE) AS ayy,
               CAST(round(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy, 0)
                    AS DOUBLE) AS axy,
               sx, sy
        FROM f
    ),
    d2 AS (
        SELECT ab.n, ab.axx, ab.ayy, ab.axy,
               round((ab.n - 1.0)
                     * (ab.ayy * (p.x * ab.n - ab.sx)
                            * (p.x * ab.n - ab.sx)
                        - 2.0 * ab.axy * (p.x * ab.n - ab.sx)
                              * (p.y * ab.n - ab.sy)
                        + ab.axx * (p.y * ab.n - ab.sy)
                              * (p.y * ab.n - ab.sy))
                     / (CAST(ab.n AS DOUBLE) * ab.n
                        * (ab.axx * ab.ayy - ab.axy * ab.axy)), 9)
                   AS d2
        FROM pts p, ab
    )
    SELECT MAX(n) AS n_orders,
           round(MAX(axy / sqrt(axx * ayy)), 6) + 0.0 AS corr_xy,
           round(MAX(d2), 6) AS max_d2,
           CAST(SUM(CASE WHEN d2 > 4.605170 THEN 1 ELSE 0 END)
                AS BIGINT) AS cnt_gt90,
           CAST(SUM(CASE WHEN d2 > 5.991465 THEN 1 ELSE 0 END)
                AS BIGINT) AS cnt_gt95,
           CAST(SUM(CASE WHEN d2 > 9.210340 THEN 1 ELSE 0 END)
                AS BIGINT) AS cnt_gt99
    FROM d2
    """,
)
def mahalanobis_outliers_2d(spark, sf_dir):
    """Mahalanobis-distance outlier census over the 2-D feature
    (order price, lineitem count), with the 2×2 covariance inverted
    in closed form: d²_i = (n−1)·(A_yy·DX² − 2A_xy·DX·DY +
    A_xx·DY²)/(n²·det A), DX = x_i·n − Σx. The CORRELATION-AWARE
    multivariate upgrade of the univariate ``mad_outlier_filter`` /
    ``grubbs_max_outlier``: a cheap order with many lines is normal,
    an expensive order with one line is the outlier, and no
    per-axis rule sees that. Census rows count d² beyond the χ²(2)
    90/95/99% quantiles.

    A_xx/A_yy/A_xy are exact n-scaled DECIMAL(38,0) folds (cents²
    sums overflow int64 — the sf0.1 class); they reach DOUBLE via a
    scale-0 cast (no DuckDB double-round). Each row's d² is then one
    deterministic double expression from exact integers — identical
    in both engines — rounded at 1e-9 before the threshold compare.
    Plan: one lineitem rollup, a key equi-join to orders, one global
    fold broadcast back over the point set; no window, nothing
    beyond the join shuffle."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    cnt = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("y")
    )
    pts = o.select(
        "o_orderkey",
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("x"),
    ).join(cnt, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "x", "y"
    ).persist()
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    f = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"),
    )
    sxd = F.col("sx").cast("decimal(38,0)")
    syd = F.col("sy").cast("decimal(38,0)")
    ab = f.select(
        "n",
        "sx",
        "sy",
        F.round(F.col("n") * F.col("sxx") - sxd * F.col("sx"), 0)
        .cast("double")
        .alias("axx"),
        F.round(F.col("n") * F.col("syy") - syd * F.col("sy"), 0)
        .cast("double")
        .alias("ayy"),
        F.round(F.col("n") * F.col("sxy") - sxd * F.col("sy"), 0)
        .cast("double")
        .alias("axy"),
    )
    nd = F.col("n").cast("double")
    dx = (F.col("x") * F.col("n") - F.col("sx")).cast("double")
    dy = (F.col("y") * F.col("n") - F.col("sy")).cast("double")
    d2 = F.round(
        (nd - 1.0)
        * (
            F.col("ayy") * dx * dx
            - 2.0 * F.col("axy") * dx * dy
            + F.col("axx") * dy * dy
        )
        / (
            nd
            * nd
            * (
                F.col("axx") * F.col("ayy")
                - F.col("axy") * F.col("axy")
            )
        ),
        9,
    )
    pd2 = pts.crossJoin(F.broadcast(ab)).select(
        "n", "axx", "ayy", "axy", d2.alias("d2")
    )
    return pd2.agg(
        F.max("n").alias("n_orders"),
        (
            F.round(
                F.max(
                    F.col("axy")
                    / F.sqrt(F.col("axx") * F.col("ayy"))
                ),
                6,
            )
            + 0.0
        ).alias("corr_xy"),
        F.round(F.max("d2"), 6).alias("max_d2"),
        F.sum(F.when(F.col("d2") > 4.605170, 1).otherwise(0))
        .cast("bigint")
        .alias("cnt_gt90"),
        F.sum(F.when(F.col("d2") > 5.991465, 1).otherwise(0))
        .cast("bigint")
        .alias("cnt_gt95"),
        F.sum(F.when(F.col("d2") > 9.210340, 1).otherwise(0))
        .cast("bigint")
        .alias("cnt_gt99"),
    )


# --------------------------------------------------------------------------
# Closed-form 2x2 PCA of (order price, lineitem count)
# --------------------------------------------------------------------------
@register(
    "pca_2x2_closed_form",
    oracle="""
    WITH pts AS (
        SELECT CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS x,
               c.y
        FROM orders o
        JOIN (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS y
              FROM lineitem GROUP BY l_orderkey) c
          ON c.l_orderkey = o.o_orderkey
    ),
    f AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                   AS sxx,
               SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                   AS syy,
               SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                   AS sxy
        FROM pts
    ),
    ab AS (
        SELECT n,
               CAST(round(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx, 0)
                    AS DOUBLE) AS a,
               CAST(round(n * syy - CAST(sy AS DECIMAL(38,0)) * sy, 0)
                    AS DOUBLE) AS c,
               CAST(round(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy, 0)
                    AS DOUBLE) AS b
        FROM f
    ),
    eig AS (
        SELECT n, a, b, c,
               (a + c) / 2.0 + sqrt((a - c) * (a - c) / 4.0 + b * b)
                   AS l1,
               (a + c) / 2.0 - sqrt((a - c) * (a - c) / 4.0 + b * b)
                   AS l2
        FROM ab
    )
    SELECT n AS n_orders,
           round(b / sqrt(a * c), 6) + 0.0 AS corr_xy,
           round(l1 / (l1 + l2), 6) AS evr1,
           round(l2 / (l1 + l2), 6) + 0.0 AS evr2,
           round(l1 / l2, 6) AS condition_number,
           round(0.5 * atan2(2.0 * b, a - c), 6) + 0.0 AS theta_radians
    FROM eig
    """,
)
def pca_2x2_closed_form(spark, sf_dir):
    """Principal-component decomposition of the 2-D feature (order
    price cents, lineitem count) with the 2×2 eigenproblem solved in
    CLOSED FORM: λ± = (a+c)/2 ± √(((a−c)/2)² + b²), principal-axis
    angle θ = ½·atan2(2b, a−c). Reported as dimensionless shape
    statistics — explained-variance ratios, condition number, axis
    angle — the quantities a feature-engineering pipeline reads to
    decide whether two features are one direction in disguise. The
    closed form is what makes this oracle-exact: no power iteration,
    no convergence tolerance — the same two IEEE expressions run in
    both engines (the staged ``embedding_dim_covariance`` produces
    the matrix for d>2; this completes the d=2 spectral step).

    a/b/c are exact n-scaled DECIMAL(38,0) covariance folds (cents²
    overflows int64 — the sf0.1 class) reaching DOUBLE via scale-0
    casts; every output is a ratio of same-scale quantities, so the
    n-scaling cancels. Plan: lineitem rollup → key equi-join →
    single global fold; one scalar row out, no window."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    cnt = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("y")
    )
    pts = (
        o.select(
            "o_orderkey",
            (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("x"),
        )
        .join(cnt, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("x", "y")
    )
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    f = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"),
    )
    sxd = F.col("sx").cast("decimal(38,0)")
    syd = F.col("sy").cast("decimal(38,0)")
    ab = f.select(
        "n",
        F.round(F.col("n") * F.col("sxx") - sxd * F.col("sx"), 0)
        .cast("double")
        .alias("a"),
        F.round(F.col("n") * F.col("syy") - syd * F.col("sy"), 0)
        .cast("double")
        .alias("c"),
        F.round(F.col("n") * F.col("sxy") - sxd * F.col("sy"), 0)
        .cast("double")
        .alias("b"),
    )
    a, b, c = F.col("a"), F.col("b"), F.col("c")
    disc = F.sqrt((a - c) * (a - c) / 4.0 + b * b)
    l1 = (a + c) / 2.0 + disc
    l2 = (a + c) / 2.0 - disc
    return ab.select(
        F.col("n").alias("n_orders"),
        (F.round(b / F.sqrt(a * c), 6) + 0.0).alias("corr_xy"),
        F.round(l1 / (l1 + l2), 6).alias("evr1"),
        (F.round(l2 / (l1 + l2), 6) + 0.0).alias("evr2"),
        F.round(l1 / l2, 6).alias("condition_number"),
        (F.round(0.5 * F.atan2(2.0 * b, a - c), 6) + 0.0).alias(
            "theta_radians"
        ),
    )


# --------------------------------------------------------------------------
# Delta-method CI for the ratio metric revenue-per-event (A/B split)
# --------------------------------------------------------------------------
@register(
    "delta_method_ratio_ci",
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
               CAST(sy AS DOUBLE) / sx AS r,
               ((CAST(round(syy, 0) AS DOUBLE)
                 - CAST(sy AS DOUBLE) * sy / n)
                - 2.0 * (CAST(sy AS DOUBLE) / sx)
                      * (CAST(round(sxy, 0) AS DOUBLE)
                         - CAST(sx AS DOUBLE) * sy / n)
                + (CAST(sy AS DOUBLE) / sx)
                      * (CAST(sy AS DOUBLE) / sx)
                      * (CAST(round(sxx, 0) AS DOUBLE)
                         - CAST(sx AS DOUBLE) * sx / n))
               / (n - 1)
               / (n * (CAST(sx AS DOUBLE) / n)
                      * (CAST(sx AS DOUBLE) / n)) AS var_r
        FROM g
    ),
    wide AS (
        SELECT MAX(CASE WHEN grp = 0 THEN n END) AS n_a,
               MAX(CASE WHEN grp = 1 THEN n END) AS n_b,
               MAX(CASE WHEN grp = 0 THEN r END) AS r_a,
               MAX(CASE WHEN grp = 1 THEN r END) AS r_b,
               MAX(CASE WHEN grp = 0 THEN var_r END) AS v_a,
               MAX(CASE WHEN grp = 1 THEN var_r END) AS v_b
        FROM v
    )
    SELECT CAST(n_a AS BIGINT) AS n_users_a,
           CAST(n_b AS BIGINT) AS n_users_b,
           round(r_a, 6) AS ratio_a, round(r_b, 6) AS ratio_b,
           round(r_b - r_a, 6) + 0.0 AS diff,
           round(sqrt(v_a + v_b), 6) AS se,
           round((r_b - r_a) / sqrt(v_a + v_b), 6) + 0.0 AS z_stat,
           round(r_b - r_a - 1.959964 * sqrt(v_a + v_b), 6) + 0.0
               AS ci_low,
           round(r_b - r_a + 1.959964 * sqrt(v_a + v_b), 6) + 0.0
               AS ci_high
    FROM wide
    """,
)
def delta_method_ratio_ci(spark, sf_dir):
    """Delta-method variance and CI for the RATIO metric
    revenue-per-event under the user_id-parity A/B split: R = Σy/Σx
    with user-level clustering, Var(R) ≈ (s_y² − 2R·s_xy + R²·s_x²)
    /(n·x̄²) — the correct standard error when the randomization
    unit (user) differs from the analysis unit (event), where the
    naive per-event t-test ``ab_experiment_readout`` runs is
    anti-conservative. The missing ratio-metric member of the
    experimentation tier (CUPED, SRM, Newcombe, MDE are all
    mean-metric shapes).

    Per-user x/y are exact integers off one rollup; per-group
    Σx/Σy/Σx²/Σy²/Σxy fold exactly (cents² through DECIMAL(38,0),
    scale-0 cast to DOUBLE); R, the three central moments, and the
    z/CI are then identical IEEE expressions in both engines,
    rounded once at 1e-6. Plan: event scan → user rollup → 2-group
    rollup → 1-row pivot; no window, no join."""
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        (F.sum(dec("value", 18, 2)) * 100).cast("bigint").alias("y"),
    ).select(
        (F.col("user_id") % 2).alias("grp"), "x", "y"
    )
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
    r = F.col("sy").cast("double") / F.col("sx")
    cyy = F.round(F.col("syy"), 0).cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy") / n
    cxy = F.round(F.col("sxy"), 0).cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy") / n
    cxx = F.round(F.col("sxx"), 0).cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx") / n
    xbar = F.col("sx").cast("double") / n
    var_r = (cyy - 2.0 * r * cxy + r * r * cxx) / (n - 1) / (
        n * xbar * xbar
    )
    v = g.select("grp", "n", r.alias("r"), var_r.alias("var_r"))
    wide = v.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("grp") == 0, F.col("r"))).alias("r_a"),
        F.max(F.when(F.col("grp") == 1, F.col("r"))).alias("r_b"),
        F.max(F.when(F.col("grp") == 0, F.col("var_r"))).alias("v_a"),
        F.max(F.when(F.col("grp") == 1, F.col("var_r"))).alias("v_b"),
    )
    diff = F.col("r_b") - F.col("r_a")
    se = F.sqrt(F.col("v_a") + F.col("v_b"))
    return wide.select(
        F.col("n_a").cast("bigint").alias("n_users_a"),
        F.col("n_b").cast("bigint").alias("n_users_b"),
        F.round(F.col("r_a"), 6).alias("ratio_a"),
        F.round(F.col("r_b"), 6).alias("ratio_b"),
        (F.round(diff, 6) + 0.0).alias("diff"),
        F.round(se, 6).alias("se"),
        (F.round(diff / se, 6) + 0.0).alias("z_stat"),
        (F.round(diff - 1.959964 * se, 6) + 0.0).alias("ci_low"),
        (F.round(diff + 1.959964 * se, 6) + 0.0).alias("ci_high"),
    )


# --------------------------------------------------------------------------
# NDCG@10/@100 of the value-ranked event retrieval (graded relevance)
# --------------------------------------------------------------------------
@register(
    "ndcg_at_k_ranking",
    oracle="""
    WITH pool AS (
        SELECT event_id,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS s,
               CASE event_type WHEN 'purchase' THEN 7 WHEN 'signup' THEN 3
                    WHEN 'click' THEN 1 WHEN 'view' THEN 1
                    ELSE 0 END AS gg
        FROM events
    ),
    cnt AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN gg = 7 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c7,
               CAST(SUM(CASE WHEN gg = 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c3,
               CAST(SUM(CASE WHEN gg = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1
        FROM pool
    ),
    top AS (
        SELECT gg,
               CAST(ROW_NUMBER() OVER (ORDER BY s DESC, event_id)
                    AS BIGINT) AS r
        FROM pool
        ORDER BY s DESC, event_id LIMIT 100
    ),
    dcg AS (
        SELECT SUM(CAST(round(gg / log2(r + 1.0), 12)
                        AS DECIMAL(38,12))) FILTER (r <= 10) AS d10,
               SUM(CAST(round(gg / log2(r + 1.0), 12)
                        AS DECIMAL(38,12))) AS d100
        FROM top
    ),
    ideal AS (
        SELECT SUM(CAST(round(
                   (CASE WHEN u.r <= c.c7 THEN 7
                         WHEN u.r <= c.c7 + c.c3 THEN 3
                         WHEN u.r <= c.c7 + c.c3 + c.c1 THEN 1
                         ELSE 0 END) / log2(u.r + 1.0), 12)
                   AS DECIMAL(38,12))) FILTER (u.r <= 10) AS i10,
               SUM(CAST(round(
                   (CASE WHEN u.r <= c.c7 THEN 7
                         WHEN u.r <= c.c7 + c.c3 THEN 3
                         WHEN u.r <= c.c7 + c.c3 + c.c1 THEN 1
                         ELSE 0 END) / log2(u.r + 1.0), 12)
                   AS DECIMAL(38,12))) AS i100
        FROM cnt c, (SELECT unnest(range(1, 101)) AS r) u
    )
    SELECT c.n AS n_events,
           CAST(c.c7 + c.c3 + c.c1 AS BIGINT) AS n_relevant,
           round(CAST(d.d10 AS DOUBLE), 9) AS dcg_10,
           round(CAST(i.i10 AS DOUBLE), 9) AS idcg_10,
           round(CAST(d.d10 AS DOUBLE) / CAST(i.i10 AS DOUBLE), 9)
               + 0.0 AS ndcg_10,
           round(CAST(d.d100 AS DOUBLE), 9) AS dcg_100,
           round(CAST(i.i100 AS DOUBLE), 9) AS idcg_100,
           round(CAST(d.d100 AS DOUBLE) / CAST(i.i100 AS DOUBLE), 9)
               + 0.0 AS ndcg_100
    FROM cnt c, dcg d, ideal i
    """,
)
def ndcg_at_k_ranking(spark, sf_dir):
    """NDCG@10/@100 of "retrieve valuable events by ranking on cents
    value" with GRADED relevance (purchase gain 7, signup 3,
    click/view 1, error 0 — the 2^rel−1 gains): DCG@k =
    Σ_{r≤k} gain_r/log2(r+1), normalized by the ideal DCG of the
    relevance-sorted ordering. The graded complement of the staged
    binary ``average_precision_ranking`` (AP treats all positives
    alike; NDCG rewards putting purchases above signups above
    clicks) — the metric retrieval and reranker evals actually
    report.

    Scale shape: the engine never ranks the corpus — the top-100
    pool comes from ``orderBy().limit()`` (TakeOrderedAndProject:
    per-partition heaps + one 100-row merge, no global sort, audit-
    clean), ranks within the pool come from a broadcast triangular
    join over the 100-row frame, and IDCG needs only the per-grade
    COUNTS (one rollup) walked down a constant 1..100 position
    domain. Every DCG term rounds to 1e-12 DECIMAL before the
    order-free fold; the tie-break on event_id makes the ranking a
    deterministic total order."""
    e = t(spark, sf_dir, "events")
    gg = (
        F.when(F.col("event_type") == "purchase", 7)
        .when(F.col("event_type") == "signup", 3)
        .when(F.col("event_type").isin("click", "view"), 1)
        .otherwise(0)
    )
    pool = e.select(
        "event_id",
        (dec("value", 18, 2) * 100).cast("bigint").alias("s"),
        gg.alias("gg"),
    )
    cnt = pool.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("gg") == 7, 1).otherwise(0))
        .cast("bigint")
        .alias("c7"),
        F.sum(F.when(F.col("gg") == 3, 1).otherwise(0))
        .cast("bigint")
        .alias("c3"),
        F.sum(F.when(F.col("gg") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
    )
    top = (
        pool.orderBy(F.col("s").desc(), F.col("event_id"))
        .limit(100)
        .persist()
    )
    a, b = top.alias("a"), top.alias("b")
    earlier = (F.col("b.s") > F.col("a.s")) | (
        (F.col("b.s") == F.col("a.s"))
        & (F.col("b.event_id") < F.col("a.event_id"))
    )
    ranked = (
        a.join(F.broadcast(b), earlier, "left")
        .groupBy(F.col("a.event_id"), F.col("a.gg"))
        .agg((F.count(F.col("b.event_id")) + 1).alias("r"))
    )
    term = F.round(
        F.col("gg") / F.log2(F.col("r") + 1.0), 12
    ).cast("decimal(38,12)")
    dcg = ranked.agg(
        F.sum(F.when(F.col("r") <= 10, term)).alias("d10"),
        F.sum(term).alias("d100"),
    )
    igain = (
        F.when(F.col("r") <= F.col("c7"), 7)
        .when(F.col("r") <= F.col("c7") + F.col("c3"), 3)
        .when(
            F.col("r") <= F.col("c7") + F.col("c3") + F.col("c1"), 1
        )
        .otherwise(0)
    )
    iterm = F.round(igain / F.log2(F.col("r") + 1.0), 12).cast(
        "decimal(38,12)"
    )
    ideal = (
        cnt.select(
            "c7",
            "c3",
            "c1",
            F.explode(F.sequence(F.lit(1), F.lit(100))).alias("r"),
        )
        .agg(
            F.sum(F.when(F.col("r") <= 10, iterm)).alias("i10"),
            F.sum(iterm).alias("i100"),
        )
    )
    return (
        cnt.crossJoin(F.broadcast(dcg))
        .crossJoin(F.broadcast(ideal))
        .select(
            F.col("n").alias("n_events"),
            (F.col("c7") + F.col("c3") + F.col("c1"))
            .cast("bigint")
            .alias("n_relevant"),
            F.round(F.col("d10").cast("double"), 9).alias("dcg_10"),
            F.round(F.col("i10").cast("double"), 9).alias("idcg_10"),
            (
                F.round(
                    F.col("d10").cast("double")
                    / F.col("i10").cast("double"),
                    9,
                )
                + 0.0
            ).alias("ndcg_10"),
            F.round(F.col("d100").cast("double"), 9).alias("dcg_100"),
            F.round(F.col("i100").cast("double"), 9).alias(
                "idcg_100"
            ),
            (
                F.round(
                    F.col("d100").cast("double")
                    / F.col("i100").cast("double"),
                    9,
                )
                + 0.0
            ).alias("ndcg_100"),
        )
    )


# --------------------------------------------------------------------------
# Jackknife (leave-one-out) SE of revenue-per-event (A/B split)
# --------------------------------------------------------------------------
@register(
    "jackknife_ratio_se",
    oracle="""
    WITH per_user AS (
        SELECT user_id % 2 AS grp,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY user_id
    ),
    g AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy
        FROM per_user GROUP BY grp
    ),
    loo AS (
        SELECT p.grp,
               CAST(round(
                   CAST(g.sy - p.y AS DOUBLE) / (g.sx - p.x)
                   - CAST(g.sy AS DOUBLE) / g.sx, 15)
                   AS DECIMAL(38,15)) AS d,
               CAST(round(
                   (CAST(g.sy - p.y AS DOUBLE) / (g.sx - p.x)
                    - CAST(g.sy AS DOUBLE) / g.sx)
                   * (CAST(g.sy - p.y AS DOUBLE) / (g.sx - p.x)
                      - CAST(g.sy AS DOUBLE) / g.sx), 18)
                   AS DECIMAL(38,18)) AS d2
        FROM per_user p JOIN g USING (grp)
    ),
    v AS (
        SELECT l.grp, g.n, CAST(g.sy AS DOUBLE) / g.sx AS r,
               (g.n - 1.0) / g.n
               * (CAST(SUM(l.d2) AS DOUBLE)
                  - CAST(SUM(l.d) AS DOUBLE)
                    * CAST(SUM(l.d) AS DOUBLE) / g.n) AS var_j
        FROM loo l JOIN g USING (grp)
        GROUP BY l.grp, g.n, g.sx, g.sy
    ),
    wide AS (
        SELECT MAX(CASE WHEN grp = 0 THEN n END) AS n_a,
               MAX(CASE WHEN grp = 1 THEN n END) AS n_b,
               MAX(CASE WHEN grp = 0 THEN r END) AS r_a,
               MAX(CASE WHEN grp = 1 THEN r END) AS r_b,
               MAX(CASE WHEN grp = 0 THEN var_j END) AS v_a,
               MAX(CASE WHEN grp = 1 THEN var_j END) AS v_b
        FROM v
    )
    SELECT CAST(n_a AS BIGINT) AS n_users_a,
           CAST(n_b AS BIGINT) AS n_users_b,
           round(r_a, 6) AS ratio_a, round(r_b, 6) AS ratio_b,
           round(sqrt(v_a), 6) AS jk_se_a,
           round(sqrt(v_b), 6) AS jk_se_b,
           round(sqrt(v_a + v_b), 6) AS se_diff
    FROM wide
    """,
)
def jackknife_ratio_se(spark, sf_dir):
    """Leave-one-out jackknife standard error of the ratio metric
    revenue-per-event under the user_id-parity A/B split: θ_(i) =
    (Σy−y_i)/(Σx−x_i), Var_J = (n−1)/n · Σ(θ_(i) − θ̄_(.))² — the
    RESAMPLING cross-check of the closed-form delta method staged as
    ``delta_method_ratio_ci`` (when the two disagree materially the
    ratio is too skewed for either asymptotic, which is itself the
    finding). Fully deterministic: the jackknife enumerates all n
    leave-one-out replicates, no RNG — the resampling family's
    member that a reproducible pipeline can actually gate on.

    Each replicate is ONE arithmetic expression of the row and two
    group scalars (no per-replicate pass — the O(n²) naive form
    collapses because the ratio's LOO update is closed-form); the
    tiny deviations d_i = θ_(i) − R fold exactly at 1e-15/1e-18
    DECIMAL (centering on the full ratio R kills the cancellation
    that Σθ² − nθ̄² would hit in float). Plan: user rollup →
    broadcast 2-row group totals → one more rollup; no window, no
    shuffle beyond the user rollup."""
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        (F.sum(dec("value", 18, 2)) * 100).cast("bigint").alias("y"),
    ).select((F.col("user_id") % 2).alias("grp"), "x", "y")
    g = per_user.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    dexpr = (F.col("sy") - F.col("y")).cast("double") / (
        F.col("sx") - F.col("x")
    ) - F.col("sy").cast("double") / F.col("sx")
    loo = per_user.join(F.broadcast(g), "grp").select(
        "grp",
        "n",
        "sx",
        "sy",
        F.round(dexpr, 15).cast("decimal(38,15)").alias("d"),
        F.round(dexpr * dexpr, 18).cast("decimal(38,18)").alias("d2"),
    )
    n = F.col("n")
    var_j = (
        (n - 1.0)
        / n
        * (
            F.sum("d2").cast("double")
            - F.sum("d").cast("double")
            * F.sum("d").cast("double")
            / n
        )
    )
    v = loo.groupBy("grp", "n", "sx", "sy").agg(var_j.alias("var_j"))
    r = F.col("sy").cast("double") / F.col("sx")
    wide = v.select("grp", "n", r.alias("r"), "var_j").agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("grp") == 0, F.col("r"))).alias("r_a"),
        F.max(F.when(F.col("grp") == 1, F.col("r"))).alias("r_b"),
        F.max(F.when(F.col("grp") == 0, F.col("var_j"))).alias("v_a"),
        F.max(F.when(F.col("grp") == 1, F.col("var_j"))).alias("v_b"),
    )
    return wide.select(
        F.col("n_a").cast("bigint").alias("n_users_a"),
        F.col("n_b").cast("bigint").alias("n_users_b"),
        F.round(F.col("r_a"), 6).alias("ratio_a"),
        F.round(F.col("r_b"), 6).alias("ratio_b"),
        F.round(F.sqrt(F.col("v_a")), 6).alias("jk_se_a"),
        F.round(F.sqrt(F.col("v_b")), 6).alias("jk_se_b"),
        F.round(F.sqrt(F.col("v_a") + F.col("v_b")), 6).alias(
            "se_diff"
        ),
    )


# --------------------------------------------------------------------------
# Flesch reading ease / FK grade per document source
# --------------------------------------------------------------------------
@register(
    "flesch_reading_ease",
    oracle="""
    WITH docs AS (
        SELECT source,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS ws,
               GREATEST(1, len(regexp_extract_all(text, '[.!?]+')))
                   AS sent
        FROM documents
    ),
    wtok AS (
        SELECT source, unnest(ws) AS w FROM docs
    ),
    wstats AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS nw,
               CAST(SUM(GREATEST(1,
                        len(regexp_extract_all(w, '[aeiouy]+'))))
                    AS BIGINT) AS ny
        FROM wtok WHERE w <> '' GROUP BY source
    ),
    dstats AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS nd,
               CAST(SUM(sent) AS BIGINT) AS ns
        FROM docs GROUP BY source
    )
    SELECT d.source AS source, d.nd AS n_docs, w.nw AS n_words,
           d.ns AS n_sentences, w.ny AS n_syllables,
           round(206.835 - 1.015 * (CAST(w.nw AS DOUBLE) / d.ns)
                 - 84.6 * (CAST(w.ny AS DOUBLE) / w.nw), 6) + 0.0
               AS flesch_ease,
           round(0.39 * (CAST(w.nw AS DOUBLE) / d.ns)
                 + 11.8 * (CAST(w.ny AS DOUBLE) / w.nw) - 15.59, 6)
               + 0.0 AS fk_grade
    FROM dstats d JOIN wstats w USING (source)
    ORDER BY source
    """,
)
def flesch_reading_ease(spark, sf_dir):
    """Flesch reading ease and Flesch-Kincaid grade level per
    document source — the classic readability pair (206.835 −
    1.015·W/S − 84.6·Y/W) over corpus totals, with words from a
    whitespace split, sentences from terminal-punctuation runs
    ([.!?]+, floored at 1 per doc), and syllables estimated as
    vowel-group runs per word (floored at 1 — the standard
    dictionary-free heuristic). Readability is a stock quality-
    filtering signal (too-low = telegraphic boilerplate, too-high =
    run-on garbage) that complements the staged Gopher repetition
    rules and the registered stopword/length quality scores.

    W/S/Y are exact integer folds (token explode → hash rollup, the
    corpus-linear shape every text query here uses; both engines run
    the same two regexes on identical strings); the two closing
    formulas are single float expressions per source rounded at
    1e-6. Plan: explode → per-source rollup → 20-row join; no
    window, nothing super-linear."""
    d = t(spark, sf_dir, "documents")
    docs = d.select(
        "source",
        F.split(F.trim(F.lower("text")), r"\s+").alias("ws"),
        F.greatest(
            F.lit(1), F.regexp_count("text", F.lit(r"[.!?]+"))
        )
        .cast("bigint")
        .alias("sent"),
    ).persist()
    wtok = docs.select(
        "source", F.explode("ws").alias("w")
    ).where(F.col("w") != "")
    wstats = wtok.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("nw"),
        F.sum(
            F.greatest(
                F.lit(1), F.regexp_count("w", F.lit("[aeiouy]+"))
            )
        )
        .cast("bigint")
        .alias("ny"),
    )
    dstats = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("sent").cast("bigint").alias("ns"),
    )
    wps = F.col("nw").cast("double") / F.col("ns")
    spw = F.col("ny").cast("double") / F.col("nw")
    return (
        dstats.join(wstats, "source")
        .select(
            "source",
            F.col("nd").alias("n_docs"),
            F.col("nw").alias("n_words"),
            F.col("ns").alias("n_sentences"),
            F.col("ny").alias("n_syllables"),
            (
                F.round(206.835 - 1.015 * wps - 84.6 * spw, 6) + 0.0
            ).alias("flesch_ease"),
            (
                F.round(0.39 * wps + 11.8 * spw - 15.59, 6) + 0.0
            ).alias("fk_grade"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Cross-correlation (daily event count vs daily revenue, lags -7..7)
# --------------------------------------------------------------------------
@register(
    "cross_correlation_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS sc,
               CAST(SUM(v) AS BIGINT) AS sv
        FROM daily
    ),
    den AS (
        SELECT SUM(CAST((c * t.n - t.sc) AS DECIMAL(38,0))
                   * CAST((c * t.n - t.sc) AS DECIMAL(38,0))) AS dc,
               SUM(CAST((v * t.n - t.sv) AS DECIMAL(38,0))
                   * CAST((v * t.n - t.sv) AS DECIMAL(38,0))) AS dv
        FROM daily, tot t
    ),
    num AS (
        SELECT (y.d - x.d) AS lag,
               SUM(CAST((x.c * t.n - t.sc) AS DECIMAL(38,0))
                   * CAST((y.v * t.n - t.sv) AS DECIMAL(38,0))) AS nk
        FROM daily x
        JOIN daily y ON y.d - x.d BETWEEN -7 AND 7
        CROSS JOIN tot t
        GROUP BY 1
    )
    SELECT CAST(num.lag AS BIGINT) AS lag,
           round(CAST(num.nk AS DOUBLE)
                 / sqrt(CAST(den.dc AS DOUBLE)
                        * CAST(den.dv AS DOUBLE)), 9) + 0.0 AS ccf
    FROM num, den
    ORDER BY lag
    """,
)
def cross_correlation_daily(spark, sf_dir):
    """Sample cross-correlation between the daily EVENT-COUNT series
    and the daily REVENUE series at lags −7..+7: r_xy(k) =
    Σ(x_t−x̄)(y_{t+k}−ȳ) / √(Σ(x−x̄)²·Σ(y−ȳ)²) — the lead/lag panel
    behind "does traffic predict revenue, and by how many days?".
    Negative lags test revenue leading traffic; the asymmetry of the
    two tails is the direction finding. Completes the staged
    time-series block: ``acf_ljung_box`` correlates a series with
    itself, THIS correlates the two series the events table actually
    carries.

    Same exactness device as the ACF: both series are integer
    (counts, cents), centering is n-SCALED (x·n − S: integers, no
    float mean), so every lag numerator and both denominators are
    exact DECIMAL(38,0) folds at any partitioning; the n² scaling
    cancels in the ratio, and the denominator product is formed in
    DOUBLE (each factor cast first — their DECIMAL product would
    overflow 38 digits). Plan: one day rollup, a ±7 band self-join
    on the calendar frame with the small side broadcast; 15 rows
    out, no window."""
    e = t(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            F.floor(F.unix_micros("ts") / 86_400_000_000)
            .cast("bigint")
            .alias("d")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            (F.sum(dec("value", 18, 2)) * 100)
            .cast("bigint")
            .alias("v"),
        )
        .persist()
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum("v").cast("bigint").alias("sv"),
    )
    cc = F.col("c").cast("decimal(38,0)") * F.col("n") - F.col("sc")
    cv = F.col("v").cast("decimal(38,0)") * F.col("n") - F.col("sv")
    den = daily.crossJoin(F.broadcast(tot)).agg(
        F.sum(cc * cc).alias("dc"), F.sum(cv * cv).alias("dv")
    )
    cx = F.col("x.c").cast("decimal(38,0)") * F.col("n") - F.col("sc")
    cy = F.col("y.v").cast("decimal(38,0)") * F.col("n") - F.col("sv")
    x, y = daily.alias("x"), daily.alias("y")
    num = (
        x.join(
            F.broadcast(y),
            (F.col("y.d") - F.col("x.d")).between(-7, 7),
        )
        .crossJoin(F.broadcast(tot))
        .groupBy((F.col("y.d") - F.col("x.d")).alias("lag"))
        .agg(F.sum(cx * cy).alias("nk"))
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("bigint").alias("lag"),
            (
                F.round(
                    F.col("nk").cast("double")
                    / F.sqrt(
                        F.col("dc").cast("double")
                        * F.col("dv").cast("double")
                    ),
                    9,
                )
                + 0.0
            ).alias("ccf"),
        )
        .orderBy("lag")
    )


# --------------------------------------------------------------------------
# Tukey-Kramer HSD pairwise comparison of price across priorities
# --------------------------------------------------------------------------
@register(
    "tukey_hsd_pairwise",
    oracle="""
    WITH pool AS (
        SELECT CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT) AS g,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS x
        FROM orders
    ),
    grp AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
               CAST(SUM(x) AS BIGINT) AS sg,
               SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                   AS ssg
        FROM pool GROUP BY g
    ),
    mse AS (
        SELECT CAST(SUM(ng) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(round(
                   (CAST(ssg AS DOUBLE) * ng
                    - CAST(sg AS DECIMAL(38,0)) * sg) / ng, 4)
                   AS DECIMAL(38,4))) AS DOUBLE)
               / (SUM(ng) - COUNT(*)) AS mse
        FROM grp
    )
    SELECT a.g AS g_lo, b.g AS g_hi, a.ng AS n_lo, b.ng AS n_hi,
           round(CAST(a.sg AS DOUBLE) / a.ng
                 - CAST(b.sg AS DOUBLE) / b.ng, 4) + 0.0
               AS mean_diff_cents,
           round(sqrt(m.mse / 2.0
                      * (1.0 / a.ng + 1.0 / b.ng)), 6) AS se_pair,
           round(abs(CAST(a.sg AS DOUBLE) / a.ng
                     - CAST(b.sg AS DOUBLE) / b.ng)
                 / sqrt(m.mse / 2.0 * (1.0 / a.ng + 1.0 / b.ng)), 6)
               AS q_stat,
           CAST(CASE WHEN
                abs(CAST(a.sg AS DOUBLE) / a.ng
                    - CAST(b.sg AS DOUBLE) / b.ng)
                / sqrt(m.mse / 2.0 * (1.0 / a.ng + 1.0 / b.ng))
                > 3.858 THEN 1 ELSE 0 END AS BIGINT) AS significant
    FROM grp a JOIN grp b ON a.g < b.g, mse m
    ORDER BY g_lo, g_hi
    """,
)
def tukey_hsd_pairwise(spark, sf_dir):
    """Tukey-Kramer HSD post-hoc: which PAIRS of order priorities
    actually differ in mean price, after an omnibus ANOVA says
    something does? q_ij = |m_i − m_j| / √(MSE/2·(1/n_i+1/n_j)) for
    all 10 pairs, flagged against the studentized-range critical
    value q(k=5, df=∞, α=.05) = 3.858. The pairwise follow-up the
    staged ``welch_anova_types`` / ``kruskal_wallis_values`` omnibus
    tests demand — an omnibus rejection without a post-hoc is an
    unactionable finding, and running 10 naive t-tests instead is
    exactly the multiplicity mistake HSD exists to prevent.

    n_g/S_g/SS_g are exact integer folds; each group's error sum
    SS_g·n_g − S_g² is an exact n-scaled DECIMAL(38,0) integer whose
    /n_g quotient rounds to 1e-4 DECIMAL before the 5-term MSE fold;
    means, SEs, and q are then identical IEEE expressions in both
    engines. Plan: one orders rollup to FIVE rows, a broadcast
    triangular self-join over them, one scalar MSE broadcast; the
    corpus is touched exactly once."""
    o = t(spark, sf_dir, "orders")
    pool = o.select(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("g"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("x"),
    )
    xd = F.col("x").cast("decimal(38,0)")
    grp = pool.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum("x").cast("bigint").alias("sg"),
        F.sum(xd * xd).alias("ssg"),
    ).persist()
    sgd = F.col("sg").cast("decimal(38,0)")
    sse_term = F.round(
        (F.col("ssg").cast("double") * F.col("ng") - (sgd * F.col("sg")).cast("double"))
        / F.col("ng"),
        4,
    ).cast("decimal(38,4)")
    mse = grp.agg(
        F.sum("ng").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(sse_term).alias("sse"),
    ).select(
        (
            F.col("sse").cast("double") / (F.col("n") - F.col("k"))
        ).alias("mse")
    )
    a, b = grp.alias("a"), grp.alias("b")
    md = F.col("a.sg").cast("double") / F.col("a.ng") - F.col(
        "b.sg"
    ).cast("double") / F.col("b.ng")
    se = F.sqrt(
        F.col("mse")
        / 2.0
        * (1.0 / F.col("a.ng") + 1.0 / F.col("b.ng"))
    )
    q = F.abs(md) / se
    return (
        a.join(F.broadcast(b), F.col("a.g") < F.col("b.g"))
        .crossJoin(F.broadcast(mse))
        .select(
            F.col("a.g").alias("g_lo"),
            F.col("b.g").alias("g_hi"),
            F.col("a.ng").alias("n_lo"),
            F.col("b.ng").alias("n_hi"),
            (F.round(md, 4) + 0.0).alias("mean_diff_cents"),
            F.round(se, 6).alias("se_pair"),
            F.round(q, 6).alias("q_stat"),
            F.when(q > 3.858, 1)
            .otherwise(0)
            .cast("bigint")
            .alias("significant"),
        )
        .orderBy("g_lo", "g_hi")
    )


# --------------------------------------------------------------------------
# One-way random-effects ICC(1) of quantity within suppliers
# --------------------------------------------------------------------------
@register(
    "icc_oneway_suppliers",
    oracle="""
    WITH li AS (
        SELECT l_suppkey, CAST(l_quantity AS BIGINT) AS q
        FROM lineitem
    ),
    grp AS (
        SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS ng,
               CAST(SUM(q) AS BIGINT) AS sg
        FROM li GROUP BY l_suppkey
    ),
    gf AS (
        SELECT CAST(SUM(ng) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS g,
               SUM(CAST(ng AS DECIMAL(38,0)) * ng) AS sn2,
               SUM(CAST(round(
                   CAST(CAST(sg AS DECIMAL(38,0)) * sg AS DOUBLE)
                   / ng, 6) AS DECIMAL(38,6))) AS sbg
        FROM grp
    ),
    tf AS (
        SELECT CAST(SUM(q) AS BIGINT) AS s,
               SUM(CAST(q AS DECIMAL(38,0)) * q) AS ssq
        FROM li
    ),
    ms AS (
        SELECT gf.n, gf.g,
               (CAST(gf.sbg AS DOUBLE)
                - CAST(CAST(tf.s AS DECIMAL(38,0)) * tf.s AS DOUBLE)
                  / gf.n) / (gf.g - 1) AS msb,
               (CAST(tf.ssq AS DOUBLE) - CAST(gf.sbg AS DOUBLE))
                   / (gf.n - gf.g) AS msw,
               (gf.n - CAST(gf.sn2 AS DOUBLE) / gf.n)
                   / (gf.g - 1) AS k0
        FROM gf, tf
    )
    SELECT n AS n_rows, g AS n_suppliers,
           round(msb, 6) AS ms_between,
           round(msw, 6) AS ms_within,
           round(k0, 6) AS k0,
           round((msb - msw) / (msb + (k0 - 1.0) * msw), 9) + 0.0
               AS icc1
    FROM ms
    """,
)
def icc_oneway_suppliers(spark, sf_dir):
    """One-way random-effects intraclass correlation ICC(1): what
    fraction of quantity variance is BETWEEN suppliers vs noise
    within a supplier? From the one-way ANOVA decomposition with the
    unequal-group-size correction k₀ = (N − Σn_g²/N)/(G−1): ICC =
    (MSB − MSW)/(MSB + (k₀−1)·MSW). The variance-DECOMPOSITION
    reading the omnibus tier lacks: ANOVA/Kruskal answer "do groups
    differ?", ICC answers "how much does the grouping explain?" —
    near zero here is itself the calibrated finding (quantities are
    assigned, not supplier-driven). Also the standard reliability
    coefficient when groups are raters.

    Σq, Σq², per-group S_g, n_g, Σn_g² are exact integer/DECIMAL
    folds; each group's S_g²/n_g rounds to 1e-6 DECIMAL before the
    between-groups fold (exact, order-free across ~G groups); the
    three mean squares and ICC are closing float expressions. Plan:
    two hash rollups (supplier grain, then scalar) over one scan —
    no window, no join back, ICC is read off six scalars."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_suppkey", F.col("l_quantity").cast("bigint").alias("q")
    )
    grp = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum("q").cast("bigint").alias("sg"),
    )
    ngd = F.col("ng").cast("decimal(38,0)")
    sgd = F.col("sg").cast("decimal(38,0)")
    gf = grp.agg(
        F.sum("ng").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("g"),
        F.sum(ngd * F.col("ng")).alias("sn2"),
        F.sum(
            F.round(
                (sgd * F.col("sg")).cast("double") / F.col("ng"), 6
            ).cast("decimal(38,6)")
        ).alias("sbg"),
    )
    qd = F.col("q").cast("decimal(38,0)")
    tf = li.agg(
        F.sum("q").cast("bigint").alias("s"),
        F.sum(qd * F.col("q")).alias("ssq"),
    )
    sd = F.col("s").cast("decimal(38,0)")
    msb = (
        F.col("sbg").cast("double")
        - (sd * F.col("s")).cast("double") / F.col("n")
    ) / (F.col("g") - 1)
    msw = (
        F.col("ssq").cast("double") - F.col("sbg").cast("double")
    ) / (F.col("n") - F.col("g"))
    k0 = (F.col("n") - F.col("sn2").cast("double") / F.col("n")) / (
        F.col("g") - 1
    )
    return (
        gf.crossJoin(F.broadcast(tf))
        .select(
            F.col("n").alias("n_rows"),
            F.col("g").alias("n_suppliers"),
            F.round(msb, 6).alias("ms_between"),
            F.round(msw, 6).alias("ms_within"),
            F.round(k0, 6).alias("k0"),
            (
                F.round(
                    (msb - msw) / (msb + (k0 - 1.0) * msw), 9
                )
                + 0.0
            ).alias("icc1"),
        )
    )


# --------------------------------------------------------------------------
# Chow test: structural break in the daily-revenue trend at midpoint
# --------------------------------------------------------------------------
@register(
    "chow_structural_break",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    rng AS (
        SELECT CAST(MIN(d) AS BIGINT) AS dmin,
               CAST((MAX(d) - MIN(d)) // 2 AS BIGINT) AS tmid
        FROM daily
    ),
    seg AS (
        SELECT CASE WHEN d - r.dmin <= r.tmid THEN 1 ELSE 2 END AS s,
               d - r.dmin AS x, y
        FROM daily, rng r
    ),
    folds AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
               SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
               SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
        FROM seg GROUP BY s
    ),
    pooled AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(sx) AS BIGINT) AS sx,
               CAST(SUM(sy) AS BIGINT) AS sy,
               SUM(sxx) AS sxx, SUM(sxy) AS sxy, SUM(syy) AS syy
        FROM folds
    ),
    sse AS (
        SELECT s,
               round((CAST(n * syy - CAST(sy AS DECIMAL(38,0)) * sy
                           AS DOUBLE)
                      - CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy
                             AS DOUBLE)
                        * CAST(n * sxy
                               - CAST(sx AS DECIMAL(38,0)) * sy
                               AS DOUBLE)
                        / CAST(n * sxx
                               - CAST(sx AS DECIMAL(38,0)) * sx
                               AS DOUBLE)) / n, 4) AS sse,
               round(CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy
                          AS DOUBLE)
                     / CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx
                            AS DOUBLE), 9) AS slope
        FROM (SELECT 0 AS s, * FROM pooled
              UNION ALL SELECT s, n, sx, sy, sxx, sxy, syy FROM folds)
    ),
    wide AS (
        SELECT MAX(CASE WHEN s = 0 THEN sse END) AS ssep,
               MAX(CASE WHEN s = 1 THEN sse END) AS sse1,
               MAX(CASE WHEN s = 2 THEN sse END) AS sse2,
               MAX(CASE WHEN s = 1 THEN slope END) AS slope1,
               MAX(CASE WHEN s = 2 THEN slope END) AS slope2
        FROM sse
    )
    SELECT p.n AS n_days, r.tmid + r.dmin AS break_day,
           round(w.slope1, 9) + 0.0 AS slope_pre,
           round(w.slope2, 9) + 0.0 AS slope_post,
           round((w.ssep - w.sse1 - w.sse2) / 2.0
                 / ((w.sse1 + w.sse2) / (p.n - 4.0)), 6) + 0.0
               AS chow_f
    FROM wide w, pooled p, rng r
    """,
)
def chow_structural_break(spark, sf_dir):
    """Chow test for a structural break in the daily-revenue linear
    trend at a KNOWN breakpoint (the calendar midpoint of the order
    history): fit OLS on each half and pooled, F = ((SSE_p − SSE₁ −
    SSE₂)/k) / ((SSE₁+SSE₂)/(n−2k)), k = 2. The known-break
    regression complement of the staged ``pettitt_changepoint``
    (unknown break, distribution-free) and ``durbin_watson_trend_
    residuals`` (no break, serial correlation): together they are
    the trend-stability panel.

    Exactness: day-grain cents revenue; per-segment power sums
    n/Σx/Σy/Σx²/Σxy/Σy² fold exactly (squares through
    DECIMAL(38,0) — the sf0.1 class), SSE = (n·Syy − Sy² −
    (n·Sxy − SxSy)²/(n·Sxx − Sx²))/n is one IEEE expression per
    segment from those integers (each n-scaled factor cast to
    DOUBLE before squaring — the square would overflow 38 digits),
    rounded at 1e-4 before the F ratio. Plan: one orders rollup to
    the bounded calendar frame, a 2-row broadcast min/max, one
    3-group fold; no window."""
    o = t(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
            .cast("bigint")
            .alias("d")
        )
        .agg(
            (F.sum(dec("o_totalprice", 18, 2)) * 100)
            .cast("bigint")
            .alias("y")
        )
        .persist()
    )
    rng = daily.agg(
        F.min("d").cast("bigint").alias("dmin"),
        F.floor((F.max("d") - F.min("d")) / 2)
        .cast("bigint")
        .alias("tmid"),
    )
    seg = daily.crossJoin(F.broadcast(rng)).select(
        F.when(F.col("d") - F.col("dmin") <= F.col("tmid"), 1)
        .otherwise(2)
        .alias("s"),
        (F.col("d") - F.col("dmin")).alias("x"),
        "y",
    )
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    folds = seg.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(xd * F.col("x")).alias("sxx"),
        F.sum(xd * F.col("y")).alias("sxy"),
        F.sum(yd * F.col("y")).alias("syy"),
    ).persist()
    pooled = folds.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("sx").cast("bigint").alias("sx"),
        F.sum("sy").cast("bigint").alias("sy"),
        F.sum("sxx").alias("sxx"),
        F.sum("sxy").alias("sxy"),
        F.sum("syy").alias("syy"),
    )
    both = folds.select(
        "s", "n", "sx", "sy", "sxx", "sxy", "syy"
    ).unionByName(pooled.select(F.lit(0).alias("s"), "*"))
    sxd = F.col("sx").cast("decimal(38,0)")
    syd = F.col("sy").cast("decimal(38,0)")
    syy_c = (F.col("n") * F.col("syy") - syd * F.col("sy")).cast(
        "double"
    )
    sxy_c = (F.col("n") * F.col("sxy") - sxd * F.col("sy")).cast(
        "double"
    )
    sxx_c = (F.col("n") * F.col("sxx") - sxd * F.col("sx")).cast(
        "double"
    )
    sse = both.select(
        "s",
        F.round(
            (syy_c - sxy_c * sxy_c / sxx_c) / F.col("n"), 4
        ).alias("sse"),
        F.round(sxy_c / sxx_c, 9).alias("slope"),
    )
    wide = sse.agg(
        F.max(F.when(F.col("s") == 0, F.col("sse"))).alias("ssep"),
        F.max(F.when(F.col("s") == 1, F.col("sse"))).alias("sse1"),
        F.max(F.when(F.col("s") == 2, F.col("sse"))).alias("sse2"),
        F.max(F.when(F.col("s") == 1, F.col("slope"))).alias(
            "slope1"
        ),
        F.max(F.when(F.col("s") == 2, F.col("slope"))).alias(
            "slope2"
        ),
    )
    return (
        wide.crossJoin(F.broadcast(pooled.select("n")))
        .crossJoin(F.broadcast(rng))
        .select(
            F.col("n").alias("n_days"),
            (F.col("tmid") + F.col("dmin")).alias("break_day"),
            (F.round(F.col("slope1"), 9) + 0.0).alias("slope_pre"),
            (F.round(F.col("slope2"), 9) + 0.0).alias("slope_post"),
            (
                F.round(
                    (F.col("ssep") - F.col("sse1") - F.col("sse2"))
                    / 2.0
                    / (
                        (F.col("sse1") + F.col("sse2"))
                        / (F.col("n") - 4.0)
                    ),
                    6,
                )
                + 0.0
            ).alias("chow_f"),
        )
    )


# --------------------------------------------------------------------------
# Cook's distance / leverage diagnostics on the daily-revenue trend
# --------------------------------------------------------------------------
@register(
    "cooks_distance_trend",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    f AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(d) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(d AS DECIMAL(38,0)) * d) AS sxx,
               SUM(CAST(d AS DECIMAL(38,0)) * y) AS sxy,
               SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
        FROM daily
    ),
    c AS (
        SELECT n,
               CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx
                    AS DOUBLE) AS sxxc,
               CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy
                    AS DOUBLE) AS sxyc,
               CAST(n * syy - CAST(sy AS DECIMAL(38,0)) * sy
                    AS DOUBLE) AS syyc,
               sx, sy
        FROM f
    ),
    pt AS (
        SELECT c.n,
               round((CAST(p.y * c.n - c.sy AS DOUBLE)
                      - (c.sxyc / c.sxxc)
                        * CAST(p.d * c.n - c.sx AS DOUBLE)) / c.n,
                     9) AS e,
               1.0 / c.n
               + CAST(p.d * c.n - c.sx AS DOUBLE)
                 * CAST(p.d * c.n - c.sx AS DOUBLE)
                 / (c.n * c.sxxc) AS h,
               (c.syyc - c.sxyc * c.sxyc / c.sxxc) / c.n
                   / (c.n - 2.0) AS s2,
               p.d
        FROM daily p, c
    ),
    dd AS (
        SELECT n, d,
               round(e * e * h / (2.0 * s2 * (1.0 - h) * (1.0 - h)),
                     9) AS cd
        FROM pt
    )
    SELECT MAX(n) AS n_days,
           round(MAX(cd), 9) AS max_cooks_d,
           CAST(MIN(CASE WHEN cd = m.mx THEN d END) AS BIGINT)
               AS argmax_day,
           CAST(SUM(CASE WHEN cd > 4.0 / n THEN 1 ELSE 0 END)
                AS BIGINT) AS n_influential
    FROM dd, (SELECT MAX(cd) AS mx FROM dd) m
    GROUP BY m.mx
    """,
)
def cooks_distance_trend(spark, sf_dir):
    """Cook's distance influence census on the daily-revenue OLS
    trend: D_t = e_t²·h_t / (p·s²·(1−h_t)²) with leverage h_t = 1/n
    + (t−t̄)²/S_xx, p = 2 — which DAYS single-handedly steer the
    fitted trend, and how many exceed the 4/n influence rule. The
    regression-DIAGNOSTIC member of the outlier family: MAD/Grubbs
    flag extreme values, Mahalanobis flags extreme points, Cook
    flags points that extremity makes INFLUENTIAL on a fit.

    Power sums fold exactly (squares via DECIMAL(38,0) — the sf0.1
    class; n-scaled centered forms cast to DOUBLE before any
    square); each day's residual (n-scaled, rounded 1e-9) and
    leverage are closed-form from six broadcast scalars, so D_t is
    one deterministic expression per row; the argmax is decided on
    the ROUNDED D with calendar tiebreak (min day). Plan: one
    orders rollup to the bounded calendar frame, scalar fold,
    broadcast back; two tiny aggregates close; no window."""
    o = t(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
            .cast("bigint")
            .alias("d")
        )
        .agg(
            (F.sum(dec("o_totalprice", 18, 2)) * 100)
            .cast("bigint")
            .alias("y")
        )
        .persist()
    )
    xd = F.col("d").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    f = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(xd * F.col("d")).alias("sxx"),
        F.sum(xd * F.col("y")).alias("sxy"),
        F.sum(yd * F.col("y")).alias("syy"),
    )
    sxd = F.col("sx").cast("decimal(38,0)")
    syd = F.col("sy").cast("decimal(38,0)")
    c = f.select(
        "n",
        "sx",
        "sy",
        (F.col("n") * F.col("sxx") - sxd * F.col("sx"))
        .cast("double")
        .alias("sxxc"),
        (F.col("n") * F.col("sxy") - sxd * F.col("sy"))
        .cast("double")
        .alias("sxyc"),
        (F.col("n") * F.col("syy") - syd * F.col("sy"))
        .cast("double")
        .alias("syyc"),
    )
    nd = F.col("n").cast("double")
    e = F.round(
        (
            (F.col("y") * F.col("n") - F.col("sy")).cast("double")
            - (F.col("sxyc") / F.col("sxxc"))
            * (F.col("d") * F.col("n") - F.col("sx")).cast("double")
        )
        / nd,
        9,
    )
    h = 1.0 / nd + (
        F.col("d") * F.col("n") - F.col("sx")
    ).cast("double") * (
        F.col("d") * F.col("n") - F.col("sx")
    ).cast(
        "double"
    ) / (
        nd * F.col("sxxc")
    )
    s2 = (
        (F.col("syyc") - F.col("sxyc") * F.col("sxyc") / F.col("sxxc"))
        / nd
        / (nd - 2.0)
    )
    dd = daily.crossJoin(F.broadcast(c)).select(
        "n",
        "d",
        F.round(
            e * e * h / (2.0 * s2 * (1.0 - h) * (1.0 - h)), 9
        ).alias("cd"),
    ).persist()
    mx = dd.agg(F.max("cd").alias("mx"))
    return (
        dd.crossJoin(F.broadcast(mx))
        .groupBy("mx")
        .agg(
            F.max("n").alias("n_days"),
            F.round(F.max("cd"), 9).alias("max_cooks_d"),
            F.min(F.when(F.col("cd") == F.col("mx"), F.col("d")))
            .cast("bigint")
            .alias("argmax_day"),
            F.sum(
                F.when(F.col("cd") > 4.0 / F.col("n"), 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("n_influential"),
        )
        .drop("mx")
    )


# --------------------------------------------------------------------------
# Cronbach's alpha: internal consistency of weekday spend "items"
# --------------------------------------------------------------------------
@register(
    "cronbachs_alpha_dow",
    oracle="""
    WITH cd AS (
        SELECT o_custkey,
               CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   % 7 AS dow,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS s
        FROM orders GROUP BY 1, 2
    ),
    custs AS (
        SELECT o_custkey, CAST(SUM(s) AS BIGINT) AS tot
        FROM cd GROUP BY o_custkey
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM custs),
    items AS (
        SELECT SUM(CAST(round(
                   (CAST(ssi AS DOUBLE) * n.n
                    - CAST(si AS DOUBLE) * si) / n.n / (n.n - 1),
                   6) AS DECIMAL(38,6))) AS sum_vi
        FROM (SELECT dow, CAST(SUM(s) AS BIGINT) AS si,
                     SUM(CAST(s AS DECIMAL(38,0)) * s) AS ssi
              FROM cd GROUP BY dow), nn n
    ),
    tv AS (
        SELECT (CAST(stt AS DOUBLE) * n.n
                - CAST(st AS DOUBLE) * st) / n.n / (n.n - 1)
                   AS v_tot
        FROM (SELECT CAST(SUM(tot) AS BIGINT) AS st,
                     SUM(CAST(tot AS DECIMAL(38,0)) * tot) AS stt
              FROM custs), nn n
    )
    SELECT n.n AS n_customers, CAST(7 AS BIGINT) AS k_items,
           CAST(round(i.sum_vi, 0) AS DOUBLE) AS sum_item_var,
           round(t.v_tot, 4) AS total_var,
           round(7.0 / 6.0
                 * (1.0 - CAST(round(i.sum_vi, 0) AS DOUBLE)
                          / t.v_tot), 9)
               + 0.0 AS cronbach_alpha
    FROM nn n, items i, tv t
    """,
)
def cronbachs_alpha_dow(spark, sf_dir):
    """Cronbach's alpha treating the seven weekday spend totals as a
    7-item scale over customers: α = k/(k−1)·(1 − Σσ²ᵢ/σ²_total).
    The internal-consistency reliability coefficient — near zero
    here is the calibrated reading (weekday spends don't measure one
    latent "spend propensity"; TPC-H dates are uniform), and the
    estimator is the workhorse for any per-subject multi-column
    score sheet (rater items, rubric dimensions, quiz questions).
    Completes the reliability pair with the staged
    ``icc_oneway_suppliers`` (ICC = agreement of repeated measures
    within groups; alpha = coherence of items across subjects).

    Missing (customer, weekday) cells are true zeros, handled
    WITHOUT densifying: item variances use the full customer count
    N with zero-fill algebra (Σs over present rows only — absent
    rows add 0 to both Σs and Σs²). All moments are exact integer/
    DECIMAL folds; the seven per-item variances round to 1e-6
    DECIMAL before their 7-row sum. Plan: one (cust,dow) rollup,
    re-rolled to customers and to the 7-item frame; scalar close,
    no window, weekday from epoch-day % 7 (no locale)."""
    o = t(spark, sf_dir, "orders")
    cd = (
        o.groupBy(
            "o_custkey",
            (
                F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
                .cast("bigint")
                % 7
            ).alias("dow"),
        )
        .agg(
            (F.sum(dec("o_totalprice", 18, 2)) * 100)
            .cast("bigint")
            .alias("s")
        )
        .persist()
    )
    custs = cd.groupBy("o_custkey").agg(
        F.sum("s").cast("bigint").alias("tot")
    )
    nn = custs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    sd = F.col("s").cast("decimal(38,0)")
    item_f = cd.groupBy("dow").agg(
        F.sum("s").cast("bigint").alias("si"),
        F.sum(sd * F.col("s")).alias("ssi"),
    )
    vi = F.round(
        (
            F.col("ssi").cast("double") * F.col("n")
            - F.col("si").cast("double") * F.col("si")
        )
        / F.col("n")
        / (F.col("n") - 1),
        6,
    ).cast("decimal(38,6)")
    items = item_f.crossJoin(F.broadcast(nn)).agg(
        F.sum(vi).alias("sum_vi")
    )
    td = F.col("tot").cast("decimal(38,0)")
    tf = custs.agg(
        F.sum("tot").cast("bigint").alias("st"),
        F.sum(td * F.col("tot")).alias("stt"),
    )
    v_tot = (
        F.col("stt").cast("double") * F.col("n")
        - F.col("st").cast("double") * F.col("st")
    ) / F.col("n") / (F.col("n") - 1)
    return (
        nn.crossJoin(F.broadcast(items))
        .crossJoin(F.broadcast(tf))
        .select(
            F.col("n").alias("n_customers"),
            F.lit(7).cast("bigint").alias("k_items"),
            F.round(F.col("sum_vi"), 0)
            .cast("double")
            .alias("sum_item_var"),
            F.round(v_tot, 4).alias("total_var"),
            (
                F.round(
                    7.0
                    / 6.0
                    * (
                        1.0
                        - F.round(F.col("sum_vi"), 0).cast("double")
                        / v_tot
                    ),
                    9,
                )
                + 0.0
            ).alias("cronbach_alpha"),
        )
    )


# --------------------------------------------------------------------------
# Distance correlation (daily traffic vs revenue, day-domain V-statistic)
# --------------------------------------------------------------------------
@register(
    "distance_correlation_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY 1
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
    pairs AS (
        SELECT i.d AS di,
               CAST(abs(i.c - j.c) AS BIGINT) AS a,
               CAST(abs(i.v - j.v) AS BIGINT) AS b
        FROM daily i, daily j
    ),
    rows_ AS (
        SELECT di, CAST(SUM(a) AS BIGINT) AS ra,
               CAST(SUM(b) AS BIGINT) AS rb,
               SUM(CAST(a AS DECIMAL(38,0)) * b) AS s1ab,
               SUM(CAST(a AS DECIMAL(38,0)) * a) AS s1aa,
               SUM(CAST(b AS DECIMAL(38,0)) * b) AS s1bb
        FROM pairs GROUP BY di
    ),
    tot AS (
        SELECT CAST(SUM(ra) AS BIGINT) AS ga,
               CAST(SUM(rb) AS BIGINT) AS gb,
               SUM(s1ab) AS s1ab, SUM(s1aa) AS s1aa,
               SUM(s1bb) AS s1bb,
               SUM(CAST(ra AS DECIMAL(38,0)) * rb) AS t2ab,
               SUM(CAST(ra AS DECIMAL(38,0)) * ra) AS t2aa,
               SUM(CAST(rb AS DECIMAL(38,0)) * rb) AS t2bb
        FROM rows_
    ),
    dc AS (
        SELECT n.n,
               CAST(t.s1ab AS DOUBLE) / (n.n * n.n)
               - 2.0 * CAST(t.t2ab AS DOUBLE) / (n.n * n.n * n.n)
               + CAST(t.ga AS DOUBLE) * t.gb
                 / (CAST(n.n AS DOUBLE) * n.n * n.n * n.n) AS vab,
               CAST(t.s1aa AS DOUBLE) / (n.n * n.n)
               - 2.0 * CAST(t.t2aa AS DOUBLE) / (n.n * n.n * n.n)
               + CAST(t.ga AS DOUBLE) * t.ga
                 / (CAST(n.n AS DOUBLE) * n.n * n.n * n.n) AS vaa,
               CAST(t.s1bb AS DOUBLE) / (n.n * n.n)
               - 2.0 * CAST(t.t2bb AS DOUBLE) / (n.n * n.n * n.n)
               + CAST(t.gb AS DOUBLE) * t.gb
                 / (CAST(n.n AS DOUBLE) * n.n * n.n * n.n) AS vbb
        FROM tot t, nn n
    ),
    pear AS (
        SELECT round(
            CAST(SUM(CAST(c * n.n - t.sc AS DECIMAL(38,0))
                     * CAST(v * n.n - t.sv AS DECIMAL(38,0)))
                 AS DOUBLE)
            / sqrt(CAST(SUM(CAST(c * n.n - t.sc AS DECIMAL(38,0))
                            * CAST(c * n.n - t.sc AS DECIMAL(38,0)))
                        AS DOUBLE)
                   * CAST(SUM(CAST(v * n.n - t.sv AS DECIMAL(38,0))
                              * CAST(v * n.n - t.sv
                                     AS DECIMAL(38,0)))
                          AS DOUBLE)), 9) AS r
        FROM daily, nn n,
             (SELECT CAST(SUM(c) AS BIGINT) AS sc,
                     CAST(SUM(v) AS BIGINT) AS sv FROM daily) t
    )
    SELECT d.n AS n_days,
           round(p.r, 9) + 0.0 AS pearson_r,
           round(sqrt(d.vab / sqrt(d.vaa * d.vbb)), 9) AS dcor
    FROM dc d, pear p
    """,
)
def distance_correlation_daily(spark, sf_dir):
    """Székely's distance correlation between the daily event-count
    and daily revenue series — the dependence measure that is ZERO
    iff the series are independent (Pearson only catches linear,
    Kendall/Spearman only monotone): dCov²(X,Y) = S₁ − 2S₂ + S₃
    over the pairwise |xᵢ−xⱼ| distance matrices, dCor =
    dCov/√(dVar_x·dVar_y). Reported beside Pearson r on the same
    frame — the gap between them is the nonlinear-dependence
    finding. Completes the dependence tier (Pearson/Spearman/
    Kendall/τ-b/MI are all registered or staged).

    The O(n²) pair frame is over the DAY DOMAIN (the observed
    window is a fixed ~30-day span — a few hundred pairs, the same
    calendar-bounded class as the ACF band join), never event
    grain. All three S₁ sums, the row sums, and their T₂ products
    fold exactly in integer/DECIMAL(38,0); the three V-statistics
    and the closing ratio are IEEE expressions from those integers.
    Plan: one events rollup, one broadcast day×day self-join, two
    folds; no window."""
    e = t(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            F.floor(F.unix_micros("ts") / 86_400_000_000)
            .cast("bigint")
            .alias("d")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            (F.sum(dec("value", 18, 2)) * 100)
            .cast("bigint")
            .alias("v"),
        )
        .persist()
    )
    nn = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    i, j = daily.alias("i"), daily.alias("j")
    pairs = i.crossJoin(F.broadcast(j)).select(
        F.col("i.d").alias("di"),
        F.abs(F.col("i.c") - F.col("j.c"))
        .cast("bigint")
        .alias("a"),
        F.abs(F.col("i.v") - F.col("j.v"))
        .cast("bigint")
        .alias("b"),
    )
    ad = F.col("a").cast("decimal(38,0)")
    bd = F.col("b").cast("decimal(38,0)")
    rows_ = pairs.groupBy("di").agg(
        F.sum("a").cast("bigint").alias("ra"),
        F.sum("b").cast("bigint").alias("rb"),
        F.sum(ad * F.col("b")).alias("s1ab"),
        F.sum(ad * F.col("a")).alias("s1aa"),
        F.sum(bd * F.col("b")).alias("s1bb"),
    )
    rad = F.col("ra").cast("decimal(38,0)")
    rbd = F.col("rb").cast("decimal(38,0)")
    tot = rows_.agg(
        F.sum("ra").cast("bigint").alias("ga"),
        F.sum("rb").cast("bigint").alias("gb"),
        F.sum("s1ab").alias("s1ab"),
        F.sum("s1aa").alias("s1aa"),
        F.sum("s1bb").alias("s1bb"),
        F.sum(rad * F.col("rb")).alias("t2ab"),
        F.sum(rad * F.col("ra")).alias("t2aa"),
        F.sum(rbd * F.col("rb")).alias("t2bb"),
    )
    n = F.col("n").cast("double")

    def vstat(s1, t2, g1, g2):
        return (
            F.col(s1).cast("double") / (n * n)
            - 2.0 * F.col(t2).cast("double") / (n * n * n)
            + F.col(g1).cast("double")
            * F.col(g2)
            / (n * n * n * n)
        )

    dc = tot.crossJoin(F.broadcast(nn)).select(
        F.col("n"),
        vstat("s1ab", "t2ab", "ga", "gb").alias("vab"),
        vstat("s1aa", "t2aa", "ga", "ga").alias("vaa"),
        vstat("s1bb", "t2bb", "gb", "gb").alias("vbb"),
    )
    st = daily.agg(
        F.sum("c").cast("bigint").alias("sc"),
        F.sum("v").cast("bigint").alias("sv"),
    )
    cc = F.col("c").cast("decimal(38,0)") * F.col("n") - F.col("sc")
    cv = F.col("v").cast("decimal(38,0)") * F.col("n") - F.col("sv")
    pear = (
        daily.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(st))
        .agg(
            F.round(
                F.sum(cc * cv).cast("double")
                / F.sqrt(
                    F.sum(cc * cc).cast("double")
                    * F.sum(cv * cv).cast("double")
                ),
                9,
            ).alias("r")
        )
    )
    return dc.crossJoin(F.broadcast(pear)).select(
        F.col("n").cast("bigint").alias("n_days"),
        (F.round(F.col("r"), 9) + 0.0).alias("pearson_r"),
        F.round(
            F.sqrt(
                F.col("vab")
                / F.sqrt(F.col("vaa") * F.col("vbb"))
            ),
            9,
        ).alias("dcor"),
    )


# --------------------------------------------------------------------------
# Pairwise source vocabulary overlap (Jaccard matrix over the source domain)
# --------------------------------------------------------------------------
@register(
    "source_vocab_jaccard",
    oracle="""
    WITH vocab AS (
        SELECT DISTINCT source, w
        FROM (SELECT source, unnest(string_split(text, ' ')) AS w
              FROM documents)
        WHERE w <> ''
    ),
    sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS v
        FROM vocab GROUP BY source
    ),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM vocab a JOIN vocab b
          ON a.w = b.w AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b,
           sa.v AS v_a, sb.v AS v_b, i.n_common,
           round(CAST(i.n_common AS DOUBLE)
                 / (sa.v + sb.v - i.n_common), 9) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    ORDER BY src_a, src_b
    """,
)
def source_vocab_jaccard(spark, sf_dir):
    """Pairwise vocabulary Jaccard between every pair of document
    sources — the corpus-mixing heatmap: which sources speak the
    same language and which contribute genuinely new vocabulary?
    Reads directly on dedup/mixture planning (two sources with
    Jaccard ≈ 1 are near-redundant for vocabulary coverage; the
    registered ``vocab_coverage_curve`` ranks tokens globally, THIS
    localizes overlap to source pairs; ``split_distribution_
    divergence`` compares distributions, not identity of types).

    Scale shape: the pair frame is over the SOURCE domain (20
    sources → 190 rows), never document pairs — the intersection
    count comes from a TOKEN-keyed equi-join of the distinct
    (source, token) vocabulary with itself, whose per-token fanout
    is bounded by the source domain (≤ 20), so the join output is
    ≤ 20× the vocabulary, linear in corpus vocabulary. Counts are
    exact integers; Jaccard is one float division rounded 1e-9."""
    d = t(spark, sf_dir, "documents")
    vocab = (
        d.select(
            "source", F.explode(F.split("text", " ")).alias("w")
        )
        .where(F.col("w") != "")
        .distinct()
        .persist()
    )
    sizes = vocab.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("v")
    )
    a, b = vocab.alias("a"), vocab.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sa = sizes.select(
        F.col("source").alias("src_a"), F.col("v").alias("v_a")
    )
    sb = sizes.select(
        F.col("source").alias("src_b"), F.col("v").alias("v_b")
    )
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "v_a",
            "v_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("v_a") + F.col("v_b") - F.col("n_common")),
                9,
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


# --------------------------------------------------------------------------
# Character-class census per source (mojibake / encoding-quality signal)
# --------------------------------------------------------------------------
@register(
    "charset_class_profile",
    oracle="""
    WITH per AS (
        SELECT source,
               CAST(length(text) AS BIGINT) AS nc,
               CAST(len(regexp_extract_all(text, '[a-z]')) AS BIGINT)
                   AS lo,
               CAST(len(regexp_extract_all(text, '[A-Z]')) AS BIGINT)
                   AS up,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT)
                   AS dg,
               CAST(len(regexp_extract_all(text, '[ ]')) AS BIGINT)
                   AS sp,
               CAST(len(regexp_extract_all(text, '[.!?,;:]'))
                    AS BIGINT) AS pu
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nc) AS BIGINT) AS n_chars,
           round(CAST(SUM(lo) AS DOUBLE) / SUM(nc), 9) AS frac_lower,
           round(CAST(SUM(up) AS DOUBLE) / SUM(nc), 9) + 0.0
               AS frac_upper,
           round(CAST(SUM(dg) AS DOUBLE) / SUM(nc), 9) + 0.0
               AS frac_digit,
           round(CAST(SUM(sp) AS DOUBLE) / SUM(nc), 9) AS frac_space,
           round(CAST(SUM(pu) AS DOUBLE) / SUM(nc), 9) + 0.0
               AS frac_punct,
           round(CAST(SUM(nc - lo - up - dg - sp - pu) AS DOUBLE)
                 / SUM(nc), 9) + 0.0 AS frac_other
    FROM per GROUP BY source
    ORDER BY source
    """,
)
def charset_class_profile(spark, sf_dir):
    """Character-class census per source: fractions of lowercase,
    uppercase, digit, space, terminal/clause punctuation, and OTHER
    characters. ``frac_other`` is the cheap mojibake/encoding-damage
    detector every ingest pipeline wants before spending tokenizer
    time (bytes that are none of the expected classes are control
    chars, replacement chars, or markup bleed); the class mix also
    feeds the quality tier (``text_quality_score``,
    ``gopher_quality_rules``) with signals none of them compute
    (digit-heavy = tables/logs, upper-heavy = shouting/headers).

    Six exact integer counts per document (single-char-class
    regexes behave identically in both engines), summed per source;
    OTHER is the exact complement so the six fractions partition
    1.0 by construction. Plan: one scan, per-doc counting inside
    codegen, one 20-row rollup; no explode, no shuffle beyond the
    rollup."""
    d = t(spark, sf_dir, "documents")
    per = d.select(
        "source",
        F.length("text").cast("bigint").alias("nc"),
        F.regexp_count("text", F.lit("[a-z]"))
        .cast("bigint")
        .alias("lo"),
        F.regexp_count("text", F.lit("[A-Z]"))
        .cast("bigint")
        .alias("up"),
        F.regexp_count("text", F.lit("[0-9]"))
        .cast("bigint")
        .alias("dg"),
        F.regexp_count("text", F.lit("[ ]"))
        .cast("bigint")
        .alias("sp"),
        F.regexp_count("text", F.lit("[.!?,;:]"))
        .cast("bigint")
        .alias("pu"),
    )
    nc = F.sum("nc").cast("double")
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nc").cast("bigint").alias("n_chars"),
            F.round(F.sum("lo") / nc, 9).alias("frac_lower"),
            (F.round(F.sum("up") / nc, 9) + 0.0).alias("frac_upper"),
            (F.round(F.sum("dg") / nc, 9) + 0.0).alias("frac_digit"),
            F.round(F.sum("sp") / nc, 9).alias("frac_space"),
            (F.round(F.sum("pu") / nc, 9) + 0.0).alias("frac_punct"),
            (
                F.round(
                    F.sum(
                        F.col("nc")
                        - F.col("lo")
                        - F.col("up")
                        - F.col("dg")
                        - F.col("sp")
                        - F.col("pu")
                    )
                    / nc,
                    9,
                )
                + 0.0
            ).alias("frac_other"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Sentence-length distribution + burstiness per source
# --------------------------------------------------------------------------
@register(
    "sentence_length_burstiness",
    oracle="""
    WITH frags AS (
        SELECT source,
               CAST(len(regexp_extract_all(f, '[^ ]+')) AS BIGINT)
                   AS w
        FROM (SELECT source,
                     unnest(regexp_split_to_array(text, '[.!?]+'))
                         AS f
              FROM documents)
    ),
    s AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS ns,
               CAST(SUM(w) AS BIGINT) AS sw,
               SUM(CAST(w AS DECIMAL(38,0)) * w) AS sww,
               CAST(MAX(w) AS BIGINT) AS mx
        FROM frags WHERE w > 0 GROUP BY source
    )
    SELECT source, ns AS n_sentences,
           round(CAST(sw AS DOUBLE) / ns, 6) AS mean_words,
           round((CAST(sww AS DOUBLE) * ns
                  - CAST(sw AS DOUBLE) * sw)
                 / (CAST(ns AS DOUBLE) * ns), 6) AS var_words,
           mx AS max_words,
           round((sqrt((CAST(sww AS DOUBLE) * ns
                        - CAST(sw AS DOUBLE) * sw)
                       / (CAST(ns AS DOUBLE) * ns))
                  - CAST(sw AS DOUBLE) / ns)
                 / (sqrt((CAST(sww AS DOUBLE) * ns
                          - CAST(sw AS DOUBLE) * sw)
                         / (CAST(ns AS DOUBLE) * ns))
                    + CAST(sw AS DOUBLE) / ns), 9) + 0.0
               AS burstiness
    FROM s
    ORDER BY source
    """,
)
def sentence_length_burstiness(spark, sf_dir):
    """Sentence-length distribution per source — mean/variance/max
    words per sentence plus the Goh-Barabási burstiness index B =
    (σ−μ)/(σ+μ) ∈ (−1, 1): B → −1 is metronomic uniform sentence
    lengths (template/boilerplate text), B ≈ 0 Poisson-like, B → 1
    heavy-tailed mixing of fragments and run-ons (scrape damage).
    The sentence-GRAIN complement of ``flesch_reading_ease`` (which
    reads corpus totals): two sources can share words-per-sentence
    means and differ wildly in burstiness, and it's the variance
    that flags extraction bugs.

    Sentences split on [.!?]+ runs, words counted as non-space runs
    per fragment, empty fragments dropped — all exact integers in
    both engines; population variance folds via n-scaled
    DECIMAL(38,0) power sums (the overflow class), σ and B close in
    float rounded 1e-6/1e-9. Plan: fragment explode → 20-row
    rollup; corpus-linear, no window."""
    d = t(spark, sf_dir, "documents")
    frags = d.select(
        "source",
        F.explode(F.split("text", r"[.!?]+")).alias("f"),
    ).select(
        "source",
        F.regexp_count("f", F.lit(r"[^ ]+")).cast("bigint").alias("w"),
    )
    wd = F.col("w").cast("decimal(38,0)")
    s = (
        frags.where(F.col("w") > 0)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("ns"),
            F.sum("w").cast("bigint").alias("sw"),
            F.sum(wd * F.col("w")).alias("sww"),
            F.max("w").cast("bigint").alias("mx"),
        )
    )
    nsd = F.col("ns").cast("double")
    mean = F.col("sw").cast("double") / nsd
    var = (
        F.col("sww").cast("double") * F.col("ns")
        - F.col("sw").cast("double") * F.col("sw")
    ) / (nsd * nsd)
    sig = F.sqrt(var)
    return s.select(
        "source",
        F.col("ns").alias("n_sentences"),
        F.round(mean, 6).alias("mean_words"),
        F.round(var, 6).alias("var_words"),
        F.col("mx").alias("max_words"),
        (F.round((sig - mean) / (sig + mean), 9) + 0.0).alias(
            "burstiness"
        ),
    ).orderBy("source")


# --------------------------------------------------------------------------
# Feature-hashing collision audit (1024-bucket hashing-trick census)
# --------------------------------------------------------------------------
@register(
    "feature_hash_collisions",
    oracle="""
    WITH vocab AS (
        SELECT DISTINCT w
        FROM (SELECT unnest(string_split(text, ' ')) AS w
              FROM documents)
        WHERE w <> ''
    ),
    buckets AS (
        SELECT CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT)
                   % 1024 AS b,
               CAST(COUNT(*) AS BIGINT) AS load
        FROM vocab GROUP BY 1
    ),
    f AS (
        SELECT CAST(SUM(load) AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS used,
               CAST(MAX(load) AS BIGINT) AS mx,
               CAST(SUM(load * load) AS BIGINT) AS s2
        FROM buckets
    )
    SELECT v AS vocab_size,
           CAST(1024 AS BIGINT) AS n_buckets,
           used AS buckets_used,
           mx AS max_load,
           CAST(v - used AS BIGINT) AS n_collisions,
           round(CAST(v - used AS DOUBLE) / v, 9) AS collision_rate,
           round(1024.0 * s2 / v - v, 6) AS chi2_uniformity
    FROM f
    """,
)
def feature_hash_collisions(spark, sf_dir):
    """Hashing-trick collision audit: map the corpus vocabulary into
    1024 hash buckets (the md5-based 60-bit token hash shared with
    the fingerprint/winnowing tier, mod 1024) and census the damage
    a hashed feature space would do — buckets used, max load,
    collided-type count V − used, collision rate, and the χ²
    uniformity statistic 1024·Σload²/V − V (≈ 1023 under a uniform
    hash; a large value means the hash is biased on THIS
    vocabulary). The audit to run before shipping a HashingTF-style
    featurizer (the registered ``minhash_near_dup`` path hashes
    into 4096 dims; this measures what such hashing costs).

    Distinct-type rollup → bucket rollup → scalar fold, all exact
    integers (load² ≤ V² fits int64 comfortably at any corpus with
    V ≤ 3e9 types); two closing float ratios. Empty buckets enter
    χ² through the closed form, not a densify. Plan: explode →
    two hash rollups; corpus-linear, no window."""
    d = t(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .distinct()
    )
    buckets = vocab.select(
        (
            F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast(
                "long"
            )
            % 1024
        ).alias("b")
    ).groupBy("b").agg(F.count(F.lit(1)).cast("bigint").alias("load"))
    f = buckets.agg(
        F.sum("load").cast("bigint").alias("v"),
        F.count(F.lit(1)).cast("bigint").alias("used"),
        F.max("load").cast("bigint").alias("mx"),
        F.sum(F.col("load") * F.col("load"))
        .cast("bigint")
        .alias("s2"),
    )
    return f.select(
        F.col("v").alias("vocab_size"),
        F.lit(1024).cast("bigint").alias("n_buckets"),
        F.col("used").alias("buckets_used"),
        F.col("mx").alias("max_load"),
        (F.col("v") - F.col("used")).cast("bigint").alias(
            "n_collisions"
        ),
        F.round(
            (F.col("v") - F.col("used")).cast("double") / F.col("v"),
            9,
        ).alias("collision_rate"),
        F.round(
            1024.0 * F.col("s2") / F.col("v") - F.col("v"), 6
        ).alias("chi2_uniformity"),
    )


# --------------------------------------------------------------------------
# Good-Turing unseen mass + Chao1 richness (frequency-of-frequencies)
# --------------------------------------------------------------------------
@register(
    "good_turing_vocab",
    oracle="""
    WITH tok AS (
        SELECT unnest([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
                       for i in range(1, len(s) - 1)]) AS w
        FROM (SELECT string_split(text, ' ') AS s FROM documents)
    ),
    tf AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY w
    ),
    fof AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS v,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS v1,
               CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS v2
        FROM tf
    )
    SELECT n AS n_tokens, v AS vocab_size,
           v1 AS n_singletons, v2 AS n_doubletons,
           round(CAST(v1 AS DOUBLE) / n, 9) AS gt_unseen_mass,
           round(1.0 - CAST(v1 AS DOUBLE) / n, 9) AS gt_coverage,
           round(CASE WHEN v1 > 0 THEN 2.0 * v2 / v1 ELSE 0.0 END,
                 9) AS gt_adjusted_r1,
           round(v + CAST(v1 AS DOUBLE) * (v1 - 1)
                     / (2.0 * (v2 + 1)), 4) AS chao1_richness
    FROM fof
    """,
)
def good_turing_vocab(spark, sf_dir):
    """Good-Turing unseen-probability mass and Chao1 richness from
    the frequency-of-frequencies of word-TRIGRAM types: P₀ = V₁/N
    (the probability the NEXT trigram is a never-seen type — the
    quantity n-gram LM smoothing redistributes; the corpus's
    whitespace UNIGRAM vocabulary is a closed 31-word set with
    V₁ = 0, which is why the panel runs at the grain
    ``bigram_lm_perplexity`` actually smooths), Simple-GT adjusted
    count r*₁ = 2V₂/V₁ (0 when V₁ = 0), and the bias-corrected
    Chao1 floor on TRUE type richness V + V₁(V₁−1)/(2(V₂+1)). The
    "how much corpus is enough" panel: coverage 1−V₁/N says when
    more data stops adding types, Chao1 says how many remain to
    find — the abundance-based complement of ``heaps_law_fit``
    (growth curve) and the staged ``capture_recapture_lincoln``
    (two-sample overlap).

    Trigram explode → count rollup → one scalar
    frequency-of-frequencies fold — everything before the four
    closing float expressions is exact integers. Corpus-linear
    (≤ one trigram per token position), no window."""
    d = t(spark, sf_dir, "documents")
    s = F.split("text", " ")
    # sequence(1, 0) DESCENDS in Spark — guard docs under 3 tokens
    # with an explicit empty array (matches DuckDB's empty range).
    idx = F.when(
        F.size(s) >= 3, F.sequence(F.lit(1), F.size(s) - 2)
    ).otherwise(F.array().cast("array<int>"))
    tri = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at(s, i),
            F.element_at(s, i + 1),
            F.element_at(s, i + 2),
        ),
    )
    tf = (
        d.select(F.explode(tri).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    fof = tf.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("v1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("v2"),
    )
    return fof.select(
        F.col("n").alias("n_tokens"),
        F.col("v").alias("vocab_size"),
        F.col("v1").alias("n_singletons"),
        F.col("v2").alias("n_doubletons"),
        F.round(F.col("v1").cast("double") / F.col("n"), 9).alias(
            "gt_unseen_mass"
        ),
        F.round(
            1.0 - F.col("v1").cast("double") / F.col("n"), 9
        ).alias("gt_coverage"),
        F.round(
            F.when(
                F.col("v1") > 0, 2.0 * F.col("v2") / F.col("v1")
            ).otherwise(F.lit(0.0)),
            9,
        ).alias("gt_adjusted_r1"),
        F.round(
            F.col("v")
            + F.col("v1").cast("double")
            * (F.col("v1") - 1)
            / (2.0 * (F.col("v2") + 1)),
            4,
        ).alias("chao1_richness"),
    )
