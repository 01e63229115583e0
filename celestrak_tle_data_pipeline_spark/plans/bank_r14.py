"""Round-14 bank (X444+), LIVE since round 14: pre-staged during
rounds 12-13 under the same no-new-debt discipline every flipped bank
(next_window, bank_r11..r13) went through: a stage-only decorator
pre-flip, the two-SF gate mirror in ``tests/test_bank_r14.py``, sf0.1
sweeps via ``tools/check.py --module bank_r14``, the dtype-family
sweep, the authoring-time 64x probe octave (SCALING.md), and
plan-audit notes merged into ``tools/audit_single_partition.py`` at
flip time.

Completed to 49 in round 13; the round-14 flip (bank_r13 protocol)
fills the 50th window slot with ``dersimonian_laird_meta``, promoted
from the round-15 bank (VERDICT r13 item 1 — no red name was left to
re-green after the 50/50 r13 window).

Seed theme: MODERN inference at scale — split-conformal intervals,
the Poisson bootstrap (the distributed-bootstrap standard: per-row
hash-derived Poisson(1) weights need no global resample), information-
criterion model weights, and paired-classifier comparison — methodology
a 100 TB training-data pipeline actually runs, expressed in the same
exact-arithmetic contract as every other bank.

Determinism disciplines inherited unchanged (bank_r11/12/13
docstrings): exact integer/DECIMAL folds, round-before-fold,
``+ 0.0`` on possibly-negative-zero outputs, total-order top-k,
bounded-domain windows only, explicit ``floor()`` before any
double->integer bucket, DOUBLE-cast literals where DuckDB would infer
DECIMAL.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from . import register as _live_register
from .common import (
    COS24,
    DAILY_ORDER_CENTS_SQL,
    NATION_EFFECTS_SQL,
    POIS_CDF,
    SIN24,
    case_sql,
    daily_order_cents,
    dec,
    nation_effects,
    t,
)

BANK_QUERIES: dict = {}
BANK_ORACLES: dict = {}


def register(name: str, oracle: str | None = None):
    """Registers live via ``plans.register`` AND records the name in
    the bank dicts so ``tests/test_bank_r14.py`` keeps gate-mirroring
    the whole flipped set independently of the registry (the same flip
    protocol bank_r11/bank_r12/bank_r13 used)."""

    live = _live_register(name, oracle)

    def deco(fn):
        BANK_QUERIES[name] = fn
        if oracle is not None:
            BANK_ORACLES[name] = oracle
        return live(fn)

    return deco


# --------------------------------------------------------------------------
# Poisson bootstrap standard error of the mean order value
# --------------------------------------------------------------------------
# Deterministic Poisson(1) weights: u = hash(key, k)/2^32 in [0,1) maps
# through the Poisson(1) inverse CDF via literal cumulative thresholds
# (``common.POIS_CDF``, P(X<=k) for k = 0..6; the 1e-5 tail mass above 6
# truncates — both engines share the identical literal table, so no RNG
# and no libm).
def _pois_case(u: str) -> str:
    whens = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(POIS_CDF)
    )
    return f"CASE {whens} ELSE 7 END"


@register(
    "poisson_bootstrap_se",
    oracle=f"""
    WITH v AS (
        SELECT o_orderkey AS k,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS x
        FROM orders
    ),
    reps AS (
        SELECT v.k, v.x, r.rep,
               {_pois_case("((v.k * 2654435761 + r.rep * 40503) "
                           "% 4294967296) / 4294967296.0")} AS w
        FROM v, (SELECT UNNEST(range(1, 51)) AS rep) r
    ),
    stat AS (
        SELECT rep,
               round(SUM(w * x) / (100.0 * SUM(w)), 6) AS m
        FROM reps GROUP BY rep HAVING SUM(w) > 0
    ),
    f AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS b,
               SUM(CAST(m AS DECIMAL(28,6))) AS s1,
               SUM(CAST(round(m * m, 6) AS DECIMAL(38,6))) AS s2
        FROM stat
    ),
    base AS (
        SELECT round(SUM(x) / (100.0 * COUNT(*)), 6) AS mean_value,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM v
    )
    SELECT base.n AS n_orders, base.mean_value, f.b AS n_replicates,
           round(sqrt((CAST(f.s2 AS DOUBLE)
                       - CAST(f.s1 AS DOUBLE) * CAST(f.s1 AS DOUBLE)
                         / f.b) / (f.b - 1.0)), 6) AS bootstrap_se
    FROM f, base
    """,
)
def poisson_bootstrap_se(spark, sf_dir):
    """Poisson-bootstrap standard error of the mean order value, fully
    DETERMINISTIC: each (row, replicate) draws a Poisson(1) weight by
    pushing the Knuth hash u = h(key, rep)/2^32 through a literal
    inverse-CDF table (no RNG, no libm) — the bootstrap that actually
    runs at 100 TB, because Poissonization needs no global resample:
    every row weights itself independently and the 50 replicate means
    are one grouped aggregation (Google's production bootstrap). SE =
    sd of the replicate means. Weighted means are exact integer-cent
    folds divided once per replicate and rounded at 1e-6; the SE folds
    DECIMAL moments of those rounded means. Plan: one scan x 50
    broadcast replicate ids (a projection fan-out, map-side), one
    50-group rollup, one fold."""
    o = t(spark, sf_dir, "orders")
    v = o.select(
        F.col("o_orderkey").alias("k"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("x"),
    )
    reps = spark.range(1, 51).select(F.col("id").alias("rep"))
    u = (
        (
            (F.col("k").cast("decimal(38,0)") * 2654435761
             + F.col("rep") * 40503)
            % 4294967296
        ).cast("double")
        / 4294967296.0
    )
    w = F.expr(
        _pois_case(
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
                F.col("sw") / (100.0 * F.col("wsum")), 6
            ).alias("m")
        )
    )
    f = stat.agg(
        F.count(F.lit(1)).cast("bigint").alias("b"),
        F.sum(F.col("m").cast("decimal(28,6)")).alias("s1"),
        F.sum(
            F.round(F.col("m") * F.col("m"), 6).cast("decimal(38,6)")
        ).alias("s2"),
    )
    base = v.agg(
        F.round(F.sum("x") / (100.0 * F.count(F.lit(1))), 6).alias(
            "mean_value"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    se = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double")
            * F.col("s1").cast("double")
            / F.col("b")
        )
        / (F.col("b") - 1.0)
    )
    return f.crossJoin(F.broadcast(base)).select(
        F.col("n").alias("n_orders"),
        "mean_value",
        F.col("b").alias("n_replicates"),
        F.round(se, 6).alias("bootstrap_se"),
    )


# --------------------------------------------------------------------------
# AIC / Akaike-weight ranking of nested daily-revenue models
# --------------------------------------------------------------------------
@register(
    "aic_model_weights",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    xd AS (
        SELECT day - (SELECT MIN(day) FROM daily) AS x,
               CASE WHEN (day + 4) % 7 >= 5 THEN 1 ELSE 0 END AS w,
               y / 100.0 AS y
        FROM daily
    ),
    f AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(w) AS BIGINT) AS sw,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * w) AS BIGINT) AS sxw,
               SUM(CAST(round(y, 2) AS DECIMAL(28,2))) AS sy,
               SUM(x * CAST(round(y, 2) AS DECIMAL(28,2))) AS sxy,
               SUM(w * CAST(round(y, 2) AS DECIMAL(28,2))) AS swy,
               SUM(CAST(round(y * y, 4) AS DECIMAL(38,4))) AS syy
        FROM xd
    ),
    c AS (
        SELECT n,
               CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n
                   AS tss,
               CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n
                   AS cxx,
               CAST(sxw AS DOUBLE) - CAST(sx AS DOUBLE) * sw / n
                   AS cxw,
               CAST(sw AS DOUBLE) - CAST(sw AS DOUBLE) * sw / n
                   AS cww,
               CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                   * CAST(sy AS DOUBLE) / n AS cxy,
               CAST(swy AS DOUBLE) - CAST(sw AS DOUBLE)
                   * CAST(sy AS DOUBLE) / n AS cwy
        FROM f
    ),
    rss AS (
        SELECT n, tss AS rss0,
               tss - cxy * cxy / cxx AS rss1,
               tss - (cww * cxy * cxy - 2.0 * cxw * cxy * cwy
                      + cxx * cwy * cwy)
                     / (cxx * cww - cxw * cxw) AS rss2
        FROM c
    ),
    aic AS (
        SELECT n,
               round(n * ln(rss0 / n) + 2.0 * 2, 6) AS aic0,
               round(n * ln(rss1 / n) + 2.0 * 3, 6) AS aic1,
               round(n * ln(rss2 / n) + 2.0 * 4, 6) AS aic2
        FROM rss
    )
    SELECT n AS n_days, aic0, aic1, aic2,
           round(exp(-(aic2 - LEAST(aic0, aic1, aic2)) / 2.0)
                 / (exp(-(aic0 - LEAST(aic0, aic1, aic2)) / 2.0)
                    + exp(-(aic1 - LEAST(aic0, aic1, aic2)) / 2.0)
                    + exp(-(aic2 - LEAST(aic0, aic1, aic2)) / 2.0)),
                 6) AS akaike_weight_full
    FROM aic
    """,
)
def aic_model_weights(spark, sf_dir):
    """AIC comparison of three nested daily-revenue models — constant,
    constant + linear trend, constant + trend + weekend dummy — with
    the Akaike weight of the full model: the information-criterion
    answer to "is the weekend effect worth a parameter", where the
    registry's weekend_effect_ols answers with a t test. RSS for each
    model comes from the closed-form normal equations on exact
    DECIMAL moment folds (the two-regressor case via the centered 2x2
    solve — no iteration); AICs and weights are ln/exp terminal
    expressions with the min-AIC shift for overflow safety. Plan: day
    rollup, one moment fold, scalar algebra."""
    daily = daily_order_cents(spark, sf_dir)
    mn = daily.agg(F.min("day").alias("d0"))
    day = F.col("day")
    xd = daily.crossJoin(F.broadcast(mn)).select(
        (day - F.col("d0")).alias("x"),
        F.when((day + 4) % 7 >= 5, 1).otherwise(0).alias("w"),
        (F.col("y") / 100.0).alias("y"),
    )
    f = xd.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("w").cast("bigint").alias("sw"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("w")).cast("bigint").alias("sxw"),
        F.sum(F.round(F.col("y"), 2).cast("decimal(28,2)")).alias(
            "sy"
        ),
        F.sum(
            F.col("x") * F.round(F.col("y"), 2).cast("decimal(28,2)")
        ).alias("sxy"),
        F.sum(
            F.col("w") * F.round(F.col("y"), 2).cast("decimal(28,2)")
        ).alias("swy"),
        F.sum(
            F.round(F.col("y") * F.col("y"), 4).cast("decimal(38,4)")
        ).alias("syy"),
    )
    n = F.col("n")
    tss = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ) / n
    cxx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ) / n
    cxw = F.col("sxw").cast("double") - F.col("sx").cast("double") * F.col(
        "sw"
    ) / n
    cww = F.col("sw").cast("double") - F.col("sw").cast("double") * F.col(
        "sw"
    ) / n
    cxy = F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double") / n
    cwy = F.col("swy").cast("double") - F.col("sw").cast(
        "double"
    ) * F.col("sy").cast("double") / n
    rss0 = tss
    rss1 = tss - cxy * cxy / cxx
    rss2 = tss - (
        cww * cxy * cxy - 2.0 * cxw * cxy * cwy + cxx * cwy * cwy
    ) / (cxx * cww - cxw * cxw)
    aic0 = F.round(n * F.log(rss0 / n) + 2.0 * 2, 6)
    aic1 = F.round(n * F.log(rss1 / n) + 2.0 * 3, 6)
    aic2 = F.round(n * F.log(rss2 / n) + 2.0 * 4, 6)
    out = f.select(
        n.alias("n_days"),
        aic0.alias("aic0"),
        aic1.alias("aic1"),
        aic2.alias("aic2"),
    )
    amin = F.least(F.col("aic0"), F.col("aic1"), F.col("aic2"))
    def ew(c):
        return F.exp(-(c - amin) / 2.0)
    return out.select(
        "n_days",
        "aic0",
        "aic1",
        "aic2",
        F.round(
            ew(F.col("aic2"))
            / (ew(F.col("aic0")) + ew(F.col("aic1")) + ew(F.col("aic2"))),
            6,
        ).alias("akaike_weight_full"),
    )


# --------------------------------------------------------------------------
# Cluster design effect for user-clustered sampling of event values
# --------------------------------------------------------------------------
@register(
    "cluster_design_effect_users",
    oracle="""
    WITH v AS (
        SELECT user_id,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        FROM events
    ),
    u AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(x) AS BIGINT) AS s
        FROM v GROUP BY user_id
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(m) AS BIGINT) AS n,
               CAST(SUM(s) AS BIGINT) AS st,
               CAST(SUM(m * m) AS BIGINT) AS m2,
               CAST(round(SUM(CAST(round(s * 1.0 * s / m, 6)
                   AS DECIMAL(38,6))), 6) AS DOUBLE) AS ssb_raw
        FROM u
    ),
    sq AS (
        SELECT CAST(SUM(CAST(x AS DECIMAL(38,0)) * x)
                    AS DECIMAL(38,0)) AS sxx
        FROM v
    ),
    comp AS (
        SELECT t.k, t.n,
               (t.ssb_raw - CAST(t.st AS DOUBLE) * t.st / t.n)
                   / (t.k - 1.0) AS msb,
               (CAST(sq.sxx AS DOUBLE) - t.ssb_raw) / (t.n - t.k)
                   AS msw,
               (t.n - t.m2 * 1.0 / t.n) / (t.k - 1.0) AS m0
        FROM tot t, sq
    )
    SELECT k AS n_users, n AS n_events,
           round(m0, 6) AS kish_cluster_size,
           round((msb - msw) / (msb + (m0 - 1.0) * msw), 9) + 0.0
               AS icc,
           round(1.0 + (m0 - 1.0)
                 * ((msb - msw) / (msb + (m0 - 1.0) * msw)), 6) + 0.0
               AS design_effect,
           round(n / (1.0 + (m0 - 1.0)
                      * ((msb - msw)
                         / (msb + (m0 - 1.0) * msw))), 2) + 0.0
               AS effective_n
    FROM comp
    """,
)
def cluster_design_effect_users(spark, sf_dir):
    """Design effect of USER-clustered sampling for event values:
    one-way ANOVA intraclass correlation with Kish's unequal-cluster
    size m0 = (N - sum m^2/N)/(k-1), DEFF = 1 + (m0-1)*ICC, and the
    effective sample size N/DEFF. THE number a training-data sampler
    needs before subsampling by user/document/domain instead of by
    row: if values cluster within users (ICC > 0), a user-clustered
    sample of N rows carries only N/DEFF rows of information, and
    every registry estimator's nominal SE is optimistic by
    sqrt(DEFF). All sums of squares are exact integer/DECIMAL folds
    (between-cluster SS via s^2/m terms rounded at 1e-6); ICC and
    DEFF are terminal expressions. Plan: one user rollup, two scalar
    folds."""
    e = t(spark, sf_dir, "events")
    v = e.select(
        "user_id",
        (dec("value", 18, 2) * 100).cast("bigint").alias("x"),
    )
    u = v.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("s"),
    )
    tot = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("m").cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("st"),
        F.sum(F.col("m") * F.col("m")).cast("bigint").alias("m2"),
        F.round(
            F.sum(
                F.round(
                    F.col("s") * 1.0 * F.col("s") / F.col("m"), 6
                ).cast("decimal(38,6)")
            ),
            6,
        )
        .cast("double")
        .alias("ssb_raw"),
    )
    sq = v.agg(
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("sxx")
    )
    comp = tot.crossJoin(F.broadcast(sq))
    msb = (
        F.col("ssb_raw")
        - F.col("st").cast("double") * F.col("st") / F.col("n")
    ) / (F.col("k") - 1.0)
    msw = (F.col("sxx").cast("double") - F.col("ssb_raw")) / (
        F.col("n") - F.col("k")
    )
    m0 = (F.col("n") - F.col("m2") * 1.0 / F.col("n")) / (
        F.col("k") - 1.0
    )
    icc = (msb - msw) / (msb + (m0 - 1.0) * msw)
    return comp.select(
        F.col("k").alias("n_users"),
        F.col("n").alias("n_events"),
        F.round(m0, 6).alias("kish_cluster_size"),
        (F.round(icc, 9) + 0.0).alias("icc"),
        (F.round(1.0 + (m0 - 1.0) * icc, 6) + 0.0).alias(
            "design_effect"
        ),
        (
            F.round(F.col("n") / (1.0 + (m0 - 1.0) * icc), 2) + 0.0
        ).alias("effective_n"),
    )


# --------------------------------------------------------------------------
# McNemar paired comparison of two single-feature classifiers
# --------------------------------------------------------------------------
@register(
    "mcnemar_classifier_pair",
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
    pred_dow AS (
        SELECT dow, ty AS p_dow,
               ROW_NUMBER() OVER (PARTITION BY dow
                                  ORDER BY SUM(n) DESC, ty ASC) AS rn
        FROM cell GROUP BY dow, ty QUALIFY rn = 1
    ),
    pred_vb AS (
        SELECT vb, ty AS p_vb,
               ROW_NUMBER() OVER (PARTITION BY vb
                                  ORDER BY SUM(n) DESC, ty ASC) AS rn
        FROM cell GROUP BY vb, ty QUALIFY rn = 1
    ),
    paired AS (
        SELECT c.n,
               CASE WHEN pd.p_dow = c.ty THEN 1 ELSE 0 END AS a_right,
               CASE WHEN pv.p_vb = c.ty THEN 1 ELSE 0 END AS b_right
        FROM cell c
        JOIN pred_dow pd ON c.dow = pd.dow
        JOIN pred_vb pv ON c.vb = pv.vb
    ),
    s AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN a_right = 1 AND b_right = 0
                        THEN n ELSE 0 END) AS BIGINT) AS b,
               CAST(SUM(CASE WHEN a_right = 0 AND b_right = 1
                        THEN n ELSE 0 END) AS BIGINT) AS c,
               CAST(SUM(a_right * n) AS BIGINT) AS ra,
               CAST(SUM(b_right * n) AS BIGINT) AS rb
        FROM paired
    )
    SELECT n AS n_events,
           round(ra * 1.0 / n, 6) AS acc_dow_model,
           round(rb * 1.0 / n, 6) AS acc_value_model,
           b AS n_only_dow_right, c AS n_only_value_right,
           CASE WHEN b + c = 0 THEN NULL
                ELSE round((b - c) * 1.0 * (b - c) / (b + c), 6) + 0.0
           END AS mcnemar_chi2
    FROM s
    """,
)
def mcnemar_classifier_pair(spark, sf_dir):
    """McNemar paired comparison of two single-feature event-type
    classifiers — predict-by-weekday-mode vs predict-by-value-bucket-
    mode: chi2 = (b-c)^2/(b+c) over the DISAGREEMENT counts only,
    which is the correct test for "is model A better than B" on the
    SAME data (comparing two accuracies with an unpaired test, the
    common mistake, throws away the pairing and loses power). The
    model-selection companion of this bank's naive-Bayes sibling in
    bank_r12. Modal predictions tie-break on type name; every count
    is an exact integer on the bounded 70-cell grid (per-event
    correctness aggregates by cell, never row grain); chi2 is one
    terminal expression (NULL when the models never disagree). Plan:
    one 350-cell rollup, two modal rank windows on bounded frames,
    one fold."""
    e = t(spark, sf_dir, "events")
    base = e.select(
        ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7)
        .cast("bigint")
        .alias("dow"),
        F.expr("least(CAST(floor(value) AS BIGINT) div 50, 9)").alias(
            "vb"
        ),
        F.col("event_type").alias("ty"),
    )
    cell = base.groupBy("dow", "vb", "ty").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).persist()
    pred_dow = (
        cell.groupBy("dow", "ty")
        .agg(F.sum("n").alias("cn"))
        .select(
            "dow",
            F.col("ty").alias("p_dow"),
            F.row_number()
            .over(
                Window.partitionBy("dow").orderBy(
                    F.col("cn").desc(), F.col("ty").asc()
                )
            )
            .alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    pred_vb = (
        cell.groupBy("vb", "ty")
        .agg(F.sum("n").alias("cn"))
        .select(
            "vb",
            F.col("ty").alias("p_vb"),
            F.row_number()
            .over(
                Window.partitionBy("vb").orderBy(
                    F.col("cn").desc(), F.col("ty").asc()
                )
            )
            .alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    paired = (
        cell.join(F.broadcast(pred_dow), "dow")
        .join(F.broadcast(pred_vb), "vb")
        .select(
            "n",
            (F.col("p_dow") == F.col("ty")).cast("int").alias("a_right"),
            (F.col("p_vb") == F.col("ty")).cast("int").alias("b_right"),
        )
    )
    s = paired.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum(
            F.when(
                (F.col("a_right") == 1) & (F.col("b_right") == 0),
                F.col("n"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("b"),
        F.sum(
            F.when(
                (F.col("a_right") == 0) & (F.col("b_right") == 1),
                F.col("n"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("c"),
        F.sum(F.col("a_right") * F.col("n")).cast("bigint").alias("ra"),
        F.sum(F.col("b_right") * F.col("n")).cast("bigint").alias("rb"),
    )
    b = F.col("b")
    c = F.col("c")
    return s.select(
        F.col("n").alias("n_events"),
        F.round(F.col("ra") * 1.0 / F.col("n"), 6).alias(
            "acc_dow_model"
        ),
        F.round(F.col("rb") * 1.0 / F.col("n"), 6).alias(
            "acc_value_model"
        ),
        b.alias("n_only_dow_right"),
        c.alias("n_only_value_right"),
        F.when(b + c == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round((b - c) * 1.0 * (b - c) / (b + c), 6) + 0.0
        )
        .alias("mcnemar_chi2"),
    )


# --------------------------------------------------------------------------
# Empirical-Bernstein vs Hoeffding confidence radius for the mean
# --------------------------------------------------------------------------
@register(
    "empirical_bernstein_ci",
    oracle="""
    WITH v AS (
        SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        FROM events
    ),
    f AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s1,
               CAST(SUM(CAST(x AS DECIMAL(38,0)) * x)
                    AS DECIMAL(38,0)) AS s2,
               CAST(MAX(x) AS BIGINT) AS mx,
               CAST(MIN(x) AS BIGINT) AS mn
        FROM v
    )
    SELECT n AS n_events,
           round(s1 / (100.0 * n), 6) AS mean_value,
           round((mx - mn) / 100.0
                 * sqrt(ln(2.0 / 0.05) / (2.0 * n)), 6)
               AS hoeffding_radius,
           round(sqrt(2.0 * ((CAST(s2 AS DOUBLE)
                              - CAST(s1 AS DOUBLE) * s1 / n)
                             / (n - 1.0)) * ln(3.0 / 0.05) / n)
                 / 100.0
                 + 3.0 * (mx - mn) * ln(3.0 / 0.05) / (100.0 * n),
                 6) AS bernstein_radius
    FROM f
    """,
)
def empirical_bernstein_ci(spark, sf_dir):
    """Empirical-Bernstein vs Hoeffding 95% confidence radius for the
    mean event value: Hoeffding's radius scales with the RANGE
    (R sqrt(ln(2/d)/2n)) while Maurer-Pontil's empirical Bernstein
    scales with the sample STANDARD DEVIATION plus an O(R/n) term —
    on low-variance-wide-range data (exactly the heavy-tail shape of
    commerce values) Bernstein is dramatically tighter, which is why
    bandit/off-policy systems use it for their confidence bounds. The
    two radii side by side quantify the variance-adaptivity gain on
    THIS data. All moments are exact integer/DECIMAL power sums;
    radii are terminal ln/sqrt expressions. Plan: one scan
    projection, one fold."""
    e = t(spark, sf_dir, "events")
    v = e.select(
        (dec("value", 18, 2) * 100).cast("bigint").alias("x")
    )
    f = v.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("s2"),
        F.max("x").cast("bigint").alias("mx"),
        F.min("x").cast("bigint").alias("mn"),
    )
    n = F.col("n")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / n
    ) / (n - 1.0)
    rng = F.col("mx") - F.col("mn")
    return f.select(
        n.alias("n_events"),
        F.round(F.col("s1") / (100.0 * n), 6).alias("mean_value"),
        F.round(
            rng / 100.0 * F.sqrt(F.log(2.0 / F.lit(0.05)) / (2.0 * n)),
            6,
        ).alias("hoeffding_radius"),
        F.round(
            F.sqrt(2.0 * var * F.log(3.0 / F.lit(0.05)) / n) / 100.0
            + 3.0 * rng * F.log(3.0 / F.lit(0.05)) / (100.0 * n),
            6,
        ).alias("bernstein_radius"),
    )


# --------------------------------------------------------------------------
# Anytime-valid betting e-process for the daily revenue mean
# --------------------------------------------------------------------------
@register(
    "betting_evalue_mean_test",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    split AS (
        SELECT CAST(floor(quantile_cont(day, 0.5)) AS BIGINT) AS mid
        FROM daily
    ),
    mu0 AS (
        SELECT round(SUM(d.y) / (100.0 * COUNT(*)), 2) AS mu,
               round(MAX(d.y / 100.0) - MIN(d.y / 100.0), 2) AS rng
        FROM daily d, split WHERE d.day <= split.mid
    ),
    bets AS (
        SELECT d.day,
               round(ln(GREATEST(1.0e-12,
                   1.0 + 0.5 * (d.y / 100.0 - m.mu) / m.rng)), 9)
                   AS lnb
        FROM daily d, split, mu0 m WHERE d.day > split.mid
    ),
    wealth AS (
        SELECT day,
               SUM(CAST(lnb AS DECIMAL(28,9)))
                   OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                   AS lnw
        FROM bets
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bets,
           round(exp(CAST(MAX(lnw) AS DOUBLE)), 6) AS max_evalue,
           round(exp(CAST((SELECT lnw FROM wealth
                           ORDER BY day DESC LIMIT 1) AS DOUBLE)), 6)
               AS final_evalue,
           CAST(SUM(CASE WHEN CAST(lnw AS DOUBLE) > ln(20.0)
                    THEN 1 ELSE 0 END) AS BIGINT)
               AS n_days_above_20
    FROM wealth
    """,
)
def betting_evalue_mean_test(spark, sf_dir):
    """Anytime-valid betting e-process for 'the second half's daily
    revenue mean equals the first half's': wealth W_t = prod(1 +
    lambda (x_t - mu0)/range) with the fixed fraction lambda = 0.5 —
    an e-process under H0 by construction, so by Ville's inequality
    sup W >= 20 is a valid 5% sequential rejection NO MATTER WHEN you
    look (the modern always-valid A/B monitor; the registry's SPRT
    needs a pre-specified alternative, betting e-values do not). mu0
    and the range are pinned from the first half at 2 decimals;
    per-day log-bets round at 1e-9 (floored at 1e-12 against a
    total-loss bet) and accumulate in exact DECIMAL over the calendar
    frame; the max/final wealth and the days-above-20 count are
    terminal expressions. Plan: day rollup, split fold, one
    cumulative window over the bounded day frame."""
    daily = daily_order_cents(spark, sf_dir).persist()
    split = daily.agg(
        F.floor(F.expr("percentile(day, 0.5)"))
        .cast("bigint")
        .alias("mid")
    )
    mu0 = (
        daily.crossJoin(F.broadcast(split))
        .where(F.col("day") <= F.col("mid"))
        .agg(
            F.round(
                F.sum("y") / (100.0 * F.count(F.lit(1))), 2
            ).alias("mu"),
            F.round(
                F.max(F.col("y") / 100.0) - F.min(F.col("y") / 100.0),
                2,
            ).alias("rng"),
        )
    )
    bets = (
        daily.crossJoin(F.broadcast(split))
        .crossJoin(F.broadcast(mu0))
        .where(F.col("day") > F.col("mid"))
        .select(
            "day",
            F.round(
                F.log(
                    F.greatest(
                        F.lit(1.0e-12),
                        1.0
                        + 0.5
                        * (F.col("y") / 100.0 - F.col("mu"))
                        / F.col("rng"),
                    )
                ),
                9,
            ).alias("lnb"),
        )
    )
    wealth = bets.select(
        "day",
        F.sum(F.col("lnb").cast("decimal(28,9)"))
        .over(
            Window.orderBy("day").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("lnw"),
    ).persist()
    final = (
        wealth.orderBy(F.col("day").desc())
        .limit(1)
        .select(F.col("lnw").alias("lnw_final"))
    )
    return wealth.crossJoin(F.broadcast(final)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bets"),
        F.round(
            F.exp(F.max("lnw").cast("double")), 6
        ).alias("max_evalue"),
        F.round(
            F.exp(F.max(F.col("lnw_final")).cast("double")), 6
        ).alias("final_evalue"),
        F.sum(
            F.when(
                F.col("lnw").cast("double") > F.log(F.lit(20.0)), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_days_above_20"),
    )


# --------------------------------------------------------------------------
# Horvitz-Thompson total estimate from the deterministic PPS sample
# --------------------------------------------------------------------------
@register(
    "horvitz_thompson_estimate",
    oracle="""
    WITH v AS (
        SELECT o_orderkey AS k,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS x
        FROM orders
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s
        FROM v
    ),
    samp AS (
        SELECT v.x, t.s,
               LEAST(1.0, 500.0 * v.x / t.s) AS pi
        FROM v, tot t
        WHERE ((v.k * 2654435761 + 12345) % 4294967296)
              / 4294967296.0 < LEAST(1.0, 500.0 * v.x / t.s)
    ),
    est AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
               CAST(round(SUM(CAST(round(x / pi / 100.0, 6)
                   AS DECIMAL(38,6))), 6) AS DOUBLE) AS ht
        FROM samp
    )
    SELECT t.n AS n_orders, e.n_sampled,
           round(t.s / 100.0, 2) AS true_total,
           round(e.ht, 2) AS ht_estimate,
           round((e.ht - t.s / 100.0) * 100.0 / (t.s / 100.0), 4)
               + 0.0 AS pct_error
    FROM tot t, est e
    """,
)
def horvitz_thompson_estimate(spark, sf_dir):
    """Horvitz-Thompson estimator of total revenue from a
    DETERMINISTIC Poisson-PPS sample (inclusion probability pi_i
    proportional to size, expected n = 500; inclusion decided by the
    Knuth hash, so the 'random' sample is replayable): HT = sum over
    the sample of x_i/pi_i, reported against the true total with the
    percent error. The unbiasedness-under-unequal-probabilities
    machinery every audit-sampling and sketch-validation pipeline
    rests on — and the consumer of the registry's systematic-PPS
    sampler, which generates exactly such samples. pi is a ratio of
    exact integers capped at 1; per-row HT terms round at 1e-6 and
    fold in DECIMAL; the comparison is exact. Plan: one scan, one
    scalar fold, one hash-filtered fold."""
    o = t(spark, sf_dir, "orders")
    v = o.select(
        F.col("o_orderkey").alias("k"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("x"),
    )
    tot = v.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    pi = F.least(F.lit(1.0), 500.0 * F.col("x") / F.col("s"))
    u = (
        (
            (F.col("k").cast("decimal(38,0)") * 2654435761 + 12345)
            % 4294967296
        ).cast("double")
        / 4294967296.0
    )
    samp = v.crossJoin(F.broadcast(tot)).where(u < pi)
    est = samp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        F.round(
            F.sum(
                F.round(F.col("x") / pi / 100.0, 6).cast(
                    "decimal(38,6)"
                )
            ),
            6,
        )
        .cast("double")
        .alias("ht"),
    )
    return tot.crossJoin(F.broadcast(est)).select(
        F.col("n").alias("n_orders"),
        "n_sampled",
        F.round(F.col("s") / 100.0, 2).alias("true_total"),
        F.round(F.col("ht"), 2).alias("ht_estimate"),
        (
            F.round(
                (F.col("ht") - F.col("s") / 100.0)
                * 100.0
                / (F.col("s") / 100.0),
                4,
            )
            + 0.0
        ).alias("pct_error"),
    )


# --------------------------------------------------------------------------
# IPW (Hajek) and doubly-robust AIPW treatment-effect estimates
# --------------------------------------------------------------------------
@register(
    "aipw_doubly_robust",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(MAX(CASE WHEN event_type = 'signup'
                        THEN 1 ELSE 0 END) AS BIGINT) AS trt,
               CAST(MAX(CASE WHEN event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS BIGINT) AS y,
               LEAST(CAST(COUNT(*) AS BIGINT) // 5, 3) AS stratum
        FROM events GROUP BY user_id
    ),
    strat AS (
        SELECT stratum,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(trt) AS BIGINT) AS nt,
               CAST(SUM(trt * y) AS BIGINT) AS syt,
               CAST(SUM((1 - trt) * y) AS BIGINT) AS syc
        FROM u GROUP BY stratum
        HAVING SUM(trt) > 0 AND SUM(trt) < COUNT(*)
    ),
    terms AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n,
               CAST(round(SUM(CAST(round(
                   syt * 1.0 * n / nt, 9) AS DECIMAL(28,9))), 9)
                   AS DOUBLE) AS ipw_t,
               CAST(round(SUM(CAST(round(
                   syc * 1.0 * n / (n - nt), 9) AS DECIMAL(28,9))), 9)
                   AS DOUBLE) AS ipw_c,
               CAST(round(SUM(CAST(round(
                   n * (syt * 1.0 / nt - syc * 1.0 / (n - nt)), 9)
                   AS DECIMAL(28,9))), 9) AS DOUBLE) AS strat_sum
        FROM strat
    )
    SELECT n AS n_users,
           round((ipw_t - ipw_c) / n, 6) + 0.0 AS ipw_ate,
           round(strat_sum / n, 6) + 0.0 AS stratified_ate
    FROM terms
    """,
)
def aipw_doubly_robust(spark, sf_dir):
    """Stratified IPW and direct-standardization ATE estimates for the
    effect of SIGNUP on conversion, with activity-volume strata
    (event count // 5 capped at 3) as the confounder model: the IPW
    column weights outcomes by the inverse of the exact within-
    stratum treatment propensity nt/n; the stratified column averages
    within-stratum mean differences weighted by stratum size. With a
    saturated (stratum-indicator) model the two coincide
    asymptotically — their gap on finite data is the practical
    positivity/overlap diagnostic, and degenerate strata (no treated
    or no control) are excluded by the same HAVING rule in both
    engines. All propensities are exact integer ratios; stratum terms
    round at 1e-9 and fold in DECIMAL over the 4-row stratum frame.
    Plan: one user rollup, one 4-row stratum rollup, one fold."""
    e = t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "signup", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("trt"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("y"),
        F.expr("least(count(*) div 5, 3)").cast("bigint").alias(
            "stratum"
        ),
    )
    strat = (
        u.groupBy("stratum")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("trt").cast("bigint").alias("nt"),
            F.sum(F.col("trt") * F.col("y"))
            .cast("bigint")
            .alias("syt"),
            F.sum((1 - F.col("trt")) * F.col("y"))
            .cast("bigint")
            .alias("syc"),
        )
        .where(
            (F.col("nt") > 0) & (F.col("nt") < F.col("n"))
        )
    )
    terms = strat.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.round(
            F.sum(
                F.round(
                    F.col("syt") * 1.0 * F.col("n") / F.col("nt"), 9
                ).cast("decimal(28,9)")
            ),
            9,
        )
        .cast("double")
        .alias("ipw_t"),
        F.round(
            F.sum(
                F.round(
                    F.col("syc")
                    * 1.0
                    * F.col("n")
                    / (F.col("n") - F.col("nt")),
                    9,
                ).cast("decimal(28,9)")
            ),
            9,
        )
        .cast("double")
        .alias("ipw_c"),
        F.round(
            F.sum(
                F.round(
                    F.col("n")
                    * (
                        F.col("syt") * 1.0 / F.col("nt")
                        - F.col("syc")
                        * 1.0
                        / (F.col("n") - F.col("nt"))
                    ),
                    9,
                ).cast("decimal(28,9)")
            ),
            9,
        )
        .cast("double")
        .alias("strat_sum"),
    )
    return terms.select(
        F.col("n").alias("n_users"),
        (
            F.round((F.col("ipw_t") - F.col("ipw_c")) / F.col("n"), 6)
            + 0.0
        ).alias("ipw_ate"),
        (F.round(F.col("strat_sum") / F.col("n"), 6) + 0.0).alias(
            "stratified_ate"
        ),
    )


# --------------------------------------------------------------------------
# Off-policy evaluation: IPS and SNIPS value of a counterfactual policy
# --------------------------------------------------------------------------
@register(
    "offpolicy_ips_snips",
    oracle="""
    WITH base AS (
        SELECT CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT)
                   AS dow,
               event_type AS a,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS r
        FROM events
    ),
    beh AS (
        SELECT dow, a,
               CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(r) AS BIGINT) AS sr
        FROM base GROUP BY dow, a
    ),
    dowtot AS (
        SELECT dow, CAST(SUM(c) AS BIGINT) AS nd FROM beh GROUP BY dow
    ),
    target AS (
        SELECT dow, a AS pi_a,
               ROW_NUMBER() OVER (PARTITION BY dow
                                  ORDER BY sr * 1.0 / c DESC, a ASC)
                   AS rn
        FROM beh QUALIFY rn = 1
    ),
    matched AS (
        SELECT b.dow, b.c, b.sr, d.nd
        FROM beh b
        JOIN target t ON b.dow = t.dow AND b.a = t.pi_a
        JOIN dowtot d ON b.dow = d.dow
    ),
    f AS (
        SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM beh) AS n,
               (SELECT CAST(round(SUM(CAST(round(
                    sr * 1.0 / 100.0 * nd / c, 6)
                    AS DECIMAL(38,6))), 6) AS DOUBLE)
                FROM matched) AS ips_sum,
               (SELECT CAST(round(SUM(CAST(round(nd * 1.0, 6)
                    AS DECIMAL(38,6))), 6) AS DOUBLE)
                FROM matched) AS w_sum,
               (SELECT CAST(SUM(sr) AS BIGINT) FROM beh) AS logged_sr
    )
    SELECT n AS n_events,
           round(logged_sr / (100.0 * n), 6) AS logged_mean_reward,
           round(ips_sum / n, 6) AS ips_value,
           round(ips_sum / w_sum * 100.0 / 100.0, 6) AS snips_value
    FROM f
    """,
)
def offpolicy_ips_snips(spark, sf_dir):
    """Off-policy evaluation of a counterfactual recommendation policy
    from logged data: the target policy deterministically plays each
    weekday's highest-mean-value event type; the behavior policy's
    propensities are the empirical P(type | dow). IPS value =
    mean(1[a = pi(x)] r / p(a|x)) and the self-normalized SNIPS
    divides by the summed importance weights instead of n — the
    variance-bias trade every counterfactual-learning system (ad
    ranking, recsys) reports side by side, next to the logged mean.
    Because both policies and propensities live on the bounded
    (dow, type) grid, the whole estimate reduces to exact grid
    arithmetic: weights nd/c are ratios of exact integers, grid terms
    round at 1e-6 and fold in DECIMAL, and no row-grain importance
    weighting ever materializes. Plan: one 35-cell rollup, a modal
    rank on the bounded grid, one fold."""
    e = t(spark, sf_dir, "events")
    base = e.select(
        ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7)
        .cast("bigint")
        .alias("dow"),
        F.col("event_type").alias("a"),
        (dec("value", 18, 2) * 100).cast("bigint").alias("r"),
    )
    beh = base.groupBy("dow", "a").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("r").cast("bigint").alias("sr"),
    ).persist()
    dowtot = beh.groupBy("dow").agg(
        F.sum("c").cast("bigint").alias("nd")
    )
    target = beh.select(
        "dow",
        F.col("a").alias("pi_a"),
        F.row_number()
        .over(
            Window.partitionBy("dow").orderBy(
                (F.col("sr") * 1.0 / F.col("c")).desc(),
                F.col("a").asc(),
            )
        )
        .alias("rn"),
    ).where(F.col("rn") == 1)
    tgt = target.select(
        F.col("dow").alias("tdow"), F.col("pi_a").alias("ta")
    )
    matched = (
        beh.join(
            F.broadcast(tgt),
            (F.col("dow") == F.col("tdow")) & (F.col("a") == F.col("ta")),
        )
        .select("dow", "c", "sr")
        .join(F.broadcast(dowtot), "dow")
    )
    tot = beh.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum("sr").cast("bigint").alias("logged_sr"),
    )
    f = matched.agg(
        F.round(
            F.sum(
                F.round(
                    F.col("sr")
                    * 1.0
                    / 100.0
                    * F.col("nd")
                    / F.col("c"),
                    6,
                ).cast("decimal(38,6)")
            ),
            6,
        )
        .cast("double")
        .alias("ips_sum"),
        F.round(
            F.sum(
                F.round(F.col("nd") * 1.0, 6).cast("decimal(38,6)")
            ),
            6,
        )
        .cast("double")
        .alias("w_sum"),
    )
    return tot.crossJoin(F.broadcast(f)).select(
        F.col("n").alias("n_events"),
        F.round(
            F.col("logged_sr") / (100.0 * F.col("n")), 6
        ).alias("logged_mean_reward"),
        F.round(F.col("ips_sum") / F.col("n"), 6).alias("ips_value"),
        F.round(
            F.col("ips_sum") / F.col("w_sum") * 100.0 / 100.0, 6
        ).alias("snips_value"),
    )


# --------------------------------------------------------------------------
# Ledoit-Wolf shrinkage intensity for the embedding covariance (8 dims)
# --------------------------------------------------------------------------
@register(
    "ledoit_wolf_shrinkage",
    oracle="""
    WITH el AS (
        SELECT vec_id, CAST(u.i - 1 AS BIGINT) AS dim,
               CAST(embedding[CAST(u.i AS INTEGER)] AS DECIMAL(18,9))
                   AS x
        FROM embeddings,
             UNNEST(range(1, len(embedding) + 1)) AS u(i)
        WHERE u.i <= 8
    ),
    n AS (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n FROM el),
    pair AS (
        SELECT a.dim AS i, b.dim AS j,
               round(CAST(round(SUM(CAST(round(
                         CAST(a.x * b.x AS DOUBLE), 12)
                         AS DECIMAL(28,12))), 12) AS DOUBLE)
                     / (SELECT n FROM n), 9) AS s,
               CAST(round(SUM(CAST(round(
                   CAST(a.x * b.x AS DOUBLE)
                   * CAST(a.x * b.x AS DOUBLE), 9)
                   AS DECIMAL(38,9))), 9) AS DOUBLE) AS q
        FROM el a JOIN el b ON a.vec_id = b.vec_id
        GROUP BY a.dim, b.dim
    ),
    m AS (
        SELECT round(SUM(CASE WHEN i = j THEN s END) / 8.0, 9) AS mu
        FROM pair
    ),
    d2 AS (
        SELECT CAST(round(SUM(CAST(round(
                   (s - CASE WHEN i = j THEN m.mu ELSE 0.0 END)
                   * (s - CASE WHEN i = j THEN m.mu ELSE 0.0 END),
                   12) AS DECIMAL(28,12))), 12) AS DOUBLE) / 8.0 AS d2
        FROM pair, m
    ),
    b2raw AS (
        SELECT CAST(round(SUM(CAST(round(
                   (q / nn.n - s * s) / nn.n, 12)
                   AS DECIMAL(28,12))), 12) AS DOUBLE) / 8.0 AS b2r
        FROM pair, n nn
    )
    SELECT (SELECT n FROM n) AS n_vectors,
           round(m.mu, 6) AS grand_mean_var,
           round(d2.d2, 9) AS dispersion_d2,
           round(LEAST(b2raw.b2r, d2.d2), 9) AS noise_b2,
           round(round(LEAST(b2raw.b2r, d2.d2), 9)
                 / round(d2.d2, 9), 6) AS shrinkage_lambda
    FROM m, d2, b2raw
    """,
)
def ledoit_wolf_shrinkage(spark, sf_dir):
    """Ledoit-Wolf optimal shrinkage intensity toward the scaled
    identity for the embedding covariance (dims 1-8, the registry's
    covariance-block convention): mu = tr(S)/p, d^2 = ||S - mu I||^2/p,
    b^2 = min(d^2, (1/n) avg ||x x' - S||^2/p), lambda = b^2/d^2 —
    the closed-form answer to "how much should I trust this sample
    covariance", which any Mahalanobis/whitening stage at scale should
    apply before inverting. lambda near 1 says the 8x8 S is mostly
    noise at this n. Second and fourth moments fold exactly
    (DECIMAL-cast float32 products; the (xx')^2 fold rounds at 1e-9
    per row-pair); S entries are pinned at 1e-9 before the Frobenius
    folds; MLE (1/n) covariance convention documented. Plan: one
    8-way explode, one vec-keyed 64-cell pair rollup, three bounded
    folds."""
    emb = t(spark, sf_dir, "embeddings")
    el = emb.select(
        "vec_id", F.posexplode("embedding").alias("p", "xf")
    ).where(F.col("p") < 8).select(
        "vec_id",
        F.col("p").cast("bigint").alias("dim"),
        F.col("xf").cast("decimal(18,9)").alias("x"),
    ).persist()
    n = el.agg(
        F.countDistinct("vec_id").cast("bigint").alias("n")
    )
    a = el.select("vec_id", F.col("dim").alias("i"), F.col("x").alias("xa"))
    b = el.select(
        F.col("vec_id").alias("vid2"),
        F.col("dim").alias("j"),
        F.col("x").alias("xb"),
    )
    prod = F.col("xa") * F.col("xb")
    pair = (
        a.join(b, F.col("vec_id") == F.col("vid2"))
        .crossJoin(F.broadcast(n))
        .groupBy("i", "j")
        .agg(
            F.round(
                F.round(
                    F.sum(
                        F.round(prod.cast("double"), 12).cast(
                            "decimal(28,12)"
                        )
                    ),
                    12,
                ).cast("double")
                / F.max("n"),
                9,
            ).alias("s"),
            F.round(
                F.sum(
                    F.round(
                        prod.cast("double") * prod.cast("double"), 9
                    ).cast("decimal(38,9)")
                ),
                9,
            )
            .cast("double")
            .alias("q"),
        )
        .persist()
    )
    m = pair.agg(
        F.round(
            F.sum(F.when(F.col("i") == F.col("j"), F.col("s"))) / 8.0,
            9,
        ).alias("mu")
    )
    d2 = pair.crossJoin(F.broadcast(m)).agg(
        (
            F.round(
                F.sum(
                    F.round(
                        (
                            F.col("s")
                            - F.when(
                                F.col("i") == F.col("j"), F.col("mu")
                            ).otherwise(F.lit(0.0))
                        )
                        * (
                            F.col("s")
                            - F.when(
                                F.col("i") == F.col("j"), F.col("mu")
                            ).otherwise(F.lit(0.0))
                        ),
                        12,
                    ).cast("decimal(28,12)")
                ),
                12,
            ).cast("double")
            / 8.0
        ).alias("d2")
    )
    b2raw = pair.crossJoin(F.broadcast(n)).agg(
        (
            F.round(
                F.sum(
                    F.round(
                        (
                            F.col("q") / F.col("n")
                            - F.col("s") * F.col("s")
                        )
                        / F.col("n"),
                        12,
                    ).cast("decimal(28,12)")
                ),
                12,
            ).cast("double")
            / 8.0
        ).alias("b2r")
    )
    return (
        n.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(d2))
        .crossJoin(F.broadcast(b2raw))
        .select(
            F.col("n").alias("n_vectors"),
            F.round(F.col("mu"), 6).alias("grand_mean_var"),
            F.round(F.col("d2"), 9).alias("dispersion_d2"),
            F.round(
                F.least(F.col("b2r"), F.col("d2")), 9
            ).alias("noise_b2"),
            F.round(
                F.round(F.least(F.col("b2r"), F.col("d2")), 9)
                / F.round(F.col("d2"), 9),
                6,
            ).alias("shrinkage_lambda"),
        )
    )


# --------------------------------------------------------------------------
# Group-sequential monitoring: Pocock vs O'Brien-Fleming at 5 looks
# --------------------------------------------------------------------------
# Two-sided alpha = 0.05, K = 5 equally-spaced looks: the published
# critical values (Pocock constant boundary; OBF decaying boundary).
_POCOCK_5 = 2.413
_OBF_5 = [4.562, 3.226, 2.634, 2.281, 2.040]


@register(
    "group_sequential_looks",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CASE WHEN (epoch_us(ts) // 86400000000 + 4) % 7 >= 5
                    THEN 1 ELSE 0 END AS we,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    idx AS (
        SELECT day, we, y,
               CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS nd
        FROM daily
    ),
    looks AS (SELECT UNNEST(range(1, 6)) AS k),
    cum AS (
        SELECT l.k,
               CAST(SUM(CASE WHEN d.we = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN d.we = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN d.we = 1 THEN d.y ELSE 0 END)
                    AS BIGINT) AS s1,
               CAST(SUM(CASE WHEN d.we = 0 THEN d.y ELSE 0 END)
                    AS BIGINT) AS s0,
               SUM(CASE WHEN d.we = 1
                   THEN CAST(d.y AS DECIMAL(38,0)) * d.y END) AS q1,
               SUM(CASE WHEN d.we = 0
                   THEN CAST(d.y AS DECIMAL(38,0)) * d.y END) AS q0
        FROM idx d JOIN looks l ON d.i * 5 <= d.nd * l.k
        GROUP BY l.k
    ),
    z AS (
        SELECT k, n1, n0,
               round((s1 * 1.0 / n1 - s0 * 1.0 / n0)
                     / sqrt((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)
                             * s1 / n1) / (n1 - 1.0) / n1
                            + (CAST(q0 AS DOUBLE)
                               - CAST(s0 AS DOUBLE) * s0 / n0)
                              / (n0 - 1.0) / n0), 6) + 0.0 AS z
        FROM cum WHERE n1 > 1 AND n0 > 1
    )
    SELECT CAST(k AS BIGINT) AS look, n1 + n0 AS n_days, z,
           abs(z) > {_POCOCK_5} AS crosses_pocock,
           abs(z) > (CASE k WHEN 1 THEN {_OBF_5[0]}
                            WHEN 2 THEN {_OBF_5[1]}
                            WHEN 3 THEN {_OBF_5[2]}
                            WHEN 4 THEN {_OBF_5[3]}
                            ELSE {_OBF_5[4]} END) AS crosses_obf
    FROM z ORDER BY look
    """,
)
def group_sequential_looks(spark, sf_dir):
    """Group-sequential monitoring of the weekend-vs-weekday daily
    revenue gap at five equally-spaced interim looks, against the two
    canonical alpha-spending boundaries: Pocock (constant 2.413 —
    spends alpha early, stops fast) and O'Brien-Fleming (4.562 ->
    2.040 — nearly un-rejectable early, full power at the end). The
    five (z_k, crossed?) rows ARE the dashboard every peeking-aware
    experiment platform renders; the betting e-process in this bank is
    the modern continuous-time alternative. Look membership is exact
    integer arithmetic (i*5 <= nd*k); Welch z at each look comes from
    exact cumulative power sums (y^2 through DECIMAL(38,0)); boundary
    constants are published literals. Plan: day rollup, one bounded
    rank window, a 5-look bounded join, per-look folds."""
    e = t(spark, sf_dir, "events")
    day = F.floor(F.unix_micros("ts") / 86_400_000_000).cast("bigint")
    daily = e.groupBy(
        day.alias("day"),
        F.when((day + 4) % 7 >= 5, 1).otherwise(0).alias("we"),
    ).agg(
        F.sum((dec("value", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    idx = daily.select(
        "we",
        "y",
        F.row_number().over(Window.orderBy("day")).cast("bigint")
        .alias("i"),
        F.count(F.lit(1))
        .over(
            Window.orderBy("day").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("bigint")
        .alias("nd"),
    )
    looks = spark.range(1, 6).select(F.col("id").alias("k"))
    cum = (
        idx.join(
            F.broadcast(looks),
            F.col("i") * 5 <= F.col("nd") * F.col("k"),
        )
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("we") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n1"),
            F.sum(F.when(F.col("we") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n0"),
            F.sum(F.when(F.col("we") == 1, F.col("y")).otherwise(0))
            .cast("bigint")
            .alias("s1"),
            F.sum(F.when(F.col("we") == 0, F.col("y")).otherwise(0))
            .cast("bigint")
            .alias("s0"),
            F.sum(
                F.when(
                    F.col("we") == 1,
                    F.col("y").cast("decimal(38,0)") * F.col("y"),
                )
            ).alias("q1"),
            F.sum(
                F.when(
                    F.col("we") == 0,
                    F.col("y").cast("decimal(38,0)") * F.col("y"),
                )
            ).alias("q0"),
        )
    )
    n1 = F.col("n1")
    n0 = F.col("n0")
    var1 = (
        F.col("q1").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / n1
    ) / (n1 - 1.0) / n1
    var0 = (
        F.col("q0").cast("double")
        - F.col("s0").cast("double") * F.col("s0") / n0
    ) / (n0 - 1.0) / n0
    z = (
        F.col("s1") * 1.0 / n1 - F.col("s0") * 1.0 / n0
    ) / F.sqrt(var1 + var0)
    zt = cum.where((n1 > 1) & (n0 > 1)).select(
        F.col("k").cast("bigint").alias("look"),
        (n1 + n0).alias("n_days"),
        (F.round(z, 6) + 0.0).alias("z"),
    )
    obf = (
        F.when(F.col("look") == 1, F.lit(_OBF_5[0]))
        .when(F.col("look") == 2, F.lit(_OBF_5[1]))
        .when(F.col("look") == 3, F.lit(_OBF_5[2]))
        .when(F.col("look") == 4, F.lit(_OBF_5[3]))
        .otherwise(F.lit(_OBF_5[4]))
    )
    return zt.select(
        "look",
        "n_days",
        "z",
        (F.abs(F.col("z")) > _POCOCK_5).alias("crosses_pocock"),
        (F.abs(F.col("z")) > obf).alias("crosses_obf"),
    ).orderBy("look")


# --------------------------------------------------------------------------
# Winkler interval score for the conformal seasonal-naive band
# --------------------------------------------------------------------------
@register(
    "winkler_interval_score",
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
        SELECT MIN(CASE WHEN cum.cc >= LEAST(nk.k, nk.n_cal)
                   THEN cum.score END) AS q
        FROM cum, nk
    ),
    terms AS (
        SELECT round(2.0 * qh.q
                     + (20.0 / 1.0)
                       * GREATEST((f.yhat - qh.q * 100.0 - f.y)
                                  / 100.0, 0.0)
                     + (20.0 / 1.0)
                       * GREATEST((f.y - f.yhat - qh.q * 100.0)
                                  / 100.0, 0.0), 6) AS ws
        FROM fc f, split, qhat qh WHERE f.day > split.mid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
           round(CAST(round(SUM(CAST(ws AS DECIMAL(28,6))), 6)
                 AS DOUBLE) / COUNT(*), 4) AS mean_winkler_score
    FROM terms
    """,
)
def winkler_interval_score(spark, sf_dir):
    """Mean Winkler (interval) score of the split-conformal 90% band
    around the seasonal-naive forecast on the test half: WS = width +
    (2/alpha) * overshoot for observations outside the band — the
    PROPER scoring rule for interval forecasts, so unlike raw coverage
    (the conformal twin's output) it cannot be gamed by inflating the
    band; together the pair grades calibration AND sharpness. The
    band half-width q reuses the conformal twin's exact
    order-statistic construction; per-day scores are terminal
    expressions on exact cents rounded at 1e-6 and folded in DECIMAL.
    Plan: day rollup, lag-7 window, the conformal quantile device,
    one test-half fold."""
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
        ((9 * (F.sum("c") + 1) + 9) / 10).cast("bigint").alias("k"),
    )
    qhat = (
        cum.crossJoin(F.broadcast(nk))
        .agg(
            F.min(
                F.when(
                    F.col("cc") >= F.least(F.col("k"), F.col("n_cal")),
                    F.col("score"),
                )
            ).alias("q")
        )
    )
    ws = F.round(
        2.0 * F.col("q")
        + 20.0
        * F.greatest(
            (F.col("yhat") - F.col("q") * 100.0 - F.col("y")) / 100.0,
            F.lit(0.0),
        )
        + 20.0
        * F.greatest(
            (F.col("y") - F.col("yhat") - F.col("q") * 100.0) / 100.0,
            F.lit(0.0),
        ),
        6,
    )
    terms = (
        fc.crossJoin(F.broadcast(split))
        .crossJoin(F.broadcast(qhat))
        .where(F.col("day") > F.col("mid"))
        .select(ws.alias("ws"))
    )
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.round(
            F.round(
                F.sum(F.col("ws").cast("decimal(28,6)")), 6
            ).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("mean_winkler_score"),
    )


# --------------------------------------------------------------------------
# PIT uniformity check for the climatological forecast (LOO ranks)
# --------------------------------------------------------------------------
@register(
    "pit_uniformity_check",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    rk AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY y, day) AS BIGINT)
                   AS r,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM daily
    ),
    pit AS (
        SELECT LEAST(CAST(floor(10.0 * (r - 1.0) / (n - 1.0))
                          AS BIGINT), 9) AS bin,
               n
        FROM rk
    ),
    g AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS c FROM pit GROUP BY bin
    ),
    nn AS (SELECT CAST(MAX(n) AS BIGINT) AS n FROM pit)
    SELECT nn.n AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           round(CAST(round(SUM(CAST(round(
                 (g.c - nn.n * 0.1) * (g.c - nn.n * 0.1)
                 / (nn.n * 0.1), 9) AS DECIMAL(28,9))), 9) AS DOUBLE),
                 6) AS pit_chi2
    FROM g, nn GROUP BY nn.n
    """,
)
def pit_uniformity_check(spark, sf_dir):
    """Probability-integral-transform uniformity check for the
    climatological forecast of daily revenue: each day\'s PIT value is
    its leave-one-out empirical CDF position (r-1)/(n-1) under unique
    (y, day) ranks; a calibrated probabilistic forecast makes PIT
    uniform, and the 10-bin chi2 against n/10 quantifies the failure
    (U-shape = underdispersed forecasts, hump = overdispersed — the
    standard verification histogram read as one number). The
    probabilistic-calibration sibling of the interval pair in this
    bank (conformal = coverage, Winkler = sharpness, PIT = full
    distribution). Ranks are exact via the total order over the
    calendar frame; bin counts are exact integers; chi2 terms round at
    1e-9 and fold in DECIMAL over 10 rows. Plan: day rollup, one rank
    window over the bounded frame, one 10-bin rollup, one fold."""
    daily = daily_order_cents(spark, sf_dir)
    rk = daily.select(
        F.row_number().over(Window.orderBy("y", "day")).cast("bigint")
        .alias("r"),
        F.count(F.lit(1))
        .over(
            Window.orderBy("y", "day").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("bigint")
        .alias("n"),
    )
    pit = rk.select(
        F.least(
            F.floor(
                10.0 * (F.col("r") - 1.0) / (F.col("n") - 1.0)
            ).cast("bigint"),
            F.lit(9).cast("bigint"),
        ).alias("bin"),
        "n",
    )
    g = pit.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    nn = pit.agg(F.max("n").cast("bigint").alias("n"))
    term = (
        (F.col("c") - F.col("n") * 0.1)
        * (F.col("c") - F.col("n") * 0.1)
        / (F.col("n") * 0.1)
    )
    return (
        g.crossJoin(F.broadcast(nn))
        .groupBy("n")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            F.round(
                F.round(
                    F.sum(F.round(term, 9).cast("decimal(28,9)")), 9
                ).cast("double"),
                6,
            ).alias("pit_chi2"),
        )
        .select(
            F.col("n").alias("n_days"),
            "n_bins",
            "pit_chi2",
        )
    )


# --------------------------------------------------------------------------
# Theil-Sen slope with the distribution-free (Kendall-based) CI
# --------------------------------------------------------------------------
@register(
    "sen_slope_confidence_band",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    slopes AS (
        SELECT round((b.y - a.y) / (100.0 * (b.x - a.x)), 6) AS sl
        FROM (SELECT day AS x, y FROM daily) a
        JOIN (SELECT day AS x, y FROM daily) b ON a.x < b.x
    ),
    by_sl AS (
        SELECT sl, CAST(COUNT(*) AS BIGINT) AS c
        FROM slopes GROUP BY sl
    ),
    cum AS (
        SELECT sl,
               SUM(c) OVER (ORDER BY sl ROWS UNBOUNDED PRECEDING)
                   AS cc
        FROM by_sl
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
    ranks AS (
        SELECT CAST(SUM(c) AS BIGINT) AS np,
               CAST(floor((SUM(c)
                    - 1.96 * sqrt(nd.n * (nd.n - 1.0)
                                  * (2 * nd.n + 5) / 18.0)) / 2.0)
                    AS BIGINT) AS r_lo,
               CAST(ceil((SUM(c)
                    + 1.96 * sqrt(nd.n * (nd.n - 1.0)
                                  * (2 * nd.n + 5) / 18.0)) / 2.0)
                    AS BIGINT) AS r_hi
        FROM by_sl, nd GROUP BY nd.n
    )
    SELECT r.np AS n_pairs,
           (SELECT MIN(CASE WHEN cc >= (r.np + 1) // 2
                       THEN sl END) FROM cum) AS sen_slope_lo_median,
           (SELECT MIN(CASE WHEN cc >= GREATEST(r.r_lo, 1)
                       THEN sl END) FROM cum) AS ci_lower,
           (SELECT MIN(CASE WHEN cc >= LEAST(r.r_hi, r.np)
                       THEN sl END) FROM cum) AS ci_upper
    FROM ranks r
    """,
)
def sen_slope_confidence_band(spark, sf_dir):
    """Theil-Sen slope of daily revenue with the classical
    distribution-free confidence band: the median pairwise slope
    (lower-median convention — the exact order statistic at rank
    ceil(N/2), no interpolation) bracketed by the order statistics at
    ranks (N -+ 1.96 sqrt(n(n-1)(2n+5)/18))/2 — Sen's 1968 CI, valid
    with NO normality or homoskedasticity assumption because it
    inverts Kendall's S. Completes the robust-trend tier (Siegel
    repeated medians and the plain Sen estimator are elsewhere in the
    banks) with the UNCERTAINTY statement those point estimates lack.
    Pairwise slopes are exact cent/day rationals rounded at 1e-6; the
    three order statistics come from one cumulative count over the
    distinct-slope grid (the ranged-rank device class — never a
    row-grain sort); rank arithmetic is exact integers with the
    normal-approximation constant as a literal. The O(d^2) pair frame
    is calendar-bounded. Plan: day rollup, bounded triangular join,
    one grid cumulative, three order-stat picks."""
    daily = daily_order_cents(spark, sf_dir).persist()
    a = daily.select(F.col("day").alias("xa"), F.col("y").alias("ya"))
    b = daily.select(F.col("day").alias("xb"), F.col("y").alias("yb"))
    slopes = a.join(
        F.broadcast(b), F.col("xa") < F.col("xb")
    ).select(
        F.round(
            (F.col("yb") - F.col("ya"))
            / (100.0 * (F.col("xb") - F.col("xa"))),
            6,
        ).alias("sl")
    )
    by_sl = slopes.groupBy("sl").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cum = by_sl.select(
        "sl",
        F.sum("c")
        .over(
            Window.orderBy("sl").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cc"),
    ).persist()
    nd = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    halfw = 1.96 * F.sqrt(
        F.col("n") * (F.col("n") - 1.0) * (2 * F.col("n") + 5) / 18.0
    )
    ranks = (
        by_sl.crossJoin(F.broadcast(nd))
        .groupBy("n")
        .agg(F.sum("c").cast("bigint").alias("np"))
        .select(
            "np",
            F.floor((F.col("np") - halfw) / 2.0)
            .cast("bigint")
            .alias("r_lo"),
            F.ceil((F.col("np") + halfw) / 2.0)
            .cast("bigint")
            .alias("r_hi"),
        )
    )
    j = cum.crossJoin(F.broadcast(ranks))
    def pick(rank_expr, name):
        return F.min(
            F.when(F.col("cc") >= rank_expr, F.col("sl"))
        ).alias(name)
    return j.groupBy("np").agg(
        pick(F.floor((F.col("np") + 1) / 2).cast("bigint"), "med_raw"),
        pick(F.greatest(F.col("r_lo"), F.lit(1)), "ci_lower"),
        pick(F.least(F.col("r_hi"), F.col("np")), "ci_upper"),
    ).select(
        F.col("np").alias("n_pairs"),
        F.col("med_raw").alias("sen_slope_lo_median"),
        "ci_lower",
        "ci_upper",
    )


# --------------------------------------------------------------------------
# Categorical (brand) assortativity of the co-purchase graph
# --------------------------------------------------------------------------
@register(
    "assortativity_by_brand",
    oracle="""
    WITH edges AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    brand AS (SELECT p_partkey AS pk, p_brand AS b FROM part),
    -- staged part-joins + MATERIALIZED mix (see _BRAND_EDGE_SQL note)
    e1 AS (
        SELECT e.p2, br1.b AS b1
        FROM edges e JOIN brand br1 ON e.p1 = br1.pk
    ),
    mix AS MATERIALIZED (
        SELECT e1.b1, br2.b AS b2, CAST(COUNT(*) AS BIGINT) AS m
        FROM e1 JOIN brand br2 ON e1.p2 = br2.pk
        GROUP BY e1.b1, br2.b
    ),
    tot AS (SELECT CAST(SUM(m) AS BIGINT) AS mm FROM mix),
    marg AS (
        SELECT b, CAST(SUM(m) AS BIGINT) AS d
        FROM (SELECT b1 AS b, m FROM mix
              UNION ALL SELECT b2 AS b, m FROM mix)
        GROUP BY b
    ),
    terms AS (
        SELECT
          (SELECT CAST(SUM(m) AS BIGINT) FROM mix WHERE b1 = b2)
              AS same,
          (SELECT CAST(SUM(CAST(d AS DECIMAL(38,0)) * d) AS
                  DECIMAL(38,0)) FROM marg) AS sum_d2,
          tot.mm
        FROM tot
    )
    SELECT mm AS n_edges,
           round(same * 1.0 / mm, 6) AS same_brand_share,
           round((same * 1.0 / mm
                  - CAST(sum_d2 AS DOUBLE) / (4.0 * mm * mm))
                 / (1.0 - CAST(sum_d2 AS DOUBLE) / (4.0 * mm * mm)),
                 6) + 0.0 AS assortativity_r
    FROM terms
    """,
)
def assortativity_by_brand(spark, sf_dir):
    """Newman's categorical assortativity coefficient for the BRAND
    attribute on the co-purchase graph: r = (tr(e) - sum a_i b_i) /
    (1 - sum a_i b_i) from the brand-mixing matrix — do products
    co-sell within their own brand (r > 0, brand loyalty baskets) or
    across brands (r < 0, complementary-goods baskets)? The discrete-
    attribute sibling of the degree assortativity already in the
    registry, and the one-number justification for (or against)
    brand-keyed partitioning of the affinity graph. Edge endpoints
    are unordered, so marginals a = b and sum a_i b_i = sum d_i^2 /
    (2m)^2 with d from both-endpoint stacking — all exact integers
    (d^2 through DECIMAL(38,0)); r is one terminal expression. Plan:
    the order-blocked edge build, two broadcast brand joins, a
    625-cell mixing rollup, bounded folds."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("p2"))
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("p1") < F.col("p2"))
        .select("p1", "p2")
        .distinct()
    )
    brand = t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pk"), F.col("p_brand").alias("b")
    )
    br1 = brand.select(F.col("pk").alias("p1"), F.col("b").alias("b1"))
    br2 = brand.select(F.col("pk").alias("p2"), F.col("b").alias("b2"))
    mix = (
        edges.join(F.broadcast(br1), "p1")
        .join(F.broadcast(br2), "p2")
        .groupBy("b1", "b2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
        .persist()
    )
    tot = mix.agg(F.sum("m").cast("bigint").alias("mm"))
    same = mix.where(F.col("b1") == F.col("b2")).agg(
        F.coalesce(F.sum("m"), F.lit(0)).cast("bigint").alias("same")
    )
    marg = (
        mix.select(F.col("b1").alias("b"), "m")
        .unionAll(mix.select(F.col("b2").alias("b"), "m"))
        .groupBy("b")
        .agg(F.sum("m").cast("bigint").alias("d"))
    )
    sum_d2 = marg.agg(
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d"))
        .cast("decimal(38,0)")
        .alias("sum_d2")
    )
    out = (
        tot.crossJoin(F.broadcast(same))
        .crossJoin(F.broadcast(sum_d2))
    )
    mm = F.col("mm")
    e_same = F.col("same") * 1.0 / mm
    e_rand = F.col("sum_d2").cast("double") / (4.0 * mm * mm)
    return out.select(
        mm.alias("n_edges"),
        F.round(e_same, 6).alias("same_brand_share"),
        (
            F.round((e_same - e_rand) / (1.0 - e_rand), 6) + 0.0
        ).alias("assortativity_r"),
    )


# --------------------------------------------------------------------------
# Dunning log-likelihood-ratio collocations (top bigrams)
# --------------------------------------------------------------------------
@register(
    "dunning_llr_collocations",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               lst[CAST(u.i AS INTEGER)] AS w,
               CAST(u.i AS BIGINT) AS i
        FROM (SELECT doc_id, string_split(text, ' ') AS lst
              FROM documents),
             UNNEST(range(1, len(lst) + 1)) AS u(i)
    ),
    bg AS (
        SELECT a.w AS w1, b.w AS w2, CAST(COUNT(*) AS BIGINT) AS o11
        FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id AND b.i = a.i + 1
        GROUP BY a.w, b.w
    ),
    tot AS (SELECT CAST(SUM(o11) AS BIGINT) AS n FROM bg),
    m1 AS (SELECT w1, CAST(SUM(o11) AS BIGINT) AS c1 FROM bg GROUP BY w1),
    m2 AS (SELECT w2, CAST(SUM(o11) AS BIGINT) AS c2 FROM bg GROUP BY w2),
    cells AS (
        SELECT bg.w1, bg.w2, bg.o11,
               m1.c1 - bg.o11 AS o12,
               m2.c2 - bg.o11 AS o21,
               tot.n - m1.c1 - m2.c2 + bg.o11 AS o22,
               m1.c1, m2.c2, tot.n
        FROM bg JOIN m1 ON bg.w1 = m1.w1
        JOIN m2 ON bg.w2 = m2.w2, tot
    ),
    llr AS (
        SELECT w1, w2, o11,
               round(2.0 * (
                 (CASE WHEN o11 > 0 THEN o11 * ln(o11 * 1.0 * n
                       / (c1 * 1.0 * c2)) ELSE 0.0 END)
                 + (CASE WHEN o12 > 0 THEN o12 * ln(o12 * 1.0 * n
                        / (c1 * 1.0 * (n - c2))) ELSE 0.0 END)
                 + (CASE WHEN o21 > 0 THEN o21 * ln(o21 * 1.0 * n
                        / ((n - c1) * 1.0 * c2)) ELSE 0.0 END)
                 + (CASE WHEN o22 > 0 THEN o22 * ln(o22 * 1.0 * n
                        / ((n - c1) * 1.0 * (n - c2))) ELSE 0.0 END)
               ), 6) AS g2
        FROM cells
    )
    SELECT w1 || ' ' || w2 AS bigram, o11 AS n_occurrences,
           g2 + 0.0 AS llr_g2
    FROM llr
    ORDER BY llr_g2 DESC, bigram ASC LIMIT 20
    """,
)
def dunning_llr_collocations(spark, sf_dir):
    """Dunning's log-likelihood-ratio collocation test for the top-20
    bigrams: G2 = 2 sum O ln(O/E) over the bigram's 2x2 contingency
    table against independence of the two token positions — the 1993
    statistic that replaced PMI for collocation ranking because it is
    valid at LOW counts (PMI, also in the registry, explodes for rare
    pairs; G2 correctly shrinks them). Adjacency comes from per-doc
    token positions (posexplode ordinals — text order is the one
    total order the corpus carries; no window needed); all four cells and margins
    are exact integers; each ln term guards its zero cell identically
    in both engines; top-k rides the (G2, bigram) total order. Plan:
    one tokenize + position window per doc, one adjacency self-join
    keyed on (doc, position), bigram/margin rollups, TakeOrdered."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "w"),
    ).select(
        "doc_id",
        "w",
        (F.col("pos") + 1).cast("bigint").alias("i"),
    )
    a = toks.select("doc_id", F.col("w").alias("w1"), "i")
    b = toks.select(
        F.col("doc_id").alias("d2"),
        F.col("w").alias("w2"),
        F.col("i").alias("i2"),
    )
    bg = (
        a.join(
            b,
            (F.col("doc_id") == F.col("d2"))
            & (F.col("i2") == F.col("i") + 1),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o11"))
        .persist()
    )
    tot = bg.agg(F.sum("o11").cast("bigint").alias("n"))
    m1 = bg.groupBy("w1").agg(F.sum("o11").cast("bigint").alias("c1"))
    m2 = bg.groupBy("w2").agg(F.sum("o11").cast("bigint").alias("c2"))
    cells = (
        bg.join(F.broadcast(m1), "w1")
        .join(F.broadcast(m2), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "o11",
            (F.col("c1") - F.col("o11")).alias("o12"),
            (F.col("c2") - F.col("o11")).alias("o21"),
            (
                F.col("n") - F.col("c1") - F.col("c2") + F.col("o11")
            ).alias("o22"),
            "c1",
            "c2",
            "n",
        )
    )
    n = F.col("n")
    c1 = F.col("c1")
    c2 = F.col("c2")
    def term(o, num_e, den_e):
        return F.when(
            o > 0, o * F.log(o * 1.0 * num_e / den_e)
        ).otherwise(F.lit(0.0))
    g2 = F.round(
        2.0
        * (
            term(F.col("o11"), n, c1 * 1.0 * c2)
            + term(F.col("o12"), n, c1 * 1.0 * (n - c2))
            + term(F.col("o21"), n, (n - c1) * 1.0 * c2)
            + term(F.col("o22"), n, (n - c1) * 1.0 * (n - c2))
        ),
        6,
    )
    return (
        cells.select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("o11").alias("n_occurrences"),
            (g2 + 0.0).alias("llr_g2"),
        )
        .orderBy(F.col("llr_g2").desc(), F.col("bigram").asc())
        .limit(20)
    )


# Pre-adjudicated single-partition-audit notes for the round-14 flip
# (the bank_r13 protocol: merge into tools/audit_single_partition.ALLOWED
# verbatim at flip time; landing earlier would read as stale entries in
# the two-direction CI check). Every flagged window/sort is bounded:
PLAN_AUDIT_NOTES: dict[str, str] = {
    "allan_variance_rates": (
        "per-m lag windows over the calendar-bounded dyadic "
        "hour-block frame + the 5-row output sort (bounded domain; "
        "found by the round-16 structural tree-walk detector — the "
        "old 500-char context heuristic missed it)"
    ),
    "betting_evalue_mean_test": (
        "cumulative log-wealth window over the calendar-day frame "
        "(the cusum class)"
    ),
    "group_sequential_looks": (
        "one rank window over the calendar-day frame; looks join is "
        "a bounded 5-row broadcast"
    ),
    "pit_uniformity_check": (
        "rank/count windows over the calendar-day frame"
    ),
    "sen_slope_confidence_band": (
        "cumulative count over the distinct-slope grid of the "
        "calendar-bounded day-pair frame (the ansari_bradley class)"
    ),
    "winkler_interval_score": (
        "same construction as split_conformal_interval (promoted to "
        "bank_r13 in round 13; shared conformal-quantile device over "
        "bounded frames)"
    ),
    "baumgartner_weiss_schindler": (
        "two exclusive-prefix windows over the distinct-value-cents "
        "grid (price-domain-bounded — the ansari_bradley class)"
    ),
    "diebold_mariano_forecast": (
        "two lag windows over the calendar-day frame; the flag count "
        "is inflated by scalar subplans re-scanning the bounded day "
        "frame (the es_backtest class)"
    ),
    "engle_granger_cointegration": (
        "cumulative + residual-lag windows over the calendar-day "
        "frame (the cusum class)"
    ),
    "fligner_policello_test": (
        "exclusive-prefix placement windows over the "
        "distinct-value-cents grid (price-domain-bounded)"
    ),
    "pesaran_timmermann_direction": (
        "two lag windows over the calendar-day frame"
    ),
    "quandt_andrews_supf": (
        "five cumulative prefix-moment windows + row_number over the "
        "calendar-day frame (the one-pass sup-F device)"
    ),
    "weibull_median_rank_fit": (
        "cumulative rank window over the distinct-gap-seconds grid "
        "(gap-value-domain-bounded — the ansari_bradley class)"
    ),
}


# --------------------------------------------------------------------------
# Multiclass MCC (Gorodkin's R_K) for the naive-Bayes-style classifier
# --------------------------------------------------------------------------
@register(
    "rk_multiclass_mcc",
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
    pred AS (
        SELECT dow, vb, ty AS p,
               ROW_NUMBER() OVER (PARTITION BY dow, vb
                                  ORDER BY SUM(n) DESC, ty ASC) AS rn
        FROM cell GROUP BY dow, vb, ty QUALIFY rn = 1
    ),
    conf AS (
        SELECT c.ty AS truth, pr.p AS predicted,
               CAST(SUM(c.n) AS BIGINT) AS n
        FROM cell c JOIN pred pr ON c.dow = pr.dow AND c.vb = pr.vb
        GROUP BY c.ty, pr.p
    ),
    marg AS (
        SELECT CAST(SUM(n) AS BIGINT) AS s,
               CAST(SUM(CASE WHEN truth = predicted THEN n
                        ELSE 0 END) AS BIGINT) AS c,
               (SELECT CAST(SUM(CAST(tk AS DECIMAL(38,0)) * tk)
                       AS DECIMAL(38,0))
                FROM (SELECT SUM(n) AS tk FROM conf GROUP BY truth))
                   AS sum_t2,
               (SELECT CAST(SUM(CAST(pk AS DECIMAL(38,0)) * pk)
                       AS DECIMAL(38,0))
                FROM (SELECT SUM(n) AS pk FROM conf
                      GROUP BY predicted)) AS sum_p2,
               (SELECT CAST(SUM(CAST(tp.tk AS DECIMAL(38,0)) * tp.pk)
                       AS DECIMAL(38,0))
                FROM (SELECT t1.truth AS kk, t1.tk, t2.pk
                      FROM (SELECT truth, SUM(n) AS tk FROM conf
                            GROUP BY truth) t1
                      JOIN (SELECT predicted, SUM(n) AS pk FROM conf
                            GROUP BY predicted) t2
                        ON t1.truth = t2.predicted) tp) AS sum_tp
        FROM conf
    )
    SELECT s AS n_events,
           round(c * 1.0 / s, 6) AS accuracy,
           round((c * 1.0 * s - CAST(sum_tp AS DOUBLE))
                 / (sqrt(s * 1.0 * s - CAST(sum_p2 AS DOUBLE))
                    * sqrt(s * 1.0 * s - CAST(sum_t2 AS DOUBLE))),
                 6) + 0.0 AS rk_mcc
    FROM marg
    """,
)
def rk_multiclass_mcc(spark, sf_dir):
    """Gorodkin's R_K — the multiclass Matthews correlation — for the
    cell-modal (dow, value-bucket) -> event-type classifier: R_K =
    (c*s - sum_k t_k p_k) / (sqrt(s^2 - sum p_k^2) sqrt(s^2 - sum
    t_k^2)). Accuracy rewards majority-class collapse; R_K reads 0
    for it — the single honest scalar for an imbalanced multiclass
    confusion, generalizing the binary MCC panel already in the
    registry. The confusion matrix aggregates per bounded grid cell
    (never row grain); marginal products ride DECIMAL(38,0) (t_k p_k
    sums pass int64 at sf100); R_K is one terminal expression with
    both engines promoting c*s to double in the same association.
    Plan: one 350-cell rollup, a modal rank on the bounded grid, a
    25-cell confusion rollup, bounded folds."""
    e = t(spark, sf_dir, "events")
    base = e.select(
        ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7)
        .cast("bigint")
        .alias("dow"),
        F.expr("least(CAST(floor(value) AS BIGINT) div 50, 9)").alias(
            "vb"
        ),
        F.col("event_type").alias("ty"),
    )
    cell = base.groupBy("dow", "vb", "ty").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).persist()
    pred = (
        cell.select(
            "dow",
            "vb",
            F.col("ty").alias("p"),
            F.row_number()
            .over(
                Window.partitionBy("dow", "vb").orderBy(
                    F.col("n").desc(), F.col("ty").asc()
                )
            )
            .alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    conf = (
        cell.join(F.broadcast(pred), ["dow", "vb"])
        .groupBy(F.col("ty").alias("truth"), F.col("p").alias("predicted"))
        .agg(F.sum("n").cast("bigint").alias("n"))
        .persist()
    )
    s_c = conf.agg(
        F.sum("n").cast("bigint").alias("s"),
        F.sum(
            F.when(F.col("truth") == F.col("predicted"), F.col("n"))
            .otherwise(0)
        )
        .cast("bigint")
        .alias("c"),
    )
    tmarg = conf.groupBy("truth").agg(
        F.sum("n").cast("bigint").alias("tk")
    )
    pmarg = conf.groupBy("predicted").agg(
        F.sum("n").cast("bigint").alias("pk")
    )
    sum_t2 = tmarg.agg(
        F.sum(F.col("tk").cast("decimal(38,0)") * F.col("tk"))
        .cast("decimal(38,0)")
        .alias("sum_t2")
    )
    sum_p2 = pmarg.agg(
        F.sum(F.col("pk").cast("decimal(38,0)") * F.col("pk"))
        .cast("decimal(38,0)")
        .alias("sum_p2")
    )
    sum_tp = (
        tmarg.join(
            pmarg, F.col("truth") == F.col("predicted")
        )
        .agg(
            F.sum(F.col("tk").cast("decimal(38,0)") * F.col("pk"))
            .cast("decimal(38,0)")
            .alias("sum_tp")
        )
    )
    out = (
        s_c.crossJoin(F.broadcast(sum_t2))
        .crossJoin(F.broadcast(sum_p2))
        .crossJoin(F.broadcast(sum_tp))
    )
    s = F.col("s")
    c = F.col("c")
    rk = (c * 1.0 * s - F.col("sum_tp").cast("double")) / (
        F.sqrt(s * 1.0 * s - F.col("sum_p2").cast("double"))
        * F.sqrt(s * 1.0 * s - F.col("sum_t2").cast("double"))
    )
    return out.select(
        s.alias("n_events"),
        F.round(c * 1.0 / s, 6).alias("accuracy"),
        (F.round(rk, 6) + 0.0).alias("rk_mcc"),
    )


# --------------------------------------------------------------------------
# Round-13 growth: forecast-evaluation family on the daily revenue series
# --------------------------------------------------------------------------
@register(
    "diebold_mariano_forecast",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    fc AS (
        SELECT day, y,
               LAG(y, 1) OVER (ORDER BY day) AS n1,
               LAG(y, 7) OVER (ORDER BY day) AS n7
        FROM daily
        QUALIFY n1 IS NOT NULL AND n7 IS NOT NULL
    ),
    loss AS (
        SELECT day,
               round((round((y - n1) / 100.0, 2) * round((y - n1) / 100.0, 2)
                      - round((y - n7) / 100.0, 2) * round((y - n7) / 100.0, 2))
                     / 1000000.0, 6) AS d
        FROM fc
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               round(CAST(SUM(CAST(d AS DECIMAL(38,6))) AS DOUBLE)
                     / COUNT(*), 6) AS dbar
        FROM loss
    ),
    e AS (
        SELECT day, round(d - m.dbar, 6) AS e FROM loss, m
    ),
    g AS (
        SELECT k.k,
               round(CAST(SUM(CAST(round(a.e * b.e, 2) AS DECIMAL(38,2)))
                          AS DOUBLE) / m.n, 6) AS gk
        FROM e a, range(0, 8) AS k(k), e b, m
        WHERE b.day = a.day - k.k
        GROUP BY k.k, m.n
    ),
    hac AS (
        SELECT round(SUM(CASE WHEN k = 0 THEN gk
                         ELSE 2.0 * (1.0 - k / 8.0) * gk END), 6) AS v
        FROM g
    )
    SELECT m.n AS n_days,
           m.dbar AS mean_loss_diff,
           round(m.dbar / sqrt(hac.v / m.n), 6) + 0.0 AS dm_stat,
           CAST(CASE WHEN abs(m.dbar / sqrt(hac.v / m.n)) > 1.96
                THEN 1 ELSE 0 END AS BIGINT) AS rejects_equal_accuracy,
           CASE WHEN m.dbar > 0 THEN 'seasonal_naive' ELSE 'naive'
               END AS favored
    FROM m, hac
    """,
)
def diebold_mariano_forecast(spark, sf_dir):
    """Diebold-Mariano equal-predictive-accuracy test between the
    naive (lag-1) and seasonal-naive (lag-7) daily-revenue forecasts
    under squared-dollar loss, with a Bartlett-kernel HAC variance at
    bandwidth 7 (the forecast horizon's induced MA order). The modern
    forecast-selection gate a pipeline runs before swapping point
    models. Exactness: dollar errors are 2-rounded (so their squares
    are exact at 4 dp), the loss differential is rescaled to
    millions-of-dollars-squared (so its DECIMAL(38,6) fold's scaled
    integer stays under 2^53 — the DuckDB wide-decimal double-round
    class), centered products round at 1e-2 before their
    DECIMAL(38,2) folds, and the lag-k autocovariances come from an
    equi-join of the centered frame against itself on day-k (k = 0..7
    exploded grid) — no windowed correlation, bounded by the calendar
    day frame. Plan: day rollup, two lag windows, k-grid self
    equi-join, two scalar folds."""
    daily = daily_order_cents(spark, sf_dir)
    w = Window.orderBy("day")
    fc = daily.select(
        "day",
        "y",
        F.lag("y", 1).over(w).alias("n1"),
        F.lag("y", 7).over(w).alias("n7"),
    ).where(F.col("n1").isNotNull() & F.col("n7").isNotNull())
    err1 = F.round((F.col("y") - F.col("n1")) / 100.0, 2)
    err7 = F.round((F.col("y") - F.col("n7")) / 100.0, 2)
    loss = fc.select(
        "day",
        F.round((err1 * err1 - err7 * err7) / 1000000.0, 6).alias("d"),
    )
    m = loss.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum(F.col("d").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("dbar"),
    )
    e = loss.crossJoin(F.broadcast(m)).select(
        "day", "n", F.round(F.col("d") - F.col("dbar"), 6).alias("e")
    )
    a = e.select(
        F.col("day"),
        F.col("n"),
        F.col("e"),
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("k"),
    ).withColumn("daymk", F.col("day") - F.col("k"))
    b = e.select(
        F.col("day").alias("bday"), F.col("e").alias("eb")
    )
    g = (
        a.join(b, F.col("daymk") == F.col("bday"))
        .groupBy("k", "n")
        .agg(
            F.round(
                F.sum(
                    F.round(F.col("e") * F.col("eb"), 2).cast(
                        "decimal(38,2)"
                    )
                ).cast("double")
                / F.col("n"),
                6,
            ).alias("gk")
        )
    )
    hac = g.agg(
        F.round(
            F.sum(
                F.when(F.col("k") == 0, F.col("gk")).otherwise(
                    2.0 * (1.0 - F.col("k") / 8.0) * F.col("gk")
                )
            ),
            6,
        ).alias("v")
    )
    out = m.crossJoin(F.broadcast(hac))
    dm = F.col("dbar") / F.sqrt(F.col("v") / F.col("n"))
    return out.select(
        F.col("n").alias("n_days"),
        F.col("dbar").alias("mean_loss_diff"),
        (F.round(dm, 6) + 0.0).alias("dm_stat"),
        F.when(F.abs(dm) > 1.96, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("rejects_equal_accuracy"),
        F.when(F.col("dbar") > 0, "seasonal_naive")
        .otherwise("naive")
        .alias("favored"),
    )


# --------------------------------------------------------------------------
# Pesaran-Timmermann directional accuracy of the seasonal-naive signal
# --------------------------------------------------------------------------
@register(
    "pesaran_timmermann_direction",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    fc AS (
        SELECT day, y,
               LAG(y, 1) OVER (ORDER BY day) AS n1,
               LAG(y, 7) OVER (ORDER BY day) AS n7
        FROM daily
        QUALIFY n1 IS NOT NULL AND n7 IS NOT NULL
    ),
    d AS (
        SELECT CASE WHEN y > n1 THEN 1 ELSE 0 END AS a,
               CASE WHEN n7 > n1 THEN 1 ELSE 0 END AS p
        FROM fc
    ),
    c AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN a = p THEN 1 ELSE 0 END) AS BIGINT)
                   AS hits,
               CAST(SUM(a) AS BIGINT) AS na,
               CAST(SUM(p) AS BIGINT) AS np
        FROM d
    ),
    s AS (
        SELECT n, hits,
               hits * 1.0 / n AS ph,
               na * 1.0 / n AS py,
               np * 1.0 / n AS px
        FROM c
    ),
    v AS (
        SELECT n, hits, ph,
               py * px + (1.0 - py) * (1.0 - px) AS pstar,
               (py * px + (1.0 - py) * (1.0 - px))
                   * (1.0 - py * px - (1.0 - py) * (1.0 - px)) / n
                   AS vp,
               ((2.0 * py - 1.0) * (2.0 * py - 1.0) * px * (1.0 - px)
                + (2.0 * px - 1.0) * (2.0 * px - 1.0) * py * (1.0 - py)
                + 4.0 * py * px * (1.0 - py) * (1.0 - px) / n) / n
                   AS vpstar
        FROM s
    )
    SELECT n AS n_days,
           round(ph, 6) AS hit_rate,
           round(pstar, 6) AS expected_rate,
           round((ph - pstar) / sqrt(vp - vpstar), 6) + 0.0 AS pt_stat,
           CAST(CASE WHEN (ph - pstar) / sqrt(vp - vpstar) > 1.645
                THEN 1 ELSE 0 END AS BIGINT) AS directional_skill
    FROM v
    """,
)
def pesaran_timmermann_direction(spark, sf_dir):
    """Pesaran-Timmermann test of directional forecast skill: does the
    seasonal-naive signal (sign of y_{{t-7}} - y_{{t-1}}) predict the sign
    of the actual daily-revenue change better than independence of the
    two sign processes would? The success-rate z-statistic compares
    the hit rate against p* = Py*Px + (1-Py)(1-Px) with the exact
    Pesaran-Timmermann variance correction. Everything derives from
    four BIGINT counts — exact integer ratios in doubles, one terminal
    round. The direction-skill gate a pipeline applies to trading- or
    demand-style signals where only the sign is actionable. Plan: day
    rollup, two lag windows, one scalar fold."""
    daily = daily_order_cents(spark, sf_dir)
    w = Window.orderBy("day")
    fc = daily.select(
        "day",
        "y",
        F.lag("y", 1).over(w).alias("n1"),
        F.lag("y", 7).over(w).alias("n7"),
    ).where(F.col("n1").isNotNull() & F.col("n7").isNotNull())
    d = fc.select(
        F.when(F.col("y") > F.col("n1"), 1).otherwise(0).alias("a"),
        F.when(F.col("n7") > F.col("n1"), 1).otherwise(0).alias("p"),
    )
    c = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("a") == F.col("p"), 1).otherwise(0))
        .cast("bigint")
        .alias("hits"),
        F.sum("a").cast("bigint").alias("na"),
        F.sum("p").cast("bigint").alias("np"),
    )
    n = F.col("n")
    ph = F.col("hits") * 1.0 / n
    py = F.col("na") * 1.0 / n
    px = F.col("np") * 1.0 / n
    pstar = py * px + (1.0 - py) * (1.0 - px)
    vp = pstar * (1.0 - pstar) / n
    vpstar = (
        (2.0 * py - 1.0) * (2.0 * py - 1.0) * px * (1.0 - px)
        + (2.0 * px - 1.0) * (2.0 * px - 1.0) * py * (1.0 - py)
        + 4.0 * py * px * (1.0 - py) * (1.0 - px) / n
    ) / n
    pt = (ph - pstar) / F.sqrt(vp - vpstar)
    return c.select(
        n.alias("n_days"),
        F.round(ph, 6).alias("hit_rate"),
        F.round(pstar, 6).alias("expected_rate"),
        (F.round(pt, 6) + 0.0).alias("pt_stat"),
        F.when(pt > 1.645, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("directional_skill"),
    )


# --------------------------------------------------------------------------
# CRPS of the climatological ensemble forecast (calibration-half empirical
# distribution scored on the test half)
# --------------------------------------------------------------------------
@register(
    "crps_ensemble_daily",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    v AS (
        SELECT day, round(y / 100.0, 2) AS x FROM daily
    ),
    split AS (
        SELECT CAST(floor(quantile_cont(day, 0.5)) AS BIGINT) AS mid
        FROM v
    ),
    cal AS (
        SELECT round(x / 1000.0, 5) AS x FROM v, split
        WHERE day <= split.mid
    ),
    grid AS (
        SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM cal GROUP BY x
    ),
    nc AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n_cal FROM grid
    ),
    within AS (
        SELECT round(CAST(SUM(CAST(round(a.c * b.c * abs(a.x - b.x), 5)
                                   AS DECIMAL(38,5))) AS DOUBLE)
                     / (nc.n_cal * 1.0 * nc.n_cal), 6) AS eabs
        FROM grid a, grid b, nc
        GROUP BY nc.n_cal
    ),
    test AS (
        SELECT day, round(x / 1000.0, 5) AS x FROM v, split
        WHERE day > split.mid
    ),
    per AS (
        SELECT t.day,
               round(CAST(SUM(CAST(round(g.c * abs(g.x - t.x), 5)
                                   AS DECIMAL(38,5))) AS DOUBLE)
                     / nc.n_cal, 6) AS eay
        FROM test t, grid g, nc
        GROUP BY t.day, nc.n_cal
    )
    SELECT nc.n_cal,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           round(CAST(SUM(CAST(round(p.eay - 0.5 * w.eabs, 6)
                               AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(*), 6) AS crps_mean,
           round(w.eabs, 6) AS ensemble_spread
    FROM per p, within w, nc
    GROUP BY nc.n_cal, w.eabs
    """,
)
def crps_ensemble_daily(spark, sf_dir):
    """Continuous ranked probability score of the climatological
    ensemble: the calibration half's empirical daily-revenue
    distribution is the probabilistic forecast, scored on the test
    half with the exact ensemble identity CRPS(F,y) = E|X-y| -
    0.5*E|X-X'|. THE proper score for distributional forecasts — the
    pipeline's gate on probabilistic models, complementing the
    point-forecast DM test and the interval-scoring Winkler entry.
    Values are rescaled to thousands-of-dollars at 5 dp so every
    pairwise product fold stays under the 2^53 DECIMAL->DOUBLE bound.
    Both expectation terms reduce over the distinct-value grid of the
    CALENDAR-BOUNDED day frame (grid x grid and test x grid joins are
    domain-bounded — the day count, not data volume). Plan: day
    rollup, split percentile, two bounded grid joins, scalar folds."""
    daily = daily_order_cents(spark, sf_dir)
    v = daily.select(
        "day", F.round(F.col("y") / 100.0, 2).alias("x0")
    )
    split = v.agg(
        F.floor(F.expr("percentile(day, 0.5)"))
        .cast("bigint")
        .alias("mid")
    )
    vs = v.crossJoin(F.broadcast(split))
    cal = vs.where(F.col("day") <= F.col("mid")).select(
        F.round(F.col("x0") / 1000.0, 5).alias("x")
    )
    grid = cal.groupBy("x").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    nc = grid.agg(F.sum("c").cast("bigint").alias("n_cal"))
    ga = grid.select(
        F.col("x").alias("xa"), F.col("c").alias("ca")
    )
    gb = grid.select(
        F.col("x").alias("xb"), F.col("c").alias("cb")
    )
    within = (
        ga.crossJoin(gb)
        .crossJoin(F.broadcast(nc))
        .groupBy("n_cal")
        .agg(
            F.round(
                F.sum(
                    F.round(
                        F.col("ca")
                        * F.col("cb")
                        * F.abs(F.col("xa") - F.col("xb")),
                        5,
                    ).cast("decimal(38,5)")
                ).cast("double")
                / (F.col("n_cal") * 1.0 * F.col("n_cal")),
                6,
            ).alias("eabs")
        )
    )
    test = vs.where(F.col("day") > F.col("mid")).select(
        "day", F.round(F.col("x0") / 1000.0, 5).alias("xt")
    )
    per = (
        test.crossJoin(grid)
        .crossJoin(F.broadcast(nc))
        .groupBy("day", "n_cal")
        .agg(
            F.round(
                F.sum(
                    F.round(
                        F.col("c") * F.abs(F.col("x") - F.col("xt")),
                        5,
                    ).cast("decimal(38,5)")
                ).cast("double")
                / F.col("n_cal"),
                6,
            ).alias("eay")
        )
    )
    return (
        per.crossJoin(F.broadcast(within.select("eabs")))
        .groupBy("n_cal", "eabs")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.round(
                F.sum(
                    F.round(
                        F.col("eay") - 0.5 * F.col("eabs"), 6
                    ).cast("decimal(38,6)")
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("crps_mean"),
        )
        .select(
            "n_cal",
            "n_test",
            "crps_mean",
            F.round(F.col("eabs"), 6).alias("ensemble_spread"),
        )
    )


# --------------------------------------------------------------------------
# First-harmonic fit of the weekly revenue profile (literal DFT basis)
# --------------------------------------------------------------------------
# cos/sin of 2*pi*k/7, k = 0..6, rounded to 10 dp: both engines share the
# identical literal table, so no libm trig enters the data path (the same
# shared-literal-constant device as the Poisson inverse-CDF table above).
_COS7 = [
    1.0, 0.6234898019, -0.2225209340, -0.9009688679,
    -0.9009688679, -0.2225209340, 0.6234898019,
]
_SIN7 = [
    0.0, 0.7818314825, 0.9749279122, 0.4338837391,
    -0.4338837391, -0.9749279122, -0.7818314825,
]


@register(
    "harmonic_weekly_regression",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    dowm AS (
        SELECT CAST(day % 7 AS BIGINT) AS dow,
               round(CAST(SUM(y) AS DOUBLE) / COUNT(*) / 100.0, 6)
                   AS md
        FROM daily GROUP BY 1
    ),
    basis AS (
        SELECT dow, md,
               {case_sql("dow", _COS7)} AS ck,
               {case_sql("dow", _SIN7)} AS sk
        FROM dowm
    ),
    fit AS (
        SELECT round(2.0 / 7.0
                     * SUM(CAST(round(md * ck, 6) AS DECIMAL(38,6))),
                     6) AS a1,
               round(2.0 / 7.0
                     * SUM(CAST(round(md * sk, 6) AS DECIMAL(38,6))),
                     6) AS b1,
               round(CAST(SUM(CAST(round(md, 6) AS DECIMAL(38,6)))
                          AS DOUBLE) / 7.0, 6) AS grand
        FROM basis
    ),
    resid AS (
        SELECT round(SUM(CAST(round((b.md - f.grand) * (b.md - f.grand),
                                    4) AS DECIMAL(38,4))) + 0,
                     4) AS ss_tot,
               round(SUM(CAST(round(
                   (b.md - f.grand - f.a1 * b.ck - f.b1 * b.sk)
                   * (b.md - f.grand - f.a1 * b.ck - f.b1 * b.sk), 4)
                   AS DECIMAL(38,4))) + 0, 4) AS ss_res
        FROM basis b, fit f
    )
    SELECT f.a1, f.b1,
           round(sqrt(f.a1 * f.a1 + f.b1 * f.b1), 6) AS amplitude,
           round(1.0 - r.ss_res / r.ss_tot, 6) + 0.0 AS harmonic_r2,
           f.grand AS grand_mean
    FROM fit f, resid r
    """,
)
def harmonic_weekly_regression(spark, sf_dir):
    """First-harmonic (weekly fundamental) fit of the day-of-week
    revenue profile: DFT coefficients a1 = (2/7) sum md*cos(2pik/7),
    b1 likewise over sin, evaluated against a shared 10-dp literal
    trig table — no libm trig in either engine (the Poisson-CDF-table
    device). The harmonic R^2 is computed residually against the
    fitted profile grand + a1*cos + b1*sin, so literal rounding can
    never push it past 1. Detects/quantifies weekly seasonality with
    two coefficients instead of seven free dow means — the compressed
    seasonal feature a forecasting pipeline feeds downstream models.
    Work collapses to the 7-row dow domain after one day rollup.
    Plan: day rollup, 7-row basis attach, two scalar folds."""
    daily = daily_order_cents(spark, sf_dir)
    dowm = daily.groupBy(
        (F.col("day") % 7).cast("bigint").alias("dow")
    ).agg(
        F.round(
            F.sum("y").cast("double") / F.count(F.lit(1)) / 100.0, 6
        ).alias("md")
    )
    ck = F.lit(None).cast("double")
    sk = F.lit(None).cast("double")
    for k in range(6, -1, -1):
        ck = F.when(F.col("dow") == k, F.lit(_COS7[k])).otherwise(ck)
        sk = F.when(F.col("dow") == k, F.lit(_SIN7[k])).otherwise(sk)
    basis = dowm.select(
        "dow", "md", ck.alias("ck"), sk.alias("sk")
    )
    fit = basis.agg(
        F.round(
            2.0
            / 7.0
            * F.sum(
                F.round(F.col("md") * F.col("ck"), 6).cast(
                    "decimal(38,6)"
                )
            ),
            6,
        ).alias("a1"),
        F.round(
            2.0
            / 7.0
            * F.sum(
                F.round(F.col("md") * F.col("sk"), 6).cast(
                    "decimal(38,6)"
                )
            ),
            6,
        ).alias("b1"),
        F.round(
            F.sum(F.round(F.col("md"), 6).cast("decimal(38,6)"))
            .cast("double")
            / 7.0,
            6,
        ).alias("grand"),
    )
    b = basis.crossJoin(F.broadcast(fit))
    dev = F.col("md") - F.col("grand")
    res = (
        F.col("md")
        - F.col("grand")
        - F.col("a1") * F.col("ck")
        - F.col("b1") * F.col("sk")
    )
    resid = b.agg(
        F.round(
            F.sum(F.round(dev * dev, 4).cast("decimal(38,4)")) + 0, 4
        ).alias("ss_tot"),
        F.round(
            F.sum(F.round(res * res, 4).cast("decimal(38,4)")) + 0, 4
        ).alias("ss_res"),
    )
    return fit.crossJoin(F.broadcast(resid)).select(
        F.col("a1").cast("double").alias("a1"),
        F.col("b1").cast("double").alias("b1"),
        F.round(
            F.sqrt(
                F.col("a1").cast("double") * F.col("a1")
                + F.col("b1").cast("double") * F.col("b1")
            ),
            6,
        ).alias("amplitude"),
        (
            F.round(1.0 - F.col("ss_res") / F.col("ss_tot"), 6) + 0.0
        ).alias("harmonic_r2"),
        F.col("grand").cast("double").alias("grand_mean"),
    )


# --------------------------------------------------------------------------
# Goldfeld-Quandt heteroskedasticity test on the daily revenue trend
# --------------------------------------------------------------------------
_TREND_SQL = """
    tb AS (
        SELECT MIN(day) AS d0,
               CAST(floor(quantile_cont(day, 1.0/3.0)) AS BIGINT) AS c1,
               CAST(floor(quantile_cont(day, 2.0/3.0)) AS BIGINT) AS c2
        FROM daily
    ),
    xy AS (
        SELECT day, tb.c1, tb.c2,
               round((day - tb.d0) / 1000.0, 3) AS u,
               round(y / 100000.0, 5) AS w
        FROM daily, tb
    )
"""


def _trend_xy(daily, spark):
    tb = daily.agg(
        F.min("day").alias("d0"),
        F.floor(F.expr("percentile(day, 1.0/3.0)"))
        .cast("bigint")
        .alias("c1"),
        F.floor(F.expr("percentile(day, 2.0/3.0)"))
        .cast("bigint")
        .alias("c2"),
    )
    return daily.crossJoin(F.broadcast(tb)).select(
        "day",
        "c1",
        "c2",
        F.round((F.col("day") - F.col("d0")) / 1000.0, 3).alias("u"),
        F.round(F.col("y") / 100000.0, 5).alias("w"),
    )


@register(
    "goldfeld_quandt_test",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    {_TREND_SQL},
    seg AS (
        SELECT CASE WHEN day <= c1 THEN 1
                    WHEN day > c2 THEN 2 END AS s,
               u, w
        FROM xy WHERE day <= c1 OR day > c2
    ),
    mo AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(u AS DECIMAL(38,3))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(round(u * u, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS sxx,
               CAST(SUM(CAST(w AS DECIMAL(38,5))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(round(u * w, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sxy,
               CAST(SUM(CAST(round(w * w, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS syy
        FROM seg GROUP BY s
    ),
    rss AS (
        SELECT s, n,
               (syy - sy * sy / n)
               - (sxy - sx * sy / n) * (sxy - sx * sy / n)
                 / (sxx - sx * sx / n) AS r
        FROM mo
    )
    SELECT a.n AS n_early, b.n AS n_late,
           round((b.r / (b.n - 2)) / (a.r / (a.n - 2)), 6) + 0.0
               AS gq_f,
           CAST(CASE WHEN (b.r / (b.n - 2)) / (a.r / (a.n - 2)) > 1.4
                     OR (a.r / (a.n - 2)) / (b.r / (b.n - 2)) > 1.4
                THEN 1 ELSE 0 END AS BIGINT) AS variance_shift
    FROM rss a, rss b WHERE a.s = 1 AND b.s = 2
    """,
)
def goldfeld_quandt_test(spark, sf_dir):
    """Goldfeld-Quandt heteroskedasticity test: fit the linear daily
    revenue trend separately on the first and last thirds of the
    calendar (middle third dropped), and compare residual variances
    via their F-ratio. The classic split-sample variance-stability
    diagnostic next to the registry's cusum_squares scan. Units are
    rescaled (days/1000, revenue/1e5) so every moment fold's scaled
    integer stays far below 2^53; segment RSS uses the exact
    centered-moment identity Syy - Sxy^2/Sxx on DECIMAL-folded raw
    sums. The 1.4 flag threshold is the F critical region's
    round-number stand-in (both engines share the literal). Plan: day
    rollup, percentile split, one grouped fold, 2x2 scalar join."""
    daily = daily_order_cents(spark, sf_dir)
    xy = _trend_xy(daily, spark)
    seg = xy.where(
        (F.col("day") <= F.col("c1")) | (F.col("day") > F.col("c2"))
    ).select(
        F.when(F.col("day") <= F.col("c1"), 1)
        .otherwise(2)
        .alias("s"),
        "u",
        "w",
    )
    mo = seg.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("u").cast("decimal(38,3)"))
        .cast("double")
        .alias("sx"),
        F.sum(F.round(F.col("u") * F.col("u"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("w").cast("decimal(38,5)"))
        .cast("double")
        .alias("sy"),
        F.sum(F.round(F.col("u") * F.col("w"), 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.round(F.col("w") * F.col("w"), 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("syy"),
    )
    n = F.col("n")
    rss = mo.select(
        "s",
        "n",
        (
            (F.col("syy") - F.col("sy") * F.col("sy") / n)
            - (F.col("sxy") - F.col("sx") * F.col("sy") / n)
            * (F.col("sxy") - F.col("sx") * F.col("sy") / n)
            / (F.col("sxx") - F.col("sx") * F.col("sx") / n)
        ).alias("r"),
    )
    a = rss.where(F.col("s") == 1).select(
        F.col("n").alias("n_early"), F.col("r").alias("ra")
    )
    b = rss.where(F.col("s") == 2).select(
        F.col("n").alias("n_late"), F.col("r").alias("rb")
    )
    out = a.crossJoin(F.broadcast(b))
    fwd = (F.col("rb") / (F.col("n_late") - 2)) / (
        F.col("ra") / (F.col("n_early") - 2)
    )
    return out.select(
        "n_early",
        "n_late",
        (F.round(fwd, 6) + 0.0).alias("gq_f"),
        F.when((fwd > 1.4) | (1.0 / fwd > 1.4), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("variance_shift"),
    )


# --------------------------------------------------------------------------
# White heteroskedasticity test (auxiliary regression via correlation algebra)
# --------------------------------------------------------------------------
@register(
    "white_heteroskedasticity_test",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    {_TREND_SQL},
    mo AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(u AS DECIMAL(38,3))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(round(u * u, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS sxx,
               CAST(SUM(CAST(w AS DECIMAL(38,5))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(round(u * w, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sxy
        FROM xy
    ),
    fit AS (
        SELECT n,
               (sxy - sx * sy / n) / (sxx - sx * sx / n) AS b,
               sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n)
                   * sx / n AS a
        FROM mo
    ),
    aux AS (
        SELECT round((w - f.a - f.b * u) * (w - f.a - f.b * u), 8)
                   AS e2,
               u,
               round(u * u, 6) AS v
        FROM xy, fit f
    ),
    am AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(e2, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS se,
               CAST(SUM(CAST(round(e2 * e2, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS see,
               CAST(SUM(CAST(u AS DECIMAL(38,3))) AS DOUBLE) AS su,
               CAST(SUM(CAST(round(u * u, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS suu,
               CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) AS sv,
               CAST(SUM(CAST(round(v * v, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS svv,
               CAST(SUM(CAST(round(u * v, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS suv,
               CAST(SUM(CAST(round(e2 * u, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS seu,
               CAST(SUM(CAST(round(e2 * v, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sev
        FROM aux
    ),
    rr AS (
        SELECT n,
               (seu - se * su / n)
                   / sqrt((see - se * se / n) * (suu - su * su / n))
                   AS r1,
               (sev - se * sv / n)
                   / sqrt((see - se * se / n) * (svv - sv * sv / n))
                   AS r2,
               (suv - su * sv / n)
                   / sqrt((suu - su * su / n) * (svv - sv * sv / n))
                   AS r12
        FROM am
    )
    SELECT n AS n_days,
           round((r1 * r1 + r2 * r2 - 2.0 * r1 * r2 * r12)
                 / (1.0 - r12 * r12), 6) + 0.0 AS aux_r2,
           round(n * (r1 * r1 + r2 * r2 - 2.0 * r1 * r2 * r12)
                 / (1.0 - r12 * r12), 4) + 0.0 AS white_lm,
           CAST(CASE WHEN n * (r1 * r1 + r2 * r2
                               - 2.0 * r1 * r2 * r12)
                          / (1.0 - r12 * r12) > 5.991
                THEN 1 ELSE 0 END AS BIGINT) AS heteroskedastic
    FROM rr
    """,
)
def white_heteroskedasticity_test(spark, sf_dir):
    """White's general heteroskedasticity test on the daily revenue
    trend: squared OLS residuals regressed on (u, u^2), LM = n*R^2 of
    the auxiliary fit, chi2(2) 5% literal 5.991. The auxiliary R^2
    comes from the two-regressor correlation identity R^2 = (r1^2 +
    r2^2 - 2 r1 r2 r12)/(1 - r12^2) — no matrix solve, just three
    Pearson correlations from exact DECIMAL moment folds in rescaled
    units (days/1000, revenue/1e5 keep every scaled integer far under
    2^53). Complements goldfeld_quandt (split-sample) with the
    regression-form test. Plan: day rollup, OLS scalar, one wide
    fold, terminal expression."""
    daily = daily_order_cents(spark, sf_dir)
    xy = _trend_xy(daily, spark)
    mo = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("u").cast("decimal(38,3)"))
        .cast("double")
        .alias("sx"),
        F.sum(F.round(F.col("u") * F.col("u"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("w").cast("decimal(38,5)"))
        .cast("double")
        .alias("sy"),
        F.sum(F.round(F.col("u") * F.col("w"), 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("sxy"),
    )
    n = F.col("n")
    bcoef = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / n
    )
    fit = mo.select(
        "n",
        bcoef.alias("b"),
        (F.col("sy") / n - bcoef * F.col("sx") / n).alias("a"),
    )
    e = F.col("w") - F.col("a") - F.col("b") * F.col("u")
    aux = xy.crossJoin(F.broadcast(fit)).select(
        F.round(e * e, 8).alias("e2"),
        "u",
        F.round(F.col("u") * F.col("u"), 6).alias("v"),
    )

    def dfold(expr, scale):
        return (
            F.sum(F.round(expr, scale).cast(f"decimal(38,{scale})"))
            .cast("double")
        )

    am = aux.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dfold(F.col("e2"), 8).alias("se"),
        dfold(F.col("e2") * F.col("e2"), 8).alias("see"),
        F.sum(F.col("u").cast("decimal(38,3)"))
        .cast("double")
        .alias("su"),
        dfold(F.col("u") * F.col("u"), 6).alias("suu"),
        F.sum(F.col("v").cast("decimal(38,6)"))
        .cast("double")
        .alias("sv"),
        dfold(F.col("v") * F.col("v"), 8).alias("svv"),
        dfold(F.col("u") * F.col("v"), 8).alias("suv"),
        dfold(F.col("e2") * F.col("u"), 8).alias("seu"),
        dfold(F.col("e2") * F.col("v"), 8).alias("sev"),
    )
    r1 = (F.col("seu") - F.col("se") * F.col("su") / n) / F.sqrt(
        (F.col("see") - F.col("se") * F.col("se") / n)
        * (F.col("suu") - F.col("su") * F.col("su") / n)
    )
    r2 = (F.col("sev") - F.col("se") * F.col("sv") / n) / F.sqrt(
        (F.col("see") - F.col("se") * F.col("se") / n)
        * (F.col("svv") - F.col("sv") * F.col("sv") / n)
    )
    r12 = (F.col("suv") - F.col("su") * F.col("sv") / n) / F.sqrt(
        (F.col("suu") - F.col("su") * F.col("su") / n)
        * (F.col("svv") - F.col("sv") * F.col("sv") / n)
    )
    r2aux = (r1 * r1 + r2 * r2 - 2.0 * r1 * r2 * r12) / (
        1.0 - r12 * r12
    )
    return am.select(
        n.alias("n_days"),
        (F.round(r2aux, 6) + 0.0).alias("aux_r2"),
        (F.round(n * r2aux, 4) + 0.0).alias("white_lm"),
        F.when(n * r2aux > 5.991, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("heteroskedastic"),
    )


# --------------------------------------------------------------------------
# Quandt-Andrews sup-F structural break scan (prefix-moment Chow at every
# admissible breakpoint)
# --------------------------------------------------------------------------
@register(
    "quandt_andrews_supf",
    oracle=f"""
    WITH {DAILY_ORDER_CENTS_SQL},
    t0 AS (
        SELECT MIN(day) AS d0, CAST(COUNT(*) AS BIGINT) AS n
        FROM daily
    ),
    xy AS (
        SELECT day, t0.n,
               round((day - t0.d0) / 1000.0, 3) AS u,
               round(y / 1000000000.0, 6) AS w
        FROM daily, t0
    ),
    cum AS (
        SELECT day, n,
               ROW_NUMBER() OVER (ORDER BY day) AS i,
               CAST(SUM(CAST(u AS DECIMAL(38,3)))
                    OVER win AS DOUBLE) AS cu,
               CAST(SUM(CAST(round(u * u, 6) AS DECIMAL(38,6)))
                    OVER win AS DOUBLE) AS cuu,
               CAST(SUM(CAST(w AS DECIMAL(38,6)))
                    OVER win AS DOUBLE) AS cw,
               CAST(SUM(CAST(round(u * w, 8) AS DECIMAL(38,8)))
                    OVER win AS DOUBLE) AS cuw,
               CAST(SUM(CAST(round(w * w, 8) AS DECIMAL(38,8)))
                    OVER win AS DOUBLE) AS cww
        FROM xy
        WINDOW win AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
    ),
    tot AS (
        SELECT CAST(SUM(CAST(u AS DECIMAL(38,3))) AS DOUBLE) AS tu,
               CAST(SUM(CAST(round(u * u, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS tuu,
               CAST(SUM(CAST(w AS DECIMAL(38,6))) AS DOUBLE) AS tw,
               CAST(SUM(CAST(round(u * w, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS tuw,
               CAST(SUM(CAST(round(w * w, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS tww
        FROM xy
    ),
    f AS (
        SELECT c.day, c.n,
               round((((t.tww - t.tw * t.tw / c.n)
                       - (t.tuw - t.tu * t.tw / c.n)
                         * (t.tuw - t.tu * t.tw / c.n)
                         / (t.tuu - t.tu * t.tu / c.n))
                      - ((c.cww - c.cw * c.cw / c.i)
                         - (c.cuw - c.cu * c.cw / c.i)
                           * (c.cuw - c.cu * c.cw / c.i)
                           / (c.cuu - c.cu * c.cu / c.i))
                      - (((t.tww - c.cww)
                          - (t.tw - c.cw) * (t.tw - c.cw)
                            / (c.n - c.i))
                         - ((t.tuw - c.cuw)
                            - (t.tu - c.cu) * (t.tw - c.cw)
                              / (c.n - c.i))
                           * ((t.tuw - c.cuw)
                              - (t.tu - c.cu) * (t.tw - c.cw)
                                / (c.n - c.i))
                           / ((t.tuu - c.cuu)
                              - (t.tu - c.cu) * (t.tu - c.cu)
                                / (c.n - c.i)))) / 2.0
                     / ((((c.cww - c.cw * c.cw / c.i)
                          - (c.cuw - c.cu * c.cw / c.i)
                            * (c.cuw - c.cu * c.cw / c.i)
                            / (c.cuu - c.cu * c.cu / c.i))
                         + (((t.tww - c.cww)
                             - (t.tw - c.cw) * (t.tw - c.cw)
                               / (c.n - c.i))
                            - ((t.tuw - c.cuw)
                               - (t.tu - c.cu) * (t.tw - c.cw)
                                 / (c.n - c.i))
                              * ((t.tuw - c.cuw)
                                 - (t.tu - c.cu) * (t.tw - c.cw)
                                   / (c.n - c.i))
                              / ((t.tuu - c.cuu)
                                 - (t.tu - c.cu) * (t.tu - c.cu)
                                   / (c.n - c.i))))
                        / (c.n - 4)), 6) AS fstat
        FROM cum c, tot t
        WHERE c.i >= GREATEST(8, CAST(ceil(0.15 * c.n) AS BIGINT))
          AND c.n - c.i >= GREATEST(8, CAST(ceil(0.15 * c.n)
                                            AS BIGINT))
    )
    SELECT n AS n_days,
           fstat + 0.0 AS sup_f,
           day AS break_day,
           CAST(CASE WHEN fstat > 11.79 THEN 1 ELSE 0 END AS BIGINT)
               AS break_detected
    FROM f ORDER BY fstat DESC, day ASC LIMIT 1
    """,
)
def quandt_andrews_supf(spark, sf_dir):
    """Quandt-Andrews sup-F structural-break scan of the daily revenue
    trend: a Chow F statistic at EVERY admissible breakpoint (15%
    trim, min segment 8) via the prefix-moment identity — segment RSS
    on each side of tau derives from cumulative DECIMAL power sums, so
    the whole scan is ONE pass over the calendar-day frame instead of
    |tau| regressions (the closed form that makes sup-F linear in
    days). Literal 11.79 is Andrews' 5% critical value for k=2 at 15%
    trim. Units (days/1000, revenue/1e9 at 6 dp) keep every prefix
    fold's scaled integer far under 2^53 at any SF. Deterministic
    argmax: F rounded to 1e-6 BEFORE ranking, day ascending tiebreak.
    Plan: day rollup, five cumulative windows over the calendar
    frame, scalar totals attach, total-order top-1."""
    daily = daily_order_cents(spark, sf_dir)
    t0 = daily.agg(
        F.min("day").alias("d0"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    xy = daily.crossJoin(F.broadcast(t0)).select(
        "day",
        "n",
        F.round((F.col("day") - F.col("d0")) / 1000.0, 3).alias("u"),
        F.round(F.col("y") / 1000000000.0, 6).alias("w"),
    )
    win = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = xy.select(
        "day",
        "n",
        F.row_number().over(Window.orderBy("day")).alias("i"),
        F.sum(F.col("u").cast("decimal(38,3)"))
        .over(win)
        .cast("double")
        .alias("cu"),
        F.sum(F.round(F.col("u") * F.col("u"), 6).cast("decimal(38,6)"))
        .over(win)
        .cast("double")
        .alias("cuu"),
        F.sum(F.col("w").cast("decimal(38,6)"))
        .over(win)
        .cast("double")
        .alias("cw"),
        F.sum(F.round(F.col("u") * F.col("w"), 8).cast("decimal(38,8)"))
        .over(win)
        .cast("double")
        .alias("cuw"),
        F.sum(F.round(F.col("w") * F.col("w"), 8).cast("decimal(38,8)"))
        .over(win)
        .cast("double")
        .alias("cww"),
    )
    tot = xy.agg(
        F.sum(F.col("u").cast("decimal(38,3)"))
        .cast("double")
        .alias("tu"),
        F.sum(F.round(F.col("u") * F.col("u"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("tuu"),
        F.sum(F.col("w").cast("decimal(38,6)"))
        .cast("double")
        .alias("tw"),
        F.sum(F.round(F.col("u") * F.col("w"), 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("tuw"),
        F.sum(F.round(F.col("w") * F.col("w"), 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("tww"),
    )
    c = cum.crossJoin(F.broadcast(tot))
    i = F.col("i")
    n = F.col("n")
    n2 = n - i

    def rss(sww, sw, suw, su, suu, cnt):
        return (sww - sw * sw / cnt) - (suw - su * sw / cnt) * (
            suw - su * sw / cnt
        ) / (suu - su * su / cnt)

    rss1 = rss(
        F.col("cww"), F.col("cw"), F.col("cuw"), F.col("cu"),
        F.col("cuu"), i,
    )
    rss2 = rss(
        F.col("tww") - F.col("cww"),
        F.col("tw") - F.col("cw"),
        F.col("tuw") - F.col("cuw"),
        F.col("tu") - F.col("cu"),
        F.col("tuu") - F.col("cuu"),
        n2,
    )
    rssr = rss(
        F.col("tww"), F.col("tw"), F.col("tuw"), F.col("tu"),
        F.col("tuu"), n,
    )
    fstat = F.round(
        (rssr - rss1 - rss2) / 2.0 / ((rss1 + rss2) / (n - 4)), 6
    )
    trim = F.greatest(F.lit(8), F.ceil(0.15 * n).cast("bigint"))
    f = c.where((i >= trim) & (n2 >= trim)).select(
        "day", "n", fstat.alias("fstat")
    )
    return (
        f.orderBy(F.col("fstat").desc(), F.col("day").asc())
        .limit(1)
        .select(
            F.col("n").alias("n_days"),
            (F.col("fstat") + 0.0).alias("sup_f"),
            F.col("day").alias("break_day"),
            F.when(F.col("fstat") > 11.79, 1)
            .otherwise(0)
            .cast("bigint")
            .alias("break_detected"),
        )
    )


# --------------------------------------------------------------------------
# Engle-Granger cointegration of cumulative click / view activity
# --------------------------------------------------------------------------
@register(
    "engle_granger_cointegration",
    oracle="""
    WITH ev AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               event_type AS ty
        FROM events WHERE event_type IN ('click', 'view')
    ),
    grid AS (SELECT DISTINCT day FROM ev),
    cnt AS (
        SELECT g.day,
               CAST(COALESCE(SUM(CASE WHEN e.ty = 'click'
                             THEN 1 END), 0) AS BIGINT) AS kc,
               CAST(COALESCE(SUM(CASE WHEN e.ty = 'view'
                             THEN 1 END), 0) AS BIGINT) AS kv
        FROM grid g LEFT JOIN ev e ON e.day = g.day
        GROUP BY g.day
    ),
    cumc AS (
        SELECT day,
               SUM(kc) OVER win AS c1,
               SUM(kv) OVER win AS c2
        FROM cnt WINDOW win AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
    ),
    mo AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c1) AS BIGINT) AS s1,
               CAST(SUM(c2) AS BIGINT) AS s2,
               CAST(SUM(c1 * c1) AS BIGINT) AS s11,
               CAST(SUM(c1 * c2) AS BIGINT) AS s12
        FROM cumc
    ),
    fit AS (
        SELECT n,
               (CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n)
               / (CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                   AS b,
               CAST(s2 AS DOUBLE) / n
               - (CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n)
                 / (CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                 * s1 / n AS a
        FROM mo
    ),
    res AS (
        SELECT day, round(c2 - f.a - f.b * c1, 4) AS e
        FROM cumc, fit f
    ),
    pair AS (
        SELECT LAG(e) OVER (ORDER BY day) AS el,
               e - LAG(e) OVER (ORDER BY day) AS de
        FROM res QUALIFY el IS NOT NULL
    ),
    df AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(CAST(round(el * el, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS see,
               CAST(SUM(CAST(round(el * de, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS sed,
               CAST(SUM(CAST(round(de * de, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS sdd
        FROM pair
    )
    SELECT f.n AS n_days,
           round(f.b, 6) AS beta,
           round((d.sed / d.see)
                 / sqrt(((d.sdd - d.sed * d.sed / d.see) / (d.m - 2))
                        / d.see), 6) + 0.0 AS adf_t,
           CAST(CASE WHEN (d.sed / d.see)
                          / sqrt(((d.sdd - d.sed * d.sed / d.see)
                                  / (d.m - 2)) / d.see) < -3.37
                THEN 1 ELSE 0 END AS BIGINT) AS cointegrated
    FROM fit f, df d
    """,
)
def engle_granger_cointegration(spark, sf_dir):
    """Engle-Granger two-step cointegration test between cumulative
    click and view activity (two I(1) series sharing the traffic
    trend): static OLS of cumulative views on cumulative clicks, then
    a no-constant Dickey-Fuller regression on the residuals, with
    Engle-Granger's 5% critical value -3.37 (two-variable case) as
    the shared literal. Cumulative counts are EXACT BIGINTs (their
    power sums stay under 2^53 as doubles through sf1); residuals
    round at 1e-4 before their DECIMAL(38,4) folds. The
    spurious-regression guard a pipeline needs before regressing one
    trending KPI on another. Plan: day rollup + zero-filled grid, two
    cumulative/lag windows over the calendar frame, three scalar
    folds."""
    e = t(spark, sf_dir, "events")
    ev = e.where(F.col("event_type").isin("click", "view")).select(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("day"),
        F.col("event_type").alias("ty"),
    )
    cnt = ev.groupBy("day").agg(
        F.coalesce(
            F.sum(F.when(F.col("ty") == "click", 1)), F.lit(0)
        )
        .cast("bigint")
        .alias("kc"),
        F.coalesce(
            F.sum(F.when(F.col("ty") == "view", 1)), F.lit(0)
        )
        .cast("bigint")
        .alias("kv"),
    )
    win = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cumc = cnt.select(
        "day",
        F.sum("kc").over(win).alias("c1"),
        F.sum("kv").over(win).alias("c2"),
    )
    mo = cumc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c1").cast("bigint").alias("s1"),
        F.sum("c2").cast("bigint").alias("s2"),
        F.sum(F.col("c1") * F.col("c1")).cast("bigint").alias("s11"),
        F.sum(F.col("c1") * F.col("c2")).cast("bigint").alias("s12"),
    )
    n = F.col("n")
    bnum = F.col("s12").cast("double") - F.col("s1").cast(
        "double"
    ) * F.col("s2") / n
    bden = F.col("s11").cast("double") - F.col("s1").cast(
        "double"
    ) * F.col("s1") / n
    fit = mo.select(
        "n",
        (bnum / bden).alias("b"),
        (
            F.col("s2").cast("double") / n
            - bnum / bden * F.col("s1") / n
        ).alias("a"),
    )
    res = cumc.crossJoin(F.broadcast(fit)).select(
        "day",
        "n",
        F.round(
            F.col("c2") - F.col("a") - F.col("b") * F.col("c1"), 4
        ).alias("e"),
        F.col("b"),
    )
    wl = Window.orderBy("day")
    pair = res.select(
        "n",
        "b",
        F.lag("e").over(wl).alias("el"),
        (F.col("e") - F.lag("e").over(wl)).alias("de"),
    ).where(F.col("el").isNotNull())

    def fold4(expr):
        return (
            F.sum(F.round(expr, 4).cast("decimal(38,4)"))
            .cast("double")
        )

    df = pair.groupBy("n", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        fold4(F.col("el") * F.col("el")).alias("see"),
        fold4(F.col("el") * F.col("de")).alias("sed"),
        fold4(F.col("de") * F.col("de")).alias("sdd"),
    )
    rho = F.col("sed") / F.col("see")
    tstat = rho / F.sqrt(
        ((F.col("sdd") - F.col("sed") * F.col("sed") / F.col("see"))
         / (F.col("m") - 2))
        / F.col("see")
    )
    return df.select(
        F.col("n").alias("n_days"),
        F.round(F.col("b"), 6).alias("beta"),
        (F.round(tstat, 6) + 0.0).alias("adf_t"),
        F.when(tstat < -3.37, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("cointegrated"),
    )


# --------------------------------------------------------------------------
# Fligner-Policello robust rank-order test (click vs view values)
# --------------------------------------------------------------------------
@register(
    "fligner_policello_test",
    oracle="""
    WITH v AS (
        SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS x,
               event_type AS ty
        FROM events WHERE event_type IN ('click', 'view')
    ),
    grid AS (
        SELECT x,
               CAST(SUM(CASE WHEN ty = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS cx,
               CAST(SUM(CASE WHEN ty = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS cy
        FROM v GROUP BY x
    ),
    cum AS (
        SELECT x, cx, cy,
               COALESCE(SUM(cx) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS cxl,
               COALESCE(SUM(cy) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS cyl
        FROM grid
    ),
    pl AS (
        -- doubled placements stay integral under midrank ties
        SELECT x, cx, cy,
               2 * cyl + cy AS px2,
               2 * cxl + cx AS py2
        FROM cum
    ),
    m AS (
        SELECT CAST(SUM(cx) AS BIGINT) AS nx,
               CAST(SUM(cy) AS BIGINT) AS ny,
               CAST(SUM(cx * px2) AS DECIMAL(38,0)) AS spx2,
               CAST(SUM(cy * py2) AS DECIMAL(38,0)) AS spy2,
               CAST(SUM(CAST(cx AS DECIMAL(38,0)) * px2 * px2)
                    AS DECIMAL(38,0)) AS sqx2,
               CAST(SUM(CAST(cy AS DECIMAL(38,0)) * py2 * py2)
                    AS DECIMAL(38,0)) AS sqy2
        FROM pl
    )
    SELECT nx AS n_click, ny AS n_view,
           round((CAST(spy2 AS DOUBLE) / 2 - CAST(spx2 AS DOUBLE) / 2)
                 / (2.0 * sqrt(
                     (CAST(sqx2 AS DOUBLE) / 4
                      - CAST(spx2 AS DOUBLE) * spx2 / 4 / nx)
                     + (CAST(sqy2 AS DOUBLE) / 4
                        - CAST(spy2 AS DOUBLE) * spy2 / 4 / ny)
                     + (CAST(spx2 AS DOUBLE) / 2 / nx)
                       * (CAST(spy2 AS DOUBLE) / 2 / ny))), 6)
               + 0.0 AS fp_z,
           CAST(CASE WHEN abs(
               (CAST(spy2 AS DOUBLE) / 2 - CAST(spx2 AS DOUBLE) / 2)
               / (2.0 * sqrt(
                   (CAST(sqx2 AS DOUBLE) / 4
                    - CAST(spx2 AS DOUBLE) * spx2 / 4 / nx)
                   + (CAST(sqy2 AS DOUBLE) / 4
                      - CAST(spy2 AS DOUBLE) * spy2 / 4 / ny)
                   + (CAST(spx2 AS DOUBLE) / 2 / nx)
                     * (CAST(spy2 AS DOUBLE) / 2 / ny)))) > 1.96
                THEN 1 ELSE 0 END AS BIGINT) AS rejects_equal_medians
    FROM m
    """,
)
def fligner_policello_test(spark, sf_dir):
    """Fligner-Policello robust rank-order test for click-vs-view
    value medians: the placement-based U^ statistic that, unlike
    Mann-Whitney, needs NO equal-variance/shape assumption — only
    symmetry of each placement distribution. Placements (counts of
    the other sample strictly below, + half the ties) are DOUBLED so
    midrank ties stay integral: every fold is an exact BIGINT /
    DECIMAL(38,0) sum over the distinct-value-cents grid, and the
    single terminal expression divides doubles. z vs the 1.96 normal
    gate. Plan: one value-grid rollup, two exclusive-prefix windows
    over the price-domain grid, one scalar fold."""
    e = t(spark, sf_dir, "events")
    v = e.where(F.col("event_type").isin("click", "view")).select(
        (dec("value", 18, 2) * 100).cast("bigint").alias("x"),
        F.col("event_type").alias("ty"),
    )
    grid = v.groupBy("x").agg(
        F.sum(F.when(F.col("ty") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("cx"),
        F.sum(F.when(F.col("ty") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("cy"),
    )
    wexcl = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, -1
    )
    pl = grid.select(
        "x",
        "cx",
        "cy",
        (
            2 * F.coalesce(F.sum("cy").over(wexcl), F.lit(0))
            + F.col("cy")
        ).alias("px2"),
        (
            2 * F.coalesce(F.sum("cx").over(wexcl), F.lit(0))
            + F.col("cx")
        ).alias("py2"),
    )
    m = pl.agg(
        F.sum("cx").cast("bigint").alias("nx"),
        F.sum("cy").cast("bigint").alias("ny"),
        F.sum(F.col("cx") * F.col("px2"))
        .cast("decimal(38,0)")
        .alias("spx2"),
        F.sum(F.col("cy") * F.col("py2"))
        .cast("decimal(38,0)")
        .alias("spy2"),
        F.sum(
            F.col("cx").cast("decimal(38,0)")
            * F.col("px2")
            * F.col("px2")
        )
        .cast("decimal(38,0)")
        .alias("sqx2"),
        F.sum(
            F.col("cy").cast("decimal(38,0)")
            * F.col("py2")
            * F.col("py2")
        )
        .cast("decimal(38,0)")
        .alias("sqy2"),
    )
    nx = F.col("nx")
    ny = F.col("ny")
    spx = F.col("spx2").cast("double") / 2
    spy = F.col("spy2").cast("double") / 2
    ssx = (
        F.col("sqx2").cast("double") / 4
        - F.col("spx2").cast("double") * F.col("spx2") / 4 / nx
    )
    ssy = (
        F.col("sqy2").cast("double") / 4
        - F.col("spy2").cast("double") * F.col("spy2") / 4 / ny
    )
    z = (spy - spx) / (
        2.0 * F.sqrt(ssx + ssy + (spx / nx) * (spy / ny))
    )
    return m.select(
        nx.alias("n_click"),
        ny.alias("n_view"),
        (F.round(z, 6) + 0.0).alias("fp_z"),
        F.when(F.abs(z) > 1.96, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("rejects_equal_medians"),
    )


# --------------------------------------------------------------------------
# Baumgartner-Weiss-Schindler two-sample test (click vs view values)
# --------------------------------------------------------------------------
@register(
    "baumgartner_weiss_schindler",
    oracle="""
    WITH v AS (
        SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS x,
               event_type AS ty
        FROM events WHERE event_type IN ('click', 'view')
    ),
    grid AS (
        SELECT x,
               CAST(SUM(CASE WHEN ty = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS cx,
               CAST(SUM(CASE WHEN ty = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS cy
        FROM v GROUP BY x
    ),
    cum AS (
        SELECT x, cx, cy,
               COALESCE(SUM(cx) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS cxl,
               COALESCE(SUM(cy) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS cyl
        FROM grid
    ),
    nn AS (
        SELECT CAST(SUM(cx) AS BIGINT) AS m,
               CAST(SUM(cy) AS BIGINT) AS n
        FROM grid
    ),
    -- per-observation sample index i (exploded inside each tied
    -- block); doubled pooled midrank 2R is block-constant
    obsx AS (
        SELECT u.i,
               2 * (c.cxl + c.cyl) + c.cx + c.cy + 1 AS r2
        FROM cum c, LATERAL UNNEST(range(CAST(c.cxl + 1 AS BIGINT),
                   CAST(c.cxl + c.cx + 1 AS BIGINT))) AS u(i)
        WHERE c.cx > 0
    ),
    obsy AS (
        SELECT u.i,
               2 * (c.cxl + c.cyl) + c.cx + c.cy + 1 AS r2
        FROM cum c, LATERAL UNNEST(range(CAST(c.cyl + 1 AS BIGINT),
                   CAST(c.cyl + c.cy + 1 AS BIGINT))) AS u(i)
        WHERE c.cy > 0
    ),
    bx AS (
        SELECT round(CAST(SUM(CAST(round(
                   (o.r2 / 2.0 - (nn.m + nn.n) * 1.0 * o.i / nn.m)
                   * (o.r2 / 2.0 - (nn.m + nn.n) * 1.0 * o.i / nn.m)
                   / ((o.i / (nn.m + 1.0))
                      * (1.0 - o.i / (nn.m + 1.0))
                      * nn.n * (nn.m + nn.n) / nn.m), 2)
                   AS DECIMAL(38,2))) AS DOUBLE) / nn.m, 6) AS b
        FROM obsx o, nn GROUP BY nn.m
    ),
    by_ AS (
        SELECT round(CAST(SUM(CAST(round(
                   (o.r2 / 2.0 - (nn.m + nn.n) * 1.0 * o.i / nn.n)
                   * (o.r2 / 2.0 - (nn.m + nn.n) * 1.0 * o.i / nn.n)
                   / ((o.i / (nn.n + 1.0))
                      * (1.0 - o.i / (nn.n + 1.0))
                      * nn.m * (nn.m + nn.n) / nn.n), 2)
                   AS DECIMAL(38,2))) AS DOUBLE) / nn.n, 6) AS b
        FROM obsy o, nn GROUP BY nn.n
    )
    SELECT nn.m AS n_click, nn.n AS n_view,
           round((bx.b + by_.b) / 2.0, 6) AS bws_b,
           CAST(CASE WHEN (bx.b + by_.b) / 2.0 > 3.88
                THEN 1 ELSE 0 END AS BIGINT) AS rejects_equality
    FROM nn, bx, by_
    """,
)
def baumgartner_weiss_schindler(spark, sf_dir):
    """Baumgartner-Weiss-Schindler two-sample test on click-vs-view
    values: the weighted squared rank-ECDF discrepancy B = (B_X +
    B_Y)/2, more powerful than KS/CvM in the tails. Per-observation
    sample indices i come from exploding each tied value block's
    index range off the distinct-cents grid (a flat map — no
    per-observation sort or window anywhere); pooled midranks are
    DOUBLED so ties stay integral. Weighted terms round at 1e-2
    before DECIMAL(38,2) folds. 3.88 is the 5% asymptotic critical
    value of the BWS limit distribution (shared literal). Plan: one
    value-grid rollup, two prefix windows on the grid, index-range
    explode, two scalar folds."""
    e = t(spark, sf_dir, "events")
    v = e.where(F.col("event_type").isin("click", "view")).select(
        (dec("value", 18, 2) * 100).cast("bigint").alias("x"),
        F.col("event_type").alias("ty"),
    )
    grid = v.groupBy("x").agg(
        F.sum(F.when(F.col("ty") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("cx"),
        F.sum(F.when(F.col("ty") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("cy"),
    )
    wexcl = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = grid.select(
        "x",
        "cx",
        "cy",
        F.coalesce(F.sum("cx").over(wexcl), F.lit(0)).alias("cxl"),
        F.coalesce(F.sum("cy").over(wexcl), F.lit(0)).alias("cyl"),
    )
    nn = grid.agg(
        F.sum("cx").cast("bigint").alias("m"),
        F.sum("cy").cast("bigint").alias("n"),
    )
    r2 = (
        2 * (F.col("cxl") + F.col("cyl"))
        + F.col("cx")
        + F.col("cy")
        + 1
    ).alias("r2")

    def obs(cnt_col, lo_col):
        return (
            cum.where(F.col(cnt_col) > 0)
            .select(
                r2,
                F.explode(
                    F.sequence(
                        F.col(lo_col) + 1,
                        F.col(lo_col) + F.col(cnt_col),
                    )
                ).alias("i"),
            )
        )

    def bstat(o, own, other):
        own_c = F.col(own)
        oth_c = F.col(other)
        term = (
            (F.col("r2") / 2.0 - (own_c + oth_c) * 1.0 * F.col("i") / own_c)
            * (F.col("r2") / 2.0 - (own_c + oth_c) * 1.0 * F.col("i") / own_c)
            / (
                (F.col("i") / (own_c + 1.0))
                * (1.0 - F.col("i") / (own_c + 1.0))
                * oth_c
                * (own_c + oth_c)
                / own_c
            )
        )
        return (
            o.crossJoin(F.broadcast(nn))
            .groupBy(own)
            .agg(
                F.round(
                    F.sum(
                        F.round(term, 2).cast("decimal(38,2)")
                    ).cast("double")
                    / own_c,
                    6,
                ).alias("b")
            )
            .select("b")
        )

    bx = bstat(obs("cx", "cxl"), "m", "n")
    by = bstat(obs("cy", "cyl"), "n", "m").withColumnRenamed(
        "b", "b2"
    )
    out = (
        nn.crossJoin(F.broadcast(bx)).crossJoin(F.broadcast(by))
    )
    bws = (F.col("b") + F.col("b2")) / 2.0
    return out.select(
        F.col("m").alias("n_click"),
        F.col("n").alias("n_view"),
        F.round(bws, 6).alias("bws_b"),
        F.when(bws > 3.88, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("rejects_equality"),
    )


# --------------------------------------------------------------------------
# Cressie-Read power-divergence panel on the weekday x type contingency
# --------------------------------------------------------------------------
@register(
    "cressie_read_divergence_panel",
    oracle="""
    WITH cell AS (
        SELECT CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT)
                   AS dow,
               event_type AS ty,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ),
    marg AS (
        SELECT c.dow, c.ty, c.o,
               r.ro * 1.0 * k.co / n.n AS e
        FROM cell c,
             (SELECT dow, CAST(SUM(o) AS BIGINT) AS ro
              FROM cell GROUP BY dow) r,
             (SELECT ty, CAST(SUM(o) AS BIGINT) AS co
              FROM cell GROUP BY ty) k,
             (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cell) n
        WHERE c.dow = r.dow AND c.ty = k.ty
    ),
    s AS (
        SELECT CAST(SUM(o) AS BIGINT) AS n,
               round(SUM(CAST(round((o - e) * (o - e) / e, 8)
                              AS DECIMAL(38,8))), 6) AS chi2,
               round(2.0 * SUM(CAST(round(o * ln(o / e), 8)
                                    AS DECIMAL(38,8))), 6) AS g,
               round(4.0 * SUM(CAST(round(
                   (sqrt(o) - sqrt(e)) * (sqrt(o) - sqrt(e)), 8)
                   AS DECIMAL(38,8))), 6) AS ft,
               round(2.0 * SUM(CAST(round(e * ln(e / o), 8)
                                    AS DECIMAL(38,8))), 6) AS mg
        FROM marg
    )
    SELECT n AS n_events,
           CAST(chi2 AS DOUBLE) AS pearson_chi2,
           CAST(g AS DOUBLE) AS g_statistic,
           CAST(ft AS DOUBLE) AS freeman_tukey,
           CAST(mg AS DOUBLE) AS modified_g,
           CAST(CASE WHEN chi2 > 36.415 THEN 1 ELSE 0 END AS BIGINT)
               AS rejects_independence
    FROM s
    """,
)
def cressie_read_divergence_panel(spark, sf_dir):
    """Cressie-Read power-divergence family on the weekday x
    event-type contingency table: Pearson chi2 (lambda=1), the
    likelihood-ratio G (lambda->0), Freeman-Tukey (lambda=-1/2), and
    modified-G (lambda=-1) — the four rational/sqrt/ln members of the
    family, skipping the cbrt member whose fractional pow is not
    cross-engine-stable. One statistic family unifying the registry's
    independence tests; divergent members diverging flags
    miscalibrated sparse cells. All four reduce over the bounded
    35-cell frame; per-cell terms round at 1e-8 before DECIMAL folds
    (the established post-ln rounding device). chi2(24) 5% literal
    36.415. Plan: one contingency rollup, broadcast marginals, one
    scalar fold."""
    e = t(spark, sf_dir, "events")
    cell = e.groupBy(
        ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7)
        .cast("bigint")
        .alias("dow"),
        F.col("event_type").alias("ty"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    rowm = cell.groupBy("dow").agg(
        F.sum("o").cast("bigint").alias("ro")
    )
    colm = cell.groupBy("ty").agg(
        F.sum("o").cast("bigint").alias("co")
    )
    n = cell.agg(F.sum("o").cast("bigint").alias("n"))
    marg = (
        cell.join(F.broadcast(rowm), "dow")
        .join(F.broadcast(colm), "ty")
        .crossJoin(F.broadcast(n))
        .select(
            "o",
            (F.col("ro") * 1.0 * F.col("co") / F.col("n")).alias(
                "e"
            ),
        )
    )
    o = F.col("o")
    ee = F.col("e")

    def fold8(expr):
        return F.sum(F.round(expr, 8).cast("decimal(38,8)"))

    s = marg.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.round(fold8((o - ee) * (o - ee) / ee), 6).alias("chi2"),
        F.round(2.0 * fold8(o * F.log(o / ee)), 6).alias("g"),
        F.round(
            4.0
            * fold8(
                (F.sqrt(o) - F.sqrt(ee)) * (F.sqrt(o) - F.sqrt(ee))
            ),
            6,
        ).alias("ft"),
        F.round(2.0 * fold8(ee * F.log(ee / o)), 6).alias("mg"),
    )
    return s.select(
        F.col("n").alias("n_events"),
        F.col("chi2").cast("double").alias("pearson_chi2"),
        F.col("g").cast("double").alias("g_statistic"),
        F.col("ft").cast("double").alias("freeman_tukey"),
        F.col("mg").cast("double").alias("modified_g"),
        F.when(F.col("chi2") > 36.415, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("rejects_independence"),
    )


# --------------------------------------------------------------------------
# Stuart's tau-c on the weekday x value-decile contingency
# --------------------------------------------------------------------------
@register(
    "stuart_tau_c_association",
    oracle="""
    WITH cell AS (
        SELECT CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT)
                   AS i,
               LEAST(CAST(floor(value) AS BIGINT) // 50, 9) AS j,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    cd AS (
        SELECT CAST(SUM(CASE WHEN b.i > a.i AND b.j > a.j
                        THEN a.c * b.c ELSE 0 END)
                    AS DECIMAL(38,0)) AS conc,
               CAST(SUM(CASE WHEN b.i > a.i AND b.j < a.j
                        THEN a.c * b.c ELSE 0 END)
                    AS DECIMAL(38,0)) AS disc
        FROM cell a, cell b
    ),
    nn AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(LEAST(COUNT(DISTINCT i), COUNT(DISTINCT j))
                    AS BIGINT) AS m
        FROM cell
    )
    SELECT nn.n AS n_events,
           CAST(cd.conc AS BIGINT) AS concordant,
           CAST(cd.disc AS BIGINT) AS discordant,
           round(2.0 * nn.m * (CAST(cd.conc AS DOUBLE) - CAST(cd.disc
                 AS DOUBLE))
                 / (CAST(nn.n AS DOUBLE) * nn.n * (nn.m - 1)), 6)
               + 0.0 AS tau_c
    FROM cd, nn
    """,
)
def stuart_tau_c_association(spark, sf_dir):
    """Stuart's tau-c between weekday and value decile: the
    rectangular-table correction of Kendall's tau (tau-c = 2m(C-D) /
    (n^2(m-1)), m = min(rows, cols)) that, unlike the registry's
    kendall_tau_b_bucketed, attains +-1 on non-square tables — the
    companion the two-axes-of-different-arity case needs. C and D are
    exact DECIMAL(38,0) products over the bounded 70-cell frame's
    self-join; one terminal double division. Plan: one contingency
    rollup, 70x70 broadcast self-join, scalar fold."""
    e = t(spark, sf_dir, "events")
    cell = e.groupBy(
        ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7)
        .cast("bigint")
        .alias("i"),
        F.least(
            F.floor(F.col("value")).cast("bigint") / F.lit(50), F.lit(9)
        )
        .cast("bigint")
        .alias("j"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    a = cell.select(
        F.col("i").alias("ai"),
        F.col("j").alias("aj"),
        F.col("c").alias("ac"),
    )
    b = cell.select(
        F.col("i").alias("bi"),
        F.col("j").alias("bj"),
        F.col("c").alias("bc"),
    )
    cd = a.crossJoin(F.broadcast(b)).agg(
        F.sum(
            F.when(
                (F.col("bi") > F.col("ai"))
                & (F.col("bj") > F.col("aj")),
                F.col("ac") * F.col("bc"),
            ).otherwise(0)
        )
        .cast("decimal(38,0)")
        .alias("conc"),
        F.sum(
            F.when(
                (F.col("bi") > F.col("ai"))
                & (F.col("bj") < F.col("aj")),
                F.col("ac") * F.col("bc"),
            ).otherwise(0)
        )
        .cast("decimal(38,0)")
        .alias("disc"),
    )
    nn = cell.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.least(
            F.countDistinct("i"), F.countDistinct("j")
        )
        .cast("bigint")
        .alias("m"),
    )
    out = cd.crossJoin(F.broadcast(nn))
    tau = (
        2.0
        * F.col("m")
        * (F.col("conc").cast("double") - F.col("disc").cast("double"))
        / (
            F.col("n").cast("double")
            * F.col("n")
            * (F.col("m") - 1)
        )
    )
    return out.select(
        F.col("n").alias("n_events"),
        F.col("conc").cast("bigint").alias("concordant"),
        F.col("disc").cast("bigint").alias("discordant"),
        (F.round(tau, 6) + 0.0).alias("tau_c"),
    )


# --------------------------------------------------------------------------
# Deming regression between daily click and view mean values
# --------------------------------------------------------------------------
@register(
    "deming_regression",
    oracle="""
    WITH d AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               round(CAST(SUM(CASE WHEN event_type = 'click'
                   THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                        AS BIGINT) END) AS DOUBLE)
                   / NULLIF(SUM(CASE WHEN event_type = 'click'
                                THEN 1 END), 0) / 100.0, 6) AS mx,
               round(CAST(SUM(CASE WHEN event_type = 'view'
                   THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                        AS BIGINT) END) AS DOUBLE)
                   / NULLIF(SUM(CASE WHEN event_type = 'view'
                                THEN 1 END), 0) / 100.0, 6) AS my
        FROM events GROUP BY 1
        HAVING mx IS NOT NULL AND my IS NOT NULL
    ),
    mo AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(mx AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(my AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(round(mx * mx, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS sxx,
               CAST(SUM(CAST(round(my * my, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS syy,
               CAST(SUM(CAST(round(mx * my, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS sxy
        FROM d
    ),
    c AS (
        SELECT n,
               sxx - sx * sx / n AS vx,
               syy - sy * sy / n AS vy,
               sxy - sx * sy / n AS vxy,
               sx / n AS mx, sy / n AS my
        FROM mo
    )
    SELECT n AS n_days,
           round((vy - vx + sqrt((vy - vx) * (vy - vx)
                                 + 4.0 * vxy * vxy))
                 / (2.0 * vxy), 6) + 0.0 AS deming_slope,
           round(my - (vy - vx + sqrt((vy - vx) * (vy - vx)
                                      + 4.0 * vxy * vxy))
                      / (2.0 * vxy) * mx, 6) + 0.0 AS deming_intercept,
           round(vxy / sqrt(vx * vy), 6) + 0.0 AS pearson_r
    FROM c
    """,
)
def deming_regression(spark, sf_dir):
    """Deming (errors-in-variables, lambda = 1) regression of daily
    mean view value on daily mean click value: the orthogonal-fit
    slope (Vy - Vx + sqrt((Vy-Vx)^2 + 4Vxy^2)) / 2Vxy that stays
    consistent when BOTH axes are noisy day-level estimates — where
    OLS attenuates toward zero. The method-comparison workhorse
    (clinical/instrument calibration) next to the registry's OLS and
    Theil-Sen trends. Daily means are exact-cents ratios rounded at
    1e-6; moments fold through DECIMAL(38,6); slope/intercept/r are
    terminal expressions. Plan: one day rollup, one scalar fold."""
    e = t(spark, sf_dir, "events")
    cents = (dec("value", 18, 2) * 100).cast("bigint")
    d = (
        e.groupBy(
            F.floor(F.unix_micros("ts") / 86_400_000_000)
            .cast("bigint")
            .alias("day")
        )
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("event_type") == "click", cents)
                ).cast("double")
                / F.nullif(
                    F.sum(
                        F.when(F.col("event_type") == "click", 1)
                    ),
                    F.lit(0),
                )
                / 100.0,
                6,
            ).alias("mx"),
            F.round(
                F.sum(
                    F.when(F.col("event_type") == "view", cents)
                ).cast("double")
                / F.nullif(
                    F.sum(
                        F.when(F.col("event_type") == "view", 1)
                    ),
                    F.lit(0),
                )
                / 100.0,
                6,
            ).alias("my"),
        )
        .where(F.col("mx").isNotNull() & F.col("my").isNotNull())
    )

    def fold6(expr):
        return (
            F.sum(F.round(expr, 6).cast("decimal(38,6)"))
            .cast("double")
        )

    mo = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("mx").cast("decimal(38,6)"))
        .cast("double")
        .alias("sx"),
        F.sum(F.col("my").cast("decimal(38,6)"))
        .cast("double")
        .alias("sy"),
        fold6(F.col("mx") * F.col("mx")).alias("sxx"),
        fold6(F.col("my") * F.col("my")).alias("syy"),
        fold6(F.col("mx") * F.col("my")).alias("sxy"),
    )
    n = F.col("n")
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vy = F.col("syy") - F.col("sy") * F.col("sy") / n
    vxy = F.col("sxy") - F.col("sx") * F.col("sy") / n
    slope = (
        vy - vx + F.sqrt((vy - vx) * (vy - vx) + 4.0 * vxy * vxy)
    ) / (2.0 * vxy)
    return mo.select(
        n.alias("n_days"),
        (F.round(slope, 6) + 0.0).alias("deming_slope"),
        (
            F.round(
                F.col("sy") / n - slope * F.col("sx") / n, 6
            )
            + 0.0
        ).alias("deming_intercept"),
        (F.round(vxy / F.sqrt(vx * vy), 6) + 0.0).alias("pearson_r"),
    )


# --------------------------------------------------------------------------
# Atkinson / Hoover inequality panel on order values
# --------------------------------------------------------------------------
@register(
    "atkinson_inequality_panel",
    oracle="""
    WITH v AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS x
        FROM orders
    ),
    mu AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s
        FROM v
    ),
    f AS (
        SELECT mu.n, mu.s,
               CAST(SUM(CAST(round(sqrt(v.x * 1.0 * mu.n / mu.s), 8)
                             AS DECIMAL(38,8))) AS DOUBLE) AS shalf,
               CAST(SUM(CAST(round(ln(v.x * 1.0 * mu.n / mu.s), 8)
                             AS DECIMAL(38,8))) AS DOUBLE) AS slog,
               CAST(SUM(CAST(round(CAST(mu.s AS DOUBLE)
                                   / mu.n / v.x, 8)
                             AS DECIMAL(38,8))) AS DOUBLE) AS sinv,
               CAST(SUM(CAST(round(abs(v.x - CAST(mu.s AS DOUBLE)
                                       / mu.n)
                                   / (CAST(mu.s AS DOUBLE) / mu.n),
                                   8)
                             AS DECIMAL(38,8))) AS DOUBLE) AS sad
        FROM v, mu GROUP BY mu.n, mu.s
    )
    SELECT n AS n_orders,
           round(1.0 - (shalf / n) * (shalf / n), 6) + 0.0
               AS atkinson_eps05,
           round(1.0 - exp(slog / n), 6) + 0.0 AS atkinson_eps1,
           round(1.0 - 1.0 / (sinv / n), 6) + 0.0 AS atkinson_eps2,
           round(sad / (2.0 * n), 6) + 0.0 AS hoover_index
    FROM f
    """,
)
def atkinson_inequality_panel(spark, sf_dir):
    """Atkinson inequality indices at the three closed-form aversion
    levels — eps = 0.5 (sqrt member), eps = 1 (geometric-mean member,
    the single exp/ln pair), eps = 2 (harmonic-mean member, purely
    rational) — plus the Hoover/Robin-Hood index (half the relative
    mean absolute deviation: the share of total value that must move
    to equalize). The welfare-theoretic complements to the registry's
    Gini/Theil/Lorenz set: each Atkinson level states HOW MUCH the
    society (or: budget allocator) dislikes the observed tail
    concentration. Ratios x/mu are exact-integer-scaled; per-row
    terms round at 1e-8 before DECIMAL folds; eps = 1's terminal exp
    follows the post-ln rounding device. Plan: one scan, one scalar
    fold."""
    o = t(spark, sf_dir, "orders")
    v = o.select(
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("x")
    )
    mu = v.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    j = v.crossJoin(F.broadcast(mu))
    ratio = F.col("x") * 1.0 * F.col("n") / F.col("s")
    mud = F.col("s").cast("double") / F.col("n")

    def fold8(expr):
        return (
            F.sum(F.round(expr, 8).cast("decimal(38,8)"))
            .cast("double")
        )

    f = j.groupBy("n", "s").agg(
        fold8(F.sqrt(ratio)).alias("shalf"),
        fold8(F.log(ratio)).alias("slog"),
        fold8(mud / F.col("x")).alias("sinv"),
        fold8(F.abs(F.col("x") - mud) / mud).alias("sad"),
    )
    n = F.col("n")
    return f.select(
        n.alias("n_orders"),
        (
            F.round(
                1.0 - (F.col("shalf") / n) * (F.col("shalf") / n), 6
            )
            + 0.0
        ).alias("atkinson_eps05"),
        (F.round(1.0 - F.exp(F.col("slog") / n), 6) + 0.0).alias(
            "atkinson_eps1"
        ),
        (F.round(1.0 - 1.0 / (F.col("sinv") / n), 6) + 0.0).alias(
            "atkinson_eps2"
        ),
        (F.round(F.col("sad") / (2.0 * n), 6) + 0.0).alias(
            "hoover_index"
        ),
    )


# --------------------------------------------------------------------------
# Duncan dissimilarity (segregation) of urgent vs routine order flow
# --------------------------------------------------------------------------
@register(
    "duncan_segregation_index",
    oracle="""
    WITH o AS (
        SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END AS urgent,
               c.c_nationkey AS nk
        FROM orders JOIN customer c ON o_custkey = c.c_custkey
    ),
    bynat AS (
        SELECT n.n_regionkey AS rk, o.nk,
               CAST(SUM(urgent) AS BIGINT) AS a,
               CAST(SUM(1 - urgent) AS BIGINT) AS b
        FROM o JOIN nation n ON o.nk = n.n_nationkey
        GROUP BY n.n_regionkey, o.nk
    ),
    tot AS (
        SELECT CAST(SUM(a) AS BIGINT) AS ta,
               CAST(SUM(b) AS BIGINT) AS tb
        FROM bynat
    ),
    dn AS (
        SELECT round(SUM(CAST(round(abs(g.a * 1.0 / t.ta
                                       - g.b * 1.0 / t.tb), 8)
                              AS DECIMAL(38,8))) / 2.0, 6)
                   AS d_nation
        FROM bynat g, tot t GROUP BY t.ta, t.tb
    ),
    dr AS (
        SELECT round(SUM(CAST(round(abs(g.a * 1.0 / t.ta
                                       - g.b * 1.0 / t.tb), 8)
                              AS DECIMAL(38,8))) / 2.0, 6)
                   AS d_region
        FROM (SELECT rk, CAST(SUM(a) AS BIGINT) AS a,
                     CAST(SUM(b) AS BIGINT) AS b
              FROM bynat GROUP BY rk) g,
             tot t
        GROUP BY t.ta, t.tb
    )
    SELECT t.ta AS n_urgent, t.tb AS n_routine,
           CAST(dn.d_nation AS DOUBLE) + 0.0 AS duncan_d_nation,
           CAST(dr.d_region AS DOUBLE) + 0.0 AS duncan_d_region
    FROM tot t, dn, dr
    """,
)
def duncan_segregation_index(spark, sf_dir):
    """Duncan-Duncan dissimilarity index of urgent (1-URGENT/2-HIGH)
    vs routine order flow across geography, at both the nation (25
    units) and region (5 units) grain: D = half the L1 distance
    between the two flows' spatial distributions = the share of
    urgent orders that would have to relocate to equalize. The
    classic segregation/imbalance measure — for a pipeline, the
    drift detector between two populations' routing distributions.
    Shares are exact-count ratios; absolute gaps round at 1e-8 into
    DECIMAL folds over the bounded geography domains; the region
    grain re-aggregates the SAME nation rollup (one fact-table
    pass). Plan: one broadcast-dim join + nation rollup, two
    domain-bounded folds."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    base = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            o.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                n.select("n_nationkey", "n_regionkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.when(
                F.col("o_orderpriority").isin(
                    "1-URGENT", "2-HIGH"
                ),
                1,
            )
            .otherwise(0)
            .alias("urgent"),
            F.col("n_regionkey").alias("rk"),
            F.col("c_nationkey").alias("nk"),
        )
    )
    bynat = base.groupBy("rk", "nk").agg(
        F.sum("urgent").cast("bigint").alias("a"),
        F.sum(1 - F.col("urgent")).cast("bigint").alias("b"),
    )
    tot = bynat.agg(
        F.sum("a").cast("bigint").alias("ta"),
        F.sum("b").cast("bigint").alias("tb"),
    )

    def dindex(df):
        gap = F.abs(
            F.col("a") * 1.0 / F.col("ta")
            - F.col("b") * 1.0 / F.col("tb")
        )
        return (
            df.crossJoin(F.broadcast(tot))
            .groupBy("ta", "tb")
            .agg(
                F.round(
                    F.sum(
                        F.round(gap, 8).cast("decimal(38,8)")
                    )
                    / 2.0,
                    6,
                ).alias("d")
            )
        )

    dn = dindex(bynat).select(F.col("d").alias("dn"))
    byreg = bynat.groupBy("rk").agg(
        F.sum("a").cast("bigint").alias("a"),
        F.sum("b").cast("bigint").alias("b"),
    )
    dr = dindex(byreg).select(F.col("d").alias("dr"))
    return (
        tot.crossJoin(F.broadcast(dn))
        .crossJoin(F.broadcast(dr))
        .select(
            F.col("ta").alias("n_urgent"),
            F.col("tb").alias("n_routine"),
            (F.col("dn").cast("double") + 0.0).alias(
                "duncan_d_nation"
            ),
            (F.col("dr").cast("double") + 0.0).alias(
                "duncan_d_region"
            ),
        )
    )


# --------------------------------------------------------------------------
# Location quotients of priority-class revenue concentration by region
# --------------------------------------------------------------------------
@register(
    "location_quotient_regions",
    oracle="""
    WITH f AS (
        SELECT r.r_name AS region, o.o_orderpriority AS seg,
               CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2))
                             * 100 AS BIGINT)) AS BIGINT) AS rev
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, o.o_orderpriority
    ),
    rt AS (SELECT region, CAST(SUM(rev) AS BIGINT) AS rr
           FROM f GROUP BY region),
    st AS (SELECT seg, CAST(SUM(rev) AS BIGINT) AS sr
           FROM f GROUP BY seg),
    tt AS (SELECT CAST(SUM(rev) AS BIGINT) AS tr FROM f)
    SELECT f.region, f.seg,
           round(f.rev / 100.0, 2) AS revenue,
           round((f.rev * 1.0 / rt.rr) / (st.sr * 1.0 / tt.tr), 6)
               AS location_quotient
    FROM f, rt, st, tt
    WHERE f.region = rt.region AND f.seg = st.seg
    ORDER BY f.region, f.seg
    """,
)
def location_quotient_regions(spark, sf_dir):
    """Location quotient of each order-priority class's revenue in
    each region: LQ = (regional class share) / (global class share) —
    LQ > 1 marks a region over-indexing on a priority class. The
    regional-economics specialization measure; for a corpus pipeline,
    the per-shard topic-concentration diagnostic. Revenue sums are
    exact cents BIGINTs; LQ is one terminal rational expression over
    the bounded 25-cell (region x priority) frame. Plan: three
    broadcast-dim joins, one rollup, three bounded marginal
    attaches."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    f = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            o.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(n.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(r.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("o_orderpriority").alias("seg"),
        )
        .agg(
            F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev")
        )
    )
    rt = f.groupBy("region").agg(
        F.sum("rev").cast("bigint").alias("rr")
    )
    st = f.groupBy("seg").agg(
        F.sum("rev").cast("bigint").alias("sr")
    )
    tt = f.agg(F.sum("rev").cast("bigint").alias("tr"))
    return (
        f.join(F.broadcast(rt), "region")
        .join(F.broadcast(st), "seg")
        .crossJoin(F.broadcast(tt))
        .select(
            "region",
            "seg",
            F.round(F.col("rev") / 100.0, 2).alias("revenue"),
            F.round(
                (F.col("rev") * 1.0 / F.col("rr"))
                / (F.col("sr") * 1.0 / F.col("tr")),
                6,
            ).alias("location_quotient"),
        )
        .orderBy("region", "seg")
    )


# --------------------------------------------------------------------------
# Shift-share decomposition of half-to-half revenue growth by region
# --------------------------------------------------------------------------
@register(
    "shift_share_decomposition",
    oracle="""
    WITH o AS (
        SELECT r.r_name AS region, o.o_orderpriority AS seg,
               CAST(epoch_us(o.o_orderdate) // 86400000000
                    AS BIGINT) AS day,
               CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS rev
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
    ),
    split AS (
        SELECT CAST(floor(quantile_cont(day, 0.5)) AS BIGINT) AS mid
        FROM (SELECT DISTINCT day FROM o)
    ),
    cell AS (
        SELECT region, seg,
               CAST(SUM(CASE WHEN day <= s.mid THEN rev ELSE 0 END)
                    AS BIGINT) AS base,
               CAST(SUM(CASE WHEN day > s.mid THEN rev ELSE 0 END)
                    AS BIGINT) AS cur
        FROM o, split s GROUP BY region, seg
    ),
    segg AS (
        SELECT seg,
               CAST(SUM(base) AS BIGINT) AS sb,
               CAST(SUM(cur) AS BIGINT) AS sc
        FROM cell GROUP BY seg
    ),
    nat AS (
        SELECT CAST(SUM(base) AS BIGINT) AS nb,
               CAST(SUM(cur) AS BIGINT) AS nc
        FROM cell
    )
    SELECT c.region,
           round(SUM(c.base) / 100.0, 2) AS base_revenue,
           round(SUM(c.cur - c.base) / 100.0, 2) AS total_change,
           round(CAST(SUM(CAST(round(
               c.base * (n.nc * 1.0 / n.nb - 1.0), 4)
               AS DECIMAL(38,4))) AS DOUBLE) / 100.0, 2) + 0.0
               AS national_share,
           round(CAST(SUM(CAST(round(
               c.base * (g.sc * 1.0 / g.sb - n.nc * 1.0 / n.nb), 4)
               AS DECIMAL(38,4))) AS DOUBLE) / 100.0, 2) + 0.0
               AS industry_mix,
           round(CAST(SUM(CAST(round(
               c.base * (c.cur * 1.0 / c.base - g.sc * 1.0 / g.sb),
               4) AS DECIMAL(38,4))) AS DOUBLE) / 100.0, 2) + 0.0
               AS competitive_shift
    FROM cell c, segg g, nat n
    WHERE c.seg = g.seg AND c.base > 0
    GROUP BY c.region
    ORDER BY c.region
    """,
)
def shift_share_decomposition(spark, sf_dir):
    """Shift-share decomposition of each region's half-to-half
    revenue growth into national-share (the growth it would have had
    at the economy-wide rate), industry-mix (its priority-class
    composition's deviation from that rate), and competitive-shift
    (the region's own out/under-performance within classes) — the
    three terms sum to the actual change by construction. The
    regional-growth attribution standard; for a pipeline, the
    source x segment drift attribution between two time windows.
    Revenue is exact cents; growth-rate products round at 1e-4
    before DECIMAL folds over the bounded 25-cell frame. Plan: three
    broadcast-dim joins, one split rollup, bounded marginal joins,
    5-row output."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    base = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            o.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(n.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(r.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            F.col("r_name").alias("region"),
            F.col("o_orderpriority").alias("seg"),
            F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
            .cast("bigint")
            .alias("day"),
            (dec("o_totalprice", 18, 2) * 100)
            .cast("bigint")
            .alias("rev"),
        )
    )
    split = (
        base.select("day")
        .distinct()
        .agg(
            F.floor(F.expr("percentile(day, 0.5)"))
            .cast("bigint")
            .alias("mid")
        )
    )
    cell = (
        base.crossJoin(F.broadcast(split))
        .groupBy("region", "seg")
        .agg(
            F.sum(
                F.when(F.col("day") <= F.col("mid"), F.col("rev"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("base"),
            F.sum(
                F.when(F.col("day") > F.col("mid"), F.col("rev"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("cur"),
        )
    )
    segg = cell.groupBy("seg").agg(
        F.sum("base").cast("bigint").alias("sb"),
        F.sum("cur").cast("bigint").alias("sc"),
    )
    nat = cell.agg(
        F.sum("base").cast("bigint").alias("nb"),
        F.sum("cur").cast("bigint").alias("nc"),
    )
    j = (
        cell.where(F.col("base") > 0)
        .join(F.broadcast(segg), "seg")
        .crossJoin(F.broadcast(nat))
    )
    gnat = F.col("nc") * 1.0 / F.col("nb")
    gseg = F.col("sc") * 1.0 / F.col("sb")
    gcell = F.col("cur") * 1.0 / F.col("base")

    def fold4(expr):
        return (
            F.sum(F.round(expr, 4).cast("decimal(38,4)"))
            .cast("double")
        )

    return (
        j.groupBy("region")
        .agg(
            F.round(F.sum("base") / 100.0, 2).alias("base_revenue"),
            F.round(
                F.sum(F.col("cur") - F.col("base")) / 100.0, 2
            ).alias("total_change"),
            (
                F.round(
                    fold4(F.col("base") * (gnat - 1.0)) / 100.0, 2
                )
                + 0.0
            ).alias("national_share"),
            (
                F.round(
                    fold4(F.col("base") * (gseg - gnat)) / 100.0, 2
                )
                + 0.0
            ).alias("industry_mix"),
            (
                F.round(
                    fold4(F.col("base") * (gcell - gseg)) / 100.0, 2
                )
                + 0.0
            ).alias("competitive_shift"),
        )
        .orderBy("region")
    )


# --------------------------------------------------------------------------
# Little's law audit on 30-minute-gap sessions
# --------------------------------------------------------------------------
@register(
    "littles_law_audit",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
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
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    ),
    sess AS (
        SELECT user_id, session_id,
               CAST(epoch_us(MIN(ts)) AS BIGINT) AS s0,
               CAST(epoch_us(MAX(ts)) AS BIGINT) AS s1
        FROM grouped GROUP BY user_id, session_id
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS ns,
               CAST(SUM(s1 - s0) AS BIGINT) AS busy_us,
               CAST(MAX(s1) - MIN(s0) AS BIGINT) AS span_us,
               CAST(SUM(s1 // 86400000000 - s0 // 86400000000)
                    AS BIGINT) AS crossings,
               CAST(MAX(s1) // 86400000000
                    - MIN(s0) // 86400000000 AS BIGINT) AS n_ticks
        FROM sess
    )
    SELECT ns AS n_sessions,
           round(ns * 86400000000.0 / span_us, 6) AS lambda_per_day,
           round(busy_us / 60000000.0 / ns, 6) AS w_mean_minutes,
           round(busy_us * 1.0 / span_us, 8) AS l_time_avg,
           round(crossings * 1.0 / n_ticks, 8) AS l_midnight_sampled
    FROM agg
    """,
)
def littles_law_audit(spark, sf_dir):
    """Little's law audit on the registry's standard 30-minute-gap
    sessions: arrival rate lambda (sessions/day over the observation
    span), mean session duration W, the time-average concurrency L =
    total busy time / span (which equals lambda*W exactly — Little's
    identity in its integral form), and an INDEPENDENT midnight-
    sampled concurrency estimate (sessions straddling each midnight
    tick / number of ticks). The gap between l_time_avg and
    l_midnight_sampled measures intraday non-stationarity — how far
    the queueing steady-state assumption is from holding, which is
    what capacity planning actually needs to know. All quantities
    are exact integer-microsecond ratios. Plan: the standard
    session lag/cumsum pass, one session rollup, one scalar fold."""
    e = t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(wu)
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            prev.isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(prev)
                > 1_800_000_000
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
        .over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("session_id"),
    )
    sess = grouped.groupBy("user_id", "session_id").agg(
        F.unix_micros(F.min("ts")).cast("bigint").alias("s0"),
        F.unix_micros(F.max("ts")).cast("bigint").alias("s1"),
    )
    agg = sess.agg(
        F.count(F.lit(1)).cast("bigint").alias("ns"),
        F.sum(F.col("s1") - F.col("s0"))
        .cast("bigint")
        .alias("busy_us"),
        (F.max("s1") - F.min("s0")).cast("bigint").alias("span_us"),
        F.sum(
            F.floor(F.col("s1") / 86_400_000_000)
            - F.floor(F.col("s0") / 86_400_000_000)
        )
        .cast("bigint")
        .alias("crossings"),
        (
            F.floor(F.max("s1") / 86_400_000_000)
            - F.floor(F.min("s0") / 86_400_000_000)
        )
        .cast("bigint")
        .alias("n_ticks"),
    )
    return agg.select(
        F.col("ns").alias("n_sessions"),
        F.round(
            F.col("ns") * 86_400_000_000.0 / F.col("span_us"), 6
        ).alias("lambda_per_day"),
        F.round(
            F.col("busy_us") / 60_000_000.0 / F.col("ns"), 6
        ).alias("w_mean_minutes"),
        F.round(
            F.col("busy_us") * 1.0 / F.col("span_us"), 8
        ).alias("l_time_avg"),
        F.round(
            F.col("crossings") * 1.0 / F.col("n_ticks"), 8
        ).alias("l_midnight_sampled"),
    )


# --------------------------------------------------------------------------
# Moran's I spatial autocorrelation of nation-mean account balances
# (region-block contiguity weights)
# --------------------------------------------------------------------------
_NATZ_SQL = """
    natz AS (
        SELECT c_nationkey AS nk,
               n.n_regionkey AS rk,
               round(CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2))
                                   * 100 AS BIGINT)) AS DOUBLE)
                     / COUNT(*) / 100.0, 6) AS z
        FROM customer JOIN nation n ON c_nationkey = n.n_nationkey
        GROUP BY c_nationkey, n.n_regionkey
    )
"""


def _natz(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        c.join(
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
                    (dec("c_acctbal", 18, 2) * 100).cast("bigint")
                ).cast("double")
                / F.count(F.lit(1))
                / 100.0,
                6,
            ).alias("z")
        )
    )


@register(
    "morans_i_nations",
    oracle=f"""
    WITH {_NATZ_SQL},
    mu AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(z AS DECIMAL(38,6))) AS DOUBLE)
                   / COUNT(*) AS zbar
        FROM natz
    ),
    dev AS (
        SELECT nk, rk, round(z - mu.zbar, 6) AS d FROM natz, mu
    ),
    cross_ AS (
        SELECT CAST(SUM(CASE WHEN a.nk <> b.nk
                        THEN round(a.d * b.d, 6) ELSE 0 END)
                    AS DOUBLE) AS num,
               CAST(SUM(CASE WHEN a.nk <> b.nk THEN 1 ELSE 0 END)
                    AS BIGINT) AS s0
        FROM dev a JOIN dev b ON a.rk = b.rk
    ),
    deg AS (
        SELECT CAST(SUM(CAST(k * k AS BIGINT)) AS BIGINT) AS sdeg2
        FROM (SELECT CAST(COUNT(*) - 1 AS BIGINT) AS k
              FROM natz a JOIN natz b ON a.rk = b.rk
              GROUP BY a.nk) q
    ),
    den AS (
        SELECT CAST(SUM(CAST(round(d * d, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS ss
        FROM dev
    )
    SELECT mu.n AS n_nations,
           round(mu.n * c.num / (c.s0 * d.ss), 6) + 0.0 AS morans_i,
           round(-1.0 / (mu.n - 1), 6) AS expected_i,
           round((mu.n * c.num / (c.s0 * d.ss) + 1.0 / (mu.n - 1))
                 / sqrt((mu.n * 1.0 * mu.n * (2.0 * c.s0)
                         - mu.n * 4.0 * g.sdeg2
                         + 3.0 * c.s0 * c.s0)
                        / ((mu.n * 1.0 * mu.n - 1.0) * c.s0 * c.s0)
                        - 1.0 / ((mu.n - 1.0) * (mu.n - 1.0))),
                 6) + 0.0 AS z_score
    FROM mu, cross_ c, den d, deg g
    """,
)
def morans_i_nations(spark, sf_dir):
    """Moran's I spatial autocorrelation of nation-level mean customer
    account balances under region-block contiguity weights (w_ij = 1
    iff nations i != j share a region): do rich-balance nations
    cluster within regions? Includes the exact normality null moments
    — E[I] = -1/(n-1) and the S0/S1/S2 variance (for binary symmetric
    block weights S1 = 2*S0 and S2 = 4*sum(deg^2), folded in
    exactly) — giving a z-score, the standard first screen before
    any spatial model. The weight graph is the bounded 25-node
    region-block union; every join is domain-sized. Plan: one
    customer rollup to nations, block self-join, three scalar
    folds."""
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
    )
    a = dev.select(
        F.col("nk").alias("ank"),
        F.col("rk").alias("ark"),
        F.col("d").alias("ad"),
    )
    b = dev.select(
        F.col("nk").alias("bnk"),
        F.col("rk").alias("brk"),
        F.col("d").alias("bd"),
    )
    cross = (
        a.join(F.broadcast(b), F.col("ark") == F.col("brk"))
        .agg(
            F.sum(
                F.when(
                    F.col("ank") != F.col("bnk"),
                    F.round(F.col("ad") * F.col("bd"), 6),
                ).otherwise(0.0)
            )
            .cast("double")
            .alias("num"),
            F.sum(
                F.when(F.col("ank") != F.col("bnk"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("s0"),
        )
    )
    deg = (
        a.join(F.broadcast(b), F.col("ark") == F.col("brk"))
        .groupBy("ank")
        .agg((F.count(F.lit(1)) - 1).cast("bigint").alias("k"))
        .agg(
            F.sum(F.col("k") * F.col("k"))
            .cast("bigint")
            .alias("sdeg2")
        )
    )
    den = dev.agg(
        F.sum(
            F.round(F.col("d") * F.col("d"), 6).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("ss")
    )
    out = (
        mu.crossJoin(F.broadcast(cross))
        .crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(deg))
    )
    n = F.col("n")
    i_stat = n * F.col("num") / (F.col("s0") * F.col("ss"))
    ei = -1.0 / (n - 1)
    vari = (
        n * 1.0 * n * (2.0 * F.col("s0"))
        - n * 4.0 * F.col("sdeg2")
        + 3.0 * F.col("s0") * F.col("s0")
    ) / ((n * 1.0 * n - 1.0) * F.col("s0") * F.col("s0")) - 1.0 / (
        (n - 1.0) * (n - 1.0)
    )
    return out.select(
        n.alias("n_nations"),
        (F.round(i_stat, 6) + 0.0).alias("morans_i"),
        F.round(ei, 6).alias("expected_i"),
        (F.round((i_stat - ei) / F.sqrt(vari), 6) + 0.0).alias(
            "z_score"
        ),
    )


# --------------------------------------------------------------------------
# Geary's C (local-contrast companion to Moran's I)
# --------------------------------------------------------------------------
@register(
    "geary_c_nations",
    oracle=f"""
    WITH {_NATZ_SQL},
    mu AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(z AS DECIMAL(38,6))) AS DOUBLE)
                   / COUNT(*) AS zbar
        FROM natz
    ),
    pair AS (
        SELECT CAST(SUM(CASE WHEN a.nk <> b.nk
                        THEN round((a.z - b.z) * (a.z - b.z), 6)
                        ELSE 0 END) AS DOUBLE) AS sq,
               CAST(SUM(CASE WHEN a.nk <> b.nk THEN 1 ELSE 0 END)
                    AS BIGINT) AS s0
        FROM natz a JOIN natz b ON a.rk = b.rk
    ),
    den AS (
        SELECT CAST(SUM(CAST(round((natz.z - mu.zbar)
                                   * (natz.z - mu.zbar), 6)
                             AS DECIMAL(38,6))) AS DOUBLE) AS ss
        FROM natz, mu
    )
    SELECT mu.n AS n_nations,
           round((mu.n - 1.0) * p.sq / (2.0 * p.s0 * d.ss), 6)
               + 0.0 AS gearys_c,
           1.0 AS expected_c,
           CAST(CASE WHEN (mu.n - 1.0) * p.sq
                          / (2.0 * p.s0 * d.ss) < 1.0
                THEN 1 ELSE 0 END AS BIGINT)
               AS positive_autocorrelation
    FROM mu, pair p, den d
    """,
)
def geary_c_nations(spark, sf_dir):
    """Geary's C on the same nation-balance surface and region-block
    weights as morans_i_nations: C = (n-1) sum w_ij (z_i-z_j)^2 /
    (2 S0 sum (z_i-zbar)^2). Where Moran's I is a global
    cross-product (dominated by large deviations pairing up), Geary's
    C is a LOCAL squared-contrast measure — more sensitive to
    neighborhood-scale heterogeneity; C < 1 marks positive spatial
    autocorrelation. Running both is the standard practice because
    they disagree exactly when the spatial pattern is scale-mixed.
    Same bounded 25-node block graph, exact rounded folds. Plan: one
    customer rollup, block self-join, two scalar folds."""
    natz = _natz(spark, sf_dir)
    mu = natz.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.sum(F.col("z").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("zbar"),
    )
    a = natz.select(
        F.col("nk").alias("ank"),
        F.col("rk").alias("ark"),
        F.col("z").alias("az"),
    )
    b = natz.select(
        F.col("nk").alias("bnk"),
        F.col("rk").alias("brk"),
        F.col("z").alias("bz"),
    )
    pair = (
        a.join(F.broadcast(b), F.col("ark") == F.col("brk"))
        .agg(
            F.sum(
                F.when(
                    F.col("ank") != F.col("bnk"),
                    F.round(
                        (F.col("az") - F.col("bz"))
                        * (F.col("az") - F.col("bz")),
                        6,
                    ),
                ).otherwise(0.0)
            )
            .cast("double")
            .alias("sq"),
            F.sum(
                F.when(F.col("ank") != F.col("bnk"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("s0"),
        )
    )
    den = (
        natz.crossJoin(F.broadcast(mu))
        .agg(
            F.sum(
                F.round(
                    (F.col("z") - F.col("zbar"))
                    * (F.col("z") - F.col("zbar")),
                    6,
                ).cast("decimal(38,6)")
            )
            .cast("double")
            .alias("ss")
        )
    )
    out = (
        mu.crossJoin(F.broadcast(pair)).crossJoin(F.broadcast(den))
    )
    cstat = (
        (F.col("n") - 1.0)
        * F.col("sq")
        / (2.0 * F.col("s0") * F.col("ss"))
    )
    return out.select(
        F.col("n").alias("n_nations"),
        (F.round(cstat, 6) + 0.0).alias("gearys_c"),
        F.lit(1.0).alias("expected_c"),
        F.when(cstat < 1.0, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("positive_autocorrelation"),
    )


# --------------------------------------------------------------------------
# Two-cycle IPF raking of the weekday x type table to uniform margins
# --------------------------------------------------------------------------
@register(
    "raking_ipf_margins",
    oracle="""
    WITH cell AS (
        SELECT CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT)
                   AS dow,
               event_type AS ty,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cell),
    w1 AS (  -- cycle 1, row fit to N/7
        SELECT c.dow, c.ty, c.n,
               round(c.n * (t.nn / 7.0)
                     / SUM(c.n) OVER (PARTITION BY c.dow), 6) AS w
        FROM cell c, tot t
    ),
    w2 AS (  -- cycle 1, column fit to N/5
        SELECT w1.dow, w1.ty, w1.n,
               round(w1.w * (t.nn / 5.0)
                     / SUM(w1.w) OVER (PARTITION BY w1.ty), 6) AS w
        FROM w1, tot t
    ),
    w3 AS (  -- cycle 2, row fit
        SELECT w2.dow, w2.ty, w2.n,
               round(w2.w * (t.nn / 7.0)
                     / SUM(w2.w) OVER (PARTITION BY w2.dow), 6) AS w
        FROM w2, tot t
    ),
    w4 AS (  -- cycle 2, column fit
        SELECT w3.dow, w3.ty, w3.n,
               round(w3.w * (t.nn / 5.0)
                     / SUM(w3.w) OVER (PARTITION BY w3.ty), 6) AS w
        FROM w3, tot t
    )
    SELECT dow, ty, n AS n_obs,
           round(w, 4) AS raked_weight,
           round(w / n, 6) AS weight_ratio
    FROM w4 ORDER BY dow, ty
    """,
)
def raking_ipf_margins(spark, sf_dir):
    """Two full IPF (raking) cycles adjusting the weekday x type
    contingency to UNIFORM target margins (N/7 per weekday, N/5 per
    type): the post-stratification weighting step every survey/
    training-data pipeline runs to undo collection-time imbalance
    when only margins are known. Each of the four scaling passes is
    a window-normalized rational product rounded at 1e-6 — a FIXED
    iteration count, so the whole plan is a static four-stage
    dataflow (no driver loop), and both engines replay the identical
    rounded trajectory. The per-cell weight_ratio is the design
    factor a downstream variance estimate needs. All windows
    partition the bounded 35-cell frame. Plan: one contingency
    rollup, four bounded window-scaling passes."""
    e = t(spark, sf_dir, "events")
    cell = e.groupBy(
        ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7)
        .cast("bigint")
        .alias("dow"),
        F.col("event_type").alias("ty"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = cell.agg(F.sum("n").cast("bigint").alias("nn"))
    base = cell.crossJoin(F.broadcast(tot))
    wd = Window.partitionBy("dow")
    wt = Window.partitionBy("ty")
    w = F.col("n") * 1.0
    w = F.round(
        F.col("n") * (F.col("nn") / 7.0) / F.sum("n").over(wd), 6
    )
    step1 = base.select("dow", "ty", "n", "nn", w.alias("w"))
    step2 = step1.select(
        "dow",
        "ty",
        "n",
        "nn",
        F.round(
            F.col("w") * (F.col("nn") / 5.0) / F.sum("w").over(wt), 6
        ).alias("w"),
    )
    step3 = step2.select(
        "dow",
        "ty",
        "n",
        "nn",
        F.round(
            F.col("w") * (F.col("nn") / 7.0) / F.sum("w").over(wd), 6
        ).alias("w"),
    )
    step4 = step3.select(
        "dow",
        "ty",
        "n",
        F.round(
            F.col("w") * (F.col("nn") / 5.0) / F.sum("w").over(wt), 6
        ).alias("w"),
    )
    return step4.select(
        "dow",
        "ty",
        F.col("n").alias("n_obs"),
        F.round(F.col("w"), 4).alias("raked_weight"),
        F.round(F.col("w") / F.col("n"), 6).alias("weight_ratio"),
    ).orderBy("dow", "ty")


# --------------------------------------------------------------------------
# Wilson / Agresti-Coull / Wald interval panel for regional urgent-order rates
# --------------------------------------------------------------------------
@register(
    "wilson_agresti_coull_panel",
    oracle="""
    WITH f AS (
        SELECT r.r_name AS region,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN o.o_orderpriority IN
                            ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS k
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation nt ON c.c_nationkey = nt.n_nationkey
        JOIN region r ON nt.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    )
    SELECT region, n, k,
           round(k * 1.0 / n, 6) AS p_hat,
           round(k * 1.0 / n - 1.96 * sqrt(k * 1.0 / n
                 * (1.0 - k * 1.0 / n) / n), 6) + 0.0 AS wald_lo,
           round(k * 1.0 / n + 1.96 * sqrt(k * 1.0 / n
                 * (1.0 - k * 1.0 / n) / n), 6) AS wald_hi,
           round((k * 1.0 / n + 1.96 * 1.96 / (2.0 * n)
                  - 1.96 * sqrt(k * 1.0 / n * (1.0 - k * 1.0 / n) / n
                                + 1.96 * 1.96 / (4.0 * n * n)))
                 / (1.0 + 1.96 * 1.96 / n), 6) + 0.0 AS wilson_lo,
           round((k * 1.0 / n + 1.96 * 1.96 / (2.0 * n)
                  + 1.96 * sqrt(k * 1.0 / n * (1.0 - k * 1.0 / n) / n
                                + 1.96 * 1.96 / (4.0 * n * n)))
                 / (1.0 + 1.96 * 1.96 / n), 6) AS wilson_hi,
           round((k + 1.96 * 1.96 / 2.0) / (n + 1.96 * 1.96)
                 - 1.96 * sqrt((k + 1.96 * 1.96 / 2.0)
                               / (n + 1.96 * 1.96)
                               * (1.0 - (k + 1.96 * 1.96 / 2.0)
                                  / (n + 1.96 * 1.96))
                               / (n + 1.96 * 1.96)), 6) + 0.0
               AS ac_lo,
           round((k + 1.96 * 1.96 / 2.0) / (n + 1.96 * 1.96)
                 + 1.96 * sqrt((k + 1.96 * 1.96 / 2.0)
                               / (n + 1.96 * 1.96)
                               * (1.0 - (k + 1.96 * 1.96 / 2.0)
                                  / (n + 1.96 * 1.96))
                               / (n + 1.96 * 1.96)), 6) AS ac_hi
    FROM f ORDER BY region
    """,
)
def wilson_agresti_coull_panel(spark, sf_dir):
    """Binomial confidence-interval panel for each region's
    urgent-order share: the Wald interval (the one that fails near
    the boundary), the Wilson score interval (the inversion that
    doesn't), and Agresti-Coull (Wilson's add-z^2/2-successes
    approximation) side by side at z = 1.96. Reporting all three is
    the standard robustness display; a pipeline alerting on rate
    thresholds should be gating on Wilson, and this panel shows by
    how much Wald would mislead it. Everything is closed-form
    rational/sqrt arithmetic from two BIGINT counts per region over
    the bounded 5-row frame. Plan: three broadcast-dim joins, one
    rollup, terminal expressions."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    nt = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    f = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            o.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nt.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(r.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(
                    F.col("o_orderpriority").isin(
                        "1-URGENT", "2-HIGH"
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("k"),
        )
    )
    n = F.col("n")
    k = F.col("k")
    p = k * 1.0 / n
    z = 1.96
    z2 = z * z
    wald_r = z * F.sqrt(p * (1.0 - p) / n)
    wil_c = (p + z2 / (2.0 * n)) / (1.0 + z2 / n)
    wil_r = (
        z
        * F.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
        / (1.0 + z2 / n)
    )
    pt = (k + z2 / 2.0) / (n + z2)
    ac_r = z * F.sqrt(pt * (1.0 - pt) / (n + z2))
    return f.select(
        "region",
        n,
        k,
        F.round(p, 6).alias("p_hat"),
        (F.round(p - wald_r, 6) + 0.0).alias("wald_lo"),
        F.round(p + wald_r, 6).alias("wald_hi"),
        (F.round(wil_c - wil_r, 6) + 0.0).alias("wilson_lo"),
        F.round(wil_c + wil_r, 6).alias("wilson_hi"),
        (F.round(pt - ac_r, 6) + 0.0).alias("ac_lo"),
        F.round(pt + ac_r, 6).alias("ac_hi"),
    ).orderBy("region")


# --------------------------------------------------------------------------
# Balanced repeated replication (Hadamard H8) variance of mean order value
# --------------------------------------------------------------------------
@register(
    "brr_hadamard_variance",
    oracle="""
    WITH v AS (
        SELECT o_custkey AS key,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS x,
               CAST((o_custkey * 2654435761) % 4294967296 % 7
                    AS BIGINT) AS s,
               CAST((o_custkey * 40503) % 4294967296 % 2
                    AS BIGINT) AS psu
        FROM orders
    ),
    kept AS (
        SELECT r.r AS rep, v.x
        FROM v, (SELECT UNNEST(range(0, 8)) AS r) r
        WHERE (bit_count(r.r & (v.s + 1)) % 2 = 0 AND v.psu = 0)
           OR (bit_count(r.r & (v.s + 1)) % 2 = 1 AND v.psu = 1)
    ),
    th AS (
        SELECT rep,
               round(CAST(SUM(x) AS DOUBLE) / COUNT(*) / 100.0, 6)
                   AS theta
        FROM kept GROUP BY rep
    ),
    full_ AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               round(CAST(SUM(x) AS DOUBLE) / COUNT(*) / 100.0, 6)
                   AS theta0
        FROM v
    )
    SELECT f.n AS n_orders,
           f.theta0 AS mean_order_value,
           round(sqrt(SUM(CAST(round((t.theta - f.theta0)
                                     * (t.theta - f.theta0), 8)
                               AS DECIMAL(38,8))) / 8.0), 6)
               AS brr_se,
           MIN(t.theta) AS replicate_min,
           MAX(t.theta) AS replicate_max
    FROM th t, full_ f
    GROUP BY f.n, f.theta0
    """,
)
def brr_hadamard_variance(spark, sf_dir):
    """Balanced repeated replication variance of the mean order
    value: customers hash (Knuth multiplicative, the registry's
    replayable-randomness device) into 7 strata x 2 half-sample
    PSUs; the 8 replicates select half-samples by the Sylvester H8
    Hadamard pattern, computed ARITHMETICALLY as the parity of
    bit_count(r AND (s+1)) — no sign table to transcribe, identical
    integer expression in both engines. BRR variance = mean squared
    replicate deviation (full-orthogonality means no Fay factor
    needed at 8 replicates for 7 strata). THE design-based variance
    machinery for cluster samples where no closed-form SE exists —
    here validated against a mean whose SE IS known. Plan: one scan
    with hash columns, 8x replicate explode via bounded range join,
    two rollups."""
    o = t(spark, sf_dir, "orders")
    v = o.select(
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("x"),
        ((F.col("o_custkey").cast("decimal(38,0)") * 2654435761)
         % 4294967296 % 7)
        .cast("bigint")
        .alias("s"),
        ((F.col("o_custkey").cast("decimal(38,0)") * 40503)
         % 4294967296 % 2)
        .cast("bigint")
        .alias("psu"),
    )
    reps = spark.range(8).select(F.col("id").alias("rep"))
    parity = F.bit_count(
        F.col("rep").bitwiseAND(F.col("s") + 1)
    ) % 2
    kept = (
        v.crossJoin(F.broadcast(reps))
        .where(
            ((parity == 0) & (F.col("psu") == 0))
            | ((parity == 1) & (F.col("psu") == 1))
        )
        .groupBy("rep")
        .agg(
            F.round(
                F.sum("x").cast("double")
                / F.count(F.lit(1))
                / 100.0,
                6,
            ).alias("theta")
        )
    )
    full = v.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum("x").cast("double") / F.count(F.lit(1)) / 100.0, 6
        ).alias("theta0"),
    )
    j = kept.crossJoin(F.broadcast(full))
    devsq = F.round(
        (F.col("theta") - F.col("theta0"))
        * (F.col("theta") - F.col("theta0")),
        8,
    )
    return j.groupBy("n", "theta0").agg(
        F.round(
            F.sqrt(
                F.sum(devsq.cast("decimal(38,8)")) / 8.0
            ),
            6,
        ).alias("brr_se"),
        F.min("theta").alias("replicate_min"),
        F.max("theta").alias("replicate_max"),
    ).select(
        F.col("n").alias("n_orders"),
        F.col("theta0").alias("mean_order_value"),
        "brr_se",
        "replicate_min",
        "replicate_max",
    )


# --------------------------------------------------------------------------
# Weibull shape/scale by Benard median-rank regression on inter-event gaps
# --------------------------------------------------------------------------
@register(
    "weibull_median_rank_fit",
    oracle="""
    WITH gaps AS (
        SELECT CAST((epoch_us(ts) - epoch_us(LAG(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)))
                   // 1000000 AS BIGINT) AS g
        FROM events
        QUALIFY g IS NOT NULL AND g > 0
    ),
    grid AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM gaps GROUP BY g
    ),
    cum AS (
        SELECT g, c,
               SUM(c) OVER (ORDER BY g ROWS UNBOUNDED PRECEDING)
                   AS hi,
               CAST(SUM(SUM(c)) OVER () AS BIGINT) AS n
        FROM grid GROUP BY g, c
    ),
    pts AS (
        SELECT c,
               round(ln(g), 8) AS x,
               round(ln(-ln(1.0 - ((hi - (c - 1) / 2.0) - 0.3)
                              / (n + 0.4))), 8) AS y
        FROM cum
    ),
    mo AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CAST(round(c * x, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sx,
               CAST(SUM(CAST(round(c * x * x, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sxx,
               CAST(SUM(CAST(round(c * y, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sy,
               CAST(SUM(CAST(round(c * y * y, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS syy,
               CAST(SUM(CAST(round(c * x * y, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sxy
        FROM pts
    )
    SELECT n AS n_gaps,
           round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6)
               AS weibull_shape,
           round(exp(-(sy / n - (sxy - sx * sy / n)
                       / (sxx - sx * sx / n) * sx / n)
                     / ((sxy - sx * sy / n) / (sxx - sx * sx / n)))
                 / 3600.0, 6) AS weibull_scale_hours,
           round((sxy - sx * sy / n) * (sxy - sx * sy / n)
                 / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 6)
               + 0.0 AS fit_r2
    FROM mo
    """,
)
def weibull_median_rank_fit(spark, sf_dir):
    """Weibull shape and scale for per-user inter-event gaps by
    Benard median-rank regression: grouped plotting positions F =
    (i_mid - 0.3)/(n + 0.4) on the distinct-gap-seconds grid (tied
    blocks use their midpoint rank — the grouped form of the classic
    reliability fit), then OLS of ln(-ln(1-F)) on ln(gap). Shape < 1
    marks bursty (decreasing-hazard) usage, > 1 wear-out-like
    regularity; scale converts to hours via the closed-form
    intercept. The reliability-engineering standard when MLE's
    iteration is unwanted — and a one-pass, grid-bounded plan: ranks
    come from ONE cumulative window over the value grid, never a
    per-observation sort. Post-ln terms round at 1e-8 before
    weighted DECIMAL folds. Plan: lag pass, value-grid rollup, one
    cumulative window, one scalar fold."""
    e = t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.select(
            F.floor(
                (
                    F.unix_micros("ts")
                    - F.unix_micros(F.lag("ts").over(wu))
                )
                / 1_000_000
            )
            .cast("bigint")
            .alias("g")
        )
        .where(F.col("g").isNotNull() & (F.col("g") > 0))
    )
    grid = gaps.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wcum = Window.orderBy("g").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy()
    cum = grid.select(
        "g",
        "c",
        F.sum("c").over(wcum).alias("hi"),
        F.sum("c").over(tot).cast("bigint").alias("n"),
    )
    fmid = (
        (F.col("hi") - (F.col("c") - 1) / 2.0) - 0.3
    ) / (F.col("n") + 0.4)
    pts = cum.select(
        "c",
        "n",
        F.round(F.log(F.col("g")), 8).alias("x"),
        F.round(F.log(-F.log(1.0 - fmid)), 8).alias("y"),
    )

    def fold8(expr):
        return (
            F.sum(F.round(expr, 8).cast("decimal(38,8)"))
            .cast("double")
        )

    mo = pts.agg(
        F.sum("c").cast("bigint").alias("n"),
        fold8(F.col("c") * F.col("x")).alias("sx"),
        fold8(F.col("c") * F.col("x") * F.col("x")).alias("sxx"),
        fold8(F.col("c") * F.col("y")).alias("sy"),
        fold8(F.col("c") * F.col("y") * F.col("y")).alias("syy"),
        fold8(F.col("c") * F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    sxc = F.col("sxy") - F.col("sx") * F.col("sy") / n
    sxxc = F.col("sxx") - F.col("sx") * F.col("sx") / n
    syyc = F.col("syy") - F.col("sy") * F.col("sy") / n
    slope = sxc / sxxc
    intercept = F.col("sy") / n - slope * F.col("sx") / n
    return mo.select(
        n.alias("n_gaps"),
        F.round(slope, 6).alias("weibull_shape"),
        F.round(F.exp(-intercept / slope) / 3600.0, 6).alias(
            "weibull_scale_hours"
        ),
        (F.round(sxc * sxc / (sxxc * syyc), 6) + 0.0).alias(
            "fit_r2"
        ),
    )


# --------------------------------------------------------------------------
# Allan variance of hourly event rates across dyadic averaging windows
# --------------------------------------------------------------------------
@register(
    "allan_variance_rates",
    oracle="""
    WITH hours AS (
        SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h
        FROM events
    ),
    span AS (
        SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hours
    ),
    grid AS (
        SELECT CAST(u.g AS BIGINT) AS h
        FROM span, LATERAL UNNEST(range(span.h0, span.h1 + 1))
             AS u(g)
    ),
    cnt AS (
        SELECT g.h - s.h0 AS i,
               CAST(COALESCE(c.k, 0) AS BIGINT) AS k
        FROM grid g
        LEFT JOIN (SELECT h, CAST(COUNT(*) AS BIGINT) AS k
                   FROM hours GROUP BY h) c ON c.h = g.h,
             span s
    ),
    ms AS (SELECT UNNEST([1, 2, 4, 8, 16]) AS m),
    blocks AS (
        SELECT ms.m, cnt.i // ms.m AS b,
               CAST(SUM(cnt.k) AS BIGINT) AS bk,
               CAST(COUNT(*) AS BIGINT) AS bn
        FROM cnt, ms GROUP BY ms.m, cnt.i // ms.m
    ),
    fullb AS (
        SELECT m, b, bk * 1.0 / bn AS ybar
        FROM blocks WHERE bn = m
    ),
    diffs AS (
        SELECT m,
               round((ybar - LAG(ybar) OVER (
                          PARTITION BY m ORDER BY b))
                     * (ybar - LAG(ybar) OVER (
                          PARTITION BY m ORDER BY b)), 8) AS d2
        FROM fullb
        QUALIFY LAG(ybar) OVER (PARTITION BY m ORDER BY b)
                IS NOT NULL
          AND b = 1 + LAG(b) OVER (PARTITION BY m ORDER BY b)
    ),
    av AS (
        SELECT m,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               round(CAST(SUM(CAST(d2 AS DECIMAL(38,8))) AS DOUBLE)
                     / (2.0 * COUNT(*)), 8) AS avar
        FROM diffs GROUP BY m
    )
    SELECT a.m AS m_hours, a.n_pairs,
           a.avar AS allan_variance,
           round(a.avar * a.m / a1.avar, 6) AS white_noise_ratio
    FROM av a, (SELECT avar FROM av WHERE m = 1) a1
    ORDER BY a.m
    """,
)
def allan_variance_rates(spark, sf_dir):
    """Allan variance of the hourly event-count rate at dyadic
    averaging windows m = 1..16 hours: AVAR(m) = mean squared
    adjacent-block-mean difference / 2, on the ZERO-FILLED hour grid
    (missing hours are real zero-rate observations). The clock-
    stability statistic repurposed as a rate-stability spectrum: for
    white (Poisson-like) noise AVAR scales as 1/m, so the
    white_noise_ratio column (normalized to m = 1) reads flat = 1
    under pure shot noise and rises where drift/flicker enters —
    pinpointing the timescale at which the arrival process stops
    being memoryless. Adjacent-pair diffs come from a lag window per
    m over the calendar-bounded block frame. Plan: hour rollup,
    bounded grid fill, 5-way block rollup, lag windows, final
    5-row join."""
    e = t(spark, sf_dir, "events")
    hours = e.select(
        F.floor(F.unix_micros("ts") / 3_600_000_000)
        .cast("bigint")
        .alias("h")
    )
    span = hours.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = span.select(
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"))
        ).alias("h"),
        "h0",
    )
    counts = hours.groupBy("h").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    cnt = (
        grid.join(counts, "h", "left")
        .select(
            (F.col("h") - F.col("h0")).alias("i"),
            F.coalesce(F.col("k"), F.lit(0))
            .cast("bigint")
            .alias("k"),
        )
    )
    ms = spark.range(5).select(
        F.expr("shiftleft(1, cast(id AS int))")
        .cast("bigint")
        .alias("m")
    )
    blocks = (
        cnt.crossJoin(F.broadcast(ms))
        .groupBy(
            "m",
            F.floor(F.col("i") / F.col("m")).cast("bigint").alias("b"),
        )
        .agg(
            F.sum("k").cast("bigint").alias("bk"),
            F.count(F.lit(1)).cast("bigint").alias("bn"),
        )
        .where(F.col("bn") == F.col("m"))
        .select("m", "b", (F.col("bk") * 1.0 / F.col("bn")).alias("ybar"))
    )
    wm = Window.partitionBy("m").orderBy("b")
    diffs = (
        blocks.select(
            "m",
            "b",
            F.lag("ybar").over(wm).alias("prev"),
            F.lag("b").over(wm).alias("pb"),
            "ybar",
        )
        .where(
            F.col("prev").isNotNull()
            & (F.col("b") == F.col("pb") + 1)
        )
        .select(
            "m",
            F.round(
                (F.col("ybar") - F.col("prev"))
                * (F.col("ybar") - F.col("prev")),
                8,
            ).alias("d2"),
        )
    )
    av = diffs.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(
            F.sum(F.col("d2").cast("decimal(38,8)")).cast("double")
            / (2.0 * F.count(F.lit(1))),
            8,
        ).alias("avar"),
    )
    a1 = av.where(F.col("m") == 1).select(
        F.col("avar").alias("avar1")
    )
    return (
        av.crossJoin(F.broadcast(a1))
        .select(
            F.col("m").cast("bigint").alias("m_hours"),
            "n_pairs",
            F.col("avar").alias("allan_variance"),
            F.round(
                F.col("avar") * F.col("m") / F.col("avar1"), 6
            ).alias("white_noise_ratio"),
        )
        .orderBy("m_hours")
    )


# --------------------------------------------------------------------------
# Rayleigh test of hour-of-day uniformity for purchases (literal 24-angle
# trig table ``common.COS24``/``SIN24`` — the _COS7/_SIN7 device at
# circadian resolution)
# --------------------------------------------------------------------------
@register(
    "rayleigh_circular_hours",
    oracle=f"""
    WITH h AS (
        SELECT CAST(epoch_us(ts) // 3600000000 % 24 AS BIGINT) AS hr,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    ),
    s AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CAST(round(c * {case_sql("hr", COS24)}, 8)
                             AS DECIMAL(38,8))) AS DOUBLE) AS cs,
               CAST(SUM(CAST(round(c * {case_sql("hr", SIN24)}, 8)
                             AS DECIMAL(38,8))) AS DOUBLE) AS ss
        FROM h
    )
    SELECT n AS n_purchases,
           round(sqrt(cs * cs + ss * ss) / n, 8) AS resultant_length,
           round((cs * cs + ss * ss) / n, 6) AS rayleigh_z,
           CAST(CASE WHEN (cs * cs + ss * ss) / n > 2.996
                THEN 1 ELSE 0 END AS BIGINT) AS rejects_uniformity
    FROM s
    """,
)
def rayleigh_circular_hours(spark, sf_dir):
    """Rayleigh test of circular uniformity for purchase hour-of-day:
    the mean resultant length R of the 24 hourly unit vectors
    (weighted by purchase counts) and z = n*R^2, against the 5%
    critical value -ln(0.05) = 2.996. The circular-statistics gate
    that catches diurnal concentration which a flat chi2 over hours
    underweights (it rewards ADJACENT-hour clustering, not just
    non-uniformity). Trig enters ONLY through the shared 10-dp
    24-angle literal table (the _COS7 device) — no libm trig in the
    data path; vector components fold exactly over the bounded
    24-row frame. Plan: one hour rollup, one 24-row fold."""
    e = t(spark, sf_dir, "events")
    h = (
        e.where(F.col("event_type") == "purchase")
        .groupBy(
            (F.floor(F.unix_micros("ts") / 3_600_000_000) % 24)
            .cast("bigint")
            .alias("hr")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    ck = F.lit(None).cast("double")
    sk = F.lit(None).cast("double")
    for k in range(23, -1, -1):
        ck = F.when(F.col("hr") == k, F.lit(COS24[k])).otherwise(ck)
        sk = F.when(F.col("hr") == k, F.lit(SIN24[k])).otherwise(sk)
    s = h.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.round(F.col("c") * ck, 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("cs"),
        F.sum(F.round(F.col("c") * sk, 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("ss"),
    )
    n = F.col("n")
    r2sum = F.col("cs") * F.col("cs") + F.col("ss") * F.col("ss")
    return s.select(
        n.alias("n_purchases"),
        F.round(F.sqrt(r2sum) / n, 8).alias("resultant_length"),
        F.round(r2sum / n, 6).alias("rayleigh_z"),
        F.when(r2sum / n > 2.996, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("rejects_uniformity"),
    )


# --------------------------------------------------------------------------
# ARR / RRR / NNT effect panel: weekend exposure vs error outcome
# --------------------------------------------------------------------------
@register(
    "arr_nnt_epidemiology_panel",
    oracle="""
    WITH b AS (
        SELECT CASE WHEN CAST((epoch_us(ts) // 86400000000 + 4) % 7
                        AS BIGINT) >= 5 THEN 1 ELSE 0 END AS exposed,
               CASE WHEN event_type = 'error' THEN 1 ELSE 0 END
                   AS outcome
        FROM events
    ),
    c AS (
        SELECT CAST(SUM(exposed) AS BIGINT) AS n1,
               CAST(SUM(1 - exposed) AS BIGINT) AS n0,
               CAST(SUM(exposed * outcome) AS BIGINT) AS k1,
               CAST(SUM((1 - exposed) * outcome) AS BIGINT) AS k0
        FROM b
    )
    SELECT n1 AS n_weekend, n0 AS n_weekday,
           round(k1 * 1.0 / n1, 6) AS risk_weekend,
           round(k0 * 1.0 / n0, 6) AS risk_weekday,
           round(k1 * 1.0 / n1 - k0 * 1.0 / n0, 6) + 0.0
               AS risk_difference,
           round((k1 * 1.0 / n1 - k0 * 1.0 / n0)
                 / (k0 * 1.0 / n0), 6) + 0.0 AS rrr,
           round(1.0 / abs(k1 * 1.0 / n1 - k0 * 1.0 / n0), 2)
               AS nnt,
           round((k1 * 1.0 / n1) / (k0 * 1.0 / n0), 6)
               AS relative_risk,
           round((k1 * 1.0 * (n0 - k0)) / (k0 * 1.0 * (n1 - k1)), 6)
               AS odds_ratio,
           round((k1 * 1.0 / n1 - k0 * 1.0 / n0)
                 - 1.96 * sqrt(k1 * 1.0 / n1 * (1.0 - k1 * 1.0 / n1)
                               / n1
                               + k0 * 1.0 / n0
                                 * (1.0 - k0 * 1.0 / n0) / n0), 6)
               + 0.0 AS rd_lo,
           round((k1 * 1.0 / n1 - k0 * 1.0 / n0)
                 + 1.96 * sqrt(k1 * 1.0 / n1 * (1.0 - k1 * 1.0 / n1)
                               / n1
                               + k0 * 1.0 / n0
                                 * (1.0 - k0 * 1.0 / n0) / n0), 6)
               + 0.0 AS rd_hi
    FROM c
    """,
)
def arr_nnt_epidemiology_panel(spark, sf_dir):
    """Absolute/relative effect panel for weekend exposure on error
    outcomes: risk difference (the 'ARR' when negative), relative
    risk reduction, number-needed-to-treat (1/|RD| — the
    decision-facing translation of a rate effect), relative risk,
    odds ratio, and the Wald CI on the risk difference. The
    epidemiology reporting battery applied to ops data: NNT answers
    'how many weekend events until one extra error', which a raw OR
    never communicates. Four BIGINT counts in, closed-form rational/
    sqrt expressions out. Plan: one scan, one scalar fold."""
    e = t(spark, sf_dir, "events")
    b = e.select(
        F.when(
            ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7)
            >= 5,
            1,
        )
        .otherwise(0)
        .alias("exposed"),
        F.when(F.col("event_type") == "error", 1)
        .otherwise(0)
        .alias("outcome"),
    )
    c = b.agg(
        F.sum("exposed").cast("bigint").alias("n1"),
        F.sum(1 - F.col("exposed")).cast("bigint").alias("n0"),
        F.sum(F.col("exposed") * F.col("outcome"))
        .cast("bigint")
        .alias("k1"),
        F.sum((1 - F.col("exposed")) * F.col("outcome"))
        .cast("bigint")
        .alias("k0"),
    )
    n1, n0, k1, k0 = (
        F.col("n1"),
        F.col("n0"),
        F.col("k1"),
        F.col("k0"),
    )
    r1 = k1 * 1.0 / n1
    r0 = k0 * 1.0 / n0
    rd = r1 - r0
    se = F.sqrt(r1 * (1.0 - r1) / n1 + r0 * (1.0 - r0) / n0)
    return c.select(
        n1.alias("n_weekend"),
        n0.alias("n_weekday"),
        F.round(r1, 6).alias("risk_weekend"),
        F.round(r0, 6).alias("risk_weekday"),
        (F.round(rd, 6) + 0.0).alias("risk_difference"),
        (F.round(rd / r0, 6) + 0.0).alias("rrr"),
        F.round(1.0 / F.abs(rd), 2).alias("nnt"),
        F.round(r1 / r0, 6).alias("relative_risk"),
        F.round(
            (k1 * 1.0 * (n0 - k0)) / (k0 * 1.0 * (n1 - k1)), 6
        ).alias("odds_ratio"),
        (F.round(rd - 1.96 * se, 6) + 0.0).alias("rd_lo"),
        (F.round(rd + 1.96 * se, 6) + 0.0).alias("rd_hi"),
    )


# --------------------------------------------------------------------------
# Diagnostic likelihood ratios for the length->language screen
# --------------------------------------------------------------------------
@register(
    "diagnostic_likelihood_ratios",
    oracle="""
    WITH med AS (
        SELECT CAST(floor(quantile_cont(n_chars, 0.5)) AS BIGINT)
                   AS m
        FROM documents
    ),
    lab AS (
        SELECT CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS cond,
               CASE WHEN d.n_chars > med.m THEN 1 ELSE 0 END AS pos
        FROM documents d, med
    ),
    c AS (
        SELECT CAST(SUM(cond * pos) AS BIGINT) AS tp,
               CAST(SUM(cond * (1 - pos)) AS BIGINT) AS fn,
               CAST(SUM((1 - cond) * pos) AS BIGINT) AS fp,
               CAST(SUM((1 - cond) * (1 - pos)) AS BIGINT) AS tn
        FROM lab
    )
    SELECT tp, fn, fp, tn,
           round(tp * 1.0 / (tp + fn), 6) AS sensitivity,
           round(tn * 1.0 / (tn + fp), 6) AS specificity,
           round((tp * 1.0 / (tp + fn))
                 / (1.0 - tn * 1.0 / (tn + fp)), 6) AS lr_positive,
           round((1.0 - tp * 1.0 / (tp + fn))
                 / (tn * 1.0 / (tn + fp)), 6) AS lr_negative,
           round((tp * 1.0 * tn) / (fp * 1.0 * fn), 6)
               AS diagnostic_or,
           round((tp + tn) * 1.0 / (tp + fn + fp + tn), 6)
               AS accuracy
    FROM c
    """,
)
def diagnostic_likelihood_ratios(spark, sf_dir):
    """Diagnostic likelihood ratios for the above-median-length
    screen as a predictor of English documents: sensitivity,
    specificity, LR+ = sens/(1-spec), LR- = (1-sens)/spec, and the
    diagnostic odds ratio LR+/LR-. LRs are the prevalence-FREE way
    to report a screen's strength (they transfer to any base rate
    via Bayes' odds update, unlike precision/accuracy) — what a
    triage filter's card should show before it ships into a corpus
    with different language mix. Four BIGINT confusion counts,
    terminal rationals. Plan: one median scalar, one scan, one
    fold."""
    d = t(spark, sf_dir, "documents")
    med = d.agg(
        F.floor(F.expr("percentile(n_chars, 0.5)"))
        .cast("bigint")
        .alias("m")
    )
    lab = d.crossJoin(F.broadcast(med)).select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("cond"),
        F.when(F.col("n_chars") > F.col("m"), 1)
        .otherwise(0)
        .alias("pos"),
    )
    c = lab.agg(
        F.sum(F.col("cond") * F.col("pos"))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.col("cond") * (1 - F.col("pos")))
        .cast("bigint")
        .alias("fn"),
        F.sum((1 - F.col("cond")) * F.col("pos"))
        .cast("bigint")
        .alias("fp"),
        F.sum((1 - F.col("cond")) * (1 - F.col("pos")))
        .cast("bigint")
        .alias("tn"),
    )
    tp, fn, fp, tn = (
        F.col("tp"),
        F.col("fn"),
        F.col("fp"),
        F.col("tn"),
    )
    sens = tp * 1.0 / (tp + fn)
    spec = tn * 1.0 / (tn + fp)
    return c.select(
        tp,
        fn,
        fp,
        tn,
        F.round(sens, 6).alias("sensitivity"),
        F.round(spec, 6).alias("specificity"),
        F.round(sens / (1.0 - spec), 6).alias("lr_positive"),
        F.round((1.0 - sens) / spec, 6).alias("lr_negative"),
        F.round((tp * 1.0 * tn) / (fp * 1.0 * fn), 6).alias(
            "diagnostic_or"
        ),
        F.round(
            (tp + tn) * 1.0 / (tp + fn + fp + tn), 6
        ).alias("accuracy"),
    )


# --------------------------------------------------------------------------
# V-measure (homogeneity / completeness) between event type and value decile
# --------------------------------------------------------------------------
@register(
    "v_measure_clusters",
    oracle="""
    WITH cell AS (
        SELECT event_type AS a,
               LEAST(CAST(floor(value) AS BIGINT) // 50, 9) AS b,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cell),
    ha AS (
        SELECT CAST(SUM(CAST(round(-1.0 * q.cn / t.nn
                   * ln(q.cn * 1.0 / t.nn), 8) AS DECIMAL(38,8)))
                   AS DOUBLE) AS h
        FROM (SELECT a, CAST(SUM(n) AS BIGINT) AS cn
              FROM cell GROUP BY a) q, tot t
    ),
    hb AS (
        SELECT CAST(SUM(CAST(round(-1.0 * q.cn / t.nn
                   * ln(q.cn * 1.0 / t.nn), 8) AS DECIMAL(38,8)))
                   AS DOUBLE) AS h
        FROM (SELECT b, CAST(SUM(n) AS BIGINT) AS cn
              FROM cell GROUP BY b) q, tot t
    ),
    hab AS (
        SELECT CAST(SUM(CAST(round(-1.0 * c.n / t.nn
                   * ln(c.n * 1.0 / bq.cn), 8) AS DECIMAL(38,8)))
                   AS DOUBLE) AS h
        FROM cell c,
             (SELECT b, CAST(SUM(n) AS BIGINT) AS cn
              FROM cell GROUP BY b) bq,
             tot t
        WHERE c.b = bq.b
    ),
    hba AS (
        SELECT CAST(SUM(CAST(round(-1.0 * c.n / t.nn
                   * ln(c.n * 1.0 / aq.cn), 8) AS DECIMAL(38,8)))
                   AS DOUBLE) AS h
        FROM cell c,
             (SELECT a, CAST(SUM(n) AS BIGINT) AS cn
              FROM cell GROUP BY a) aq,
             tot t
        WHERE c.a = aq.a
    )
    SELECT t.nn AS n_events,
           round(1.0 - hab.h / ha.h, 6) AS homogeneity,
           round(1.0 - hba.h / hb.h, 6) AS completeness,
           round(2.0 * (1.0 - hab.h / ha.h) * (1.0 - hba.h / hb.h)
                 / ((1.0 - hab.h / ha.h) + (1.0 - hba.h / hb.h)),
                 6) + 0.0 AS v_measure
    FROM tot t, ha, hb, hab, hba
    """,
)
def v_measure_clusters(spark, sf_dir):
    """V-measure between the event-type partition and the value-
    decile partition: homogeneity = 1 - H(type|decile)/H(type),
    completeness = 1 - H(decile|type)/H(decile), V = their harmonic
    mean — the entropy-based partition-agreement score that, unlike
    raw purity, punishes both over- and under-splitting. THE
    clustering-evaluation triple a labeling pipeline reports when
    comparing an unsupervised bucketing against reference classes.
    All entropies fold over the bounded 50-cell contingency with
    the post-ln 1e-8 rounding device. Plan: one contingency rollup,
    bounded marginal joins, four scalar folds."""
    e = t(spark, sf_dir, "events")
    cell = e.groupBy(
        F.col("event_type").alias("a"),
        F.least(
            F.floor(F.col("value")).cast("bigint") / F.lit(50),
            F.lit(9),
        )
        .cast("bigint")
        .alias("b"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = cell.agg(F.sum("n").cast("bigint").alias("nn"))
    am = cell.groupBy("a").agg(
        F.sum("n").cast("bigint").alias("an")
    )
    bm = cell.groupBy("b").agg(
        F.sum("n").cast("bigint").alias("bn")
    )

    def entfold(df, cnt, denom):
        return (
            F.sum(
                F.round(
                    -1.0
                    * F.col(cnt)
                    / F.col("nn")
                    * F.log(F.col(cnt) * 1.0 / F.col(denom)),
                    8,
                ).cast("decimal(38,8)")
            )
            .cast("double")
        )

    ha = (
        am.crossJoin(F.broadcast(tot))
        .agg(entfold(None, "an", "nn").alias("h"))
        .select(F.col("h").alias("ha"))
    )
    hb = (
        bm.crossJoin(F.broadcast(tot))
        .agg(entfold(None, "bn", "nn").alias("h"))
        .select(F.col("h").alias("hb"))
    )
    hab = (
        cell.join(F.broadcast(bm), "b")
        .crossJoin(F.broadcast(tot))
        .agg(entfold(None, "n", "bn").alias("h"))
        .select(F.col("h").alias("hab"))
    )
    hba = (
        cell.join(F.broadcast(am), "a")
        .crossJoin(F.broadcast(tot))
        .agg(entfold(None, "n", "an").alias("h"))
        .select(F.col("h").alias("hba"))
    )
    out = (
        tot.crossJoin(F.broadcast(ha))
        .crossJoin(F.broadcast(hb))
        .crossJoin(F.broadcast(hab))
        .crossJoin(F.broadcast(hba))
    )
    hom = 1.0 - F.col("hab") / F.col("ha")
    com = 1.0 - F.col("hba") / F.col("hb")
    return out.select(
        F.col("nn").alias("n_events"),
        F.round(hom, 6).alias("homogeneity"),
        F.round(com, 6).alias("completeness"),
        (F.round(2.0 * hom * com / (hom + com), 6) + 0.0).alias(
            "v_measure"
        ),
    )


# --------------------------------------------------------------------------
# Brand-graph machinery for the two graph queries below: strong-tie brand
# adjacency = co-purchase pair counts above the 75th percentile
# --------------------------------------------------------------------------
_BRAND_EDGE_SQL = """
    pedges AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2,
               a.l_orderkey AS ok
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    -- the two part-joins are STAGED (p1 first, then p2) and bpair is
    -- MATERIALIZED: with both joins in one block DuckDB's optimizer
    -- may pair part x part on the non-equi brand predicate first
    -- (~|part|^2 intermediate, spills at sf0.1), and CTE inlining
    -- would re-run it once per downstream reference
    e1 AS (
        SELECT e.p2, br1.p_brand AS b1
        FROM pedges e JOIN part br1 ON e.p1 = br1.p_partkey
    ),
    bpair AS MATERIALIZED (
        SELECT LEAST(e1.b1, br2.p_brand) AS u,
               GREATEST(e1.b1, br2.p_brand) AS v,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM e1 JOIN part br2 ON e1.p2 = br2.p_partkey
        WHERE e1.b1 <> br2.p_brand
        GROUP BY 1, 2
    ),
    thr AS (
        SELECT CAST(floor(quantile_cont(w, 0.75)) AS BIGINT) AS q
        FROM bpair
    ),
    bedges AS MATERIALIZED (
        SELECT u, v FROM bpair, thr WHERE w > thr.q
    ),
    sym AS (
        SELECT u, v FROM bedges
        UNION ALL SELECT v AS u, u AS v FROM bedges
    )
"""


def _brand_sym(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p2")
    )
    pedges = (
        a.join(b, "ok")
        .where(F.col("p1") < F.col("p2"))
        .select("p1", "p2", "ok")
        .distinct()
    )
    br = p.select(
        F.col("p_partkey").alias("pk"), F.col("p_brand").alias("b")
    )
    bpair = (
        pedges.join(
            F.broadcast(br.withColumnRenamed("pk", "p1k")),
            F.col("p1") == F.col("p1k"),
        )
        .withColumnRenamed("b", "b1")
        .join(
            F.broadcast(
                br.select(
                    F.col("pk").alias("p2k"), F.col("b").alias("b2")
                )
            ),
            F.col("p2") == F.col("p2k"),
        )
        .where(F.col("b1") != F.col("b2"))
        .groupBy(
            F.least("b1", "b2").alias("u"),
            F.greatest("b1", "b2").alias("v"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    thr = bpair.agg(
        F.floor(F.expr("percentile(w, 0.75)"))
        .cast("bigint")
        .alias("q")
    )
    bedges = (
        bpair.crossJoin(F.broadcast(thr))
        .where(F.col("w") > F.col("q"))
        .select("u", "v")
    )
    return bedges.unionAll(
        bedges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


@register(
    "katz_centrality_brands",
    oracle=f"""
    WITH {_BRAND_EDGE_SQL},
    d1 AS (
        SELECT u, CAST(COUNT(*) AS BIGINT) AS k1 FROM sym GROUP BY u
    ),
    d2 AS (
        SELECT s.u, CAST(SUM(d1.k1) AS BIGINT) AS k2
        FROM sym s JOIN d1 ON s.v = d1.u GROUP BY s.u
    ),
    d3 AS (
        SELECT s.u, CAST(SUM(d2.k2) AS BIGINT) AS k3
        FROM sym s JOIN d2 ON s.v = d2.u GROUP BY s.u
    )
    SELECT d1.u AS brand,
           d1.k1 AS walks_1,
           COALESCE(d2.k2, 0) AS walks_2,
           COALESCE(d3.k3, 0) AS walks_3,
           round(0.02 * CAST(d1.k1 AS DOUBLE)
                 + 0.0004 * COALESCE(d2.k2, 0)
                 + 0.000008 * COALESCE(d3.k3, 0), 8) AS katz
    FROM d1 LEFT JOIN d2 ON d1.u = d2.u
            LEFT JOIN d3 ON d1.u = d3.u
    ORDER BY d1.u
    """,
)
def katz_centrality_brands(spark, sf_dir):
    """Katz centrality (truncated at walk length 3, alpha = 0.02) on
    the strong-tie brand co-purchase graph — pairs above the 75th
    percentile of co-purchase weight, so the graph stays sparse at
    every SF. Walk counts A^k * 1 are EXACT BIGINTs from k bounded
    join-aggregate rounds over the <=25-node symmetric edge list
    (the bounded-iteration contract: a fixed 3-term Neumann series,
    alpha * max-degree < 0.5 guarantees the tail is negligible);
    the Katz score is one terminal literal-weighted expression. The
    influence ranking that sees 2- and 3-hop reach where degree
    sees only 1-hop. Plan: order-blocked pair rollup, percentile
    gate, three bounded join-aggs."""
    sym = _brand_sym(spark, sf_dir).persist()
    d1 = sym.groupBy("u").agg(
        F.count(F.lit(1)).cast("bigint").alias("k1")
    )
    d2 = (
        sym.join(
            d1.select(F.col("u").alias("v"), "k1"), "v"
        )
        .groupBy("u")
        .agg(F.sum("k1").cast("bigint").alias("k2"))
    )
    d3 = (
        sym.join(
            d2.select(F.col("u").alias("v"), "k2"), "v"
        )
        .groupBy("u")
        .agg(F.sum("k2").cast("bigint").alias("k3"))
    )
    return (
        d1.join(d2, "u", "left")
        .join(d3, "u", "left")
        .select(
            F.col("u").alias("brand"),
            F.col("k1").alias("walks_1"),
            F.coalesce(F.col("k2"), F.lit(0))
            .cast("bigint")
            .alias("walks_2"),
            F.coalesce(F.col("k3"), F.lit(0))
            .cast("bigint")
            .alias("walks_3"),
            F.round(
                0.02 * F.col("k1")
                + 0.0004 * F.coalesce(F.col("k2"), F.lit(0))
                + 0.000008 * F.coalesce(F.col("k3"), F.lit(0)),
                8,
            ).alias("katz"),
        )
        .orderBy("brand")
    )


# --------------------------------------------------------------------------
# Adamic-Adar link prediction on the strong-tie brand graph
# --------------------------------------------------------------------------
@register(
    "adamic_adar_link_prediction",
    oracle=f"""
    WITH {_BRAND_EDGE_SQL},
    deg AS (
        SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u
    ),
    cand AS (
        SELECT a.u AS x, b.u AS y, a.v AS w
        FROM sym a JOIN sym b ON a.v = b.v AND a.u < b.u
        WHERE NOT EXISTS (SELECT 1 FROM bedges e
                          WHERE e.u = a.u AND e.v = b.u)
    ),
    aa AS (
        SELECT c.x, c.y,
               CAST(COUNT(*) AS BIGINT) AS common_neighbors,
               round(CAST(SUM(CAST(round(1.0 / ln(deg.d), 8)
                                   AS DECIMAL(38,8))) AS DOUBLE), 6)
                   AS aa_score
        FROM cand c JOIN deg ON c.w = deg.u
        WHERE deg.d > 1
        GROUP BY c.x, c.y
    )
    SELECT x AS brand_a, y AS brand_b, common_neighbors, aa_score
    FROM aa
    ORDER BY aa_score DESC, x ASC, y ASC LIMIT 10
    """,
)
def adamic_adar_link_prediction(spark, sf_dir):
    """Adamic-Adar link prediction on the strong-tie brand graph:
    for brand pairs NOT strongly tied, sum 1/ln(degree) over common
    strong-tie neighbors — rare well-connected intermediaries count
    more than hubs. The top-10 candidates are the next strong ties
    the co-purchase structure implies (assortment/bundling
    candidates; in a dedup pipeline, the same scoring predicts
    missing duplicate links across blocks). Everything lives on the
    bounded <=25-node graph: candidate pairs from one wedge
    self-join, an anti-join against existing edges, post-ln 1e-8
    rounded folds, and a total-order (score desc, pair asc) top-10.
    Plan: pair rollup, percentile gate, wedge join + anti-join,
    bounded fold, top-10."""
    sym = _brand_sym(spark, sf_dir).persist()
    bedges = sym.where(F.col("u") < F.col("v"))
    deg = sym.groupBy("u").agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    a = sym.select(F.col("u").alias("x"), F.col("v").alias("w"))
    b = sym.select(F.col("u").alias("y"), F.col("v").alias("w"))
    cand = (
        a.join(b, "w")
        .where(F.col("x") < F.col("y"))
        .join(
            bedges.select(
                F.col("u").alias("x"), F.col("v").alias("y")
            ),
            ["x", "y"],
            "left_anti",
        )
    )
    aa = (
        cand.join(
            deg.select(F.col("u").alias("w"), "d"), "w"
        )
        .where(F.col("d") > 1)
        .groupBy("x", "y")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias(
                "common_neighbors"
            ),
            F.round(
                F.sum(
                    F.round(1.0 / F.log(F.col("d")), 8).cast(
                        "decimal(38,8)"
                    )
                ).cast("double"),
                6,
            ).alias("aa_score"),
        )
    )
    return (
        aa.orderBy(
            F.col("aa_score").desc(),
            F.col("x").asc(),
            F.col("y").asc(),
        )
        .limit(10)
        .select(
            F.col("x").alias("brand_a"),
            F.col("y").alias("brand_b"),
            "common_neighbors",
            "aa_score",
        )
    )


# --------------------------------------------------------------------------
# Dunn validity index (centroid variant) for the labeled embeddings
# --------------------------------------------------------------------------
from .bank_r12 import _EMB_EL_SQL  # noqa: E402 — shared embedding CTEs


@register(
    "dunn_validity_index",
    oracle=f"""
    WITH {_EMB_EL_SQL},
    pd AS (
        SELECT el.vec_id, el.label,
               round(sqrt(CAST(SUM(CAST(round(
                   (CAST(el.x AS DOUBLE) - cent.c)
                   * (CAST(el.x AS DOUBLE) - cent.c), 12)
                   AS DECIMAL(28,12))) AS DOUBLE)), 9) AS r
        FROM el JOIN cent
          ON el.label = cent.label AND el.dim = cent.dim
        GROUP BY el.vec_id, el.label
    ),
    diam AS (
        SELECT CAST(MAX(r) * 2.0 AS DOUBLE) AS dmax FROM pd
    ),
    cd AS (
        SELECT a.label AS la, b.label AS lb,
               round(sqrt(CAST(SUM(CAST(round(
                   (a.c - b.c) * (a.c - b.c), 12)
                   AS DECIMAL(28,12))) AS DOUBLE)), 9) AS d
        FROM cent a JOIN cent b
          ON a.dim = b.dim AND a.label < b.label
        GROUP BY a.label, b.label
    ),
    sep AS (
        SELECT MIN(d) AS dmin,
               CAST(COUNT(DISTINCT la) + 1 AS BIGINT) AS k
        FROM cd
    )
    SELECT sep.k AS n_clusters,
           round(sep.dmin, 6) AS min_centroid_separation,
           round(diam.dmax, 6) AS max_cluster_diameter,
           round(sep.dmin / diam.dmax, 6) AS dunn_index
    FROM sep, diam
    """,
)
def dunn_validity_index(spark, sf_dir):
    """Dunn validity index (centroid variant) for the labeled
    embedding clustering: minimum pairwise centroid separation
    divided by the maximum cluster diameter (2x the largest
    point-to-own-centroid radius — the bounding-ball surrogate that
    keeps the numerator/denominator both O(n*d + k^2*d) instead of
    the O(n^2) pointwise original). Higher = compact, well-separated;
    the worst-case counterpart to the averaging CH/DB panel
    (`cluster_validity_panel`): Dunn collapses if ANY single cluster
    sprawls or ANY pair of centroids crowds, which is exactly the
    failure mode stratified sampling cares about. Same exact
    DECIMAL(18,9) embedding doctrine as the r12 validity queries;
    distance terms round at 1e-12 into DECIMAL(28,12) folds. Plan:
    one explode rollup, one point-to-centroid join, bounded 10x10
    centroid self-join."""
    from .bank_r12 import _emb_el

    el = _emb_el(spark, sf_dir).persist()
    cent = el.groupBy("label", "dim").agg(
        F.round(
            F.sum("x").cast("double") / F.count(F.lit(1)), 9
        ).alias("c")
    )
    pd_ = (
        el.join(cent, ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sqrt(
                    F.sum(
                        F.round(
                            (F.col("x").cast("double") - F.col("c"))
                            * (
                                F.col("x").cast("double")
                                - F.col("c")
                            ),
                            12,
                        ).cast("decimal(28,12)")
                    ).cast("double")
                ),
                9,
            ).alias("r")
        )
    )
    diam = pd_.agg(
        (F.max("r") * 2.0).cast("double").alias("dmax")
    )
    ca = cent.select(
        F.col("label").alias("la"), "dim", F.col("c").alias("cva")
    )
    cb = cent.select(
        F.col("label").alias("lb"),
        "dim",
        F.col("c").alias("cvb"),
    )
    cd = (
        ca.join(cb, "dim")
        .where(F.col("la") < F.col("lb"))
        .groupBy("la", "lb")
        .agg(
            F.round(
                F.sqrt(
                    F.sum(
                        F.round(
                            (F.col("cva") - F.col("cvb"))
                            * (F.col("cva") - F.col("cvb")),
                            12,
                        ).cast("decimal(28,12)")
                    ).cast("double")
                ),
                9,
            ).alias("d")
        )
    )
    sep = cd.agg(
        F.min("d").alias("dmin"),
        (F.countDistinct("la") + 1).cast("bigint").alias("k"),
    )
    return sep.crossJoin(F.broadcast(diam)).select(
        F.col("k").alias("n_clusters"),
        F.round(F.col("dmin"), 6).alias("min_centroid_separation"),
        F.round(F.col("dmax"), 6).alias("max_cluster_diameter"),
        F.round(F.col("dmin") / F.col("dmax"), 6).alias(
            "dunn_index"
        ),
    )


# --------------------------------------------------------------------------
# Promoted from the round-15 bank (VERDICT r13 item 1): fills the round-14
# window's 50th slot. Its per-nation effect frame is common.py's
# NATION_EFFECTS_SQL/nation_effects, shared with egger_funnel_asymmetry.
# --------------------------------------------------------------------------
# DerSimonian-Laird random-effects meta-analysis
# --------------------------------------------------------------------------
@register(
    "dersimonian_laird_meta",
    oracle=f"""
    WITH {NATION_EFFECTS_SQL},
    s1 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(round(1.0 / v, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sw,
               CAST(SUM(CAST(round(y / v, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS swy,
               CAST(SUM(CAST(round(y * y / v, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS swyy,
               CAST(SUM(CAST(round(1.0 / v / v, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sww
        FROM eff
    ),
    het AS (
        SELECT k, sw, swy,
               swyy - swy * swy / sw AS q,
               round(greatest(0.0, (swyy - swy * swy / sw - (k - 1))
                                   / (sw - sww / sw)), 8) AS tau2
        FROM s1
    ),
    s2 AS (
        SELECT het.k, het.q, het.tau2, het.swy, het.sw,
               CAST(SUM(CAST(round(1.0 / round(eff.v + het.tau2, 8), 8)
                             AS DECIMAL(38,8))) AS DOUBLE) AS swr,
               CAST(SUM(CAST(round(eff.y / round(eff.v + het.tau2, 8), 8)
                             AS DECIMAL(38,8))) AS DOUBLE) AS swry
        FROM eff, het
        GROUP BY 1, 2, 3, 4, 5
    )
    SELECT k AS k_studies,
           round(q, 6) + 0.0 AS q_heterogeneity,
           round(100.0 * greatest(0.0, (q - (k - 1)) / q), 6) + 0.0
               AS i2_pct,
           round(tau2, 6) + 0.0 AS tau2_kusd2,
           round(swy / sw, 6) + 0.0 AS mu_fixed_kusd,
           round(swry / swr, 6) + 0.0 AS mu_random_kusd,
           round(swry / swr - 1.959963984540054 / sqrt(swr), 6) + 0.0
               AS ci95_lo,
           round(swry / swr + 1.959963984540054 / sqrt(swr), 6) + 0.0
               AS ci95_hi
    FROM s2
    """,
)
def dersimonian_laird_meta(spark, sf_dir):
    """DerSimonian-Laird random-effects pooling of the per-nation
    urgent-vs-routine order-value effect — the meta-analysis readout a
    segmented experiment actually ships: 25 nations are 25 "studies"
    with effect y_i (k$) and Welch variance v_i, Cochran's Q folds in
    ONE pass via Q = Σwy² − (Σwy)²/Σw, I² = max(0, (Q−df)/Q), the DL
    moment estimator τ² = max(0, (Q−df)/(Σw − Σw²/Σw)), and the
    random-effects pooled mean re-weights by 1/(v_i+τ²) with a 95%
    Wald CI. τ² is rounded at 8 dp before the second weighting so both
    engines re-weight identical doubles; every weight term is rounded
    at 8 dp and folded through DECIMAL(38,8) (order-independent).

    Scale: the study frame is the 25-nation domain — the only
    data-grain work is one orders⋈customer equi-join feeding a
    (nation, arm) hash rollup with exact cents power sums; both meta
    passes run on 25 rows. 100 TB: the rollup is map-side combinable,
    the join shuffles on custkey with AQE; nothing downstream scales
    with volume."""
    eff = nation_effects(spark, sf_dir)
    r8 = lambda c: F.round(c, 8).cast("decimal(38,8)")  # noqa: E731
    s1 = eff.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(r8(1.0 / F.col("v"))).cast("double").alias("sw"),
        F.sum(r8(F.col("y") / F.col("v"))).cast("double").alias("swy"),
        F.sum(r8(F.col("y") * F.col("y") / F.col("v")))
        .cast("double")
        .alias("swyy"),
        F.sum(r8(1.0 / F.col("v") / F.col("v")))
        .cast("double")
        .alias("sww"),
    )
    q = F.col("swyy") - F.col("swy") * F.col("swy") / F.col("sw")
    het = s1.select(
        "k",
        "sw",
        "swy",
        q.alias("q"),
        F.round(
            F.greatest(
                F.lit(0.0),
                (q - (F.col("k") - 1))
                / (F.col("sw") - F.col("sww") / F.col("sw")),
            ),
            8,
        ).alias("tau2"),
    )
    vstar = F.round(F.col("v") + F.col("tau2"), 8)
    s2 = eff.crossJoin(F.broadcast(het)).groupBy(
        "k", "q", "tau2", "swy", "sw"
    ).agg(
        F.sum(r8(1.0 / vstar)).cast("double").alias("swr"),
        F.sum(r8(F.col("y") / vstar)).cast("double").alias("swry"),
    )
    mu_re = F.col("swry") / F.col("swr")
    half = 1.959963984540054 / F.sqrt(F.col("swr"))
    return s2.select(
        F.col("k").alias("k_studies"),
        (F.round("q", 6) + 0.0).alias("q_heterogeneity"),
        (
            F.round(
                100.0
                * F.greatest(
                    F.lit(0.0),
                    (F.col("q") - (F.col("k") - 1)) / F.col("q"),
                ),
                6,
            )
            + 0.0
        ).alias("i2_pct"),
        (F.round("tau2", 6) + 0.0).alias("tau2_kusd2"),
        (F.round(F.col("swy") / F.col("sw"), 6) + 0.0).alias(
            "mu_fixed_kusd"
        ),
        (F.round(mu_re, 6) + 0.0).alias("mu_random_kusd"),
        (F.round(mu_re - half, 6) + 0.0).alias("ci95_lo"),
        (F.round(mu_re + half, 6) + 0.0).alias("ci95_hi"),
    )
