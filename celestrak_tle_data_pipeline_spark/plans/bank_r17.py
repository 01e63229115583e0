"""Round-17 bank (X592+), LIVE since round 17: pre-staged during
rounds 13-16 under the same no-new-debt discipline every flipped bank
(next_window, bank_r11..r16) went through: a stage-only decorator
pre-flip, the two-SF gate mirror in ``tests/test_bank_r17.py``, sf0.1
sweeps via ``tools/check.py --module bank_r17``, the dtype-family
sweep, the authoring-time 64x probe octave (SCALING_PROBES.json /
SCALING.md), and plan-audit notes merged into the effective audit
allowlist automatically at flip time
(``tools/audit_single_partition.py::allowed()``).

At the round-16 flip the seed query here (``fisher_stouffer_combined``,
X591) was promoted into bank_r16's 50th window slot (the
bartlett_sphericity / dersimonian_laird_meta precedent); its shared
35-cell contingency p-value frame lives in bank_r16
(``_CELLP_SQL``/``_cellp``, imported below), so the move carried no
frame copy; the bank was restored to 49 the same round
(``taylor_law_fluctuation``, X796). At the round-17 flip this bank's
own 50th window slot is ``mean_excess_slope`` (X640), promoted from
the round-18 bank — self-contained (dec/t/Window/F only), so the
promotion carries no shared frame either.

Theme: EVIDENCE, DECISIONS, AND OPERATIONS — global-null machinery
(Fisher/Stouffer, Simes + HMP, BKY, mSPRT, combination identities),
decision-grade model evaluation (NRI, decision curves, skill scores,
Spiegelhalter out-of-sample calibration), operations and economics
(LMDI bridge, forecast combination, pairs trading, hedonics, price
stickiness/heaping, funnel plots, assortment churn, c-chart,
CUSUM+ARL), population and diversity bounds (Chao-Mh, ACE, beta
diversity, Hill numbers, Blau/Rao/Leik-adjacent panels), robust and
rank machinery (van Elteren, GMD, medcouple boxplot, Kendall partial
tau, concentration index on ``exact_cumulative``), sequence and
graph structure (Markov order LR, SAX motifs, sojourns, variogram,
k-truss, spectral radius), and influence/effect panels (DFFITS,
PAF, difference-sign, day-of-month, dow stability, Feltz-Miller,
OVL, Christoffersen).

Determinism disciplines inherited unchanged (bank_r11..r16
docstrings): exact integer/DECIMAL folds, round-before-fold on every
float aggregate, ``+ 0.0`` on possibly-negative-zero outputs,
total-order top-k/argmax tiebreaks, bounded-domain windows only, the
shared Abramowitz-Stegun erfc tree, and the Acklam inverse-normal
device (bank_r15).

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
from .bank_r15 import _acklam_col, _acklam_sql  # noqa: E402
from .bank_r16 import _CELLP_SQL, _cellp  # noqa: E402
from .common import dec, exact_cumulative, t

BANK_QUERIES: dict = {}
BANK_ORACLES: dict = {}
PLAN_AUDIT_NOTES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Registers live via ``plans.register`` AND records the name in
    the bank dicts so ``tests/test_bank_r17.py`` keeps gate-mirroring
    the whole flipped set independently of the registry (the same flip
    protocol bank_r11..r16 used)."""

    live = _live_register(name, oracle)

    def deco(fn):
        BANK_QUERIES[name] = fn
        if oracle is not None:
            BANK_ORACLES[name] = oracle
        return live(fn)

    return deco


# --------------------------------------------------------------------------
# Simes global test + harmonic-mean p-value on the same family
# --------------------------------------------------------------------------
@register(
    "simes_harmonic_global",
    oracle=f"""
    WITH {_CELLP_SQL},
    simes AS (
        SELECT CAST(MAX(m) AS BIGINT) AS m,
               MIN(round(m * p / i, 12)) AS p_simes
        FROM ranked
    ),
    hmp AS (
        SELECT CAST(SUM(CAST(round(1.0 / p, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sinv
        FROM ranked WHERE p > 0
    )
    SELECT simes.m AS m_tests,
           round(LEAST(1.0, p_simes), 8) + 0.0 AS simes_p_global,
           round(simes.m / hmp.sinv, 10) + 0.0 AS harmonic_mean_p,
           round(LEAST(1.0, simes.m / hmp.sinv
                       * (ln(simes.m * 1.0) + 0.874367040387922)),
                 8) + 0.0 AS hmp_bound_p
    FROM simes, hmp
    """,
)
def simes_harmonic_global(spark, sf_dir):
    """SIMES global test and HARMONIC-MEAN p-value over the 35-cell
    family: Simes p = min_i m p_(i)/i is the valid-under-positive-
    dependence global null test BH inherits its guarantee from (the
    family-level "is anything going on" answer one level up from
    `bh_fdr_correction`'s per-cell answer); the HMP is the modern
    robust-to-dependence combiner (Wilson 2019), reported raw and
    with the e-value-style validity inflation min(1, hmp (ln m +
    0.8744)) — the asymptotically exact Landau-based bound. Three
    global-null answers with different dependence contracts, one
    frame.

    Exactness: the deterministic (p, type, dow) ranks; the Simes
    fold is an exact MIN of 12-dp rounded terms; 1/p terms round at
    8 dp into a DECIMAL(38,8) fold; the Euler-Mascheroni-derived
    constant is a literal. Plan: the 35-cell frame, two folds."""
    ranked = _cellp(spark, sf_dir)
    simes = ranked.agg(
        F.max("m").cast("bigint").alias("m"),
        F.min(
            F.round(F.col("m") * F.col("p") / F.col("i"), 12)
        ).alias("p_simes"),
    )
    hmp = ranked.where(F.col("p") > 0).agg(
        F.sum(F.round(1.0 / F.col("p"), 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("sinv")
    )
    j = simes.crossJoin(F.broadcast(hmp))
    m = F.col("m")
    h = m / F.col("sinv")
    return j.select(
        m.alias("m_tests"),
        (
            F.round(F.least(F.lit(1.0), F.col("p_simes")), 8) + 0.0
        ).alias("simes_p_global"),
        (F.round(h, 10) + 0.0).alias("harmonic_mean_p"),
        (
            F.round(
                F.least(
                    F.lit(1.0),
                    h * (F.log(m * 1.0) + 0.874367040387922),
                ),
                8,
            )
            + 0.0
        ).alias("hmp_bound_p"),
    )


# --------------------------------------------------------------------------
# Benjamini-Krieger-Yekutieli adaptive two-stage FDR
# --------------------------------------------------------------------------
@register(
    "bky_two_stage_fdr",
    oracle=f"""
    WITH {_CELLP_SQL},
    s1 AS (
        SELECT CAST(MAX(m) AS BIGINT) AS m,
               CAST(COALESCE(MAX(CASE WHEN p <= (0.05 / 1.05)
                                  * i / m THEN i END), 0)
                    AS BIGINT) AS r1
        FROM ranked
    ),
    s2 AS (
        SELECT s1.m, s1.r1,
               CAST(s1.m - s1.r1 AS BIGINT) AS m0_hat,
               CAST(COALESCE(MAX(CASE WHEN ranked.p
                                  <= (0.05 / 1.05)
                                     * (s1.m * 1.0
                                        / GREATEST(s1.m - s1.r1, 1))
                                     * ranked.i / s1.m
                                  THEN ranked.i END), 0)
                    AS BIGINT) AS r2
        FROM ranked, s1 GROUP BY s1.m, s1.r1
    )
    SELECT m AS m_tests, r1 AS stage1_rejections,
           m0_hat AS m0_null_estimate,
           r2 AS stage2_rejections,
           round(CAST(m0_hat AS DOUBLE) / m, 6) + 0.0
               AS pi0_bky
    FROM s2
    """,
)
def bky_two_stage_fdr(spark, sf_dir):
    """Benjamini-Krieger-Yekutieli ADAPTIVE two-stage FDR on the
    35-cell family at q = 0.05: stage 1 runs BH at q/(1+q), its
    rejection count estimates the null count m0 = m - r1, and stage
    2 reruns BH at q m/m0 — the PROVEN-FDR-control adaptive
    procedure (Storey's `storey_pi0_qvalues` estimates pi0 more
    aggressively but its control is asymptotic; BKY's is
    finite-sample). r2 > r1 quantifies exactly the power the plain
    `bh_fdr_correction` leaves on the table. Both stages are
    step-up cutoffs: MAX over i with p_(i) under the line — exact
    integer folds on the ranked frame.

    Exactness: ranks deterministic; both cutoff scans compare 12-dp
    rounded p's against exact rational lines; counts are BIGINTs.
    Plan: the 35-cell frame, two folds."""
    ranked = _cellp(spark, sf_dir).persist()
    q1 = 0.05 / 1.05
    s1 = ranked.agg(
        F.max("m").cast("bigint").alias("mt"),
        F.coalesce(
            F.max(
                F.when(
                    F.col("p") <= q1 * F.col("i") / F.col("m"),
                    F.col("i"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("r1"),
    )
    s2 = (
        ranked.drop("m")
        .crossJoin(F.broadcast(s1))
        .groupBy("mt", "r1")
        .agg(
            F.coalesce(
                F.max(
                    F.when(
                        F.col("p")
                        <= q1
                        * (
                            F.col("mt")
                            * 1.0
                            / F.greatest(
                                F.col("mt") - F.col("r1"), F.lit(1)
                            )
                        )
                        * F.col("i")
                        / F.col("mt"),
                        F.col("i"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("r2")
        )
    )
    return s2.select(
        F.col("mt").alias("m_tests"),
        F.col("r1").alias("stage1_rejections"),
        (F.col("mt") - F.col("r1")).cast("bigint").alias(
            "m0_null_estimate"
        ),
        F.col("r2").alias("stage2_rejections"),
        (
            F.round(
                (F.col("mt") - F.col("r1")).cast("double")
                / F.col("mt"),
                6,
            )
            + 0.0
        ).alias("pi0_bky"),
    )


# --------------------------------------------------------------------------
# Engel curve: share of premium-brand spend vs log total spend
# --------------------------------------------------------------------------
@register(
    "engel_curve_loglog",
    oracle="""
    WITH li AS (
        SELECT l.l_orderkey AS ok,
               CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS r,
               CASE WHEN p.p_retailprice >= 975.0
                    THEN 1 ELSE 0 END AS prem
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    cust AS (
        SELECT o.o_custkey AS u,
               CAST(SUM(li.r) AS BIGINT) AS spend,
               CAST(SUM(CASE WHEN li.prem = 1 THEN li.r ELSE 0 END)
                    AS BIGINT) AS prem_spend
        FROM li JOIN orders o ON li.ok = o.o_orderkey
        GROUP BY o.o_custkey
    ),
    xy AS (
        SELECT round(ln(CAST(spend AS DOUBLE) / 100000.0), 10) AS x,
               round(CAST(prem_spend AS DOUBLE) / spend, 10) AS w
        FROM cust WHERE spend > 0
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(x, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS sx,
               CAST(SUM(CAST(round(w, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS sw,
               CAST(SUM(CAST(round(x * x, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS sxx,
               CAST(SUM(CAST(round(w * w, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS sww,
               CAST(SUM(CAST(round(x * w, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS sxw
        FROM xy
    )
    SELECT n AS n_customers,
           round((n * sxw - sx * sw) / (n * sxx - sx * sx), 8) + 0.0
               AS engel_slope,
           round((sw - (n * sxw - sx * sw)
                  / (n * sxx - sx * sx) * sx) / n, 6) + 0.0
               AS engel_intercept,
           round(CASE WHEN n * sww - sw * sw > 0
                      THEN pow(n * sxw - sx * sw, 2)
                           / ((n * sxx - sx * sx)
                              * (n * sww - sw * sw))
                 END, 8) + 0.0 AS r2,
           round(sw / n, 8) + 0.0 AS mean_premium_share
    FROM mom
    """,
)
def engel_curve_loglog(spark, sf_dir):
    """ENGEL CURVE for premium parts (retail price >= $975, the top quartile of the catalog): the
    Working-Leser regression of each customer's premium-brand
    BUDGET SHARE on the log of their total spend — slope > 0 reads
    premium parts as LUXURIES (share rises with budget), < 0 as
    necessities; the consumption-structure coefficient under every
    premium-tier pricing decision, and a cross-SECTIONAL
    elasticity angle the registry's `discount_quantity_elasticity`
    (price response) does not touch. Mean share anchors the slope's
    economic size. r2 is NULL when the share is degenerate (no
    premium part in the tiny-SF catalog — the engines' 0/0
    semantics differ, so both emit NULL behind an identical
    variance guard).

    Exactness: per-customer spends are exact cents BIGINTs; the
    share and log-spend round at 10 dp; the five regression moments
    fold 10-dp rounded terms through DECIMAL(28,10). Plan: one join
    rollup to customers, one fold."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    o = t(spark, sf_dir, "orders")
    li2 = li.join(
        F.broadcast(p.select("p_partkey", "p_retailprice")),
        li.l_partkey == F.col("p_partkey"),
    ).select(
        F.col("l_orderkey").alias("ok"),
        (dec("l_extendedprice", 18, 2) * 100).cast("bigint").alias("r"),
        F.when(F.col("p_retailprice") >= 975.0, 1)
        .otherwise(0)
        .alias("prem"),
    )
    cust = (
        li2.join(
            o.select(F.col("o_orderkey").alias("ok"), "o_custkey"),
            "ok",
        )
        .groupBy(F.col("o_custkey").alias("u"))
        .agg(
            F.sum("r").cast("bigint").alias("spend"),
            F.sum(F.when(F.col("prem") == 1, F.col("r")).otherwise(0))
            .cast("bigint")
            .alias("prem_spend"),
        )
    )
    xy = cust.where(F.col("spend") > 0).select(
        F.round(
            F.log(F.col("spend").cast("double") / 100000.0), 10
        ).alias("x"),
        F.round(
            F.col("prem_spend").cast("double") / F.col("spend"), 10
        ).alias("w"),
    )

    def dfold(expr, name):
        return (
            F.sum(F.round(expr, 10).cast("decimal(28,10)"))
            .cast("double")
            .alias(name)
        )

    mom = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dfold(F.col("x"), "sx"),
        dfold(F.col("w"), "sw"),
        dfold(F.col("x") * F.col("x"), "sxx"),
        dfold(F.col("w") * F.col("w"), "sww"),
        dfold(F.col("x") * F.col("w"), "sxw"),
    )
    n = F.col("n")
    num = n * F.col("sxw") - F.col("sx") * F.col("sw")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    return mom.select(
        n.alias("n_customers"),
        (F.round(num / den, 8) + 0.0).alias("engel_slope"),
        (
            F.round(
                (F.col("sw") - num / den * F.col("sx")) / n, 6
            )
            + 0.0
        ).alias("engel_intercept"),
        (
            F.round(
                F.when(
                    n * F.col("sww") - F.col("sw") * F.col("sw") > 0,
                    F.pow(num, 2)
                    / (
                        den
                        * (n * F.col("sww") - F.col("sw") * F.col("sw"))
                    ),
                ),
                8,
            )
            + 0.0
        ).alias("r2"),
        (F.round(F.col("sw") / n, 8) + 0.0).alias(
            "mean_premium_share"
        ),
    )


PLAN_AUDIT_NOTES.update(
    {
        "simes_harmonic_global": (
            "rank over the same 35-cell family (bh_fdr class)"
        ),
        "bky_two_stage_fdr": (
            "two step-up cutoff scans over the same 35-cell family "
            "(bh_fdr class)"
        ),
        "net_reclassification_index": (
            "row_number rank over the n_chars grid for the exact "
            "median threshold (score-domain-bounded — the "
            "auc_rank_score class)"
        ),
        "decision_curve_net_benefit": (
            "cumulative head-count over the n_chars score grid for "
            "the exact decile bins (the auc_rank_score class)"
        ),
        "msprt_always_valid_p": (
            "cumulative 2x2 prefix over the bounded (day x cohort) "
            "frame (the cusum / sprt class)"
        ),
        "hampel_filter_days": (
            "rolling-median window + top-1 over the bounded "
            "calendar-day frame (the cusum / xmr class)"
        ),
        "rank_turbulence_divergence": (
            "two revenue ranks + a top-1 over the bounded 25-brand "
            "frames (domain-bounded; plan-text repeats the rank "
            "subplan per consumer)"
        ),
    }
)


# --------------------------------------------------------------------------
# Rank-turbulence divergence between half-period brand rankings
# --------------------------------------------------------------------------
@register(
    "rank_turbulence_divergence",
    oracle="""
    WITH bd AS (
        SELECT p.p_brand AS b,
               CASE WHEN epoch_us(l.l_shipdate) // 86400000000
                         <= (SELECT (min(epoch_us(l_shipdate))
                                     // 86400000000
                                     + max(epoch_us(l_shipdate))
                                     // 86400000000) // 2
                             FROM lineitem)
                    THEN 1 ELSE 2 END AS half,
               CAST(SUM(CAST(CAST(l.l_extendedprice
                                  AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS rev
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ),
    r1 AS (
        SELECT b, CAST(ROW_NUMBER() OVER (ORDER BY rev DESC, b)
                       AS BIGINT) AS r
        FROM bd WHERE half = 1
    ),
    r2 AS (
        SELECT b, CAST(ROW_NUMBER() OVER (ORDER BY rev DESC, b)
                       AS BIGINT) AS r
        FROM bd WHERE half = 2
    ),
    pair_ AS (
        SELECT r1.b, r1.r AS ra, r2.r AS rb
        FROM r1 JOIN r2 ON r1.b = r2.b
    ),
    terms AS (
        SELECT b, ra, rb,
               round(abs(1.0 / ra - 1.0 / rb), 12) AS d
        FROM pair_
    ),
    norm AS (
        SELECT CAST(SUM(CAST(round(abs(1.0 / a.r - 1.0 / (b.n + a.r)),
                             12) AS DECIMAL(28,12))) AS DOUBLE)
                   AS z
        FROM r1 a, (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM r1) b
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(d AS DECIMAL(28,12))) AS DOUBLE) AS sd
        FROM terms
    )
    SELECT fold.k AS n_brands,
           round(fold.sd, 8) + 0.0 AS rtd_raw,
           round(fold.sd / (2.0 * norm.z), 8) + 0.0
               AS rtd_normalized,
           (SELECT b FROM terms ORDER BY d DESC, b ASC LIMIT 1)
               AS biggest_mover
    FROM fold, norm
    """,
)
def rank_turbulence_divergence(spark, sf_dir):
    """RANK-TURBULENCE DIVERGENCE (Dodds et al. 2023, alpha = 1)
    between the first-half and second-half brand revenue RANKINGS:
    sum |1/r1 - 1/r2| over brands, normalized by the maximal-
    disarray constant — the rank-stability monitor built for
    heavy-tailed rank data, where `rank_biased_overlap_parts`
    (top-weighted set overlap) and Kendall distance (uniform pair
    weights) both misread churn deep in the tail; the 1/r weighting
    makes podium swaps expensive and tail shuffles cheap, which is
    what a revenue leaderboard actually cares about. Emits the
    single biggest mover for the narrative.

    Exactness: half-period revenues are exact cents; ranks are
    deterministic (rev desc, brand) row_numbers over the bounded
    25-brand frames; divergence terms round at 12 dp into
    DECIMAL(28,12) folds; the normalizer is the standard
    disjoint-support bound sum |1/r - 1/(n+r)| x2. Plan: one join
    rollup, two 25-row ranks, one fold."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    half_cut = li.agg(
        (
            (
                F.floor(F.min(F.unix_micros("l_shipdate")) / 86_400_000_000)
                + F.floor(
                    F.max(F.unix_micros("l_shipdate")) / 86_400_000_000
                )
            )
            / 2
        )
        .cast("bigint")
        .alias("cut")
    )
    bd = (
        li.join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
        )
        .crossJoin(F.broadcast(half_cut))
        .groupBy(
            F.col("p_brand").alias("b"),
            F.when(
                F.floor(F.unix_micros("l_shipdate") / 86_400_000_000)
                <= F.col("cut"),
                1,
            )
            .otherwise(2)
            .alias("half"),
        )
        .agg(
            F.sum(
                (dec("l_extendedprice", 18, 2) * 100).cast("bigint")
            )
            .cast("bigint")
            .alias("rev")
        )
        .persist()
    )

    def rank_half(h, out):
        return bd.where(F.col("half") == h).select(
            "b",
            F.row_number()
            .over(Window.orderBy(F.col("rev").desc(), F.col("b")))
            .cast("bigint")
            .alias(out),
        )

    r1 = rank_half(1, "ra")
    r2 = rank_half(2, "rb")
    pair_ = r1.join(r2, "b")
    terms = pair_.select(
        "b",
        "ra",
        "rb",
        F.round(F.abs(1.0 / F.col("ra") - 1.0 / F.col("rb")), 12).alias(
            "d"
        ),
    ).persist()
    nn = r1.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    norm = (
        r1.crossJoin(F.broadcast(nn))
        .agg(
            F.sum(
                F.round(
                    F.abs(
                        1.0 / F.col("ra")
                        - 1.0 / (F.col("n") + F.col("ra"))
                    ),
                    12,
                ).cast("decimal(28,12)")
            )
            .cast("double")
            .alias("z")
        )
    )
    fold = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.col("d").cast("decimal(28,12)"))
        .cast("double")
        .alias("sd"),
    )
    mover = (
        terms.orderBy(F.col("d").desc(), F.col("b").asc())
        .limit(1)
        .select(F.col("b").alias("biggest_mover"))
    )
    return (
        fold.crossJoin(F.broadcast(norm))
        .crossJoin(F.broadcast(mover))
        .select(
            F.col("k").alias("n_brands"),
            (F.round("sd", 8) + 0.0).alias("rtd_raw"),
            (
                F.round(F.col("sd") / (2.0 * F.col("z")), 8) + 0.0
            ).alias("rtd_normalized"),
            "biggest_mover",
        )
    )


# --------------------------------------------------------------------------
# Population attributable fraction (Levin) for the Fri/Sat exposure
# --------------------------------------------------------------------------
@register(
    "attributable_fraction_levin",
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
               CAST(SUM(1 - g) AS BIGINT) AS n0,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lab
    ),
    st AS (
        SELECT a, n1, b, n0, n,
               round(CAST(n1 AS DOUBLE) / n, 10) AS pe,
               round((CAST(a AS DOUBLE) / n1)
                     / (CAST(b AS DOUBLE) / n0), 10) AS rr
        FROM c
    )
    SELECT n1 AS n_exposed, n0 AS n_unexposed,
           round(rr, 6) + 0.0 AS risk_ratio,
           round(pe, 6) + 0.0 AS exposure_prevalence,
           round(pe * (rr - 1.0) / (1.0 + pe * (rr - 1.0)), 8)
               + 0.0 AS paf_levin,
           round((rr - 1.0) / rr, 8) + 0.0
               AS attributable_fraction_exposed
    FROM st
    """,
)
def attributable_fraction_levin(spark, sf_dir):
    """Levin's POPULATION ATTRIBUTABLE FRACTION for the Fri/Sat ->
    problem-status association: PAF = p_e(RR-1)/(1 + p_e(RR-1)) —
    the share of ALL problem orders that would disappear if the
    Fri/Sat exposure were removed (assuming causality) — plus the
    attributable fraction among the exposed (RR-1)/RR. The public-
    health "how much does this matter at the population level"
    number that the RR alone (`vanderweele_evalue`'s input)
    cannot convey: a huge RR on a rare exposure can carry a tiny
    PAF, and the pairing of PAF with the E-value is exactly the
    claim-size-vs-robustness readout.

    Exactness: 2x2 margins exact; prevalence and RR round at 10 dp
    before the PAF tree; all outputs terminal. Plan: one scan, one
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
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    pe = F.round(F.col("n1").cast("double") / F.col("n"), 10)
    rr = F.round(
        (F.col("a").cast("double") / F.col("n1"))
        / (F.col("b").cast("double") / F.col("n0")),
        10,
    )
    st = c.select(
        "n1", "n0", pe.alias("pe"), rr.alias("rr")
    )
    return st.select(
        F.col("n1").alias("n_exposed"),
        F.col("n0").alias("n_unexposed"),
        (F.round("rr", 6) + 0.0).alias("risk_ratio"),
        (F.round("pe", 6) + 0.0).alias("exposure_prevalence"),
        (
            F.round(
                F.col("pe")
                * (F.col("rr") - 1.0)
                / (1.0 + F.col("pe") * (F.col("rr") - 1.0)),
                8,
            )
            + 0.0
        ).alias("paf_levin"),
        (
            F.round((F.col("rr") - 1.0) / F.col("rr"), 8) + 0.0
        ).alias("attributable_fraction_exposed"),
    )


# --------------------------------------------------------------------------
# Net reclassification improvement: source rule vs length rule
# --------------------------------------------------------------------------
@register(
    "net_reclassification_index",
    oracle="""
    WITH docs AS (
        SELECT doc_id, n_chars, source,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    medl AS (
        SELECT n_chars AS v FROM (
            SELECT n_chars,
                   CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id)
                        AS BIGINT) AS r,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n
            FROM docs
        ) q WHERE 2 * r >= n + 1 ORDER BY v LIMIT 1
    ),
    prev AS (
        SELECT CAST(SUM(y) AS DOUBLE) / COUNT(*) AS p FROM docs
    ),
    srate AS (
        SELECT source, CAST(SUM(y) AS DOUBLE) / COUNT(*) AS sr
        FROM docs GROUP BY source
    ),
    cls AS (
        SELECT d.y,
               CASE WHEN d.n_chars > medl.v THEN 1 ELSE 0 END AS a,
               CASE WHEN srate.sr > prev.p THEN 1 ELSE 0 END AS b
        FROM docs d
        JOIN srate ON d.source = srate.source, medl, prev
    ),
    fold AS (
        SELECT
            CAST(SUM(y) AS BIGINT) AS ne,
            CAST(SUM(1 - y) AS BIGINT) AS nn,
            CAST(SUM(CASE WHEN y = 1 AND a = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS tpa,
            CAST(SUM(CASE WHEN y = 1 AND b = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS tpb,
            CAST(SUM(CASE WHEN y = 0 AND a = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS fpa,
            CAST(SUM(CASE WHEN y = 0 AND b = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS fpb
        FROM cls
    )
    SELECT ne AS n_events, nn AS n_nonevents,
           round(CAST(tpb - tpa AS DOUBLE) / ne, 8) + 0.0
               AS nri_events,
           round(CAST(fpa - fpb AS DOUBLE) / nn, 8) + 0.0
               AS nri_nonevents,
           round(CAST(tpb - tpa AS DOUBLE) / ne
                 + CAST(fpa - fpb AS DOUBLE) / nn, 8) + 0.0
               AS nri_total
    FROM fold
    """,
)
def net_reclassification_index(spark, sf_dir):
    """NET RECLASSIFICATION IMPROVEMENT from the length rule
    (n_chars above the exact corpus median predicts lang='en') to
    the source rule (source-level en-rate above prevalence):
    NRI_events = delta-TPR, NRI_nonevents = -delta-FPR, total = the
    sum — the model-UPGRADE metric that answers "who moved in the
    right direction", which AUC deltas famously obscure (two
    models with equal AUC can reclassify half the corpus in
    opposite directions). The document-routing decision behind
    every heuristic-filter replacement, judged properly.

    Exactness: the median threshold is an exact order statistic;
    source rates are exact count ratios; all reclassification cells
    are exact BIGINTs; NRIs are terminal ratios. Plan: one rank for
    the median, one source rollup, one broadcast join, one fold."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        "source",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    ).persist()
    ranked = d.select(
        "n_chars",
        F.row_number()
        .over(Window.orderBy("n_chars", "doc_id"))
        .cast("bigint")
        .alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("n"),
    )
    medl = (
        ranked.where(2 * F.col("r") >= F.col("n") + 1)
        .agg(F.min("n_chars").alias("v"))
    )
    prev = d.agg(
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias("p")
    )
    srate = d.groupBy("source").agg(
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias("sr")
    )
    cls = (
        d.join(F.broadcast(srate), "source")
        .crossJoin(F.broadcast(medl))
        .crossJoin(F.broadcast(prev))
        .select(
            "y",
            F.when(F.col("n_chars") > F.col("v"), 1)
            .otherwise(0)
            .alias("a"),
            F.when(F.col("sr") > F.col("p"), 1).otherwise(0).alias("b"),
        )
    )
    fold = cls.agg(
        F.sum("y").cast("bigint").alias("ne"),
        F.sum(1 - F.col("y")).cast("bigint").alias("nn"),
        F.sum(F.when((F.col("y") == 1) & (F.col("a") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("tpa"),
        F.sum(F.when((F.col("y") == 1) & (F.col("b") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("tpb"),
        F.sum(F.when((F.col("y") == 0) & (F.col("a") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("fpa"),
        F.sum(F.when((F.col("y") == 0) & (F.col("b") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("fpb"),
    )
    nri_e = (F.col("tpb") - F.col("tpa")).cast("double") / F.col("ne")
    nri_n = (F.col("fpa") - F.col("fpb")).cast("double") / F.col("nn")
    return fold.select(
        F.col("ne").alias("n_events"),
        F.col("nn").alias("n_nonevents"),
        (F.round(nri_e, 8) + 0.0).alias("nri_events"),
        (F.round(nri_n, 8) + 0.0).alias("nri_nonevents"),
        (F.round(nri_e + nri_n, 8) + 0.0).alias("nri_total"),
    )


# --------------------------------------------------------------------------
# Decision-curve net benefit of the length-decile classifier
# --------------------------------------------------------------------------
@register(
    "decision_curve_net_benefit",
    oracle="""
    WITH docs AS (
        SELECT n_chars,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    grid AS (
        SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(y) AS BIGINT) AS k
        FROM docs GROUP BY n_chars
    ),
    cum AS (
        SELECT v, c, k,
               SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW) AS cc,
               SUM(c) OVER () AS n
        FROM grid
    ),
    binned AS (
        SELECT LEAST(CAST(10 * (cc - c) AS BIGINT) // n, 9) AS bin,
               c, k
        FROM cum
    ),
    bins AS (
        SELECT bin, CAST(SUM(c) AS BIGINT) AS nb,
               CAST(SUM(k) AS BIGINT) AS kb,
               round(CAST(SUM(k) AS DOUBLE) / SUM(c), 10) AS pb
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT CAST(SUM(nb) AS BIGINT) AS n,
               CAST(SUM(kb) AS BIGINT) AS k
        FROM bins
    ),
    pts AS (SELECT CAST(u.g AS DOUBLE) / 10.0 AS pt
            FROM LATERAL UNNEST(range(1, 6)) AS u(g)),
    nb AS (
        SELECT pts.pt,
               CAST(SUM(CASE WHEN bins.pb >= pts.pt
                        THEN bins.kb ELSE 0 END) AS DOUBLE)
                   / tot.n
               - CAST(SUM(CASE WHEN bins.pb >= pts.pt
                          THEN bins.nb - bins.kb ELSE 0 END)
                      AS DOUBLE) / tot.n
                 * pts.pt / (1.0 - pts.pt) AS nb_model,
               CAST(tot.k AS DOUBLE) / tot.n
               - (1.0 - CAST(tot.k AS DOUBLE) / tot.n)
                 * pts.pt / (1.0 - pts.pt) AS nb_all
        FROM bins, pts, tot
        GROUP BY pts.pt, tot.n, tot.k
    )
    SELECT round(pt, 1) + 0.0 AS threshold_prob,
           round(nb_model, 8) + 0.0 AS net_benefit_model,
           round(nb_all, 8) + 0.0 AS net_benefit_treat_all,
           CAST(CASE WHEN nb_model >= nb_all AND nb_model >= 0.0
                     THEN 1 ELSE 0 END AS INT) AS model_wins
    FROM nb ORDER BY threshold_prob
    """,
)
def decision_curve_net_benefit(spark, sf_dir):
    """DECISION-CURVE analysis of the length-decile lang='en'
    classifier: at each threshold probability pt in {0.1..0.5},
    net benefit = TP/n - FP/n * pt/(1-pt) for the policy "treat
    documents whose decile en-rate >= pt", against the treat-all
    and treat-none baselines — the Vickrey-Elkin answer to "is this
    model worth USING at my cost ratio", which neither AUC
    (`auc_rank_score`) nor calibration (`hosmer_lemeshow`) can
    give, because both ignore the decision cost pt/(1-pt).
    model_wins flags the thresholds where the model beats BOTH
    baselines — the deployable region.

    Exactness: decile bins come from the exact cumulative head
    count on the n_chars grid (ties share a bin); bin rates round
    at 10 dp; per-threshold folds are exact-count ratios. Plan: one
    grid cumulative, one 10-bin rollup, one literal 5-threshold
    cross, one fold."""
    d = t(spark, sf_dir, "documents").select(
        "n_chars",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    grid = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("y").cast("bigint").alias("k"),
    )
    cum = grid.select(
        "v",
        "c",
        "k",
        (
            F.sum("c").over(
                Window.orderBy("v").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            - F.col("c")
        ).alias("head"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    binned = cum.select(
        F.least(
            (10 * F.col("head") / F.col("n")).cast("bigint"),
            F.lit(9).cast("bigint"),
        ).alias("bin"),
        "c",
        "k",
    )
    bins = binned.groupBy("bin").agg(
        F.sum("c").cast("bigint").alias("nb"),
        F.sum("k").cast("bigint").alias("kb"),
        F.round(F.sum("k").cast("double") / F.sum("c"), 10).alias("pb"),
    )
    tot = bins.agg(
        F.sum("nb").cast("bigint").alias("n"),
        F.sum("kb").cast("bigint").alias("k"),
    )
    pts = spark.range(1, 6).select(
        (F.col("id").cast("double") / 10.0).alias("pt")
    )
    nb = (
        bins.crossJoin(F.broadcast(pts))
        .crossJoin(F.broadcast(tot))
        .groupBy("pt", "n", "k")
        .agg(
            (
                F.sum(
                    F.when(F.col("pb") >= F.col("pt"), F.col("kb")).otherwise(
                        0
                    )
                ).cast("double")
                / F.col("n")
                - F.sum(
                    F.when(
                        F.col("pb") >= F.col("pt"),
                        F.col("nb") - F.col("kb"),
                    ).otherwise(0)
                ).cast("double")
                / F.col("n")
                * F.col("pt")
                / (1.0 - F.col("pt"))
            ).alias("nb_model"),
            (
                F.max(F.col("k").cast("double") / F.col("n"))
                - (1.0 - F.max(F.col("k").cast("double") / F.col("n")))
                * F.max(F.col("pt"))
                / (1.0 - F.max(F.col("pt")))
            ).alias("nb_all"),
        )
    )
    return nb.select(
        (F.round("pt", 1) + 0.0).alias("threshold_prob"),
        (F.round("nb_model", 8) + 0.0).alias("net_benefit_model"),
        (F.round("nb_all", 8) + 0.0).alias("net_benefit_treat_all"),
        F.when(
            (F.col("nb_model") >= F.col("nb_all"))
            & (F.col("nb_model") >= 0.0),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("model_wins"),
    ).orderBy("threshold_prob")


# --------------------------------------------------------------------------
# Mixture SPRT always-valid p for the Fri/Sat conversion difference
# --------------------------------------------------------------------------
@register(
    "msprt_always_valid_p",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS k,
               CAST(COUNT(*) AS BIGINT) AS n,
               CASE WHEN CAST(epoch_us(ts) // 86400000000 + 4
                             AS BIGINT) % 7 >= 5
                    THEN 1 ELSE 0 END AS w
        FROM events GROUP BY 1, 4
    ),
    cum AS (
        SELECT d,
               CAST(SUM(CASE WHEN w = 1 THEN k ELSE 0 END)
                    OVER o AS BIGINT) AS k1,
               CAST(SUM(CASE WHEN w = 1 THEN n ELSE 0 END)
                    OVER o AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN w = 0 THEN k ELSE 0 END)
                    OVER o AS BIGINT) AS k0,
               CAST(SUM(CASE WHEN w = 0 THEN n ELSE 0 END)
                    OVER o AS BIGINT) AS n0
        FROM daily
        WINDOW o AS (ORDER BY d ROWS UNBOUNDED PRECEDING)
    ),
    lam AS (
        SELECT d, n1, n0,
               round(CAST(k1 AS DOUBLE) / n1
                     - CAST(k0 AS DOUBLE) / n0, 10) AS diff,
               round((CAST(k1 + k0 AS DOUBLE) / (n1 + n0))
                     * (1.0 - CAST(k1 + k0 AS DOUBLE) / (n1 + n0))
                     * (1.0 / n1 + 1.0 / n0), 12) AS v
        FROM cum WHERE n1 > 0 AND n0 > 0
    ),
    trace AS (
        SELECT d, diff, v,
               round(0.5 * ln(v / (v + 0.01))
                     + diff * diff * 0.01
                       / (2.0 * v * (v + 0.01)), 10) AS log_lambda
        FROM lam WHERE v > 0
    ),
    best AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               MAX(log_lambda) AS max_ll
        FROM trace
    )
    SELECT n_days,
           round(max_ll, 6) + 0.0 AS max_log_lambda,
           round(LEAST(1.0, exp(-GREATEST(max_ll, 0.0))), 8) + 0.0
               AS always_valid_p,
           CAST(CASE WHEN exp(-GREATEST(max_ll, 0.0)) < 0.05
                     THEN 1 ELSE 0 END AS INT) AS rejects_at_05
    FROM best
    """,
)
def msprt_always_valid_p(spark, sf_dir):
    """MIXTURE SPRT always-valid p-value for the Fri/Sat-vs-Sun-Thu
    purchase-rate difference, replayed over the cumulative daily
    trace: with the Gaussian mixture prior tau^2 = 0.01 over the
    effect, log Lambda_t = (1/2) ln(V_t/(V_t+tau^2)) + delta_t^2
    tau^2 / (2 V_t (V_t+tau^2)) in closed form, and p_AV = min(1,
    exp(-max_t log Lambda_t)) is valid at EVERY look — the
    peeking-proof inference that classical z-tests
    (`tost_equivalence_proportions`'s machinery) lose the moment a
    dashboard refreshes daily; the mixture form is the
    always-valid twin of the bank's `betting_evalue_mean_test`
    (e-process route) and `sprt_purchase_rate_monitor` (simple-
    alternative route). The max over the trace IS the sequential
    test.

    Exactness: cumulative 2x2 counts are exact prefix sums over the
    bounded (day x cohort) frame; delta and V round at 10/12 dp;
    each log Lambda is a terminal tree and the max fold is
    order-free. Plan: one rollup, one prefix window on the day
    grid, one fold."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("d"),
        F.when(
            (F.floor(F.unix_micros("ts") / 86_400_000_000) + 4).cast(
                "bigint"
            )
            % 7
            >= 5,
            1,
        )
        .otherwise(0)
        .alias("w"),
    ).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    wo = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = daily.select(
        "d",
        F.sum(F.when(F.col("w") == 1, F.col("k")).otherwise(0))
        .over(wo)
        .cast("bigint")
        .alias("k1"),
        F.sum(F.when(F.col("w") == 1, F.col("n")).otherwise(0))
        .over(wo)
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("w") == 0, F.col("k")).otherwise(0))
        .over(wo)
        .cast("bigint")
        .alias("k0"),
        F.sum(F.when(F.col("w") == 0, F.col("n")).otherwise(0))
        .over(wo)
        .cast("bigint")
        .alias("n0"),
    )
    ok = cum.where((F.col("n1") > 0) & (F.col("n0") > 0))
    pool = (F.col("k1") + F.col("k0")).cast("double") / (
        F.col("n1") + F.col("n0")
    )
    lam = ok.select(
        "d",
        F.round(
            F.col("k1").cast("double") / F.col("n1")
            - F.col("k0").cast("double") / F.col("n0"),
            10,
        ).alias("diff"),
        F.round(
            pool * (1.0 - pool) * (1.0 / F.col("n1") + 1.0 / F.col("n0")),
            12,
        ).alias("v"),
    ).where(F.col("v") > 0)
    tau2 = 0.01
    ll = F.round(
        0.5 * F.log(F.col("v") / (F.col("v") + tau2))
        + F.col("diff")
        * F.col("diff")
        * tau2
        / (2.0 * F.col("v") * (F.col("v") + tau2)),
        10,
    )
    trace = lam.select("d", ll.alias("log_lambda"))
    best = trace.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.max("log_lambda").alias("max_ll"),
    )
    pav = F.least(
        F.lit(1.0),
        F.exp(-F.greatest(F.col("max_ll"), F.lit(0.0))),
    )
    return best.select(
        "n_days",
        (F.round("max_ll", 6) + 0.0).alias("max_log_lambda"),
        (F.round(pav, 8) + 0.0).alias("always_valid_p"),
        F.when(pav < 0.05, 1).otherwise(0).cast("int").alias(
            "rejects_at_05"
        ),
    )


# --------------------------------------------------------------------------
# Two-component Poisson mixture: two unrolled EM iterations
# --------------------------------------------------------------------------
@register(
    "poisson_mixture_em2",
    oracle="""
    WITH hours AS (
        SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h
        FROM events WHERE event_type = 'purchase'
    ),
    span AS (SELECT CAST(min(h) AS BIGINT) AS h0,
                    CAST(max(h) AS BIGINT) AS h1 FROM hours),
    counts AS (
        SELECT h, CAST(COUNT(*) AS BIGINT) AS k FROM hours GROUP BY h
    ),
    filled AS (
        SELECT COALESCE(c.k, 0) AS k
        FROM span, LATERAL UNNEST(range(span.h0, span.h1 + 1)) u(g)
        LEFT JOIN counts c ON u.g = c.h
    ),
    kg AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS nk FROM filled GROUP BY k
    ),
    tots AS (
        SELECT CAST(SUM(nk) AS BIGINT) AS n,
               CAST(SUM(CAST(k AS DECIMAL(19,0)) * nk)
                    AS DECIMAL(38,0)) AS sk
        FROM kg
    ),
    init AS (
        SELECT MAX(tots.n) AS n,
               round(GREATEST(
                   SUM(CASE WHEN kg.k * tots.n
                            <= CAST(tots.sk AS DOUBLE)
                       THEN CAST(kg.k AS DOUBLE) * kg.nk
                       ELSE 0.0 END)
                   / NULLIF(SUM(CASE WHEN kg.k * tots.n
                                <= CAST(tots.sk AS DOUBLE)
                            THEN kg.nk ELSE 0 END), 0),
                   0.05), 8) AS l1,
               round(GREATEST(
                   SUM(CASE WHEN kg.k * tots.n
                            > CAST(tots.sk AS DOUBLE)
                       THEN CAST(kg.k AS DOUBLE) * kg.nk
                       ELSE 0.0 END)
                   / NULLIF(SUM(CASE WHEN kg.k * tots.n
                                > CAST(tots.sk AS DOUBLE)
                            THEN kg.nk ELSE 0 END), 0),
                   0.1), 8) AS l2,
               round(CAST(SUM(CASE WHEN kg.k * tots.n
                              > CAST(tots.sk AS DOUBLE)
                          THEN kg.nk ELSE 0 END) AS DOUBLE)
                     / MAX(tots.n), 8) AS pi
        FROM kg, tots
    ),
    e1 AS (
        SELECT kg.k, kg.nk, init.n, init.l1, init.l2, init.pi,
               round(1.0 / (1.0 + (1.0 - init.pi) / init.pi
                     * exp(init.l2 - init.l1
                           + kg.k * ln(init.l1 / init.l2))), 10)
                   AS r
        FROM kg, init
    ),
    m1 AS (
        SELECT MAX(n) AS n,
               round(CAST(SUM(CAST(round(r * nk, 6)
                   AS DECIMAL(38,6))) AS DOUBLE) / MAX(n), 8)
                   AS pi,
               round(CAST(SUM(CAST(round(r * nk * k, 6)
                   AS DECIMAL(38,6))) AS DOUBLE)
                 / CAST(SUM(CAST(round(r * nk, 6)
                   AS DECIMAL(38,6))) AS DOUBLE), 8) AS l2,
               round(CAST(SUM(CAST(round((1.0 - r) * nk * k, 6)
                   AS DECIMAL(38,6))) AS DOUBLE)
                 / CAST(SUM(CAST(round((1.0 - r) * nk, 6)
                   AS DECIMAL(38,6))) AS DOUBLE), 8) AS l1
        FROM e1
    ),
    e2 AS (
        SELECT kg.k, kg.nk, m1.n, m1.l1, m1.l2, m1.pi,
               round(1.0 / (1.0 + (1.0 - m1.pi) / m1.pi
                     * exp(m1.l2 - m1.l1
                           + kg.k * ln(m1.l1 / m1.l2))), 10) AS r
        FROM kg, m1
    ),
    m2 AS (
        SELECT MAX(n) AS n,
               round(CAST(SUM(CAST(round(r * nk, 6)
                   AS DECIMAL(38,6))) AS DOUBLE) / MAX(n), 8)
                   AS pi,
               round(CAST(SUM(CAST(round(r * nk * k, 6)
                   AS DECIMAL(38,6))) AS DOUBLE)
                 / CAST(SUM(CAST(round(r * nk, 6)
                   AS DECIMAL(38,6))) AS DOUBLE), 8) AS l2,
               round(CAST(SUM(CAST(round((1.0 - r) * nk * k, 6)
                   AS DECIMAL(38,6))) AS DOUBLE)
                 / CAST(SUM(CAST(round((1.0 - r) * nk, 6)
                   AS DECIMAL(38,6))) AS DOUBLE), 8) AS l1
        FROM e2
    )
    SELECT CAST(n AS BIGINT) AS n_hours,
           round(l1, 6) + 0.0 AS lambda_low,
           round(l2, 6) + 0.0 AS lambda_high,
           round(pi, 6) + 0.0 AS pi_high,
           round(pi * l2 + (1.0 - pi) * l1, 6) + 0.0 AS mixture_mean
    FROM m2
    """,
)
def poisson_mixture_em2(spark, sf_dir):
    """TWO-COMPONENT POISSON MIXTURE for the hourly purchase counts,
    fit by TWO UNROLLED EM iterations from the deterministic
    mean-split start (the bradley_terry unrolling doctrine) — the
    REPAIR model for what `poisson_dispersion_panel` diagnoses:
    overdispersion that a quiet-regime/busy-regime mixture explains
    (lambda_low, lambda_high, pi_high are directly the regime
    rates and busy share). The responsibility ratio needs NO
    factorials — they cancel: r(k) = 1/(1 + ((1-pi)/pi)
    exp(l2-l1) (l1/l2)^k), with the power as exp(k ln(l1/l2)),
    libm-shared — so the whole EM lives on the bounded COUNT GRID.

    Exactness: the zero-filled hour grid and count rollup are
    exact; responsibilities round at 10 dp, every M-step fold
    carries 6-dp rounded products through DECIMAL(38,6);
    lambda/pi round at 8 dp between iterations so both engines
    iterate identical doubles. Plan: bounded grid fill, one count
    rollup, two bounded EM passes."""
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
        F.coalesce("k", F.lit(0)).cast("bigint").alias("k")
    )
    kg = filled.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("nk")
    ).persist()
    tots = kg.agg(
        F.sum("nk").cast("bigint").alias("n"),
        F.sum(F.col("k").cast("decimal(19,0)") * F.col("nk"))
        .cast("decimal(38,0)")
        .alias("sk"),
    )
    init = (
        kg.crossJoin(F.broadcast(tots))
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.round(
                F.greatest(
                    F.sum(
                        F.when(
                            F.col("k") * F.col("n")
                            <= F.col("sk").cast("double"),
                            F.col("k").cast("double") * F.col("nk"),
                        ).otherwise(0.0)
                    )
                    / F.nullif(
                        F.sum(
                            F.when(
                                F.col("k") * F.col("n")
                                <= F.col("sk").cast("double"),
                                F.col("nk"),
                            ).otherwise(0)
                        ),
                        F.lit(0),
                    ),
                    F.lit(0.05),
                ),
                8,
            ).alias("l1"),
            F.round(
                F.greatest(
                    F.sum(
                        F.when(
                            F.col("k") * F.col("n")
                            > F.col("sk").cast("double"),
                            F.col("k").cast("double") * F.col("nk"),
                        ).otherwise(0.0)
                    )
                    / F.nullif(
                        F.sum(
                            F.when(
                                F.col("k") * F.col("n")
                                > F.col("sk").cast("double"),
                                F.col("nk"),
                            ).otherwise(0)
                        ),
                        F.lit(0),
                    ),
                    F.lit(0.1),
                ),
                8,
            ).alias("l2"),
            F.round(
                F.sum(
                    F.when(
                        F.col("k") * F.col("n")
                        > F.col("sk").cast("double"),
                        F.col("nk"),
                    ).otherwise(0)
                ).cast("double")
                / F.max("n"),
                8,
            ).alias("pi"),
        )
    )

    def em_step(params):
        r = F.round(
            1.0
            / (
                1.0
                + (1.0 - F.col("pi"))
                / F.col("pi")
                * F.exp(
                    F.col("l2")
                    - F.col("l1")
                    + F.col("k") * F.log(F.col("l1") / F.col("l2"))
                )
            ),
            10,
        )
        est = kg.crossJoin(F.broadcast(params)).select(
            "k", "nk", "n", r.alias("r")
        )

        def dfold(expr, name):
            return (
                F.sum(F.round(expr, 6).cast("decimal(38,6)"))
                .cast("double")
                .alias(name)
            )

        return est.agg(
            F.max("n").cast("bigint").alias("n"),
            dfold(F.col("r") * F.col("nk"), "srn"),
            dfold(F.col("r") * F.col("nk") * F.col("k"), "srnk"),
            dfold((1.0 - F.col("r")) * F.col("nk"), "s1rn"),
            dfold((1.0 - F.col("r")) * F.col("nk") * F.col("k"), "s1rnk"),
        ).select(
            "n",
            F.round(F.col("srn") / F.col("n"), 8).alias("pi"),
            F.round(F.col("srnk") / F.col("srn"), 8).alias("l2"),
            F.round(F.col("s1rnk") / F.col("s1rn"), 8).alias("l1"),
        )

    m1 = em_step(init)
    m2 = em_step(m1)
    return m2.select(
        F.col("n").alias("n_hours"),
        (F.round("l1", 6) + 0.0).alias("lambda_low"),
        (F.round("l2", 6) + 0.0).alias("lambda_high"),
        (F.round("pi", 6) + 0.0).alias("pi_high"),
        (
            F.round(
                F.col("pi") * F.col("l2")
                + (1.0 - F.col("pi")) * F.col("l1"),
                6,
            )
            + 0.0
        ).alias("mixture_mean"),
    )


# --------------------------------------------------------------------------
# k-truss decomposition (2 unrolled pruning rounds) on the brand graph
# --------------------------------------------------------------------------
from .bank_r14 import _BRAND_EDGE_SQL, _brand_sym  # noqa: E402


@register(
    "k_truss_brand_graph",
    oracle=f"""
    WITH {_BRAND_EDGE_SQL},
    t0 AS (SELECT u, v FROM bedges),
    ts0 AS (
        SELECT e.u, e.v, CAST(COUNT(*) AS BIGINT) AS sup
        FROM t0 e
        JOIN sym a ON a.u = e.u
        JOIN sym b ON b.u = e.v AND b.v = a.v
        GROUP BY e.u, e.v
    ),
    t0s AS (
        SELECT t0.u, t0.v,
               CAST(COALESCE(ts0.sup, 0) AS BIGINT) AS sup
        FROM t0 LEFT JOIN ts0 ON t0.u = ts0.u AND t0.v = ts0.v
    ),
    t1 AS (SELECT u, v FROM t0s WHERE sup >= 2),
    tsym1 AS (SELECT u, v FROM t1
              UNION ALL SELECT v AS u, u AS v FROM t1),
    ts1 AS (
        SELECT e.u, e.v, CAST(COUNT(*) AS BIGINT) AS sup
        FROM t1 e
        JOIN tsym1 a ON a.u = e.u
        JOIN tsym1 b ON b.u = e.v AND b.v = a.v
        GROUP BY e.u, e.v
    ),
    t2 AS (
        SELECT t1.u, t1.v,
               CAST(COALESCE(ts1.sup, 0) AS BIGINT) AS sup
        FROM t1 LEFT JOIN ts1 ON t1.u = ts1.u AND t1.v = ts1.v
    ),
    t2k AS (SELECT u, v FROM t2 WHERE sup >= 2)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM t0)
               AS n_edges_initial,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM t0s
            WHERE sup >= 1) AS edges_in_3truss_r1,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM t1)
               AS edges_4truss_round1,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM t2k)
               AS edges_4truss_round2,
           CAST(CASE WHEN (SELECT COUNT(*) FROM t1)
                          = (SELECT COUNT(*) FROM t2k)
                     THEN 1 ELSE 0 END AS INT)
               AS converged_round2
    FROM (SELECT 1) q
    """,
)
def k_truss_brand_graph(spark, sf_dir):
    """k-TRUSS decomposition of the strong-tie brand co-purchase
    graph (the `katz_centrality_brands` / `adamic_adar` edge set),
    TWO unrolled support-pruning rounds: an edge is in the 4-truss
    iff it survives repeated removal of edges in fewer than 2
    triangles — the cohesion concept BETWEEN triangles (too local)
    and k-core (too permissive: a 2-core can be a cycle with zero
    triangles); trusses are the standard dense-community backbone.
    `converged_round2` = 1 certifies the unrolled fixpoint on this
    graph (the k_core unrolling doctrine: fixed rounds, emitted
    convergence, never a loop).

    Exactness: supports are exact triangle counts from wedge
    equi-joins on the bounded 25-node symmetric adjacency; every
    count is a BIGINT. Plan: the staged brand-edge rollup, then
    two rounds of (wedge join -> support -> filter) on frames of
    at most a few hundred rows."""
    bedges = _brand_sym(spark, sf_dir).persist()
    e0 = bedges.where(F.col("u") < F.col("v")).select("u", "v").persist()

    def support(edges, symf):
        a = symf.select(F.col("u").alias("eu"), F.col("v").alias("w1"))
        b = symf.select(F.col("u").alias("ev"), F.col("v").alias("w2"))
        return (
            edges.join(a, edges.u == F.col("eu"))
            .join(
                b,
                (edges.v == F.col("ev")) & (F.col("w1") == F.col("w2")),
            )
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).cast("bigint").alias("sup"))
        )

    sym0 = bedges
    s0 = support(e0, sym0)
    e0s = e0.join(s0, ["u", "v"], "left").select(
        "u", "v", F.coalesce("sup", F.lit(0)).cast("bigint").alias("sup")
    ).persist()
    e1 = e0s.where(F.col("sup") >= 2).select("u", "v").persist()
    sym1 = e1.unionByName(
        e1.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    s1 = support(e1, sym1)
    e2 = e1.join(s1, ["u", "v"], "left").select(
        "u", "v", F.coalesce("sup", F.lit(0)).cast("bigint").alias("sup")
    )
    e2k = e2.where(F.col("sup") >= 2)
    n0 = e0.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges_initial"))
    n3 = e0s.where(F.col("sup") >= 1).agg(
        F.count(F.lit(1)).cast("bigint").alias("edges_in_3truss_r1")
    )
    n41 = e1.agg(
        F.count(F.lit(1)).cast("bigint").alias("edges_4truss_round1")
    )
    n42 = e2k.agg(
        F.count(F.lit(1)).cast("bigint").alias("edges_4truss_round2")
    )
    return (
        n0.crossJoin(F.broadcast(n3))
        .crossJoin(F.broadcast(n41))
        .crossJoin(F.broadcast(n42))
        .select(
            "n_edges_initial",
            "edges_in_3truss_r1",
            "edges_4truss_round1",
            "edges_4truss_round2",
            F.when(
                F.col("edges_4truss_round1")
                == F.col("edges_4truss_round2"),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("converged_round2"),
        )
    )


# --------------------------------------------------------------------------
# Hampel filter over the daily revenue series (rolling median, global MAD)
# --------------------------------------------------------------------------
@register(
    "hampel_filter_days",
    oracle="""
    WITH days AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    roll AS (
        SELECT d, y,
               quantile_cont(y, 0.5) OVER (ORDER BY d
                   ROWS BETWEEN 7 PRECEDING AND 7 FOLLOWING) AS rm
        FROM days
    ),
    gmed AS (
        SELECT quantile_cont(y, 0.5) AS m FROM days
    ),
    gmad AS (
        SELECT quantile_cont(abs(days.y - gmed.m), 0.5) AS mad
        FROM days, gmed
    ),
    z AS (
        SELECT d, y, rm,
               round(abs(y - rm) / (1.4826 * gmad.mad), 8) AS hz
        FROM roll, gmad
    ),
    worst AS (
        SELECT d AS wd, hz AS wz FROM z
        ORDER BY hz DESC, d ASC LIMIT 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN hz > 3.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           MAX(worst.wd) AS worst_day_epoch,
           round(MAX(worst.wz), 6) + 0.0 AS worst_hampel_z
    FROM z, worst
    """,
)
def hampel_filter_days(spark, sf_dir):
    """HAMPEL FILTER over the daily revenue series: each day is
    scored |y - rolling 15-day median| / (1.4826 MAD) with the
    GLOBAL MAD as the scale (the documented variant: a global
    robust scale keeps the score a pure location filter; the
    rolling-MAD variant needs a per-row second pass), days above 3
    flagged — the despiking pass every forecasting pipeline runs
    before model fitting, robust where `seasonal_esd_outliers`
    (moment-based ESD) is itself outlier-corrupted during bursts.
    Window medians over ODD 15-day frames are exact elements
    (boundary frames may be even: the interpolated midpoint of two
    exact cents integers is an exact .5 — still bit-identical).

    Exactness: cents exact; rolling and global medians are
    quantile_cont/percentile over identical frames; z rounds at 8
    dp; the worst day is a total-order top-1. Plan: one day rollup,
    one +/-7-row window over the bounded day frame, two scalar
    medians, one fold."""
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
    roll = days.select(
        "d",
        "y",
        F.percentile("y", F.lit(0.5))
        .over(Window.orderBy("d").rowsBetween(-7, 7))
        .alias("rm"),
    )
    gmed = days.agg(F.percentile("y", F.lit(0.5)).alias("m"))
    gmad = days.crossJoin(F.broadcast(gmed)).agg(
        F.percentile(F.abs(F.col("y") - F.col("m")), F.lit(0.5)).alias(
            "mad"
        )
    )
    z = roll.crossJoin(F.broadcast(gmad)).select(
        "d",
        F.round(
            F.abs(F.col("y") - F.col("rm")) / (1.4826 * F.col("mad")),
            8,
        ).alias("hz"),
    ).persist()
    worst = (
        z.orderBy(F.col("hz").desc(), F.col("d").asc())
        .limit(1)
        .select(F.col("d").alias("wd"), F.col("hz").alias("wz"))
    )
    fold = z.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.when(F.col("hz") > 3.0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_flagged"),
    )
    return fold.crossJoin(F.broadcast(worst)).select(
        "n_days",
        "n_flagged",
        F.col("wd").alias("worst_day_epoch"),
        (F.round("wz", 6) + 0.0).alias("worst_hampel_z"),
    )


# --------------------------------------------------------------------------
# SAX symbolic motifs of the daily revenue series
# --------------------------------------------------------------------------
@register(
    "sax_motif_counts",
    oracle="""
    WITH days AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    span AS (SELECT CAST(min(d) AS BIGINT) AS d0 FROM days),
    paa AS (
        SELECT CAST((days.d - span.d0) // 3 AS BIGINT) AS seg,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM days, span GROUP BY 1
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(CAST(sy AS DOUBLE) / c, 4)
                             AS DECIMAL(38,4))) AS DOUBLE) AS s,
               CAST(SUM(CAST(round(pow(CAST(sy AS DOUBLE) / c, 2), 4)
                             AS DECIMAL(38,4))) AS DOUBLE) AS ss
        FROM paa
    ),
    sym AS (
        SELECT seg,
               CASE WHEN (CAST(sy AS DOUBLE) / c - mom.s / mom.n)
                         / sqrt((mom.ss - mom.s * mom.s / mom.n)
                                / mom.n) < -0.4307272992954576
                    THEN 'a'
                    WHEN (CAST(sy AS DOUBLE) / c - mom.s / mom.n)
                         / sqrt((mom.ss - mom.s * mom.s / mom.n)
                                / mom.n) < 0.4307272992954576
                    THEN 'b'
                    ELSE 'c' END AS s
        FROM paa, mom
    ),
    words AS (
        SELECT sym.s
               || LEAD(sym.s, 1) OVER (ORDER BY seg)
               || LEAD(sym.s, 2) OVER (ORDER BY seg) AS w
        FROM sym
    ),
    counts AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        FROM words WHERE w IS NOT NULL GROUP BY w
    )
    SELECT w AS motif, c AS n_occurrences,
           round(CAST(c AS DOUBLE)
                 / (SELECT SUM(c) FROM counts), 6) + 0.0 AS share
    FROM counts ORDER BY c DESC, w ASC LIMIT 5
    """,
)
def sax_motif_counts(spark, sf_dir):
    """SAX symbolic MOTIF mining on daily revenue: PAA-compress to
    3-day segment means, z-normalize, discretize into the exact
    3-symbol Gaussian-equiprobable alphabet (breakpoints
    +/-0.43072730, the N(0,1) tertiles), and count the 3-symbol
    words — the top motifs are the series' recurring local SHAPES
    ('abc' = steady rise, 'cac' = dip-recover), the time-series-
    mining primitive behind anomaly dictionaries and seasonality
    fingerprints that no spectral or autocorrelation readout
    exposes. Top-5 by (count desc, word).

    Exactness: segment sums are exact cents; PAA means round at 4
    dp into DECIMAL folds for the z-normalization moments; the
    breakpoint is the literal N(0,1) tertile; words come from two
    lag windows over the bounded segment grid. Plan: one day
    rollup, one segment rollup, one windowed word pass, one top-5."""
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
    span = days.agg(F.min("d").alias("d0"))
    paa = (
        days.crossJoin(F.broadcast(span))
        .groupBy(
            F.floor((F.col("d") - F.col("d0")) / 3)
            .cast("bigint")
            .alias("seg")
        )
        .agg(
            F.sum("y").cast("bigint").alias("sy"),
            F.count(F.lit(1)).cast("bigint").alias("c"),
        )
        .persist()
    )
    mean_seg = F.col("sy").cast("double") / F.col("c")
    mom = paa.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round(mean_seg, 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("s"),
        F.sum(F.round(F.pow(mean_seg, 2), 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("ss"),
    )
    bp = 0.4307272992954576
    z = (mean_seg - F.col("s") / F.col("n")) / F.sqrt(
        (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / F.col("n")
    )
    sym = paa.crossJoin(F.broadcast(mom)).select(
        "seg",
        F.when(z < -bp, "a").when(z < bp, "b").otherwise("c").alias("s"),
    )
    wo = Window.orderBy("seg")
    words = sym.select(
        F.concat(
            F.col("s"),
            F.lead("s", 1).over(wo),
            F.lead("s", 2).over(wo),
        ).alias("w")
    ).where(F.col("w").isNotNull())
    counts = words.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).persist()
    tot = counts.agg(F.sum("c").cast("bigint").alias("tc"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(5)
        .select(
            F.col("w").alias("motif"),
            F.col("c").alias("n_occurrences"),
            (
                F.round(F.col("c").cast("double") / F.col("tc"), 6)
                + 0.0
            ).alias("share"),
        )
    )


# --------------------------------------------------------------------------
# Inverse-MSE forecast combination, trained first half, tested second
# --------------------------------------------------------------------------
@register(
    "forecast_combination_imse",
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
        FROM span, LATERAL UNNEST(range(span.d0, span.d1 + 1)) u(g)
        LEFT JOIN days ON u.g = days.d
    ),
    fc AS (
        SELECT f.d, f.y,
               LAG(f.y, 1) OVER (ORDER BY f.d) AS f_naive,
               LAG(f.y, 7) OVER (ORDER BY f.d) AS f_seasonal,
               CASE WHEN f.d <= (span.d0 + span.d1) // 2
                    THEN 1 ELSE 0 END AS train
        FROM fill f, span
    ),
    ok AS (
        SELECT * FROM fc
        WHERE f_naive IS NOT NULL AND f_seasonal IS NOT NULL
    ),
    mse AS (
        SELECT
            CAST(SUM(CAST(round(pow((y - f_naive) / 100000.0, 2), 6)
                          AS DECIMAL(38,6))) AS DOUBLE)
                / COUNT(*) AS m1,
            CAST(SUM(CAST(round(pow((y - f_seasonal) / 100000.0, 2),
                          6) AS DECIMAL(38,6))) AS DOUBLE)
                / COUNT(*) AS m2
        FROM ok WHERE train = 1
    ),
    wts AS (
        SELECT round((1.0 / m1) / (1.0 / m1 + 1.0 / m2), 8) AS w1,
               round((1.0 / m2) / (1.0 / m1 + 1.0 / m2), 8) AS w2
        FROM mse
    ),
    test AS (
        SELECT
            CAST(COUNT(*) AS BIGINT) AS n_test,
            CAST(SUM(CAST(round(pow((y - f_naive) / 100000.0, 2), 6)
                          AS DECIMAL(38,6))) AS DOUBLE)
                / COUNT(*) AS t1,
            CAST(SUM(CAST(round(pow((y - f_seasonal) / 100000.0, 2),
                          6) AS DECIMAL(38,6))) AS DOUBLE)
                / COUNT(*) AS t2,
            CAST(SUM(CAST(round(pow((y - (wts.w1 * f_naive
                                          + wts.w2 * f_seasonal))
                                    / 100000.0, 2), 6)
                          AS DECIMAL(38,6))) AS DOUBLE)
                / COUNT(*) AS tc,
            CAST(SUM(CAST(round(pow((y - (0.5 * f_naive
                                          + 0.5 * f_seasonal))
                                    / 100000.0, 2), 6)
                          AS DECIMAL(38,6))) AS DOUBLE)
                / COUNT(*) AS te
        FROM ok, wts WHERE train = 0
        GROUP BY wts.w1, wts.w2
    )
    SELECT test.n_test, round(wts.w1, 6) + 0.0 AS weight_naive,
           round(test.t1, 4) + 0.0 AS mse_naive,
           round(test.t2, 4) + 0.0 AS mse_seasonal,
           round(test.te, 4) + 0.0 AS mse_equal_weights,
           round(test.tc, 4) + 0.0 AS mse_inverse_mse_weights
    FROM test, wts
    """,
)
def forecast_combination_imse(spark, sf_dir):
    """FORECAST COMBINATION on daily revenue: weight the naive
    (lag-1) and seasonal-naive (lag-7) forecasters by inverse
    training-half MSE and evaluate all four policies — each base
    model, equal weights, and inverse-MSE weights — on the held-out
    second half. The Bates-Granger result under test: the
    combination usually beats both parents, and EQUAL weights
    usually run the optimized weights close (the "forecast
    combination puzzle") — this query measures both effects on this
    series, completing the forecasting bench
    (`diebold_mariano_forecast` compares two models; this SHIPS the
    merge). Honest split: weights learned on half 1 only.

    Exactness: forecasts are exact lagged cents on the zero-filled
    grid; squared errors in k$ round at 6 dp into DECIMAL(38,6)
    folds; weights round at 8 dp before the test pass. Plan: one
    day rollup, grid fill, two lag windows, two folds."""
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
    )
    wo = Window.orderBy("d")
    fc = fill.crossJoin(F.broadcast(span)).select(
        "d",
        "y",
        F.lag("y", 1).over(wo).alias("f_naive"),
        F.lag("y", 7).over(wo).alias("f_seasonal"),
        F.when(
            F.col("d")
            <= F.floor((F.col("d0") + F.col("d1")) / 2).cast("bigint"),
            1,
        )
        .otherwise(0)
        .alias("train"),
    )
    ok = fc.where(
        F.col("f_naive").isNotNull() & F.col("f_seasonal").isNotNull()
    ).persist()

    def msefold(err_expr, name):
        return (
            F.sum(
                F.round(F.pow(err_expr / 100000.0, 2), 6).cast(
                    "decimal(38,6)"
                )
            ).cast("double")
            / F.count(F.lit(1))
        ).alias(name)

    mse = ok.where(F.col("train") == 1).agg(
        msefold(F.col("y") - F.col("f_naive"), "m1"),
        msefold(F.col("y") - F.col("f_seasonal"), "m2"),
    )
    wts = mse.select(
        F.round(
            (1.0 / F.col("m1")) / (1.0 / F.col("m1") + 1.0 / F.col("m2")),
            8,
        ).alias("w1"),
        F.round(
            (1.0 / F.col("m2")) / (1.0 / F.col("m1") + 1.0 / F.col("m2")),
            8,
        ).alias("w2"),
    )
    test = (
        ok.where(F.col("train") == 0)
        .crossJoin(F.broadcast(wts))
        .groupBy("w1", "w2")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            msefold(F.col("y") - F.col("f_naive"), "t1"),
            msefold(F.col("y") - F.col("f_seasonal"), "t2"),
            msefold(
                F.col("y")
                - (
                    F.col("w1") * F.col("f_naive")
                    + F.col("w2") * F.col("f_seasonal")
                ),
                "tc",
            ),
            msefold(
                F.col("y")
                - (0.5 * F.col("f_naive") + 0.5 * F.col("f_seasonal")),
                "te",
            ),
        )
    )
    return test.select(
        "n_test",
        (F.round("w1", 6) + 0.0).alias("weight_naive"),
        (F.round("t1", 4) + 0.0).alias("mse_naive"),
        (F.round("t2", 4) + 0.0).alias("mse_seasonal"),
        (F.round("te", 4) + 0.0).alias("mse_equal_weights"),
        (F.round("tc", 4) + 0.0).alias("mse_inverse_mse_weights"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "sax_motif_counts": (
            "lag windows + top-5 over the bounded 3-day segment grid "
            "(calendar class)"
        ),
    }
)


# --------------------------------------------------------------------------
# ACE (abundance-based coverage) vocabulary richness estimator
# --------------------------------------------------------------------------
@register(
    "ace_richness_estimator",
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
    fold AS (
        SELECT
            CAST(SUM(CASE WHEN c > 10 THEN 1 ELSE 0 END) AS BIGINT)
                AS s_abund,
            CAST(SUM(CASE WHEN c <= 10 THEN 1 ELSE 0 END) AS BIGINT)
                AS s_rare,
            CAST(SUM(CASE WHEN c <= 10 THEN c ELSE 0 END) AS BIGINT)
                AS n_rare,
            CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS f1,
            CAST(SUM(CASE WHEN c <= 10
                     THEN CAST(c AS DECIMAL(19,0)) * (c - 1)
                     ELSE 0 END) AS DECIMAL(38,0)) AS sii
        FROM tf
    ),
    st AS (
        SELECT s_abund, s_rare, n_rare, f1,
               CASE WHEN n_rare > 0
                    THEN round(1.0 - CAST(f1 AS DOUBLE) / n_rare, 10)
               END AS cace
        FROM fold
    ),
    g2 AS (
        SELECT st.*,
               CASE WHEN st.n_rare > 1 AND st.cace > 0
                    THEN round(GREATEST(
                        (st.s_rare / st.cace)
                        * CAST(fold.sii AS DOUBLE)
                        / (CAST(st.n_rare AS DOUBLE)
                           * (st.n_rare - 1))
                        - 1.0, 0.0), 10)
               END AS gamma2
        FROM st, fold
    )
    SELECT s_abund AS s_abundant, s_rare AS s_rare,
           f1 AS hapax_f1,
           round(cace, 8) + 0.0 AS coverage_ace,
           round(gamma2, 8) + 0.0 AS gamma_sq_cv,
           round(CASE WHEN s_rare = 0 THEN CAST(s_abund AS DOUBLE)
                      WHEN cace > 0 AND gamma2 IS NOT NULL
                      THEN s_abund + s_rare / cace
                           + f1 * gamma2 / cace
                 END, 4) + 0.0 AS ace_richness
    FROM g2
    """,
)
def ace_richness_estimator(spark, sf_dir):
    """ACE (Abundance-based Coverage Estimator) of the TRUE
    vocabulary size: split types at the classical rare/abundant cut
    (count <= 10), estimate sample coverage C = 1 - F1/N_rare from
    the hapax share, inflate the rare types by 1/C, and correct
    with the squared CV of rare abundances — ACE = S_abund +
    S_rare/C + F1 gamma^2/C. The third member of the unseen-species
    bench: `chao1_vocabulary_estimate` uses only F1/F2,
    `good_turing_vocab` estimates unseen MASS; ACE uses the whole
    rare-abundance profile and dominates Chao1 when doubletons are
    noisy — three estimators converging is the coverage
    certification a corpus-dedup pipeline wants before claiming
    "we have seen the vocabulary". TRIGRAM types (the
    good_turing_vocab tokenization — the synthetic corpus's unigram
    vocabulary saturates at tiny SFs, leaving no rare spectrum);
    degenerate spectra (no rare types, or all-hapax rare) emit the
    documented NULL/S_abund fallbacks behind identical guards.

    Exactness: frequency-of-frequency counts are exact; the
    i(i-1) fold widens through DECIMAL(19,0); C and gamma^2 round
    at 10 dp. Plan: one token rollup, one fold."""
    d = t(spark, sf_dir, "documents")
    tri = F.expr(
        "transform(sequence(1, size(split(text, ' ')) - 2), i -> "
        "concat_ws(' ', split(text, ' ')[i - 1], "
        "split(text, ' ')[i], split(text, ' ')[i + 1]))"
    )
    tok = d.select(F.explode(tri).alias("w"))
    tf = tok.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    fold = tf.agg(
        F.sum(F.when(F.col("c") > 10, 1).otherwise(0))
        .cast("bigint")
        .alias("s_abund"),
        F.sum(F.when(F.col("c") <= 10, 1).otherwise(0))
        .cast("bigint")
        .alias("s_rare"),
        F.sum(F.when(F.col("c") <= 10, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_rare"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("f1"),
        F.sum(
            F.when(
                F.col("c") <= 10,
                F.col("c").cast("decimal(19,0)") * (F.col("c") - 1),
            ).otherwise(F.lit(0).cast("decimal(19,0)"))
        )
        .cast("decimal(38,0)")
        .alias("sii"),
    )
    cace = F.when(
        F.col("n_rare") > 0,
        F.round(
            1.0 - F.col("f1").cast("double") / F.col("n_rare"), 10
        ),
    )
    st = fold.select("*", cace.alias("cace"))
    gamma2 = F.when(
        (F.col("n_rare") > 1) & (F.col("cace") > 0),
        F.round(
            F.greatest(
                (F.col("s_rare") / F.col("cace"))
                * F.col("sii").cast("double")
                / (
                    F.col("n_rare").cast("double")
                    * (F.col("n_rare") - 1)
                )
                - 1.0,
                F.lit(0.0),
            ),
            10,
        ),
    )
    g2 = st.select("*", gamma2.alias("gamma2"))
    return g2.select(
        F.col("s_abund").alias("s_abundant"),
        F.col("s_rare").alias("s_rare"),
        F.col("f1").alias("hapax_f1"),
        (F.round("cace", 8) + 0.0).alias("coverage_ace"),
        (F.round("gamma2", 8) + 0.0).alias("gamma_sq_cv"),
        (
            F.round(
                F.when(
                    F.col("s_rare") == 0,
                    F.col("s_abund").cast("double"),
                ).when(
                    (F.col("cace") > 0)
                    & F.col("gamma2").isNotNull(),
                    F.col("s_abund")
                    + F.col("s_rare") / F.col("cace")
                    + F.col("f1") * F.col("gamma2") / F.col("cace"),
                ),
                4,
            )
            + 0.0
        ).alias("ace_richness"),
    )


# --------------------------------------------------------------------------
# Beta diversity of token vocabularies across document sources
# --------------------------------------------------------------------------
@register(
    "beta_diversity_sources",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    st AS (
        SELECT DISTINCT source, w FROM tok WHERE w <> ''
    ),
    alpha AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS a
        FROM st GROUP BY source
    ),
    gam AS (
        SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS g FROM st
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(a) AS BIGINT) AS sa,
               CAST(MIN(a) AS BIGINT) AS amin,
               CAST(MAX(a) AS BIGINT) AS amax
        FROM alpha
    )
    SELECT fold.k AS n_sources, gam.g AS gamma_vocab,
           round(CAST(fold.sa AS DOUBLE) / fold.k, 4) + 0.0
               AS mean_alpha_vocab,
           round(CAST(gam.g AS DOUBLE) / (fold.sa * 1.0 / fold.k),
                 6) + 0.0 AS whittaker_beta,
           round((CAST(gam.g AS DOUBLE) / (fold.sa * 1.0 / fold.k)
                  - 1.0) / (fold.k - 1.0), 6) + 0.0
               AS harrison_beta_norm,
           round(1.0 - CAST(gam.g AS DOUBLE) / fold.sa, 6) + 0.0
               AS vocab_overlap_share
    FROM fold, gam
    """,
)
def beta_diversity_sources(spark, sf_dir):
    """BETA DIVERSITY of token vocabularies across document sources
    (sources as "sites", word types as "species"): Whittaker's
    beta = gamma/mean-alpha (1 = every source shares one
    vocabulary; k = fully disjoint vocabularies), Harrison's
    (0..1)-normalized form, and the overlap share 1 - gamma/sum
    alpha — the corpus-heterogeneity readout that decides whether
    per-source dedup/quality thresholds are even meaningful:
    `js_divergence_sources` compares frequency SHAPES; beta
    diversity counts vocabulary turnover itself. Presence grain
    (DISTINCT token per source).

    Exactness: all alpha/gamma counts are exact BIGINTs from one
    distinct rollup; ratios are terminal trees. Plan: one explode +
    distinct, two rollups, one fold."""
    d = t(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .distinct()
        .persist()
    )
    alpha = st.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("a")
    )
    gam = st.agg(F.countDistinct("w").cast("bigint").alias("g"))
    fold = alpha.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("a").cast("bigint").alias("sa"),
    )
    j = fold.crossJoin(F.broadcast(gam))
    k = F.col("k")
    mean_a = F.col("sa") * 1.0 / k
    wb = F.col("g").cast("double") / mean_a
    return j.select(
        k.alias("n_sources"),
        F.col("g").alias("gamma_vocab"),
        (F.round(F.col("sa").cast("double") / k, 4) + 0.0).alias(
            "mean_alpha_vocab"
        ),
        (F.round(wb, 6) + 0.0).alias("whittaker_beta"),
        (F.round((wb - 1.0) / (k - 1.0), 6) + 0.0).alias(
            "harrison_beta_norm"
        ),
        (
            F.round(1.0 - F.col("g").cast("double") / F.col("sa"), 6)
            + 0.0
        ).alias("vocab_overlap_share"),
    )


# --------------------------------------------------------------------------
# Shorrocks mobility index of customer spend quintiles, half vs half
# --------------------------------------------------------------------------
@register(
    "shorrocks_mobility_index",
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
        SELECT u, half, CAST(SUM(cents) AS BIGINT) AS m
        FROM lab GROUP BY u, half
    ),
    grid AS (
        SELECT half, m AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM spend GROUP BY half, m
    ),
    cum AS (
        SELECT half, v,
               CAST(SUM(c) OVER (PARTITION BY half ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING) AS BIGINT) AS below,
               CAST(SUM(c) OVER (PARTITION BY half) AS BIGINT) AS n
        FROM (SELECT half, v, c FROM grid) g
    ),
    scored AS (
        SELECT s.u, s.half,
               CAST(LEAST(5, 1 + (5 * COALESCE(cum.below, 0))
                    // cum.n) AS BIGINT) AS q
        FROM spend s JOIN cum ON s.half = cum.half AND s.m = cum.v
    ),
    pairs AS (
        SELECT a.q AS q1, b.q AS q2
        FROM scored a JOIN scored b
          ON a.u = b.u AND a.half = 1 AND b.half = 2
    ),
    tm AS (
        SELECT q1, q2, CAST(COUNT(*) AS BIGINT) AS c
        FROM pairs GROUP BY q1, q2
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM tm),
    rowm AS (
        SELECT q1, CAST(SUM(c) AS BIGINT) AS rc FROM tm GROUP BY q1
    ),
    stat AS (
        SELECT
            CAST(SUM(CASE WHEN tm.q1 = tm.q2 THEN tm.c ELSE 0 END)
                 AS DOUBLE) AS diag_w,
            CAST(SUM(CAST(round(
                (CAST(tm.c AS DOUBLE) / rowm.rc)
                * (CAST(rowm.rc AS DOUBLE) / tot.n)
                * abs(tm.q1 - tm.q2), 10) AS DECIMAL(28,10)))
                 AS DOUBLE) AS bart,
            CAST(SUM(CAST(round(CAST(tm.c AS DOUBLE) / rowm.rc, 10)
                 AS DECIMAL(28,10)) * CASE WHEN tm.q1 = tm.q2
                 THEN 1 ELSE 0 END) AS DOUBLE) AS trace_p
        FROM tm JOIN rowm ON tm.q1 = rowm.q1, tot
    )
    SELECT tot.n AS n_matched_customers,
           round(stat.diag_w / tot.n, 6) + 0.0 AS immobile_share,
           round((5.0 - stat.trace_p) / 4.0, 6) + 0.0
               AS shorrocks_m,
           round(stat.bart, 6) + 0.0 AS bartholomew_b
    FROM stat, tot
    """,
)
def shorrocks_mobility_index(spark, sf_dir):
    """SHORROCKS MOBILITY of customer spend quintiles between the
    first and second half of the order history: the 5x5 quintile
    transition matrix's trace gives M = (k - tr P)/(k - 1) (0 =
    everyone stays in their quintile, 1 = average full turnover)
    and Bartholomew's B adds HOW FAR movers move — the
    league-table-stability readout that static inequality
    (`palma_quintile_shares`, Gini) cannot see: two economies with
    one Gini can differ entirely in whether the same customers stay
    rich. Quintiles use the grid-rank rule per half (ties share a
    score); only customers active in BOTH halves enter P.

    Exactness: per-(half, customer) spends are exact cents;
    quintile scores are exact integer grid ranks; P's rows
    round at 10 dp into DECIMAL folds. Plan: one rollup, two
    half-partitioned grid passes, one self-join on customer, one
    25-cell fold."""
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
        .alias("cut")
    )
    lab = o.crossJoin(F.broadcast(cut)).select(
        F.col("o_custkey").alias("u"),
        F.when(
            F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
            <= F.col("cut"),
            1,
        )
        .otherwise(2)
        .alias("half"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("cents"),
    )
    # per-(half, bucket) windows (exact_cumulative keyed by half, the
    # lorenz_dominance device), not per-half windows: |halves| would
    # cap parallelism at two tasks
    spend = lab.groupBy("u", "half").agg(
        F.sum("cents").cast("bigint").alias("m")
    )
    grid = spend.groupBy("half", F.col("m").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    acc, _ = exact_cumulative(
        grid, ("v",), {"n": F.sum("c")}, keys=("half",)
    )
    cum = acc.select(
        "half",
        "v",
        (F.col("cum_n") - F.col("c")).cast("bigint").alias("below"),
        F.col("tot_n").cast("bigint").alias("n"),
    )
    cum2 = cum.select(
        F.col("half").alias("ch"),
        F.col("v").alias("cv"),
        "below",
        "n",
    )
    scored = spend.join(
        cum2,
        (F.col("half") == F.col("ch")) & (F.col("m") == F.col("cv")),
    ).select(
        "u",
        F.col("half").alias("h"),
        F.least(
            F.lit(5),
            (1 + F.floor(5 * F.col("below") / F.col("n"))).cast(
                "bigint"
            ),
        ).alias("q"),
    )
    a = scored.where(F.col("h") == 1).select(
        "u", F.col("q").alias("q1")
    )
    b = scored.where(F.col("h") == 2).select(
        "u", F.col("q").alias("q2")
    )
    tm = a.join(b, "u").groupBy("q1", "q2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).persist()
    tot = tm.agg(F.sum("c").cast("bigint").alias("n"))
    rowm = tm.groupBy("q1").agg(F.sum("c").cast("bigint").alias("rc"))
    j = tm.join(F.broadcast(rowm), "q1").crossJoin(F.broadcast(tot))
    stat = j.agg(
        F.sum(
            F.when(F.col("q1") == F.col("q2"), F.col("c")).otherwise(0)
        )
        .cast("double")
        .alias("diag_w"),
        F.sum(
            F.round(
                (F.col("c").cast("double") / F.col("rc"))
                * (F.col("rc").cast("double") / F.col("n"))
                * F.abs(F.col("q1") - F.col("q2")),
                10,
            ).cast("decimal(28,10)")
        )
        .cast("double")
        .alias("bart"),
        F.sum(
            F.round(
                F.col("c").cast("double") / F.col("rc"), 10
            ).cast("decimal(28,10)")
            * F.when(F.col("q1") == F.col("q2"), 1).otherwise(0)
        )
        .cast("double")
        .alias("trace_p"),
        F.max("n").cast("bigint").alias("n"),
    )
    return stat.select(
        F.col("n").alias("n_matched_customers"),
        (F.round(F.col("diag_w") / F.col("n"), 6) + 0.0).alias(
            "immobile_share"
        ),
        (
            F.round((5.0 - F.col("trace_p")) / 4.0, 6) + 0.0
        ).alias("shorrocks_m"),
        (F.round("bart", 6) + 0.0).alias("bartholomew_b"),
    )



# --------------------------------------------------------------------------
# Pairs-trading distance: most co-moving brand revenue paths
# --------------------------------------------------------------------------
@register(
    "pairs_trading_distance",
    oracle="""
    WITH bd AS (
        SELECT p.p_brand AS b,
               CAST(epoch_us(l.l_shipdate) // 86400000000 // 7
                    AS BIGINT) AS wk,
               CAST(SUM(CAST(CAST(l.l_extendedprice
                                  AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS rev
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT b, CAST(SUM(rev) AS BIGINT) AS trev FROM bd GROUP BY b
    ),
    path AS (
        SELECT bd.b, bd.wk,
               round(CAST(SUM(bd.rev) OVER (PARTITION BY bd.b
                     ORDER BY bd.wk ROWS UNBOUNDED PRECEDING)
                     AS DOUBLE) / tot.trev, 10) AS cum
        FROM bd JOIN tot ON bd.b = tot.b
    ),
    pairs AS (
        SELECT a.b AS ba, c.b AS bb,
               CAST(COUNT(*) AS BIGINT) AS n_weeks,
               CAST(SUM(CAST(round(pow(a.cum - c.cum, 2), 12)
                             AS DECIMAL(28,12))) AS DOUBLE) AS ssd
        FROM path a JOIN path c
          ON a.wk = c.wk AND a.b < c.b
        GROUP BY a.b, c.b
    )
    SELECT ba AS brand_a, bb AS brand_b, n_weeks,
           round(ssd, 8) + 0.0 AS path_ssd
    FROM pairs ORDER BY ssd ASC, ba, bb LIMIT 5
    """,
)
def pairs_trading_distance(spark, sf_dir):
    """PAIRS-TRADING distance screen over brand revenue paths: each
    brand's cumulative weekly revenue normalized to its own total (a
    0->1 "price path"), then the sum of squared weekly differences
    for every brand pair — the Gatev-Goetzmann-Rouwenhorst distance
    rule that finds the most CO-MOVING pairs, whose spread is the
    mean-reverting trading/substitution signal;
    `item_cooccurrence_cosine` finds brands bought TOGETHER, this
    finds brands that move ALIKE over time — different relations
    (complements vs parallel demand). Top-5 closest pairs.

    Exactness: weekly revenues are exact cents; cumulative paths
    round at 10 dp off exact prefix sums (brand-partitioned
    windows); squared gaps round at 12 dp into DECIMAL folds; the
    top-5 is a total order. Plan: one join rollup, brand-partitioned
    prefix, one week-grain equi-join over the bounded 25x25 pair
    space, one top-5."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    bd = (
        li.join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy(
            F.col("p_brand").alias("b"),
            F.floor(
                F.floor(F.unix_micros("l_shipdate") / 86_400_000_000) / 7
            )
            .cast("bigint")
            .alias("wk"),
        )
        .agg(
            F.sum(
                (dec("l_extendedprice", 18, 2) * 100).cast("bigint")
            )
            .cast("bigint")
            .alias("rev")
        )
    )
    tot = bd.groupBy("b").agg(
        F.sum("rev").cast("bigint").alias("trev")
    )
    path = bd.join(tot, "b").select(
        "b",
        "wk",
        F.round(
            F.sum("rev")
            .over(
                Window.partitionBy("b")
                .orderBy("wk")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            .cast("double")
            / F.col("trev"),
            10,
        ).alias("cum"),
    ).persist()
    a = path.select(
        F.col("b").alias("ba"), F.col("wk"), F.col("cum").alias("ca")
    )
    c = path.select(
        F.col("b").alias("bb"), F.col("wk"), F.col("cum").alias("cb")
    )
    pairs = (
        a.join(c, "wk")
        .where(F.col("ba") < F.col("bb"))
        .groupBy("ba", "bb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_weeks"),
            F.sum(
                F.round(
                    F.pow(F.col("ca") - F.col("cb"), 2), 12
                ).cast("decimal(28,12)")
            )
            .cast("double")
            .alias("ssd"),
        )
    )
    return (
        pairs.orderBy(F.col("ssd").asc(), F.col("ba"), F.col("bb"))
        .limit(5)
        .select(
            F.col("ba").alias("brand_a"),
            F.col("bb").alias("brand_b"),
            "n_weeks",
            (F.round("ssd", 8) + 0.0).alias("path_ssd"),
        )
    )


# --------------------------------------------------------------------------
# Hedonic size gradient of part unit prices
# --------------------------------------------------------------------------
@register(
    "hedonic_size_gradient",
    oracle="""
    WITH unit AS (
        SELECT p.p_size AS sz,
               round(ln(p.p_retailprice), 10) AS lp
        FROM part p
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(sz) AS BIGINT) AS sx,
               CAST(SUM(CAST(sz AS BIGINT) * sz) AS BIGINT) AS sxx,
               CAST(SUM(CAST(round(lp, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS sy,
               CAST(SUM(CAST(round(lp * lp, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS syy,
               CAST(SUM(CAST(round(sz * lp, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS sxy
        FROM unit
    )
    SELECT n AS n_parts,
           round((n * sxy - sx * sy)
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                    * sx), 10) + 0.0 AS size_gradient_logprice,
           round(exp((n * sxy - sx * sy)
                     / (n * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * sx)) - 1.0, 8) + 0.0
               AS pct_per_size_unit,
           round(pow(n * sxy - sx * sy, 2)
                 / ((n * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * sx)
                    * (n * syy - sy * sy)), 8) + 0.0 AS r2
    FROM mom
    """,
)
def hedonic_size_gradient(spark, sf_dir):
    """HEDONIC size gradient of catalog prices: the semi-log
    regression ln(retail price) ~ size over the part catalog —
    exp(slope) - 1 is the PERCENT price premium per size unit, the
    one-characteristic hedonic model behind quality-adjusted price
    measurement (the `fisher_tornqvist_index` family measures price
    LEVELS between periods; hedonics explain prices by
    characteristics, the adjustment CPI programs apply before
    those indices). r2 says how much of catalog price variation
    size alone carries.

    Exactness: sizes are small exact integers; log prices round at
    10 dp into DECIMAL folds; slope/r2 are terminal moment trees.
    Plan: one dimension-table scan, one fold."""
    p = t(spark, sf_dir, "part")
    unit = p.select(
        F.col("p_size").alias("sz"),
        F.round(F.log("p_retailprice"), 10).alias("lp"),
    )
    mom = unit.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("sz").cast("bigint").alias("sx"),
        F.sum(F.col("sz").cast("bigint") * F.col("sz"))
        .cast("bigint")
        .alias("sxx"),
        F.sum(F.round("lp", 10).cast("decimal(28,10)"))
        .cast("double")
        .alias("sy"),
        F.sum(
            F.round(F.col("lp") * F.col("lp"), 10).cast("decimal(28,10)")
        )
        .cast("double")
        .alias("syy"),
        F.sum(
            F.round(F.col("sz") * F.col("lp"), 10).cast("decimal(28,10)")
        )
        .cast("double")
        .alias("sxy"),
    )
    n = F.col("n")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx")
    return mom.select(
        n.alias("n_parts"),
        (F.round(num / den, 10) + 0.0).alias(
            "size_gradient_logprice"
        ),
        (F.round(F.exp(num / den) - 1.0, 8) + 0.0).alias(
            "pct_per_size_unit"
        ),
        (
            F.round(
                F.pow(num, 2)
                / (den * (n * F.col("syy") - F.col("sy") * F.col("sy"))),
                8,
            )
            + 0.0
        ).alias("r2"),
    )


# --------------------------------------------------------------------------
# Price-point heaping: psychological endings vs uniform cents
# --------------------------------------------------------------------------
@register(
    "price_point_heaping",
    oracle="""
    WITH cents AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) % 100 AS e
        FROM orders
    ),
    g AS (
        SELECT e, CAST(COUNT(*) AS BIGINT) AS c FROM cents GROUP BY e
    ),
    n_ AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM g),
    chi AS (
        SELECT CAST(SUM(CAST(round(
                   pow(c - n_.n / 100.0, 2) / (n_.n / 100.0), 9)
                   AS DECIMAL(38,9))) AS DOUBLE) AS chi2
        FROM g, n_
    ),
    marks AS (
        SELECT
            CAST(COALESCE(MAX(CASE WHEN e = 99 THEN c END), 0)
                 AS BIGINT) AS c99,
            CAST(COALESCE(MAX(CASE WHEN e = 0 THEN c END), 0)
                 AS BIGINT) AS c00,
            CAST(COALESCE(MAX(CASE WHEN e = 50 THEN c END), 0)
                 AS BIGINT) AS c50
        FROM g
    )
    SELECT n_.n AS n_orders,
           round(CAST(marks.c99 AS DOUBLE) / n_.n * 100.0, 6) + 0.0
               AS pct_ending_99,
           round(CAST(marks.c00 AS DOUBLE) / n_.n * 100.0, 6) + 0.0
               AS pct_ending_00,
           round(CAST(marks.c50 AS DOUBLE) / n_.n * 100.0, 6) + 0.0
               AS pct_ending_50,
           round(chi.chi2, 4) + 0.0 AS chi2_uniform_endings,
           CAST(99 AS BIGINT) AS dof
    FROM n_, chi, marks
    """,
)
def price_point_heaping(spark, sf_dir):
    """PRICE-POINT HEAPING audit of order totals: the distribution
    of the cents ending (00-99) against uniformity — human-set
    prices pile on .99/.00/.50 (psychological price points,
    charm-pricing), machine-generated or aggregated totals do not,
    so the chi-square over the 100 endings plus the three marquee
    shares is simultaneously a pricing-psychology readout and a
    synthetic-data fingerprint (this corpus SHOULD look uniform —
    heaping here flags generator artifacts), complementing
    `poker_test_digits` (digit patterns) and the Benford pair
    (leading digits).

    Exactness: ending counts are exact BIGINTs on the 100-value
    grid; chi-square terms round at 9 dp into a DECIMAL fold.
    Plan: one scan, one 100-row rollup, two folds."""
    o = t(spark, sf_dir, "orders")
    cents = o.select(
        ((dec("o_totalprice", 18, 2) * 100).cast("bigint") % 100).alias(
            "e"
        )
    )
    g = cents.groupBy("e").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).persist()
    n_ = g.agg(F.sum("c").cast("bigint").alias("n"))
    chi = g.crossJoin(F.broadcast(n_)).agg(
        F.sum(
            F.round(
                F.pow(F.col("c") - F.col("n") / 100.0, 2)
                / (F.col("n") / 100.0),
                9,
            ).cast("decimal(38,9)")
        )
        .cast("double")
        .alias("chi2")
    )
    marks = g.agg(
        F.coalesce(F.max(F.when(F.col("e") == 99, F.col("c"))), F.lit(0))
        .cast("bigint")
        .alias("c99"),
        F.coalesce(F.max(F.when(F.col("e") == 0, F.col("c"))), F.lit(0))
        .cast("bigint")
        .alias("c00"),
        F.coalesce(F.max(F.when(F.col("e") == 50, F.col("c"))), F.lit(0))
        .cast("bigint")
        .alias("c50"),
    )
    return (
        n_.crossJoin(F.broadcast(chi))
        .crossJoin(F.broadcast(marks))
        .select(
            F.col("n").alias("n_orders"),
            (
                F.round(F.col("c99").cast("double") / F.col("n") * 100.0, 6)
                + 0.0
            ).alias("pct_ending_99"),
            (
                F.round(F.col("c00").cast("double") / F.col("n") * 100.0, 6)
                + 0.0
            ).alias("pct_ending_00"),
            (
                F.round(F.col("c50").cast("double") / F.col("n") * 100.0, 6)
                + 0.0
            ).alias("pct_ending_50"),
            (F.round("chi2", 4) + 0.0).alias("chi2_uniform_endings"),
            F.lit(99).cast("bigint").alias("dof"),
        )
    )


# --------------------------------------------------------------------------
# Funnel-plot control limits for per-brand return rates
# --------------------------------------------------------------------------
@register(
    "funnel_plot_control_limits",
    oracle="""
    WITH li AS (
        SELECT p.p_brand AS b,
               CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS r
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    g AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(r) AS BIGINT) AS k
        FROM li GROUP BY b
    ),
    grand AS (
        SELECT round(CAST(SUM(k) AS DOUBLE) / SUM(n), 10) AS p0
        FROM g
    ),
    z AS (
        SELECT g.b, g.n, g.k, grand.p0,
               round((CAST(g.k AS DOUBLE) / g.n - grand.p0)
                     / sqrt(grand.p0 * (1.0 - grand.p0) / g.n), 6)
                   AS zb
        FROM g, grand
    )
    SELECT b AS brand, n AS n_lineitems,
           round(CAST(k AS DOUBLE) / n, 8) + 0.0 AS return_rate,
           round(p0, 8) + 0.0 AS grand_rate,
           zb + 0.0 AS z_score,
           CAST(CASE WHEN abs(zb) > 1.959963985
                     THEN 1 ELSE 0 END AS INT) AS outside_95,
           CAST(CASE WHEN abs(zb) > 3.090232306
                     THEN 1 ELSE 0 END AS INT) AS outside_998
    FROM z ORDER BY brand
    """,
)
def funnel_plot_control_limits(spark, sf_dir):
    """FUNNEL-PLOT control limits for per-brand RETURN RATES: each
    brand's rate against the grand rate with exact binomial z's and
    the 95% / 99.8% control flags — the institutional-comparison
    device (hospital mortality, school results) that kills false
    league tables: small brands swing wide by chance and belong
    INSIDE the widening funnel, so only the outside_998 flags are
    actionable signals. The frequentist complement to the EB
    shrinkage trio (`eb_gamma_poisson_rates` moves small units
    toward the mean; the funnel leaves them alone and widens the
    limits instead — same problem, the two standard answers).

    Exactness: per-brand counts are exact BIGINTs; the grand rate
    rounds at 10 dp before every z; flags compare against literal
    normal quantiles. Plan: one join rollup to 25 brands, one
    scalar fold, one broadcast back."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    g = (
        li.join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy(F.col("p_brand").alias("b"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("k"),
        )
    )
    grand = g.agg(
        F.round(
            F.sum("k").cast("double") / F.sum("n"), 10
        ).alias("p0")
    )
    z = g.crossJoin(F.broadcast(grand)).select(
        "b",
        "n",
        "k",
        "p0",
        F.round(
            (F.col("k").cast("double") / F.col("n") - F.col("p0"))
            / F.sqrt(F.col("p0") * (1.0 - F.col("p0")) / F.col("n")),
            6,
        ).alias("zb"),
    )
    return z.select(
        F.col("b").alias("brand"),
        F.col("n").alias("n_lineitems"),
        (F.round(F.col("k").cast("double") / F.col("n"), 8) + 0.0).alias(
            "return_rate"
        ),
        (F.round("p0", 8) + 0.0).alias("grand_rate"),
        (F.col("zb") + 0.0).alias("z_score"),
        F.when(F.abs(F.col("zb")) > 1.959963985, 1)
        .otherwise(0)
        .cast("int")
        .alias("outside_95"),
        F.when(F.abs(F.col("zb")) > 3.090232306, 1)
        .otherwise(0)
        .cast("int")
        .alias("outside_998"),
    ).orderBy("brand")


# --------------------------------------------------------------------------
# Chao-Mh heterogeneity-robust population bound from capture spectra
# --------------------------------------------------------------------------
@register(
    "chao_mh_population",
    oracle="""
    WITH uw AS (
        SELECT DISTINCT user_id,
               CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS wk
        FROM events
    ),
    freq AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS k
        FROM uw GROUP BY user_id
    ),
    spec AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS f1,
               CAST(SUM(CASE WHEN k = 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS f2
        FROM freq
    )
    SELECT m AS users_observed, f1 AS captured_once,
           f2 AS captured_twice,
           round(m + CAST(f1 AS DOUBLE) * (f1 - 1.0)
                 / (2.0 * (f2 + 1.0)), 4) + 0.0 AS chao_mh_n,
           round(CAST(f1 AS DOUBLE) * (f1 - 1.0)
                 / (2.0 * (f2 + 1.0)), 4) + 0.0 AS unseen_estimate
    FROM spec
    """,
)
def chao_mh_population(spark, sf_dir):
    """CHAO's heterogeneity-robust population bound from the weekly
    CAPTURE-FREQUENCY spectrum (the BIAS-CORRECTED form
    N >= M + f1(f1-1)/(2(f2+1)), defined even when no user is
    captured exactly twice), using only
    the users captured in exactly one and exactly two weeks — valid
    under ARBITRARY per-user capture heterogeneity, which is
    exactly where `schnabel_capture_recapture` (equal-catchability
    model) biases LOW: Chao far above Schnabel is the
    heterogeneity diagnosis itself (heavy/light user mix), and the
    unseen-user estimate f1^2/(2 f2) is the dormant-population
    readout. The user-base member of the Chao family
    (`chao1_vocabulary_estimate` is the same bound on tokens).

    Exactness: the spectrum counts are exact BIGINTs from one
    distinct rollup and one per-user count; the bound is a
    terminal ratio. Plan: one distinct rollup, two folds."""
    e = t(spark, sf_dir, "events")
    uw = e.select(
        "user_id",
        F.floor(F.unix_micros("ts") / 604_800_000_000)
        .cast("bigint")
        .alias("wk"),
    ).distinct()
    freq = uw.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    spec = freq.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum(F.when(F.col("k") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("f1"),
        F.sum(F.when(F.col("k") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("f2"),
    )
    unseen = (
        F.col("f1").cast("double")
        * (F.col("f1") - 1.0)
        / (2.0 * (F.col("f2") + 1.0))
    )
    return spec.select(
        F.col("m").alias("users_observed"),
        F.col("f1").alias("captured_once"),
        F.col("f2").alias("captured_twice"),
        (F.round(F.col("m") + unseen, 4) + 0.0).alias("chao_mh_n"),
        (F.round(unseen, 4) + 0.0).alias("unseen_estimate"),
    )


# --------------------------------------------------------------------------
# Quality-filter agreement matrix: three document rules, pairwise kappa
# --------------------------------------------------------------------------
@register(
    "filter_agreement_matrix",
    oracle="""
    WITH docs AS (
        SELECT doc_id, n_chars, source,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS f_lang
        FROM documents
    ),
    qs AS (
        SELECT n_chars AS v FROM (
            SELECT n_chars,
                   CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id)
                        AS BIGINT) AS r,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n
            FROM docs
        ) q WHERE 4 * r >= n + 1 ORDER BY v LIMIT 1
    ),
    srate AS (
        SELECT source,
               CAST(SUM(f_lang) AS DOUBLE) / COUNT(*) AS sr
        FROM docs GROUP BY source
    ),
    prev AS (
        SELECT CAST(SUM(f_lang) AS DOUBLE) / COUNT(*) AS p FROM docs
    ),
    flags AS (
        SELECT d.f_lang,
               CASE WHEN d.n_chars > qs.v THEN 1 ELSE 0 END
                   AS f_len,
               CASE WHEN srate.sr > prev.p THEN 1 ELSE 0 END
                   AS f_src
        FROM docs d JOIN srate ON d.source = srate.source, qs, prev
    ),
    longp AS (
        SELECT 'lang_vs_len' AS pair, f_lang AS a, f_len AS b
        FROM flags
        UNION ALL
        SELECT 'lang_vs_src', f_lang, f_src FROM flags
        UNION ALL
        SELECT 'len_vs_src', f_len, f_src FROM flags
    ),
    cells AS (
        SELECT pair,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n11,
               CAST(SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n00,
               CAST(SUM(a) AS BIGINT) AS na,
               CAST(SUM(b) AS BIGINT) AS nb
        FROM longp GROUP BY pair
    ),
    kap AS (
        SELECT pair, n,
               CAST(n11 + n00 AS DOUBLE) / n AS po,
               (CAST(na AS DOUBLE) / n) * (CAST(nb AS DOUBLE) / n)
               + (1.0 - CAST(na AS DOUBLE) / n)
                 * (1.0 - CAST(nb AS DOUBLE) / n) AS pe
        FROM cells
    )
    SELECT pair AS filter_pair, n AS n_docs,
           round(po, 8) + 0.0 AS raw_agreement,
           round((po - pe) / (1.0 - pe), 8) + 0.0 AS cohens_kappa
    FROM kap ORDER BY filter_pair
    """,
)
def filter_agreement_matrix(spark, sf_dir):
    """QUALITY-FILTER AGREEMENT matrix for three document-keep rules
    — language (lang='en'), length (n_chars above the exact upper
    quartile), and source trust (source en-rate above prevalence) —
    pairwise raw agreement and Cohen's kappa: the curation-ops
    question behind every multi-filter pipeline ("are my filters
    redundant or complementary?"): kappa near 1 means the second
    filter deletes nothing new; near 0 means each removes a
    DIFFERENT slice and the intersection policy is load-bearing.
    The meta-level application of `cohens_kappa_agreement`'s
    machinery to the pipeline's own components.

    Exactness: thresholds are exact order statistics / count
    ratios; all 2x2 cells are exact BIGINTs; kappa is a terminal
    tree per pair. Plan: one rank, two rollups, one broadcast
    flag pass, one 3-pair fold."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        "source",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("f_lang"),
    ).persist()
    ranked = d.select(
        "n_chars",
        F.row_number()
        .over(Window.orderBy("n_chars", "doc_id"))
        .cast("bigint")
        .alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("n"),
    )
    qs = (
        ranked.where(4 * F.col("r") >= F.col("n") + 1)
        .agg(F.min("n_chars").alias("v"))
    )
    srate = d.groupBy("source").agg(
        (F.sum("f_lang").cast("double") / F.count(F.lit(1))).alias("sr")
    )
    prev = d.agg(
        (F.sum("f_lang").cast("double") / F.count(F.lit(1))).alias("p")
    )
    flags = (
        d.join(F.broadcast(srate), "source")
        .crossJoin(F.broadcast(qs))
        .crossJoin(F.broadcast(prev))
        .select(
            "f_lang",
            F.when(F.col("n_chars") > F.col("v"), 1)
            .otherwise(0)
            .alias("f_len"),
            F.when(F.col("sr") > F.col("p"), 1).otherwise(0).alias("f_src"),
        )
        .persist()
    )
    longp = None
    for name, a, b in (
        ("lang_vs_len", "f_lang", "f_len"),
        ("lang_vs_src", "f_lang", "f_src"),
        ("len_vs_src", "f_len", "f_src"),
    ):
        part = flags.select(
            F.lit(name).alias("pair"),
            F.col(a).alias("a"),
            F.col(b).alias("b"),
        )
        longp = part if longp is None else longp.unionByName(part)
    cells = longp.groupBy("pair").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n11"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n00"),
        F.sum("a").cast("bigint").alias("na"),
        F.sum("b").cast("bigint").alias("nb"),
    )
    n = F.col("n")
    po = (F.col("n11") + F.col("n00")).cast("double") / n
    pa = F.col("na").cast("double") / n
    pb = F.col("nb").cast("double") / n
    pe = pa * pb + (1.0 - pa) * (1.0 - pb)
    return cells.select(
        F.col("pair").alias("filter_pair"),
        n.alias("n_docs"),
        (F.round(po, 8) + 0.0).alias("raw_agreement"),
        (F.round((po - pe) / (1.0 - pe), 8) + 0.0).alias(
            "cohens_kappa"
        ),
    ).orderBy("filter_pair")


PLAN_AUDIT_NOTES.update(
    {
        "filter_agreement_matrix": (
            "row_number rank over the n_chars score grid for the "
            "exact quartile threshold (the auc_rank_score class)"
        ),
    }
)


# --------------------------------------------------------------------------
# LMDI (log-mean Divisia) decomposition of revenue growth
# --------------------------------------------------------------------------
@register(
    "lmdi_decomposition",
    oracle="""
    WITH bd AS (
        SELECT p.p_brand AS b,
               CASE WHEN epoch_us(l.l_shipdate) // 86400000000
                    <= (SELECT (min(epoch_us(l_shipdate))
                                // 86400000000
                                + max(epoch_us(l_shipdate))
                                // 86400000000) // 2 FROM lineitem)
                    THEN 0 ELSE 1 END AS per,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
               CAST(SUM(CAST(CAST(l.l_extendedprice
                                  AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS r
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ),
    wide AS (
        SELECT b,
               MAX(CASE WHEN per = 0 THEN q END) AS q0,
               MAX(CASE WHEN per = 1 THEN q END) AS q1,
               MAX(CASE WHEN per = 0 THEN r END) AS r0,
               MAX(CASE WHEN per = 1 THEN r END) AS r1
        FROM bd GROUP BY b
        HAVING MAX(CASE WHEN per = 0 THEN q END) IS NOT NULL
           AND MAX(CASE WHEN per = 1 THEN q END) IS NOT NULL
    ),
    terms AS (
        SELECT b,
               (r1 - r0) / 100000.0 AS dr,
               CASE WHEN r1 = r0 THEN r1 / 100000.0
                    ELSE (r1 - r0) / 100000.0
                         / (ln(r1 * 1.0) - ln(r0 * 1.0)) END AS lm,
               round(ln(CAST(q1 AS DOUBLE) / q0), 10) AS dlq,
               round(ln((CAST(r1 AS DOUBLE) / q1)
                        / (CAST(r0 AS DOUBLE) / q0)), 10) AS dlp
        FROM wide
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(round(dr, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS total,
               CAST(SUM(CAST(round(lm * dlq, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS vol_eff,
               CAST(SUM(CAST(round(lm * dlp, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS price_eff
        FROM terms
    )
    SELECT k AS n_brands_matched,
           round(total, 4) + 0.0 AS revenue_change_kusd,
           round(vol_eff, 4) + 0.0 AS volume_effect_kusd,
           round(price_eff, 4) + 0.0 AS price_effect_kusd,
           round(total - vol_eff - price_eff, 4) + 0.0
               AS identity_residual
    FROM fold
    """,
)
def lmdi_decomposition(spark, sf_dir):
    """LMDI-I (log-mean Divisia) decomposition of half-over-half
    revenue growth into VOLUME and PRICE effects per brand, summed:
    each brand contributes L(R1,R0) ln(q1/q0) + L(R1,R0) ln(p1/p0)
    with the logarithmic mean L(a,b) = (a-b)/(ln a - ln b) — the
    Ang-standard index decomposition whose defining property is the
    EXACT additive identity (volume + price = total change, no
    residual by construction); `identity_residual` emits the
    rounding-noise-sized check, the built-in self-verification.
    Where `shift_share_decomposition` splits growth by STRUCTURE
    (mix vs within), LMDI splits it by price-vs-quantity — the
    revenue bridge every quarterly review draws.

    Exactness: per-(brand, half) quantities and cents are exact;
    the log-mean handles R1=R0 by its limit (= R); every term
    rounds at 6-10 dp into DECIMAL folds. Plan: one join rollup,
    one 25-brand pivot, one fold."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    cut = li.agg(
        (
            (
                F.floor(F.min(F.unix_micros("l_shipdate")) / 86_400_000_000)
                + F.floor(
                    F.max(F.unix_micros("l_shipdate")) / 86_400_000_000
                )
            )
            / 2
        )
        .cast("bigint")
        .alias("cut")
    )
    bd = (
        li.join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
        )
        .crossJoin(F.broadcast(cut))
        .groupBy(
            F.col("p_brand").alias("b"),
            F.when(
                F.floor(F.unix_micros("l_shipdate") / 86_400_000_000)
                <= F.col("cut"),
                0,
            )
            .otherwise(1)
            .alias("per"),
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
    )
    wide = (
        bd.groupBy("b")
        .agg(
            F.max(F.when(F.col("per") == 0, F.col("q"))).alias("q0"),
            F.max(F.when(F.col("per") == 1, F.col("q"))).alias("q1"),
            F.max(F.when(F.col("per") == 0, F.col("r"))).alias("r0"),
            F.max(F.when(F.col("per") == 1, F.col("r"))).alias("r1"),
        )
        .where(F.col("q0").isNotNull() & F.col("q1").isNotNull())
    )
    dr = (F.col("r1") - F.col("r0")) / 100000.0
    lm = F.when(
        F.col("r1") == F.col("r0"), F.col("r1") / 100000.0
    ).otherwise(
        dr / (F.log(F.col("r1") * 1.0) - F.log(F.col("r0") * 1.0))
    )
    dlq = F.round(
        F.log(F.col("q1").cast("double") / F.col("q0")), 10
    )
    dlp = F.round(
        F.log(
            (F.col("r1").cast("double") / F.col("q1"))
            / (F.col("r0").cast("double") / F.col("q0"))
        ),
        10,
    )
    terms = wide.select(
        dr.alias("dr"), lm.alias("lm"), dlq.alias("dlq"), dlp.alias("dlp")
    )

    def dfold(expr, name):
        return (
            F.sum(F.round(expr, 6).cast("decimal(38,6)"))
            .cast("double")
            .alias(name)
        )

    fold = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        dfold(F.col("dr"), "total"),
        dfold(F.col("lm") * F.col("dlq"), "vol_eff"),
        dfold(F.col("lm") * F.col("dlp"), "price_eff"),
    )
    return fold.select(
        F.col("k").alias("n_brands_matched"),
        (F.round("total", 4) + 0.0).alias("revenue_change_kusd"),
        (F.round("vol_eff", 4) + 0.0).alias("volume_effect_kusd"),
        (F.round("price_eff", 4) + 0.0).alias("price_effect_kusd"),
        (
            F.round(
                F.col("total") - F.col("vol_eff") - F.col("price_eff"),
                4,
            )
            + 0.0
        ).alias("identity_residual"),
    )


# --------------------------------------------------------------------------
# Heidke / Peirce / Gilbert skill scores for the length classifier
# --------------------------------------------------------------------------
@register(
    "skill_score_panel",
    oracle="""
    WITH docs AS (
        SELECT doc_id, n_chars,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    med AS (
        SELECT n_chars AS v FROM (
            SELECT n_chars,
                   CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id)
                        AS BIGINT) AS r,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n
            FROM docs
        ) q WHERE 2 * r >= n + 1 ORDER BY v LIMIT 1
    ),
    cells AS (
        SELECT
            CAST(SUM(CASE WHEN y = 1 AND n_chars > med.v
                     THEN 1 ELSE 0 END) AS BIGINT) AS a,
            CAST(SUM(CASE WHEN y = 0 AND n_chars > med.v
                     THEN 1 ELSE 0 END) AS BIGINT) AS b,
            CAST(SUM(CASE WHEN y = 1 AND n_chars <= med.v
                     THEN 1 ELSE 0 END) AS BIGINT) AS c,
            CAST(SUM(CASE WHEN y = 0 AND n_chars <= med.v
                     THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM docs, med
    ),
    st AS (
        SELECT a, b, c, d,
               CAST(a + b + c + d AS DOUBLE) AS n,
               (CAST(a AS DOUBLE) + b) * (CAST(a AS DOUBLE) + c)
                   / (a + b + c + d) AS a_rand
        FROM cells
    )
    SELECT a AS hits, b AS false_alarms, c AS misses,
           d AS correct_negatives,
           round(CAST(a AS DOUBLE) / (a + c)
                 - CAST(b AS DOUBLE) / (b + d), 8) + 0.0
               AS peirce_pss,
           round(2.0 * (CAST(a AS DOUBLE) * d
                        - CAST(b AS DOUBLE) * c)
                 / ((CAST(a AS DOUBLE) + c) * (c + d)
                    + (CAST(a AS DOUBLE) + b) * (b + d)), 8) + 0.0
               AS heidke_hss,
           round((a - a_rand) / (CAST(a AS DOUBLE) + b + c
                                 - a_rand), 8) + 0.0
               AS gilbert_ets
    FROM st
    """,
)
def skill_score_panel(spark, sf_dir):
    """FORECAST-VERIFICATION skill panel for the median-length
    lang='en' rule: Peirce PSS = TPR - FPR (equitable, base-rate
    free — the verification twin of `youden_j_threshold_scan`'s
    optimand), Heidke HSS (accuracy above chance, kappa's
    verification alias), and Gilbert ETS (hits above random hits —
    the convention in rare-event verification, punishing
    overforecasting exactly where raw accuracy rewards it). Three
    WMO-standard 2x2 scores with different chance corrections —
    the meteorology lens on the same confusion matrix the ML panel
    (`rk_multiclass_mcc`, `brier_murphy_decomposition`) reads.

    Exactness: the median threshold is an exact order statistic;
    the 2x2 is exact BIGINTs; all three scores are terminal trees.
    Plan: one rank, one fold."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    ranked = d.select(
        "n_chars",
        F.row_number()
        .over(Window.orderBy("n_chars", "doc_id"))
        .cast("bigint")
        .alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("n"),
    )
    med = (
        ranked.where(2 * F.col("r") >= F.col("n") + 1)
        .agg(F.min("n_chars").alias("v"))
    )
    cells = d.crossJoin(F.broadcast(med)).agg(
        F.sum(
            F.when((F.col("y") == 1) & (F.col("n_chars") > F.col("v")), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("a"),
        F.sum(
            F.when((F.col("y") == 0) & (F.col("n_chars") > F.col("v")), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("b"),
        F.sum(
            F.when(
                (F.col("y") == 1) & (F.col("n_chars") <= F.col("v")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("c"),
        F.sum(
            F.when(
                (F.col("y") == 0) & (F.col("n_chars") <= F.col("v")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("d"),
    )
    a, b, c, dd = (F.col(x) for x in ("a", "b", "c", "d"))
    n = (a + b + c + dd).cast("double")
    a_rand = (a.cast("double") + b) * (a.cast("double") + c) / n
    return cells.select(
        a.alias("hits"),
        b.alias("false_alarms"),
        c.alias("misses"),
        dd.alias("correct_negatives"),
        (
            F.round(
                a.cast("double") / (a + c) - b.cast("double") / (b + dd),
                8,
            )
            + 0.0
        ).alias("peirce_pss"),
        (
            F.round(
                2.0
                * (a.cast("double") * dd - b.cast("double") * c)
                / (
                    (a.cast("double") + c) * (c + dd)
                    + (a.cast("double") + b) * (b + dd)
                ),
                8,
            )
            + 0.0
        ).alias("heidke_hss"),
        (
            F.round(
                (a - a_rand) / (a.cast("double") + b + c - a_rand), 8
            )
            + 0.0
        ).alias("gilbert_ets"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "skill_score_panel": (
            "row_number rank over the n_chars score grid for the "
            "exact median threshold (the auc_rank_score class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Van Elteren stratified rank-sum test: Fri/Sat effect within priority
# --------------------------------------------------------------------------
@register(
    "van_elteren_stratified",
    oracle="""
    WITH pts AS (
        SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS s,
               CASE WHEN CAST(epoch_us(o_orderdate) // 86400000000
                         + 4 AS BIGINT) % 7 >= 5
                    THEN 1 ELSE 0 END AS g,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    cells AS (
        SELECT s, v, g, CAST(COUNT(*) AS BIGINT) AS c
        FROM pts GROUP BY s, v, g
    ),
    vg AS (
        SELECT s, v, CAST(SUM(c) AS BIGINT) AS h
        FROM cells GROUP BY s, v
    ),
    cum AS (
        SELECT s, v, h,
               CAST(2 * (SUM(h) OVER (PARTITION BY s ORDER BY v
                   ROWS UNBOUNDED PRECEDING) - h) + h + 1
                   AS BIGINT) AS rank2
        FROM vg
    ),
    strat AS (
        SELECT c.s,
               CAST(SUM(c.c) AS BIGINT) AS ns,
               CAST(SUM(CASE WHEN c.g = 1 THEN c.c ELSE 0 END)
                    AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN c.g = 1
                        THEN CAST(c.c AS DECIMAL(19,0)) * m.rank2
                        END) AS DECIMAL(38,0)) AS w2,
               CAST(SUM(CAST(c.c AS DECIMAL(19,0)) * m.rank2
                        * CAST(m.rank2 AS DECIMAL(19,0)))
                    AS DECIMAL(38,0)) AS sr2sq
        FROM cells c JOIN cum m ON c.s = m.s AND c.v = m.v
        GROUP BY c.s
    ),
    terms AS (
        SELECT s, ns, n1,
               round(CAST(w2 AS DOUBLE) / 2.0 / (ns + 1.0), 8) AS tw,
               round(n1 * (ns + 1.0) / 2.0 / (ns + 1.0), 8) AS ew,
               round((CAST(n1 AS DOUBLE) * (ns - n1)
                      / (CAST(ns AS DOUBLE) * (ns - 1)))
                     * (CAST(sr2sq AS DOUBLE) / 4.0
                        - ns * (ns + 1.0) * (ns + 1.0) / 4.0)
                     / ((ns + 1.0) * (ns + 1.0)), 10) AS vw
        FROM strat
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(tw AS DECIMAL(28,8))) AS DOUBLE) AS t,
               CAST(SUM(CAST(ew AS DECIMAL(28,8))) AS DOUBLE) AS e,
               CAST(SUM(CAST(vw AS DECIMAL(28,10))) AS DOUBLE) AS v
        FROM terms
    )
    SELECT k AS n_strata,
           round(t, 6) + 0.0 AS van_elteren_t,
           round(e, 6) + 0.0 AS expected_t,
           round((t - e) / sqrt(v), 6) + 0.0 AS z_van_elteren
    FROM fold
    """,
)
def van_elteren_stratified(spark, sf_dir):
    """VAN ELTEREN stratified rank-sum test of the Fri/Sat effect on
    order values WITHIN priority strata: each stratum's Wilcoxon
    rank sum enters with the locally-most-powerful weight
    1/(n_s+1), with the exact tie-corrected per-stratum variance
    folded from the squared-midrank sums — the confounder-proof
    version of the plain two-sample test: if priority mix differs
    by Sun-Thu, a pooled Wilcoxon confounds the two effects; van
    Elteren compares LIKE WITH LIKE and pools only the evidence.
    The rank-world sibling of `mantel_haenszel_weekday_strata`
    (binary outcome) and `peto_odds_ratio` (rare binary) — this one
    for continuous outcomes.

    Exactness: per-stratum midranks x2 are exact integers on the
    stratum-PARTITIONED cents grids; rank sums and squared-rank
    sums widen through DECIMAL(19,0); stratum terms round at 8-10
    dp into DECIMAL folds. Plan: one (stratum, value, group)
    rollup, stratum-partitioned cumulatives, one 5-stratum fold."""
    o = t(spark, sf_dir, "orders")
    pts = o.select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("s"),
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
    cells = pts.groupBy("s", "v", "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    vg = cells.groupBy("s", "v").agg(
        F.sum("c").cast("bigint").alias("h")
    )
    cum = vg.select(
        "s",
        "v",
        (
            2
            * (
                F.sum("h").over(
                    Window.partitionBy("s")
                    .orderBy("v")
                    .rowsBetween(
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
    strat = (
        cells.join(cum, ["s", "v"])
        .groupBy("s")
        .agg(
            F.sum("c").cast("bigint").alias("ns"),
            F.sum(F.when(F.col("g") == 1, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("n1"),
            F.sum(
                F.when(
                    F.col("g") == 1,
                    F.col("c").cast("decimal(19,0)") * F.col("rank2"),
                )
            )
            .cast("decimal(38,0)")
            .alias("w2"),
            F.sum(
                F.col("c").cast("decimal(19,0)")
                * F.col("rank2")
                * F.col("rank2").cast("decimal(19,0)")
            )
            .cast("decimal(38,0)")
            .alias("sr2sq"),
        )
    )
    ns = F.col("ns")
    n1 = F.col("n1")
    tw = F.round(
        F.col("w2").cast("double") / 2.0 / (ns + 1.0), 8
    )
    ew = F.round(n1 * (ns + 1.0) / 2.0 / (ns + 1.0), 8)
    vw = F.round(
        (
            n1.cast("double")
            * (ns - n1)
            / (ns.cast("double") * (ns - 1))
        )
        * (
            F.col("sr2sq").cast("double") / 4.0
            - ns * (ns + 1.0) * (ns + 1.0) / 4.0
        )
        / ((ns + 1.0) * (ns + 1.0)),
        10,
    )
    terms = strat.select(
        tw.alias("tw"), ew.alias("ew"), vw.alias("vw")
    )
    fold = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.col("tw").cast("decimal(28,8)"))
        .cast("double")
        .alias("t"),
        F.sum(F.col("ew").cast("decimal(28,8)"))
        .cast("double")
        .alias("e"),
        F.sum(F.col("vw").cast("decimal(28,10)"))
        .cast("double")
        .alias("v"),
    )
    return fold.select(
        F.col("k").alias("n_strata"),
        (F.round("t", 6) + 0.0).alias("van_elteren_t"),
        (F.round("e", 6) + 0.0).alias("expected_t"),
        (
            F.round(
                (F.col("t") - F.col("e")) / F.sqrt(F.col("v")), 6
            )
            + 0.0
        ).alias("z_van_elteren"),
    )


# --------------------------------------------------------------------------
# Markov order-0 vs order-1 likelihood-ratio test on event sequences
# --------------------------------------------------------------------------
@register(
    "markov_order_lr_test",
    oracle="""
    WITH seq AS (
        SELECT event_type AS b,
               LAG(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS a
        FROM events
    ),
    big AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE a IS NOT NULL GROUP BY a, b
    ),
    marg AS (
        SELECT big.a, big.b, big.n,
               SUM(big.n) OVER (PARTITION BY big.a) AS ra,
               SUM(big.n) OVER (PARTITION BY big.b) AS cb,
               SUM(big.n) OVER () AS nn
        FROM big
    ),
    g AS (
        SELECT CAST(SUM(CAST(round(
                   2.0 * n * ln(CAST(n AS DOUBLE) * nn
                                / (CAST(ra AS DOUBLE) * cb)), 8)
                   AS DECIMAL(38,8))) AS DOUBLE) AS g2,
               CAST(MAX(nn) AS BIGINT) AS n_pairs
        FROM marg
    )
    SELECT n_pairs,
           round(g2, 6) + 0.0 AS lr_g2,
           CAST(16 AS BIGINT) AS dof,
           round((exp(ln(g2 / 16.0) / 3.0)
                  - (1.0 - 2.0 / 144.0)) / sqrt(2.0 / 144.0), 6)
               + 0.0 AS z_wilson_hilferty
    FROM g
    """,
)
def markov_order_lr_test(spark, sf_dir):
    """MARKOV ORDER likelihood-ratio test on per-user event-type
    sequences: order-0 (types independent of the previous type) vs
    order-1 (a genuine transition structure), G^2 = 2 sum n_ij
    ln(n_ij N / (r_i c_j)) ~ chi2((k-1)^2) over the 5x5 bigram
    table — the INFERENTIAL companion to
    `markov_entropy_rate_events` (which reports the entropy rate
    that only MEANS something if order >= 1 holds) and
    `event_transition_matrix` (which prints P without testing it):
    G^2 = 2N x the mutual information of consecutive types, so
    this is also the sequence-memory detector. Wilson-Hilferty z
    for the chi2(16) tail.

    Exactness: bigram counts are exact BIGINTs from user-
    partitioned lags; each G term rounds at 8 dp into a
    DECIMAL(38,8) fold (zero cells contribute nothing — lim x ln x
    = 0 — and never enter the sum). Plan: one user-partitioned lag,
    one 25-cell rollup, margin windows on the bounded table, one
    fold."""
    e = t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("b"),
        F.lag("event_type").over(wu).alias("a"),
    ).where(F.col("a").isNotNull())
    big = seq.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    marg = (
        big.withColumn("ra", F.sum("n").over(Window.partitionBy("a")))
        .withColumn("cb", F.sum("n").over(Window.partitionBy("b")))
        .withColumn("nn", F.sum("n").over(Window.partitionBy()))
    )
    g = marg.agg(
        F.sum(
            F.round(
                2.0
                * F.col("n")
                * F.log(
                    F.col("n").cast("double")
                    * F.col("nn")
                    / (F.col("ra").cast("double") * F.col("cb"))
                ),
                8,
            ).cast("decimal(38,8)")
        )
        .cast("double")
        .alias("g2"),
        F.max("nn").cast("bigint").alias("n_pairs"),
    )
    g2 = F.col("g2")
    wh = (
        F.exp(F.log(g2 / 16.0) / 3.0) - (1.0 - 2.0 / 144.0)
    ) / F.sqrt(F.lit(2.0 / 144.0))
    return g.select(
        "n_pairs",
        (F.round(g2, 6) + 0.0).alias("lr_g2"),
        F.lit(16).cast("bigint").alias("dof"),
        (F.round(wh, 6) + 0.0).alias("z_wilson_hilferty"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "markov_order_lr_test": (
            "margin windows over the bounded 25-cell bigram table "
            "(the chi2_independence class; the lag is user-"
            "partitioned)"
        ),
    }
)


# --------------------------------------------------------------------------
# One-sided CUSUM chart with Siegmund in-control ARL calibration
# --------------------------------------------------------------------------
@register(
    "cusum_chart_arl_siegmund",
    oracle="""
    WITH days AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s,
               CAST(SUM(CAST(y AS DECIMAL(19,0)) * y)
                    AS DECIMAL(38,0)) AS ss
        FROM days
    ),
    z AS (
        SELECT d,
               round((y - CAST(mom.s AS DOUBLE) / mom.n)
                     / sqrt((CAST(mom.ss AS DOUBLE)
                             - CAST(mom.s AS DOUBLE) * mom.s / mom.n)
                            / (mom.n - 1)), 8) AS zz
        FROM days, mom
    ),
    pref AS (
        SELECT d,
               CAST(SUM(CAST(round(zz - 0.5, 8) AS DECIMAL(28,8)))
                    OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                    AS DOUBLE) AS m
        FROM z
    ),
    cus AS (
        SELECT d, m,
               round(m - LEAST(0.0, MIN(m) OVER (ORDER BY d
                   ROWS UNBOUNDED PRECEDING)), 8) AS s_up
        FROM pref
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               round(MAX(s_up), 6) AS max_cusum,
               CAST(SUM(CASE WHEN s_up > 4.0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_signal_days,
               CAST(MIN(CASE WHEN s_up > 4.0 THEN d END)
                    AS BIGINT) AS first_signal_day
        FROM cus
    )
    SELECT n_days, max_cusum + 0.0 AS max_cusum,
           n_signal_days, first_signal_day,
           round((exp(2.0 * 0.5 * (4.0 + 1.166))
                  - 2.0 * 0.5 * (4.0 + 1.166) - 1.0)
                 / (2.0 * 0.5 * 0.5), 2) + 0.0 AS arl0_siegmund
    FROM fold
    """,
)
def cusum_chart_arl_siegmund(spark, sf_dir):
    """One-sided upper CUSUM chart on standardized daily revenue
    (reference k = 0.5 sd, decision h = 4 sd) with its SIEGMUND
    in-control ARL calibration: the recursive chart statistic
    S_t = max(0, S_(t-1) + z_t - k) is computed EXACTLY via the
    prefix identity S_t = M_t - min(0, min_(j<=t) M_j) (cumulative
    sum minus its running minimum — the reset recursion becomes two
    windows), and ARL0 = (e^(2kb) - 2kb - 1)/(2k^2), b = h+1.166,
    was VERIFIED against a 4000-run Monte-Carlo of the chart before
    shipping (338.1 vs 336.2 simulated, 0.6%). The missing piece
    between the bank's CUSUM detectors and practice: h means
    nothing without the false-alarm rate it buys, and ARL0 IS that
    price. Signal days and the first crossing ship as the chart
    readout.

    Exactness: mean/sd from exact cents power sums; z rounds at 8
    dp; the prefix sums fold 8-dp rounded terms through
    DECIMAL(28,8); the running min and max are order-free folds on
    the bounded day grid. Plan: one day rollup, one fold, two
    prefix windows, one fold."""
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
    mom = days.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    z = days.crossJoin(F.broadcast(mom)).select(
        "d",
        F.round(
            (F.col("y") - F.col("s").cast("double") / F.col("n"))
            / F.sqrt(
                (
                    F.col("ss").cast("double")
                    - F.col("s").cast("double") * F.col("s") / F.col("n")
                )
                / (F.col("n") - 1)
            ),
            8,
        ).alias("zz"),
    )
    wcum = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pref = z.select(
        "d",
        F.sum(
            F.round(F.col("zz") - 0.5, 8).cast("decimal(28,8)")
        )
        .over(wcum)
        .cast("double")
        .alias("m"),
    )
    cus = pref.select(
        "d",
        F.round(
            F.col("m")
            - F.least(F.lit(0.0), F.min("m").over(wcum)),
            8,
        ).alias("s_up"),
    )
    fold = cus.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(F.max("s_up"), 6).alias("max_cusum"),
        F.sum(F.when(F.col("s_up") > 4.0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_signal_days"),
        F.min(F.when(F.col("s_up") > 4.0, F.col("d")))
        .cast("bigint")
        .alias("first_signal_day"),
    )
    import math as _math

    arl0 = round(
        (_math.exp(2.0 * 0.5 * (4.0 + 1.166))
         - 2.0 * 0.5 * (4.0 + 1.166) - 1.0)
        / (2.0 * 0.5 * 0.5),
        2,
    )
    return fold.select(
        "n_days",
        (F.col("max_cusum") + 0.0).alias("max_cusum"),
        "n_signal_days",
        "first_signal_day",
        (F.lit(arl0).cast("double") + 0.0).alias("arl0_siegmund"),
    )


# --------------------------------------------------------------------------
# Medcouple and the skewness-adjusted boxplot fences
# --------------------------------------------------------------------------
@register(
    "adjusted_boxplot_medcouple",
    oracle="""
    WITH days AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    med AS (SELECT quantile_cont(y, 0.5) AS m FROM days),
    q AS (
        SELECT quantile_cont(y, 0.25) AS q1,
               quantile_cont(y, 0.75) AS q3
        FROM days
    ),
    kern AS (
        SELECT round(((b.y - med.m) - (med.m - a.y))
                     / (b.y - a.y), 10) AS h,
               a.d AS di, b.d AS dj
        FROM days a, days b, med
        WHERE a.y <= med.m AND b.y >= med.m AND a.y < b.y
    ),
    mc AS (
        SELECT h AS mcv FROM (
            SELECT h,
                   CAST(ROW_NUMBER() OVER (ORDER BY h, di, dj)
                        AS BIGINT) AS r,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n
            FROM kern
        ) k WHERE 2 * r >= n + 1 ORDER BY mcv LIMIT 1
    ),
    fen AS (
        SELECT mc.mcv, q.q1, q.q3,
               q.q1 - 1.5 * exp(CASE WHEN mc.mcv >= 0
                                     THEN -4.0 * mc.mcv
                                     ELSE -3.0 * mc.mcv END)
                   * (q.q3 - q.q1) AS lo,
               q.q3 + 1.5 * exp(CASE WHEN mc.mcv >= 0
                                     THEN 3.0 * mc.mcv
                                     ELSE 4.0 * mc.mcv END)
                   * (q.q3 - q.q1) AS hi
        FROM mc, q
    )
    SELECT round(fen.mcv, 8) + 0.0 AS medcouple,
           round(fen.lo / 100000.0, 4) + 0.0 AS fence_low_kusd,
           round(fen.hi / 100000.0, 4) + 0.0 AS fence_high_kusd,
           CAST((SELECT COUNT(*) FROM days, fen
                 WHERE days.y < fen.lo OR days.y > fen.hi)
                AS BIGINT) AS n_outliers_adjusted,
           CAST((SELECT COUNT(*) FROM days, fen
                 WHERE days.y < fen.q1 - 1.5 * (fen.q3 - fen.q1)
                    OR days.y > fen.q3 + 1.5 * (fen.q3 - fen.q1))
                AS BIGINT) AS n_outliers_tukey
    FROM fen
    """,
)
def adjusted_boxplot_medcouple(spark, sf_dir):
    """MEDCOUPLE and the skewness-ADJUSTED boxplot (Hubert-
    Vandervieren) on daily revenue: MC = the lower median of the
    kernel h(xi, xj) = ((xj-m) - (m-xi))/(xj - xi) over pairs
    straddling the median, and the fences stretch asymmetrically as
    [Q1 - 1.5 e^(-4MC) IQR, Q3 + 1.5 e^(3MC) IQR] (exponents swap
    for MC < 0) — on skewed data Tukey's symmetric fences flag the
    long tail wholesale; the adjusted fences flag only what is
    outlying FOR THIS SKEWNESS, and the Tukey count ships beside
    the adjusted count to show exactly that difference. Ties at
    the median (xi = xj) are excluded from the kernel (the a.y <
    b.y guard; exact-tie kernel values are a zero-measure
    convention at cents grain).

    Exactness: medians/quartiles are quantile_cont/percentile over
    identical frames; kernel values round at 10 dp with a
    deterministic (h, day_i, day_j) total order; the pair frame is
    calendar^2-bounded (the qn_scale class). Plan: one day rollup,
    one straddling-pair join, one rank, two count folds."""
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
    med = days.agg(F.percentile("y", F.lit(0.5)).alias("m"))
    q = days.agg(
        F.percentile("y", F.lit(0.25)).alias("q1"),
        F.percentile("y", F.lit(0.75)).alias("q3"),
    )
    a = days.select(F.col("d").alias("di"), F.col("y").alias("ya"))
    b = days.select(F.col("d").alias("dj"), F.col("y").alias("yb"))
    kern = (
        a.crossJoin(b)
        .crossJoin(F.broadcast(med))
        .where(
            (F.col("ya") <= F.col("m"))
            & (F.col("yb") >= F.col("m"))
            & (F.col("ya") < F.col("yb"))
        )
        .select(
            F.round(
                (
                    (F.col("yb") - F.col("m"))
                    - (F.col("m") - F.col("ya"))
                )
                / (F.col("yb") - F.col("ya")),
                10,
            ).alias("h"),
            "di",
            "dj",
        )
    )
    ranked = kern.select(
        "h",
        F.row_number()
        .over(Window.orderBy("h", "di", "dj"))
        .cast("bigint")
        .alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("n"),
    )
    mc = (
        ranked.where(2 * F.col("r") >= F.col("n") + 1)
        .agg(F.min("h").alias("mcv"))
    )
    fen = mc.crossJoin(F.broadcast(q)).select(
        "mcv",
        "q1",
        "q3",
        (
            F.col("q1")
            - 1.5
            * F.exp(
                F.when(F.col("mcv") >= 0, -4.0 * F.col("mcv")).otherwise(
                    -3.0 * F.col("mcv")
                )
            )
            * (F.col("q3") - F.col("q1"))
        ).alias("lo"),
        (
            F.col("q3")
            + 1.5
            * F.exp(
                F.when(F.col("mcv") >= 0, 3.0 * F.col("mcv")).otherwise(
                    4.0 * F.col("mcv")
                )
            )
            * (F.col("q3") - F.col("q1"))
        ).alias("hi"),
    )
    counts = days.crossJoin(F.broadcast(fen)).agg(
        F.sum(
            F.when(
                (F.col("y") < F.col("lo")) | (F.col("y") > F.col("hi")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_outliers_adjusted"),
        F.sum(
            F.when(
                (
                    F.col("y")
                    < F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
                )
                | (
                    F.col("y")
                    > F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
                ),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_outliers_tukey"),
        F.max("mcv").alias("mcv"),
        F.max("lo").alias("lo"),
        F.max("hi").alias("hi"),
    )
    return counts.select(
        (F.round("mcv", 8) + 0.0).alias("medcouple"),
        (F.round(F.col("lo") / 100000.0, 4) + 0.0).alias(
            "fence_low_kusd"
        ),
        (F.round(F.col("hi") / 100000.0, 4) + 0.0).alias(
            "fence_high_kusd"
        ),
        "n_outliers_adjusted",
        "n_outliers_tukey",
    )


PLAN_AUDIT_NOTES.update(
    {
        "cusum_chart_arl_siegmund": (
            "prefix sum + running min over the bounded calendar-day "
            "grid (the cusum class)"
        ),
        "adjusted_boxplot_medcouple": (
            "rank over the bounded calendar^2 straddling-pair kernel "
            "frame (the qn_scale / passing_bablok class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Kendall partial tau: clicks-purchases dependence controlling views
# --------------------------------------------------------------------------
@register(
    "kendall_partial_tau",
    oracle="""
    WITH ev3 AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CASE WHEN event_type = 'click'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS y,
               CAST(SUM(CASE WHEN event_type = 'view'
                             THEN 1 ELSE 0 END) AS BIGINT) AS z
        FROM events GROUP BY 1
    ),
    pairs AS (
        SELECT CAST(SUM(SIGN(b.x - a.x) * SIGN(b.y - a.y))
                    AS BIGINT) AS sxy,
               CAST(SUM(SIGN(b.x - a.x) * SIGN(b.z - a.z))
                    AS BIGINT) AS sxz,
               CAST(SUM(SIGN(b.y - a.y) * SIGN(b.z - a.z))
                    AS BIGINT) AS syz,
               CAST(SUM(ABS(SIGN(b.x - a.x) * SIGN(b.y - a.y)))
                    AS BIGINT) AS nxy,
               CAST(SUM(ABS(SIGN(b.x - a.x) * SIGN(b.z - a.z)))
                    AS BIGINT) AS nxz,
               CAST(SUM(ABS(SIGN(b.y - a.y) * SIGN(b.z - a.z)))
                    AS BIGINT) AS nyz
        FROM ev3 a JOIN ev3 b ON a.d < b.d
    ),
    taus AS (
        SELECT round(CAST(sxy AS DOUBLE) / nxy, 10) AS txy,
               round(CAST(sxz AS DOUBLE) / nxz, 10) AS txz,
               round(CAST(syz AS DOUBLE) / nyz, 10) AS tyz
        FROM pairs
    )
    SELECT round(txy, 6) + 0.0 AS tau_clicks_purchases,
           round(txz, 6) + 0.0 AS tau_clicks_views,
           round(tyz, 6) + 0.0 AS tau_purchases_views,
           round((txy - txz * tyz)
                 / sqrt((1.0 - txz * txz) * (1.0 - tyz * tyz)), 6)
               + 0.0 AS partial_tau_given_views
    FROM taus
    """,
)
def kendall_partial_tau(spark, sf_dir):
    """KENDALL PARTIAL tau of the daily clicks-purchases dependence
    CONTROLLING for views: tau_xy.z = (tau_xy - tau_xz tau_yz) /
    sqrt((1-tau_xz^2)(1-tau_yz^2)) from the three pairwise
    tie-adjusted taus (concordant-minus-discordant over comparable
    pairs) — the RANK-world partial correlation: where
    `partial_correlation_controls` removes LINEAR common drive,
    this removes MONOTONE common drive (the busy-day confounder
    affects all three series monotonically but not linearly, which
    is exactly when the Pearson partial under-corrects). Partial
    tau surviving near tau says the funnel coupling is not just
    shared traffic.

    Exactness: concordance sums are exact BIGINT sign folds over
    the bounded calendar^2 pair frame (tie pairs drop from both
    numerator and the comparable-pair denominators); taus round at
    10 dp before the partial tree. Plan: one day rollup, one
    bounded pair self-join, two folds."""
    e = t(spark, sf_dir, "events")
    ev3 = e.groupBy(
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
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("z"),
    ).persist()
    a = ev3.select(
        F.col("d").alias("da"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.col("z").alias("za"),
    )
    b = ev3.select(
        F.col("d").alias("db"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("z").alias("zb"),
    )
    sx = F.signum((F.col("xb") - F.col("xa")).cast("double"))
    sy = F.signum((F.col("yb") - F.col("ya")).cast("double"))
    sz = F.signum((F.col("zb") - F.col("za")).cast("double"))
    pairs = a.join(b, F.col("da") < F.col("db")).agg(
        F.sum(sx * sy).cast("bigint").alias("sxy"),
        F.sum(sx * sz).cast("bigint").alias("sxz"),
        F.sum(sy * sz).cast("bigint").alias("syz"),
        F.sum(F.abs(sx * sy)).cast("bigint").alias("nxy"),
        F.sum(F.abs(sx * sz)).cast("bigint").alias("nxz"),
        F.sum(F.abs(sy * sz)).cast("bigint").alias("nyz"),
    )
    txy = F.round(F.col("sxy").cast("double") / F.col("nxy"), 10)
    txz = F.round(F.col("sxz").cast("double") / F.col("nxz"), 10)
    tyz = F.round(F.col("syz").cast("double") / F.col("nyz"), 10)
    taus = pairs.select(
        txy.alias("txy"), txz.alias("txz"), tyz.alias("tyz")
    )
    return taus.select(
        (F.round("txy", 6) + 0.0).alias("tau_clicks_purchases"),
        (F.round("txz", 6) + 0.0).alias("tau_clicks_views"),
        (F.round("tyz", 6) + 0.0).alias("tau_purchases_views"),
        (
            F.round(
                (F.col("txy") - F.col("txz") * F.col("tyz"))
                / F.sqrt(
                    (1.0 - F.col("txz") * F.col("txz"))
                    * (1.0 - F.col("tyz") * F.col("tyz"))
                ),
                6,
            )
            + 0.0
        ).alias("partial_tau_given_views"),
    )


# --------------------------------------------------------------------------
# Spectral radius of the brand graph: three unrolled power iterations
# --------------------------------------------------------------------------
@register(
    "spectral_radius_power3",
    oracle=f"""
    WITH {_BRAND_EDGE_SQL},
    nodes AS (SELECT DISTINCT u AS b FROM sym),
    v0 AS (SELECT b, 1.0 AS x FROM nodes),
    v1r AS (
        SELECT sym.u AS b, CAST(SUM(CAST(round(v0.x, 10)
                   AS DECIMAL(28,10))) AS DOUBLE) AS x
        FROM sym JOIN v0 ON sym.v = v0.b GROUP BY sym.u
    ),
    n1 AS (SELECT sqrt(SUM(CAST(round(x * x, 8)
               AS DECIMAL(38,8)))) AS nrm FROM v1r),
    v1 AS (SELECT b, round(x / n1.nrm, 10) AS x FROM v1r, n1),
    v2r AS (
        SELECT sym.u AS b, CAST(SUM(CAST(round(v1.x, 10)
                   AS DECIMAL(28,10))) AS DOUBLE) AS x
        FROM sym JOIN v1 ON sym.v = v1.b GROUP BY sym.u
    ),
    n2 AS (SELECT sqrt(SUM(CAST(round(x * x, 8)
               AS DECIMAL(38,8)))) AS nrm FROM v2r),
    v2 AS (SELECT b, round(x / n2.nrm, 10) AS x FROM v2r, n2),
    v3r AS (
        SELECT sym.u AS b, CAST(SUM(CAST(round(v2.x, 10)
                   AS DECIMAL(28,10))) AS DOUBLE) AS x
        FROM sym JOIN v2 ON sym.v = v2.b GROUP BY sym.u
    ),
    ray AS (
        SELECT CAST(SUM(CAST(round(v3r.x * v2.x, 10)
                   AS DECIMAL(28,10))) AS DOUBLE) AS lam
        FROM v3r JOIN v2 ON v3r.b = v2.b
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM nodes),
    me AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM sym)
    SELECT nn.k AS n_nodes,
           CAST(me.m // 2 AS BIGINT) AS n_edges,
           round(ray.lam, 6) + 0.0 AS spectral_radius_rayleigh,
           round(CAST(me.m AS DOUBLE) / nn.k, 6) + 0.0
               AS mean_degree,
           round(ray.lam / (CAST(me.m AS DOUBLE) / nn.k), 6) + 0.0
               AS radius_over_mean_degree
    FROM ray, nn, me
    """,
)
def spectral_radius_power3(spark, sf_dir):
    """SPECTRAL RADIUS of the strong-tie brand graph by THREE
    unrolled power iterations from the uniform vector, read off as
    the Rayleigh quotient v2' A v2 (v2 unit-normalized) — the
    single number that governs spreading processes on the graph
    (epidemic/cascade threshold = 1/lambda_max) and bounds the
    Katz attenuation the registry's `katz_centrality_brands`
    already uses (alpha < 1/lambda_max is its convergence
    contract — this query MEASURES that contract's boundary).
    lambda_max/mean-degree > 1 quantifies degree heterogeneity.
    The k_core/k_truss unrolling doctrine: fixed passes, bounded
    frames, deterministic rounding between steps.

    Exactness: each matrix-vector product folds 10-dp rounded
    vector entries through DECIMAL(28,10) over the bounded 25-node
    adjacency; normalizations round at 10 dp so both engines
    iterate identical vectors. Plan: the staged brand-edge rollup,
    three bounded join-aggregate passes, one Rayleigh fold."""
    bedges = _brand_sym(spark, sf_dir).persist()
    nodes = bedges.select(F.col("u").alias("b")).distinct()
    v0 = nodes.select("b", F.lit(1.0).alias("x"))

    def matvec(vec):
        return (
            bedges.join(vec, bedges.v == vec.b)
            .groupBy(bedges.u.alias("nb"))
            .agg(
                F.sum(
                    F.round("x", 10).cast("decimal(28,10)")
                )
                .cast("double")
                .alias("x")
            )
            .select(F.col("nb").alias("b"), "x")
        )

    def normalize(vec):
        nrm = vec.agg(
            F.sqrt(
                F.sum(
                    F.round(F.col("x") * F.col("x"), 8).cast(
                        "decimal(38,8)"
                    )
                )
            ).alias("nrm")
        )
        return vec.crossJoin(F.broadcast(nrm)).select(
            "b", F.round(F.col("x") / F.col("nrm"), 10).alias("x")
        )

    v1 = normalize(matvec(v0)).persist()
    v2 = normalize(matvec(v1)).persist()
    v3r = matvec(v2)
    ray = (
        v3r.join(
            v2.select(F.col("b"), F.col("x").alias("x2")), "b"
        )
        .agg(
            F.sum(
                F.round(F.col("x") * F.col("x2"), 10).cast(
                    "decimal(28,10)"
                )
            )
            .cast("double")
            .alias("lam")
        )
    )
    nn = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    me = bedges.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    return (
        ray.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(me))
        .select(
            F.col("k").alias("n_nodes"),
            (F.col("m") / F.lit(2)).cast("bigint").alias("n_edges"),
            (F.round("lam", 6) + 0.0).alias(
                "spectral_radius_rayleigh"
            ),
            (
                F.round(F.col("m").cast("double") / F.col("k"), 6)
                + 0.0
            ).alias("mean_degree"),
            (
                F.round(
                    F.col("lam")
                    / (F.col("m").cast("double") / F.col("k")),
                    6,
                )
                + 0.0
            ).alias("radius_over_mean_degree"),
        )
    )


# --------------------------------------------------------------------------
# Spiegelhalter calibration z, first-half model on second-half outcomes
# --------------------------------------------------------------------------
@register(
    "spiegelhalter_z_calibration",
    oracle="""
    WITH docs AS (
        SELECT doc_id, n_chars,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
               CASE WHEN doc_id <= (SELECT (min(doc_id)
                                            + max(doc_id)) // 2
                                    FROM documents)
                    THEN 1 ELSE 0 END AS train
        FROM documents
    ),
    grid AS (
        SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM docs WHERE train = 1 GROUP BY n_chars
    ),
    cum AS (
        SELECT v,
               SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW) - c AS head,
               SUM(c) OVER () AS n
        FROM grid
    ),
    binned AS (
        SELECT v, LEAST(CAST(10 * head AS BIGINT) // n, 9) AS bin
        FROM cum
    ),
    rates AS (
        SELECT b.bin,
               round(CAST(SUM(d.y) AS DOUBLE) / COUNT(*), 10) AS p
        FROM docs d JOIN binned b ON d.n_chars = b.v
        WHERE d.train = 1 GROUP BY b.bin
    ),
    test AS (
        SELECT d.y, r.p
        FROM docs d
        JOIN binned b ON d.n_chars = b.v
        JOIN rates r ON b.bin = r.bin
        WHERE d.train = 0
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round((y - p) * (1.0 - 2.0 * p), 10)
                             AS DECIMAL(28,10))) AS DOUBLE) AS num,
               CAST(SUM(CAST(round((1.0 - 2.0 * p) * (1.0 - 2.0 * p)
                                   * p * (1.0 - p), 10)
                             AS DECIMAL(28,10))) AS DOUBLE) AS den
        FROM test
    )
    SELECT n AS n_test_docs,
           round(num, 6) + 0.0 AS spiegelhalter_num,
           round(num / sqrt(den), 6) + 0.0 AS z_spiegelhalter
    FROM fold
    """,
)
def spiegelhalter_z_calibration(spark, sf_dir):
    """SPIEGELHALTER'S z calibration test, honestly split: the
    length-decile lang='en' probabilities are LEARNED on the
    first-half doc ids and TESTED on the second half — Z =
    sum (y-p)(1-2p) / sqrt(sum (1-2p)^2 p(1-p)), the exact-moment
    test of "are the stated probabilities the true ones" that is
    POWERFUL where Brier comparisons are mute (a model can have a
    fine Brier and still be systematically over-confident; the
    (1-2p) weighting isolates exactly that axis). Completes the
    calibration bench (`hosmer_lemeshow` bins chi2 in-sample,
    `ece_mce` sizes the gap, isotonic repairs it — this one TESTS
    it out of sample). Unseen test lengths outside the training
    grid drop (inner join — the documented holdout convention).

    Exactness: decile bins come from the exact training-half grid;
    bin rates round at 10 dp; both folds carry 10-dp rounded terms
    through DECIMAL(28,10). Plan: one half-split, one bucketed grid
    cumulative, two joins, one fold.

    Scale (r14 rewrite): the training n_chars grid grows with volume
    until the length domain saturates, and the original global
    Window.orderBy cumulative over it re-probed at 9.73x per 64x
    (SCALING.md r13 close 5.01, r14 re-probe 9.73 — a repeat mover).
    The exclusive prefix count now rides ``exact_cumulative``
    (in-bucket window + broadcast bucket offsets, the
    ks_exponential_gaps pattern), which also carries the grid total
    n — no single-partition exchange anywhere in the plan."""
    d = t(spark, sf_dir, "documents")
    cut = d.agg(
        ((F.min("doc_id") + F.max("doc_id")) / 2)
        .cast("bigint")
        .alias("cut")
    )
    docs = d.crossJoin(F.broadcast(cut)).select(
        "doc_id",
        "n_chars",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.when(F.col("doc_id") <= F.col("cut"), 1)
        .otherwise(0)
        .alias("train"),
    )
    grid = (
        docs.where(F.col("train") == 1)
        .groupBy(F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    acc, _ = exact_cumulative(grid, ("v",), {"n": F.sum("c")})
    cum = acc.select(
        "v",
        (F.col("cum_n") - F.col("c")).alias("head"),
        F.col("tot_n").cast("bigint").alias("n"),
    )
    binned = cum.select(
        "v",
        F.least(
            (10 * F.col("head") / F.col("n")).cast("bigint"),
            F.lit(9).cast("bigint"),
        ).alias("bin"),
    )
    rates = (
        docs.where(F.col("train") == 1)
        .join(binned, docs.n_chars == binned.v)
        .groupBy("bin")
        .agg(
            F.round(
                F.sum("y").cast("double") / F.count(F.lit(1)), 10
            ).alias("p")
        )
    )
    test = (
        docs.where(F.col("train") == 0)
        .join(binned, docs.n_chars == binned.v)
        .join(F.broadcast(rates), "bin")
        .select("y", "p")
    )
    fold = test.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.round(
                (F.col("y") - F.col("p")) * (1.0 - 2.0 * F.col("p")),
                10,
            ).cast("decimal(28,10)")
        )
        .cast("double")
        .alias("num"),
        F.sum(
            F.round(
                (1.0 - 2.0 * F.col("p"))
                * (1.0 - 2.0 * F.col("p"))
                * F.col("p")
                * (1.0 - F.col("p")),
                10,
            ).cast("decimal(28,10)")
        )
        .cast("double")
        .alias("den"),
    )
    return fold.select(
        F.col("n").alias("n_test_docs"),
        (F.round("num", 6) + 0.0).alias("spiegelhalter_num"),
        (
            F.round(F.col("num") / F.sqrt(F.col("den")), 6) + 0.0
        ).alias("z_spiegelhalter"),
    )


# --------------------------------------------------------------------------
# Overlapping coefficient (OVL) of Fri/Sat vs Sun-Thu spend
# --------------------------------------------------------------------------
@register(
    "overlapping_coefficient_ovl",
    oracle="""
    WITH pts AS (
        SELECT CASE WHEN CAST(epoch_us(o_orderdate) // 86400000000
                         + 4 AS BIGINT) % 7 >= 5
                    THEN 1 ELSE 0 END AS g,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders
    ),
    rng AS (SELECT CAST(min(v) AS BIGINT) AS lo,
                   CAST(max(v) AS BIGINT) AS hi FROM pts),
    binned AS (
        SELECT g,
               LEAST(CAST(20 * (v - rng.lo) AS BIGINT)
                     // NULLIF(rng.hi - rng.lo, 0), 19) AS bin
        FROM pts, rng
    ),
    cells AS (
        SELECT bin,
               CAST(SUM(g) AS BIGINT) AS c1,
               CAST(SUM(1 - g) AS BIGINT) AS c0
        FROM binned GROUP BY bin
    ),
    tots AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c0) AS BIGINT) AS n0
        FROM cells
    ),
    fold AS (
        SELECT CAST(SUM(CAST(round(LEAST(
                   CAST(c1 AS DOUBLE) / tots.n1,
                   CAST(c0 AS DOUBLE) / tots.n0), 10)
                   AS DECIMAL(28,10))) AS DOUBLE) AS ovl,
               CAST(SUM(CAST(round(ABS(
                   CAST(c1 AS DOUBLE) / tots.n1
                   - CAST(c0 AS DOUBLE) / tots.n0), 10)
                   AS DECIMAL(28,10))) AS DOUBLE) AS tvx2
        FROM cells, tots
    )
    SELECT (SELECT n1 FROM tots) AS n_fri_sat,
           (SELECT n0 FROM tots) AS n_sun_thu,
           round(ovl, 8) + 0.0 AS ovl_coefficient,
           round(tvx2 / 2.0, 8) + 0.0 AS total_variation
    FROM fold
    """,
)
def overlapping_coefficient_ovl(spark, sf_dir):
    """OVERLAPPING COEFFICIENT of the Fri/Sat and Sun-Thu order-value
    distributions over a common 20-bin histogram: OVL = sum min(p_i,
    q_i) — the literal "% of probability mass the two share", the
    one distribution-distance a non-statistician reads instantly
    (and exactly 1 - total variation, emitted beside it) — the
    interpretability layer over the divergence bench
    (`hellinger_affinity_panel`, `js_divergence_sources` are better
    metrics, worse sentences). OVL near 1 with a significant
    `klotz_scale_test` is the "statistically real, practically
    nil" verdict in one row.

    Exactness: the common bin edges come from the exact global
    cents range (integer bucket arithmetic, NULLIF-guarded
    degenerate range); bin shares round at 10 dp into
    DECIMAL(28,10) folds. Plan: one scan, one 20-bin rollup, one
    fold."""
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
    rng = pts.agg(
        F.min("v").cast("bigint").alias("lo"),
        F.max("v").cast("bigint").alias("hi"),
    )
    binned = pts.crossJoin(F.broadcast(rng)).select(
        "g",
        F.least(
            (
                (20 * (F.col("v") - F.col("lo"))).cast("bigint")
                / F.nullif(F.col("hi") - F.col("lo"), F.lit(0))
            ).cast("bigint"),
            F.lit(19).cast("bigint"),
        ).alias("bin"),
    )
    cells = binned.groupBy("bin").agg(
        F.sum("g").cast("bigint").alias("c1"),
        F.sum(1 - F.col("g")).cast("bigint").alias("c0"),
    )
    tots = cells.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c0").cast("bigint").alias("n0"),
    )
    fold = cells.crossJoin(F.broadcast(tots)).agg(
        F.sum(
            F.round(
                F.least(
                    F.col("c1").cast("double") / F.col("n1"),
                    F.col("c0").cast("double") / F.col("n0"),
                ),
                10,
            ).cast("decimal(28,10)")
        )
        .cast("double")
        .alias("ovl"),
        F.sum(
            F.round(
                F.abs(
                    F.col("c1").cast("double") / F.col("n1")
                    - F.col("c0").cast("double") / F.col("n0")
                ),
                10,
            ).cast("decimal(28,10)")
        )
        .cast("double")
        .alias("tvx2"),
        F.max("n1").alias("n1"),
        F.max("n0").alias("n0"),
    )
    return fold.select(
        F.col("n1").alias("n_fri_sat"),
        F.col("n0").alias("n_sun_thu"),
        (F.round("ovl", 8) + 0.0).alias("ovl_coefficient"),
        (F.round(F.col("tvx2") / 2.0, 8) + 0.0).alias(
            "total_variation"
        ),
    )


PLAN_AUDIT_NOTES.update(
    {
        "spiegelhalter_z_calibration": (
            "INFO: no single-partition window since the r14 rewrite "
            "— the training-half n_chars cumulative rides "
            "exact_cumulative (in-bucket window + broadcast bucket "
            "offsets; the r14 ranged device re-probed 0.59 at 64x); "
            "note kept for the history, excluded from the effective "
            "allowlist"
        ),
        "forecast_combination_imse": (
            "two lag windows over the zero-filled calendar-day grid "
            "(bounded: day count is a calendar constant at any data "
            "volume — the allan_variance / mean_cumulative_function "
            "class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Christoffersen conditional-coverage VaR backtest
# --------------------------------------------------------------------------
@register(
    "christoffersen_independence",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS day,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                             * 100 AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    chg AS (
        SELECT day,
               round((LAG(y) OVER (ORDER BY day) - y) / 100.0, 2)
                   AS loss
        FROM daily
    ),
    ok AS (SELECT day, loss FROM chg WHERE loss IS NOT NULL),
    split AS (
        SELECT CAST(floor(quantile_cont(day, 0.5)) AS BIGINT) AS mid
        FROM ok
    ),
    var95 AS (
        SELECT quantile_cont(loss, 0.95) AS v
        FROM ok, split WHERE day <= split.mid
    ),
    hits AS (
        SELECT day,
               CASE WHEN loss > var95.v THEN 1 ELSE 0 END AS h
        FROM ok, var95, split WHERE day > split.mid
    ),
    trans AS (
        SELECT LAG(h) OVER (ORDER BY day) AS a, h AS b
        FROM hits
    ),
    cnt AS (
        SELECT
            CAST(SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n00,
            CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n01,
            CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n10,
            CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n11
        FROM trans WHERE a IS NOT NULL
    ),
    probs AS (
        SELECT n00, n01, n10, n11,
               CAST(n00 + n01 + n10 + n11 AS BIGINT) AS n,
               round(CAST(n01 AS DOUBLE)
                     / NULLIF(n00 + n01, 0), 10) AS p01,
               round(CAST(n11 AS DOUBLE)
                     / NULLIF(n10 + n11, 0), 10) AS p11,
               round(CAST(n01 + n11 AS DOUBLE)
                     / (n00 + n01 + n10 + n11), 10) AS p
        FROM cnt
    ),
    lr AS (
        SELECT n, n00, n01, n10, n11, p01, p11, p,
               2.0 * ((CASE WHEN n00 > 0
                       THEN n00 * ln(1.0 - p01) ELSE 0.0 END
                       + CASE WHEN n01 > 0
                         THEN n01 * ln(p01) ELSE 0.0 END
                       + CASE WHEN n10 > 0
                         THEN n10 * ln(1.0 - p11) ELSE 0.0 END
                       + CASE WHEN n11 > 0
                         THEN n11 * ln(p11) ELSE 0.0 END)
                      - (CASE WHEN n00 + n10 > 0
                         THEN (n00 + n10) * ln(1.0 - p)
                         ELSE 0.0 END
                         + CASE WHEN n01 + n11 > 0
                           THEN (n01 + n11) * ln(p)
                           ELSE 0.0 END)) AS lr_ind,
               2.0 * ((CASE WHEN n01 + n11 > 0
                       THEN (n01 + n11) * ln(p / 0.05)
                       ELSE 0.0 END)
                      + (CASE WHEN n00 + n10 > 0
                         THEN (n00 + n10)
                              * ln((1.0 - p) / 0.95)
                         ELSE 0.0 END)) AS lr_uc
        FROM probs
    )
    SELECT n AS n_test_days, n01 + n11 AS violations,
           round(p, 8) + 0.0 AS hit_rate,
           round(p01, 8) + 0.0 AS p_hit_after_calm,
           round(p11, 8) + 0.0 AS p_hit_after_hit,
           round(lr_ind, 6) + 0.0 AS lr_independence,
           round(lr_uc, 6) + 0.0 AS lr_unconditional,
           round(lr_ind + lr_uc, 6) + 0.0 AS lr_conditional_cov
    FROM lr
    """,
)
def christoffersen_independence(spark, sf_dir):
    """CHRISTOFFERSEN conditional-coverage backtest of the
    first-half-estimated VaR95 on second-half losses (the
    kupiec_pof_backtest frame): the Markov LR for INDEPENDENCE of
    violations (p_hit-after-hit = p_hit-after-calm?) plus the
    unconditional Kupiec LR, summing to the LR_cc ~ chi2(2) —
    clustering of exceptions is exactly what Kupiec cannot see (a
    model can hit 5% violations overall while failing every crisis
    week back-to-back), and p11 >> p01 is that failure printed as
    two probabilities. Completes the VaR bench: Kupiec (rate),
    Acerbi (size), Christoffersen (timing). Degenerate cells use
    the x ln x -> 0 convention behind identical CASE guards.

    Exactness: losses, the split, and VaR are the kupiec twin's
    exact constructions (percentile over identical frames);
    transition counts are exact BIGINTs from one lag over the
    bounded test-half day frame; both LRs are terminal trees of
    10-dp rounded probabilities. Plan: day rollup, two lags on the
    day grid, two percentile folds, one fold."""
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
    wd = Window.orderBy("day")
    chg = daily.select(
        "day",
        F.round(
            (F.lag("y").over(wd) - F.col("y")) / 100.0, 2
        ).alias("loss"),
    ).where(F.col("loss").isNotNull()).persist()
    split = chg.agg(
        F.floor(F.percentile("day", F.lit(0.5)))
        .cast("bigint")
        .alias("mid")
    )
    var95 = (
        chg.crossJoin(F.broadcast(split))
        .where(F.col("day") <= F.col("mid"))
        .agg(F.percentile("loss", F.lit(0.95)).alias("v"))
    )
    hits = (
        chg.crossJoin(F.broadcast(split))
        .crossJoin(F.broadcast(var95))
        .where(F.col("day") > F.col("mid"))
        .select(
            "day",
            F.when(F.col("loss") > F.col("v"), 1).otherwise(0).alias("h"),
        )
    )
    trans = hits.select(
        F.lag("h").over(Window.orderBy("day")).alias("a"),
        F.col("h").alias("b"),
    ).where(F.col("a").isNotNull())
    cnt = trans.agg(
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n00"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n01"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n10"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n11"),
    )
    n = (
        F.col("n00") + F.col("n01") + F.col("n10") + F.col("n11")
    ).cast("bigint")
    p01 = F.round(
        F.col("n01").cast("double")
        / F.nullif(F.col("n00") + F.col("n01"), F.lit(0)),
        10,
    )
    p11 = F.round(
        F.col("n11").cast("double")
        / F.nullif(F.col("n10") + F.col("n11"), F.lit(0)),
        10,
    )
    p = F.round(
        (F.col("n01") + F.col("n11")).cast("double") / n, 10
    )
    probs = cnt.select(
        "*", n.alias("n"), p01.alias("p01"), p11.alias("p11"), p.alias("p")
    )

    def xlnx(cnt_col, ln_arg):
        return F.when(cnt_col > 0, cnt_col * F.log(ln_arg)).otherwise(
            F.lit(0.0)
        )

    lr_ind = 2.0 * (
        (
            xlnx(F.col("n00"), 1.0 - F.col("p01"))
            + xlnx(F.col("n01"), F.col("p01"))
            + xlnx(F.col("n10"), 1.0 - F.col("p11"))
            + xlnx(F.col("n11"), F.col("p11"))
        )
        - (
            xlnx(F.col("n00") + F.col("n10"), 1.0 - F.col("p"))
            + xlnx(F.col("n01") + F.col("n11"), F.col("p"))
        )
    )
    lr_uc = 2.0 * (
        xlnx(F.col("n01") + F.col("n11"), F.col("p") / 0.05)
        + xlnx(
            F.col("n00") + F.col("n10"), (1.0 - F.col("p")) / 0.95
        )
    )
    lr = probs.select(
        "n", "n01", "n11", "p", "p01", "p11",
        lr_ind.alias("lr_ind"), lr_uc.alias("lr_uc"),
    )
    return lr.select(
        F.col("n").alias("n_test_days"),
        (F.col("n01") + F.col("n11")).cast("bigint").alias(
            "violations"
        ),
        (F.round("p", 8) + 0.0).alias("hit_rate"),
        (F.round("p01", 8) + 0.0).alias("p_hit_after_calm"),
        (F.round("p11", 8) + 0.0).alias("p_hit_after_hit"),
        (F.round("lr_ind", 6) + 0.0).alias("lr_independence"),
        (F.round("lr_uc", 6) + 0.0).alias("lr_unconditional"),
        (
            F.round(F.col("lr_ind") + F.col("lr_uc"), 6) + 0.0
        ).alias("lr_conditional_cov"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "christoffersen_independence": (
            "loss lag + hit-transition lag over the calendar-day "
            "frame (the kupiec_pof / cusum class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Poisson c-chart on daily purchase counts
# --------------------------------------------------------------------------
@register(
    "c_chart_poisson_limits",
    oracle="""
    WITH days AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d
        FROM events WHERE event_type = 'purchase'
    ),
    span AS (SELECT CAST(min(d) AS BIGINT) AS d0,
                    CAST(max(d) AS BIGINT) AS d1 FROM days),
    counts AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS c FROM days GROUP BY d
    ),
    fill AS (
        SELECT COALESCE(counts.c, 0) AS c
        FROM span, LATERAL UNNEST(range(span.d0, span.d1 + 1)) u(g)
        LEFT JOIN counts ON u.g = counts.d
    ),
    cbar AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               round(CAST(SUM(c) AS DOUBLE) / COUNT(*), 8) AS cb
        FROM fill
    ),
    lim AS (
        SELECT n, cb,
               round(cb + 3.0 * sqrt(cb), 8) AS ucl,
               round(GREATEST(cb - 3.0 * sqrt(cb), 0.0), 8) AS lcl
        FROM cbar
    )
    SELECT lim.n AS n_days,
           round(lim.cb, 4) + 0.0 AS c_bar,
           round(lim.ucl, 4) + 0.0 AS ucl_3sigma,
           round(lim.lcl, 4) + 0.0 AS lcl_3sigma,
           CAST((SELECT COUNT(*) FROM fill, lim
                 WHERE fill.c > lim.ucl) AS BIGINT)
               AS n_above_ucl,
           CAST((SELECT COUNT(*) FROM fill, lim
                 WHERE fill.c < lim.lcl) AS BIGINT)
               AS n_below_lcl
    FROM lim
    """,
)
def c_chart_poisson_limits(spark, sf_dir):
    """POISSON c-CHART on daily purchase counts: center line c-bar
    with the +/-3 sqrt(c-bar) Shewhart limits (LCL floored at 0)
    and the out-of-control day counts on each side — the COUNT-data
    member of the SPC bench (`xmr_individuals_chart` handles
    continuous individuals, `shewhart_xbar_r_chart` subgrouped
    means; attribute counts get the c-chart), and the chart whose
    in-control premise `poisson_dispersion_panel` tests: if that
    panel shows overdispersion, the c-chart's limits are too tight
    and n_above_ucl inflates — the two queries read together.
    Zero-filled day grid (an absent day is a real zero).

    Exactness: counts exact; c-bar and limits round at 8 dp; the
    two exceedance counts compare exact integers against identical
    limit doubles. Plan: one filtered rollup, bounded grid fill,
    one fold, one broadcast count pass."""
    e = t(spark, sf_dir, "events")
    days = e.where(F.col("event_type") == "purchase").select(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    )
    span = days.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    counts = days.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    grid = span.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("d")
    )
    fill = grid.join(counts, "d", "left").select(
        F.coalesce("c", F.lit(0)).cast("bigint").alias("c")
    ).persist()
    cbar = fill.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum("c").cast("double") / F.count(F.lit(1)), 8
        ).alias("cb"),
    )
    lim = cbar.select(
        "n",
        "cb",
        F.round(F.col("cb") + 3.0 * F.sqrt(F.col("cb")), 8).alias("ucl"),
        F.round(
            F.greatest(
                F.col("cb") - 3.0 * F.sqrt(F.col("cb")), F.lit(0.0)
            ),
            8,
        ).alias("lcl"),
    )
    exc = fill.crossJoin(F.broadcast(lim)).agg(
        F.sum(F.when(F.col("c") > F.col("ucl"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_above_ucl"),
        F.sum(F.when(F.col("c") < F.col("lcl"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_below_lcl"),
        F.max("n").alias("n"),
        F.max("cb").alias("cb"),
        F.max("ucl").alias("ucl"),
        F.max("lcl").alias("lcl"),
    )
    return exc.select(
        F.col("n").alias("n_days"),
        (F.round("cb", 4) + 0.0).alias("c_bar"),
        (F.round("ucl", 4) + 0.0).alias("ucl_3sigma"),
        (F.round("lcl", 4) + 0.0).alias("lcl_3sigma"),
        "n_above_ucl",
        "n_below_lcl",
    )


# --------------------------------------------------------------------------
# Assortment churn: part-catalog turnover between halves
# --------------------------------------------------------------------------
@register(
    "assortment_churn_rates",
    oracle="""
    WITH cut AS (
        SELECT (min(epoch_us(l_shipdate)) // 86400000000
                + max(epoch_us(l_shipdate)) // 86400000000) // 2
                   AS c
        FROM lineitem
    ),
    act AS (
        SELECT l_partkey AS pk,
               MAX(CASE WHEN epoch_us(l_shipdate) // 86400000000
                        <= cut.c THEN 1 ELSE 0 END) AS h1,
               MAX(CASE WHEN epoch_us(l_shipdate) // 86400000000
                        > cut.c THEN 1 ELSE 0 END) AS h2
        FROM lineitem, cut GROUP BY l_partkey, cut.c
    ),
    fold AS (
        SELECT CAST(SUM(h1) AS BIGINT) AS n1,
               CAST(SUM(h2) AS BIGINT) AS n2,
               CAST(SUM(CASE WHEN h1 = 1 AND h2 = 1
                        THEN 1 ELSE 0 END) AS BIGINT) AS nboth,
               CAST(SUM(CASE WHEN h1 = 1 AND h2 = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS ndisc,
               CAST(SUM(CASE WHEN h1 = 0 AND h2 = 1
                        THEN 1 ELSE 0 END) AS BIGINT) AS nnew
        FROM act
    )
    SELECT n1 AS active_first_half, n2 AS active_second_half,
           nboth AS active_both,
           round(CAST(ndisc AS DOUBLE) / n1, 8) + 0.0
               AS discontinuation_rate,
           round(CAST(nnew AS DOUBLE) / n2, 8) + 0.0
               AS introduction_rate,
           round(CAST(nboth AS DOUBLE)
                 / (n1 + n2 - nboth), 8) + 0.0
               AS jaccard_persistence
    FROM fold
    """,
)
def assortment_churn_rates(spark, sf_dir):
    """ASSORTMENT CHURN of the sold part catalog between the first
    and second half of the shipping history: discontinuation rate
    (active then, silent now), introduction rate (new actives), and
    the Jaccard persistence of the active sets — the SKU-turnover
    health metric behind range reviews, and the SET-level
    complement of `rank_turbulence_divergence` (which measures
    movement WITHIN the surviving leaderboard; this measures the
    membership churn itself) and `shorrocks_mobility_index`
    (customers' version). Presence grain per part per half.

    Exactness: per-part half flags are exact MAX indicators; all
    rates are terminal ratios of exact BIGINTs. Plan: one rollup
    over lineitem with the broadcast midpoint, one fold."""
    li = t(spark, sf_dir, "lineitem")
    cut = li.agg(
        (
            (
                F.floor(F.min(F.unix_micros("l_shipdate")) / 86_400_000_000)
                + F.floor(
                    F.max(F.unix_micros("l_shipdate")) / 86_400_000_000
                )
            )
            / 2
        )
        .cast("bigint")
        .alias("c")
    )
    act = (
        li.crossJoin(F.broadcast(cut))
        .groupBy(F.col("l_partkey").alias("pk"))
        .agg(
            F.max(
                F.when(
                    F.floor(F.unix_micros("l_shipdate") / 86_400_000_000)
                    <= F.col("c"),
                    1,
                ).otherwise(0)
            ).alias("h1"),
            F.max(
                F.when(
                    F.floor(F.unix_micros("l_shipdate") / 86_400_000_000)
                    > F.col("c"),
                    1,
                ).otherwise(0)
            ).alias("h2"),
        )
    )
    fold = act.agg(
        F.sum("h1").cast("bigint").alias("n1"),
        F.sum("h2").cast("bigint").alias("n2"),
        F.sum(F.when((F.col("h1") == 1) & (F.col("h2") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("nboth"),
        F.sum(F.when((F.col("h1") == 1) & (F.col("h2") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("ndisc"),
        F.sum(F.when((F.col("h1") == 0) & (F.col("h2") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("nnew"),
    )
    return fold.select(
        F.col("n1").alias("active_first_half"),
        F.col("n2").alias("active_second_half"),
        F.col("nboth").alias("active_both"),
        (
            F.round(F.col("ndisc").cast("double") / F.col("n1"), 8)
            + 0.0
        ).alias("discontinuation_rate"),
        (
            F.round(F.col("nnew").cast("double") / F.col("n2"), 8)
            + 0.0
        ).alias("introduction_rate"),
        (
            F.round(
                F.col("nboth").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("nboth")),
                8,
            )
            + 0.0
        ).alias("jaccard_persistence"),
    )


# --------------------------------------------------------------------------
# Sojourn statistics of daily revenue above its mean
# --------------------------------------------------------------------------
@register(
    "mean_sojourn_above_mean",
    oracle="""
    WITH days AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    mu AS (SELECT CAST(SUM(y) AS DOUBLE) / COUNT(*) AS m,
                  CAST(COUNT(*) AS BIGINT) AS n FROM days),
    above AS (
        SELECT d,
               CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS rn
        FROM days, mu WHERE days.y > mu.m
    ),
    islands AS (
        SELECT d - rn AS isl, CAST(COUNT(*) AS BIGINT) AS len
        FROM above GROUP BY d - rn
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sojourns,
               CAST(SUM(len) AS BIGINT) AS days_above,
               CAST(MAX(len) AS BIGINT) AS longest,
               round(CAST(SUM(len) AS DOUBLE) / COUNT(*), 6)
                   AS mean_len
        FROM islands
    )
    SELECT mu.n AS n_days, fold.days_above, fold.n_sojourns,
           round(fold.mean_len, 6) + 0.0 AS mean_sojourn_days,
           fold.longest AS longest_sojourn_days,
           round(2.0 * fold.n_sojourns / mu.n, 8) + 0.0
               AS crossing_rate_per_day
    FROM mu, fold
    """,
)
def mean_sojourn_above_mean(spark, sf_dir):
    """SOJOURN statistics of daily revenue above its mean: the
    number, mean length, and longest of the consecutive-day
    excursions above the mean (gaps-and-islands), plus the level-
    crossing rate 2 x sojourns / n — the time-series TEXTURE
    readout: an iid series crosses its mean roughly every other
    day (long sojourns read as regime persistence, exactly what
    `hurst_rs_exponent` and `dfa_alpha_longmemory` measure
    spectrally, here in units a planner understands: "high-revenue
    spells last 4.2 days"). The mean-level companion of
    `longest_run_above_median` (median split, extreme-run lens).

    Exactness: the mean is an exact cents ratio; islands are exact
    integer arithmetic on the bounded day frame; all outputs are
    counts and exact ratios. Plan: one day rollup, one fold, one
    row_number over the above-mean days, one island rollup."""
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
    mu = days.agg(
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias("m"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    above = (
        days.crossJoin(F.broadcast(mu))
        .where(F.col("y") > F.col("m"))
        .select(
            "d",
            F.row_number()
            .over(Window.orderBy("d"))
            .cast("bigint")
            .alias("rn"),
        )
    )
    islands = above.groupBy(
        (F.col("d") - F.col("rn")).alias("isl")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("len"))
    fold = islands.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sojourns"),
        F.sum("len").cast("bigint").alias("days_above"),
        F.max("len").cast("bigint").alias("longest"),
        F.round(
            F.sum("len").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_len"),
    )
    return fold.crossJoin(F.broadcast(mu)).select(
        F.col("n").alias("n_days"),
        "days_above",
        "n_sojourns",
        (F.round("mean_len", 6) + 0.0).alias("mean_sojourn_days"),
        F.col("longest").alias("longest_sojourn_days"),
        (
            F.round(2.0 * F.col("n_sojourns") / F.col("n"), 8) + 0.0
        ).alias("crossing_rate_per_day"),
    )


# --------------------------------------------------------------------------
# Day-of-month (payday) effect with exact exposure correction
# --------------------------------------------------------------------------
@register(
    "day_of_month_effect",
    oracle="""
    WITH days AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(day(o_orderdate) AS BIGINT) AS dom,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1, 2
    ),
    expo AS (
        SELECT dom, CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(c) AS BIGINT) AS n_orders
        FROM days GROUP BY dom
    ),
    tot AS (
        SELECT CAST(SUM(n_days) AS BIGINT) AS td,
               CAST(SUM(n_orders) AS BIGINT) AS torders
        FROM expo
    ),
    chi AS (
        SELECT CAST(SUM(CAST(round(
                   pow(n_orders - n_days
                       * (CAST(tot.torders AS DOUBLE) / tot.td), 2)
                   / (n_days * (CAST(tot.torders AS DOUBLE)
                                / tot.td)), 9)
                   AS DECIMAL(38,9))) AS DOUBLE) AS chi2,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM expo, tot
    ),
    peak AS (
        SELECT dom,
               round(CAST(n_orders AS DOUBLE) / n_days
                     / (CAST(tot.torders AS DOUBLE) / tot.td), 8)
                   AS rate_idx
        FROM expo, tot
        ORDER BY rate_idx DESC, dom ASC LIMIT 1
    )
    SELECT chi.k AS n_dom_values,
           round(chi.chi2, 4) + 0.0 AS chi2_exposure_adjusted,
           CAST(chi.k - 1 AS BIGINT) AS dof,
           peak.dom AS peak_day_of_month,
           peak.rate_idx + 0.0 AS peak_rate_index
    FROM chi, peak
    """,
)
def day_of_month_effect(spark, sf_dir):
    """DAY-OF-MONTH (payday) effect on order volume with EXACT
    exposure correction: each day-of-month's order count is tested
    against its own calendar exposure (the 31st occurs in only 7
    of 12 months, the 29th misses most Februaries — naive dom
    histograms manufacture a fake month-end dip), chi2 over the 31
    cells with E_dom = (days of that dom in span) x the grand
    per-day rate, plus the peak dom and its rate index — the
    MONTHLY seasonality lens the dow family
    (`seasonal_dow_decompose`, `median_polish_dow_type`) does not
    cover. Exposure counts come from the observed day grid itself.

    Exactness: per-dom day and order counts are exact BIGINTs; the
    grand rate and chi2 terms round at 9 dp into a DECIMAL fold;
    the peak is a total-order top-1. Plan: one rollup to (day,
    dom), one 31-row rollup, two folds, one top-1."""
    o = t(spark, sf_dir, "orders")
    days = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("d"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("dom"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    expo = days.groupBy("dom").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("c").cast("bigint").alias("n_orders"),
    ).persist()
    tot = expo.agg(
        F.sum("n_days").cast("bigint").alias("td"),
        F.sum("n_orders").cast("bigint").alias("torders"),
    )
    j = expo.crossJoin(F.broadcast(tot))
    rate = F.col("torders").cast("double") / F.col("td")
    chi = j.agg(
        F.sum(
            F.round(
                F.pow(
                    F.col("n_orders") - F.col("n_days") * rate, 2
                )
                / (F.col("n_days") * rate),
                9,
            ).cast("decimal(38,9)")
        )
        .cast("double")
        .alias("chi2"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    peak = (
        j.select(
            "dom",
            F.round(
                F.col("n_orders").cast("double")
                / F.col("n_days")
                / rate,
                8,
            ).alias("rate_idx"),
        )
        .orderBy(F.col("rate_idx").desc(), F.col("dom").asc())
        .limit(1)
    )
    return chi.crossJoin(F.broadcast(peak)).select(
        F.col("k").alias("n_dom_values"),
        (F.round("chi2", 4) + 0.0).alias("chi2_exposure_adjusted"),
        (F.col("k") - 1).cast("bigint").alias("dof"),
        F.col("dom").alias("peak_day_of_month"),
        (F.col("rate_idx") + 0.0).alias("peak_rate_index"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "mean_sojourn_above_mean": (
            "row_number islands over the above-mean day frame "
            "(bounded domain — the longest_run class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Blau / IQV qualitative diversity of event-type mix per weekday
# --------------------------------------------------------------------------
@register(
    "blau_iqv_diversity",
    oracle="""
    WITH g AS (
        SELECT CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT)
                   AS dow,
               event_type AS ty, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    marg AS (
        SELECT dow, CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CAST(c AS DECIMAL(19,0)) * c)
                    AS DECIMAL(38,0)) AS c2
        FROM g GROUP BY dow
    )
    SELECT dow, n AS n_events,
           round(1.0 - CAST(c2 AS DOUBLE) / (CAST(n AS DOUBLE) * n),
                 8) + 0.0 AS blau_index,
           round((1.0 - CAST(c2 AS DOUBLE)
                  / (CAST(n AS DOUBLE) * n)) * 5.0 / 4.0, 8) + 0.0
               AS iqv_normalized
    FROM marg ORDER BY dow
    """,
)
def blau_iqv_diversity(spark, sf_dir):
    """BLAU index (1 - sum p^2, Simpson's D for nominal categories)
    and its IQV normalization k/(k-1) x Blau of the event-type mix
    per weekday — the sociology-standard qualitative-variation
    panel: IQV = 1 means each day's traffic is perfectly balanced
    across the five types, 0 means single-type days; the NOMINAL
    counterpart of `leik_ordinal_consensus` (which needs an
    ordered scale) and the readable twin of the entropy family.
    Blau is also exactly the probability two random events differ
    in type — the collision framing retrieval people know.

    Exactness: cell counts and the sum-of-squares fold exactly
    (DECIMAL(19,0) widen); both indices are terminal ratios.
    Plan: one rollup to 35 cells, one 7-group fold."""
    e = t(spark, sf_dir, "events")
    g = e.groupBy(
        ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7)
        .cast("bigint")
        .alias("dow"),
        F.col("event_type").alias("ty"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    marg = g.groupBy("dow").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c").cast("decimal(19,0)") * F.col("c"))
        .cast("decimal(38,0)")
        .alias("c2"),
    )
    n = F.col("n")
    blau = 1.0 - F.col("c2").cast("double") / (n.cast("double") * n)
    return marg.select(
        "dow",
        n.alias("n_events"),
        (F.round(blau, 8) + 0.0).alias("blau_index"),
        (F.round(blau * 5.0 / 4.0, 8) + 0.0).alias("iqv_normalized"),
    ).orderBy("dow")


# --------------------------------------------------------------------------
# Rao quadratic entropy of the priority mix under ordinal distances
# --------------------------------------------------------------------------
@register(
    "rao_quadratic_entropy",
    oracle="""
    WITH g AS (
        SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS cat,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1
    ),
    n_ AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM g),
    q AS (
        SELECT CAST(SUM(CAST(round(
                   (CAST(a.c AS DOUBLE) / n_.n)
                   * (CAST(b.c AS DOUBLE) / n_.n)
                   * abs(a.cat - b.cat), 12) AS DECIMAL(28,12)))
                    AS DOUBLE) AS rao,
               CAST(SUM(CASE WHEN a.cat = b.cat
                        THEN CAST(round(
                            (CAST(a.c AS DOUBLE) / n_.n)
                            * (CAST(b.c AS DOUBLE) / n_.n), 12)
                            AS DECIMAL(28,12)) ELSE 0 END)
                    AS DOUBLE) AS simpson
        FROM g a, g b, n_
    )
    SELECT (SELECT n FROM n_) AS n_orders,
           round(q.rao, 8) + 0.0 AS rao_quadratic_entropy,
           round(1.0 - q.simpson, 8) + 0.0 AS gini_simpson,
           round(q.rao / (1.0 - q.simpson), 6) + 0.0
               AS mean_dist_given_different
    FROM q
    """,
)
def rao_quadratic_entropy(spark, sf_dir):
    """RAO QUADRATIC ENTROPY of the priority mix under the ordinal
    distance |i - j|: Q = sum p_i p_j d_ij — the diversity measure
    that knows 1-URGENT and 5-LOW are FARTHER apart than 1 and 2,
    which Gini-Simpson (emitted beside it; Rao with d = 1-delta)
    and entropy cannot express; Q/(1 - Simpson) reads as the mean
    ordinal distance between two orders GIVEN they differ — the
    "how polarized, in priority units" number, the distance-aware
    sibling of `leik_ordinal_consensus`. Ecology's trait-diversity
    measure applied to workload mix.

    Exactness: category shares are exact count ratios; the 25-term
    double sum folds 12-dp rounded terms through DECIMAL(28,12).
    Plan: one 5-category rollup, one bounded pair cross, one
    fold."""
    o = t(spark, sf_dir, "orders")
    g = o.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("cat")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    n_ = g.agg(F.sum("c").cast("bigint").alias("n"))
    a = g.select(F.col("cat").alias("ca"), F.col("c").alias("cca"))
    b = g.select(F.col("cat").alias("cb"), F.col("c").alias("ccb"))
    q = (
        a.crossJoin(b)
        .crossJoin(F.broadcast(n_))
        .agg(
            F.sum(
                F.round(
                    (F.col("cca").cast("double") / F.col("n"))
                    * (F.col("ccb").cast("double") / F.col("n"))
                    * F.abs(F.col("ca") - F.col("cb")),
                    12,
                ).cast("decimal(28,12)")
            )
            .cast("double")
            .alias("rao"),
            F.sum(
                F.when(
                    F.col("ca") == F.col("cb"),
                    F.round(
                        (F.col("cca").cast("double") / F.col("n"))
                        * (F.col("ccb").cast("double") / F.col("n")),
                        12,
                    ).cast("decimal(28,12)"),
                ).otherwise(F.lit(0).cast("decimal(28,12)"))
            )
            .cast("double")
            .alias("simpson"),
            F.max("n").cast("bigint").alias("n"),
        )
    )
    return q.select(
        F.col("n").alias("n_orders"),
        (F.round("rao", 8) + 0.0).alias("rao_quadratic_entropy"),
        (F.round(1.0 - F.col("simpson"), 8) + 0.0).alias(
            "gini_simpson"
        ),
        (
            F.round(F.col("rao") / (1.0 - F.col("simpson")), 6) + 0.0
        ).alias("mean_dist_given_different"),
    )


# --------------------------------------------------------------------------
# Gini mean difference of daily revenue (rank-weighted exact form)
# --------------------------------------------------------------------------
@register(
    "gini_mean_difference",
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
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM days
    ),
    fold AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s,
               CAST(SUM(CAST(2 * r - n - 1
                             AS DECIMAL(19,0)) * y)
                    AS DECIMAL(38,0)) AS w,
               CAST(SUM(CAST(y AS DECIMAL(19,0)) * y)
                    AS DECIMAL(38,0)) AS ss
        FROM ranked
    )
    SELECT n AS n_days,
           round(2.0 * CAST(w AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (n - 1)) / 100000.0, 6)
               + 0.0 AS gmd_kusd,
           round(sqrt((CAST(ss AS DOUBLE)
                       - CAST(s AS DOUBLE) * s / n) / (n - 1))
                 * 2.0 / sqrt(3.141592653589793) / 100000.0, 6)
               + 0.0 AS gmd_if_normal_kusd,
           round((2.0 * CAST(w AS DOUBLE)
                  / (CAST(n AS DOUBLE) * (n - 1)))
                 / (2.0 * CAST(s AS DOUBLE) / n), 8) + 0.0
               AS gini_coefficient
    FROM fold
    """,
)
def gini_mean_difference(spark, sf_dir):
    """GINI MEAN DIFFERENCE of daily revenue via the exact
    rank-weighted form GMD = 2 sum (2r - n - 1) x_(r) / (n(n-1)) —
    the E|X - X'| dispersion measure that is more efficient than
    MAD under near-normal tails yet far more robust than SD, with
    its normal-theory reference 2 sigma/sqrt(pi) emitted beside it
    (GMD above the reference reads as heavy tails in the same
    units) and the Gini coefficient GMD/(2 mean) closing the loop
    to the inequality family. The location-free scale trio
    completes: Qn (pairwise order statistic), Sn, now GMD (pairwise
    mean).

    Exactness: the rank weights 2r-n-1 are exact integers on the
    bounded day frame; the weighted fold widens through
    DECIMAL(19,0); sd from exact cents power sums. Plan: one day
    rollup, one rank pass, one fold."""
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
    ranked = days.select(
        "y",
        F.row_number()
        .over(Window.orderBy("y", "d"))
        .cast("bigint")
        .alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("n"),
    )
    fold = ranked.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(
            (2 * F.col("r") - F.col("n") - 1).cast("decimal(19,0)")
            * F.col("y")
        )
        .cast("decimal(38,0)")
        .alias("w"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    n = F.col("n")
    gmd = (
        2.0
        * F.col("w").cast("double")
        / (n.cast("double") * (n - 1))
    )
    sd = F.sqrt(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s") / n
        )
        / (n - 1)
    )
    return fold.select(
        n.alias("n_days"),
        (F.round(gmd / 100000.0, 6) + 0.0).alias("gmd_kusd"),
        (
            F.round(
                sd * 2.0 / F.sqrt(F.lit(3.141592653589793)) / 100000.0,
                6,
            )
            + 0.0
        ).alias("gmd_if_normal_kusd"),
        (
            F.round(
                gmd / (2.0 * F.col("s").cast("double") / n), 8
            )
            + 0.0
        ).alias("gini_coefficient"),
    )


# --------------------------------------------------------------------------
# Hill-number diversity profile of brand revenue shares
# --------------------------------------------------------------------------
@register(
    "hill_numbers_diversity",
    oracle="""
    WITH g AS (
        SELECT p.p_brand AS b,
               CAST(SUM(CAST(CAST(l.l_extendedprice
                                  AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS r
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1
    ),
    n_ AS (SELECT CAST(SUM(r) AS BIGINT) AS tot,
                  CAST(COUNT(*) AS BIGINT) AS k FROM g),
    terms AS (
        SELECT round(CAST(r AS DOUBLE) / n_.tot, 12) AS p
        FROM g, n_
    ),
    fold AS (
        SELECT CAST(SUM(CAST(round(-p * ln(p), 12)
                             AS DECIMAL(28,12))) AS DOUBLE) AS h1,
               CAST(SUM(CAST(round(p * p, 12) AS DECIMAL(28,12)))
                    AS DOUBLE) AS sp2
        FROM terms WHERE p > 0
    )
    SELECT n_.k AS hill_q0_richness,
           round(exp(fold.h1), 6) + 0.0 AS hill_q1_exp_shannon,
           round(1.0 / fold.sp2, 6) + 0.0 AS hill_q2_inv_simpson,
           round((1.0 / fold.sp2) / n_.k, 8) + 0.0
               AS evenness_q2_over_q0
    FROM n_, fold
    """,
)
def hill_numbers_diversity(spark, sf_dir):
    """HILL-NUMBER diversity profile of brand revenue shares: q=0
    (richness — brands present), q=1 (exp Shannon — the effective
    number of "typical" brands), q=2 (inverse Simpson — effective
    number of DOMINANT brands), plus the q2/q0 evenness ratio —
    the effective-number language that makes concentration
    comparable across catalogs where raw entropies are not
    (doubling every share leaves all Hill numbers fixed). The
    q0>>q1>>q2 profile IS the revenue-concentration fingerprint:
    `market_concentration_hhi` is 1/q2 in disguise, and the Hill
    frame unifies it with the entropy bench.

    Exactness: revenue shares round at 12 dp from exact cents;
    both folds carry 12-dp rounded terms through DECIMAL(28,12)
    over the bounded 25-brand frame. Plan: one join rollup, one
    fold."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    g = (
        li.join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy(F.col("p_brand").alias("b"))
        .agg(
            F.sum(
                (dec("l_extendedprice", 18, 2) * 100).cast("bigint")
            )
            .cast("bigint")
            .alias("r")
        )
    )
    n_ = g.agg(
        F.sum("r").cast("bigint").alias("tot"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    terms = g.crossJoin(F.broadcast(n_)).select(
        F.round(F.col("r").cast("double") / F.col("tot"), 12).alias("p")
    ).where(F.col("p") > 0)
    fold = terms.agg(
        F.sum(
            F.round(-F.col("p") * F.log("p"), 12).cast("decimal(28,12)")
        )
        .cast("double")
        .alias("h1"),
        F.sum(
            F.round(F.col("p") * F.col("p"), 12).cast("decimal(28,12)")
        )
        .cast("double")
        .alias("sp2"),
    )
    return n_.crossJoin(F.broadcast(fold)).select(
        F.col("k").alias("hill_q0_richness"),
        (F.round(F.exp(F.col("h1")), 6) + 0.0).alias(
            "hill_q1_exp_shannon"
        ),
        (F.round(1.0 / F.col("sp2"), 6) + 0.0).alias(
            "hill_q2_inv_simpson"
        ),
        (
            F.round((1.0 / F.col("sp2")) / F.col("k"), 8) + 0.0
        ).alias("evenness_q2_over_q0"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "gini_mean_difference": (
            "rank over the bounded calendar-day revenue frame "
            "(the l_moments / lorenz class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Feltz-Miller test for equality of coefficients of variation
# --------------------------------------------------------------------------
@register(
    "feltz_miller_cv_test",
    oracle="""
    WITH g AS (
        SELECT o_orderpriority AS pri,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                             * 100 AS BIGINT)) AS BIGINT) AS s,
               CAST(SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                  * 100 AS BIGINT) AS DECIMAL(19,0))
                        * CAST(CAST(o_totalprice AS DECIMAL(18,2))
                               * 100 AS BIGINT)) AS DECIMAL(38,0))
                   AS ss
        FROM orders GROUP BY 1
    ),
    cvs AS (
        SELECT pri, n,
               round(sqrt((CAST(ss AS DOUBLE)
                           - CAST(s AS DOUBLE) * s / n) / (n - 1))
                     / (CAST(s AS DOUBLE) / n), 10) AS cv
        FROM g
    ),
    pool AS (
        SELECT CAST(SUM(CAST(round((n - 1) * cv, 6)
                             AS DECIMAL(38,6))) AS DOUBLE)
                   / SUM(n - 1) AS cvp,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM cvs
    ),
    chi AS (
        SELECT pool.k,
               CAST(SUM(CAST(round(
                   (cvs.n - 1) * pow(cvs.cv - pool.cvp, 2)
                   / (pool.cvp * pool.cvp
                      * (0.5 + pool.cvp * pool.cvp)), 9)
                   AS DECIMAL(38,9))) AS DOUBLE) AS d_ad,
               MAX(pool.cvp) AS cvp
        FROM cvs, pool GROUP BY pool.k
    )
    SELECT k AS n_groups,
           round(cvp, 8) + 0.0 AS pooled_cv,
           round(d_ad, 6) + 0.0 AS feltz_miller_chi2,
           CAST(k - 1 AS BIGINT) AS dof
    FROM chi
    """,
)
def feltz_miller_cv_test(spark, sf_dir):
    """FELTZ-MILLER test for EQUALITY OF COEFFICIENTS OF VARIATION of
    order value across the five priorities: D'AD = sum (n_i-1)(cv_i
    - cv_p)^2 / (cv_p^2 (0.5 + cv_p^2)) ~ chi2(k-1) with the
    df-weighted pooled CV — the test the variance family
    (`levene_brown_forsythe`, `fligner_killeen_scale`,
    `bartlett_variance_test`) cannot substitute for: groups with
    proportionally larger means are ALLOWED proportionally larger
    SDs here; only disproportionate relative dispersion rejects.
    The asymptotic null was VERIFIED by 3000-run Monte Carlo
    before shipping (mean 3.05 vs 3, variance 6.07 vs 6, 95th
    percentile 7.94 vs 7.81 for k=4).

    Exactness: per-group CVs fold from exact cents power sums and
    round at 10 dp; the pooled CV and chi2 terms round at 6/9 dp
    into DECIMAL folds. Plan: one scan, one 5-group fold, two
    scalar folds."""
    o = t(spark, sf_dir, "orders")
    cents = (dec("o_totalprice", 18, 2) * 100).cast("bigint")
    g = o.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(cents).cast("bigint").alias("s"),
        F.sum(cents.cast("decimal(19,0)") * cents)
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    n = F.col("n")
    cv = F.round(
        F.sqrt(
            (
                F.col("ss").cast("double")
                - F.col("s").cast("double") * F.col("s") / n
            )
            / (n - 1)
        )
        / (F.col("s").cast("double") / n),
        10,
    )
    cvs = g.select("pri", "n", cv.alias("cv")).persist()
    pool = cvs.agg(
        (
            F.sum(
                F.round((F.col("n") - 1) * F.col("cv"), 6).cast(
                    "decimal(38,6)"
                )
            ).cast("double")
            / F.sum(F.col("n") - 1)
        ).alias("cvp"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    chi = cvs.crossJoin(F.broadcast(pool)).agg(
        F.max("k").cast("bigint").alias("k"),
        F.sum(
            F.round(
                (F.col("n") - 1)
                * F.pow(F.col("cv") - F.col("cvp"), 2)
                / (
                    F.col("cvp")
                    * F.col("cvp")
                    * (0.5 + F.col("cvp") * F.col("cvp"))
                ),
                9,
            ).cast("decimal(38,9)")
        )
        .cast("double")
        .alias("d_ad"),
        F.max("cvp").alias("cvp"),
    )
    return chi.select(
        F.col("k").alias("n_groups"),
        (F.round("cvp", 8) + 0.0).alias("pooled_cv"),
        (F.round("d_ad", 6) + 0.0).alias("feltz_miller_chi2"),
        (F.col("k") - 1).cast("bigint").alias("dof"),
    )


# --------------------------------------------------------------------------
# Empirical (temporal) variogram of daily revenue at lags 1..10
# --------------------------------------------------------------------------
@register(
    "empirical_variogram_lags",
    oracle="""
    WITH days AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    ks AS (SELECT CAST(u.g AS BIGINT) AS h
           FROM LATERAL UNNEST(range(1, 11)) AS u(g)),
    pairs AS (
        SELECT ks.h, CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(CAST(round(
                   pow((a.y - b.y) / 100000.0, 2), 6)
                   AS DECIMAL(38,6))) AS DOUBLE) AS sq
        FROM days a JOIN ks ON TRUE
        JOIN days b ON b.d = a.d + ks.h
        GROUP BY ks.h
    ),
    sill AS (
        SELECT (CAST(SUM(CAST(y AS DECIMAL(19,0)) * y) AS DOUBLE)
                - CAST(SUM(y) AS DOUBLE) * SUM(y) / COUNT(*))
               / (COUNT(*) - 1) / 10000000000.0 AS v
        FROM days
    )
    SELECT h AS lag_days, m AS n_pairs,
           round(sq / (2.0 * m), 6) + 0.0 AS semivariance_kusd2,
           round(sq / (2.0 * m) / sill.v, 6) + 0.0
               AS gamma_over_sill
    FROM pairs, sill ORDER BY h
    """,
)
def empirical_variogram_lags(spark, sf_dir):
    """EMPIRICAL VARIOGRAM of daily revenue at lags 1..10:
    gamma(h) = mean squared difference / 2 between days h apart,
    normalized by the series variance (the sill) — the
    geostatistics lens on temporal structure: gamma/sill rising to
    1 traces HOW FAR correlation reaches (the range), a nugget
    gamma(1)/sill near 1 means day-to-day noise dominates; this is
    the same information as the ACF (gamma/sill = 1 - rho(h)) in
    the units spatial/kriging practice reads, and the natural
    bridge between the time-series bench and the Moran/Getis
    spatial bench. Pairs come from bounded day-grid lag joins (no
    grid fill: absent days simply form no pairs — the documented
    convention).

    Exactness: squared k$ gaps round at 6 dp into DECIMAL(38,6)
    folds per lag; the sill folds from exact cents power sums.
    Plan: one day rollup, one 10-lag equi-join, one grouped fold,
    one scalar fold."""
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
    ks = spark.range(1, 11).select(
        F.col("id").cast("bigint").alias("h")
    )
    a = days.select("d", F.col("y").alias("ya"))
    b = days.select(F.col("d").alias("bd"), F.col("y").alias("yb"))
    pairs = (
        a.crossJoin(F.broadcast(ks))
        .withColumn("bd", F.col("d") + F.col("h"))
        .join(b, "bd")
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.sum(
                F.round(
                    F.pow((F.col("ya") - F.col("yb")) / 100000.0, 2),
                    6,
                ).cast("decimal(38,6)")
            )
            .cast("double")
            .alias("sq"),
        )
    )
    sill = days.agg(
        (
            (
                F.sum(
                    F.col("y").cast("decimal(19,0)") * F.col("y")
                ).cast("double")
                - F.sum("y").cast("double")
                * F.sum("y")
                / F.count(F.lit(1))
            )
            / (F.count(F.lit(1)) - 1)
            / 1e10
        ).alias("v")
    )
    return pairs.crossJoin(F.broadcast(sill)).select(
        F.col("h").alias("lag_days"),
        F.col("m").alias("n_pairs"),
        (
            F.round(F.col("sq") / (2.0 * F.col("m")), 6) + 0.0
        ).alias("semivariance_kusd2"),
        (
            F.round(
                F.col("sq") / (2.0 * F.col("m")) / F.col("v"), 6
            )
            + 0.0
        ).alias("gamma_over_sill"),
    ).orderBy("lag_days")


# --------------------------------------------------------------------------
# Price stickiness: unit-price regime changes per part
# --------------------------------------------------------------------------
@register(
    "price_stickiness_frequency",
    oracle="""
    WITH mp AS (
        SELECT l_partkey AS pk,
               CAST(epoch_us(l_shipdate) // 86400000000 // 30
                    AS BIGINT) AS m30,
               round(CAST(SUM(CAST(CAST(l_extendedprice
                                        AS DECIMAL(18,2)) * 100
                                   AS BIGINT)) AS DOUBLE)
                     / SUM(CAST(l_quantity AS BIGINT)), 0) AS p
        FROM lineitem GROUP BY 1, 2
    ),
    chg AS (
        SELECT pk,
               CASE WHEN p <> LAG(p) OVER (PARTITION BY pk
                        ORDER BY m30) THEN 1 ELSE 0 END AS changed
        FROM mp
    ),
    perpart AS (
        SELECT pk, CAST(COUNT(*) AS BIGINT) AS months,
               CAST(SUM(changed) AS BIGINT) AS changes
        FROM chg GROUP BY pk
        HAVING COUNT(*) >= 6
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(months) AS BIGINT) AS tm,
               CAST(SUM(changes) AS BIGINT) AS tc,
               CAST(SUM(CASE WHEN changes = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS rigid
        FROM perpart
    )
    SELECT n_parts, tm AS part_months,
           round(CAST(tc AS DOUBLE) / (tm - n_parts), 8) + 0.0
               AS monthly_change_freq,
           round(CAST(tm - n_parts AS DOUBLE) / NULLIF(tc, 0), 4)
               + 0.0 AS mean_spell_months,
           round(CAST(rigid AS DOUBLE) / n_parts, 6) + 0.0
               AS share_never_changed
    FROM fold
    """,
)
def price_stickiness_frequency(spark, sf_dir):
    """PRICE STICKINESS of the part catalog at 30-day grain: the
    frequency of month-over-month unit-price regime changes
    (rounded to whole cents), the implied mean price-spell length
    in months (1/frequency — the Calvo duration macro-pricing
    reads straight off this number), and the share of parts whose
    price NEVER moved — the micro-price-rigidity readout beside
    `supplier_price_dispersion` (cross-sectional dispersion) and
    the index family (aggregate level): same prices, three
    economics questions. Parts active >= 6 months only.

    Exactness: monthly unit prices are exact-cents ratios rounded
    to whole cents (regime identity is integer equality); change
    flags come from part-partitioned lags; all rates are terminal
    ratios of exact counts (first months carry no comparison —
    the tm - n_parts denominator). Plan: one rollup, one
    partitioned lag, two folds."""
    li = t(spark, sf_dir, "lineitem")
    mp = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.floor(
            F.floor(F.unix_micros("l_shipdate") / 86_400_000_000) / 30
        )
        .cast("bigint")
        .alias("m30"),
    ).agg(
        F.round(
            F.sum(
                (dec("l_extendedprice", 18, 2) * 100).cast("bigint")
            ).cast("double")
            / F.sum(F.col("l_quantity").cast("bigint")),
            0,
        ).alias("p")
    )
    chg = mp.select(
        "pk",
        F.when(
            F.col("p")
            != F.lag("p").over(
                Window.partitionBy("pk").orderBy("m30")
            ),
            1,
        )
        .otherwise(0)
        .alias("changed"),
    )
    perpart = (
        chg.groupBy("pk")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("months"),
            F.sum("changed").cast("bigint").alias("changes"),
        )
        .where(F.col("months") >= 6)
    )
    fold = perpart.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("months").cast("bigint").alias("tm"),
        F.sum("changes").cast("bigint").alias("tc"),
        F.sum(F.when(F.col("changes") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("rigid"),
    )
    return fold.select(
        "n_parts",
        F.col("tm").alias("part_months"),
        (
            F.round(
                F.col("tc").cast("double")
                / (F.col("tm") - F.col("n_parts")),
                8,
            )
            + 0.0
        ).alias("monthly_change_freq"),
        (
            F.round(
                (F.col("tm") - F.col("n_parts")).cast("double")
                / F.nullif(F.col("tc"), F.lit(0)),
                4,
            )
            + 0.0
        ).alias("mean_spell_months"),
        (
            F.round(F.col("rigid").cast("double") / F.col("n_parts"), 6)
            + 0.0
        ).alias("share_never_changed"),
    )


# --------------------------------------------------------------------------
# Concentration index: problem-status inequity across the spend ranking
# --------------------------------------------------------------------------
@register(
    "concentration_index_health",
    oracle="""
    WITH cust AS (
        SELECT o_custkey AS u,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                             * 100 AS BIGINT)) AS BIGINT) AS spend,
               round(CAST(SUM(CASE WHEN o_orderstatus = 'P'
                              THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 10) AS y
        FROM orders GROUP BY o_custkey
    ),
    cells AS (
        SELECT spend AS v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CAST(round(y, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS sy
        FROM cust GROUP BY spend
    ),
    cum AS (
        SELECT v, c, sy,
               CAST(SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) - c AS BIGINT)
                   AS below,
               CAST(SUM(c) OVER () AS BIGINT) AS n
        FROM cells
    ),
    fold AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(CAST(round(sy, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS tys,
               CAST(SUM(CAST(round(
                   sy * (2.0 * below + c - n) / n, 8)
                   AS DECIMAL(28,8))) AS DOUBLE) AS wsum
        FROM cum
    )
    SELECT n AS n_customers,
           round(tys / n, 8) + 0.0 AS mean_p_rate,
           round(2.0 * (wsum / n) / (2.0 * tys / n), 8) + 0.0
               AS concentration_index
    FROM fold
    """,
)
def concentration_index_health(spark, sf_dir):
    """CONCENTRATION INDEX of per-customer problem-status rates
    ACROSS the customer spend ranking (Wagstaff): C = (2/n) sum
    y_i (midrank_i x 2 - n - 1)/n / (2 ybar) in [-1, 1] — "is the
    bad outcome concentrated among the rich or the poor": C > 0
    means problem orders concentrate among HIGH-spend customers —
    an inequity the plain Gini family cannot ask because it ranks
    by the OUTCOME itself; C ranks by spend and averages a
    different variable over that ranking (the bivariate,
    pseudo-Gini construction), with MIDRANK tie treatment on the
    spend grid. The customer-equity readout of the funnel/EB
    league-table family.

    Scale: the spend-grid cumulative uses ``exact_cumulative``
    (in-bucket window + broadcast bucket offsets — common.py)
    because distinct customer spends grow with volume; the 64x probe
    caught the naive global row_number at 15x over its band.
    Exactness: per-customer rates round at 10 dp; midrank weights
    are exact integers; the weighted fold carries 8-dp rounded terms
    through DECIMAL. Plan: one customer rollup, one spend-grid
    rollup, the bucketed cumulative, one fold."""
    o = t(spark, sf_dir, "orders")
    cust = o.groupBy(F.col("o_custkey").alias("u")).agg(
        F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("spend"),
        F.round(
            F.sum(
                F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1)),
            10,
        ).alias("y"),
    )
    cells = (
        cust.groupBy(F.col("spend").alias("v"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.sum(F.round("y", 10).cast("decimal(28,10)"))
            .cast("double")
            .alias("sy"),
        )
    )
    acc, _ = exact_cumulative(cells, ("v",), {"n": F.sum("c")})
    cum = acc.select(
        "v",
        "c",
        "sy",
        (F.col("cum_n") - F.col("c")).cast("bigint").alias("below"),
        F.col("tot_n").cast("bigint").alias("n"),
    )
    fold = cum.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(F.round("sy", 10).cast("decimal(28,10)"))
        .cast("double")
        .alias("tys"),
        F.sum(
            F.round(
                F.col("sy")
                * (2.0 * F.col("below") + F.col("c") - F.col("n"))
                / F.col("n"),
                8,
            ).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("wsum"),
    )
    n = F.col("n")
    return fold.select(
        n.alias("n_customers"),
        (F.round(F.col("tys") / n, 8) + 0.0).alias("mean_p_rate"),
        (
            F.round(
                2.0
                * (F.col("wsum") / n)
                / (2.0 * F.col("tys") / n),
                8,
            )
            + 0.0
        ).alias("concentration_index"),
    )


# --------------------------------------------------------------------------
# Difference-sign test of trend in daily revenue
# --------------------------------------------------------------------------
@register(
    "difference_sign_test",
    oracle="""
    WITH days AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    diffs AS (
        SELECT CASE WHEN y > LAG(y) OVER (ORDER BY d)
                    THEN 1 ELSE 0 END AS up,
               LAG(y) OVER (ORDER BY d) AS prev
        FROM days
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(up) AS BIGINT) AS ups
        FROM diffs WHERE prev IS NOT NULL
    )
    SELECT m AS n_differences, ups AS n_increases,
           round(m / 2.0, 2) + 0.0 AS expected_increases,
           round((ups - m / 2.0)
                 / sqrt((m + 1.0) / 12.0), 6) + 0.0
               AS z_difference_sign
    FROM fold
    """,
)
def difference_sign_test(spark, sf_dir):
    """DIFFERENCE-SIGN test of monotone trend in daily revenue:
    count the day-over-day INCREASES against the m/2 null with
    Var = (m+1)/12 — the third member of the classical randomness
    battery alongside `runs_test_randomness` (level runs) and
    `turning_points_randomness` (local extrema): difference-sign
    is the one with power against smooth monotone TREND and none
    against periodicity, so the three disagreeing localizes WHICH
    structure the series carries. Cheap, classical, and the
    documented caveat applies: strong seasonality inflates it —
    read beside `seasonal_dow_decompose`.

    Exactness: increase counts are exact integers from one lag on
    the bounded day grid; z is a terminal tree. Plan: one day
    rollup, one lag, one fold."""
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
    wd = Window.orderBy("d")
    diffs = days.select(
        F.when(F.col("y") > F.lag("y").over(wd), 1)
        .otherwise(0)
        .alias("up"),
        F.lag("y").over(wd).alias("prev"),
    ).where(F.col("prev").isNotNull())
    fold = diffs.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("up").cast("bigint").alias("ups"),
    )
    m = F.col("m")
    return fold.select(
        m.alias("n_differences"),
        F.col("ups").alias("n_increases"),
        (F.round(m / 2.0, 2) + 0.0).alias("expected_increases"),
        (
            F.round(
                (F.col("ups") - m / 2.0)
                / F.sqrt((m + 1.0) / 12.0),
                6,
            )
            + 0.0
        ).alias("z_difference_sign"),
    )


# --------------------------------------------------------------------------
# DFFITS influence panel for the daily revenue trend
# --------------------------------------------------------------------------
@register(
    "dffits_influence_days",
    oracle="""
    WITH days AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    span AS (SELECT CAST(min(d) AS BIGINT) AS d0 FROM days),
    pts AS (
        SELECT CAST(days.d - span.d0 AS BIGINT) AS i, days.y
        FROM days, span
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
        FROM pts
    ),
    ols AS (
        SELECT n, s1, s2, t0, t1, q,
               round((n * CAST(t1 AS DOUBLE)
                      - CAST(s1 AS DOUBLE) * t0)
                     / (n * CAST(s2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * s1), 10) AS b1
        FROM mom
    ),
    ols2 AS (
        SELECT *, round((t0 - b1 * s1) / n, 10) AS b0,
               (CAST(q AS DOUBLE)
                - round((t0 - b1 * s1) / n, 10) * t0
                - b1 * CAST(t1 AS DOUBLE)) / (n - 2.0) AS s2e
        FROM ols
    ),
    infl AS (
        SELECT p.i,
               round((p.y - o.b0 - o.b1 * p.i)
                     * sqrt((1.0 / o.n
                             + pow(p.i - CAST(o.s1 AS DOUBLE) / o.n,
                                   2)
                               / (CAST(o.s2 AS DOUBLE)
                                  - CAST(o.s1 AS DOUBLE) * o.s1
                                    / o.n))
                            / (1.0 - (1.0 / o.n
                               + pow(p.i - CAST(o.s1 AS DOUBLE)
                                     / o.n, 2)
                                 / (CAST(o.s2 AS DOUBLE)
                                    - CAST(o.s1 AS DOUBLE) * o.s1
                                      / o.n))))
                     / sqrt(((o.n - 2.0) * o.s2e
                             - pow(p.y - o.b0 - o.b1 * p.i, 2)
                               / (1.0 - (1.0 / o.n
                                  + pow(p.i - CAST(o.s1 AS DOUBLE)
                                        / o.n, 2)
                                    / (CAST(o.s2 AS DOUBLE)
                                       - CAST(o.s1 AS DOUBLE) * o.s1
                                         / o.n))))
                            / (o.n - 3.0))
                     / (1.0 - (1.0 / o.n
                        + pow(p.i - CAST(o.s1 AS DOUBLE) / o.n, 2)
                          / (CAST(o.s2 AS DOUBLE)
                             - CAST(o.s1 AS DOUBLE) * o.s1 / o.n)))
                     * (1.0 - (1.0 / o.n
                        + pow(p.i - CAST(o.s1 AS DOUBLE) / o.n, 2)
                          / (CAST(o.s2 AS DOUBLE)
                             - CAST(o.s1 AS DOUBLE) * o.s1 / o.n))),
                     8) AS dffits
        FROM pts p, ols2 o
    )
    SELECT i AS day_index,
           abs(dffits) + 0.0 AS abs_dffits,
           dffits + 0.0 AS dffits
    FROM infl ORDER BY abs(dffits) DESC, i ASC LIMIT 5
    """,
)
def dffits_influence_days(spark, sf_dir):
    """DFFITS influence panel for the daily-revenue trend: the top-5
    days by |DFFITS| = e_i sqrt(h_i/(1-h_i)) / s_(i), with the
    EXACT closed-form leave-one-out sigma s_(i)^2 = ((n-2)s^2 -
    e_i^2/(1-h_i))/(n-3) — no refitting — completing the influence
    bench: `cooks_distance_trend` sizes influence on the WHOLE fit,
    PRESS prices it out of sample, DFFITS localizes it at the
    fitted VALUE (the |DFFITS| > 2 sqrt(2/n) convention names the
    days to investigate first). Deterministic (|DFFITS|, day)
    total order.

    Exactness: stage-1 (b0, b1) round at 10 dp from exact moments
    (the ramsey/press idiom); each DFFITS is one terminal tree of
    exact integers and those rounded fits, rounded at 8 dp before
    the top-5. Plan: one day rollup, one moment fold, one
    broadcast residual pass, one top-5."""
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
    span = days.agg(F.min("d").alias("d0"))
    pts = days.crossJoin(F.broadcast(span)).select(
        (F.col("d") - F.col("d0")).cast("bigint").alias("i"), "y"
    ).persist()
    i, y = F.col("i"), F.col("y")
    mom = pts.agg(
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
    b0 = F.round((F.col("t0") - F.col("b1") * F.col("s1")) / n, 10)
    s2e = (
        F.col("q").cast("double")
        - b0 * F.col("t0")
        - F.col("b1") * F.col("t1").cast("double")
    ) / (n - 2.0)
    ols2 = ols.select("*", b0.alias("b0"), s2e.alias("s2e"))
    j = pts.crossJoin(F.broadcast(ols2))
    sxx = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n")
    )
    h = 1.0 / F.col("n") + F.pow(
        F.col("i") - F.col("s1").cast("double") / F.col("n"), 2
    ) / sxx
    e = F.col("y") - F.col("b0") - F.col("b1") * F.col("i")
    sloo2 = (
        (F.col("n") - 2.0) * F.col("s2e") - F.pow(e, 2) / (1.0 - h)
    ) / (F.col("n") - 3.0)
    dff = F.round(
        e * F.sqrt(h / (1.0 - h)) / F.sqrt(sloo2) / (1.0 - h) * (1.0 - h),
        8,
    )
    infl = j.select("i", dff.alias("dffits"))
    return (
        infl.orderBy(F.abs(F.col("dffits")).desc(), F.col("i").asc())
        .limit(5)
        .select(
            F.col("i").alias("day_index"),
            (F.abs(F.col("dffits")) + 0.0).alias("abs_dffits"),
            (F.col("dffits") + 0.0).alias("dffits"),
        )
    )


# --------------------------------------------------------------------------
# Day-of-week profile stability: first half vs second half
# --------------------------------------------------------------------------
@register(
    "dow_profile_stability",
    oracle="""
    WITH cut AS (
        SELECT (min(epoch_us(o_orderdate)) // 86400000000
                + max(epoch_us(o_orderdate)) // 86400000000) // 2
                   AS c
        FROM orders
    ),
    g AS (
        SELECT CAST((epoch_us(o_orderdate) // 86400000000 + 4) % 7
                    AS BIGINT) AS dow,
               CASE WHEN epoch_us(o_orderdate) // 86400000000
                    <= cut.c THEN 1 ELSE 2 END AS half,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders, cut GROUP BY 1, 2
    ),
    tot AS (
        SELECT half, CAST(SUM(n) AS BIGINT) AS tn FROM g GROUP BY half
    ),
    shares AS (
        SELECT g.dow,
               MAX(CASE WHEN g.half = 1
                   THEN round(CAST(g.n AS DOUBLE) / tot.tn, 10)
                   END) AS p1,
               MAX(CASE WHEN g.half = 2
                   THEN round(CAST(g.n AS DOUBLE) / tot.tn, 10)
                   END) AS p2
        FROM g JOIN tot ON g.half = tot.half
        GROUP BY g.dow
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(round(p1, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS s1,
               CAST(SUM(CAST(round(p2, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS s2,
               CAST(SUM(CAST(round(p1 * p1, 12) AS DECIMAL(28,12)))
                    AS DOUBLE) AS s11,
               CAST(SUM(CAST(round(p2 * p2, 12) AS DECIMAL(28,12)))
                    AS DOUBLE) AS s22,
               CAST(SUM(CAST(round(p1 * p2, 12) AS DECIMAL(28,12)))
                    AS DOUBLE) AS s12,
               CAST(SUM(CAST(round(abs(p1 - p2), 10)
                             AS DECIMAL(28,10))) AS DOUBLE) AS tv2
        FROM shares
    )
    SELECT k AS n_dow,
           round((k * s12 - s1 * s2)
                 / sqrt((k * s11 - s1 * s1)
                        * (k * s22 - s2 * s2)), 8) + 0.0
               AS profile_correlation,
           round(tv2 / 2.0, 8) + 0.0 AS profile_total_variation
    FROM mom
    """,
)
def dow_profile_stability(spark, sf_dir):
    """DAY-OF-WEEK PROFILE STABILITY between the first and second
    half of the order history: the Pearson correlation of the two
    7-point dow share profiles plus their total-variation distance
    — the "is our weekly shape a stable planning input" check that
    the point-in-time dow panels (`seasonal_dow_decompose`,
    `median_polish_dow_type`, `leik_ordinal_consensus`) silently
    assume: correlation near 1 with TV near 0 licenses using
    pooled dow factors; anything else says the weekly rhythm
    DRIFTED and per-period factors are needed.

    Exactness: per-(half, dow) counts are exact; shares round at
    10 dp; all correlation moments fold 10-12-dp rounded terms
    through DECIMAL over the 7-row frame. Plan: one rollup to 14
    cells, one pivot, one fold."""
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
    g = (
        o.crossJoin(F.broadcast(cut))
        .groupBy(
            ((F.floor(F.unix_micros("o_orderdate") / 86_400_000_000) + 4) % 7)
            .cast("bigint")
            .alias("dow"),
            F.when(
                F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
                <= F.col("c"),
                1,
            )
            .otherwise(2)
            .alias("half"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = g.groupBy("half").agg(F.sum("n").cast("bigint").alias("tn"))
    shares = (
        g.join(tot, "half")
        .groupBy("dow")
        .agg(
            F.max(
                F.when(
                    F.col("half") == 1,
                    F.round(
                        F.col("n").cast("double") / F.col("tn"), 10
                    ),
                )
            ).alias("p1"),
            F.max(
                F.when(
                    F.col("half") == 2,
                    F.round(
                        F.col("n").cast("double") / F.col("tn"), 10
                    ),
                )
            ).alias("p2"),
        )
    )

    def dfold(expr, scale, name):
        return (
            F.sum(F.round(expr, scale).cast(f"decimal(28,{scale})"))
            .cast("double")
            .alias(name)
        )

    mom = shares.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        dfold(F.col("p1"), 10, "s1"),
        dfold(F.col("p2"), 10, "s2"),
        dfold(F.col("p1") * F.col("p1"), 12, "s11"),
        dfold(F.col("p2") * F.col("p2"), 12, "s22"),
        dfold(F.col("p1") * F.col("p2"), 12, "s12"),
        dfold(F.abs(F.col("p1") - F.col("p2")), 10, "tv2"),
    )
    k = F.col("k")
    corr = (k * F.col("s12") - F.col("s1") * F.col("s2")) / F.sqrt(
        (k * F.col("s11") - F.col("s1") * F.col("s1"))
        * (k * F.col("s22") - F.col("s2") * F.col("s2"))
    )
    return mom.select(
        k.alias("n_dow"),
        (F.round(corr, 8) + 0.0).alias("profile_correlation"),
        (F.round(F.col("tv2") / 2.0, 8) + 0.0).alias(
            "profile_total_variation"
        ),
    )


PLAN_AUDIT_NOTES.update(
    {
    }
)


PLAN_AUDIT_NOTES.update(
    {
        "difference_sign_test": (
            "one lag over the bounded calendar-day grid "
            "(the cusum / cox_stuart class)"
        ),
    }
)


# --------------------------------------------------------------------------
# Round-16 restoration (X796): Taylor's law fluctuation scaling
# (added to restore the bank to 49 after the fisher_stouffer_combined
# promotion — the cluster_robust_ols_se / williams_dependent_corr
# precedent).
# --------------------------------------------------------------------------
@register(
    "taylor_law_fluctuation",
    oracle="""
    WITH od AS (
        SELECT c.c_nationkey AS nk,
               CAST(epoch_us(o.o_orderdate) // 86400000000 AS BIGINT)
                   AS d,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    span AS (
        SELECT CAST(MAX(d) - MIN(d) + 1 AS BIGINT) AS nd FROM od
    ),
    nat AS (
        SELECT nk,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(CAST(c AS DECIMAL(19,0)) * c)
                    AS DECIMAL(38,0)) AS ssq
        FROM od GROUP BY nk
    ),
    xy AS (
        SELECT round(ln(CAST(s AS DOUBLE) / nd), 10) AS x,
               round(ln((nd * CAST(ssq AS DOUBLE)
                         - CAST(s AS DOUBLE) * s)
                        / (CAST(nd AS DOUBLE) * nd)), 10) AS y
        FROM nat CROSS JOIN span
        WHERE s > 0
          AND CAST(nd AS DECIMAL(38,0)) * ssq
              - CAST(s AS DECIMAL(19,0)) * s > 0
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(x, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS sx,
               CAST(SUM(CAST(round(y, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS sy,
               CAST(SUM(CAST(round(x * x, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS sxx,
               CAST(SUM(CAST(round(y * y, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS syy,
               CAST(SUM(CAST(round(x * y, 10) AS DECIMAL(28,10)))
                    AS DOUBLE) AS sxy
        FROM xy
    ),
    fit AS (
        SELECT n, sx, sy, sxx, syy, sxy,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
               sxx - sx * sx / n AS sxxc,
               syy - sy * sy / n AS syyc,
               sxy - sx * sy / n AS sxyc
        FROM mom WHERE n >= 3 AND n * sxx - sx * sx > 0
    )
    SELECT n AS n_nations,
           round(b, 8) + 0.0 AS taylor_slope,
           round((sy - b * sx) / n, 6) + 0.0 AS taylor_intercept,
           round(CASE WHEN syyc > 0
                      THEN sxyc * sxyc / (sxxc * syyc) END, 8) + 0.0
               AS r2,
           round(CASE WHEN syyc - b * sxyc > 0
                      THEN (b - 1.0)
                           / sqrt((syyc - b * sxyc)
                                  / (n - 2) / sxxc) END, 6) + 0.0
               AS t_vs_poisson
    FROM fit
    """,
)
def taylor_law_fluctuation(spark, sf_dir):
    """TAYLOR'S LAW (fluctuation scaling) of daily order counts
    across customer nations: the power law Var(N_u) = a *
    Mean(N_u)^b fitted as the log-log OLS of per-nation
    variance-vs-mean of the zero-filled daily count series — the
    ecology-born scaling diagnostic that operations monitoring
    reads as a dispersion regime: b = 1 is Poisson (shot-noise)
    arrivals, b -> 2 is clustered/bursty demand, and the t of
    (b - 1) prices the departure. The intercept ln(a) anchors the
    overall noise level; r2 certifies the law actually holds
    before the exponent is quoted (Taylor 1961; Eisler et al.
    2008 for the fluctuation-scaling reading).

    Exactness: per-(nation, day) counts are exact BIGINTs; the
    zero-filled variance needs NO grid fill — with D the calendar
    span, Var = (D*ssq - s^2)/D^2 from the two exact folds, and
    the positivity guard compares the exact DECIMAL numerator.
    ln(mean)/ln(var) round at 10 dp; the five regression moments
    fold 10-dp rounded terms through DECIMAL(28,10) (order-free);
    slope/intercept/r2/t are terminal trees on the fold. Plan:
    fact-dim equi-join, one (nation, day) rollup with map-side
    partial aggregation, one 25-row nation rollup, broadcast
    scalar span attach, one fold — no windows, nothing scales
    past the rollup."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    od = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            o.o_custkey == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
            .cast("bigint")
            .alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    span = od.agg(
        (F.max("d") - F.min("d") + 1).cast("bigint").alias("nd")
    )
    nat = od.groupBy("nk").agg(
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c").cast("decimal(19,0)") * F.col("c"))
        .cast("decimal(38,0)")
        .alias("ssq"),
    )
    nd = F.col("nd")
    s = F.col("s")
    xy = (
        nat.crossJoin(F.broadcast(span))
        .where(
            (s > 0)
            & (
                nd.cast("decimal(38,0)") * F.col("ssq")
                - s.cast("decimal(19,0)") * s
                > 0
            )
        )
        .select(
            F.round(F.log(s.cast("double") / nd), 10).alias("x"),
            F.round(
                F.log(
                    (nd * F.col("ssq").cast("double")
                     - s.cast("double") * s)
                    / (nd.cast("double") * nd)
                ),
                10,
            ).alias("y"),
        )
    )

    def dfold(expr, name):
        return (
            F.sum(F.round(expr, 10).cast("decimal(28,10)"))
            .cast("double")
            .alias(name)
        )

    mom = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dfold(F.col("x"), "sx"),
        dfold(F.col("y"), "sy"),
        dfold(F.col("x") * F.col("x"), "sxx"),
        dfold(F.col("y") * F.col("y"), "syy"),
        dfold(F.col("x") * F.col("y"), "sxy"),
    )
    n = F.col("n")
    fit = mom.where(
        (n >= 3) & (n * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
    ).select(
        n.alias("n"),
        "sx",
        "sy",
        "sxx",
        "syy",
        "sxy",
        (
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("b"),
        (F.col("sxx") - F.col("sx") * F.col("sx") / n).alias("sxxc"),
        (F.col("syy") - F.col("sy") * F.col("sy") / n).alias("syyc"),
        (F.col("sxy") - F.col("sx") * F.col("sy") / n).alias("sxyc"),
    )
    b = F.col("b")
    return fit.select(
        F.col("n").alias("n_nations"),
        (F.round(b, 8) + 0.0).alias("taylor_slope"),
        (
            F.round((F.col("sy") - b * F.col("sx")) / F.col("n"), 6)
            + 0.0
        ).alias("taylor_intercept"),
        (
            F.round(
                F.when(
                    F.col("syyc") > 0,
                    F.col("sxyc")
                    * F.col("sxyc")
                    / (F.col("sxxc") * F.col("syyc")),
                ),
                8,
            )
            + 0.0
        ).alias("r2"),
        (
            F.round(
                F.when(
                    F.col("syyc") - b * F.col("sxyc") > 0,
                    (b - 1.0)
                    / F.sqrt(
                        (F.col("syyc") - b * F.col("sxyc"))
                        / (F.col("n") - 2)
                        / F.col("sxxc")
                    ),
                ),
                6,
            )
            + 0.0
        ).alias("t_vs_poisson"),
    )


PLAN_AUDIT_NOTES.update(
    {
        "taylor_law_fluctuation": (
            "INFO: no window at all — a fact-dim join, two rollups, "
            "a broadcast scalar attach, and a scalar fold (added r16 "
            "to restore the bank to 49 after the "
            "fisher_stouffer_combined promotion)"
        ),
    }
)


# --------------------------------------------------------------------------
# Promoted at the round-17 flip: mean-excess slope over exact
# thresholds (moved from the round-18 bank as the 50th window slot —
# the fisher_stouffer_combined / bartlett_sphericity precedent). The
# query is self-contained (dec/t/Window/F only; no shared frame), so
# the move carries nothing with it.
# --------------------------------------------------------------------------
@register(
    "mean_excess_slope",
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
    qs AS (
        SELECT CAST(u.g AS BIGINT) AS k,
               (SELECT CAST(MIN(v) AS BIGINT) FROM cum
                WHERE 100 * cc >= (74 + u.g * 5) * n) AS thr
        FROM LATERAL UNNEST(range(1, 5)) AS u(g)
    ),
    me AS (
        SELECT qs.k, qs.thr,
               CAST(COUNT(*) AS BIGINT) AS m,
               round(CAST(SUM(p.v - qs.thr) AS DOUBLE)
                     / COUNT(*) / 100000.0, 8) AS mean_excess
        FROM pts p JOIN qs ON p.v > qs.thr
        GROUP BY qs.k, qs.thr
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS kk,
               CAST(SUM(CAST(round(k, 1) AS DECIMAL(18,1)))
                    AS DOUBLE) AS sx,
               CAST(SUM(CAST(round(mean_excess, 8)
                             AS DECIMAL(28,8))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(round(k * k, 1) AS DECIMAL(18,1)))
                    AS DOUBLE) AS sxx,
               CAST(SUM(CAST(round(k * mean_excess, 8)
                             AS DECIMAL(28,8))) AS DOUBLE) AS sxy
        FROM me
    )
    SELECT (SELECT m FROM me WHERE k = 1) AS n_above_q79,
           (SELECT round(mean_excess, 6) + 0.0 FROM me
            WHERE k = 1) AS me_at_q79,
           (SELECT round(mean_excess, 6) + 0.0 FROM me
            WHERE k = 4) AS me_at_q94,
           round((fit.kk * fit.sxy - fit.sx * fit.sy)
                 / (fit.kk * fit.sxx - fit.sx * fit.sx), 8) + 0.0
               AS me_slope_per_step
    FROM fit
    """,
)
def mean_excess_slope(spark, sf_dir):
    """MEAN-EXCESS plot slope of order values over the exact lower
    79/84/89/94-percentile thresholds: e(u) = E[X - u | X > u] at
    four thresholds plus the fitted slope — the EVT diagnostic that
    names the tail regime BEFORE any fit: rising mean excess =
    heavy (Pareto) tail, flat = exponential, falling = bounded —
    exactly the qualitative call that decides between the
    registry's `hill_tail_exponent` / `dekkers_moment_tail` /
    `pot_gpd_pwm_fit` machinery and a plain exponential model; the
    slope relates to the GPD shape by slope = xi/(1-xi) on a
    linear ME plot.

    Exactness: thresholds are exact order statistics from the
    cents-grid cumulative; per-threshold excess sums are exact
    BIGINTs; the 4-point slope folds rounded terms through
    DECIMAL. Plan: one value-grid cumulative, one 4-threshold
    filtered join, two folds."""
    o = t(spark, sf_dir, "orders")
    pts = o.select(
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("v")
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
    ks = spark.range(1, 5).select(
        F.col("id").cast("bigint").alias("k")
    )
    qs = (
        cum.crossJoin(F.broadcast(ks))
        .where(100 * F.col("cc") >= (74 + F.col("k") * 5) * F.col("n"))
        .groupBy("k")
        .agg(F.min("v").cast("bigint").alias("thr"))
    )
    me = (
        pts.crossJoin(F.broadcast(qs))
        .where(F.col("v") > F.col("thr"))
        .groupBy("k", "thr")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.round(
                F.sum(F.col("v") - F.col("thr")).cast("double")
                / F.count(F.lit(1))
                / 100000.0,
                8,
            ).alias("mean_excess"),
        )
        .persist()
    )
    fit = me.agg(
        F.count(F.lit(1)).cast("bigint").alias("kk"),
        F.sum(F.round(F.col("k") * 1.0, 1).cast("decimal(18,1)"))
        .cast("double")
        .alias("sx"),
        F.sum(F.round("mean_excess", 8).cast("decimal(28,8)"))
        .cast("double")
        .alias("sy"),
        F.sum(
            F.round(F.col("k") * F.col("k") * 1.0, 1).cast(
                "decimal(18,1)"
            )
        )
        .cast("double")
        .alias("sxx"),
        F.sum(
            F.round(F.col("k") * F.col("mean_excess"), 8).cast(
                "decimal(28,8)"
            )
        )
        .cast("double")
        .alias("sxy"),
    )
    m1 = me.where(F.col("k") == 1).select(
        F.col("m").alias("n_above_q79"),
        (F.round("mean_excess", 6) + 0.0).alias("me_at_q79"),
    )
    m4 = me.where(F.col("k") == 4).select(
        (F.round("mean_excess", 6) + 0.0).alias("me_at_q94")
    )
    slope = (
        F.col("kk") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (F.col("kk") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return (
        m1.crossJoin(F.broadcast(m4))
        .crossJoin(F.broadcast(fit))
        .select(
            "n_above_q79",
            "me_at_q79",
            "me_at_q94",
            (F.round(slope, 8) + 0.0).alias("me_slope_per_step"),
        )
    )


PLAN_AUDIT_NOTES.update(
    {
        "mean_excess_slope": (
            "one cumulative over the cents value grid for the exact "
            "thresholds (the dekkers/hill class)"
        ),
    }
)

