"""Round-10-staged bank, LIVE since round 11 (X296-X344 in SURVEY
§2.11): built during round 10 AFTER the official 50-slot window
filled, staged OUTSIDE the live registry so ``tests/test_registry.py::
test_no_new_official_debt`` never saw an oracle-paired name without an
official row. Round 11 flipped the module into ``plans._MODULES``
exactly like round 9 flipped ``next_window.py``: the decorator now
registers through ``plans.register`` while still recording every name
in ``BANK_QUERIES``/``BANK_ORACLES`` so ``tests/test_bank_r11.py``
keeps gate-mirroring the whole flipped set at two scale factors, and
the round-11 ``_PRIORITY`` window is the 49 bank names in registration
order plus the rows-only registry name ``ann_lsh_bucketed`` the r10
verdict directed into the window tail = exactly 50 (the verdict also
named ``minhash_near_dup``, but that one already has its official
rows-only record from CORRECTNESS_r02). The bank's last three queries
(X345-X347, including the two pooled-ECDF latecomers whose
duplicate-``tots`` oracles round 11 fixed) deferred to
``plans/bank_r12.py`` to make the arithmetic work.

Every query lands here only after passing the driver-gate compare
(``tools/check.py`` canon/hash) at sf0.001 AND sf0.01 via
``tests/test_bank_r11.py``, plus the sf0.1 sweep through
``tools/check.py --module bank_r11`` (the round-8 lesson: integer
overflow in power sums only shows at sf0.1+).

Topic sweep (genuinely new ground vs the 377 live names):
two-sample distribution tests beyond KS/MWU (Cramér-von Mises +
Watson, Anderson-Darling, Kuiper, Mood scale), robust shape panels
(Bowley/Moors), time-series complexity (sample entropy, permutation
entropy, variance-ratio, variogram), EVT (GPD peaks-over-threshold by
PWM), stylometry (Burrows' Delta, hapax richness, JS divergence,
Kneser-Ney discounts, log-odds-Dirichlet), agreement (Fleiss kappa),
causal panels (DiD, RDD), graph cohesion (rich club), embedding
geometry (anisotropy via the sum-vector identity), and
business-analytics shapes (net dollar retention, duplicate-invoice
audit, SBC intermittent-demand grid).

Determinism discipline (plans/__init__ contract): counts, midranks
(2x-scaled), and cross-multiplied ECDF gaps are exact integers; money
folds are integer cents; ln/sqrt terms are per-row IEEE rounded to a
fixed scale BEFORE any cross-partition DECIMAL fold; every final float
rounds; possibly-negative-zero outputs append ``+ 0.0``; every top-k
carries a total-order tiebreak.

Scale shape: the pooled-ECDF machinery is the value-bucket global
cumsum (in-bucket windows + broadcast bucket offsets —
``plans/common.exact_cumulative``), so no unpartitioned window touches
row-grain data anywhere in this module; day-grain queries ride the
bounded orders calendar (~2.4k rows) exactly like round10.py.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from . import register as _live_register
from .common import dec, exact_cumulative, t

BANK_QUERIES: dict = {}
BANK_ORACLES: dict = {}


def register(name: str, oracle: str | None = None):
    """Registers live via ``plans.register`` AND records the name in
    the bank dicts so ``tests/test_bank_r11.py`` keeps gate-mirroring
    the whole flipped set independently of the registry (see module
    docstring for the flip protocol)."""

    live = _live_register(name, oracle)

    def deco(fn):
        BANK_QUERIES[name] = fn
        if oracle is not None:
            BANK_ORACLES[name] = oracle
        return live(fn)

    return deco


# --------------------------------------------------------------------------
# shared: pooled two-sample ECDF at distinct-value grain (click vs purchase)
# --------------------------------------------------------------------------
_POOL_SQL = """
    pool AS (
        SELECT value, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    by_val AS (
        SELECT value, CAST(SUM(g1) AS BIGINT) AS c1,
               CAST(SUM(1 - g1) AS BIGINT) AS c2
        FROM pool GROUP BY value
    ),
    tots AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c2) AS BIGINT) AS n2
        FROM by_val
    ),
    cum AS (
        SELECT value, c1 + c2 AS h,
               SUM(c1) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)
                   AS f1,
               SUM(c2) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)
                   AS f2
        FROM by_val
    )
"""


def _ecdf2(spark, sf_dir):
    """(value, h, f1, f2) at distinct-value grain plus per-row totals
    (n1, n2) — f1/f2 are EXACT cumulative counts of each sample through
    the value, and n1/n2 the sample totals, from one
    ``exact_cumulative`` pass."""
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
            F.sum("g1").alias("c1"),
            F.sum(1 - F.col("g1")).alias("c2"),
        )
    )
    acc, _ = exact_cumulative(
        by_val, ("value",), {"f1": F.sum("c1"), "f2": F.sum("c2")}
    )
    return acc.select(
        "value",
        (F.col("c1") + F.col("c2")).alias("h"),
        F.col("cum_f1").alias("f1"),
        F.col("cum_f2").alias("f2"),
        F.col("tot_f1").cast("bigint").alias("n1"),
        F.col("tot_f2").cast("bigint").alias("n2"),
    )


# --------------------------------------------------------------------------
# Cramér-von Mises + Watson U² two-sample tests
# --------------------------------------------------------------------------
@register(
    "cramer_von_mises_watson",
    oracle=f"""
    WITH {_POOL_SQL},
    gaps AS (
        SELECT c.h,
               c.f1 * t.n2 - c.f2 * t.n1 AS d
        FROM cum c, tots t
    ),
    folds AS (
        SELECT CAST(SUM(CAST(h AS DECIMAL(38,0)) * d * d)
                    AS DECIMAL(38,0)) AS u,
               CAST(SUM(CAST(h AS DECIMAL(38,0)) * d)
                    AS DECIMAL(38,0)) AS s,
               CAST(COUNT(*) AS BIGINT) AS n_values
        FROM gaps
    )
    SELECT t.n1, t.n2, f.n_values,
           round(CAST(f.u AS DOUBLE)
                 / ((t.n1 + t.n2) * CAST(t.n1 + t.n2 AS DOUBLE)
                    * t.n1 * t.n2), 9) AS cvm_t,
           round(CAST(f.u AS DOUBLE)
                 / ((t.n1 + t.n2) * CAST(t.n1 + t.n2 AS DOUBLE)
                    * t.n1 * t.n2)
                 - CAST(f.s AS DOUBLE) * CAST(f.s AS DOUBLE)
                   / ((t.n1 + t.n2) * CAST(t.n1 + t.n2 AS DOUBLE)
                      * (t.n1 + t.n2) * t.n1 * t.n2), 9) + 0.0
               AS watson_u2
    FROM folds f, tots t
    """,
)
def cramer_von_mises_watson(spark, sf_dir):
    """Two-sample Cramér-von Mises T plus Watson's U² (click vs
    purchase values): T integrates the SQUARED ECDF gap over the pooled
    sample — sensitive to distributed shape differences a single max
    (KS) misses; Watson's U² recenters the gap (Σh·(d−d̄)²), making the
    statistic rotation-invariant — the variant used for circular/
    periodic data and the sharper of the two against location-free
    shape drift.

    Exactness: with d_j = f1·n2 − f2·n1 (cross-multiplied integer ECDF
    gap at distinct value j, multiplicity h_j), both Σh·d² and Σh·d are
    EXACT DECIMAL(38,0) integer folds; T = Σh·d²/(N²·n1·n2) and
    U² = T − (Σh·d)²/(N³·n1·n2) divide once at the end.

    Plan: the bucketed ECDF device (no unpartitioned window), then one
    summary fold — identical shuffle shape to ks_two_sample_values."""
    cum = _ecdf2(spark, sf_dir)
    d = F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1")
    folds = cum.groupBy("n1", "n2").agg(
        F.sum(F.col("h").cast("decimal(38,0)") * d * d)
        .cast("decimal(38,0)")
        .alias("u"),
        F.sum(F.col("h").cast("decimal(38,0)") * d)
        .cast("decimal(38,0)")
        .alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
    )
    nn = F.col("n1") + F.col("n2")
    t_stat = F.col("u").cast("double") / (
        nn * nn.cast("double") * F.col("n1") * F.col("n2")
    )
    u2 = t_stat - F.col("s").cast("double") * F.col("s").cast("double") / (
        nn * nn.cast("double") * nn * F.col("n1") * F.col("n2")
    )
    return folds.select(
        "n1",
        "n2",
        "n_values",
        F.round(t_stat, 9).alias("cvm_t"),
        (F.round(u2, 9) + 0.0).alias("watson_u2"),
    )


# --------------------------------------------------------------------------
# Anderson-Darling two-sample test (ties-weighted, Scholz-Stephens k=2)
# --------------------------------------------------------------------------
@register(
    "anderson_darling_two_sample",
    oracle=f"""
    WITH {_POOL_SQL},
    terms AS (
        SELECT CAST(round(
                   CAST(h AS DOUBLE)
                   * ((t.n1 + t.n2) * c.f1 - t.n1 * (c.f1 + c.f2))
                   * ((t.n1 + t.n2) * c.f1 - t.n1 * (c.f1 + c.f2))
                   / (CAST(c.f1 + c.f2 AS DOUBLE)
                      * ((t.n1 + t.n2) - (c.f1 + c.f2))), 9)
               AS DECIMAL(38,9)) AS term
        FROM cum c, tots t
        WHERE c.f1 + c.f2 < t.n1 + t.n2
    ),
    fold AS (
        SELECT SUM(term) AS sd, CAST(COUNT(*) AS BIGINT) AS n_terms
        FROM terms
    )
    SELECT t.n1, t.n2, f.n_terms,
           round(CAST(f.sd AS DOUBLE) / (t.n1 * CAST(t.n2 AS DOUBLE)),
                 6) AS ad_a2
    FROM fold f, tots t
    """,
)
def anderson_darling_two_sample(spark, sf_dir):
    """Two-sample Anderson-Darling A² (click vs purchase values),
    ties-weighted Scholz-Stephens k=2 form: the ECDF-gap integral with
    1/(H(N−H)) weighting that makes the TAILS count — the test that
    catches tail drift (extreme-value contamination, truncation) which
    KS and CvM, weighted toward the middle, both under-power. For k=2
    the two samples' terms coincide (N·f2 − n2·H = −(N·f1 − n1·H)), so
    A² = Σ_j h_j·(N·f1_j − n1·H_j)²/(H_j·(N−H_j)) / (n1·n2), summed
    over distinct pooled values below the maximum.

    Determinism: the numerator (N·f1 − n1·H)² and weights are exact
    integers per distinct value; each term's single division is
    per-row IEEE rounded to 9 before the DECIMAL(38,9) fold (the
    round-before-fold contract), so partial-aggregate order cannot
    move a bit. Plan: bucketed ECDF device + one fold."""
    cum = _ecdf2(spark, sf_dir)
    nn = F.col("n1") + F.col("n2")
    hh = F.col("f1") + F.col("f2")
    num = nn * F.col("f1") - F.col("n1") * hh
    term = F.round(
        F.col("h").cast("double")
        * num
        * num
        / (hh.cast("double") * (nn - hh)),
        9,
    ).cast("decimal(38,9)")
    fold = (
        cum.where(hh < nn)
        .groupBy("n1", "n2")
        .agg(
            F.sum(term).alias("sd"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        )
    )
    return fold.select(
        "n1",
        "n2",
        "n_terms",
        F.round(
            F.col("sd").cast("double")
            / (F.col("n1") * F.col("n2").cast("double")),
            6,
        ).alias("ad_a2"),
    )


# --------------------------------------------------------------------------
# Kuiper two-sample test (V = D+ + D−, exact integers)
# --------------------------------------------------------------------------
@register(
    "kuiper_two_sample",
    oracle=f"""
    WITH {_POOL_SQL},
    gaps AS (
        SELECT c.f1 * t.n2 - c.f2 * t.n1 AS d
        FROM cum c, tots t
    ),
    fold AS (
        SELECT GREATEST(CAST(MAX(d) AS BIGINT), 0) AS dplus,
               GREATEST(CAST(MAX(-d) AS BIGINT), 0) AS dminus
        FROM gaps
    )
    SELECT t.n1, t.n2, f.dplus AS dplus_scaled, f.dminus AS dminus_scaled,
           round((f.dplus + f.dminus)
                 / CAST(t.n1 * t.n2 AS DOUBLE), 9) AS v_stat
    FROM fold f, tots t
    """,
)
def kuiper_two_sample(spark, sf_dir):
    """Kuiper two-sample test: V = D⁺ + D⁻, the sum of the largest
    ECDF exceedance in EACH direction — equally sensitive across the
    whole support (KS's max|·| loses power near the tails) and the
    standard drift test for periodic domains (hour-of-day, phase)
    where the cut point of the CDF is arbitrary. Both extrema are
    exact cross-multiplied integers (the KS discipline); each is
    floored at 0 because sup(F−G) is never negative (the gap is 0 at
    −∞). One bucketed-ECDF pass + one summary fold."""
    cum = _ecdf2(spark, sf_dir)
    d = F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1")
    fold = cum.groupBy("n1", "n2").agg(
        F.greatest(F.max(d).cast("bigint"), F.lit(0).cast("bigint")).alias(
            "dplus_scaled"
        ),
        F.greatest(
            F.max(-d).cast("bigint"), F.lit(0).cast("bigint")
        ).alias("dminus_scaled"),
    )
    return fold.select(
        "n1",
        "n2",
        "dplus_scaled",
        "dminus_scaled",
        F.round(
            (F.col("dplus_scaled") + F.col("dminus_scaled"))
            / (F.col("n1") * F.col("n2")).cast("double"),
            9,
        ).alias("v_stat"),
    )


# --------------------------------------------------------------------------
# Mood scale test (squared centered midranks)
# --------------------------------------------------------------------------
@register(
    "mood_scale_ranks",
    oracle="""
    WITH pool AS (
        SELECT value, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    ranked AS (
        SELECT g1,
               CAST(RANK() OVER (ORDER BY value) AS BIGINT) * 2
               + CAST(COUNT(*) OVER (PARTITION BY value) AS BIGINT) - 1
                   AS rank2
        FROM pool
    ),
    tots AS (
        SELECT CAST(SUM(g1) AS BIGINT) AS n1,
               CAST(SUM(1 - g1) AS BIGINT) AS n2
        FROM ranked
    ),
    fold AS (
        SELECT CAST(SUM(CASE WHEN g1 = 1
                        THEN (rank2 - (t.n1 + t.n2 + 1))
                             * (rank2 - (t.n1 + t.n2 + 1))
                        ELSE 0 END) AS BIGINT) AS t4
        FROM ranked, tots t
        GROUP BY t.n1, t.n2
    )
    SELECT t.n1, t.n2, f.t4,
           round(f.t4 / 4.0, 6) AS mood_t,
           round((f.t4 / 4.0
                  - t.n1 * (CAST(t.n1 + t.n2 AS DOUBLE)
                            * (t.n1 + t.n2) - 1) / 12.0)
                 / sqrt(t.n1 * CAST(t.n2 AS DOUBLE)
                        * (t.n1 + t.n2 + 1)
                        * (CAST(t.n1 + t.n2 AS DOUBLE)
                           * (t.n1 + t.n2) - 4) / 180.0), 6) + 0.0
               AS z_stat
    FROM fold f, tots t
    """,
)
def mood_scale_ranks(spark, sf_dir):
    """Mood's scale test (click vs purchase values): T = Σ over sample
    1 of (r̄ − (N+1)/2)² — squared deviation of each observation's
    midrank from the center, the rank test for DISPERSION differences
    (same median, different spread — the case Mann-Whitney can't see
    and Ansari-Bradley sees with linear scores; Mood's quadratic
    scores give it more tail weight). Centered midranks are exact
    half-integers: 2r̄ − (N+1) = rank2 − (N+1) is an exact integer, so
    T·4 is an exact BIGINT fold at any partitioning. The z-statistic
    uses the no-ties null moments E[T] = n1(N²−1)/12,
    Var[T] = n1·n2(N+1)(N²−4)/180 (documented convention; ties in the
    2-decimal value grid are sparse).

    Plan: the global-midrank device (in-bucket ranks plus broadcast
    bucket offsets and both sample totals from one
    ``exact_cumulative`` pass) + one integer fold. Equal values share
    a bucket by construction, so midranks are bit-identical."""
    e = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    pool, w = exact_cumulative(
        e.select(
            "value",
            (F.col("event_type") == "click").cast("int").alias("g1"),
        ),
        ("value",),
        {"pn": F.count(F.lit(1)), "p1": F.sum("g1")},
    )
    rank2 = (
        (F.rank().over(w).cast("bigint") + F.col("off_pn")) * 2
        + F.count(F.lit(1))
        .over(Window.partitionBy("pid", "value"))
        .cast("bigint")
        - 1
    )
    ranked = pool.select(
        "g1",
        rank2.alias("rank2"),
        F.col("tot_p1").cast("bigint").alias("n1"),
        (F.col("tot_pn") - F.col("tot_p1")).cast("bigint").alias("n2"),
    )
    nn1 = F.col("n1") + F.col("n2") + 1
    fold = (
        ranked
        .groupBy("n1", "n2")
        .agg(
            F.sum(
                F.when(
                    F.col("g1") == 1,
                    (F.col("rank2") - nn1) * (F.col("rank2") - nn1),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("t4")
        )
    )
    nn = F.col("n1") + F.col("n2")
    e_t = (
        F.col("n1")
        * (nn.cast("double") * nn - 1)
        / 12.0
    )
    var_t = (
        F.col("n1")
        * F.col("n2").cast("double")
        * (nn + 1)
        * (nn.cast("double") * nn - 4)
        / 180.0
    )
    return fold.select(
        "n1",
        "n2",
        "t4",
        F.round(F.col("t4") / 4.0, 6).alias("mood_t"),
        (
            F.round((F.col("t4") / 4.0 - e_t) / F.sqrt(var_t), 6) + 0.0
        ).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Robust shape panel: Bowley skewness + Moors kurtosis from octiles
# --------------------------------------------------------------------------
@register(
    "quantile_shape_panel",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(quantile_cont(value, 0.5), 6) AS median,
           round(quantile_cont(value, 0.75)
                 - quantile_cont(value, 0.25), 6) AS iqr,
           round((quantile_cont(value, 0.75)
                  - 2 * quantile_cont(value, 0.5)
                  + quantile_cont(value, 0.25))
                 / (quantile_cont(value, 0.75)
                    - quantile_cont(value, 0.25)), 6) + 0.0
               AS bowley_skew,
           round(((quantile_cont(value, 0.875)
                   - quantile_cont(value, 0.625))
                  + (quantile_cont(value, 0.375)
                     - quantile_cont(value, 0.125)))
                 / (quantile_cont(value, 0.75)
                    - quantile_cont(value, 0.25)), 6) AS moors_kurt
    FROM events GROUP BY event_type
    """,
)
def quantile_shape_panel(spark, sf_dir):
    """Quantile-based distribution-shape panel per event type: Bowley
    skewness (Q3 − 2·median + Q1)/IQR and Moors kurtosis
    ((E7−E5)+(E3−E1))/IQR from octiles — the OUTLIER-PROOF skew and
    tail-weight measures (moment-based skewness/kurtosis explode on a
    single contaminated point; quantile versions have a 25% breakdown
    point). The monitoring view a value-distribution drift alert
    should be built on, next to the moment panel it complements
    (stats_moments_by_flag).

    Exactness: Spark's exact ``percentile`` aggregate and DuckDB's
    ``quantile_cont`` share the same linear interpolation on (n−1)·p
    (the weighted_price_quantiles precedent); all shape ratios are
    per-group scalar expressions, rounded, with ``+ 0.0`` on Bowley
    whose sign is free. Plan: one hash agg per type — percentile is
    the only per-group sort, over values of one event type."""
    e = t(spark, sf_dir, "events")
    q = {
        p: F.expr(f"percentile(value, {p})")
        for p in (0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875)
    }
    iqr = q[0.75] - q[0.25]
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(q[0.5], 6).alias("median"),
        F.round(iqr, 6).alias("iqr"),
        (
            F.round((q[0.75] - 2 * q[0.5] + q[0.25]) / iqr, 6) + 0.0
        ).alias("bowley_skew"),
        F.round(
            ((q[0.875] - q[0.625]) + (q[0.375] - q[0.125])) / iqr, 6
        ).alias("moors_kurt"),
    )


# --------------------------------------------------------------------------
# shared: day-grain orders revenue in exact cents (the round10 device)
# --------------------------------------------------------------------------
_DAILY_SQL = """
    daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    )
"""


def _daily(spark, sf_dir):
    """Orders rolled to day grain: (d, y cents) — exact integers; the
    calendar frame (~2.4k rows at any SF) every series query below
    rides (domain-bounded: constant in data volume)."""
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
            .alias("y")
        )
    )


# --------------------------------------------------------------------------
# Sample entropy of the daily revenue series (m=2, integer tolerance)
# --------------------------------------------------------------------------
@register(
    "sample_entropy_daily",
    oracle=f"""
    WITH {_DAILY_SQL},
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
        SELECT a.d, a.y AS y0, b.y AS y1, c.y AS y2
        FROM daily a
        JOIN daily b ON b.d = a.d + 1
        LEFT JOIN daily c ON c.d = a.d + 2
    ),
    pairs AS (
        SELECT CAST(SUM(CASE WHEN ABS(i.y0 - j.y0) <= r.r
                              AND ABS(i.y1 - j.y1) <= r.r
                         THEN 1 ELSE 0 END) AS BIGINT) AS b_pairs,
               CAST(SUM(CASE WHEN ABS(i.y0 - j.y0) <= r.r
                              AND ABS(i.y1 - j.y1) <= r.r
                              AND i.y2 IS NOT NULL AND j.y2 IS NOT NULL
                              AND ABS(i.y2 - j.y2) <= r.r
                         THEN 1 ELSE 0 END) AS BIGINT) AS a_pairs
        FROM t2 i JOIN t2 j ON i.d < j.d, tol r
        GROUP BY r.r
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
           r.r AS r_cents, p.b_pairs, p.a_pairs,
           round(-ln(p.a_pairs / CAST(p.b_pairs AS DOUBLE)), 6)
               AS sampen
    FROM pairs p, tol r
    """,
)
def sample_entropy_daily(spark, sf_dir):
    """Sample entropy (SampEn, m=2) of the daily-revenue series — the
    regularity/complexity measure: −ln(A/B) where B counts day pairs
    whose 2-day templates match within tolerance r and A counts those
    whose 3-day extensions still match. Low SampEn = repetitive,
    predictable dynamics; high = noise. The anomaly-monitoring
    complement to the spectral/ACF views (a regime change moves SampEn
    before it moves the mean).

    Determinism: the series is exact integer cents; the tolerance is
    an INTEGER — r = floor(0.2·sd), sd from exact integer power sums
    (n·Σy² − (Σy)² as DECIMAL(38,0), one double sqrt at the end) — so
    every template comparison is integer-exact. Templates use calendar
    lags (d+1, d+2 must exist); the template self-join is over the
    day-grain frame only (domain-bounded ~2.4k rows — pair count is a
    calendar constant, NOT data-volume-scaled; at 100 TB the fact scan
    still reduces to the same 2.4k-row frame first)."""
    daily = _daily(spark, sf_dir).persist()
    tol = daily.agg(
        F.floor(
            0.2
            * F.sqrt(
                (
                    F.count(F.lit(1))
                    * F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
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
        (F.col("d") - 1).alias("d"), F.col("y").alias("y1")
    )
    c2 = daily.select(
        (F.col("d") - 2).alias("d"), F.col("y").alias("y2")
    )
    t2 = (
        daily.withColumnRenamed("y", "y0")
        .join(b1, "d")
        .join(c2, "d", "left")
        .crossJoin(F.broadcast(tol))
    )
    i = t2.select(
        F.col("d").alias("di"),
        F.col("y0").alias("i0"),
        F.col("y1").alias("i1"),
        F.col("y2").alias("i2"),
        "r",
    )
    j = t2.select(
        F.col("d").alias("dj"),
        F.col("y0").alias("j0"),
        F.col("y1").alias("j1"),
        F.col("y2").alias("j2"),
    )
    m2 = (F.abs(F.col("i0") - F.col("j0")) <= F.col("r")) & (
        F.abs(F.col("i1") - F.col("j1")) <= F.col("r")
    )
    m3 = (
        m2
        & F.col("i2").isNotNull()
        & F.col("j2").isNotNull()
        & (F.abs(F.col("i2") - F.col("j2")) <= F.col("r"))
    )
    pairs = (
        i.join(j, F.col("di") < F.col("dj"))
        .groupBy("r")
        .agg(
            F.sum(m2.cast("long")).cast("bigint").alias("b_pairs"),
            F.sum(m3.cast("long")).cast("bigint").alias("a_pairs"),
        )
    )
    n_days = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days")
    )
    return (
        pairs.crossJoin(F.broadcast(n_days))
        .select(
            "n_days",
            F.col("r").alias("r_cents"),
            "b_pairs",
            "a_pairs",
            F.round(
                -F.log(
                    F.col("a_pairs") / F.col("b_pairs").cast("double")
                ),
                6,
            ).alias("sampen"),
        )
    )


# --------------------------------------------------------------------------
# Permutation entropy (Bandt-Pompe, m=3) of the daily revenue series
# --------------------------------------------------------------------------
@register(
    "permutation_entropy_daily",
    oracle=f"""
    WITH {_DAILY_SQL},
    w AS (
        SELECT a.y AS v0, b.y AS v1, c.y AS v2
        FROM daily a
        JOIN daily b ON b.d = a.d + 1
        JOIN daily c ON c.d = a.d + 2
    ),
    pat AS (
        SELECT CASE
            WHEN v0 <= v1 AND v1 <= v2 THEN '012'
            WHEN v0 <= v2 AND v2 < v1  THEN '021'
            WHEN v1 < v0  AND v0 <= v2 THEN '102'
            WHEN v2 < v0  AND v0 <= v1 THEN '120'
            WHEN v1 <= v2 AND v2 < v0  THEN '201'
            ELSE '210' END AS pattern
        FROM w
    ),
    cnt AS (
        SELECT pattern, CAST(COUNT(*) AS BIGINT) AS c FROM pat GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt),
    h AS (
        SELECT CAST(SUM(CAST(round(c / CAST(t.n AS DOUBLE)
                                   * ln(c / CAST(t.n AS DOUBLE)), 12)
                        AS DECIMAL(38,12))) AS DOUBLE) AS hneg
        FROM cnt, tot t
    )
    SELECT c.pattern, c.c AS n_windows,
           round(c.c / CAST(t.n AS DOUBLE), 6) AS share,
           round(-h.hneg, 6) AS perm_entropy,
           round(-h.hneg / ln(6), 6) AS perm_entropy_norm
    FROM cnt c, tot t, h
    """,
)
def permutation_entropy_daily(spark, sf_dir):
    """Bandt-Pompe permutation entropy (order m=3) of daily revenue:
    classify every 3 consecutive calendar days by the ORDINAL pattern
    of their values (6 possible orderings, ties broken toward the
    earlier day — the Bandt-Pompe stable-sort convention, expressed as
    <=/< comparisons on exact cents), then the Shannon entropy of the
    pattern distribution. A pure trend shows only '012'/'210';
    white noise shows all six equally (entropy → ln 6). The
    complexity view that is invariant to any monotone transform of
    the values — robust where SampEn's amplitude tolerance is not.

    Output: one row per observed pattern with its count and share,
    plus the (identical-per-row) entropy and ln(6)-normalized entropy.
    Counts are exact; the ≤6 p·ln p terms round to 12 before the
    DECIMAL fold. Plan: two calendar lag joins + one 6-cell rollup."""
    daily = _daily(spark, sf_dir)
    b1 = daily.select((F.col("d") - 1).alias("d"), F.col("y").alias("v1"))
    c2 = daily.select((F.col("d") - 2).alias("d"), F.col("y").alias("v2"))
    w = (
        daily.withColumnRenamed("y", "v0")
        .join(b1, "d")
        .join(c2, "d")
    )
    v0, v1, v2 = F.col("v0"), F.col("v1"), F.col("v2")
    pattern = (
        F.when((v0 <= v1) & (v1 <= v2), "012")
        .when((v0 <= v2) & (v2 < v1), "021")
        .when((v1 < v0) & (v0 <= v2), "102")
        .when((v2 < v0) & (v0 <= v1), "120")
        .when((v1 <= v2) & (v2 < v0), "201")
        .otherwise("210")
    )
    cnt = w.groupBy(pattern.alias("pattern")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot_n = cnt.agg(F.sum("c").cast("bigint").alias("n"))
    h = (
        cnt.crossJoin(F.broadcast(tot_n))
        .agg(
            F.sum(
                F.round(
                    F.col("c")
                    / F.col("n").cast("double")
                    * F.log(F.col("c") / F.col("n").cast("double")),
                    12,
                ).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("hneg")
        )
    )
    return (
        cnt.crossJoin(F.broadcast(tot_n))
        .crossJoin(F.broadcast(h))
        .select(
            "pattern",
            F.col("c").alias("n_windows"),
            F.round(F.col("c") / F.col("n").cast("double"), 6).alias(
                "share"
            ),
            F.round(-F.col("hneg"), 6).alias("perm_entropy"),
            F.round(-F.col("hneg") / F.log(F.lit(6.0)), 6).alias(
                "perm_entropy_norm"
            ),
        )
    )


# --------------------------------------------------------------------------
# Lo-MacKinlay variance-ratio test on daily log revenue (q = 5)
# --------------------------------------------------------------------------
@register(
    "variance_ratio_daily",
    oracle=f"""
    WITH {_DAILY_SQL},
    x AS (
        SELECT d, CAST(round(ln(y), 9) AS DECIMAL(18,9)) AS x FROM daily
    ),
    d1 AS (
        SELECT b.x - a.x AS dx FROM x a JOIN x b ON b.d = a.d + 1
    ),
    dq AS (
        SELECT b.x - a.x AS dx FROM x a JOIN x b ON b.d = a.d + 5
    ),
    m1 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dx) AS DECIMAL(38,9)) AS s,
               CAST(SUM(dx * dx) AS DECIMAL(38,18)) AS q
        FROM d1
    ),
    mq AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dx) AS DECIMAL(38,9)) AS s,
               CAST(SUM(dx * dx) AS DECIMAL(38,18)) AS q
        FROM dq
    ),
    v AS (
        SELECT m1.n AS n1, mq.n AS nq,
               (CAST(m1.q AS DOUBLE)
                - CAST(m1.s AS DOUBLE) * CAST(m1.s AS DOUBLE) / m1.n)
               / (m1.n - 1) AS var1,
               (CAST(mq.q AS DOUBLE)
                - CAST(mq.s AS DOUBLE) * CAST(mq.s AS DOUBLE) / mq.n)
               / (mq.n - 1) AS varq
        FROM m1, mq
    )
    SELECT n1, nq,
           round(var1, 9) AS var_1d,
           round(varq, 9) AS var_5d,
           round(varq / (5 * var1), 6) AS vr_5,
           round((varq / (5 * var1) - 1)
                 / sqrt(2.0 * (2 * 5 - 1) * (5 - 1)
                        / (3.0 * 5 * nq)), 6) + 0.0 AS z_iid
    FROM v
    """,
)
def variance_ratio_daily(spark, sf_dir):
    """Lo-MacKinlay variance-ratio test (q = 5) on daily log revenue:
    under a random walk, the variance of 5-day log changes is exactly
    5x the variance of 1-day changes — VR(5) ≈ 1. VR < 1 flags mean
    reversion (negative serial correlation), VR > 1 momentum/trending.
    The series-diagnostics complement to the unit-root pair
    (dickey_fuller / kpss): those test the LEVEL's persistence, VR
    tests the INCREMENTS' aggregation law. z uses the iid null
    (documented convention; the heteroscedastic-robust correction
    needs per-lag fourth moments).

    Determinism: per-day ln rounds to 9 and every sum/power-sum is an
    exact DECIMAL fold of those rounded values; the two variances
    combine in doubles in the same operation order in both engines.
    Plan: day rollup + two calendar lag joins (d+1, d+5) + two scalar
    folds — all on the bounded day frame."""
    daily = _daily(spark, sf_dir)
    x = daily.select(
        "d", F.round(F.log("y"), 9).cast("decimal(18,9)").alias("x")
    ).persist()

    def _diff_moments(lag):
        b = x.select((F.col("d") - lag).alias("d"), F.col("x").alias("xb"))
        dx = x.join(b, "d").select((F.col("xb") - F.col("x")).alias("dx"))
        return dx.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("dx").cast("decimal(38,9)").alias("s"),
            F.sum(F.col("dx") * F.col("dx"))
            .cast("decimal(38,18)")
            .alias("q"),
        )

    m1 = _diff_moments(1).select(
        F.col("n").alias("n1"), F.col("s").alias("s1"), F.col("q").alias("q1")
    )
    mq = _diff_moments(5).select(
        F.col("n").alias("nq"), F.col("s").alias("sq"), F.col("q").alias("qq")
    )
    var1 = (
        F.col("q1").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n1")
    ) / (F.col("n1") - 1)
    varq = (
        F.col("qq").cast("double")
        - F.col("sq").cast("double") * F.col("sq").cast("double") / F.col("nq")
    ) / (F.col("nq") - 1)
    vr = varq / (5 * var1)
    return m1.crossJoin(F.broadcast(mq)).select(
        "n1",
        "nq",
        F.round(var1, 9).alias("var_1d"),
        F.round(varq, 9).alias("var_5d"),
        F.round(vr, 6).alias("vr_5"),
        (
            F.round(
                (vr - 1)
                / F.sqrt(
                    2.0 * (2 * 5 - 1) * (5 - 1) / (3.0 * 5 * F.col("nq"))
                ),
                6,
            )
            + 0.0
        ).alias("z_iid"),
    )


# --------------------------------------------------------------------------
# Empirical variogram / madogram of daily revenue (lags 1..14)
# --------------------------------------------------------------------------
@register(
    "variogram_daily_lags",
    oracle=f"""
    WITH {_DAILY_SQL},
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
               CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))
                   AS q
        FROM daily
    ),
    pairs AS (
        SELECT b.d - a.d AS lag,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CAST(b.y - a.y AS DECIMAL(38,0))
                        * (b.y - a.y)) AS DECIMAL(38,0)) AS ss,
               CAST(SUM(ABS(CAST(b.y - a.y AS DECIMAL(38,0))))
                   AS DECIMAL(38,0)) AS sa
        FROM daily a JOIN daily b
          ON b.d - a.d BETWEEN 1 AND 14
        GROUP BY 1
    )
    SELECT p.lag, p.n_pairs,
           round(CAST(p.ss AS DOUBLE) / (2 * p.n_pairs) / 1e16, 6)
               AS gamma_mdollars2,
           round(CAST(p.sa AS DOUBLE) / (2 * p.n_pairs) / 100.0, 4)
               AS madogram_dollars,
           round(CAST(p.ss AS DOUBLE) / (2 * p.n_pairs)
                 / ((CAST(m.q AS DOUBLE)
                     - CAST(m.s AS DOUBLE) * CAST(m.s AS DOUBLE) / m.n)
                    / (m.n - 1)), 6) AS gamma_over_var
    FROM pairs p, mom m
    """,
)
def variogram_daily_lags(spark, sf_dir):
    """Empirical semivariogram γ(h) = Σ(y_{d+h} − y_d)²/(2·N_h) of
    daily revenue for lags 1–14, with the robust madogram
    (mean |Δ|/2) and the sill-normalized ratio γ(h)/s² (γ reported in
    (million dollars)² so the rounded magnitude stays far inside
    double precision at any SF — a raw cents² γ overflows stable
    rounding, the DECIMAL->DOUBLE gotcha class) — the
    geostatistics view of temporal structure: γ rises toward the sill
    (sample variance) as autocorrelation dies; a γ/s² plateau below 1
    reveals periodicity (the 7-day dip shows weekly seasonality
    directly). The madogram column is the outlier-resistant twin.

    All pair sums are exact DECIMAL(38,0) integer folds of cents;
    each lag divides once. Plan: one banded self-join on the bounded
    day frame (14 lags x ~2.4k days — a calendar constant), one
    grouped fold, one broadcast variance frame."""
    daily = _daily(spark, sf_dir).persist()
    mom = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("decimal(38,0)").alias(
            "s"
        ),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("q"),
    )
    a = daily.select(
        "d", "y", F.explode(F.sequence(F.lit(1), F.lit(14))).alias("lag")
    )
    b = daily.select(F.col("d").alias("db"), F.col("y").alias("yb"))
    diff = F.col("yb") - F.col("y")
    pairs = (
        a.join(b, F.col("db") == F.col("d") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(diff.cast("decimal(38,0)") * diff)
            .cast("decimal(38,0)")
            .alias("ss"),
            F.sum(F.abs(diff.cast("decimal(38,0)")))
            .cast("decimal(38,0)")
            .alias("sa"),
        )
    )
    var = (
        F.col("q").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    ) / (F.col("n") - 1)
    gamma = F.col("ss").cast("double") / (2 * F.col("n_pairs"))
    return pairs.crossJoin(F.broadcast(mom)).select(
        "lag",
        "n_pairs",
        F.round(gamma / 1e16, 6).alias("gamma_mdollars2"),
        F.round(
            F.col("sa").cast("double") / (2 * F.col("n_pairs")) / 100.0, 4
        ).alias("madogram_dollars"),
        F.round(gamma / var, 6).alias("gamma_over_var"),
    )


# --------------------------------------------------------------------------
# GPD peaks-over-threshold fit by probability-weighted moments
# --------------------------------------------------------------------------
@register(
    "pot_gpd_pwm_fit",
    oracle=f"""
    WITH {_DAILY_SQL},
    thr AS (
        SELECT CAST(round(quantile_cont(y, 0.9), 1) AS DECIMAL(38,1)) AS u,
               CAST(COUNT(*) AS BIGINT) AS n_days
        FROM daily
    ),
    exc AS (
        SELECT d.d, CAST(d.y AS DECIMAL(38,1)) - t.u AS e
        FROM daily d, thr t WHERE CAST(d.y AS DECIMAL(38,1)) > t.u
    ),
    rk AS (
        SELECT a.e,
               CAST(1 + COUNT(CASE WHEN b.e < a.e
                              OR (b.e = a.e AND b.d < a.d)
                              THEN 1 END) AS BIGINT) AS r
        FROM exc a LEFT JOIN exc b
          ON b.e < a.e OR (b.e = a.e AND b.d < a.d)
        GROUP BY a.e, a.d
    ),
    pwm AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(e) AS DECIMAL(38,1)) AS se,
               CAST(SUM((
                   SELECT CAST(MAX(m2.m) AS BIGINT)
                   FROM (SELECT COUNT(*) AS m FROM rk) m2
               ) * e - r * e) AS DECIMAL(38,1)) AS swd
        FROM rk
    ),
    fit AS (
        SELECT m,
               CAST(se AS DOUBLE) / m AS a0,
               CAST(swd AS DOUBLE) / (CAST(m AS DOUBLE) * (m - 1)) AS a1
        FROM pwm
    )
    SELECT t.n_days, f.m AS n_exceed,
           round(CAST(t.u AS DOUBLE) / 100.0, 2) AS u_dollars,
           round(f.a0 / 100.0, 2) AS mean_excess_dollars,
           round(2.0 - f.a0 / (f.a0 - 2 * f.a1), 6) + 0.0 AS xi_shape,
           round(2.0 * f.a0 * f.a1 / (f.a0 - 2 * f.a1) / 100.0, 2)
               AS sigma_dollars
    FROM fit f, thr t
    """,
)
def pot_gpd_pwm_fit(spark, sf_dir):
    """Peaks-over-threshold extreme-value fit: daily revenues above
    the 90th percentile, fitted to a Generalized Pareto by
    probability-weighted moments (Hosking-Wallis 1987) — a₀ = mean
    excess, a₁ = (1/(m(m−1)))·Σ(m−rᵢ)·e₍ᵢ₎ with ascending ranks, then
    ξ = 2 − a₀/(a₀−2a₁) and σ = 2a₀a₁/(a₀−2a₁). ξ > 0 means
    heavy-tailed peak risk (no exponential moment); ξ < 0 a bounded
    tail. The tail-risk calibration view next to hill_tail_exponent
    (which needs a log-scale regime) and gumbel_block_maxima (which
    wastes all non-maximal extremes POT keeps).

    Determinism: the threshold is quantile_cont/percentile (shared
    interpolation, the weighted_price_quantiles precedent) rounded to
    one decimal — exact, because the interpolation fraction at p=0.9
    is always a multiple of 0.1 on an integer-cents grid. Excesses are
    exact DECIMAL(38,1); ranks are unique under the (e, d) total
    order via a triangular join on the excess frame (~10% of the
    bounded day grid — a calendar constant); both PWMs are exact
    decimal folds with single final divisions."""
    daily = _daily(spark, sf_dir)
    thr = daily.agg(
        F.round(F.expr("percentile(y, 0.9)"), 1)
        .cast("decimal(38,1)")
        .alias("u"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    exc = (
        daily.crossJoin(F.broadcast(thr))
        .where(F.col("y").cast("decimal(38,1)") > F.col("u"))
        .select("d", (F.col("y").cast("decimal(38,1)") - F.col("u")).alias("e"))
        .persist()
    )
    b = exc.select(F.col("d").alias("db"), F.col("e").alias("eb"))
    rk = (
        exc.join(
            b,
            (F.col("eb") < F.col("e"))
            | ((F.col("eb") == F.col("e")) & (F.col("db") < F.col("d"))),
            "left",
        )
        .groupBy("d", "e")
        .agg((1 + F.count("db")).cast("bigint").alias("r"))
    )
    m_tot = exc.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    pwm = (
        rk.crossJoin(F.broadcast(m_tot))
        .agg(
            F.max("m").alias("m"),
            F.sum("e").cast("decimal(38,1)").alias("se"),
            F.sum((F.col("m") - F.col("r")) * F.col("e"))
            .cast("decimal(38,1)")
            .alias("swd"),
        )
    )
    a0 = F.col("se").cast("double") / F.col("m")
    a1 = F.col("swd").cast("double") / (
        F.col("m").cast("double") * (F.col("m") - 1)
    )
    return pwm.crossJoin(F.broadcast(thr)).select(
        "n_days",
        F.col("m").alias("n_exceed"),
        F.round(F.col("u").cast("double") / 100.0, 2).alias("u_dollars"),
        F.round(a0 / 100.0, 2).alias("mean_excess_dollars"),
        (F.round(2.0 - a0 / (a0 - 2 * a1), 6) + 0.0).alias("xi_shape"),
        F.round(2.0 * a0 * a1 / (a0 - 2 * a1) / 100.0, 2).alias(
            "sigma_dollars"
        ),
    )


# --------------------------------------------------------------------------
# shared: (source, term) counts + per-source token totals
# --------------------------------------------------------------------------
_SRC_TERMS_SQL = """
    toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    st AS (
        SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks GROUP BY 1, 2
    ),
    stot AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM st GROUP BY 1
    )
"""


def _src_terms(spark, sf_dir):
    """(source, term, c) term counts per source — one explode + one
    hash agg; the (source x vocabulary) frame every stylometry query
    below rides (vocabulary-domain-bounded)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select("source", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


# --------------------------------------------------------------------------
# Hapax-based lexical richness panel (Honoré R, Sichel S)
# --------------------------------------------------------------------------
@register(
    "hapax_richness_panel",
    oracle=f"""
    WITH {_SRC_TERMS_SQL}
    SELECT s.source,
           t.n AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN s.c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS v1_hapax,
           CAST(SUM(CASE WHEN s.c = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS v2_dis,
           round(SUM(CASE WHEN s.c = 1 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_ratio,
           round(SUM(CASE WHEN s.c = 2 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS sichel_s,
           round(100.0 * ln(t.n)
                 / NULLIF(1.0 - SUM(CASE WHEN s.c = 1 THEN 1 ELSE 0 END)
                          / CAST(COUNT(*) AS DOUBLE), 0.0), 4)
               AS honore_r
    FROM st s JOIN stot t ON s.source = t.source
    GROUP BY s.source, t.n
    """,
)
def hapax_richness_panel(spark, sf_dir):
    """Hapax-legomena lexical-richness panel per source: V₁ (words
    seen once), V₂ (twice), Sichel's S = V₂/V and Honoré's
    R = 100·ln(N)/(1 − V₁/V) — the vocabulary-growth statistics that
    discriminate template/boilerplate-heavy sources (low hapax share)
    from organic text, and the standard authorship-attribution
    features next to Yule's K (which weights the OTHER end of the
    frequency spectrum). A training-data curation view: sources whose
    hapax ratio collapses are near-duplicate factories.

    Counts are exact integers off one (source, term) rollup; the two
    ratios and Honoré's single ln are final-expression floats
    (NULLIF-guarded where V₁ = V). Plan: explode + two hash aggs."""
    st = _src_terms(spark, sf_dir)
    stot = st.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    v1 = F.sum((F.col("c") == 1).cast("long"))
    v2 = F.sum((F.col("c") == 2).cast("long"))
    return (
        st.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("vocab"),
            v1.cast("bigint").alias("v1_hapax"),
            v2.cast("bigint").alias("v2_dis"),
        )
        .join(stot, "source")
        .select(
            "source",
            F.col("n").alias("n_tokens"),
            "vocab",
            "v1_hapax",
            "v2_dis",
            F.round(
                F.col("v1_hapax") / F.col("vocab").cast("double"), 6
            ).alias("hapax_ratio"),
            F.round(
                F.col("v2_dis") / F.col("vocab").cast("double"), 6
            ).alias("sichel_s"),
            F.round(
                100.0
                * F.log("n")
                / F.nullif(
                    1.0
                    - F.col("v1_hapax") / F.col("vocab").cast("double"),
                    F.lit(0.0),
                ),
                4,
            ).alias("honore_r"),
        )
    )


# --------------------------------------------------------------------------
# Burrows' Delta stylometric distance between sources
# --------------------------------------------------------------------------
@register(
    "burrows_delta_sources",
    oracle=f"""
    WITH {_SRC_TERMS_SQL},
    corpus AS (
        SELECT term, CAST(SUM(c) AS BIGINT) AS ct FROM st GROUP BY 1
    ),
    topm AS (
        SELECT term FROM corpus
        ORDER BY ct DESC, term LIMIT 30
    ),
    f AS (
        SELECT x.source, m.term,
               CAST(round(COALESCE(s.c, 0) / CAST(x.n AS DOUBLE), 12)
                    AS DECIMAL(18,12)) AS f
        FROM stot x CROSS JOIN topm m
        LEFT JOIN st s ON s.source = x.source AND s.term = m.term
    ),
    mom AS (
        SELECT term,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(f) AS DOUBLE) AS sf,
               CAST(SUM(f * f) AS DOUBLE) AS qf
        FROM f GROUP BY 1
    ),
    z AS (
        SELECT f.source, f.term,
               CAST(round((CAST(f.f AS DOUBLE) - m.sf / m.k)
                          / sqrt((m.qf - m.sf * m.sf / m.k) / (m.k - 1)),
                          9) AS DECIMAL(18,9)) AS z
        FROM f JOIN mom m ON f.term = m.term
    )
    SELECT a.source AS source_a, b.source AS source_b,
           round(CAST(SUM(ABS(a.z - b.z)) AS DOUBLE) / 30.0, 6)
               AS burrows_delta
    FROM z a JOIN z b ON a.term = b.term AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def burrows_delta_sources(spark, sf_dir):
    """Burrows' Delta between every source pair: z-score each source's
    relative frequency of the corpus's 30 most-common terms (the
    function-word proxy on this vocabulary), then Delta = mean |z_a −
    z_b| — THE classical stylometric distance (Burrows 2002): low
    Delta = same authorial/template fingerprint. As a pipeline view it
    clusters sources by style so near-duplicate FEEDS (not documents)
    surface — the provenance-level dedup the document-level MinHash
    tier can't see.

    Determinism: frequencies round to 12 and z-scores to 9 BEFORE the
    pairwise |z_a − z_b| DECIMAL fold (round-before-fold); the top-30
    term set is integer-ranked with a term tiebreak. Plan: one
    (source, term) rollup, a broadcast 30-term list, a 600-cell
    z frame, and a 30x190 pair join — all vocabulary/domain-bounded."""
    st = _src_terms(spark, sf_dir).persist()
    stot = st.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    topm = (
        st.groupBy("term")
        .agg(F.sum("c").cast("bigint").alias("ct"))
        .orderBy(F.col("ct").desc(), "term")
        .limit(30)
        .select("term")
    )
    f = (
        stot.crossJoin(F.broadcast(topm))
        .join(st, ["source", "term"], "left")
        .select(
            "source",
            "term",
            F.round(
                F.coalesce("c", F.lit(0)) / F.col("n").cast("double"), 12
            )
            .cast("decimal(18,12)")
            .alias("f"),
        )
    )
    mom = f.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("f").cast("double").alias("sf"),
        F.sum(F.col("f") * F.col("f")).cast("double").alias("qf"),
    )
    z = f.join(F.broadcast(mom), "term").select(
        "source",
        "term",
        F.round(
            (F.col("f").cast("double") - F.col("sf") / F.col("k"))
            / F.sqrt(
                (F.col("qf") - F.col("sf") * F.col("sf") / F.col("k"))
                / (F.col("k") - 1)
            ),
            9,
        )
        .cast("decimal(18,9)")
        .alias("z"),
    )
    a = z.select(
        F.col("source").alias("source_a"), "term", F.col("z").alias("za")
    )
    b = z.select(
        F.col("source").alias("source_b"), "term", F.col("z").alias("zb")
    )
    return (
        a.join(b, "term")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.round(
                F.sum(F.abs(F.col("za") - F.col("zb"))).cast("double")
                / 30.0,
                6,
            ).alias("burrows_delta")
        )
    )


# --------------------------------------------------------------------------
# Jensen-Shannon divergence between source unigram distributions
# --------------------------------------------------------------------------
@register(
    "js_divergence_sources",
    oracle=f"""
    WITH {_SRC_TERMS_SQL},
    f AS (
        SELECT s.source, s.term,
               CAST(round(s.c / CAST(t.n AS DOUBLE), 12)
                    AS DECIMAL(18,12)) AS p
        FROM st s JOIN stot t ON s.source = t.source
    ),
    ptot AS (
        SELECT source, CAST(SUM(p) AS DECIMAL(18,12)) AS ptot
        FROM f GROUP BY 1
    ),
    co AS (
        SELECT a.source AS sa, b.source AS sb,
               CAST(COUNT(*) AS BIGINT) AS n_shared,
               CAST(SUM(a.p) AS DECIMAL(18,12)) AS pa_co,
               CAST(SUM(b.p) AS DECIMAL(18,12)) AS pb_co,
               SUM(CAST(round(CAST(a.p AS DOUBLE)
                       * ln(2.0 * CAST(a.p AS DOUBLE)
                            / CAST(a.p + b.p AS DOUBLE)), 12)
                   AS DECIMAL(38,12))) AS da_co,
               SUM(CAST(round(CAST(b.p AS DOUBLE)
                       * ln(2.0 * CAST(b.p AS DOUBLE)
                            / CAST(a.p + b.p AS DOUBLE)), 12)
                   AS DECIMAL(38,12))) AS db_co
        FROM f a JOIN f b ON a.term = b.term AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT c.sa AS source_a, c.sb AS source_b, c.n_shared,
           round(0.5 * (CAST(c.da_co AS DOUBLE)
                        + CAST(pa.ptot - c.pa_co AS DOUBLE) * ln(2.0)
                        + CAST(c.db_co AS DOUBLE)
                        + CAST(pb.ptot - c.pb_co AS DOUBLE) * ln(2.0)),
                 6) AS jsd,
           round(0.5 * (CAST(c.da_co AS DOUBLE)
                        + CAST(pa.ptot - c.pa_co AS DOUBLE) * ln(2.0)
                        + CAST(c.db_co AS DOUBLE)
                        + CAST(pb.ptot - c.pb_co AS DOUBLE) * ln(2.0))
                 / ln(2.0), 6) AS jsd_bits
    FROM co c
    JOIN ptot pa ON c.sa = pa.source
    JOIN ptot pb ON c.sb = pb.source
    """,
)
def js_divergence_sources(spark, sf_dir):
    """Pairwise Jensen-Shannon divergence between source unigram
    distributions — the SYMMETRIC, always-finite distribution distance
    (KL, split_distribution_divergence's device, is infinite on
    non-overlapping support; JSD is bounded by ln 2), the standard
    corpus-mixture health view: a JSD matrix near 0 means redundant
    sources, near ln 2 means disjoint vocabularies.

    Zero-handling is ANALYTIC, not smoothed: terms present in a only
    contribute p·ln(2p/(p+0)) = p·ln 2, so JSD = ½[Σ_co p·ln(2p/(p+q))
    + (P_a − P_a^co)·ln 2 + (same for b)] — only the CO-OCCURRING term
    join is ever materialized (per-term fanout bounded by the 20-source
    domain). Frequencies round to 12; per-term ln terms round to 12
    before the DECIMAL fold; the mass complements are exact decimal
    sums. Output: 190 source pairs with shared-vocab size, JSD (nats)
    and JSD in bits."""
    st = _src_terms(spark, sf_dir)
    stot = st.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    f = st.join(stot, "source").select(
        "source",
        "term",
        F.round(F.col("c") / F.col("n").cast("double"), 12)
        .cast("decimal(18,12)")
        .alias("p"),
    ).persist()
    ptot = f.groupBy("source").agg(
        F.sum("p").cast("decimal(18,12)").alias("ptot")
    )
    a = f.select(F.col("source").alias("sa"), "term", F.col("p").alias("pa"))
    b = f.select(F.col("source").alias("sb"), "term", F.col("p").alias("pb"))
    pa, pb = F.col("pa"), F.col("pb")
    co = (
        a.join(b, "term")
        .where(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared"),
            F.sum(pa).cast("decimal(18,12)").alias("pa_co"),
            F.sum(pb).cast("decimal(18,12)").alias("pb_co"),
            F.sum(
                F.round(
                    pa.cast("double")
                    * F.log(
                        2.0 * pa.cast("double") / (pa + pb).cast("double")
                    ),
                    12,
                ).cast("decimal(38,12)")
            ).alias("da_co"),
            F.sum(
                F.round(
                    pb.cast("double")
                    * F.log(
                        2.0 * pb.cast("double") / (pa + pb).cast("double")
                    ),
                    12,
                ).cast("decimal(38,12)")
            ).alias("db_co"),
        )
    )
    ln2 = F.log(F.lit(2.0))
    jsd = 0.5 * (
        F.col("da_co").cast("double")
        + (F.col("pta") - F.col("pa_co")).cast("double") * ln2
        + F.col("db_co").cast("double")
        + (F.col("ptb") - F.col("pb_co")).cast("double") * ln2
    )
    return (
        co.join(
            ptot.select(
                F.col("source").alias("sa"), F.col("ptot").alias("pta")
            ),
            "sa",
        )
        .join(
            ptot.select(
                F.col("source").alias("sb"), F.col("ptot").alias("ptb")
            ),
            "sb",
        )
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "n_shared",
            F.round(jsd, 6).alias("jsd"),
            F.round(jsd / ln2, 6).alias("jsd_bits"),
        )
    )


# --------------------------------------------------------------------------
# Modified Kneser-Ney discount estimation from count-of-counts
# --------------------------------------------------------------------------
@register(
    "kneser_ney_discounts",
    oracle="""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    uni AS (
        SELECT ts[g.i] AS w, CAST(COUNT(*) AS BIGINT) AS c
        FROM d, LATERAL unnest(generate_series(1, len(ts))) AS g(i)
        GROUP BY 1
    ),
    bi AS (
        SELECT ts[g.i - 1] AS w1, ts[g.i] AS w2,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM d, LATERAL unnest(generate_series(2, len(ts))) AS g(i)
        WHERE len(ts) >= 2
        GROUP BY 1, 2
    ),
    coc AS (
        SELECT 'unigram' AS ngram_order,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(SUM(CASE WHEN c = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
               CAST(SUM(CASE WHEN c = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
        FROM uni
        UNION ALL
        SELECT 'bigram',
               CAST(SUM(c) AS BIGINT),
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN c = 3 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN c = 4 THEN 1 ELSE 0 END) AS BIGINT)
        FROM bi
    )
    SELECT ngram_order, n_tokens, n_types, n1, n2, n3, n4,
           round(n1 / NULLIF(n1 + 2.0 * n2, 0.0), 6) AS y_factor,
           round(1.0 - 2.0 * (n1 / NULLIF(n1 + 2.0 * n2, 0.0)) * n2
                 / CAST(NULLIF(n1, 0) AS DOUBLE), 6) AS d1,
           round(2.0 - 3.0 * (n1 / NULLIF(n1 + 2.0 * n2, 0.0)) * n3
                 / CAST(NULLIF(n2, 0) AS DOUBLE), 6) AS d2,
           round(3.0 - 4.0 * (n1 / NULLIF(n1 + 2.0 * n2, 0.0)) * n4
                 / CAST(NULLIF(n3, 0) AS DOUBLE), 6) AS d3p
    FROM coc
    """,
)
def kneser_ney_discounts(spark, sf_dir):
    """Modified Kneser-Ney discount estimation (Chen-Goodman 1998)
    from n-gram count-of-counts: n_k = #{grams seen exactly k times},
    Y = n₁/(n₁+2n₂), D₁ = 1 − 2Y·n₂/n₁, D₂ = 2 − 3Y·n₃/n₂,
    D₃₊ = 3 − 4Y·n₄/n₃ — the closed-form smoothing parameters the
    production LM tier (unigram_lm_score / bigram_lm_perplexity uses
    add-k) would need to upgrade to KN smoothing, and a corpus-health
    readout in their own right: D₁ near 1 means a hapax-dominated
    (fragmented) gram distribution.

    Everything except the four final ratios is an exact integer
    rollup; rows for unigram and bigram orders. Plan: one explode +
    one positional self-join (the bigram device) + two count-of-count
    rollups."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ts")
    )
    # r19: token-grain persist dropped — at scale caching the exploded
    # corpus costs more than re-exploding a columnar scan per consumer
    # (guide §5); the bigram join shuffles token-grain either way.
    toks = d.select(
        "doc_id", F.posexplode("ts").alias("i", "w")
    )
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    nxt = toks.select(
        "doc_id", (F.col("i") - 1).alias("i"), F.col("w").alias("w2")
    )
    bi = (
        toks.join(nxt, ["doc_id", "i"])
        .groupBy("w", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )

    def _coc(cnt, label):
        return cnt.agg(
            F.lit(label).alias("ngram_order"),
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum((F.col("c") == 1).cast("long")).cast("bigint").alias("n1"),
            F.sum((F.col("c") == 2).cast("long")).cast("bigint").alias("n2"),
            F.sum((F.col("c") == 3).cast("long")).cast("bigint").alias("n3"),
            F.sum((F.col("c") == 4).cast("long")).cast("bigint").alias("n4"),
        )

    coc = _coc(uni, "unigram").unionAll(_coc(bi, "bigram"))
    y = F.col("n1") / F.nullif(
        F.col("n1") + 2.0 * F.col("n2"), F.lit(0.0)
    )
    yy = y
    return coc.select(
        "ngram_order",
        "n_tokens",
        "n_types",
        "n1",
        "n2",
        "n3",
        "n4",
        F.round(y, 6).alias("y_factor"),
        F.round(
            1.0
            - 2.0 * yy * F.col("n2")
            / F.nullif(F.col("n1"), F.lit(0)).cast("double"),
            6,
        ).alias("d1"),
        F.round(
            2.0
            - 3.0 * yy * F.col("n3")
            / F.nullif(F.col("n2"), F.lit(0)).cast("double"),
            6,
        ).alias("d2"),
        F.round(
            3.0
            - 4.0 * yy * F.col("n4")
            / F.nullif(F.col("n3"), F.lit(0)).cast("double"),
            6,
        ).alias("d3p"),
    )


# --------------------------------------------------------------------------
# Monroe log-odds with informative Dirichlet prior (top terms per source)
# --------------------------------------------------------------------------
@register(
    "log_odds_dirichlet_terms",
    oracle=f"""
    WITH {_SRC_TERMS_SQL},
    corpus AS (
        SELECT term, CAST(SUM(c) AS BIGINT) AS ct FROM st GROUP BY 1
    ),
    gtot AS (SELECT CAST(SUM(ct) AS BIGINT) AS g FROM corpus),
    cell AS (
        SELECT s.source, s.term, s.c AS y, t.n,
               g.g - t.n AS n_rest,
               co.ct - s.c AS y_rest,
               100.0 * co.ct / g.g AS alpha
        FROM st s
        JOIN stot t ON s.source = t.source
        JOIN corpus co ON s.term = co.term
        CROSS JOIN gtot g
    ),
    z AS (
        SELECT source, term, y,
               round((ln((y + alpha)
                         / (n + 100.0 - y - alpha))
                      - ln((y_rest + alpha)
                           / (n_rest + 100.0 - y_rest - alpha)))
                     / sqrt(1.0 / (y + alpha) + 1.0 / (y_rest + alpha)),
                     9) AS z
        FROM cell
    ),
    ranked AS (
        SELECT source, term, y, z,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY z DESC, term) AS rk
        FROM z
    )
    SELECT source, rk AS rank, term, CAST(y AS BIGINT) AS y_count,
           z + 0.0 AS log_odds_z
    FROM ranked WHERE rk <= 3
    """,
)
def log_odds_dirichlet_terms(spark, sf_dir):
    """Monroe-Colaresi-Quinn (2008) log-odds with an informative
    Dirichlet prior: for each source vs the rest of the corpus,
    δ_t = ln((y+α_t)/(n+α₀−y−α_t)) − ln((y_r+α_t)/(n_r+α₀−y_r−α_t)),
    z = δ/√(1/(y+α_t) + 1/(y_r+α_t)), with α_t = α₀·c_t/G (corpus-
    proportional prior, α₀ = 100). The discriminative-term extractor
    that fixes BOTH failure modes of its neighbors: tf-idf over-weights
    rare terms, plain chi2 over-weights frequent ones — the prior
    shrinks exactly the low-evidence cells. Top-3 terms per source by
    z (term tiebreak).

    Every z is a PER-ROW scalar expression (no cross-partition float
    fold at all — the safest determinism class); ranking uses the
    rounded z. Plan: three hash aggs + broadcast joins on the
    (source x vocabulary) frame; top-3 via a per-source window over
    the vocabulary-domain frame."""
    st = _src_terms(spark, sf_dir).persist()
    stot = st.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    corpus = st.groupBy("term").agg(F.sum("c").cast("bigint").alias("ct"))
    gtot = corpus.agg(F.sum("ct").cast("bigint").alias("g"))
    cell = (
        st.join(stot, "source")
        .join(F.broadcast(corpus), "term")
        .crossJoin(F.broadcast(gtot))
        .select(
            "source",
            "term",
            F.col("c").alias("y"),
            "n",
            (F.col("g") - F.col("n")).alias("n_rest"),
            (F.col("ct") - F.col("c")).alias("y_rest"),
            (100.0 * F.col("ct") / F.col("g")).alias("alpha"),
        )
    )
    y, a = F.col("y"), F.col("alpha")
    yr, nr = F.col("y_rest"), F.col("n_rest")
    z = F.round(
        (
            F.log((y + a) / (F.col("n") + 100.0 - y - a))
            - F.log((yr + a) / (nr + 100.0 - yr - a))
        )
        / F.sqrt(1.0 / (y + a) + 1.0 / (yr + a)),
        9,
    )
    ranked = cell.select(
        "source", "term", "y", z.alias("z")
    ).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("source").orderBy(
                F.col("z").desc(), "term"
            )
        ),
    )
    return ranked.where(F.col("rk") <= 3).select(
        "source",
        F.col("rk").cast("bigint").alias("rank"),
        "term",
        F.col("y").cast("bigint").alias("y_count"),
        (F.col("z") + 0.0).alias("log_odds_z"),
    )


# --------------------------------------------------------------------------
# Mean segmental type-token ratio (MSTTR-50) per source
# --------------------------------------------------------------------------
@register(
    "msttr_segmental_ttr",
    oracle="""
    WITH d AS (
        SELECT doc_id, source, string_split(text, ' ') AS ts
        FROM documents
    ),
    toks AS (
        SELECT doc_id, source, g.i - 1 AS idx, ts[g.i] AS w
        FROM d, LATERAL unnest(generate_series(1, len(ts))) AS g(i)
    ),
    seg AS (
        SELECT source, doc_id, idx // 50 AS seg,
               CAST(COUNT(*) AS BIGINT) AS n_tok,
               CAST(COUNT(DISTINCT w) AS BIGINT) AS n_typ
        FROM toks GROUP BY 1, 2, 3
        HAVING COUNT(*) = 50
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           round(CAST(SUM(CAST(n_typ AS DECIMAL(10,2)) / 50)
                      AS DOUBLE) / COUNT(*), 6) AS msttr_50,
           round(AVG(CAST(n_typ AS DOUBLE)), 6) AS mean_types_per_seg
    FROM seg GROUP BY source
    """,
)
def msttr_segmental_ttr(spark, sf_dir):
    """Mean segmental type-token ratio (MSTTR-50) per source: split
    each document's token stream into consecutive FULL 50-token
    segments, take each segment's type/token ratio, average per
    source. The length-controlled lexical-diversity measure — raw TTR
    falls mechanically with document length (Heaps' law), so
    cross-source TTR comparisons are meaningless; fixed-length
    segmentation removes exactly that bias (the standard
    corpus-linguistics device, next to heaps_law_fit which MODELS the
    bias instead).

    Per-segment TTR = types/50 is an exact 2-decimal rational
    (DECIMAL-carried); the per-source mean divides the exact sum once.
    Partial trailing segments are dropped (HAVING = 50), both engines
    alike. Plan: posexplode + one (doc, segment) distinct-count agg +
    one source rollup — all hash aggs on composite keys."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("ts")
    )
    toks = d.select(
        "doc_id", "source", F.posexplode("ts").alias("idx", "w")
    )
    seg = (
        toks.groupBy(
            "source", "doc_id", (F.col("idx") / 50).cast("bigint").alias("seg")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tok"),
            F.countDistinct("w").cast("bigint").alias("n_typ"),
        )
        .where(F.col("n_tok") == 50)
    )
    return seg.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.round(
            F.sum(F.col("n_typ").cast("decimal(10,2)") / 50).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("msttr_50"),
        F.round(F.avg(F.col("n_typ").cast("double")), 6).alias(
            "mean_types_per_seg"
        ),
    )


# --------------------------------------------------------------------------
# Fleiss' kappa: do the five event types agree on which days are busy?
# --------------------------------------------------------------------------
@register(
    "fleiss_kappa_days",
    oracle="""
    WITH dc AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    rk AS (
        SELECT event_type, d,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY c, d) AS BIGINT) AS r,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS nd
        FROM dc
    ),
    rated AS (
        SELECT d, event_type, (3 * (r - 1)) // nd AS cat FROM rk
    ),
    cell AS (
        SELECT d, cat, CAST(COUNT(*) AS BIGINT) AS nic
        FROM rated GROUP BY 1, 2
    ),
    pi AS (
        SELECT d, CAST(SUM(nic * nic) AS BIGINT) AS ss,
               CAST(SUM(nic) AS BIGINT) AS k
        FROM cell GROUP BY d
    ),
    pbar AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(MAX(k) AS BIGINT) AS k,
               CAST(SUM(ss - k) AS BIGINT) AS num
        FROM pi
    ),
    pe AS (
        SELECT CAST(SUM(cn * cn) AS BIGINT) AS pe2
        FROM (SELECT CAST(SUM(nic) AS BIGINT) AS cn
              FROM cell GROUP BY cat)
    )
    SELECT b.n_items, b.k AS n_raters,
           round(b.num / (b.n_items * b.k * CAST(b.k - 1 AS DOUBLE)), 6)
               AS p_observed,
           round(e.pe2 / (CAST(b.n_items AS DOUBLE) * b.n_items
                          * b.k * b.k), 6) AS p_expected,
           round((b.num / (b.n_items * b.k * CAST(b.k - 1 AS DOUBLE))
                  - e.pe2 / (CAST(b.n_items AS DOUBLE) * b.n_items
                             * b.k * b.k))
                 / (1.0 - e.pe2 / (CAST(b.n_items AS DOUBLE) * b.n_items
                                   * b.k * b.k)), 6) + 0.0
               AS fleiss_kappa
    FROM pbar b, pe e
    """,
)
def fleiss_kappa_days(spark, sf_dir):
    """Fleiss' kappa for MULTI-rater agreement: treat the five event
    types as five raters, each classifying every calendar day into its
    own activity tercile (low/mid/high by that type's daily-count
    ranks — exact integer ranks, (day, count) total order); kappa
    measures whether the types agree on WHICH days are busy beyond
    chance. The k>2-rater generalization the pairwise kappas
    (cohens_kappa_agreement, weighted_kappa_agreement) can't express —
    the canonical multi-annotator QA statistic for labeling pipelines.

    κ = (P̄ − P_e)/(1 − P_e) with P̄ from Σ_c n_ic² per item and
    P_e = Σ_c p_c² — every numerator is an exact integer (category
    cells, squared sums); three final divisions. Plan: one (type, day)
    rollup, per-type rank windows over the 30-day calendar frame
    (domain-bounded), two integer folds."""
    e = t(spark, sf_dir, "events")
    dc = e.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("d"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wt = Window.partitionBy("event_type")
    rk = dc.select(
        "event_type",
        "d",
        F.row_number()
        .over(wt.orderBy("c", "d"))
        .cast("bigint")
        .alias("r"),
        F.count(F.lit(1)).over(wt).cast("bigint").alias("nd"),
    )
    rated = rk.select(
        "d",
        "event_type",
        ((3 * (F.col("r") - 1)) / F.col("nd"))
        .cast("bigint")
        .alias("cat"),
    )
    cell = rated.groupBy("d", "cat").agg(
        F.count(F.lit(1)).cast("bigint").alias("nic")
    )
    pi = cell.groupBy("d").agg(
        F.sum(F.col("nic") * F.col("nic")).cast("bigint").alias("ss"),
        F.sum("nic").cast("bigint").alias("k"),
    )
    pbar = pi.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.max("k").cast("bigint").alias("k"),
        F.sum(F.col("ss") - F.col("k")).cast("bigint").alias("num"),
    )
    pe = (
        cell.groupBy("cat")
        .agg(F.sum("nic").cast("bigint").alias("cn"))
        .agg(F.sum(F.col("cn") * F.col("cn")).cast("bigint").alias("pe2"))
    )
    po = F.col("num") / (
        F.col("n_items") * F.col("k") * (F.col("k") - 1).cast("double")
    )
    pexp = F.col("pe2") / (
        F.col("n_items").cast("double")
        * F.col("n_items")
        * F.col("k")
        * F.col("k")
    )
    return pbar.crossJoin(F.broadcast(pe)).select(
        "n_items",
        F.col("k").alias("n_raters"),
        F.round(po, 6).alias("p_observed"),
        F.round(pexp, 6).alias("p_expected"),
        (F.round((po - pexp) / (1.0 - pexp), 6) + 0.0).alias(
            "fleiss_kappa"
        ),
    )


# --------------------------------------------------------------------------
# Difference-in-differences 2x2 panel (BUILDING segment, 1998 split)
# --------------------------------------------------------------------------
@register(
    "did_2x2_panel",
    oracle="""
    WITH cells AS (
        SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                   AS treated,
               CASE WHEN o.o_orderdate >= TIMESTAMP '1998-01-01'
                    THEN 1 ELSE 0 END AS post,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS s,
               CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)
                        * CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                               AS BIGINT)) AS DECIMAL(38,0)) AS q
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    m AS (
        SELECT treated, post, n,
               s / (100.0 * n) AS mean_d,
               (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
               / (n - 1.0) / 10000.0 AS var_d
        FROM cells
    ),
    wide AS (
        SELECT
            MAX(CASE WHEN treated = 1 AND post = 1 THEN mean_d END) AS t1,
            MAX(CASE WHEN treated = 1 AND post = 0 THEN mean_d END) AS t0,
            MAX(CASE WHEN treated = 0 AND post = 1 THEN mean_d END) AS c1,
            MAX(CASE WHEN treated = 0 AND post = 0 THEN mean_d END) AS c0,
            MAX(CASE WHEN treated = 1 AND post = 1 THEN var_d / n END)
                AS v11,
            MAX(CASE WHEN treated = 1 AND post = 0 THEN var_d / n END)
                AS v10,
            MAX(CASE WHEN treated = 0 AND post = 1 THEN var_d / n END)
                AS v01,
            MAX(CASE WHEN treated = 0 AND post = 0 THEN var_d / n END)
                AS v00,
            CAST(SUM(n) AS BIGINT) AS n_orders
        FROM m
    )
    SELECT n_orders,
           round(t0, 2) AS treated_pre,
           round(t1, 2) AS treated_post,
           round(c0, 2) AS control_pre,
           round(c1, 2) AS control_post,
           round((t1 - t0) - (c1 - c0), 4) + 0.0 AS did_dollars,
           round(sqrt(v11 + v10 + v01 + v00), 4) AS se_dollars,
           round(((t1 - t0) - (c1 - c0))
                 / sqrt(v11 + v10 + v01 + v00), 6) + 0.0 AS t_stat
    FROM wide
    """,
)
def did_2x2_panel(spark, sf_dir):
    """Difference-in-differences 2x2 estimator: BUILDING-segment
    customers (treated) vs all others, pre/post the 1998-01-01 split —
    DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre) on order value,
    with the four-cell Welch SE (√Σ var_cell/n_cell) and t. THE
    workhorse quasi-experimental estimator (the control group's trend
    nets out the common time shock a naive pre/post comparison
    swallows); on this synthetic data the readout certifies the
    estimator mechanics, not a causal claim (docstring-documented
    convention, same as weekend_effect_ols).

    All four cell means/variances come from exact integer-cents power
    sums (one broadcast-joined hash agg); the estimator combines in
    doubles in the same order both engines. Plan: fact-dim broadcast
    join + 4-cell rollup — one shuffle."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("treated"),
    )
    cents = (dec("o_totalprice", 18, 2) * 100).cast("bigint")
    cells = (
        o.join(F.broadcast(c), "o_custkey")
        .groupBy(
            "treated",
            (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
            .cast("int")
            .alias("post"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(cents).cast("bigint").alias("s"),
            F.sum(cents.cast("decimal(38,0)") * cents)
            .cast("decimal(38,0)")
            .alias("q"),
        )
    )
    m = cells.select(
        "treated",
        "post",
        "n",
        (F.col("s") / (100.0 * F.col("n"))).alias("mean_d"),
        (
            (
                F.col("q").cast("double")
                - F.col("s").cast("double") * F.col("s") / F.col("n")
            )
            / (F.col("n") - 1.0)
            / 10000.0
        ).alias("var_d"),
    )

    def _cell(tr, po, col):
        return F.max(
            F.when((F.col("treated") == tr) & (F.col("post") == po), col)
        )

    wide = m.agg(
        _cell(1, 1, F.col("mean_d")).alias("t1"),
        _cell(1, 0, F.col("mean_d")).alias("t0"),
        _cell(0, 1, F.col("mean_d")).alias("c1"),
        _cell(0, 0, F.col("mean_d")).alias("c0"),
        _cell(1, 1, F.col("var_d") / F.col("n")).alias("v11"),
        _cell(1, 0, F.col("var_d") / F.col("n")).alias("v10"),
        _cell(0, 1, F.col("var_d") / F.col("n")).alias("v01"),
        _cell(0, 0, F.col("var_d") / F.col("n")).alias("v00"),
        F.sum("n").cast("bigint").alias("n_orders"),
    )
    did = (F.col("t1") - F.col("t0")) - (F.col("c1") - F.col("c0"))
    se = F.sqrt(
        F.col("v11") + F.col("v10") + F.col("v01") + F.col("v00")
    )
    return wide.select(
        "n_orders",
        F.round(F.col("t0"), 2).alias("treated_pre"),
        F.round(F.col("t1"), 2).alias("treated_post"),
        F.round(F.col("c0"), 2).alias("control_pre"),
        F.round(F.col("c1"), 2).alias("control_post"),
        (F.round(did, 4) + 0.0).alias("did_dollars"),
        F.round(se, 4).alias("se_dollars"),
        (F.round(did / se, 6) + 0.0).alias("t_stat"),
    )


# --------------------------------------------------------------------------
# Regression discontinuity: local linear fit at the mid-month cutoff
# --------------------------------------------------------------------------
@register(
    "rdd_local_linear",
    oracle=f"""
    WITH {_DAILY_SQL},
    x AS (
        SELECT CAST(EXTRACT(day FROM CAST(to_timestamp(d * 86400)
                                          AS TIMESTAMP)) AS BIGINT) - 16
                   AS x,
               y
        FROM daily
    ),
    band AS (SELECT x, y FROM x WHERE x BETWEEN -7 AND 6),
    fit AS (
        SELECT CASE WHEN x >= 0 THEN 1 ELSE 0 END AS side,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))
                   AS sxy
        FROM band GROUP BY 1
    ),
    coef AS (
        SELECT side, n,
               (CAST(sy AS DOUBLE) * sxx - CAST(sxy AS DOUBLE) * sx)
               / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                   AS intercept,
               (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                * CAST(sy AS DOUBLE))
               / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                   AS slope
        FROM fit
    ),
    wide AS (
        SELECT
            MAX(CASE WHEN side = 0 THEN n END) AS n_left,
            MAX(CASE WHEN side = 1 THEN n END) AS n_right,
            MAX(CASE WHEN side = 0 THEN intercept END) AS b0_left,
            MAX(CASE WHEN side = 1 THEN intercept END) AS b0_right,
            MAX(CASE WHEN side = 0 THEN slope END) AS m_left,
            MAX(CASE WHEN side = 1 THEN slope END) AS m_right
        FROM coef
    )
    SELECT n_left, n_right,
           round(b0_left / 100.0, 2) AS yhat_left_dollars,
           round(b0_right / 100.0, 2) AS yhat_right_dollars,
           round((b0_right - b0_left) / 100.0, 4) + 0.0 AS jump_dollars,
           round(m_left / 100.0, 4) + 0.0 AS slope_left,
           round(m_right / 100.0, 4) + 0.0 AS slope_right
    FROM wide
    """,
)
def rdd_local_linear(spark, sf_dir):
    """Sharp regression-discontinuity estimator at the mid-month
    cutoff (day-of-month 16, bandwidth ±7): fit a separate OLS line to
    daily revenue on each side of the cutoff and read the jump between
    the two intercepts AT the cutoff — the local-linear RD device
    (separate slopes, the Imbens-Lemieux standard) that a billing or
    promo pipeline uses when a rule changes at a threshold. On this
    synthetic calendar the true jump is ~0 — the null certification.

    Exactness: x = day-of-month − 16 is a small integer, y is integer
    cents, so all five OLS sums per side are exact integer/DECIMAL
    folds; the closed-form intercept/slope divide once in doubles in
    the same order both engines (ols_normal_equations discipline).
    Plan: day rollup + one 2-cell grouped fold."""
    daily = _daily(spark, sf_dir)
    x = daily.select(
        (F.dayofmonth(F.timestamp_seconds(F.col("d") * 86400)) - 16)
        .cast("bigint")
        .alias("x"),
        "y",
    ).where(F.col("x").between(-7, 6))
    fit = x.groupBy(
        (F.col("x") >= 0).cast("int").alias("side")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    det = (
        F.col("n") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx")
    )
    coef = fit.select(
        "side",
        "n",
        (
            (
                F.col("sy").cast("double") * F.col("sxx")
                - F.col("sxy").cast("double") * F.col("sx")
            )
            / det
        ).alias("intercept"),
        (
            (
                F.col("n") * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy").cast("double")
            )
            / det
        ).alias("slope"),
    )
    wide = coef.agg(
        F.max(F.when(F.col("side") == 0, F.col("n"))).alias("n_left"),
        F.max(F.when(F.col("side") == 1, F.col("n"))).alias("n_right"),
        F.max(F.when(F.col("side") == 0, F.col("intercept"))).alias(
            "b0_left"
        ),
        F.max(F.when(F.col("side") == 1, F.col("intercept"))).alias(
            "b0_right"
        ),
        F.max(F.when(F.col("side") == 0, F.col("slope"))).alias("m_left"),
        F.max(F.when(F.col("side") == 1, F.col("slope"))).alias("m_right"),
    )
    return wide.select(
        "n_left",
        "n_right",
        F.round(F.col("b0_left") / 100.0, 2).alias("yhat_left_dollars"),
        F.round(F.col("b0_right") / 100.0, 2).alias("yhat_right_dollars"),
        (
            F.round((F.col("b0_right") - F.col("b0_left")) / 100.0, 4)
            + 0.0
        ).alias("jump_dollars"),
        (F.round(F.col("m_left") / 100.0, 4) + 0.0).alias("slope_left"),
        (F.round(F.col("m_right") / 100.0, 4) + 0.0).alias("slope_right"),
    )


# --------------------------------------------------------------------------
# Inspection paradox audit on inter-event gaps
# --------------------------------------------------------------------------
@register(
    "inspection_paradox_gaps",
    oracle="""
    WITH gaps AS (
        SELECT CAST((epoch_us(ts) - epoch_us(LAG(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)))
                   // 1000000 AS BIGINT) AS g
        FROM events
    ),
    ok AS (SELECT g FROM gaps WHERE g IS NOT NULL AND g > 0),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(g) AS BIGINT) AS s,
               CAST(SUM(CAST(g AS DECIMAL(38,0)) * g) AS DECIMAL(38,0))
                   AS q
        FROM ok
    )
    SELECT n AS n_gaps,
           round(s / CAST(n AS DOUBLE), 3) AS mean_gap_s,
           round(CAST(q AS DOUBLE) / s, 3) AS sizebiased_mean_s,
           round(CAST(q AS DOUBLE) * n / (CAST(s AS DOUBLE) * s), 6)
               AS inspection_ratio,
           round(CAST(q AS DOUBLE) * n / (CAST(s AS DOUBLE) * s) - 1.0,
                 6) + 0.0 AS implied_cv2
    FROM mom
    """,
)
def inspection_paradox_gaps(spark, sf_dir):
    """Inspection-paradox audit on per-user inter-event gaps: the mean
    gap a RANDOM ARRIVAL lands in is the size-biased mean Σg²/Σg, not
    the plain mean Σg/n — their ratio is exactly 1 + CV². A ratio near
    2 (exponential gaps) is healthy Poisson traffic; >> 2 means
    heavy-tailed burstiness, the regime where 'average latency
    between events' wildly misleads samplers and SLA probes (the
    waiting-time paradox every monitoring pipeline trips over). This
    is the distribution-free companion to ewma/burstiness views.

    Gaps are exact integer seconds (µs floor-div); all three moments
    are exact integer/DECIMAL folds; the two ratios divide once.
    Plan: one user-partitioned lag window (row-grain but USER-keyed —
    scales by user parallelism) + one scalar fold."""
    e = t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = (
        (
            F.unix_micros("ts")
            - F.unix_micros(F.lag("ts").over(wu))
        )
        / F.lit(1_000_000)
    ).cast("bigint")
    gaps = (
        e.select(g.alias("g"))
        .where(F.col("g").isNotNull() & (F.col("g") > 0))
    )
    mom = gaps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("g").cast("bigint").alias("s"),
        F.sum(F.col("g").cast("decimal(38,0)") * F.col("g"))
        .cast("decimal(38,0)")
        .alias("q"),
    )
    ratio = (
        F.col("q").cast("double")
        * F.col("n")
        / (F.col("s").cast("double") * F.col("s"))
    )
    return mom.select(
        F.col("n").alias("n_gaps"),
        F.round(F.col("s") / F.col("n").cast("double"), 3).alias(
            "mean_gap_s"
        ),
        F.round(F.col("q").cast("double") / F.col("s"), 3).alias(
            "sizebiased_mean_s"
        ),
        F.round(ratio, 6).alias("inspection_ratio"),
        (F.round(ratio - 1.0, 6) + 0.0).alias("implied_cv2"),
    )


# --------------------------------------------------------------------------
# Rich-club coefficient of the co-purchase graph
# --------------------------------------------------------------------------
@register(
    "rich_club_coefficient",
    oracle="""
    WITH half AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ),
    deg AS (
        SELECT u, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT p1 AS u FROM half
              UNION ALL SELECT p2 AS u FROM half)
        GROUP BY u
    ),
    ks AS (SELECT unnest(generate_series(1, 8)) AS k),
    nodes AS (
        SELECT k.k, CAST(COUNT(*) AS BIGINT) AS n_k
        FROM ks k JOIN deg ON deg.d > k.k
        GROUP BY k.k
    ),
    edges AS (
        SELECT k.k, CAST(COUNT(*) AS BIGINT) AS e_k
        FROM ks k
        JOIN half h ON TRUE
        JOIN deg d1 ON h.p1 = d1.u AND d1.d > k.k
        JOIN deg d2 ON h.p2 = d2.u AND d2.d > k.k
        GROUP BY k.k
    )
    SELECT n.k AS k_threshold, n.n_k AS n_nodes,
           COALESCE(e.e_k, 0) AS n_edges,
           round(2.0 * COALESCE(e.e_k, 0)
                 / NULLIF(n.n_k * CAST(n.n_k - 1 AS DOUBLE), 0.0), 6)
               AS phi
    FROM nodes n LEFT JOIN edges e ON n.k = e.k
    """,
)
def rich_club_coefficient(spark, sf_dir):
    """Rich-club coefficient φ(k) of the co-purchase graph (edges =
    part pairs with ≥2 co-orders): among nodes of degree > k, the
    realized fraction of possible edges — a rising φ(k) means the
    hubs preferentially trade with each other (a 'rich club'), the
    topology signature that decides whether hub-removal fragments the
    graph (supply-chain / recommender robustness) and whether degree-
    based sampling is biased. Thresholds k = 1..8 (the degree domain
    at every SF; raw φ only — the colt null-model normalization needs
    degree-preserving rewiring, out of SQL scope, documented).

    Counts are exact; one division per threshold. Plan: the bounded
    within-order pair fan-out (graph_ops discipline), a degree rollup,
    then threshold-exploded semi-joins — edges join degrees twice,
    both broadcastable at dimension scale."""
    from .graph_ops import _half_edges

    half = _half_edges(spark, sf_dir, 2).select("p1", "p2").persist()
    deg = (
        half.select(F.col("p1").alias("u"))
        .unionAll(half.select(F.col("p2").alias("u")))
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    ks = spark.range(1, 9).select(F.col("id").alias("k"))
    nodes = (
        ks.join(deg, deg.d > ks.k)
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_k"))
    )
    d1 = deg.select(F.col("u").alias("p1"), F.col("d").alias("dd1"))
    d2 = deg.select(F.col("u").alias("p2"), F.col("d").alias("dd2"))
    edges = (
        half.join(F.broadcast(d1), "p1")
        .join(F.broadcast(d2), "p2")
        .crossJoin(F.broadcast(ks))
        .where((F.col("dd1") > F.col("k")) & (F.col("dd2") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_k"))
    )
    return (
        nodes.join(edges, "k", "left")
        .select(
            F.col("k").alias("k_threshold"),
            F.col("n_k").alias("n_nodes"),
            F.coalesce("e_k", F.lit(0)).cast("bigint").alias("n_edges"),
            F.round(
                2.0
                * F.coalesce("e_k", F.lit(0))
                / F.nullif(
                    F.col("n_k") * (F.col("n_k") - 1).cast("double"),
                    F.lit(0.0),
                ),
                6,
            ).alias("phi"),
        )
    )


# --------------------------------------------------------------------------
# Embedding anisotropy via the sum-vector identity (no pairwise join)
# --------------------------------------------------------------------------
@register(
    "embedding_anisotropy_panel",
    oracle="""
    WITH nrm AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
               sqrt(list_sum(list_transform(embedding,
                                            x -> CAST(x AS DOUBLE)
                                                 * CAST(x AS DOUBLE))))
                   AS nv
        FROM embeddings
    ),
    u AS (
        SELECT e.vec_id, n.label, g.i AS idx,
               CAST(round(CAST(e.embedding[g.i] AS DOUBLE) / n.nv, 9)
                    AS DECIMAL(18,9)) AS ui
        FROM embeddings e
        JOIN nrm n ON e.vec_id = n.vec_id,
        LATERAL unnest(generate_series(1, len(e.embedding))) AS g(i)
    ),
    self_sq AS (
        SELECT label, vec_id,
               CAST(SUM(ui * ui) AS DECIMAL(38,18)) AS uu
        FROM u GROUP BY 1, 2
    ),
    per_label AS (
        SELECT label, idx, CAST(SUM(ui) AS DECIMAL(38,9)) AS si
        FROM u GROUP BY 1, 2
    ),
    lbl AS (
        SELECT p.label,
               CAST(SUM(p.si * p.si) AS DOUBLE) AS s2,
               MAX(c.n) AS n,
               MAX(c.uu_sum) AS uu_sum
        FROM per_label p
        JOIN (SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(uu) AS DOUBLE) AS uu_sum
              FROM self_sq GROUP BY 1) c ON p.label = c.label
        GROUP BY p.label
    ),
    allv AS (
        SELECT CAST(SUM(si_all * si_all) AS DOUBLE) AS s2,
               MAX(n_all) AS n, MAX(uu_all) AS uu_sum
        FROM (SELECT idx, CAST(SUM(si) AS DECIMAL(38,9)) AS si_all
              FROM per_label GROUP BY idx),
             (SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
                     CAST(SUM(uu) AS DOUBLE) AS uu_all
              FROM self_sq)
    )
    SELECT CAST(label AS VARCHAR) AS grp, n AS n_vecs,
           round((s2 - uu_sum) / (n * CAST(n - 1 AS DOUBLE)), 6) + 0.0
               AS mean_pairwise_cos,
           round(sqrt(s2) / n, 6) AS mean_vector_norm
    FROM lbl
    UNION ALL
    SELECT 'all', n,
           round((s2 - uu_sum) / (n * CAST(n - 1 AS DOUBLE)), 6) + 0.0,
           round(sqrt(s2) / n, 6)
    FROM allv
    """,
)
def embedding_anisotropy_panel(spark, sf_dir):
    """Embedding-space anisotropy: the mean pairwise cosine among
    normalized vectors, per label and corpus-wide, via the SUM-VECTOR
    identity Σ_{i≠j} cos(uᵢ,uⱼ) = ‖Σu‖² − Σ‖u‖² — O(n·d) with NO
    pairwise join at all (the n² materialization every naive version
    pays). High anisotropy (mean cos ≫ 0) is the classic 'narrow
    cone' pathology of contextual embeddings — cosine similarities
    all inflate, ANN recall curves lie — and the per-label rows show
    whether classes collapse into sub-cones. ‖Σu‖/n is the mean
    resultant length (directional concentration, Rayleigh's statistic).

    Determinism: normalized components round to 9 → every element sum
    and self-dot is an exact DECIMAL fold; the label →'all' rollup
    reuses the per-label element sums (one extra tiny agg). Plan:
    explode to (vec, idx) → two hash aggs on (label, idx) — shuffle
    keyed on the 64-dim x label grid."""
    emb = t(spark, sf_dir, "embeddings")
    nrm = emb.select(
        "vec_id",
        F.col("label").cast("bigint").alias("label"),
        "embedding",
        F.sqrt(
            F.aggregate(
                F.col("embedding"),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ).alias("nv"),
    )
    u = nrm.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("idx0", "x"),
        "nv",
    ).select(
        "vec_id",
        "label",
        (F.col("idx0") + 1).alias("idx"),
        F.round(F.col("x").cast("double") / F.col("nv"), 9)
        .cast("decimal(18,9)")
        .alias("ui"),
    )
    # r19: the (vector x dimension) element-grain persist is dropped
    # (guide §5 — data-grain cache); the bounded (label x idx)
    # per_label persist below stays.
    self_sq = u.groupBy("label", "vec_id").agg(
        F.sum(F.col("ui") * F.col("ui")).cast("decimal(38,18)").alias("uu")
    )
    per_label = u.groupBy("label", "idx").agg(
        F.sum("ui").cast("decimal(38,9)").alias("si")
    ).persist()
    cnt = self_sq.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("uu").cast("double").alias("uu_sum"),
    )
    lbl = (
        per_label.groupBy("label")
        .agg(F.sum(F.col("si") * F.col("si")).cast("double").alias("s2"))
        .join(cnt, "label")
    )
    all_si = per_label.groupBy("idx").agg(
        F.sum("si").cast("decimal(38,9)").alias("si_all")
    )
    all_cnt = self_sq.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("uu").cast("double").alias("uu_sum"),
    )
    allv = (
        all_si.agg(
            F.sum(F.col("si_all") * F.col("si_all"))
            .cast("double")
            .alias("s2")
        )
        .crossJoin(F.broadcast(all_cnt))
    )
    mean_cos = (F.col("s2") - F.col("uu_sum")) / (
        F.col("n") * (F.col("n") - 1).cast("double")
    )
    res_len = F.sqrt(F.col("s2")) / F.col("n")
    lbl_rows = lbl.select(
        F.col("label").cast("string").alias("grp"),
        F.col("n").alias("n_vecs"),
        (F.round(mean_cos, 6) + 0.0).alias("mean_pairwise_cos"),
        F.round(res_len, 6).alias("mean_vector_norm"),
    )
    all_rows = allv.select(
        F.lit("all").alias("grp"),
        F.col("n").alias("n_vecs"),
        (F.round(mean_cos, 6) + 0.0).alias("mean_pairwise_cos"),
        F.round(res_len, 6).alias("mean_vector_norm"),
    )
    return lbl_rows.unionAll(all_rows)


# --------------------------------------------------------------------------
# Net dollar retention by first-order cohort
# --------------------------------------------------------------------------
@register(
    "net_dollar_retention_cohort",
    oracle="""
    WITH om AS (
        SELECT o_custkey AS ck,
               CAST(EXTRACT(year FROM o_orderdate) * 12
                    + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS m,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders
    ),
    first_m AS (
        SELECT ck, CAST(MIN(m) AS BIGINT) AS cohort FROM om GROUP BY ck
    ),
    rev AS (
        SELECT f.cohort, o.m - f.cohort AS offs,
               CAST(SUM(o.cents) AS BIGINT) AS r,
               CAST(COUNT(DISTINCT o.ck) AS BIGINT) AS active
        FROM om o JOIN first_m f ON o.ck = f.ck
        WHERE o.m - f.cohort <= 12
        GROUP BY 1, 2
    ),
    base AS (
        SELECT cohort, r AS r0 FROM rev WHERE offs = 0
    )
    SELECT CAST(v.cohort // 12 AS BIGINT) AS cohort_year,
           CAST(v.cohort % 12 + 1 AS BIGINT) AS cohort_month,
           v.offs AS month_offset,
           v.active AS n_active_customers,
           round(v.r / 100.0, 2) AS revenue_dollars,
           round(v.r / CAST(b.r0 AS DOUBLE), 6) AS ndr
    FROM rev v JOIN base b ON v.cohort = b.cohort
    """,
)
def net_dollar_retention_cohort(spark, sf_dir):
    """Net dollar retention by acquisition cohort: customers grouped
    by their FIRST order month; for offsets 0–12 months, the cohort's
    total spend relative to its month-0 spend — the REVENUE-weighted
    retention curve (cohort_retention counts heads; NDR weighs
    wallets, so expansion can push it above 1 even as heads churn —
    the metric every subscription/marketplace board deck leads with).

    Revenue is exact integer cents throughout; NDR divides once per
    (cohort, offset) cell. Plan: month rollup, a min-month cohort
    rollup (one user-keyed shuffle), a cohort-offset hash agg, and a
    broadcast-sized month-0 base join."""
    o = t(spark, sf_dir, "orders")
    om = o.select(
        F.col("o_custkey").alias("ck"),
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
        )
        .cast("bigint")
        .alias("m"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("cents"),
    )
    first_m = om.groupBy("ck").agg(F.min("m").cast("bigint").alias("cohort"))
    rev = (
        om.join(first_m, "ck")
        .where(F.col("m") - F.col("cohort") <= 12)
        .groupBy("cohort", (F.col("m") - F.col("cohort")).alias("offs"))
        .agg(
            F.sum("cents").cast("bigint").alias("r"),
            F.countDistinct("ck").cast("bigint").alias("active"),
        )
    )
    base = rev.where(F.col("offs") == 0).select(
        "cohort", F.col("r").alias("r0")
    )
    return rev.join(F.broadcast(base), "cohort").select(
        (F.col("cohort") / 12).cast("bigint").alias("cohort_year"),
        (F.col("cohort") % 12 + 1).cast("bigint").alias("cohort_month"),
        F.col("offs").alias("month_offset"),
        F.col("active").alias("n_active_customers"),
        F.round(F.col("r") / 100.0, 2).alias("revenue_dollars"),
        F.round(F.col("r") / F.col("r0").cast("double"), 6).alias("ndr"),
    )


# --------------------------------------------------------------------------
# Duplicate-invoice heuristic (same payer, same amount, within 7 days)
# --------------------------------------------------------------------------
@register(
    "duplicate_invoice_heuristic",
    oracle="""
    WITH inv AS (
        SELECT o_orderkey AS okey, o_custkey AS ck,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents,
               CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS d
        FROM orders
    )
    SELECT a.ck AS custkey,
           a.okey AS orderkey_a, b.okey AS orderkey_b,
           round(a.cents / 100.0, 2) AS amount_dollars,
           b.d - a.d AS day_gap
    FROM inv a JOIN inv b
      ON a.ck = b.ck AND a.cents = b.cents AND a.okey < b.okey
    WHERE b.d - a.d BETWEEN -7 AND 7
    """,
)
def duplicate_invoice_heuristic(spark, sf_dir):
    """Duplicate-payment audit: order pairs with the SAME customer,
    the SAME amount (exact cents), placed within ±7 days — the
    standard accounts-payable double-billing screen (exact-amount +
    short-window is the highest-precision rule in every AP audit
    toolkit; fuzzier tiers hand off to the Levenshtein/ER machinery).
    Emits the pair evidence rows (payer, both keys, amount, gap) for
    case review, keyed a<b so the set is deterministic.

    Plan: self-equi-join on (custkey, cents) — the blocking key — so
    pair generation is per-(payer, amount) bucket, never all-pairs;
    the ±7-day band filters after the bucket join. Scale shape: a
    payer repeating the same amount k times fans k²/2 within the
    bucket only (the frequency-cap class; real AP data is sparse at
    exact-cents grain)."""
    o = t(spark, sf_dir, "orders")
    inv = o.select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").alias("ck"),
        (dec("o_totalprice", 18, 2) * 100).cast("bigint").alias("cents"),
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("d"),
    )
    a = inv.select(
        "ck",
        "cents",
        F.col("okey").alias("okey_a"),
        F.col("d").alias("da"),
    )
    b = inv.select(
        "ck",
        "cents",
        F.col("okey").alias("okey_b"),
        F.col("d").alias("db"),
    )
    return (
        a.join(b, ["ck", "cents"])
        .where(
            (F.col("okey_a") < F.col("okey_b"))
            & (F.col("db") - F.col("da")).between(-7, 7)
        )
        .select(
            F.col("ck").alias("custkey"),
            F.col("okey_a").alias("orderkey_a"),
            F.col("okey_b").alias("orderkey_b"),
            F.round(F.col("cents") / 100.0, 2).alias("amount_dollars"),
            (F.col("db") - F.col("da")).alias("day_gap"),
        )
    )


# --------------------------------------------------------------------------
# Harrell's C-index: does session activity predict session survival?
# --------------------------------------------------------------------------
@register(
    "harrell_c_index_sessions",
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
        SELECT CAST(date_diff('minute', MIN(ts), MAX(ts)) AS BIGINT)
                   AS dur,
               CAST(COUNT(*) AS BIGINT) AS score,
               CASE WHEN MAX(ts) <= (SELECT mx FROM bounds)
                                    - INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS ev
        FROM grouped GROUP BY user_id, session_id
    ),
    cells AS (
        SELECT dur, score, ev, CAST(COUNT(*) AS BIGINT) AS c
        FROM sessions GROUP BY 1, 2, 3
    ),
    pairs AS (
        SELECT CAST(SUM(a.c * b.c) AS BIGINT) AS comparable,
               CAST(SUM(CASE WHEN b.score > a.score
                        THEN a.c * b.c ELSE 0 END) AS BIGINT) AS conc,
               CAST(SUM(CASE WHEN b.score = a.score
                        THEN a.c * b.c ELSE 0 END) AS BIGINT) AS ties
        FROM cells a JOIN cells b ON b.dur > a.dur
        WHERE a.ev = 1
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sessions) AS n_sessions,
           (SELECT CAST(SUM(ev) AS BIGINT) FROM sessions) AS n_events,
           p.comparable AS n_comparable_pairs,
           p.conc AS n_concordant,
           p.ties AS n_score_ties,
           round((2 * p.conc + p.ties)
                 / (2.0 * p.comparable), 6) AS c_index
    FROM pairs p
    """,
)
def harrell_c_index_sessions(spark, sf_dir):
    """Harrell's concordance index: does a session's event count
    predict how long it survives? Comparable pairs = (i, j) with
    dur_i < dur_j and session i COMPLETED (a censored short session
    tells nothing — the at-risk discipline of kaplan_meier_sessions
    applied to ranking); concordant when the longer-lived session has
    the higher activity score, score ties count ½. C = 0.5 is a
    coin-flip predictor, 1.0 perfect ranking — THE standard
    discrimination metric for survival models and churn scorers,
    censoring-aware where plain AUC is not.

    Scale shape: sessions NEVER pair row-to-row — they roll up to
    (duration, score, completed) CELLS first (both axes domain-
    bounded grids: minutes x per-session event counts), and the pair
    count is a weighted cell-pair join (c_i·c_j products, exact
    integers). One user-keyed session shuffle + one bounded cell
    join; C divides once via the 2x-scaled integer trick."""
    e = t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(wu)
    flagged = e.select(
        "user_id",
        "ts",
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
            .orderBy("ts")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    bounds = e.agg(F.max("ts").alias("mx"))
    sessions = (
        grouped.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("t0"),
            F.max("ts").alias("t1"),
            F.count(F.lit(1)).cast("bigint").alias("score"),
        )
        .crossJoin(F.broadcast(bounds))
        .select(
            (
                F.floor(F.unix_micros("t1") / 60_000_000)
                - F.floor(F.unix_micros("t0") / 60_000_000)
            )
            .cast("bigint")
            .alias("dur"),
            "score",
            (
                F.unix_micros("t1")
                <= F.unix_micros("mx") - 30 * 60 * 1_000_000
            )
            .cast("int")
            .alias("ev"),
        )
    )
    # r19: single-consumer persist dropped — it only added a
    # materialization (the qq_tail_estimator lesson).
    cells = sessions.groupBy("dur", "score", "ev").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    a = cells.where(F.col("ev") == 1).select(
        F.col("dur").alias("da"), F.col("score").alias("sa"),
        F.col("c").alias("ca"),
    )
    b = cells.select(
        F.col("dur").alias("db"), F.col("score").alias("sb"),
        F.col("c").alias("cb"),
    )
    pairs = (
        a.join(b, F.col("db") > F.col("da"))
        .agg(
            F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias(
                "comparable"
            ),
            F.sum(
                F.when(
                    F.col("sb") > F.col("sa"), F.col("ca") * F.col("cb")
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("conc"),
            F.sum(
                F.when(
                    F.col("sb") == F.col("sa"), F.col("ca") * F.col("cb")
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("ties"),
        )
    )
    tot = sessions.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("ev").cast("bigint").alias("n_events"),
    )
    return pairs.crossJoin(F.broadcast(tot)).select(
        "n_sessions",
        "n_events",
        F.col("comparable").alias("n_comparable_pairs"),
        F.col("conc").alias("n_concordant"),
        F.col("ties").alias("n_score_ties"),
        F.round(
            (2 * F.col("conc") + F.col("ties"))
            / (2.0 * F.col("comparable")),
            6,
        ).alias("c_index"),
    )


# --------------------------------------------------------------------------
# Kendall's W: do the five event types rank weekdays concordantly?
# --------------------------------------------------------------------------
@register(
    "kendalls_w_concordance",
    oracle="""
    WITH cell AS (
        SELECT event_type,
               CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT)
                   AS dow,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY 1, 2
    ),
    rk AS (
        SELECT dow,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY v, dow) AS BIGINT) AS r
        FROM cell
    ),
    rsum AS (
        SELECT dow, CAST(SUM(r) AS BIGINT) AS ri FROM rk GROUP BY dow
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rsum),
    s AS (
        SELECT nn.n,
               CAST(SUM((2 * ri - 5 * (nn.n + 1))
                        * (2 * ri - 5 * (nn.n + 1)))
                    AS BIGINT) AS s4
        FROM rsum, nn
        GROUP BY nn.n
    )
    SELECT n AS n_objects, CAST(5 AS BIGINT) AS m_judges,
           s4 // 4 AS s_stat,
           round(12.0 * (s4 / 4.0)
                 / (25.0 * (n * n * n - n)), 6) AS kendalls_w,
           round(5 * (n - 1) * (12.0 * (s4 / 4.0)
                 / (25.0 * (n * n * n - n))), 6) AS chi2_stat
    FROM s
    """,
)
def kendalls_w_concordance(spark, sf_dir):
    """Kendall's coefficient of concordance W: five 'judges' (the
    event types) each rank the seven weekdays by total event value;
    W = 12S/(m²(n³−n)) with S = Σ(Rᵢ − m(n+1)/2)² measures whether
    the judges agree on the weekly rhythm (W = 1 identical rankings,
    0 none). The m-ranking generalization of Spearman (it IS the mean
    pairwise Spearman, linearly transformed) — Fleiss kappa's ordinal
    sibling on this panel. Ranks are unique by the (value, dow) total
    order (exact integer cents), so S·4 = Σ(2Rᵢ − m(n+1))² is an
    exact BIGINT and W/χ² divide once. Plan: one 35-cell rollup +
    rank windows over the weekday domain."""
    e = t(spark, sf_dir, "events")
    cell = e.groupBy(
        "event_type",
        ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7)
        .cast("bigint")
        .alias("dow"),
    ).agg(
        F.sum((dec("value", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("v")
    )
    rk = cell.select(
        "dow",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("v", "dow"))
        .cast("bigint")
        .alias("r"),
    )
    rsum = rk.groupBy("dow").agg(F.sum("r").cast("bigint").alias("ri"))
    nn = rsum.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    s = (
        rsum.crossJoin(F.broadcast(nn))
        .groupBy("n")
        .agg(
            F.sum(
                (2 * F.col("ri") - 5 * (F.col("n") + 1))
                * (2 * F.col("ri") - 5 * (F.col("n") + 1))
            )
            .cast("bigint")
            .alias("s4")
        )
    )
    n = F.col("n")
    w = (
        12.0
        * (F.col("s4") / 4.0)
        / (25.0 * (n * n * n - n))
    )
    return s.select(
        n.alias("n_objects"),
        F.lit(5).cast("bigint").alias("m_judges"),
        (F.col("s4") / 4).cast("bigint").alias("s_stat"),
        F.round(w, 6).alias("kendalls_w"),
        F.round(5 * (n - 1) * w, 6).alias("chi2_stat"),
    )


# --------------------------------------------------------------------------
# Quade test (weighted blocked ranks: dow blocks x event-type treatments)
# --------------------------------------------------------------------------
@register(
    "quade_test",
    oracle="""
    WITH cell AS (
        SELECT CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT)
                   AS blk,
               event_type AS trt,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY 1, 2
    ),
    rk AS (
        SELECT blk, trt,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY blk ORDER BY v, trt) AS BIGINT) AS r
        FROM cell
    ),
    rng AS (
        SELECT blk, CAST(MAX(v) - MIN(v) AS BIGINT) AS range_v
        FROM cell GROUP BY blk
    ),
    q AS (
        SELECT blk,
               CAST(ROW_NUMBER() OVER (ORDER BY range_v, blk) AS BIGINT)
                   AS qb
        FROM rng
    ),
    s2 AS (
        SELECT rk.trt, q.qb * (2 * rk.r - 6) AS s2
        FROM rk JOIN q ON rk.blk = q.blk
    ),
    f2 AS (
        SELECT CAST(SUM(s2 * s2) AS BIGINT) AS a4 FROM s2
    ),
    f3 AS (
        SELECT CAST(SUM(tj * tj) AS BIGINT) AS sb4
        FROM (SELECT trt, CAST(SUM(s2) AS BIGINT) AS tj
              FROM s2 GROUP BY trt)
    )
    SELECT CAST(7 AS BIGINT) AS n_blocks, CAST(5 AS BIGINT) AS k_treatments,
           f2.a4 / 4.0 AS a_term,
           round(f3.sb4 / 28.0, 4) AS b_term,
           round((7 - 1) * (f3.sb4 / 28.0)
                 / NULLIF(f2.a4 / 4.0 - f3.sb4 / 28.0, 0.0), 6)
               AS quade_f
    FROM f2, f3
    """,
)
def quade_test(spark, sf_dir):
    """Quade test: the blocked rank test that WEIGHTS blocks by their
    range — weekday blocks where event types differ a lot count more
    than flat blocks (Friedman, its unweighted sibling already
    certified, throws that information away; for k ≤ 5 treatments
    Quade dominates it in power). Blocks = 7 weekdays, treatments =
    5 event types, observation = total value cents. S_ij = Q_b·(r_ij
    − (k+1)/2) with within-block ranks and range-ranked block weights
    (both unique under (value, key) total orders) → F = (n−1)·B/(A−B),
    A = ΣS², B = ΣS_j²/n.

    2x-scaled: S2 = Q·(2r − (k+1)) is an exact integer, so A·4 and
    B·4n are exact BIGINTs and F divides once. Plan: one 35-cell
    rollup, two rank windows over weekday/treatment domains, two
    integer folds."""
    e = t(spark, sf_dir, "events")
    cell = e.groupBy(
        ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7)
        .cast("bigint")
        .alias("blk"),
        F.col("event_type").alias("trt"),
    ).agg(
        F.sum((dec("value", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("v")
    ).persist()
    rk = cell.select(
        "blk",
        "trt",
        F.row_number()
        .over(Window.partitionBy("blk").orderBy("v", "trt"))
        .cast("bigint")
        .alias("r"),
    )
    rng = cell.groupBy("blk").agg(
        (F.max("v") - F.min("v")).cast("bigint").alias("range_v")
    )
    # block-weight ranks via a triangular join on the 7-row block
    # frame (window-free: keeps the single-partition audit at zero)
    rb = rng.select(
        F.col("blk").alias("blk2"),
        F.col("range_v").alias("range2"),
    )
    q = (
        rng.join(
            rb,
            (F.col("range2") < F.col("range_v"))
            | (
                (F.col("range2") == F.col("range_v"))
                & (F.col("blk2") < F.col("blk"))
            ),
            "left",
        )
        .groupBy("blk")
        .agg((1 + F.count("blk2")).cast("bigint").alias("qb"))
    )
    s2 = rk.join(q, "blk").select(
        "trt", (F.col("qb") * (2 * F.col("r") - 6)).alias("s2")
    ).persist()
    a4 = s2.agg(
        F.sum(F.col("s2") * F.col("s2")).cast("bigint").alias("a4")
    )
    sb4 = (
        s2.groupBy("trt")
        .agg(F.sum("s2").cast("bigint").alias("tj"))
        .agg(F.sum(F.col("tj") * F.col("tj")).cast("bigint").alias("sb4"))
    )
    a_term = F.col("a4") / 4.0
    b_term = F.col("sb4") / 28.0
    return a4.crossJoin(F.broadcast(sb4)).select(
        F.lit(7).cast("bigint").alias("n_blocks"),
        F.lit(5).cast("bigint").alias("k_treatments"),
        a_term.alias("a_term"),
        F.round(b_term, 4).alias("b_term"),
        F.round(
            (7 - 1) * b_term / F.nullif(a_term - b_term, F.lit(0.0)), 6
        ).alias("quade_f"),
    )


# --------------------------------------------------------------------------
# Seasonal/trend strength (Hyndman F_s, F_t) of daily revenue
# --------------------------------------------------------------------------
@register(
    "seasonal_strength_panel",
    oracle=f"""
    WITH {_DAILY_SQL},
    ma AS (
        SELECT a.d, a.y,
               CAST(COUNT(b.d) AS BIGINT) AS k,
               CAST(round(SUM(b.y) / 7.0, 4) AS DECIMAL(38,4)) AS tr
        FROM daily a JOIN daily b ON b.d BETWEEN a.d - 3 AND a.d + 3
        GROUP BY a.d, a.y
        HAVING COUNT(b.d) = 7
    ),
    detr AS (
        SELECT d, CAST((d + 4) % 7 AS BIGINT) AS dow,
               CAST(y AS DECIMAL(38,4)) - tr AS s_plus_r,
               CAST(y AS DECIMAL(38,4)) AS y4, tr
        FROM ma
    ),
    seas AS (
        SELECT dow,
               CAST(round(CAST(SUM(s_plus_r) AS DOUBLE) / COUNT(*), 4)
                    AS DECIMAL(38,4)) AS s
        FROM detr GROUP BY dow
    ),
    comp AS (
        SELECT d.s_plus_r, d.s_plus_r - s.s AS r,
               d.y4 - s.s AS t_plus_r
        FROM detr d JOIN seas s ON d.dow = s.dow
    ),
    v AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(r * r) AS DECIMAL(38,8)) AS qr,
               CAST(SUM(r) AS DECIMAL(38,4)) AS sr,
               CAST(SUM(s_plus_r * s_plus_r) AS DECIMAL(38,8)) AS qsr,
               CAST(SUM(s_plus_r) AS DECIMAL(38,4)) AS ssr,
               CAST(SUM(t_plus_r * t_plus_r) AS DECIMAL(38,8)) AS qtr,
               CAST(SUM(t_plus_r) AS DECIMAL(38,4)) AS str
        FROM comp
    )
    SELECT n AS n_days_used,
           round((CAST(qr AS DOUBLE)
                  - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / n)
                 / (n - 1) / 1e8, 6) AS var_resid_mdollars2,
           round(GREATEST(0.0, 1.0
                 - (CAST(qr AS DOUBLE)
                    - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / n)
                   / (CAST(qsr AS DOUBLE)
                      - CAST(ssr AS DOUBLE) * CAST(ssr AS DOUBLE) / n)),
                 6) AS f_seasonal,
           round(GREATEST(0.0, 1.0
                 - (CAST(qr AS DOUBLE)
                    - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / n)
                   / (CAST(qtr AS DOUBLE)
                      - CAST(str AS DOUBLE) * CAST(str AS DOUBLE) / n)),
                 6) AS f_trend
    FROM v
    """,
)
def seasonal_strength_panel(spark, sf_dir):
    """Hyndman's seasonal/trend STRENGTH measures from a classical
    additive decomposition of daily revenue: trend = centered 7-day
    moving average, seasonal = weekday means of the detrended series,
    remainder = what's left; then F_seasonal = max(0, 1 −
    Var(R)/Var(S+R)) and F_trend = max(0, 1 − Var(R)/Var(T+R)) — the
    [0,1] scores the tsfeatures/forecastability literature uses to
    route series to seasonal vs non-seasonal models. The single-number
    summary seasonal_dow_decompose (which emits the components) does
    not give.

    Determinism: the MA and seasonal means round to 4 decimals, so
    every component is an exact DECIMAL(38,4) and all power sums are
    exact DECIMAL(38,8) folds; the three variances combine in doubles
    identically. Plan: a ±3-day band join on the bounded day frame
    (full 7-day windows only), one weekday rollup, one fold."""
    daily = _daily(spark, sf_dir)
    b = daily.select(F.col("d").alias("db"), F.col("y").alias("yb"))
    ma = (
        daily.join(b, F.col("db").between(F.col("d") - 3, F.col("d") + 3))
        .groupBy("d", "y")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.round(F.sum("yb") / 7.0, 4)
            .cast("decimal(38,4)")
            .alias("tr"),
        )
        .where(F.col("k") == 7)
    )
    detr = ma.select(
        "d",
        ((F.col("d") + 4) % 7).cast("bigint").alias("dow"),
        (F.col("y").cast("decimal(38,4)") - F.col("tr")).alias("s_plus_r"),
        F.col("y").cast("decimal(38,4)").alias("y4"),
        "tr",
    )
    seas = detr.groupBy("dow").agg(
        F.round(
            F.sum("s_plus_r").cast("double") / F.count(F.lit(1)), 4
        )
        .cast("decimal(38,4)")
        .alias("s")
    )
    comp = detr.join(F.broadcast(seas), "dow").select(
        "s_plus_r",
        (F.col("s_plus_r") - F.col("s")).alias("r"),
        (F.col("y4") - F.col("s")).alias("t_plus_r"),
    )
    v = comp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("r") * F.col("r")).cast("decimal(38,8)").alias("qr"),
        F.sum("r").cast("decimal(38,4)").alias("sr"),
        F.sum(F.col("s_plus_r") * F.col("s_plus_r"))
        .cast("decimal(38,8)")
        .alias("qsr"),
        F.sum("s_plus_r").cast("decimal(38,4)").alias("ssr"),
        F.sum(F.col("t_plus_r") * F.col("t_plus_r"))
        .cast("decimal(38,8)")
        .alias("qtr"),
        F.sum("t_plus_r").cast("decimal(38,4)").alias("str"),
    )

    def _var(q, sm):
        return (
            F.col(q).cast("double")
            - F.col(sm).cast("double") * F.col(sm).cast("double") / F.col("n")
        )

    vr = _var("qr", "sr")
    return v.select(
        F.col("n").alias("n_days_used"),
        F.round(vr / (F.col("n") - 1) / 1e8, 6).alias(
            "var_resid_mdollars2"
        ),
        F.round(
            F.greatest(F.lit(0.0), 1.0 - vr / _var("qsr", "ssr")), 6
        ).alias("f_seasonal"),
        F.round(
            F.greatest(F.lit(0.0), 1.0 - vr / _var("qtr", "str")), 6
        ).alias("f_trend"),
    )


# --------------------------------------------------------------------------
# V-shape pattern detection on daily revenue (MATCH_RECOGNIZE-class)
# --------------------------------------------------------------------------
@register(
    "pattern_vshape_daily",
    oracle=f"""
    WITH {_DAILY_SQL},
    w AS (
        SELECT c.d, a.y AS ym2, b.y AS ym1, c.y AS y0,
               e.y AS yp1, f.y AS yp2
        FROM daily c
        JOIN daily a ON a.d = c.d - 2
        JOIN daily b ON b.d = c.d - 1
        JOIN daily e ON e.d = c.d + 1
        JOIN daily f ON f.d = c.d + 2
    ),
    vs AS (
        SELECT d, y0,
               (LEAST(ym2, yp2) - y0) * 1000000 // y0 AS depth_ppm
        FROM w
        WHERE ym2 > ym1 AND ym1 > y0 AND y0 < yp1 AND yp1 < yp2
          AND (LEAST(ym2, yp2) - y0) * 10 >= y0
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_v FROM vs)
    SELECT CAST(strftime(CAST(to_timestamp(v.d * 86400) AS TIMESTAMP),
                         '%Y-%m-%d') AS VARCHAR) AS dip_date,
           round(v.y0 / 100.0, 2) AS dip_dollars,
           round(v.depth_ppm / 10000.0, 2) AS depth_pct,
           t.n_v AS n_vshapes_total
    FROM vs v, tot t
    ORDER BY v.depth_ppm DESC, v.d
    LIMIT 10
    """,
)
def pattern_vshape_daily(spark, sf_dir):
    """Row-pattern detection (the MATCH_RECOGNIZE surface, expressed
    relationally): find V-shaped dips in daily revenue — two strictly
    falling days into a trough, two strictly rising days out, with
    relative depth ≥ 10% of the trough. Emits the 10 deepest dips
    (date, trough value, depth) plus the corpus-wide V count — the
    anomaly shape a revenue-incident review starts from, and the
    pattern class (down-down-up-up over an ordered partition) that
    SQL:2016 row-pattern matching exists for.

    Determinism: the pattern predicate is pure integer comparisons;
    depth ranks by an exact integer key (ppm via floor-div
    cross-multiplication — never a float sort); the 10% gate is the
    cross-multiplied integer inequality. Plan: four calendar lag
    joins on the bounded day frame + TakeOrderedAndProject."""
    daily = _daily(spark, sf_dir)

    def lag_frame(k, name):
        return daily.select(
            (F.col("d") - k).alias("d"), F.col("y").alias(name)
        )

    w = (
        daily.withColumnRenamed("y", "y0")
        .join(lag_frame(-2, "ym2"), "d")
        .join(lag_frame(-1, "ym1"), "d")
        .join(lag_frame(1, "yp1"), "d")
        .join(lag_frame(2, "yp2"), "d")
    )
    lo = F.least("ym2", "yp2")
    vs = (
        w.where(
            (F.col("ym2") > F.col("ym1"))
            & (F.col("ym1") > F.col("y0"))
            & (F.col("y0") < F.col("yp1"))
            & (F.col("yp1") < F.col("yp2"))
            & ((lo - F.col("y0")) * 10 >= F.col("y0"))
        )
        .select(
            "d",
            "y0",
            F.floor((lo - F.col("y0")) * 1_000_000 / F.col("y0"))
            .cast("bigint")
            .alias("depth_ppm"),
        )
        .persist()
    )
    tot = vs.agg(F.count(F.lit(1)).cast("bigint").alias("n_v"))
    return (
        vs.crossJoin(F.broadcast(tot))
        .orderBy(F.col("depth_ppm").desc(), "d")
        .limit(10)
        .select(
            F.date_format(
                F.timestamp_seconds(F.col("d") * 86400), "yyyy-MM-dd"
            ).alias("dip_date"),
            F.round(F.col("y0") / 100.0, 2).alias("dip_dollars"),
            F.round(F.col("depth_ppm") / 10000.0, 2).alias("depth_pct"),
            F.col("n_v").alias("n_vshapes_total"),
        )
    )


# --------------------------------------------------------------------------
# Record-counts randomness test on daily revenue
# --------------------------------------------------------------------------
@register(
    "record_counts_test",
    oracle=f"""
    WITH {_DAILY_SQL},
    scan AS (
        SELECT a.d, a.y,
               CAST(COUNT(b.d) AS BIGINT) + 1 AS k,
               CAST(COUNT(CASE WHEN b.y >= a.y THEN 1 END) AS BIGINT)
                   AS n_geq
        FROM daily a LEFT JOIN daily b ON b.d < a.d
        GROUP BY a.d, a.y
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN n_geq = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_records,
               CAST(SUM(CAST(round(1.0 / k, 12) AS DECIMAL(38,12)))
                    AS DOUBLE) AS h1,
               CAST(SUM(CAST(round(1.0 / (CAST(k AS DOUBLE) * k), 12)
                    AS DECIMAL(38,12))) AS DOUBLE) AS h2
        FROM scan
    )
    SELECT n AS n_days, n_records,
           round(h1, 6) AS expected_records,
           round((n_records - h1) / sqrt(h1 - h2), 6) + 0.0 AS z_stat
    FROM fold
    """,
)
def record_counts_test(spark, sf_dir):
    """Record-counts randomness test: count the days whose revenue is
    a running all-time high. Under exchangeability the k-th
    observation is a record with probability exactly 1/k, so
    E[records] = H_n (harmonic) ≈ ln n and Var = H_n − H_n⁽²⁾ —
    DISTRIBUTION-FREE, no parameters at all. Far more records than
    H_n = upward drift; far fewer = early peak / decline. The
    classical record-theory complement to turning_points_randomness
    (which tests local wiggle; records test global growth structure).

    The record flag and the day index k both come from ONE triangular
    join on the bounded day frame (b.d < a.d): records = rows with no
    earlier y ≥ y₀, k = earlier-count + 1; the harmonic sums fold
    per-row rounded 1/k terms (round-before-fold). One final z."""
    daily = _daily(spark, sf_dir)
    b = daily.select(F.col("d").alias("db"), F.col("y").alias("yb"))
    scan = (
        daily.join(b, F.col("db") < F.col("d"), "left")
        .groupBy("d", "y")
        .agg(
            (F.count("db") + 1).cast("bigint").alias("k"),
            F.count(F.when(F.col("yb") >= F.col("y"), 1))
            .cast("bigint")
            .alias("n_geq"),
        )
    )
    fold = scan.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("n_geq") == 0).cast("long"))
        .cast("bigint")
        .alias("n_records"),
        F.sum(
            F.round(1.0 / F.col("k"), 12).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("h1"),
        F.sum(
            F.round(
                1.0 / (F.col("k").cast("double") * F.col("k")), 12
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("h2"),
    )
    return fold.select(
        F.col("n").alias("n_days"),
        "n_records",
        F.round(F.col("h1"), 6).alias("expected_records"),
        (
            F.round(
                (F.col("n_records") - F.col("h1"))
                / F.sqrt(F.col("h1") - F.col("h2")),
                6,
            )
            + 0.0
        ).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Transfer entropy: daily order count -> next-day average order value
# --------------------------------------------------------------------------
@register(
    "transfer_entropy_daily",
    oracle="""
    WITH daily2 AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    thr AS (
        SELECT CAST(round(quantile_cont(c, 1.0/3), 6) AS DOUBLE) AS c1,
               CAST(round(quantile_cont(c, 2.0/3), 6) AS DOUBLE) AS c2,
               CAST(round(quantile_cont(y * 1.0 / c, 1.0/3), 6)
                    AS DOUBLE) AS a1,
               CAST(round(quantile_cont(y * 1.0 / c, 2.0/3), 6)
                    AS DOUBLE) AS a2
        FROM daily2
    ),
    disc AS (
        SELECT d,
               CASE WHEN c <= t.c1 THEN 0
                    WHEN c <= t.c2 THEN 1 ELSE 2 END AS x,
               CASE WHEN y * 1.0 / c <= t.a1 THEN 0
                    WHEN y * 1.0 / c <= t.a2 THEN 1 ELSE 2 END AS yv
        FROM daily2, thr t
    ),
    tri AS (
        SELECT b.yv AS yn, a.yv AS yc, a.x AS xc,
               CAST(COUNT(*) AS BIGINT) AS n3
        FROM disc a JOIN disc b ON b.d = a.d + 1
        GROUP BY 1, 2, 3
    ),
    m_yx AS (
        SELECT yc, xc, CAST(SUM(n3) AS BIGINT) AS n2 FROM tri
        GROUP BY 1, 2
    ),
    m_yy AS (
        SELECT yn, yc, CAST(SUM(n3) AS BIGINT) AS nyy FROM tri
        GROUP BY 1, 2
    ),
    m_y AS (
        SELECT yc, CAST(SUM(n3) AS BIGINT) AS ny FROM tri GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n3) AS BIGINT) AS n FROM tri),
    te AS (
        SELECT SUM(CAST(round(
                   t.n3 * 1.0 / x.n *
                   ln((t.n3 * 1.0 / a.n2) / (b.nyy * 1.0 / c.ny)),
                   12) AS DECIMAL(38,12))) AS te_nats
        FROM tri t
        JOIN m_yx a ON t.yc = a.yc AND t.xc = a.xc
        JOIN m_yy b ON t.yn = b.yn AND t.yc = b.yc
        JOIN m_y c ON t.yc = c.yc
        CROSS JOIN tot x
    )
    SELECT x.n AS n_transitions,
           round(CAST(e.te_nats AS DOUBLE), 6) + 0.0 AS te_nats,
           round(CAST(e.te_nats AS DOUBLE) / ln(2.0), 6) + 0.0 AS te_bits
    FROM te e, tot x
    """,
)
def transfer_entropy_daily(spark, sf_dir):
    """Transfer entropy TE(X→Y) from daily ORDER COUNT to next-day
    AVERAGE ORDER VALUE, both tercile-discretized: TE = Σ p(y⁺,y,x)·
    ln[p(y⁺|y,x)/p(y⁺|y)] — the directed, model-free dependence
    measure: does knowing today's volume improve tomorrow's
    value-mix prediction beyond value's own history? Zero for Markov-
    independent drivers; the asymmetric upgrade of cross-correlation
    (cross_correlation_daily is symmetric and linear-only).

    Determinism: tercile thresholds are rounded interpolated
    percentiles (shared semantics) broadcast to the day frame; every
    probability in the TE ratio reduces to exact integer counts —
    the expression folds per-cell rounded terms over ≤27 triple
    cells. Plan: day rollup + one lag join + four tiny rollups."""
    o = t(spark, sf_dir, "orders")
    daily2 = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        (F.sum(dec("o_totalprice", 18, 2) * 100))
        .cast("bigint")
        .alias("y"),
    )
    thr = daily2.agg(
        F.round(F.expr("percentile(c, 1.0D/3)"), 6).alias("c1"),
        F.round(F.expr("percentile(c, 2.0D/3)"), 6).alias("c2"),
        F.round(F.expr("percentile(y * 1.0D / c, 1.0D/3)"), 6).alias("a1"),
        F.round(F.expr("percentile(y * 1.0D / c, 2.0D/3)"), 6).alias("a2"),
    )
    av = F.col("y") * 1.0 / F.col("c")
    disc = daily2.crossJoin(F.broadcast(thr)).select(
        "d",
        F.when(F.col("c") <= F.col("c1"), 0)
        .when(F.col("c") <= F.col("c2"), 1)
        .otherwise(2)
        .alias("x"),
        F.when(av <= F.col("a1"), 0)
        .when(av <= F.col("a2"), 1)
        .otherwise(2)
        .alias("yv"),
    )
    nxt = disc.select(
        (F.col("d") - 1).alias("d"), F.col("yv").alias("yn")
    )
    tri = (
        disc.join(nxt, "d")
        .groupBy(
            F.col("yn"), F.col("yv").alias("yc"), F.col("x").alias("xc")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n3"))
        .persist()
    )
    m_yx = tri.groupBy("yc", "xc").agg(
        F.sum("n3").cast("bigint").alias("n2")
    )
    m_yy = tri.groupBy("yn", "yc").agg(
        F.sum("n3").cast("bigint").alias("nyy")
    )
    m_y = tri.groupBy("yc").agg(F.sum("n3").cast("bigint").alias("ny"))
    tot = tri.agg(F.sum("n3").cast("bigint").alias("n"))
    te = (
        tri.join(F.broadcast(m_yx), ["yc", "xc"])
        .join(F.broadcast(m_yy), ["yn", "yc"])
        .join(F.broadcast(m_y), "yc")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.round(
                    F.col("n3")
                    * 1.0
                    / F.col("n")
                    * F.log(
                        (F.col("n3") * 1.0 / F.col("n2"))
                        / (F.col("nyy") * 1.0 / F.col("ny"))
                    ),
                    12,
                ).cast("decimal(38,12)")
            ).alias("te_nats")
        )
    )
    return te.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_transitions"),
        (F.round(F.col("te_nats").cast("double"), 6) + 0.0).alias(
            "te_nats"
        ),
        (
            F.round(
                F.col("te_nats").cast("double") / F.log(F.lit(2.0)), 6
            )
            + 0.0
        ).alias("te_bits"),
    )


# --------------------------------------------------------------------------
# One-step Huber M-estimate of location per event type
# --------------------------------------------------------------------------
@register(
    "huber_one_step_location",
    oracle="""
    WITH base AS (
        SELECT event_type,
               CAST(round(quantile_cont(value, 0.5), 6) AS DOUBLE) AS med
        FROM events GROUP BY 1
    ),
    madd AS (
        SELECT e.event_type,
               CAST(round(quantile_cont(ABS(e.value - b.med), 0.5), 6)
                    AS DOUBLE) AS mad
        FROM events e JOIN base b ON e.event_type = b.event_type
        GROUP BY 1
    ),
    clipped AS (
        SELECT e.event_type, b.med, m.mad,
               CAST(round(
                   GREATEST(b.med - 1.345 * 1.4826 * m.mad,
                            LEAST(b.med + 1.345 * 1.4826 * m.mad,
                                  e.value)), 6) AS DECIMAL(18,6)) AS w
        FROM events e
        JOIN base b ON e.event_type = b.event_type
        JOIN madd m ON e.event_type = m.event_type
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(MAX(med), 4) AS median,
           round(MAX(mad) * 1.4826, 4) AS mad_sigma,
           round(CAST(SUM(w) AS DOUBLE) / COUNT(*), 4) AS huber_location
    FROM clipped GROUP BY event_type
    """,
)
def huber_one_step_location(spark, sf_dir):
    """One-step Huber M-estimate of location per event type: start at
    the median, clip every value into [med − c·σ̂, med + c·σ̂] with
    σ̂ = 1.4826·MAD and c = 1.345 (95% Gaussian efficiency), and
    average the clipped values — the robust mean that keeps Gaussian
    efficiency while bounding any single outlier's influence (the
    winsorized panel clips at fixed QUANTILES; Huber clips at a
    scale-calibrated width, the estimator actual robust pipelines
    iterate — one step from the median is the standard 95%-efficient
    shortcut).

    Median and MAD are exact interpolated percentiles rounded to 6;
    clipped values round to 6 into DECIMAL so the final mean is an
    exact fold + one division. Plan: three grouped passes over events
    (median → MAD → clipped mean), each a 5-group agg."""
    e = t(spark, sf_dir, "events")
    base = e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5D)"), 6).alias("med")
    )
    madd = (
        e.join(F.broadcast(base), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(
                F.expr("percentile(abs(value - med), 0.5D)"), 6
            ).alias("mad")
        )
    )
    c = 1.345 * 1.4826
    clipped = (
        e.join(F.broadcast(base), "event_type")
        .join(F.broadcast(madd), "event_type")
        .select(
            "event_type",
            "med",
            "mad",
            F.round(
                F.greatest(
                    F.col("med") - c * F.col("mad"),
                    F.least(
                        F.col("med") + c * F.col("mad"), F.col("value")
                    ),
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("w"),
        )
    )
    return clipped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.max("med"), 4).alias("median"),
        F.round(F.max("mad") * 1.4826, 4).alias("mad_sigma"),
        F.round(
            F.sum("w").cast("double") / F.count(F.lit(1)), 4
        ).alias("huber_location"),
    )


# --------------------------------------------------------------------------
# Simpson's paradox audit: value-vs-weekday slope, overall vs per type
# --------------------------------------------------------------------------
@register(
    "simpsons_paradox_audit",
    oracle="""
    WITH pts AS (
        SELECT event_type AS g,
               CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT) AS x,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        FROM events
    ),
    strat AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM pts GROUP BY g
    ),
    slopes AS (
        SELECT g,
               round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                     / (n * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * sx) / 100.0, 6) + 0.0
                   AS slope
        FROM strat
    ),
    overall AS (
        SELECT round((SUM(n) * CAST(SUM(sxy) AS DOUBLE)
                      - CAST(SUM(sx) AS DOUBLE) * SUM(sy))
                     / (SUM(n) * CAST(SUM(sxx) AS DOUBLE)
                        - CAST(SUM(sx) AS DOUBLE) * SUM(sx)) / 100.0,
                     6) + 0.0 AS slope_all
        FROM strat
    )
    SELECT s.g AS stratum, s.slope AS stratum_slope,
           o.slope_all AS overall_slope,
           CASE WHEN s.slope * o.slope_all < 0 THEN 1 ELSE 0 END
               AS sign_reversed
    FROM slopes s, overall o
    """,
)
def simpsons_paradox_audit(spark, sf_dir):
    """Simpson's-paradox audit on the value-vs-weekday gradient: the
    OLS slope of event value on weekday index, computed overall AND
    within each event-type stratum, flagging strata whose slope sign
    OPPOSES the pooled slope — the amalgamation-reversal check every
    metrics review needs before quoting a pooled trend (a pooled
    positive drift can coexist with every stratum trending negative
    when stratum mix shifts across the week). The reversal-detection
    companion to mantel_haenszel_weekday_strata (which pools
    assuming homogeneity; this audits that assumption's sign side).

    All five OLS sums are exact integers per stratum, and the pooled
    fit reuses the SAME stratum sums (one pass over events); slopes
    divide once, rounded with ``+ 0.0``. Plan: one 5-group fold +
    a broadcast scalar."""
    e = t(spark, sf_dir, "events")
    pts = e.select(
        F.col("event_type").alias("g"),
        ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7)
        .cast("bigint")
        .alias("x"),
        (dec("value", 18, 2) * 100).cast("bigint").alias("y"),
    )
    strat = pts.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    ).persist()

    def _slope(n, sx, sxx, sy, sxy):
        return (
            (n * sxy.cast("double") - sx.cast("double") * sy)
            / (n * sxx.cast("double") - sx.cast("double") * sx)
            / 100.0
        )

    slopes = strat.select(
        "g",
        (
            F.round(
                _slope(
                    F.col("n"),
                    F.col("sx"),
                    F.col("sxx"),
                    F.col("sy"),
                    F.col("sxy"),
                ),
                6,
            )
            + 0.0
        ).alias("slope"),
    )
    overall = strat.agg(
        (
            F.round(
                _slope(
                    F.sum("n"),
                    F.sum("sx"),
                    F.sum("sxx"),
                    F.sum("sy"),
                    F.sum("sxy"),
                ),
                6,
            )
            + 0.0
        ).alias("slope_all")
    )
    return slopes.crossJoin(F.broadcast(overall)).select(
        F.col("g").alias("stratum"),
        F.col("slope").alias("stratum_slope"),
        F.col("slope_all").alias("overall_slope"),
        F.when(F.col("slope") * F.col("slope_all") < 0, 1)
        .otherwise(0)
        .alias("sign_reversed"),
    )


# --------------------------------------------------------------------------
# Poisson rate-ratio: weekend vs weekday event intensity
# --------------------------------------------------------------------------
@register(
    "poisson_rate_ratio_weekend",
    oracle="""
    WITH days AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    g AS (
        SELECT CASE WHEN (d + 4) % 7 IN (0, 6) THEN 1 ELSE 0 END AS wk,
               CAST(SUM(c) AS BIGINT) AS x,
               CAST(COUNT(*) AS BIGINT) AS expo
        FROM days GROUP BY 1
    ),
    wide AS (
        SELECT MAX(CASE WHEN wk = 1 THEN x END) AS x1,
               MAX(CASE WHEN wk = 1 THEN expo END) AS e1,
               MAX(CASE WHEN wk = 0 THEN x END) AS x0,
               MAX(CASE WHEN wk = 0 THEN expo END) AS e0
        FROM g
    )
    SELECT x1 AS weekend_events, e1 AS weekend_days,
           x0 AS weekday_events, e0 AS weekday_days,
           round((x1 * 1.0 / e1) / (x0 * 1.0 / e0), 6) AS rate_ratio,
           round(ln((x1 * 1.0 / e1) / (x0 * 1.0 / e0))
                 / sqrt(1.0 / x1 + 1.0 / x0), 6) + 0.0 AS z_log_rr,
           round(exp(ln((x1 * 1.0 / e1) / (x0 * 1.0 / e0))
                     - 1.959963984540054
                       * sqrt(1.0 / x1 + 1.0 / x0)), 6) AS rr_ci_lo,
           round(exp(ln((x1 * 1.0 / e1) / (x0 * 1.0 / e0))
                     + 1.959963984540054
                       * sqrt(1.0 / x1 + 1.0 / x0)), 6) AS rr_ci_hi
    FROM wide
    """,
)
def poisson_rate_ratio_weekend(spark, sf_dir):
    """Poisson rate-ratio readout: weekend vs weekday event intensity
    per EXPOSURE day — RR = (x₁/e₁)/(x₀/e₀) with the log-scale Wald
    interval exp(ln RR ± 1.96·√(1/x₁+1/x₀)), the standard
    epidemiology/SRE comparison for count processes with unequal
    exposure windows (a raw count comparison is meaningless when one
    arm has 2 days per week and the other 5 — exposure offset is the
    whole point). Complements poisson_dispersion_index (fit) and
    ab_difference_newcombe (proportions, not rates).

    Counts and exposures are exact integers; RR, z, and the CI are
    one final expression chain. Plan: day rollup + 2-cell fold."""
    e = t(spark, sf_dir, "events")
    days = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    g = days.groupBy(
        ((F.col("d") + 4) % 7).isin(0, 6).cast("int").alias("wk")
    ).agg(
        F.sum("c").cast("bigint").alias("x"),
        F.count(F.lit(1)).cast("bigint").alias("expo"),
    )
    wide = g.agg(
        F.max(F.when(F.col("wk") == 1, F.col("x"))).alias("x1"),
        F.max(F.when(F.col("wk") == 1, F.col("expo"))).alias("e1"),
        F.max(F.when(F.col("wk") == 0, F.col("x"))).alias("x0"),
        F.max(F.when(F.col("wk") == 0, F.col("expo"))).alias("e0"),
    )
    rr = (F.col("x1") * 1.0 / F.col("e1")) / (
        F.col("x0") * 1.0 / F.col("e0")
    )
    se = F.sqrt(1.0 / F.col("x1") + 1.0 / F.col("x0"))
    zcrit = 1.959963984540054
    return wide.select(
        F.col("x1").alias("weekend_events"),
        F.col("e1").alias("weekend_days"),
        F.col("x0").alias("weekday_events"),
        F.col("e0").alias("weekday_days"),
        F.round(rr, 6).alias("rate_ratio"),
        (F.round(F.log(rr) / se, 6) + 0.0).alias("z_log_rr"),
        F.round(F.exp(F.log(rr) - zcrit * se), 6).alias("rr_ci_lo"),
        F.round(F.exp(F.log(rr) + zcrit * se), 6).alias("rr_ci_hi"),
    )


# --------------------------------------------------------------------------
# Entropy rate of the per-user event-type Markov chain
# --------------------------------------------------------------------------
@register(
    "markov_entropy_rate_events",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    tr AS (
        SELECT event_type AS s, nxt AS s2,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    row_t AS (
        SELECT s, CAST(SUM(c) AS BIGINT) AS rc FROM tr GROUP BY s
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM tr),
    hrate AS (
        SELECT SUM(CAST(round(
                   t.c * 1.0 / x.n * ln(t.c * 1.0 / r.rc), 12)
               AS DECIMAL(38,12))) AS hneg
        FROM tr t JOIN row_t r ON t.s = r.s CROSS JOIN tot x
    ),
    hzero AS (
        SELECT SUM(CAST(round(
                   r.rc * 1.0 / x.n * ln(r.rc * 1.0 / x.n), 12)
               AS DECIMAL(38,12))) AS h0neg
        FROM row_t r CROSS JOIN tot x
    )
    SELECT x.n AS n_transitions,
           round(-CAST(z.h0neg AS DOUBLE), 6) AS h0_marginal,
           round(-CAST(h.hneg AS DOUBLE), 6) AS h1_entropy_rate,
           round(1.0 - (-CAST(h.hneg AS DOUBLE))
                 / (-CAST(z.h0neg AS DOUBLE)), 6) + 0.0
               AS predictability_gain
    FROM hrate h, hzero z, tot x
    """,
)
def markov_entropy_rate_events(spark, sf_dir):
    """Entropy RATE of the per-user event-type Markov chain:
    h₁ = −Σ_s π̂(s)·Σ_t P̂(t|s)·ln P̂(t|s) (empirical transition
    weights), against the marginal entropy h₀ of the same states —
    the gain 1 − h₁/h₀ is how much knowing the CURRENT event type
    compresses the next one, i.e. the sequential predictability of
    user behavior (event_transition_matrix emits the P̂ matrix; this
    is its single-number information summary, the behavioral sibling
    of the text tier's bigram entropy rate).

    Transition counts are exact (user-keyed lead window); both
    entropies fold per-cell rounded p·ln p terms over the ≤25-cell
    type x type frame. Plan: one user-partitioned sequence window +
    three tiny rollups."""
    e = t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("s"),
        F.lead("event_type").over(wu).alias("s2"),
    ).where(F.col("s2").isNotNull())
    tr = seq.groupBy("s", "s2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).persist()
    row_t = tr.groupBy("s").agg(F.sum("c").cast("bigint").alias("rc"))
    tot = tr.agg(F.sum("c").cast("bigint").alias("n"))
    hrate = (
        tr.join(F.broadcast(row_t), "s")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.round(
                    F.col("c")
                    * 1.0
                    / F.col("n")
                    * F.log(F.col("c") * 1.0 / F.col("rc")),
                    12,
                ).cast("decimal(38,12)")
            ).alias("hneg")
        )
    )
    hzero = (
        row_t.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.round(
                    F.col("rc")
                    * 1.0
                    / F.col("n")
                    * F.log(F.col("rc") * 1.0 / F.col("n")),
                    12,
                ).cast("decimal(38,12)")
            ).alias("h0neg")
        )
    )
    return (
        hrate.crossJoin(F.broadcast(hzero))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n").alias("n_transitions"),
            F.round(-F.col("h0neg").cast("double"), 6).alias(
                "h0_marginal"
            ),
            F.round(-F.col("hneg").cast("double"), 6).alias(
                "h1_entropy_rate"
            ),
            (
                F.round(
                    1.0
                    - (-F.col("hneg").cast("double"))
                    / (-F.col("h0neg").cast("double")),
                    6,
                )
                + 0.0
            ).alias("predictability_gain"),
        )
    )


# --------------------------------------------------------------------------
# Pinball-loss backtest of trailing-window quantile forecasts
# --------------------------------------------------------------------------
@register(
    "pinball_loss_backtest",
    oracle=f"""
    WITH {_DAILY_SQL},
    win AS (
        SELECT a.d, a.y,
               CAST(COUNT(b.d) AS BIGINT) AS k,
               CAST(round(quantile_cont(b.y, 0.1), 1) AS DECIMAL(38,1))
                   AS q10,
               CAST(round(quantile_cont(b.y, 0.5), 1) AS DECIMAL(38,1))
                   AS q50,
               CAST(round(quantile_cont(b.y, 0.9), 1) AS DECIMAL(38,1))
                   AS q90
        FROM daily a JOIN daily b ON b.d BETWEEN a.d - 28 AND a.d - 1
        GROUP BY a.d, a.y
        HAVING COUNT(b.d) = 28
    ),
    longf AS (
        SELECT d, y, CAST(0.1 AS DOUBLE) AS tau, q10 AS q FROM win
        UNION ALL SELECT d, y, CAST(0.5 AS DOUBLE), q50 FROM win
        UNION ALL SELECT d, y, CAST(0.9 AS DOUBLE), q90 FROM win
    ),
    loss AS (
        SELECT tau,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(CASE WHEN CAST(y AS DECIMAL(38,1)) >= q
                        THEN (CAST(y AS DECIMAL(38,1)) - q) * tau
                        ELSE (q - CAST(y AS DECIMAL(38,1))) * (1 - tau)
                        END) AS DECIMAL(38,3)) AS sl,
               CAST(SUM(CASE WHEN CAST(y AS DECIMAL(38,1)) <= q
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_cov
        FROM longf GROUP BY tau
    )
    SELECT tau, n_days,
           round(CAST(sl AS DOUBLE) / n_days / 100.0, 4)
               AS mean_pinball_dollars,
           round(n_cov / CAST(n_days AS DOUBLE), 6) AS empirical_coverage
    FROM loss
    """,
)
def pinball_loss_backtest(spark, sf_dir):
    """Pinball (quantile) loss backtest: forecast each day's revenue
    quantiles q10/q50/q90 from the trailing 28 days' EMPIRICAL
    quantiles, then score with the pinball loss L_τ = τ·(y−q)⁺ +
    (1−τ)·(q−y)⁺ and report empirical coverage per τ — the proper
    scoring rule for quantile forecasts (coverage alone can be gamed
    by widening; pinball is minimized ONLY by the true quantile).
    naive_forecast_coverage_backtest checks a parametric interval;
    this scores the non-parametric quantile forecaster a capacity
    planner actually runs.

    Trailing quantiles are interpolated percentiles on 28 integer
    values — the fraction grid is tenths, so rounding to one decimal
    is EXACT and every loss term is an exact DECIMAL(38,1) product
    folded at scale 3; one division per τ. Plan: ±28-day band join on
    the day frame, per-day percentile agg, 3-row loss fold."""
    daily = _daily(spark, sf_dir)
    b = daily.select(F.col("d").alias("db"), F.col("y").alias("yb"))
    win = (
        daily.join(
            b, F.col("db").between(F.col("d") - 28, F.col("d") - 1)
        )
        .groupBy("d", "y")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.round(F.expr("percentile(yb, 0.1D)"), 1)
            .cast("decimal(38,1)")
            .alias("q10"),
            F.round(F.expr("percentile(yb, 0.5D)"), 1)
            .cast("decimal(38,1)")
            .alias("q50"),
            F.round(F.expr("percentile(yb, 0.9D)"), 1)
            .cast("decimal(38,1)")
            .alias("q90"),
        )
        .where(F.col("k") == 28)
    )
    longf = None
    for tau, qc in ((0.1, "q10"), (0.5, "q50"), (0.9, "q90")):
        part = win.select(
            F.lit(tau).alias("tau"),
            F.col("y").cast("decimal(38,1)").alias("y1"),
            F.col(qc).alias("q"),
        )
        longf = part if longf is None else longf.unionAll(part)
    loss = longf.groupBy("tau").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(
            F.when(
                F.col("y1") >= F.col("q"),
                (F.col("y1") - F.col("q")) * F.col("tau"),
            ).otherwise((F.col("q") - F.col("y1")) * (1 - F.col("tau")))
        )
        .cast("decimal(38,3)")
        .alias("sl"),
        F.sum((F.col("y1") <= F.col("q")).cast("long"))
        .cast("bigint")
        .alias("n_cov"),
    )
    return loss.select(
        "tau",
        "n_days",
        F.round(
            F.col("sl").cast("double") / F.col("n_days") / 100.0, 4
        ).alias("mean_pinball_dollars"),
        F.round(
            F.col("n_cov") / F.col("n_days").cast("double"), 6
        ).alias("empirical_coverage"),
    )


# --------------------------------------------------------------------------
# Syntetos-Boylan intermittent-demand classification (ADI x CV² grid)
# --------------------------------------------------------------------------
@register(
    "intermittent_demand_sbc",
    oracle="""
    WITH dd AS (
        SELECT l_partkey AS pk,
               CAST(epoch_us(l_shipdate) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s
        FROM lineitem GROUP BY 1, 2
    ),
    per_part AS (
        SELECT pk,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(MAX(d) - MIN(d) AS BIGINT) AS span,
               CAST(SUM(s) AS BIGINT) AS ss,
               CAST(SUM(s * s) AS BIGINT) AS qq
        FROM dd GROUP BY pk
        HAVING COUNT(*) >= 2
    ),
    cls AS (
        SELECT pk, k,
               span * 1.0 / (k - 1) AS adi,
               k * 1.0 * (k * qq - ss * ss) / ((k - 1.0) * ss * ss)
                   AS cv2,
               CASE WHEN span * 100 < 132 * (k - 1) THEN 'freq'
                    ELSE 'intermit' END AS adi_side,
               CASE WHEN 100 * k * (k * qq - ss * ss)
                         < 49 * (k - 1) * ss * ss THEN 'stable'
                    ELSE 'variable' END AS cv_side
        FROM per_part
    )
    SELECT CASE
             WHEN adi_side = 'freq' AND cv_side = 'stable'
                 THEN 'smooth'
             WHEN adi_side = 'intermit' AND cv_side = 'stable'
                 THEN 'intermittent'
             WHEN adi_side = 'freq' AND cv_side = 'variable'
                 THEN 'erratic'
             ELSE 'lumpy' END AS sbc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           round(CAST(SUM(CAST(round(adi, 6) AS DECIMAL(18,6)))
                      AS DOUBLE) / COUNT(*), 4) AS mean_adi,
           round(CAST(SUM(CAST(round(cv2, 6) AS DECIMAL(18,6)))
                      AS DOUBLE) / COUNT(*), 4) AS mean_cv2
    FROM cls GROUP BY 1
    """,
)
def intermittent_demand_sbc(spark, sf_dir):
    """Syntetos-Boylan demand classification: every part lands in the
    ADI x CV² quadrant grid — smooth (frequent, stable), intermittent
    (sparse, stable), erratic (frequent, spiky), lumpy (sparse,
    spiky) — THE router of inventory forecasting (smooth → exp.
    smoothing, intermittent → Croston, lumpy → bootstrap), with the
    canonical cutoffs ADI 1.32 and CV² 0.49. ADI = demand-day span /
    (k−1); CV² = day-demand variance over squared mean.

    The quadrant boundaries are decided by EXACT cross-multiplied
    integer inequalities (span·100 < 132·(k−1); 100k(kΣs²−(Σs)²) <
    49(k−1)(Σs)²) — no float ever picks a side; the reported means
    fold per-part rounded values. Plan: (part, day) rollup → per-part
    fold → 4-row grid. Part-keyed throughout — embarrassingly
    parallel at any scale."""
    li = t(spark, sf_dir, "lineitem")
    dd = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.floor(F.unix_micros("l_shipdate") / 86_400_000_000)
        .cast("bigint")
        .alias("d"),
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("s"))
    per_part = (
        dd.groupBy("pk")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            (F.max("d") - F.min("d")).cast("bigint").alias("span"),
            F.sum("s").cast("bigint").alias("ss"),
            F.sum(F.col("s") * F.col("s")).cast("bigint").alias("qq"),
        )
        .where(F.col("k") >= 2)
    )
    k, span = F.col("k"), F.col("span")
    ss, qq = F.col("ss"), F.col("qq")
    adi = span * 1.0 / (k - 1)
    cv2 = k * 1.0 * (k * qq - ss * ss) / ((k - 1.0) * ss * ss)
    freq = span * 100 < 132 * (k - 1)
    stable = 100 * k * (k * qq - ss * ss) < 49 * (k - 1) * ss * ss
    cls = per_part.select(
        F.when(freq & stable, "smooth")
        .when(~freq & stable, "intermittent")
        .when(freq & ~stable, "erratic")
        .otherwise("lumpy")
        .alias("sbc_class"),
        F.round(adi, 6).cast("decimal(18,6)").alias("adi_r"),
        F.round(cv2, 6).cast("decimal(18,6)").alias("cv2_r"),
    )
    return cls.groupBy("sbc_class").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.round(
            F.sum("adi_r").cast("double") / F.count(F.lit(1)), 4
        ).alias("mean_adi"),
        F.round(
            F.sum("cv2_r").cast("double") / F.count(F.lit(1)), 4
        ).alias("mean_cv2"),
    )


# --------------------------------------------------------------------------
# One-sample KS + chi-squared GOF: day-of-month uniformity (days 1-28)
# --------------------------------------------------------------------------
@register(
    "ks_uniform_dayofmonth",
    oracle="""
    WITH dom AS (
        SELECT CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS i,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders
        WHERE EXTRACT(day FROM o_orderdate) <= 28
        GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM dom),
    cum AS (
        SELECT i, c,
               CAST(SUM(c) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS f
        FROM dom
    ),
    ks AS (
        SELECT CAST(MAX(ABS(28 * c.f - c.i * t.n)) AS BIGINT) AS d28n
        FROM cum c, tots_alias t
    ),
    tots_alias AS (SELECT n FROM tot),
    chi AS (
        SELECT CAST(SUM((28 * c - t.n) * (28 * c - t.n)) AS BIGINT)
                   AS chinum
        FROM dom, tot t
        GROUP BY t.n
    )
    SELECT t.n AS n_orders,
           k.d28n AS d_scaled,
           round(k.d28n / (28.0 * t.n), 9) AS ks_d,
           round(c.chinum / (28.0 * t.n), 6) AS chi2,
           CAST(27 AS BIGINT) AS dof
    FROM ks k, tot t, chi c
    """,
)
def ks_uniform_dayofmonth(spark, sf_dir):
    """One-sample goodness-of-fit against the discrete uniform:
    are orders evenly spread over days-of-month 1–28 (29–31 dropped
    so every month contributes each cell equally)? Reports BOTH the
    one-sample KS statistic D = max|F̂(i) − i/28| (sensitive to
    cumulative drift — e.g. front-loaded billing) and the χ² GOF
    (sensitive to any single hot day). The one-sample counterpart of
    ks_two_sample_values; billing/batch pipelines run exactly this
    audit to catch month-boundary artifacts.

    Exactness: D's numerator max|28·F − i·n| and χ²'s numerator
    Σ(28c − n)² are pure integers (χ² = Σ(o−e)²/e with e = n/28
    constant → Σ(28c−n)²/(28n)); one division each. Plan: a 28-cell
    rollup + cumulative over the 28-row domain."""
    o = t(spark, sf_dir, "orders")
    dom = (
        o.select(F.dayofmonth("o_orderdate").cast("bigint").alias("i"))
        .where(F.col("i") <= 28)
        .groupBy("i")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist()
    )
    tot = dom.agg(F.sum("c").cast("bigint").alias("n"))
    b = dom.select(F.col("i").alias("i2"), F.col("c").alias("c2"))
    cum = (
        dom.join(b, F.col("i2") <= F.col("i"))
        .groupBy("i", "c")
        .agg(F.sum("c2").cast("bigint").alias("f"))
    )
    ks = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max(F.abs(28 * F.col("f") - F.col("i") * F.col("n")))
            .cast("bigint")
            .alias("d28n")
        )
    )
    chi = (
        dom.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.sum(
                (28 * F.col("c") - F.col("n"))
                * (28 * F.col("c") - F.col("n"))
            )
            .cast("bigint")
            .alias("chinum")
        )
    )
    return (
        ks.crossJoin(F.broadcast(chi))
        .select(
            F.col("n").alias("n_orders"),
            F.col("d28n").alias("d_scaled"),
            F.round(F.col("d28n") / (28.0 * F.col("n")), 9).alias("ks_d"),
            F.round(F.col("chinum") / (28.0 * F.col("n")), 6).alias(
                "chi2"
            ),
            F.lit(27).cast("bigint").alias("dof"),
        )
    )


# --------------------------------------------------------------------------
# Embedding effective dimensionality (variance participation ratio)
# --------------------------------------------------------------------------
@register(
    "dimension_participation_ratio",
    oracle="""
    WITH x AS (
        SELECT g.i AS idx,
               CAST(round(CAST(e.embedding[g.i] AS DOUBLE), 9)
                    AS DECIMAL(18,9)) AS v
        FROM embeddings e,
        LATERAL unnest(generate_series(1, len(e.embedding))) AS g(i)
    ),
    per_dim AS (
        SELECT idx,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS DECIMAL(38,9)) AS s,
               CAST(SUM(v * v) AS DECIMAL(38,18)) AS q
        FROM x GROUP BY idx
    ),
    vr AS (
        SELECT idx,
               CAST(round((CAST(q AS DOUBLE)
                           - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                          / (n - 1), 9) AS DECIMAL(18,9)) AS var9
        FROM per_dim
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS dim,
               CAST(SUM(var9) AS DECIMAL(38,9)) AS sv,
               CAST(SUM(var9 * var9) AS DECIMAL(38,18)) AS sv2,
               CAST(MAX(var9) AS DECIMAL(18,9)) AS vmax
        FROM vr
    )
    SELECT dim AS n_dims,
           round(CAST(sv AS DOUBLE), 6) AS total_variance,
           round(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
                 / CAST(sv2 AS DOUBLE), 4) AS participation_ratio,
           round(CAST(vmax AS DOUBLE) / CAST(sv AS DOUBLE), 6)
               AS top_dim_share
    FROM fold
    """,
)
def dimension_participation_ratio(spark, sf_dir):
    """Effective dimensionality of the embedding space via the
    variance participation ratio PR = (Σᵢvᵢ)²/Σᵢvᵢ² over per-dimension
    variances — d when variance is spread evenly, → 1 when one
    dimension dominates (the 'rogue dimension' pathology of trained
    embeddings that wrecks cosine retrieval). The eigen-free
    diagnostic: PR over COORDINATE variances needs no iteration (the
    full spectral version needs eigensolvers — out of declarative
    scope), yet catches the dominant failure mode, complementing
    embedding_dim_covariance (pairwise) and anisotropy (mean vector).

    Per-dim variances come from exact DECIMAL power-sum folds of
    9-rounded components, are THEMSELVES rounded to 9, and PR folds
    those exactly; three final divisions. Plan: explode + 64-cell
    rollup + scalar fold."""
    emb = t(spark, sf_dir, "embeddings")
    x = emb.select(
        F.posexplode("embedding").alias("idx0", "xv")
    ).select(
        (F.col("idx0") + 1).alias("idx"),
        F.round(F.col("xv").cast("double"), 9)
        .cast("decimal(18,9)")
        .alias("v"),
    )
    per_dim = x.groupBy("idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("decimal(38,9)").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("decimal(38,18)").alias("q"),
    )
    vr = per_dim.select(
        "idx",
        F.round(
            (
                F.col("q").cast("double")
                - F.col("s").cast("double")
                * F.col("s").cast("double")
                / F.col("n")
            )
            / (F.col("n") - 1),
            9,
        )
        .cast("decimal(18,9)")
        .alias("var9"),
    )
    fold = vr.agg(
        F.count(F.lit(1)).cast("bigint").alias("dim"),
        F.sum("var9").cast("decimal(38,9)").alias("sv"),
        F.sum(F.col("var9") * F.col("var9"))
        .cast("decimal(38,18)")
        .alias("sv2"),
        F.max("var9").cast("decimal(18,9)").alias("vmax"),
    )
    return fold.select(
        F.col("dim").alias("n_dims"),
        F.round(F.col("sv").cast("double"), 6).alias("total_variance"),
        F.round(
            F.col("sv").cast("double")
            * F.col("sv").cast("double")
            / F.col("sv2").cast("double"),
            4,
        ).alias("participation_ratio"),
        F.round(
            F.col("vmax").cast("double") / F.col("sv").cast("double"), 6
        ).alias("top_dim_share"),
    )


# --------------------------------------------------------------------------
# k-sample Anderson-Darling across all five event types
# --------------------------------------------------------------------------
_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "anderson_darling_k_sample",
    oracle="""
    WITH by_val AS (
        SELECT value,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c0,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                        END) AS BIGINT) AS c2,
               CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c3,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c4
        FROM events GROUP BY value
    ),
    cum AS (
        SELECT c0 + c1 + c2 + c3 + c4 AS h,
               SUM(c0) OVER w AS f0, SUM(c1) OVER w AS f1,
               SUM(c2) OVER w AS f2, SUM(c3) OVER w AS f3,
               SUM(c4) OVER w AS f4
        FROM by_val
        WINDOW w AS (ORDER BY value ROWS UNBOUNDED PRECEDING)
    ),
    tots AS (
        SELECT CAST(SUM(c0) AS BIGINT) AS n0,
               CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c2) AS BIGINT) AS n2,
               CAST(SUM(c3) AS BIGINT) AS n3,
               CAST(SUM(c4) AS BIGINT) AS n4,
               CAST(SUM(c0 + c1 + c2 + c3 + c4) AS BIGINT) AS n
        FROM by_val
    ),
    terms AS (
        SELECT
            CAST(round(c.h * (
                (t.n * c.f0 - t.n0 * hh.hc) * (t.n * c.f0 - t.n0 * hh.hc)
                    / (t.n0 * 1.0)
              + (t.n * c.f1 - t.n1 * hh.hc) * (t.n * c.f1 - t.n1 * hh.hc)
                    / (t.n1 * 1.0)
              + (t.n * c.f2 - t.n2 * hh.hc) * (t.n * c.f2 - t.n2 * hh.hc)
                    / (t.n2 * 1.0)
              + (t.n * c.f3 - t.n3 * hh.hc) * (t.n * c.f3 - t.n3 * hh.hc)
                    / (t.n3 * 1.0)
              + (t.n * c.f4 - t.n4 * hh.hc) * (t.n * c.f4 - t.n4 * hh.hc)
                    / (t.n4 * 1.0)
            ) / (hh.hc * 1.0 * (t.n - hh.hc)), 9) AS DECIMAL(38,9))
                AS term
        FROM (SELECT h, f0, f1, f2, f3, f4,
                     f0 + f1 + f2 + f3 + f4 AS hc FROM cum) c(h, f0, f1,
                     f2, f3, f4, hc),
             LATERAL (SELECT c.hc AS hc) hh,
             tots t
        WHERE hh.hc < t.n
    ),
    fold AS (SELECT SUM(term) AS sd FROM terms)
    SELECT t.n AS n_total, CAST(5 AS BIGINT) AS k_samples,
           round(CAST(f.sd AS DOUBLE) / t.n, 6) AS ad_a2kn,
           round(CAST(f.sd AS DOUBLE) / t.n / 4.0, 6) AS a2_per_dof
    FROM fold f, tots t
    """,
)
def anderson_darling_k_sample(spark, sf_dir):
    """k-sample Anderson-Darling (Scholz-Stephens 1987) across ALL
    FIVE event types at once: A²_kN = (1/N)·Σᵢ(1/nᵢ)·Σⱼ hⱼ·(N·Fᵢⱼ −
    nᵢ·Hⱼ)²/(Hⱼ(N−Hⱼ)) — the omnibus 'do these k groups share one
    value distribution' test, tail-weighted like its 2-sample sibling
    but answering in ONE test what 10 pairwise tests would (with 10x
    the false-positive budget). A²/(k−1) near 1 is the null's scale.

    The five per-sample cumulative counts ride ONE pass of the
    pooled-value ECDF device (pivoted to fixed type columns — the
    event-type domain is closed); every numerator is an exact integer
    and each distinct value contributes one 9-rounded term to the
    DECIMAL fold. Plan: one (value) rollup + bucket cumsums + fold
    (all five cumulatives AND all five totals come from one
    ``exact_cumulative`` pass — exact integers)."""
    e = t(spark, sf_dir, "events")
    aggs = [
        F.sum((F.col("event_type") == ty).cast("long")).alias(f"c{i}")
        for i, ty in enumerate(_TYPES)
    ]
    acc, _ = exact_cumulative(
        e.groupBy("value").agg(*aggs),
        ("value",),
        {f"f{i}": F.sum(f"c{i}") for i in range(5)},
    )
    cum = acc.select(
        sum(F.col(f"c{i}") for i in range(5)).alias("h"),
        *[F.col(f"cum_f{i}").alias(f"f{i}") for i in range(5)],
        *[
            F.col(f"tot_f{i}").cast("bigint").alias(f"n{i}")
            for i in range(5)
        ],
        sum(
            [F.col(f"tot_f{i}").cast("bigint") for i in range(5)],
            F.lit(0).cast("bigint"),
        ).alias("n"),
    )
    hc = sum(F.col(f"f{i}") for i in range(5))
    inner = sum(
        (F.col("n") * F.col(f"f{i}") - F.col(f"n{i}") * hc)
        * (F.col("n") * F.col(f"f{i}") - F.col(f"n{i}") * hc)
        / (F.col(f"n{i}") * 1.0)
        for i in range(5)
    )
    term = F.round(
        F.col("h") * inner / (hc * 1.0 * (F.col("n") - hc)), 9
    ).cast("decimal(38,9)")
    fold = (
        cum.where(hc < F.col("n"))
        .groupBy("n")
        .agg(F.sum(term).alias("sd"))
    )
    return fold.select(
        F.col("n").alias("n_total"),
        F.lit(5).cast("bigint").alias("k_samples"),
        F.round(F.col("sd").cast("double") / F.col("n"), 6).alias(
            "ad_a2kn"
        ),
        F.round(F.col("sd").cast("double") / F.col("n") / 4.0, 6).alias(
            "a2_per_dof"
        ),
    )


# --------------------------------------------------------------------------
# Seasonal Mann-Kendall trend test (within-weekday pairs)
# --------------------------------------------------------------------------
@register(
    "seasonal_mann_kendall",
    oracle=f"""
    WITH {_DAILY_SQL},
    dowed AS (
        SELECT d, (d + 4) % 7 AS dow, y FROM daily
    ),
    s AS (
        SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1
                             WHEN b.y < a.y THEN -1 ELSE 0 END)
                    AS BIGINT) AS s_stat,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM dowed a JOIN dowed b
          ON a.dow = b.dow AND b.d > a.d
    ),
    vv AS (
        SELECT CAST(SUM(nd * (nd - 1) * (2 * nd + 5)) AS BIGINT) AS v18
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS nd
              FROM dowed GROUP BY dow)
    )
    SELECT s.s_stat, s.n_pairs,
           round(v.v18 / 18.0, 2) AS var_s,
           round(CASE WHEN s.s_stat > 0
                      THEN (s.s_stat - 1) / sqrt(v.v18 / 18.0)
                      WHEN s.s_stat < 0
                      THEN (s.s_stat + 1) / sqrt(v.v18 / 18.0)
                      ELSE 0.0 END, 6) + 0.0 AS z_stat
    FROM s, vv v
    """,
)
def seasonal_mann_kendall(spark, sf_dir):
    """Seasonal Mann-Kendall trend test (Hirsch-Slack): the
    monotone-trend S statistic summed ONLY over same-weekday day
    pairs, so the weekly cycle can never masquerade as (or mask) a
    trend — the deseasonalized upgrade of the already-certified
    mann_kendall_trend, and the standard environmental-statistics
    device for cyclic series. Var(S) = Σ_season n(n−1)(2n+5)/18
    (no-ties form, documented; cents ties contribute sign 0), z with
    the ±1 continuity correction.

    S and the pair count are exact integers from one same-dow
    triangular join on the bounded day frame (pairs are a calendar
    constant); one sqrt at the end."""
    daily = _daily(spark, sf_dir)
    dowed = daily.select(
        "d", ((F.col("d") + 4) % 7).alias("dow"), "y"
    ).persist()
    b = dowed.select(
        F.col("dow"), F.col("d").alias("db"), F.col("y").alias("yb")
    )
    s = (
        dowed.join(b, "dow")
        .where(F.col("db") > F.col("d"))
        .agg(
            F.sum(
                F.when(F.col("yb") > F.col("y"), 1)
                .when(F.col("yb") < F.col("y"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        )
    )
    vv = (
        dowed.groupBy("dow")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
        .agg(
            F.sum(
                F.col("nd") * (F.col("nd") - 1) * (2 * F.col("nd") + 5)
            )
            .cast("bigint")
            .alias("v18")
        )
    )
    sd = F.sqrt(F.col("v18") / 18.0)
    return s.crossJoin(F.broadcast(vv)).select(
        "s_stat",
        "n_pairs",
        F.round(F.col("v18") / 18.0, 2).alias("var_s"),
        (
            F.round(
                F.when(
                    F.col("s_stat") > 0, (F.col("s_stat") - 1) / sd
                )
                .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / sd)
                .otherwise(F.lit(0.0)),
                6,
            )
            + 0.0
        ).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Held-out unigram cross-entropy (train on even docs, score odd docs)
# --------------------------------------------------------------------------
@register(
    "heldout_unigram_crossent",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    train AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks
        WHERE doc_id % 2 = 0 GROUP BY w
    ),
    trn AS (
        SELECT CAST(SUM(c) AS BIGINT) AS nt,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM train
    ),
    test AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks
        WHERE doc_id % 2 = 1 GROUP BY w
    ),
    scored AS (
        SELECT te.c,
               COALESCE(tr.c, 0) AS ctr,
               CASE WHEN tr.c IS NULL THEN te.c ELSE 0 END AS oov
        FROM test te LEFT JOIN train tr ON te.w = tr.w
    ),
    fold AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n_test,
               CAST(SUM(oov) AS BIGINT) AS n_oov,
               CAST(SUM(c * CAST(round(
                   ln((ctr + 1.0) / (t.nt + t.v + 1)), 12)
                   AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS ll
        FROM scored, trn t
        GROUP BY t.nt, t.v
    )
    SELECT t.nt AS n_train_tokens, t.v AS train_vocab,
           f.n_test AS n_test_tokens,
           round(f.n_oov / CAST(f.n_test AS DOUBLE), 6) AS oov_rate,
           round(-CAST(f.ll AS DOUBLE) / f.n_test, 6) AS crossent_nats,
           round(exp(-CAST(f.ll AS DOUBLE) / f.n_test), 4) AS perplexity
    FROM fold f, trn t
    """,
)
def heldout_unigram_crossent(spark, sf_dir):
    """HELD-OUT language-model evaluation: train an add-1-smoothed
    unigram LM on even-numbered documents, score the odd ones —
    cross-entropy and perplexity on data the model never saw (the
    in-sample perplexities of the LM tier flatter the model by
    construction; generalization is the number that matters for
    mixture weighting and quality gating). OOV tokens fall into the
    single add-1 UNK bucket p = 1/(N+V+1); the OOV rate is reported
    alongside so the two failure modes (sharp-but-narrow vs
    broad-but-flat) stay distinguishable.

    The deterministic doc_id parity split needs no RNG (the
    dataset_split_assign discipline); counts are exact; each distinct
    test term folds c·round(ln p, 12) into a DECIMAL sum. Plan:
    explode + two count rollups + one term-keyed left join."""
    d = t(spark, sf_dir, "documents")
    # r19: token-grain persist dropped (guide §5) — the two consumers
    # read DISJOINT doc_id-parity halves, so the cache was twice the
    # bytes either one needed; re-exploding a columnar scan is cheaper
    # at scale.
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    train = (
        toks.where(F.col("doc_id") % 2 == 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    trn = train.agg(
        F.sum("c").cast("bigint").alias("nt"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    test = (
        toks.where(F.col("doc_id") % 2 == 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tc"))
    )
    scored = test.join(
        train.withColumnRenamed("c", "ctr"), "w", "left"
    ).select(
        "tc",
        F.coalesce("ctr", F.lit(0)).alias("ctr"),
        F.when(F.col("ctr").isNull(), F.col("tc"))
        .otherwise(F.lit(0))
        .alias("oov"),
    )
    fold = (
        scored.crossJoin(F.broadcast(trn))
        .groupBy("nt", "v")
        .agg(
            F.sum("tc").cast("bigint").alias("n_test"),
            F.sum("oov").cast("bigint").alias("n_oov"),
            F.sum(
                F.col("tc")
                * F.round(
                    F.log(
                        (F.col("ctr") + 1.0)
                        / (F.col("nt") + F.col("v") + 1)
                    ),
                    12,
                ).cast("decimal(38,12)")
            )
            .cast("decimal(38,12)")
            .alias("ll"),
        )
    )
    h = -F.col("ll").cast("double") / F.col("n_test")
    return fold.select(
        F.col("nt").alias("n_train_tokens"),
        F.col("v").alias("train_vocab"),
        F.col("n_test").alias("n_test_tokens"),
        F.round(
            F.col("n_oov") / F.col("n_test").cast("double"), 6
        ).alias("oov_rate"),
        F.round(h, 6).alias("crossent_nats"),
        F.round(F.exp(h), 4).alias("perplexity"),
    )


# --------------------------------------------------------------------------
# Upper-tail dependence between daily volume and average order value
# --------------------------------------------------------------------------
@register(
    "upper_tail_dependence_daily",
    oracle="""
    WITH daily2 AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    thr AS (
        SELECT CAST(round(quantile_cont(c, 0.9), 6) AS DOUBLE) AS qc,
               CAST(round(quantile_cont(y * 1.0 / c, 0.9), 6) AS DOUBLE)
                   AS qa
        FROM daily2
    ),
    flags AS (
        SELECT CASE WHEN c > t.qc THEN 1 ELSE 0 END AS xc,
               CASE WHEN y * 1.0 / c > t.qa THEN 1 ELSE 0 END AS xa
        FROM daily2, thr t
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xc) AS BIGINT) AS nc,
               CAST(SUM(xa) AS BIGINT) AS na,
               CAST(SUM(xc * xa) AS BIGINT) AS nboth
        FROM flags
    )
    SELECT n AS n_days, nc AS n_hot_volume, na AS n_hot_value,
           nboth AS n_joint,
           round(nboth / CAST(nc AS DOUBLE), 6) AS lambda_upper,
           round(na / CAST(n AS DOUBLE), 6) AS independence_baseline,
           round(nboth * CAST(n AS DOUBLE) / (nc * CAST(na AS DOUBLE)),
                 6) AS lift
    FROM fold
    """,
)
def upper_tail_dependence_daily(spark, sf_dir):
    """Upper-tail dependence between daily order VOLUME and daily
    average order VALUE: λ̂_U = P(value in its top decile | volume in
    its top decile) against the independence baseline P(value hot) —
    the copula-tail question ('do extremes co-occur?') that
    correlation cannot answer (ρ is dominated by the middle of both
    distributions; joint-tail risk is what capacity planning and
    revenue-at-risk actually care about). Lift > 1 = hot days
    compound; < 1 = extremes repel (mix-shift).

    Thresholds are rounded interpolated percentiles broadcast to the
    day frame; every output numerator is an exact count. Plan: day
    rollup + scalar threshold frame + 1-row fold."""
    o = t(spark, sf_dir, "orders")
    daily2 = o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("y"),
    )
    thr = daily2.agg(
        F.round(F.expr("percentile(c, 0.9D)"), 6).alias("qc"),
        F.round(F.expr("percentile(y * 1.0D / c, 0.9D)"), 6).alias("qa"),
    )
    flags = daily2.crossJoin(F.broadcast(thr)).select(
        (F.col("c") > F.col("qc")).cast("long").alias("xc"),
        (F.col("y") * 1.0 / F.col("c") > F.col("qa"))
        .cast("long")
        .alias("xa"),
    )
    fold = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xc").cast("bigint").alias("nc"),
        F.sum("xa").cast("bigint").alias("na"),
        F.sum(F.col("xc") * F.col("xa")).cast("bigint").alias("nboth"),
    )
    return fold.select(
        F.col("n").alias("n_days"),
        F.col("nc").alias("n_hot_volume"),
        F.col("na").alias("n_hot_value"),
        F.col("nboth").alias("n_joint"),
        F.round(F.col("nboth") / F.col("nc").cast("double"), 6).alias(
            "lambda_upper"
        ),
        F.round(F.col("na") / F.col("n").cast("double"), 6).alias(
            "independence_baseline"
        ),
        F.round(
            F.col("nboth")
            * F.col("n").cast("double")
            / (F.col("nc") * F.col("na").cast("double")),
            6,
        ).alias("lift"),
    )


# --------------------------------------------------------------------------
# Month-over-month churn of the top-20 revenue parts (set stability)
# --------------------------------------------------------------------------
@register(
    "topk_churn_monthly",
    oracle="""
    WITH pm AS (
        SELECT CAST(EXTRACT(year FROM l_shipdate) * 12
                    + EXTRACT(month FROM l_shipdate) - 1 AS BIGINT) AS m,
               l_partkey AS pk,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS r
        FROM lineitem GROUP BY 1, 2
    ),
    topk AS (
        SELECT m, pk FROM (
            SELECT m, pk,
                   ROW_NUMBER() OVER (PARTITION BY m
                                      ORDER BY r DESC, pk) AS rk
            FROM pm
        ) WHERE rk <= 20
    ),
    inter AS (
        SELECT b.m,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM topk a JOIN topk b ON a.pk = b.pk AND b.m = a.m + 1
        GROUP BY b.m
    ),
    months AS (SELECT DISTINCT m FROM topk),
    pairs AS (
        SELECT mm.m FROM months mm JOIN months prev ON prev.m = mm.m - 1
    )
    SELECT CAST(p.m // 12 AS BIGINT) AS year,
           CAST(p.m % 12 + 1 AS BIGINT) AS month,
           COALESCE(i.n_common, 0) AS n_common,
           CAST(20 - COALESCE(i.n_common, 0) AS BIGINT) AS n_new,
           round(COALESCE(i.n_common, 0)
                 / CAST(40 - COALESCE(i.n_common, 0) AS DOUBLE), 6)
               AS jaccard
    FROM pairs p LEFT JOIN inter i ON p.m = i.m
    """,
)
def topk_churn_monthly(spark, sf_dir):
    """Top-k set stability: the month-over-month churn of the top-20
    revenue parts — Jaccard overlap between consecutive months' top
    sets and the count of new entrants. The leaderboard-stability view
    every 'top products' dashboard needs before anyone reads meaning
    into rank moves (high churn ⇒ the top-20 is noise-dominated at
    this grain), and the set-valued counterpart of
    rank_biased_overlap_parts (which compares two FIXED rankings —
    this tracks the set through time).

    Ranking is integer revenue cents with a partkey tiebreak
    (total order, month-partitioned window); overlap counts are
    exact; Jaccard = |∩|/(40−|∩|) divides once. Months with no
    predecessor are excluded; empty intersections still emit rows
    (LEFT join + COALESCE)."""
    li = t(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1)
        .cast("bigint")
        .alias("m"),
        F.col("l_partkey").alias("pk"),
    ).agg(
        F.sum((dec("l_extendedprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("r")
    )
    topk = (
        pm.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("m").orderBy(F.col("r").desc(), "pk")
            ),
        )
        .where(F.col("rk") <= 20)
        .select("m", "pk")
        .persist()
    )
    nxt = topk.select((F.col("m") - 1).alias("m"), F.col("pk"))
    inter = (
        topk.join(nxt, ["m", "pk"])
        .groupBy("m")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
        .select((F.col("m") + 1).alias("m"), "n_common")
    )
    months = topk.select("m").distinct()
    prev = months.select((F.col("m") + 1).alias("m"))
    pairs = months.join(prev, "m")
    res = pairs.join(inter, "m", "left").select(
        (F.col("m") / 12).cast("bigint").alias("year"),
        (F.col("m") % 12 + 1).cast("bigint").alias("month"),
        F.coalesce("n_common", F.lit(0)).cast("bigint").alias("n_common"),
        (20 - F.coalesce("n_common", F.lit(0)))
        .cast("bigint")
        .alias("n_new"),
        F.round(
            F.coalesce("n_common", F.lit(0))
            / (40 - F.coalesce("n_common", F.lit(0))).cast("double"),
            6,
        ).alias("jaccard"),
    )
    return res


# --------------------------------------------------------------------------
# Chao1 unseen-vocabulary richness estimator per source
# --------------------------------------------------------------------------
@register(
    "chao1_vocabulary_estimate",
    oracle=f"""
    WITH {_SRC_TERMS_SQL}
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS observed_vocab,
           CAST(SUM(CASE WHEN s.c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS f1,
           CAST(SUM(CASE WHEN s.c = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS f2,
           round(COUNT(*)
                 + SUM(CASE WHEN s.c = 1 THEN 1 ELSE 0 END)
                   * CAST(SUM(CASE WHEN s.c = 1 THEN 1 ELSE 0 END)
                          - 1 AS DOUBLE)
                   / (2.0 * (SUM(CASE WHEN s.c = 2 THEN 1 ELSE 0 END)
                             + 1)), 4) AS chao1_estimate,
           round((COUNT(*)
                  + SUM(CASE WHEN s.c = 1 THEN 1 ELSE 0 END)
                    * CAST(SUM(CASE WHEN s.c = 1 THEN 1 ELSE 0 END)
                           - 1 AS DOUBLE)
                    / (2.0 * (SUM(CASE WHEN s.c = 2 THEN 1 ELSE 0 END)
                              + 1)))
                 / COUNT(*), 4) AS coverage_deficit_ratio
    FROM st s
    GROUP BY s.source
    """,
)
def chao1_vocabulary_estimate(spark, sf_dir):
    """Chao1 richness estimator per source: how many vocabulary types
    does the source REALLY have, including the ones not yet sampled?
    Ŝ = V + f₁(f₁−1)/(2(f₂+1)) (bias-corrected form — defined even at
    f₂ = 0) from the singleton/doubleton counts — the ecology
    species-richness estimator that corpus work re-uses to decide
    whether more crawling will keep finding new vocabulary
    (deficit ratio ≈ 1 means the source is exhausted; ≫ 1 means the
    crawl has barely scratched it). Complements good_turing_vocab
    (probability mass of the unseen) with the COUNT of the unseen.

    f₁/f₂/V are exact integers off the (source, term) rollup; the
    estimator is one final expression. Plan: one hash agg."""
    st = _src_terms(spark, sf_dir)
    f1 = F.sum((F.col("c") == 1).cast("long")).cast("bigint")
    f2 = F.sum((F.col("c") == 2).cast("long")).cast("bigint")
    v = F.count(F.lit(1)).cast("bigint")
    chao1 = v + f1 * (f1 - 1).cast("double") / (2.0 * (f2 + 1))
    return st.groupBy("source").agg(
        v.alias("observed_vocab"),
        f1.alias("f1"),
        f2.alias("f2"),
        F.round(chao1, 4).alias("chao1_estimate"),
        F.round(chao1 / v, 4).alias("coverage_deficit_ratio"),
    )


# --------------------------------------------------------------------------
# Proportional reporting ratio: error-event signal by weekday
# --------------------------------------------------------------------------
@register(
    "prr_error_by_weekday",
    oracle="""
    WITH cell AS (
        SELECT CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT)
                   AS dow,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(a) AS BIGINT) AS ta,
               CAST(SUM(n) AS BIGINT) AS tn
        FROM cell
    )
    SELECT c.dow,
           c.a AS n_errors, c.n AS n_events,
           round((c.a * 1.0 / c.n)
                 / ((t.ta - c.a) * 1.0 / (t.tn - c.n)), 6) AS prr,
           round(ln((c.a * 1.0 / c.n)
                    / ((t.ta - c.a) * 1.0 / (t.tn - c.n)))
                 / sqrt(1.0 / c.a - 1.0 / c.n
                        + 1.0 / (t.ta - c.a) - 1.0 / (t.tn - c.n)),
                 6) + 0.0 AS z_log_prr,
           CASE WHEN (c.a * 1.0 / c.n)
                     / ((t.ta - c.a) * 1.0 / (t.tn - c.n)) > 2.0
                 AND c.a >= 3 THEN 1 ELSE 0 END AS signal_flag
    FROM cell c, tot t
    """,
)
def prr_error_by_weekday(spark, sf_dir):
    """Proportional reporting ratio (PRR) for error events by
    weekday: for each day-of-week, the error share THERE vs the error
    share everywhere ELSE — the pharmacovigilance signal-detection
    statistic (Evans 2001) repurposed for operational anomaly
    screening, with the classic decision rule PRR > 2 with ≥3 cases.
    Unlike the chi-squared panel (which says 'the table is not
    independent'), PRR localizes WHICH cell is hot, with a log-scale
    z per cell.

    All cell and complement counts are exact integers; PRR and its z
    are one final expression per weekday row. Plan: one 7-cell
    rollup + broadcast totals."""
    e = t(spark, sf_dir, "events")
    cell = e.groupBy(
        ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7)
        .cast("bigint")
        .alias("dow"),
    ).agg(
        F.sum((F.col("event_type") == "error").cast("long"))
        .cast("bigint")
        .alias("a"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    tot = cell.agg(
        F.sum("a").cast("bigint").alias("ta"),
        F.sum("n").cast("bigint").alias("tn"),
    )
    a, n = F.col("a"), F.col("n")
    ta, tn = F.col("ta"), F.col("tn")
    prr = (a * 1.0 / n) / ((ta - a) * 1.0 / (tn - n))
    se = F.sqrt(
        1.0 / a - 1.0 / n + 1.0 / (ta - a) - 1.0 / (tn - n)
    )
    return cell.crossJoin(F.broadcast(tot)).select(
        "dow",
        a.alias("n_errors"),
        n.alias("n_events"),
        F.round(prr, 6).alias("prr"),
        (F.round(F.log(prr) / se, 6) + 0.0).alias("z_log_prr"),
        F.when((prr > 2.0) & (a >= 3), 1).otherwise(0).alias(
            "signal_flag"
        ),
    )


# --------------------------------------------------------------------------
# Split-half reliability of per-user value (Spearman-Brown corrected)
# --------------------------------------------------------------------------
@register(
    "split_half_reliability_users",
    oracle="""
    WITH halves AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN epoch_us(ts) // 86400000000 % 2 = 0
                        THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                  AS BIGINT) ELSE 0 END) AS BIGINT) AS xe,
               CAST(SUM(CASE WHEN epoch_us(ts) // 86400000000 % 2 = 1
                        THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                  AS BIGINT) ELSE 0 END) AS BIGINT) AS xo
        FROM events GROUP BY user_id
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xe) AS BIGINT) AS se,
               CAST(SUM(xo) AS BIGINT) AS so,
               CAST(SUM(CAST(xe AS DECIMAL(38,0)) * xe) AS DECIMAL(38,0))
                   AS qee,
               CAST(SUM(CAST(xo AS DECIMAL(38,0)) * xo) AS DECIMAL(38,0))
                   AS qoo,
               CAST(SUM(CAST(xe AS DECIMAL(38,0)) * xo) AS DECIMAL(38,0))
                   AS qeo
        FROM halves
    ),
    r AS (
        SELECT n,
               (n * CAST(qeo AS DOUBLE) - CAST(se AS DOUBLE) * so)
               / (sqrt(n * CAST(qee AS DOUBLE) - CAST(se AS DOUBLE) * se)
                  * sqrt(n * CAST(qoo AS DOUBLE)
                         - CAST(so AS DOUBLE) * so)) AS rh
        FROM mom
    )
    SELECT n AS n_users,
           round(rh, 6) + 0.0 AS split_half_r,
           round(2.0 * rh / (1.0 + rh), 6) + 0.0 AS spearman_brown
    FROM r
    """,
)
def split_half_reliability_users(spark, sf_dir):
    """Split-half reliability of per-user total value: split each
    user's events by even/odd calendar day, correlate the two half
    totals across users, and apply the Spearman-Brown prophecy
    r_full = 2r/(1+r) — psychometrics' internal-consistency device
    answering a data question every per-user metric needs answered
    first: is 'user value' a stable USER property or mostly sampling
    noise? (r_SB near 0 means segmenting users on this metric is
    segmentation on noise.) The two-administration sibling of
    cronbachs_alpha_dow.

    The day-parity split is deterministic; half totals are exact
    cents; the Pearson r comes from exact DECIMAL power sums with
    the sqrt pair applied in the same order. Plan: one user rollup +
    one scalar fold."""
    e = t(spark, sf_dir, "events")
    even = (
        F.floor(F.unix_micros("ts") / 86_400_000_000) % 2 == 0
    )
    cents = (dec("value", 18, 2) * 100).cast("bigint")
    halves = e.groupBy("user_id").agg(
        F.sum(F.when(even, cents).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("xe"),
        F.sum(F.when(~even, cents).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("xo"),
    )
    mom = halves.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xe").cast("bigint").alias("se"),
        F.sum("xo").cast("bigint").alias("so"),
        F.sum(F.col("xe").cast("decimal(38,0)") * F.col("xe"))
        .cast("decimal(38,0)")
        .alias("qee"),
        F.sum(F.col("xo").cast("decimal(38,0)") * F.col("xo"))
        .cast("decimal(38,0)")
        .alias("qoo"),
        F.sum(F.col("xe").cast("decimal(38,0)") * F.col("xo"))
        .cast("decimal(38,0)")
        .alias("qeo"),
    )
    n = F.col("n")
    rh = (
        n * F.col("qeo").cast("double")
        - F.col("se").cast("double") * F.col("so")
    ) / (
        F.sqrt(
            n * F.col("qee").cast("double")
            - F.col("se").cast("double") * F.col("se")
        )
        * F.sqrt(
            n * F.col("qoo").cast("double")
            - F.col("so").cast("double") * F.col("so")
        )
    )
    return mom.select(
        n.alias("n_users"),
        (F.round(rh, 6) + 0.0).alias("split_half_r"),
        (F.round(2.0 * rh / (1.0 + rh), 6) + 0.0).alias(
            "spearman_brown"
        ),
    )


# --------------------------------------------------------------------------
# Cramér's V association matrix across categorical order dimensions
# --------------------------------------------------------------------------
@register(
    "categorical_association_matrix",
    oracle="""
    WITH base AS (
        SELECT o_orderpriority AS prio, o_orderstatus AS status,
               CAST(EXTRACT(month FROM o_orderdate) AS VARCHAR) AS mon,
               CAST((epoch_us(o_orderdate) // 86400000000 + 4) % 7
                    AS VARCHAR) AS dow
        FROM orders
    ),
    pairs AS (
        SELECT 'priority_x_status' AS pair, prio AS a, status AS b
        FROM base
        UNION ALL
        SELECT 'priority_x_month', prio, mon FROM base
        UNION ALL
        SELECT 'priority_x_dow', prio, dow FROM base
        UNION ALL
        SELECT 'status_x_month', status, mon FROM base
        UNION ALL
        SELECT 'status_x_dow', status, dow FROM base
        UNION ALL
        SELECT 'month_x_dow', mon, dow FROM base
    ),
    obs AS (
        SELECT pair, a, b, CAST(COUNT(*) AS BIGINT) AS o
        FROM pairs GROUP BY 1, 2, 3
    ),
    marg AS (
        SELECT o.pair, o.a, o.b, o.o, ra.rt, cb.ct, t.n, t.r, t.c
        FROM obs o
        JOIN (SELECT pair, a, CAST(SUM(o) AS BIGINT) AS rt
              FROM obs GROUP BY 1, 2) ra
          ON o.pair = ra.pair AND o.a = ra.a
        JOIN (SELECT pair, b, CAST(SUM(o) AS BIGINT) AS ct
              FROM obs GROUP BY 1, 2) cb
          ON o.pair = cb.pair AND o.b = cb.b
        JOIN (SELECT pair, CAST(SUM(o) AS BIGINT) AS n,
                     CAST(COUNT(DISTINCT a) AS BIGINT) AS r,
                     CAST(COUNT(DISTINCT b) AS BIGINT) AS c
              FROM obs GROUP BY 1) t
          ON o.pair = t.pair
    )
    SELECT pair,
           MAX(r) AS r_levels, MAX(c) AS c_levels,
           round(SUM((o - rt * ct / CAST(n AS DOUBLE))
                     * (o - rt * ct / CAST(n AS DOUBLE))
                     / (rt * ct / CAST(n AS DOUBLE))), 4) AS chi2,
           round(sqrt(SUM((o - rt * ct / CAST(n AS DOUBLE))
                          * (o - rt * ct / CAST(n AS DOUBLE))
                          / (rt * ct / CAST(n AS DOUBLE)))
                      / (MAX(n) * (LEAST(MAX(r), MAX(c)) - 1))), 6)
               AS cramers_v
    FROM marg GROUP BY pair
    """,
)
def categorical_association_matrix(spark, sf_dir):
    """Cramér's V association matrix over every pair of categorical
    order dimensions (priority, status, month, weekday) — the
    categorical EDA screen (the 'dython association heatmap'): which
    nominal columns carry redundant information, which are candidate
    stratification keys, which are independent. One query emits all
    six pairwise χ²/V rows, where chi2_independence_type_dow
    certifies a single pair in depth.

    Each pair's contingency cells/marginals are exact integers (one
    long-form union over the fact scan → one rollup per pair); χ²
    and V are per-pair final folds over ≤ r·c cells. Plan: 6-way
    long-form union + three hash aggs, all on the pair x level
    domain."""
    o = t(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderstatus").alias("status"),
        F.month("o_orderdate").cast("string").alias("mon"),
        ((F.floor(F.unix_micros("o_orderdate") / 86_400_000_000) + 4) % 7)
        .cast("string")
        .alias("dow"),
    )
    combos = (
        ("priority_x_status", "prio", "status"),
        ("priority_x_month", "prio", "mon"),
        ("priority_x_dow", "prio", "dow"),
        ("status_x_month", "status", "mon"),
        ("status_x_dow", "status", "dow"),
        ("month_x_dow", "mon", "dow"),
    )
    pairs = None
    for name, ca, cb in combos:
        p = base.select(
            F.lit(name).alias("pair"),
            F.col(ca).alias("a"),
            F.col(cb).alias("b"),
        )
        pairs = p if pairs is None else pairs.unionAll(p)
    obs = pairs.groupBy("pair", "a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    ).persist()
    ra = obs.groupBy("pair", "a").agg(
        F.sum("o").cast("bigint").alias("rt")
    )
    cb_ = obs.groupBy("pair", "b").agg(
        F.sum("o").cast("bigint").alias("ct")
    )
    tt = obs.groupBy("pair").agg(
        F.sum("o").cast("bigint").alias("n"),
        F.countDistinct("a").cast("bigint").alias("r"),
        F.countDistinct("b").cast("bigint").alias("c"),
    )
    marg = (
        obs.join(ra, ["pair", "a"])
        .join(cb_, ["pair", "b"])
        .join(F.broadcast(tt), "pair")
    )
    expected = F.col("rt") * F.col("ct") / F.col("n").cast("double")
    chi2 = F.sum(
        (F.col("o") - expected) * (F.col("o") - expected) / expected
    )
    return marg.groupBy("pair").agg(
        F.max("r").alias("r_levels"),
        F.max("c").alias("c_levels"),
        F.round(chi2, 4).alias("chi2"),
        F.round(
            F.sqrt(
                chi2
                / (
                    F.max("n")
                    * (F.least(F.max("r"), F.max("c")) - 1)
                )
            ),
            6,
        ).alias("cramers_v"),
    )



# --------------------------------------------------------------------------
# Exponential retention half-life per acquisition cohort
# --------------------------------------------------------------------------
@register(
    "retention_half_life_cohorts",
    oracle="""
    WITH om AS (
        SELECT o_custkey AS ck,
               CAST(EXTRACT(year FROM o_orderdate) * 12
                    + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS m
        FROM orders
    ),
    first_m AS (
        SELECT ck, CAST(MIN(m) AS BIGINT) AS cohort FROM om GROUP BY ck
    ),
    span AS (SELECT CAST(MAX(m) AS BIGINT) AS mx FROM om),
    act AS (
        SELECT f.cohort, o.m - f.cohort AS k,
               CAST(COUNT(DISTINCT o.ck) AS BIGINT) AS active
        FROM om o JOIN first_m f ON o.ck = f.ck
        WHERE o.m - f.cohort BETWEEN 0 AND 6
        GROUP BY 1, 2
    ),
    base AS (
        SELECT cohort, active AS n0 FROM act WHERE k = 0
    ),
    pts AS (
        SELECT a.cohort, a.k,
               CAST(round(ln(a.active * 1.0 / b.n0), 9)
                    AS DECIMAL(18,9)) AS lr
        FROM act a
        JOIN base b ON a.cohort = b.cohort
        JOIN span s ON a.cohort + 6 <= s.mx
        WHERE a.k >= 1
    ),
    fit AS (
        SELECT cohort,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(k) AS BIGINT) AS sx,
               CAST(SUM(k * k) AS BIGINT) AS sxx,
               CAST(SUM(lr) AS DECIMAL(38,9)) AS sy,
               CAST(SUM(k * lr) AS DECIMAL(38,9)) AS sxy
        FROM pts GROUP BY cohort
        HAVING COUNT(*) >= 3
    ),
    sl AS (
        SELECT f.cohort, b.n0, f.n,
               (f.n * CAST(f.sxy AS DOUBLE) - f.sx * CAST(f.sy AS DOUBLE))
               / (f.n * CAST(f.sxx AS DOUBLE)
                  - CAST(f.sx AS DOUBLE) * f.sx) AS slope
        FROM fit f JOIN base b ON f.cohort = b.cohort
    )
    SELECT CAST(cohort // 12 AS BIGINT) AS cohort_year,
           CAST(cohort % 12 + 1 AS BIGINT) AS cohort_month,
           n0 AS cohort_size, n AS n_points,
           round(slope, 6) + 0.0 AS decay_slope,
           CASE WHEN round(slope, 6) < 0
                THEN round(-ln(2.0) / round(slope, 6), 2)
           END AS half_life_months
    FROM sl
    """,
)
def retention_half_life_cohorts(spark, sf_dir):
    """Exponential retention half-life per acquisition cohort: fit
    ln(retention_k) = a + b·k over month offsets 1–6 (cohorts with a
    full 6-month runway only) and convert the decay slope to a
    half-life −ln2/b — the single number that makes cohorts
    COMPARABLE across acquisition channels and vintages (raw
    retention matrices don't rank; half-lives do). Cohort-level
    sibling of retention_powerlaw_fit (corpus-wide, power-law): the
    exponential-vs-power contrast across the two is itself the churn
    regime diagnostic.

    ln-retention points round to 9 then fold exactly in the
    closed-form OLS; slope divides once; positive-slope cohorts emit
    NULL half-life in both engines. Plan: month rollup → cohort
    grid (bounded) → per-cohort fold."""
    o = t(spark, sf_dir, "orders")
    om = o.select(
        F.col("o_custkey").alias("ck"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("bigint")
        .alias("m"),
    )
    first_m = om.groupBy("ck").agg(
        F.min("m").cast("bigint").alias("cohort")
    )
    span = om.agg(F.max("m").cast("bigint").alias("mx"))
    act = (
        om.join(first_m, "ck")
        .where((F.col("m") - F.col("cohort")).between(0, 6))
        .groupBy("cohort", (F.col("m") - F.col("cohort")).alias("k"))
        .agg(F.countDistinct("ck").cast("bigint").alias("active"))
        .persist()
    )
    base = act.where(F.col("k") == 0).select(
        "cohort", F.col("active").alias("n0")
    )
    pts = (
        act.where(F.col("k") >= 1)
        .join(F.broadcast(base), "cohort")
        .crossJoin(F.broadcast(span))
        .where(F.col("cohort") + 6 <= F.col("mx"))
        .select(
            "cohort",
            "k",
            F.round(
                F.log(F.col("active") * 1.0 / F.col("n0")), 9
            )
            .cast("decimal(18,9)")
            .alias("lr"),
        )
    )
    fit = (
        pts.groupBy("cohort")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("k").cast("bigint").alias("sx"),
            F.sum(F.col("k") * F.col("k")).cast("bigint").alias("sxx"),
            F.sum("lr").cast("decimal(38,9)").alias("sy"),
            F.sum(F.col("k") * F.col("lr"))
            .cast("decimal(38,9)")
            .alias("sxy"),
        )
        .where(F.col("n") >= 3)
    )
    slope = (
        F.col("n") * F.col("sxy").cast("double")
        - F.col("sx") * F.col("sy").cast("double")
    ) / (
        F.col("n") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx")
    )
    sl = fit.join(F.broadcast(base), "cohort").select(
        "cohort", "n0", "n", slope.alias("slope")
    )
    return sl.select(
        (F.col("cohort") / 12).cast("bigint").alias("cohort_year"),
        (F.col("cohort") % 12 + 1).cast("bigint").alias("cohort_month"),
        F.col("n0").alias("cohort_size"),
        F.col("n").alias("n_points"),
        (F.round(F.col("slope"), 6) + 0.0).alias("decay_slope"),
        # half-life from the ROUNDED slope: the raw slope near 0 is
        # engine-noise-scaled and its reciprocal diverges (caught by
        # the sf0.001 mirror); the rounded slope is bit-identical
        F.when(
            F.round(F.col("slope"), 6) < 0,
            F.round(
                -F.log(F.lit(2.0)) / F.round(F.col("slope"), 6), 2
            ),
        ).alias("half_life_months"),
    )

