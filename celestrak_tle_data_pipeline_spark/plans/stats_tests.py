"""Hypothesis tests as distributed aggregations — the statistical
testing tier (chi-squared independence, Mann-Whitney U): the checks an
experimentation or data-drift pipeline runs at warehouse scale, each a
handful of exact integer rollups plus one final float expression.

Determinism discipline (plans/__init__ contract): observed counts and
rank sums are exact integers (average ranks carried as 2x-scaled
integers so ties stay rational); only the final statistic is floating
point, computed in the same operation order in both engines and
rounded.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from . import register
from .common import DECILE_LEVELS, dec, exact_cumulative, t


# --------------------------------------------------------------------------
# chi-squared test of independence (event_type x day-of-week)
# --------------------------------------------------------------------------
@register(
    "chi2_independence_type_dow",
    oracle="""
    WITH obs AS (
        SELECT event_type,
               CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS INT) AS dow,
               COUNT(*) AS o
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, dow, o,
               SUM(o) OVER (PARTITION BY event_type) AS row_t,
               SUM(o) OVER (PARTITION BY dow) AS col_t,
               SUM(o) OVER () AS n
        FROM obs
    )
    SELECT CAST(SUM(o) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(COUNT(DISTINCT dow) AS BIGINT) AS n_dow,
           CAST((COUNT(DISTINCT event_type) - 1)
                * (COUNT(DISTINCT dow) - 1) AS BIGINT) AS dof,
           round(SUM(
               (o - row_t * col_t / CAST(n AS DOUBLE))
               * (o - row_t * col_t / CAST(n AS DOUBLE))
               / (row_t * col_t / CAST(n AS DOUBLE))
           ), 6) AS chi2,
           round(sqrt(SUM(
               (o - row_t * col_t / CAST(n AS DOUBLE))
               * (o - row_t * col_t / CAST(n AS DOUBLE))
               / (row_t * col_t / CAST(n AS DOUBLE))
           ) / (MAX(n) * (LEAST(COUNT(DISTINCT event_type),
                                COUNT(DISTINCT dow)) - 1))), 9)
               AS cramers_v
    FROM tot
    """,
)
def chi2_independence_type_dow(spark, sf_dir):
    """Pearson chi-squared test of independence between event type and
    day-of-week — the contingency-table drift test every
    experimentation pipeline runs ("did behavior mix shift across
    days?"): observed cell counts vs expected = row·col/N, χ² =
    Σ(o−e)²/e with (r−1)(c−1) degrees of freedom. A χ² far above dof
    rejects independence (the judge of whether dow is a legitimate
    stratification key for the mixture plans).

    Observed counts, marginals, and dof are exact integers (dow from
    the epoch-µs day number, Thursday-anchored ⇒ locale-free and
    identical in both engines); expected values and the χ² sum are the
    only float arithmetic, summed over ≤ r·c cells and rounded to 6.
    Plan: one (type, dow) rollup; marginals ride windows over the
    ≤ r·c cell frame — raw events shuffle once."""
    e = t(spark, sf_dir, "events")
    dow = (
        (F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7
    ).cast("int")
    obs = e.groupBy(
        "event_type", dow.alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    tot = (
        obs.withColumn(
            "row_t", F.sum("o").over(Window.partitionBy("event_type"))
        )
        .withColumn("col_t", F.sum("o").over(Window.partitionBy("dow")))
        .withColumn("n", F.sum("o").over(Window.partitionBy()))
    )
    expected = F.col("row_t") * F.col("col_t") / F.col("n").cast("double")
    return tot.agg(
        F.sum("o").cast("bigint").alias("n_events"),
        F.countDistinct("event_type").cast("bigint").alias("n_types"),
        F.countDistinct("dow").cast("bigint").alias("n_dow"),
        (
            (F.countDistinct("event_type") - 1) * (F.countDistinct("dow") - 1)
        )
        .cast("bigint")
        .alias("dof"),
        F.round(
            F.sum(
                (F.col("o") - expected) * (F.col("o") - expected) / expected
            ),
            6,
        ).alias("chi2"),
        # Cramér's V effect size: sqrt(chi2 / (N * (min(r,c) - 1))) —
        # the [0,1]-normalized association strength dof can't give
        F.round(
            F.sqrt(
                F.sum(
                    (F.col("o") - expected)
                    * (F.col("o") - expected)
                    / expected
                )
                / (
                    F.max("n")
                    * (
                        F.least(
                            F.countDistinct("event_type"),
                            F.countDistinct("dow"),
                        )
                        - 1
                    )
                )
            ),
            9,
        ).alias("cramers_v"),
    )


# --------------------------------------------------------------------------
# Mann-Whitney U rank-sum test (click vs purchase values)
# --------------------------------------------------------------------------
@register(
    "mann_whitney_u_values",
    oracle="""
    WITH pool AS (
        SELECT value, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    ranked AS (
        -- average rank carried as an exact 2x-scaled integer:
        -- 2*avg_rank = min_rank + max_rank over the tie group
        SELECT g1,
               CAST(RANK() OVER (ORDER BY value) AS BIGINT) * 2
               + CAST(COUNT(*) OVER (PARTITION BY value) AS BIGINT) - 1
                   AS rank2
        FROM pool
    ),
    sums AS (
        SELECT CAST(SUM(CASE WHEN g1 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
               CAST(SUM(CASE WHEN g1 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n2,
               CAST(SUM(CASE WHEN g1 = 1 THEN rank2 ELSE 0 END) AS BIGINT)
                   AS r1_2
        FROM ranked
    )
    SELECT n1, n2,
           CAST(r1_2 - n1 * (n1 + 1) AS BIGINT) AS u1_2,
           CAST(2 * n1 * n2 - (r1_2 - n1 * (n1 + 1)) AS BIGINT) AS u2_2,
           round((r1_2 - n1 * (n1 + 1)) / 2.0
                 - n1 * n2 / 2.0, 6) AS u_minus_mean,
           round((r1_2 - n1 * (n1 + 1))
                 / CAST(n1 * n2 AS DOUBLE) - 1.0, 9) + 0.0
               AS cliffs_delta
    FROM sums
    """,
)
def mann_whitney_u_values(spark, sf_dir):
    """Mann-Whitney U rank-sum test: do click values and purchase
    values come from the same distribution? — the nonparametric
    two-sample test (no normality assumption, robust to outliers) that
    drift monitoring uses where a t-test would lie. U₁ = R₁ −
    n₁(n₁+1)/2 with AVERAGE ranks on ties; U₁ + U₂ = n₁n₂ is emitted
    as the built-in self-check (both U values derive from one rank
    sum, so the identity holds by construction in any engine).

    Exactness: average ranks are rationals with denominator 2, carried
    as 2x-scaled integers (2·avg_rank = min_rank + max_rank of the tie
    group, via RANK() + tie-count − 1), so every rank sum and both U
    statistics are EXACT integers at any partitioning — only the final
    centered statistic divides.

    Plan — global ranking WITHOUT a single-partition sort: the pool
    ranks inside value buckets (``exact_cumulative``; equal values
    share a bucket, so tie groups never split) and each bucket's rank
    offset is the broadcast count of every earlier bucket;
    global_rank = local_rank + offset exactly. The final rank sums
    are one summary aggregation."""
    e = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    pool, w = exact_cumulative(
        e.select(
            "value",
            (F.col("event_type") == "click").cast("int").alias("g1"),
        ),
        ("value",),
        {"n": F.count(F.lit(1))},
    )
    rank2 = (
        (F.rank().over(w).cast("bigint") + F.col("off_n")) * 2
        + F.count(F.lit(1))
        .over(Window.partitionBy("pid", "value"))
        .cast("bigint")
        - 1
    )
    ranked = pool.select("g1", rank2.alias("rank2"))
    sums = ranked.agg(
        F.sum(F.when(F.col("g1") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("g1") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
        F.sum(F.when(F.col("g1") == 1, F.col("rank2")).otherwise(0))
        .cast("bigint")
        .alias("r1_2"),
    )
    u1_2 = F.col("r1_2") - F.col("n1") * (F.col("n1") + 1)
    return sums.select(
        "n1",
        "n2",
        u1_2.cast("bigint").alias("u1_2"),
        (2 * F.col("n1") * F.col("n2") - u1_2).cast("bigint").alias("u2_2"),
        F.round(
            u1_2 / 2.0 - F.col("n1") * F.col("n2") / 2.0, 6
        ).alias("u_minus_mean"),
        # Cliff's delta effect size = 2U1/(n1*n2) - 1 (u1_2 is 2*U1);
        # + 0.0 normalizes IEEE -0 when the groups are balanced
        (
            F.round(
                u1_2 / (F.col("n1") * F.col("n2")).cast("double") - 1.0, 9
            )
            + 0.0
        ).alias("cliffs_delta"),
    )


# --------------------------------------------------------------------------
# Kolmogorov-Smirnov two-sample test (exact integer D)
# --------------------------------------------------------------------------
@register(
    "ks_two_sample_values",
    oracle="""
    WITH pool AS (
        SELECT value, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    tots AS (
        SELECT CAST(SUM(g1) AS BIGINT) AS n1,
               CAST(SUM(1 - g1) AS BIGINT) AS n2
        FROM pool
    ),
    by_val AS (
        SELECT value, SUM(g1) AS c1, SUM(1 - g1) AS c2
        FROM pool GROUP BY value
    ),
    cum AS (
        SELECT SUM(c1) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)
                   AS cum1,
               SUM(c2) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)
                   AS cum2
        FROM by_val
    )
    SELECT t.n1, t.n2,
           CAST(MAX(ABS(c.cum1 * t.n2 - c.cum2 * t.n1)) AS BIGINT)
               AS d_scaled,
           round(MAX(ABS(c.cum1 * t.n2 - c.cum2 * t.n1))
                 / CAST(t.n1 * t.n2 AS DOUBLE), 9) AS d_stat
    FROM cum c, tots t
    GROUP BY t.n1, t.n2
    """,
)
def ks_two_sample_values(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov test (click vs purchase values):
    D = max |F₁(x) − F₂(x)|, the distribution-drift statistic that
    sees SHAPE differences the rank-sum test is blind to (a variance
    shift with equal medians moves D, not U). The CDF gap is kept
    EXACT by cross-multiplication — max |cum₁·n₂ − cum₂·n₁| is pure
    integer arithmetic; D divides once at the end (the exact-rational
    discipline of the MWU ranks, applied to CDFs).

    Plan — same single-partition-free shape as mann_whitney_u_values:
    the per-value group counts accumulate inside value buckets plus
    broadcast per-bucket offsets (``exact_cumulative``), which also
    carries the group totals, and the max gap is one summary
    aggregation. Value-grain rows (not events) flow through the
    windows."""
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
    cum = acc.select(
        F.col("cum_f1").alias("cum1"),
        F.col("cum_f2").alias("cum2"),
        F.col("tot_f1").cast("bigint").alias("n1"),
        F.col("tot_f2").cast("bigint").alias("n2"),
    )
    gap = F.abs(
        F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")
    )
    return (
        cum.groupBy("n1", "n2")
        .agg(
            F.max(gap).cast("bigint").alias("d_scaled"),
            F.round(
                F.max(gap) / (F.col("n1") * F.col("n2")).cast("double"), 9
            ).alias("d_stat"),
        )
    )


# --------------------------------------------------------------------------
# A/B experiment readout (hash assignment -> Welch t + Wilson interval)
# --------------------------------------------------------------------------
@register(
    "ab_experiment_readout",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               (user_id * 2654435761) % 4294967296 % 2 AS arm,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS tv,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id
    ),
    arms AS (
        SELECT arm,
               COUNT(*) AS n,
               CAST(SUM(CAST(tv AS DECIMAL(28,9))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(tv AS DECIMAL(28,9))
                        * CAST(tv AS DECIMAL(28,9))) AS DOUBLE) AS sxx,
               SUM(converted) AS conv
        FROM per_user GROUP BY arm
    ),
    stats AS (
        SELECT arm, n, conv,
               sx / n AS mean_v,
               (n * sxx - sx * sx) / (n * (n - 1.0)) AS var_v,
               conv / CAST(n AS DOUBLE) AS p
        FROM arms
    ),
    welch AS (
        SELECT (MAX(CASE WHEN arm = 0 THEN mean_v END)
                - MAX(CASE WHEN arm = 1 THEN mean_v END))
               / sqrt(MAX(CASE WHEN arm = 0 THEN var_v / n END)
                      + MAX(CASE WHEN arm = 1 THEN var_v / n END)) AS t
        FROM stats
    )
    SELECT CAST(arm AS BIGINT) AS arm,
           CAST(n AS BIGINT) AS n_users,
           round(mean_v, 6) AS mean_value,
           round(p, 9) AS conversion,
           round((p + 1.9208 / n
                  - 1.96 * sqrt(p * (1 - p) / n + 0.9604 / (n * n)))
                 / (1 + 3.8416 / n), 9) AS wilson_lo,
           round((p + 1.9208 / n
                  + 1.96 * sqrt(p * (1 - p) / n + 0.9604 / (n * n)))
                 / (1 + 3.8416 / n), 9) AS wilson_hi,
           round((SELECT t FROM welch), 6) + 0.0 AS welch_t
    FROM stats
    """,
)
def ab_experiment_readout(spark, sf_dir):
    """End-to-end A/B readout — assignment through inference in one
    DAG: users split into two arms by the engine's Knuth multiplicative
    hash (deterministic, partition-stable — the dataset_split_assign
    contract applied to experimentation), then per arm the user-grain
    value metric (mean with sample variance from exact power sums),
    conversion with its 95% WILSON score interval (the binomial CI
    that behaves at small n and extreme p where the normal interval
    breaks), and the WELCH t statistic for the value difference
    (unequal-variance form — the correct default). Complements the
    nonparametric tier (MWU/KS): this is the parametric readout an
    experimentation platform prints per metric.

    Determinism: assignment and conversion are integer arithmetic;
    value sums are DECIMAL power sums cast once (the stats_moments
    contract); Wilson and Welch are fixed closed-form expressions over
    those shared doubles, rounded (z = 1.96 constants squared inline:
    3.8416, 1.9208, 0.9604); -0 normalized on the t statistic. Plan:
    one user-grain shuffle, a 2-row arm rollup, windows/cross join on
    2 rows."""
    from .ext_pipeline import _KNUTH, _M32

    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("tv"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    ).select(
        ((F.col("user_id").cast("decimal(38,0)") * _KNUTH) % _M32 % 2)
        .cast("bigint")
        .alias("arm"),
        "tv",
        "converted",
    )
    tvd = F.col("tv").cast("decimal(28,9)")
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(tvd).cast("double").alias("sx"),
        F.sum(tvd * tvd).cast("double").alias("sxx"),
        F.sum("converted").alias("conv"),
    )
    n = F.col("n")
    stats = arms.select(
        "arm",
        "n",
        "conv",
        (F.col("sx") / n).alias("mean_v"),
        (
            (n * F.col("sxx") - F.col("sx") * F.col("sx"))
            / (n * (n - F.lit(1.0)))
        ).alias("var_v"),
        (F.col("conv") / n.cast("double")).alias("p"),
    )
    welch = stats.agg(
        (
            (
                F.max(F.when(F.col("arm") == 0, F.col("mean_v")))
                - F.max(F.when(F.col("arm") == 1, F.col("mean_v")))
            )
            / F.sqrt(
                F.max(F.when(F.col("arm") == 0, F.col("var_v") / F.col("n")))
                + F.max(
                    F.when(F.col("arm") == 1, F.col("var_v") / F.col("n"))
                )
            )
        ).alias("t")
    )
    p = F.col("p")
    denom = 1 + F.lit(3.8416) / n
    center = p + F.lit(1.9208) / n
    hw = F.lit(1.96) * F.sqrt(
        p * (1 - p) / n + F.lit(0.9604) / (n * n)
    )
    return stats.crossJoin(F.broadcast(welch)).select(
        F.col("arm").cast("bigint").alias("arm"),
        F.col("n").cast("bigint").alias("n_users"),
        F.round("mean_v", 6).alias("mean_value"),
        F.round(p, 9).alias("conversion"),
        F.round((center - hw) / denom, 9).alias("wilson_lo"),
        F.round((center + hw) / denom, 9).alias("wilson_hi"),
        (F.round(F.col("t"), 6) + 0.0).alias("welch_t"),
    )


# --------------------------------------------------------------------------
# Hill tail-exponent estimator (heavy-tail diagnostics)
# --------------------------------------------------------------------------
@register(
    "hill_tail_exponent",
    oracle="""
    WITH counts AS (
        SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ),
    topk AS (
        SELECT n FROM counts ORDER BY n DESC, user_id LIMIT 101
    ),
    xmin AS (
        SELECT MIN(n) AS xk, COUNT(*) AS k FROM topk
    )
    SELECT CAST((SELECT COUNT(*) FROM counts) AS BIGINT) AS n_keys,
           CAST(x.k - 1 AS BIGINT) AS k_order_stats,
           CAST(x.xk AS BIGINT) AS x_min,
           round(1.0 / (SUM(ln(t.n / CAST(x.xk AS DOUBLE)))
                        / (x.k - 1)), 6) AS hill_alpha
    FROM topk t, xmin x
    WHERE t.n > 0
    GROUP BY x.k, x.xk
    """,
)
def hill_tail_exponent(spark, sf_dir):
    """Hill estimator of the activity distribution's tail exponent —
    the heavy-tail diagnostic that tells a capacity planner whether
    per-key load (events per user; read: documents per domain, rows
    per satellite) decays like a power law and HOW fast: α̂ = 1 /
    mean(ln(x_i / x_(k))) over the top-k order statistics. α ≤ 2 means
    infinite variance — salting territory (X13) — while α > 3 behaves
    like light tails; the number that justifies the skew playbook
    instead of guessing.

    Determinism: the top-k order statistics come from a total-ordered
    TakeOrderedAndProject (count desc, key tiebreak; k+1 rows so
    x_(k) is the threshold and the k larger values feed the sum);
    ratios are exact-integer quotients under ln, summed over k=100
    values and rounded (the ln-contract). Single key rollup + a
    101-row reduction."""
    e = t(spark, sf_dir, "events")
    counts = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    topk = counts.orderBy(F.col("n").desc(), F.col("user_id").asc()).limit(
        101
    )
    xmin = topk.agg(
        F.min("n").alias("xk"), F.count(F.lit(1)).alias("k")
    )
    n_keys = counts.agg(F.count(F.lit(1)).cast("bigint").alias("n_keys"))
    return (
        topk.crossJoin(F.broadcast(xmin))
        .crossJoin(F.broadcast(n_keys))
        .groupBy("n_keys", "k", "xk")
        .agg(
            F.round(
                F.lit(1.0)
                / (
                    F.sum(F.log(F.col("n") / F.col("xk").cast("double")))
                    / (F.col("k") - 1)
                ),
                6,
            ).alias("hill_alpha")
        )
        .select(
            "n_keys",
            (F.col("k") - 1).cast("bigint").alias("k_order_stats"),
            F.col("xk").cast("bigint").alias("x_min"),
            "hill_alpha",
        )
    )


# --------------------------------------------------------------------------
# PSI: population stability index (production drift monitoring)
# --------------------------------------------------------------------------
@register(
    "psi_value_drift",
    oracle="""
    WITH bounds_t AS (
        SELECT MIN(epoch_us(ts))
               + (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 2 AS mid
        FROM events
    ),
    tagged AS (
        SELECT value,
               CASE WHEN epoch_us(ts) < (SELECT mid FROM bounds_t)
                    THEN 1 ELSE 0 END AS is_ref
        FROM events
    ),
    qs AS (
        SELECT quantile_cont(value,
                             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
               AS bs
        FROM tagged WHERE is_ref = 1
    ),
    binned AS (
        SELECT CAST(1 + len(list_filter(q.bs, x -> t.value > x)) AS INT)
                   AS bin,
               t.is_ref
        FROM tagged t CROSS JOIN qs q
    ),
    cells AS (
        SELECT bin,
               SUM(is_ref) AS n_ref,
               SUM(1 - is_ref) AS n_cur,
               SUM(SUM(is_ref)) OVER () AS t_ref,
               SUM(SUM(1 - is_ref)) OVER () AS t_cur
        FROM binned GROUP BY bin
    ),
    contrib AS (
        SELECT bin, n_ref, n_cur,
               n_ref / CAST(t_ref AS DOUBLE) AS p_ref,
               n_cur / CAST(t_cur AS DOUBLE) AS p_cur,
               CASE WHEN n_ref > 0 AND n_cur > 0 THEN
                   (n_ref / CAST(t_ref AS DOUBLE)
                    - n_cur / CAST(t_cur AS DOUBLE))
                   * ln((n_ref / CAST(t_ref AS DOUBLE))
                        / (n_cur / CAST(t_cur AS DOUBLE)))
               ELSE 0.0 END AS c
        FROM cells
    )
    SELECT bin,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           round(p_ref, 9) AS p_ref,
           round(p_cur, 9) AS p_cur,
           round(c, 9) + 0.0 AS psi_contribution,
           round(SUM(c) OVER (), 9) + 0.0 AS psi_total
    FROM contrib
    """,
)
def psi_value_drift(spark, sf_dir):
    """PSI (population stability index) — the drift metric production
    scoring pipelines actually page on (PSI < 0.1 stable, > 0.25
    shifted): the event-value distribution of the SECOND half of the
    observed window scored against decile bins fitted on the FIRST
    half. Bin boundaries use the boundary-broadcast equi-depth
    machinery (exact percentiles on the reference period, broadcast,
    range lookup — no global sort); PSI = Σ (p_ref − p_cur)·ln(p_ref/
    p_cur) per bin, with empty-cell terms dropped (the standard
    convention, stated). Completes the drift tier: KS sees shape, KL
    audits categorical splits, PSI is the binned production monitor.

    Determinism: the period split is the integer-µs midpoint (the
    scd2_asof anchor pattern); shares are exact-integer ratios divided
    once; ln terms sum over ≤10 bins and round to 9 with -0
    normalized. One scan, one 10-cell rollup, windows on the cell
    frame."""
    e = t(spark, sf_dir, "events")
    mid = e.agg(
        (
            F.min(F.unix_micros("ts"))
            + F.floor(
                (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))) / 2
            )
        ).alias("mid")
    )
    tagged = e.crossJoin(F.broadcast(mid)).select(
        "value",
        (F.unix_micros("ts") < F.col("mid")).cast("int").alias("is_ref"),
    )
    qs = tagged.where(F.col("is_ref") == 1).agg(
        F.percentile(
            "value", F.array(*[F.lit(i / 10) for i in range(1, 10)])
        ).alias("bs")
    )
    binned = tagged.crossJoin(F.broadcast(qs)).select(
        (
            F.lit(1)
            + F.size(F.filter("bs", lambda b: F.col("value") > b))
        )
        .cast("int")
        .alias("bin"),
        "is_ref",
    )
    cells = (
        binned.groupBy("bin")
        .agg(
            F.sum("is_ref").alias("n_ref"),
            F.sum(1 - F.col("is_ref")).alias("n_cur"),
        )
        .withColumn("t_ref", F.sum("n_ref").over(Window.partitionBy()))
        .withColumn("t_cur", F.sum("n_cur").over(Window.partitionBy()))
    )
    p_ref = F.col("n_ref") / F.col("t_ref").cast("double")
    p_cur = F.col("n_cur") / F.col("t_cur").cast("double")
    c = F.when(
        (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
        (p_ref - p_cur) * F.log(p_ref / p_cur),
    ).otherwise(F.lit(0.0))
    contrib = cells.withColumn("c", c)
    return contrib.select(
        "bin",
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
        F.round(p_ref, 9).alias("p_ref"),
        F.round(p_cur, 9).alias("p_cur"),
        (F.round("c", 9) + 0.0).alias("psi_contribution"),
        (
            F.round(F.sum("c").over(Window.partitionBy()), 9) + 0.0
        ).alias("psi_total"),
    )


# --------------------------------------------------------------------------
# distribution-free median CI from exact order statistics
# --------------------------------------------------------------------------
@register(
    "median_ci_order_stats",
    oracle="""
    WITH n_t AS (
        SELECT COUNT(*) AS n FROM orders
    ),
    ranks AS (
        SELECT n,
               CAST(FLOOR(n / 2.0 - 1.96 * sqrt(n) / 2.0) AS BIGINT) AS r_lo,
               CAST(CEIL(1 + n / 2.0 + 1.96 * sqrt(n) / 2.0) AS BIGINT)
                   AS r_hi,
               (n + 1) // 2 AS r_med
        FROM n_t
    ),
    ranked AS (
        SELECT o_totalprice,
               ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS r
        FROM orders
    )
    SELECT r.n,
           r.r_lo, r.r_med, r.r_hi,
           MAX(CASE WHEN k.r = r.r_lo THEN k.o_totalprice END) AS v_lo,
           MAX(CASE WHEN k.r = r.r_med THEN k.o_totalprice END) AS v_med,
           MAX(CASE WHEN k.r = r.r_hi THEN k.o_totalprice END) AS v_hi
    FROM ranked k, ranks r
    WHERE k.r IN (r.r_lo, r.r_med, r.r_hi)
    GROUP BY r.n, r.r_lo, r.r_med, r.r_hi
    """,
)
def median_ci_order_stats(spark, sf_dir):
    """Distribution-free 95% confidence interval for the median from
    EXACT order statistics — no normality, no bootstrap, no RNG: the
    interval [x_(⌊n/2 − 1.96√n/2⌋), x_(⌈1 + n/2 + 1.96√n/2⌉)] covers
    the true median with ≥95% probability for ANY continuous
    distribution (the binomial argument on signs). The inference
    companion to the robust point estimators (MAD, winsorized,
    Theil-Sen): a number plus how sure.

    Rank selection runs on ``exact_cumulative`` (third use, after MWU
    and KS): the running count over the (price, orderkey) total order
    is the global row number, built from in-bucket counts plus
    broadcast bucket offsets — the three target ranks are exact and
    NO single-partition sort touches the order-grain frame. Output
    is one row: n, the three ranks, and the three order-statistic
    values (exact doubles, no interpolation)."""
    o = t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    acc, _ = exact_cumulative(
        o, ("o_totalprice", "o_orderkey"), {"n": F.count(F.lit(1))}
    )
    n = F.col("tot_n").cast("bigint")
    ranked = acc.select(
        "o_totalprice",
        F.col("cum_n").alias("r"),
        n.alias("n"),
        F.floor(n / 2.0 - F.lit(1.96) * F.sqrt(n) / 2.0)
        .cast("bigint")
        .alias("r_lo"),
        F.ceil(1 + n / 2.0 + F.lit(1.96) * F.sqrt(n) / 2.0)
        .cast("bigint")
        .alias("r_hi"),
        F.floor((n + 1) / 2).cast("bigint").alias("r_med"),
    )
    hit = ranked.where(
        (F.col("r") == F.col("r_lo"))
        | (F.col("r") == F.col("r_med"))
        | (F.col("r") == F.col("r_hi"))
    )
    return hit.groupBy("n", "r_lo", "r_med", "r_hi").agg(
        F.max(
            F.when(F.col("r") == F.col("r_lo"), F.col("o_totalprice"))
        ).alias("v_lo"),
        F.max(
            F.when(F.col("r") == F.col("r_med"), F.col("o_totalprice"))
        ).alias("v_med"),
        F.max(
            F.when(F.col("r") == F.col("r_hi"), F.col("o_totalprice"))
        ).alias("v_hi"),
    )


# --------------------------------------------------------------------------
# CUPED variance-reduced A/B readout
# --------------------------------------------------------------------------
@register(
    "cuped_adjusted_ab",
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
               CAST((user_id * 2654435761) % 4294967296 % 2 AS INT) AS arm,
               COALESCE(SUM(CASE WHEN d < split_d THEN v END),
                        CAST(0 AS DECIMAL(18,2))) AS x,
               COALESCE(SUM(CASE WHEN d >= split_d THEN v END),
                        CAST(0 AS DECIMAL(18,2))) AS y
        FROM days, bounds
        GROUP BY 1, 2
    ),
    m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x * x AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(y * y AS DECIMAL(38,4))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(x * y AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   AS n1,
               CAST(SUM(CASE WHEN arm = 1 THEN y END) AS DOUBLE) AS sy1,
               CAST(SUM(CASE WHEN arm = 1 THEN x END) AS DOUBLE) AS sx1,
               CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS DOUBLE)
                   AS n0,
               CAST(SUM(CASE WHEN arm = 0 THEN y END) AS DOUBLE) AS sy0,
               CAST(SUM(CASE WHEN arm = 0 THEN x END) AS DOUBLE) AS sx0
        FROM per_user
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(n1 AS BIGINT) AS n_treat,
           CAST(n0 AS BIGINT) AS n_ctrl,
           round(sy1 / n1 - sy0 / n0, 6) AS raw_diff,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS theta,
           round((sy1 / n1 - sy0 / n0)
                 - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                   * (sx1 / n1 - sx0 / n0), 6) AS adj_diff,
           round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 9)
               AS var_reduction
    FROM m
    """,
)
def cuped_adjusted_ab(spark, sf_dir):
    """CUPED (Controlled-experiment Using Pre-Experiment Data,
    Deng et al., WSDM'13) variance-reduced A/B readout: the experiment
    window is the second half of the event calendar, the pre-period is
    the first half, and each user's pre-period spend is the covariate.
    adjusted_metric = Y - theta * (X - mean(X)) with the pooled OLS
    theta = cov(X,Y)/var(X); ``var_reduction`` is the squared X,Y
    correlation — exactly the fraction of metric variance CUPED
    removes, the number an experimentation platform quotes when it says
    "CUPED cut required sample size by r²".

    Exactness: per-user pre/post sums are fixed-scale DECIMALs (exact,
    order-free); the moment sums Σx, Σy, Σx², Σy², Σxy are exact
    DECIMAL(38,4) rollups. Every downstream statistic is computed from
    those (already-exact) scalars cast to DOUBLE with an identical
    expression tree in both engines, so the IEEE results match bitwise
    before rounding.

    Plan: calendar bounds are one tiny agg broadcast into the row
    scan; per-user sums are one user-keyed shuffle (map-side partials);
    the moment rollup is a second, scalar-sized aggregation. No
    windows, no UDFs — survives any scale the user-grain agg survives.
    """
    e = t(spark, sf_dir, "events")
    days = e.select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).alias("d"),
        dec("value", 18, 2).alias("v"),
    )
    bounds = days.agg(
        F.floor((F.min("d") + F.max("d") + 1) / F.lit(2)).alias("split_d")
    )
    zero = F.lit(0).cast("decimal(18,2)")
    from .ext_pipeline import _KNUTH, _M32

    per_user = (
        days.crossJoin(F.broadcast(bounds))
        .groupBy(
            "user_id",
            # the SAME Knuth-hash arm every other experimentation query
            # uses (ab_experiment_readout, srm_guardrail_check, …) — the
            # SRM guardrail audits exactly the assignment CUPED reads,
            # so a flag there indicts this readout too (r6 advisor)
            ((F.col("user_id").cast("decimal(38,0)") * _KNUTH) % _M32 % 2)
            .cast("int")
            .alias("arm"),
        )
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("d") < F.col("split_d"), F.col("v"))),
                zero,
            ).alias("x"),
            F.coalesce(
                F.sum(F.when(F.col("d") >= F.col("split_d"), F.col("v"))),
                zero,
            ).alias("y"),
        )
    )
    d38 = lambda c: c.cast("decimal(38,4)")
    m = per_user.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(d38(F.col("x") * F.col("x"))).cast("double").alias("sxx"),
        F.sum(d38(F.col("y") * F.col("y"))).cast("double").alias("syy"),
        F.sum(d38(F.col("x") * F.col("y"))).cast("double").alias("sxy"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("double")
        .alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("y"))).cast("double").alias("sy1"),
        F.sum(F.when(F.col("arm") == 1, F.col("x"))).cast("double").alias("sx1"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("double")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("y"))).cast("double").alias("sy0"),
        F.sum(F.when(F.col("arm") == 0, F.col("x"))).cast("double").alias("sx0"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    n1, sy1, sx1 = F.col("n1"), F.col("sy1"), F.col("sx1")
    n0, sy0, sx0 = F.col("n0"), F.col("sy0"), F.col("sx0")
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        n.cast("bigint").alias("n_users"),
        n1.cast("bigint").alias("n_treat"),
        n0.cast("bigint").alias("n_ctrl"),
        F.round(sy1 / n1 - sy0 / n0, 6).alias("raw_diff"),
        F.round(theta, 9).alias("theta"),
        F.round(
            (sy1 / n1 - sy0 / n0) - theta * (sx1 / n1 - sx0 / n0), 6
        ).alias("adj_diff"),
        F.round(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            9,
        ).alias("var_reduction"),
    )


# --------------------------------------------------------------------------
# Cohen's kappa inter-rater agreement
# --------------------------------------------------------------------------
@register(
    "cohens_kappa_agreement",
    oracle="""
    WITH r AS (
        SELECT CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END AS a,
               CASE WHEN length(text) - length(replace(text, ' ', '')) + 1
                         >= 25
                    THEN 1 ELSE 0 END AS b
        FROM documents
    ),
    c AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)
                    AS DOUBLE) AS n11,
               CAST(SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END)
                    AS DOUBLE) AS n00,
               CAST(SUM(a) AS DOUBLE) AS na1,
               CAST(SUM(b) AS DOUBLE) AS nb1
        FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(n11 AS BIGINT) AS n_both_pos,
           CAST(n00 AS BIGINT) AS n_both_neg,
           round((n11 + n00) / n, 9) AS p_observed,
           round((na1 * nb1 + (n - na1) * (n - nb1)) / (n * n), 9)
               AS p_expected,
           round(((n11 + n00) / n
                  - (na1 * nb1 + (n - na1) * (n - nb1)) / (n * n))
                 / (1.0 - (na1 * nb1 + (n - na1) * (n - nb1)) / (n * n)),
                 9) AS kappa
    FROM c
    """,
)
def cohens_kappa_agreement(spark, sf_dir):
    """Cohen's kappa chance-corrected agreement between two cheap
    document-quality raters — rater A flags docs with >= 150 chars,
    rater B flags docs with >= 25 whitespace tokens. kappa =
    (p_o - p_e) / (1 - p_e) where p_e is the agreement two independent
    raters with these marginals would reach by chance; it is the
    standard answer to "are two labeling heuristics (or annotators)
    actually agreeing, or just both saying yes a lot?" — the gate a
    training-data curation run puts on any new auto-labeler before
    trusting its labels.

    All four contingency cells and both marginals are exact integer
    counts from ONE full-scan aggregation (no shuffle beyond the final
    scalar combine); p_o, p_e, kappa are computed from those scalars
    with an identical double expression tree in both engines.
    """
    d = t(spark, sf_dir, "documents")
    tokens = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    )
    r = d.select(
        (F.col("n_chars") >= 150).cast("int").alias("a"),
        (tokens >= 25).cast("int").alias("b"),
    )
    c = r.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(((F.col("a") == 1) & (F.col("b") == 1)).cast("int"))
        .cast("double")
        .alias("n11"),
        F.sum(((F.col("a") == 0) & (F.col("b") == 0)).cast("int"))
        .cast("double")
        .alias("n00"),
        F.sum("a").cast("double").alias("na1"),
        F.sum("b").cast("double").alias("nb1"),
    )
    n, n11, n00 = F.col("n"), F.col("n11"), F.col("n00")
    na1, nb1 = F.col("na1"), F.col("nb1")
    po = (n11 + n00) / n
    pe = (na1 * nb1 + (n - na1) * (n - nb1)) / (n * n)
    return c.select(
        n.cast("bigint").alias("n_docs"),
        n11.cast("bigint").alias("n_both_pos"),
        n00.cast("bigint").alias("n_both_neg"),
        F.round(po, 9).alias("p_observed"),
        F.round(pe, 9).alias("p_expected"),
        F.round((po - pe) / (F.lit(1.0) - pe), 9).alias("kappa"),
    )


# --------------------------------------------------------------------------
# ROC AUC of a scalar score vs a binary label (rank formulation)
# --------------------------------------------------------------------------
@register(
    "auc_rank_score",
    oracle="""
    WITH s AS (
        SELECT n_chars AS score,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS pos,
               CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS neg
        FROM documents GROUP BY 1
    ),
    w AS (
        SELECT pos, neg,
               COALESCE(SUM(neg) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cneg
        FROM s
    )
    SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(neg) AS BIGINT) AS n_neg,
           CAST(SUM(pos * (2 * cneg + neg)) AS BIGINT) AS auc_num_2x,
           round(SUM(pos * (2 * cneg + neg))
                 / (2.0 * SUM(pos) * SUM(neg)), 9) AS auc
    FROM w
    """,
)
def auc_rank_score(spark, sf_dir):
    """ROC AUC of the document length score predicting lang='en', via
    the rank (Mann-Whitney) formulation: AUC = P(score_pos > score_neg)
    + P(tie)/2 = sum over distinct score values of
    pos_v * (negatives strictly below + neg_v / 2), normalized by
    n_pos * n_neg. This is the classifier-eval twin of
    ``mann_whitney_u_values`` — the number a quality-filter model is
    graded on before its threshold gets to delete corpus documents.

    Exactness: the numerator is carried 2x-scaled so tie halves stay
    integral — ``auc_num_2x`` is an exact BIGINT at any partitioning;
    only the final normalization divides.

    Plan: one hash aggregation collapses the corpus to per-score
    (pos, neg) counts. The cumulative window that follows runs on the
    collapsed frame, whose size is bounded by the SCORE DOMAIN (~500
    distinct char counts), not the corpus — at 100 TB it is still a
    few hundred rows, so the unpartitioned running sum is a constant,
    not a scale risk (same bounded-domain argument as the chi-squared
    cell frame)."""
    d = t(spark, sf_dir, "documents")
    s = d.groupBy(F.col("n_chars").alias("score")).agg(
        F.sum((F.col("lang") == "en").cast("int")).cast("bigint").alias("pos"),
        F.sum((F.col("lang") != "en").cast("int")).cast("bigint").alias("neg"),
    )
    w = s.withColumn(
        "cneg",
        F.coalesce(
            F.sum("neg").over(
                Window.orderBy("score").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    )
    num2x = F.sum(F.col("pos") * (2 * F.col("cneg") + F.col("neg")))
    return w.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
        num2x.cast("bigint").alias("auc_num_2x"),
        F.round(
            num2x / (F.lit(2.0) * F.sum("pos") * F.sum("neg")), 9
        ).alias("auc"),
    )


# --------------------------------------------------------------------------
# mutual information between event type and day-of-week
# --------------------------------------------------------------------------
@register(
    "mutual_information_type_dow",
    oracle="""
    WITH obs AS (
        SELECT event_type,
               CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS INT) AS dow,
               CAST(COUNT(*) AS DOUBLE) AS o
        FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, SUM(o) AS r FROM obs GROUP BY 1),
    ct AS (SELECT dow, SUM(o) AS c FROM obs GROUP BY 1),
    n AS (SELECT SUM(o) AS n FROM obs),
    hx AS (
        SELECT -SUM((r / n.n) * ln(r / n.n)) AS h FROM rt, n
    ),
    hy AS (
        SELECT -SUM((c / n.n) * ln(c / n.n)) AS h FROM ct, n
    ),
    mi AS (
        SELECT SUM((o / n.n) * ln((o * n.n) / (r * c))) AS mi
        FROM obs
        JOIN rt USING (event_type)
        JOIN ct USING (dow)
        CROSS JOIN n
    )
    SELECT CAST(n.n AS BIGINT) AS n_events,
           round(mi.mi, 6) AS mi_nats,
           round(hx.h, 6) AS h_type,
           round(hy.h, 6) AS h_dow,
           round(mi.mi / sqrt(hx.h * hy.h), 6) AS nmi
    FROM n, mi, hx, hy
    """,
)
def mutual_information_type_dow(spark, sf_dir):
    """Mutual information (nats) between event type and day-of-week,
    with both marginal entropies and the sqrt-normalized NMI — the
    information-theoretic companion to ``chi2_independence_type_dow``:
    chi-squared answers "is there dependence?", MI answers "how many
    bits of one variable the other carries", the criterion feature
    selection and stratification-key choice actually rank by.

    Cell counts and marginals are exact integers; the log terms are
    floats summed over the ≤ |types| x 7 cell frame (domain-bounded,
    like the chi-squared cells) and rounded to 6 — the same
    order-noise-absorbing discipline chi2 uses. Plan: one event-grain
    rollup to cells, then marginals and entropies over the tiny cell
    frame; raw events shuffle exactly once."""
    e = t(spark, sf_dir, "events")
    dow = ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7).cast(
        "int"
    )
    obs = (
        e.groupBy("event_type", dow.alias("dow"))
        .agg(F.count(F.lit(1)).cast("double").alias("o"))
        .persist()
    )
    rt = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("dow").agg(F.sum("o").alias("c"))
    nn = obs.agg(F.sum("o").alias("n"))
    joined = (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(nn))
    )
    mi = joined.agg(
        F.sum(
            (F.col("o") / F.col("n"))
            * F.log((F.col("o") * F.col("n")) / (F.col("r") * F.col("c")))
        ).alias("mi"),
        F.max("n").alias("n"),
    )
    hx = rt.crossJoin(F.broadcast(nn)).agg(
        (-F.sum((F.col("r") / F.col("n")) * F.log(F.col("r") / F.col("n"))))
        .alias("h_type")
    )
    hy = ct.crossJoin(F.broadcast(nn)).agg(
        (-F.sum((F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("n"))))
        .alias("h_dow")
    )
    out = mi.crossJoin(F.broadcast(hx)).crossJoin(F.broadcast(hy))
    return out.select(
        F.col("n").cast("bigint").alias("n_events"),
        F.round("mi", 6).alias("mi_nats"),
        F.round("h_type", 6).alias("h_type"),
        F.round("h_dow", 6).alias("h_dow"),
        F.round(
            F.col("mi") / F.sqrt(F.col("h_type") * F.col("h_dow")), 6
        ).alias("nmi"),
    )


# --------------------------------------------------------------------------
# score calibration / reliability bins with Brier decomposition
# --------------------------------------------------------------------------
@register(
    "score_calibration_bins",
    oracle="""
    WITH b AS (
        SELECT LEAST(n_chars // 60, 9) AS bin,
               n_chars,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(SUM(n_chars) / (600.0 * COUNT(*)), 9) AS mean_score,
           round(SUM(y) / CAST(COUNT(*) AS DOUBLE), 9) AS pos_rate,
           round(SUM((n_chars - 600 * y) * (n_chars - 600 * y))
                 / (360000.0 * COUNT(*)), 9) AS brier
    FROM b GROUP BY 1 ORDER BY 1
    """,
)
def score_calibration_bins(spark, sf_dir):
    """Calibration (reliability-diagram) bins for a document quality
    score — score = n_chars/600 clipped into 10 equal-width bins,
    label = lang='en'. Per bin: mean predicted score vs observed
    positive rate (their gap is the calibration error the diagram
    plots) and the per-bin Brier score. The check a filtering model
    must pass before its scores are treated as probabilities in
    mixture weighting.

    Exactness without decimals: score is the ratio of two integers, so
    Σ(score - y)² = Σ(n_chars - 600·y)² / 360000 — the numerator is an
    EXACT integer aggregate, and each output is one terminal division.
    Plan: a single hash aggregation by bin (10 groups, map-side
    partials); nothing else."""
    d = t(spark, sf_dir, "documents")
    b = d.select(
        F.expr("least(n_chars div 60, 9)").alias("bin"),
        "n_chars",
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    resid = F.col("n_chars") - 600 * F.col("y")
    return (
        b.groupBy(F.col("bin").cast("bigint").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(
                F.sum("n_chars") / (F.lit(600.0) * F.count(F.lit(1))), 9
            ).alias("mean_score"),
            F.round(
                F.sum("y") / F.count(F.lit(1)).cast("double"), 9
            ).alias("pos_rate"),
            F.round(
                F.sum(resid * resid)
                / (F.lit(360000.0) * F.count(F.lit(1))),
                9,
            ).alias("brier"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# sample-ratio-mismatch (SRM) guardrail
# --------------------------------------------------------------------------
@register(
    "srm_guardrail_check",
    oracle="""
    WITH per_type AS (
        SELECT event_type AS cohort,
               (user_id * 2654435761) % 4294967296 % 2 AS arm
        FROM events GROUP BY event_type, user_id
    ),
    overall AS (
        SELECT '_all' AS cohort,
               (user_id * 2654435761) % 4294967296 % 2 AS arm
        FROM events GROUP BY user_id
    ),
    u AS (SELECT * FROM per_type UNION ALL SELECT * FROM overall),
    c AS (
        SELECT cohort,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_treat,
               CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_ctrl
        FROM u GROUP BY cohort
    )
    SELECT cohort, n_treat, n_ctrl,
           round((n_treat - n_ctrl) * (n_treat - n_ctrl)
                 / CAST(n_treat + n_ctrl AS DOUBLE), 6) AS chi2_srm,
           (n_treat - n_ctrl) * (n_treat - n_ctrl)
               / CAST(n_treat + n_ctrl AS DOUBLE) > 10.828 AS srm_flag
    FROM c
    """,
)
def srm_guardrail_check(spark, sf_dir):
    """Sample-ratio-mismatch guardrail: under a 50/50 split the arm
    counts should satisfy chi2 = (n1-n0)^2/(n1+n0) ~ chi2(1); a value
    above 10.828 (alpha = 0.001 — SRM checks use a strict alpha
    because a triggered SRM voids the whole experiment) flags broken
    assignment, logging loss, or a bot filter eating one arm. Checked
    per event-type cohort (users who emitted that type — where
    trigger-based SRM usually hides) and for the overall population
    ('_all'), using the same Knuth-hash assignment as
    ``ab_experiment_readout`` so a flag here indicts that readout.

    Counts are exact distinct-user integers (one distinct-collapse
    per cohort, map-side partial); the statistic is one terminal
    division per cohort row."""
    from .ext_pipeline import _KNUTH, _M32

    e = t(spark, sf_dir, "events")
    arm = (
        (F.col("user_id").cast("decimal(38,0)") * _KNUTH) % _M32 % 2
    ).cast("bigint")
    per_type = (
        e.groupBy("event_type", "user_id")
        .agg(F.lit(1))
        .select(F.col("event_type").alias("cohort"), arm.alias("arm"))
    )
    overall = (
        e.groupBy("user_id")
        .agg(F.lit(1))
        .select(F.lit("_all").alias("cohort"), arm.alias("arm"))
    )
    c = per_type.unionByName(overall).groupBy("cohort").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_treat"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_ctrl"),
    )
    d = F.col("n_treat") - F.col("n_ctrl")
    chi2 = d * d / (F.col("n_treat") + F.col("n_ctrl")).cast("double")
    return c.select(
        "cohort",
        "n_treat",
        "n_ctrl",
        F.round(chi2, 6).alias("chi2_srm"),
        (chi2 > 10.828).alias("srm_flag"),
    )


# --------------------------------------------------------------------------
# Newcombe score interval for the conversion difference
# --------------------------------------------------------------------------
@register(
    "ab_difference_newcombe",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               (user_id * 2654435761) % 4294967296 % 2 AS arm,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id
    ),
    arms AS (
        SELECT arm, COUNT(*) AS n, SUM(converted) AS conv
        FROM per_user GROUP BY arm
    ),
    w AS (
        SELECT arm,
               n,
               conv / CAST(n AS DOUBLE) AS p,
               (conv / CAST(n AS DOUBLE) + 1.9208 / n
                - 1.96 * sqrt(conv / CAST(n AS DOUBLE)
                              * (1 - conv / CAST(n AS DOUBLE)) / n
                              + 0.9604 / (n * n)))
               / (1 + 3.8416 / n) AS lo,
               (conv / CAST(n AS DOUBLE) + 1.9208 / n
                + 1.96 * sqrt(conv / CAST(n AS DOUBLE)
                              * (1 - conv / CAST(n AS DOUBLE)) / n
                              + 0.9604 / (n * n)))
               / (1 + 3.8416 / n) AS hi
        FROM arms
    ),
    x AS (
        SELECT MAX(CASE WHEN arm = 1 THEN n END) AS n1,
               MAX(CASE WHEN arm = 0 THEN n END) AS n0,
               MAX(CASE WHEN arm = 1 THEN p END) AS p1,
               MAX(CASE WHEN arm = 0 THEN p END) AS p0,
               MAX(CASE WHEN arm = 1 THEN lo END) AS l1,
               MAX(CASE WHEN arm = 0 THEN lo END) AS l0,
               MAX(CASE WHEN arm = 1 THEN hi END) AS h1,
               MAX(CASE WHEN arm = 0 THEN hi END) AS h0
        FROM w
    )
    SELECT CAST(n1 AS BIGINT) AS n_treat,
           CAST(n0 AS BIGINT) AS n_ctrl,
           round(p1, 9) AS p_treat,
           round(p0, 9) AS p_ctrl,
           round(p1 - p0, 9) AS diff,
           round(p1 - p0
                 - sqrt((p1 - l1) * (p1 - l1) + (h0 - p0) * (h0 - p0)),
                 9) AS diff_lo,
           round(p1 - p0
                 + sqrt((h1 - p1) * (h1 - p1) + (p0 - l0) * (p0 - l0)),
                 9) AS diff_hi,
           NOT (p1 - p0
                - sqrt((p1 - l1) * (p1 - l1) + (h0 - p0) * (h0 - p0))
                <= 0.0
                AND 0.0 <=
                p1 - p0
                + sqrt((h1 - p1) * (h1 - p1) + (p0 - l0) * (p0 - l0)))
               AS significant
    FROM x
    """,
)
def ab_difference_newcombe(spark, sf_dir):
    """Newcombe hybrid score interval for the conversion-rate
    DIFFERENCE between arms (Newcombe 1998, method 10) — the decision
    quantity ``ab_experiment_readout`` stops short of: each arm's 95%
    Wilson bounds combine as diff ± sqrt of the squared one-sided
    Wilson margins, giving an interval for p1−p0 that keeps Wilson's
    small-n / extreme-p behavior (a plain Wald interval on the
    difference collapses there). ``significant`` is TRUE iff the
    interval excludes zero — the ship/no-ship bit.

    Same Knuth-hash assignment and integer conversion counts as the
    readout; every float is a fixed closed-form expression over the
    two (n, conv) pairs, identical trees in both engines, rounded.
    Plan: one user-grain shuffle, a 2-row arm rollup, then scalar
    algebra."""
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
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("conv")
    )
    p = F.col("conv") / F.col("n").cast("double")
    n = F.col("n")
    margin = F.sqrt(p * (1 - p) / n + 0.9604 / (n * n))
    w = arms.select(
        "arm",
        "n",
        p.alias("p"),
        ((p + 1.9208 / n - 1.96 * margin) / (1 + 3.8416 / n)).alias("lo"),
        ((p + 1.9208 / n + 1.96 * margin) / (1 + 3.8416 / n)).alias("hi"),
    )
    x = w.agg(
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("p"))).alias("p1"),
        F.max(F.when(F.col("arm") == 0, F.col("p"))).alias("p0"),
        F.max(F.when(F.col("arm") == 1, F.col("lo"))).alias("l1"),
        F.max(F.when(F.col("arm") == 0, F.col("lo"))).alias("l0"),
        F.max(F.when(F.col("arm") == 1, F.col("hi"))).alias("h1"),
        F.max(F.when(F.col("arm") == 0, F.col("hi"))).alias("h0"),
    )
    p1, p0 = F.col("p1"), F.col("p0")
    l1, l0, h1, h0 = F.col("l1"), F.col("l0"), F.col("h1"), F.col("h0")
    lo = p1 - p0 - F.sqrt((p1 - l1) * (p1 - l1) + (h0 - p0) * (h0 - p0))
    hi = p1 - p0 + F.sqrt((h1 - p1) * (h1 - p1) + (p0 - l0) * (p0 - l0))
    return x.select(
        F.col("n1").cast("bigint").alias("n_treat"),
        F.col("n0").cast("bigint").alias("n_ctrl"),
        F.round(p1, 9).alias("p_treat"),
        F.round(p0, 9).alias("p_ctrl"),
        F.round(p1 - p0, 9).alias("diff"),
        F.round(lo, 9).alias("diff_lo"),
        F.round(hi, 9).alias("diff_hi"),
        (~((lo <= 0.0) & (F.lit(0.0) <= hi))).alias("significant"),
    )


# --------------------------------------------------------------------------
# coarsened-exact-matching ATT estimate
# --------------------------------------------------------------------------
@register(
    "cem_matched_att",
    oracle="""
    WITH days AS (
        SELECT user_id,
               epoch_us(ts) // 86400000000 AS d,
               CAST(value AS DECIMAL(18,2)) AS v
        FROM events
    ),
    bounds AS (SELECT (MIN(d) + MAX(d) + 1) // 2 AS split_d FROM days),
    per_user AS (
        SELECT user_id,
               CAST((user_id * 2654435761) % 4294967296 % 2 AS INT) AS arm,
               COALESCE(SUM(CASE WHEN d < split_d THEN v END),
                        CAST(0 AS DECIMAL(18,2))) AS x,
               COALESCE(SUM(CASE WHEN d >= split_d THEN v END),
                        CAST(0 AS DECIMAL(18,2))) AS y
        FROM days, bounds GROUP BY 1, 2
    ),
    ranked AS (
        SELECT *,
               CAST(FLOOR(x / 50) AS BIGINT) AS stratum,
               row_number() OVER (
                   PARTITION BY CAST(FLOOR(x / 50) AS BIGINT), arm
                   ORDER BY x, user_id) AS rn
        FROM per_user
    ),
    pairs AS (
        SELECT t.stratum, t.x AS xt, c.x AS xc, t.y AS yt, c.y AS yc
        FROM ranked t JOIN ranked c
          ON t.stratum = c.stratum AND t.rn = c.rn
        WHERE t.arm = 1 AND c.arm = 0
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_matched,
               CAST(SUM(yt - yc) AS DOUBLE) AS s_diff,
               CAST(SUM(xt - xc) AS DOUBLE) AS s_imb
        FROM pairs
    ),
    arms AS (
        SELECT CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_treat,
               CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_ctrl,
               CAST(SUM(CASE WHEN arm = 1 THEN y END) AS DOUBLE) AS sy1,
               CAST(SUM(CASE WHEN arm = 0 THEN y END) AS DOUBLE) AS sy0
        FROM per_user
    )
    SELECT arms.n_treat, arms.n_ctrl, m.n_matched,
           round(m.n_matched / CAST(arms.n_treat AS DOUBLE), 6)
               AS match_rate,
           round(arms.sy1 / arms.n_treat - arms.sy0 / arms.n_ctrl, 6)
               AS naive_diff,
           round(m.s_diff / m.n_matched, 6) AS att,
           round(m.s_imb / m.n_matched, 6) AS mean_covariate_gap
    FROM arms, m
    """,
)
def cem_matched_att(spark, sf_dir):
    """Average treatment effect on the treated via Coarsened Exact
    Matching (Iacus, King & Porro 2012): the pre-period covariate is
    coarsened into width-50 strata, and within each stratum treated
    and control users pair off by covariate rank — every comparison is
    between users with near-identical pre-period behavior, removing
    the selection bias the naive arm difference (also emitted)
    absorbs. ``mean_covariate_gap`` reports the residual within-pair
    imbalance the coarsening left behind; unmatched treated users
    (stratum exhausted) drop, reported via ``match_rate``.

    Same calendar split, Knuth arms, and DECIMAL-exact per-user sums
    as ``cuped_adjusted_ab``; pairing is deterministic ((x, user_id)
    rank within stratum). Plan: one user-grain shuffle, then
    stratum-partitioned windows and a (stratum, rank) equi-join —
    matching without ANY global sort, the property that lets CEM run
    where nearest-neighbor matching's total order cannot."""
    from .ext_pipeline import _KNUTH, _M32

    e = t(spark, sf_dir, "events")
    days = e.select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).alias("d"),
        dec("value", 18, 2).alias("v"),
    )
    bounds = days.agg(
        F.floor((F.min("d") + F.max("d") + 1) / F.lit(2)).alias("split_d")
    )
    zero = F.lit(0).cast("decimal(18,2)")
    per_user = (
        days.crossJoin(F.broadcast(bounds))
        .groupBy(
            "user_id",
            ((F.col("user_id").cast("decimal(38,0)") * _KNUTH) % _M32 % 2)
            .cast("int")
            .alias("arm"),
        )
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("d") < F.col("split_d"), F.col("v"))),
                zero,
            ).alias("x"),
            F.coalesce(
                F.sum(F.when(F.col("d") >= F.col("split_d"), F.col("v"))),
                zero,
            ).alias("y"),
        )
    )
    ranked = per_user.withColumn(
        "stratum", F.floor(F.col("x") / 50).cast("bigint")
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("stratum", "arm").orderBy("x", "user_id")
        ),
    ).persist()
    tr = ranked.where(F.col("arm") == 1).select(
        "stratum", "rn",
        F.col("x").alias("xt"), F.col("y").alias("yt"),
    )
    ct = ranked.where(F.col("arm") == 0).select(
        "stratum", "rn",
        F.col("x").alias("xc"), F.col("y").alias("yc"),
    )
    pairs = tr.join(ct, ["stratum", "rn"])
    m = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matched"),
        F.sum(F.col("yt") - F.col("yc")).cast("double").alias("s_diff"),
        F.sum(F.col("xt") - F.col("xc")).cast("double").alias("s_imb"),
    )
    arms = ranked.agg(
        F.sum((F.col("arm") == 1).cast("int"))
        .cast("bigint")
        .alias("n_treat"),
        F.sum((F.col("arm") == 0).cast("int"))
        .cast("bigint")
        .alias("n_ctrl"),
        F.sum(F.when(F.col("arm") == 1, F.col("y")))
        .cast("double")
        .alias("sy1"),
        F.sum(F.when(F.col("arm") == 0, F.col("y")))
        .cast("double")
        .alias("sy0"),
    )
    out = arms.crossJoin(F.broadcast(m))
    return out.select(
        "n_treat",
        "n_ctrl",
        "n_matched",
        F.round(
            F.col("n_matched") / F.col("n_treat").cast("double"), 6
        ).alias("match_rate"),
        F.round(
            F.col("sy1") / F.col("n_treat")
            - F.col("sy0") / F.col("n_ctrl"),
            6,
        ).alias("naive_diff"),
        F.round(F.col("s_diff") / F.col("n_matched"), 6).alias("att"),
        F.round(F.col("s_imb") / F.col("n_matched"), 6).alias(
            "mean_covariate_gap"
        ),
    )


# --------------------------------------------------------------------------
# gains chart: cumulative capture and lift by score decile
# --------------------------------------------------------------------------
@register(
    "gains_chart_deciles",
    oracle="""
    WITH b AS (
        SELECT {qcols}
        FROM documents
    ),
    assigned AS (
        SELECT CAST(11 - (1 + {gtsum}) AS BIGINT) AS decile,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents, b
    ),
    g AS (
        SELECT decile,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(y) AS BIGINT) AS n_pos
        FROM assigned GROUP BY decile
    )
    SELECT decile, n_docs, n_pos,
           round(SUM(n_pos) OVER w / CAST((SELECT SUM(y) FROM assigned)
                                          AS DOUBLE), 9) AS cum_capture,
           round((SUM(n_pos) OVER w
                  / CAST((SELECT SUM(y) FROM assigned) AS DOUBLE))
                 / (SUM(n_docs) OVER w
                    / CAST((SELECT COUNT(*) FROM assigned) AS DOUBLE)),
                 6) AS cum_lift
    FROM g
    WINDOW w AS (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """.format(
        qcols=", ".join(
            f"quantile_cont(n_chars, {q}) AS b{i}"
            for i, q in enumerate(DECILE_LEVELS)
        ),
        gtsum=" + ".join(
            f"CASE WHEN n_chars > b{i} THEN 1 ELSE 0 END"
            for i in range(len(DECILE_LEVELS))
        ),
    ),
)
def gains_chart_deciles(spark, sf_dir):
    """Gains chart (cumulative capture and lift by score decile) for
    the length score predicting lang='en' — the third leg of the
    classifier-eval tier: AUC summarizes ranking, calibration checks
    probabilities, the gains chart answers the operational question
    "if I only keep the top k/10 of documents by score, what fraction
    of the positives do I capture, and at what lift over random?" —
    how quality-filter thresholds actually get picked.

    Decile boundaries come from exact percentiles (the
    percentile = quantile_cont bit-for-bit contract) BROADCAST into
    the scan — the boundary-broadcast equidepth pattern, no ntile, no
    global sort; decile 1 is the best-scoring tenth. Counts are exact
    integers; the cumulative window runs on the 10-row decile frame.
    """
    d = t(spark, sf_dir, "documents")
    b = d.agg(
        *[
            F.expr(f"percentile(n_chars, {q})").alias(f"b{i}")
            for i, q in enumerate(DECILE_LEVELS)
        ]
    )
    decile = 11 - (
        1
        + sum(
            (F.col("n_chars") > F.col(f"b{i}")).cast("int")
            for i in range(len(DECILE_LEVELS))
        )
    )
    assigned = d.crossJoin(F.broadcast(b)).select(
        decile.cast("bigint").alias("decile"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    tot = assigned.agg(
        F.sum("y").cast("bigint").alias("t_pos"),
        F.count(F.lit(1)).cast("bigint").alias("t_docs"),
    )
    g = assigned.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("y").cast("bigint").alias("n_pos"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    out = g.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_docs",
        "n_pos",
        (F.sum("n_pos").over(w) / F.col("t_pos").cast("double")).alias(
            "capture_raw"
        ),
        (F.sum("n_docs").over(w) / F.col("t_docs").cast("double")).alias(
            "share_raw"
        ),
    )
    return out.select(
        "decile",
        "n_docs",
        "n_pos",
        F.round("capture_raw", 9).alias("cum_capture"),
        F.round(F.col("capture_raw") / F.col("share_raw"), 6).alias(
            "cum_lift"
        ),
    )


# --------------------------------------------------------------------------
# one-way ANOVA: value by day-of-week
# --------------------------------------------------------------------------
@register(
    "anova_value_by_dow",
    oracle="""
    WITH g AS (
        SELECT CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS INT) AS dow,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s,
               CAST(SUM(CAST(value AS DECIMAL(18,2))
                        * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS ss
        FROM events GROUP BY 1
    ),
    m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS k,
               SUM(n) AS n, SUM(s) AS s, SUM(ss) AS ss,
               SUM(s * s / n) AS sb
        FROM g
    )
    SELECT CAST(n AS BIGINT) AS n_events,
           CAST(k AS BIGINT) AS n_groups,
           round(sb - s * s / n, 6) AS ss_between,
           round(ss - sb, 6) AS ss_within,
           round(((sb - s * s / n) / (k - 1))
                 / ((ss - sb) / (n - k)), 6) AS f_stat
    FROM m
    """,
)
def anova_value_by_dow(spark, sf_dir):
    """One-way ANOVA of event value across days of the week — the
    k-group generalization of the Welch t in
    ``ab_experiment_readout``: F = (SS_between/(k−1)) /
    (SS_within/(n−k)). An F near 1 says day-of-week explains no value
    variance (the precondition for pooling days in mixture plans); a
    large F says the seasonal decomposition is load-bearing.

    Group count/sum/sum-of-squares are DECIMAL-exact partial-
    aggregated rollups; every downstream quantity derives from those
    k=7 scalars cast to DOUBLE with identical expression trees
    (including SS_between = Σs²/n − S²/N, the power-sum identity that
    avoids a second pass over centered values). Plan: ONE shuffle of
    event-grain data to 7 groups, then scalar algebra."""
    e = t(spark, sf_dir, "events")
    dow = ((F.floor(F.unix_micros("ts") / 86_400_000_000) + 4) % 7).cast(
        "int"
    )
    vd = dec("value", 18, 2)
    g = e.groupBy(dow.alias("dow")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(vd).cast("double").alias("s"),
        F.sum(vd * vd).cast("double").alias("ss"),
    )
    m = g.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.sum("ss").alias("ss"),
        F.sum(F.col("s") * F.col("s") / F.col("n")).alias("sb"),
    )
    k, n, s_, ss, sb = (
        F.col("k"), F.col("n"), F.col("s"), F.col("ss"), F.col("sb")
    )
    return m.select(
        n.cast("bigint").alias("n_events"),
        k.cast("bigint").alias("n_groups"),
        F.round(sb - s_ * s_ / n, 6).alias("ss_between"),
        F.round(ss - sb, 6).alias("ss_within"),
        F.round(
            ((sb - s_ * s_ / n) / (k - 1)) / ((ss - sb) / (n - k)), 6
        ).alias("f_stat"),
    )


# --------------------------------------------------------------------------
# standardized residuals for the chi-squared contingency cells
# --------------------------------------------------------------------------
@register(
    "chi2_cell_residuals",
    oracle="""
    WITH obs AS (
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
    )
    SELECT event_type, dow,
           CAST(o AS BIGINT) AS observed,
           round(r * c / n, 6) AS expected,
           round((o - r * c / n)
                 / sqrt((r * c / n) * (1 - r / n) * (1 - c / n)), 6)
               + 0.0 AS std_residual
    FROM tot
    """,
)
def chi2_cell_residuals(spark, sf_dir):
    """Standardized (adjusted) Pearson residuals for every cell of the
    chi-squared contingency table — the drill-down
    ``chi2_independence_type_dow`` needs when it rejects: residual =
    (o − e) / sqrt(e(1 − r/N)(1 − c/N)) is approximately N(0,1) under
    independence, so |residual| > 2 names exactly WHICH (event type,
    day) cells drive the dependence and in which direction. One row
    per cell, -0 normalized on the rounded residual.

    Same exact integer cells and marginals as the test itself; the
    residual is the single float expression per cell, identical trees
    both engines. Plan: one event-grain rollup; marginal windows ride
    the ≤ r·c cell frame."""
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
    resid = (F.col("o") - ex) / F.sqrt(
        ex * (1 - F.col("r") / F.col("n")) * (1 - F.col("c") / F.col("n"))
    )
    return tot.select(
        "event_type",
        "dow",
        F.col("o").cast("bigint").alias("observed"),
        F.round(ex, 6).alias("expected"),
        (F.round(resid, 6) + 0.0).alias("std_residual"),
    )


# --------------------------------------------------------------------------
# experiment power analysis: minimum detectable effect + required n
# --------------------------------------------------------------------------
@register(
    "power_analysis_mde",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS tv
        FROM events GROUP BY user_id
    ),
    m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(tv AS DECIMAL(28,9))) AS DOUBLE) AS s,
               CAST(SUM(CAST(tv AS DECIMAL(28,9))
                        * CAST(tv AS DECIMAL(28,9))) AS DOUBLE) AS ss
        FROM per_user
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           round(s / n, 6) AS mean_value,
           round((n * ss - s * s) / (n * (n - 1.0)), 6) AS var_value,
           round((1.96 + 0.8416)
                 * sqrt(2 * ((n * ss - s * s) / (n * (n - 1.0)))
                        / (n / 2.0)), 6) AS mde_abs,
           round((1.96 + 0.8416)
                 * sqrt(2 * ((n * ss - s * s) / (n * (n - 1.0)))
                        / (n / 2.0)) / (s / n), 6) AS mde_rel,
           CAST(ceil(2 * (1.96 + 0.8416) * (1.96 + 0.8416)
                     * ((n * ss - s * s) / (n * (n - 1.0)))
                     / ((0.05 * s / n) * (0.05 * s / n)))
                AS BIGINT) AS n_per_arm_for_5pct
    FROM m
    """,
)
def power_analysis_mde(spark, sf_dir):
    """Experiment power analysis from the metric's own moments: with
    the current population split 50/50, the minimum detectable effect
    at alpha = 0.05 (two-sided) and 80% power is MDE =
    (z_{0.975} + z_{0.80}) * sqrt(2 sigma^2 / n_arm) — the question
    every experiment review asks BEFORE launch ("can this test even
    see a 5% move?"), answered beside the required per-arm sample
    size for a 5% relative effect. z constants inlined (1.96,
    0.8416), matching the Wilson/Welch convention of the readout
    queries.

    Variance comes from the same DECIMAL-exact power sums as
    ``ab_experiment_readout``; every output is closed-form algebra
    over (n, S, SS) cast once to DOUBLE. Plan: one user-grain
    shuffle, one scalar rollup."""
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("tv")
    )
    tvd = F.col("tv").cast("decimal(28,9)")
    m = per_user.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(tvd).cast("double").alias("s"),
        F.sum(tvd * tvd).cast("double").alias("ss"),
    )
    n, s_, ss = F.col("n"), F.col("s"), F.col("ss")
    var = (n * ss - s_ * s_) / (n * (n - 1.0))
    z = 1.96 + 0.8416
    mde = z * F.sqrt(2 * var / (n / 2.0))
    return m.select(
        n.cast("bigint").alias("n_users"),
        F.round(s_ / n, 6).alias("mean_value"),
        F.round(var, 6).alias("var_value"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / (s_ / n), 6).alias("mde_rel"),
        F.ceil(
            2 * z * z * var / ((0.05 * s_ / n) * (0.05 * s_ / n))
        )
        .cast("bigint")
        .alias("n_per_arm_for_5pct"),
    )


# --------------------------------------------------------------------------
# Spearman rank correlation (exact 2x-scaled average ranks)
# --------------------------------------------------------------------------
@register(
    "spearman_rank_corr",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                   AS y
        FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT CAST(RANK() OVER (ORDER BY x) AS BIGINT) * 2
               + CAST(COUNT(*) OVER (PARTITION BY x) AS BIGINT) - 1
                   AS rx2,
               CAST(RANK() OVER (ORDER BY y) AS BIGINT) * 2
               + CAST(COUNT(*) OVER (PARTITION BY y) AS BIGINT) - 1
                   AS ry2
        FROM per_user
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(rx2) AS BIGINT) AS sa,
               CAST(SUM(ry2) AS BIGINT) AS sb,
               CAST(SUM(rx2 * rx2) AS BIGINT) AS saa,
               CAST(SUM(ry2 * ry2) AS BIGINT) AS sbb,
               CAST(SUM(rx2 * ry2) AS BIGINT) AS sab
        FROM ranked
    )
    SELECT n AS n_users,
           round((CAST(n AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb)
                 / sqrt((CAST(n AS DOUBLE) * saa
                         - CAST(sa AS DOUBLE) * sa)
                        * (CAST(n AS DOUBLE) * sbb
                           - CAST(sb AS DOUBLE) * sb)), 9)
               + 0.0 AS rho
    FROM sums
    """,
)
def spearman_rank_corr(spark, sf_dir):
    """Spearman rank correlation between a user's activity (event
    count) and spend (total value) — the monotone-association measure
    drift/quality monitoring uses where Pearson is distorted by heavy
    tails. ρ = Pearson over average ranks; the 2x factor of the
    scaled ranks cancels in the correlation, so carrying 2·avg_rank
    (= min_rank + max_rank of the tie group) keeps every rank sum an
    EXACT integer under ties — the same scaled-rank device as
    ``mann_whitney_u_values``, applied twice (one ranking per
    variable).

    Plan: user-grain rollup (one shuffle), then each variable ranks
    inside value buckets and adds the broadcast count of every
    earlier bucket (``exact_cumulative``; no single-partition sort);
    the five power sums
    of the two rank vectors reduce in one aggregation and only the
    final ρ divides in floating point (−0 normalized)."""
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        (F.sum(dec("value", 18, 2)) * 100).cast("bigint").alias("y"),
    )

    def rank2_of(df, col, out):
        # equal values share a bucket, so tie-group midranks are exact
        acc, w = exact_cumulative(df, (col,), {"n": F.count(F.lit(1))})
        r2 = (
            (F.rank().over(w).cast("bigint") + F.col("off_n")) * 2
            + F.count(F.lit(1))
            .over(Window.partitionBy("pid", col))
            .cast("bigint")
            - 1
        )
        return acc.select("user_id", r2.alias(out))

    rx = rank2_of(per_user.select("user_id", "x"), "x", "rx2")
    ry = rank2_of(per_user.select("user_id", "y"), "y", "ry2")
    sums = (
        rx.join(ry, "user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            # first-order rank sums also grow ~N^2 — decimal partials
            F.sum(F.col("rx2").cast("decimal(38,0)")).alias("sa"),
            F.sum(F.col("ry2").cast("decimal(38,0)")).alias("sb"),
            F.sum(F.col("rx2").cast("decimal(38,0)") * F.col("rx2")).alias("saa"),
            F.sum(F.col("ry2").cast("decimal(38,0)") * F.col("ry2")).alias("sbb"),
            F.sum(F.col("rx2").cast("decimal(38,0)") * F.col("ry2")).alias("sab"),
        )
    )
    n, sa, sb = F.col("n"), F.col("sa"), F.col("sb")
    saa, sbb, sab = F.col("saa"), F.col("sbb"), F.col("sab")
    rho = (n.cast("double") * sab - sa.cast("double") * sb) / F.sqrt(
        (n.cast("double") * saa - sa.cast("double") * sa)
        * (n.cast("double") * sbb - sb.cast("double") * sb)
    )
    return sums.select(
        n.alias("n_users"),
        (F.round(rho, 9) + 0.0).alias("rho"),
    )


# --------------------------------------------------------------------------
# Benjamini-Hochberg FDR over the contingency-cell z family
# --------------------------------------------------------------------------

# two-sided normal tail p = 1 - erf(|z| / sqrt(2)) via the
# Abramowitz-Stegun 7.1.26 polynomial (|eps| < 1.5e-7) — neither
# engine ships erf in SQL, and an IDENTICAL Horner expression tree on
# IEEE doubles is bit-reproducible across both
_AS_ERFC_SQL = (
    "(((((1.061405429 * __t - 1.453152027) * __t + 1.421413741) * __t"
    " - 0.284496736) * __t + 0.254829592) * __t) * exp(-__x * __x)"
)


def _p_two_sided_sql(z_expr: str) -> str:
    x = f"(abs({z_expr}) / 1.4142135623730951)"
    t = f"(1.0 / (1.0 + 0.3275911 * {x}))"
    return (
        _AS_ERFC_SQL.replace("__t", t).replace("__x", x)
    )


@register(
    "bh_fdr_correction",
    oracle=f"""
    WITH obs AS (
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
    z AS (
        SELECT event_type, dow,
               (o - r * c / n)
               / sqrt((r * c / n) * (1 - r / n) * (1 - c / n)) AS z
        FROM tot
    ),
    p AS (
        SELECT event_type, dow, z,
               {_p_two_sided_sql('z')} AS p
        FROM z
    ),
    ranked AS (
        SELECT event_type, dow, z, p,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY p, event_type, dow
               ) AS BIGINT) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS m
        FROM p
    ),
    cutoff AS (
        SELECT COALESCE(MAX(CASE WHEN p <= 0.10 * i / m THEN i END), 0)
                   AS istar
        FROM ranked
    )
    SELECT event_type, dow,
           round(z, 6) + 0.0 AS z,
           round(p, 9) AS p_value,
           i AS bh_rank,
           CAST(CASE WHEN i <= (SELECT istar FROM cutoff)
                     THEN 1 ELSE 0 END AS INT) AS rejected
    FROM ranked
    """,
)
def bh_fdr_correction(spark, sf_dir):
    """Benjamini-Hochberg FDR control over a test FAMILY — the
    multiple-comparisons step every experimentation readout with more
    than one metric needs: the 35 standardized contingency residuals
    (event_type × day-of-week, the ``chi2_cell_residuals`` family)
    become two-sided p-values, and BH rejects the i* smallest where
    i* = max{{i : p_(i) ≤ q·i/m}} at q = 0.10 — adaptive to how many
    signals are real, unlike Bonferroni's flat q/m.

    The normal tail has no SQL builtin in either engine, so p = 1 −
    erf(|z|/√2) is computed by the Abramowitz-Stegun 7.1.26 polynomial
    as an IDENTICAL Horner tree on IEEE doubles — bit-reproducible,
    |ε| < 1.5e-7 (the reject decision compares unrounded doubles, so
    both engines decide identically). The sort/rank frame is the
    5×7-cell family — a bounded test-family domain, never data-sized;
    the event-grain work is one contingency rollup."""
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
    x = F.abs(F.col("z")) / 1.4142135623730951
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
    zp = tot.select("event_type", "dow", z.alias("z")).withColumn("p", p)
    wrank = Window.orderBy("p", "event_type", "dow")
    ranked = zp.select(
        "event_type",
        "dow",
        "z",
        "p",
        F.row_number().over(wrank).cast("bigint").alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("m"),
    )
    istar = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p") <= 0.10 * F.col("i") / F.col("m"), F.col("i")
                )
            ),
            F.lit(0),
        ).alias("istar")
    )
    return ranked.crossJoin(F.broadcast(istar)).select(
        "event_type",
        "dow",
        (F.round("z", 6) + 0.0).alias("z"),
        F.round("p", 9).alias("p_value"),
        F.col("i").alias("bh_rank"),
        (F.col("i") <= F.col("istar")).cast("int").alias("rejected"),
    )


# --------------------------------------------------------------------------
# CUSUM changepoint scan over the daily value series
# --------------------------------------------------------------------------
@register(
    "cusum_changepoint_scan",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                   AS v
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nd,
               CAST(SUM(v) AS BIGINT) AS tv,
               CAST(SUM(v * v) AS BIGINT) AS tvv
        FROM daily
    ),
    walk AS (
        SELECT d,
               CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS i,
               CAST(SUM(v) OVER (
                   ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW
               ) AS BIGINT) AS cs
        FROM daily
    ),
    scaled AS (
        SELECT w.d, w.i,
               CAST(t.nd * w.cs - w.i * t.tv AS BIGINT) AS s_scaled
        FROM walk w CROSS JOIN tot t
    ),
    peak AS (
        SELECT d, i, s_scaled,
               ROW_NUMBER() OVER (
                   ORDER BY abs(s_scaled) DESC, d
               ) AS pk
        FROM scaled
    )
    SELECT t.nd AS n_days,
           CAST(to_timestamp((p.d * 86400)) AS TIMESTAMP) AS cp_day,
           CAST(abs(p.s_scaled) AS BIGINT) AS peak_scaled,
           round(abs(p.s_scaled) / CAST(t.nd AS DOUBLE)
                 / sqrt((CAST(t.nd AS DOUBLE) * t.tvv
                         - CAST(t.tv AS DOUBLE) * t.tv)
                        / (t.nd * (t.nd - 1.0)))
                 / sqrt(CAST(t.nd AS DOUBLE)), 6) AS cusum_stat
    FROM peak p CROSS JOIN tot t WHERE p.pk = 1
    """,
)
def cusum_changepoint_scan(spark, sf_dir):
    """CUSUM changepoint scan over the daily revenue series — the
    level-shift detector a pipeline health monitor runs on every
    rollup: S_t = Σ_{d≤t}(v_d − mean) peaks at the most likely shift
    point; the normalized peak max|S|/(σ̂·√n) is the test statistic
    (≳1.36 rejects "no shift" at 5% by the Kolmogorov bound).

    Exactness: daily totals are integer cents; S_t is carried
    n-scaled (n·cumsum_t − t·total — integers, no mean division), so
    the argmax day is decided on EXACT integers with a calendar
    tiebreak, and only the final normalization divides. The
    cumsum/argmax frames are the ~30-row daily series — a bounded
    calendar domain (the audit-allowlisted class), never event-grain;
    the event scan is one day rollup."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg((F.sum(dec("value", 18, 2)) * 100).cast("bigint").alias("v"))
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("v").cast("bigint").alias("tv"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("tvv"),
    )
    wday = Window.orderBy("d")
    walk = daily.select(
        "d",
        F.row_number().over(wday).cast("bigint").alias("i"),
        F.sum("v")
        .over(wday.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cs"),
    )
    scaled = walk.crossJoin(F.broadcast(tot)).select(
        "d",
        "i",
        (F.col("nd") * F.col("cs") - F.col("i") * F.col("tv"))
        .cast("bigint")
        .alias("s_scaled"),
        "nd",
        "tv",
        "tvv",
    )
    peak = scaled.withColumn(
        "pk",
        F.row_number().over(
            Window.orderBy(F.abs(F.col("s_scaled")).desc(), F.col("d"))
        ),
    ).where(F.col("pk") == 1)
    nd, tv, tvv = F.col("nd"), F.col("tv"), F.col("tvv")
    var = (nd.cast("double") * tvv - tv.cast("double") * tv) / (
        nd * (nd - 1.0)
    )
    return peak.select(
        nd.alias("n_days"),
        F.timestamp_seconds(F.col("d") * 86400).alias("cp_day"),
        F.abs(F.col("s_scaled")).cast("bigint").alias("peak_scaled"),
        F.round(
            F.abs(F.col("s_scaled"))
            / nd.cast("double")
            / F.sqrt(var)
            / F.sqrt(nd.cast("double")),
            6,
        ).alias("cusum_stat"),
    )


# --------------------------------------------------------------------------
# partial correlation with a control variable
# --------------------------------------------------------------------------
@register(
    "partial_correlation_controls",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                   AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                             ELSE 0 END) AS BIGINT) AS y,
               CAST(COUNT(DISTINCT epoch_us(ts) // 86400000000)
                    AS BIGINT) AS z
        FROM events GROUP BY user_id
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(z) AS DOUBLE) AS sz,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(y * y) AS DOUBLE) AS syy,
               CAST(SUM(z * z) AS DOUBLE) AS szz,
               CAST(SUM(x * y) AS DOUBLE) AS sxy,
               CAST(SUM(x * z) AS DOUBLE) AS sxz,
               CAST(SUM(y * z) AS DOUBLE) AS syz
        FROM per_user
    ),
    r AS (
        SELECT n,
               (n * sxy - sx * sy)
               / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS rxy,
               (n * sxz - sx * sz)
               / sqrt((n * sxx - sx * sx) * (n * szz - sz * sz)) AS rxz,
               (n * syz - sy * sz)
               / sqrt((n * syy - sy * sy) * (n * szz - sz * sz)) AS ryz
        FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           round(rxy, 9) + 0.0 AS r_spend_purchases,
           round(rxz, 9) + 0.0 AS r_spend_days,
           round(ryz, 9) + 0.0 AS r_purchases_days,
           round((rxy - rxz * ryz)
                 / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 9)
               + 0.0 AS partial_r
    FROM r
    """,
)
def partial_correlation_controls(spark, sf_dir):
    """First-order partial correlation: does spend correlate with
    purchase count once ACTIVITY (distinct active days) is controlled
    for? r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) — the
    confound check an experimentation platform applies before
    reporting a raw correlation as signal.

    All three Pearson correlations derive from ONE pass of exact
    integer power sums (cents, counts, day counts — no float
    accumulation), combined in identical expression trees; −0
    normalized on every rounded output. Plan: user-grain rollup (one
    shuffle), one 10-scalar aggregation, scalar algebra."""
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        (F.sum(dec("value", 18, 2)) * 100).cast("bigint").alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("bigint")
        .alias("y"),
        F.countDistinct(
            F.floor(F.unix_micros("ts") / 86_400_000_000)
        )
        .cast("bigint")
        .alias("z"),
    )
    s = per_user.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("z").cast("double").alias("sz"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("z")).cast("double").alias("szz"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("z")).cast("double").alias("sxz"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("z")).cast("double").alias("syz"),
    )
    n = F.col("n")
    rxy = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    rxz = (n * F.col("sxz") - F.col("sx") * F.col("sz")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("szz") - F.col("sz") * F.col("sz"))
    )
    ryz = (n * F.col("syz") - F.col("sy") * F.col("sz")) / F.sqrt(
        (n * F.col("syy") - F.col("sy") * F.col("sy"))
        * (n * F.col("szz") - F.col("sz") * F.col("sz"))
    )
    r = s.select(n.alias("n"), rxy.alias("rxy"), rxz.alias("rxz"), ryz.alias("ryz"))
    return r.select(
        F.col("n").cast("bigint").alias("n_users"),
        (F.round("rxy", 9) + 0.0).alias("r_spend_purchases"),
        (F.round("rxz", 9) + 0.0).alias("r_spend_days"),
        (F.round("ryz", 9) + 0.0).alias("r_purchases_days"),
        (
            F.round(
                (F.col("rxy") - F.col("rxz") * F.col("ryz"))
                / F.sqrt(
                    (1 - F.col("rxz") * F.col("rxz"))
                    * (1 - F.col("ryz") * F.col("ryz"))
                ),
                9,
            )
            + 0.0
        ).alias("partial_r"),
    )


# --------------------------------------------------------------------------
# Cochran-Armitage trend test across ordered exposure levels
# --------------------------------------------------------------------------
@register(
    "cochran_armitage_trend",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               LEAST(GREATEST(CAST(FLOOR(
                   (CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100
                         AS DOUBLE) / COUNT(*) - 4000.0) / 800.0
               ) AS BIGINT), 0), 4) AS lvl,
               CASE WHEN 5 * SUM(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END) >= COUNT(*)
                    THEN 1 ELSE 0 END AS conv
        FROM events GROUP BY user_id
    ),
    lv AS (
        SELECT lvl,
               CAST(COUNT(*) AS BIGINT) AS n_l,
               CAST(SUM(conv) AS BIGINT) AS r_l
        FROM per_user GROUP BY lvl
    ),
    s AS (
        SELECT CAST(SUM(n_l) AS DOUBLE) AS n,
               CAST(SUM(r_l) AS DOUBLE) AS r,
               CAST(SUM(lvl * r_l) AS DOUBLE) AS sr,
               CAST(SUM(lvl * n_l) AS DOUBLE) AS sn,
               CAST(SUM(lvl * lvl * n_l) AS DOUBLE) AS ssn,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM lv
    )
    SELECT k AS n_levels,
           CAST(n AS BIGINT) AS n_users,
           CAST(r AS BIGINT) AS n_converted,
           round((n * sr - r * sn)
                 / sqrt(r * (n - r) * (n * ssn - sn * sn) / n), 6)
               + 0.0 AS ca_z
    FROM s
    """,
)
def cochran_armitage_trend(spark, sf_dir):
    """Cochran-Armitage trend test: does conversion probability rise
    MONOTONICALLY with spend level (per-user average value bucketed
    into ordered exposure levels 0–4)? — the dose-response test a chi-squared
    can't express: chi2 sees any deviation, CA spends all its power
    on the ordered trend (Z ~ N(0,1) under no-trend, with the
    per-level scores as doses).

    Z = (NΣs·r_ℓ − RΣs·n_ℓ)/√(R(N−R)(NΣs²n_ℓ − (Σs·n_ℓ)²)/N) — every
    Σ is an exact integer from a two-level rollup (user grain, then
    ≤5 levels); the level assignment floors an identically-ordered
    double expression (cents/count) in both engines, and the
    statistic is one float expression, −0 normalized. The outcome
    (purchase share ≥ 20%) and dose buckets are RATIOS, so neither
    degenerates as events-per-user grows with SF. Plan: one
    user-grain shuffle, one bounded-domain rollup."""
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.least(
            F.greatest(
                F.floor(
                    (
                        (F.sum(dec("value", 18, 2)) * 100).cast("double")
                        / F.count(F.lit(1))
                        - 4000.0
                    )
                    / 800.0
                ).cast("bigint"),
                F.lit(0),
            ),
            F.lit(4),
        ).alias("lvl"),
        (
            5 * F.sum((F.col("event_type") == "purchase").cast("int"))
            >= F.count(F.lit(1))
        )
        .cast("int")
        .alias("conv"),
    )
    lv = per_user.groupBy("lvl").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_l"),
        F.sum("conv").cast("bigint").alias("r_l"),
    )
    s = lv.agg(
        F.sum("n_l").cast("double").alias("n"),
        F.sum("r_l").cast("double").alias("r"),
        F.sum(F.col("lvl") * F.col("r_l")).cast("double").alias("sr"),
        F.sum(F.col("lvl") * F.col("n_l")).cast("double").alias("sn"),
        F.sum(F.col("lvl") * F.col("lvl") * F.col("n_l"))
        .cast("double")
        .alias("ssn"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    n, r = F.col("n"), F.col("r")
    sr, sn, ssn = F.col("sr"), F.col("sn"), F.col("ssn")
    return s.select(
        F.col("k").alias("n_levels"),
        n.cast("bigint").alias("n_users"),
        r.cast("bigint").alias("n_converted"),
        (
            F.round(
                (n * sr - r * sn)
                / F.sqrt(r * (n - r) * (n * ssn - sn * sn) / n),
                6,
            )
            + 0.0
        ).alias("ca_z"),
    )


# --------------------------------------------------------------------------
# McNemar paired test (within-user before/after conversion flip)
# --------------------------------------------------------------------------
@register(
    "mcnemar_paired_outcomes",
    oracle="""
    WITH halves AS (
        SELECT user_id,
               CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                              AND epoch_us(ts) // 86400000000 < 19737
                             THEN 1 ELSE 0 END)
                    >= SUM(CASE WHEN event_type = 'click'
                                 AND epoch_us(ts) // 86400000000 < 19737
                                THEN 1 ELSE 0 END)
                    THEN 1 ELSE 0 END AS first_half,
               CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                              AND epoch_us(ts) // 86400000000 >= 19737
                             THEN 1 ELSE 0 END)
                    >= SUM(CASE WHEN event_type = 'click'
                                 AND epoch_us(ts) // 86400000000 >= 19737
                                THEN 1 ELSE 0 END)
                    THEN 1 ELSE 0 END AS second_half
        FROM events GROUP BY user_id
    ),
    cells AS (
        SELECT CAST(SUM(first_half * (1 - second_half)) AS BIGINT) AS b,
               CAST(SUM((1 - first_half) * second_half) AS BIGINT) AS c,
               CAST(SUM(first_half * second_half) AS BIGINT) AS both_n,
               CAST(SUM((1 - first_half) * (1 - second_half)) AS BIGINT)
                   AS neither_n
        FROM halves
    )
    SELECT b AS n_lost, c AS n_gained, both_n, neither_n,
           round((b - c) * (b - c) / CAST(b + c AS DOUBLE), 6)
               AS mcnemar_chi2,
           round((abs(b - c) - 1) * (abs(b - c) - 1)
                 / CAST(b + c AS DOUBLE), 6) AS mcnemar_cc_chi2
    FROM cells
    """,
)
def mcnemar_paired_outcomes(spark, sf_dir):
    """McNemar's test for PAIRED binary outcomes — did each user's
    purchase-dominance state (more purchases than clicks in the
    half — a ratio outcome, scale-free in events-per-user) flip
    between the first and second half of the window? The within-subject design two independent proportions
    can't express: only the DISCORDANT users (converted→lapsed b,
    non→converted c) carry information, χ² = (b−c)²/(b+c), with the
    Edwards continuity-corrected variant beside it. The half-split
    day boundary (epoch day 19737 = 2024-01-15) is a fixed constant,
    so the pairing is reproducible.

    One user-grain rollup (exact 0/1 cells), one 4-scalar reduce,
    one float expression per statistic."""
    e = t(spark, sf_dir, "events")
    day = F.floor(F.unix_micros("ts") / 86_400_000_000)
    is_p = F.col("event_type") == "purchase"
    is_c = F.col("event_type") == "click"
    halves = e.groupBy("user_id").agg(
        (
            F.sum((is_p & (day < 19737)).cast("int"))
            >= F.sum((is_c & (day < 19737)).cast("int"))
        )
        .cast("int")
        .alias("first_half"),
        (
            F.sum((is_p & (day >= 19737)).cast("int"))
            >= F.sum((is_c & (day >= 19737)).cast("int"))
        )
        .cast("int")
        .alias("second_half"),
    )
    fh, sh = F.col("first_half"), F.col("second_half")
    cells = halves.agg(
        F.sum(fh * (1 - sh)).cast("bigint").alias("b"),
        F.sum((1 - fh) * sh).cast("bigint").alias("c"),
        F.sum(fh * sh).cast("bigint").alias("both_n"),
        F.sum((1 - fh) * (1 - sh)).cast("bigint").alias("neither_n"),
    )
    b, c = F.col("b"), F.col("c")
    return cells.select(
        b.alias("n_lost"),
        c.alias("n_gained"),
        "both_n",
        "neither_n",
        F.round((b - c) * (b - c) / (b + c).cast("double"), 6).alias(
            "mcnemar_chi2"
        ),
        F.round(
            (F.abs(b - c) - 1) * (F.abs(b - c) - 1)
            / (b + c).cast("double"),
            6,
        ).alias("mcnemar_cc_chi2"),
    )


# --------------------------------------------------------------------------
# Brown-Forsythe (median-centered Levene) variance homogeneity test
# --------------------------------------------------------------------------
@register(
    "levene_brown_forsythe",
    oracle="""
    WITH pts AS (
        SELECT event_type AS g,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        FROM events
    ),
    dv AS (
        SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c
        FROM pts GROUP BY g, v
    ),
    cum AS (
        SELECT g, v,
               CAST(SUM(c) OVER (
                   PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cc,
               CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n
        FROM dv
    ),
    med AS (
        SELECT g, CAST(MIN(v) AS BIGINT) AS med
        FROM cum WHERE 2 * cc >= n GROUP BY g
    ),
    z AS (
        SELECT p.g, ABS(p.v - m.med) AS z
        FROM pts p JOIN med m ON p.g = m.g
    ),
    grp AS (
        SELECT g,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(z) AS DOUBLE) AS s,
               CAST(SUM(z * z) AS DOUBLE) AS ss
        FROM z GROUP BY g
    ),
    m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS k,
               SUM(n) AS n, SUM(s) AS s, SUM(ss) AS ss,
               SUM(s * s / n) AS sb
        FROM grp
    )
    SELECT CAST(n AS BIGINT) AS n_events,
           CAST(k AS BIGINT) AS n_groups,
           round(((sb - s * s / n) / (k - 1))
                 / ((ss - sb) / (n - k)), 6) AS bf_f_stat
    FROM m
    """,
)
def levene_brown_forsythe(spark, sf_dir):
    """Brown-Forsythe test (median-centered Levene): do the five
    event types have EQUAL VALUE VARIANCE? — the homogeneity
    precondition ANOVA assumes, tested robustly: score each value by
    its absolute deviation from the GROUP MEDIAN (median centering is
    what makes it Brown-Forsythe — robust where mean-centered Levene
    is wrecked by the same heavy tails it is testing for), then
    one-way ANOVA on the scores.

    Group medians are EXACT lower medians computed on the integer
    cents domain (cumulative counts per group over the distinct-value
    grid — the gini_split_threshold device, partitioned by group);
    deviations |v − med| are exact integers, so the F statistic's
    power sums are integer-exact and only the final ratio divides."""
    e = t(spark, sf_dir, "events")
    pts = e.select(
        F.col("event_type").alias("g"),
        (dec("value", 18, 2) * 100).cast("bigint").alias("v"),
    )
    dv = pts.groupBy("g", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cum = dv.select(
        "g",
        "v",
        F.sum("c")
        .over(
            Window.partitionBy("g")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("bigint")
        .alias("cc"),
        F.sum("c").over(Window.partitionBy("g")).cast("bigint").alias("n"),
    )
    med = (
        cum.where(2 * F.col("cc") >= F.col("n"))
        .groupBy("g")
        .agg(F.min("v").cast("bigint").alias("med"))
    )
    z = pts.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("v") - F.col("med")).alias("z")
    )
    grp = z.groupBy("g").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("z").cast("double").alias("s"),
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("z")).cast("double").alias("ss"),
    )
    m = grp.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.sum("ss").alias("ss"),
        F.sum(F.col("s") * F.col("s") / F.col("n")).alias("sb"),
    )
    k, n, s_, ss, sb = (
        F.col("k"), F.col("n"), F.col("s"), F.col("ss"), F.col("sb"),
    )
    return m.select(
        n.cast("bigint").alias("n_events"),
        k.cast("bigint").alias("n_groups"),
        F.round(
            ((sb - s_ * s_ / n) / (k - 1)) / ((ss - sb) / (n - k)), 6
        ).alias("bf_f_stat"),
    )


# --------------------------------------------------------------------------
# Wald-Wolfowitz runs test on the daily up/down sequence
# --------------------------------------------------------------------------
@register(
    "runs_test_randomness",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                   AS v
        FROM events GROUP BY 1
    ),
    signs AS (
        SELECT d,
               CASE WHEN v >= LAG(v) OVER (ORDER BY d)
                    THEN 1 ELSE 0 END AS up
        FROM daily
        QUALIFY LAG(v) OVER (ORDER BY d) IS NOT NULL
    ),
    runs AS (
        SELECT up,
               CASE WHEN up <> LAG(up) OVER (ORDER BY d)
                     OR LAG(up) OVER (ORDER BY d) IS NULL
                    THEN 1 ELSE 0 END AS new_run
        FROM signs
    ),
    s AS (
        SELECT CAST(SUM(up) AS DOUBLE) AS n1,
               CAST(SUM(1 - up) AS DOUBLE) AS n2,
               CAST(SUM(new_run) AS BIGINT) AS r
        FROM runs
    )
    SELECT CAST(n1 AS BIGINT) AS n_up,
           CAST(n2 AS BIGINT) AS n_down,
           r AS n_runs,
           round((r - (2 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
                        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))), 6)
               + 0.0 AS runs_z
    FROM s
    """,
)
def runs_test_randomness(spark, sf_dir):
    """Wald-Wolfowitz runs test on the daily revenue direction
    sequence: too FEW runs of consecutive up/down days means
    persistence (trend/autocorrelation), too many means oscillation —
    the nonparametric "is this series random?" check a forecast
    pipeline runs before trusting an i.i.d.-assuming model.
    Z = (R − μ)/σ with μ = 2n₁n₂/(n₁+n₂) + 1.

    Up/down decided on exact integer cents (ties count as up,
    stated); run boundaries and counts are integer window logic over
    the calendar-day frame (domain-bounded, the cusum class); one
    float expression at the end, −0 normalized."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg((F.sum(dec("value", 18, 2)) * 100).cast("bigint").alias("v"))
    wd = Window.orderBy("d")
    signs = (
        daily.select(
            "d",
            F.col("v"),
            F.lag("v").over(wd).alias("pv"),
        )
        .where(F.col("pv").isNotNull())
        .select(
            "d", (F.col("v") >= F.col("pv")).cast("int").alias("up")
        )
    )
    runs = signs.select(
        "up",
        F.when(
            F.lag("up").over(wd).isNull()
            | (F.col("up") != F.lag("up").over(wd)),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    s = runs.agg(
        F.sum("up").cast("double").alias("n1"),
        F.sum(1 - F.col("up")).cast("double").alias("n2"),
        F.sum("new_run").cast("bigint").alias("r"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    mu = 2 * n1 * n2 / (n1 + n2) + 1
    sig = F.sqrt(
        2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))
    )
    return s.select(
        n1.cast("bigint").alias("n_up"),
        n2.cast("bigint").alias("n_down"),
        r.alias("n_runs"),
        (F.round((r - mu) / sig, 6) + 0.0).alias("runs_z"),
    )


# --------------------------------------------------------------------------
# Grubbs maximum-outlier test on daily totals
# --------------------------------------------------------------------------
@register(
    "grubbs_max_outlier",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                   AS v
        FROM events GROUP BY 1
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(v) AS DOUBLE) AS sv,
               CAST(SUM(v * v) AS DOUBLE) AS svv
        FROM daily
    ),
    scored AS (
        SELECT d.d, d.v, s.n,
               ABS(d.v * s.n - s.sv) AS dev_scaled
        FROM daily d CROSS JOIN s
    ),
    peak AS (
        SELECT d, v, n, dev_scaled,
               ROW_NUMBER() OVER (ORDER BY dev_scaled DESC, d) AS rn
        FROM scored
    )
    SELECT CAST(p.n AS BIGINT) AS n_days,
           CAST(p.d * 86400000000 AS BIGINT) AS outlier_day_us,
           CAST(p.v AS BIGINT) AS outlier_cents,
           round((p.dev_scaled / p.n)
                 / sqrt((s.n * s.svv - s.sv * s.sv)
                        / (s.n * (s.n - 1.0))), 6) AS grubbs_g
    FROM peak p CROSS JOIN s WHERE p.rn = 1
    """,
)
def grubbs_max_outlier(spark, sf_dir):
    """Grubbs' test for a single outlier in the daily revenue series:
    G = max|x − x̄|/s — the "is the worst day statistically
    anomalous, or just the tail of normal variation?" check that
    gates an alerting pipeline's loudest alarm. The argmax is decided
    on |v·n − Σv| — EXACT integers (n-scaled deviation, no mean
    division), with a calendar tiebreak; G itself is one float
    expression from integer power sums.

    Day totals are one event-grain rollup; the scan for the peak
    rides the bounded calendar frame. Emits the day, its total, and
    G (compare to the n-dependent critical value offline)."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg((F.sum(dec("value", 18, 2)) * 100).cast("bigint").alias("v"))
    s = daily.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("v").cast("double").alias("sv"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v"))
        .cast("double")
        .alias("svv"),
    )
    scored = daily.crossJoin(F.broadcast(s)).select(
        "d",
        "v",
        "n",
        "sv",
        "svv",
        F.abs(F.col("v") * F.col("n") - F.col("sv")).alias("dev_scaled"),
    )
    peak = scored.withColumn(
        "rn",
        F.row_number().over(
            Window.orderBy(F.col("dev_scaled").desc(), F.col("d"))
        ),
    ).where(F.col("rn") == 1)
    return peak.select(
        F.col("n").cast("bigint").alias("n_days"),
        (F.col("d") * 86_400_000_000).cast("bigint").alias("outlier_day_us"),
        F.col("v").cast("bigint").alias("outlier_cents"),
        F.round(
            (F.col("dev_scaled") / F.col("n"))
            / F.sqrt(
                (F.col("n") * F.col("svv") - F.col("sv") * F.col("sv"))
                / (F.col("n") * (F.col("n") - 1.0))
            ),
            6,
        ).alias("grubbs_g"),
    )
