"""Shared helpers for registry queries."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType
from pyspark.sql.window import WindowSpec

from ..sources.tables import load_table


def t(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_min_us: int | None = None,
) -> DataFrame:
    """Registry-local alias for ``sources.load_table`` (the single
    loader that also normalizes the events nanos-timestamp quirk).
    ``ts_min_us`` pushes a ``ts`` lower bound into the scan in the
    file's physical domain (see load_table)."""
    return load_table(spark, sf_dir, name, ts_min_us=ts_min_us)


def dec(col, precision: int = 12, scale: int = 2) -> Column:
    """Fixed-scale decimal view of a double column.

    double → decimal rounding is deterministic across engines (a k-decimal
    boundary like x.005 is never exactly representable in binary, so the
    double is strictly on one side of it everywhere). All downstream
    +,-,*,SUM stay exact — no float-order dependence in aggregates.
    """
    c = col if isinstance(col, Column) else F.col(col)
    return c.cast(f"decimal({precision},{scale})")


def dsum(col, precision: int = 12, scale: int = 2) -> Column:
    """Order-independent SUM of a double column, returned as DOUBLE."""
    return F.sum(dec(col, precision, scale)).cast("double")


def davg(col, precision: int = 12, scale: int = 2) -> Column:
    """Order-independent AVG: exact decimal sum / count, in doubles."""
    return F.sum(dec(col, precision, scale)).cast("double") / F.count(
        F.lit(1)
    ).cast("double")


def exact_cumulative(
    frame: DataFrame,
    order: tuple[str, ...],
    sums: dict[str, Column],
    keys: tuple[str, ...] = (),
    buckets: int = 1024,
) -> tuple[DataFrame, WindowSpec]:
    """Exact global running aggregates over ``order`` (per ``keys``
    group) with no single-partition window: the two-level block scan
    (Blelloch 1990) — a local scan inside each value bucket plus an
    exclusive scan of the bucket totals as offsets.

    ``sums`` maps an output name to a decomposable aggregate Column
    (``F.sum(x)``, ``F.count(F.lit(1))``). Returns ``(df, w)``: ``df``
    is ``frame`` plus, per name ``o``, ``cum_o`` (the inclusive
    running aggregate in ``order``, rows frame), ``off_o`` (the
    aggregate over all strictly-earlier buckets of the group) and
    ``tot_o`` (the group's total), plus the bucket id ``pid``; ``w``
    is the in-bucket window ``partitionBy(*keys, "pid")
    .orderBy(*order)`` on which ranking callers compute
    ``F.rank().over(w) + off_o`` (``row_number`` likewise).

    Buckets are value ranges of the first ``order`` column with
    bounds derived from the data — width ``floor((max - min) / B) + 1``
    for integral columns, ``(max - min) / B`` in doubles (1 when every
    value is equal) otherwise — so equal values always share a bucket
    and bucket order is value order. A NULL order value sorts first,
    as in an unpartitioned ``Window.orderBy``: it lands in bucket -1.
    The offsets and totals come from one triangular join over the
    per-(keys, bucket) rollup, computed as the inclusive prefix minus
    the bucket's own value so both join sides consume the same
    columns and the rollup materializes once; the result is
    broadcast-joined back. Exact for integral and DECIMAL aggregates;
    the triangular join is |buckets|^2 rows per group, bounded by
    ``buckets``, never by data volume. Order is ascending; ``keys``
    columns must be non-null (the group joins are equi-joins).
    """
    key = order[0]
    # min/max over whole rows ordered by the key (NULL keys skipped):
    # reading every column lets the bounds pass reuse the exchange of
    # an aggregated frame instead of re-planning a distinct over the
    # key, which would be a second base-table scan
    row = F.when(
        F.col(key).isNotNull(),
        F.struct(key, *[c for c in frame.columns if c != key]),
    )
    lo, hi = F.min(row)[key], F.max(row)[key]
    if isinstance(frame.schema[key].dataType, IntegralType):
        width = (F.floor((hi - lo) / buckets) + 1).cast("bigint")
        pid = F.expr(f"(`{key}` - __lo) div __w")
    else:
        lo, hi = lo.cast("double"), hi.cast("double")
        span = (hi - lo) / buckets
        width = F.when(span > 0, span).otherwise(F.lit(1.0))
        pid = F.floor(
            (F.col(key).cast("double") - F.col("__lo")) / F.col("__w")
        )
    bounds = frame.agg(lo.alias("__lo"), width.alias("__w"))
    pool = (
        frame.crossJoin(F.broadcast(bounds))
        .withColumn("pid", F.coalesce(pid, F.lit(-1).cast("bigint")))
        .drop("__lo", "__w")
    )
    psums = pool.groupBy(*keys, "pid").agg(
        *[agg.alias(out) for out, agg in sums.items()]
    )
    prior = psums.select(
        *[F.col(k).alias(f"__bk_{k}") for k in keys],
        F.col("pid").alias("__bpid"),
        *[F.col(out).alias(f"__b_{out}") for out in sums],
    )
    aggs = []
    for out in sums:
        aggs.append(
            (
                F.sum(
                    F.when(
                        F.col("__bpid") <= F.col("pid"),
                        F.col(f"__b_{out}"),
                    )
                )
                - F.max(F.col(out))
            ).alias(f"off_{out}")
        )
        aggs.append(F.sum(f"__b_{out}").alias(f"tot_{out}"))
    if keys:
        cond = None
        for k in keys:
            c = F.col(f"__bk_{k}") == F.col(k)
            cond = c if cond is None else (cond & c)
        ot = psums.join(F.broadcast(prior), cond)
    else:
        ot = psums.crossJoin(prior)
    ot = ot.groupBy(*keys, "pid").agg(*aggs)
    w = (
        Window.partitionBy(*keys, "pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        pool.join(F.broadcast(ot), [*keys, "pid"]).select(
            "*",
            *[
                (agg.over(w) + F.col(f"off_{out}")).alias(f"cum_{out}")
                for out, agg in sums.items()
            ],
        ),
        w,
    )


# --------------------------------------------------------------------------
# Frames and SQL devices shared by several banks. Each comes as a
# DataFrame function plus, where an oracle needs it, the DuckDB CTE twin
# that computes the same columns.
# --------------------------------------------------------------------------
# Day-grain revenue series: orders calendar day, integer cents.
DAILY_ORDER_CENTS_SQL = """
    daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS day,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    )
"""


def daily_order_cents(spark, sf_dir):
    """(day BIGINT, y BIGINT): the ``DAILY_ORDER_CENTS_SQL`` frame."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy(
        F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )


# Per-nation effect frame for the meta-analysis queries. Each of the 25
# nations is a "study": the effect is the urgent-minus-routine mean
# order value in THOUSANDS of dollars (k$ keeps every folded weight term
# O(0.1..100) at every SF, so fixed-dp round-before-fold loses nothing),
# its variance the Welch two-sample variance of that mean difference.
# Exact cents power sums per (nation, arm); y and v are rounded at 8 dp
# BEFORE any reciprocal so both engines weight identical doubles.
NATION_EFFECTS_SQL = """
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
"""


def nation_effects(spark, sf_dir):
    """(nk, y, v): the ``eff`` CTE of ``NATION_EFFECTS_SQL``."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    cents = (dec("o_totalprice", 18, 2) * 100).cast("bigint")
    arm = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            )
            .otherwise(0)
            .alias("urgent"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(cents).cast("bigint").alias("s"),
            F.sum(
                cents.cast("decimal(38,0)") * cents.cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .alias("ss"),
        )
    )
    u = arm.where((F.col("urgent") == 1) & (F.col("n") > 1)).select(
        "nk",
        F.col("n").alias("n1"),
        F.col("s").alias("s1"),
        F.col("ss").alias("ss1"),
    )
    r = arm.where((F.col("urgent") == 0) & (F.col("n") > 1)).select(
        "nk",
        F.col("n").alias("n2"),
        F.col("s").alias("s2"),
        F.col("ss").alias("ss2"),
    )
    n1, s1, ss1 = F.col("n1"), F.col("s1"), F.col("ss1")
    n2, s2, ss2 = F.col("n2"), F.col("s2"), F.col("ss2")
    return u.join(r, "nk").select(
        "nk",
        F.round(
            (s1.cast("double") / n1 - s2.cast("double") / n2) / 100000.0,
            8,
        ).alias("y"),
        F.round(
            (
                (ss1.cast("double") - s1.cast("double") * s1 / n1)
                / (n1 - 1)
                / n1
                + (ss2.cast("double") - s2.cast("double") * s2 / n2)
                / (n2 - 1)
                / n2
            )
            / 10000000000.0,
            8,
        ).alias("v"),
    )


# The three daily activity series (purchases, clicks, errors) and their
# correlations from exact BIGINT count folds; each r is rounded at 10 dp
# so every downstream matrix functional consumes identical doubles in
# both engines.
DAILY_EVENT_CORR3_SQL = """
    day3 AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'click'
                             THEN 1 ELSE 0 END) AS BIGINT) AS y,
               CAST(SUM(CASE WHEN event_type = 'error'
                             THEN 1 ELSE 0 END) AS BIGINT) AS z
        FROM events GROUP BY 1
    ),
    mom3 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(z) AS BIGINT) AS sz,
               CAST(SUM(CAST(x AS DECIMAL(19,0)) * x)
                    AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(y AS DECIMAL(19,0)) * y)
                    AS DECIMAL(38,0)) AS syy,
               CAST(SUM(CAST(z AS DECIMAL(19,0)) * z)
                    AS DECIMAL(38,0)) AS szz,
               CAST(SUM(CAST(x AS DECIMAL(19,0)) * y)
                    AS DECIMAL(38,0)) AS sxy,
               CAST(SUM(CAST(x AS DECIMAL(19,0)) * z)
                    AS DECIMAL(38,0)) AS sxz,
               CAST(SUM(CAST(y AS DECIMAL(19,0)) * z)
                    AS DECIMAL(38,0)) AS syz
        FROM day3
    ),
    corr3 AS (
        SELECT n,
               round((n * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * sy)
                     / sqrt((n * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * sx)
                            * (n * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * sy)), 10)
                   AS r12,
               round((n * CAST(sxz AS DOUBLE)
                      - CAST(sx AS DOUBLE) * sz)
                     / sqrt((n * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * sx)
                            * (n * CAST(szz AS DOUBLE)
                               - CAST(sz AS DOUBLE) * sz)), 10)
                   AS r13,
               round((n * CAST(syz AS DOUBLE)
                      - CAST(sy AS DOUBLE) * sz)
                     / sqrt((n * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * sy)
                            * (n * CAST(szz AS DOUBLE)
                               - CAST(sz AS DOUBLE) * sz)), 10)
                   AS r23
        FROM mom3
    )
"""


def daily_event_corr3(spark, sf_dir):
    """(n, r12, r13, r23): the ``corr3`` CTE of
    ``DAILY_EVENT_CORR3_SQL``."""
    e = t(spark, sf_dir, "events")
    day3 = e.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("z"),
    )

    def xsum(a, b, name):
        return (
            F.sum(F.col(a).cast("decimal(19,0)") * F.col(b))
            .cast("decimal(38,0)")
            .alias(name)
        )

    mom = day3.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("z").cast("bigint").alias("sz"),
        xsum("x", "x", "sxx"),
        xsum("y", "y", "syy"),
        xsum("z", "z", "szz"),
        xsum("x", "y", "sxy"),
        xsum("x", "z", "sxz"),
        xsum("y", "z", "syz"),
    )
    n = F.col("n")

    def r(sab, sa, sb, saa, sbb):
        return F.round(
            (n * F.col(sab).cast("double")
             - F.col(sa).cast("double") * F.col(sb))
            / F.sqrt(
                (n * F.col(saa).cast("double")
                 - F.col(sa).cast("double") * F.col(sa))
                * (n * F.col(sbb).cast("double")
                   - F.col(sb).cast("double") * F.col(sb))
            ),
            10,
        )

    return mom.select(
        n.alias("n"),
        r("sxy", "sx", "sy", "sxx", "syy").alias("r12"),
        r("sxz", "sx", "sz", "sxx", "szz").alias("r13"),
        r("syz", "sy", "sz", "syy", "szz").alias("r23"),
    )


# Literal lookup tables shared by the banks: cos/sin of the 24 hour-of-day
# angles 2*pi*k/24 (for ``case_sql`` and the banks' Column lookups), the
# Poisson(1) inverse CDF P(X <= k), k = 0..6 (the poisson_bootstrap_se
# device: both engines share these literals, so no RNG and no libm), and
# the nine decile levels 0.1..0.9.
COS24 = [
    1.0, 0.9659258263, 0.8660254038, 0.7071067812, 0.5,
    0.2588190451, 0.0, -0.2588190451, -0.5, -0.7071067812,
    -0.8660254038, -0.9659258263, -1.0, -0.9659258263,
    -0.8660254038, -0.7071067812, -0.5, -0.2588190451, 0.0,
    0.2588190451, 0.5, 0.7071067812, 0.8660254038, 0.9659258263,
]
SIN24 = [
    0.0, 0.2588190451, 0.5, 0.7071067812, 0.8660254038,
    0.9659258263, 1.0, 0.9659258263, 0.8660254038, 0.7071067812,
    0.5, 0.2588190451, 0.0, -0.2588190451, -0.5, -0.7071067812,
    -0.8660254038, -0.9659258263, -1.0, -0.9659258263,
    -0.8660254038, -0.7071067812, -0.5, -0.2588190451,
]
POIS_CDF = [
    0.3678794412, 0.7357588824, 0.9196986030,
    0.9810118431, 0.9963401532, 0.9994058152, 0.9999167589,
]
DECILE_LEVELS = [i / 10.0 for i in range(1, 10)]


def case_sql(col: str, table: list) -> str:
    """SQL ``CASE`` mapping ``col`` = k to ``table[k]`` (a literal
    lookup table, e.g. a trig or factorial series)."""
    whens = " ".join(
        f"WHEN {col} = {k} THEN {v}" for k, v in enumerate(table)
    )
    return f"CASE {whens} END"


def phi_col(z):
    """Standard normal CDF as a Column via the shared Abramowitz-
    Stegun 7.1.26 erfc tree (the bank_r15 `_p_two_sided_col` device,
    split by sign): Phi(z) = 1 - p2(z)/2 for z >= 0, p2(z)/2 below."""
    x = F.abs(z) / 1.4142135623730951
    tp = 1.0 / (1.0 + 0.3275911 * x)
    p2 = (
        (
            ((1.061405429 * tp - 1.453152027) * tp + 1.421413741) * tp
            - 0.284496736
        )
        * tp
        + 0.254829592
    ) * tp * F.exp(-x * x)
    return F.when(z >= 0, 1.0 - p2 / 2.0).otherwise(p2 / 2.0)


_PHI_SQL_TMPL = (
    "(CASE WHEN (__z) >= 0 THEN 1.0 - (__P) / 2.0"
    " ELSE (__P) / 2.0 END)"
)


def phi_sql(z_expr: str) -> str:
    """The DuckDB/Spark SQL twin of ``phi_col`` for ``z_expr``."""
    from .stats_tests import _p_two_sided_sql

    return _PHI_SQL_TMPL.replace(
        "__P", _p_two_sided_sql(z_expr)
    ).replace("__z", z_expr)
