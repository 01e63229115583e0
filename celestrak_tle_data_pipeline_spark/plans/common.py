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
