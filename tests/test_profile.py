"""``tools/query_profile.py``: the JSON record of one profiled query and
the executed-plan walk it is built on.

Pins the record's schema on a tiny query (``spark.range(1000)``
grouped by ``id % 10``): the timing keys, one record per executed node
with the same keys each, the range scan's 1000 output rows, the
exchange's shuffle bytes, and rollups that agree with the nodes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tools.query_profile import iter_nodes, profile_query

TIMING = ("cold_s", "warm_min_s", "warm_med_s", "warm_max_s")
NODE = (
    "id",
    "type",
    "rows",
    "time_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "peak_mem_bytes",
)
ROLLUP = (
    "rows_scanned",
    "file_scans",
    "shuffle_bytes",
    "widest_exchange_id",
    "widest_exchange_bytes",
    "shuffle_exchanges",
    "broadcast_exchanges",
    "reused_exchanges",
    "reused_subqueries",
    "joins",
)


def test_profile_record_schema_on_a_tiny_query(spark):
    rec = profile_query(
        spark,
        "tiny_groupby",
        lambda: spark.range(1000)
        .groupBy((F.col("id") % 10).alias("k"))
        .count(),
        2,
    )
    assert set(rec) == {*TIMING, *ROLLUP, "nodes"}
    assert all(isinstance(rec[k], float) and rec[k] > 0 for k in TIMING)
    assert rec["warm_min_s"] <= rec["warm_med_s"] <= rec["warm_max_s"]

    nodes = rec["nodes"]
    assert all(set(n) == set(NODE) for n in nodes), nodes
    assert len({n["id"] for n in nodes}) == len(nodes)
    by_type = {}
    for n in nodes:
        by_type.setdefault(n["type"], []).append(n)
    # the noop sink's write node heads the plan it ran
    assert nodes[0]["type"] == "OverwriteByExpressionExec"
    assert [n["rows"] for n in by_type["RangeExec"]] == [1000]
    (exchange,) = by_type["ShuffleExchangeExec"]
    assert exchange["shuffle_write_bytes"] > 0
    assert exchange["shuffle_read_bytes"] > 0
    final_agg = by_type["HashAggregateExec"][0]  # nodes come top-down
    assert final_agg["rows"] == 10

    assert rec["rows_scanned"] == 1000
    assert rec["file_scans"] == 0
    assert rec["shuffle_exchanges"] == 1
    assert rec["broadcast_exchanges"] == 0
    assert rec["reused_exchanges"] == 0
    assert rec["joins"] == {}
    assert rec["shuffle_bytes"] == exchange["shuffle_write_bytes"]
    assert rec["widest_exchange_id"] == exchange["id"]


def test_iter_nodes_counts_a_reused_exchange_where_it_ran(spark):
    """A self-join of one aggregate runs its exchange once: the walk
    yields the reuse but does not enter it, so the scan below the
    exchange is yielded once."""
    agg = spark.range(100).groupBy((F.col("id") % 5).alias("k")).count()
    df = agg.alias("a").join(agg.alias("b"), "k")
    df.collect()
    kinds = [
        n.getClass().getSimpleName()
        for n in iter_nodes(df._jdf.queryExecution().executedPlan())
    ]
    assert kinds.count("ReusedExchangeExec") == 1
    assert kinds.count("RangeExec") == 1
    assert kinds.count("ShuffleExchangeExec") == 1
