"""Offline state-store introspection (streaming/introspect.py).

Certifies the Spark 4 state data source wrappers as a real audit
surface: the state read OFFLINE from a checkpoint equals a batch
recomputation of what the state MUST contain — for a streaming
aggregation (partial sums), a dropDuplicates dedup set,
a transformWithState ListState ring buffer (X160's bounded-state
claim verified from the physical store), and the X159 sessionizer's
registered timers (one live timer per key, at last_ms + gap).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from celestrak_tle_data_pipeline_spark.plans.common import t
from celestrak_tle_data_pipeline_spark.streaming.introspect import (
    read_join_state,
    read_state,
    read_state_changes,
    read_timers,
    state_metadata,
    state_skew_profile,
    state_variables,
)

SF_DIR = "/root/testdata/sf0.001"

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long,"
    " event_type string, value double, props string"
)


def _events_slices(spark, n_users=60):
    """The shared harness shape: sf0.001 events for a small user set,
    split into two time slices (early/late) for two-drain tests."""
    ev = t(spark, SF_DIR, "events").where(F.col("user_id") < n_users)
    days = sorted(
        r[0]
        for r in ev.select(
            F.date_trunc("day", "ts").cast("date").alias("d")
        )
        .distinct()
        .collect()
    )
    cut = days[len(days) // 2]
    early = ev.where(F.date_trunc("day", "ts").cast("date") <= F.lit(cut))
    late = ev.where(F.date_trunc("day", "ts").cast("date") > F.lit(cut))
    return ev, early, late


def _cents(col="value"):
    return (F.col(col).cast("decimal(18,2)") * 100).cast("bigint")


def _drain(stream_df, ckpt, mode="update"):
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_agg_state_offline_equals_batch(spark, tmp_path):
    """Streaming sum-aggregation state, read offline, equals the batch
    groupBy of the same inputs bit-exactly (integer cents); batchId=0
    time-travels to the first drain's state; the skew profile's totals
    reconcile with the key count."""
    ev, early, late = _events_slices(spark)
    landing = tmp_path / "agg_land"
    landing.mkdir()
    ckpt = str(tmp_path / "agg_ck")

    def agg_stream():
        src = spark.readStream.schema(EVENTS_SCHEMA).parquet(
            str(landing / "slice_*")
        )
        return src.select("user_id", _cents().alias("cents")).groupBy(
            "user_id"
        ).agg(F.sum("cents").alias("total_cents"))

    early.coalesce(1).write.mode("overwrite").parquet(
        str(landing / "slice_0")
    )
    _drain(agg_stream(), ckpt)
    late.coalesce(1).write.mode("overwrite").parquet(
        str(landing / "slice_1")
    )
    _drain(agg_stream(), ckpt)

    # inventory: one store, committed through batch 1, partition count
    # = session shuffle partitions
    meta = state_metadata(spark, ckpt).collect()
    assert len(meta) == 1
    assert meta[0].operatorName == "stateStoreSave"
    assert meta[0].maxBatchId == 1
    assert meta[0].numPartitions == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )

    # latest state == batch recomputation over BOTH slices (bit-exact).
    # NB the store's value field carries the PHYSICAL aggregate name
    # (`sum`), not the query alias — the state schema belongs to the
    # operator, not the projection.
    got = {
        (r.key_user_id, r.value_sum)
        for r in read_state(spark, ckpt).collect()
    }
    want = {
        (r.user_id, r.total_cents)
        for r in ev.select("user_id", _cents().alias("cents"))
        .groupBy("user_id")
        .agg(F.sum("cents").alias("total_cents"))
        .collect()
    }
    assert got == want

    # time travel: state AT batch 0 == batch recomputation of slice 0
    got0 = {
        (r.key_user_id, r.value_sum)
        for r in read_state(spark, ckpt, batch_id=0).collect()
    }
    want0 = {
        (r.user_id, r.total_cents)
        for r in early.select("user_id", _cents().alias("cents"))
        .groupBy("user_id")
        .agg(F.sum("cents").alias("total_cents"))
        .collect()
    }
    assert got0 == want0
    assert got0 != got  # the second drain genuinely advanced state

    # change feed: replaying the per-batch upserts (last write per key
    # wins, in batch order) reconstructs the latest snapshot — and
    # batch 1's delta touches EXACTLY the keys the late slice updated,
    # not the whole keyspace (the delta is touched-sized, the point)
    feed = read_state_changes(spark, ckpt).collect()
    assert {r.change_type for r in feed} == {"update"}
    replay: dict[int, int] = {}
    for r in sorted(feed, key=lambda r: r.batch_id):
        replay[r.key_user_id] = r.value_sum
    assert set(replay.items()) == want
    batch1_keys = {r.key_user_id for r in feed if r.batch_id == 1}
    late_keys = {r[0] for r in late.select("user_id").distinct().collect()}
    assert batch1_keys == late_keys

    # skew audit: row total reconciles; ratio bounded (hash-spread keys)
    prof = state_skew_profile(read_state(spark, ckpt)).collect()[0]
    assert prof.state_rows == len(want)
    assert prof.nonempty_partitions <= int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    assert prof.skew_ratio >= 1.0


def test_dedup_state_is_the_distinct_key_set(spark, tmp_path):
    """dropDuplicates state keys, read offline, are exactly the
    distinct keys streamed so far — the dedup set audit (is the set
    growing without bound?) without touching the query."""
    ev, early, _ = _events_slices(spark)
    landing = tmp_path / "dd_land"
    landing.mkdir()
    ckpt = str(tmp_path / "dd_ck")
    early.coalesce(1).write.mode("overwrite").parquet(
        str(landing / "slice_0")
    )
    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(
        str(landing / "slice_*")
    )
    _drain(
        src.select("user_id", "event_type").dropDuplicates(
            ["user_id", "event_type"]
        ),
        ckpt,
        mode="append",
    )

    meta = state_metadata(spark, ckpt).collect()
    assert len(meta) == 1 and meta[0].operatorName == "dedupe"
    got = {
        (r.key_user_id, r.key_event_type)
        for r in read_state(spark, ckpt).collect()
    }
    want = {
        (r.user_id, r.event_type)
        for r in early.select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert got == want


@pytest.fixture()
def rocksdb(spark):
    prior = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    yield
    if prior is None:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    else:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", prior
        )


def test_tws_ring_state_bounded_and_exact_offline(spark, tmp_path, rocksdb):
    """X160's ListState ring buffer, read from the physical store:
    the declared variable surfaces in operator metadata, every key
    holds ≤ WINDOW rows (the bounded-state claim, verified offline),
    and the ring CONTENTS equal the batch-computed trailing-5 rows per
    user over everything streamed — across a micro-batch boundary."""
    from conftest import HAVE_PROTOBUF

    if not HAVE_PROTOBUF:
        pytest.skip("TWS runner needs protobuf")
    from celestrak_tle_data_pipeline_spark.streaming.stateful_v2 import (
        trailing_median_v2,
    )

    ev, early, late = _events_slices(spark, n_users=40)
    landing = tmp_path / "ring_land"
    landing.mkdir()
    ckpt = str(tmp_path / "ring_ck")

    def drain():
        src = spark.readStream.schema(EVENTS_SCHEMA).parquet(
            str(landing / "slice_*")
        )
        _drain(trailing_median_v2(src), ckpt, mode="append")

    early.coalesce(1).write.mode("overwrite").parquet(
        str(landing / "slice_0")
    )
    drain()
    late.coalesce(1).write.mode("overwrite").parquet(
        str(landing / "slice_1")
    )
    drain()

    # declared state variables, from checkpoint metadata alone
    svars = state_variables(spark, ckpt)
    assert [(v["stateName"], v["stateVariableType"]) for v in svars] == [
        ("ring", "ListState")
    ]

    ring = read_state(spark, ckpt, state_var="ring")
    # flattenCollectionTypes explodes the list: one row per element
    rows = ring.collect()
    per_user: dict[int, list[tuple[int, int, int]]] = {}
    for r in rows:
        per_user.setdefault(r.key_user_id, []).append(
            (
                r.list_element_ts_us,
                r.list_element_event_id,
                r.list_element_cents,
            )
        )

    # bounded state BY CONSTRUCTION: never more than WINDOW rows per key
    assert per_user and max(len(v) for v in per_user.values()) <= 5

    # contents == batch trailing-5 per user over BOTH slices
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts_us"), F.desc("event_id")
    )
    tail = (
        ev.select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            _cents().alias("cents"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
    )
    want: dict[int, set[tuple[int, int, int]]] = {}
    for r in tail.collect():
        want.setdefault(r.user_id, set()).add(
            (r.ts_us, r.event_id, r.cents)
        )
    got = {u: set(v) for u, v in per_user.items()}
    assert got == want


def test_tws_timer_registry_one_per_open_session(spark, tmp_path, rocksdb):
    """X159's delete-then-re-arm invariant, checked from the physical
    timer registry: after one drain, every user with a still-open
    session holds EXACTLY one registered timer, at their last event's
    epoch-ms + gap."""
    from conftest import HAVE_PROTOBUF

    if not HAVE_PROTOBUF:
        pytest.skip("TWS runner needs protobuf")
    from celestrak_tle_data_pipeline_spark.streaming.stateful_v2 import (
        session_finalizer_v2,
    )

    GAP_MIN = 30
    _, early, _ = _events_slices(spark, n_users=40)
    landing = tmp_path / "tm_land"
    landing.mkdir()
    ckpt = str(tmp_path / "tm_ck")
    early.coalesce(1).write.mode("overwrite").parquet(
        str(landing / "slice_0")
    )
    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(
        str(landing / "slice_*")
    )
    _drain(session_finalizer_v2(src, gap_minutes=GAP_MIN), ckpt, mode="append")

    timers = read_timers(spark, ckpt).collect()
    per_user: dict[int, list[int]] = {}
    for r in timers:
        per_user.setdefault(r.key_user_id, []).append(
            r.expiration_timestamp_ms
        )

    # open-session users = users whose ValueState survives the drain
    open_users = {
        r.key_user_id for r in read_state(spark, ckpt, state_var="sess").collect()
    }
    assert set(per_user) == open_users
    assert max(len(v) for v in per_user.values()) == 1

    # each timer sits at the user's LAST event ms + gap
    last_ms = {
        r.user_id: r.last_ms
        for r in early.groupBy("user_id")
        .agg((F.max(F.unix_micros("ts")) / 1000).cast("bigint").alias("last_ms"))
        .collect()
    }
    gap_ms = GAP_MIN * 60_000
    for u, (expiry,) in per_user.items():
        assert expiry == last_ms[u] + gap_ms


def test_join_state_shows_buffered_sides(spark, tmp_path):
    """Stream-stream join state, per side: the four symmetricHashJoin
    stores surface in metadata, and the joinSide read exposes each
    side's buffered rows — including the row waiting for a counterpart
    that never arrived (the open obligation the audit exists to find)."""
    l1 = tmp_path / "jl"
    l2 = tmp_path / "jr"
    l1.mkdir()
    l2.mkdir()
    ckpt = str(tmp_path / "jck")
    (l1 / "a.json").write_text(
        '{"k":"a","ts":"2024-01-01 00:00:00","v":1}\n'
        '{"k":"b","ts":"2024-01-01 00:00:00","v":2}\n'
    )
    (l2 / "a.json").write_text(
        '{"k":"a","ts":"2024-01-01 00:00:00","w":10}\n'
    )
    left = (
        spark.readStream.schema("k string, ts timestamp, v long")
        .json(str(l1))
        .withWatermark("ts", "1 hour")
    )
    right = (
        spark.readStream.schema("k string, ts timestamp, w long")
        .json(str(l2))
        .withWatermark("ts", "1 hour")
        .withColumnRenamed("k", "k2")
        .withColumnRenamed("ts", "ts2")
    )
    joined = left.join(
        right,
        (F.col("k") == F.col("k2")) & (F.col("ts") == F.col("ts2")),
        "inner",
    )
    _drain(joined, ckpt, mode="append")

    meta = state_metadata(spark, ckpt).collect()
    assert {m.operatorName for m in meta} == {"symmetricHashJoin"}
    assert {m.stateStoreName for m in meta} == {
        "left-keyToNumValues",
        "left-keyWithIndexToValue",
        "right-keyToNumValues",
        "right-keyWithIndexToValue",
    }

    lrows = {
        (r.value_k, r.value_v)
        for r in read_join_state(spark, ckpt, "left").collect()
    }
    rrows = {
        (r.value_k2, r.value_w)
        for r in read_join_state(spark, ckpt, "right").collect()
    }
    assert lrows == {("a", 1), ("b", 2)}
    assert rrows == {("a", 10)}
    # the open obligation: b buffered left, nothing buffered right
    assert {k for k, _ in lrows} - {k for k, _ in rrows} == {"b"}


def test_tws_under_changelog_checkpointing(spark, tmp_path, rocksdb):
    """The RocksDB changelog-checkpointing knob (upload per-batch
    change logs instead of full snapshots — the large-state production
    configuration): the X160 ring processor produces IDENTICAL output
    across a two-drain checkpointed run, restart recovery included,
    and the offline state read still sees the ring. Certifies the
    engine's stateful surface doesn't silently depend on full-snapshot
    checkpoints."""
    from conftest import HAVE_PROTOBUF

    if not HAVE_PROTOBUF:
        pytest.skip("TWS runner needs protobuf")
    from celestrak_tle_data_pipeline_spark.streaming.stateful_v2 import (
        trailing_median_v2,
    )

    key = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        ev, early, late = _events_slices(spark, n_users=30)
        landing = tmp_path / "clc_land"
        landing.mkdir()
        ckpt = str(tmp_path / "clc_ck")
        got: list = []

        def drain():
            src = spark.readStream.schema(EVENTS_SCHEMA).parquet(
                str(landing / "slice_*")
            )
            q = (
                trailing_median_v2(src)
                .writeStream.foreachBatch(
                    lambda df, _id: got.extend(map(tuple, df.collect()))
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        early.coalesce(1).write.mode("overwrite").parquet(
            str(landing / "slice_0")
        )
        drain()
        late.coalesce(1).write.mode("overwrite").parquet(
            str(landing / "slice_1")
        )
        drain()  # restart: recovery must replay changelogs, not snapshots
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)

    # one output row per input event, exact batch-median parity
    assert len(got) == ev.count()
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-4, 0)
    )
    batch = (
        ev.select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            _cents().alias("cents"),
        )
        .withColumn("n_window", F.count(F.lit(1)).over(w))
        .withColumn(
            "median_cents_x2",
            (2 * F.expr("percentile(cents, 0.5)").over(w))
            .cast("bigint"),
        )
    )
    want = {
        (r.user_id, r.event_id, r.n_window, r.median_cents_x2)
        for r in batch.collect()
    }
    assert set(got) == want

    # offline read still works over changelog-built checkpoints
    ring = read_state(spark, ckpt, state_var="ring")
    assert ring.count() > 0


def test_interleaved_rocksdb_builds_leave_the_session_as_found(
    spark, monkeypatch
):
    """The two registry names that run a RocksDB stream at build time
    (``streaming_sessions_finalized``, ``streaming_trailing_median``),
    built in two threads so that the second starts after the first has
    set up its stream and ends after the first has finished, leave the
    caller's state-store provider conf and the workers' PYTHONPATH as
    they found them. A build that saved and restored the caller's conf
    put RocksDB back on the shared session here, which later stateful
    tests then checkpointed under. Events order the builds; no sleeps."""
    import threading

    from conftest import HAVE_PROTOBUF

    from celestrak_tle_data_pipeline_spark import plans
    from celestrak_tle_data_pipeline_spark.streaming import stateful_v2

    if not HAVE_PROTOBUF:
        pytest.skip("transformWithStateInPandas needs a protobuf runtime")
    key = "spark.sql.streaming.stateStore.providerClass"
    env = spark.sparkContext.environment
    monkeypatch.delitem(env, "PYTHONPATH", raising=False)
    before = (spark.conf.get(key, None), env.get("PYTHONPATH"))

    a_in, b_in, a_done = (threading.Event() for _ in range(3))

    def gated(fn, arrive, wait_for):
        def build(*args, **kw):
            arrive.set()
            assert wait_for.wait(timeout=300)
            return fn(*args, **kw)

        return build

    # A holds inside its stream setup until B is inside its own; B then
    # holds until A has finished and restored whatever it changed
    monkeypatch.setattr(
        stateful_v2,
        "session_finalizer_v2",
        gated(stateful_v2.session_finalizer_v2, a_in, b_in),
    )
    monkeypatch.setattr(
        stateful_v2,
        "trailing_median_v2",
        gated(stateful_v2.trailing_median_v2, b_in, a_done),
    )
    qs, errors = plans.all_queries(), []

    def run(name, *events):
        try:
            qs[name](spark, SF_DIR)
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(f"{name}: {exc}")
        finally:
            for ev in events:  # never leave the other build waiting
                ev.set()

    a = threading.Thread(
        target=run, args=("streaming_sessions_finalized", a_in, a_done)
    )
    b = threading.Thread(target=run, args=("streaming_trailing_median", b_in))
    a.start()
    assert a_in.wait(timeout=300)
    b.start()
    a.join(timeout=600)
    b.join(timeout=600)
    assert not a.is_alive() and not b.is_alive()
    assert not errors, errors
    assert (spark.conf.get(key, None), env.get("PYTHONPATH")) == before


def test_shim_on_workers_restores_the_env_under_thread_churn():
    """``compat.shim_on_workers`` counts overlapping blocks: 16 threads
    entering and leaving it 200 times each, with a shortened switch
    interval, leave the shared env as they found it, and every thread
    sees the shim path inside its block."""
    import sys
    import threading
    import types

    from celestrak_tle_data_pipeline_spark import compat

    sc = types.SimpleNamespace(environment={"PYTHONPATH": "/before"})
    shim, seen = compat.worker_pythonpath(), []

    def churn():
        for _ in range(200):
            with compat.shim_on_workers(sc):
                seen.append(sc.environment["PYTHONPATH"] == shim)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=churn) for _ in range(16)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert len(seen) == 3200 and all(seen)
    assert sc.environment == {"PYTHONPATH": "/before"}
