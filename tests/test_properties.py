"""Property-based spot checks (SURVEY.md §5.4, hypothesis).

Strategy: generate random field values, format them into fixed-width
TLE lines exactly as a ground station would, push them through the
Catalyst parse bundle in ONE batch (hypothesis generates the values,
Spark runs once per test — not once per example, which would be
minutes), and compare against an independent Python computation.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import example, given, settings
from hypothesis import strategies as st

from celestrak_tle_data_pipeline_spark.operators.assembly import (
    assemble_from_payloads,
)


def _fmt_line(norad, yy, day, incl, raan, ecc7, argp, ma, mm, rev):
    l1 = (
        f"1 {norad:05d}U 20001A   {yy:02d}{day:012.7f}"
        f"  .00000000  00000-0  12345-4 0  9990"
    )
    l2 = (
        f"2 {norad:05d} {incl:08.4f} {raan:08.4f} {ecc7:07d} "
        f"{argp:08.4f} {ma:08.4f} {mm:011.7f}{rev:05d}"
    )
    return l1, l2


FIELDS = st.tuples(
    st.integers(0, 99999),          # norad
    st.integers(0, 99),             # yy
    st.integers(1, 364),            # day integer part
    st.integers(0, 127),            # day fraction numerator (/128)
    st.integers(0, 1799),           # incl tenths
    st.integers(0, 3599),           # raan tenths
    st.integers(0, 9999999),        # ecc digits
    st.integers(0, 3599),           # argp tenths
    st.integers(0, 3599),           # ma tenths
    st.integers(10_000_000, 18_999_999),  # mm millionths
    st.integers(0, 99999),          # rev
)


@settings(max_examples=1, deadline=None)
@given(st.lists(FIELDS, min_size=30, max_size=60, unique=True))
def test_tle_parse_roundtrip_property(spark, cases):
    from celestrak_tle_data_pipeline_spark.functions.tle import (
        parse_tle_triples,
        valid_record,
    )

    rows = []
    expected = {}
    for i, (norad, yy, di, dfrac, incl, raan, ecc7, argp, ma, mmi, rev) in (
        enumerate(cases)
    ):
        day = di + dfrac / 128.0
        l1, l2 = _fmt_line(
            norad, yy, day, incl / 10.0, raan / 10.0, ecc7,
            argp / 10.0, ma / 10.0, mmi / 1e6, rev,
        )
        rows.append((i, f"SAT-{i}", l1, l2))
        year = 2000 + yy if yy < 57 else 1900 + yy
        epoch = dt.datetime(year, 1, 1) + dt.timedelta(days=day - 1)
        expected[i] = {
            "norad_id": norad,
            "epoch_utc": epoch,
            "inclination": incl / 10.0,
            "raan": raan / 10.0,
            "eccentricity": float(f"0.{ecc7:07d}"),
            "arg_perigee": argp / 10.0,
            "mean_anomaly": ma / 10.0,
            "mean_motion": mmi / 1e6,
            "rev_number": rev,
        }

    df = spark.createDataFrame(
        rows, "k long, sat_name_raw string, line1 string, line2 string"
    )
    parsed = parse_tle_triples(df, passthrough=("k",)).where(valid_record())
    got = {r.k: r for r in parsed.collect()}
    assert set(got) == set(expected)
    for k, exp in expected.items():
        r = got[k]
        for field, want in exp.items():
            have = getattr(r, field)
            assert have == want, (k, field, have, want)


@settings(max_examples=1, deadline=None)
@given(
    st.lists(
        st.lists(st.text(alphabet="abc \n", min_size=0, max_size=5),
                 min_size=0, max_size=20),
        min_size=1,
        max_size=10,
    )
)
def test_assembly_triple_count_property(spark, payload_lines):
    """For any payload, assembly yields exactly floor(n_lines/3) triples
    after the reference's strip semantics (script.py:119-127)."""
    rows = []
    expected = []
    for i, lines in enumerate(payload_lines):
        # payload-level strip first, like the reference
        flat = [ln.replace("\n", " ") for ln in lines]
        payload = "\n".join(flat).strip()
        n_lines = len(payload.split("\n")) if payload else 0
        rows.append((i, payload))
        expected.append((i, n_lines // 3))
    df = spark.createDataFrame(rows, "pid long, payload string")
    out = assemble_from_payloads(df)
    counts = {r.pid: r.n for r in out.groupBy("pid").count()
              .withColumnRenamed("count", "n").collect()}
    for pid, want in expected:
        assert counts.get(pid, 0) == want, (pid, counts.get(pid, 0), want)


@settings(max_examples=1, deadline=None)
@given(
    st.lists(
        st.integers(0, 2**31 - 1), min_size=50, max_size=200, unique=True
    )
)
def test_dataset_split_is_pure_and_partition_invariant(spark, ids):
    """The split label is a pure function of the id: Spark agrees with
    the plain-Python twin on arbitrary ids, and re-running on any
    re-partitioning (or subset) never moves an id's assignment."""
    from pyspark.sql import functions as F

    from celestrak_tle_data_pipeline_spark.plans.ext_pipeline import (
        split_label,
        split_label_py,
    )

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id", split_label("doc_id").alias("s")
        ).collect()
    }
    assert got == {i: split_label_py(i) for i in ids}

    # partitioning invariance: 1 partition vs 16, same labels
    got16 = {
        r.doc_id: r.s
        for r in df.repartition(16)
        .select("doc_id", split_label("doc_id").alias("s"))
        .collect()
    }
    assert got16 == got


def test_short_docs_shingle_to_empty_not_error(spark):
    # ANSI-mode regression guard (round-4 hardening, same class as the
    # decontamination_overlap fix): F.sequence(1, n-2) runs DESCENDING
    # for n < 3, so unguarded trigram builders would element_at index 0
    # and crash on 1-2-token docs. The guarded builder must yield an
    # empty shingle set instead.
    from pyspark.sql import functions as F

    from celestrak_tle_data_pipeline_spark.plans.ext_text import (
        _trigram_shingles,
    )

    df = spark.createDataFrame(
        [("", ), ("one", ), ("one two", ), ("one two three", ),
         ("a b c d", )],
        ["text"],
    ).select(_trigram_shingles(F.split(F.col("text"), " ")).alias("sh"))
    rows = [r.sh for r in df.collect()]
    assert rows[0] == [] and rows[1] == [] and rows[2] == []
    assert rows[3] == ["one two three"]
    assert rows[4] == ["a b c", "b c d"]


PPM_CASES = st.lists(
    st.tuples(
        st.integers(1, 9),                      # width
        st.integers(1, 7),                      # height
        st.integers(0, 255),                    # pixel seed
        st.integers(0, 16),                     # trailing junk bytes
    ),
    min_size=8,
    max_size=24,
)


@settings(max_examples=1, deadline=None)
@given(PPM_CASES)
def test_ppm_decoder_matches_numpy_reference(spark, cases):
    # build arbitrary P6 buffers in plain Python (incl. trailing junk
    # after the pixel block, which a tolerant decoder must ignore) and
    # compare the kernel's sums against an independent computation
    import numpy as np

    from celestrak_tle_data_pipeline_spark.operators.multimodal import (
        decode_ppm_assets,
    )

    rows, want = [], {}
    for i, (w, h, seed, junk) in enumerate(cases):
        n = w * h * 3
        px = bytes((seed + 7 * j) % 256 for j in range(n))
        buf = f"P6\n{w} {h}\n255\n".encode() + px + b"\xff" * junk
        rows.append((i, bytearray(buf)))
        arr = np.frombuffer(px, np.uint8).reshape(w * h, 3)
        want[i] = (
            w, h, w * h,
            int(arr[:, 0].sum()), int(arr[:, 1].sum()), int(arr[:, 2].sum()),
        )
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    got = {
        r.asset_id: (r.width, r.height, r.n_px, r.sum_r, r.sum_g, r.sum_b)
        for r in decode_ppm_assets(df).collect()
    }
    assert got == want


EVENT_CASES = st.lists(
    st.tuples(
        st.integers(0, 5),        # user
        st.integers(0, 2_000_000),  # seconds offset within ~23 days
        st.booleans(),            # signup (True) vs purchase
        st.integers(1, 500),      # value cents-ish
    ),
    min_size=20,
    max_size=80,
    unique=True,
)


@settings(max_examples=1, deadline=None)
@given(EVENT_CASES)
def test_bucketed_interval_join_matches_naive_theta(spark, cases):
    # the bucket-blocked equi-join must agree with the naive O(n^2)
    # theta join on arbitrary event layouts (incl. windows crossing
    # midnight and empty windows)
    import datetime as dt

    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1)
    rows = [
        (
            i,
            u,
            base + dt.timedelta(seconds=s),
            "signup" if is_su else "purchase",
            float(v),
        )
        for i, (u, s, is_su, v) in enumerate(cases)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
        "event_type string, value double"
    )
    su = df.where(F.col("event_type") == "signup").select(
        "user_id", F.col("event_id").alias("signup_id"), F.col("ts").alias("s")
    )
    su_b = su.select(
        "user_id", "signup_id", "s",
        F.explode(F.array_distinct(F.array(
            F.date_trunc("DAY", F.col("s")).cast("date"),
            F.date_trunc("DAY", F.col("s") + F.expr("INTERVAL 24 HOURS"))
            .cast("date"),
        ))).alias("day"),
    )
    pu = df.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.date_trunc("DAY", F.col("ts")).cast("date").alias("p_day"),
    )
    got = {
        (r.signup_id): r.n
        for r in su_b.join(
            pu,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("day") == F.col("p_day"))
            & (F.col("p_ts") >= F.col("s"))
            & (F.col("p_ts") < F.col("s") + F.expr("INTERVAL 24 HOURS")),
            "left",
        )
        .groupBy("signup_id")
        .agg(F.count("p_ts").alias("n"))
        .collect()
    }
    # naive reference
    pus = [(r[1], r[2]) for r in rows if r[3] == "purchase"]
    want = {
        sid: sum(
            1
            for (pu_u, pts) in pus
            if pu_u == u and s <= pts < s + dt.timedelta(hours=24)
        )
        for (sid, u, s) in [(r[0], r[1], r[2]) for r in rows if r[3] == "signup"]
    }
    assert got == want


GRAPH_CASES = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)),
    min_size=5,
    max_size=30,
)


@settings(max_examples=1, deadline=None)
@given(GRAPH_CASES)
def test_integer_pagerank_matches_python_reference(spark, pairs):
    # the Spark unrolled integer PageRank must agree bit-for-bit with a
    # plain-Python implementation of the same integer recurrence
    from pyspark.sql import functions as F

    edges_half = sorted({(a, b) for a, b in pairs if a != b})
    if not edges_half:
        return
    edges = edges_half + [(b, a) for a, b in edges_half]
    deg = {}
    for u, _ in edges:
        deg[u] = deg.get(u, 0) + 1
    ranks = {u: 10**12 for u in deg}
    for _ in range(3):
        contrib = {}
        for u, v in edges:
            contrib[v] = contrib.get(v, 0) + ranks[u] // deg[u]
        ranks = {
            u: 150_000_000_000 + (85 * contrib.get(u, 0)) // 100
            for u in deg
        }

    df = spark.createDataFrame(edges, "u long, v long")
    dd = df.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    r = dd.select("u", F.lit(10**12).cast("bigint").alias("r"))
    ed = df.join(dd, on="u")
    for _ in range(3):
        c = (
            ed.join(r.withColumnRenamed("u", "src"), F.col("u") == F.col("src"))
            .select(F.col("v").alias("node"), F.expr("r div d").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        r = (
            dd.select(F.col("u"))
            .join(c, dd.u == c.node, "left")
            .select(
                "u",
                (
                    F.lit(150_000_000_000).cast("bigint")
                    + F.expr("(85 * coalesce(c, 0L)) div 100")
                ).alias("r"),
            )
        )
    got = {row.u: row.r for row in r.collect()}
    assert got == ranks


# --------------------------------------------------------------------------
# winnowing guarantee: a shared run of >= w + k - 1 tokens yields a
# shared selected gram HASH (Schleimer et al. theorem 1)
# --------------------------------------------------------------------------
TOKEN = st.text(alphabet="abcdefgh", min_size=1, max_size=3)


@settings(max_examples=1, deadline=None)
@given(
    st.lists(TOKEN, min_size=8, max_size=20),   # shared run (>= w+k-1 = 8)
    st.lists(TOKEN, min_size=4, max_size=12),   # doc-a prefix
    st.lists(TOKEN, min_size=4, max_size=12),   # doc-b suffix
)
def test_winnowing_shared_substring_guarantee(spark, shared, pre, suf):
    from celestrak_tle_data_pipeline_spark.plans import all_queries
    import os
    import tempfile

    # two documents embedding the same token run at DIFFERENT offsets
    doc_a = " ".join(pre + shared)
    doc_b = " ".join(shared + suf)
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            [(1, doc_a, "en", "s", len(doc_a)), (2, doc_b, "en", "s", len(doc_b))],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(os.path.join(tmp, "documents.parquet"))
        # reuse the registered query's exact selection logic, but keep
        # the raw selected set: recompute wmin distinct per doc
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        d = spark.read.parquet(os.path.join(tmp, "documents.parquet"))
        packed = F.expr(
            "transform(sequence(0, size(split(text, ' ')) - 5), i -> "
            "(CAST(conv(substring(md5(concat_ws(' ', "
            "slice(split(text, ' '), i + 1, 5))), 1, 15), 16, 10) AS BIGINT) "
            "% 1099511627776) * 131072 + i)"
        )
        rows = d.where(F.size(F.split(F.col("text"), " ")) >= 8).select(
            "doc_id",
            (F.size(F.split(F.col("text"), " ")) - 4).alias("n_grams"),
            F.posexplode(packed).alias("gpos", "p"),
        )
        w = Window.partitionBy("doc_id").orderBy("gpos").rowsBetween(0, 3)
        sel = (
            rows.withColumn("wmin", F.min("p").over(w))
            .where(F.col("gpos") <= F.col("n_grams") - 4)
            # fingerprint identity for MATCHING is the hash (drop pos)
            .select("doc_id", F.expr("wmin div 131072").alias("fp"))
            .distinct()
            .collect()
        )
    fps = {1: set(), 2: set()}
    for r in sel:
        fps[r.doc_id].add(r.fp)
    # the guarantee: the embedded shared run must produce at least one
    # common fingerprint hash regardless of its offset in each doc
    assert fps[1] & fps[2], (doc_a, doc_b)


@settings(max_examples=1, deadline=None)
@given(
    st.integers(min_value=1, max_value=9),
    st.integers(min_value=1, max_value=9),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
)
def test_ppm_resize_dims_property(spark, in_w, in_h, out_w, out_h):
    # any input dims -> exactly the target dims, payload well-formed,
    # every output pixel drawn from the source by the floor mapping
    from celestrak_tle_data_pipeline_spark.operators.multimodal import (
        resize_ppm_assets,
    )

    px = bytes(
        (7 * i + c) % 256 for i in range(in_w * in_h) for c in range(3)
    )
    buf = b"P6\n%d %d\n255\n" % (in_w, in_h) + px
    df = spark.createDataFrame(
        [(1, bytearray(buf))], "asset_id long, payload binary"
    )
    out = resize_ppm_assets(df, out_w, out_h).collect()
    assert len(out) == 1
    body = bytes(out[0].payload)
    hdr = b"P6\n%d %d\n255\n" % (out_w, out_h)
    assert body.startswith(hdr)
    got = body[len(hdr):]
    assert len(got) == 3 * out_w * out_h
    for r in range(out_h):
        for c in range(out_w):
            sr, sc = (r * in_h) // out_h, (c * in_w) // out_w
            src = px[3 * (sr * in_w + sc): 3 * (sr * in_w + sc) + 3]
            assert got[3 * (r * out_w + c): 3 * (r * out_w + c) + 3] == src


# --------------------------------------------------------------------------
# exact_cumulative == a pure-Python running sum and rank
# --------------------------------------------------------------------------
def _run_exact_cumulative(spark, rows, buckets, keyed, fractional):
    """exact_cumulative over rows (g, value, x), id = position, in the
    total order (value, id). Per id: the output row, the row number
    over the exposed window, and the tie rank over value alone (equal
    values share a bucket, so a bucket-local rank plus the offset is
    the global rank)."""
    from pyspark.sql import Window, functions as F

    from celestrak_tle_data_pipeline_spark.plans.common import (
        exact_cumulative,
    )

    vtype = "double" if fractional else "long"
    df = spark.createDataFrame(
        [
            (i, g, v if v is None or not fractional else v / 4.0, x)
            for i, (g, v, x) in enumerate(rows)
        ],
        f"id long, g long, value {vtype}, x long",
    )
    keys = ("g",) if keyed else ()
    acc, w = exact_cumulative(
        df,
        ("value", "id"),
        {"s": F.sum("x"), "n": F.count(F.lit(1))},
        keys,
        buckets,
    )
    tie_w = Window.partitionBy(*keys, "pid").orderBy("value")
    return {
        r["id"]: r
        for r in acc.select(
            "*",
            (F.row_number().over(w) + F.col("off_n")).alias("rn"),
            (F.rank().over(tie_w) + F.col("off_n")).alias("rk"),
        ).collect()
    }


@settings(max_examples=2, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),
            st.one_of(st.none(), st.integers(-20, 20)),
            st.integers(-1000, 1000),
        ),
        min_size=1,
        max_size=60,
    ),
    buckets=st.sampled_from((1, 3, 8, 1024)),
    keyed=st.booleans(),
    fractional=st.booleans(),
)
# all-equal column (zero width), integral and fractional
@example(rows=[(0, 5, 1)] * 7, buckets=1024, keyed=False, fractional=False)
@example(rows=[(1, 5, 2)] * 7, buckets=8, keyed=True, fractional=True)
# a single row
@example(rows=[(1, -3, -7)], buckets=3, keyed=False, fractional=True)
# ties and negative values in every group
@example(
    rows=[
        (g, v, 10 * v - g) for g in range(3) for v in (-2, -2, 0, 1, 1, 9)
    ],
    buckets=3,
    keyed=True,
    fractional=False,
)
def test_exact_cumulative_matches_reference(
    spark, rows, buckets, keyed, fractional
):
    """The bucketed running sums, ranks, offsets and totals equal a
    pure-Python global computation exactly, at every bucket count —
    the invariant every exact-cumulative query (MWU, KS, median-CI,
    the Lorenz family, PPS sampling) stands on."""
    got = _run_exact_cumulative(spark, rows, buckets, keyed, fractional)
    grp = [g if keyed else 0 for g, _, _ in rows]
    # NULL sorts first, as in an unpartitioned Window.orderBy
    sk = [(v is not None, v or 0) for _, v, _ in rows]
    x = [r[2] for r in rows]
    ids = range(len(rows))
    for i in ids:
        mates = [j for j in ids if grp[j] == grp[i]]
        upto = [j for j in mates if (sk[j], j) <= (sk[i], i)]
        r = got[i]
        assert r["cum_s"] == sum(x[j] for j in upto)
        assert r["cum_n"] == r["rn"] == len(upto)
        assert r["tot_s"] == sum(x[j] for j in mates)
        assert r["tot_n"] == len(mates)
        assert r["rk"] == 1 + sum(1 for j in mates if sk[j] < sk[i])
        # buckets: -1 holds the NULLs; values fill [0, buckets] in value
        # order and equal values share one
        assert (r["pid"] == -1) == (rows[i][1] is None)
        assert -1 <= r["pid"] <= buckets
        for j in mates:
            if sk[j] < sk[i]:
                assert got[j]["pid"] <= r["pid"]
            elif sk[j] == sk[i]:
                assert got[j]["pid"] == r["pid"]
        assert r["off_s"] == sum(
            x[j] for j in mates if got[j]["pid"] < r["pid"]
        )


def test_exact_cumulative_null_order_matches_window(spark):
    """A NULL order value is neither dropped nor an error: it sorts
    first, exactly as an unpartitioned Window.orderBy places it."""
    from pyspark.sql import Window, functions as F

    from celestrak_tle_data_pipeline_spark.plans.common import (
        exact_cumulative,
    )

    df = spark.createDataFrame(
        [(0, None, 4), (1, 3, 5), (2, None, 6), (3, -1, 7), (4, 3, 8)],
        "id long, value long, x long",
    )
    acc, w = exact_cumulative(
        df, ("value",), {"s": F.sum("x"), "n": F.count(F.lit(1))}
    )
    got = {
        r["id"]: (r["rk"], r["tot_s"])
        for r in acc.select(
            "id", "tot_s", (F.rank().over(w) + F.col("off_n")).alias("rk")
        ).collect()
    }
    want = {
        r["id"]: (r["rk"], 30)
        for r in df.select(
            "id", F.rank().over(Window.orderBy("value")).alias("rk")
        ).collect()
    }
    assert got == want
    srun = {
        r["id"]: r["cum_s"]
        for r in exact_cumulative(df, ("value", "id"), {"s": F.sum("x")})[0]
        .collect()
    }
    wrun = {
        r["id"]: r["c"]
        for r in df.select(
            "id",
            F.sum("x")
            .over(
                Window.orderBy("value", "id").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            .alias("c"),
        ).collect()
    }
    assert srun == wrun == {0: 4, 2: 10, 3: 17, 1: 22, 4: 30}


@settings(max_examples=1, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(0, 10**6)),
        min_size=40,
        max_size=120,
        unique_by=lambda kv: kv[0],
    )
)
def test_prefix_offsets_reconstruct_global_cumsum(spark, kvs):
    """The bucket prefix offsets plus per-bucket running sums must
    reproduce the global cumulative sum EXACTLY for every bucket
    count — the invariant all the global-rank/cumsum rewrites (X22,
    MWU, KS, median-CI) stand on."""
    from pyspark.sql import functions as F

    from celestrak_tle_data_pipeline_spark.plans.common import (
        exact_cumulative,
    )

    want = {}
    run = 0
    for k, v in sorted(kvs):
        run += v
        want[k] = run

    df = spark.createDataFrame(kvs, "k long, v long")
    for n_buckets in (1, 3, 8):
        acc, _ = exact_cumulative(df, ("k",), {"v": F.sum("v")}, (), n_buckets)
        got = {r.k: r.cum_v for r in acc.select("k", "cum_v").collect()}
        assert got == want, f"n_buckets={n_buckets}"


# --------------------------------------------------------------------------
# round-7: distributed skyline == brute-force dominance reference
# --------------------------------------------------------------------------
@settings(max_examples=1, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 50)),
        min_size=30,
        max_size=100,
    )
)
def test_skyline_2d_matches_bruteforce(spark, xys):
    """The per-partition-frontier + broadcast-carry skyline must equal
    the O(n^2) dominance definition on arbitrary point sets — including
    duplicate x values, duplicate points, and ties on both axes (the
    cases a sorted-sweep implementation typically gets wrong)."""
    from celestrak_tle_data_pipeline_spark.plans.stats import skyline_2d

    rows = [(i, x, y) for i, (x, y) in enumerate(xys)]
    want = {
        (i, x, y)
        for i, x, y in rows
        if not any(x2 > x and y2 > y for _, x2, y2 in rows)
    }
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = {
        tuple(r) for r in skyline_2d(df, "id", "x", "y", n_parts=4).collect()
    }
    assert got == want


# --------------------------------------------------------------------------
# round-7: maintenance digest is a commutative-group homomorphism
# --------------------------------------------------------------------------
@settings(max_examples=1, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 10**9),
            st.one_of(st.none(), st.text(max_size=8)),
        ),
        min_size=0,
        max_size=120,
    ),
    st.integers(0, 120),
)
def test_table_digest_mergeable_and_partition_invariant(spark, rows, cut):
    """digest(A ∪ B) must equal the group-fold of digest(A) and
    digest(B) — the property that lets a 100 TB replica check combine
    per-shard digests instead of re-scanning — and any repartitioning
    must leave the digest untouched. Includes None vs '' rows and the
    empty frame (identity element)."""
    from celestrak_tle_data_pipeline_spark.sinks.maintenance import (
        MERSENNE61,
        table_digest,
    )

    cut = min(cut, len(rows))
    schema = "k long, s string"
    whole = spark.createDataFrame(rows, schema)
    a = spark.createDataFrame(rows[:cut], schema)
    b = spark.createDataFrame(rows[cut:], schema)

    dw = table_digest(whole)
    da, db = table_digest(a), table_digest(b)
    folded = (
        da[0] + db[0],
        da[1] ^ db[1],
        (da[2] + db[2]) % MERSENNE61,
    )
    assert dw == folded
    assert table_digest(whole.repartition(7)) == dw
    if cut == 0:
        assert da == (0, 0, 0)  # identity
