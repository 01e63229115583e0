"""ML-adjacent pipeline operators (round 5): integer-exact
classification, incremental aggregate maintenance, seasonal
decomposition, cross-document span duplication, and item-item
co-occurrence similarity.

All five are the kinds of jobs a training-data/analytics platform runs
beside the core ETL (reference scope: the loader's quality gates,
``script.py:141-171``, generalized to corpus-level statistics), kept
deterministic under the DuckDB value gate:

- aggregates of doubles go through fixed-scale DECIMAL (exact in any
  engine at any partitioning);
- every ratio/similarity is a SINGLE IEEE division (or sqrt) of two
  exactly-computed numbers — correctly rounded, bit-identical across
  engines — never a float accumulation;
- every argmax ranks with a total order (explicit tiebreak keys).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from . import register
from .common import dec, t


# --------------------------------------------------------------------------
# integer-exact token-vote classifier (naive-Bayes-shaped, no logs)
# --------------------------------------------------------------------------
@register(
    "token_vote_classifier",
    oracle="""
    WITH toks AS (
        SELECT d.doc_id, d.lang, u.tok
        FROM documents d,
             UNNEST(list_filter(string_split(d.text, ' '),
                                x -> x <> '')) AS u(tok)
    ),
    counts AS (SELECT tok, lang, COUNT(*) AS n_tl FROM toks GROUP BY 1, 2),
    totals AS (SELECT lang, COUNT(*) AS n_l FROM toks GROUP BY 1),
    champ AS (
        SELECT tok, lang AS pred_tok,
               ROW_NUMBER() OVER (
                   PARTITION BY tok
                   ORDER BY CAST(n_tl AS DOUBLE) / CAST(n_l AS DOUBLE) DESC,
                            lang
               ) AS rn
        FROM counts JOIN totals USING (lang)
    ),
    c1 AS (SELECT tok, pred_tok FROM champ WHERE rn = 1),
    votes AS (
        SELECT t.doc_id, t.lang, c.pred_tok, COUNT(*) AS nv
        FROM toks t JOIN c1 c USING (tok) GROUP BY 1, 2, 3
    ),
    pred AS (
        SELECT doc_id, lang, pred_tok,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY nv DESC, pred_tok
               ) AS rn
        FROM votes
    )
    SELECT lang, pred_tok AS pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred WHERE rn = 1 GROUP BY 1, 2
    """,
)
def token_vote_classifier(spark, sf_dir):
    """Train-and-apply a corpus classifier with NO floating-point
    accumulation: each token "votes" for the class where its relative
    frequency is highest, and a document's prediction is the majority
    vote — the multinomial-naive-Bayes decision shape without the
    log-likelihood sums that make cross-engine float determinism
    impossible (``ln`` is libm-dependent; a ratio of two exact integers
    is one correctly-rounded IEEE division everywhere).

    Training = one aggregation over the exploded token stream (the
    per-class token counts ARE the model); inference = a map-side
    equi-join of the token stream against the champion table. At 100 TB
    the champion table is bounded by vocabulary size — it broadcasts,
    so scoring is a single scan with no shuffle of the corpus; the
    confusion-matrix rollup shuffles `|classes|^2` rows. Output is the
    (actual, predicted) confusion matrix over the ``lang`` label.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.filter(F.split("text", " "), lambda x: x != "")
        ).alias("tok"),
    )
    counts = toks.groupBy("tok", "lang").agg(F.count(F.lit(1)).alias("n_tl"))
    # class totals ride a window over the (tok, lang) counts — one
    # subtree, so the corpus scans exactly twice (train + inference);
    # a separate totals aggregate would re-run the counts lineage
    # (ReuseExchange does not canonicalize across the two consumers)
    rel = counts.withColumn(
        "n_l", F.sum("n_tl").over(Window.partitionBy("lang"))
    ).withColumn(
        "freq", F.col("n_tl").cast("double") / F.col("n_l").cast("double")
    )
    w_tok = Window.partitionBy("tok").orderBy(
        F.col("freq").desc(), F.col("lang").asc()
    )
    champ = (
        rel.withColumn("rn", F.row_number().over(w_tok))
        .where(F.col("rn") == 1)
        .select("tok", F.col("lang").alias("pred_tok"))
    )
    votes = (
        toks.join(F.broadcast(champ), "tok")
        .groupBy("doc_id", "lang", "pred_tok")
        .agg(F.count(F.lit(1)).alias("nv"))
    )
    w_doc = Window.partitionBy("doc_id").orderBy(
        F.col("nv").desc(), F.col("pred_tok").asc()
    )
    pred = votes.withColumn("rn", F.row_number().over(w_doc)).where(
        F.col("rn") == 1
    )
    return pred.groupBy("lang", F.col("pred_tok").alias("pred_lang")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


# --------------------------------------------------------------------------
# incremental aggregate maintenance (partial-state merge)
# --------------------------------------------------------------------------
@register(
    "incremental_agg_merge",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           CAST(epoch_us(MIN(ts)) AS BIGINT) AS first_us,
           CAST(epoch_us(MAX(ts)) AS BIGINT) AS last_us
    FROM events GROUP BY user_id
    """,
)
def incremental_agg_merge(spark, sf_dir):
    """Incremental materialized-aggregate maintenance: per-user partial
    states (count, decimal sum, min/max) are computed separately for the
    "historical" slice (everything before a 7-day-from-max cut) and the
    "new batch" slice, then MERGED by re-aggregating the union of
    states — sum-of-sums, min-of-mins — never rescanning history rows.
    The oracle is the from-scratch aggregation over all rows: the merge
    being exactly equal IS the incremental-view-maintenance contract
    (decimal addition is associative, so partial + partial = total,
    bit-for-bit).

    Scale shape: this is how a 100 TB rollup stays cheap — the
    historical state table is `|users|` rows (re-aggregated, never the
    raw fact), and only the new partition is scanned at event grain.
    Both slice filters are literal timestamp bounds pushed into the
    parquet scan; the cut anchor resolves via one scalar aggregate
    (scan-bound resolution, same pattern as ``pruned_scan_recent``).
    """
    e = t(spark, sf_dir, "events")
    mx_us = e.agg(F.unix_micros(F.max("ts"))).first()[0]
    if mx_us is None:
        cut = F.lit(None).cast("timestamp")
    else:
        cut = F.timestamp_micros(F.lit(mx_us - 7 * 86_400 * 1_000_000))

    def partial(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value", 18, 6)).alias("sv"),
            F.min(F.unix_micros("ts")).alias("mn"),
            F.max(F.unix_micros("ts")).alias("mx"),
        )

    state = partial(e.where(F.col("ts") < cut))
    delta = partial(e.where(~(F.col("ts") < cut)))
    return (
        state.unionByName(delta)
        .groupBy("user_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.sum("sv").cast("double").alias("total_value"),
            F.min("mn").cast("bigint").alias("first_us"),
            F.max("mx").cast("bigint").alias("last_us"),
        )
    )


# --------------------------------------------------------------------------
# day-of-week seasonal decomposition (no transcendental math)
# --------------------------------------------------------------------------
@register(
    "seasonal_dow_decompose",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               SUM(CAST(value AS DECIMAL(18,6))) AS sv
        FROM events GROUP BY 1
    ),
    x AS (
        SELECT d,
               CAST(((date_diff('day', DATE '1970-01-01', d) % 7) + 7) % 7
                    AS INT) AS dow,
               sv
        FROM daily
    )
    SELECT d, dow,
           CAST(sv AS DOUBLE) AS daily_total,
           CAST(SUM(sv) OVER (PARTITION BY dow) AS DOUBLE)
               / CAST(COUNT(*) OVER (PARTITION BY dow) AS DOUBLE) AS dow_mean,
           CAST(sv AS DOUBLE)
               - CAST(SUM(sv) OVER (PARTITION BY dow) AS DOUBLE)
                 / CAST(COUNT(*) OVER (PARTITION BY dow) AS DOUBLE)
               AS residual
    FROM x
    """,
)
def seasonal_dow_decompose(spark, sf_dir):
    """Weekly-seasonality decomposition of the daily value series:
    seasonal component = same-day-of-week mean, residual = daily total
    minus its seasonal mean — the first step of an STL-style anomaly
    view, built entirely from exact decimal sums plus ONE division and
    ONE subtraction per row (both IEEE-deterministic; no float
    accumulation anywhere).

    Day-of-week is ``pmod(days_since_epoch, 7)`` — pure integer
    arithmetic, identical in every engine, no locale/weekstart
    convention. Plan: one event-grain aggregation shuffle down to
    days, then a 7-partition window over the tiny daily series; at
    100 TB the event->day rollup is the only data-sized stage and it
    partial-aggregates map-side.
    """
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.sum(dec("value", 18, 6)).alias("sv"))
    x = daily.withColumn(
        "dow",
        F.pmod(
            F.datediff("d", F.lit("1970-01-01").cast("date")), F.lit(7)
        ).cast("int"),
    )
    w = Window.partitionBy("dow")
    dow_mean = F.sum("sv").over(w).cast("double") / F.count(
        F.lit(1)
    ).over(w).cast("double")
    return x.select(
        "d",
        "dow",
        F.col("sv").cast("double").alias("daily_total"),
        dow_mean.alias("dow_mean"),
        (F.col("sv").cast("double") - dow_mean).alias("residual"),
    )


# --------------------------------------------------------------------------
# cross-document duplicated-span profile (8-token grams)
# --------------------------------------------------------------------------
@register(
    "duplicate_ngram_spans",
    oracle="""
    WITH tk AS (
        SELECT doc_id, source,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ),
    g8 AS (
        SELECT doc_id, source,
               UNNEST(CASE WHEN len(toks) >= 8 THEN
                   list_transform(generate_series(1, len(toks) - 7),
                                  i -> array_to_string(toks[i:i+7], ' '))
               ELSE [] END) AS gram
        FROM tk
    ),
    gd AS (SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM g8 GROUP BY 1)
    SELECT g.doc_id, g.source,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN gd.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_grams,
           CAST(SUM(CASE WHEN gd.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS dup_frac
    FROM g8 g JOIN gd ON g.gram = gd.gram
    GROUP BY 1, 2
    """,
)
def duplicate_ngram_spans(spark, sf_dir):
    """Per-document duplicated-span profile at 8-token granularity: the
    fraction of a document's token-gram positions whose exact 8-gram
    also appears in ANOTHER document — the bounded-window form of
    exact-substring training-data dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better": suffix-array spans >=
    50 tokens; grams are the shuffle-friendly relaxation — a duplicated
    span of length L >= 8 implies L-7 duplicated grams, so span dup is
    detected with a fixed-width key an equi-join can bucket on).

    Scale shape: grams never carry payloads beyond the gram key itself;
    in production the gram string is replaced by ``xxhash64(gram)`` so
    only 8-byte digests shuffle (kept as text here for oracle parity —
    the plan shape is identical). One groupBy(gram) for corpus counts,
    one gram-keyed join back, one per-doc rollup. Documents shorter
    than 8 tokens have no gram positions and drop out of the profile
    (both engines).
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.filter(F.split("text", " "), lambda x: x != "").alias("toks"),
    )
    grams = d.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 8 THEN "
                "  transform(sequence(1, size(toks) - 7), "
                "            i -> concat_ws(' ', slice(toks, i, 8))) "
                "ELSE array() END"
            )
        ).alias("gram"),
    )
    gd = grams.groupBy("gram").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    dup = F.sum((F.col("nd") > 1).cast("bigint"))
    return (
        grams.join(gd, "gram")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            dup.cast("bigint").alias("n_dup_grams"),
            (
                dup.cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("dup_frac"),
        )
    )


# --------------------------------------------------------------------------
# item-item co-occurrence cosine (frequency-capped blocking)
# --------------------------------------------------------------------------
@register(
    "item_cooccurrence_cosine",
    oracle="""
    WITH cp AS (
        SELECT DISTINCT l.l_partkey AS part, o.o_custkey AS cust
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    pop AS (SELECT part, COUNT(*) AS n FROM cp GROUP BY 1),
    top AS (
        SELECT part, n,
               ROW_NUMBER() OVER (ORDER BY n DESC, part) AS rn
        FROM pop QUALIFY rn <= 50
    ),
    cpt AS (SELECT c.part, c.cust, t.n FROM cp c JOIN top t USING (part)),
    pairs AS (
        SELECT a.part AS part1, b.part AS part2,
               a.n AS na, b.n AS nb, COUNT(*) AS n_co
        FROM cpt a JOIN cpt b ON a.cust = b.cust AND a.part < b.part
        GROUP BY 1, 2, 3, 4
    )
    SELECT CAST(part1 AS BIGINT) AS part1,
           CAST(part2 AS BIGINT) AS part2,
           CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           CAST(n_co AS BIGINT) AS n_co,
           CAST(n_co AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE))
               AS cosine_sim
    FROM pairs
    """,
)
def item_cooccurrence_cosine(spark, sf_dir):
    """Item-item collaborative-filtering similarity: cosine over binary
    customer-purchase vectors, co_count / sqrt(n_a * n_b) — one sqrt
    and one division per pair, both correctly-rounded IEEE ops, on
    exactly-counted integers.

    The all-pairs explosion is tamed by FREQUENCY-CAPPED BLOCKING: only
    the top-50 most-purchased items (total-ordered: count desc, key
    asc) enter the pair join, so the self-join on customer produces at
    most C(50,2) aggregated pairs regardless of catalog size — the
    standard candidate-capping trick in item-item recommenders. Plan:
    fact-fact equi-join to customer-part pairs, distinct, a tiny
    popularity rollup whose top-k broadcasts back, then a
    customer-keyed self-join of the capped stream (at 100 TB: salt
    mega-customers or cap basket size — documented, not needed at
    bench scale). No driver-side collect anywhere; the top-k is a
    window over an aggregated 1-row-per-item frame.

    The distinct (part, cust) set feeds FOUR subtrees (popularity,
    capped stream, both self-join sides); Spark's ReuseExchange does
    not canonicalize across them, so without materialization the fact
    join runs four times (verified: 8 parquet scans). ``persist()``
    pins it to one computation — the local stand-in for what a 100 TB
    job does by writing the distinct pair set to a bucketed
    intermediate table and self-joining that.
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("l_partkey").alias("part"), F.col("o_custkey").alias("cust")
        )
        .distinct()
        .persist()
    )
    pop = cp.groupBy("part").agg(F.count(F.lit(1)).alias("n"))
    # total-ordered top-k via orderBy().limit() compiles to
    # TakeOrderedAndProject — per-partition heaps + one k-row merge, no
    # single-partition window exchange over the item frame
    top = (
        pop.orderBy(F.col("n").desc(), F.col("part").asc())
        .limit(50)
        .select("part", "n")
    )
    cpt = cp.join(F.broadcast(top), "part")
    a = cpt.alias("a")
    b = cpt.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cust") == F.col("b.cust"))
            & (F.col("a.part") < F.col("b.part")),
        )
        .groupBy(
            F.col("a.part").alias("part1"),
            F.col("b.part").alias("part2"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_co"))
    )
    return pairs.select(
        F.col("part1").cast("bigint"),
        F.col("part2").cast("bigint"),
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.col("n_co").cast("bigint"),
        (
            F.col("n_co").cast("double")
            / F.sqrt((F.col("na") * F.col("nb")).cast("double"))
        ).alias("cosine_sim"),
    )


# --------------------------------------------------------------------------
# quality-aware dedup survivor selection
# --------------------------------------------------------------------------
@register(
    "dedup_best_quality_survivor",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ),
    scored AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(toks)), ' '))
                   AS digest,
               CAST(len(list_distinct(toks)) AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE) AS quality
        FROM d WHERE len(toks) > 0
    ),
    ranked AS (
        SELECT digest, doc_id, quality,
               ROW_NUMBER() OVER (
                   PARTITION BY digest ORDER BY quality DESC, doc_id
               ) AS rn,
               COUNT(*) OVER (PARTITION BY digest) AS n_members
        FROM scored
    )
    SELECT digest, CAST(n_members AS BIGINT) AS n_members,
           CAST(doc_id AS BIGINT) AS survivor_doc_id,
           quality AS survivor_quality
    FROM ranked WHERE rn = 1 AND n_members > 1
    """,
)
def dedup_best_quality_survivor(spark, sf_dir):
    """Quality-aware dedup survivor selection: within each duplicate
    group, keep the member with the best quality signal (distinct-token
    ratio — one division of two exact integers) instead of an arbitrary
    first-seen row — the policy step between duplicate DETECTION
    (exact_dup_groups / the LSH tiers) and corpus rewrite, where a real
    training-data pipeline keeps the best-formatted copy of a page.

    Groups form on a BAG-OF-WORDS fingerprint (md5 of the sorted
    distinct token set): documents built from the same vocabulary are
    one group even when token order/repetition differs — exactly the
    near-dup tier where survivor quality varies and the policy has
    something to choose (byte-exact dups all score identically).
    Deterministic: quality ties break on doc_id, so the survivor is
    unique under any partitioning. Plan: one scan, the fingerprint and
    score are map-side expressions, one digest-keyed window — digests
    and scalar scores shuffle, payloads don't. Emits only groups with
    >1 member (where the policy does something).
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("toks"),
    )
    scored = d.where(F.size("toks") > 0).select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct("toks")))
        ).alias("digest"),
        (
            F.size(F.array_distinct("toks")).cast("double")
            / F.size("toks").cast("double")
        ).alias("quality"),
    )
    w = Window.partitionBy("digest").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    wc = Window.partitionBy("digest")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .where((F.col("rn") == 1) & (F.col("n_members") > 1))
        .select(
            "digest",
            F.col("n_members").cast("bigint"),
            F.col("doc_id").cast("bigint").alias("survivor_doc_id"),
            F.col("quality").alias("survivor_quality"),
        )
    )


# --------------------------------------------------------------------------
# bounded-depth BFS over the fuzzy-match graph (unrolled min-distance)
# --------------------------------------------------------------------------
@register(
    "dup_graph_bfs3",
    oracle="""
    WITH c AS (
        SELECT c_name, c_mktsegment FROM customer WHERE c_custkey <= 300
    ), half AS (
        SELECT a.c_mktsegment AS seg, a.c_name AS u, b.c_name AS v
        FROM c a JOIN c b
          ON a.c_mktsegment = b.c_mktsegment AND a.c_name < b.c_name
        WHERE levenshtein(a.c_name, b.c_name) <= 1
    ), edges AS (
        SELECT seg, u, v FROM half
        UNION ALL SELECT seg, v AS u, u AS v FROM half
    ), nodes AS (
        SELECT DISTINCT seg, u AS node FROM edges
    ), seed AS (
        SELECT seg, MIN(node) AS node FROM nodes GROUP BY seg
    ), d0 AS (
        SELECT n.seg, n.node,
               CASE WHEN s.node = n.node THEN 0 END AS dist
        FROM nodes n JOIN seed s ON n.seg = s.seg
    ), d1 AS (
        SELECT n.seg, n.node,
               LEAST(n.dist, m.md + 1) AS dist
        FROM d0 n LEFT JOIN (
            SELECT e.seg, e.v AS node, MIN(r.dist) AS md
            FROM edges e JOIN d0 r ON e.seg = r.seg AND e.u = r.node
            WHERE r.dist IS NOT NULL GROUP BY e.seg, e.v
        ) m ON n.seg = m.seg AND n.node = m.node
    ), d2 AS (
        SELECT n.seg, n.node,
               LEAST(n.dist, m.md + 1) AS dist
        FROM d1 n LEFT JOIN (
            SELECT e.seg, e.v AS node, MIN(r.dist) AS md
            FROM edges e JOIN d1 r ON e.seg = r.seg AND e.u = r.node
            WHERE r.dist IS NOT NULL GROUP BY e.seg, e.v
        ) m ON n.seg = m.seg AND n.node = m.node
    ), d3 AS (
        SELECT n.seg, n.node,
               LEAST(n.dist, m.md + 1) AS dist
        FROM d2 n LEFT JOIN (
            SELECT e.seg, e.v AS node, MIN(r.dist) AS md
            FROM edges e JOIN d2 r ON e.seg = r.seg AND e.u = r.node
            WHERE r.dist IS NOT NULL GROUP BY e.seg, e.v
        ) m ON n.seg = m.seg AND n.node = m.node
    )
    SELECT seg, node, CAST(dist AS BIGINT) AS dist
    FROM d3 WHERE dist IS NOT NULL
    """,
)
def dup_graph_bfs3(spark, sf_dir):
    """Bounded-depth (3-hop) BFS reachability from a per-segment seed
    over the blocked fuzzy-match graph — the "how far does this
    duplicate cluster extend from its representative" probe, and the
    engine's iterative-graph-traversal certification alongside the
    integer PageRank (same edge set: segment-blocked Levenshtein<=1
    pairs, never all-pairs).

    Frontier relaxation is UNROLLED min-distance: dist_{k+1}(v) =
    least(dist_k(v), 1 + min over in-edges of dist_k(u)) — pure
    integers, associative mins, so any partitioning gives the same
    fixpoint prefix. Three rounds = three join+agg stages in ONE lazy
    DAG (at unbounded depth you'd localCheckpoint per round like the
    connected-components operator; 3 rounds doesn't need lineage
    truncation). Unreached nodes drop out at the end, both engines.
    """
    c = (
        t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 300)
        .select("c_name", "c_mktsegment")
    )
    a, b = c.alias("a"), c.alias("b")
    half = (
        a.join(
            b,
            (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
            & (F.col("a.c_name") < F.col("b.c_name")),
        )
        .where(F.levenshtein(F.col("a.c_name"), F.col("b.c_name")) <= 1)
        .select(
            F.col("a.c_mktsegment").alias("seg"),
            F.col("a.c_name").alias("u"),
            F.col("b.c_name").alias("v"),
        )
    )
    edges = half.unionByName(
        half.select("seg", F.col("v").alias("u"), F.col("u").alias("v"))
    )
    nodes = edges.select("seg", F.col("u").alias("node")).distinct()
    seed = nodes.groupBy("seg").agg(F.min("node").alias("snode"))
    dist = nodes.join(seed, "seg").select(
        "seg",
        "node",
        F.when(F.col("node") == F.col("snode"), F.lit(0)).alias("dist"),
    )
    for _ in range(3):
        relax = (
            edges.join(
                dist.where(F.col("dist").isNotNull()).withColumnRenamed(
                    "node", "u"
                ),
                ["seg", "u"],
            )
            .groupBy("seg", F.col("v").alias("node"))
            .agg(F.min("dist").alias("md"))
        )
        dist = dist.join(relax, ["seg", "node"], "left").select(
            "seg",
            "node",
            F.least(F.col("dist"), F.col("md") + 1).alias("dist"),
        )
    return dist.where(F.col("dist").isNotNull()).select(
        "seg", "node", F.col("dist").cast("bigint").alias("dist")
    )


# --------------------------------------------------------------------------
# sorted-neighborhood entity-resolution blocking
# --------------------------------------------------------------------------
@register(
    "sorted_neighborhood_pairs",
    oracle="""
    WITH s AS (
        SELECT c_custkey, c_name,
               LEAD(c_name, 1) OVER (ORDER BY c_name, c_custkey) AS n1,
               LEAD(c_custkey, 1) OVER (ORDER BY c_name, c_custkey) AS k1,
               LEAD(c_name, 2) OVER (ORDER BY c_name, c_custkey) AS n2,
               LEAD(c_custkey, 2) OVER (ORDER BY c_name, c_custkey) AS k2
        FROM customer
    ),
    cand AS (
        SELECT c_custkey AS key1, k1 AS key2, c_name AS name1, n1 AS name2,
               levenshtein(c_name, n1) AS dist
        FROM s WHERE n1 IS NOT NULL
        UNION ALL
        SELECT c_custkey, k2, c_name, n2, levenshtein(c_name, n2)
        FROM s WHERE n2 IS NOT NULL
    )
    SELECT CAST(key1 AS BIGINT) AS key1, CAST(key2 AS BIGINT) AS key2,
           name1, name2, CAST(dist AS BIGINT) AS dist
    FROM cand WHERE dist <= 2
    """,
)
def sorted_neighborhood_pairs(spark, sf_dir):
    """Sorted-neighborhood entity-resolution blocking: sort records by
    the match key, compare each record only to its next w=2 neighbors
    in sort order (lead(1), lead(2)) — the classic SNM alternative to
    hash blocking, catching near-matches that share a sort prefix
    without any all-pairs product. Candidate pairs that survive a
    Levenshtein<=2 verify are emitted with their edit distance.

    Total order (name, key) makes the neighbor set — and therefore the
    output — partition-independent. The global-order window runs
    single-partition here (1.5k dim rows); at 100 TB SNM is
    range-partitioned on the sort key with w rows of boundary
    replication per partition — same window expression, no global
    sort barrier; the classic multi-pass variant re-runs it under a
    second key ordering to catch prefix-divergent matches.
    """
    cst = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    w = Window.orderBy(F.col("c_name").asc(), F.col("c_custkey").asc())
    s = cst.select(
        "c_custkey",
        "c_name",
        F.lead("c_name", 1).over(w).alias("n1"),
        F.lead("c_custkey", 1).over(w).alias("k1"),
        F.lead("c_name", 2).over(w).alias("n2"),
        F.lead("c_custkey", 2).over(w).alias("k2"),
    )
    c1 = s.where(F.col("n1").isNotNull()).select(
        F.col("c_custkey").alias("key1"),
        F.col("k1").alias("key2"),
        F.col("c_name").alias("name1"),
        F.col("n1").alias("name2"),
        F.levenshtein("c_name", "n1").alias("dist"),
    )
    c2 = s.where(F.col("n2").isNotNull()).select(
        F.col("c_custkey").alias("key1"),
        F.col("k2").alias("key2"),
        F.col("c_name").alias("name1"),
        F.col("n2").alias("name2"),
        F.levenshtein("c_name", "n2").alias("dist"),
    )
    return (
        c1.unionByName(c2)
        .where(F.col("dist") <= 2)
        .select(
            F.col("key1").cast("bigint"),
            F.col("key2").cast("bigint"),
            "name1",
            "name2",
            F.col("dist").cast("bigint"),
        )
    )


# --------------------------------------------------------------------------
# sorted-neighborhood blocking, range-partitioned form (the 100 TB plan)
# --------------------------------------------------------------------------
@register(
    "sorted_neighborhood_ranged",
    oracle="""
    WITH s AS (
        SELECT c_custkey, c_name,
               LEAD(c_name, 1) OVER (ORDER BY c_name, c_custkey) AS n1,
               LEAD(c_custkey, 1) OVER (ORDER BY c_name, c_custkey) AS k1,
               LEAD(c_name, 2) OVER (ORDER BY c_name, c_custkey) AS n2,
               LEAD(c_custkey, 2) OVER (ORDER BY c_name, c_custkey) AS k2
        FROM customer
    ),
    cand AS (
        SELECT c_custkey AS key1, k1 AS key2, c_name AS name1, n1 AS name2,
               levenshtein(c_name, n1) AS dist
        FROM s WHERE n1 IS NOT NULL
        UNION ALL
        SELECT c_custkey, k2, c_name, n2, levenshtein(c_name, n2)
        FROM s WHERE n2 IS NOT NULL
    )
    SELECT CAST(key1 AS BIGINT) AS key1, CAST(key2 AS BIGINT) AS key2,
           name1, name2, CAST(dist AS BIGINT) AS dist
    FROM cand WHERE dist <= 2
    """,
)
def sorted_neighborhood_ranged(spark, sf_dir):
    """Sorted-neighborhood blocking, scale-safe twin of
    ``sorted_neighborhood_pairs`` — identical output contract (the
    oracle is the same global-sort SQL), but NO single-partition
    global-order window. The 100 TB shape the global form's docstring
    promises, implemented:

    1. ``repartitionByRange`` on the sort key (Spark samples range
       boundaries; every key in partition p sorts strictly before
       every key in p+1 — the (name, key) tuple is unique, so the
       order is total and seam-free).
    2. Each partition's first w=2 rows are REPLICATED into the
       preceding partition (tagged ``carry``) so neighbor pairs that
       straddle a partition boundary are still seen.
    3. ``lead(1..2)`` runs per-partition (``partitionBy(pid)``), and
       pairs are emitted only where the LEFT row is a partition-native
       row — carry rows get their own pairs in their home partition,
       so nothing is duplicated and nothing is missed.

    Invariant (documented, as in every production SNM): each non-final
    range partition must hold ≥ w rows, guaranteed whenever
    N/partitions ≫ w. ``tests/test_stats_scale_twins.py`` asserts the
    output is row-identical to the global-sort form; the plan shows
    ``rangepartitioning`` exchanges only — no ``SinglePartition``.
    """
    cst = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    order = [F.col("c_name").asc(), F.col("c_custkey").asc()]
    # persist() pins ONE range-partitioned computation for both the
    # carry branch and the base rows — pid assignment is deterministic
    # either way (RangePartitioner samples with fixed seeds), but a
    # single materialization makes the seam-freedom unconditional
    # boundary-row replication, not a sum or rank: exact_cumulative
    # does not apply, and tests pin this range exchange
    s = (
        cst.repartitionByRange(8, *order)
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    wp = Window.partitionBy("pid").orderBy(*order)
    carry = (
        s.withColumn("rn", F.row_number().over(wp))
        .where((F.col("rn") <= 2) & (F.col("pid") > 0))
        .select(
            "c_custkey",
            "c_name",
            (F.col("pid") - 1).alias("pid"),
            F.lit(True).alias("carry"),
        )
    )
    u = s.select(
        "c_custkey", "c_name", "pid", F.lit(False).alias("carry")
    ).unionByName(carry)
    leads = u.select(
        "c_custkey",
        "c_name",
        "carry",
        F.lead("c_name", 1).over(wp).alias("n1"),
        F.lead("c_custkey", 1).over(wp).alias("k1"),
        F.lead("c_name", 2).over(wp).alias("n2"),
        F.lead("c_custkey", 2).over(wp).alias("k2"),
    ).where(~F.col("carry"))
    c1 = leads.where(F.col("n1").isNotNull()).select(
        F.col("c_custkey").alias("key1"),
        F.col("k1").alias("key2"),
        F.col("c_name").alias("name1"),
        F.col("n1").alias("name2"),
        F.levenshtein("c_name", "n1").alias("dist"),
    )
    c2 = leads.where(F.col("n2").isNotNull()).select(
        F.col("c_custkey").alias("key1"),
        F.col("k2").alias("key2"),
        F.col("c_name").alias("name1"),
        F.col("n2").alias("name2"),
        F.levenshtein("c_name", "n2").alias("dist"),
    )
    return (
        c1.unionByName(c2)
        .where(F.col("dist") <= 2)
        .select(
            F.col("key1").cast("bigint"),
            F.col("key2").cast("bigint"),
            "name1",
            "name2",
            F.col("dist").cast("bigint"),
        )
    )


# --------------------------------------------------------------------------
# OLS by normal equations (closed-form 3x3 Cramer solve)
# --------------------------------------------------------------------------
@register(
    "ols_normal_equations",
    oracle="""
    WITH obs AS (
        SELECT CAST(l_quantity AS DOUBLE) AS x1,
               CAST(l_discount AS DOUBLE) AS x2,
               CAST(l_extendedprice AS DOUBLE) AS y,
               CAST(l_quantity AS BIGINT) AS qi,
               CAST(l_discount * 100 AS BIGINT) AS di,
               CAST(l_extendedprice * 100 AS BIGINT) AS pi
        FROM lineitem
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(qi) AS DOUBLE) AS s1,
               CAST(SUM(di) AS DOUBLE) / 100 AS s2,
               CAST(SUM(pi) AS DOUBLE) / 100 AS sy,
               CAST(SUM(qi * qi) AS DOUBLE) AS s11,
               CAST(SUM(qi * di) AS DOUBLE) / 100 AS s12,
               CAST(SUM(di * di) AS DOUBLE) / 10000 AS s22,
               CAST(SUM(qi * pi) AS DOUBLE) / 100 AS s1y,
               CAST(SUM(di * pi) AS DOUBLE) / 10000 AS s2y,
               CAST(SUM(pi * pi) AS DOUBLE) / 10000 AS syy
        FROM obs
    ),
    solved AS (
        SELECT n, sy, syy, s1y, s2y,
               (n * (s11 * s22 - s12 * s12)
                - s1 * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s12 - s11 * s2)) AS det,
               (sy * (s11 * s22 - s12 * s12)
                - s1 * (s1y * s22 - s12 * s2y)
                + s2 * (s1y * s12 - s11 * s2y)) AS det0,
               (n * (s1y * s22 - s12 * s2y)
                - sy * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s2y - s1y * s2)) AS det1,
               (n * (s11 * s2y - s1y * s12)
                - s1 * (s1 * s2y - s1y * s2)
                + sy * (s1 * s12 - s11 * s2)) AS det2
        FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           round(det0 / det, 6) AS beta0,
           round(det1 / det, 6) AS beta1,
           round(det2 / det, 6) AS beta2,
           round(1 - (syy - (det0 / det) * sy - (det1 / det) * s1y
                      - (det2 / det) * s2y)
                     / (syy - sy * sy / n), 9) AS r2
    FROM solved
    """,
)
def ols_normal_equations(spark, sf_dir):
    """Multiple linear regression by normal equations, solved in
    CLOSED FORM — price ~ β0 + β1·quantity + β2·discount over
    lineitem: the distributed-ML primitive where the entire fit is
    one aggregation (the Gram matrix XᵀX and moment vector Xᵀy are
    sums — embarrassingly parallel, map-side combinable) and the
    3×3 solve is scalar Cramer's-rule algebra on the driver row. At
    100 TB the plan is a single scan + one 10-scalar reduce; no
    gradient iterations, no collect of data.

    Exactness: quantity/discount/price are fixed-point (integer
    units / cents), so every power sum is an EXACT integer before
    one descaling division; the determinant algebra runs in
    identical expression trees both engines. R² = 1 − SSE/SST with
    SSE = Σy² − βᵀXᵀy (the normal-equation identity — no second
    pass over residuals)."""
    li = t(spark, sf_dir, "lineitem")
    obs = li.select(
        F.col("l_quantity").cast("bigint").alias("qi"),
        (dec("l_discount", 12, 2) * 100).cast("bigint").alias("di"),
        (dec("l_extendedprice", 12, 2) * 100).cast("bigint").alias("pi"),
    )
    s = obs.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("qi").cast("double").alias("s1"),
        (F.sum("di").cast("double") / 100).alias("s2"),
        (F.sum("pi").cast("double") / 100).alias("sy"),
        # second-order sums ride DECIMAL(38,0): Σp² overflows BIGINT
        # already at sf0.1 (~1e14/row × 6e5 rows), caught by the 8x
        # probe under ANSI mode — decimal partials stay exact and
        # map-side combinable at any scale factor
        F.sum((F.col("qi") * F.col("qi")).cast("decimal(38,0)"))
        .cast("double")
        .alias("s11"),
        (
            F.sum((F.col("qi") * F.col("di")).cast("decimal(38,0)"))
            .cast("double")
            / 100
        ).alias("s12"),
        (
            F.sum((F.col("di") * F.col("di")).cast("decimal(38,0)"))
            .cast("double")
            / 10000
        ).alias("s22"),
        (
            F.sum((F.col("qi") * F.col("pi")).cast("decimal(38,0)"))
            .cast("double")
            / 100
        ).alias("s1y"),
        (
            F.sum((F.col("di") * F.col("pi")).cast("decimal(38,0)"))
            .cast("double")
            / 10000
        ).alias("s2y"),
        (
            F.sum((F.col("pi") * F.col("pi")).cast("decimal(38,0)"))
            .cast("double")
            / 10000
        ).alias("syy"),
    )
    n, s1, s2, sy = F.col("n"), F.col("s1"), F.col("s2"), F.col("sy")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    s1y, s2y, syy = F.col("s1y"), F.col("s2y"), F.col("syy")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    det0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    det1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    det2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    solved = s.select(
        n.alias("n"), sy.alias("sy"), syy.alias("syy"),
        s1y.alias("s1y"), s2y.alias("s2y"),
        s1.alias("s1"),
        det.alias("det"), det0.alias("det0"),
        det1.alias("det1"), det2.alias("det2"),
    )
    b0 = F.col("det0") / F.col("det")
    b1 = F.col("det1") / F.col("det")
    b2 = F.col("det2") / F.col("det")
    return solved.select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.round(b0, 6).alias("beta0"),
        F.round(b1, 6).alias("beta1"),
        F.round(b2, 6).alias("beta2"),
        F.round(
            1
            - (
                F.col("syy")
                - b0 * F.col("sy")
                - b1 * F.col("s1y")
                - b2 * F.col("s2y")
            )
            / (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")),
            9,
        ).alias("r2"),
    )


# --------------------------------------------------------------------------
# decision-stump split finder (weighted Gini over the value domain)
# --------------------------------------------------------------------------
@register(
    "gini_split_threshold",
    oracle="""
    WITH pts AS (
        SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        FROM events
    ),
    dv AS (
        SELECT v,
               CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(pos) AS BIGINT) AS p
        FROM pts GROUP BY v
    ),
    cum AS (
        SELECT v,
               CAST(SUM(c) OVER w AS BIGINT) AS cn,
               CAST(SUM(p) OVER w AS BIGINT) AS cp,
               CAST(SUM(c) OVER () AS BIGINT) AS n,
               CAST(SUM(p) OVER () AS BIGINT) AS np
        FROM dv
        WINDOW w AS (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    scored AS (
        SELECT v, cn, cp, n, np,
               (CAST(cn AS DOUBLE) / n)
               * (1 - (CAST(cp AS DOUBLE) / cn)
                     * (CAST(cp AS DOUBLE) / cn)
                   - (CAST(cn - cp AS DOUBLE) / cn)
                     * (CAST(cn - cp AS DOUBLE) / cn))
               + (CAST(n - cn AS DOUBLE) / n)
               * (1 - (CAST(np - cp AS DOUBLE) / (n - cn))
                     * (CAST(np - cp AS DOUBLE) / (n - cn))
                   - (CAST((n - cn) - (np - cp) AS DOUBLE) / (n - cn))
                     * (CAST((n - cn) - (np - cp) AS DOUBLE) / (n - cn)))
                   AS wg
        FROM cum WHERE cn < n
    ),
    best AS (
        SELECT v, wg, n, np,
               ROW_NUMBER() OVER (ORDER BY wg, v) AS rn
        FROM scored
    )
    SELECT CAST(v AS BIGINT) AS threshold_cents,
           round(wg, 9) AS weighted_gini,
           round((1 - (CAST(np AS DOUBLE) / n) * (CAST(np AS DOUBLE) / n)
                    - (CAST(n - np AS DOUBLE) / n)
                      * (CAST(n - np AS DOUBLE) / n)), 9) AS base_gini,
           n AS n_rows
    FROM best WHERE rn = 1
    """,
)
def gini_split_threshold(spark, sf_dir):
    """Decision-stump split finder: the single value threshold that
    best separates purchases from other events by WEIGHTED GINI
    impurity — the inner loop of distributed decision-tree training
    (every tree library evaluates exactly this cumulative-class-count
    scan per feature), here as a pure Catalyst plan: candidate
    thresholds are the distinct value cents, class counts cumulate
    over that ordered VALUE DOMAIN (a price grid — domain-bounded,
    never event-grain), and the argmin ranks with a (gini, value)
    total order.

    Counts stay exact integers through the cumulative frame; the
    impurity is computed from identical expression trees in both
    engines, so the argmin row matches bit-for-bit. The event-grain
    work is one value rollup."""
    e = t(spark, sf_dir, "events")
    pts = e.select(
        (dec("value", 18, 2) * 100).cast("bigint").alias("v"),
        (F.col("event_type") == "purchase").cast("int").alias("pos"),
    )
    dv = pts.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("pos").cast("bigint").alias("p"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = dv.select(
        "v",
        F.sum("c").over(w).cast("bigint").alias("cn"),
        F.sum("p").over(w).cast("bigint").alias("cp"),
        F.sum("c").over(Window.partitionBy()).cast("bigint").alias("n"),
        F.sum("p").over(Window.partitionBy()).cast("bigint").alias("np"),
    ).where(F.col("cn") < F.col("n"))
    cn, cp, n, np_ = F.col("cn"), F.col("cp"), F.col("n"), F.col("np")
    lf = cn.cast("double") / n
    p1l = cp.cast("double") / cn
    p0l = (cn - cp).cast("double") / cn
    rf = (n - cn).cast("double") / n
    p1r = (np_ - cp).cast("double") / (n - cn)
    p0r = ((n - cn) - (np_ - cp)).cast("double") / (n - cn)
    wg = lf * (1 - p1l * p1l - p0l * p0l) + rf * (1 - p1r * p1r - p0r * p0r)
    scored = cum.select("v", "n", "np", wg.alias("wg"))
    best = scored.withColumn(
        "rn", F.row_number().over(Window.orderBy("wg", "v"))
    ).where(F.col("rn") == 1)
    pb = np_.cast("double") / n
    qb = (n - np_).cast("double") / n
    return best.select(
        F.col("v").cast("bigint").alias("threshold_cents"),
        F.round("wg", 9).alias("weighted_gini"),
        F.round(1 - pb * pb - qb * qb, 9).alias("base_gini"),
        F.col("n").alias("n_rows"),
    )


# --------------------------------------------------------------------------
# weighted sampling without replacement (Efraimidis-Spirakis, one pass)
# --------------------------------------------------------------------------
@register(
    "weighted_sample_no_replacement",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               ln((CAST((CAST(doc_id AS HUGEINT) * 2654435761)
                        % 4294967296 AS BIGINT) + 0.5)
                  / 4294967296.0) / n_chars AS k
        FROM documents
    )
    SELECT doc_id, n_chars, round(k, 9) AS es_key
    FROM keyed
    ORDER BY k DESC, doc_id
    LIMIT 50
    """,
)
def weighted_sample_no_replacement(spark, sf_dir):
    """Weighted sampling WITHOUT replacement, one distributed pass —
    the Efraimidis-Spirakis A-Res scheme: each document draws key
    ln(u)/w (u uniform, w = its length weight) and the k largest keys
    ARE a weight-proportional sample without replacement. This is the
    standard way to take a length-weighted corpus subsample in one
    scan + one top-k (TakeOrdered — no global sort), where rejection
    or inverse-CDF sampling would need the total weight up front.

    Determinism: u derives from the transparent Knuth multiplicative
    hash of doc_id ((id·2654435761) mod 2³², +0.5 to dodge ln 0),
    identical integer arithmetic in both engines; the top-50 ranks
    with a (key, doc_id) total order. At 100 TB the plan is scan →
    per-partition top-k → driver merge of 50-row candidates."""
    d = t(spark, sf_dir, "documents")
    # the Knuth multiply rides DECIMAL(38,0): id·2654435761 overflows
    # int64 for ids ≥ ~3.5e9 (any key-shifted replica or real-world
    # 64-bit id space — caught by the 8x probe under ANSI mode); the
    # mod-2^32 result is exact and fits a double bit-for-bit
    u = (
        (
            (F.col("doc_id").cast("decimal(38,0)") * F.lit(2654435761))
            % F.lit(4294967296)
        ).cast("double")
        + 0.5
    ) / 4294967296.0
    keyed = d.select(
        "doc_id",
        "n_chars",
        (F.log(u) / F.col("n_chars")).alias("k"),
    )
    return (
        keyed.orderBy(F.col("k").desc(), F.col("doc_id"))
        .limit(50)
        .select("doc_id", "n_chars", F.round("k", 9).alias("es_key"))
    )
