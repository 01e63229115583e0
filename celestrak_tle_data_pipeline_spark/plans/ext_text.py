"""[EXT] Text dedup + analysis over the ``documents`` table (SURVEY.md
§2.11 X1/X3) — the LLM-training-data operator set.

No reference counterpart (the reference is a TLE ETL script); mandated
by BASELINE.json's north star. Everything here is built scale-first:

- all per-doc features are whole-stage-codegen column expressions /
  higher-order functions over one scan — no Python UDFs, no shuffle;
- dedup never compares payloads: exact dedup shuffles 16-byte md5
  digests; near-dup goes through bounded buckets (per-source pairs,
  simhash LSH bands) or MinHashLSH — never unbounded all-pairs;
- the one hash both engines share bit-for-bit is md5, so fingerprints
  (simhash / rolling hash) derive 60-bit integers from the first 15
  md5 hex chars — deterministic and oracle-checkable in DuckDB.

Tokenization contract: ``split(text, ' ')`` — the synthetic documents
are single-space separated; both engines split identically.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from . import register
from .common import exact_cumulative, t

_STOPWORDS = ("the", "a", "of", "to", "and", "in")


def _docs(spark, sf_dir):
    return t(spark, sf_dir, "documents")


def _tokens(col="text"):
    return F.split(F.col(col), " ")


def _tok_hash(col):
    """Shared-with-DuckDB 60-bit token hash: first 15 hex chars of md5."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# --------------------------------------------------------------------------
# X3: per-document profile
# --------------------------------------------------------------------------
@register(
    "text_profile",
    oracle="""
    WITH d AS (
        SELECT doc_id, n_chars, length(text) AS text_len,
               string_split(text, ' ') AS toks
        FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
           CAST(text_len AS BIGINT) AS text_len,
           CAST(list_sum(list_transform(toks, s -> length(s))) AS BIGINT)
               AS total_token_chars,
           list_sum(list_transform(toks, s -> length(s)))::DOUBLE / len(toks)
               AS avg_token_len,
           text_len = n_chars AS chars_match
    FROM d
    """,
)
def text_profile(spark, sf_dir):
    """Per-doc token counting + length stats (X3): token count, distinct
    tokens (vocab richness), char totals via a higher-order sum — one
    projection over the scan, no shuffle at any scale."""
    toks = _tokens()
    total = F.aggregate(
        F.transform(toks, lambda s: F.length(s)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
        F.length("text").cast("bigint").alias("text_len"),
        total.cast("bigint").alias("total_token_chars"),
        (total.cast("double") / F.size(toks)).alias("avg_token_len"),
        (F.length("text") == F.col("n_chars")).alias("chars_match"),
    )


# --------------------------------------------------------------------------
# X3: corpus profile by language label
# --------------------------------------------------------------------------
@register(
    "text_language_profile",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           SUM(length(text))::DOUBLE / COUNT(*) AS avg_chars,
           COUNT(DISTINCT source) AS n_sources,
           CAST(MIN(len(string_split(text,' '))) AS BIGINT) AS min_tokens,
           CAST(MAX(len(string_split(text,' '))) AS BIGINT) AS max_tokens
    FROM documents
    GROUP BY lang
    """,
)
def text_language_profile(spark, sf_dir):
    """Corpus rollup by language label (X3). Partial aggregation
    map-side; the shuffle carries 5 grouping keys, not documents."""
    toks = _tokens()
    return _docs(spark, sf_dir).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        (F.sum(F.length("text")).cast("double") / F.count(F.lit(1))).alias(
            "avg_chars"
        ),
        F.countDistinct("source").alias("n_sources"),
        F.min(F.size(toks)).cast("bigint").alias("min_tokens"),
        F.max(F.size(toks)).cast("bigint").alias("max_tokens"),
    )


# --------------------------------------------------------------------------
# X3: quality scoring
# --------------------------------------------------------------------------
_STOP_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)


def _quality_expr():
    """(n_tokens, stop_ratio, ttr, quality) columns for the heuristic
    composite — shared by text_quality_score and the relative
    per-language filter so both score documents identically."""
    toks = _tokens()
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda s: s.isin(*_STOPWORDS)))
    n_distinct = F.size(F.array_distinct(toks))
    stop_ratio = n_stop.cast("double") / n_tokens
    ttr = n_distinct.cast("double") / n_tokens
    quality = (
        F.lit(0.4) * F.least(F.lit(1.0), n_tokens / F.lit(50.0))
        + F.lit(0.3) * (F.lit(1.0) - stop_ratio)
        + F.lit(0.3) * ttr
    )
    return n_tokens, stop_ratio, ttr, quality


# the composite, rendered once for every oracle that rescores docs
_QUALITY_SQL = """
    WITH d AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ),
    s AS (
        SELECT doc_id, lang,
               len(toks) AS n_tokens,
               len(list_filter(toks, s -> s IN ({stop}))) AS n_stop,
               len(list_distinct(toks)) AS n_distinct
        FROM d
    ),
    scored AS (
        SELECT doc_id, lang,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               0.4 * least(1.0, n_tokens / 50.0)
                 + 0.3 * (1.0 - n_stop::DOUBLE / n_tokens)
                 + 0.3 * (n_distinct::DOUBLE / n_tokens) AS quality
        FROM s
    )
""".format(stop=_STOP_SQL)


@register(
    "text_quality_score",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    s AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               len(list_filter(toks, s -> s IN ({_STOP_SQL}))) AS n_stop,
               len(list_distinct(toks)) AS n_distinct
        FROM d
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           n_stop::DOUBLE / n_tokens AS stop_ratio,
           n_distinct::DOUBLE / n_tokens AS type_token_ratio,
           0.4 * least(1.0, n_tokens / 50.0)
             + 0.3 * (1.0 - n_stop::DOUBLE / n_tokens)
             + 0.3 * (n_distinct::DOUBLE / n_tokens) AS quality,
           (0.4 * least(1.0, n_tokens / 50.0)
             + 0.3 * (1.0 - n_stop::DOUBLE / n_tokens)
             + 0.3 * (n_distinct::DOUBLE / n_tokens)) >= 0.7 AS is_quality
    FROM s
    """,
)
def text_quality_score(spark, sf_dir):
    """Heuristic quality scoring (X3): length score, stopword ratio,
    type/token ratio → weighted composite + keep/drop flag. The exact
    filter an LLM-data pipeline runs before training; expression-only."""
    n_tokens, stop_ratio, ttr, quality = _quality_expr()
    return _docs(spark, sf_dir).select(
        "doc_id",
        n_tokens.cast("bigint").alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        ttr.alias("type_token_ratio"),
        quality.alias("quality"),
        (quality >= 0.7).alias("is_quality"),
    )


# --------------------------------------------------------------------------
# X3: language-ID heuristic (character n-gram rate) + confusion matrix
# --------------------------------------------------------------------------
@register(
    "lang_id_ngram",
    oracle="""
    WITH scored AS (
        SELECT lang,
               ((length(text) - length(replace(text, 'th', ''))) / 2
                + (length(text) - length(replace(text, 'er', ''))) / 2
                + (length(text) - length(replace(text, 'an', ''))) / 2)
               / length(text) AS en_rate
        FROM documents
    )
    SELECT lang,
           CASE WHEN en_rate > 0.03 THEN 'en' ELSE 'other' END AS pred_lang,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN en_rate > 0.03 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pred_en
    FROM scored
    GROUP BY 1, 2
    """,
)
def lang_id_ngram(spark, sf_dir):
    """Language-ID by character-bigram rate (X3): occurrence rate of
    English-typical bigrams ('th','er','an') per char → threshold
    classifier → confusion matrix against the lang label. The n-gram
    counting trick (length delta / gram width) is pure string
    expressions — no tokenizer, no UDF."""

    def hits(g):
        return (
            F.length("text") - F.length(F.regexp_replace("text", g, ""))
        ) / F.lit(2)

    rate = (hits("th") + hits("er") + hits("an")) / F.length("text")
    pred = F.when(rate > 0.03, F.lit("en")).otherwise(F.lit("other"))
    return (
        _docs(spark, sf_dir)
        .select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("pred_lang") == "en", 1).otherwise(0))
            .cast("bigint")
            .alias("n_pred_en"),
        )
    )


# --------------------------------------------------------------------------
# X1: exact dedup — digest groups over a corpus with synthesized dups
# --------------------------------------------------------------------------
# The driver corpus has no natural duplicates, so the dedup queries
# build a deterministic superset: every doc_id % 5 == 0 gets an exact
# copy (+100000), every doc_id % 7 == 0 a near-copy with a suffix
# (+200000) that exact dedup must NOT collapse.
_CORPUS_SQL = """
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 200000, text || ' extra' FROM documents
        WHERE doc_id % 7 = 0
"""


def _corpus(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id", "text")
    dup = d.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    near = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat("text", F.lit(" extra")).alias("text"),
    )
    return d.unionAll(dup).unionAll(near)


def _digest(col="text"):
    """Normalize (lowercase, collapse whitespace, trim) then md5 — the
    16-byte value that gets shuffled instead of document payloads."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(col)), r"\s+", " "))
    return F.md5(norm)


_NORM_SQL = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"


@register(
    "exact_dup_groups",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    g AS (
        SELECT {_NORM_SQL} AS digest,
               COUNT(*) AS group_size,
               MIN(doc_id) AS min_doc_id,
               MAX(doc_id) AS max_doc_id
        FROM corpus GROUP BY 1
    )
    SELECT digest, group_size, min_doc_id, max_doc_id
    FROM g WHERE group_size > 1
    """,
)
def exact_dup_groups(spark, sf_dir):
    """Exact dedup tier (X1): md5-of-normalized-text groups with >1
    member. Scale: the groupBy shuffles 16-byte digests + ids only —
    payload bytes never cross the wire; identical plan at 100 TB."""
    return (
        _corpus(spark, sf_dir)
        .select(_digest().alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .where(F.col("group_size") > 1)
    )


@register(
    "dedup_survivors",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL})
    SELECT doc_id, {_NORM_SQL} AS digest,
           COUNT(*) OVER (PARTITION BY {_NORM_SQL}) AS group_size
    FROM corpus
    QUALIFY row_number() OVER (PARTITION BY {_NORM_SQL} ORDER BY doc_id) = 1
    """,
)
def dedup_survivors(spark, sf_dir):
    """Deterministic survivor selection (X1 + D1 semantics): lowest
    doc_id wins per digest via an explicit row_number ordering — never
    dropDuplicates' arbitrary-row choice (SURVEY.md §7 hard part d)."""
    from pyspark.sql import Window

    w = Window.partitionBy("digest")
    return (
        _corpus(spark, sf_dir)
        .select("doc_id", _digest().alias("digest"))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .withColumn(
            "rn",
            F.row_number().over(w.orderBy("doc_id")),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )


# --------------------------------------------------------------------------
# X1: near-dup by token-set Jaccard within bounded buckets
# --------------------------------------------------------------------------
# Unregistered (round 3): overlaps ngram_shingle_jaccard (which keeps the
# official row for exact-Jaccard near-dup). Kept as a callable.
def token_jaccard_pairs(spark, sf_dir):
    """Near-dup candidate pairs by exact token-set Jaccard ≥ 0.9,
    bucketed by source (X1). Scale note: the quadratic blowup is
    bounded per bucket; for unbucketed corpora use minhash_near_dup
    below (banded LSH) — this exact variant is the verifier the LSH
    recall is measured against."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "source", F.array_distinct(_tokens()).alias("toks")
    )
    a = d.alias("a")
    b = d.alias("b")
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.col("a.toks")) + F.size(F.col("b.toks")) - inter
    jac = inter.cast("double") / union
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.9)
    )


# --------------------------------------------------------------------------
# X1: SimHash fingerprint + banded LSH near-dup pairs
# --------------------------------------------------------------------------
_SIMHASH_SQL = """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), h AS (
        SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
        FROM tok
    ), votes AS (
        SELECT doc_id, i,
               SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM h, (SELECT unnest(generate_series(0, 59)) AS i) bits
        GROUP BY doc_id, i
    ), fp AS (
        SELECT doc_id,
               SUM(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END) AS simhash
        FROM votes GROUP BY doc_id
    )
"""


# Unregistered (round 3): subsumed by simhash_near_dup, which consumes these
# fingerprints and carries the official CORRECTNESS row for the SimHash path.
def simhash_fingerprints(spark, sf_dir):
    """60-bit SimHash per document (X1): per-token 60-bit md5-derived
    hash, per-bit majority vote over the token multiset, via explode +
    two codegen'd hash aggregations (token-bit votes, then bit
    recombination).

    Why explode+groupBy and NOT a higher-order-function fold: HOF
    lambdas (aggregate/transform/zip_with) are evaluated by the
    interpreted expression path — a pure-HOF formulation measured ~20x
    slower cold at sf0.1 (58s vs 2.8s) despite its shuffle-free plan.
    The shuffle here carries three small integers per (doc, bit) —
    cheap — while every arithmetic op stays inside whole-stage codegen.
    """
    toks = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(_tokens()).alias("tok"))
        .select("doc_id", _tok_hash("tok").alias("h"))
    )
    votes = (
        toks.select(
            "doc_id", "h", F.explode(F.sequence(F.lit(0), F.lit(59))).alias("i")
        )
        .groupBy("doc_id", "i")
        .agg(
            F.sum(
                F.when(F.expr("(h >> i) & 1") == 1, F.lit(1)).otherwise(
                    F.lit(-1)
                )
            ).alias("v")
        )
    )
    return (
        votes.groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("v") > 0, F.expr("shiftleft(1L, i)")).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("simhash")
        )
    )


@register(
    "simhash_near_dup",
    oracle=_SIMHASH_SQL
    + """
    , bands AS (
        SELECT doc_id, simhash, b, (simhash >> (b * 12)) & 4095 AS band_val
        FROM fp, (SELECT unnest(generate_series(0, 4)) AS b) bs
    )
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM bands a JOIN bands b
      ON a.b = b.b AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
    """,
)
def simhash_near_dup(spark, sf_dir):
    """Banded SimHash LSH (X1 scale path): 5 bands × 12 bits; hamming
    distance ≤ 4 guarantees (pigeonhole) at least one identical band, so
    the banded equi-join finds every such pair without an all-pairs
    scan. The join key is (band index, 12-bit value) — broadcastable,
    skew-bounded; this is the shape that survives 100 TB."""
    fp = simhash_fingerprints(spark, sf_dir)
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(4))).alias("b"),
    ).withColumn("band_val", F.expr("(simhash >> (b * 12)) & 4095"))
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.expr("CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT)").alias(
                "hamming"
            ),
        )
        .where(F.col("hamming") <= 4)
        .distinct()
    )


# --------------------------------------------------------------------------
# X3: rolling-hash document fingerprint
# --------------------------------------------------------------------------
@register(
    "doc_fingerprint_rolling",
    oracle="""
    SELECT doc_id,
           list_reduce(
               list_prepend(
                   0::BIGINT,
                   list_transform(
                       string_split(text, ' '),
                       s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)
                            % 1000000007
                   )
               ),
               (acc, x) -> (acc * 131 + x) % 1000000007
           ) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint_rolling(spark, sf_dir):
    """Order-sensitive rolling-hash fingerprint (X3): polynomial hash
    over the token sequence, mod 1e9+7 so the accumulator never
    overflows int64 in either engine. Unlike the digest (order-free
    md5), this distinguishes permuted documents."""
    fp = F.aggregate(
        F.transform(_tokens(), lambda s: _tok_hash(s) % 1000000007),
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * 131 + x) % 1000000007,
    )
    return _docs(spark, sf_dir).select("doc_id", fp.alias("fingerprint"))


# --------------------------------------------------------------------------
# X1: MinHash LSH near-dup (MLlib scale path; rows-only check)
# --------------------------------------------------------------------------
@register("minhash_near_dup")  # no SQL oracle: MLlib LSH internals
def minhash_near_dup(spark, sf_dir):
    """MinHashLSH near-dup candidate pairs (X1), the full
    shingle→minhash→band→bucket-join pipeline: word-trigram shingles →
    4096-dim binary shingle vectors → 5 seeded min-hash tables →
    approxSimilarityJoin at Jaccard distance ≤ 0.5. Seeded, so
    deterministic; rows-only correctness check (the exact verifiers are
    ngram_shingle_jaccard / token_jaccard_pairs). At scale this is the
    default near-dup path: candidate generation is a bucket equi-join
    on hash bands, never all-pairs."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = _docs(spark, sf_dir).select(
        "doc_id", _trigram_shingles(_tokens()).alias("toks")
    )
    tf = HashingTF(
        inputCol="toks", outputCol="features", numFeatures=4096, binary=True
    )
    feats = tf.transform(docs)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=5, seed=42
    )
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.5, distCol="jaccard_dist")
    return (
        pairs.where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("a_id"),
            F.col("datasetB.doc_id").alias("b_id"),
            F.col("jaccard_dist"),
        )
    )


# --------------------------------------------------------------------------
# X1: 3-gram shingle Jaccard near-dup (the MinHash candidate's exact twin)
# --------------------------------------------------------------------------
_NGRAM_PAIRS_SQL = """
    WITH corpus AS (
        SELECT doc_id, source, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, source,
               regexp_replace(text, '^[a-z]+ ', '')
        FROM documents WHERE doc_id % 5 = 0
    ),
    d AS (
        SELECT doc_id, source,
               list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
                              for i in range(1, len(s) - 1)]) AS sh
        FROM (SELECT doc_id, source, string_split(text, ' ') AS s
              FROM corpus)
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           len(list_intersect(a.sh, b.sh))::DOUBLE
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
             AS jaccard
    FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
          >= 0.8
    """


def _trigram_shingles(toks):
    """Distinct word-trigram shingles of a token array. Guarded like
    decontamination_overlap's gram builder: F.sequence(1, n-2) runs
    DESCENDING when n < 3 (never empty), so element_at would see
    0/negative indexes — an ANSI-mode runtime error where the DuckDB
    twin's range()/comprehension yields no shingles. Short docs map to
    an empty shingle set instead."""
    return F.when(
        F.size(toks) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(toks, i),
                    F.element_at(toks, i + 1),
                    F.element_at(toks, i + 2),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def _shingle_corpus(spark, sf_dir):
    """Augmented corpus (base docs + synthesized near-copies with the
    first token dropped) as (doc_id, source, sh) word-trigram shingle
    sets. Shared by the exact-Jaccard verifier and the MinHash recall
    gate so both measure the same population."""
    base = _docs(spark, sf_dir).select("doc_id", "source", "text")
    near = base.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        "source",
        F.regexp_replace("text", r"^[a-z]+ ", "").alias("text"),
    )
    corpus = base.unionAll(near)
    return corpus.select(
        "doc_id", "source", _trigram_shingles(_tokens()).alias("sh")
    )


def _exact_shingle_pairs(d, threshold: float = 0.8):
    """All same-source pairs with exact shingle-set Jaccard ≥ threshold
    → (a_id, b_id, jaccard). Per-bucket quadratic — the ground-truth
    verifier; the scale path is the LSH candidate join it gates."""
    a, b = d.alias("a"), d.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    jac = inter.cast("double") / (
        F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    )
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


@register("ngram_shingle_jaccard", oracle=_NGRAM_PAIRS_SQL)
def ngram_shingle_jaccard(spark, sf_dir):
    """Word-trigram shingle Jaccard ≥ 0.8 within source buckets (X1):
    the order-sensitive near-dup metric (token sets miss reorderings;
    shingles don't), over a corpus with synthesized near-copies (first
    token dropped → shingle overlap (n-1)/n). Shingling is a
    higher-order transform over the split array — no explode, no
    shuffle until the bounded pair join."""
    return _exact_shingle_pairs(_shingle_corpus(spark, sf_dir))


@register("minhash_lsh_recall", oracle=_NGRAM_PAIRS_SQL)
def minhash_lsh_recall(spark, sf_dir):
    """Recall gate for the MinHash LSH path (X1), value-checked: the
    exact shingle-Jaccard ≥ 0.8 pairs left-SEMI-joined with the seeded
    MinHashLSH candidate set over the SAME augmented corpus. The oracle
    is the full exact-pair set, so a hash match asserts candidates ⊇
    exact pairs — recall 1.0 under this seed/data; any LSH regression
    (lost band, changed hashing) surfaces as a row-count mismatch
    instead of passing silently. Same protocol as embedding_sq8_recall
    (ext_vectors.py); complements the rows-only minhash_near_dup, which
    exposes the raw candidate surface."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    d = _shingle_corpus(spark, sf_dir)
    exact = _exact_shingle_pairs(d)
    feats = HashingTF(
        inputCol="sh", outputCol="features", numFeatures=4096, binary=True
    ).transform(d.select("doc_id", "sh"))
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=5, seed=42
    ).fit(feats)
    cand = (
        model.approxSimilarityJoin(feats, feats, 0.5, distCol="jd")
        .where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("a_id"),
            F.col("datasetB.doc_id").alias("b_id"),
        )
    )
    return exact.join(cand, ["a_id", "b_id"], "left_semi")


# --------------------------------------------------------------------------
# X3: TF-IDF top terms per document
# --------------------------------------------------------------------------
@register(
    "tfidf_top_terms",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM tok GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               round(tf.tf * ln(n.n_docs / df.df), 9) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
        WHERE tf.doc_id % 25 = 0
    )
    SELECT doc_id, term, tf, df, tfidf,
           CAST(row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term
           ) AS BIGINT) AS rank
    FROM scored
    QUALIFY row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term
    ) <= 5
    """,
)
def tfidf_top_terms(spark, sf_dir):
    """TF-IDF with exact corpus document frequencies: top-5 terms per
    sampled document, deterministic tiebreak on the term. Two
    aggregations over one exploded scan + a broadcastable term-df join;
    idf = ln(N/df) is bit-reproducible (correctly-rounded ln in both
    engines, verified)."""
    from pyspark.sql import Window

    tok = _docs(spark, sf_dir).select(
        "doc_id", F.explode(_tokens()).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    # Corpus size N stays INSIDE the lazy DAG: a one-row aggregate
    # broadcast-cross-joined onto the scored rows. An eager .count()
    # here would serialize a full corpus scan ahead of the pipeline at
    # 100 TB; this way Catalyst schedules it as one more (tiny) stage.
    n = _docs(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("double").alias("n_docs")
    )
    scored = (
        tf.where(F.col("doc_id") % 25 == 0)
        .join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            # ln differs from DuckDB's by 1 ulp for some args (Java
            # Math.log is <=1 ulp, not correctly rounded), so the score
            # is rounded to 9 decimals in BOTH engines and ranked on
            # the rounded value.
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 9
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 5)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


# --------------------------------------------------------------------------
# X3: token counting — whitespace vs BPE-ish regex subword units
# --------------------------------------------------------------------------
@register(
    "token_count_regex",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[aeiou]+|[^aeiou ]+'))
                AS BIGINT) AS subword_tokens,
           length(text)::DOUBLE
             / len(regexp_extract_all(text, '[aeiou]+|[^aeiou ]+'))
             AS chars_per_subword
    FROM documents
    """,
)
def token_count_regex(spark, sf_dir):
    """Token counting two ways (X3): whitespace tokens (the cheap
    estimator) and a BPE-ish regex segmentation (vowel/consonant
    cluster units — a stand-in for merge-rule subwords that both
    engines tokenize identically). chars-per-subword is the
    compression-ratio feature LLM pipelines budget with. Expression-
    only; the regex runs inside codegen, not a UDF."""
    pat = "[aeiou]+|[^aeiou ]+"
    subwords = F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(_tokens()).cast("bigint").alias("ws_tokens"),
        F.size(subwords).cast("bigint").alias("subword_tokens"),
        (F.length("text").cast("double") / F.size(subwords)).alias(
            "chars_per_subword"
        ),
    )


# --------------------------------------------------------------------------
# X1: dup-cluster closure — iterative connected components over pair edges
# --------------------------------------------------------------------------
_CLUSTER_CORPUS_SQL = """
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 300000, text FROM documents WHERE doc_id % 10 = 0
"""


@register(
    "dup_cluster_components",
    oracle=f"""
    WITH corpus AS ({_CLUSTER_CORPUS_SQL}),
    g AS (
        SELECT doc_id, {_NORM_SQL} AS digest,
               MIN(doc_id) OVER (PARTITION BY {_NORM_SQL}) AS component,
               COUNT(*) OVER (PARTITION BY {_NORM_SQL}) AS cluster_size
        FROM corpus
    )
    SELECT doc_id, component, cluster_size
    FROM g WHERE cluster_size > 1
    """,
)
def dup_cluster_components(spark, sf_dir):
    """Dedup cluster closure (X1): chain-link the members of each
    digest group (a PATH, not a clique — so transitivity must be
    EARNED), then run iterative min-label propagation
    (operators/components.py) until fixpoint. Clusters of size 3
    (doc % 10: original + two generations of copies) need multi-hop
    propagation. The oracle derives components from digest-group
    membership directly — fully independent of the edge-walking
    algorithm under test."""
    from pyspark.sql import Window

    from ..operators.components import connected_components

    d = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = (
        d.unionAll(
            d.where(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        ).unionAll(
            d.where(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 300000).alias("doc_id"), "text"
            )
        )
    ).select("doc_id", _digest().alias("digest"))

    w = Window.partitionBy("digest").orderBy("doc_id")
    members = corpus.withColumn("rn", F.row_number().over(w))
    nxt = members.select(
        F.col("digest").alias("digest2"),
        (F.col("rn") - 1).alias("rn2"),
        F.col("doc_id").alias("b"),
    )
    # consecutive-member chain edges within each digest group
    edges = members.join(
        nxt,
        (members.digest == nxt.digest2) & (members.rn == nxt.rn2),
    ).select(F.col("doc_id").alias("a"), "b")

    comp = connected_components(edges)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return comp.join(F.broadcast(sizes), "component").select(
        F.col("node").alias("doc_id"), "component", "cluster_size"
    )


# --------------------------------------------------------------------------
# X3: deterministic stratified sampling (training-data subsampling)
# --------------------------------------------------------------------------
@register(
    "stratified_sample_docs",
    oracle="""
    WITH sampled AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 100 AS bucket
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_sampled,
           MIN(doc_id) AS min_doc,
           MAX(doc_id) AS max_doc
    FROM sampled
    WHERE bucket < CASE WHEN lang = 'en' THEN 20 ELSE 50 END
    GROUP BY lang
    """,
)
def stratified_sample_docs(spark, sf_dir):
    """Deterministic stratified sampling (the language-rebalancing
    subsample every training-data pipeline runs): per-document md5
    bucket (engine-independent, reproducible run to run — unlike
    seeded RNG sampling, which is partitioning-dependent) with
    per-stratum rates: keep 20% of the dominant 'en', 50% of the rest.
    Pure filter on the scan; the rate decision costs one hash per
    row."""
    d = _docs(spark, sf_dir)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 100
    )
    rate = F.when(F.col("lang") == "en", F.lit(20)).otherwise(F.lit(50))
    return (
        d.where(bucket < rate)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# --------------------------------------------------------------------------
# X3: benchmark decontamination — n-gram collision against an eval set
# --------------------------------------------------------------------------
@register(
    "decontamination_overlap",
    oracle="""
    WITH s AS (
        SELECT doc_id, string_split(text, ' ') AS s FROM documents
    ),
    bench AS (
        SELECT doc_id AS bench_id,
               unnest(list_distinct(
                   [array_to_string(s[i:i+4], ' ')
                    for i in range(3, least(8, len(s) - 4) + 1)])) AS ng
        FROM s WHERE doc_id % 20 = 0
    ),
    train AS (
        SELECT doc_id,
               unnest(list_distinct(
                   [array_to_string(s[i:i+4], ' ')
                    for i in range(1, len(s) - 3)])) AS ng
        FROM s
    )
    SELECT t.doc_id,
           CAST(COUNT(DISTINCT t.ng) AS BIGINT) AS n_hit_ngrams,
           CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
    FROM train t JOIN bench b ON t.ng = b.ng
    GROUP BY t.doc_id
    """,
)
def decontamination_overlap(spark, sf_dir):
    """Benchmark decontamination (X3): flag training documents sharing
    any word 5-gram with a held-out eval set — the contamination check
    every LLM training pipeline runs before a data release. The eval
    set is a deterministic excerpt slice (words 3..12 of every 20th
    document), so each bench doc's source is contaminated by
    construction and exact/near copies of it are caught transitively.

    Scale shape: distinct n-grams explode from both sides into a plain
    equi-join on the gram (shuffle keyed by gram — at 100 TB you'd key
    on xxhash64(gram) to shrink shuffle width; semantics identical),
    then one aggregation per flagged doc. The eval side is tiny and
    broadcast-eligible; Catalyst/AQE picks the strategy."""
    s = F.split(F.col("text"), " ")
    five = lambda i: F.concat_ws(  # noqa: E731 — local gram builder
        " ",
        F.element_at(s, i),
        F.element_at(s, i + 1),
        F.element_at(s, i + 2),
        F.element_at(s, i + 3),
        F.element_at(s, i + 4),
    )
    # F.sequence(a, b) yields a DESCENDING run when b < a (never an empty
    # array), so a doc shorter than the gram span would produce 0/negative
    # element_at indexes — a runtime error under Spark 4 ANSI mode, where
    # DuckDB's range() simply returns empty. Guard with when(): short docs
    # contribute no grams, matching the oracle's empty-range semantics.
    def _grams(lo, hi, min_tokens):
        return F.when(
            F.size(s) >= min_tokens,
            F.array_distinct(F.transform(F.sequence(lo, hi), five)),
        ).otherwise(F.array().cast("array<string>"))

    d = _docs(spark, sf_dir)
    bench = (
        d.where(F.col("doc_id") % 20 == 0)
        .select(
            F.col("doc_id").alias("bench_id"),
            F.explode(
                _grams(F.lit(3), F.least(F.lit(8), F.size(s) - 4), 7)
            ).alias("ng"),
        )
    )
    train = d.select(
        "doc_id",
        F.explode(_grams(F.lit(1), F.size(s) - 4, 5)).alias("ng"),
    )
    return (
        train.join(bench, "ng")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("ng").alias("n_hit_ngrams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )


# --------------------------------------------------------------------------
# X3: repetition profile — Gopher-style top-bigram mass per document
# --------------------------------------------------------------------------
@register(
    "repetition_profile",
    oracle="""
    WITH s AS (
        SELECT doc_id, string_split(text, ' ') AS s FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest([s[i] || ' ' || s[i+1]
                       for i in range(1, len(s))]) AS bg
        FROM s
    ),
    cnt AS (
        SELECT doc_id, bg, COUNT(*) AS n FROM bg GROUP BY doc_id, bg
    ),
    top AS (
        SELECT doc_id, bg AS top_bigram, n AS top_bigram_n
        FROM cnt
        QUALIFY row_number() OVER (
            PARTITION BY doc_id ORDER BY n DESC, bg
        ) = 1
    ),
    base AS (
        SELECT doc_id,
               CAST(len(s) - 1 AS BIGINT) AS n_bigrams,
               len(list_distinct(s)) / len(s)::DOUBLE AS distinct_token_ratio
        FROM s
    )
    SELECT b.doc_id, t.top_bigram,
           CAST(t.top_bigram_n AS BIGINT) AS top_bigram_n,
           b.n_bigrams,
           t.top_bigram_n / b.n_bigrams::DOUBLE AS top_bigram_frac,
           b.distinct_token_ratio
    FROM base b JOIN top t USING (doc_id)
    """,
)
def repetition_profile(spark, sf_dir):
    """Repetition quality signal (X3, the Gopher-report family): the
    fraction of a document's bigrams taken by its single most frequent
    bigram, plus the distinct-token ratio — the two cheapest detectors
    of degenerate/looped text that LLM pipelines filter on. Exact
    argmax with a deterministic tiebreak (lexicographically first
    bigram). Ratios are exact small-int divisions — bit-identical
    across engines, no decimal pinning needed.

    Scale shape: one explode + hash aggregation keyed (doc, bigram),
    one per-doc window for the argmax, and per-doc scalars computed
    expression-only on the base scan (no extra shuffle)."""
    from pyspark.sql import Window

    toks = _tokens()
    # Same short-doc guard as decontamination_overlap: sequence(1, 0) is
    # the descending [1, 0], not empty, so a 1-token doc must bypass the
    # transform entirely (it then has no bigram rows and drops out of the
    # inner join exactly like the oracle's empty list comprehension).
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    d = _docs(spark, sf_dir)
    cnt = (
        d.select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("n"), F.asc("bg"))
    top = (
        cnt.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "doc_id",
            F.col("bg").alias("top_bigram"),
            F.col("n").cast("bigint").alias("top_bigram_n"),
        )
    )
    base = d.select(
        "doc_id",
        (F.size(toks) - 1).cast("bigint").alias("n_bigrams"),
        (
            F.size(F.array_distinct(toks)).cast("double")
            / F.size(toks).cast("double")
        ).alias("distinct_token_ratio"),
    )
    return base.join(top, "doc_id").select(
        "doc_id",
        "top_bigram",
        "top_bigram_n",
        "n_bigrams",
        (
            F.col("top_bigram_n").cast("double")
            / F.col("n_bigrams").cast("double")
        ).alias("top_bigram_frac"),
        "distinct_token_ratio",
    )


# --------------------------------------------------------------------------
# X3: sequence packing — concat-and-chunk into fixed context windows
# --------------------------------------------------------------------------
@register(
    "sequence_packing_chunks",
    oracle="""
    WITH d AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING
               ) AS cum
        FROM d
    )
    SELECT doc_id, source, n_tokens,
           CAST(cum - n_tokens AS BIGINT) AS start_offset,
           CAST((cum - n_tokens) // 512 AS BIGINT) AS first_chunk,
           CAST((cum - 1) // 512 AS BIGINT) AS last_chunk,
           CAST((cum - 1) // 512 - (cum - n_tokens) // 512 + 1
               AS BIGINT) AS n_chunks_spanned
    FROM c
    """,
)
def sequence_packing_chunks(spark, sf_dir):
    """Sequence packing (X3): the concat-and-chunk layout LLM
    pretraining uses — documents are concatenated per source shard in a
    deterministic order and cut into fixed 512-token context windows;
    each doc reports its global token offset and the chunk ids it
    spans (boundary-crossing docs span >1). All integer arithmetic.

    Scale shape: the running offset rides per-(source, doc_id-bucket)
    windows of ``exact_cumulative`` keyed by source — a plain
    per-source window is a |sources|-task ceiling over the whole
    corpus at 100 TB, the lorenz_dominance class; never a single
    global cumsum either (Exchange SinglePartition)."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "source", F.size(_tokens()).cast("bigint").alias("n_tokens")
    )
    acc, _ = exact_cumulative(
        d, ("doc_id",), {"pt": F.sum("n_tokens")}, keys=("source",)
    )
    c = acc.withColumnRenamed("cum_pt", "cum")
    start = F.col("cum") - F.col("n_tokens")
    first = F.expr("(cum - n_tokens) div 512")
    last = F.expr("(cum - 1) div 512")
    return c.select(
        "doc_id",
        "source",
        "n_tokens",
        start.alias("start_offset"),
        first.alias("first_chunk"),
        last.alias("last_chunk"),
        (last - first + F.lit(1)).alias("n_chunks_spanned"),
    )


# --------------------------------------------------------------------------
# X3: mixture/budget sampling plan — deterministic per-source rates
# --------------------------------------------------------------------------
@register(
    "mixture_budget_plan",
    oracle="""
    WITH d AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 10000 AS bucket
        FROM documents
    ),
    totals AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
               CAST(COUNT(*) OVER () AS BIGINT) AS n_sources
        FROM d GROUP BY source
    ),
    rates AS (
        SELECT source, n_docs, tokens_total,
               least(1.0, (100000.0 / n_sources) / tokens_total::DOUBLE)
                   AS rate
        FROM totals
    )
    SELECT r.source, r.n_docs, r.tokens_total, r.rate,
           CAST(COUNT(*) FILTER (d.bucket < r.rate * 10000.0) AS BIGINT)
               AS n_selected,
           CAST(COALESCE(SUM(d.n_tokens)
                    FILTER (d.bucket < r.rate * 10000.0), 0) AS BIGINT)
               AS tokens_selected
    FROM rates r JOIN d ON d.source = r.source
    GROUP BY r.source, r.n_docs, r.tokens_total, r.rate
    """,
)
def mixture_budget_plan(spark, sf_dir):
    """Data mixing under a token budget (X3): give each source an equal
    share of a 100k-token budget, derive its deterministic sampling
    rate (≤ 1), select documents by md5-bucket — the
    partitioning-independent coin the stratified sampler uses — and
    report the realized mixture. This is the planning step of
    temperature/weighted mixing in LLM data pipelines, value-checked
    end to end.

    Scale shape: one aggregation for per-source totals (tiny result,
    broadcast back), selection is a pure filter on the scan — no
    second shuffle of documents."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.size(_tokens()).cast("bigint").alias("n_tokens"),
        (_tok_hash(F.col("doc_id").cast("string")) % 10000).alias("bucket"),
    )
    totals = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tokens_total"),
    )
    n_sources = totals.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sources")
    )
    rates = totals.crossJoin(F.broadcast(n_sources)).select(
        "source",
        "n_docs",
        "tokens_total",
        F.least(
            F.lit(1.0),
            (F.lit(100000.0) / F.col("n_sources"))
            / F.col("tokens_total").cast("double"),
        ).alias("rate"),
    )
    sel = F.col("bucket") < F.col("rate") * F.lit(10000.0)
    return (
        d.join(F.broadcast(rates), "source")
        .groupBy("source", "n_docs", "tokens_total", "rate")
        .agg(
            F.sum(sel.cast("bigint")).alias("n_selected"),
            F.coalesce(
                F.sum(F.when(sel, F.col("n_tokens"))), F.lit(0)
            ).cast("bigint").alias("tokens_selected"),
        )
        .select(
            "source", "n_docs", "tokens_total", "rate",
            "n_selected", "tokens_selected",
        )
    )


# --------------------------------------------------------------------------
# edit-distance fuzzy pairs (the typo tier of the dedup stack)
# --------------------------------------------------------------------------
@register(
    "levenshtein_fuzzy_pairs",
    oracle="""
    WITH c AS (
        SELECT c_name, c_mktsegment FROM customer WHERE c_custkey <= 300
    )
    SELECT a.c_mktsegment AS seg, a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
    FROM c a JOIN c b
      ON a.c_mktsegment = b.c_mktsegment AND a.c_name < b.c_name
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def levenshtein_fuzzy_pairs(spark, sf_dir):
    """Edit-distance near-match pairs within a blocking key: the typo /
    OCR-noise tier of the fuzzy-dedup stack (the token tiers catch
    reorderings, SimHash/MinHash catch scale; Levenshtein catches
    single-character corruption the set-based tiers are blind to).
    Classic entity-resolution shape: block on a cheap key
    (mktsegment), compare only within blocks, keep distance <= 1.

    Scale shape: per-block quadratic — the verifier tier, same
    discipline as token_jaccard_pairs: at 100 TB you run it only on
    LSH/blocking candidates, never all-pairs (the blocking join here IS
    that candidate generation). Levenshtein's DP definition is
    engine-independent, so the oracle matches exactly; `<` on names
    gives each unordered pair exactly once.
    """
    c = (
        t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 300)
        .select("c_name", "c_mktsegment")
    )
    a = c.select(
        F.col("c_mktsegment").alias("seg"), F.col("c_name").alias("name_a")
    )
    b = c.select(
        F.col("c_mktsegment").alias("seg"), F.col("c_name").alias("name_b")
    )
    return (
        a.join(b, on="seg")
        .where(F.col("name_a") < F.col("name_b"))
        .withColumn(
            "dist", F.levenshtein("name_a", "name_b").cast("int")
        )
        .where(F.col("dist") <= 1)
        .select("seg", "name_a", "name_b", "dist")
    )


# --------------------------------------------------------------------------
# X1: MinHash LSH implemented NATIVELY in Catalyst expressions
# --------------------------------------------------------------------------
_MH_P = 2147483647  # Mersenne prime 2^31-1: universal-hash modulus
_MH_K = 12          # 12 permutations = 3 bands x 4 rows
_NATIVE_MINHASH_SQL = """
    WITH corpus AS (
        SELECT doc_id, source, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, source,
               regexp_replace(text, '^[a-z]+ ', '')
        FROM documents WHERE doc_id % 5 = 0
    ),
    d AS (
        SELECT doc_id, source,
               list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
                              for i in range(1, len(s) - 1)]) AS sh
        FROM (SELECT doc_id, source, string_split(text, ' ') AS s
              FROM corpus)
    ),
    hm AS (
        SELECT doc_id, source, sh,
               list_transform(sh,
                   s -> ('0x' || substr(md5(s), 1, 15))::BIGINT
                        % 2147483647) AS hv
        FROM d
    ),
    sig AS (
        SELECT doc_id, source, sh,
               [list_min(list_transform(hv,
                    h -> ((1000003 * i + 7) * h + 999983 * i + 11)
                         % 2147483647))
                for i in range(0, 12)] AS m
        FROM hm
    ),
    bands AS (
        SELECT doc_id, source,
               g.band_id,
               array_to_string(m[g.band_id * 4 + 1 : g.band_id * 4 + 4],
                               '-') AS band_val
        FROM sig, LATERAL unnest([0, 1, 2]) AS g(band_id)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b
          ON a.source = b.source AND a.band_id = b.band_id
         AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    )
    SELECT c.a_id, c.b_id,
           len(list_intersect(x.sh, y.sh))::DOUBLE
             / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
             AS jaccard
    FROM cand c
    JOIN d x ON x.doc_id = c.a_id
    JOIN d y ON y.doc_id = c.b_id
    WHERE len(list_intersect(x.sh, y.sh))::DOUBLE
            / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
          >= 0.8
    """


@register("minhash_native_near_dup", oracle=_NATIVE_MINHASH_SQL)
def minhash_native_near_dup(spark, sf_dir):
    """MinHash LSH near-dup detection implemented ENTIRELY in Catalyst
    expressions — no MLlib, no Python — and therefore value-checked
    end-to-end (the MLlib twin `minhash_near_dup` can only be
    rows-only + recall-gated because its hashing is JVM-internal):

    - shingle -> 60-bit integer via md5 prefix (same bytes both
      engines), reduced mod P = 2^31-1;
    - 12 universal-hash permutations h_i = (a_i*h + b_i) mod P with
      fixed integer coefficients — signature = per-document min of
      each (classic MinHash: P[min_a == min_b] = Jaccard);
    - 3 bands x 4 rows: band value = joined 4 minima; candidates =
      same-source band-value equi-join (bucketed, never all-pairs);
    - candidates verified by exact shingle Jaccard >= 0.8.

    All arithmetic is int64-exact, so the oracle reproduces the
    pipeline bit-for-bit — LSH itself under the hash gate.

    Scale shape: signatures are one groupBy-free projection (array
    HOFs over each doc's shingles — small arrays, the HOF-vs-explode
    measured exception documented at ext_text.py:413); the band join
    shuffles 3 short band keys per doc; the quadratic exact check runs
    only inside candidate buckets. This is the same plan family as
    simhash_near_dup with MinHash's multiset semantics."""
    d = _shingle_corpus(spark, sf_dir)
    hv = F.transform(
        F.col("sh"),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10)
        .cast("bigint") % _MH_P,
    )

    def perm(i):
        # NB: must be a ONE-argument lambda — a second parameter (even
        # defaulted) makes pyspark pass the array INDEX into it
        return lambda h: (
            (F.lit(1000003 * i + 7) * h + F.lit(999983 * i + 11)) % _MH_P
        )

    sig = d.select(
        "doc_id",
        "source",
        "sh",
        F.array(
            *(
                F.array_min(F.transform(hv, perm(i)))
                for i in range(_MH_K)
            )
        ).alias("m"),
    )
    bands = sig.select(
        "doc_id",
        "source",
        F.explode(
            F.array(
                *(
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat_ws(
                            "-",
                            *(
                                F.element_at("m", b * 4 + r + 1)
                                for r in range(4)
                            ),
                        ).alias("band_val"),
                    )
                    for b in range(3)
                )
            )
        ).alias("bv"),
    ).select("doc_id", "source", "bv.band_id", "bv.band_val")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .distinct()
    )
    x = d.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("ash"))
    y = d.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("bsh"))
    inter = F.size(F.array_intersect("ash", "bsh")).cast("double")
    union = (
        F.size("ash") + F.size("bsh")
        - F.size(F.array_intersect("ash", "bsh"))
    ).cast("double")
    return (
        cand.join(x, "a_id")
        .join(y, "b_id")
        .withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= 0.8)
        .select("a_id", "b_id", "jaccard")
    )


# --------------------------------------------------------------------------
# graph metric: triangle count over the fuzzy-match edge set
# --------------------------------------------------------------------------
@register(
    "dup_graph_triangles",
    oracle="""
    WITH c AS (
        SELECT c_name, c_mktsegment FROM customer WHERE c_custkey <= 300
    ), edges AS (
        SELECT a.c_mktsegment AS seg, a.c_name AS u, b.c_name AS v
        FROM c a JOIN c b
          ON a.c_mktsegment = b.c_mktsegment AND a.c_name < b.c_name
        WHERE levenshtein(a.c_name, b.c_name) <= 1
    )
    SELECT e1.seg,
           COUNT(*) AS n_triangles
    FROM edges e1
    JOIN edges e2 ON e1.seg = e2.seg AND e1.v = e2.u
    JOIN edges e3 ON e1.seg = e3.seg AND e3.u = e1.u AND e3.v = e2.v
    GROUP BY e1.seg
    """,
)
def dup_graph_triangles(spark, sf_dir):
    """Triangle count per blocking segment over the Levenshtein<=1
    match graph — the standard duplicate-cluster QA metric: triangles
    mean transitively-consistent matches (a~b, b~c AND a~c), while
    edge-rich-triangle-poor blocks signal chains of borderline matches
    that connected-components would over-merge.

    The canonical multi-way self-join: edges ordered u < v, triangle =
    e1(u,v) x e2(v,w) x e3(u,w) — each triangle counted exactly once
    by the ordering invariant. Plan: the edge set is derived once per
    alias (bounded: intra-block pairs), joins are equi-joins on node
    ids; at scale you'd materialize the edge list first and the same
    three-way join runs on the bucketed table."""
    c = (
        t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 300)
        .select("c_name", "c_mktsegment")
    )
    a = c.select(F.col("c_mktsegment").alias("seg"), F.col("c_name").alias("u"))
    b = c.select(F.col("c_mktsegment").alias("seg"), F.col("c_name").alias("v"))
    edges = (
        a.join(b, on="seg")
        .where(
            (F.col("u") < F.col("v"))
            & (F.levenshtein("u", "v") <= 1)
        )
        .select("seg", "u", "v")
    )
    e1 = edges.select("seg", "u", "v")
    e2 = edges.select(
        F.col("seg").alias("seg2"), F.col("u").alias("v2"),
        F.col("v").alias("w2"),
    )
    e3 = edges.select(
        F.col("seg").alias("seg3"), F.col("u").alias("u3"),
        F.col("v").alias("w3"),
    )
    return (
        e1.join(
            e2,
            (F.col("seg") == F.col("seg2")) & (F.col("v") == F.col("v2")),
        )
        .join(
            e3,
            (F.col("seg") == F.col("seg3"))
            & (F.col("u3") == F.col("u"))
            & (F.col("w3") == F.col("w2")),
        )
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


# --------------------------------------------------------------------------
# X3b: relative quality filtering — keep docs above their language median
# --------------------------------------------------------------------------


@register(
    "per_group_quality_filter",
    oracle=_QUALITY_SQL + """
    , med AS (
        SELECT lang, quantile_cont(quality, 0.5) AS lang_median
        FROM scored GROUP BY lang
    )
    SELECT s.doc_id, s.lang, s.quality, m.lang_median
    FROM scored s JOIN med m ON s.lang = m.lang
    WHERE s.quality >= m.lang_median
    """,
)
def per_group_quality_filter(spark, sf_dir):
    """Relative quality filtering (X3b): keep documents scoring at or
    above their OWN language's median quality — the per-group-threshold
    curation step real pipelines use instead of one global cutoff
    (a fixed threshold would gut low-resource languages whose score
    distribution sits lower).

    Plan: documents are scored once in whole-stage codegen
    (`_quality_expr`, the same composite as text_quality_score); the
    per-language exact median is ONE map-side-combined aggregation over
    ~|languages| groups, broadcast back into the scored scan for the
    filter — the corpus itself never shuffles. Spark's `percentile`
    and DuckDB's `quantile_cont` both linearly interpolate over
    identical doubles, so the threshold is engine-exact."""
    _, _, _, quality = _quality_expr()
    scored = _docs(spark, sf_dir).select(
        "doc_id", "lang", quality.alias("quality")
    )
    med = scored.groupBy(F.col("lang").alias("mlang")).agg(
        F.percentile(F.col("quality"), F.lit(0.5)).alias("lang_median")
    )
    return (
        scored.join(F.broadcast(med), F.col("lang") == F.col("mlang"))
        .where(F.col("quality") >= F.col("lang_median"))
        .select("doc_id", "lang", "quality", "lang_median")
    )


# --------------------------------------------------------------------------
# X3c: vocabulary build + out-of-vocabulary rate
# --------------------------------------------------------------------------


@register(
    "vocab_oov_rate",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    df AS (
        SELECT tok, COUNT(DISTINCT doc_id) AS doc_freq
        FROM tok GROUP BY tok
    ),
    vocab AS (
        SELECT tok FROM df ORDER BY doc_freq DESC, tok LIMIT 100
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS oov_rate
    FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.doc_id
    """,
)
def vocab_oov_rate(spark, sf_dir):
    """Vocabulary build + OOV rate (X3c): derive a top-100
    document-frequency vocabulary from the corpus itself, then score
    every document's out-of-vocabulary token rate — the
    tokenizer-coverage check run before committing to a vocab/merges
    file (high-OOV docs are either noise or a domain the tokenizer
    underserves).

    Plan: doc frequencies aggregate over exploded DISTINCT tokens (one
    shuffle on the token key, map-side combined); the top-100 is a
    total-order (freq desc, token) take that collapses to one tiny
    sorted partition; the vocabulary then BROADCASTS into the exploded
    token stream — membership is a broadcast left join, so the big
    explode never reshuffles — and per-doc rates are one final
    aggregation on doc_id. At 100 TB the vocab would be 10^5-10^6 rows:
    still broadcast-sized, which is the whole design."""
    toks = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(_tokens()).alias("tok"))
    )
    vocab = (
        toks.distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("tok"))
        .limit(100)
        .select(F.col("tok").alias("vtok"))
    )
    oov = F.when(F.col("vtok").isNull(), 1).otherwise(0)
    return (
        toks.join(F.broadcast(vocab), F.col("tok") == F.col("vtok"), "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(oov).cast("bigint").alias("n_oov"),
            (F.sum(oov).cast("double") / F.count(F.lit(1))).alias(
                "oov_rate"
            ),
        )
    )


# --------------------------------------------------------------------------
# graph metric: integer PageRank over the fuzzy-match edge set
# --------------------------------------------------------------------------
@register(
    "dup_graph_pagerank",
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
    ), deg AS (
        SELECT seg, u, CAST(COUNT(*) AS BIGINT) AS d
        FROM edges GROUP BY seg, u
    ), r0 AS (
        SELECT seg, u AS node, CAST(1000000000000 AS BIGINT) AS r
        FROM deg
    ), it1 AS (
        SELECT n.seg, n.node,
               150000000000 + (85 * COALESCE(s.c, 0)) // 100 AS r
        FROM r0 n LEFT JOIN (
            SELECT e.seg, e.v AS node, SUM(r.r // d.d) AS c
            FROM edges e
            JOIN r0 r  ON e.seg = r.seg AND e.u = r.node
            JOIN deg d ON e.seg = d.seg AND e.u = d.u
            GROUP BY e.seg, e.v
        ) s ON n.seg = s.seg AND n.node = s.node
    ), it2 AS (
        SELECT n.seg, n.node,
               150000000000 + (85 * COALESCE(s.c, 0)) // 100 AS r
        FROM it1 n LEFT JOIN (
            SELECT e.seg, e.v AS node, SUM(r.r // d.d) AS c
            FROM edges e
            JOIN it1 r ON e.seg = r.seg AND e.u = r.node
            JOIN deg d ON e.seg = d.seg AND e.u = d.u
            GROUP BY e.seg, e.v
        ) s ON n.seg = s.seg AND n.node = s.node
    ), it3 AS (
        SELECT n.seg, n.node,
               150000000000 + (85 * COALESCE(s.c, 0)) // 100 AS r
        FROM it2 n LEFT JOIN (
            SELECT e.seg, e.v AS node, SUM(r.r // d.d) AS c
            FROM edges e
            JOIN it2 r ON e.seg = r.seg AND e.u = r.node
            JOIN deg d ON e.seg = d.seg AND e.u = d.u
            GROUP BY e.seg, e.v
        ) s ON n.seg = s.seg AND n.node = s.node
    )
    SELECT seg, node, CAST(r AS BIGINT) AS rank_micro FROM it3
    """,
)
def dup_graph_pagerank(spark, sf_dir):
    """3-iteration PageRank over the segment-blocked Levenshtein match
    graph — ranks the 'hub' records that fuzzy-match many others (the
    records to canonicalize FIRST when resolving duplicate clusters).

    Determinism — the reason this is value-gated where float PageRank
    couldn't be: ranks are INTEGER micro-units (start 10^12), each
    contribution is floor(r / degree) and each damping step is
    150e9 + (85·Σ)//100 — pure bigint arithmetic, so partial-aggregate
    order cannot perturb a single bit in either engine.

    Plan: the symmetrized edge list joins the current rank vector on
    the source node and aggregates contributions on the destination —
    per iteration one join + one shuffle, the standard distributed-PR
    shape. Iterations UNROLL into one lazy DAG (3 fixed steps; the
    open-ended variant with convergence checks + localCheckpoint
    lineage truncation is operators/components.py)."""
    c = (
        t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 300)
        .select("c_name", "c_mktsegment")
    )
    a = c.select(F.col("c_mktsegment").alias("seg"), F.col("c_name").alias("u"))
    b = c.select(F.col("c_mktsegment").alias("seg"), F.col("c_name").alias("v"))
    half = (
        a.join(b, on="seg")
        .where((F.col("u") < F.col("v")) & (F.levenshtein("u", "v") <= 1))
        .select("seg", "u", "v")
    )
    edges = half.unionAll(
        half.select("seg", F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = edges.groupBy("seg", "u").agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    # LAZY lineage truncation: every iteration references the edge+degree
    # relation AND the prior rank vector, and unrolled lineage would
    # re-derive both per step (the plan showed 40 customer scans without
    # this). localCheckpoint with eager=False keeps the query
    # protocol-pure (nothing executes at build time) but materializes
    # each base once on first action — the same remedy components.py
    # applies to its open-ended loop.
    ranks = deg.select(
        "seg", F.col("u").alias("node"), F.lit(10**12).cast("bigint").alias("r")
    ).localCheckpoint(eager=False)
    ed = edges.join(deg, on=["seg", "u"]).localCheckpoint(eager=False)
    for _ in range(3):
        contrib = (
            ed.join(
                ranks,
                (ed.seg == ranks.seg) & (ed.u == ranks.node),
            )
            .select(ed.seg, F.col("v"), F.expr("r div d").alias("c"))
            .groupBy("seg", "v")
            .agg(F.sum("c").alias("c"))
            .withColumnRenamed("v", "node")
        )
        ranks = (
            ranks.select("seg", "node")
            .join(contrib, on=["seg", "node"], how="left")
            .select(
                "seg",
                "node",
                (
                    F.lit(150000000000).cast("bigint")
                    + F.expr("(85 * coalesce(c, 0L)) div 100")
                ).alias("r"),
            )
        )
    return ranks.select("seg", "node", F.col("r").alias("rank_micro"))


# --------------------------------------------------------------------------
# X1d: cross-split leakage audit — dedup × split assignment
# --------------------------------------------------------------------------
@register(
    "split_leakage_audit",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    assigned AS (
        SELECT doc_id, {_NORM_SQL} AS digest,
               CASE WHEN (doc_id * 2654435761) % 4294967296 % 1000 < 800
                        THEN 'train'
                    WHEN (doc_id * 2654435761) % 4294967296 % 1000 < 900
                        THEN 'val'
                    ELSE 'test' END AS split
        FROM corpus
    ),
    spans AS (
        SELECT digest, COUNT(DISTINCT split) AS n_splits
        FROM assigned GROUP BY digest
    ),
    leaks AS (
        SELECT a.digest,
               string_agg(DISTINCT a.split, ',' ORDER BY a.split)
                   AS split_set,
               COUNT(*) AS n_copies
        FROM assigned a
        JOIN spans s ON a.digest = s.digest AND s.n_splits > 1
        GROUP BY a.digest
    )
    SELECT split_set,
           CAST(COUNT(*) AS BIGINT) AS n_leaked_groups,
           CAST(SUM(n_copies) AS BIGINT) AS n_leaked_docs
    FROM leaks
    GROUP BY split_set
    """,
)
def split_leakage_audit(spark, sf_dir):
    """Cross-split leakage audit (X1d): exact-duplicate groups whose
    copies landed in DIFFERENT train/val/test splits — the eval-
    contamination check every dataset release runs after splitting
    (a test doc with a training-set twin silently inflates eval). Runs
    on the synthesized-duplicates corpus, whose +100000 exact copies
    get different doc_ids and therefore (hash-split by id) sometimes
    different splits — real leakage by construction.

    Plan: one digest+split projection (no payloads shuffle — digests
    do), ONE aggregation to the digest grain computing the distinct-
    split count and the sorted split set together, then a re-
    aggregation of group-grain rows to the report. The split set is a
    sorted array_join — deterministic on any partitioning."""
    from .ext_pipeline import split_label

    assigned = _corpus(spark, sf_dir).select(
        _digest().alias("digest"),
        split_label("doc_id").alias("split"),
    )
    groups = assigned.groupBy("digest").agg(
        F.countDistinct("split").alias("n_splits"),
        F.count(F.lit(1)).alias("n_copies"),
        F.array_join(
            F.array_sort(F.array_distinct(F.collect_list("split"))), ","
        ).alias("split_set"),
    )
    return (
        groups.where(F.col("n_splits") > 1)
        .groupBy("split_set")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_leaked_groups"),
            F.sum("n_copies").cast("bigint").alias("n_leaked_docs"),
        )
    )


# --------------------------------------------------------------------------
# X40: unigram language-model scoring (perplexity-style quality filter)
# --------------------------------------------------------------------------


@register(
    "unigram_lm_score",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    model AS (
        SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok
    ),
    tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS t_total,
               CAST(COUNT(*) AS BIGINT) AS v_size
        FROM model
    ),
    scored AS (
        SELECT t.doc_id,
               round(-ln((m.cnt + 1)::DOUBLE
                         / (s.t_total + s.v_size)::DOUBLE), 9) AS nll
        FROM tok t JOIN model m ON t.tok = m.tok CROSS JOIN tot s
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(nll AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*)
               AS cross_entropy
    FROM scored GROUP BY doc_id
    """,
)
def unigram_lm_score(spark, sf_dir):
    """Unigram language-model scoring (X40): train an add-one-smoothed
    unigram model on the corpus itself (token count / total), then
    score every document by its mean negative log-likelihood — the
    log-space form of perplexity, the filter real LLM pipelines
    threshold on (CCNet/Gopher use a KenLM score; the unigram model is
    its exactly-reproducible distributed skeleton).

    Determinism: each token's -ln p is rounded to 9 decimals (ln is
    correctly rounded in both engines — same contract as tfidf's idf),
    then summed as DECIMAL(28,9) so the per-doc total is
    order-independent; the final division is one double op written
    identically in both engines.

    Scale shape: one token shuffle builds the model (map-side partial
    counts -> ~|vocab| rows); the one-row totals aggregate is
    broadcast; scoring re-joins tokens with the model on the token key
    (equi-join, digests not payloads) and the per-doc rollup is the
    second and last shuffle. At 100 TB the model join is the standard
    shape — or cap the vocab to top-K and broadcast it, turning
    scoring into a map-only pass (the vocab_oov_rate shape)."""
    tok = _docs(spark, sf_dir).select(
        "doc_id", F.explode(_tokens()).alias("tok")
    )
    model = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = model.agg(
        F.sum("cnt").cast("bigint").alias("t_total"),
        F.count(F.lit(1)).cast("bigint").alias("v_size"),
    )
    nll = F.round(
        -F.log(
            (F.col("cnt") + 1).cast("double")
            / (F.col("t_total") + F.col("v_size")).cast("double")
        ),
        9,
    )
    scored = (
        tok.join(model, "tok")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", nll.alias("nll"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        (
            F.sum(F.col("nll").cast("decimal(28,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("cross_entropy"),
    )


# --------------------------------------------------------------------------
# X41: BM25 ranked retrieval over the corpus
# --------------------------------------------------------------------------


@register(
    "bm25_topk_docs",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    dl AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dlen
        FROM tok GROUP BY doc_id
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dlen) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ),
    df AS (
        SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
        FROM tok GROUP BY tok
    ),
    qterms AS (
        SELECT tok, doc_freq FROM df
        WHERE length(tok) >= 4
        ORDER BY doc_freq DESC, tok LIMIT 3
    ),
    tf AS (
        SELECT t.doc_id, t.tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok t JOIN qterms q ON t.tok = q.tok
        GROUP BY t.doc_id, t.tok
    ),
    scored AS (
        SELECT tf.doc_id,
               round(
                   ln(1.0 + (s.n_docs - q.doc_freq + 0.5)
                            / (q.doc_freq + 0.5))
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dlen / s.avgdl)),
                   9) AS term_score
        FROM tf
        JOIN qterms q ON tf.tok = q.tok
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats s
    ),
    agg AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_terms,
               CAST(SUM(CAST(term_score AS DECIMAL(28,9))) AS DOUBLE)
                   AS bm25
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_terms, bm25,
           CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                AS BIGINT) AS rank
    FROM agg
    QUALIFY row_number() OVER (ORDER BY bm25 DESC, doc_id) <= 10
    """,
)
def bm25_topk_docs(spark, sf_dir):
    """BM25 ranked retrieval (X41): score every document against a
    3-term query (the corpus's highest-document-frequency tokens of
    length >= 4 — a deterministic, content-independent query choice)
    with the classic Okapi BM25 (k1=1.2, b=0.75), return the top 10.

    Determinism: idf and the tf saturation are doubles written with
    identical literals, association, and evaluation order in both
    engines; each (doc, term) score is rounded to 9 decimals and the
    <=3 per-doc terms are summed as DECIMAL(28,9) (order-free); the
    final ranking totals-orders on (bm25 DESC, doc_id).

    Scale shape: doc lengths and document frequencies are the same
    one-token-shuffle aggregates the LM scorer uses; the query-term
    table is 3 rows -> broadcast, so candidate generation is a
    broadcast semi-filter on the token stream (docs without query
    terms die before any shuffle); the final top-10 windows over
    at-most-|matching docs| score rows, never text payloads."""
    tok = _docs(spark, sf_dir).select(
        "doc_id", F.explode(_tokens()).alias("tok")
    )
    dl = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("dlen")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (
            F.sum("dlen").cast("double") / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    df_ = tok.groupBy("tok").agg(
        F.countDistinct("doc_id").cast("bigint").alias("doc_freq")
    )
    qterms = (
        df_.where(F.length("tok") >= 4)
        .orderBy(F.desc("doc_freq"), F.asc("tok"))
        .limit(3)
        .select(F.col("tok").alias("qtok"), "doc_freq")
    )
    tf = (
        tok.join(
            F.broadcast(qterms.select("qtok")),
            F.col("tok") == F.col("qtok"),
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("doc_freq") + F.lit(0.5))
        / (F.col("doc_freq") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(1.2) * (
        F.lit(0.25) + F.lit(0.75) * F.col("dlen") / F.col("avgdl")
    )
    scored = (
        tf.join(
            F.broadcast(qterms), F.col("tok") == F.col("qtok")
        )
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(idf * (F.col("tf") * F.lit(2.2)) / denom, 9).alias(
                "term_score"
            ),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum(F.col("term_score").cast("decimal(28,9)"))
        .cast("double")
        .alias("bm25"),
    )
    from pyspark.sql import Window

    # TakeOrderedAndProject bounds the doc-grain frame to k=10 rows
    # BEFORE any window — per-partition heaps + one k-row merge, no
    # single-partition exchange of the scored corpus. The rank column
    # is then a global window over the 10 surviving rows; its input is
    # already one k-row partition, so the plan has NO exchange under
    # the Window (the planner's no-partition warning refers to k rows).
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        agg.orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
    )


# --------------------------------------------------------------------------
# X42: exact-k-per-stratum reservoir sampling
# --------------------------------------------------------------------------


@register(
    "reservoir_sample_per_source",
    oracle="""
    WITH h AS (
        SELECT doc_id, source,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS coin
        FROM documents
    )
    SELECT doc_id, source, coin,
           CAST(row_number() OVER (
               PARTITION BY source ORDER BY coin, doc_id
           ) AS BIGINT) AS draw
    FROM h
    QUALIFY row_number() OVER (
        PARTITION BY source ORDER BY coin, doc_id
    ) <= 20
    """,
)
def reservoir_sample_per_source(spark, sf_dir):
    """Exact-k uniform sample per stratum (X42): keep the 20 documents
    with the smallest md5-derived coin within each source — the
    distributed, rerun-stable equivalent of per-stratum reservoir
    sampling. Unlike rate-based selection (mixture_budget_plan), the
    output size is EXACTLY min(k, |stratum|) rows per source, which is
    what eval-set carving and per-source caps need.

    The coin is the 60-bit md5 prefix of the stable doc_id — uniform,
    partitioning-independent, identical on any cluster layout, and
    totally ordered with the doc_id tiebreak, so the sample is a pure
    function of the data.

    Scale shape: the rank window shuffles only (doc_id, source, coin)
    triples — payloads stay behind and are fetched by id afterwards if
    needed. r19: the take is two-level (the docstring's own skew
    remedy, now applied): per-(source, coin-bucket) top-20 over 32
    uniform coin buckets, then the final rank over the <= 640
    candidates per source — a plain per-source window ranks the whole
    corpus through |sources| tasks at scale. Exact: every global
    top-20 row is its bucket's top-20 (fewer than 20 rows precede it
    anywhere), and all 20 global winners reach the candidate set, so
    the second rank equals the global rank for every surviving row."""
    h = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        _tok_hash(F.col("doc_id").cast("string")).alias("coin"),
    )
    from pyspark.sql import Window

    # coin is a uniform 60-bit hash; top 5 bits give 32 buckets
    hb = h.withColumn(
        "pid", F.expr("coin div 36028797018963968")
    )
    w1 = Window.partitionBy("source", "pid").orderBy("coin", "doc_id")
    cand = (
        hb.withColumn("r1", F.row_number().over(w1))
        .where(F.col("r1") <= 20)
        .drop("r1", "pid")
    )
    w = Window.partitionBy("source").orderBy("coin", "doc_id")
    return (
        cand.withColumn("draw", F.row_number().over(w).cast("bigint"))
        .where(F.col("draw") <= 20)
    )


# --------------------------------------------------------------------------
# q-gram prefix-filtering similarity join (ED-Join style)
# --------------------------------------------------------------------------
@register(
    "qgram_prefix_filter_pairs",
    oracle="""
    WITH p AS (SELECT p_partkey, p_name FROM part),
    g AS (
        SELECT p_partkey, p_name,
               UNNEST(list_distinct(list_transform(
                   generate_series(1, length(p_name) - 1),
                   i -> substr(p_name, i, 2)))) AS gram
        FROM p
    ),
    df AS (SELECT gram, COUNT(*) AS f FROM g GROUP BY 1),
    r AS (
        SELECT g.p_partkey, g.p_name, g.gram,
               ROW_NUMBER() OVER (
                   PARTITION BY g.p_partkey ORDER BY df.f, g.gram
               ) AS rn
        FROM g JOIN df USING (gram)
    ),
    pre AS (SELECT p_partkey, p_name, gram FROM r WHERE rn <= 5),
    cand AS (
        SELECT DISTINCT a.p_partkey AS key1, a.p_name AS name1,
                        b.p_partkey AS key2, b.p_name AS name2
        FROM pre a JOIN pre b
          ON a.gram = b.gram AND a.p_name < b.p_name
    )
    SELECT CAST(key1 AS BIGINT) AS key1, CAST(key2 AS BIGINT) AS key2,
           name1, name2,
           CAST(levenshtein(name1, name2) AS BIGINT) AS dist
    FROM cand WHERE levenshtein(name1, name2) <= 2
    """,
)
def qgram_prefix_filter_pairs(spark, sf_dir):
    """Edit-distance similarity join via q-gram PREFIX FILTERING
    (ED-Join family): strings within Levenshtein tau=2 can disagree on
    at most q*tau = 4 of their distinct character 2-grams, so under any
    global total order of grams the first q*tau+1 = 5 grams of each
    string must share at least one member — candidates come from an
    equi-join on those prefix grams only, never an all-pairs product.
    The global order is (corpus gram frequency asc, gram asc): rarest
    grams first, which minimizes candidate fan-in on common grams.

    This is the third blocking strategy certified beside banding
    (levenshtein_fuzzy_pairs: first-char+length) and sorted
    neighborhood — the one whose candidate set provably contains every
    true pair (no-false-negative property asserted against the
    quadratic baseline in
    ``tests/test_plans.py::test_qgram_prefix_filter_complete``).
    Plan: gram explode -> frequency rollup (broadcast back) ->
    per-string top-5 window -> gram equi-join -> distinct -> verify.
    Only (key, name, gram) triples shuffle; the verify runs on the
    candidate set, whose size the rare-gram order keeps near the true
    pair count.
    """
    p = t(spark, sf_dir, "part").select("p_partkey", "p_name")
    g = p.select(
        "p_partkey",
        "p_name",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, length(p_name) - 1),"
                    " i -> substring(p_name, i, 2))"
                )
            )
        ).alias("gram"),
    )
    df_ = g.groupBy("gram").agg(F.count(F.lit(1)).alias("f"))
    w = Window.partitionBy("p_partkey").orderBy(
        F.col("f").asc(), F.col("gram").asc()
    )
    pre = (
        g.join(F.broadcast(df_), "gram")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("p_partkey", "p_name", "gram")
    )
    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .select(
            F.col("a.p_partkey").alias("key1"),
            F.col("a.p_name").alias("name1"),
            F.col("b.p_partkey").alias("key2"),
            F.col("b.p_name").alias("name2"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "dist", F.levenshtein("name1", "name2").cast("bigint")
        )
        .where(F.col("dist") <= 2)
        .select(
            F.col("key1").cast("bigint"),
            F.col("key2").cast("bigint"),
            "name1",
            "name2",
            "dist",
        )
    )


# --------------------------------------------------------------------------
# winnowing fingerprints (MOSS local fingerprint selection)
# --------------------------------------------------------------------------
@register(
    "winnowing_fingerprints",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        WHERE len(string_split(text, ' ')) >= 8
    ),
    grams AS (
        SELECT doc_id,
               len(ts) - 4 AS n_grams,
               g.i AS gpos,
               (CAST(('0x' || substr(md5(
                    array_to_string(ts[g.i + 1 : g.i + 5], ' ')), 1, 15))
                    AS BIGINT) % 1099511627776) * 131072 + g.i AS p
        FROM toks, LATERAL unnest(generate_series(0, len(ts) - 5)) AS g(i)
    ),
    wm AS (
        SELECT doc_id, n_grams, gpos,
               MIN(p) OVER (PARTITION BY doc_id ORDER BY gpos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        FROM grams
    ),
    sel AS (
        SELECT DISTINCT doc_id, n_grams, wmin
        FROM wm WHERE gpos <= n_grams - 4
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
           CAST(SUM(wmin % 1000000007) AS BIGINT) AS fp_checksum,
           CAST(COUNT(*) AS DOUBLE) / n_grams AS density
    FROM sel GROUP BY doc_id, n_grams
    """,
)
def winnowing_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every 5-token gram, slide a w=4 window over
    the gram-hash sequence, keep each window's MINIMUM — the selected
    set is a position-robust fingerprint with guaranteed density
    (any shared substring of >= w+k-1 tokens yields a shared
    fingerprint) at ~2/(w+1) the gram count. This is the fingerprint
    tier between the order-sensitive whole-doc rolling hash
    (``doc_fingerprint_rolling``) and full gram-set dedup
    (``duplicate_ngram_spans``): small enough to index, local enough
    to survive edits.

    Determinism across engines: the windowed argmin is made total by
    PACKING (hash, position) into one int64 — ``(h % 2^40) * 2^17 +
    gpos`` — so ties on hash value resolve to the leftmost position
    identically everywhere; the checksum sums residues mod 1e9+7
    (bounded, no int64 overflow in either engine).

    Scale shape: grams explode map-side from the scan; the ONLY
    shuffle is the per-doc window (doc-keyed, short sequences), and
    selection + rollup stay in that partitioning — at 100 TB this is
    one pass, and the fingerprint set joins downstream dedup tiers by
    equi-join on ``wmin``."""
    d = _docs(spark, sf_dir)
    packed = F.expr(
        "transform(sequence(0, size(split(text, ' ')) - 5), i -> "
        "(CAST(conv(substring(md5(concat_ws(' ', "
        "slice(split(text, ' '), i + 1, 5))), 1, 15), 16, 10) AS BIGINT) "
        "% 1099511627776) * 131072 + i)"
    )
    rows = (
        d.where(F.size(F.split(F.col("text"), " ")) >= 8)
        .select(
            "doc_id",
            (F.size(F.split(F.col("text"), " ")) - 4).alias("n_grams"),
            F.posexplode(packed).alias("gpos", "p"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("gpos").rowsBetween(0, 3)
    sel = (
        rows.withColumn("wmin", F.min("p").over(w))
        .where(F.col("gpos") <= F.col("n_grams") - 4)
        .select("doc_id", "n_grams", "wmin")
        .distinct()
    )
    return (
        sel.groupBy("doc_id", "n_grams")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fingerprints"),
            F.sum(F.col("wmin") % 1000000007)
            .cast("bigint")
            .alias("fp_checksum"),
            (F.count(F.lit(1)).cast("double") / F.col("n_grams")).alias(
                "density"
            ),
        )
        .withColumn("n_grams", F.col("n_grams").cast("bigint"))
    )


# --------------------------------------------------------------------------
# PPJoin-style set-similarity join (prefix-filtered Jaccard)
# --------------------------------------------------------------------------
@register(
    "ppjoin_token_sets",
    oracle="""
    WITH s AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks,
               len(list_distinct(string_split(text, ' '))) AS n
        FROM documents
    ),
    g AS (SELECT doc_id, n, UNNEST(toks) AS tok FROM s),
    df AS (SELECT tok, COUNT(*) AS f FROM g GROUP BY 1),
    r AS (
        SELECT g.doc_id, g.n, g.tok,
               ROW_NUMBER() OVER (
                   PARTITION BY g.doc_id ORDER BY df.f, g.tok
               ) AS rn
        FROM g JOIN df USING (tok)
    ),
    pre AS (
        SELECT doc_id, tok FROM r
        WHERE rn <= n - CAST(ceil(0.7 * n) AS INT) + 1
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        FROM pre a JOIN pre b
          ON a.tok = b.tok AND a.doc_id < b.doc_id
    ),
    v AS (
        SELECT c.id1, c.id2, s1.n AS n1, s2.n AS n2,
               len(list_intersect(s1.toks, s2.toks)) AS n_common
        FROM cand c
        JOIN s s1 ON c.id1 = s1.doc_id
        JOIN s s2 ON c.id2 = s2.doc_id
    )
    SELECT CAST(id1 AS BIGINT) AS id1, CAST(id2 AS BIGINT) AS id2,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(n_common AS BIGINT) AS n_common,
           round(CAST(n_common AS DOUBLE) / (n1 + n2 - n_common), 9)
               AS jaccard
    FROM v
    WHERE CAST(n_common AS DOUBLE) / (n1 + n2 - n_common) >= 0.7
    """,
)
def ppjoin_token_sets(spark, sf_dir):
    """Set-similarity join with PREFIX FILTERING (the PPJoin family,
    Xiao et al.): document pairs whose distinct-token Jaccard >= 0.7,
    candidates generated from an equi-join on each set's rarest
    (global-frequency-ascending) prefix tokens only — the FOURTH
    blocking tier beside banding, sorted-neighborhood, and the q-gram
    edit-distance prefix filter, and the one that blocks on SET
    similarity directly.

    Completeness (the pytest-asserted no-false-negative property):
    Jaccard >= t forces |A∩B| >= ceil(t·|A|), and any sets with
    overlap >= alpha must intersect within their first
    |A| - alpha + 1 tokens of ANY shared total order — so the
    per-set prefix of length n - ceil(t·n) + 1 under the
    (corpus frequency, token) order is guaranteed to collide for
    every qualifying pair. Rarest-first ordering keeps prefix-token
    fan-in (and therefore the candidate count) near the true pair
    count.

    Verification is exact: candidate pairs re-join the token arrays
    and compute |A∩B| with array_intersect; jaccard is one integer
    division rounded identically in both engines. Scale shape: token
    frequencies are one rollup joined back on tok; prefixes come from
    a doc-keyed window; only (doc, prefix-token) rows enter the
    candidate join; arrays travel ONLY on the candidates-grain verify
    join — never through the blocking shuffle."""
    d = _docs(spark, sf_dir)
    # the token-set frame feeds FOUR subtrees (gram explode, frequency
    # rollup, both verify sides); persist() pins it to one computation —
    # the local stand-in for materializing the tokenized corpus once
    # (the item_cooccurrence_cosine precedent)
    s = (
        d.select(
            "doc_id",
            F.array_distinct(F.split(F.col("text"), " ")).alias("toks"),
        )
        .withColumn("n", F.size("toks"))
        .persist()
    )
    g = s.select("doc_id", "n", F.explode("toks").alias("tok"))
    freq = g.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    r = g.join(freq, "tok").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(
                F.col("f").asc(), F.col("tok").asc()
            )
        ),
    )
    pre = r.where(
        F.col("rn")
        <= F.col("n") - F.ceil(F.lit(0.7) * F.col("n")).cast("int") + 1
    ).select("doc_id", "tok")
    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2")
        )
        .distinct()
    )
    s1 = s.select(
        F.col("doc_id").alias("id1"),
        F.col("toks").alias("toks1"),
        F.col("n").alias("n1"),
    )
    s2 = s.select(
        F.col("doc_id").alias("id2"),
        F.col("toks").alias("toks2"),
        F.col("n").alias("n2"),
    )
    v = (
        cand.join(s1, "id1")
        .join(s2, "id2")
        .withColumn(
            "n_common", F.size(F.array_intersect("toks1", "toks2"))
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("n_common")
    )
    return (
        v.where(jac >= 0.7)
        .select(
            F.col("id1").cast("bigint"),
            F.col("id2").cast("bigint"),
            F.col("n1").cast("bigint"),
            F.col("n2").cast("bigint"),
            F.col("n_common").cast("bigint"),
            F.round(jac, 9).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# corpus curation funnel (the stages COMPOSED, one DAG)
# --------------------------------------------------------------------------
@register(
    "corpus_curation_funnel",
    oracle="""
    WITH raw AS (
        SELECT doc_id, text, n_chars,
               len(string_split(text, ' ')) AS n_toks
        FROM documents
    ),
    quality AS (
        SELECT * FROM raw WHERE n_chars >= 200 AND n_toks >= 30
    ),
    survivors AS (
        SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY md5(text)
    ),
    dedup AS (
        SELECT q.* FROM quality q JOIN survivors s USING (doc_id)
    ),
    holdout_grams AS (
        SELECT DISTINCT array_to_string(ts[g.i + 1 : g.i + 8], ' ') AS gram
        FROM (SELECT string_split(text, ' ') AS ts FROM raw
              WHERE doc_id % 97 = 0) h,
        LATERAL unnest(generate_series(0, len(h.ts) - 8)) AS g(i)
        WHERE len(h.ts) >= 8
    ),
    contaminated AS (
        SELECT DISTINCT d.doc_id
        FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM dedup) d,
        LATERAL unnest(generate_series(0, len(d.ts) - 8)) AS g(i)
        WHERE len(d.ts) >= 8
          AND array_to_string(d.ts[g.i + 1 : g.i + 8], ' ')
              IN (SELECT gram FROM holdout_grams)
    ),
    clean AS (
        SELECT * FROM dedup
        WHERE doc_id % 97 <> 0
          AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    train AS (
        SELECT * FROM clean
        WHERE (doc_id * 2654435761) % 4294967296 % 1000 < 800
    ),
    funnel AS (
        SELECT '0_raw' AS stage, COUNT(*) AS n_docs,
               SUM(n_chars) AS n_chars FROM raw
        UNION ALL SELECT '1_quality', COUNT(*), SUM(n_chars) FROM quality
        UNION ALL SELECT '2_exact_dedup', COUNT(*), SUM(n_chars) FROM dedup
        UNION ALL SELECT '3_decontaminated', COUNT(*), SUM(n_chars)
                  FROM clean
        UNION ALL SELECT '4_train_split', COUNT(*), SUM(n_chars) FROM train
    )
    SELECT stage, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM funnel
    """,
)
def corpus_curation_funnel(spark, sf_dir):
    """The training-corpus stages COMPOSED into one lazy DAG — the
    end-to-end shape every individual tier query certifies in
    isolation, now certified to compose: quality gate (length + token
    floor) → exact dedup (md5 digest, min-id survivor) → benchmark
    decontamination (drop docs sharing any 8-token gram with the
    deterministic ``doc_id % 97`` holdout, holdout itself excluded) →
    train-split selection (the engine's Knuth-hash 80% rule). Emits the
    funnel: (stage, surviving docs, surviving chars) per stage — the
    per-stage attrition report every curation run publishes.

    Scale shape: one documents scan feeds the chain; quality and split
    are map-side predicates, dedup is one digest shuffle, and
    decontamination is the gram equi-join of ``decontamination_overlap``
    restricted to dedup survivors (gram→digest at 100 TB, string grams
    here for oracle parity). Stage counts are side aggregations of the
    same lineage — Spark recomputes the cheap upstream predicates per
    stage rather than caching the corpus, the right trade when the
    corpus is 100 TB and the funnel is five numbers."""
    from .ext_pipeline import split_label

    d = t(spark, sf_dir, "documents")
    raw = d.select(
        "doc_id",
        "text",
        "n_chars",
        F.size(F.split(F.col("text"), " ")).alias("n_toks"),
    )
    quality = raw.where(
        (F.col("n_chars") >= 200) & (F.col("n_toks") >= 30)
    )
    survivors = quality.groupBy(F.md5("text")).agg(
        F.min("doc_id").alias("doc_id")
    )
    dedup = quality.join(survivors.select("doc_id"), "doc_id")

    def grams(frame):
        return frame.select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(split(text, ' ')) >= 8 THEN "
                    "transform(sequence(0, size(split(text, ' ')) - 8), "
                    "i -> concat_ws(' ', slice(split(text, ' '), i + 1, 8)))"
                    " ELSE array() END"
                )
            ).alias("gram"),
        )

    holdout_grams = (
        grams(raw.where(F.col("doc_id") % 97 == 0)).select("gram").distinct()
    )
    contaminated = (
        grams(dedup)
        .join(F.broadcast(holdout_grams), "gram")
        .select("doc_id")
        .distinct()
    )
    clean = dedup.where(F.col("doc_id") % 97 != 0).join(
        contaminated, "doc_id", "left_anti"
    )
    train = clean.where(split_label("doc_id") == "train")

    def stage(name, frame):
        return frame.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        ).select("stage", "n_docs", "n_chars")

    return (
        stage("0_raw", raw)
        .unionByName(stage("1_quality", quality))
        .unionByName(stage("2_exact_dedup", dedup))
        .unionByName(stage("3_decontaminated", clean))
        .unionByName(stage("4_train_split", train))
    )


# --------------------------------------------------------------------------
# context-length bucketing (batch-inference padding waste)
# --------------------------------------------------------------------------
@register(
    "length_bucket_padding_waste",
    oracle="""
    WITH toks AS (
        SELECT len(string_split(text, ' ')) AS n_toks FROM documents
    ),
    bucketed AS (
        SELECT n_toks,
               CAST(POWER(2, CEIL(LOG2(GREATEST(n_toks, 1))))
                    AS BIGINT) AS bucket
        FROM toks
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS real_tokens,
           CAST(SUM(bucket - n_toks) AS BIGINT) AS pad_tokens,
           round(SUM(bucket - n_toks)
                 / CAST(SUM(bucket) AS DOUBLE), 9) AS waste_ratio
    FROM bucketed GROUP BY bucket
    """,
)
def length_bucket_padding_waste(spark, sf_dir):
    """Context-length bucketing for batched inference: documents round
    up to power-of-two token buckets (the shape compilers and serving
    stacks pad to), and each bucket reports the PADDING TAX — real vs
    pad tokens and the waste ratio — the number that decides whether
    another bucket boundary pays for its extra compiled graph. The
    serving-side complement of ``sequence_packing_chunks`` (training
    packs sequences to eliminate padding; serving buckets them to
    bound it).

    Integer-exact: bucket = 2^ceil(log2(n)) computed on integers ≥ 1
    (log2 of an exact power of two is exact in IEEE double, so the
    ceiling never wobbles at boundaries); sums are integer; one float
    division per bucket row at the end. One scan, one ≤ log₂(max_len)
    -row rollup."""
    d = _docs(spark, sf_dir)
    n_toks = F.size(F.split(F.col("text"), " "))
    bucket = F.pow(
        F.lit(2.0), F.ceil(F.log2(F.greatest(n_toks, F.lit(1))))
    ).cast("bigint")
    b = d.select(n_toks.alias("n_toks"), bucket.alias("bucket"))
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("real_tokens"),
        F.sum(F.col("bucket") - F.col("n_toks"))
        .cast("bigint")
        .alias("pad_tokens"),
        F.round(
            F.sum(F.col("bucket") - F.col("n_toks"))
            / F.sum("bucket").cast("double"),
            9,
        ).alias("waste_ratio"),
    )


# --------------------------------------------------------------------------
# Heaps' law fit (vocabulary growth exponent)
# --------------------------------------------------------------------------
@register(
    "heaps_law_fit",
    oracle="""
    WITH d AS (
        SELECT len(string_split(text, ' ')) AS n_toks,
               len(list_distinct(string_split(text, ' '))) AS n_types
        FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ),
    pts AS (
        SELECT ln(CAST(n_toks AS DOUBLE)) AS x,
               ln(CAST(n_types AS DOUBLE)) AS y
        FROM d
    ),
    s AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(x * y) AS sxy
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9)
               AS heaps_beta,
           round(exp((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                     / n), 6) AS heaps_k
    FROM s
    """,
)
def heaps_law_fit(spark, sf_dir):
    """Heaps' law fit — vocabulary growth V(n) ≈ K·n^β estimated by
    log-log OLS over (tokens, distinct types) per document: the corpus
    statistic that predicts how vocabulary (and therefore tokenizer
    coverage, embedding-table pressure, and OOV rates) scales as a
    corpus grows — β ≈ 0.5 for natural text; β near 1 screams
    synthetic or ID-heavy data. Companion to `vocab_oov_rate` (which
    measures coverage at one size; this extrapolates it).

    Closed-form OLS from five sums — no iteration; ln terms are
    float-summed (the one float accumulation in the engine's contract
    family, acceptable here: the slope divides two O(n)-term sums
    whose ulp noise is ~1e-13 relative, then rounds to 9). One scan,
    map-side ln, a five-number aggregate."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    base = d.select(
        F.size(toks).alias("n_toks"),
        F.size(F.array_distinct(toks)).alias("n_types"),
    ).where(F.col("n_toks") >= 2)
    pts = base.select(
        F.log(F.col("n_toks").cast("double")).alias("x"),
        F.log(F.col("n_types").cast("double")).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        n.cast("bigint").alias("n_docs"),
        F.round(slope, 9).alias("heaps_beta"),
        F.round(
            F.exp((F.col("sy") - slope * F.col("sx")) / n), 6
        ).alias("heaps_k"),
    )


# --------------------------------------------------------------------------
# Zipf slope over the token frequency spectrum
# --------------------------------------------------------------------------
@register(
    "zipf_slope_tokens",
    oracle="""
    WITH freq AS (
        SELECT tok, COUNT(*) AS f
        FROM (SELECT UNNEST(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY tok
    ),
    topk AS (
        SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS r
        FROM freq ORDER BY f DESC, tok LIMIT 100
    ),
    pts AS (
        SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
        FROM topk
    ),
    s AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(x * y) AS sxy
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS k_ranks,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9)
               AS zipf_slope
    FROM s
    """,
)
def zipf_slope_tokens(spark, sf_dir):
    """Zipf slope of the token frequency spectrum: log-log OLS of
    frequency against rank over the top-100 tokens — natural language
    sits near −1; a flat slope means templated/duplicated text and a
    steep one means a degenerate vocabulary, so the single number is a
    cheap corpus-health fingerprint beside `repetition_profile` (which
    looks inside documents; this looks across the vocabulary).

    The top-k ranks come from a total-ordered TakeOrderedAndProject
    over the token rollup (frequency desc, token tiebreak — rank is
    deterministic); the fit is the same five-sum closed form as
    heaps_law_fit over exactly 100 points. One token-rollup shuffle,
    then arithmetic on 100 rows."""
    d = _docs(spark, sf_dir)
    freq = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    topk = (
        freq.orderBy(F.col("f").desc(), F.col("tok").asc())
        .limit(100)
        .withColumn(
            "r",
            F.row_number().over(
                Window.orderBy(F.col("f").desc(), F.col("tok").asc())
            ),
        )
    )
    pts = topk.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("f").cast("double")).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        n.cast("bigint").alias("k_ranks"),
        F.round(slope, 9).alias("zipf_slope"),
    )


# --------------------------------------------------------------------------
# interpolated bigram LM perplexity (the unigram model's stronger sibling)
# --------------------------------------------------------------------------
@register(
    "bigram_lm_perplexity",
    oracle="""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    tok AS (
        SELECT doc_id, unnest(ts) AS tok FROM d
    ),
    uni AS (SELECT tok, COUNT(*) AS cu FROM tok GROUP BY tok),
    tot AS (
        SELECT CAST(SUM(cu) AS BIGINT) AS t_total,
               CAST(COUNT(*) AS BIGINT) AS v_size
        FROM uni
    ),
    bi AS (
        SELECT d.doc_id, ts[g.i - 1] AS prev, ts[g.i] AS tok
        FROM d, LATERAL unnest(generate_series(2, len(ts))) AS g(i)
        WHERE len(ts) >= 2
    ),
    bc AS (SELECT prev, tok, COUNT(*) AS cb FROM bi GROUP BY 1, 2),
    pc AS (SELECT prev, SUM(cb) AS cp FROM bc GROUP BY 1),
    scored AS (
        SELECT b.doc_id,
               round(-ln(0.5 * bc.cb / CAST(pc.cp AS DOUBLE)
                         + 0.5 * (uni.cu + 1)
                           / CAST(s.t_total + s.v_size AS DOUBLE)),
                     9) AS nll
        FROM bi b
        JOIN bc ON b.prev = bc.prev AND b.tok = bc.tok
        JOIN pc ON b.prev = pc.prev
        JOIN uni ON b.tok = uni.tok
        CROSS JOIN tot s
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CAST(nll AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*)
               AS cross_entropy,
           round(exp(CAST(SUM(CAST(nll AS DECIMAL(28,9))) AS DOUBLE)
                     / COUNT(*)), 6) AS perplexity
    FROM scored GROUP BY doc_id
    """,
)
def bigram_lm_perplexity(spark, sf_dir):
    """Jelinek-Mercer interpolated bigram language model scoring every
    document with its perplexity — one rung up the KenLM ladder from
    ``unigram_lm_score``: p(w|v) = λ·c(vw)/c(v·) + (1−λ)·p_uni(w)
    with λ = 1/2 and the add-one unigram as the backoff mass, so
    unseen bigrams never zero out. Perplexity = exp(mean NLL), the
    actual units quality-filtering thresholds are quoted in
    (CCNet keeps the best-perplexity tercile).

    Determinism contract (the unigram query's, one model deeper):
    every count is an exact integer; each bigram's −ln p is rounded to
    9 decimals then summed as DECIMAL(28,9), so per-doc totals are
    order-independent; cross-entropy and exp() are identical terminal
    expressions. Plan: token and bigram models are two hash
    aggregations; scoring joins the bigram stream against (bigram,
    context, unigram) counts — all equi-joins on token keys that AQE
    can broadcast when the model is small and sort-merge when it is
    not; docs shorter than 2 tokens drop out before the explode."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ts")
    )
    toks = d.select(F.explode("ts").alias("tok"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cu"))
    tot = uni.agg(
        F.sum("cu").cast("bigint").alias("t_total"),
        F.count(F.lit(1)).cast("bigint").alias("v_size"),
    )
    bi = (
        d.where(F.size("ts") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(2, size(ts)),"
                    " i -> struct(ts[i-2] AS prev, ts[i-1] AS tok))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.prev", "b.tok")
    )
    bc = bi.groupBy("prev", "tok").agg(F.count(F.lit(1)).alias("cb"))
    pc = bc.groupBy("prev").agg(F.sum("cb").alias("cp"))
    p = 0.5 * F.col("cb") / F.col("cp").cast("double") + 0.5 * (
        F.col("cu") + 1
    ) / (F.col("t_total") + F.col("v_size")).cast("double")
    scored = (
        bi.join(bc, ["prev", "tok"])
        .join(pc, "prev")
        .join(uni, "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(-F.log(p), 9).cast("decimal(28,9)").alias("nll"),
        )
    )
    ce = F.sum("nll").cast("double") / F.count(F.lit(1))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        ce.alias("cross_entropy"),
        F.round(F.exp(ce), 6).alias("perplexity"),
    )


# --------------------------------------------------------------------------
# RAKE keyphrase extraction (stopword islands + degree/frequency scores)
# --------------------------------------------------------------------------
@register(
    "rake_keyphrases",
    oracle="""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    tok AS (
        SELECT doc_id, g.i AS pos, ts[g.i] AS tok
        FROM d, LATERAL unnest(generate_series(1, len(ts))) AS g(i)
    ),
    stop AS (
        SELECT tok FROM (
            SELECT tok,
                   row_number() OVER (ORDER BY COUNT(*) DESC, tok) AS rn
            FROM tok GROUP BY tok
        ) WHERE rn <= 20
    ),
    isl AS (
        SELECT doc_id, pos, tok,
               pos - row_number() OVER (
                   PARTITION BY doc_id ORDER BY pos) AS run
        FROM tok WHERE tok NOT IN (SELECT tok FROM stop)
    ),
    isl2 AS (
        SELECT *, COUNT(*) OVER (PARTITION BY doc_id, run) AS plen
        FROM isl
    ),
    ws AS (
        SELECT tok,
               CAST(round(SUM(plen) * 1000000.0 / COUNT(*)) AS BIGINT)
                   AS ppm
        FROM isl2 GROUP BY tok
    ),
    ph AS (
        SELECT i.doc_id, i.run,
               string_agg(i.tok, ' ' ORDER BY i.pos) AS phrase,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               MIN(i.pos) AS p0,
               CAST(SUM(ws.ppm) AS BIGINT) AS score_ppm
        FROM isl2 i JOIN ws ON i.tok = ws.tok
        GROUP BY i.doc_id, i.run
    )
    SELECT doc_id, CAST(rnk AS BIGINT) AS rank, phrase, n_words,
           score_ppm
    FROM (
        SELECT *,
               row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY score_ppm DESC, phrase, p0) AS rnk
        FROM ph
    ) WHERE rnk <= 3
    """,
)
def rake_keyphrases(spark, sf_dir):
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal runs of non-stopword tokens (the stopword list is the
    corpus's own top-20 tokens — data-derived, deterministic), each
    word scores degree/frequency over the phrase graph, and a phrase
    scores the sum of its word scores; top-3 phrases per document.
    The unsupervised keyword tagger curation pipelines run to index
    and cluster corpora when no model is available.

    Two determinism moves: (1) phrase segmentation is the
    gaps-and-islands rewrite (run = pos − row_number over surviving
    tokens) — pure windows, no UDF; (2) word scores are carried as
    ppm INTEGERS (round(degree·1e6/freq)) so phrase scores sum and
    RANK exactly, with phrase-text and first-position tiebreaks —
    float ranking across engines would be undefined at ties.

    Plan: token explode → one hash agg for the stopword top-20
    (broadcast back), doc-keyed windows for islands (the only
    data-sized shuffles, all on doc_id), a token-keyed word-stats agg,
    and a doc-keyed top-3 window. No single-partition exchange."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ts")
    )
    tok = d.select(
        "doc_id", F.posexplode("ts").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    stop = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(20)
        .select("tok")
    )
    isl = (
        tok.join(F.broadcast(stop), "tok", "left_anti")
        .withColumn(
            "run",
            F.col("pos")
            - F.row_number().over(
                Window.partitionBy("doc_id").orderBy("pos")
            ),
        )
    )
    isl2 = isl.withColumn(
        "plen", F.count(F.lit(1)).over(Window.partitionBy("doc_id", "run"))
    )
    ws = isl2.groupBy("tok").agg(
        F.round(F.sum("plen") * 1000000.0 / F.count(F.lit(1)))
        .cast("bigint")
        .alias("ppm")
    )
    ph = (
        isl2.join(ws, "tok")
        .groupBy("doc_id", "run")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s.tok,
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.min("pos").alias("p0"),
            F.sum("ppm").cast("bigint").alias("score_ppm"),
        )
    )
    ranked = ph.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(
                F.desc("score_ppm"), F.asc("phrase"), F.asc("p0")
            )
        ),
    )
    return ranked.where(F.col("rank") <= 3).select(
        "doc_id",
        F.col("rank").cast("bigint").alias("rank"),
        "phrase",
        "n_words",
        "score_ppm",
    )


# --------------------------------------------------------------------------
# graph metric: local clustering coefficient per node
# --------------------------------------------------------------------------
@register(
    "graph_clustering_coefficient",
    oracle="""
    WITH c AS (
        SELECT c_name, c_mktsegment FROM customer WHERE c_custkey <= 300
    ),
    edges AS (
        SELECT a.c_mktsegment AS seg, a.c_name AS u, b.c_name AS v
        FROM c a JOIN c b
          ON a.c_mktsegment = b.c_mktsegment AND a.c_name < b.c_name
        WHERE levenshtein(a.c_name, b.c_name) <= 1
    ),
    adj AS (
        SELECT seg, u AS x, v AS y FROM edges
        UNION ALL
        SELECT seg, v AS x, u AS y FROM edges
    ),
    deg AS (
        SELECT seg, x, CAST(COUNT(*) AS BIGINT) AS degree
        FROM adj GROUP BY 1, 2
    ),
    tri AS (
        SELECT a1.seg, a1.x, CAST(COUNT(*) AS BIGINT) AS n_tri
        FROM adj a1
        JOIN adj a2 ON a1.seg = a2.seg AND a1.x = a2.x AND a1.y < a2.y
        JOIN edges e ON e.seg = a1.seg AND e.u = a1.y AND e.v = a2.y
        GROUP BY 1, 2
    )
    SELECT d.seg, d.x AS node, d.degree,
           CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_triangles,
           round(2.0 * COALESCE(t.n_tri, 0)
                 / (d.degree * (d.degree - 1)), 6) AS lcc
    FROM deg d LEFT JOIN tri t ON d.seg = t.seg AND d.x = t.x
    WHERE d.degree >= 2
    """,
)
def graph_clustering_coefficient(spark, sf_dir):
    """Local clustering coefficient per node of the Levenshtein<=1
    match graph — the per-node drill-down of ``dup_graph_triangles``:
    lcc = 2T/(d(d−1)) is the fraction of a node's neighbor pairs that
    are themselves connected. In duplicate-cluster QA, lcc≈1 nodes
    sit in clean cliques (safe to merge); lcc≈0 hubs are the chain
    centers connected-components over-merges through — the exact
    nodes an ER pipeline routes to review.

    Triangles-per-node via the symmetric adjacency list joined
    against the ordered edge set (each neighbor pair tested once by
    the y1 < y2 invariant); degrees and triangle counts are exact
    integers and the coefficient is one terminal division. Plan: the
    same bounded intra-block edge derivation as the triangle count,
    then node-keyed equi-joins — at scale the edge list is
    materialized once and every join is bucketed on node id."""
    c = (
        t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 300)
        .select("c_name", "c_mktsegment")
    )
    a = c.select(
        F.col("c_mktsegment").alias("seg"), F.col("c_name").alias("u")
    )
    b = c.select(
        F.col("c_mktsegment").alias("seg"), F.col("c_name").alias("v")
    )
    edges = (
        a.join(b, on="seg")
        .where((F.col("u") < F.col("v")) & (F.levenshtein("u", "v") <= 1))
        .select("seg", "u", "v")
        .persist()  # shared by adjacency (twice) and the closing join
    )
    adj = edges.select("seg", F.col("u").alias("x"), F.col("v").alias("y")).unionByName(
        edges.select("seg", F.col("v").alias("x"), F.col("u").alias("y"))
    )
    deg = adj.groupBy("seg", "x").agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    a1 = adj.select("seg", "x", F.col("y").alias("y1"))
    a2 = adj.select(
        F.col("seg").alias("seg2"), F.col("x").alias("x2"),
        F.col("y").alias("y2"),
    )
    e3 = edges.select(
        F.col("seg").alias("seg3"), F.col("u").alias("eu"),
        F.col("v").alias("ev"),
    )
    tri = (
        a1.join(
            a2,
            (F.col("seg") == F.col("seg2"))
            & (F.col("x") == F.col("x2"))
            & (F.col("y1") < F.col("y2")),
        )
        .join(
            e3,
            (F.col("seg") == F.col("seg3"))
            & (F.col("eu") == F.col("y1"))
            & (F.col("ev") == F.col("y2")),
        )
        .groupBy("seg", "x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )
    out = (
        deg.where(F.col("degree") >= 2)
        .join(tri, ["seg", "x"], "left")
        .select(
            "seg",
            F.col("x").alias("node"),
            "degree",
            F.coalesce("n_tri", F.lit(0)).cast("bigint").alias(
                "n_triangles"
            ),
            F.round(
                2.0
                * F.coalesce("n_tri", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ).alias("lcc"),
        )
    )
    return out


# --------------------------------------------------------------------------
# vocabulary coverage curve (tokenizer budget planning)
# --------------------------------------------------------------------------
def _cov_sql(k: int) -> str:
    return f"""
        SELECT {k} AS k, SUM(cnt) AS covered
        FROM (SELECT cnt FROM vocab ORDER BY cnt DESC, tok LIMIT {k})
    """


@register(
    "vocab_coverage_curve",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    vocab AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
    tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS v_size
        FROM vocab
    ),
    ks AS (
        {k10} UNION ALL {k100} UNION ALL {k1000}
    )
    SELECT CAST(ks.k AS BIGINT) AS vocab_budget,
           tot.v_size,
           CAST(ks.covered AS BIGINT) AS covered_tokens,
           round(ks.covered / CAST(tot.n_tokens AS DOUBLE), 9)
               AS coverage,
           round(1.0 - ks.covered / CAST(tot.n_tokens AS DOUBLE), 9)
               AS oov_rate
    FROM ks, tot
    """.format(
        k10=_cov_sql(10), k100=_cov_sql(100), k1000=_cov_sql(1000)
    ),
)
def vocab_coverage_curve(spark, sf_dir):
    """Vocabulary coverage curve: the fraction of all token
    occurrences covered by the top-10 / top-100 / top-1000 most
    frequent tokens — the tokenizer-budget planning view (Heaps' law
    fits the growth exponent; this reads off the operating points a
    vocab-size decision actually compares, with the OOV rate each
    budget would leave behind).

    Each budget's covered mass comes from an ``ORDER BY cnt DESC,
    tok LIMIT k`` over the vocab frame — TakeOrderedAndProject per
    branch, deterministic under count ties via the token tiebreak, NO
    global sort or rank window over the (unbounded) vocabulary. Counts
    are exact integers; coverage is one terminal division. Plan: one
    token explode + hash agg builds the vocab once (persisted), three
    top-k reductions ride it."""
    d = t(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    tot = vocab.agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("v_size"),
    )
    branches = []
    for k in (10, 100, 1000):
        topk = (
            vocab.orderBy(F.desc("cnt"), F.asc("tok"))
            .limit(k)
            .agg(F.sum("cnt").alias("covered"))
            .select(F.lit(k).alias("k"), "covered")
        )
        branches.append(topk)
    ks = branches[0].unionByName(branches[1]).unionByName(branches[2])
    out = ks.crossJoin(F.broadcast(tot))
    cov = F.col("covered") / F.col("n_tokens").cast("double")
    return out.select(
        F.col("k").cast("bigint").alias("vocab_budget"),
        "v_size",
        F.col("covered").cast("bigint").alias("covered_tokens"),
        F.round(cov, 9).alias("coverage"),
        F.round(1.0 - cov, 9).alias("oov_rate"),
    )


# --------------------------------------------------------------------------
# overlapping document chunker (RAG / pretraining chunk grid)
# --------------------------------------------------------------------------
@register(
    "document_chunks_overlap",
    oracle="""
    WITH p AS (
        SELECT doc_id, text, length(text) AS n,
               CASE WHEN length(text) <= 500 THEN 1
                    ELSE CAST(ceil((length(text) - 500) / 400.0)
                              AS BIGINT) + 1 END AS n_chunks
        FROM documents
    ),
    g AS (
        SELECT p.doc_id, i.i AS chunk_idx, p.n,
               i.i * 400 AS start,
               least(500, p.n - i.i * 400) AS chunk_len,
               substr(p.text, i.i * 400 + 1,
                      least(500, p.n - i.i * 400)) AS chunk
        FROM p, LATERAL unnest(generate_series(0, p.n_chunks - 1))
                 AS i(i)
    )
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start,
           CAST(chunk_len AS BIGINT) AS chunk_len,
           md5(chunk) AS chunk_md5
    FROM g
    """,
)
def document_chunks_overlap(spark, sf_dir):
    """Overlapping fixed-size chunk grid over documents — the
    chunk-then-embed primitive every RAG index and long-document
    pretraining pipeline runs first: windows of 500 characters with
    100 overlap (stride 400), the final window allowed to run short,
    single-chunk documents emitted whole. Complements
    ``sequence_packing_chunks`` (which packs multiple docs INTO fixed
    sequences; this splits one doc ACROSS windows).

    The oracle gate certifies CONTENT, not just arithmetic: each
    chunk's md5 over the actual extracted substring must match across
    engines, so 1-based substring indexing, the short-final-window
    rule, and the ceil-based chunk count are all pinned bit-exact.
    All boundary math is integer (ceil via (n - size + stride - 1) DIV
    stride + 1).

    Scale shape: pure map-side work — sequence() + explode fan-out of
    the chunk index grid, substring + md5 inside whole-stage codegen,
    no shuffle at all (the 100 TB chunker is scan-bound by
    construction; downstream embedding is where the cost lives)."""
    size, overlap = 500, 100
    stride = size - overlap
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("n")
    )
    # integer DIV ceil: expr form keeps it in codegen
    n_chunks = F.when(F.col("n") <= size, F.lit(1).cast("bigint")).otherwise(
        F.expr(f"(n - {size} + {stride} - 1) DIV {stride} + 1")
    )
    chunks = d.withColumn(
        "chunk_idx",
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)),
    )
    start = F.col("chunk_idx") * stride
    chunk_len = F.least(F.lit(size).cast("bigint"), F.col("n") - start)
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        start.cast("bigint").alias("start"),
        chunk_len.cast("bigint").alias("chunk_len"),
        F.md5(
            F.substring(
                "text",
                (start + 1).cast("int"),
                chunk_len.cast("int"),
            )
        ).alias("chunk_md5"),
    )


# --------------------------------------------------------------------------
# Gopher-style quality rule battery (per-source pass rates)
# --------------------------------------------------------------------------
@register(
    "gopher_quality_rules",
    oracle=f"""
    WITH d AS (
        SELECT source, string_split(text, ' ') AS toks FROM documents
    ),
    s AS (
        SELECT source,
               len(toks) AS n_tok,
               list_sum(list_transform(toks, s -> length(s))) AS sum_len,
               list_max(list_transform(toks, s -> length(s))) AS max_len,
               len(list_filter(toks, s -> s IN ({_STOP_SQL}))) AS n_stop,
               len(list_distinct(toks)) AS n_distinct
        FROM d
    ),
    rules AS (
        SELECT source,
               CASE WHEN n_tok BETWEEN 3 AND 500 THEN 1 ELSE 0 END AS r1,
               CASE WHEN sum_len >= 2 * n_tok
                     AND sum_len <= 10 * n_tok THEN 1 ELSE 0 END AS r2,
               CASE WHEN 50 * n_stop >= n_tok THEN 1 ELSE 0 END AS r3,
               CASE WHEN max_len <= 12 THEN 1 ELSE 0 END AS r4,
               CASE WHEN 5 * n_distinct >= n_tok THEN 1 ELSE 0 END AS r5
        FROM s
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(r1) AS BIGINT) AS pass_word_count,
           CAST(SUM(r2) AS BIGINT) AS pass_mean_word_len,
           CAST(SUM(r3) AS BIGINT) AS pass_stopword_floor,
           CAST(SUM(r4) AS BIGINT) AS pass_max_word_len,
           CAST(SUM(r5) AS BIGINT) AS pass_type_token,
           CAST(SUM(r1 * r2 * r3 * r4 * r5) AS BIGINT) AS pass_all
    FROM rules GROUP BY source
    """,
)
def gopher_quality_rules(spark, sf_dir):
    """Gopher-style quality rule battery (Rae et al. 2021, the
    rule-filter stage every LLM corpus pipeline reimplements): word
    count in [3, 500], mean word length in [2, 10], stopword fraction
    ≥ 2%, no overlong token (> 12 chars), type/token ratio ≥ 0.2 —
    reported as per-source pass COUNTS per rule plus the all-rules
    intersection, i.e. the dashboard that says WHICH rule is eating a
    source's documents.

    Every per-doc feature is a higher-order-function expression over
    ONE scan (no UDFs, no shuffle before the source rollup); all rule
    thresholds compare cross-multiplied INTEGERS (50·n_stop ≥ n_tok,
    not a float ratio), so pass/fail is engine-exact."""
    toks = _tokens()
    lens = F.transform(toks, lambda s: F.length(s))
    s = _docs(spark, sf_dir).select(
        "source",
        F.size(toks).alias("n_tok"),
        F.aggregate(lens, F.lit(0), lambda a, x: a + x).alias("sum_len"),
        F.array_max(lens).alias("max_len"),
        F.size(
            F.filter(toks, lambda s: s.isin(*_STOPWORDS))
        ).alias("n_stop"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    r1 = (F.col("n_tok").between(3, 500)).cast("int")
    r2 = (
        (F.col("sum_len") >= 2 * F.col("n_tok"))
        & (F.col("sum_len") <= 10 * F.col("n_tok"))
    ).cast("int")
    r3 = (50 * F.col("n_stop") >= F.col("n_tok")).cast("int")
    r4 = (F.col("max_len") <= 12).cast("int")
    r5 = (5 * F.col("n_distinct") >= F.col("n_tok")).cast("int")
    rules = s.select(
        "source",
        r1.alias("r1"),
        r2.alias("r2"),
        r3.alias("r3"),
        r4.alias("r4"),
        r5.alias("r5"),
    )
    return rules.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("r1").cast("bigint").alias("pass_word_count"),
        F.sum("r2").cast("bigint").alias("pass_mean_word_len"),
        F.sum("r3").cast("bigint").alias("pass_stopword_floor"),
        F.sum("r4").cast("bigint").alias("pass_max_word_len"),
        F.sum("r5").cast("bigint").alias("pass_type_token"),
        F.sum(
            F.col("r1") * F.col("r2") * F.col("r3") * F.col("r4")
            * F.col("r5")
        )
        .cast("bigint")
        .alias("pass_all"),
    )


# --------------------------------------------------------------------------
# BPE first merge step: corpus-wide adjacent character-pair counts
# --------------------------------------------------------------------------
@register(
    "bpe_pair_merge_step",
    oracle="""
    WITH words AS (
        SELECT UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    pairs AS (
        SELECT substr(w, CAST(i AS INT), 2) AS pair
        FROM words, UNNEST(range(1, length(w))) AS t(i)
        WHERE length(w) >= 2
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 20
    """,
)
def bpe_pair_merge_step(spark, sf_dir):
    """The first merge step of BPE vocabulary learning: corpus-wide
    counts of ADJACENT CHARACTER PAIRS within words — the quantity
    byte-pair encoding maximizes on every merge iteration (Sennrich
    et al. 2016). Distributed shape: the pair explosion is the only
    fan-out (chars-per-corpus rows, map-side), the count is one
    hash aggregation with map-side combine, and the top-20 is a
    TakeOrdered with a (count, pair) total order — no global sort.
    A full BPE trainer is this query in a driver loop with the merge
    applied between iterations; the per-iteration plan is what has to
    scale and is what's certified here."""
    d = _docs(spark, sf_dir)
    words = d.select(F.explode(_tokens()).alias("w")).where(
        F.length("w") >= 2
    )
    pairs = words.select(
        "w",
        F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
    ).select(F.expr("substring(w, i, 2)").alias("pair"))
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# class-discriminative terms by chi-squared (feature selection)
# --------------------------------------------------------------------------
@register(
    "chi2_discriminative_terms",
    oracle="""
    WITH tok AS (
        SELECT source, UNNEST(string_split(text, ' ')) AS tk
        FROM documents
    ),
    cell AS (
        SELECT source, tk, CAST(COUNT(*) AS BIGINT) AS a
        FROM tok GROUP BY source, tk
    ),
    marg AS (
        SELECT source, tk, a,
               CAST(SUM(a) OVER (PARTITION BY tk) AS BIGINT) AS tok_t,
               CAST(SUM(a) OVER (PARTITION BY source) AS BIGINT) AS src_t,
               CAST(SUM(a) OVER () AS BIGINT) AS n
        FROM cell
    )
    SELECT source, tk AS token, a AS n_in_source,
           round(CAST(n AS DOUBLE)
                 * (CAST(a AS DOUBLE) * (n - tok_t - src_t + a)
                    - CAST(tok_t - a AS DOUBLE) * (src_t - a))
                 * (CAST(a AS DOUBLE) * (n - tok_t - src_t + a)
                    - CAST(tok_t - a AS DOUBLE) * (src_t - a))
                 / (CAST(tok_t AS DOUBLE) * (n - tok_t)
                    * src_t * (n - src_t)), 6) AS chi2,
           CAST(CASE WHEN a * n > tok_t * src_t THEN 1 ELSE -1 END
                AS INT) AS direction
    FROM marg
    """,
)
def chi2_discriminative_terms(spark, sf_dir):
    """Chi-squared term-class association — the classic feature-
    selection score (which tokens are over/under-represented per
    source): for each (source, token), the 2×2 chi2 of token-vs-rest
    against source-vs-rest, computed from the contingency identity
    χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)), with the direction sign
    (over- vs under-represented) decided on the exact integer cross
    product a·N vs tok_total·src_total.

    One token explosion → one (source, token) rollup; the marginal
    windows ride the CELL frame (|sources| × |vocab| — vocabulary-
    domain-bounded, the corpus rows never enter a window). All cells
    and marginals are exact integers; χ² is one float expression."""
    d = _docs(spark, sf_dir)
    cell = (
        d.select("source", F.explode(_tokens()).alias("tk"))
        .groupBy("source", "tk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("a"))
    )
    marg = cell.select(
        "source",
        "tk",
        "a",
        F.sum("a").over(Window.partitionBy("tk")).cast("bigint").alias("tok_t"),
        F.sum("a")
        .over(Window.partitionBy("source"))
        .cast("bigint")
        .alias("src_t"),
        F.sum("a").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    a, tok_t, src_t, n = (
        F.col("a"), F.col("tok_t"), F.col("src_t"), F.col("n"),
    )
    adbc = a.cast("double") * (n - tok_t - src_t + a) - (
        tok_t - a
    ).cast("double") * (src_t - a)
    chi2 = (
        n.cast("double")
        * adbc
        * adbc
        / (
            tok_t.cast("double")
            * (n - tok_t)
            * src_t
            * (n - src_t)
        )
    )
    return marg.select(
        "source",
        F.col("tk").alias("token"),
        a.alias("n_in_source"),
        F.round(chi2, 6).alias("chi2"),
        F.when(a * n > tok_t * src_t, 1)
        .otherwise(-1)
        .cast("int")
        .alias("direction"),
    )


# --------------------------------------------------------------------------
# fixed-chunk tokenizer fertility profile
# --------------------------------------------------------------------------
@register(
    "tokenizer_fertility_profile",
    oracle="""
    WITH w AS (
        SELECT source, UNNEST(string_split(text, ' ')) AS tk
        FROM documents
    ),
    s AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(length(tk)) AS BIGINT) AS n_chars,
               CAST(SUM((length(tk) + 3) // 4) AS BIGINT) AS n_subwords
        FROM w GROUP BY source
    )
    SELECT source, n_words, n_chars, n_subwords,
           round(CAST(n_subwords AS DOUBLE) / n_words, 9) AS fertility,
           round(CAST(n_chars AS DOUBLE) / n_subwords, 9)
               AS chars_per_token
    FROM s
    """,
)
def tokenizer_fertility_profile(spark, sf_dir):
    """Tokenizer fertility (subword tokens emitted per whitespace
    word) and compression (chars per token) per source — the budget
    metric that converts a corpus audit into a TRAINING-TOKEN count,
    and the per-source comparison that flags sources a tokenizer
    handles poorly. The tokenizer here is the deterministic
    fixed-4-char-chunk stub (⌈len/4⌉ subwords per word — the honest
    SQL-expressible stand-in for a BPE vocab, whose merge-step
    learning is certified separately by ``bpe_pair_merge_step``).

    One token explosion, integer sums only, two terminal divisions.
    At 100 TB this is a map-side explode + one source-grain rollup."""
    d = _docs(spark, sf_dir)
    w = d.select("source", F.explode(_tokens()).alias("tk"))
    s = w.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(F.length("tk")).cast("bigint").alias("n_chars"),
        F.sum(F.floor((F.length("tk") + 3) / 4))
        .cast("bigint")
        .alias("n_subwords"),
    )
    return s.select(
        "source",
        "n_words",
        "n_chars",
        "n_subwords",
        F.round(
            F.col("n_subwords").cast("double") / F.col("n_words"), 9
        ).alias("fertility"),
        F.round(
            F.col("n_chars").cast("double") / F.col("n_subwords"), 9
        ).alias("chars_per_token"),
    )
