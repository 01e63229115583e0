"""Stride-3 TLE line grouping (SURVEY.md §2 R1).

The reference walks lines in file order and takes every consecutive
triple as (name, line1, line2), dropping an incomplete trailing group
(``for i in range(0, len(lines), 3)`` with an ``i+2 < len(lines)`` bounds
check — reference ``script.py:123-127``).

Order-sensitivity is the one hard part at scale (SURVEY.md §7): row
order across partitions is not a DataFrame concept, so we never rely on
it. Each landed payload is ONE row (``wholetext`` read, a ``binaryFile``
stream row, or an in-memory batch), and ``assemble_from_payloads``
splits and re-groups its lines with higher-order array functions —
``split`` → ``transform(sequence(...))`` → ``explode``. No shuffle, no
index, order is exact because it never leaves the row. Scales to any
number of payload files; a single payload is bounded by fetch size
(~1 MB for ~9k objects), far under any sane row limit. The ``tle``
Python data source (``sources/pysource.py``) applies the same rule in
Python and is pinned row-identical to this one.

The split is bound once per payload, as a column, before the
``transform``. ``transform`` is not code-generated: Spark interprets
its lambda once per element, and subexpression elimination does not
reach inside a lambda. A lambda that closed over the split expression
would re-strip and re-split the whole payload for every line it reads,
so a payload of n lines would cost O(n²); over the bound column each
triple costs three array lookups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The code points Python's ``str.isspace()`` accepts, which is what the
# reference's ``str.strip()`` removes. Java's ``\s`` is ASCII-only and
# ``(?U)\s`` misses U+001C–001F, so the class is spelled out.
_WS = (
    "[\\x{9}-\\x{D}\\x{1C}-\\x{20}\\x{85}\\x{A0}\\x{1680}\\x{2000}-\\x{200A}"
    "\\x{2028}\\x{2029}\\x{202F}\\x{205F}\\x{3000}]"
)


def _strip(col):
    """Python ``.strip()`` equivalent — F.trim only removes spaces, not
    newlines/tabs/CR, so a regex strip is needed for fidelity."""
    return F.regexp_replace(col, f"^{_WS}+|{_WS}+$", "")


def assemble_from_payloads(payloads: DataFrame, payload_col: str = "payload") -> DataFrame:
    """(one row per raw multi-line payload) → (one row per TLE triple).

    Whitespace handling matches the reference: payload ``.strip()`` then
    per-line ``.strip()`` (script.py:119, 125-127). Trailing incomplete
    triples drop out via the sequence bound (script.py:124).
    """
    other = [c for c in payloads.columns if c != payload_col]
    # the split lines are bound under the payload's own name, so the
    # lambda below reads a column, not the split (module docstring)
    split = payloads.select(
        *other, F.split(_strip(F.col(payload_col)), "\n").alias(payload_col)
    )
    lines = F.col(payload_col)
    n_triples = F.floor(F.size(lines) / 3).cast("int")
    # NULL for a payload under one triple, so explode emits no row; a
    # where() here would be pushed below the split and split it again
    triples = F.transform(
        F.when(n_triples > 0, F.sequence(F.lit(0), n_triples - 1)),
        lambda i: F.struct(
            _strip(F.element_at(lines, i * 3 + 1)).alias("sat_name_raw"),
            _strip(F.element_at(lines, i * 3 + 2)).alias("line1"),
            _strip(F.element_at(lines, i * 3 + 3)).alias("line2"),
        ),
    )
    return split.select(*other, F.explode(triples).alias("t")).select(
        *other, "t.*"
    )


def read_payloads(spark: SparkSession, path: str) -> DataFrame:
    """Landing-directory reader: one row per payload file (wholetext)."""
    return spark.read.text(path, wholetext=True).withColumnRenamed("value", "payload")
