"""Audit oracle result types for driver-canonicalizer hazards.

The driver canonicalizes both result sets through pandas before
hashing, which makes two type classes dangerous even when values are
identical:

- DuckDB ``SUM()`` over integer columns returns HUGEINT (int128);
  pandas renders it as ``object``/``float`` and the value hash can
  diverge from Spark's int64 (took down ``sliding_weekly_value`` in
  CORRECTNESS_r04 — fixed with ``CAST(... AS BIGINT)``).
- LIST/STRUCT cells cannot be sorted by ``pandas.sort_values``
  (``TypeError: unhashable type: 'list'`` took down
  ``multimodal_feature_extract`` in round 3).

This tool runs every registered oracle against DuckDB at sf0.001
(cheap — SQL only, no Spark) and flags any result column whose DuckDB
type is outside the safe scalar set. Exit code 1 if anything is
flagged, so it can run as a gate.

Usage: python tools/audit_oracle_types.py [name ...]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_AUDIT_SF", "/root/testdata/sf0.001")

# Type families for the Spark-schema vs DuckDB-oracle cross-check. An
# int-family column on one side paired with a float-family column on the
# other renders differently under the driver's pandas canonicalizer even
# when every value is whole (int64 "484" vs float64 "484.0") — the class
# that took down kendalls_w_concordance in CORRECTNESS_r11 while the
# %.17g-based local mirror stayed green. The cross-check needs only the
# Spark plan's LAZY schema (analysis, no execution) and DuckDB's relation
# types (planning only), so sweeping the whole registry is cheap.
_DUCK_INT = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}
_DUCK_FLOAT = {"FLOAT", "DOUBLE"}


def duckdb_family(t: str) -> str:
    t = str(t).upper()
    if t in _DUCK_INT:
        return "int"
    if t in _DUCK_FLOAT:
        return "float"
    if t.startswith("DECIMAL"):
        return "decimal"
    return t  # exact name for everything else (VARCHAR, DATE, ...)


def spark_family(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    return dt.simpleString().upper()


def cross_check_families(spark_schema, duck_cols, duck_types) -> list[str]:
    """Return int-vs-float family clashes between a Spark result schema
    and a DuckDB oracle relation's column types (matched by column name,
    which the driver's compare also keys on)."""
    sf = {f.name: spark_family(f.dataType) for f in spark_schema.fields}
    clashes = []
    for c, t in zip(duck_cols, duck_types):
        a, b = sf.get(c), duckdb_family(t)
        if a is not None and {a, b} == {"int", "float"}:
            clashes.append(f"{c}: spark={a} vs oracle={b} ({t})")
    return clashes


# DuckDB types that survive the driver's pandas round-trip bit-stably.
SAFE = {
    "BOOLEAN",
    "TINYINT",
    "SMALLINT",
    "INTEGER",
    "BIGINT",
    "FLOAT",
    "DOUBLE",
    "VARCHAR",
    "DATE",
    "TIMESTAMP",
    "TIMESTAMP WITH TIME ZONE",
}


def main(argv):
    from check import connect

    cross = "--cross" in argv
    argv = [a for a in argv if a != "--cross"]
    if argv and argv[0] == "--module":
        # Staged-bank sweep (round-18 lesson: five bank_r18 oracles
        # reached their flip round with uncast window-SUM counts —
        # HUGEINT — because this audit only ever saw LIVE oracles).
        # ``--module bank_rN`` audits a staged bank's BANK_ORACLES so
        # the hazard is caught at authoring time, not at the flip.
        import importlib

        mod = importlib.import_module(
            f"celestrak_tle_data_pipeline_spark.plans.{argv[1]}"
        )
        oracles = dict(mod.BANK_ORACLES)
        queries = dict(mod.BANK_QUERIES)
        argv = argv[2:]
    else:
        import __spark_entry__ as e

        oracles = e.oracle_sql()
        queries = e.queries() if cross else None
    names = argv or sorted(oracles)
    qs = queries if cross else None
    spark = None
    if cross:
        from celestrak_tle_data_pipeline_spark.session import get_spark

        spark = get_spark(app_name="audit_oracle_types")

    con = connect(SF_DIR)

    flagged = 0
    for name in names:
        sql = oracles.get(name)
        if sql is None:
            continue
        try:
            rel = con.sql(sql)
            bad = [
                (c, str(t))
                for c, t in zip(rel.columns, rel.types)
                if str(t) not in SAFE and not str(t).startswith("DECIMAL")
            ]
            # DECIMAL is fine only if it fits int64/float64 semantics the
            # driver normalises; wide decimals (>18 digits) degrade to
            # object dtype in pandas — flag those too.
            bad += [
                (c, str(t))
                for c, t in zip(rel.columns, rel.types)
                if str(t).startswith("DECIMAL")
                and int(str(t).split("(")[1].split(",")[0]) > 18
            ]
        except Exception as exc:  # noqa: BLE001 - report and continue
            print(f"ERROR {name}: {exc}")
            flagged += 1
            continue
        if bad:
            flagged += 1
            cols = ", ".join(f"{c}:{t}" for c, t in bad)
            print(f"FLAG  {name}: {cols}")
        if cross:
            try:
                schema = qs[name](spark, SF_DIR).schema
                clashes = cross_check_families(schema, rel.columns, rel.types)
            except Exception as exc:  # noqa: BLE001
                print(f"ERROR {name}: cross-check: {exc}")
                flagged += 1
                continue
            if clashes:
                flagged += 1
                print(f"CLASH {name}: {'; '.join(clashes)}")
    print(f"{len(names)} oracles audited, {flagged} flagged")
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
