"""Local mirror of the driver's correctness gate, and the one oracle
compare of the repo.

Runs query builders at $SPARK_GRAFT_SF_DIR (default sf0.01) and
compares each result against its oracle SQL executed by DuckDB on the
same parquet tables. By default the builders are the registry's
(``__spark_entry__.queries()`` / ``oracle_sql()``); ``--module bank_rN``
runs that plan bank's ``BANK_QUERIES`` / ``BANK_ORACLES`` instead.
Queries without an oracle get a rows-only check.

``connect`` opens the oracle and ``mismatch`` judges a result: every
test and tool that compares against DuckDB goes through these two, and
no other file under ``tools/`` or ``tests/`` imports duckdb.

Usage: python tools/check.py [--json PATH] [--module bank_rN] [name ...]
(--json writes a driver-CORRECTNESS-format record per name — the
machine-readable mirror the judge can diff against the official
CORRECTNESS_r{N}.json instead of parsing log text.) To gate a bank at
two scale factors, run it once per SF directory.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def norm(v):
    if v is None:
        return "\0"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        s = f"{v:.17g}"
        # Guarantee a float marker so the int/float dtype family is part
        # of the canon: %.17g renders 484.0 as "484", identical to the
        # BIGINT 484, which masked exactly the dtype-mismatch class the
        # driver's canonicalizer rejects (kendalls_w_concordance,
        # CORRECTNESS_r11 — mirror-green, officially RED). A trailing
        # ".0" makes the mirror and the driver agree on this class.
        if not any(c in s for c in ".einf"):
            s += ".0"
        return s
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def connect(sf_dir: str):
    """A DuckDB connection with one view per driver table whose parquet
    file exists under ``sf_dir``."""
    import duckdb

    from celestrak_tle_data_pipeline_spark.schemas import DRIVER_TABLES

    con = duckdb.connect()
    for tname in DRIVER_TABLES:
        path = os.path.join(sf_dir, f"{tname}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {tname} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def spark_result(df):
    """``(columns, rows)`` of a Spark DataFrame."""
    return df.columns, [tuple(r) for r in df.collect()]


def oracle_result(con, sql: str):
    """``(columns, rows)`` of oracle SQL on a ``connect`` connection."""
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def mismatch(got, want) -> str | None:
    """How a Spark result differs from its oracle result (both
    ``(columns, rows)``), or None when they match. A match is an equal
    sorted column list, an equal row count and equal ``canon`` values,
    checked in that order."""
    (cols, rows), (ocols, orows) = got, want
    if sorted(cols) != sorted(ocols):
        return f"cols {sorted(cols)} vs oracle {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"rowcount {len(rows)} vs oracle {len(orows)}"
    for i, (x, y) in enumerate(zip(canon(rows, cols), canon(orows, ocols))):
        if x != y:
            return f"first diff row {i}: {x} vs {y}"
    return None


def compare(spark, query, sql: str, sf_dir: str) -> str | None:
    """``mismatch`` of one query builder against its oracle at ``sf_dir``."""
    got = spark_result(query(spark, sf_dir))
    with connect(sf_dir) as con:
        return mismatch(got, oracle_result(con, sql))


def _failed(err: str, spark_rows=None) -> dict:
    return {
        "rows_match": False, "schema_match": False,
        "hash_match": False, "spark_rows": spark_rows,
        "oracle_rows": None, "err": err,
    }


def main(argv):
    from celestrak_tle_data_pipeline_spark.session import get_spark

    ap = argparse.ArgumentParser(
        description="Compare query builders with their DuckDB oracles."
    )
    ap.add_argument("--json", metavar="OUT.json",
                    help="write a CORRECTNESS-format record per name")
    ap.add_argument("--module", metavar="bank_rN",
                    help="check this plan bank instead of the registry")
    ap.add_argument("names", nargs="*", help="default: every query")
    args = ap.parse_args(argv)

    if args.module:
        bank = importlib.import_module(
            f"celestrak_tle_data_pipeline_spark.plans.{args.module}"
        )
        qs, oracles = bank.BANK_QUERIES, bank.BANK_ORACLES
    else:
        import __spark_entry__ as e

        qs, oracles = e.queries(), e.oracle_sql()

    spark = get_spark()
    con = connect(SF_DIR)
    n_pass = n_fail = n_rowsonly = 0
    record: dict[str, dict] = {}
    for name in args.names or sorted(qs):
        t0 = time.time()
        try:
            cols, rows = spark_result(qs[name](spark, SF_DIR))
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {type(ex).__name__}: {ex}")
            record[name] = _failed(f"spark:{type(ex).__name__}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(rows)} rows ({time.time()-t0:.1f}s)")
            # ADVICE r13: no compare ran, so rows/schema/hash are null
            # (not true/false) plus an explicit status — a consumer
            # keying on the booleans must not count these as verified.
            record[name] = {
                "rows_match": None, "schema_match": None,
                "hash_match": None, "spark_rows": len(rows),
                "oracle_rows": None, "err": "no_oracle",
                "status": "rows_only",
            }
            n_rowsonly += 1
            continue
        try:
            ocols, orows = oracle_result(con, oracles[name])
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {type(ex).__name__}: {ex}")
            record[name] = _failed(f"oracle:{type(ex).__name__}", len(rows))
            n_fail += 1
            continue
        problem = mismatch((cols, rows), (ocols, orows))
        record[name] = {
            "rows_match": len(rows) == len(orows),
            "schema_match": sorted(cols) == sorted(ocols),
            "hash_match": problem is None,
            "spark_rows": len(rows),
            "oracle_rows": len(orows),
            "err": problem,
        }
        if problem:
            print(f"FAIL  {name}: {problem}")
            n_fail += 1
        else:
            print(f"pass  {name}: {len(rows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only @ {SF_DIR}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(record, fh, indent=1)
        print(f"wrote {args.json} ({len(record)} records)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
