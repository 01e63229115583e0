from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from celestrak_tle_data_pipeline_spark import compat  # noqa: E402
from celestrak_tle_data_pipeline_spark.session import get_spark  # noqa: E402

# Driver-side protobuf shim + worker-side PYTHONPATH (tools/pbshim's
# sitecustomize) — must happen BEFORE the SparkSession exists so
# local-mode Python workers inherit the env. No-op where a real
# protobuf is installed; see compat.py.
HAVE_PROTOBUF = compat.ensure_protobuf()
if HAVE_PROTOBUF:
    import os

    os.environ["PYTHONPATH"] = compat.worker_pythonpath()

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    extra = {"spark.driver.memory": "4g"}
    if HAVE_PROTOBUF:
        # the TWS driver-worker's PYTHONPATH is rebuilt by the JVM from
        # executorEnv, not inherited from the driver process env — both
        # must carry the pbshim dir for workers to see the shim
        extra["spark.executorEnv.PYTHONPATH"] = compat.worker_pythonpath()
    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf=extra,
    )
    yield s


def scalar_output_violations(spark, queries, sf_dir=SF_DIR) -> list[str]:
    """Driver-canonicalizer contract check (no array/map/struct result
    columns), shared by every bank's ``test_*_outputs_are_scalar``.

    Schema derivation is Catalyst analysis only — no execution — so
    the per-query work threads safely; 8 threads cut the 11 bank
    sweeps from ~4 suite-minutes to ~1 (the suite must fit its time
    limit, VERDICT r18 item 4). Building a query does touch shared
    state: a build-time ``persist()`` registers its frame in the
    session's CacheManager, so the sweep clears the cache when it is
    done rather than leave those entries to later tests."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import types as T

    def check(item):
        name, fn = item
        return [
            f"{name}.{f.name}: {f.dataType.simpleString()}"
            for f in fn(spark, sf_dir).schema.fields
            if isinstance(
                f.dataType, (T.ArrayType, T.MapType, T.StructType)
            )
        ]

    bad: list[str] = []
    with ThreadPoolExecutor(max_workers=8) as pool:
        for found in pool.map(check, sorted(queries.items())):
            bad += found
    spark.catalog.clearCache()
    return bad


import functools


@functools.lru_cache(maxsize=None)
def _official_rounds() -> tuple[tuple[int, dict], ...]:
    """All CORRECTNESS_r*.json files, parsed ONCE per suite run
    (ADVICE r16: the per-name glob/open/parse loop re-read every file
    hundreds of times across the era tests, and never closed the
    handles)."""
    import glob
    import json
    import re

    out = []
    for path in sorted(glob.glob("CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as fh:
            out.append((int(m.group(1)), json.load(fh)))
    return tuple(out)


def official_green(name: str, first_round: int) -> bool:
    """True if ``name`` has a GREEN official record (hash_match, or a
    by-design no-oracle row) in CORRECTNESS_r{first_round}.json or any
    LATER official round file — the re-green protocol: a name that
    hash-failed in its flip round is re-run in a later round's window,
    and that later record is its official green (kendalls_w_concordance,
    red in r11, green in r12, is the precedent). Mere key presence is
    not enough (ADVICE r15): a FAILED row must not satisfy era tests.
    """
    for rnd, records in _official_rounds():
        if rnd < first_round:
            continue
        rec = records.get(name)
        if rec and (rec.get("hash_match") or rec.get("err") == "no_oracle"):
            return True
    return False
