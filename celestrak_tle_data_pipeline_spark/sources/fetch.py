"""Driver-side fetch-and-land (SURVEY.md §2.1 S1/S2).

Spark has no HTTP batch source, and the reference's fetch is a plain
GET (``requests.get(url, timeout=20).text``, ``script.py:113``;
JSON flux with timeout=10, ``script.py:64``). The engine keeps that
step driver-side but makes it durable: payloads land as files in a
landing directory, and everything downstream — assembly, parse, dedup,
load, batch or streaming — reads the landing zone. Landing before
processing is what buys replay, audit, and exactly-once streaming
ingestion (the checkpoint tracks landed files).

Writes are atomic (tmp + rename) so a concurrently-triggered
streaming query never observes a half-written payload: the temp file
is dot-named, and every landing reader (the ``binaryFile`` stream,
``spark.read.text`` and the ``tle`` data source) skips dot-named files,
so neither an in-flight write nor the debris of a crash before the
rename is ever ingested.
"""

from __future__ import annotations

import datetime as dt
import os
import tempfile
import urllib.request

# Reference endpoints (script.py:7-8) — overridable per call.
TLE_URL = (
    "https://celestrak.org/NORAD/elements/gp.php"
    "?GROUP=starlink&FORMAT=tle"
)
FLUX_URL = (
    "https://services.swpc.noaa.gov/products/10cm-flux-30-day.json"
)

TLE_TIMEOUT = 20  # script.py:113
FLUX_TIMEOUT = 10  # script.py:64


def fetch_text(url: str, timeout: int, opener=None) -> str:
    """GET → text. ``opener`` injects a urllib opener for tests /
    proxies; errors propagate to the caller, which logs and continues
    like the reference's try/except containment (script.py:115-117)."""
    op = opener or urllib.request.build_opener()
    with op.open(url, timeout=timeout) as resp:
        return resp.read().decode("utf-8")


def land_payload(
    payload: str, landing_dir: str, prefix: str = "batch", now: dt.datetime | None = None
) -> str:
    """Atomically write one payload file into the landing directory.

    Returns the final path. Timestamped names keep landings ordered
    and idempotent re-fetches distinguishable (dedup happens
    downstream, not here)."""
    os.makedirs(landing_dir, exist_ok=True)
    now = now or dt.datetime.now(dt.timezone.utc)
    name = f"{prefix}-{now.strftime('%Y%m%dT%H%M%S%f')}.txt"
    fd, tmp = tempfile.mkstemp(dir=landing_dir, prefix=".", suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(payload)
        final = os.path.join(landing_dir, name)
        os.rename(tmp, final)
        return final
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


def fetch_and_land(
    landing_dir: str,
    url: str = TLE_URL,
    timeout: int = TLE_TIMEOUT,
    prefix: str = "tle",
    opener=None,
) -> str:
    """One cron tick of the reference's extract stage: GET + land.
    Strips the payload like the reference (script.py:119) so empty
    bodies land as empty files and gate out downstream."""
    return land_payload(
        fetch_text(url, timeout, opener=opener).strip(),
        landing_dir,
        prefix=prefix,
    )
