"""Custom Python data source (Spark 4 ``pyspark.sql.datasource`` API):
``format("tle")`` over a landing directory, one input partition per
payload file, for batch reads and streams alike.

The reference reads its TLE payload with driver-side Python
(script.py:119-127); Spark has no native TLE format. The engine's
primary path lands payloads and assembles DISTRIBUTED with pure
Catalyst expressions (operators/assembly.py — zero Python in the hot
loop). This module is the pluggable-format alternative the Spark 4 API
opens: a catalog-addressable source whose reader runs in Python
workers with file-grain parallelism — the shape to wrap any bespoke
format (proto logs, instrument dumps) as a real Spark source.

Assembly semantics are IDENTICAL to the Catalyst path by contract
(payload .strip() → per-line .strip() → stride-3 over line positions →
trailing partial dropped — script.py:119-127);
``tests/test_pysource.py`` pins row-level equality between the two
paths so they cannot drift apart.

Scale: the driver only LISTS file names; every file becomes one
``InputPartition`` whose bytes are opened, read and parsed on
executors — the same parallelism model as ``binaryFile``, no shuffle.
The stream reader plans its micro-batches the same way (a batch of
10,000 landed files fans out as 10,000 partitions; the driver's cost
stays O(listing)). Register once per session with
``register_tle_source(spark)``.
"""

from __future__ import annotations

import glob
import os
import time

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)


def split_triples(payload: str) -> list[tuple[str, str, str]]:
    """Pure-Python twin of ``assemble_from_payloads`` (same rule as
    reference script.py:119-127): strip payload, split on newline,
    strip each line, group by stride 3 over LINE POSITIONS, drop the
    trailing incomplete triple."""
    lines = [ln.strip() for ln in payload.strip().split("\n")]
    if len(lines) < 3:
        return []
    return [
        (lines[i], lines[i + 1], lines[i + 2])
        for i in range(0, 3 * (len(lines) // 3), 3)
    ]


def _listing(root: str, settle_s: float) -> list[str]:
    """Sorted basenames of the landed files under ``root``, hiding what
    Spark's file sources hide (``binaryFile``, so ``read_payloads`` and
    the landing streams): names starting with ``.`` (in-flight landing
    temps, which never match ``*``) or ``_``, and names ending in
    ``._COPYING_``. With ``settle_s > 0`` a file whose mtime is inside
    the settle window may still be growing, so it is left out until a
    later listing observes it quiescent."""
    cutoff = time.time() - settle_s
    return sorted(
        os.path.basename(p)
        for p in glob.glob(os.path.join(root, "*"))
        if not os.path.basename(p).startswith("_")
        and not p.endswith("._COPYING_")
        and os.path.isfile(p)
        and (settle_s <= 0 or os.path.getmtime(p) <= cutoff)
    )


def _file_rows(path: str):
    """One landed file → ``(sat_name_raw, line1, line2, src_file)``
    rows, ``src_file`` being the basename."""
    with open(path, encoding="utf-8") as fh:
        payload = fh.read()
    fname = os.path.basename(path)
    for name, l1, l2 in split_triples(payload):
        yield (name, l1, l2, fname)


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _LandingReader:
    """Shared by the batch and stream readers: the landing directory,
    the ``settleSeconds`` listing gate (streams only) and the
    executor-side file read."""

    def __init__(self, options):
        self._root = options.get("path")
        if not self._root:
            raise ValueError("tle source requires a 'path' option")
        self._settle_s = float(options.get("settleSeconds", 0) or 0)

    def _partitions(self, names) -> list[_FilePartition]:
        return [_FilePartition(os.path.join(self._root, n)) for n in names]

    def read(self, partition):
        # executor-side: open + parse ONE landed file (the driver never
        # touches payload bytes)
        return _file_rows(partition.path)


class TLEFileReader(_LandingReader, DataSourceReader):
    def partitions(self):
        return self._partitions(_listing(self._root, 0))


class TLEPartitionedStreamReader(_LandingReader, DataSourceStreamReader):
    """Streaming half of the format: tail a landing directory as an
    unbounded source, offset = the sorted file-name set already
    consumed, batch = end − start, one ``InputPartition`` per new file.

    Offset semantics make the source EXACTLY-ONCE under the
    micro-batch contract: ``partitions(start, end)`` derives purely
    from the two offsets, so a batch re-planned after a crash reads
    the same files and yields identical rows. Parse semantics are
    ``split_triples`` — the SAME rule as the batch reader, so stream
    and batch reads of one landing dir are row-identical (pinned by
    test).

    Landing contract: producers must land files by ATOMIC RENAME
    (write to a dot-named temp, rename into place) — list-then-read is
    not atomic, so a file still being written when listed would be
    consumed truncated and its name committed to the offset forever.
    For producers that append in place instead, set the
    ``settleSeconds`` option (> 0): files whose mtime is within the
    settle window stay out of the listing — and therefore out of the
    committed end offset — until a later batch observes them
    quiescent, trading one settle window of latency for loss-free
    ingestion."""

    def initialOffset(self) -> dict:
        return {"files": []}

    def latestOffset(self) -> dict:
        return {"files": _listing(self._root, self._settle_s)}

    def partitions(self, start: dict, end: dict):
        seen = set(start["files"])
        return self._partitions(n for n in end["files"] if n not in seen)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the checkpoint; nothing source-side


class TLEDataSource(DataSource):
    """``spark.read.format("tle").load(dir)`` → triples;
    ``spark.readStream.format("tle")`` tails the same directory with
    identical parse semantics."""

    @classmethod
    def name(cls) -> str:
        return "tle"

    def schema(self) -> str:
        return (
            "sat_name_raw string, line1 string, line2 string, "
            "src_file string"
        )

    def reader(self, schema):
        return TLEFileReader(self.options)

    def streamReader(self, schema):
        return TLEPartitionedStreamReader(self.options)


def register_tle_source(spark) -> None:
    """Idempotent registration of the 'tle' format on this session."""
    spark.dataSource.register(TLEDataSource)
