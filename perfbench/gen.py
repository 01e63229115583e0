"""Seeded input generator for the benchmark.

Everything the program under test reads is made here, from a seed:

- TLE payload files (name line + two fixed-width element lines per
  object, reference column offsets, mod-10 checksums), with epochs
  stamped relative to a run clock so the 3-day dedup probe and the
  ``epoch_date`` partition pruning engage;
- a 30-day F10.7 flux JSON payload;
- the parquet test tables (region … embeddings) the registry queries
  read, at a chosen scale factor.

The generator also returns what a correct program must produce from
those inputs (row counts, parsed values), so the benchmark can check
outputs without trusting the program.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

# --- TLE payloads ------------------------------------------------------------


def tle_checksum(line68: str) -> int:
    """Mod-10 checksum over the first 68 columns: digits count their
    value, '-' counts 1, everything else 0."""
    return sum(int(c) if c.isdigit() else (c == "-") for c in line68[:68]) % 10


def _with_checksum(line68: str) -> str:
    if len(line68) != 68:
        raise ValueError(f"TLE body must be 68 columns, got {len(line68)}")
    return line68 + str(tle_checksum(line68))


@dataclass(frozen=True)
class TleRecord:
    """One object's element set, as generated (the parse's expected
    output for a valid record)."""

    norad_id: int
    sat_name: str
    intl_designator: str
    epoch: dt.datetime  # naive UTC, µs precision, as the parser yields it
    inclination: float
    raan: float
    eccentricity: float
    arg_perigee: float
    mean_anomaly: float
    mean_motion: float
    rev_number: int
    malformed: bool = False

    def epoch_field(self) -> str:
        """12-column ``YYDDD.DDDDDDDD`` epoch (year and day parts)."""
        jan1 = dt.datetime(self.epoch.year, 1, 1)
        day = (self.epoch - jan1) / dt.timedelta(days=1) + 1.0
        return f"{self.epoch.year % 100:02d}{day:012.8f}"

    def lines(self) -> tuple[str, str, str]:
        l1 = (
            f"1 {self.norad_id:05d}U {self.intl_designator:<8s} "
            f"{self.epoch_field()} -.00002182  00000-0  11606-4 0  999"
        )
        mm = f"{self.mean_motion:11.8f}"
        if self.malformed:
            # an unparsable numeric field nulls the whole record, which
            # the program must drop; column layout stays intact so the
            # stride-3 grouping of the following records is unaffected
            mm = mm[:-1] + "X"
        l2 = (
            f"2 {self.norad_id:05d} {self.inclination:8.4f} {self.raan:8.4f} "
            f"{round(self.eccentricity * 1e7):07d} {self.arg_perigee:8.4f} "
            f"{self.mean_anomaly:8.4f} {mm}{self.rev_number:5d}"
        )
        return self.sat_name, _with_checksum(l1), _with_checksum(l2)


def parsed_epoch(epoch_field: str) -> dt.datetime:
    """The epoch the program's parser derives from a 12-column epoch
    field: ``jan1 + round_half_up((day - 1) * 86_400e6)`` µs, computed in
    IEEE doubles like the Catalyst expression."""
    yy = int(epoch_field[:2])
    year = 2000 + yy if yy < 57 else 1900 + yy
    # Spark rounds a double through its shortest decimal repr
    micros = Decimal(repr((float(epoch_field[2:]) - 1.0) * 86_400_000_000.0))
    micros = int(micros.quantize(Decimal(1), rounding=ROUND_HALF_UP))
    return dt.datetime(year, 1, 1) + dt.timedelta(microseconds=micros)


@dataclass
class Landing:
    """One landing of TLE payload files plus one flux payload."""

    tle_files: list[list[TleRecord]]
    flux_days: list[tuple[dt.date, float]]

    @property
    def valid(self) -> list[TleRecord]:
        return [r for f in self.tle_files for r in f if not r.malformed]

    def write(self, landing_root: str, tag: str) -> None:
        """Write the payloads the way ``sources.fetch`` lands them:
        one text file per TLE fetch, one JSON file per flux fetch."""
        tle_dir = os.path.join(landing_root, "tle")
        wx_dir = os.path.join(landing_root, "weather")
        os.makedirs(tle_dir, exist_ok=True)
        os.makedirs(wx_dir, exist_ok=True)
        for i, recs in enumerate(self.tle_files):
            text = "\n".join(line for r in recs for line in r.lines()) + "\n"
            with open(os.path.join(tle_dir, f"tle_{tag}_{i}.txt"), "w") as fh:
                fh.write(text)
        rows = [["time_tag", "f107"]] + [
            [f"{d.isoformat()} 00:00:00", f"{v:.1f}"] for d, v in self.flux_days
        ]
        with open(os.path.join(wx_dir, f"flux_{tag}.json"), "w") as fh:
            json.dump(rows, fh)


@dataclass
class Constellation:
    """A fixed set of objects whose element sets get re-published.

    ``first_landing`` is the warehouse's first load; ``reland`` re-lands
    the same objects with a ``new_share`` of them at a newer epoch and
    the rest byte-identical, plus a flux payload one day later.

    ``history`` more objects, whose last element set is 6–30 days old,
    land once, in an extra file of the first load and never again: they
    give the fact table partitions outside the 3-day probe, so the
    probe's partition pruning has something to prune."""

    seed: int
    files: int
    per_file: int
    clock: dt.datetime  # naive UTC run clock that epochs are stamped against
    malformed_share: float = 0.01
    history: int = 0
    _base: list[list[TleRecord]] = field(default_factory=list, init=False)
    _history: list[TleRecord] = field(default_factory=list, init=False)

    def __post_init__(self) -> None:
        rng = np.random.default_rng(self.seed)
        n = self.files * self.per_file
        norads = rng.choice(np.arange(10000, 99999), size=n + self.history, replace=False)
        # epochs within the last 48 h but at least 2 h back, so a newer
        # epoch on re-land still lies in the past
        offsets_s = np.concatenate([
            rng.uniform(2 * 3600, 47 * 3600, size=n),
            rng.uniform(6 * 86400, 30 * 86400, size=self.history),
        ])
        bad = rng.random(n + self.history) < self.malformed_share
        recs = []
        for j in range(n + self.history):
            epoch = self.clock - dt.timedelta(seconds=float(offsets_s[j]))
            recs.append(
                _record(rng, int(norads[j]), j, epoch, malformed=bool(bad[j]))
            )
        self._base = [
            recs[i * self.per_file : (i + 1) * self.per_file]
            for i in range(self.files)
        ]
        self._history = recs[n:]

    def _flux(self, end: dt.date) -> list[tuple[dt.date, float]]:
        rng = np.random.default_rng(self.seed + 1)
        start = end - dt.timedelta(days=40)
        vals = {start + dt.timedelta(days=i): float(round(rng.uniform(65, 250), 1))
                for i in range(41)}
        return [(d, vals[d]) for d in sorted(vals) if d > end - dt.timedelta(days=30)]

    def first_landing(self) -> Landing:
        return Landing(
            [list(f) for f in self._base] + ([list(self._history)] if self._history else []),
            self._flux(self.clock.date() - dt.timedelta(days=1)),
        )

    def reland(self, new_share: float, op: int) -> Landing:
        rng = np.random.default_rng([self.seed, op])
        files = []
        for recs in self._base:
            out = []
            for r in recs:
                if rng.random() < new_share:
                    ahead = (self.clock - r.epoch) * float(rng.uniform(0.1, 0.9))
                    r = _replace_epoch(r, r.epoch + ahead)
                out.append(r)
            files.append(out)
        return Landing(files, self._flux(self.clock.date()))


def _record(rng, norad: int, j: int, epoch: dt.datetime, malformed: bool) -> TleRecord:
    r = TleRecord(
        norad_id=norad,
        sat_name=f"STARLINK-{norad}",
        intl_designator=f"{19 + j % 6:02d}{1 + j % 120:03d}{'ABCDEFGH'[j % 8]}",
        epoch=epoch,
        inclination=round(float(rng.uniform(0, 180)), 4),
        raan=round(float(rng.uniform(0, 360)), 4),
        eccentricity=round(float(rng.uniform(0, 0.02)), 7),
        arg_perigee=round(float(rng.uniform(0, 360)), 4),
        mean_anomaly=round(float(rng.uniform(0, 360)), 4),
        mean_motion=round(float(rng.uniform(11, 16.5)), 8),
        rev_number=int(rng.integers(0, 100000)),
        malformed=malformed,
    )
    return _replace_epoch(r, epoch)


def _replace_epoch(r: TleRecord, epoch: dt.datetime) -> TleRecord:
    """Pin the epoch to what the 8-decimal field round-trips to, so the
    record's ``epoch`` is exactly the parser's output."""
    from dataclasses import replace

    tmp = replace(r, epoch=epoch)
    return replace(r, epoch=parsed_epoch(tmp.epoch_field()))


# --- registry tables -----------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["SMALL", "MEDIUM", "PROMO", "LARGE", "ECONOMY", "STANDARD"]
_PADJ = ["large", "hot", "red", "cold", "old", "new", "blue", "small"]
_PNOUN = ["ring", "plate", "gear", "anvil", "gizmo", "widget", "rod", "bolt"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
_WORDS = (
    "a the batch sort value hash filter big data query row stream spark line "
    "small fast group customer part column order scan slow agg key window "
    "table merge vector join"
).split()


def _day_ts(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, int((hi_d - lo_d).astype(int)) + 1, size=n)
    return (lo_d + days).astype("datetime64[us]")


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten test tables as ``<out_dir>/<name>.parquet``, sized
    by ``sf`` like the repository's test data (lineitem = 6M × sf rows).
    Returns rows per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    n_users = max(15, int(15_000 * sf))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(vals, n):
        return np.array(vals, dtype=object)[rng.integers(0, len(vals), n)]

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(_SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(pick(_PADJ, n_part), pick(_PNOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": pick(_PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _day_ts(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pick(_PRIO, n_ord),
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": _day_ts(rng, "1995-01-02", "2001-11-04", n_li),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": t0 + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": pick(_EVENTS, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and rng.random() < 0.002:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(pick(_WORDS, k)))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pick(_LANGS, n_doc),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
