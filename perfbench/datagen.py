"""Seeded input generators for the engine benchmark.

Everything the benchmark feeds the engine is made here from the run's
``--seed``: the same seed gives byte-identical inputs.

- ``write_tables`` writes the ten warehouse tables the query registry
  reads (``region`` … ``embeddings``, one parquet file each), with the
  column names, types and value domains of the repository's test data.
- ``MetarPolls`` makes CheckWX-shaped nested METAR documents, one poll
  of a fixed station list at a time, with controlled shares of late,
  replayed and non-numeric-id reports.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "small", "large", "black", "white", "steel"]
NOUNS = ["bolt", "widget", "ring", "gear", "nut", "spring", "valve", "pipe"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark data column join small line customer query big order group "
    "sort window stream filter vector"
).split()

_EPOCH = dt.datetime(1970, 1, 1)


def _days(d: dt.datetime) -> int:
    return (d - _EPOCH).days


def _ts_us(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (TPC-H-like ratios)."""
    return {
        "customer": max(20, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(50, int(1_500_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(40, int(50_000 * sf)),
        "embeddings": max(40, int(50_000 * sf)),
    }


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The warehouse tables as Arrow tables, from ``seed`` at ``sf``."""
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        }
    )
    npart = n["part"]
    keys = np.arange(npart)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [
                f"{COLORS[a]} {NOUNS[b]}"
                for a, b in zip(
                    rng.integers(0, len(COLORS), npart),
                    rng.integers(0, len(NOUNS), npart),
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
        }
    )
    no = n["orders"]
    odays = rng.integers(_days(dt.datetime(1995, 1, 1)),
                         _days(dt.datetime(2001, 8, 2)), no)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
            "o_orderdate": _ts_us(odays),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    lines = rng.integers(1, 8, no)
    lok = np.repeat(np.arange(no), lines)
    nl = len(lok)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, nl).astype("float64")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lok, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 3000.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _ts_us(odays[lok] + rng.integers(1, 122, nl)),
        }
    )
    ne = n["events"]
    start_us = _days(dt.datetime(2024, 1, 1)) * 86_400_000_000
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, ne)) + start_us
    nusers = max(10, int(15_000 * sf))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ev_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, nusers, ne), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(40.0, ne) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = []
    for _ in range(nd):
        k = int(rng.integers(8, 90))
        texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)))
    # every 7th document repeats an earlier one, so the dedup operators
    # have exact and near duplicates to find
    for i in range(7, nd, 7):
        texts[i] = texts[int(rng.integers(0, i))]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), nd)],
            "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[labels] + rng.normal(0.0, 1.0, (nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


# -- METAR micro-batches -------------------------------------------------


@dataclass(frozen=True)
class MetarShape:
    """What the METAR generator varies.

    The generator follows the reference's collection job: every 30
    minutes a fixed list of stations is polled, and each station answers
    with its latest decoded report. ``stations`` is the length of that
    list. A half-hourly station has a new report at every poll, stamped
    at its fixed minute within the half hour.

    The defaults are what that job implies when every station reports
    half-hourly: every poll brings one new report per station, and
    nothing is late, replayed or uneven. The other shares are controls:

    - ``hourly_share``: stations that report hourly, so every second poll
      returns their previous report again, byte for byte (a replay with
      the same content-hash id, behind the watermark);
    - ``late_share``: polls that return a report delayed by one to twelve
      cycles, stamped behind the stg watermark;
    - ``non_numeric_share``: reports whose source id is not all digits,
      which the ods sanitizer drops."""

    stations: int = 2000
    hourly_share: float = 0.0
    late_share: float = 0.0
    non_numeric_share: float = 0.0


def _station(i: int) -> str:
    a = ord("A")
    return "X" + "".join(chr(a + (i // 26**k) % 26) for k in (2, 1, 0))


def metar_doc(rng: np.random.Generator, icao: str, observed: dt.datetime) -> dict:
    """One nested CheckWX-style decoded METAR document."""
    temp = round(float(rng.normal(5.0, 12.0)), 1)
    wind = float(rng.integers(0, 40))
    return {
        "icao": icao,
        "observed": observed.strftime("%Y-%m-%dT%H:%M:%S"),
        "raw_text": f"{icao} {observed:%d%H%M}Z {int(wind):02d}KT",
        "flight_category": ("VFR", "MVFR", "IFR")[int(rng.integers(0, 3))],
        "temperature": {"celsius": temp},
        "dewpoint": {"celsius": round(temp - float(rng.integers(0, 8)), 1)},
        "wind": {"degrees": float(rng.integers(0, 36) * 10), "speed_kts": wind},
        "visibility": {"meters_float": float(rng.integers(1, 11) * 1000)},
        "barometer": {"hpa": float(rng.integers(980, 1040))},
        "humidity": {"percent": float(rng.integers(20, 100))},
        "station": {
            "name": f"Station {icao}",
            "location": "Synthetic",
            "geometry": {
                "type": "Point",
                "coordinates": [round(float(rng.uniform(-180, 180)), 4),
                                round(float(rng.uniform(-90, 90)), 4)],
            },
        },
    }


def payload_md5(doc: dict) -> str:
    """The collector's content-hash id: md5 of the fetched JSON string
    (``collector.fake_fetcher`` serves ``json.dumps(doc)``)."""
    return hashlib.md5(json.dumps(doc).encode("utf-8")).hexdigest()


def source_id(md5: str) -> str:
    """The source-system id the benchmark gives a fetched document.

    The collector ids documents by content hash, which the ods
    digits-only sanitizer would always drop; the reference's ids are
    stringified sequence numbers. A hash starting with ``0`` or ``1``
    keeps its hex form (a non-numeric id); any other becomes the decimal
    of hex digits 2..8 (< 2^28, so the ods int cast never overflows).
    ``MetarPolls`` steers each document into the class it wants."""
    return md5 if md5[0] in "01" else str(int(md5[1:8], 16))


class MetarPolls:
    """The fetch results of successive 30-minute polls, made on demand.

    ``next_batch()`` returns poll ``b`` = 0, 1, 2, …: one document per
    station. Poll ``b`` is made at ``t_b = t_0 + 30 min × b``, and a new
    report is stamped ``t_b`` plus the station's fixed minute. A new
    document's sea-level-pressure remark is redrawn until its source id
    falls in the class (numeric or not) drawn for it and is unused by any
    other document, so ids are unique. The same seed and shape give the
    same documents, poll by poll."""

    def __init__(self, seed: int, shape: MetarShape):
        self.rng = np.random.default_rng(seed)
        self.shape = shape
        n = shape.stations
        self.icaos = [_station(i) for i in range(n)]
        self.minute = self.rng.integers(0, 30, n)
        self.hourly = self.rng.random(n) < shape.hourly_share
        self.last: list[dict | None] = [None] * n
        self.used: set[str] = set()
        self.t0 = dt.datetime(2024, 3, 1)
        self.polls = 0

    def _new_doc(self, icao: str, observed: dt.datetime) -> dict:
        rng = self.rng
        doc = metar_doc(rng, icao, observed)
        want_hex = bool(rng.random() < self.shape.non_numeric_share)
        base = doc["raw_text"]
        while True:
            doc["raw_text"] = f"{base} RMK SLP{int(rng.integers(0, 1000)):03d}"
            sid = source_id(payload_md5(doc))
            if (not sid.isdigit()) == want_hex and sid not in self.used:
                break
        self.used.add(sid)
        return doc

    def next_batch(self) -> list[dict]:
        b = self.polls
        self.polls += 1
        slot = self.t0 + dt.timedelta(minutes=30 * b)
        late = self.rng.random(len(self.icaos)) < self.shape.late_share
        docs = []
        for i, icao in enumerate(self.icaos):
            prev = self.last[i]
            if prev is not None and self.hourly[i] and b % 2 == 1:
                docs.append(prev)  # no new hourly report since the last poll
                continue
            back = int(self.rng.integers(1, 13)) if b and late[i] else 0
            observed = slot + dt.timedelta(minutes=int(self.minute[i]) - 30 * back)
            self.last[i] = self._new_doc(icao, observed)
            docs.append(self.last[i])
        return docs
