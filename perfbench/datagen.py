"""Seeded input generators for the benchmark.

Batch tables follow the schemas and value domains of the engine's
fixture set (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings), so every registered query and its DuckDB
oracle run on them unchanged. Row counts are fixed by the workload's
size parameters; the seed only changes the values, so the work a run
does is the same for every seed.

The stream generator yields one round of events at a time. Each event
is stamped with whether the engine must accept it (on time or within
the watermark delay) or drop it (behind the watermark by a wide margin),
so the oracle aggregates exactly the accepted events.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

_US = 1_000_000
_DAY_US = 86_400 * _US


@dataclass(frozen=True)
class TableSizes:
    """Row counts of one generated table set. `sf` scales the TPC-H-style
    tables and events like the fixture scale factors (sf0.01: 60k
    lineitem rows, 10k events); documents and embeddings are sized on
    their own because their cost is per row, not per byte."""

    sf: float
    documents: int = 500
    embeddings: int = 500


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(dt.datetime(y, m, d).timestamp() * _US) - int(
        dt.datetime(1970, 1, 1).timestamp() * _US
    )


def _dates(rng: np.random.Generator, n: int, lo: tuple, hi: tuple) -> pa.Array:
    """Midnight timestamps, uniform over [lo, hi] (inclusive days)."""
    lo_us, hi_us = _epoch_us(*lo), _epoch_us(*hi)
    days = rng.integers(0, (hi_us - lo_us) // _DAY_US + 1, n)
    return pa.array(lo_us + days * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    """Two-decimal amounts, as the fixtures store prices and balances."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near duplicate of an earlier document: a few words swapped
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = "dup"
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 101)))])
        texts.append(" ".join(words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, pa.string()),
            "lang": _choice(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0.0, 0.15, (10, dim))
    vecs = centroids[labels] + rng.normal(0.0, 1.0 / np.sqrt(dim), (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels,
        }
    )


def generate_tables(sizes: TableSizes, seed: int) -> dict[str, pa.Table]:
    """Every fixture table for one (sizes, seed) pair. Deterministic."""
    rng = np.random.default_rng(seed)
    sf = sizes.sf
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(150, int(15_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": _choice(rng, names, n_part),
            "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _choice(rng, PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _dates(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
            "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _choice(rng, ["O", "F"], n_line),
            "l_shipdate": _dates(rng, n_line, (1995, 1, 2), (2001, 11, 4)),
        }
    )
    ev_lo = _epoch_us(2024, 1, 1)
    ts = np.sort(rng.integers(ev_lo, ev_lo + 30 * _DAY_US, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": _choice(rng, EVENT_TYPES, n_ev),
            "value": _money(rng, n_ev, 0.01, 500.0),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    t["documents"] = _documents(rng, sizes.documents)
    t["embeddings"] = _embeddings(rng, sizes.embeddings)
    return t


def write_tables(sizes: TableSizes, seed: int, out_dir: str) -> str:
    """Generate the table set and write one parquet file per table into
    `out_dir`. Returns `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in generate_tables(sizes, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# --------------------------------------------------------------- streaming

STREAM_SCHEMA = "event_id long, ts timestamp, key string, value double"
WINDOW_S = 60
DELAY_S = 30  # watermark delay declared to the engine
ROUND_SPAN_S = WINDOW_S  # event time each round advances: one window
_STREAM_T0_US = _epoch_us(2024, 1, 1)


@dataclass(frozen=True)
class StreamShape:
    events_per_round: int = 4000
    keys: int = 200
    warm_rounds: int = 9  # rounds after the cold first one
    out_of_order_share: float = 0.10
    late_share: float = 0.02


class StreamGenerator:
    """Closed-loop event source: `next_round()` returns the next round's
    events as an Arrow table plus a boolean mask of the events the engine
    must accept. Event time advances ROUND_SPAN_S per round. Out-of-order
    events lag the round start by less than DELAY_S minus a 5 s margin,
    so they stay ahead of the watermark; late events trail the watermark
    by 60-180 s, so the engine drops them."""

    def __init__(self, seed: int, shape: StreamShape = StreamShape()):
        self.rng = np.random.default_rng(seed)
        self.shape = shape
        self.round = 0
        self.next_id = 0
        self.max_ts_us: int | None = None  # max event time fed so far
        # skewed key popularity: a few hot keys, a long tail
        w = 1.0 / np.arange(1, shape.keys + 1) ** 0.8
        self.key_p = w / w.sum()

    def next_round(self) -> tuple[pa.Table, np.ndarray]:
        s, rng = self.shape, self.rng
        n = s.events_per_round
        start = _STREAM_T0_US + self.round * ROUND_SPAN_S * _US
        ts = start + rng.integers(0, ROUND_SPAN_S * _US, n)
        accept = np.ones(n, dtype=bool)
        kind = rng.random(n)
        if self.max_ts_us is not None:
            wm = self.max_ts_us - DELAY_S * _US
            ooo = kind < s.out_of_order_share
            # behind the round start, but at least 5 s ahead of the watermark
            lag = rng.integers(0, (start - wm) - 5 * _US, n)
            ts = np.where(ooo, start - lag, ts)
            if self.round >= 2:
                late = kind > 1.0 - s.late_share
                ts = np.where(late, wm - rng.integers(60 * _US, 180 * _US, n), ts)
                accept &= ~late
        keys = rng.choice(s.keys, n, p=self.key_p)
        tbl = pa.table(
            {
                "event_id": np.arange(self.next_id, self.next_id + n, dtype=np.int64),
                "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "key": pa.array([f"k{k:04d}" for k in keys]),
                "value": rng.integers(0, 100, n).astype(np.float64),
            }
        )
        self.next_id += n
        self.round += 1
        top = int(ts.max())
        self.max_ts_us = top if self.max_ts_us is None else max(self.max_ts_us, top)
        return tbl, accept

    @property
    def watermark_us(self) -> int:
        """The engine's watermark once every fed round has been processed."""
        return self.max_ts_us - DELAY_S * _US


def land_file(tbl: pa.Table, drop_dir: str, name: str) -> None:
    """Write a parquet file beside the drop-dir and rename it in, so the
    stream source never lists a partial file."""
    tmp = os.path.join(os.path.dirname(drop_dir.rstrip("/")), f".{name}.tmp")
    pq.write_table(tbl, tmp, coerce_timestamps="us")
    os.replace(tmp, os.path.join(drop_dir, name))
