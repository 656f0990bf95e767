"""Seeded inputs for the benchmark: the sf-scaled star schema the batch
queries read, and the trade-JSON stream the CDC job consumes.

Everything here is pure Python/NumPy/Arrow: no Spark, no wall clock.
The same seed gives byte-identical tables and the same trade events.

The tables follow the shapes of the engine's parquet fixtures (one
file and one row group per table, the same column names and types,
uniform keys): at sf=0.1 that is 600k lineitem rows, 150k orders,
5000 documents and 2000 embeddings.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EMBED_DIM = 64
_DAY_US = 86_400_000_000


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * _DAY_US).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float = 0.1) -> dict[str, pa.Table]:
    """Build every table the batch queries read, from `seed` alone."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_docs, n_vecs = int(50_000 * sf), int(20_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    keys = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, i64),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    start_us = np.datetime64("2024-01-01", "us").astype(np.int64)
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), i64),
            "ts": (start_us + offsets).astype("datetime64[us]"),
            "user_id": pa.array(rng.integers(0, n_users, n_events), i64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-vocabulary documents with planted exact and near
    duplicates (a copy, or a copy with one word replaced), so the
    dedup queries find pairs as well as singletons."""
    vocab = np.array(_VOCAB)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    n_plant = max(n // 300, 2)
    targets = rng.choice(np.arange(n // 2, n), size=2 * n_plant, replace=False)
    for j, dst in enumerate(targets):
        words = texts[int(rng.integers(0, n // 2))].split()
        if j % 2:
            words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
        texts[dst] = " ".join(words)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, size=n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors around ten label centroids."""
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(size=(10, _EMBED_DIM))
    vecs = centroids[labels] + 1.5 * rng.normal(size=(n, _EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write one single-row-group parquet file per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(table.num_rows, 1))


# --- trade stream ------------------------------------------------------------

TRADE_SCHEMA = "trade_id string, seq long, value string"
_SYMBOLS = ["AAPL", "MSFT", "GOOG", "AMZN", "NVDA", "META", "TSLA", "ORCL"]


# The trade stream's key count and mutation mix. The shares are the
# probabilities of each step on an already-seen trade id (the rest
# repeats the previous record unchanged); a first sighting always
# emits the full version-1 record.
TRADE_KEYS = 512
MODIFY = 0.70
ADD_FIELD = 0.10
REMOVE_FIELD = 0.10


class TradeGenerator:
    """Seeded trade-JSON events shaped like the reference job's
    `test.json`: {id, symbol, side, quantity, price, timestamp, trader,
    version}. Mutations: price/quantity/version modified, a `venue`
    field added, the `trader` field removed, or an unchanged repeat.

    `seq` numbers events globally in generation order; the stream job
    uses it as the per-key arrival order. Nothing here reads a clock.
    """

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.seq = 0
        self.state: dict[str, dict] = {}

    def _first(self, tid: str) -> dict:
        r = self.rng
        return {
            "id": tid,
            "symbol": r.choice(_SYMBOLS),
            "side": r.choice(("BUY", "SELL")),
            "quantity": r.randrange(1, 1000),
            "price": round(r.uniform(5.0, 900.0), 2),
            "timestamp": f"2025-10-04T19:{r.randrange(60):02d}:{r.randrange(60):02d}.000000",
            "trader": str(r.randrange(1000, 10000)),
            "version": 1,
        }

    def _mutate(self, rec: dict) -> dict:
        r = self.rng
        new = dict(rec)
        u = r.random()
        if u < MODIFY:
            new["price"] = round(r.uniform(5.0, 900.0), 2)
            if r.random() < 0.3:
                new["quantity"] = r.randrange(1, 1000)
            new["version"] = rec["version"] + 1
        elif u < MODIFY + ADD_FIELD:
            new["venue"] = r.choice(("XNAS", "XNYS", "BATS", "ARCX"))
        elif u < MODIFY + ADD_FIELD + REMOVE_FIELD:
            if "trader" in new:
                del new["trader"]
            else:
                new["trader"] = str(r.randrange(1000, 10000))
        return new

    def events(self, n: int) -> list[tuple[str, int, str]]:
        """The next `n` events as (trade_id, seq, json) rows."""
        out = []
        for _ in range(n):
            tid = f"TRD{self.rng.randrange(TRADE_KEYS):05d}"
            prev = self.state.get(tid)
            rec = self._first(tid) if prev is None else self._mutate(prev)
            self.state[tid] = rec
            out.append((tid, self.seq, json.dumps(rec)))
            self.seq += 1
        return out


def write_trade_file(rows: list[tuple[str, int, str]], path: str, mtime: float) -> None:
    """Write `rows` as one parquet file that appears atomically at
    `path` with modification time `mtime`.

    The file source orders new files by modification time, so each
    file gets a strictly increasing `mtime` from the caller; the file
    is written under a dot-name (which the source ignores), stamped,
    and then renamed into place.
    """
    table = pa.table(
        {
            "trade_id": [r[0] for r in rows],
            "seq": pa.array([r[1] for r in rows], pa.int64()),
            "value": [r[2] for r in rows],
        }
    )
    d, base = os.path.split(path)
    tmp = os.path.join(d, f".{base}.tmp")
    pq.write_table(table, tmp)
    os.utime(tmp, (mtime, mtime))
    os.replace(tmp, path)
