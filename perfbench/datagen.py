"""Seeded generator for the engine's ten input tables.

The benchmark never reads prepared data: every run builds its inputs from
``--seed`` with this module. Schemas and value ranges follow the star
schema the package's ``sources.tables`` pins (TPC-H-like dimensions and
facts, an ``events`` stream table, ``documents`` and ``embeddings``), so
every registry query and its DuckDB oracle SQL run unchanged on the output.

Sizes are set by ``Scale``; ``Scale.at(f)`` scales the sf1 row counts
linearly (region and nation stay fixed), and the events table can be
sized on its own for the streaming workloads.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PART_ADJ = np.array(["hot", "large", "small", "shiny", "green", "old", "plain", "smooth"])
PART_NOUN = np.array(["bolt", "ring", "nut", "screw", "gear", "pipe", "valve", "spring"])
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([0.41, 0.14, 0.15, 0.15, 0.15])
VOCAB = np.array(
    "a agg batch big column data fast filter group hash key line merge order "
    "part query row scan slow small sort spark stream table value vector "
    "window".split()
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# 2024-01-01T00:00:00 in epoch microseconds; events span EVENT_DAYS from it
EPOCH_2024_US = 1_704_067_200_000_000
EVENT_DAYS = 30
DAY_US = 86_400_000_000


@dataclass(frozen=True)
class Scale:
    customers: int
    suppliers: int
    parts: int
    orders: int
    events: int
    users: int
    documents: int
    embeddings: int

    @classmethod
    def at(cls, sf: float, events: int | None = None, users: int | None = None) -> "Scale":
        return cls(
            customers=int(150_000 * sf),
            suppliers=max(10, int(10_000 * sf)),
            parts=int(200_000 * sf),
            orders=int(1_500_000 * sf),
            events=events if events is not None else int(1_000_000 * sf),
            users=users if users is not None else max(10, int(15_000 * sf)),
            documents=max(50, int(50_000 * sf)),
            embeddings=max(50, int(20_000 * sf)),
        )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")


def event_columns(rng: np.random.Generator, n: int, users: int) -> dict[str, np.ndarray]:
    """The non-time columns of ``n`` events (shared with the live generator)."""
    return {
        "user_id": rng.integers(0, users, n, dtype=np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "k": rng.integers(0, 100, n),
    }


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    """``n`` events in (ts, event_id) order with strictly increasing
    microsecond timestamps, so no two events of one account tie on ts."""
    span = EVENT_DAYS * DAY_US
    ts = np.sort(rng.integers(0, span - n, n)) + np.arange(n) + EPOCH_2024_US
    cols = event_columns(rng, n, users)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(cols["user_id"]),
            "event_type": pa.array(cols["event_type"]),
            "value": pa.array(cols["value"]),
            "props": pa.array([f'{{"k": {k}}}' for k in cols["k"]]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = np.clip(rng.lognormal(3.7, 0.6, n).astype(int), 8, 110)
    texts = [" ".join(VOCAB[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # near-duplicates (one word changed) and exact duplicates give the
    # dedup operators candidate pairs to find
    for i in rng.choice(n, size=max(1, n // 50), replace=False):
        words = texts[rng.integers(0, n)].split()
        words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
        texts[i] = " ".join(words)
    for i in rng.choice(n, size=max(1, n // 500), replace=False):
        texts[i] = texts[rng.integers(0, n)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n).astype(np.int32)
    x = centers[label] + rng.normal(0.0, 1.5, (n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(label),
        }
    )


def _tpch(rng: np.random.Generator, s: Scale) -> dict[str, pa.Table]:
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(s.customers, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
            "c_nationkey": pa.array(rng.integers(0, 25, s.customers), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, s.customers),
            "c_mktsegment": SEGMENTS[rng.integers(0, 5, s.customers)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s.suppliers, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
            "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, s.suppliers),
        }
    )
    pk = np.arange(s.parts, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": np.char.add(
                np.char.add(PART_ADJ[rng.integers(0, 8, s.parts)], " "),
                PART_NOUN[rng.integers(0, 8, s.parts)],
            ),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s.parts)],
            "p_type": PART_TYPES[rng.integers(0, 6, s.parts)],
            "p_size": pa.array(rng.integers(1, 51, s.parts), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(s.orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, s.customers, s.orders, dtype=np.int64)),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, s.orders)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, s.orders),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", s.orders)),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, s.orders)],
        }
    )
    lines = rng.integers(1, 8, s.orders)
    n_li = int(lines.sum())
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(s.orders, dtype=np.int64), lines)),
            "l_partkey": pa.array(rng.integers(0, s.parts, n_li, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, s.suppliers, n_li, dtype=np.int64)),
            "l_linenumber": pa.array(
                np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()
            ),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_li)),
        }
    )
    return t


def build_tables(out_dir: str, seed: int, scale: Scale,
                 names: tuple[str, ...] = TABLES) -> dict[str, int]:
    """Write ``names`` as ``<out_dir>/<name>.parquet``; returns row counts.
    Each table has its own seeded stream, so a subset equals the same
    tables of a full build."""
    os.makedirs(out_dir, exist_ok=True)
    parts = {
        "tpch": lambda rng: _tpch(rng, scale),
        "events": lambda rng: {"events": _events(rng, scale.events, scale.users)},
        "documents": lambda rng: {"documents": _documents(rng, scale.documents)},
        "embeddings": lambda rng: {"embeddings": _embeddings(rng, scale.embeddings)},
    }
    counts: dict[str, int] = {}
    for i, (part, make) in enumerate(parts.items()):
        wanted = [n for n in names if (n in TABLES[:7]) == (part == "tpch") and (part == "tpch" or n == part)]
        if not wanted:
            continue
        tables = make(np.random.default_rng([seed, i]))
        for name in wanted:
            pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
            counts[name] = tables[name].num_rows
    with open(os.path.join(out_dir, "_tables.json"), "w") as fh:
        json.dump({"seed": seed, "rows": counts}, fh)
    return counts
