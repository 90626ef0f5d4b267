"""Seeded star-schema tables for the catalog workloads.

Writes the eight tables the benchmarked catalog queries read (``region
nation customer supplier part orders lineitem events``), one parquet file
each, with the column names, types and value domains of the engine's
TPC-H-ish test schema. The default sizes are those of its sf0.01 point
(60k lineitem rows). Same seed, same bytes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events")

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "dark", "fast", "green", "hot", "light", "red")
PART_NOUN = ("anvil", "bolt", "gear", "lever", "nut", "pipe", "spring",
             "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

#: rows per table at scale 1.0 of this generator (= the sf0.01 point)
BASE_ROWS = {"customer": 1500, "supplier": 100, "part": 2000,
             "orders": 15000, "lineitem": 60000, "events": 10000,
             "users": 150}

_US = "us"


def _ts(days_from: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int(days_from.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp(_US))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _distinct_sorted(rng: np.random.Generator, hi: int, n: int) -> np.ndarray:
    """``n`` distinct integers in ``[0, hi)``, sorted."""
    vals = np.unique(rng.integers(0, hi, n))
    while len(vals) < n:
        vals = np.unique(np.concatenate([vals, rng.integers(0, hi, n)]))
    return np.sort(vals[rng.choice(len(vals), n, replace=False)])


def tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """Build every table in memory from ``seed``."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(round(v * scale))) for k, v in BASE_ROWS.items()}
    day_us = 86_400 * 10**6
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })

    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })

    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": np.array(names)[rng.integers(0, len(names), npart)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
    })

    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1),
                           rng.integers(0, 2400, no) * day_us),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })

    nl = n["lineitem"]
    order_of = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(order_of, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(dt.datetime(1995, 1, 2),
                          rng.integers(0, 2500, nl) * day_us),
    })

    ne = n["events"]
    # distinct, sorted event times: (ts, event_id) is a total order
    ts_us = _distinct_sorted(rng, 30 * day_us, ne)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), ts_us),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(60.0, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    return out


def write(dest: str, seed: int, scale: float = 1.0) -> None:
    """Write every table to ``dest/{name}.parquet``."""
    os.makedirs(dest, exist_ok=True)
    for name, tbl in tables(seed, scale).items():
        pq.write_table(tbl, os.path.join(dest, f"{name}.parquet"),
                       compression="snappy")
