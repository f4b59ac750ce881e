"""Seeded inputs for the benchmark workloads.

Everything the program reads is generated here from ``--seed``: the same
seed gives byte-identical files, and the program sees only the files.

- ``write_warehouse``: the star-schema tables the warehouse queries read
  (TPC-H-shaped ``region`` … ``lineitem``, plus ``events``), with the
  value domains and types of the fixture tables the queries were written
  against (``events.ts`` is TIMESTAMP(NANOS)).
- ``write_chain``: a Rossmann-shaped sales event stream as JSON-lines day
  files, the daily files that redeliver the previous day, and the
  Zipf-skewed sequence of stores the dashboard reads.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "green", "red", "small", "large", "shiny", "old", "new")
PART_NOUN = ("anvil", "bolt", "gear", "nut", "ring", "spring", "valve", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _write(root: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))


def _days(rng, n: int, start: str, span_days: int):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[us]")


def write_warehouse(root: str, seed: int, scale: float) -> str:
    """Write the warehouse tables at ``scale`` (lineitem ≈ 6 M × scale
    rows) under ``root`` and return it."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_events = int(1_500_000 * scale), int(1_000_000 * scale)

    _write(root, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(root, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(root, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(root, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    names = [f"{a} {n}" for a in PART_ADJ for n in PART_NOUN]
    _write(root, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    order_dates = _days(rng, n_ord, "1995-01-01", 2404)
    _write(root, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": order_dates,
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(root, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": np.repeat(order_dates, lines) + rng.integers(1, 122, n_li).astype("timedelta64[D]"),
    })
    ts = np.sort(np.datetime64("2024-01-01", "ns") + rng.integers(0, 30 * 86_400 * 10**9, n_events).astype("timedelta64[ns]"))
    _write(root, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": rng.integers(0, max(1, int(15_000 * scale)), n_events),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.gamma(2.0, 30.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    return root


@dataclass(frozen=True)
class ChainInputs:
    """Paths and plan of one generated forecast chain."""

    stream_dir: str  # the directory the stream source watches
    backfill_files: list[str]  # history day files, moved in for the bulk drain
    daily_files: list[list[str]]  # per daily drain: [new day, redelivered day]
    reads: list[list[int]]  # stores read after bootstrap, then after each daily drain
    as_of: dt.date  # first forecast date; day i of the daily drains is as_of + i
    stores: int
    events_in: int  # JSON lines written, duplicates included


def _day_rows(rng, day: dt.date, stores: int, base: np.ndarray) -> list[str]:
    is_open = rng.random(stores) < 0.83
    promo = rng.random(stores) < 0.3
    level = base * (1 + 0.25 * promo) * (1.15 if day.isoweekday() in (5, 6) else 1.0)
    sales = np.where(is_open, rng.gamma(8.0, level / 8.0), 0).astype(int)
    holiday = np.array(["0", "0", "0", "0", "a", "b", "c"])[rng.integers(0, 7, stores)]
    school = rng.random(stores) < 0.18
    return [
        json.dumps({
            "store": s + 1,
            "dayofweek": day.isoweekday(),
            "date": day.isoformat(),
            "sales": int(min(sales[s], 41_000)),
            "customers": int(sales[s] // 9),
            "open": int(is_open[s]),
            "promo": int(promo[s]),
            "stateholiday": str(holiday[s]),
            "schoolholiday": str(int(school[s])),
            "productname": "product_A",
        })
        for s in range(stores)
    ]


def write_chain(
    root: str,
    seed: int,
    *,
    stores: int,
    history_days: int,
    daily_drains: int,
    reads_per_day: int,
    as_of: dt.date = dt.date(2026, 1, 1),
) -> ChainInputs:
    """Write the chain's day files under ``root``: history files and
    daily files are staged outside ``stream_dir`` and moved in by the
    workload just before the drain that should see them."""
    rng = np.random.default_rng(seed)
    stage, stream_dir = os.path.join(root, "stage"), os.path.join(root, "stream")
    os.makedirs(stage)
    os.makedirs(stream_dir)
    base = rng.uniform(3000, 12_000, stores)
    start = as_of - dt.timedelta(days=history_days)
    files, events_in = {}, 0
    for i in range(history_days + daily_drains):
        day = start + dt.timedelta(days=i)
        path = os.path.join(stage, f"day-{day.isoformat()}.json")
        rows = _day_rows(rng, day, stores, base)
        with open(path, "w") as f:
            f.write("\n".join(rows) + "\n")
        files[day] = path
        events_in += len(rows)
    daily = []
    for i in range(daily_drains):
        day = as_of + dt.timedelta(days=i)
        prev = day - dt.timedelta(days=1)
        again = os.path.join(stage, f"redelivered-{prev.isoformat()}.json")
        shutil.copyfile(files[prev], again)
        events_in += stores
        daily.append([files[day], again])
    # Zipf-skewed store popularity over a seeded ranking of the stores
    ranking = rng.permutation(stores) + 1
    weights = 1.0 / np.arange(1, stores + 1) ** 1.1
    weights /= weights.sum()
    reads = [
        [int(s) for s in rng.choice(ranking, size=reads_per_day if d else 1, p=weights)]
        for d in range(daily_drains + 1)
    ]
    return ChainInputs(
        stream_dir=stream_dir,
        backfill_files=[files[start + dt.timedelta(days=i)] for i in range(history_days)],
        daily_files=daily,
        reads=reads,
        as_of=as_of,
        stores=stores,
        events_in=events_in,
    )
