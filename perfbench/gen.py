"""Seeded input generator for the benchmark.

Every table is a pure function of ``(seed, workload)``: the same seed gives
byte-identical parquet files, whose SHA-256 checksums are returned and
recorded in each result. The shapes follow the fixture schemas the engine's
source registry expects (``sources/registry.TESTDATA_TABLES``): TPC-H-like
orders/lineitem/customer/supplier/part/nation/region, an ``events`` stream
table with JSON ``props``, ``documents`` text and 64-dim ``embeddings``.

Files are written only under the output directory the caller names.

    python3 perfbench/gen.py --workload stdout_sync --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import datetime as _dt
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per workload, sized so that a run (fresh JVM, set-up, cold
# iteration, several steady ones) fits the benchmark's time budget on 4
# cores; see README.md "Sizing and noise".
STDOUT_ORDERS = 16_000
STDOUT_EVENTS = 4_000
INCR_BASE = 100_000
INCR_DELTA = 1_000  # 1% of the base
BATCH_LINEITEM = 150_000
# query_bank runs at the smallest fixture scale: its cases cost the per-job
# scheduling floor, not data volume
QB_SCALE = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1_500,
    "lineitem": 6_000,
    "events": 1_000,
    "documents": 500,
    "embeddings": 500,
}

_EPOCH = _dt.datetime(1970, 1, 1)
_US = 1_000_000
_WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()


def _ts_us(y: int, m: int, d: int) -> int:
    return int((_dt.datetime(y, m, d) - _EPOCH).total_seconds()) * _US


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal-exact doubles (the fixture convention the query bank's
    DECIMAL casts rely on)."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts_array(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, type=pa.int32()), pa.array(values)
    ).cast(pa.string())


def region() -> pa.Table:
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(names)}
    )


def nation() -> pa.Table:
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )


def customer(rng: np.random.Generator, n: int) -> pa.Table:
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype="int64")),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype("int32")),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
            "c_mktsegment": _choice(rng, segs, n),
        }
    )


def supplier(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "s_suppkey": pa.array(np.arange(n, dtype="int64")),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n).astype("int32")),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        }
    )


def part(rng: np.random.Generator, n: int) -> pa.Table:
    adj = ["small", "red", "cold", "big", "blue", "green", "shiny", "old"]
    noun = ["widget", "ring", "bolt", "gear", "pipe", "lamp", "valve", "nut"]
    names = [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n, 2))]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    return pa.table(
        {
            "p_partkey": pa.array(np.arange(n, dtype="int64")),
            "p_name": pa.array(names),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
            "p_type": _choice(rng, types, n),
            "p_size": pa.array(rng.integers(1, 51, n).astype("int32")),
            "p_retailprice": pa.array(900.0 + rng.integers(0, 1000, n) / 10.0),
        }
    )


def orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    lo, hi = _ts_us(1995, 1, 1), _ts_us(2001, 8, 1)
    days = rng.integers(0, (hi - lo) // (86_400 * _US) + 1, n)
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, n_cust, n).astype("int64")),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
            "o_orderdate": _ts_array(lo + days * 86_400 * _US),
            "o_orderpriority": _choice(rng, prios, n),
        }
    )


def lineitem(
    rng: np.random.Generator, n: int, n_orders: int, n_part: int, n_supp: int
) -> pa.Table:
    okey = np.sort(rng.integers(0, n_orders, n)).astype("int64")
    # line numbers restart per order key (1..k), as in TPC-H
    starts = np.r_[0, np.flatnonzero(np.diff(okey)) + 1]
    run_id = np.repeat(np.arange(len(starts)), np.diff(np.r_[starts, n]))
    linenumber = (np.arange(n) - starts[run_id] + 1).astype("int32")
    qty = rng.integers(1, 51, n).astype("float64")
    ship_lo = _ts_us(1995, 1, 2)
    ship = ship_lo + rng.integers(0, 2_499, n) * 86_400 * _US
    return pa.table(
        {
            "l_orderkey": pa.array(okey),
            "l_partkey": pa.array(rng.integers(0, n_part, n).astype("int64")),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n).astype("int64")),
            "l_linenumber": pa.array(linenumber),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": _choice(rng, ["A", "N", "R"], n),
            "l_linestatus": _choice(rng, ["F", "O"], n),
            "l_shipdate": _ts_array(ship),
        }
    )


def events(
    rng: np.random.Generator, n: int, n_users: int, start_us: int, first_id: int = 0
) -> pa.Table:
    """Event rows with strictly increasing microsecond timestamps starting
    after ``start_us`` (an append-only log: ids and times only grow)."""
    ts = start_us + np.cumsum(rng.integers(1, 2 * 259_200_000, n))
    kinds = ["click", "error", "purchase", "signup", "view"]
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype="int64")),
            "ts": _ts_array(ts),
            "user_id": pa.array(rng.integers(0, n_users, n).astype("int64")),
            "event_type": _choice(rng, kinds, n),
            "value": pa.array(_money(rng, 0.01, 490.0, n)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.08:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 20 and rng.random() < 0.05:  # near duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    langs = ["de", "en", "es", "fr", "zh"]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": _choice(rng, langs, n, p=[0.14, 0.44, 0.14, 0.14, 0.14]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
        }
    )


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (10, dim))
    label = rng.integers(0, 10, n)
    v = centers[label] + rng.normal(0.0, 0.6, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": emb,
            "label": pa.array(label.astype("int32")),
        }
    )


def _tables(workload: str, seed: int) -> dict[str, pa.Table | list[pa.Table]]:
    """Table name → table, or → list of tables for a multi-file table."""
    # one independent stream per workload, so adding a table to one
    # workload never changes another workload's inputs
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    if workload == "stdout_sync":
        base = events(rng, INCR_BASE, 15_000, _ts_us(2024, 1, 1))
        base_max = base.column("ts").cast(pa.int64()).to_numpy()[-1]
        delta = events(rng, INCR_DELTA, 15_000, int(base_max), first_id=INCR_BASE)
        return {
            "orders": orders(rng, STDOUT_ORDERS, 15_000),
            "events": events(rng, STDOUT_EVENTS, 1_500, _ts_us(2024, 1, 1)),
            # append-only log: the base, then the delta in its own file
            "events_log": [base, delta],
        }
    if workload == "batch_export":
        return {"lineitem": lineitem(rng, BATCH_LINEITEM, 150_000, 20_000, 1_000)}
    if workload == "query_bank":
        s = QB_SCALE
        return {
            "region": region(),
            "nation": nation(),
            "customer": customer(rng, s["customer"]),
            "supplier": supplier(rng, s["supplier"]),
            "part": part(rng, s["part"]),
            "orders": orders(rng, s["orders"], s["customer"]),
            "lineitem": lineitem(
                rng, s["lineitem"], s["orders"], s["part"], s["supplier"]
            ),
            "events": events(rng, s["events"], 150, _ts_us(2024, 1, 1)),
            "documents": documents(rng, s["documents"]),
            "embeddings": embeddings(rng, s["embeddings"]),
        }
    raise ValueError(f"unknown workload {workload!r}")


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def generate(workload: str, seed: int, out_dir: str) -> dict[str, str]:
    """Write the workload's tables as ``<out_dir>/<table>.parquet``; return
    relative file path → SHA-256. A multi-part table is a directory of part
    files (``part-0.parquet`` the base, ``part-1.parquet`` the delta)."""
    os.makedirs(out_dir, exist_ok=True)
    sums: dict[str, str] = {}
    for name, tab in _tables(workload, seed).items():
        if isinstance(tab, list):
            d = os.path.join(out_dir, f"{name}.parquet")
            os.makedirs(d, exist_ok=True)
            paths = [os.path.join(d, f"part-{i}.parquet") for i in range(len(tab))]
            for t, p in zip(tab, paths):
                # small row groups: parquet min/max statistics let the scan
                # skip the base when the bookmark filter pushes down
                pq.write_table(t, p, row_group_size=16_384)
        else:
            paths = [os.path.join(out_dir, f"{name}.parquet")]
            pq.write_table(tab, paths[0])
        for p in paths:
            sums[os.path.relpath(p, out_dir)] = _sha256(p)
    return sums


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    print(json.dumps(generate(a.workload, a.seed, a.out), indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
