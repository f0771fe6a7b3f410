"""Inputs and reference results for one run, computed with DuckDB.

Run as a child process of ``run.py`` so that neither the generator's nor
DuckDB's memory counts toward the measured process's peak RSS:

    python3 perfbench/reference.py --workload W --seed N --inputs DIR --out FILE

It generates the seeded inputs into ``DIR`` and writes one JSON document
with their checksums and the reference results the output checks compare
against. ``digest`` is shared with the checks in ``workloads.py``.
"""

from __future__ import annotations

import argparse
import datetime as _dt
import hashlib
import json
import os
import sys

_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)

# The FULL_TABLE streams stdout_sync configures (see workloads.py), as
# DuckDB SQL over the same files: the records each stream must emit, in any
# order. Its INCREMENTAL stream must emit exactly the delta file's rows.
STDOUT_STREAMS = {
    "orders": (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,"
        " o_orderpriority FROM orders"
    ),
    # the events stream map: derive a struct (flattened to attrs__*),
    # filter, then mask user_id with SHA-256 of its text form
    "events": (
        "SELECT event_id, ts, sha256(CAST(user_id AS VARCHAR)) AS user_id,"
        " event_type, value, props, event_type AS attrs__kind,"
        " value > 250 AS attrs__big FROM events WHERE event_type <> 'error'"
    ),
}
TS_KEYS = frozenset({"o_orderdate", "ts"})


def canon(key: str, v):
    """One record value in a rendering-independent form: timestamps as
    epoch microseconds (from an ISO string or a naive-UTC datetime),
    numbers as floats, everything else as is."""
    if key in TS_KEYS and v is not None:
        if isinstance(v, str):
            v = _dt.datetime.fromisoformat(v)
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        return (v - _EPOCH) // _dt.timedelta(microseconds=1)
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return float(v)
    return v


def record_hash(rec: dict) -> int:
    items = tuple(sorted((k, canon(k, v)) for k, v in rec.items()))
    return int.from_bytes(
        hashlib.blake2b(repr(items).encode(), digest_size=8).digest(), "little"
    )


class Digest:
    """Order-insensitive multiset digest of records: count plus the sum of
    per-record hashes modulo 2**64."""

    def __init__(self) -> None:
        self.count = 0
        self.hash = 0

    def add(self, rec: dict) -> None:
        self.count += 1
        self.hash = (self.hash + record_hash(rec)) % (1 << 64)

    def as_dict(self) -> dict:
        return {"count": self.count, "hash": self.hash}


def _digest_sql(con, sql: str) -> dict:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    d = Digest()
    for row in cur.fetchall():
        d.add(dict(zip(cols, row)))
    return d.as_dict()


def compute(workload: str, inputs: str) -> dict:
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for entry in sorted(os.listdir(inputs)):
        name, ext = os.path.splitext(entry)
        if ext == ".parquet":
            path = os.path.join(inputs, entry)
            glob = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")

    if workload == "stdout_sync":
        base = os.path.join(inputs, "events_log.parquet", "part-0.parquet")
        delta = os.path.join(inputs, "events_log.parquet", "part-1.parquet")
        (base_max,) = con.execute(f"SELECT max(ts) FROM read_parquet('{base}')").fetchone()
        (delta_max,) = con.execute(f"SELECT max(ts) FROM read_parquet('{delta}')").fetchone()
        streams = {s: _digest_sql(con, q) for s, q in STDOUT_STREAMS.items()}
        streams["events_log"] = _digest_sql(
            con,
            f"SELECT event_id, ts, user_id, event_type, value FROM read_parquet('{delta}')",
        )
        return {
            "streams": streams,
            # the saved STATE bookmark, in StateStore's own rendering
            "start_bookmark": base_max.isoformat(sep=" "),
            "delta_max_us": canon("ts", delta_max),
        }
    if workload == "batch_export":
        return {"rows": con.execute("SELECT count(*) FROM lineitem").fetchone()[0]}
    if workload == "query_bank":
        from workloads import QUERY_BANK_CASES

        from youcruit_tap_rawpostgresql_spark.querybank import REGISTRY

        return {
            "rows": {
                name: len(con.execute(REGISTRY[name].oracle).fetchall())
                for name in QUERY_BANK_CASES
            }
        }
    raise ValueError(f"unknown workload {workload!r}")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)

    import gen

    checksums = gen.generate(a.workload, a.seed, a.inputs)
    input_bytes = sum(
        os.path.getsize(os.path.join(a.inputs, p)) for p in checksums
    )
    doc = {
        "checksums": checksums,
        "input_bytes": input_bytes,
        "reference": compute(a.workload, a.inputs),
    }
    with open(a.out, "w") as f:
        json.dump(doc, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
