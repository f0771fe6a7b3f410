"""The workloads: what one iteration runs, and how its output is checked.

Each iteration goes through the engine's public API only
(``tap.SparkTap``, ``spec.TapConfig``, ``state.StateStore``,
``querybank.REGISTRY``). ``check`` runs after the iteration's clock has
stopped and compares the output with the DuckDB reference from
``reference.py``.
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import shutil
from dataclasses import dataclass

from reference import Digest, canon

# The query_bank cases, a fixed subset of the headline REGISTRY cases.
# The full 33-case headline pass costs 18-22 s steady and ~45 s cold on
# 4 cores even at the smallest scale (per-job scheduling floor), which
# does not fit one run of the benchmark. These ten cover querybank/core,
# the six PG-dialect cases (plans/dialect through querybank/sql_surface),
# functions/ hashing and text (llm), and the variant path (modern).
QUERY_BANK_CASES = (
    "q3_top_orders",
    "pg_dialect_operator_math",
    "pg_dialect_quoting_encode",
    "pg_dialect_json_construction",
    "pg_dialect_srf_ordering",
    "pg_dialect_cast_rounding",
    "pg_dialect_typed_arith",
    "dedup_exact",
    "text_token_stats",
    "variant_json_extract",
)


@dataclass
class Outcome:
    ok: bool
    records: int  # records emitted (tap) or result rows (query bank)
    nbytes: int  # bytes produced: messages for stdout, files for batch
    detail: str = ""
    # counts the traced run reports for the sink and state layers
    message_bytes: int = 0
    files: int = 0
    file_bytes: int = 0
    bookmark_ok: bool = False


def _strict_json(line: str) -> dict:
    def reject(tok: str):
        raise ValueError(f"non-JSON constant {tok}")

    return json.loads(line, parse_constant=reject)


def _read_messages(path: str) -> tuple[list[dict], str]:
    """Parse a Singer message file strictly; return the messages and an
    error ('' when every line parses and each stream's SCHEMA precedes
    its RECORDs)."""
    msgs: list[dict] = []
    schemas: set[str] = set()
    with open(path, encoding="utf-8") as f:
        for i, line in enumerate(f):
            try:
                m = _strict_json(line)
            except ValueError as e:
                return msgs, f"line {i + 1}: {e}"
            t = m.get("type")
            if t == "SCHEMA":
                schemas.add(m["stream"])
            elif t in ("RECORD", "BATCH") and m.get("stream") not in schemas:
                return msgs, f"line {i + 1}: {t} before SCHEMA for {m.get('stream')}"
            msgs.append(m)
    if not msgs or msgs[-1].get("type") != "STATE":
        return msgs, "message stream does not end with STATE"
    return msgs, ""


def _col(name: str, typ: str, nullable: bool = True) -> dict:
    return {"name": name, "type": typ, "nullable": nullable}


class _Tap:
    """Shared set-up of the tap workloads: one config, one output file
    per iteration, ``sync_all(parallel=1)``."""

    name = ""
    tables: tuple[str, ...] = ()
    batch_mode = False

    def __init__(self, spark, work: str, ref: dict):
        from youcruit_tap_rawpostgresql_spark.spec import TapConfig

        self.spark = spark
        self.work = work
        self.ref = ref["reference"]
        self.config = TapConfig.from_dict(self.config_dict())

    def config_dict(self) -> dict:
        raise NotImplementedError

    def state(self, k: int):
        from youcruit_tap_rawpostgresql_spark.state import StateStore

        return StateStore()

    def messages_path(self, k: int) -> str:
        return os.path.join(self.work, f"messages-{k}.jsonl")

    def run(self, k: int):
        """Iteration ``k``: one ``sync_all``, its Singer messages written
        to a file of their own."""
        from youcruit_tap_rawpostgresql_spark.tap import SparkTap

        with open(self.messages_path(k), "w", encoding="utf-8") as f:
            tap = SparkTap(self.config, self.spark, state=self.state(k), write=f.write)
            return k, tap.sync_all(batch_mode=self.batch_mode, parallel=1)

    def read_messages(self, k: int) -> tuple[list[dict], str, int]:
        """The iteration's messages, a parse error ('' if none) and their
        size in bytes; the file is removed."""
        path = self.messages_path(k)
        msgs, err = _read_messages(path)
        nbytes = os.path.getsize(path)
        os.remove(path)
        return msgs, err, nbytes


class StdoutSync(_Tap):
    """Three streams to Singer messages: orders (FULL_TABLE), events
    (FULL_TABLE with a stream map: derive + filter + mask, flattened) and
    events_log (INCREMENTAL, re-synced from a saved bookmark at the base
    table's max, so only the 1% delta is emitted)."""

    name = "stdout_sync"
    tables = ("orders", "events", "events_log")

    def config_dict(self) -> dict:
        return {
            "streams": [
                {
                    "name": "orders",
                    "sql": (
                        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,"
                        " o_orderdate::timestamptz AS o_orderdate, o_orderpriority"
                        " FROM orders"
                    ),
                    "columns": [
                        _col("o_orderkey", "bigint", False),
                        _col("o_custkey", "bigint"),
                        _col("o_orderstatus", "text"),
                        _col("o_totalprice", "double precision"),
                        _col("o_orderdate", "timestamptz"),
                        _col("o_orderpriority", "text"),
                    ],
                    "key_properties": ["o_orderkey"],
                },
                {
                    "name": "events",
                    "sql": "SELECT event_id, ts, user_id, event_type, value, props FROM events",
                    "columns": [
                        _col("event_id", "bigint", False),
                        _col("ts", "timestamptz"),
                        _col("user_id", "bigint"),
                        _col("event_type", "text"),
                        _col("value", "double precision"),
                        _col("props", "jsonb"),
                    ],
                    "key_properties": ["event_id"],
                },
                {
                    "name": "events_log",
                    "sql": (
                        "SELECT event_id, ts, user_id, event_type, value"
                        " FROM events_log WHERE ts > :rep_key_val"
                    ),
                    "columns": [
                        _col("event_id", "bigint", False),
                        _col("ts", "timestamptz"),
                        _col("user_id", "bigint"),
                        _col("event_type", "text"),
                        _col("value", "double precision"),
                    ],
                    "key_properties": ["event_id"],
                    "replication_key": "ts",
                },
            ],
            "stream_maps": {
                "events": {
                    "derive": {"attrs": "named_struct('kind', event_type, 'big', value > 250)"},
                    "filter": "event_type <> 'error'",
                    "mask": ["user_id"],
                }
            },
            "flattening_enabled": True,
        }

    @property
    def _incremental(self):
        return self.config.streams[2]

    def state_path(self, k: int) -> str:
        return os.path.join(self.work, f"state-{k}.json")

    def state(self, k: int):
        """A fresh store loaded from the saved STATE, as a scheduled run
        starts."""
        from youcruit_tap_rawpostgresql_spark.state import StateStore

        path = self.state_path(k)
        saved = {
            "bookmarks": {
                self._incremental.fully_qualified_name: {
                    "replication_key": "ts",
                    "replication_key_value": self.ref["start_bookmark"],
                }
            }
        }
        with open(path, "w") as f:
            json.dump(saved, f)
        return StateStore(path)

    def check(self, raw) -> Outcome:
        k, _results = raw
        msgs, err, nbytes = self.read_messages(k)
        with open(self.state_path(k)) as f:
            flushed_state = json.load(f)
        os.remove(self.state_path(k))
        streams = {s.fully_qualified_name: s.name for s in self.config.streams}
        digests = {fqn: Digest() for fqn in streams}
        inc = self._incremental.fully_qualified_name
        start_us = canon("ts", self.ref["start_bookmark"])
        above = True
        for m in msgs:
            if m["type"] == "RECORD":
                digests[m["stream"]].add(m["record"])
                if m["stream"] == inc:
                    above = above and canon("ts", m["record"]["ts"]) > start_us
        out = Outcome(True, sum(d.count for d in digests.values()), nbytes, message_bytes=nbytes)
        if err:
            out.ok, out.detail = False, err
            return out
        final = msgs[-1]["value"]["bookmarks"].get(inc, {}).get("replication_key_value")
        flushed = flushed_state["bookmarks"][inc]["replication_key_value"]
        out.bookmark_ok = (
            final is not None
            and canon("ts", final) == self.ref["delta_max_us"]
            and flushed == final
        )
        for fqn, d in digests.items():
            want = self.ref["streams"][streams[fqn]]
            if d.as_dict() != want:
                out.ok, out.detail = False, f"{fqn}: {d.as_dict()} != {want}"
                return out
        if not above:
            out.ok, out.detail = False, f"{inc}: a record is not above the starting bookmark"
        elif not out.bookmark_ok:
            out.ok, out.detail = False, f"{inc}: final bookmark {final!r} (flushed {flushed!r})"
        return out


class BatchExport(_Tap):
    name = "batch_export"
    tables = ("lineitem",)
    batch_mode = True
    batch_size = 25_000

    def config_dict(self) -> dict:
        return {
            "streams": [
                {
                    "name": "lineitem",
                    "sql": (
                        "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,"
                        " l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,"
                        " l_shipdate FROM lineitem"
                    ),
                    "columns": [
                        _col("l_orderkey", "bigint", False),
                        _col("l_partkey", "bigint"),
                        _col("l_suppkey", "bigint"),
                        _col("l_linenumber", "integer", False),
                        _col("l_quantity", "double precision"),
                        _col("l_extendedprice", "double precision"),
                        _col("l_discount", "double precision"),
                        _col("l_tax", "double precision"),
                        _col("l_returnflag", "text"),
                        _col("l_linestatus", "text"),
                        _col("l_shipdate", "timestamptz"),
                    ],
                    "key_properties": ["l_orderkey", "l_linenumber"],
                }
            ],
            "batch_size": self.batch_size,
            "batch_config": {
                "storage": {"root": "file://" + os.path.join(self.work, "batch"), "prefix": "bench-"},
                "encoding": {"format": "jsonl", "compression": "gzip"},
            },
        }

    def check(self, raw) -> Outcome:
        k, results = raw
        _msgs, err, message_bytes = self.read_messages(k)
        files = [f for r in results for m in r.manifests for f in m.files]
        paths = [f[len("file://"):] for f in files]
        dirs = {os.path.dirname(p) for p in paths}
        written = {p for d in dirs for p in glob.glob(os.path.join(d, "*.json.gz"))}
        counts = []
        for p in paths:
            with gzip.open(p, "rb") as f:
                counts.append(f.read().count(b"\n"))
        file_bytes = sum(os.path.getsize(p) for p in paths)
        rows = sum(counts)
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
        out = Outcome(True, rows, file_bytes, message_bytes=message_bytes,
                      files=len(paths), file_bytes=file_bytes)
        if err:
            out.ok, out.detail = False, err
        elif set(paths) != written or len(dirs) != 1:
            out.ok, out.detail = False, f"manifest {len(paths)} files, dir holds {len(written)}"
        elif rows != self.ref["rows"] or sum(r.record_count for r in results) != rows:
            out.ok, out.detail = False, f"{rows} rows in files, reference {self.ref['rows']}"
        elif max(counts) > self.batch_size:
            out.ok, out.detail = False, f"a file holds {max(counts)} > {self.batch_size} rows"
        return out


class QueryBank:
    name = "query_bank"
    tables = (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )

    def __init__(self, spark, work: str, ref: dict):
        from youcruit_tap_rawpostgresql_spark.querybank import REGISTRY

        self.spark = spark
        self.inputs = os.path.join(work, "inputs")
        self.ref = ref["reference"]
        self.input_bytes = ref["input_bytes"]
        self.cases = [REGISTRY[n] for n in QUERY_BANK_CASES]

    def run_case(self, case) -> int:
        return case.fn(self.spark, self.inputs).count()

    def run(self, k: int):
        return {c.name: self.run_case(c) for c in self.cases}

    def check(self, counts: dict) -> Outcome:
        rows = sum(counts.values())
        bad = {n: (c, self.ref["rows"][n]) for n, c in counts.items() if c != self.ref["rows"][n]}
        # "bytes produced" for the query bank: the input it reads per pass
        return Outcome(not bad, rows, self.input_bytes, f"row counts differ (spark, oracle): {bad}" if bad else "")


WORKLOADS = {w.name: w for w in (StdoutSync, BatchExport, QueryBank)}
