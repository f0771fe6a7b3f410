"""PG extension functions (``plans/executor.py``) register in a session
only when a statement or stream-map expression calls one of them. Each
test uses its own ``spark.newSession()``: temporary functions are
session-scoped, so a fresh session starts with none registered."""

import io
import json

from youcruit_tap_rawpostgresql_spark.plans.executor import (
    PG_FUNCTION_NAMES,
    ensure_pg_functions,
    run_sql,
)
from youcruit_tap_rawpostgresql_spark.spec import ColumnSpec, StreamSpec, TapConfig
from youcruit_tap_rawpostgresql_spark.state import StateStore
from youcruit_tap_rawpostgresql_spark.tap import SparkTap


def _sync(session, sql, columns, stream_maps=None):
    """stdout-mode sync of one stream; returns its RECORD payloads."""
    spec = StreamSpec(
        name="s",
        sql=sql,
        columns=[ColumnSpec(n, t) for n, t in columns],
        key_properties=[columns[0][0]],
    )
    config = TapConfig(streams=[spec], stream_maps=stream_maps or {})
    buf = io.StringIO()
    SparkTap(config, session, state=StateStore(), write=buf.write).sync_all()
    msgs = [json.loads(line) for line in buf.getvalue().splitlines()]
    return [m["record"] for m in msgs if m["type"] == "RECORD"]


def _temp_functions(session):
    return {f.name for f in session.catalog.listFunctions() if f.isTemporary}


def test_plain_stream_registers_nothing(spark):
    s = spark.newSession()
    recs = _sync(s, "SELECT 1 AS id, 'x' || 'y' AS t", [("id", "int8"), ("t", "text")])
    assert recs == [{"id": 1, "t": "xy"}]
    assert not s.catalog.functionExists("similarity")
    assert not s.catalog.functionExists("jsonb_concat")


def test_stream_sql_calling_similarity_runs(spark):
    s = spark.newSession()
    recs = _sync(
        s,
        "SELECT 1 AS id, round(similarity('word', 'two words'), 8) AS sim",
        [("id", "int8"), ("sim", "float8")],
    )
    assert recs == [{"id": 1, "sim": 0.36363636}]
    assert s.catalog.functionExists("similarity")


def test_jsonb_concat_rewrite_registers(spark):
    """`||` over jsonb is rewritten to jsonb_concat(): the check reads the
    translated text, not the input."""
    s = spark.newSession()
    row = run_sql(s, """SELECT ('{"a":1}'::jsonb || '{"b":2}'::jsonb) AS j""").first()
    assert row["j"] == '{"a":1,"b":2}'


def test_map_derive_calling_similarity_runs(spark):
    s = spark.newSession()
    recs = _sync(
        s,
        "SELECT 1 AS id, 'word' AS a, 'two words' AS b",
        [("id", "int8"), ("a", "text"), ("b", "text")],
        stream_maps={"s": {"derive": {"sim": "round(similarity(a, b), 8)"}}},
    )
    assert recs[0]["sim"] == 0.36363636


def test_registered_names_are_the_listed_names(spark):
    """``PG_FUNCTION_NAMES`` decides when registration runs, so it must
    name exactly what ``ensure_pg_functions`` registers."""
    s = spark.newSession()
    before = _temp_functions(s)
    ensure_pg_functions(s)
    assert _temp_functions(s) - before == set(PG_FUNCTION_NAMES)
