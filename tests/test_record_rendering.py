"""One record rendering for every JSON path: Singer RECORD lines
(``sink.emit_record_messages``), BATCH files (``sink.write_batch_files``)
and the ``singer_batch`` DataSource writer must write the same record
text, and every line must be strict JSON."""

import decimal
import glob
import gzip
import io
import json
import logging

import pytest
from py4j.protocol import Py4JError

from youcruit_tap_rawpostgresql_spark import sink
from youcruit_tap_rawpostgresql_spark.sink import (
    emit_record_messages,
    write_batch_files,
)
from youcruit_tap_rawpostgresql_spark.spec import (
    BatchSinkConfig,
    ColumnSpec,
    StreamSpec,
)

# one row of every type the rendering pins; `numeric` is the
# config-declared default decimal(38,18)
PINNED_ROW_SQL = """
SELECT
  CAST('12.5' AS DECIMAL(38,18)) AS num,
  CAST(NULL AS DECIMAL(38,18)) AS num_null,
  X'00FF10' AS blob,
  DATE'2021-11-22' AS d,
  TIMESTAMP'2021-11-22 11:45:11' AS ts_whole,
  TIMESTAMP'2021-11-22 11:45:11.062824' AS ts_micros,
  TIMESTAMP_NTZ'2021-11-22 11:45:11.5' AS ntz,
  ARRAY(1, NULL, 3) AS arr,
  NAMED_STRUCT('a', 1, 'b', CAST(NULL AS STRING)) AS st,
  MAP('k', 1.5D) AS m,
  CAST(NULL AS STRING) AS null_text,
  CAST('NaN' AS DOUBLE) AS nan,
  CAST('Infinity' AS DOUBLE) AS pinf,
  CAST('-Infinity' AS DOUBLE) AS ninf,
  1.0E10D AS big,
  'héllo 世界 "q"' AS text
"""

EXPECTED = {
    "num": decimal.Decimal("12.500000000000000000"),
    "num_null": None,
    "blob": "AP8Q",
    "d": "2021-11-22",
    "ts_whole": "2021-11-22T11:45:11.000000+00:00",
    "ts_micros": "2021-11-22T11:45:11.062824+00:00",
    "ntz": "2021-11-22T11:45:11.500000+00:00",
    "arr": [1, None, 3],
    "st": {"a": 1, "b": None},
    "m": {"k": decimal.Decimal("1.5")},
    "null_text": None,
    "nan": "NaN",
    "pinf": "Infinity",
    "ninf": "-Infinity",
    "big": decimal.Decimal("1.0E10"),
    "text": 'héllo 世界 "q"',
}


def _strict(text: str):
    """Strict JSON (rejects the NaN/Infinity constants); numbers parse as
    Decimal so a decimal's scale stays visible."""

    def reject(tok):
        raise ValueError(f"non-JSON constant {tok}")

    return json.loads(
        text, parse_constant=reject, parse_float=decimal.Decimal
    )


def _spec(name="pinned"):
    return StreamSpec(
        name=name,
        sql="x",
        columns=[ColumnSpec("num", "numeric")],
        key_properties=[],
    )


def _gz_lines(paths):
    out = []
    for p in sorted(paths):
        with gzip.open(p, "rt", encoding="utf-8") as fh:
            out.extend(line.rstrip("\n") for line in fh if line.strip())
    return out


def _record_line(df, spec):
    buf = io.StringIO()
    assert emit_record_messages(df, spec, buf.write) == 1
    return buf.getvalue()


def _batch_line(df, spec, root):
    manifests = write_batch_files(
        df, spec, BatchSinkConfig(root=root), exact_rotation=True
    )
    (line,) = _gz_lines(u[len("file://"):] for u in manifests[0].files)
    return line


def _singer_batch_line(spark, df, root):
    from youcruit_tap_rawpostgresql_spark.sources import singer_batch

    singer_batch.register(spark)
    df.coalesce(1).write.format("singer_batch").mode("overwrite").save(root)
    (line,) = _gz_lines(glob.glob(f"{root}/*.json.gz"))
    return line


def test_record_rendering_is_pinned_and_shared(spark, tmp_path):
    df = spark.sql(PINNED_ROW_SQL)
    spec = _spec()
    line = _record_line(df, spec)
    assert line.endswith("}\n") and line.count("\n") == 1
    msg = _strict(line)
    assert msg["type"] == "RECORD"
    assert msg["stream"] == spec.fully_qualified_name
    assert msg["record"] == EXPECTED
    assert list(msg["record"]) == list(EXPECTED)  # column order kept
    # decimal at its column scale, text as raw UTF-8
    assert msg["record"]["num"].as_tuple().exponent == -18
    assert "héllo 世界" in line

    batch = _batch_line(df, spec, str(tmp_path / "batch"))
    python_written = _singer_batch_line(spark, df, str(tmp_path / "sb"))
    assert _strict(batch) == msg["record"]
    assert _strict(python_written) == msg["record"]
    # the record text itself is byte-identical on all three paths
    head = (
        '{"type": "RECORD", "stream": '
        + json.dumps(spec.fully_qualified_name)
        + ', "record": '
    )
    assert line == head + batch + "}\n"
    assert python_written == batch


def test_python_renderer_matches_java_doubles():
    from youcruit_tap_rawpostgresql_spark.sources.singer_batch import (
        _java_double,
    )

    cases = [
        (0.0, "0.0"),
        (-0.0, "-0.0"),
        (1.5, "1.5"),
        (0.001, "0.001"),
        (1234567.0, "1234567.0"),
        (1e7, "1.0E7"),
        (1e10, "1.0E10"),
        (-1.25e-5, "-1.25E-5"),
        (1.7976931348623157e308, "1.7976931348623157E308"),
        (5e-324, "4.9E-324"),
        (float("nan"), '"NaN"'),
        (float("-inf"), '"-Infinity"'),
    ]
    for x, want in cases:
        assert _java_double(x) == want, x


def test_batch_files_keep_null_fields(spark, tmp_path):
    """A NULL column is present as ``null`` in a BATCH file row, exactly
    as in the RECORD message (Spark's JSON writer drops NULL fields by
    default)."""
    df = spark.sql(
        "SELECT 1 AS id, CAST(NULL AS STRING) AS note, "
        "NAMED_STRUCT('a', CAST(NULL AS INT)) AS st"
    )
    line = _batch_line(df, _spec("nulls"), str(tmp_path / "batch"))
    assert json.loads(line) == {"id": 1, "note": None, "st": {"a": None}}


def test_batch_files_read_back_non_finite_doubles(spark, tmp_path):
    """The ``"NaN"``/``"Infinity"`` strings a BATCH file holds for
    non-finite doubles read back as doubles through ``singer_batch``."""
    import math

    from youcruit_tap_rawpostgresql_spark.sources import singer_batch

    df = spark.sql(
        "SELECT 1 AS id, CAST('NaN' AS DOUBLE) AS x UNION ALL "
        "SELECT 2, CAST('Infinity' AS DOUBLE) UNION ALL "
        "SELECT 3, CAST('-Infinity' AS DOUBLE) UNION ALL SELECT 4, 0.5D"
    )
    (m,) = write_batch_files(
        df, _spec("nonfinite"), BatchSinkConfig(root=str(tmp_path)),
        exact_rotation=True,
    )
    singer_batch.register(spark)
    back = dict(
        spark.read.format("singer_batch").schema(df.schema)
        .load(m.files[0][len("file://"):].rsplit("/", 1)[0])
        .collect()
    )
    assert math.isnan(back[1])
    assert back[2] == math.inf and back[3] == -math.inf and back[4] == 0.5


def test_emit_record_messages_never_collects_whole_frame(spark, monkeypatch):
    """Rows reach the driver one partition at a time: emission works with
    every whole-result collection path disabled."""
    from pyspark.sql import DataFrame

    df = spark.range(0, 2000, numPartitions=4).selectExpr(
        "id", "CAST(id AS STRING) AS s"
    )

    def refuse(*_a, **_k):
        raise AssertionError("emission collected the whole frame")

    for name in ("collect", "toArrow", "toPandas"):
        monkeypatch.setattr(DataFrame, name, refuse)
    buf = io.StringIO()
    assert emit_record_messages(df, _spec("bounded"), buf.write) == 2000
    ids = sorted(_strict(x)["record"]["id"] for x in buf.getvalue().splitlines())
    assert ids == list(range(2000))


def test_size_probe_fallback_warns_once(spark, tmp_path, monkeypatch, caplog):
    """When the private plan-size probe fails with a py4j/API error, the
    export fans out to every core and says so once per process."""

    def moved(_df):
        raise Py4JError("stats() is gone")

    monkeypatch.setattr(sink, "_plan_size_bytes", moved)
    monkeypatch.setattr(sink, "_size_probe_warned", False)
    df = spark.range(10)
    par = spark.sparkContext.defaultParallelism
    with caplog.at_level(logging.WARNING, logger=sink.__name__):
        assert sink._encode_tasks(df) == par
        assert sink._encode_tasks(df) == par
        m = write_batch_files(df, _spec("probe"), BatchSinkConfig(root=str(tmp_path)))
    warnings = [r for r in caplog.records if "size estimate" in r.getMessage()]
    assert len(warnings) == 1
    assert "stats() is gone" in warnings[0].getMessage()
    assert sum(len(_gz_lines([f[len("file://"):]])) for f in m[0].files) == 10


def test_size_probe_does_not_hide_other_errors(spark, monkeypatch):
    def broken(_df):
        raise RuntimeError("not an API-drift error")

    monkeypatch.setattr(sink, "_plan_size_bytes", broken)
    with pytest.raises(RuntimeError):
        sink._encode_tasks(spark.range(1))
