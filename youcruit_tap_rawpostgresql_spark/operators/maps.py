"""Stream maps: config-driven per-record transforms (reference R1).

The reference inherits Singer SDK stream maps (capability ``tap.py:256``,
settings ``README.md:35-36``): add/derive columns from expressions, rename,
drop/keep columns, filter records, and hash/mask PII. Columnar equivalents
are withColumn/drop/filter; masking uses SHA-256 (``F.sha2``). All transforms
stay inside whole-stage codegen — no per-record Python.

Map config shape (a pragmatic subset of Singer's stream_maps):

    {
      "derive":  {"new_col": "<spark SQL expr>"},
      "rename":  {"old": "new"},
      "keep":    ["col", ...],          # keep-only (applied after derive)
      "drop":    ["col", ...],          # mutually exclusive with keep
      "mask":    ["col", ...],          # sha256-hash in place
      "filter":  "<spark SQL boolean expr>"
    }

Stream-level forms (Singer SDK parity, resolved by ``SparkTap``):
a map value of ``None`` SUPPRESSES the stream from sync; a map under a
NEW stream name with ``{"__source__": "existing", ...transforms}``
DUPLICATES/ALIASES the source stream under that name. ``__``-prefixed
keys are directives, ignored here.

``stream_map_config`` (Singer SDK setting, reference README:36): a dict
of user-defined values referenceable inside derive/filter expressions as
``config.<key>`` — substituted as typed SQL literals before Catalyst
parses the expression (the SDK exposes the same dict to its simpleeval
expressions as ``config``).
"""

from __future__ import annotations

import re
from typing import Any, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_CONFIG_REF_RE = re.compile(r"\bconfig\.([A-Za-z_]\w*)")


def _bind_map_vars(expr: str, map_vars: Mapping[str, Any] | None) -> str:
    """Replace ``config.key`` references with quoted literals; unknown
    keys fail loudly (a typo'd reference would otherwise analyze as a
    missing column with a confusing error)."""
    if not map_vars and not _CONFIG_REF_RE.search(expr):
        return expr

    from youcruit_tap_rawpostgresql_spark.plans.dialect import (
        _scan_segments,
        quote_literal,
    )

    def repl(m: re.Match) -> str:
        key = m.group(1)
        if map_vars is None or key not in map_vars:
            raise KeyError(
                f"stream map expression references config.{key} but "
                "stream_map_config has no such key"
            )
        return quote_literal(map_vars[key])

    # a `config.key` shape inside a string literal of the expression is
    # text, not a reference — substitute in code segments only
    return "".join(
        _CONFIG_REF_RE.sub(repl, text) if kind == "code" else text
        for kind, text in _scan_segments(expr)
    )


def apply_stream_map(
    df: DataFrame,
    map_config: dict,
    map_vars: Mapping[str, Any] | None = None,
) -> DataFrame:
    """Apply one stream's map config to its DataFrame (``__`` directives
    like ``__source__`` are stream-level, handled by the tap).
    ``map_vars`` is the tap's ``stream_map_config`` dict."""
    from youcruit_tap_rawpostgresql_spark.plans.executor import (
        ensure_pg_functions_for,
    )

    def expr(text: str):
        text = _bind_map_vars(text, map_vars)
        # map expressions may call the PG extension functions too
        ensure_pg_functions_for(df.sparkSession, text)
        return F.expr(text)

    out = df
    for name, text in (map_config.get("derive") or {}).items():
        out = out.withColumn(name, expr(text))
    if map_config.get("filter"):
        out = out.filter(expr(map_config["filter"]))
    for col in map_config.get("mask") or []:
        out = out.withColumn(col, F.sha2(F.col(col).cast("string"), 256))
    for old, new in (map_config.get("rename") or {}).items():
        out = out.withColumnRenamed(old, new)
    keep = map_config.get("keep")
    if keep:
        out = out.select(*keep)
    else:
        for col in map_config.get("drop") or []:
            out = out.drop(col)
    return out
