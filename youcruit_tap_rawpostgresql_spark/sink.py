"""Sinks: gzip-JSONL batch files + manifests (reference S5-S7) and the
Singer message protocol (S8).

Reference behavior (``client.py:185-245``): records stream into gzip JSONL
files rotated every ``batch_size`` rows, named
``{prefix}{tap}--{stream}-{uuid}-{i}.json.gz`` under ``storage.root``; each
batch yields a manifest ``(encoding, [file_url])``; timestamps serialize as
ISO-8601 with offset (``tests/test_postgres.py:200-203``).

One rendering for every record: RECORD messages and BATCH files both go
through Spark's JSON generator with ``JSON_OPTIONS``, so a row renders to
the same bytes on either path. The rendering:

- timestamps always carry microseconds and an offset
  (``2021-11-22T11:45:11.000000+00:00``); TIMESTAMP_NTZ is pinned to
  ``+00:00``; dates are ``yyyy-MM-dd``;
- decimals are JSON numbers at their column scale (``12.500`` for
  ``decimal(p,3)``);
- non-finite doubles are the strings ``"NaN"``, ``"Infinity"`` and
  ``"-Infinity"``, so every line parses as strict JSON;
- binary is base64, structs and maps are objects, NULL fields are kept as
  ``null``, and text is raw UTF-8.

Spark mapping: ``df.write.option("compression","gzip")
.option("maxRecordsPerFile", batch_size).json(...)`` — rotation happens
per-task (each task rolls a new file every batch_size rows), which is the
scale-out generalization of the reference's single-writer loop. Part files
are renamed to the reference convention for ``file://`` roots; remote
object stores keep Spark's part names inside the manifest (rename = copy on
S3 — not worth it).

Scale: the write parallelizes across partitions; there is no driver-side
row loop. ``coalesce`` is applied only when the caller asks for
reference-exact global rotation (small exports). RECORD emission renders
each line in the JVM and pulls one string per row to the driver, one
partition at a time.
"""

from __future__ import annotations

import glob
import json
import logging
import os
import uuid as _uuid
from dataclasses import dataclass
from urllib.parse import urlparse

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from youcruit_tap_rawpostgresql_spark.spec import BatchSinkConfig, StreamSpec

# ISO-8601 with microseconds and numeric offset: 2021-11-22T11:45:11.062824+00:00
ISO_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx"

# The JSON generator options every record path renders with (RECORD lines
# through ``to_json``, BATCH files through the JSON writer).
JSON_OPTIONS = {
    "timestampFormat": ISO_TS_FORMAT,
    # TIMESTAMP_NTZ has no zone; the session runs in UTC, so its wall
    # clock is a UTC instant
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'+00:00'",
    # a Singer record carries every declared property, NULL ones as null
    "ignoreNullFields": "false",
}

_log = logging.getLogger(__name__)
_size_probe_warned = False


@dataclass(frozen=True)
class BatchManifest:
    """One emitted batch: encoding descriptor + file URLs (reference
    ``get_batches`` yield shape, ``client.py:243-245``)."""

    format: str
    compression: str
    files: list[str]

    def to_message(self, stream_name: str) -> dict:
        """Singer BATCH message payload."""
        return {
            "type": "BATCH",
            "stream": stream_name,
            "encoding": {"format": self.format, "compression": self.compression},
            "manifest": self.files,
        }


def write_batch_files(
    df: DataFrame,
    spec: StreamSpec,
    batch: BatchSinkConfig,
    tap_name: str = "tap-rawpostgresql-spark",
    exact_rotation: bool | None = None,
) -> list[BatchManifest]:
    """Write ``df`` as gzip JSONL batch files; return manifests.

    ``exact_rotation=True`` coalesces to one partition so file rotation is
    globally exact every ``batch_size`` rows (reference-equivalent; use for
    small exports only). Default keeps task parallelism: each task rotates
    at ``batch_size``, so files are ≤ batch_size rows (acceptable drift
    documented in SURVEY.md §3 Q3). ``None`` (the default) defers to
    ``batch.exact_rotation``, so the reference-parity mode is reachable
    from CONFIG (``batch_config.exact_rotation``), not just code.
    """
    if exact_rotation is None:
        exact_rotation = batch.exact_rotation
    parsed = urlparse(batch.root if "://" in batch.root else f"file://{batch.root}")
    sync_id = f"{tap_name}--{spec.name}-{_uuid.uuid4()}"
    out_dir = os.path.join(batch.root, sync_id)

    # reference contract is gzip (client.py:185-245); the config may opt
    # into any Spark-supported text codec (zstd measured ~2x faster to
    # encode at equal-or-better ratio — see VERIFICATION.md, round 5)
    codec = batch.encoding_compression or "gzip"
    ext = {"gzip": "gz", "zstd": "zst", "bzip2": "bz2", "none": ""}.get(
        codec, codec
    )
    if exact_rotation:
        writer = df.coalesce(1)
    else:
        # an extract that arrives in few splits (one parquet row group,
        # one JDBC partition) would run the whole JSON+gzip encode in one
        # task while the other cores idle; spread it first — the encode
        # is the cost, the round-robin exchange is small. Round-robin
        # (not a hash or range key) balances any row set, and its local
        # sort keeps a retried task's rows in the same order. Skipping
        # the spread for small inputs also skips the df.rdd partition
        # probe (a driver-side plan conversion).
        writer = df
        target = _encode_tasks(df)
        if target > 1 and df.rdd.getNumPartitions() < target:
            writer = df.repartition(target)
    (
        writer.write.mode("overwrite")
        .option("compression", codec)
        .option("maxRecordsPerFile", batch.batch_size)
        .options(**JSON_OPTIONS)
        .json(out_dir)
    )

    suffix = f".json.{ext}" if ext else ".json"
    if parsed.scheme == "file":
        local_dir = urlparse(out_dir).path
        parts = sorted(glob.glob(os.path.join(local_dir, f"part-*{suffix}")))
        files = []
        for i, part in enumerate(parts):
            new_name = os.path.join(
                local_dir, f"{batch.prefix}{sync_id}-{i}{suffix}"
            )
            os.rename(part, new_name)
            files.append(f"file://{new_name}")
    else:  # remote FS: list via Spark's own catalog of written files
        files = [
            f"{out_dir.rstrip('/')}/{os.path.basename(p)}"
            for p in sorted(
                f.path if hasattr(f, "path") else f
                for f in _list_remote(df, out_dir)
            )
        ]
    return [
        BatchManifest(
            format=batch.encoding_format,
            compression=batch.encoding_compression,
            files=files,
        )
    ]


def _plan_size_bytes(df: DataFrame) -> int:
    """The optimizer's size estimate of ``df``. Private API: pyspark has
    no public surface for it."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


# Estimated input bytes per encode task. Measured on 4 cores,
# ``write_batch_files`` of a single-split lineitem-shaped parquet file,
# median of 7 runs, one task vs. four:
#
#   rows   estimate   one task   four tasks
#   2k      54 KiB     0.23 s     0.28 s
#   10k    211 KiB     0.27 s     0.31 s
#   20k    386 KiB     0.44 s     0.40 s
#   40k    738 KiB     0.54 s     0.41 s
#   150k  2563 KiB     1.51 s     0.91 s
#
# Below ~300 KiB the exchange costs more than the parallel encode saves.
# Spread output is a few percent larger: round-robin interleaves rows
# that sat together in the source, so gzip finds fewer repeats.
_ENCODE_TASK_BYTES = 256 * 1024


def _encode_tasks(df: DataFrame) -> int:
    """Tasks to spread a BATCH export's JSON+gzip encode over: one per
    ``_ENCODE_TASK_BYTES`` of estimated input, capped at the core count.
    When the size probe is unavailable (a Spark upgrade moved it, or a
    Spark Connect frame has no ``_jdf``) the export fans out to every
    core, and a warning says so once per process."""
    global _size_probe_warned
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        est = _plan_size_bytes(df)
    except (AttributeError, Py4JError) as e:
        if not _size_probe_warned:
            _size_probe_warned = True
            _log.warning(
                "plan size estimate unavailable (%s: %s); BATCH exports "
                "spread their encode over all %d cores",
                type(e).__name__, e, par,
            )
        return par
    return min(par, max(1, est // _ENCODE_TASK_BYTES))


def _list_remote(df: DataFrame, out_dir: str) -> list[str]:
    """List part files on a Hadoop FS (jvm gateway; local-free path)."""
    sc = df.sparkSession.sparkContext
    jvm = sc._jvm
    conf = sc._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(out_dir)
    fs = path.getFileSystem(conf)
    return [
        str(s.getPath().toString())
        for s in fs.listStatus(path)
        if "part-" in str(s.getPath().getName())
    ]


# ---------------------------------------------------------------------------
# Singer message emission (S8)
# ---------------------------------------------------------------------------


def emit_schema_message(spec: StreamSpec, write) -> None:
    write(
        json.dumps(
            {
                "type": "SCHEMA",
                "stream": spec.fully_qualified_name,
                "schema": spec.jsonschema(),
                "key_properties": spec.key_properties,
                **(
                    {"bookmark_properties": [spec.replication_key]}
                    if spec.replication_key
                    else {}
                ),
            }
        )
        + "\n"
    )


def emit_record_messages(df: DataFrame, spec: StreamSpec, write) -> int:
    """Emit one Singer RECORD message per row of ``df``; return the count.

    Each line is built in the JVM by one expression (``to_json`` over all
    columns with ``JSON_OPTIONS``, wrapped in the message envelope), so
    the record renders exactly as ``write_batch_files`` renders it. The
    driver pulls one string per row through ``toLocalIterator`` (one
    partition in memory at a time) and hands it to ``write``.
    """
    head = (
        '{"type": "RECORD", "stream": '
        + json.dumps(spec.fully_qualified_name)
        + ', "record": '
    )
    line = F.concat(
        F.lit(head), F.to_json(F.struct("*"), JSON_OPTIONS), F.lit("}\n")
    )
    n = 0
    for (text,) in df.select(line).toLocalIterator():
        write(text)
        n += 1
    return n


def emit_state_message(state_dict: dict, write) -> None:
    write(json.dumps({"type": "STATE", "value": state_dict}) + "\n")


# ---------------------------------------------------------------------------
# Small-file compaction
# ---------------------------------------------------------------------------


def compact_output(
    spark,
    in_path: str,
    out_path: str,
    fmt: str = "parquet",
    target_file_bytes: int = 128 * 1024 * 1024,
    **read_options,
) -> int:
    """Rewrite a directory of small files into ~``target_file_bytes`` files;
    returns the output file count.

    The long-running incremental tap (reference F2 semantics) appends one
    batch of files per sync — after thousands of syncs the table is millions
    of tiny files and every scan pays per-file open/footer cost. Compaction
    sizes the output from the *measured* input bytes (Hadoop FS content
    summary, so file://, s3a:// etc. all work) and lets a round-robin
    ``repartition`` write evenly sized files. Row order is not preserved
    (irrelevant for unordered table storage).

    Scale: one full read + shuffle + write of the compacted partition —
    run it per time-partition (e.g. per day), not over the whole table.
    """
    import math

    if in_path.rstrip("/") == out_path.rstrip("/"):
        # static overwrite deletes the target before the lazy read runs —
        # in-place compaction would destroy the very data being compacted
        raise ValueError(
            "compact_output: out_path must differ from in_path "
            "(overwrite deletes the input before the read executes)"
        )

    sc = spark.sparkContext
    jvm = sc._jvm
    conf = sc._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(in_path)
    fs = jpath.getFileSystem(conf)
    total_bytes = fs.getContentSummary(jpath).getLength()
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))

    df = spark.read.options(**read_options).format(fmt).load(in_path)
    df.repartition(n_files).write.mode("overwrite").format(fmt).save(out_path)

    out_jpath = jvm.org.apache.hadoop.fs.Path(out_path)
    out_fs = out_jpath.getFileSystem(conf)
    return sum(
        1
        for s in out_fs.listStatus(out_jpath)
        if str(s.getPath().getName()).startswith("part-")
    )
