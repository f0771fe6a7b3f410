"""BATCH export encode fan-out (``sink._encode_tasks``): an extract that
arrives in one split is spread over every core once its size estimate
passes the measured crossover, and stays one task below it. Task and
stage counts come from ``SparkContext.statusTracker()``."""

import glob
import gzip
import io
import json
import uuid

from pyspark.sql import functions as F

from youcruit_tap_rawpostgresql_spark import sink
from youcruit_tap_rawpostgresql_spark.spec import (
    BatchSinkConfig,
    ColumnSpec,
    StreamSpec,
    TapConfig,
)
from youcruit_tap_rawpostgresql_spark.state import StateStore
from youcruit_tap_rawpostgresql_spark.tap import SparkTap


def _single_split_parquet(spark, path, rows):
    """One parquet file of ``rows`` rows: an id and three 64-character hex
    strings, which do not compress, so the size estimate is ~200 B/row.
    A file under ``spark.sql.files.openCostInBytes`` (4 MiB) is read as
    one split."""
    (
        spark.range(rows)
        .select(
            "id",
            *(
                F.sha2(F.concat(F.col("id").cast("string"), F.lit(s)), 256).alias(s)
                for s in ("a", "b", "c")
            ),
        )
        .coalesce(1)
        .write.parquet(str(path))
    )
    df = spark.read.parquet(str(path))
    assert df.rdd.getNumPartitions() == 1
    return df


def _stage_tasks(spark, action):
    """Run ``action`` under a fresh job group; return the task count of
    every stage its jobs ran, in stage-id order."""
    sc = spark.sparkContext
    group = f"fanout-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "encode fan-out test")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    stage_ids = sorted(
        sid
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
    )
    return [tracker.getStageInfo(sid).numTasks for sid in stage_ids]


def _gz_line_total(files):
    n = 0
    for url in files:
        with gzip.open(url[len("file://"):], "rt") as fh:
            n += sum(1 for _ in fh)
    return n


def _spec(name):
    return StreamSpec(
        name=name, sql="SELECT 1", columns=[ColumnSpec("id", "int8", nullable=False)]
    )


def test_single_split_above_crossover_writes_on_every_core(spark, tmp_path):
    par = spark.sparkContext.defaultParallelism
    df = _single_split_parquet(spark, tmp_path / "src", 15_000)
    assert sink._plan_size_bytes(df) // sink._ENCODE_TASK_BYTES >= par
    out = {}

    def write():
        out["m"] = sink.write_batch_files(
            df, _spec("wide"), BatchSinkConfig(root=f"file://{tmp_path}/out")
        )

    tasks = _stage_tasks(spark, write)
    # the scan stage feeds the round-robin exchange; the write stage runs
    # one task per core
    assert tasks[-1] == par, tasks
    assert len(out["m"][0].files) >= par
    assert _gz_line_total(out["m"][0].files) == 15_000


def test_single_split_below_crossover_writes_without_exchange(spark, tmp_path):
    df = _single_split_parquet(spark, tmp_path / "src", 500)
    assert sink._plan_size_bytes(df) // sink._ENCODE_TASK_BYTES == 0
    out = {}

    def write():
        out["m"] = sink.write_batch_files(
            df, _spec("narrow"), BatchSinkConfig(root=f"file://{tmp_path}/out")
        )

    # one stage of one task: the scan writes directly, no Exchange
    assert _stage_tasks(spark, write) == [1]
    assert _gz_line_total(out["m"][0].files) == 500


def test_incremental_batch_sync_observes_through_the_exchange(spark, tmp_path):
    """The export's record count and bookmark ride the write job as
    Observations below the fan-out exchange; both must still equal what
    landed in the files and the slice's true max."""
    par = spark.sparkContext.defaultParallelism
    rows, start = 15_000, 999
    _single_split_parquet(spark, tmp_path / "src", rows).createOrReplaceTempView(
        "fanout_src"
    )
    spec = StreamSpec(
        name="fanout_inc",
        sql="SELECT id, a, b, c FROM fanout_src WHERE id > :rep_key_val",
        columns=[
            ColumnSpec("id", "int8", nullable=False),
            ColumnSpec("a", "text"),
            ColumnSpec("b", "text"),
            ColumnSpec("c", "text"),
        ],
        key_properties=["id"],
        replication_key="id",
        replication_key_value_start=str(start),
    )
    config = TapConfig(
        streams=[spec],
        batch=BatchSinkConfig(root=f"file://{tmp_path}/out", batch_size=100_000),
    )
    state = StateStore()
    buf = io.StringIO()
    res = {}

    def sync():
        res["r"] = SparkTap(config, spark, state=state, write=buf.write).sync_all(
            batch_mode=True
        )[0]

    tasks = _stage_tasks(spark, sync)
    assert par in tasks, tasks  # the export fanned out
    msgs = [json.loads(line) for line in buf.getvalue().splitlines()]
    files = [u for m in msgs if m["type"] == "BATCH" for u in m["manifest"]]
    assert sorted(files) == sorted(
        f"file://{p}" for p in glob.glob(f"{tmp_path}/out/*/*.json.gz")
    )
    assert res["r"].record_count == _gz_line_total(files) == rows - start - 1
    assert state.get_bookmark("spark-public-fanout_inc") == rows - 1
