"""Shared expression helpers for oracle-exact query construction."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from youcruit_tap_rawpostgresql_spark.memo import Memo, session_key

# 12,2 (not 18,2): keeps chained decimal products within both engines'
# 38-digit cap so no precision-loss rounding ever kicks in:
# (12,2)*(12,2)->(25,4), *(12,2) again -> (38,6) exact.
DEC = "decimal(12,2)"


def d(col) -> Column:
    """Cast a (2dp-exact) double column/expr to exact decimal."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def dsum(col, alias: str) -> Column:
    """Exact decimal sum of a 2dp double, emitted as double (bit-identical
    across engines because the decimal sum is exact)."""
    return F.sum(d(col)).cast("double").alias(alias)


def davg(col, alias: str) -> Column:
    """Exact-sum / count average: one IEEE division, identical across engines."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(d(c)).cast("double") / F.count(c)).alias(alias)


def iso_ts(col, alias: str | None = None) -> Column:
    """Format a timestamp to 'yyyy-MM-dd HH:mm:ss' string (TZ-safe output)."""
    c = F.date_format(F.col(col) if isinstance(col, str) else col, "yyyy-MM-dd HH:mm:ss")
    return c.alias(alias) if alias else c


def iso_date(col, alias: str | None = None) -> Column:
    """Format a timestamp/date to 'yyyy-MM-dd' string."""
    c = F.date_format(F.col(col) if isinstance(col, str) else col, "yyyy-MM-dd")
    return c.alias(alias) if alias else c


# DuckDB-side equivalents (oracle SQL fragments)
def o_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(12,2))) AS DOUBLE) AS {alias}"


def o_davg(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(12,2))) AS DOUBLE) / COUNT({expr}) AS {alias}"
    )


def o_iso_date(expr: str, alias: str) -> str:
    return f"strftime({expr}, '%Y-%m-%d') AS {alias}"


# width of the embeddings fixture vectors (TESTDATA.md) — lets vector math
# use the unrolled codegen form instead of the per-element fold
EMB_DIM = 64


# revenue = extendedprice * (1 - discount), exact decimal product then sum
def rev_col() -> Column:
    return d("l_extendedprice") * (F.lit(1).cast(DEC) - d("l_discount"))


def sessionized(e, *cols: str):
    """Shared 30-minute-gap sessionizer over the events table at FULL
    MICROSECOND precision (``unix_micros`` diff > 1800s·10⁶), matching the
    ``ts - LAG(ts) > INTERVAL 30 MINUTE`` oracle fragment and the
    streaming sessionizer's µs state exactly. One definition — the five
    batch session operators previously each carried a floor-to-second
    copy whose boundary differed from their oracles for gaps inside
    (1800, 1801) seconds (latent: no such gap in current fixtures).

    Returns ``e.select(*cols, session_seq)``."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_session = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    return e.select(
        *cols,
        F.sum(new_session)
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("bigint")
        .alias("session_seq"),
    )


O_REV = "CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))"


def keep_first_per_key(df, key, order_col: str = "doc_id"):
    """Window dedup: keep the lowest-``order_col`` row per ``key`` — the
    shared stage primitive of the dedup cascades (previously duplicated
    verbatim in dedup_cascade_report and pipeline_resumable_cascade;
    round-7 self-review). WindowGroupLimit bounds the per-key exchange."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    w = W.partitionBy(key).orderBy(order_col)
    return (
        df.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .drop("_r")
    )


def spread(df):
    """Repartition a small single-split input across cores before heavy
    per-row work (interpreted higher-order functions, Python kernels,
    per-row compression). A 3 MB parquet table arrives as ONE split, so
    everything downstream of it runs in one task until a shuffle; the
    round-5 timing census found several text operators serializing
    seconds of interpreted shingling this way. No-op when the split
    count already covers the cores (the production case).

    Pair with inline explode of heavy array expressions: exploding a
    pre-projected array column lets InferFiltersFromGenerate push a
    size-filter BELOW this exchange, re-running the heavy expression on
    the single pre-exchange split (see dedup_ngram_jaccard's plan
    test).

    The split-count probe (``df.rdd.getNumPartitions()``) compiles the
    physical plan on the driver — measured ~100 ms warm, ~480 ms on
    first touch (r13). The decision is a pure function of the semantic
    plan in a given session (the fixtures and any per-run intermediates
    are immutable while a session lives), so it is memoized on
    (session, semanticHash) — ~1 ms on repeat invocations (bench
    attempts, steady-state reps, the oracle sweep's re-runs)."""
    par, needs = _needs_spread(df)
    if needs:
        return df.repartition(par)
    return df


def spread_keyed(df, *cols):
    """``spread`` variant for the memoized signature/index builders:
    hash-repartition across cores by ``cols`` ONLY when the input arrives
    in fewer splits than cores (the bench fixtures' single-parquet-file
    case). The builders previously repartitioned UNCONDITIONALLY — but
    ``repartition(n, key)`` always inserts an exchange, so on a real
    multi-file production scan the index build paid a full shuffle of the
    corpus PAYLOAD (embeddings/documents) that buys nothing: the kernels
    are strictly per-row/per-doc and the scan's own splits already
    provide the parallelism (guide §2.4 — an exchange you did not
    expect). Hash-by-key (not round-robin) is kept for the small-input
    case because round-robin pays a local sort of every row
    (``spark.sql.execution.sortBeforeRepartition``) — pure overhead on
    the wide embedding/text payloads these builders carry. The split
    probe shares spread()'s memo."""
    par, needs = _needs_spread(df)
    if needs:
        return df.repartition(par, *cols)
    return df


def _needs_spread(df):
    """(cores, should-repartition?) — the memoized single-split probe
    shared by spread()/spread_keyed()."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        key = (session_key(spark), df.semanticHash(), par)
    except Exception:  # noqa: BLE001 — probe path works for any frame
        key = None
    return par, _SPREADS.get(key, lambda: df.rdd.getNumPartitions() < par)


_SPREADS = Memo("helpers.spread", bound=512)
# one slot per tag (a re-persist under a tag releases the previous frame);
# the tags are a fixed set of call sites, far fewer than the bound
_PERSIST_SLOTS = Memo("helpers.persist_scoped", bound=64)
_BROADCAST_SLOTS = Memo("helpers.broadcast_scoped", bound=64)


def persist_scoped(tag: str, df):
    """Persist ``df`` (MEMORY_AND_DISK) as the one live frame under
    ``tag``, unpersisting the frame last persisted under it — bounds
    executor-cache growth across long-lived sessions (bench loops, oracle
    sweeps) to ONE live copy per operator instead of one per invocation.
    Dropping the previous copy is always CORRECT: unpersist only discards
    cached partitions — a stale handle that is re-collected recomputes
    from lineage."""
    from pyspark import StorageLevel

    return _PERSIST_SLOTS.put(tag, lambda: df.persist(StorageLevel.MEMORY_AND_DISK))


def broadcast_scoped(tag: str, spark, value):
    """Broadcast ``value`` as the one live broadcast under ``tag``,
    unpersisting the broadcast last made under it — the broadcast
    analogue of ``persist_scoped`` for multi-MB structures (the sized
    Bloom bitmap). ``unpersist`` (NOT ``destroy``) keeps this
    recompute-correct: executor blocks are freed deterministically, but
    the driver retains the value, so a stale result handle from a prior
    invocation that is re-executed simply re-ships the broadcast instead
    of failing; the driver-side copy itself is reclaimed by Spark's
    ContextCleaner once the old closure is garbage collected."""
    return _BROADCAST_SLOTS.put(tag, lambda: spark.sparkContext.broadcast(value))
