"""Span recorder for the traced run.

Spans are recorded from the benchmark's own files, around calls into each
layer's public functions: the names ``tap.py`` calls are wrapped in the
``tap`` module's namespace, plus ``translate_pg_sql`` (as ``executor``
calls it), ``StateStore.flush`` and each query-bank case. Spans stay in memory; the runner turns
them into per-layer numbers at the end.

Spark work inside a wrapped call is tagged with
``sc.setJobGroup("<workload>:<stream>:<phase>:<run>")`` and counted afterwards
from ``sc.statusTracker()``; no UI server or event log is needed.
"""

from __future__ import annotations

import contextlib
import itertools
import time
from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Recorder:
    """In-memory spans plus the Spark job groups opened while recording."""

    def __init__(self, sc, workload: str):
        self.sc = sc
        self.workload = workload
        self.spans: list[Span] = []
        self.groups: set[str] = set()
        self.run = ""
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._group_stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(next(self._ids), name, time.perf_counter(), 0.0, parent, self.run, attrs)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    @contextlib.contextmanager
    def job_group(self, stream: str, phase: str):
        """Tag the Spark jobs started inside with
        ``workload:stream:phase:run`` (the enclosing group is restored on
        exit)."""
        group = f"{self.workload}:{stream}:{phase}:{self.run}"
        self._group_stack.append(group)
        self.groups.add(group)
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self._group_stack.pop()
            if self._group_stack:
                self.sc.setJobGroup(self._group_stack[-1], self._group_stack[-1])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def spark_counts(self, run: str) -> dict[str, int]:
        """Jobs, executed stages, tasks and failed tasks of one run's
        groups. A stage skipped because its shuffle output was reused has
        no completed task and is not counted."""
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        seen: set[int] = set()
        for g in self.groups:
            if not g.endswith(f":{run}") or ":rows_in:" in g:
                continue
            for jid in tracker.getJobIdsForGroup(g):
                jobs += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is None or sid in seen or st.numCompletedTasks == 0:
                        continue
                    seen.add(sid)
                    stages += 1
                    tasks += st.numTasks
                    failed += st.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}


class Instrumentation:
    """Installs and removes the wrappers. ``frames_in`` collects the frames
    ``run_stream_sql`` returned during the current iteration, so the runner
    can count operator input rows after the iteration's clock stops."""

    def __init__(self, rec: Recorder):
        self.rec = rec
        self.frames_in: list = []
        self._saved: list[tuple[Any, str, Any]] = []

    def _patch(self, owner, name: str, wrapper_factory: Callable[[Any], Any]) -> None:
        orig = getattr(owner, name)
        self._saved.append((owner, name, orig))
        setattr(owner, name, wrapper_factory(orig))

    def _spanned(self, span_name: str):
        """A wrapper factory that only records a span around the call
        (plan-building calls start no Spark job)."""
        rec = self.rec

        def factory(orig):
            def wrapper(*args, **kwargs):
                with rec.span(span_name):
                    return orig(*args, **kwargs)

            return wrapper

        return factory

    def install(self) -> None:
        from workloads import QueryBank

        from youcruit_tap_rawpostgresql_spark import tap
        from youcruit_tap_rawpostgresql_spark.plans import executor
        from youcruit_tap_rawpostgresql_spark.state import StateStore

        rec = self.rec

        def run_stream_sql(orig):
            def wrapper(spark, spec, *args, **kwargs):
                with rec.span("plans.run_stream_sql"), rec.job_group(spec.name, "plan"):
                    df = orig(spark, spec, *args, **kwargs)
                self.frames_in.append(df)
                return df

            return wrapper

        def noop_exec(df, stream: str, sink: str) -> None:
            # the same prepared frame, executed to a sink that discards
            # rows: Spark's share of the sink call, recorded as a sibling
            with rec.span("spark.exec", stream=stream, sink=sink), rec.job_group(stream, "exec"):
                df.write.format("noop").mode("overwrite").save()

        def emit(orig):
            def wrapper(df, spec, write):
                noop_exec(df, spec.name, "emit")
                first: list[float] = []

                def timed_write(line: str) -> None:
                    if not first:
                        first.append(time.perf_counter())
                    write(line)

                with rec.span("sink.emit_record_messages", stream=spec.name) as s, \
                        rec.job_group(spec.name, "emit"):
                    n = orig(df, spec, timed_write)
                s.attrs["first"] = (first[0] if first else s.end) - s.start
                return n

            return wrapper

        def write_batch(orig):
            def wrapper(df, spec, *args, **kwargs):
                noop_exec(df, spec.name, "write")
                with rec.span("sink.write_batch_files", stream=spec.name), \
                        rec.job_group(spec.name, "write"):
                    return orig(df, spec, *args, **kwargs)

            return wrapper

        def sync_stream(orig):
            def wrapper(self_, spec, *args, **kwargs):
                # jobs tap.py starts itself (the persist, the bookmark
                # max()) fall into this stream's "sync" group
                with rec.span("tap.sync_stream", stream=spec.name), rec.job_group(spec.name, "sync"):
                    return orig(self_, spec, *args, **kwargs)

            return wrapper

        def run_case(orig):
            # the query bank is not a tap: time each case's build
            # (``case.fn``) and its execution (``count()``)
            def wrapper(wl, case):
                with rec.span("querybank.case", case=case.name), rec.job_group(case.name, "case"):
                    with rec.span("querybank.build", case=case.name):
                        df = case.fn(wl.spark, wl.inputs)
                    with rec.span("spark.exec", case=case.name):
                        return df.count()

            return wrapper

        self._patch(tap, "run_stream_sql", run_stream_sql)
        self._patch(tap, "conform", self._spanned("operators.conform"))
        self._patch(tap, "apply_stream_map", self._spanned("operators.apply_stream_map"))
        self._patch(tap, "flatten_struct_columns", self._spanned("operators.flatten"))
        self._patch(tap, "apply_replication_filter", self._spanned("operators.replication_filter"))
        self._patch(tap, "emit_record_messages", emit)
        self._patch(tap, "write_batch_files", write_batch)
        self._patch(tap.SparkTap, "sync_stream", sync_stream)
        self._patch(tap.SparkTap, "sync_all", self._spanned("tap.sync_all"))
        self._patch(executor, "translate_pg_sql", self._spanned("plans.translate"))
        self._patch(StateStore, "flush", self._spanned("state.flush"))
        self._patch(QueryBank, "run_case", run_case)

    def uninstall(self) -> None:
        while self._saved:
            owner, name, orig = self._saved.pop()
            setattr(owner, name, orig)

    def count_rows_in(self) -> int:
        """Rows of the frames ``run_stream_sql`` returned since the last
        call (extra Spark jobs; run them outside any timed span)."""
        frames, self.frames_in = self.frames_in, []
        with self.rec.job_group("-", "rows_in"):
            return sum(df.count() for df in frames)


def self_time(span: Span, children: list[Span]) -> float:
    """Duration minus the part of the span's interval its children cover."""
    return span.dur - covered(children, span.start, span.end)


def covered(spans: list[Span], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, x.start), min(hi, x.end)) for x in spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
