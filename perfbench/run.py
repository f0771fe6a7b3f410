"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload stdout_sync --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The process is one client in a closed
loop: the next sync (or query pass) starts only after the previous one
returned. Spark runs ``local[<cores>]`` through ``session.get_session``,
with every core the process may use.

A run:
1. generates the seeded inputs and their DuckDB reference results in a
   child process (``reference.py``), under ``.perfbench_work/``;
2. sets up: session start (which launches the JVM) plus source
   registration, once, in this fresh process (``setup_s``);
3. runs one cold iteration, then ``--seconds / ITERATION_S`` steady
   iterations, then checks every iteration's output;
4. prints a report, a ``RESULT`` line with every detail (read by
   ``compare.py``), and as the last line the JSON result object.

``--trace 1`` is a separate run that alternates untraced and traced
steady iterations and prints the per-layer metrics (see README.md).
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "youcruit_tap_rawpostgresql_spark"
CORES = len(os.sched_getaffinity(0))
# --seconds buys one steady iteration per ITERATION_S (each workload's
# steady iteration takes ~2 s on 4 cores). A fixed count, not a deadline:
# walls keep falling for ~15 iterations while the JVM compiles, so every
# run, and a faster commit as much as its parent, must time the same
# stretch of that curve.
ITERATION_S = 2.0
MIN_STEADY = 3

sys.path.insert(0, HERE)


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, or (0, 0) off Linux."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def _tail(values: list[float]) -> tuple[str, float] | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 20:
        return None
    p = (n - 10) * 100 // n
    return f"p{p}", statistics.quantiles(values, n=100, method="inclusive")[p - 1]


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.session_s = None  # the set-up, in the fresh process
        self.register_s = None
        self.walls: list[float] = []  # steady, untraced
        self.traced_walls: list[float] = []
        self.cold = None
        self.outcomes = []
        self.pending: list[tuple] = []
        self.layer_rows: list[dict] = []
        self.rss_mb = None
        self.spark = None
        self.tables = 0
        self.steal = 0.0
        self.spans: list[dict] = []  # a traced run's spans, written out at the end

    # -- set-up ---------------------------------------------------------
    def make_inputs(self) -> dict:
        ref_path = os.path.join(self.work, "reference.json")
        cmd = [
            sys.executable, os.path.join(HERE, "reference.py"),
            "--workload", self.args.workload, "--seed", str(self.args.seed),
            "--inputs", self.inputs, "--out", ref_path,
        ]
        subprocess.run(cmd, check=True, timeout=150, stdout=sys.stderr)
        with open(ref_path) as f:
            return json.load(f)

    def set_up(self, tables) -> None:
        from youcruit_tap_rawpostgresql_spark.session import get_session
        from youcruit_tap_rawpostgresql_spark.sources.registry import register_testdata

        t0 = time.perf_counter()
        spark = get_session(app_name="perfbench", cpus=CORES)
        t1 = time.perf_counter()
        register_testdata(spark, self.inputs, tables=tables)
        self.tables = len(tables)
        t2 = time.perf_counter()
        self.spark = spark
        self.session_s = t1 - t0
        self.register_s = t2 - t1

    def stop(self) -> None:
        """Stop the session; a failure to stop is logged, not raised."""
        if self.spark is not None:
            spark, self.spark = self.spark, None
            try:
                spark.stop()
            except Exception:  # noqa: BLE001 - the result must still print
                _log(traceback.format_exc())

    @staticmethod
    def stop_jvm() -> None:
        """Shut down the gateway JVM pyspark started and wait for it."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001
            _log(traceback.format_exc())
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()

    # -- iterations -----------------------------------------------------
    def _fail(self, detail: str) -> None:
        self.failed += 1
        self.errors.append(detail)
        _log(detail)

    def iterate(self, wl, kind: str, inst=None) -> float | None:
        """One timed operation; a failure is counted, not fatal. Its output
        is kept for ``check_all``. Returns the wall time."""
        self.attempted += 1
        rec = inst.rec if inst else None
        if rec is not None:
            rec.run = f"it{self.attempted}"
        try:
            with rec.span("iteration") if rec else contextlib.nullcontext():
                t0 = time.perf_counter()
                raw = wl.run(self.attempted)
                wall = time.perf_counter() - t0
            # operator input rows: the SQL frames counted again, after the
            # iteration's clock stopped
            rows_in = inst.count_rows_in() if inst else 0
        except Exception:  # noqa: BLE001 - counted in failed
            self._fail(traceback.format_exc(limit=3))
            return None
        self.pending.append((kind, wall, raw, rec.run if rec else None, rows_in))
        return wall

    def check_all(self, wl, inst=None) -> None:
        """Check every iteration's output; only passing iterations count
        toward the metrics."""
        for kind, wall, raw, run_id, rows_in in self.pending:
            try:
                out = wl.check(raw)
            except Exception:  # noqa: BLE001 - counted in failed
                self._fail(traceback.format_exc(limit=3))
                continue
            if not out.ok:
                self._fail(f"check failed: {out.detail}")
                continue
            self.outcomes.append(out)
            if kind == "cold":
                self.cold = wall
            else:
                (self.traced_walls if run_id else self.walls).append(wall)
            if run_id:
                self.layer_rows.append(layer_row(wl, inst.rec, run_id, out, rows_in))
        self.pending = []

    def measure(self, wl) -> None:
        """The cold iteration, then back-to-back steady iterations (a
        traced run alternates untraced and traced ones). Outputs are
        checked afterwards, so checking never delays the next iteration."""
        steal0, total0 = _cpu_ticks()
        self.iterate(wl, "cold")
        inst = None
        if self.args.trace:
            from spans import Instrumentation, Recorder

            inst = Instrumentation(Recorder(self.spark.sparkContext, wl.name))
        for i in range(max(MIN_STEADY, round(self.args.seconds / ITERATION_S))):
            traced = inst is not None and i % 2 == 1
            if traced:
                inst.install()
            try:
                self.iterate(wl, "steady", inst if traced else None)
            finally:
                if traced:
                    inst.uninstall()
        self.rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        # CPU time the hypervisor gave to other guests while this run
        # measured: a run with a high share was slowed from outside
        steal1, total1 = _cpu_ticks()
        self.steal = (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0
        self.check_all(wl, inst)
        if inst is not None:
            self.spans = [dataclasses.asdict(s) for s in inst.rec.spans]

    # -- results --------------------------------------------------------
    def end_to_end(self) -> dict:
        walls = self.walls
        wall = statistics.median(walls) if walls else None
        records = statistics.median(o.records for o in self.outcomes) if self.outcomes else 0
        nbytes = statistics.median(o.nbytes for o in self.outcomes) if self.outcomes else 0
        m = {
            # one fresh set-up per run: a repeat in the same process would
            # have to relaunch the JVM (~13 s on 4 cores), so n comes from
            # the runs of a sweep
            "setup_s": (self.session_s + self.register_s, 1),
            "cold_wall_s": (self.cold, 1 if self.cold is not None else 0),
            "wall_s": (wall, len(walls)),
            "rows_per_s": (records / wall if wall else None, len(walls)),
            "mb_per_s": (nbytes / 1e6 / wall if wall else None, len(walls)),
            "py_peak_rss_mb": (self.rss_mb, 1),
        }
        return m

    def per_layer(self) -> dict:
        keys = {k for row in self.layer_rows for k in row}
        vals = {k: statistics.median(row.get(k, 0.0) for row in self.layer_rows) for k in keys}
        vals["session.start_s"] = self.session_s
        vals["sources.register_s"] = self.register_s
        vals["sources.tables"] = float(self.tables)
        if self.walls and self.traced_walls:
            vals["trace.overhead_s"] = (
                statistics.median(self.traced_walls) - statistics.median(self.walls)
            )
        return vals


def layer_row(wl, rec, run_id: str, out, rows_in: int) -> dict:
    """Per-layer numbers of one traced iteration."""
    from spans import covered, self_time

    spans = [s for s in rec.spans if s.run == run_id]
    kids: dict[int, list] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)

    def named(name: str) -> list:
        return [s for s in spans if s.name == name]

    def total(name: str) -> float:
        return sum(s.dur for s in named(name))

    root = named("iteration")[0]
    emits = named("sink.emit_record_messages")
    execs = named("spark.exec")
    # the noop executions the instrument adds before each sink call are not
    # the program's time: coverage leaves them out of both sides
    noops = [s for s in execs if "sink" in s.attrs]
    program_s = root.dur - covered(noops, root.start, root.end)
    row = {
        "plans.translate_s": total("plans.translate"),
        "plans.statements": float(len(named("plans.translate"))),
        "plans.analyze_s": sum(
            self_time(s, kids.get(s.id, [])) for s in named("plans.run_stream_sql")
        ),
        "operators.build_s": sum(s.dur for s in spans if s.name.startswith("operators.")),
        "spark.exec_s": sum(s.dur for s in execs),
        # derived: the emit call minus the noop execution of its frame
        "sink.serialize_s": sum(s.dur for s in emits)
        - sum(s.dur for s in execs if s.attrs.get("sink") == "emit"),
        "sink.first_record_s": min(emits, key=lambda s: s.start).attrs["first"] if emits else 0.0,
        "sink.write_batch_s": total("sink.write_batch_files"),
        "state.flush_s": total("state.flush"),
        "state.bookmark_ok": float(out.bookmark_ok),
        "tap.sync_s": total("tap.sync_all"),
        "tap.self_s": sum(
            self_time(s, kids.get(s.id, []))
            for s in spans if s.name in ("tap.sync_all", "tap.sync_stream")
        ),
        "querybank.build_s": total("querybank.build"),
        "querybank.exec_s": sum(s.dur for s in execs if "case" in s.attrs),
        "trace.coverage": covered(
            [s for s in spans if s.name != "iteration" and not s.name.startswith("tap.")
             and s not in noops],
            root.start, root.end,
        ) / program_s,
    }
    for s in named("querybank.case"):
        row[f"querybank.case.{s.attrs['case']}_s"] = s.dur
    if wl.name != "query_bank":
        row["sink.records"] = float(out.records)
        row["sink.bytes"] = float(out.message_bytes)
        row["sink.files"] = float(out.files)
        row["sink.file_bytes"] = float(out.file_bytes)
        row["operators.rows_in"] = float(rows_in)
        row["operators.rows_out"] = float(out.records)
    counts = rec.spark_counts(run_id)
    for k, v in counts.items():
        row[f"spark.{k}"] = float(v)
    return row


def _fmt(v) -> str:
    return "n/a" if v is None else f"{v:.6g}"


def report(run: Run, spec: dict, ref: dict) -> dict:
    """Print the human-readable report and the RESULT line; return the
    metrics for the final JSON line."""
    a = run.args
    print(f"perfbench workload={a.workload} seed={a.seed} cores={CORES} "
          f"seconds={a.seconds} trace={a.trace} cpu_steal={run.steal:.3f}")
    for path, digest in sorted(ref["checksums"].items()):
        print(f"  input {path} sha256={digest}")
    detail: dict = {}
    if not a.trace:
        e2e = run.end_to_end()
        for m in spec["end_to_end"]:
            value, n = e2e[m["name"]]
            detail[m["name"]] = {"value": value, "unit": m["unit"], "n": n}
            extra = ""
            if m["name"] == "wall_s" and run.walls:
                tail = _tail(run.walls)
                extra = (f"  {tail[0]}={tail[1]:.6g}" if tail else
                         "  (n<20: no percentile above the median has 10 samples "
                         f"beyond it; max={max(run.walls):.6g})")
            if m["name"] == "setup_s":
                extra = (f"  (session {run.session_s:.6g} + "
                         f"registration {run.register_s:.6g})")
            print(f"  {m['name']:<16} {_fmt(value):>12} {m['unit']:<7} n={n}{extra}")
        ratio = run.failed / run.attempted if run.attempted else 1.0
        print(f"  {'failed_ratio':<16} {ratio:>12.6g} {'1':<7} n={run.attempted}")
    else:
        layers = run.per_layer()
        for m in spec["per_layer"]:
            v = layers.get(m["name"], 0.0)
            detail[m["name"]] = {"value": v, "unit": m["unit"], "n": len(run.layer_rows)}
            print(f"  {m['name']:<48} {_fmt(v):>12} {m['unit']}")
    result = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": CORES,
        "seconds": a.seconds, "checksums": ref["checksums"], "attempted": run.attempted,
        "failed": run.failed, "metrics": detail, "walls": run.walls,
        "traced_walls": run.traced_walls, "cpu_steal": run.steal, "errors": run.errors[:5],
    }
    if run.spans:
        result["spans"] = run.spans
    print("RESULT " + json.dumps(result))
    return {k: {"value": v["value"], "unit": v["unit"]} for k, v in detail.items()
            if v["value"] is not None}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="perfbench: one workload, one seed")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        _log(f"perfbench: the engine package {PACKAGE}/ is not in {ROOT}")
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    spec = _spec()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every file the run writes inside the checkout, and let Spark's
    # Python workers import the engine
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        # no hsperfdata file under the system temp directory
        _JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    sys.path.insert(0, ROOT)
    try:
        return _main(args, spec, work, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it


def _main(args, spec: dict, work: str, wl_cls) -> int:
    run = Run(args, work)
    t0 = time.perf_counter()
    try:
        ref = run.make_inputs()
        _log(f"perfbench: inputs and reference in {time.perf_counter() - t0:.1f} s")
        run.set_up(wl_cls.tables)
    except Exception:  # noqa: BLE001 - nothing measured: no result
        _log(traceback.format_exc())
        run.stop()
        Run.stop_jvm()
        return 1
    run.attempted, run.failed = 1, 0  # the set-up
    try:
        wl = wl_cls(run.spark, work, ref)
        t1 = time.perf_counter()
        run.measure(wl)
        _log(f"perfbench: measured in {time.perf_counter() - t1:.1f} s")
    except Exception:  # noqa: BLE001 - counted in failed; the result still prints
        run.failed += 1
        run.attempted += 1
        run.errors.append(traceback.format_exc(limit=3))
        _log(run.errors[-1])
    finally:
        run.stop()
        Run.stop_jvm()
    metrics = report(run, spec, ref)
    expected = spec["per_layer" if args.trace else "end_to_end"]
    correct = run.failed == 0 and all(m["name"] in metrics for m in expected)
    print(json.dumps({
        "correct": correct, "attempted": max(run.attempted, 1),
        "failed": run.failed, "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
