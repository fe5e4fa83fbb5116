"""The closed-loop runner shared by every workload: session start, op
timing, oracle bookkeeping, layer spans, and the result line."""

from __future__ import annotations

import hashlib
import json
import os
import platform
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable

from perfbench import probes, stats
from perfbench.trace import Tracer, coverage, self_time_by_name

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
MIN_OPS = 2 * stats.TAIL_BEYOND + 4
MAX_STRETCH = 3.0
E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MiB",
}


@dataclass
class Op:
    """One closed-loop request.  ``body`` runs inside the op timer; ``check``
    receives its result and raises when it is wrong, outside the timer."""

    kind: str
    cls: str  # "read" or "write"
    rows: int  # user rows the op consumes
    body: Callable[[], Any]
    check: Callable[[Any], None]
    tables: tuple = ()  # TableDirs whose growth counts as the op's writes
    after: Callable[[Any], None] | None = None  # traced runs: add counters


@dataclass
class Record:
    kind: str
    cls: str
    seconds: float
    rows: int
    error: str | None = None


@dataclass
class Bench:
    workload: str
    seed: int
    seconds: float
    traced: bool
    work: str  # scratch directory of this run
    tracer: Tracer = field(init=False)
    spark: Any = None
    jobs: Any = None
    records: list = field(default_factory=list)
    warmup_errors: list = field(default_factory=list)
    warmup_ops: int = 0
    setup_builds: list = field(default_factory=list)
    session_s: float = 0.0
    warmup_s: float = 0.0
    extra_setup_s: list = field(default_factory=list)
    _post: list = field(default_factory=list)

    def __post_init__(self):
        self.tracer = Tracer(self.traced)

    # -- set-up ---------------------------------------------------------

    def start_session(self):
        from iceberg_examples_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # keep the JVM's own scratch files (native-library extraction,
            # perf counters) inside the run directory too
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData"
            + " -Djava.io.tmpdir=" + os.path.join(self.work, "tmp")
            + " -Dderby.system.home=" + os.path.join(self.work, "derby"),
        }
        if self.traced:
            # the status store must keep every job of the run for JobCounter
            conf["spark.ui.retainedJobs"] = "100000"
            conf["spark.ui.retainedStages"] = "100000"
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        self.session_s = time.perf_counter() - t0
        self.jobs = probes.JobCounter(self.spark) if self.traced else None
        return self.spark

    def build(self, name: str, fn: Callable[[], Any]) -> Any:
        """Time one fixture build (oracle work must stay outside ``fn``)."""
        t0 = time.perf_counter()
        with self.tracer.span(f"setup:{name}"):
            out = fn()
        self.setup_builds.append(time.perf_counter() - t0)
        return out

    def timed_setup(self, fn: Callable[[], Any]) -> Any:
        """Time set-up work done once per run, such as input generation."""
        t0 = time.perf_counter()
        out = fn()
        self.extra_setup_s.append(time.perf_counter() - t0)
        return out

    def setup_s(self) -> float:
        """Session start, once-per-run set-up and the median fixture build."""
        builds = statistics.median(self.setup_builds) if self.setup_builds else 0.0
        return self.session_s + builds + sum(self.extra_setup_s)

    # -- layer calls ----------------------------------------------------

    @contextmanager
    def _tagged(self, name: str):
        """A layer span whose Spark jobs carry their own job group."""
        with self.tracer.span(name) as s:
            group = self.jobs.begin()
            try:
                yield s
            finally:
                self.jobs.end(group, s.counters)

    def layer(self, name: str, fn: Callable[[], Any]) -> Any:
        """Call into a layer: in traced runs, inside a tagged child span."""
        if not self.traced:
            return fn()
        with self._tagged(name):
            return fn()

    def execute(self, build: Callable[[], Any]) -> list:
        """Build a DataFrame with ``build`` and collect it.  Traced runs time
        Catalyst (the DataFrame API's eager analysis, then optimisation and
        physical planning) apart from the Spark action."""
        if not self.traced:
            return build().collect()

        def plan():
            df = build()
            df._jdf.queryExecution().executedPlan()
            return df

        df = self.layer("catalyst.plan", plan)
        with self._tagged("spark.exec") as s:
            rows = df.collect()
        self._post.append((s, df))  # plan metrics are read after the op
        return rows

    # -- the closed loop ------------------------------------------------

    def _run(self, op: Op, root: str) -> tuple[float, str | None]:
        """Time one op, then check it; returns (seconds, error or None)."""
        if self.traced:
            jpid = probes.jvm_pid(self.spark)
            before = probes.python_workers(jpid)
            wb = {t: t.written_bytes() for t in op.tables}
        result = err = None
        t0 = time.perf_counter()
        with self.tracer.span(f"{root}:{op.kind}") as s:
            try:
                result = op.body()
            except Exception as e:  # an op that fails is counted, never dropped
                err = f"{type(e).__name__}: {e}"
                traceback.print_exc(file=sys.stderr)
        dt = time.perf_counter() - t0
        if self.traced:
            s.counters["python_worker_spawns"] = len(probes.python_workers(jpid) - before)
            if op.tables:
                data = meta = 0
                for t in op.tables:
                    d1, m1 = t.written_bytes()
                    data += d1 - wb[t][0]
                    meta += m1 - wb[t][1]
                s.counters["data_bytes_written"] = data
                s.counters["metadata_bytes_written"] = meta
            for span, df in self._post:
                span.counters.update(probes.plan_metrics(self.spark, df))
                s.counters["num_files"] = s.counters.get("num_files", 0) + span.counters["num_files"]
            self._post.clear()
            if op.after is not None:
                op.after(s)
        if err is None:
            try:
                op.check(result)
            except Exception as e:
                err = f"wrong result: {type(e).__name__}: {e}"
                traceback.print_exc(file=sys.stderr)
        return dt, err

    def warmup(self, ops) -> None:
        t0 = time.perf_counter()
        for op in ops:
            self.warmup_ops += 1
            _, err = self._run(op, "warmup")
            if err:
                self.warmup_errors.append({"kind": op.kind, "error": err})
        self.warmup_s = time.perf_counter() - t0

    def loop(self, cycles) -> None:
        """Issue cycles of ops, one op after another, until ``seconds`` have
        passed and at least ``MIN_OPS`` ops have run (so a tail percentile
        exists).  Only whole cycles run, so every run weighs each op kind
        the same; past ``MAX_STRETCH`` times ``seconds`` the run stops even
        inside a cycle."""
        t0 = time.perf_counter()
        for cycle in cycles:
            for op in cycle:
                if time.perf_counter() - t0 >= MAX_STRETCH * self.seconds:
                    return
                dt, err = self._run(op, "op")
                self.records.append(Record(op.kind, op.cls, dt, op.rows, err))
            if time.perf_counter() - t0 >= self.seconds and len(self.records) >= MIN_OPS:
                return

    # -- results --------------------------------------------------------

    def end_to_end(self) -> dict:
        ok = [r for r in self.records if r.error is None]
        lat = [r.seconds * 1000.0 for r in ok]
        allsum = stats.summarize(lat)
        rows = sum(r.rows for r in ok)
        busy = sum(r.seconds for r in ok)
        return {
            "setup_s": self.setup_s(),
            "op_p50_ms": allsum["p50"],
            "op_tail_ms": allsum["tail"],
            "rows_per_s": rows / busy if busy else None,
            "peak_rss_mb": sum(probes.peak_rss_mb(self.spark).values()),
        }

    def detail(self) -> dict:
        ok = [r for r in self.records if r.error is None]
        out = {"all": stats.summarize([r.seconds * 1000.0 for r in ok])}
        for cls in ("read", "write"):
            out[cls] = stats.summarize([r.seconds * 1000.0 for r in ok if r.cls == cls])
        kinds = sorted({r.kind for r in ok})
        out["by_kind"] = {
            k: stats.summarize([r.seconds * 1000.0 for r in ok if r.kind == k]) for k in kinds
        }
        out["series"] = [[r.kind, round(r.seconds * 1000.0, 1)] for r in self.records]
        failed = [{"kind": r.kind, "error": r.error} for r in self.records if r.error]
        attempted = len(self.records) + self.warmup_ops
        out["attempted"] = attempted
        out["failed_ops"] = failed + self.warmup_errors
        out["error_rate"] = len(out["failed_ops"]) / max(attempted, 1)
        out["warmup_s"] = self.warmup_s
        out["session_start_s"] = self.session_s
        out["fixture_builds_s"] = self.setup_builds
        out["peak_rss_mb"] = probes.peak_rss_mb(self.spark)
        return out

    def trace_summary(self) -> dict:
        if self.jobs is not None:
            self.jobs.resolve()
        spans = self.tracer.spans
        cov = coverage(spans)
        op_cov = [cov[s.id] for s in spans if s.parent is None and s.name.startswith("op:")]
        return {
            "coverage_min": min(op_cov) if op_cov else None,
            "coverage_median": statistics.median(op_cov) if op_cov else None,
            "self_time_s": self_time_by_name(spans),
        }


    def close(self) -> None:
        """Stop streams and Spark, then wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        for q in self.spark.streams.active:
            q.stop()
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None and gw.proc is not None:
            gw.shutdown()
            gw.proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                gw.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                gw.proc.kill()
                gw.proc.wait()


def environment(seed: int) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "seed": seed,
        "revision": revision(),
    }


def revision() -> str:
    """The git commit when run from a clone; otherwise a digest of the
    package sources, so a result can still be tied to the code it ran."""
    if os.path.isdir(os.path.join(CHECKOUT, ".git")):
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=CHECKOUT, capture_output=True, text=True, timeout=10
        )
        if out.returncode == 0:
            return out.stdout.strip()
    h = hashlib.sha256()
    pkg = os.path.join(CHECKOUT, "iceberg_examples_spark")
    for dirpath, dirnames, names in sorted(os.walk(pkg)):
        dirnames.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(dirpath, n), "rb") as f:
                    h.update(f.read())
    return "src-sha256:" + h.hexdigest()[:16]


def emit(report: dict, result: dict) -> None:
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result), flush=True)
