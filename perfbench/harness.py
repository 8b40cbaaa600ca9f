"""Shared machinery for the benchmark workloads.

Everything here sits outside the engine: a per-run scratch root inside
the checkout, the Spark session start and full teardown, the summary
statistics, the tracer that records spans around calls into the engine's
modules, job/stage/task counts read from Spark's public ``StatusTracker``,
and CPU/memory/host readings from ``/proc``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid
from contextlib import contextmanager, nullcontext

#: checkout root: the directory that holds ``perfbench/`` and the engine
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Spark task slots.  Fixed, and one below the 4 cores of the reference
#: box: the spare core keeps the driver, Python UDF workers and GC off
#: the task slots (local[4] measured a 38-52 queries/min spread over 7
#: runs where local[3] measured 44-46 over 4).
SLOTS = 3
#: where finished runs leave their span files
TRACE_DIR = os.path.join(ROOT, ".perfbench_traces")


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile (``pct`` in 0..100)."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-pct * len(s) // 100)) - 1))
    return s[k]


def tail_support(n: int, pct: float) -> int:
    """How many of ``n`` samples lie beyond the ``pct`` percentile."""
    return n - int(-(-pct * n // 100))


def median(values: list[float]) -> float:
    return statistics.median(values)


def op_metrics(segments: list[tuple[float, list[float]]], tail_pct: float) -> dict:
    """``ops_per_min``, ``op_p50_s`` and ``op_tail_s`` from the timed
    phase cut into segments of (wall seconds, operation times).

    Throughput and median are taken per segment and reported as their
    median over the segments, so a segment slowed by another tenant of
    the host (5% CPU steal stretched one 7 s registry pass to 10.6 s)
    does not move them.  The tail is the ``tail_pct`` percentile of all
    operations, which the callers size to leave 10+ samples beyond it."""
    pooled = [x for _, xs in segments for x in xs]
    return {
        "ops_per_min": (median([60 * len(xs) / w for w, xs in segments]), "1/min"),
        "op_p50_s": (median([median(xs) for _, xs in segments]), "s"),
        "op_tail_s": (percentile(pooled, tail_pct), "s"),
    }


# ---------------------------------------------------------------------------
# per-run state
# ---------------------------------------------------------------------------

class RunRoot:
    """A fresh scratch directory for one run, removed when the run ends.

    Holds the generated inputs, sinks, checkpoints, the Spark warehouse
    and local dirs, and the temp dir of this process and the JVM, so no
    run sees state an earlier run left behind."""

    def __init__(self, workload: str):
        base = os.path.join(ROOT, ".perfbench_runs")
        self.path = os.path.join(base, f"{workload}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
        self.tmp = os.path.join(self.path, "tmp")
        os.makedirs(self.tmp)
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        tempfile.tempdir = None
        shutil.rmtree(self.path, ignore_errors=True)
        base = os.path.dirname(self.path)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------

def start_spark(run: RunRoot, app: str):
    """Start a session through the engine's own factory, with every
    directory Spark writes to inside ``run`` and the checkout on the
    Python workers' path."""
    from daisy_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = run.sub("spark-local")
    conf = {
        "spark.sql.shuffle.partitions": str(SLOTS),
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": run.sub("warehouse"),
        "spark.local.dir": run.sub("spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run.tmp}",
        "spark.ui.showConsoleProgress": "false",
        # room for every generated class of a pass: at the default 100
        # entries each registry pass recompiles ~220 classes, the JIT never
        # settles and run-to-run spread exceeds 20%; a query repeated
        # hot, as bench.py times it, hits the cache
        "spark.sql.codegen.cache.maxEntries": "2000",
    }
    spark = get_spark(app, master=f"local[{SLOTS}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, close the gateway and wait for the JVM to exit
    (it would otherwise outlive this process until stdin closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - last resort, then reap
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------

class Tracer:
    """Spans around calls into the engine, kept in memory.

    A span has a name, start, end, parent span and operation id.  When
    disabled, ``span`` is a no-op and nothing is recorded; end-to-end
    metrics come from such runs.  The tracer times its own bookkeeping
    (spans, job-group and ``/proc`` reads) so the traced run can report
    its overhead."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None
        self.self_s = 0.0

    @contextmanager
    def _span(self, name: str, attrs: dict):
        t = time.perf_counter()
        idx = len(self.spans)
        rec = {
            "name": name, "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": 0.0, "end": 0.0, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        t0 = time.perf_counter()
        self.self_s += t0 - t
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["start"], rec["end"] = t0, t1
            self._stack.pop()
            self.self_s += time.perf_counter() - t1

    def span(self, name: str, **attrs):
        return self._span(name, attrs) if self.enabled else nullcontext({})

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def write(self, workload: str, seed: int) -> str:
        os.makedirs(TRACE_DIR, exist_ok=True)
        path = os.path.join(TRACE_DIR, f"{workload}.spans.jsonl")
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "seed": seed}) + "\n")
        return path


class JobCounter:
    """Job, stage and task counts per job group, from the public
    ``StatusTracker`` (one group per operation phase)."""

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.tracer = tracer

    def group(self, gid: str) -> None:
        if self.tracer.enabled:
            t = time.perf_counter()
            self.sc.setJobGroup(gid, gid)
            self.tracer.self_s += time.perf_counter() - t

    def counts(self, gid: str) -> tuple[int, int, int]:
        t = time.perf_counter()
        jobs = self.tracker.getJobIdsForGroup(gid)
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = self.tracker.getStageInfo(s)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        self.tracer.self_s += time.perf_counter() - t
        return len(jobs), stages, tasks


# ---------------------------------------------------------------------------
# /proc readings
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def engine_usage(tracer: Tracer) -> tuple[float, float]:
    """(CPU seconds, resident MB) of the JVM and its Python workers,
    counting the peak RSS of the JVM and the current RSS of workers."""
    t = time.perf_counter()
    cpu = rss = 0.0
    root = jvm_pid()
    for pid in _descendants(root) if root else ():
        st = _stat(pid)
        if st is None:
            continue
        # fields after the command: utime 11, stime 12, cutime 13, cstime 14
        cpu += sum(int(x) for x in st[11:15]) / _TICK
        key = "VmHWM:" if pid == root else "VmRSS:"
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith(key):
                        rss += int(line.split()[1]) / 1024
        except OSError:
            pass
    tracer.self_s += time.perf_counter() - t
    return cpu, rss


def host_cpu() -> tuple[int, int]:
    """(steal ticks, total ticks) from ``/proc/stat``."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def host_load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class TimedPhase:
    """Host and engine readings across a workload's timed phase."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.steal0, self.total0 = host_cpu()
        self.cpu0 = engine_usage(tracer)[0] if tracer.enabled else 0.0
        self.t0 = time.perf_counter()

    def end(self) -> None:
        self.seconds = time.perf_counter() - self.t0
        steal1, total1 = host_cpu()
        self.steal_frac = (steal1 - self.steal0) / max(1, total1 - self.total0)

    def layer(self, n_ops: int) -> dict:
        """The per-layer metrics every workload reports in a traced run."""
        cpu1, rss = engine_usage(self.tracer)
        self_s = self.tracer.self_s
        return {
            "session.start_s": (self.tracer.total("session.start"), "s"),
            "engine.cpu_s": ((cpu1 - self.cpu0) / max(1, n_ops), "s"),
            "engine.peak_rss_mb": (rss, "MB"),
            "host.steal_frac": (self.steal_frac, "fraction"),
            "host.load1": (host_load1(), "count"),
            "trace.overhead_s": (self_s / max(1, n_ops), "s"),
            "trace.overhead_frac": (self_s / max(1e-9, self.seconds), "fraction"),
        }


# ---------------------------------------------------------------------------
# result
# ---------------------------------------------------------------------------

class Result:
    """What a run prints: correctness, operation counts and metrics."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.detail: dict = {}

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(what)

    def line(self, trace: bool) -> str:
        metrics = self.layer if trace else self.e2e
        return json.dumps({
            "correct": not self.problems,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        })


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
