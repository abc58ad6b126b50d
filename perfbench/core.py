"""Shared machinery of the benchmark: statistics, memory sampling, the
Spark session, Spark's own counters and the span tracer.

Everything that touches Spark goes through the package's public entry
points or Spark's status store; nothing here patches the package.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import re
import statistics
import threading
import time
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile that has at least ten samples beyond it:
    returns (value, percentile, sample count). With n sorted samples that
    is the sample at index n-11, i.e. percentile 100*(n-10)/n. Needs at
    least 11 samples."""
    n = len(values)
    if n < 11:
        raise ValueError(f"a tail needs at least 11 samples, got {n}")
    return sorted(values)[n - 11], 100.0 * (n - 10) / n, n


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


# ---------------------------------------------------------------------------
# peak RSS of this process tree, from /proc
# ---------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read()
    except OSError:
        return b""


def tree_rss_mb(root: int | None = None) -> float:
    """Resident memory of ``root`` (default: this process) and all its
    descendants: the driver, its JVM and the JVM's Python workers. Each
    process counts its proportional share (PSS) of the pages it shares,
    so Python workers forked from one daemon are not counted twice. A JVM
    child still running the JVM's command line is a process the JVM is
    spawning (it shares the JVM's memory until it execs), so it is not
    counted again."""
    stack, total = [(root or os.getpid(), b"")], 0
    while stack:
        pid, parent_cmd = stack.pop()
        cmd = _cmdline(pid)
        if not (cmd == parent_cmd and b"java" in cmd.split(b"\0", 1)[0]):
            total += _pss_kb(pid)
        stack += [(c, cmd) for c in _children(pid)]
    return total / 1024.0


class RssSampler:
    """Samples the tree's memory on a background thread; ``peak_mb`` is the
    largest sum seen since the last ``reset``. A sample that was started
    before a ``reset`` belongs to the previous segment and is dropped."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._generation = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            generation = self._generation
            mb = tree_rss_mb()
            with self._lock:
                if generation == self._generation:
                    self.peak_mb = max(self.peak_mb, mb)
            self._stop.wait(self.interval_s)

    def reset(self) -> None:
        mb = tree_rss_mb()
        with self._lock:
            self._generation += 1
            self.peak_mb = mb

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# span tracer
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    counts: dict[str, float] = field(default_factory=dict)


class Tracer:
    """In-memory spans around calls into the program's public functions.
    Disabled, every method is a cheap no-op, so the untraced run executes
    the same benchmark code minus the bookkeeping and the extra prefix
    materializations."""

    def __init__(self, enabled: bool, run_id: str = "", spark=None):
        self.enabled = enabled
        self.run_id = run_id
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the block as a span. With a session attached, the span
        also records the range of SQL executions the block ran; the
        status store is read outside the timed interval."""
        if not self.enabled:
            yield None
            return
        exec_from = sql_execution_count(self.spark) if self.spark is not None else 0
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None,
                 run_id=self.run_id)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.spark is not None:
                s.counts["exec_from"] = exec_from
                s.counts["exec_to"] = sql_execution_count(self.spark)

    def noop(self, name: str, df) -> Span | None:
        """Materialize a lazy prefix through the ``noop`` sink inside a
        span (traced runs only): differences between nested prefixes
        attribute the time of lazy transforms to their layer."""
        if not self.enabled:
            return None
        with self.span(name) as s:
            df.write.format("noop").mode("overwrite").save()
        return s

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def self_time(self, name: str) -> float:
        """Summed duration of ``name`` spans minus the time their direct
        children cover (children of one span run one after another)."""
        idx = [i for i, s in enumerate(self.spans) if s.name == name]
        out = 0.0
        for i in idx:
            s = self.spans[i]
            kids = sum(c.end - c.start for c in self.spans if c.parent == i)
            out += (s.end - s.start) - kids
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------


def first_udf_action(spark) -> None:
    """The first Python-UDF action of a session: it spawns the Python
    workers and makes them import the shipped package."""

    def touch(batches):  # nested, so it pickles by value
        import kinesis_producer_spark  # noqa: F401  (the shipped package)

        for pdf in batches:
            yield pdf + 1

    spark.range(64, numPartitions=os.cpu_count() or 1).mapInPandas(touch, "id long").collect()


SESSION_CONF = {"spark.ui.showConsoleProgress": "false"}


def get_session(cpus: int):
    from kinesis_producer_spark.session import get_spark

    return get_spark("perfbench", cpus=cpus, extra_conf=SESSION_CONF)


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits at end of its standard input
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def start_session(cpus: int):
    """A fresh start of the program: launch the JVM and build the session
    through ``get_spark`` (which ships the package), then run the first
    Python-UDF action. Returns (spark, get_spark_s, worker_warm_s)."""
    t0 = time.perf_counter()
    spark = get_session(cpus)
    t1 = time.perf_counter()
    first_udf_action(spark)
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t1 - t0, t2 - t1


# ---------------------------------------------------------------------------
# Spark's own counters, read from the status stores (UI off)
# ---------------------------------------------------------------------------


def _flush_listener(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def sql_execution_count(spark) -> int:
    _flush_listener(spark)
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4}


def parse_metric(text: str) -> float:
    """A formatted SQL metric → number (seconds for timings, bytes for
    sizes). Accepts both the plain form ('1.2 s', '1,000') and the
    'total (min, med, max ...)' form, whose first number is the total."""
    lines = text.strip().splitlines()
    body = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = re.match(r"\s*([-0-9.,]+)\s*([A-Za-z]+)?", body)
    if not m:
        raise ValueError(f"unparsable metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


@dataclass
class ExecStats:
    executions: int = 0
    python_run_s: float = 0.0  # 'time to run Python workers'
    python_init_s: float = 0.0  # 'time to initialize Python workers'
    arrow_bytes: float = 0.0  # sent to + returned from Python workers
    rows_out: dict[str, float] = field(default_factory=dict)


_PY_RUN = "time to run Python workers"
_PY_INIT = "time to initialize Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def exec_stats(spark, start: int, end: int) -> ExecStats:
    """Sum the Python-boundary SQL metrics of executions [start, end)."""
    _flush_listener(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    out = ExecStats()
    if end <= start:
        return out
    for e in _items(store.executionsList(start, end - start)):
        out.executions += 1
        values = store.executionMetrics(e.executionId())
        seen = set()
        it = e.metrics().iterator()
        while it.hasNext():
            m = it.next()
            acc = m.accumulatorId()
            if acc in seen:
                continue  # adaptive plans list a metric once per plan version
            seen.add(acc)
            v = values.get(acc)
            if v.isEmpty():
                continue
            name = m.name()
            if name == _PY_RUN:
                out.python_run_s += parse_metric(v.get())
            elif name == _PY_INIT:
                out.python_init_s += parse_metric(v.get())
            elif name in _PY_BYTES:
                out.arrow_bytes += parse_metric(v.get())
    return out


@dataclass
class StageStats:
    jobs: int = 0
    tasks: int = 0
    shuffle_bytes: float = 0.0
    spill_bytes: float = 0.0
    peak_exec_mem: float = 0.0


def _items(seq) -> list:
    """A Java list or Scala sequence from py4j, as a Python list."""
    it, out = seq.iterator(), []
    while it.hasNext():
        out.append(it.next())
    return out


def _jobs_and_stages(spark):
    """Every job and every stage attempt the status store holds."""
    _flush_listener(spark)
    sc = spark.sparkContext
    jvm, app = sc._jvm, sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    return (_items(app.jobsList(jvm.java.util.ArrayList())),
            _items(app.stageList(jvm.java.util.ArrayList(), False, False, no_quantiles,
                                 jvm.java.util.ArrayList())))


def stage_marks(spark) -> tuple[int, int]:
    """(next job id, next stage id): marks to diff counters against."""
    jobs, stages = _jobs_and_stages(spark)
    nj = max((j.jobId() for j in jobs), default=-1) + 1
    ns = max((s.stageId() for s in stages), default=-1) + 1
    return nj, ns


def stage_stats(spark, marks: tuple[int, int]) -> StageStats:
    jobs, stages = _jobs_and_stages(spark)
    out = StageStats()
    out.jobs = sum(1 for j in jobs if j.jobId() >= marks[0])
    for s in stages:
        if s.stageId() < marks[1]:
            continue
        out.tasks += s.numCompleteTasks()
        out.shuffle_bytes += s.shuffleWriteBytes()
        out.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
        out.peak_exec_mem = max(out.peak_exec_mem, float(s.peakExecutionMemory()))
    return out


def checked_task_time(name: str, value_s: float, slots: int, wall_s: float,
                      dropped: dict[str, str]) -> float | None:
    """A task-time counter summed over tasks can be at most slots × wall.
    A counter that reads more is not measuring what its name says: it is
    dropped (returned as None) and the reason recorded."""
    limit = slots * wall_s * 1.05 + 0.05
    if value_s > limit:
        dropped[name] = (f"read {value_s:.2f} s, above {slots} slots x {wall_s:.2f} s wall "
                         f"= {slots * wall_s:.2f} s")
        return None
    return value_s


def scan_stats(spark, start: int, end: int) -> tuple[int, int]:
    """(rows, files) the file-source scans of executions [start, end)
    read, from each scan node's 'number of output rows' and 'number of
    files read'."""
    _flush_listener(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    rows = files = 0
    if end <= start:
        return rows, files
    for e in _items(store.executionsList(start, end - start)):
        eid = e.executionId()
        values = store.executionMetrics(eid)
        for node in _items(store.planGraph(eid).allNodes()):
            named = {m.name(): values.get(m.accumulatorId()) for m in _items(node.metrics())}
            if "number of files read" not in named:
                continue  # not a file scan
            for name, v in named.items():
                if v.isEmpty():
                    continue
                if name == "number of files read":
                    files += int(parse_metric(v.get()))
                elif name == "number of output rows":
                    rows += int(parse_metric(v.get()))
    return rows, files


def spark_counters(ctx, marks, exec_from: int, wall_s: float) -> None:
    """The workload-wide ``spark.*`` counters since the marks. They are
    taken around the untraced pass, so the tracer's own extra work (noop
    prefixes, counting queries) is not in them."""
    st = stage_stats(ctx.spark, marks)
    ex = exec_stats(ctx.spark, exec_from, sql_execution_count(ctx.spark))
    m = ctx.layer
    m["spark.executions"] = ex.executions
    m["spark.jobs"] = st.jobs
    m["spark.tasks"] = st.tasks
    m["spark.shuffle_mb"] = st.shuffle_bytes / 2**20
    m["spark.spill_mb"] = st.spill_bytes / 2**20
    m["spark.python_s"] = ctx.check_task_time("spark.python_s", ex.python_run_s, wall_s)
    ctx.check_task_time("spark.python_init_s", ex.python_init_s, wall_s)
    m["spark.arrow_mb"] = ex.arrow_bytes / 2**20
    m["spark.peak_exec_mem_mb"] = st.peak_exec_mem / 2**20


def finite(x: float) -> float:
    if not math.isfinite(x):
        raise ValueError(f"non-finite metric value {x}")
    return x
