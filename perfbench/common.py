"""Measurement helpers shared by the workloads.

Everything here observes the engine from outside: wall clocks around
calls into public engine functions, Spark's own SQL status store (the
per-node metrics of every executed plan, micro-batches included), the
job/stage/task status tracker, and ``/proc`` for memory.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager

ENGINE = "real___time_fraud_detection_using_apache_kafka_spark"


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default) of a non-empty list."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def calibrate_ms() -> float:
    """Fixed-work host calibration: best of three runs of a pure-Python loop."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        best = min(best, time.perf_counter() - t0)
    return best * 1000


class Tracer:
    """Spans at the benchmark's call boundaries, kept in memory.

    A span has an id, a parent id, a name, start and end (seconds since
    the tracer started) and free attributes.  A disabled tracer records
    nothing, so untraced runs pay one attribute check per boundary.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.time()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans) + 1
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.time() - self._t0, "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time() - self._t0

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """Record a span measured elsewhere (wall-clock epoch seconds)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans) + 1, "parent": parent, "name": name,
                               "start": start - self._t0, "end": end - self._t0, **attrs})


def descendants(exclude: set[int] = frozenset()) -> list[int]:
    """Pids of this process's live descendants, not entering ``exclude``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        if fields[0] != "Z":  # a zombie has ended; its parent just has not reaped it
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in exclude:
                out.append(c)
                todo.append(c)
    return out


def stop_jvm(timeout: float = 60.0) -> None:
    """Shut the py4j gateway, close the JVM's stdin (it exits on EOF) and
    wait until the JVM and the Python workers it forked have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=timeout)
    deadline = time.time() + timeout
    while descendants() and time.time() < deadline:
        time.sleep(0.1)


class RssSampler:
    """Peak resident memory of this process's descendants (the driver JVM
    and the Python workers it forks), sampled from ``/proc`` every 100 ms.
    Processes listed in ``exclude`` (the feeder) are not counted."""

    def __init__(self, exclude: set[int] | None = None):
        self.exclude = exclude if exclude is not None else set()
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> None:
        total = 0
        for pid in descendants(self.exclude):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(0.1):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def start_session(cores: int, master: str | None = None):
    """Start the engine's own session (``session.get_spark``) with
    ``cores`` task slots; returns (spark, seconds)."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    from importlib import import_module

    get_spark = import_module(f"{ENGINE}.session").get_spark
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=master, shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4,
          "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}
_NUM = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A status-store metric string as a number (bytes, ms or count).

    Multi-task metrics read ``total (min, med, max ...)\\n<total> (...)``;
    single values read ``<value>``.
    """
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


EXEC_KEYS = ["scan_ms", "scan_bytes", "scan_rows", "shuffle_bytes_written",
             "shuffle_fetch_wait_ms", "spill_bytes", "broadcast_build_ms",
             "broadcast_bytes", "peak_memory_bytes", "python_rows",
             "python_bytes_sent", "python_bytes_received"]


class ExecMetrics:
    """Per-node SQL metrics of every SQL execution since the last read,
    folded into the fixed ``exec.*`` layers.  Reads the session's SQL
    status store, which records each executed plan (AQE final plans,
    subqueries, broadcasts and streaming micro-batches alike)."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._seen = -1
        self.totals = dict.fromkeys(EXEC_KEYS, 0.0)
        self.skip_to_now()

    def skip_to_now(self) -> None:
        it = self._store.executionsList().iterator()
        while it.hasNext():
            self._seen = max(self._seen, it.next().executionId())

    def read(self, timeout: float = 5.0) -> dict[str, float]:
        """Fold executions started since the last read; returns their sums.

        An execution's metric values appear when the listener bus has
        processed its end, shortly after the action returns, so this waits
        up to ``timeout`` for every such execution to have them."""
        deadline = time.time() + timeout
        while True:
            done, pending = [], 0
            it = self._store.executionsList().iterator()
            while it.hasNext():
                e = it.next()
                if e.executionId() > self._seen:
                    if e.metricValues() is None:
                        pending += 1
                    else:
                        done.append(e)
            if not pending or time.time() > deadline:
                break
            time.sleep(0.05)
        got = dict.fromkeys(EXEC_KEYS, 0.0)
        for e in done:
            eid = e.executionId()
            self._seen = max(self._seen, eid)
            values = e.metricValues()
            nodes = self._store.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                ms = node.metrics().iterator()
                vals: dict[str, float] = {}
                while ms.hasNext():
                    m = ms.next()
                    v = values.get(m.accumulatorId())
                    if v is not None and v.isDefined():
                        vals[m.name()] = parse_metric(v.get())
                _fold(node.name(), vals, got)
        for k, v in got.items():
            self.totals[k] = max(self.totals[k], v) if k == "peak_memory_bytes" else self.totals[k] + v
        return got


def _fold(name: str, vals: dict[str, float], got: dict[str, float]) -> None:
    if name.startswith("Scan"):
        got["scan_ms"] += vals.get("scan time", 0.0)
        got["scan_bytes"] += vals.get("size of files read", 0.0)
        got["scan_rows"] += vals.get("number of output rows", 0.0)
    got["shuffle_bytes_written"] += vals.get("shuffle bytes written", 0.0)
    got["shuffle_fetch_wait_ms"] += vals.get("fetch wait time", 0.0)
    got["spill_bytes"] += vals.get("spill size", 0.0)
    if name == "BroadcastExchange":
        got["broadcast_build_ms"] += vals.get("time to build", 0.0)
        got["broadcast_bytes"] += vals.get("data size", 0.0)
    got["peak_memory_bytes"] = max(got["peak_memory_bytes"], vals.get("peak memory", 0.0))
    if "data sent to Python workers" in vals:
        got["python_rows"] += vals.get("number of output rows", 0.0)
        got["python_bytes_sent"] += vals["data sent to Python workers"]
        got["python_bytes_received"] += vals.get("data returned from Python workers", 0.0)


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, executed stages, completed tasks) of a job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in (info.stageIds if info else []):
            st = tracker.getStageInfo(s)
            if st and st.numCompletedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks
    return len(jobs), stages, tasks


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True, default=str)
    os.replace(tmp, path)
