"""Measurement helpers for the benchmark: spans, process-tree memory, the
Spark event log, the scorer's profiling files and the run context.

Nothing here imports pyspark at module level, so `run.py` can refuse to
start (missing product) before any JVM is launched.
"""

from __future__ import annotations

import glob
import json
import os
import platform
import threading
import time
from dataclasses import asdict, dataclass, field


def process_age_s() -> float:
    """Seconds since this process was started by the kernel (10 ms
    resolution): /proc/self/stat field 22 against /proc/uptime."""
    with open("/proc/self/stat") as fh:
        after_comm = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(after_comm[19])  # field 22; field 3 is after_comm[0]
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None
    wall_start: float  # epoch seconds, for event-log attribution


@dataclass
class Tracer:
    """In-memory span recorder.  Disabled tracers still time spans (the
    caller reads durations) but keep nothing."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str, op_id: int | None = None) -> "_SpanCtx":
        return _SpanCtx(self, name, op_id)

    def self_times(self) -> dict[int, float]:
        """Span index → its duration minus the union of its children."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for i, s in enumerate(self.spans):
            out[i] = (s.end - s.start) - _covered(
                [(c.start, c.end) for c in children.get(i, [])], s.start, s.end
            )
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op_id: int | None):
        self.t, self.name, self.op_id = tracer, name, op_id
        self.seconds = 0.0

    def __enter__(self) -> "_SpanCtx":
        t = self.t
        self.parent = t._stack[-1] if t._stack else None
        self.wall = time.time()
        self.start = time.perf_counter()
        if t.enabled:
            t.spans.append(Span(self.name, self.start, self.start,
                                self.parent, self.op_id, self.wall))
            t._stack.append(len(t.spans) - 1)
        return self

    def __exit__(self, *exc) -> None:
        end = time.perf_counter()
        self.seconds = end - self.start
        t = self.t
        if t.enabled:
            t.spans[t._stack.pop()].end = end


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


# ---------------------------------------------------------------------------
# peak memory of this process tree (psutil is not available)
# ---------------------------------------------------------------------------


class MemSampler:
    """Samples the summed proportional set size (PSS) of this process and
    all its descendants (the JVM and its Python workers) from /proc every
    `interval` s.  PSS splits pages shared between processes among them,
    so the copy-on-write pages a forked Python worker shares with its
    daemon count once; summed RSS would count them once per worker."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self.peak_split: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @staticmethod
    def _tree() -> set[int]:
        parent: dict[int, int] = {}
        for stat in glob.glob("/proc/[0-9]*/stat"):
            try:
                with open(stat) as fh:
                    after = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited while we walked
            parent[int(stat.split("/")[2])] = int(after[1])
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        return tree

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        return 0

    def _run(self) -> None:
        while not self._stop.is_set():
            pss = [b for b in map(self._pss, self._tree()) if b]
            if sum(pss) > self.peak_bytes:
                self.peak_bytes = sum(pss)
                # recorded in the run context: how the peak splits
                self.peak_split = {"processes": len(pss),
                                   "largest_mb": round(max(pss) / 2**20, 1)}
            self._stop.wait(self.interval)


# ---------------------------------------------------------------------------
# Spark event log → per-operation engine counters
# ---------------------------------------------------------------------------


_ACC = {
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
}


def read_event_log(events_dir: str) -> dict:
    """Parse the (uncompressed, non-rolling) event log into job
    submission times, stage records and task launch times (epoch ms)."""
    files = [p for p in glob.glob(os.path.join(events_dir, "*"))
             if os.path.isfile(p)]
    jobs, stages, tasks = [], [], []
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(ev["Submission Time"])
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    rec = {"submit": info.get("Submission Time"),
                           "done": info.get("Completion Time"),
                           "cpu_ns": 0.0, "gc_ms": 0.0, "shuffle_write": 0.0}
                    for acc in info.get("Accumulables", []):
                        key = _ACC.get(acc.get("Name"))
                        if key is not None:
                            rec[key] += float(acc.get("Value") or 0)
                    if rec["submit"] is not None and rec["done"] is not None:
                        stages.append(rec)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev["Task Info"]["Launch Time"])
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def engine_counters(log: dict, windows: list[tuple[float, float]]) -> dict:
    """Per-operation means over the given (start, end) epoch-second
    windows.  The loop is closed (one operation at a time), so a stage
    belongs to the operation whose window holds its submission."""
    n = max(len(windows), 1)
    tot = {"jobs": 0, "stages": 0, "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_write": 0.0, "gap_s": 0.0}
    for lo, hi in windows:
        lo_ms, hi_ms = lo * 1000, hi * 1000
        inside = [s for s in log["stages"] if lo_ms <= s["submit"] <= hi_ms]
        tot["jobs"] += sum(lo_ms <= j <= hi_ms for j in log["jobs"])
        tot["tasks"] += sum(lo_ms <= t <= hi_ms for t in log["tasks"])
        tot["stages"] += len(inside)
        tot["cpu_s"] += sum(s["cpu_ns"] for s in inside) / 1e9
        tot["gc_s"] += sum(s["gc_ms"] for s in inside) / 1e3
        tot["shuffle_write"] += sum(s["shuffle_write"] for s in inside)
        busy = _covered([(s["submit"], s["done"]) for s in inside], lo_ms, hi_ms)
        tot["gap_s"] += (hi_ms - lo_ms - busy) / 1e3
    return {k: v / n for k, v in tot.items()}


def scorer_profile(prof_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Per-operation sums over the fuzzy scorer's profiling rows
    (operators/scoring.py, SPARK_GRAFT_PROF_DIR): one CSV line per
    cogroup call = start (perf_counter, the same monotonic clock across
    processes), call wall s, kernel wall s, pairs compared, call CPU s."""
    rows = []
    for path in glob.glob(os.path.join(prof_dir, "*.csv")):
        with open(path) as fh:
            rows += [tuple(map(float, ln.split(","))) for ln in fh if ln.strip()]
    n = max(len(windows), 1)
    call = kern = pairs = cpu = 0.0
    for t0, wall, kwall, npairs, ccpu in rows:
        if any(lo <= t0 <= hi for lo, hi in windows):
            call, kern = call + wall, kern + kwall
            pairs, cpu = pairs + npairs, cpu + ccpu
    return {"udf_call_s": call / n, "kernel_s": kern / n, "pairs": pairs / n,
            "pairs_per_core_s": pairs / cpu if cpu else 0.0}


# ---------------------------------------------------------------------------
# run context (recorded only — never used to rescale a metric)
# ---------------------------------------------------------------------------


def cpu_probe(iterations: int = 1_500_000) -> float:
    """Single-core speed index: million loop iterations per second of a
    fixed pure-Python integer loop."""
    t0 = time.perf_counter()
    x = 0
    for i in range(iterations):
        x = (x + i * i) % 1_000_003
    return iterations / 1e6 / (time.perf_counter() - t0)


def run_context(spark, cores: int) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "local_cores": cores,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_memory": spark.sparkContext.getConf().get(
            "spark.driver.memory", ""),
    }
