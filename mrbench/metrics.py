"""Measurement helpers: percentiles, FIFO queue accounting, a /proc
process-tree sampler, call spans, and the Spark event-log reader.

All of it observes the engine from outside: spans wrap calls into the
engine's public functions, the sampler reads /proc, and Spark's own
event log supplies per-task counters.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from collections.abc import Callable
from pathlib import Path

#: Percentiles offered as the tail figure, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(values: list[float], p: float) -> float:
    """Linear interpolation between order statistics (p in 0..100)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def tail_percentile(n: int) -> float | None:
    """Highest offered percentile with at least ten of ``n`` samples
    beyond it, or None when there are too few samples."""
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) / 100.0 >= 10:
            return p
    return None


def fifo_accounting(arrivals: list[float], completions: list[float]) -> dict[str, list[float]]:
    """Per-job queue wait and service time of a single FIFO server.

    Job i starts when it has arrived and job i-1 has completed:
    ``start_i = max(arrival_i, completion_{i-1})``; service is
    ``completion_i - start_i`` and the wait is ``start_i - arrival_i``.
    ``backlog`` is the number of jobs in the system, counting the new
    one, at each arrival.
    """
    if len(arrivals) != len(completions):
        raise ValueError("arrivals and completions differ in length")
    wait, service, backlog = [], [], []
    prev = float("-inf")
    for a, c in zip(arrivals, completions):
        start = max(a, prev)
        wait.append(start - a)
        service.append(c - start)
        prev = c
    for i, a in enumerate(arrivals):
        backlog.append(sum(1 for c in completions[:i] if c > a) + 1)
    return {"wait": wait, "service": service, "backlog": backlog}


# -- host probe ---------------------------------------------------------------

#: One probe process: a fixed pure-Python word count, the kind of work
#: the executables and PySpark's Python workers do. It prints the
#: seconds its counting loop took.
_PROBE_SRC = """
import time
words = [f"w{(i * 7919) % 5003}" for i in range(50_000)]
t0 = time.perf_counter()
for _ in range(40):
    counts = {}
    for w in words:
        counts[w] = counts.get(w, 0) + 1
print(time.perf_counter() - t0)
"""


def host_probe(procs: int, hide: set[int] | None = None) -> float:
    """Median seconds ``procs`` concurrent processes take for one fixed
    unit of CPU work. The work never touches the engine, so the figure
    tracks only how fast the shared host runs at the moment; dividing a
    job's time by it cancels host-speed swings between runs. While the
    probe runs its pids sit in ``hide`` (a :class:`ProcSampler`'s
    exclude set), so they never count towards the engine's RSS or CPU."""
    hide = set() if hide is None else hide
    children = []
    try:
        for _ in range(procs):
            child = subprocess.Popen([sys.executable, "-c", _PROBE_SRC],
                                     stdout=subprocess.PIPE, text=True)
            hide.add(child.pid)
            children.append(child)
        times = [float(c.communicate(timeout=120)[0]) for c in children]
    finally:
        for c in children:
            c.kill()
            c.wait()
            hide.discard(c.pid)
    return median(times)


def spawn_probe(count: int = 6) -> float:
    """Seconds to start and reap ``count`` bare Python processes, one
    after another. Like :func:`host_probe` it never touches the engine;
    it times the host on the chain of process starts and wake-ups that
    bounds a small job rather than on raw CPU throughput."""
    t0 = time.perf_counter()
    for _ in range(count):
        # No timeout: with one, wait() polls in steps of up to 50 ms.
        subprocess.run([sys.executable, "-c", "pass"], check=True)
    return time.perf_counter() - t0


# -- /proc sampler ------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: int) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes) of a pid."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # Field 2 (comm) may hold spaces and parens; split after its last ')'.
    fields = raw[raw.rfind(")") + 2 :].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    rss = int(fields[21]) * _PAGE
    return ppid, (utime + stime + cutime + cstime) / _CLK, rss


def proc_tree(roots: set[int], exclude: set[int] = frozenset()) -> dict[int, tuple[float, int]]:
    """(cpu seconds, rss bytes) of every process at or below ``roots``."""
    stats: dict[int, tuple[int, float, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[int, tuple[float, int]] = {}
    todo = [r for r in roots if r in stats]
    while todo:
        pid = todo.pop()
        if pid in out:
            continue
        out[pid] = stats[pid][1:]
        todo.extend(children.get(pid, ()))
    for pid in exclude:
        out.pop(pid, None)
    return out


class ProcSampler:
    """Samples the process tree under ``roots`` every ``interval`` seconds.

    ``peak_rss_mb`` is the largest summed RSS seen while running.
    ``cpu_s`` is the CPU time the tree spent between :meth:`start` and
    :meth:`stop`: dead processes' time is counted through their parents'
    reaped-children totals, so the sum over the live tree at two points
    gives the difference.
    """

    def __init__(self, roots: Callable[[], set[int]], exclude: set[int] = frozenset(), interval: float = 0.2):
        self._roots = roots
        #: Pids left out of every sample; callers may add and remove pids.
        self.exclude = set(exclude)
        self._interval = interval
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_rss = 0
        self._cpu0 = 0.0
        self.cpu_s = 0.0

    def _sample(self) -> float:
        tree = proc_tree(self._roots(), self.exclude)
        self.peak_rss = max(self.peak_rss, sum(rss for _, rss in tree.values()))
        return sum(cpu for cpu, _ in tree.values())

    def start(self) -> None:
        self._cpu0 = self._sample()
        self._thread = threading.Thread(target=self._run, name="proc-sampler", daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.cpu_s = self._sample() - self._cpu0

    @property
    def peak_rss_mb(self) -> float:
        return self.peak_rss / 2**20


# -- spans --------------------------------------------------------------------


class Spans:
    """In-memory spans (name, start, end, parent, op) around calls into
    the engine's public functions; written out once at the end."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self.op: str | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._seq = 0

    def wrap(self, module, attr: str, name: str) -> None:
        orig = getattr(module, attr)
        spans = self

        def traced(*args, **kwargs):
            stack = spans._local.__dict__.setdefault("stack", [])
            with spans._lock:
                spans._seq += 1
                sid = spans._seq
            rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
                   "op": spans.op, "start": time.time()}
            stack.append(sid)
            try:
                return orig(*args, **kwargs)
            finally:
                stack.pop()
                rec["end"] = time.time()
                with spans._lock:
                    spans.records.append(rec)

        traced.__wrapped__ = orig
        setattr(module, attr, traced)

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.records if r["name"] == name]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for rec in sorted(self.records, key=lambda r: r["start"]):
                f.write(json.dumps(rec) + "\n")


def read_jsonl(path: Path) -> list[dict]:
    """One dict per line of a span or executable log; [] if absent."""
    if not path.exists():
        return []
    return [json.loads(line) for line in path.read_text().splitlines() if line.strip()]


# -- Spark event log ----------------------------------------------------------


def read_event_log(log_dir: Path) -> list[dict]:
    """Every event of every application log in ``log_dir``."""
    events: list[dict] = []
    if not log_dir.is_dir():
        return events
    for path in sorted(log_dir.iterdir()):
        if path.is_file():
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def spark_window_stats(events: list[dict], start: float, end: float) -> dict:
    """Jobs, stages and task counters of the Spark work submitted in
    the wall-clock window ``[start, end]`` (seconds since the epoch)."""
    lo, hi = start * 1000.0, end * 1000.0
    jobs = [e for e in events if e.get("Event") == "SparkListenerJobStart"
            and lo <= e["Submission Time"] <= hi]
    stages = [e for e in events if e.get("Event") == "SparkListenerStageCompleted"
              and lo <= e["Stage Info"].get("Submission Time", -1) <= hi]
    tasks = [e for e in events if e.get("Event") == "SparkListenerTaskEnd"
             and lo <= e["Task Info"]["Launch Time"] <= hi]
    run = cpu = gc = spill = shuffle_w = shuffle_r = 0.0
    delays: list[float] = []
    for t in tasks:
        info, m = t["Task Info"], t.get("Task Metrics") or {}
        run += m.get("Executor Run Time", 0) / 1000.0
        cpu += m.get("Executor CPU Time", 0) / 1e9
        gc += m.get("JVM GC Time", 0) / 1000.0
        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        shuffle_r += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        shuffle_w += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        getting = info.get("Getting Result Time", 0)
        getting = info["Finish Time"] - getting if getting else 0
        delays.append(max(0.0, (info["Finish Time"] - info["Launch Time"]
                                - m.get("Executor Run Time", 0)
                                - m.get("Executor Deserialize Time", 0)
                                - m.get("Result Serialization Time", 0)
                                - getting) / 1000.0))
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": len(tasks),
        "task_run_s": run,
        "task_cpu_s": cpu,
        "gc_s": gc,
        "spill_mb": spill / 2**20,
        "shuffle_write_mb": shuffle_w / 2**20,
        "shuffle_read_mb": shuffle_r / 2**20,
        "scheduler_delays": delays,
    }
