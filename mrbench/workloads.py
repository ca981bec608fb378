"""The benchmark's workloads.

Each workload drives the engine only through its public entry points
(``session.get_spark``, ``operators.mapreduce.run_job``, the daemon's
``new_manager_job`` message after ``mapreduce-spark start``, and
``__spark_entry__.queries()``), checks every output, and returns a
:class:`Result`.

- ``wc_compat`` / ``grep_compat``: closed loop, one ``run_job`` at a
  time on an in-process session, compat grouping (the default of
  ``submit``). Latency is the job's wall time.
- ``small_jobs``: open loop against the daemon. Jobs arrive on a fixed
  Poisson trace; latency runs from each job's due time to the moment its
  output file exists.
- ``query_mix``: passes over 24 library queries on a fixture directory.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import signal
import socket
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

from mrbench import gen
from mrbench.metrics import (
    ProcSampler,
    Spans,
    fifo_accounting,
    host_probe,
    median,
    percentile,
    proc_tree,
    read_event_log,
    read_jsonl,
    spark_window_stats,
    spawn_probe,
)

ENGINE = "mapreduce_server_development_spark"
BENCH_DIR = Path(__file__).resolve().parent

#: Engine start-ups per run (the measured engine plus fresh probes);
#: setup_s is their median. Each costs 7-12 s on a 4-core host; two keep
#: a run short enough for a sweep of 4 + 22 runs per workload in 3420 s.
SETUP_SAMPLES = 2

#: Untimed jobs before the timed window; warmup_s is the first one. A
#: fresh JVM keeps speeding up over the first few jobs (measured service
#: 4.0, 2.9, 2.6, 2.3 s after a single small_jobs warm-up job); the
#: compat loop's median absorbs its smaller drift.
COMPAT_WARMUP_JOBS = 2
SMALL_WARMUP_JOBS = 2

#: wc_compat / grep_compat: host probes before each timed job and after
#: the last one.
COMPAT_PROBES = 3

WC_TASKS = (4, 4)  # (num_mappers, num_reducers)
GREP_TASKS = (4, 1)
SMALL_TASKS = (2, 1)

#: small_jobs arrival rate (jobs/s): about half the serial capacity of a
#: warm daemon on a 4-core host (~2 s per reference-shaped job).
ARRIVAL_RATE = 0.25
#: The arrival trace is one fixed Poisson draw, the same in every run, so
#: runs differ only in input contents and in the engine's own noise; the
#: seed picks which pool input each arrival uses.
ARRIVAL_TRACE = "small_jobs-arrivals-v1"
#: A run whose sender started any job later than this share of the mean
#: inter-arrival gap measured the generator, not the engine: invalid.
MAX_LAG_SHARE = 0.1
DRAIN_S = 60.0
POLL_S = 0.01
#: small_jobs: after the open loop, this many jobs are sent at once and
#: served back to back. An open-loop job that follows an idle gap takes
#: 0.9-1.1 s on a 4-core host and one that follows another job 0.75 s
#: (within 1%), so which jobs happen to queue sets the open loop's
#: service median; the batch gives job_s and job_rel a steady base.
BATCH_JOBS = 8
#: small_jobs: host probes right before and right after the batch (the
#: daemon serves one job at a time, so a probe between jobs would delay
#: the next one). Each is a CPU probe plus a spawn probe, the two kinds
#: of work a small job is made of. Alone, the CPU probe moved less than
#: the service time when the host slowed and the spawn probe more: over
#: 40 batches in five minutes on a 4-core host, service ÷ probe varied
#: by 11.5% (CPU), 7.5% (spawn), 7.6% (sum) and 9.5% for service alone;
#: ten runs spread 0.11 (CPU) and 0.17 (spawn) with a slow phase inside.
SMALL_PROBES = 3

#: query_mix: the 22 TPC-H patterns, then one dedup and one ANN query.
TPCH = [
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
    "q4_order_priority", "q5_local_supplier_volume", "q6_forecast_revenue",
    "q7_nation_volume", "q8_market_share", "q9_product_profit",
    "q10_returned_items", "q11_important_parts", "q12_priority_by_status",
    "q13_order_distribution", "q14_promo_revenue", "q15_top_supplier",
    "q16_supplier_count", "q17_small_quantity_revenue", "q18_large_orders",
    "q19_disjunctive_join", "q20_qty_threshold_suppliers",
    "q21_waiting_supplier", "q22_idle_customers",
]
DEDUP_QUERY = "q_stream_minhash_dedup"
SIMILARITY_QUERY = "q_ivfpq_ann"
QUERY_MIX = [*TPCH, DEDUP_QUERY, SIMILARITY_QUERY]


@dataclass
class Ctx:
    root: Path  # checkout root
    data: Path  # per-seed input cache
    work: Path  # this invocation's scratch dir
    trace_dir: Path
    seed: int
    seconds: float
    trace: bool
    env: dict
    probe_env: dict
    event_dir: Path
    data_dir: str | None = None
    spans: Spans = field(default_factory=Spans)

    def exe(self, name: str, *args: str, log: Path | None = None, role: str = "") -> list[str]:
        script = str(BENCH_DIR / "exec" / f"{name}.py")
        if log is None:
            return [sys.executable, script, *args]
        return [sys.executable, str(BENCH_DIR / "exec" / "traced.py"), str(log), role, script, *args]


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    valid: bool = True
    #: name -> (value, unit, sample count)
    e2e: dict = field(default_factory=dict)
    #: name -> (value, unit)
    layer: dict = field(default_factory=dict)
    notes: list = field(default_factory=list)


# -- shared pieces ------------------------------------------------------------


def _cached_expected(path: Path, compute) -> list[bytes]:
    if (path / ".complete").exists():
        return [p.read_bytes() for p in sorted(path.glob("outputfile*"))]
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    outs = compute()
    for i, data in enumerate(outs, start=1):
        (path / f"outputfile{i:02d}").write_bytes(data)
    (path / ".complete").touch()
    return outs


def probe_setups(ctx: Ctx, n: int) -> list[float]:
    """``n`` fresh-process engine start-ups (get_spark + one action)."""
    out = []
    for _ in range(n):
        proc = subprocess.run(
            [sys.executable, str(BENCH_DIR / "run.py"), "--setup-probe"],
            cwd=ctx.root, env=ctx.probe_env, capture_output=True, text=True, timeout=170,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"setup probe failed: {proc.stderr[-2000:]}")
        out.append(json.loads(proc.stdout.strip().splitlines()[-1])["setup_s"])
    return out


def engine_setup():
    """Start the in-process engine; returns (spark, seconds)."""
    from mapreduce_server_development_spark import session

    t0 = time.time()
    spark = session.get_spark()
    spark.range(1).count()
    return spark, time.time() - t0


def descendants(pid: int) -> set[int]:
    """``pid`` and every process below it."""
    return set(proc_tree({pid}))


def wait_gone(pids: set[int], timeout: float = 60.0) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever outlives ``timeout``."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        pids = {p for p in pids if Path(f"/proc/{p}").exists()}
        if not pids:
            return
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def engine_stop(spark) -> None:
    """Stop Spark and wait for the gateway JVM and its workers to exit."""
    from pyspark import SparkContext

    tree = descendants(os.getpid()) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    wait_gone(tree)


def _trace_wraps(spans: Spans) -> None:
    from mapreduce_server_development_spark import daemon, session
    from mapreduce_server_development_spark.operators import mapreduce
    from mapreduce_server_development_spark.sources import text

    spans.wrap(session, "get_spark", "session.get_spark")
    spans.wrap(session, "release_checkpoints", "session.release_checkpoints")
    spans.wrap(mapreduce, "run_job", "run_job")
    spans.wrap(text, "prepare_numbered_sink", "sink.prepare")
    spans.wrap(text, "collect_numbered_outputs", "sink.rename")
    spans.wrap(daemon, "send_message", "daemon.send")


def _cores() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def _probe_procs() -> int:
    """Host probe width: half the cores, so that the engine's own
    background threads (GC, cleanup after a job) do not compete with it
    and it times the host alone."""
    return max(1, _cores() // 2)


def _small_probe() -> float:
    return host_probe(_probe_procs()) + spawn_probe()


def _timing(res: Result, name: str, values: list[float], unit: str = "s") -> None:
    res.e2e[name] = (median(values) if values else 0.0, unit, len(values))


def _op_layers(res: Result, ctx: Ctx, ops: list[dict], window: tuple[float, float],
               spans: list[dict]) -> None:
    """Per-layer metrics from the event log, the executable logs and
    spans. ``ops`` holds one dict per timed job: ``start``/``end`` of its
    run_job call, ``files``, ``reducers`` and its exec ``log``."""
    events = read_event_log(ctx.event_dir)
    per_op = []
    for op in ops:
        st = spark_window_stats(events, op["start"], op["end"])
        recs = read_jsonl(op["log"]) if op.get("log") else []
        maps = [r for r in recs if r["role"] == "map"]
        reds = [r for r in recs if r["role"] == "reduce"]
        st.update(
            map_inv=len(maps) / op["files"],
            map_busy=sum(r["end"] - r["start"] for r in maps),
            red_inv=len(reds) / op["reducers"],
            red_busy=sum(r["end"] - r["start"] for r in reds),
            procs=len(recs),
        )
        per_op.append(st)

    def med(key: str) -> float:
        return median([p[key] for p in per_op]) if per_op else 0.0

    whole = spark_window_stats(events, *window)
    wall = max(window[1] - window[0], 1e-9)
    delays = [d for p in per_op for d in p["scheduler_delays"]]
    lo, hi = window

    def span_med(name: str) -> float:
        ds = [s["end"] - s["start"] for s in spans if s["name"] == name and lo <= s["start"] <= hi]
        return median(ds) if ds else 0.0

    gets = [s["end"] - s["start"] for s in spans if s["name"] == "session.get_spark"]
    res.layer.update({
        "session.get_spark_s": (gets[-1] if gets else 0.0, "s"),
        "session.release_checkpoints_s": (span_med("session.release_checkpoints"), "s"),
        "map.invocations_per_file": (med("map_inv"), "ratio"),
        "map.exec_busy_s": (med("map_busy"), "s"),
        "group.spark_jobs": (med("jobs"), "count"),
        "reduce.invocations_per_partition": (med("red_inv"), "ratio"),
        "reduce.exec_busy_s": (med("red_busy"), "s"),
        "sink.prepare_s": (span_med("sink.prepare"), "s"),
        "sink.rename_s": (span_med("sink.rename"), "s"),
        "spark.jobs": (med("jobs"), "count"),
        "spark.stages": (med("stages"), "count"),
        "spark.tasks": (med("tasks"), "count"),
        "spark.task_run_s": (med("task_run_s"), "s"),
        "spark.task_cpu_s": (med("task_cpu_s"), "s"),
        "spark.gc_s": (med("gc_s"), "s"),
        "spark.scheduler_delay_s": (median(delays) if delays else 0.0, "s"),
        "spark.busy_ratio": (whole["task_run_s"] / (_cores() * wall), "ratio"),
        "spark.shuffle_write_mb": (med("shuffle_write_mb"), "MB"),
        "spark.shuffle_read_mb": (med("shuffle_read_mb"), "MB"),
        "spark.spill_mb": (med("spill_mb"), "MB"),
        "proc.subprocesses": (med("procs"), "count"),
    })


def _common_layers(res: Result, sampler: ProcSampler, n_ops: int) -> None:
    res.layer["proc.cpu_s"] = (sampler.cpu_s / max(n_ops, 1), "s")
    res.layer["fail_ratio"] = (res.failed / max(res.attempted, 1), "ratio")
    for name in ("job_s", "latency_p50_s", "latency_p75_s", "warmup_s", "probe_s"):
        res.layer[name] = res.e2e[name][:2]


def _no_daemon_layers(res: Result) -> None:
    for name, unit in (("daemon.ready_s", "s"), ("daemon.send_s", "s"),
                       ("daemon.service_s", "s"), ("daemon.queue_wait_p50_s", "s"),
                       ("daemon.queue_wait_p75_s", "s"), ("daemon.backlog_max", "count"),
                       ("daemon.generator_lag_s", "s")):
        res.layer[name] = (0.0, unit)


# -- wc_compat / grep_compat --------------------------------------------------


def run_compat(ctx: Ctx, kind: str) -> Result:
    """Closed loop of compat-mode ``run_job`` calls over the corpus."""
    from mapreduce_server_development_spark.operators import mapreduce

    input_dir = gen.corpus(ctx.data, ctx.seed)
    n_files = len(gen.input_files(input_dir))
    size_mb = gen.input_bytes(input_dir) / 1e6
    if kind == "wc":
        nm, nr = WC_TASKS
        expected = _cached_expected(ctx.data / f"expected-wc-{input_dir.name}-{nr}",
                                    lambda: gen.expected_wc(input_dir, nr))
        map_exe, map_args, red_exe = "wc_map", (), "wc_reduce"
    else:
        nm, nr = GREP_TASKS
        expected = _cached_expected(ctx.data / f"expected-grep-{input_dir.name}-{nr}",
                                    lambda: gen.expected_grep(input_dir, gen.GREP_TERM, nr))
        map_exe, map_args, red_exe = "grep_map", (gen.GREP_TERM,), "grep_reduce"

    res = Result()
    setups = [] if ctx.trace else probe_setups(ctx, SETUP_SAMPLES - 1)
    if ctx.trace:
        _trace_wraps(ctx.spans)
    spark, main_setup = engine_setup()
    setups.append(main_setup)
    out_dir = ctx.work / "out"
    ops: list[dict] = []
    walls: list[float] = []
    probes: list[float] = []
    sampler = ProcSampler(lambda: {os.getpid()}, exclude={os.getpid()})
    try:
        def one_job(i: int):
            log = ctx.trace_dir / "exec" / f"job-{i:03d}.jsonl" if ctx.trace else None
            mapper = ctx.exe(map_exe, *map_args, log=log, role="map")
            reducer = ctx.exe(red_exe, log=log, role="reduce")
            ctx.spans.op = f"job-{i:03d}"
            t0 = time.time()
            try:
                mapreduce.run_job(spark, str(input_dir), str(out_dir), mapper, reducer, nm, nr, compat=True)
                error = None
            except Exception as e:  # noqa: BLE001 — a failed job is counted, not fatal
                error = f"{type(e).__name__}: {e}"
            t1 = time.time()
            ok = error is None and gen.read_outputs(out_dir) == expected
            if not ok:
                res.notes.append(f"job {i} wrong output" + (f" ({error[:300]})" if error else ""))
            return t0, t1, ok, log

        warm = []
        for i in range(COMPAT_WARMUP_JOBS):
            t0, t1, ok, _ = one_job(i)
            warm.append(t1 - t0)
            res.attempted += 1
            res.failed += 0 if ok else 1
        warmup = warm[0]

        # Closed loop over the window: host probes, then a job; rounds
        # start until the window has passed (at least one runs).
        sampler.start()
        start = time.time()
        i = COMPAT_WARMUP_JOBS - 1
        while not walls or time.time() - start < ctx.seconds:
            i += 1
            probes += [host_probe(_probe_procs(), sampler.exclude) for _ in range(COMPAT_PROBES)]
            t0, t1, ok, log = one_job(i)
            res.attempted += 1
            if ok:
                walls.append(t1 - t0)
                ops.append({"start": t0, "end": t1, "files": n_files, "reducers": nr, "log": log})
            else:
                res.failed += 1
                if res.failed > COMPAT_WARMUP_JOBS + 2:
                    break
        end = time.time()
        sampler.stop()
        probes += [host_probe(_probe_procs()) for _ in range(COMPAT_PROBES)]
    finally:
        ctx.spans.op = None
        engine_stop(spark)

    _timing(res, "setup_s", setups)
    res.e2e["warmup_s"] = (warmup, "s", 1)
    _timing(res, "job_s", walls)
    _timing(res, "probe_s", probes)
    _timing(res, "job_rel", [w / res.e2e["probe_s"][0] for w in walls], "ratio")
    job_s = res.e2e["job_s"][0]
    res.e2e["input_mb_s"] = (size_mb / job_s if job_s else 0.0, "MB/s", len(walls))
    res.e2e["latency_p50_s"] = (percentile(walls, 50) if walls else 0.0, "s", len(walls))
    res.e2e["latency_p75_s"] = (percentile(walls, 75) if walls else 0.0, "s", len(walls))
    res.e2e["peak_rss_mb"] = (sampler.peak_rss_mb, "MB", 1)
    res.notes.append(f"input {size_mb:.2f} MB in {n_files} files; {nm} mappers / {nr} reducers; "
                     f"job walls {[round(w, 2) for w in walls]}; "
                     f"probes {[round(x, 3) for x in probes]}")
    if ctx.trace:
        _op_layers(res, ctx, ops, (start, end), ctx.spans.records)
        _no_daemon_layers(res)
        _common_layers(res, sampler, len(ops))
    return res


# -- small_jobs ---------------------------------------------------------------


def arrival_trace(seconds: float) -> list[float]:
    """Due times (s from the window start) of the fixed arrival trace.

    A Poisson process with ``n`` arrivals in ``[0, seconds)`` places
    them as ``n`` sorted uniform draws; ``n`` is fixed at the expected
    count so that every run of a given length sends as many jobs."""
    rng = random.Random(ARRIVAL_TRACE)
    n = max(1, round(ARRIVAL_RATE * seconds))
    return sorted(rng.uniform(0.0, seconds) for _ in range(n))


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class _Daemon:
    """``mapreduce-spark start``/``stop`` through the engine's CLI."""

    def __init__(self, ctx: Ctx, env: dict):
        self.ctx = ctx
        self.env = env
        self.pidfile = ctx.work / "daemon.pid"
        self.port = _free_port()
        self.info: dict | None = None

    def _cli(self, verb: str) -> subprocess.CompletedProcess:
        return subprocess.run(
            [sys.executable, "-m", f"{ENGINE}.cli", verb, "--pidfile", str(self.pidfile),
             "--port", str(self.port), "--timeout", "120"],
            cwd=self.ctx.root, env=self.env, capture_output=True, text=True, timeout=170,
        )

    def start(self) -> float:
        from mapreduce_server_development_spark import daemon

        t0 = time.time()
        proc = self._cli("start")
        elapsed = time.time() - t0
        self.info = daemon.read_pidfile(str(self.pidfile))
        if proc.returncode != 0 or not self.info:
            self._kill_strays()
            raise RuntimeError(f"daemon start failed: {proc.stdout[-500:]} {proc.stderr[-1500:]}")
        return elapsed

    def _kill_strays(self) -> None:
        """SIGKILL the session of any daemon launched with our pidfile
        (a start that timed out leaves one running without a pidfile)."""
        needle = str(self.pidfile).encode()
        for entry in Path("/proc").iterdir():
            if not entry.name.isdigit():
                continue
            try:
                if needle in (entry / "cmdline").read_bytes():
                    os.killpg(int(entry.name), signal.SIGKILL)
            except (OSError, ProcessLookupError):
                pass

    def stop(self) -> None:
        if self.info is None:
            return
        tree = descendants(int(self.info["pid"]))
        self._cli("stop")
        self.info = None
        wait_gone(tree)


def run_small_jobs(ctx: Ctx) -> Result:
    from mapreduce_server_development_spark import daemon as daemonmod

    inputs = gen.pool(ctx.data, ctx.seed)
    expected = {
        d: _cached_expected(ctx.data / f"expected-pool-{ctx.seed}-{d.name}",
                            lambda d=d: gen.expected_wc(d, 1))[0]
        for d in inputs
    }
    n_files = {d: len(gen.input_files(d)) for d in inputs}
    due = arrival_trace(ctx.seconds)
    pick = random.Random(f"small_jobs-{ctx.seed}")
    W = SMALL_WARMUP_JOBS  # jobs 0..W-1 warm up; timed job k is job W + k
    B = W + len(due)  # batch job b is job B + b
    job_inputs = [pick.choice(inputs) for _ in range(B + BATCH_JOBS)]
    nm, nr = SMALL_TASKS

    env = dict(ctx.env)
    spans_file = ctx.trace_dir / "daemon_spans.jsonl"
    if ctx.trace:
        _trace_wraps(ctx.spans)  # send_message spans, in this process
        env["PYTHONPATH"] = os.pathsep.join([str(BENCH_DIR / "inject"), env.get("PYTHONPATH", "")])
        env["MRBENCH_SPANS"] = str(spans_file)
    probe_env = dict(env)
    probe_env["SPARK_CONF_DIR"] = ctx.probe_env["SPARK_CONF_DIR"]

    res = Result()
    d = _Daemon(ctx, probe_env)
    setups = []
    try:
        for _ in range(0 if ctx.trace else SETUP_SAMPLES - 1):
            setups.append(d.start())
            d.stop()
        d = _Daemon(ctx, env)
        ready = d.start()
        setups.append(ready)
        port, auth, daemon_pid = int(d.info["port"]), d.info["auth"], int(d.info["pid"])

        def submit(i: int) -> Path:
            out = ctx.work / "out" / f"job-{i:03d}"
            log = ctx.trace_dir / "exec" / f"job-{i:03d}.jsonl" if ctx.trace else None
            msg = {
                "message_type": "new_manager_job",
                "input_directory": str(job_inputs[i]),
                "output_directory": str(out),
                "mapper_executable": ctx.exe("wc_map", log=log, role="map"),
                "reducer_executable": ctx.exe("wc_reduce", log=log, role="reduce"),
                "num_mappers": nm,
                "num_reducers": nr,
                "compat": False,
                "auth": auth,
            }
            if not daemonmod.send_message(port, msg):
                raise RuntimeError("daemon refused the connection")
            return out

        def done(out: Path) -> bool:
            return (out / f"outputfile{nr:02d}").exists()

        def check(i: int, out: Path) -> bool:
            got = gen.read_outputs(out)
            ok = got is not None and len(got) == nr and gen.hash_mode_ok(got, expected[job_inputs[i]])
            if not ok:
                res.notes.append(f"job {i} wrong output")
            return ok

        # Warm-up jobs, one at a time, untimed for the latency figures.
        warm = []
        for w in range(W):
            t0 = time.time()
            out_w = submit(w)
            while not done(out_w) and time.time() - t0 < DRAIN_S:
                time.sleep(POLL_S)
            warm.append(time.time() - t0)
            res.attempted += 1
            res.failed += 0 if done(out_w) and check(w, out_w) else 1
        warmup = warm[0]

        sampler = ProcSampler(lambda: {daemon_pid})
        sampler.start()
        origin = time.time() + 0.05
        sent_at: list[float | None] = [None] * len(due)
        outs: list[Path | None] = [None] * len(due)
        send_errors: list[str] = []

        def sender() -> None:
            for k, dt in enumerate(due):
                pause = origin + dt - time.time()
                if pause > 0:
                    time.sleep(pause)
                sent_at[k] = time.time()
                try:
                    outs[k] = submit(W + k)
                except RuntimeError as e:
                    send_errors.append(str(e))

        thread = threading.Thread(target=sender, name="generator")
        thread.start()
        completed: dict[int, float] = {}
        deadline = origin + due[-1] + DRAIN_S
        while len(completed) < len(due) and time.time() < deadline:
            for k, out in enumerate(outs):
                if out is not None and k not in completed and done(out):
                    completed[k] = time.time()
            if not thread.is_alive() and all(o is None or k in completed for k, o in enumerate(outs)):
                break
            time.sleep(POLL_S)
        thread.join(timeout=DRAIN_S)
        end = time.time()
        sampler.stop()

        # The back-to-back batch, bracketed by host probes.
        probes = [_small_probe() for _ in range(SMALL_PROBES)]
        batch_sent, batch_outs = [], []
        for b in range(BATCH_JOBS):
            batch_sent.append(time.time())
            batch_outs.append(submit(B + b))
        batch_done: dict[int, float] = {}
        while len(batch_done) < BATCH_JOBS and time.time() < batch_sent[-1] + DRAIN_S:
            for b, out in enumerate(batch_outs):
                if b not in batch_done and done(out):
                    batch_done[b] = time.time()
            time.sleep(POLL_S)
        probes += [_small_probe() for _ in range(SMALL_PROBES)]
    finally:
        d.stop()

    latencies, arrivals, completions = [], [], []
    for k in range(len(due)):
        res.attempted += 1
        if k in completed and check(W + k, outs[k]):
            arrivals.append(origin + due[k])
            completions.append(completed[k])
            latencies.append(completed[k] - (origin + due[k]))
        else:
            res.failed += 1
    res.notes.extend(send_errors)
    lags = [s - (origin + t) for s, t in zip(sent_at, due) if s is not None]
    max_lag = max(lags) if lags else 0.0
    if max_lag > MAX_LAG_SHARE / ARRIVAL_RATE:
        res.valid = False
        res.notes.append(f"INVALID: generator ran {max_lag:.3f} s late "
                         f"(limit {MAX_LAG_SHARE / ARRIVAL_RATE:.3f} s)")
    fifo = fifo_accounting(arrivals, completions)
    batch_ok = [b for b in range(BATCH_JOBS) if b in batch_done and check(B + b, batch_outs[b])]
    res.attempted += BATCH_JOBS
    res.failed += BATCH_JOBS - len(batch_ok)
    batch = fifo_accounting(batch_sent, [batch_done.get(b, float("nan")) for b in range(BATCH_JOBS)])
    batch_service = [batch["service"][b] for b in batch_ok]

    _timing(res, "setup_s", setups)
    res.e2e["warmup_s"] = (warmup, "s", 1)
    _timing(res, "job_s", batch_service)
    _timing(res, "probe_s", probes)
    probe_s = res.e2e["probe_s"][0]
    _timing(res, "job_rel", [x / probe_s for x in batch_service], "ratio")
    res.e2e["latency_p50_s"] = (percentile(latencies, 50) if latencies else 0.0, "s", len(latencies))
    res.e2e["latency_p75_s"] = (percentile(latencies, 75) if latencies else 0.0, "s", len(latencies))
    res.e2e["peak_rss_mb"] = (sampler.peak_rss_mb, "MB", 1)
    res.notes.append(f"{len(due)} jobs at {ARRIVAL_RATE}/s over {ctx.seconds:g} s; "
                     f"{nm} mappers / {nr} reducer, hash grouping; "
                     f"service {[round(x, 2) for x in fifo['service']]}, "
                     f"latency {[round(x, 2) for x in latencies]}; "
                     f"batch of {BATCH_JOBS}: service {[round(x, 2) for x in batch_service]}; "
                     f"probes {[round(x, 3) for x in probes]}")

    if ctx.trace:
        daemon_spans = read_jsonl(spans_file)
        runs = sorted((s for s in daemon_spans if s["name"] == "run_job"), key=lambda s: s["start"])
        # FIFO: the daemon's (W + k)-th run_job call serves timed job k.
        ops = []
        for k, span in enumerate(runs[W:W + len(due)]):
            if k in completed:
                log = ctx.trace_dir / "exec" / f"job-{W + k:03d}.jsonl"
                ops.append({"start": span["start"], "end": span["end"],
                            "files": n_files[job_inputs[W + k]], "reducers": nr, "log": log})
        _op_layers(res, ctx, ops, (origin, end), daemon_spans)
        sends = ctx.spans.durations("daemon.send")
        waits = fifo["wait"] or [0.0]
        res.layer.update({
            "daemon.ready_s": (ready, "s"),
            "daemon.send_s": (median(sends) if sends else 0.0, "s"),
            "daemon.service_s": (median(fifo["service"]) if fifo["service"] else 0.0, "s"),
            "daemon.queue_wait_p50_s": (percentile(waits, 50), "s"),
            "daemon.queue_wait_p75_s": (percentile(waits, 75), "s"),
            "daemon.backlog_max": (max(fifo["backlog"], default=0), "count"),
            "daemon.generator_lag_s": (max_lag, "s"),
        })
        _common_layers(res, sampler, len(completions))
    return res


# -- query_mix ----------------------------------------------------------------


def _run_query(spark, fn, data_dir: str) -> None:
    fn(spark, data_dir).write.format("noop").mode("overwrite").save()


def _check_queries(spark, queries: dict, data_dir: str) -> list[str]:
    """Compare every query with its DuckDB oracle; returns failures."""
    import duckdb

    import __spark_entry__ as entry
    from mapreduce_server_development_spark.oracle_compare import canon_rows, register_duckdb_views

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    register_duckdb_views(con, data_dir)
    bad = []
    try:
        for name in QUERY_MIX:
            sdf = queries[name](spark, data_dir)
            scols = [c.lower() for c in sdf.columns]
            srows = [tuple(r) for r in sdf.collect()]
            rel = con.sql(oracles[name])
            ocols = [c.lower() for c in rel.columns]
            orows = rel.fetchall()
            if sorted(scols) != sorted(ocols) or canon_rows(srows, scols) != canon_rows(orows, ocols):
                bad.append(name)
    finally:
        con.close()
    return bad


def run_query_mix(ctx: Ctx) -> Result:
    if not ctx.data_dir:
        raise SystemExit("query_mix needs --data-dir (a fixture dir with the TPC-H-ish parquet tables)")
    import __spark_entry__ as entry

    queries = entry.queries()
    res = Result()
    setups = [] if ctx.trace else probe_setups(ctx, SETUP_SAMPLES - 1)
    if ctx.trace:
        _trace_wraps(ctx.spans)
    from mapreduce_server_development_spark import session

    spark, main_setup = engine_setup()
    setups.append(main_setup)
    sampler = ProcSampler(lambda: {os.getpid()}, exclude={os.getpid()})
    per_query: dict[str, list[float]] = {n: [] for n in QUERY_MIX}
    passes: list[float] = []
    try:
        def one_pass(record: bool) -> float:
            t_pass = 0.0
            for name in QUERY_MIX:
                ctx.spans.op = name
                t0 = time.time()
                _run_query(spark, queries[name], ctx.data_dir)
                dt = time.time() - t0
                t_pass += dt
                if record:
                    per_query[name].append(dt)
                spark.catalog.clearCache()
                session.release_checkpoints(spark)
            return t_pass

        warmup = one_pass(record=False)
        sampler.start()
        start = time.time()
        while not passes or time.time() - start < ctx.seconds:
            passes.append(one_pass(record=True))
        sampler.stop()
        ctx.spans.op = None
        bad = _check_queries(spark, queries, ctx.data_dir)
    finally:
        engine_stop(spark)
    res.attempted = len(QUERY_MIX)
    res.failed = len(bad)
    res.notes.extend(f"{name}: differs from its DuckDB oracle" for name in bad)
    _timing(res, "setup_s", setups)
    res.e2e["warmup_s"] = (warmup, "s", 1)
    _timing(res, "mix_s", passes)
    res.e2e["peak_rss_mb"] = (sampler.peak_rss_mb, "MB", 1)
    if ctx.trace:
        med = {n: median(v) for n, v in per_query.items()}
        for name in QUERY_MIX:
            res.layer[f"query.{name}_s"] = (med[name], "s")
        res.layer["plans.relational_s"] = (sum(med[n] for n in TPCH), "s")
        res.layer["functions.dedup_s"] = (med[DEDUP_QUERY], "s")
        res.layer["functions.similarity_s"] = (med[SIMILARITY_QUERY], "s")
        rel = ctx.spans.durations("session.release_checkpoints")
        res.layer["session.release_checkpoints_s"] = (median(rel) if rel else 0.0, "s")
        gets = ctx.spans.durations("session.get_spark")
        res.layer["session.get_spark_s"] = (gets[-1] if gets else 0.0, "s")
        res.layer["proc.cpu_s"] = (sampler.cpu_s / len(passes), "s")
        res.layer["fail_ratio"] = (res.failed / res.attempted, "ratio")
        res.layer["mix_s"] = (res.e2e["mix_s"][0], "s")
    return res


WORKLOADS = {
    "wc_compat": lambda ctx: run_compat(ctx, "wc"),
    "grep_compat": lambda ctx: run_compat(ctx, "grep"),
    "small_jobs": run_small_jobs,
    "query_mix": run_query_mix,
}
