#!/usr/bin/env python3
"""MapReduce-job benchmark for the engine in this checkout.

    python3 mrbench/run.py --workload wc_compat --seed 1 --seconds 15 --trace 0

Workloads: wc_compat, grep_compat, small_jobs, query_mix (the last also
needs ``--data-dir``, a directory of the fixture parquet tables). Inputs
are generated from ``--seed`` and cached under ``mrbench/_run/data``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with Spark's event log, the executable wrapper and call spans
on, and prints the per-layer metrics (spans go to ``mrbench/_run/trace``).
Human-readable lines come first; the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes stays under ``mrbench/_run``. The exit code is
0 only when a result was printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN = ROOT / "mrbench" / "_run"
ENGINE = "mapreduce_server_development_spark"

#: JSON metrics per mode, in print order (BENCHMARK.json lists the same).
#: The table prints more. Wall times (job_s, latency_*, warmup_s) follow
#: the shared host's speed, which swings by up to 2x between runs, so
#: the gated job figure is job_rel: job time divided by a host probe
#: taken alongside it. The raw times go with the per-layer set under
#: their own names.
E2E = ("setup_s", "job_rel", "peak_rss_mb")
QUERY_E2E = ("setup_s", "warmup_s", "mix_s", "peak_rss_mb")
LAYERS = (
    "session.get_spark_s", "session.release_checkpoints_s",
    "daemon.ready_s", "daemon.send_s", "daemon.service_s",
    "daemon.queue_wait_p50_s", "daemon.queue_wait_p75_s", "daemon.backlog_max",
    "daemon.generator_lag_s",
    "map.invocations_per_file", "map.exec_busy_s",
    "group.spark_jobs",
    "reduce.invocations_per_partition", "reduce.exec_busy_s",
    "sink.prepare_s", "sink.rename_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s", "spark.task_cpu_s",
    "spark.gc_s", "spark.scheduler_delay_s", "spark.busy_ratio",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "proc.cpu_s", "proc.subprocesses",
    "fail_ratio", "job_s", "latency_p50_s", "latency_p75_s", "warmup_s", "probe_s",
)
#: Traced figures printed with their difference from the last untraced
#: run of the same workload and seed: the tracing overhead.
OVERHEAD = ("job_s", "latency_p50_s", "mix_s")


def _spark_conf(conf_dir: Path, tmp: Path, local: Path, event_dir: Path | None) -> None:
    """A benchmark-owned spark-defaults.conf: keep every file Spark and
    the JVM write inside the run dir, and turn the event log on for
    traced runs."""
    conf_dir.mkdir(parents=True, exist_ok=True)
    lines = [
        "spark.ui.showConsoleProgress false",
        f"spark.local.dir {local}",
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp}",
    ]
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{event_dir}",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    (conf_dir / "spark-defaults.conf").write_text("\n".join(lines) + "\n")


def _engine_env(work: Path, conf_dir: Path) -> dict:
    """Environment of every engine process. -XX:-UsePerfData keeps the
    JVMs from writing hsperfdata files under the system temp dir."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.pop("XDG_RUNTIME_DIR", None)  # the daemon's runtime dir falls back to TMPDIR
    env.update({
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_CONF_DIR": str(conf_dir),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0))),
        # Also reaches spark-submit's launcher JVM, which the conf does not.
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    return env


def _setup_probe() -> int:
    """One fresh engine start-up: get_spark + a trivial action."""
    from mrbench.workloads import engine_setup, engine_stop

    spark, elapsed = engine_setup()
    engine_stop(spark)
    print(json.dumps({"setup_s": elapsed}))
    return 0


def _fmt(v: float) -> str:
    return f"{v:.4f}" if abs(v) < 1000 else f"{v:.1f}"


def _report(name: str, res, trace: bool, previous: dict | None) -> dict:
    from mrbench.metrics import tail_percentile

    print(f"== {name}: attempted {res.attempted}, failed {res.failed}, "
          f"fail_ratio {res.failed / max(res.attempted, 1):.4f} ratio")
    for note in res.notes:
        print(f"   {note}")
    for key, (value, unit, n) in res.e2e.items():
        tail = tail_percentile(n)
        extra = f"  (tail p{tail:g} available)" if tail else ""
        print(f"   {key:<16} {_fmt(value):>12} {unit:<5} n={n}{extra}")
    if trace:
        for key, (value, unit) in res.layer.items():
            line = f"   {key:<34} {_fmt(value):>12} {unit}"
            if key in OVERHEAD and previous and key in previous:
                line += f"  (tracing overhead {value - previous[key]:+.4f} vs untraced run)"
            print(line)
    wanted = (QUERY_E2E if name == "query_mix" else E2E) if not trace else (
        [k for k in res.layer] if name == "query_mix" else LAYERS)
    source = res.layer if trace else {k: v[:2] for k, v in res.e2e.items()}
    return {k: {"value": float(source[k][0]), "unit": source[k][1]} for k in wanted}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data-dir", help="query_mix: directory of the fixture parquet tables")
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not (ROOT / ENGINE / "__init__.py").is_file():
        print(f"error: engine package {ENGINE}/ not found next to mrbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    # A run stopped by a signal still unwinds, so the daemon and the
    # engine it started are stopped and waited for.
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda signum, _frame: sys.exit(128 + signum))
    if args.setup_probe:
        return _setup_probe()

    from mrbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(WORKLOADS)}")
    work = RUN / "work" / f"{args.workload}-{os.getpid()}"
    trace_dir = RUN / "trace" / f"{args.workload}-seed{args.seed}"
    shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        shutil.rmtree(trace_dir, ignore_errors=True)
        (trace_dir / "exec").mkdir(parents=True)
    event_dir = work / "eventlog"
    plain_conf, trace_conf = work / "conf-plain", work / "conf-trace"
    _spark_conf(plain_conf, work / "tmp", work / "local", None)
    _spark_conf(trace_conf, work / "tmp", work / "local", event_dir)
    probe_env = _engine_env(work, plain_conf)
    env = _engine_env(work, trace_conf if args.trace else plain_conf)
    # The in-process engine (get_spark) reads the same variables.
    os.environ.update(env)

    ctx = Ctx(root=ROOT, data=RUN / "data", work=work, trace_dir=trace_dir, seed=args.seed,
              seconds=args.seconds, trace=bool(args.trace), env=env, probe_env=probe_env,
              event_dir=event_dir, data_dir=args.data_dir)
    t0 = time.time()
    try:
        res = WORKLOADS[args.workload](ctx)
    finally:
        if args.trace:
            ctx.spans.write(trace_dir / "spans.jsonl")
            shutil.copytree(event_dir, trace_dir / "eventlog", dirs_exist_ok=True)
        shutil.rmtree(work, ignore_errors=True)

    results = RUN / "results"
    results.mkdir(parents=True, exist_ok=True)
    untraced = results / f"{args.workload}-seed{args.seed}.json"
    previous = json.loads(untraced.read_text()) if args.trace and untraced.exists() else None
    metrics = _report(args.workload, res, bool(args.trace), previous)
    if not args.trace:
        untraced.write_text(json.dumps({k: v[0] for k, v in res.e2e.items()}))
    print(f"   (run took {time.time() - t0:.1f} s)")
    print(json.dumps({
        "correct": res.failed == 0 and res.valid,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
