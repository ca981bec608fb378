"""MapReduce-compat job API: arbitrary executables as map/reduce ops.

The reference engine's entire query language is "run an executable over
a directory of text files" (SURVEY.md §2.1-2.2):

- job spec: ``{input_directory, output_directory, mapper_executable,
  reducer_executable, num_mappers, num_reducers}``
  (reference: mapreduce/submit.py:68-76);
- map contract: one subprocess per input file, file contents on stdin,
  stdout captured (reference: mapreduce/worker/__main__.py:144-168);
- group contract: all map-output lines sorted lexicographically as
  newline-terminated strings, then a counter that increments on each
  DISTINCT line routes the line to reduce file ``count % num_reducers``
  (reference: mapreduce/manager/__main__.py:587-593 — note the quirk:
  the grouping unit is the whole ``key\\tvalue`` line, not the key);
- reduce contract: one subprocess per reduce partition, sorted lines on
  stdin, stdout captured (reference reuses worker/__main__.py:144-168);
- sink: output dir overwritten, results named ``outputfile01..NN``
  (reference: mapreduce/manager/__main__.py:738-761).

Spark mapping: the contract is byte-level, so both stages hand the OS
raw bytes. A map task owns a round-robin slice of the input files
(``num_mappers`` tasks at most) and runs the mapper once per file with
the opened file as its stdin; its stdout lines are the map output. The
group stage is Spark's shuffle over those ``bytes`` lines. A reduce
task writes its sorted lines to the reducer's stdin, and the reducer's
stdout IS the part file. A nonzero exit fails the task, so Spark's task
re-execution — the reference manager's dead-worker reassignment, F13 —
retries it (``session.get_spark`` allows two attempts per task).
Everything else the reference's Manager/Worker processes do
operationally — FIFO job queue, dynamic load balancing, heartbeats,
straggler handling (SURVEY §2.1 F9-F14) — is the Spark scheduler and
needs no code here.

Two grouping modes:

- ``compat=True`` (default): byte-exact reference semantics — global
  lexicographic sort + distinct-line round-robin routing. Costs a
  distinct + sort + join of the map output; use for golden parity.
- ``compat=False``: the 100 TB path — hash-partition on the tab-key
  with ONE shuffle (``repartitionAndSortWithinPartitions``); identical
  reduce results for key-based reducers (all shipped reference
  workloads), but line→file assignment differs from the golden splits.

Scale posture: only the (empty) per-partition acknowledgements reach the
driver; the sort is Spark's range-partitioned external sort
(spill-backed — the analog of the reference's heapq k-way merge under
its tested 1 MB bound); executable stdout is streamed, never buffered.
"""

from __future__ import annotations

import os
import shlex
import subprocess
from dataclasses import asdict, dataclass
from pathlib import Path

from pyspark import TaskContext
from pyspark.rdd import portable_hash
from pyspark.sql import SparkSession


@dataclass
class JobSpec:
    """A MapReduce job, mirroring the reference's new_manager_job dict
    (mapreduce/submit.py:68-76; defaults from submit.py:24-56).

    Executables may carry arguments — the reference's grep mapper takes
    an optional query term (tests/testdata/exec/grep_map.py:13-18) —
    either as an argv list (``["grep_map.py", "apple"]``, unambiguous)
    or as a shell-style string (``"grep_map.py apple"``, split with
    shlex)."""

    input_directory: str
    output_directory: str
    mapper_executable: str | list[str]
    reducer_executable: str | list[str]
    num_mappers: int = 4
    num_reducers: int = 1


def _argv(executable: str | list[str] | tuple[str, ...]) -> list[str]:
    """The argv for an executable spec: a list/tuple is used as given;
    a string is shlex-split, so ``"grep_map.py apple pie"`` runs the
    mapper with two arguments. Paths containing spaces must use the
    list form (or shell quoting)."""
    if isinstance(executable, (list, tuple)):
        return list(executable)
    return shlex.split(str(executable))


def round_robin_partition(files: list[str], num_tasks: int) -> list[list[str]]:
    """F2: sorted file *i* → task ``i % num_tasks``.

    (reference: mapreduce/manager/__main__.py:402-423). ``run_job``
    gives each list to one map task.
    """
    tasks: list[list[str]] = [[] for _ in range(max(1, num_tasks))]
    for i, f in enumerate(sorted(files)):
        tasks[i % max(1, num_tasks)].append(f)
    return tasks


def run_job(
    spark: SparkSession,
    input_directory: str,
    output_directory: str,
    mapper_executable: str | list[str],
    reducer_executable: str | list[str],
    num_mappers: int = 4,
    num_reducers: int = 1,
    compat: bool = True,
) -> list[str]:
    """Run a full map → group → reduce → sink job; returns output paths.

    Synchronous (the Spark action IS the job); multi-job queueing,
    load balancing and fault recovery are the Spark scheduler's. A
    failed job leaves an existing output directory untouched.
    """
    # Imported at call time, so wrappers installed on the sources.text
    # functions (the benchmark's tracing) see every call.
    from ..sources.text import collect_numbered_outputs, prepare_numbered_sink

    sc = spark.sparkContext
    # Skip Hadoop marker/hidden files ('_SUCCESS', '.*.crc') — Hadoop
    # writers leave them next to results, and they are not job input.
    files = sorted(
        str(p)
        for p in Path(input_directory).glob("*")
        if p.is_file() and not p.name.startswith((".", "_"))
    )
    map_argv = _argv(mapper_executable)
    reduce_argv = _argv(reducer_executable)
    n = max(1, num_reducers)
    out, staging = prepare_numbered_sink(output_directory)

    # The closures below are defined here so cloudpickle ships them BY
    # VALUE: module-level functions would be pickled by reference, and
    # executors cannot import this package when the driver runs from
    # outside the repo.
    def map_files(paths):
        # F3: the OS feeds each file to the mapper unchanged.
        for path in paths:
            with open(path, "rb") as stdin:
                proc = subprocess.Popen(map_argv, stdin=stdin, stdout=subprocess.PIPE)
            with proc.stdout:
                for line in proc.stdout:
                    yield line.removesuffix(b"\n")
            if proc.wait():
                raise RuntimeError(f"mapper {map_argv} exited {proc.returncode} on {path}")

    k = max(1, min(num_mappers, len(files)))
    mapped = sc.parallelize(round_robin_partition(files, k), k).flatMap(map_files)

    # The reference sorts newline-TERMINATED lines (readlines() then
    # sort()): "a" vs "a\tb" order flips if compared bare, so the
    # trailing newline is part of the sort key — and the key is exactly
    # the bytes the reducer reads.
    if compat:
        # Global dense rank over distinct lines (sorted), then route
        # line -> rank % n. distinct+sortBy+zipWithIndex are all
        # distributed; the join re-attaches ranks to every copy.
        ranks = mapped.distinct().sortBy(lambda line: line + b"\n").zipWithIndex()
        routed = (
            mapped.map(lambda line: (line, None))
            .join(ranks)
            .map(lambda kv: ((kv[1][1] % n, kv[0] + b"\n"), None))
        )
    else:
        # One-shuffle path: hash the tab-separated key. Sorting by the
        # full line keeps identical keys adjacent (keys contain no tab),
        # which is all a sort-contract reducer (`uniq -c`) needs.
        routed = mapped.map(
            lambda line: ((portable_hash(line.split(b"\t", 1)[0]) % n, line + b"\n"), None)
        )
    grouped = routed.repartitionAndSortWithinPartitions(
        numPartitions=n, partitionFunc=lambda key: key[0]
    )

    def reduce_partition(i, records):
        # F7: one reducer per partition, sorted lines on stdin; its
        # stdout is this attempt's own file, renamed into place only
        # after a zero exit, so retried or speculative attempts never
        # share a file.
        part = staging / f"part-{i:05d}"
        tmp = f"{part}.{TaskContext.get().taskAttemptId()}.tmp"
        with open(tmp, "wb") as stdout:
            proc = subprocess.Popen(reduce_argv, stdin=subprocess.PIPE, stdout=stdout)
        try:
            with proc.stdin:
                for (_, line), _ in records:
                    proc.stdin.write(line)
        except BrokenPipeError:
            pass  # the reducer stopped reading; its exit status decides
        if proc.wait():
            os.unlink(tmp)
            raise RuntimeError(f"reducer {reduce_argv} exited {proc.returncode}")
        os.replace(tmp, part)
        return []

    grouped.mapPartitionsWithIndex(reduce_partition).collect()
    return collect_numbered_outputs(out, staging)


def submit(spark: SparkSession, spec: JobSpec, compat: bool = True) -> list[str]:
    """F15 job-submission API: run a JobSpec, return the output paths."""
    return run_job(spark, compat=compat, **asdict(spec))
