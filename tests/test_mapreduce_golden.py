"""Job-path tests for the MapReduce-compat job API.

Golden tests compare byte-exactly against the reference's own
correct/*.txt files (the reference's integration tests 01-03, SURVEY.md
§5.1), run through ``run_job`` instead of manager/worker processes; they
skip when the reference fixtures are absent. Every other test runs the
repo's own executables (``exec/wc_*.py``, ``tests/exec/grep_*.py``) over
a corpus written by the test and computes its expectation from the
documented job semantics (operators/mapreduce.py).
"""

from __future__ import annotations

import filecmp
import sys
from collections import Counter
from pathlib import Path

import pytest

from .conftest import REF_TESTDATA, REPO, needs_reference

INPUT = REF_TESTDATA / "input"
EXEC = REF_TESTDATA / "exec"
CORRECT = REF_TESTDATA / "correct"

WC_MAP = str(REPO / "exec" / "wc_map.py")
WC_REDUCE = str(REPO / "exec" / "wc_reduce.py")
GREP_MAP = str(REPO / "tests" / "exec" / "grep_map.py")
GREP_REDUCE = str(REPO / "tests" / "exec" / "grep_reduce.py")

#: Reference-shaped input: eight small files with mixed case, repeated
#: words, blank and padded lines, a tab inside a line, an empty file
#: and a file without a final newline.
CORPUS = {
    "file01": "Hello World Bye World\nThe product ships today\n",
    "file02": "Hello Hadoop Goodbye Hadoop\n\n  Product reviews are in  \n",
    "file03": "money makes the world go round\nroot of all evil\n",
    "file04": "root\tcause analysis\nROOT access granted\n",
    "file05": "no newline at the end",
    "file06": "",
    "file07": "Money money MONEY\nproduct product\n",
    "file08": "the end\n",
}


def _corpus(path: Path) -> Path:
    path.mkdir(parents=True)
    for name, text in CORPUS.items():
        (path / name).write_text(text)
    return path


def _wc_expected(texts) -> str:
    """exec/wc_map.py + exec/wc_reduce.py semantics: count lowercased
    whitespace tokens; the reducer emits keys in the order of the
    sorted ``token\\t1`` lines (the sort key is the newline-terminated
    line, so ``a`` sorts before ``a-b``)."""
    counts = Counter(tok for text in texts for tok in text.lower().split())
    keys = sorted(counts, key=lambda tok: tok + "\t1\n")
    return "".join(f"{k}\t{counts[k]}\n" for k in keys)


def _grep_expected(query: str, texts=CORPUS.values()) -> str:
    """Reference grep semantics computed in-process: map emits
    ``1\\t<line>`` for stripped non-empty lines containing ``query``
    (case-insensitive, grep_map.py:13-27), the group stage sorts all
    lines, grep_reduce.py prints the value of two-field lines."""
    mapped: list[str] = []
    for text in texts:
        for line in text.splitlines():
            line = line.strip()
            if line and query in line.lower():
                mapped.append("1\t" + line)
    mapped.sort(key=lambda line: line + "\n")
    return "".join(
        line.split("\t")[1] + "\n" for line in mapped if line.count("\t") == 1
    )


def _run(spark, tmp_path, mapper, reducer, nm, nr, compat=True):
    from mapreduce_server_development_spark.operators import run_job

    return run_job(
        spark,
        str(INPUT),
        str(tmp_path / "out"),
        str(EXEC / mapper),
        str(EXEC / reducer),
        nm,
        nr,
        compat=compat,
    )


def _run_corpus(spark, tmp_path, mapper, reducer, nm, nr, compat=True):
    from mapreduce_server_development_spark.operators import run_job

    return run_job(
        spark,
        str(_corpus(tmp_path / "in")),
        str(tmp_path / "out"),
        mapper,
        reducer,
        nm,
        nr,
        compat=compat,
    )


def _lines(outs) -> list[str]:
    lines: list[str] = []
    for o in outs:
        with open(o, encoding="utf-8") as f:
            lines += f.readlines()
    return lines


@needs_reference
def test_wordcount_golden(spark, tmp_path):
    """Reference test_integration_02: wc 2 mappers / 1 reducer."""
    outs = _run(spark, tmp_path, "wc_map.sh", "wc_reduce.sh", 2, 1)
    assert len(outs) == 1
    assert filecmp.cmp(CORRECT / "word_count_correct.txt", outs[0], shallow=False)


@needs_reference
def test_grep_golden(spark, tmp_path):
    """Reference test_integration_01: grep 2 mappers / 1 reducer."""
    outs = _run(spark, tmp_path, "grep_map.py", "grep_reduce.py", 2, 1)
    assert len(outs) == 1
    assert filecmp.cmp(CORRECT / "grep_correct.txt", outs[0], shallow=False)


def test_grep_with_argument_list(spark, tmp_path):
    """Executable arguments, argv-list form: the reference's grep
    mapper takes an optional query term (grep_map.py:13-18) and
    submit.py accepts arbitrary executables — run_job must pass
    arguments through to the subprocess."""
    outs = _run_corpus(spark, tmp_path, [GREP_MAP, "money"], GREP_REDUCE, 2, 1)
    assert len(outs) == 1
    with open(outs[0], encoding="utf-8") as f:
        assert f.read() == _grep_expected("money")


def test_grep_with_argument_string(spark, tmp_path):
    """Executable arguments, shell-string form: ``"grep_map.py root"``
    is shlex-split into executable + argument."""
    outs = _run_corpus(spark, tmp_path, f"{GREP_MAP} root", GREP_REDUCE, 2, 1)
    assert len(outs) == 1
    with open(outs[0], encoding="utf-8") as f:
        assert f.read() == _grep_expected("root")


def test_wordcount_multi_reducer(spark, tmp_path):
    """Reference test_integration_03 shape: wc 4 mappers / 2 reducers —
    two output files whose sorted concatenation equals the expected
    one-reducer bytes."""
    outs = _run_corpus(spark, tmp_path, WC_MAP, WC_REDUCE, 4, 2)
    assert len(outs) == 2
    expected = _wc_expected(CORPUS.values()).splitlines(keepends=True)
    assert sorted(_lines(outs)) == sorted(expected)


@needs_reference
def test_wordcount_empty_token_line(spark, tmp_path):
    """E1 quirk: `tr` emits empty tokens; golden wc output keeps the
    bare `\\t9` line (SURVEY §2.2 E1)."""
    outs = _run(spark, tmp_path, "wc_map.sh", "wc_reduce.sh", 2, 1)
    with open(outs[0], encoding="utf-8") as f:
        first = f.readline()
    assert first == "\t9\n"


def test_hash_grouping_same_reduce_results(spark, tmp_path):
    """compat=False (one-shuffle hash grouping) must produce the same
    multiset of reduce output lines as the compat run."""
    outs = _run_corpus(spark, tmp_path, WC_MAP, WC_REDUCE, 4, 2, compat=False)
    expected = _wc_expected(CORPUS.values()).splitlines(keepends=True)
    assert sorted(_lines(outs)) == sorted(expected)


@needs_reference
def test_group_stage_round_robin_splits(spark, tmp_path):
    """F6 distinct-line round-robin: running the golden mapper-output
    through a ``cat``/``cat`` job reproduces the reference's
    reduce01/02 files byte-exactly (reference test_manager_08)."""
    src = REF_TESTDATA / "test_manager_08/intermediate/job-0/mapper-output"
    golden_dir = REF_TESTDATA / "test_manager_08/correct/job-0/grouper-output"
    if not src.exists():
        pytest.skip("manager_08 fixtures not present")
    from mapreduce_server_development_spark.operators import run_job

    indir = tmp_path / "in"
    indir.mkdir()
    for f in src.glob("file*"):
        (indir / f.name).write_bytes(f.read_bytes())
    outs = run_job(spark, str(indir), str(tmp_path / "out"), "cat", "cat", 2, 2)
    assert len(outs) == 2
    for out, name in zip(outs, ["reduce01", "reduce02"]):
        assert Path(out).read_bytes() == (golden_dir / name).read_bytes(), name


def test_round_robin_partition():
    """F2: sorted file i → task i % n (reference manager test 05)."""
    from mapreduce_server_development_spark.operators import round_robin_partition

    files = [f"f0{i}" for i in range(1, 9)]
    tasks = round_robin_partition(files, 2)
    assert tasks[0] == ["f01", "f03", "f05", "f07"]
    assert tasks[1] == ["f02", "f04", "f06", "f08"]
    assert round_robin_partition([], 3) == [[], [], []]


def test_output_overwrite(spark, tmp_path):
    """F8: re-running a job overwrites the output directory."""
    out = tmp_path / "out"
    out.mkdir()
    (out / "stale_file").write_text("stale")
    outs = _run_corpus(spark, tmp_path, GREP_MAP, GREP_REDUCE, 2, 1)
    assert not (out / "stale_file").exists()
    assert len(outs) == 1


@pytest.mark.parametrize("compat", [True, False])
def test_failed_job_keeps_previous_output(spark, tmp_path, compat):
    """A job whose mapper fails leaves the previous output directory
    byte-identical: the sink swaps in a finished result, never deletes
    or half-writes the live one."""
    from py4j.protocol import Py4JJavaError

    from mapreduce_server_development_spark.operators import run_job

    outs = _run_corpus(spark, tmp_path, WC_MAP, WC_REDUCE, 2, 1)
    before = Path(outs[0]).read_bytes()
    with pytest.raises(Py4JJavaError):
        run_job(spark, str(tmp_path / "in"), str(tmp_path / "out"), "false", WC_REDUCE,
                2, 1, compat=compat)
    assert sorted(p.name for p in (tmp_path / "out").iterdir()) == ["outputfile01"]
    assert Path(outs[0]).read_bytes() == before


def test_run_job_from_external_cwd(tmp_path):
    """Regression: closures shipped by run_job must serialize by value.

    A driver launched outside the repo root has no way to import this
    package on its Python workers; module-level functions pickled by
    reference then fail with ModuleNotFoundError. Run the wc job in a
    subprocess whose cwd is the temp dir.
    """
    import subprocess

    indir = _corpus(tmp_path / "in")
    expected = tmp_path / "expected.txt"
    expected.write_text(_wc_expected(CORPUS.values()))
    code = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
import filecmp
from pyspark.sql import SparkSession
from mapreduce_server_development_spark.operators import run_job
spark = SparkSession.builder.master('local[4]').getOrCreate()
outs = run_job(spark, {str(indir)!r}, {str(tmp_path / 'out')!r},
               {WC_MAP!r}, {WC_REDUCE!r}, 2, 1)
assert filecmp.cmp({str(expected)!r}, outs[0], shallow=False)
print('EXTERNAL_CWD_OK')
"""
    res = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "EXTERNAL_CWD_OK" in res.stdout, res.stderr[-2000:]


def test_task_retry_on_mapper_failure(tmp_path):
    """F13: a mapper that crashes on its first attempt is re-executed.

    The reference golden-tests dead-worker reassignment
    (test_manager_05); the Spark analog is task re-execution. The
    flaky mapper wins an atomic mkdir exactly once and exits 1 that
    time; the shipped ``get_spark()`` session allows 2 task attempts,
    so the retried attempt sees the marker, runs the real wc map, and
    the job completes byte-exact. Runs in a fresh process so the
    session is built by ``get_spark()`` itself, as the CLI and the
    daemon build it. Also guards the exit-status check: without it,
    the failed mapper would SILENTLY truncate output instead of
    failing the task.
    """
    import subprocess

    indir = _corpus(tmp_path / "in")
    expected = tmp_path / "expected.txt"
    expected.write_text(_wc_expected(CORPUS.values()))
    marker = tmp_path / "failed_once"
    flaky = tmp_path / "flaky_wc_map.sh"
    flaky.write_text(
        "#!/bin/bash\n"
        "set -Eeuo pipefail\n"
        f"if mkdir {marker} 2>/dev/null; then\n"
        "  echo 'simulated worker death' >&2; exit 1\n"
        "fi\n"
        f"exec {WC_MAP}\n"
    )
    flaky.chmod(0o755)
    code = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
import filecmp
from mapreduce_server_development_spark.operators import run_job
from mapreduce_server_development_spark.session import get_spark
spark = get_spark()
outs = run_job(spark, {str(indir)!r}, {str(tmp_path / 'out')!r},
               {str(flaky)!r}, {WC_REDUCE!r}, 2, 1)
assert filecmp.cmp({str(expected)!r}, outs[0], shallow=False)
print('RETRY_OK')
"""
    res = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "RETRY_OK" in res.stdout, res.stderr[-2000:]
    assert marker.exists()  # the failure really happened


def test_mapper_failure_fails_job_not_truncates(spark, tmp_path):
    """A permanently-failing mapper must FAIL the job (nonzero exit
    fails the task), never silently produce partial output — the
    reference worker reports task failure to the manager rather than
    writing bad data."""
    bad = tmp_path / "bad_map.sh"
    bad.write_text("#!/bin/bash\nexit 3\n")
    bad.chmod(0o755)
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Py4JJavaError):
        _run_corpus(spark, tmp_path, str(bad), WC_REDUCE, 2, 1)


def test_reducer_that_stops_reading_succeeds(spark, tmp_path):
    """A reducer may exit 0 before reading all of its stdin (``head``):
    the job succeeds with that reducer's output, as with the
    reference's Popen.communicate."""
    from mapreduce_server_development_spark.operators import run_job

    indir = tmp_path / "in"
    indir.mkdir()
    # far more than a pipe buffer, so the writer outlives the reducer
    (indir / "big").write_text("".join(f"line{i:07d}\n" for i in range(200_000)))
    outs = run_job(spark, str(indir), str(tmp_path / "out"), "cat", ["head", "-n", "1"],
                   1, 1, compat=False)
    assert Path(outs[0]).read_text() == "line0000000\n"


def test_concurrent_job_submission(spark, tmp_path):
    """F9 multi-job queueing (reference test_manager_04): two jobs
    submitted to the same engine at once both run to byte-exact
    completion. Spark's scheduler interleaves their stages across the
    shared executor pool — each thread's action is an independent job
    in the FIFO queue, no cross-talk in outputs."""
    import threading

    results: dict[str, list[str]] = {}
    errors: list[BaseException] = []

    def submit(tag, mapper, reducer):
        try:
            results[tag] = _run_corpus(spark, tmp_path / tag, mapper, reducer, 2, 1)
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    t1 = threading.Thread(target=submit, args=("wc", WC_MAP, WC_REDUCE))
    t2 = threading.Thread(target=submit, args=("grep", GREP_MAP, GREP_REDUCE))
    t1.start(); t2.start(); t1.join(120); t2.join(120)
    assert not errors, errors
    assert Path(results["wc"][0]).read_text() == _wc_expected(CORPUS.values())
    assert Path(results["grep"][0]).read_text() == _grep_expected("product")


def test_empty_input_directory(spark, tmp_path):
    """A job over an empty input directory still runs the reduce stage
    (the reference's reducers execute regardless of mapper output) and
    produces one EMPTY output file per reducer — no crash, no stale
    output dir."""
    from mapreduce_server_development_spark.operators import run_job

    empty_in = tmp_path / "empty"
    empty_in.mkdir()
    out = tmp_path / "out"
    outs = run_job(spark, str(empty_in), str(out), WC_MAP, WC_REDUCE, 2, 1)
    assert [o.rsplit("/", 1)[1] for o in outs] == ["outputfile01"]
    with open(outs[0], encoding="utf-8") as f:
        assert f.read() == ""
    outs = run_job(spark, str(empty_in), str(out), WC_MAP, WC_REDUCE, 2, 3)
    assert [Path(o).name for o in outs] == [f"outputfile0{i}" for i in (1, 2, 3)]
    assert all(Path(o).read_bytes() == b"" for o in outs)


def test_input_files_with_hadoop_metachars(spark, tmp_path):
    """File names containing , * ? [ ] { } (which Hadoop path parsing
    comma-splits and glob-expands) must still be read byte-exactly
    (the reference worker opens files directly and accepts any name)."""
    from mapreduce_server_development_spark.operators import run_job

    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "a,b.txt").write_text("hello world\n")
    (indir / "log[1].txt").write_text("hello again\n")
    (indir / "plain.txt").write_text("world again\n")
    (indir / "{x}*?.txt").write_text("braces\n")
    outs = run_job(
        spark,
        str(indir),
        str(tmp_path / "out"),
        WC_MAP,
        WC_REDUCE,
        num_reducers=1,
    )
    text = Path(outs[0]).read_text()
    counts = dict(
        line.split("\t") for line in text.strip().split("\n") if line
    )
    assert counts["hello"] == "2"
    assert counts["world"] == "2"
    assert counts["again"] == "2"
    assert counts["braces"] == "1"


# ---------------------------------------------------------------------------
# Byte fidelity: the contract is bytes in, bytes out
# ---------------------------------------------------------------------------

#: CRLF line ends, Latin-1 (not UTF-8) bytes, a missing final newline,
#: a NUL byte and an empty line.
RAW_FILES = {
    "crlf": b"caf\xe9 ok\r\nsecond\r\n",
    "latin1": b"na\xefve \xff\xfe\n\nplain\n",
    "no_final_newline": b"first\nlast line",
    "nul": b"a\x00b\n",
}


def _raw_corpus(path: Path) -> Path:
    path.mkdir()
    for name, data in RAW_FILES.items():
        (path / name).write_bytes(data)
    return path


def test_mapper_sees_exact_input_bytes(spark, tmp_path):
    """Each input file reaches the mapper's stdin unchanged: a
    hex-dump mapper reports every file's bytes exactly (no CR
    stripping, no UTF-8 replacement, no added final newline)."""
    from mapreduce_server_development_spark.operators import run_job

    hexdump = [sys.executable, "-c", "import sys; print(sys.stdin.buffer.read().hex())"]
    outs = run_job(spark, str(_raw_corpus(tmp_path / "in")), str(tmp_path / "out"),
                   hexdump, "cat", 2, 1)
    got = Path(outs[0]).read_text().splitlines()
    assert sorted(got) == sorted(data.hex() for data in RAW_FILES.values())


@pytest.mark.parametrize("compat", [True, False])
def test_cat_job_round_trips_bytes(spark, tmp_path, compat):
    """A ``cat``/``cat`` job writes every input line, byte for byte
    and newline-terminated, sorted as newline-terminated lines."""
    from mapreduce_server_development_spark.operators import run_job

    outs = run_job(spark, str(_raw_corpus(tmp_path / "in")), str(tmp_path / "out"),
                   "cat", "cat", 3, 1, compat=compat)
    lines = [
        line + b"\n"
        for data in RAW_FILES.values()
        for line in data.removesuffix(b"\n").split(b"\n")
    ]
    assert Path(outs[0]).read_bytes() == b"".join(sorted(lines))


def test_num_mappers_capped_at_file_count(spark, tmp_path):
    """``num_mappers`` far above the file count runs one map task per
    file: no empty map partitions are created."""
    from mapreduce_server_development_spark.operators import run_job

    indir = tmp_path / "in"
    indir.mkdir()
    for i in range(3):
        (indir / f"f{i}").write_text(f"w{i} shared\n")
    sc = spark.sparkContext
    sc.setJobGroup("num-mappers-cap", "num_mappers cap")
    try:
        outs = run_job(spark, str(indir), str(tmp_path / "out"), WC_MAP, WC_REDUCE,
                       10**6, 2, compat=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    stage_tasks = sorted(
        tracker.getStageInfo(stage).numTasks
        for job in tracker.getJobIdsForGroup("num-mappers-cap")
        for stage in tracker.getJobInfo(job).stageIds
    )
    # one map stage (3 files -> 3 tasks) and one reduce stage (2 tasks)
    assert stage_tasks == [2, 3]
    assert sorted(_lines(outs)) == ["shared\t3\n", "w0\t1\n", "w1\t1\n", "w2\t1\n"]
