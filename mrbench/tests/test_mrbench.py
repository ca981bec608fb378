"""Generator determinism, the expected-output oracle against real
``run_job`` calls, and the statistics helpers."""

from __future__ import annotations

import statistics
import sys
from pathlib import Path

import pytest

from mrbench import gen
from mrbench.metrics import fifo_accounting, host_probe, percentile, spawn_probe, tail_percentile

EXEC = Path(gen.__file__).resolve().parent / "exec"


def _tree_bytes(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


def test_generators_are_deterministic_per_seed(tmp_path):
    a = gen.corpus(tmp_path / "a", 7)
    b = gen.corpus(tmp_path / "b", 7)
    c = gen.corpus(tmp_path / "c", 8)
    assert _tree_bytes(a) == _tree_bytes(b)
    assert _tree_bytes(a) != _tree_bytes(c)
    assert len(gen.input_files(a)) == gen.CORPUS_FILES
    pa = gen.pool(tmp_path / "a", 7)
    pb = gen.pool(tmp_path / "b", 7)
    assert [_tree_bytes(p) for p in pa] == [_tree_bytes(p) for p in pb]
    assert len(pa) == gen.POOL_DIRS
    assert all(len(gen.input_files(p)) == gen.POOL_FILES for p in pa)


def test_corpus_plants_the_grep_term(tmp_path):
    lines = [
        line
        for f in gen.input_files(gen.corpus(tmp_path, 3))
        for line in f.read_text().splitlines()
    ]
    share = sum(gen.GREP_TERM in line.lower() for line in lines) / len(lines)
    assert 0.5 * gen.GREP_SHARE < share < 2 * gen.GREP_SHARE


def test_compat_outputs_route_by_distinct_rank():
    mapped = ["b\t1", "a\t1", "c\t1", "a\t1", "a\t1"]
    outs = gen.compat_outputs(mapped, 2, lambda lines: lines)
    # distinct sorted: a(0) b(1) c(2) -> partitions {a, c} and {b}
    assert outs == [b"a\t1\na\t1\na\t1\nc\t1\n", b"b\t1\n"]


def test_hash_mode_check():
    one = b"a\t2\nb\t1\nc\t5\n"
    assert gen.hash_mode_ok([b"a\t2\nc\t5\n", b"b\t1\n"], one)
    assert not gen.hash_mode_ok([b"c\t5\na\t2\n", b"b\t1\n"], one)  # order broken
    assert not gen.hash_mode_ok([b"a\t2\n", b"b\t1\n"], one)  # line missing
    assert not gen.hash_mode_ok([b"a\t2\nc\t5\n", b"b\t1"], one)  # no final newline


def _tiny_input(tmp_path: Path) -> Path:
    d = tmp_path / "in"
    d.mkdir()
    (d / "file01").write_text("Hello World Bye World\nneedle in a haystack\n")
    (d / "file02").write_text("hello hadoop goodbye hadoop\n\nNeedle again and a needle\n")
    (d / "file03").write_text("the quick brown fox\njumps over the lazy dog the end\n")
    return d


def _exe(name: str, *args: str) -> list[str]:
    return [sys.executable, str(EXEC / f"{name}.py"), *args]


@pytest.mark.parametrize("reducers", [1, 3])
def test_oracle_matches_run_job_compat(spark, tmp_path, reducers):
    from mapreduce_server_development_spark.operators.mapreduce import run_job

    src = _tiny_input(tmp_path)
    out = tmp_path / "out"
    run_job(spark, str(src), str(out), _exe("wc_map"), _exe("wc_reduce"), 2, reducers, compat=True)
    assert gen.read_outputs(out) == gen.expected_wc(src, reducers)
    run_job(spark, str(src), str(out), _exe("grep_map", gen.GREP_TERM), _exe("grep_reduce"),
            2, reducers, compat=True)
    assert gen.read_outputs(out) == gen.expected_grep(src, gen.GREP_TERM, reducers)


@pytest.mark.parametrize("reducers", [1, 3])
def test_oracle_matches_run_job_hash(spark, tmp_path, reducers):
    from mapreduce_server_development_spark.operators.mapreduce import run_job

    src = _tiny_input(tmp_path)
    out = tmp_path / "out"
    run_job(spark, str(src), str(out), _exe("wc_map"), _exe("wc_reduce"), 2, reducers, compat=False)
    got = gen.read_outputs(out)
    assert got is not None and len(got) == reducers
    assert gen.hash_mode_ok(got, gen.expected_wc(src, 1)[0])
    if reducers == 1:
        assert got == gen.expected_wc(src, 1)


@pytest.mark.parametrize("values", [[3.0], [1.0, 2.0], [5.0, 1.0, 4.0, 2.0, 3.0], list(range(11))])
def test_percentile_matches_inclusive_quantiles(values):
    if len(values) > 1:
        q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
        assert percentile(values, 25) == pytest.approx(q1)
        assert percentile(values, 50) == pytest.approx(q2)
        assert percentile(values, 75) == pytest.approx(q3)
    assert percentile(values, 0) == min(values)
    assert percentile(values, 100) == max(values)


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(9) is None
    assert tail_percentile(20) is None  # p50 is the median itself
    assert tail_percentile(40) == 75.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(1000) == 99.0


def test_fifo_accounting():
    fifo = fifo_accounting([0.0, 1.0, 10.0], [2.0, 3.5, 11.0])
    assert fifo["wait"] == [0.0, 1.0, 0.0]
    assert fifo["service"] == [2.0, 1.5, 1.0]
    assert fifo["backlog"] == [1, 2, 1]
    with pytest.raises(ValueError):
        fifo_accounting([0.0], [])


def test_host_probe_times_fixed_work_and_restores_the_hidden_set():
    hide = {1}
    seconds = host_probe(2, hide)
    assert 0.0 < seconds < 60.0
    assert hide == {1}


def test_spawn_probe_times_process_starts():
    assert 0.0 < spawn_probe(2) < 60.0
