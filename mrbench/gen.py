"""Seeded inputs and the expected-output oracle.

Everything here is pure Python and deterministic for a given seed, so
the same ``--seed`` always yields byte-identical inputs and expected
outputs. Generated data is cached per seed under the run directory and
built outside every timed region.

Expected outputs follow the engine's documented job semantics
(operators/mapreduce.py):

- map: every input file is piped through the mapper on its own;
- compat group: the distinct mapper-output lines, sorted as
  newline-terminated strings, get a dense rank; line -> reduce
  partition ``rank % n``; each partition is sorted the same way;
- reduce: each partition is piped through the reducer; partition i is
  ``outputfile{i+1:02d}``, one ``line + "\\n"`` per reducer output line.

With one reducer both grouping modes give the same bytes. With more,
hash mode routes keys by a hash the oracle does not reproduce, so
:func:`hash_mode_ok` checks the structure instead: each file keeps the
expected order, and the files together hold exactly the expected lines.
"""

from __future__ import annotations

import importlib.util
import random
import shutil
from collections import Counter
from collections.abc import Callable, Iterable
from pathlib import Path

EXEC_DIR = Path(__file__).resolve().parent / "exec"

#: Fixed grep term; the corpus generator plants it in about
#: ``GREP_SHARE`` of all lines, in mixed case.
GREP_TERM = "needle"
GREP_SHARE = 0.01

#: wc_compat / grep_compat corpus: few large files, Zipf word frequencies
#: over a large vocabulary so that the compat group stage sees high key
#: cardinality.
CORPUS_FILES = 4
CORPUS_BYTES = 1024 * 1024
CORPUS_VOCAB = 100_000

#: small_jobs pool: reference-shaped inputs (8 files, ~50 lines in all).
POOL_DIRS = 8
POOL_FILES = 8
POOL_VOCAB = 2_000


def _load_exec(name: str):
    spec = importlib.util.spec_from_file_location(f"mrbench_exec_{name}", EXEC_DIR / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_wc_map = _load_exec("wc_map")
_wc_reduce = _load_exec("wc_reduce")
_grep_map = _load_exec("grep_map")
_grep_reduce = _load_exec("grep_reduce")


# -- generation ---------------------------------------------------------------


def _vocabulary(rng: random.Random, size: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: dict[str, None] = {}
    while len(words) < size:
        words["".join(rng.choices(letters, k=rng.randint(2, 10)))] = None
    return list(words)


def _zipf_cum_weights(size: int, s: float = 1.0) -> list[float]:
    total, cum = 0.0, []
    for rank in range(1, size + 1):
        total += 1.0 / rank**s
        cum.append(total)
    return cum


def _line(rng: random.Random, vocab: list[str], cum: list[float], lo: int, hi: int) -> str:
    toks = rng.choices(vocab, cum_weights=cum, k=rng.randint(lo, hi))
    # One token in ten capitalised, so the mapper's lower() matters.
    return " ".join(t.capitalize() if rng.random() < 0.1 else t for t in toks)


def _write_corpus(dest: Path, seed: int) -> None:
    rng = random.Random(f"corpus-{seed}")
    vocab = _vocabulary(rng, CORPUS_VOCAB)
    cum = _zipf_cum_weights(len(vocab))
    per_file = CORPUS_BYTES // CORPUS_FILES
    for i in range(CORPUS_FILES):
        lines, size = [], 0
        while size < per_file:
            line = _line(rng, vocab, cum, 6, 14)
            if rng.random() < GREP_SHARE:
                toks = line.split(" ")
                term = rng.choice([GREP_TERM, GREP_TERM.upper(), GREP_TERM.capitalize()])
                toks.insert(rng.randint(0, len(toks)), term)
                line = " ".join(toks)
            lines.append(line)
            size += len(line) + 1
        (dest / f"file{i + 1:02d}").write_text("\n".join(lines) + "\n")


def _write_pool(dest: Path, seed: int) -> None:
    rng = random.Random(f"pool-{seed}")
    vocab = _vocabulary(rng, POOL_VOCAB)
    cum = _zipf_cum_weights(len(vocab))
    for d in range(POOL_DIRS):
        sub = dest / f"input{d:02d}"
        sub.mkdir()
        for f in range(POOL_FILES):
            lines = [_line(rng, vocab, cum, 3, 10) for _ in range(rng.randint(4, 8))]
            (sub / f"file{f + 1:02d}").write_text("\n".join(lines) + "\n")


def _cached(dest: Path, build: Callable[[Path], None]) -> Path:
    """Build ``dest`` once; a marker file makes a half-built dir rebuild."""
    marker = dest / ".complete"
    if not marker.exists():
        shutil.rmtree(dest, ignore_errors=True)
        dest.mkdir(parents=True)
        build(dest)
        marker.touch()
    return dest


def corpus(data_root: Path, seed: int) -> Path:
    """Input dir of the wc_compat / grep_compat corpus for ``seed``."""
    # The size is part of the name, so a cache built with other settings
    # is never reused.
    return _cached(data_root / f"corpus-{seed}-{CORPUS_BYTES}", lambda d: _write_corpus(d, seed))


def pool(data_root: Path, seed: int) -> list[Path]:
    """Input dirs of the small_jobs pool for ``seed``."""
    root = _cached(data_root / f"pool-{seed}", lambda d: _write_pool(d, seed))
    return sorted(p for p in root.iterdir() if p.is_dir())


def input_bytes(input_dir: Path) -> int:
    return sum(p.stat().st_size for p in input_files(input_dir))


# -- oracle -------------------------------------------------------------------


def input_files(input_dir: Path) -> list[Path]:
    """The files a job reads: sorted, hidden and marker files skipped."""
    return sorted(
        p for p in input_dir.iterdir() if p.is_file() and not p.name.startswith((".", "_"))
    )


def _file_lines(path: Path) -> list[str]:
    # Hadoop's line reader splits on "\n"; the generator writes no "\r".
    text = path.read_text(encoding="utf-8")
    return text[:-1].split("\n") if text.endswith("\n") else text.split("\n")


def _mapped(input_dir: Path, map_fn: Callable[[list[str]], Iterable[str]]) -> list[str]:
    out: list[str] = []
    for f in input_files(input_dir):
        out.extend(map_fn(_file_lines(f)))
    return out


def compat_outputs(
    mapped: list[str], n: int, reduce_fn: Callable[[list[str]], Iterable[str]]
) -> list[bytes]:
    """Expected ``outputfileNN`` bytes under compat grouping."""
    counts = Counter(mapped)
    parts: list[list[str]] = [[] for _ in range(n)]
    for rank, line in enumerate(sorted(counts, key=lambda s: s + "\n")):
        parts[rank % n].extend([line] * counts[line])
    return ["".join(o + "\n" for o in reduce_fn(p)).encode() for p in parts]


def expected_wc(input_dir: Path, n: int) -> list[bytes]:
    return compat_outputs(_mapped(input_dir, _wc_map.map_lines), n, _wc_reduce.reduce_lines)


def expected_grep(input_dir: Path, term: str, n: int) -> list[bytes]:
    mapped = _mapped(input_dir, lambda lines: _grep_map.map_lines(lines, term))
    return compat_outputs(mapped, n, _grep_reduce.reduce_lines)


def hash_mode_ok(outputs: list[bytes], expected_one: bytes) -> bool:
    """Hash-grouping check against the one-reducer expected output:
    every file keeps the expected line order and the files together
    hold exactly the expected lines."""
    want = expected_one.decode().splitlines()
    pos = {line: i for i, line in enumerate(want)}
    seen: list[str] = []
    for data in outputs:
        lines = data.decode().splitlines()
        if data and not data.endswith(b"\n"):
            return False
        if any(line not in pos for line in lines):
            return False
        idx = [pos[line] for line in lines]
        if idx != sorted(idx):
            return False
        seen.extend(lines)
    return Counter(seen) == Counter(want)


def read_outputs(out_dir: Path) -> list[bytes] | None:
    """Bytes of ``outputfile01..NN`` in order; None if the set is not
    exactly those names."""
    if not out_dir.is_dir():
        return None
    names = sorted(p.name for p in out_dir.iterdir())
    if names != [f"outputfile{i:02d}" for i in range(1, len(names) + 1)]:
        return None
    return [(out_dir / name).read_bytes() for name in names]
