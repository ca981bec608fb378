"""Text-directory source and sink — the reference's only I/O surface.

Reference parity (SURVEY.md §2.1):
- F1 directory scan: ``/root/reference mapreduce/manager/__main__.py:402-423``
  globs all files of a directory, sorted by name. Spark's ``spark.read.text``
  on a directory does the same listing and additionally splits large files.
- F8 sink: ``manager/__main__.py:738-761`` renames results to
  ``outputfile01..NN`` (zero-padded, overwriting the output dir).
  ``write_text_numbered`` reproduces that naming on top of ``df.write.text``.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


def read_text_dir(spark: SparkSession, input_dir: str) -> DataFrame:
    """Scan a directory of newline-delimited text files (one row per line)."""
    return spark.read.text(input_dir)


def prepare_numbered_sink(output_dir: str) -> tuple[Path, Path]:
    """F8 sink setup shared by the DataFrame and RDD writers: return
    (out, empty staging dir) for the writer to fill. The live output
    dir is left alone until :func:`collect_numbered_outputs` swaps the
    finished result in, so a failed job never touches it."""
    out = Path(output_dir)
    staging = out.parent / (out.name + ".__staging__")
    if staging.exists():
        shutil.rmtree(staging)
    staging.mkdir(parents=True)
    return out, staging


def collect_numbered_outputs(out: Path, staging: Path) -> list[str]:
    """F8 sink finish shared by the DataFrame and RDD writers: rename
    the staged ``part-*`` files (sorted; unfinished ``.tmp`` attempts
    excluded) to ``outputfile01..NN`` inside staging, drop everything
    else there (markers, checksums), then swap staging in for the
    output dir (reference overwrite semantics). A reader finds the old
    set, no directory, or the new set — never a mix."""
    parts = sorted(p for p in staging.glob("part-*") if p.suffix != ".tmp")
    names = [f"outputfile{i:02d}" for i in range(1, len(parts) + 1)]
    for part, name in zip(parts, names):
        part.rename(staging / name)
    for p in staging.iterdir():
        if p.name not in names:
            p.unlink()
    old = out.parent / (out.name + ".__old__")
    if old.exists():
        shutil.rmtree(old)
    if out.exists():
        out.rename(old)
    staging.rename(out)
    shutil.rmtree(old, ignore_errors=True)
    return [str(out / name) for name in names]


def write_text_numbered(df: DataFrame, output_dir: str, num_files: int | None = None) -> list[str]:
    """Write a single-string-column DataFrame as ``outputfile01..NN``.

    Mirrors the reference sink semantics: the output directory is
    replaced (manager/__main__.py:747-749 overwrites), and part files
    are renamed to ``outputfileNN``. ``num_files`` pins the
    exact file count (the reference's ``num_reducers``); when given we
    repartition — exact output-file counts matter for golden parity, so
    AQE coalescing must not change them (repartition after the shuffle
    boundary keeps the count stable).
    """
    out, staging = prepare_numbered_sink(output_dir)
    if num_files is not None:
        df = df.repartition(num_files)
    df.write.mode("overwrite").text(str(staging))
    return collect_numbered_outputs(out, staging)
