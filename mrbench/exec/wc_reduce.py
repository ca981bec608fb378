#!/usr/bin/env python3
"""Word-count reducer: stdin is ``key\\tvalue`` lines with equal keys
adjacent; emits one ``key\\ttotal`` line per key."""
import sys


def reduce_lines(lines):
    cur, total = None, 0
    for line in lines:
        line = line.rstrip("\n")
        if not line:
            continue
        key, _, val = line.partition("\t")
        if key != cur:
            if cur is not None:
                yield f"{cur}\t{total}"
            cur, total = key, 0
        total += int(val)
    if cur is not None:
        yield f"{cur}\t{total}"


if __name__ == "__main__":
    sys.stdout.writelines(out + "\n" for out in reduce_lines(sys.stdin))
