#!/usr/bin/env python3
"""Grep reducer: prints the value column of each ``key\\tvalue`` line."""
import sys


def reduce_lines(lines):
    for line in lines:
        line = line.rstrip("\n")
        if line:
            yield line.partition("\t")[2]


if __name__ == "__main__":
    sys.stdout.writelines(out + "\n" for out in reduce_lines(sys.stdin))
