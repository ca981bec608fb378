#!/usr/bin/env python3
"""Word-count mapper: every whitespace token of each stdin line,
lowercased, becomes one ``token\\t1`` stdout line."""
import sys


def map_lines(lines):
    for line in lines:
        for tok in line.lower().split():
            yield f"{tok}\t1"


if __name__ == "__main__":
    sys.stdout.writelines(out + "\n" for out in map_lines(sys.stdin))
