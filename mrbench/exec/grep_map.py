#!/usr/bin/env python3
"""Grep mapper: ``grep_map.py QUERY`` emits ``1\\t<line>`` for every
stripped, non-empty stdin line that contains QUERY, case-insensitive."""
import sys


def map_lines(lines, query):
    query = query.lower()
    for line in lines:
        line = line.strip()
        if line and query in line.lower():
            yield f"1\t{line}"


if __name__ == "__main__":
    sys.stdout.writelines(out + "\n" for out in map_lines(sys.stdin, sys.argv[1]))
