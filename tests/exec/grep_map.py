#!/usr/bin/env python3
"""Grep mapper with the reference's contract: ``grep_map.py [QUERY]``
(default ``product``) emits ``1\\t<line>`` for every stripped, non-empty
stdin line that contains QUERY, case-insensitive."""
import sys

query = (sys.argv[1] if len(sys.argv) > 1 else "product").lower()
for line in sys.stdin:
    line = line.strip()
    if line and query in line.lower():
        print("1\t" + line)
