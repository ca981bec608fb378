#!/usr/bin/env python3
"""Grep reducer with the reference's contract: split each stdin line on
tabs, skip lines without exactly two fields, print the value field."""
import sys

for line in sys.stdin:
    fields = line.rstrip("\n").split("\t")
    if len(fields) == 2:
        print(fields[1])
