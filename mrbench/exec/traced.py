#!/usr/bin/env python3
"""Counting/timing wrapper for the traced run.

``traced.py LOG ROLE SCRIPT [ARGS...]`` runs the Python SCRIPT in this
process (no extra fork), then appends one JSON line
``{"role", "pid", "start", "end", "ok"}`` to LOG. The interpreter's own
start-up before this wrapper runs is not counted.
"""
import json
import os
import runpy
import sys
import time


def main() -> None:
    log, role, script, *args = sys.argv[1:]
    start = time.time()
    ok = False
    sys.argv = [script, *args]
    try:
        runpy.run_path(script, run_name="__main__")
        sys.stdout.flush()
        ok = True
    finally:
        rec = {"role": role, "pid": os.getpid(), "start": start,
               "end": time.time(), "ok": ok}
        # One short O_APPEND write per process: concurrent mappers never
        # interleave inside a line.
        fd = os.open(log, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
        try:
            os.write(fd, (json.dumps(rec) + "\n").encode())
        finally:
            os.close(fd)


if __name__ == "__main__":
    main()
