"""Span recorder for the engine daemon in the traced small_jobs run.

The benchmark puts this directory on ``PYTHONPATH`` only when it starts
the daemon for a traced run, and sets ``MRBENCH_SPANS`` to a file. When
the engine modules below are imported, their public functions are
wrapped so each call appends one JSON span line to that file. Processes
without ``MRBENCH_SPANS`` (and processes that never import the engine,
such as Spark's Python workers) are left alone.
"""

import os
import sys

_LOG = os.environ.get("MRBENCH_SPANS")

_TARGETS = {
    "mapreduce_server_development_spark.session": (
        ("get_spark", "session.get_spark"),
        ("release_checkpoints", "session.release_checkpoints"),
    ),
    "mapreduce_server_development_spark.operators.mapreduce": (("run_job", "run_job"),),
    "mapreduce_server_development_spark.sources.text": (
        ("prepare_numbered_sink", "sink.prepare"),
        ("collect_numbered_outputs", "sink.rename"),
    ),
}

if _LOG:
    import importlib.abc
    import importlib.machinery
    import itertools
    import json
    import threading
    import time

    _ids = itertools.count(1)
    _local = threading.local()
    _lock = threading.Lock()

    def _wrap(fn, name):
        def traced(*args, **kwargs):
            stack = _local.__dict__.setdefault("stack", [])
            rec = {"id": f"{os.getpid()}-{next(_ids)}", "name": name,
                   "parent": stack[-1] if stack else None, "op": None,
                   "start": time.time()}
            stack.append(rec["id"])
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                rec["end"] = time.time()
                with _lock, open(_LOG, "a") as f:
                    f.write(json.dumps(rec) + "\n")

        traced.__wrapped__ = fn
        return traced

    class _Finder(importlib.abc.MetaPathFinder):
        def find_spec(self, name, path, target=None):
            if name not in _TARGETS:
                return None
            spec = importlib.machinery.PathFinder.find_spec(name, path)
            if spec is None or spec.loader is None:
                return spec
            exec_module = spec.loader.exec_module

            def exec_and_wrap(module):
                exec_module(module)
                for attr, span in _TARGETS[name]:
                    setattr(module, attr, _wrap(getattr(module, attr), span))

            spec.loader.exec_module = exec_and_wrap
            return spec

    sys.meta_path.insert(0, _Finder())
