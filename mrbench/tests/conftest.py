"""Fixtures for the benchmark's own tests.

Run from the checkout root: ``python3 -m pytest mrbench/tests -q``.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))


@pytest.fixture(scope="session")
def spark():
    from mapreduce_server_development_spark.session import get_spark

    session = get_spark(app_name="mrbench-tests", master="local[2]", shuffle_partitions=4)
    yield session
    session.stop()
