"""One benchmark SparkSession shared by the benchmark's own tests.

Run with ``python3 -m pytest perfbench/tests -q`` from the repo root.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def bench():
    import harness

    b = harness.Bench("curation", seed=0, seconds=0, trace=False)
    b.prepare()
    b.start_spark()
    yield b
    b.stop_spark()
    b.cleanup()
