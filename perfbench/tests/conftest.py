from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]


@pytest.fixture(scope="session")
def spark():
    from mix_blink_spark.session import get_spark

    # Python workers import the library too
    root = os.path.dirname(BENCH)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    return get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2)
