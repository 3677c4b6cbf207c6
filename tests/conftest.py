from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from docext_spark.session import get_spark
    s = get_spark(app_name="docext_spark_tests", master="local[4]")
    yield s
    s.stop()
