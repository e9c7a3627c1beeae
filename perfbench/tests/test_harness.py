"""The harness worker: calls round-trip, errors come back, and the worker has
ended once the harness is closed. Run: python3 -m pytest perfbench/tests -q"""

from __future__ import annotations

import operator
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.checks import Harness  # noqa: E402


def test_harness_runs_calls_in_another_process_and_ends_it_on_close():
    harness = Harness()
    try:
        assert harness.call(operator.add, 2, 3) == 5
        assert harness.call(os.getpid) != os.getpid()
        with pytest.raises(RuntimeError, match="ZeroDivisionError"):
            harness.call(operator.truediv, 1, 0)
        assert harness.call(operator.mul, 4, 5) == 20  # still serving
    finally:
        harness.close()
    assert harness._proc.returncode == 0
