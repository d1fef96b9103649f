"""The slow-tier default (``-m "not slow"`` in pytest.ini) must not drop an
explicitly named test silently: conftest warns and names the escape."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _collect(*args: str) -> str:
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q",
         "-p", "no:cacheprovider", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=120,
    )
    return proc.stdout + proc.stderr


def test_named_slow_test_deselection_warns():
    slow = "tests/test_index_sync.py::test_sync_serving_stack_one_window"
    out = _collect(slow)
    assert "1 deselected" in out
    assert "in the slow tier" in out and slow in out
    assert 'Add -m "" to run them' in out


def test_no_warning_when_named_test_runs():
    out = _collect(
        "tests/test_index_sync.py::test_sync_serving_stack_one_window", "-m", ""
    )
    assert "1 test collected" in out
    assert "in the slow tier" not in out
