"""The suite's own configuration in ``conftest.py``: the slow-drill
switch and the drill list it applies."""

import os
import subprocess
import sys

import pytest

import conftest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "value, on",
    [("", False), ("0", False), ("false", False), ("FALSE", False),
     ("no", False), ("off", False), ("1", True), ("true", True),
     ("True", True), ("yes", True), ("on", True)],
)
def test_run_slow_env_parses_strictly(value, on):
    assert conftest.run_slow_from_env(value) is on


def test_run_slow_env_rejects_unknown_values():
    with pytest.raises(pytest.UsageError):
        conftest.run_slow_from_env("maybe")


def test_every_slow_drill_entry_matches_a_collected_test():
    """A stale ``_SLOW_DRILLS`` entry (renamed or deleted test) would
    silently stop marking anything; each must match a collected item,
    by the same substring rule the marking uses."""
    files = sorted({p.split("::")[0] for p in conftest._SLOW_DRILLS})
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q",
         "-p", "no:cacheprovider",
         *(os.path.join("tests", f) for f in files)],
        cwd=REPO_ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    nodeids = [ln for ln in out.stdout.splitlines() if "::" in ln]
    unmatched = [
        p for p in conftest._SLOW_DRILLS
        if not any(p in nodeid for nodeid in nodeids)
    ]
    assert not unmatched, unmatched
