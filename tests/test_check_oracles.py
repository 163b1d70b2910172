"""``tools/check_oracles.py`` argument handling: usage and unknown query
names are answered before any Spark session starts, so a mistyped name
can never read as a pass."""

import os
import subprocess
import sys

TOOL = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools", "check_oracles.py")


def _run(*args):
    return subprocess.run([sys.executable, TOOL, *args], capture_output=True,
                          text=True, timeout=120)


def test_help_prints_usage():
    for flag in ("--help", "-h"):
        proc = _run(flag)
        assert proc.returncode == 0, proc.stderr
        assert "Usage: python tools/check_oracles.py" in proc.stdout
        assert "failures" not in proc.stdout


def test_unknown_names_exit_2():
    proc = _run("validate_orders", "no_such_query", "also_missing")
    assert proc.returncode == 2, (proc.stdout, proc.stderr)
    assert "no_such_query also_missing" in proc.stderr
    assert "validate_orders" not in proc.stderr
    # rejected before a session started: nothing was checked
    assert "failures" not in proc.stdout
    assert "SparkContext" not in proc.stderr
