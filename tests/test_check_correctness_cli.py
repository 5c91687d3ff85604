"""``scripts/check_correctness.py`` checks its arguments before Spark
starts: ``--help`` prints usage; an unknown flag, no or a missing sf
directory, or an unknown query name exits non-zero."""

import os
import subprocess
import sys

import pytest

SCRIPT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "scripts", "check_correctness.py")


def _run(*args):
    return subprocess.run(
        [sys.executable, SCRIPT, *args], capture_output=True, text=True, timeout=120
    )


@pytest.mark.parametrize("flag", ["-h", "--help"])
def test_help_prints_usage(flag):
    out = _run(flag)
    assert out.returncode == 0
    assert out.stdout.startswith("usage: check_correctness.py")


def test_unknown_flag_exits_nonzero(tmp_path):
    out = _run(str(tmp_path), "--no-such-flag")
    assert out.returncode == 2
    assert "unrecognized arguments: --no-such-flag" in out.stderr


def test_missing_sf_dir_exits_nonzero(tmp_path):
    out = _run(str(tmp_path / "missing"))
    assert out.returncode == 2
    assert "sf directory not found" in out.stderr
    out = _run()
    assert out.returncode == 2
    assert "required: sf_dir" in out.stderr


def test_unknown_query_exits_nonzero(tmp_path):
    out = _run(str(tmp_path), "no_such_query")
    assert out.returncode == 1
    assert "unknown queries: no_such_query" in out.stderr
    assert '"query"' not in out.stdout  # no query ran
