"""The default run deselects the `slow` tier; collecting that tier here
makes an import break in a slow-marked module (the CLI, txnlake and
streaming lifecycles) fail the default run too."""

from __future__ import annotations

import os
import subprocess
import sys


def test_slow_tier_collects_without_errors():
    tests = os.path.dirname(os.path.abspath(__file__))
    r = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q",
         "-m", "slow", "-p", "no:cacheprovider", tests],
        cwd=os.path.dirname(tests), capture_output=True, text=True,
        timeout=600)
    summary = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
    assert r.returncode == 0 and "error" not in summary, \
        r.stdout[-3000:] + r.stderr[-3000:]
    assert "tests collected" in summary, summary
