"""The driver-op audit is a standing gate: no UDF/toPandas outside its
allowlist, every collect() allowlisted, and no stale allowlist key.
Static (parses the package source); no Spark session."""

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_audit_driver_ops_clean():
    res = subprocess.run(
        [sys.executable, "scripts/audit_driver_ops.py"],
        cwd=ROOT,
        capture_output=True,
        text=True,
    )
    assert res.returncode == 0, res.stdout + res.stderr
