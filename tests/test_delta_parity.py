"""DeltaMergeTarget ↔ ParquetMergeTarget parity (env-gated).

The container ships no delta-spark jars, so this skips cleanly here;
on any environment with ``pip install delta-spark`` it runs the full
merge/append/update/delete matrix in a subprocess (the Delta
session needs its extensions configured at JVM startup, which the
shared test session cannot provide) and fails on any state divergence.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from fsc_etl_spark.operators.merge import delta_available

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(not delta_available(), reason="delta-spark not installed")
def test_delta_parquet_target_parity():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "delta_parity.py")],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=600,
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr}"
    assert "PARITY OK" in proc.stdout


def test_parity_script_skips_without_delta():
    """The standalone script must exit 42 (explicit skip), not crash,
    when delta-spark is absent — keeps CI signal unambiguous."""
    if delta_available():
        pytest.skip("delta present; the skip path is unreachable")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "delta_parity.py")],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=120,
    )
    assert proc.returncode == 42 and "SKIP" in proc.stdout
