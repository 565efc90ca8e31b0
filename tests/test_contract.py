"""The contract gates' scratch space: a gate run leaves no directory
behind once its process exits."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"  # the gate fixture tables (TESTDATA.md)


def test_contract_gates_remove_their_scratch_at_exit(tmp_path):
    """Run two replay gates in a child process whose temp dir is
    ``tmp_path``: both must hash-match, and no ``ais-etl-*`` scratch
    directory may outlive the process."""
    if not os.path.isdir(SF_DIR):
        pytest.skip("gate data absent")
    run = subprocess.run(
        [sys.executable, os.path.join("scripts", "check_contract.py"), SF_DIR,
         "cdc_lineage", "cdc_quarantine"],
        cwd=ROOT, env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True, text=True, timeout=900,
    )
    assert run.returncode == 0, run.stdout[-2000:] + run.stderr[-2000:]
    assert "0 failures" in run.stdout
    assert [p for p in os.listdir(tmp_path) if p.startswith("ais-etl-")] == []
