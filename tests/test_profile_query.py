"""``tools/profile_query.py`` runs perfbench's traced job on any declared
query and prints its per-layer table. Runs in a subprocess: the tool
starts its own fresh job process and session. It breaks when the job
spec keys it writes stop matching ``perfbench/job.py``."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(REPO, "tools", "profile_query.py")


def test_profiles_one_query_per_pass(sf_dir):
    proc = subprocess.run(
        [sys.executable, TOOL, "x41_sequence_packing", "--sf-dir", sf_dir, "--passes", "1"],
        capture_output=True, text=True, timeout=600, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    header, *rows = [line.split() for line in proc.stdout.strip().splitlines()]
    assert header[:3] == ["pass", "query", "wall_s"]
    assert "operators.pinning.leaked_rdds" in header
    assert [r[:2] for r in rows] == [["0", "x41_sequence_packing"], ["1", "x41_sequence_packing"]]
    jobs = header.index("exec.jobs")
    assert all(int(r[jobs]) >= 1 for r in rows), proc.stdout


def test_unknown_query_fails():
    proc = subprocess.run(
        [sys.executable, TOOL, "x999_no_such_query", "--sf-dir", "."],
        capture_output=True, text=True, timeout=300, cwd=REPO,
    )
    assert proc.returncode != 0
    assert "x999_no_such_query" in proc.stderr
