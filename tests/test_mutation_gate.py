"""The mutation gate scores a module only when its scoped suite is
green on unmutated code: a red suite would count every mutant as
killed. ``run_pytest`` is replaced by a spy, so no suite runs here."""

from __future__ import annotations

import importlib.util
import json
import os
import pathlib

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent
TARGET = "skoltexter_by_ai_spark/functions/text.py"

_spec = importlib.util.spec_from_file_location("mutation_gate", REPO / "tools" / "mutation_gate.py")
gate = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(gate)


@pytest.fixture
def sandbox(monkeypatch, tmp_path):
    box = tmp_path / "box"
    (box / TARGET).parent.mkdir(parents=True)
    (box / TARGET).write_text((REPO / TARGET).read_text())
    monkeypatch.setattr(gate, "make_sandbox", lambda: str(box))
    monkeypatch.setattr("sys.argv", ["mutation_gate.py", "--only", "functions/text", "--max-mutants", "2"])
    return box


def _spy_run_pytest(monkeypatch, box, verdicts):
    """Answer the n-th ``run_pytest`` call with ``verdicts[n]`` (True =
    suite green) and record whether the sandbox copy was unmutated."""
    src = (REPO / TARGET).read_text()
    seen = []

    def fake(sandbox, test_files, timeout):
        assert sandbox == str(box) and test_files == gate.TARGETS[TARGET]
        seen.append((box / TARGET).read_text() == src)
        return verdicts[len(seen) - 1]

    monkeypatch.setattr(gate, "run_pytest", fake)
    return seen


def test_red_baseline_counts_no_mutants_and_fails(monkeypatch, sandbox, capsys):
    seen = _spy_run_pytest(monkeypatch, sandbox, [False])
    assert gate.main() == 1
    out = json.loads(capsys.readouterr().out)
    assert seen == [True]  # the baseline only: no mutant was run
    assert out["tested"] == out["killed"] == 0
    assert out["baseline_failed"] == [TARGET]
    assert out["files"][TARGET]["baseline_failed"] is True


def test_green_baseline_runs_first_on_unmutated_code(monkeypatch, sandbox, capsys):
    seen = _spy_run_pytest(monkeypatch, sandbox, [True, False, False])
    assert gate.main() == 0
    out = json.loads(capsys.readouterr().out)
    assert seen == [True, False, False]  # baseline unmutated, then two mutants
    assert (out["tested"], out["killed"]) == (2, 2)
    assert "baseline_failed" not in out
    assert not os.path.exists(sandbox)  # the sandbox is removed afterwards
