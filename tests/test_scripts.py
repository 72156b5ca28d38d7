"""The command-line scripts: each one (and bench.py) imports cleanly
without running its ``main``, so a script that still names a deleted
function fails here rather than at its next manual run; the live demo
never overwrites an earlier report; and the scale probe's report row reads
executor CPU next to wall. No Spark needed."""

from __future__ import annotations

import glob
import importlib.util
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(glob.glob(os.path.join(REPO, "scripts", "*.py"))) + [
    os.path.join(REPO, "bench.py")
]


def _load(path: str, monkeypatch):
    # some scripts chdir or extend sys.path at import; monkeypatch undoes both
    monkeypatch.chdir(os.getcwd())
    monkeypatch.setattr(sys, "path", list(sys.path))
    name = "_script_" + os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, name, mod)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_script_imports_without_running_main(path, monkeypatch):
    assert callable(_load(path, monkeypatch).main)


def test_live_demo_report_is_never_overwritten(tmp_path, monkeypatch):
    demo = _load(os.path.join(REPO, "scripts", "live_demo_tpch.py"), monkeypatch)
    out = str(tmp_path / "report.json")
    demo.write_report({"run": 1}, out)
    with pytest.raises(FileExistsError, match="report.json"):
        demo.write_report({"run": 2}, out)
    assert open(out).read() == '{\n "run": 1\n}'


def test_scale_probe_row_reports_cpu_ratio_and_task_counts(monkeypatch):
    probe = _load(os.path.join(REPO, "scripts", "scale_probe.py"), monkeypatch)
    x1 = {"wall_s": 1.02, "executor_cpu_s": 0.73, "tasks": 6}
    x4 = {"wall_s": 1.08, "executor_cpu_s": 2.39, "tasks": 7}
    row = probe.report_row(x1, x4, 4)
    assert row == {
        "x1_s": 1.02, "x4_s": 1.08, "ratio": 1.06, "cpu_ratio": 3.27,
        "x1_tasks": 6, "x4_tasks": 7, "x1": x1, "x4": x4,
    }
    assert probe.report_row({**x1, "executor_cpu_s": 0.0}, x4, 4)["cpu_ratio"] is None
