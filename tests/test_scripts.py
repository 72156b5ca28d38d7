"""The command-line scripts: each one (and bench.py) imports cleanly
without running its ``main``, so a script that still names a deleted
function fails here rather than at its next manual run; and the live demo
never overwrites an earlier report. No Spark needed."""

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
