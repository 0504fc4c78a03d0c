"""Every dev tool that drives the package starts from a plain checkout:
run as ``python tools/<tool>.py`` (which puts only ``tools/`` on
``sys.path``) with no PYTHONPATH, it must find ``espkinesis_spark`` in
the repo it lives in."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TOOLS = ["drain_scale_audit", "vacuity_audit", "plan_sweep", "vanilla_drive", "cluster_drive"]

# mirror the script launch: tools/ first on sys.path, the cwd not on it;
# load the tool as a module (no main()), then import the package as its
# main() would
_PROBE = """
import os, runpy, sys
tool = sys.argv[1]
sys.path[0] = os.path.dirname(tool)
runpy.run_path(tool, run_name="tool_import_probe")
import espkinesis_spark
print(os.path.dirname(os.path.dirname(os.path.abspath(espkinesis_spark.__file__))))
"""


@pytest.mark.parametrize("tool", _TOOLS)
def test_tool_imports_package_without_pythonpath(tool, tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, os.path.join(_ROOT, "tools", f"{tool}.py")],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == _ROOT
