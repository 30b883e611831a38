"""The kept scripts in tools/ stay importable — checked without a Spark
session. bench.py imports tools.scale_testdata lazily, only in its sf1
block, so a broken import there would otherwise surface late."""

from __future__ import annotations

import glob
import os
import py_compile

import pytest

TOOLS = sorted(glob.glob(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "*.py")))


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_compiles(path, tmp_path):
    py_compile.compile(path, cfile=str(tmp_path / "tool.pyc"), doraise=True)


def test_scale_testdata_import_resolves():
    from tools.scale_testdata import ensure_scaled

    assert callable(ensure_scaled)
