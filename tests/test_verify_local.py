"""tools/verify_local.py: its oracle comparison and how it loads. No Spark
session is started here."""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pandas as pd

from tools.verify_local import frame_diff

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_frame_diff_accepts_reordered_equal_frames():
    got = pd.DataFrame({"k": [2, 1], "v": ["b", "a"]})
    want = pd.DataFrame({"v": ["a", "b"], "k": np.array([1, 2], dtype="int32")})
    assert frame_diff(got, want) is None


def test_frame_diff_checks_in_order():
    base = pd.DataFrame({"k": [1, 2]})
    assert frame_diff(base, base.head(1)) == "rows 2 vs 1"
    assert frame_diff(base, pd.DataFrame({"j": [1, 2]})) == "cols ['k'] vs ['j']"
    lists = pd.DataFrame({"k": [[1], [2]]})
    assert "list-typed cols ['k']" in frame_diff(lists, lists)
    floats = pd.DataFrame({"k": [1.0, 2.0]})
    assert frame_diff(base, floats) == "dtype kinds ['i'] vs ['f']"
    assert frame_diff(base, pd.DataFrame({"k": [1, 3]})).startswith("values:")


def test_loads_from_any_cwd(tmp_path):
    """The module finds the engine package from any working directory."""
    path = os.path.join(REPO_ROOT, "tools", "verify_local.py")
    code = (
        "import importlib.util\n"
        f"spec = importlib.util.spec_from_file_location('verify_local', {path!r})\n"
        "mod = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(mod)\n"
        "assert callable(mod.canon) and callable(mod.list_cols)\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
