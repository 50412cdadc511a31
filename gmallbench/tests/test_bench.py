"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest gmallbench/tests -q

The last test runs the benchmark end to end on a short mart_queries run
(about a minute per trace mode); the others need no Spark session.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from gmallbench import gen  # noqa: E402
from gmallbench.mart_queries import frame_diff  # noqa: E402
from gmallbench.metrics import E2E_UNITS, LAYER_UNITS  # noqa: E402
from gmallbench.order_stream import check_order_stream  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _write_order_ticks(seed: int, root: str, n: int, orders: int = 20) -> None:
    cache: dict = {}
    for k in range(n):
        for s, t in gen.order_stream_files(seed, k, orders, cache).items():
            os.makedirs(os.path.join(root, s), exist_ok=True)
            gen.write_parquet(t, os.path.join(root, s, f"{k:05d}.parquet"))


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_generator_same_seed_same_bytes(tmp_path):
    for run in ("a", "b"):
        _write_order_ticks(7, str(tmp_path / run / "orders"), 14)
        gen.warehouse(7, str(tmp_path / run / "wh"), 0.001)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    _write_order_ticks(8, str(tmp_path / "c" / "orders"), 14)
    assert not _same_tree(
        str(tmp_path / "a" / "orders"), str(tmp_path / "c" / "orders")
    )


def test_generator_prefix_stable_and_late_details(tmp_path):
    """A longer run only appends files, and about 1% of details land
    LATE_TICKS after their order."""
    _write_order_ticks(3, str(tmp_path / "short"), 3, 200)
    _write_order_ticks(3, str(tmp_path / "long"), 16, 200)
    for s in gen.ORDER_SOURCES:
        for k in range(3):
            name = f"{k:05d}.parquet"
            assert filecmp.cmp(
                tmp_path / "short" / s / name, tmp_path / "long" / s / name,
                shallow=False,
            )
    rd = lambda s, k: pq.read_table(  # noqa: E731
        tmp_path / "long" / s / f"{k:05d}.parquet"
    ).to_pandas()
    late = total = 0
    for k in range(16 - gen.LATE_TICKS):
        born = set(rd("orders", k)["order_id"])
        total += sum(rd("details", j)["order_id"].isin(born).sum() for j in range(16))
        late += rd("details", k + gen.LATE_TICKS)["order_id"].isin(born).sum()
    assert 0.003 < late / total < 0.03


def test_benchmark_json_matches_emitted_metrics():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == LAYER_UNITS
    assert [w["name"] for w in BENCH["workloads"]] == [
        "order_stream", "mart_queries"
    ]


def _dau_fixture(root: str) -> str:
    """Landed events plus a dau sink holding exactly the right rows."""
    src = os.path.join(root, "src")
    _write_order_ticks(5, src, 2)
    ev = pd.concat(
        pq.read_table(os.path.join(src, "events", f)).to_pandas()
        for f in sorted(os.listdir(os.path.join(src, "events")))
    )
    ev["dt"] = ev["ts"].dt.strftime("%Y-%m-%d")
    want = ev.drop_duplicates(["dt", "user_id"])[["dt", "user_id"]]
    out = os.path.join(root, "out", "dau", "batch_id=0")
    os.makedirs(out)
    pq.write_table(pa.Table.from_pandas(want, preserve_index=False),
                   os.path.join(out, "part-0.parquet"))
    return os.path.join(out, "part-0.parquet")


def test_order_stream_checker_catches_wrong_dau_row(tmp_path):
    part = _dau_fixture(str(tmp_path))
    src = str(tmp_path / "src")

    def dau_fails():
        return [f for f in check_order_stream(src, str(tmp_path)) if f.startswith("dau")]

    assert dau_fails() == []
    t = pq.read_table(part).to_pandas()
    t.loc[0, "user_id"] = 10**9
    pq.write_table(pa.Table.from_pandas(t, preserve_index=False), part)
    assert len(dau_fails()) == 1


def test_frame_diff_catches_wrong_value():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, np.nan], "s": ["x", "y", None]})
    assert frame_diff(a.iloc[::-1], a) is None
    b = a.copy()
    b.loc[1, "v"] = 1.26
    assert frame_diff(b, a) is not None
    assert frame_diff(a.iloc[:2], a) is not None
    assert frame_diff(a.assign(k=a["k"].astype(float)), a) is not None


@pytest.mark.parametrize("trace", [0, 1])
def test_run_emits_every_metric_with_unit(trace):
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "gmallbench", "run.py"),
         "--workload", "mart_queries", "--seed", "5", "--seconds", "2",
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    last = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0
    spec = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in last["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
