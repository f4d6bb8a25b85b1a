"""The benchmark's own test: every workload at a small size with every
check on, a corrupted program caught by the checks, and a clean refusal
outside a full checkout.

    python3 -m pytest tcbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(root: str, workload: str, trace: int = 0, timeout: int = 300):
    out = subprocess.run(
        [sys.executable, "tcbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--size", "small"],
        cwd=root, capture_output=True, text=True, timeout=timeout,
    )
    return out, (json.loads(out.stdout.strip().splitlines()[-1]) if out.returncode == 0 else None)


def copy_checkout(dst: str) -> str:
    for name in ("tcdb_spark", "tools", "tcbench"):
        shutil.copytree(os.path.join(ROOT, name), os.path.join(dst, name),
                        ignore=shutil.ignore_patterns("__pycache__", ".work"))
    for name in ("__spark_entry__.py", "BENCHMARK.json"):
        shutil.copy(os.path.join(ROOT, name), dst)
    return dst


@pytest.mark.parametrize("workload,trace", [("season_ticks", 1), ("curation_lanes", 0)])
def test_workload_small(workload, trace):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    proc, res = bench(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert res["correct"], proc.stderr[-3000:]
    assert res["failed"] == (1 if workload == "season_ticks" else 0)
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    assert list(res["metrics"]) == names
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_corrupted_output_is_caught(tmp_path):
    root = copy_checkout(str(tmp_path))
    path = os.path.join(root, "tcdb_spark", "datasets.py")
    src = open(path).read()
    needle = 'on="storm_id"\n    ).drop(*AUDIT)'
    assert src.count(needle) == 1
    with open(path, "w") as fh:
        fh.write(src.replace(needle, needle + '.withColumn("latitude", F.col("latitude") + 0.1)'))
    proc, res = bench(root, "season_ticks")
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert not res["correct"]
    assert "storm_observations" in proc.stderr


def test_refuses_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "tcbench", ignore=shutil.ignore_patterns("__pycache__", ".work"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc, _ = bench(str(tmp_path), "season_ticks", timeout=60)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
