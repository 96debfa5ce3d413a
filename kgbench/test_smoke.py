"""The benchmark's own tests: every workload at a tiny size, with its
correctness checks, and the failure exit when the pipeline is missing.

    python3 -m pytest kgbench -q -p no:cacheprovider
"""

import json
import os
import shutil
import subprocess
import sys

from kgbench.run import END_TO_END, PER_LAYER

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(BENCH_DIR)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "kgbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_smoke_all_workloads_traced():
    proc = _run(CHECKOUT, "--workload", "all", "--smoke", "--seconds", "0",
                "--trace", "1")
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    results = [json.loads(line) for line in proc.stdout.splitlines()
               if line.startswith("{")]
    assert len(results) == 2
    for r in results:
        assert set(r) == {"correct", "attempted", "failed", "metrics"}
        assert r["correct"] and r["failed"] == 0 and r["attempted"] == 3
        assert list(r["metrics"]) == list(PER_LAYER)
    # the human-readable report names every end-to-end metric too
    for name in END_TO_END:
        assert f"  {name} " in proc.stdout
    crawl, recrawl = (r["metrics"] for r in results)
    assert crawl["warehouse.merge_s"]["value"] == 0
    assert recrawl["warehouse.merge_s"]["value"] > 0
    assert crawl["checkpoint.commit_s"]["value"] > 0


def test_fails_without_the_pipeline(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "kgbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", "crawl_batch", "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert not any(line.startswith("{") for line in proc.stdout.splitlines())
