"""Tiny-scale runs of the benchmark command, correctness check included.

Each run starts Spark, so these take about a minute apiece."""

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import report

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(cwd, *args, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=timeout
    )


def _left_behind(marker: str) -> list[str]:
    """Command lines of live processes that mention ``marker``."""
    out = []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if marker in cmd:
            out.append(cmd)
    return out


@pytest.mark.parametrize("workload,trace", [("replicate", "1"), ("serve", "0")])
def test_smoke_run_prints_checked_result(workload, trace, tmp_path):
    # output goes to files, not pipes: the JVM inherits them, and reading a
    # pipe to its end would wait for the JVM as well as for the run
    with open(tmp_path / "out", "w+") as out, open(tmp_path / "err", "w+") as err:
        p = subprocess.Popen(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", trace],
            cwd=ROOT, stdout=out, stderr=err,
        )
        p.wait(timeout=600)
        # the run's JVM carries its work directory on its command line
        assert _left_behind(f"perfbench/.work/{workload}-3-{p.pid}") == []
        out.seek(0)
        err.seek(0)
        assert p.returncode == 0, err.read()[-2000:]
        result = json.loads(out.read().strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = report.LAYER_UNITS if trace == "1" else report.E2E_UNITS
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench", ignore=shutil.ignore_patterns(".*"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = _run(tmp_path, "--workload", "replicate", "--seed", "1", "--seconds", "1", timeout=180)
    assert p.returncode != 0 and '"correct"' not in p.stdout
