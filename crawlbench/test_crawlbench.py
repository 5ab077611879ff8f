"""Self-test of the benchmark at its smallest input sizes.

    python3 -m pytest crawlbench/test_crawlbench.py -q -p no:cacheprovider

Runs every workload untraced and traced, checks that each BENCHMARK.json
metric is printed with its unit, that a deliberately corrupted output is
counted as failed, that the inputs are a pure function of the seed, and
that the command fails fast outside a full checkout. Takes several
minutes: every run starts its own Spark driver.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from crawlbench import gen  # noqa: E402
from crawlbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "crawlbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_spec_lists_each_benchmarked_workload():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_every_metric_printed_with_unit(workload, trace):
    res = _result(
        _run("--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--size", "tiny")
    )
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_corrupted_output_counts_as_failed(workload):
    res = _result(
        _run("--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", "0", "--size", "tiny", "--corrupt")
    )
    assert not res["correct"]
    assert res["failed"] >= 1


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "crawlbench"), tmp_path / "crawlbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = _run("--workload", "crawl_polite", "--seed", "1", "--seconds", "1",
             "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize("kind", sorted(gen.WRITERS))
def test_inputs_are_a_function_of_the_seed(kind, tmp_path):
    def tables(seed: int, tag: str) -> dict:
        out = tmp_path / tag
        gen.WRITERS[kind](str(out), seed, "tiny")
        return {
            str(p.relative_to(out)): pq.read_table(p)
            for p in sorted(out.rglob("*.parquet"))
        }

    a, b, c = tables(5, "a"), tables(5, "b"), tables(6, "c")
    assert a.keys() == b.keys() == c.keys()
    assert all(a[k].equals(b[k]) for k in a)
    assert not all(a[k].equals(c[k]) for k in a)
