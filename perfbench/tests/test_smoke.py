"""The benchmark's own tests: smoke-size runs of every workload in both
modes, the contract of the output line, and the failure exit in a tree
without the engine.

    python3 -m pytest perfbench/tests -q

Each smoke run starts its own Spark JVM (about a minute each).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import pytest

from perfbench import stream
from perfbench.cpu import tree_cpu_s
from perfbench.trace import union_seconds
from perfbench.workloads import iqm

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_bench(cwd, *args, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("workload", ["serve-web", "serve-zipf"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    proc = run_bench(ROOT, "--workload", workload, "--seed", "3",
                     "--seconds", "1", "--trace", str(trace), "--smoke")
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0, proc.stdout
    assert out["attempted"] >= 1
    spec = benchmark_json()["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in out["metrics"].items()}
    assert all(isinstance(v["value"], (int, float))
               for v in out["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in benchmark_json()["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench(tmp_path, "--workload", "serve-web", "--seed", "1",
                     "--seconds", "1", "--trace", "0", timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_streams_are_seeded():
    bands = {"common": ["a", "b", "c"], "mid": ["d", "e", "f"],
             "rare": ["g", "h"]}
    texts = ["a b c d e f g", "b c e f h", "a c d g h"]
    terms = [t.split() for t in texts]

    def first(blocks, n=3):
        return [next(blocks) for _ in range(n)]

    def web(seed):
        return stream.web_blocks(seed, bands, texts, terms)

    assert first(web(5)) == first(web(5))
    assert first(web(5)) != first(web(6))
    block = next(web(5))
    assert sorted(r.kind for r in block) == sorted(stream.WEB_KINDS)
    for r in block:  # conjunctive pairs come from one sampled doc
        if r.kind == "conj" and r.args[0] not in stream.EMPTY_QUERIES:
            assert any(set(r.args[0].split()) <= set(t) for t in terms)
    zipf = [r.key for b in first(stream.zipf_blocks(5, bands, terms), 4)
            for r in b]
    assert len(zipf) == len(set(zipf))  # every zipf request is distinct


def test_union_seconds():
    assert union_seconds([]) == 0.0
    assert union_seconds([(0, 2), (1, 3), (5, 6)]) == 4.0
    rng = random.Random(0)
    xs = [(s, s + rng.random()) for s in (rng.random() * 5 for _ in range(50))]
    assert union_seconds(xs) <= sum(e - s for s, e in xs)


def test_iqm():
    assert iqm([]) == 0.0
    assert iqm([2.0]) == 2.0
    assert iqm([1, 2, 3, 4]) == 2.5
    assert iqm([0.0, 1, 2, 3, 4, 5, 6, 100]) == 3.5  # outliers dropped


def test_tree_cpu_counts_children():
    before = tree_cpu_s()
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3 * 10**6))"],
                   check=True)
    assert tree_cpu_s() - before >= 0.05  # the reaped child is counted
