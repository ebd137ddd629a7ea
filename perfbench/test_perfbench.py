"""The benchmark's own tests: seeded inputs, and a tiny-size smoke run
of every workload, untraced and traced, that must print every metric
named in BENCHMARK.json with its unit.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

from perfbench import corpus, workloads
from perfbench.kernel import kernel

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _inputs(seed, tmp_path):
    shape = workloads.SHAPES["tiny"]
    combos = workloads.coords(seed, shape["seed"])
    consts = workloads.constants(seed)
    n = int(np.prod(shape["seed"]))
    cols = workloads.long_table(combos, consts, workloads.holes(seed, n))
    corpus.make_corpus(seed, shape["docs"], shape["vecs"], str(tmp_path))
    with open(tmp_path / "documents.parquet", "rb") as fh:
        docs = fh.read()
    with open(tmp_path / "embeddings.parquet", "rb") as fh:
        emb = fh.read()
    return combos, consts, cols, docs, emb


def test_same_seed_same_inputs(tmp_path):
    a = _inputs(7, tmp_path / "a")
    b = _inputs(7, tmp_path / "b")
    assert a[0] == b[0] and a[1] == b[1]
    for k in a[2]:
        np.testing.assert_array_equal(a[2][k], b[2][k])
    assert a[3] == b[3] and a[4] == b[4]


def test_different_seed_different_inputs(tmp_path):
    a = _inputs(7, tmp_path / "a")
    b = _inputs(8, tmp_path / "b")
    assert a[0] != b[0] and a[1] != b[1]
    assert not np.array_equal(
        np.isnan(a[2]["energy"]), np.isnan(b[2]["energy"])
    )
    assert a[3] != b[3] and a[4] != b[4]


def test_topup_request_extends_the_seed_grid():
    shape = workloads.SHAPES["full"]
    seed_grid = workloads.coords(3, shape["seed"])
    ext = list(shape["seed"])
    ext[0] += shape["ext"]
    full = workloads.coords(3, ext)
    assert full["a"][: len(seed_grid["a"])] == seed_grid["a"]
    assert all(full[d] == seed_grid[d] for d in "bcd")
    assert len(set(full["a"])) == len(full["a"])


def test_kernel_forms_agree_bitwise():
    combos = workloads.coords(5, workloads.SHAPES["tiny"]["seed"])
    consts = workloads.constants(5)
    g, energy, spec = workloads.evaluate(combos, consts)
    for i in range(len(energy)):
        e, s = kernel(*(g[d][i].item() for d in "abcd"), **consts)
        assert e == energy[i]
        assert s == spec[i].tolist()


def _run(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smoke_prints_every_metric(workload):
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        res = _run(workload, trace)
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in BENCH[key]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        assert got == want
        if trace:
            m = {k: v["value"] for k, v in res["metrics"].items()}
            # layer self times + measure + unattributed = traced wall
            parts = [
                v for k, v in m.items()
                if (k.endswith("_s") or k == "fsutil.s")
                and not k.startswith(("session.", "trace.", "spark."))
                and ".spark." not in k
            ]
            total = (sum(parts) + m["trace.unattributed_s"]
                     + m["trace.measure_s"])
            assert abs(total - m["trace.wall_s"]) < 1e-6


def test_refuses_without_library(tmp_path):
    """Outside a checkout of the library the benchmark fails fast."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sweep_topup",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
