"""Tests of the benchmark itself.

    python -m pytest perfbench -q

* the vectorized oracles agree with the per-edge loop oracles of
  ``tests/oracles.py`` on small random graphs, and the checks flag a
  perturbed result;
* every workload runs end to end at --smoke size through the real command,
  traced (oracles plus the status-store probe) and untraced, and prints
  exactly the metrics BENCHMARK.json declares.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import oracles  # noqa: E402
from tests import oracles as loop_oracles  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _random_graph(seed: int, n: int = 60, m: int = 240):
    rng = np.random.default_rng(seed)
    el = rng.integers(0, n, size=(m, 2))
    und = loop_oracles.undirect(el)
    return el, und[:, 0].copy(), und[:, 1].copy()


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_oracles_match_loop_oracles(seed):
    el, src, dst = _random_graph(seed)
    verts, scores = oracles.pagerank(src, dst, iters=7)
    ref = loop_oracles.pagerank_oracle(loop_oracles.undirect(el), fixed_iters=7)
    assert np.allclose(scores, [ref[int(v)] for v in verts], rtol=1e-12)

    verts, comp = oracles.components(src, dst)
    ref = loop_oracles.components_oracle(loop_oracles.undirect(el))
    assert comp.tolist() == [ref[int(v)] for v in verts]

    verts, labels = oracles.label_propagation(src, dst, iters=4)
    ref = loop_oracles.labelprop_oracle(el, 4)
    assert labels.tolist() == [ref[int(v)] for v in verts]

    assert oracles.triangles(src, dst) == loop_oracles.triangle_total_oracle(el)


def test_checks_flag_a_wrong_result():
    from workloads import Checks

    _, src, dst = _random_graph(4)
    good = oracles.edge_keys(src, dst)
    checks = Checks()
    checks.check("same", np.array_equal(oracles.edge_keys(src, dst), good))
    checks.check("dropped edge", np.array_equal(oracles.edge_keys(src[1:], dst[1:]), good))
    assert (checks.attempted, checks.failed) == (2, 1)
    assert checks.failures == ["dropped edge"]


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smoke_traced(workload):
    out = _run(workload, trace=1)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    metrics = out["metrics"]
    assert sorted(metrics) == sorted(m["name"] for m in BENCH["per_layer"])
    assert metrics["build.jobs"]["value"] > 0  # the status-store probe saw stage_edges' jobs
    assert metrics["bench.layer_cover"]["value"] >= 0.9


def test_smoke_untraced():
    out = _run(BENCH["workloads"][0]["name"], trace=0)
    assert out["correct"] and out["failed"] == 0
    declared = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == declared
    assert all(v["value"] > 0 for v in out["metrics"].values())
