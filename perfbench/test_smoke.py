"""Smoke test of the benchmark itself, at tiny generated sizes:

    python3 -m pytest -q perfbench/test_smoke.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from workloads import WORKLOADS, result_hash  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_generators_are_seeded(tmp_path):
    a, b = gen.corpus(5, 300), gen.corpus(5, 300)
    assert a.docs.equals(b.docs) and a.survivors() == b.survivors()
    assert not gen.corpus(6, 300).docs.equals(a.docs)
    assert a.exact_dups and a.near_dups and a.too_short and a.pii_docs
    n1 = gen.star_schema(str(tmp_path / "x"), 5, 0.001)
    n2 = gen.star_schema(str(tmp_path / "y"), 5, 0.001)
    assert n1 == n2
    for t in n1:
        assert (tmp_path / "x" / f"{t}.parquet").read_bytes() == (
            tmp_path / "y" / f"{t}.parquet").read_bytes()


def test_result_hash_ignores_row_and_column_order():
    rows = [(1, "a", 2.5), (2, "b", None)]
    h = result_hash(["id", "s", "v"], rows)
    assert h == result_hash(["v", "id", "s"], [(r[2], r[0], r[1]) for r in reversed(rows)])
    assert h != result_hash(["id", "s", "v"], [(1, "a", 2.5), (2, "b", 0.0)])


def test_declared_metrics_match_the_code():
    bench = _bench()
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == list(layers)
    assert all(m["unit"] == layers[m["name"]]["unit"] for m in bench["per_layer"])
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_is_correct(workload):
    r = _run(workload, 0)
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    assert set(r["metrics"]) == {m["name"] for m in _bench()["end_to_end"]}
    assert all(m["value"] > 0 for m in r["metrics"].values())


def test_traced_run_reports_every_layer_metric():
    r = _run("bi_dashboard", 1)
    assert r["correct"]
    assert set(r["metrics"]) == {m["name"] for m in _bench()["per_layer"]}
    assert r["metrics"]["plans.build_ms"]["value"] > 0
    assert r["metrics"]["spark.jobs"]["value"] > 0
