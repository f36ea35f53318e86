"""Tests of the benchmark's own code: python3 -m pytest perfbench -q"""

from __future__ import annotations

import json
import re
import statistics
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import run, stats, workloads  # noqa: E402
from perfbench.workloads import Op  # noqa: E402


def test_median_quartiles_geomean():
    values = [4.0, 1.0, 3.0, 2.0, 10.0]
    assert stats.median(values) == 3.0
    assert stats.quartiles(values) == tuple(statistics.quantiles(values, n=4)[::2])
    assert stats.quartiles([2.5]) == (2.5, 2.5)
    q1, q3 = stats.quartiles(values)
    assert stats.spread(values) == pytest.approx((q3 - q1) / 3.0)
    assert stats.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.median([])


def test_metric_names_and_units_match_benchmark_json():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOAD_NAMES)
    for name in [*run.END_TO_END, *run.PER_LAYER]:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name


def test_wrong_result_is_counted():
    off = SimpleNamespace(enabled=False)

    def boom():
        raise RuntimeError("op failed")

    ops = [
        Op("right", lambda: 42, lambda v: v == 42),
        Op("wrong", lambda: 41, lambda v: v == 42),  # injected wrong result
        Op("raises", boom, lambda v: True),
    ]
    p = run.run_pass(ops, off)
    assert (p["attempted"], p["failed"]) == (3, 2)
    assert set(p["times"]) == {"right", "wrong", "raises"}
    assert p["wall"] == pytest.approx(sum(p["times"].values()))


def test_oracle_check_needs_the_exact_hash():
    import pandas as pd

    from dask_distributed_vanilla_spark.plans.canonical import canonical

    want = canonical(pd.DataFrame({"flag": ["A", "N"], "avg_disc": [0.05, 0.04], "sum_price": [264698.66, 1.0]}))
    same = pd.DataFrame({"flag": ["N", "A"], "avg_disc": [0.04, 0.05], "sum_price": [1.0, 264698.66]})
    assert workloads.matches_oracle(canonical(same), want)
    # a wrong small-magnitude average (0.06 for 0.05) fails
    wrong_avg = same.assign(avg_disc=[0.04, 0.06])
    assert not workloads.matches_oracle(canonical(wrong_avg), want)
    # so does a sum one cent off
    wrong_sum = same.assign(sum_price=[1.0, 264698.65])
    assert not workloads.matches_oracle(canonical(wrong_sum), want)
    assert not workloads.matches_oracle(canonical(same.head(1)), want)


def test_numpy_twins_of_the_array_generators():
    import numpy as np

    a = workloads._block_matrix(4, 2, 7)
    assert np.array_equal(a[2:, :2], np.random.default_rng(7 + 100003).random((2, 2)))
    p = workloads._row_panels(5, 3, 2, 9)
    assert p.shape == (5, 3)
    assert np.array_equal(p[4:], np.random.default_rng(9 + 2).random((1, 3)))
    # the randomized estimate of the largest singular value is close to
    # the exact one on these matrices, and reproducible from its seed
    m = workloads._block_matrix(64, 32, 3)
    est = workloads._svd_compressed_smax(m, 5, 4, 10)
    assert est == workloads._svd_compressed_smax(m, 5, 4, 10)
    assert abs(est - np.linalg.svd(m, compute_uv=False)[0]) < 0.05 * est


def test_kmeans_check_needs_a_lloyd_fixed_point():
    import numpy as np

    rng = np.random.default_rng(5)
    label = np.arange(300) % 3
    x = rng.random((300, 2)) + 3.0 * label[:, None]
    planted = np.array([x[label == c].mean(axis=0) for c in range(3)])
    assert workloads.is_lloyd_fixed_point(planted[::-1], x)
    # a centre moved off its cluster's mean, or one left with no points
    assert not workloads.is_lloyd_fixed_point(planted + [[0.01, 0.0], [0, 0], [0, 0]], x)
    assert not workloads.is_lloyd_fixed_point(np.vstack([planted[:2], [[100.0, 100.0]]]), x)


def test_end_to_end_aggregation():
    cold = {"wall": 9.0, "times": {"a": 4.0, "b": 5.0}}
    warm = [
        {"wall": 3.0, "times": {"a": 1.0, "b": 2.0}},
        {"wall": 5.0, "times": {"a": 1.0, "b": 4.0}},
    ]
    m = run.end_to_end([3.0, 1.0, 2.0], cold, warm, 100.0)
    assert m == pytest.approx(
        {"setup_s": 2.0, "cold_pass_s": 9.0, "pass_s": 4.0, "op_geomean_s": 3.0**0.5, "retained_mb": 100.0}
    )


def test_stamps_must_agree():
    a = {k: "x" for k in stats.COMPARABLE_KEYS}
    assert stats.comparable(a, dict(a, seed=7)) == []
    assert stats.comparable(a, dict(a, nproc=32)) == ["nproc"]


def test_refuses_without_engine(tmp_path):
    """In a directory holding only the benchmark it exits non-zero, quietly."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in (ROOT / "perfbench").glob("*.py"):
        (bench / f.name).write_text(f.read_text())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "relational", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert p.returncode != 0 and p.stdout == ""


@pytest.mark.parametrize("workload,trace", [("relational", "0"), ("relational", "1"), ("array", "1")])
def test_smoke_run(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", trace],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    want = run.PER_LAYER if trace == "1" else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    if workload == "relational" and trace == "1":
        assert metrics["streaming.batches"] > 0
        assert metrics["storage.temp_tables_per_pass"] > 0
        assert metrics["catalog.load_table_calls"] > 0
        assert metrics["catalog.spread_calls"] > 0
    if workload == "array":
        assert all(v > 0 for k, v in metrics.items() if k.startswith(("client.", "linalg.")))
        assert metrics["catalog.load_table_calls"] == 0
