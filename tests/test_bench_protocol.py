"""Unit tests for bench.py's co-load protocol helpers (no SparkSession).

The bench harness is the permanent performance record's instrument —
its probe plumbing deserves the same pinning as an operator. These
cover the co-load judgement from the run's own probe readings, the
same-host record reader, the compact final line's budget, the family
classifier the per-family reporting groups by, and the riser-re-check
thresholds.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench


def test_family_classifier_partitions_the_registry():
    """Every registered query lands in exactly one reporting family and
    the TPC-H detector does not swallow non-numeric a*/b* names."""
    from dask_distributed_vanilla_spark.plans.registry import all_queries

    fams = {name: bench._family(name) for name in all_queries()}
    assert set(fams.values()) <= {"tpch", "stream", "text", "dedup", "events", "other"}
    assert fams["a1"] == "tpch" and fams["b22"] == "tpch"
    assert fams["ann_cosine_topk"] == "other"  # 'a' prefix but not a<digit>
    assert fams["stream_dedup"] == "stream"  # stream_ wins over dedup
    assert fams["bpe_merges"] == "text"
    assert fams["e40_midhinge"] == "events"
    assert fams["emb_pca"] == "other"  # 'e' prefix but not e<digit>


def test_previous_record_best_gates_on_scale_factor(tmp_path, monkeypatch):
    """The riser re-check must only compare like with like: the
    committed record is consulted only at ITS scale factor, and a
    missing/mismatched record disables the re-check (empty dict)
    rather than re-measuring against foreign numbers."""
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    assert bench._previous_record(0.1, 4) == {}  # no record
    rec = {"sf": 0.1, "cores": 4, "queries_best": {"a1": 0.5}}
    (tmp_path / "bench_last_full.json").write_text(json.dumps(rec))
    assert bench._previous_record(0.1, 4) == rec
    assert bench._previous_record(0.1 + 123.0, 4) == {}


def test_previous_record_of_another_core_count_is_ignored(tmp_path, monkeypatch):
    """A record from another core count is another host's numbers: it
    gives neither risers nor a probe reference. Older records stored
    the SPARK_GRAFT_CPUS string ("8", "*"); those never match the int."""
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    rec = {"sf": 0.1, "cores": 8, "calib": {"ref_sec": 0.5}, "queries_best": {}}
    (tmp_path / "bench_last_full.json").write_text(json.dumps(rec))
    assert bench._previous_record(0.1, 4) == {}
    rec["cores"] = "4"
    (tmp_path / "bench_last_full.json").write_text(json.dumps(rec))
    assert bench._previous_record(0.1, 4) == {}


def test_steady_probes_are_not_coloaded_on_a_slow_host():
    """A host whose probe reads 5.0 s throughout is idle, not loaded: the
    reference is the run's own lowest reading, so the verdict is real.
    The 32-core constant (0.90 s) the probe used to be compared with
    would have called this run co-loaded."""
    calib = bench._coload([5.0] * 10, None)
    assert calib["coloaded"] is False
    assert calib["ratio"] == 1.0 and calib["ref_sec"] == 5.0
    assert 5.0 / 0.90 > bench.COLOAD_RATIO
    assert bench._verdict(bench.SUITE_BUDGET_SEC + 1, calib["coloaded"]) is True
    assert bench._verdict(bench.SUITE_BUDGET_SEC - 1, calib["coloaded"]) is False


def test_one_loaded_bracket_makes_the_run_coloaded():
    """One probe at 1.5x the run's minimum marks the two brackets it ends
    and makes an over-budget verdict indeterminate; under budget is
    still a pass."""
    calib = bench._coload([1.0, 1.0, 1.5, 1.0, 1.0], None)
    assert calib["bracket_ratios"] == [1.0, 1.5, 1.5, 1.0]
    assert calib["ratio"] == 1.5 and calib["coloaded"] is True
    assert bench._verdict(bench.SUITE_BUDGET_SEC + 1, calib["coloaded"]) is None
    assert bench._verdict(bench.SUITE_BUDGET_SEC - 1, calib["coloaded"]) is False


def test_same_host_reference_catches_a_run_loaded_throughout():
    """A run loaded from start to end reads steady, but slow against the
    same-host record's reference, which then sets the ratio."""
    calib = bench._coload([1.5] * 5, 1.0)
    assert calib["ref_sec"] == 1.0 and calib["coloaded"] is True
    assert bench._coload([1.0] * 5, 1.2)["ref_sec"] == 1.0


def test_compact_line_fits_budget_with_every_list_at_full_length():
    """The final line must stay within COMPACT_LINE_BUDGET and parse as
    JSON even when every per-query list is as long as it gets: 176
    queries, all 176 re-checked as risers."""
    names = [f"stream_outer_join_variant_{i:03d}" for i in range(176)]
    queries = {n: 10.0 + i / 7 for i, n in enumerate(names)}
    probes = [1.5] * 10
    full = {
        "metric": "suite_total_sec",
        "value": 2345.678,
        "unit": "sec",
        "queries": queries,
        "queries_best": {n: v - 0.5 for n, v in queries.items()},
        "tpch_geomean_sec": 0.681,
        "tpch_geomean_best_sec": 0.613,
        "riser_recheck": {
            n: {"prev": 1.0, "first_best": 2.0, "recheck_best": 1.9} for n in names
        },
        "aux": {"skew": {"rows": 3_000_000}},
        "sf": 0.1,
        "n_queries": 176,
        "reps": 3,
        "reps_subsec": 5,
        "budget_sec": 255.0,
        "over_budget": None,
        "over_budget_median": None,
        "value_best": 2100.123,
        "tmpfs_scratch": True,
        "calib": {
            **bench._coload(probes, 1.0),
            "bracket_spans": [f"{names[i]}..{names[i + 1]}" for i in range(9)],
            "rechecked": names,
        },
        "spark": "4.1.2",
        "cores": 4,
        "shuffle_partitions": "16",
        "aqe": "true",
    }
    line = bench._compact_line(full)
    assert len(line) <= bench.COMPACT_LINE_BUDGET
    got = json.loads(line)
    assert got["value"] == full["value"] and got["cores"] == 4
    assert got["calib"]["coloaded"] is True and "rechecked" not in got["calib"]
    assert 0 < len(got["queries"]) < 176
    slowest = sorted(full["queries_best"], key=full["queries_best"].get)[::-1]
    assert list(got["queries"]) == slowest[: len(got["queries"])]


def test_compact_line_budget_within_driver_tail():
    """The final stdout line must survive the driver's ~2,000-char tail
    truncation (round-3 incident) while leaving margin for the adaptive
    slowest-query fill (r14: as many entries as fit, never fewer than
    the historical 10)."""
    assert 1500 <= bench.COMPACT_LINE_BUDGET <= 2000


def test_registry_touched_promotion_self_retires(monkeypatch):
    """bench.py and the correctness gate iterate all_queries(). No query
    is promoted for a round it was touched in any more: the order is
    built from the operator modules alone, so a call reads no file (no
    CORRECTNESS_r*.json ledger) and returns the same order every time."""
    import builtins
    import pathlib

    from dask_distributed_vanilla_spark.plans.registry import all_queries

    before = list(all_queries())  # imports the operator modules

    def _no_file(*a, **k):
        raise AssertionError("the registry order must not read files")

    monkeypatch.setattr(builtins, "open", _no_file)
    monkeypatch.setattr(pathlib.Path, "read_text", _no_file)
    monkeypatch.setattr(pathlib.Path, "glob", _no_file)
    assert list(all_queries()) == before
    assert len(before) == len(set(before)) > 0


def test_riser_thresholds_are_sane():
    """1.5× sits above the ±6% idle jitter and the ~1.2× first-segment
    warm-up band; the 0.3s floor keeps noise-band sub-second queries
    out of the re-check loop; segments are small enough that a 176-query
    suite gets several probe points."""
    assert 1.25 < bench.RISER_RATIO <= 2.0
    assert 0.0 < bench.RISER_FLOOR_SEC <= 0.5
    assert 10 <= bench.SEGMENT_SIZE <= 50
