"""Unit tests for bench.py's co-load protocol helpers (no SparkSession).

The bench harness is the permanent performance record's instrument —
its probe plumbing deserves the same pinning as an operator. These
cover the round-9 additions: the tmpfs guard on the disk I/O probe
(round-8 ADVICE: on a host where /tmp is tmpfs the probe would read
~0.0004s and the I/O gate would silently never fire), the family
classifier the per-family reporting groups by, and the segment /
riser-re-check thresholds.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench


def test_tmp_tmpfs_guard_matches_io_probe_behavior():
    """_io_probe must return None exactly when /tmp is RAM-backed
    (ratio indeterminate, never a fake pass against the host-specific
    disk idle reference) and a positive wall time otherwise."""
    is_tmpfs = bench._tmp_is_tmpfs()
    assert isinstance(is_tmpfs, bool)
    got = bench._io_probe()
    if is_tmpfs:
        assert got is None
    else:
        assert isinstance(got, float) and got > 0


def test_tmp_tmpfs_guard_agrees_with_proc_mounts():
    """Cross-check the guard against an independent /proc/mounts read:
    the filesystem type of the longest mount-point prefix of /tmp."""
    real = Path("/tmp").resolve()
    best_mnt, fstype = "", ""
    with open("/proc/mounts") as fh:
        for line in fh:
            parts = line.split()
            if len(parts) < 3:
                continue
            mnt = parts[1]
            if (
                str(real) == mnt or str(real).startswith(mnt.rstrip("/") + "/")
            ) and len(mnt) > len(best_mnt):
                best_mnt, fstype = mnt, parts[2]
    if best_mnt:  # /proc/mounts resolvable on every Linux CI box
        assert bench._tmp_is_tmpfs() == (fstype in ("tmpfs", "ramfs"))


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


def test_record_gate_is_tighter_than_suite_gate():
    """The per-segment record gate must sit strictly inside the loose
    suite co-load gate (1.15 < 1.3) and above idle repeat jitter (~6%),
    or reruns would either never fire or fire on noise."""
    assert 1.06 < bench.RECORD_CALIB_RATIO < bench.COLOAD_RATIO


def test_previous_record_best_gates_on_scale_factor():
    """The riser re-check must only compare like with like: the
    committed record is consulted only at ITS scale factor, and a
    missing/mismatched record disables the re-check (empty dict)
    rather than re-measuring against foreign numbers."""
    import json
    from pathlib import Path

    rec_path = Path(bench.__file__).resolve().parent / "bench_last_full.json"
    if not rec_path.exists():  # fresh checkout without a record
        assert bench._previous_record_best(0.1) == {}
        return
    rec = json.loads(rec_path.read_text())
    same = bench._previous_record_best(rec["sf"])
    assert same == rec["queries_best"] and len(same) > 0
    assert bench._previous_record_best(rec["sf"] + 123.0) == {}


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
