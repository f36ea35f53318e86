"""Benchmark harness: every registered query at $SPARK_GRAFT_SF_DIR.

Protocol (BASELINE.md): per query, wall-clock of plan build → execute →
collect, median AND best of $BENCH_REPS runs (default 3, extended to
SUBSEC_REPS when the median is under a second) after one warm-up of the
whole suite's input scans. Best-of is the comparison number between
records: co-load on the host only ever adds time, so min() is the
estimator it contaminates least.

Co-load check: one all-core CPU probe, sized to the session's core
count, runs before the suite, after every SEGMENT_SIZE-query segment of
the alphabetical run order, and after the suite. Its reference is the
lowest reading of the run, or the reference of the committed record
(bench_last_full.json) when that record has the same sf and core count.
The run is co-loaded when either end of any bracket reads more than
COLOAD_RATIO × the reference; an over-budget verdict is then null
(indeterminate) instead of a pass/fail measured on a loaded box.

Riser re-check: a co-load burst shorter than a segment can inflate
every rep of a few queries between two clean probes, so any query whose
best-of exceeds RISER_RATIO × its best in the same-host record is
re-measured once at the end of the suite and min-merged: phantom risers
fall, real regressions re-measure slow and stay.

Output contract: a caller may keep only the last ~2,000 chars of stdout,
so the FULL record (every per-query timing, the probe readings, aux) is
printed first on its own line and written to bench_last_full.json, and
the FINAL line is a compact JSON of at most COMPACT_LINE_BUDGET chars:
the totals, per-family geomeans, the scalar config and verdicts, and as
many of the slowest queries as fit.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from dask_distributed_vanilla_spark.catalog import TABLES, load_table
from dask_distributed_vanilla_spark.plans.registry import all_queries
from dask_distributed_vanilla_spark.session import get_spark


# Suite-total drift budget at the driver's sf0.1 / local[32] config.
# Methodology: idle-box measurement × 1.5. Round-4 idle measurement:
# 167.4s over the 176-query suite (load avg ≤ 2 throughout). A shared
# host runs other work (copy/leak checks, DuckDB oracles) concurrently,
# so headroom is 50%.
SUITE_BUDGET_SEC = 255.0
SUBSEC_REPS = 5

# A bracket whose slower end reads over this multiple of the reference
# probe marks the run co-loaded. Sensitivity check (round 7, 32 cores):
# 16 busy-spin processes (half the box) moved the probe 1.41×, while
# same-session idle repeats stay within ±6%.
COLOAD_RATIO = 1.30
SEGMENT_SIZE = 25

# Riser re-check: re-measure a query whose best-of exceeds RISER_RATIO ×
# its same-host record best; the floor skips sub-0.3s noise-band queries.
RISER_RATIO = 1.5
RISER_FLOOR_SEC = 0.3

# Byte budget for the FINAL compact stdout line: a caller may keep only
# the last ~2,000 chars of stdout (round-3 truncation incident).
COMPACT_LINE_BUDGET = 1900


def _previous_record(sf: float, cores: int) -> dict:
    """The committed record (bench_last_full.json) when it was taken at
    this scale factor on this many cores, else {}: the riser re-check
    and the probe reference compare like with like."""
    try:
        rec = json.loads(
            (Path(__file__).resolve().parent / "bench_last_full.json").read_text()
        )
    except (OSError, ValueError):
        return {}
    if not isinstance(rec, dict) or rec.get("sf") != sf or rec.get("cores") != cores:
        return {}
    return rec


def _calibration_probe(spark, reps: int = 3) -> float:
    """Best-of-`reps` wall time of a fixed all-core CPU-bound Spark job:
    sum of (id%1000)*(id%7) over 125M rows per core (4B rows at 32
    cores) — shuffle-free, input-free, ANSI-overflow-safe, so variance is
    pure scheduler/CPU contention. Best-of because co-load only adds
    time; the first rep absorbs codegen compile."""
    rows = 4_000_000_000 * spark.sparkContext.defaultParallelism // 32
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(rows).selectExpr("sum((id % 1000) * (id % 7))").collect()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _coload(probes: list[float], prev_ref: float | None) -> dict:
    """Judge a run from its probe readings, in run order (before the
    suite, each segment boundary, after it). The reference is the lowest
    reading, or `prev_ref` (the same-host record's reference) when that
    is lower; bracket i spans probes i and i+1, and its ratio is its
    slower end over the reference."""
    ref = min(probes + ([prev_ref] if prev_ref else []))
    ratios = [round(max(a, b) / ref, 3) for a, b in zip(probes, probes[1:])]
    ratio = max(ratios)
    return {
        "ref_sec": ref,
        "prev_ref_sec": prev_ref,
        "probes_sec": probes,
        "bracket_ratios": ratios,
        "ratio": ratio,
        "coloaded": ratio > COLOAD_RATIO,
    }


def _verdict(total: float, coloaded: bool) -> bool | None:
    """Over budget? None when a co-loaded run went over: the overrun
    cannot be put down to the code."""
    if total <= SUITE_BUDGET_SEC:
        return False  # under budget even with co-load on top
    return None if coloaded else True


def _tmpfs_scratch() -> str | None:
    """Point all bench-run scratch at tmpfs so the committed record
    measures the engine, not the host's disk: streaming checkpoint +
    state-store default, Spark local dir (shuffle spill), and the
    Python tempfile root (the incremental-MV sink). Returns the base dir
    to clean up, or None when there is no writable tmpfs."""
    shm = "/dev/shm"
    if not os.path.isdir(shm) or not os.access(shm, os.W_OK):
        return None
    base = os.path.join(shm, f"ddvs_bench_{os.getpid()}")
    os.makedirs(os.path.join(base, "scratch"), exist_ok=True)
    return base


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("BENCH_REPS", "3"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    scratch = _tmpfs_scratch()
    conf: dict[str, str] = {}
    if scratch:
        import atexit
        import shutil
        import tempfile

        atexit.register(shutil.rmtree, scratch, ignore_errors=True)
        # tempfile caches its root on first use — assign directly so the
        # twins' mkdtemp calls land on tmpfs regardless of import order
        tempfile.tempdir = os.path.join(scratch, "scratch")
        os.environ["TMPDIR"] = tempfile.tempdir
        conf["spark.sql.streaming.checkpointLocation"] = os.path.join(scratch, "ckpt")
        # shuffle spill stays on DISK at sf >= 1: at large scale factors
        # spill could exhaust tmpfs/RAM and fail the run rather than
        # degrade
        if sf < 1.0:
            conf["spark.local.dir"] = os.path.join(scratch, "local")

    spark = get_spark("bench", **conf)
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    prev = _previous_record(sf, cores)

    # warm-up: touch every input once (JVM/codegen/file-footer caches)
    for t in TABLES:
        load_table(spark, sf_dir, t).count()

    probes = [_calibration_probe(spark)]
    queries = all_queries()
    names = sorted(queries)

    def _run_protocol(run_names: list[str]) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for name in run_names:
            runs: list[float] = []
            for _ in range(reps):
                t0 = time.perf_counter()
                queries[name](spark, sf_dir).collect()
                runs.append(time.perf_counter() - t0)
            # sub-second medians sit at the JVM noise floor: extend to
            # SUBSEC_REPS so round-over-round drift separates from noise
            if statistics.median(runs) < 1.0:
                while len(runs) < SUBSEC_REPS:
                    t0 = time.perf_counter()
                    queries[name](spark, sf_dir).collect()
                    runs.append(time.perf_counter() - t0)
            out[name] = runs
        return out

    # Queries run in the same alphabetical order as every prior record
    # (execution position is part of the number: a family-grouped
    # reorder trial moved the JVM-warm-up tax onto whichever family ran
    # first), and a warm best-of-2 probe closes each segment, so co-load
    # in mid-suite shows in that segment's bracket.
    timings: dict[str, float] = {}
    best: dict[str, float] = {}
    spans: list[str] = []
    for i in range(0, len(names), SEGMENT_SIZE):
        seg = names[i : i + SEGMENT_SIZE]
        for name, runs in _run_protocol(seg).items():
            timings[name] = round(statistics.median(runs), 3)
            best[name] = round(min(runs), 3)
        probes.append(_calibration_probe(spark, reps=2))
        spans.append(f"{seg[0]}..{seg[-1]}")

    # Riser re-check: the queries themselves are the most sensitive
    # detector of a burst shorter than a segment. Re-measure each riser
    # once at the end of the suite, when the burst has typically passed,
    # and keep the cleaner run.
    rechecked: dict[str, dict] = {}
    prev_best = prev.get("queries_best", {})
    risers = [
        n
        for n in names
        if n in prev_best
        and best[n] > RISER_RATIO * prev_best[n]
        and best[n] > RISER_FLOOR_SEC
    ]
    if risers:
        runs_r = _run_protocol(risers)
        for n in risers:
            new_best = round(min(runs_r[n]), 3)
            new_med = round(statistics.median(runs_r[n]), 3)
            rechecked[n] = {
                "prev": prev_best[n],
                "first_best": best[n],
                "recheck_best": new_best,
            }
            best[n] = min(best[n], new_best)
            timings[n] = min(timings[n], new_med)

    probes.append(_calibration_probe(spark))
    spans.append("recheck..post")
    calib = _coload(probes, prev.get("calib", {}).get("ref_sec"))

    total = round(sum(timings.values()), 3)
    total_best = round(sum(best.values()), 3)
    # Both bases recorded (round-8 ADVICE): over_budget stays best-of —
    # co-load only adds time, so min() is the code's number — but a
    # code change that is intermittently slow in MOST reps (GC, spills)
    # would pass best-of while the median basis exposes it: the
    # divergent pair (False, True) is the code-induced-variance flag.
    over_budget = _verdict(total_best, calib["coloaded"])
    over_budget_median = _verdict(total, calib["coloaded"])
    # TPC-H-style power metric: geometric mean over the full-fidelity
    # Tier B suite (b1-b22) — the single-number the reference's TPC-H
    # harness reports, robust to one slow outlier. Best-of basis (the
    # round-over-round comparison number); median kept alongside.
    b_times = [v for k, v in timings.items() if k.startswith("b") and k[1:].isdigit()]
    b_best = [v for k, v in best.items() if k.startswith("b") and k[1:].isdigit()]
    tpch_geomean = (
        round(statistics.geometric_mean(b_times), 3) if b_times else None
    )
    tpch_geomean_best = (
        round(statistics.geometric_mean(b_best), 3) if b_best else None
    )

    # auxiliary (non-suite) metrics: planted-hot-key skew proof and the
    # array workloads — skippable via SPARK_GRAFT_BENCH_AUX=0
    aux: dict = {}
    if os.environ.get("SPARK_GRAFT_BENCH_AUX", "1") != "0":
        from dask_distributed_vanilla_spark.functions.skew import skew_bench
        from tools.bench_linalg import linalg_workloads

        # aux must never sink the suite numbers: record failures inline
        try:
            aux["skew"] = skew_bench(spark, n_rows=3_000_000)
        except Exception as e:  # pragma: no cover - defensive
            aux["skew"] = {"error": str(e)[:300]}
        # the reference's tree-reduction benchmark: 1,024 delayed add
        # leaves reduced down a binary future tree
        # (benchmark/tree_reduction.py:17-31)
        try:
            import operator

            from dask_distributed_vanilla_spark.client import Client, tree_reduce

            cl = Client(spark)
            t0 = time.perf_counter()
            out = tree_reduce(cl, operator.add, list(range(1024))).result()
            aux["tree_reduction"] = {
                "leaves": 1024,
                "chunk": 2,
                "sec": round(time.perf_counter() - t0, 3),
                "result_ok": out == 1024 * 1023 // 2,
            }
        except Exception as e:  # pragma: no cover - defensive
            aux["tree_reduction"] = {"error": str(e)[:300]}
        # "large" = the BASELINE.md-named configs at 128 GiB/local[32]
        # scale (tools/bench_linalg.py SIZES); ~8-9 min now that TSQR
        # runs at 1M×2,048 (164s) — drop to "small" via env when
        # iterating
        try:
            aux["linalg"] = linalg_workloads(
                spark, os.environ.get("SPARK_GRAFT_LINALG_SCALE", "large")
            )
        except Exception as e:  # pragma: no cover - defensive
            aux["linalg"] = {"error": str(e)[:300]}

    config = {
        "sf": sf,
        "n_queries": len(timings),
        "reps": reps,
        "reps_subsec": SUBSEC_REPS,
        "budget_sec": SUITE_BUDGET_SEC,
        "over_budget": over_budget,
        "over_budget_median": over_budget_median,
        "value_best": total_best,
        "tmpfs_scratch": scratch is not None,
        "calib": {**calib, "bracket_spans": spans, "rechecked": sorted(rechecked)},
        "spark": spark.version,
        "cores": cores,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
    }
    # Full record first (its own line; may be truncated by the driver),
    # and also persisted to bench_last_full.json so the per-query dict
    # survives stdout truncation in the committed tree.
    full = {
        "metric": "suite_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_best": best,
        "tpch_geomean_sec": tpch_geomean,
        "tpch_geomean_best_sec": tpch_geomean_best,
        "riser_recheck": rechecked,
        "aux": aux,
        **config,
    }
    print(json.dumps(full))
    try:
        (Path(__file__).resolve().parent / "bench_last_full.json").write_text(
            json.dumps(full, indent=1) + "\n"
        )
    except OSError:
        pass  # read-only checkout: stdout lines remain the record
    print(_compact_line(full))


def _compact_line(full: dict) -> str:
    """The FINAL stdout line, at most COMPACT_LINE_BUDGET chars: every
    scalar of the full record (calib's too), per-family geomeans on both
    bases, and as many of the slowest queries (by best-of) as fit. The
    per-query and per-segment lists stay on the first line."""
    line = {k: v for k, v in full.items() if not isinstance(v, (list, dict))}
    line["calib"] = {
        k: v for k, v in full["calib"].items() if not isinstance(v, (list, dict))
    }
    for key, basis in (
        ("family_geomean_sec", full["queries"]),
        ("family_geomean_best_sec", full["queries_best"]),
    ):
        fams: dict[str, list[float]] = {}
        for k, v in basis.items():
            fams.setdefault(_family(k), []).append(max(v, 1e-3))
        line[key] = {
            f: round(statistics.geometric_mean(ts), 3) for f, ts in sorted(fams.items())
        }
    line["summary"] = "slowest_by_bestof_fit_to_budget_full_dicts_on_first_line"
    slowest = sorted(full["queries_best"].items(), key=lambda kv: -kv[1])
    for n in range(len(slowest), -1, -1):
        out = json.dumps({**line, "queries": dict(slowest[:n])})
        if len(out) <= COMPACT_LINE_BUDGET:
            break
    return out


def _family(name: str) -> str:
    """Bench reporting families (the verdict's requested breakdown)."""
    if name.startswith(("a", "b")) and name[1:].isdigit():
        return "tpch"
    if name.startswith("stream_"):
        return "stream"
    if name.startswith("text_") or name == "bpe_merges":
        return "text"
    if name.startswith(("dedup_", "chunk_dedup", "semdedup")):
        return "dedup"
    if name.startswith("e") and name[1:].split("_")[0].isdigit():
        return "events"
    return "other"


if __name__ == "__main__":
    main()
