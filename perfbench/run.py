"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the repository root. The run computes every expected result,
sets the session up (JVM launch, session start, one read of each input)
and runs one cold pass in that first session, then ``WARMUP_PASSES``
untimed passes, then warm passes for ``--seconds``, each of these in an
order drawn from ``--seed``. With ``--trace 1``
it then runs traced passes and reports the per-layer metrics instead of
the end-to-end ones. Last it sets the session up again, in the same JVM,
until ``SETUPS`` set-ups are timed; ``setup_s`` is their median. The
last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is the full
record, stamped with the host and configuration.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path.cwd()
ENGINE = "dask_distributed_vanilla_spark"
SETUPS = 3
# untimed (but checked) passes between the cold pass and the timed ones:
# JIT compilation goes on for several passes after the cold one
WARMUP_PASSES = 1
SF = 0.001  # the scale of the fixtures under perfbench/fixtures
# a run must end within 180 s; no pass starts after this much wall time
PASS_START_DEADLINE_S = 130
WATCHDOG_S = 170

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "op_geomean_s": "s",
    "retained_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "catalog.load_table_jobs": "count",
    "catalog.spread_calls": "count",
    "catalog.spread_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.collect_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.busy_ratio": "ratio",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "storage.cached_mb": "MB",
    "storage.cached_mb_per_pass": "MB",
    "storage.temp_tables": "count",
    "storage.temp_tables_per_pass": "count",
    "storage.tmp_entries": "count",
    "storage.tmp_entries_per_pass": "count",
    "storage.active_streams": "count",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.get_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "streaming.state_commit_s": "s",
    "client.tree_reduce_s": "s",
    "linalg.block_matmul_s": "s",
    "linalg.matmul_broadcast_staged_s": "s",
    "linalg.svd_tall_skinny_s": "s",
    "linalg.svd_compressed_s": "s",
    "linalg.kmeans_fit_s": "s",
    "linalg.parallel_post_fit_predict_s": "s",
    "trace.overhead_ratio": "ratio",
}

WORKLOAD_NAMES = ("relational", "array")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def cpu_stat() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took from this VM between two
    ``cpu_stat`` samples (the ``steal`` column of /proc/stat)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def cpu_probe() -> float:
    """Seconds a fixed single-threaded Python loop takes: the host's speed
    at that moment. Steal does not explain every slow period of a shared
    VM, so the stamp carries this as well."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return time.perf_counter() - t0


def prepare_env(work: Path) -> Path:
    """Keep every file the run (and the JVM and Python workers it starts)
    writes inside ``work``, and let Python workers import the engine."""
    tmp = work / "tmp"
    for d in (tmp, work / "local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["_JAVA_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return tmp


def start_session(cpus: int, work: Path):
    from dask_distributed_vanilla_spark.session import get_spark

    spark = get_spark(
        "perfbench", master=f"local[{cpus}]", **{"spark.sql.warehouse.dir": str(work / "warehouse")}
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_pass(ops, tracer) -> dict:
    """One closed-loop pass over every operation, in the order given."""
    if tracer.enabled:
        tracer.begin_pass()
    stat0 = cpu_stat()
    times: dict[str, float] = {}
    failed = 0
    for op in ops:
        t0 = time.perf_counter()
        try:
            result = op.run()
        except Exception:
            times[op.name] = time.perf_counter() - t0
            failed += 1
            log(f"{op.name} failed:\n{traceback.format_exc()}")
            continue
        times[op.name] = time.perf_counter() - t0
        try:
            ok = op.check(result)
        except Exception:
            ok = False
            log(f"{op.name} check raised:\n{traceback.format_exc()}")
        if not ok:
            failed += 1
            log(f"{op.name} returned a wrong result")
    wall = sum(times.values())
    steal = steal_share(stat0, cpu_stat())
    layers = tracer.end_pass(wall) if tracer.enabled else None
    return {"wall": wall, "times": times, "steal": steal, "failed": failed, "attempted": len(ops), "layers": layers}


def per_pass_drift(samples: list[dict], key: str) -> float:
    diffs = [b[key] - a[key] for a, b in zip(samples, samples[1:])]
    return statistics.median(diffs) if diffs else 0.0


def end_to_end(setup_s, cold, warm, retained_mb) -> dict[str, float]:
    from perfbench.stats import geomean, median

    op_medians = [median([p["times"][name] for p in warm]) for name in cold["times"]]
    return {
        "setup_s": median(setup_s),
        "cold_pass_s": cold["wall"],
        "pass_s": median([p["wall"] for p in warm]),
        "op_geomean_s": geomean(op_medians),
        "retained_mb": retained_mb,
    }


def per_layer(start_s, warm, traced, storage) -> dict[str, float]:
    from perfbench.stats import median

    m = dict.fromkeys(PER_LAYER, 0.0)
    for key in traced[0]["layers"]:
        if key in m:
            m[key] = median([p["layers"].get(key, 0.0) for p in traced])
    m["session.start_s"] = median(start_s)
    last = storage[-1]
    for key in ("cached_mb", "temp_tables", "tmp_entries", "active_streams"):
        m[f"storage.{key}"] = last[key]
    for key in ("cached_mb", "temp_tables", "tmp_entries"):
        m[f"storage.{key}_per_pass"] = per_pass_drift(storage, key)
    m["trace.overhead_ratio"] = median([p["wall"] for p in traced]) / median([p["wall"] for p in warm])
    return m


def stamp(args, spark, cpus: int, load_before, stat_before, probe_before: float) -> dict:
    """Host and configuration of the run, taken while the measured session
    is still up."""
    import pyspark

    conf = spark.conf
    return {
        "workload": args.workload,
        "trace": args.trace,
        "seed": args.seed,
        "sf": SF,
        "seconds": args.seconds,
        "host": platform.node(),
        "nproc": cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "cores": cpus,
        "spark_version": spark.version,
        "pyspark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "aqe": conf.get("spark.sql.adaptive.enabled"),
        "driver_memory": conf.get("spark.driver.memory"),
        "checkpoint_location": conf.get("spark.sql.streaming.checkpointLocation", None)
        or "per-query temporary dir under java.io.tmpdir (= $TMPDIR)",
        "state_store": conf.get("spark.sql.streaming.stateStore.providerClass"),
        "load_before": list(load_before),
        "load_after": list(os.getloadavg()),
        "cpu_steal": steal_share(stat_before, cpu_stat()),
        "cpu_probe_s": [probe_before, cpu_probe()],
    }


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {WATCHDOG_S} s")


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / ENGINE / "__init__.py").is_file():
        log(f"no {ENGINE}/ package under {ROOT}; run from the repository root")
        return 2
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(WATCHDOG_S)
    t_run = time.perf_counter()
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or cpu_count())
    spark = wl = ctx = None
    try:
        tmp = prepare_env(work)
        from perfbench.tracing import Tracer, heap_used_mb, storage_sample
        from perfbench.workloads import WORKLOADS, Context

        wl = WORKLOADS[args.workload]
        ctx = Context(args.seed, work)
        wl.prepare(ctx)
        log(f"expected results ready at {time.perf_counter() - t_run:.1f} s")
        load_before, stat_before, probe_before = os.getloadavg(), cpu_stat(), cpu_probe()
        setup_s: list[float] = []
        start_s: list[float] = []

        def set_up():
            t0 = time.perf_counter()
            session = start_session(cpus, work)
            start_s.append(time.perf_counter() - t0)
            wl.setup(ctx, session)
            setup_s.append(time.perf_counter() - t0)
            return session

        spark = set_up()  # launches the JVM
        tracer = Tracer(spark)
        ops = wl.ops(ctx, spark, tracer)
        shuffle = random.Random(args.seed)
        storage: list[dict] = []

        def passes(until_s: float, seeded: bool = True) -> list[dict]:
            """At least one pass, and more until ``until_s`` has elapsed."""
            out: list[dict] = []
            t0 = time.perf_counter()
            while not out or (
                time.perf_counter() - t0 < until_s
                and time.perf_counter() - t_run + out[-1]["wall"] < PASS_START_DEADLINE_S
            ):
                out.append(run_pass(shuffle.sample(ops, len(ops)) if seeded else ops, tracer))
                storage.append(storage_sample(spark, tmp))
            return out

        # the first pass of the first session, in the workload's own order
        # so that the same operation pays the JIT warm-up at every seed
        cold = passes(0, seeded=False)[0]
        log(f"cold pass done at {time.perf_counter() - t_run:.1f} s")
        warmup = [passes(0)[0] for _ in range(WARMUP_PASSES)]
        warm = passes(args.seconds)
        log(f"{len(warm)} warm passes done at {time.perf_counter() - t_run:.1f} s")
        traced: list[dict] = []
        if args.trace:
            tracer.install()
            try:
                traced = passes(args.seconds)
            finally:
                tracer.uninstall()
        retained_mb = heap_used_mb(spark)
        run_stamp = stamp(args, spark, cpus, load_before, stat_before, probe_before)
        wl.close(ctx)
        while len(setup_s) < SETUPS:
            spark.stop()
            spark = set_up()
        log(f"set-ups done at {time.perf_counter() - t_run:.1f} s")
        all_passes = [cold, *warmup, *warm, *traced]
        attempted = sum(p["attempted"] for p in all_passes)
        failed = sum(p["failed"] for p in all_passes)

        if args.trace:
            metrics = per_layer(start_s, warm, traced, storage)
            units = PER_LAYER
        else:
            metrics = end_to_end(setup_s, cold, warm, retained_mb)
            units = END_TO_END
        record = {
            "stamp": run_stamp,
            "samples": {"setups": SETUPS, "warmup_passes": len(warmup), "warm_passes": len(warm), "traced_passes": len(traced)},
            "setup_s": setup_s,
            "session_start_s": start_s,
            "pass_walls": {"cold": cold["wall"], "warmup": [p["wall"] for p in warmup], "warm": [p["wall"] for p in warm], "traced": [p["wall"] for p in traced]},
            "pass_steal": [p["steal"] for p in all_passes],
            "op_times": {"cold": cold["times"], "warm": [p["times"] for p in warm]},
            "storage": storage,
            "error_rate": failed / attempted,
            "metrics": metrics,
        }
    except TimeoutError:
        log(traceback.format_exc())
        return 3
    finally:
        signal.alarm(0)
        if wl is not None and ctx is not None:
            wl.close(ctx)
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass

    log(f"JVM stopped at {time.perf_counter() - t_run:.1f} s")
    print(json.dumps(record, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
