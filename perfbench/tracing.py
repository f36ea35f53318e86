"""Per-layer tracing from outside the engine.

The engine is not edited. Layers are measured at the boundaries the
benchmark can see from its own process:

- ``catalog``: ``catalog.load_table`` and ``catalog.spread`` are
  wrapped. Operator modules bind them by name at import, so every module
  of the engine package that holds an original function is re-pointed at
  its wrapper for the traced passes and restored afterwards.
- ``operators``: the registry builder call (self time: catalog calls
  made during the build are subtracted).
- ``client``, ``linalg``: each call the array workload makes into
  ``client.tree_reduce`` or a ``linalg`` function is a span of its own.
- ``catalyst``: ``queryExecution().executedPlan()`` forced before the
  result is collected.
- ``exec``: the collect, plus every Spark job of the pass read back from
  the status store (jobs, stages, tasks, executor time, bytes moved).
- ``storage``: block-manager bytes, temp views, ``$TMPDIR`` entries and
  active streams, sampled after every pass (traced or not).
- ``streaming``: a ``StreamingQueryListener`` collects each micro-batch's
  progress (duration breakdown and state-store figures).

Jobs are attributed through the ``spark.jobGroup.id`` local property,
which the wrappers set around each span; micro-batch jobs carry their
stream's own group and count towards the build that ran the stream.
Tracing is only ever switched on for the traced passes, so untraced
passes run the engine with no wrappers, no listener and no job groups.
"""

from __future__ import annotations

import gc
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from pathlib import Path

from py4j.protocol import Py4JJavaError

GROUP = "perfbench."
MB = 1e6
GC_ROUNDS = 4

CATALOG_FUNCTIONS = ("load_table", "spread")
# spans whose time is reported under their own name, as ``<span>_s``
CALL_LAYERS = ("client.", "linalg.")

# streaming progress duration keys -> per-layer metric names
STREAM_DURATIONS = {
    "triggerExecution": "streaming.trigger_s",
    "addBatch": "streaming.add_batch_s",
    "queryPlanning": "streaming.query_planning_s",
    "latestOffset": "streaming.latest_offset_s",
    "getBatch": "streaming.get_batch_s",
    "walCommit": "streaming.wal_commit_s",
    "commitOffsets": "streaming.commit_offsets_s",
}

def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def storage_sample(spark, tmp_dir: Path) -> dict[str, float]:
    """What the session holds right now: cached/checkpointed block bytes,
    temp views (memory sinks register one each), entries in the process
    temp dir (stream source dirs and checkpoints) and running streams."""
    jsc = spark.sparkContext._jsc.sc()
    cached = sum(r.memSize() + r.diskSize() for r in jsc.getRDDStorageInfo())
    return {
        "cached_mb": cached / MB,
        "temp_tables": float(sum(1 for t in spark.catalog.listTables() if t.isTemporary)),
        "tmp_entries": float(len(os.listdir(tmp_dir))),
        "active_streams": float(len(spark.streams.active)),
    }


def heap_used_mb(spark) -> float:
    """Driver JVM heap in use after forced full collections.

    Python first: a DataFrame object the driver's Python still holds in a
    reference cycle keeps its JVM query execution alive through py4j
    (measured: 83-96 MB before a Python collection, 75-86 MB after). A JVM
    collection then enqueues dead broadcasts and shuffles for Spark's
    ContextCleaner thread, which frees their blocks shortly after, so
    collect a fixed number of times with pauses and keep the smallest."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for _ in range(GC_ROUNDS):
        jvm.java.lang.System.gc()
        used.append(bean.getHeapMemoryUsage().getUsed() / MB)
        time.sleep(0.25)
    return min(used)


class _ProgressListener:
    """Collects ``StreamingQueryProgress`` events delivered on the
    listener bus thread."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self._lock = threading.Lock()
        self._events: list = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with outer._lock:
                    outer._events.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()

    def drain(self) -> list:
        with self._lock:
            events, self._events = self._events, []
        return events


class Tracer:
    """Spans and counters for the traced passes of one session."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = False
        self._patched: list[tuple[object, str, object]] = []
        self._progress: _ProgressListener | None = None
        self._reset()

    # -- lifetime ----------------------------------------------------------
    def install(self) -> None:
        from dask_distributed_vanilla_spark import catalog

        for name in CATALOG_FUNCTIONS:
            original = getattr(catalog, name)
            wrapper = self._wrap(original, f"catalog.{name}")
            for mod_name, mod in list(sys.modules.items()):
                if mod_name.startswith("dask_distributed_vanilla_spark") and getattr(mod, name, None) is original:
                    self._patched.append((mod, name, original))
                    setattr(mod, name, wrapper)
        self._progress = _ProgressListener()
        self.spark.streams.addListener(self._progress.listener)
        self.enabled = True

    def uninstall(self) -> None:
        for mod, name, original in reversed(self._patched):
            setattr(mod, name, original)
        self._patched.clear()
        if self._progress is not None:
            self.spark.streams.removeListener(self._progress.listener)
            self._progress = None
        self.enabled = False

    # -- spans ---------------------------------------------------------------
    def _reset(self) -> None:
        self.calls: dict[str, int] = defaultdict(int)
        self.seconds: dict[str, float] = defaultdict(float)
        self._first_job = self._next_job_id()

    def _next_job_id(self) -> int:
        jobs = self.sc._jsc.sc().statusStore().jobsList(None)
        # the status store lists jobs newest first
        return jobs.apply(0).jobId() + 1 if jobs.size() else 0

    @contextmanager
    def _group(self, layer: str):
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", GROUP + layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[layer] += time.perf_counter() - t0
            self.calls[layer] += 1
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def _wrap(self, fn, layer: str):
        def wrapper(*args, **kwargs):
            with self._group(layer):
                return fn(*args, **kwargs)

        return wrapper

    def span(self, layer: str):
        """Span around one layer call; a no-op on untraced passes."""
        return self._group(layer) if self.enabled else nullcontext()

    def begin_pass(self) -> None:
        self._reset()
        if self._progress is not None:
            self._progress.drain()

    # -- per-pass readout ----------------------------------------------------
    def end_pass(self, wall_s: float) -> dict[str, float]:
        """Per-layer metrics of the pass that just ended (read back after
        the pass's wall time was taken, so the readout is not inside it)."""
        m: dict[str, float] = {}
        for name in CATALOG_FUNCTIONS:
            m[f"catalog.{name}_calls"] = float(self.calls[f"catalog.{name}"])
            m[f"catalog.{name}_s"] = self.seconds[f"catalog.{name}"]
        catalog_s = sum(m[f"catalog.{name}_s"] for name in CATALOG_FUNCTIONS)
        m["operators.build_s"] = max(self.seconds["build"] - catalog_s, 0.0)
        for layer, seconds in self.seconds.items():
            if layer.startswith(CALL_LAYERS):
                m[f"{layer}_s"] = seconds
        m["catalyst.plan_s"] = self.seconds["plan"]
        m["exec.collect_s"] = self.seconds["exec"]
        m.update(self._jobs(wall_s))
        m.update(self._streaming())
        return m

    def _jobs(self, wall_s: float) -> dict[str, float]:
        store = self.sc._jsc.sc().statusStore()
        jobs_by_group: dict[str, int] = defaultdict(int)
        stages = tasks = 0
        run_ms = in_b = sr_b = sw_b = spill_b = 0
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() < self._first_job:
                break
            group = job.jobGroup().get() if job.jobGroup().isDefined() else ""
            jobs_by_group[group] += 1
            for sid in _seq(job.stageIds()):
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage evicted or never submitted
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                stages += 1
                tasks += st.numCompleteTasks()
                run_ms += st.executorRunTime()
                in_b += st.inputBytes()
                sr_b += st.shuffleReadBytes()
                sw_b += st.shuffleWriteBytes()
                spill_b += st.memoryBytesSpilled() + st.diskBytesSpilled()
        ours = {g for g in jobs_by_group if g.startswith(GROUP)}
        foreign = sum(n for g, n in jobs_by_group.items() if g not in ours)
        cores = self.sc.defaultParallelism
        return {
            "catalog.load_table_jobs": float(jobs_by_group[GROUP + "catalog.load_table"]),
            # micro-batch jobs run under their stream's group while the
            # builder waits for the stream, so they belong to the build
            "operators.build_jobs": float(jobs_by_group[GROUP + "build"] + foreign),
            "exec.jobs": float(sum(jobs_by_group.values())),
            "exec.stages": float(stages),
            "exec.tasks": float(tasks),
            "exec.executor_run_s": run_ms / 1000.0,
            "exec.busy_ratio": run_ms / 1000.0 / (wall_s * cores),
            "exec.input_mb": in_b / MB,
            "exec.shuffle_read_mb": sr_b / MB,
            "exec.shuffle_write_mb": sw_b / MB,
            "exec.spill_mb": spill_b / MB,
        }

    def _streaming(self) -> dict[str, float]:
        # progress events travel on the listener bus; wait for it to drain
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        events = self._progress.drain() if self._progress is not None else []
        m = {name: 0.0 for name in STREAM_DURATIONS.values()}
        m.update({"streaming.batches": 0.0, "streaming.input_rows": 0.0, "streaming.state_commit_s": 0.0})
        last_state: dict[str, tuple[float, float]] = {}
        for p in events:
            m["streaming.batches"] += 1
            m["streaming.input_rows"] += p.numInputRows
            for key, name in STREAM_DURATIONS.items():
                m[name] += p.durationMs.get(key, 0) / 1000.0
            ops = p.stateOperators
            m["streaming.state_commit_s"] += sum(s.commitTimeMs for s in ops) / 1000.0
            last_state[str(p.id)] = (
                float(sum(s.numRowsTotal for s in ops)),
                sum(s.memoryUsedBytes for s in ops) / MB,
            )
        m["streaming.state_rows"] = sum(r for r, _ in last_state.values())
        m["streaming.state_mb"] = sum(b for _, b in last_state.values())
        return m
