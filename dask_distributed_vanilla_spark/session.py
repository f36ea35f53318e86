"""SparkSession factory.

The reference engine hand-rolls scheduling, spilling, work stealing and
shuffle (distributed/scheduler.py, worker.py — see SURVEY.md §4.2). On
Spark all of that is built in; the engine's job is to *configure* it:
AQE for runtime re-planning (partition coalescing, skew-join splitting,
broadcast demotion), Arrow for the pandas-UDF boundary, and shuffle
partition counts sized so a partition fits executor memory at the target
scale factor.

Python workers run under the engine's own daemon (`_daemon.py`): on
CPython < 3.13 every task of a stock pyspark worker re-reads the central
directory of pyspark.zip once per imported package
(`importlib.invalidate_caches()` at task start), 0.12-0.21 s of each
task on a 4-core host — a warm 16-task job on local[4] took 0.94 s with
the stock daemon and 0.31 s with this one. `get_spark` also puts the
package's parent directory on the workers' PYTHONPATH so the daemon
imports from any working directory.

At 100 TB the same code runs unchanged on a real cluster: only
`master`, `spark.sql.shuffle.partitions` (→ ~2-3× total cores) and
executor sizing move to spark-submit conf. The executors must be able
to import this package (installed there, or on
`spark.executorEnv.PYTHONPATH`), since their Python workers start from
its daemon.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# The directory holding this package, which the Python workers need on
# their path to start the daemon below.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DEFAULTS = {
    # Runtime re-planning: coalesce tiny shuffle partitions, split skewed
    # ones, demote/promote broadcast joins from runtime statistics.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Upper bound before AQE coalesces; on a 1000-executor cluster this
    # would be set to ~2-3x total cores instead.
    "spark.sql.shuffle.partitions": "32",
    # Arrow-batched transfer for pandas UDFs / toPandas — the fast path
    # for the few operators that genuinely need Python (SURVEY.md §2.10).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Dimension tables (region/nation/customer/supplier/part at TPC-H
    # ratios) stay well under this; facts never broadcast.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.session.timeZone": "UTC",
    # The events fixture stores TIMESTAMP(NANOS) which the vectorized
    # reader rejects; read as long and convert in the catalog (µs
    # precision, matching DuckDB's TIMESTAMP semantics).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # collect() of a broadcast-matmul operand / collect_matrix test
    # helper can exceed the 1g default; judged query results are tiny
    "spark.driver.maxResultSize": "4g",
    # Fork Python workers from a daemon that skips the per-task re-read
    # of pyspark.zip's directory (0.12-0.21 s a task on CPython < 3.13;
    # see _daemon.py). Plans, jobs and results are unchanged.
    "spark.python.daemon.module": "dask_distributed_vanilla_spark._daemon",
}


# AQE inside iterative fixpoint loops (min-label propagation, gradient
# steps): each loop round is a small query over node/weight-sized frames
# whose shuffle sizes are KNOWN and pinned by the loop (see
# operators.graph.min_label_components), so AQE's stage-by-stage
# materialize-and-replan cycle buys nothing and its per-stage driver
# latency multiplies by rounds × stages — measured r14 at sf0.1:
# er_golden_record's 6-round loop 3.5s → 2.2s, text_logreg's 5 steps
# ~3.1s → ~2.5s, dedup_cc 0.82s → 0.65s with AQE scoped off; the
# surrounding query (pair build, consolidation) keeps AQE. The latency
# is per ROUND, so the saving grows with rounds, not with core count —
# the same trade holds on a cluster.
ITER_LOOP_AQE = "false"


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set session confs for the duration of a block, restoring the
    previous values on exit — the engine's pattern for loop-scoped
    sizing."""
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def free_checkpoint(df: DataFrame) -> None:
    """Release the blocks of a ``localCheckpoint`` frame (its plan is a
    ``LogicalRDD``), blocking until they are gone. Only for a checkpoint
    nothing reads any more: a later read of ``df`` fails."""
    df._jdf.logicalPlan().rdd().unpersist(True)


def get_spark(app_name: str = "ddvs", master: str | None = None, **conf: str) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    Keyword overrides win over the tuned defaults. The package's parent
    directory goes in front of any ``spark.executorEnv.PYTHONPATH``, so
    Python workers can import the daemon whatever the working directory.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    merged = dict(_DEFAULTS)
    merged.update(conf)
    key = "spark.executorEnv.PYTHONPATH"
    merged[key] = os.pathsep.join(p for p in (_PACKAGE_PARENT, merged.get(key)) if p)
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
