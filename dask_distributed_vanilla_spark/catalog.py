"""Table catalog over the parquet star schema.

Mirrors the reference's ingest table registry (`benchmark/tpch/loaddata.py:164-173`
maps table name → loader fn); here a name maps to a parquet scan that
Catalyst can push filters/projections into. Registering temp views gives
the SQL surface the same names the DataFrame builders use.

Scale note: parquet scans get column pruning + predicate pushdown +
(on a partitioned lake) partition pruning for free — confirmed in tests
via `.explain` (PushedFilters / ReadSchema).

Schema memo: `spark.read.parquet(path)` without a schema launches one
Spark job to infer it from the footer — a large share of a query's
build time at fixture scale, paid on every table a builder loads. Every
star-schema read (batch and stream) takes its schema from
`parquet_schema`, which infers a file's schema once, and then reads with
`spark.read.schema(s).parquet(path)` (no job). The memo key is
(applicationId, realpath, inode, size, mtime_ns) plus the session values
of the confs that change what inference returns (`_INFERENCE_CONFS`), so
a file rewritten in place, a restarted session or a changed conf is
inferred afresh. Only the `StructType` is cached, never a DataFrame:
each call returns a fresh scan with new attribute ids, so a builder can
read one table several times and join the reads (TPC-H Q21 reads
lineitem three times), and the scan still lists the file at read time.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions that are always broadcast-join candidates at any scale
# factor (5 / 25 rows; part/supplier/customer scale with SF but stay dims).
TINY_DIMS = ("region", "nation")


# Session confs that change the schema Spark infers from a parquet footer.
# nanosAsLong matters beyond the engine's own session: a caller of
# `__spark_entry__` may pass a plain session, on which `_ensure_confs`
# sets it only after the session exists.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

# One entry per (session, file version, inference confs): ~10 StructTypes
# per fixture directory a session reads.
_SCHEMAS: dict[tuple, StructType] = {}


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema `spark.read.parquet(path)` would infer, inferred once
    per file version and session (see the module docstring).

    Only a local regular file is memoized. A directory (a partitioned
    lake) is inferred on every call, because its stat does not change
    when a file inside it is rewritten in place; a remote URI or a
    missing path is left to Spark to resolve or reject."""
    real = os.path.realpath(path)
    try:
        st = os.stat(real)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path).schema
    key = (
        spark.sparkContext.applicationId,
        real,
        st.st_ino,
        st.st_size,
        st.st_mtime_ns,
        tuple(spark.conf.get(k) for k in _INFERENCE_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """`events.ts` as a session-UTC microsecond TIMESTAMP, for a batch
    scan or a stream of the events parquet.

    The column is a parquet TIMESTAMP (NANOS in some fixtures). Depending
    on the unit, the Spark build and the conf it scans as int64
    nanoseconds (under `spark.sql.legacy.parquet.nanosAsLong`) or as
    TIMESTAMP_NTZ; both become the µs TIMESTAMP DuckDB sees, which
    `unix_micros` and the time-window functions accept (they reject NTZ).
    """
    ts_type = df.schema["ts"].dataType.typeName()
    if ts_type == "long":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        # session tz is UTC, so the wall-clock reading is unchanged
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A fresh lazy parquet scan of one table of the star schema, read with
    its memoized schema (no schema-inference job after the first read of a
    file version), with `events.ts` normalized (`normalize_events_ts`)."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    return normalize_events_ts(df) if name == "events" else df


# spread()'s narrow-scan decision, memoized per (session, analyzed-plan
# semantic hash): the partition count of a given plan is fixed within a
# session (same files, same split confs), so the DataFrame→RDD
# conversion the probe forces runs once per distinct plan shape instead
# of on every query build (r13 verdict item 8 / ADVICE — on a real
# cluster the conversion is driver-side planning work on each build).
# Bounded in practice: one entry per distinct spread() call-site plan
# per corpus. Keyed on the applicationId, as the schema memo is, so a
# restarted session never reuses stale counts (an id() of the
# SparkContext could be reused once the old one is collected).
_SPREAD_NPARTS: dict[tuple[str, int], int] = {}


def spread(df: DataFrame) -> DataFrame:
    """Round-robin the frame across the cluster when (and only when) its
    scan is narrower than the available cores.

    The sf fixtures are single-row-group parquet files, so every scan —
    and with it all map-side work Catalyst fuses into the scan stage:
    split/explode/md5/levenshtein and the partial half of the first
    aggregation — runs as ONE task on a 32-core box (r13 measurement:
    the minhash signature pass spent ~1s single-threaded). Callers with
    CPU-heavy per-row work repartition the (small) base rows first so
    the fused stage runs wide. Scale-adaptive by construction: a real
    corpus scans as thousands of splits, `n >= cores` holds, and this is
    the identity — no shuffle is ever added at 100 TB (guide §2.5 input
    skew / §6 `files.minPartitionNum`, which cannot split a
    single-row-group file and so is done here instead).

    Classic-mode only (like the ``df.rdd`` probe it wraps): under Spark
    Connect neither ``_jdf`` nor ``rdd`` exists — there the decision
    would move to explicit file-layout inspection."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    key = (spark.sparkContext.applicationId, df._jdf.queryExecution().analyzed().semanticHash())
    n = _SPREAD_NPARTS.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        _SPREAD_NPARTS[key] = n
    return df.repartition(cores) if n < cores else df


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so `spark.sql` sees the schema."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
