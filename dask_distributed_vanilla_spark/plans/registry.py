"""Central query registry: name → (DataFrame builder, DuckDB oracle SQL).

This is the engine's declared surface (SURVEY.md §2.12 plus the
LLM-pipeline extension operators). `__spark_entry__.py` re-exports it for
the driver's correctness gate; tests and bench.py iterate it.

Builders are callables ``(spark, sf_dir) -> DataFrame``. An oracle value
of None marks a query the driver checks rows-only (genuinely
non-SQL-expressible — e.g. ML-backed LSH, streaming state).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


def _collect() -> tuple[dict[str, QueryFn], dict[str, str]]:
    from dask_distributed_vanilla_spark.operators import (
        asof,
        curation,
        dedup,
        events,
        multimodal,
        similarity,
        text,
        tpch,
        tpch_full,
    )
    from dask_distributed_vanilla_spark.streaming import events_stream

    # Tier B is always judged: its extension schema (partsupp + the
    # dropped columns) is derived inline on both engines from the base
    # tables (sources/tierb.py), so no extra fixture files are required.
    from dask_distributed_vanilla_spark.operators import er, graph, lakehouse, quality

    mods = [tpch_full, events_stream, curation, dedup, events, tpch, asof, similarity, text, multimodal, lakehouse, graph, er, quality]
    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    for mod in mods:
        queries.update(mod.QUERIES)
        oracles.update({k: v for k, v in mod.ORACLES.items() if v is not None})
    # Module order, rows-only names last (a stable sort): a consumer that
    # judges only a prefix of queries() spends no slot on a query that
    # has no oracle to hash against while an oracle-backed one waits.
    queries = dict(sorted(queries.items(), key=lambda kv: kv[0] not in oracles))
    return queries, oracles


def all_queries() -> dict[str, QueryFn]:
    return _collect()[0]


def all_oracles() -> dict[str, str]:
    return _collect()[1]


def rows_only() -> tuple[str, ...]:
    """Queries checked rows-only BY DESIGN: no DuckDB oracle exists
    because a cross-engine value hash is impossible (HLL/GK sketch
    estimates, seeded ML fits, zlib ratios, iterative BPE/GD state) —
    each is pinned instead by a pytest error-bound or numpy/zlib/Counter
    twin (see COVERAGE.md). Exported so the driver's CORRECTNESS record
    can carry ``rows_only: true`` rather than an ``err: "no_oracle"``
    row that reads as a failure."""
    queries, oracles = _collect()
    return tuple(sorted(name for name in queries if name not in oracles))
