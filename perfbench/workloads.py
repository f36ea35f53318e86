"""Workload definitions: operations, their inputs and their checks.

A workload is a list of operations run in a closed loop (each starts when
the previous one returned). ``prepare`` makes the inputs the fixtures do
not hold and computes every expected result before any session starts,
so no oracle or reference computation is ever inside a timed window;
``setup`` reads each input once (it is timed as part of ``setup_s``);
``ops`` binds the operations to a live session.
"""

from __future__ import annotations

import operator
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

# The repository's sf 0.001 test fixtures (seed 42), copied byte for byte
# so the benchmark reads only files of its own checkout.
FIXTURES = Path(__file__).resolve().parent / "fixtures"
STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


@dataclass
class Op:
    name: str
    run: Callable[[], object]
    check: Callable[[object], bool]


@dataclass
class Context:
    """Everything a workload needs besides the session."""

    seed: int
    work_dir: Path
    data_dir: Path = FIXTURES
    expected: dict = field(default_factory=dict)
    state: dict = field(default_factory=dict)


# Five Tier B queries (TPC-H Q1, Q3, Q9, Q13, Q21), one per query shape:
# a one-table scan and aggregate (b1), a 3-table join (b3), a 6-table join
# reading 7 tables (b9), an outer join (b13), EXISTS/NOT EXISTS (b21).
TPCH = ("b1", "b3", "b9", "b13", "b21")
# One document query: a per-document scan with no shuffle that reads the
# documents table through catalog.spread, the only kept operation that
# calls it.
DOCUMENTS = ("doc_repetition",)
# Two of the twelve stream_* queries: a session window with its state
# store (stream_session) and an HLL sketch checked by rows only
# (stream_approx_distinct). More of either do not fit the per-run budget
# on a 4-core host: the 22 Tier B queries take ~45 s cold, the 12 streams
# ~110 s a run, and the relational workload runs both kinds in one pass.
STREAMING = ("stream_session", "stream_approx_distinct")


def matches_oracle(got: tuple[str, str], want: tuple[str, str]) -> bool:
    """A result is right when its canonical schema and hash equal the
    oracle's, as ``tools/check.py`` requires: floats are compared at the 2
    decimals ``canonical`` renders, so a wrong small average fails too."""
    return got == want


class QueryWorkload:
    """Registry builders ``(spark, sf_dir) -> DataFrame`` collected to
    pandas and hashed canonically. Queries with a DuckDB oracle must match
    its schema and hash exactly; rows-only queries must return rows, and
    the same row count and hash on every pass."""

    def __init__(self, names: tuple[str, ...], tables: tuple[str, ...]):
        self.names = names
        self.tables = tables

    def prepare(self, ctx: Context) -> None:
        import duckdb

        from dask_distributed_vanilla_spark.plans.canonical import canonical
        from dask_distributed_vanilla_spark.plans.registry import all_oracles

        oracles = all_oracles()
        con = duckdb.connect()
        try:
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{ctx.data_dir}/{t}.parquet'")
            for name in self.names:
                sql = oracles.get(name)
                ctx.expected[name] = None if sql is None else canonical(con.execute(sql).fetchdf())
        finally:
            con.close()

    def setup(self, ctx: Context, spark) -> None:
        for t in self.tables:
            spark.read.parquet(f"{ctx.data_dir}/{t}.parquet").count()

    def ops(self, ctx: Context, spark, tracer) -> list[Op]:
        from dask_distributed_vanilla_spark.plans.canonical import canonical
        from dask_distributed_vanilla_spark.plans.registry import all_queries

        builders = all_queries()
        sf_dir = str(ctx.data_dir)
        seen = ctx.state.setdefault("rows_only", {})

        def make(name: str) -> Op:
            fn = builders[name]

            def run():
                with tracer.span("build"):
                    df = fn(spark, sf_dir)
                if tracer.enabled:
                    with tracer.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                with tracer.span("exec"):
                    return df.toPandas()

            def check(pdf) -> bool:
                got = canonical(pdf)
                if ctx.expected[name] is not None:
                    return matches_oracle(got, ctx.expected[name])
                return len(pdf) > 0 and seen.setdefault(name, (len(pdf), got)) == (len(pdf), got)

            return Op(name, run, check)

        return [make(n) for n in self.names]

    def close(self, ctx: Context) -> None:
        pass


# Array sizes: the tools/bench_linalg.py "small" sizes, cut to fit the
# per-run budget on a 4-core host: the grid matmul and svd_compressed use
# 512-wide blocks (a 2x2 grid) instead of 256-wide ones, which took 5.8 s
# and 10.8 s per call; the tall-skinny SVD reads 4 panels, not 16; k-means
# and predict use 50,000 points, not 200,000.
TREE_LEAVES = 1024
MATMUL_N, MATMUL_CHUNK = 1024, 512
BCAST_N, BCAST_PANEL = 1024, 256
TSQR_ROWS, TSQR_COLS, TSQR_PARTS = 100_000, 64, 4
SVDC_N, SVDC_CHUNK, SVDC_K, SVDC_OVERSAMPLE = 1024, 512, 5, 10
POINTS, POINT_DIM, CLUSTERS = 50_000, 8, 3
REL_TOL = 1e-9


def _block_matrix(n: int, chunk: int, seed: int) -> np.ndarray:
    """What ``linalg.random_block_matrix(spark, n, n, chunk, seed)`` holds."""
    a = np.empty((n, n))
    for bi in range(n // chunk):
        for bj in range(n // chunk):
            blk = a[bi * chunk : (bi + 1) * chunk, bj * chunk : (bj + 1) * chunk]
            blk[:] = np.random.default_rng(seed + bi * 100003 + bj).random((chunk, chunk))
    return a


def _row_panels(n_rows: int, n_cols: int, panel_rows: int, seed: int) -> np.ndarray:
    """What ``linalg.random_row_panels(spark, n_rows, n_cols, panel_rows, seed)`` holds."""
    starts = range(0, n_rows, panel_rows)
    return np.vstack(
        [np.random.default_rng(seed + i).random((min(panel_rows, n_rows - r), n_cols)) for i, r in enumerate(starts)]
    )


def _svd_compressed_smax(a: np.ndarray, k: int, seed: int, oversample: int) -> float:
    """``linalg.svd_compressed``'s largest singular value, in numpy: the
    same seeded Gaussian projection, so the estimate itself is reproduced."""
    omega = np.random.RandomState(seed).standard_normal((a.shape[1], k + oversample))
    q, _ = np.linalg.qr(a @ omega)
    return float(np.linalg.svd(q.T @ a, compute_uv=False)[0])


def is_lloyd_fixed_point(centers: np.ndarray, x: np.ndarray, atol: float = 1e-3) -> bool:
    """True when no centre is empty and each is, within ``atol``, the mean
    of the points nearest to it: what k-means returns. The planted
    clusters are recovered at most seeds, but some k-means||
    initialisations end in another local optimum, which is a right answer
    too. Spark stops after 20 iterations or once no centre moves more
    than 1e-4, so a centre on the way to such an optimum can still be
    ~1e-4 off its points' mean (seed 213: a split cluster, 1.1e-4)."""
    nearest = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    if len(np.unique(nearest)) != len(centers):
        return False
    means = np.array([x[nearest == c].mean(axis=0) for c in range(len(centers))])
    return bool(np.allclose(means, centers, rtol=0, atol=atol))


def _close(got: float, want: float, rel: float = REL_TOL) -> bool:
    return abs(got - want) <= rel * abs(want)


class ArrayWorkload:
    """``client.tree_reduce`` and the ``linalg`` functions on RDD and
    pandas paths: no catalog, no registry. Every generator seed is drawn
    from the workload seed; every result is checked against numpy."""

    def prepare(self, ctx: Context) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(ctx.seed)
        names = ("mm_a", "mm_b", "bc_a", "bc_b", "tsqr", "svdc", "omega", "kmeans")
        seeds = {k: int(rng.integers(1, 1 << 30)) for k in names}
        ctx.state["seeds"] = seeds
        exp = ctx.expected
        exp["tree_reduce"] = float(sum(range(TREE_LEAVES)))
        a = _block_matrix(MATMUL_N, MATMUL_CHUNK, seeds["mm_a"])
        exp["block_matmul"] = float((a @ _block_matrix(MATMUL_N, MATMUL_CHUNK, seeds["mm_b"])).sum())
        a = _row_panels(BCAST_N, BCAST_N, BCAST_PANEL, seeds["bc_a"])
        exp["matmul_broadcast_staged"] = float((a @ _row_panels(BCAST_N, BCAST_N, BCAST_PANEL, seeds["bc_b"])).sum())
        a = _row_panels(TSQR_ROWS, TSQR_COLS, TSQR_ROWS // TSQR_PARTS, seeds["tsqr"])
        exp["svd_tall_skinny_panels"] = float(np.linalg.svd(a, compute_uv=False)[0])
        a = _block_matrix(SVDC_N, SVDC_CHUNK, seeds["svdc"])
        exp["svd_compressed"] = _svd_compressed_smax(a, SVDC_K, seeds["omega"], SVDC_OVERSAMPLE)

        # planted clusters, one per offset 0, 3, 6 in every dimension
        label = np.arange(POINTS) % CLUSTERS
        x = rng.random((POINTS, POINT_DIM)) + 3.0 * label[:, None]
        exp["kmeans_fit"] = x
        from dask_distributed_vanilla_spark.linalg import LeastSquaresModel

        fit_x = rng.random((2_000, POINT_DIM)) * 3.0 * CLUSTERS
        model = LeastSquaresModel.fit(fit_x, (fit_x.sum(axis=1) > 1.5 * CLUSTERS * POINT_DIM).astype(int))
        ctx.state["model"] = model
        exp["parallel_post_fit_predict"] = float(model.predict(x).sum())
        ctx.state["points"] = points = ctx.work_dir / "points.parquet"
        emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), POINT_DIM).cast(pa.list_(pa.float64()))
        pq.write_table(pa.table({"id": np.arange(POINTS), "embedding": emb}), points)

    def setup(self, ctx: Context, spark) -> None:
        spark.read.parquet(str(ctx.state["points"])).count()

    def ops(self, ctx: Context, spark, tracer) -> list[Op]:
        from pyspark.sql import functions as F

        from dask_distributed_vanilla_spark import linalg
        from dask_distributed_vanilla_spark.client import Client, tree_reduce

        s = ctx.state["seeds"]
        exp = ctx.expected
        client = ctx.state["client"] = Client(spark, n_workers=4)
        points = str(ctx.state["points"])
        stage_dir = ctx.work_dir / "staged"
        stage_dir.mkdir(exist_ok=True)
        runs = {"staged": 0}

        def checksum(blocks) -> float:
            return blocks.map(lambda kv: float(kv[1].sum())).sum()

        def op_tree_reduce():
            return float(tree_reduce(client, operator.add, list(range(TREE_LEAVES))).result())

        def op_block_matmul():
            bn = MATMUL_N // MATMUL_CHUNK
            a = linalg.random_block_matrix(spark, MATMUL_N, MATMUL_N, MATMUL_CHUNK, seed=s["mm_a"])
            b = linalg.random_block_matrix(spark, MATMUL_N, MATMUL_N, MATMUL_CHUNK, seed=s["mm_b"])
            return checksum(linalg.block_matmul(a, b, grid=(bn, bn, bn)))

        def op_matmul_broadcast_staged():
            # a fresh path per call, as the function's docstring asks
            runs["staged"] += 1
            path = str(stage_dir / f"b{runs['staged']}.npy")
            b = linalg.random_row_panels(spark, BCAST_N, BCAST_N, BCAST_PANEL, seed=s["bc_b"])
            linalg.stage_matrix(b, path, (BCAST_N, BCAST_N), BCAST_PANEL)
            a = linalg.random_row_panels(spark, BCAST_N, BCAST_N, BCAST_PANEL, seed=s["bc_a"])
            try:
                return checksum(linalg.matmul_broadcast_staged(a, path, blas_threads=1))
            finally:
                Path(path).unlink()

        def op_svd_tall_skinny_panels():
            panels = linalg.random_row_panels(spark, TSQR_ROWS, TSQR_COLS, TSQR_ROWS // TSQR_PARTS, seed=s["tsqr"])
            return float(linalg.svd_tall_skinny_panels(panels)[0][0])

        def op_svd_compressed():
            blocks = linalg.random_block_matrix(spark, SVDC_N, SVDC_N, SVDC_CHUNK, seed=s["svdc"])
            sv, _ = linalg.svd_compressed(
                blocks, (SVDC_N, SVDC_N), SVDC_CHUNK, k=SVDC_K, seed=s["omega"], n_oversample=SVDC_OVERSAMPLE
            )
            return float(sv[0])

        def op_kmeans_fit():
            model = linalg.kmeans_fit(spark.read.parquet(points), k=CLUSTERS, seed=s["kmeans"])
            return np.array(sorted(c.tolist() for c in model.clusterCenters()))

        def op_parallel_post_fit_predict():
            pred = linalg.parallel_post_fit_predict(spark, ctx.state["model"], spark.read.parquet(points))
            return float(pred.agg(F.sum("prediction")).collect()[0][0])

        def scalar(name: str, rel: float = REL_TOL):
            return lambda got: _close(got, exp[name], rel)

        table = [
            ("client.tree_reduce", op_tree_reduce, lambda got: got == exp["tree_reduce"]),
            ("linalg.block_matmul", op_block_matmul, scalar("block_matmul")),
            ("linalg.matmul_broadcast_staged", op_matmul_broadcast_staged, scalar("matmul_broadcast_staged")),
            ("linalg.svd_tall_skinny", op_svd_tall_skinny_panels, scalar("svd_tall_skinny_panels")),
            # same projection, but Spark's TSQR stacks R factors in another
            # order than numpy's QR: agreement to 1e-7, not to the last bits
            ("linalg.svd_compressed", op_svd_compressed, scalar("svd_compressed", 1e-7)),
            ("linalg.kmeans_fit", op_kmeans_fit, lambda got: is_lloyd_fixed_point(got, exp["kmeans_fit"])),
            ("linalg.parallel_post_fit_predict", op_parallel_post_fit_predict, lambda got: got == exp["parallel_post_fit_predict"]),
        ]

        def traced(layer: str, fn):
            def run():
                with tracer.span(layer):
                    return fn()

            return run

        return [Op(layer.split(".", 1)[1], traced(layer, fn), check) for layer, fn, check in table]

    def close(self, ctx: Context) -> None:
        client = ctx.state.pop("client", None)
        if client is not None:
            client.close()


WORKLOADS = {
    "relational": QueryWorkload(TPCH + DOCUMENTS + STREAMING, (*STAR_TABLES, "documents", "events")),
    "array": ArrayWorkload(),
}
