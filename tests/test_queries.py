"""Differential correctness: every registered query vs its DuckDB oracle
at sf0.001 (the reference's differential-testing philosophy,
`distributed/tests/test_collections.py:70-73`, with a stronger oracle —
SURVEY.md §5.2). tools/check.py runs the same comparison at sf0.01."""

from __future__ import annotations

import pytest

from dask_distributed_vanilla_spark.plans.registry import all_oracles, all_queries
from tests.conftest import SF_SMOKE, assert_matches_oracle

QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, oracle, name):
    sdf = QUERIES[name](spark, SF_SMOKE).toPandas()
    sql = ORACLES.get(name)
    if sql is None:
        assert len(sdf) >= 0  # rows-only contract: runs and yields a frame
        return
    odf = oracle.execute(sql).fetchdf()
    assert_matches_oracle(sdf, odf, name)


def test_entry_smoke(spark):
    import __spark_entry__ as mod

    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(mod.queries()) >= set(mod.oracle_sql())


def test_asof_join_row_atomic_carry(spark):
    """A right row with a NULL in one value column must not mix fields
    from different right rows: the carry is the whole most-recent row."""
    from dask_distributed_vanilla_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 100, 10)], "k int, ts int, lid int")
    # most recent right row (ts=90) has v2 NULL; the older one (ts=50)
    # must NOT leak its v2 into the match
    right = spark.createDataFrame(
        [(1, 50, 5.0, 7.0), (1, 90, 9.0, None)],
        "k int, ts int, v1 double, v2 double",
    )
    out = asof_join(
        left, right, by="k", ts_col="ts", tiebreak="lid", value_cols=["v1", "v2"]
    ).collect()
    assert len(out) == 1
    assert out[0]["asof_v1"] == 9.0
    assert out[0]["asof_v2"] is None


def test_within_join_boundary_and_bucket_straddle(spark):
    """Pairs exactly at the window bound are included, one past it are
    not, and a pair straddling a bucket boundary (|delta| < window but
    different buckets) is found exactly once by the +/-1 explosion."""
    import datetime as dt

    from dask_distributed_vanilla_spark.operators.asof import within_join

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        ("a", 1, t0),
        ("a", 2, t0 + dt.timedelta(seconds=60)),       # exactly 60s from 1
        ("a", 3, t0 + dt.timedelta(seconds=121)),      # 61s from 2 -> out
        ("b", 4, t0 + dt.timedelta(seconds=59)),       # bucket 0
        ("b", 5, t0 + dt.timedelta(seconds=61)),       # bucket 1, 2s apart
        ("c", 6, t0),                                  # alone in its key
    ]
    df = spark.createDataFrame(rows, "k string, id long, ts timestamp")
    got = {
        (r.k, r.id_a, r.id_b, r.delta_ms)
        for r in within_join(df, ["k"], "ts", "id", 60).collect()
    }
    assert got == {("a", 1, 2, 60000), ("b", 4, 5, 2000)}


def test_e10_approx_within_rank_error(spark):
    """approx_percentile (GK, accuracy=1e4) vs exact: each approximate
    pX must land inside the exact [p(X-1), p(X+1)] band — the rank-error
    contract, robust to discrete-vs-interpolated tail gaps."""
    from pyspark.sql import functions as F

    from dask_distributed_vanilla_spark.catalog import load_table
    from dask_distributed_vanilla_spark.operators.events import (
        e10_percentiles_approx,
    )
    from tests.conftest import SF_SMOKE

    approx = {r.event_type: r for r in e10_percentiles_approx(spark, SF_SMOKE).collect()}
    bounds = {
        r.event_type: r
        for r in (
            load_table(spark, SF_SMOKE, "events")
            .groupBy("event_type")
            .agg(
                *[
                    F.expr(f"percentile(value, {p})").alias(n)
                    for n, p in [
                        ("lo50", 0.49), ("hi50", 0.51),
                        ("lo90", 0.89), ("hi90", 0.91),
                        ("lo99", 0.98), ("hi99", 1.0),
                    ]
                ]
            )
            .collect()
        )
    }
    assert set(approx) == set(bounds)
    for et, a in approx.items():
        b = bounds[et]
        assert b.lo50 - 0.01 <= a.p50 <= b.hi50 + 0.01, (et, "p50")
        assert b.lo90 - 0.01 <= a.p90 <= b.hi90 + 0.01, (et, "p90")
        assert b.lo99 - 0.01 <= a.p99 <= b.hi99 + 0.01, (et, "p99")


def test_triangle_orientation_bounds_out_degree(spark):
    """The degree-ordered orientation's scale guarantee: no vertex ends
    up with out-degree above sqrt(2m), regardless of raw-degree skew —
    the property that keeps the wedge join bounded at 100 TB."""
    import math

    from pyspark.sql import functions as F

    from dask_distributed_vanilla_spark.operators import graph

    # sf0.001 has no same-minute co-occurrence; the graph needs sf0.01
    e = graph._edges(spark, "/root/testdata/sf0.01").localCheckpoint()
    m = e.count()
    assert m > 0
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    adj = graph.oriented_adjacency(e, deg)
    max_out = adj.groupBy("src").count().agg(F.max("count")).first()[0]
    assert max_out <= math.isqrt(2 * m) + 1
    # orientation preserves the edge set
    assert adj.count() == m


def test_emb_pca_matches_numpy(spark):
    """The distributed (n, Σx, XᵀX) partial-reduction must reproduce
    numpy PCA of the full matrix exactly (same covariance, same
    eigenvalues) — the differential check for the rows-only entry."""
    import numpy as np
    import pandas as pd

    from dask_distributed_vanilla_spark.operators.similarity import PCA_TOP, emb_pca

    got = {r["component"]: r for r in emb_pca(spark, SF_SMOKE).collect()}

    x = np.vstack(
        pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")["embedding"].to_numpy()
    ).astype(np.float64)
    cov = np.cov(x, rowvar=False, bias=True)
    evals = np.sort(np.linalg.eigvalsh(cov))[::-1]
    total = evals.sum()
    assert len(got) == min(PCA_TOP, x.shape[1])
    for i in range(len(got)):
        r = got[i + 1]
        assert abs(r["eigenvalue"] - evals[i]) < 1e-6
        assert abs(r["explained_var"] - evals[i] / total) < 1e-3
        assert abs(r["cum_var"] - evals[: i + 1].sum() / total) < 1e-3


def test_bpe_merges_matches_reference_impl(spark):
    """Greedy BPE over the Spark word-count aggregate must equal an
    independent pandas/Counter implementation over the raw parquet —
    merge-for-merge, including the (count desc, pair asc) tiebreak."""
    from collections import Counter

    import pandas as pd

    from dask_distributed_vanilla_spark.operators.text import BPE_MERGES, bpe_merges

    got = [
        (r["rank"], r["left"], r["right"], r["pair_count"])
        for r in bpe_merges(spark, SF_SMOKE).collect()
    ]

    wc = Counter()
    for text in pd.read_parquet(f"{SF_SMOKE}/documents.parquet")["text"]:
        wc.update(w for w in text.split(" ") if w)
    seqs = {w: tuple(w) for w in wc}
    want = []
    for rank in range(1, BPE_MERGES + 1):
        pairs = Counter()
        for w, cnt in wc.items():
            s = seqs[w]
            for a, b in zip(s, s[1:]):
                pairs[(a, b)] += cnt
        if not pairs:
            break
        best = min(pairs, key=lambda p: (-pairs[p], p))
        want.append((rank, best[0], best[1], pairs[best]))
        for w, s in seqs.items():
            if best[0] not in s:
                continue
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and (s[i], s[i + 1]) == best:
                    out.append(best[0] + best[1])
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = tuple(out)
    assert got == want


def test_text_compress_ratio_matches_zlib(spark):
    """The Arrow-batched compression scorer must equal direct python
    zlib over the raw parquet, byte-for-byte — the differential check
    for the rows-only entry."""
    import zlib

    import pandas as pd

    from dask_distributed_vanilla_spark.operators.text import text_compress_ratio

    got = {
        r["doc_id"]: (r["n_bytes"], r["n_compressed"])
        for r in text_compress_ratio(spark, SF_SMOKE).collect()
    }
    raw = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")[["doc_id", "text"]]
    want = {
        int(r.doc_id): (len(r.text.encode()), len(zlib.compress(r.text.encode(), 6)))
        for r in raw.itertuples()
    }
    assert got == want


def test_text_logreg_quality_matches_numpy(spark):
    """The distributed GD recurrence must match an independent numpy
    implementation of the identical steps (same crc32 hashing, same
    label rule, same learning rate) to float tolerance — parallel sum
    order is the only allowed difference."""
    import zlib

    import numpy as np
    import pandas as pd

    from dask_distributed_vanilla_spark.operators.text import (
        LOGREG_DIM,
        LOGREG_ITERS,
        LOGREG_LR,
        STOPWORDS,
        text_logreg_quality,
    )

    got = np.array(
        [
            r["weight"]
            for r in text_logreg_quality(spark, SF_SMOKE).orderBy("j").collect()
        ]
    )

    raw = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")[["doc_id", "text"]]
    X = np.zeros((len(raw), LOGREG_DIM))
    y = np.zeros(len(raw))
    for i, text in enumerate(raw["text"]):
        toks = text.split(" ")
        n = len(toks)
        y[i] = 1.0 if sum(t in STOPWORDS for t in toks) / n > 0.15 else 0.0
        for t in toks:
            X[i, zlib.crc32(t.encode()) % LOGREG_DIM] += 1.0 / n
    w = np.zeros(LOGREG_DIM)
    for _ in range(LOGREG_ITERS):
        r = 1.0 / (1.0 + np.exp(-(X @ w))) - y
        w = w - LOGREG_LR * (X.T @ r) / len(raw)
    assert np.allclose(got, np.round(w, 6), atol=1e-5)


def test_pandas_udaf_grouped_agg(spark):
    """SURVEY §2.10 UDAF surface: a GROUPED_AGG pandas_udf aggregates
    whole groups (Arrow-batched Series → scalar) and must match the
    same reduction computed by pandas directly."""
    import numpy as np
    import pandas as pd

    from dask_distributed_vanilla_spark.catalog import load_table
    from dask_distributed_vanilla_spark.functions.udafs import geomean, midhinge
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_SMOKE, "events").where(F.col("value") > 0)
    got = {
        r["event_type"]: (r["gm"], r["mh"])
        for r in ev.groupBy("event_type")
        .agg(geomean("value").alias("gm"), midhinge("value").alias("mh"))
        .collect()
    }

    pdf = (
        pd.read_parquet(f"{SF_SMOKE}/events.parquet")
        .query("value > 0")[["event_type", "value"]]
    )
    for et, grp in pdf.groupby("event_type"):
        x = grp["value"].to_numpy(dtype=np.float64)
        assert abs(got[et][0] - np.exp(np.log(x).mean())) < 1e-9
        assert abs(got[et][1] - (np.quantile(x, 0.25) + np.quantile(x, 0.75)) / 2) < 1e-9


def test_midhinge_nan_group_yields_null(spark):
    """A group containing NaN must NOT return a silently finite
    midhinge (np.sort places NaNs LAST, so naive sorted-array indexing
    would interpolate over the finite prefix). The UDAF returns NaN,
    which the Arrow boundary surfaces as NULL — the documented
    poisoned-group contract."""
    from dask_distributed_vanilla_spark.functions.udafs import midhinge

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", float("nan")), ("a", 4.0), ("a", 5.0),
         ("b", 1.0), ("b", 3.0)],
        "k string, v double",
    )
    got = {
        r["k"]: r["mh"]
        for r in df.groupBy("k").agg(midhinge("v").alias("mh")).collect()
    }
    assert got["a"] is None
    assert got["b"] == 2.0


def test_midhinge_integral_index_inf_neighbor(spark):
    """frac == 0 must short-circuit to x[lo] (DuckDB's FRN==CRN branch):
    n=5 puts both quartiles on integral indices, and the convex form
    x[lo]*1 + x[hi]*0 would read the +inf neighbor and yield
    inf*0 = NaN → NULL where DuckDB returns the finite x[lo]."""
    from dask_distributed_vanilla_spark.functions.udafs import midhinge

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", float("inf"))],
        "k string, v double",
    )
    got = df.groupBy("k").agg(midhinge("v").alias("mh")).collect()[0]["mh"]
    # Q1 = x[1] = 2.0, Q3 = x[3] = 4.0 → midhinge 3.0, inf never touched
    assert got == 3.0


def test_e40_null_group_engine_oracle_parity(spark, tmp_path):
    """Round-8 ADVICE: a group containing a SQL NULL reaches the
    GROUPED_AGG UDAF as NaN (Arrow conflation) and yields NULL, while a
    bare DuckDB quantile_cont would IGNORE the NULL and return a finite
    value — engine and oracle diverging on NULL-bearing data. The
    COUNT-guarded E40_SQL must price the poisoned group as NULL on both
    engines; the NULL-free group stays finite and identical."""
    import duckdb
    import pandas as pd

    from dask_distributed_vanilla_spark.operators.events import E40_SQL, e40_midhinge
    from dask_distributed_vanilla_spark.plans.canonical import canonical

    rows = []
    for i in range(20):
        rows.append(
            {
                "event_id": i,
                "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(i, unit="min"),
                "user_id": i % 3,
                "event_type": "click" if i % 2 == 0 else "view",
                # every click-group row at i%6==0 is NULL: the click
                # group is poisoned, the view group is clean
                "value": None if i % 6 == 0 else float(10 + i),
                "props": '{"k": 1}',
            }
        )
    t = pd.DataFrame(rows)
    t["ts"] = t["ts"].astype("datetime64[us]")
    d = tmp_path / "e40null"
    d.mkdir()
    t.to_parquet(d / "events.parquet")

    sdf = e40_midhinge(spark, str(d)).toPandas()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
        odf = con.execute(E40_SQL).fetchdf()
    finally:
        con.close()
    got = dict(zip(sdf["event_type"], sdf["midhinge"]))
    assert pd.isna(got["click"]) and not pd.isna(got["view"])
    s_schema, s_hash = canonical(sdf)
    o_schema, o_hash = canonical(odf)
    assert (len(sdf), s_schema, s_hash) == (len(odf), o_schema, o_hash)


def test_map_in_arrow_digest_matches_pandas_path(spark):
    """mapInArrow — the Arrow-native per-batch API (no pandas
    materialization) — must produce identical per-asset digests to the
    mapInPandas path: same batches, same bytes, less copying. This is
    the hot-path variant for payload-heavy multimodal scans."""
    import hashlib

    import pyarrow as pa

    from dask_distributed_vanilla_spark.catalog import load_table
    from dask_distributed_vanilla_spark.operators.multimodal import with_payload
    from pyspark.sql import functions as F

    docs = with_payload(load_table(spark, SF_SMOKE, "documents")).select(
        "doc_id", "payload"
    )

    def digest_batches(batches):
        for batch in batches:
            ids = batch.column("doc_id")
            payloads = batch.column("payload")
            digests = [
                hashlib.md5(p.as_py()).hexdigest() for p in payloads
            ]
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(digests, pa.string())], ["doc_id", "digest"]
            )

    arrow_out = {
        r["doc_id"]: r["digest"]
        for r in docs.mapInArrow(
            digest_batches, schema="doc_id long, digest string"
        ).collect()
    }
    jvm_out = {
        r["doc_id"]: r["digest"]
        for r in docs.select("doc_id", F.md5("payload").alias("digest")).collect()
    }
    assert arrow_out == jvm_out


def test_orders_pareto_matches_independent_pandas(spark):
    """The differential gate can't catch a formula bug mirrored into the
    oracle (round-3 ADVICE: the 80%-coverage share was computed against
    the wrong threshold on both engines). Pin the semantics against an
    independent pandas computation: sort customers by spend descending,
    take customers until the cumulative share first reaches 80%, report
    that count / n."""
    import pandas as pd

    res = (
        all_queries()["orders_pareto"](spark, SF_SMOKE)
        .toPandas()
        .iloc[0]
    )
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    m = orders.groupby("o_custkey")["o_totalprice"].sum().round(2)
    desc = m.sort_values(ascending=False).to_numpy()
    cum = desc.cumsum()
    k = int((cum >= 0.8 * desc.sum()).argmax()) + 1
    n = len(desc)
    import math

    expected_share = math.floor(k / n * 1000 + 0.5) / 1000
    assert int(res["n_customers"]) == n
    assert res["top_share_for_80pct"] == expected_share
    assert 0.0 < res["gini"] < 1.0


def test_registry_window_freshness_rotation():
    """A consumer that judges only a prefix of queries() sees a fixed
    window: module order, with the rows-only names (no DuckDB oracle)
    moved last by a stable sort. The order no longer rotates with the
    CORRECTNESS_r*.json round ledger (that ranking is gone); rows_only()
    names exactly the eight queries without an oracle."""
    from dask_distributed_vanilla_spark.operators import (
        asof,
        curation,
        dedup,
        er,
        events,
        graph,
        lakehouse,
        multimodal,
        quality,
        similarity,
        text,
        tpch,
        tpch_full,
    )
    from dask_distributed_vanilla_spark.plans.registry import rows_only
    from dask_distributed_vanilla_spark.streaming import events_stream

    mods = [tpch_full, events_stream, curation, dedup, events, tpch, asof, similarity, text, multimodal, lakehouse, graph, er, quality]
    module_order = list(dict.fromkeys(n for mod in mods for n in mod.QUERIES))
    oracles = all_oracles()
    assert list(all_queries()) == (
        [n for n in module_order if n in oracles]
        + [n for n in module_order if n not in oracles]
    )
    assert rows_only() == (
        "bpe_merges",
        "e10_percentiles_approx",
        "e18_approx_distinct",
        "emb_pca",
        "sketch_rollup",
        "stream_approx_distinct",
        "text_compress_ratio",
        "text_logreg_quality",
    )


def test_e40_ulp_boundary_engine_oracle_parity(spark, tmp_path):
    """Round-10 fuzz catch, pinned deterministically: this group's Q3
    interpolates between 1.1 and 19.3 at frac 0.75, where the delta
    form lo + (hi-lo)*frac lands one ulp BELOW the exact 14.75 while
    DuckDB's convex combination lo*(1-frac) + hi*frac lands one ulp
    above — flipping the half-up cent (7.37 vs 7.38) on the .xx5
    midhinge boundary. The UDAF must use DuckDB's exact formula."""
    import duckdb
    import pandas as pd

    from dask_distributed_vanilla_spark.operators.events import E40_SQL, e40_midhinge
    from dask_distributed_vanilla_spark.plans.canonical import canonical

    vals = [0.0] * 14 + [499.0, 500.0, 19.3, 403.6, 500.0, 1.1, 500.0, 0.0]
    rows = [
        {
            "event_id": i,
            "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(i, unit="s"),
            "user_id": i % 4,
            "event_type": "error",
            "value": v,
            "props": '{"k": 1}',
        }
        for i, v in enumerate(vals)
    ]
    t = pd.DataFrame(rows)
    t["ts"] = t["ts"].astype("datetime64[us]")
    d = tmp_path / "e40ulp"
    d.mkdir()
    t.to_parquet(d / "events.parquet")

    sdf = e40_midhinge(spark, str(d)).toPandas()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
        odf = con.execute(E40_SQL).fetchdf()
    finally:
        con.close()
    assert sdf["midhinge"].iloc[0] == 7.38 == odf["midhinge"].iloc[0]
    assert canonical(sdf) == canonical(odf)


def test_e41_one_arm_group_z_is_null_both_engines(spark, tmp_path):
    """Round-10 fuzz catch, pinned: an event_type whose rows all land in
    one A/B arm has sd = 0, so the normal-approx z is undefined — the
    engine must emit NULL (NULLIF-guarded divide) exactly like DuckDB's
    NULL-on-zero double division, not abort the job under ANSI mode.
    U_A stays defined on both engines."""
    import duckdb
    import pandas as pd

    from dask_distributed_vanilla_spark.operators.events import E41_SQL, e41_mannwhitney
    from dask_distributed_vanilla_spark.plans.canonical import canonical

    rows = []
    for i in range(12):
        rows.append(
            {
                "event_id": i,
                "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(i, unit="s"),
                # 'click' rows: alternating arms; 'error' rows: even
                # user_ids only -> arm B empty for that type
                "user_id": (i % 2) if i < 8 else 2,
                "event_type": "click" if i < 8 else "error",
                "value": float(i),
                "props": '{"k": 1}',
            }
        )
    t = pd.DataFrame(rows)
    t["ts"] = t["ts"].astype("datetime64[us]")
    d = tmp_path / "e41arm"
    d.mkdir()
    t.to_parquet(d / "events.parquet")

    sdf = e41_mannwhitney(spark, str(d)).toPandas()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
        odf = con.execute(E41_SQL).fetchdf()
    finally:
        con.close()
    err = sdf.set_index("event_type").loc["error"]
    assert err["n_b"] == 0 and pd.isna(err["z"])
    assert not pd.isna(sdf.set_index("event_type").loc["click"]["z"])
    assert canonical(sdf) == canonical(odf)


def test_emb_quantize_f32_oracle_boundary(spark, tmp_path):
    """Round-10 fuzz catch, pinned: this group's worst-vector MAE lands
    on the 1.025e-3 display boundary, where an oracle quantizing in
    float32 (DuckDB's FLOAT/DECIMAL stays FLOAT) reads one cent LOW
    (1.02) while the engine's float64 HOFs read 1.03. The oracle's
    DOUBLE casts must keep both sides at 1.03."""
    import duckdb
    import numpy as np
    import pandas as pd

    from dask_distributed_vanilla_spark.operators.similarity import (
        EMB_QUANTIZE_SQL,
        emb_quantize,
    )
    from dask_distributed_vanilla_spark.plans.canonical import canonical

    vecs = [
        [-0.8914214372634888, -0.2290588766336441, 0.4835372865200043,
         0.027386486530303955, -0.6773968935012817, 0.6418770551681519,
         0.2103477120399475, 0.2748453915119171],
        [0.0] * 8,
        [0.5651170611381531, 0.13563086092472076, 0.621529221534729,
         -0.5455523729324341, -0.38501450419425964, 0.1408727765083313,
         0.6760718822479248, -0.8382704854011536],
    ]
    t = pd.DataFrame(
        {
            "vec_id": [0, 1, 2],
            "embedding": [np.array(v, dtype=np.float32) for v in vecs],
            "label": [1, 1, 1],
        }
    )
    d = tmp_path / "embulp"
    d.mkdir()
    t.to_parquet(d / "embeddings.parquet")

    sdf = emb_quantize(spark, str(d)).toPandas()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet'")
        odf = con.execute(EMB_QUANTIZE_SQL).fetchdf()
    finally:
        con.close()
    assert sdf["max_mae_x1000"].iloc[0] == 1.03 == odf["max_mae_x1000"].iloc[0]
    assert canonical(sdf) == canonical(odf)
