"""Library-backed scale-path variants: seeded but not oracle-hashable
(pyspark.ml hash families / kmeans), so tested for recall against the
exact handwritten operators instead."""

from __future__ import annotations

import pytest

from dask_distributed_vanilla_spark.operators.dedup import dedup_ngram_jaccard, ml_minhash_pairs
from dask_distributed_vanilla_spark.operators.multimodal import frame_sample
from dask_distributed_vanilla_spark.operators.similarity import ann_cosine_topk, ivf_kmeans_search
from tests.conftest import SF_SMOKE


def test_ml_minhash_recall(spark):
    exact = {
        (r.doc_a, r.doc_b) for r in dedup_ngram_jaccard(spark, SF_SMOKE).collect()
    }
    approx = {(r.doc_a, r.doc_b) for r in ml_minhash_pairs(spark, SF_SMOKE, 0.5).collect()}
    assert exact, "fixture should contain planted near-dup pairs"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"MinHashLSH recall {recall:.2f} vs exact pairs"


def test_ivf_kmeans_recall(spark):
    exact = {
        (r.query_id, r.neighbor_id) for r in ann_cosine_topk(spark, SF_SMOKE).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in ivf_kmeans_search(spark, SF_SMOKE, n_clusters=4, n_probe=2).collect()
    }
    recall = len(exact & ivf) / len(exact)
    # coarse quantizer on random-ish vectors: expect partial but real recall
    assert recall >= 0.3, f"IVF recall {recall:.2f}"


def test_frame_sample_shape(spark):
    rows = frame_sample(spark, SF_SMOKE, every_nth=10).limit(50).collect()
    assert rows and all(r.frame_idx % 10 == 0 for r in rows)


def test_ngram_df_cap_drops_stop_shingles(spark, monkeypatch):
    """DF ceiling: with the cap below every shared shingle's df, no pair
    can form — the hot-shingle blowup path is provably closed."""
    from dask_distributed_vanilla_spark.operators import dedup

    monkeypatch.setattr(dedup, "DF_CAP", 1)
    assert dedup.dedup_ngram_jaccard(spark, SF_SMOKE).count() == 0


def test_min_label_components_raises_when_not_converged(spark, monkeypatch):
    """A path graph needs more rounds than a cap of 1: the loop must
    raise (dedup_cc and er_golden_record run on it) instead of returning
    non-fixpoint labels, and free its checkpoints on the way out."""
    from dask_distributed_vanilla_spark.operators import graph

    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "a long, b long")
    nodes = spark.range(1, 6).toDF("node")
    assert sorted(graph.min_label_components(pairs, nodes).collect()) == [
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 5)
    ]
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs())
    monkeypatch.setattr(graph, "MAX_LABEL_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="fixpoint"):
        graph.min_label_components(pairs, nodes)
    assert set(jsc.getPersistentRDDs()) == before


def test_e18_approx_distinct_error_bound(spark):
    """HLL++ estimate per event type within the configured rsd (2%, use
    5× slack for the small-sample regime) of the exact distinct count."""
    from pyspark.sql import functions as F

    from dask_distributed_vanilla_spark.catalog import load_table
    from dask_distributed_vanilla_spark.operators.events import e18_approx_distinct

    approx = {
        r.event_type: r.approx_users
        for r in e18_approx_distinct(spark, SF_SMOKE).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for et, n in exact.items():
        assert abs(approx[et] - n) <= max(2, 0.10 * n), (et, approx[et], n)


def test_pq_adc_rerank_recall(spark):
    """PQ retrieve-then-rerank: ADC over per-subspace codebooks builds
    the shortlist, exact cosine re-ranks it — recall should beat the
    coarse-only IVF probe because the shortlist is wide and the final
    order is exact."""
    from dask_distributed_vanilla_spark.operators.similarity import ann_pq_search

    exact = {
        (r.query_id, r.neighbor_id) for r in ann_cosine_topk(spark, SF_SMOKE).collect()
    }
    pq = {
        (r.query_id, r.neighbor_id)
        for r in ann_pq_search(spark, SF_SMOKE).collect()
    }
    recall = len(exact & pq) / len(exact)
    assert recall >= 0.5, f"PQ recall {recall:.2f}"


def test_sketch_rollup_union_matches_exact_within_bound(spark):
    """The per-day sketches unioned to per-type must estimate within the
    HLL error envelope of the exact distinct count — this is the
    re-aggregation property (day sketches → type totals) that exact
    counts do not have."""
    from dask_distributed_vanilla_spark.operators.events import sketch_rollup

    approx = {
        r.event_type: r.approx_users for r in sketch_rollup(spark, SF_SMOKE).collect()
    }
    exact = {
        r.event_type: r.n
        for r in spark.sql(
            f"SELECT event_type, count(DISTINCT user_id) AS n FROM "
            f"parquet.`{SF_SMOKE}/events.parquet` GROUP BY 1"
        ).collect()
    }
    assert set(approx) == set(exact)
    for et, n in exact.items():
        assert abs(approx[et] - n) <= max(2, 0.05 * n), (et, approx[et], n)


def test_pagerank_mass_conserved(spark):
    """With no dangling nodes (undirected graph), total rank mass is
    exactly 1, so the mean-normalized ranks must sum to n — the
    invariant that catches a dropped-contribution or double-count bug
    in the iterative join."""
    from dask_distributed_vanilla_spark.operators.graph import graph_pagerank

    rows = graph_pagerank(spark, SF_SMOKE).collect()
    n = len(rows)
    assert n > 0
    total = sum(r.pr for r in rows)
    assert abs(total - n) < 0.01 * n
    assert all(r.pr > 0 for r in rows)


def test_pagerank_keeps_only_the_final_ranks(spark):
    """The edge list, node table and intermediate rank checkpoints are
    freed once the final ranks are materialized: one persistent RDD
    outlives the build, and the result still reads."""
    from dask_distributed_vanilla_spark.operators.graph import graph_pagerank

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs())
    ranks = graph_pagerank(spark, SF_SMOKE)
    assert len(set(jsc.getPersistentRDDs()) - before) == 1
    assert ranks.count() > 0


def test_graph_cell_cap_drops_hot_cells(spark, monkeypatch):
    """With the cap forced to 1, every multi-user cell drops and the
    co-occurrence graph is empty — proof the hot-cell guard is wired
    into the edge builder (same pattern as the ngram DF_CAP test)."""
    from dask_distributed_vanilla_spark.operators import graph

    monkeypatch.setattr(graph, "CELL_CAP", 1)
    assert graph._edges(spark, SF_SMOKE).count() == 0


def test_fastss_sig_occupancy_guard_warns(spark, monkeypatch):
    """FastSS occupancy ceiling (the ER analog of the ngram DF_CAP pin):
    a cap below the densest deletion bucket fires the RuntimeWarning at
    candidate-join build time — and because FastSS recall is exact by
    theorem, the guard must NEVER alter the result set it warns about."""
    import warnings

    from dask_distributed_vanilla_spark.operators import er

    baseline = sorted(
        (r.left_key, r.right_key, r.d) for r in er.er_match_pairs(spark, SF_SMOKE).collect()
    )
    monkeypatch.setattr(er, "SIG_DF_CAP", 1)
    monkeypatch.setattr(er, "_SIG_GUARD_SEEN", set())
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        capped = sorted(
            (r.left_key, r.right_key, r.d)
            for r in er.er_match_pairs(spark, SF_SMOKE).collect()
        )
    assert any(
        issubclass(x.category, RuntimeWarning) and "occupancy" in str(x.message)
        for x in w
    ), "expected the bucket-occupancy RuntimeWarning under a cap of 1"
    assert capped == baseline, "occupancy guard must not change exact results"


def test_blocking_audit_matches_literal_blocked_self_join(spark):
    """er_blocking_audit derives n_blocked from the FastSS full set
    under the subset invariant (every blocked pair collides on a
    1-deletion signature — FastSS completeness for lev<=1). This pins
    the derivation against the LITERAL definition it replaced: an
    independent quadratic blocked self-join with the unbanded
    levenshtein. If a future change weakens FastSS recall (e.g. turning
    the SIG_DF_CAP guard into a filter) the audit would silently
    corrupt — this test is the r13-ADVICE tripwire for exactly that."""
    from pyspark.sql import functions as F

    from dask_distributed_vanilla_spark.catalog import load_table
    from dask_distributed_vanilla_spark.operators.er import er_blocking_audit

    got = er_blocking_audit(spark, SF_SMOKE).collect()[0]

    c = load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_name"
    )
    a, b = c.alias("a"), c.alias("b")
    full = a.join(
        b, F.col("a.c_custkey") < F.col("b.c_custkey")
    ).where(F.levenshtein(F.col("a.c_name"), F.col("b.c_name")) <= 1)
    n_full = full.count()
    n_blocked = full.where(
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
    ).count()
    assert got["n_full"] == n_full
    assert got["n_blocked"] == n_blocked


def test_fastss_sig_occupancy_quiet_under_default_cap(spark, monkeypatch):
    """On the smoke fixture every deletion bucket sits under the default
    ceiling — the green path emits no occupancy warning even with the
    once-per-(dataset, cap) probe memo cleared."""
    import warnings

    from dask_distributed_vanilla_spark.operators import er

    monkeypatch.setattr(er, "_SIG_GUARD_SEEN", set())
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        er.er_match_pairs(spark, SF_SMOKE).count()
    assert not [x for x in w if "occupancy" in str(x.message)]
