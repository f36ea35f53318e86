"""Fixture-level differential fuzz: judged operators on GENERATED data.

The expression fuzz in test_differential_fuzz.py varies the QUERY over
fixed parquet; this suite varies the DATA under fixed judged queries.
The distinction matters: the round-3 advisor found a truncate-vs-round
engine divergence in the dispersion query that only an adversarial
fixture (fractional minute span near .5) could expose — no expression
fuzz reaches that class. Here hypothesis generates small event tables
with hostile properties — minute spans at rounding boundaries, negative
money values (refunds), duplicate timestamps, burst-then-silence gap
patterns — writes them as parquet, and asserts the registered Spark
builder and its registered DuckDB oracle still agree row-for-row.

Reference basis: extends the reference's fixed-fixture differential
suite (distributed/tests/test_collections.py) to generated fixtures.
"""

from __future__ import annotations

import uuid
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dask_distributed_vanilla_spark.operators import events as ev_ops
from dask_distributed_vanilla_spark.plans.canonical import canonical
from dask_distributed_vanilla_spark.plans.registry import all_oracles, all_queries

REG_QUERIES = all_queries()
REG_ORACLES = all_oracles()

# Judged event operators whose semantics have engine-divergence surface:
# minute-grid arithmetic (dispersion), log/entropy float math, variance
# (zscore), median-of-deviations interpolation (mad), gap-boundary
# sessionization, percentile clamping (winsorize).
FUZZED_OPS = [
    "e43_dispersion",
    "e42_entropy",
    "e21_zscore",
    "e36_mad",
    "e28_sessionize",
    "e30_winsorize",
    # round-2 additions: CUSUM standardization (zero-variance guard),
    # TWAP (duplicate-timestamp zero-duration weights), autocorr
    # (corr-of-constant NaN-vs-NULL surface), EWMA (order-dependent
    # float recursion), seasonality, Mann-Whitney rank ties
    "e37_cusum",
    "e27_twap",
    "e39_autocorr",
    "e33_ewma",
    "e34_seasonality",
    "e41_mannwhitney",
    # round-7 completion: the last two unfuzzed events-only oracle ops —
    # guarded Pearson (constant-side NULL surface) and the grouped-agg
    # midhinge UDAF (quantile interpolation on tiny/tied groups)
    "e23_corr",
    "e40_midhinge",
    # data-quality family (events-only inputs): PSI/KS bin math with
    # empty bins, Benford first-digit log ratios on hostile values
    "dq_drift",
    "dq_benford",
    "dq_ks",
    # round-5 additions — the boundary-semantics set: percentile
    # interpolation on tiny/tied groups, time-RANGE frames, histogram
    # bin edges on the .xx5 grid, rank ties, full-outer NULL sides,
    # funnel/retention window edges, regression on near-constant x,
    # equal-depth ntile ties, Markov transitions, gap-fill resampling,
    # and the A/B t-stat on degenerate variants
    "e10_percentiles",
    "e15_range_window",
    "e16_histogram",
    "e17_ranks",
    "e19_full_outer",
    "e20_funnel",
    "e24_regression",
    "e25_eqdepth",
    "e26_retention",
    "e29_transitions",
    "e32_resample_ffill",
    "e35_abtest",
    # reshape / grouping-set / set-op / window set (44/44 pre-probe
    # green; e7's oracle needed the OFFSET second-type fix first)
    "e13_pivot",
    "e14_unpivot",
    "e8_rollup",
    "e22_cube",
    "e1",
    "e2",
    "e3",
    "e4",
    "e5",
    "e6_rolling",
    "e7_setops",
]

# Gap pool (seconds) chosen adversarially: fractions that land minute
# spans near the .5 rounding boundary (the e43 bug class), exact minute
# multiples, sub-second bursts, and session-breaking silences.
GAP_POOL = [0.4, 29.7, 30.5, 59.5, 60.0, 60.49, 61.7, 89.5, 119.5, 1900.0, 3600.0]
TYPES = ["click", "view", "error"]


@st.composite
def event_tables(draw):
    n_users = draw(st.integers(min_value=3, max_value=6))
    rows = []
    eid = 0
    for u in range(1, n_users + 1):
        n = draw(st.integers(min_value=10, max_value=40))
        t = 0.0
        for _ in range(n):
            gap = draw(st.sampled_from(GAP_POOL))
            dup = draw(st.booleans())
            t += 0.0 if dup and rows else gap
            rows.append(
                {
                    "event_id": eid,
                    "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(t, unit="s"),
                    "user_id": u,
                    "event_type": draw(st.sampled_from(TYPES)),
                    # 2-decimal money incl. negatives (refunds) and the
                    # x.005 display-rounding trap
                    "value": round(
                        draw(
                            st.floats(
                                min_value=-500.0,
                                max_value=500.0,
                                allow_nan=False,
                                allow_infinity=False,
                            )
                        ),
                        2,
                    ),
                    "props": '{"k": 1}',
                }
            )
            eid += 1
    df = pd.DataFrame(rows)
    df["ts"] = df["ts"].astype("datetime64[us]")
    return df


def _run_pair(spark, name: str, table: pd.DataFrame, tmp_root: Path):
    d = tmp_root / f"fuzz_{uuid.uuid4().hex[:8]}"
    d.mkdir()
    table.to_parquet(d / "events.parquet")
    sdf = REG_QUERIES[name](spark, str(d)).toPandas()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
        odf = con.execute(REG_ORACLES[name]).fetchdf()
    finally:
        con.close()
    s_schema, s_hash = canonical(sdf)
    o_schema, o_hash = canonical(odf)
    assert len(sdf) == len(odf), f"{name}: rows {len(sdf)} != {len(odf)}"
    assert s_schema == o_schema, f"{name}: schema {s_schema} != {o_schema}"
    assert s_hash == o_hash, (
        f"{name}: value divergence on generated fixture\n"
        f"spark:\n{sdf.to_string()}\noracle:\n{odf.to_string()}"
    )


@pytest.mark.parametrize("name", FUZZED_OPS)
@given(table=event_tables())
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_generated_fixture_matches_oracle(spark, tmp_path_factory, name, table):
    _run_pair(spark, name, table, tmp_path_factory.mktemp("fuzzfix"))


def test_zero_norm_embedding_does_not_crash_cosine(spark, tmp_path):
    """Spark 4 runs ANSI mode: an unguarded cosine division crashes the
    whole job the first time a zero embedding appears (a failed encoder
    writes zeros — certain at corpus scale). The NULLIF-guarded form
    must instead drop the undefined pair on both engines."""
    import numpy as np

    from dask_distributed_vanilla_spark.operators import similarity as sim

    rng = np.random.RandomState(3)
    rows = [
        {
            "vec_id": i,
            "embedding": (
                np.zeros(8, dtype=np.float32)
                if i == 17
                else rng.random_sample(8).astype(np.float32)
            ),
            "label": i % 3,
        }
        for i in range(40)
    ]
    d = tmp_path / "zn"
    d.mkdir()
    pd.DataFrame(rows).to_parquet(d / "embeddings.parquet")
    out = sim.ann_cosine_topk(spark, str(d)).toPandas()
    assert len(out) > 0
    # the zero vector has no defined cosine: never ranked as a neighbor
    assert 17 not in set(out["neighbor_id"])

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet'"
        )
        odf = con.execute(sim.ANN_COSINE_SQL).fetchdf()
    finally:
        con.close()
    s_schema, s_hash = canonical(out)
    o_schema, o_hash = canonical(odf)
    assert (len(out), s_schema, s_hash) == (len(odf), o_schema, o_hash)


def test_constant_value_user_does_not_crash_zscore_cusum(spark, tmp_path):
    """The ANSI divide-by-zero class, batch operators: one bot-like user
    (or event type) emitting a constant value must not fail z-score or
    CUSUM — the degenerate group drops out on both engines."""
    from dask_distributed_vanilla_spark.operators import events as ev_ops_mod

    rows = []
    for i in range(60):
        rows.append(
            {
                "event_id": i,
                "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(i * 61, unit="s"),
                "user_id": i % 3,
                # user 0 and event type "click" are entirely constant
                "event_type": "click" if i % 3 == 0 else "view",
                "value": 5.0 if i % 3 == 0 else float(i),
                "props": '{"k": 1}',
            }
        )
    t = pd.DataFrame(rows)
    t["ts"] = t["ts"].astype("datetime64[us]")
    d = tmp_path / "cv"
    d.mkdir()
    t.to_parquet(d / "events.parquet")
    for name in ("e21_zscore", "e37_cusum", "e39_autocorr", "e23_corr"):
        _run_pair(spark, name, t, tmp_path)


# ---------------------------------------------------------------------------
# documents-table fuzz: hostile corpora for the text operators
# ---------------------------------------------------------------------------

from dask_distributed_vanilla_spark.operators import text as text_ops  # noqa: E402
from dask_distributed_vanilla_spark.operators import dedup as dedup_ops  # noqa: E402

WORD_POOL = [
    "the", "spark", "join", "scan", "merge", "batch", "window", "stream",
    "a", "of", "and", "to", "is", "data", "table", "sort",
]
HOSTILE_TEXTS = [
    "",  # empty document
    " ",  # whitespace only
    "x",  # single char
    "the the the the the the",  # pure repetition
    "   leading and   multi   spaces ",
    # multibyte: where byte length and character length split (the
    # divergence class the audio-RMS oracle fix pinned down)
    "naïve café résumé",
    "日本語のテキストです",
    "emoji 🎉🎊 party 🚀",
]
LANGS = ["en", "de", "fr", "es", "zh"]

TEXT_FUZZED_OPS = [
    ("text_stats", text_ops),
    ("text_quality", text_ops),
    ("text_token_regex", text_ops),
    ("text_hapax_ratio", text_ops),
    ("text_oov_rate", text_ops),
    ("text_compress_ratio", text_ops),
    ("dedup_exact", dedup_ops),
    # round-2 additions: ratio-heavy rankers and the weighted sampler
    ("text_tfidf", text_ops),
    ("text_bm25", text_ops),
    ("text_zipf_slope", text_ops),
    ("text_bigrams", text_ops),
    ("text_unigram_logprob", text_ops),
    # round-3 additions: the curation pipeline and the near-dup family
    ("doc_chunks", None),
    ("doc_pack", None),
    ("redact_pii", None),
    ("decontaminate", None),
    ("doc_repetition", None),
    ("sample_weighted", None),
    ("source_templates", None),
    ("source_overlap", None),
    ("dedup_exact_normalized", dedup_ops),
    ("dedup_ngram_jaccard", dedup_ops),
    ("dedup_minhash_lsh", dedup_ops),
    ("dedup_simhash", dedup_ops),
    ("dedup_containment", dedup_ops),
    # round-7 completion: every remaining oracle-backed documents-only
    # op (multimodal has its own multibyte-payload fuzz below)
    ("text_fingerprint", None),
    ("text_langid", None),
    ("text_pmi_bigrams", None),
    ("text_lang_confusion", None),
    ("text_normalize", None),
    ("text_langmix", None),
    ("text_sparse_sim", None),
    ("text_inverted_index", None),
    ("dedup_cc", None),
    ("dedup_incremental", None),
    ("dedup_incremental_near", None),
    ("sample_stratified", None),
    ("sample_mixture", None),
    ("curation_report", None),
    ("shards_layout", None),
    ("quality_token_mix", None),
    # round-8 completion: the last four unfuzzed documents-only oracle
    # ops — sub-document chunk digests (empty/multibyte chunks),
    # keep-best-per-cluster (quality ties on hostile corpora), cluster
    # size histogram, and the LSH recall audit (whose ground-truth and
    # LSH legs must agree with the oracle on degenerate shingle sets)
    ("chunk_dedup", None),
    ("cluster_best", None),
    ("dedup_cluster_hist", None),
    ("dedup_lsh_audit", None),
]


@st.composite
def document_tables(draw):
    n = draw(st.integers(min_value=8, max_value=25))
    rows = []
    for i in range(n):
        hostile = draw(st.booleans())
        if hostile:
            text = draw(st.sampled_from(HOSTILE_TEXTS))
        else:
            k = draw(st.integers(min_value=1, max_value=30))
            text = " ".join(
                draw(st.sampled_from(WORD_POOL)) for _ in range(k)
            )
        # force at least one exact-duplicate pair into most corpora
        if i == 1 and draw(st.booleans()):
            text = rows[0]["text"]
        rows.append(
            {
                "doc_id": i,
                "text": text,
                "lang": draw(st.sampled_from(LANGS)),
                "source": f"src{i % 3}",
                "n_chars": len(text),
            }
        )
    return pd.DataFrame(rows)


def _run_doc_pair(spark, name: str, mod, table: pd.DataFrame, tmp_root: Path):
    d = tmp_root / f"docfuzz_{uuid.uuid4().hex[:8]}"
    d.mkdir()
    table.to_parquet(d / "documents.parquet")
    queries = mod.QUERIES if mod is not None else REG_QUERIES
    oracles = mod.ORACLES if mod is not None else REG_ORACLES
    sdf = queries[name](spark, str(d)).toPandas()
    oracle = oracles.get(name)
    if oracle is None:
        return  # rows-only op: surviving without an exception IS the test
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
        odf = con.execute(oracle).fetchdf()
    finally:
        con.close()
    s_schema, s_hash = canonical(sdf)
    o_schema, o_hash = canonical(odf)
    assert len(sdf) == len(odf), f"{name}: rows {len(sdf)} != {len(odf)}"
    assert s_schema == o_schema, f"{name}: schema {s_schema} != {o_schema}"
    assert s_hash == o_hash, (
        f"{name}: value divergence on generated corpus\n"
        f"spark:\n{sdf.to_string()}\noracle:\n{odf.to_string()}"
    )


@pytest.mark.parametrize("name,mod", TEXT_FUZZED_OPS, ids=[n for n, _ in TEXT_FUZZED_OPS])
@given(table=document_tables())
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_generated_corpus_matches_oracle(spark, tmp_path_factory, name, mod, table):
    _run_doc_pair(spark, name, mod, table, tmp_path_factory.mktemp("docfuzz"))


def test_stream_update_totals_with_refunds(spark, tmp_path):
    """The round-3 advisor flagged that recovering per-user totals from
    the update-mode memory sink via max(sv) silently corrupts results
    when a negative value (refund) makes the running sum non-monotone —
    undetectable on the all-positive fixture. This fixture forces large
    refunds mid-stream and diffs against the batch oracle."""
    from dask_distributed_vanilla_spark.streaming import events_stream as es

    rows = []
    for i in range(120):
        rows.append(
            {
                "event_id": i,
                "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(i * 40, unit="s"),
                "user_id": i % 4,
                "event_type": "purchase",
                # big purchases early, large refunds late: every user's
                # final total is LOWER than an intermediate one, so a
                # max-based recovery picks the wrong update
                "value": 100.0 if i < 60 else -90.0,
                "props": '{"k": 1}',
            }
        )
    t = pd.DataFrame(rows)
    t["ts"] = t["ts"].astype("datetime64[us]")
    d = tmp_path / "refunds"
    d.mkdir()
    t.to_parquet(d / "events.parquet")
    sdf = es.stream_update_totals(spark, str(d)).toPandas()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
        odf = con.execute(es.STREAM_UPDATE_TOTALS_SQL).fetchdf()
    finally:
        con.close()
    s_schema, s_hash = canonical(sdf)
    o_schema, o_hash = canonical(odf)
    assert (len(sdf), s_schema, s_hash) == (len(odf), o_schema, o_hash), (
        f"refund totals diverge\nspark:\n{sdf}\noracle:\n{odf}"
    )


# ---------------------------------------------------------------------------
# customer-table fuzz: chain-structured names for the ER family
# ---------------------------------------------------------------------------

from dask_distributed_vanilla_spark.operators import er as er_ops  # noqa: E402

SEGMENTS = ["BUILDING", "MACHINERY", "AUTOMOBILE"]


def _chain_customers(n_chain: int, n_noise: int) -> pd.DataFrame:
    """A name CHAIN c0-c1-...: consecutive names differ by ONE trailing
    digit edit, so the d<=1 match graph is a PATH of diameter n_chain-1 —
    the worst case for min-label propagation (the real fixture's
    near-cliques converge in 2-3 rounds and never exercise loop depth).
    Noise rows are far from everything."""
    rows = []
    for i in range(n_chain):
        # prefix-growth: "ca", "cax", "caxx", ... — consecutive names
        # are one INSERTION apart (d=1 edge) while k-step names are k
        # edits apart, so the match graph is a genuine path (a clique of
        # same-length digit variants would have diameter 1 and test
        # nothing). Label propagation needs ~n_chain rounds here: the
        # old fixed 8-round budget returns unconverged ids on this
        # fixture; the fixpoint loop must not.
        rows.append(
            {
                "c_custkey": i,
                "c_name": "ca" + "x" * i,
                "c_nationkey": i % 3,
                "c_acctbal": float(100 + i),
                "c_mktsegment": SEGMENTS[i % len(SEGMENTS)],
            }
        )
    for j in range(n_noise):
        rows.append(
            {
                "c_custkey": n_chain + j,
                "c_name": f"zz-unique-{j}-{'x' * (j % 4)}",
                "c_nationkey": j % 3,
                "c_acctbal": float(j),
                "c_mktsegment": SEGMENTS[j % len(SEGMENTS)],
            }
        )
    return pd.DataFrame(rows).astype(
        {"c_custkey": "int64", "c_nationkey": "int32", "c_acctbal": "float64"}
    )


def test_er_chain_graph_matches_oracle_and_converges(spark, tmp_path):
    """Golden-record consolidation on a path-shaped match graph: the
    min-label loop must reach fixpoint (not stop at a fixed budget) and
    still agree with the recursive-CTE oracle; er_match_pairs agrees on
    the full chain pair set. er_blocking and er_blocking_audit (round-8
    addition) run on the same tape: the chain's consecutive matches
    straddle the (nation, segment) blocks by construction (i%3 rotates
    both keys), so blocking recall is genuinely low here — the audit's
    hostile case — and both engines must price it identically."""
    t = _chain_customers(n_chain=30, n_noise=20)
    d = tmp_path / "er"
    d.mkdir()
    t.to_parquet(d / "customer.parquet")
    # match-free corpus (every pairwise distance > 1): the audit's
    # ground-truth set is EMPTY — counts must report 0 (not NULL) and
    # recall NULL on both engines (the SUM-over-full-outer vs COUNT(*)
    # divergence the round-8 fuzz found on dedup_lsh_audit)
    t2 = pd.DataFrame(
        {
            "c_custkey": range(6),
            "c_name": [f"wildly-different-{'qzjvkw'[i]*3}-{i}00" for i in range(6)],
            "c_nationkey": [0, 0, 0, 1, 1, 1],
            "c_acctbal": [float(i) for i in range(6)],
            "c_mktsegment": ["BUILDING"] * 6,
        }
    )
    d2 = tmp_path / "er_nomatch"
    d2.mkdir()
    t2.to_parquet(d2 / "customer.parquet")
    for fixture_dir, shape in ((d, "chain graph"), (d2, "match-free corpus")):
        for name in (
            "er_match_pairs",
            "er_golden_record",
            "er_blocking",
            "er_blocking_audit",
        ):
            sdf = er_ops.QUERIES[name](spark, str(fixture_dir)).toPandas()
            con = duckdb.connect()
            try:
                con.execute(
                    f"CREATE VIEW customer AS SELECT * FROM '{fixture_dir}/customer.parquet'"
                )
                odf = con.execute(er_ops.ORACLES[name]).fetchdf()
            finally:
                con.close()
            s_schema, s_hash = canonical(sdf)
            o_schema, o_hash = canonical(odf)
            assert (len(sdf), s_schema, s_hash) == (len(odf), o_schema, o_hash), (
                f"{name} diverges on {shape}\nspark:\n{sdf}\noracle:\n{odf}"
            )


def test_er_label_loop_frees_replaced_rounds(spark, tmp_path):
    """er_golden_record frees each label round once the next one is
    materialized: the ~30-round chain leaves no more persistent RDDs
    behind than a chain that converges in 2 rounds."""
    jsc = spark.sparkContext._jsc
    left = []
    for n_chain in (2, 30):
        d = tmp_path / f"chain{n_chain}"
        d.mkdir()
        _chain_customers(n_chain=n_chain, n_noise=20).to_parquet(d / "customer.parquet")
        before = set(jsc.getPersistentRDDs())
        golden = er_ops.er_golden_record(spark, str(d))
        golden.collect()
        left.append(len(set(jsc.getPersistentRDDs()) - before))
    assert left[1] <= left[0], left


# ---------------------------------------------------------------------------
# lakehouse + streaming-sink fuzz: the two judged families that had no
# generated-data coverage (round-4 VERDICT item 6a). Snapshots, MERGE
# windows and refresh slices get hostile fixtures: users present on only
# one side of a window (insert/delete paths), duplicate latest
# timestamps (the row_number tiebreak must agree engine-to-engine),
# constant-value users (the 'unchanged' CDC path), refresh key slices
# that are empty / overlapping (an order deleted by RF2 AND copied by
# RF1), and pre-epoch dates driving the z-order bit mask negative.
# ---------------------------------------------------------------------------

LAKE_EVENT_OPS = ["merge_upsert", "snapshot_diff"]

# Tail-safe streaming twins only: complete mode (stream_e1),
# emit-on-arrival append (stream_dedup), update mode with max_by
# recovery (stream_update_totals). The watermark-withholding append
# queries (sliding/session/two_level) are excluded on purpose — on an
# hours-long generated tape their final windows are legitimately still
# open when the replay ends, so batch-vs-stream divergence there is
# semantics, not a bug.
STREAM_FUZZED_OPS = [
    "stream_e1",
    "stream_dedup",
    "stream_update_totals",
    # round-7 completion: every remaining oracle-backed streaming twin
    # (stream_approx_distinct is the rows-only HLL sketch)
    "stream_enrich",
    "stream_incremental_mv",
    "stream_join",
    "stream_outer_join",
    "stream_session",
    "stream_sliding",
    "stream_stateful",
    "stream_two_level",
]


@st.composite
def lake_event_tables(draw):
    """Events straddling MERGE_SPLIT (Jan 16) and the snapshot windows
    (Jan 1-11 / Jan 11-21): per-user presence patterns select the
    MERGE/CDC action paths; duplicate-timestamp rows force the
    (ts DESC, event_id DESC) tiebreak to decide the snapshot."""
    base = pd.Timestamp("2024-01-01")
    n_users = draw(st.integers(min_value=4, max_value=8))
    rows = []
    eid = 0
    for u in range(1, n_users + 1):
        presence = draw(st.sampled_from(["early", "late", "both"]))
        constant = draw(st.booleans())  # same value everywhere → 'unchanged'
        n = draw(st.integers(min_value=2, max_value=8))
        for _ in range(n):
            if presence == "early":
                day = draw(st.integers(min_value=0, max_value=10))
            elif presence == "late":
                day = draw(st.integers(min_value=16, max_value=24))
            else:
                day = draw(st.integers(min_value=0, max_value=24))
            # 86399s lands on a window's last second; 0 on its first
            sec = draw(st.sampled_from([0.0, 1.5, 3600.0, 86399.0]))
            ts = base + pd.to_timedelta(day, unit="D") + pd.to_timedelta(sec, unit="s")
            value = (
                7.07
                if constant
                else round(
                    draw(
                        st.floats(
                            min_value=-500.0,
                            max_value=500.0,
                            allow_nan=False,
                            allow_infinity=False,
                        )
                    ),
                    2,
                )
            )
            rows.append(
                {
                    "event_id": eid,
                    "ts": ts,
                    "user_id": u,
                    "event_type": "purchase",
                    "value": value,
                    "props": '{"k": 1}',
                }
            )
            eid += 1
            if draw(st.booleans()):
                # duplicate-timestamp sibling with a DIFFERENT value:
                # only the event_id tiebreak separates them
                rows.append({**rows[-1], "event_id": eid, "value": round(value + 0.11, 2)})
                eid += 1
    df = pd.DataFrame(rows)
    df["ts"] = df["ts"].astype("datetime64[us]")
    return df


@pytest.mark.parametrize("name", LAKE_EVENT_OPS)
@given(table=lake_event_tables())
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_lakehouse_generated_fixture_matches_oracle(
    spark, tmp_path_factory, name, table
):
    _run_pair(spark, name, table, tmp_path_factory.mktemp("lakefuzz"))


# Append-mode twins with a DECLARED watermark-horizon contract
# (docstrings at streaming/events_stream.py stream_outer_join /
# stream_two_level): their rollups compare only rows before the fixed
# OUTER_JOIN_CUTOFF, and batch-equivalence requires the stream's
# watermark to have passed that cutoff — true of the month-long
# official fixture, false of a seconds-long generated one, where the
# stream legitimately emits nothing while the batch oracle counts
# everything. The fuzz honors the contract by appending one far-future
# sentinel event (Feb 1 > cutoff Jan 25 + watermark + window margins)
# that drives every in-scope window closed; the sentinel itself sits
# beyond the cutoff filter on BOTH engines.
STREAM_HORIZON_OPS = {"stream_outer_join", "stream_two_level"}


@pytest.mark.parametrize("name", STREAM_FUZZED_OPS)
@given(table=event_tables())
@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_streaming_sink_generated_fixture_matches_oracle(
    spark, tmp_path_factory, name, table
):
    if name in STREAM_HORIZON_OPS:
        # one sentinel PER event type the op's streams filter on: the
        # outer join watermarks its click and purchase legs AFTER the
        # type filter, so a sentinel of any other type never reaches
        # the watermark node and the horizon stays open
        base_id = int(table["event_id"].max()) + 1
        sentinel = pd.DataFrame(
            [
                {
                    "event_id": base_id + i,
                    "ts": pd.Timestamp("2024-02-01"),
                    "user_id": 1,
                    "event_type": et,
                    "value": 0.0,
                    "props": '{"k": 1}',
                }
                for i, et in enumerate(["view", "click", "purchase"])
            ]
        )
        table = pd.concat([table, sentinel], ignore_index=True)
        table["ts"] = table["ts"].astype("datetime64[us]")
    if name == "stream_enrich":
        # stream-static join: the dimension side, incl. users WITHOUT a
        # customer row (5-6 generated users vs 5 customers — the inner
        # join must drop their events on both engines)
        cust = pd.DataFrame(
            {
                "c_custkey": range(5),
                "c_name": [f"Customer#{i:09d}" for i in range(5)],
                "c_nationkey": [0, 1, 2, 0, 1],
                "c_acctbal": [0.0, -1.5, 100.005, 9.99, 3.14],
                "c_mktsegment": [
                    "BUILDING", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD",
                ],
            }
        ).astype({"c_nationkey": "int32"})
        _run_multi_table_pair(
            spark,
            name,
            {"events": table, "customer": cust},
            tmp_path_factory.mktemp("streamfuzz"),
        )
    else:
        _run_pair(spark, name, table, tmp_path_factory.mktemp("streamfuzz"))


@st.composite
def orders_lineitem_tables(draw):
    """Hostile orders/lineitem for the refresh + layout operators:
    orderkey 0 is in BOTH refresh slices (%97 delete and %89 insert-copy
    — the cascade and the key shift must compose); slices may otherwise
    be empty; lineitems include orphans (no parent order) and lines
    under deleted orders; o_orderdate includes pre-1992 dates so the
    z-order day offset goes negative through the bit mask."""
    keys = {0}
    for _ in range(draw(st.integers(min_value=5, max_value=20))):
        kind = draw(st.sampled_from(["del", "ins", "both", "plain"]))
        m = draw(st.integers(min_value=1, max_value=40))
        if kind == "del":
            keys.add(97 * m)
        elif kind == "ins":
            keys.add(89 * m)
        elif kind == "both":
            keys.add(97 * 89 * m)
        else:
            keys.add(draw(st.integers(min_value=1, max_value=5000)))
    orows = []
    for k in sorted(keys):
        date = pd.Timestamp("1992-01-01") + pd.to_timedelta(
            draw(st.integers(min_value=-800, max_value=2500)), unit="D"
        )
        orows.append(
            {
                "o_orderkey": k,
                "o_custkey": draw(st.integers(min_value=0, max_value=200_000)),
                "o_orderstatus": draw(st.sampled_from(["O", "F", "P"])),
                "o_totalprice": round(
                    draw(
                        st.floats(
                            min_value=1.0,
                            max_value=400_000.0,
                            allow_nan=False,
                            allow_infinity=False,
                        )
                    ),
                    2,
                ),
                "o_orderdate": date,
                "o_orderpriority": "1-URGENT",
            }
        )
    lrows = []
    ln = 0
    for k in sorted(keys):
        for i in range(draw(st.integers(min_value=0, max_value=3))):
            lrows.append({"l_orderkey": k, "l_linenumber": i + 1})
            ln += 1
    for _ in range(draw(st.integers(min_value=0, max_value=4))):
        # orphan line: parent key exists in no order (ingest races do this)
        lrows.append(
            {"l_orderkey": draw(st.integers(min_value=900_000, max_value=999_999)),
             "l_linenumber": 1}
        )
    odf = pd.DataFrame(orows)
    odf["o_orderdate"] = odf["o_orderdate"].astype("datetime64[us]")
    ldf = pd.DataFrame(lrows) if lrows else pd.DataFrame(
        {"l_orderkey": pd.Series([], dtype="int64"),
         "l_linenumber": pd.Series([], dtype="int32")}
    )
    ldf["l_orderkey"] = ldf["l_orderkey"].astype("int64")
    ldf["l_linenumber"] = ldf["l_linenumber"].astype("int32")
    return odf, ldf


def _run_multi_table_pair(spark, name: str, tables: dict, tmp_root: Path):
    d = tmp_root / f"lkfuzz_{uuid.uuid4().hex[:8]}"
    d.mkdir()
    for tname, tdf in tables.items():
        tdf.to_parquet(d / f"{tname}.parquet")
    sdf = REG_QUERIES[name](spark, str(d)).toPandas()
    con = duckdb.connect()
    try:
        for tname in tables:
            con.execute(
                f"CREATE VIEW {tname} AS SELECT * FROM '{d}/{tname}.parquet'"
            )
        odf = con.execute(REG_ORACLES[name]).fetchdf()
    finally:
        con.close()
    s_schema, s_hash = canonical(sdf)
    o_schema, o_hash = canonical(odf)
    assert len(sdf) == len(odf), f"{name}: rows {len(sdf)} != {len(odf)}"
    assert s_schema == o_schema, f"{name}: schema {s_schema} != {o_schema}"
    assert s_hash == o_hash, (
        f"{name}: value divergence on generated fixture\n"
        f"spark:\n{sdf.to_string()}\noracle:\n{odf.to_string()}"
    )


@pytest.mark.parametrize("name", ["tpch_refresh", "zorder_layout"])
@given(tabs=orders_lineitem_tables())
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_refresh_layout_generated_fixture_matches_oracle(
    spark, tmp_path_factory, name, tabs
):
    orders, lineitem = tabs
    _run_multi_table_pair(
        spark,
        name,
        {"orders": orders, "lineitem": lineitem},
        tmp_path_factory.mktemp("refreshfuzz"),
    )


# ---------------------------------------------------------------------------
# graph fuzz: hostile co-occurrence topologies for the triangle census,
# degree histogram and PageRank. The shapes a 100 TB social graph makes
# certain: a clique whose equal degrees force the orientation onto its
# id tie-break, a star hub (wedges but zero triangles), a mega-cell one
# over CELL_CAP that both engines must DROP, duplicate memberships the
# DISTINCT must fold, a wedge-free graph (gcc = NULL, not a crash), and
# a graph with no edges at all (empty results / NULL aggregate parity).
# ---------------------------------------------------------------------------

GRAPH_OPS = ["graph_triangles", "graph_degree_hist", "graph_pagerank"]


def _graph_events(shape: str) -> pd.DataFrame:
    from dask_distributed_vanilla_spark.operators.graph import CELL_CAP

    t0 = pd.Timestamp("2024-03-01 10:00:00")
    rows = []

    def cell(users, minute, etype="click", repeat=1):
        for _ in range(repeat):  # duplicate memberships: DISTINCT must fold
            for u in users:
                rows.append(
                    {
                        "ts": t0 + pd.to_timedelta(minute, unit="min"),
                        "user_id": int(u),
                        "event_type": etype,
                    }
                )

    if shape == "mixed":
        cell(range(1, 9), 0, repeat=2)  # 8-clique, equal degrees -> id tie-break
        for i, leaf in enumerate(range(101, 111)):
            cell([100, leaf], 1 + i)  # star: 10 wedge pairs, 0 triangles
        cell([200, 201], 30)  # isolated edge
        cell([300], 31)  # singleton cell: not a node
        cell(range(1000, 1000 + CELL_CAP + 1), 32, etype="view")  # dropped
        cell([1, 2], 33, etype="view")  # same users, other type: own edge
    elif shape == "wedge_free":
        cell([1, 2], 0)
        cell([3, 4], 1, etype="view")  # two disjoint edges: 0 wedges, gcc NULL
    elif shape == "edgeless":
        for u in range(1, 6):
            cell([u], u)  # singleton cells only: empty edge set
    else:  # pragma: no cover - guard against typoed parametrize ids
        raise ValueError(shape)

    df = pd.DataFrame(rows)
    df["event_id"] = range(len(df))
    df["value"] = 1.0
    df["props"] = '{"k": 1}'
    df["ts"] = df["ts"].astype("datetime64[us]")
    df = df.astype({"user_id": "int64", "event_id": "int64"})
    return df[["event_id", "ts", "user_id", "event_type", "value", "props"]]


@pytest.mark.parametrize("name", GRAPH_OPS)
@pytest.mark.parametrize("shape", ["mixed", "wedge_free", "edgeless"])
def test_graph_hostile_topologies_match_oracle(
    spark, tmp_path_factory, name, shape
):
    _run_pair(
        spark, name, _graph_events(shape), tmp_path_factory.mktemp("graphfuzz")
    )


def test_graph_triangle_census_known_counts(spark, tmp_path):
    """The mixed topology has a closed-form census: the 8-clique is the
    only triangle source (C(8,3) = 56); the star contributes C(10,2) =
    45 wedges and none; the mega-cell must contribute NOTHING."""
    d = tmp_path / "census"
    d.mkdir()
    _graph_events("mixed").to_parquet(d / "events.parquet")
    row = REG_QUERIES["graph_triangles"](spark, str(d)).collect()[0]
    assert row.n_triangles == 56
    assert row.n_nodes == 8 + 11 + 2  # clique + star + isolated pair
    # the view-type (1,2) cell duplicates a clique edge: DISTINCT folds
    # it, and the dropped mega-cell contributes nothing
    assert row.n_edges == 28 + 10 + 1  # clique + star + isolated pair
    # wedges: clique 8*C(7,2)=168, star hub C(10,2)=45; leaves/pair deg 1
    assert row.n_wedges == 168 + 45


# ---------------------------------------------------------------------------
# data-quality governance fuzz: dq_profile (column profile of orders)
# and dq_kanon (k-anonymity audit of customer) on the degenerate inputs
# a governance gate sees daily at 100 TB: all-NULL columns, NULL
# quasi-identifier keys (NULL is a GROUP on both engines), k=1
# everywhere, one giant equivalence class, and empty tables (NULL
# aggregate parity). dq_drift/benford/ks are fuzzed above via the
# hypothesis event tables; these two were the family's uncovered half.
# ---------------------------------------------------------------------------


def _orders_fixture(shape: str) -> pd.DataFrame:
    if shape == "empty":
        return pd.DataFrame(
            {
                "o_orderkey": pd.Series([], dtype="int64"),
                "o_custkey": pd.Series([], dtype="Int64"),
                "o_orderstatus": pd.Series([], dtype="object"),
                "o_totalprice": pd.Series([], dtype="float64"),
                "o_orderdate": pd.Series([], dtype="datetime64[us]"),
            }
        )
    rows = []
    for k in range(40):
        rows.append(
            {
                "o_orderkey": k,
                # every third custkey NULL; duplicates across the rest
                "o_custkey": None if k % 3 == 0 else k % 4,
                # an ALL-NULL column exercises min/max/distinct over
                # nothing (NULL, NULL, 0 — not a crash, not -inf)
                "o_orderstatus": None,
                # negative totals (refund ledgers) and the .xx5 grid
                "o_totalprice": round(-250.005 + 12.5 * k, 2),
                "o_orderdate": (
                    pd.NaT
                    if k % 7 == 0
                    else pd.Timestamp("1995-06-01")
                    + pd.to_timedelta(k % 5, unit="D")
                ),
            }
        )
    df = pd.DataFrame(rows)
    df["o_custkey"] = df["o_custkey"].astype("Int64")
    df["o_orderdate"] = df["o_orderdate"].astype("datetime64[us]")
    return df


def _customer_fixture(shape: str) -> pd.DataFrame:
    rows = []
    if shape == "unique_qi":  # k = 1 everywhere: worst re-identification
        for i in range(12):
            rows.append({"c_custkey": i, "c_nationkey": i, "c_mktsegment": f"SEG{i}"})
    elif shape == "one_class":  # a single giant equivalence class
        for i in range(50):
            rows.append({"c_custkey": i, "c_nationkey": 7, "c_mktsegment": "AUTOMOBILE"})
    else:  # null_qi: NULL nation/segment keys form their own classes
        for i in range(30):
            rows.append(
                {
                    "c_custkey": i,
                    "c_nationkey": None if i % 5 == 0 else i % 3,
                    "c_mktsegment": None if i % 4 == 0 else "BUILDING",
                }
            )
    df = pd.DataFrame(rows)
    df["c_nationkey"] = df["c_nationkey"].astype("Int32")
    df["c_name"] = "Customer#" + df["c_custkey"].astype(str)
    df["c_acctbal"] = 100.0
    return df


@pytest.mark.parametrize("shape", ["hostile", "empty"])
def test_dq_profile_degenerate_orders_match_oracle(spark, tmp_path_factory, shape):
    _run_multi_table_pair(
        spark,
        "dq_profile",
        {"orders": _orders_fixture(shape)},
        tmp_path_factory.mktemp("dqfuzz"),
    )


@pytest.mark.parametrize("shape", ["unique_qi", "one_class", "null_qi"])
def test_dq_kanon_degenerate_customers_match_oracle(spark, tmp_path_factory, shape):
    _run_multi_table_pair(
        spark,
        "dq_kanon",
        {"customer": _customer_fixture(shape)},
        tmp_path_factory.mktemp("dqfuzz"),
    )


def _audit_tables(shape: str) -> dict:
    customer = pd.DataFrame({"c_custkey": pd.Series([1, 2, 3], dtype="int64")})
    if shape == "empty_lineitem":
        orders = pd.DataFrame(
            {
                "o_orderkey": pd.Series([1], dtype="int64"),
                "o_custkey": pd.Series([1], dtype="Int64"),
                "o_totalprice": pd.Series([10.0], dtype="float64"),
            }
        )
        lineitem = pd.DataFrame(
            {
                "l_orderkey": pd.Series([], dtype="int64"),
                "l_quantity": pd.Series([], dtype="float64"),
                "l_discount": pd.Series([], dtype="float64"),
                "l_shipdate": pd.Series([], dtype="datetime64[us]"),
            }
        )
        return {"orders": orders, "lineitem": lineitem, "customer": customer}
    # hostile: duplicate PKs, NULL custkey (the anti-join's NULL-never-
    # matches path on Spark must agree with NOT EXISTS' NULL semantics
    # on DuckDB), an orphan custkey, zero/negative prices, orphan
    # lineitems, qty/discount exactly ON and just past the contract
    # boundaries, NaT shipdates
    orders = pd.DataFrame(
        {
            "o_orderkey": pd.Series([1, 1, 2, 3, 4], dtype="int64"),
            "o_custkey": pd.Series([1, 1, None, 99, 2], dtype="Int64"),
            "o_totalprice": pd.Series([10.0, 0.0, -5.5, 20.0, 30.0], dtype="float64"),
        }
    )
    lineitem = pd.DataFrame(
        {
            "l_orderkey": pd.Series([1, 2, 777, 3, 4, 4], dtype="int64"),
            "l_quantity": pd.Series([1.0, 50.0, 0.0, 51.0, 25.0, 0.5], dtype="float64"),
            "l_discount": pd.Series([0.0, 0.1, 0.11, -0.01, 0.05, 0.1], dtype="float64"),
            "l_shipdate": pd.Series(
                [pd.Timestamp("1995-01-01")] * 4 + [pd.NaT, pd.NaT],
                dtype="datetime64[us]",
            ),
        }
    )
    return {"orders": orders, "lineitem": lineitem, "customer": customer}


@pytest.mark.parametrize("shape", ["hostile", "empty_lineitem"])
def test_dq_audit_contract_violations_match_oracle(spark, tmp_path_factory, shape):
    _run_multi_table_pair(
        spark, "dq_audit", _audit_tables(shape), tmp_path_factory.mktemp("dqfuzz")
    )


def test_dq_audit_hostile_counts_are_exact(spark, tmp_path):
    """The hostile fixture has closed-form violation counts — pin them
    so the audit counts violations, not rows-that-happen-to-join."""
    d = tmp_path / "audit"
    d.mkdir()
    for tname, tdf in _audit_tables("hostile").items():
        tdf.to_parquet(d / f"{tname}.parquet")
    got = {
        r.check_name: r.n_violations
        for r in REG_QUERIES["dq_audit"](spark, str(d)).collect()
    }
    assert got == {
        "orders_dup_pk": 1,  # key 1 twice
        "lineitem_orphan_fk": 1,  # l_orderkey 777
        "orders_orphan_custkey": 2,  # custkey 99 and the NULL custkey
        "orders_nonpositive_price": 2,  # 0.0 and -5.5
        "orders_null_custkey": 1,
        "lineitem_qty_out_of_range": 3,  # 0.0, 51.0, 0.5 (1 and 50 pass)
        "lineitem_discount_out_of_range": 2,  # 0.11, -0.01 (0.1 passes)
        "lineitem_null_shipdate": 2,
    }


# ---------------------------------------------------------------------------
# temporal-join fuzz: the as-of join and the banded proximity join on
# tie-heavy fixtures. Equal timestamps are the classic cross-engine
# divergence surface for ASOF semantics (which side wins the instant?),
# and the banded join's bucket edges (ts exactly on a window multiple,
# deltas exactly AT the window bound) are where the explode ±1 trick
# must be airtight.
# ---------------------------------------------------------------------------


def _temporal_events() -> pd.DataFrame:
    t0 = pd.Timestamp("2024-05-01 00:00:00")
    rows = []

    def add(eid, sec, etype, uid, value=10.0):
        rows.append(
            {
                "event_id": eid,
                "ts": t0 + pd.to_timedelta(sec, unit="s"),
                "user_id": uid,
                "event_type": etype,
                "value": value,
                "props": "{}",
            }
        )

    # user 1: purchase and click at the SAME instant (the tie), then two
    # purchases sharing one later instant (event_id tiebreak), then a
    # click after both
    add(1, 100.0, "purchase", 1, 50.0)
    add(2, 100.0, "click", 1)
    add(3, 200.0, "purchase", 1, 60.0)
    add(4, 200.0, "purchase", 1, 70.0)
    add(5, 300.0, "click", 1)
    # user 2: click BEFORE any purchase (NULL as-of), purchase after
    add(6, 10.0, "click", 2)
    add(7, 20.0, "purchase", 2, 5.005)  # .xx5 display-rounding grid
    add(8, 30.0, "click", 2)
    # user 3: purchases only (drops out of the click-side result)
    add(9, 40.0, "purchase", 3, 1.0)
    # proximity traps on type "view": a pair exactly AT the 60 s bound,
    # a pair 1 µs past it, duplicate instants (delta 0), and a pair
    # straddling a bucket boundary (59.999999 apart across a multiple
    # of 60)
    add(20, 0.0, "view", 9)
    add(21, 60.0, "view", 9)          # exactly 60 s from 20: INCLUDED
    add(22, 120.000001, "view", 9)    # 60.000001 from 21: EXCLUDED
    add(23, 120.000001, "view", 9)    # delta 0 duplicate instant
    add(24, 179.999999, "view", 9)    # 59.999998 from 22/23, crosses 180
    df = pd.DataFrame(rows)
    df["ts"] = df["ts"].astype("datetime64[us]")
    return df.astype({"event_id": "int64", "user_id": "int64"})


@pytest.mark.parametrize("name", ["e9_asof", "e12_proximity", "e31_interval_join"])
def test_temporal_join_ties_match_oracle(spark, tmp_path_factory, name):
    _run_pair(spark, name, _temporal_events(), tmp_path_factory.mktemp("tempfuzz"))


def test_proximity_window_bound_is_inclusive(spark, tmp_path):
    """Pin the boundary semantics: delta == 60s is a pair, 60.000001s is
    not, and duplicate instants pair at delta 0."""
    d = tmp_path / "prox"
    d.mkdir()
    _temporal_events().to_parquet(d / "events.parquet")
    out = REG_QUERIES["e12_proximity"](spark, str(d)).toPandas()
    view_pairs = {
        (r.event_a, r.event_b): r.delta_ms
        for r in out[out.event_type == "view"].itertuples()
    }
    assert view_pairs[(20, 21)] == 60_000  # exactly at the bound
    assert (21, 22) not in view_pairs      # 1 µs past the bound
    assert view_pairs[(22, 23)] == 0       # duplicate instant
    assert view_pairs[(22, 24)] == 59_999  # µs floor to ms, crosses bucket


# ---------------------------------------------------------------------------
# multimodal fuzz: the payload is encode(text,'UTF-8'), so multibyte
# text is where byte semantics and character semantics split. This
# corpus found (and now pins the fix for) a real divergence: the
# audio-RMS oracle originally indexed CHARACTERS via ascii(substr(..)),
# valid only on ASCII; it is now byte-true via hex(encode(text)). The
# long CJK/emoji docs push past AUDIO_WIN so the windowed-RMS path runs
# on genuine multibyte payloads, not just the n_windows=0 shortcut.
# ---------------------------------------------------------------------------

MULTIMODAL_OPS = [
    "multimodal_decode",
    "multimodal_frames",
    "multimodal_digest",
    "multimodal_resize",
    "multimodal_audio_rms",
]


def _multibyte_documents() -> pd.DataFrame:
    texts = [
        "hello world plain ascii",
        "naïve café résumé",  # 2-byte accents
        "日本語のテキストです",  # 3-byte CJK
        "emoji 🎉🎊 party 🚀",  # 4-byte emoji
        "",  # empty payload: zero samples, zero windows
        "中文字符" * 80,  # 960 bytes of 3-byte chars: 3 full RMS windows
        "🚀" * 70,  # 280 bytes of 4-byte emoji: window cut mid-codepoint
        "a" * 255,  # one byte short of a window
        "b" * 256,  # exactly one window
    ]
    df = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "en",
            "source": "src0",
            "n_chars": [len(t) for t in texts],
        }
    )
    return df


@pytest.mark.parametrize("name", MULTIMODAL_OPS)
def test_multimodal_multibyte_payloads_match_oracle(spark, tmp_path_factory, name):
    from dask_distributed_vanilla_spark.operators import multimodal as mm

    _run_doc_pair(
        spark, name, mm, _multibyte_documents(), tmp_path_factory.mktemp("mmfuzz")
    )


def test_audio_rms_windows_cover_multibyte_payloads(spark, tmp_path):
    """Pin byte (not character) semantics: 80 three-byte CJK chars are
    240 chars but 960 bytes — 3 windows, and 70 four-byte emoji are 280
    bytes — 1 window cut mid-codepoint."""
    d = tmp_path / "mb"
    d.mkdir()
    _multibyte_documents().to_parquet(d / "documents.parquet")
    out = {
        r.doc_id: (r.n_samples, r.n_windows)
        for r in REG_QUERIES["multimodal_audio_rms"](spark, str(d)).collect()
    }
    assert out[5] == (960, 3)
    assert out[6] == (280, 1)
    assert out[7] == (255, 0)
    assert out[8] == (256, 1)
    assert out[4] == (0, 0)


def test_e11_json_hostile_props_match_oracle(spark, tmp_path_factory):
    """Fuzz-found ANSI crash class, pinned: a float-typed, boolean,
    nested, non-JSON, empty or NULL props value must yield NULL (one
    bad producer cannot kill the job), and DuckDB's float-rounding
    TRY_CAST must not diverge from Spark's NULL on '3.9' — both engines
    gate on integer shape before casting."""
    props = [
        '{"k": 1}', '{"k": 2, "extra": [1,2,3]}', '{"k": "7"}',
        '{"k": null}', '{"j": 5}', '{}', '', 'not json at all',
        '{"k": 3.9}', '{"k": {"nested": 1}}', '{"k": true}',
        '{"k": "日本"}', None, '[1,2,3]', '{"k": -4}',
        '{"k": 99999999999999999999}',  # integer shape, overflows INT
    ]
    rows = [
        {
            "event_id": i,
            "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(i, unit="s"),
            "user_id": i % 3,
            "event_type": ["click", "view"][i % 2],
            "value": 1.0,
            "props": p,
        }
        for i, p in enumerate(props)
    ]
    df = pd.DataFrame(rows)
    df["ts"] = df["ts"].astype("datetime64[us]")
    _run_pair(spark, "e11_json", df, tmp_path_factory.mktemp("jsonfuzz"))


# ---------------------------------------------------------------------------
# orders-analytics fuzz: the Pareto concentration query (whose 80%
# threshold boundary was a round-4 ADVICE finding) and RFM quantile
# segmentation, pinned on the tie shapes that break rank/cumulative
# arithmetic: all-equal totals (every quantile boundary a tie), a
# cumulative share landing EXACTLY on 0.80 at a customer boundary, and
# a single-customer table (all quantiles collapse to one row).
# ---------------------------------------------------------------------------


def _pareto_orders(shape: str) -> pd.DataFrame:
    rows = []
    if shape == "ties":
        for k in range(20):
            rows.append(
                {
                    "o_orderkey": k,
                    "o_custkey": k % 10,
                    "o_totalprice": 100.0,
                    "o_orderdate": pd.Timestamp("1995-06-01"),
                    "o_orderstatus": "F",
                }
            )
    elif shape == "pareto_edge":
        totals = [40.0, 40.0, 10.0, 5.0, 5.0]  # cum shares: .4 .8 .9 .95 1.0
        for i, t in enumerate(totals):
            rows.append(
                {
                    "o_orderkey": i,
                    "o_custkey": i,
                    "o_totalprice": t,
                    "o_orderdate": pd.Timestamp("1995-06-01") + pd.Timedelta(days=i),
                    "o_orderstatus": "O",
                }
            )
    else:  # single customer
        rows.append(
            {
                "o_orderkey": 0,
                "o_custkey": 0,
                "o_totalprice": 1.0,
                "o_orderdate": pd.Timestamp("1995-06-01"),
                "o_orderstatus": "O",
            }
        )
    df = pd.DataFrame(rows)
    df["o_orderdate"] = df["o_orderdate"].astype("datetime64[us]")
    return df


@pytest.mark.parametrize("name", ["orders_pareto", "rfm_segments"])
@pytest.mark.parametrize("shape", ["ties", "pareto_edge", "single"])
def test_orders_analytics_tie_shapes_match_oracle(
    spark, tmp_path_factory, name, shape
):
    _run_multi_table_pair(
        spark,
        name,
        {"orders": _pareto_orders(shape)},
        tmp_path_factory.mktemp("ordfuzz"),
    )


def test_setops_single_type_corpus_second_stream_is_empty(spark, tmp_path_factory):
    """Fuzz-found oracle bug, pinned: with ONE distinct event type the
    second population must be EMPTY (n_both 0, n_only_first = |u1|) —
    a MIN/MAX second-type formulation silently aliased u2 to u1."""
    rows = [
        {
            "event_id": i,
            "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(i, unit="s"),
            "user_id": i % 3,
            "event_type": "click",
            "value": 1.0,
            "props": '{"k": 1}',
        }
        for i in range(12)
    ]
    df = pd.DataFrame(rows)
    df["ts"] = df["ts"].astype("datetime64[us]")
    d = tmp_path_factory.mktemp("setopfuzz")
    _run_pair(spark, "e7_setops", df, d)
    dd = d / "pin"
    dd.mkdir()
    df.to_parquet(dd / "events.parquet")
    row = REG_QUERIES["e7_setops"](spark, str(dd)).collect()[0]
    assert (row.n_both, row.n_only_first, row.n_union) == (0, 3, 3)


@st.composite
def continuous_event_tables(draw):
    """Event tables with a HIGH-CARDINALITY CONTINUOUS value column —
    the domain the e41/dq_ks cell-collapse contract declares out of its
    |cells| ≪ |rows| fast path (their docstrings). No 2-decimal
    rounding: values keep full double precision so essentially every
    row is its own (type, value) cell, and ts spans both sides of the
    dq_ks epoch split."""
    n = draw(st.integers(min_value=40, max_value=120))
    seed = draw(st.integers(min_value=0, max_value=2**31 - 1))
    rng = np.random.RandomState(seed)
    rows = [
        {
            "event_id": i,
            # spread across Jan 1-31 so the KS split (Jan 16) usually
            # has both halves populated; hypothesis still finds seeds
            # where a type is one-sided, exercising the NULLIF guard
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(float(rng.uniform(0, 30 * 86400)), unit="s"),
            "user_id": int(rng.randint(1, 7)),
            "event_type": str(rng.choice(TYPES)),
            "value": float(rng.standard_normal() * 137.042),
            "props": '{"k": 1}',
        }
        for i in range(n)
    ]
    df = pd.DataFrame(rows)
    df["ts"] = df["ts"].astype("datetime64[us]")
    return df


@pytest.mark.parametrize("name", ["e41_mannwhitney", "dq_ks"])
@given(table=continuous_event_tables())
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_mannwhitney_continuous_domain(spark, tmp_path_factory, name, table):
    """The cell-collapse contract (events.py e41 / quality.py dq_ks
    docstrings): on an unbounded continuous value domain the collapse
    is a COST degradation (|cells| → |rows|), never a correctness one —
    tie-averaged ranks and cell-boundary CDFs are exact whatever the
    cell count. Asserted by running both operators against their
    registered oracles on full-precision values where ~every row is a
    distinct cell."""
    # prove the fixture is in the declared-hostile domain: ~all-distinct
    assert table["value"].nunique() > 0.9 * len(table)
    _run_pair(spark, name, table, tmp_path_factory.mktemp("contfuzz"))


# Oracle-backed similarity/embedding ops under generated hostile
# corpora. The 100 TB certainties this pins: zero vectors (failed
# encoder), EXACT-duplicate vectors (re-ingested shard — creates exact
# similarity TIES, the top-k tie-break divergence class), constant
# vectors, and near-duplicates at float32 epsilon (the semdedup/near-dup
# threshold boundary).
SIMILARITY_FUZZED_OPS = [
    "ann_cosine_topk",
    "ann_lsh_topk",
    # ann_hybrid_rrf joins embeddings with the documents table (lexical
    # leg) — out of scope for this single-table fixture
    "embedding_near_dup",
    "semdedup",
    "emb_centroids",
    "emb_drift",
    "emb_outliers",
    "emb_quantize",
]


@st.composite
def embedding_tables(draw):
    n = draw(st.integers(min_value=12, max_value=30))
    seed = draw(st.integers(min_value=0, max_value=2**31 - 1))
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n):
        shape = draw(
            st.sampled_from(["random", "random", "random", "zero", "dup0", "constant", "neardup0"])
        )
        if shape == "zero":
            vec = np.zeros(8, dtype=np.float32)
        elif shape == "constant":
            vec = np.full(8, 0.5, dtype=np.float32)
        elif shape == "dup0" and rows:
            vec = rows[0]["embedding"].copy()
        elif shape == "neardup0" and rows:
            vec = rows[0]["embedding"].copy()
            vec[0] += np.float32(1e-6)
        else:
            vec = rng.uniform(-1, 1, 8).astype(np.float32)
        rows.append(
            {"vec_id": i, "embedding": vec, "label": int(rng.randint(0, 3))}
        )
    return pd.DataFrame(rows)


def _run_emb_pair(spark, name: str, table: pd.DataFrame, tmp_root: Path):
    d = tmp_root / f"embfuzz_{uuid.uuid4().hex[:8]}"
    d.mkdir()
    table.to_parquet(d / "embeddings.parquet")
    sdf = REG_QUERIES[name](spark, str(d)).toPandas()
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet'"
        )
        odf = con.execute(REG_ORACLES[name]).fetchdf()
    finally:
        con.close()
    s_schema, s_hash = canonical(sdf)
    o_schema, o_hash = canonical(odf)
    assert len(sdf) == len(odf), f"{name}: rows {len(sdf)} != {len(odf)}"
    assert s_schema == o_schema, f"{name}: schema {s_schema} != {o_schema}"
    assert s_hash == o_hash, (
        f"{name}: value divergence on generated embeddings\n"
        f"spark:\n{sdf.to_string()}\noracle:\n{odf.to_string()}"
    )


@pytest.mark.parametrize("name", SIMILARITY_FUZZED_OPS)
@given(table=embedding_tables())
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_generated_embeddings_match_oracle(spark, tmp_path_factory, name, table):
    _run_emb_pair(spark, name, table, tmp_path_factory.mktemp("embfuzz"))


@given(emb=embedding_tables(), data=st.data())
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_hybrid_rrf_generated_two_table_fixture(spark, tmp_path_factory, emb, data):
    """ann_hybrid_rrf is the one similarity op outside the single-table
    embeddings fuzz (its lexical leg reads documents): fuse hostile
    embeddings (zero/dup/constant vectors) with hostile texts (empty,
    single-char, multibyte, pure repetition) over ALIGNED ids — the
    two-modality candidate pools then disagree maximally, exercising
    the full-outer fusion and its integer-rank 1/(k+r) arithmetic."""
    docs = pd.DataFrame(
        {
            "doc_id": emb["vec_id"],
            "text": [
                data.draw(
                    st.sampled_from(
                        HOSTILE_TEXTS
                        + [" ".join(data.draw(st.sampled_from(WORD_POOL)) for _ in range(7))]
                    )
                )
                for _ in range(len(emb))
            ],
            "lang": [data.draw(st.sampled_from(LANGS)) for _ in range(len(emb))],
            "source": ["src0"] * len(emb),
        }
    )
    docs["n_chars"] = docs["text"].str.len()
    d = tmp_path_factory.mktemp("rrffuzz") / f"rrf_{uuid.uuid4().hex[:8]}"
    d.mkdir()
    emb.to_parquet(d / "embeddings.parquet")
    docs.to_parquet(d / "documents.parquet")
    sdf = REG_QUERIES["ann_hybrid_rrf"](spark, str(d)).toPandas()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet'")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
        odf = con.execute(REG_ORACLES["ann_hybrid_rrf"]).fetchdf()
    finally:
        con.close()
    s_schema, s_hash = canonical(sdf)
    o_schema, o_hash = canonical(odf)
    assert (len(sdf), s_schema, s_hash) == (len(odf), o_schema, o_hash), (
        f"ann_hybrid_rrf divergence\nspark:\n{sdf.to_string()}\noracle:\n{odf.to_string()}"
    )


# ---- TPC-H tier A+B on generated hostile star-schema fixtures ----
#
# The tier queries passed three scales of the driver's TPC-H-ish
# fixtures, but those fixtures are benign: every date window populated,
# no empty groups after filters, referential integrity perfect. At
# warehouse scale none of that holds. The generator below builds a
# consistent mini star schema whose hostility is the SHAPE: date pools
# sitting exactly ON the queries' window boundaries (and sometimes
# entirely outside them -> empty aggregates), discounts at the a6 band
# edges, quantities at the q17/q18-style thresholds, orphan order rows
# (customer deleted after the order landed), regions with no nations,
# nations with no customers, and acctbal/extendedprice on the .xx5
# display-rounding grid.

TPCH_SEGMENTS = ["BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE"]
TPCH_BRANDS = ["Brand#12", "Brand#15", "Brand#23", "Brand#25", "Brand#34"]
TPCH_PTYPES = ["PROMO", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE"]
TPCH_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TPCH_NATION_POOL = [f"NATION_{i}" for i in (1, 2, 3, 4, 5, 8, 13, 16)]
TPCH_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TPCH_DATE_POOL = [
    "1994-12-31", "1995-01-01", "1995-03-14", "1995-03-15", "1995-03-16",
    "1995-09-30", "1995-10-01", "1995-12-31", "1996-01-01", "1996-04-01",
    "1996-06-30", "1996-12-31", "1997-01-01", "1997-12-31", "1999-06-06",
]
TPCH_QTY_POOL = [1.0, 10.0, 24.0, 25.0, 30.0, 49.0, 50.0]
TPCH_DISC_POOL = [0.0, 0.04, 0.05, 0.06, 0.07, 0.08, 0.1]
TPCH_MONEY_POOL = [0.01, 1.0, 99.995, 1234.56, 4999.005, 50000.0]
TPCH_BAL_POOL = [-999.99, -0.005, 0.0, 500.005, 9999.99]


@st.composite
def tpch_tables(draw):
    n_nat = draw(st.integers(min_value=3, max_value=6))
    nat_names = draw(
        st.permutations(TPCH_NATION_POOL).map(lambda p: list(p[:n_nat]))
    )
    region = pd.DataFrame(
        {"r_regionkey": range(5), "r_name": TPCH_REGIONS}
    ).astype({"r_regionkey": "int32"})
    nation = pd.DataFrame(
        {
            "n_nationkey": range(n_nat),
            "n_name": nat_names,
            "n_regionkey": [draw(st.integers(0, 4)) for _ in range(n_nat)],
        }
    ).astype({"n_nationkey": "int32", "n_regionkey": "int32"})

    n_cust = draw(st.integers(min_value=4, max_value=8))
    customer = pd.DataFrame(
        {
            "c_custkey": range(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": [draw(st.integers(0, n_nat - 1)) for _ in range(n_cust)],
            "c_acctbal": [draw(st.sampled_from(TPCH_BAL_POOL)) for _ in range(n_cust)],
            "c_mktsegment": [
                draw(st.sampled_from(TPCH_SEGMENTS)) for _ in range(n_cust)
            ],
        }
    ).astype({"c_nationkey": "int32"})

    n_supp = draw(st.integers(min_value=2, max_value=4))
    supplier = pd.DataFrame(
        {
            "s_suppkey": range(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": [draw(st.integers(0, n_nat - 1)) for _ in range(n_supp)],
            "s_acctbal": [draw(st.sampled_from(TPCH_BAL_POOL)) for _ in range(n_supp)],
        }
    ).astype({"s_nationkey": "int32"})

    n_part = draw(st.integers(min_value=3, max_value=6))
    part = pd.DataFrame(
        {
            "p_partkey": range(n_part),
            "p_name": [f"part {i} burnished copper" for i in range(n_part)],
            "p_brand": [draw(st.sampled_from(TPCH_BRANDS)) for _ in range(n_part)],
            "p_type": [draw(st.sampled_from(TPCH_PTYPES)) for _ in range(n_part)],
            "p_size": [
                draw(st.sampled_from([1, 5, 15, 23, 45, 50])) for _ in range(n_part)
            ],
            "p_retailprice": [
                draw(st.sampled_from(TPCH_MONEY_POOL)) for _ in range(n_part)
            ],
        }
    ).astype({"p_size": "int32"})

    n_ord = draw(st.integers(min_value=6, max_value=12))
    orows, lrows = [], []
    for ok in range(n_ord):
        # occasionally an ORPHAN custkey (customer churned/deleted):
        # inner joins must drop it, a13's left join must not
        ck = draw(
            st.one_of(st.integers(0, n_cust - 1), st.just(n_cust + 7))
            if draw(st.booleans())
            else st.integers(0, n_cust - 1)
        )
        od = pd.Timestamp(draw(st.sampled_from(TPCH_DATE_POOL)))
        orows.append(
            {
                "o_orderkey": ok,
                "o_custkey": ck,
                "o_orderstatus": draw(st.sampled_from(["O", "F", "P"])),
                "o_totalprice": draw(st.sampled_from(TPCH_MONEY_POOL)),
                "o_orderdate": od,
                "o_orderpriority": draw(st.sampled_from(TPCH_PRIORITIES)),
            }
        )
        for ln in range(1, draw(st.integers(min_value=1, max_value=3)) + 1):
            lrows.append(
                {
                    "l_orderkey": ok,
                    "l_partkey": draw(st.integers(0, n_part - 1)),
                    "l_suppkey": draw(st.integers(0, n_supp - 1)),
                    "l_linenumber": ln,
                    "l_quantity": draw(st.sampled_from(TPCH_QTY_POOL)),
                    "l_extendedprice": draw(st.sampled_from(TPCH_MONEY_POOL)),
                    "l_discount": draw(st.sampled_from(TPCH_DISC_POOL)),
                    "l_tax": draw(st.sampled_from([0.0, 0.04, 0.08])),
                    "l_returnflag": draw(st.sampled_from(["R", "A", "N"])),
                    "l_linestatus": draw(st.sampled_from(["O", "F"])),
                    # shipdate may PRECEDE the order date (clock skew /
                    # bad feed) and may land exactly on window bounds
                    "l_shipdate": od
                    + pd.Timedelta(days=draw(st.sampled_from([-5, 0, 1, 30, 90, 365]))),
                }
            )
    orders = pd.DataFrame(orows)
    orders["o_orderdate"] = orders["o_orderdate"].astype("datetime64[us]")
    lineitem = pd.DataFrame(lrows).astype({"l_linenumber": "int32"})
    lineitem["l_shipdate"] = lineitem["l_shipdate"].astype("datetime64[us]")
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


TPCH_FUZZED = (
    [f"a{i}" for i in (1, 3, 4, 5, 6, 7, 8, 9, 10, 13, 14, 15, 17, 18, 19, 22)]
    + [f"b{i}" for i in range(1, 23)]
    # star-schema readers beyond the tiers: market-basket lift reads
    # orders+lineitem+part and inherits the same hostile shapes
    + ["basket_lift"]
)


@pytest.mark.parametrize("name", TPCH_FUZZED)
@given(tables=tpch_tables())
@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_tpch_generated_star_schema_matches_oracle(
    spark, tmp_path_factory, name, tables
):
    _run_multi_table_pair(
        spark, name, tables, tmp_path_factory.mktemp("tpchfuzz")
    )
