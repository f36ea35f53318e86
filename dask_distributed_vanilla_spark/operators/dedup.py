"""Deduplication operators over the `documents` table.

The training-data-pipeline extension surface (BASELINE.json north star):
exact dedup, n-gram Jaccard near-dup, MinHash+LSH near-dup, and SimHash
fingerprinting — each a pure DataFrame plan with a DuckDB oracle, plus a
`pyspark.ml` MinHashLSH variant as the library-backed scale path.

Design for 100 TB:
- Exact dedup groups on a fixed-width digest, never the raw text — the
  shuffle moves 32-byte keys, not documents.
- The naive shingle self-join (`dedup_ngram_jaccard`) is quadratic in
  docs-per-shingle and exists as the exact baseline; `dedup_minhash_lsh`
  is the scale path: O(K) signature per doc, candidates generated only
  within LSH band buckets, exact Jaccard verified on candidates only.
- All hashing is md5-based and engine-portable (hex strings compare
  lexicographically the same everywhere), so signatures computed by this
  engine can be verified by any other system — and by the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_distributed_vanilla_spark.catalog import load_table, spread
from dask_distributed_vanilla_spark.functions.rounding import round2, round2_sql
from dask_distributed_vanilla_spark.operators.graph import min_label_components

# Word n-gram size, minhash width, LSH banding, and the near-dup
# threshold (the sf fixtures are bimodal: planted near-dups sit at
# Jaccard ≥0.9, everything else <0.1 — 0.6 is in the empty gap).
NGRAM = 3
MINHASH_K = 9
LSH_BANDS = 3  # 3 bands × 3 rows; P(candidate | j=0.9) ≈ 0.97
JACCARD_THRESHOLD = 0.6

# Document-frequency ceiling for the exact ngram-Jaccard baseline: a
# shingle held by more than DF_CAP documents is a stop-shingle ("the end
# of") and is removed from the shingle universe BEFORE pairing and
# counting — without it one hot shingle in 100k docs yields 10^10 join
# pairs. Near-dups share rare shingles too, so recall is preserved
# (standard practice in shingle-based dedup). Applied identically in the
# DuckDB oracle so results stay bit-equal.
DF_CAP = 1000

# Jaccard is a ratio of small integers -> lands on the .xx5 grid; use the
# engine-portable half-up rounding in both SQL dialects (functions/rounding.py).
_JAC2 = round2_sql("n_common * 1.0 / (ca.n + cb.n - n_common)")


def word_shingles(text: Column, n: int = NGRAM) -> Column:
    """Array of word n-gram shingles (empty if fewer than n words).

    NOTE: evaluating this directly re-splits `text` once per array
    element (Catalyst does not hoist the split out of the lambda); hot
    paths should materialize the words array in a prior projection and
    use :func:`shingles_from_words` — 3-4× faster per profile.
    """
    return shingles_from_words(F.split(text, " "), n)


def shingles_from_words(words: Column, n: int = NGRAM) -> Column:
    """Shingles from an already-materialized words array column."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)),
    )
    return F.when(F.size(words) >= n, grams).otherwise(F.array().cast("array<string>"))


def _shingle_table(spark: SparkSession, sf_dir: str, materialize: bool = False) -> DataFrame:
    """(doc_id, sh) — distinct word n-gram shingles per document.

    Two-step projection so split() is evaluated once per document, not
    once per shingle (CollapseProject keeps multi-referenced non-cheap
    expressions materialized).

    ``materialize=True`` localCheckpoints the exploded table: the dedup
    pipelines consume it 3-4 times (doc counts, posting-list filter,
    both self-join sides), and re-exploding the corpus per consumer
    costs more than storing it. Blocks free when the plan is GC'd; on a
    cluster, executor loss forces a query retry (no lineage) — the
    standard trade for checkpointed intermediates.
    """
    # spread the (tiny) doc rows BEFORE the explode so the shingle
    # build — and the partitions every downstream consumer (broadcast
    # probe sides, partial aggregations) inherits from the checkpoint —
    # runs on all cores instead of the single-row-group scan's one task
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select("doc_id", F.split(F.col("text"), " ").alias("words"))
    sh = words.select(
        "doc_id", F.explode(F.array_distinct(shingles_from_words(F.col("words")))).alias("sh")
    )
    return sh.localCheckpoint() if materialize else sh


_SHINGLE_SQL = f"""
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       UNNEST(generate_series(1, len(w) - {NGRAM - 1})) AS u(i)
  WHERE len(w) >= {NGRAM}
"""


# --- exact dedup ---------------------------------------------------------
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups keyed by content digest.

    Returns one row per distinct content with the group size and the
    survivor (minimum doc_id) — the standard keep-first policy.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keep_id"))
        .orderBy("content_hash")
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
FROM documents GROUP BY 1 ORDER BY 1
"""


# --- n-gram Jaccard near-dup (exact baseline) ---------------------------
def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, sh0: DataFrame | None = None
) -> DataFrame:
    """Near-duplicate pairs with word-{3}-gram Jaccard ≥ {thr}.

    Exact algorithm: shingle-inverted-index self-join → per-pair common
    count → Jaccard from per-doc shingle counts. Jaccard is a ratio of
    exact integers, so the value is bit-identical across engines.

    Posting-list filter: a shingle held by a single document cannot
    produce a pair, and on real corpora most shingles are unique — the
    semi-join against multi-document shingles shrinks the self-join
    input by an order of magnitude without changing the result.

    Document-frequency ceiling: shingles with df > DF_CAP are dropped
    from the universe before BOTH the pair join and the per-doc counts
    (stop-shingle removal, mirrored in the oracle), bounding the worst
    shingle's pair contribution to DF_CAP² instead of corpus².

    ``sh0`` lets a composing query (dedup_lsh_audit) pass the one
    materialized shingle table both its sides share.
    """
    if sh0 is None:
        sh0 = _shingle_table(spark, sf_dir, materialize=True)
    df_tbl = sh0.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    # ONE df-carrying join replaces the former pair of successive
    # left-semi joins on the same key (keep df<=CAP for the counts,
    # then df>1 for the pair join): the inner join against the
    # capped df table yields identical rows and the posting-list
    # filter becomes a free predicate on the carried df column —
    # one exchange instead of two over the shingle table (guide §2.4)
    sh = sh0.join(df_tbl.where(F.col("df") <= DF_CAP), "sh")
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    paired = sh.where(F.col("df") > 1).select("doc_id", "sh")
    a = paired.alias("a")
    b = paired.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(ca, "doc_a")
        .join(cb, "doc_b")
        .where(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", round2(jac).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


DEDUP_NGRAM_SQL = f"""
WITH sh0 AS ({_SHINGLE_SQL}),
keep AS (SELECT sh FROM sh0 GROUP BY 1 HAVING COUNT(*) <= {DF_CAP}),
sh AS (SELECT s.doc_id, s.sh FROM sh0 s JOIN keep USING (sh)),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       {_JAC2} AS jaccard
FROM pairs
JOIN cnt ca ON doc_a = ca.doc_id
JOIN cnt cb ON doc_b = cb.doc_id
WHERE n_common * 1.0 / (ca.n + cb.n - n_common) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# --- MinHash + LSH near-dup (scale path) ---------------------------------
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, mh0..mh{K-1}) minhash signature table.

    K portable minhash values from ONE digest per shingle: the k-th hash
    is the lexicographic MIN of md5(sh) *rotated* by k hex chars — a
    bijection of the 128-bit space per k, so each offset ranks shingles
    by an independent-enough key (candidates are exactly verified
    afterwards, so only recall is at stake). One md5 per shingle instead
    of K is the dominant hashing cost at scale; hex strings order
    identically in every engine, keeping signatures portable.
    """
    sh = _shingle_table(spark, sf_dir).select("doc_id", F.md5(F.col("sh")).alias("h"))
    return sh.groupBy("doc_id").agg(
        *[
            F.min(
                F.concat(F.substring("h", k + 1, 32 - k), F.substring("h", 1, k))
            ).alias(f"mh{k}")
            for k in range(MINHASH_K)
        ]
    )


def dedup_minhash_lsh(
    spark: SparkSession, sf_dir: str, sh0: DataFrame | None = None
) -> DataFrame:
    """Near-dup pairs via MinHash signatures + banded LSH + exact verify.

    Pipeline: K minhashes per doc → {B} band digests → candidate pairs =
    docs sharing a band bucket (the only join, keyed on a 32-char
    digest) → exact Jaccard computed *only for candidates* → threshold.
    At 100 TB this is the dedup workhorse: no quadratic blowup, shuffle
    keys are fixed-width, and band buckets parallelize freely.
    """
    rows_per_band = MINHASH_K // LSH_BANDS
    sh_base = sh0 if sh0 is not None else _shingle_table(spark, sf_dir, materialize=True)
    hs = sh_base.select("doc_id", F.md5(F.col("sh")).alias("h"))
    sig = hs.groupBy("doc_id").agg(
        *[
            F.min(
                F.concat(F.substring("h", k + 1, 32 - k), F.substring("h", 1, k))
            ).alias(f"mh{k}")
            for k in range(MINHASH_K)
        ]
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat(
                                *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
                            )
                        ).alias("bucket"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    x = bands.alias("x")
    y = bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact verification restricted to candidates, on the same
    # materialized shingle table the signatures used
    sh = sh_base
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    common = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(ca, "doc_a")
        .join(cb, "doc_b")
        .where(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", round2(jac).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


def dedup_lsh_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-audit of the LSH workhorse against the exact baseline: pair
    the verified MinHash-LSH near-dup set with the exact n-gram-Jaccard
    set and report recall/precision — the measurement that justifies
    running banded LSH instead of the quadratic join at scale (banding
    theory promises high recall at the threshold; this query CHECKS it
    on the corpus instead of assuming it).

    Precision is 1.0 by construction (LSH candidates are exact-verified
    before emission); recall < 1 exposes band/bucket misses. Cost is
    the two operators it audits plus one pair-keyed full-outer join of
    their (small) output sets.
    """
    # ONE materialized shingle table feeds both generators (each used to
    # checkpoint its own copy of the identical explode — guide §1.2:
    # don't compute things twice)
    sh0 = _shingle_table(spark, sf_dir, materialize=True)
    exact = dedup_ngram_jaccard(spark, sf_dir, sh0=sh0).select(
        "doc_a", "doc_b", F.lit(1).alias("in_exact")
    )
    lsh = dedup_minhash_lsh(spark, sf_dir, sh0=sh0).select(
        "doc_a", "doc_b", F.lit(1).alias("in_lsh")
    )
    m = exact.join(lsh, ["doc_a", "doc_b"], "full_outer")
    # COUNT (not SUM) so empty pair sets report 0, never NULL — a
    # degenerate corpus (every doc below the shingle width) yields zero
    # pairs on both generators, and the audit must still agree with the
    # COUNT(*)-based oracle. NULLIF guards the ratios: recall/precision
    # are undefined (NULL) over an empty baseline, and ANSI Spark would
    # otherwise refuse the division outright.
    both = F.count(F.col("in_exact") * F.col("in_lsh"))  # non-null iff both sides
    return m.agg(
        F.count("in_exact").alias("n_exact"),
        F.count("in_lsh").alias("n_lsh"),
        both.alias("n_both"),
        round2(both / F.nullif(F.count("in_exact"), F.lit(0))).alias("recall"),
        round2(both / F.nullif(F.count("in_lsh"), F.lit(0))).alias("precision"),
    )


def _lsh_audit_sql() -> str:
    return f"""
WITH {{chain}},
ex0 AS ({_SHINGLE_SQL}),
exkeep AS (SELECT sh FROM ex0 GROUP BY 1 HAVING COUNT(*) <= {DF_CAP}),
exsh AS (SELECT s.doc_id, s.sh FROM ex0 s JOIN exkeep USING (sh)),
excnt AS (SELECT doc_id, COUNT(*) AS n FROM exsh GROUP BY 1),
expairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM exsh a JOIN exsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
exact AS (
  SELECT doc_a, doc_b FROM expairs
  JOIN excnt ca ON doc_a = ca.doc_id
  JOIN excnt cb ON doc_b = cb.doc_id
  WHERE n_common * 1.0 / (ca.n + cb.n - n_common) >= {JACCARD_THRESHOLD}),
stats AS (
  SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
         (SELECT COUNT(*) FROM lsh_pairs) AS n_lsh,
         (SELECT COUNT(*) FROM exact e
          JOIN lsh_pairs l ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b) AS n_both)
SELECT CAST(n_exact AS BIGINT) AS n_exact, CAST(n_lsh AS BIGINT) AS n_lsh,
       CAST(n_both AS BIGINT) AS n_both,
       {round2_sql("n_both * 1.0 / NULLIF(n_exact, 0)")} AS recall,
       {round2_sql("n_both * 1.0 / NULLIF(n_lsh, 0)")} AS precision
FROM stats
""".replace("{chain}", _minhash_cte_chain())


def _minhash_cte_chain() -> str:
    """The shared CTE chain ending in verified LSH near-dup pairs —
    reused by the pair oracle and the connected-components oracle."""
    rows_per_band = MINHASH_K // LSH_BANDS
    mh = ", ".join(
        f"MIN(substring(h, {k + 1}, {32 - k}) || substring(h, 1, {k})) AS mh{k}"
        for k in range(MINHASH_K)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5({' || '.join(f'mh{b * rows_per_band + r}' for r in range(rows_per_band))}) AS bucket "
        "FROM sig"
        for b in range(LSH_BANDS)
    )
    return f"""sh AS ({_SHINGLE_SQL}),
hs AS (SELECT doc_id, md5(sh) AS h FROM sh),
sig AS (SELECT doc_id, {mh} FROM hs GROUP BY doc_id),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
common AS (
  SELECT doc_a, doc_b, COUNT(*) AS n_common
  FROM cand
  JOIN sh a ON a.doc_id = doc_a
  JOIN sh b ON b.doc_id = doc_b AND b.sh = a.sh
  GROUP BY 1, 2),
lsh_pairs AS (
  SELECT doc_a, doc_b, n_common, ca.n AS n_a, cb.n AS n_b
  FROM common
  JOIN cnt ca ON doc_a = ca.doc_id
  JOIN cnt cb ON doc_b = cb.doc_id
  WHERE n_common * 1.0 / (ca.n + cb.n - n_common) >= {JACCARD_THRESHOLD})"""


def _minhash_lsh_sql() -> str:
    jac2 = _JAC2.replace("ca.n", "n_a").replace("cb.n", "n_b")
    return f"""
WITH {_minhash_cte_chain()}
SELECT doc_a, doc_b, {jac2} AS jaccard
FROM lsh_pairs
ORDER BY doc_a, doc_b
"""


# --- SimHash fingerprint --------------------------------------------------
SIMHASH_BITS = 16


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document {bits}-bit SimHash over whitespace tokens.

    Bit j of the fingerprint is the sign of Σ_tokens (±1), where the ±1
    is the top bit of hex nibble j of md5(token) — frequency-weighted
    because tokens are NOT deduplicated first. One explode + one groupBy:
    linear, shuffle key is doc_id, partial (map-side) aggregation makes
    the shuffle 17 longs per doc.

    Hot-path shape: the 16 nibble top-bits are extracted from TWO
    conv(hex→int) parses per token plus integer shift/mask, not 16
    substring+string-compare branches — the same values the oracle
    computes character-wise (top bit of nibble j ⇔ hex char ≥ '8'), at
    roughly half the per-token cost.
    """
    # spread: one md5 per token (~500/doc) is scan-stage work that would
    # otherwise run single-task on the single-row-group fixture
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")).select(
        "doc_id", F.md5(F.col("tok")).alias("h")
    )
    # nibbles 0..7 from the first 8 hex chars, 8..15 from the next 8;
    # each conv result ≤ 2^32-1 so the bigint cast is exact.
    packed = toks.select(
        "doc_id",
        F.conv(F.substring("h", 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring("h", 9, 8), 16, 10).cast("long").alias("lo"),
    )

    def _bit(j: int):
        src, p = ("hi", j) if j < 8 else ("lo", j - 8)
        return F.shiftright(F.col(src), 4 * (7 - p) + 3).bitwiseAND(F.lit(1))

    aggs = [F.sum(_bit(j)).alias(f"s{j}") for j in range(SIMHASH_BITS)] + [
        F.count(F.lit(1)).alias("cnt")
    ]
    # sign of Σ±1 > 0  ⇔  2·(count of 1-bits) > token count
    fingerprint = F.concat(
        *[
            F.when(2 * F.col(f"s{j}") > F.col("cnt"), F.lit("1")).otherwise(F.lit("0"))
            for j in range(SIMHASH_BITS)
        ]
    )
    return (
        packed.groupBy("doc_id")
        .agg(*aggs)
        .select("doc_id", fingerprint.alias("simhash"))
        .orderBy("doc_id")
    )


def _simhash_sql() -> str:
    sums = ", ".join(
        f"SUM(CASE WHEN substring(h, {j + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    concat = " || ".join(
        f"CASE WHEN s{j} > 0 THEN '1' ELSE '0' END" for j in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, md5(t.tok) AS h
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       UNNEST(w) AS t(tok)),
sums AS (SELECT doc_id, {sums} FROM toks GROUP BY doc_id)
SELECT doc_id, {concat} AS simhash FROM sums ORDER BY doc_id
"""


# --- library-backed scale path (pyspark.ml MinHashLSH) -------------------
def ml_minhash_pairs(spark: SparkSession, sf_dir: str, threshold: float = 0.5) -> DataFrame:
    """Near-dup candidates via pyspark.ml MinHashLSH (JVM implementation).

    The ml pipeline (HashingTF sparse shingle vectors → MinHashLSH →
    approxSimilarityJoin) is the packaged alternative to the handwritten
    LSH above. Non-deterministic across library versions (seeded hash
    families), so unit-tested for recall rather than oracle-hashed.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = load_table(spark, sf_dir, "documents")
    shingled = docs.select("doc_id", word_shingles(F.col("text")).alias("shingles")).where(
        F.size("shingles") > 0
    )
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18)
    feats = tf.transform(shingled)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=5, seed=42)
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(feats, feats, 1.0 - threshold, distCol="jaccard_dist")
    return (
        joined.where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            (1 - F.col("jaccard_dist")).alias("jaccard_est"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --- duplicate-cluster assignment (connected components) ------------------
def dedup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the verified LSH
    near-dup pair graph, every document labeled with the minimum doc_id
    reachable through near-duplicate links (singletons label themselves).
    This is the step that turns pairwise dedup output into the
    keep-one-per-cluster decision a curation pipeline needs.

    Clustering is graph.min_label_components: min-label propagation to a
    fixpoint, one shuffle keyed by node per round. Near-dup clusters are
    tiny and dense, so it converges in 2-3 rounds; a graph that needs
    more than graph.MAX_LABEL_ROUNDS raises RuntimeError rather than
    return unconverged labels.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    nodes = load_table(spark, sf_dir, "documents").select("doc_id")
    return min_label_components(pairs, nodes).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    ).orderBy("doc_id")


def _cc_sql() -> str:
    """Recursive-CTE oracle: enumerate every (node, reachable label) over
    the undirected near-dup edges, take the min per node."""
    return f"""
WITH RECURSIVE {_minhash_cte_chain()},
edges AS (SELECT doc_a AS a, doc_b AS b FROM lsh_pairs
          UNION ALL
          SELECT doc_b, doc_a FROM lsh_pairs),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b
)
SELECT node AS doc_id, MIN(label) AS cluster_id
FROM reach GROUP BY 1 ORDER BY 1
"""


def dedup_cluster_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication census: the distribution of near-dup cluster sizes —
    how many singletons, pairs, triples, … the corpus holds, plus the
    share of documents that are redundant (cluster size − 1 summed).
    This is the one-page answer to "how duplicated is this corpus"
    that decides whether dedup is worth a pipeline stage at all.

    Consumes dedup_cc's labels (iterative CC) and reduces them twice:
    label → size, size → count. Both aggregates are tiny relative to
    the corpus; the cost is the CC it composes.
    """
    labels = dedup_cc(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("size"))
    return (
        sizes.groupBy("size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum(F.col("size") - 1).cast("long").alias("n_redundant_docs"),
        )
        .orderBy("size")
    )


def _cluster_hist_sql() -> str:
    return f"""
WITH RECURSIVE {_minhash_cte_chain()},
edges AS (SELECT doc_a AS a, doc_b AS b FROM lsh_pairs
          UNION ALL
          SELECT doc_b, doc_a FROM lsh_pairs),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b),
labels AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY 1),
sizes AS (SELECT cluster_id, COUNT(*) AS size FROM labels GROUP BY 1)
SELECT size, COUNT(*) AS n_clusters,
       CAST(SUM(size - 1) AS BIGINT) AS n_redundant_docs
FROM sizes GROUP BY size ORDER BY size
"""


CONTAINMENT_THRESHOLD = 0.8


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-containment pairs: |A∩B| / |A| ≥ {thr} — doc A's
    shingles mostly inside doc B. Jaccard misses exactly this case (a
    short quote fully embedded in a long article has tiny Jaccard but
    containment ≈ 1), and quote-expansion/boilerplate-wrapping is a
    dominant duplication mode in web corpora.

    Same inverted-index machinery and DF_CAP bound as the Jaccard
    baseline; the only change is the asymmetric denominator, and each
    unordered pair is emitted once per direction that crosses the
    threshold (direction matters: contained ≠ containing).
    """
    sh0 = _shingle_table(spark, sf_dir, materialize=True)
    df_tbl = sh0.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    # same fused df-carrying join as the Jaccard baseline (one exchange
    # replaces two successive semi-joins)
    sh = sh0.join(df_tbl.where(F.col("df") <= DF_CAP), "sh")
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    paired = sh.where(F.col("df") > 1).select("doc_id", "sh")
    a, b = paired.alias("a"), paired.alias("b")
    # n_common is symmetric, so enumerate each unordered pair ONCE
    # (a.doc_id < b.doc_id — half the join probe output and half the
    # pair aggregation of the former a != b form), then emit the two
    # directed containment rows per pair with a 2-way explode over the
    # aggregated (match-sized) table. Same output set: direction (x, y)
    # survives iff n_common / n_x clears the threshold, exactly as when
    # both directions were enumerated by the join (guide §1.2).
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    both = common.join(ca, "doc_a").join(cb, "doc_b").select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("da"),
                    F.col("doc_b").alias("db"),
                    (F.col("n_common") / F.col("n_a")).alias("cont"),
                ),
                F.struct(
                    F.col("doc_b").alias("da"),
                    F.col("doc_a").alias("db"),
                    (F.col("n_common") / F.col("n_b")).alias("cont"),
                ),
            )
        ).alias("p")
    )
    return (
        both.where(F.col("p.cont") >= CONTAINMENT_THRESHOLD)
        .select(
            F.col("p.da").alias("doc_a"),
            F.col("p.db").alias("doc_b"),
            round2(F.col("p.cont")).alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


DEDUP_CONTAINMENT_SQL = f"""
WITH sh0 AS ({_SHINGLE_SQL}),
keep AS (SELECT sh FROM sh0 GROUP BY 1 HAVING COUNT(*) <= {DF_CAP}),
sh AS (SELECT s.doc_id, s.sh FROM sh0 s JOIN keep USING (sh)),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       {round2_sql("n_common * 1.0 / ca.n")} AS containment
FROM pairs JOIN cnt ca ON doc_a = ca.doc_id
WHERE n_common * 1.0 / ca.n >= {CONTAINMENT_THRESHOLD}
ORDER BY doc_a, doc_b
"""


def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact-dedup audit — the chain text_normalize
    promises: lowercase/strip/squeeze first, md5 second, so case and
    punctuation variants of the same document collide where raw-byte
    dedup (dedup_exact) keeps them apart. One row of corpus-level
    accounting: raw vs normalized distinct counts and how many groups
    normalization merged (zero is itself a result — this fixture is
    already canonical; a web crawl is not).

    Two digests per doc in one scan, two count-distincts in one
    aggregate — only 32-byte hashes reach the shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    keyed = docs.select(
        F.md5(norm).alias("norm_hash"), F.md5(F.col("text")).alias("raw_hash")
    )
    merged = (
        keyed.groupBy("norm_hash")
        .agg(F.countDistinct("raw_hash").alias("v"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_norm_distinct"),
            F.sum(F.when(F.col("v") > 1, 1).otherwise(0)).cast("long").alias(
                "n_merged_groups"
            ),
        )
    )
    totals = keyed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("raw_hash").alias("n_raw_distinct"),
    )
    return totals.crossJoin(merged).select(
        "n_docs", "n_raw_distinct", "n_norm_distinct", "n_merged_groups"
    )


DEDUP_EXACT_NORMALIZED_SQL = """
WITH keyed AS (
  SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                 ' +', ' ', 'g'))) AS norm_hash,
         md5(text) AS raw_hash
  FROM documents),
g AS (SELECT norm_hash, COUNT(DISTINCT raw_hash) AS v FROM keyed GROUP BY 1)
SELECT (SELECT COUNT(*) FROM keyed) AS n_docs,
       (SELECT CAST(COUNT(DISTINCT raw_hash) AS BIGINT) FROM keyed) AS n_raw_distinct,
       CAST(COUNT(*) AS BIGINT) AS n_norm_distinct,
       CAST(SUM(CASE WHEN v > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_merged_groups
FROM g
"""


# --- incremental (delta-vs-corpus) dedup --------------------------------
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: drop new-batch docs whose exact content
    digest already exists in the standing corpus.

    The production shape for continuous ingestion — each arriving batch
    is checked against the lake before append, instead of re-running
    global dedup over the whole corpus. Here the "new batch" is the
    ``doc_id % 5 == 0`` slice and the corpus is the rest.

    Scale notes: only 32-byte digests cross the wire — the corpus side
    reduces to distinct digests before the anti-join, the text column is
    pruned from its scan, and a typical daily delta is small enough that
    AQE broadcasts it against the corpus digest set (or, with a digest-
    bucketed corpus table, the join is shuffle-free). A Bloom filter on
    corpus digests is the standard pre-pass to skip the join for the
    ~all-novel case.
    """
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", "lang", F.md5(F.col("text")).alias("digest")
    )
    corpus = (
        docs.filter(F.col("doc_id") % 5 != 0)
        .select(F.md5(F.col("text")).alias("digest"))
        .distinct()
    )
    return new.join(corpus, "digest", "left_anti").select(
        "doc_id", "lang", "digest"
    ).orderBy("doc_id")


DEDUP_INCREMENTAL_SQL = """
SELECT doc_id, lang, md5(text) AS digest
FROM documents d
WHERE doc_id % 5 = 0
  AND NOT EXISTS (SELECT 1 FROM documents c
                  WHERE c.doc_id % 5 <> 0 AND md5(c.text) = md5(d.text))
ORDER BY doc_id
"""


def dedup_incremental_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup dedup: drop new-batch docs whose word-shingle
    Jaccard with any standing-corpus doc reaches the threshold, found via
    the same MinHash-band machinery as dedup_minhash_lsh.

    The production path for continuous ingestion at near-dup level: the
    corpus' band buckets are a standing index, and each arriving batch
    generates candidates DIRECTIONALLY — new-side bands join corpus-side
    bands only, so candidate work scales with the delta, never with
    corpus × corpus. Near-dups *within* the batch are left to the batch's
    own dedup pass (batch-vs-corpus semantics). Exact verification runs
    on candidates only, same as the full-corpus operator.
    """
    rows_per_band = MINHASH_K // LSH_BANDS
    is_new = F.col("doc_id") % 5 == 0
    sh_base = _shingle_table(spark, sf_dir, materialize=True)
    hs = sh_base.select("doc_id", F.md5(F.col("sh")).alias("h"))
    sig = hs.groupBy("doc_id").agg(
        *[
            F.min(
                F.concat(F.substring("h", k + 1, 32 - k), F.substring("h", 1, k))
            ).alias(f"mh{k}")
            for k in range(MINHASH_K)
        ]
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat(
                                *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
                            )
                        ).alias("bucket"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    x = bands.filter(is_new).alias("x")  # delta side
    y = bands.filter(~is_new).alias("y")  # corpus side
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket")),
        )
        .select(F.col("x.doc_id").alias("doc_new"), F.col("y.doc_id").alias("doc_old"))
        .distinct()
    )
    counts = sh_base.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sh_n = sh_base.select(F.col("doc_id").alias("doc_new"), "sh")
    sh_o = sh_base.select(F.col("doc_id").alias("doc_old"), "sh")
    common = (
        cand.join(sh_n, "doc_new")
        .join(sh_o, ["doc_old", "sh"])
        .groupBy("doc_new", "doc_old")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    cn = counts.select(F.col("doc_id").alias("doc_new"), F.col("n_sh").alias("n_n"))
    co = counts.select(F.col("doc_id").alias("doc_old"), F.col("n_sh").alias("n_o"))
    jac = F.col("n_common") / (F.col("n_n") + F.col("n_o") - F.col("n_common"))
    dupes = (
        common.join(cn, "doc_new")
        .join(co, "doc_old")
        .where(jac >= JACCARD_THRESHOLD)
        .select(F.col("doc_new").alias("doc_id"))
        .distinct()
    )
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(is_new)
        .select("doc_id", "lang")
        .join(dupes, "doc_id", "left_anti")
        .orderBy("doc_id")
    )


def _incremental_near_sql() -> str:
    return f"""
WITH {_minhash_cte_chain()}
SELECT doc_id, lang FROM documents d
WHERE doc_id % 5 = 0
  AND NOT EXISTS (
    SELECT 1 FROM lsh_pairs p
    WHERE (p.doc_a = d.doc_id AND p.doc_b % 5 <> 0)
       OR (p.doc_b = d.doc_id AND p.doc_a % 5 <> 0))
ORDER BY doc_id
"""


QUERIES = {
    "dedup_exact_normalized": dedup_exact_normalized,
    "dedup_containment": dedup_containment,
    "dedup_cluster_hist": dedup_cluster_hist,
    "dedup_lsh_audit": dedup_lsh_audit,
    "dedup_incremental": dedup_incremental,
    "dedup_incremental_near": dedup_incremental_near,
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_cc": dedup_cc,
}

ORACLES = {
    "dedup_exact_normalized": DEDUP_EXACT_NORMALIZED_SQL,
    "dedup_containment": DEDUP_CONTAINMENT_SQL,
    "dedup_cluster_hist": _cluster_hist_sql(),
    "dedup_lsh_audit": _lsh_audit_sql(),
    "dedup_incremental": DEDUP_INCREMENTAL_SQL,
    "dedup_incremental_near": _incremental_near_sql(),
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard": DEDUP_NGRAM_SQL,
    "dedup_minhash_lsh": _minhash_lsh_sql(),
    "dedup_simhash": _simhash_sql(),
    "dedup_cc": _cc_sql(),
}
