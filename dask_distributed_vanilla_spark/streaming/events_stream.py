"""Structured Streaming twin of the batch event analytics.

The reference's streaming surface is worker pub/sub + queues
(`distributed/pubsub.py:202-467`, `queues.py:130-292` — SURVEY.md §2.9);
its capability equivalent on Spark is a stream of records through
`readStream` with watermarked event-time windows. `stream_e1` replays
the events fixture as a file stream, aggregates 1-hour tumbling windows
per event type, and lands the result in an in-memory sink — the same
answer E1 computes in batch, which is exactly what makes it judgeable
against the E1-style oracle.

At scale this is the operator that replaces the reference's pubsub
analytics: Kafka source instead of file replay, `update` output to a
sink instead of `complete` to memory, watermark bounding state size.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_distributed_vanilla_spark.catalog import load_table, normalize_events_ts, parquet_schema
from dask_distributed_vanilla_spark.session import scoped_conf

# Scope off the trailing no-data micro-batch for streams whose
# RESULTS don't depend on it (r14, guide §1.2: don't compute things
# you throw away).
#
# availableNow appends one extra data-free micro-batch after the last
# file batch so the advanced watermark can evict state and flush
# watermark-gated output. That flush is semantics for append-mode
# queries that hold rows back (stream_outer_join's null-matches,
# stream_two_level's closed days, stream_stateful's EventTimeTimeout
# sessions — all deliberately NOT given this conf). It is pure overhead for:
#
# - complete-mode aggregates (stream_e1/sliding/session/enrich/
#   approx_distinct): every batch re-emits the FULL result table and
#   complete mode never evicts aggregation state, so the extra batch
#   rewrites an identical table into the sink;
# - append-mode operators that emit on arrival (stream_dedup's
#   dropDuplicates, stream_join's stream-stream INNER join): with the
#   replayed corpus in the data batches, every output row has already
#   been emitted — the final batch exists only to expire state that
#   is about to be dropped with the query.
#
# Each skipped batch saves a full micro-batch cycle (offset/commit
# log writes + one state-store commit per partition + sink rewrite).
# A live deployment keeps the default (state eviction is the point
# there); the conf is scoped to the query's run.
_NO_DATA_BATCH_OFF = {"spark.sql.streaming.noDataMicroBatches.enabled": "false"}

# A stateful stream pays fixed per-micro-batch cost for EVERY state
# store instance (a stream-stream join keeps 4 per partition), and the
# count is pinned by the first checkpoint — so it must be sized to the
# stream's volume up front, not inherited from the batch default. The
# fixture replay is small → 4; a production Kafka topic would size
# this to sustained rows/sec per core exactly the same way (5× here:
# 15.5s → 3s at sf0.1 with 32 → 4).
_STATE_SHUFFLE = {"spark.sql.shuffle.partitions": "4"}


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture as a file-replay stream with event-time ts.

    A file stream source rejects a plain file path, so the source names
    the fixture file through a one-entry glob (a real deployment points
    at the landing directory or a Kafka topic instead)."""
    raw_schema = parquet_schema(spark, f"{sf_dir}/events.parquet")
    stream = spark.readStream.schema(raw_schema).parquet(f"{sf_dir}/events.parq[u]et")
    return normalize_events_ts(stream)


def run_to_memory(df: DataFrame, mode: str, confs: dict[str, str]) -> DataFrame:
    """Run the streaming frame `df` to completion into a memory sink
    (availableNow trigger, output `mode`) with the session `confs` set
    for the run, and return the sink's rows.

    The sink's temp view is dropped before returning: the returned
    frame holds the resolved plan of the sink, not the view name, so it
    stays readable while the session keeps no per-run table."""
    spark = df.sparkSession
    sink = f"stream_{uuid.uuid4().hex[:8]}"
    try:
        with scoped_conf(spark, confs):
            q = (
                df.writeStream.format("memory")
                .queryName(sink)
                .outputMode(mode)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return spark.table(sink)
    finally:
        spark.catalog.dropTempView(sink)


def windowed_counts(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window aggregate (the E1 semantics)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("event_type", F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"), (F.floor((F.sum("value")) * 100 + F.lit(0.5)) / 100).alias("sv"))
        .select("event_type", F.col("win.start").alias("w"), "n", "sv")
    )


def stream_e1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged query: run the stream to completion (availableNow trigger,
    complete mode → memory sink) and return the final window table."""
    out = run_to_memory(windowed_counts(events_stream(spark, sf_dir)), "complete", _NO_DATA_BATCH_OFF)
    return out.orderBy("event_type", "w")


# Epoch-aligned 1-hour tumbling windows == date_trunc('hour', ts).
STREAM_E1_SQL = """
SELECT event_type, date_trunc('hour', ts) AS w,
       COUNT(*) AS n, FLOOR((SUM(value)) * 100 + 0.5) / 100 AS sv
FROM events GROUP BY 1,2 ORDER BY 1,2
"""


def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged query: 2-hour windows sliding every hour (hopping window) —
    each event lands in exactly two windows; watermark bounds state. The
    oracle replicates the hop by exploding each event into its two
    covering window starts (date_trunc and date_trunc − 1h)."""
    windows = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy("event_type", F.window("ts", "2 hours", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"), (F.floor((F.sum("value")) * 100 + F.lit(0.5)) / 100).alias("sv"))
        .select("event_type", F.col("win.start").alias("w"), "n", "sv")
    )
    return run_to_memory(windows, "complete", _NO_DATA_BATCH_OFF).orderBy("event_type", "w")


STREAM_SLIDING_SQL = """
WITH hop AS (
  SELECT event_type, value,
         UNNEST([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS w
  FROM events)
SELECT event_type, w, COUNT(*) AS n, FLOOR((SUM(value)) * 100 + 0.5) / 100 AS sv
FROM hop GROUP BY 1,2 ORDER BY 1,2
"""


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged query: streaming exact dedup — dropDuplicates on event_id
    within the watermark (the at-least-once-source dedup every ingest
    pipeline needs), then per-type counts of the deduped stream read back
    from the sink. State holds only ids inside the watermark horizon."""
    deduped = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .dropDuplicates(["event_id"])
        .select("event_id", "event_type", "value")
    )
    return (
        run_to_memory(deduped, "append", _NO_DATA_BATCH_OFF)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_unique"),
            (F.floor((F.sum("value")) * 100 + F.lit(0.5)) / 100).alias("sv"),
        )
        .orderBy("event_type")
    )


# event_id is unique in the fixture, so the dedup is an identity the
# oracle states directly (the operator's value is the streaming shape:
# bounded dedup state + append mode).
STREAM_DEDUP_SQL = """
SELECT event_type, COUNT(*) AS n_unique, FLOOR((SUM(value)) * 100 + 0.5) / 100 AS sv
FROM (SELECT DISTINCT ON (event_id) event_id, event_type, value FROM events
      ORDER BY event_id)
GROUP BY 1 ORDER BY 1
"""

def _clicks_and_purchases(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The two legs of the click→purchase attribution joins, each its
    own read of the events stream with a 2-hour watermark."""
    clicks = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purch_id"),
            F.col("ts").alias("purch_ts"),
        )
        .withWatermark("purch_ts", "2 hours")
    )
    return clicks, purchases


def stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged query: watermarked stream-stream interval join — the
    click→purchase attribution shape (purchase within 1 hour of a click
    by the same user). Both sides carry watermarks and the join condition
    bounds event time, so Spark can expire join state: a click older than
    the watermark minus the interval can never match a future purchase
    and is dropped. Without the time bound the join state grows without
    limit — the condition is the scale contract, not a filter. The joined
    pairs land in an append-mode sink; the per-day rollup is a batch agg
    over the sink table."""
    clicks, purchases = _clicks_and_purchases(spark, sf_dir)
    pairs = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purch_ts") >= F.col("click_ts"))
        & (F.col("purch_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("user_id", "click_id", "purch_id", "click_ts")
    return (
        run_to_memory(pairs, "append", {**_STATE_SHUFFLE, **_NO_DATA_BATCH_OFF})
        .groupBy(F.date_trunc("day", F.col("click_ts")).alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("day")
    )


STREAM_JOIN_SQL = """
SELECT date_trunc('day', c.ts) AS day,
       COUNT(*) AS n_pairs,
       CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS n_users
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
GROUP BY 1 ORDER BY 1
"""


def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged query: native session windows — per-user sessions that
    merge events within a 30-minute inactivity gap (`F.session_window`,
    the streaming twin of batch query E5). The state store merges
    overlapping candidate windows per key and the watermark closes
    sessions once event time passes end + watermark, so state is bounded
    by *open* sessions, not history. Session end is last event + gap by
    definition; the oracle reproduces exactly that with a lag-based gap
    split."""
    sessions = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.floor((F.sum("value")) * 100 + F.lit(0.5)) / 100).alias("sv"),
        )
        .select(
            "user_id",
            F.col("win.start").alias("s_start"),
            F.col("win.end").alias("s_end"),
            "n_events",
            "sv",
        )
    )
    out = run_to_memory(sessions, "complete", {**_STATE_SHUFFLE, **_NO_DATA_BATCH_OFF})
    return out.orderBy("user_id", "s_start")


# Gap-split sessions: start = first ts, end = last ts + gap (the
# session_window contract). No fixture gap lands exactly on the 30-min
# boundary (probed at every SF), so the strictness of the merge
# comparison cannot diverge between engines.
STREAM_SESSION_SQL = """
WITH g AS (
  SELECT *, CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      > INTERVAL 30 MINUTE
                   OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                 THEN 1 ELSE 0 END AS brk
  FROM events),
s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM g)
SELECT user_id, MIN(ts) AS s_start, MAX(ts) + INTERVAL 30 MINUTE AS s_end,
       COUNT(*) AS n_events, FLOOR((SUM(value)) * 100 + 0.5) / 100 AS sv
FROM s GROUP BY user_id, sid ORDER BY user_id, s_start
"""


def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged query: CUSTOM stateful operator via applyInPandasWithState
    (streaming/stateful.py) — per-user session state folded in Python
    across micro-batches, the Spark analog of the reference's
    worker-held stateful consumers (`distributed/actor.py`). The fixture
    replays as ONE availableNow micro-batch (single file); in-batch gap
    jumps close all but each user's final session, and the trailing
    no-data micro-batch advances the watermark past every timeout
    timestamp, firing EventTimeTimeout for the rest — so the emitted
    rows are exactly the COMPLETE session set, deterministic and
    SQL-expressible. Event times are carried at full µs precision
    through the state store; sums round with the portable half-up
    rule on both engines."""
    from dask_distributed_vanilla_spark.streaming.stateful import sessionize_stream

    # Unlike the JVM-stateful streams (4 partitions best: state-store
    # overhead dominates), the Python fold is CPU-bound per partition —
    # measured at sf0.1: 1→18.1s, 4→6.2s, 16→5.0s, 32→5.2s. Size to
    # the Arrow-fold parallelism, not the state-store minimum.
    out = run_to_memory(
        sessionize_stream(events_stream(spark, sf_dir)),
        "append",
        {"spark.sql.shuffle.partitions": "16"},
    )
    return out.orderBy("user_id", "session_start")


STREAM_STATEFUL_SQL = """
WITH g AS (
  SELECT *, CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      > INTERVAL 30 MINUTE
                   OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                 THEN 1 ELSE 0 END AS brk
  FROM events),
s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM g),
agg AS (
  SELECT user_id, sid, MIN(ts) AS session_start, MAX(ts) AS session_end,
         COUNT(*) AS n_events, FLOOR(SUM(value) * 100 + 0.5) / 100 AS sv
  FROM s GROUP BY user_id, sid)
SELECT user_id, session_start, session_end, n_events, sv
FROM agg ORDER BY user_id, session_start
"""


def stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged query: stream-static enrichment join — the streaming events
    joined against the static customer dimension (user_id → c_custkey),
    then watermarked tumbling-window revenue per market segment.

    The stream-static join is the third streaming join class next to
    stream-stream (stream_join) and self-dedup (stream_dedup): the static
    side is planned as a normal batch scan re-read per micro-batch and —
    because it is a dimension — broadcast to the stream side, so no
    stream state is needed for the join itself; only the windowed agg
    keeps (watermark-bounded) state. At scale the static side is the
    slowly-changing dim table; Spark re-plans it each micro-batch so
    dim updates are picked up without restarting the query.
    """
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    revenue = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .join(F.broadcast(dim), "user_id")
        .groupBy("c_mktsegment", F.window("ts", "1 day").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"), (F.floor((F.sum("value")) * 100 + F.lit(0.5)) / 100).alias("sv"))
        .select("c_mktsegment", F.col("win.start").alias("w"), "n", "sv")
    )
    return run_to_memory(revenue, "complete", _NO_DATA_BATCH_OFF).orderBy("c_mktsegment", "w")


STREAM_ENRICH_SQL = """
SELECT c_mktsegment, date_trunc('day', ts) AS w,
       COUNT(*) AS n, FLOOR((SUM(value)) * 100 + 0.5) / 100 AS sv
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1,2 ORDER BY 1,2
"""


def stream_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged query: incremental materialized-view maintenance — the
    events fixture replays as FOUR micro-batches (maxFilesPerTrigger=1
    over a 4-way split), each epoch's per-type partials merging into a
    parquet view under an applied-epoch watermark
    (streaming/sinks.py::merge_epoch_into_view). The final view must
    equal the one-shot batch aggregate — the equivalence that makes a
    10-minute-cadence incremental pipeline trustworthy: maintenance
    cost is O(delta + view) per epoch, and an epoch replayed after a
    failure is a no-op, never a double-count.
    """
    from dask_distributed_vanilla_spark.streaming.sinks import start_incremental_view

    base = tempfile.mkdtemp(prefix="stream_mv_")
    src = f"{base}/src"
    batch = load_table(spark, sf_dir, "events")
    # Source prep in ONE corpus pass (r14, guide §1.2): the former
    # four where(%4)+write jobs each re-scanned the events table; the
    # same deterministic event_id%4 shards now come off a single
    # cached scan, and the four per-shard writes read cached blocks.
    # count() fills the cache with full parallelism (each coalesce(1)
    # write below is one task). The blocks are released once the shards
    # are written: the stream reads the files, never the cache.
    sharded = batch.withColumn("shard", (F.col("event_id") % 4).cast("int")).cache()
    try:
        sharded.count()
        for i in range(4):  # deterministic 4-way split, one file per shard
            sharded.where(F.col("shard") == i).drop("shard").coalesce(1).write.mode(
                "append"
            ).parquet(src)
    finally:
        sharded.unpersist(blocking=True)
    stream = spark.readStream.schema(batch.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = start_incremental_view(
        stream, ["event_type"], f"{base}/view", f"{base}/ckpt"
    )
    q.awaitTermination()
    # The returned frame reads only the view; the shard copy of events
    # and the checkpoint are spent once the drain has ended.
    shutil.rmtree(src)
    shutil.rmtree(f"{base}/ckpt")
    return (
        spark.read.parquet(f"{base}/view")
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            (F.floor((F.col("sv")) * 100 + F.lit(0.5)) / 100).alias("sv"),
        )
        .orderBy("event_type")
    )


STREAM_INCREMENTAL_MV_SQL = """
SELECT event_type, COUNT(*) AS n, FLOOR((SUM(value)) * 100 + 0.5) / 100 AS sv
FROM events GROUP BY 1 ORDER BY 1
"""


def stream_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged query (rows-only): watermarked daily windows of
    approximate distinct users per event type — the streaming twin of
    e18's HLL distinct and the sketch the mergeable rollup
    (sketch_rollup) serves in batch.

    Exact streaming count-distinct would keep every seen user id in the
    state store (state ∝ cardinality — unbounded on a 100 TB firehose);
    the HLL++ aggregate keeps a fixed-size sketch per (type, window)
    instead, and the watermark expires whole windows. That state-size
    contract, not the estimate itself, is what this operator pins;
    the estimate-vs-exact bound is pytest-checked like e18's.
    """
    sketches = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy("event_type", F.window("ts", "1 day").alias("win"))
        .agg(F.approx_count_distinct("user_id").alias("approx_users"))
        .select("event_type", F.col("win.start").alias("w"), "approx_users")
    )
    out = run_to_memory(sketches, "complete", {**_STATE_SHUFFLE, **_NO_DATA_BATCH_OFF})
    return out.orderBy("event_type", "w")


# Rollup cutoff for the outer join: far enough before the stream's end
# (Jan 30) that the final watermark has flushed every unmatched click
# at or before it — the deterministic-comparison region.
OUTER_JOIN_CUTOFF = "2024-01-25 00:00:00"


def stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged query: watermarked stream-stream LEFT OUTER interval join
    — attribution including the negatives (clicks with NO purchase
    within the hour), the class stream_join's inner form cannot emit.
    The semantics are the reason this is its own operator: an unmatched
    click can only be emitted once the watermark proves no future
    purchase can still match (click_ts + interval < watermark), so
    null-match rows surface late, driven by state expiry — the join
    condition's time bound is what makes both the expiry and the nulls
    well-defined. State is bounded exactly as in the inner join.

    The rollup compares only clicks at or before {cutoff}: the stream
    ends Jan 30 and the global watermark stops 2h short of the last
    event, so clicks in the final hours are legitimately still open in
    state when the replay ends — excluded identically on both engines
    rather than hand-waved.
    """
    clicks, purchases = _clicks_and_purchases(spark, sf_dir)
    rows = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purch_ts") >= F.col("click_ts"))
        & (F.col("purch_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select("user_id", "click_id", "purch_id", "click_ts")
    return (
        run_to_memory(rows, "append", _STATE_SHUFFLE)
        .where(F.col("click_ts") < F.lit(OUTER_JOIN_CUTOFF).cast("timestamp"))
        .groupBy(F.date_trunc("day", F.col("click_ts")).alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("purch_id").alias("n_matched"),
            (F.count(F.lit(1)) - F.count("purch_id")).alias("n_unmatched"),
        )
        .orderBy("day")
    )


STREAM_OUTER_JOIN_SQL = f"""
WITH c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
           FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, event_id AS purch_id, ts AS purch_ts
      FROM events WHERE event_type = 'purchase')
SELECT date_trunc('day', c.click_ts) AS day,
       COUNT(*) AS n_rows,
       COUNT(p.purch_id) AS n_matched,
       COUNT(*) - COUNT(p.purch_id) AS n_unmatched
FROM c LEFT JOIN p
  ON c.user_id = p.user_id
 AND p.purch_ts >= c.click_ts
 AND p.purch_ts <= c.click_ts + INTERVAL 1 HOUR
WHERE c.click_ts < TIMESTAMP '{OUTER_JOIN_CUTOFF}'
GROUP BY 1 ORDER BY 1
"""


def stream_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged query: CHAINED stateful aggregations in one streaming
    query — hourly tumbling counts per event type, re-aggregated into
    daily totals downstream of the first stateful operator. Two state
    stores in one pipeline: the hourly window closes under the
    watermark and its emission feeds the daily window via
    `window_time()` (the event-time column of a finished window), the
    pre-aggregation pattern that keeps a day of state at hour
    granularity instead of buffering raw events all day. Append mode —
    a daily row emits only when the watermark proves its hours final.
    """
    hourly = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("hw"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
    )
    daily = (
        hourly.groupBy(
            F.window(F.window_time("hw"), "1 day").alias("dw"), "event_type"
        )
        .agg(
            F.sum("n").alias("n"),
            (F.floor((F.sum("sv")) * 100 + F.lit(0.5)) / 100).alias("sv"),
            F.count(F.lit(1)).alias("n_hours"),
        )
        .select(
            "event_type", F.col("dw.start").alias("day"), "n", "sv", "n_hours"
        )
    )
    # append mode withholds the final (unclosed) day per type; compare
    # the closed-day region — identical cutoff logic on both engines
    return (
        run_to_memory(daily, "append", _STATE_SHUFFLE)
        .where(F.col("day") < F.lit(OUTER_JOIN_CUTOFF).cast("timestamp"))
        .orderBy("event_type", "day")
    )


STREAM_TWO_LEVEL_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         COUNT(*) AS n, SUM(value) AS sv
  FROM events GROUP BY 1, 2)
SELECT event_type, date_trunc('day', h) AS day,
       CAST(SUM(n) AS BIGINT) AS n, FLOOR((SUM(sv)) * 100 + 0.5) / 100 AS sv,
       COUNT(*) AS n_hours
FROM hourly
WHERE date_trunc('day', h) < TIMESTAMP '{OUTER_JOIN_CUTOFF}'
GROUP BY 1, 2 ORDER BY 1, 2
"""


def stream_update_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged query: per-user lifetime totals as an UPDATE-mode
    unwindowed streaming aggregate — the third output-mode class next
    to complete (stream_e1) and append (the watermarked queries).
    Update mode emits only the keys a micro-batch changed, which is
    what makes an unwindowed (never-closing) aggregate usable: state is
    one row per user forever, emission is per-change, and the sink
    keeps the latest row per key. Money rides integer cents inside the
    aggregate so the totals are exact on any engine.
    """
    totals = events_stream(spark, sf_dir).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
            / 100
        ).alias("sv"),
    )
    # The memory sink appends each update. Only the event COUNT is
    # guaranteed monotone across updates; the money sum is not (a refund
    # / negative value would make max(sv) pick an intermediate total),
    # so recover the sv that belongs to the LATEST update via max_by on
    # the count rather than max of the value.
    return (
        run_to_memory(totals, "update", _STATE_SHUFFLE)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("sv", "n_events").alias("sv"),
        )
        .orderBy("user_id")
    )


STREAM_UPDATE_TOTALS_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR((value * 100) * 1 + 0.5) / 1 AS BIGINT)) AS DOUBLE) / 100 AS sv
FROM events GROUP BY user_id ORDER BY user_id
"""


QUERIES = {
    "stream_update_totals": stream_update_totals,
    "stream_two_level": stream_two_level,
    "stream_outer_join": stream_outer_join,
    "stream_enrich": stream_enrich,
    "stream_e1": stream_e1,
    "stream_sliding": stream_sliding,
    "stream_dedup": stream_dedup,
    "stream_join": stream_join,
    "stream_session": stream_session,
    "stream_stateful": stream_stateful,
    "stream_approx_distinct": stream_approx_distinct,
    "stream_incremental_mv": stream_incremental_mv,
}
ORACLES = {
    "stream_update_totals": STREAM_UPDATE_TOTALS_SQL,
    "stream_two_level": STREAM_TWO_LEVEL_SQL,
    "stream_outer_join": STREAM_OUTER_JOIN_SQL,
    "stream_incremental_mv": STREAM_INCREMENTAL_MV_SQL,
    "stream_approx_distinct": None,  # HLL estimate: rows-only; bound-tested in pytest
    "stream_enrich": STREAM_ENRICH_SQL,
    "stream_e1": STREAM_E1_SQL,
    "stream_sliding": STREAM_SLIDING_SQL,
    "stream_dedup": STREAM_DEDUP_SQL,
    "stream_join": STREAM_JOIN_SQL,
    "stream_session": STREAM_SESSION_SQL,
    "stream_stateful": STREAM_STATEFUL_SQL,
}
