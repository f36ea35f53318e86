"""Streaming sinks beyond the in-memory test sink: an exactly-once
parquet sink built on foreachBatch.

Structured Streaming's file sink is append-only; the production pattern
for transactional targets is ``foreachBatch`` + an idempotent write
keyed by the micro-batch epoch. Re-delivery of an epoch after a failure
re-runs the same write, and because each epoch owns its partition and
the write is a dynamic partition overwrite, the retry replaces its own
output instead of duplicating it — at-least-once delivery plus an
idempotent sink = exactly-once results.

At scale the same shape targets a lakehouse table (MERGE keyed by epoch
or transactional REPLACE WHERE); the parquet partition-overwrite here is
the dependency-free equivalent with the identical retry contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EPOCH_COL = "_epoch"


def write_epoch(batch_df: DataFrame, batch_id: int, path: str) -> None:
    """Idempotently land one micro-batch: the epoch column is the
    partition key, and dynamic partition overwrite makes a replay of the
    same batch_id replace exactly its own files."""
    (
        batch_df.withColumn(EPOCH_COL, F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(EPOCH_COL)
        .parquet(path)
    )


def start_exactly_once_parquet(stream_df: DataFrame, path: str, checkpoint: str):
    """Run `stream_df` into a parquet directory with exactly-once
    results: offsets tracked in `checkpoint`, epochs landed via
    `write_epoch`. Returns the StreamingQuery (availableNow — drains
    what exists, then stops; a live deployment drops the trigger)."""
    return (
        stream_df.writeStream.foreachBatch(
            lambda df, epoch: write_epoch(df, epoch, path)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance
# ---------------------------------------------------------------------------

MV_EPOCH_COL = "_applied_epoch"


def merge_epoch_into_view(
    batch_df: DataFrame, batch_id: int, view_path: str, keys: list[str]
) -> None:
    """Fold one micro-batch of per-key partial aggregates (`n`, `sv`)
    into the materialized view at `view_path`.

    Exactly-once across retries WITHOUT epoch-partitioned storage: the
    view records the highest applied epoch, and a re-delivered epoch
    (<= that watermark) is a no-op — the transactional version-check
    every lakehouse MERGE does. The merged view is cached and filled
    before the overwrite so the write never re-reads the files it is
    replacing, and released after it; the view stays aggregate-sized
    (|keys| rows), so maintenance cost is O(delta + view), never
    O(history).
    """
    from dask_distributed_vanilla_spark.session import ITER_LOOP_AQE, scoped_conf

    spark = batch_df.sparkSession
    # Epoch folds are view-sized (|keys| rows in, |keys| rows out), so
    # the merge shuffle is pre-sized to a handful of partitions and AQE
    # stage re-planning is scoped off — the same per-round-latency trade
    # as the iterative label loops (session.ITER_LOOP_AQE), paid once
    # per epoch here.
    with scoped_conf(
        spark,
        {
            "spark.sql.shuffle.partitions": "4",
            "spark.sql.adaptive.enabled": ITER_LOOP_AQE,
        },
    ):
        try:
            current = spark.read.parquet(view_path)
            applied = current.agg(F.max(MV_EPOCH_COL).alias("e")).collect()[0].e
            if applied is not None and batch_id <= applied:
                return  # epoch replay after failure: already folded in
            merged = (
                current.drop(MV_EPOCH_COL)
                .unionByName(batch_df)
                .groupBy(*keys)
                .agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
            )
        except Exception:  # first epoch: no view yet
            merged = batch_df.groupBy(*keys).agg(
                F.sum("n").alias("n"), F.sum("sv").alias("sv")
            )
        out = merged.withColumn(MV_EPOCH_COL, F.lit(int(batch_id))).cache()
        try:
            out.count()
            out.write.mode("overwrite").parquet(view_path)
        finally:
            out.unpersist(blocking=True)


def start_incremental_view(
    stream_df: DataFrame, keys: list[str], view_path: str, checkpoint: str
):
    """Maintain a per-key (n, sv) materialized view over the stream.

    The per-batch partial aggregate runs INSIDE foreachBatch on the raw
    micro-batch — deliberately NOT as a streaming groupBy, whose
    complete/update modes emit cumulative state and would double-count
    under a merge. The view itself is the only aggregation state, so no
    stream state store exists at all; each epoch reduces its delta
    executor-side and merges under the epoch watermark.
    """

    def fold(df: DataFrame, epoch: int) -> None:
        partial = df.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv")
        )
        merge_epoch_into_view(partial, epoch, view_path, keys)

    return (
        stream_df.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
