"""Structured Streaming: watermarked windows (batch-equivalent) and the
custom stateful sessionization operator."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from dask_distributed_vanilla_spark.operators.events import e5
from dask_distributed_vanilla_spark.session import scoped_conf
from dask_distributed_vanilla_spark.streaming.events_stream import (
    STREAM_E1_SQL,
    STREAM_JOIN_SQL,
    events_stream,
    run_to_memory,
    stream_e1,
    stream_join,
)
from dask_distributed_vanilla_spark.streaming.stateful import sessionize_stream
from tests.conftest import SF_SMOKE, assert_matches_oracle


def test_stream_e1_equals_batch(spark):
    got = {tuple(r) for r in stream_e1(spark, SF_SMOKE).collect()}
    want = {
        tuple(r)
        for r in spark.sql(
            """SELECT event_type, date_trunc('hour', ts) w, COUNT(*) n,
                      ROUND(SUM(value),2) sv
               FROM {ev} GROUP BY 1,2""",
            ev=__import__(
                "dask_distributed_vanilla_spark.catalog", fromlist=["load_table"]
            ).load_table(spark, SF_SMOKE, "events"),
        ).collect()
    }
    assert got == want


def test_stateful_sessionization(spark):
    """Replay the fixture through applyInPandasWithState; closed sessions
    must agree with the batch E5 sessionization on (count, sum)."""
    got = run_to_memory(sessionize_stream(events_stream(spark, SF_SMOKE)), "append", {})
    batch = e5(spark, SF_SMOKE)

    # single availableNow replay closes only sessions followed by a >gap
    # jump within the batch — all closed sessions must exist in the batch
    # result with identical (user_id, n_events, sv)
    got_set = {(r.user_id, r.n_events, round(r.sv, 2)) for r in got.collect()}
    batch_set = {(r.user_id, r.n_events, r.sv) for r in batch.collect()}
    assert got_set, "no sessions closed — fixture should contain >30min gaps"
    assert got_set <= batch_set
    # and cover most multi-session users (all but each user's last session)
    batch_minus_last = {}
    for r in batch.collect():
        batch_minus_last[r.user_id] = batch_minus_last.get(r.user_id, 0) + 1
    expected_closed = sum(v - 1 for v in batch_minus_last.values())
    assert len(got_set) >= expected_closed * 0.9


def test_windowed_counts_watermark_drops_late(spark):
    """Watermark semantics: with update mode + tight watermark the stream
    still processes (smoke for the watermark plumbing)."""
    from dask_distributed_vanilla_spark.streaming.events_stream import windowed_counts

    windows = windowed_counts(events_stream(spark, SF_SMOKE), watermark="10 minutes")
    assert run_to_memory(windows, "update", {}).count() > 0


def test_foreach_batch_exactly_once_parquet(spark, tmp_path):
    """The foreachBatch epoch sink: (1) a full availableNow drain lands
    every source row exactly once; (2) resuming from the same checkpoint
    reprocesses nothing; (3) a replayed epoch overwrites its own
    partition instead of appending — the idempotence that turns
    at-least-once delivery into exactly-once results."""
    from dask_distributed_vanilla_spark.catalog import load_table
    from dask_distributed_vanilla_spark.streaming import sinks

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src = events_stream(spark, SF_SMOKE).select("event_id", "user_id", "value")

    q = sinks.start_exactly_once_parquet(src, out, ckpt)
    q.awaitTermination()
    n_src = load_table(spark, SF_SMOKE, "events").count()
    landed = spark.read.parquet(out)
    assert landed.count() == n_src
    assert landed.select("event_id").distinct().count() == n_src

    # resume with the same checkpoint: offsets say everything is done
    q2 = sinks.start_exactly_once_parquet(src, out, ckpt)
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == n_src

    # simulate an epoch retry: re-landing epoch 0 must not duplicate
    batch0 = spark.read.parquet(out).where(F.col(sinks.EPOCH_COL) == 0).drop(
        sinks.EPOCH_COL
    )
    sinks.write_epoch(batch0, 0, out)
    assert spark.read.parquet(out).count() == n_src


def test_stream_approx_distinct_error_bound(spark):
    """The streaming HLL windows must estimate within the sketch's
    error envelope of the exact batch distinct count per (type, day)."""
    from dask_distributed_vanilla_spark.streaming.events_stream import (
        stream_approx_distinct,
    )
    from tests.conftest import SF_SMOKE

    approx = {
        (r.event_type, r.w): r.approx_users
        for r in stream_approx_distinct(spark, SF_SMOKE).collect()
    }
    exact = {
        (r.event_type, r.w): r.n
        for r in spark.sql(
            f"SELECT event_type, date_trunc('day', ts) AS w,"
            f" count(DISTINCT user_id) AS n FROM"
            f" parquet.`{SF_SMOKE}/events.parquet` GROUP BY 1, 2"
        ).collect()
    }
    assert set(approx) == set(exact)
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(3, 0.15 * n), (k, approx[k], n)


def test_incremental_view_epoch_replay_is_noop(spark, tmp_path):
    """Re-delivering an already-applied epoch must not double-count:
    the applied-epoch watermark makes the merge idempotent — the
    exactly-once contract of the incremental materialized view."""
    from dask_distributed_vanilla_spark.streaming.sinks import (
        merge_epoch_into_view,
    )

    view = str(tmp_path / "mv")
    b0 = spark.createDataFrame([("a", 2, 10.0), ("b", 1, 5.0)], "k string, n long, sv double")
    b1 = spark.createDataFrame([("a", 1, 1.0)], "k string, n long, sv double")
    merge_epoch_into_view(b0, 0, view, ["k"])
    merge_epoch_into_view(b1, 1, view, ["k"])
    merge_epoch_into_view(b1, 1, view, ["k"])  # replay: must be a no-op
    merge_epoch_into_view(b1, 0, view, ["k"])  # stale epoch: also a no-op
    got = {r.k: (r.n, r.sv) for r in spark.read.parquet(view).collect()}
    assert got == {"a": (3, 11.0), "b": (1, 5.0)}


def test_incremental_mv_releases_its_cached_blocks(spark, oracle):
    """stream_incremental_mv caches the sharded events table only while
    it writes the shards: no cached RDD outlives the query, and the view
    still matches its oracle."""
    from dask_distributed_vanilla_spark.streaming.events_stream import (
        STREAM_INCREMENTAL_MV_SQL,
        stream_incremental_mv,
    )

    jsc = spark.sparkContext._jsc.sc()
    before = {i.id() for i in jsc.getRDDStorageInfo()}
    dirs_before = set(_tmp_entries("stream_mv_"))
    got = stream_incremental_mv(spark, SF_SMOKE).toPandas()
    after = {i.id() for i in jsc.getRDDStorageInfo()}
    assert after - before == set()
    want = oracle.execute(STREAM_INCREMENTAL_MV_SQL).fetchdf()
    assert_matches_oracle(got, want, "stream_incremental_mv")
    # the shard copy of events and the checkpoint are gone; only the
    # view the returned frame reads is left
    (new,) = set(_tmp_entries("stream_mv_")) - dirs_before
    base = os.path.join(tempfile.gettempdir(), new)
    assert os.listdir(base) == ["view"]
    shutil.rmtree(base)


def test_checkpoint_restart_processes_only_new_files(spark, tmp_path):
    """Restart-with-growth: after a drain completes, a NEW source file
    arrives and the stream restarts from the same checkpoint — the
    second run must process exactly the new file (incremental offsets),
    never re-land the old epochs, and the combined sink must equal one
    batch read of the whole directory. This is the daily-ingest loop:
    each restart picks up the delta, exactly once."""
    import os

    from dask_distributed_vanilla_spark.streaming import sinks

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    spark.range(0, 100).toDF("id").write.parquet(f"{src_dir}/f1.parquet")
    stream = spark.readStream.schema("id long").parquet(f"{src_dir}/*")

    q = sinks.start_exactly_once_parquet(stream, out, ckpt)
    q.awaitTermination()
    assert spark.read.parquet(out).count() == 100
    epochs_before = set(
        spark.read.parquet(out).select(sinks.EPOCH_COL).distinct().toPandas()[
            sinks.EPOCH_COL
        ]
    )

    spark.range(100, 130).toDF("id").write.parquet(f"{src_dir}/f2.parquet")
    q2 = sinks.start_exactly_once_parquet(stream, out, ckpt)
    q2.awaitTermination()

    landed = spark.read.parquet(out)
    assert landed.count() == 130
    assert landed.select("id").distinct().count() == 130
    # the restart landed only NEW epochs — old epoch partitions untouched
    new_epochs = (
        set(landed.select(sinks.EPOCH_COL).distinct().toPandas()[sinks.EPOCH_COL])
        - epochs_before
    )
    assert new_epochs  # progressed
    assert (
        landed.where(F.col(sinks.EPOCH_COL).isin(list(new_epochs))).count() == 30
    )


def test_rocksdb_state_store_matches_default(spark):
    """The disk-backed RocksDB state store — the provider a production
    deployment runs so streaming state is bounded by SSD, not executor
    heap — must produce byte-identical windowed aggregates to the
    default in-memory HDFS-backed provider."""
    from dask_distributed_vanilla_spark.plans.canonical import canonical
    from dask_distributed_vanilla_spark.streaming.events_stream import stream_e1

    base = stream_e1(spark, SF_SMOKE).toPandas()

    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rocks = stream_e1(spark, SF_SMOKE).toPandas()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert canonical(base) == canonical(rocks)


def test_watermark_bounds_join_state(spark, tmp_path):
    """The scale contract of the stream-stream join, measured: replay
    the events as ten chronological files so the watermark advances
    batch by batch — the time-bounded interval join must EXPIRE state,
    holding peak state rows FAR below the total matched-type rows
    ingested (an unbounded-state join retains them all)."""
    import time
    import uuid

    # ten chronological chunks -> ten micro-batches, watermark advancing
    src = str(tmp_path / "chunks")
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    ts_type = dict(ev.dtypes)["ts"]
    if ts_type == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    n = ev.count()
    chunk = (n + 9) // 10
    rows = ev.orderBy("ts").collect()
    for i in range(10):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            spark.createDataFrame(part, ev.schema).coalesce(1).write.parquet(
                f"{src}/f{i:02d}.parquet"
            )
    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(f"{src}/*")
    if dict(stream.dtypes)["ts"] != "timestamp":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))

    clicks = (
        stream.where(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purch_id"),
            F.col("ts").alias("purch_ts"),
        )
        .withWatermark("purch_ts", "2 hours")
    )
    sink = f"state_bound_{uuid.uuid4().hex[:8]}"
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
        q = (
            clicks.join(
                purchases,
                (F.col("user_id") == F.col("p_user_id"))
                & (F.col("purch_ts") >= F.col("click_ts"))
                & (F.col("purch_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        peak_state = 0
        while q.isActive:
            p = q.lastProgress
            if p and p.get("stateOperators"):
                peak_state = max(
                    peak_state, p["stateOperators"][0].get("numRowsTotal", 0)
                )
            time.sleep(0.5)
        q.awaitTermination()
        p = q.lastProgress
        if p and p.get("stateOperators"):
            peak_state = max(peak_state, p["stateOperators"][0].get("numRowsTotal", 0))

    joined_type_rows = ev.where(
        F.col("event_type").isin("click", "purchase")
    ).count()
    assert peak_state > 0  # the join kept some state
    # the stream spans ~30 days; a 2h watermark + 1h interval keeps only
    # a sliver of it alive at once — far below retain-everything
    assert peak_state < joined_type_rows / 2


def test_transform_with_state_totals(spark):
    """Spark 4's transformWithState arbitrary-state API (typed
    ValueState + init/close lifecycle): per-user lifetime totals with
    money in integer cents must equal the batch GROUP BY. The worker
    protocol needs google.protobuf, absent from this container — the
    test gates on the documented runtime flag and runs on any standard
    cluster image."""
    import pytest

    from dask_distributed_vanilla_spark.streaming.stateful import (
        HAVE_TWS_RUNTIME,
        RunningTotalsProcessor,
    )

    if not HAVE_TWS_RUNTIME:
        pytest.skip("transformWithState worker needs google.protobuf (absent here)")

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sv", DoubleType()),
        ]
    )
    totals = (
        events_stream(spark, SF_SMOKE)
        .select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningTotalsProcessor(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )
    got = {
        r["user_id"]: (r["n_events"], r["sv"])
        for r in run_to_memory(totals, "update", {"spark.sql.shuffle.partitions": "4"})
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("sv").alias("sv"))
        .collect()
    }
    want = {
        r["user_id"]: (r["n"], r["sv"])
        for r in spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100
            ).alias("sv"),
        )
        .collect()
    }
    assert got == want


def _tmp_entries(prefix):
    return [e for e in os.listdir(tempfile.gettempdir()) if e.startswith(prefix)]


def test_stream_relative_sf_dir_matches_oracle(spark, oracle, monkeypatch):
    """A relative fixture dir resolves like a batch read does: from the
    working directory the JVM was started in. A one-source query and a
    two-source join must both read the whole fixture, not an empty
    stream."""
    cwd = spark._jvm.System.getProperty("user.dir")
    monkeypatch.chdir(cwd)
    rel = os.path.relpath(SF_SMOKE, cwd)
    assert not os.path.isabs(rel)
    for build, sql in ((stream_e1, STREAM_E1_SQL), (stream_join, STREAM_JOIN_SQL)):
        got = build(spark, rel).toPandas()
        assert_matches_oracle(got, oracle.execute(sql).fetchdf(), build.__name__)


def test_stream_queries_leave_nothing_behind(spark, oracle):
    """A memory-sink stream query leaves no temp view, no temp dir and no
    running stream; its returned frame still reads the sink's rows after
    the view is dropped."""

    def footprint():
        views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        return views, set(_tmp_entries("events_stream_")), len(spark.streams.active)

    before = footprint()
    results = [(stream_e1(spark, SF_SMOKE), STREAM_E1_SQL), (stream_join(spark, SF_SMOKE), STREAM_JOIN_SQL)]
    assert footprint() == before
    for df, sql in results:
        assert_matches_oracle(df.toPandas(), oracle.execute(sql).fetchdf())
