"""The catalog's memos: a parquet file's schema is inferred once per file
version, session and inference conf; the spread() partition probe is
keyed on the session's applicationId."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from dask_distributed_vanilla_spark.catalog import load_table
from dask_distributed_vanilla_spark.session import scoped_conf
from tests.conftest import SF_SMOKE, _ROOT


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_file_rewritten_in_place_is_read_with_its_new_schema(spark, tmp_path, layout):
    """A directory's own stat does not change when a file inside it is
    rewritten, so a directory must not be served a memoized schema."""
    data = tmp_path / "t.parquet"
    if layout == "directory":
        data.mkdir()
        data = data / "part-0.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), data)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), data)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_missing_table_raises_sparks_error(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), "absent")


def test_changed_inference_conf_is_not_served_the_old_schema(spark, tmp_path):
    """A parquet BINARY column without a string annotation infers as
    binary or string depending on `spark.sql.parquet.binaryAsString`."""
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), tmp_path / "t.parquet")
    for as_string, dtype in (("false", "binary"), ("true", "string"), ("false", "binary")):
        with scoped_conf(spark, {"spark.sql.parquet.binaryAsString": as_string}):
            assert load_table(spark, str(tmp_path), "t").dtypes == [("b", dtype)]


def test_each_load_is_a_fresh_scan(spark):
    """Only the schema is memoized: two loads of one table carry distinct
    attribute ids, so a self-join condition compares two scans (Q21's
    three lineitem reads) instead of a column with itself."""
    a = load_table(spark, SF_SMOKE, "nation")
    b = load_table(spark, SF_SMOKE, "nation")
    assert a.join(b, a["n_nationkey"] == b["n_regionkey"]).count() == 25


def test_warm_b9_build_launches_no_jobs(spark):
    from dask_distributed_vanilla_spark.operators.tpch_full import b9

    b9(spark, SF_SMOKE)  # the first build may infer each table's schema
    sc = spark.sparkContext
    group = f"warm-b9-build-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "warm b9 build")
    try:
        b9(spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


_RESTART = textwrap.dedent(
    """
    import gc
    from pyspark.sql import SparkSession
    from dask_distributed_vanilla_spark.catalog import load_table, spread

    def narrow(max_partition_bytes):
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.files.maxPartitionBytes", max_partition_bytes)
            .getOrCreate()
        )
        df = load_table(spark, {sf!r}, "nation")
        return spark, spread(df) is not df

    # One split per small file: a 1-partition scan, narrower than 2 cores.
    spark, repartitioned = narrow("128m")
    assert repartitioned
    spark.stop()
    del spark
    gc.collect()
    # Same plan, new session whose scan splits wider than its cores: the
    # first session's partition count must not decide.
    spark, repartitioned = narrow("64")
    assert not repartitioned
    spark.stop()
    """
)


def test_spread_memo_not_reused_after_session_restart():
    env = dict(os.environ, PYTHONPATH=f"{_ROOT}:" + os.environ.get("PYTHONPATH", ""))
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART.format(sf=SF_SMOKE)],
        cwd=_ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
