"""Python workers run under the engine's daemon (``_daemon.py``): a task
must not re-read pyspark.zip's directory, and the daemon must start
whatever the driver's working directory."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from tests.conftest import _ROOT


def test_task_start_keeps_pyspark_zip_directory(spark):
    """pyspark's worker calls importlib.invalidate_caches() at the start
    of every task; under the engine's daemon that must leave the
    pyspark.zip importer's directory as it is, not re-read it."""

    def probe(_):
        import importlib
        import zipimport

        loader = sys.modules["pyspark"].__spec__.loader
        if sys.version_info >= (3, 13) or not isinstance(loader, zipimport.zipimporter):
            return None
        key = "__ddvs_sentinel__"
        loader._files[key] = None
        try:
            importlib.invalidate_caches()
            return key in loader._files
        finally:
            loader._files.pop(key, None)

    kept = spark.sparkContext.parallelize([0], 1).map(probe).collect()[0]
    if kept is None:
        pytest.skip("workers do not import pyspark from a zip, or Python >= 3.13")
    assert kept


def test_daemon_starts_from_any_working_directory(tmp_path):
    """With PYTHONPATH unset and a cwd outside the repo, the workers of a
    get_spark session still find the daemon module and run a job."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(_ROOT)!r})
        from dask_distributed_vanilla_spark.session import get_spark
        spark = get_spark("daemon_cwd", master="local[2]")
        print("SUM", spark.sparkContext.parallelize(range(4), 2).map(lambda x: x * 2).sum())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "SUM 12" in out.stdout
