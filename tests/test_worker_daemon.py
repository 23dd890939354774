"""The package's Python worker daemon (``worker_daemon``): reused
workers keep their zip-archive directories across tasks, and files
added with ``addPyFile`` after a task has run still import."""

import sys
import uuid
import zipfile

import pyarrow as pa
import pytest

from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark import (
    session,
)

PKG = session.__package__


def _one_task(spark, fn):
    """Run ``fn()`` -> str in one Arrow task; returns (worker pid, result)."""

    def kernel(batches):
        import os

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "out": [fn()]},
            schema=pa.schema([("pid", pa.int64()), ("out", pa.string())]),
        )

    # collect, not first(): a task whose output is read to the end
    # hands its worker back for reuse
    (row,) = (
        spark.range(1, numPartitions=1)
        .mapInArrow(kernel, "pid bigint, out string")
        .collect()
    )
    return row["pid"], row["out"]


def test_get_spark_sets_the_daemon_module(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == f"{PKG}.worker_daemon"


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ invalidates zipimporters lazily; the shim is off",
)
def test_reused_worker_keeps_its_zip_directories(spark):
    """Two tasks in one reused worker see the same directory dicts:
    the archives were not re-read between them."""

    def zip_cache_ids():
        import zipimport

        cache = sorted(zipimport._zip_directory_cache.items())
        return ",".join(f"{path}={id(files)}" for path, files in cache)

    seen = {}
    for _ in range(24):
        pid, ids = _one_task(spark, zip_cache_ids)
        assert ids, "workers import pyspark from pyspark.zip"
        if pid in seen:
            assert ids == seen[pid]
            return
        seen[pid] = ids
    pytest.fail(f"no worker was reused over {len(seen)} tasks")


def test_files_added_after_a_task_are_importable(spark, tmp_path):
    """A ``.py`` and a ``.zip`` added with ``addPyFile`` once a worker
    has run a task are importable in that worker's next task."""
    tag = uuid.uuid4().hex[:12]
    py_mod, zip_mod = f"late_py_{tag}", f"late_zip_{tag}"
    warm = {_one_task(spark, lambda: "")[0] for _ in range(4)}

    py_path = tmp_path / f"{py_mod}.py"
    py_path.write_text("VALUE = 'from-py'\n")
    zip_path = tmp_path / f"{zip_mod}.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        zf.writestr(f"{zip_mod}.py", "VALUE = 'from-zip'\n")
    sc = spark.sparkContext
    sc.addPyFile(str(py_path))
    sc.addPyFile(str(zip_path))

    def load():
        import importlib

        return ",".join(
            importlib.import_module(m).VALUE for m in (py_mod, zip_mod)
        )

    for _ in range(24):
        pid, out = _one_task(spark, load)
        assert out == "from-py,from-zip"
        if pid in warm:
            return
    pytest.fail(f"none of the warm workers {sorted(warm)} ran again")

