"""SparkSession construction.

The reference creates a bare session with Delta extensions configured
but unused (``emr_json_parquet_schema_drift_etl.py:287-292`` — the sink
write at :340-343 uses the default parquet source). Our builder targets
modern Spark (4.x): AQE on, Arrow on, UTC, shuffle partitions sized to
the machine instead of the 200 default.

Python workers start from this package's ``worker_daemon`` module
(``spark.python.daemon.module``) instead of ``pyspark.daemon``. Before
CPython 3.13, ``pyspark.daemon`` re-reads the directory of every zip
archive on the workers' path at the start of every task (~26.7k
entries over ~16 importers) and keeps one copy per importer; the
module skips that re-read and changes nothing else (see its
docstring). It therefore has to be importable on the workers, like
every Python function this package ships to them.

Janino's generated-class cache (``spark.sql.codegen.cache.maxEntries``,
a static conf) holds 1000 classes instead of 100. One
``stream_events`` pass compiles about 140 distinct classes and a cold
``llm_curation`` pass about 140 more; at 100 entries the LRU evicted
each pass's classes before the next pass, so every warm pass paid
Janino compiles again (62-121 per ``stream_events`` pass). With the
working set resident, warm passes compile nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "emr_etl_spark_engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults are tuned for local[N] testing but every knob matters at
    cluster scale too: AQE coalesces post-shuffle partitions and
    re-plans skew joins at runtime; ``maxPartitionBytes`` keeps scan
    tasks memory-bounded; auto-broadcast keeps dimension joins
    shuffle-free.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Wide aggregates (64-hash minhash signatures, 64-bit simhash
        # votes) exceed the default codegen field limit (100), which
        # silently drops whole-stage codegen and runs interpreted —
        # measured 11x slower. Raise the cap so wide-but-flat plans
        # stay compiled.
        .config("spark.sql.codegen.maxFields", "2000")
        # Hold a pass's generated classes (~140 per stream_events
        # pass, ~140 per cold llm_curation pass; see module docstring).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
