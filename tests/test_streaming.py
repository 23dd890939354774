"""Structured-Streaming ingest tests (SURVEY §2.K consequence: the
reference is batch-only; the stream form must reproduce its
flatten → partitioned-parquet → archive semantics idiomatically)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.streaming.ingest import (
    run_available_now,
    stream_ingest,
    windowed_event_counts,
)

RECORDS = [
    {
        "customerid": "c1",
        "vehicle": "v1",
        "category": "cat1",
        "tts": 1704103200,
        "location": {"lat": 1.0, "lon": 2.0},
        "tags": ["a", "b"],
    },
    {
        "customerid": "c2",
        "vehicle": "v1",
        "category": "cat1",
        "tts": 1704189600,
        "location": {"lat": 3.0, "lon": 4.0},
        "tags": ["c"],
    },
]


def _write_json(path, records):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for r in records:
            fh.write(json.dumps(r) + "\n")


def test_stream_ingest_available_now_with_archive(spark, tmp_path):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    chk = str(tmp_path / "chk")
    arc = str(tmp_path / "arc")
    _write_json(os.path.join(src, "b1.json"), RECORDS)

    # Streams need an explicit schema: infer once from the batch
    # reader (the production path would pin this).
    schema = spark.read.json(src).schema

    query = stream_ingest(
        spark,
        source_path=src,
        sink_path=sink,
        checkpoint_path=chk,
        schema=schema,
        archive_path=arc,
    )
    run_available_now(query)

    out = spark.read.parquet(sink)
    # 2 records: rec1 × 2 tags + rec2 × 1 tag = 3 rows
    assert out.count() == 3
    assert {"locationLat", "locationLon", "tags", "row_insert_date"} <= set(
        out.columns
    )
    # partitioned layout written by the stream
    assert os.path.isdir(
        os.path.join(sink, "customerid=c1", "vehicle=v1", "category=cat1")
    )

    # second AvailableNow run with a new file: checkpoint means only
    # the new file is processed (exactly-once ledger)
    _write_json(
        os.path.join(src, "b2.json"),
        [dict(RECORDS[1], customerid="c3", tags=["d"])],
    )
    query2 = stream_ingest(
        spark,
        source_path=src,
        sink_path=sink,
        checkpoint_path=chk,
        schema=schema,
        archive_path=arc,
    )
    run_available_now(query2)
    assert spark.read.parquet(sink).count() == 4


def test_stateful_sessionize_across_microbatches(spark, tmp_path):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.streaming.ingest import (
        sessionize_stateful,
    )

    src = str(tmp_path / "sess")
    schema = "user_id long, ts timestamp"
    # user 1: two sessions (gap > 30 min); user 2: one session
    _write_json(
        os.path.join(src, "b1.json"),
        [
            {"user_id": 1, "ts": "2024-01-01T10:00:00"},
            {"user_id": 1, "ts": "2024-01-01T10:10:00"},
            {"user_id": 1, "ts": "2024-01-01T12:00:00"},
            {"user_id": 2, "ts": "2024-01-01T09:00:00"},
        ],
    )
    stream_df = spark.readStream.schema(schema).json(src)
    q = (
        sessionize_stateful(stream_df)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    assert got[1] == (2, 3)
    assert got[2] == (1, 1)


def test_windowed_event_counts_streaming_matches_batch(spark, tmp_path):
    src = str(tmp_path / "events")
    events = [
        {"ts": "2024-01-01T10:01:00", "event_type": "click", "value": 1.0},
        {"ts": "2024-01-01T10:04:00", "event_type": "click", "value": 2.0},
        {"ts": "2024-01-01T10:12:00", "event_type": "view", "value": 3.0},
    ]
    _write_json(os.path.join(src, "e1.json"), events)
    schema = "ts timestamp, event_type string, value double"

    batch_df = spark.read.schema(schema).json(src)
    expected = {
        (r["window_start"], r["event_type"], r["n_events"], r["sum_value"])
        for r in windowed_event_counts(batch_df).collect()
    }

    stream_df = spark.readStream.schema(schema).json(src)
    q = (
        windowed_event_counts(stream_df)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"], r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got == expected and len(got) == 2


CKPT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _drain_window_counts(spark, tmp_path, query_name):
    """One ``run_to_memory`` drain of a small windowed count; returns
    the drained frame and the batch twin's rows."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.streaming.ingest import (
        run_to_memory,
    )

    src = str(tmp_path / "events")
    events = [
        {"ts": "2024-01-01T10:01:00", "event_type": "click", "value": 1.0},
        {"ts": "2024-01-01T10:04:00", "event_type": "click", "value": 2.0},
        {"ts": "2024-01-01T10:12:00", "event_type": "view", "value": 3.0},
    ]
    _write_json(os.path.join(src, "e1.json"), events)
    schema = "ts timestamp, event_type string, value double"
    stream_df = spark.readStream.schema(schema).json(src)
    drained = run_to_memory(
        windowed_event_counts(stream_df), query_name, shuffle_partitions=4
    )
    batch_df = spark.read.schema(schema).json(src)
    return drained, windowed_event_counts(batch_df).collect()


def test_run_to_memory_restores_confs_and_cleans_checkpoint(
    spark, tmp_path
):
    """run_to_memory disables no-data micro-batches and swaps in the
    FileSystem-based checkpoint file manager FOR THE DRAIN ONLY: after
    it returns, every conf is restored, no checkpoint dir survives,
    the memory sink's temp view is dropped (the session does not pin
    the sink's rows), and the returned frame still collects and
    matches the batch twin."""
    import glob
    import tempfile

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    prev_manager = spark.conf.get(CKPT_MANAGER_CONF, None)
    ckpt_base = os.environ.get(
        "SPARK_GRAFT_STREAM_CKPT_DIR", tempfile.gettempdir()
    )
    before = set(glob.glob(os.path.join(ckpt_base, "sg_stream_ckpt_*")))
    views_before = _temp_views(spark)

    drained, batch_rows = _drain_window_counts(
        spark, tmp_path, "rtm_lever_test"
    )

    assert _temp_views(spark) == views_before
    key = ("window_start", "event_type", "n_events", "sum_value")
    got = {tuple(r[k] for k in key) for r in drained.collect()}
    expected = {tuple(r[k] for k in key) for r in batch_rows}
    assert got == expected and len(got) == 2
    # confs restored exactly
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_parts
    assert (
        spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
        == prev_nodata
    )
    assert spark.conf.get(CKPT_MANAGER_CONF, None) == prev_manager
    # no checkpoint state survives the drain
    after = set(glob.glob(os.path.join(ckpt_base, "sg_stream_ckpt_*")))
    assert after == before


def test_run_to_memory_forks_no_readlink(spark, tmp_path):
    """Without libhadoop, the default FileContext-based checkpoint file
    manager forks a ``readlink`` per path-status call (four per
    temp-file rename; 112 for this drain). The drain's checkpoint
    must fork none: a JFR ``jdk.ProcessStart`` recording around one
    drain counts the ``readlink`` spawns that name its checkpoint."""
    jvm = spark.sparkContext._jvm
    jfr = jvm.jdk.jfr
    if not jfr.FlightRecorder.isAvailable() or not any(
        t.getName() == "jdk.ProcessStart"
        for t in jfr.FlightRecorder.getFlightRecorder().getEventTypes()
    ):
        pytest.skip("JFR event jdk.ProcessStart unavailable")

    rec = jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try:
        drained, _ = _drain_window_counts(spark, tmp_path, "rtm_fork_test")
        # a fork the recording must see, so zero below is not vacuous
        jvm.java.lang.Runtime.getRuntime().exec("true").waitFor()
    finally:
        rec.stop()
    dump = jvm.java.io.File(str(tmp_path / "drain.jfr")).toPath()
    rec.dump(dump)
    rec.close()
    commands = [
        e.getString("command")
        for e in jfr.consumer.RecordingFile.readAllEvents(dump)
    ]
    assert drained.count() == 2
    assert "true" in commands
    readlinks = [
        c for c in commands if "readlink" in c and "sg_stream_ckpt_" in c
    ]
    assert readlinks == [], f"{len(readlinks)} readlink forks"


def test_codegen_cache_holds_more_than_100_classes(spark):
    """``spark.sql.codegen.cache.maxEntries`` is raised above a pass's
    working set: 120 distinct generated classes, compiled once, are
    all cache hits the second time round (at the default of 100 the
    LRU evicts every one of them before it is reused)."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics

    def round_of_compiles():
        n0 = compiles.METRIC_COMPILATION_TIME().getCount()
        for i in range(120):
            spark.range(1).select(
                (F.col("id") * 7 + F.lit(1_000_003 + i)).alias("x")
            ).collect()
        return compiles.METRIC_COMPILATION_TIME().getCount() - n0

    assert round_of_compiles() > 100
    assert round_of_compiles() == 0


def test_rate_source_smoke(spark):
    """The unbounded rate source drives the same windowed-agg plan as
    the file source: rows keep flowing, transformations apply, and
    the memory sink fills — the always-on deployment shape, smoke-
    tested with a processing-time micro-batch run."""
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "200")
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            F.when(F.col("value") % 2 == 0, "click")
            .otherwise("view")
            .alias("event_type"),
            (F.col("value") % 10).cast("double").alias("value"),
        )
    )
    q = (
        windowed_event_counts(stream, window_duration="1 second",
                              watermark="5 seconds")
        .writeStream.format("memory")
        .queryName("rate_counts")
        .outputMode("complete")
        .start()
    )
    try:
        import time

        deadline = time.monotonic() + 60
        n = 0
        while time.monotonic() < deadline:
            n = spark.sql("SELECT SUM(n_events) AS n FROM rate_counts").collect()[0]["n"] or 0
            if n >= 100:
                break
            time.sleep(1)
        assert n >= 100
        types = {
            r["event_type"]
            for r in spark.sql("SELECT DISTINCT event_type FROM rate_counts").collect()
        }
        assert types == {"click", "view"}
    finally:
        q.stop()


def test_dedup_within_watermark_drops_redeliveries(spark, tmp_path):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.streaming.ingest import (
        dedup_within_watermark,
    )

    src = str(tmp_path / "dupes")
    schema = "event_id long, ts timestamp, user_id long"
    # event 1 delivered twice within the horizon (second copy dropped);
    # events 2 and 3 unique.
    _write_json(
        os.path.join(src, "b1.json"),
        [
            {"event_id": 1, "ts": "2024-01-01T10:00:00", "user_id": 7},
            {"event_id": 1, "ts": "2024-01-01T10:05:00", "user_id": 7},
            {"event_id": 2, "ts": "2024-01-01T10:06:00", "user_id": 7},
            {"event_id": 3, "ts": "2024-01-01T10:07:00", "user_id": 8},
        ],
    )
    stream_df = spark.readStream.schema(schema).json(src)
    q = (
        dedup_within_watermark(stream_df)
        .writeStream.format("memory")
        .queryName("deduped")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT event_id FROM deduped").collect()
    assert sorted(r["event_id"] for r in rows) == [1, 2, 3]


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.streaming.ingest import (
        stream_stream_interval_join,
    )

    src = str(tmp_path / "ssj")
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    events = [
        {"event_id": 1, "ts": "2024-01-01T10:00:00", "user_id": 1, "event_type": "view"},
        {"event_id": 2, "ts": "2024-01-01T10:05:00", "user_id": 1, "event_type": "click"},
        {"event_id": 3, "ts": "2024-01-01T10:30:00", "user_id": 1, "event_type": "click"},
        {"event_id": 4, "ts": "2024-01-01T10:02:00", "user_id": 2, "event_type": "view"},
    ]
    _write_json(os.path.join(src, "e1.json"), events)

    # Batch oracle: same join expression on a static frame.
    batch = spark.read.schema(schema).json(src)
    expected = {
        (r["l_event_id"], r["r_event_id"])
        for r in stream_stream_interval_join(batch, batch).collect()
    }
    # events 1->2 within 10 min same user; 2->3 is 25 min apart (out);
    # user 2 has nothing to pair with.
    assert expected == {(1, 2)}

    left = spark.readStream.schema(schema).json(src)
    right = spark.readStream.schema(schema).json(src)
    q = (
        stream_stream_interval_join(left, right)
        .writeStream.format("memory")
        .queryName("ssjoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["l_event_id"], r["r_event_id"])
        for r in spark.sql("SELECT * FROM ssjoin").collect()
    }
    assert got == expected


def test_stream_ingest_with_catalog_foreachbatch(spark, tmp_path):
    import json as _json

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.streaming.ingest import (
        run_available_now,
        stream_ingest_with_catalog,
    )

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    chk = str(tmp_path / "chk")
    _write_json(os.path.join(src, "b1.json"), RECORDS)
    schema = spark.read.json(src).schema

    q = stream_ingest_with_catalog(
        spark,
        source_path=src,
        sink_path=sink,
        checkpoint_path=chk,
        schema=schema,
        catalog_db="fb_db",
        table_prefix="fb",
    )
    run_available_now(q)

    # sink written with full 6-level layout, catalog state recorded
    out = spark.read.parquet(sink)
    assert out.count() == 3  # 2 records, one with a 2-element array
    state_file = os.path.join(sink, "_catalog_state.json")
    assert os.path.exists(state_file)
    state = _json.load(open(state_file))
    assert state.get("schema") and state.get("partitions"), state
    assert any("customerid=c1" in p for p in state["partitions"])


def test_stream_drift_restart_protocol(spark, tmp_path):
    """Schema drift in a stream: the fixed stream plan cannot widen
    mid-flight, so the protocol is stop → restart with the widened
    schema against the SAME checkpoint. Pin that (a) the restarted
    stream processes only the NEW files (exactly-once from the
    checkpoint ledger — old rows are not duplicated), (b) the sink
    read-back merges both schemas (old rows null-fill the new
    column)."""
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    chk = str(tmp_path / "chk")
    _write_json(os.path.join(src, "b1.json"), RECORDS)

    schema_v1 = spark.read.json(src).schema
    q1 = stream_ingest(
        spark, source_path=src, sink_path=sink, checkpoint_path=chk,
        schema=schema_v1,
    )
    run_available_now(q1)
    assert spark.read.parquet(sink).count() == 3

    # drift: a new batch file adds "firmware"
    drifted = [dict(RECORDS[0], customerid="c3", firmware="fw-2")]
    _write_json(os.path.join(src, "b2.json"), drifted)
    schema_v2 = spark.read.json(src).schema
    assert "firmware" in [f.name for f in schema_v2.fields]

    q2 = stream_ingest(
        spark, source_path=src, sink_path=sink, checkpoint_path=chk,
        schema=schema_v2,
    )
    run_available_now(q2)

    out = spark.read.option("mergeSchema", "true").parquet(sink)
    # old 3 rows NOT reprocessed + 2 new rows (c3 × 2 tags)
    assert out.count() == 5
    assert out.filter(F.col("firmware").isNotNull()).count() == 2
    assert (
        out.filter(F.col("customerid") == "c1")
        .filter(F.col("firmware").isNull())
        .count()
        == 2
    )


def test_stream_static_enrich_broadcasts_and_matches_batch(spark, tmp_path):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.streaming.ingest import (
        stream_static_enrich,
    )

    src = str(tmp_path / "enrich")
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    events = [
        {"event_id": 1, "ts": "2024-01-01T10:00:00", "user_id": 1, "event_type": "view"},
        {"event_id": 2, "ts": "2024-01-01T10:05:00", "user_id": 2, "event_type": "click"},
        {"event_id": 3, "ts": "2024-01-01T10:06:00", "user_id": 9, "event_type": "view"},
    ]
    _write_json(os.path.join(src, "e1.json"), events)
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], ["user_id", "tier"]
    )

    batch = spark.read.schema(schema).json(src)
    expected = {
        (r.event_id, r.tier)
        for r in stream_static_enrich(batch, dim).collect()
    }
    assert expected == {(1, "gold"), (2, "silver"), (3, None)}

    stream = spark.readStream.schema(schema).json(src)
    q = (
        stream_static_enrich(stream, dim)
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.event_id, r.tier)
        for r in spark.sql("SELECT * FROM enriched").collect()
    }
    assert got == expected  # stateless left enrich: unmatched keys kept


def test_stream_restart_mid_drain_exactly_once(spark, tmp_path):
    """Kill the catalog-synced ingest MID-DRAIN and resume from the
    same checkpoint (r05 verdict #5): the reference's archive
    protocol (emr_json_parquet_schema_drift_etl.py:24-51) exists
    precisely to survive reruns, and the streaming twin must prove
    the same. Sequence: run 1 drains batch b1 and commits; run 2 is
    forced to one-file micro-batches and its SECOND batch dies
    before the sink write (simulated executor/driver loss); run 3
    restarts from the checkpoint ledger. Pins: (a) the committed
    batches are NOT reprocessed (no duplicate rows — exactly-once
    from the ledger + fail-before-commit), (b) the killed batch IS
    replayed (no loss), (c) the final catalog state matches the
    sink read-back exactly."""
    import json as _json

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.sources import (
        writers as writers_mod,
    )
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.streaming.ingest import (
        stream_ingest_with_catalog,
    )

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    chk = str(tmp_path / "chk")
    _write_json(os.path.join(src, "b1.json"), RECORDS)
    schema = spark.read.json(src).schema

    def run(**kw):
        q = stream_ingest_with_catalog(
            spark, source_path=src, sink_path=sink, checkpoint_path=chk,
            schema=schema, catalog_db="restart_db", table_prefix="rst", **kw,
        )
        run_available_now(q)

    run()
    assert spark.read.parquet(sink).count() == 3  # c1×2 tags + c2

    # two new single-record files → two micro-batches at
    # maxFilesPerTrigger=1; the second one dies BEFORE its write.
    _write_json(
        os.path.join(src, "b2.json"),
        [dict(RECORDS[1], customerid="c3", tags=["x"])],
    )
    _write_json(
        os.path.join(src, "b3.json"),
        [dict(RECORDS[1], customerid="c4", tags=["y"])],
    )

    real_write = writers_mod.write_partitioned
    calls = {"n": 0}

    def dying_write(df, path, partition_cols, **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated mid-drain crash")
        return real_write(df, path, partition_cols, **kw)

    writers_mod.write_partitioned = dying_write
    try:
        import pyspark.errors

        try:
            run(reader_options={"maxFilesPerTrigger": "1"})
            raise AssertionError("expected the injected crash to fail the query")
        except pyspark.errors.exceptions.captured.StreamingQueryException:
            pass
        assert calls["n"] == 2  # first new batch committed, second died
        committed = spark.read.parquet(sink)
        assert committed.count() == 4  # b1's 3 rows + exactly one new batch
    finally:
        writers_mod.write_partitioned = real_write

    # resume from the same checkpoint: ONLY the dead batch replays
    run()
    out = spark.read.parquet(sink)
    per_customer = {
        r["customerid"]: r["n"]
        for r in out.groupBy("customerid").agg(F.count("*").alias("n")).collect()
    }
    assert per_customer == {"c1": 2, "c2": 1, "c3": 1, "c4": 1}

    # catalog state (sink-as-truth) reflects the complete drain
    state = _json.load(open(os.path.join(sink, "_catalog_state.json")))
    assert {
        p.split("/")[0] for p in state["partitions"]
    } == {"customerid=c1", "customerid=c2", "customerid=c3", "customerid=c4"}


def test_stream_interval_join_crash_after_sink_write_replays_exactly(
    spark, tmp_path
):
    """Crash-window coverage for the STATEFUL interval join (r07
    verdict task #5): kill the query after a micro-batch's sink
    write but before its checkpoint commit — the widest window,
    because by then the join state store has already committed that
    batch's version. On restart the batch must replay against the
    PREVIOUS state version (the store is versioned per batch), and
    with the standard idempotent foreachBatch sink (one overwritten
    dir per batch_id) the final output must equal the batch twin
    exactly — no lost pairs, no duplicated pairs. The scenario
    forces a CROSS-batch pair so the replay actually exercises state
    recovery, not just source replay."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.streaming.ingest import (
        stream_stream_interval_join,
    )

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    chk = str(tmp_path / "chk")
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    e1 = {"event_id": 1, "ts": "2024-01-01T10:00:00", "user_id": 1,
          "event_type": "view"}
    e2 = {"event_id": 2, "ts": "2024-01-01T10:05:00", "user_id": 1,
          "event_type": "click"}
    e3 = {"event_id": 3, "ts": "2024-01-01T10:08:00", "user_id": 1,
          "event_type": "buy"}
    _write_json(os.path.join(src, "f1.json"), [e1])

    crash = {"arm": False, "n": 0}

    def sink_batch(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(
            os.path.join(sink, f"batch_id={batch_id}")
        )
        if crash["arm"]:
            crash["n"] += 1
            if crash["n"] == 1:
                raise RuntimeError("crash after sink write, before commit")

    def run():
        left = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).json(src)
        right = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).json(src)
        q = (
            stream_stream_interval_join(left, right)
            .writeStream.foreachBatch(sink_batch)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        run_available_now(q)

    run()  # batch 0: e1 alone, no pairs; state buffers e1

    _write_json(os.path.join(src, "f2.json"), [e2])
    _write_json(os.path.join(src, "f3.json"), [e3])
    crash["arm"] = True
    import pyspark.errors

    try:
        run()
        raise AssertionError("expected the injected crash")
    except pyspark.errors.exceptions.captured.StreamingQueryException:
        pass
    crash["arm"] = False

    run()  # resume: the dead batch replays, then the rest drains

    batch = spark.read.schema(schema).json(src)
    expected = {
        (r["l_event_id"], r["r_event_id"])
        for r in stream_stream_interval_join(batch, batch).collect()
    }
    # cross-batch (1,2) and (1,3) prove state survived; (2,3) is the
    # post-crash batch
    assert expected == {(1, 2), (1, 3), (2, 3)}
    rows = [
        (r["l_event_id"], r["r_event_id"])
        for r in spark.read.parquet(sink).collect()
    ]
    assert len(rows) == len(set(rows)), f"duplicated pairs: {rows}"
    assert set(rows) == expected


def test_stream_enrich_crash_after_sink_write_replays_exactly(
    spark, tmp_path
):
    """Crash-window coverage for the stream-static enrich (r07
    verdict task #5): the stateless twin of the interval-join test —
    recovery rides the file-source ledger alone. Kill after the sink
    write of the first post-restart batch, resume, and require the
    idempotent per-batch sink to equal the batch twin exactly. Also
    pins that a dim row added BETWEEN runs is picked up by the
    REPLAYED batch (the file-source static side is re-read, not
    frozen in the checkpoint — the slowly-changing-dim semantics the
    operator documents)."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.streaming.ingest import (
        stream_static_enrich,
    )

    src = str(tmp_path / "src")
    dimp = str(tmp_path / "dim")
    sink = str(tmp_path / "sink")
    chk = str(tmp_path / "chk")
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    _write_json(os.path.join(src, "f1.json"), [
        {"event_id": 1, "ts": "2024-01-01T10:00:00", "user_id": 1,
         "event_type": "view"},
        {"event_id": 2, "ts": "2024-01-01T10:01:00", "user_id": 2,
         "event_type": "view"},
    ])
    spark.createDataFrame(
        [(1, "gold"), (2, "silver")], ["user_id", "tier"]
    ).write.parquet(dimp)

    crash = {"arm": False, "n": 0}

    def sink_batch(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(
            os.path.join(sink, f"batch_id={batch_id}")
        )
        if crash["arm"]:
            crash["n"] += 1
            if crash["n"] == 1:
                raise RuntimeError("crash after sink write, before commit")

    def run():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).json(src)
        q = (
            stream_static_enrich(stream, spark.read.parquet(dimp))
            .writeStream.foreachBatch(sink_batch)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        run_available_now(q)

    run()  # batch 0: users 1, 2 enriched

    _write_json(os.path.join(src, "f2.json"), [
        {"event_id": 3, "ts": "2024-01-01T10:02:00", "user_id": 9,
         "event_type": "buy"},
    ])
    crash["arm"] = True
    import pyspark.errors

    try:
        run()
        raise AssertionError("expected the injected crash")
    except pyspark.errors.exceptions.captured.StreamingQueryException:
        pass
    crash["arm"] = False
    # the crashed batch wrote (3, null) — user 9 had no tier yet.
    # dim grows between the crash and the resume:
    spark.createDataFrame([(9, "bronze")], ["user_id", "tier"]).write.mode(
        "append"
    ).parquet(dimp)

    run()  # resume: the dead batch replays against the RE-READ dim

    got = {
        (r["event_id"], r["tier"])
        for r in spark.read.parquet(sink).collect()
    }
    batch = spark.read.schema(schema).json(src)
    expected = {
        (r["event_id"], r["tier"])
        for r in stream_static_enrich(
            batch, spark.read.parquet(dimp)
        ).collect()
    }
    assert expected == {(1, "gold"), (2, "silver"), (3, "bronze")}
    assert got == expected
    assert spark.read.parquet(sink).count() == 3  # exactly once


def test_stream_incremental_dedup_matches_oneshot(spark, tmp_path):
    """Three micro-batches through the band-store dedup stream must
    reproduce the one-shot LSH pair set exactly (cross-batch pairs
    included — the corpus sink supplies historical texts for the
    verify join), and the artifacts must accumulate: store bands,
    corpus rows, pair files."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.dedup import (
        minhash_lsh_dedup,
    )
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.streaming.ingest import (
        stream_incremental_dedup,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "completely unrelated text about query engines"),
        (4, "the quick brown fox jumps over the lazy dog tonight"),
        (5, "another unrelated piece of writing entirely"),
        (6, "the quick brown fox jumps over the lazy dog today"),
    ]
    src = str(tmp_path / "src")
    # one file per doc-pair → 3 micro-batches, dups split across them
    for i in range(3):
        _write_json(
            os.path.join(src, f"b{i}.json"),
            [{"doc_id": a, "text": t} for a, t in docs[2 * i : 2 * i + 2]],
        )
    schema = spark.read.json(src).schema
    kwargs = dict(n=3, num_hashes=64, bands=32, threshold=0.5)
    q = stream_incremental_dedup(
        spark,
        source_path=src,
        store_path=str(tmp_path / "bands"),
        corpus_sink=str(tmp_path / "corpus"),
        pairs_sink=str(tmp_path / "pairs"),
        checkpoint_path=str(tmp_path / "chk"),
        schema=schema,
        reader_options={"maxFilesPerTrigger": "1"},
        **kwargs,
    )
    run_available_now(q)

    all_docs = spark.createDataFrame(docs, "doc_id long, text string")
    want = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_dedup(all_docs, **kwargs).select(
            "id_a", "id_b"
        ).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
    }
    assert got == want and (1, 4) in got  # cross-batch dup found
    assert spark.read.parquet(str(tmp_path / "corpus")).count() == 6


def test_stream_incremental_dedup_replay_idempotent(spark, tmp_path):
    """Worst-window crash for the dedup stream: the band store
    commits INSIDE incremental_minhash_dedup, before the pairs/corpus
    sinks — so a replayed batch would double-append its bands under
    a plain append store. The batch_id dynamic-partition-overwrite
    recipe must make the replay byte-idempotent: no duplicated
    bands, pairs, or corpus rows after resume."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        dedup as dedup_mod,
    )
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.dedup import (
        minhash_lsh_dedup,
    )
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.streaming.ingest import (
        stream_incremental_dedup,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "completely unrelated text about query engines"),
        (4, "the quick brown fox jumps over the lazy dog tonight"),
    ]
    src = str(tmp_path / "src")
    for i in range(2):
        _write_json(
            os.path.join(src, f"b{i}.json"),
            [{"doc_id": a, "text": t} for a, t in docs[2 * i : 2 * i + 2]],
        )
    schema = spark.read.json(src).schema
    kwargs = dict(n=3, num_hashes=64, bands=32, threshold=0.5)

    def run():
        q = stream_incremental_dedup(
            spark,
            source_path=src,
            store_path=str(tmp_path / "bands"),
            corpus_sink=str(tmp_path / "corpus"),
            pairs_sink=str(tmp_path / "pairs"),
            checkpoint_path=str(tmp_path / "chk"),
            schema=schema,
            reader_options={"maxFilesPerTrigger": "1"},
            **kwargs,
        )
        run_available_now(q)

    real = dedup_mod.incremental_minhash_dedup
    calls = {"n": 0}

    def crash_after_store(*a, **kw):
        pairs = real(*a, **kw)  # band store COMMITS in here
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("crash after store commit, before sinks")
        return pairs

    dedup_mod.incremental_minhash_dedup = crash_after_store
    try:
        import pyspark.errors

        try:
            run()
            raise AssertionError("expected injected crash")
        except pyspark.errors.exceptions.captured.StreamingQueryException:
            pass
    finally:
        dedup_mod.incremental_minhash_dedup = real

    run()  # resume: batch 2 replays; its store partition overwrites

    bands = spark.read.parquet(str(tmp_path / "bands"))
    assert bands.count() == bands.dropDuplicates(
        ["doc_id", "band"]
    ).count(), "replay duplicated band rows"
    all_docs = spark.createDataFrame(docs, "doc_id long, text string")
    want = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_dedup(all_docs, **kwargs)
        .select("id_a", "id_b")
        .collect()
    }
    got_rows = spark.read.parquet(str(tmp_path / "pairs")).select(
        "id_a", "id_b"
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in got_rows}
    assert got == want and len(got_rows) == len(want)  # no dup rows
    assert spark.read.parquet(str(tmp_path / "corpus")).count() == 4


def test_stream_incremental_dedup_replay_after_corpus_commit(
    spark, tmp_path
):
    """Widest replay window: crash AFTER the corpus-sink commit but
    BEFORE the checkpoint commit. The replayed batch then finds its
    own rows in the corpus parquet and its own bands in the store —
    without the ingest_batch != batch_id self-filters the verify
    join sees each new doc twice (as 'new' and as 'old') and
    duplicates every pair row in that batch's partition. Pins the
    ADVICE r06 medium finding."""
    from pyspark.sql.readwriter import DataFrameWriter

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.dedup import (
        minhash_lsh_dedup,
    )
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.streaming.ingest import (
        stream_incremental_dedup,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "completely unrelated text about query engines"),
        (4, "the quick brown fox jumps over the lazy dog tonight"),
    ]
    src = str(tmp_path / "src")
    for i in range(2):
        _write_json(
            os.path.join(src, f"b{i}.json"),
            [{"doc_id": a, "text": t} for a, t in docs[2 * i : 2 * i + 2]],
        )
    schema = spark.read.json(src).schema
    kwargs = dict(n=3, num_hashes=64, bands=32, threshold=0.5)

    def run():
        q = stream_incremental_dedup(
            spark,
            source_path=src,
            store_path=str(tmp_path / "bands"),
            corpus_sink=str(tmp_path / "corpus"),
            pairs_sink=str(tmp_path / "pairs"),
            checkpoint_path=str(tmp_path / "chk"),
            schema=schema,
            reader_options={"maxFilesPerTrigger": "1"},
            **kwargs,
        )
        run_available_now(q)

    # Each successful micro-batch issues exactly 3 DataFrameWriter
    # .parquet() commits: bands (inside incremental), pairs, corpus.
    # Crash AFTER the 6th commit returns — i.e. after batch 2's
    # corpus write landed, with the checkpoint commit still pending.
    real_parquet = DataFrameWriter.parquet
    calls = {"n": 0}

    def crash_after_corpus(self, path, **kw):
        out = real_parquet(self, path, **kw)
        calls["n"] += 1
        if calls["n"] == 6:
            raise RuntimeError("crash after corpus commit")
        return out

    DataFrameWriter.parquet = crash_after_corpus
    try:
        import pyspark.errors

        try:
            run()
            raise AssertionError("expected injected crash")
        except pyspark.errors.exceptions.captured.StreamingQueryException:
            pass
    finally:
        DataFrameWriter.parquet = real_parquet

    run()  # resume: batch 2 replays against a store+corpus that
    # already contain its own artifacts

    all_docs = spark.createDataFrame(docs, "doc_id long, text string")
    want = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_dedup(all_docs, **kwargs)
        .select("id_a", "id_b")
        .collect()
    }
    got_rows = spark.read.parquet(str(tmp_path / "pairs")).select(
        "id_a", "id_b"
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in got_rows}
    assert got == want, f"pair SET wrong: {got} != {want}"
    assert len(got_rows) == len(want), "replay duplicated pair rows"
    assert spark.read.parquet(str(tmp_path / "corpus")).count() == 4
    bands = spark.read.parquet(str(tmp_path / "bands"))
    assert bands.count() == bands.dropDuplicates(
        ["doc_id", "band"]
    ).count(), "replay duplicated band rows"


def test_stateful_sessionize_state_survives_restart(spark, tmp_path):
    """The property that makes applyInPandasWithState production-
    grade: per-user state lives in the CHECKPOINT, so a stopped
    query resumed later (new query object, same checkpoint)
    continues counting sessions where it left off — a mid-gap event
    in run 2 must extend run 1's session, not start fresh."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.streaming.ingest import (
        sessionize_stateful,
    )

    src = str(tmp_path / "src")
    chk = str(tmp_path / "chk")
    schema = "user_id long, ts timestamp"
    _write_json(
        os.path.join(src, "b1.json"),
        [
            {"user_id": 1, "ts": "2024-01-01T10:00:00"},
            {"user_id": 1, "ts": "2024-01-01T10:10:00"},
            {"user_id": 2, "ts": "2024-01-01T09:00:00"},
        ],
    )

    def drain(name):
        # memory sink can't recover from a checkpoint; foreachBatch
        # (the recoverable sink) lands each run's updates in its own
        # parquet dir while state recovery flows through `chk`
        out = str(tmp_path / name)

        def sink(df, batch_id):
            df.write.mode("append").parquet(out)

        q = (
            sessionize_stateful(
                spark.readStream.schema(schema).json(src)
            )
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", chk)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        try:
            return {
                r["user_id"]: (r["n_sessions"], r["n_events"])
                for r in spark.read.parquet(out).collect()
            }
        except Exception:
            return {}

    run1 = drain("sess_restart_1")
    assert run1[1] == (1, 2) and run1[2] == (1, 1)

    # run 2, same checkpoint: 10:25 is within the 30-min gap of
    # 10:10 → SAME session (state recovered); 12:00 opens a second.
    _write_json(
        os.path.join(src, "b2.json"),
        [
            {"user_id": 1, "ts": "2024-01-01T10:25:00"},
            {"user_id": 1, "ts": "2024-01-01T12:00:00"},
        ],
    )
    run2 = drain("sess_restart_2")
    # only user 1 had new events, and the recovered state means the
    # 10:25 event did NOT open a new session
    assert run2 == {1: (2, 4)}


def test_stateful_sessionize_late_event_does_not_rewind_baseline(
    spark, tmp_path
):
    """An in-horizon late event belongs to the open session (negative
    gap) but must not REWIND last_us: pre-r12, the rewound baseline
    made the next on-time event measure its gap from the stale point
    and open a phantom session (r12 review find)."""
    import os

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.streaming.ingest import (
        sessionize_stateful,
    )

    src = str(tmp_path / "sess_late")
    schema = "user_id long, ts timestamp"
    _write_json(
        os.path.join(src, "b1.json"),
        [
            {"user_id": 1, "ts": "2024-01-01T09:00:00"},
            {"user_id": 1, "ts": "2024-01-01T10:00:00"},
        ],
    )
    # batch 2: a LATE 09:20 event (same session chain), then batch 3:
    # 10:20 — within 30 min of the true last event (10:00), so batch
    # semantics over {09:00, 09:20, 10:00, 10:20} give 2 sessions
    # ({09:00,09:20} and {10:00,10:20}); a rewound baseline (09:20)
    # would call 10:20 a NEW third session.
    _write_json(
        os.path.join(src, "b2.json"),
        [{"user_id": 1, "ts": "2024-01-01T09:20:00"}],
    )
    _write_json(
        os.path.join(src, "b3.json"),
        [{"user_id": 1, "ts": "2024-01-01T10:20:00"}],
    )
    # the file source orders micro-batches by MTIME; same-second
    # writes tie and drain in arbitrary order (the exact lesson the
    # replica-fixture generator pins) — force b1 < b2 < b3
    import time

    now = time.time()
    for i, name in enumerate(["b1.json", "b2.json", "b3.json"]):
        os.utime(os.path.join(src, name), (now + i, now + i))
    stream_df = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = (
        sessionize_stateful(stream_df)
        .writeStream.format("memory")
        .queryName("sessions_late")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in spark.sql("SELECT * FROM sessions_late").collect()
    }
    assert got[1] == (2, 4)


def test_stateful_sessionize_bridging_late_event_keeps_count(
    spark, tmp_path
):
    """r13 contract pin: a late event that BRIDGES two
    already-counted sessions (within gap_s of both neighbours, which
    were themselves > gap_s apart) does NOT merge them. Batch
    gaps-and-islands over {09:00, 09:20, 09:45} gives ONE session,
    but update-mode streaming emitted 2 sessions for {09:00, 09:45}
    in batch 1 and cannot retract — the documented monotone
    n_sessions contract (see sessionize_stateful docstring)."""
    import os
    import time

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.streaming.ingest import (
        sessionize_stateful,
    )

    src = str(tmp_path / "sess_bridge")
    schema = "user_id long, ts timestamp"
    # batch 1: 09:00 and 09:45 — 45 min apart > 30 min gap → streaming
    # counts 2 sessions and emits them
    _write_json(
        os.path.join(src, "b1.json"),
        [
            {"user_id": 1, "ts": "2024-01-01T09:00:00"},
            {"user_id": 1, "ts": "2024-01-01T09:45:00"},
        ],
    )
    # batch 2: LATE 09:20 — 20 min after 09:00 and 25 min before
    # 09:45, so batch semantics would chain all three into 1 session
    _write_json(
        os.path.join(src, "b2.json"),
        [{"user_id": 1, "ts": "2024-01-01T09:20:00"}],
    )
    now = time.time()
    for i, name in enumerate(["b1.json", "b2.json"]):
        os.utime(os.path.join(src, name), (now + i, now + i))
    stream_df = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = (
        sessionize_stateful(stream_df)
        .writeStream.format("memory")
        .queryName("sessions_bridge")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in spark.sql("SELECT * FROM sessions_bridge").collect()
    }
    # streaming keeps the already-emitted 2 sessions (batch twin
    # would say 1) — the late event only advances n_events
    assert got[1] == (2, 3)


def test_stateful_sessionize_null_only_user_emits_nothing(spark, tmp_path):
    """A user whose only rows carry NULL timestamps must not appear in
    the output (the batch twin has no row for them); pre-r12 a
    (0 sessions, 0 events) row leaked out (r12 review find)."""
    import os

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.streaming.ingest import (
        sessionize_stateful,
    )

    src = str(tmp_path / "sess_null")
    schema = "user_id long, ts timestamp"
    _write_json(
        os.path.join(src, "b1.json"),
        [
            {"user_id": 1, "ts": "2024-01-01T09:00:00"},
            {"user_id": 7, "ts": None},
        ],
    )
    stream_df = spark.readStream.schema(schema).json(src)
    q = (
        sessionize_stateful(stream_df)
        .writeStream.format("memory")
        .queryName("sessions_null")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in spark.sql("SELECT * FROM sessions_null").collect()
    }
    assert got == {1: (1, 1)}


def test_stream_ingest_catalog_quarantines_poison_partition_values(
    spark, tmp_path
):
    """A record whose partition value the catalog spec encoding
    rejects ('/', '=', quote) must be dead-lettered into the hidden
    _quarantine tree — pre-r12 the sink write succeeded and the
    catalog sync then wedged the checkpointed stream forever on that
    batch (r12 review find)."""
    import glob
    import os

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.streaming.ingest import (
        run_available_now,
        stream_ingest_with_catalog,
    )

    base = str(tmp_path)
    src, sink, chk = f"{base}/src", f"{base}/sink", f"{base}/chk"
    _write_json(
        os.path.join(src, "b1.json"),
        [
            {"customerid": "ok1", "vehicle": "v", "category": "c",
             "tts": 1704103200},
            {"customerid": "a/b", "vehicle": "v", "category": "c",
             "tts": 1704103200},
        ],
    )
    schema = spark.read.json(src).schema
    q = stream_ingest_with_catalog(
        spark, source_path=src, sink_path=sink, checkpoint_path=chk,
        schema=schema, catalog_db="quarantine_db", table_prefix="p",
    )
    try:
        run_available_now(q)
        sunk = spark.read.parquet(sink)
        assert {r["customerid"] for r in sunk.collect()} == {"ok1"}
        # the poison row is preserved in the hidden quarantine tree
        qfiles = glob.glob(f"{sink}/_quarantine/**/*.parquet", recursive=True)
        assert qfiles
        quarantined = spark.read.parquet(f"{sink}/_quarantine")
        assert {r["customerid"] for r in quarantined.collect()} == {"a/b"}
        # and the catalog registered the valid partition
        parts = spark.sql("SHOW PARTITIONS quarantine_db.p_sink").collect()
        assert len(parts) == 1
    finally:
        spark.sql("DROP DATABASE IF EXISTS quarantine_db CASCADE")
