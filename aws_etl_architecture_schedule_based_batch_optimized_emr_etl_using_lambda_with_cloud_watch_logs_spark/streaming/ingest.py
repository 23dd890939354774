"""Structured-Streaming form of the incremental ingest (reference §2.K
consequence: the reference is batch-only; its archive protocol J1
(``emr_json_parquet_schema_drift_etl.py:24-51``) is hand-rolled
micro-batching. The idiomatic Spark equivalent is a file-source stream:

* ``readStream`` + explicit schema (streams cannot infer),
* ``Trigger.AvailableNow`` — process everything present, then stop
  (exactly the reference's scheduled-batch semantics),
* checkpoint — the ingest ledger the reference keeps via file moves,
* ``cleanSource=archive`` — the file-move contract itself, executed
  by Spark after each micro-batch commits.

This scales where J1 doesn't: no driver-side file loop, no re-scan of
the source to list files, exactly-once accounting in the checkpoint.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..operators.derive import PARTITION_COLS, with_ingest_columns
from ..operators.flatten import flatten


def stream_ingest(
    spark: SparkSession,
    source_path: str,
    sink_path: str,
    checkpoint_path: str,
    schema: StructType,
    archive_path: str | None = None,
    partition_cols: list[str] | None = None,
    legacy_day: bool = True,
    available_now: bool = True,
    reader_options: dict | None = None,
) -> StreamingQuery:
    """Streamed JSON→flatten→partitioned-parquet ingest with archival.

    Note: ``flatten`` walks the *static* stream schema, so the
    explode/expand plan is fixed per query — schema drift across
    batches is a batch-mode concern (the ``mergeSchema`` read-back);
    a drifted schema requires restarting the stream with the new
    schema, same as the reference redeploying its ETL.

    ``reader_options`` overrides the file-source defaults
    (``maxFilesPerTrigger`` / ``maxBytesPerTrigger`` — the same
    micro-batch right-sizing levers the other two stream
    constructors expose; r12 consistency fix).
    """
    partition_cols = partition_cols or PARTITION_COLS

    reader = spark.readStream.schema(schema).options(
        **{"maxFilesPerTrigger": "1000", **(reader_options or {})}
    )
    if archive_path:
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", archive_path
        )
    raw = reader.json(source_path)

    denorm = with_ingest_columns(flatten(raw), legacy_day=legacy_day)

    writer = (
        denorm.writeStream.format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint_path)
        .partitionBy(*partition_cols)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


_CKPT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CKPT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def run_available_now(query: StreamingQuery, timeout_s: int = 300) -> None:
    """Block until an ``AvailableNow`` ingest drains and stops.

    Raises on timeout instead of silently stopping a still-draining
    query: callers (and ``run_to_memory``, which reads the sink
    table immediately after) would otherwise treat a TRUNCATED drain
    as the complete result."""
    finished = query.awaitTermination(timeout_s)
    if not finished and query.isActive:
        query.stop()
        raise TimeoutError(
            f"AvailableNow drain did not finish within {timeout_s}s — "
            f"partial ingest stopped; raise timeout_s or shrink the "
            f"backlog (progress: {query.lastProgress})"
        )


def run_to_memory(
    df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    timeout_s: int = 300,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Drain a streaming DataFrame into a memory sink under
    ``AvailableNow`` and return the sink table — the finite-input
    harness for verifying a streaming plan against its batch twin
    (complete mode emits every window, so no rows are held back by
    the final watermark).

    ``shuffle_partitions`` sizes the STATEFUL operator's state-store
    count for this query (set at start, restored after the drain).
    Unlike batch shuffles, a streaming query's stateful partition
    count is locked into the checkpoint at first start and each
    partition pays fixed per-batch store/commit overhead — so it
    must be sized to expected STATE volume, not inherited from the
    batch-analytics default (a 4-store stream-stream join at 32
    partitions costs ~128 store commits per micro-batch; measured
    6.9 s → 2.5 s on the interval-join gate by right-sizing).

    Fixed-floor cuts, each FOR THE DRAIN ONLY (restored after):

    * **No trailing no-data micro-batch.** Under AvailableNow the
      watermark-advancing empty batch exists to fire timeouts /
      append-mode window finalization / state eviction. Every
      drain here feeds a finite verification sink whose operators
      emit on arrival (dedup, inner interval join), per-batch
      (update-mode sessionize with ``NoTimeout``), or re-emit
      everything per batch (complete mode) — the empty batch
      re-commits every state store and rewrites the sink for zero
      new rows (measured 0.45-1.2 s on the dedup/interval gates).
    * **No process fork per checkpoint file.** Without ``libhadoop``
      Hadoop's local filesystem forks a ``readlink`` for every
      ``FileContext`` path-status call; the default
      ``FileContextBasedCheckpointFileManager`` pays four of them per
      temp-file rename, so every offsets/commit WAL entry and every
      state-store delta cost several 2.5-4 ms forks of the driver
      JVM (about 170 ``readlink`` forks per drain; the per-store
      commit cost was the same at 5 and at 100,000 state rows, and
      the same on tmpfs as on disk). The drain uses
      ``FileSystemBasedCheckpointFileManager``, which renames with
      ``File.renameTo`` and forks none. It gives up FileContext's
      atomic no-overwrite rename, which only guards concurrent
      writers of one checkpoint; this checkpoint is a uuid-named
      directory the call creates and deletes, so it has one writer.
      Spark's checkpoint checksums and Hadoop's ``.crc`` files stay
      on. The production constructors (``stream_ingest``,
      ``stream_ingest_with_catalog``, ``stream_incremental_dedup``)
      keep the default manager: their checkpoints are durable and
      may be shared.

    The checkpoint goes under ``$SPARK_GRAFT_STREAM_CKPT_DIR``
    (a deployment path; default ``tempfile.gettempdir()``) and is
    deleted after the drain — no state survives the call. It is not
    put on tmpfs (``/dev/shm``) by default: Hadoop's local filesystem
    does not fsync, the commit cost was the forks above, and without
    them a drain reads the same on tmpfs and on disk.

    The memory sink's temp view is dropped before returning: the
    returned DataFrame still holds the sink's rows, but the session
    catalog no longer pins them for the session's life."""
    import os
    import shutil
    import tempfile
    import uuid

    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    prev_manager = spark.conf.get(_CKPT_MANAGER_CONF, None)
    ckpt_base = os.environ.get(
        "SPARK_GRAFT_STREAM_CKPT_DIR", tempfile.gettempdir()
    )
    ckpt = os.path.join(ckpt_base, f"sg_stream_ckpt_{uuid.uuid4().hex}")
    if shuffle_partitions is not None:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    spark.conf.set(
        "spark.sql.streaming.noDataMicroBatches.enabled", "false"
    )
    spark.conf.set(_CKPT_MANAGER_CONF, _FS_CKPT_MANAGER)
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        run_available_now(q, timeout_s)
    finally:
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_nodata
        )
        if prev_manager is None:
            spark.conf.unset(_CKPT_MANAGER_CONF)
        else:
            spark.conf.set(_CKPT_MANAGER_CONF, prev_manager)
        shutil.rmtree(ckpt, ignore_errors=True)
    result = spark.table(query_name)
    spark.catalog.dropTempView(query_name)
    return result


def sessionize_stateful(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_s: int = 1800,
):
    """Custom stateful streaming operator
    (``applyInPandasWithState``): per-user session counting with an
    inactivity gap, state = (last event epoch-µs, session count,
    event count) carried across micro-batches. Emits one updated row
    per user per batch (update output mode).

    Batch-mode note: the same gaps-and-islands semantics in batch is
    ``events_sessionize`` (lag + cumulative flag) — this operator is
    the streaming form where history cannot be re-scanned.

    r12 review hardening: gaps are computed on Spark-side
    ``unix_micros`` epoch values, never tz-naive pandas timestamps
    (Arrow hands pandas SESSION-LOCAL naive times, so a DST jump
    distorted the measured gap by an hour); ``last_us`` is kept
    MONOTONIC — an in-horizon late event joins the open session
    (negative gap) without rewinding the baseline, where the rewind
    let the NEXT on-time event measure its gap from the stale point
    and open a phantom session; a NaT-only batch for a user with no
    existing state emits nothing (the batch twin has no row for a
    user with zero timestamped events); and the output/state schema
    follows ``user_col``'s actual name and type instead of a
    hardcoded ``user_id long``.

    Contract (r13 pin): update-mode emission is MONOTONE in
    ``n_sessions`` — once a session boundary is counted it is never
    retracted. A late event that lands BETWEEN two already-processed
    events whose gap exceeded ``gap_s`` (and is within ``gap_s`` of
    both) would MERGE those two sessions under batch gaps-and-islands
    semantics, but this operator has already emitted the 2-session
    count and keeps it: the late event joins the open session
    (negative gap against the monotonic ``last_us``) and only
    ``n_events`` advances. Batch twin comparisons therefore hold only
    for inputs whose late arrivals do not bridge previously-counted
    session boundaries — the ``stream_sessionize_counts`` gate's
    fixtures satisfy this by construction. If retroactive merging is
    required, use Spark's buffered ``session_window`` aggregation in
    append mode instead (it holds events until the watermark closes
    the session and so merges natively, at the cost of emitting only
    closed sessions).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_type = events.schema[user_col].dataType.simpleString()
    ts_us_col = "__sess_ts_us"

    def update(key, pdfs, state: GroupState):
        if state.exists:
            last_us, n_sessions, n_events = state.get
        else:
            last_us, n_sessions, n_events = None, 0, 0
        ts_list = []
        for pdf in pdfs:
            # NULL timestamps arrive as NaN/NA in the epoch column:
            # they would sort first, open a phantom session, and make
            # the next real event's gap astronomical — drop them
            ts_list.extend(
                int(v) for v in pdf[ts_us_col] if not pd.isna(v)
            )
        if not ts_list and not state.exists:
            return  # no timestamped history: the batch twin has no row
        for t_us in sorted(ts_list):
            if last_us is None or t_us - last_us > gap_s * 1_000_000:
                n_sessions += 1
            last_us = t_us if last_us is None else max(last_us, t_us)
            n_events += 1
        state.update((last_us, n_sessions, n_events))
        yield pd.DataFrame(
            {
                user_col: [key[0]],
                "n_sessions": [n_sessions],
                "n_events": [n_events],
            }
        )

    projected = events.select(
        F.col(user_col),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias(ts_us_col),
    )
    return projected.groupBy(user_col).applyInPandasWithState(
        update,
        outputStructType=(
            f"{user_col} {key_type}, n_sessions long, n_events long"
        ),
        stateStructType="last_us long, n_sessions long, n_events long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming exact dedup with bounded state: keep the first
    arrival per key, drop re-deliveries that land within the
    watermark horizon (``dropDuplicatesWithinWatermark``). The
    streaming counterpart of the batch ``exact_dedup`` (M1): state is
    evicted once the watermark passes, so memory is O(keys per
    horizon), not O(all history) — the property that makes exact
    dedup feasible on an unbounded 100 TB/day stream.
    """
    keys = keys or ["event_id"]
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_gap: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked stream-stream inner join: pair each left event
    with right events of the same user that happened within
    ``[t, t + max_gap]``. Both sides carry watermarks and the join
    condition bounds event time on both sides, so Spark can evict
    buffered rows — without the time bound a stream-stream join
    buffers forever.
    """
    l = left.withWatermark(ts_col, watermark).select(
        F.col(user_col).alias("l_user"),
        F.col("event_id").alias("l_event_id"),
        F.col(ts_col).alias("l_ts"),
        F.col("event_type").alias("l_type"),
    )
    r = right.withWatermark(ts_col, watermark).select(
        F.col(user_col).alias("r_user"),
        F.col("event_id").alias("r_event_id"),
        F.col(ts_col).alias("r_ts"),
        F.col("event_type").alias("r_type"),
    )
    return l.join(
        r,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_gap}"))
        & (F.col("l_event_id") != F.col("r_event_id")),
        "inner",
    )


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window_duration: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling-window count/sum with late-data watermarking — works
    on both a streaming and a batch DataFrame (same plan; in batch the
    watermark is a no-op)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_duration), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("event_type"),
            F.col("n_events"),
            F.col("sum_value"),
        )
    )


def stream_ingest_with_catalog(
    spark: SparkSession,
    source_path: str,
    sink_path: str,
    checkpoint_path: str,
    schema: StructType,
    catalog_db: str = "stream_db",
    table_prefix: str = "stream",
    partition_cols: list[str] | None = None,
    legacy_day: bool = True,
    reader_options: dict | None = None,
) -> StreamingQuery:
    """The COMPLETE reference semantics in streaming form:
    ``foreachBatch`` runs the batch sink write + catalog sync
    (create / drift-recreate / partitions-only) per micro-batch, so
    the catalog stays registration-current as data streams in — the
    streaming equivalent of reference §3.1 steps 4-6. foreachBatch
    is the idiomatic bridge wherever a sink needs batch-only
    features (dynamic partition overwrite, catalog DDL, MERGE).

    The catalog sync decides drift from the durable ledger plus the
    micro-batch (catalog.sync_catalog): a stream syncs EVERY
    micro-batch, so a mergeSchema re-read of the sink per batch would
    compound into a quadratic total scan over the stream's life. The
    sink is re-read only on the first batch (no ledger yet).

    ``reader_options``: extra file-source options
    (``maxFilesPerTrigger`` / ``maxBytesPerTrigger`` — the real
    micro-batch right-sizing levers; also how the restart test
    forces one-file batches to kill the query mid-drain).

    Failure semantics: foreachBatch is at-least-once per micro-batch
    on restart. The sink write is keyed by ``ingest_batch`` (a
    trailing hive level) with dynamic partition overwrite — the
    foreachBatch idempotence recipe the incremental-dedup stream
    below documents — so a replayed batch overwrites exactly its own
    partitions in EVERY crash window: before the sink commit (the
    checkpoint ledger replays it) AND after the sink commit but
    before the checkpoint commit (a plain append would duplicate
    every row of the batch). The catalog sync is idempotent. Pinned
    by tests/test_streaming.py::
    test_stream_restart_mid_drain_exactly_once.
    """
    from ..catalog import sync_catalog
    from ..sources import writers as _writers

    partition_cols = partition_cols or PARTITION_COLS

    def process_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            # a zero-row batch (empty source file) writes nothing: a
            # first-batch write of only _SUCCESS would make the
            # catalog's first-contact sink re-read fail schema
            # inference and poison-pill the checkpoint (r12 review find)
            return
        denorm = with_ingest_columns(
            flatten(batch_df), legacy_day=legacy_day
        ).withColumn("ingest_batch", F.lit(batch_id))
        layout = [*partition_cols, "ingest_batch"]
        # Dead-letter routing (r12 review find): the parquet writer
        # hive-escapes any partition value, but the catalog's spec
        # strings fail loudly on '/', '=' or a quote
        # (catalog.partition_specs_from_data) — so one poison record
        # would land in the sink and then wedge the checkpointed
        # stream forever on the catalog sync. Quarantine such rows
        # into a HIDDEN sub-directory (invisible to sink readers,
        # keyed by batch for replay idempotence) and keep the stream
        # alive on the valid remainder.
        bad = F.lit(False)
        for c in partition_cols:
            s = F.col(c).cast("string")
            bad = bad | (
                s.isNotNull()
                & (s.contains("/") | s.contains("=") | s.contains("'"))
            )
        quarantined = denorm.filter(bad)
        if not quarantined.isEmpty():
            _writers.write_partitioned(
                quarantined,
                f"{sink_path}/_quarantine",
                ["ingest_batch"],
                mode="overwrite",
                partition_overwrite="dynamic",
            )
            denorm = denorm.filter(~bad)
            if denorm.isEmpty():
                return
        # module attribute (not a from-import) so the restart test's
        # crash injection seam keeps working
        _writers.write_partitioned(
            denorm,
            sink_path,
            layout,
            mode="overwrite",
            partition_overwrite="dynamic",
        )
        # the catalog registers the on-disk layout, which now ends
        # with the ingest_batch idempotence level
        sync_catalog(
            spark, denorm, sink_path, catalog_db, f"{table_prefix}_sink",
            layout,
        )

    return (
        spark.readStream.schema(schema)
        .options(**(reader_options or {}))
        .json(source_path)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    key_col: str = "user_id",
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: decorate a live event stream
    with a static (or slowly-refreshed) dimension table. The static
    side needs no watermark and is re-read per micro-batch when it
    is a file source — which is exactly the slowly-changing-dim
    refresh semantics a pipeline wants; Spark broadcasts it when
    small. Stateless: no join buffers, unlike stream-stream."""
    return stream.join(dim, [key_col], how)


def stream_incremental_dedup(
    spark: SparkSession,
    source_path: str,
    store_path: str,
    corpus_sink: str,
    pairs_sink: str,
    checkpoint_path: str,
    schema: StructType,
    reader_options: dict | None = None,
    **dedup_kwargs,
) -> StreamingQuery:
    """Streaming near-dup detection against the persistent minhash
    band store: each micro-batch of documents is signatured ONCE,
    joined against the accumulated band buckets (new-vs-store +
    new-vs-new), its pairs appended to ``pairs_sink``, and its bands
    merged into the store — the continuous-ingest form of
    operators/dedup.py ``incremental_minhash_dedup``, whose
    order-independence invariant (pytest-pinned) is exactly what
    makes the micro-batch split safe: ANY partition of the corpus
    into batches yields the same cumulative pair set.

    foreachBatch (not a stateful operator) because the two durable
    artifacts are batch-shared: the band store (signatures) and the
    ``corpus_sink`` parquet (texts — appended per batch, read back
    as the ``old_docs`` side of the exact-Jaccard verify, exactly
    the corpus table a real pipeline already maintains). A nightly
    batch backfill and this stream compose on the same pair of
    stores. Per-batch cost: one signature pass over the BATCH, a
    bucket semi-join against the store, and a verify join whose
    old-side scan is pruned to candidate doc ids — never a corpus
    re-signature."""
    from ..operators.dedup import incremental_minhash_dedup

    def process_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        try:
            corpus = spark.read.parquet(corpus_sink)
        except AnalysisException:
            # ONLY "no history yet" (missing path) falls through to
            # first-contact mode; a transient read failure (throttle,
            # corrupt footer) must raise — swallowing it would run
            # the batch without history and permanently under-report
            # duplicates against the accumulated corpus. The filter
            # below sits OUTSIDE this try: an existing corpus MISSING
            # the ingest_batch column (a foreign backfill wrote it)
            # must surface as UNRESOLVED_COLUMN, not be silently
            # treated as empty history (r12 review find).
            corpus = None
        if corpus is None:
            old_docs = None
        else:
            # Exclude this batch's own partition from the "old"
            # corpus: a replayed batch (crash AFTER the corpus-sink
            # commit but BEFORE the checkpoint commit) would
            # otherwise see its own rows as history, and the verify
            # join would emit every pair twice (new-old + new-new)
            # inside its pairs partition.
            old_docs = corpus.filter(
                F.col("ingest_batch") != batch_id
            ).drop("ingest_batch")
        # EVERY artifact write is keyed by batch_id with dynamic
        # partition overwrite — the foreachBatch idempotence recipe:
        # a replayed batch overwrites exactly its own partitions, so
        # a crash in ANY window (after the band-store commit, after
        # the pairs commit, even after the corpus commit) cannot
        # duplicate bands, pairs, or corpus rows. Pinned by
        # tests/test_streaming.py::
        # test_stream_incremental_dedup_replay_idempotent and
        # ..._replay_after_corpus_commit.
        pairs = incremental_minhash_dedup(
            batch_df, store_path, old_docs=old_docs,
            batch_id=batch_id, **dedup_kwargs
        )
        (
            pairs.select("id_a", "id_b")
            .withColumn("ingest_batch", F.lit(batch_id))
            .write.option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .mode("overwrite")
            .parquet(pairs_sink)
        )
        (
            batch_df.withColumn("ingest_batch", F.lit(batch_id))
            .write.option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .mode("overwrite")
            .parquet(corpus_sink)
        )

    return (
        spark.readStream.schema(schema)
        .options(**(reader_options or {}))
        .json(source_path)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
