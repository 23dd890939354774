"""Sinks (reference §2.I).

I1: partitioned append write (``emr_json_parquet_schema_drift_etl.py:340-343``)
— ``.save()`` with no format = parquet (the configured Delta extension
is unused in the reference; confirmed by the parquet read-back :348).

Scale notes baked in:

* The reference's 6-level partition layout explodes small files at
  100 TB (SURVEY §4). We keep the layout for parity but add
  ``files_per_partition`` — a repartition on the partition columns
  (plus an optional salt for skewed partitions) so each task writes
  one file per directory instead of |tasks| × |partitions| files.
* ``maxRecordsPerFile`` bounds file size without an extra shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.frames import local_frame


def delta_available() -> bool:
    """True when the delta-spark package is importable. Delta gives
    O(1) schema-from-transaction-log drift detection natively; without
    it, catalog.sync_catalog provides the same asymptotics over plain
    parquet via the durable ledger."""
    from importlib.util import find_spec

    return find_spec("delta") is not None


def _stable_salt(df: DataFrame, n: int):
    """Deterministic per-row salt expression in ``[0, n)``: xxhash64
    over the row content, so a stage retry after a shuffle-fetch
    failure re-assigns every row to the SAME reducer
    (monotonically_increasing_id depended on partition layout and row
    order — the SPARK-23207 silent dup/drop class; r12 ADVICE).

    Spark refuses to hash MAP-typed inputs (same maps may differ in
    hashcode), so any column whose type CONTAINS a map — directly, in
    an array, or nested in a struct — is routed through ``to_json``
    first: deterministic for a given row computation, which is
    exactly the attempt-stability the salt needs. Caveat:
    byte-identical duplicate rows share a salt bucket, so a frame
    that is mostly one repeated row will not fan out."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    def has_map(dt):
        if isinstance(dt, MapType):
            return True
        if isinstance(dt, ArrayType):
            return has_map(dt.elementType)
        if isinstance(dt, StructType):
            return any(has_map(f.dataType) for f in dt.fields)
        return False

    cols = [
        F.to_json(F.col(f.name)) if has_map(f.dataType) else F.col(f.name)
        for f in df.schema.fields
    ]
    return F.pmod(F.xxhash64(*cols), F.lit(n))


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "append",
    fmt: str = "parquet",
    files_per_partition: int | None = 1,
    max_records_per_file: int | None = None,
    partition_overwrite: str | None = None,
) -> None:
    """I1 with small-file hygiene. ``files_per_partition=None``
    preserves the reference's raw behavior (one file per task per
    partition value). ``fmt="delta"`` requires the delta-spark
    package (checked up front for a clear error instead of a JVM
    classpath failure mid-write). ``partition_overwrite="dynamic"``
    (with ``mode="overwrite"``) rewrites ONLY the partitions present
    in ``df`` — the idempotent-replay write shape the streaming
    foreachBatch sinks key by ``ingest_batch``."""
    if partition_overwrite == "dynamic" and mode != "overwrite":
        raise ValueError(
            "partition_overwrite='dynamic' requires mode='overwrite'"
        )
    if fmt == "delta" and not delta_available():
        raise RuntimeError(
            "sink_format='delta' requested but the delta-spark package "
            "is not installed; use parquet, whose catalog ledger gives "
            "O(metadata) drift detection, instead"
        )
    if files_per_partition:
        keys = [F.col(c) for c in partition_cols]
        if files_per_partition > 1:
            # Salt so one hot partition value can still fan out to
            # several writers (skew control at scale). Deterministic
            # row-content hash (see _stable_salt for the stage-retry
            # rationale and the map-column handling). A
            # spark_partition_id() salt is also out: it is capped by
            # the UPSTREAM partition count — a single-partition frame
            # salts to one value and the fan-out silently does
            # nothing (r12 review find). The EXPLICIT partition count
            # is equally load-bearing (r13 review find): without it
            # AQE coalesces a small salted shuffle back into one task
            # and the fan-out silently collapses to one file per
            # directory — the same trap compact_partitions pinned in
            # r12, latent here because no test counted the files.
            keys = keys + [_stable_salt(df, files_per_partition)]
            n_shuffle = int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
            df = df.repartition(max(n_shuffle, files_per_partition), *keys)
        else:
            df = df.repartition(*keys)
    writer = df.write.mode(mode).partitionBy(*partition_cols).format(fmt)
    if partition_overwrite:
        writer = writer.option("partitionOverwriteMode", partition_overwrite)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.save(path)


def compact_partitions(
    spark,
    path: str,
    partition_cols: list[str],
    target_files: int = 1,
    min_files: int = 2,
) -> dict:
    """OPTIMIZE-style maintenance for the append sink: rewrite every
    partition directory holding more than ``min_files`` data files
    down to ``target_files``.

    Mechanics: enumerate fragmented partitions (driver-side walk —
    bounded by partition count, the same metadata cardinality the
    reference collects for ADD PARTITION), read ONLY those partitions
    (partition pruning via the IN filter on partition columns), and
    rewrite them with dynamic partition overwrite so untouched
    partitions keep their files byte-identical.

    Returns {"compacted": n_partitions, "files_before": x,
    "files_after": y} — files_after RECOUNTED from the filesystem, not
    assumed. At 100 TB the same loop runs per partition batch; on
    Delta this whole function is ``OPTIMIZE``.

    Hardened r12 (review findings — the same classes fixed in
    merge_upsert, ported here): enumeration goes through the Hadoop
    FileSystem API (scheme-agnostic, where os.walk silently returned
    nothing off the local FS), directory tokens are hive-UNESCAPED and
    __HIVE_DEFAULT_PARTITION__ maps to NULL, the sink read disables
    partition type inference so 'grp=01' round-trips verbatim, the
    predicate is eqNullSafe, and target_files > 1 salts the
    repartition (hash on partition columns alone puts every row of a
    value in ONE task = always one file, whatever target_files said).
    """
    from collections import defaultdict

    jvm = spark._jvm
    esc = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    # Qualify BEFORE computing the strip prefix: for a RELATIVE local
    # path the listed file paths are absolute while the raw root is
    # relative, so the prefix never matched, no partition dirs parsed,
    # and compaction silently reported compacted=0 (r12 ADVICE).
    p = fs.makeQualified(p)
    root = p.toUri().getPath()

    def scan_partition_files() -> dict[tuple, int]:
        frag: dict[tuple, int] = defaultdict(int)
        it = fs.listFiles(p, True)
        while it.hasNext():
            rel = it.next().getPath().toUri().getPath()
            rel = rel[len(root):].lstrip("/")
            segs = rel.split("/")
            # Spark's visibility rule: any hidden segment hides the file
            if any(s.startswith(("_", ".")) for s in segs):
                continue
            if not segs[-1].endswith(".parquet"):
                continue
            parts: dict[str, str | None] = {}
            for s in segs[:-1]:
                if "=" in s:
                    k, _, v = s.partition("=")
                    parts[esc.unescapePathName(k)] = (
                        None
                        if v == "__HIVE_DEFAULT_PARTITION__"
                        else esc.unescapePathName(v)
                    )
            if set(parts) >= set(partition_cols):
                frag[tuple(parts[c] for c in partition_cols)] += 1
        return frag

    frag = scan_partition_files()
    victims = {k: v for k, v in frag.items() if v > min_files}
    if not victims:
        return {"compacted": 0, "files_before": 0, "files_after": 0}

    infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev_infer = spark.conf.get(infer_key, "true")
    spark.conf.set(infer_key, "false")
    try:
        df = spark.read.parquet(path)
    finally:
        spark.conf.set(infer_key, prev_infer)
    # Partition-pruning predicate: (p1<=>v1 AND p2<=>v2 ...) OR ...
    cond = None
    for key in victims:
        clause = None
        for col, val in zip(partition_cols, key):
            c = F.col(col).cast("string").eqNullSafe(F.lit(val))
            clause = c if clause is None else (clause & c)
        cond = clause if cond is None else (cond | clause)
    keys = [F.col(c) for c in partition_cols]
    if target_files > 1:
        # deterministic salt (see _stable_salt): attempt-stable
        # under stage retry, unlike monotonically_increasing_id
        keys.append(_stable_salt(df, target_files))
    # explicit partition count: without it AQE coalesces a small
    # rewrite into one task and the salt fan-out silently collapses
    # back to one file per directory
    n_shuffle = max(len(victims) * target_files, 1)
    previous = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            df.filter(cond)
            .repartition(n_shuffle, *keys)
            .write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", previous)
    after = scan_partition_files()
    return {
        "compacted": len(victims),
        "files_before": sum(victims.values()),
        "files_after": sum(after.get(k, 0) for k in victims),
    }


def _merge_intent_handles(spark, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(
        f"{path.rstrip('/')}/_merge_intent.json"
    )
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def read_merge_intent(spark, path: str) -> dict | None:
    """Surviving merge-intent record for the sink at ``path``, or
    None. A non-None result means a previous :func:`merge_upsert`
    crashed inside its commit window (between the dynamic partition
    overwrite and the emptied-dir sweep) — the sink may hold a MIX of
    pre- and post-merge partition versions. The record lists the
    touched (and to-be-emptied) partitions of the torn batch.

    '_'-prefixed, so Spark readers never see it as data."""
    import json

    fs, hpath, jvm = _merge_intent_handles(spark, path)
    if not fs.exists(hpath):
        return None
    # bytes via the JVM: py4j passes byte[] by value and spark.read
    # skips '_'-prefixed files even when named directly (r12 find on
    # the catalog ledger — same I/O pattern here)
    stream = fs.open(hpath)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(text)


def clear_merge_intent(spark, path: str) -> bool:
    """Remove a surviving merge-intent record after the torn batch
    has been repaired (normally: by replaying the SAME batch — the
    merge is idempotent over its touched partitions, see
    :func:`merge_upsert`). Returns True if a record was removed."""
    fs, hpath, _ = _merge_intent_handles(spark, path)
    return bool(fs.delete(hpath, False))


def _write_merge_intent(spark, path: str, payload: dict) -> None:
    """tmp + rename (the catalog-ledger pattern): a crash mid-write
    must never leave a truncated intent file — an unreadable record
    would turn every later merge into a hard failure with no
    partition list to act on."""
    import json

    fs, hpath, jvm = _merge_intent_handles(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(hpath.toString() + ".tmp")
    stream = fs.create(tmp, True)
    try:
        stream.write(json.dumps(payload).encode("utf-8"))
    finally:
        stream.close()
    if not fs.rename(tmp, hpath):
        raise IOError(f"failed to write merge intent at {hpath}")


def merge_upsert(
    spark,
    path: str,
    updates,
    key_cols: list[str],
    partition_cols: list[str],
    deletes=None,
    write_salt: int | None = None,
) -> dict:
    """MERGE INTO for a plain-parquet partitioned sink: upsert
    ``updates`` by key — and, when ``deletes`` is given (a frame of
    key + partition columns), remove matching keys (``WHEN MATCHED
    THEN DELETE``) — rewriting ONLY the partitions the batch touches
    (dynamic partition overwrite). On Delta/Iceberg this whole
    function is ``MERGE INTO``; on parquet the idiom is:

    1. restrict the sink read to touched partitions (pruned scan —
       the anti-join below never reads untouched data),
    2. anti-join existing rows against update AND delete keys
       (survivors),
    3. union survivors + updates, overwrite those partitions,
    4. a touched partition whose every row was deleted vanishes from
       the written data, which dynamic overwrite would silently SKIP
       (it only replaces partitions present in the output) — those
       emptied partition directories are removed explicitly through
       the Hadoop filesystem layer (works on HDFS/S3/any scheme;
       partition values are assumed hive-layout-safe, as everywhere
       else in this sink).

    A key present in both frames deletes (each MERGE source row fires
    one clause; the delete arm is evaluated first, so delete wins —
    the deterministic corner of the lattice, property-tested).

    Rewrite volume is O(touched partitions), not O(sink) — at 100 TB
    the touched set is the hot tail, so per-batch upserts stay
    bounded. Returns {"updated_partitions" (partitions actually
    rewritten or removed — a delete naming a partition the sink never
    held counts in neither), "rows_written", "rows_deleted",
    "emptied_partitions"}.

    Crash consistency (r13): plain parquet has no transaction log, and
    Spark's dynamic-overwrite job commit swaps touched partition
    directories one rename at a time with the emptied-dir sweep as a
    separate post-commit step — a driver crash inside that window
    leaves a mixed-version sink. The merge therefore writes an INTENT
    record (``_merge_intent.json`` beside the sink, atomic
    tmp+rename) listing the touched and to-be-emptied partitions
    before the overwrite, and clears it after the sweep. A surviving
    record on the next merge means a torn commit: the merge raises
    with the partition list instead of computing survivors from mixed
    data. Recovery is to replay the SAME batch after
    :func:`clear_merge_intent` — the merge is idempotent over its
    touched partitions (a partition already holding the post-merge
    rows anti-joins and re-unions to the identical output). The check
    is deliberately conservative: a crash between intent-write and
    overwrite start also trips it, and the same replay fixes it. The
    record is a crash MARKER, not a lock — concurrent merges against
    one plain-parquet sink were never safe (dynamic overwrite has no
    isolation) and remain the caller's responsibility to serialize.
    On Delta this whole mechanism is the transaction log (sandbox-
    blocked here; see ``plans/pipeline.py``).

    Skew (``write_salt``): the overwrite hashes on the partition
    columns alone — one task per touched partition VALUE, the
    one-file-per-directory posture. A single hot partition therefore
    serializes into one writer; at 100 TB that one task is the merge's
    wall. ``write_salt=N`` adds a deterministic row-content salt so a
    hot partition fans out to ≤N writers/files — trading file count
    (and downstream open cost) for write parallelism. Leave unset
    unless the touched set is known-skewed.
    """
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    touched = updates.select(*partition_cols).distinct()
    if deletes is not None:
        touched = touched.unionByName(
            deletes.select(*partition_cols).distinct()
        ).distinct()
    # Partition-pruning predicate from the (small) touched set. ALL
    # partition-value bookkeeping below — the predicate, the
    # existing/written partition-tuple sets, and the emptied-dir
    # names — runs in SPARK's cast-to-string space (the same Cast,
    # session-timezone semantics partitionPathExpression uses when
    # naming directories). Two reasons: Python's str() diverges from
    # the directory rendering for non-string types (True vs 'true'),
    # and the read-back partition column may not even keep the write
    # type (partition inference has no boolean — 'flag=true' comes
    # back as a STRING), so typed tuples from the two sides never
    # match. The sink read below disables partition-column TYPE
    # INFERENCE outright, so read-back partition values are the
    # literal directory strings — without that, a STRING partition
    # value with a non-canonical numeric rendering ('01' → inferred
    # int 1 → cast back '1') would evade the touched predicate and
    # its survivors would be silently dropped (r12 review find,
    # repro'd). Partition pruning still applies — cast(partition_col)
    # = literal is evaluable per-partition at planning time.
    path_key = [F.col(c).cast("string").alias(c) for c in partition_cols]
    touched_rows = touched.select(*path_key).collect()
    cond = None
    for row in touched_rows:
        clause = None
        for c in partition_cols:
            eq = F.col(c).cast("string").eqNullSafe(F.lit(row[c]))
            clause = eq if clause is None else (clause & eq)
        cond = clause if cond is None else (cond | clause)
    if cond is None:
        # Empty batch: return BEFORE touching the sink — at 100 TB a
        # scheduled no-op tick must not pay the sink file listing.
        return {
            "updated_partitions": 0,
            "rows_written": 0,
            "rows_deleted": 0,
            "emptied_partitions": 0,
        }

    # Torn-commit gate BEFORE the sink read: survivors computed from
    # a mixed-version sink would silently merge wrong data.
    prior = read_merge_intent(spark, path)
    if prior is not None:
        raise IOError(
            f"torn merge commit detected at {path}: a previous merge "
            f"crashed inside its commit window (overwrite → emptied-"
            f"dir sweep); touched partitions: {prior.get('touched')}, "
            f"pending emptied-dir removals: {prior.get('emptied')}. "
            f"Replay the SAME batch after clear_merge_intent() — the "
            f"merge is idempotent over its touched partitions."
        )

    infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev_infer = spark.conf.get(infer_key, "true")
    spark.conf.set(infer_key, "false")
    try:
        # Inference off: partition columns come back as the literal
        # directory strings, the one representation that round-trips
        # for every type (the union with the typed update frame
        # coerces to string, and writing the string value reproduces
        # the identical directory name).
        existing = spark.read.parquet(path)
    except AnalysisException as exc:
        # A sink whose EVERY partition a prior merge deleted still
        # exists as a directory but holds no parquet footers to infer
        # a schema from — semantically an EMPTY sink, not an error.
        # A genuinely missing path still raises (a typo'd sink must
        # not silently become create-on-first-merge), and so does a
        # sink that HAS data files but failed to read (corrupt footer,
        # permission fault) — treating that as empty would drop every
        # survivor in the touched partitions. Only AnalysisException
        # reaches here at all; executor-side read faults surface at
        # action time, after this probe.
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(p):
            raise exc
        # qualify so the strip prefix matches listed absolute paths
        # even for a relative local sink path (r12 ADVICE)
        p = fs.makeQualified(p)
        root = p.toUri().getPath()
        it = fs.listFiles(p, True)
        while it.hasNext():
            # a VISIBLE data file means a real read failure — but
            # apply Spark's visibility rule to EVERY path segment
            # under the sink root, not just the leaf: files inside
            # _temporary/.staging trees are invisible to the reader
            # and must not block the empty-sink fallback.
            rel = it.next().getPath().toUri().getPath()
            rel = rel[len(root):].lstrip("/")
            if not any(s.startswith(("_", ".")) for s in rel.split("/")):
                raise exc  # data files present: a real read failure
        existing = local_frame(spark, [], updates.schema)
    finally:
        spark.conf.set(infer_key, prev_infer)
    survivors = existing.filter(cond).join(
        updates.select(*key_cols), key_cols, "left_anti"
    )
    n_deleted = 0
    existing_parts: set | None = None
    if deletes is not None:
        del_keys = deletes.select(*key_cols).distinct()
        # ONE pruned pass over the pre-merge touched partitions
        # yields both the delete-hit count and which touched
        # partitions actually exist in the sink — a touched value
        # the sink never held (key typo, already-merged batch) must
        # neither count as emptied nor trigger a filesystem delete.
        ex_stats = (
            existing.filter(cond)
            .join(
                # double-underscored marker: a sink column literally
                # named '_del' would make the join output ambiguous
                del_keys.withColumn("__merge_del__", F.lit(1)),
                key_cols,
                "left",
            )
            .groupBy(*path_key)
            .agg(
                F.sum(F.coalesce(F.col("__merge_del__"), F.lit(0))).alias("_nd")
            )
            .collect()
        )
        n_deleted = int(sum(r["_nd"] for r in ex_stats))
        existing_parts = {
            tuple(r[c] for c in partition_cols) for r in ex_stats
        }
        survivors = survivors.join(del_keys, key_cols, "left_anti")
        # delete wins over update for a key in both frames
        updates = updates.join(del_keys, key_cols, "left_anti")
    # Persist: `merged` feeds TWO actions — the pre-write stats pass
    # and the overwrite itself. Unpersisted, the write re-executes the
    # pruned sink scan plus up to three joins (r11 verdict finding #1);
    # the cache is bounded by the touched partitions' data.
    merged = survivors.unionByName(updates).persist()
    # One pre-write pass serves both the row count and the
    # emptied-partition set (touched partitions the merge emptied
    # entirely — found BEFORE the overwrite, after it the old files
    # are the only record). Bounded: ≤ |touched_rows| groups.
    part_counts = (
        merged.groupBy(*path_key)
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    n_rows = sum(r["_n"] for r in part_counts)
    written_parts = {
        tuple(r[c] for c in partition_cols) for r in part_counts
    }
    # Without a delete arm no touched partition can empty (its update
    # rows are in the written output), so the existing-partition probe
    # is skipped entirely and `emptied` is provably [].
    emptied = [
        row
        for row in touched_rows
        if existing_parts is not None
        and tuple(row[c] for c in partition_cols) in existing_parts
        and tuple(row[c] for c in partition_cols) not in written_parts
    ]

    # Intent record BEFORE the commit window opens (see docstring):
    # a crash from here until the post-sweep clear leaves a record
    # naming every partition a repair has to look at.
    _write_merge_intent(
        spark,
        path,
        {
            "touched": [
                {c: row[c] for c in partition_cols} for row in touched_rows
            ],
            "emptied": [
                {c: row[c] for c in partition_cols} for row in emptied
            ],
        },
    )
    # hash on the partition columns: each touched VALUE lands in
    # exactly one task (one file per directory), but the values
    # spread across tasks so a 200-partition batch writes in
    # parallel — repartition(1, ...) funneled the whole merged frame
    # through a single writer (r12 review find, the opposite of the
    # O(touched) posture). write_salt fans a hot value out further
    # (docstring trade-off); explicit partition count so AQE cannot
    # coalesce the salt fan-out back into one task.
    part_keys = [F.col(c) for c in partition_cols]
    if write_salt and write_salt > 1:
        part_keys.append(_stable_salt(merged, write_salt))
        to_write = merged.repartition(
            max(len(touched_rows) * write_salt, 1), *part_keys
        )
    else:
        to_write = merged.repartition(*part_keys)
    previous = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            to_write.write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", previous)
        merged.unpersist()
    # Remove fully-emptied partition dirs AFTER the successful
    # overwrite (a failed write must not half-apply the delete arm).
    # Directory names go through Spark's OWN hive-layout escaping
    # (getPartitionPathString): a NULL value is stored as
    # __HIVE_DEFAULT_PARTITION__ and special characters (':', '%',
    # '#', …) are percent-escaped — a raw f"{c}={v}" path would
    # silently miss both and leave the ghost rows this removal
    # exists to eliminate.
    if emptied:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        esc = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        for row in emptied:
            # value strings are Spark's own cast-to-string rendering
            # (collected in touched_rows), never Python str().
            part_dir = "/".join(
                esc.getPartitionPathString(
                    c, "" if row[c] is None else row[c]
                )
                for c in partition_cols
            )
            p = jvm.org.apache.hadoop.fs.Path(f"{path}/{part_dir}")
            fs = p.getFileSystem(hconf)
            if not fs.delete(p, True) and fs.exists(p):
                # A surviving emptied directory means ghost rows on the
                # next read — surface it, never report success.
                raise IOError(
                    f"failed to remove emptied partition dir {path}/{part_dir}"
                )
    # Commit window closed: overwrite landed and every emptied dir is
    # gone — retire the intent record. A failed removal must surface
    # NOW (same posture as the emptied-dir delete above): leaving it
    # silently would make the NEXT merge raise a spurious torn-commit
    # error for a batch that actually committed cleanly.
    if not clear_merge_intent(spark, path):
        fs_i, hpath_i, _ = _merge_intent_handles(spark, path)
        if fs_i.exists(hpath_i):
            raise IOError(
                f"merge committed but its intent record could not be "
                f"removed: {hpath_i} — remove it before the next merge"
            )
    return {
        # partitions actually rewritten or removed; a touched value
        # absent from the sink (delete of a never-present partition)
        # is deliberately NOT counted.
        "updated_partitions": len(written_parts) + len(emptied),
        "rows_written": n_rows,
        "rows_deleted": n_deleted,
        "emptied_partitions": len(emptied),
    }


def cluster_by(df, cols: list[str], n_files: int = 8):
    """CLUSTER BY layout for data skipping: range-partition on the
    sort key then sort within each output file, so every parquet
    file/row-group covers a narrow, near-disjoint value range and
    min/max footer stats prune file reads for selective predicates.
    (The practical single-key form of Z-ordering; true multi-column
    Z-order interleaves key bits before the same range-sort.) At
    100 TB this is what makes point/range lookups on a non-partition
    column feasible without a full scan.
    """
    from pyspark.sql import functions as F

    key_cols = [F.col(c) for c in cols]
    return df.repartitionByRange(n_files, *key_cols).sortWithinPartitions(
        *key_cols
    )


def zorder_by(
    df,
    cols: list[str],
    n_files: int = 8,
    bits_per_col: int = 8,
    rel_err: float | None = None,
):
    """Multi-column Z-ORDER layout: data skipping on EVERY listed key
    at once, where :func:`cluster_by` serves only its leading key.

    Mechanics (all JVM-side expressions, one range shuffle):

    1. quantile-bucket each key into ``2^bits_per_col`` ranks —
       boundaries from ``approxQuantile`` (driver-side, bounded by
       ``cols × 2^bits``, data-independent memory); rank = count of
       boundaries ≤ value via an array filter over the literal
       boundary array (whole-stage-codegen'd, no UDF);
    2. Morton-interleave the rank bits of all keys into one integer
       (bit j of key i lands at position ``j*len(cols)+i``);
    3. range-partition + sort on the interleaved key, so every output
       file covers a small hyper-rectangle of the key space and
       parquet footer min/max stats prune selective scans on ANY of
       the keys — the 100× posture for multi-predicate lookups.

    Quantile bucketing (not min/max linear binning) makes the cells
    equal-population, so skewed keys still spread across files.

    r12 review hardening: the Morton key must fit the non-sign bits
    of a long — ``bits_per_col × len(cols) ≤ 62`` is now enforced
    (JVM shiftleft takes the shift mod 64, so an overflowing layout
    silently ALIASED high bits onto low positions and flipped key
    signs instead of failing); all quantile boundaries come from ONE
    multi-column approxQuantile pass instead of one full scan per
    key; ``rel_err`` defaults to the finer of 1 % and a quarter
    bucket width (a 1 % rank error against 1/256-wide buckets let
    adjacent boundaries collapse); and a pre-existing ``_zorder_key``
    column is an explicit error instead of silent data loss.
    """
    from pyspark.sql import functions as F

    if not 1 <= bits_per_col <= 16:
        raise ValueError("bits_per_col must be in [1, 16]")
    if bits_per_col * len(cols) > 62:
        raise ValueError(
            f"z-order key needs {bits_per_col * len(cols)} bits; the "
            f"interleaved key must fit a signed long (≤ 62) — lower "
            f"bits_per_col or drop columns"
        )
    if "_zorder_key" in df.columns:
        raise ValueError("input already has a '_zorder_key' column")
    n_buckets = 1 << bits_per_col
    probs = [i / n_buckets for i in range(1, n_buckets)]
    if rel_err is None:
        rel_err = min(0.01, 0.25 / n_buckets)
    all_bounds = df.stat.approxQuantile(list(cols), probs, rel_err)
    rank_cols = []
    for c, bounds in zip(cols, all_bounds):
        arr = F.array(*[F.lit(b) for b in bounds])
        rank = F.size(
            F.filter(arr, lambda x: x <= F.col(c).cast("double"))
        ).cast("long")
        rank_cols.append(rank)
    morton = F.lit(0).cast("long")
    for bit in range(bits_per_col):
        for i, rank in enumerate(rank_cols):
            morton = morton + F.shiftleft(
                F.shiftright(rank, bit).bitwiseAND(F.lit(1)),
                bit * len(cols) + i,
            )
    return (
        df.withColumn("_zorder_key", morton)
        .repartitionByRange(n_files, F.col("_zorder_key"))
        .sortWithinPartitions("_zorder_key")
        .drop("_zorder_key")
    )
