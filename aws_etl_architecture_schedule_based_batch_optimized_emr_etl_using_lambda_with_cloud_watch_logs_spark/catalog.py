"""Catalog sync, schema drift, partition registration.

Spark-native rebuild of the reference's Glue/Athena protocol
(``emr_json_parquet_schema_drift_etl.py``):

* H1 ``get_schema_for_data_catalog`` (:100-109) — schema → list of
  ``{"Name", "Type"}`` with ``LongType→bigint``, ``IntegerType→int``,
  else lowercased type name. Spark's ``DataType.simpleString()``
  produces exactly that mapping for every primitive the reference can
  see (bigint, int, string, double, boolean, timestamp, date).
* H3 ``get_schema_match`` (:121-124) — **names-only** set equality;
  types are deliberately ignored. This type-blind contract is
  load-bearing (a long→string change is *not* drift).
* H5/H7 partition-spec strings + diff (:186-197, :217-229) — the
  reference diffs the *re-read sink*'s partitions against the
  catalog (:219 uses the global ``merged_df``); here the incoming
  batch's partitions are diffed against the durable ledger, which
  already holds every partition written before it (same result).
* H8 ``create_update_data_catalog`` (:237-274) — decision tree:
  table absent → create (the crawler's job); schema drift → recreate
  the table definition; no drift → register only new partitions.

Glue crawler + Athena polling (H9/H10, :131-137, :143-169) collapse to
synchronous ``spark.sql`` calls — no wait loops needed.

Scale note: everything that reaches the driver here is *metadata*
(column names, distinct partition tuples) — cardinality is bounded by
the catalog, not the data. The distinct partition computation is a
map-side-combined hash aggregate over only the batch's partition
columns; the sink itself is re-read only when no ledger exists.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .sources.readers import read_parquet_merged

SchemaEntry = dict[str, str]


def schema_for_catalog(schema_or_df: DataFrame | StructType) -> list[SchemaEntry]:
    """H1: DataFrame schema → ``[{"Name": lower_name, "Type": type}]``.

    ``simpleString()`` reproduces the reference's type map (:102-104):
    ``LongType``→``bigint``, ``IntegerType``→``int``, others →
    lowercased bare name.
    """
    schema = (
        schema_or_df if isinstance(schema_or_df, StructType) else schema_or_df.schema
    )
    return [
        {"Name": field.name.lower(), "Type": field.dataType.simpleString()}
        for field in schema.fields
    ]


def partition_schema_for_catalog(
    schema_or_df: DataFrame | StructType, partition_cols: list[str]
) -> list[SchemaEntry]:
    """H2 (:114-116): subset of H1 restricted to partition columns.
    Comparison is case-insensitive — schema_for_catalog lowercases
    Names, so a raw mixed-case partition_cols list silently matched
    nothing (r12 review find)."""
    wanted = {c.lower() for c in partition_cols}
    return [
        entry
        for entry in schema_for_catalog(schema_or_df)
        if entry["Name"] in wanted
    ]


def schema_match(curr_schema: list[SchemaEntry], prev_schema: list[SchemaEntry]) -> bool:
    """H3 (:121-124): same length + name containment. Types ignored —
    the reference's drift contract is the *set of lowercase column
    names*, nothing else."""
    curr_names = [entry["Name"] for entry in curr_schema]
    prev_names = [entry["Name"] for entry in prev_schema]
    return len(curr_names) == len(prev_names) and all(
        name in prev_names for name in curr_names
    )


def partition_specs_from_data(df: DataFrame, partition_cols: list[str]) -> list[str]:
    """H5 (:186-197): distinct partition tuples → ``k1=v1/k2=v2`` spec
    strings. The distinct runs distributed (hash aggregate with
    map-side combine); only the distinct *specs* are collected —
    bounded by partition count, not row count."""
    rows = (
        df.select(
            *[F.col(c).cast("string").alias(c) for c in partition_cols]
        )
        .distinct()
        .collect()
    )
    specs = []
    for row in rows:
        parts = []
        for c in partition_cols:
            v = row[c]
            if v is None:
                # Spark writes NULL partition values to this sentinel
                # directory; the old concat_ws silently DROPPED the
                # null k=v pair, producing a malformed spec that
                # crashed every later sync
                v = "__HIVE_DEFAULT_PARTITION__"
            if any(ch in v for ch in "/='"):
                # the spec string is also the ledger encoding and the
                # ADD PARTITION literal; these characters make the
                # k=v/k=v round-trip ambiguous (and SHOW PARTITIONS
                # would return the hive-escaped form, never matching
                # the raw one) — fail loudly at the boundary
                raise ValueError(
                    f"partition value {v!r} for column {c!r} contains "
                    f"'/', '=' or a quote — hive-escape or sanitize "
                    f"partition values upstream"
                )
            parts.append(f"{c}={v}")
        specs.append("/".join(parts))
    return specs


def new_partition_specs(curr: list[str], prev: list[str]) -> list[str]:
    """H7 diff (:220): specs in data but not yet registered (anti-join
    semantics, driver-side on metadata cardinalities)."""
    prev_set = set(prev)
    return [spec for spec in curr if spec not in prev_set]


def _spec_to_sql(spec: str) -> str:
    parts = []
    for kv in spec.split("/"):
        key, _, value = kv.partition("=")
        # defensive quote-doubling: data-derived specs reject quotes
        # upstream, but SHOW PARTITIONS-seeded ledger entries are
        # hive-escaped and must never break the SQL literal
        value = value.replace("'", "''")
        parts.append(f"`{key}` = '{value}'")
    return ", ".join(parts)


def partitions_ddl(db: str, table: str, specs: list[str]) -> str:
    """H6 (:202-212): one ``ALTER TABLE … ADD`` DDL for all new
    partitions (``IF NOT EXISTS`` added — idempotent re-runs)."""
    clauses = "\n".join(f"PARTITION ({_spec_to_sql(spec)})" for spec in specs)
    return f"ALTER TABLE `{db}`.`{table}` ADD IF NOT EXISTS\n{clauses}"


def show_partitions(spark: SparkSession, db: str, table: str) -> list[str]:
    """H4 (:174-181): ``SHOW PARTITIONS`` — synchronous, no polling.

    Values are hive-UNESCAPED before returning, so every spec string
    in the module (ledger entries, diffs, DDL literals) lives in ONE
    raw representation: SHOW emits ``day=2024-01-01 00%3A00%3A00``
    while :func:`partition_specs_from_data` derives the raw
    ``2024-01-01 00:00:00`` — mixing the two made MSCK/SHOW-seeded
    ledger entries never match data-derived specs, spuriously
    re-adding partitions forever (r12 review find). Values containing
    '/', '=' or quotes can't reach a partition through this module
    (the spec guard rejects them at the boundary), so the raw k=v/k=v
    encoding stays unambiguous."""
    jvm = spark._jvm
    esc = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    out = []
    for row in spark.sql(f"SHOW PARTITIONS `{db}`.`{table}`").collect():
        kvs = []
        for kv in row[0].split("/"):
            k, _, v = kv.partition("=")
            kvs.append(f"{k}={esc.unescapePathName(v)}")
        out.append("/".join(kvs))
    return out


def _ddl_type(f) -> str:
    """DDL type for a field, with the one untypeable case mapped: a
    partition column whose every directory is
    ``__HIVE_DEFAULT_PARTITION__`` (an all-NULL-tts batch) infers as
    VOID, which CREATE TABLE rejects. Hive partition values are
    strings on disk, so string is the faithful recovery type."""
    t = f.dataType.simpleString()
    return "string" if t == "void" else t


def _ddl_columns(schema: StructType, exclude: set[str]) -> str:
    return ", ".join(
        f"`{f.name}` {_ddl_type(f)}"
        for f in schema.fields
        if f.name.lower() not in exclude
    )


def create_table_over_path(
    spark: SparkSession,
    schema: StructType,
    path: str,
    db: str,
    table: str,
    partition_cols: list[str],
) -> None:
    """The crawler's job (:244-262), natively: an external parquet
    table over the sink path, partitions recovered from directory
    names."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db}`")
    part_set = {c.lower() for c in partition_cols}
    data_cols = _ddl_columns(schema, exclude=part_set)
    part_cols_ddl = ", ".join(
        f"`{f.name}` {_ddl_type(f)}"
        for f in schema.fields
        if f.name.lower() in part_set
    )
    # filtered join, not bare concatenation: an all-partition-column
    # schema has empty data_cols and "(, `c` string)" is a
    # ParseException (r12 review find)
    all_cols = ", ".join(s for s in (data_cols, part_cols_ddl) if s)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS `{db}`.`{table}` ({all_cols}"
        + ") USING parquet "
        + (
            "PARTITIONED BY ("
            + ", ".join(f"`{c}`" for c in partition_cols)
            + ") "
            if partition_cols
            else ""
        )
        + f"LOCATION '{path}'"
    )
    if partition_cols:
        spark.sql(f"MSCK REPAIR TABLE `{db}`.`{table}`")


def _state_path(sink_path: str) -> str:
    from urllib.parse import urlparse

    parsed = urlparse(sink_path)
    base = parsed.path if parsed.scheme in ("file", "") else sink_path
    return os.path.join(base, "_catalog_state.json")


def _is_local(sink_path: str) -> bool:
    from urllib.parse import urlparse

    return urlparse(sink_path).scheme in ("file", "")


def _hadoop_fs(path: str):
    """Hadoop FileSystem for non-posix sinks (s3://, hdfs://): the
    ledger must live BESIDE the sink on whatever store holds it —
    os.path/open would make exists() always-False there (drift
    detection silently off) and the save crash after data landed."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            f"catalog state at {path!r} needs an active SparkSession "
            f"for filesystem access"
        )
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def load_catalog_state(sink_path: str) -> dict | None:
    """The durable external catalog (the reference's Glue). Spark's
    in-memory session catalog forgets between processes, so drift
    detection across scheduled runs needs persistent state — a small
    JSON ledger beside the sink: ``{"schema": [...], "partitions":
    [...]}``."""
    path = _state_path(sink_path)
    if _is_local(sink_path):
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return json.load(fh)
    fs, hpath, jvm = _hadoop_fs(path)
    if not fs.exists(hpath):
        # crash-window fallback (r12 ADVICE): the saver renames the
        # old ledger ASIDE before renaming the new one in — a crash
        # between the two leaves only the aside copy. One readable
        # ledger (the previous state) always survives; drift against
        # it is re-detected on the next run, never silently skipped.
        aside = jvm.org.apache.hadoop.fs.Path(path + ".old")
        if not fs.exists(aside):
            return None
        hpath = aside
    # read the bytes through the JVM: py4j passes byte[] buffers by
    # VALUE (a direct FSDataInputStream.read(buf) can't fill a Python
    # buffer), and spark.read.text silently IGNORES '_'-prefixed
    # files even when named directly — the old text-reader path
    # returned zero rows for _catalog_state.json and crashed every
    # non-local run after the first (r12 review find, repro'd).
    stream = fs.open(hpath)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(text)


def save_catalog_state(
    sink_path: str, schema_entries: list[SchemaEntry], partitions: list[str]
) -> None:
    payload = json.dumps(
        {"schema": schema_entries, "partitions": sorted(partitions)}
    )
    path = _state_path(sink_path)
    # write-then-rename so a crash mid-write can never leave a
    # truncated ledger that poisons every later scheduled run (r12
    # review find); os.replace / FileSystem.rename are atomic on
    # POSIX and HDFS (on S3 the rename is copy+delete — still never
    # a partially-written visible object).
    if _is_local(sink_path):
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(payload)
        os.replace(tmp, path)
        return
    fs, hpath, jvm = _hadoop_fs(path)
    tmp_path = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    aside = jvm.org.apache.hadoop.fs.Path(path + ".old")
    stream = fs.create(tmp_path, True)
    try:
        stream.write(payload.encode("utf-8"))
    finally:
        stream.close()
    # Hadoop rename won't overwrite, and delete-then-rename has a
    # window where NO ledger exists — a crash there lost the
    # partition set entirely (the lost-ledger reseed recovers the
    # schema but re-derives partitions only from future batches; r12
    # ADVICE). Instead: rename the live ledger ASIDE, rename the new
    # one in, then drop the aside — every crash point leaves at least
    # one readable ledger (the reader falls back to '.old' when the
    # main file is missing).
    if fs.exists(hpath):
        # main is live → any aside is stale; drop it ONLY in this
        # branch (when main is missing the aside IS the live ledger,
        # and deleting it first would reopen the no-ledger window
        # this pattern exists to close)
        if fs.exists(aside):
            fs.delete(aside, False)
        if not fs.rename(hpath, aside):
            raise IOError(f"failed to set aside previous ledger: {path}")
    if not fs.rename(tmp_path, hpath):
        raise IOError(f"failed to move catalog ledger into place: {path}")
    if fs.exists(aside):
        fs.delete(aside, False)


def _union_entries(
    prev: list[SchemaEntry], batch: list[SchemaEntry]
) -> list[SchemaEntry]:
    """Names-union of the ledger schema and an incoming batch — equal
    (by the H3 names-only contract) to what a mergeSchema re-read of
    the sink would report, because parquet append can only widen the
    sink's column-name set through the batch being appended."""
    seen = {e["Name"] for e in prev}
    return list(prev) + [e for e in batch if e["Name"] not in seen]


def _union_struct(base: StructType, extra: StructType) -> StructType:
    """``base`` plus the fields of ``extra`` whose lowercased name it
    lacks: the names-union a mergeSchema re-read of the sink reports
    once ``extra`` is appended (H3 is case- and type-blind)."""
    seen = {f.name.lower() for f in base.fields}
    return StructType(
        list(base.fields) + [f for f in extra.fields if f.name.lower() not in seen]
    )


def _struct_from_entries(entries: list[SchemaEntry]) -> StructType:
    """Reconstruct a StructType from ledger entries. Ledger types are
    ``simpleString()`` outputs, which are valid DDL type names."""
    ddl = ", ".join(f"`{e['Name']}` {e['Type']}" for e in entries)
    return StructType.fromDDL(ddl)


def sync_catalog(
    spark: SparkSession,
    batch_df: DataFrame,
    sink_path: str,
    db: str,
    table: str,
    partition_cols: list[str],
) -> str:
    """H8 ``create_update_data_catalog`` (:237-274), Spark-native.

    Call after ``batch_df`` has been appended to the sink. Returns the
    action taken: ``"created"``, ``"drift-recreated"``, or
    ``"partitions-only"`` — the reference's three branches (table
    absent → crawl/create; drift → re-crawl; else → add partitions).

    The reference decides drift from a mergeSchema re-read of the
    whole sink every run (:348-350). Here the durable ledger beside
    the sink (the Glue stand-in) records the sink's column-name set
    and registered partitions after every sync, and a parquet append
    can change either only through the batch being appended — so
    ``ledger ∪ batch == mergeSchema(sink)`` under the names-only H3
    contract, and the decision costs O(metadata + batch), not
    O(footers). The sink is re-read only when no ledger exists (first
    contact, a lost ledger, or a sink written before the ledger). The Spark
    session catalog forgets between processes; it is rebuilt from the
    ledger when the table is missing.
    """
    spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db}`")
    name = f"`{db}`.`{table}`"
    state = load_catalog_state(sink_path)
    table_exists = spark.catalog.tableExists(name)

    if state is None:
        schema = read_parquet_merged(spark, sink_path).schema
        entries = schema_for_catalog(schema)
        if table_exists and not schema_match(
            entries, schema_for_catalog(spark.table(name))
        ):
            spark.sql(f"DROP TABLE {name}")
        action = "created"
    else:
        entries = _union_entries(state["schema"], schema_for_catalog(batch_df))
        drift = not schema_match(entries, state["schema"])
        if table_exists and not drift:
            new = add_new_partitions_from_state(
                spark, batch_df, db, table, partition_cols, state
            )
            # an append into an already-registered partition adds
            # files the table's cached listing does not hold
            spark.catalog.refreshTable(name)
            save_catalog_state(
                sink_path, entries, set(state.get("partitions", [])) | set(new)
            )
            return "partitions-only"
        base = (
            spark.table(name).schema
            if table_exists
            else _struct_from_entries(state["schema"])
        )
        schema = _union_struct(base, batch_df.schema)
        if table_exists:
            spark.sql(f"DROP TABLE {name}")
        action = "drift-recreated" if drift else "partitions-only"

    create_table_over_path(spark, schema, sink_path, db, table, partition_cols)
    parts = show_partitions(spark, db, table) if partition_cols else []
    save_catalog_state(sink_path, entries, parts)
    return action


def add_new_partitions_from_state(
    spark: SparkSession,
    df: DataFrame,
    db: str,
    table: str,
    partition_cols: list[str],
    state: dict,
) -> list[str]:
    """H7 against the durable ledger: register only partitions the
    catalog hasn't seen (O(new), not O(all directories) like MSCK)."""
    if not partition_cols:
        return []
    curr = partition_specs_from_data(df, partition_cols)
    new = new_partition_specs(curr, state.get("partitions", []))
    if new:
        spark.sql(partitions_ddl(db, table, new))
    return new


def analyze_table(
    spark, table: str, columns: list[str] | None = None
) -> dict:
    """ANALYZE TABLE: collect table- and column-level statistics into
    the catalog so the cost-based optimizer can size joins (the
    metadata Glue crawlers maintain for Athena in the reference
    architecture; reference H8 crawls, we ANALYZE). Returns the
    recorded stats for inspection."""
    quoted = ".".join(f"`{p}`" for p in table.split("."))
    spark.sql(f"ANALYZE TABLE {quoted} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(f"`{c}`" for c in columns)
        spark.sql(
            f"ANALYZE TABLE {quoted} COMPUTE STATISTICS FOR COLUMNS {cols}"
        )
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {quoted}").collect()
    stats = next(
        (r["data_type"] for r in rows if r["col_name"] == "Statistics"), None
    )
    return {"table": table, "statistics": stats}
