"""End-to-end scheduled-batch ETL (reference §3.1,
``emr_json_parquet_schema_drift_etl.py:279-361``), Spark-native.

Stages (each maps 1:1 to a reference line range):

1. read source JSON + provenance column        (:318-321)
2. flatten (explode arrays, expand structs,
   camelCase)                                  (:326, :57-95)
3. derive row_insert_tsp/date, year/month/day  (:327-331)
4. partitioned append write                    (:336-343)
5. catalog sync: create / drift-recreate /
   add-partitions, decided from the ledger     (:355-356, :237-274)
6. re-read sink under the union schema         (:348-350)
7. archive source files (incremental ledger)   (:361, :24-51)

The cluster-provisioning Lambda (J2) collapses to this function being
``spark-submit``-able (see ``main`` below).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.utils import AnalysisException

from ..catalog import sync_catalog
from ..config import EtlConfig
from ..operators.derive import PARTITION_COLS, with_ingest_columns
from ..operators.flatten import flatten
from ..sources.archive import archive_files
from ..sources.readers import read_json, read_parquet_merged
from ..sources.writers import write_partitioned


@dataclass
class EtlResult:
    rows_written: int
    catalog_action: str
    files_archived: list[str]
    merged_df: DataFrame | None


def run_batch(
    spark: SparkSession,
    config: EtlConfig,
    schema: StructType | None = None,
    partition_cols: list[str] | None = None,
    archive: bool = True,
) -> EtlResult:
    """One scheduled-batch run, start to finish."""
    partition_cols = partition_cols or PARTITION_COLS

    if config.sink_format != "parquet":
        # The sink re-read (raw parquet files) and the
        # catalog registration (USING parquet) are parquet-shaped: a
        # delta/iceberg sink read this way would bypass the
        # transaction log and count uncommitted files. Fail loudly
        # rather than produce phantom rows; write_partitioned alone
        # supports other formats for plain exports.
        raise NotImplementedError(
            f"run_batch's drift/catalog machinery is parquet-only "
            f"(sink_format={config.sink_format!r}); use parquet, or "
            f"write_partitioned directly for other formats"
        )

    try:
        raw = read_json(spark, config.source_path, schema=schema)
    except AnalysisException as exc:
        if "UNABLE_TO_INFER_SCHEMA" not in str(exc) and "PATH_NOT_FOUND" not in str(exc):
            raise
        # Routine schedule tick with no new source files: graceful no-op.
        return EtlResult(
            rows_written=0, catalog_action="no-op", files_archived=[], merged_df=None
        )
    def _archive_and_noop() -> EtlResult:
        # Zero-ROW source files must still be ARCHIVED (r12 review
        # find): they contributed no rows, but leaving them in the
        # source means every later tick re-lists and re-reads them
        # forever — unbounded listing growth on object stores.
        archived: list[str] = []
        if archive and raw.inputFiles():
            archived = archive_files(
                spark,
                config.source_path,
                f"{config.source_path.rstrip('/')}_{config.archival_folder}",
                files=list(raw.inputFiles()),
            )
        return EtlResult(
            rows_written=0, catalog_action="no-op",
            files_archived=archived, merged_df=None,
        )

    if schema is not None and raw.isEmpty():
        # With an explicit schema an empty source dir reads as an
        # empty frame instead of raising UNABLE_TO_INFER_SCHEMA —
        # same routine no-op tick, caught before the sink re-read
        # (which would throw on a sink containing no parquet yet).
        return _archive_and_noop()
    if not [c for c in raw.columns if c != "input_file"]:
        # Source files exist but hold zero rows (a writer emitted an
        # empty batch): inference yields no data columns — only the
        # provenance column — and the derive stage would fail
        # resolving `tts`. Same routine no-op tick; plan-structural
        # check, no job.
        return _archive_and_noop()
    # file list from the plan's OWN file-index snapshot: exactly the
    # files the write will read (archive-safe — a file arriving after
    # the read is in neither), listed driver-side with no job, and
    # including zero-row files the row-derived provenance distinct
    # missed (r12 review find — those were re-scanned every tick
    # forever; the distinct also paid a full source scan + shuffle
    # just to list names)
    files = list(raw.inputFiles())
    flat = flatten(raw.drop("input_file"))
    if not any(c.lower() == "tts" for c in flat.columns):
        # A batch whose tts is NULL on every row is written by
        # Spark's JSON writer with the field omitted entirely, so on
        # disk it is indistinguishable from a feed that dropped the
        # column. The explicit-null form must process (NULL-derived
        # partition columns → __HIVE_DEFAULT_PARTITION__ dirs), so
        # the missing-column form processes identically.
        flat = flat.withColumn("tts", F.lit(None).cast("bigint"))
    denorm = with_ingest_columns(flat, legacy_day=config.legacy_day)
    write_partitioned(
        denorm, config.sink_path, partition_cols, mode="append",
        fmt=config.sink_format,
    )
    table = f"{config.catalog_table_prefix}_sink"
    action = sync_catalog(
        spark, denorm, config.sink_path, config.catalog_db_name, table,
        partition_cols,
    )
    # the reference's merged sink view (:348-350) under the catalog's
    # union schema: no footer scan. Partition columns are left out of
    # the schema so their types are inferred from the directory names,
    # as the mergeSchema re-read does.
    part_set = {c.lower() for c in partition_cols}
    data_schema = StructType([
        f for f in spark.table(f"`{config.catalog_db_name}`.`{table}`").schema
        if f.name.lower() not in part_set
    ])
    merged = read_parquet_merged(spark, config.sink_path, schema=data_schema)
    rows = merged.count()

    archived: list[str] = []
    if archive:
        archived = archive_files(
            spark,
            config.source_path,
            f"{config.source_path.rstrip('/')}_{config.archival_folder}",
            files=files,
        )

    return EtlResult(
        rows_written=rows,
        catalog_action=action,
        files_archived=archived,
        merged_df=merged,
    )


def main() -> None:
    """CLI entry point: ``spark-submit -m … pipeline /path/to/config.json``."""
    import sys

    from ..session import get_spark

    config = EtlConfig.from_file(sys.argv[1])
    result = run_batch(get_spark(), config)
    print(
        f"rows={result.rows_written} catalog={result.catalog_action} "
        f"archived={len(result.files_archived)}"
    )


if __name__ == "__main__":
    main()
