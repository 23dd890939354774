"""Sources (reference §2.A).

* A1 JSON directory scan (``emr_json_parquet_schema_drift_etl.py:318-321``)
  — the reference always infers schema, costing an extra full pass per
  read; at 100 TB that doubles scan IO, so our default takes an
  explicit schema and falls back to inference only on first contact.
* A3 parquet scan with ``mergeSchema`` (:348-350) — the drift view.
* A4 file-provenance column (:321) — ``input_file_name()``; we also
  expose the Spark 3.2+ ``_metadata.file_path`` form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_json(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    multiline: bool = False,
    with_input_file: bool = True,
) -> DataFrame:
    """A1/A2: JSON scan. Explicit ``schema`` avoids the inference
    pre-pass (reference always pays it, :319)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    # (no else branch: the JSON source ALWAYS infers when no schema
    # is given — "inferSchema" is a CSV option and was a no-op here)
    if multiline:
        reader = reader.option("multiline", True)
    df = reader.json(path)
    if with_input_file:
        if any(c.lower() == "input_file" for c in df.columns):
            # withColumn resolves case-insensitively and would
            # silently REPLACE a genuine source field's data with
            # provenance paths (r12 review find) — fail loudly
            raise ValueError(
                "source data already has an 'input_file' column; pass "
                "with_input_file=False or rename the source field"
            )
        df = df.withColumn("input_file", F.input_file_name())
    return df


def read_parquet_merged(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """A3: the sink re-read with all historical schemas merged — the
    reference's drift detector (:348-350). O(footers); on a Delta/
    Iceberg sink the schema lives in the log and this is O(1). A known
    union ``schema`` (the catalog's) skips the footer scan: files
    lacking a column read it as NULL, as under mergeSchema."""
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    return spark.read.option("mergeSchema", "true").parquet(path)


def distinct_input_files(df: DataFrame, file_col: str = "input_file") -> list[str]:
    """A4+D1 (:39-45): the file-level ingest ledger. Distinct runs
    distributed; only file *names* are collected (bounded by file
    count)."""
    return [row[0] for row in df.select(file_col).distinct().collect()]


def read_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    header: bool = True,
    delimiter: str = ",",
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """CSV source (beyond the reference's JSON-only surface). An
    explicit schema avoids the inference pre-scan, exactly as for
    JSON; ``mode`` selects the malformed-row policy (PERMISSIVE
    null-fills, DROPMALFORMED skips, FAILFAST errors)."""
    reader = (
        spark.read.option("header", str(header).lower())
        .option("delimiter", delimiter)
        .option("mode", mode)
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — columnar alternative to parquet, same pushdown
    and pruning behavior under Catalyst."""
    return spark.read.orc(path)
