"""Job configuration (reference A2 + ``configs/config_emr.json``).

The reference loads a single-object JSON config with
``spark.read.option("multiline", True).json(path).collect()[0]``
(``emr_json_parquet_schema_drift_etl.py:297-311``). We keep that
read path for parity (`from_spark`) and offer a plain-Python loader
(`from_file`) — config is driver-side metadata and does not need a
distributed read.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, fields

from pyspark.sql import SparkSession


@dataclass
class EtlConfig:
    """Mirrors the reference's config keys (``configs/config_emr.json:1-11``),
    with cloud-specific fields optional for local/posix runs."""

    source_path: str
    sink_path: str
    catalog_db_name: str = "default"
    catalog_table_prefix: str = "etl"
    archival_folder: str = "archive"
    rehydration_folder: str = "rehydrated"
    legacy_day: bool = True
    # Sink format. "delta" is honored only when the delta-spark
    # package is importable (it gives O(1) schema-from-log drift
    # natively); plain parquet + the catalog ledger achieves the same
    # asymptotics (catalog.sync_catalog). run_batch is parquet-only.
    sink_format: str = "parquet"

    @classmethod
    def from_dict(cls, raw: dict) -> "EtlConfig":
        # Accept the reference's s3-flavored key names as aliases;
        # unknown keys are dropped, so configs naming retired options
        # still load.
        aliases = {"source_s3_path": "source_path", "sink_s3_path": "sink_path"}
        known = {f.name for f in fields(cls)}
        clean = {}
        for key, value in raw.items():
            key = aliases.get(key, key)
            if key in known:
                clean[key] = value
        return cls(**clean)

    @classmethod
    def from_file(cls, path: str) -> "EtlConfig":
        with open(path) as fh:
            return cls.from_dict(json.load(fh))

    @classmethod
    def from_spark(cls, spark: SparkSession, path: str) -> "EtlConfig":
        """Reference-parity distributed read of a multiline JSON config."""
        row = spark.read.option("multiline", True).json(path).collect()[0]
        return cls.from_dict(row.asDict())
