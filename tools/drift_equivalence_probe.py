"""Ledger-vs-sink equivalence at 10× (round-13 verdict task #7).

`sync_catalog` decides drift and registers partitions from the
durable `_catalog_state.json` ledger plus the incoming batch; it
re-reads the sink only when no ledger exists. Its correctness rests
on one invariant: after every sync the ledger equals what the
reference's mergeSchema re-read of the sink
(`emr_json_parquet_schema_drift_etl.py:348-350`) reports. This probe
checks that invariant through a multi-batch drift sequence on the 10×
union fixture's orders table (1.5M rows), with `read_parquet_merged`
as the reference:

  batch 1  created           (years 1995-96, narrow schema)
  batch 2  drift-recreated   (years 1997-98, + o_orderpriority col)
  batch 3  partitions-only   (years 1999-2001, same schema)
  batch 4  created again     (ledger deleted, then a replay batch —
           the sync must rebuild the ledger from the sink re-read)

After every batch the probe asserts the expected action, that the
ledger's schema entries equal `schema_for_catalog` of the re-read,
and that its partitions equal the re-read's distinct partition specs.

Partition-column TYPE caveat: hive directory names erase types, so
a re-read INFERS the partition column's type from the directory
strings while a ledger entry that came from a batch keeps the
write-time type. For an int partition column the two agree (phase 1:
FULL ledger equality, types included). For a STRING column holding
numeric-looking values ('1995') the re-read reports `int` where a
batch-derived entry would say `string` — the same inference class as
the r12 merge_upsert survivor-drop find ('01' → 1). The H3
names-only contract (`schema_match`) makes this benign: actions and
partition lists never diverge, only the ledger's Type string for the
partition column. Phase 2 allows EXACTLY that pair and nothing else.

Usage: python tools/drift_equivalence_probe.py [fixture_dir]
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.catalog import (
    load_catalog_state,
    partition_specs_from_data,
    schema_for_catalog,
    sync_catalog,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.session import (
    get_spark,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.sources.readers import (
    read_parquet_merged,
)


def _ledger_diffs(ref: dict, ledger: dict, part_col: str, allow_part_type: bool):
    """Differences between the re-read reference and the ledger
    (empty = equal). ``allow_part_type`` permits the documented
    string/int inference pair on the partition column ONLY —
    anything else still fails."""
    diffs = []
    sa = {(e["Name"], e["Type"]) for e in ref["schema"]}
    sb = {(e["Name"], e["Type"]) for e in ledger["schema"]}
    if allow_part_type:
        allowed = {(part_col, "int"), (part_col, "string"), (part_col, "bigint")}
        if (sa - sb) <= allowed and (sb - sa) <= allowed:
            sa -= allowed
            sb -= allowed
    if sa != sb:
        diffs.append(f"schema: only-sink={sa - sb} only-ledger={sb - sa}")
    pa, pb = set(ref["partitions"]), set(ledger["partitions"])
    if pa != pb:
        diffs.append(f"partitions: only-sink={pa - pb} only-ledger={pb - pa}")
    return diffs


def run_sequence(spark, o, work: str, tag: str, allow_part_type: bool):
    """One 4-batch drive over pre-built batch frames; returns
    accumulated mismatch strings."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sink = f"{work}/sink"
    db = f"deq_{tag}"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")

    narrow = ["o_orderkey", "o_custkey", "o_totalprice", "o_year"]
    wide = narrow[:3] + ["o_orderpriority", "o_year"]
    failures: list[str] = []

    def run_batch(name: str, batch, expect: str, lose_ledger: bool = False):
        batch.write.mode("append").partitionBy("o_year").parquet(sink)
        if lose_ledger:
            os.remove(os.path.join(sink, "_catalog_state.json"))
        action = sync_catalog(spark, batch, sink, db, "orders", ["o_year"])
        problems = [] if action == expect else [f"action: {action} != {expect}"]
        merged = read_parquet_merged(spark, sink)
        ref = {
            "schema": schema_for_catalog(merged),
            "partitions": partition_specs_from_data(merged, ["o_year"]),
        }
        ledger = load_catalog_state(sink)
        problems += _ledger_diffs(ref, ledger, "o_year", allow_part_type)
        print(
            f"[{tag}] {name:8s} action={action:17s} "
            f"partitions={len(ledger['partitions'])} "
            f"{'MISMATCH: ' + '; '.join(problems) if problems else 'SINK-EQUAL'}",
            flush=True,
        )
        failures.extend(problems)

    run_batch("b1", o.filter(F.col("o_year") <= "1996").select(*narrow), "created")
    run_batch(
        "b2", o.filter(F.col("o_year").between("1997", "1998")).select(*wide),
        "drift-recreated",
    )
    run_batch(
        "b3", o.filter(F.col("o_year") >= "1999").select(*wide), "partitions-only"
    )
    run_batch(
        "b4-lost",
        o.filter(F.col("o_year") == "1995").select(*wide),
        "created",
        lose_ledger=True,
    )
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    return failures


def main() -> None:
    fixture = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf_union10"
    spark = get_spark(
        app_name="drift-equivalence-probe", master="local[8]",
        shuffle_partitions=8,
    )
    base = spark.read.parquet(f"{fixture}/orders.parquet")

    # phase 1: INT partition column — directory round-trip is
    # type-faithful, so the ledger must equal the re-read exactly
    o_int = base.withColumn("o_year", F.year("o_orderdate"))
    failures = run_sequence(
        spark, o_int, "/tmp/drift_equiv_int", "i", allow_part_type=False
    )

    # phase 2: STRING partition column with numeric-looking values —
    # the re-read infers int; allow EXACTLY the documented pair on
    # o_year and nothing else
    o_str = base.withColumn("o_year", F.year("o_orderdate").cast("string"))
    failures += run_sequence(
        spark, o_str, "/tmp/drift_equiv_str", "s", allow_part_type=True
    )
    spark.stop()
    print(f"{len(failures)} failures", flush=True)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
