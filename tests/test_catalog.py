from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.catalog import (
    new_partition_specs,
    partition_schema_for_catalog,
    partitions_ddl,
    schema_for_catalog,
    schema_match,
)


def _schema():
    return StructType(
        [
            StructField("Id", LongType()),
            StructField("count", IntegerType()),
            StructField("name", StringType()),
            StructField("price", DoubleType()),
            StructField("ok", BooleanType()),
            StructField("ts", TimestampType()),
        ]
    )


def test_schema_for_catalog_type_map():
    # Reference swap map (ETL:102-104): Long→bigint, Integer→int,
    # others lowercased bare names; names lowercased.
    entries = schema_for_catalog(_schema())
    assert entries == [
        {"Name": "id", "Type": "bigint"},
        {"Name": "count", "Type": "int"},
        {"Name": "name", "Type": "string"},
        {"Name": "price", "Type": "double"},
        {"Name": "ok", "Type": "boolean"},
        {"Name": "ts", "Type": "timestamp"},
    ]


def test_partition_schema_subset():
    entries = partition_schema_for_catalog(_schema(), ["id", "name"])
    assert [e["Name"] for e in entries] == ["id", "name"]


def test_schema_match_is_type_blind():
    # ETL:121-124 compares names only — a type change is NOT drift.
    curr = [{"Name": "a", "Type": "bigint"}, {"Name": "b", "Type": "string"}]
    prev = [{"Name": "b", "Type": "double"}, {"Name": "a", "Type": "string"}]
    assert schema_match(curr, prev)
    # Added column → drift.
    assert not schema_match(curr + [{"Name": "c", "Type": "int"}], prev)
    # Removed column → drift (length differs).
    assert not schema_match(curr[:1], prev)


def test_new_partition_specs_diff():
    curr = ["year=2024/month=1", "year=2024/month=2"]
    prev = ["year=2024/month=1"]
    assert new_partition_specs(curr, prev) == ["year=2024/month=2"]
    assert new_partition_specs(prev, curr) == []


def test_partitions_ddl_shape():
    ddl = partitions_ddl("db", "t", ["year=2024/month=2", "year=2024/month=3"])
    assert ddl.startswith("ALTER TABLE `db`.`t` ADD IF NOT EXISTS")
    # keys are backticked (reserved-word/special-char safety)
    assert "PARTITION (`year` = '2024', `month` = '2')" in ddl
    assert "PARTITION (`year` = '2024', `month` = '3')" in ddl


def test_analyze_table_records_stats(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.catalog import (
        analyze_table,
    )

    spark.range(500).selectExpr("id", "id % 7 AS grp").write.mode(
        "overwrite"
    ).saveAsTable("stats_demo")
    try:
        out = analyze_table(spark, "stats_demo", columns=["grp"])
        assert out["statistics"] and "bytes" in out["statistics"]
        assert "500 rows" in out["statistics"]
        col = spark.sql("DESCRIBE EXTENDED stats_demo grp").collect()
        got = {r["info_name"]: r["info_value"] for r in col}
        assert got.get("distinct_count") == "7"
    finally:
        spark.sql("DROP TABLE IF EXISTS stats_demo")


def test_partition_specs_null_and_special_values(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.catalog import (
        partition_specs_from_data,
    )

    df = spark.createDataFrame(
        [("v1", None), ("v2", "c1")], "vehicle string, category string"
    )
    specs = set(partition_specs_from_data(df, ["vehicle", "category"]))
    # NULL maps to Spark's on-disk sentinel instead of silently
    # vanishing from the spec string (the old concat_ws dropped the
    # whole k=v pair, corrupting the ledger and later DDL)
    assert specs == {
        "vehicle=v1/category=__HIVE_DEFAULT_PARTITION__",
        "vehicle=v2/category=c1",
    }

    import pytest

    bad = spark.createDataFrame([("a/b", "c")], "vehicle string, category string")
    with pytest.raises(ValueError, match="partition value"):
        partition_specs_from_data(bad, ["vehicle", "category"])


def test_show_partitions_unescapes_to_raw_specs(spark, tmp_path):
    """One spec representation everywhere (r12 review find): SHOW
    PARTITIONS hive-escapes values ('a:b' -> a%3Ab) while
    partition_specs_from_data derives raw strings; mixing the two
    made ledger entries never match data-derived specs, spuriously
    re-adding every special-char partition on every run."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.catalog import (
        load_catalog_state,
        sync_catalog,
    )

    sink = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [(1, "a:b"), (2, "plain")], "id bigint, category string"
    )
    df.write.partitionBy("category").parquet(sink)
    action = sync_catalog(
        spark, df, sink, "esc_db", "t", ["category"]
    )
    try:
        assert action == "created"
        state = load_catalog_state(sink)
        assert set(state["partitions"]) == {
            "category=a:b", "category=plain",
        }  # raw, never a%3Ab
        # a replayed batch must be partitions-only with NO re-adds
        action2 = sync_catalog(
            spark, df, sink, "esc_db", "t", ["category"]
        )
        assert action2 == "partitions-only"
        state2 = load_catalog_state(sink)
        assert state2["partitions"] == state["partitions"]
    finally:
        spark.sql("DROP DATABASE IF EXISTS esc_db CASCADE")


def test_lost_ledger_with_surviving_table_keeps_wide_schema(
    spark, tmp_path
):
    """A lost ledger beside a surviving table must reseed from the
    sink, not the batch alone — batch-only seeding silently dropped
    every sink column the next batch lacked (r12 review find)."""
    import os

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.catalog import (
        load_catalog_state,
        sync_catalog,
    )

    sink = str(tmp_path / "sink")
    wide = spark.createDataFrame(
        [(1, "x", 1.5, "g1")], "id bigint, extra string, val double, grp string"
    )
    wide.write.partitionBy("grp").parquet(sink)
    sync_catalog(spark, wide, sink, "lost_db", "t", ["grp"])
    try:
        os.remove(os.path.join(sink, "_catalog_state.json"))
        narrow = spark.createDataFrame(
            [(2, 2.5, "g2")], "id bigint, val double, grp string"
        )
        narrow.write.mode("append").partitionBy("grp").parquet(sink)
        sync_catalog(spark, narrow, sink, "lost_db", "t", ["grp"])
        cols = {f.name for f in spark.table("lost_db.t").schema.fields}
        assert "extra" in cols  # survived the lost-ledger reseed
        state = load_catalog_state(sink)
        assert any(e["Name"] == "extra" for e in state["schema"])
    finally:
        spark.sql("DROP DATABASE IF EXISTS lost_db CASCADE")


def test_ledger_save_is_atomic_no_tmp_left(spark, tmp_path):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.catalog import (
        load_catalog_state,
        save_catalog_state,
    )

    sink = str(tmp_path)
    save_catalog_state(sink, [{"Name": "a", "Type": "bigint"}], ["g=1"])
    assert load_catalog_state(sink) == {
        "schema": [{"Name": "a", "Type": "bigint"}],
        "partitions": ["g=1"],
    }
    import os

    assert not os.path.exists(os.path.join(sink, "_catalog_state.json.tmp"))


def test_remote_ledger_roundtrip_and_no_sidecar_files(
    spark, tmp_path, monkeypatch
):
    """Drive the HADOOP-FS ledger branch (the one real s3a/hdfs sinks
    take) against the local FS by forcing _is_local False — it had no
    coverage at all, and the r13 aside-rename rework lives there."""
    import os

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark import (
        catalog as cat,
    )

    monkeypatch.setattr(cat, "_is_local", lambda p: False)
    sink = str(tmp_path)
    cat.save_catalog_state(sink, [{"Name": "a", "Type": "bigint"}], ["g=1"])
    cat.save_catalog_state(  # second save exercises the aside-rename
        sink, [{"Name": "a", "Type": "bigint"}], ["g=1", "g=2"]
    )
    assert cat.load_catalog_state(sink) == {
        "schema": [{"Name": "a", "Type": "bigint"}],
        "partitions": ["g=1", "g=2"],
    }
    ledger = os.path.join(sink, "_catalog_state.json")
    assert os.path.exists(ledger)
    assert not os.path.exists(ledger + ".tmp")
    assert not os.path.exists(ledger + ".old")


def test_remote_ledger_crash_between_renames_keeps_readable_state(
    spark, tmp_path, monkeypatch
):
    """r12 ADVICE: the old delete-then-rename save had a window where
    NO ledger existed — a crash there silently lost the partition
    set. The aside-rename sequence leaves at least one readable
    ledger at every crash point: simulate the worst one (old ledger
    renamed aside, new one not yet in place) and assert the reader
    falls back to the aside copy, then that the next save repairs."""
    import os

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark import (
        catalog as cat,
    )

    monkeypatch.setattr(cat, "_is_local", lambda p: False)
    sink = str(tmp_path)
    v1 = ([{"Name": "a", "Type": "bigint"}], ["g=1"])
    cat.save_catalog_state(sink, *v1)
    ledger = os.path.join(sink, "_catalog_state.json")
    # crash state: main renamed aside, replacement never landed
    os.rename(ledger, ledger + ".old")
    assert cat.load_catalog_state(sink) == {
        "schema": v1[0], "partitions": v1[1],
    }
    # recovery: the next save lands the new ledger and clears the aside
    v2 = ([{"Name": "a", "Type": "bigint"}], ["g=1", "g=2"])
    cat.save_catalog_state(sink, *v2)
    assert cat.load_catalog_state(sink) == {
        "schema": v2[0], "partitions": v2[1],
    }
    assert os.path.exists(ledger)
    assert not os.path.exists(ledger + ".old")


def test_create_table_all_partition_columns_named_error(spark, tmp_path):
    """Every schema column a partition column: Spark itself forbids
    the table (ALL_PARTITION_COLUMNS_NOT_ALLOWED) — the r12 DDL fix
    (filtered column join) matters because the old bare concatenation
    produced '(, `k1` string …)' and surfaced an unrelated, confusing
    ParseException instead of Spark's named error."""
    import pytest
    from pyspark.errors import AnalysisException
    from pyspark.sql.types import StringType, StructField, StructType

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.catalog import (
        create_table_over_path,
    )

    import os

    sink = str(tmp_path / "sink")
    os.makedirs(sink)  # the write itself is equally forbidden
    schema = StructType(
        [StructField("k1", StringType()), StructField("k2", StringType())]
    )
    try:
        with pytest.raises(
            AnalysisException, match="ALL_PARTITION_COLUMNS_NOT_ALLOWED"
        ):
            create_table_over_path(
                spark, schema, sink, "allpart_db", "t", ["k1", "k2"]
            )
    finally:
        spark.sql("DROP DATABASE IF EXISTS allpart_db CASCADE")
