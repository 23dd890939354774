import json
import os

import pytest

from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.config import (
    EtlConfig,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.derive import (
    PARTITION_COLS,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.plans.pipeline import (
    run_batch,
)

BATCH_1 = [
    {
        "customerid": "c1",
        "vehicle": "v1",
        "category": "cat1",
        "tts": 1704103200,  # 2024-01-01 10:00:00 UTC
        "location": {"lat": 1.0, "lon": 2.0},
        "readings": [{"sensor": "t", "val": 20.5, "meta": {"unit": "C"}}],
        "tags": ["a", "b"],
    },
    {
        "customerid": "c2",
        "vehicle": "v2",
        "category": "cat1",
        "tts": 1704189600,  # 2024-01-02 10:00:00 UTC
        "location": {"lat": 3.0, "lon": 4.0},
        "readings": [],
        "tags": None,
    },
]

# Drift: adds "firmware", keeps everything else.
BATCH_2 = [
    {
        "customerid": "c1",
        "vehicle": "v1",
        "category": "cat2",
        "tts": 1706868000,  # 2024-02-02 10:00:00 UTC
        "location": {"lat": 5.0, "lon": 6.0},
        "readings": [{"sensor": "p", "val": 1.2, "meta": {"unit": "Pa"}}],
        "tags": ["c"],
        "firmware": "fw-9",
    }
]


def _write_batch(src_dir, name, records):
    os.makedirs(src_dir, exist_ok=True)
    with open(os.path.join(src_dir, name), "w") as fh:
        for r in records:
            fh.write(json.dumps(r) + "\n")


@pytest.fixture
def etl_dirs(tmp_path_factory):
    base = tmp_path_factory.mktemp("etl")
    return {
        "source": str(base / "source"),
        "sink": str(base / "sink"),
    }


def test_end_to_end_batch_then_drift(spark, etl_dirs):
    cfg = EtlConfig(
        source_path=etl_dirs["source"],
        sink_path=etl_dirs["sink"],
        catalog_db_name="etl_test",
        catalog_table_prefix="t1",
    )

    _write_batch(etl_dirs["source"], "batch1.json", BATCH_1)
    res1 = run_batch(spark, cfg)

    # batch1: row multiplicity = explode cross-products:
    #   rec1: 1 reading × 2 tags = 2 rows; rec2: null reading × null tag = 1 row
    assert res1.rows_written == 3
    assert res1.catalog_action == "created"
    assert len(res1.files_archived) == 1

    # golden directory layout: 6-level hive partitioning, legacy
    # non-padded string day (ETL:331 date_format "d")
    expect = os.path.join(
        etl_dirs["sink"],
        "customerid=c1", "vehicle=v1", "category=cat1",
        "year=2024", "month=1", "day=1",
    )
    assert os.path.isdir(expect)

    cols = set(res1.merged_df.columns)
    assert {
        "locationLat", "locationLon", "readingsSensor", "readingsVal",
        "readingsMetaUnit", "tags", "row_insert_tsp", "row_insert_date",
    } <= cols

    # source file archived → source dir empty of top-level files
    assert not [f for f in os.listdir(etl_dirs["source"]) if f.endswith(".json")]

    # catalog registered with partitions
    parts = spark.sql("SHOW PARTITIONS etl_test.t1_sink").collect()
    assert len(parts) == 2

    # ---- batch 2: schema drift (new column firmware) ----
    _write_batch(etl_dirs["source"], "batch2.json", BATCH_2)
    res2 = run_batch(spark, cfg)
    assert res2.catalog_action == "drift-recreated"
    assert res2.rows_written == 4
    assert "firmware" in res2.merged_df.columns
    # old rows get null firmware via mergeSchema
    assert res2.merged_df.filter("firmware IS NULL").count() == 3

    # ---- batch 3: same schema as batch 2, new partition only ----
    _write_batch(etl_dirs["source"], "batch3.json", [dict(BATCH_2[0], category="cat3")])
    res3 = run_batch(spark, cfg)
    assert res3.catalog_action == "partitions-only"
    parts = spark.sql("SHOW PARTITIONS etl_test.t1_sink").collect()
    assert len(parts) == 4

    # queryable via catalog with partition pruning
    n = spark.sql(
        "SELECT count(*) AS n FROM etl_test.t1_sink WHERE category = 'cat1'"
    ).collect()[0]["n"]
    assert n == 3


def test_rehydrate_roundtrip(spark, etl_dirs, tmp_path):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.sources.archive import (
        archive_files,
    )

    src = str(tmp_path / "src")
    arc = str(tmp_path / "arc")
    reh = str(tmp_path / "reh")
    _write_batch(src, "f1.json", BATCH_1)

    moved = archive_files(spark, src, arc)
    assert len(moved) == 1 and os.path.exists(os.path.join(arc, "f1.json"))

    back = archive_files(spark, src, arc, rehydration_path=reh, rehydrate=True)
    assert len(back) == 1 and os.path.exists(os.path.join(reh, "f1.json"))
    assert not os.listdir(arc)


def test_compact_partitions_reduces_files_preserves_rows(spark, tmp_path):
    import glob

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.sources.writers import (
        compact_partitions,
        write_partitioned,
    )

    sink = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [(i, "g1" if i % 2 else "g2", float(i)) for i in range(40)],
        ["id", "grp", "val"],
    ).repartition(4)
    # Two appends with hygiene off → up to 8 files per partition dir.
    write_partitioned(df, sink, ["grp"], files_per_partition=None)
    write_partitioned(df, sink, ["grp"], files_per_partition=None)

    before = spark.read.parquet(sink).groupBy().sum("val").collect()[0][0]
    n_before = len(glob.glob(f"{sink}/*/*.parquet"))
    assert n_before > 2

    stats = compact_partitions(spark, sink, ["grp"], target_files=1)
    assert stats["compacted"] == 2

    n_after = len(glob.glob(f"{sink}/*/*.parquet"))
    assert n_after == 2
    after_df = spark.read.parquet(sink)
    assert after_df.count() == 80
    assert after_df.groupBy().sum("val").collect()[0][0] == before


def test_csv_and_orc_roundtrip(spark, tmp_path):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.sources.readers import (
        read_csv,
        read_orc,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.0), (3, None, 0.25)],
        ["id", "tag", "score"],
    )
    csv_path = str(tmp_path / "csv")
    df.write.option("header", "true").csv(csv_path)
    back = read_csv(spark, csv_path, schema="id long, tag string, score double")
    assert back.count() == 3
    assert {r["id"]: (r["tag"], r["score"]) for r in back.collect()} == {
        1: ("a", 1.5), 2: ("b", -2.0), 3: (None, 0.25),
    }

    orc_path = str(tmp_path / "orc")
    df.write.orc(orc_path)
    back_orc = read_orc(spark, orc_path)
    assert back_orc.count() == 3
    assert dict(back_orc.dtypes)["score"] == "double"


def test_merge_upsert_touches_only_affected_partitions(spark, tmp_path):
    import glob
    import os

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.sources.writers import (
        merge_upsert,
        write_partitioned,
    )

    sink = str(tmp_path / "sink")
    base = spark.createDataFrame(
        [(1, "g1", 10.0), (2, "g1", 20.0), (3, "g2", 30.0), (4, "g3", 40.0)],
        ["id", "grp", "val"],
    )
    write_partitioned(base, sink, ["grp"])
    untouched_files = set(glob.glob(f"{sink}/grp=g3/*.parquet"))
    mtimes = {f: os.path.getmtime(f) for f in untouched_files}

    # update id=2 (g1), insert id=5 (g2): touches g1+g2, never g3
    updates = spark.createDataFrame(
        [(2, "g1", 99.0), (5, "g2", 50.0)], ["id", "grp", "val"]
    )
    stats = merge_upsert(spark, sink, updates, ["id"], ["grp"])
    assert stats["updated_partitions"] == 2

    after = {r["id"]: (r["grp"], r["val"]) for r in spark.read.parquet(sink).collect()}
    assert after == {
        1: ("g1", 10.0), 2: ("g1", 99.0), 3: ("g2", 30.0),
        4: ("g3", 40.0), 5: ("g2", 50.0),
    }
    # untouched partition files are byte-identical (not rewritten)
    assert {f: os.path.getmtime(f) for f in untouched_files} == mtimes


def test_merge_upsert_new_partition_and_empty_batch(spark, tmp_path):
    """Two edges the partition-rewrite idiom must get right: an
    insert whose partition value does not exist yet in the sink
    (the pruning predicate matches nothing — survivors are empty,
    dynamic overwrite still creates the new directory), and an
    EMPTY update batch (zero touched partitions → a true no-op that
    never lists, reads, or rewrites the sink)."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.sources.writers import (
        merge_upsert,
        write_partitioned,
    )

    sink = str(tmp_path / "sink")
    base = spark.createDataFrame(
        [(1, "g1", 10.0), (2, "g2", 20.0)], ["id", "grp", "val"]
    )
    write_partitioned(base, sink, ["grp"])

    brand_new = spark.createDataFrame([(9, "g9", 90.0)], ["id", "grp", "val"])
    stats = merge_upsert(spark, sink, brand_new, ["id"], ["grp"])
    assert stats == {
        "updated_partitions": 1,
        "rows_written": 1,
        "rows_deleted": 0,
        "emptied_partitions": 0,
    }
    after = {r["id"]: (r["grp"], r["val"]) for r in spark.read.parquet(sink).collect()}
    assert after == {1: ("g1", 10.0), 2: ("g2", 20.0), 9: ("g9", 90.0)}

    empty = brand_new.filter("id < 0")
    stats = merge_upsert(spark, sink, empty, ["id"], ["grp"])
    assert stats == {
        "updated_partitions": 0,
        "rows_written": 0,
        "rows_deleted": 0,
        "emptied_partitions": 0,
    }
    assert spark.read.parquet(sink).count() == 3

    # The "never lists, reads, or rewrites" claim, pinned for real:
    # an empty batch against a sink path that does not even exist
    # must succeed — any sink read before the early exit would throw
    # PATH_NOT_FOUND here.
    stats = merge_upsert(
        spark, str(tmp_path / "no_such_sink"), empty, ["id"], ["grp"]
    )
    assert stats == {
        "updated_partitions": 0,
        "rows_written": 0,
        "rows_deleted": 0,
        "emptied_partitions": 0,
    }


def test_cluster_by_yields_disjoint_file_ranges(spark, tmp_path):
    """Footer-stats proof: clustered files cover near-disjoint key
    ranges (skippable); unclustered files all span the whole domain."""
    import glob

    import pyarrow.parquet as pq

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.sources.writers import (
        cluster_by,
    )

    df = spark.range(10_000).selectExpr(
        "CAST(id * 2654435761 % 10000 AS BIGINT) AS k", "id AS v"
    )

    def ranges(path):
        out = []
        for f in glob.glob(f"{path}/*.parquet"):
            meta = pq.ParquetFile(f).metadata
            for rg in range(meta.num_row_groups):
                col = meta.row_group(rg).column(0)  # k
                out.append((col.statistics.min, col.statistics.max))
        return sorted(out)

    clustered = str(tmp_path / "clustered")
    cluster_by(df, ["k"], n_files=4).write.parquet(clustered)
    plain = str(tmp_path / "plain")
    df.repartition(4).write.parquet(plain)

    def overlap_frac(rs):
        # fraction of domain [0,10000) covered per file, averaged
        return sum((hi - lo) for lo, hi in rs) / (len(rs) * 10_000)

    assert overlap_frac(ranges(clustered)) < 0.35  # narrow slices
    assert overlap_frac(ranges(plain)) > 0.9  # every file spans all


def test_malformed_json_quarantined_not_fatal(spark, tmp_path):
    """PERMISSIVE ingest policy pinned: a corrupt source line becomes
    a _corrupt_record row in the null (__HIVE_DEFAULT_PARTITION__)
    directory; valid records are unaffected and the batch completes."""
    import os

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.config import (
        EtlConfig,
    )
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.plans.pipeline import (
        run_batch,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "b.json"), "w") as fh:
        fh.write('{"customerid": "c1", "vehicle": "t", "category": "x", "tts": 1690000000}\n')
        fh.write("NOT JSON {{{\n")
        fh.write('{"customerid": "c2", "vehicle": "t", "category": "x", "tts": 1690000100}\n')

    cfg = EtlConfig(
        source_path=src,
        sink_path=str(tmp_path / "sink"),
        catalog_db_name="qdb",
        catalog_table_prefix="q",
    )
    result = run_batch(spark, cfg, archive=False)
    assert result.rows_written == 3

    out = spark.read.parquet(cfg.sink_path)
    good = out.filter(out.customerid.isNotNull())
    assert good.count() == 2
    bad = out.filter(out.customerid.isNull()).collect()
    assert len(bad) == 1 and "NOT JSON" in bad[0]["_corrupt_record"]


def test_ledger_path_never_rereads_sink(spark, etl_dirs, monkeypatch):
    """The ledger-driven catalog sync reproduces the reference's
    action sequence (created → no-op → drift-recreated →
    partitions-only) while re-reading the sink with mergeSchema only
    on the first, ledger-less tick: the footer re-read is poisoned for
    every later tick."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark import (
        catalog as C,
    )
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.plans import (
        pipeline as P,
    )

    cfg = EtlConfig(
        source_path=etl_dirs["source"],
        sink_path=etl_dirs["sink"],
        catalog_db_name="etl_inc",
        catalog_table_prefix="ti",
    )

    _write_batch(etl_dirs["source"], "batch1.json", BATCH_1)
    res1 = run_batch(spark, cfg)
    assert res1.catalog_action == "created"
    assert res1.rows_written == 3  # sink total == batch on first run

    def _boom(*a, **k):
        raise AssertionError("the ledger path must not re-read the sink")

    read_typed = P.read_parquet_merged

    def _typed_only(spark, path, schema=None):
        if schema is None:
            _boom()
        return read_typed(spark, path, schema=schema)

    monkeypatch.setattr(C, "read_parquet_merged", _boom)
    monkeypatch.setattr(P, "read_parquet_merged", _typed_only)

    res2 = run_batch(spark, cfg)  # source drained by archival
    assert res2.catalog_action == "no-op"

    _write_batch(etl_dirs["source"], "batch2.json", BATCH_2)
    res3 = run_batch(spark, cfg)
    assert res3.catalog_action == "drift-recreated"

    # same-schema batch, new partition value
    batch3 = [dict(BATCH_2[0], customerid="c9", tts=1709546400)]
    _write_batch(etl_dirs["source"], "batch3.json", batch3)
    res4 = run_batch(spark, cfg)
    assert res4.catalog_action == "partitions-only"

    # ledger tracked the union schema and all partitions
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.catalog import (
        load_catalog_state,
    )

    state = load_catalog_state(etl_dirs["sink"])
    names = {e["Name"] for e in state["schema"]}
    assert "firmware" in names and "customerid" in names
    assert any("customerid=c9" in p for p in state["partitions"])

    # and the catalog answers queries over the whole sink
    n = spark.sql("SELECT count(*) FROM `etl_inc`.`ti_sink`").collect()[0][0]
    assert n == res1.rows_written + 1 + 1


def test_same_partition_appends_refresh_catalog_table(spark, tmp_path):
    """Three ticks appending into one registered partition: the
    catalog table must count what the sink holds after each tick, so
    the partitions-only sync refreshes the table's cached file
    listing."""
    cfg = EtlConfig(
        source_path=str(tmp_path / "source"),
        sink_path=str(tmp_path / "sink"),
        catalog_db_name="etl_refresh",
        catalog_table_prefix="rf",
    )
    record = {"customerid": "c1", "vehicle": "v1", "category": "k",
              "tts": 1704103200}
    counts = []
    try:
        for i in range(3):
            _write_batch(cfg.source_path, f"b{i}.json", [record])
            res = run_batch(spark, cfg)
            n = spark.sql(
                "SELECT count(*) FROM `etl_refresh`.`rf_sink`"
            ).collect()[0][0]
            counts.append((res.catalog_action, res.rows_written, n))
    finally:
        spark.sql("DROP DATABASE IF EXISTS etl_refresh CASCADE")
    assert counts == [
        ("created", 1, 1),
        ("partitions-only", 2, 2),
        ("partitions-only", 3, 3),
    ]


def test_ledger_matches_sink_through_every_sync_branch(spark, etl_dirs):
    """The invariant the per-tick mergeSchema re-read used to check
    for free: after created, drift-recreated, partitions-only and a
    lost-ledger reseed, the ledger's names are the lowercased names of
    a mergeSchema re-read of the sink, and its partitions are the
    sink's partition directories."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.catalog import (
        load_catalog_state,
    )
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.sources.readers import (
        read_parquet_merged,
    )

    sink = etl_dirs["sink"]
    cfg = EtlConfig(
        source_path=etl_dirs["source"],
        sink_path=sink,
        catalog_db_name="etl_inv",
        catalog_table_prefix="iv",
    )

    def sink_partitions() -> set[str]:
        return {
            os.path.relpath(base, sink).replace(os.sep, "/")
            for base, _, files in os.walk(sink)
            if any(f.endswith(".parquet") for f in files)
        }

    ticks = [
        (BATCH_1, False, "created"),
        (BATCH_2, False, "drift-recreated"),
        ([dict(BATCH_2[0], customerid="c9", tts=1709546400)], False,
         "partitions-only"),
        ([dict(BATCH_1[0], customerid="c5")], True, "created"),
    ]
    try:
        for i, (records, lose_ledger, action) in enumerate(ticks):
            if lose_ledger:
                os.remove(os.path.join(sink, "_catalog_state.json"))
            _write_batch(etl_dirs["source"], f"batch{i}.json", records)
            res = run_batch(spark, cfg)
            assert res.catalog_action == action
            state = load_catalog_state(sink)
            merged = read_parquet_merged(spark, sink)
            assert {e["Name"] for e in state["schema"]} == {
                c.lower() for c in merged.columns
            }, action
            assert set(state["partitions"]) == sink_partitions(), action
    finally:
        spark.sql("DROP DATABASE IF EXISTS etl_inv CASCADE")


def test_config_dict_with_retired_drift_mode_key_loads():
    """Config files written for the two drift modes still load: the
    retired "drift_mode" key is dropped like any unknown key."""
    cfg = EtlConfig.from_dict(
        {"source_path": "s", "sink_path": "k", "drift_mode": "full"}
    )
    assert (cfg.source_path, cfg.sink_path) == ("s", "k")
    assert not hasattr(cfg, "drift_mode")


def test_delta_sink_raises_without_package(spark, etl_dirs):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.sources.writers import (
        delta_available,
        write_partitioned,
    )

    if delta_available():
        pytest.skip("delta installed here; the gate only fires without it")
    df = spark.range(3).selectExpr("id", "'x' AS p")
    with pytest.raises(RuntimeError, match="delta-spark package"):
        write_partitioned(df, str(etl_dirs["sink"]) + "_d", ["p"], fmt="delta")


def test_write_training_shards_layout_and_manifest(spark, tmp_path):
    from pyspark.sql import functions as F

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        packing as P_pack,
    )

    rows = [(i, " ".join(f"w{j}" for j in range(5 + i % 4))) for i in range(60)]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    path = str(tmp_path / "shards")
    manifest = P_pack.write_training_shards(d, path, n_shards=8)

    # every doc lands in exactly one shard dir, assignment matches the column
    back = spark.read.parquet(path)
    assert back.count() == 60
    assert back.select("doc_id").distinct().count() == 60
    expect = {
        r.doc_id: r.shard
        for r in d.select(
            "doc_id", P_pack.shard_column("doc_id", 8).alias("shard")
        ).collect()
    }
    got = {r.doc_id: r.shard for r in back.select("doc_id", "shard").collect()}
    assert got == expect

    # manifest agrees with the written data, and rewrites are stable
    m1 = {r.shard: (r.n_docs, r.n_tokens) for r in manifest.collect()}
    agg = {
        r.shard: (r.n, r.t)
        for r in back.groupBy("shard")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.size(F.split(F.lower(F.trim("text")), r"\s+"))).alias("t"),
        )
        .collect()
    }
    assert m1 == agg
    stored = spark.read.parquet(f"{path}/_manifest")
    assert {r.shard: (r.n_docs, r.n_tokens) for r in stored.collect()} == m1
    P_pack.write_training_shards(d, path, n_shards=8)  # idempotent overwrite
    assert spark.read.parquet(path).count() == 60


def test_write_training_shards_jsonl(spark, tmp_path):
    import glob
    import json as _json

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        packing as P_pack,
    )

    d = spark.createDataFrame(
        [(i, f"text {i}") for i in range(20)], ["doc_id", "text"]
    )
    path = str(tmp_path / "jsonl_shards")
    P_pack.write_training_shards(d, path, n_shards=4, fmt="json")
    files = glob.glob(f"{path}/shard=*/part-*.json")
    assert files  # hive layout of newline-delimited JSON
    with open(files[0]) as fh:
        rec = _json.loads(fh.readline())
    assert set(rec) == {"doc_id", "text"}
    back = spark.read.json(f"{path}/shard=*/")
    assert back.count() == 20


def test_run_batch_empty_source_with_schema_is_noop(spark, tmp_path):
    """With an explicit schema an empty source dir reads as an empty
    frame (no UNABLE_TO_INFER_SCHEMA), and the run must be the same
    graceful no-op — previously it wrote only _SUCCESS and crashed
    re-reading a sink containing no parquet."""
    import os as _os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.config import (
        EtlConfig,
    )
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.plans.pipeline import (
        run_batch,
    )

    src = str(tmp_path / "src")
    _os.makedirs(src)
    cfg = EtlConfig(
        source_path=src,
        sink_path=str(tmp_path / "sink"),
        catalog_db_name="noop_db",
        catalog_table_prefix="np",
    )
    schema = StructType(
        [StructField("customerid", StringType()),
         StructField("vehicle", StringType()),
         StructField("category", StringType()),
         StructField("tts", LongType())]
    )
    res = run_batch(spark, cfg, schema=schema)
    assert res.rows_written == 0 and res.catalog_action == "no-op"


def test_run_batch_rejects_non_parquet_sink_format(spark, tmp_path):
    import pytest

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.config import (
        EtlConfig,
    )
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.plans.pipeline import (
        run_batch,
    )

    cfg = EtlConfig(
        source_path=str(tmp_path / "src"),
        sink_path=str(tmp_path / "sink"),
        catalog_db_name="d",
        catalog_table_prefix="t",
        sink_format="delta",
    )
    with pytest.raises(NotImplementedError, match="parquet-only"):
        run_batch(spark, cfg)


def test_merge_delete_arm_removes_emptied_partition_dir(spark, tmp_path):
    """WHEN MATCHED THEN DELETE, the dynamic-overwrite corner: delete
    EVERY row of one partition and some rows of another. Dynamic
    overwrite only replaces partitions present in the written data,
    so the fully-emptied directory must be removed explicitly — if it
    survives, its ghost rows reappear on the next read."""
    import os

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.sources.writers import (
        merge_upsert,
        write_partitioned,
    )

    sink = str(tmp_path / "sink")
    base = spark.createDataFrame(
        [(1, "g1", 10.0), (2, "g1", 20.0), (3, "g2", 30.0), (4, "g3", 40.0)],
        ["id", "grp", "val"],
    )
    write_partitioned(base, sink, ["grp"])

    # update id=3, delete both g1 rows (empties g1) and id=3 too —
    # delete wins over the update for the shared key
    updates = spark.createDataFrame([(3, "g2", 99.0)], ["id", "grp", "val"])
    deletes = spark.createDataFrame(
        [(1, "g1"), (2, "g1"), (3, "g2")], ["id", "grp"]
    )
    stats = merge_upsert(
        spark, sink, updates, ["id"], ["grp"], deletes=deletes
    )
    assert stats["rows_deleted"] == 3
    assert stats["emptied_partitions"] == 2  # g1 emptied; g2 emptied too
    assert not os.path.isdir(os.path.join(sink, "grp=g1"))
    assert not os.path.isdir(os.path.join(sink, "grp=g2"))
    after = {
        r["id"]: (r["grp"], r["val"])
        for r in spark.read.parquet(sink).collect()
    }
    assert after == {4: ("g3", 40.0)}  # untouched partition intact


def test_merge_delete_arm_null_and_escaped_partition_values(spark, tmp_path):
    """Directory removal must target the HIVE-LAYOUT names Spark
    actually wrote: a NULL partition value lives in
    __HIVE_DEFAULT_PARTITION__ and special characters are
    percent-escaped — a raw f\"{col}={value}\" path silently misses
    both, leaving ghost rows (r11 review finding). Also pins that a
    deleted key naming a partition ABSENT from the sink neither
    counts as emptied nor errors."""
    import os

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.sources.writers import (
        merge_upsert,
        write_partitioned,
    )

    sink = str(tmp_path / "sink")
    base = spark.createDataFrame(
        [(1, None, 10.0), (2, "a:b", 20.0), (3, "g3", 30.0)],
        "id bigint, grp string, val double",
    )
    write_partitioned(base, sink, ["grp"])
    assert os.path.isdir(os.path.join(sink, "grp=__HIVE_DEFAULT_PARTITION__"))
    assert os.path.isdir(os.path.join(sink, "grp=a%3Ab"))

    empty_upd = spark.createDataFrame([], "id bigint, grp string, val double")
    deletes = spark.createDataFrame(
        [(1, None), (2, "a:b"), (9, "no_such_grp")], "id bigint, grp string"
    )
    stats = merge_upsert(
        spark, sink, empty_upd, ["id"], ["grp"], deletes=deletes
    )
    assert stats["rows_deleted"] == 2
    # the nonexistent partition is neither updated-into nor emptied
    assert stats["emptied_partitions"] == 2
    assert not os.path.isdir(
        os.path.join(sink, "grp=__HIVE_DEFAULT_PARTITION__")
    )
    assert not os.path.isdir(os.path.join(sink, "grp=a%3Ab"))
    after = {r["id"] for r in spark.read.parquet(sink).collect()}
    assert after == {3}


def test_merge_upsert_stats_count_rewritten_not_touched(spark, tmp_path):
    """updated_partitions means partitions actually rewritten or
    removed (r11 advice): a delete naming a partition the sink never
    held is touched for pruning purposes but rewrites nothing, so it
    must not inflate the stat."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.sources.writers import (
        merge_upsert,
        write_partitioned,
    )

    sink = str(tmp_path / "sink")
    base = spark.createDataFrame(
        [(1, "g1", 10.0), (2, "g2", 20.0)], ["id", "grp", "val"]
    )
    write_partitioned(base, sink, ["grp"])
    updates = spark.createDataFrame([(1, "g1", 11.0)], ["id", "grp", "val"])
    deletes = spark.createDataFrame(
        [(2, "g2"), (9, "no_such_grp")], ["id", "grp"]
    )
    stats = merge_upsert(spark, sink, updates, ["id"], ["grp"], deletes=deletes)
    # g1 rewritten + g2 removed; no_such_grp neither
    assert stats["updated_partitions"] == 2
    assert stats["emptied_partitions"] == 1
    assert stats["rows_deleted"] == 1


def test_merge_upsert_unreadable_sink_raises_not_empty(spark, tmp_path):
    """The empty-sink fallback is for a directory holding NO data
    files (every partition deleted by a prior merge). A sink that has
    data files but fails to read — corrupt footer here — must RAISE,
    never be silently treated as empty: substituting an empty frame
    drops every survivor in the touched partitions (r11 advice,
    medium)."""
    import os

    import pytest

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.sources.writers import (
        merge_upsert,
    )

    sink = str(tmp_path / "sink")
    os.makedirs(sink)
    with open(os.path.join(sink, "part-00000.parquet"), "wb") as fh:
        fh.write(b"this is not a parquet file")
    updates = spark.createDataFrame([(1, "g1", 1.0)], ["id", "grp", "val"])
    with pytest.raises(Exception):
        merge_upsert(spark, sink, updates, ["id"], ["grp"])
    # the corrupt file must survive untouched (no overwrite happened)
    assert os.path.exists(os.path.join(sink, "part-00000.parquet"))


def test_merge_delete_arm_non_string_partition_values(spark, tmp_path):
    """Emptied-dir removal must render partition values the way SPARK
    renders them when writing (cast-to-string: True -> 'true',
    1 -> '1'), not Python str() (r11 advice): a 'grp=True' path would
    miss the real 'grp=true' directory and leave its ghost rows."""
    import os

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.sources.writers import (
        merge_upsert,
        write_partitioned,
    )

    sink = str(tmp_path / "sink")
    base = spark.createDataFrame(
        [(1, True, 10.0), (2, False, 20.0), (3, False, 30.0)],
        "id bigint, flag boolean, val double",
    )
    write_partitioned(base, sink, ["flag"])
    assert os.path.isdir(os.path.join(sink, "flag=true"))

    empty_upd = spark.createDataFrame([], "id bigint, flag boolean, val double")
    deletes = spark.createDataFrame([(1, True)], "id bigint, flag boolean")
    stats = merge_upsert(
        spark, sink, empty_upd, ["id"], ["flag"], deletes=deletes
    )
    assert stats["emptied_partitions"] == 1
    assert not os.path.isdir(os.path.join(sink, "flag=true"))
    after = {r["id"] for r in spark.read.parquet(sink).collect()}
    assert after == {2, 3}


def test_merge_upsert_numeric_string_partition_values(spark, tmp_path):
    """Partition values that are STRINGS with a non-canonical numeric
    rendering ('01'): partition-type inference would read 'grp=01'
    back as int 1, the cast-to-string '1' would evade the touched
    predicate, and the grp=01 survivors would silently vanish while
    the update lands in a NEW grp=1 directory (r12 review find,
    repro'd live). merge_upsert reads the sink with inference
    disabled, so the directory string round-trips verbatim."""
    import os

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.sources.writers import (
        merge_upsert,
        write_partitioned,
    )

    sink = str(tmp_path / "sink")
    base = spark.createDataFrame(
        [(1, "01", 10.0), (2, "01", 20.0), (3, "02", 30.0)],
        "id bigint, grp string, val double",
    )
    write_partitioned(base, sink, ["grp"])
    assert os.path.isdir(os.path.join(sink, "grp=01"))

    updates = spark.createDataFrame(
        [(1, "01", 11.0)], "id bigint, grp string, val double"
    )
    stats = merge_upsert(spark, sink, updates, ["id"], ["grp"])
    assert stats == {
        "updated_partitions": 1,
        "rows_written": 2,
        "rows_deleted": 0,
        "emptied_partitions": 0,
    }
    assert not os.path.isdir(os.path.join(sink, "grp=1"))  # no ghost dir
    # read back with inference off (the type-faithful read; a plain
    # read would re-infer '01' -> int 1 — the reader-side half of the
    # same lossy round trip, outside merge_upsert's control)
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        after = {
            r["id"]: (r["grp"], r["val"])
            for r in spark.read.parquet(sink).collect()
        }
    finally:
        spark.conf.set(key, prev)
    assert after == {1: ("01", 11.0), 2: ("01", 20.0), 3: ("02", 30.0)}


def test_merge_upsert_empty_sink_fallback_ignores_staging_debris(
    spark, tmp_path
):
    """The fully-emptied-sink fallback must apply Spark's visibility
    rule to every path SEGMENT: a _temporary/ tree left by a crashed
    write is invisible to the reader, so its part files must not
    block the fallback (r12 review find)."""
    import os

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.sources.writers import (
        merge_upsert,
        write_partitioned,
    )

    sink = str(tmp_path / "sink")
    base = spark.createDataFrame([(1, "g1", 10.0)], ["id", "grp", "val"])
    write_partitioned(base, sink, ["grp"])
    # empty the sink entirely via the delete arm
    empty_upd = spark.createDataFrame([], "id bigint, grp string, val double")
    deletes = spark.createDataFrame([(1, "g1")], ["id", "grp"])
    merge_upsert(spark, sink, empty_upd, ["id"], ["grp"], deletes=deletes)
    # plant crashed-write debris under a hidden directory
    debris = os.path.join(sink, "_temporary", "0", "attempt_1")
    os.makedirs(debris)
    with open(os.path.join(debris, "part-00000.parquet"), "wb") as fh:
        fh.write(b"leftover")
    # a new insert must take the empty-sink fallback, not raise
    ins = spark.createDataFrame([(5, "g2", 50.0)], ["id", "grp", "val"])
    stats = merge_upsert(spark, sink, ins, ["id"], ["grp"])
    assert stats["rows_written"] == 1
    after = {r["id"] for r in spark.read.parquet(sink).collect()}
    assert after == {5}


def test_compact_partitions_hive_escaped_null_and_numeric_dirs(
    spark, tmp_path
):
    """compact_partitions must find and rewrite partitions whose
    directory tokens need hive-unescaping ('a:b' -> a%3Ab), the NULL
    partition (__HIVE_DEFAULT_PARTITION__), and numeric-looking
    string values ('01') — the raw-token + type-inferred predicate
    silently SKIPPED all three while reporting them compacted (r12
    review find)."""
    import glob

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.sources.writers import (
        compact_partitions,
        write_partitioned,
    )

    sink = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [(i, ["a:b", None, "01"][i % 3], float(i)) for i in range(30)],
        "id bigint, grp string, val double",
    ).repartition(4)
    write_partitioned(df, sink, ["grp"], files_per_partition=None)
    write_partitioned(df, sink, ["grp"], files_per_partition=None)
    before_sum = spark.read.parquet(sink).groupBy().sum("val").collect()[0][0]
    assert len(glob.glob(f"{sink}/*/*.parquet")) > 3

    stats = compact_partitions(spark, sink, ["grp"], target_files=1)
    assert stats["compacted"] == 3
    assert stats["files_after"] == 3  # recounted, not assumed
    assert len(glob.glob(f"{sink}/*/*.parquet")) == 3
    after = spark.read.parquet(sink)
    assert after.count() == 60
    assert after.groupBy().sum("val").collect()[0][0] == before_sum


def test_compact_partitions_target_files_fans_out(spark, tmp_path):
    """target_files > 1 must actually produce multiple files per
    rewritten directory: hashing on the partition columns alone puts
    every row of a value in ONE task, so the old plan always wrote
    one file whatever target_files said (r12 review find)."""
    import glob

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.sources.writers import (
        compact_partitions,
        write_partitioned,
    )

    sink = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [(i, "hot", float(i)) for i in range(400)], ["id", "grp", "val"]
    ).repartition(8)
    write_partitioned(df, sink, ["grp"], files_per_partition=None)
    stats = compact_partitions(spark, sink, ["grp"], target_files=4)
    n_files = len(glob.glob(f"{sink}/grp=hot/*.parquet"))
    assert n_files > 1, "fan-out did nothing"
    assert n_files <= 4
    assert stats["files_after"] == n_files
    assert spark.read.parquet(sink).count() == 400


def test_zorder_bit_budget_guard(spark):
    """bits_per_col x len(cols) > 62 must raise: JVM shiftleft takes
    the shift mod 64, so an overflowing Morton layout silently
    aliased high bits onto low positions (r12 review find)."""
    import pytest

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.sources.writers import (
        zorder_by,
    )

    df = spark.range(10).selectExpr(
        "id a", "id b", "id c", "id d", "id e"
    )
    with pytest.raises(ValueError, match="62"):
        zorder_by(df, ["a", "b", "c", "d", "e"], bits_per_col=16)


def test_run_batch_uppercase_tts_not_clobbered(spark, tmp_path):
    """A source whose timestamp key is 'TTS': the missing-tts guard
    compared case-SENSITIVELY while withColumn resolves
    case-insensitively, so the real column was overwritten with NULL
    and every row landed in __HIVE_DEFAULT_PARTITION__ (r12 review
    find)."""
    import glob

    cfg = EtlConfig(
        source_path=str(tmp_path / "src"),
        sink_path=str(tmp_path / "sink"),
        catalog_db_name="tts_db",
        catalog_table_prefix="t",
    )
    _write_batch(
        cfg.source_path,
        "b1.json",
        [{"customerid": "c1", "vehicle": "v", "category": "c",
          "TTS": 1704103200}],
    )
    try:
        res = run_batch(spark, cfg)
        assert res.rows_written == 1
        assert not glob.glob(
            f"{cfg.sink_path}/**/year=__HIVE_DEFAULT_PARTITION__",
            recursive=True,
        )
        assert glob.glob(f"{cfg.sink_path}/**/year=2024", recursive=True)
    finally:
        spark.sql("DROP DATABASE IF EXISTS tts_db CASCADE")


def test_run_batch_archives_zero_row_files(spark, tmp_path):
    """Zero-row source files must be archived too: row-derived
    provenance listed only files that produced rows, so empty files
    were re-listed and re-read on every scheduled tick forever (r12
    review find). Covers both the mixed batch and the all-empty
    no-op tick."""
    import os

    cfg = EtlConfig(
        source_path=str(tmp_path / "src"),
        sink_path=str(tmp_path / "sink"),
        catalog_db_name="zr_db",
        catalog_table_prefix="t",
    )
    _write_batch(cfg.source_path, "real.json", BATCH_1)
    # a zero-byte file alongside
    open(os.path.join(cfg.source_path, "empty.json"), "w").close()
    try:
        res = run_batch(spark, cfg)
        assert res.rows_written == 3
        assert len(res.files_archived) == 2  # real + empty both moved
        assert not [
            f for f in os.listdir(cfg.source_path) if f.endswith(".json")
        ]

        # all-empty tick: the no-op must still archive the debris
        open(os.path.join(cfg.source_path, "empty2.json"), "w").close()
        res2 = run_batch(spark, cfg)
        assert res2.catalog_action == "no-op"
        assert res2.rows_written == 0
        assert len(res2.files_archived) == 1
        assert not [
            f for f in os.listdir(cfg.source_path) if f.endswith(".json")
        ]
    finally:
        spark.sql("DROP DATABASE IF EXISTS zr_db CASCADE")


def test_read_json_input_file_collision_fails_loudly(spark, tmp_path):
    """A genuine source field named 'input_file' must raise instead
    of being silently overwritten with provenance paths and then
    dropped (r12 review find)."""
    import pytest

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.sources.readers import (
        read_json,
    )

    src = str(tmp_path / "src")
    _write_batch(src, "b.json", [{"id": 1, "input_file": "telemetry.bin"}])
    with pytest.raises(ValueError, match="input_file"):
        read_json(spark, src)
    # opting out of provenance reads it fine
    df = read_json(spark, src, with_input_file=False)
    assert df.collect()[0]["input_file"] == "telemetry.bin"
