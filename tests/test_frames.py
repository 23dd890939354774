"""``functions.frames.local_frame``: driver-side literal frames built
through Arrow (a ``LocalTableScan``, no Python task per action) that
match ``spark.createDataFrame(list)`` value for value, NaN included."""

import math

from pyspark.sql import SparkSession

from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.functions.frames import (
    local_frame,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    similarity,
)

NAN = float("nan")


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _same_rows(a, b) -> bool:
    """Multiset equality under Spark's set semantics, which compare
    NaN equal to NaN (Python's ``==`` on collected rows does not)."""
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _assert_matches_list_path(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert _same_rows(got, want)
    return got


def test_nulls_in_bigint_and_string(spark):
    rows = [(1, "a"), (None, "b"), (3, None), (None, None)]
    got = _assert_matches_list_path(spark, rows, "id bigint, s string")
    assert got.filter("id IS NULL").count() == 2
    assert got.filter("s IS NULL").count() == 2


def test_nan_stays_nan_at_top_level_and_inside_arrays(spark):
    rows = [(1, NAN, [1.0, NAN]), (2, 0.5, [NAN, None]), (3, None, None)]
    got = _assert_matches_list_path(
        spark, rows, "id int, x double, v array<double>"
    )
    by_id = {r["id"]: r for r in got.collect()}
    assert math.isnan(by_id[1]["x"])
    assert by_id[1]["v"][0] == 1.0 and math.isnan(by_id[1]["v"][1])
    assert math.isnan(by_id[2]["v"][0]) and by_id[2]["v"][1] is None
    assert by_id[3]["x"] is None and by_id[3]["v"] is None
    # NaN and NULL stay apart in SQL too
    assert got.filter("isnan(x)").count() == 1
    assert got.filter("x IS NULL").count() == 1


def test_nested_struct_and_array_columns(spark):
    schema = (
        "id bigint, s struct<a: int, tags: array<string>>, "
        "pairs array<struct<k: string, w: double>>, grid array<array<int>>"
    )
    rows = [
        (1, (7, ["x", None]), [("p", 0.5), ("q", NAN)], [[1, 2], [], None]),
        (2, None, [], [[None]]),
        (3, (None, None), None, None),
    ]
    got = _assert_matches_list_path(spark, rows, schema)
    one = got.filter("id = 1").first()
    assert one["s"]["a"] == 7 and one["s"]["tags"] == ["x", None]
    assert one["pairs"][0]["k"] == "p" and math.isnan(one["pairs"][1]["w"])
    assert one["grid"] == [[1, 2], [], None]


def test_rows_from_collect_round_trip(spark):
    src = spark.createDataFrame(
        [(1, (2, "b")), (3, None)], "id bigint, s struct<n: int, t: string>"
    )
    rows = src.collect()
    assert _same_rows(local_frame(spark, rows, src.schema), src)


def test_zero_rows(spark):
    got = _assert_matches_list_path(
        spark, [], "src bigint, dst bigint, rank int, v array<double>"
    )
    assert got.count() == 0
    assert got.columns == ["src", "dst", "rank", "v"]


def test_plan_is_local_table_scan_with_no_python_task(spark):
    got = local_frame(spark, [(1, "a"), (2, "b")], "id bigint, s string")
    plan = _physical_plan(got)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    # the list path is the pickle-RDD scan this helper replaces
    assert "Scan ExistingRDD" in _physical_plan(
        spark.createDataFrame([(1, "a")], "id bigint, s string")
    )


def test_ivf_probe_queries_keep_nan_vector_elements(spark, monkeypatch):
    """``ivf_topk`` builds its probe-query frame on the driver; a NaN
    element of a query vector must reach the join as NaN, exactly as
    the list path carries it (a pandas-built frame turned it into
    NULL)."""
    vecs = {
        i: [math.cos(i * 0.7), math.sin(i * 0.7), (i % 5) / 5.0, 1.0]
        for i in range(40)
    }
    vecs[3] = [1.0, NAN, 0.5, 0.25]
    emb = spark.createDataFrame(
        sorted(vecs.items()), "vec_id bigint, embedding array<double>"
    )
    made = []
    create = SparkSession.createDataFrame

    def recording(self, *args, **kwargs):
        df = create(self, *args, **kwargs)
        if "q_vec" in df.columns:
            made.append(df)
        return df

    monkeypatch.setattr(SparkSession, "createDataFrame", recording)
    kw = dict(k=3, n_centroids=4, n_probe=2)
    got_topk = similarity.ivf_topk(emb, [3, 5], **kw).collect()
    monkeypatch.setattr(SparkSession, "createDataFrame", create)

    (queries,) = made
    want = spark.createDataFrame(
        [(3, vecs[3]), (5, vecs[5])], "q_id bigint, q_vec array<double>"
    )
    assert _same_rows(queries.select("q_id", "q_vec").distinct(), want)

    # and the search result equals the one built over a list-path
    # query frame
    monkeypatch.setattr(
        similarity,
        "local_frame",
        lambda spark_, rows, schema: spark_.createDataFrame(rows, schema),
    )
    want_topk = similarity.ivf_topk(emb, [3, 5], **kw).collect()
    assert sorted(got_topk) == sorted(want_topk)
