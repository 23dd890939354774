"""BPE training and connected components each pick their path from
the size of their materialized input: one executor task within the
byte budget (``spark.sql.autoBroadcastJoinThreshold``), the
distributed job loop above it. These tests run every case on both
paths — the budget off (-1) forces the distributed loop — and pin
equal results and dtypes, and that the single-task path stays a
fixed handful of Spark jobs."""

import uuid

import pytest

from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    bpe as B,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    dedup as D,
)

BUDGET = "spark.sql.autoBroadcastJoinThreshold"


def on_both_paths(spark, run):
    """(``run()`` within the default budget, ``run()`` with the budget
    off); the setting is restored whatever happens."""
    prev = spark.conf.get(BUDGET)
    single = run()
    spark.conf.set(BUDGET, "-1")
    try:
        distributed = run()
    finally:
        spark.conf.set(BUDGET, prev)
    return single, distributed


def frame_result(df):
    return df.dtypes, sorted(df.collect(), key=repr)


def jobs_fired(spark, call) -> int:
    """Spark jobs started by ``call()``, counted through a job group."""
    sc = spark.sparkContext
    group = f"single-task-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# ------------------------------------------------------------------ BPE

REFERENCE = "low low low lower lower newest newest newest newest widest"
METACHAR = r"\def \def \def \def don't don't don't a\'b a\'b"
# (b, </w>) wins at n=6; then four pairs tie at n=2: '</w>' sorts
# before letters, so ('a', '</w>') beats ('a', 'b</w>'), and 'z' < 'é'
# in code-point (and UTF-8 byte) order
TIES = "éb éb zb zb ab ab a a"
# only (a, b) repeats: one merge, then every pair has n=1
EARLY_STOP = "abc abd xyz"


def docs(spark, *texts):
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )


@pytest.mark.parametrize(
    "texts, n_merges",
    [
        ((REFERENCE,), 6),
        ((METACHAR,), 4),
        ((TIES,), 5),
        ((EARLY_STOP,), 5),
        (("", "   ", None), 3),
    ],
    ids=["reference", "metachar", "ties", "early-stop", "all-empty"],
)
def test_bpe_train_same_on_both_paths(spark, texts, n_merges):
    d = docs(spark, *texts)
    single, distributed = on_both_paths(
        spark, lambda: B.bpe_train(d, n_merges=n_merges)
    )
    assert single == distributed
    assert [tuple(map(type, m)) for m in single] == [
        (int, str, str, int)
    ] * len(single)


def test_bpe_train_tie_break_and_stop_rule(spark):
    ties = B.bpe_train(docs(spark, TIES), n_merges=5)
    assert [(l, r, n) for _, l, r, n in ties] == [
        ("b", "</w>", 6),
        ("a", "</w>", 2),
        ("a", "b</w>", 2),
        ("z", "b</w>", 2),
        ("é", "b</w>", 2),
    ]
    assert B.bpe_train(docs(spark, EARLY_STOP), n_merges=5) == [
        (1, "a", "b", 2)
    ]
    assert B.bpe_train(docs(spark, "", "   ", None), n_merges=3) == []


@pytest.mark.parametrize(
    "texts",
    [
        (REFERENCE,),
        (METACHAR,),
        (TIES, EARLY_STOP, ""),
        ("low low lower", "low", "  "),
    ],
    ids=["reference", "metachar", "mixed", "hand"],
)
def test_bpe_symbols_and_doc_tokens_same_on_both_paths(spark, texts):
    d = docs(spark, *texts)
    for build in (
        lambda: B.bpe_symbol_stats(d, n_merges=3, top_k=20),
        lambda: B.bpe_document_tokens(d, n_merges=3),
    ):
        single, distributed = on_both_paths(
            spark, lambda: frame_result(build())
        )
        assert single == distributed


# ------------------------------------------------- connected components

GRAPHS = {
    # chain 1-2-3-4, triangle 10-11-12, isolated pair 20-21
    "chain-triangle-pair": [
        (1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)
    ],
    "chain-64": [(i, i + 1) for i in range(63)],
    "empty": [],
    "self-loops": [(1, 1), (2, 3), (3, 3), (7, 7)],
    "duplicate-reversed": [(1, 2), (2, 1), (1, 2), (4, 3), (3, 4), (5, 4)],
    # ids past 2**53: a float round trip would merge neighbours
    "large-ids": [(2**62 + 1, 2**62 + 3), (2**62 + 3, 2**62 + 2)],
    # a NULL end joins no edge; NULL is a node of its own
    "null-ids": [(1, None), (None, 3), (4, 5)],
}


@pytest.mark.parametrize("id_type", ["int", "bigint"])
@pytest.mark.parametrize("graph", sorted(GRAPHS))
def test_connected_components_same_on_both_paths(spark, graph, id_type):
    if graph == "large-ids" and id_type == "int":
        pytest.skip("ids past the int range")
    pairs = spark.createDataFrame(
        GRAPHS[graph], f"id_a {id_type}, id_b {id_type}"
    )
    # 12 rounds: the distributed loop must converge on the 64-node
    # chain in O(log n) rounds (pointer jumping) to match
    single, distributed = on_both_paths(
        spark,
        lambda: frame_result(D.connected_components(pairs, max_iter=12)),
    )
    assert single == distributed
    assert single[0] == [("doc_id", id_type), ("cluster_id", id_type)]


def test_connected_components_mixed_id_types_widen(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (3, 2)], "id_a int, id_b bigint"
    )
    single, distributed = on_both_paths(
        spark, lambda: frame_result(D.connected_components(pairs))
    )
    assert single == distributed
    assert single[0] == [("doc_id", "bigint"), ("cluster_id", "bigint")]
    assert {tuple(r) for r in single[1]} == {(1, 1), (2, 1), (3, 1)}


# ------------------------------------------------------------ job counts


def test_bpe_train_fires_at_most_three_jobs(spark):
    d = docs(spark, REFERENCE)
    # the distributed loop fires jobs per merge: the bound is the
    # path choice, not a small corpus
    single, distributed = on_both_paths(
        spark, lambda: jobs_fired(spark, lambda: B.bpe_train(d, n_merges=6))
    )
    assert single <= 3 < distributed


def test_connected_components_fires_at_most_three_jobs(spark):
    # the distributed loop fires jobs per round
    pairs = spark.createDataFrame(GRAPHS["chain-64"], "id_a long, id_b long")
    single, distributed = on_both_paths(
        spark, lambda: jobs_fired(spark, lambda: D.connected_components(pairs))
    )
    assert single <= 3 < distributed
