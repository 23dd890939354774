"""Physical-plan invariants (the 100 TB posture, pinned).

These tests build plans only (no execution) — Catalyst analysis and
physical planning happen on the driver, so auditing all queries is
cheap.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

import __spark_entry__ as entry
from plan_audit import ARROW_STAGE_EXPECTED, audit_one, formatted_plan

SF_DIR = "/root/testdata/sf0.001"


def test_no_cartesian_no_row_python_anywhere(spark):
    """Every query's plan: no CartesianProduct, no row-at-a-time
    Python, no pickle-RDD literal frame (``Scan ExistingRDD``), and
    EXACTLY the reviewed number of Arrow stages (r07
    verdict task #4 — a membership-only allowlist let an allowlisted
    query grow a second, unreviewed Arrow stage without failing
    CI)."""
    bad = {}
    for name, fn in entry.queries().items():
        row = audit_one(name, fn(spark, SF_DIR))
        if row["cartesian"]:
            bad[name] = "CartesianProduct"
        if row["row_python"]:
            bad[name] = "BatchEvalPython (row-at-a-time Python UDF)"
        if row["pickle_rdd"]:
            bad[name] = "Scan ExistingRDD over a pickle-RDD literal frame"
        expected = ARROW_STAGE_EXPECTED.get(name, 0)
        if row["n_arrow_stages"] != expected:
            bad[name] = (
                f"{row['n_arrow_stages']} Arrow stages, {expected} reviewed"
            )
    assert not bad, bad


def test_filter_pushdown_reaches_scan(spark):
    # q1 filters l_shipdate on the base table: must appear as a
    # pushed parquet filter, and the scan must not read all columns.
    row = audit_one("q1", entry.queries()["q1_pricing_summary"](spark, SF_DIR))
    assert row["n_pushed"] >= 1
    assert max(row["scan_widths"]) <= 7  # 7 of 11 lineitem cols used


def test_topk_uses_take_ordered(spark):
    # orderBy().limit() must compile to TakeOrderedAndProject, not a
    # global sort.
    row = audit_one("topk", entry.queries()["topk_orders"](spark, SF_DIR))
    assert row["take_ordered"]


def test_semi_anti_compile_to_joins(spark):
    plan = formatted_plan(entry.queries()["join_semi_suppliers"](spark, SF_DIR))
    assert "LeftSemi" in plan
    plan = formatted_plan(entry.queries()["join_anti_customers"](spark, SF_DIR))
    assert "LeftAnti" in plan


def test_exists_window_compiles_to_conditioned_semi(spark):
    """The correlated-EXISTS gate must compile to ONE left-semi join
    carrying the cross-table ship-date predicate in its join
    condition (not a post-join filter over an inner join) plus one
    window — the shape that keeps the probe side unexpanded at
    100 TB (an inner join would multiply orders by matching lines
    before deduplicating)."""
    plan = formatted_plan(
        entry.queries()["exists_window_orders"](spark, SF_DIR)
    )
    assert "LeftSemi" in plan
    assert "Window" in plan
    # the date predicate rides inside the semi-join condition (the
    # formatted plan prints it on a "Join condition:" detail line)
    cond_lines = [
        ln for ln in plan.splitlines() if "Join condition:" in ln
    ]
    assert any("l_shipdate" in ln for ln in cond_lines), cond_lines


def test_ann_shortlists_have_no_nlj(spark):
    """r06 de-shuffle pin (round-5 verdict #1 plan defect): the
    exact-scoring stages of the ANN gates must run through the Arrow
    local-top-k kernel, NOT a broadcast nested-loop join on a
    ``n_id != q_id`` condition whose q_id-partitioned window funnels
    the whole corpus into |Q| tasks. Allowed BNLJs are the
    condition-free 1-row Cross builds (recall-gate crossJoin, SQ8
    stats attach) — so the pin is: every BroadcastNestedLoopJoin
    node is an unconditioned Cross, and the kernel's MapInPandas
    stage is present."""
    for name in [
        "sim_topk_rp",
        "sim_topk_sq",
        "sim_topk_bruteforce",
        "hard_negatives_vecs",
    ]:
        df = entry.queries()[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        nlj_lines = [
            ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln
        ]
        for ln in nlj_lines:
            assert "Cross" in ln and "NOT" not in ln and "q_id" not in ln, (
                name,
                ln.strip(),
            )
        assert "MapInPandas" in plan, name


def test_plan_allowlist_is_pinned():
    """A NEW Arrow-stage budget entry — or a changed stage COUNT —
    must fail CI until it is consciously re-pinned here with a
    review comment in tools/plan_audit.py (r05 stretch item made
    count-exact by r07 verdict task #4). Former set members
    dedup_ngram_pairs / events_sessionize / text_bpe_token_stats
    are gone: their plans carry zero Arrow stages."""
    assert dict(sorted(ARROW_STAGE_EXPECTED.items())) == {
        "decontam_fuzzy_docs": 3,
        "dedup_incremental_docs": 3,
        # round-10 sampled sf0.1 twins of the incremental band-store
        # gates — same 3-stage shape as their full siblings
        "dedup_incremental_docs_sf01": 3,
        # round-9 sampled sf0.1 twin — same LSH plan, own signature
        # pass over the sampled corpus
        "dedup_minhash_pairs_sf01": 3,
        # sampled recall twins — same 3-stage shape as their
        # full-corpus siblings over the shared sampled signature pass
        "dedup_simhash_pairs_sf01": 3,
        "dedup_winnow_pairs_sf01": 3,
        "dedup_simhash_pairs": 3,
        "dedup_winnow_pairs": 3,
        "embed_label_spectrum": 2,
        "embed_label_stats": 1,
        "hard_negatives_vecs": 1,
        "multimodal_decode_real": 1,
        "multimodal_features_docs": 1,
        "pack_boundaries_docs": 1,
        # round-8 session addition: the exact-integer Arrow
        # local-top-k kernel behind the lexical-vector retrieval gate
        "rag_hash_retrieval_docs": 1,
        # hybrid RRF fusion: one Arrow kernel in the vector arm, the
        # lexical arm compiles JVM-side
        "rrf_fusion_docs": 1,
        "rp_project_vecs": 1,
        "semantic_dedup_vecs": 2,
        "seq_packing_docs": 2,
        "sim_neardup_exact": 1,
        "sim_topk_bruteforce": 1,
        "sim_topk_ivf": 4,
        "sim_topk_lsh": 6,
        "sim_topk_rp": 3,
        "knn_graph_lsh_docs": 2,
        "matryoshka_recall_vecs": 4,
        # r13 optimization round: the greedy MMR selection became one
        # cogrouped Arrow kernel (was k unrolled JVM join rounds)
        "mmr_rerank_docs": 1,
        "sim_topk_pq": 3,
        "sim_topk_sq": 2,
        "stream_incremental_dedup_docs": 3,
        "stream_incremental_dedup_docs_sf01": 3,
        "triplet_mining_vecs": 2,
    }


def test_arrow_stage_count_is_execution_stable(spark):
    """Self-test of the auditor's counting primitive: one Arrow node
    counts once, separate evaluations count separately, and — the
    regression that motivated final-plan-only counting — the count
    must NOT change after the frame executes (AQE then prints Final
    + Initial sections and raw-text counting doubles every node)."""
    import pandas as pd
    from pyspark.sql.functions import col, pandas_udf

    from plan_audit import arrow_stage_count

    @pandas_udf("double")
    def _double(x: pd.Series) -> pd.Series:
        return x * 2.0

    base = spark.range(100)
    assert arrow_stage_count(base) == 0
    one = base.select(_double("id").alias("a"))
    assert arrow_stage_count(one) == 1
    # a JVM stage between the two evals prevents fusion into one node
    two = one.filter(col("a") > 1).select(_double("a").alias("b"))
    assert arrow_stage_count(two) == 2
    executed = base.select(_double("id").alias("a"))
    n_before = arrow_stage_count(executed)
    executed.count()
    assert arrow_stage_count(executed) == n_before == 1


def test_pickle_rdd_scans_tells_literals_from_checkpoints(spark):
    """Self-test of the literal-frame rule: a ``createDataFrame(list)``
    scan counts (also joined, and after it executes), a
    ``localCheckpoint`` scan — the same ``Scan ExistingRDD`` node
    name — does not, nor does an Arrow-built ``local_frame``."""
    from plan_audit import pickle_rdd_scans

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.functions.frames import (
        local_frame,
    )

    rows, schema = [(1, "a"), (2, "b")], "id bigint, s string"
    literal = spark.createDataFrame(rows, schema)
    assert pickle_rdd_scans(literal) == 1
    joined = spark.range(3).join(literal, "id")
    assert pickle_rdd_scans(joined) == 1
    joined.collect()
    assert pickle_rdd_scans(joined) == 1
    checkpointed = spark.range(3).localCheckpoint()
    assert "Scan ExistingRDD" in formatted_plan(checkpointed)
    assert pickle_rdd_scans(checkpointed) == 0
    assert pickle_rdd_scans(local_frame(spark, rows, schema)) == 0
