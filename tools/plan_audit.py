"""Physical-plan audit over the whole queries() inventory.

For each query, capture ``explain(mode="formatted")`` and grade the
plan against the 100 TB posture rules:

* no ``CartesianProduct`` (an intentional 1-row cross join compiles
  to BroadcastNestedLoopJoin with a single-row side — allowed);
* no ``BatchEvalPython`` (row-at-a-time Python UDF) anywhere — Python
  stages must be Arrow-vectorized (``MapInPandas`` / ``ArrowEval`` /
  ``FlatMapGroupsInPandas``);
* no pickle-RDD literal frame: a ``Scan ExistingRDD`` whose RDD comes
  from ``spark.createDataFrame(list)`` runs one Python task per slice
  on every action; build it with ``functions.frames.local_frame`` (a
  ``LocalTableScan``) instead. ``localCheckpoint`` scans print the
  same node name and are allowed (see pickle_rdd_scans);
* parquet scans should carry ``PushedFilters`` whenever the query
  filters on a base column (reported, since some filters — e.g. on
  derived values — legitimately cannot push);
* report WholeStageCodegen span count and scan column width
  (ReadSchema) so projection pruning regressions are visible.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
Prints one human line per query + a JSON summary tail; exit 1 on any
hard-rule violation.
"""

from __future__ import annotations

import contextlib
import io
import json
import re
import sys

sys.path.insert(0, ".")

import __spark_entry__ as entry
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.session import (
    get_spark,
)

# query -> EXACT number of Arrow (vectorized-Python) plan nodes its
# physical plan is allowed to contain (r06/r07 verdict task: a whole-
# query allowlist let an allowlisted query grow a second, unreviewed
# Arrow stage without failing CI — and indeed three set entries
# turned out to carry ZERO Arrow stages: dedup_ngram_pairs,
# events_sessionize, and text_bpe_token_stats compile fully JVM-side
# and are dropped from the map). A node is one distinct MapInPandas /
# ArrowEvalPython / FlatMapGroupsInPandas* line in the final physical
# plan (see arrow_stage_count); one ArrowEvalPython node may evaluate
# several pandas UDFs. Counts verified identical at sf0.001 and
# sf0.01 (plan-structural, not data-dependent). Any query absent
# from the map is held to zero.
ARROW_STAGE_EXPECTED = {
    # (the retired full-corpus minhash pair-list gate's 3-stage
    # budget moved to its live sf0.1 twin below — r11 ledger)
    # round-9 bounded-sample sf0.1 twin: identical LSH plan on the
    # doc_id%10 sample (its own signature pass — the sampled corpus
    # can't reuse the full-corpus shared-signature frame), so the
    # same 3 stages as its full-corpus sibling
    "dedup_minhash_pairs_sf01": 3,
    # the sampled recall twins mirror their full-corpus siblings'
    # 3-stage shape (shared sampled signature pass + sketch view +
    # the recall gate's exact-verify truth side)
    "dedup_simhash_pairs_sf01": 3,
    "dedup_winnow_pairs_sf01": 3,
    "dedup_simhash_pairs": 3,
    "dedup_winnow_pairs": 3,
    # multimodal: one mapInPandas extract stage (decode_stub="auto"
    # for the real-codec fixture gate)
    "multimodal_features_docs": 1,
    "multimodal_decode_real": 1,
    # ANN recall gates: bucketed probe stages + the recall gate's
    # exact truth side (see test_ann_shortlists_have_no_nlj for the
    # no-NLJ shape pin)
    "sim_topk_lsh": 6,
    "sim_topk_ivf": 4,
    "sim_topk_bruteforce": 1,
    # project-shortlist-rerank: Arrow local-top-k shortlist kernel +
    # projected truth + recall truth
    "sim_topk_rp": 3,
    # SQ8 shortlist+rerank over JVM-dequantized vectors + truth side
    "sim_topk_sq": 2,
    # PQ/ADC: encode pass + ADC shortlist kernel + truth side (the
    # rerank itself is JVM expression cosine)
    "sim_topk_pq": 3,
    # Matryoshka ablation: one local-top-k kernel per prefix level
    # (64/32/16) + the shared full-dim truth side
    "matryoshka_recall_vecs": 4,
    # LSH kNN recall gate: the banding kernel emits pre-exploded
    # rows (one Arrow node per join branch; the earlier array+
    # posexplode form was double-evaluated by the project-into-
    # generator collapse — 4 stages)
    "knn_graph_lsh_docs": 2,
    # hard-negative mining: one label-masked Arrow local-top-k
    # candidate stage, JVM rounded-cosine rerank
    "hard_negatives_vecs": 1,
    # triplet export: two labeled_topk passes of the same kernel
    "triplet_mining_vecs": 2,
    # JL projection: the Arrow int64-matmul kernel
    "rp_project_vecs": 1,
    "sim_neardup_exact": 1,
    "embed_label_stats": 1,
    "embed_label_spectrum": 2,
    # greedy packing mapInPandas (+ its chunk producer in the
    # sequence gate)
    "seq_packing_docs": 2,
    "pack_boundaries_docs": 1,
    # incremental band store: per-batch minhash signature Arrow pass
    # + pudf exact verify + truth side (same stages as dedup_minhash)
    "dedup_incremental_docs": 3,
    # streaming twin: the returned compare plan embeds the one-shot
    # minhash truth side; the stream itself ran in foreachBatch
    "stream_incremental_dedup_docs": 3,
    # bounded doc_id%10 sf0.1 twins of the two gates above (r10 task
    # #3): identical plan shapes over the sampled corpus — measured 3
    # distinct Arrow signatures each, same as their full siblings
    "dedup_incremental_docs_sf01": 3,
    "stream_incremental_dedup_docs_sf01": 3,
    # embed_cluster_vecs is deliberately ABSENT: its Arrow cosine
    # pair source materializes through a localCheckpoint during
    # construction, so the returned plan is checkpoint-scan-rooted
    # with zero visible Arrow nodes (held to 0 like any other query)
    # SemDeDup: cell-assignment pandas_udf + within-cell cosine pudf
    "semantic_dedup_vecs": 2,
    # fuzzy decontamination: the banded minhash pipeline on the
    # corpus∪benchmark union
    "decontam_fuzzy_docs": 3,
    # lexical-vector retrieval: the exact-integer Arrow local-top-k
    # kernel (similarity.local_topk_exact_int)
    "rag_hash_retrieval_docs": 1,
    # hybrid RRF retrieval: the vector arm's exact-integer Arrow
    # local-top-k kernel (the BM25 arm is fully JVM-side)
    "rrf_fusion_docs": 1,
    # MMR diversified rerank (r13 optimization round): the greedy
    # selection is ONE cogrouped Arrow kernel
    # (FlatMapCoGroupsInPandas) over the candidate/sims frames —
    # replaced the k statically-unrolled join rounds (2 + k eager
    # checkpoint jobs) with a single per-query-parallel stage;
    # bit-identical picks, oracle-verified
    "mmr_rerank_docs": 1,
}


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


_ARROW_RX = re.compile(
    r"\b(?:MapInPandas|ArrowEvalPython|FlatMap(?:Co)?GroupsInPandas\w*)\b"
)


def arrow_stage_count(df) -> int:
    """Arrow plan nodes in the CURRENT physical plan. Counted from
    ``executedPlan().toString()`` as DISTINCT node signatures — each
    matching line normalized to the substring starting at the node
    name, which strips the tree glyphs AND the ``*(n)`` codegen
    prefix that only the Final section carries. Two prior schemes
    failed:

    * raw line count — once any part of a query materializes, AQE
      prints Final AND Initial sections and every node doubles;
    * truncate at the first ``== Initial Plan ==`` — an
      InMemoryRelation from a SHARED persisted frame embeds its own
      stored AQE plan (with markers) mid-string, so a query built on
      a frame another gate already materialized truncated BEFORE its
      own Arrow nodes and counted 0 (order-dependent CI flake).

    Signature dedup is stable under both: a diamond-reused or
    Final+Initial-repeated node prints identical expr ids and dedups
    to one; separate evaluations carry distinct ids and count
    separately (pinned by the self-test)."""
    s = df._jdf.queryExecution().executedPlan().toString()
    sigs = {
        _ARROW_RX.search(ln).group(0)
        + ln[_ARROW_RX.search(ln).end():]
        for ln in s.splitlines()
        if _ARROW_RX.search(ln)
    }
    return len(sigs)


def pickle_rdd_scans(df) -> int:
    """``Scan ExistingRDD`` nodes (RDDScanExec) whose RDD lineage holds
    a ``PythonRDD``: the pickled-list scan of
    ``spark.createDataFrame(list)``. A ``localCheckpoint`` also plans
    as ``Scan ExistingRDD``, but its lineage is the checkpoint's own
    RDDs (or, while a lazy checkpoint is pending, whatever it cuts —
    flagged only if that holds a pickle-RDD literal). Walks the
    current physical plan through AQE wrappers, query stages and
    cached relations."""
    n_scans, stack = 0, [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif kind == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
        elif kind == "RDDScanExec" and "PythonRDD[" in node.rdd().toDebugString():
            n_scans += 1
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return n_scans


def audit_one(name: str, df) -> dict:
    plan = formatted_plan(df)
    # formatted mode shows each node in the tree AND a numbered
    # details section; count only the numbered detail entries.
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    pushed = re.findall(r"PushedFilters: \[(.*?)\]", plan)
    read_schemas = re.findall(r"ReadSchema: struct<(.*?)>", plan)
    return {
        "query": name,
        "cartesian": "CartesianProduct" in plan,
        "row_python": "BatchEvalPython" in plan,
        "pickle_rdd": "Scan ExistingRDD" in plan and pickle_rdd_scans(df) > 0,
        "n_arrow_stages": arrow_stage_count(df),
        "codegen_spans": len(set(re.findall(r"\[codegen id : (\d+)\]", plan))),
        "n_scans": len(scans),
        "n_pushed": sum(1 for p in pushed if p.strip()),
        "scan_widths": [len(s.split(",")) if s else 0 for s in read_schemas],
        "take_ordered": "TakeOrderedAndProject" in plan,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="plan_audit")
    results, violations = [], []
    for name, fn in sorted(entry.queries().items()):
        if only and name not in only:
            continue
        try:
            row = audit_one(name, fn(spark, sf_dir))
        except Exception as exc:  # pragma: no cover - audit robustness
            print(f"{name:32s} PLAN-ERROR {exc}")
            violations.append(name)
            continue
        results.append(row)
        flags = []
        if row["cartesian"]:
            flags.append("CARTESIAN")
            violations.append(name)
        if row["row_python"]:
            flags.append("ROW-PYTHON")
            violations.append(name)
        if row["pickle_rdd"]:
            flags.append("PICKLE-RDD-SCAN")
            violations.append(name)
        expected = ARROW_STAGE_EXPECTED.get(name, 0)
        if row["n_arrow_stages"] != expected:
            flags.append(
                f"ARROW-STAGE-COUNT {row['n_arrow_stages']}!={expected}"
            )
            violations.append(name)
        width = max(row["scan_widths"], default=0)
        print(
            f"{name:32s} scans={row['n_scans']} pushed={row['n_pushed']} "
            f"codegen={row['codegen_spans']} max_scan_cols={width} "
            f"{' '.join(flags) or 'ok'}"
        )
    print(
        json.dumps(
            {
                "n_queries": len(results),
                "violations": sorted(set(violations)),
                "total_codegen_spans": sum(r["codegen_spans"] for r in results),
            }
        )
    )
    if violations:
        sys.exit(1)


if __name__ == "__main__":
    main()
