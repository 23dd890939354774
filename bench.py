"""Benchmark harness: runs the bench gates (``GATES`` rows with
``bench=True`` in ``__spark_entry__``, in table order) at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Per-query timing excludes session startup; each query is forced with
a ``noop`` write, which materializes every output column, so the full
plan executes (a ``count()`` would let Catalyst prune projected
work). Plan construction is inside the timer: iterative operators
(connected components, PageRank, BPE training) legitimately run Spark
jobs while the plan is built, and that work is part of the cost. The
detail artifact records per-query plan-construction seconds
(``plan_s``), so engine-only time is ``wall - plan_s``. The gates
``bench.py`` skips, and why, are commented beside their table rows.

Each query is timed in TWO interleaved passes and the minimum is
reported: other JVMs share this box intermittently (driver probes),
and a contention window then inflates at most one pass of a query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.session import (
    get_spark,
)


def run(df) -> None:
    """Execute every output column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    # The driver parses stdout as JSON; round 1 recorded parsed=null
    # because JVM/py4j writes interleaved with the result line. Redirect
    # fd 1 to stderr for the whole run and keep a private dup of the
    # real stdout that ONLY the final JSON line is written to.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    spark = get_spark(app_name="bench")

    bench = [(k, g.plan) for k, g in entry.GATES.items() if g.bench]

    # Warm the session once (codegen caches, file index, Python
    # workers) so per-query numbers reflect steady state, not
    # first-query JVM warmup.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    run(entry.q1_pricing_summary(spark, sf_dir))

    timings: dict[str, float] = {}
    plan_s: dict[str, float] = {}
    errors: dict[str, str] = {}
    for pass_no in range(2):
        for name, fn in bench:
            if name in errors:
                continue  # failed on pass 0; don't re-raise on pass 1
            try:
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                t1 = time.perf_counter()
                run(df)
                t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 — per-query fault
                # isolation: one broken query must degrade the
                # artifact, not destroy it (round-2 lesson).
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                timings.pop(name, None)
                # drop any pass-0 plan time too: an errored query must
                # not appear in plan_s while absent from queries
                plan_s.pop(name, None)
                print(f"# pass{pass_no} {name}: ERROR {exc}", file=sys.stderr)
                continue
            elapsed = round(t2 - t0, 4)
            build = round(t1 - t0, 4)
            timings[name] = min(timings.get(name, elapsed), elapsed)
            plan_s[name] = min(plan_s.get(name, build), build)
            print(
                f"# pass{pass_no} {name}: {elapsed:.3f}s "
                f"(plan {build:.3f}s)",
                file=sys.stderr,
            )

    total = round(sum(timings.values()), 4)
    spark.stop()  # before emitting JSON so no shutdown log can follow it

    # The driver captures only the LAST 2000 chars of stdout and
    # json-parses that tail: a full ~104-entry per-query dict is
    # ~3.5 KB, so rounds 1-3 all recorded parsed=null (the headline
    # total sat in the truncated-away prefix). Contract now: stdout
    # gets a compact summary (10 slowest queries only — bounded well
    # under 2000 chars); the FULL per-query map goes to
    # BENCH_DETAIL.json next to this script and to stderr.
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    metric = "headline_queries_total_wall"
    payload = {
        "metric": metric,
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "n_errors": len(errors),
        "sf": sf,
        "queries": slowest,
    }
    detail = {
        "metric": metric,
        "value": total,
        "unit": "sec",
        "sf": sf,
        "queries": timings,
        "plan_s": plan_s,
        "errors": errors,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    print(json.dumps(detail), file=sys.stderr)

    line = json.dumps(payload)
    assert len(line) < 1900, f"stdout summary too long ({len(line)} chars)"
    os.write(real_stdout, (line + "\n").encode())
    os.close(real_stdout)


if __name__ == "__main__":
    main()
