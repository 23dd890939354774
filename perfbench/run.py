"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One driver process on
``local[<cpus this process may use>]`` issues ops one after another
(a closed loop with one client). The run:

1. sets up cold, once, and reports it as ``setup_s``: importing the
   program, ``session.get_spark`` (which launches the JVM) and the
   check pass, which runs every op once on the cold JVM and checks
   its output; the checks are not timed;
2. times whole passes over the workload's ops, as many as fill
   ``--seconds`` on the dev box, checking each op's output outside
   the timer.

``--trace 1`` turns Spark's event log on for the whole run and times
half of ``--seconds`` with the stream listener and the spans on,
between two untraced halves; it prints the per-layer metrics and the
tracing overhead instead of the end-to-end ones. The last stdout line is the result JSON; all
other output goes to stderr. Everything the run writes lives under
``perfbench/.runs/<pid>`` and is deleted before it exits.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import argparse
import json
import os
import shutil
import signal
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

PKG = "aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark"
REQUIRED = (
    "__spark_entry__.py",
    os.path.join("tools", "check_oracle.py"),
    os.path.join(PKG, "plans", "pipeline.py"),
    os.path.join(PKG, "streaming", "ingest.py"),
)
OPERATOR_MODULES = (
    "bloom", "bpe", "decontam", "dedup", "derive", "drift", "dsir",
    "flatten", "governance", "graph", "lm", "mixing", "packing",
    "projection", "scoring", "search", "signatures", "similarity",
    "sketch", "spans", "text",
)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args(spec: dict) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def prepare_env(run_dir: str) -> None:
    """Point every temp and state dir of the run into ``run_dir`` and
    let Python workers import the package. Must run before pyspark is
    imported."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_STREAM_CKPT_DIR": tmp,
        # spark-submit's launcher JVM would leave /tmp/hsperfdata_<user>
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)


def heap_bytes() -> int:
    """The driver heap, which ``spark_conf`` commits and touches at JVM
    start."""
    mem = os.environ["SPARK_GRAFT_DRIVER_MEM"].lower()
    return int(mem[:-1]) << {"k": 10, "m": 20, "g": 30}[mem[-1]]


def spark_conf(run_dir: str, trace: bool = False) -> dict[str, str]:
    """Session conf of a run; with ``trace``, Spark's event log and the
    JVM's GC log are written under ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    # a heap committed up front: the op timings then do not depend on
    # when G1 chose to grow the heap, and the heap's share of the
    # process tree's memory is a constant, subtracted from peak_rss_mb
    java = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        f" -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"
    )
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        java += f" -Xlog:gc:file={os.path.join(run_dir, 'gc.log')}"
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    conf["spark.driver.extraJavaOptions"] = java
    return conf


class Bench:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.workload = None
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM; wait for every child."""
        import subprocess

        import procs
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=15)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        procs.kill_descendants(os.getpid())

    # -- phases --------------------------------------------------------
    def record(self, runs: list) -> None:
        for r in runs:
            self.attempted += 1
            if r.errors:
                self.failed += 1
                self.errors += r.errors

    def setup(self, conf: dict[str, str]) -> dict[str, float]:
        """The cold set-up: import the program, start the session (and
        with it the JVM), then the check pass, which is the warm-up
        pass too. Its time counts the imports, ``get_spark`` and the
        ops of the pass, not the checks or the making of the inputs."""
        import workloads

        t0 = time.perf_counter()
        import __spark_entry__  # noqa: F401  the package and pyspark
        from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.session import (
            get_spark,
        )

        t1 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        t2 = time.perf_counter()
        self.workload = workloads.make(
            self.args.workload, self.args.seed, os.path.join(self.run_dir, "work")
        )
        runs = self.workload.check_pass(self.spark)
        self.record(runs)
        ops_s = sum(r.latency_s for r in runs)
        print(f"# set-up: imports {t1 - t0:.3f} s, get_spark {t2 - t1:.3f} s, "
              f"check pass ops {ops_s:.3f} s "
              + json.dumps({r.op: round(r.latency_s, 3) for r in runs}),
              file=sys.stderr)
        return {"setup_s": t2 - t0 + ops_s, "session.get_spark_s": t2 - t1}

    def timed(self, seconds: float, tracer=None) -> list[list]:
        """Whole passes filling about ``seconds`` on the dev box."""
        import workloads

        n = max(1, round(seconds / workloads.NOMINAL_PASS_S))
        passes: list[list] = []
        for pass_id in range(1, n + 1):
            runs = self.workload.run_pass(self.spark, pass_id, tracer)
            passes.append(runs)
            self.record(runs)
        return passes


def log_passes(passes: list[list]) -> None:
    """Per-pass wall and per-op median latency, to stderr."""
    by_op: dict[str, list[float]] = defaultdict(list)
    for p in passes:
        for r in p:
            by_op[r.op].append(r.latency_s)
    print("# passes wall_s: "
          + json.dumps([round(sum(r.latency_s for r in p), 3) for p in passes])
          + " op median_s: "
          + json.dumps({op: round(stats.median(v), 3) for op, v in sorted(by_op.items())}),
          file=sys.stderr)


def summarize(passes: list[list]) -> dict[str, float]:
    log_passes(passes)
    lat = [r.latency_s for p in passes for r in p]
    value, pct, n = stats.tail(lat)
    busy = sum(lat)
    return {
        "wall_s": stats.median([sum(r.latency_s for r in p) for p in passes]),
        "op_p50_s": stats.median(lat),
        "op_tail_s": value,
        "op_tail_s.percentile": pct,
        "op_tail_s.samples": n,
        "rows_per_s": sum(r.rows_in for p in passes for r in p) / busy if busy else 0.0,
        "passes": len(passes),
    }


def install_spans(tracer, workload_name: str) -> None:
    import importlib

    import __spark_entry__ as entry

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.catalog import (
        load_catalog_state,
    )
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.plans import (
        pipeline,
    )

    if workload_name == "etl_ingest":
        sinks: dict[str, tuple] = {}

        def flat_cols(t, args, kwargs, out):
            t.count("operators.flatten.cols_out", len(out.columns))

        def written(t, args, kwargs, out):
            path = args[1]
            files = size = 0
            parts = set()
            for base, _, names in os.walk(path):
                data = [f for f in names if f.endswith(".parquet")]
                files += len(data)
                size += sum(os.path.getsize(os.path.join(base, f)) for f in data)
                if data:
                    parts.add(base)
            prev = sinks.get(path, (0, 0, 0))
            now = (files, size, len(parts))
            sinks[path] = now
            for name, a, b in zip(("files", "bytes", "partitions"), now, prev):
                t.count(f"sources.write_partitioned.{name}", a - b)

        ledger: dict[str, int] = {}

        def synced(t, args, kwargs, out):
            path = args[2]
            n = len((load_catalog_state(path) or {}).get("partitions", []))
            t.count("catalog.partitions_added", n - ledger.get(path, 0))
            ledger[path] = n
            t.count("catalog.drift_recreates", out == "drift-recreated")

        for attr, layer, after in (
            ("read_json", "sources.read_json", None),
            ("flatten", "operators.flatten", flat_cols),
            ("with_ingest_columns", "operators.derive", None),
            ("write_partitioned", "sources.write_partitioned", written),
            ("read_parquet_merged", "sources.read_parquet_merged", None),
            ("sync_catalog", "catalog.sync_catalog", synced),
            ("archive_files", "sources.archive_files", None),
        ):
            tracer.wrap(pipeline, attr, layer, after)
        return
    for mod in OPERATOR_MODULES:
        tracer.wrap_module(importlib.import_module(f"{PKG}.operators.{mod}"), f"operators.{mod}")
    tracer.wrap_module(entry.SI, "streaming.ingest")


def layer_metrics(tracer, passes, progress, log_dir, gates: bool) -> dict[str, float]:
    """Per-layer metrics of the traced passes: each is summed over a
    pass, and the median over passes is reported."""
    import tracing

    spark_m = tracing.parse_event_log(log_dir)
    per_pass: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for (pid, op, layer), secs in tracer.self_s.items():
        acc = per_pass[pid]
        if layer.startswith("operators."):
            acc[f"operators.{layer.split('.')[1]}_s"] += secs
        elif layer.startswith(("sources.", "catalog.")):
            acc[f"{layer}_s"] += secs
    for (pid, op, name), value in tracer.counts.items():
        per_pass[pid][name] += value
    for (pid, op, layer), m in spark_m.items():
        acc = per_pass[pid]
        for f in tracing.SPARK_FIELDS:
            if f != "job_s":
                acc[f"spark.{f}"] += m[f]
        if layer == "sources.read_json":
            acc["sources.read_json.jobs"] += m["jobs"]
        if gates and layer != "gate.action":  # launched while the plan was built
            acc["gate.eager_jobs"] += m["jobs"]
            acc["gate.eager_job_s"] += m["job_s"]
    for i, runs in enumerate(passes, start=1):
        acc = per_pass[str(i)]
        for r in runs:
            if r.plan_s:
                acc["gate.plan_s"] += r.plan_s
                acc["gate.action_s"] += r.latency_s - r.plan_s
        acc["gate.plan_s"] -= acc["gate.eager_job_s"]
    last_batch: dict[str, dict] = {}
    for rec in progress:
        key = tracing.assign(tracer.windows, rec["ts"])
        if key is None:
            continue
        acc = per_pass[key[0]]
        acc["streaming.batches"] += 1
        acc["streaming.add_batch_ms"] += rec["duration_ms"].get("addBatch", 0)
        acc["streaming.wal_commit_ms"] += rec["duration_ms"].get("walCommit", 0)
        acc["streaming.state_commit_ms"] += rec["state_commit_ms"]
        last_batch[rec["run_id"]] = (key[0], rec["state_rows"])
    for pid, rows in last_batch.values():
        per_pass[pid]["streaming.state_rows"] += rows
    names = {m["name"] for m in stats.load_spec()["per_layer"]}
    out = {}
    for name in names:
        vals = [per_pass[str(i)].get(name, 0.0) for i in range(1, len(passes) + 1)]
        out[name] = stats.median(vals)
    return out


def run(bench: Bench, run_dir: str) -> dict[str, float]:
    import procs

    args = bench.args
    values: dict[str, float] = {}
    with procs.PeakRss(os.getpid(), interval_s=0.2) as rss:
        try:
            if not args.trace:
                t0 = time.perf_counter()
                values["setup_s"] = bench.setup(spark_conf(run_dir))["setup_s"]
                t1 = time.perf_counter()
                passes = bench.timed(args.seconds)
                t2 = time.perf_counter()
                print(f"# phases: set-up {t1 - t0:.3f} s, timed {t2 - t1:.3f} s",
                      file=sys.stderr)
                values.update(summarize(passes))
            else:
                values.update(traced(bench, run_dir))
        finally:
            rss.stop()
            values["peak_rss_mb"] = (rss.peak - heap_bytes()) / 2**20
            print("# peak memory by process (MB): " + json.dumps(
                {k: round(v / 2**20) for k, v in rss.at_peak.items()}), file=sys.stderr)
            sink = getattr(bench.workload, "sink_ratios", None)
            values["sink_bytes_per_input_byte"] = stats.median(sink) if sink else 0.0
    return values


def traced(bench: Bench, run_dir: str) -> dict[str, float]:
    import tracing

    half = bench.args.seconds / 2
    log_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(log_dir)
    first = bench.setup(spark_conf(run_dir, trace=True))["session.get_spark_s"]
    before = bench.timed(half)
    tracer = tracing.Tracer(bench.spark)
    progress: list[dict] = []
    bench.spark.streams.addListener(tracing.stream_listener(progress))
    install_spans(tracer, bench.args.workload)
    try:
        passes = bench.timed(half, tracer)
    finally:
        tracer.uninstall()
    # untraced passes on both sides of the traced ones, so the warm-up
    # still going on across passes does not read as tracing cost
    plain = summarize(before + bench.timed(half))
    # flush queued listener events, then close the event log
    bench.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    bench.spark.stop()
    bench.spark = None
    out = layer_metrics(
        tracer, passes, progress, log_dir, gates=bench.args.workload != "etl_ingest"
    )
    traced_s = summarize(passes)
    out.update({
        "session.get_spark_s": first,
        "jvm.heap_after_gc_peak_mb": tracing.heap_after_gc_peak_mb(
            os.path.join(run_dir, "gc.log")
        ),
        "tracing_overhead_s": traced_s["wall_s"] - plain["wall_s"],
        "op_tail_s.percentile": plain["op_tail_s.percentile"],
        "op_tail_s.samples": plain["op_tail_s.samples"],
    })
    print("# trace " + json.dumps({
        "untraced": plain, "traced": traced_s,
        "self_s": {"|".join(k): v for k, v in tracer.self_s.items()},
        "counts": {"|".join(k): v for k, v in tracer.counts.items()},
        "spark": {"|".join(k): v for k, v in tracing.parse_event_log(log_dir).items()},
        "streaming": progress,
    }, sort_keys=True), file=sys.stderr)
    return out


def main() -> None:
    try:
        spec = stats.load_spec()
    except OSError as exc:
        fail(f"cannot read BENCHMARK.json: {exc}")
    args = parse_args(spec)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        fail(f"not a checkout of the engine, missing: {missing}")
    from workloads import FIXTURE_DIR

    if not os.path.isdir(FIXTURE_DIR):
        fail(f"fixture dir missing: {FIXTURE_DIR}")

    # a caller's timeout sends SIGTERM: unwind so the finally below
    # stops the JVM and removes the run dir
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    run_dir = os.path.join(HERE, ".runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir)
    # py4j and the JVM write to fd 1; keep it for the result line only
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    bench = None
    try:
        bench = Bench(args, run_dir)
        values = run(bench, run_dir)
    finally:
        try:
            if bench is not None:
                bench.shutdown()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            runs_dir = os.path.dirname(run_dir)
            if os.path.isdir(runs_dir) and not os.listdir(runs_dir):
                os.rmdir(runs_dir)
    for e in bench.errors[:20]:
        print(f"# error: {e}", file=sys.stderr)
    if "op_tail_s" in values:
        print(f"# op_tail_s {values['op_tail_s']:.4f} s is percentile "
              f"{values['op_tail_s.percentile']:g} of "
              f"{values['op_tail_s.samples']} op samples", file=sys.stderr)
    values["failed_op_ratio"] = bench.failed / max(1, bench.attempted)
    print(f"# {args.workload} seed={args.seed} " + json.dumps(values, sort_keys=True),
          file=sys.stderr)
    line = stats.result_line(
        spec, bool(args.trace), values, correct=bench.failed == 0,
        attempted=bench.attempted, failed=bench.failed,
    )
    os.write(real_stdout, (line + "\n").encode())
    os.close(real_stdout)


if __name__ == "__main__":
    main()
