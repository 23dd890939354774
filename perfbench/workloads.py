"""The benchmark's workloads. Each runs ops, one after another, on one
SparkSession (a closed loop with one client):

* ``etl_ingest``: an op is one scheduled ``plans.pipeline.run_batch``
  tick over a batch the seeded generator wrote; a pass is a fresh
  sink taken through ``TICKS`` ticks (create, add partitions, drift
  recreate, add partitions).
* ``llm_curation`` and ``stream_events``: an op is one
  ``__spark_entry__.queries()`` gate over the fixture dir, built and
  then forced with a ``noop`` write that materializes every output
  column; a pass runs every gate of the workload once, in an order
  the seed shuffles.

The first pass of a run, the check pass, is also its warm-up: every
op once, cold. Correctness is checked outside the timer: every ETL
tick against the generator's expectation, every gate in the check pass
against its DuckDB oracle (values) and on every timed run by its row
count.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import etl_gen

HERE = os.path.dirname(os.path.abspath(__file__))
# Copies of the tables the gates read, at the headline bench's scale
# (sf0.1 of the repository's deterministic test data).
FIXTURE_DIR = os.path.join(HERE, "data", "sf0.1")
# Per gate workload, each gate with the fixture tables whose rows are
# its input rows (fixed here rather than read off the result frame,
# whose plan may no longer show its files).
GATE_WORKLOADS = {
    # Arrow/pandas kernels (dedup_simhash_pairs, rag_hash_retrieval_docs),
    # localCheckpoint sites and iterative job loops (bpe, components).
    "llm_curation": {
        "text_quality_docs": ("documents",),
        "bpe_vocab_docs": ("documents",),
        "knn_components_docs": ("documents",),
        "dedup_simhash_pairs": ("documents",),
        "rag_hash_retrieval_docs": ("documents",),
        "embed_centroids": ("embeddings",),
    },
    # AvailableNow drains through streaming.ingest.run_to_memory; the
    # input rows are the event rows drained (stream_enrich_counts also
    # joins the customer table in batch).
    "stream_events": {
        "stream_dedup_counts": ("events",),
        "stream_windowed_counts": ("events",),
        "stream_sessionize_counts": ("events",),
        "stream_enrich_counts": ("events",),
    },
}
# About one warm pass of each workload on the 4-core dev box (6-9 s).
# A run times ``--seconds`` over this many passes, a count that does
# not depend on speed, so every run of a workload reports the same
# order statistics (the tail percentile moves with the sample count).
NOMINAL_PASS_S = 7.0

TICKS = 4
# A quarter of the 60,000-record tick first prototyped for this
# workload: the prototype's batch arrives over one pass of four ticks.
RECORDS_PER_TICK = 15_000


@dataclass
class OpRun:
    op: str
    latency_s: float
    rows_in: int
    errors: list[str] = field(default_factory=list)
    plan_s: float = 0.0


def _layer(tracer, name):
    return tracer.layer(name) if tracer is not None else contextlib.nullcontext()


def _op(tracer, pass_id, name):
    return tracer.op(pass_id, name) if tracer is not None else contextlib.nullcontext()


class _Collected:
    """A result frame's schema and rows, collected inside the timer,
    in the shape ``check_oracle.compare`` reads; the comparison then
    runs outside the timer."""

    def __init__(self, df):
        self.columns = df.columns
        self.dtypes = df.dtypes
        self._rows = df.collect()

    def collect(self):
        return self._rows


class GateWorkload:
    def __init__(self, name: str, seed: int):
        import pyarrow.parquet as pq

        import __spark_entry__ as entry
        from oracle import CachedOracle

        self.name = name
        self.fixtures = FIXTURE_DIR
        inputs = GATE_WORKLOADS[name]
        self.gates = list(inputs)
        self.n_ops = len(self.gates)
        self.rng = random.Random(f"{name}:{seed}")
        self.fns = entry.queries()
        self.sqls = entry.oracle_sql()
        self.oracle = CachedOracle(self.fixtures)
        self.expected_rows = {g: self.oracle.rows(self.sqls[g]) for g in self.gates}
        table_rows = {
            t: pq.read_metadata(os.path.join(self.fixtures, f"{t}.parquet")).num_rows
            for t in {t for ts in inputs.values() for t in ts}
        }
        self.rows_in = {g: sum(table_rows[t] for t in ts) for g, ts in inputs.items()}

    def pass_order(self) -> list[str]:
        order = list(self.gates)
        self.rng.shuffle(order)
        return order

    def check_pass(self, spark) -> list[OpRun]:
        """Every gate once, cold, compared by value with its oracle;
        an op's latency is its build plus the collect."""
        from tools.check_oracle import compare

        runs = []
        for g in self.gates:
            t0 = time.perf_counter()
            try:
                got = _Collected(self.fns[g](spark, self.fixtures))
                dt = time.perf_counter() - t0
                status = compare(g, got, self.sqls[g], self.oracle)
            except Exception as exc:  # one failing gate must not end the run
                runs.append(OpRun(g, time.perf_counter() - t0, 0, [f"{g}: {exc!r}"[:500]]))
                continue
            errors = [] if status.startswith("OK") else [f"{g}: {status}"]
            runs.append(OpRun(g, dt, self.rows_in[g], errors))
        return runs

    def run_pass(self, spark, pass_id: int, tracer=None) -> list[OpRun]:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        runs = []
        for g in self.pass_order():
            obs = Observation()
            t0 = t1 = time.perf_counter()
            try:
                with _op(tracer, pass_id, g):
                    with _layer(tracer, "gate.plan"):
                        df = self.fns[g](spark, self.fixtures)
                    t1 = time.perf_counter()
                    with _layer(tracer, "gate.action"):
                        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                            "noop"
                        ).mode("overwrite").save()
                    t2 = time.perf_counter()
            except Exception as exc:  # one failing gate must not end the run
                runs.append(OpRun(g, time.perf_counter() - t0, 0, [f"{g}: {exc!r}"[:500]]))
                continue
            got = obs.get["n"]
            errors = []
            if got != self.expected_rows[g]:
                errors.append(f"{g}: rows {got} != oracle {self.expected_rows[g]}")
            runs.append(OpRun(g, t2 - t0, self.rows_in[g], errors, plan_s=t1 - t0))
        return runs


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


class EtlWorkload:
    def __init__(self, seed: int, work_dir: str):
        self.work_dir = work_dir
        self.ticks = [etl_gen.make_tick(seed, t, RECORDS_PER_TICK) for t in range(TICKS)]
        self.n_ops = TICKS
        self.passes = 0
        self.sink_ratios: list[float] = []

    def _config(self, pass_dir: str, db: str):
        from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.config import (
            EtlConfig,
        )

        return EtlConfig(
            source_path=os.path.join(pass_dir, "source"),
            sink_path=os.path.join(pass_dir, "sink"),
            catalog_db_name=db,
            catalog_table_prefix="iot",
        )

    def _ticks(
        self, spark, n_ticks: int, pass_id: int, tracer=None
    ) -> tuple[list[OpRun], float]:
        """``n_ticks`` ticks on a fresh source, sink and catalog db,
        dropped afterwards; returns the ticks and the sink's bytes per
        source byte."""
        from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.catalog import (
            show_partitions,
        )
        from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.plans import (
            pipeline,
        )

        self.passes += 1
        pass_dir = os.path.join(self.work_dir, f"pass{self.passes}")
        db = f"perfbench_etl_{self.passes}"
        cfg = self._config(pass_dir, db)
        os.makedirs(cfg.source_path)
        expected = etl_gen.Expected()
        runs, src_bytes = [], 0
        try:
            for tick in self.ticks[:n_ticks]:
                fname = f"tick{tick.index:03d}.json"
                with open(os.path.join(cfg.source_path, fname), "wb") as fh:
                    fh.write(tick.payload)
                src_bytes += len(tick.payload)
                t0 = time.perf_counter()
                try:
                    with _op(tracer, pass_id, f"tick{tick.index}"):
                        with _layer(tracer, "pipeline.run_batch"):
                            res = pipeline.run_batch(spark, cfg)
                        t1 = time.perf_counter()
                except Exception as exc:  # a failed tick counts, the pass goes on
                    runs.append(OpRun(
                        f"tick{tick.index}", time.perf_counter() - t0,
                        tick.n_records, [f"tick{tick.index}: {exc!r}"[:500]],
                    ))
                    continue
                expected.add(tick, fname)
                archive = f"{cfg.source_path}_{cfg.archival_folder}"
                try:
                    observed = {
                        "rows": res.rows_written,
                        "partitions": show_partitions(spark, db, "iot_sink"),
                        "columns": res.merged_df.columns,
                        "archived": os.listdir(archive),
                    }
                    errors = etl_gen.check_sink(expected, observed)
                except Exception as exc:  # e.g. no table or archive dir
                    errors = [f"sink unreadable: {exc!r}"[:500]]
                errors = [f"tick{tick.index}: {e}" for e in errors]
                runs.append(OpRun(f"tick{tick.index}", t1 - t0, tick.n_records, errors))
            ratio = _dir_bytes(cfg.sink_path) / src_bytes
        finally:
            spark.sql(f"DROP DATABASE IF EXISTS `{db}` CASCADE")
            shutil.rmtree(pass_dir, ignore_errors=True)
        return runs, ratio

    def check_pass(self, spark) -> list[OpRun]:
        runs, _ = self._ticks(spark, TICKS, pass_id=0)
        return runs

    def run_pass(self, spark, pass_id: int, tracer=None) -> list[OpRun]:
        runs, ratio = self._ticks(spark, TICKS, pass_id, tracer)
        self.sink_ratios.append(ratio)
        return runs


def make(name: str, seed: int, work_dir: str):
    if name == "etl_ingest":
        return EtlWorkload(seed, work_dir)
    return GateWorkload(name, seed)
