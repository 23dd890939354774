"""Tests of the benchmark's own logic; none starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import etl_gen  # noqa: E402
import stats  # noqa: E402


# -- generator ----------------------------------------------------------

def test_generator_is_deterministic_per_seed():
    a = etl_gen.make_tick(7, 2, 300)
    b = etl_gen.make_tick(7, 2, 300)
    assert a.payload == b.payload
    assert (a.rows, a.partitions, a.drift_columns) == (b.rows, b.partitions, b.drift_columns)
    assert etl_gen.make_tick(8, 2, 300).payload != a.payload
    assert etl_gen.make_tick(7, 3, 300).payload != a.payload


def test_generator_expectation_matches_its_records():
    tick = etl_gen.make_tick(3, 2, 200)
    records = [json.loads(x) for x in tick.payload.decode().splitlines()]
    assert len(records) == tick.n_records == 200
    # explode_outer of readings, then of tags: empty or null -> 1 row
    rows = sum(
        max(1, len(r["readings"])) * max(1, len(r["tags"] or ()))
        for r in records
    )
    assert tick.rows == rows
    assert tick.partitions == {
        f"customerid={r['customerid']}/vehicle={r['vehicle']}"
        f"/category={r['category']}/year=2024/month=3"
        f"/day={(r['tts'] - etl_gen.EPOCH0) // etl_gen.DAY_S + 1}"
        for r in records
    }
    # every third tick drifts: one new nested field under diag
    assert tick.drift_columns == ("diagF2",)
    assert all("diag" in r for r in records)
    assert etl_gen.make_tick(3, 1, 50).drift_columns == ()


# -- correctness checks fail on tampered output --------------------------

def _exact(expected: etl_gen.Expected) -> dict:
    return {
        "rows": expected.rows,
        "partitions": sorted(expected.partitions),
        "columns": sorted(expected.columns),
        "archived": sorted(expected.archived),
    }


@pytest.fixture
def expected():
    exp = etl_gen.Expected()
    for t in range(3):
        exp.add(etl_gen.make_tick(5, t, 100), f"tick{t:03d}.json")
    return exp


def test_sink_check_passes_on_exact_output(expected):
    assert etl_gen.check_sink(expected, _exact(expected)) == []


def test_sink_check_fails_on_a_dropped_row(expected):
    observed = _exact(expected)
    observed["rows"] -= 1
    assert any(e.startswith("rows") for e in etl_gen.check_sink(expected, observed))


def test_sink_check_fails_on_a_missing_partition(expected):
    observed = _exact(expected)
    observed["partitions"] = observed["partitions"][1:]
    assert any(e.startswith("partitions") for e in etl_gen.check_sink(expected, observed))


def test_sink_check_fails_on_lost_drift_column_and_unarchived_file(expected):
    observed = _exact(expected)
    observed["columns"].remove("diagF2")
    observed["archived"] = observed["archived"][:-1]
    errors = etl_gen.check_sink(expected, observed)
    assert any(e.startswith("schema") for e in errors)
    assert any(e.startswith("archive") for e in errors)


class _FakeFrame:
    """Spark-free stand-in with what ``check_oracle.compare`` reads."""

    def __init__(self, columns, dtypes, rows):
        self.columns = columns
        self.dtypes = dtypes
        self._rows = rows

    def collect(self):
        return self._rows


@pytest.fixture(scope="module")
def gate_oracle():
    import __spark_entry__ as entry
    from oracle import CachedOracle
    from workloads import FIXTURE_DIR

    sql = entry.oracle_sql()["stream_windowed_counts"]
    oracle = CachedOracle(FIXTURE_DIR)
    res = oracle.sql(sql)
    assert oracle.misses == 0, "oracle cache is stale: python3 perfbench/oracle.py"
    dtypes = [("n_windows", "bigint"), ("matches_batch_twin", "boolean")]
    return sql, oracle, res, dtypes


def test_every_gate_has_its_fixtures_and_a_cached_oracle():
    import __spark_entry__ as entry
    from oracle import CachedOracle
    from workloads import FIXTURE_DIR, GATE_WORKLOADS

    sqls = entry.oracle_sql()
    oracle = CachedOracle(FIXTURE_DIR)
    for gates in GATE_WORKLOADS.values():
        for gate, tables in gates.items():
            for t in tables:
                assert os.path.isfile(os.path.join(FIXTURE_DIR, f"{t}.parquet"))
            oracle.sql(sqls[gate])
    assert oracle.misses == 0, "oracle cache is stale: python3 perfbench/oracle.py"


def test_gate_check_passes_on_oracle_rows(gate_oracle):
    from tools.check_oracle import compare

    sql, oracle, res, dtypes = gate_oracle
    frame = _FakeFrame(res.columns, dtypes, res.fetchall())
    assert compare("g", frame, sql, oracle).startswith("OK")


def test_gate_check_fails_on_a_dropped_row(gate_oracle):
    from tools.check_oracle import compare

    sql, oracle, res, dtypes = gate_oracle
    frame = _FakeFrame(res.columns, dtypes, res.fetchall()[:-1])
    assert compare("g", frame, sql, oracle).startswith("COUNT-MISMATCH")


def test_gate_check_fails_on_a_changed_value(gate_oracle):
    from tools.check_oracle import compare

    sql, oracle, res, dtypes = gate_oracle
    rows = [tuple(r) for r in res.fetchall()]
    rows[0] = (str(int(rows[0][0]) + 1),) + rows[0][1:]
    frame = _FakeFrame(res.columns, dtypes, rows)
    assert compare("g", frame, sql, oracle).startswith("VALUE-MISMATCH")


# -- result line -----------------------------------------------------------

@pytest.mark.parametrize("trace", [False, True])
def test_every_named_metric_is_printed_with_its_unit(trace):
    spec = stats.load_spec()
    group = spec["per_layer"] if trace else spec["end_to_end"]
    values = {m["name"]: 1.5 for m in group}
    out = json.loads(stats.result_line(spec, trace, values, True, 10, 0))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["metrics"] == {
        m["name"]: {"value": 1.5, "unit": m["unit"]} for m in group
    }


def test_missing_metric_is_an_error_not_a_partial_line():
    spec = stats.load_spec()
    values = {m["name"]: 1.0 for m in spec["end_to_end"][1:]}
    with pytest.raises(KeyError):
        stats.result_line(spec, False, values, True, 1, 0)


def test_end_to_end_contract_includes_setup():
    spec = stats.load_spec()
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in spec["end_to_end"])}]


# -- statistics --------------------------------------------------------------

def test_tail_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 41)]
    value, pct, n = stats.tail(xs)
    assert (value, pct, n) == (30.0, 75.0, 40)
    assert sum(x > value for x in xs) == 10


def test_tail_of_few_samples_is_the_maximum():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_heap_after_gc_peak_reads_the_largest_post_collection_size(tmp_path):
    import tracing

    log = tmp_path / "gc.log"
    log.write_text(
        "[0.010s][info][gc] Using G1\n"
        "[1.2s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause) 102M->12M(2048M) 5.1ms\n"
        "[3.4s][info][gc] GC(1) Pause Young (Concurrent Start) (G1 Humongous Allocation) 1G->300M(2048M) 9.0ms\n"
        "[3.5s][info][gc] GC(2) Pause Remark 310M->290M(2048M) 2.2ms\n"
    )
    assert tracing.heap_after_gc_peak_mb(str(log)) == 300.0
