"""Three-surface parity: for ANSI-portable queries, the SAME SQL
text that DuckDB verifies (oracle_sql) must also run unchanged on
spark.sql and match the DataFrame-API implementation — the ad-hoc
SQL surface (reference §3.2, Athena parity) is not a separate
dialect."""

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.plans.query import (
    run_sql,
)

SF_DIR = "/root/testdata/sf0.001"

# Oracle strings that are pure ANSI (no DuckDB list_* / string_split /
# datediff('day',...) forms) and therefore must parse on Spark too.
PORTABLE = [
    "q1_pricing_summary",
    "q4_late_orders",
    "q6_forecast_revenue",
    "q13_order_distribution",
    "q16_supplier_cnt",
    "q22_global_sales",
    "paged_orders",
    "agg_mode_bits",
    "stratified_sample_orders",
    "snapshot_diff_orders",
]


def canon(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in sorted(cols):
            v = r[c]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else f"{v:.8g}"
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


@pytest.mark.parametrize("name", PORTABLE)
def test_oracle_sql_runs_on_spark(spark, name):
    sql = entry.oracle_sql()[name]
    df_api = entry.queries()[name](spark, SF_DIR)
    df_sql = run_sql(spark, SF_DIR, sql)
    assert sorted(df_api.columns) == sorted(df_sql.columns)
    assert canon(df_api.collect(), df_api.columns) == canon(
        df_sql.collect(), df_sql.columns
    )


def test_every_query_has_an_oracle():
    """The contract the module docstring claims: full oracle
    coverage, no rows-only fallbacks, no orphan oracles."""
    qs, os_ = entry.queries(), entry.oracle_sql()
    assert set(qs) == set(os_)
    assert len(qs) == len(os_)


def test_queries_order_is_gate_order_json():
    """queries() iteration order IS tools/gate_order.json (the
    mechanical stalest/changed-first window from gate_deps.py
    --write), not a hand-curated sequence — the r06/r07 verdicts'
    top task. Every registry gate must appear in the checked-in
    order file, so adding a gate without regenerating the file
    fails here."""
    import json

    path = os.path.join(os.path.dirname(entry.__file__),
                        "tools", "gate_order.json")
    order = json.load(open(path))["order"]
    names = list(entry.queries())
    assert names == [g for g in order if g in set(names)]
    missing = set(names) - set(order)
    assert not missing, (
        f"gates missing from gate_order.json (run "
        f"`python tools/gate_deps.py --write`): {sorted(missing)}"
    )


def test_gate_deps_reads_the_gate_table():
    """tools/gate_deps.py maps gates to code by parsing the GATES table;
    an empty or partial parse would make `--write` emit a short order."""
    sys.path.insert(0, os.path.join(os.path.dirname(entry.__file__), "tools"))
    import gate_deps

    with open(entry.__file__) as fh:
        cur = gate_deps._EntryAnalysis(fh.read())
    assert set(cur.oracle_const) == set(entry.queries())
    oracles = entry.oracle_sql()
    for gate, const in cur.oracle_const.items():
        assert getattr(entry, const) == oracles[gate], gate
        assert gate in cur.defs, gate
