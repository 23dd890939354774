"""Driver contract: entry() smoke, queries() inventory, oracle_sql().

Each query has a Spark implementation (DataFrame/SQL, Catalyst-
optimized) and a matching ANSI-SQL oracle runnable by DuckDB over the
same parquet tables. Conventions that make the value-hash comparison
robust:

* Money sums aggregate ``CAST(x AS DECIMAL(18,4))`` then cast the
  result to double — exact, order-independent, identical in both
  engines. Per-row double arithmetic (multiplication etc.) is IEEE-
  identical everywhere.
* Every computed column is aliased identically on both sides.
* Ranking ties always break on a unique key column.

Algorithm-specific results (LSH/IVF/RP/SQ top-k, pack assignments,
streaming state) are gated through engine-recomputable CONTRACTS —
recall vs the exact answer, invariant flags, batch twins — so EVERY
queries() entry carries a full DuckDB oracle (len(queries()) ==
len(oracle_sql()), pinned by tests); none fall back to the driver's
weaker rows-only check.

A gate is declared once, as one row of the ``GATES`` table at the end
of this module: ``Gate(plan, oracle, bench=True)``, keyed by the plan
function's name. ``queries()``, ``oracle_sql()`` and the set of gates
``bench.py`` times are all read from that table.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    dedup as D,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    similarity as S,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    decontam as DC,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    mixing as MX,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    packing as P_pack,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    governance as GV,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    signatures as G,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    text as X,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    bloom as BL,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    search as SR,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    spans as SP,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    scoring as SC,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    lm as LM,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    sketch as SK,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    dsir as DS,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    drift as DR,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    projection as PJ,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    bpe as BP,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    graph as GR,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.functions.frames import (
    local_frame,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.flatten import (
    flatten,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.streaming import (
    ingest as SI,
)

SF001 = "/root/testdata/sf0.001"


_TABLE_CACHE: dict[tuple[int, str, str], tuple[SparkSession, DataFrame]] = {}


def _evict_stale_sessions(cache: dict, spark: SparkSession) -> None:
    """Drop cache entries whose owning SparkSession's context has
    STOPPED, so dead session graphs and their persisted frames can be
    garbage collected (a process cycling stop()/getOrCreate must not
    pin every generation). Entries of other LIVE sessions — e.g.
    ``newSession()`` siblings sharing the running context — are kept:
    evicting them would thrash rebuilds without freeing anything.
    Cache values are (session, payload) pairs so liveness can be
    checked per entry."""

    def stopped(sess: SparkSession) -> bool:
        try:
            return sess.sparkContext._jsc.sc().isStopped()
        except Exception:
            return True

    for key in [k for k, (sess, _) in cache.items() if stopped(sess)]:
        del cache[key]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table reader with a per-session DataFrame cache: DataFrames
    are immutable plans, so reusing one skips the file listing and
    footer read every query construction would otherwise repeat
    (~30-80 ms each; the inventory reads the same 10 tables
    hundreds of times across a bench run)."""
    _evict_stale_sessions(_TABLE_CACHE, spark)
    key = (id(spark), sf_dir, name)
    entry_ = _TABLE_CACHE.get(key)
    if entry_ is None:
        entry_ = (spark, spark.read.parquet(f"{sf_dir}/{name}.parquet"))
        _TABLE_CACHE[key] = entry_
    return entry_[1]


def _session_cached(
    cache: dict, spark: SparkSession, sf_dir: str, build
):
    """Shared build-once-per-(session, sf) memo for persisted frames
    (signatures, verified pair set, exact top-k). ``build`` may
    return one DataFrame or a tuple of them — every frame of a tuple
    payload is persisted (the tf/meta/df index triple)."""
    _evict_stale_sessions(cache, spark)
    key = (id(spark), sf_dir)
    entry_ = cache.get(key)
    if entry_ is None:
        built = build()
        payload = (
            tuple(f.persist() for f in built)
            if isinstance(built, tuple)
            else built.persist()
        )
        entry_ = (spark, payload)
        cache[key] = entry_
    return entry_[1]


def _events_ts_norm(e: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to a plain timestamp —
    shared by the batch reader and the streaming gate so both twins
    see identical values."""
    ts_type = dict(e.dtypes)["ts"]
    if ts_type == "bigint":
        e = e.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Spark 4 reads tz-less parquet timestamp[us] as TIMESTAMP_NTZ,
        # which unix_micros/window rejects. Session tz is UTC, so the
        # cast is value-preserving and keeps DuckDB parity.
        e = e.withColumn("ts", F.col("ts").cast("timestamp"))
    return e


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet stores ns timestamps, which Spark's parquet
    reader rejects; read them as longs and convert to µs timestamps
    (truncation — matching DuckDB's CAST(ts_ns AS TIMESTAMP))."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _events_ts_norm(_t(spark, sf_dir, "events"))


_SIG_CACHE: dict[tuple[int, str], tuple[SparkSession, DataFrame]] = {}


def _doc_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared persisted sketch-signature frame for the documents
    table (minhash bands + simhash + winnow in ONE Arrow pass — see
    operators/signatures.py). The sketch-dedup gates each need 1-2 of
    the three sketch families; without sharing, a bench run pays the
    same corpus scan + Python pass up to 6×. ~41 longs/doc — far
    smaller than the corpus — and released with the session."""
    return _session_cached(
        _SIG_CACHE,
        spark,
        sf_dir,
        lambda: G.combined_signatures(
            _t(spark, sf_dir, "documents"),
            n=3, num_hashes=64, bands=32, k=16, window=8,
        ),
    )


_TERM_INDEX_CACHE: dict = {}


def _term_index(spark: SparkSession, sf_dir: str):
    """Shared persisted BM25/TF-IDF index triple (tf, meta, df) for
    the documents table — the retrieval-family analogue of
    ``_doc_sigs`` (r10 verdict task #5): bm25 / PRF / RRF's lexical
    arm / MMR's candidate arm / tfidf each need the same corpus
    explode + two aggregates, and without sharing a bench run pays
    that build 5×. The triple is O(tokens) + O(vocab) + 1 row —
    the persistable "index" the operator docstrings describe; at
    100 TB this frame is what gets written partitioned by term.
    Kernels consume the triple unchanged via their ``index=``
    parameter, so results are bit-identical to the inline build
    (pinned in tests/test_spans_bloom_search.py)."""
    return _session_cached(
        _TERM_INDEX_CACHE,
        spark,
        sf_dir,
        lambda: SR.term_index(_t(spark, sf_dir, "documents")),
    )


def _dec(col):
    return (col if not isinstance(col, str) else F.col(col)).cast("decimal(18,4)")


def _dsum(col, alias: str):
    return F.sum(_dec(col)).cast("double").alias(alias)


# SQL-side helper strings
def _sql_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,4))) AS DOUBLE) AS {alias}"


# ----------------------------------------------------------------- core


def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan-filter → hash aggregate (map-side
    partials), 4 decimal sums + derived averages."""
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1999-12-01").cast("timestamp")
    )
    # Decimal-typed FACTORS, then exact decimal multiplication: casting
    # the 3-factor double product to decimal rounds ties at the 4th
    # decimal differently in Spark (HALF_UP) vs DuckDB. Casting each
    # narrow factor first is tie-free, and decimal x decimal is exact
    # and engine-independent: (18,4)x(6,4)->(25,8), x(6,4)->(32,12).
    # Each exact product is ROUNDed to scale 4 per row — ROUND on
    # decimal is half-away-from-zero in BOTH engines and reduces the
    # result type's scale (Spark's decimal->decimal CAST is HALF_UP but
    # DuckDB's TRUNCATES, so CAST must never rescale) — then summed at
    # scale 4, where the unscaled value stays < 2^53 and the final
    # double cast is one exact-int conversion + one correctly-rounded
    # division on both engines.
    one = F.lit(1).cast("decimal(5,4)")
    ep = _dec("l_extendedprice")
    disc_price = F.round(
        ep * (one - F.col("l_discount").cast("decimal(5,4)")), 4
    )
    charge = F.round(
        ep
        * (one - F.col("l_discount").cast("decimal(5,4)"))
        * (one + F.col("l_tax").cast("decimal(5,4)")),
        4,
    )
    out = l.groupBy("l_returnflag", "l_linestatus").agg(
        _dsum("l_quantity", "sum_qty"),
        _dsum("l_extendedprice", "sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        F.count("*").alias("count_order"),
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        F.round(F.col("sum_qty") / F.col("count_order"), 6).alias("avg_qty"),
        F.round(F.col("sum_base_price") / F.col("count_order"), 6).alias("avg_price"),
        "count_order",
    )


Q1_SQL = f"""
WITH agg AS (
  SELECT l_returnflag, l_linestatus,
         {_sql_dsum('l_quantity', 'sum_qty')},
         {_sql_dsum('l_extendedprice', 'sum_base_price')},
         CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(5,4))),
                        4)) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(5,4)))
                        * (CAST(1 AS DECIMAL(5,4)) + CAST(l_tax AS DECIMAL(5,4))),
                        4)) AS DOUBLE) AS sum_charge,
         COUNT(*) AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1999-12-01 00:00:00'
  GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price,
       sum_charge,
       ROUND(sum_qty / count_order, 6) AS avg_qty,
       ROUND(sum_base_price / count_order, 6) AS avg_price,
       count_order
FROM agg
"""


def q3_shipping_priority(spark, sf_dir):
    """3-way join → agg → top-10. No broadcast hint on customer: it
    grows with SF, so AQE picks broadcast-vs-shuffle from runtime
    stats."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


Q3_SQL = f"""
SELECT o_orderkey, o_orderdate, o_orderpriority,
       {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q5_region_revenue(spark, sf_dir):
    """5-way star join: constant-size dims (nation/region) broadcast
    by hint; SF-proportional tables join via AQE-chosen strategy."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(c.c_nationkey == s.s_nationkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


Q5_SQL = f"""
SELECT r_name, n_name,
       {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q6_forecast_revenue(spark, sf_dir):
    """Pure scan-filter-agg: every predicate pushes to parquet."""
    l = _t(spark, sf_dir, "lineitem")
    return l.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.03, 0.07))
        & (F.col("l_quantity") < 25)
    ).agg(
        _dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count("*").alias("n_items"),
    )


Q6_SQL = f"""
SELECT {_sql_dsum('l_extendedprice * l_discount', 'revenue')},
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 25
"""


def q4_late_orders(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS semi-join + count per priority (late =
    some line shipped after 60 days past order date)."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    joined = o.join(
        l.select("l_orderkey", "l_shipdate"),
        (o.o_orderkey == l.l_orderkey)
        & (l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_late_orders")
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_late_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


def q10_returned_revenue(spark, sf_dir):
    """TPC-H Q10 shape: returned-item revenue per customer, top-20."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, n_name,
       {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q14_promo_share(spark, sf_dir):
    """TPC-H Q14 shape: conditional-aggregate ratio over a join."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = l.join(p, l.l_partkey == p.p_partkey)
    rev = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0).cast("decimal(18,4)"))
    return j.agg(
        F.round(
            (F.sum(promo) * 100 / F.sum(rev)).cast("double"), 6
        ).alias("promo_share_pct"),
        F.count("*").alias("n_lines"),
    )


Q14_SQL = """
SELECT ROUND(CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) * 100
       / SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
       AS DOUBLE), 6) AS promo_share_pct,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
"""


def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: group-by HAVING threshold then rejoin."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.round("total_qty", 4).alias("total_qty"),
        )
    )


Q18_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice,
       ROUND(total_qty, 4) AS total_qty
FROM orders
JOIN (SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 150) big
  ON o_orderkey = big.l_orderkey
"""


# ------------------------------------------------------- join family


def join_anti_customers(spark, sf_dir):
    """left_anti = NOT EXISTS."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


JOIN_ANTI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def join_semi_suppliers(spark, sf_dir):
    """left_semi = EXISTS, with a pushed filter on the probe side."""
    s = _t(spark, sf_dir, "supplier")
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return s.join(l, s.s_suppkey == l.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


JOIN_SEMI_SQL = """
SELECT s_suppkey, s_name FROM supplier
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity >= 49)
"""


def join_outer_order_counts(spark, sf_dir):
    """Left outer join preserving customers with zero orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            _dsum("o_totalprice", "total_spend"),
        )
    )


JOIN_OUTER_SQL = f"""
SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
       {_sql_dsum('o_totalprice', 'total_spend')}
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
"""


# -------------------------------------------------------- aggregation


def agg_distinct_per_flag(spark, sf_dir):
    """countDistinct + sum per group (hash agg with distinct expand)."""
    l = _t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count("*").alias("n_rows"),
    )


AGG_DISTINCT_SQL = """
SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


def rollup_orders(spark, sf_dir):
    """ROLLUP: hierarchical subtotals per status -> grand total."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn("order_year", F.year("o_orderdate"))
        .rollup("order_year", "o_orderstatus")
        .agg(_dsum("o_totalprice", "total_price"), F.count("*").alias("n_orders"))
    )


ROLLUP_SQL = f"""
SELECT CAST(YEAR(o_orderdate) AS INT) AS order_year, o_orderstatus,
       {_sql_dsum('o_totalprice', 'total_price')}, COUNT(*) AS n_orders
FROM orders
GROUP BY ROLLUP (CAST(YEAR(o_orderdate) AS INT), o_orderstatus)
"""


def cube_lineitem(spark, sf_dir):
    """CUBE over two dims: all grouping-set combinations + totals."""
    l = _t(spark, sf_dir, "lineitem")
    return l.cube("l_returnflag", "l_linestatus").agg(
        _dsum("l_quantity", "sum_qty"), F.count("*").alias("n_rows")
    )


CUBE_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {_sql_dsum('l_quantity', 'sum_qty')}, COUNT(*) AS n_rows
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def conditional_agg_priorities(spark, sf_dir):
    """Manual pivot: conditional aggregation per status."""
    o = _t(spark, sf_dir, "orders")
    urgent = F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
    high = F.when(F.col("o_orderpriority") == "2-HIGH", 1).otherwise(0)
    return o.groupBy("o_orderstatus").agg(
        F.sum(urgent).alias("n_urgent"),
        F.sum(high).alias("n_high"),
        F.count("*").alias("n_total"),
    )


COND_AGG_SQL = """
SELECT o_orderstatus,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
       CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       COUNT(*) AS n_total
FROM orders GROUP BY o_orderstatus
"""


# ------------------------------------------------------------ windows


def window_rank_customers(spark, sf_dir):
    """Top-3 customers per nation by balance (rank window)."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        c.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("c_nationkey", "c_custkey", "c_acctbal", "rnk")
    )


WINDOW_RANK_SQL = """
SELECT c_nationkey, c_custkey, c_acctbal, CAST(rnk AS INT) AS rnk FROM (
  SELECT c_nationkey, c_custkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey) AS rnk
  FROM customer
) WHERE rnk <= 3
"""


def window_running_spend(spark, sf_dir):
    """Running total + lag per customer over order history."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec("o_totalprice"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("running_spend"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
    )


WINDOW_RUNNING_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_spend,
       LAG(o_totalprice) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS prev_price
FROM orders
"""


# -------------------------------------------------- sort / limit / set


def topk_orders(spark, sf_dir):
    """Global top-k → TakeOrderedAndProject (no full sort)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


TOPK_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def setops_customers(spark, sf_dir):
    """UNION / EXCEPT composition on key sets."""
    c = _t(spark, sf_dir, "customer")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    negative = c.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return building.union(rich).subtract(negative)


SETOPS_SQL = """
SELECT DISTINCT c_custkey FROM (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  UNION ALL
  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
) EXCEPT
SELECT c_custkey FROM customer WHERE c_acctbal < 0
"""


def unpivot_lineitem_measures(spark, sf_dir):
    """Unpivot (melt): wide measure columns -> (measure, value) rows."""
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    return l.select("l_orderkey", "l_quantity", "l_extendedprice", "l_tax").unpivot(
        ["l_orderkey"],
        ["l_quantity", "l_extendedprice", "l_tax"],
        "measure",
        "value",
    )


UNPIVOT_SQL = """
SELECT l_orderkey, 'l_quantity' AS measure, l_quantity AS value
FROM lineitem WHERE l_linenumber = 1
UNION ALL
SELECT l_orderkey, 'l_extendedprice', l_extendedprice
FROM lineitem WHERE l_linenumber = 1
UNION ALL
SELECT l_orderkey, 'l_tax', l_tax FROM lineitem WHERE l_linenumber = 1
"""


def setops_intersect_except(spark, sf_dir):
    """INTERSECT and EXCEPT ALL composition."""
    c = _t(spark, sf_dir, "customer")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    rich = c.filter(F.col("c_acctbal") > 5000).select("c_nationkey")
    inter = building.intersect(rich).withColumn("src", F.lit("both"))
    diff = building.exceptAll(rich).withColumn("src", F.lit("only_building"))
    return inter.union(diff)


INTERSECT_SQL = """
SELECT c_nationkey, 'both' AS src FROM (
  SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
  INTERSECT
  SELECT c_nationkey FROM customer WHERE c_acctbal > 5000)
UNION ALL
SELECT c_nationkey, 'only_building' AS src FROM (
  SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
  EXCEPT ALL
  SELECT c_nationkey FROM customer WHERE c_acctbal > 5000)
"""


def join_null_safe_segments(spark, sf_dir):
    """Null-safe equality join (<=>): match rows where a nullable
    derived key equals, treating NULL = NULL as true."""
    c = _t(spark, sf_dir, "customer")
    seg = F.when(F.col("c_acctbal") < 0, None).otherwise(F.col("c_mktsegment"))
    left = c.select("c_custkey", seg.alias("seg"))
    seg_counts = (
        left.groupBy("seg")
        .agg(F.count("*").alias("n_in_seg"))
        .withColumnRenamed("seg", "seg_r")
    )
    return left.join(
        seg_counts, F.col("seg").eqNullSafe(F.col("seg_r"))
    ).select("c_custkey", "seg", "n_in_seg")


NULL_SAFE_SQL = """
WITH lft AS (
  SELECT c_custkey,
         CASE WHEN c_acctbal < 0 THEN NULL ELSE c_mktsegment END AS seg
  FROM customer),
cnt AS (SELECT seg, COUNT(*) AS n_in_seg FROM lft GROUP BY seg)
SELECT l.c_custkey, l.seg, c.n_in_seg
FROM lft l JOIN cnt c ON l.seg IS NOT DISTINCT FROM c.seg
"""


def agg_minby_maxby(spark, sf_dir):
    """min_by / max_by argument aggregates per group — with a
    DETERMINISTIC tie-break (smallest o_orderkey) via a struct
    ordering key. A bare max_by("k", "price") picks an ARBITRARY
    argmax when two rows share the extremal price; the driver
    fixtures happen to have near-unique doubles, but the 10×
    union-scale parity sweep (r11) manufactured exact ties and the
    two engines diverged — the struct key (price, -key) / (price,
    key) makes the answer a function of the data at any scale."""
    o = _t(spark, sf_dir, "orders")
    # Leading null-flag field: a bare min_by/max_by SKIPS rows whose
    # ordering expression is NULL, but a struct ordering key is never
    # NULL as a whole and its NULL price FIELD sorts first ascending —
    # which would hand cheapest_order to a NULL-price row. The flag
    # pushes NULL prices last for MIN and first-but-losing for MAX on
    # both engines (oracle: explicit NULLS LAST), restoring the
    # ignores-NULL argmax semantics while keeping the deterministic
    # key tie-break.
    return o.groupBy("o_orderstatus").agg(
        F.max_by(
            "o_orderkey",
            F.struct(
                F.col("o_totalprice").isNotNull().alias("nn"),
                F.col("o_totalprice").alias("p"),
                (-F.col("o_orderkey")).alias("nk"),
            ),
        ).alias("priciest_order"),
        F.min_by(
            "o_orderkey",
            F.struct(
                F.col("o_totalprice").isNull().alias("isn"),
                F.col("o_totalprice").alias("p"),
                F.col("o_orderkey").alias("k"),
            ),
        ).alias("cheapest_order"),
        F.max("o_totalprice").alias("max_price"),
    )


MINBY_SQL = """
WITH ranked AS (
  SELECT o_orderstatus, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                            ORDER BY o_totalprice DESC NULLS LAST,
                                     o_orderkey ASC)
           AS rmax,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                            ORDER BY o_totalprice ASC NULLS LAST,
                                     o_orderkey ASC)
           AS rmin
  FROM orders)
SELECT o_orderstatus,
       MAX(CASE WHEN rmax = 1 THEN o_orderkey END) AS priciest_order,
       MAX(CASE WHEN rmin = 1 THEN o_orderkey END) AS cheapest_order,
       MAX(o_totalprice) AS max_price
FROM ranked GROUP BY o_orderstatus
"""


# ----------------------------------------------------- scalar families


def string_funcs_parts(spark, sf_dir):
    """String scalar family (G7): substring/instr/replace/concat/
    split/upper over part names."""
    p = _t(spark, sf_dir, "part")
    return p.filter(F.col("p_type").like("%STANDARD%")).select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.substring("p_name", 1, 8).alias("name8"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("name_novowel"),
        F.instr("p_type", "STANDARD").alias("std_pos"),
    )


STRING_SQL = """
SELECT p_partkey, UPPER(p_brand) AS brand_u, SUBSTRING(p_name, 1, 8) AS name8,
       CAST(LENGTH(p_name) AS INT) AS name_len,
       CONCAT_WS('|', p_brand, p_type) AS brand_type,
       REGEXP_REPLACE(p_name, '[aeiou]', '', 'g') AS name_novowel,
       CAST(POSITION('STANDARD' IN p_type) AS INT) AS std_pos
FROM part WHERE p_type LIKE '%STANDARD%'
"""


def date_funcs_orders(spark, sf_dir):
    """Date scalar family (G1-G4): year/month/day/date_format/
    datediff/add_months over order dates."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(
            F.lit("2002-01-01").cast("date"), F.to_date("o_orderdate")
        ).alias("days_before_2002"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    )


DATE_SQL = """
SELECT o_orderkey, CAST(YEAR(o_orderdate) AS INT) AS order_year,
       CAST(MONTH(o_orderdate) AS INT) AS order_month,
       CAST(DAY(o_orderdate) AS INT) AS order_day,
       CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
       CAST(DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
            AS INT) AS days_before_2002,
       STRFTIME(o_orderdate, '%Y-%m') AS ym
FROM orders
"""


def json_extract_events(spark, sf_dir):
    """JSON prop extraction (M5) + aggregate."""
    e = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


JSON_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------- time series


def events_tumbling_window(spark, sf_dir):
    """Tumbling 1-hour window aggregation (batch form of the
    streaming operator)."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), _dsum("value", "sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


TUMBLING_SQL = f"""
SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
       COUNT(*) AS n_events, {_sql_dsum('value', 'sum_value')}
FROM events GROUP BY 1, 2
"""


def events_hopping_window(spark, sf_dir):
    """Hopping (sliding) window aggregation: 1-hour windows every
    30 minutes, so each event lands in 2 overlapping windows —
    ``F.window(ts, dur, slide)``'s multi-assign semantics, the
    batch twin of the streaming sliding aggregation. The oracle
    reproduces the assignment by unnesting each event onto its
    ⌈dur/slide⌉ covering window starts."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n_events"), _dsum("value", "sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


HOPPING_SQL = f"""
WITH assigned AS (
  SELECT unnest([time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)),
                 time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
                   - INTERVAL '30 minutes']) AS window_start,
         event_type, value
  FROM events)
SELECT window_start, event_type, COUNT(*) AS n_events,
       {_sql_dsum('value', 'sum_value')}
FROM assigned GROUP BY 1, 2
"""


_STREAM_GATE_SEQ = iter(range(1, 1 << 30))


def _events_stream(spark, sf_dir):
    """Streaming twin of _events: the same events table as a
    file-stream source, ts-normalized identically — shared by every
    streaming gate so ingestion fixes land once. Two source layouts:
    the driver fixtures are a single FILE named events.parquet (the
    file source requires a directory, hence sf_dir + glob), while the
    at-scale replica fixtures (tools/gen_scaled_fixtures.py) are a
    DIRECTORY of one part-file per time-shifted replica — read with
    maxFilesPerTrigger=1 so the drain is N monotonically-advancing
    micro-batches (real watermark advancement and state eviction, the
    posture a 100 TB backlog replay would exercise), not one giant
    batch. The os.path.isdir dispatch assumes LOCAL fixture paths —
    the contract of every driver/test sf_dir in this harness; a
    remote-scheme sf_dir would take the single-file branch
    unchanged (pre-r12 behavior)."""
    import os

    raw_schema = _t(spark, sf_dir, "events").schema
    path = f"{sf_dir}/events.parquet"
    if os.path.isdir(path):
        reader = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )
    else:
        reader = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return _events_ts_norm(reader)


def stream_windowed_counts(spark, sf_dir):
    """Structured Streaming gate with a batch oracle (K family,
    streaming/ingest.py windowed_event_counts): the SAME 1-hour
    tumbling-window + 30-min-watermark plan runs twice — as an
    AvailableNow stream over events.parquet drained into a memory
    sink (complete mode, so the final watermark holds nothing back)
    and as its batch twin — then a null-safe full-outer compare emits
    (n_windows, matches_batch_twin). DuckDB recomputes n_windows from
    the batch-twin SQL and pins the flag TRUE, which makes the
    streaming runtime itself driver-verified rather than pytest-only.
    """
    batch = _events(spark, sf_dir)  # also sets the nanosAsLong conf
    stream = _events_stream(spark, sf_dir)
    name = f"stream_wc_gate_{next(_STREAM_GATE_SEQ)}"
    streamed = SI.run_to_memory(
        SI.windowed_event_counts(stream, window_duration="1 hour"),
        name,
        shuffle_partitions=8,
    )
    twin = SI.windowed_event_counts(batch, window_duration="1 hour")
    s, b = streamed.alias("s"), twin.alias("b")
    joined = s.join(b, ["window_start", "event_type"], "full_outer")
    row_ok = F.col("s.n_events").eqNullSafe(F.col("b.n_events")) & (
        F.abs(F.coalesce(F.col("s.sum_value"), F.lit(0.0))
              - F.coalesce(F.col("b.sum_value"), F.lit(0.0)))
        <= F.lit(1e-6)
        * F.greatest(F.lit(1.0), F.abs(F.coalesce(F.col("b.sum_value"), F.lit(0.0))))
    )
    return joined.agg(
        F.count("*").alias("n_windows"),
        F.coalesce(
            F.min(F.when(row_ok, 1).otherwise(0)) == 1, F.lit(True)
        ).alias("matches_batch_twin"),
    )


STREAM_WC_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_windows, TRUE AS matches_batch_twin
FROM (
  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS ws,
         event_type
  FROM events GROUP BY 1, 2)
"""


_TOKEN_BUDGETS = {"en": 5000, "fr": 2000, "zh": 1500}


def token_budget_mix_docs(spark, sf_dir):
    """Token-budget corpus mixing (operators/mixing.py
    token_budget_sample): take docs per language in deterministic
    hash-rank order until the running token total fills each
    budget (overshoot ≤ one doc — the unbiased-prefix convention).
    Training mixes are specified in tokens, not documents."""
    d = _t(spark, sf_dir, "documents")
    return MX.token_budget_sample(d, _TOKEN_BUDGETS)


def stream_dedup_counts(spark, sf_dir):
    """Second driver-verified streaming gate (K family): streaming
    exact dedup with bounded state
    (streaming/ingest.py dedup_within_watermark,
    dropDuplicatesWithinWatermark) drained through an AvailableNow
    memory sink, compared against the batch distinct twin. In a
    single AvailableNow pass every row is in-horizon, so streaming
    dedup ≡ batch distinct exactly; DuckDB recomputes the per-type
    distinct counts and pins the match flag."""
    batch = _events(spark, sf_dir)
    stream = _events_stream(spark, sf_dir)
    keys = ["user_id", "event_type", "ts"]
    name = f"stream_dd_gate_{next(_STREAM_GATE_SEQ)}"
    streamed = SI.run_to_memory(
        SI.dedup_within_watermark(stream, keys=keys),
        name,
        output_mode="append",
        shuffle_partitions=8,
    )
    s = streamed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_s")
    )
    b = (
        batch.dropDuplicates(keys)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    joined = s.join(b, ["event_type"], "full_outer")
    return joined.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("n_b").cast("bigint").alias("n_distinct_rows"),
        F.coalesce(
            F.min(
                F.when(
                    F.col("n_s").eqNullSafe(F.col("n_b")), 1
                ).otherwise(0)
            )
            == 1,
            F.lit(True),
        ).alias("matches_batch_twin"),
    )


STREAM_DD_SQL = """
SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_rows,
       TRUE AS matches_batch_twin
FROM (SELECT DISTINCT user_id, event_type, ts FROM events)
"""


def stream_sessionize_counts(spark, sf_dir):
    """Third driver-verified streaming gate (K family): the CUSTOM
    stateful operator — applyInPandasWithState sessionization with a
    30-min inactivity gap, state carried across micro-batches
    (streaming/ingest.py sessionize_stateful) — drained through an
    AvailableNow memory sink in update mode. The final state per
    user (n_events is strictly monotone, so max-row = final) must
    equal the batch gaps-and-islands twin; DuckDB recomputes the
    twin and pins the match flag, making the custom stateful path
    driver-verified rather than pytest-only."""
    batch = _events(spark, sf_dir)
    stream = _events_stream(spark, sf_dir)
    name = f"stream_sess_gate_{next(_STREAM_GATE_SEQ)}"
    streamed = SI.run_to_memory(
        SI.sessionize_stateful(stream, gap_s=1800),
        name,
        output_mode="update",
        shuffle_partitions=8,
    )
    wlast = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    s = (
        streamed.withColumn("_rn", F.row_number().over(wlast))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            F.col("n_sessions").alias("s_sessions"),
            F.col("n_events").alias("s_events"),
        )
    )
    wb = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wb))
    b = (
        batch.withColumn(
            "new_s",
            F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0),
        )
        .groupBy("user_id")
        .agg(
            F.sum("new_s").alias("b_sessions"),
            F.count("*").alias("b_events"),
        )
    )
    joined = s.join(b, ["user_id"], "full_outer")
    ok = F.col("s_sessions").eqNullSafe(F.col("b_sessions")) & F.col(
        "s_events"
    ).eqNullSafe(F.col("b_events"))
    return joined.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("b_sessions").cast("bigint").alias("total_sessions"),
        F.coalesce(
            F.min(F.when(ok, 1).otherwise(0)) == 1, F.lit(True)
        ).alias("matches_batch_twin"),
    )


STREAM_SESS_SQL = """
WITH flagged AS (
  SELECT user_id,
         CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(LAG(CAST(ts AS TIMESTAMP)) OVER
                (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
)
SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(new_s) AS BIGINT) AS total_sessions,
       TRUE AS matches_batch_twin
FROM flagged
"""


def stream_interval_join_counts(spark, sf_dir):
    """Fourth driver-verified streaming gate: watermarked
    stream-stream interval join (streaming/ingest.py
    stream_stream_interval_join — both sides time-bounded so state
    is evictable) drained AvailableNow: each CLICK picks up the
    VIEWs of the same user within the next 12 hours (the
    attribution-join shape — the window is sized so the pair set is
    non-vacuous at EVERY fixture SF: 37 pairs at sf0.001, 465 at the
    driver's sf0.01, 4291 at sf0.1, so a broken join cannot hide
    behind 0 == 0; the type filters also bound the state
    the store carries — joining the full event firehose against
    itself is state-store work proportional to (|L|+|R|) inserts,
    which the filters cut ~5× with identical semantics coverage).
    In a single finite pass the inner join finds every pair, so
    streaming ≡ the batch self-join twin; DuckDB recomputes the
    pair count and pins the flag."""
    batch = _events(spark, sf_dir)
    stream = _events_stream(spark, sf_dir)
    name = f"stream_ij_gate_{next(_STREAM_GATE_SEQ)}"
    clicks = stream.filter(F.col("event_type") == "click")
    views = stream.filter(F.col("event_type") == "view")
    streamed = SI.run_to_memory(
        # watermark must cover the join window or multi-batch runs
        # could evict buffered rows before their matches arrive
        SI.stream_stream_interval_join(
            clicks, views, max_gap="12 hours", watermark="13 hours"
        ),
        name,
        output_mode="append",
        # 4, not the family's 8 (r13 optimization round): a
        # stream-stream join carries FOUR state stores per partition,
        # so its fixed per-batch commit fan-out is 4x every other
        # gate's — halving the partition count halves that to 16
        # commits/batch and measured 3.3 s -> 2.45 s warm same-session
        # at sf0.1 (2 partitions was no better than 4; the
        # single-store gates showed no consistent win and keep 8).
        # Same sizing contract as the r12 right-sizing: state volume
        # per partition stays trivial at the fixture SFs.
        shuffle_partitions=4,
    )
    s = streamed.agg(F.count(F.lit(1)).alias("n_s"))
    b = (
        batch.filter(F.col("event_type") == "click")
        .alias("l")
        .join(
            batch.filter(F.col("event_type") == "view").alias("r"),
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") >= F.col("l.ts"))
            & (
                F.col("r.ts")
                <= F.col("l.ts") + F.expr("INTERVAL 12 hours")
            )
            & (F.col("l.event_id") != F.col("r.event_id")),
        )
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    return s.crossJoin(b).select(
        F.col("n_b").cast("bigint").alias("n_pairs"),
        (F.col("n_s") == F.col("n_b")).alias("matches_batch_twin"),
    )


STREAM_IJ_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, TRUE AS matches_batch_twin
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND l.event_type = 'click' AND r.event_type = 'view'
 AND CAST(r.ts AS TIMESTAMP) >= CAST(l.ts AS TIMESTAMP)
 AND CAST(r.ts AS TIMESTAMP)
     <= CAST(l.ts AS TIMESTAMP) + INTERVAL 12 HOUR
 AND l.event_id != r.event_id
"""


def stream_enrich_counts(spark, sf_dir):
    """Fifth driver-verified streaming gate: stream-static
    enrichment (streaming/ingest.py stream_static_enrich) — the
    event stream decorated with the customer dimension (stateless,
    broadcast when small; the static side re-reads per micro-batch,
    which IS the slowly-changing-dim refresh semantics), then
    per-segment counts, compared against the batch twin."""
    batch = _events(spark, sf_dir)
    stream = _events_stream(spark, sf_dir)
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    name = f"stream_en_gate_{next(_STREAM_GATE_SEQ)}"
    enriched = SI.stream_static_enrich(stream, dim).groupBy(
        "segment"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    streamed = SI.run_to_memory(
        enriched, name, output_mode="complete", shuffle_partitions=8
    )
    b = (
        SI.stream_static_enrich(batch, dim)
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    # unmatched users aggregate under segment=NULL; a plain join key
    # never matches NULL against NULL, which would double-count that
    # group and flip the flag on CORRECT code — coalesce the key so
    # the NULL groups pair up (mirrors the oracle's COALESCE)
    nk = lambda c: F.coalesce(c, F.lit("<null>"))  # noqa: E731
    joined = streamed.withColumn("segment", nk(F.col("segment"))).join(
        b.withColumn("segment", nk(F.col("segment"))),
        ["segment"],
        "full_outer",
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("n_b").cast("bigint").alias("n_events_total"),
        F.coalesce(
            F.min(
                F.when(
                    F.col("n_events").eqNullSafe(F.col("n_b")), 1
                ).otherwise(0)
            )
            == 1,
            F.lit(True),
        ).alias("matches_batch_twin"),
    )


STREAM_EN_SQL = """
SELECT CAST(COUNT(DISTINCT COALESCE(c.c_mktsegment, '<null>')) AS BIGINT)
         AS n_segments,
       CAST(COUNT(*) AS BIGINT) AS n_events_total,
       TRUE AS matches_batch_twin
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
"""


def events_sessionize(spark, sf_dir):
    """Sessionization: 30-min inactivity gap, gaps-and-islands via
    lag + cumulative flag. Exact µs arithmetic on both sides."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    new_session = (
        F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
    )
    return (
        e.withColumn("new_s", new_session)
        .groupBy("user_id")
        .agg(F.sum("new_s").alias("n_sessions"), F.count("*").alias("n_events"))
    )


SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id,
         CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(LAG(CAST(ts AS TIMESTAMP)) OVER
                (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
)
SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM flagged GROUP BY user_id
"""


def events_session_window(spark, sf_dir):
    """Native Spark session windows (F.session_window, 30-min gap):
    per-session start/end/count — the built-in operator counterpart
    of the lag+cumsum sessionize above. Native semantics (verified on
    Spark 4.1.2): an event exactly at the previous session's close
    boundary MERGES into it — events at 00:00 and 00:30 form ONE
    session [00:00, 01:00) — so the oracle's island detector uses a
    strict > on the gap, same as SESSIONIZE_SQL."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


SESSION_WINDOW_SQL = """
WITH numbered AS (
  -- rn is the SHARED total order for both window passes below:
  -- (ts, event_id) alone is not a total order once rows are
  -- verbatim-duplicated (at-least-once retries), and two windows
  -- that each break the tie independently can hand the island flag
  -- to one copy while the prefix-sum places it on another —
  -- splitting a session at a 0-gap (found by the r11 replicated-
  -- events parity sweep; Spark's session_window operator is
  -- order-independent and unaffected)
  SELECT user_id, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
),
flagged AS (
  SELECT user_id, ts, rn,
         CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                   - epoch_us(LAG(CAST(ts AS TIMESTAMP)) OVER
                       (PARTITION BY user_id ORDER BY rn))
                   > 1800000000
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY rn)
                 IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM numbered
),
grouped AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY rn
                          ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
)
SELECT user_id,
       MIN(CAST(ts AS TIMESTAMP)) AS session_start,
       MAX(CAST(ts AS TIMESTAMP)) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM grouped GROUP BY user_id, session_no
"""


def events_cohort_retention(spark, sf_dir):
    """Daily cohort-retention matrix (operators/temporal.py
    cohort_retention): users cohorted by first-event day, distinct-
    active per later day, each cell normalized by its cohort's day-0
    size. User-keyed co-partitioned aggregates; the retention window
    runs over the cohort×offset matrix, not the event rows."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.temporal import (
        cohort_retention,
    )

    e = _events(spark, sf_dir)
    return cohort_retention(e, granularity="day")


EVENTS_COHORT_SQL = """
WITH first AS MATERIALIZED (
  SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS cw
  FROM events GROUP BY user_id),
active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS wk
  FROM events),
cells AS (
  SELECT cw AS cohort_start,
         CAST((wk - cw) AS INT) AS period_offset,
         COUNT(DISTINCT user_id) AS n_users
  FROM active JOIN first USING (user_id)
  GROUP BY 1, 2)
SELECT cohort_start, period_offset, n_users,
       ROUND(CAST(n_users AS DOUBLE)
             / FIRST_VALUE(n_users) OVER
               (PARTITION BY cohort_start ORDER BY period_offset), 6)
         AS retention
FROM cells
"""


def events_funnel_users(spark, sf_dir):
    """Ordered funnel (operators/temporal.py funnel): users who did
    view → click → purchase with each step strictly after the
    previous step's first qualifying occurrence and within 24 h of it
    (exact µs arithmetic). Chained user-keyed hash aggregates over
    monotonically shrinking survivor frames; k-row summary windowed
    in-plan."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.temporal import (
        funnel,
    )

    e = _events(spark, sf_dir)
    return funnel(
        e, ["view", "click", "purchase"], max_gap_s=86_400
    )


EVENTS_FUNNEL_SQL = """
WITH s0 AS MATERIALIZED (
  SELECT user_id, MIN(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id),
s1 AS MATERIALIZED (
  SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN s0 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s0.t
    AND epoch_us(CAST(e.ts AS TIMESTAMP))
        <= epoch_us(CAST(s0.t AS TIMESTAMP)) + 86400000000
  GROUP BY e.user_id),
s2 AS MATERIALIZED (
  SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s1.t
    AND epoch_us(CAST(e.ts AS TIMESTAMP))
        <= epoch_us(CAST(s1.t AS TIMESTAMP)) + 86400000000
  GROUP BY e.user_id),
counts AS (
  SELECT 0 AS step_idx, 'view' AS step, COUNT(*) AS n_users FROM s0
  UNION ALL SELECT 1, 'click', COUNT(*) FROM s1
  UNION ALL SELECT 2, 'purchase', COUNT(*) FROM s2)
SELECT step_idx, step, n_users,
       ROUND(CAST(n_users AS DOUBLE)
             / FIRST_VALUE(n_users) OVER (ORDER BY step_idx), 6)
         AS conv_overall,
       ROUND(CAST(n_users AS DOUBLE)
             / LAG(n_users) OVER (ORDER BY step_idx), 6) AS conv_prev
FROM counts
"""


def events_asof_join(spark, sf_dir):
    """As-of join (custom temporal operator): each click picks up the
    most recent prior view of the same user. One shuffle on user_id
    (union + windowed last-non-null), no range explosion."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.temporal import (
        asof_join,
    )

    e = _events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id"), "value"
    )
    out = asof_join(
        clicks, views, on=["user_id"], right_payload=["view_id", "value"]
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_view_id").alias("prev_view_id"),
        F.round("asof_value", 6).alias("prev_view_value"),
    )


ASOF_SQL = """
SELECT l.event_id, l.user_id, r.event_id AS prev_view_id,
       ROUND(r.value, 6) AS prev_view_value
FROM (SELECT * FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def events_range_join(spark, sf_dir):
    """Range join (bucketed interval join): count views within the
    hour before each click, per user."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.temporal import (
        range_join,
    )

    e = _events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    joined = range_join(
        clicks, views, on=["user_id"], left_ts="ts", right_ts="view_ts",
        lower=-3600, upper=0,
    )
    return joined.groupBy("event_id").agg(
        F.count("*").alias("n_prior_views"),
        _dsum("view_value", "sum_view_value"),
    )


RANGE_JOIN_SQL = f"""
SELECT l.event_id, COUNT(*) AS n_prior_views,
       {_sql_dsum('r.value', 'sum_view_value')}
FROM (SELECT * FROM events WHERE event_type = 'click') l
JOIN (SELECT * FROM events WHERE event_type = 'view') r
  ON l.user_id = r.user_id
 AND r.ts BETWEEN l.ts - INTERVAL 3600 SECONDS AND l.ts
GROUP BY l.event_id
"""


def events_rollup_day(spark, sf_dir):
    """Hypertable-style cascading rollup: day buckets aggregated FROM
    hour buckets (one raw scan for all granularities); decimal sums
    keep the two-stage aggregation exact."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.temporal import (
        cascading_rollup,
    )

    e = _events(spark, sf_dir).withColumn("value", _dec("value"))
    rollups = cascading_rollup(
        e, "ts", ["event_type"], "value", ["1 hour", "1 day"]
    )
    day = rollups["1 day"]
    return day.select(
        "bucket_start",
        "event_type",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
        F.col("min_value").cast("double").alias("min_value"),
        F.col("max_value").cast("double").alias("max_value"),
    )


ROLLUP_DAY_SQL = """
SELECT time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS bucket_start,
       event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
       CAST(MIN(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS min_value,
       CAST(MAX(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS max_value
FROM events GROUP BY 1, 2
"""


def agg_approx_distinct(spark, sf_dir):
    """HLL++ sketch distinct counts. The raw estimates are engine-
    specific, so the oracle-checkable output is (a) the exact distinct
    counts and (b) a within-5%-of-exact flag per sketch (rsd=0.02, so
    5% = 2.5 sigma) — the driver hash now verifies the quantitative
    accuracy bound instead of recording a rows-only result."""
    l = _t(spark, sf_dir, "lineitem")
    a = l.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.approx_count_distinct("l_suppkey", rsd=0.02).alias("approx_supps"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.countDistinct("l_suppkey").alias("exact_supps"),
    )
    return a.select(
        "l_returnflag",
        "exact_parts",
        "exact_supps",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= 0.05 * F.col("exact_parts")
        ).alias("parts_within_5pct"),
        (
            F.abs(F.col("approx_supps") - F.col("exact_supps"))
            <= 0.05 * F.col("exact_supps")
        ).alias("supps_within_5pct"),
    )


AGG_APPROX_DISTINCT_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       COUNT(DISTINCT l_suppkey) AS exact_supps,
       TRUE AS parts_within_5pct,
       TRUE AS supps_within_5pct
FROM lineitem GROUP BY l_returnflag
"""


# ------------------------------------------- reference ETL parity ops


def flatten_restructure(spark, sf_dir):
    """Reference flatten (B1-B4) exercised through the t2 gate: nest
    customer into structs+arrays, flatten back to camelCase columns."""
    c = _t(spark, sf_dir, "customer")
    nested = c.select(
        "c_custkey",
        F.struct(
            F.col("c_name").alias("name"),
            F.struct(F.col("c_acctbal").alias("bal")).alias("account"),
        ).alias("info"),
        F.array(F.col("c_mktsegment")).alias("segments"),
    )
    return flatten(nested)


FLATTEN_SQL = """
SELECT c_custkey, c_name AS infoName, c_acctbal AS infoAccountBal,
       c_mktsegment AS segments
FROM customer
"""


def partition_specs_orders(spark, sf_dir):
    """Reference H5 (:186-197): distinct hive partition-spec strings,
    computed distributed."""
    o = _t(spark, sf_dir, "orders")
    spec = F.concat_ws(
        "/",
        F.concat_ws("=", F.lit("year"), F.year("o_orderdate").cast("string")),
        F.concat_ws("=", F.lit("month"), F.month("o_orderdate").cast("string")),
    )
    return o.select(spec.alias("spec")).distinct()


PARTITION_SPECS_SQL = """
SELECT DISTINCT 'year=' || CAST(YEAR(o_orderdate) AS VARCHAR)
       || '/month=' || CAST(MONTH(o_orderdate) AS VARCHAR) AS spec
FROM orders
"""


# ------------------------------------------------------- dedup family

_SQL_TOKENS = "string_split_regex(lower(trim(text)), '\\s+')"
# the ''-cleaned variant (empty docs tokenize to ['']): mirrors the
# engine-side convention shared by lm/_lm_tokens, text token stats,
# drift, bpe, and dsir
_SQL_TOKENS_NONEMPTY = f"list_filter({_SQL_TOKENS}, x -> x <> '')"


def _hash32_sql(key: str) -> str:
    # Mirrors mixing.hash32_expr's two-limb 63-bit-safe multiply
    # exactly (fold key to 32 bits, 16-bit limbs) so the oracle
    # agrees for ANY bigint key, not just fixture-scale ones.
    k32 = f"((({key} % 4294967296) + 4294967296) % 4294967296)"
    return (
        f"(((({k32} // 65536) * 2654435761) % 65536 * 65536"
        f" + ({k32} % 65536) * 2654435761) % 4294967296)"
    )
_SQL_SHINGLES = f"""
CASE WHEN len({_SQL_TOKENS}) >= 3 THEN
  list_distinct([array_to_string(({_SQL_TOKENS})[i:i+2], ' ')
                 for i in range(1, len({_SQL_TOKENS}) - 1)])
ELSE [array_to_string({_SQL_TOKENS}, ' ')] END
"""


TOKEN_BUDGET_SQL = f"""
WITH ranked AS (
  SELECT doc_id, lang,
         CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens,
         CAST(COALESCE(SUM(CAST(len({_SQL_TOKENS}) AS BIGINT)) OVER (
            PARTITION BY lang
            ORDER BY {_hash32_sql("doc_id")}, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS tokens_before
  FROM documents WHERE lang IN ('en', 'fr', 'zh'))
SELECT doc_id, lang, n_tokens, tokens_before FROM ranked
WHERE tokens_before < CASE lang WHEN 'en' THEN 5000
                                WHEN 'fr' THEN 2000
                                ELSE 1500 END
"""



def dedup_exact_docs(spark, sf_dir):
    """Exact dedup by text: min doc_id + copy count per distinct
    value (M1; one map-side-combined hash aggregate)."""
    d = _t(spark, sf_dir, "documents")
    return D.exact_dedup(d, ["text"], "doc_id").select("doc_id", "n_copies")


DEDUP_EXACT_SQL = """
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY text
"""


def dedup_paragraph_docs(spark, sf_dir):
    """Paragraph-level exact dedup (RefinedWeb recipe, M1 family,
    operators/dedup.py paragraph_dedup): drop corpus-wide repeated
    16-token chunks keeping global first occurrences, reassemble
    cleaned documents. Three linear shuffles: chunk explode, one
    window on the chunk text, reassembly aggregate on doc_id."""
    d = _t(spark, sf_dir, "documents")
    return D.paragraph_dedup(d, chunk_tokens=16)


DEDUP_PARAGRAPH_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
),
chunks AS (
  SELECT doc_id, CAST(u.i AS INT) AS i,
         array_to_string(
           list_slice(t, i * 16 + 1, LEAST((i + 1) * 16, len(t))), ' '
         ) AS p
  FROM toks,
       UNNEST(range(GREATEST(1, CAST(ceil(len(t) / 16.0) AS BIGINT)))) AS u(i)
),
ranked AS (
  SELECT doc_id, i, p,
         row_number() OVER (PARTITION BY p ORDER BY doc_id, i) AS rn
  FROM chunks
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_paragraphs,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(
         string_agg(CASE WHEN rn = 1 THEN p END, ' ' ORDER BY i), ''
       ) AS cleaned_text
FROM ranked GROUP BY doc_id
"""


def dedup_keep_first_docs(spark, sf_dir):
    """Full-row exact dedup: keep the lowest-id row per text (window
    row_number, one shuffle on the dedup key)."""
    d = _t(spark, sf_dir, "documents")
    out = D.exact_dedup_rows(d, ["text"], "doc_id")
    return out.select("doc_id", "lang", "source", "n_chars")


DEDUP_KEEP_FIRST_SQL = """
SELECT doc_id, lang, source, n_chars FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
"""


def dedup_ngram_pairs(spark, sf_dir):
    """Exact all-pairs 3-gram Jaccard ≥ 0.5 (the oracle path)."""
    d = _t(spark, sf_dir, "documents")
    out = D.ngram_jaccard_pairs(d, n=3, threshold=0.5)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# Inverted-shingle-index formulation (r13): any pair with J ≥ 0.5
# shares at least one shingle, so joining the exploded (distinct)
# shingle lists and deriving |A∪B| = |A| + |B| - |A∩B| yields the
# IDENTICAL pair set and jaccard values as the original all-pairs
# list_intersect join — same integer inputs, same double division,
# same ROUND; verified bit-identical at sf0.01 before the swap. Cost
# drops from quadratic (12.5M list-intersects at sf0.1, the reason
# this family sat on the sf0.1 oracle-exclusion list) to linear in
# shared-shingle pairs (~seconds at sf0.1). MATERIALIZED so the five
# oracles that embed this truth (recall gates, cluster closure,
# best-quality, leakage split) never re-inline the join.
DEDUP_NGRAM_SQL = f"""
WITH _sh AS MATERIALIZED (
  SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents),
_sz AS (SELECT doc_id, len(shingles) AS sz FROM _sh),
_ex AS (SELECT doc_id, unnest(shingles) AS s FROM _sh),
_in AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM _ex a JOIN _ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
FROM _in
JOIN _sz sa ON _in.id_a = sa.doc_id
JOIN _sz sb ON _in.id_b = sb.doc_id
WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
"""


_PAIRS_CACHE: dict[tuple[int, str], tuple[SparkSession, DataFrame]] = {}


def _minhash_pairs(spark, sf_dir):
    """Verified MinHash+LSH pair set, persisted per (session, sf):
    fed from the shared signature frame (one Arrow pass serves every
    sketch gate) and itself consumed by FOUR gates (pair list,
    clustering, and both recall gates' truth side) — a real curation
    pipeline computes the near-dup pair set once and fans out. The
    frame is O(near-dup pairs), tiny next to the corpus."""
    return _session_cached(
        _PAIRS_CACHE,
        spark,
        sf_dir,
        lambda: D.minhash_lsh_dedup(
            _t(spark, sf_dir, "documents"),
            n=3, num_hashes=64, bands=32, threshold=0.5,
            banded=G.bands_view(_doc_sigs(spark, sf_dir)),
        ),
    )


# RETIRED GATE (r11, see COVERAGE.md retirement ledger):
# `dedup_minhash_pairs` — the full-corpus pair LIST gate. Its operator
# closure and truth contract live on in `dedup_minhash_pairs_sf01`
# (identical definition, doc_id%10 sample of the 10× corpus) and the
# pair set stays transitively value-checked by `dedup_cluster_docs`,
# whose oracle embeds the SAME quadratic pair SQL in a recursive CTE.
# `_minhash_pairs` itself remains the shared frame feeding six gates.


def dedup_minhash_pairs_sf01(spark, sf_dir):
    """Bounded-sample sf0.1 twin of the MinHash+LSH pair gate (r08
    verdict task #5 — shrinking the standing sf0.1 oracle-exclusion
    list): the LSH + exact-verify pair set over the doc_id%10==0
    sample of the sf0.1 corpus BY CONTRACT, like knn_graph_docs'
    doc_id%5 sample. The full-corpus gate stays excluded from the
    sf0.1 sweep because its all-pairs n-gram Jaccard ORACLE is
    quadratic (5000 docs → 12.5M DuckDB list-intersect pairs, >90 s);
    the 500-doc sample keeps the identical operator + truth
    definition at 1/100th the oracle cost, so the sf0.1 evidence is
    driver-checkable. Reads sf0.1 on both sides regardless of the
    driver's sf parameter (the *_sf01 twin pattern)."""
    out = _minhash_pairs_sf01_sample(spark)
    return out.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


DEDUP_MINHASH_SF01_SQL = f"""
WITH sh AS (SELECT doc_id, {{shingles}} AS shingles
            FROM read_parquet('/root/testdata/sf0.1/documents.parquet')
            WHERE doc_id % 10 = 0)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / len(list_distinct(a.shingles || b.shingles)), 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      / len(list_distinct(a.shingles || b.shingles)) >= 0.5
""".replace("{shingles}", _SQL_SHINGLES)


_SAMPLED_PAIRS_SF01_CACHE: dict = {}
_SAMPLED_SIGS_SF01_CACHE: dict = {}


def _docs_sf01_sample(spark):
    return _t(spark, "/root/testdata/sf0.1", "documents").filter(
        F.col("doc_id") % 10 == 0
    )


def _doc_sigs_sf01_sample(spark):
    """Shared sketch-signature frame for the SAMPLED sf0.1 corpus —
    one Arrow pass serves all four bounded twins (minhash pairs,
    clusters, simhash recall, winnow recall), mirroring the
    full-corpus _doc_sigs design."""
    return _session_cached(
        _SAMPLED_SIGS_SF01_CACHE,
        spark,
        "/root/testdata/sf0.1",
        lambda: G.combined_signatures(
            _docs_sf01_sample(spark),
            n=3, num_hashes=64, bands=32, k=16, window=8,
        ),
    )


def _minhash_pairs_sf01_sample(spark):
    """The sampled-sf0.1 verified pair set behind the bounded twins
    (pair list + clustering + both recall truths), persisted per
    session like its full-corpus sibling and fed from the shared
    sampled signature frame."""
    return _session_cached(
        _SAMPLED_PAIRS_SF01_CACHE,
        spark,
        "/root/testdata/sf0.1",
        lambda: D.minhash_lsh_dedup(
            _docs_sf01_sample(spark),
            n=3,
            num_hashes=64,
            bands=32,
            threshold=0.5,
            banded=G.bands_view(_doc_sigs_sf01_sample(spark)),
        ),
    )


def dedup_simhash_pairs_sf01(spark, sf_dir):
    """Bounded-sample sf0.1 twin of the SimHash recall gate (same
    doc_id%10 contract as the other twins, same shared sampled
    signature frame): Hamming≤3 pairs recalled against the sampled
    exact-Jaccard truth. The sketch is deterministic, so the sample
    recall is a fixed number (4 of 6 truth pairs = 0.667 against the
    ≥0.5 contract — consistent with the 0.71 full-corpus
    measurement; the 3-bit radius is deliberately tight)."""
    truth = _minhash_pairs_sf01_sample(spark).select("id_a", "id_b")
    sketch = D.simhash_dedup(
        _docs_sf01_sample(spark),
        max_hamming=3,
        signatures=G.simhash_view(_doc_sigs_sf01_sample(spark)),
    )
    return _pair_recall_gate(truth, sketch, 0.5)


def dedup_winnow_pairs_sf01(spark, sf_dir):
    """Bounded-sample sf0.1 twin of the winnowing recall gate: the
    MOSS guarantee (any shared run of ≥ k+window-1 chars is
    fingerprinted) holds at any corpus size, so the sampled recall
    stays at the ≥0.8 contract of the full gate."""
    truth = _minhash_pairs_sf01_sample(spark).select("id_a", "id_b")
    return _pair_recall_gate(
        truth,
        _winnow_pairs_from(G.winnow_view(_doc_sigs_sf01_sample(spark))),
        0.8,
    )


PAIR_RECALL_SF01_SQL = f"""
WITH pairs AS ({DEDUP_MINHASH_SF01_SQL})
SELECT COUNT(*) AS n_truth, TRUE AS recall_ok FROM pairs
"""


def dedup_cluster_docs_sf01(spark, sf_dir):
    """Bounded-sample sf0.1 twin of the near-dup clustering gate
    (r08 verdict task #5, same doc_id%10 contract as
    dedup_minhash_pairs_sf01 — the two twins share one sampled pair
    frame): pointer-jumping connected components over the sampled
    sf0.1 LSH pair set, against the recursive-CTE transitive closure
    of the sampled exact-Jaccard truth. Gives the min-label
    propagation operator driver evidence at 10× the corpus the
    full gate's quadratic oracle permits."""
    return D.connected_components(
        _minhash_pairs_sf01_sample(spark), "id_a", "id_b"
    )


DEDUP_CLUSTER_SF01_SQL = f"""
WITH RECURSIVE pairs AS ({DEDUP_MINHASH_SF01_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
FROM reach GROUP BY src
"""


def _pair_recall_gate(truth_pairs, sketch_pairs, bound: float):
    """Oracle-checkable sketch-dedup output (same pattern as
    _ann_recall_gate): the sketch's pair list is hash-algorithm-
    specific, so the gate emits the RECALL of the sketch pairs
    against the exact Jaccard≥0.5 truth set computed in the same job
    via the LSH+exact-verify path (whose output provably matches the
    all-pairs n-gram oracle — pinned by dedup_minhash_pairs_sf01 and,
    transitively, dedup_cluster_docs' recursive-CTE oracle; the
    full-corpus pair-list gate itself was retired r11). DuckDB
    recomputes n_truth from the n-gram Jaccard definition and pins
    the flag. Empty truth (no near-dups at this SF) degrades to
    recall_ok=true on both engines."""
    hits = truth_pairs.join(
        sketch_pairs.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi"
    ).agg(F.count("*").alias("n_hits"))
    totals = truth_pairs.agg(F.count("*").alias("n_truth"))
    return totals.crossJoin(hits).select(
        "n_truth",
        (
            (F.col("n_truth") == 0)
            | ((F.col("n_hits") / F.col("n_truth")) >= bound)
        ).alias("recall_ok"),
    )


PAIR_RECALL_SQL = f"""
WITH pairs AS ({DEDUP_NGRAM_SQL})
SELECT COUNT(*) AS n_truth, TRUE AS recall_ok FROM pairs
"""


def _winnow_pairs_raw(spark, sf_dir):
    """Winnowing-fingerprint near-dup pairs over the shared
    full-corpus signature frame."""
    return _winnow_pairs_from(G.winnow_view(_doc_sigs(spark, sf_dir)))


def _winnow_pairs_from(fps):
    """Winnowing-fingerprint near-dup pairs: docs sharing winnowed
    k-gram fingerprints with overlap >= 0.5, paired via the same
    grouped bucket expansion as minhash. Takes the fingerprint view
    directly so the sampled-sf0.1 twin can reuse it on its own
    signature frame."""
    # n_fp rides along with every fingerprint row so the whole pair
    # computation references the (shared) Python signature stage
    # exactly once; a self-join + sizes formulation recomputed it 3x.
    members = (
        fps.groupBy("fingerprint")
        .agg(F.array_sort(F.collect_set(F.struct("doc_id", "n_fp"))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    combos = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        members.select(F.explode(combos).alias("p"))
        .groupBy(
            F.col("p.a.doc_id").alias("id_a"),
            F.col("p.b.doc_id").alias("id_b"),
            F.col("p.a.n_fp").alias("n_a"),
            F.col("p.b.n_fp").alias("n_b"),
        )
        .agg(F.count("*").alias("n_shared"))
        .withColumn(
            "overlap", F.col("n_shared") / F.least(F.col("n_a"), F.col("n_b"))
        )
        .filter(F.col("overlap") >= 0.5)
        .select("id_a", "id_b", "n_shared", F.round("overlap", 6).alias("overlap"))
    )


def dedup_winnow_pairs(spark, sf_dir):
    """Winnowing near-dup detection, recall-verified against the
    exact Jaccard≥0.5 truth set in the same plan (the MOSS guarantee
    — any shared run of ≥ k+window-1 chars is always fingerprinted —
    makes winnowing a high-recall detector for near-identical docs;
    measured recall 1.0 at sf0.001 and sf0.01, gated at ≥0.8). The
    raw pair list is pinned quantitatively in pytest."""
    truth = _minhash_pairs(spark, sf_dir).select("id_a", "id_b")
    return _pair_recall_gate(truth, _winnow_pairs_raw(spark, sf_dir), 0.8)


def dedup_simhash_pairs(spark, sf_dir):
    """SimHash (Hamming≤3 of 64 bits) near-dup detection, recall-
    verified against the exact Jaccard≥0.5 truth set in the same plan
    (measured recall 0.71-0.72 at sf0.001/sf0.01 — the 3-bit radius
    is deliberately tight — gated at ≥0.5). The raw pair list and
    signature determinism are pinned in pytest."""
    d = _t(spark, sf_dir, "documents")
    truth = _minhash_pairs(spark, sf_dir).select("id_a", "id_b")
    sketch = D.simhash_dedup(
        d, max_hamming=3,
        signatures=G.simhash_view(_doc_sigs(spark, sf_dir)),
    )
    return _pair_recall_gate(truth, sketch, 0.5)


def decontam_docs(spark, sf_dir):
    """Benchmark decontamination: corpus docs (doc_id % 10 != 0)
    flagged when they share ≥1 distinct 8-gram with the held-out
    benchmark split (doc_id % 10 == 0). Linear shingle join, no
    all-pairs blowup (operators/decontam.py)."""
    d = _t(spark, sf_dir, "documents")
    return DC.ngram_overlap(
        d.filter(F.col("doc_id") % 10 != 0),
        d.filter(F.col("doc_id") % 10 == 0),
        n=8,
    )


_SQL_SHINGLES8 = f"""
CASE WHEN len({_SQL_TOKENS}) >= 8 THEN
  list_distinct([array_to_string(({_SQL_TOKENS})[i:i+7], ' ')
                 for i in range(1, len({_SQL_TOKENS}) - 6)])
ELSE [array_to_string({_SQL_TOKENS}, ' ')] END
"""

DECONTAM_SQL = f"""
WITH sh AS (SELECT doc_id, {_SQL_SHINGLES8} AS shingles FROM documents),
b AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 10 = 0),
c AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE doc_id % 10 != 0),
hits AS (SELECT c.doc_id, COUNT(DISTINCT c.s) AS n_overlap
         FROM c JOIN b ON c.s = b.s GROUP BY c.doc_id)
SELECT sh.doc_id,
       COALESCE(hits.n_overlap, 0) AS n_overlap,
       COALESCE(hits.n_overlap, 0) >= 1 AS contaminated
FROM sh LEFT JOIN hits ON sh.doc_id = hits.doc_id
WHERE sh.doc_id % 10 != 0
"""


def text_pii_redact(spark, sf_dir):
    """PII scrub: per-class counts from the original text + chained
    masking (operators/text.py redact_pii; closed-form regexp
    expressions, JVM codegen)."""
    d = _t(spark, sf_dir, "documents")
    return X.redact_pii(d)


PII_SQL = r"""
SELECT doc_id,
  len(regexp_extract_all(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
  len(regexp_extract_all(text,
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
  len(regexp_extract_all(text,
      '(?:\+\d{3}|\b\d{3})[-. ]\d{3}[-. ]\d{4}\b')) AS n_phone,
  regexp_replace(
    regexp_replace(
      regexp_replace(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g'),
    '(?:\+\d{3}|\b\d{3})[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS redacted
FROM documents
"""


def boilerplate_ngrams_docs(spark, sf_dir):
    """Corpus boilerplate detection: word 2-grams present in ≥1% of
    documents (doc-frequency heavy hitters — the C4-style pass run
    before boilerplate stripping). Distinct-per-doc explode → hash
    aggregate → broadcast threshold (operators/text.py)."""
    d = _t(spark, sf_dir, "documents")
    return X.boilerplate_ngrams(d, n=2, min_doc_frac=0.01)


BOILERPLATE_SQL = f"""
WITH sh AS (
  SELECT doc_id,
         CASE WHEN len({_SQL_TOKENS}) >= 2 THEN
           list_distinct([array_to_string(({_SQL_TOKENS})[i:i+1], ' ')
                          for i in range(1, len({_SQL_TOKENS}))])
         ELSE [array_to_string({_SQL_TOKENS}, ' ')] END AS s
  FROM documents),
e AS (SELECT doc_id, unnest(s) AS ngram FROM sh),
df AS (SELECT ngram, COUNT(DISTINCT doc_id) AS doc_freq FROM e GROUP BY ngram),
total AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT ngram, doc_freq,
       ROUND(CAST(doc_freq AS DOUBLE) / n_docs, 6) AS doc_frac
FROM df, total
WHERE doc_freq >= n_docs * 0.01
"""


def span_dedup_docs(spark, sf_dir):
    """Substring-level dedup report (Lee et al. 2022 shape,
    operators/spans.py): per document, the maximal spans covered by
    8-token windows that occur >= 2 times corpus-wide, as
    (n_spans, dup_tokens, dup_frac). Three linear shuffles; no
    suffix array, no all-pairs."""
    d = _t(spark, sf_dir, "documents")
    return SP.span_dedup_stats(d, w=8)


SPAN_DEDUP_SQL = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
sites AS (
  SELECT doc_id, u.pos AS pos, u.g AS g
  FROM (SELECT doc_id,
               unnest([{{'pos': i,
                         'g': array_to_string(t[i:i+7], ' ')}}
                       for i in range(1, len(t) - 6)]) AS u
        FROM toks WHERE len(t) >= 8)),
dup AS (SELECT g FROM sites GROUP BY g HAVING COUNT(*) >= 2),
ds AS (SELECT sites.doc_id, sites.pos FROM sites JOIN dup USING (g)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER
                (PARTITION BY doc_id ORDER BY pos) > 8
              THEN 1 ELSE 0 END AS brk
  FROM ds),
isl2 AS (SELECT doc_id, pos,
                SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS island
         FROM isl),
spans AS (SELECT doc_id, island, MIN(pos) AS s, MAX(pos) AS e
          FROM isl2 GROUP BY doc_id, island),
agg AS (SELECT doc_id, COUNT(*) AS n_spans,
               SUM(e - s + 8) AS dup_tokens
        FROM spans GROUP BY doc_id)
SELECT toks.doc_id, len(t) AS n_tokens,
       CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(dup_tokens, 0) AS BIGINT) AS dup_tokens,
       ROUND(CAST(COALESCE(dup_tokens, 0) AS DOUBLE) / len(t), 6)
         AS dup_frac
FROM toks LEFT JOIN agg ON toks.doc_id = agg.doc_id
"""


def span_clean_docs(spark, sf_dir):
    """Span-removal rewrite (operators/spans.py
    remove_duplicate_spans): every duplicated ≥8-token run (the
    span_dedup_docs spans) surgically removed from the text — the
    cleaning pass the stats gate decides on. Per-doc span arrays are
    bounded by spans-per-doc; one JVM indexed-filter rebuilds the
    text, no shuffle beyond the span pipeline's three."""
    d = _t(spark, sf_dir, "documents")
    return SP.remove_duplicate_spans(d)


SPAN_CLEAN_SQL = f"""
-- t (lowered) drives the span-match keys; ot (original case) is the
-- reconstruction array, mirroring remove_duplicate_spans' split —
-- same \\s+ separators, so the positions line up
WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS t,
                     string_split_regex(trim(text), '\\s+') AS ot
              FROM documents),
sites AS (
  SELECT doc_id, u.pos AS pos, u.g AS g
  FROM (SELECT doc_id,
               unnest([{{'pos': i,
                         'g': array_to_string(t[i:i+7], ' ')}}
                       for i in range(1, len(t) - 6)]) AS u
        FROM toks WHERE len(t) >= 8)),
dup AS (SELECT g FROM sites GROUP BY g HAVING COUNT(*) >= 2),
ds AS (SELECT sites.doc_id, sites.pos FROM sites JOIN dup USING (g)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER
                (PARTITION BY doc_id ORDER BY pos) > 8
              THEN 1 ELSE 0 END AS brk
  FROM ds),
isl2 AS (SELECT doc_id, pos,
                SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS island
         FROM isl),
spans AS (SELECT doc_id, island, MIN(pos) AS s, MAX(pos) AS e
          FROM isl2 GROUP BY doc_id, island),
sp AS (SELECT doc_id, list({{'s': s, 'e': e}}) AS sp
       FROM spans GROUP BY doc_id)
SELECT toks.doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(t) - len([t[i] for i in range(1, len(t) + 1)
             if len(list_filter(COALESCE(sp, []),
                    x -> i >= x.s AND i <= x.e + 7)) = 0])
            AS BIGINT) AS n_removed,
       COALESCE(array_to_string([ot[i] for i in range(1, len(t) + 1)
             if len(list_filter(COALESCE(sp, []),
                    x -> i >= x.s AND i <= x.e + 7)) = 0], ' '), '')
         AS cleaned_text
FROM toks LEFT JOIN sp ON toks.doc_id = sp.doc_id
"""


def bloom_decontam_docs(spark, sf_dir):
    """Bloom-accelerated decontamination semi-join
    (operators/bloom.py): benchmark shingles (doc_id % 10 == 0)
    build a 2^16-bit filter; corpus shingle rows are probe-filtered
    scan-locally before the exact verify join. The gate proves the
    no-false-negative contract in-plan: the bloom-then-verify result
    must equal the direct exact semi-join, and the probe must
    actually prune (candidates < corpus rows)."""
    d = _t(spark, sf_dir, "documents")
    sh = D.shingles_col(D.tokens_col("text"), 8)
    rows = d.select("doc_id", F.explode(sh).alias("shingle"))
    corpus_sh = rows.filter(F.col("doc_id") % 10 != 0)
    # checkpoint the benchmark key set (r13 optimization round): it
    # is referenced twice — the bloom build aggregate AND the exact-
    # verify broadcast annotation — and each reference re-ran the
    # full shingle explode + distinct over the benchmark slice.
    # Distinct-shingle-scale rows; materializes inside the bloom
    # build's first use. (The bloom-then-verify DOUBLE corpus pass is
    # the gate's contract — guide §3.2's "small side scanned twice"
    # — and stays.)
    bench_keys = (
        rows.filter(F.col("doc_id") % 10 == 0)
        .select("shingle")
        .distinct()
        .localCheckpoint(eager=False)
    )
    m_bits, k = 1 << 16, 5
    bloom = BL.bloom_build(bench_keys, "shingle", m_bits, k)
    # ONE corpus-shingle scan carries both verdicts: the bloom hit
    # flag (k broadcast word-joins) and exact membership (broadcast
    # semi-annotation) — every count below falls out of a single
    # aggregate, instead of re-exploding the corpus per branch.
    marked = BL.bloom_contains(
        corpus_sh, bloom, "shingle", m_bits, k
    ).join(
        F.broadcast(bench_keys.withColumn("_in_bench", F.lit(True))),
        "shingle",
        "left",
    )
    hit = F.col("_bloom_hit")
    in_bench = F.coalesce("_in_bench", F.lit(False))
    # bloom-then-verify ⊆ direct-exact by construction, so count
    # equality == row equality (no false negatives).
    return marked.agg(
        F.sum((hit & in_bench).cast("long")).alias("_n_via"),
        F.sum(in_bench.cast("long")).alias("_n_direct"),
        F.count_distinct(
            F.when(hit & in_bench, F.col("doc_id"))
        ).alias("n_flagged_docs"),
        F.sum(hit.cast("long")).alias("_n_cand"),
        F.count("*").alias("_n_corpus"),
    ).select(
        F.col("_n_via").alias("n_matched_rows"),
        "n_flagged_docs",
        (F.col("_n_via") == F.col("_n_direct")).alias(
            "bloom_matches_exact"
        ),
        (F.col("_n_cand") < F.col("_n_corpus")).alias("bloom_pruned"),
    )


BLOOM_DECONTAM_SQL = f"""
WITH sh AS (SELECT doc_id, {_SQL_SHINGLES8} AS shingles FROM documents),
b AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 10 = 0),
c AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE doc_id % 10 != 0),
m AS (SELECT c.doc_id FROM c JOIN b ON c.s = b.s)
SELECT CAST(COUNT(*) AS BIGINT) AS n_matched_rows,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_flagged_docs,
       TRUE AS bloom_matches_exact,
       TRUE AS bloom_pruned
FROM m
"""


_BM25_QUERIES = [
    ("q1", "hash join"),
    ("q2", "slow scan filter"),
    ("q3", "customer order value"),
]


def rag_hash_retrieval_docs(spark, sf_dir):
    """End-to-end lexical-vector retrieval (operators/search.py
    hash_retrieval_topk): hash-embed every document into an integer
    32-bucket bag-of-words vector (the classifier gate's md5 feature
    hash), score the corpus against 10 probe documents with the
    exact-integer Arrow kernel (similarity.local_topk_exact_int),
    top-3 per query. Scores and tie-breaks are bit-reproducible
    across engines: integer dots/norms are exact in float64 and the
    ranking key dot²/(na·nb) is one correctly-rounded division — the
    RANKING never touches the display-rounded cosine."""
    d = _t(spark, sf_dir, "documents")
    return SR.hash_retrieval_topk(
        d, query_ids=list(range(0, 500, 50)), k=3, dim=32
    )


RAG_HASH_RETRIEVAL_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
  FROM documents),
bc AS MATERIALIZED (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT) % 32 AS b,
         COUNT(*) AS c
  FROM tok GROUP BY 1, 2),
emb AS MATERIALIZED (
  SELECT d.doc_id, list(COALESCE(bc.c, 0) ORDER BY g.i) AS v
  FROM (SELECT DISTINCT doc_id FROM bc) d
  CROSS JOIN (SELECT unnest(range(0, 32)) AS i) g
  LEFT JOIN bc ON bc.doc_id = d.doc_id AND bc.b = g.i
  GROUP BY d.doc_id),
sq AS MATERIALIZED (
  SELECT doc_id, CAST(v AS DOUBLE[]) AS dv,
         list_dot_product(CAST(v AS DOUBLE[]), CAST(v AS DOUBLE[])) AS n2
  FROM emb),
q AS (SELECT doc_id AS q_id, dv AS qv, n2 AS nb FROM sq
      WHERE doc_id % 50 = 0 AND doc_id < 500),
scored AS (
  SELECT q.q_id, e.doc_id AS n_id,
         list_dot_product(e.dv, q.qv) AS dot, e.n2 AS na, q.nb AS nb
  FROM sq e CROSS JOIN q WHERE e.doc_id <> q.q_id),
ranked AS (
  SELECT q_id, n_id, dot, na, nb,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY (CAST(dot AS DOUBLE) * dot)
                                     / (CAST(na AS DOUBLE) * nb) DESC, n_id)
           AS rank
  FROM scored)
SELECT q_id, n_id, CAST(rank AS INT) AS rank,
       ROUND(dot / sqrt(CAST(na AS DOUBLE) * nb), 6) AS sim
FROM ranked WHERE rank <= 3
"""


def bm25_search_docs(spark, sf_dir):
    """BM25 top-5 per query over the corpus (operators/search.py):
    tf/df aggregates + broadcast query probe + windowed top-k.
    Scores rounded before ranking so the ranking is engine-
    reproducible; ties break on doc_id."""
    d = _t(spark, sf_dir, "documents")
    return SR.bm25_topk(
        d, _BM25_QUERIES, topk=5, index=_term_index(spark, sf_dir)
    )


BM25_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS term
             FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf
       FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
meta AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
q(query_id, term) AS (VALUES {", ".join(
    f"('{qid}', '{t}')"
    for qid, qtext in _BM25_QUERIES
    for t in sorted(set(qtext.lower().split()))
)}),
scored AS (
  SELECT q.query_id, tf.doc_id,
         ROUND(SUM(
           ln(1 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * (1.2 + 1))
           / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
         ), 6) AS score
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN q ON tf.term = q.term
  JOIN dfr ON tf.term = dfr.term, meta
  GROUP BY q.query_id, tf.doc_id),
r AS (SELECT query_id, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rank
      FROM scored)
SELECT query_id, rank, doc_id, score FROM r WHERE rank <= 5
"""


def reservoir_sample_docs(spark, sf_dir):
    """Deterministic exact-k uniform sample (k=50), the distributed
    reservoir replacement (operators/mixing.py sample_exact_k):
    hash-rank TakeOrderedAndProject, engine-reproducible."""
    d = _t(spark, sf_dir, "documents")
    return MX.sample_exact_k(d, 50).select("doc_id", "lang", "source")


RESERVOIR_SQL = f"""
SELECT doc_id, lang, source FROM documents
ORDER BY {_hash32_sql("doc_id")}, doc_id LIMIT 50
"""


def weighted_sample_docs(spark, sf_dir):
    """Deterministic weighted exact-k sample without replacement
    (Efraimidis–Spirakis, operators/mixing.py weighted_exact_k):
    rank by quantized ln(u)/w with u drawn from the doc-id hash,
    w = n_chars — longer docs proportionally likelier, exact count,
    engine-reproducible. TakeOrderedAndProject plan (k-row heap per
    partition, no full sort)."""
    d = _t(spark, sf_dir, "documents")
    return MX.weighted_exact_k(d, 50, "n_chars").select(
        "doc_id", "lang", "n_chars"
    )


WEIGHTED_SAMPLE_SQL = f"""
SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars,
         FLOOR(LN(({_hash32_sql("doc_id")} + 1) / 4294967296.0)
               / n_chars * 1000000) AS wk
  FROM documents WHERE n_chars > 0
) ORDER BY wk DESC, doc_id LIMIT 50
"""


def leakage_split_docs(spark, sf_dir):
    """Contamination-aware train/test split (operators/dedup.py
    leakage_safe_split): the split key is the near-dup CLUSTER id
    (shared verified MinHash pair set → connected components;
    singletons are their own cluster), so near-duplicates never
    straddle the boundary — the leakage-safe eval split a curation
    pipeline ships. split is a pure function of cluster_id (same
    deterministic Bernoulli as the samplers)."""
    d = _t(spark, sf_dir, "documents")
    return D.leakage_safe_split(
        d, _minhash_pairs(spark, sf_dir), test_fraction=0.1
    )


# LEAKAGE_SPLIT_SQL is defined after DEDUP_CLUSTER_SQL (it embeds
# the recursive-CTE cluster oracle).


def classifier_score_docs(spark, sf_dir):
    """fasttext-style linear quality classifier over hashed BoW
    features (operators/scoring.py): broadcast (bucket, weight)
    model, md5 feature hash, exact-integer mean — the model-based
    curation pass, fully JVM-side. The gate scores with the
    deterministic synthetic model any engine can rebuild."""
    d = _t(spark, sf_dir, "documents")
    w = SC.synthetic_weights(spark, 4096)
    return SC.score_documents(d, w, 4096)


def lm_perplexity_docs(spark, sf_dir):
    """CCNet-style n-gram LM quality signal (operators/lm.py):
    self-perplexity under an add-1 bigram model trained on the
    corpus in the same plan — two linear aggregates + a score join,
    all JVM built-ins. Per-bigram log-probs are quantized to exact
    1e-6 integers so the per-doc mean is engine-reproducible."""
    d = _t(spark, sf_dir, "documents")
    return LM.perplexity_scores(d)


LM_PERPLEXITY_SQL = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKENS_NONEMPTY} AS t FROM documents),
bi AS (
  SELECT doc_id, u.w1 AS w1, u.w2 AS w2
  FROM (SELECT doc_id,
               unnest([{{'w1': t[i], 'w2': t[i+1]}}
                       for i in range(1, len(t))]) AS u
        FROM toks WHERE len(t) >= 2)),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1),
v AS (SELECT COUNT(DISTINCT w) AS vocab
      FROM (SELECT unnest(t) AS w FROM toks)),
sc AS (
  SELECT bi.doc_id, COUNT(*) AS n_bigrams,
         SUM(CAST(ROUND(ln((c2.c2 + 1.0) / (c1.c1 + 1.0 * vocab))
                        * 1000000.0) AS BIGINT)) AS sq
  FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v
  GROUP BY bi.doc_id)
SELECT toks.doc_id,
       CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
       ROUND(sq / (n_bigrams * 1000000.0), 6) AS avg_logp,
       ROUND(exp(-(sq / (n_bigrams * 1000000.0))), 6) AS perplexity
FROM toks LEFT JOIN sc ON toks.doc_id = sc.doc_id
"""


def kn_bigram_model_docs(spark, sf_dir):
    """Interpolated Kneser-Ney bigram model export (operators/lm.py
    kneser_ney_bigrams): discounted ML term + continuation-count
    backoff — the smoothing CCNet's real filter LM uses. One corpus
    explode; every other aggregate is over the vocabulary-bounded
    model frame. Top-30 by raw count (count-desc, then words) with
    the smoothed probability and its component counts."""
    d = _t(spark, sf_dir, "documents")
    return LM.kneser_ney_bigrams(d, discount=0.75, top_k=30)


KN_BIGRAM_SQL = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKENS_NONEMPTY} AS t FROM documents),
bi AS (
  SELECT u.w1 AS w1, u.w2 AS w2
  FROM (SELECT unnest([{{'w1': t[i], 'w2': t[i+1]}}
                      for i in range(1, len(t))]) AS u
        FROM toks WHERE len(t) >= 2)),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2),
c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1),
nf AS (SELECT w1, COUNT(*) AS n_followers FROM c2 GROUP BY w1),
nc AS (SELECT w2, COUNT(*) AS n_continuations FROM c2 GROUP BY w2),
nt AS (SELECT COUNT(*) AS n_types FROM c2)
SELECT w1, w2, CAST(c2 AS BIGINT) AS c2,
       CAST(n_followers AS BIGINT) AS n_followers,
       CAST(n_continuations AS BIGINT) AS n_continuations,
       ROUND(GREATEST(c2 - 0.75, 0.0) / c1
             + (0.75 / c1) * n_followers
               * (n_continuations / (1.0 * n_types)), 6) AS p_kn
FROM c2 JOIN c1 USING (w1) JOIN nf USING (w1) JOIN nc USING (w2), nt
ORDER BY c2 DESC, w1, w2 LIMIT 30
"""


def doremi_weights_docs(spark, sf_dir):
    """DoReMi-style domain reweighting (operators/lm.py
    doremi_domain_weights): one exponentiated-gradient step — token
    share × exp(excess bigram NLL / T), normalized over domains via
    an integer-quantized sum. One row per source with the full
    audit trail (share, NLL, excess, weight)."""
    d = _t(spark, sf_dir, "documents")
    return LM.doremi_domain_weights(d, temperature=1.0)


DOREMI_SQL = f"""
WITH toks AS (SELECT source AS domain, {_SQL_TOKENS_NONEMPTY} AS t
              FROM documents),
bi AS (
  SELECT domain, u.w1 AS w1, u.w2 AS w2
  FROM (SELECT domain,
               unnest([{{'w1': t[i], 'w2': t[i+1]}}
                       for i in range(1, len(t))]) AS u
        FROM toks WHERE len(t) >= 2)),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2),
c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1),
v AS (SELECT COUNT(DISTINCT w) AS vocab
      FROM (SELECT unnest(t) AS w FROM toks)),
dom AS (
  SELECT domain, COUNT(*) AS n_bigrams,
         SUM(CAST(ROUND(ln((c2.c2 + 1.0) / (c1.c1 + 1.0 * vocab))
                        * 1000000.0) AS BIGINT)) AS sq
  FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v
  GROUP BY domain),
tot AS (SELECT SUM(n_bigrams) AS nt, SUM(sq) AS sqt FROM dom),
raw AS (
  SELECT domain, n_bigrams,
         -sq / (n_bigrams * 1000000.0) AS nll_d,
         -sqt / (nt * 1000000.0) AS nll_c,
         nt,
         CAST(ROUND((n_bigrams / (1.0 * nt))
                    * exp((-sq / (n_bigrams * 1000000.0))
                          - (-sqt / (nt * 1000000.0)))
                    * 1000000000000.0) AS BIGINT) AS qraw
  FROM dom, tot),
z AS (SELECT SUM(qraw) AS z FROM raw)
SELECT domain, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       ROUND(nll_d, 6) AS domain_nll,
       ROUND(nll_d - nll_c, 6) AS excess_nll,
       ROUND(n_bigrams / (1.0 * nt), 6) AS token_share,
       ROUND(qraw / (1.0 * z), 6) AS weight
FROM raw, z
"""


def length_packing_docs(spark, sf_dir):
    """Sequence-length histogram + packing-efficiency bounds
    (operators/packing.py length_packing_report): per power-of-2
    length bucket, doc/token/chunk counts and the pad-waste /
    efficiency a chunk-to-512-and-pad layout would pay — the report
    that chooses max_seq. Exact integer math (bin()-length buckets,
    ceil-div, integer-scaled floor-div); one metadata aggregate."""
    d = _t(spark, sf_dir, "documents")
    return P_pack.length_packing_report(d, max_seq=512)


LENGTH_PACKING_SQL = f"""
WITH per AS (
  SELECT CAST(LENGTH(bin(len({_SQL_TOKENS}))) - 1 AS INT) AS len_bucket,
         CAST(len({_SQL_TOKENS}) AS BIGINT) AS n,
         CAST((len({_SQL_TOKENS}) + 511) // 512 AS BIGINT) AS chunks
  FROM documents)
SELECT len_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(SUM(chunks) AS BIGINT) AS n_chunks,
       CAST(SUM(chunks) * 512 - SUM(n) AS BIGINT) AS pad_waste,
       CAST((SUM(n) * 1000000) // (SUM(chunks) * 512) AS BIGINT)
         AS efficiency_q
FROM per GROUP BY len_bucket
"""


def text_diversity_docs(spark, sf_dir):
    """Distinct-n diversity report per language (operators/text.py
    diversity_report): n-gram occurrence vs distinct counts and the
    integer-exact distinct-ratio for n=1,2,3 — the corpus diversity
    diagnostic (low distinct-2/3 ⇒ templated data). One scan: tagged
    n-gram arrays concatenated, one explode, two shrinking
    map-side-combined aggregates."""
    d = _t(spark, sf_dir, "documents")
    return X.diversity_report(d)


def _sql_ngrams(n: int, t: str | None = None) -> str:
    """DuckDB mirror of dedup.ngrams_col (multiplicity, whole-text
    fallback for docs shorter than n tokens)."""
    t = t or _SQL_TOKENS
    if n == 1:
        return t
    return (
        f"CASE WHEN len({t}) >= {n} THEN "
        f"[array_to_string(({t})[i:i+{n - 1}], ' ') "
        f"for i in range(1, len({t}) - {n} + 2)] "
        f"ELSE [array_to_string({t}, ' ')] END"
    )



# empty docs excluded and grams built on ''-cleaned tokens, mirroring
# diversity_report (operators/text.py) — without this the n>1
# whole-text fallback would mint a '' gram per empty document
TEXT_DIVERSITY_SQL = f"""
WITH g AS (
  SELECT lang, 1 AS n, unnest({_sql_ngrams(1, _SQL_TOKENS_NONEMPTY)}) AS gram
  FROM documents WHERE len({_SQL_TOKENS_NONEMPTY}) > 0
  UNION ALL
  SELECT lang, 2 AS n, unnest({_sql_ngrams(2, _SQL_TOKENS_NONEMPTY)}) AS gram
  FROM documents WHERE len({_SQL_TOKENS_NONEMPTY}) > 0
  UNION ALL
  SELECT lang, 3 AS n, unnest({_sql_ngrams(3, _SQL_TOKENS_NONEMPTY)}) AS gram
  FROM documents WHERE len({_SQL_TOKENS_NONEMPTY}) > 0
)
SELECT lang, n,
       CAST(COUNT(*) AS BIGINT) AS total_ngrams,
       CAST(COUNT(DISTINCT gram) AS BIGINT) AS distinct_ngrams,
       CAST(COUNT(DISTINCT gram) * 1000000 // COUNT(*) AS BIGINT)
         AS distinct_ratio_q
FROM g GROUP BY lang, n
"""


def text_zipf_docs(spark, sf_dir):
    """Zipf-fit diagnostic (operators/text.py zipf_slope): least-
    squares slope of ln(freq) over ln(rank) for the top-100 tokens —
    the one-row corpus health check (natural text ≈ −1; flat ⇒
    templated, steep ⇒ degenerate vocabulary). Word-count aggregate →
    TakeOrderedAndProject → closed-form sums."""
    d = _t(spark, sf_dir, "documents")
    return X.zipf_slope(d)


TEXT_ZIPF_SQL = f"""
WITH f AS (
  SELECT token, COUNT(*) AS n
  FROM (SELECT unnest({_SQL_TOKENS}) AS token FROM documents)
  WHERE token <> ''
  GROUP BY token ORDER BY n DESC, token LIMIT 100
),
xy AS (
  SELECT LN(CAST(row_number() OVER (ORDER BY n DESC, token) AS DOUBLE)) AS x,
         LN(CAST(n AS DOUBLE)) AS y
  FROM f
),
a AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS k, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x*y) AS sxy, SUM(x*x) AS sxx
  FROM xy
)
SELECT CAST(k AS BIGINT) AS n_tokens_fit,
       CAST(ROUND((k*sxy - sx*sy) / (k*sxx - sx*sx) * 10000) AS BIGINT)
         AS slope_q,
       CAST(ROUND((sy - (k*sxy - sx*sy) / (k*sxx - sx*sx) * sx) / k * 10000)
            AS BIGINT) AS intercept_q
FROM a
"""


def chunk_docs_rag(spark, sf_dir):
    """Overlapping sliding-window chunking (operators/packing.py
    chunk_documents, 64-token windows, stride 48): the RAG/long-
    context preprocessing fan-out — plan-time sequence+explode, no
    shuffle, stays in whole-stage codegen. Offsets are a pure
    function of the token count."""
    d = _t(spark, sf_dir, "documents")
    return P_pack.chunk_documents(d, chunk_size=64, stride=48)


CHUNK_RAG_SQL = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
nc AS (
  SELECT doc_id, t,
         CASE WHEN len(t) <= 64 THEN 1
              ELSE CAST(ceil((len(t) - 64) / 48.0) AS BIGINT) + 1 END AS m
  FROM toks
)
SELECT doc_id, CAST(u.i AS INT) AS chunk_id,
       CAST(i * 48 AS BIGINT) AS start_token,
       CAST(LEAST(64, len(t) - i * 48) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(t, i * 48 + 1, i * 48 + 64), ' ')
         AS chunk_text
FROM nc, UNNEST(range(m)) AS u(i)
"""


def text_pmi_docs(spark, sf_dir):
    """Top-20 collocations by quantized PMI (operators/text.py
    pmi_collocations, min_count=5): the multiword-expression /
    boilerplate-tell extractor. Two vocabulary-bounded aggregates +
    joins, TakeOrderedAndProject."""
    d = _t(spark, sf_dir, "documents")
    return X.pmi_collocations(d, min_count=5, top_k=20)


TEXT_PMI_SQL = f"""
WITH toks AS (SELECT list_filter({_SQL_TOKENS}, x -> x <> '') AS t
              FROM documents),
uc AS (SELECT w, COUNT(*) AS c
       FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
bi0 AS (SELECT unnest(list_slice(t, 1, len(t) - 1)) AS w1,
               unnest(list_slice(t, 2, len(t))) AS w2
        FROM toks WHERE len(t) >= 2),
bc AS (SELECT w1, w2, COUNT(*) AS c_ab FROM bi0 GROUP BY w1, w2
       HAVING COUNT(*) >= 5),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_tok FROM uc),
m AS (SELECT CAST(SUM(GREATEST(len(t) - 1, 0)) AS DOUBLE) AS n_bi
      FROM toks)
SELECT w1, w2, CAST(c_ab AS BIGINT) AS n_pair,
       CAST(ROUND(LN((c_ab / n_bi)
                     / ((ca.c / n_tok) * (cb.c / n_tok))) * 1000000)
            AS BIGINT) AS pmi_q
FROM bc JOIN uc ca ON bc.w1 = ca.w
        JOIN uc cb ON bc.w2 = cb.w, tot, m
ORDER BY pmi_q DESC, w1, w2 LIMIT 20
"""


def source_overlap_docs(spark, sf_dir):
    """Cross-slice contamination audit (operators/text.py
    source_overlap_matrix): shared distinct 3-gram shingles and the
    integer-exact overlap fraction for every source pair — high
    overlap between 'independent' slices means duplicated
    provenance. Distinct (slice, shingle) frame → shingle-keyed
    self-join bounded by n_slices² per shingle."""
    d = _t(spark, sf_dir, "documents")
    return X.source_overlap_matrix(d)


SOURCE_OVERLAP_SQL = f"""
WITH sh AS (SELECT DISTINCT g, s FROM
             (SELECT source AS g, unnest({_SQL_SHINGLES}) AS s
              FROM documents)),
sizes AS (SELECT g, COUNT(*) AS n FROM sh GROUP BY g),
common AS (SELECT a.g AS source_a, b.g AS source_b,
                  COUNT(*) AS n_common
           FROM sh a JOIN sh b ON a.s = b.s AND a.g < b.g
           GROUP BY 1, 2)
SELECT source_a, source_b,
       CAST(n_common AS BIGINT) AS n_common,
       CAST(sa.n AS BIGINT) AS n_a,
       CAST(sb.n AS BIGINT) AS n_b,
       CAST(n_common * 1000000 // LEAST(sa.n, sb.n) AS BIGINT)
         AS overlap_q
FROM common JOIN sizes sa ON common.source_a = sa.g
            JOIN sizes sb ON common.source_b = sb.g
"""


def text_entropy_docs(spark, sf_dir):
    """Shannon-entropy quality signal (operators/text.py
    entropy_scores): per-doc token- and char-level entropy in nats,
    flagging degenerate/boilerplate (low) and binary-junk (high)
    documents. Quantized-integer Σ c·ln c numerators make the
    per-doc values partitioning-invariant and oracle-identical."""
    d = _t(spark, sf_dir, "documents")
    return X.entropy_scores(d)


TEXT_ENTROPY_SQL = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
tokc AS (
  SELECT doc_id, s, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(t) AS s FROM toks) WHERE s <> ''
  GROUP BY doc_id, s),
tokh AS (
  SELECT doc_id, SUM(c) AS n_tok,
         SUM(c * CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1000000.0)
                      AS BIGINT)) AS s_tok
  FROM tokc GROUP BY doc_id),
chrc AS (
  SELECT doc_id, s, COUNT(*) AS c
  FROM (SELECT doc_id,
               unnest(string_split(lower(trim(text)), '')) AS s
        FROM documents) WHERE s <> ''
  GROUP BY doc_id, s),
chrh AS (
  SELECT doc_id, SUM(c) AS n_chr,
         SUM(c * CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1000000.0)
                      AS BIGINT)) AS s_chr
  FROM chrc GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(n_tok, 0) AS BIGINT) AS n_tokens,
       ROUND(ln(CAST(n_tok AS DOUBLE)) - s_tok / (n_tok * 1000000.0),
             6) AS token_entropy,
       ROUND(ln(CAST(n_chr AS DOUBLE)) - s_chr / (n_chr * 1000000.0),
             6) AS char_entropy
FROM documents d
LEFT JOIN tokh ON d.doc_id = tokh.doc_id
LEFT JOIN chrh ON d.doc_id = chrh.doc_id
"""


def stratified_exact_docs(spark, sf_dir):
    """Quota sampling: exactly 20 docs per language by deterministic
    hash rank (operators/mixing.py stratified_exact_k) — the
    "fixed-size eval set per domain" pass, one window shuffle."""
    d = _t(spark, sf_dir, "documents")
    return MX.stratified_exact_k(d, 20, "lang").select(
        "doc_id", "lang"
    )


STRATIFIED_EXACT_SQL = f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY {_hash32_sql("doc_id")}, doc_id)
           AS rk
  FROM documents) t
WHERE rk <= 20
"""


def semantic_dedup_vecs(spark, sf_dir):
    """SemDeDup (operators/similarity.py semantic_dedup): k-means
    cells + within-cell cosine>=0.4 pruning, min-id representative
    per component. Cell assignment is model-specific, so the gate
    emits the DuckDB-pinnable invariants, with the two flags
    verified IN-PLAN against exact data: every pruned vector has an
    exact global cosine>=0.4 neighbor, and every surviving
    cluster_id is itself a kept vector."""
    e = _t(spark, sf_dir, "embeddings")
    sd = S.semantic_dedup(e, threshold=0.4, n_centroids=8)
    removed = sd.filter(~F.col("keep")).select("id")
    kept = sd.filter(F.col("keep")).select("id")
    exact_pairs = S.cosine_near_dup_pairs(e, 0.4, exact=True)
    with_neighbor = (
        exact_pairs.select(F.col("id_a").alias("id"))
        .union(exact_pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    n_bad = removed.join(with_neighbor, "id", "left_anti").agg(
        F.count("*").alias("_n_bad")
    )
    n_orphan_reps = (
        sd.select(F.col("cluster_id").alias("id"))
        .distinct()
        .join(kept, "id", "left_anti")
        .agg(F.count("*").alias("_n_orph"))
    )
    return (
        sd.agg(F.count("*").alias("n_total"))
        .crossJoin(n_bad)
        .crossJoin(n_orphan_reps)
        .select(
            "n_total",
            (F.col("_n_bad") == 0).alias("removed_all_near_dups"),
            (F.col("_n_orph") == 0).alias("reps_all_kept"),
        )
    )


SEMANTIC_DEDUP_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
       TRUE AS removed_all_near_dups,
       TRUE AS reps_all_kept
FROM embeddings
"""


CLASSIFIER_SQL = f"""
WITH w AS (SELECT i AS bucket, {_hash32_sql("i")} AS weight_q
           FROM range(4096) t(i)),
tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
b AS (SELECT doc_id,
             CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT)
               % 4096 AS bucket
      FROM tok),
s AS (SELECT doc_id, SUM(weight_q) AS sq, COUNT(*) AS n
      FROM b JOIN w USING (bucket) GROUP BY doc_id)
SELECT doc_id,
       ROUND(1.0 / (1.0 + exp(-(sq / (n * 4294967296.0) - 0.5))), 6)
         AS score,
       (1.0 / (1.0 + exp(-(sq / (n * 4294967296.0) - 0.5)))) >= 0.5
         AS keep
FROM s
"""


def quality_percentile_docs(spark, sf_dir):
    """Per-source percentile curation (operators/scoring.py
    percentile_filter_by_group): classifier-score every doc with the
    deterministic synthetic model, then keep the top 25% WITHIN each
    source — the CCNet/FineWeb per-group normalization. The cutoff
    comes from a per-(source, quantized-score) histogram (running
    count touches one row per distinct score per source, never a
    per-doc window), broadcast back as an O(sources) frame."""
    d = _t(spark, sf_dir, "documents")
    w = SC.synthetic_weights(spark, 4096)
    scored = SC.score_documents(d, w, 4096).join(
        d.select("doc_id", "source"), "doc_id"
    )
    return SC.percentile_filter_by_group(
        scored, group_col="source", score_col="score", keep_frac=0.25
    )


QUALITY_PCT_SQL = f"""
WITH w AS (SELECT i AS bucket, {_hash32_sql("i")} AS weight_q
           FROM range(4096) t(i)),
tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
b AS (SELECT doc_id,
             CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT)
               % 4096 AS bucket
      FROM tok),
s AS (SELECT doc_id, SUM(weight_q) AS sq, COUNT(*) AS n
      FROM b JOIN w USING (bucket) GROUP BY doc_id),
sc AS (SELECT s.doc_id, d.source,
              ROUND(1.0 / (1.0 + exp(-(sq / (n * 4294967296.0) - 0.5))),
                    6) AS score
       FROM s JOIN documents d USING (doc_id)),
q AS (SELECT doc_id, source, score,
             CAST(ROUND(score * 1000000.0) AS BIGINT) AS qs
      FROM sc),
hist AS (SELECT source, qs, COUNT(*) AS c FROM q GROUP BY source, qs),
cum AS (SELECT source, qs,
               SUM(c) OVER (PARTITION BY source ORDER BY qs DESC
                            ROWS UNBOUNDED PRECEDING) AS cumc
        FROM hist),
tot AS (SELECT source, COUNT(*) AS n FROM q GROUP BY source),
cut AS (SELECT source, MAX(qs) AS cutoff
        FROM cum JOIN tot USING (source)
        WHERE cumc >= CEIL(0.25 * n) GROUP BY source)
SELECT doc_id, source, score, qs >= cutoff AS keep
FROM q JOIN cut USING (source)
"""


def dedup_incremental_docs(spark, sf_dir):
    """Incremental near-dup detection vs a persistent band store
    (operators/dedup.py incremental_minhash_dedup): feed the corpus
    in two batches and assert the per-batch pair union equals the
    one-shot LSH result — the order-independence invariant that makes
    recompute-free growth sound. Emits (n_pairs,
    incremental_matches_oneshot); DuckDB recomputes n_pairs from the
    exact all-pairs n-gram definition and pins the flag. The band
    store lives in a fresh temp dir per call (gate is idempotent)
    and is removed before returning — safe because the per-batch
    pairs are eagerly localCheckpoint-ed inside the operator, so the
    returned plan never re-reads the store."""
    import shutil
    import tempfile

    d = _t(spark, sf_dir, "documents")
    b1 = d.filter(F.col("doc_id") % 2 == 0)
    b2 = d.filter(F.col("doc_id") % 2 != 0)
    tmp = tempfile.mkdtemp(prefix="incr_bands_")
    store = tmp + "/bands"
    kwargs = dict(n=3, num_hashes=64, bands=32, threshold=0.5)
    try:
        p1 = D.incremental_minhash_dedup(b1, store, old_docs=None, **kwargs)
        p2 = D.incremental_minhash_dedup(b2, store, old_docs=b1, **kwargs)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    incremental = p1.select("id_a", "id_b").unionByName(
        p2.select("id_a", "id_b")
    )
    oneshot = _minhash_pairs(spark, sf_dir).select("id_a", "id_b")
    return _incremental_vs_oneshot_gate(incremental, oneshot)


DEDUP_INCREMENTAL_SQL = f"""
WITH pairs AS ({DEDUP_NGRAM_SQL})
SELECT COUNT(*) AS n_pairs, TRUE AS incremental_matches_oneshot FROM pairs
"""


def stream_incremental_dedup_docs(spark, sf_dir):
    """Streaming twin of the incremental band-store dedup
    (streaming/ingest.py stream_incremental_dedup): the corpus is
    re-played as a 2-file JSON stream, each micro-batch signatures
    only ITS documents and joins the accumulated band store
    (foreachBatch — the store is the durable artifact the nightly
    batch path shares), and the cumulative pair union must equal the
    one-shot LSH result. The order-independence invariant pinned for
    the batch incremental path is what licenses the arbitrary
    micro-batch split. Same oracle as dedup_incremental_docs: DuckDB
    recomputes n_pairs from the exact all-pairs n-gram truth and
    pins the flag."""
    import shutil
    import tempfile

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.streaming.ingest import (
        run_available_now,
        stream_incremental_dedup,
    )

    d = _t(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="stream_incr_")
    src = tmp + "/src"
    try:
        # two source files → two micro-batches at maxFilesPerTrigger=1
        d.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
            "append"
        ).json(src)
        d.filter(F.col("doc_id") % 2 != 0).coalesce(1).write.mode(
            "append"
        ).json(src)
        schema = spark.read.json(src).schema
        q = stream_incremental_dedup(
            spark,
            source_path=src,
            store_path=tmp + "/bands",
            corpus_sink=tmp + "/corpus",
            pairs_sink=tmp + "/pairs",
            checkpoint_path=tmp + "/chk",
            schema=schema,
            reader_options={"maxFilesPerTrigger": "1"},
            n=3,
            num_hashes=64,
            bands=32,
            threshold=0.5,
        )
        run_available_now(q)
        # explicit schema: a ≤1-doc corpus emits zero pairs, so the
        # sink dir exists but holds no parquet footers and inference
        # would raise UNABLE_TO_INFER_SCHEMA (degenerate-corpus
        # probe); the schema'd read returns the correct empty frame
        incremental = (
            spark.read.schema("id_a bigint, id_b bigint")
            .parquet(tmp + "/pairs")
            .select("id_a", "id_b")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    oneshot = _minhash_pairs(spark, sf_dir).select("id_a", "id_b")
    return _incremental_vs_oneshot_gate(incremental, oneshot)


def _incremental_vs_oneshot_gate(incremental, oneshot):
    """(n_pairs, incremental_matches_oneshot) compare frame shared by
    the incremental-dedup gates and their sampled sf0.1 twins."""
    missing = oneshot.join(incremental, ["id_a", "id_b"], "left_anti").agg(
        F.count("*").alias("n_missing")
    )
    extra = incremental.join(oneshot, ["id_a", "id_b"], "left_anti").agg(
        F.count("*").alias("n_extra")
    )
    total = oneshot.agg(F.count("*").alias("n_pairs"))
    return (
        total.crossJoin(missing)
        .crossJoin(extra)
        .select(
            "n_pairs",
            ((F.col("n_missing") == 0) & (F.col("n_extra") == 0)).alias(
                "incremental_matches_oneshot"
            ),
        )
    )


def dedup_incremental_docs_sf01(spark, sf_dir):
    """Bounded-sample sf0.1 twin of the incremental band-store dedup
    gate (r10 verdict task #3 — the last excluded operators with no
    sf0.1 evidence): replay the doc_id%10==0 sample of the sf0.1
    corpus through incremental_minhash_dedup in two batches
    (doc_id%20 == 0 then == 10) and assert the per-batch pair union
    equals the one-shot LSH result over the same sample. The
    full-corpus gate stays sf0.1-excluded because its exact all-pairs
    n-gram ORACLE is quadratic (5000 docs → 12.5M DuckDB
    list-intersect pairs); the 500-doc sample keeps the identical
    operator + order-independence invariant at 1/100th the oracle
    cost. Reads sf0.1 on both sides regardless of the driver's sf
    parameter (the *_sf01 twin pattern); band store in a fresh temp
    dir per call, removed before returning (safe — per-batch pairs
    are eagerly localCheckpoint-ed inside the operator)."""
    import shutil
    import tempfile

    d = _docs_sf01_sample(spark)
    b1 = d.filter(F.col("doc_id") % 20 == 0)
    b2 = d.filter(F.col("doc_id") % 20 == 10)
    tmp = tempfile.mkdtemp(prefix="incr_bands_sf01_")
    store = tmp + "/bands"
    kwargs = dict(n=3, num_hashes=64, bands=32, threshold=0.5)
    try:
        p1 = D.incremental_minhash_dedup(b1, store, old_docs=None, **kwargs)
        p2 = D.incremental_minhash_dedup(b2, store, old_docs=b1, **kwargs)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    incremental = p1.select("id_a", "id_b").unionByName(
        p2.select("id_a", "id_b")
    )
    oneshot = _minhash_pairs_sf01_sample(spark).select("id_a", "id_b")
    return _incremental_vs_oneshot_gate(incremental, oneshot)


DEDUP_INCREMENTAL_SF01_SQL = f"""
WITH pairs AS ({DEDUP_MINHASH_SF01_SQL})
SELECT COUNT(*) AS n_pairs, TRUE AS incremental_matches_oneshot FROM pairs
"""


def stream_incremental_dedup_docs_sf01(spark, sf_dir):
    """Bounded-sample sf0.1 twin of the STREAMING incremental dedup
    gate (r10 verdict task #3): the doc_id%10==0 sample of the sf0.1
    corpus re-played as a 2-file JSON stream through
    stream_incremental_dedup (foreachBatch band store), cumulative
    pair union checked against the sampled one-shot LSH result. Same
    sampled exact-truth oracle as dedup_incremental_docs_sf01."""
    import shutil
    import tempfile

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.streaming.ingest import (
        run_available_now,
        stream_incremental_dedup,
    )

    d = _docs_sf01_sample(spark)
    tmp = tempfile.mkdtemp(prefix="stream_incr_sf01_")
    src = tmp + "/src"
    try:
        # two source files → two micro-batches at maxFilesPerTrigger=1
        d.filter(F.col("doc_id") % 20 == 0).coalesce(1).write.mode(
            "append"
        ).json(src)
        d.filter(F.col("doc_id") % 20 == 10).coalesce(1).write.mode(
            "append"
        ).json(src)
        schema = spark.read.json(src).schema
        q = stream_incremental_dedup(
            spark,
            source_path=src,
            store_path=tmp + "/bands",
            corpus_sink=tmp + "/corpus",
            pairs_sink=tmp + "/pairs",
            checkpoint_path=tmp + "/chk",
            schema=schema,
            reader_options={"maxFilesPerTrigger": "1"},
            n=3,
            num_hashes=64,
            bands=32,
            threshold=0.5,
        )
        run_available_now(q)
        incremental = (
            spark.read.parquet(tmp + "/pairs")
            .select("id_a", "id_b")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    oneshot = _minhash_pairs_sf01_sample(spark).select("id_a", "id_b")
    return _incremental_vs_oneshot_gate(incremental, oneshot)


def text_repetition_docs(spark, sf_dir):
    """Gopher-style repetition signals: per-doc top-2-gram fraction
    and duplicate-2-gram fraction (operators/text.py
    repetition_signals — one explode + two shrinking aggregates)."""
    d = _t(spark, sf_dir, "documents")
    return X.repetition_signals(d, n=2)


REPETITION_SQL = f"""
WITH g AS (
  SELECT doc_id,
         unnest(CASE WHEN len({_SQL_TOKENS}) >= 2 THEN
                  [array_to_string(({_SQL_TOKENS})[i:i+1], ' ')
                   for i in range(1, len({_SQL_TOKENS}))]
                ELSE [array_to_string({_SQL_TOKENS}, ' ')] END) AS gram
  FROM documents),
per_gram AS (
  SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_ngrams,
       ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 6) AS top_ngram_frac,
       ROUND(CAST(SUM(cnt) - COUNT(*) AS DOUBLE) / SUM(cnt), 6)
         AS dup_ngram_frac
FROM per_gram GROUP BY doc_id
"""


def dataset_card_docs(spark, sf_dir):
    """Dataset-card accounting (operators/text.py dataset_card):
    per (lang, source) slice — docs, token/char volume, length
    distribution, mean distinct-token ratio. One map-side-combined
    aggregate; the per-doc ratio is quantized so the slice mean is
    partitioning-invariant."""
    d = _t(spark, sf_dir, "documents")
    return X.dataset_card(d)


DATASET_CARD_SQL = f"""
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS n_tokens,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars,
       CAST(MIN(len({_SQL_TOKENS})) AS BIGINT) AS min_tokens,
       quantile_cont(len({_SQL_TOKENS}), 0.5) AS median_tokens,
       CAST(MAX(len({_SQL_TOKENS})) AS BIGINT) AS max_tokens,
       (SUM(CAST(len(list_distinct({_SQL_TOKENS})) AS BIGINT)
             * 1000000 // len({_SQL_TOKENS}))
        // COUNT(*)) / 1000000.0 AS avg_distinct_ratio
FROM documents GROUP BY 1, 2
"""


def decontam_fuzzy_docs(spark, sf_dir):
    """Fuzzy benchmark decontamination (operators/decontam.py
    fuzzy_decontam): corpus docs that are NEAR-duplicates of an
    eval doc (MinHash/LSH + exact Jaccard verify at 0.5 — recall
    1-(1-j²)^32 ≈ 1 for real leaks), catching paraphrased leaks the
    exact n-gram pass misses. Output matches the exact cross-side
    Jaccard oracle."""
    d = _t(spark, sf_dir, "documents")
    return DC.fuzzy_decontam(
        d.filter(F.col("doc_id") % 10 != 0),
        d.filter(F.col("doc_id") % 10 == 0),
        threshold=0.5,
    )


DECONTAM_FUZZY_SQL = f"""
WITH sh AS (SELECT doc_id, {_SQL_SHINGLES} AS s FROM documents),
x AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS bench_id,
         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         / len(list_distinct(list_concat(a.s, b.s))) AS j
  FROM sh a JOIN sh b
    ON a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0)
SELECT doc_id, bench_id, ROUND(j, 6) AS jaccard
FROM x WHERE j >= 0.5
"""


def text_novelty_docs(spark, sf_dir):
    """N-gram novelty scores (operators/text.py novelty_scores):
    per-doc fraction of distinct 3-gram shingles unique to the doc
    corpus-wide — shingle explode → doc-frequency agg → gram-key
    join back, all JVM."""
    d = _t(spark, sf_dir, "documents")
    return X.novelty_scores(d, n=3)


NOVELTY_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest(
    CASE WHEN len({_SQL_TOKENS}) >= 3 THEN
      list_distinct([array_to_string(({_SQL_TOKENS})[i:i+2], ' ')
                     for i in range(1, len({_SQL_TOKENS}) - 1)])
    ELSE [array_to_string({_SQL_TOKENS}, ' ')] END) AS g
  FROM documents),
dfreq AS (SELECT g, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY g)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(COUNT(*) FILTER (df = 1) AS BIGINT) AS n_novel,
       ROUND(CAST(COUNT(*) FILTER (df = 1) AS DOUBLE) / COUNT(*), 6)
         AS novel_frac
FROM sh JOIN dfreq USING (g) GROUP BY doc_id
"""


def drift_tokens_docs(spark, sf_dir):
    """Corpus drift monitor (operators/drift.py token_divergence):
    top-20 tokens driving the Jeffreys divergence between the
    English slice (reference) and the rest (incoming) — quantized
    nonnegative per-token contributions, exact cross-engine."""
    d = _t(spark, sf_dir, "documents")
    return DR.token_divergence(
        d.filter(F.col("lang") == "en"), d.filter(F.col("lang") != "en")
    )


DRIFT_SQL = f"""
WITH a AS (
  SELECT token, COUNT(*) AS n_ref FROM (
    SELECT unnest({_SQL_TOKENS}) AS token FROM documents
    WHERE lang = 'en') WHERE token <> '' GROUP BY token),
b AS (
  SELECT token, COUNT(*) AS n_new FROM (
    SELECT unnest({_SQL_TOKENS}) AS token FROM documents
    WHERE lang <> 'en') WHERE token <> '' GROUP BY token),
j AS (
  SELECT COALESCE(a.token, b.token) AS token,
         COALESCE(n_ref, 0) AS n_ref, COALESCE(n_new, 0) AS n_new
  FROM a FULL OUTER JOIN b ON a.token = b.token),
t AS (SELECT SUM(n_ref) AS tr, SUM(n_new) AS tn, COUNT(*) AS v FROM j)
SELECT token, CAST(n_ref AS BIGINT) AS n_ref,
       CAST(n_new AS BIGINT) AS n_new,
       CAST(ROUND(((n_ref + 1.0) / (tr + v) - (n_new + 1.0) / (tn + v))
                  * ln(((n_ref + 1.0) / (tr + v))
                       / ((n_new + 1.0) / (tn + v)))
                  * 1000000000000.0) AS BIGINT) AS contrib
FROM j, t ORDER BY contrib DESC, token LIMIT 20
"""


def ccnet_buckets_docs(spark, sf_dir):
    """CCNet head/middle/tail perplexity bucketing (operators/lm.py
    perplexity_buckets): discrete integer order-statistic cutoffs
    over the quantized perplexity — exact, engine-identical bucket
    assignment — with per-bucket accounting."""
    d = _t(spark, sf_dir, "documents")
    return LM.perplexity_buckets(d, n_buckets=3)


CCNET_BUCKETS_SQL = f"""
WITH ppl AS (
  SELECT doc_id,
         CAST(ROUND(perplexity * 1000000.0) AS BIGINT) AS qp
  FROM ({LM_PERPLEXITY_SQL}) WHERE n_bigrams > 0),
n AS (SELECT COUNT(*) AS n FROM ppl),
hist AS (SELECT qp, COUNT(*) AS c FROM ppl GROUP BY qp),
cum AS (
  SELECT qp, SUM(c) OVER (ORDER BY qp
             ROWS UNBOUNDED PRECEDING) AS cumc FROM hist),
t AS (
  SELECT MIN(CASE WHEN cumc >= CEIL(1.0 * n / 3) THEN qp END) AS t1,
         MIN(CASE WHEN cumc >= CEIL(2.0 * n / 3) THEN qp END) AS t2
  FROM cum, n)
SELECT CAST(CASE WHEN qp <= t1 THEN 1
                 WHEN qp <= t2 THEN 2 ELSE 3 END AS INT) AS bucket,
       COUNT(*) AS n_docs,
       ROUND(SUM(qp) / (COUNT(*) * 1000000.0), 6) AS avg_perplexity,
       ROUND(MIN(qp) / 1000000.0, 6) AS min_perplexity,
       ROUND(MAX(qp) / 1000000.0, 6) AS max_perplexity
FROM ppl, t GROUP BY 1
"""


def _sf01_docs_twin(sql: str, n_refs: int) -> str:
    """Oracle twin for an sf0.1-pinned gate: swap every `documents`
    table reference for the absolute sf0.1 parquet path so DuckDB
    bypasses the driver's sf0.01 views and both engines see
    identical input (the CCNET_BUCKETS_SF01_SQL pattern,
    generalized). The reference count is asserted so a future SQL
    edit cannot silently leave part of the oracle reading the wrong
    SF. str.replace never rescans replaced text, so the
    'documents.parquet' inside the replacement is safe."""
    assert sql.count("documents") == n_refs, (sql.count("documents"), n_refs)
    return sql.replace(
        "documents",
        "read_parquet('/root/testdata/sf0.1/documents.parquet')",
    )


# (ccnet_buckets_docs_sf01 retired r12 — COVERAGE.md ledger: the
# parent gate's identical definition is value-verified at sf0.1 AND
# on the 10× union fixture, tranche 2, superseding the fixed-path
# driver twin.)


def hard_negatives_vecs(spark, sf_dir):
    """Contrastive hard-negative mining (operators/similarity.py
    hard_negative_topk): per query vector, the top-3 most similar
    corpus vectors with a different label — broadcast query cross
    join + higher-order cosine + one window, all JVM."""
    e = _t(spark, sf_dir, "embeddings")
    return S.hard_negative_topk(e, query_ids=list(range(10)), k=3)


HARD_NEG_SQL = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec, label
           FROM embeddings),
q AS (SELECT vec_id AS q_id, vec AS q_vec, label AS q_label
      FROM v WHERE vec_id < 10),
scored AS (
  SELECT q.q_id, n.vec_id AS n_id,
         ROUND(list_dot_product(q.q_vec, n.vec)
               / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                  * sqrt(list_dot_product(n.vec, n.vec))), 6) AS cosine
  FROM q JOIN v n ON n.label <> q.q_label)
SELECT q_id, n_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT q_id, n_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cosine DESC, n_id) AS rank
  FROM scored) WHERE rank <= 3
"""


def triplet_mining_vecs(spark, sf_dir):
    """Contrastive triplet export (operators/similarity.py
    triplet_mining): per anchor its hardest positive (nearest
    same-label) and hardest negative (nearest cross-label) with the
    triplet margin — two Arrow local-top-k corpus scans reduced to
    |Q| rows each, JVM rounded-cosine rerank on the candidates, one
    tiny join. A negative margin flags a likely mislabel."""
    e = _t(spark, sf_dir, "embeddings")
    return S.triplet_mining(e, query_ids=list(range(10)))


TRIPLET_SQL = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec, label
           FROM embeddings),
q AS (SELECT vec_id AS q_id, vec AS q_vec, label AS q_label
      FROM v WHERE vec_id < 10),
scored AS (
  SELECT q.q_id, n.vec_id AS n_id, n.label AS n_label, q.q_label,
         ROUND(list_dot_product(q.q_vec, n.vec)
               / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                  * sqrt(list_dot_product(n.vec, n.vec))), 6) AS cosine
  FROM q JOIN v n ON n.vec_id != q.q_id),
pos AS (SELECT q_id, n_id AS pos_id, cosine AS pos_cosine FROM (
  SELECT q_id, n_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cosine DESC, n_id) AS r
  FROM scored WHERE n_label = q_label) WHERE r = 1),
neg AS (SELECT q_id, n_id AS neg_id, cosine AS neg_cosine FROM (
  SELECT q_id, n_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cosine DESC, n_id) AS r
  FROM scored WHERE n_label <> q_label) WHERE r = 1)
SELECT q_id AS anchor_id, pos_id, neg_id, pos_cosine, neg_cosine,
       ROUND(pos_cosine - neg_cosine, 6) AS margin
FROM pos JOIN neg USING (q_id)
"""


def purge_audit_docs(spark, sf_dir):
    """Right-to-be-forgotten purge audit (operators/governance.py
    purge_audit): a takedown names doc ids, the obligation attaches
    to the CONTENT — ids expand to normalized-content fingerprints
    and every copy is flagged via one broadcast anti/semi join.
    Per-source before/removed/after counts; the removal set is the
    deterministic doc_id ≡ 0 (mod 97) sample."""
    d = _t(spark, sf_dir, "documents")
    return GV.purge_audit(d, list(range(0, 10000, 97)))


PURGE_AUDIT_SQL = """
-- coalesce mirrors governance.content_fingerprint: a NULL-text doc
-- fingerprints as the empty string instead of a never-matching NULL
WITH seeds AS (
  SELECT DISTINCT md5(lower(trim(coalesce(text, '')))) AS fp
  FROM documents
  WHERE doc_id % 97 = 0 AND doc_id >= 0 AND doc_id < 10000),
f AS (SELECT source, md5(lower(trim(coalesce(text, '')))) AS fp
      FROM documents)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN fp IN (SELECT fp FROM seeds)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_purged,
       CAST(SUM(CASE WHEN fp IN (SELECT fp FROM seeds)
                THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
FROM f GROUP BY source
"""


def cdc_chunks_docs(spark, sf_dir):
    """Content-defined chunking block-dedup audit (operators/
    packing.py cdc_chunk_stats): word-aligned hash-of-trailing-
    window boundaries (insertion-robust, unlike fixed blocks; the
    whitespace precondition short-circuits the hash), per-source
    chunk dedup ratio + mean chunk length. Map-side chunking, one
    (source, chunk-hash)-keyed distinct aggregate."""
    d = _t(spark, sf_dir, "documents")
    return P_pack.cdc_chunk_stats(d, window=16, divisor=64)


CDC_CHUNKS_SQL = """
WITH b1 AS (
  SELECT source, text, length(text) AS n,
         CASE WHEN length(text) >= 16 THEN
           [p for p in range(16, length(text) + 1)
            if substr(text, CAST(p AS INT), 1)
                 IN (' ', chr(9), chr(10), chr(12), chr(13))
               AND CAST(concat('0x', substr(md5(substr(text, CAST(p AS INT) - 15, 16)), 1, 8))
                    AS BIGINT) % 64 = 0]
         ELSE CAST([] AS BIGINT[]) END AS cuts
  FROM documents),
b2 AS (
  SELECT source, text,
         list_prepend(CAST(1 AS BIGINT),
                      [c + 1 for c in cuts]) AS starts,
         list_append(cuts, CAST(n AS BIGINT)) AS ends
  FROM b1),
ch AS (
  SELECT source, chunk FROM (
    SELECT source,
           unnest([substr(text, CAST(starts[i] AS INT),
                          CAST(ends[i] - starts[i] + 1 AS INT))
                   for i in range(1, len(starts) + 1)]) AS chunk
    FROM b2)
  WHERE length(chunk) > 0),
agg AS (
  SELECT source, COUNT(*) AS n_chunks,
         COUNT(DISTINCT md5(chunk)) AS n_distinct,
         SUM(length(chunk)) AS chars
  FROM ch GROUP BY source),
d AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_chunks AS BIGINT) AS n_chunks,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       CAST(((n_chunks - n_distinct) * 1000000) // n_chunks AS BIGINT)
         AS dup_ratio_q,
       CAST((chars * 1000000) // n_chunks AS BIGINT) AS avg_chunk_len_q
FROM agg JOIN d USING (source)
"""


def gopher_filter_docs(spark, sf_dir):
    """Gopher-style composite quality filter (operators/text.py
    gopher_filter): the rule-chain curation pass — keep/drop per
    doc plus sorted drop reasons, built from the closed-form
    quality features joined with the repetition aggregate in one
    plan."""
    d = _t(spark, sf_dir, "documents")
    return X.gopher_filter(d)


GOPHER_FILTER_SQL = f"""
WITH q AS (
  SELECT doc_id,
         CAST(len({_SQL_TOKENS}) AS INT) AS n_tokens,
         CAST(LENGTH(text) AS DOUBLE) / len({_SQL_TOKENS}) AS avg_tl,
         CAST(LENGTH(text)
              - LENGTH(REGEXP_REPLACE(text, '[a-zA-Z]', '', 'g'))
              AS DOUBLE) / LENGTH(text) AS alpha,
         CAST(len(list_filter({_SQL_TOKENS},
              t -> list_contains(['the','of','and','to','in','is','that',
                                  'it','for','was'], t))) AS DOUBLE)
              / len({_SQL_TOKENS}) AS stopr
  FROM documents),
g AS (
  SELECT doc_id,
         unnest(CASE WHEN len({_SQL_TOKENS}) >= 2 THEN
                  [array_to_string(({_SQL_TOKENS})[i:i+1], ' ')
                   for i in range(1, len({_SQL_TOKENS}))]
                ELSE [array_to_string({_SQL_TOKENS}, ' ')] END) AS gram
  FROM documents),
pg AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram),
r AS (
  SELECT doc_id,
         CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) AS topf,
         CAST(SUM(cnt) - COUNT(*) AS DOUBLE) / SUM(cnt) AS dupf
  FROM pg GROUP BY doc_id),
flags AS (
  SELECT q.doc_id, n_tokens,
         list_sort(list_filter([
           CASE WHEN ROUND(avg_tl, 6) < 3 OR ROUND(avg_tl, 6) > 10
                THEN 'bad_token_len' END,
           CASE WHEN ROUND(alpha, 6) < 0.6 THEN 'low_alpha' END,
           CASE WHEN ROUND(stopr, 6) < 0.01 THEN 'low_stopword' END,
           CASE WHEN ROUND(topf, 6) > 0.20 OR ROUND(dupf, 6) > 0.60
                THEN 'repetitive' END,
           CASE WHEN n_tokens > 100000 THEN 'too_long' END,
           CASE WHEN n_tokens < 40 THEN 'too_short' END
         ], x -> x IS NOT NULL)) AS rs
  FROM q JOIN r ON q.doc_id = r.doc_id)
SELECT doc_id, n_tokens, len(rs) = 0 AS keep,
       COALESCE(array_to_string(rs, ','), '') AS reasons
FROM flags
"""


_MIX_FRACTIONS = {"en": 0.5, "fr": 1.0, "es": 1.0, "de": 1.0, "zh": 0.75}


def mix_sample_docs(spark, sf_dir):
    """Domain-weighted training mix: downsample the head language
    deterministically (multiplicative-hash Bernoulli per doc_id —
    engine-reproducible) and report per-language totals, sampled
    counts, and realized rates in one scan (operators/mixing.py)."""
    d = _t(spark, sf_dir, "documents")
    return MX.mix_report(d, _MIX_FRACTIONS)


def _mix_keep_sql(frac: float) -> str:
    return f"{_hash32_sql('doc_id')} < {int(frac * 2**32)}"


MIX_SAMPLE_SQL = f"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN
         {" OR ".join(f"(lang = '{label}' AND {_mix_keep_sql(frac)})"
                      for label, frac in _MIX_FRACTIONS.items())}
       THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       ROUND(CAST(SUM(CASE WHEN
         {" OR ".join(f"(lang = '{label}' AND {_mix_keep_sql(frac)})"
                      for label, frac in _MIX_FRACTIONS.items())}
       THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS realized_rate
FROM documents GROUP BY lang
"""


def seq_packing_docs(spark, sf_dir):
    """Sequence packing into 256-token training sequences
    (partition-local greedy first-fit, operators/packing.py). The
    pack assignment is partitioning-specific, so the gate emits the
    DuckDB-recomputable invariants: corpus totals + well-formedness
    flags (multi-doc packs within budget, every doc packed once)."""
    d = _t(spark, sf_dir, "documents")
    return P_pack.packing_invariants(
        P_pack.pack_sequences(d, max_tokens=256), max_tokens=256
    )


SEQ_PACKING_SQL = f"""
SELECT COUNT(*) AS n_docs,
       CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS total_tokens,
       TRUE AS packs_within_budget,
       TRUE AS docs_packed_once
FROM documents
"""


def pack_boundaries_docs(spark, sf_dir):
    """Trainer pack manifest (operators/packing.py pack_boundaries):
    per-pack ordered doc lists + token boundary offsets — the
    block-diagonal attention-mask contract. Pack ids are
    partitioning-specific, so the gate emits the DuckDB-recomputable
    corpus facts plus in-plan well-formedness flags: boundary lists
    strictly increasing from > 0, one boundary per doc, last
    boundary = the pack's token total, totals conserved."""
    d = _t(spark, sf_dir, "documents")
    pb = P_pack.pack_boundaries(P_pack.pack_sequences(d, max_tokens=256))
    ok_shape = (F.size("boundaries") == F.col("n_docs")) & (
        F.size("doc_ids") == F.col("n_docs")
    )
    ok_incr = (
        F.col("boundaries")
        == F.array_sort(F.array_distinct(F.col("boundaries")))
    ) & (F.element_at("boundaries", 1) > 0)
    ok_total = F.element_at("boundaries", -1) == F.col("total_tokens")
    return pb.agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("total_tokens").cast("bigint").alias("total_tokens"),
        F.coalesce(
            F.min(
                F.when(ok_shape & ok_incr & ok_total, 1).otherwise(0)
            )
            == 1,
            F.lit(True),
        ).alias("boundaries_ok"),
    )


PACK_BOUNDARIES_SQL = f"""
SELECT COUNT(*) AS n_docs,
       CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS total_tokens,
       TRUE AS boundaries_ok
FROM documents
"""


# ------------------------------------------------------- text family


def text_quality_docs(spark, sf_dir):
    """Quality-scoring features: lengths, token stats, punctuation/
    alpha/stopword ratios (M4)."""
    d = _t(spark, sf_dir, "documents")
    return X.quality_features(d)


TEXT_QUALITY_SQL = f"""
SELECT doc_id, CAST(LENGTH(text) AS INT) AS n_chars,
       CAST(len({_SQL_TOKENS}) AS INT) AS n_tokens,
       ROUND(CAST(LENGTH(text) AS DOUBLE) / len({_SQL_TOKENS}), 6)
         AS avg_token_len,
       ROUND(CAST(len(list_distinct({_SQL_TOKENS})) AS DOUBLE)
             / len({_SQL_TOKENS}), 6) AS distinct_token_ratio,
       ROUND(CAST(LENGTH(text)
             - LENGTH(REGEXP_REPLACE(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
             / LENGTH(text), 6) AS punct_ratio,
       ROUND(CAST(LENGTH(text)
             - LENGTH(REGEXP_REPLACE(text, '[a-zA-Z]', '', 'g')) AS DOUBLE)
             / LENGTH(text), 6) AS alpha_ratio,
       ROUND(CAST(len(list_filter({_SQL_TOKENS},
             t -> list_contains(['the','of','and','to','in','is','that','it',
                                 'for','was'], t))) AS DOUBLE)
             / len({_SQL_TOKENS}), 6) AS en_stopword_ratio
FROM documents
"""


def text_langid_docs(spark, sf_dir):
    """Heuristic language ID from stopword-hit ratios (en/es/de
    n-gram lexicons), all JVM expressions."""
    d = _t(spark, sf_dir, "documents")
    out = X.language_id(d)
    return out.select("doc_id", "lang", "pred_lang", "hits_en", "hits_es")


_SQL_HITS = {
    lang: (
        f"CAST(len(list_filter({_SQL_TOKENS}, t -> list_contains("
        + "["
        + ", ".join(f"'{w}'" for w in words)
        + "], t))) AS INT)"
    )
    for lang, words in X.STOPWORDS.items()
}

TEXT_LANGID_SQL = f"""
WITH h AS (
  SELECT doc_id, lang,
         {_SQL_HITS['en']} AS hits_en, {_SQL_HITS['es']} AS hits_es,
         {_SQL_HITS['fr']} AS hits_fr, {_SQL_HITS['de']} AS hits_de
  FROM documents
)
SELECT doc_id, lang,
       CASE
         WHEN hits_en = 0 AND hits_es = 0 AND hits_fr = 0 AND hits_de = 0
           THEN 'und'
         WHEN hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_de
           THEN 'en'
         WHEN hits_es >= hits_fr AND hits_es >= hits_de THEN 'es'
         WHEN hits_fr >= hits_de THEN 'fr'
         ELSE 'de'
       END AS pred_lang,
       hits_en, hits_es
FROM h
"""


def text_fingerprint_docs(spark, sf_dir):
    """Deterministic document fingerprint (xxhash64 of normalized
    text) for exact-dup keys."""
    d = _t(spark, sf_dir, "documents")
    return X.fingerprint(d)


TEXT_FINGERPRINT_SQL = f"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct({_SQL_TOKENS})), ' '))
         AS fingerprint
FROM documents
"""


def text_bpe_token_stats(spark, sf_dir):
    """BPE-class token statistics via the Arrow regex tokenizer
    (JVM-twin semantics pinned by property tests)."""
    d = _t(spark, sf_dir, "documents")
    return X.bpe_token_stats(d)


BPE_TOKEN_SQL = f"""
SELECT doc_id,
       CAST(len({_SQL_TOKENS}) AS INT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, ' ?[a-zA-Z]+')) AS INT) AS n_alpha_tokens,
       CAST(len(regexp_extract_all(text, ' ?[0-9]+')) AS INT) AS n_num_tokens,
       CAST(len(regexp_extract_all(text, ' ?[^a-zA-Z0-9\\s]+')) AS INT) AS n_other_tokens,
       CAST(len(regexp_extract_all(text, ' ?[a-zA-Z]+'))
            + len(regexp_extract_all(text, ' ?[0-9]+'))
            + len(regexp_extract_all(text, ' ?[^a-zA-Z0-9\\s]+')) AS INT) AS n_bpe_tokens
FROM documents
"""


def bpe_vocab_docs(spark, sf_dir):
    """BPE tokenizer TRAINING as a driver gate (operators/bpe.py —
    text_bpe_token_stats APPLIES a merge table; this gate LEARNS
    one). Eight merges over the corpus word-type frame; output is
    the ordered merge table (step, left, right, n) — the artifact a
    tokenizer ships. Scale shape: one corpus pass builds the
    vocabulary-bounded type frame; each merge iteration is an
    explode + hash aggregate + 1-row argmax collect on that model-
    sized frame, never a corpus rescan."""
    d = _t(spark, sf_dir, "documents")
    return BP.bpe_merge_table(d, n_merges=8)


def _bpe_stage_ctes(n_merges: int) -> str:
    """The WITH clause shared by _bpe_vocab_sql and _bpe_symbols_sql:
    tokenize -> word-type symbol frame (s0) -> k unrolled merge
    stages (p{i}/b{i}/s{i}). See _bpe_vocab_sql for the semantics
    commentary."""
    us, rs = "chr(31)", "chr(30)"
    sep2 = f"{us} || {us}"
    ctes = [
        f"w0 AS MATERIALIZED (SELECT unnest({_SQL_TOKENS}) AS w"
        " FROM documents)",
        # w <> '' mirrors bpe_train's empty-word-type filter (empty/
        # whitespace-only docs tokenize to [''], where Spark's
        # split('', '') -> [''] and regexp_extract_all -> [] disagree
        # on the symbol frame)
        "s0 AS MATERIALIZED (SELECT"
        " list_append(regexp_extract_all(w, '.'), '</w>')"
        " AS syms, count(*) AS cnt FROM w0 WHERE w <> '' GROUP BY w)",
    ]
    for i in range(1, n_merges + 1):
        p = i - 1
        ctes.append(
            f"p{i} AS MATERIALIZED (SELECT syms[j] AS l, syms[j + 1] AS r,"
            f" CAST(sum(cnt) AS BIGINT) AS n"
            f" FROM (SELECT unnest(range(1, len(syms))) AS j, syms, cnt"
            f" FROM s{p}) GROUP BY 1, 2)"
        )
        ctes.append(
            f"b{i} AS MATERIALIZED (SELECT * FROM (SELECT {i} AS step, l, r, n"
            f" FROM p{i} ORDER BY n DESC, l, r LIMIT 1) WHERE n >= 2)"
        )
        enc = f"{us} || array_to_string(syms, {sep2}) || {us}"
        pat = f"(SELECT {us} || l || {sep2} || r || {us} FROM b{i})"
        rep = f"(SELECT {us} || l || r || {us} FROM b{i})"
        ctes.append(
            f"s{i} AS MATERIALIZED (SELECT string_split(trim(replace({enc},"
            f" coalesce({pat}, {rs}), coalesce({rep}, {rs})), chr(31)),"
            f" {sep2}) AS syms, cnt FROM s{p})"
        )
    return "WITH " + ",\n".join(ctes)


def _bpe_vocab_sql(n_merges: int) -> str:
    """Unrolled DuckDB twin of operators/bpe.bpe_train. SQL has no
    data-dependent loop, so the k merge iterations are k GENERATED
    CTE stages (pure SQL once rendered; k is fixed). Word encoding:
    symbols joined on a \\x1f\\x1f separator with a single \\x1f at
    each end. One ``replace()`` per stage then reproduces the JVM
    fold's greedy left-to-right non-overlapping merge exactly —
    ``replace`` resumes scanning after each substitution, so a just-
    merged token cannot act as the LEFT side of another merge within
    the same pass, which is precisely the fold's pending-reset
    behavior. When a stage's best pair falls under the n>=2 floor
    the coalesce swaps in \\x1e (absent from the corpus) as a no-op
    pattern and the stage's b-CTE is empty — the early-stop twin.
    Every CTE is MATERIALIZED: each s-stage references its
    predecessor three times (directly + twice through the b-stage
    scalar subqueries), so inlined CTEs would re-evaluate the chain
    3^k times — measured as a >2-minute hang at k=8 vs 0.08 s
    materialized. Requires the corpus to contain no \\x1f/\\x1e
    bytes (true of the test corpora; asserted in
    tests/test_operators.py)."""
    union = " UNION ALL ".join(
        f'SELECT step, l AS "left", r AS "right", n FROM b{i}'
        for i in range(1, n_merges + 1)
    )
    return f"{_bpe_stage_ctes(n_merges)}\n{union}"


def _bpe_symbols_sql(n_merges: int, top_k: int) -> str:
    """Oracle twin of operators/bpe.bpe_symbol_stats: reuse the
    training-stage CTEs of ``_bpe_vocab_sql`` (everything up to the
    final union) and aggregate the LAST stage's symbol frame into
    the weighted vocabulary-coverage top-k instead of emitting the
    merge table."""
    return (
        f"{_bpe_stage_ctes(n_merges)}\n"
        "SELECT symbol, CAST(sum(cnt) AS BIGINT) AS n_tokens FROM ("
        f"SELECT unnest(syms) AS symbol, cnt FROM s{n_merges})"
        " GROUP BY symbol"
        f" ORDER BY n_tokens DESC, symbol LIMIT {top_k}"
    )


def _bpe_doc_tokens_ctes(n_merges: int) -> str:
    """Shared CTE chain ending in ``doc_tokens`` (doc_id, n_words,
    n_bpe_tokens) — the training-stage CTEs, a word -> n_symbols map
    recovered from the last stage (concat(syms) minus the sentinel
    reconstructs the original word — merges only concatenate adjacent
    symbols), and one join from the exploded corpus words to that
    map. Used by _bpe_doc_tokens_sql and _bpe_curriculum_sql."""
    return (
        f"{_bpe_stage_ctes(n_merges)},\n"
        f"seg AS MATERIALIZED (SELECT"
        f" left(array_to_string(syms, ''),"
        f" length(array_to_string(syms, '')) - 4) AS w,"
        f" len(syms) AS n_syms FROM s{n_merges}),\n"
        f"cw AS (SELECT doc_id, w FROM (SELECT doc_id,"
        f" unnest({_SQL_TOKENS}) AS w FROM documents) WHERE w <> ''),\n"
        "doc_tokens AS MATERIALIZED (SELECT doc_id,"
        " COUNT(*) AS n_words,"
        " CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens"
        " FROM cw JOIN seg USING (w) GROUP BY doc_id)"
    )


def _bpe_doc_tokens_sql(n_merges: int) -> str:
    """Oracle twin of operators/bpe.bpe_document_tokens."""
    return (
        f"{_bpe_doc_tokens_ctes(n_merges)}\n"
        "SELECT doc_id, n_words, n_bpe_tokens FROM doc_tokens"
    )


def _bpe_curriculum_sql(n_merges: int, n_stages: int) -> str:
    """Oracle twin of mixing.curriculum_stages over the BPE
    sequence-length frame: per-distinct-length histogram, integer
    cumulative-count stage formula (cum·k − 1) // n, per-stage
    rollup."""
    return (
        f"{_bpe_doc_tokens_ctes(n_merges)},\n"
        "hist AS (SELECT n_bpe_tokens AS v, COUNT(*) AS c"
        " FROM doc_tokens GROUP BY 1),\n"
        "cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum,"
        " (SELECT SUM(c) FROM hist) AS n FROM hist),\n"
        f"staged AS (SELECT v,"
        f" CAST((cum * {n_stages} - 1) // n AS INT) AS stage FROM cum)\n"
        "SELECT stage, COUNT(*) AS n_docs,"
        " CAST(SUM(n_bpe_tokens) AS BIGINT) AS total_tokens,"
        " MIN(n_bpe_tokens) AS min_tokens,"
        " MAX(n_bpe_tokens) AS max_tokens"
        " FROM doc_tokens JOIN staged ON n_bpe_tokens = v"
        " GROUP BY stage"
    )


BPE_VOCAB_SQL = _bpe_vocab_sql(8)
BPE_SYMBOLS_SQL = _bpe_symbols_sql(8, 20)
BPE_DOC_TOKENS_SQL = _bpe_doc_tokens_sql(8)
BPE_CURRICULUM_SQL = _bpe_curriculum_sql(8, 4)


def bpe_symbols_docs(spark, sf_dir):
    """Tokenizer vocabulary coverage (operators/bpe.py
    bpe_symbol_stats): the corpus re-segmented by the 8 learned
    merges, top-20 vocabulary symbols by absorbed token count — the
    coverage report that tells you whether k merges earn their vocab
    slots. Shares the training loop (and its scale shape) with
    bpe_vocab_docs."""
    d = _t(spark, sf_dir, "documents")
    return BP.bpe_symbol_stats(d, n_merges=8, top_k=20)


def bpe_doc_tokens_docs(spark, sf_dir):
    """Per-document sequence-length profile under the learned BPE
    vocabulary (operators/bpe.py bpe_document_tokens): word and
    token counts after segmenting with the 8 trained merges — what a
    packing/curriculum stage consumes, computed with the real
    tokenizer instead of a whitespace proxy. One broadcast join from
    the corpus words to the model-sized segmentation map."""
    d = _t(spark, sf_dir, "documents")
    return BP.bpe_document_tokens(d, n_merges=8)


def curriculum_stages_docs(spark, sf_dir):
    """Sequence-length curriculum staging (mixing.curriculum_stages
    over operators/bpe.bpe_document_tokens): every document assigned
    to one of 4 quantile stages of its BPE token count — ties share a
    stage via the integer histogram-cumulative formula, so the split
    is deterministic and engine-identical — then rolled up per stage.
    The histogram window is bounded by distinct lengths, the value →
    stage map broadcasts back; no per-row window anywhere."""
    d = _t(spark, sf_dir, "documents")
    toks = BP.bpe_document_tokens(d, n_merges=8)
    staged = MX.curriculum_stages(toks, "n_bpe_tokens", n_stages=4)
    return (
        staged.groupBy("stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bpe_tokens").cast("bigint").alias("total_tokens"),
            F.min("n_bpe_tokens").alias("min_tokens"),
            F.max("n_bpe_tokens").alias("max_tokens"),
        )
    )


def text_token_freq(spark, sf_dir):
    """Corpus token frequencies: explode -> map-side-combined count
    (the canonical word count), min-count filtered."""
    d = _t(spark, sf_dir, "documents")
    return X.token_frequencies(d, min_count=5)


TOKEN_FREQ_SQL = f"""
SELECT token, COUNT(*) AS n FROM (
  SELECT UNNEST({_SQL_TOKENS}) AS token FROM documents
) WHERE token <> '' GROUP BY token HAVING COUNT(*) >= 5
"""


def agg_countmin_tokens(spark, sf_dir):
    """Count-min sketch heavy hitters (operators/sketch.py): the
    mergeable bounded-memory frequency sketch as a d×w cell-count
    DataFrame (md5 row-salted hashing — engine-portable, so the
    estimates themselves are oracle-checked, not just error flags).
    Output: exact top-20 tokens with CMS estimates and the
    one-sided never-underestimate invariant."""
    d = _t(spark, sf_dir, "documents")
    return SK.heavy_hitters(d, top_k=20, depth=4, width=512)


COUNTMIN_SQL = f"""
WITH toks AS (SELECT UNNEST({_SQL_TOKENS}) AS token FROM documents),
cells AS (
  SELECT j, CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR),
                ':', token)), 1, 8)) AS BIGINT) % 512 AS cell,
         COUNT(*) AS n
  FROM toks, (SELECT UNNEST([0, 1, 2, 3]) AS j)
  GROUP BY j, cell),
exact AS (
  SELECT token, COUNT(*) AS exact_n FROM toks
  GROUP BY token ORDER BY exact_n DESC, token LIMIT 20),
est AS (
  SELECT token, MIN(COALESCE(n, 0)) AS cms_est FROM (
    SELECT e.token, j.j,
           CAST(concat('0x', substr(md5(concat(CAST(j.j AS VARCHAR),
                 ':', e.token)), 1, 8)) AS BIGINT) % 512 AS cell
    FROM exact e, (SELECT UNNEST([0, 1, 2, 3]) AS j) j) p
  LEFT JOIN cells USING (j, cell) GROUP BY token)
SELECT exact.token, exact_n, CAST(cms_est AS BIGINT) AS cms_est,
       cms_est >= exact_n AS never_underest
FROM exact JOIN est USING (token)
ORDER BY exact_n DESC, exact.token
"""


def shard_manifest_docs(spark, sf_dir):
    """Training-shard manifest (operators/packing.py
    shard_manifest): deterministic hash32 doc → shard assignment
    over 16 shards plus per-shard doc/token accounting — the
    contract a trainer checks before consuming the export. One
    map-side-combined aggregate."""
    d = _t(spark, sf_dir, "documents")
    return P_pack.shard_manifest(d, 16)


SHARD_MANIFEST_SQL = f"""
SELECT CAST({_hash32_sql("doc_id")} % 16 AS INTEGER) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM documents GROUP BY 1
"""


def sim_topk_rp(spark, sf_dir):
    """Project-shortlist-rerank ANN: JL-project to 32 dims
    (operators/projection.py), take a per-query shortlist of 100 in
    the cheap reduced space, then exact-rerank ONLY the shortlist
    in full 64-dim space — the standard two-stage pattern where the
    expensive scan touches 32/64 of the bytes and the exact math
    touches shortlist/corpus of the rows. Direct top-5 in projected
    space is NOT enough on near-random fixtures (measured 0.10-0.18
    recall: top-5 cosine margins are smaller than JL's ε at these
    dims); the shortlist+rerank recall is 0.72 at sf0.01, verified
    by the same recall-gate contract as LSH/IVF. Size the shortlist
    ∝ corpus for other SFs."""
    e = _t(spark, sf_dir, "embeddings")
    # project ONCE and persist — operationally the projected frame
    # is written to storage and reused; recomputing the 32
    # higher-order aggregates per consumer doubles the scan cost.
    # Lifecycle: caller-owned (driver collects then exits); blocks
    # are LRU-evictable so repeated invocations recompute at worst.
    proj = PJ.rp_project(e, d_in=64, d_out=32).persist()
    pvec = F.array(*[F.col(f"p{k}").cast("double") for k in range(32)])
    # Stage-1 shortlist via the Arrow local-top-k kernel
    # (operators/similarity.py local_topk_scored): ONE mapInPandas
    # scan of the projected corpus, per-batch matmul + argpartition,
    # so the global rank sees only partitions×|Q|×100 rows. The
    # previous shape — Window.partitionBy(q_id) over the N·Q scored
    # frame — shuffled every corpus row into |Q| tasks (per-task
    # O(N)), the round-5 verdict's #1 plan defect; now no
    # full-corpus exchange exists anywhere in this plan (pinned by
    # tests/test_plans.py::test_ann_shortlists_have_no_nlj).
    shortlist = S.brute_force_topk(
        proj.select("vec_id", pvec.alias("pvec")),
        query_ids=list(range(10)),
        k=100,
        vec_col="pvec",
    ).select("q_id", "n_id")
    # exact rerank in FULL space, restricted to the shortlist; the
    # |Q|×100 shortlist is broadcast into the narrow corpus scan
    dvec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    full = e.select(F.col("vec_id").alias("n_id"), dvec.alias("fn_vec"))
    fullq = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), dvec.alias("fq_vec")
    )
    rerank = (
        full.join(F.broadcast(shortlist), ["n_id"])
        .join(F.broadcast(fullq), ["q_id"])
        .select(
            "q_id",
            "n_id",
            S.cosine_col(F.col("fq_vec"), F.col("fn_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("n_id").asc()
    )
    approx = (
        rerank.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_id", "n_id")
    )
    return _ann_recall_gate(spark, sf_dir, approx)


def tfidf_keywords_docs(spark, sf_dir):
    """Per-doc TF-IDF keyword extraction (operators/search.py
    tfidf_keywords): top-5 terms by ln-smoothed TF-IDF, reusing the
    BM25 index frames; scores quantized before ranking so the
    selected keywords are engine-identical."""
    d = _t(spark, sf_dir, "documents")
    return SR.tfidf_keywords(
        d, topk=5, index=_term_index(spark, sf_dir)
    )


TFIDF_SQL = f"""
WITH tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents)
  GROUP BY doc_id, term),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM dl),
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND((tf.tf / dl.dl)
               * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0), 6) AS score
  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
  JOIN dfreq ON tf.term = dfreq.term, n)
SELECT doc_id, CAST(rank AS INT) AS rank, term, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term) AS rank
  FROM scored) WHERE rank <= 5
"""


def rp_project_vecs(spark, sf_dir):
    """Johnson-Lindenstrauss sign projection 64 → 16 dims
    (operators/projection.py rp_project): the ±1 matrix regenerates
    from md5(k:j) on any engine, components are exact integer sums
    of quantized terms — one scan, zero shuffle, no stored matrix."""
    e = _t(spark, sf_dir, "embeddings")
    return PJ.rp_project(e, d_in=64, d_out=16)


def _rp_sql() -> str:
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.projection import (
        sign_matrix,
    )

    cols = []
    for k, signs in enumerate(sign_matrix(64, 16)):
        arr = "[" + ", ".join(str(s) for s in signs) + "]"
        cols.append(
            f"CAST(list_sum([CAST(ROUND(CAST(embedding[j] AS DOUBLE)"
            f" * 1000000.0) AS BIGINT) * ({arr}[j])"
            f" for j in range(1, 65)]) AS BIGINT) AS p{k}"
        )
    return "SELECT vec_id, " + ", ".join(cols) + " FROM embeddings"


RP_PROJECT_SQL = _rp_sql()


def hll_incremental_orders(spark, sf_dir):
    """Mergeable HLL distinct-count lifecycle (operators/sketch.py
    hll_incremental_distinct): per-batch sketches union into the
    corpus estimate without revisiting raw data; the gate pins
    union ≈ one-shot (2% — DataSketches unions retarget register
    format, so not bit-exact) and a 5% error bound against the
    exact per-priority distinct customer count."""
    o = _t(spark, sf_dir, "orders")
    return SK.hll_incremental_distinct(
        o, "o_orderpriority", "o_custkey", F.col("o_orderkey") % 4
    )


HLL_INCREMENTAL_SQL = """
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS exact_distinct,
       TRUE AS union_within_2pct,
       TRUE AS within_5pct
FROM orders GROUP BY 1
"""


def dsir_resample_docs(spark, sf_dir):
    """DSIR importance resampling (operators/dsir.py, Xie et al.
    2023): select 50 docs whose hashed-ngram distribution looks
    like the English subcorpus — add-1 target/raw bucket models,
    quantized-integer log-ratio sums, derandomized Gumbel top-k.
    Fully deterministic: same 50 docs on any engine, any
    partitioning."""
    d = _t(spark, sf_dir, "documents")
    # Predicate-form target: both bucket models build in ONE corpus
    # scan (conditional count) instead of two.
    return DS.dsir_sample(d, F.col("lang") == "en", k=50, n_buckets=4096)


DSIR_SQL = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
feats AS (
  SELECT doc_id, f FROM (
    SELECT doc_id, unnest(t) AS f FROM toks
    UNION ALL
    SELECT doc_id, u.w1 || ' ' || u.w2 AS f
    FROM (SELECT doc_id,
                 unnest([{{'w1': t[i], 'w2': t[i+1]}}
                         for i in range(1, len(t))]) AS u
          FROM toks WHERE len(t) >= 2)
  ) WHERE f <> ''),
fb AS (SELECT doc_id,
              CAST(concat('0x', substr(md5(f), 1, 8)) AS BIGINT)
              % 4096 AS bucket
       FROM feats),
rc AS (SELECT bucket, COUNT(*) AS cr FROM fb GROUP BY bucket),
tc AS (SELECT bucket, COUNT(*) AS ct
       FROM fb JOIN documents USING (doc_id)
       WHERE lang = 'en' GROUP BY bucket),
nt AS (SELECT COALESCE(SUM(ct), 0) AS nt FROM tc),
nr AS (SELECT COALESCE(SUM(cr), 0) AS nr FROM rc),
ratio AS (
  SELECT rc.bucket,
         CAST(ROUND((ln((COALESCE(ct, 0) + 1.0) / (nt + 4096.0))
                     - ln((cr + 1.0) / (nr + 4096.0)))
                    * 1000000.0) AS BIGINT) AS qlr
  FROM rc LEFT JOIN tc USING (bucket), nt, nr),
w AS (
  SELECT fb.doc_id, COUNT(*) AS n_feats, SUM(qlr) AS logw
  FROM fb JOIN ratio USING (bucket) GROUP BY fb.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(n_feats, 0) AS BIGINT) AS n_feats,
       CAST(COALESCE(logw, 0) AS BIGINT) AS logw,
       ROUND(COALESCE(logw, 0) / 1000000.0
             - ln(-ln(({_hash32_sql("d.doc_id")} + 0.5)
                      / 4294967296.0)), 6) AS key
FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id
ORDER BY key DESC, d.doc_id LIMIT 50
"""


def quality_percentile_docs_sf01(spark, sf_dir):
    """SF-robustness driver gate (r07 verdict task #6): per-source
    percentile curation at sf0.1 — the per-(source, quantized-score)
    histogram cutoffs move with 10× more docs per source, stressing
    the cumulative-count tie handling at the keep boundary."""
    return quality_percentile_docs(spark, "/root/testdata/sf0.1")


def kn_bigram_model_docs_sf01(spark, sf_dir):
    """SF-robustness driver gate (r07 verdict task #6): the
    interpolated Kneser-Ney export at sf0.1 — continuation/follower
    type counts and the top-30 count-desc tie-break order are
    corpus-size-sensitive in ways sf0.01 cannot probe."""
    return kn_bigram_model_docs(spark, "/root/testdata/sf0.1")


QUALITY_PCT_SF01_SQL = _sf01_docs_twin(QUALITY_PCT_SQL, 2)
KN_BIGRAM_SF01_SQL = _sf01_docs_twin(KN_BIGRAM_SQL, 1)



# --------------------------------------- scalar + aggregate extensions


def math_funcs_lineitem(spark, sf_dir):
    """Math scalar family over a pushed-down filter."""
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    return l.select(
        "l_orderkey",
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.ln("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.log10("l_extendedprice"), 6).alias("price_log10"),
        F.round(F.pow("l_discount", F.lit(2)), 6).alias("disc_sq"),
        F.abs(F.col("l_quantity") - 25).alias("qty_dev"),
        F.ceil("l_tax").cast("long").alias("tax_ceil"),
        F.floor(F.col("l_extendedprice") / 1000).cast("long").alias("price_k"),
        (F.col("l_orderkey") % 7).alias("key_mod7"),
    )


MATH_SQL = """
SELECT l_orderkey,
       ROUND(SQRT(l_quantity), 6) AS qty_sqrt,
       ROUND(LN(l_extendedprice), 6) AS price_ln,
       ROUND(LOG10(l_extendedprice), 6) AS price_log10,
       ROUND(POW(l_discount, 2), 6) AS disc_sq,
       ABS(l_quantity - 25) AS qty_dev,
       CAST(CEIL(l_tax) AS BIGINT) AS tax_ceil,
       CAST(FLOOR(l_extendedprice / 1000) AS BIGINT) AS price_k,
       l_orderkey % 7 AS key_mod7
FROM lineitem WHERE l_linenumber = 1
"""


def cond_exprs_customers(spark, sf_dir):
    """Conditional scalar family: case/coalesce/nullif/greatest/least."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "overdrawn")
        .when(F.col("c_acctbal") < 5000, "standard")
        .otherwise("premium")
        .alias("tier"),
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("DEFAULT")).alias(
            "segment_nb"
        ),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_floor0"),
        F.least(F.col("c_acctbal"), F.lit(1000.0)).alias("bal_cap1k"),
    )


COND_SQL = """
SELECT c_custkey,
       CASE WHEN c_acctbal < 0 THEN 'overdrawn'
            WHEN c_acctbal < 5000 THEN 'standard'
            ELSE 'premium' END AS tier,
       COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'DEFAULT') AS segment_nb,
       GREATEST(c_acctbal, 0.0) AS bal_floor0,
       LEAST(c_acctbal, 1000.0) AS bal_cap1k
FROM customer
"""


def percentile_orders(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark ``percentile``
    = SQL-standard continuous quantile)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("median_price"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90_price"),
        F.count("*").alias("n_orders"),
    )


PERCENTILE_SQL = """
SELECT o_orderstatus,
       ROUND(QUANTILE_CONT(o_totalprice, 0.5), 4) AS median_price,
       ROUND(QUANTILE_CONT(o_totalprice, 0.9), 4) AS p90_price,
       COUNT(*) AS n_orders
FROM orders GROUP BY o_orderstatus
"""


def stats_agg_lineitem(spark, sf_dir):
    """Statistical aggregates (rounded — both engines use stable
    merge formulas; low-magnitude columns keep rounding safe)."""
    l = _t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("qty_std"),
        F.round(F.var_samp("l_discount"), 6).alias("disc_var"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.avg("l_tax"), 6).alias("avg_tax"),
    )


STATS_SQL = """
SELECT l_returnflag,
       ROUND(STDDEV_SAMP(l_quantity), 6) AS qty_std,
       ROUND(VAR_SAMP(l_discount), 6) AS disc_var,
       ROUND(CORR(l_quantity, l_extendedprice), 6) AS qty_price_corr,
       ROUND(AVG(l_tax), 6) AS avg_tax
FROM lineitem GROUP BY l_returnflag
"""


def scalar_subquery_small_orders(spark, sf_dir):
    """TPC-H Q17 shape: per-part average-quantity threshold
    (correlated scalar subquery) re-joined to the fact; the threshold
    side is per-partkey (grows with SF) so no broadcast hint."""
    l = _t(spark, sf_dir, "lineitem")
    thresholds = l.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("qty_threshold")
    )
    small = l.join(thresholds, "l_partkey").filter(
        F.col("l_quantity") < F.col("qty_threshold")
    )
    return small.agg(
        _dsum("l_extendedprice", "total_small_revenue"),
        F.count("*").alias("n_small"),
    )


SCALAR_SUBQ_SQL = f"""
SELECT {_sql_dsum('l_extendedprice', 'total_small_revenue')},
       COUNT(*) AS n_small
FROM lineitem
WHERE l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)
"""


def array_agg_nations(spark, sf_dir):
    """Array aggregation: sorted distinct collect per group. The
    sorted array is string-joined because the driver's hash harness
    canonicalizes via pandas sort_values, which cannot hash list
    cells — the comparable surface must be scalar."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_set("n_name")), ",").alias(
                "nations"
            ),
            F.count("*").alias("n_nations"),
        )
    )


ARRAY_AGG_SQL = """
SELECT r_name,
       ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT n_name)), ',') AS nations,
       COUNT(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def sql_grouping_sets(spark, sf_dir):
    """The ``spark.sql`` surface (the reference's Athena stand-in,
    SURVEY §3.2) with GROUPING SETS."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


# ---------------------------------------------------- multimodal family


def multimodal_features_docs(spark, sf_dir):
    """Multimodal plumbing on real fixtures: documents as binary
    assets → Arrow-batched feature extraction (M.extract_features);
    the byte-count and sha256 are engine-independently checkable."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        multimodal as M,
    )

    d = _t(spark, sf_dir, "documents")
    assets = d.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("media_type"),
        F.col("text").cast("binary").alias("content"),
        F.create_map(F.lit("src"), F.col("source")).alias("meta"),
    )
    return M.extract_features(assets, feat_dim=8).select(
        "asset_id", "n_bytes", "content_sha"
    )


MULTIMODAL_SQL = """
SELECT doc_id AS asset_id,
       CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
       SHA256(text) AS content_sha
FROM documents
"""


def multimodal_decode_real(spark, sf_dir):
    """REAL codec gate: decode the tiny committed fixtures
    (fixtures/multimodal/ — PNG, PPM, WAV, GIF plain+interlaced,
    baseline AND progressive JPEG — the progressive file must land
    on the identical quantized features as its baseline twin — plus
    one unknown-magic blob that must take the byte-hash fallback)
    with ``decode_stub="auto"`` and report
    dimensions + quantized pixel/sample features. The decoders are
    pure stdlib/numpy and bit-deterministic, so the oracle is a
    literal table precomputed by tools/gen_multimodal_fixtures.py —
    this driver-verifies the PNG unfilter, JPEG huffman+IDCT and
    GIF LZW+deinterlace paths that were previously pytest-only.
    Scan shape: binaryFile source → one Arrow-batched mapInPandas;
    at 100 TB the same plan fans out per file with no shuffle."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        multimodal as M,
    )

    fdir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "fixtures", "multimodal"
    )
    raw = spark.read.format("binaryFile").load(fdir)
    assets = raw.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.[a-z]+$", 1)
        .cast("bigint")
        .alias("asset_id"),
        F.when(F.col("path").endswith(".wav"), F.lit("audio"))
        .otherwise(F.lit("image"))
        .alias("media_type"),
        F.col("content"),
    )
    feats = M.extract_features(assets, feat_dim=8, decode_stub="auto")
    qcols = [
        F.floor(
            F.element_at("features", i + 1).cast("double") * F.lit(1e6)
        )
        .cast("bigint")
        .alias(f"q{i}")
        for i in range(8)
    ]
    return feats.select(
        "asset_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        *qcols,
    )


# Literal oracle precomputed by tools/gen_multimodal_fixtures.py —
# the decoders are bit-deterministic, so DuckDB only checks constants.
MULTIMODAL_REAL_SQL = """
SELECT CAST(asset_id AS BIGINT) AS asset_id,
       CAST(width AS INTEGER) AS width,
       CAST(height AS INTEGER) AS height,
       CAST(q0 AS BIGINT) AS q0, CAST(q1 AS BIGINT) AS q1,
       CAST(q2 AS BIGINT) AS q2, CAST(q3 AS BIGINT) AS q3,
       CAST(q4 AS BIGINT) AS q4, CAST(q5 AS BIGINT) AS q5,
       CAST(q6 AS BIGINT) AS q6, CAST(q7 AS BIGINT) AS q7
FROM (VALUES
  (101, 16, 16, 470588, 470588, 470588, 264039, 0, 941176, 470588, 470588),
  (102, 8, 8, 439215, 439215, 501960, 236626, 0, 878431, 439215, 439215),
  (103, 8000, 1, 36456, 62500, 666666, -11551, 8000, 36456, 62500, 666666),
  (104, 4, 4, 500000, 500000, 500000, 372677, 0, 1000000, 500000, 500000),
  (105, 2, 5, 400000, 400000, 400000, 388730, 0, 1000000, 400000, 400000),
  (106, 16, 16, 470588, 230158, 3921, 937254, 470588, 230158, 3921, 937254),
  (107, 12, 27, 941176, 760784, 827450, 317647, 66666, 294117, 168627, 627451),
  (108, 16, 16, 470588, 230158, 3921, 937254, 470588, 230158, 3921, 937254)
) AS t(asset_id, width, height, q0, q1, q2, q3, q4, q5, q6, q7)
"""


# -------------------------------------------------- similarity family


def sim_topk_bruteforce(spark, sf_dir):
    """Exact cosine top-k via one broadcast-query matmul scan
    (per-batch local top-k bounds the shuffle); shares the persisted
    frame with the ANN recall gates."""
    return _exact_topk(spark, sf_dir)


SIM_TOPK_SQL = """
WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
           FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.q_id, e.vec_id AS n_id,
         list_dot_product(q.q_vec, CAST(e.embedding AS DOUBLE[]))
         / (sqrt(list_dot_product(q.q_vec, q.q_vec))
            * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                    CAST(e.embedding AS DOUBLE[])))) AS cosine
  FROM q, embeddings e WHERE e.vec_id != q.q_id
)
SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
  SELECT q_id, n_id,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id)
           AS rank
  FROM scored
) WHERE rank <= 5
"""


_TOPK_CACHE: dict[tuple[int, str], tuple[SparkSession, DataFrame]] = {}


def _exact_topk(spark, sf_dir) -> DataFrame:
    """Exact brute-force top-k over the standard 10-query probe,
    persisted per (session, sf dir): the truth side of BOTH ANN
    recall gates and the bruteforce gate itself — computing it once
    saves two corpus matmul scans per bench run. ~50 rows cached."""
    return _session_cached(
        _TOPK_CACHE,
        spark,
        sf_dir,
        lambda: S.brute_force_topk(
            _t(spark, sf_dir, "embeddings"), query_ids=list(range(10)), k=5
        ),
    )


def sim_topk_sq(spark, sf_dir):
    """Scalar-quantized (SQ8) ANN: per-dimension int8 codes
    (operators/projection.py scalar_quantize) cut the scan side to
    64 bytes/vector (4× less memory bandwidth than float32 — the
    FAISS-SQ8/Lucene-int8 scale lever), the shortlist is scored
    over dequantized vectors, and the exact float rerank touches
    only shortlist/corpus rows. Same recall-gate contract as
    LSH/IVF/RP: DuckDB recomputes the exact top-k totals and pins
    recall ≥ 0.5 (measured ≈1.0 — SQ8 reconstruction error ≪ the
    cosine margins at these dims)."""
    e = _t(spark, sf_dir, "embeddings")
    codes, stats = PJ.scalar_quantize(e)
    deq = PJ.dequantize_col(F.col("qvec"), F.col("_st"))
    with_stats = codes.crossJoin(F.broadcast(stats))
    # Stage-1 shortlist over DEQUANTIZED vectors via the Arrow
    # local-top-k kernel: the JVM dequant expression feeds the
    # mapInPandas scan directly, per-batch matmul + argpartition
    # reduce to partitions×|Q|×100 rows before any shuffle — same
    # de-shuffle as sim_topk_rp (the old q_id-window over the N·Q
    # scored frame was the round-5 verdict's #1 plan defect; pinned
    # by tests/test_plans.py::test_ann_shortlists_have_no_nlj).
    shortlist = S.brute_force_topk(
        with_stats.select("vec_id", deq.alias("dvec")),
        query_ids=list(range(10)),
        k=100,
        vec_col="dvec",
    ).select("q_id", "n_id")
    dvec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    full = e.select(F.col("vec_id").alias("n_id"), dvec.alias("fn_vec"))
    fullq = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), dvec.alias("fq_vec")
    )
    rerank = (
        full.join(F.broadcast(shortlist), ["n_id"])
        .join(F.broadcast(fullq), ["q_id"])
        .select(
            "q_id",
            "n_id",
            S.cosine_col(F.col("fq_vec"), F.col("fn_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("n_id").asc()
    )
    approx = (
        rerank.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_id", "n_id")
    )
    return _ann_recall_gate(spark, sf_dir, approx)


def _ann_recall_gate(spark, sf_dir, approx_df):
    """Oracle-checkable ANN output: the raw top-k is algorithm-
    specific, so the gate emits the RECALL of the approximate answer
    against the exact brute-force top-k computed in the same job —
    (n_queries, n_exact, recall_ok with the same ≥0.5 bound the
    pytest recall tests enforce). DuckDB recomputes n_queries /
    n_exact from the exact top-k definition and pins the flag."""
    exact = _exact_topk(spark, sf_dir).select("q_id", "n_id")
    hits = exact.join(
        approx_df.select("q_id", "n_id"), ["q_id", "n_id"], "left_semi"
    ).agg(F.count("*").alias("n_hits"))
    totals = exact.agg(
        F.countDistinct("q_id").alias("n_queries"),
        F.count("*").alias("n_exact"),
    )
    return totals.crossJoin(hits).select(
        "n_queries",
        "n_exact",
        ((F.col("n_hits") / F.col("n_exact")) >= 0.5).alias("recall_ok"),
    )


ANN_RECALL_SQL = """
WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
           FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.q_id, e.vec_id AS n_id,
         list_dot_product(q.q_vec, CAST(e.embedding AS DOUBLE[]))
         / (sqrt(list_dot_product(q.q_vec, q.q_vec))
            * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                    CAST(e.embedding AS DOUBLE[])))) AS cosine
  FROM q, embeddings e WHERE e.vec_id != q.q_id
),
topk AS (
  SELECT q_id, n_id FROM (
    SELECT q_id, n_id,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id)
             AS rank
    FROM scored
  ) WHERE rank <= 5
)
SELECT COUNT(DISTINCT q_id) AS n_queries,
       COUNT(*) AS n_exact,
       TRUE AS recall_ok
FROM topk
"""


def sim_topk_lsh(spark, sf_dir):
    """LSH-bucketed ANN, recall-verified against the exact top-k in
    the same plan (see _ann_recall_gate); the full approximate result
    set itself is pinned by tests/test_operators.py recall tests."""
    e = _t(spark, sf_dir, "embeddings")
    return _ann_recall_gate(
        spark, sf_dir, S.lsh_topk(e, query_ids=list(range(10)), k=5, n_planes=8)
    )


def sim_topk_ivf(spark, sf_dir):
    """IVF-bucketed ANN, recall-verified against the exact top-k in
    the same plan (see _ann_recall_gate)."""
    e = _t(spark, sf_dir, "embeddings")
    return _ann_recall_gate(
        spark, sf_dir, S.ivf_topk(e, query_ids=list(range(10)), k=5)
    )


def sim_topk_pq(spark, sf_dir):
    """Product-quantization ANN (operators/projection.py pq_topk —
    FAISS-PQ/ADC shape): per-subspace codebooks trained on a bounded
    sample, corpus encoded to m nibble codes (32× scan-byte cut),
    query-side ADC tables make scoring m lookups per vector, exact
    float rerank of the shortlist. Same recall contract as
    LSH/IVF/RP/SQ8 (_ann_recall_gate)."""
    e = _t(spark, sf_dir, "embeddings")
    return _ann_recall_gate(
        spark, sf_dir, PJ.pq_topk(e, query_ids=list(range(10)), k=5)
    )


def prf_expand_docs(spark, sf_dir):
    """Pseudo-relevance-feedback retrieval (operators/search.py
    prf_expand_topk, the RM3 shape): BM25 round one → top-3 feedback
    docs per query → 5 strongest feedback terms (summed tf, integer-
    deterministic ties) expand the query → BM25 round two, top-5.
    Both rounds share one tf/df index build; scores rounded before
    every ranking so the expanded ranking is engine-reproducible."""
    d = _t(spark, sf_dir, "documents")
    return SR.prf_expand_topk(
        d, _BM25_QUERIES, topk=5, index=_term_index(spark, sf_dir)
    )


PRF_EXPAND_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
tf AS MATERIALIZED (SELECT doc_id, term, COUNT(*) AS tf
                    FROM tok GROUP BY doc_id, term),
dl AS MATERIALIZED (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
meta AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
dfr AS MATERIALIZED (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
q(query_id, term) AS (VALUES {", ".join(
    f"('{qid}', '{t}')"
    for qid, qtext in _BM25_QUERIES
    for t in sorted(set(qtext.lower().split()))
)}),
s1 AS MATERIALIZED (
  SELECT q.query_id, tf.doc_id,
         ROUND(SUM(
           ln(1 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * (1.2 + 1))
           / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
         ), 6) AS score
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN q ON tf.term = q.term
  JOIN dfr ON tf.term = dfr.term, meta
  GROUP BY q.query_id, tf.doc_id),
top1 AS MATERIALIZED (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id) AS rank
    FROM s1) WHERE rank <= 3),
fb AS MATERIALIZED (
  SELECT query_id, term FROM (
    SELECT t1.query_id, tf.term,
           ROW_NUMBER() OVER (PARTITION BY t1.query_id
                              ORDER BY SUM(tf.tf) DESC, tf.term) AS r
    FROM top1 t1 JOIN tf ON tf.doc_id = t1.doc_id
    GROUP BY t1.query_id, tf.term) WHERE r <= 5),
q2 AS MATERIALIZED (
  SELECT DISTINCT query_id, term FROM (
    SELECT query_id, term FROM q
    UNION ALL SELECT query_id, term FROM fb)),
s2 AS (
  SELECT q2.query_id, tf.doc_id,
         ROUND(SUM(
           ln(1 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * (1.2 + 1))
           / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
         ), 6) AS score
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN q2 ON tf.term = q2.term
  JOIN dfr ON tf.term = dfr.term, meta
  GROUP BY q2.query_id, tf.doc_id)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM s2) WHERE rank <= 5
"""


def mmr_rerank_docs(spark, sf_dir):
    """Maximal-marginal-relevance diversified retrieval
    (operators/search.py mmr_rerank): BM25 top-10 candidates per
    query, pairwise hashed-BoW cosine among candidates (exact
    integers through one correctly-rounded sqrt + division), greedy
    λ·rel − (1−λ)·max_sim selection of 5, statically unrolled. The
    greedy choice sequence is bit-identical to the oracle's —
    pre-rounded relevance, exact-arithmetic similarity, IEEE-fixed
    combination."""
    d = _t(spark, sf_dir, "documents")
    # cut the candidate lineage ONCE here: the sims frame below and
    # the selection kernel reference cand three times, and each un-cut
    # reference re-ran the full BM25 index build (the first bench
    # print had the gate at 9 s — one materialized build +
    # candidate-only embedding brings it in line with the other
    # retrieval gates). eager=False (r13 optimization round): the
    # checkpoint materializes inside the query's own action instead
    # of paying a separate eager job at construction time; the three
    # consumer branches share the cached partitions.
    cand = (
        SR.bm25_topk(
            d, _BM25_QUERIES, topk=10, index=_term_index(spark, sf_dir)
        )
        .select("query_id", "doc_id", F.col("score").alias("rel"))
        .localCheckpoint(eager=False)
    )
    # hash-embed ONLY the candidate documents (≤ |Q|·10 rows), not
    # the corpus — the semi-join prunes before the explode/aggregate
    ce = SR.hashed_embeddings(
        d.join(
            F.broadcast(cand.select("doc_id").distinct()),
            "doc_id",
            "left_semi",
        ),
        dim=32,
    )
    a = cand.select("query_id", F.col("doc_id").alias("id_a")).join(
        ce.select(
            F.col("doc_id").alias("id_a"), F.col("embedding").alias("_ea")
        ),
        "id_a",
    )
    bside = cand.select("query_id", F.col("doc_id").alias("id_b")).join(
        ce.select(
            F.col("doc_id").alias("id_b"), F.col("embedding").alias("_eb")
        ),
        "id_b",
    )
    dot = GR.int_dot(F.col("_ea"), F.col("_eb")).cast("double")
    na = GR.int_dot(F.col("_ea"), F.col("_ea")).cast("double")
    nb = GR.int_dot(F.col("_eb"), F.col("_eb")).cast("double")
    sims = (
        a.join(bside, "query_id")
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            "query_id",
            "id_a",
            "id_b",
            (dot / F.sqrt(na.cast("double") * nb.cast("double"))).alias("sim"),
        )
    )
    return SR.mmr_rerank(cand, sims, k=5, lam=0.7)


def _mmr_sql(k: int = 5) -> str:
    """Unrolled greedy MMR oracle: candidate + pairwise-sim CTEs,
    then one pick CTE per selection round (remaining = NOT EXISTS in
    the running selection; max_sim over the selection; identical
    double arithmetic: CAST(0.7 AS DOUBLE)·rel − (CAST(1.0 AS
    DOUBLE) − CAST(0.7 AS DOUBLE))·max_sim)."""
    lam = "CAST(0.7 AS DOUBLE)"
    one_m_lam = f"(CAST(1.0 AS DOUBLE) - {lam})"
    q_terms = ", ".join(
        f"('{qid}', '{t}')"
        for qid, qtext in _BM25_QUERIES
        for t in sorted(set(qtext.lower().split()))
    )
    steps = [
        f"""sel1 AS MATERIALIZED (
  SELECT query_id, doc_id, CAST(1 AS INT) AS rank, mmr FROM (
    SELECT query_id, doc_id, {lam} * rel AS mmr,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY {lam} * rel DESC, doc_id) AS r
    FROM cand) WHERE r = 1)""",
        "selu1 AS (SELECT query_id, doc_id FROM sel1)",
    ]
    for i in range(2, k + 1):
        steps.append(
            f"""sel{i} AS MATERIALIZED (
  SELECT query_id, doc_id, CAST({i} AS INT) AS rank, mmr FROM (
    SELECT query_id, doc_id, mmr,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY mmr DESC, doc_id) AS r
    FROM (
      SELECT c.query_id, c.doc_id,
             {lam} * c.rel - {one_m_lam} * ms.m AS mmr
      FROM cand c
      JOIN (SELECT p.query_id, p.id_a AS doc_id, MAX(p.sim) AS m
            FROM pairs p
            JOIN selu{i - 1} s
              ON s.query_id = p.query_id AND s.doc_id = p.id_b
            GROUP BY p.query_id, p.id_a) ms
        ON ms.query_id = c.query_id AND ms.doc_id = c.doc_id
      WHERE NOT EXISTS (SELECT 1 FROM selu{i - 1} s2
                        WHERE s2.query_id = c.query_id
                          AND s2.doc_id = c.doc_id)))
  WHERE r = 1)"""
        )
        if i < k:
            steps.append(
                f"""selu{i} AS (SELECT query_id, doc_id FROM selu{i - 1}
  UNION ALL SELECT query_id, doc_id FROM sel{i})"""
            )
    unions = "\nUNION ALL\n".join(
        f"SELECT query_id, rank, doc_id, ROUND(mmr, 6) AS mmr FROM sel{i}"
        for i in range(1, k + 1)
    )
    step_block = ",\n".join(steps)
    return f"""
WITH tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
tf AS MATERIALIZED (SELECT doc_id, term, COUNT(*) AS tf
                    FROM tok GROUP BY doc_id, term),
dl AS MATERIALIZED (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
meta AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
q(query_id, term) AS (VALUES {q_terms}),
cand AS MATERIALIZED (
  SELECT query_id, doc_id, rel FROM (
    SELECT query_id, doc_id, rel,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY rel DESC, doc_id) AS rank
    FROM (
      SELECT q.query_id, tf.doc_id,
             ROUND(SUM(
               ln(1 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * (1.2 + 1))
               / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
             ), 6) AS rel
      FROM tf
      JOIN dl ON tf.doc_id = dl.doc_id
      JOIN q ON tf.term = q.term
      JOIN dfr ON tf.term = dfr.term, meta
      GROUP BY q.query_id, tf.doc_id))
  WHERE rank <= 10),
bc AS MATERIALIZED (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT) % 32 AS b,
         COUNT(*) AS c
  FROM tok
  WHERE doc_id IN (SELECT DISTINCT doc_id FROM cand)
  GROUP BY 1, 2),
emb AS MATERIALIZED (
  SELECT d.doc_id, list(COALESCE(bc.c, 0) ORDER BY g.i) AS v
  FROM (SELECT DISTINCT doc_id FROM bc) d
  CROSS JOIN (SELECT unnest(range(0, 32)) AS i) g
  LEFT JOIN bc ON bc.doc_id = d.doc_id AND bc.b = g.i
  GROUP BY d.doc_id),
sq2 AS MATERIALIZED (
  SELECT doc_id, CAST(v AS DOUBLE[]) AS dv,
         list_dot_product(CAST(v AS DOUBLE[]), CAST(v AS DOUBLE[])) AS n2
  FROM emb),
pairs AS MATERIALIZED (
  SELECT c1.query_id, c1.doc_id AS id_a, c2.doc_id AS id_b,
         list_dot_product(e1.dv, e2.dv) / sqrt(e1.n2 * e2.n2) AS sim
  FROM cand c1
  JOIN cand c2 ON c1.query_id = c2.query_id AND c1.doc_id <> c2.doc_id
  JOIN sq2 e1 ON e1.doc_id = c1.doc_id
  JOIN sq2 e2 ON e2.doc_id = c2.doc_id),
{step_block}
{unions}"""


MMR_RERANK_SQL = _mmr_sql(5)


def matryoshka_recall_vecs(spark, sf_dir):
    """Matryoshka/MRL dimension-ablation audit: recall of cosine
    top-5 computed on PREFIX-truncated embeddings (64 → 32 → 16
    dims) against the full-dimension exact top-5 — the measurement
    that decides how far an embedding column can be truncated before
    retrieval quality collapses (storage/bandwidth lever at 100 TB:
    a 16-dim prefix scan reads 4× fewer bytes). Each prefix level is
    one slice projection + the shared Arrow local-top-k kernel; the
    per-level hit counts are exact joins on (q_id, n_id). DuckDB
    recomputes every level from scratch with list_slice."""
    exact = _exact_topk(spark, sf_dir).select("q_id", "n_id")
    e = _t(spark, sf_dir, "embeddings")
    levels = []
    for dim in (64, 32, 16):
        sliced = e.select(
            "vec_id", F.slice("embedding", 1, dim).alias("embedding")
        )
        approx = S.brute_force_topk(
            sliced, query_ids=list(range(10)), k=5
        ).select("q_id", "n_id")
        hits = exact.join(approx, ["q_id", "n_id"], "left_semi").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hits")
        )
        totals = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
        levels.append(
            totals.crossJoin(F.broadcast(hits)).select(
                F.lit(dim).cast("int").alias("prefix_dim"),
                "n_hits",
                "n_exact",
                F.round(F.col("n_hits") / F.col("n_exact"), 4).alias(
                    "recall"
                ),
            )
        )
    out = levels[0]
    for lv in levels[1:]:
        out = out.union(lv)
    return out


def _matryoshka_sql() -> str:
    """Per-prefix-level exact recomputation: full-dim truth once,
    then one ranked CTE per slice level."""
    level_ctes, level_rows = [], []
    for dim in (64, 32, 16):
        level_ctes.append(
            f"""t{dim} AS MATERIALIZED (
  SELECT q_id, n_id FROM (
    SELECT q.vec_id AS q_id, e.vec_id AS n_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_dot_product(list_slice(q.dv, 1, {dim}),
                                       list_slice(e.dv, 1, {dim}))
                      / (sqrt(list_dot_product(list_slice(q.dv, 1, {dim}),
                                               list_slice(q.dv, 1, {dim})))
                         * sqrt(list_dot_product(list_slice(e.dv, 1, {dim}),
                                                 list_slice(e.dv, 1, {dim}))))
                      DESC, e.vec_id) AS rank
    FROM sq e CROSS JOIN (SELECT vec_id, dv FROM sq WHERE vec_id < 10) q
    WHERE e.vec_id <> q.vec_id)
  WHERE rank <= 5)"""
        )
        hit = (
            f"SELECT COUNT(*) FROM t64 a JOIN t{dim} b "
            f"ON a.q_id = b.q_id AND a.n_id = b.n_id"
        )
        level_rows.append(
            f"""SELECT CAST({dim} AS INT) AS prefix_dim,
       CAST(({hit}) AS BIGINT) AS n_hits,
       CAST((SELECT COUNT(*) FROM t64) AS BIGINT) AS n_exact,
       ROUND(({hit})
             / CAST((SELECT COUNT(*) FROM t64) AS DOUBLE), 4) AS recall"""
        )
    ctes = ",\n".join(level_ctes)
    rows = "\nUNION ALL\n".join(level_rows)
    return f"""
WITH sq AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
{ctes}
{rows}"""


MATRYOSHKA_SQL = _matryoshka_sql()


def embed_centroid_eval(spark, sf_dir):
    """Nearest-centroid classifier eval over the labeled embeddings
    (operators/similarity.py label_centroid_eval): per-label
    precision/recall/F1 from rounded-cosine argmax predictions — the
    eval harness that decides whether an embedding column separates
    its labels. Prediction ranking on the 6-dp ROUNDED score (ties
    on label) keeps the confusion matrix engine-exact despite
    float-sum-order differences in the centroid means."""
    return S.label_centroid_eval(_t(spark, sf_dir, "embeddings"))


EMBED_CENTROID_EVAL_SQL = """
WITH f AS MATERIALIZED (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS dv
  FROM embeddings),
flat AS (
  SELECT label, UNNEST(dv) AS v,
         UNNEST(range(1, len(dv) + 1)) AS i
  FROM f),
cent AS MATERIALIZED (
  SELECT label AS cl, list(av ORDER BY i) AS cvec FROM (
    SELECT label, i, AVG(v) AS av FROM flat GROUP BY label, i)
  GROUP BY label),
scored AS (
  SELECT f.vec_id, f.label AS t, c.cl,
         ROUND(list_dot_product(f.dv, c.cvec)
               / (sqrt(list_dot_product(f.dv, f.dv))
                  * sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS s
  FROM f CROSS JOIN cent c),
pred AS MATERIALIZED (
  SELECT vec_id, t, cl AS p FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY s DESC, cl) AS r
    FROM scored) WHERE r = 1),
bt AS (SELECT t AS label, CAST(COUNT(*) AS BIGINT) AS n_true,
              CAST(SUM(CASE WHEN p = t THEN 1 ELSE 0 END) AS BIGINT)
                AS tp
       FROM pred GROUP BY t),
bp AS (SELECT p AS label, CAST(COUNT(*) AS BIGINT) AS n_pred
       FROM pred GROUP BY p),
j AS (
  SELECT COALESCE(bt.label, bp.label) AS label,
         CAST(COALESCE(n_true, 0) AS BIGINT) AS n_true,
         CAST(COALESCE(n_pred, 0) AS BIGINT) AS n_pred,
         CAST(COALESCE(tp, 0) AS BIGINT) AS tp
  FROM bt FULL OUTER JOIN bp ON bt.label = bp.label)
SELECT label, n_true, n_pred, tp,
       ROUND(CASE WHEN n_pred > 0 THEN tp / CAST(n_pred AS DOUBLE)
                  ELSE CAST(0 AS DOUBLE) END, 4) AS precision,
       ROUND(CASE WHEN n_true > 0 THEN tp / CAST(n_true AS DOUBLE)
                  ELSE CAST(0 AS DOUBLE) END, 4) AS recall,
       ROUND(CASE WHEN (CASE WHEN n_pred > 0
                             THEN tp / CAST(n_pred AS DOUBLE)
                             ELSE CAST(0 AS DOUBLE) END
                   + CASE WHEN n_true > 0
                          THEN tp / CAST(n_true AS DOUBLE)
                          ELSE CAST(0 AS DOUBLE) END) > 0
                  THEN CAST(2.0 AS DOUBLE)
                       * (tp / CAST(n_pred AS DOUBLE))
                       * (tp / CAST(n_true AS DOUBLE))
                       / (tp / CAST(n_pred AS DOUBLE)
                          + tp / CAST(n_true AS DOUBLE))
                  ELSE CAST(0 AS DOUBLE) END, 4) AS f1
FROM j
"""


def sim_neardup_exact(spark, sf_dir):
    """Exact all-pairs cosine near-dup pairs (the correctness oracle
    for the LSH path; O(n²) — small-scale only)."""
    e = _t(spark, sf_dir, "embeddings")
    out = S.cosine_near_dup_pairs(e, threshold=0.4, exact=True)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


SIM_NEARDUP_SQL = """
WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
           FROM embeddings)
SELECT a.id AS id_a, b.id AS id_b,
       ROUND(list_dot_product(a.vec, b.vec)
             / (sqrt(list_dot_product(a.vec, a.vec))
                * sqrt(list_dot_product(b.vec, b.vec))), 6) AS cosine
FROM v a JOIN v b ON a.id < b.id
WHERE list_dot_product(a.vec, b.vec)
      / (sqrt(list_dot_product(a.vec, a.vec))
         * sqrt(list_dot_product(b.vec, b.vec))) >= 0.4
"""


def embed_cluster_vecs(spark, sf_dir):
    """Embedding-space near-dup clustering: exact cosine≥0.4 pairs →
    the same connected-components operator the text path uses
    (cluster_id = min vec_id). Exact all-pairs side is the oracle
    path (O(n²), excluded from bench like sim_neardup_exact); at
    scale the pair source swaps to lsh/ivf candidates unchanged."""
    e = _t(spark, sf_dir, "embeddings")
    pairs = S.cosine_near_dup_pairs(e, threshold=0.4, exact=True)
    return D.connected_components(pairs, "id_a", "id_b").select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )


EMBED_CLUSTER_SQL = f"""
WITH RECURSIVE pairs AS ({SIM_NEARDUP_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS vec_id, LEAST(src, MIN(dst)) AS cluster_id
FROM reach GROUP BY src
"""


def embed_label_stats(spark, sf_dir):
    """Per-label vector sanity stats: counts, dim bounds, avg norm."""
    e = _t(spark, sf_dir, "embeddings")
    return S.embedding_stats(e)


EMBED_STATS_SQL = """
SELECT label, COUNT(*) AS n_vectors,
       CAST(MIN(len(embedding)) AS INT) AS min_dim,
       CAST(MAX(len(embedding)) AS INT) AS max_dim,
       ROUND(AVG(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[])))), 6)
         AS avg_norm
FROM embeddings GROUP BY label
"""


# ------------------------------------------- TPC-H analogue widening
# The fixtures lack partsupp / l_commitdate / l_receiptdate /
# l_shipmode / c_phone / p_container, so Q8/Q9/Q12/Q21/Q22 below keep
# the reference query's *operator shape* (the point of the exercise)
# while substituting available columns; each docstring notes the swap.


def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: two-nation trade volume by ship year. Five-way
    join with two broadcast dimension roles for the same nation table,
    disjunctive cross-pair predicate, decimal revenue sum."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    j = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        j.withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       {_sql_dsum('volume', 'revenue')}
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         EXTRACT(year FROM l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: national market share within a region by order
    year — conditional-sum ratio over a 7-way join (p_type stands in
    for the reference's part filter)."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    n2 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    vol = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    j = (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == F.col("r_regionkey"))
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
    )
    nat = F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        j.withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg(
            F.round((F.sum(nat) / F.sum(vol)).cast("double"), 6).alias("mkt_share"),
            F.count("*").alias("n_lines"),
        )
    )


Q8_SQL = """
SELECT EXTRACT(year FROM o_orderdate) AS o_year,
       ROUND(CAST(SUM(CASE WHEN n2.n_name = 'NATION_2'
                  THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                  ELSE CAST(0 AS DECIMAL(18,4)) END)
             / SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
             AS DOUBLE), 6) AS mkt_share,
       COUNT(*) AS n_lines
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'PROMO' AND r_name = 'ASIA'
GROUP BY o_year
"""


def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit per supplier nation per year. The
    fixtures have no partsupp, so cost = 10% of p_retailprice per unit
    (same expression tree: rev minus cost, LIKE filter on p_name)."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    n = _t(spark, sf_dir, "nation")
    profit = _dec(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.lit(0.1) * F.col("l_quantity")
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy(F.col("n_name").alias("nation"), F.col("o_year"))
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


Q9_SQL = """
SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     - p_retailprice * 0.1 * l_quantity
                AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, EXTRACT(year FROM o_orderdate)
"""


def q12_ship_delay(spark, sf_dir):
    """TPC-H Q12 shape: conditional priority counts per shipping
    class. No l_shipmode/l_receiptdate in fixtures → class = FAST/SLOW
    by datediff(shipdate, orderdate) vs 90 days."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    j = l.join(o, l.l_orderkey == o.o_orderkey)
    delay = F.datediff("l_shipdate", "o_orderdate")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.withColumn("ship_class", F.when(delay > 90, "SLOW").otherwise("FAST"))
        .groupBy("ship_class")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


Q12_SQL = """
SELECT CASE WHEN datediff('day', o_orderdate, l_shipdate) > 90
            THEN 'SLOW' ELSE 'FAST' END AS ship_class,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY ship_class
"""


def q13_order_distribution(spark, sf_dir):
    """TPC-H Q13 shape: distribution of orders-per-customer — left
    outer join, per-key count, then a second aggregation over the
    counts (two shuffles, the second tiny)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
"""


def q17_small_quantity(spark, sf_dir):
    """TPC-H Q17 shape: lines under 20% of the part's average quantity
    (correlated aggregate → per-key agg + re-join), brand-filtered."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    avg_q = l.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_limit")
    )
    j = (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(avg_q, l.l_partkey == F.col("a_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_limit"))
    )
    return j.agg(
        F.round(F.sum(_dec("l_extendedprice")).cast("double") / 7.0, 6).alias(
            "avg_yearly"
        ),
        F.count("*").alias("n_lines"),
    )


Q17_SQL = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             / 7.0, 6) AS avg_yearly,
       COUNT(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                    FROM lineitem l2
                    WHERE l2.l_partkey = lineitem.l_partkey)
"""


def q19_disjunctive(spark, sf_dir):
    """TPC-H Q19 shape: OR-of-ANDs join predicate (brand × size ×
    quantity bands) — Catalyst pushes the common join key and keeps
    the disjunction as a post-join filter."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = l.join(p, l.l_partkey == p.p_partkey)
    band = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 45)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return j.filter(band).agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        F.count("*").alias("n_lines"),
    )


Q19_SQL = f"""
SELECT {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 30
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 45
       AND l_quantity BETWEEN 20 AND 40)
"""


def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape: suppliers who alone were late on a
    multi-supplier order — self-join EXISTS + NOT EXISTS on lineitem.
    Late = shipped >60 days after order date (no receipt/commit dates
    in fixtures); top-20 by wait count."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = _t(spark, sf_dir, "lineitem")
    lines = l.join(
        o.select("o_orderkey", "o_orderdate"), l.l_orderkey == F.col("o_orderkey")
    ).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias(
            "late"
        ),
    )
    # EXISTS/NOT EXISTS as a two-level aggregation instead of two
    # lineitem self-joins: per (order, supplier) count late lines,
    # then per order count suppliers and late suppliers. For a late
    # supplier's lines, "some other supplier on the order" =
    # n_supp >= 2 and "no other supplier was late" = n_late_supp == 1
    # (itself). Two cheap shuffles on shrinking keys replace two
    # join-shaped recomputations of the lineitem⋈orders input, and
    # no expand-based countDistinct is needed.
    per_os = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(F.when(F.col("late"), 1).otherwise(0)).alias("n_late_lines")
    )
    w = Window.partitionBy("l_orderkey")
    waiting = (
        per_os.withColumn("n_supp", F.count("*").over(w))
        .withColumn(
            "n_late_supp",
            F.sum(F.when(F.col("n_late_lines") > 0, 1).otherwise(0)).over(w),
        )
        .filter(
            (F.col("n_late_lines") > 0)
            & (F.col("n_supp") >= 2)
            & (F.col("n_late_supp") == 1)
        )
    )
    return (
        waiting.join(s, waiting.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .groupBy("s_name")
        .agg(F.sum("n_late_lines").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


Q21_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN orders   ON l1.l_orderkey = o_orderkey
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F' AND n_name = 'NATION_3'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND o3.o_orderstatus = 'F'
                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


def q22_global_sales(spark, sf_dir):
    """TPC-H Q22 shape: positive-balance customers above the average
    with no URGENT order, grouped by a name-derived code
    (right(c_name,2) stands in for the phone country code) — scalar
    subquery + anti join + substring. (Plain "never ordered" is
    vacuous on these fixtures: every customer has orders.)"""
    c = _t(spark, sf_dir, "customer").withColumn(
        "cntrycode", F.expr("right(c_name, 2)")
    )
    codes = ["01", "11", "21", "31", "41", "51", "61"]
    c = c.filter(F.col("cntrycode").isin(codes))
    avg_bal = (
        _t(spark, sf_dir, "customer")
        .filter(
            (F.col("c_acctbal") > 0.0)
            & F.expr("right(c_name, 2)").isin(codes)
        )
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            _dsum("c_acctbal", "totacctbal"),
        )
    )


Q22_SQL = f"""
SELECT cntrycode, COUNT(*) AS numcust,
       {_sql_dsum('c_acctbal', 'totacctbal')}
FROM (SELECT right(c_name, 2) AS cntrycode, c_custkey, c_acctbal
      FROM customer
      WHERE right(c_name, 2) IN ('01','11','21','31','41','51','61')) cust
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                   WHERE c_acctbal > 0.0
                     AND right(c_name, 2) IN ('01','11','21','31','41','51','61'))
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY cntrycode
"""


# --------------------------------------- window / pivot / HOF widening


def window_lag_lead(spark, sf_dir):
    """lag/lead over a per-customer order timeline (ties broken on the
    unique o_orderkey so both engines agree)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 10 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round("o_totalprice", 4).alias("price"),
        F.round(F.lag("o_totalprice", 1).over(w), 4).alias("prev_price"),
        F.round(F.lead("o_totalprice", 1).over(w), 4).alias("next_price"),
        F.round(
            F.col("o_totalprice") - F.lag("o_totalprice", 1).over(w), 4
        ).alias("price_delta"),
    )


WINDOW_LAG_SQL = """
SELECT o_custkey, o_orderkey,
       ROUND(o_totalprice, 4) AS price,
       ROUND(LAG(o_totalprice, 1) OVER w, 4) AS prev_price,
       ROUND(LEAD(o_totalprice, 1) OVER w, 4) AS next_price,
       ROUND(o_totalprice - LAG(o_totalprice, 1) OVER w, 4) AS price_delta
FROM orders
WHERE o_custkey % 10 = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def pivot_status_by_priority(spark, sf_dir):
    """Pivot o_orderstatus into columns per priority (explicit value
    list → no extra distinct scan; oracle is the conditional-agg
    rewrite, which is also Spark's physical strategy)."""
    o = _t(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return piv.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
    )


PIVOT_SQL = """
SELECT o_orderpriority,
       COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
       COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
       COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
FROM orders
GROUP BY o_orderpriority
"""


def hof_array_embeddings(spark, sf_dir):
    """Higher-order array functions on array<float>: transform +
    aggregate (L2 norm), filter + size (positive components),
    array_max — all JVM-side, no UDF."""
    e = _t(spark, sf_dir, "embeddings").withColumn(
        "vec", F.expr("transform(embedding, x -> cast(x AS double))")
    )
    return e.select(
        "vec_id",
        F.round(
            F.sqrt(F.expr("aggregate(vec, 0D, (acc, x) -> acc + x * x)")), 6
        ).alias("l2_norm"),
        F.expr("size(filter(vec, x -> x > 0))").cast("bigint").alias("n_positive"),
        F.round(F.expr("array_max(vec)"), 6).alias("max_component"),
    )


HOF_ARRAY_SQL = """
SELECT vec_id,
       ROUND(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                          x -> x * x))), 6) AS l2_norm,
       len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0))
         AS n_positive,
       ROUND(list_max(CAST(embedding AS DOUBLE[])), 6) AS max_component
FROM embeddings
"""


# ------------------------------------- TPC-H widening batch 2 + utils


def q2_min_unit_price(spark, sf_dir):
    """TPC-H Q2 shape: per-part minimum-cost supplier via a window
    min (no partsupp in fixtures → unit price from lineitem stands in
    for ps_supplycost)."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    j = (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        # try_divide / NULLIF: a zero-quantity line (not in TPC-H
        # fixtures, but legal input) must yield NULL unit price on
        # BOTH engines, not an ANSI DIVIDE_BY_ZERO crash; NULL rows
        # then drop at the = min_price comparison identically
        .withColumn(
            "unit_price",
            F.try_divide(F.col("l_extendedprice"), F.col("l_quantity")),
        )
    )
    w = Window.partitionBy("p_partkey")
    return (
        j.withColumn("min_price", F.min("unit_price").over(w))
        .filter(F.col("unit_price") == F.col("min_price"))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.round("unit_price", 6).alias("unit_price"),
        )
    )


Q2_SQL = """
SELECT p_partkey, p_name, s_name, ROUND(unit_price, 6) AS unit_price
FROM (
  SELECT p_partkey, p_name, s_name,
         l_extendedprice / NULLIF(l_quantity, 0) AS unit_price,
         MIN(l_extendedprice / NULLIF(l_quantity, 0))
           OVER (PARTITION BY p_partkey) AS min_price
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE p_size = 15
) priced
WHERE unit_price = min_price
"""


def q11_important_values(spark, sf_dir):
    """TPC-H Q11 shape: per-nation line value vs a global-total
    scalar subquery in HAVING (grouped agg + single-row broadcast)."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    val = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    j = (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    per_nation = j.groupBy("n_name").agg(F.sum(val).alias("value_dec"))
    total = per_nation.agg(
        (F.sum("value_dec") * F.lit(0.045)).alias("threshold")
    )
    return (
        per_nation.join(F.broadcast(total))
        .filter(F.col("value_dec") > F.col("threshold"))
        .select("n_name", F.col("value_dec").cast("double").alias("value"))
    )


Q11_SQL = """
WITH per_nation AS (
  SELECT n_name,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
           AS value_dec
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT n_name, CAST(value_dec AS DOUBLE) AS value
FROM per_nation
WHERE value_dec > (SELECT SUM(value_dec) * 0.045 FROM per_nation)
"""


def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly
    revenue — derived revenue view + scalar max subquery."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "total_rev_dec"
        )
    )
    max_rev = rev.agg(F.max("total_rev_dec").alias("max_rev"))
    return (
        rev.join(F.broadcast(max_rev))
        .filter(F.col("total_rev_dec") == F.col("max_rev"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev_dec").cast("double").alias("total_revenue"),
        )
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
           AS total_rev_dec
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_rev_dec AS DOUBLE) AS total_revenue
FROM revenue JOIN supplier ON supplier_no = s_suppkey
WHERE total_rev_dec = (SELECT MAX(total_rev_dec) FROM revenue)
"""


def q16_supplier_cnt(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    group, excluding a NOT IN supplier subquery."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#5")
    bad = _t(spark, sf_dir, "supplier").filter(
        F.col("s_name").like("%7")
    ).select("s_suppkey")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(bad, l.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                        WHERE s_name LIKE '%7')
GROUP BY p_brand, p_type, p_size
"""


def q20_chained_semi(spark, sf_dir):
    """TPC-H Q20 shape: chained semi-joins — suppliers in one nation
    who shipped a 'small%' part in above-half-average quantity (the
    per-part correlated threshold replaces partsupp availqty)."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_4")
    avg_q = l.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg")
    )
    qualifying = (
        l.join(p, l.l_partkey == p.p_partkey, "left_semi")
        .join(avg_q, l.l_partkey == F.col("a_partkey"))
        .filter(F.col("l_quantity") > F.col("half_avg"))
        .select("l_suppkey")
    )
    return (
        s.join(qualifying, s.s_suppkey == qualifying.l_suppkey, "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


Q20_SQL = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE 'small%')
          AND l_quantity > (SELECT 0.5 * AVG(l2.l_quantity)
                            FROM lineitem l2
                            WHERE l2.l_partkey = lineitem.l_partkey))
  AND s_nationkey IN (SELECT n_nationkey FROM nation
                      WHERE n_name = 'NATION_4')
"""


def sample_hash_orders(spark, sf_dir):
    """Deterministic ~10% Bernoulli sample via a multiplicative hash
    of the key — reproducible across engines and runs (unlike
    TABLESAMPLE), the sampling idiom for 100 TB pipeline reruns."""
    o = _t(spark, sf_dir, "orders")
    keep = (F.col("o_orderkey") * F.lit(2654435761)) % F.lit(4294967296) < F.lit(
        429496730
    )
    return o.filter(keep).agg(
        F.count("*").alias("n_sampled"),
        _dsum("o_totalprice", "sampled_value"),
    )


SAMPLE_HASH_SQL = f"""
SELECT COUNT(*) AS n_sampled,
       {_sql_dsum('o_totalprice', 'sampled_value')}
FROM orders
WHERE (o_orderkey * 2654435761) % 4294967296 < 429496730
"""


def stratified_sample_orders(spark, sf_dir):
    """Stratified top-N-per-group sample: 3 earliest orders per
    priority (row_number over a deterministic order) — the per-class
    cap idiom for training-data balancing."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_orderdate", "rn")
    )


STRATIFIED_SQL = """
SELECT o_orderpriority, o_orderkey, o_orderdate, rn
FROM (SELECT o_orderpriority, o_orderkey, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders) t
WHERE rn <= 3
"""


def histogram_totalprice(spark, sf_dir):
    """Fixed-width histogram of order value (floor-division bucket —
    portable width_bucket), plus per-bucket bounds."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "bucket", F.floor(F.col("o_totalprice") / 25000).cast("bigint")
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 4).alias("bucket_min"),
            F.round(F.max("o_totalprice"), 4).alias("bucket_max"),
        )
    )


HISTOGRAM_SQL = """
SELECT CAST(FLOOR(o_totalprice / 25000) AS BIGINT) AS bucket,
       COUNT(*) AS n_orders,
       ROUND(MIN(o_totalprice), 4) AS bucket_min,
       ROUND(MAX(o_totalprice), 4) AS bucket_max
FROM orders
GROUP BY bucket
"""


def string_agg_regions(spark, sf_dir):
    """Ordered string aggregation (listagg): nations per region as a
    comma-joined sorted list."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
            F.count("*").alias("n_nations"),
        )
    )


STRING_AGG_SQL = """
SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
       COUNT(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def regexp_funcs_parts(spark, sf_dir):
    """Regexp scalar surface: extract (group), replace-all, rlike."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.regexp_replace("p_name", "[aeiou]", "*").alias("masked"),
        F.col("p_name").rlike("o.t").alias("has_ot"),
    )


REGEXP_SQL = r"""
SELECT p_partkey,
       regexp_extract(p_name, '^(\w+)', 1) AS first_word,
       regexp_replace(p_name, '[aeiou]', '*', 'g') AS masked,
       regexp_matches(p_name, 'o.t') AS has_ot
FROM part
"""


# ------------------------------------------------- widening batch 3


def window_ntile_stats(spark, sf_dir):
    """ntile / percent_rank / cume_dist per market segment (bounded
    partitions — a single global ORDER BY window would serialize on
    one task at 100 TB; per-segment windows parallelize)."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_mktsegment",
        "c_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


WINDOW_NTILE_SQL = """
SELECT c_mktsegment, c_custkey,
       NTILE(4) OVER w AS quartile,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 6) AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
"""


def window_range_frame(spark, sf_dir):
    """RANGE frame over a day offset (30-day trailing spend) plus
    full-frame first/last order value per customer. The offset int
    keeps RANGE semantics identical across engines."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 25 == 0)
    day = F.datediff("o_orderdate", F.lit("1995-01-01").cast("timestamp"))
    o = o.withColumn("day_no", day)
    w_range = (
        Window.partitionBy("o_custkey").orderBy("day_no").rangeBetween(-30, 0)
    )
    w_full = (
        Window.partitionBy("o_custkey")
        .orderBy("day_no", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "day_no",
        F.round(F.sum("o_totalprice").over(w_range), 4).alias("trailing_30d"),
        F.round(F.first("o_totalprice").over(w_full), 4).alias("first_price"),
        F.round(F.last("o_totalprice").over(w_full), 4).alias("last_price"),
    )


WINDOW_RANGE_SQL = """
SELECT o_custkey, o_orderkey, day_no,
       ROUND(SUM(o_totalprice) OVER
         (PARTITION BY o_custkey ORDER BY day_no
          RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 4) AS trailing_30d,
       ROUND(FIRST_VALUE(o_totalprice) OVER w_full, 4) AS first_price,
       ROUND(LAST_VALUE(o_totalprice) OVER w_full, 4) AS last_price
FROM (SELECT *, datediff('day', TIMESTAMP '1995-01-01 00:00:00',
                         o_orderdate) AS day_no
      FROM orders WHERE o_custkey % 25 = 0) t
WINDOW w_full AS (PARTITION BY o_custkey ORDER BY day_no, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING
                           AND UNBOUNDED FOLLOWING)
"""


def posexplode_part_words(spark, sf_dir):
    """posexplode: token + 0-based position (lateral view shape)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.posexplode(F.split("p_name", " ")).alias("pos", "word"),
    )


POSEXPLODE_SQL = """
SELECT p_partkey,
       generate_subscripts(string_split(p_name, ' '), 1) - 1 AS pos,
       unnest(string_split(p_name, ' ')) AS word
FROM part
"""


def map_pivot_priorities(spark, sf_dir):
    """MapType surface: per-status priority→count map built with
    map_from_entries over collected structs, probed with element_at
    (missing key → null → coalesce 0) and cardinality."""
    o = _t(spark, sf_dir, "orders")
    per = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt")
    )
    m = per.groupBy("o_orderstatus").agg(
        F.map_from_entries(
            F.collect_list(F.struct("o_orderpriority", "cnt"))
        ).alias("prio_counts")
    )
    return m.select(
        "o_orderstatus",
        F.coalesce(F.element_at("prio_counts", "1-URGENT"), F.lit(0)).alias(
            "n_urgent"
        ),
        F.coalesce(F.element_at("prio_counts", "5-LOW"), F.lit(0)).alias("n_low"),
        F.size("prio_counts").cast("bigint").alias("n_priorities"),
    )


MAP_PIVOT_SQL = """
WITH per AS (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
  FROM orders GROUP BY o_orderstatus, o_orderpriority
), m AS (
  SELECT o_orderstatus,
         map_from_entries(list(row(o_orderpriority, cnt))) AS prio_counts
  FROM per GROUP BY o_orderstatus
)
SELECT o_orderstatus,
       COALESCE(prio_counts['1-URGENT'][1], 0) AS n_urgent,
       COALESCE(prio_counts['5-LOW'][1], 0) AS n_low,
       cardinality(prio_counts) AS n_priorities
FROM m
"""


def weekly_gapfill_orders(spark, sf_dir):
    """Gap-filled weekly order counts: sequence() generates the full
    calendar spine (one tiny row → exploded), left-joined to the
    per-week aggregate so empty weeks appear as zeros — the
    time-series densification idiom."""
    o = _t(spark, sf_dir, "orders")
    bounds = o.agg(
        F.date_trunc("week", F.min("o_orderdate")).alias("w0"),
        F.date_trunc("week", F.max("o_orderdate")).alias("w1"),
    )
    # spine-inflation fail-fast (same idiom as zscore_daily_counts):
    # one corrupt year-9999 order would mint ~400k spine weeks —
    # assert inside the sequence bound, zero cost on healthy data.
    # Cast to o_orderdate's own dtype (timestamp vs timestamp_ntz
    # varies by parquet reader) so the coalesce stays type-exact.
    ts_t = dict(o.dtypes)["o_orderdate"]
    w1_guarded = F.coalesce(
        F.assert_true(
            F.datediff("w1", "w0") <= F.lit(36_524),
            F.concat(
                F.lit("weekly_gapfill: order dates span > 100 years ("),
                F.col("w0").cast("string"),
                F.lit(" .. "),
                F.col("w1").cast("string"),
                F.lit(") — clean the corrupt o_orderdate extremes"),
            ),
        ).cast(ts_t),
        F.col("w1"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("w0", w1_guarded, F.expr("INTERVAL 7 DAYS"))
        ).alias("week_start")
    )
    per_week = o.groupBy(
        F.date_trunc("week", "o_orderdate").alias("week_start")
    ).agg(
        F.count("*").alias("n_orders"),
        _dsum("o_totalprice", "week_value"),
    )
    return (
        spine.join(per_week, "week_start", "left_outer")
        .select(
            "week_start",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("week_value", F.lit(0.0)).alias("week_value"),
        )
    )


WEEKLY_GAPFILL_SQL = f"""
WITH spine AS (
  SELECT unnest(generate_series(
           (SELECT date_trunc('week', MIN(o_orderdate)) FROM orders),
           (SELECT date_trunc('week', MAX(o_orderdate)) FROM orders),
           INTERVAL 7 DAY)) AS week_start
), per_week AS (
  SELECT date_trunc('week', o_orderdate) AS week_start,
         COUNT(*) AS n_orders,
         {_sql_dsum('o_totalprice', 'week_value')}
  FROM orders GROUP BY 1
)
SELECT spine.week_start,
       COALESCE(n_orders, 0) AS n_orders,
       COALESCE(week_value, 0.0) AS week_value
FROM spine LEFT OUTER JOIN per_week ON spine.week_start = per_week.week_start
"""


def dedup_cluster_docs(spark, sf_dir):
    """Near-dup cluster assignment: MinHash+LSH pairs → connected
    components (min-label propagation, one shuffle per round,
    rounds = cluster diameter). cluster_id = min doc_id in the
    component; the keep-one filter is ``doc_id == cluster_id``.
    Oracle: exact-Jaccard pairs + recursive-CTE transitive closure."""
    return D.connected_components(_minhash_pairs(spark, sf_dir), "id_a", "id_b")


DEDUP_CLUSTER_SQL = f"""
WITH RECURSIVE pairs AS MATERIALIZED ({DEDUP_NGRAM_SQL}),
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
FROM reach GROUP BY src
"""

LEAKAGE_SPLIT_SQL = f"""
WITH cl AS ({DEDUP_CLUSTER_SQL})
SELECT d.doc_id,
       COALESCE(cl.cluster_id, d.doc_id) AS cluster_id,
       CASE WHEN {_hash32_sql("COALESCE(cl.cluster_id, d.doc_id)")}
              < 429496729
            THEN 'test' ELSE 'train' END AS split
FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
"""


def dedup_best_quality_docs(spark, sf_dir):
    """Quality-aware duplicate-cluster representative selection:
    instead of keeping the arbitrary min-id member, keep each
    cluster's LONGEST document (n_chars, doc_id asc tiebreak) — the
    keep-the-best-copy policy real curation pipelines use. Cluster
    assignment reuses the shared connected-components output; the
    argmax is one ``max_by`` aggregate over the (tiny) clustered
    subset joined with its quality feature."""
    clusters = D.connected_components(
        _minhash_pairs(spark, sf_dir), "id_a", "id_b"
    )
    d = _t(spark, sf_dir, "documents")
    q = d.select("doc_id", F.length("text").alias("_nc"))
    return (
        clusters.join(q, ["doc_id"])
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.expr(
                "max_by(doc_id, named_struct('nc', _nc, 'id', -doc_id))"
            ).alias("keep_doc_id"),
            F.max("_nc").cast("bigint").alias("keep_n_chars"),
        )
    )


DEDUP_BEST_SQL = f"""
WITH cl AS ({DEDUP_CLUSTER_SQL}),
j AS (
  SELECT cl.doc_id, cl.cluster_id, LENGTH(d.text) AS nc
  FROM cl JOIN documents d ON cl.doc_id = d.doc_id)
SELECT cluster_id, COUNT(*) AS n_members,
       MAX(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc_id,
       CAST(MAX(nc) AS BIGINT) AS keep_n_chars
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                                   ORDER BY nc DESC, doc_id) AS rn
      FROM j)
GROUP BY cluster_id
"""


# ------------------------------------------------- widening batch 4


def try_cast_events(spark, sf_dir):
    """Safe-cast surface: try_cast returns null on failure instead of
    erroring — the malformed-record policy for lossy ingest. The
    event_type cast always fails (letters), the JSON-extracted k
    always parses."""
    e = _events(spark, sf_dir)
    return e.select(
        "event_id",
        F.expr("try_cast(get_json_object(props, '$.k') AS int)").alias("k_int"),
        F.expr("try_cast(event_type AS int)").alias("type_int"),
    ).agg(
        F.count("*").alias("n_rows"),
        F.count("k_int").alias("n_k_parsed"),
        F.count("type_int").alias("n_type_parsed"),
        F.sum("k_int").alias("sum_k"),
    )


TRY_CAST_SQL = """
SELECT COUNT(*) AS n_rows,
       COUNT(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER))
         AS n_k_parsed,
       COUNT(TRY_CAST(event_type AS INTEGER)) AS n_type_parsed,
       CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER))
            AS BIGINT) AS sum_k
FROM events
"""


def union_by_name_customers(spark, sf_dir):
    """unionByName with allowMissingColumns: schema-mismatched
    branches align by column name, absent columns null-fill — the
    drift-tolerant union (same name-based contract as the catalog's
    schema match, H3)."""
    c = _t(spark, sf_dir, "customer")
    a = c.select("c_custkey", "c_name")
    b = c.select("c_name", "c_custkey", "c_acctbal")
    u = a.unionByName(b, allowMissingColumns=True)
    return u.agg(
        F.count("*").alias("n_rows"),
        F.count("c_acctbal").alias("n_with_balance"),
        _dsum("c_acctbal", "total_balance"),
    )


UNION_BY_NAME_SQL = f"""
SELECT COUNT(*) AS n_rows,
       COUNT(c_acctbal) AS n_with_balance,
       {_sql_dsum('c_acctbal', 'total_balance')}
FROM (SELECT c_custkey, c_name FROM customer
      UNION ALL BY NAME
      SELECT c_name, c_custkey, c_acctbal FROM customer)
"""


def hof_exists_forall_docs(spark, sf_dir):
    """Array predicate HOFs over tokenized text: exists / forall /
    array_contains — all JVM lambdas, no UDF."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), r"\s+")
    return d.select(
        "doc_id",
        F.exists(toks, lambda t: F.length(t) > 12).alias("has_long_token"),
        F.forall(toks, lambda t: F.length(t) <= 20).alias("all_tokens_short"),
        F.array_contains(toks, "the").alias("contains_the"),
    )


HOF_PREDICATE_SQL = r"""
SELECT doc_id,
       len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                       t -> length(t) > 12)) > 0 AS has_long_token,
       len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                       t -> length(t) > 20)) = 0 AS all_tokens_short,
       list_contains(regexp_split_to_array(lower(text), '\s+'), 'the')
         AS contains_the
FROM documents
"""


def fuzzy_levenshtein_parts(spark, sf_dir):
    """Fuzzy match at scale = dedupe → block → verify → expand:
    aggregate to DISTINCT names first (the value domain is tiny
    relative to rows), block on first word, levenshtein-verify only
    distinct name pairs, then recover row-pair counts from the name
    multiplicities. Verifying on raw rows instead is quadratic in
    rows per block (measured 22 s at sf0.1 vs ~0.3 s this way) and
    only gets worse with SF; the distinct-name table grows with the
    vocabulary, not the data."""
    p = _t(spark, sf_dir, "part").withColumn(
        "fw", F.regexp_extract("p_name", r"^\w+", 0)
    )
    names = p.groupBy("fw", "p_name").agg(F.count("*").alias("cnt"))
    a = names.select(
        F.col("p_name").alias("name_a"), F.col("cnt").alias("cnt_a"), "fw"
    )
    b = names.select(
        F.col("p_name").alias("name_b"), F.col("cnt").alias("cnt_b"), "fw"
    )
    pair_rows = F.when(
        F.col("name_a") == F.col("name_b"),
        (F.col("cnt_a") * (F.col("cnt_a") - 1) / 2).cast("bigint"),
    ).otherwise(F.col("cnt_a") * F.col("cnt_b"))
    return (
        a.join(b, "fw")
        .filter(F.col("name_a") <= F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 4)
        .groupBy("fw", "dist")
        .agg(F.sum(pair_rows).cast("bigint").alias("n_pairs"))
    )


FUZZY_LEV_SQL = r"""
SELECT a.fw, levenshtein(a.p_name, b.p_name) AS dist,
       COUNT(*) AS n_pairs
FROM (SELECT p_partkey, p_name, regexp_extract(p_name, '^\w+') AS fw
      FROM part) a
JOIN (SELECT p_partkey, p_name, regexp_extract(p_name, '^\w+') AS fw
      FROM part) b
  ON a.fw = b.fw AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 4
GROUP BY a.fw, dist
"""


def paged_orders(spark, sf_dir):
    """Keyset-free pagination: ORDER BY unique key LIMIT/OFFSET. (At
    100 TB prefer keyset pagination — WHERE key > last_seen — since
    OFFSET still sorts/skips the prefix; this declares the surface.)"""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy("o_orderkey")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .offset(40)
        .limit(20)
    )


PAGED_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_orderkey LIMIT 20 OFFSET 40
"""


def keyset_paged_orders(spark, sf_dir):
    """Keyset pagination — the 100 TB-correct page fetch paged_orders'
    docstring promises: WHERE key > last_seen ORDER BY key LIMIT n.
    The range predicate pushes into the parquet scan (min/max pruning
    skips every row group below the cursor) and the page is a top-20,
    never an OFFSET skip-scan over the prefix. The cursor here is
    derived in-plan (max key of the first page-40) so the gate is
    deterministic at any SF; a real pager passes the cursor as a
    literal, which prunes even harder."""
    o = _t(spark, sf_dir, "orders")
    cursor = (
        o.select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(40)
        .agg(F.max("o_orderkey").alias("cursor"))
    )
    return (
        o.join(F.broadcast(cursor))
        .filter(F.col("o_orderkey") > F.col("cursor"))
        .orderBy("o_orderkey")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(20)
    )


KEYSET_PAGED_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderkey > (
  SELECT MAX(k) FROM (
    SELECT o_orderkey AS k FROM orders ORDER BY o_orderkey LIMIT 40))
ORDER BY o_orderkey LIMIT 20
"""


def agg_mode_bits(spark, sf_dir):
    """mode() and bitwise aggregates per group. l_linenumber's mode
    is deterministic (line 1 exists for every order, strictly most
    frequent), so cross-engine tie-breaking never triggers."""
    l = _t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.mode("l_linenumber").alias("mode_line"),
        F.bit_and("l_linenumber").alias("line_bit_and"),
        F.bit_or("l_linenumber").alias("line_bit_or"),
        F.bit_xor("l_linenumber").alias("line_bit_xor"),
        F.count("*").alias("n_lines"),
    )


MODE_BITS_SQL = """
SELECT l_returnflag,
       mode(l_linenumber) AS mode_line,
       bit_and(l_linenumber) AS line_bit_and,
       bit_or(l_linenumber) AS line_bit_or,
       bit_xor(l_linenumber) AS line_bit_xor,
       COUNT(*) AS n_lines
FROM lineitem GROUP BY l_returnflag
"""


def embed_centroids(spark, sf_dir):
    """Distributed per-label centroid: posexplode the vector to
    (label, dim, value) rows, average per cell — one shuffle keyed on
    (label, dim), fully JVM-side. This is the distributed form of the
    centroid step whose driver-side sampled variant seeds IVF
    (similarity._spherical_kmeans)."""
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select(
            "label",
            F.posexplode(F.expr("transform(embedding, x -> cast(x AS double))"))
            .alias("dim", "v"),
        )
        .groupBy("label", "dim")
        .agg(
            F.round(F.avg("v"), 6).alias("centroid_v"),
            F.count("*").alias("n_vectors"),
        )
    )


EMBED_CENTROIDS_SQL = """
SELECT label, dim, ROUND(AVG(v), 6) AS centroid_v,
       COUNT(*) AS n_vectors
FROM (SELECT label,
             generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1 AS dim,
             unnest(CAST(embedding AS DOUBLE[])) AS v
      FROM embeddings)
GROUP BY label, dim
"""


def embed_silhouette_vecs(spark, sf_dir):
    """Label-coherence audit (operators/similarity.py
    label_silhouette): simplified silhouette of every vector against
    the per-label centroids (cosine distance), aggregated per label —
    the cluster-quality check run before trusting labels as training
    targets or SemDeDup cells. Centroids fold into ONE broadcast row;
    the score pass is a per-row array fold (no vector shuffle, no
    n×k intermediate)."""
    e = _t(spark, sf_dir, "embeddings")
    return S.label_silhouette(e)


EMBED_SILHOUETTE_SQL = """
WITH pos AS (
  SELECT label, generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1 AS dim,
         unnest(CAST(embedding AS DOUBLE[])) AS v
  FROM embeddings
),
cent AS MATERIALIZED (
  SELECT label AS c_label, list(cv ORDER BY dim) AS cvec
  FROM (SELECT label, dim, AVG(v) AS cv FROM pos GROUP BY label, dim)
  GROUP BY label
),
per_vec AS (
  SELECT vec_id, label,
         MIN(CASE WHEN c_label = label THEN d END) AS a,
         MIN(CASE WHEN c_label <> label THEN d END) AS b
  FROM (SELECT e.vec_id, e.label, c.c_label,
               1.0 - list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvec)
                 / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(c.cvec, c.cvec))) AS d
        FROM embeddings e CROSS JOIN cent c)
  GROUP BY vec_id, label
)
SELECT label, COUNT(*) AS n_vectors,
       ROUND(AVG(CASE WHEN greatest(a, b) > 0
                      THEN (b - a) / greatest(a, b) ELSE 0 END), 6)
         AS mean_silhouette,
       CAST(SUM(CASE WHEN b < a THEN 1 ELSE 0 END) AS BIGINT)
         AS n_misassigned
FROM per_vec GROUP BY label
"""


def curation_pipeline_docs(spark, sf_dir):
    """End-to-end training-data curation as ONE Catalyst plan:
    quality gate (token count + alpha ratio) → exact near-dup
    removal on whitespace-normalized text (keep lowest doc_id) →
    corpus accounting. The composition stays declarative, so filters
    still push down and the dedup is a single hash aggregate — the
    shape a 100 TB curation job should have."""
    d = _t(spark, sf_dir, "documents")
    q = (
        X.quality_features(d)
        .filter((F.col("n_tokens") >= 5) & (F.col("alpha_ratio") >= 0.6))
        .select("doc_id")
    )
    kept = d.join(q, "doc_id", "left_semi")
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    survivors = kept.groupBy(norm.alias("norm_text")).agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies")
    )
    return survivors.agg(
        F.count("*").alias("n_docs_kept"),
        F.sum("n_copies").cast("bigint").alias("n_docs_quality"),
        F.sum(F.size(F.split("norm_text", " ")))
        .cast("bigint")
        .alias("total_tokens_kept"),
    )


CURATION_SQL = f"""
WITH quality AS (
  SELECT doc_id FROM documents
  WHERE len({_SQL_TOKENS}) >= 5
    AND CAST(LENGTH(text)
        - LENGTH(REGEXP_REPLACE(text, '[a-zA-Z]', '', 'g')) AS DOUBLE)
        / LENGTH(text) >= 0.6
), survivors AS (
  SELECT lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm_text,
         MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
  FROM documents
  WHERE doc_id IN (SELECT doc_id FROM quality)
  GROUP BY 1
)
SELECT COUNT(*) AS n_docs_kept,
       CAST(SUM(n_copies) AS BIGINT) AS n_docs_quality,
       CAST(SUM(len(string_split(norm_text, ' '))) AS BIGINT)
         AS total_tokens_kept
FROM survivors
"""


def skew_salted_token_counts(spark, sf_dir):
    """Skewed hash aggregation through the salted two-phase path:
    token frequencies follow a Zipf-ish curve (hot keys), so the
    partial aggregate splits each hot token across 16 reducers
    before the tiny final merge. Results are exactly the plain
    groupBy — salting only reshapes the shuffle — so the oracle is
    the straightforward SQL count."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        skew as K,
    )

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token")
    )
    out = K.two_phase_agg(toks, ["token"], {"n": ("token", "count")}, salt=16)
    return out.filter(F.col("n") >= 50).select("token", F.col("n").cast("bigint").alias("n"))


SKEW_TOKENS_SQL = """
SELECT token, COUNT(*) AS n
FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
      FROM documents)
GROUP BY token HAVING COUNT(*) >= 50
"""


def approx_quantile_orders(spark, sf_dir):
    """approx_percentile (GK sketch, accuracy=10000) per priority.
    The sketch is the 100 TB path: mergeable, bounded memory, one
    pass. Raw sketch outputs are engine-specific, so the oracle-
    checkable output is the exact interpolated median plus a flag
    that each approx quantile lies within the +-0.005 RANK window of
    the exact distribution (rank error for accuracy=10000 is 1e-4 —
    the bound holds with 50x slack)."""
    o = _t(spark, sf_dir, "orders")
    a = o.groupBy("o_orderpriority").agg(
        F.expr(
            "approx_percentile(o_totalprice, array(0.5, 0.9, 0.99), 10000)"
        ).alias("ap"),
        F.expr(
            "percentile(o_totalprice,"
            " array(0.495, 0.505, 0.895, 0.905, 0.985, 0.995))"
        ).alias("ex"),
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias(
            "exact_median"
        ),
        F.count("*").alias("n_orders"),
    )
    within = (
        (F.col("ap")[0] >= F.col("ex")[0])
        & (F.col("ap")[0] <= F.col("ex")[1])
        & (F.col("ap")[1] >= F.col("ex")[2])
        & (F.col("ap")[1] <= F.col("ex")[3])
        & (F.col("ap")[2] >= F.col("ex")[4])
        & (F.col("ap")[2] <= F.col("ex")[5])
    )
    return a.select(
        "o_orderpriority",
        "n_orders",
        "exact_median",
        within.alias("within_rank_bounds"),
    )


APPROX_QUANTILE_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       ROUND(QUANTILE_CONT(o_totalprice, 0.5), 4) AS exact_median,
       TRUE AS within_rank_bounds
FROM orders GROUP BY o_orderpriority
"""


def snapshot_diff_orders(spark, sf_dir):
    """CDC-style snapshot diff: full outer join on the key, classify
    added / removed / changed / unchanged with null-safe comparison.
    (Two deterministic 'snapshots' are derived from orders so the
    diff is oracle-checkable; the operator shape is what a sink-to-
    sink reconciliation runs at scale — one key-partitioned join.)"""
    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", F.col("o_totalprice").alias("old_price")
    )
    new = o.filter(F.col("o_orderkey") % 2 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") * 1.1
        ).otherwise(F.col("o_totalprice")).alias("new_price"),
    )
    diff = old.join(new, "o_orderkey", "full_outer").withColumn(
        "change_type",
        F.when(F.col("old_price").isNull(), "added")
        .when(F.col("new_price").isNull(), "removed")
        .when(~F.col("old_price").eqNullSafe(F.col("new_price")), "changed")
        .otherwise("unchanged"),
    )
    return diff.groupBy("change_type").agg(F.count("*").alias("n_keys"))


SNAPSHOT_DIFF_SQL = """
WITH old AS (SELECT o_orderkey, o_totalprice AS old_price
             FROM orders WHERE o_orderkey % 3 <> 0),
new AS (SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 1.1
                    ELSE o_totalprice END AS new_price
        FROM orders WHERE o_orderkey % 2 <> 0)
SELECT CASE WHEN old_price IS NULL THEN 'added'
            WHEN new_price IS NULL THEN 'removed'
            WHEN old_price IS DISTINCT FROM new_price THEN 'changed'
            ELSE 'unchanged' END AS change_type,
       COUNT(*) AS n_keys
FROM old FULL OUTER JOIN new USING (o_orderkey)
GROUP BY change_type
"""


def dq_checks_orders(spark, sf_dir):
    """Data-quality audit in one pass + one anti join: null rates,
    key uniqueness, domain violations, referential orphans — the
    constraint checks an ingest gate runs before publishing a 100 TB
    batch (conditional aggregation, no per-rule scans)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    orphans = o.join(c, o.o_custkey == c.c_custkey, "left_anti").agg(
        F.count("*").alias("n_orphan_custkey")
    )
    checks = o.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias(
            "n_null_key"
        ),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("n_dup_key"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0)
        ).alias("n_bad_status"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "n_nonpositive_price"
        ),
    )
    return checks.join(F.broadcast(orphans))


DQ_CHECKS_SQL = """
SELECT n_rows, n_null_key, n_dup_key, n_bad_status,
       n_nonpositive_price, n_orphan_custkey
FROM (SELECT COUNT(*) AS n_rows,
             CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_null_key,
             COUNT(*) - COUNT(DISTINCT o_orderkey) AS n_dup_key,
             CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P')
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_status,
             CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_nonpositive_price
      FROM orders),
     (SELECT COUNT(*) AS n_orphan_custkey FROM orders
      WHERE NOT EXISTS (SELECT 1 FROM customer
                        WHERE c_custkey = o_custkey))
"""


def embed_label_spectrum(spark, sf_dir):
    """Per-label covariance spectrum (grouped applyInPandas eigen).
    Eigenvalues have no SQL form, but the covariance TRACE does
    (sum of per-dimension sample variances — the moments identity),
    so the gate emits the trace computed via plain variance
    aggregates (oracle-matched to DuckDB VAR_SAMP, rounded to 4)
    plus flags tying the eigen output to it: trace-from-eigenvalues
    consistent with trace-from-moments, top-1 ≤ trace, Σtop-3 ≤
    trace, top-1 ≥ trace/64 (PSD pigeonhole over 64 dims). The
    known-covariance unit test pins the eigen math itself."""
    e = _t(spark, sf_dir, "embeddings")
    spec = S.label_spectrum(e, top_k=3)
    flat = e.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "v"),
    )
    trace = (
        flat.groupBy("label", "d")
        .agg(F.var_samp("v").alias("vp"))
        .groupBy("label")
        .agg(F.round(F.sum("vp"), 4).alias("trace_moments"))
    )
    eig_sum = F.aggregate("top_eigs", F.lit(0.0), lambda a, x: a + x)
    return (
        spec.join(trace, "label")
        .select(
            "label",
            "n_vectors",
            "trace_moments",
            (
                F.abs(F.col("cov_trace") - F.col("trace_moments")) <= 1e-3
            ).alias("trace_consistent"),
            (
                (F.col("top_eigs")[0] <= F.col("cov_trace") + 1e-6)
                & (eig_sum <= F.col("cov_trace") + 1e-6)
                & (F.col("top_eigs")[0] >= F.col("cov_trace") / 64 - 1e-6)
            ).alias("spectrum_ok"),
        )
    )


EMBED_SPECTRUM_SQL = """
WITH flat AS (
  SELECT label,
         UNNEST(CAST(embedding AS DOUBLE[])) AS v,
         UNNEST(range(1, len(embedding) + 1)) AS d
  FROM embeddings
),
tr AS (
  SELECT label, ROUND(SUM(vp), 4) AS trace_moments FROM (
    SELECT label, d, VAR_SAMP(v) AS vp FROM flat GROUP BY label, d
  ) GROUP BY label
)
SELECT label, n_vectors, trace_moments,
       TRUE AS trace_consistent,
       TRUE AS spectrum_ok
FROM tr
JOIN (SELECT label, COUNT(*) AS n_vectors FROM embeddings GROUP BY label)
USING (label)
"""


# ------------------------------------------- similarity-graph analytics

_KNN_EDGES_CACHE: dict[tuple[int, str], tuple[SparkSession, DataFrame]] = {}


def _knn_doc_edges(spark, sf_dir) -> DataFrame:
    """The shared document similarity graph: exact-integer kNN edges
    (k=5) over hashed-BoW embeddings of the doc_id%5==0 sample —
    persisted per (session, sf dir) because both graph gates consume
    it (the kNN gate returns it; PageRank iterates over it). The
    sample bounds the exact O(n²) pair join (operators/graph.py
    docstring has the LSH/IVF blocking story for full-corpus graphs
    at 100 TB)."""
    return _session_cached(
        _KNN_EDGES_CACHE,
        spark,
        sf_dir,
        lambda: GR.knn_edges_exact_int(
            SR.hashed_embeddings(
                _t(spark, sf_dir, "documents").filter(
                    F.col("doc_id") % 5 == 0
                ),
                dim=32,
            ),
            k=5,
            id_col="doc_id",
            vec_col="embedding",
        ),
    )


def knn_graph_docs(spark, sf_dir):
    """Exact k-nearest-neighbor graph (k=5) over the sampled document
    corpus under the hashed bag-of-words embedding
    (operators/graph.py knn_edges_exact_int): integer dot products as
    zip_with/aggregate expressions, ranking key dot²/(na·nb) — one
    correctly-rounded double division of exact int64 values — so
    edges and ranks are bit-reproducible across engines, ties
    breaking on dst."""
    return _knn_doc_edges(spark, sf_dir)


# Shared oracle CTE chain: hashed-BoW embeddings of the doc_id%5
# sample (same md5-bucket hash as the classifier/retrieval gates) →
# exact squared-cosine kNN edges. All arithmetic is exact: integer
# counts as doubles (< 2^53), one division for the ranking key.
_KNN_EDGE_CTES = r"""tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
  FROM documents WHERE doc_id % 5 = 0),
bc AS MATERIALIZED (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT) % 32 AS b,
         COUNT(*) AS c
  FROM tok GROUP BY 1, 2),
emb AS MATERIALIZED (
  SELECT d.doc_id, list(COALESCE(bc.c, 0) ORDER BY g.i) AS v
  FROM (SELECT DISTINCT doc_id FROM bc) d
  CROSS JOIN (SELECT unnest(range(0, 32)) AS i) g
  LEFT JOIN bc ON bc.doc_id = d.doc_id AND bc.b = g.i
  GROUP BY d.doc_id),
sq AS MATERIALIZED (
  SELECT doc_id, CAST(v AS DOUBLE[]) AS dv,
         list_dot_product(CAST(v AS DOUBLE[]), CAST(v AS DOUBLE[])) AS n2
  FROM emb),
e AS MATERIALIZED (
  SELECT src, dst, CAST(rank AS INT) AS rank FROM (
    SELECT a.doc_id AS src, b.doc_id AS dst,
           ROW_NUMBER() OVER (
             PARTITION BY a.doc_id
             ORDER BY (list_dot_product(a.dv, b.dv)
                       * list_dot_product(a.dv, b.dv))
                      / (a.n2 * b.n2) DESC,
                      b.doc_id) AS rank
    FROM sq a JOIN sq b ON a.doc_id <> b.doc_id)
  WHERE rank <= 5)"""

KNN_GRAPH_SQL = f"WITH {_KNN_EDGE_CTES}\nSELECT src, dst, rank FROM e"


def pagerank_docs(spark, sf_dir):
    """PageRank (damping 0.85, 8 statically unrolled power-iteration
    steps) over the exact kNN document similarity graph — the
    curation signal "which documents anchor dense near-duplicate /
    topical neighborhoods" (operators/graph.py pagerank: one ranks
    join + one dst aggregate per step, all expression-only). Every
    node has out-degree k, so the no-dangling fast path applies and
    the unrolled plan stays linear in the iteration count. Ranks
    rounded to 6 decimals — both engines compute the same update
    expression; only float SUM order differs (≤ ulps)."""
    pr = GR.pagerank(
        _knn_doc_edges(spark, sf_dir), n_iter=8, damping=0.85
    )
    return pr.select(
        F.col("id").alias("doc_id"), F.round("pr", 6).alias("pr")
    )


def _pagerank_sql(n_iter: int = 8) -> str:
    """Unrolled PageRank oracle: one MATERIALIZED CTE per iteration
    (chained CTEs re-evaluate exponentially when inlined — the BPE
    oracle lesson). The update is written exactly as the Spark side
    computes it: (1.0 - 0.85)/n + 0.85 * coalesce(sum(pr/outdeg), 0),
    all DOUBLE (DuckDB bare 0.85 is DECIMAL — cast explicitly)."""
    steps = []
    for i in range(1, n_iter + 1):
        steps.append(
            f"""p{i} AS MATERIALIZED (
  SELECT nd.id,
         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
         + CAST(0.85 AS DOUBLE) * COALESCE(c.s, CAST(0 AS DOUBLE)) AS pr
  FROM nodes nd CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS id, SUM(p.pr / d.outdeg) AS s
    FROM e JOIN p{i - 1} p ON e.src = p.id
           JOIN deg d ON d.id = e.src
    GROUP BY e.dst) c ON c.id = nd.id)"""
        )
    chain = ",\n".join(steps)
    return f"""WITH {_KNN_EDGE_CTES},
nodes AS MATERIALIZED (
  SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),
deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS outdeg FROM e GROUP BY 1),
nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
p0 AS MATERIALIZED (
  SELECT id, CAST(1.0 AS DOUBLE) / nn.n AS pr FROM nodes CROSS JOIN nn),
{chain}
SELECT id AS doc_id, ROUND(pr, 6) AS pr FROM p{n_iter}"""


PAGERANK_SQL = _pagerank_sql(8)


# --------------------------------------------- hybrid retrieval (RRF)


def rrf_fusion_docs(spark, sf_dir):
    """Hybrid lexical+vector retrieval with reciprocal-rank fusion
    (operators/search.py hybrid_rrf_topk): BM25 top-10 and
    hashed-BoW-cosine top-10 per query, fused as
    Σ 1/(60+rank_arm), top-5 per query. Both arm rankings are
    engine-reproducible (BM25 rounds scores before ranking; the
    vector key is exact integer arithmetic), and the fused score is
    a sum of two divisions of INTEGER ranks — IEEE-identical in both
    engines, so the fused ranking (rrf DESC, doc ASC) matches the
    oracle bit-for-bit."""
    d = _t(spark, sf_dir, "documents")
    return SR.hybrid_rrf_topk(
        d, _BM25_QUERIES, topk=5, k_arm=10,
        index=_term_index(spark, sf_dir),
    )


def _rrf_sql() -> str:
    """DuckDB twin of hybrid_rrf_topk over _BM25_QUERIES: the BM25
    arm is the bm25_search_docs oracle at rank ≤ 10; the vector arm
    hash-embeds the corpus in SQL (same md5 fold) and takes the
    query-side count vectors as plan-time list literals computed by
    the SAME Python helper the Spark side uses
    (search.hash_query_matrix) — queries are literals, not data.
    All fusion arithmetic is forced to DOUBLE (DuckDB bare 1.0 is
    DECIMAL; its division semantics differ)."""
    qmat = SR.hash_query_matrix(_BM25_QUERIES, 32)
    q_terms = ", ".join(
        f"('{qid}', '{t}')"
        for qid, qtext in _BM25_QUERIES
        for t in sorted(set(qtext.lower().split()))
    )
    q_vecs = ", ".join(
        f"('{qid}', [{', '.join(str(int(x)) for x in qmat[i])}])"
        for i, (qid, _) in enumerate(_BM25_QUERIES)
    )
    return f"""
WITH tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
meta AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
q(query_id, term) AS (VALUES {q_terms}),
lex AS MATERIALIZED (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank_lex
  FROM (
    SELECT q.query_id, tf.doc_id,
           ROUND(SUM(
             ln(1 + (n_docs - df + 0.5) / (df + 0.5))
             * (tf * (1.2 + 1))
             / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
           ), 6) AS score
    FROM tf
    JOIN dl ON tf.doc_id = dl.doc_id
    JOIN q ON tf.term = q.term
    JOIN dfr ON tf.term = dfr.term, meta
    GROUP BY q.query_id, tf.doc_id)),
bc AS MATERIALIZED (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT) % 32 AS b,
         COUNT(*) AS c
  FROM tok GROUP BY 1, 2),
emb AS MATERIALIZED (
  SELECT d.doc_id, list(COALESCE(bc.c, 0) ORDER BY g.i) AS v
  FROM (SELECT DISTINCT doc_id FROM bc) d
  CROSS JOIN (SELECT unnest(range(0, 32)) AS i) g
  LEFT JOIN bc ON bc.doc_id = d.doc_id AND bc.b = g.i
  GROUP BY d.doc_id),
sq AS MATERIALIZED (
  SELECT doc_id, CAST(v AS DOUBLE[]) AS dv,
         list_dot_product(CAST(v AS DOUBLE[]), CAST(v AS DOUBLE[])) AS n2
  FROM emb),
qv(query_id, qvl) AS (VALUES {q_vecs}),
vecarm AS MATERIALIZED (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY (CAST(dot AS DOUBLE) * dot)
                                     / (CAST(na AS DOUBLE) * nb) DESC,
                                     doc_id) AS rank_vec
  FROM (
    SELECT qd.query_id, s.doc_id,
           list_dot_product(s.dv, qd.qd) AS dot, s.n2 AS na,
           list_dot_product(qd.qd, qd.qd) AS nb
    FROM sq s
    CROSS JOIN (SELECT query_id, CAST(qvl AS DOUBLE[]) AS qd FROM qv) qd)),
l AS (SELECT query_id, doc_id, rank_lex FROM lex WHERE rank_lex <= 10),
v AS (SELECT query_id, doc_id, rank_vec FROM vecarm WHERE rank_vec <= 10),
f AS (
  SELECT COALESCE(l.query_id, v.query_id) AS query_id,
         COALESCE(l.doc_id, v.doc_id) AS doc_id,
         COALESCE(CAST(1.0 AS DOUBLE) / (60 + l.rank_lex),
                  CAST(0 AS DOUBLE))
         + COALESCE(CAST(1.0 AS DOUBLE) / (60 + v.rank_vec),
                    CAST(0 AS DOUBLE)) AS rrf
  FROM l FULL OUTER JOIN v
    ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
SELECT query_id, CAST(rank AS INT) AS rank, doc_id, ROUND(rrf, 6) AS rrf
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rrf DESC, doc_id) AS rank
      FROM f)
WHERE rank <= 5"""


RRF_FUSION_SQL = _rrf_sql()


def knn_graph_lsh_docs(spark, sf_dir):
    """The kNN graph's 100 TB path, driver-verified: LSH-blocked
    approximate edges (operators/graph.py knn_edges_lsh — 8
    mean-centered sign-hash tables, occupancy-64 adaptive planes,
    2-bucket multi-probe query side, capped candidate pools)
    recalled against the exact kNN edges computed in the same job.

    Round-9 history (r08 verdict task #2): the contract was 0.5 and
    sf0.1 measured 0.67, blamed on tie-equivalent neighbor swaps.
    Making the recall TIE-AWARE — an approx edge counts as a hit
    when its exact similarity key reaches the src's k-th exact key,
    computed with the identical dot²/(na·nb) double expression on
    both sides so true ties compare equal — REFUTED that story: the
    tie-adjusted recall was 0.67 too, i.e. the misses were true
    neighbors landing in no shared bucket. The fix was in the
    operator (multi-probe + occupancy-64 planes, see its
    docstring); the gate keeps the tie-aware numerator (it is the
    right metric on a tie-dense corpus) and the contract is now
    ≥0.9 (measured 1.0 at sf0.01, ≈0.95 at sf0.1). DuckDB
    recomputes n_exact from the exact-edge definition and pins the
    flag."""
    # checkpoint the embedding ONCE for the whole gate (r13
    # optimization round): the recall join references it four times —
    # the (a, b) vector fetches for BOTH edge sets — plus the LSH
    # operator's own banding pass; un-cut, each reference re-ran the
    # tokenize + hash-aggregate embed of the sampled corpus (4
    # corpus-scan-equivalents per evaluation; at 100 TB that is the
    # difference between one embed pass and five). EAGER (r14): the
    # r13 lazy form chained INTO the operator's own lazy base
    # checkpoint, so both materialized inside the operator's
    # plane-sizing count in one job — the driver's 32-core bench
    # regressed 4.6 s -> 12.9 s on exactly that form while the plan
    # shape (one embed pass) stayed right. Materializing emb in its
    # own job first breaks the chain; the r14 A/B at local[32]
    # (interleaved, same session) read eager 4.3/4.8/8.1 s vs lazy
    # 5.4/6.5/10.4 s vs no-checkpoint 7.6/11.0/10.6 s — eager wins
    # every rep and keeps the scans-14->6 single-embed structure.
    emb = SR.hashed_embeddings(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0),
        dim=32,
    ).localCheckpoint()
    base = emb.select(
        "doc_id",
        "embedding",
        GR.int_dot(F.col("embedding"), F.col("embedding")).alias("_n2"),
    )
    a = base.select(
        F.col("doc_id").alias("src"),
        F.col("embedding").alias("_va"),
        F.col("_n2").alias("_na"),
    )
    b = base.select(
        F.col("doc_id").alias("dst"),
        F.col("embedding").alias("_vb"),
        F.col("_n2").alias("_nb"),
    )

    def _skey(edge_df):
        dot = GR.int_dot(F.col("_va"), F.col("_vb"))
        return (
            edge_df.join(a, "src")
            .join(b, "dst")
            .select(
                "src",
                "dst",
                (
                    (dot.cast("double") * dot.cast("double"))
                    / (
                        F.col("_na").cast("double")
                        * F.col("_nb").cast("double")
                    )
                ).alias("_skey"),
            )
        )

    exact = _knn_doc_edges(spark, sf_dir).select("src", "dst")
    approx = GR.knn_edges_lsh(
        emb, k=5, id_col="doc_id", vec_col="embedding", n_tables=8
    ).select("src", "dst")
    kth = _skey(exact).groupBy("src").agg(F.min("_skey").alias("_kth"))
    hits = (
        _skey(approx)
        .join(kth, "src")
        .filter(F.col("_skey") >= F.col("_kth"))
        .agg(F.count(F.lit(1)).alias("_n_hits"))
    )
    totals = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    return totals.crossJoin(F.broadcast(hits)).select(
        "n_exact",
        ((F.col("_n_hits") / F.col("n_exact")) >= 0.9).alias(
            "recall_ok"
        ),
    )


KNN_GRAPH_LSH_SQL = f"""
WITH {_KNN_EDGE_CTES}
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, TRUE AS recall_ok FROM e
"""


def knn_components_docs(spark, sf_dir):
    """Connected components over the (symmetrized) exact kNN document
    similarity graph — the topical-neighborhood clustering twin of
    the near-dup clusters gate, reusing the pointer-jumping min-label
    operator (operators/dedup.py connected_components, O(log
    diameter) rounds) on the shared cached edge frame. Oracle:
    recursive-CTE transitive closure over the same edges."""
    return D.connected_components(
        _knn_doc_edges(spark, sf_dir), "src", "dst"
    )


KNN_COMPONENTS_SQL = f"""
WITH RECURSIVE {_KNN_EDGE_CTES},
edges2 AS (
  SELECT src, dst FROM e
  UNION SELECT dst, src FROM e),
reach(src, dst) AS (
  SELECT src, dst FROM edges2
  UNION
  SELECT r.src, e2.dst FROM reach r JOIN edges2 e2 ON r.dst = e2.src)
SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
FROM reach GROUP BY src
"""


def events_anomaly_daily(spark, sf_dir):
    """Rolling z-score anomaly detection over the events stream
    (operators/temporal.py rolling_zscore_anomalies): each (event
    type, day) count scored against its trailing 7 CALENDAR days —
    the per-key calendar is densified with zero-count days between
    first and last activity (round 9; a drop to zero is scoreable) —
    mean and sample stddev over a ROWS frame that EXCLUDES the
    scored day, |z| > 2 flags the anomaly. The window runs over the
    k·days aggregate, never raw events; z rounded to 4 decimals and
    the flag tested on the rounded value (engine-reproducible)."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.temporal import (
        rolling_zscore_anomalies,
    )

    return rolling_zscore_anomalies(_events(spark, sf_dir)).select(
        F.col("key").alias("event_type"), "day", "cnt", "z", "is_anomaly"
    )


def stream_anomaly_counts(spark, sf_dir):
    """Sixth streaming gate shape (K family): stream-then-score —
    the bronze layer is a watermarked 1-DAY tumbling-window count
    over the events stream (AvailableNow, drained to a memory sink),
    the silver layer applies the SAME trailing-7-day z-score window
    (operators/temporal.py zscore_daily_counts) to the streamed
    aggregate, and the result is compared row-for-row (null-safe,
    exact — identical integer inputs through identical expressions)
    against the all-batch twin. DuckDB recomputes n_scored /
    n_anomalies from the batch-twin SQL and pins the match flag, so
    the streaming runtime is driver-verified."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.temporal import (
        rolling_zscore_anomalies,
        zscore_daily_counts,
    )

    batch = _events(spark, sf_dir)  # also sets the nanosAsLong conf
    stream = _events_stream(spark, sf_dir)
    name = f"stream_an_gate_{next(_STREAM_GATE_SEQ)}"
    streamed = SI.run_to_memory(
        SI.windowed_event_counts(
            stream, window_duration="1 day", watermark="1 hour"
        ),
        name,
        shuffle_partitions=8,
    )
    s = zscore_daily_counts(
        streamed.select(
            F.col("event_type").alias("key"),
            F.to_date("window_start").alias("day"),
            F.col("n_events").alias("cnt"),
        )
    ).alias("s")
    b = rolling_zscore_anomalies(batch).alias("b")
    joined = s.join(b, ["key", "day"], "full_outer")
    row_ok = (
        F.col("s.cnt").eqNullSafe(F.col("b.cnt"))
        & F.col("s.z").eqNullSafe(F.col("b.z"))
        & F.col("s.is_anomaly").eqNullSafe(F.col("b.is_anomaly"))
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum(
            F.when(F.col("b.is_anomaly"), 1).otherwise(0)
        ).cast("bigint").alias("n_anomalies"),
        F.coalesce(
            F.min(F.when(row_ok, 1).otherwise(0)) == 1, F.lit(True)
        ).alias("matches_batch_twin"),
    )


EVENTS_ANOMALY_SQL = """
WITH daily AS MATERIALIZED (
  SELECT event_type,
         CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2),
dense AS MATERIALIZED (
  SELECT c.event_type, c.day, COALESCE(daily.cnt, 0) AS cnt
  FROM (
    SELECT s.event_type, CAST(g.d AS DATE) AS day
    FROM (SELECT event_type, MIN(day) AS lo, MAX(day) AS hi
          FROM daily GROUP BY 1) s,
         LATERAL (SELECT unnest(generate_series(
             CAST(s.lo AS TIMESTAMP), CAST(s.hi AS TIMESTAMP),
             INTERVAL 1 DAY)) AS d) g) c
  LEFT JOIN daily
    ON daily.event_type = c.event_type AND daily.day = c.day),
scored AS (
  SELECT event_type, day, cnt,
         COUNT(cnt) OVER w AS n_prior,
         AVG(cnt) OVER w AS mu,
         STDDEV_SAMP(cnt) OVER w AS sd
  FROM dense
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
SELECT event_type, day, cnt,
       ROUND((cnt - mu) / sd, 4) AS z,
       ABS(ROUND((cnt - mu) / sd, 4)) > CAST(2.0 AS DOUBLE) AS is_anomaly
FROM scored WHERE n_prior = 7 AND sd > 0
"""


def graph_walks_docs(spark, sf_dir):
    """Deterministic random walks over the kNN document graph
    (operators/graph.py random_walks): 3 steps from every node, the
    step-i edge chosen by the portable 32-bit multiplier hash —
    node2vec-style positive-pair sampling with the RNG replaced by
    an engine-reproducible integer hash, so the walk set is
    bit-identical in any engine. Three chained hash joins on the
    shared cached edge frame."""
    return GR.random_walks(_knn_doc_edges(spark, sf_dir), walk_len=3)


def _walks_sql(walk_len: int = 3) -> str:
    """DuckDB twin of random_walks over the kNN edge CTEs: one CTE
    per step, each picking rank = 1 + hash32(cur·1000003 + i) mod
    outdeg via the shared two-limb portable hash (_hash32_sql)."""
    ctes = ["w0 AS (SELECT v AS start, v AS cur FROM deg)"]
    selects = []
    for i in range(1, walk_len + 1):
        h = _hash32_sql(f"((w.cur % 4294967296) * 1000003 + {i})")
        ctes.append(
            f"""w{i} AS MATERIALIZED (
  SELECT w.start, e.dst AS cur
  FROM w{i - 1} w
  JOIN deg d ON d.v = w.cur
  JOIN e ON e.src = w.cur
        AND e.rank = 1 + ({h} % d.outdeg))"""
        )
        selects.append(
            f"SELECT start, CAST({i} AS INT) AS step, cur AS node FROM w{i}"
        )
    cte_block = ",\n".join(ctes)
    select_block = "\nUNION ALL\n".join(selects)
    return f"""
WITH {_KNN_EDGE_CTES},
deg AS MATERIALIZED (SELECT src AS v, COUNT(*) AS outdeg FROM e GROUP BY 1),
{cte_block}
{select_block}"""


GRAPH_WALKS_SQL = _walks_sql(3)


def data_quality_audit(spark, sf_dir):
    """Post-load data-quality expectation report (operators/audit.py
    — the dbt-tests/Deequ surface): PK uniqueness, required columns,
    FK coverage via anti-joins, value ranges, and accepted sets over
    the warehouse tables, one linear aggregate per check, unioned
    into (check_name, n_violations, passed). Deterministic integers
    end-to-end. Complements dq_checks_orders (the single-table
    wide-row conditional-aggregation audit): this gate exercises the
    COMPOSABLE expectation API across three tables in long format —
    the shape a config-driven ingest gate consumes."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        audit as AU,
    )

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    return AU.expectation_report(
        [
            AU.pk_unique(o, "o_orderkey", "orders_pk_unique"),
            AU.pk_unique(c, "c_custkey", "customer_pk_unique"),
            AU.not_null(o, "o_custkey", "orders_custkey_not_null"),
            AU.fk_covered(
                o, "o_custkey", c, "c_custkey", "orders_fk_customer"
            ),
            AU.fk_covered(
                li, "l_orderkey", o, "o_orderkey", "lineitem_fk_orders"
            ),
            AU.in_range(
                li, "l_quantity", 1, 50, "lineitem_quantity_range"
            ),
            AU.in_range(
                li, "l_discount", 0.0, 0.1, "lineitem_discount_range"
            ),
            AU.accepted_values(
                o,
                "o_orderpriority",
                [
                    "1-URGENT",
                    "2-HIGH",
                    "3-MEDIUM",
                    "4-NOT SPECIFIED",
                    "5-LOW",
                ],
                "orders_priority_accepted",
            ),
        ]
    )


DATA_QUALITY_SQL = """
SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
       n_violations = 0 AS passed
FROM (
  SELECT 'orders_pk_unique' AS check_name,
         COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS n_violations
  FROM orders
  UNION ALL
  SELECT 'customer_pk_unique',
         COUNT(c_custkey) - COUNT(DISTINCT c_custkey) FROM customer
  UNION ALL
  SELECT 'orders_custkey_not_null',
         SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) FROM orders
  UNION ALL
  SELECT 'orders_fk_customer', COUNT(*) FROM orders o
  WHERE o.o_custkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer c
                    WHERE c.c_custkey = o.o_custkey)
  UNION ALL
  SELECT 'lineitem_fk_orders', COUNT(*) FROM lineitem l
  WHERE l.l_orderkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_orderkey = l.l_orderkey)
  UNION ALL
  SELECT 'lineitem_quantity_range',
         SUM(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem_discount_range',
         SUM(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 0 ELSE 1 END)
  FROM lineitem
  UNION ALL
  SELECT 'orders_priority_accepted',
         SUM(CASE WHEN o_orderpriority IN
               ('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED',
                '5-LOW') THEN 0 ELSE 1 END)
  FROM orders)
"""


def incremental_agg_orders(spark, sf_dir):
    """Incremental materialized-aggregate maintenance
    (operators/incremental.py): the per-priority order rollup built
    as THREE partial batch states (o_orderkey mod 3) merged
    pairwise — never one full-history aggregate — and the DuckDB
    oracle computes the DIRECT full rollup, so the value-hash match
    PROVES merge(state(A), state(B), state(C)) == state(A∪B∪C)
    exactly (decimal sum lattice, fold-stable min/max, additive
    counts). The 100 TB point: each nightly batch contributes one
    O(batch) state; the rollup refresh touches only state-sized
    frames."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        incremental as INC,
    )

    o = _t(spark, sf_dir, "orders")
    keys = ["o_orderpriority"]
    states = [
        INC.additive_agg_state(
            o.filter(F.col("o_orderkey") % 3 == i), keys, "o_totalprice"
        )
        for i in range(3)
    ]
    merged = INC.merge_agg_states(
        INC.merge_agg_states(states[0], states[1], keys), states[2], keys
    )
    return merged.select(
        "o_orderpriority",
        "n_rows",
        # state m_sum is DECIMAL(38,4) (exact merge lattice end-to-
        # end, round-9 fix); double is a read-time display cast only
        F.round(F.col("m_sum").cast("double"), 4).alias("sum_price"),
        "m_min",
        "m_max",
    )


INCREMENTAL_AGG_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
         AS sum_price,
       MIN(o_totalprice) AS m_min,
       MAX(o_totalprice) AS m_max
FROM orders GROUP BY o_orderpriority
"""


def k_anonymity_customers(spark, sf_dir):
    """K-anonymity audit (operators/governance.py
    k_anonymity_report, k=5) over the customer quasi-identifiers
    (nation, market segment): the class-size histogram with
    violation flags — the privacy gate a dataset passes before
    export, publishing sizes, never the identifying values. Two
    shrinking integer aggregates; engine-exact."""
    return GV.k_anonymity_report(
        _t(spark, sf_dir, "customer"),
        ["c_nationkey", "c_mktsegment"],
        k=5,
    )


K_ANONYMITY_SQL = """
SELECT class_size, CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(class_size * COUNT(*) AS BIGINT) AS n_rows,
       class_size < 5 AS violates
FROM (
  SELECT COUNT(*) AS class_size
  FROM customer GROUP BY c_nationkey, c_mktsegment)
GROUP BY class_size
"""


def scd2_customers(spark, sf_dir):
    """SCD Type-2 dimension merge (operators/scd.py scd2_merge): the
    customer dimension bootstrapped current-from 2024-01-01, then an
    update batch applied at 2024-02-01 — one in ten customers changes
    balance (+100, closes + re-inserts), one in ten re-sends
    unchanged attributes (idempotent no-op, row passes through), and
    one in a hundred arrives as a brand-new key (plain insert).
    Returns the full post-merge dimension state; every classification
    branch is present in the output. Deterministic arithmetic and
    literal timestamps — engine-exact."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        scd as SCD,
    )

    c = _t(spark, sf_dir, "customer")
    current = SCD.scd2_init(
        c.select(
            F.col("c_custkey").alias("key"),
            F.col("c_mktsegment").alias("segment"),
            F.col("c_acctbal").alias("acctbal"),
        ),
        "key",
        ["segment", "acctbal"],
        "2024-01-01",
    )
    updates = (
        c.filter(F.col("c_custkey") % 10 == 0).select(
            F.col("c_custkey").alias("key"),
            F.col("c_mktsegment").alias("segment"),
            (F.col("c_acctbal") + F.lit(100.0)).alias("acctbal"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 10 == 1).select(
                F.col("c_custkey").alias("key"),
                F.col("c_mktsegment").alias("segment"),
                F.col("c_acctbal").alias("acctbal"),
            )
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 100 == 7).select(
                (F.col("c_custkey") + F.lit(10_000_000)).alias("key"),
                F.lit("NEW").alias("segment"),
                F.lit(0.0).alias("acctbal"),
            )
        )
    )
    return SCD.scd2_merge(
        current, updates, "key", ["segment", "acctbal"], "2024-02-01"
    )


SCD2_SQL = """
WITH cur AS MATERIALIZED (
  SELECT c_custkey AS key, c_mktsegment AS segment, c_acctbal AS acctbal,
         TIMESTAMP '2024-01-01' AS effective_from,
         CAST(NULL AS TIMESTAMP) AS effective_to,
         TRUE AS is_current
  FROM customer),
upd AS MATERIALIZED (
  SELECT c_custkey AS key, c_mktsegment AS segment,
         c_acctbal + 100.0 AS acctbal
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey, c_mktsegment, c_acctbal
  FROM customer WHERE c_custkey % 10 = 1
  UNION ALL
  SELECT c_custkey + 10000000, 'NEW', 0.0
  FROM customer WHERE c_custkey % 100 = 7),
chg AS MATERIALIZED (
  SELECT u.key FROM upd u JOIN cur c ON c.key = u.key
  WHERE NOT (u.segment IS NOT DISTINCT FROM c.segment
             AND u.acctbal IS NOT DISTINCT FROM c.acctbal)),
newk AS (
  SELECT u.key FROM upd u
  WHERE NOT EXISTS (SELECT 1 FROM cur c WHERE c.key = u.key))
SELECT key, segment, acctbal, effective_from, effective_to, is_current
FROM cur WHERE NOT EXISTS (SELECT 1 FROM chg WHERE chg.key = cur.key)
UNION ALL
SELECT key, segment, acctbal, effective_from,
       TIMESTAMP '2024-02-01', FALSE
FROM cur WHERE EXISTS (SELECT 1 FROM chg WHERE chg.key = cur.key)
UNION ALL
SELECT u.key, u.segment, u.acctbal, TIMESTAMP '2024-02-01',
       CAST(NULL AS TIMESTAMP), TRUE
FROM upd u
WHERE EXISTS (SELECT 1 FROM chg WHERE chg.key = u.key)
   OR EXISTS (SELECT 1 FROM newk WHERE newk.key = u.key)
"""


def knn_triangles_docs(spark, sf_dir):
    """Per-document triangle counts over the undirected closure of
    the kNN similarity graph (operators/graph.py triangle_counts):
    oriented wedge-close with a<b<c so each triangle counts once —
    the community-density curation signal. Degree ≤ 2k bounds the
    wedge fan-out; all-integer, engine-exact."""
    return GR.triangle_counts(_knn_doc_edges(spark, sf_dir)).select(
        F.col("id").alias("doc_id"), "n_triangles"
    )


KNN_TRIANGLES_SQL = f"""
WITH {_KNN_EDGE_CTES},
und AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM e WHERE src <> dst),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
member AS (
  SELECT x AS id FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri),
nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
cnt AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM member GROUP BY id)
SELECT n.id AS doc_id, CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_triangles
FROM nodes n LEFT JOIN cnt ON cnt.id = n.id
"""


STREAM_ANOMALY_SQL = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_scored,
       CAST(SUM(CASE WHEN is_anomaly THEN 1 ELSE 0 END) AS BIGINT)
         AS n_anomalies,
       TRUE AS matches_batch_twin
FROM ({EVENTS_ANOMALY_SQL}) t
"""


def exists_window_orders(spark, sf_dir):
    """Correlated EXISTS feeding a window (r10 verdict task #5 — the
    Athena-surface shape the inventory lacked): orders with at least
    one line shipped >60 days after the order date (the Q4 late
    predicate, correlated on BOTH tables' columns so it compiles to a
    conditioned left-semi, not a pre-filtered IN), then each
    customer's top-3 such orders by totalprice via ROW_NUMBER. Ties
    break on the unique o_orderkey."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    late = o.join(
        l.select("l_orderkey", "l_shipdate"),
        (o.o_orderkey == l.l_orderkey)
        & (l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        late.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


EXISTS_WINDOW_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
  WHERE EXISTS (SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey
                  AND l_shipdate > o_orderdate + INTERVAL 60 DAY)) ranked
WHERE rnk <= 3
"""


def merge_upsert_orders(spark, sf_dir):
    """MERGE INTO-shape upsert over the partitioned-parquet sink
    (sources/writers.py merge_upsert — implemented since r? but never
    driver-gated; r10 verdict task #5): bootstrap a sink from orders
    partitioned by o_orderpriority, then merge a batch exercising ALL
    THREE MERGE arms in the two hot priorities: UPDATE every
    o_orderkey%97==0 row (totalprice +1000), INSERT a shifted-key
    copy of each, and DELETE every o_orderkey%89==0 row (r10 verdict
    task #4 — the WHEN MATCHED THEN DELETE arm; a key hit by both
    update and delete deletes, the documented delete-wins corner) —
    dynamic partition overwrite rewrites ONLY the two touched
    partitions. Returns the post-merge per-priority rollup read back
    from the sink; DuckDB recomputes it from the anti-join + union −
    deleted-keys definition, so the hash match proves the rewrite
    touched exactly the right rows and nothing else."""
    import shutil
    import tempfile

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.sources import (
        writers as W,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    hot = F.col("o_orderpriority").isin("1-URGENT", "3-MEDIUM")
    batch = o.filter((F.col("o_orderkey") % 97 == 0) & hot)
    updates = batch.withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    ).unionByName(
        # insert-key shift sits above any real o_orderkey at ANY sf
        # (TPC-H keys reach 6M x sf; 10^7 would collide from sf~2,
        # where the oracle's corpus-wide NOT EXISTS and the sink's
        # partition-scoped anti-join diverge on the colliding row)
        batch.withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000_000)
        )
    )
    deletes = o.filter((F.col("o_orderkey") % 89 == 0) & hot).select(
        "o_orderkey", "o_orderpriority"
    )
    tmp = tempfile.mkdtemp(prefix="merge_upsert_")
    sink = tmp + "/sink"
    try:
        o.write.partitionBy("o_orderpriority").parquet(sink)
        W.merge_upsert(
            spark, sink, updates,
            key_cols=["o_orderkey"],
            partition_cols=["o_orderpriority"],
            deletes=deletes,
        )
        out = (
            spark.read.parquet(sink)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                .cast("double")
                .alias("sum_price"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


MERGE_UPSERT_SQL = """
WITH upd AS MATERIALIZED (
  SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice,
         o_orderpriority
  FROM orders
  WHERE o_orderkey % 97 = 0 AND o_orderpriority IN ('1-URGENT', '3-MEDIUM')
  UNION ALL
  SELECT o_orderkey + 10000000000, o_custkey, o_totalprice, o_orderpriority
  FROM orders
  WHERE o_orderkey % 97 = 0 AND o_orderpriority IN ('1-URGENT', '3-MEDIUM')),
del AS MATERIALIZED (
  SELECT o_orderkey
  FROM orders
  WHERE o_orderkey % 89 = 0 AND o_orderpriority IN ('1-URGENT', '3-MEDIUM')),
merged AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
  FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM upd WHERE upd.o_orderkey = o.o_orderkey)
    AND NOT EXISTS (SELECT 1 FROM del WHERE del.o_orderkey = o.o_orderkey)
  UNION ALL
  -- delete wins: an update whose key is also deleted never lands
  -- (insert-arm keys sit above 10^10 and can never match del)
  SELECT * FROM upd
  WHERE NOT EXISTS (SELECT 1 FROM del WHERE del.o_orderkey = upd.o_orderkey))
SELECT o_orderpriority, COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
FROM merged GROUP BY o_orderpriority
"""


def drift_multibatch_pipeline(spark, sf_dir):
    """Multi-batch schema-drift e2e through the full scheduled-batch
    pipeline (plans/pipeline.py run_batch; r10 verdict task #5): four
    JSON batches derived from orders —
    (1) the base shape → 'created'; (2) +color column →
    'drift-recreated'; (3) color REMOVED → 'partitions-only' (the
    pinned append-sink semantic: parquet append can only widen the
    name set, so a column absent from one batch is not drift);
    (4) same names but tts sent as STRING → 'partitions-only' (the
    pinned H3 names-only / type-blind contract — safe exactly
    because the ledger-driven catalog sync never mergeSchema-re-reads
    the mixed sink). Returns (batch_id, catalog_action, rows_written),
    a batch's rows being the growth of run_batch's sink total; DuckDB
    recomputes the row counts from orders and pins the action
    sequence."""
    import shutil
    import tempfile

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.config import (
        EtlConfig,
    )
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.plans.pipeline import (
        run_batch,
    )

    o = _t(spark, sf_dir, "orders")

    # Partition-tuple cardinality is BOUNDED by construction
    # (customerid%5 × 3 vehicles × 2 categories × year-truncated
    # dates ≤ ~210 tuples at ANY sf): the 6-level reference layout
    # over raw near-unique keys would mint one hive directory per
    # row — fine for the reference's per-customer feeds, quadratic
    # metadata pain for a whole-fact replay (first sf0.1 run spent
    # its time in partition DDL, not data).
    def batch(k: int, color: bool = False, tts_string: bool = False):
        b = o.filter(F.col("o_orderkey") % 10 == k).select(
            (F.col("o_custkey") % 5).cast("string").alias("customerid"),
            F.concat(
                F.lit("v"), (F.col("o_orderkey") % 3).cast("string")
            ).alias("vehicle"),
            F.concat(
                F.lit("c"), (F.col("o_orderkey") % 2).cast("string")
            ).alias("category"),
            F.unix_timestamp(
                F.date_trunc("year", F.col("o_orderdate"))
            ).alias("tts"),
            *([F.col("o_orderpriority").alias("color")] if color else []),
        )
        if tts_string:
            b = b.withColumn("tts", F.col("tts").cast("string"))
        return b

    tmp = tempfile.mkdtemp(prefix="drift_mb_")
    src = tmp + "/source"
    # db name derived from the (unique) temp dir: concurrent gate
    # executions (a check_oracle sweep racing a pytest plan audit in
    # another session sharing the warehouse) must not DROP each
    # other's catalog mid-run
    db = "driftmb_" + os.path.basename(tmp).removeprefix("drift_mb_")
    cfg = EtlConfig(
        source_path=src,
        sink_path=tmp + "/sink",
        catalog_db_name=db,
        catalog_table_prefix="mb",
    )
    rows = []
    sink_total = 0
    try:
        plan = [
            (1, batch(1)),
            (2, batch(2, color=True)),
            (3, batch(3)),
            (4, batch(4, tts_string=True)),
        ]
        for i, b in plan:
            b.coalesce(1).write.mode("overwrite").json(src)
            r = run_batch(spark, cfg)
            rows.append((i, r.catalog_action, r.rows_written - sink_total))
            sink_total = r.rows_written
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.sql(f"DROP DATABASE IF EXISTS `{db}` CASCADE")
    return local_frame(
        spark, rows, "batch_id int, catalog_action string, rows_written bigint"
    )


DRIFT_MULTIBATCH_SQL = """
SELECT CAST(1 AS INTEGER) AS batch_id, 'created' AS catalog_action,
       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 1)
       AS rows_written
UNION ALL
SELECT 2, 'drift-recreated',
       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 2)
UNION ALL
SELECT 3, 'partitions-only',
       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 3)
UNION ALL
SELECT 4, 'partitions-only',
       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 4)
"""


# ----------------------------------------------------- driver contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: the Q1-shape pricing summary."""
    return q1_pricing_summary(spark, SF001)


def _gate_order() -> list[str]:
    """The mechanically derived driver-window order, written by
    ``python tools/gate_deps.py --write``: never-checked gates first,
    then gates whose backing code changed since their last driver
    check (stalest first), then the unchanged backlog (stalest
    first). Checked in as ``tools/gate_order.json`` so the ordering
    is the tool's output, not curated prose (r06/r07 verdict task
    #1). Missing/garbled file → table order (the table is complete
    either way; the order only steers which rows the driver's ~50/
    round budget refreshes)."""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tools", "gate_order.json"
    )
    try:
        with open(path) as fh:
            return list(json.load(fh)["order"])
    except (OSError, ValueError, KeyError, TypeError):
        return []


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every gate's plan function, keyed by gate name (one ``GATES``
    row per gate). Ordered for the driver's correctness gate, which
    checks entries front-to-back under a budget (~50/round): the
    order is re-keyed by ``tools/gate_order.json`` — regenerate with
    ``python tools/gate_deps.py --write`` after adding gates or
    landing driver results, so each round's window drains the
    stalest/changed-code rows first instead of re-checking last
    round's. Gates missing from that file follow in table order.
    """
    ordered = {k: GATES[k].plan for k in _gate_order() if k in GATES}
    ordered.update((k, g.plan) for k, g in GATES.items() if k not in ordered)
    return ordered


def oracle_sql() -> dict[str, str]:
    """Every gate's DuckDB oracle SQL, keyed by gate name."""
    return {k: g.oracle for k, g in GATES.items()}


class Gate(NamedTuple):
    """One gate: the plan function, the DuckDB SQL that checks it, and
    whether ``bench.py`` times it."""

    plan: Callable[[SparkSession, str], DataFrame]
    oracle: str
    bench: bool = True


# The gate table: one row per gate, keyed by the plan function's name.
# It sits at the end of the module because most oracle constants are
# defined after their gate function. Bench rows come first, in the
# order bench.py times them; the rows bench.py skips close the table,
# grouped by the reason they are skipped.
GATES: dict[str, Gate] = {
    g.plan.__name__: g
    for g in (
        Gate(q1_pricing_summary, Q1_SQL),
        Gate(q3_shipping_priority, Q3_SQL),
        Gate(q5_region_revenue, Q5_SQL),
        Gate(q6_forecast_revenue, Q6_SQL),
        Gate(q4_late_orders, Q4_SQL),
        Gate(exists_window_orders, EXISTS_WINDOW_SQL),
        Gate(q10_returned_revenue, Q10_SQL),
        Gate(q14_promo_share, Q14_SQL),
        Gate(q18_large_orders, Q18_SQL),
        Gate(q7_volume_shipping, Q7_SQL),
        Gate(q8_market_share, Q8_SQL),
        Gate(q9_product_profit, Q9_SQL),
        Gate(q12_ship_delay, Q12_SQL),
        Gate(q13_order_distribution, Q13_SQL),
        Gate(q17_small_quantity, Q17_SQL),
        Gate(q19_disjunctive, Q19_SQL),
        Gate(q21_waiting_suppliers, Q21_SQL),
        Gate(q22_global_sales, Q22_SQL),
        Gate(window_lag_lead, WINDOW_LAG_SQL),
        Gate(pivot_status_by_priority, PIVOT_SQL),
        Gate(hof_array_embeddings, HOF_ARRAY_SQL),
        Gate(q2_min_unit_price, Q2_SQL),
        Gate(q11_important_values, Q11_SQL),
        Gate(q15_top_supplier, Q15_SQL),
        Gate(q16_supplier_cnt, Q16_SQL),
        Gate(q20_chained_semi, Q20_SQL),
        Gate(sample_hash_orders, SAMPLE_HASH_SQL),
        Gate(stratified_sample_orders, STRATIFIED_SQL),
        Gate(histogram_totalprice, HISTOGRAM_SQL),
        Gate(string_agg_regions, STRING_AGG_SQL),
        Gate(regexp_funcs_parts, REGEXP_SQL),
        Gate(window_ntile_stats, WINDOW_NTILE_SQL),
        Gate(window_range_frame, WINDOW_RANGE_SQL),
        Gate(posexplode_part_words, POSEXPLODE_SQL),
        Gate(map_pivot_priorities, MAP_PIVOT_SQL),
        Gate(weekly_gapfill_orders, WEEKLY_GAPFILL_SQL),
        Gate(try_cast_events, TRY_CAST_SQL),
        Gate(union_by_name_customers, UNION_BY_NAME_SQL),
        Gate(hof_exists_forall_docs, HOF_PREDICATE_SQL),
        Gate(fuzzy_levenshtein_parts, FUZZY_LEV_SQL),
        Gate(paged_orders, PAGED_SQL),
        Gate(keyset_paged_orders, KEYSET_PAGED_SQL),
        Gate(agg_mode_bits, MODE_BITS_SQL),
        Gate(join_outer_order_counts, JOIN_OUTER_SQL),
        Gate(agg_distinct_per_flag, AGG_DISTINCT_SQL),
        Gate(rollup_orders, ROLLUP_SQL),
        Gate(window_rank_customers, WINDOW_RANK_SQL),
        Gate(window_running_spend, WINDOW_RUNNING_SQL),
        Gate(topk_orders, TOPK_SQL),
        Gate(json_extract_events, JSON_SQL),
        Gate(events_tumbling_window, TUMBLING_SQL),
        Gate(events_hopping_window, HOPPING_SQL),
        Gate(stream_windowed_counts, STREAM_WC_SQL),
        Gate(stream_dedup_counts, STREAM_DD_SQL),
        Gate(token_budget_mix_docs, TOKEN_BUDGET_SQL),
        Gate(events_sessionize, SESSIONIZE_SQL),
        Gate(events_asof_join, ASOF_SQL),
        Gate(events_range_join, RANGE_JOIN_SQL),
        Gate(flatten_restructure, FLATTEN_SQL),
        Gate(math_funcs_lineitem, MATH_SQL),
        Gate(percentile_orders, PERCENTILE_SQL),
        Gate(stats_agg_lineitem, STATS_SQL),
        Gate(scalar_subquery_small_orders, SCALAR_SUBQ_SQL),
        Gate(sql_grouping_sets, GROUPING_SETS_SQL),
        Gate(multimodal_features_docs, MULTIMODAL_SQL),
        Gate(dedup_exact_docs, DEDUP_EXACT_SQL),
        Gate(dedup_cluster_docs, DEDUP_CLUSTER_SQL),
        Gate(curation_pipeline_docs, CURATION_SQL),
        Gate(skew_salted_token_counts, SKEW_TOKENS_SQL),
        Gate(approx_quantile_orders, APPROX_QUANTILE_SQL),
        Gate(snapshot_diff_orders, SNAPSHOT_DIFF_SQL),
        Gate(dq_checks_orders, DQ_CHECKS_SQL),
        Gate(dedup_simhash_pairs, PAIR_RECALL_SQL),
        Gate(dedup_winnow_pairs, PAIR_RECALL_SQL),
        Gate(decontam_docs, DECONTAM_SQL),
        Gate(text_pii_redact, PII_SQL),
        Gate(seq_packing_docs, SEQ_PACKING_SQL),
        Gate(mix_sample_docs, MIX_SAMPLE_SQL),
        Gate(boilerplate_ngrams_docs, BOILERPLATE_SQL),
        Gate(events_session_window, SESSION_WINDOW_SQL),
        Gate(text_repetition_docs, REPETITION_SQL),
        Gate(text_quality_docs, TEXT_QUALITY_SQL),
        Gate(text_langid_docs, TEXT_LANGID_SQL),
        Gate(text_fingerprint_docs, TEXT_FINGERPRINT_SQL),
        Gate(sim_topk_bruteforce, SIM_TOPK_SQL),
        Gate(sim_topk_lsh, ANN_RECALL_SQL),
        Gate(sim_topk_ivf, ANN_RECALL_SQL),
        Gate(embed_label_stats, EMBED_STATS_SQL),
        Gate(embed_centroids, EMBED_CENTROIDS_SQL),
        Gate(embed_label_spectrum, EMBED_SPECTRUM_SQL),
        Gate(agg_approx_distinct, AGG_APPROX_DISTINCT_SQL),
        Gate(agg_minby_maxby, MINBY_SQL),
        Gate(array_agg_nations, ARRAY_AGG_SQL),
        Gate(cond_exprs_customers, COND_SQL),
        Gate(conditional_agg_priorities, COND_AGG_SQL),
        Gate(cube_lineitem, CUBE_SQL),
        Gate(date_funcs_orders, DATE_SQL),
        Gate(dedup_keep_first_docs, DEDUP_KEEP_FIRST_SQL),
        Gate(events_rollup_day, ROLLUP_DAY_SQL),
        Gate(join_anti_customers, JOIN_ANTI_SQL),
        Gate(join_null_safe_segments, NULL_SAFE_SQL),
        Gate(join_semi_suppliers, JOIN_SEMI_SQL),
        Gate(partition_specs_orders, PARTITION_SPECS_SQL),
        Gate(setops_customers, SETOPS_SQL),
        Gate(setops_intersect_except, INTERSECT_SQL),
        Gate(string_funcs_parts, STRING_SQL),
        Gate(text_bpe_token_stats, BPE_TOKEN_SQL),
        Gate(text_token_freq, TOKEN_FREQ_SQL),
        Gate(unpivot_lineitem_measures, UNPIVOT_SQL),
        Gate(span_dedup_docs, SPAN_DEDUP_SQL),
        Gate(bloom_decontam_docs, BLOOM_DECONTAM_SQL),
        Gate(bm25_search_docs, BM25_SQL),
        Gate(reservoir_sample_docs, RESERVOIR_SQL),
        Gate(classifier_score_docs, CLASSIFIER_SQL),
        Gate(stratified_exact_docs, STRATIFIED_EXACT_SQL),
        Gate(lm_perplexity_docs, LM_PERPLEXITY_SQL),
        Gate(text_entropy_docs, TEXT_ENTROPY_SQL),
        Gate(agg_countmin_tokens, COUNTMIN_SQL),
        Gate(dsir_resample_docs, DSIR_SQL),
        Gate(shard_manifest_docs, SHARD_MANIFEST_SQL),
        Gate(gopher_filter_docs, GOPHER_FILTER_SQL),
        Gate(hard_negatives_vecs, HARD_NEG_SQL),
        Gate(ccnet_buckets_docs, CCNET_BUCKETS_SQL),
        Gate(drift_tokens_docs, DRIFT_SQL),
        Gate(text_novelty_docs, NOVELTY_SQL),
        Gate(decontam_fuzzy_docs, DECONTAM_FUZZY_SQL),
        Gate(dataset_card_docs, DATASET_CARD_SQL),
        Gate(dedup_best_quality_docs, DEDUP_BEST_SQL),
        Gate(hll_incremental_orders, HLL_INCREMENTAL_SQL),
        Gate(rp_project_vecs, RP_PROJECT_SQL),
        Gate(tfidf_keywords_docs, TFIDF_SQL),
        Gate(sim_topk_rp, ANN_RECALL_SQL),
        Gate(multimodal_decode_real, MULTIMODAL_REAL_SQL),
        Gate(dedup_paragraph_docs, DEDUP_PARAGRAPH_SQL),
        Gate(weighted_sample_docs, WEIGHTED_SAMPLE_SQL),
        Gate(leakage_split_docs, LEAKAGE_SPLIT_SQL),
        Gate(text_diversity_docs, TEXT_DIVERSITY_SQL),
        Gate(text_zipf_docs, TEXT_ZIPF_SQL),
        Gate(chunk_docs_rag, CHUNK_RAG_SQL),
        Gate(sim_topk_sq, ANN_RECALL_SQL),
        Gate(stream_sessionize_counts, STREAM_SESS_SQL),
        Gate(stream_interval_join_counts, STREAM_IJ_SQL),
        Gate(stream_enrich_counts, STREAM_EN_SQL),
        Gate(pack_boundaries_docs, PACK_BOUNDARIES_SQL),
        Gate(text_pmi_docs, TEXT_PMI_SQL),
        Gate(source_overlap_docs, SOURCE_OVERLAP_SQL),
        Gate(quality_percentile_docs, QUALITY_PCT_SQL),
        Gate(kn_bigram_model_docs, KN_BIGRAM_SQL),
        Gate(doremi_weights_docs, DOREMI_SQL),
        Gate(length_packing_docs, LENGTH_PACKING_SQL),
        Gate(triplet_mining_vecs, TRIPLET_SQL),
        Gate(cdc_chunks_docs, CDC_CHUNKS_SQL),
        Gate(purge_audit_docs, PURGE_AUDIT_SQL),
        Gate(span_clean_docs, SPAN_CLEAN_SQL),
        # k+1 sequential merge jobs by design: at toy SF its wall time is
        # per-iteration fixed cost, not data volume
        Gate(bpe_vocab_docs, BPE_VOCAB_SQL),
        Gate(embed_silhouette_vecs, EMBED_SILHOUETTE_SQL),
        Gate(events_funnel_users, EVENTS_FUNNEL_SQL),
        Gate(events_cohort_retention, EVENTS_COHORT_SQL),
        Gate(rag_hash_retrieval_docs, RAG_HASH_RETRIEVAL_SQL),
        # O(n²) by contract over the bounded doc_id%5 sample (1M pairs at
        # sf0.1, expression-only); knn_graph_lsh_docs is the full-corpus path
        Gate(knn_graph_docs, KNN_GRAPH_SQL),
        Gate(pagerank_docs, PAGERANK_SQL),
        Gate(knn_components_docs, KNN_COMPONENTS_SQL),
        Gate(rrf_fusion_docs, RRF_FUSION_SQL),
        Gate(events_anomaly_daily, EVENTS_ANOMALY_SQL),
        Gate(stream_anomaly_counts, STREAM_ANOMALY_SQL),
        Gate(graph_walks_docs, GRAPH_WALKS_SQL),
        Gate(knn_triangles_docs, KNN_TRIANGLES_SQL),
        Gate(data_quality_audit, DATA_QUALITY_SQL),
        Gate(scd2_customers, SCD2_SQL),
        Gate(k_anonymity_customers, K_ANONYMITY_SQL),
        Gate(incremental_agg_orders, INCREMENTAL_AGG_SQL),
        Gate(sim_topk_pq, ANN_RECALL_SQL),
        Gate(matryoshka_recall_vecs, MATRYOSHKA_SQL),
        Gate(prf_expand_docs, PRF_EXPAND_SQL),
        Gate(mmr_rerank_docs, MMR_RERANK_SQL),
        Gate(knn_graph_lsh_docs, KNN_GRAPH_LSH_SQL),
        Gate(embed_centroid_eval, EMBED_CENTROID_EVAL_SQL),
        # O(n²) all-pairs oracle paths; their scalable LSH/IVF counterparts
        # are benched instead
        Gate(dedup_ngram_pairs, DEDUP_NGRAM_SQL, bench=False),
        Gate(sim_neardup_exact, SIM_NEARDUP_SQL, bench=False),
        Gate(embed_cluster_vecs, EMBED_CLUSTER_SQL, bench=False),
        # Verifies against the exact all-pairs cosine oracle in-plan
        Gate(semantic_dedup_vecs, SEMANTIC_DEDUP_SQL, bench=False),
        # *_sf01 twins: each is a benched plan pinned to sf0.1 (the MinHash
        # pair frame is benched inside dedup_cluster_docs)
        Gate(quality_percentile_docs_sf01, QUALITY_PCT_SF01_SQL, bench=False),
        Gate(kn_bigram_model_docs_sf01, KN_BIGRAM_SF01_SQL, bench=False),
        Gate(dedup_minhash_pairs_sf01, DEDUP_MINHASH_SF01_SQL, bench=False),
        Gate(dedup_cluster_docs_sf01, DEDUP_CLUSTER_SF01_SQL, bench=False),
        Gate(dedup_simhash_pairs_sf01, PAIR_RECALL_SF01_SQL, bench=False),
        Gate(dedup_winnow_pairs_sf01, PAIR_RECALL_SF01_SQL, bench=False),
        # Re-run the training loop that bpe_vocab_docs times, plus one
        # vocab-bounded aggregate or broadcast join
        Gate(bpe_symbols_docs, BPE_SYMBOLS_SQL, bench=False),
        Gate(bpe_doc_tokens_docs, BPE_DOC_TOKENS_SQL, bench=False),
        Gate(curriculum_stages_docs, BPE_CURRICULUM_SQL, bench=False),
        # Replay the corpus into a fresh band store (and corpus sink) per call
        # by design; the per-batch path is benched via the shared-signature
        # gates. The _sf01 twins are also pinned to sf0.1
        Gate(dedup_incremental_docs, DEDUP_INCREMENTAL_SQL, bench=False),
        Gate(stream_incremental_dedup_docs, DEDUP_INCREMENTAL_SQL, bench=False),
        Gate(dedup_incremental_docs_sf01, DEDUP_INCREMENTAL_SF01_SQL, bench=False),
        Gate(stream_incremental_dedup_docs_sf01, DEDUP_INCREMENTAL_SF01_SQL, bench=False),
        # Bootstrap a fresh sink (the drift gate also a fresh catalog db) per
        # call by design; the partitioned writer they exercise is pinned by
        # the layout tests
        Gate(merge_upsert_orders, MERGE_UPSERT_SQL, bench=False),
        Gate(drift_multibatch_pipeline, DRIFT_MULTIBATCH_SQL, bench=False),
    )
}
