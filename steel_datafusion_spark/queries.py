"""Canonical query catalog — one entry per implemented operator family.

This is the single source of truth consumed by ``__spark_entry__.py`` (driver
correctness gate) and ``bench.py`` (driver bench gate).  Each entry is
  name -> (build_fn(spark, sf_dir) -> DataFrame, oracle_sql or None)
with column names aliased identically on both sides (the driver hashes values
after sorting columns by name).

Determinism rules used throughout:
- double sums/avgs route through exact decimals (order-independent at any
  partition count — see functions/aggregates.py), then cast back to double;
- every LIMIT sits under a total order (unique tiebreak key);
- no wall-clock, no randomness.

Scale annotations sit on each query: where the shuffle lands, what gets
broadcast, why the plan survives 1000 executors.
"""

from __future__ import annotations

import os as _os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .expressions import (
    case_otherwise, col, col_ge, col_lt, lit, sort_asc, sort_desc, when,
)
from .functions.aggregates import (
    agg_approx_median, agg_approx_percentile, agg_avg, agg_count_distinct,
    agg_count_star, agg_max, agg_min, avg_exact, sum_exact,
)
from .functions.windows import window_spec, w_lag, w_row_number
from .operators.relational import (
    df_aggregate, df_distinct, df_distinct_on, df_except, df_filter,
    df_intersect, df_join, df_join_on, df_limit, df_select, df_sort,
    df_sort_by, df_union, df_union_distinct, df_window,
)
from .sources.readers import (
    load_tables, merge_upsert, read_csv, read_json, read_orc, read_parquet,
    write_orc,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

# exact-decimal casts shared between Spark and the DuckDB oracle SQL
_DEC = "decimal(28,10)"
_SQL_DEC = "DECIMAL(28,10)"
# Monetary/ratio columns in the test data carry exactly 2 decimal digits, so a
# narrow decimal is lossless and keeps product-of-decimals within HUGEINT
# range for the oracle's decimal summation.
_DEC2 = "decimal(18,2)"
_SQL_DEC2 = "DECIMAL(18,2)"


def _t(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return load_tables(spark, sf_dir)


def scratch_dir(spark: SparkSession, sf_dir: str, tag: str) -> str:
    """App-scoped scratch path for write→read gates.  Scoping by
    applicationId matters: gates that overwrite-then-read a fixed path race
    a concurrent Spark application (test suite + bench on one machine, two
    jobs on a shared staging bucket at scale) — the other app's overwrite
    deletes parquet parts out from under this app's scan mid-query
    (observed as FAILED_READ_FILE).  Within one app the path is stable, so
    reruns stay idempotent and per-app source caches keep working."""
    import tempfile

    app = spark.sparkContext.applicationId.replace("-", "_")[-12:]
    return _os.path.join(
        tempfile.gettempdir(),
        f"sdf_{tag}_{_os.path.basename(_os.path.normpath(sf_dir))}_{app}")


_BUILT_ONCE: set = set()


def build_once(spark: SparkSession, sf_dir: str, name: str, build) -> str:
    """App-scoped name of a build-once gate fixture (a persisted index):
    ``build(scoped)`` runs once per (application, sf_dir, name), so gate
    reps time the probe, not the build.  The name is app-scoped for the
    ``scratch_dir`` reason: concurrent applications share the warehouse
    directory, and one app's rebuild would delete parquet parts out from
    under the other's scan."""
    app = spark.sparkContext.applicationId.replace("-", "_").replace(".", "_")
    scoped = f"{name}_{app[-12:]}"
    key = (spark.sparkContext.applicationId, _os.path.abspath(sf_dir), scoped)
    if key not in _BUILT_ONCE:
        build(scoped)
        _BUILT_ONCE.add(key)
    return scoped


# ---------------------------------------------------------------------------
# Relational core (SURVEY.md §2) — every df/* operator exercised
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped agg: groupBy+sum/avg/count on lineitem.

    Scale: one partial→final hash agg, single shuffle on a 6-value key; the
    decimal sums keep results identical at any partition count.  Filter on
    l_shipdate is pushed to the parquet scan (it sits below the spread).
    The decimal per-row arithmetic is the expensive stage, and a small
    parquet source arrives as ONE split — scoring._spread (a no-op on an
    already-multi-split cluster scan) fans the projected 7 columns out so
    the partial aggregation runs on every core."""
    from .pipeline.scoring import _spread

    li = _t(spark, sf_dir)["lineitem"].select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate")
    disc_price = (F.col("l_extendedprice").cast(_DEC2)
                  * (F.lit(1).cast(_DEC2) - F.col("l_discount").cast(_DEC2)))
    charge = disc_price * (F.lit(1).cast(_DEC2) + F.col("l_tax").cast(_DEC2))
    return df_aggregate(
        _spread(df_filter(
            li, F.col("l_shipdate") <= F.lit("2024-06-30").cast("timestamp"))),
        [col("l_returnflag"), col("l_linestatus")],
        [
            sum_exact("l_quantity").alias("sum_qty"),
            sum_exact("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            avg_exact("l_quantity").alias("avg_qty"),
            avg_exact("l_discount").alias("avg_disc"),
            agg_count_star().alias("count_order"),
        ],
    ).orderBy("l_returnflag", "l_linestatus")


_SQL_PRICING = f"""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS {_SQL_DEC})) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS {_SQL_DEC})) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS {_SQL_DEC2}) * (CAST(1 AS {_SQL_DEC2}) - CAST(l_discount AS {_SQL_DEC2}))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS {_SQL_DEC2}) * (CAST(1 AS {_SQL_DEC2}) - CAST(l_discount AS {_SQL_DEC2})) * (CAST(1 AS {_SQL_DEC2}) + CAST(l_tax AS {_SQL_DEC2}))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS {_SQL_DEC})) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
  CAST(SUM(CAST(l_discount AS {_SQL_DEC})) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2024-06-30 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_filter_project_case(spark, sf_dir):
    """select+filter+CASE+LIKE+arithmetic on orders (expression surface)."""
    o = _t(spark, sf_dir)["orders"]
    prio_class = case_otherwise(
        when(F.col("o_orderpriority").like("1-%"), lit("urgent"))
        .with_when(F.col("o_orderpriority").like("2-%"), lit("high")),
        lit("normal"),
    )
    return df_select(
        df_filter(o, (F.col("o_totalprice") > 50000) & (F.col("o_orderstatus") != "F")),
        [
            col("o_orderkey"),
            (F.col("o_totalprice").cast(_DEC) * F.lit(2).cast(_DEC))
            .cast("double").alias("double_price"),
            prio_class.alias("prio_class"),
        ],
    )


_SQL_FILTER_PROJECT = f"""
SELECT o_orderkey,
  CAST(CAST(o_totalprice AS {_SQL_DEC}) * CAST(2 AS {_SQL_DEC}) AS DOUBLE) AS double_price,
  CASE WHEN o_orderpriority LIKE '1-%' THEN 'urgent'
       WHEN o_orderpriority LIKE '2-%' THEN 'high'
       ELSE 'normal' END AS prio_class
FROM orders
WHERE o_totalprice > 50000 AND o_orderstatus <> 'F'
"""


def q_revenue_by_nation(spark, sf_dir):
    """3-way join (customer⋈orders⋈nation) + agg.

    Scale: nation (25 rows) broadcasts; customer⋈orders shuffles on the join
    key once, agg reuses it.  AQE picks broadcast automatically under the
    64 MB threshold."""
    t = _t(spark, sf_dir)
    rev = (F.col("o_totalprice").cast(_DEC))
    joined = df_join(
        df_join(t["customer"], t["orders"], "inner", ["c_custkey"], ["o_custkey"]),
        F.broadcast(t["nation"]), "inner", ["c_nationkey"], ["n_nationkey"],
    )
    return df_aggregate(
        joined,
        [col("n_name")],
        [
            F.sum(rev).cast("double").alias("revenue"),
            agg_count_star().alias("n_orders"),
            agg_count_distinct("c_custkey").alias("n_custs"),
        ],
    )


_SQL_REVENUE_BY_NATION = f"""
SELECT n_name,
  CAST(SUM(CAST(o_totalprice AS {_SQL_DEC})) AS DOUBLE) AS revenue,
  COUNT(*) AS n_orders,
  COUNT(DISTINCT c_custkey) AS n_custs
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape (shipping priority): unshipped-as-of-date orders
    ranked by discounted revenue.  Top 10 with deterministic tie-breaks
    (revenue desc, o_orderdate asc, l_orderkey asc).

    Scale: customer⋈orders prunes on the date filter before the shuffle;
    lineitem joins on the fine-grained orderkey; the top-10 is
    TakeOrderedAndProject (no global sort materializes)."""
    t = _t(spark, sf_dir)
    cut = "1998-06-01"
    disc = (F.col("l_extendedprice").cast(_DEC2)
            * (F.lit(1).cast(_DEC2) - F.col("l_discount").cast(_DEC2)))
    o = df_filter(t["orders"], F.col("o_orderdate") < cut)
    l = df_filter(t["lineitem"], F.col("l_shipdate") > cut)
    joined = df_join(o, l, "inner", ["o_orderkey"], ["l_orderkey"])
    agg = df_aggregate(
        joined,
        [col("l_orderkey"), col("o_orderdate"), col("o_orderpriority")],
        [F.sum(disc).cast("double").alias("revenue")])
    return df_limit(
        df_sort(agg, [sort_desc(col("revenue")),
                      sort_asc(col("o_orderdate")),
                      sort_asc(col("l_orderkey"))]),
        0, 10)


_SQL_SHIPPING_PRIORITY = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
  CAST(SUM(CAST(l_extendedprice AS {_SQL_DEC2})
           * (CAST(1 AS {_SQL_DEC2}) - CAST(l_discount AS {_SQL_DEC2})))
       AS DOUBLE) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
LIMIT 10
"""


def q_returned_customers(spark, sf_dir):
    """TPC-H Q10 shape (returned-item reporting): customers ranked by
    revenue lost to returns in a half-year window, with nation context.
    Top 20, ties broken by c_custkey.

    Scale: the date+returnflag filters push to the scans; nation
    broadcasts; the two fact joins shuffle on their keys once each."""
    t = _t(spark, sf_dir)
    disc = (F.col("l_extendedprice").cast(_DEC2)
            * (F.lit(1).cast(_DEC2) - F.col("l_discount").cast(_DEC2)))
    o = df_filter(t["orders"],
                  (F.col("o_orderdate") >= "1998-01-01")
                  & (F.col("o_orderdate") < "1998-07-01"))
    l = df_filter(t["lineitem"], F.col("l_returnflag") == "R")
    j = df_join(
        df_join(df_join(t["customer"], o, "inner",
                        ["c_custkey"], ["o_custkey"]),
                l, "inner", ["o_orderkey"], ["l_orderkey"]),
        F.broadcast(t["nation"]), "inner", ["c_nationkey"], ["n_nationkey"])
    agg = df_aggregate(
        j,
        [col("c_custkey"), col("c_name"), col("n_name")],
        [F.sum(disc).cast("double").alias("revenue"),
         agg_count_star().alias("n_items")])
    return df_limit(
        df_sort(agg, [sort_desc(col("revenue")), sort_asc(col("c_custkey"))]),
        0, 20)


_SQL_RETURNED_CUSTOMERS = f"""
SELECT c_custkey, c_name, n_name,
  CAST(SUM(CAST(l_extendedprice AS {_SQL_DEC2})
           * (CAST(1 AS {_SQL_DEC2}) - CAST(l_discount AS {_SQL_DEC2})))
       AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q_big_orders(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customers): orders whose total
    quantity exceeds 200, with customer context.  Top 100 by totalprice
    desc / orderkey asc.

    Scale: the HAVING-style pre-aggregation on lineitem is the classic
    semi-join reduction — the big fact reduces to qualifying orderkeys
    BEFORE joining orders/customer, so the wide join only sees the
    qualifying fraction."""
    t = _t(spark, sf_dir)
    big = df_filter(
        df_aggregate(t["lineitem"], [col("l_orderkey")],
                     [F.sum(F.col("l_quantity").cast(_DEC))
                      .cast("double").alias("sum_qty")]),
        F.col("sum_qty") > 200)
    j = df_join(
        df_join(big, t["orders"], "inner", ["l_orderkey"], ["o_orderkey"]),
        t["customer"], "inner", ["o_custkey"], ["c_custkey"])
    out = df_select(j, [col("c_custkey"), col("c_name"),
                        col("l_orderkey"), col("o_orderdate"),
                        col("o_totalprice"), col("sum_qty")])
    return df_limit(
        df_sort(out, [sort_desc(col("o_totalprice")),
                      sort_asc(col("l_orderkey"))]),
        0, 100)


_SQL_BIG_ORDERS = f"""
SELECT c_custkey, c_name, l_orderkey, o_orderdate, o_totalprice, sum_qty
FROM (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS {_SQL_DEC})) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
) big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE sum_qty > 200
ORDER BY o_totalprice DESC, l_orderkey ASC
LIMIT 100
"""


def q_semi_join(spark, sf_dir):
    """left-semi: customers having at least one high-value order."""
    t = _t(spark, sf_dir)
    big = df_filter(t["orders"], F.col("o_totalprice") > 100000)
    return df_join(
        t["customer"], big, "left_semi", ["c_custkey"], ["o_custkey"]
    ).select("c_custkey", "c_name")


_SQL_SEMI = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 100000)
"""


def q_anti_join(spark, sf_dir):
    """left-anti: customers with no urgent high-value orders (non-empty at
    every SF, unlike customers-without-any-orders which is empty at sf≥0.01)."""
    t = _t(spark, sf_dir)
    urgent = df_filter(
        t["orders"],
        (F.col("o_orderpriority").like("1-%")) & (F.col("o_totalprice") > 150000),
    )
    return df_join(
        t["customer"], urgent, "left_anti", ["c_custkey"], ["o_custkey"]
    ).select("c_custkey", "c_acctbal")


_SQL_ANTI = """
SELECT c_custkey, c_acctbal FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderpriority LIKE '1-%' AND o_totalprice > 150000)
"""


def q_outer_join_agg(spark, sf_dir):
    """left outer join preserving nations with zero customers."""
    t = _t(spark, sf_dir)
    return df_aggregate(
        df_join(F.broadcast(t["nation"]), t["customer"], "left",
                ["n_nationkey"], ["c_nationkey"]),
        [col("n_name")],
        [F.count(F.col("c_custkey")).alias("n_customers")],
    )


_SQL_OUTER = """
SELECT n_name, COUNT(c_custkey) AS n_customers
FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
GROUP BY n_name
"""


def q_theta_join(spark, sf_dir):
    """df/join-on theta-join: parts cheaper than the order's average item
    price band (non-equi conjunct + equi conjunct → SMJ/BHJ with residual)."""
    t = _t(spark, sf_dir)
    li, p = t["lineitem"], t["part"]
    return df_join_on(
        li, p, "inner",
        [li["l_partkey"] == p["p_partkey"],
         li["l_extendedprice"] < p["p_retailprice"] * F.lit(10)],
    ).groupBy("p_brand").agg(
        agg_count_star().alias("cnt"),
        sum_exact("l_quantity").alias("qty"),
    )


_SQL_THETA = f"""
SELECT p_brand, COUNT(*) AS cnt,
  CAST(SUM(CAST(l_quantity AS {_SQL_DEC})) AS DOUBLE) AS qty
FROM lineitem JOIN part
  ON l_partkey = p_partkey AND l_extendedprice < p_retailprice * 10
GROUP BY p_brand
"""


def q_set_ops(spark, sf_dir):
    """union-distinct / intersect / except composed in one result."""
    t = _t(spark, sf_dir)
    c = t["customer"]
    hi = df_select(df_filter(c, F.col("c_acctbal") > 5000), [col("c_custkey")])
    seg = df_select(df_filter(c, F.col("c_mktsegment") == "BUILDING"),
                    [col("c_custkey")])
    u = df_union_distinct(hi, seg).withColumn("src", F.lit("union"))
    i = df_intersect(hi, seg).withColumn("src", F.lit("intersect"))
    e = df_except(hi, seg).withColumn("src", F.lit("except"))
    return df_union(df_union(u, i), e)


_SQL_SET_OPS = """
WITH hi AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
     seg AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
SELECT c_custkey, 'union' AS src FROM (SELECT c_custkey FROM hi UNION SELECT c_custkey FROM seg)
UNION ALL
SELECT c_custkey, 'intersect' AS src FROM (SELECT c_custkey FROM hi INTERSECT SELECT c_custkey FROM seg)
UNION ALL
SELECT c_custkey, 'except' AS src FROM (SELECT c_custkey FROM hi EXCEPT SELECT c_custkey FROM seg)
"""


def q_distinct(spark, sf_dir):
    """SELECT DISTINCT on a projection."""
    t = _t(spark, sf_dir)
    return df_distinct(df_select(t["orders"],
                                 [col("o_orderstatus"), col("o_orderpriority")]))


_SQL_DISTINCT = "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders"


def q_distinct_on(spark, sf_dir):
    """DISTINCT ON: latest event per user (ts desc, event_id tiebreak).

    Scale: one shuffle on user_id (row_number window); AQE splits skewed
    users.  Same distribution a first_value agg would need — no extra cost."""
    t = _t(spark, sf_dir)
    return df_distinct_on(
        t["events"],
        [col("user_id")],
        [col("user_id"), col("event_id"), col("event_type"), col("value")],
        [sort_desc(col("ts")), sort_asc(col("event_id"))],
    )


_SQL_DISTINCT_ON = """
SELECT user_id, event_id, event_type, value FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) AS rn
  FROM events) t WHERE rn = 1
"""


def q_window_funcs(spark, sf_dir):
    """Ranking + analytic window functions over a keyed partition."""
    t = _t(spark, sf_dir)
    from pyspark.sql.window import Window
    spec = window_spec([col("user_id")],
                       [sort_asc(col("ts")), sort_asc(col("event_id"))])
    ev = df_window(
        df_select(t["events"], [col("user_id"), col("event_id"), col("value"),
                                col("ts")]),
        [
            w_row_number(spec).alias("seq"),
            w_lag(F.col("value"), 1, None, spec).alias("prev_value"),
            F.sum(F.col("value").cast(_DEC)).over(
                spec.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).cast("double").alias("running_value"),
        ],
    )
    return df_select(ev, [col("user_id"), col("event_id"), col("seq"),
                          col("prev_value"), col("running_value")])


_SQL_WINDOW = f"""
SELECT user_id, event_id,
  row_number() OVER w AS seq,
  lag(value, 1) OVER w AS prev_value,
  CAST(SUM(CAST(value AS {_SQL_DEC})) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_topk(spark, sf_dir):
    """sort+limit with total order → Spark fuses to TakeOrderedAndProject
    (the TopK fusion the reference inherits from DataFusion)."""
    t = _t(spark, sf_dir)
    return df_limit(
        df_sort(t["orders"], [sort_desc(col("o_totalprice")),
                              sort_asc(col("o_orderkey"))]),
        0, 25,
    ).select("o_orderkey", "o_totalprice")


_SQL_TOPK = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
"""


def q_limit_offset(spark, sf_dir):
    """OFFSET+LIMIT under a total order (df/limit skip+fetch semantics)."""
    t = _t(spark, sf_dir)
    return df_limit(
        df_sort(t["customer"], [sort_asc(col("c_custkey"))]), 100, 10
    ).select("c_custkey", "c_name")


_SQL_LIMIT_OFFSET = """
SELECT c_custkey, c_name FROM customer ORDER BY c_custkey LIMIT 10 OFFSET 100
"""


def q_sort_nulls(spark, sf_dir):
    """Nulls-ordering parity: DataFusion sort_by = asc NULLS LAST.

    Uses lag() to synthesize NULLs deterministically, then sorts by that
    column — exercises the silent-divergence trap (Spark default nulls-first)."""
    t = _t(spark, sf_dir)
    spec = window_spec([col("user_id")], [sort_asc(col("event_id"))])
    ev = df_window(
        df_select(t["events"], [col("user_id"), col("event_id"), col("value")]),
        [w_lag(F.col("value"), 1, None, spec).alias("prev_value")],
    )
    # keep a deterministic small result: first 50 events by id per the order
    out = df_limit(
        df_sort(ev, [sort_asc(col("prev_value")), sort_asc(col("event_id"))]),
        0, 50,
    )
    return df_select(out, [col("event_id"), col("prev_value")])


_SQL_SORT_NULLS = """
SELECT event_id, prev_value FROM (
  SELECT event_id, lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value
  FROM events) t
ORDER BY prev_value ASC NULLS LAST, event_id LIMIT 50
"""


def q_events_time_rollup(spark, sf_dir):
    """Tumbling-window time rollup on the events table (date_trunc hourly).

    Scale: this is the batch shape of a streaming windowed agg — single
    shuffle on (hour, event_type); at 100 TB, partition pruning on a
    date-partitioned layout would cut the scan."""
    t = _t(spark, sf_dir)
    return df_aggregate(
        df_select(t["events"], [
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            col("event_type"), col("value"),
        ]),
        [col("hour"), col("event_type")],
        [
            agg_count_star().alias("n"),
            sum_exact("value").alias("sum_value"),
            agg_min("value").alias("min_value"),
            agg_max("value").alias("max_value"),
        ],
    )


_SQL_EVENTS_ROLLUP = f"""
SELECT date_trunc('hour', ts) AS hour, event_type,
  COUNT(*) AS n,
  CAST(SUM(CAST(value AS {_SQL_DEC})) AS DOUBLE) AS sum_value,
  MIN(value) AS min_value,
  MAX(value) AS max_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

def q_rollup_agg(spark, sf_dir):
    """GROUP BY ROLLUP (SURVEY.md §2.5 notes grouping sets are unexposed in
    the reference but trivial via df.rollup — exposed as surface-completion).
    NULL grouping rows match ANSI ROLLUP semantics in both engines."""
    li = _t(spark, sf_dir)["lineitem"]
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(agg_count_star().alias("n"),
                 sum_exact("l_quantity").alias("qty")))


_SQL_ROLLUP = f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
  CAST(SUM(CAST(l_quantity AS {_SQL_DEC})) AS DOUBLE) AS qty
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


def q_stats_agg(spark, sf_dir):
    """Statistical aggregates: stddev/variance/corr/median per group.
    Values rounded to 4dp: the internal moment sums are double accumulations
    whose partition order differs between engines (~1e-10 relative).
    The exact medians buffer every group value — scoring._spread (no-op on
    a multi-split cluster scan) fans the one-split local scan out so the
    partial phase builds its buffers on every core."""
    from .pipeline.scoring import _spread

    li = _t(spark, sf_dir)["lineitem"].select(
        "l_returnflag", "l_quantity", "l_discount", "l_extendedprice")
    return df_aggregate(
        _spread(li), [col("l_returnflag")],
        [
            F.round(F.stddev_samp("l_quantity"), 4).alias("std_qty"),
            F.round(F.var_samp("l_discount"), 4).alias("var_disc"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
            F.round(F.median("l_extendedprice"), 4).alias("median_price"),
            F.round(F.median("l_quantity"), 4).alias("median_qty"),
        ],
    )


_SQL_STATS_AGG = """
SELECT l_returnflag,
  round(stddev_samp(l_quantity), 4) AS std_qty,
  round(var_samp(l_discount), 4) AS var_disc,
  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
  round(CAST(median(l_extendedprice) AS DOUBLE), 4) AS median_price,
  round(CAST(median(l_quantity) AS DOUBLE), 4) AS median_qty
FROM lineitem GROUP BY l_returnflag
"""


def q_approx_percentile(spark, sf_dir):
    """Approximate rank statistics — the 100 TB scale path for median and
    quantiles (functions/aggregates.py:agg_approx_percentile).  Exact
    ``F.median`` requires a full per-group sort + materialization (the one
    non-streaming aggregate in this catalog); Greenwald-Khanna keeps an
    O(accuracy) mergeable summary per partition and composes with
    partial→final aggregation like any other agg.

    Gate strategy: with ``accuracy`` ≥ the group row count GK is exact and
    returns an actual data value, equal to DuckDB ``quantile_disc`` — so the
    oracle pins the no-interpolation rank convention while the Spark plan is
    the real percentile_approx operator.  At 100 TB drop accuracy to the
    10000 default: rank error ≤ n/10000, memory stays O(accuracy).
    (Deliberately NOT spread: GK partial summaries are O(accuracy) EACH,
    and the gate's exactness accuracy makes merging 64 of them cost more
    than one pass — measured 1.5 s → 3.7 s.)"""
    li = _t(spark, sf_dir)["lineitem"]
    acc = 1_000_000  # ≥ rows/group at every test SF ⇒ exact
    return df_aggregate(
        li, [col("l_returnflag")],
        [
            agg_approx_median("l_quantity", accuracy=acc).alias("apx_median_qty"),
            agg_approx_percentile("l_extendedprice", 0.25, acc).alias("apx_p25_price"),
            agg_approx_percentile("l_extendedprice", 0.75, acc).alias("apx_p75_price"),
            agg_approx_percentile("l_discount", 0.9, acc).alias("apx_p90_disc"),
            agg_count_star().alias("n"),
        ],
    )


_SQL_APPROX_PERCENTILE = """
SELECT l_returnflag,
  quantile_disc(l_quantity, 0.5) AS apx_median_qty,
  quantile_disc(l_extendedprice, 0.25) AS apx_p25_price,
  quantile_disc(l_extendedprice, 0.75) AS apx_p75_price,
  quantile_disc(l_discount, 0.9) AS apx_p90_disc,
  COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


def q_json_extract(spark, sf_dir):
    """Semi-structured access: extract a JSON field from events.props and
    aggregate — get_json_object stays JVM-side (Jackson), no Python."""
    ev = _t(spark, sf_dir)["events"]
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return df_aggregate(
        ev.select(col("event_type"), k.alias("k")),
        [col("event_type")],
        [
            agg_count_star().alias("n"),
            F.sum("k").alias("sum_k"),
            agg_min("k").alias("min_k"),
            agg_max("k").alias("max_k"),
        ],
    )


_SQL_JSON = """
SELECT event_type, COUNT(*) AS n,
  SUM(CAST(json_extract(props, '$.k') AS BIGINT))::BIGINT AS sum_k,
  MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
  MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


def q_describe_stats(spark, sf_dir):
    """df/describe-shaped stats (count/null_count/mean/std/min/max/median per
    numeric column, unpivoted) — numeric form of the DataFusion describe
    column set (main.rs:533-541), oracle-checkable without string formatting."""
    li = _t(spark, sf_dir)["lineitem"]
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    # project to the described columns, then spread across cores: the exact
    # median buffers every value in the partial aggregate, and a small
    # parquet source is ONE input split, so without the narrow (3-column)
    # round-robin exchange the whole percentile build runs on one core
    # (exact percentile/decimal-sum merges are order-independent)
    parallelism = spark.sparkContext.defaultParallelism
    li = li.select(*cols).repartition(parallelism)
    # single aggregation pass over all columns (one scan, one partial->final
    # agg), then an explode-unpivot -- not one job per column
    aggs = []
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}__count"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__null_count"),
            F.round(avg_exact(c), 6).alias(f"{c}__mean"),
            F.round(F.stddev_samp(c), 4).alias(f"{c}__std"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
            F.round(F.median(c), 4).alias(f"{c}__median"),
        ]
    wide = li.agg(*aggs)
    stacked = wide.select(F.explode(F.array(*[
        F.struct(
            F.lit(c).alias("column_name"),
            F.col(f"{c}__count").alias("count"),
            F.col(f"{c}__null_count").alias("null_count"),
            F.col(f"{c}__mean").alias("mean"),
            F.col(f"{c}__std").alias("std"),
            F.col(f"{c}__min").alias("min"),
            F.col(f"{c}__max").alias("max"),
            F.col(f"{c}__median").alias("median"),
        ) for c in cols
    ])).alias("s"))
    return stacked.select("s.*")


_SQL_DESCRIBE_STATS = f"""
SELECT 'l_quantity' AS column_name, COUNT(l_quantity) AS count,
  SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_count,
  round(CAST(SUM(CAST(l_quantity AS {_SQL_DEC})) AS DOUBLE) / COUNT(l_quantity), 6) AS mean,
  round(stddev_samp(l_quantity), 4) AS std,
  MIN(l_quantity) AS min, MAX(l_quantity) AS max,
  round(CAST(median(l_quantity) AS DOUBLE), 4) AS median
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', COUNT(l_extendedprice),
  SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)::BIGINT,
  round(CAST(SUM(CAST(l_extendedprice AS {_SQL_DEC})) AS DOUBLE) / COUNT(l_extendedprice), 6),
  round(stddev_samp(l_extendedprice), 4),
  MIN(l_extendedprice), MAX(l_extendedprice),
  round(CAST(median(l_extendedprice) AS DOUBLE), 4)
FROM lineitem
UNION ALL
SELECT 'l_discount', COUNT(l_discount),
  SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END)::BIGINT,
  round(CAST(SUM(CAST(l_discount AS {_SQL_DEC})) AS DOUBLE) / COUNT(l_discount), 6),
  round(stddev_samp(l_discount), 4),
  MIN(l_discount), MAX(l_discount),
  round(CAST(median(l_discount) AS DOUBLE), 4)
FROM lineitem
"""


def q_udf_vectorized(spark, sf_dir):
    """Scalar UDF in the correctness gate: a pandas_udf (Arrow-batched — the
    real implementation of the reference's stubbed kernel, main.rs:622-629)
    computing an order-price tier; oracle re-expresses the logic in SQL."""
    from .udf import define_udf
    from .datatypes import Float64, Int64

    def tier(price):
        # pandas Series in, Series out — vectorized
        return (price // 50000).astype("int64")

    u = define_udf(spark, "price_tier", [Float64], Int64, tier)
    o = _t(spark, sf_dir)["orders"]
    return df_aggregate(
        o.select(u(F.col("o_totalprice")).alias("tier")),
        [col("tier")],
        [agg_count_star().alias("n")],
    )


_SQL_UDF = """
SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS tier, COUNT(*) AS n
FROM orders GROUP BY 1
"""


def q_above_avg_orders(spark, sf_dir):
    """Correlated-subquery pattern, decorrelated the Spark way: orders whose
    price exceeds their customer's average order price.  Expressed as a
    window (one shuffle on the correlation key) — the plan Catalyst's
    RewriteCorrelatedScalarSubquery would produce from the SQL form."""
    o = _t(spark, sf_dir)["orders"]
    from pyspark.sql.window import Window
    w = Window.partitionBy("o_custkey")
    avg_price = (F.sum(F.col("o_totalprice").cast(_DEC2)).over(w).cast("double")
                 / F.count(F.lit(1)).over(w))
    return (o.withColumn("cust_avg", F.round(avg_price, 6))
            .filter(F.col("o_totalprice") > F.col("cust_avg"))
            .select("o_orderkey", "o_custkey", "o_totalprice", "cust_avg"))


_SQL_ABOVE_AVG = f"""
SELECT o_orderkey, o_custkey, o_totalprice, cust_avg FROM (
  SELECT o_orderkey, o_custkey, o_totalprice,
    round(CAST(SUM(CAST(o_totalprice AS {_SQL_DEC2})) OVER w AS DOUBLE)
          / COUNT(*) OVER w, 6) AS cust_avg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey)) t
WHERE o_totalprice > cust_avg
"""


_SQL_ENTRY_TEXT = """
SELECT s_name, n_name, COUNT(*) AS n_parts_supplied
FROM supplier JOIN nation ON s_nationkey = n_nationkey
JOIN lineitem ON l_suppkey = s_suppkey
WHERE l_quantity > 40
GROUP BY s_name, n_name
"""


def q_sql_entry(spark, sf_dir):
    """SQL string entry point (SURVEY.md §3.3 optional surface): the same
    ANSI text runs on Spark SQL and on the DuckDB oracle."""
    from .sql import register_tables, sql as run_sql

    register_tables(spark, sf_dir)
    return run_sql(spark, _SQL_ENTRY_TEXT)


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity): classic lag + cumulative
    session-start count — one shuffle on user_id, sort within partitions.
    The batch form of stateful streaming session windows."""
    ev = _t(spark, sf_dir)["events"]
    from pyspark.sql.window import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_timestamp("ts")
           - F.unix_timestamp(F.lag("ts", 1).over(w)))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"))
            .select("user_id", "session_id", "n_events",
                    "session_start", "session_end"))


_SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id, event_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
           OR date_diff('second', lag(ts) OVER w, ts) > 1800
         THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts,
    (SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING))::BIGINT AS session_id
  FROM g)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM s GROUP BY user_id, session_id
"""


def q_window_ranking(spark, sf_dir):
    """Full ranking-function set + a RANGE frame (SURVEY §2.6 completeness):
    dense_rank/percent_rank/ntile plus a range-bounded running count.

    r15 parallel form, same values: o_orderstatus has 3 distinct values, so
    the direct two-window plan sorted whole status partitions on ≤3 cores
    (two hostage Sort+Window passes over ~50k rows each).  The order-by key
    (o_totalprice DESC, o_orderkey ASC) is UNIQUE (orderkey is a key), so
    dense_rank == rank == row_number, and the ``dr <= 100`` filter is a
    top-100-per-status GROUP LIMIT: row_number + filter lets Spark's
    WindowGroupLimit keep ≤100 rows per status per map task before the
    exchange, so the final sort sees hundreds of rows instead of the table.
    percent_rank = (rn-1)/(n-1) and ntile(4) are pure functions of (rn, n)
    with n from a 3-row broadcast count (ntile bucket arithmetic mirrors
    Spark's: n%4 leading buckets of size n//4+1, the rest n//4).  The
    RANGE-frame count re-joins the ≤300 survivors (broadcast) against
    orders on the same [p-10000, p] band — counts aggregate map-side into
    a ≤300-key shuffle.  Every stage scales with input splits, none with
    the 3-value status domain."""
    from pyspark.sql.window import Window

    from .pipeline.scoring import _spread
    o = _spread(_t(spark, sf_dir)["orders"]
                .select("o_orderkey", "o_orderstatus", "o_totalprice"))
    n_by_status = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("_n"))
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    top = (o.select("o_orderkey", "o_orderstatus", "o_totalprice",
                    F.row_number().over(w).alias("dr"))
           .filter(F.col("dr") <= 100)
           .join(F.broadcast(n_by_status), "o_orderstatus"))
    rn1 = (F.col("dr") - 1).cast("long")          # 0-based rank
    nn = F.col("_n")
    bs = F.floor(nn / 4)                           # base bucket size
    pad = nn % 4                                   # buckets holding bs+1
    threshold = (bs + 1) * pad
    quartile = (F.when(rn1 < threshold, F.floor(rn1 / (bs + 1)))
                .otherwise(pad + F.floor((rn1 - threshold) / bs))
                + 1).cast("int")
    pr = F.round(
        F.when(nn > 1, rn1.cast("double") / (nn - 1).cast("double"))
        .otherwise(F.lit(0.0)), 6)
    t = top.select(F.col("o_orderstatus").alias("t_status"),
                   F.col("o_orderkey").alias("t_key"),
                   F.col("o_totalprice").alias("t_price"))
    cnt = (o.join(F.broadcast(t),
                  (F.col("o_orderstatus") == F.col("t_status"))
                  & (F.col("o_totalprice") >= F.col("t_price") - 10000)
                  & (F.col("o_totalprice") <= F.col("t_price")))
           .groupBy("t_key")
           .agg(F.count(F.lit(1)).alias("n_within_10k_below")))
    return (top.join(cnt, top["o_orderkey"] == cnt["t_key"])
            .select("o_orderkey", "o_orderstatus", "dr",
                    pr.alias("pr"), quartile.alias("quartile"),
                    "n_within_10k_below"))


_SQL_WINDOW_RANKING = """
SELECT o_orderkey, o_orderstatus, dr, pr, quartile, n_within_10k_below FROM (
  SELECT o_orderkey, o_orderstatus,
    dense_rank()            OVER w AS dr,
    round(percent_rank()    OVER w, 6) AS pr,
    ntile(4)                OVER w AS quartile,
    COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                   RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
      AS n_within_10k_below
  FROM orders
  WINDOW w AS (PARTITION BY o_orderstatus
               ORDER BY o_totalprice DESC, o_orderkey ASC)) t
WHERE dr <= 100
"""


def q_pivot_events(spark, sf_dir):
    """Pivot: per-user event-type counts as columns.  Spark's pivot() emits
    the same plan as the manual CASE aggregation the oracle uses."""
    ev = _t(spark, sf_dir)["events"]
    types = ["click", "view", "purchase", "signup", "error"]
    return (ev.groupBy("user_id")
            .pivot("event_type", types)
            .agg(F.count(F.lit(1)))
            .na.fill(0, types)
            .select("user_id", *[F.col(t).alias(f"n_{t}") for t in types]))


_SQL_PIVOT = """
SELECT user_id,
  COUNT(*) FILTER (event_type = 'click')    AS n_click,
  COUNT(*) FILTER (event_type = 'view')     AS n_view,
  COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
  COUNT(*) FILTER (event_type = 'signup')   AS n_signup,
  COUNT(*) FILTER (event_type = 'error')    AS n_error
FROM events GROUP BY user_id
"""


def q_unpivot_metrics(spark, sf_dir):
    """Unpivot (melt): wide per-flag aggregates turned into long
    (key, metric, value) rows — the inverse of pivot, used to feed metric
    stores and plotting layers.  Spark's ``DataFrame.unpivot`` lowers to an
    Expand node (one pass, no shuffle beyond the aggregate); the oracle
    uses DuckDB's UNPIVOT, whose metric naming matches the Spark variable
    column exactly."""
    li = _t(spark, sf_dir)["lineitem"]
    wide = df_aggregate(
        li, [col("l_returnflag")],
        [
            F.round(sum_exact("l_quantity"), 6).alias("sum_qty"),
            F.round(sum_exact("l_extendedprice"), 6).alias("sum_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        ],
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "avg_disc"],
        "metric", "value")


_SQL_UNPIVOT = """
WITH wide AS (
  SELECT l_returnflag,
    round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6)
      AS sum_qty,
    round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 6)
      AS sum_price,
    round(avg(l_discount), 6) AS avg_disc
  FROM lineitem GROUP BY l_returnflag
)
SELECT * FROM wide UNPIVOT (value FOR metric IN (sum_qty, sum_price, avg_disc))
"""


def q_write_partitioned_roundtrip(spark, sf_dir):
    """Partitioned parquet sink + partition-pruned read-back: documents
    written ``partitionBy(lang)`` to a scratch dir, re-read with a
    partition filter (only the matching lang directories are scanned —
    PartitionFilters in the read plan, asserted in
    tests/test_chunking_terms.py's sibling suite), then aggregated.  The
    oracle aggregates the source directly, so the hash certifies the
    write→read cycle is lossless.  Scratch path is keyed by the sf dir;
    overwrite mode keeps reruns idempotent."""
    import tempfile

    d = _t(spark, sf_dir)["documents"]
    out = scratch_dir(spark, sf_dir, "roundtrip")
    (d.select("doc_id", "source", "n_chars", "lang")
     .write.mode("overwrite").partitionBy("lang").parquet(out))
    back = spark.read.parquet(out).filter(F.col("lang").isin("en", "de"))
    return back.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"))


_SQL_WRITE_ROUNDTRIP = """
SELECT lang, source, COUNT(*) AS n_docs, SUM(n_chars)::BIGINT AS sum_chars,
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
FROM documents WHERE lang IN ('en', 'de')
GROUP BY lang, source
"""


def q_string_funcs(spark, sf_dir):
    """Scalar string-function family (upper/substr/replace/lpad/concat/
    length/trim) — unreachable from the reference's surface (SURVEY §2.3
    gap: only inherited engine has them); free via pyspark.sql.functions."""
    pt = df_filter(_t(spark, sf_dir)["part"], F.col("p_partkey") < 2000)
    return pt.select(
        "p_partkey",
        F.upper(F.col("p_name")).alias("uname"),
        F.substring(F.col("p_type"), 1, 5).alias("type5"),
        F.replace(F.col("p_brand"), F.lit("Brand"), F.lit("B")).alias("brand_short"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded_key"),
        F.length(F.col("p_name")).alias("name_len"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
    )


_SQL_STRING_FUNCS = """
SELECT p_partkey,
  upper(p_name) AS uname,
  substr(p_type, 1, 5) AS type5,
  replace(p_brand, 'Brand', 'B') AS brand_short,
  lpad(p_partkey::VARCHAR, 8, '0') AS padded_key,
  length(p_name) AS name_len,
  concat_ws('|', p_brand, p_type) AS brand_type
FROM part WHERE p_partkey < 2000
"""


def q_date_funcs(spark, sf_dir):
    """Temporal function family: extract year/month/day, date_add, datediff,
    date_trunc to month — over the orders timestamps."""
    o = df_filter(_t(spark, sf_dir)["orders"], F.col("o_orderkey") < 20000)
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.month(d).alias("mo"),
        F.dayofmonth(d).alias("dom"),
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("due_date"),
        F.datediff(F.lit("2024-12-31").cast("date"), d).alias("days_to_eoy"),
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd")
         .alias("order_month"),
    )


_SQL_DATE_FUNCS = """
SELECT o_orderkey,
  EXTRACT(year FROM o_orderdate)::INT AS yr,
  EXTRACT(month FROM o_orderdate)::INT AS mo,
  EXTRACT(day FROM o_orderdate)::INT AS dom,
  strftime(o_orderdate::DATE + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
  date_diff('day', o_orderdate::DATE, DATE '2024-12-31')::INT AS days_to_eoy,
  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month
FROM orders WHERE o_orderkey < 20000
"""


def q_cube_agg(spark, sf_dir):
    """GROUP BY CUBE over two dimensions (grouping-sets family; unexposed in
    the reference, trivial on Spark — SURVEY §2.5)."""
    o = _t(spark, sf_dir)["orders"]
    return (o.cube("o_orderstatus", "o_orderpriority")
            .agg(agg_count_star().alias("n"),
                 F.sum(F.col("o_totalprice").cast(_DEC2)).cast("double")
                  .alias("total")))


_SQL_CUBE = f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
  CAST(SUM(CAST(o_totalprice AS {_SQL_DEC2})) AS DOUBLE) AS total
FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""


def q_array_funcs(spark, sf_dir):
    """Array-function family over the embedding column: size/slice/contains/
    element_at/sorted-head — JVM-side nested-type ops (SURVEY §1.3 notes the
    reference exposes no nested types; Spark has them natively)."""
    e = _t(spark, sf_dir)["embeddings"]
    v = F.col("embedding")
    return df_filter(e, F.col("vec_id") < 200).select(
        "vec_id",
        F.size(v).alias("dim"),
        F.round(F.element_at(v, 1).cast("double"), 6).alias("first_val"),
        F.round(F.element_at(v, -1).cast("double"), 6).alias("last_val"),
        F.round(F.aggregate(F.slice(v, 1, 8),
                            F.lit(0.0), lambda a, x: a + x.cast("double")), 6)
         .alias("head8_sum"),
        F.round(F.array_max(v).cast("double"), 6).alias("vmax"),
        F.round(F.array_min(v).cast("double"), 6).alias("vmin"),
    )


_SQL_ARRAY_FUNCS = """
SELECT vec_id,
  len(embedding) AS dim,
  round(embedding[1]::DOUBLE, 6) AS first_val,
  round(embedding[-1]::DOUBLE, 6) AS last_val,
  round(list_sum(list_transform(embedding[1:8], x -> x::DOUBLE)), 6) AS head8_sum,
  round(list_max(embedding)::DOUBLE, 6) AS vmax,
  round(list_min(embedding)::DOUBLE, 6) AS vmin
FROM embeddings WHERE vec_id < 200
"""


def q_upsert_roundtrip(spark, sf_dir):
    """Keyed parquet upsert (sources/readers.py merge_upsert — CDC-style
    incremental corpus maintenance): seed a table from documents, apply an
    update batch (50 in-place edits + 10 inserts), read back and aggregate.
    The oracle computes the post-merge expectation directly from the source
    table, so the hash certifies replace-by-key + append semantics through
    a real write→commit→read cycle of the manifest table."""
    import shutil
    import tempfile

    d = _t(spark, sf_dir)["documents"].select("doc_id", "source", "n_chars")
    out = scratch_dir(spark, sf_dir, "upsert")
    if _os.path.exists(out):
        shutil.rmtree(out)
    merge_upsert(spark, out, d, ["doc_id"])  # seed
    edits = d.filter(F.col("doc_id") < 50).withColumn(
        "n_chars", F.col("n_chars") + 1000)
    inserts = d.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.lit("upserted").alias("source"), F.col("n_chars"))
    merge_upsert(spark, out, edits.unionByName(inserts), ["doc_id"])
    back = read_parquet(spark, out)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.max("doc_id").alias("max_doc_id"))


_SQL_UPSERT_ROUNDTRIP = """
WITH merged AS (
  SELECT doc_id, source,
         CASE WHEN doc_id < 50 THEN n_chars + 1000 ELSE n_chars END
           AS n_chars
  FROM documents
  UNION ALL
  SELECT doc_id + 5000000, 'upserted', n_chars
  FROM documents WHERE doc_id < 10
)
SELECT source, COUNT(*) AS n_docs, SUM(n_chars)::BIGINT AS sum_chars,
       MAX(doc_id) AS max_doc_id
FROM merged GROUP BY source
"""


def q_upsert_partitioned(spark, sf_dir):
    """Partition-granular upsert (sources/readers.py merge_upsert with
    partition_by): the table lives Hive-partitioned by ``source`` and only
    the partitions containing updated keys are rewritten — the scan is
    pruned to touched partitions and untouched partition files stay
    byte-identical (tests/test_sources_formats.py asserts the bytes; this
    gate hash-checks the merged VALUES end-to-end through the
    prune→merge→hardlink→commit cycle).  Same update batch and oracle
    expectation as upsert_roundtrip, different physical path."""
    import shutil
    import tempfile

    d = _t(spark, sf_dir)["documents"].select("doc_id", "source", "n_chars")
    out = scratch_dir(spark, sf_dir, "upsert_part")
    if _os.path.exists(out):
        shutil.rmtree(out)
    merge_upsert(spark, out, d, ["doc_id"], partition_by=["source"])  # seed
    edits = d.filter(F.col("doc_id") < 50).withColumn(
        "n_chars", F.col("n_chars") + 1000)
    inserts = d.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.lit("upserted").alias("source"), F.col("n_chars"))
    merge_upsert(spark, out, edits.unionByName(inserts), ["doc_id"],
                 partition_by=["source"])
    back = read_parquet(spark, out)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.max("doc_id").alias("max_doc_id"))


def q_higher_order_funcs(spark, sf_dir):
    """Higher-order array functions (transform / filter / exists / forall /
    zip_with) — the lambda surface that keeps nested-type logic JVM-side
    instead of dropping to Python.  All folds are left-to-right, matching
    DuckDB's list_* functions bit-for-bit."""
    e = _t(spark, sf_dir)["embeddings"]
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return df_filter(e, F.col("vec_id") < 200).select(
        "vec_id",
        F.round(F.aggregate(F.transform(v, lambda x: x * x),
                            F.lit(0.0), lambda a, x: a + x), 6)
         .alias("sum_sq"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_pos"),
        F.exists(v, lambda x: x > 0.5).alias("has_big"),
        F.forall(v, lambda x: x > -10.0).alias("all_sane"),
        F.round(F.aggregate(
            F.zip_with(F.slice(v, 1, 32), F.slice(v, 33, 32),
                       lambda a, b: a * b),
            F.lit(0.0), lambda a, x: a + x), 6).alias("half_dot"),
    )


_SQL_HIGHER_ORDER = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings WHERE vec_id < 200
)
SELECT vec_id,
  round(list_sum(list_transform(v, x -> x * x)), 6) AS sum_sq,
  len(list_filter(v, x -> x > 0)) AS n_pos,
  len(list_filter(v, x -> x > 0.5)) > 0 AS has_big,
  len(list_filter(v, x -> NOT (x > -10.0))) = 0 AS all_sane,
  round(list_sum(list_transform(list_zip(v[1:32], v[33:64]),
                                p -> p[1] * p[2])), 6) AS half_dot
FROM e
"""


def q_zscore_normalize(spark, sf_dir):
    """Per-group z-score standardization with DETERMINISTIC moments: mean
    and variance derive from exact-decimal sums (sum x, sum x² — order-
    independent at any partition count), cast to double only for the final
    mu/sigma arithmetic, so every z value is bit-identical across engines
    and partitionings.  Group stats broadcast back onto the rows — the
    feature-scaling shape of a numeric training pipeline (two scans, one
    tiny broadcast, no row ever shuffles)."""
    li = df_filter(_t(spark, sf_dir)["lineitem"], F.col("l_orderkey") < 2000)
    x = F.col("l_extendedprice")
    stats = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(x.cast(_DEC)).cast("double").alias("_sx"),
        F.sum((x * x).cast(_DEC)).cast("double").alias("_sxx"))
    st = stats.select(
        "l_returnflag",
        (F.col("_sx") / F.col("_n")).alias("_mu"),
        F.sqrt((F.col("_sxx") - F.col("_sx") * F.col("_sx") / F.col("_n"))
               / (F.col("_n") - 1)).alias("_sigma"))
    return (li.join(F.broadcast(st), "l_returnflag")
            .select("l_orderkey", "l_linenumber", "l_returnflag",
                    F.round((x - F.col("_mu")) / F.col("_sigma"), 6)
                    .alias("z")))


_SQL_ZSCORE = f"""
WITH s AS (
  SELECT l_returnflag, COUNT(*) AS n,
    CAST(SUM(CAST(l_extendedprice AS {_SQL_DEC})) AS DOUBLE) AS sx,
    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS {_SQL_DEC}))
         AS DOUBLE) AS sxx
  FROM lineitem WHERE l_orderkey < 2000 GROUP BY l_returnflag),
st AS (
  SELECT l_returnflag, sx / n AS mu,
         sqrt((sxx - sx * sx / n) / (n - 1)) AS sigma
  FROM s)
SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
       round((l.l_extendedprice - st.mu) / st.sigma, 6) AS z
FROM lineitem l JOIN st USING (l_returnflag)
WHERE l.l_orderkey < 2000
"""


def q_rolling_time_features(spark, sf_dir):
    """Time-RANGE window features: per purchase event, the count and
    value sum of the same user's events in the preceding hour — a RANGE
    frame over epoch microseconds (exact cross-engine frame membership;
    epoch *seconds* would disagree with the oracle's INTERVAL arithmetic
    on sub-second timestamps).  The feature shape behind
    "activity-in-last-N-minutes" model inputs; one shuffle on user_id,
    frames evaluated in a single pass per partition."""
    ev = _t(spark, sf_dir)["events"]
    # ts arrives as TIMESTAMP_NTZ (ns-parquet conversion); the session is
    # pinned to UTC, so the cast to TIMESTAMP is value-identity
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (window_spec(partition_by=["user_id"], order_by=[us.asc()])
         .rangeBetween(-3_600_000_000, 0))
    scored = ev.select(
        "event_id", "user_id", "event_type",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.round(F.sum(F.col("value").cast(_DEC)).over(w).cast("double"), 6)
        .alias("sum_value_last_hour"))
    return scored.filter(F.col("event_type") == "purchase") \
        .select("event_id", "user_id", "n_last_hour", "sum_value_last_hour")


_SQL_ROLLING_TIME = f"""
WITH scored AS (
  SELECT event_id, user_id, event_type,
    COUNT(*) OVER w AS n_last_hour,
    round(CAST(SUM(CAST(value AS {_SQL_DEC})) OVER w AS DOUBLE), 6)
      AS sum_value_last_hour
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, n_last_hour, sum_value_last_hour
FROM scored WHERE event_type = 'purchase'
"""


def q_having_filter(spark, sf_dir):
    """Aggregate + HAVING (post-aggregation filter pushed onto the agg
    result — same plan Catalyst produces from SQL HAVING)."""
    li = _t(spark, sf_dir)["lineitem"]
    g = df_aggregate(
        li, [col("l_partkey")],
        [agg_count_star().alias("n"),
         sum_exact("l_quantity").alias("qty")],
    )
    return df_filter(g, (F.col("n") >= 30) & (F.col("qty") > 800))


_SQL_HAVING = f"""
SELECT l_partkey, COUNT(*) AS n,
  CAST(SUM(CAST(l_quantity AS {_SQL_DEC})) AS DOUBLE) AS qty
FROM lineitem GROUP BY l_partkey
HAVING COUNT(*) >= 30
   AND CAST(SUM(CAST(l_quantity AS {_SQL_DEC})) AS DOUBLE) > 800
"""


def q_nested_agg(spark, sf_dir):
    """Two-level aggregation: per-customer order totals, then per-segment
    stats of those totals (agg over agg — reuses the first shuffle's
    distribution for nothing; second agg is its own exchange on segment)."""
    t = _t(spark, sf_dir)
    per_cust = df_aggregate(
        df_join(t["customer"], t["orders"], "inner",
                ["c_custkey"], ["o_custkey"]),
        [col("c_custkey"), col("c_mktsegment")],
        [F.sum(F.col("o_totalprice").cast(_DEC2)).alias("cust_total"),
         agg_count_star().alias("n_orders")],
    )
    return df_aggregate(
        per_cust, [col("c_mktsegment")],
        [
            agg_count_star().alias("n_customers"),
            F.sum(F.col("cust_total")).cast("double").alias("segment_total"),
            F.max(F.col("cust_total")).cast("double").alias("max_cust_total"),
            F.sum("n_orders").alias("total_orders"),
        ],
    )


_SQL_NESTED_AGG = f"""
WITH per_cust AS (
  SELECT c_custkey, c_mktsegment,
    SUM(CAST(o_totalprice AS {_SQL_DEC2})) AS cust_total,
    COUNT(*) AS n_orders
  FROM customer JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey, c_mktsegment)
SELECT c_mktsegment, COUNT(*) AS n_customers,
  CAST(SUM(cust_total) AS DOUBLE) AS segment_total,
  CAST(MAX(cust_total) AS DOUBLE) AS max_cust_total,
  SUM(n_orders)::BIGINT AS total_orders
FROM per_cust GROUP BY c_mktsegment
"""


def q_skew_salted_join(spark, sf_dir):
    """Salted shuffled join + agg under synthesized key skew (VERDICT r1
    item 7): half of all events collapse onto hot key 0 (a power-law head —
    the events table itself is uniform, TESTDATA.md), joined against a
    compact per-key table with 20× multiplicity so the hot key's join output
    dominates.

    The salted path spreads hot-key rows over 8 deterministic sub-keys
    (hash of event_id), so no single task owns the hot key's quadratic
    output.  Where this matters at 100 TB: AQE's skew-join split covers
    sort-merge/shuffled-hash *probe-side* skew, but not the preserved side
    of outer joins, not aggregation hot keys, and only at ≥256 MB partition
    granularity — salting is the key-granular fix that composes with any
    join type the helper allows.  Measured before/after at sf0.1:
    tools/bench_skew.py, results in PLANS.md."""
    from .operators.skew import salted_join

    ev = _t(spark, sf_dir)["events"]
    skewed = ev.select(
        F.when(F.col("event_id") % 2 == 0, F.lit(0))
         .otherwise(F.col("user_id")).alias("k"),
        "event_id", "value")
    reps = spark.range(20).select(F.col("id").alias("rep"))
    compact = ev.select(F.col("user_id").alias("ck")).distinct().crossJoin(reps)
    j = salted_join(skewed, compact, "k", "ck", salt_col="event_id", salt=8)
    return j.groupBy("k").agg(
        agg_count_star().alias("n"),
        F.sum(F.col("value").cast(_DEC2)).cast("double").alias("sum_value"))


_SQL_SKEW_SALTED_JOIN = f"""
WITH skewed AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN 0 ELSE user_id END AS k, value
  FROM events),
compact AS (
  SELECT ck FROM (SELECT DISTINCT user_id AS ck FROM events) CROSS JOIN range(20))
SELECT k, COUNT(*) AS n,
  CAST(SUM(CAST(value AS {_SQL_DEC2})) AS DOUBLE) AS sum_value
FROM skewed JOIN compact ON k = ck GROUP BY k
"""


def q_surface_misc(spark, sf_dir):
    """Gate coverage for the §2 surface items previously verified only by
    pytest (VERDICT r1 item 3): right_semi / right_anti joins,
    with-column-renamed, col_idiv, ilike / not-like / not-ilike, the
    simple-CASE form closed by case_end (no ELSE ⇒ NULL), and df_sort_by's
    asc-NULLS-LAST default (observable through the limit: a nulls-first sort
    would return entirely different rows).

    Scale: semi/anti shuffle once on the join key (or broadcast under AQE);
    everything else is a codegen'd projection; the top-200 is
    TakeOrderedAndProject."""
    from .expressions import case, case_end, col_idiv, col_ilike, \
        col_not_ilike, col_not_like
    from .operators.relational import df_with_column_renamed

    t = _t(spark, sf_dir)
    big = df_filter(t["orders"], F.col("o_totalprice") > 150000)
    # right-variant joins: output columns come from the RIGHT (customer) side
    has_big = df_join(big, t["customer"], "right_semi",
                      ["o_custkey"], ["c_custkey"])
    no_big = df_join(big, t["customer"], "right_anti",
                     ["o_custkey"], ["c_custkey"])
    u = df_union(has_big.withColumn("has_big", F.lit(True)),
                 no_big.withColumn("has_big", F.lit(False)))
    seg_code = case_end(
        case(F.col("c_mktsegment"))
        .with_when("BUILDING", "b")
        .with_when("MACHINERY", "m"))
    bal = F.col("c_acctbal").cast("long")  # truncation toward zero
    proj = df_select(u, [
        col("c_custkey"), col("c_name"), col("has_big"),
        col_idiv(bal, 1000).alias("bal_k"),
        col_ilike(F.col("c_mktsegment"), "build%").alias("is_building"),
        col_not_like(F.col("c_name"), "%000%").alias("name_not_000"),
        col_not_ilike(F.col("c_name"), "%customer#0000001%").alias("name_not_1x"),
        seg_code.alias("seg_code"),
    ])
    renamed = df_with_column_renamed(proj, "c_custkey", "cust_id")
    return df_limit(
        df_sort_by(renamed, [F.col("seg_code"), F.col("cust_id")]), 0, 200)


_SQL_SURFACE_MISC = """
WITH big AS (SELECT o_custkey FROM orders WHERE o_totalprice > 150000),
u AS (
  SELECT c_custkey, c_name, c_acctbal, c_mktsegment, TRUE AS has_big
  FROM customer WHERE EXISTS (SELECT 1 FROM big WHERE o_custkey = c_custkey)
  UNION ALL
  SELECT c_custkey, c_name, c_acctbal, c_mktsegment, FALSE AS has_big
  FROM customer WHERE NOT EXISTS (SELECT 1 FROM big WHERE o_custkey = c_custkey)),
p AS (
  SELECT c_custkey AS cust_id, c_name, has_big,
    -- (a - a%b)/b: truncation-toward-zero integer division, exact by
    -- construction (mirrors col_idiv; DuckDB bigint % carries dividend sign)
    CAST((CAST(trunc(c_acctbal) AS BIGINT) - (CAST(trunc(c_acctbal) AS BIGINT) % 1000)) / 1000 AS BIGINT) AS bal_k,
    c_mktsegment ILIKE 'build%' AS is_building,
    c_name NOT LIKE '%000%' AS name_not_000,
    c_name NOT ILIKE '%customer#0000001%' AS name_not_1x,
    CASE c_mktsegment WHEN 'BUILDING' THEN 'b' WHEN 'MACHINERY' THEN 'm' END AS seg_code
  FROM u)
SELECT * FROM p ORDER BY seg_code ASC NULLS LAST, cust_id ASC LIMIT 200
"""


_CSV_FIXTURE = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
    "examples", "surface_fixture.csv")


def q_read_csv_surface(spark, sf_dir):
    """``read-csv`` as a gated source (main.rs:570-578) plus the last
    pytest-only expression forms (VERDICT r2 item 5): ``col_lt`` (correct
    ``<``, unlike the reference's ``.gt`` body at main.rs:66-68) and the
    variadic left-folds ``col_add``/``col_sub``/``col_mul``
    (main.rs:307-359).

    Reads the committed fixture CSV (examples/surface_fixture.csv — the
    oracle reads the same file via read_csv_auto); inference parity: int
    columns widened to long, empty cells → NULL in both engines, and the
    NULL `val` rows are dropped by the 3VL filter.

    Scale: CSV scan → codegen'd projection → 5-group agg; inference is the
    only extra scan and disappears with an explicit schema."""
    from .expressions import col_add, col_mul, col_sub

    df = read_csv(spark, _CSV_FIXTURE)
    kept = df_filter(df, col_lt(col("val"), lit(500)) & col_ge(col("id"), lit(3)))
    proj = kept.select(
        col("grp"),
        col("ratio"),
        col_add(col("id"), col("val"), lit(1)).alias("fold_add"),
        col_sub(col("val"), col("id"), lit(1)).alias("fold_sub"),
        col_mul(col("id"), col("val"), lit(2)).alias("fold_mul"),
    )
    return df_aggregate(
        proj, [col("grp")],
        [
            agg_count_star().alias("n"),
            F.sum("fold_add").alias("sum_fold_add"),
            F.sum("fold_sub").alias("sum_fold_sub"),
            F.sum("fold_mul").alias("sum_fold_mul"),
            F.round(sum_exact("ratio"), 6).alias("sum_ratio"),
        ],
    )


_SQL_READ_CSV_SURFACE = """
SELECT grp, COUNT(*) AS n,
  SUM(id + val + 1)::BIGINT AS sum_fold_add,
  SUM(val - id - 1)::BIGINT AS sum_fold_sub,
  SUM(id * val * 2)::BIGINT AS sum_fold_mul,
  round(CAST(SUM(CAST(ratio AS DECIMAL(28,10))) AS DOUBLE), 6) AS sum_ratio
FROM read_csv_auto('/root/repo/examples/surface_fixture.csv')
WHERE val < 500 AND id >= 3
GROUP BY grp
"""


_JSONL_FIXTURE = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
    "examples", "surface_fixture.jsonl")


def q_read_json_surface(spark, sf_dir):
    """NDJSON source with nested types (sources/readers.py read_json —
    format extension beyond the reference's CSV surface): struct field
    access (meta.ord), array ops (size / element_at), 3VL null filter, then
    a grouped aggregate.  The oracle reads the same committed fixture via
    DuckDB's read_json_auto, which maps objects/arrays to STRUCT/LIST the
    same way."""
    df = read_json(spark, _JSONL_FIXTURE)
    kept = df.filter(F.col("val").isNotNull() & (F.col("meta.ord") != 2))
    proj = kept.select(
        "grp",
        F.col("val"),
        F.col("ratio"),
        F.size("tags").alias("n_tags"),
        F.element_at("tags", 2).alias("tag2"),
        F.col("meta.ord").alias("m_ord"),
    )
    return df_aggregate(
        proj, [col("grp"), col("tag2")],
        [
            agg_count_star().alias("n"),
            F.sum("val").alias("sum_val"),
            F.round(sum_exact("ratio"), 6).alias("sum_ratio"),
            F.sum("m_ord").alias("sum_ord"),
            F.max("n_tags").alias("max_tags"),
        ],
    )


_SQL_READ_JSON_SURFACE = f"""
SELECT grp, tags[2] AS tag2, COUNT(*) AS n,
  SUM(val)::BIGINT AS sum_val,
  round(CAST(SUM(CAST(ratio AS DECIMAL(28,10))) AS DOUBLE), 6) AS sum_ratio,
  SUM(meta.ord)::BIGINT AS sum_ord,
  MAX(len(tags)) AS max_tags
FROM read_json_auto('{_JSONL_FIXTURE}')
WHERE val IS NOT NULL AND meta.ord != 2
GROUP BY grp, tags[2]
"""


def q_orc_roundtrip(spark, sf_dir):
    """ORC sink + pushdown read-back (sources/readers.py write_orc /
    read_orc): documents written as ORC to a scratch dir, re-read with a
    pushed n_chars filter (PushedFilters reach the ORC scan), aggregated
    per source.  The oracle aggregates the parquet source directly, so the
    hash certifies the ORC write->read cycle is lossless."""
    import tempfile

    d = _t(spark, sf_dir)["documents"]
    out = scratch_dir(spark, sf_dir, "orc")
    write_orc(d.select("doc_id", "source", "lang", "n_chars"), out)
    back = read_orc(spark, out).filter(F.col("n_chars") >= 400)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.min("doc_id").alias("min_doc_id"))


_SQL_ORC_ROUNDTRIP = """
SELECT source, COUNT(*) AS n_docs, SUM(n_chars)::BIGINT AS sum_chars,
       COUNT(DISTINCT lang) AS n_langs, MIN(doc_id) AS min_doc_id
FROM documents WHERE n_chars >= 400
GROUP BY source
"""


# ---------------------------------------------------------------------------
# TPC-H decorrelation pack — the classic subquery shapes (EXISTS, NOT IN,
# correlated scalar, disjunctive pushdown) expressed the Spark way: semi/anti
# joins, windows over the correlation key, and 1-row broadcast scalars.  The
# oracle side keeps the textbook correlated-SQL form, so each gate checks
# that the decorrelated plan computes exactly the subquery semantics.
# (Schemas here lack l_commitdate/l_shipmode/p_container, so predicates are
# adapted to the driver's columns; the plan shapes are the TPC-H ones.)
# ---------------------------------------------------------------------------

def q_order_priority_exists(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS-correlated count by priority, decorrelated to
    a left-semi join.

    Scale: the o_orderdate range predicate pushes to the parquet scan
    (partition-prunable on a date-partitioned layout); the semi join
    shuffles both sides on orderkey and keeps at most one probe hit per
    order, so the join output is bounded by the filtered orders — no
    fan-out.  Final agg key has 5 values → map-side partials do the work."""
    t = _t(spark, sf_dir)
    o = df_filter(
        t["orders"],
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp")))
    returned = df_filter(t["lineitem"], F.col("l_returnflag") == "R")
    return df_aggregate(
        df_join(o, returned, "left_semi", ["o_orderkey"], ["l_orderkey"]),
        [col("o_orderpriority")],
        [agg_count_star().alias("order_count")],
    ).orderBy("o_orderpriority")


_SQL_ORDER_PRIORITY_EXISTS = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


def q_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: conditional-aggregate ratio over a fact↔dim join.

    Scale: part is the small side → AQE picks the broadcast-hash join at
    bench SF (no forced hint: part scales with SF, and a forced broadcast
    would bypass the size threshold at 100×), zero shuffle on lineitem; the one-month shipdate filter pushes to the scan.  Both sums
    route through exact decimals so the single output row is identical at
    any partition count; the division happens once, in double, at the end."""
    t = _t(spark, sf_dir)
    li = df_filter(
        t["lineitem"],
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp")))
    j = df_join(li, t["part"], "inner",
                ["l_partkey"], ["p_partkey"])
    rev = (F.col("l_extendedprice").cast(_DEC2)
           * (F.lit(1).cast(_DEC2) - F.col("l_discount").cast(_DEC2)))
    promo = F.when(F.col("p_type") == "PROMO", rev) \
        .otherwise(F.lit(0).cast("decimal(38,4)"))
    return j.agg(
        F.round(F.lit(100.0) * F.sum(promo).cast("double")
                / F.sum(rev).cast("double"), 6).alias("promo_revenue_pct"),
        agg_count_star().alias("n_lines"))


_SQL_PROMO_REVENUE = f"""
SELECT
  round(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
      THEN CAST(l_extendedprice AS {_SQL_DEC2})
           * (CAST(1 AS {_SQL_DEC2}) - CAST(l_discount AS {_SQL_DEC2}))
      ELSE CAST(0 AS DECIMAL(38,4)) END) AS DOUBLE)
    / CAST(SUM(CAST(l_extendedprice AS {_SQL_DEC2})
           * (CAST(1 AS {_SQL_DEC2}) - CAST(l_discount AS {_SQL_DEC2})))
       AS DOUBLE), 6) AS promo_revenue_pct,
  COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01'
  AND l_shipdate < TIMESTAMP '1997-10-01'
"""


def q_disjunctive_pushdown(spark, sf_dir):
    """TPC-H Q19 shape: revenue under an OR-of-ANDs join predicate.

    Scale: Catalyst extracts the common conjuncts it can (the equi-key) for
    the broadcast-hash join and keeps the disjunction as the join residual;
    constraint propagation derives a scan-level filter from the OR branches
    (l_quantity <= 30 covers all three), so the fact scan still prunes.
    One broadcast join, one 1-row agg — no shuffle of lineitem at all."""
    t = _t(spark, sf_dir)
    li, p = t["lineitem"], t["part"]
    branch = (
        ((F.col("p_brand") == "Brand#12") & (F.col("p_size").between(1, 15))
         & (F.col("l_quantity").between(1, 11)))
        | ((F.col("p_brand") == "Brand#23") & (F.col("p_size").between(1, 25))
           & (F.col("l_quantity").between(10, 20)))
        | ((F.col("p_brand") == "Brand#34") & (F.col("p_size").between(1, 35))
           & (F.col("l_quantity").between(20, 30))))
    j = df_join(li, p, "inner", ["l_partkey"], ["p_partkey"],
                filter=branch)
    rev = (F.col("l_extendedprice").cast(_DEC2)
           * (F.lit(1).cast(_DEC2) - F.col("l_discount").cast(_DEC2)))
    return j.agg(F.sum(rev).cast("double").alias("revenue"),
                 agg_count_star().alias("n_lines"))


_SQL_DISJUNCTIVE = f"""
SELECT
  CAST(SUM(CAST(l_extendedprice AS {_SQL_DEC2})
       * (CAST(1 AS {_SQL_DEC2}) - CAST(l_discount AS {_SQL_DEC2})))
    AS DOUBLE) AS revenue,
  COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""


def q_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: correlated scalar MIN (cheapest supplier per part),
    decorrelated to a window MIN over the correlation key.

    Scale: per-(part, supplier) MIN first (one shuffle on the pair key,
    map-side combine collapses the fact table), then the window MIN reuses
    a partkey shuffle of the already-tiny pair relation; nation is a forced
    broadcast (25 rows); part/supplier are SF-proportional, so their
    broadcasts are AQE-chosen, never forced.  Ties keep every minimal supplier — same as
    the SQL form."""
    t = _t(spark, sf_dir)
    pairs = df_aggregate(
        t["lineitem"], [col("l_partkey"), col("l_suppkey")],
        [agg_min("l_extendedprice").alias("pair_min")])
    pf = df_filter(t["part"],
                   F.col("p_size").isin(15, 25, 35)
                   & F.col("p_type").isin("LARGE", "STANDARD"))
    j = df_join(pairs, pf, "inner", ["l_partkey"], ["p_partkey"])
    w = window_spec(partition_by=["p_partkey"])
    j = j.withColumn("part_min", F.min("pair_min").over(w)) \
         .filter(F.col("pair_min") == F.col("part_min"))
    j = df_join(j, t["supplier"], "inner",
                ["l_suppkey"], ["s_suppkey"])
    j = df_join(j, F.broadcast(t["nation"]), "inner",
                ["s_nationkey"], ["n_nationkey"])
    return j.select("p_partkey", "p_brand", "s_name", "n_name",
                    F.col("pair_min").alias("min_price"))


_SQL_MIN_COST_SUPPLIER = """
WITH pairs AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS pair_min
  FROM lineitem GROUP BY l_partkey, l_suppkey
)
SELECT p_partkey, p_brand, s_name, n_name, pair_min AS min_price
FROM pairs
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE p_size IN (15, 25, 35) AND p_type IN ('LARGE', 'STANDARD')
  AND pair_min = (SELECT MIN(p2.pair_min) FROM pairs p2
                  WHERE p2.l_partkey = pairs.l_partkey)
"""


def q_supplier_relation_counts(spark, sf_dir):
    """TPC-H Q16 shape: COUNT(DISTINCT supplier) per part class, excluding a
    NOT-IN supplier set, decorrelated to a left-anti join.

    Scale: the part-supplier relation is DISTINCT pairs of the fact table
    (one shuffle with map-side combine); the NOT-IN side is a tiny filtered
    dim → AQE broadcasts the anti join side when it fits (s_suppkey is
    non-null, so anti == NOT IN here — the null-aware case is exercised
    in tests); part's broadcast is likewise AQE-chosen, not forced (both
    scale with SF).
    The count-distinct agg shuffles once on the 3-part class key."""
    t = _t(spark, sf_dir)
    supply = df_distinct(t["lineitem"].select(
        F.col("l_partkey"), F.col("l_suppkey")))
    bad = df_filter(t["supplier"], F.col("s_acctbal") < 0) \
        .select("s_suppkey")
    supply = df_join(supply, bad, "left_anti",
                     ["l_suppkey"], ["s_suppkey"])
    pf = df_filter(
        t["part"],
        (F.col("p_brand") != "Brand#45") & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)))
    j = df_join(supply, pf, "inner", ["l_partkey"], ["p_partkey"])
    return df_aggregate(
        j, [col("p_brand"), col("p_type"), col("p_size")],
        [agg_count_distinct("l_suppkey").alias("supplier_cnt")])


_SQL_SUPPLIER_RELATION = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) supply
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def q_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: rows under a correlated per-part average, decorrelated
    to a window AVG over the correlation key.

    Scale: only the one brand's parts survive the (AQE-chosen) broadcast
    join, but the
    per-part average must see ALL of a part's lineitems, so the window runs
    before the brand filter would prune rows — one shuffle on l_partkey.
    The average routes through an exact decimal sum (identical on the
    oracle side) so the `<` threshold compares bit-identical doubles."""
    t = _t(spark, sf_dir)
    pf = df_filter(t["part"], F.col("p_brand") == "Brand#23") \
        .select("p_partkey")
    li = df_join(t["lineitem"], pf, "left_semi", ["l_partkey"], ["p_partkey"])
    w = window_spec(partition_by=["l_partkey"])
    part_avg = (F.sum(F.col("l_quantity").cast(_DEC)).over(w).cast("double")
                / F.count(F.lit(1)).over(w))
    small = (li.withColumn("part_avg", part_avg)
             .filter(F.col("l_quantity") < 0.2 * F.col("part_avg")))
    return small.agg(
        F.round(F.sum(F.col("l_extendedprice").cast(_DEC2)).cast("double")
                / F.lit(7.0), 6).alias("avg_yearly"),
        agg_count_star().alias("n_lines"))


_SQL_SMALL_QTY = f"""
SELECT
  round(CAST(SUM(CAST(l_extendedprice AS {_SQL_DEC2})) AS DOUBLE) / 7.0, 6)
    AS avg_yearly,
  COUNT(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < 0.2 * (
    SELECT CAST(SUM(CAST(l2.l_quantity AS {_SQL_DEC})) AS DOUBLE) / COUNT(*)
    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


def q_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 shape: EXISTS + NOT-EXISTS on the same fact with different
    correlation predicates, decorrelated to one semi and one anti join.

    Scale: all three join legs shuffle on l_orderkey (Spark reuses the
    exchange across same-key joins); per-order fan-out is bounded by the
    lines-per-order cap, so no leg is quadratic.  supplier/orders'F' are
    broadcast when AQE sizes them under the threshold (supplier scales
    with SF — no forced hint).  LIMIT sits under a total order (count desc, name asc —
    names are unique)."""
    t = _t(spark, sf_dir)
    li = t["lineitem"]
    f_orders = df_filter(t["orders"], F.col("o_orderstatus") == "F") \
        .select("o_orderkey")
    base = df_join(df_filter(li, F.col("l_returnflag") == "R"),
                   f_orders, "left_semi", ["l_orderkey"], ["o_orderkey"]) \
        .select("l_orderkey", "l_suppkey")
    others = df_distinct(li.select(F.col("l_orderkey").alias("o2_orderkey"),
                                   F.col("l_suppkey").alias("o2_suppkey")))
    base = df_join_on(
        base, others, "left_semi",
        [F.col("l_orderkey") == F.col("o2_orderkey"),
         F.col("l_suppkey") != F.col("o2_suppkey")])
    others_r = df_distinct(
        df_filter(li, F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("r_orderkey"),
                F.col("l_suppkey").alias("r_suppkey")))
    base = df_join_on(
        base, others_r, "left_anti",
        [F.col("l_orderkey") == F.col("r_orderkey"),
         F.col("l_suppkey") != F.col("r_suppkey")])
    j = df_join(base, t["supplier"], "inner",
                ["l_suppkey"], ["s_suppkey"])
    agg = df_aggregate(j, [col("s_name")],
                       [agg_count_star().alias("numwait")])
    return df_limit(
        df_sort(agg, [sort_desc(col("numwait")), sort_asc(col("s_name"))]),
        0, 20)


_SQL_WAITING_SUPPLIER = """
SELECT s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""


def q_global_acctbal_anti(spark, sf_dir):
    """TPC-H Q22 shape: uncorrelated scalar subquery (global average) + anti
    join, the scalar decorrelated to a 1-row broadcast cross join.

    Scale: the scalar aggregate reduces customer to one row (map-side
    partials), broadcast to every task — the Spark analogue of a scalar
    subquery; the NOT-EXISTS leg is a shuffled anti join on custkey.  The
    final agg key (2-char code) is tiny → partials collapse everything."""
    t = _t(spark, sf_dir)
    c = t["customer"].withColumn(
        "cntrycode", F.substring(F.col("c_name"), 17, 2))
    codes = ("13", "31", "23", "29", "30", "18", "17")
    c = df_filter(c, F.col("cntrycode").isin(*codes))
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(F.col("c_acctbal").cast(_DEC2)).cast("double")
         / F.count(F.lit(1))).alias("avg_bal"))
    rich = c.crossJoin(F.broadcast(avg_bal)) \
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
    big = df_filter(t["orders"], F.col("o_totalprice") > 450000) \
        .select("o_custkey")
    lonely = df_join(rich, big, "left_anti", ["c_custkey"], ["o_custkey"])
    return df_aggregate(
        lonely, [col("cntrycode")],
        [agg_count_star().alias("numcust"),
         F.sum(F.col("c_acctbal").cast(_DEC2)).cast("double")
         .alias("totacctbal")])


_SQL_GLOBAL_ACCTBAL = f"""
WITH coded AS (
  SELECT c_custkey, c_acctbal, substring(c_name, 17, 2) AS cntrycode
  FROM customer
  WHERE substring(c_name, 17, 2)
        IN ('13', '31', '23', '29', '30', '18', '17')
)
SELECT cntrycode, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS {_SQL_DEC2})) AS DOUBLE) AS totacctbal
FROM coded
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c2.c_acctbal AS {_SQL_DEC2})) AS DOUBLE) / COUNT(*)
    FROM coded c2 WHERE c2.c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
GROUP BY cntrycode
"""


def q_important_stock(spark, sf_dir):
    """TPC-H Q11 shape: HAVING against an uncorrelated scalar aggregate
    (per-part value share of the global total), the scalar decorrelated to
    a 1-row broadcast cross join.

    Scale: both the per-part agg and the global total reduce the same
    filtered fact stream (map-side partials); the total is one broadcast
    row, so the HAVING filter is map-only over the per-part aggregate —
    no second pass over the fact table."""
    t = _t(spark, sf_dir)
    li = df_join(t["lineitem"],
                 df_filter(t["supplier"], F.col("s_nationkey") < 5),
                 "left_semi", ["l_suppkey"], ["s_suppkey"])
    per_part = df_aggregate(
        li, [col("l_partkey")],
        [F.sum(F.col("l_extendedprice").cast(_DEC2)).alias("_v")])
    total = per_part.agg(F.sum("_v").alias("_tot"))
    out = (per_part.crossJoin(F.broadcast(total))
           .filter(F.col("_v").cast("double")
                   > F.lit(0.001) * F.col("_tot").cast("double"))
           .select("l_partkey", F.col("_v").cast("double").alias("value")))
    return df_sort(out, [sort_desc(col("value")), sort_asc(col("l_partkey"))])


_SQL_IMPORTANT_STOCK = f"""
WITH flt AS (
  SELECT l_partkey, l_extendedprice FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_nationkey < 5)
),
pp AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS {_SQL_DEC2})) AS v
  FROM flt GROUP BY l_partkey
)
SELECT l_partkey, CAST(v AS DOUBLE) AS value
FROM pp
WHERE CAST(v AS DOUBLE) > 0.001 * (SELECT CAST(SUM(v) AS DOUBLE) FROM pp)
ORDER BY value DESC, l_partkey ASC
"""


def q_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: the revenue view + scalar MAX — supplier(s) whose
    quarterly revenue equals the maximum, ties kept (the SQL semantics).

    Scale: one shuffle aggregates revenue per supplier; the MAX is a 1-row
    broadcast; the equality filter is map-only.  The exact-decimal revenue
    makes the double equality safe — both sides derive the compared value
    from the same decimal sum."""
    t = _t(spark, sf_dir)
    li = df_filter(
        t["lineitem"],
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp")))
    rev = (F.col("l_extendedprice").cast(_DEC2)
           * (F.lit(1).cast(_DEC2) - F.col("l_discount").cast(_DEC2)))
    per_supp = df_aggregate(li, [col("l_suppkey")],
                            [F.sum(rev).alias("_r")])
    mx = per_supp.agg(F.max("_r").alias("_mx"))
    out = (per_supp.crossJoin(F.broadcast(mx))
           .filter(F.col("_r") == F.col("_mx")))
    out = df_join(out, t["supplier"], "inner",
                  ["l_suppkey"], ["s_suppkey"])
    return out.select("s_suppkey", "s_name",
                      F.col("_r").cast("double").alias("total_revenue")) \
        .orderBy("s_suppkey")


_SQL_TOP_SUPPLIER = f"""
WITH r AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice AS {_SQL_DEC2})
             * (CAST(1 AS {_SQL_DEC2}) - CAST(l_discount AS {_SQL_DEC2})))
           AS rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_revenue
FROM r JOIN supplier ON s_suppkey = l_suppkey
WHERE rev = (SELECT MAX(rev) FROM r)
ORDER BY s_suppkey
"""


def q_dominant_promo_supplier(spark, sf_dir):
    """TPC-H Q20 shape: nested IN with a correlated aggregate inside —
    suppliers shipping > 15% of some PROMO part's total volume.  The inner
    correlated SUM decorrelates to a window total over the correlation key
    (partkey); the outer IN becomes a semi join onto supplier.

    Scale: one shuffle builds (part, supplier) volumes with map-side
    combine; the window total reuses the partkey distribution; the final
    semi join probes the tiny qualifying-supplier set against the part
    dim (AQE-chosen broadcast — part scales with SF, never forced)."""
    t = _t(spark, sf_dir)
    promo = df_filter(t["part"], F.col("p_type") == "PROMO") \
        .select("p_partkey")
    li = df_join(t["lineitem"], promo, "left_semi",
                 ["l_partkey"], ["p_partkey"])
    ps = df_aggregate(li, [col("l_partkey"), col("l_suppkey")],
                      [F.sum(F.col("l_quantity").cast(_DEC)).alias("_q")])
    w = window_spec(partition_by=["l_partkey"])
    qualifying = (ps.withColumn("_pt", F.sum("_q").over(w))
                  .filter(F.col("_q").cast("double")
                          > F.lit(0.15) * F.col("_pt").cast("double"))
                  .select("l_suppkey"))
    out = df_join(t["supplier"], qualifying, "left_semi",
                  ["s_suppkey"], ["l_suppkey"])
    return out.select("s_suppkey", "s_name").orderBy("s_suppkey")


_SQL_DOMINANT_PROMO = f"""
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_type = 'PROMO'
  GROUP BY l_suppkey, l_partkey
  HAVING CAST(SUM(CAST(l_quantity AS {_SQL_DEC})) AS DOUBLE) > 0.15 * (
    SELECT CAST(SUM(CAST(l2.l_quantity AS {_SQL_DEC})) AS DOUBLE)
    FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)
)
ORDER BY s_suppkey
"""


def q_nation_trade_flow(spark, sf_dir):
    """TPC-H Q7 shape: revenue flow between supplier-nation and
    customer-nation pairs by year — a 5-table join tree (lineitem ⋈ orders
    ⋈ customer ⋈ supplier ⋈ nation×2) that Catalyst must order so the fact
    table joins dims by broadcast and the two nation legs stay distinct.

    Scale: lineitem⋈orders is the only big⋈big leg (orderkey shuffle);
    nation is a forced broadcast (25 rows); customer/supplier broadcasts
    are AQE-chosen (both scale with SF — a forced hint would bypass the
    size guard at 100×); the 2-year shipdate filter pushes
    to the fact scan.  Output key (n1, n2, year) is tiny → map-side
    partials collapse the aggregation."""
    t = _t(spark, sf_dir)
    li = df_filter(
        t["lineitem"],
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    j = df_join(li, t["orders"], "inner", ["l_orderkey"], ["o_orderkey"])
    j = df_join(j, t["customer"], "inner",
                ["o_custkey"], ["c_custkey"])
    j = df_join(j, t["supplier"], "inner",
                ["l_suppkey"], ["s_suppkey"])
    n1 = t["nation"].select(F.col("n_nationkey").alias("n1_key"),
                            F.col("n_name").alias("supp_nation"))
    n2 = t["nation"].select(F.col("n_nationkey").alias("n2_key"),
                            F.col("n_name").alias("cust_nation"))
    j = df_join(j, F.broadcast(n1), "inner", ["s_nationkey"], ["n1_key"])
    j = df_join(j, F.broadcast(n2), "inner", ["c_nationkey"], ["n2_key"])
    j = df_filter(j, F.col("supp_nation") != F.col("cust_nation"))
    rev = (F.col("l_extendedprice").cast(_DEC2)
           * (F.lit(1).cast(_DEC2) - F.col("l_discount").cast(_DEC2)))
    return df_aggregate(
        j.withColumn("l_year", F.year("l_shipdate")),
        [col("supp_nation"), col("cust_nation"), col("l_year")],
        [F.sum(rev).cast("double").alias("revenue"),
         agg_count_star().alias("n_lines")],
    ).orderBy("supp_nation", "cust_nation", "l_year")


_SQL_NATION_TRADE = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       CAST(SUM(CAST(l_extendedprice AS {_SQL_DEC2})
            * (CAST(1 AS {_SQL_DEC2}) - CAST(l_discount AS {_SQL_DEC2})))
         AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND n1.n_name <> n2.n_name
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def q_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit by (nation, year) through a 5-table tree with
    a part-name predicate — the join-reordering stress test: the selective
    part filter must reach the fact table first (broadcast semi-reduction)
    before the wider orders join.

    Scale: part(filtered) prunes lineitem early via an AQE-chosen broadcast
    (part scales with SF — not forced); orders joins on orderkey (the one
    fact-sized shuffle); nation is forced-broadcast (25 rows), supplier's
    is AQE-chosen.  Profit = rev − cost proxy (retailprice·qty), exact
    decimals end-to-end."""
    t = _t(spark, sf_dir)
    pf = df_filter(t["part"],
                   F.col("p_name").like("%a%") & (F.col("p_size") <= 25))
    j = df_join(t["lineitem"], pf, "inner", ["l_partkey"], ["p_partkey"])
    j = df_join(j, t["orders"], "inner", ["l_orderkey"], ["o_orderkey"])
    j = df_join(j, t["supplier"], "inner",
                ["l_suppkey"], ["s_suppkey"])
    j = df_join(j, F.broadcast(t["nation"]), "inner",
                ["s_nationkey"], ["n_nationkey"])
    amount = (F.col("l_extendedprice").cast(_DEC2)
              * (F.lit(1).cast(_DEC2) - F.col("l_discount").cast(_DEC2))
              - F.col("p_retailprice").cast(_DEC2)
              * F.col("l_quantity").cast(_DEC2))
    return df_aggregate(
        j.withColumn("o_year", F.year("o_orderdate")),
        [col("n_name"), col("o_year")],
        [F.sum(amount).cast("double").alias("sum_profit"),
         agg_count_star().alias("n_lines")],
    ).orderBy("n_name", "o_year")


_SQL_PRODUCT_PROFIT = f"""
SELECT n_name, year(o_orderdate) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS {_SQL_DEC2})
              * (CAST(1 AS {_SQL_DEC2}) - CAST(l_discount AS {_SQL_DEC2}))
            - CAST(p_retailprice AS {_SQL_DEC2})
              * CAST(l_quantity AS {_SQL_DEC2})) AS DOUBLE) AS sum_profit,
       COUNT(*) AS n_lines
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN orders ON o_orderkey = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE p_name LIKE '%a%' AND p_size <= 25
GROUP BY 1, 2
ORDER BY 1, 2
"""


def q_window_distribution(spark, sf_dir):
    """Distribution window functions (cume_dist + nth_value — the two §2.6
    ctors no other gate exercises), per customer-segment order-price
    distribution.  One shuffle on the segment key; both functions reuse the
    same sort."""
    o = _t(spark, sf_dir)["orders"]
    c = _t(spark, sf_dir)["customer"]
    j = df_join(o, c, "inner", ["o_custkey"], ["c_custkey"])
    from pyspark.sql.window import Window
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
    wf = (Window.partitionBy("c_mktsegment")
          .orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    out = j.select(
        "o_orderkey", "c_mktsegment",
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.nth_value("o_orderkey", 3).over(wf).alias("third_cheapest"))
    return df_filter(out, F.col("cd") <= 0.01)


_SQL_WINDOW_DISTRIBUTION = """
SELECT o_orderkey, c_mktsegment, cd, third_cheapest FROM (
  SELECT o_orderkey, c_mktsegment,
    round(cume_dist() OVER w, 6) AS cd,
    nth_value(o_orderkey, 3) OVER (PARTITION BY c_mktsegment
      ORDER BY o_totalprice ASC, o_orderkey ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      AS third_cheapest
  FROM orders JOIN customer ON c_custkey = o_custkey
  WINDOW w AS (PARTITION BY c_mktsegment
               ORDER BY o_totalprice ASC, o_orderkey ASC)) t
WHERE cd <= 0.01
"""


def q_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: count-of-counts histogram — per-customer order
    counts (left outer join, so zero-order customers count as 0, with a
    join residual excluding one priority class), then the distribution of
    those counts.

    Scale: the first agg shuffles on custkey (high-cardinality key, AQE
    coalesces); the second agg's key is the tiny count domain → map-side
    partials collapse it.  The residual predicate stays in the join
    condition, not a post-filter — null-extended rows must survive."""
    t = _t(spark, sf_dir)
    j = df_join(t["customer"], t["orders"], "left",
                ["c_custkey"], ["o_custkey"],
                filter=~F.col("o_orderpriority").like("5-%"))
    per_cust = df_aggregate(
        j, [col("c_custkey")],
        [F.count(F.col("o_orderkey")).alias("c_count")])
    return df_aggregate(
        per_cust, [col("c_count")],
        [agg_count_star().alias("custdist")],
    ).orderBy(F.col("custdist").desc(), F.col("c_count").desc())


_SQL_CUSTOMER_DISTRIBUTION = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '5-%'
  GROUP BY c_custkey) c
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape (local supplier volume): revenue from orders where
    the customer and the line's supplier sit in the SAME nation, one
    region, one order-date year — the 6-table join tree whose distinctive
    constraint (c_nationkey = s_nationkey) is a residual between two
    different dimension legs, not an equi-key either leg owns alone.

    Scale: region→nation prunes to one region's nations and force-
    broadcasts (bounded); customer and supplier broadcast only via AQE
    (SF-proportional — never forced); orders is date-pruned at the scan
    before its orderkey shuffle against lineitem — the tree's only
    fact-sized exchange.  The same-nation residual applies after both dim
    joins as a cheap int equality on already-joined rows (completes Q1-22:
    every TPC-H query shape now has a gate)."""
    t = _t(spark, sf_dir)
    asia = df_join(t["nation"],
                   df_filter(t["region"], F.col("r_name") == "ASIA"),
                   "inner", ["n_regionkey"], ["r_regionkey"])
    o = df_filter(
        t["orders"],
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    j = df_join(t["lineitem"], o, "inner", ["l_orderkey"], ["o_orderkey"])
    j = df_join(j, t["customer"], "inner",
                ["o_custkey"], ["c_custkey"])
    j = df_join(j, t["supplier"], "inner",
                ["l_suppkey"], ["s_suppkey"])
    j = df_filter(j, F.col("c_nationkey") == F.col("s_nationkey"))
    j = df_join(j, F.broadcast(asia), "inner",
                ["s_nationkey"], ["n_nationkey"])
    rev = (F.col("l_extendedprice").cast(_DEC2)
           * (F.lit(1).cast(_DEC2) - F.col("l_discount").cast(_DEC2)))
    return df_aggregate(
        j, [col("n_name")],
        [F.sum(rev).cast("double").alias("revenue"),
         agg_count_star().alias("n_lines")],
    ).orderBy(F.col("revenue").desc(), F.col("n_name").asc())


_SQL_LOCAL_SUPPLIER_VOLUME = f"""
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice AS {_SQL_DEC2})
           * (CAST(1 AS {_SQL_DEC2}) - CAST(l_discount AS {_SQL_DEC2})))
       AS DOUBLE) AS revenue,
  COUNT(*) AS n_lines
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


def q_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape (forecast revenue change): a pure scan-side
    aggregation — no join, no groupBy key — whose entire value is
    predicate pushdown: all three range filters (shipdate year, discount
    band, quantity cap) must reach the parquet scan as PushedFilters so
    row groups outside the year are never decompressed.

    Scale: the cheapest possible distributed plan — scan with pushed
    filters → map-side partial sums → single-row final merge.  At 100 TB
    this is the query shape where columnar min/max skipping does ~90% of
    the work; anything beyond a one-exchange partial→final agg is a bug."""
    li = _t(spark, sf_dir)["lineitem"]
    f = df_filter(
        li,
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24))
    rev = (F.col("l_extendedprice").cast(_DEC2)
           * F.col("l_discount").cast(_DEC2))
    return df_aggregate(
        f, [],
        [F.sum(rev).cast("double").alias("revenue"),
         agg_count_star().alias("n_lines")])


_SQL_FORECAST_REVENUE = f"""
SELECT
  CAST(SUM(CAST(l_extendedprice AS {_SQL_DEC2})
           * CAST(l_discount AS {_SQL_DEC2})) AS DOUBLE) AS revenue,
  COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def q_market_share(spark, sf_dir):
    """TPC-H Q8 shape (national market share): one nation's share of a
    region's revenue in a part segment, by order year — conditional
    aggregation (sum-of-CASE over sum) across a 7-table tree with TWO
    nation roles: the customer's nation selects the market (region
    filter), the supplier's nation labels the volume for the numerator.

    Scale: part(filtered) semi-reduces lineitem before the orderkey shuffle
    (the one fact-sized exchange) via an AQE-chosen broadcast;
    customer/supplier likewise AQE-only (SF-proportional), nation×2/region
    forced (bounded); the share divides two decimal-exact sums
    per year AFTER the final agg — a 2-row result, so the division cost is
    nil and the ratio is reproducible at any partition count."""
    t = _t(spark, sf_dir)
    pf = df_filter(t["part"], F.col("p_type") == "ECONOMY")
    j = df_join(t["lineitem"], pf, "inner", ["l_partkey"], ["p_partkey"])
    o = df_filter(
        t["orders"],
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    j = df_join(j, o, "inner", ["l_orderkey"], ["o_orderkey"])
    j = df_join(j, t["customer"], "inner",
                ["o_custkey"], ["c_custkey"])
    j = df_join(j, t["supplier"], "inner",
                ["l_suppkey"], ["s_suppkey"])
    # customer leg picks the market region; supplier leg labels the volume
    n_cust = df_join(t["nation"],
                     df_filter(t["region"], F.col("r_name") == "AMERICA"),
                     "inner", ["n_regionkey"], ["r_regionkey"]
                     ).select(F.col("n_nationkey").alias("cn_key"))
    n_supp = t["nation"].select(F.col("n_nationkey").alias("sn_key"),
                                F.col("n_name").alias("supp_nation"))
    j = df_join(j, F.broadcast(n_cust), "inner", ["c_nationkey"], ["cn_key"])
    j = df_join(j, F.broadcast(n_supp), "inner", ["s_nationkey"], ["sn_key"])
    vol = (F.col("l_extendedprice").cast(_DEC2)
           * (F.lit(1).cast(_DEC2) - F.col("l_discount").cast(_DEC2)))
    agg = df_aggregate(
        j.withColumn("o_year", F.year("o_orderdate")),
        [col("o_year")],
        [F.sum(F.when(F.col("supp_nation") == "NATION_6", vol)
               .otherwise(F.lit(0).cast(_DEC2))).alias("_nation_vol"),
         F.sum(vol).alias("_total_vol")])
    return agg.select(
        "o_year",
        F.round(F.col("_nation_vol").cast("double")
                / F.col("_total_vol").cast("double"), 6).alias("mkt_share"),
        F.col("_total_vol").cast("double").alias("total_volume"),
    ).orderBy("o_year")


_SQL_MARKET_SHARE = f"""
SELECT o_year,
  round(CAST(nation_vol AS DOUBLE) / CAST(total_vol AS DOUBLE), 6)
    AS mkt_share,
  CAST(total_vol AS DOUBLE) AS total_volume
FROM (
  SELECT year(o_orderdate) AS o_year,
    SUM(CASE WHEN ns.n_name = 'NATION_6'
        THEN CAST(l_extendedprice AS {_SQL_DEC2})
             * (CAST(1 AS {_SQL_DEC2}) - CAST(l_discount AS {_SQL_DEC2}))
        ELSE CAST(0 AS {_SQL_DEC2}) END) AS nation_vol,
    SUM(CAST(l_extendedprice AS {_SQL_DEC2})
        * (CAST(1 AS {_SQL_DEC2}) - CAST(l_discount AS {_SQL_DEC2})))
      AS total_vol
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation nc ON nc.n_nationkey = c_nationkey
  JOIN region ON r_regionkey = nc.n_regionkey
  JOIN nation ns ON ns.n_nationkey = s_nationkey
  WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1998-01-01'
  GROUP BY 1) t
ORDER BY o_year
"""


def q_late_shipment_modes(spark, sf_dir):
    """TPC-H Q12 shape (shipping modes / late lines): lines shipped AFTER
    a lag past their order date (the cross-column residual that mirrors
    Q12's l_commitdate < l_receiptdate — it cannot push to either scan),
    bucketed by return flag with CASE-conditional priority counts.
    Adapted: the test schema carries no l_shipmode/l_commitdate, so the
    mode dimension is l_returnflag and lateness is l_shipdate vs
    o_orderdate + 60 days.

    Scale: both scans prune on their own pushable ranges first; the
    cross-column predicate evaluates post-join on the orderkey-shuffled
    stream (the only exchange); the 3-value group key collapses map-side."""
    t = _t(spark, sf_dir)
    li = df_filter(
        t["lineitem"],
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    j = df_join(li, t["orders"], "inner", ["l_orderkey"], ["o_orderkey"])
    late = df_filter(
        j, F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return df_aggregate(
        late, [col("l_returnflag")],
        [F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
         F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count")],
    ).orderBy("l_returnflag")


_SQL_LATE_SHIPMENT = """
SELECT l_returnflag,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


RELATIONAL_QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    "pricing_summary": (q_pricing_summary, _SQL_PRICING),
    "filter_project_case": (q_filter_project_case, _SQL_FILTER_PROJECT),
    "revenue_by_nation": (q_revenue_by_nation, _SQL_REVENUE_BY_NATION),
    "semi_join": (q_semi_join, _SQL_SEMI),
    "shipping_priority": (q_shipping_priority, _SQL_SHIPPING_PRIORITY),
    "returned_customers": (q_returned_customers, _SQL_RETURNED_CUSTOMERS),
    "big_orders": (q_big_orders, _SQL_BIG_ORDERS),
    "anti_join": (q_anti_join, _SQL_ANTI),
    "outer_join_agg": (q_outer_join_agg, _SQL_OUTER),
    "theta_join": (q_theta_join, _SQL_THETA),
    "set_ops": (q_set_ops, _SQL_SET_OPS),
    "distinct": (q_distinct, _SQL_DISTINCT),
    "distinct_on": (q_distinct_on, _SQL_DISTINCT_ON),
    "window_funcs": (q_window_funcs, _SQL_WINDOW),
    "topk": (q_topk, _SQL_TOPK),
    "limit_offset": (q_limit_offset, _SQL_LIMIT_OFFSET),
    "sort_nulls": (q_sort_nulls, _SQL_SORT_NULLS),
    "events_time_rollup": (q_events_time_rollup, _SQL_EVENTS_ROLLUP),
    "rollup_agg": (q_rollup_agg, _SQL_ROLLUP),
    "stats_agg": (q_stats_agg, _SQL_STATS_AGG),
    "approx_percentile": (q_approx_percentile, _SQL_APPROX_PERCENTILE),
    "json_extract": (q_json_extract, _SQL_JSON),
    "describe_stats": (q_describe_stats, _SQL_DESCRIBE_STATS),
    "udf_vectorized": (q_udf_vectorized, _SQL_UDF),
    "above_avg_orders": (q_above_avg_orders, _SQL_ABOVE_AVG),
    "sql_entry": (q_sql_entry, _SQL_ENTRY_TEXT),
    "sessionize": (q_sessionize, _SQL_SESSIONIZE),
    "window_ranking": (q_window_ranking, _SQL_WINDOW_RANKING),
    "pivot_events": (q_pivot_events, _SQL_PIVOT),
    "string_funcs": (q_string_funcs, _SQL_STRING_FUNCS),
    "date_funcs": (q_date_funcs, _SQL_DATE_FUNCS),
    "cube_agg": (q_cube_agg, _SQL_CUBE),
    "array_funcs": (q_array_funcs, _SQL_ARRAY_FUNCS),
    "having_filter": (q_having_filter, _SQL_HAVING),
    "nested_agg": (q_nested_agg, _SQL_NESTED_AGG),
    "surface_misc": (q_surface_misc, _SQL_SURFACE_MISC),
    "skew_salted_join": (q_skew_salted_join, _SQL_SKEW_SALTED_JOIN),
    "read_csv_surface": (q_read_csv_surface, _SQL_READ_CSV_SURFACE),
    "unpivot_metrics": (q_unpivot_metrics, _SQL_UNPIVOT),
    "write_partitioned_roundtrip": (q_write_partitioned_roundtrip,
                                    _SQL_WRITE_ROUNDTRIP),
    "read_json_surface": (q_read_json_surface, _SQL_READ_JSON_SURFACE),
    "orc_roundtrip": (q_orc_roundtrip, _SQL_ORC_ROUNDTRIP),
    "higher_order_funcs": (q_higher_order_funcs, _SQL_HIGHER_ORDER),
    "upsert_roundtrip": (q_upsert_roundtrip, _SQL_UPSERT_ROUNDTRIP),
    "upsert_partitioned": (q_upsert_partitioned, _SQL_UPSERT_ROUNDTRIP),
    "rolling_time_features": (q_rolling_time_features, _SQL_ROLLING_TIME),
    "zscore_normalize": (q_zscore_normalize, _SQL_ZSCORE),
    "order_priority_exists": (q_order_priority_exists,
                              _SQL_ORDER_PRIORITY_EXISTS),
    "promo_revenue": (q_promo_revenue, _SQL_PROMO_REVENUE),
    "disjunctive_pushdown": (q_disjunctive_pushdown, _SQL_DISJUNCTIVE),
    "min_cost_supplier": (q_min_cost_supplier, _SQL_MIN_COST_SUPPLIER),
    "supplier_relation_counts": (q_supplier_relation_counts,
                                 _SQL_SUPPLIER_RELATION),
    "small_qty_revenue": (q_small_qty_revenue, _SQL_SMALL_QTY),
    "waiting_supplier": (q_waiting_supplier, _SQL_WAITING_SUPPLIER),
    "global_acctbal_anti": (q_global_acctbal_anti, _SQL_GLOBAL_ACCTBAL),
    "important_stock": (q_important_stock, _SQL_IMPORTANT_STOCK),
    "top_supplier": (q_top_supplier, _SQL_TOP_SUPPLIER),
    "dominant_promo_supplier": (q_dominant_promo_supplier,
                                _SQL_DOMINANT_PROMO),
    "nation_trade_flow": (q_nation_trade_flow, _SQL_NATION_TRADE),
    "product_profit": (q_product_profit, _SQL_PRODUCT_PROFIT),
    "window_distribution": (q_window_distribution,
                            _SQL_WINDOW_DISTRIBUTION),
    "customer_distribution": (q_customer_distribution,
                              _SQL_CUSTOMER_DISTRIBUTION),
    "local_supplier_volume": (q_local_supplier_volume,
                              _SQL_LOCAL_SUPPLIER_VOLUME),
    "forecast_revenue": (q_forecast_revenue, _SQL_FORECAST_REVENUE),
    "market_share": (q_market_share, _SQL_MARKET_SHARE),
    "late_shipment_modes": (q_late_shipment_modes, _SQL_LATE_SHIPMENT),
}


def _last_verified_round(root: str | None = None) -> dict[str, float]:
    """name → newest round whose committed CORRECTNESS_r*.json has a clean
    row (err is null and rows matched) for that query.  Rounds whose best
    row was rows-only (no oracle hash) count as ``round - 0.5`` so a gate
    whose strongest driver evidence is weaker than its peers' sorts AHEAD
    of same-round hash-green gates in the recheck rotation.

    The correctness driver caps its artifact at 50 entries *in registry
    order*, while the registry has grown past 50 — so a fixed order would
    leave the same tail queries permanently unverified (this bit round 3:
    eight gates kept only their round-2 oracle rows while their code kept
    changing).  Reading the committed artifacts lets ``all_queries`` put the
    least-recently-verified gates first, which rotates oracle coverage
    automatically every round with no manual reordering."""
    import glob
    import json
    import re

    if root is None:
        root = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    newest: dict[str, float] = {}
    for path in glob.glob(_os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            # verified = fully clean: a row with rows_match but a failed
            # value hash must NOT rotate to the back (it needs re-checking
            # most of all).  hash_match absent (rows-only gates) counts as
            # clean — the rows-only check is all the driver can do there.
            if not isinstance(row, dict):
                continue
            clean = (row.get("err") is None
                     and row.get("rows_match")
                     and row.get("hash_match", True) is not False)
            # Rows-only gates (no oracle_sql entry) are recorded by the
            # driver as err='no_oracle' with rows_match null; the rows-only
            # drive is the strongest check the driver can do there, so a
            # successful drive counts as verified — otherwise such gates pin
            # themselves at the front of the rotation forever, each eating a
            # 50-cap slot every round.
            rows_only_ok = (row.get("err") == "no_oracle"
                            and row.get("spark_rows") is not None)
            if clean:
                newest[name] = max(newest.get(name, 0), rnd)
            elif rows_only_ok:
                newest[name] = max(newest.get(name, 0), rnd - 0.5)
    return newest


def all_queries() -> dict[str, tuple[QueryFn, str | None]]:
    """Full registry: relational core + pipeline operators (when present).

    Ordered least-recently-oracle-verified first (stable within a round) so
    the driver's 50-entry correctness cap re-checks the gates whose last
    oracle row is oldest — see ``_last_verified_round``."""
    out = dict(RELATIONAL_QUERIES)
    try:
        from .pipeline.queries import PIPELINE_QUERIES
        out.update(PIPELINE_QUERIES)
    except ImportError:
        pass
    verified = _last_verified_round()
    ordered = sorted(out, key=lambda n: verified.get(n, -1))
    return {n: out[n] for n in ordered}
