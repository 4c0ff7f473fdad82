"""Relational corpus, part 2 (SURVEY §2.3/§2.4/§2.6 extensions):
TPC-H classics (Q3 shipping priority, a Q4-shape EXISTS aggregate),
the full analytic window-function family, explicit GROUPING SETS,
and a correlated scalar subquery in its decorrelated Spark form.

Same float-hash discipline as corpus/tpch.py: money aggregates are
integer cent-scale sums; comparisons that gate ROW MEMBERSHIP (the
correlated-subquery filter) are done in exact integer arithmetic so
a 1e-12 float divergence can never flip a row in or out of the
result set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from auto_trade_data_pipeline_spark.corpus import register
from auto_trade_data_pipeline_spark.corpus.tpch import _REVENUE_CENTS, _cents
from auto_trade_data_pipeline_spark.sources import load_table

# ---------------------------------------------------------------------------
# TPC-H Q3: shipping priority
# ---------------------------------------------------------------------------

_Q3_CUTOFF = "1997-03-15"

_Q3_ORACLE = f"""
SELECT l.l_orderkey,
       CAST(sum({_REVENUE_CENTS}) AS BIGINT) / 10000.0 AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '{_Q3_CUTOFF}'
  AND l.l_shipdate > TIMESTAMP '{_Q3_CUTOFF}'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
"""


@register("tpch_q3_shipping_priority", _Q3_ORACLE, tags=("J4", "O2", "bench"))
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: unshipped high-value BUILDING orders. The 100 TB plan:
    customer is filtered THEN broadcast (segment filter first — 1/5 of
    a dimension), orders filtered by date before the fact join, the
    lineitem date filter pushed to the scan; one shuffle agg keyed by
    orderkey, then TakeOrderedAndProject for the top 10 (revenue is
    integer-cent exact, orderkey tiebreak -> deterministic set)."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit(_Q3_CUTOFF))
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit(_Q3_CUTOFF))
    rev = _cents(F.col("l_extendedprice")) * _cents(F.lit(100) - F.col("l_discount") * 100, 1)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(rev) / 10000.0).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H Q4 shape: EXISTS-gated priority counts (late shipments)
# ---------------------------------------------------------------------------

_Q4_ORACLE = """
SELECT o.o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY o.o_orderpriority
"""


@register("tpch_q4_order_priority", _Q4_ORACLE, tags=("J1", "A4"))
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per-priority counts of 1996 orders with at
    least one lineitem shipped >30 days after order date (the spec's
    1994 window falls outside this testdata's 1995-2001 span). The
    EXISTS
    becomes a LEFT SEMI join whose non-equi half rides along as a join
    condition — the probe side ships (orderkey, shipdate) only, and
    semi-join short-circuits on first match. (The testdata carries no
    commit/receipt dates; the late-shipment predicate keeps Q4's
    correlated-EXISTS-with-inequality shape.)"""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (o.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# Analytic window-function family
# ---------------------------------------------------------------------------

_WINDOW_FAMILY_ORACLE = """
SELECT o_orderkey, o_custkey,
       row_number() OVER w AS rn,
       round(coalesce(lag(o_totalprice) OVER w, 0.0), 2) AS prev_price,
       round(coalesce(lead(o_totalprice) OVER w, 0.0), 2) AS next_price,
       ntile(4) OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER
            (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0
         AS running_spent
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@register("window_function_family", _WINDOW_FAMILY_ORACLE, tags=("W-rank", "A7", "bench"))
def window_function_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full analytic window family over one partitioning —
    row_number / lag / lead / ntile / percent_rank / cume_dist / a
    running integer-cent sum — per customer, ordered by (orderdate,
    orderkey) so every function is deterministic. One exchange on
    o_custkey serves all eight functions: Spark collapses same-spec
    window functions into a single Window operator (no repeated
    shuffles)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).alias("rn"),
        F.round(F.coalesce(F.lag("o_totalprice").over(w), F.lit(0.0)), 2).alias("prev_price"),
        F.round(F.coalesce(F.lead("o_totalprice").over(w), F.lit(0.0)), 2).alias("next_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        (F.sum(_cents(F.col("o_totalprice"))).over(run) / 100.0).alias("running_spent"),
    )


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS with grouping markers
# ---------------------------------------------------------------------------

_GROUPING_SETS_ORACLE = f"""
SELECT coalesce(l_returnflag, 'ALL') AS return_flag,
       coalesce(l_linestatus, 'ALL') AS line_status,
       CAST(grouping(l_returnflag) AS INT) AS g_flag,
       CAST(grouping(l_linestatus) AS INT) AS g_status,
       count(*) AS line_count,
       CAST(sum({_REVENUE_CENTS}) AS BIGINT) / 10000.0 AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@register("grouping_sets_revenue", _GROUPING_SETS_ORACLE, tags=("A-cube",))
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form ROLLUP/CUBE sugar over
    — with per-column grouping() markers distinguishing a real NULL
    group from a subtotal row. Spark expands the sets map-side into
    one shuffle, identical to rollup; the markers are bit flags, cast
    to int on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = _cents(F.col("l_extendedprice")) * _cents(F.lit(100) - F.col("l_discount") * 100, 1)
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count(F.lit(1)).alias("line_count"),
            (F.sum(rev) / 10000.0).alias("revenue"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("return_flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("line_status"),
            "g_flag",
            "g_status",
            "line_count",
            "revenue",
        )
    )


# ---------------------------------------------------------------------------
# Correlated scalar subquery (decorrelated): parts above brand average
# ---------------------------------------------------------------------------

_ABOVE_BRAND_AVG_ORACLE = """
WITH b AS (
  SELECT p_brand,
         CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
         count(*) AS n
  FROM part GROUP BY p_brand
)
SELECT p.p_partkey, p.p_brand,
       round(p.p_retailprice, 2) AS retail_price,
       round(b.sum_cents / (100.0 * b.n), 4) AS brand_avg
FROM part p JOIN b USING (p_brand)
WHERE CAST(round(p.p_retailprice * 100) AS BIGINT) * b.n > b.sum_cents
"""


@register("scalar_subquery_above_avg", _ABOVE_BRAND_AVG_ORACLE, tags=("J4", "A4"))
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — parts priced above their brand's
    average — in the decorrelated form Catalyst itself rewrites to:
    aggregate per brand, join back, filter. The membership test is
    exact integer arithmetic (price_cents * n > sum_cents), so no
    float rounding can flip a row across engines; the displayed
    average is rounded presentation only. The brand aggregate is
    dimension-sized -> broadcast back to the scan."""
    p = load_table(spark, sf_dir, "part")
    b = p.groupBy("p_brand").agg(
        F.sum(_cents(F.col("p_retailprice"))).alias("sum_cents"),
        F.count(F.lit(1)).alias("n"),
    )
    joined = p.join(F.broadcast(b), "p_brand")
    return (
        joined.filter(_cents(F.col("p_retailprice")) * F.col("n") > F.col("sum_cents"))
        .select(
            "p_partkey",
            "p_brand",
            F.round("p_retailprice", 2).alias("retail_price"),
            F.round(F.col("sum_cents") / (100.0 * F.col("n")), 4).alias("brand_avg"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q5: local-supplier volume (the 6-table join-ordering showcase)
# ---------------------------------------------------------------------------

_Q5_ORACLE = f"""
SELECT n.n_name AS nation,
       CAST(sum({_REVENUE_CENTS}) AS BIGINT) / 10000.0 AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, nation
"""


@register("tpch_q5_local_supplier_volume", _Q5_ORACLE, tags=("J4", "A4", "bench"))
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue by nation where supplier and customer share
    the nation, one region, one order year. The 100 TB plan shape:
    region -> nation is folded FIRST (5 rows) and broadcast; supplier
    and customer join that broadcast (each loses ~4/5 of its rows
    before touching a fact); orders is date-filtered at the scan; the
    only big shuffles are lineitem|><|orders on orderkey and the
    (suppkey, custkey-nation) equality, and the final agg key is
    5 nations wide — map-side combine collapses it. Catalyst + AQE
    pick broadcast sides from runtime sizes; the code states intent
    with explicit broadcast() on the dimension chain."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = (
        load_table(spark, sf_dir, "nation")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev = _cents(F.col("l_extendedprice")) * _cents(F.lit(100) - F.col("l_discount") * 100, 1)
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg((F.sum(rev) / 10000.0).alias("revenue"))
        .select(F.col("n_name").alias("nation"), "revenue")
        .orderBy(F.col("revenue").desc(), "nation")
    )


# ---------------------------------------------------------------------------
# TPC-H Q6: forecast revenue change (pure scan-pushdown aggregate)
# ---------------------------------------------------------------------------

_Q6_ORACLE = """
SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
               * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) / 10000.0
         AS revenue_delta,
       count(*) AS line_count
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("tpch_q6_forecast_revenue", _Q6_ORACLE, tags=("A4", "F-math"))
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: a single filtered global aggregate — the purest
    pushdown test in the suite. All four predicates (two date bounds,
    a discount band, a quantity cap) are scan-level PushedFilters, the
    projection is 4 columns of ~16, and the aggregate reduces to ONE
    row via partial aggregation — at 100 TB this query's shuffle is
    (num_tasks x 1) rows. The revenue product is exact integer
    cents x cent-discount (no float drift)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    delta = _cents(F.col("l_extendedprice")) * _cents(F.col("l_discount"))
    return li.agg(
        (F.sum(delta) / 10000.0).alias("revenue_delta"),
        F.count(F.lit(1)).alias("line_count"),
    )


# ---------------------------------------------------------------------------
# Global row_number without a single-partition window
# ---------------------------------------------------------------------------

_GLOBAL_RANK_ORACLE = """
SELECT o_orderkey,
       row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS row_num
FROM orders
"""


@register("global_rank_orders", _GLOBAL_RANK_ORACLE, tags=("O1", "W-rank", "bench"))
def global_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global rank of every order by (orderdate, orderkey)
    — computed WITHOUT `Window.orderBy` sans partition (which plans
    Exchange SinglePartition: one task owns all 100 TB). The
    distributed recipe (operators/ranking.py): range-partition +
    in-partition sort, per-partition counts to the driver (partition
    metadata, a few longs), broadcast prefix offsets, Arrow-batched
    in-partition index. Plan-asserted single-partition-free."""
    from auto_trade_data_pipeline_spark.operators.ranking import global_row_number

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return global_row_number(o, ["o_orderdate", "o_orderkey"]).select("o_orderkey", "row_num")


# ---------------------------------------------------------------------------
# TPC-H Q10: returned-item revenue (who sent things back)
# ---------------------------------------------------------------------------

_Q10_ORACLE = f"""
SELECT c.c_custkey, c.c_name, n.n_name AS nation,
       CAST(sum({_REVENUE_CENTS}) AS BIGINT) / 10000.0 AS revenue,
       round(c.c_acctbal, 2) AS acctbal
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-07-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
"""


@register("tpch_q10_returned_items", _Q10_ORACLE, tags=("J4", "O2"))
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by revenue of RETURNED items in a
    half-year window. Plan shape: the returnflag filter prunes
    lineitem at the scan, the order-date filter prunes orders; the
    customer join is the only fact-x-fact shuffle; nation broadcasts;
    the top-20 is TakeOrderedAndProject (integer-cent revenue +
    custkey tiebreak -> deterministic)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-07-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = _cents(F.col("l_extendedprice")) * _cents(F.lit(100) - F.col("l_discount") * 100, 1)
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg((F.sum(rev) / 10000.0).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            "revenue",
            F.round("c_acctbal", 2).alias("acctbal"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 shape: service-level conditional counts (late shipments
# by return class — the testdata has no l_shipmode column, so the
# return flag plays the grouping axis; the conditional-agg-over-join
# shape is Q12's)
# ---------------------------------------------------------------------------

_Q12_ORACLE = """
SELECT l.l_returnflag,
       -- sum(int) is HUGEINT in DuckDB -> float64 under a pandas
       -- fetch; cast so the driver renders int like Spark does.
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
         AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
         AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY l.l_returnflag
"""


@register("tpch_q12_late_priority_counts", _Q12_ORACLE, tags=("J4", "A4"))
def tpch_q12_late_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per return class, how many LATE lineitems
    (shipped >60 days after order) belong to high- vs low-priority
    orders — the conditional-aggregation-over-join pattern. The
    lateness predicate is a non-equi join condition evaluated at the
    join, the priority CASE folds map-side into two partial sums per
    group; the shuffle carries 3 groups x 2 longs."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_returnflag"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q14: promotion revenue share (conditional ratio aggregate)
# ---------------------------------------------------------------------------

_Q14_ORACLE = f"""
SELECT round(
         100.0 * sum(CASE WHEN p.p_type LIKE 'PROMO%' THEN {_REVENUE_CENTS} ELSE 0 END)
         / (1.0 * sum({_REVENUE_CENTS})), 6) AS promo_revenue_pct,
       count(*) AS line_count
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-03-01'
  AND l.l_shipdate <  TIMESTAMP '1997-04-01'
"""


@register("tpch_q14_promo_revenue", _Q14_ORACLE, tags=("J4", "F-math"))
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: share of one month's revenue from PROMO parts — a
    global conditional-ratio aggregate over a fact |><| broadcast-dim
    join (part is dimension-sized). Both numerator and denominator
    are exact integer-cent sums; the division happens once, on the
    final single row."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _cents(F.col("l_extendedprice")) * _cents(F.lit(100) - F.col("l_discount") * 100, 1)
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0).cast("long"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0 * F.sum(promo) / (1.0 * F.sum(rev)), 6
            ).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


# ---------------------------------------------------------------------------
# ANALYZE-style table profile (one-pass per-column statistics)
# ---------------------------------------------------------------------------

_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       count(*) AS n_rows,
       count(*) - count({c}) AS n_nulls,
       count(DISTINCT CAST({c} AS VARCHAR)) AS n_distinct,
       min(CAST({c} AS VARCHAR)) AS min_value,
       max(CAST({c} AS VARCHAR)) AS max_value
FROM orders"""
    for c in _PROFILE_COLS
)


@register("table_profile_orders", _PROFILE_ORACLE, tags=("A5", "A9"))
def table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE `orders`: per-column rows/nulls/exact-distinct/lexical
    min-max in one pass (operators/profile.py) — stack-unpivot then a
    single shuffle keyed by column name. The exact distinct shuffles
    the (stringified) values — the honest cost of an exact answer."""
    from auto_trade_data_pipeline_spark.operators.profile import table_profile

    return table_profile(load_table(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# Full outer join: daily order/shipment reconciliation
# ---------------------------------------------------------------------------

_FULL_OUTER_ORACLE = """
WITH od AS (
  SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n_orders
  FROM orders GROUP BY 1
),
sd AS (
  SELECT CAST(l_shipdate AS DATE) AS d, count(*) AS n_shipments
  FROM lineitem GROUP BY 1
)
SELECT strftime(coalesce(od.d, sd.d), '%Y-%m-%d') AS day,
       coalesce(od.n_orders, 0) AS n_orders,
       coalesce(sd.n_shipments, 0) AS n_shipments,
       CASE WHEN od.d IS NULL THEN 'ship_only'
            WHEN sd.d IS NULL THEN 'order_only'
            ELSE 'both' END AS presence
FROM od FULL OUTER JOIN sd ON od.d = sd.d
"""


@register("full_outer_daily_reconciliation", _FULL_OUTER_ORACLE, tags=("J4",))
def full_outer_daily_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join (the one join type the rest of the corpus does
    not exercise): per-day order placements reconciled against per-day
    line shipments, keeping days present on either side with a
    presence marker. Both sides are PRE-AGGREGATED to one row per day
    before the join, so the full-outer shuffle carries |days| rows,
    not |facts| — the at-scale shape for reconciliation reports."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    od = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    sd = li.groupBy(F.to_date("l_shipdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n_shipments")
    )
    j = od.join(sd, od.d == sd.d, "full_outer")
    return j.select(
        F.date_format(F.coalesce(od.d, sd.d), "yyyy-MM-dd").alias("day"),
        F.coalesce("n_orders", F.lit(0).cast("long")).alias("n_orders"),
        F.coalesce("n_shipments", F.lit(0).cast("long")).alias("n_shipments"),
        F.when(od.d.isNull(), "ship_only")
        .when(sd.d.isNull(), "order_only")
        .otherwise("both")
        .alias("presence"),
    )


# ---------------------------------------------------------------------------
# Statistical aggregates: correlation / covariance per group
# ---------------------------------------------------------------------------

_CORR_ORACLE = """
WITH ticks AS (
  SELECT event_type AS symbol,
         value AS price,
         CASE WHEN event_id % 10 = 0 THEN 0.0 ELSE round(abs(value) * 100, 0) END AS volume
  FROM events
)
SELECT symbol,
       count(*) AS n,
       round(corr(price, volume), 4) AS price_volume_corr,
       round(covar_samp(price, volume), 4) AS price_volume_covar,
       round(stddev_samp(price), 4) AS price_stddev,
       round(stddev_samp(volume), 4) AS volume_stddev
FROM ticks
GROUP BY symbol
"""


@register("symbol_corr_stats", _CORR_ORACLE, tags=("A4", "F-math"))
def symbol_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistical aggregates per symbol — corr,
    sample covariance, sample stddev — the quant-analytics staple the
    rest of the corpus doesn't touch. All are single-pass co-moment
    aggregations (partial states merge associatively map-side, one
    shuffle of 5 doubles per symbol); 4-decimal rounding on both
    engines absorbs summation-order noise since no comparison gates
    row membership."""
    from auto_trade_data_pipeline_spark.sources import ticks_from_events

    t = ticks_from_events(spark, sf_dir)
    return t.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.corr("price", "volume"), 4).alias("price_volume_corr"),
        F.round(F.covar_samp("price", "volume"), 4).alias("price_volume_covar"),
        F.round(F.stddev_samp("price"), 4).alias("price_stddev"),
        F.round(F.stddev_samp("volume"), 4).alias("volume_stddev"),
    )


# ---------------------------------------------------------------------------
# Histogram binning against broadcast global bounds
# ---------------------------------------------------------------------------

_HISTOGRAM_ORACLE = """
WITH ticks AS (
  SELECT event_type AS symbol, value AS price FROM events
),
bounds AS (
  SELECT min(price) AS lo, max(price) AS hi FROM ticks
),
binned AS (
  -- degenerate-range guard (all prices equal): span 1.0 puts every
  -- row in bin 0 on both engines instead of NULL-division drift
  SELECT t.symbol,
         CAST(least(floor((t.price - b.lo) /
                          (CASE WHEN b.hi > b.lo THEN b.hi - b.lo ELSE 1.0 END) * 20),
                    19) AS BIGINT) AS bin
  FROM ticks t, bounds b
)
SELECT symbol, bin, count(*) AS n
FROM binned
GROUP BY symbol, bin
"""


@register("price_histogram", _HISTOGRAM_ORACLE, tags=("A4", "F-math"))
def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram of prices per symbol: global min/max flow
    in as a ONE-ROW broadcast (never a driver collect), bin indices
    are floor math over identical IEEE expressions on both engines
    (the top edge folds into the last bin), counts are exact. The
    two-pass shape — tiny bounds aggregate, then a fact-scan bin-count
    — is the standard distributed histogram at any scale."""
    from auto_trade_data_pipeline_spark.sources import ticks_from_events

    t = ticks_from_events(spark, sf_dir).select("symbol", "price")
    bounds = t.agg(F.min("price").alias("lo"), F.max("price").alias("hi"))
    span = F.when(F.col("hi") > F.col("lo"), F.col("hi") - F.col("lo")).otherwise(
        F.lit(1.0)
    )
    bin_col = F.least(
        F.floor((F.col("price") - F.col("lo")) / span * 20),
        F.lit(19),
    ).cast("long")
    return (
        t.join(F.broadcast(bounds))
        .select("symbol", bin_col.alias("bin"))
        .groupBy("symbol", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Rolling co-moment window: rolling correlation (the rolling-beta shape)
# ---------------------------------------------------------------------------

_ROLLING_CORR_ORACLE = """
WITH ticks AS (
  SELECT event_type AS symbol,
         CAST(ts AS TIMESTAMP) AS timestamp,
         CAST(round(value * 1000) AS BIGINT) AS x,
         CAST(round(CASE WHEN event_id % 10 = 0 THEN 0.0
                         ELSE round(abs(value) * 100, 0) END) AS BIGINT) AS y,
         event_id AS tick_id
  FROM events
),
s AS (
  -- sum(BIGINT) OVER is HUGEINT in DuckDB; cast back to BIGINT so a
  -- pandas-based driver fetch renders ints like Spark ("3" not "3.0").
  SELECT symbol, tick_id,
         count(*) OVER w AS n,
         CAST(sum(x) OVER w AS BIGINT) AS sx, CAST(sum(y) OVER w AS BIGINT) AS sy,
         CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
         CAST(sum(x * x) OVER w AS BIGINT) AS sxx, CAST(sum(y * y) OVER w AS BIGINT) AS syy
  FROM ticks
  WINDOW w AS (PARTITION BY symbol ORDER BY timestamp, tick_id
               ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
)
SELECT symbol, tick_id, n,
       n * sxy - sx * sy AS corr_num,
       n * sxx - sx * sx AS var_x,
       n * syy - sy * sy AS var_y
FROM s
"""


@register("rolling_corr_window", _ROLLING_CORR_ORACLE, tags=("W6", "F-math"))
def rolling_corr_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 100-bar co-moments per symbol — the rolling-beta /
    pairs-trading shape — as EXACT integer window sums (price
    quantized to millis, volume integral): corr_num = n*Sxy - Sx*Sy
    and the two variance terms, from which corr =
    corr_num / sqrt(var_x * var_y) and covar = corr_num / (n*(n-1))
    are one display expression away. The engine emits the exact
    integer terms rather than the float ratio because cross-engine
    float parity breaks at rounding cliffs (compilers fuse
    multiply-adds; the JVM does not) — integers make the driver's
    hash comparison exact by construction and the result
    partition-order-independent. One exchange + one sort per symbol
    serves all six frame sums; bounded ROWS frame -> O(frame) state;
    the blocked evaluator (operators/blocked.py) is the drop-in for
    symbol-skewed data."""
    from auto_trade_data_pipeline_spark.sources import ticks_from_events

    t = ticks_from_events(spark, sf_dir).select(
        "symbol",
        "timestamp",
        "tick_id",
        F.round(F.col("price") * 1000, 0).cast("long").alias("x"),
        F.round("volume", 0).cast("long").alias("y"),
    )
    w = (
        Window.partitionBy("symbol")
        .orderBy("timestamp", "tick_id")
        .rowsBetween(-99, Window.currentRow)
    )
    sums = t.select(
        "symbol",
        "tick_id",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    )
    return sums.select(
        "symbol",
        "tick_id",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("corr_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("var_x"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("var_y"),
    )


# ---------------------------------------------------------------------------
# Table diff / migration verification
# ---------------------------------------------------------------------------

_TABLE_DIFF_ORACLE = """
WITH a AS (
  SELECT o_orderkey AS k,
         CAST('0x' || substr(md5(
           o_orderkey || '|' || o_custkey || '|' || o_orderstatus || '|'
           || CAST(round(o_totalprice * 100) AS BIGINT) || '|'
           || strftime(o_orderdate, '%Y-%m-%d') || '|' || o_orderpriority
         ), 1, 15) AS BIGINT) AS h
  FROM orders
),
b AS (
  SELECT o_orderkey AS k,
         CAST('0x' || substr(md5(
           o_orderkey || '|' || o_custkey || '|' || o_orderstatus || '|'
           || CAST(round(o_totalprice * 100) + CASE WHEN o_orderkey % 997 = 0 THEN 1 ELSE 0 END AS BIGINT) || '|'
           || strftime(o_orderdate, '%Y-%m-%d') || '|' || o_orderpriority
         ), 1, 15) AS BIGINT) AS h
  FROM orders WHERE o_orderkey % 499 <> 0
)
SELECT CASE WHEN b.k IS NULL THEN 'missing_in_b'
            WHEN a.k IS NULL THEN 'extra_in_b'
            ELSE 'changed' END AS diff_type,
       coalesce(a.k, b.k) AS o_orderkey
FROM a FULL OUTER JOIN b ON a.k = b.k
WHERE a.k IS NULL OR b.k IS NULL OR a.h <> b.h
"""


@register("table_diff_orders", _TABLE_DIFF_ORACLE, tags=("J4", "A9"))
def table_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table diff — the migration-verification op: full-row md5
    digests keyed by primary key, full-outer joined, emitting exactly
    the rows that are missing, extra, or changed. Exercised here
    against a deterministically mutated copy of `orders` (every
    499th key dropped, every 997th price bumped a cent) so the
    expected diff is known. Floats enter the digest as integer cents
    and dates as formatted strings — the digest is engine-portable.

    At 100 TB: both sides hash in one scan each, the join shuffles
    16-byte (key, digest) rows, and the output is |diff|-sized. The
    same digest column aggregated per key-bucket (bit_xor) gives a
    bucket-level pre-check that prunes identical ranges before the
    row-level join."""
    o = load_table(spark, sf_dir, "orders")

    def digest(price_cents):
        s = F.concat_ws(
            "|",
            F.col("o_orderkey"),
            F.col("o_custkey"),
            F.col("o_orderstatus"),
            price_cents,
            F.date_format("o_orderdate", "yyyy-MM-dd"),
            F.col("o_orderpriority"),
        )
        return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")

    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    a = o.select(F.col("o_orderkey").alias("k"), digest(cents).alias("h"))
    mutated = cents + F.when(F.col("o_orderkey") % 997 == 0, 1).otherwise(0)
    b = o.filter(F.col("o_orderkey") % 499 != 0).select(
        F.col("o_orderkey").alias("k"), digest(mutated).alias("h")
    )
    j = a.alias("a").join(b.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer")
    return j.filter(
        F.col("a.k").isNull() | F.col("b.k").isNull() | (F.col("a.h") != F.col("b.h"))
    ).select(
        F.when(F.col("b.k").isNull(), "missing_in_b")
        .when(F.col("a.k").isNull(), "extra_in_b")
        .otherwise("changed")
        .alias("diff_type"),
        F.coalesce(F.col("a.k"), F.col("b.k")).alias("o_orderkey"),
    )


# ---------------------------------------------------------------------------
# Fuzzy record linkage (blocked Levenshtein entity resolution)
# ---------------------------------------------------------------------------

_FUZZY_ORACLE = """
WITH b AS (
  SELECT c_nationkey AS blk, c_custkey, c_name, c_mktsegment FROM customer
)
SELECT x.c_custkey AS id_a, y.c_custkey AS id_b,
       CAST(levenshtein(x.c_name, y.c_name) AS INTEGER) AS dist,
       CAST(CASE WHEN x.c_mktsegment = y.c_mktsegment THEN 1 ELSE 0 END AS INTEGER)
         AS same_segment
FROM b x JOIN b y ON x.blk = y.blk AND x.c_custkey < y.c_custkey
WHERE levenshtein(x.c_name, y.c_name) <= 2
"""


@register("fuzzy_match_customers", _FUZZY_ORACLE, tags=("J6", "EXT1"))
def fuzzy_match_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage (MDM-style entity resolution on
    STRUCTURED records — the sibling of the document near-dup family):
    candidate pairs come from an equi-join on a blocking key (nation),
    then an exact edit-distance verify (`levenshtein <= 2`, identical
    semantics in Spark and DuckDB) keeps probable same-entity pairs,
    annotated with a corroborating-attribute agreement flag. The
    block join is an equi shuffle — never an all-pairs product; at
    skewed block sizes the standard mitigations are finer compound
    blocking keys (multi-pass) or the pair-work cap pattern of
    `operators/skew.py:split_oversized_blocks` (with the documented
    loss of cross-sub-block pairs per pass)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("blk"), "c_custkey", "c_name", "c_mktsegment"
    )
    a = c.select(
        "blk",
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("name_a"),
        F.col("c_mktsegment").alias("seg_a"),
    )
    b = c.select(
        "blk",
        F.col("c_custkey").alias("id_b"),
        F.col("c_name").alias("name_b"),
        F.col("c_mktsegment").alias("seg_b"),
    )
    pairs = a.join(b, "blk").filter(F.col("id_a") < F.col("id_b"))
    # Bounded edit distance (round 10): levenshtein's 3-arg threshold
    # form runs the banded O(len x k) DP with early exit and returns
    # -1 past the bound — every block pair pays ~len x 5 cells instead
    # of len^2 (measured 9.7 -> ~3 s at sf0.1). For surviving pairs
    # the banded value equals the exact distance, so results are
    # unchanged (the oracle keeps the plain 2-arg form).
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"), 2)
    return pairs.filter(dist >= 0).select(
        "id_a",
        "id_b",
        dist.cast("int").alias("dist"),
        F.when(F.col("seg_a") == F.col("seg_b"), 1).otherwise(0).cast("int").alias("same_segment"),
    )


# ---------------------------------------------------------------------------
# Bucketed co-located join (shuffle-free storage layout)
# ---------------------------------------------------------------------------

_BUCKETED_JOIN_ORACLE = """
SELECT c.c_custkey,
       c.c_mktsegment,
       CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey, c.c_mktsegment
"""


@register("bucketed_colocated_join", _BUCKETED_JOIN_ORACLE, tags=("J4", "S5"))
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-order revenue computed THROUGH a bucketed storage
    layout: both sides are first written as tables bucketed (8
    buckets) and sorted on the join key, then read back and joined —
    the co-located join every warehouse uses to make its hottest
    fact-dim join shuffle-free. With matching bucket counts Spark's
    scan exposes the hash-partitioning, so the SortMergeJoin needs NO
    Exchange on either side (pinned by `tests/test_plans.py`; at
    100 TB this converts the nightly re-shuffle of the biggest join
    into a one-time layout cost paid at write). Values are oracled
    against the plain parquet join — layout must never change
    results. Unique table names per invocation; data lands under the
    session's warehouse dir."""
    import uuid

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    run = uuid.uuid4().hex[:8]
    tc, to = f"bkt_customer_{run}", f"bkt_orders_{run}"
    (
        cust.write.bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(tc)
    )
    (
        orders.write.bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(to)
    )
    c = spark.table(tc)
    o = spark.table(to)
    joined = c.join(o, c["c_custkey"] == o["o_custkey"])
    return joined.groupBy("c_custkey", "c_mktsegment").agg(
        F.count("o_orderkey").alias("n_orders"),
        F.sum(_cents(F.col("o_totalprice"))).alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# CDC changelog apply (MERGE with delete tombstones)
# ---------------------------------------------------------------------------

_CDC_ORACLE = """
WITH ch AS (
  SELECT o_orderkey, v,
         CASE WHEN v = 2 AND o_orderkey % 15 = 0 THEN 'D' ELSE 'U' END AS op,
         CAST(round(o_totalprice * 100) AS BIGINT) + v AS price_e2,
         'v' || CAST(v AS VARCHAR) AS src
  FROM orders, (SELECT unnest([1, 2]) AS v)
  WHERE o_orderkey % 5 = 0
),
last AS (
  SELECT * FROM ch
  QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY v DESC) = 1
),
untouched AS (
  SELECT o.o_orderkey, CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_e2,
         'snap' AS src
  FROM orders o ANTI JOIN last l ON o.o_orderkey = l.o_orderkey
)
SELECT o_orderkey, price_e2, src FROM untouched
UNION ALL
SELECT o_orderkey, price_e2, src FROM last WHERE op <> 'D'
"""


@register("cdc_apply_changelog", _CDC_ORACLE, tags=("S7", "J3", "bench"))
def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply — MERGE with delete tombstones
    (operators/dedup.py:cdc_apply): a deterministic synthetic
    changelog (every 5th order updated twice, every 15th terminally
    DELETED) lands on the orders snapshot; per key the LAST change by
    version wins, terminal D drops the key, everything else replaces
    the row. The snapshot never shuffles — one window over the
    changelog + one anti join on changed keys — which is the layout
    that applies a nightly 0.1% change feed to a 100 TB table by
    moving only the feed. Money is exact integer cents."""
    from auto_trade_data_pipeline_spark.operators.dedup import cdc_apply

    orders = load_table(spark, sf_dir, "orders")
    snap = orders.select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("price_e2"),
        F.lit("snap").alias("src"),
    )
    changelog = (
        orders.filter(F.col("o_orderkey") % 5 == 0)
        .select("o_orderkey", "o_totalprice")
        .select(
            "o_orderkey",
            F.explode(F.array(F.lit(1), F.lit(2))).alias("v"),
            "o_totalprice",
        )
        .select(
            "o_orderkey",
            "v",
            F.when((F.col("v") == 2) & (F.col("o_orderkey") % 15 == 0), "D")
            .otherwise("U")
            .alias("op"),
            (F.expr("CAST(round(o_totalprice * 100) AS BIGINT)") + F.col("v")).alias(
                "price_e2"
            ),
            F.concat(F.lit("v"), F.col("v").cast("string")).alias("src"),
        )
    )
    return cdc_apply(snap, changelog, keys=["o_orderkey"], order_cols=["v"])


# ---------------------------------------------------------------------------
# Referential-integrity / data-contract report
# ---------------------------------------------------------------------------

_RI_ORACLE = """
WITH checks AS (
  SELECT 'lineitem.orderkey->orders' AS check_name,
         CAST(count(*) AS BIGINT) AS checked,
         CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_keys,
         CAST(sum(CASE WHEN l_orderkey IS NOT NULL AND o.o_orderkey IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS orphans
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  UNION ALL
  SELECT 'orders.custkey->customer',
         CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(sum(CASE WHEN o_custkey IS NOT NULL AND c.c_custkey IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  UNION ALL
  SELECT 'customer.nationkey->nation',
         CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(sum(CASE WHEN c_nationkey IS NOT NULL AND n.n_nationkey IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
  UNION ALL
  SELECT 'supplier.nationkey->nation',
         CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN s_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(sum(CASE WHEN s_nationkey IS NOT NULL AND n.n_nationkey IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
  UNION ALL
  SELECT 'nation.regionkey->region',
         CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN n_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(sum(CASE WHEN n_regionkey IS NOT NULL AND r.r_regionkey IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
  UNION ALL
  SELECT 'orders.orderkey unique',
         CAST((SELECT count(*) FROM orders) AS BIGINT),
         CAST(0 AS BIGINT),
         CAST((SELECT count(*) - count(DISTINCT o_orderkey) FROM orders) AS BIGINT)
  UNION ALL
  SELECT 'customer.custkey unique',
         CAST((SELECT count(*) FROM customer) AS BIGINT),
         CAST(0 AS BIGINT),
         CAST((SELECT count(*) - count(DISTINCT c_custkey) FROM customer) AS BIGINT)
)
SELECT check_name, checked, null_keys, orphans,
       CAST(((null_keys + orphans) * 1000000) // checked AS BIGINT) AS violation_ppm
FROM checks
"""


def _fk_check(
    fact: DataFrame, dim: DataFrame, fk: str, pk: str, name: str, broadcast_dim: bool
) -> DataFrame:
    """One FK-containment check as a single left join + aggregate:
    (check_name, checked, null_keys, orphans). The dim side carries
    only its key column; small dims ride a broadcast so the fact
    never shuffles."""
    d = dim.select(F.col(pk).alias("__pk")).distinct()
    if broadcast_dim:
        d = F.broadcast(d)
    j = fact.select(F.col(fk).alias("__fk")).join(
        d, F.col("__fk") == F.col("__pk"), "left"
    )
    return j.agg(
        F.lit(name).alias("check_name"),
        F.count(F.lit(1)).alias("checked"),
        F.sum(F.when(F.col("__fk").isNull(), 1).otherwise(0)).alias("null_keys"),
        F.sum(
            F.when(F.col("__fk").isNotNull() & F.col("__pk").isNull(), 1).otherwise(0)
        ).alias("orphans"),
    )


def _pk_check(df: DataFrame, pk: str, name: str) -> DataFrame:
    """Key-uniqueness check: duplicates = count(*) - count(distinct)."""
    return df.agg(
        F.lit(name).alias("check_name"),
        F.count(F.lit(1)).alias("checked"),
        F.lit(0).cast("long").alias("null_keys"),
        (F.count(F.lit(1)) - F.count_distinct(F.col(pk))).alias("orphans"),
    )


@register("referential_integrity_report", _RI_ORACLE, tags=("A5", "J1", "J6"))
def referential_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract verification across the relational star — the
    dbt-test / expectations suite a warehouse runs before publishing a
    snapshot: FK containment (orphan + null-key counts) along every
    edge of the schema graph and PK uniqueness on the hub tables, one
    report row per check with an integer-ppm violation rate.

    Scale shape: each FK check is ONE left join + a count aggregate —
    dimension sides are key-only projections, the small ones
    (nation/region/customer) ride broadcasts so the fact tables never
    shuffle for them; the lineitem->orders containment is the only
    big-big join and shuffles once on the natural key. Uniqueness
    checks are single count-distinct aggregates. The per-check rows
    are unioned driver-free (each branch is a 1-row aggregate)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    checks = [
        _fk_check(li, orders, "l_orderkey", "o_orderkey",
                  "lineitem.orderkey->orders", broadcast_dim=False),
        _fk_check(orders, cust, "o_custkey", "c_custkey",
                  "orders.custkey->customer", broadcast_dim=True),
        _fk_check(cust, nation, "c_nationkey", "n_nationkey",
                  "customer.nationkey->nation", broadcast_dim=True),
        _fk_check(supp, nation, "s_nationkey", "n_nationkey",
                  "supplier.nationkey->nation", broadcast_dim=True),
        _fk_check(nation, region, "n_regionkey", "r_regionkey",
                  "nation.regionkey->region", broadcast_dim=True),
        _pk_check(orders, "o_orderkey", "orders.orderkey unique"),
        _pk_check(cust, "c_custkey", "customer.custkey unique"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.withColumn(
        "violation_ppm",
        F.expr("((null_keys + orphans) * 1000000) div checked"),
    )


# ---------------------------------------------------------------------------
# Weight-of-evidence / information-value feature binning
# ---------------------------------------------------------------------------

#: Shared WOE/IV formula strings over exact integer counts — identical
#: IEEE division/ln order on both engines, e6/e9 snapped. Zero-count
#: bins yield NULL WOE on both sides (ln of 0 or division by 0 would
#: error under Spark ANSI and diverge in DuckDB).
_WOE_EXPR = (
    "CASE WHEN n_event = 0 OR n_non = 0 OR tot_event = 0 OR tot_non = 0 THEN NULL "
    "ELSE ln((CAST(n_event AS DOUBLE) / tot_event) / (CAST(n_non AS DOUBLE) / tot_non)) END"
)
_IV_EXPR = (
    f"CASE WHEN ({_WOE_EXPR}) IS NULL THEN NULL "
    f"ELSE (CAST(n_event AS DOUBLE) / tot_event - CAST(n_non AS DOUBLE) / tot_non) "
    f"* ({_WOE_EXPR}) END"
)

_WOE_IV_ORACLE = f"""
WITH c AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS ev
  FROM orders
),
bounds AS (SELECT min(price_c) AS lo, max(price_c) AS hi FROM c),
binned AS (
  SELECT least((c.price_c - b.lo) * 10
               // (CASE WHEN b.hi > b.lo THEN b.hi - b.lo ELSE 1 END), 9) AS bin,
         ev
  FROM c, bounds b
),
agg AS (
  SELECT CAST(bin AS BIGINT) AS bin,
         CAST(sum(ev) AS BIGINT) AS n_event,
         CAST(count(*) - sum(ev) AS BIGINT) AS n_non
  FROM binned GROUP BY bin
),
tot AS (
  SELECT bin, n_event, n_non,
         CAST(sum(n_event) OVER () AS BIGINT) AS tot_event,
         CAST(sum(n_non) OVER () AS BIGINT) AS tot_non
  FROM agg
)
SELECT bin, n_event, n_non,
       CAST(round(({_WOE_EXPR}) * 1000000) AS BIGINT) AS woe_e6,
       CAST(round(({_IV_EXPR}) * 1000000000) AS BIGINT) AS iv_e9
FROM tot
"""


@register("woe_iv_report", _WOE_IV_ORACLE, tags=("A4", "F-math"))
def woe_iv_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence feature binning with per-bin information
    value — the credit-scoring / churn-model feature audit: order
    value is discretized into 10 equal-width bins over broadcast
    global bounds (INTEGER cent arithmetic, so bin edges are exact
    and Spark `div` == DuckDB `//` on the non-negative numerator),
    the event is order fulfillment, and each bin reports
    WOE = ln(event-share / non-event-share) plus its IV contribution,
    both from exact integer counts through one shared formula string.

    Scale shape: one tiny bounds aggregate broadcast to the fact
    scan, one 10-row groupBy, totals ride a window over the 10-row
    aggregate — never the fact table."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("price_c"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("ev"),
    )
    bounds = c.agg(F.min("price_c").alias("lo"), F.max("price_c").alias("hi"))
    binned = c.join(F.broadcast(bounds)).select(
        F.expr(
            "least((price_c - lo) * 10 "
            "div (CASE WHEN hi > lo THEN hi - lo ELSE 1 END), 9)"
        ).alias("bin"),
        "ev",
    )
    agg = binned.groupBy("bin").agg(
        F.sum("ev").alias("n_event"),
        (F.count(F.lit(1)) - F.sum("ev")).alias("n_non"),
    )
    w = Window.partitionBy()
    tot = agg.select(
        "bin",
        "n_event",
        "n_non",
        F.sum("n_event").over(w).alias("tot_event"),
        F.sum("n_non").over(w).alias("tot_non"),
    )
    return tot.select(
        "bin",
        "n_event",
        "n_non",
        F.expr(f"CAST(round(({_WOE_EXPR}) * 1000000) AS BIGINT)").alias("woe_e6"),
        F.expr(f"CAST(round(({_IV_EXPR}) * 1000000000) AS BIGINT)").alias("iv_e9"),
    )


# ---------------------------------------------------------------------------
# Leave-fold-out (K-fold) target encoding
# ---------------------------------------------------------------------------

_TE_FOLDS = 5

_TARGET_ENC_ORACLE = f"""
WITH lab AS (
  SELECT o_orderpriority AS cat,
         CAST('0x' || substr(md5('fold' || '|' || CAST(o_orderkey AS VARCHAR)), 1, 15)
              AS BIGINT) % {_TE_FOLDS} AS fold,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
),
per_fold AS (
  SELECT cat, CAST(fold AS BIGINT) AS fold,
         CAST(count(*) AS BIGINT) AS n_fold,
         CAST(sum(y) AS BIGINT) AS pos_fold
  FROM lab GROUP BY cat, fold
),
tot AS (
  SELECT cat, fold, n_fold, pos_fold,
         CAST(sum(n_fold) OVER (PARTITION BY cat) AS BIGINT) AS n_cat,
         CAST(sum(pos_fold) OVER (PARTITION BY cat) AS BIGINT) AS pos_cat
  FROM per_fold
)
SELECT cat, fold, n_fold, pos_fold,
       CAST(CASE WHEN n_cat - n_fold = 0 THEN NULL
                 ELSE (pos_cat - pos_fold) * 1000000 // (n_cat - n_fold)
            END AS BIGINT) AS oof_mean_ppm
FROM tot
"""


@register("target_encoding_kfold", _TARGET_ENC_ORACLE, tags=("A4", "J4"))
def target_encoding_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free K-fold target encoding — the workhorse categorical
    feature for gradient-boosted models: each (category, fold) cell
    is encoded with the event rate of the OTHER folds
    ((pos_cat - pos_fold) / (n_cat - n_fold)), so a training row never
    sees its own label. Folds are deterministic salted-hash buckets of
    the order key (stable under data growth — the training_mix_pack
    recipe); the out-of-fold rate is an exact positive-integer ppm
    division.

    Scale shape: ONE fact-table groupBy onto |cats| x K cells; the
    per-category totals ride a window over that tiny aggregate. The
    encoded value joins back to training rows as a broadcast — the
    fact table never shuffles for the encoding itself."""
    from auto_trade_data_pipeline_spark.operators.text import hash64

    orders = load_table(spark, sf_dir, "orders")
    lab = orders.select(
        F.col("o_orderpriority").alias("cat"),
        (hash64(F.col("o_orderkey").cast("string"), salt="fold") % _TE_FOLDS).alias(
            "fold"
        ),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    per_fold = lab.groupBy("cat", "fold").agg(
        F.count(F.lit(1)).alias("n_fold"),
        F.sum("y").alias("pos_fold"),
    )
    w = Window.partitionBy("cat")
    tot = per_fold.select(
        "cat",
        "fold",
        "n_fold",
        "pos_fold",
        F.sum("n_fold").over(w).alias("n_cat"),
        F.sum("pos_fold").over(w).alias("pos_cat"),
    )
    return tot.select(
        "cat",
        "fold",
        "n_fold",
        "pos_fold",
        F.expr(
            "CAST(CASE WHEN n_cat - n_fold = 0 THEN NULL "
            "ELSE (pos_cat - pos_fold) * 1000000 div (n_cat - n_fold) "
            "END AS BIGINT)"
        ).alias("oof_mean_ppm"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit (data-forensics contract check)
# ---------------------------------------------------------------------------

#: Shared chi-square contribution per digit over exact integer counts.
_BENFORD_P = "ln(1.0 + CAST(1 AS DOUBLE) / digit) / ln(CAST(10 AS DOUBLE))"
_BENFORD_CHI = (
    f"CASE WHEN n_total = 0 THEN NULL ELSE "
    f"(CAST(n AS DOUBLE) - ({_BENFORD_P}) * n_total) "
    f"* (CAST(n AS DOUBLE) - ({_BENFORD_P}) * n_total) "
    f"/ (({_BENFORD_P}) * n_total) END"
)

_BENFORD_ORACLE = f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS digit
  FROM orders WHERE o_totalprice > 0
),
agg AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY digit
),
tot AS (
  SELECT digit, n, CAST(sum(n) OVER () AS BIGINT) AS n_total FROM agg
)
SELECT digit, n,
       CAST(n * 1000000 // n_total AS BIGINT) AS observed_ppm,
       CAST(round(({_BENFORD_P}) * 1000000) AS BIGINT) AS benford_ppm,
       CAST(round(({_BENFORD_CHI}) * 1000000) AS BIGINT) AS chi2_e6
FROM tot
"""


@register("benford_digit_audit", _BENFORD_ORACLE, tags=("A4", "F-math"))
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit of order values — the
    data-forensics contract check (fabricated or truncated monetary
    data breaks the log-uniform digit law): digit shares vs the
    Benford expectation ln(1 + 1/d)/ln(10) with per-digit chi-square
    contributions, everything derived from exact integer counts
    through shared formula strings (observed shares are integer ppm
    divisions; the expectation and chi-square run in identical IEEE
    order on both engines).

    Scale shape: the digit is string-prefix arithmetic on integer
    cents (pure JVM), one 9-row groupBy, totals ride a window over
    the 9-row aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.filter(F.col("o_totalprice") > 0).select(
        F.expr(
            "CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING), 1, 1) "
            "AS BIGINT)"
        ).alias("digit")
    )
    agg = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy()
    tot = agg.select("digit", "n", F.sum("n").over(w).alias("n_total"))
    return tot.select(
        "digit",
        "n",
        F.expr("CAST(n * 1000000 div n_total AS BIGINT)").alias("observed_ppm"),
        F.expr(f"CAST(round(({_BENFORD_P}) * 1000000) AS BIGINT)").alias("benford_ppm"),
        F.expr(f"CAST(round(({_BENFORD_CHI}) * 1000000) AS BIGINT)").alias("chi2_e6"),
    )


# ---------------------------------------------------------------------------
# Gini concentration of customer spend (Lorenz-curve inequality)
# ---------------------------------------------------------------------------

_GINI_EXPR = (
    "CASE WHEN n = 0 OR t = 0 THEN NULL ELSE "
    "2.0 * CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * t) "
    "- CAST(n + 1 AS DOUBLE) / n END"
)

_GINI_ORACLE = f"""
WITH spend AS (
  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT cents, row_number() OVER (ORDER BY cents, o_custkey) AS rk FROM spend
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS t,
         CAST(sum(rk * cents) AS BIGINT) AS s1
  FROM ranked
)
SELECT n AS n_customers, t AS total_cents,
       CAST(round(({_GINI_EXPR}) * 1000000) AS BIGINT) AS gini_ppm
FROM s
"""


@register("gini_concentration", _GINI_ORACLE, tags=("A4", "O1", "W-rank"))
def gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend concentration (the
    Lorenz-curve inequality metric a marketplace watches for
    whale-dependence): customers ranked ascending by exact integer
    cent totals (custkey tiebreak), Gini from the rank-weighted sum
    2*S1/(n*T) - (n+1)/n — S1, n, T all exact BIGINTs, combined once
    in a shared DOUBLE formula.

    Scale shape: the global rank uses the distributed zipWithIndex
    recipe (operators/ranking.py:global_row_number — range exchange +
    per-partition offsets), NEVER a SinglePartition window; the
    rank-weighted sum is a map-side-combinable aggregate. The oracle
    states the same rank as a plain SQL window."""
    from auto_trade_data_pipeline_spark.operators.ranking import global_row_number

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias("cents")
    )
    ranked = global_row_number(spend, ["cents", "o_custkey"], out_col="rk")
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("t"),
        F.sum(F.col("rk") * F.col("cents")).alias("s1"),
    )
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("t").alias("total_cents"),
        F.expr(f"CAST(round(({_GINI_EXPR}) * 1000000) AS BIGINT)").alias("gini_ppm"),
    )


# ---------------------------------------------------------------------------
# Mutual-information feature ranking
# ---------------------------------------------------------------------------

#: Per-cell MI contribution from exact integer counts, snapped to e9
#: BEFORE summation so the per-feature total is an exact integer sum
#: (a float sum over cells would be partition-order-dependent).
_MI_CELL = (
    "(CAST(n_xy AS DOUBLE) / n_tot) "
    "* ln(CAST(n_xy AS DOUBLE) * n_tot / (CAST(n_x AS DOUBLE) * n_y))"
)

_MI_ORACLE = f"""
WITH base AS (
  SELECT o_orderpriority AS f_priority,
         CAST(month(o_orderdate) AS VARCHAR) AS f_month,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
),
stacked AS (
  SELECT 'priority' AS feature, f_priority AS v, y FROM base
  UNION ALL
  SELECT 'order_month' AS feature, f_month AS v, y FROM base
),
cells AS (
  SELECT feature, v, y, CAST(count(*) AS BIGINT) AS n_xy
  FROM stacked GROUP BY feature, v, y
),
marg AS (
  SELECT feature, v, y, n_xy,
         CAST(sum(n_xy) OVER (PARTITION BY feature, v) AS BIGINT) AS n_x,
         CAST(sum(n_xy) OVER (PARTITION BY feature, y) AS BIGINT) AS n_y,
         CAST(sum(n_xy) OVER (PARTITION BY feature) AS BIGINT) AS n_tot
  FROM cells
)
SELECT feature,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(CAST(round(({_MI_CELL}) * 1000000000) AS BIGINT)) AS BIGINT) AS mi_e9
FROM marg GROUP BY feature
"""


@register("mutual_info_features", _MI_ORACLE, tags=("A4", "F-math"))
def mutual_info_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between candidate categorical features and
    the fulfillment label — the model-agnostic feature-selection
    screen: I(X;Y) = sum over cells of p(x,y) * ln(p(x,y)/(p(x)p(y))),
    every probability an exact integer-count ratio. Each cell's
    contribution is snapped to integer e-9 BEFORE the per-feature sum,
    so the total is an exact BIGINT sum — order-free at any
    parallelism (a float sum over cells would not be).

    Scale shape: ONE stacked fact-table groupBy onto (feature, value,
    label) cells; marginals and totals ride windows over the
    cell table (tens of rows), never the facts."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderpriority").alias("f_priority"),
        F.month("o_orderdate").cast("string").alias("f_month"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    stacked = base.select(
        F.lit("priority").alias("feature"), F.col("f_priority").alias("v"), "y"
    ).unionByName(
        base.select(
            F.lit("order_month").alias("feature"), F.col("f_month").alias("v"), "y"
        )
    )
    cells = stacked.groupBy("feature", "v", "y").agg(
        F.count(F.lit(1)).alias("n_xy")
    )
    marg = cells.select(
        "feature",
        "v",
        "y",
        "n_xy",
        F.sum("n_xy").over(Window.partitionBy("feature", "v")).alias("n_x"),
        F.sum("n_xy").over(Window.partitionBy("feature", "y")).alias("n_y"),
        F.sum("n_xy").over(Window.partitionBy("feature")).alias("n_tot"),
    )
    return marg.groupBy("feature").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(
            F.expr(f"CAST(round(({_MI_CELL}) * 1000000000) AS BIGINT)")
        ).alias("mi_e9"),
    )


# ---------------------------------------------------------------------------
# Market-basket association rules (support / confidence / lift)
# ---------------------------------------------------------------------------

_AR_MIN_SUPPORT = 10  # absolute basket count; keeps the rule table dense

#: Shared lift formula over exact integer counts.
_AR_LIFT = "CAST(n_ab AS DOUBLE) * n_orders / (CAST(n_a AS DOUBLE) * n_b)"

_ASSOC_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS item
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
n AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM items),
sing AS (
  SELECT item, CAST(count(*) AS BIGINT) AS n_item FROM items GROUP BY item
),
pairs AS (
  SELECT a.item AS ant, b.item AS cons, CAST(count(*) AS BIGINT) AS n_ab
  FROM items a JOIN items b ON a.okey = b.okey AND a.item < b.item
  GROUP BY a.item, b.item
)
SELECT p.ant, p.cons, p.n_ab, sa.n_item AS n_a, sb.n_item AS n_b,
       CAST(p.n_ab * 1000000 // n.n_orders AS BIGINT) AS support_ppm,
       CAST(p.n_ab * 1000000 // sa.n_item AS BIGINT) AS conf_ant_ppm,
       CAST(p.n_ab * 1000000 // sb.n_item AS BIGINT) AS conf_cons_ppm,
       CAST(round((CAST(p.n_ab AS DOUBLE) * n.n_orders
                   / (CAST(sa.n_item AS DOUBLE) * sb.n_item)) * 1000000) AS BIGINT)
         AS lift_e6
FROM pairs p
JOIN sing sa ON p.ant = sa.item
JOIN sing sb ON p.cons = sb.item
CROSS JOIN n
WHERE p.n_ab >= {_AR_MIN_SUPPORT}
"""


@register("association_rules_basket", _ASSOC_ORACLE, tags=("A4", "J4", "J6"))
def association_rules_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order contents — the
    retail co-purchase miner: baskets are the DISTINCT brands in each
    order (lineitem joined to the broadcast part dimension), pair
    support comes from a within-order self-join on the basket table
    (bounded fan-out: baskets hold a handful of brands), and each
    surviving rule reports support, both conditional confidences, and
    lift — all exact integer counts, ppm divisions on positive
    numerators, one shared DOUBLE lift formula.

    Scale shape: the only big-big operation is the basket self-join,
    keyed on the order id (uniform, bounded per-key fan-out — the
    classic a-priori pair-generation layout); the singleton table is
    |items|-sized and broadcast back; min-support prunes before the
    rule math."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    items = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("item"))
        .distinct()
    )
    n = items.agg(F.count_distinct("okey").alias("n_orders"))
    sing = items.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    a = items.select(F.col("okey"), F.col("item").alias("ant"))
    b = items.select(F.col("okey").alias("okey_b"), F.col("item").alias("cons"))
    pairs = (
        a.join(b, (F.col("okey") == F.col("okey_b")) & (F.col("ant") < F.col("cons")))
        .groupBy("ant", "cons")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= _AR_MIN_SUPPORT)
    )
    sa = sing.select(F.col("item").alias("ant"), F.col("n_item").alias("n_a"))
    sb = sing.select(F.col("item").alias("cons"), F.col("n_item").alias("n_b"))
    out = (
        pairs.join(F.broadcast(sa), "ant")
        .join(F.broadcast(sb), "cons")
        .join(F.broadcast(n))
    )
    return out.select(
        "ant",
        "cons",
        "n_ab",
        "n_a",
        "n_b",
        F.expr("CAST(n_ab * 1000000 div n_orders AS BIGINT)").alias("support_ppm"),
        F.expr("CAST(n_ab * 1000000 div n_a AS BIGINT)").alias("conf_ant_ppm"),
        F.expr("CAST(n_ab * 1000000 div n_b AS BIGINT)").alias("conf_cons_ppm"),
        F.expr(f"CAST(round(({_AR_LIFT}) * 1000000) AS BIGINT)").alias("lift_e6"),
    )


# ---------------------------------------------------------------------------
# k-core of the co-purchase graph (iterative-deletion fixpoint)
# ---------------------------------------------------------------------------

KCORE_K = 80
KCORE_ROUNDS = 8  # fixpoint observed in <= 5 rounds at sf0.01/sf0.1


def _kcore_oracle() -> str:
    """Fixed-round peeling replayed as a chained CTE (the PageRank
    oracle pattern — MATERIALIZED per round so the expansion stays
    linear in the round count)."""
    ctes = [
        """kc_items AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem
)""",
        """kc_p AS (
  SELECT DISTINCT a.pk AS pa, b.pk AS pb
  FROM kc_items a JOIN kc_items b ON a.okey = b.okey AND a.pk < b.pk
)""",
        """kc_e0 AS MATERIALIZED (
  SELECT pa AS u, pb AS v FROM kc_p
  UNION ALL
  SELECT pb, pa FROM kc_p
)""",
    ]
    for i in range(KCORE_ROUNDS):
        ctes += [
            f"""kc_s{i} AS MATERIALIZED (
  SELECT u FROM kc_e{i} GROUP BY u HAVING count(*) >= {KCORE_K}
)""",
            f"""kc_e{i + 1} AS MATERIALIZED (
  SELECT e.u, e.v FROM kc_e{i} e
  JOIN kc_s{i} a ON a.u = e.u
  JOIN kc_s{i} b ON b.u = e.v
)""",
        ]
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT u AS part_id, CAST(count(*) AS BIGINT) AS core_deg
FROM kc_e{KCORE_ROUNDS} GROUP BY u
"""


@register("kcore_copurchase", _kcore_oracle(), tags=("J4", "A4"))
def kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The densely cross-sold nucleus of the part co-purchase graph:
    parts are connected when they appear in the same order (distinct
    pairs, bounded per-order fan-out — the basket layout of
    `association_rules_basket`), then peeled to the {k}-core by
    iterative deletion (operators/graph.py:kcore_prune — every round
    drops parts with fewer than k surviving co-purchase partners,
    cascading). Emits the surviving parts with their within-core
    degree. The iterative-DELETION fixpoint joins the repo's
    propagation (CC) and power-iteration (PageRank) families; it is
    the assortment-planning / recommendation-seed readout: a part in
    the core is co-bought with many other heavily co-bought parts,
    while high-degree parts OUTSIDE the core hang off the nucleus
    (their partners cascade away — degree alone overcounts them).

    Runs exactly KCORE_ROUNDS rounds (no early exit) so the SQL
    oracle replays the identical chain; the fixpoint (one more round
    changes nothing) and a pure-Python peeling reference are pinned
    in tests/test_kcore.py. Scale shape: pair generation is keyed on
    the order id with bounded per-key fan-out; each round is one
    map-side-combinable degree agg + two joins against the (only
    ever shrinking) survivor set; rounds are fixed, not data-bound.
    """.format(k=KCORE_K)
    from auto_trade_data_pipeline_spark.operators.graph import kcore_prune

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    items = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pk")
    ).distinct()
    b = items.select(F.col("okey").alias("okey_b"), F.col("pk").alias("pk_b"))
    pairs = (
        items.join(b, (F.col("okey") == F.col("okey_b")) & (F.col("pk") < F.col("pk_b")))
        .select(F.col("pk").alias("id_a"), F.col("pk_b").alias("id_b"))
        .distinct()
    )
    core = kcore_prune(pairs, k=KCORE_K, rounds=KCORE_ROUNDS)
    return core.select(F.col("node").alias("part_id"), "core_deg")


# ---------------------------------------------------------------------------
# RFM customer segmentation (rank-based quintile scores)
# ---------------------------------------------------------------------------

#: Deterministic quintile from a contiguous 1-based global rank:
#: score = (rk - 1) * 5 // n + 1 — exact integer math, identical on
#: both engines (positive numerator), no NTILE/SinglePartition.
def _rfm_score(rk: str, n: str) -> str:
    return f"({rk} - 1) * 5 // {n} + 1"


_RFM_ORACLE = f"""
WITH g AS (SELECT max(o_orderdate) AS gmax FROM orders),
cust AS (
  SELECT o_custkey,
         CAST(min(date_diff('day', o_orderdate, (SELECT gmax FROM g))) AS BIGINT)
           AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY recency_days DESC, o_custkey) AS rk_r,
         row_number() OVER (ORDER BY frequency, o_custkey) AS rk_f,
         row_number() OVER (ORDER BY monetary_cents, o_custkey) AS rk_m,
         CAST((SELECT count(*) FROM cust) AS BIGINT) AS n
  FROM cust
),
scored AS (
  SELECT CAST({_rfm_score('rk_r', 'n')} AS BIGINT) AS r_score,
         CAST({_rfm_score('rk_f', 'n')} AS BIGINT) AS f_score,
         CAST({_rfm_score('rk_m', 'n')} AS BIGINT) AS m_score,
         recency_days, frequency, monetary_cents
  FROM ranked
),
seg AS (
  SELECT CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
              WHEN r_score >= 4 AND f_score >= 3 THEN 'loyal'
              WHEN r_score >= 4 THEN 'recent'
              WHEN f_score >= 4 AND r_score <= 2 THEN 'at_risk'
              WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
              ELSE 'regular' END AS segment,
         recency_days, frequency, monetary_cents
  FROM scored
)
SELECT segment, CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(recency_days) // count(*) AS BIGINT) AS avg_recency_days,
       CAST(sum(frequency) * 100 // count(*) AS BIGINT) AS avg_frequency_e2,
       CAST(sum(monetary_cents) // count(*) AS BIGINT) AS avg_monetary_cents
FROM seg GROUP BY segment
"""


@register("rfm_segmentation", _RFM_ORACLE, tags=("A4", "O1", "W-rank"))
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the CRM workhorse: per customer,
    recency (days since last order vs the corpus horizon), frequency
    (order count), monetary (exact cent total); each dimension scored
    into quintiles via a contiguous global rank mapped through exact
    integer math ((rk-1)*5 // n + 1 — no NTILE), then segmented by
    the standard champion/loyal/at-risk rules and reported as segment
    aggregates with integer-scaled averages.

    Scale shape: three global ranks over the CUSTOMER dimension, each
    using the distributed zipWithIndex recipe (range exchange +
    partition offsets, no SinglePartition); all other steps are
    map-side-combinable aggregates. Ranks tie-break on custkey so the
    segmentation is deterministic at any parallelism."""
    from auto_trade_data_pipeline_spark.operators.ranking import global_row_number

    orders = load_table(spark, sf_dir, "orders")
    g = orders.agg(F.max("o_orderdate").alias("gmax"))
    cust = (
        orders.join(F.broadcast(g))
        .groupBy("o_custkey")
        .agg(
            F.min(F.datediff("gmax", "o_orderdate")).cast("long").alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
                "monetary_cents"
            ),
        )
    )
    ranked = cust.withColumn("neg_recency", -F.col("recency_days"))
    ranked = global_row_number(ranked, ["neg_recency", "o_custkey"], out_col="rk_r")
    ranked = global_row_number(ranked, ["frequency", "o_custkey"], out_col="rk_f")
    ranked = global_row_number(ranked, ["monetary_cents", "o_custkey"], out_col="rk_m")
    # n = max contiguous rank: rides the rank chain's own cached
    # stages instead of re-executing the orders scan + customer
    # aggregation a second time (round-6 scan audit).
    total = ranked.agg(F.max("rk_m").alias("n"))
    scored = ranked.join(F.broadcast(total)).select(
        F.expr("CAST((rk_r - 1) * 5 div n + 1 AS BIGINT)").alias("r_score"),
        F.expr("CAST((rk_f - 1) * 5 div n + 1 AS BIGINT)").alias("f_score"),
        F.expr("CAST((rk_m - 1) * 5 div n + 1 AS BIGINT)").alias("m_score"),
        "recency_days",
        "frequency",
        "monetary_cents",
    )
    seg = scored.select(
        F.expr(
            "CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion' "
            "WHEN r_score >= 4 AND f_score >= 3 THEN 'loyal' "
            "WHEN r_score >= 4 THEN 'recent' "
            "WHEN f_score >= 4 AND r_score <= 2 THEN 'at_risk' "
            "WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating' "
            "ELSE 'regular' END"
        ).alias("segment"),
        "recency_days",
        "frequency",
        "monetary_cents",
    )
    return seg.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.expr("CAST(sum(recency_days) div count(*) AS BIGINT)").alias(
            "avg_recency_days"
        ),
        F.expr("CAST(sum(frequency) * 100 div count(*) AS BIGINT)").alias(
            "avg_frequency_e2"
        ),
        F.expr("CAST(sum(monetary_cents) div count(*) AS BIGINT)").alias(
            "avg_monetary_cents"
        ),
    )


# ---------------------------------------------------------------------------
# Pareto frontier (2D skyline): cheapest-for-its-recency orders
# ---------------------------------------------------------------------------

_SKYLINE_ORACLE = """
WITH pts AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
         CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) AS day_no
  FROM orders
),
swept AS (
  -- sweep in (price asc, day desc, key asc) order: a row is dominated
  -- iff some preceding row's day >= its own (cheaper-or-tie-broken
  -- rows with at-least-as-recent dates); exact ties keep the lowest key
  SELECT o_orderkey, price_c, day_no,
         max(day_no) OVER (ORDER BY price_c, day_no DESC, o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS best_prev_day
  FROM pts
)
SELECT o_orderkey, price_c, day_no
FROM swept
WHERE best_prev_day IS NULL OR best_prev_day < day_no
"""


@register("pareto_frontier_orders", _SKYLINE_ORACLE, tags=("O1", "W-rank", "A-"))
def pareto_frontier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2D skyline / Pareto frontier — the classic multi-objective
    operator (BÖRZSÖNYI et al.'s SKYLINE OF): orders not dominated on
    (cheaper price, more recent date). The sort-sweep formulation —
    in (price asc, date desc) order a row survives iff its date
    strictly exceeds the running max over all preceding rows; exact
    (price, date) ties keep the lowest key — is O(n log n), and the
    running max runs through the distributed zipWithIndex recipe
    (operators/ranking.py:global_running_max: range exchange +
    per-partition carry maxima), NEVER a SinglePartition window. The
    oracle states the identical sweep as a plain SQL window.

    Scale shape: one range exchange on the sort key + partition-max
    metadata to the driver; output is the frontier (typically tiny).
    The same operator answers best-execution scans (cheapest-for-its-
    fill-rate venues) and quality/cost frontier queries."""
    from auto_trade_data_pipeline_spark.operators.ranking import global_running_max

    orders = load_table(spark, sf_dir, "orders")
    pts = orders.select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("price_c"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day_no"),
    ).withColumn("neg_day", -F.col("day_no"))
    swept = global_running_max(
        pts,
        ["price_c", "neg_day", "o_orderkey"],
        value_col="day_no",
        out_col="best_prev_day",
    )
    return swept.filter(
        F.col("best_prev_day").isNull() | (F.col("best_prev_day") < F.col("day_no"))
    ).select("o_orderkey", "price_c", "day_no")


# ---------------------------------------------------------------------------
# Item-item collaborative filtering (co-purchase cosine neighbors)
# ---------------------------------------------------------------------------

_CF_TOPK = 3
_CF_COS = "CAST(n_ij AS DOUBLE) / sqrt(CAST(n_a AS DOUBLE) * n_b)"

_ITEM_CF_ORACLE = f"""
WITH ui AS (
  SELECT DISTINCT o.o_custkey AS ukey, p.p_brand AS item
  FROM orders o
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN part p ON p.p_partkey = l.l_partkey
),
sing AS (
  SELECT item, CAST(count(*) AS BIGINT) AS n_u FROM ui GROUP BY item
),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, CAST(count(*) AS BIGINT) AS n_ij
  FROM ui a JOIN ui b ON a.ukey = b.ukey AND a.item <> b.item
  GROUP BY a.item, b.item
),
scored AS (
  SELECT p.item_a, p.item_b, p.n_ij, sa.n_u AS n_a, sb.n_u AS n_b,
         CAST(round(CAST(p.n_ij AS DOUBLE)
                    / sqrt(CAST(sa.n_u AS DOUBLE) * sb.n_u) * 1000000) AS BIGINT)
           AS cosine_e6
  FROM pairs p
  JOIN sing sa ON sa.item = p.item_a
  JOIN sing sb ON sb.item = p.item_b
)
SELECT item_a, item_b, n_ij, cosine_e6,
       CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY item_a
                               ORDER BY cosine_e6 DESC, item_b) AS rnk
  FROM scored
)
WHERE rnk <= {_CF_TOPK}
"""


@register("item_item_cf", _ITEM_CF_ORACLE, tags=("A4", "J4", "W-rank"))
def item_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering — the 'customers who bought
    X also bought Y' recommender core (Amazon's item-to-item CF,
    Linden et al. 2003): binary user-brand incidence vectors, item
    cosine = co-user count / sqrt(user-count product) from exact
    integer counts (one shared DOUBLE formula, e6-snapped), top-{K}
    neighbors per item by integer-ranked score with a deterministic
    tiebreak.

    Scale shape: the co-occurrence self-join is keyed on the USER
    (uniform, bounded per-user item sets — the same a-priori layout as
    the basket miner); singleton counts broadcast back; the top-K
    window partitions by item over the |items|^2 pair table, never
    the facts.""".replace("{K}", str(_CF_TOPK))
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ui = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .select(F.col("o_custkey").alias("ukey"), F.col("p_brand").alias("item"))
        .distinct()
    )
    sing = ui.groupBy("item").agg(F.count(F.lit(1)).alias("n_u"))
    a = ui.select("ukey", F.col("item").alias("item_a"))
    b = ui.select(F.col("ukey").alias("ukey_b"), F.col("item").alias("item_b"))
    pairs = (
        a.join(b, (F.col("ukey") == F.col("ukey_b")) & (F.col("item_a") != F.col("item_b")))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_ij"))
    )
    sa = sing.select(F.col("item").alias("item_a"), F.col("n_u").alias("n_a"))
    sb = sing.select(F.col("item").alias("item_b"), F.col("n_u").alias("n_b"))
    scored = (
        pairs.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .select(
            "item_a",
            "item_b",
            "n_ij",
            F.expr(f"CAST(round(({_CF_COS}) * 1000000) AS BIGINT)").alias("cosine_e6"),
        )
    )
    w = Window.partitionBy("item_a").orderBy(
        F.col("cosine_e6").desc(), F.col("item_b")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _CF_TOPK)
        .select("item_a", "item_b", "n_ij", "cosine_e6", "rnk")
    )
