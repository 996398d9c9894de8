"""Headline analytic queries over the driver's TPC-H-ish testdata.

These are the engine's flagship pipelines: they exercise the reference's
whole operator surface (scan -> filter -> project -> join -> group -> agg ->
sort; SURVEY.md §2/§3) in realistic shapes, and they are the queries
`bench.py` times at sf0.1.

Scale notes (100 TB posture):
- fact-fact joins (orders⨝lineitem) shuffle on the join key; both sides
  hash-partition, AQE handles skew. Dim joins (nation, region, supplier)
  are explicitly `broadcast()` -- dims stay small at any SF while facts grow.
- aggregates are all partial+final (map-side combine) by construction —
  plain `groupBy().agg()` of algebraic functions.
- every filter is expressed on scan columns so Catalyst pushes it into the
  parquet reader (verified in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table
from ._util import (
    CHARGE_DEC_SQL,
    REVENUE_DEC_SQL,
    dec2,
    money_sum,
    money_sum_sql,
    revenue_dec,
    sql_bind,
)
from .registry import register

_CUTOFF = "1998-09-02 00:00:00"

# The 8 BENCH-tagged queries below are built as ONE parsed SQL statement
# via spark.sql(..., {table}=df) instead of composed Column objects, for
# driver-side construction cost: the Column form of q1
# alone issued ~700 py4j round-trips per construction (~0.25-0.5 s of
# driver latency inside the timed bench region; measured with cProfile —
# every lit/cast/operator is a socket round-trip), the parsed form ~60.
# The SQL text reuses the same fragments as the DuckDB oracles
# (REVENUE_DEC_SQL / money_sum_sql), so the decimal-exactness scheme
# lives in one place; schemas, values (verified equal at sf0.01/sf0.1)
# and physical plans (pushdown/pruning/broadcasts, tests/test_plans.py)
# are unchanged. Non-bench flagship queries keep the declarative Column
# form — they are not in any timed region, and the two styles
# cross-check each other.


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE)                                        AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE)                                   AS sum_base_price,
           CAST(round(sum({REVENUE_DEC_SQL}), 2) AS DOUBLE)                AS sum_disc_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) * CAST(1 + l_tax AS DECIMAL(4,2))), 2) AS DOUBLE)  AS sum_charge,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                 / count(l_quantity), 6)                                    AS avg_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                 / count(l_extendedprice), 6)                               AS avg_price,
           round(CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
                 / count(l_discount), 6)                                    AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{_CUTOFF}'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("flagship", "agg", "bench"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan->filter->groupBy->8 aggregates.

    The Part-5 analogue of the reference (explode->group->count/avg,
    challenge.scala:212-230) generalized to the fact table. One shuffle
    (hash on the 2 group keys); partial aggregation map-side.
    """
    l = load_table(spark, sf_dir, "lineitem")
    # avg via exact decimal sum / count: double avg accumulates in
    # partition order and the last-ulp drift vs DuckDB can straddle
    # the round(6) boundary (_util.py scheme, applied to means)
    return sql_bind(
        spark,
        f"""
        SELECT l_returnflag, l_linestatus,
               {money_sum_sql("CAST(l_quantity AS DECIMAL(12,2))")} AS sum_qty,
               {money_sum_sql("CAST(l_extendedprice AS DECIMAL(12,2))")} AS sum_base_price,
               {money_sum_sql(REVENUE_DEC_SQL)} AS sum_disc_price,
               {money_sum_sql(CHARGE_DEC_SQL)} AS sum_charge,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                     / count(l_quantity), 6)      AS avg_qty,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                     / count(l_extendedprice), 6) AS avg_price,
               round(CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
                     / count(l_discount), 6)      AS avg_disc,
               count(*) AS count_order
        FROM {{l}}
        WHERE l_shipdate <= TIMESTAMP '{_CUTOFF}'
        GROUP BY l_returnflag, l_linestatus
        """,
        l=l,
    )


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           CAST(round(sum({REVENUE_DEC_SQL}), 2) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    """,
    tags=("join", "agg", "bench"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> two equi-joins -> group-agg.

    customer is filtered before the join (predicate pushdown + early
    reduction); orders⨝lineitem shuffles on orderkey. At 100 TB both fact
    sides hash-partition on the key and AQE picks SMJ/skew handling.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return sql_bind(
        spark,
        f"""
        SELECT l_orderkey,
               {money_sum_sql(REVENUE_DEC_SQL)} AS revenue,
               o_orderdate, o_orderpriority
        FROM {{c}} JOIN {{o}} ON c_custkey = o_custkey
                   JOIN {{l}} ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        """,
        c=c, o=o, l=l,
    )


@register(
    "q5_region_supplier_volume",
    oracle=f"""
    SELECT n_name,
           CAST(round(sum({REVENUE_DEC_SQL}), 2) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
    tags=("join", "agg", "bench", "broadcast"),
)
def q5_region_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join with explicit broadcasts for the dims.

    supplier/nation/region are broadcast (stay small at any SF: suppliers
    grow ~SF, nations/regions are fixed) so only the customer->orders->
    lineitem chain shuffles. Catalyst reorders the broadcast joins freely.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return sql_bind(
        spark,
        f"""
        SELECT /*+ BROADCAST(s), BROADCAST(n), BROADCAST(r) */
               n_name, {money_sum_sql(REVENUE_DEC_SQL)} AS revenue
        FROM {{c}} c
        JOIN {{o}} o ON c_custkey = o_custkey
        JOIN {{l}} l ON l_orderkey = o_orderkey
        JOIN {{s}} s ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN {{n}} n ON s_nationkey = n_nationkey
        JOIN {{r}} r ON n_regionkey = r_regionkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name
        """,
        c=c, o=o, l=l, s=s, n=n, r=r,
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount >= 0.03 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
    tags=("filter", "agg", "bench"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate, zero shuffle to 1 row.

    The whole predicate set is pushed to the parquet scan; the aggregate is
    a single partial+final sum — the cheapest possible plan shape.
    """
    l = load_table(spark, sf_dir, "lineitem")
    # 0.03D/0.07D: double literals, same type F.lit(0.03) carried — a bare
    # SQL 0.03 parses as DECIMAL(2,2) and would change the pushed filter
    return sql_bind(
        spark,
        f"""
        SELECT {money_sum_sql(
            "CAST(l_extendedprice AS DECIMAL(12,2))"
            " * CAST(l_discount AS DECIMAL(4,2))")} AS revenue,
               count(*) AS n_items
        FROM {{l}}
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount >= 0.03D AND l_discount <= 0.07D
          AND l_quantity < 24
        """,
        l=l,
    )


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    tags=("flagship", "join", "semi", "agg", "bench"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join, then
    group-count. (Adapted predicate: testdata lineitem has no
    commit/receipt dates, so "late ship" = l_shipdate > o_orderdate.)
    The semi join shuffles only (orderkey, orderdate) — no payload."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return sql_bind(
        spark,
        """
        SELECT o_orderpriority, count(*) AS order_count
        FROM {o} LEFT SEMI JOIN {l}
          ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
        GROUP BY o_orderpriority
        """,
        o=o, l=l,
    )


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           CAST(round(sum({REVENUE_DEC_SQL}), 2) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("flagship", "join", "agg", "limit", "bench"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue — join chain,
    group by customer, deterministic top-20 (revenue desc, custkey asc:
    total tiebreak order so the driver hash is stable). Plans as
    TakeOrderedAndProject, not a global sort."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return sql_bind(
        spark,
        f"""
        SELECT c_custkey, c_name,
               {money_sum_sql(REVENUE_DEC_SQL)} AS revenue
        FROM {{c}} JOIN {{o}} ON c_custkey = o_custkey
                   JOIN {{l}} ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
        GROUP BY c_custkey, c_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
        """,
        c=c, o=o, l=l,
    )


@register(
    "q14_promo_revenue",
    oracle=f"""
    SELECT round(
             100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))
                    ELSE CAST(0 AS DECIMAL(14,4)) END) AS DOUBLE)
                   / CAST(sum({REVENUE_DEC_SQL}) AS DOUBLE),
             6) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
    """,
    tags=("flagship", "join", "agg", "conditional", "bench"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — broadcast the part dim into
    the filtered fact scan, conditional decimal sums, one output row.
    Both sums are exact decimals; only the final ratio is double."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return sql_bind(
        spark,
        f"""
        SELECT /*+ BROADCAST(p) */
               round(100.0D
                     * CAST(sum(CASE WHEN p_type = 'PROMO' THEN {REVENUE_DEC_SQL}
                                     ELSE CAST(0 AS DECIMAL(14,4)) END) AS DOUBLE)
                     / CAST(sum({REVENUE_DEC_SQL}) AS DOUBLE),
                     6) AS promo_revenue_pct
        FROM {{l}} JOIN {{p}} p ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        """,
        l=l, p=p,
    )


@register(
    "q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity), 2) > 55
    )
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, total_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 100
    """,
    tags=("flagship", "join", "agg", "having", "bench"),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: group-having as a pre-join reducer — aggregate the
    fact FIRST (map-side partials collapse 10 lineitems/order to 1 row),
    then join the survivors to orders/customer. Ordering is (qty desc,
    orderkey) — a total order, so top-100 is deterministic."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return sql_bind(
        spark,
        """
        WITH big AS (
          SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
          FROM {l} GROUP BY l_orderkey
          HAVING round(sum(l_quantity), 2) > 55
        )
        SELECT c_custkey, c_name, o_orderkey, o_orderdate, total_qty
        FROM big
        JOIN {o} ON o_orderkey = l_orderkey
        JOIN {c} ON c_custkey = o_custkey
        ORDER BY total_qty DESC, o_orderkey
        LIMIT 100
        """,
        l=l, o=o, c=c,
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `entry()` query: Q1 pricing summary (SURVEY.md §7.1 M1)."""
    return q1_pricing_summary(spark, sf_dir)


@register(
    "q13_customer_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
    tags=("flagship", "join", "agg"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: orders-per-customer histogram. The left join keeps
    customers with zero orders (count(o_orderkey) counts non-null only),
    then a second, tiny aggregation on the count itself."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "q17_small_quantity_revenue",
    oracle="""
    WITH avg_qty AS (
      SELECT l_partkey AS ap, 0.5 * avg(l_quantity) AS half_avg
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))) / 7.0, 2) AS DOUBLE)
             AS avg_yearly,
           count(*) AS n_items
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN avg_qty ON ap = l_partkey
    WHERE p_brand = 'Brand#1' AND l_quantity < half_avg
    """,
    tags=("flagship", "join", "agg", "subquery"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity) decorrelated into an aggregate-then-join — the fact table is
    read once for the averages and once for the probe, both shuffling on
    partkey so AQE can co-locate them; the dim filter broadcasts."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    avg_qty = l.groupBy(F.col("l_partkey").alias("ap")).agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("half_avg")
    )
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(avg_qty, F.col("ap") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            (F.round(F.sum(dec2(F.col("l_extendedprice"))) / 7.0, 2))
            .cast("double")
            .alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "q19_disjunctive_predicates",
    oracle="""
    SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                          * CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE)
             AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 15 AND 35)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 25 AND 45)
    """,
    tags=("flagship", "join", "filter", "disjunction"),
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides. Catalyst
    extracts the common single-side conjuncts (brand/size to the part
    scan, quantity bounds to the lineitem scan) so the disjunction prunes
    before the join instead of after."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    cond = (
        ((brand == "Brand#1") & size.between(1, 15) & qty.between(1, 21))
        | ((brand == "Brand#2") & size.between(10, 30) & qty.between(15, 35))
        | ((brand == "Brand#3") & size.between(20, 50) & qty.between(25, 45))
    )
    return j.filter(cond).agg(
        money_sum(revenue_dec()).alias("revenue"),
        F.count("*").alias("n_items"),
    )


@register(
    "q22_inactive_customers",
    oracle="""
    WITH positive AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                             / count(c_acctbal) AS threshold
                      FROM customer WHERE c_acctbal > 0.0)
    SELECT substr(c_name, 10, 2) AS cgroup,
           count(*) AS numcust,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS totacctbal
    FROM customer, positive
    WHERE c_acctbal > threshold
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
    GROUP BY cgroup
    """,
    tags=("flagship", "join", "anti", "agg", "subquery"),
)
def q22_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no
    high-value order — a scalar aggregate (crossJoin-broadcast of one
    row), an anti join replacing NOT EXISTS, and a substring group key.
    (Adapted: every sf0.01 customer has orders, so plain NOT EXISTS would
    be vacuously empty; the >300k predicate keeps the anti join
    selective.)"""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 300000.0
    )
    # exact decimal sum / count: the threshold must be the SAME double in
    # both engines — a last-ulp avg drift flips membership of a customer
    # whose 2-decimal balance equals the exact quotient
    threshold = c.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(dec2(F.col("c_acctbal"))).cast("double") / F.count("c_acctbal"))
        .alias("threshold")
    )
    rich = c.crossJoin(F.broadcast(threshold)).filter(
        F.col("c_acctbal") > F.col("threshold")
    )
    inactive = rich.join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
    return (
        inactive.groupBy(F.substring("c_name", 10, 2).alias("cgroup"))
        .agg(
            F.count("*").alias("numcust"),
            money_sum(dec2(F.col("c_acctbal"))).alias("totacctbal"),
        )
    )


@register(
    "q7_nation_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(round(sum({REVENUE_DEC_SQL}), 2) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year, l_extendedprice, l_discount
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("flagship", "join", "agg"),
)
def q7_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by year.
    The nation dim joins twice under different roles (supplier's vs
    customer's nation) — broadcast both; the symmetric pair predicate
    filters after both role joins."""
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        s.join(l, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(money_sum(revenue_dec()).alias("revenue"))
    )


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue_by_supp AS (
      SELECT l_suppkey AS supplier_no,
             CAST(round(sum({REVENUE_DEC_SQL}), 2) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue_by_supp ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue_by_supp)
    """,
    tags=("flagship", "join", "agg", "subquery"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue —
    the 'view + scalar max' pattern as aggregate -> broadcast scalar ->
    equality filter (ties preserved, like the spec)."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        money_sum(revenue_dec()).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        s.join(rev, F.col("s_suppkey") == F.col("supplier_no"))
        .crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate)
    GROUP BY s_name
    """,
    tags=("flagship", "join", "semi", "anti", "agg"),
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY late shipper on
    multi-supplier finalized orders (adapted: 'late' = shipped after the
    order date). EXISTS/NOT EXISTS become a semi and an anti join against
    two differently-filtered re-reads of the fact table, all co-located
    on orderkey."""
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = load_table(spark, sf_dir, "lineitem")

    l1 = (
        l.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o.select("o_orderkey", "o_orderdate"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
    )
    others = l.select(
        F.col("l_orderkey").alias("x_orderkey"), F.col("l_suppkey").alias("x_suppkey"),
        F.col("l_shipdate").alias("x_shipdate"),
    )
    # EXISTS: another supplier on the same order
    has_other = l1.join(
        others,
        (F.col("x_orderkey") == F.col("l_orderkey"))
        & (F.col("x_suppkey") != F.col("l_suppkey")),
        "left_semi",
    )
    # NOT EXISTS: no OTHER supplier was also late on that order
    others_late = l.join(
        o.select("o_orderkey", F.col("o_orderdate").alias("x_odate")),
        F.col("o_orderkey") == F.col("l_orderkey"),
    ).filter(F.col("l_shipdate") > F.col("x_odate")).select(
        F.col("l_orderkey").alias("y_orderkey"), F.col("l_suppkey").alias("y_suppkey"),
    )
    only_late = has_other.join(
        others_late,
        (F.col("y_orderkey") == F.col("l_orderkey"))
        & (F.col("y_suppkey") != F.col("l_suppkey")),
        "left_anti",
    )
    return (
        only_late.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@register(
    "q9_product_profit",
    oracle=f"""
    SELECT nation, o_year,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                          * CAST(1 - l_discount AS DECIMAL(4,2))
                          - CAST(p_retailprice AS DECIMAL(12,2))
                            * CAST(0.06 AS DECIMAL(3,2))
                            * CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS sum_profit
    FROM (
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             l_extendedprice, l_discount, p_retailprice, l_quantity
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE contains(p_name, 'red')
    ) profit
    GROUP BY nation, o_year
    """,
    tags=("flagship", "join", "agg"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product profit by supplier nation and order year.
    (Adapted: no partsupp table and no 'green' parts in testdata — filter is
    'red' parts, and supply cost = 6% of the part's
    retail price per unit.) Five-table join — part/supplier/nation
    broadcast, the orders⨝lineitem chain shuffles once on orderkey."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    profit = (
        dec2(F.col("l_extendedprice")) * dec2(F.lit(1) - F.col("l_discount"), 4)
        - dec2(F.col("p_retailprice"))
        * F.lit(0.06).cast("decimal(3,2)")
        * dec2(F.col("l_quantity"))
    )
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(money_sum(profit).alias("sum_profit"))
    )


@register(
    "q16_supplier_variety",
    oracle="""
    SELECT p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
    GROUP BY p_type, p_size
    """,
    tags=("flagship", "join", "agg", "distinct"),
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier variety per part type/size
    (adapted: lineitem is the part-supplier bridge — no partsupp table).
    count_distinct plans as a two-phase expand/aggregate; the part dim
    broadcast-prunes before the fact scan aggregates."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#1")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q20_excess_stock_suppliers",
    oracle="""
    WITH red_parts AS (SELECT p_partkey FROM part WHERE contains(p_name, 'red')),
    heavy AS (
      SELECT l_suppkey
      FROM lineitem JOIN red_parts ON p_partkey = l_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_suppkey, l_partkey
      HAVING sum(l_quantity) > 50
    )
    SELECT DISTINCT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM heavy)
    ORDER BY s_suppkey
    """,
    tags=("flagship", "join", "semi", "having"),
)
def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who moved >50 units of some 'red' part
    in 1997 (adapted: availability comes from shipped quantities — no
    partsupp). IN-subquery becomes semi join onto a group-having
    pre-aggregation; the part filter broadcasts into the fact scan."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    heavy = (
        l.join(F.broadcast(p.select("p_partkey")),
               F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    return (
        s.join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .distinct()
    )


@register(
    "q12_priority_shipping",
    oracle="""
    SELECT year(l_shipdate) AS ship_year,
           count(*) FILTER (o_orderpriority IN ('1-URGENT', '2-HIGH'))
             AS high_line_count,
           count(*) FILTER (o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
             AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate
    GROUP BY ship_year
    """,
    tags=("flagship", "join", "agg", "conditional"),
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: late-shipped lines split into high/low priority
    counts per year (adapted: no shipmode column — grouped by ship year).
    Conditional counts via sum-of-when, one shuffle."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH costs AS (
      SELECT l_partkey AS p_key, l_suppkey AS suppkey,
             min(l_extendedprice) AS supply_cost
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_size = 15 AND p_type = 'PROMO'
      GROUP BY 1, 2
    ),
    eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    ranked AS (
      SELECT c.p_key, c.supply_cost, eu.s_name, eu.s_acctbal, eu.n_name,
             min(c.supply_cost) OVER (PARTITION BY c.p_key) AS best_cost
      FROM costs c JOIN eu ON c.suppkey = eu.s_suppkey
    )
    SELECT s_acctbal, s_name, n_name, p_key AS p_partkey,
           supply_cost AS min_cost
    FROM ranked WHERE supply_cost = best_cost
    """,
    tags=("flagship", "join", "window", "correlated"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest European supplier per qualifying part
    (adapted: no partsupp — supply cost is the min extended price each
    supplier ever charged for the part, from lineitem; min() is
    order-independent so no float-accumulation divergence).

    The correlated min-subquery becomes a window min over the part key:
    the grouped costs frame is shuffled once on (partkey, suppkey) and the
    window reuses that partitioning's output — no second fact shuffle. The
    supplier/nation/region dim chain is broadcast. At 100 TB: costs is
    |parts x suppliers-per-part|, orders of magnitude smaller than
    lineitem, so the window input is already reduced."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "PROMO")
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    costs = (
        l.join(F.broadcast(p.select("p_partkey")),
               F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.col("l_partkey").alias("p_key"),
                 F.col("l_suppkey").alias("suppkey"))
        .agg(F.min("l_extendedprice").alias("supply_cost"))
    )
    eu = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    w = Window.partitionBy("p_key")
    return (
        costs.join(F.broadcast(eu), F.col("suppkey") == F.col("s_suppkey"))
        .withColumn("best_cost", F.min("supply_cost").over(w))
        .filter(F.col("supply_cost") == F.col("best_cost"))
        .select(
            "s_acctbal", "s_name", "n_name",
            F.col("p_key").alias("p_partkey"),
            F.col("supply_cost").alias("min_cost"),
        )
    )


@register(
    "q8_market_share",
    oracle=f"""
    WITH all_nations AS (
      SELECT year(o_orderdate) AS o_year,
             {REVENUE_DEC_SQL} AS volume_dec,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    )
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_7'
                               THEN volume_dec ELSE CAST(0 AS DECIMAL(18,4)) END)
                      AS DOUBLE)
                 / CAST(sum(volume_dec) AS DOUBLE), 6) AS mkt_share
    FROM all_nations GROUP BY o_year
    """,
    tags=("flagship", "join", "agg", "conditional"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_7's share of ECONOMY-part revenue sold into
    ASIA per order year. Eight-way join: both nation copies, region, part,
    supplier broadcast; the lineitem⨝orders⨝customer fact chain shuffles on
    its keys. The share is a conditional decimal sum over a total decimal
    sum — exact in both engines, divided as double and rounded to 6dp."""
    cutlo = F.lit("1995-01-01 00:00:00").cast("timestamp")
    cuthi = F.lit("1997-01-01 00:00:00").cast("timestamp")
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= cutlo) & (F.col("o_orderdate") < cuthi)
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = n.select(F.col("n_nationkey").alias("c_nkey"),
                  F.col("n_regionkey").alias("c_rkey"))
    n2 = n.select(F.col("n_nationkey").alias("s_nkey"),
                  F.col("n_name").alias("supp_nation"))
    vol = revenue_dec()
    joined = (
        l.join(F.broadcast(p.select("p_partkey")),
               F.col("p_partkey") == F.col("l_partkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
              F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(r.select("r_regionkey")),
              F.col("c_rkey") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nkey"))
    )
    zero = F.lit(0).cast("decimal(18,4)")
    nation_vol = F.when(F.col("supp_nation") == "NATION_7", vol).otherwise(zero)
    return (
        joined.select(F.year("o_orderdate").alias("o_year"),
                      vol.alias("volume_dec"),
                      nation_vol.alias("nation_dec"))
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum("nation_dec").cast("double")
                / F.sum("volume_dec").cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


@register(
    "q11_important_stock",
    oracle="""
    WITH supplied AS (
      SELECT l_partkey AS p_key,
             CAST(l_extendedprice AS DECIMAL(12,2)) AS price_dec
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'AFRICA'
    ),
    per_part AS (
      SELECT p_key, sum(price_dec) AS value_dec FROM supplied GROUP BY p_key
    ),
    total AS (SELECT sum(value_dec) AS total_dec FROM per_part)
    SELECT p_key AS p_partkey,
           CAST(round(value_dec, 2) AS DOUBLE) AS part_value
    FROM per_part, total
    WHERE CAST(value_dec AS DOUBLE) > CAST(total_dec AS DOUBLE) * 0.0005
    """,
    tags=("flagship", "agg", "scalar-subquery"),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose African-supplied value exceeds a fixed
    fraction of the total (adapted: no partsupp — value is the decimal sum
    of extended prices shipped by AFRICA-region suppliers). The scalar
    subquery (global total) is a one-row aggregate cross-joined back —
    Spark broadcasts the single row, so no second pass over the fact and
    no driver round-trip. Supplier/nation/region broadcast; one shuffle
    on the part key."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AFRICA")
    african = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    per_part = (
        l.join(F.broadcast(african), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy(F.col("l_partkey").alias("p_key"))
        .agg(F.sum(dec2(F.col("l_extendedprice"))).alias("value_dec"))
    )
    total = per_part.agg(F.sum("value_dec").alias("total_dec"))
    return (
        per_part.join(F.broadcast(total))
        .filter(
            F.col("value_dec").cast("double")
            > F.col("total_dec").cast("double") * 0.0005
        )
        .select(
            F.col("p_key").alias("p_partkey"),
            F.round(F.col("value_dec"), 2).cast("double").alias("part_value"),
        )
    )
