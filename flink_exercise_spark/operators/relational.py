"""Relational operators over the star-schema fixtures — SURVEY.md §7.4.

The reference has no joins/sorts/set-ops (SURVEY.md §2.5, grep-verified
absent from StreamingJob.scala); Spark SQL provides them. We *surface
and test* them as engine capability because the driver fixtures form a
TPC-H-style star schema and a 100 TB deployment lives on exactly these
shapes.

Scale notes per operator family:
- Dim joins (region/nation/customer/part/supplier): broadcast — the
  build side is KBs..GBs at any realistic SF, so no shuffle of the fact
  table. `F.broadcast` hints make that explicit rather than relying on
  the size estimator (fixtures are tiny; estimator would broadcast
  anyway, but at sf100k a mis-estimated dim must still broadcast).
- Fact-fact joins (orders⋈lineitem): shuffle hash/sort-merge on the
  join key; AQE handles skew splits. At 100 TB, bucketing both tables
  on orderkey at write time removes this shuffle entirely — the loader
  (sources/tables.py) is the seam where bucketed layout plugs in.
- rollup/cube: Spark plans these as Expand + single hash aggregate —
  one shuffle, rows multiplied by the number of grouping sets before
  partial aggregation (partial agg keeps shuffle volume ~ #groups).
- Global sorts (ORDER BY ... LIMIT k): Spark uses TakeOrderedAndProject
  — per-partition top-k then a single driver merge; no full sort at any
  scale when k is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_exercise_spark.registry import register
from flink_exercise_spark.session import prep
from flink_exercise_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(prep(spark), sf_dir, name)


# ---------------------------------------------------------------------------
# TPC-H-shaped analytics
# ---------------------------------------------------------------------------

@register(
    "tpch_q1_pricing_summary",
    # Pin: tests/test_rotation_pins.py
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                AS sum_qty,
           round(sum(l_extendedprice), 2)                           AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)        AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
                                                                    AS sum_charge,
           round(avg(l_quantity), 4)                                AS avg_qty,
           round(avg(l_extendedprice), 4)                           AS avg_price,
           round(avg(l_discount), 4)                                AS avg_disc,
           count(*)                                                 AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: pricing summary report over lineitem",
    tags=("relational", "lineitem"),
)
def q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "tpch_q3_shipping_priority",
    # Pin: tests/test_rotation_pins.py
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, orderdate, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape: top unshipped orders by revenue "
        "(broadcast dim join + fact-fact join + TakeOrdered top-k)",
    tags=("relational", "join", "topk"),
)
def q_tpch_q3(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier_volume",
    # Pin: tests/test_rotation_pins.py
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    doc="TPC-H Q5 shape: revenue by nation through a 6-table join chain",
    tags=("relational", "join"),
)
def q_tpch_q5(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "tpch_q6_forecast_revenue",
    # Pin: tests/test_rotation_pins.py
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: scan-heavy filtered aggregate "
        "(all predicates push into the parquet scan)",
    tags=("relational", "lineitem", "scan"),
)
def q_tpch_q6(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .groupBy()
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
              .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q14_promo_revenue",
    # Pin: tests/test_rotation_pins.py
    oracle="""
    SELECT round(100.00 * sum(CASE WHEN p_type = 'PROMO'
                                   THEN l_extendedprice * (1 - l_discount)
                                   ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4)
             AS promo_revenue_pct,
           count(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
    doc="TPC-H Q14 shape: promotion revenue share for one ship month — "
        "fact scan with pushed date range, part dim broadcast "
        "(plan-asserted), conditional aggregate",
    tags=("relational", "join", "part"),
)
def q_tpch_q14(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy()
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias(
                "promo_revenue_pct"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Join variants
# ---------------------------------------------------------------------------

@register(
    "join_semi_anti_customers",
    # Pin: tests/test_rotation_pins.py
    oracle="""
    SELECT 'with_orders' AS side, c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    UNION ALL
    SELECT 'without_orders' AS side, c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    doc="Left-semi (EXISTS) and left-anti (NOT EXISTS) joins in one "
        "partitioned result: customers with vs without orders",
    tags=("relational", "join"),
)
def q_semi_anti(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    semi = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select(F.lit("with_orders").alias("side"), "c_custkey", "c_name")
    anti = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select(F.lit("without_orders").alias("side"), "c_custkey", "c_name")
    return semi.unionAll(anti)


@register(
    "join_outer_order_counts",
    # Pandas pin: tests/test_rotation_pins.py.
    oracle="""
    SELECT c_custkey, count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 2) AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
    doc="Left-outer join preserving customers with zero orders",
    tags=("relational", "join"),
)
def q_outer(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spend"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Multi-dimensional aggregation
# ---------------------------------------------------------------------------

@register(
    "cube_orders_status_priority",
    # Pandas pin: tests/test_rotation_pins.py.
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
           round(avg(o_totalprice), 4) AS avg_price
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE over order status x priority",
    tags=("relational", "groupingsets"),
)
def q_cube(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
    )


@register(
    "grouping_sets_lineitem",
    # Pandas pin: tests/test_rotation_pins.py.
    # The four explicit sets are ROLLUP(l_returnflag, l_linestatus)
    # plus the (l_linestatus) slice — one entry covering both the
    # ROLLUP hierarchy and arbitrary GROUPING SETS (Spark plans either
    # as Expand + a single shuffle).
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), (l_linestatus), ())
    """,
    doc="GROUPING SETS superset of ROLLUP(l_returnflag, l_linestatus): "
        "full, per-flag, per-status, and grand totals",
    tags=("relational", "groupingsets"),
)
def q_grouping_sets(spark, sf_dir):
    prep(spark)
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), (l_linestatus), ())
        """
    )


# ---------------------------------------------------------------------------
# Sorts, limits, set operations, scalar functions
# ---------------------------------------------------------------------------

@register(
    "sort_limit_top_orders",
    # Pandas pin: tests/test_rotation_pins.py.
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS totalprice, o_orderpriority
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    doc="Global top-k (TakeOrderedAndProject — no full sort at scale)",
    tags=("relational", "sort"),
)
def q_sort_limit(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "o_orderpriority",
        )
    )


@register(
    "union_orders_and_purchases",
    # Pandas pin: tests/test_rotation_pins.py.
    oracle="""
    SELECT 'order' AS src, o_orderkey AS id, round(o_totalprice, 2) AS amount
    FROM orders WHERE o_totalprice > 400000
    UNION ALL
    SELECT 'event' AS src, event_id AS id, round(value, 2) AS amount
    FROM events WHERE event_type = 'purchase'
    """,
    doc="UNION ALL across heterogeneous sources aligned to one schema",
    tags=("relational", "setop"),
)
def q_union(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    events = _t(spark, sf_dir, "events")
    a = orders.filter(F.col("o_totalprice") > 400000).select(
        F.lit("order").alias("src"),
        F.col("o_orderkey").alias("id"),
        F.round("o_totalprice", 2).alias("amount"),
    )
    b = events.filter(F.col("event_type") == "purchase").select(
        F.lit("event").alias("src"),
        F.col("event_id").alias("id"),
        F.round("value", 2).alias("amount"),
    )
    return a.unionAll(b)


@register(
    "intersect_except_custkeys",
    # Pin: tests/test_rotation_pins.py
    oracle="""
    SELECT 'both' AS side, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT o_custkey FROM orders
    )
    UNION ALL
    SELECT 'only_building' AS side, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      EXCEPT
      SELECT o_custkey FROM orders
    )
    """,
    doc="INTERSECT / EXCEPT set operations",
    tags=("relational", "setop"),
)
def q_setops(spark, sf_dir):
    building = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    ordered = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    both = building.intersect(ordered).select(
        F.lit("both").alias("side"), "c_custkey"
    )
    only = building.subtract(ordered).select(
        F.lit("only_building").alias("side"), "c_custkey"
    )
    return both.unionAll(only)


@register(
    "scalar_functions_showcase",
    # Pandas pin: tests/test_rotation_pins.py.
    oracle="""
    SELECT o_orderkey,
           upper(substr(o_orderpriority, 1, 8))       AS pri_code,
           length(o_orderstatus)                      AS status_len,
           CAST(year(o_orderdate) AS INT)             AS order_year,
           CAST(month(o_orderdate) AS INT)            AS order_month,
           round(sqrt(o_totalprice), 4)               AS sqrt_price,
           CAST(o_orderkey % 7 AS BIGINT)             AS key_mod,
           concat(o_orderstatus, '-', o_orderpriority) AS status_pri
    FROM orders
    WHERE o_orderkey < 100
    """,
    doc="String/date/math scalar function coverage (P-series analog)",
    tags=("relational", "scalar"),
)
def q_scalars(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") < 100).select(
        "o_orderkey",
        F.upper(F.substring("o_orderpriority", 1, 8)).alias("pri_code"),
        F.length("o_orderstatus").alias("status_len"),
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        F.round(F.sqrt("o_totalprice"), 4).alias("sqrt_price"),
        (F.col("o_orderkey") % 7).cast("bigint").alias("key_mod"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_pri"),
    )
