"""Round-2 relational surface: the remaining TPC-H query shapes the engine
should express, plus operator families (funnel, gap-fill, range join,
grouping sets, multiset ops, JSON extraction, fuzzy match) a production
analytics engine exposes.

Determinism follows the registry contract (queries/__init__.py): money in
exact scaled integers, timestamps as epoch integers, division only on
identically-shaped doubles, deterministic tiebreaks under LIMIT.

Reference parity note: the reference has no SQL frontend (SURVEY.md §3 --
its "queries" are YAML stages over src/data_processor.py:15-42); these
queries extend the rebuilt surface per the driver's north star, exercising
the same join/aggregate/window machinery the reference's correlation
pipeline (src/batch_tlb.py:20-85) needs at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from odp_dynamic_data_pipeline_spark.queries import register
from odp_dynamic_data_pipeline_spark.sources.catalog import load_table, register_views


def _cents(col: str) -> Column:
    return F.expr(f"CAST(ROUND({col} * 100, 0) AS BIGINT)")


def _rev_e4() -> Column:
    """extendedprice * (1 - discount) in exact 1e-4 dollars."""
    return _cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))


REV_E4_SQL = (
    "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"
    " * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))"
)


# ---------------------------------------------------------------------------
# TPC-H shapes
# ---------------------------------------------------------------------------


@register(
    "q4_order_priority",
    """
SELECT o.o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o.o_orderpriority
""",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join (one pass
    over the fact, no duplicate inflation)."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        o.join(l.select("l_orderkey"), o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "q7_volume_shipping",
    f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l.l_shipdate) AS l_year,
       CAST(CAST(SUM({REV_E4_SQL}) AS BIGINT) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem l
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
WHERE n1.n_name <> n2.n_name
GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
""",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-nation trade volume by year.  Fact shuffles
    once on l_orderkey; all dimensions broadcast."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    joined = (
        l.select("l_orderkey", "l_suppkey", F.year("l_shipdate").alias("l_year"),
                 _rev_e4().alias("rev_e4"))
        .join(o.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        # customer/supplier scale with the data: no forced broadcast (the
        # size threshold/AQE decides); only fixed-cardinality nation/region
        # carry hints
        .join(c.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(s.select("s_suppkey", F.col("s_nationkey").alias("s_nk")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n.select(F.col("n_nationkey").alias("nk1"),
                                   F.col("n_name").alias("supp_nation"))),
              F.col("s_nk") == F.col("nk1"))
        .join(F.broadcast(n.select(F.col("n_nationkey").alias("nk2"),
                                   F.col("n_name").alias("cust_nation"))),
              F.col("c_nationkey") == F.col("nk2"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
    )
    return joined.groupBy("supp_nation", "cust_nation", "l_year").agg(
        (F.sum(F.col("rev_e4").cast("decimal(38,0)")).cast("double") / F.lit(10000.0)).alias("revenue")
    )


@register(
    "q8_market_share",
    f"""
WITH base AS (
  SELECT year(o.o_orderdate) AS o_year, {REV_E4_SQL} AS rev_e4, r2.r_name AS supp_region
  FROM lineitem l
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
  JOIN region r1  ON r1.r_regionkey = n1.n_regionkey AND r1.r_name = 'AMERICA'
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
  JOIN region r2  ON r2.r_regionkey = n2.n_regionkey
)
SELECT o_year,
       CAST(CAST(SUM(CASE WHEN supp_region = 'ASIA' THEN rev_e4 ELSE 0 END) AS BIGINT) AS DOUBLE)
       / CAST(CAST(SUM(rev_e4) AS BIGINT) AS DOUBLE) AS mkt_share
FROM base
GROUP BY o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: ASIA suppliers' share of AMERICA-customer revenue by
    year.  Share = ratio of two exact integer sums, divided as doubles with
    the identical expression shape on both engines."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    base = (
        l.select("l_orderkey", "l_suppkey", _rev_e4().alias("rev_e4"))
        .join(o.select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c.select("c_custkey", F.col("c_nationkey").alias("c_nk")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n.select(F.col("n_nationkey").alias("nk1"),
                                   F.col("n_regionkey").alias("rk1"))),
              F.col("c_nk") == F.col("nk1"))
        .join(F.broadcast(r.where(F.col("r_name") == "AMERICA")
                          .select(F.col("r_regionkey").alias("rr1"))),
              F.col("rk1") == F.col("rr1"))
        .join(s.select("s_suppkey", F.col("s_nationkey").alias("s_nk")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n.select(F.col("n_nationkey").alias("nk2"),
                                   F.col("n_regionkey").alias("rk2"))),
              F.col("s_nk") == F.col("nk2"))
        .join(F.broadcast(r.select(F.col("r_regionkey").alias("rr2"),
                                   F.col("r_name").alias("supp_region"))),
              F.col("rk2") == F.col("rr2"))
    )
    asia = F.sum(F.when(F.col("supp_region") == "ASIA", F.col("rev_e4")).otherwise(F.lit(0)).cast("decimal(38,0)"))
    return base.groupBy("o_year").agg(
        (asia.cast("double") / F.sum(F.col("rev_e4").cast("decimal(38,0)")).cast("double")).alias("mkt_share")
    )


@register(
    "q9_product_profit",
    f"""
SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
       CAST(CAST(SUM({REV_E4_SQL}
                     - CAST(ROUND(l.l_quantity, 0) AS BIGINT)
                       * CAST(ROUND(p.p_retailprice * 100, 0) AS BIGINT) * 100)
            AS BIGINT) AS DOUBLE) / 10000.0 AS profit
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%widget%'
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
GROUP BY n.n_name, year(o.o_orderdate)
""",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue - qty * retail cost) by supplier
    nation and order year, for widget parts.  Quantities are integral in
    the data, so cost is exact in 1e-4 dollars like revenue."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    cost_e4 = (
        F.expr("CAST(ROUND(l_quantity, 0) AS BIGINT)")
        * _cents("p_retailprice") * F.lit(100)
    )
    joined = (
        l.select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
                 _rev_e4().alias("rev_e4"))
        .join(p.select("p_partkey", "p_retailprice"),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(s.select("s_suppkey", "s_nationkey"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n.select("n_nationkey", F.col("n_name").alias("nation"))),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o.select("o_orderkey", F.year("o_orderdate").alias("o_year")),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select("nation", "o_year", (F.col("rev_e4") - cost_e4).alias("profit_e4"))
    )
    return joined.groupBy("nation", "o_year").agg(
        (F.sum(F.col("profit_e4").cast("decimal(38,0)")).cast("double") / F.lit(10000.0))
        .alias("profit")
    )


@register(
    "q10_returned_top20",
    f"""
SELECT c.c_custkey, c.c_name, n.n_name,
       CAST(CAST(SUM({REV_E4_SQL}) AS BIGINT) AS DOUBLE) / 10000.0 AS revenue
FROM customer c
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
JOIN nation n   ON n.n_nationkey = c.c_nationkey
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY CAST(SUM({REV_E4_SQL}) AS BIGINT) DESC, c.c_custkey
LIMIT 20
""",
)
def q10_returned_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue.  LIMIT
    under an exact-integer sort key + custkey tiebreak is deterministic."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    agg = (
        l.select("l_orderkey", _rev_e4().alias("rev_e4"))
        .join(o.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c.select("c_custkey", "c_name", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(F.col("rev_e4").cast("decimal(38,0)")).cast("long").alias("rev_e4"))
    )
    return (
        agg.orderBy(F.col("rev_e4").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "n_name",
                (F.col("rev_e4").cast("double") / F.lit(10000.0)).alias("revenue"))
    )


@register(
    "q11_value_concentration",
    f"""
WITH pv AS (
  SELECT l_partkey, CAST(SUM({REV_E4_SQL}) AS BIGINT) AS v_e4
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, CAST(v_e4 AS DOUBLE) / 10000.0 AS part_value
FROM pv
WHERE v_e4 * (SELECT COUNT(*) FROM pv) * 100 > 125 * (SELECT CAST(SUM(v_e4) AS BIGINT) FROM pv)
""",
)
def q11_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts holding > 1.25x the mean per-part lineitem
    value (scale-invariant, unlike Q11's absolute fraction).  The test is
    exact integer arithmetic cross-multiplied (v * n * 100 > 125 * total),
    no double thresholds; the scalar aggregates broadcast."""
    l = load_table(spark, sf_dir, "lineitem")
    pv = (
        l.select("l_partkey", _rev_e4().alias("rev_e4"))
        .groupBy("l_partkey")
        .agg(F.sum(F.col("rev_e4").cast("decimal(38,0)")).cast("long").alias("v_e4"))
    )
    total = pv.agg(F.sum("v_e4").alias("total_e4"), F.count(F.lit(1)).alias("n_parts"))
    return (
        pv.crossJoin(F.broadcast(total))
        .where(F.col("v_e4") * F.col("n_parts") * 100 > F.lit(125) * F.col("total_e4"))
        .select("l_partkey", (F.col("v_e4").cast("double") / F.lit(10000.0)).alias("part_value"))
    )


@register(
    "q13_customer_distribution",
    """
WITH co AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM co GROUP BY c_count
""",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: two-level aggregation -- orders per customer
    (left join keeps zero-order customers), then customers per order
    count."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    co = (
        c.select("c_custkey")
        .join(o.select("o_custkey", "o_orderkey"),
              F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return co.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q15_top_supplier",
    f"""
WITH rev AS (
  SELECT l_suppkey, CAST(SUM({REV_E4_SQL}) AS BIGINT) AS total_e4
  FROM lineitem GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(total_e4 AS DOUBLE) / 10000.0 AS total_revenue
FROM supplier s
JOIN rev ON rev.l_suppkey = s.s_suppkey
WHERE total_e4 = (SELECT MAX(total_e4) FROM rev)
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) attaining the maximum revenue -- the
    scalar-max subquery broadcasts; ties all surface (exact integer max,
    no double comparison)."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        l.select("l_suppkey", _rev_e4().alias("rev_e4"))
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("rev_e4").cast("decimal(38,0)")).cast("long").alias("total_e4"))
    )
    mx = rev.agg(F.max("total_e4").alias("max_e4"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_e4") == F.col("max_e4"))
        .join(s.select("s_suppkey", "s_name"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name",
                (F.col("total_e4").cast("double") / F.lit(10000.0)).alias("total_revenue"))
    )


@register(
    "q16_supplier_count",
    """
SELECT p.p_brand, p.p_type, p.p_size, COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM part p
JOIN lineitem l ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
GROUP BY p.p_brand, p.p_type, p.p_size
""",
)
def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute triple
    with dimension-side predicates (pushed to the part scan)."""
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.select("l_partkey", "l_suppkey")
        .join(p.select("p_partkey", "p_brand", "p_type", "p_size"),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q22_dormant_customers",
    """
WITH pos AS (
  SELECT CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cents
  FROM customer WHERE c_acctbal > 0.0
),
stats AS (SELECT CAST(SUM(cents) AS BIGINT) AS total, COUNT(*) AS n FROM pos)
SELECT c.c_custkey,
       CAST(CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT) AS DOUBLE) / 100.0 AS acctbal
FROM customer c, stats
WHERE CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT) * stats.n > stats.total
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
""",
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average (positive) balance and
    no OPEN orders (every customer has some order in the testdata; dormancy
    = nothing currently open).  The average test is cross-multiplied into
    exact integers (cents * n > total) -- no double average crosses the
    engine boundary; the no-open-orders test is a left-anti join."""
    c = load_table(spark, sf_dir, "customer").withColumn("cents", _cents("c_acctbal"))
    o = load_table(spark, sf_dir, "orders")
    stats = (
        c.where(F.col("c_acctbal") > 0.0)
        .agg(F.sum("cents").alias("total"), F.count(F.lit(1)).alias("n"))
    )
    open_orders = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    return (
        c.crossJoin(F.broadcast(stats))
        .where(F.col("cents") * F.col("n") > F.col("total"))
        .join(open_orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", (F.col("cents").cast("double") / F.lit(100.0)).alias("acctbal"))
    )


# ---------------------------------------------------------------------------
# Operator families beyond TPC-H
# ---------------------------------------------------------------------------


@register(
    "funnel_stages",
    """
WITH v AS (SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2 FROM events e
      JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1 GROUP BY e.user_id),
p AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3 FROM events e
      JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2 GROUP BY e.user_id)
SELECT v.user_id, v.t1 AS first_view_us, c.t2 AS first_click_us, p.t3 AS first_purchase_us
FROM v LEFT JOIN c ON c.user_id = v.user_id LEFT JOIN p ON p.user_id = v.user_id
""",
)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase): first click
    strictly after the first view, first purchase strictly after that
    click.  Each stage is a groupBy + broadcast join back -- no window over
    the full event stream.  Comparisons in epoch micros on both engines
    (events.parquet is nanos; micros is the common truncation)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    # stage tables are per-user aggregates: they scale with the user base,
    # so no broadcast hints -- AQE broadcasts while small, shuffles at scale
    v = ev.where(F.col("event_type") == "view").groupBy("user_id").agg(F.min("us").alias("t1"))
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", F.col("t1").alias("first_view_us"),
                F.col("t2").alias("first_click_us"), F.col("t3").alias("first_purchase_us"))
    )


@register(
    "user_hour_gapfill",
    """
WITH spans AS (
  SELECT user_id,
         CAST(date_trunc('hour', MIN(ts)) AS TIMESTAMP) AS h0,
         CAST(date_trunc('hour', MAX(ts)) AS TIMESTAMP) AS h1
  FROM events GROUP BY user_id
),
grid AS (SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM spans),
cnts AS (SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, COUNT(*) AS n
         FROM events GROUP BY 1, 2)
SELECT g.user_id, CAST(epoch(g.h) AS BIGINT) AS hour_epoch, COALESCE(c.n, 0) AS n_events
FROM grid g LEFT JOIN cnts c ON c.user_id = g.user_id AND c.h = g.h
""",
)
def user_hour_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: a dense per-user hourly grid (sequence +
    explode) left-joined to observed hourly counts, zeros filled.  The
    grid generation is per-group and arithmetic -- no driver loop, no UDF."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    )
    spans = ev.groupBy("user_id").agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = spans.select(
        "user_id", F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h")
    )
    cnts = ev.groupBy("user_id", "h").agg(F.count(F.lit(1)).alias("n"))
    return (
        grid.join(cnts, ["user_id", "h"], "left")
        .select(
            "user_id",
            F.unix_timestamp("h").alias("hour_epoch"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        )
    )


@register(
    "props_json_stats",
    """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
       COUNT(*) AS n
FROM events
GROUP BY event_type
""",
)
def props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction (reference F3 family: JSON values in
    Redis / files, src/data_processor.py:98,112): pull a typed field out of
    a JSON string column and aggregate it.  get_json_object evaluates
    JVM-side -- no Python in the path."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "k", F.get_json_object("props", "$.k").cast("long")
    )
    return ev.groupBy("event_type").agg(
        F.sum("k").alias("k_sum"),
        F.min("k").alias("k_min"),
        F.max("k").alias("k_max"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "variant_semistructured_rollup",
    """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS vc_sum,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
       CAST(0 AS BIGINT) AS n_missing
FROM events GROUP BY event_type
""",
)
def variant_semistructured_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path for semi-structured data: serialize a nested
    record to JSON once, ``parse_json`` it into the binary VARIANT
    encoding, then extract typed fields with ``variant_get`` path
    expressions -- the open-format answer to schema-on-read JSON columns
    (shredded binary beats per-access string re-parsing at 100 TB;
    ``try_variant_get`` on a path the constructed record NEVER contains
    must yield NULL every row, so its count is structurally zero -- the
    oracle states that literal, and any Spark-side deviation from
    NULL-on-absent breaks the hash).  The oracle recomputes every other
    extracted value from the base columns, proving the JSON -> VARIANT ->
    typed-path round trip is value-exact."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json(
        F.to_json(
            F.struct(
                F.col("event_id").alias("id"),
                F.struct(
                    F.col("user_id").alias("uid"),
                    F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("vc"),
                ).alias("u"),
                F.get_json_object("props", "$.k").cast("long").alias("k"),
            )
        )
    )
    ev = ev.select("event_type", v.alias("v"))
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.expr("variant_get(v, '$.u.vc', 'bigint')")).cast("long").alias("vc_sum"),
        F.max(F.expr("variant_get(v, '$.k', 'bigint')")).alias("k_max"),
        F.count(F.expr("try_variant_get(v, '$.missing', 'bigint')")).alias("n_missing"),
    )


@register(
    "range_join_value_tiers",
    """
WITH tiers(tier, lo_c, hi_c) AS (
  VALUES ('low', 0, 10000), ('mid', 10000, 25000), ('high', 25000, 50100)
),
e AS (SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS v_cents FROM events)
SELECT t.tier, COUNT(*) AS n_events,
       CAST(CAST(SUM(e.v_cents) AS BIGINT) AS DOUBLE) / 100.0 AS total_value
FROM e JOIN tiers t ON e.v_cents >= t.lo_c AND e.v_cents < t.hi_c
GROUP BY t.tier
""",
)
def range_join_value_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: events banded into value tiers via a
    broadcast nested-loop join against a 3-row bounds table.  The fact side
    never shuffles for the join; tier bounds are exact cents.

    BNLJ is row-at-a-time (no whole-stage codegen), so the probe side is
    fanned out first -- a single-row-group scan would otherwise evaluate
    every (row, tier) pair on one core."""
    from odp_dynamic_data_pipeline_spark.operators.partitioning import ensure_min_parallelism

    ev = ensure_min_parallelism(
        load_table(spark, sf_dir, "events").select(_cents("value").alias("v_cents"))
    )
    from odp_dynamic_data_pipeline_spark.functions.localrel import local_relation

    tiers = local_relation(
        load_table(spark, sf_dir, "events").sparkSession,
        [("low", 0, 10000), ("mid", 10000, 25000), ("high", 25000, 50100)],
        "tier string, lo_c long, hi_c long",
    )
    return (
        ev.join(F.broadcast(tiers),
                (F.col("v_cents") >= F.col("lo_c")) & (F.col("v_cents") < F.col("hi_c")))
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("v_cents").cast("double") / F.lit(100.0)).alias("total_value"),
        )
    )


@register(
    "grouping_sets_revenue",
    """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
       CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
       CAST(CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS DOUBLE)
         / 100.0 AS sum_price,
       COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus), ())
""",
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with GROUPING() flags (distinguishes 'NULL
    because not grouped' from data nulls) -- through the SQL frontend, the
    engine's second query surface."""
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
               CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
                 / 100.0 AS sum_price,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                (l_returnflag, l_linestatus), ())
        """
    )


@register(
    "exceptall_custkeys",
    """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
EXCEPT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
""",
)
def exceptall_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset difference (EXCEPT ALL): per-customer surplus of open over
    finished orders, preserving multiplicity -- the bag-semantics
    counterpart of the set ops already covered."""
    o = load_table(spark, sf_dir, "orders")
    open_ = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    fin = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_.exceptAll(fin)


@register(
    "levenshtein_name_match",
    """
SELECT c_custkey, c_name, levenshtein(c_name, 'Customer#000000042') AS edit_dist
FROM customer
WHERE levenshtein(c_name, 'Customer#000000042') <= 2
""",
)
def levenshtein_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching: edit-distance probe against a pattern
    (entity-resolution primitive; JVM built-in levenshtein, no UDF)."""
    c = load_table(spark, sf_dir, "customer")
    d = F.levenshtein(F.col("c_name"), F.lit("Customer#000000042"))
    return c.select("c_custkey", "c_name", d.alias("edit_dist")).where(d <= 2)


@register(
    "q2_min_cost_supplier",
    f"""
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS price_c
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
mn AS (SELECT l_partkey, MIN(price_c) AS m FROM ps GROUP BY l_partkey)
SELECT p.p_partkey, p.p_brand, s.s_suppkey, s.s_name,
       CAST(ps.price_c AS DOUBLE) / 100.0 AS supply_value
FROM ps
JOIN mn ON mn.l_partkey = ps.l_partkey AND ps.price_c = mn.m
JOIN part p ON p.p_partkey = ps.l_partkey
JOIN supplier s ON s.s_suppkey = ps.l_suppkey
WHERE p.p_size <= 10
""",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per part, the supplier(s) attaining the minimum
    supply value (correlated-min decorrelated into an aggregate + join on
    the exact integer min; ties all surface).  lineitem plays partsupp --
    the testdata has no partsupp table."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_size") <= 10)
    s = load_table(spark, sf_dir, "supplier")
    ps = (
        l.select("l_partkey", "l_suppkey", _cents("l_extendedprice").alias("price_c"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("price_c").alias("price_c"))
    )
    mn = ps.groupBy("l_partkey").agg(F.min("price_c").alias("m"))
    return (
        ps.join(mn.withColumnRenamed("l_partkey", "mk"),
                (F.col("mk") == F.col("l_partkey")) & (F.col("price_c") == F.col("m")))
        .join(p.select("p_partkey", "p_brand"), F.col("l_partkey") == F.col("p_partkey"))
        .join(s.select("s_suppkey", "s_name"), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "p_brand", "s_suppkey", "s_name",
                (F.col("price_c").cast("double") / F.lit(100.0)).alias("supply_value"))
    )


@register(
    "q20_dominant_suppliers",
    """
WITH sq AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
pt AS (SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS total FROM sq GROUP BY l_partkey)
SELECT s.s_suppkey, s.s_name, COUNT(*) AS n_dominant_parts
FROM sq
JOIN pt ON pt.l_partkey = sq.l_partkey
JOIN supplier s ON s.s_suppkey = sq.l_suppkey
WHERE sq.qty * 8 > pt.total
GROUP BY s.s_suppkey, s.s_name
""",
)
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers providing > 1/8 of a part's shipped
    quantity (two-level aggregation + exact cross-multiplied fraction:
    qty * 8 > total; the testdata spreads parts across ~100 suppliers, so
    Q20's literal half-share threshold selects nothing)."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    sq = (
        l.select("l_partkey", "l_suppkey", F.expr("CAST(ROUND(l_quantity, 0) AS BIGINT)").alias("q"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("q").alias("qty"))
    )
    pt = sq.groupBy("l_partkey").agg(F.sum("qty").alias("total"))
    return (
        sq.join(pt.withColumnRenamed("l_partkey", "pk"), F.col("pk") == F.col("l_partkey"))
        .where(F.col("qty") * 8 > F.col("total"))
        .join(s.select("s_suppkey", "s_name"), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_dominant_parts"))
    )


@register(
    "q21_sole_return_supplier",
    """
WITH lo AS (
  SELECT l_orderkey, l_suppkey,
         MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
  FROM lineitem GROUP BY l_orderkey, l_suppkey
),
agg AS (SELECT l_orderkey, COUNT(*) AS n_supp, SUM(ret) AS n_ret FROM lo GROUP BY l_orderkey)
SELECT s.s_suppkey, s.s_name, COUNT(*) AS n_orders
FROM lo
JOIN agg ON agg.l_orderkey = lo.l_orderkey
JOIN supplier s ON s.s_suppkey = lo.l_suppkey
WHERE lo.ret = 1 AND agg.n_ret = 1 AND agg.n_supp > 1
GROUP BY s.s_suppkey, s.s_name
""",
)
def q21_sole_return_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: on multi-supplier orders, the supplier who is the
    ONLY one with returned items (the exists/not-exists pair decorrelated
    into per-order counts)."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    lo = (
        l.groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("ret"))
    )
    agg = lo.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("ret").alias("n_ret")
    )
    return (
        lo.join(agg.withColumnRenamed("l_orderkey", "ok"), F.col("ok") == F.col("l_orderkey"))
        .where((F.col("ret") == 1) & (F.col("n_ret") == 1) & (F.col("n_supp") > 1))
        .join(s.select("s_suppkey", "s_name"), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "window_fn_zoo",
    """
SELECT c_custkey, c_nationkey,
       dense_rank() OVER w AS dr,
       cume_dist() OVER w AS cd,
       first_value(c_custkey) OVER wf AS first_ck,
       last_value(c_custkey) OVER wf AS last_ck,
       nth_value(c_custkey, 2) OVER wf AS second_ck,
       lead(c_custkey, 1, -1) OVER w AS next_ck,
       lag(c_custkey, 2, -1) OVER w AS prev2_ck
FROM (SELECT c_custkey, c_nationkey, CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cents
      FROM customer)
WINDOW w AS (PARTITION BY c_nationkey ORDER BY cents, c_custkey),
       wf AS (PARTITION BY c_nationkey ORDER BY cents, c_custkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def window_fn_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/navigation window-function coverage: dense_rank, cume_dist,
    first/last/nth_value over an explicit full frame, lead/lag with
    defaults -- all on a fully deterministic (cents, custkey) order."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", _cents("c_acctbal").alias("cents")
    )
    w = Window.partitionBy("c_nationkey").orderBy("cents", "c_custkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey", "c_nationkey",
        F.dense_rank().over(w).alias("dr"),
        F.cume_dist().over(w).alias("cd"),
        F.first("c_custkey").over(wf).alias("first_ck"),
        F.last("c_custkey").over(wf).alias("last_ck"),
        F.nth_value("c_custkey", 2).over(wf).alias("second_ck"),
        F.lead("c_custkey", 1, -1).over(w).alias("next_ck"),
        F.lag("c_custkey", 2, -1).over(w).alias("prev2_ck"),
    )


@register(
    "intersectall_custkeys",
    """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
""",
)
def intersectall_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset intersection (INTERSECT ALL): per-customer min(open,
    finished) order multiplicity."""
    o = load_table(spark, sf_dir, "orders")
    open_ = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    fin = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_.intersectAll(fin)


@register(
    "scalar_functions2",
    """
SELECT o_orderkey,
       epoch_us(CAST(o_orderdate + INTERVAL 5 DAY AS TIMESTAMP)) AS ship_by_us,
       epoch_us(CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)) AS month_start_us,
       CAST(extract(month FROM o_orderdate) AS INT) AS o_month,
       CAST(extract(day FROM o_orderdate) AS INT) AS o_day,
       datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS days_since_92,
       lpad(o_orderpriority, 20, '.') AS pri_padded,
       reverse(o_orderstatus) AS status_rev,
       translate(o_orderpriority, '-', '_') AS pri_norm
FROM orders
""",
)
def scalar_functions2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function family 2: timestamp arithmetic (interval add, month
    truncation, field extraction, day diffs -- reference F5 family,
    src/batch_tlb.py:60) and string shaping (lpad/reverse/translate --
    F1/F2 family)."""
    o = load_table(spark, sf_dir, "orders")
    od = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.unix_micros(F.expr("CAST(o_orderdate + INTERVAL 5 DAY AS TIMESTAMP)")).alias("ship_by_us"),
        F.unix_micros(F.date_trunc("month", od).cast("timestamp")).alias("month_start_us"),
        F.month(od).cast("int").alias("o_month"),
        F.dayofmonth(od).cast("int").alias("o_day"),
        F.datediff(od.cast("date"), F.lit("1992-01-01").cast("date")).alias("days_since_92"),
        F.lpad("o_orderpriority", 20, ".").alias("pri_padded"),
        F.reverse("o_orderstatus").alias("status_rev"),
        F.translate("o_orderpriority", "-", "_").alias("pri_norm"),
    )


@register(
    "deterministic_sample_docs",
    """
SELECT doc_id, source, lang
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1', '2', '3', '4')
""",
)
def deterministic_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible corpus sampling: hash-gate on the stable id (md5 hex
    prefix), NOT rand() -- the same ~5/16 sample on every engine, every
    run, every cluster layout.  At 100 TB this is how you carve a dev
    slice that downstream runs can re-derive exactly."""
    d = load_table(spark, sf_dir, "documents")
    return d.where(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin("0", "1", "2", "3", "4")
    ).select("doc_id", "source", "lang")


@register(
    "posexplode_tokens",
    """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents WHERE doc_id < 20
)
SELECT doc_id,
       UNNEST(generate_series(0, len(t) - 1)) AS pos,
       UNNEST(t) AS tok
FROM toks
""",
)
def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (ordinal-preserving flatten) -- the lateral-view
    shape the reference's span extraction implies (spans.spanId keeps array
    order, src/data_processor.py:171-173)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    return docs.select(
        "doc_id",
        F.posexplode(F.expr(r"regexp_extract_all(text, r'\S+', 0)")).alias("pos", "tok"),
    )


@register(
    "value_histogram",
    """
WITH v AS (SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c FROM events),
b AS (SELECT least(c // 5000, 9) AS bucket, c FROM v)
SELECT bucket,
       bucket * 5000 AS lo_cents,
       CASE WHEN bucket = 9 THEN NULL ELSE (bucket + 1) * 5000 END AS hi_cents,
       COUNT(*) AS n,
       CAST(SUM(c) AS BIGINT) AS sum_cents
FROM b GROUP BY bucket
""",
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (10 x $50 buckets, open-ended top bucket) --
    the profiling primitive behind range-partition boundary selection.
    Pure map + one agg shuffle; bucket math in exact cents."""
    ev = load_table(spark, sf_dir, "events").select(_cents("value").alias("c"))
    b = ev.select(F.least(F.expr("c div 5000"), F.lit(9)).alias("bucket"), "c")
    return b.groupBy("bucket").agg(
        (F.col("bucket") * 5000).alias("lo_cents"),
        F.when(F.col("bucket") == 9, F.lit(None).cast("long"))
        .otherwise((F.col("bucket") + 1) * 5000)
        .alias("hi_cents"),
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("sum_cents"),
    ).select("bucket", "lo_cents", "hi_cents", "n", "sum_cents")


@register(
    "mode_event_type",
    """
WITH c AS (SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY user_id, event_type),
r AS (SELECT user_id, event_type, n,
             row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS rk
      FROM c)
SELECT user_id, event_type AS mode_type, n AS mode_count FROM r WHERE rk = 1
""",
)
def mode_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent value) with a DETERMINISTIC tie-break
    (count desc, then value asc) -- max_by() ties are engine-defined, so the
    portable shape is count + ranked window."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), "event_type")
    return (
        c.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), F.col("n").alias("mode_count"))
    )


@register(
    "correlation_stats",
    """
WITH j AS (
  SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS p,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS b,
         c_mktsegment AS seg
  FROM orders JOIN customer ON o_custkey = c_custkey
),
m AS (SELECT seg, COUNT(*) AS n, SUM(p) AS sp, SUM(b) AS sb,
             SUM(p * b) AS spb, SUM(p * p) AS spp, SUM(b * b) AS sbb
      FROM j GROUP BY seg)
SELECT seg, n,
       (CAST(n AS DOUBLE) * CAST(spb AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sb AS DOUBLE))
       / (sqrt(CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))
       AS corr_price_balance
FROM m
""",
)
def correlation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from EXACT integer moments (n, sums, cross
    products) per segment -- unlike streaming corr() whose result depends
    on accumulation order, integer sums are order-independent, so the
    double math at the end is bitwise-reproducible on any engine."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", _cents("o_totalprice").alias("p"))
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", _cents("c_acctbal").alias("b"), F.col("c_mktsegment").alias("seg")
    )
    j = o.join(c, o["o_custkey"] == c["c_custkey"])
    # cross-product sums exceed int64 beyond ~100k rows (p*b ~ 6e13 each);
    # DECIMAL(38,0) sums stay exact and order-independent -- DuckDB gets
    # the same for free (SUM(BIGINT) -> HUGEINT), and both engines then
    # round the identical exact integer to the same double
    d38 = "decimal(38,0)"
    m = j.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("p").alias("sp"),
        F.sum("b").alias("sb"),
        F.sum((F.col("p") * F.col("b")).cast(d38)).alias("spb"),
        F.sum((F.col("p") * F.col("p")).cast(d38)).alias("spp"),
        F.sum((F.col("b") * F.col("b")).cast(d38)).alias("sbb"),
    )
    n, sp, sb = (F.col(x).cast("double") for x in ("n", "sp", "sb"))
    spb, spp, sbb = (F.col(x).cast("double") for x in ("spb", "spp", "sbb"))
    return m.select(
        "seg",
        "n",
        ((n * spb - sp * sb) / (F.sqrt(n * spp - sp * sp) * F.sqrt(n * sbb - sb * sb))).alias(
            "corr_price_balance"
        ),
    )


@register(
    "sample_k_per_group",
    """
WITH r AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
SELECT lang, doc_id, rk FROM r WHERE rk <= 3
""",
)
def sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sample (the reservoir-sampling use case,
    reproducible): rank by md5 of the stable id inside each group, keep the
    first k.  Same k rows on every engine/run/layout; one window shuffle."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        d.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("lang", "doc_id", "rk")
    )


@register(
    "scd2_user_history",
    """
WITH v AS (
  SELECT user_id, ts, CAST(ROUND(value * 100, 0) AS BIGINT) AS val_cents, event_id
  FROM events WHERE event_type = 'signup'
)
SELECT user_id, val_cents,
       epoch_us(ts) AS valid_from_us,
       epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS valid_to_us
FROM v
""",
)
def scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: each change event becomes a
    versioned row with [valid_from, valid_to) effectivity -- valid_to =
    next change's timestamp (NULL = current).  One window shuffle; the
    as-of lookup against this table is operators.asof."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "signup")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        _cents("value").alias("val_cents"),
        F.unix_micros("ts").alias("valid_from_us"),
        F.unix_micros(F.lead("ts").over(w)).alias("valid_to_us"),
    )


@register(
    "array_functions_zoo",
    """
WITH t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks FROM documents WHERE doc_id < 50)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n,
       array_to_string(list_sort(list_distinct(toks)), ' ') AS sorted_vocab,
       array_to_string(list_slice(toks, 2, 4), ' ') AS mid_slice,
       CAST(list_contains(toks, 'the') AS INT) AS has_the,
       array_to_string(list_reverse(toks), ' ') AS reversed_toks,
       CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS char_sum
FROM t
""",
)
def array_functions_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function family over token arrays: sort, distinct, slice,
    membership, reverse, fold -- all JVM higher-order functions, one scan,
    no shuffle.  (Spark slice(x, 2, 3) == DuckDB list_slice(x, 2, 4):
    length-vs-end-index dialect difference handled here.)"""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    d = d.withColumn("toks", F.expr(r"regexp_extract_all(text, r'\S+', 0)"))
    return d.select(
        "doc_id",
        F.size("toks").alias("n"),
        F.array_join(F.array_sort(F.array_distinct("toks")), " ").alias("sorted_vocab"),
        F.array_join(F.slice("toks", 2, 3), " ").alias("mid_slice"),
        F.array_contains("toks", "the").cast("int").alias("has_the"),
        F.array_join(F.reverse("toks"), " ").alias("reversed_toks"),
        F.expr(
            "aggregate(transform(toks, x -> CAST(length(x) AS BIGINT)), CAST(0 AS BIGINT), (a, x) -> a + x)"
        ).alias("char_sum"),
    )


@register(
    "null_semantics_zoo",
    """
WITH t AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END AS st,
         CASE WHEN o_orderkey % 5 = 0 THEN NULL
              ELSE CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) END AS price
  FROM orders
)
SELECT COALESCE(st, '?') AS status,
       COUNT(*) AS n_rows,
       COUNT(price) AS n_priced,
       COUNT(*) - COUNT(price) AS n_null_price,
       CAST(SUM(price) AS BIGINT) AS sum_price,
       CAST(SUM(COALESCE(price, 0)) AS BIGINT) AS sum_price_zeroed,
       CAST(COUNT(NULLIF(st, 'O')) AS BIGINT) AS n_non_open
FROM t GROUP BY COALESCE(st, '?')
""",
)
def null_semantics_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling semantics family: COUNT(col) skips nulls, SUM ignores
    them, COALESCE/NULLIF shape both the group key and the aggregates --
    grouping ON a nullable expression puts nulls in one group (here made
    explicit with '?')."""
    o = load_table(spark, sf_dir, "orders")
    t = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(F.col("o_orderstatus")).alias("st"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None).cast("long")).otherwise(_cents("o_totalprice")).alias("price"),
    )
    return t.groupBy(F.coalesce(F.col("st"), F.lit("?")).alias("status")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("price").alias("n_priced"),
        (F.count(F.lit(1)) - F.count("price")).alias("n_null_price"),
        F.sum("price").alias("sum_price"),
        F.sum(F.coalesce(F.col("price"), F.lit(0))).alias("sum_price_zeroed"),
        F.count(F.nullif(F.col("st"), F.lit("O"))).cast("long").alias("n_non_open"),
    )


# ---------------------------------------------------------------------------
# Round-5 SQL-surface additions: recursive CTE + lateral join
# ---------------------------------------------------------------------------

RECURSIVE_BOM_SQL = """
WITH RECURSIVE chain(partkey, depth, path_cents) AS (
  SELECT p_partkey, 0, CAST(ROUND(p_retailprice * 100, 0) AS BIGINT)
  FROM part WHERE p_partkey < 10
  UNION ALL
  SELECT p.p_partkey, c.depth + 1,
         c.path_cents + CAST(ROUND(p.p_retailprice * 100, 0) AS BIGINT)
  FROM chain c
  JOIN part p
    ON CAST(FLOOR(p.p_partkey / 10) AS BIGINT) = c.partkey
   AND p.p_partkey >= 10
)
SELECT depth,
       COUNT(*) AS n_parts,
       CAST(SUM(path_cents) AS BIGINT) AS total_path_cents,
       CAST(MAX(path_cents) AS BIGINT) AS max_path_cents
FROM chain
GROUP BY depth
"""


@register("recursive_cte_bom", RECURSIVE_BOM_SQL)
def recursive_cte_bom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE, SPARK-24497) walking a
    synthetic bill-of-materials: parent(partkey) = floor(partkey/10), roots
    are partkey < 10, accumulating the ancestor-chain retail price in exact
    cents.  The recursion is a repeated equi-join of the frontier against
    the static ``part`` table -- each level is one shuffle-join over the
    frontier only (frontier shrinks to leaf levels), so depth, not table
    size, bounds the iteration count: log10(N) levels at any scale.  The
    identical SQL runs on DuckDB (both engines implement the SQL:1999
    recursive-union semantics), making the oracle a true cross-engine
    replay of the fixpoint."""
    register_views(spark, sf_dir, ["part"])
    return spark.sql(RECURSIVE_BOM_SQL)


LATERAL_TOP_ORDERS_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.total_cents
FROM customer c, LATERAL (
  SELECT o.o_orderkey,
         CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) AS total_cents
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY total_cents DESC, o.o_orderkey
  LIMIT 3
) t
"""


@register("lateral_top_orders", LATERAL_TOP_ORDERS_SQL)
def lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY ... LIMIT: the
    top-3 orders by value for every customer.  Catalyst decorrelates the
    lateral into a DomainJoin + per-group rank filter -- one shuffle on the
    join key, no nested-loop re-execution per customer -- so the plan is
    the same windowed top-k it would pick by hand, while the query surface
    is the standard SQL lateral form DuckDB also accepts verbatim.
    Deterministic tiebreak: (total_cents DESC, o_orderkey)."""
    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(LATERAL_TOP_ORDERS_SQL)


@register(
    "interpolate_hourly_values",
    """
WITH ev AS (
  SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS v
  FROM events
),
spans AS (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM ev GROUP BY user_id),
grid AS (SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM spans),
obs AS (SELECT user_id, h, CAST(SUM(v) AS BIGINT) AS v FROM ev GROUP BY user_id, h),
j AS (
  SELECT g.user_id, CAST(epoch(g.h) AS BIGINT) AS he, o.v
  FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.h = g.h
),
nb AS (
  SELECT user_id, he, v,
         last_value(v IGNORE NULLS) OVER w_prev AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN he END IGNORE NULLS) OVER w_prev AS ph,
         first_value(v IGNORE NULLS) OVER w_next AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN he END IGNORE NULLS) OVER w_next AS nh
  FROM j
  WINDOW w_prev AS (PARTITION BY user_id ORDER BY he
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         w_next AS (PARTITION BY user_id ORDER BY he
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
),
filled AS (
  SELECT user_id, he,
         CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS observed,
         CASE WHEN v IS NOT NULL THEN v * 1000
              WHEN pv IS NOT NULL AND nv IS NOT NULL
              THEN (1000 * (pv * (nh - he) + nv * (he - ph))) // (nh - ph)
              END AS value_e3
  FROM nb
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(SUM(observed) AS BIGINT) AS n_observed,
       CAST(SUM(CASE WHEN value_e3 IS NOT NULL THEN 1 ELSE 0 END) - SUM(observed) AS BIGINT) AS n_interpolated,
       CAST(SUM(value_e3) AS BIGINT) AS sum_value_e3,
       CAST(SUM(value_e3 * ((he // 3600) % 997)) AS BIGINT) AS possum_value_e3
FROM filled GROUP BY user_id
""",
)
def interpolate_hourly_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series linear interpolation over the dense hourly grid: gap
    hours take the exact integer interpolation between the nearest
    observed hours on each side ((pv*(nh-h) + nv*(h-ph))*1000 div
    (nh-ph) -- milli-cents, truncation identical on both engines); edge
    gaps (no neighbor on one side) stay NULL.  Two frame-bounded windows
    over ONE shuffle on the user key (last/first with ignorenulls), the
    standard resample-and-fill shape for sensor/metric pipelines."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("h"),
        _cents("value").alias("v"),
    )
    spans = ev.groupBy("user_id").agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = spans.select(
        "user_id", F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h")
    )
    obs = ev.groupBy("user_id", "h").agg(F.sum("v").cast("long").alias("v"))
    j = grid.join(obs, ["user_id", "h"], "left").select(
        "user_id", F.unix_timestamp("h").alias("he"), "v"
    )
    # both neighbor lookups use ACCUMULATING frames (UnboundedPreceding ->
    # current), which Spark evaluates in O(n) per partition; the natural
    # first(ignorenulls) over (current -> UnboundedFollowing) is a
    # shrinking frame Spark recomputes per row -- O(n^2), measured 14.5 s
    # warm on the 1M-row grid vs 2.3 s for this form.  "Next non-null" =
    # running last non-null scanned from the END (descending order).
    w_prev = Window.partitionBy("user_id").orderBy("he").rowsBetween(Window.unboundedPreceding, 0)
    w_next = (
        Window.partitionBy("user_id")
        .orderBy(F.col("he").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    nb = j.select(
        "user_id",
        "he",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(F.when(F.col("v").isNotNull(), F.col("he")), ignorenulls=True).over(w_prev).alias("ph"),
        F.last("v", ignorenulls=True).over(w_next).alias("nv"),
        F.last(F.when(F.col("v").isNotNull(), F.col("he")), ignorenulls=True).over(w_next).alias("nh"),
    )
    filled = nb.select(
        "user_id",
        "he",
        F.when(F.col("v").isNotNull(), 1).otherwise(0).alias("observed"),
        F.when(F.col("v").isNotNull(), F.col("v") * 1000)
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.expr("(1000 * (pv * (nh - he) + nv * (he - ph))) div (nh - ph)"),
        )
        .alias("value_e3"),
    )
    # per-user rollup with a position-weighted checksum: a wrong value at
    # ANY grid position changes possum_value_e3, so the full interpolated
    # series stays verified while the output is one row per user (the
    # million-row dense grid would otherwise dominate collect time)
    return filled.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("observed").cast("long").alias("n_observed"),
        (F.sum(F.when(F.col("value_e3").isNotNull(), 1).otherwise(0)) - F.sum("observed"))
        .cast("long")
        .alias("n_interpolated"),
        F.sum("value_e3").cast("long").alias("sum_value_e3"),
        F.sum(F.col("value_e3") * F.expr("(he div 3600) % 997")).cast("long").alias("possum_value_e3"),
    )


@register(
    "event_pattern_matches",
    """
WITH seqs AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(length(seq) AS BIGINT) AS seq_len,
       CAST(len(regexp_extract_all(seq, 'vc*p')) AS BIGINT) AS n_funnels,
       CAST(len(regexp_extract_all(seq, 'vp')) AS BIGINT) AS n_direct,
       CAST(COALESCE(list_max(list_transform(regexp_extract_all(seq, 'c+'), x -> length(x))), 0) AS BIGINT)
         AS max_click_run,
       CAST(len(regexp_extract_all(seq, 'ee')) AS BIGINT) AS n_error_bursts
FROM seqs
""",
)
def event_pattern_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern detection (MATCH_RECOGNIZE-lite): each user's
    event history collapses to an ordered initial string (one groupBy +
    in-group sort, no window), and funnel/burst patterns become regex
    counts over it -- non-overlapping leftmost matches, identical
    semantics in Java regex and RE2 for these linear patterns.  The
    complex-event-processing shape (view->clicks*->purchase funnels,
    error bursts, longest click run) without a per-event state machine:
    at 100 TB this is one shuffle on user_id and per-user strings bounded
    by activity length."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.expr("substr(event_type, 1, 1)").alias("i")
    )
    seqs = ev.groupBy("user_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(ts, event_id, i))),"
            " x -> x.i), '')"
        ).alias("seq")
    )
    return seqs.select(
        "user_id",
        F.length("seq").cast("long").alias("seq_len"),
        F.expr("CAST(size(regexp_extract_all(seq, 'vc*p', 0)) AS BIGINT)").alias("n_funnels"),
        F.expr("CAST(size(regexp_extract_all(seq, 'vp', 0)) AS BIGINT)").alias("n_direct"),
        F.expr(
            "CAST(COALESCE(array_max(transform(regexp_extract_all(seq, 'c+', 0),"
            " x -> length(x))), 0) AS BIGINT)"
        ).alias("max_click_run"),
        F.expr("CAST(size(regexp_extract_all(seq, 'ee', 0)) AS BIGINT)").alias("n_error_bursts"),
    )


@register(
    "scd2_pointintime_join",
    """
WITH vers AS (
  SELECT user_id, ts, CAST(ROUND(value * 100, 0) AS BIGINT) AS val_cents
  FROM (
    SELECT user_id, ts, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'signup'
  ) WHERE rn = 1
),
facts AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
),
joined AS (
  SELECT f.user_id, f.event_id, v.val_cents
  FROM facts f ASOF LEFT JOIN vers v
    ON f.user_id = v.user_id AND f.ts >= v.ts
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(COUNT(val_cents) AS BIGINT) AS n_matched,
       CAST(SUM(val_cents * (event_id % 997)) AS BIGINT) AS version_checksum
FROM joined GROUP BY user_id
""",
)
def scd2_pointintime_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct lookup against the SCD2 dimension
    (operators.asof.asof_join): every purchase picks up the signup-version
    value effective AT ITS TIMESTAMP -- the feature-store / temporal-join
    semantics that prevent training-serving leakage.  The Spark side is the
    union+window as-of shape (one shuffle on the key, no per-key range
    explosion); the oracle is DuckDB's NATIVE ASOF LEFT JOIN, so two
    independent as-of implementations must agree row-for-row.  Versions
    are deduped per (user, ts) by max event_id so the tie rule is explicit
    on both engines."""
    from odp_dynamic_data_pipeline_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    vers = (
        ev.where(F.col("event_type") == "signup")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "ts", _cents("value").alias("val_cents"))
    )
    facts = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    joined = asof_join(facts, vers, on="user_id", ts_col="ts", value_cols=["val_cents"])
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.count("val_cents").cast("long").alias("n_matched"),
        F.sum(F.col("val_cents") * (F.col("event_id") % 997)).cast("long").alias("version_checksum"),
    )


@register(
    "map_functions_zoo",
    """
WITH per_type AS (
  SELECT user_id, event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY user_id, event_type
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       string_agg(event_type, ',' ORDER BY event_type) AS types_sorted,
       CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_frequent,
       CAST(SUM(2 * n) AS BIGINT) AS doubled_sum,
       CAST(SUM((c // n) * length(event_type)) AS BIGINT) AS avg_cents_checksum
FROM per_type GROUP BY user_id
""",
)
def map_functions_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type function family: per-user event maps built with
    map_from_entries, then map_keys / map_filter / transform_values /
    map_zip_with / map_entries folds -- the full MapType expression surface
    exercised in one query.  The oracle computes the same values
    relationally (DuckDB's MAP dialect differs; the CONTRACT is the
    values, the Spark plan is what proves the API).  Entries are sorted
    before map construction so every derived value is deterministic."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(_cents("value")).cast("long").alias("c"),
    )
    maps = per_type.groupBy("user_id").agg(
        F.expr("map_from_entries(sort_array(collect_list(struct(event_type, n))))").alias("m_n"),
        F.expr("map_from_entries(sort_array(collect_list(struct(event_type, c))))").alias("m_c"),
    )
    return maps.select(
        "user_id",
        F.expr("CAST(size(m_n) AS BIGINT)").alias("n_types"),
        F.expr("array_join(array_sort(map_keys(m_n)), ',')").alias("types_sorted"),
        F.expr("CAST(size(map_filter(m_n, (k, v) -> v >= 2)) AS BIGINT)").alias("n_frequent"),
        F.expr(
            "aggregate(map_values(transform_values(m_n, (k, v) -> v * 2)),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("doubled_sum"),
        F.expr(
            "aggregate(map_entries(map_zip_with(m_c, m_n, (k, c, n) -> c div n)),"
            " CAST(0 AS BIGINT), (acc, e) -> acc + e.value * length(e.key))"
        ).alias("avg_cents_checksum"),
    )


@register(
    "sql_frontend_groupby_all",
    """
SELECT event_type,
       CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY ALL
""",
)
def sql_frontend_groupby_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-frontend GROUP BY ALL (the infer-grouping-keys dialect feature
    both engines accepted verbatim): non-aggregate select items become the
    grouping set automatically -- same Catalyst plan as the explicit GROUP
    BY, one shuffle."""
    from odp_dynamic_data_pipeline_spark.sources.catalog import register_views

    register_views(spark, sf_dir, ["events"])
    return spark.sql(
        """
        SELECT event_type,
               CAST(unix_timestamp(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
        FROM events
        GROUP BY ALL
        """
    )


@register(
    "impute_missing_by_group",
    """
WITH v AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 7 = 0 THEN NULL
              ELSE CAST(ROUND(value * 100, 0) AS BIGINT) END AS cents
  FROM events
),
ranked AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM v WHERE cents IS NOT NULL
),
med AS (
  SELECT event_type, cents AS med_cents FROM ranked WHERE rn = (n + 1) // 2
),
fixed AS (
  SELECT v.event_id, v.event_type,
         COALESCE(v.cents, m.med_cents) AS cents,
         CASE WHEN v.cents IS NULL THEN 1 ELSE 0 END AS imputed
  FROM v JOIN med m ON m.event_type = v.event_type
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(imputed) AS BIGINT) AS n_imputed,
       CAST(MIN(CASE WHEN imputed = 1 THEN cents END) AS BIGINT) AS imputed_cents,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(SUM(cents * (event_id % 997)) AS BIGINT) AS checksum
FROM fixed GROUP BY event_type
""",
)
def impute_missing_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-value repair by exact group statistic: nulls (every seventh
    event, deterministic) take their type's LOWER MEDIAN -- the rank
    (n+1)//2 order statistic, an integer a value actually attains, so no
    interpolation convention can diverge between engines.  Median via one
    windowed rank per group + broadcast join back; the checksum pins every
    imputed row.  The data-repair stage of a quality pipeline."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("long"))
        .otherwise(_cents("value"))
        .alias("cents"),
    )
    nn = ev.where(F.col("cents").isNotNull())
    w = Window.partitionBy("event_type").orderBy("cents")
    wc = Window.partitionBy("event_type")
    med = (
        nn.select(
            "event_type",
            "cents",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n"),
        )
        .where(F.expr("rn = (n + 1) div 2"))
        .select("event_type", F.col("cents").alias("med_cents"))
    )
    fixed = ev.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        F.coalesce("cents", "med_cents").alias("cents"),
        F.when(F.col("cents").isNull(), 1).otherwise(0).alias("imputed"),
    )
    return fixed.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("imputed").cast("long").alias("n_imputed"),
        F.min(F.when(F.col("imputed") == 1, F.col("cents"))).cast("long").alias("imputed_cents"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.sum(F.col("cents") * (F.col("event_id") % 997)).cast("long").alias("checksum"),
    )


@register(
    "incremental_join_maintenance",
    """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""",
)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-VIEW maintenance for a JOIN: given the
    previous materialization J0 = O0 x L0 and delta batches dO, dL, the
    refreshed view is J0 + dO x L0 + O0 x dL + dO x dL (the classic
    delta-algebra identity; each term is an equi-join touching only a
    delta on at least one side -- at 100 TB the refresh cost scales with
    the delta, not the base).  Here O0/dO and L0/dL are deterministic
    slices, J0 is materialized first (localCheckpoint, standing in for
    the stored view), the three delta joins are unioned on, and the
    ORACLE IS THE FULL RECOMPUTE -- the hash gate proves the incremental
    algebra reproduces it exactly."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", _cents("l_extendedprice").alias("cents")
    )
    o0 = o.where(F.col("o_orderkey") % 10 != 0)
    d_o = o.where(F.col("o_orderkey") % 10 == 0)
    l0 = l.where(F.col("l_linenumber") != 1)
    d_l = l.where(F.col("l_linenumber") == 1)
    # the standing materialization (previous refresh's output)
    j0 = o0.join(l0, o0.o_orderkey == l0.l_orderkey).select(
        "o_orderpriority", "cents"
    ).localCheckpoint(eager=False)
    refreshed = (
        j0.unionAll(d_o.join(l0, d_o.o_orderkey == l0.l_orderkey).select("o_orderpriority", "cents"))
        .unionAll(o0.join(d_l, o0.o_orderkey == d_l.l_orderkey).select("o_orderpriority", "cents"))
        .unionAll(d_o.join(d_l, d_o.o_orderkey == d_l.l_orderkey).select("o_orderpriority", "cents"))
    )
    return refreshed.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


@register(
    "funnel_conversion_rate",
    """
WITH v AS (
  SELECT user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'view'
),
p AS (
  SELECT user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'purchase'
),
conv AS (
  SELECT v.user_id,
         CASE WHEN EXISTS (
           SELECT 1 FROM p
           WHERE p.user_id = v.user_id
             AND p.ts_us >= v.ts_us AND p.ts_us <= v.ts_us + 3600000000
         ) THEN 1 ELSE 0 END AS converted
  FROM v
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_views,
       CAST(SUM(converted) AS BIGINT) AS n_converted,
       (1000000 * CAST(SUM(converted) AS BIGINT)) // COUNT(*) AS conversion_e6
FROM conv GROUP BY user_id
""",
)
def funnel_conversion_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bound funnel conversion: a view converts if the same user
    purchases within one hour (inclusive).  The Spark side finds each
    view's next purchase with ONE accumulating-frame window over
    descending event time (purchases sort before views at equal
    timestamps, so the inclusive bound is deterministic) -- O(n) per user,
    no range join, the SCALE.md frame-direction pattern.  The oracle is a
    DELIBERATELY different formulation (correlated EXISTS semi-join), so
    agreement checks the semantics, not a shared shape."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    ).select("user_id", F.unix_micros("ts").alias("ts_us"), "event_type")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_us").desc(), F.col("event_type").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = ev.withColumn(
        "next_p_us",
        F.last(
            F.when(F.col("event_type") == "purchase", F.col("ts_us")), ignorenulls=True
        ).over(w),
    ).where(F.col("event_type") == "view")
    conv = flagged.select(
        "user_id",
        F.when(
            F.col("next_p_us").isNotNull()
            & (F.col("next_p_us") - F.col("ts_us") <= 3_600_000_000),
            1,
        )
        .otherwise(0)
        .alias("converted"),
    )
    return conv.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_views"),
        F.sum("converted").cast("long").alias("n_converted"),
        F.expr("(1000000 * CAST(SUM(converted) AS BIGINT)) div COUNT(1)").alias("conversion_e6"),
    )


@register(
    "spearman_by_segment",
    """
WITH j AS (
  SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS p,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS b,
         c_mktsegment AS seg
  FROM orders JOIN customer ON o_custkey = c_custkey
),
r AS (
  SELECT seg,
         2 * rank() OVER (PARTITION BY seg ORDER BY p)
           + COUNT(*) OVER (PARTITION BY seg, p) - 1 AS rp,
         2 * rank() OVER (PARTITION BY seg ORDER BY b)
           + COUNT(*) OVER (PARTITION BY seg, b) - 1 AS rb
  FROM j
),
m AS (
  SELECT seg, COUNT(*) AS n, SUM(rp) AS s1, SUM(rb) AS s2,
         SUM(rp * rb) AS s12, SUM(rp * rp) AS s11, SUM(rb * rb) AS s22
  FROM r GROUP BY seg
)
SELECT seg, n,
       (CAST(n AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE))
       / (sqrt(CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)))
       AS spearman_price_balance
FROM m
""",
)
def spearman_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per segment: Pearson over TIE-AVERAGED
    ranks, with the integer trick 2*avgrank = 2*rank_min + ties - 1 so the
    rank moments are exact order-independent integer sums (DECIMAL(38,0)
    accumulators, HUGEINT in DuckDB) -- the monotonic-association
    complement to correlation_stats' linear Pearson, correct under ties
    where the n(n^2-1) shortcut formula is not."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", _cents("o_totalprice").alias("p"))
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", _cents("c_acctbal").alias("b"), F.col("c_mktsegment").alias("seg")
    )
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select("seg", "p", "b")
    rp = (
        2 * F.rank().over(Window.partitionBy("seg").orderBy("p"))
        + F.count(F.lit(1)).over(Window.partitionBy("seg", "p"))
        - 1
    )
    rb = (
        2 * F.rank().over(Window.partitionBy("seg").orderBy("b"))
        + F.count(F.lit(1)).over(Window.partitionBy("seg", "b"))
        - 1
    )
    r = j.select("seg", rp.cast("long").alias("rp"), rb.cast("long").alias("rb"))
    d38 = "decimal(38,0)"
    m = r.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rp").alias("s1"),
        F.sum("rb").alias("s2"),
        F.sum((F.col("rp") * F.col("rb")).cast(d38)).alias("s12"),
        F.sum((F.col("rp") * F.col("rp")).cast(d38)).alias("s11"),
        F.sum((F.col("rb") * F.col("rb")).cast(d38)).alias("s22"),
    )
    n, s1, s2 = (F.col(x).cast("double") for x in ("n", "s1", "s2"))
    s12, s11, s22 = (F.col(x).cast("double") for x in ("s12", "s11", "s22"))
    return m.select(
        "seg",
        "n",
        ((n * s12 - s1 * s2) / (F.sqrt(n * s11 - s1 * s1) * F.sqrt(n * s22 - s2 * s2))).alias(
            "spearman_price_balance"
        ),
    )


@register(
    "kmv_distinct_sketch",
    """
WITH h AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events
),
r AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM h
),
s AS (
  SELECT event_type, COUNT(*) AS cnt, MAX(h) AS h_k
  FROM r WHERE rn <= 64 GROUP BY event_type
),
n AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
  FROM events GROUP BY event_type
),
e AS (
  SELECT s.event_type, n.n_exact, s.h_k,
         CASE WHEN s.cnt < 64 THEN s.cnt
              ELSE CAST((63::HUGEINT * 1152921504606846976) // s.h_k AS BIGINT)
         END AS kmv_estimate
  FROM s JOIN n USING (event_type)
)
SELECT event_type, n_exact, kmv_estimate, h_k AS kth_min_hash,
       abs(kmv_estimate - n_exact) * 20 <= 3 * n_exact AS within_15pct
FROM e
""",
)
def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, hash-exact.

    Unlike HLL (approx_distinct_stats asserts an error BOUND because
    Spark's and DuckDB's HLLs differ), KMV over an md5-derived 60-bit hash
    is engine-portable, so the oracle replays the ESTIMATOR itself:
    estimate = (k-1) * 2^60 / h_k with truncating integer division
    (DECIMAL(38,0) div in Spark == HUGEINT // in DuckDB, both exact).

    The Spark side additionally proves the sketch's MERGE law -- the
    property that makes KMV a 100 TB partial aggregate: it builds
    per-(event_type, hour) partial sketches (k smallest distinct hashes
    per partition of the data), unions them, and re-takes the k smallest;
    the oracle computes the single-level sketch directly.  k-min of a
    union of per-part k-mins equals the global k-min, so the two-level
    Spark plan and one-level SQL must agree bit-for-bit -- hash parity IS
    the mergeability proof.  At cluster scale the partials are map-side
    (k rows per group per partition) and only k*groups rows shuffle.

    Reference basis: Bar-Yossef et al. 2002 / Beyer et al. 2007 (KMV /
    AKMM estimators), public sketching literature.  within_15pct is
    computed as DATA on both sides (integer cross-multiplication), not a
    skipped tolerance: k=64 gives ~12.7% std error.
    """
    K = 64
    M60 = 1 << 60  # md5 15-hex-char hash space
    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        F.expr("CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)").alias(
            "h"
        ),
    ).distinct()
    # per-(type, hour) partial sketch: k smallest distinct hashes
    part = (
        h.withColumn("rn", F.row_number().over(Window.partitionBy("event_type", "hr").orderBy("h")))
        .filter(F.col("rn") <= K)
        .select("event_type", "h")
        .distinct()  # same user hashes equal across hours; union of sketch SETS
    )
    # merge: re-take the k smallest over the unioned partials
    merged = part.withColumn(
        "rn", F.row_number().over(Window.partitionBy("event_type").orderBy("h"))
    ).filter(F.col("rn") <= K)
    s = merged.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"), F.max("h").alias("h_k"))
    n = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_exact"))
    est = F.when(F.col("cnt") < K, F.col("cnt")).otherwise(
        F.expr(f"CAST((CAST({K - 1} AS DECIMAL(38,0)) * {M60}) div h_k AS BIGINT)")
    )
    return (
        s.join(n, "event_type")
        .withColumn("kmv_estimate", est)
        .select(
            "event_type",
            "n_exact",
            "kmv_estimate",
            F.col("h_k").alias("kth_min_hash"),
            (F.abs(F.col("kmv_estimate") - F.col("n_exact")) * 20 <= 3 * F.col("n_exact")).alias(
                "within_15pct"
            ),
        )
    )


_Z12_DUCK = " + ".join(
    f"((( {c} >> {b}) & 1) << {2 * b + ci})"
    for b in range(12)
    for c, ci in (("x", 0), ("y", 1))
)

@register(
    "zorder_layout_report",
    f"""
WITH d AS (
  SELECT o_custkey % 4096 AS x,
         date_diff('day', DATE '1992-01-01', o_orderdate) % 4096 AS y
  FROM orders
),
z AS (SELECT x, y, ({_Z12_DUCK}) AS zkey FROM d),
b AS (SELECT x, y, zkey >> 18 AS bucket FROM z)
SELECT bucket, COUNT(*) AS cnt,
       MIN(x) AS xmin, MAX(x) AS xmax, MIN(y) AS ymin, MAX(y) AS ymax,
       MAX(x) - MIN(x) AS xspan, MAX(y) - MIN(y) AS yspan
FROM b GROUP BY bucket
""",
)
def zorder_layout_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout planning: interleave (customer, order-day)
    into one sort key and report the per-file min/max statistics the layout
    would give -- the data-skipping contract behind Delta/Iceberg OPTIMIZE
    ZORDER BY, computed with the engine's own `zorder_value` operator
    (operators/partitioning.py:31) and replayed bit-for-bit by the oracle's
    arithmetic interleave.  Each `bucket` is a would-be file (top 6 z-bits
    = 3 quadtree levels); xspan/yspan being quadrant-sized on BOTH
    dimensions (vs full-range on the trailing column of a lexicographic
    sort) is the property that lets min/max stats prune range predicates
    on either column.  At 100 TB this is
    ``repartitionByRange(z).sortWithinPartitions(z)`` at compaction
    cadence; the expression itself is pure JVM bit arithmetic inside
    whole-stage codegen, no shuffle beyond the final 64-group agg."""
    from odp_dynamic_data_pipeline_spark.operators.partitioning import zorder_value

    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 4096).alias("x"),
        (F.datediff("o_orderdate", F.lit("1992-01-01")) % 4096).alias("y"),
    )
    z = o.withColumn("zkey", zorder_value(["x", "y"], bits_per_col=12))
    b = z.withColumn("bucket", F.shiftright("zkey", 18))
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("x").alias("xmin"),
        F.max("x").alias("xmax"),
        F.min("y").alias("ymin"),
        F.max("y").alias("ymax"),
        (F.max("x") - F.min("x")).alias("xspan"),
        (F.max("y") - F.min("y")).alias("yspan"),
    )


@register(
    "frequent_pair_mining",
    """
WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
n AS (SELECT COUNT(DISTINCT o) AS n FROM li),
sup AS (SELECT p, COUNT(*) AS s FROM li GROUP BY p HAVING COUNT(*) >= 5),
f AS (SELECT li.o, li.p FROM li JOIN sup ON li.p = sup.p),
pairs AS (
  SELECT a.p AS part_a, b.p AS part_b, COUNT(*) AS together
  FROM f a JOIN f b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p HAVING COUNT(*) >= 2
)
SELECT part_a, part_b, together, sa.s AS support_a, sb.s AS support_b,
       CAST((CAST(together AS HUGEINT) * n.n * 1000000) // (CAST(sa.s AS HUGEINT) * sb.s)
            AS BIGINT) AS lift_e6
FROM pairs
JOIN sup sa ON part_a = sa.p
JOIN sup sb ON part_b = sb.p
CROSS JOIN n
""",
)
def frequent_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket frequent-pair mining (the 2-itemset core of Apriori):
    parts co-ordered in the same order, with support/co-occurrence/lift.

    Scale shape is what matters: pair generation explodes quadratically
    per basket -- so the Apriori downward-closure prune (an item in a
    frequent pair must itself be frequent, support >= minsup) runs FIRST
    as a cheap groupBy, shrinking the input before any pair exists.  The
    pairs themselves come from ONE groupBy(basket) -> sorted collect_list
    -> JVM-side combination expansion (transform/slice/flatten), not a
    basket-key self-join: the self-join shuffled the filtered items twice,
    sort-merged them, and materialized the full k^2 cross square per
    basket only to discard half -- the collect_list form shuffles once and
    emits exactly k(k-1)/2 canonical (a < b) pairs, already ordered by the
    sort_array.  Pairs then shuffle once on the pair key for counting, and
    lift's corpus constant N rides a broadcast single-row table.  Exact
    integer lift (e6 fixed point, truncating div) keeps the driver hash
    deterministic.  Per-basket skew is bounded by the basket size (a
    lineitem order holds at most 7 lines), so collect_list is safe here;
    an unbounded-basket corpus would cap or re-block baskets first."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    n = li.agg(F.countDistinct("o").alias("n"))
    sup = li.groupBy("p").agg(F.count(F.lit(1)).alias("s")).filter(F.col("s") >= 5)
    f = li.join(sup.select("p"), "p")
    baskets = f.groupBy("o").agg(F.sort_array(F.collect_list("p")).alias("ps"))
    pairs = (
        baskets.where(F.size("ps") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps)),"
                    " y -> struct(x AS part_a, y AS part_b))))"
                )
            ).alias("pr")
        )
        .select("pr.part_a", "pr.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("together"))
        .filter(F.col("together") >= 2)
    )
    out = (
        pairs.join(sup.select(F.col("p").alias("part_a"), F.col("s").alias("support_a")), "part_a")
        .join(sup.select(F.col("p").alias("part_b"), F.col("s").alias("support_b")), "part_b")
        .crossJoin(F.broadcast(n))
    )
    return out.select(
        "part_a",
        "part_b",
        "together",
        "support_a",
        "support_b",
        F.expr(
            "CAST((CAST(together AS DECIMAL(38,0)) * n * 1000000)"
            " div (CAST(support_a AS DECIMAL(38,0)) * support_b) AS BIGINT)"
        ).alias("lift_e6"),
    )


# log10(1 + 1/d) truncated to e6 fixed point, d = 1..9 (Benford's law);
# shared literal constants so both engines map digits identically
_BENFORD_E6 = {1: 301029, 2: 176091, 3: 124938, 4: 96910, 5: 79181,
               6: 66946, 7: 57991, 8: 51152, 9: 45757}
_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {v}" for d, v in _BENFORD_E6.items()
) + " END"

@register(
    "benford_price_digits",
    f"""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS digit
  FROM orders
),
c AS (SELECT digit, COUNT(*) AS observed FROM d GROUP BY digit),
t AS (SELECT CAST(SUM(observed) AS BIGINT) AS n_total FROM c)
SELECT digit, observed, n_total,
       CAST(observed * 1000000 // n_total AS BIGINT) AS observed_share_e6,
       {_BENFORD_CASE} AS expected_share_e6,
       CAST(abs(observed * 1000000 // n_total - {_BENFORD_CASE}) AS BIGINT) AS abs_dev_e6
FROM c CROSS JOIN t
""",
)
def benford_price_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law digit audit over order totals -- the classic
    anomaly/fraud screen for any money column: the first significant digit
    of naturally-occurring amounts should follow log10(1+1/d), and a
    uniform or spiked distribution flags synthetic or truncated data.
    (TPC-H prices are uniform-ish, so the deviations themselves are the
    finding -- the report says so, it does not assume.)  Expected shares
    are shared e6 literal constants, observed shares exact truncating
    integer division, the 9-row total a broadcast scalar: one map-side
    digit extraction + a 9-group agg at any scale."""
    o = load_table(spark, sf_dir, "orders").select(
        F.expr(
            "CAST(substr(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS STRING), 1, 1)"
            " AS BIGINT)"
        ).alias("digit")
    )
    c = o.groupBy("digit").agg(F.count(F.lit(1)).alias("observed"))
    t = c.agg(F.sum("observed").cast("long").alias("n_total"))
    share = "observed * 1000000 div n_total"
    return (
        c.crossJoin(F.broadcast(t))
        .selectExpr(
            "digit",
            "observed",
            "n_total",
            f"CAST({share} AS BIGINT) AS observed_share_e6",
            f"{_BENFORD_CASE} AS expected_share_e6",
            f"CAST(abs({share} - {_BENFORD_CASE}) AS BIGINT) AS abs_dev_e6",
        )
    )


@register(
    "gini_revenue_concentration",
    """
WITH x AS (
  SELECT o_custkey, CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS v
  FROM orders GROUP BY o_custkey
),
r AS (
  SELECT v, row_number() OVER (ORDER BY v, o_custkey) AS i, COUNT(*) OVER () AS n
  FROM x
),
m AS (
  SELECT MAX(n) AS n,
         CAST(SUM(CAST(v AS HUGEINT) * i) AS HUGEINT) AS s_iv,
         CAST(SUM(CAST(v AS HUGEINT)) AS HUGEINT) AS s_v
  FROM r
)
SELECT CAST(n AS BIGINT) AS n_customers,
       CAST(s_v AS BIGINT) AS total_cents,
       CAST(((2 * s_iv - (n + 1) * s_v) * 1000000) // (CAST(n AS HUGEINT) * s_v) AS BIGINT)
         AS gini_e6
FROM m
""",
)
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across customers -- the
    inequality summary behind "what share of spend comes from the head",
    used to pick between uniform and heavy-hitter-aware partitioning.

    gini = (2*sum(i*v_i) - (n+1)*sum(v)) / (n*sum(v)) over ascending-rank
    values: exact integer moments (cents, DECIMAL(38,0) / HUGEINT), e6
    truncating division, deterministic (v, custkey) tiebreak.  The global
    rank is computed by operators/partitioning.py `global_rank` -- the
    range-partition + driver-prefix-summed-offset two-pass, so no single
    task ever sorts the whole customer set; identical output to
    row_number() OVER (ORDER BY v, o_custkey), which is what the oracle
    runs."""
    from odp_dynamic_data_pipeline_spark.operators.partitioning import global_rank

    x = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(_cents("o_totalprice")).cast("long").alias("v"))
    )
    r = global_rank(x, ["v", "o_custkey"], rank_col="i").select("v", "i")
    d = "DECIMAL(38,0)"
    m = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr(f"CAST(v AS {d}) * i")).alias("s_iv"),
        F.sum(F.expr(f"CAST(v AS {d})")).alias("s_v"),
    )
    return m.selectExpr(
        "CAST(n AS BIGINT) AS n_customers",
        "CAST(s_v AS BIGINT) AS total_cents",
        f"CAST(((2 * s_iv - (CAST(n AS {d}) + 1) * s_v) * 1000000)"
        f" div (CAST(n AS {d}) * s_v) AS BIGINT) AS gini_e6",
    )


@register(
    "sql_frontend_parameterized",
    """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM orders
WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
GROUP BY o_orderpriority
""",
)
def sql_frontend_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (named-marker binding, the injection-safe frontend
    contract): the date range arrives as ``:start``/``:end`` bind
    parameters, not string-spliced literals.  Spark binds them as typed
    literals BEFORE analysis, so constant folding and parquet row-group
    pruning see real date constants -- same plan as the literal query, which
    is exactly what the oracle runs."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n,
               SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS cents
        FROM orders
        WHERE o_orderdate >= CAST(:start AS DATE) AND o_orderdate < CAST(:end AS DATE)
        GROUP BY o_orderpriority
        """,
        args={"start": "1996-01-01", "end": "1997-01-01"},
    )


@register(
    "equidepth_price_histogram",
    """
WITH x AS (
  SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS v,
         l_orderkey * 10 + l_linenumber AS k
  FROM lineitem
),
r AS (
  SELECT v, row_number() OVER (ORDER BY v, k) AS i, COUNT(*) OVER () AS n
  FROM x
)
SELECT CAST((i - 1) * 10 // n AS BIGINT) AS bucket,
       COUNT(*) AS cnt, MIN(v) AS lo_cents, MAX(v) AS hi_cents
FROM r GROUP BY bucket
""",
)
def equidepth_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) histogram of line-item prices -- the
    optimizer-statistics primitive (NDV-robust bucket bounds for range
    selectivity estimates).  Bucket id is the explicit integer formula
    (rank-1)*B div n over a strict total order, NOT ntile(), so both
    engines share one definition; the global rank comes from the
    distributed two-pass `global_rank` operator, making this the
    any-scale form of a histogram build (range partition + offset, never
    a single-task sort)."""
    from odp_dynamic_data_pipeline_spark.operators.partitioning import global_rank

    li = load_table(spark, sf_dir, "lineitem").select(
        _cents("l_extendedprice").alias("v"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("k"),
    )
    r = global_rank(li, ["v", "k"], rank_col="i")
    # row count = max rank, read from the checkpointed rank table (no second
    # scan of the source)
    n = r.agg(F.max("i")).first()[0] or 1  # empty-input guard, keeps plan analyzable
    return (
        r.withColumn("bucket", F.expr(f"CAST((i - 1) * 10 div {n} AS BIGINT)"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("v").alias("lo_cents"),
            F.max("v").alias("hi_cents"),
        )
    )


@register(
    "twap_user_values",
    """
WITH e AS (
  SELECT user_id, CAST(ROUND(value * 100, 0) AS BIGINT) AS v,
         epoch_us(ts) AS t,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2
  FROM events
),
i AS (SELECT user_id, v, t2 - t AS dt FROM e WHERE t2 IS NOT NULL)
SELECT user_id, COUNT(*) AS n_intervals,
       CAST(SUM(dt) AS BIGINT) AS total_dt_us,
       CAST(SUM(CAST(v AS HUGEINT) * dt) // nullif(SUM(dt), 0) AS BIGINT) AS twap_cents
FROM i GROUP BY user_id
""",
)
def twap_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP) -- the right mean for
    irregularly-sampled series, where each observation holds until the
    next one: weight = interval to the next event, so a value that stood
    for an hour counts 3600x one that stood a second.  One lead() window
    per user partition (shuffle on user_id only), integer micros x cents
    products in DECIMAL(38,0) accumulators, truncating division: exact at
    any scale, no float drift.  A user whose events all share one
    timestamp has zero total weight -- twap is undefined there and comes
    back NULL (nullif), not as a job abort."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = ev.select(
        "user_id",
        _cents("value").alias("v"),
        F.unix_micros("ts").alias("t"),
        F.lead(F.unix_micros("ts")).over(w).alias("t2"),
    )
    i = e.where(F.col("t2").isNotNull()).select(
        "user_id", "v", (F.col("t2") - F.col("t")).alias("dt")
    )
    return i.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dt").cast("long").alias("total_dt_us"),
        F.expr(
            "CAST(SUM(CAST(v AS DECIMAL(38,0)) * dt) div nullif(SUM(dt), 0) AS BIGINT)"
        ).alias("twap_cents"),
    )


@register(
    "ols_revenue_trend",
    """
WITH m AS (
  SELECT c_mktsegment AS seg,
         (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS t,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY seg, t
),
s AS (
  SELECT seg, COUNT(*) AS n,
         CAST(SUM(t) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(CAST(t AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(SUM(CAST(t AS HUGEINT) * t) AS HUGEINT) AS sxx
  FROM m GROUP BY seg
)
SELECT seg, CAST(n AS BIGINT) AS n_months,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         AS slope_cents_per_month,
       (CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         AS intercept_cents
FROM s
""",
)
def ols_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment OLS trend of monthly revenue: slope and intercept from
    exact integer moments (months as small ints, revenue in cents,
    DECIMAL(38,0)/HUGEINT cross moments), converted to double only in the
    final identically-shaped closed-form divisions -- the same
    exact-moments-then-one-division discipline as correlation_stats and
    spearman_by_segment, extended to the regression pair.  Two shuffles
    total (month rollup, 5-segment moment agg) regardless of order count."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    )
    m = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            "seg",
            ((F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1).alias("t"),
        )
        .agg(F.sum(_cents("o_totalprice")).cast("long").alias("y"))
    )
    d = "DECIMAL(38,0)"
    s = m.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr(f"CAST(t AS {d}) * y")).alias("sxy"),
        F.sum(F.expr(f"CAST(t AS {d}) * t")).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(x).cast("double") for x in ("n", "sx", "sy", "sxy", "sxx"))
    return s.select(
        "seg",
        F.col("n").cast("long").alias("n_months"),
        ((n * sxy - sx * sy) / (n * sxx - sx * sx)).alias("slope_cents_per_month"),
        ((sy * sxx - sx * sxy) / (n * sxx - sx * sx)).alias("intercept_cents"),
    )


@register(
    "try_functions_zoo",
    """
WITH x AS (
  SELECT o_orderkey AS k,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
         o_orderkey % 7 AS d
  FROM orders
)
SELECT
  COUNT(*) AS n,
  CAST(SUM(CASE WHEN d = 0 THEN NULL ELSE cents // d END) AS BIGINT) AS sum_try_div,
  CAST(SUM(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_div_null,
  CAST(SUM(CASE WHEN TRY_CAST('x' || CAST(k AS VARCHAR) AS BIGINT) IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_badcast_null,
  CAST(SUM(TRY_CAST(CAST(k AS VARCHAR) AS BIGINT)) AS BIGINT) AS sum_goodcast
FROM x
""",
)
def try_functions_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI error-handling surface: the ``try_`` function family returns
    NULL where strict ANSI evaluation would hard-fail -- division by zero,
    malformed casts -- which is the per-row quarantine contract an ingest
    pipeline wants (poison rows become NULLs to count, not job aborts).
    Spark evaluates real try_divide/try_cast; the oracle states the
    equivalent NULL semantics as CASE/TRY_CAST, so the hash gate pins the
    behavior, not just the API.  Runs under the same session as the ANSI
    overflow-discipline test: strict by default, explicitly-opted
    tolerance where the pipeline chooses it."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        _cents("o_totalprice").alias("cents"),
        (F.col("o_orderkey") % 7).alias("d"),
    )
    return o.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("cents div nullif(d, 0)")).cast("long").alias("sum_try_div"),
        F.sum(F.when(F.expr("try_divide(cents, d)").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_div_null"),
        F.sum(
            F.when(F.expr("try_cast(concat('x', CAST(k AS STRING)) AS BIGINT)").isNull(), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_badcast_null"),
        F.sum(F.expr("try_cast(CAST(k AS STRING) AS BIGINT)")).cast("long").alias("sum_goodcast"),
    )


@register(
    "explode_outer_semantics",
    r"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0 THEN []
              ELSE regexp_extract_all(text, '[a-z]+ [a-z]+') END AS bigrams
  FROM documents WHERE doc_id < 100
),
e AS (
  SELECT doc_id, unnest(CASE WHEN len(bigrams) = 0 THEN [NULL] ELSE bigrams END) AS bg
  FROM t
)
SELECT doc_id, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN bg IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_rows,
       MIN(bg) AS first_bigram
FROM e GROUP BY doc_id
""",
)
def explode_outer_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``explode_outer`` null preservation: a document whose array is
    empty must SURVIVE the fan-out as one NULL row (plain explode silently
    drops it -- the classic lost-parent bug when unnesting optional
    nested data).  Every 10th doc's array is emptied to force the case;
    the oracle states the same semantics with an explicit [NULL]
    substitution, so the hash gate pins drop-vs-keep behavior."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    t = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 0, F.array().cast("array<string>"))
        .otherwise(F.expr(r"regexp_extract_all(text, '[a-z]+ [a-z]+', 0)"))
        .alias("bigrams"),
    )
    e = t.select("doc_id", F.explode_outer("bigrams").alias("bg"))
    return e.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("bg").isNull(), 1).otherwise(0)).cast("long").alias("n_null_rows"),
        F.min("bg").alias("first_bigram"),
    )


@register(
    "date_functions_zoo",
    """
SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
       CAST(quarter(o_orderdate) AS BIGINT) AS q,
       COUNT(*) AS n,
       CAST(SUM(dayofyear(o_orderdate)) AS BIGINT) AS doy_sum,
       CAST(SUM(dayofweek(o_orderdate)) AS BIGINT) AS dow_sum,
       CAST(SUM(CASE WHEN o_orderdate = last_day(o_orderdate) THEN 1 ELSE 0 END) AS BIGINT)
         AS month_end_orders,
       CAST(SUM(date_diff('day', o_orderdate, o_orderdate + INTERVAL 3 MONTH)) AS BIGINT)
         AS addmonths_span_days
FROM orders GROUP BY y, q
""",
)
def date_functions_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-function surface pinned cross-engine: quarter/day-of-year
    rollups, month-end detection via last_day, and add_months'
    end-of-month clamping measured as a day span (Jan 31 + 3 months =
    Apr 30: the clamp changes the span, so the SUM would diverge if either
    engine handled it differently).  Engine dialect note encoded here:
    Spark's dayofweek is 1=Sunday, DuckDB's is 0=Sunday -- the query
    normalizes Spark by -1, pinning the offset contract instead of
    tripping on it."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").cast("long").alias("y"),
        F.quarter("o_orderdate").cast("long").alias("q"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.dayofyear("o_orderdate")).cast("long").alias("doy_sum"),
        F.sum(F.dayofweek("o_orderdate") - 1).cast("long").alias("dow_sum"),
        F.sum(
            F.when(F.col("o_orderdate") == F.last_day("o_orderdate"), 1).otherwise(0)
        )
        .cast("long")
        .alias("month_end_orders"),
        F.sum(F.datediff(F.add_months("o_orderdate", 3), F.col("o_orderdate")))
        .cast("long")
        .alias("addmonths_span_days"),
    )


# Portable Bloom filter: m = 16384 bits in 261 63-bit words, k = 3 probes,
# double hashing pos_i = (h1 + i*h2) % m with md5-derived h1/h2 -- every
# piece replayable in any engine with md5 + integer ops.
_BLOOM_M = 16384
_BLOOM_WORDS = _BLOOM_M // 63 + 1


def _bloom_h(col_sql: str, salt: str, engine: str) -> str:
    if engine == "spark":
        return (
            f"CAST(conv(substr(md5(concat('{salt}', CAST({col_sql} AS STRING))), 1, 15), 16, 10)"
            " AS BIGINT)"
        )
    return f"('0x' || substr(md5('{salt}' || CAST({col_sql} AS VARCHAR)), 1, 15))::BIGINT"


def _bloom_oracle() -> str:
    h1 = _bloom_h("o_custkey", "b1|", "duck")
    h2 = _bloom_h("o_custkey", "b2|", "duck")
    p1 = _bloom_h("c_custkey", "b1|", "duck")
    p2 = _bloom_h("c_custkey", "b2|", "duck")
    m, w = _BLOOM_M, _BLOOM_WORDS
    sets_ = ",\n".join(
        f"  bit_or(CASE WHEN (({h1} + {i} * {h2}) % {m}) // 63 = w.wi"
        f" THEN 1 << (({h1} + {i} * {h2}) % {m} % 63) ELSE 0 END) AS b{i}"
        for i in range(3)
    )
    return f"""
WITH keys AS (SELECT DISTINCT o_custkey FROM orders),
w AS (SELECT unnest(range(0, {w})) AS wi),
words AS (
  SELECT w.wi,
{sets_}
  FROM w CROSS JOIN keys GROUP BY w.wi
),
flat AS (SELECT wi, b0 | b1 | b2 AS word FROM words),
probe AS (
  SELECT c.c_custkey,
         EXISTS (SELECT 1 FROM keys k WHERE k.o_custkey = c.c_custkey) AS actual,
         (SELECT MAX(CASE WHEN f.wi = (({p1} + 0 * {p2}) % {m}) // 63
                          THEN (f.word >> (({p1} + 0 * {p2}) % {m} % 63)) & 1 END) = 1
          FROM flat f) AND
         (SELECT MAX(CASE WHEN f.wi = (({p1} + 1 * {p2}) % {m}) // 63
                          THEN (f.word >> (({p1} + 1 * {p2}) % {m} % 63)) & 1 END) = 1
          FROM flat f) AND
         (SELECT MAX(CASE WHEN f.wi = (({p1} + 2 * {p2}) % {m}) // 63
                          THEN (f.word >> (({p1} + 2 * {p2}) % {m} % 63)) & 1 END) = 1
          FROM flat f) AS bloom_pos
  FROM customer c
)
SELECT COUNT(*) AS n_customers,
       CAST(SUM(CASE WHEN actual THEN 1 ELSE 0 END) AS BIGINT) AS n_with_orders,
       CAST(SUM(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_positive,
       CAST(SUM(CASE WHEN bloom_pos AND NOT actual THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_positive,
       CAST(SUM(CASE WHEN NOT bloom_pos AND actual THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_negative
FROM probe
"""


@register("bloom_filter_membership", _bloom_oracle())
def bloom_filter_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A Bloom filter built ENTIRELY from relational primitives, so the
    oracle replays bit-for-bit (Spark's native bloom_filter_agg is
    implementation-hashed; this portable form is the verifiable twin): m
    = 16384 bits in 261 63-bit words (~2 KB; bit 63 of a BIGINT is the
    sign bit and both engines refuse or misread 1<<63, so words hold 63
    usable bits -- size as ceil(m/63), never m/64) via bit_or
    aggregation, k = 3 double-hashed probes (Kirsch-Mitzenmacher), build side = distinct order custkeys,
    probe side = every customer.  The report counts bloom positives and
    FALSE POSITIVES against the exact semi-join truth -- and asserts by
    construction zero false negatives, the Bloom guarantee.  At 100 TB
    this shape is the semi-join pre-filter: the ~2 KB word table broadcasts
    to every probe task and drops most non-matching rows before the real
    join shuffle; Spark's runtime bloom injection (tested in
    test_plan_shapes) automates exactly this plan.  Sizing note: 16 kbit
    holds ~1.6k keys at the canonical 10 bits/key; at sf0.1's 15k keys the
    filter is deliberately saturated, and the report SHOWS that as the FP
    count -- production picks m from n, this query pins the mechanism."""
    m, wn = _BLOOM_M, _BLOOM_WORDS
    keys = load_table(spark, sf_dir, "orders").select("o_custkey").distinct()
    h1 = _bloom_h("o_custkey", "b1|", "spark")
    h2 = _bloom_h("o_custkey", "b2|", "spark")
    pos = keys.selectExpr(
        *[f"(({h1} + {i} * {h2}) % {m}) AS p{i}" for i in range(3)]
    )
    bits = pos.selectExpr(
        *[f"p{i} div 63 AS w{i}" for i in range(3)],
        *[f"shiftleft(CAST(1 AS BIGINT), CAST(p{i} % 63 AS INT)) AS b{i}" for i in range(3)],
    )
    words = None
    for i in range(3):
        wi = bits.groupBy(F.col(f"w{i}").alias("wi")).agg(
            F.expr(f"bit_or(b{i})").alias("word")
        )
        words = wi if words is None else words.unionByName(wi)
    flat = words.groupBy("wi").agg(F.expr("bit_or(word)").alias("word"))
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    p1 = _bloom_h("c_custkey", "b1|", "spark")
    p2 = _bloom_h("c_custkey", "b2|", "spark")
    probe = cust.selectExpr(
        "c_custkey", *[f"(({p1} + {i} * {p2}) % {m}) AS p{i}" for i in range(3)]
    )
    for i in range(3):
        probe = (
            probe.join(
                F.broadcast(flat.selectExpr(f"wi AS w{i}", f"word AS word{i}")),
                F.expr(f"p{i} div 63") == F.col(f"w{i}"),
                "left",
            )
            .withColumn(
                f"hit{i}",
                F.expr(f"coalesce((shiftright(word{i}, CAST(p{i} % 63 AS INT)) & 1) = 1, false)"),
            )
            .drop(f"w{i}", f"word{i}")
        )
    actual = keys.selectExpr("o_custkey AS c_custkey").withColumn("actual", F.lit(True))
    rep = (
        probe.join(actual, "c_custkey", "left")
        .withColumn("actual", F.coalesce(F.col("actual"), F.lit(False)))
        .withColumn("bloom_pos", F.col("hit0") & F.col("hit1") & F.col("hit2"))
    )
    return rep.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.when(F.col("actual"), 1).otherwise(0)).cast("long").alias("n_with_orders"),
        F.sum(F.when(F.col("bloom_pos"), 1).otherwise(0)).cast("long").alias("n_bloom_positive"),
        F.sum(F.when(F.col("bloom_pos") & ~F.col("actual"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_positive"),
        F.sum(F.when(~F.col("bloom_pos") & F.col("actual"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_negative"),
    )


@register(
    "rfm_customer_segments",
    """
WITH base AS (
  SELECT o_custkey AS ck,
         MAX(date_diff('day', DATE '1992-01-01', o_orderdate)) AS r,
         COUNT(*) AS f,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS m
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT ck, r, f, m,
         row_number() OVER (ORDER BY r, ck) AS rr,
         row_number() OVER (ORDER BY f, ck) AS rf,
         row_number() OVER (ORDER BY m, ck) AS rm,
         COUNT(*) OVER () AS n
  FROM base
),
coded AS (
  SELECT (rr - 1) * 4 // n AS r_code,
         (rf - 1) * 4 // n AS f_code,
         (rm - 1) * 4 // n AS m_code,
         m
  FROM ranked
)
SELECT r_code, f_code, m_code, COUNT(*) AS n_customers,
       CAST(SUM(m) AS BIGINT) AS segment_cents
FROM coded GROUP BY r_code, f_code, m_code
""",
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quartile codes) --
    the standard customer-value lattice behind retention and campaign
    targeting.  Each dimension's quartile is the explicit integer formula
    (rank-1)*4 div n over a strict (metric, custkey) total order, with all
    three global ranks computed by the distributed two-pass `global_rank`
    (never a one-task sort; the oracle uses the equivalent single-window
    SQL).  Ranks run over the per-customer AGGREGATE, so the ranked input
    is customers, not orders; the final rollup is at most 64 lattice
    cells."""
    from odp_dynamic_data_pipeline_spark.operators.partitioning import global_rank

    base = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.max(F.datediff("o_orderdate", F.lit("1992-01-01"))).alias("r"),
            F.count(F.lit(1)).alias("f"),
            F.sum(_cents("o_totalprice")).cast("long").alias("m"),
        )
    )
    ranked = base
    for metric, col in (("r", "rr"), ("f", "rf"), ("m", "rm")):
        ranked = global_rank(ranked, [metric, "ck"], rank_col=col)
    # empty-input guard: max over zero rows is None; any denominator keeps
    # the (empty) plan analyzable, matching the oracle's clean empty result
    n = ranked.agg(F.max("rr")).first()[0] or 1
    coded = ranked.select(
        F.expr(f"(rr - 1) * 4 div {n}").alias("r_code"),
        F.expr(f"(rf - 1) * 4 div {n}").alias("f_code"),
        F.expr(f"(rm - 1) * 4 div {n}").alias("m_code"),
        "m",
    )
    return coded.groupBy("r_code", "f_code", "m_code").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("m").cast("long").alias("segment_cents"),
    )


@register(
    "kmv_trailing_windows",
    """
WITH d AS (
  SELECT DISTINCT event_type,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
         user_id
  FROM events
),
days AS (SELECT DISTINCT event_type, day FROM d),
win AS (
  SELECT w.event_type, w.day, d.user_id
  FROM days w
  JOIN d ON d.event_type = w.event_type AND d.day BETWEEN w.day - 6 AND w.day
),
h AS (
  SELECT DISTINCT event_type, day,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM win
),
r AS (
  SELECT event_type, day, h,
         row_number() OVER (PARTITION BY event_type, day ORDER BY h) AS rn
  FROM h
),
s AS (
  SELECT event_type, day, COUNT(*) AS cnt, MAX(h) AS h_k
  FROM r WHERE rn <= 64 GROUP BY event_type, day
),
n AS (
  SELECT event_type, day, COUNT(DISTINCT user_id) AS n_exact
  FROM win GROUP BY event_type, day
),
e AS (
  SELECT s.event_type, s.day, n.n_exact,
         CASE WHEN s.cnt < 64 THEN s.cnt
              ELSE CAST((63::HUGEINT * 1152921504606846976) // s.h_k AS BIGINT)
         END AS kmv_estimate
  FROM s JOIN n ON s.event_type = n.event_type AND s.day = n.day
)
SELECT event_type, day, n_exact, kmv_estimate,
       abs(kmv_estimate - n_exact) * 5 <= n_exact AS within_20pct
FROM e
""",
)
def kmv_trailing_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per event type via WINDOWED KMV
    sketch merge -- the pattern that makes sliding-window COUNT(DISTINCT)
    tractable at scale: one bounded sketch per (key, day) partial, then
    each trailing window is a MERGE of 7 partials (k-min of unioned
    k-mins == global k-min), so no window ever re-touches raw events.
    The Spark side computes exactly that two-level shape -- daily partial
    sketches fanned to the windows they serve via an explode equi-join --
    while the oracle computes each window single-level from scratch; hash
    parity is again the merge-law proof, now across overlapping windows.
    Exact per-window distincts ride along with a 20% bound-as-data
    column.  Cost: partials touch each event once; the merge layer is
    O(windows x k) rows."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day"),
        "user_id",
    ).distinct()
    # daily partial sketch: k smallest distinct hashes per (type, day)
    h = d.select(
        "event_type",
        "day",
        F.expr("CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)").alias(
            "h"
        ),
    ).distinct()
    K = 64
    part = (
        h.withColumn("rn", F.row_number().over(Window.partitionBy("event_type", "day").orderBy("h")))
        .filter(F.col("rn") <= K)
        .select("event_type", "day", "h")
    )
    # fan each daily partial to the trailing windows it serves (day..day+6),
    # keep only windows that actually exist (inner join with the day list)
    days = d.select("event_type", "day").distinct()
    fan = (
        part.withColumn("wday", F.explode(F.expr("sequence(day, day + 6)")))
        .join(days.select("event_type", F.col("day").alias("wday")), ["event_type", "wday"])
        .select("event_type", F.col("wday").alias("day"), "h")
        .distinct()  # same user hash may arrive from several partial days
    )
    merged = fan.withColumn(
        "rn", F.row_number().over(Window.partitionBy("event_type", "day").orderBy("h"))
    ).filter(F.col("rn") <= K)
    s = merged.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("cnt"), F.max("h").alias("h_k")
    )
    # exact trailing distinct for the bound column
    win = (
        d.withColumn("wday", F.explode(F.expr("sequence(day, day + 6)")))
        .join(days.select("event_type", F.col("day").alias("wday")), ["event_type", "wday"])
        .groupBy("event_type", F.col("wday").alias("day"))
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    est = F.when(F.col("cnt") < K, F.col("cnt")).otherwise(
        F.expr(f"CAST((CAST({K - 1} AS DECIMAL(38,0)) * {1 << 60}) div h_k AS BIGINT)")
    )
    return (
        s.join(win, ["event_type", "day"])
        .withColumn("kmv_estimate", est)
        .select(
            "event_type",
            "day",
            "n_exact",
            "kmv_estimate",
            (F.abs(F.col("kmv_estimate") - F.col("n_exact")) * 5 <= F.col("n_exact")).alias(
                "within_20pct"
            ),
        )
    )


@register(
    "region_share_report",
    """
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY region, nation
),
tot AS (SELECT region, CAST(SUM(cents) AS BIGINT) AS region_cents FROM rev GROUP BY region)
SELECT rev.region, rev.nation, rev.cents, tot.region_cents,
       CAST(rev.cents * 1000000 // tot.region_cents AS BIGINT) AS share_e6
FROM rev JOIN tot ON rev.region = tot.region
""",
)
def region_share_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent rollup (each nation's share of its region's
    revenue) -- the contribution layout every BI drill-down renders.  Star
    join with both dims broadcast, one fact aggregate, then the parent
    total joins back as a 5-row broadcast; shares are exact e6 integers.
    The alternative -- a windowed SUM() OVER (PARTITION BY region) on the
    fact -- recomputes the parent per row; aggregating once and joining
    back is the shape that scales."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey", "n_name")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(_cents("o_totalprice")).cast("long").alias("cents"))
    )
    tot = rev.groupBy("region").agg(F.sum("cents").cast("long").alias("region_cents"))
    return rev.join(F.broadcast(tot), "region").select(
        "region",
        "nation",
        "cents",
        "region_cents",
        F.expr("CAST(cents * 1000000 div region_cents AS BIGINT)").alias("share_e6"),
    )


@register(
    "argmax_functions_zoo",
    """
WITH e AS (
  SELECT user_id, event_id, event_type,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
         epoch_us(ts) AS t
  FROM events
)
SELECT user_id,
       arg_max(event_type, cents * 10000000 + event_id) AS top_value_type,
       arg_max(event_id, cents * 10000000 + event_id) AS top_value_event,
       arg_min(event_type, t * 10 + event_id % 10) AS first_event_type,
       CAST(MAX(cents) AS BIGINT) AS max_cents
FROM e GROUP BY user_id
""",
)
def argmax_functions_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-extremum aggregate surface (max_by/min_by == DuckDB's
    arg_max/arg_min): the which-row-was-it companion to MAX that avoids a
    self-join or window.  The determinism trap these functions carry: on
    TIED ordering keys the result is engine- (and partition-order-)
    dependent, so every ordering key here is made strict by folding the
    unique event_id into its low digits -- the same discipline a
    production pipeline needs before trusting max_by across retries.
    Map-side-combinable single aggregate, one shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        _cents("value").alias("cents"),
        F.unix_micros("ts").alias("t"),
    )
    return e.groupBy("user_id").agg(
        F.expr("max_by(event_type, cents * 10000000 + event_id)").alias("top_value_type"),
        F.expr("max_by(event_id, cents * 10000000 + event_id)").alias("top_value_event"),
        F.expr("min_by(event_type, t * 10 + event_id % 10)").alias("first_event_type"),
        F.max("cents").cast("long").alias("max_cents"),
    )


@register(
    "rolling_correlation_series",
    """
WITH daily AS (
  SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
         CAST(SUM(CASE WHEN event_type = 'view'
                       THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS v,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS p
  FROM events GROUP BY day
),
win AS (
  SELECT day,
         COUNT(*) OVER w AS n,
         SUM(v) OVER w AS sv, SUM(p) OVER w AS sp,
         SUM(CAST(v AS HUGEINT) * p) OVER w AS svp,
         SUM(CAST(v AS HUGEINT) * v) OVER w AS svv,
         SUM(CAST(p AS HUGEINT) * p) OVER w AS spp
  FROM daily
  WINDOW w AS (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT day, CAST(n AS BIGINT) AS n_days,
       (CAST(n AS DOUBLE) * CAST(svp AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sp AS DOUBLE))
       / nullif(sqrt(CAST(n AS DOUBLE) * CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)), 0.0)
         AS rolling_corr
FROM win
""",
)
def rolling_correlation_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day Pearson correlation between two daily series (view
    vs purchase spend) -- the co-movement monitor for metric pairs.  The
    raw events reduce to ONE row per day first, so the sliding windows run
    over the tiny daily series, never over events; moments accumulate as
    exact integers inside RANGE-framed windows (day gaps handled by the
    range frame, not row offsets) and only the final closed form divides
    as identically-shaped doubles, nullif-guarded for constant windows.
    At scale: events -> daily is the only data-sized pass."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day")
    ).agg(
        F.sum(F.when(F.col("event_type") == "view", _cents("value")).otherwise(0))
        .cast("long")
        .alias("v"),
        F.sum(F.when(F.col("event_type") == "purchase", _cents("value")).otherwise(0))
        .cast("long")
        .alias("p"),
    )
    w = Window.orderBy("day").rangeBetween(-6, 0)
    win = daily.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("v").over(w).alias("sv"),
        F.sum("p").over(w).alias("sp"),
        F.sum(F.expr("CAST(v AS DECIMAL(38,0)) * p")).over(w).alias("svp"),
        F.sum(F.expr("CAST(v AS DECIMAL(38,0)) * v")).over(w).alias("svv"),
        F.sum(F.expr("CAST(p AS DECIMAL(38,0)) * p")).over(w).alias("spp"),
    )
    n, sv, sp, svp, svv, spp = (
        F.col(x).cast("double") for x in ("n", "sv", "sp", "svp", "svv", "spp")
    )
    return win.select(
        "day",
        F.col("n").cast("long").alias("n_days"),
        (
            (n * svp - sv * sp)
            / F.expr(
                "nullif(sqrt(CAST(n AS DOUBLE) * CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))"
                " * sqrt(CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)), 0.0D)"
            )
        ).alias("rolling_corr"),
    )


@register(
    "string_functions_zoo3",
    """
WITH t AS (
  SELECT doc_id, substr(text, 1, 20) AS s, lang
  FROM documents WHERE doc_id < 50
)
SELECT doc_id,
       lpad(lang, 6, '*') AS padded,
       rpad(lang, 6, '.') AS rpadded,
       translate(s, 'aeiou', '00000') AS devoweled,
       reverse(left(s, 8)) AS rev_head,
       right(s, 5) AS tail5,
       split_part(s, ' ', 2) AS second_word,
       instr(s, 'a') AS first_a,
       replace(s, ' ', '_') AS snaked,
       repeat(lang, 2) AS doubled
FROM t
""",
)
def string_functions_zoo3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third scalar-string surface block: padding, translate, directional
    slices (left/right), split_part, instr, replace, repeat -- the
    normalization toolkit of any ingest mapping, pinned value-for-value
    across engines on real document prefixes (each function verified to
    share semantics with the oracle dialect before inclusion; e.g. both
    engines 1-index instr and return '' not NULL for a missing
    split_part index).  Pure projection: codegen'd, no shuffle."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    t = docs.select("doc_id", F.expr("substr(text, 1, 20)").alias("s"), "lang")
    return t.selectExpr(
        "doc_id",
        "lpad(lang, 6, '*') AS padded",
        "rpad(lang, 6, '.') AS rpadded",
        "translate(s, 'aeiou', '00000') AS devoweled",
        "reverse(left(s, 8)) AS rev_head",
        "right(s, 5) AS tail5",
        "split_part(s, ' ', 2) AS second_word",
        "instr(s, 'a') AS first_a",
        "replace(s, ' ', '_') AS snaked",
        "repeat(lang, 2) AS doubled",
    )


@register(
    "bitmap_cooccurrence_matrix",
    """
WITH m AS (
  SELECT DISTINCT event_type, user_id // 63 AS wi,
         CAST(1 AS BIGINT) << CAST(user_id % 63 AS INT) AS bit
  FROM events
),
words AS (
  SELECT event_type, wi, bit_or(bit) AS word FROM m GROUP BY event_type, wi
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(SUM(bit_count(a.word & b.word)) AS BIGINT) AS n_users_both
  FROM words a JOIN words b ON a.wi = b.wi AND a.event_type < b.event_type
  GROUP BY type_a, type_b
)
SELECT type_a, type_b, n_users_both FROM pairs
""",
)
def bitmap_cooccurrence_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix via BITMAP INDEXES, no user-level join: each
    event type's user set packs into 63-bit words (roaring-bitmap-lite:
    word index = user div 63, same sign-bit avoidance as the Bloom
    build), overlap = SUM(bit_count(a AND b)) over aligned words -- the
    segment-intersection primitive OLAP engines use when every
    combination of N segments would otherwise be N^2 distinct-count
    joins.  Bitmap size is |user universe|/63 words per segment
    regardless of event volume, the word join is an equi-join on word
    index, and popcount is a single JVM intrinsic per word pair.  The
    oracle replays the identical packing, so the counts are exact, not
    estimates."""
    ev = load_table(spark, sf_dir, "events")
    m = ev.select(
        "event_type",
        F.expr("user_id div 63").alias("wi"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))").alias("bit"),
    ).distinct()
    words = m.groupBy("event_type", "wi").agg(F.expr("bit_or(bit)").alias("word"))
    a = words.select(
        F.col("event_type").alias("type_a"), "wi", F.col("word").alias("wa")
    )
    b = words.select(
        F.col("event_type").alias("type_b"), F.col("wi").alias("wi_b"), F.col("word").alias("wb")
    )
    return (
        a.join(b, (F.col("wi") == F.col("wi_b")) & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(F.sum(F.expr("bit_count(wa & wb)")).cast("long").alias("n_users_both"))
    )


@register(
    "partial_topk_orders",
    """
WITH j AS (
  SELECT c.c_mktsegment AS seg, o.o_orderkey AS orderkey,
         CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
r AS (
  SELECT seg, orderkey, cents,
         row_number() OVER (PARTITION BY seg ORDER BY cents DESC, orderkey) AS rk
  FROM j
)
SELECT seg, orderkey, cents, rk FROM r WHERE rk <= 5
""",
)
def partial_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 orders per segment via TWO-STAGE partial top-k -- the
    bucket-local pre-reduction that keeps per-group ranking from shuffling
    the whole fact table (the standalone form of the shortlist cutoff
    inside similarity_pq_topk, SCALE.md "Exact distributed top-k"):
    stage 1 ranks within (segment, hash-bucket) and keeps each bucket's
    top k -- a provably sufficient superset, since a row outside its own
    bucket's top k is outrun by k rows in ANY merged order -- so stage 2's
    per-segment window sees at most k x buckets survivors instead of all
    rows.  The bucket function never affects the RESULT (the oracle is
    the plain single-window top-k); it only bounds the final window's
    input.  Deterministic (cents DESC, orderkey) tiebreak end to end."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    )
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "seg", F.col("o_orderkey").alias("orderkey"), _cents("o_totalprice").alias("cents")
    )
    B = 32
    bucketed = j.withColumn("b", F.abs(F.xxhash64("orderkey")) % B)
    w1 = Window.partitionBy("seg", "b").orderBy(F.desc("cents"), F.asc("orderkey"))
    survivors = (
        bucketed.withColumn("rk1", F.row_number().over(w1)).filter(F.col("rk1") <= 5).drop("rk1", "b")
    )
    w2 = Window.partitionBy("seg").orderBy(F.desc("cents"), F.asc("orderkey"))
    return (
        survivors.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= 5)
        .select("seg", "orderkey", "cents", "rk")
    )


@register(
    "multi_grain_rollup",
    """
WITH e AS (
  SELECT event_type,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
         month(CAST(ts AS DATE)) AS mon,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events
)
SELECT event_type,
       CASE WHEN GROUPING(day) = 0 THEN 'day'
            WHEN GROUPING(mon) = 0 THEN 'month'
            ELSE 'total' END AS grain,
       day, mon,
       COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM e
GROUP BY GROUPING SETS ((event_type, day), (event_type, mon), (event_type))
""",
)
def multi_grain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every reporting grain in ONE pass: daily, monthly, and total
    aggregates per event type via GROUPING SETS, with GROUPING() bits
    labeling each row's grain -- one scan and one shuffle produce what
    three separate GROUP BYs (three scans) would, which is the point at
    100 TB.  NULLed-out grouping columns stay in the output (the driver
    hash treats NULL as a value), and the grain label makes the lattice
    self-describing for downstream consumers."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day"),
        F.month(F.to_date("ts")).alias("mon"),
        _cents("value").alias("cents"),
    )
    e.createOrReplaceTempView("__mg_e")
    return ev.sparkSession.sql(
        """
        SELECT event_type,
               CASE WHEN GROUPING(day) = 0 THEN 'day'
                    WHEN GROUPING(mon) = 0 THEN 'month'
                    ELSE 'total' END AS grain,
               day, mon,
               COUNT(*) AS n, SUM(cents) AS sum_cents
        FROM __mg_e
        GROUP BY GROUPING SETS ((event_type, day), (event_type, mon), (event_type))
        """
    )
