"""Relational queries over the TPC-H and events testdata that run the
engine's own operators, each checked against an independent DuckDB oracle:

- ``range_join_value_tiers``: a broadcast range join whose probe side is
  fanned out by ``partitioning.ensure_min_parallelism``, against a bounds
  table built by ``localrel.local_relation``;
- ``scd2_pointintime_join``: point-in-time lookup with ``asof.asof_join``,
  replayed by DuckDB's native ASOF LEFT JOIN;
- ``zorder_layout_report``: Morton keys from ``partitioning.zorder_value``;
- ``gini_revenue_concentration``, ``equidepth_price_histogram`` and
  ``rfm_customer_segments``: the distributed two-pass
  ``partitioning.global_rank`` against a single-window ``row_number()``.

Determinism follows the registry contract (queries/__init__.py): money in
exact scaled integers, division only on identically-shaped doubles or
exact integers, a strict total order under every rank.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from odp_dynamic_data_pipeline_spark.queries import register
from odp_dynamic_data_pipeline_spark.sources.catalog import load_table


def _cents(col: str) -> Column:
    return F.expr(f"CAST(ROUND({col} * 100, 0) AS BIGINT)")


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
