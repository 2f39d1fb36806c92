"""A1, A3-A5: grouped and conditional aggregation.

Conditional counts are per-eventType counters (src/batch_tlb.py:72-77).
Spark-native: one ``groupBy(keys).agg`` with ``count(when(...))`` legs --
partial (map-side) aggregation comes free, so at 100 TB each executor
pre-collapses its partitions before the single shuffle on the group key.
The TLB job's zero-defaults (A2) need no universe join: it groups every
event row once (``plans/tlb.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def conditional_counts(
    df: DataFrame,
    group_cols: list[str] | str,
    conditions: dict[str, Column],
    extra_aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """groupBy(group_cols) with one count-if column per named condition."""
    if isinstance(group_cols, str):
        group_cols = [group_cols]
    aggs = [F.count(F.when(cond, F.lit(1))).alias(name) for name, cond in conditions.items()]
    aggs += [expr.alias(name) for name, expr in (extra_aggs or {}).items()]
    return df.groupBy(*group_cols).agg(*aggs)


def weighted_median(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Lower weighted median per group: the smallest value v whose
    cumulative weight reaches half the group's total weight (no
    interpolation -- the returned value is always an actual data value,
    so everything stays exact integers).  The estimator behind
    quantity-weighted price summaries and sample-weighted label stats.

    Shape: collapse ties first (groupBy (group, value) with map-side
    partial agg -- the heavy reduction), then a cumulative-sum window
    over the DISTINCT-value rollup (rows = distinct values per group,
    never data rows), then one more groupBy for the argmin.  Output:
    (group_cols..., total_w, n_distinct_values, wmedian)."""
    per_val = df.groupBy(*group_cols, value_col).agg(
        F.sum(weight_col).cast("long").alias("__w")
    )
    from pyspark.sql import Window

    wspec = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col(value_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy(*group_cols)
    cum = per_val.select(
        *group_cols,
        value_col,
        F.col("__w"),
        F.sum("__w").over(wspec).cast("long").alias("__cum"),
        F.sum("__w").over(wtot).cast("long").alias("__tot"),
    )
    return (
        cum.where(2 * F.col("__cum") >= F.col("__tot"))
        .groupBy(*group_cols)
        .agg(
            F.max("__tot").cast("long").alias("total_w"),
            F.min(value_col).alias("wmedian"),
        )
        .join(
            per_val.groupBy(*group_cols).agg(
                F.count(F.lit(1)).cast("long").alias("n_distinct_values")
            ),
            group_cols,
        )
        .select(*group_cols, "total_w", "n_distinct_values", "wmedian")
    )


def winsorized_stats(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    *,
    p_lo: int = 5,
    p_hi: int = 95,
) -> DataFrame:
    """Winsorized (clipped) statistics per group: values below the p_lo-th
    / above the p_hi-th percentile are clamped to those bounds before
    summing -- the robust mean that tames heavy tails without dropping
    rows.

    Bounds are NEAREST-RANK percentiles (smallest value whose cumulative
    count reaches ceil(p * n / 100)), so they are actual data values and
    the whole computation stays integer-exact -- deliberately not the
    interpolated quantile, whose fractional results would push the
    clipped sum into float territory.

    Shape: the weighted_median pattern -- collapse to per-(group, value)
    counts map-side, cumulative window over the DISTINCT-value rollup to
    find both bounds, broadcast the 2-value bounds row back, one clipped
    aggregation.  Output: (group_cols..., n, lo_bound, hi_bound,
    n_clipped_low, n_clipped_high, wins_sum, wins_mean_e6)."""
    from pyspark.sql import Window

    per_val = df.groupBy(*group_cols, value_col).agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    wspec = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col(value_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy(*group_cols)
    cum = per_val.select(
        *group_cols,
        value_col,
        F.sum("__c").over(wspec).cast("long").alias("__cum"),
        F.sum("__c").over(wtot).cast("long").alias("__tot"),
    )
    bounds = (
        cum.groupBy(*group_cols)
        .agg(
            F.min(
                F.when(100 * F.col("__cum") >= F.lit(p_lo) * F.col("__tot"), F.col(value_col))
            ).alias("lo_bound"),
            F.min(
                F.when(100 * F.col("__cum") >= F.lit(p_hi) * F.col("__tot"), F.col(value_col))
            ).alias("hi_bound"),
        )
    )
    x = df.join(F.broadcast(bounds), group_cols)
    clipped = F.greatest(F.col("lo_bound"), F.least(F.col("hi_bound"), F.col(value_col)))
    return x.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("lo_bound").cast("long").alias("lo_bound"),
        F.max("hi_bound").cast("long").alias("hi_bound"),
        F.sum((F.col(value_col) < F.col("lo_bound")).cast("long")).cast("long").alias("n_clipped_low"),
        F.sum((F.col(value_col) > F.col("hi_bound")).cast("long")).cast("long").alias("n_clipped_high"),
        F.sum(clipped).cast("long").alias("wins_sum"),
    ).withColumn("wins_mean_e6", F.expr("(1000000 * wins_sum) div n").cast("long"))
