"""AQE skew-join splitting (OptimizeSkewedJoin) — the consolidated suite.

Salting (a hash salt on the fact side, the dim side exploded across all
salt values; SCALE.md) is the manual answer to hot join keys; AQE's skew-join is the zero-code one — at runtime it observes the
map output sizes, splits a skewed partition above
`skewedPartitionFactor x median` into advisory-sized slices, and
replicates the matching build-side partition across them.  Thresholds
are lowered here so toy data exhibits what a 100 TB zipf key does
naturally.  Pinned: the `SortMergeJoin(skew=true)` +
`AQEShuffleRead skewed` plan shape under this engine's sessions, the
finalized-AQE-plan marker, and result equality with splitting disabled.
Complementary to tests/test_cbo_stats.py: CBO picks the initial
strategy from static statistics, AQE re-plans mid-query from observed
sizes.  When the hot key must also AGGREGATE, manual salting remains
necessary (AQE never rewrites group-bys) — see SCALE.md.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import temp_confs

CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
}


def _skewed_join(spark):
    # key 0 holds 80% of the probe side -- a zipf head in miniature
    big = spark.range(0, 200_000).select(
        F.when(F.col("id") % 5 != 0, 0).otherwise(F.col("id") % 1000).alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") * 7).alias("w"))
    return big.join(dim, "k").groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("v") + F.col("w")).alias("s")
    )


def test_skewed_partition_is_split(spark):
    with temp_confs(spark, CONFS):
        j = _skewed_join(spark)
        rows = j.collect()  # AQE finalizes the plan only after execution
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
        assert "AQEShuffleRead skewed" in plan, plan[:2000]
        assert rows[0]["n"] == 200_000


def test_skew_split_preserves_results(spark):
    with temp_confs(spark, CONFS):
        with_split = {tuple(r) for r in _skewed_join(spark).collect()}
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        without = {tuple(r) for r in _skewed_join(spark).collect()}
        assert with_split == without and with_split
