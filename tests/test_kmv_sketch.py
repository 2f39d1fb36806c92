"""kmv_sketch (k-minimum-values distinct sketch): exact-below-k
behavior, estimate accuracy, determinism, the two-level ungrouped path;
kmv_overlap set algebra; cross_duplicate_spans (span-level
decontamination) crafted-doc semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from odp_dynamic_data_pipeline_spark.operators.text import (
    cross_duplicate_spans,
    kmv_sketch,
)


def _ids(spark, n, offset=0):
    return spark.range(offset, offset + n).select(F.col("id").alias("v"))


def test_exact_below_k_and_deterministic(spark):
    df = _ids(spark, 40)
    a = kmv_sketch(df, "v", k=64).collect()[0]
    b = kmv_sketch(df, "v", k=64).collect()[0]
    assert a.n_sketch == 40 and a.est_distinct == 40  # exact below k
    assert a.sketch == b.sketch  # deterministic md5, no RNG
    assert a.sketch == sorted(a.sketch)


def test_estimate_within_tolerance_above_k(spark):
    # KMV standard error ~ 1/sqrt(k-2); at k=64 and n=5000 the estimate
    # should land well inside 3 sigma (~38%) -- use 25% as the gate
    df = _ids(spark, 5000)
    r = kmv_sketch(df, "v", k=64).collect()[0]
    assert r.n_sketch == 64
    assert abs(r.est_distinct - 5000) <= 1250, r.est_distinct


def test_grouped_sketch_and_validation(spark):
    df = spark.range(200).select(
        (F.col("id") % 2).alias("g"), F.col("id").alias("v")
    )
    rows = {r.g: r for r in kmv_sketch(df, "v", k=16, group_cols=["g"]).collect()}
    assert set(rows) == {0, 1} and all(r.n_sketch == 16 for r in rows.values())
    with pytest.raises(ValueError, match="k must"):
        kmv_sketch(df, "v", k=1)


# ---------------------------------------------------------------------------
# cross_duplicate_spans (span-level decontamination)
# ---------------------------------------------------------------------------


def _words(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_cross_spans_find_benchmark_leaks_only(spark):
    leak = _words("q", 10)  # a 10-token benchmark passage
    bench = spark.createDataFrame(
        [(100, _words("b", 3) + " " + leak)], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, _words("a", 2) + " " + leak + " " + _words("c", 3)),  # leaked
            (2, _words("u", 20)),  # clean
            (3, leak),  # fully leaked
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in cross_duplicate_spans(corpus, bench, min_tokens=8).collect()
    }
    assert got == {(1, 3, 12, 10), (3, 1, 10, 10)}


def test_cross_spans_corpus_internal_dups_ignored(spark):
    # two corpus docs sharing a passage the benchmark does NOT contain:
    # decontamination must stay silent (that is duplicate_spans' job)
    shared = _words("s", 9)
    bench = spark.createDataFrame([(100, _words("b", 12))], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, shared), (2, shared)], "doc_id long, text string"
    )
    assert cross_duplicate_spans(corpus, bench, min_tokens=8).count() == 0


# ---------------------------------------------------------------------------
# kmv_overlap (Theta-sketch set algebra)
# ---------------------------------------------------------------------------

from odp_dynamic_data_pipeline_spark.operators.text import kmv_overlap  # noqa: E402


def test_overlap_exact_below_k_and_accuracy(spark):
    # groups small enough that sketches are exhaustive: estimates are EXACT
    rows = (
        [("a", i) for i in range(30)]
        + [("b", i) for i in range(20, 50)]  # |a ∩ b| = 10, |a ∪ b| = 50
        + [("c", i) for i in range(100, 110)]  # disjoint from both
    )
    df = spark.createDataFrame(rows, "g string, v long")
    got = {
        (r.g_a, r.g_b): (r.est_union, r.n_common, r.est_inter, r.est_jaccard_e6)
        for r in kmv_overlap(df, "v", "g", k=64).collect()
    }
    assert got[("a", "b")] == (50, 10, 10, 200_000)  # J = 10/50 exactly
    assert got[("a", "c")][1] == 0 and got[("a", "c")][2] == 0
    assert got[("b", "c")][3] == 0


def test_overlap_estimates_above_k_within_tolerance(spark):
    # 3000-element groups with 50% overlap at k=64: KMV jaccard std err
    # ~ sqrt(J(1-J)/k) ~ 6%; union std err ~ 1/sqrt(k-2) ~ 13%. 3-sigma
    # gates.
    rows = [("a", i) for i in range(3000)] + [("b", i) for i in range(1500, 4500)]
    df = spark.createDataFrame(rows, "g string, v long")
    r = kmv_overlap(df, "v", "g", k=64).collect()[0]
    assert abs(r.est_union - 4500) <= 1800
    assert abs(r.est_jaccard_e6 - 333_333) <= 200_000
    assert abs(r.est_inter - 1500) <= 1000


def test_overlap_validation(spark):
    df = spark.createDataFrame([("a", 1)], "g string, v long")
    import pytest

    with pytest.raises(ValueError, match="k must"):
        kmv_overlap(df, "v", "g", k=1)


# ---------------------------------------------------------------------------
# ungrouped two-level (shard-then-fold) path -- VERDICT r8 item 2
# ---------------------------------------------------------------------------


def test_ungrouped_two_level_bit_identical(spark):
    # the shard/fold rewrite must equal the naive global top-k EXACTLY,
    # across awkward partition layouts (including partitions with < k rows)
    for n, parts, k in [(5000, 16, 64), (40, 7, 64), (300, 1, 16), (65, 32, 64)]:
        df = _ids(spark, n).repartition(parts)
        got = kmv_sketch(df, "v", k=k).collect()[0]
        h = F.expr("CAST(conv(substr(md5(CAST(v AS STRING)), 1, 13), 16, 10) AS BIGINT)")
        ref = [r.h for r in df.select(h.alias("h")).distinct().orderBy("h").limit(k).collect()]
        assert got.sketch == ref, (n, parts, k)
        assert got.n_sketch == min(n, k)
        if n >= k:
            assert got.est_distinct == (k - 1) * (1 << 52) // ref[-1]
        else:
            assert got.est_distinct == n


def test_ungrouped_plan_has_no_single_partition_window(spark):
    df = _ids(spark, 100)
    plan = kmv_sketch(df, "v", k=8)._jdf.queryExecution().executedPlan().toString()
    assert "__shard" in plan  # sharded level-1 window
    # every Window node must carry a partition spec: the node prints as
    # "Window [exprs], [partition cols], [order]" when partitioned and
    # "Window [exprs], [order]" when global -- count comma-separated
    # bracket groups per Window line
    for line in plan.splitlines():
        ls = line.strip().lstrip("+-* ")
        if ls.startswith("Window "):
            assert ls.count("], [") >= 2, f"single-partition window: {ls}"


def test_ungrouped_empty_input(spark):
    empty = spark.range(0).select(F.col("id").alias("v"))
    r = kmv_sketch(empty, "v", k=8).collect()[0]
    assert list(r.sketch) == [] and r.n_sketch == 0 and r.est_distinct == 0


def test_k_upper_bound_validation(spark):
    df = spark.createDataFrame([("a", 1)], "g string, v long")
    with pytest.raises(ValueError, match="2048"):
        kmv_sketch(df, "v", k=4096)
    with pytest.raises(ValueError, match="2048"):
        kmv_overlap(df, "v", "g", k=4096)
