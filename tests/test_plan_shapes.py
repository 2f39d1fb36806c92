"""Physical-plan regression guards: the properties that matter at 100 TB
must stay in the plan, not just in the docstrings.

- dimension joins broadcast (no shuffle of the fact side)
- single-shuffle aggregations stay single-shuffle
"""

from __future__ import annotations

import re

from odp_dynamic_data_pipeline_spark.queries import SPARK_QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = SPARK_QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_enrich_joins_broadcast(spark):
    plan = plan_of(spark, "enrich_orders_customer")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_tlb_single_shuffle(spark):
    """Window + groupBy on the same key must share one exchange."""
    plan = plan_of(spark, "tlb_session_metrics")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_conditional_counts_partial_agg(spark):
    plan = plan_of(spark, "conditional_counts_by_user")
    # map-side partial aggregation before the shuffle
    assert plan.count("HashAggregate") >= 2
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_no_python_in_relational_hot_paths(spark):
    for name in ["tlb_session_metrics", "dedup_exact", "token_count_stats",
                 "embedding_cosine_topk"]:
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan, f"row-at-a-time Python UDF in {name}"
        assert "ArrowEvalPython" not in plan, f"unexpected pandas UDF in {name}"


def test_stratified_sample_is_map_only(spark):
    """The mixture re-weighting gate must not shuffle: filter over scan."""
    plan = plan_of(spark, "stratified_sample_langs")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark gram table broadcasts; the corpus side never shuffles
    for the join (only the final per-doc count aggregation exchanges)."""
    plan = plan_of(spark, "decontaminate_benchmark")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chunking_is_map_only(spark):
    """Document chunking must stay shuffle-free (sequence/slice + explode)."""
    plan = plan_of(spark, "doc_chunks")
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_no_inferred_size_filter_under_explode(spark):
    """Regression guard for the InferFiltersFromGenerate exclusion
    (session.py RUNTIME_CONFS): the inferred size(arr)>0 filter under an
    explode of a COMPUTED array gets pushed below the array's
    materializing Project, re-running the tokenizer inside every
    element_at of the n-gram lambda (measured 20x+). The optimized plan
    of an n-gram explode must not contain a Filter evaluating the
    transform lambda."""
    from pyspark.sql import functions as F

    from odp_dynamic_data_pipeline_spark.operators.dedup import hashed_shingles_direct

    df = spark.createDataFrame([(1, "a b c d e f g h i j")], "doc_id long, text string")
    out = hashed_shingles_direct(df, "doc_id", "text", n=8).select(
        "doc_id", F.explode("hsh").alias("g")
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if line.strip().startswith("Filter") or "+- Filter" in line:
            assert "transform(" not in line, f"lambda leaked into a Filter: {line[:200]}"


def test_model_quality_score_is_map_only(spark):
    """The hashed-linear scorer must run inside the scan stage: no
    exchange, no Python, the whole fold in whole-stage codegen."""
    plan = plan_of(spark, "model_quality_score")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # codegen stages show as "*(n)" in executedPlan.toString
    assert "*(" in plan


def test_topic_assignment_no_shuffle_before_join(spark):
    """Centroid assignment is a folded-constant map; the only exchanges
    allowed belong to the doc join (none when AQE broadcasts it)."""
    plan = plan_of(spark, "topic_doc_assignment")
    import re as _re
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # no aggregation exchange in the final assignment plan (training ran
    # eagerly at build time); at sf0.001 the doc join broadcasts
    assert len(_re.findall(r"Exchange hashpartitioning", plan)) == 0


def test_head_reports_use_take_ordered(spark):
    """Top-k head reports must compile to TakeOrderedAndProject (per-
    partition heaps), never a global Sort of the full vocab/key table."""
    for name in ("bpe_top_merges", "zipf_head_coverage"):
        plan = plan_of(spark, name)
        assert "TakeOrderedAndProject" in plan, name
        assert "Sort [" not in plan.split("TakeOrderedAndProject")[0], name


def test_shard_manifest_single_shuffle(spark):
    """Seeded shard shuffle: exactly one hash-partition exchange (by
    shard), the window sorts within partitions only."""
    plan = plan_of(spark, "shard_manifest")
    import re as _re
    assert len(_re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_ansi_mode_overflow_discipline(spark):
    """SCALE.md's overflow contract, enforced: the unbounded accumulators
    (DECIMAL(38,0) revenue sums over the whole fact table, per-user
    duration sums and counts) must survive ANSI mode -- where int64 overflow is a hard job
    failure instead of a silent wraparound -- and produce the identical
    rows they produce with ANSI off.  Catches any future accumulator that
    forgets the DECIMAL(38,0) discipline."""
    targets = ["correlate_star_3way", "tlb_session_metrics"]
    baseline = {}
    for name in targets:
        baseline[name] = sorted(
            tuple(r) for r in SPARK_QUERIES[name](spark, SF).collect()
        )
    # temp_confs, not a manual save/restore: the old form's get(key,
    # "false") fallback re-wrote the SESSION DEFAULT (true in Spark 4) as
    # an explicit ansi=false, silently flipping semantics for every later
    # test in the shared session (caught by the iexp2 both-modes test)
    from tests.conftest import temp_confs

    with temp_confs(spark, {"spark.sql.ansi.enabled": "true"}):
        for name in targets:
            got = sorted(tuple(r) for r in SPARK_QUERIES[name](spark, SF).collect())
            assert got == baseline[name], f"{name} diverged under ANSI mode"


def test_coverage_inventory_complete():
    """Every registered query must appear in COVERAGE.md, and every query
    COVERAGE.md cites as *oracle* must be registered -- the inventory the
    reader checks line-by-line stays in lockstep with the registry both ways.
    A cite is every backticked name in the comma-, ``/``- or
    ``and``-separated run that ends in *oracle*, not only the last one.
    Every row of the analytics-queries table carries that marker."""
    import os

    cov_path = os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md")
    cov = open(cov_path).read()
    missing = [n for n in SPARK_QUERIES if n not in cov]
    assert not missing, f"queries absent from COVERAGE.md: {missing}"
    runs = re.findall(r"((?:`[^`]+`\s*(?:,\s*and|,|/|and)\s*)*`[^`]+`)\s*\*oracle\*", cov)
    cited = {name for run in runs for name in re.findall(r"`([^`]+)`", run)}
    unknown = sorted(cited - set(SPARK_QUERIES))
    assert not unknown, f"COVERAGE.md cites unregistered queries as *oracle*: {unknown}"
    # the analytics table cites every query as *oracle*, so the check above
    # covers each of its rows; a row without the marker would escape it
    table = cov.split("## Analytics queries beyond the reference")[1].split("\n## ")[0]
    rows = [r for r in table.splitlines() if r.startswith("|")][2:]
    unmarked = [r for r in rows if "*oracle*" not in r]
    assert rows and not unmarked, f"analytics-table rows without *oracle*: {unmarked}"


def test_sessionize_exact_pandas_keys_on_buckets(spark):
    """The bucketed register walk's FlatMapGroupsInPandas must key on the
    synthetic __pv_bucket, not the raw user key (per-group Arrow machinery
    scales with group count)."""
    plan = plan_of(spark, "sessionize_exact_pandas")
    m = re.search(r"FlatMapGroupsInPandas \[([a-zA-Z_0-9#L]+)\]", plan)
    assert m, plan[:800]
    assert m.group(1).startswith("__pv_bucket"), m.group(1)


def test_bucketed_join_revenue_no_join_exchange(spark):
    """The bucketed-join query's SMJ must consume bucket files directly:
    the ONLY hash exchange in the plan is the final 5-group aggregate,
    never a join side (the property that amortizes the write-time shuffle
    over every downstream join at scale)."""
    plan = plan_of(spark, "bucketed_join_revenue")
    assert "SortMergeJoin" in plan, plan[:800]
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan[:1200]


def test_fuzzy_join_no_cross_product(spark):
    """Deletion-neighborhood blocking must stay an equi-join: the lev <= d
    semantics invite a cartesian + levenshtein filter, which is exactly
    what the blocking exists to avoid."""
    from odp_dynamic_data_pipeline_spark.operators.dedup import edit_distance_join
    from odp_dynamic_data_pipeline_spark.sources.catalog import load_table

    sup = load_table(spark, SF, "supplier").select("s_suppkey", "s_name")
    plan = edit_distance_join(
        sup, id_col="s_suppkey", str_col="s_name", max_dist=1
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan  # exact verify stays in the plan


def test_containment_join_lazy_shape(spark):
    """Prefix-filtered containment: candidates from an equi-join, exact
    intersect verify, never a cross product (eager=False exposes the lazy
    plan; the default eager path checkpoints the small result)."""
    from odp_dynamic_data_pipeline_spark.operators.dedup import containment_join
    from odp_dynamic_data_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    plan = containment_join(
        docs, docs, n=8, tau_e6=800_000, eager=False
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "array_intersect" in plan


def test_hamming_join_lazy_shape(spark):
    """Pigeonhole banding: the band equi-join and the popcount verify must
    both be in the plan; no cross product."""
    from odp_dynamic_data_pipeline_spark.operators.dedup import hamming_join
    from odp_dynamic_data_pipeline_spark.sources.catalog import load_table

    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents").select(
        "doc_id", F.xxhash64("text").alias("code")
    )
    plan = hamming_join(
        docs, id_col="doc_id", code_col="code", bits=64, max_dist=3, eager=False
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bit_count" in plan


def test_minhash_lsh_one_lazy_plan(spark):
    """MinHash-LSH is one lazy plan: the signatures and band buckets come
    from a code-generated aggregate (no interpreted zip_with/aggregate
    fold), nothing is cached or checkpointed, candidates come from an
    equi-join, and the verification side reads a reused exchange."""
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    df = SPARK_QUERIES["dedup_minhash_lsh"](spark, SF)
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert not after - before, "minhash_lsh_pairs left a persisted RDD"
    for node in ("InMemoryTableScan", "ExistingRDD", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, node
    assert "zip_with" not in plan and not re.search(r"\baggregate\(", plan)
    assert re.search(r"\*\(\d+\) HashAggregate\(keys=\[doc_id#\d+L, band#\d+\], functions=\[min\(xxhash64\(", plan)
    assert re.search(r"ReusedExchange \[[^\]]*\b(hsh|h_b)#", plan)


def test_minhash_lsh_verifies_without_array_union(spark):
    """Verification intersects each candidate pair's distinct shingle
    hashes and derives the union's size from it: the final plan has no
    array_union, and array_intersect appears only in the join condition
    (into which the optimizer inlines the threshold filter) and in the
    projection above it."""
    df = SPARK_QUERIES["dedup_minhash_lsh"](spark, SF)
    assert df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "array_union" not in final
    assert final.count("array_intersect") == 2, final
