"""Physical-plan audit: sweep EVERY registered query and flag the plan
anti-patterns that hurt at 100 TB, regardless of whether a unit test covers
that query yet.

Checks per query (on the sf0.001 plan -- plan SHAPE, not timing):

* PYTHON-IN-PLAN: BatchEvalPython / row-at-a-time PythonUDF in a query not
  explicitly whitelisted as a pandas-path demonstration.
* CARTESIAN: CartesianProduct without a broadcast side (BNLJ against a
  broadcast constant table is fine; a shuffled cartesian is not).
* WIDE-SCAN: parquet scan reading >12 columns (pruning failure smell).
* SMJ-ON-DIM: SortMergeJoin whose build side is a fixed-cardinality dim
  (nation/region) -- should have broadcast.

Writes PLANS.md (one line per query + flag details) and exits nonzero on
any finding outside the whitelist.  Run: python tools/plan_audit.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

# queries whose PURPOSE is the Python path (Arrow-batched by design)
PANDAS_BY_DESIGN = {
    "sessionize_exact_pandas",
    "multimodal_features",
    "multimodal_frame_sample",
    "multimodal_real_decode",  # mapInPandas WAV/PPM decode IS the operator
    "multimodal_resize",       # mapInPandas box-mean resize IS the operator
    "multimodal_ahash_dedup",  # mapInPandas perceptual hash IS the operator
    "session_cap_windows",         # anchor-restart cap walk: data-dependent recurrence, no window-algebra closed form
    "topic_assign_two_level",      # r14: Arrow int64-matmul two-level assignment IS the operator (similarity._assign_two_level_arrow)
    "semantic_dedup_linear",       # r14: same Arrow assignment stage feeds the within-cluster election
}
# queries where a cartesian against a broadcast side is the algorithm
BROADCAST_NLJ_BY_DESIGN = {
    "semantic_dedup_scaled_bcast", # broadcast ONE-ROW centroid relation
                                   # (the k~sqrt(N) data path: BNLJ against
                                   # a single row IS the design; similarity
                                   # .py::_centroids_relation)
    "range_join_value_tiers",      # 3-row tier bounds table
    "kmv_overlap_matrix",          # group-pair cross product of the DISTINCT
                                   # group list (G rows, G=5 event types);
                                   # per-pair work is k-row sketches, never data
    "embedding_cosine_topk",       # brute-force baseline: scan x broadcast queries
    "matryoshka_overlap_report",   # two cosine_topk legs: scan x broadcast queries (k-bounded overlap join after)
    "hard_negative_mining",        # brute-force baseline: scan x broadcast queries
    "embedding_neardup_by_label",  # label-blocked exact pass
    "similarity_pq_topk",          # ADC scan x broadcast query tables
    "token_surprisal_scores",      # corpus-constant token total broadcast
    "corpus_mixture_weights",      # single-row normalization totals broadcast
    "zipf_head_coverage",          # corpus-constant token total broadcast
    "token_drift_by_source",       # single-row grand-total broadcast
    "token_budget_allocation",     # single-row weight-total + leftover broadcasts
    "quality_signal_correlation",  # corpus-constant token total broadcast (surprisal leg)
    "degree_powerlaw_fit",         # single-row log-log moment broadcast over the degree histogram
    "ks_test_value_drift",         # single-row totals + single-row max-D broadcasts over the support
    "cluster_aware_split",         # two single-row report halves (split sizes x leak counts) crossed
    "exact_quantiles_events",      # single-row grand-total broadcast over the distinct-value rollup
}
# queries where a GLOBAL (unpartitioned) window is safe: its input is
# already bounded to <= top_k rows by TakeOrderedAndProject / limit, or to a
# fixed-cardinality group set -- the single partition holds K rows, never
# the data.  Every other global window is a 100 TB failure (all rows to one
# task) and gets flagged.
# queries whose INPUT is a registered Python DataSource (the §2.8
# extension surface demo) -- Python at the ingest boundary by design,
# never in a transform hot path
PYTHON_SOURCE_BY_DESIGN = {
    "pyds_synthetic_corpus",
}

GLOBAL_WINDOW_BOUNDED = {
    "token_budget_allocation", # rank over per-source rows (bounded sources)
    "bpe_top_merges",          # rank over top-k merge pairs (limit top_k)
    "oov_rate_report",         # rank over top-k vocab tokens (limit top_k)
    "corpus_mixture_weights",  # largest-remainder rank over bounded sources
    "training_mixture_manifest",   # same largest-remainder pattern
    "zipf_head_coverage",      # cumulative share over top-k tokens
}


def main() -> None:
    from odp_dynamic_data_pipeline_spark.queries import SPARK_QUERIES
    from odp_dynamic_data_pipeline_spark.session import get_spark

    spark = get_spark("plan-audit", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    lines = ["# PLANS — physical-plan audit (sf0.001 shapes)", ""]
    failures = 0
    for name, fn in sorted(SPARK_QUERIES.items()):
        try:
            df = fn(spark, SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            lines.append(f"- `{name}`: PLAN-ERROR {e!r:.120}")
            failures += 1
            continue
        flags = []
        if ("BatchEvalPython" in plan or "ArrowEvalPython" in plan or "FlatMapGroupsInPandas" in plan or "MapInPandas" in plan or "MapInArrow" in plan) and name not in PANDAS_BY_DESIGN:
            flags.append("PYTHON-IN-PLAN")
        if "BatchScan" in plan and "(Python)" in plan and name not in PYTHON_SOURCE_BY_DESIGN:
            # a Python DataSource scan is Python at the INGEST boundary --
            # legitimate only where the source itself is the point
            flags.append("PYTHON-SOURCE")
        if "CartesianProduct" in plan:
            flags.append("CARTESIAN")
        if "BroadcastNestedLoopJoin" in plan and name not in BROADCAST_NLJ_BY_DESIGN:
            flags.append("UNPLANNED-BNLJ")
        for m in re.finditer(r"FileScan parquet \[([^\]]*)\]", plan):
            cols = m.group(1)
            ncols = len([c for c in cols.split(",") if "#" in c])
            extra = re.search(r"\.\.\. (\d+) more fields", cols)
            if extra:
                ncols += int(extra.group(1))
            if ncols > 12:
                flags.append(f"WIDE-SCAN({ncols})")
                break
        for m in re.finditer(r"SortMergeJoin.*?(n_nationkey|r_regionkey)", plan):
            flags.append("SMJ-ON-DIM")
            break
        if name not in GLOBAL_WINDOW_BOUNDED:
            for ln in plan.splitlines():
                if "Window [" in ln and " WindowGroupLimit" not in ln:
                    # a partitioned Window prints 3 bracket groups
                    # (functions, partition, order) => two "], [" seps.
                    # Two groups is AMBIGUOUS: "partitioned, no order"
                    # (e.g. a tie-count window: count(1) OVER (PARTITION
                    # BY k, score)) also prints two.  Disambiguate by the
                    # last group's content: an ordering group carries
                    # ASC/DESC; a partition group is bare columns.  The
                    # zero-partition-zero-order form prints its spec as
                    # windowspecdefinition(specifiedwindowframe...).
                    if "windowspecdefinition(specifiedwindowframe" in ln:
                        flags.append("GLOBAL-WINDOW")
                        break
                    if ln.count("], [") < 2:
                        last = ln.rsplit("], [", 1)[-1]
                        if " ASC" in last or " DESC" in last:
                            flags.append("GLOBAL-WINDOW")
                            break
        n_exch = plan.count("Exchange hashpartitioning")
        n_bhj = plan.count("BroadcastHashJoin")
        n_smj = plan.count("SortMergeJoin")
        status = " ".join(flags) if flags else "ok"
        if flags:
            failures += 1
        lines.append(
            f"- `{name}`: {status} (shuffles={n_exch}, bhj={n_bhj}, smj={n_smj})"
        )
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    lines.append("")
    lines.append(
        f"{len(SPARK_QUERIES)} queries audited, {failures} flagged.  "
        "Whitelists in tools/plan_audit.py document every deliberate "
        "Python-path / broadcast-NLJ usage."
    )
    # hand-written adjudications below this marker survive regeneration
    marker = "## Adjudications"
    kept = ""
    if os.path.exists(out):
        prev = open(out).read()
        if marker in prev:
            kept = "\n" + prev[prev.index(marker):]
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n" + kept)
    print(f"wrote {out}: {len(SPARK_QUERIES)} queries, {failures} flagged")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
