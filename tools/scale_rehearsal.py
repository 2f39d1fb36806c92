"""Scale-up rehearsal beyond sf0.1 (VERDICT r6 item 5).

Fixed testdata tops out at sf0.1 (5,000 documents / 2,000 embeddings), so
the 100 TB claim rests on plan-shape arguments.  This harness is the
strongest available measurement proxy: generate synthetic corpora at
1x / 3x / 10x the sf0.1 row counts through the repo's own
``SyntheticCorpusDataSource`` (sources/pyds.py -- driver-bottleneck-free
sharded generation), run the most expensive documents/embeddings queries
at each scale, and fit the per-query scaling exponent
(least-squares slope of log t vs log m).  An exponent near 1.0 means the
operator scales linearly with corpus size; materially above ~1.3 flags a
super-linear term (candidate-pair blowup, unpartitioned window, driver
collect) that 100 TB would amplify.

Corpus shape: the raw synthetic docs (vocab 20, 5-24 tokens) are near-dup
FREE (random short docs share almost no 3-gram shingles), which would let
the dedup-graph family run on an empty edge set.  A twin layer fixes the
density: every 5th doc gets a near-duplicate copy (one token appended,
Jaccard >= ~0.85) with doc_id offset by n_docs -- so the candidate graph
carries ~n/5 genuine near-dup edges at every scale, the same relative
density at 1x and 10x.  Embeddings are deterministic 64-dim uniforms in
[-0.38, 0.38] (xxhash64-derived, matching the real table's range) with
labels 0-9.

Usage: python tools/scale_rehearsal.py [out_json] [query ...]
  env: SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_SCALES (default "1,3,10")
Writes SCALE_REHEARSAL.json: {query: {"t": {m: sec}, "exponent": e}, ...}.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

# the most expensive registered queries that read ONLY documents /
# embeddings (r6 bench ranking) -- the dedup graph family, LSH, IVF-PQ,
# semantic dedup and the exact-Jaccard join
DEFAULT_QUERIES = [
    # semantic dedup: ONLY the scale path (k ~ sqrt(N), exponent 0.67) is
    # in the default set as of r11 -- the fixed-k=8 teaching variant
    # `semantic_dedup_clusters` is by-construction super-linear (exponent
    # 1.03, 133.8 s at 30x; its docstring says so) and measuring it every
    # round re-buys a known number; pass it explicitly to re-measure.
    "semantic_dedup_scaled",
    # r12: the forced broadcast-centroid path (the true k ~ sqrt(N) plan
    # shape; see operators/similarity.py LITERAL_CENTROID_MAX) rehearsed
    # alongside, so the data path carries its own exponent receipt
    "semantic_dedup_scaled_bcast",
    "dedup_clusters",
    "dedup_clusters_star",
    "similarity_ivfpq_topk",
    "lsh_precision_report",
    "dedup_graph_kcore",
    "dedup_graph_labelprop",
    "dedup_graph_pagerank",
    "jaccard_prefix_join",
    "link_prediction_scores",
    "dedup_minhash_lsh",
    # r10: the heavy character-exact span family (14-join plans; the
    # "spans-bounded, no corpus-scale shuffle" claim carries a measurement)
    "char_exact_spans",
    "scrub_char_exact",
]

BASE_DOCS = 4_000   # + 800 twins ~= sf0.1's 5,000 docs at m=1
BASE_EMB = 2_000
BASE_EVENTS = 100_000  # sf0.1's events row count at m=1
BASE_USERS = 1_500


def gen_dataset(spark, out_dir: str, m: int) -> None:
    """Synthetic sf0.1-shaped dataset at ``m`` times the row counts.

    Vocabulary grows with scale (Heaps' law: real corpora add vocabulary
    as they grow; vocab = 20 * m^(1/3), unchanged at m=1 so rows measured
    before r8 stay comparable).  A FIXED vocab makes the dedup graph
    densify QUADRATICALLY -- two random 5-24-token docs over 20 words
    share a 3-gram shingle with constant probability, so random minhash
    band collisions scale as n^2 (measured at r8: edges/m^2 ~ 1500
    constant across m=1..30, max degree growing linearly) and every
    graph-family rehearsal exponent silently measures input blowup
    instead of operator behavior.  With vocab ~ m^(1/3) the random
    pair-collision probability falls as ~1/V^3 ~ 1/m, keeping the random
    edge term ~linear in n on top of the by-construction-linear n/5
    twin edges -- constant relative density, which is what 'same corpus,
    more of it' means."""
    from odp_dynamic_data_pipeline_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    n_docs = BASE_DOCS * m
    raw = (
        spark.read.format("synthetic_corpus")
        .option("n_docs", n_docs)
        .option("partitions", 32)
        .option("vocab", max(20, round(20 * m ** (1.0 / 3.0))))
        .load()
    )
    twins = raw.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + n_docs).alias("doc_id"),
        F.concat("text", F.lit(" t0")).alias("text"),
    )
    docs = raw.unionByName(twins).select(
        "doc_id",
        "text",
        F.element_at(
            F.array(F.lit("en"), F.lit("en"), F.lit("en"), F.lit("zh"), F.lit("de")),
            (F.pmod(F.xxhash64("doc_id", F.lit("lang")), F.lit(5)) + 1).cast("int"),
        ).alias("lang"),
        F.concat(F.lit("src"), F.pmod(F.xxhash64("doc_id", F.lit("src")), F.lit(20))).alias(
            "source"
        ),
        F.length("text").alias("n_chars"),
    )
    docs.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")
    emb = spark.range(BASE_EMB * m).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 63), j -> "
            "CAST((pmod(xxhash64(id, j), 1000) - 500) / 1300.0 AS FLOAT))"
        ).alias("embedding"),
        F.pmod(F.xxhash64("id", F.lit("label")), F.lit(10)).cast("int").alias("label"),
    )
    emb.write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")
    # events shaped like the driver table (event_id, ts over 30 days,
    # user_id scaling WITH the corpus -- more data means more users, the
    # "same product, more traffic" model -- 5 event types, value, props);
    # deterministic xxhash64 fields, no RNG
    types = "array('view', 'click', 'purchase', 'signup', 'error')"
    ev = spark.range(BASE_EVENTS * m).select(
        F.col("id").alias("event_id"),
        F.expr(
            "timestamp_seconds(1704067200 + pmod(xxhash64(id, 'ts'), 2592000))"
        ).alias("ts"),
        F.pmod(F.xxhash64("id", F.lit("u")), F.lit(BASE_USERS * m)).alias("user_id"),
        F.expr(
            f"element_at({types}, CAST(pmod(xxhash64(id, 'et'), 5) + 1 AS INT))"
        ).alias("event_type"),
        (F.pmod(F.xxhash64("id", F.lit("v")), F.lit(100_000)) / 100.0).alias("value"),
        F.to_json(
            F.struct(F.pmod(F.xxhash64("id", F.lit("k")), F.lit(1024)).alias("k"))
        ).alias("props"),
    )
    ev.write.mode("overwrite").parquet(f"{out_dir}/events.parquet")


def fit_exponent(ts: dict[int, float]) -> float:
    """Least-squares slope of log t over log m."""
    pts = [(math.log(m), math.log(t)) for m, t in ts.items() if t > 0]
    if len(pts) < 2:
        return float("nan")
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    return round((n * sxy - sx * sy) / (n * sxx - sx * sx), 3)


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "SCALE_REHEARSAL.json")
    names = sys.argv[2:] or DEFAULT_QUERIES
    scales = [int(s) for s in os.environ.get("SPARK_GRAFT_SCALES", "1,3,10").split(",")]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from odp_dynamic_data_pipeline_spark.queries import SPARK_QUERIES
    from odp_dynamic_data_pipeline_spark.session import get_spark

    spark = get_spark("scale_rehearsal", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    root = tempfile.mkdtemp(prefix="scale_rehearsal_")
    dirs: dict[int, str] = {}
    for m in scales:
        d = f"{root}/m{m}"
        print(f"generating m={m} ({BASE_DOCS * m} docs + twins, {BASE_EMB * m} emb)",
              file=sys.stderr)
        gen_dataset(spark, d, m)
        dirs[m] = d

    def write_doc(results: dict) -> dict:
        doc = {
            "queries": results,
            "scales_x_sf01": scales,
            "base_rows": {"documents": BASE_DOCS, "doc_twins": BASE_DOCS // 5,
                          "embeddings": BASE_EMB},
            "cpus": int(cpus),
            "protocol": "one shared session; untimed warm pass at smallest scale,"
            " then one timed run per scale ascending; exponent = LSQ slope of"
            " log t vs log m",
        }
        # written after EVERY query so a late failure loses nothing
        with open(out_path, "w") as f:
            f.write(json.dumps(doc) + "\n")
        return doc

    results: dict[str, dict] = {}
    # ALWAYS merge into an existing artifact -- a run only overwrites the
    # rows it re-measures.  (r11 lesson: the default-set run used to start
    # from {} and wholesale-rewrote the file, silently dropping the
    # day_rehearsal_24h and store_growth_* receipts that SCALE.md and the
    # NOTES cite; tests/test_receipt_citations.py now pins that every
    # cited receipt exists in the committed JSON.)
    if os.path.exists(out_path):
        try:
            with open(out_path) as f:
                results = json.load(f).get("queries", {})
        except Exception:  # noqa: BLE001 - corrupt artifact: start fresh
            results = {}
    for name in names:
        if name not in SPARK_QUERIES:
            results[name] = {"error": "not a registered query"}
            print(f"{name}: not a registered query", file=sys.stderr)
            continue
        fn = SPARK_QUERIES[name]
        # untimed warm pass at the smallest scale sheds per-query codegen
        try:
            fn(spark, dirs[scales[0]]).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            results[name] = {"error": repr(e)[:300]}
            print(f"{name}: ERROR {e!r}", file=sys.stderr)
            continue
        ts: dict[int, float] = {}
        for m in scales:
            t0 = time.time()
            try:
                fn(spark, dirs[m]).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - keep the smaller scales
                results[name] = {"t": ts, "error_at_scale": m,
                                 "error": repr(e)[:300]}
                print(f"{name}: ERROR at m={m} {e!r}", file=sys.stderr)
                break
            ts[m] = round(time.time() - t0, 3)
        if "error" in results.get(name, {}):
            write_doc(results)
            continue
        results[name] = {"t": ts, "exponent": fit_exponent(ts)}
        print(f"{name}: {ts} exponent={results[name]['exponent']}", file=sys.stderr)
        write_doc(results)

    print(json.dumps(write_doc(results)))
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
