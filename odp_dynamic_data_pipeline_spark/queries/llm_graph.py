"""Dedup-graph analytics queries: connected components (batch, star,
incremental streaming), PageRank, personalized PageRank, triangles,
degree power-law -- all over the exact-Jaccard near-dup edge set.
Split from queries/llm.py in r13 (size only; no behavior change).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from odp_dynamic_data_pipeline_spark.operators import dedup as dd
from odp_dynamic_data_pipeline_spark.queries import register
from odp_dynamic_data_pipeline_spark.sources.catalog import load_table
from odp_dynamic_data_pipeline_spark.queries.llm import MINHASH_MD5_ORACLE, dedup_minhash_md5  # noqa: E501


def _pagerank_oracle(iters: int = 5) -> str:
    """Unrolled fixed-point PageRank replay over the md5-minhash candidate
    graph: the MINHASH_MD5_ORACLE prefix produces the pair list, then one
    CTE per iteration applies base + (85 * sum(r div deg)) div 100 in
    integer arithmetic -- bit-identical to operators.dedup.pagerank."""
    prefix = MINHASH_MD5_ORACLE[: MINHASH_MD5_ORACLE.index("SELECT a.doc_id AS id_a")]
    body = prefix + """, pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.bi = b.bi AND a.b = b.b AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
nn AS (SELECT COUNT(*) AS n FROM deg),
r0 AS (SELECT src AS nid, 1000000000 // nn.n AS r FROM deg CROSS JOIN nn)"""
    for k in range(1, iters + 1):
        body += f""",
r{k} AS (
  SELECT d.src AS nid,
         (15 * CAST(1000000000 AS BIGINT)) // (100 * nn.n)
         + (85 * COALESCE(s.s, CAST(0 AS BIGINT))) // 100 AS r
  FROM deg d CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst, SUM(r.r // dg.deg) AS s
    FROM sym e JOIN r{k - 1} r ON r.nid = e.src JOIN deg dg ON dg.src = e.src
    GROUP BY e.dst
  ) s ON s.dst = d.src
)"""
    body += f"""
SELECT nid AS doc_id, CAST(r AS BIGINT) AS rank_e9 FROM r{iters}
"""
    return body



@register("dedup_graph_pagerank", _pagerank_oracle(iters=5))
def dedup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Authority scoring of the near-duplicate graph
    (operators.dedup.pagerank): 5 fixed-point PageRank iterations over the
    md5-minhash candidate pairs -- the canonical-copy signal a curation
    pipeline uses to pick which duplicate anchors a cluster.  Integer
    truncating arithmetic end to end, so the DuckDB oracle replays every
    iteration bit-exactly (the third oracle-gated iterative family, after
    min-label CC and Lloyd k-means)."""
    edges = dedup_minhash_md5(spark, sf_dir).select("id_a", "id_b")
    ranks = dd.pagerank(edges, iters=5)
    return ranks.select(
        F.col("nid").alias("doc_id"), F.col("rank").alias("rank_e9")
    )



DEDUP_CLUSTERS_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS s
  FROM (SELECT doc_id, t, UNNEST(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks)
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
edges AS (
  SELECT id_a, id_b
  FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE (1000000 * inter) // (sa.sz + sb.sz - inter) >= 300000
),
sym AS (SELECT id_a AS src, id_b AS dst FROM edges
        UNION ALL SELECT id_b, id_a FROM edges),
cc AS (
  SELECT doc_id AS nid, doc_id AS comp FROM documents
  UNION
  SELECT s.dst, cc.comp FROM cc JOIN sym s ON s.src = cc.nid
)
SELECT nid AS doc_id, MIN(comp) AS component
FROM cc GROUP BY nid
"""



CONTAMINATION_SPREAD_ORACLE = DEDUP_CLUSTERS_ORACLE[
    : DEDUP_CLUSTERS_ORACLE.index("cc AS (")
] + """seeds AS (SELECT doc_id FROM documents WHERE source = 'src0'),
walk AS (
  SELECT doc_id AS nid, 0 AS hops FROM seeds
  UNION
  SELECT s.dst, walk.hops + 1 FROM walk JOIN sym s ON s.src = walk.nid
  WHERE walk.hops < 4
)
SELECT nid AS doc_id, CAST(MIN(hops) AS INTEGER) AS hops
FROM walk GROUP BY nid
"""



@register("contamination_spread_hops", CONTAMINATION_SPREAD_ORACLE)
def contamination_spread_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRANSITIVE contamination over the near-dup graph (operators.dedup.
    bfs_hops): seed every document from the tainted source ('src0', the
    benchmark-derived slice), expand <= 4 hops along the exact 3-gram
    Jaccard >= 0.3 edges (same edge set as dedup_clusters), label each
    reached document with its MINIMUM hop count.  contamination_check
    flags direct n-gram overlap; this closes the loophole where a
    paraphrased near-dup of a contaminated document slips through --
    the decontamination radius every eval-hygiene pipeline needs.  The
    DuckDB oracle replays the walk with a bounded recursive CTE."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    edges = _jaccard_edges(docs.select("doc_id", "text"))
    seeds = docs.where(F.col("source") == "src0").select("doc_id")
    return dd.bfs_hops(seeds, edges, id_col="doc_id", max_hops=4)



@register("dedup_clusters", DEDUP_CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: exact 3-gram Jaccard >= 0.3 pairs as edges,
    connected components by iterative min-label propagation (operators.
    dedup.connected_components).  Pairs alone cannot drive dedup at scale
    -- transitive groups pick one keeper per component.  The DuckDB oracle
    walks the same graph with a recursive CTE."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # explode is already duplicate-free (array_distinct inside the direct
    # hasher); n-gram hashes are computed straight from the token columns
    # (no shingle strings), and the 8-byte keys shuffle/compare ~2x cheaper
    # than strings with identical counts (collision odds ~n^2/2^64)
    # Unpersisted by choice: sizes + both join sides re-run the shingle
    # hashing (3 map-side passes).  Measured at sf0.1 the persist cost more
    # than the recompute (cache write + read of the 4x-wider exploded
    # stream vs 3 cheap source scans + hash CPU); at warehouse scale the
    # same trade usually still favors recompute, but a deployment that
    # feeds MANY consumers from one shingle table should materialize it
    # once (write the hashed-shingle table, as the PQ path stores codes).
    edges = _jaccard_edges(docs)
    return dd.connected_components(docs.select("doc_id"), edges, id_col="doc_id")



@register("incremental_clusters_stream", DEDUP_CLUSTERS_ORACLE)
def incremental_clusters_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL connected components == one-shot batch CC,
    driver-verified against the SAME recursive-CTE oracle as
    dedup_clusters: the exact-Jaccard near-dup edges stream in two
    arbitrary drops (CC is commutative -- any split replays identically)
    through streaming.run_incremental_cc's lazy-union protocol: the
    label store only inserts new nodes, component merges append to a
    tiny remap chain instead of rewriting member rows, and the read
    resolves labels through the driver-closed chain.  This keeps
    cluster-keeper decisions CURRENT per arriving corpus drop -- the
    maintained-view face of the dedup-graph family, per-batch cost
    batch-driven (touched buckets + a contracted merge graph with one
    node per touched component)."""
    from odp_dynamic_data_pipeline_spark.queries.core import (
        _stream_shuffle,
        _stream_tmpdir,
    )
    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        read_incremental_cc,
        run_incremental_cc,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edges = _jaccard_edges(docs).select("id_a", "id_b")
    tmp = _stream_tmpdir("inc_clusters_stream")
    src = f"{tmp}/in"
    # one pass writes both drops; hash-repartition on the split key leaves
    # exactly one file per drop for maxFilesPerTrigger=1 WITHOUT collapsing
    # the upstream pair-aggregation reduce to a single task (r13: the old
    # coalesce(1) propagated through the final joins/filter, serializing
    # the whole edge pipeline's last stage; CC folding is split- and
    # order-invariant, so within-file row order is free to change)
    (
        edges.withColumn("drop", F.pmod(F.xxhash64("id_a"), F.lit(2)))
        .repartition("drop")
        .write.partitionBy("drop")
        .mode("overwrite")
        .parquet(src)
    )
    stream = (
        spark.readStream.schema(edges.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/drop=*")
    )
    with _stream_shuffle(spark):
        run_incremental_cc(
            stream, f"{tmp}/store", checkpoint=f"{tmp}/ckpt", n_buckets=32
        )
    return read_incremental_cc(
        spark, f"{tmp}/store", universe=docs.select("doc_id"), id_col="doc_id"
    ).select("doc_id", "component")



@register("incremental_clusters_compacted_stream", DEDUP_CLUSTERS_ORACLE)
def incremental_clusters_compacted_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CC with the MAINTENANCE path exercised mid-stream ==
    one-shot batch CC, driver-verified against the same recursive-CTE
    oracle as dedup_clusters / incremental_clusters_stream: the same
    near-dup edge drops fold batch-by-batch, but after EVERY fold the
    chain auto-compaction trigger runs at threshold 0
    (maybe_compact_incremental_cc -- any merge chain folds into the
    labels immediately, the most adversarial compaction cadence), and the
    final batch is REPLAYED after its compaction flip -- the post-flip
    retry the reserved ``v{B}m{k}`` maintenance namespace exists for:
    the replay must fold idempotently ON TOP of the compacted state,
    never rebuild from the pre-compaction parent (which would resurrect
    the folded chain).  One oracle hash-gates lazy-union folding, chain
    compaction, and maintenance-replay semantics together (r11; advisor
    r10 maintenance-namespace finding made driver-checkable)."""
    from odp_dynamic_data_pipeline_spark.queries.core import (
        _stream_shuffle,
        _stream_tmpdir,
    )
    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        apply_incremental_cc_batch,
        maybe_compact_incremental_cc,
        read_incremental_cc,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # materialize the edge pipeline ONCE (lazy localCheckpoint): the three
    # folds below (two drops + the post-compaction replay) each consume a
    # drop slice, and without the checkpoint every fold re-ran the whole
    # shingle self-join + pair aggregation from scratch (r13)
    edges = _jaccard_edges(docs).select("id_a", "id_b").localCheckpoint(eager=False)
    tmp = _stream_tmpdir("inc_clusters_compact")
    store = f"{tmp}/store"
    drops = [
        edges.where(F.pmod(F.xxhash64("id_a"), F.lit(2)) == d) for d in (0, 1)
    ]
    with _stream_shuffle(spark):
        for bid, drop in enumerate(drops):
            apply_incremental_cc_batch(drop, bid, store, n_buckets=32)
            maybe_compact_incremental_cc(spark, store, max_chain=0, n_buckets=32)
        # post-compaction replay of the final batch (same batch id):
        # base_for_batch must resolve to the compacted state, and the
        # re-fold is a no-op merge-wise (CC is idempotent)
        apply_incremental_cc_batch(drops[-1], len(drops) - 1, store, n_buckets=32)
    return read_incremental_cc(
        spark, store, universe=docs.select("doc_id"), id_col="doc_id"
    ).select("doc_id", "component")



def _jaccard_edges(docs: DataFrame) -> DataFrame:
    """Exact 3-gram Jaccard >= 0.3 near-dup edges -- the shared input of
    both connected-components queries (dedup_clusters and its
    large-star/small-star twin)."""
    base = dd.hashed_shingles_direct(docs, "doc_id", "text")
    sh = base.select("doc_id", F.explode("hsh").alias("s"))
    # per-doc set size map-side off the base projection (r14, guide §2.4):
    # size(hsh) == the old exploded groupBy count, minus its exchange
    sizes = base.select("doc_id", F.size("hsh").cast("long").alias("sz"))
    a = sh.select(F.col("doc_id").alias("id_a"), "s")
    # shuffled-HASH join for the shingle self-join: both sides shuffle
    # either way, but hashing skips the two 8-byte-key sorts a sort-merge
    # pays (measured 1.8s -> 1.1s warm at sf0.1).  Per-partition build
    # memory is bounded by spark.sql.shuffle.partitions, the same dial that
    # bounds every shuffle here; common-shingle skew hits SMJ and SHJ alike
    # and is capped upstream by the per-doc distinct.
    b = sh.select(F.col("doc_id").alias("id_b"), "s").hint("shuffle_hash")
    inter = (
        a.join(b, "s")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sza")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("szb")), "id_b")
        .where(F.expr("(1000000 * inter) div (sza + szb - inter)") >= 300000)
        .select("id_a", "id_b")
    )



@register("dedup_clusters_star", DEDUP_CLUSTERS_ORACLE)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters by ALTERNATING LARGE-STAR/SMALL-STAR
    (operators.dedup.connected_components_star; Kiveris et al., SoCC
    2014) over the same exact-Jaccard edge set as dedup_clusters -- the
    O(log n)-round alternative to min-label propagation, which pays one
    shuffle per HOP of component diameter.  Near-dup graphs are usually
    clique unions (diameter ~2) where min-label wins on constant factors,
    but template-drift CHAINS (v1~v2~...~vN, consecutive similarity only)
    give propagation O(N) rounds while star-contraction stays
    logarithmic; an engine at 100 TB needs both, and the outputs are
    bit-identical -- same recursive-CTE oracle, and the registry hash
    gate proves algorithm equivalence cross-engine every round."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edges = _jaccard_edges(docs)
    return dd.connected_components_star(docs.select("doc_id"), edges, id_col="doc_id")



def _triangles_oracle() -> str:
    """Triangle/clustering replay over the same md5-minhash candidate pairs
    as the PageRank oracle: id-ordered two-join enumeration, exact integer
    clustering coefficient."""
    prefix = MINHASH_MD5_ORACLE[: MINHASH_MD5_ORACLE.index("SELECT a.doc_id AS id_a")]
    return prefix + """, pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.bi = b.bi AND a.b = b.b AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
tris AS (
  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.id_a = e1.id_b
  JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
),
per_node AS (
  SELECT nid, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
    SELECT a AS nid FROM tris
    UNION ALL SELECT b FROM tris
    UNION ALL SELECT c FROM tris
  ) GROUP BY nid
),
deg AS (
  SELECT nid, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT id_a AS nid FROM pairs UNION ALL SELECT id_b FROM pairs
  ) GROUP BY nid
)
SELECT d.nid, d.deg,
       CAST(COALESCE(p.n_triangles, 0) AS BIGINT) AS n_triangles,
       CAST(CASE WHEN d.deg >= 2
                 THEN (1000000 * 2 * COALESCE(p.n_triangles, 0)) // (d.deg * (d.deg - 1))
                 ELSE 0 END AS BIGINT) AS clustering_e6
FROM deg d LEFT JOIN per_node p ON p.nid = d.nid
"""



@register("dedup_graph_triangles", _triangles_oracle())
def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts + local clustering over the near-duplicate candidate
    graph (operators.dedup.triangle_counts): distinguishes boilerplate
    cliques (clustering ~1) from template hub-spoke patterns (~0) -- the
    fourth oracle-gated graph metric on the shared md5-minhash pair list
    (after CC, PageRank, and the cluster oracle)."""
    # the pair list is referenced five times inside triangle_counts (three
    # join legs + degree); materialize it once instead of re-running the
    # full minhash pipeline per reference
    edges = (
        dedup_minhash_md5(spark, sf_dir).select("id_a", "id_b").localCheckpoint(eager=False)
    )
    return dd.triangle_counts(edges)



def _degree_powerlaw_oracle() -> str:
    """Log-log degree fit oracle.  log2 uses the RECURSIVE-CTE fixed-point
    recurrence (the bm25/dsir pattern): DuckDB's list_reduce fold
    mis-evaluates row-dependent init elements for some vector layouts
    (loud int64-overflow error on this histogram at sf0.1), so the fold
    form duck_ilog2_sql cannot be used here."""
    prefix = MINHASH_MD5_ORACLE[: MINHASH_MD5_ORACLE.index("SELECT a.doc_id AS id_a")]
    prefix = prefix.replace("WITH toks AS", "WITH RECURSIVE toks AS", 1)
    return (
        prefix
        + """, pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.bi = b.bi AND a.b = b.b AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
deg AS (
  SELECT nid, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT id_a AS nid FROM pairs UNION ALL SELECT id_b FROM pairs
  ) GROUP BY nid
),
hist AS (SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg GROUP BY deg),
vals AS (
  SELECT deg AS kk, 'x' AS w, deg AS x FROM hist
  UNION ALL
  SELECT deg, 'y', n_nodes FROM hist
),
lgr(kk, w, it, e, m, frac) AS (
  SELECT kk, w, 0, length(format('{:b}', x)) - 1,
         (x << 30) >> (length(format('{:b}', x)) - 1), CAST(0 AS BIGINT)
  FROM vals
  UNION ALL
  SELECT kk, w, it + 1, e,
         CASE WHEN ((m * m) >> 30) >= (CAST(1 AS BIGINT) << 31)
              THEN ((m * m) >> 30) >> 1 ELSE (m * m) >> 30 END,
         frac * 2 + CASE WHEN ((m * m) >> 30) >= (CAST(1 AS BIGINT) << 31)
                         THEN 1 ELSE 0 END
  FROM lgr WHERE it < 20
),
lfp AS (SELECT kk, w, (CAST(e AS BIGINT) << 20) + frac AS v FROM lgr WHERE it = 20),
logs AS (
  SELECT h.deg, h.n_nodes, lx.v AS ld_fp20, ly.v AS ln_fp20
  FROM hist h
  JOIN (SELECT kk, v FROM lfp WHERE w = 'x') lx ON lx.kk = h.deg
  JOIN (SELECT kk, v FROM lfp WHERE w = 'y') ly ON ly.kk = h.deg
),
mom AS (
  SELECT COUNT(*) AS k,
         CAST(SUM(ld_fp20) AS HUGEINT) AS sx, CAST(SUM(ln_fp20) AS HUGEINT) AS sy,
         CAST(SUM(CAST(ld_fp20 AS HUGEINT) * ln_fp20) AS HUGEINT) AS sxy,
         CAST(SUM(CAST(ld_fp20 AS HUGEINT) * ld_fp20) AS HUGEINT) AS sxx
  FROM logs
)
SELECT logs.deg, logs.n_nodes, logs.ld_fp20, logs.ln_fp20,
       (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / nullif(CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)
         AS powerlaw_slope
FROM logs CROSS JOIN mom
"""
    )



@register("degree_powerlaw_fit", _degree_powerlaw_oracle())
def degree_powerlaw_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution diagnostics for the near-dup candidate graph:
    the degree histogram plus a log-log OLS slope (the power-law exponent
    estimate) -- the number that says whether dedup candidates concentrate
    on a few hub documents (boilerplate/templates) and therefore whether
    the pair join needs skew handling.  log2 is the repo's exact
    fixed-point recurrence (no libm), so every histogram row and both log
    columns are hash-exact integers; only the final closed-form slope is
    a double, shaped identically in both engines (nullif-guarded for the
    degenerate one-point histogram).  The moments table is one broadcast
    row over an already-tiny histogram."""
    from odp_dynamic_data_pipeline_spark.functions.scalars import ilog2_fp20_sql

    edges = dedup_minhash_md5(spark, sf_dir).select("id_a", "id_b")
    deg = (
        edges.selectExpr("id_a AS nid")
        .unionAll(edges.selectExpr("id_b AS nid"))
        .groupBy("nid")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    hist = deg.groupBy("deg").agg(F.count(F.lit(1)).alias("n_nodes"))
    logs = hist.selectExpr(
        "deg",
        "n_nodes",
        f"{ilog2_fp20_sql('deg')} AS ld_fp20",
        f"{ilog2_fp20_sql('n_nodes')} AS ln_fp20",
    )
    d = "DECIMAL(38,0)"
    mom = logs.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ld_fp20").alias("sx"),
        F.sum("ln_fp20").alias("sy"),
        F.sum(F.expr(f"CAST(ld_fp20 AS {d}) * ln_fp20")).alias("sxy"),
        F.sum(F.expr(f"CAST(ld_fp20 AS {d}) * ld_fp20")).alias("sxx"),
    )
    out = logs.crossJoin(F.broadcast(mom))
    k, sx, sy, sxy, sxx = (F.col(x).cast("double") for x in ("k", "sx", "sy", "sxy", "sxx"))
    return out.select(
        "deg",
        "n_nodes",
        "ld_fp20",
        "ln_fp20",
        ((k * sxy - sx * sy) / F.expr("nullif(CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)"
                                      " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0D)")).alias(
            "powerlaw_slope"
        ),
    )



def _ppr_oracle(iters: int = 4) -> str:
    """Unrolled personalized-PageRank replay over the md5-minhash pair
    graph with restart mass on the src0 seed documents -- bit-identical
    integer arithmetic to operators.dedup.personalized_pagerank (same
    contract as _pagerank_oracle, plus the seed-gated restart term)."""
    prefix = MINHASH_MD5_ORACLE[: MINHASH_MD5_ORACLE.index("SELECT a.doc_id AS id_a")]
    body = prefix + """, pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.bi = b.bi AND a.b = b.b AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
sd AS (SELECT DISTINCT doc_id AS nid FROM documents WHERE source = 'src0'),
ns AS (SELECT COUNT(*) AS n FROM sd),
fl AS (
  SELECT u.nid, (sd.nid IS NOT NULL) AS is_seed
  FROM (SELECT src AS nid FROM deg UNION SELECT nid FROM sd) u
  LEFT JOIN sd ON sd.nid = u.nid
),
r0 AS (SELECT fl.nid,
              CASE WHEN is_seed THEN CAST(1000000000 AS BIGINT) // ns.n
                   ELSE CAST(0 AS BIGINT) END AS r
       FROM fl CROSS JOIN ns)"""
    for k in range(1, iters + 1):
        body += f""",
r{k} AS (
  SELECT fl.nid,
         CASE WHEN fl.is_seed THEN (15 * CAST(1000000000 AS BIGINT)) // (100 * ns.n)
              ELSE CAST(0 AS BIGINT) END
         + (85 * COALESCE(s.s, CAST(0 AS BIGINT))) // 100 AS r
  FROM fl CROSS JOIN ns
  LEFT JOIN (
    SELECT e.dst, SUM(r.r // dg.deg) AS s
    FROM sym e JOIN r{k - 1} r ON r.nid = e.src JOIN deg dg ON dg.src = e.src
    GROUP BY e.dst
  ) s ON s.dst = fl.nid
)"""
    body += f"""
SELECT nid AS doc_id, CAST(r AS BIGINT) AS ppr_e9 FROM r{iters}
"""
    return body



@register("contamination_ppr", _ppr_oracle(iters=4))
def contamination_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAMINATION INFLUENCE via personalized PageRank
    (operators.dedup.personalized_pagerank): restart mass on the
    benchmark-tainted src0 documents, walked 4 fixed-point rounds over the
    md5-minhash near-dup graph.  `contamination_spread_hops` answers how
    FAR the blast radius reaches (min hops); this answers how MUCH walk
    mass each document absorbs -- decaying with distance, splitting across
    branches, and accumulating through multiple paths, which is the
    ranking a triage queue wants (review the highest-mass documents
    first).  Exact integer fixed-point e9 arithmetic; the oracle unrolls
    all rounds with the seed-gated restart term."""
    edges = dedup_minhash_md5(spark, sf_dir).select("id_a", "id_b")
    seeds = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("source") == "src0")
        .select(F.col("doc_id").alias("id"))
    )
    out = dd.personalized_pagerank(edges, seeds, iters=4)
    return out.select(F.col("nid").alias("doc_id"), F.col("rank").alias("ppr_e9"))


