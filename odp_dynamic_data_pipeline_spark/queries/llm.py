"""LLM-training-data DEDUP queries: exact, MinHash/SimHash/LSH, span-level
ExactSubstr, winnowing, containment, threshold sweeps, plus the W2 SQL
frontend and the curation pipeline.  Sibling domains split
out in r13: llm_retrieval (embedding/ANN/SemDeDup), llm_graph (dedup
graph analytics), llm_text (text analysis/quality/reporting/multimodal).

The xxhash64-based MinHash/SimHash/LSH queries are oracle-gated too:
their DuckDB oracles replay XXH64 as generated SQL (queries/xxh64_sql.py).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from odp_dynamic_data_pipeline_spark.operators import dedup as dd
from odp_dynamic_data_pipeline_spark.operators import text as tx
from odp_dynamic_data_pipeline_spark.queries import register
from odp_dynamic_data_pipeline_spark.queries import xxh64_sql as _xx
from odp_dynamic_data_pipeline_spark.queries.core import TLB_ORACLE
from odp_dynamic_data_pipeline_spark.sources.catalog import load_table


@register(
    "dedup_exact",
    """
WITH fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
  FROM documents
)
SELECT fingerprint, MIN(doc_id) AS keeper_id, COUNT(*) AS n_dups
FROM fp GROUP BY fingerprint
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalized-text md5 fingerprint -> hash groupBy, lowest
    doc_id kept.  One shuffle on the fingerprint; at 100 TB the map-side
    partial aggregation collapses per-executor duplicates first."""
    docs = tx.fingerprint(load_table(spark, sf_dir, "documents"))
    return docs.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_dups")
    )



@register(
    "doc_fingerprint",
    """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
       CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes
FROM documents
""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document content fingerprint (md5 of normalized text)."""
    docs = tx.fingerprint(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", "fingerprint", F.octet_length("text").cast("long").alias("payload_bytes")
    )



@register(
    "ngram_jaccard_top20",
    """
WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS s
       FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
             FROM toks)),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
j AS (SELECT id_a, id_b, inter, sa.sz + sb.sz - inter AS uni
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b)
SELECT id_a, id_b, inter, uni, (1000000 * inter) // uni AS jaccard_e6
FROM j
ORDER BY (1000000 * inter) // uni DESC, id_a, id_b
LIMIT 20
""",
)
def ngram_jaccard_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard, top-20 most similar pairs.  The exact
    path shuffles shingles once and joins on the shingle key (no cross
    join); the sub-quadratic scale path is dedup_minhash_lsh."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # three consumers (sizes + both join sides): materialize the exploded
    # shingle table once instead of re-tokenizing the corpus per consumer.
    # No distinct() -- the direct hasher array_distinct()s per document, so
    # the explode is duplicate-free and a global distinct would be a pure
    # extra shuffle.  N-gram hashes come straight off the token columns (no
    # shingle strings); 8-byte fixed-width keys shuffle and compare ~2x
    # cheaper than strings with identical counts (collision odds ~n^2/2^64).
    sh = (
        dd.hashed_shingles_direct(docs, "doc_id", "text")
        .select("doc_id", F.explode("hsh").alias("s"))
        .persist()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc_id").alias("id_a"), "s")
    b = sh.select(F.col("doc_id").alias("id_b"), "s")
    inter = (
        a.join(b, "s")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    j = (
        inter.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sza")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("szb")), "id_b")
        .select(
            "id_a",
            "id_b",
            "inter",
            (F.col("sza") + F.col("szb") - F.col("inter")).alias("uni"),
        )
        .withColumn("jaccard_e6", F.expr("(1000000 * inter) div uni"))
    )
    return j.orderBy(F.col("jaccard_e6").desc(), "id_a", "id_b").limit(20).select(
        "id_a", "id_b", "inter", "uni", "jaccard_e6"
    )



@register(
    "term_doc_freq",
    """
WITH toks AS (
  SELECT doc_id, UNNEST(list_distinct(regexp_extract_all(text, '\\S+'))) AS term
  FROM documents
)
SELECT term, COUNT(*) AS df
FROM toks GROUP BY term
ORDER BY df DESC, term
LIMIT 50
""",
)
def term_doc_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document frequency (the IDF denominator / inverted-index build):
    distinct terms per doc exploded, counted across the corpus."""
    docs = tx.with_tokens(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode(F.array_distinct("tokens")).alias("term"))
    return (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), "term")
        .limit(50)
    )


# hash-once minhash: md5 each shingle ONCE to a 60-bit integer, then derive
# the 16 "permutations" arithmetically as (a_i*h + b_i) mod p -- the standard
# universal-hash family.  p = 2^31-1 keeps a_i*h inside int64 (a_i, h < 2^31
# -> product < 2^62), so Spark and DuckDB compute bit-identical values with
# no overflow divergence.  16x fewer md5 calls than hashing per permutation.
from odp_dynamic_data_pipeline_spark.operators.dedup import (  # noqa: E402
    MINHASH_AB,
    MINHASH_P,
)


MINHASH_MD5_ORACLE = """
WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS s
       FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
             FROM toks)),
hs AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % {p} AS h FROM sh),
sig AS (
  SELECT doc_id,
         {mins}
  FROM hs GROUP BY doc_id
),
bands AS (
  SELECT doc_id,
         unnest([{band_hashes}]) AS b,
         unnest([0, 1, 2, 3]) AS bi
  FROM sig
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared_bands
FROM bands a
JOIN bands b ON a.bi = b.bi AND a.b = b.b AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
""".format(
    p=MINHASH_P,
    mins=",\n         ".join(
        f"min(CAST(({a} * h + {b}) % {MINHASH_P} AS BIGINT)) AS m{i}"
        for i, (a, b) in enumerate(MINHASH_AB)
    ),
    band_hashes=", ".join(
        "md5(concat_ws('|', " + ", ".join(f"m{i}" for i in range(b * 4, b * 4 + 4)) + "))"
        for b in range(4)
    ),
)



LSH_PRECISION_ORACLE = (
    MINHASH_MD5_ORACLE.replace(
        "SELECT a.doc_id AS id_a", ", cand AS (\nSELECT a.doc_id AS id_a", 1
    )
    + """),
ids AS (SELECT id_a AS doc_id FROM cand UNION SELECT id_b FROM cand),
sh2 AS (SELECT sh.doc_id, sh.s FROM sh JOIN ids USING (doc_id)),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh2 GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
          FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
SELECT c.id_a, c.id_b, c.n_shared_bands,
       (1000000 * COALESCE(i.n_inter, 0))
         // (sa.sz + sb.sz - COALESCE(i.n_inter, 0)) AS jaccard_e6
FROM cand c
LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
"""
)



@register("lsh_precision_report", LSH_PRECISION_ORACLE)
def lsh_precision_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality audit: every minhash-band candidate pair annotated with
    its EXACT shingle Jaccard (integer ppm) -- the report that tunes the
    (bands, rows-per-band) dial by showing how many candidates are real
    near-dups vs banding noise.

    The exact verification runs ONLY on candidate-pair documents (semi-join
    on the candidate id set), so its cost scales with the candidate count,
    not the corpus: the standard verify stage of a production LSH dedup at
    100 TB.  Same md5-minhash algebra as dedup_minhash_md5, so the whole
    candidates+verdicts table sits behind the DuckDB oracle gate."""
    pairs = dedup_minhash_md5(spark, sf_dir)
    docs = dd.shingles(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    sh = docs.select("doc_id", F.explode("shingles").alias("s"))
    ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .union(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    sh2 = sh.join(ids, "doc_id", "leftsemi")
    sizes = sh2.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh2.select(F.col("doc_id").alias("id_a"), "s")
    b = sh2.select(F.col("doc_id").alias("id_b"), "s")
    inter = (
        a.join(b, "s")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared_bands",
            F.expr(
                "(1000000 * coalesce(n_inter, 0)) div (sz_a + sz_b - coalesce(n_inter, 0))"
            ).alias("jaccard_e6"),
        )
    )



@register("dedup_minhash_md5", MINHASH_MD5_ORACLE)
def dedup_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH banding with one md5 per shingle plus an arithmetic
    universal-hash remix per permutation -- reproducible by ANY engine, so
    the full banding pipeline (shingle -> permutation mins -> band buckets
    -> candidate pairs) sits behind the oracle gate.  Slower than the
    xxhash64 production path (dedup_minhash_lsh) but only by the md5 cost:
    the 16 permutations are int multiply-add-mod, not 16 re-hashes of the
    shingle string.  Output: candidate pairs + shared-band counts."""
    docs = dd.shingles(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    # no global distinct: shingles() is per-doc distinct already, and min()
    # is duplicate-insensitive -- a distinct here would be a pure extra
    # shuffle of the widest table in the query
    sh = docs.select("doc_id", F.explode("shingles").alias("s"))
    hs = sh.select(
        "doc_id",
        F.expr(
            f"CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT) % {MINHASH_P}"
        ).alias("h"),
    )
    mins = [
        F.expr(f"min(CAST(({a} * h + {b}) % {MINHASH_P} AS BIGINT))").alias(f"m{i}")
        for i, (a, b) in enumerate(MINHASH_AB)
    ]
    sig = hs.groupBy("doc_id").agg(*mins)
    band_exprs = [
        F.md5(F.concat_ws("|", *[F.col(f"m{i}").cast("string") for i in range(b * 4, b * 4 + 4)]))
        for b in range(4)
    ]
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("bi"), band_exprs[b].alias("b")) for b in range(4)])
        ).alias("x"),
    ).select("doc_id", F.col("x.bi").alias("bi"), F.col("x.b").alias("b"))
    a = bands.select(F.col("doc_id").alias("id_a"), "bi", "b")
    bb = bands.select(F.col("doc_id").alias("id_b"), "bi", "b")
    return (
        a.join(bb, ["bi", "b"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )



SPLIT_LEAKAGE_ORACLE = (
    MINHASH_MD5_ORACLE[: MINHASH_MD5_ORACLE.index("SELECT a.doc_id AS id_a")]
    + """, split AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 = 0
           AS is_test
  FROM documents
),
cand AS (
  SELECT a.doc_id AS test_id, b.doc_id AS train_id
  FROM bands a
  JOIN bands b ON a.bi = b.bi AND a.b = b.b AND a.doc_id <> b.doc_id
  JOIN split sa ON sa.doc_id = a.doc_id AND sa.is_test
  JOIN split sb ON sb.doc_id = b.doc_id AND NOT sb.is_test
  GROUP BY a.doc_id, b.doc_id
)
SELECT test_id, COUNT(*) AS n_train_neardups
FROM cand GROUP BY test_id
"""
)



@register("split_leakage_report", SPLIT_LEAKAGE_ORACLE)
def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split audit: split the corpus 90/10 by a
    deterministic md5 gate on doc_id (engine-portable, survives retries and
    re-runs), then report every TEST document that shares a MinHash LSH
    band with any TRAIN document -- near-duplicate contamination that would
    inflate eval scores.  The candidate generation is the same banded
    bucket join as dedup_minhash_md5 (never all-pairs); the split flag is a
    map-side expression, so the whole audit adds one semi-join-shaped
    band-bucket shuffle on top of signature computation.  A clean pipeline
    gates test-set admission on this report being empty (or quarantines the
    listed docs)."""
    docs = dd.shingles(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    sh = docs.select("doc_id", F.explode("shingles").alias("s"))
    hs = sh.select(
        "doc_id",
        F.expr(
            f"CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT) % {MINHASH_P}"
        ).alias("h"),
    )
    mins = [
        F.expr(f"min(CAST(({a} * h + {b}) % {MINHASH_P} AS BIGINT))").alias(f"m{i}")
        for i, (a, b) in enumerate(MINHASH_AB)
    ]
    sig = hs.groupBy("doc_id").agg(*mins)
    band_exprs = [
        F.md5(F.concat_ws("|", *[F.col(f"m{i}").cast("string") for i in range(b * 4, b * 4 + 4)]))
        for b in range(4)
    ]
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("bi"), band_exprs[b].alias("b")) for b in range(4)])
        ).alias("x"),
    ).select("doc_id", F.col("x.bi").alias("bi"), F.col("x.b").alias("b"))
    is_test = F.expr(
        "CAST(conv(substr(md5(cast(doc_id AS string)), 1, 15), 16, 10) AS BIGINT) % 10 = 0"
    )
    flagged = bands.withColumn("is_test", is_test)
    test_side = flagged.where("is_test").select(F.col("doc_id").alias("test_id"), "bi", "b")
    train_side = flagged.where(~F.col("is_test")).select(
        F.col("doc_id").alias("train_id"), "bi", "b"
    )
    return (
        test_side.join(train_side, ["bi", "b"])
        .select("test_id", "train_id")
        .distinct()
        .groupBy("test_id")
        .agg(F.count(F.lit(1)).alias("n_train_neardups"))
    )



@register(
    "dedup_simhash_md5",
    """
WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS tok FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM toks),
bits AS (
  SELECT doc_id, b.b, SUM(CASE WHEN (hv >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, (SELECT unnest(generate_series(0, 59)) AS b) b
  GROUP BY doc_id, b.b
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash60
FROM bits GROUP BY doc_id
""",
)
def dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash with md5-derived token hashes -- the cross-engine-
    verifiable twin of dedup_simhash (xxhash64 production path).  Spark
    folds all 60 bit-sums in ONE map-only aggregate lambda per document
    (no explode, no shuffle, one compiled lambda instead of 60 unrolled
    aggregation legs); the oracle reconstructs them via an explicit bit
    cross join -- equal results, very different physical plans."""
    return _simhash60_md5(load_table(spark, sf_dir, "documents"))



def _simhash60_md5(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash60) via the one-lambda md5 SimHash fold (shared by
    dedup_simhash_md5 and simhash_hamming_pairs).  The fold is the hot
    path (tokens x 60 lambda steps per document), so the single-row-group
    corpus file is fanned out first -- on one partition the whole corpus
    folds on one core."""
    from odp_dynamic_data_pipeline_spark.operators.partitioning import (
        ensure_min_parallelism,
    )

    docs = ensure_min_parallelism(docs)
    sums = (
        "aggregate(transform(__toks, t -> CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT)),"
        " array_repeat(CAST(0 AS BIGINT), 60),"
        " (acc, h) -> zip_with(acc, sequence(0, 59),"
        " (a, b) -> a + IF((h >> b) & 1 = 1, 1, -1)))"
    )
    asm = (
        f"aggregate(zip_with({sums}, sequence(0, 59),"
        " (s, b) -> IF(s > 0, shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT))),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    return (
        docs.withColumn("__toks", F.expr(r"regexp_extract_all(text, r'\S+', 0)"))
        .where(F.expr("size(__toks) > 0"))
        .select("doc_id", F.expr(asm).alias("simhash60"))
    )



_SIMHASH60_SIG_SQL = """
toks AS (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS tok FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM toks),
bits AS (
  SELECT doc_id, b.b, SUM(CASE WHEN (hv >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, (SELECT unnest(generate_series(0, 59)) AS b) b
  GROUP BY doc_id, b.b
),
sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash60
  FROM bits GROUP BY doc_id
)
"""



@register(
    "simhash_hamming_pairs",
    f"""
WITH {_SIMHASH60_SIG_SQL}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash60, b.simhash60)) AS INTEGER) AS dist
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash60, b.simhash60)) <= 3
""",
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup RETRIEVAL (operators.dedup.hamming_join): every
    document pair within Hamming distance 3 of their 60-bit md5-SimHash
    fingerprints, via multi-index pigeonhole blocking (Manku et al.
    WWW'07: 4 disjoint 15-bit bands, a <=3-distance pair matches >= 1 band
    exactly) -- the join stage the fingerprint-only dedup_simhash_md5
    stops short of.  Exact popcount verify; the DuckDB oracle is the
    brute-force all-pairs join, so the hash gate proves the banded plan
    loses no pair."""
    sig = _simhash60_md5(load_table(spark, sf_dir, "documents"))
    return dd.hamming_join(
        sig, id_col="doc_id", code_col="simhash60", bits=60, max_dist=3
    )


# --- xxhash64 production paths: oracle-gated as of r11 via the generated
# DuckDB XXH64 replay (queries/xxh64_sql.py) -- previously rows-only ---



@register("dedup_minhash_lsh", _xx.minhash_xx_pairs_sql(200_000))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates with exact-Jaccard verification
    (32 perms, 8 bands) -- the sub-quadratic scale path for text dedup.
    Oracle-gated since r11: the DuckDB oracle implements XXH64 itself as
    generated SQL (xxh64_sql.py, verified Spark == Python-spec == DuckDB)
    and replays the ENTIRE pipeline -- chained 3-token shingle hashing,
    the 32 permutation remixes (literal seeds constant-folded), 8 band
    buckets, the banded candidate join, and exact-Jaccard verification --
    value-for-value, closing the last rows-only gap in the registry."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.minhash_lsh_pairs(docs, "doc_id", threshold_e6=200_000).orderBy("id_a", "id_b")



@register("dedup_simhash", _xx.simhash_xx_sql(63))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """63-bit SimHash per document (near-dup = small hamming distance).
    Oracle-gated since r11 via the generated DuckDB XXH64 replay (see
    dedup_minhash_lsh): per-token xxhash64, 63 signed bit-sums, fingerprint
    assembly -- bit-exact."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.simhash(docs, "doc_id")



@register(
    "decontaminate_benchmark",
    """
WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 7), ' ') AS g
  FROM (SELECT doc_id, t, UNNEST(generate_series(1, greatest(len(t) - 7, 0))) AS i FROM toks)
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
corpus AS (SELECT doc_id, g FROM grams WHERE doc_id % 97 <> 0)
SELECT corpus.doc_id,
       COUNT(*) AS n_grams,
       COUNT(bench.g) AS n_hit_ngrams
FROM corpus LEFT JOIN bench ON corpus.g = bench.g
GROUP BY corpus.doc_id
""",
)
def decontaminate_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators.dedup.contamination_check):
    documents whose distinct 8-grams overlap a held-out eval slice
    (doc_id % 97 == 0 stands in for the benchmark).  The tiny benchmark
    gram set is broadcast; the corpus side never shuffles for the join."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    return dd.contamination_check(corpus, bench, n=8)



@register(
    "exact_substring_spans",
    """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
),
win AS (
  SELECT doc_id, i AS pos,
         ('0x' || substr(md5(array_to_string(list_slice(t, i, i + 7), ' ')), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, t, UNNEST(generate_series(1, len(t) - 7)) AS i
        FROM toks WHERE len(t) >= 8)
),
dup AS (SELECT h FROM win GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
m AS (SELECT w.doc_id, w.pos FROM win w JOIN dup USING (h)),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos > prev + 7 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (SELECT doc_id, pos,
               LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM m)
)
SELECT doc_id, CAST(MIN(pos) AS INTEGER) AS span_start,
       CAST(MAX(pos) + 7 AS INTEGER) AS span_end,
       COUNT(*) AS n_windows
FROM isl GROUP BY doc_id, island
""",
)
def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup spans (operators.dedup.duplicate_spans):
    every 8-token window shared verbatim by >= 2 documents, merged into
    per-document cuttable spans -- the windowed form of ExactSubstr dedup
    (Lee et al. 2022; the suffix-array formulation gives character-exact
    bounds but needs an offline index).  Window hashes are md5-derived, so
    the DuckDB oracle replays hash -> duplicate-set -> island merge
    value-for-value."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dd.duplicate_spans(docs, window=8)



@register(
    "pyds_synthetic_corpus",
    """
WITH ids AS (SELECT UNNEST(generate_series(0, 199)) AS doc_id),
d AS (
  SELECT doc_id,
         5 + ('0x' || substr(md5('len|' || doc_id), 1, 15))::BIGINT % 20 AS n_tok
  FROM ids
),
t AS (
  SELECT doc_id, n_tok,
         array_to_string(list_transform(range(0, CAST(n_tok AS INT)),
           j -> 't' || (('0x' || substr(md5('tok|' || doc_id || '|' || j), 1, 15))::BIGINT % 1000)),
           ' ') AS text
  FROM d
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens, md5(text) AS text_md5 FROM t
""",
)
def pyds_synthetic_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python DataSource API (sources.pyds): a custom pure-Python
    source registered on the session, read through the planner like any
    format, generating its partitions independently (strided id slices --
    the no-driver-bottleneck shape).  Every value is an md5 derivation of
    (doc_id, position), so the DuckDB oracle rebuilds the identical corpus
    in SQL and the hash gate covers the full source -> scan -> project
    path."""
    from odp_dynamic_data_pipeline_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    df = (
        spark.read.format("synthetic_corpus")
        .option("n_docs", 200)
        .option("partitions", 8)
        .load()
    )
    return df.select(
        "doc_id",
        F.expr("size(split(text, ' '))").cast("long").alias("n_tokens"),
        F.md5("text").alias("text_md5"),
    )



@register(
    "exact_substring_scrub",
    """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
),
win AS (
  SELECT doc_id, i AS pos,
         ('0x' || substr(md5(array_to_string(list_slice(t, i, i + 7), ' ')), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, t, UNNEST(generate_series(1, len(t) - 7)) AS i
        FROM toks WHERE len(t) >= 8)
),
keeper AS (
  SELECT h, MIN(doc_id) AS keep FROM win GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
),
cov AS (
  SELECT DISTINCT doc_id, cp FROM (
    SELECT w.doc_id, UNNEST(generate_series(w.pos, w.pos + 7)) AS cp
    FROM win w JOIN keeper k USING (h) WHERE w.doc_id <> k.keep
  )
),
tok2 AS (
  SELECT doc_id, UNNEST(t) AS tok, generate_subscripts(t, 1) AS i FROM toks
)
SELECT tk.doc_id,
       CAST(len(tk.t) AS BIGINT) AS n_tokens,
       CAST(COALESCE(cv.ncut, 0) AS BIGINT) AS n_cut,
       COALESCE(s.txt, '') AS scrubbed_text
FROM toks tk
LEFT JOIN (SELECT doc_id, COUNT(*) AS ncut FROM cov GROUP BY doc_id) cv
  ON cv.doc_id = tk.doc_id
LEFT JOIN (
  SELECT t2.doc_id, string_agg(t2.tok, ' ' ORDER BY t2.i) AS txt
  FROM tok2 t2 LEFT JOIN cov c ON c.doc_id = t2.doc_id AND c.cp = t2.i
  WHERE c.cp IS NULL
  GROUP BY t2.doc_id
) s ON s.doc_id = tk.doc_id
""",
)
def exact_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup APPLIED (operators.dedup.scrub_duplicate_spans):
    each cross-document 8-token run keeps one copy (lowest doc_id) and
    every other occurrence is cut from the text -- the ExactSubstr
    transformation itself, not just the span report.  All array lambdas
    and slim shuffles; the DuckDB oracle replays keeper election, coverage
    union, and text reconstruction value-for-value."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dd.scrub_duplicate_spans(docs, window=8)



@register(
    "corpus_curation_pipeline",
    """
WITH toks AS (
  SELECT doc_id, lang, text, regexp_extract_all(text, '\\S+') AS t FROM documents
),
quality AS (
  SELECT doc_id, lang, text, t, len(t) AS n_tokens,
         (1000000 * len(list_distinct(t))) // len(t) AS uniq_e6
  FROM toks WHERE len(t) >= 10
),
keep AS (
  SELECT * FROM quality WHERE uniq_e6 >= 300000 AND lang IN ('en', 'fr', 'de')
),
fp AS (
  SELECT *, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
  FROM keep
),
dedup AS (
  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn FROM fp)
  WHERE rn = 1
),
chunks AS (
  SELECT doc_id, lang, (i - 1) // 48 AS chunk_id,
         len(list_slice(t, i, i + 63)) AS n_chunk_tokens
  FROM (SELECT doc_id, lang, t,
               UNNEST(generate_series(1, least(greatest(len(t) - 64 + 48, 1), greatest(len(t), 1)), 48)) AS i
        FROM dedup)
)
SELECT lang, COUNT(*) AS n_chunks,
       CAST(SUM(n_chunk_tokens) AS BIGINT) AS total_tokens,
       COUNT(DISTINCT doc_id) AS n_docs
FROM chunks GROUP BY lang
""",
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation funnel COMPOSED from the engine's operators in one
    lazy plan: token/quality gate (>=10 tokens, >=30% unique) -> language
    allowlist -> exact dedup (fingerprint keeper) -> overlapping chunking ->
    per-language token budget.  Catalyst fuses the map stages; the only
    shuffles are the dedup window and the final aggregate -- the shape a
    100 TB curation run wants."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = tx.token_stats(docs, "text")
    quality = toks.where(F.col("n_tokens") >= 10).withColumn(
        "uniq_e6",
        F.expr("(1000000 * CAST(n_unique_tokens AS BIGINT)) div CAST(n_tokens AS BIGINT)"),
    )
    keep = quality.where(
        (F.col("uniq_e6") >= 300000) & F.col("lang").isin("en", "fr", "de")
    )
    fp = tx.fingerprint(keep, "text", out_col="f")
    deduped = dd.exact_dedup(fp, "f", "doc_id")
    chunks = tx.chunk_documents(
        deduped.select("doc_id", "lang", "text"), "text",
        chunk_tokens=64, stride=48, id_cols=["doc_id", "lang"],
    )
    return chunks.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_chunk_tokens").cast("long").alias("total_tokens"),
        F.countDistinct("doc_id").alias("n_docs"),
    )



@register(
    "shared_span_stats",
    """
WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents),
st AS (
  SELECT doc_id, t, UNNEST(generate_series(1, len(t) - 7)) AS i
  FROM toks WHERE len(t) >= 8
),
sp AS (SELECT doc_id, md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS h FROM st),
sd AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM sp GROUP BY h)
SELECT sp.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN sd.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_spans,
       (1000000 * CAST(SUM(CASE WHEN sd.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)) // COUNT(*) AS shared_frac_e6
FROM sp JOIN sd USING (h)
GROUP BY sp.doc_id
""",
)
def shared_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-span (substring-level) duplication signal
    (operators.text.shared_span_stats): per-document fraction of 8-token
    sliding windows whose md5 fingerprint appears in >= 2 distinct
    documents -- the Lee-et-al-style span dedup metric a curation pass
    thresholds on."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.shared_span_stats(docs, span_tokens=8)



@register("sql_frontend_tlb", TLB_ORACLE)
def sql_frontend_tlb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship W2 register algebra as PURE SQL TEXT on the Spark SQL
    frontend -- near-verbatim the DuckDB oracle (named WINDOW clause,
    running-max frames; only epoch_us -> unix_micros differs by dialect).
    Proof that a SQL-only user of the engine gets the exact reference
    semantics with no DataFrame code."""
    from odp_dynamic_data_pipeline_spark.sources.catalog import register_views

    register_views(spark, sf_dir, ["events"])
    return spark.sql(
        """
        WITH p AS (
          SELECT user_id, event_type, ts,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
          FROM events
        ), w AS (
          SELECT user_id, event_type, ts,
                 MAX(CASE WHEN event_type = 'view' THEN ts END) OVER win AS prev_start,
                 MAX(CASE WHEN event_type = 'view' THEN pos END) OVER win AS prev_start_pos,
                 MAX(CASE WHEN event_type = 'purchase' THEN pos END) OVER win AS prev_end_pos
          FROM p
          WINDOW win AS (PARTITION BY user_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ), d AS (
          SELECT user_id, event_type,
                 CASE WHEN event_type = 'purchase' AND prev_start_pos IS NOT NULL
                           AND (prev_end_pos IS NULL OR prev_start_pos > prev_end_pos)
                      THEN unix_micros(ts) - unix_micros(prev_start) END AS dur_us
          FROM w
        )
        SELECT user_id,
               CAST(COALESCE(SUM(dur_us), 0) AS DOUBLE) / 1000000.0 AS page_view_time,
               COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error_count,
               COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup_count,
               COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click_count
        FROM d
        GROUP BY user_id
        """
    )



@register(
    "span_novelty_scores",
    """
WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents),
st AS (
  SELECT doc_id, t, UNNEST(generate_series(1, len(t) - 7)) AS i
  FROM toks WHERE len(t) >= 8
),
sp AS (SELECT doc_id, md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS h FROM st),
fo AS (SELECT h, MIN(doc_id) AS first_id FROM sp GROUP BY h)
SELECT sp.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN fo.first_id = sp.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel_spans,
       (1000000 * CAST(SUM(CASE WHEN fo.first_id = sp.doc_id THEN 1 ELSE 0 END) AS BIGINT)) // COUNT(*) AS novelty_e6
FROM sp JOIN fo USING (h)
GROUP BY sp.doc_id
""",
)
def span_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-ordered span novelty (operators.text.span_novelty): fraction
    of a doc's 8-token windows first seen in THIS doc (min-id ownership) --
    the greedy-coverage signal for corpus ordering and down-weighting."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.span_novelty(docs, span_tokens=8)



@register(
    "dup_rate_by_source",
    r"""
WITH fp AS (
  SELECT source,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT fingerprint) AS n_distinct,
       (1000000 * (COUNT(*) - COUNT(DISTINCT fingerprint))) // COUNT(*) AS dup_rate_e6
FROM fp GROUP BY source
""",
)
def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate rate: documents minus distinct
    fingerprints over documents -- the first number a source-quality report
    leads with.  One shuffle; count_distinct expands to a two-phase
    partial aggregate, no extra pass."""
    docs = tx.fingerprint(load_table(spark, sf_dir, "documents").select("source", "text"))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("fingerprint").alias("n_distinct"),
        F.expr(
            "(1000000 * (count(1) - count(DISTINCT fingerprint))) div count(1)"
        ).alias("dup_rate_e6"),
    )



@register(
    "winnow_fingerprint_stats",
    r"""
WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
ok AS (SELECT doc_id, t FROM toks WHERE len(t) >= 8),
hs AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(t) - 3),
           i -> ('0x' || substr(md5(array_to_string(list_slice(t, i, i + 3), ' ')), 1, 15))::BIGINT) AS h
  FROM ok
),
sel AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(h) - 4),
           j -> list_min(list_slice(h, j, j + 4)))) AS s
  FROM hs
),
fp AS (SELECT doc_id, UNNEST(s) AS fp FROM sel),
cnt AS (SELECT fp, COUNT(*) AS nd FROM fp GROUP BY fp)
SELECT fp.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_selected,
       CAST(SUM(CASE WHEN cnt.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_sel,
       MIN(fp.fp) AS min_fp,
       MAX(fp.fp) AS max_fp
FROM fp JOIN cnt USING (fp)
GROUP BY fp.doc_id
""",
)
def winnow_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (operators.dedup.winnow_fingerprints, the
    MOSS selection rule): per document, how many window-min gram hashes
    were selected and how many of those appear in at least one other
    document -- the locality-guaranteed overlap signal (any shared run of
    >= w+k-1 tokens WILL share a print).  Selection is map-only; the stats
    cost one fp groupBy plus the join back."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wf = dd.winnow_fingerprints(docs, k=4, w=5)
    cnt = wf.groupBy("fp").agg(F.count(F.lit(1)).alias("nd"))
    return (
        wf.join(cnt, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_selected"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).cast("long").alias("n_shared_sel"),
            F.min("fp").alias("min_fp"),
            F.max("fp").alias("max_fp"),
        )
    )



@register(
    "jaccard_prefix_join",
    r"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents
  WHERE len(regexp_extract_all(text, '\S+')) >= 8
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(t) - 7),
           i -> ('0x' || substr(md5(array_to_string(list_slice(t, i, i + 7), ' ')), 1, 15))::BIGINT)) AS s
  FROM toks
)
SELECT id_a, id_b, inter, uni, (1000000 * inter) // uni AS jac_e6
FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
         CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS BIGINT) AS uni
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
WHERE 1000000 * inter >= 300000 * uni
""",
)
def jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard similarity self-join (operators.dedup.jaccard_join):
    prefix filtering over rarity-ordered 8-gram shingle sets -- provably no
    false negatives, so the ORACLE IS THE BRUTE FORCE: DuckDB computes the
    all-pairs J >= 0.3 join and the hash gate proves the pruned plan
    returns the identical pair set.  The exact counterpart to the
    probabilistic MinHash-LSH family."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dd.jaccard_join(docs, n=8, tau_e6=300_000)



@register(
    "containment_quotes",
    r"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents
  WHERE len(regexp_extract_all(text, '\S+')) >= 8
),
sh AS (
  SELECT doc_id, len(t) AS nt,
         list_distinct(list_transform(generate_series(1, len(t) - 7),
           i -> ('0x' || substr(md5(array_to_string(list_slice(t, i, i + 7), ' ')), 1, 15))::BIGINT)) AS s
  FROM toks
)
SELECT id_a, id_b, inter, na, nb, (1000000 * inter) // na AS cont_e6
FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
         CAST(len(a.s) AS BIGINT) AS na,
         CAST(len(b.s) AS BIGINT) AS nb
  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
  WHERE a.nt <= 32
)
WHERE 1000000 * inter >= 800000 * na
""",
)
def containment_quotes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard-CONTAINMENT join (operators.dedup.containment_join):
    short documents (<= 32 tokens, the quote/snippet side) whose 8-gram
    shingle sets are >= 80% contained in ANOTHER document -- the
    asymmetric subset-duplicate detector Jaccard misses (a quote inside a
    long page has tiny J but containment ~1).  Candidates from a
    rarity-ordered prefix join against the full corpus inverted index,
    exact-intersect verified; the DuckDB oracle IS the brute force, so
    the hash gate proves the pruned plan loses no pair."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    needles = docs.where(F.expr(r"size(regexp_extract_all(text, r'\S+', 0)) <= 32"))
    return dd.containment_join(needles, docs, n=8, tau_e6=800_000)



@register(
    "occurrence_dup_spans",
    """
WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents),
win AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS wh
  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i
        FROM toks)
),
duph AS (SELECT wh FROM win GROUP BY wh HAVING COUNT(*) >= 2),
dup AS (SELECT w.doc_id, w.pos FROM win w JOIN duph USING (wh)),
g AS (
  SELECT doc_id, pos,
         CASE WHEN pos - COALESCE(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos),
                                  CAST(-100 AS BIGINT)) > 8
              THEN 1 ELSE 0 END AS ng
  FROM dup
),
s AS (
  SELECT doc_id, pos,
         SUM(ng) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM g
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
       CAST(MAX(pos) + 7 - MIN(pos) + 1 AS BIGINT) AS span_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_windows
FROM s GROUP BY doc_id, grp
""",
)
def occurrence_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OCCURRENCE-gated duplicate-span report (operators.text.
    occurrence_duplicate_spans): every maximal token span whose every
    8-token stride-1 window occurs >= 2 times in the corpus --
    cross-document OR repeated within one document, the suffix-array
    counting semantics.  Deliberate variant of `exact_substring_spans`
    (operators.dedup.duplicate_spans), whose >= 2 DISTINCT-docs gate
    cannot see within-doc degenerate repetition; this one also anchors
    the decontamination join, which shares its window hashes.  The DuckDB
    oracle replays the md5 anchors, the occurrence gate, and the per-doc
    interval merge verbatim."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.occurrence_duplicate_spans(docs, "text", min_tokens=8, min_count=2)



@register(
    "occurrence_span_scrub",
    """
WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents),
win AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS wh
  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i
        FROM toks)
),
duph AS (SELECT wh FROM win GROUP BY wh HAVING COUNT(*) >= 2),
dup AS (SELECT w.doc_id, w.pos FROM win w JOIN duph USING (wh)),
g AS (
  SELECT doc_id, pos,
         CASE WHEN pos - COALESCE(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos),
                                  CAST(-100 AS BIGINT)) > 8
              THEN 1 ELSE 0 END AS ng
  FROM dup
),
s AS (
  SELECT doc_id, pos,
         SUM(ng) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM g
),
spans AS (
  SELECT doc_id, MIN(pos) AS a, MAX(pos) + 7 AS b,
         MAX(pos) + 7 - MIN(pos) + 1 AS st
  FROM s GROUP BY doc_id, grp
),
agg AS (
  SELECT doc_id, LIST(struct_pack(a := a, b := b)) AS sp,
         CAST(SUM(st) AS BIGINT) AS dropped
  FROM spans GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(COALESCE(len(t.t), 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(a.dropped, 0) AS BIGINT) AS n_dropped_tokens,
       CASE WHEN len(t.t) >= 1 THEN
         -- COALESCE: DuckDB's array_to_string returns NULL (not '') on an
         -- empty list, e.g. a fully-duplicated document
         COALESCE(array_to_string(list_transform(list_filter(generate_series(1, len(t.t)),
           i -> a.sp IS NULL OR len(list_filter(a.sp, s2 -> i >= s2.a AND i <= s2.b)) = 0),
           i -> t.t[i]), ' '), '')
       ELSE '' END AS clean_text
FROM toks t LEFT JOIN agg a USING (doc_id)
""",
)
def occurrence_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of occurrence_dup_spans: every token inside a
    maximal duplicated span is removed from EVERY occurrence and the
    survivors re-join in order (operators.text.scrub_occurrence_spans) --
    the cut-all action for material that should not survive anywhere
    (looping boilerplate, template stutter).  Deliberate variant of
    `exact_substring_scrub` (keep-one-copy keeper election).  The oracle
    replays span detection AND the positional cut verbatim, so the hash
    pins the exact cleaned text of every document -- boundaries, interval
    merging and the conservation law (n_clean == n_tokens - n_dropped,
    unit-tested) agree across engines."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.scrub_occurrence_spans(docs, "text", min_tokens=8, min_count=2)



@register(
    "decontamination_spans",
    """
WITH bench AS (SELECT regexp_extract_all(text, '\\S+') AS t
               FROM documents WHERE doc_id % 37 = 0),
corp AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t
         FROM documents WHERE doc_id % 37 <> 0),
nw AS (SELECT DISTINCT md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS wh
       FROM (SELECT t, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i
             FROM bench)),
cw AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
              md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS wh
       FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i
             FROM corp)),
dup AS (SELECT c.doc_id, c.pos FROM cw c JOIN nw USING (wh)),
g AS (
  SELECT doc_id, pos,
         CASE WHEN pos - COALESCE(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos),
                                  CAST(-100 AS BIGINT)) > 8
              THEN 1 ELSE 0 END AS ng
  FROM dup
),
s AS (
  SELECT doc_id, pos,
         SUM(ng) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM g
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
       CAST(MAX(pos) + 7 - MIN(pos) + 1 AS BIGINT) AS span_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_windows
FROM s GROUP BY doc_id, grp
""",
)
def decontamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level eval DECONTAMINATION (operators.text.
    cross_duplicate_spans): maximal token spans of TRAINING documents
    whose every 8-token window also occurs in the benchmark slice
    (doc_id % 37 == 0 stands in for the eval set) -- the asymmetric
    ExactSubstr the GPT-3 / PaLM decontamination appendices describe.
    `contamination_check` reports WHETHER a doc overlaps the benchmark;
    this reports exactly WHICH maximal spans leaked, so the remedy can be
    a surgical cut.  The needle window set is distinct benchmark hashes
    (broadcast-sized); the corpus streams through one semi-join + the
    per-doc interval merge."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 37 == 0)
    corpus = docs.where(F.col("doc_id") % 37 != 0)
    return tx.cross_duplicate_spans(corpus, bench, min_tokens=8)



def _threshold_sweep_oracle(taus=(300_000, 500_000, 700_000)) -> str:
    """Scored 8-gram Jaccard pairs once (the jaccard_prefix_join brute
    force), then one recursive min-label CC + cluster-size rollup per
    threshold -- the oracle unions the per-threshold summary rows."""
    # pair scoring via the inverted index (join on shared shingle hashes,
    # GROUP BY pair), NOT all-pairs list_intersect: identical result (a
    # pair with zero shared shingles cannot pass any tau > 0) and ~40x
    # cheaper at sf0.1 (the first cut took 790 s in DuckDB)
    head = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents
  WHERE len(regexp_extract_all(text, '\S+')) >= 8
),
sh AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(array_to_string(list_slice(t, i, i + 7), ' ')), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, t, UNNEST(generate_series(1, len(t) - 7)) AS i FROM toks)
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
scored AS (
  SELECT id_a, id_b,
         (1000000 * inter) // (sa.sz + sb.sz - inter) AS jac_e6
  FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE 1000000 * inter >= 300000 * (sa.sz + sb.sz - inter)
)"""
    parts, selects = [], []
    for t in taus:
        parts.append(f""",
sym{t} AS (SELECT id_a AS src, id_b AS dst FROM scored WHERE jac_e6 >= {t}
           UNION ALL SELECT id_b, id_a FROM scored WHERE jac_e6 >= {t}),
n{t} AS (SELECT DISTINCT src AS nid FROM sym{t}),
cc{t} AS (SELECT nid, nid AS comp FROM n{t}
          UNION SELECT s.dst, cc{t}.comp FROM cc{t} JOIN sym{t} s ON s.src = cc{t}.nid),
lab{t} AS (SELECT nid, MIN(comp) AS comp FROM cc{t} GROUP BY nid),
sz{t} AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS csz FROM lab{t} GROUP BY comp),
row{t} AS (
  SELECT CAST({t} AS BIGINT) AS threshold_e6,
         CAST(COALESCE(SUM(csz), 0) AS BIGINT) AS n_dup_docs,
         CAST(COUNT(*) AS BIGINT) AS n_clusters,
         CAST(COALESCE(SUM(csz), 0) - COUNT(*) AS BIGINT) AS n_removable,
         CAST(COALESCE(MAX(csz), 0) AS BIGINT) AS max_cluster
  FROM sz{t})""")
        selects.append(f"SELECT * FROM row{t}")
    return head + "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)



@register("dedup_threshold_sweep", _threshold_sweep_oracle())
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup TUNING KNOB report: exact 8-gram Jaccard pairs scored
    ONCE (operators.dedup.jaccard_join at the loosest threshold), then
    connected components per candidate threshold {0.3, 0.5, 0.7} with the
    cluster-size rollup a threshold decision needs -- docs involved,
    cluster count, removable docs (n - clusters = what dedup deletes),
    and the largest cluster (the template-family blowup a too-loose
    threshold causes).  Production dedup picks tau by exactly this curve:
    removable-count stability vs max-cluster explosion.

    Scale shape: the expensive pair scoring runs once; each threshold
    re-filters the SCORED pair list (kilobytes per million docs).  The
    three CC runs are HIERARCHICAL (tight -> loose): components at a
    tighter tau provably refine the looser partition (edges(0.7) is a
    subset of edges(0.5)), so each looser level CONTRACTS the previous
    level's components to supernodes and runs CC on the contracted graph
    -- sized by cluster count, not documents, with the diameter already
    collapsed by the contraction.  Labels stay min-reachable-doc-id at
    every level (a supernode's label IS its component's min doc id), so
    the result is value-identical to three independent CC runs -- the
    oracle replays all three independently and hash-pins every summary
    number."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = (
        dd.jaccard_join(docs, n=8, tau_e6=300_000)
        .select("id_a", "id_b", "jac_e6")
        .localCheckpoint(eager=False)
    )
    rows = {}
    prev = None  # doc-level (doc_id, component) at the previous, TIGHTER tau
    for tau in (700_000, 500_000, 300_000):
        e = pairs.where(F.col("jac_e6") >= tau).select("id_a", "id_b")
        nodes = (
            e.select(F.col("id_a").alias("doc_id"))
            .unionByName(e.select(F.col("id_b").alias("doc_id")))
            .distinct()
        )
        if prev is None:
            comp = dd.connected_components(nodes, e, id_col="doc_id")
        else:
            # contract: endpoints map to their tighter-tau component (docs
            # new at this tau are their own supernode); within-supernode
            # edges vanish in the sa != sb filter
            la = prev.select(F.col("doc_id").alias("id_a"), F.col("component").alias("__ca"))
            lb = prev.select(F.col("doc_id").alias("id_b"), F.col("component").alias("__cb"))
            ce = (
                e.join(la, "id_a", "left")
                .join(lb, "id_b", "left")
                .select(
                    F.coalesce("__ca", F.col("id_a")).alias("id_a"),
                    F.coalesce("__cb", F.col("id_b")).alias("id_b"),
                )
                .where(F.col("id_a") != F.col("id_b"))
            )
            snodes = (
                ce.select(F.col("id_a").alias("doc_id"))
                .unionByName(ce.select(F.col("id_b").alias("doc_id")))
                .distinct()
            )
            scomp = dd.connected_components(snodes, ce, id_col="doc_id").select(
                F.col("doc_id").alias("__super"), F.col("component").alias("__scomp")
            )
            node_super = nodes.join(prev, "doc_id", "left").select(
                "doc_id", F.coalesce("component", F.col("doc_id")).alias("__super")
            )
            comp = node_super.join(scomp, "__super", "left").select(
                "doc_id", F.coalesce("__scomp", F.col("__super")).alias("component")
            )
        prev = comp.localCheckpoint(eager=False)
        csz = prev.groupBy("component").agg(F.count(F.lit(1)).alias("csz"))
        rows[tau] = csz.agg(
            F.coalesce(F.sum("csz"), F.lit(0)).cast("long").alias("n_dup_docs"),
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.coalesce(F.max("csz"), F.lit(0)).cast("long").alias("max_cluster"),
        ).select(
            F.lit(tau).cast("long").alias("threshold_e6"),
            "n_dup_docs",
            "n_clusters",
            (F.col("n_dup_docs") - F.col("n_clusters")).cast("long").alias("n_removable"),
            "max_cluster",
        )
    out = None
    for tau in (300_000, 500_000, 700_000):
        out = rows[tau] if out is None else out.unionByName(rows[tau])
    return out.select(
        "threshold_e6", "n_dup_docs", "n_clusters", "n_removable", "max_cluster"
    )



@register(
    "char_exact_spans",
    """
WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents),
win AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS wh
  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i
        FROM toks)
),
duph AS (SELECT wh FROM win GROUP BY wh HAVING COUNT(*) >= 2),
dup AS (SELECT w.doc_id, w.pos FROM win w JOIN duph USING (wh)),
g AS (
  SELECT doc_id, pos,
         CASE WHEN pos - COALESCE(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos),
                                  CAST(-100 AS BIGINT)) > 8
              THEN 1 ELSE 0 END AS ng
  FROM dup
),
s AS (
  SELECT doc_id, pos,
         SUM(ng) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM g
),
spans AS (
  SELECT doc_id, MIN(pos) AS ss, MAX(pos) + 7 AS se,
         MAX(pos) + 7 - MIN(pos) + 1 AS st
  FROM s GROUP BY doc_id, grp
),
sp AS (
  SELECT spans.doc_id, ss, se, st, t,
         md5(array_to_string(list_slice(t, CAST(ss AS INT), CAST(ss AS INT) + 7), ' ')) AS lwh,
         md5(array_to_string(list_slice(t, CAST(se AS INT) - 7, CAST(se AS INT)), ' ')) AS rwh
  FROM spans JOIN toks ON toks.doc_id = spans.doc_id
),
occ AS (
  SELECT wh, doc_id AS pid, pos AS ppos,
         row_number() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn
  FROM win WHERE wh IN (SELECT lwh FROM sp UNION SELECT rwh FROM sp)
),
piv AS (
  SELECT wh,
         MAX(CASE WHEN rn = 1 THEN pid END) AS p1,
         MAX(CASE WHEN rn = 1 THEN ppos END) AS q1,
         MAX(CASE WHEN rn = 2 THEN pid END) AS p2,
         MAX(CASE WHEN rn = 2 THEN ppos END) AS q2
  FROM occ WHERE rn <= 2 GROUP BY wh
),
pick AS (
  SELECT sp.doc_id, sp.ss, sp.se, sp.st, sp.t,
         CASE WHEN pl.p1 = sp.doc_id AND pl.q1 = sp.ss THEN pl.p2 ELSE pl.p1 END AS plid,
         CASE WHEN pl.p1 = sp.doc_id AND pl.q1 = sp.ss THEN pl.q2 ELSE pl.q1 END AS plpos,
         CASE WHEN pr.p1 = sp.doc_id AND pr.q1 = sp.se - 7 THEN pr.p2 ELSE pr.p1 END AS prid,
         CASE WHEN pr.p1 = sp.doc_id AND pr.q1 = sp.se - 7 THEN pr.q2 ELSE pr.q1 END AS prpos
  FROM sp JOIN piv pl ON pl.wh = sp.lwh JOIN piv pr ON pr.wh = sp.rwh
),
prep AS (
  SELECT p.doc_id, p.ss, p.se, p.st,
         CASE WHEN p.ss <= 1 THEN CAST(1 AS BIGINT)
              ELSE CAST(length(array_to_string(list_slice(p.t, 1, CAST(p.ss AS INT) - 1), ' ')) + 2 AS BIGINT)
         END AS a0,
         CAST(length(array_to_string(list_slice(p.t, 1, CAST(p.se AS INT)), ' ')) AS BIGINT) AS a1,
         array_to_string(p.t, ' ') AS onorm,
         CASE WHEN p.plpos <= 1 THEN CAST(1 AS BIGINT)
              ELSE CAST(length(array_to_string(list_slice(tl.t, 1, CAST(p.plpos AS INT) - 1), ' ')) + 2 AS BIGINT)
         END AS b0,
         CAST(length(array_to_string(list_slice(tr.t, 1, CAST(p.prpos AS INT) + 7), ' ')) AS BIGINT) AS b1,
         array_to_string(tl.t, ' ') AS plnorm,
         array_to_string(tr.t, ' ') AS prnorm
  FROM pick p
  JOIN toks tl ON tl.doc_id = p.plid
  JOIN toks tr ON tr.doc_id = p.prid
),
strs AS (
  SELECT doc_id, ss, se, st, a0, a1,
         substr(reverse(substr(onorm, 1, CAST(a0 AS INT) - 1)), 1, 64) AS la,
         substr(reverse(substr(plnorm, 1, CAST(b0 AS INT) - 1)), 1, 64) AS lb,
         substr(onorm, CAST(a1 AS INT) + 1, 64) AS ra,
         substr(prnorm, CAST(b1 AS INT) + 1, 64) AS rb
  FROM prep
),
ext AS (
  SELECT doc_id, ss, se, st, a0, a1,
    CAST(CASE WHEN least(length(la), length(lb)) = 0 THEN 0
         ELSE coalesce(list_position(list_transform(range(1, least(length(la), length(lb)) + 1),
              i -> substr(la, CAST(i AS INT), 1) = substr(lb, CAST(i AS INT), 1)), false),
              least(length(la), length(lb)) + 1) - 1 END AS BIGINT) AS ext_left,
    CAST(CASE WHEN least(length(ra), length(rb)) = 0 THEN 0
         ELSE coalesce(list_position(list_transform(range(1, least(length(ra), length(rb)) + 1),
              i -> substr(ra, CAST(i AS INT), 1) = substr(rb, CAST(i AS INT), 1)), false),
              least(length(ra), length(rb)) + 1) - 1 END AS BIGINT) AS ext_right
  FROM strs
)
SELECT doc_id,
       CAST(ss AS BIGINT) AS span_start,
       CAST(se AS BIGINT) AS span_end,
       CAST(st AS BIGINT) AS span_tokens,
       a0 AS char_start,
       a1 AS char_end,
       ext_left,
       ext_right,
       a0 - ext_left AS char_exact_start,
       a1 + ext_right AS char_exact_end
FROM ext
""",
)
def char_exact_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-exact ExactSubstr bounds (operators.text.char_exact_spans,
    VERDICT r8 item 5): the token-granular occurrence spans extended to
    Lee et al. 2022's byte-exact boundaries by comparing the normalized
    texts of each span and a deterministic partner occurrence of its
    boundary windows, capped at 64 chars per side.  The DuckDB oracle
    replays span detection, the two-smallest-occurrence partner election
    (row_number over (doc, pos)), the char offsets, and the
    mismatch-scan LCP (list_position over a per-char equality list)
    value-for-value -- the hash pins every extension length and every
    character-exact boundary."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.char_exact_spans(docs, "text", min_tokens=8, min_count=2, max_ext=64)



@register(
    "scrub_char_exact",
    """
WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents),
win AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS wh
  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i
        FROM toks)
),
duph AS (SELECT wh FROM win GROUP BY wh HAVING COUNT(*) >= 2),
dup AS (SELECT w.doc_id, w.pos FROM win w JOIN duph USING (wh)),
g AS (
  SELECT doc_id, pos,
         CASE WHEN pos - COALESCE(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos),
                                  CAST(-100 AS BIGINT)) > 8
              THEN 1 ELSE 0 END AS ng
  FROM dup
),
s AS (
  SELECT doc_id, pos,
         SUM(ng) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM g
),
spans AS (
  SELECT doc_id, MIN(pos) AS ss, MAX(pos) + 7 AS se
  FROM s GROUP BY doc_id, grp
),
sp AS (
  SELECT spans.doc_id, ss, se, t,
         md5(array_to_string(list_slice(t, CAST(ss AS INT), CAST(ss AS INT) + 7), ' ')) AS lwh,
         md5(array_to_string(list_slice(t, CAST(se AS INT) - 7, CAST(se AS INT)), ' ')) AS rwh
  FROM spans JOIN toks ON toks.doc_id = spans.doc_id
),
occ AS (
  SELECT wh, doc_id AS pid, pos AS ppos,
         row_number() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn
  FROM win WHERE wh IN (SELECT lwh FROM sp UNION SELECT rwh FROM sp)
),
piv AS (
  SELECT wh,
         MAX(CASE WHEN rn = 1 THEN pid END) AS p1,
         MAX(CASE WHEN rn = 1 THEN ppos END) AS q1,
         MAX(CASE WHEN rn = 2 THEN pid END) AS p2,
         MAX(CASE WHEN rn = 2 THEN ppos END) AS q2
  FROM occ WHERE rn <= 2 GROUP BY wh
),
pick AS (
  SELECT sp.doc_id, sp.ss, sp.se, sp.t,
         CASE WHEN pl.p1 = sp.doc_id AND pl.q1 = sp.ss THEN pl.p2 ELSE pl.p1 END AS plid,
         CASE WHEN pl.p1 = sp.doc_id AND pl.q1 = sp.ss THEN pl.q2 ELSE pl.q1 END AS plpos,
         CASE WHEN pr.p1 = sp.doc_id AND pr.q1 = sp.se - 7 THEN pr.p2 ELSE pr.p1 END AS prid,
         CASE WHEN pr.p1 = sp.doc_id AND pr.q1 = sp.se - 7 THEN pr.q2 ELSE pr.q1 END AS prpos
  FROM sp JOIN piv pl ON pl.wh = sp.lwh JOIN piv pr ON pr.wh = sp.rwh
),
prep AS (
  SELECT p.doc_id, p.ss, p.se,
         CASE WHEN p.ss <= 1 THEN CAST(1 AS BIGINT)
              ELSE CAST(length(array_to_string(list_slice(p.t, 1, CAST(p.ss AS INT) - 1), ' ')) + 2 AS BIGINT)
         END AS a0,
         CAST(length(array_to_string(list_slice(p.t, 1, CAST(p.se AS INT)), ' ')) AS BIGINT) AS a1,
         array_to_string(p.t, ' ') AS onorm,
         CASE WHEN p.plpos <= 1 THEN CAST(1 AS BIGINT)
              ELSE CAST(length(array_to_string(list_slice(tl.t, 1, CAST(p.plpos AS INT) - 1), ' ')) + 2 AS BIGINT)
         END AS b0,
         CAST(length(array_to_string(list_slice(tr.t, 1, CAST(p.prpos AS INT) + 7), ' ')) AS BIGINT) AS b1,
         array_to_string(tl.t, ' ') AS plnorm,
         array_to_string(tr.t, ' ') AS prnorm
  FROM pick p
  JOIN toks tl ON tl.doc_id = p.plid
  JOIN toks tr ON tr.doc_id = p.prid
),
strs AS (
  SELECT doc_id, a0, a1,
         substr(reverse(substr(onorm, 1, CAST(a0 AS INT) - 1)), 1, 64) AS la,
         substr(reverse(substr(plnorm, 1, CAST(b0 AS INT) - 1)), 1, 64) AS lb,
         substr(onorm, CAST(a1 AS INT) + 1, 64) AS ra,
         substr(prnorm, CAST(b1 AS INT) + 1, 64) AS rb
  FROM prep
),
rng AS (
  SELECT doc_id,
    a0 - CAST(CASE WHEN least(length(la), length(lb)) = 0 THEN 0
         ELSE coalesce(list_position(list_transform(range(1, least(length(la), length(lb)) + 1),
              i -> substr(la, CAST(i AS INT), 1) = substr(lb, CAST(i AS INT), 1)), false),
              least(length(la), length(lb)) + 1) - 1 END AS BIGINT) AS cs,
    a1 + CAST(CASE WHEN least(length(ra), length(rb)) = 0 THEN 0
         ELSE coalesce(list_position(list_transform(range(1, least(length(ra), length(rb)) + 1),
              i -> substr(ra, CAST(i AS INT), 1) = substr(rb, CAST(i AS INT), 1)), false),
              least(length(ra), length(rb)) + 1) - 1 END AS BIGINT) AS ce
  FROM strs
),
mg AS (
  SELECT doc_id, cs, ce,
         CASE WHEN cs > COALESCE(MAX(ce) OVER (PARTITION BY doc_id ORDER BY cs, ce
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), CAST(-1 AS BIGINT))
              THEN 1 ELSE 0 END AS ng
  FROM rng
),
mg2 AS (
  SELECT doc_id, cs, ce,
         SUM(ng) OVER (PARTITION BY doc_id ORDER BY cs, ce
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM mg
),
iv AS (SELECT doc_id, MIN(cs) AS cs, MAX(ce) AS ce FROM mg2 GROUP BY doc_id, grp),
ivl AS (
  SELECT doc_id, LIST(struct_pack(cs := cs, ce := ce)) AS ivs,
         CAST(SUM(ce - cs + 1) AS BIGINT) AS dropped
  FROM iv GROUP BY doc_id
),
norm AS (SELECT doc_id, COALESCE(array_to_string(t, ' '), '') AS nm FROM toks)
SELECT n.doc_id,
       CAST(length(n.nm) AS BIGINT) AS n_chars,
       CAST(COALESCE(l.dropped, 0) AS BIGINT) AS n_dropped_chars,
       CASE WHEN l.ivs IS NULL THEN n.nm ELSE
         COALESCE(array_to_string(list_transform(list_filter(generate_series(1, length(n.nm)),
           i -> len(list_filter(l.ivs, v -> i >= v.cs AND i <= v.ce)) = 0),
           i -> substr(n.nm, CAST(i AS INT), 1)), ''), '')
       END AS clean_text
FROM norm n LEFT JOIN ivl l USING (doc_id)
""",
)
def scrub_char_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of char_exact_spans (operators.text.
    scrub_char_exact): every character-exact duplicated range --
    including the sub-token fragments the boundary trim recovers -- is
    cut from the normalized text of every document, after a per-doc
    char-interval merge (extended ranges of adjacent spans can touch).
    Spark cuts with a single aggregate fold over the sorted intervals;
    the DuckDB oracle re-derives the same intervals and cuts per
    character -- different shapes, identical strings, so the hash pins
    every cleaned document and the conservation law
    len(clean) == n_chars - n_dropped holds across engines."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.scrub_char_exact(docs, "text", min_tokens=8, min_count=2, max_ext=64)



